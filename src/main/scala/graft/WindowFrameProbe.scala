package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Quantifies the one quadratic window shape the dialect rewrites
  * deliberately keep (r17 "left alone"; verdict r17 item 3): a
  * SUM/AVG-over-DOUBLE EXCLUDE suffix whose frame ends UNBOUNDED
  * FOLLOWING emits a direct `(1 FOLLOWING, UNBOUNDED FOLLOWING)`
  * window, which Spark's `UnboundedFollowingWindowFunctionFrame`
  * recomputes from scratch per row — O(rows²) per window partition.
  * The COUNT suffix folds to total−cumulative (exact); the DOUBLE sum
  * keeps the direct frame because recombining by subtraction (or
  * summing in reversed order) can move the last ulp off the bit
  * pattern the win_exclude fuzz family pinned against DuckDB.
  *
  * This probe measures the direct frame against the two O(rows)
  * alternatives (subtractive fold and inverted-order running sum) at
  * parametric partition widths, so the floor note carries numbers
  * instead of prose: per width it prints seconds for each spelling and
  * whether the alternatives' DOUBLE results are bit-identical to the
  * direct frame on that data (they usually are NOT — that divergence
  * is exactly why the quadratic spelling is kept).
  *
  * Usage: runMain graft.WindowFrameProbe [widths=5000,20000,80000] [partitions=8]
  */
object WindowFrameProbe {
  def main(args: Array[String]): Unit = {
    val widths = args.lift(0).getOrElse("5000,20000,80000")
      .split(',').map(_.trim.toInt).toSeq
    val nPart = args.lift(1).map(_.toInt).getOrElse(8)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.adaptive.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    for (w <- widths) {
      // nPart window partitions of `w` rows each; DOUBLE values with
      // full mantissas (hash-derived) so summation order matters the
      // way real data makes it matter.
      val df = spark.range(w.toLong * nPart)
        .select((col("id") % nPart).as("p"), col("id").as("k"),
          (hash(col("id")).cast("double") / 1e6).as("x"))
        .persist()
      df.count()
      val over = s"PARTITION BY p ORDER BY k"
      def timeIt(label: String, expr1: String): Double = {
        val q = df.selectExpr("p", "k", s"$expr1 AS s")
        val t0 = System.nanoTime()
        q.write.format("noop").mode("overwrite").save()
        val sec = (System.nanoTime() - t0) / 1e9
        println(f"[wfp] width=$w%d $label%-12s $sec%8.3f s")
        sec
      }
      // warm-up on the cheap spelling
      df.selectExpr("p",
        s"sum(x) OVER ($over ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS s")
        .write.format("noop").mode("overwrite").save()
      val direct = timeIt("direct-UF",
        s"sum(x) OVER ($over ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING)")
      timeIt("subtractive",
        s"(sum(x) OVER ($over ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) - " +
          s"sum(x) OVER ($over ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))")
      timeIt("inverted",
        s"sum(x) OVER (PARTITION BY p ORDER BY k DESC NULLS LAST " +
          "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)")
      // bit-parity of the alternatives against the direct frame
      def col2(e: String) = df.selectExpr("p", "k", s"$e AS s")
      val dir = col2(s"sum(x) OVER ($over ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING)")
      // (bit-pattern drift, NULL-vs-value) row counts: drift is two
      // non-NULL sums that differ in the last ulps (summation order);
      // NULL-vs-value is each partition's last row, where the direct
      // frame is empty (NULL) and the subtractive fold reads 0.0 — a
      // frame-emptiness difference, not drift.
      def mismatches(e: String): (Long, Long) = {
        val j = dir.as("a").join(col2(e).as("b"), Seq("p", "k"))
        val drift = j.filter("a.s IS NOT NULL AND b.s IS NOT NULL AND " +
          "CAST(a.s AS STRING) <> CAST(b.s AS STRING)").count()
        val nullVsValue = j.filter("(a.s IS NULL) <> (b.s IS NULL)").count()
        (drift, nullVsValue)
      }
      val (dSub, nSub) = mismatches(
        s"(sum(x) OVER ($over ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) - " +
          s"sum(x) OVER ($over ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))")
      val (dInv, nInv) = mismatches(
        s"sum(x) OVER (PARTITION BY p ORDER BY k DESC NULLS LAST " +
          "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)")
      println(s"[wfp] width=$w ulp-drift rows: subtractive=$dSub inverted=$dInv; " +
        s"NULL-vs-value rows: subtractive=$nSub inverted=$nInv of ${w.toLong * nPart}")
      val perRowNs = direct / (w.toLong * nPart) * 1e9
      println(f"[wfp] width=$w direct per-row cost $perRowNs%.0f ns (quadratic: ~width x add)")
      df.unpersist()
    }
    spark.stop()
  }
}
