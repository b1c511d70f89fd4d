package graft

import org.apache.spark.sql.SparkSession

/** Per-round benchmark main: one compact JSON line on stdout
  * `{"metric":"total","value":N,"unit":"sec","queries":{...},"sf":...}`
  * (failures + most-expensive queries, budgeted to fit the consumer's
  * 2 kB output tail), plus the exhaustive per-query record written to
  * `BENCH_FULL.json` (override with SPARK_GRAFT_BENCH_OUT). A
  * SPARK_GRAFT_ONLY subset is not a full record: unless
  * SPARK_GRAFT_BENCH_OUT names a file, it goes to
  * `graft_bench_only.json` in the JVM's temp directory.
  *
  * Methodology (VERDICT r1 item 8, r7 item 6): stable sorted query
  * order; a full warm-up pass first (absorbs session/codegen warm-up,
  * fixture-corpus builds and semantic indexing, and populates the
  * in-memory table cache); then each query is timed TWICE back-to-back
  * materializing through the noop sink (full compute, no driver
  * collect) and reports the MIN — the far tighter estimator of the
  * compute floor on a contended 32-thread box. The per-query spread
  * between the two runs and its median ("noise_floor_sec") are recorded
  * so readers can tell regressions from jitter. Failures never
  * disappear into timings: a failed query reports -1 and lands in
  * "errors".
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // Sub-second interactive queries at bench scale don't benefit from
      // runtime re-planning; AQE's per-stage materialization barriers cost
      // ~12% aggregate here. Cluster deployments re-enable it for skew
      // handling and partition coalescing (Verify runs with it on, so
      // correctness is covered under both configurations).
      .config("spark.sql.adaptive.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    SparkEntry.registerSessionFunctions(spark)

    // Shuffle partitions sized to the data, not the core count: with AQE
    // off, a shuffle stage otherwise schedules `cpus` tasks for kilobyte
    // partitions and task overhead dominates the sub-second long tail.
    // ~75k fact rows per partition, clamped to [4, 2*cpus]; scans still
    // parallelize across all cores via input splits. Override with
    // SPARK_GRAFT_SHUFFLE.
    val factRows = spark.read.parquet(s"$sfDir/lineitem.parquet").count()
    val shuffle = sys.env.get("SPARK_GRAFT_SHUFFLE").map(_.toInt).getOrElse(
      math.max(4, math.min(cpus.toInt * 2, (factRows / 75000L).toInt + 1)))
    spark.conf.set("spark.sql.shuffle.partitions", shuffle)

    // Dev-only filter for iterating on individual queries; the driver
    // never sets it, so per-round benches always run the full set.
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(',').toSet)
    val queries = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.contains(n)) }

    def materialize(name: String, fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): Option[String] =
      try { fn(spark, sfDir).write.format("noop").mode("overwrite").save(); None }
      catch { case e: Throwable => Some(s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(160)}") }

    // Warm-up: cache tables, then one untimed pass over every query.
    Tables.warm(spark, sfDir)
    val warmErrors = queries.flatMap { case (n, fn) => materialize(n, fn).map(n -> _) }.toMap

    // Timed passes: each query runs TWICE back-to-back and reports the
    // MIN — single-run numbers on a 32-thread box carry ±30% scheduler/
    // GC jitter on sub-second queries, which made r6→r7 per-query
    // deltas unreadable (VERDICT r7 item 6). The min of two runs is a
    // far tighter estimator of the compute floor, and the observed
    // spread between the two runs is reported as the per-query noise
    // so a reader can tell a regression from jitter.
    val timed = queries.map { case (name, fn) =>
      def once(): (Double, Option[String]) = {
        val t0 = System.nanoTime()
        val err = materialize(name, fn)
        ((System.nanoTime() - t0) / 1e9, err)
      }
      val (s1, e1) = once()
      val (s2, e2) = if (e1.isDefined) (s1, e1) else once()
      var err = e1.orElse(e2)
      var runs = List(s1, s2)
      // Third run when the first two disagree badly: iterative queries
      // (graph loops) can catch a full GC in one run, and a 2-sample min
      // then reads as a regression. Min-of-3 restores a readable floor
      // without 3x-ing the whole bench (only unstable queries pay).
      if (err.isEmpty && math.abs(s1 - s2) > math.max(0.4 * math.min(s1, s2), 0.3)) {
        val (s3, e3) = once()
        err = e3
        if (e3.isEmpty) runs = s3 :: runs
      }
      val sec = if (err.isDefined) -1.0 else runs.min
      val spread = if (err.isDefined) 0.0 else runs.max - runs.min
      (name, sec, err, spread, runs.length)
    }
    val thirdRuns = timed.count(_._5 > 2)

    // Isolation pass (VERDICT r10 item 3): the full-catalog numbers
    // charge shared-frame builds, eviction churn and GC to whichever
    // query happens to trigger them — r10's record charged 2.4 s to a
    // query that runs in 0.17 s alone. After the catalog pass, the
    // top-10 most expensive queries are re-timed back-to-back with
    // nothing else in flight and every shared frame already built: the
    // steady-state per-query cost. Both numbers are recorded; perf
    // triage reads `isolated` first and treats the catalog number as
    // the contended upper bound.
    // Ratio-based additions (VERDICT r11 item 3): besides the top-10 by
    // wall time, isolate every query whose FULL-record time exceeds 2x
    // its DUCKDB_BASELINE.json oracle time (oracle >= 0.1 s) — the
    // cheap-in-absolute-terms weak queries the top-10 cut misses, so
    // perf triage always has an isolated number to adjudicate on.
    val oracleTimes: Map[String, Double] =
      try {
        val txt = new String(java.nio.file.Files.readAllBytes(
          java.nio.file.Paths.get("DUCKDB_BASELINE.json")), "UTF-8")
        val m = """"(q[\w]*)"\s*:\s*([0-9.eE+-]+)""".r
        m.findAllMatchIn(txt).map(g => g.group(1) -> g.group(2).toDouble).toMap
      } catch { case _: Exception => Map.empty }
    val topTen = timed.filter(_._2 >= 0).sortBy(-_._2).take(10).map(_._1)
    val overRatio = timed.filter { case (n, v, _, _, _) =>
      v >= 0 && oracleTimes.get(n).exists(o => o >= 0.1 && v > 2.0 * o)
    }.map(_._1)
    val isoPass = (topTen ++ overRatio).distinct.map { n =>
      val fn = SparkEntry.queries(n)
      def once(): Double = {
        val t0 = System.nanoTime(); materialize(n, fn); (System.nanoTime() - t0) / 1e9
      }
      n -> math.min(once(), once())
    }

    // Weak-ratio accounting (verdict r16 item 2): compute the >2x rows
    // (best of full/isolated vs oracle >= 0.1 s — the brief's rule) here
    // in the record itself, SPLIT into strategy-variant rows (hot-key
    // insurance plans that will never beat the oracle at gate scale by
    // design — each names its preferred sibling in "strategy_variants")
    // and potential regressions, so a reader never mistakes design cost
    // for drift.
    val isoMap = isoPass.toMap
    val weakAll = timed.collect { case (n, v, None, _, _) if v >= 0 =>
      val best = math.min(v, isoMap.getOrElse(n, v))
      oracleTimes.get(n).collect {
        case o if o >= 0.1 && best > 2.0 * o => n -> best / o
      }
    }.flatten
    val (weakVariant, weakDrift) =
      weakAll.partition { case (n, _) => SparkEntry.strategyVariants.contains(n) }

    def jstr(s: String): String =
      "\"" + s.flatMap {
        case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
        case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
      } + "\""
    // Locale.ROOT: the f-interpolator honors the default locale, which
    // would emit comma decimal separators (invalid JSON) on e.g. de_DE.
    def fmt(v: Double): String =
      if (v < 0) "-1" else String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
    val total = timed.filter(_._2 >= 0).map(_._2).sum
    val nFailed = timed.count(_._2 < 0)
    val errsMap = warmErrors ++ timed.collect { case (k, _, Some(e), _, _) => k -> e }.toMap
    // Noise floor: median absolute spread between the two timed runs —
    // any per-query delta below ~this magnitude is scheduler jitter,
    // not a regression.
    val spreads = timed.filter(_._2 >= 0).map(_._4).sorted
    val noiseMed = if (spreads.isEmpty) 0.0 else spreads(spreads.length / 2)

    // Full per-query detail goes to a file: the stdout consumer retains
    // only the last ~2 kB of output, and with 100+ queries the exhaustive
    // JSON line no longer fits (rounds 1-3 and 6 recorded parsed:false
    // exactly this way). The file is the complete record; stdout carries
    // a compact line that always fits.
    val allQs = timed.map { case (k, v, _, _, _) => s"${jstr(k)}:${fmt(v)}" }.mkString("{", ",", "}")
    val allSpreads = timed.map { case (k, _, _, sp, _) => s"${jstr(k)}:${fmt(sp)}" }.mkString("{", ",", "}")
    val isoJson = isoPass.map { case (k, v) => s"${jstr(k)}:${fmt(v)}" }.mkString("{", ",", "}")
    val allErrs = errsMap.toSeq.sortBy(_._1)
      .map { case (k, e) => s"${jstr(k)}:${jstr(e)}" }.mkString("{", ",", "}")
    val variantsJson = SparkEntry.strategyVariants.toSeq.sortBy(_._1)
      .map { case (k, v) => s"${jstr(k)}:${jstr(v)}" }.mkString("{", ",", "}")
    def ratioJson(xs: Seq[(String, Double)]): String = xs.sortBy(-_._2)
      .map { case (k, r) => s"${jstr(k)}:${fmt(r)}" }.mkString("{", ",", "}")
    val fullJson =
      s"""{"metric":"total","value":${fmt(total)},"unit":"sec","queries":$allQs,"sf":${jstr(sfDir)},""" +
        s""""cpus":${cpus.toInt},"n_queries":${timed.length},"n_failed":$nFailed,"tables_cached":true,""" +
        s""""runs_per_query":2,"third_runs":$thirdRuns,"noise_floor_sec":${fmt(noiseMed)},""" +
        s""""strategy_variants":$variantsJson,""" +
        s""""weak_over_2x":${ratioJson(weakDrift)},""" +
        s""""weak_strategy_variants":${ratioJson(weakVariant)},""" +
        s""""isolated":$isoJson,"run_spread":$allSpreads,"errors":$allErrs}"""
    val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT",
      if (only.isEmpty) "BENCH_FULL.json"
      else java.nio.file.Paths.get(sys.props("java.io.tmpdir"), "graft_bench_only.json").toString)
    try java.nio.file.Files.write(java.nio.file.Paths.get(outPath), (fullJson + "\n").getBytes("UTF-8"))
    catch { case e: Throwable => System.err.println(s"bench: could not write $outPath: $e") }

    // Compact stdout line, budgeted to survive the 2000-char tail window
    // minus the build tool's ~100-char success epilogue. Failed queries
    // are listed first (they must never be invisible), then the most
    // expensive queries — the ones a perf reader actually compares —
    // until the budget is spent; the rest are counted in "queries_omitted"
    // and fully present in the file.
    val budget = 1780
    val errsCompact = {
      val shown = errsMap.toSeq.sortBy(_._1).take(2)
        .map { case (k, e) => s"${jstr(k)}:${jstr(e.take(80))}" }
      val more = errsMap.size - shown.size
      (shown ++ (if (more > 0) Seq(s""""_more":$more""") else Nil)).mkString("{", ",", "}")
    }
    val prefix =
      s"""{"metric":"total","value":${fmt(total)},"unit":"sec","sf":${jstr(sfDir)},""" +
        s""""n_queries":${timed.length},"n_failed":$nFailed,"tables_cached":true,""" +
        s""""runs_per_query":2,"third_runs":$thirdRuns,"noise_floor_sec":${fmt(noiseMed)},""" +
        s""""weak_over_2x":${weakDrift.size},"weak_strategy_variants":${weakVariant.size},""" +
        s""""isolated":$isoJson,""" +
        s""""full":${jstr(outPath)},"errors":$errsCompact,"queries":{"""
    val reserve = 40 // for the closing `},"queries_omitted":NNN}`
    var remaining = budget - prefix.length - reserve
    val ordered = timed.sortBy { case (_, v, _, _, _) => if (v < 0) Double.MinValue else -v }
    val shown = scala.collection.mutable.ArrayBuffer.empty[String]
    for ((k, v, _, _, _) <- ordered) {
      val entry = s"${jstr(k)}:${fmt(v)}"
      val need = entry.length + (if (shown.nonEmpty) 1 else 0)
      if (remaining >= need) { shown += entry; remaining -= need }
    }
    println(prefix + shown.mkString(",") + s"""},"queries_omitted":${timed.length - shown.size}}""")
    spark.stop()
    // A bench with crashing queries must not look like a clean run: round 8
    // recorded rc:0 with 11 analysis-time failures. Artifacts are already
    // written/printed above, so the nonzero exit only flags the round.
    if (nFailed > 0) sys.exit(1)
  }
}
