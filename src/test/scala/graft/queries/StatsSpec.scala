package graft.queries

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.{SparkEntry, TestSpark}

/** Behavior checks for the sketch/statistics operators beyond the DuckDB
  * hash gate: the HLL estimate is pinned to its accuracy envelope, the
  * Bloom filter to its one-sided-error contract, the bigram LM to an
  * independent driver-side recomputation, and the histogram quantiles to
  * the definition they claim (smallest bucket covering the percentile).
  */
class StatsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val sf = "/root/testdata/sf0.01"

  test("q_sketch_hll estimates stay inside the m=64 accuracy envelope") {
    val rows = SparkEntry.queries("q_sketch_hll")(spark, sf).collect()
    assert(rows.length == 5)
    rows.foreach { r =>
      val (exact, est) = (r.getLong(1), r.getDouble(2))
      assert(est > 0.0)
      // 1.04/sqrt(64) = 13% standard error; 3.5 sigma leaves headroom
      // for the raw estimator's small-range bias (no linear counting).
      val rel = math.abs(est - exact) / exact
      assert(rel < 0.45, s"${r.getString(0)}: exact=$exact est=$est rel=$rel")
    }
  }

  test("q_bloom_decontam honors the one-sided error contract") {
    val rows = SparkEntry.queries("q_bloom_decontam")(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (nGrams, nBloom, nExact, flagged) =
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getBoolean(4))
      assert(nBloom >= nExact, s"doc ${r.getLong(0)}: false negative")
      assert(nBloom <= nGrams)
      assert(flagged == (nBloom > 0))
    }
    // the filter must agree with exact decontamination on every true hit
    val exactHits = SparkEntry.queries("q_decontaminate")(spark, sf)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    rows.foreach { r =>
      assert(r.getLong(3) == exactHits.getOrElse(r.getLong(0), 0L),
        s"doc ${r.getLong(0)}: n_exact drifted from q_decontaminate")
    }
  }

  test("bloom decontam is robust to repeated gram hashes within a doc") {
    // A synthetic gram frame where doc 1's contaminated gram hash
    // appears TWICE (t=2): the per-gram test must still read positive
    // (n_set = n_tot, not n_set = BloomK), or a repeated contaminated
    // gram becomes a false negative and n_bloom >= n_exact breaks.
    import spark.implicits._
    val bench = Seq((100L, 0x123456789ABL)).toDF("doc_id", "h")
    val train = Seq(
      (1L, 0x123456789ABL), (1L, 0x123456789ABL), // repeated contaminated
      (2L, 0x0FEDCBA9876L)                        // clean, occurs once
    ).toDF("doc_id", "h")
    val out = graft.ops.Curation
      .bloomDecontamFromGrams(train, bench, "doc_id", bloomM = 4096, bloomK = 3)
      .orderBy("doc_id").collect()
    assert(out.length == 2)
    val d1 = out(0)
    assert(d1.getLong(0) == 1L && d1.getLong(1) == 1L) // 1 distinct gram
    assert(d1.getLong(2) == 1L, "repeated contaminated gram must stay bloom-positive")
    assert(d1.getLong(3) == 1L && d1.getBoolean(4))
    val d2 = out(1)
    assert(d2.getLong(3) == 0L, "clean doc has no exact hits")
    assert(d2.getLong(2) >= d2.getLong(3)) // one-sided contract
  }

  test("q_lm_bigram matches an independent driver-side recomputation") {
    val docs = graft.Tables.load(spark, sf, "documents")
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1).toLowerCase.split(" ").toSeq)
    val bigrams = docs.flatMap { case (id, w) =>
      w.sliding(2).filter(_.length == 2).map(p => (id, p.mkString(" ")))
    }
    val c12 = bigrams.groupBy(_._2).map { case (b, xs) => b -> xs.length }
    val c1 = bigrams.groupBy(_._2.split(" ")(0)).map { case (w1, xs) => w1 -> xs.length }
    val v = docs.flatMap(_._2).distinct.length
    def unats(b: String): Long = {
      val p = (c12(b) + 1).toDouble / (c1(b.split(" ")(0)) + v)
      math.round((-math.log(p)).toFloat.toDouble * 1000000)
    }
    val expected = bigrams.groupBy(_._1).map { case (id, xs) =>
      id -> xs.map(x => unats(x._2)).sum
    }
    val rows = SparkEntry.queries("q_lm_bigram")(spark, sf).collect()
    assert(rows.length == expected.size)
    rows.take(50).foreach { r =>
      assert(r.getLong(2) == expected(r.getLong(0)),
        s"doc ${r.getLong(0)} total_unats")
      assert(r.getFloat(3) > 1.0f)
    }
  }

  test("PageRank is uniform on a symmetric graph and conserves rank mass") {
    import spark.implicits._
    // 3-cycle both ways: perfectly symmetric, so every node must hold
    // exactly the same rank at every iteration.
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L), (2L, 1L), (3L, 2L), (1L, 3L))
      .toDF("src", "dst")
    val ranks = graft.ops.PageRank.run(edges, iterations = 4).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(ranks.size == 3)
    assert(ranks.values.toSet.size == 1, "symmetric graph must be uniform")
    val total = ranks.values.sum
    val sc = graft.ops.PageRank.Scale
    // floor divisions leak at most a few units per node per iteration
    assert(total <= sc && total > sc - 1000L, s"mass $total vs $sc")
    // a hub must outrank leaves: star graph, symmetrized
    val star = Seq((0L, 1L), (0L, 2L), (0L, 3L), (1L, 0L), (2L, 0L), (3L, 0L))
      .toDF("src", "dst")
    val sr = graft.ops.PageRank.run(star, iterations = 4).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sr(0L) > sr(1L), "hub must outrank a leaf")
    assert(sr(1L) == sr(2L) && sr(2L) == sr(3L), "leaves are symmetric")
  }

  test("PageRank on an empty edge frame returns an empty (node, pr) frame") {
    import spark.implicits._
    val ranks = graft.ops.PageRank.run(Seq.empty[(Long, Long)].toDF("src", "dst"), iterations = 3)
    assert(ranks.columns.toSeq == Seq("node", "pr"))
    assert(ranks.schema("node").dataType == org.apache.spark.sql.types.LongType)
    assert(ranks.schema("pr").dataType == org.apache.spark.sql.types.LongType)
    assert(ranks.collect().isEmpty)
  }

  test("q_session_funnel stage timestamps are strictly ordered") {
    val rows = SparkEntry.queries("q_session_funnel")(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val ts = (1 to 4).map(i => if (r.isNullAt(i)) None else Some(r.getLong(i)))
      // stages fill strictly left to right: no t_{i+1} without t_i
      ts.sliding(2).foreach {
        case Seq(a, b) => assert(!(a.isEmpty && b.isDefined), s"gap in ${r.getLong(0)}")
        case _ =>
      }
      val present = ts.flatten
      assert(present == present.sorted && present.distinct == present,
        s"user ${r.getLong(0)}: stage times not strictly increasing")
      assert(r.getInt(5) == present.length)
    }
    // independent recomputation for a sample of users from raw events
    val ev = graft.Tables.load(spark, sf, "events")
      .select(col("user_id"), col("event_type"), unix_micros(col("ts")).as("us"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    val byUser = ev.groupBy(_._1)
    rows.take(30).foreach { r =>
      val mine = byUser(r.getLong(0))
      var gate = Long.MinValue
      Seq("signup", "view", "click", "purchase").zipWithIndex.foreach {
        case (stage, i) =>
          val next = mine.filter(e => e._2 == stage && e._3 > gate)
            .map(_._3).minOption
          val got = if (r.isNullAt(i + 1)) None else Some(r.getLong(i + 1))
          assert(got == next, s"user ${r.getLong(0)} stage $stage")
          gate = next.getOrElse(Long.MaxValue)
      }
    }
  }

  test("q_text_pmi matches an independent PMI recomputation") {
    val docs = graft.Tables.load(spark, sf, "documents")
      .select("text").collect().map(_.getString(0).toLowerCase.split(" ").toSeq)
    val words = docs.flatten
    val bigrams = docs.flatMap(w => w.sliding(2).filter(_.length == 2).map(_.mkString(" ")))
    val wc = words.groupBy(identity).map { case (w, xs) => w -> xs.length }
    val bc = bigrams.groupBy(identity).map { case (b, xs) => b -> xs.length }
    val (n, nb) = (words.length.toDouble, bigrams.length.toDouble)
    def pmi(b: String): Long = {
      val Array(w1, w2) = b.split(" ")
      val r = (bc(b) / nb) / ((wc(w1) / n) * (wc(w2) / n))
      math.round(math.log(r).toFloat.toDouble * 1000000)
    }
    val rows = SparkEntry.queries("q_text_pmi")(spark, sf).collect()
    assert(rows.length == 50)
    rows.foreach { r =>
      assert(r.getLong(1) >= 5, "count floor")
      assert(r.getLong(2) == pmi(r.getString(0)), s"pmi of '${r.getString(0)}'")
    }
    // the result really is the top-50: no excluded eligible pair beats
    // the published minimum
    val minPublished = rows.map(_.getLong(2)).min
    val published = rows.map(_.getString(0)).toSet
    val best = bc.collect { case (b, c) if c >= 5 && !published(b) => pmi(b) }
    assert(best.forall(_ <= minPublished))
  }

  test("q_cohort_retention: week zero is complete, retention bounded") {
    val rows = SparkEntry.queries("q_cohort_retention")(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (off, active, cohort, ret) =
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4))
      assert(active <= cohort && ret <= 1.0 && ret > 0.0)
      // the signup event itself makes every user active in week 0
      if (off == 0L) assert(active == cohort, s"cohort ${r.getLong(0)}")
    }
  }

  test("q_quantile_hist picks the smallest bucket covering each percentile") {
    val prices = graft.Tables.load(spark, sf, "lineitem")
      .select(col("l_returnflag"),
        expr("CAST(floor(CAST(l_extendedprice AS DOUBLE) / 100) AS BIGINT)").as("b"))
      .collect().map(r => (r.getString(0), r.getLong(1)))
      .groupBy(_._1).map { case (f, xs) => f -> xs.map(_._2).sorted }
    SparkEntry.queries("q_quantile_hist")(spark, sf).collect().foreach { r =>
      val (flag, q, bucket) = (r.getString(0), r.getInt(1), r.getLong(2))
      val bs = prices(flag)
      val covered = bs.count(_ <= bucket).toLong
      assert(covered * 100 >= q * bs.length.toLong, s"$flag p$q undercovers")
      val prevCovered = bs.count(_ <= bucket - 1).toLong
      assert(prevCovered * 100 < q * bs.length.toLong, s"$flag p$q not minimal")
      assert(r.getLong(3) == bucket * 100)
    }
  }

  test("q_text_entropy respects the information-theoretic bounds") {
    val rows = SparkEntry.queries("q_text_entropy")(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (n, nd, h) = (r.getLong(1), r.getLong(2), r.getDouble(3))
      assert(h >= 0.0, s"doc ${r.getLong(0)}: negative entropy $h")
      // H <= ln(n_distinct) (uniform maximizes); grid rounding epsilon.
      assert(h <= math.log(nd.toDouble) + 1e-5,
        s"doc ${r.getLong(0)}: H=$h exceeds ln($nd)")
      if (nd == 1) assert(h == 0.0)
      assert(nd <= n)
    }
    // Cross-check a handful against a plain recomputation from raw text.
    val docs = graft.Tables.load(spark, sf, "documents")
      .select("doc_id", "text").limit(10).collect()
    val byId = rows.map(r => r.getLong(0) -> r.getDouble(3)).toMap
    docs.foreach { d =>
      val counts = d.getString(1).toLowerCase.split(" ", -1)
        .groupBy(identity).map(_._2.length.toLong)
      val n = counts.sum
      def unats(c: Long) = math.round(c.toDouble * math.log(c.toDouble).toFloat.toDouble * 1e6)
      val exp = math.max(0L, unats(n) - counts.map(unats).sum) / n / 1e6
      assert(byId(d.getLong(0)) == exp, s"doc ${d.getLong(0)} entropy mismatch")
    }
  }

  test("q_text_zipf slopes are negative and fitted over full vocabularies") {
    val rows = SparkEntry.queries("q_text_zipf")(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      // fit depth = min(vocabulary, ZipfTop): small languages use all
      // their vocabulary, large ones are capped at the top ranks.
      assert(r.getLong(1) >= 2 && r.getLong(1) <= TextQueries.ZipfTop.toLong,
        s"lang ${r.getString(0)}: fit depth ${r.getLong(1)}")
      assert(r.getDouble(2) < 0.0,
        s"lang ${r.getString(0)}: slope must be negative (freq falls with rank)")
    }
  }
}
