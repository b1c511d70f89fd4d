package graft

import org.scalatest.funsuite.AnyFunSuite

/** Physical-plan regression guard: PLANS.md documents the shapes, this
  * spec PINS the ones that matter at 100 TB so they cannot silently
  * regress. Planning-only (no execution beyond what DataFrame
  * construction itself triggers — trained-structure queries run their
  * small training jobs), so the whole catalog checks in one pass.
  */
class PlanGuardSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val sf = "/root/testdata/sf0.001"

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, sf).queryExecution.executedPlan.toString

  test("no query in the catalog plans a CartesianProduct") {
    // A cartesian product (both sides shuffled, all pairs) is never the
    // right plan here; deliberate bounded products (broadcast query
    // vectors, eval splits) plan as BroadcastNestedLoopJoin instead and
    // stay allowed.
    SparkEntry.queries.keys.foreach { name =>
      val p = plan(name)
      withClue(s"$name:") { assert(!p.contains("CartesianProduct"), p.take(800)) }
    }
  }

  test("top-k queries plan as TakeOrderedAndProject, not a global sort") {
    // (q_cosine_topk is deliberately absent: its top-k happens in the
    // bounded graft_top_k aggregate per query id; the trailing sort runs
    // over the already-bounded result.)
    Seq("q_topk", "q_fm_topk", "q_rag_retrieve").foreach { q =>
      withClue(s"$q:") { assert(plan(q).contains("TakeOrderedAndProject")) }
    }
  }

  test("dimension joins broadcast (no SortMergeJoin where a broadcast fits)") {
    val multi = plan("q_join_multi")
    assert("BroadcastHashJoin".r.findAllIn(multi).size >= 4, multi.take(800))
    assert(!multi.contains("SortMergeJoin"), multi.take(800))
    assert(plan("q_join_broadcast").contains("BroadcastHashJoin"))
  }

  test("filters reach the scan (parquet PushedFilters / cached-relation filters)") {
    // Parquet-backed scan: predicates must reach the parquet reader.
    val pw = plan("q_filter_where")
    assert("PushedFilters: \\[[^\\]]".r.findFirstIn(pw).isDefined, pw.take(800))
    // The files view of a small corpus is a driver-local relation: the
    // filter is evaluated into the relation during optimization
    // (ConvertToLocalRelation), so no Filter is left above the scan.
    val pf = plan("q_fm_flagship")
    assert(pf.contains("LocalTableScan") && !pf.contains("Filter"), pf.take(800))
    // Above the local-relation gate the files view is a cached in-memory
    // relation; there the filter must reach the InMemoryTableScan
    // (partition-batch pruning), not sit in a separate post-scan Filter
    // only. Same statement as q_fm_flagship.
    val dir = java.nio.file.Files.createTempDirectory("graft_plan_guard")
    (0 to graft.fm.Corpus.LocalRows).foreach { i =>
      java.nio.file.Files.write(dir.resolve(f"n$i%05d.md"),
        f"---\ncreated: 2025-${i % 12 + 1}%02d-01\n---\n".getBytes("UTF-8"))
    }
    val engine = new graft.fm.QueryEngine(
      spark, graft.fm.Settings(dir.toString, enableSemantic = false, "", None))
    val pd = engine.query("**/*.md",
      """SELECT path, created FROM files
        |WHERE created >= '2025-06-01' ORDER BY created DESC, path""".stripMargin)
      .results.queryExecution.executedPlan.toString
    assert("InMemoryTableScan \\[[^\\]]+\\], \\[[^\\]]".r.findFirstIn(pd).isDefined,
      pd.take(800))
  }

  test("q_rag_retrieve stays shuffle-free up to the final top-k") {
    // chunk explode is narrow, embedding is a map, the query vector is a
    // plan constant: the ONLY exchange permitted is the single-partition
    // gather of per-partition top-5 candidates that TakeOrderedAndProject
    // plans (at most one Exchange node).
    val p = plan("q_rag_retrieve")
    assert("Exchange".r.findAllIn(p).size <= 1, p.take(1200))
    assert(!p.contains("Join"), p.take(1200))
  }

  test("q_seg_dedup stays map-only before the source aggregate") {
    // The cleanup is per-row higher-order functions; the only exchanges
    // allowed are the fixed-width source aggregate and the final sort.
    val p = plan("q_seg_dedup")
    assert("Exchange".r.findAllIn(p).size <= 2, p.take(1200))
    assert(!p.contains("Join") && !p.contains("Window"), p.take(1200))
  }

  test("q_theta_setops derives θ from a top-k, never a global sort") {
    val p = plan("q_theta_setops")
    assert(p.contains("TakeOrderedAndProject"), p.take(1200))
    assert(!p.contains("SortMergeJoin"), p.take(1200))
  }

  test("prefix-sum queries window by _pid, never a global-sort window") {
    // The DATA-sized cumulative window must be partitioned by the range
    // partition id (_pid) — an unpartitioned window over the corpus
    // would serialize it on one task at 100 TB. At spec SF the input is
    // one scan split, so PrefixSum's auto-scaling legitimately plans
    // parts=1 (no offsets join at all); the multi-partition offsets
    // shape is pinned separately below.
    Seq("q_train_shuffle", "q_token_budget_select").foreach { q =>
      val p = plan(q)
      withClue(s"$q:") {
        assert(p.contains("windowspecdefinition(_pid"), p.take(1500))
        assert(!p.contains("SortMergeJoin"), p.take(1200))
      }
    }
  }

  test("multi-partition prefix sum broadcasts the offsets (scale shape)") {
    // With partitions forced > 1, the partitions-sized offsets frame
    // must come back as a broadcast, not a shuffled join against the
    // data, and both cumulative directions must ride _pid-partitioned
    // windows.
    import org.apache.spark.sql.functions.col
    val df = Tables.load(spark, sf, "documents")
      .select(col("doc_id"), col("n_chars").cast("long").as("v"))
    val p = graft.ops.PrefixSum.runningBeforeAfter(df, "doc_id", "v", 4)
      .queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin"), p.take(1200))
    assert(!p.contains("SortMergeJoin"), p.take(1200))
    assert(p.contains("windowspecdefinition(_pid"), p.take(1500))
  }

  test("q_stream_enrich never shuffles the event stream for the join") {
    // Stream-static enrichment: both dimension joins must be broadcast;
    // any Exchange before the aggregate would repartition the stream.
    val p = plan("q_stream_enrich")
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 2, p.take(1200))
    assert(!p.contains("SortMergeJoin"), p.take(1200))
  }

  test("classifier scoring keeps the weights as codegen plan constants") {
    // The trained model rides the projection as literals — no extra
    // join, no UDF node in the scoring pass.
    val p = plan("q_quality_classifier")
    assert(!p.toLowerCase.contains("batchevalpython") &&
      !p.contains("ScalaUDF"), p.take(1200))
  }
}
