package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Deterministic integer PageRank over an edge frame.
  *
  * Ranks live on a SCALE = 1e12 integer grid: per-edge contributions
  * are integer divisions (`pr DIV outdeg`), and the damping mix is
  * `(15 * base + 85 * contrib) DIV 100` — every quantity is
  * BIGINT-exact, so distributed summation order cannot change a single
  * rank and a fixed-iteration run is replayable bit-for-bit in SQL
  * (DuckDB `//` = Spark `DIV` on positive integers). The tiny mass
  * leak from floor division is deliberate and identical in both
  * engines.
  *
  * Scale shape: each iteration is one equi-join of the edge frame with
  * the current rank frame (both partitioned by the join key) plus a
  * hash aggregate on `dst` — the standard bulk-iteration shape. The
  * degree-annotated edge frame is persisted for the run and RELEASED
  * before returning (the returned ranks are materialized, so nothing
  * references it afterwards); rank frames are iteration-local. Lineage
  * is truncated with `localCheckpoint` every [[CheckpointInterval]]
  * rounds — a single-ref-per-round loop grows the plan only linearly,
  * but at 20+ iterations driver-side analysis of the accumulated tree
  * still climbs per round, so deep runs get periodic cuts (the same
  * release discipline as [[ConnectedComponents]]; use that operator's
  * reliable-checkpoint mode as the template if executor-loss survival
  * of a very deep run ever matters here).
  *
  * An empty edge frame yields an empty rank frame. Callers must feed an
  * edge set where EVERY node has at least one incoming edge (e.g. a symmetrized graph), otherwise in-degree-0
  * nodes drop out of the rank frame after one iteration.
  */
object PageRank {

  /** Rank grid: ranks sum to ~Scale (1.0 == 1e12). */
  val Scale = 1000000000000L

  /** Truncate lineage every this many iterations (and at the end). */
  val CheckpointInterval = 8

  /** Run `iterations` damped rank updates (d = 0.85) over `(src, dst)`
    * edges; returns `(node, pr)` with `pr` on the integer grid. The
    * returned frame is already materialized (checkpointed) — callers
    * pay only their own final transformations on top.
    */
  def run(edges: DataFrame, iterations: Int): DataFrame = {
    require(iterations >= 1, "need at least one iteration")
    val spark = edges.sparkSession
    val e = edges.select("src", "dst")
    val withDeg = e.join(
        e.groupBy("src").agg(count(lit(1)).as("outdeg")).hint("shuffle_hash"),
        Seq("src"))
      .persist()
    // Node count as a driver scalar, not a 1-row broadcast (r18): the
    // old `crossJoin(broadcast(count))` spliced a BroadcastNestedLoop
    // node + the distinct-count subtree into EVERY iteration of the
    // chained plan; one count job here costs the same distinct once and
    // removes them all. `Scale / n` on positive longs is bit-identical
    // to the SQL `DIV` the oracle replays.
    val nodes = e.select(col("src").as("node")).distinct().persist()
    val n = nodes.count()
    if (n == 0) {
      // An empty edge frame has no nodes to rank: an empty (node, pr).
      val schema = nodes.select(col("node"), lit(0L).as("pr")).schema
      withDeg.unpersist(blocking = false)
      nodes.unpersist(blocking = false)
      return spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    }
    val base = Scale / n
    var ranks = nodes.select(col("node"), lit(base).as("pr"))
    var prevCut: Option[org.apache.spark.rdd.RDD[org.apache.spark.sql.Row]] = None
    (1 to iterations).foreach { i =>
      // Build the hash table on the node-sized rank frame: a sort-merge
      // join would sort the (much larger) edge frame every iteration,
      // and at graph scale neither side broadcasts.
      ranks = withDeg
        .join(ranks.hint("shuffle_hash"), withDeg("src") === ranks("node"))
        .select(col("dst"), expr("pr DIV outdeg").as("c"))
        .groupBy("dst").agg(sum("c").as("contrib"))
        .select(col("dst").as("node"),
          expr(s"(15 * ${base}L + 85 * contrib) DIV 100").as("pr"))
      if (i % CheckpointInterval == 0 || i == iterations) {
        // Debug hook: the iteration chain materializes HERE, so the
        // catalog-level Explain only ever shows the checkpointed scan —
        // this prints the real per-cut physical plan (plan audits).
        if (sys.env.contains("SPARK_GRAFT_PR_EXPLAIN"))
          System.err.println(ranks.queryExecution.explainString(
            org.apache.spark.sql.execution.ExplainMode.fromString("formatted")))
        val rdd = ranks.rdd
        rdd.localCheckpoint()
        rdd.count() // materialize the cut eagerly
        prevCut.foreach(_.unpersist(blocking = false)) // superseded generation
        prevCut = Some(rdd)
        ranks = spark.createDataFrame(rdd, ranks.schema)
      }
    }
    // The final ranks are checkpointed above, so the degree frame is no
    // longer referenced — free its blocks instead of leaking one cached
    // copy per invocation (ADVICE r7).
    withDeg.unpersist(blocking = false)
    nodes.unpersist(blocking = false)
    ranks
  }
}
