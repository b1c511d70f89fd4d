package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import graft.fm.{FmTools, McpServer, Settings}

/** Drives the MCP server the way a client does and prints one JSON line:
  * `{"correct", "attempted", "failed", "metrics"}`. With `--trace 0` the
  * metrics are the end-to-end ones; with `--trace 1` the per-layer ones
  * (see README.md next to this build).
  *
  * Usage: `perfbench.Main --workload <name> --seed <n> --seconds <s>
  * --trace <0|1> --work <dir>`
  */
object Main {
  final case class Opts(workload: String, seed: Long, seconds: Double, trace: Boolean, work: Path)

  private def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Opts(need("workload"), need("seed").toLong, need("seconds").toDouble,
      need("trace") == "1", Paths.get(need("work")).toAbsolutePath)
  }

  /** Exits explicitly: Spark's non-daemon threads would otherwise keep a
    * failed run's JVM alive.
    */
  def main(args: Array[String]): Unit = {
    val code =
      try { println(run(parse(args))); 0 }
      catch { case e: Throwable => e.printStackTrace(); 1 }
    System.out.flush()
    System.exit(code)
  }

  private def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.sorted(java.util.Comparator.reverseOrder()).forEach(f => Files.delete(f))
    finally s.close()
  }

  /** Heap in use after full collections, repeated until two readings
    * agree within 1% (Spark frees unpersisted blocks and cleaned-up
    * state asynchronously).
    */
  private def heapAfterGc(): Long = {
    def used() = { System.gc(); ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed }
    var prev = used()
    var cur = prev
    var tries = 0
    do {
      Thread.sleep(100)
      prev = cur
      cur = used()
      tries += 1
    } while (tries < 10 && math.abs(cur - prev) > prev / 100)
    cur
  }

  private def gcMillis(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.toArray(Array.empty[java.lang.management.GarbageCollectorMXBean])
      .map(_.getCollectionTime).filter(_ >= 0).sum

  private def processCpuNanos(): Long =
    ManagementFactory.getOperatingSystemMXBean.asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** The highest whole percentile with at least ten samples above it;
    * None below forty samples.
    */
  def tail(xs: Seq[Double]): Option[(Int, Double)] =
    if (xs.length < 40) None
    else {
      val s = xs.sorted
      val p = math.floor(100.0 * (s.length - 10) / s.length).toInt
      Some(p -> s(math.min(s.length - 1, math.ceil(p / 100.0 * s.length).toInt - 1)))
    }

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) throw new IllegalStateException(s"metric value $v") else v.toString

  private def render(correct: Boolean, attempted: Int, failed: Int, metrics: Seq[(String, Double, String)]): String =
    metrics.map { case (n, v, u) => s""""$n": {"value": ${num(v)}, "unit": "$u"}""" }
      .mkString(s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": {""", ", ", "}}")

  private val born = System.nanoTime()
  private def phase(what: String): Unit =
    System.err.println(f"[perfbench] ${(System.nanoTime() - born) / 1e9}%7.2f s  $what")

  def run(o: Opts): String = {
    val corpus = o.work.resolve("corpus")
    val semCache = o.work.resolve("semantic-cache")
    Seq(corpus, semCache, o.work.resolve("probe")).foreach(deleteTree)
    val docs = Workloads.corpus(o.workload, o.seed)
    val wl = Workloads.build(o.workload, docs, o.seed)
    val model = new Model(docs)
    model.write(corpus)
    val heapBefore = heapAfterGc()
    phase("corpus written")

    // Set-up: session as McpServer.main builds it (master fixed), the
    // tool facade, the MCP handshake, semantic indexing where enabled,
    // and the first answered query.
    val t0 = System.nanoTime()
    val spark = SparkSession.builder()
      .master("local[4]")
      .appName("frontmatter-spark-mcp")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", o.work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", o.work.resolve("spark-warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val settings = Settings(corpus.toString, wl.semantic, Settings.DefaultEmbeddingModel, Some(semCache.toString))
    val tools = new FmTools(spark, settings)
    tools.startup()
    val server = new McpServer(tools)
    val tracer = if (o.trace) Some(new Tracer) else None
    val runner = new Runner(server, model, corpus, wl, tracer, spark.sparkContext)
    runner.rpc("initialize", Json.obj("protocolVersion" -> McpServer.ProtocolVersion,
      "capabilities" -> Map.empty[String, Any], "clientInfo" -> Map("name" -> "perfbench", "version" -> "1")))
    runner.notify("notifications/initialized")
    runner.rpc("tools/list", Json.obj())
    if (wl.semantic) {
      val (id, answer, _) = runner.callTool("index_wait", Json.obj("timeout" -> 170))
      val r = Checks.result(answer, id)
      if (!r.path("success").asBoolean(false) || r.path("state").asText != "ready")
        runner.mismatches += s"index_wait: $r"
    }
    runner.run(Workloads.count(wl.globs.head))
    val setupS = (System.nanoTime() - t0) / 1e9
    phase("set-up done")

    val counts = new SparkCounts
    if (o.trace) spark.sparkContext.addSparkListener(counts)

    wl.warmup.foreach(runner.run)
    phase("warm-up requests done")
    val selfTests = runner.selfTest()
    phase("warm-up done")

    // Timed phase: whole rounds of the mix, stopping at the round
    // boundary nearest to the requested duration.
    runner.recording = true
    val target = (o.seconds * 1e9).toLong
    val gc0 = gcMillis()
    val cpu0 = processCpuNanos()
    val w0 = System.nanoTime()
    var rounds = 0
    var elapsed = 0L
    while (rounds == 0 || elapsed + elapsed / rounds / 2 < target) {
      wl.cycle.foreach(runner.run)
      rounds += 1
      elapsed = System.nanoTime() - w0
    }
    val wallNanos = System.nanoTime() - w0 - runner.checkNanos
    val cpuNanos = processCpuNanos() - cpu0 - runner.checkCpuNanos
    val gcMs = gcMillis() - gc0
    runner.recording = false
    val retainedMb = (heapAfterGc() - heapBefore) / (1024.0 * 1024.0)
    phase("timed phase done")

    val s = runner.samples
    def ms(kind: String) = s.filter(_.kind == kind).map(_.nanos / 1e6).toSeq
    val n = s.length
    val endToEnd = Seq(
      ("setup_s", setupS, "s"),
      ("query_p50_ms", median(ms("query")), "ms"),
      ("fresh_query_p50_ms", median(ms("fresh")), "ms"),
      ("write_p50_ms", median(ms("write")), "ms"),
      ("inspect_p50_ms", median(ms("inspect")), "ms"),
      ("requests_per_s", n / (wallNanos / 1e9), "req/s"),
      ("cpu_ms_per_request", cpuNanos / 1e6 / n, "ms"),
      ("retained_heap_mb", retainedMb, "MiB"))

    val detail = mutable.LinkedHashMap[String, Any](
      "workload" -> o.workload, "seed" -> o.seed, "rounds" -> rounds, "requests" -> n,
      "timed_s" -> wallNanos / 1e9, "check_s" -> runner.checkNanos / 1e9,
      "checker_self_tests" -> selfTests)
    Seq("query", "fresh", "inspect", "write").foreach { k =>
      val xs = ms(k)
      detail(s"${k}_samples") = xs.length
      tail(xs).foreach { case (p, v) => detail(s"${k}_p$p") = v }
    }
    detail("fresh_ms") = ms("fresh").map(x => f"$x%.0f").mkString("[", ", ", "]")
    s.groupBy(x => s"${x.kind}:${x.label}").toSeq.sortBy(_._1).foreach { case (k, xs) =>
      detail(s"p50_ms[$k]") = median(xs.map(_.nanos / 1e6).toSeq)
    }
    System.err.println("[perfbench] detail " + detail.map { case (k, v) => s""""$k": ${v match {
      case x: String => "\"" + x + "\""; case x => x.toString }}""" }.mkString("{", ", ", "}"))

    val metrics = tracer match {
      case None => endToEnd
      case Some(t) =>
        System.err.println("[perfbench] traced end-to-end " +
          endToEnd.map { case (k, v, _) => s""""$k": $v""" }.mkString("{", ", ", "}"))
        val layers = new Probes(spark, tools, runner, model, corpus, o.work.resolve("probe"), wl, t)
          .run(counts, gcMs, s.toSeq)
        t.write(o.work.resolve(s"trace-${o.workload}-${o.seed}.jsonl"))
        t.selfTimes.foreach { case (name, c, total, self) =>
          System.err.println(f"[perfbench] span $name%-24s n=$c%6d total=$total%10.1f ms self=$self%10.1f ms")
        }
        layers
    }
    runner.mismatches.take(20).foreach(m => System.err.println(s"[perfbench] MISMATCH $m"))
    spark.stop()
    phase("stopped")
    render(runner.mismatches.isEmpty, runner.attempted, runner.failed, metrics)
  }
}
