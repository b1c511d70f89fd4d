package perfbench

import java.nio.file.Path

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.ListenerDrain
import org.apache.spark.sql.SparkSession

import graft.fm.{Corpus, Dialect, FileScan, FmTools, Frontmatter, SchemaInfer, Settings}
import graft.semantic.{EmbeddingCache, EmbeddingIndexer, Encoders}

/** The traced run's per-layer figures. Each one is measured from
  * outside the program: a span from the benchmark's own code around a
  * call into the layer's public functions, on the workload's own inputs
  * (its globs, SQL, files and writes), after the timed phase.
  */
final class Probes(spark: SparkSession, tools: FmTools, runner: Runner, model: Model,
    corpus: Path, scratch: Path, wl: Workload, t: Tracer) {

  private val Reps = 2
  private var probeId = 1000000000L

  /** Mean duration of a layer's spans. The probes cover every glob and
    * shape of the mix, whose costs differ, so a median would fall between
    * them; the mean is the cost per call over the mix.
    */
  private def meanMs(name: String): Double = {
    val spans = t.named(name)
    require(spans.nonEmpty, s"no $name spans")
    spans.map(_.nanos).sum / 1e6 / spans.length
  }

  def run(counts: SparkCounts, gcMs: Long, samples: Seq[Sample]): Seq[(String, Double, String)] = {
    ListenerDrain(spark.sparkContext)
    val reqs = samples.map(_.request)
    val n = reqs.length.toDouble
    def perRequest(field: Int) = counts.total(field, reqs) / n
    val sparkFigures = Seq(
      ("spark.jobs_per_request", perRequest(SparkCounts.Jobs), "count"),
      ("spark.stages_per_request", perRequest(SparkCounts.Stages), "count"),
      ("spark.tasks_per_request", perRequest(SparkCounts.Tasks), "count"),
      ("spark.task_run_ms_per_request", perRequest(SparkCounts.RunMs), "ms"),
      ("spark.task_cpu_ms_per_request", perRequest(SparkCounts.CpuNs) / 1e6, "ms"),
      ("spark.shuffle_bytes_per_request", perRequest(SparkCounts.ShuffleBytes), "bytes"),
      ("spark.gc_ms_per_request", perRequest(SparkCounts.GcMs), "ms"),
      ("jvm.gc_ms_per_request", gcMs / n, "ms"),
      ("mcp.response_bytes_per_request", samples.map(_.bytes.toDouble).sum / n, "bytes"),
      ("mutations.files_rewritten_per_matched",
        if (runner.matched == 0) 0.0 else runner.rewritten.toDouble / runner.matched, "ratio"))

    val reads = wl.cycle.collect { case r: Read => r }.distinctBy(r => (r.label, r.glob.pattern))
    val (codec, rows, listed) = readProbes(reads)
    parseProbes()
    frontmatterProbes()
    mutationProbes()
    val encodeUs = semanticProbes()

    sparkFigures ++ Seq(
      ("filescan.list_ms", meanMs("filescan.list"), "ms"),
      ("filescan.files_listed", listed, "count"),
      ("corpus.fingerprint_ms", meanMs("corpus.fingerprint"), "ms"),
      ("corpus.parse_ms", meanMs("corpus.parse"), "ms"),
      ("frontmatter.load_us_per_file", meanMs("frontmatter.load") * 1000 / fmDocs.length, "us"),
      ("frontmatter.dump_us_per_file", meanMs("frontmatter.dump") * 1000 / fmDocs.length, "us"),
      ("mutations.call_ms", meanMs("mutations.call"), "ms"),
      ("dialect.rewrite_ms", meanMs("dialect.rewrite"), "ms"),
      ("catalyst.analysis_ms", phaseMeanMs("analysis"), "ms"),
      ("catalyst.optimization_ms", phaseMeanMs("optimization"), "ms"),
      ("catalyst.planning_ms", phaseMeanMs("planning"), "ms"),
      ("collect.response_ms", meanMs("collect.response"), "ms"),
      ("collect.rows_per_query", rows, "count"),
      ("mcp.codec_ms", codec, "ms"),
      ("schemainfer.inspect_ms", meanMs("schemainfer.inspect"), "ms"),
      ("semantic.index_s", meanMs("semantic.index") / 1000, "s"),
      ("semantic.encode_us_per_doc", encodeUs, "us"),
      ("semantic.flush_ms", meanMs("semantic.flush"), "ms"))
  }

  private val phases = scala.collection.mutable.Map.empty[String, ArrayBuffer[Double]]

  /** Catalyst records phases in whole milliseconds. */
  private def phaseMeanMs(phase: String): Double = {
    val xs = phases.getOrElse(phase, ArrayBuffer(0.0))
    xs.sum / xs.length
  }

  private def probe[A](f: Long => A): A = {
    probeId += 1
    val id = probeId
    t.span("probe", id)(f(id))
  }

  /** Each read shape of the mix, `Reps` times: listing, fingerprint and
    * dialect rewrite on its glob and SQL, then the engine's query with its
    * collect. The codec figure is, per shape, the median of `Reps` whole
    * requests through `McpServer.handle` less the median of `Reps` tool
    * calls alone, taken alternately.
    */
  private def readProbes(reads: Seq[Read]): (Double, Double, Double) = {
    val codec = ArrayBuffer.empty[Double]
    val rows = ArrayBuffer.empty[Double]
    val listed = ArrayBuffer.empty[Double]
    val base = tools.settings.baseDir
    reads.foreach { r =>
      val handle = ArrayBuffer.empty[Double]
      val tool = ArrayBuffer.empty[Double]
      for (_ <- 0 until Reps) probe { id =>
        val pm = t.span("filescan.list", id)(FileScan.collectWithMtime(base, r.glob.pattern))
        listed += pm.length
        t.span("corpus.fingerprint", id)(Corpus.fingerprint(pm))
        val (rid, answer, handleNanos) = runner.callTool(r.tool, r.args)
        handle += handleNanos / 1e6
        try r.check(Checks.result(answer, rid), model.matching(r.glob))
        catch { case e: Mismatch => runner.mismatches += s"probe ${r.label}: ${e.getMessage}" }
        val t0 = System.nanoTime()
        t.span("fmtools.call", id) {
          if (r.tool == "query") tools.query(r.glob.pattern, r.sql) else tools.queryInspect(r.glob.pattern)
        }
        tool += (System.nanoTime() - t0) / 1e6
        if (r.tool == "query") {
          val cols = tools.engine.filesTable(r.glob.pattern)._1.columns.toSeq
          t.span("dialect.rewrite", id) {
            val stmts = Dialect.splitStatements(r.sql)
            Dialect.rewrite(Dialect.rewriteColumns(Dialect.expandMacros(stmts.last, Map.empty), cols))
          }
          val qr = t.span("engine.query", id)(tools.engine.query(r.glob.pattern, r.sql))
          val resp = t.span("collect.response", id)(qr.response())
          rows += resp("row_count").asInstanceOf[Int]
          qr.results.queryExecution.tracker.phases.foreach { case (phase, summary) =>
            phases.getOrElseUpdate(phase, ArrayBuffer.empty) += summary.durationMs.toDouble
          }
        }
      }
      codec += Main.median(handle.toSeq) - Main.median(tool.toSeq)
    }
    (codec.sum / codec.length, rows.sum / rows.length, listed.sum / listed.length)
  }

  /** Parse and union-of-keys build of every glob, materialised; then
    * schema inference over the parsed files.
    */
  private def parseProbes(): Unit = {
    val base = tools.settings.baseDir
    wl.globs.foreach { g =>
      val paths = FileScan.collect(base, g.pattern).map(_.toString)
      for (_ <- 0 until Reps) probe { id =>
        t.span("corpus.parse", id) {
          val parsed = Corpus.parse(spark, base.toString, paths)
          Corpus.filesDF(spark, parsed)._1.count()
        }
      }
      val parsed = Corpus.parse(spark, base.toString, paths).persist()
      parsed.count()
      for (_ <- 0 until Reps) probe { id =>
        t.span("schemainfer.inspect", id)(SchemaInfer.inspectFlat(spark, parsed).collect())
      }
      parsed.unpersist()
    }
  }

  private lazy val fmDocs = model.matching(Workloads.All).filter(_.parses).take(1000)

  /** YAML load of up to 1,000 files, and the dump of what was loaded. */
  private def frontmatterProbes(): Unit =
    for (_ <- 0 until Reps) probe { id =>
      val posts = t.span("frontmatter.load", id)(fmDocs.map(d => Frontmatter.load(corpus.resolve(d.path))))
      t.span("frontmatter.dump", id)(posts.map(Frontmatter.dumps))
    }

  /** The mix's writes, in order, called directly on the mutation layer;
    * the model follows along and the files are re-read afterwards.
    */
  private def mutationProbes(): Unit = {
    val base = tools.settings.baseDir
    val writes = wl.cycle.collect { case w: Write => w }
    for (_ <- 0 until Reps; w <- writes) probe { id =>
      val touched = w.scope match {
        case Left(p) => Vector(model(p))
        case Right(g) => model.matching(g)
      }
      t.span("mutations.call", id)(w.direct(base))
      touched.flatMap(w.apply(_)).foreach(model.put)
      try touched.foreach(d => Disk.verify(corpus, model(d.path)))
      catch { case e: Mismatch => runner.mismatches += s"probe ${w.label}: ${e.getMessage}" }
    }
  }

  /** Encoding of up to 1,000 bodies, a cold index of the whole corpus
    * into a scratch cache, and one more flush of that cache. Returns
    * microseconds per encoded body.
    */
  private def semanticProbes(): Double = {
    val encoder = Encoders.forModel(Settings.DefaultEmbeddingModel)
    val bodies = fmDocs.map(_.body)
    probe(id => t.span("semantic.encode", id)(bodies.foreach(encoder.encode)))
    val base = tools.settings.baseDir
    val cache = new EmbeddingCache(spark, scratch, Settings.DefaultEmbeddingModel, encoder.dim)
    val indexer = new EmbeddingIndexer(cache, encoder.encode,
      () => FileScan.collect(base, "**/*.md").map(base.resolve), base)
    probe { id =>
      t.span("semantic.index", id) {
        indexer.start()
        if (!indexer.await(170000)) runner.mismatches += "semantic index probe did not finish"
      }
    }
    if (cache.count != model.matching(Workloads.All).count(d => d.parses && d.body.nonEmpty))
      runner.mismatches += s"semantic index probe holds ${cache.count} embeddings"
    probe(id => t.span("semantic.flush", id)(cache.flush()))
    val spans = t.named("semantic.encode")
    spans.map(_.nanos).sum / 1e3 / bodies.length
  }
}
