package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.Path

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.JsonNode
import com.fasterxml.jackson.databind.node.{ArrayNode, ObjectNode}
import org.apache.spark.SparkContext

import graft.fm.McpServer

/** One answered request of the timed phase. `kind` is `query` (corpus
  * unchanged since the glob was last read), `fresh` (first query of the
  * glob after a write), `inspect` or `write`.
  */
final case class Sample(request: Long, kind: String, label: String, nanos: Long, bytes: Int)

/** The closed-loop client: one thread, the next request only after the
  * previous answer. Every request is one JSON-RPC line through
  * `McpServer.handle`; every answer is checked against the model
  * between requests, and that checking is kept out of the timed figures.
  */
final class Runner(server: McpServer, model: Model, root: Path, wl: Workload,
    tracer: Option[Tracer], sc: SparkContext) {

  private var nextId = 0L
  private val dirty = mutable.Set.empty[String]
  private val threads = ManagementFactory.getThreadMXBean

  val samples = ArrayBuffer.empty[Sample]
  val mismatches = ArrayBuffer.empty[String]
  var recording = false
  var attempted = 0
  var failed = 0
  var checkNanos = 0L
  var checkCpuNanos = 0L
  var rewritten = 0L
  var matched = 0L

  /** First answer of each read shape, kept for the checker self-test. */
  val kept = mutable.LinkedHashMap.empty[String, (Read, Long, String, Vector[Doc])]

  private def within[A](request: Long, name: String)(f: => A): A = tracer match {
    case Some(t) => t.span(name, request)(f)
    case None => f
  }

  private def line(id: Long, method: String, params: ObjectNode): String = {
    val req = Json.obj("jsonrpc" -> "2.0", "id" -> id, "method" -> method)
    req.set[JsonNode]("params", params)
    Checks.mapper.writeValueAsString(req)
  }

  /** Sends one request; returns its id, the answer line and the nanos
    * `McpServer.handle` took.
    */
  def rpc(method: String, params: ObjectNode): (Long, String, Long) = {
    nextId += 1
    val id = nextId
    val text = line(id, method, params)
    val tag = SparkCounts.TagPrefix + id
    if (tracer.isDefined) sc.addJobTag(tag)
    val t0 = System.nanoTime()
    val answer = try within(id, "mcp.handle")(server.handle(text)) finally {
      if (tracer.isDefined) sc.removeJobTag(tag)
    }
    val nanos = System.nanoTime() - t0
    (id, answer.getOrElse(throw new Mismatch(s"no answer to $method")), nanos)
  }

  def notify(method: String): Unit = {
    val req = Json.obj("jsonrpc" -> "2.0", "method" -> method)
    if (server.handle(Checks.mapper.writeValueAsString(req)).isDefined)
      mismatches += s"$method: a notification got an answer"
  }

  def callTool(tool: String, args: ObjectNode): (Long, String, Long) =
    rpc("tools/call", Json.obj("name" -> tool, "arguments" -> args))

  /** Runs the check outside the timed figures; a mismatch marks the run
    * incorrect, a tool error counts as a failed request.
    */
  private def checked(id: Long, label: String)(f: => Unit): Unit = within(id, "bench.check") {
    val t0 = System.nanoTime()
    val c0 = threads.getCurrentThreadCpuTime
    try f
    catch {
      case e: ToolError =>
        failed += 1
        if (mismatches.length < 20) System.err.println(s"[perfbench] $label failed: ${e.getMessage}")
      case e: Mismatch => mismatches += s"$label: ${e.getMessage}"
    } finally if (recording) {
      checkNanos += System.nanoTime() - t0
      checkCpuNanos += threads.getCurrentThreadCpuTime - c0
    }
  }

  def run(req: Req): Unit = {
    val id = nextId + 1
    within(id, "request")(req match {
      case r: Read => read(r)
      case w: Write => write(w)
    })
  }

  private def read(r: Read): Unit = {
    val fresh = dirty.remove(r.glob.pattern)
    val (id, answer, nanos) = callTool(r.tool, r.args)
    val kind = if (r.tool == "query_inspect") "inspect" else if (fresh) "fresh" else "query"
    record(id, kind, r.label, nanos, answer)
    checked(id, r.label) {
      val docs = model.matching(r.glob)
      r.check(Checks.result(answer, id), docs)
      if (!kept.contains(r.label)) kept.put(r.label, (r, id, answer, docs))
    }
  }

  private def write(w: Write): Unit = {
    val touched = w.scope match {
      case Left(p) => Vector(model(p))
      case Right(g) => model.matching(g)
    }
    val updated = touched.flatMap(w.apply(_))
    val (id, answer, nanos) = callTool(w.tool, w.args)
    record(id, "write", w.label, nanos, answer)
    checked(id, w.label) {
      val sc = Checks.result(answer, id)
      updated.foreach(model.put)
      if (w.tool == "update") Checks.single(sc, updated.head) else Checks.batch(sc, updated.map(_.path))
      touched.foreach(d => Disk.verify(root, model(d.path)))
      wl.globs.foreach(g => if (updated.exists(d => g.matches(d.path))) dirty += g.pattern)
      if (recording) { rewritten += updated.length; matched += touched.length }
    }
  }

  private def record(id: Long, kind: String, label: String, nanos: Long, answer: String): Unit =
    if (recording) {
      attempted += 1
      samples += Sample(id, kind, label, nanos, answer.length)
    }

  /** Feeds deliberately corrupted copies of kept answers to the checker;
    * each one must be rejected. Returns how many corruptions were tried.
    */
  def selfTest(): Int = {
    var tried = 0
    kept.valuesIterator.foreach { case (r, id, answer, docs) =>
      Corrupt.variants(answer).foreach { case (what, bad) =>
        tried += 1
        val rejected =
          try { r.check(Checks.result(bad, id), docs); false }
          catch { case _: Mismatch => true }
        if (!rejected) mismatches += s"self-test: the checker accepted a ${r.label} answer with $what"
      }
    }
    tried
  }
}

/** Raised for an answer that reports an error instead of a result. */
final class ToolError(msg: String) extends Exception(msg)

/** Corrupted variants of an answer whose envelope stays consistent (the
  * text content is rewritten to match), so only the model checks can
  * catch them.
  */
object Corrupt {
  private def rewrap(root: ObjectNode): String = {
    val res = root.get("result").asInstanceOf[ObjectNode]
    val sc = res.get("structuredContent")
    res.get("content").get(0).asInstanceOf[ObjectNode].put("text", Checks.mapper.writeValueAsString(sc))
    Checks.mapper.writeValueAsString(root)
  }

  private def variant(answer: String)(edit: ObjectNode => Boolean): Option[String] = {
    val root = Checks.mapper.readTree(answer).asInstanceOf[ObjectNode]
    val sc = root.get("result").get("structuredContent").asInstanceOf[ObjectNode]
    if (edit(sc)) Some(rewrap(root)) else None
  }

  private def firstValue(row: ObjectNode): Option[String] =
    row.fieldNames().asScala.find(f => row.get(f).isTextual || row.get(f).isNumber)

  def variants(answer: String): Vector[(String, String)] = Vector(
    "a dropped row" -> variant(answer) { sc =>
      sc.get("results") match {
        case rs: ArrayNode if rs.size > 0 =>
          rs.remove(rs.size - 1); sc.put("row_count", rs.size); true
        case _ => false
      }
    },
    "an altered value" -> variant(answer) { sc =>
      sc.get("results") match {
        case rs: ArrayNode if rs.size > 0 =>
          val row = rs.get(0).asInstanceOf[ObjectNode]
          firstValue(row).exists { f =>
            val v = row.get(f)
            if (v.isTextual) row.put(f, v.asText + "~") else row.put(f, v.asDouble + 1.0)
            true
          }
        case _ => false
      }
    },
    "a flipped nullable flag" -> variant(answer) { sc =>
      Option(sc.get("schema")).flatMap(s => s.fieldNames().asScala.find(_ != "embedding").map(s.get)).exists {
        case p: ObjectNode => p.put("nullable", !p.get("nullable").asBoolean); true
        case _ => false
      }
    },
    "a wrong file count" -> variant(answer) { sc =>
      sc.has("file_count") && { sc.put("file_count", sc.get("file_count").asLong + 1); true }
    }).collect { case (what, Some(bad)) => (what, bad) }
}
