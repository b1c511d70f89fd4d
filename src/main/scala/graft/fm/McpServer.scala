package graft.fm

import java.io.{BufferedReader, InputStreamReader, PrintStream}
import java.nio.charset.StandardCharsets

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.yaml.snakeyaml.{LoaderOptions, Yaml}
import org.yaml.snakeyaml.constructor.SafeConstructor

/** Minimal JSON codec for the MCP wire format — no external deps.
  * Parsing rides on SnakeYAML exactly like JSON frontmatter does
  * ([[Frontmatter]]): JSON is a subset of YAML flow syntax, and JSON-RPC
  * string literals are always quoted, so YAML's bare-scalar coercions
  * never apply. Writing is a direct recursive serializer.
  */
private[fm] object Json {
  def parse(s: String): Any = {
    val yaml = new Yaml(new SafeConstructor(new LoaderOptions))
    fromJava(yaml.load[AnyRef](s))
  }

  private def fromJava(v: Any): Any = v match {
    case m: java.util.Map[_, _] =>
      m.asScala.map { case (k, x) => String.valueOf(k) -> fromJava(x) }.toMap
    case l: java.util.List[_] => l.asScala.map(fromJava).toSeq
    case other => other
  }

  def write(v: Any): String = {
    val sb = new StringBuilder
    write(v, sb)
    sb.toString
  }

  private def write(v: Any, sb: StringBuilder): Unit = v match {
    case null | None => sb ++= "null"
    case Some(x) => write(x, sb)
    case s: String => writeString(s, sb)
    case b: Boolean => sb ++= b.toString
    case i: Int => sb ++= i.toString
    case l: Long => sb ++= l.toString
    case i: java.math.BigInteger => sb ++= i.toString
    case d: Double =>
      if (d.isNaN || d.isInfinite) sb ++= "null" else sb ++= d.toString
    case f: Float => write(f.toDouble, sb)
    case w: ParseWarning => write(Map("path" -> w.path, "error" -> w.error), sb)
    case n: Number => sb ++= n.toString
    case m: collection.Map[_, _] =>
      sb += '{'
      var first = true
      m.foreach { case (k, x) =>
        if (!first) sb += ','
        first = false
        writeString(String.valueOf(k), sb)
        sb += ':'
        write(x, sb)
      }
      sb += '}'
    case it: Iterable[_] =>
      sb += '['
      var first = true
      it.foreach { x =>
        if (!first) sb += ','
        first = false
        write(x, sb)
      }
      sb += ']'
    case other => writeString(String.valueOf(other), sb)
  }

  private def writeString(s: String, sb: StringBuilder): Unit = {
    sb += '"'
    s.foreach {
      case '"' => sb ++= "\\\""
      case '\\' => sb ++= "\\\\"
      case '\n' => sb ++= "\\n"
      case '\r' => sb ++= "\\r"
      case '\t' => sb ++= "\\t"
      case c if c < ' ' => sb ++= f"\\u${c.toInt}%04x"
      case c => sb += c
    }
    sb += '"'
  }
}

/** MCP (Model Context Protocol) stdio transport over [[FmTools]] — the
  * reference is an MCP server (FastMCP stdio, `server.py:29,663-675`),
  * and this is the component a reference user would drive directly:
  * newline-delimited JSON-RPC 2.0 with `initialize`, `tools/list`, and
  * `tools/call` dispatching to the same tool surface, including the
  * conditional registration of the semantic tools (A24): `index_*` is
  * absent from `tools/list` and uncallable unless semantic is enabled.
  *
  * Tool results carry the reference's response dicts serialized as the
  * standard MCP text-content payload plus `structuredContent`; tool
  * execution failures return `isError: true` with the message as content
  * (the MCP tool-error convention), while protocol-level problems
  * (malformed JSON, unknown method/tool, bad params) use JSON-RPC errors.
  */
final class McpServer(tools: FmTools) {

  import McpServer._

  private val semantic = tools.settings.enableSemantic

  private def obj(kvs: (String, Any)*): Vector[(String, Any)] = kvs.toVector

  /** (name, description, input schema properties, required) — parameter
    * names and defaults mirror the reference tools (`server.py:87-661`).
    */
  private val toolDefs: Seq[ToolDef] = {
    val str = Map("type" -> "string")
    val base = Seq(
      ToolDef("query",
        "Query frontmatter with SQL. Reference the 'files' table; columns are frontmatter properties plus 'path'.",
        obj("glob" -> str, "sql" -> str), Seq("glob", "sql")),
      ToolDef("query_inspect",
        "Get frontmatter schema from files matching glob pattern.",
        obj("glob" -> str), Seq("glob")),
      ToolDef("update",
        "Update frontmatter properties in a single file.",
        obj("path" -> str, "set" -> Map("type" -> "object"),
          "unset" -> Map("type" -> "array")), Seq("path")),
      ToolDef("batch_update",
        "Update frontmatter properties in multiple files.",
        obj("glob" -> str, "set" -> Map("type" -> "object"),
          "unset" -> Map("type" -> "array")), Seq("glob")),
      ToolDef("batch_array_add",
        "Add a value to an array property in multiple files.",
        obj("glob" -> str, "property" -> str, "value" -> Map.empty,
          "allow_duplicates" -> Map("type" -> "boolean")),
        Seq("glob", "property", "value")),
      ToolDef("batch_array_remove",
        "Remove a value from an array property in multiple files.",
        obj("glob" -> str, "property" -> str, "value" -> Map.empty),
        Seq("glob", "property", "value")),
      ToolDef("batch_array_replace",
        "Replace a value in an array property in multiple files.",
        obj("glob" -> str, "property" -> str, "old_value" -> Map.empty,
          "new_value" -> Map.empty),
        Seq("glob", "property", "old_value", "new_value")),
      ToolDef("batch_array_sort",
        "Sort an array property in multiple files.",
        obj("glob" -> str, "property" -> str,
          "reverse" -> Map("type" -> "boolean")), Seq("glob", "property")),
      ToolDef("batch_array_unique",
        "Deduplicate an array property in multiple files.",
        obj("glob" -> str, "property" -> str), Seq("glob", "property")))
    val sem = Seq(
      ToolDef("index_status", "Get the semantic index state.", obj(), Nil),
      ToolDef("index_wait", "Wait for semantic indexing to finish.",
        obj("timeout" -> Map("type" -> "number")), Nil),
      ToolDef("index_refresh", "Re-scan files and refresh the semantic index.",
        obj(), Nil))
    if (semantic) base ++ sem else base
  }

  /** Handle one wire line. Returns the response line, or None for
    * notifications (which get no response per JSON-RPC 2.0).
    */
  def handle(line: String): Option[String] = {
    val parsed =
      try Right(Json.parse(line))
      catch { case e: Exception => Left(e.getMessage) }
    parsed match {
      case Left(_) =>
        Some(errorLine(null, ParseError, "parse error"))
      case Right(m: Map[String, Any] @unchecked) =>
        val id = m.get("id").orNull
        val method = m.get("method").map(String.valueOf).getOrElse("")
        val params = m.get("params") match {
          case Some(p: Map[String, Any] @unchecked) => p
          case _ => Map.empty[String, Any]
        }
        if (!m.contains("id")) { dispatchNotification(method, params); None }
        else if (consumeCancellation(id)) None // cancelled: no response (MCP cancellation)
        else Some(dispatch(id, method, params))
      case Right(_) =>
        Some(errorLine(null, InvalidRequest, "request must be an object"))
    }
  }

  /** Request ids the client has cancelled (`notifications/cancelled`).
    * This transport is synchronous — a request is fully handled before
    * the next line is read — so a cancellation can only refer to a
    * not-yet-received request (out-of-order client) or an already-
    * answered one. Per the MCP cancellation spec the server SHOULD NOT
    * respond to a cancelled request, so ids are remembered (bounded) and
    * the matching request, if it arrives later, is dropped without a
    * response; cancellations for completed requests are ignored. Either
    * way the serve loop keeps reading — no hang.
    */
  private val cancelled = new java.util.LinkedHashMap[String, java.lang.Boolean]() {
    override def removeEldestEntry(e: java.util.Map.Entry[String, java.lang.Boolean]): Boolean =
      size() > 128
  }

  private def consumeCancellation(id: Any): Boolean = cancelled.synchronized {
    cancelled.remove(String.valueOf(id)) != null
  }

  private def dispatchNotification(method: String, params: Map[String, Any]): Unit =
    method match {
      case "notifications/initialized" => // client handshake complete; nothing to do
      case "notifications/cancelled" =>
        params.get("requestId").foreach { rid =>
          cancelled.synchronized { cancelled.put(String.valueOf(rid), java.lang.Boolean.TRUE) }
        }
      case _ => // unknown notifications are ignored per spec
    }

  private def dispatch(id: Any, method: String, params: Map[String, Any]): String =
    method match {
      case "initialize" =>
        val requested = params.get("protocolVersion").map(String.valueOf)
          .getOrElse(ProtocolVersion)
        resultLine(id, Map(
          "protocolVersion" -> (if (SupportedVersions(requested)) requested else ProtocolVersion),
          "capabilities" -> Map("tools" -> Map.empty[String, Any]),
          "serverInfo" -> Map("name" -> "frontmatter-spark", "version" -> "0.1.0")))
      case "ping" =>
        resultLine(id, Map.empty[String, Any])
      case "logging/setLevel" =>
        // accepted for strict clients; this server logs to stderr only,
        // so the level is a no-op acknowledged with an empty result
        resultLine(id, Map.empty[String, Any])
      case "tools/list" =>
        resultLine(id, Map("tools" -> toolDefs.map(_.describe)))
      case "tools/call" =>
        val name = params.get("name").map(String.valueOf).getOrElse("")
        val args = params.get("arguments") match {
          case Some(a: Map[String, Any] @unchecked) => a
          case _ => Map.empty[String, Any]
        }
        if (!toolDefs.exists(_.name == name))
          errorLine(id, InvalidParams, s"unknown tool: $name")
        else callTool(id, name, args)
      case other =>
        errorLine(id, MethodNotFound, s"method not found: $other")
    }

  private def callTool(id: Any, name: String, a: Map[String, Any]): String = {
    def req(k: String): Any = a.getOrElse(k, throw new McpServer.MissingArg(k))
    def str(k: String): String = String.valueOf(req(k))
    def mapArg(k: String): Map[String, Any] = a.get(k) match {
      case Some(m: Map[String, Any] @unchecked) => m
      case _ => Map.empty
    }
    def seqArg(k: String): Seq[String] = a.get(k) match {
      case Some(s: Seq[_]) => s.map(String.valueOf)
      case _ => Nil
    }
    def boolArg(k: String, dflt: Boolean): Boolean = a.get(k) match {
      case Some(b: Boolean) => b
      case _ => dflt
    }
    try {
      val result: Map[String, Any] = name match {
        case "query" => tools.query(str("glob"), str("sql"))
        case "query_inspect" => tools.queryInspect(str("glob"))
        case "update" => tools.update(str("path"), mapArg("set"), seqArg("unset"))
        case "batch_update" => tools.batchUpdate(str("glob"), mapArg("set"), seqArg("unset"))
        case "batch_array_add" =>
          tools.batchArrayAdd(str("glob"), str("property"), req("value"),
            boolArg("allow_duplicates", dflt = false))
        case "batch_array_remove" =>
          tools.batchArrayRemove(str("glob"), str("property"), req("value"))
        case "batch_array_replace" =>
          tools.batchArrayReplace(str("glob"), str("property"), req("old_value"), req("new_value"))
        case "batch_array_sort" =>
          tools.batchArraySort(str("glob"), str("property"), boolArg("reverse", dflt = false))
        case "batch_array_unique" =>
          tools.batchArrayUnique(str("glob"), str("property"))
        case "index_status" => tools.indexStatus()
        case "index_wait" =>
          val seconds = a.get("timeout") match {
            case Some(n: Number) => n.doubleValue()
            case _ => 60.0
          }
          tools.indexWait((seconds * 1000).toLong)
        case "index_refresh" => tools.indexRefresh()
      }
      resultLine(id, Map(
        "content" -> Seq(Map("type" -> "text", "text" -> Json.write(result))),
        "structuredContent" -> result,
        "isError" -> false))
    } catch {
      // Only the dedicated missing-argument marker is a protocol error;
      // everything a tool itself throws (path sandbox violations, TOML
      // null rejection, SQL failures, ...) is a tool-level failure that
      // MCP reports as a successful RPC whose result is flagged isError,
      // so agents can read the message.
      case e: McpServer.MissingArg =>
        errorLine(id, InvalidParams, s"missing required argument: ${e.key}")
      case e: Exception =>
        resultLine(id, Map(
          "content" -> Seq(Map("type" -> "text",
            "text" -> s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage)}")),
          "isError" -> true))
    }
  }

  private def resultLine(id: Any, result: Any): String =
    Json.write(Map("jsonrpc" -> "2.0", "id" -> id, "result" -> result))

  private def errorLine(id: Any, code: Int, message: String): String =
    Json.write(Map("jsonrpc" -> "2.0", "id" -> id,
      "error" -> Map("code" -> code, "message" -> message)))

  /** Blocking serve loop: one JSON-RPC message per line on stdin, one
    * response per line on stdout (the MCP stdio framing).
    */
  def serve(in: java.io.InputStream, out: PrintStream): Unit = {
    val reader = new BufferedReader(new InputStreamReader(in, StandardCharsets.UTF_8))
    var line = reader.readLine()
    while (line != null) {
      if (line.trim.nonEmpty) handle(line).foreach { resp =>
        out.println(resp)
        out.flush()
      }
      line = reader.readLine()
    }
  }
}

object McpServer {
  val ProtocolVersion = "2025-03-26"
  val SupportedVersions: Set[String] = Set("2024-11-05", "2025-03-26")
  val ParseError = -32700
  val InvalidRequest = -32600
  val MethodNotFound = -32601
  val InvalidParams = -32602

  private[fm] final class MissingArg(val key: String)
    extends Exception(s"missing required argument: $key")

  private[fm] case class ToolDef(
      name: String,
      description: String,
      properties: Vector[(String, Any)],
      required: Seq[String]) {
    def describe: Map[String, Any] = Map(
      "name" -> name,
      "description" -> description,
      "inputSchema" -> Map(
        "type" -> "object",
        "properties" -> properties.toMap,
        "required" -> required))
  }

  /** Stdio entry point, mirroring the reference's `main()`
    * (`server.py:663-675`): settings from the same env vars, kick off
    * indexing at boot when semantic is enabled, then serve stdin.
    * Spark logs go to stderr; stdout carries only protocol lines.
    */
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder()
      .master(sys.env.getOrElse("SPARK_MASTER", "local[*]"))
      .appName("frontmatter-spark-mcp")
      .config("spark.sql.shuffle.partitions",
        sys.env.getOrElse("SPARK_GRAFT_SHUFFLE", "8"))
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val tools = new FmTools(spark, Settings.fromEnv())
    tools.startup()
    new McpServer(tools).serve(System.in, System.out)
    spark.stop()
  }
}
