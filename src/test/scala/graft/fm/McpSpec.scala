package graft.fm

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** Wire-format tests for the MCP stdio layer: JSON-RPC framing,
  * initialize handshake, tool listing (with conditional semantic
  * registration), and tool calls driven end-to-end through `handle` —
  * the reference's transport surface (`server.py:29,663-675`).
  */
class McpSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def mkServer(semantic: Boolean = false): (McpServer, java.nio.file.Path) = {
    val dir = Files.createTempDirectory("graft_mcp_spec")
    Files.write(dir.resolve("a.md"), "---\ntitle: A\ntags:\n- x\n---\nbody".getBytes)
    Files.write(dir.resolve("b.md"), "---\ntitle: B\n---\nmore".getBytes)
    val tools = new FmTools(spark, Settings(dir.toString, semantic, "m",
      Some(Files.createTempDirectory("graft_mcp_cache").toString)))
    (new McpServer(tools), dir)
  }

  private def rpc(server: McpServer, line: String): Map[String, Any] =
    Json.parse(server.handle(line).get).asInstanceOf[Map[String, Any]]

  test("initialize returns protocol version, capabilities, serverInfo") {
    val (server, _) = mkServer()
    val r = rpc(server,
      """{"jsonrpc":"2.0","id":1,"method":"initialize","params":{"protocolVersion":"2024-11-05","capabilities":{}}}""")
    assert(r("id") == 1)
    val result = r("result").asInstanceOf[Map[String, Any]]
    assert(result("protocolVersion") == "2024-11-05")
    assert(result("capabilities").asInstanceOf[Map[String, Any]].contains("tools"))
    assert(result("serverInfo").asInstanceOf[Map[String, Any]]("name") == "frontmatter-spark")
  }

  test("notifications get no response") {
    val (server, _) = mkServer()
    assert(server.handle("""{"jsonrpc":"2.0","method":"notifications/initialized"}""").isEmpty)
  }

  test("tools/list registers semantic tools conditionally (A24)") {
    val (off, _) = mkServer(semantic = false)
    val names = rpc(off, """{"jsonrpc":"2.0","id":2,"method":"tools/list"}""")("result")
      .asInstanceOf[Map[String, Any]]("tools").asInstanceOf[Seq[Map[String, Any]]]
      .map(_("name"))
    assert(names.contains("query") && names.contains("batch_array_sort"))
    assert(!names.exists(_.toString.startsWith("index_")))

    val (on, _) = mkServer(semantic = true)
    val onNames = rpc(on, """{"jsonrpc":"2.0","id":2,"method":"tools/list"}""")("result")
      .asInstanceOf[Map[String, Any]]("tools").asInstanceOf[Seq[Map[String, Any]]]
      .map(_("name"))
    assert(Seq("index_status", "index_wait", "index_refresh").forall(onNames.contains))
    // and calling a hidden tool on the disabled server is a params error
    val err = rpc(off,
      """{"jsonrpc":"2.0","id":3,"method":"tools/call","params":{"name":"index_status","arguments":{}}}""")
    assert(err("error").asInstanceOf[Map[String, Any]]("code") == McpServer.InvalidParams)
  }

  test("tools/call query returns the reference response shape as content") {
    val (server, _) = mkServer()
    val r = rpc(server,
      """{"jsonrpc":"2.0","id":4,"method":"tools/call","params":{"name":"query","arguments":{"glob":"**/*.md","sql":"SELECT path, title FROM files ORDER BY path"}}}""")
    val result = r("result").asInstanceOf[Map[String, Any]]
    assert(result("isError") == false)
    val text = result("content").asInstanceOf[Seq[Map[String, Any]]].head("text").toString
    val payload = Json.parse(text).asInstanceOf[Map[String, Any]]
    assert(payload("row_count") == 2)
    assert(payload("columns") == Seq("path", "title"))
    val structured = result("structuredContent").asInstanceOf[Map[String, Any]]
    assert(structured("row_count") == 2)
  }

  test("parse warnings go over the wire as {path, error} objects") {
    val (server, dir) = mkServer()
    Files.write(dir.resolve("bad.md"), "---\n{ not: valid: yaml: [\n---\n".getBytes)
    for ((tool, args) <- Seq(
        "query" -> """{"glob":"**/*.md","sql":"SELECT path FROM files"}""",
        "query_inspect" -> """{"glob":"**/*.md"}""")) {
      val r = rpc(server,
        s"""{"jsonrpc":"2.0","id":5,"method":"tools/call","params":{"name":"$tool","arguments":$args}}""")
      val result = r("result").asInstanceOf[Map[String, Any]]
      val text = result("content").asInstanceOf[Seq[Map[String, Any]]].head("text").toString
      for (payload <- Seq(Json.parse(text), result("structuredContent"))) {
        val ws = payload.asInstanceOf[Map[String, Any]]("warnings").asInstanceOf[Seq[Any]]
        assert(ws.length == 1, tool)
        val w = ws.head.asInstanceOf[Map[String, Any]]
        assert(w.keySet == Set("path", "error"), tool)
        assert(w("path") == "bad.md", tool)
        assert(w("error").toString.nonEmpty, tool)
      }
    }
  }

  test("tools/call query handles the statement surface: DESCRIBE and COPY TO") {
    val (server, dir) = mkServer()
    val d = rpc(server,
      """{"jsonrpc":"2.0","id":14,"method":"tools/call","params":{"name":"query","arguments":{"glob":"**/*.md","sql":"SELECT column_name, column_type FROM (DESCRIBE files) ORDER BY column_name"}}}""")
    val dres = d("result").asInstanceOf[Map[String, Any]]
    assert(dres("isError") == false)
    val dpay = Json.parse(dres("content").asInstanceOf[Seq[Map[String, Any]]]
      .head("text").toString).asInstanceOf[Map[String, Any]]
    assert(dpay("columns") == Seq("column_name", "column_type"))
    val names = dpay("results").asInstanceOf[Seq[Map[String, Any]]]
      .map(_("column_name"))
    assert(names.contains("path") && names.contains("title"))

    val c = rpc(server,
      """{"jsonrpc":"2.0","id":15,"method":"tools/call","params":{"name":"query","arguments":{"glob":"**/*.md","sql":"COPY (SELECT path FROM files) TO 'export.csv' (HEADER)"}}}""")
    val cres = c("result").asInstanceOf[Map[String, Any]]
    assert(cres("isError") == false)
    assert(Files.isRegularFile(dir.resolve("export.csv")))

    // a sandbox escape through the transport is a tool error, not a crash
    val esc = rpc(server,
      """{"jsonrpc":"2.0","id":16,"method":"tools/call","params":{"name":"query","arguments":{"glob":"**/*.md","sql":"COPY files TO '../esc.csv'"}}}""")
    assert(esc("result").asInstanceOf[Map[String, Any]]("isError") == true)
  }

  test("tools/call update mutates the file and a follow-up query sees it") {
    val (server, dir) = mkServer()
    val up = rpc(server,
      """{"jsonrpc":"2.0","id":5,"method":"tools/call","params":{"name":"update","arguments":{"path":"b.md","set":{"title":"B2","draft":true},"unset":[]}}}""")
    assert(up("result").asInstanceOf[Map[String, Any]]("isError") == false)
    assert(new String(Files.readAllBytes(dir.resolve("b.md"))).contains("title: B2"))
    val q = rpc(server,
      """{"jsonrpc":"2.0","id":6,"method":"tools/call","params":{"name":"query","arguments":{"glob":"**/*.md","sql":"SELECT title FROM files WHERE draft = true"}}}""")
    val text = q("result").asInstanceOf[Map[String, Any]]("content")
      .asInstanceOf[Seq[Map[String, Any]]].head("text").toString
    assert(Json.parse(text).asInstanceOf[Map[String, Any]]("row_count") == 1)
  }

  test("tool failures surface as isError content, not protocol errors") {
    val (server, _) = mkServer()
    val r = rpc(server,
      """{"jsonrpc":"2.0","id":7,"method":"tools/call","params":{"name":"query","arguments":{"glob":"**/*.md","sql":"SELECT nope FROM files"}}}""")
    val result = r("result").asInstanceOf[Map[String, Any]]
    assert(result("isError") == true)
  }

  test("protocol errors: parse error, unknown method, unknown tool, missing arg") {
    val (server, _) = mkServer()
    def code(m: Map[String, Any]) = m("error").asInstanceOf[Map[String, Any]]("code")
    assert(code(rpc(server, """{"jsonrpc": [}""")) == McpServer.ParseError)
    assert(code(rpc(server, """{"jsonrpc":"2.0","id":8,"method":"resources/list"}""")) ==
      McpServer.MethodNotFound)
    assert(code(rpc(server,
      """{"jsonrpc":"2.0","id":9,"method":"tools/call","params":{"name":"zap","arguments":{}}}""")) ==
      McpServer.InvalidParams)
    assert(code(rpc(server,
      """{"jsonrpc":"2.0","id":10,"method":"tools/call","params":{"name":"query","arguments":{"glob":"*.md"}}}""")) ==
      McpServer.InvalidParams)
  }

  test("cancellation: cancelled request gets no response, server keeps serving") {
    val (server, _) = mkServer()
    // client cancels id 21 before the request line arrives (the only
    // ordering possible on a synchronous stdio transport)
    assert(server.handle(
      """{"jsonrpc":"2.0","method":"notifications/cancelled","params":{"requestId":21,"reason":"user"}}""").isEmpty)
    // the cancelled request is dropped without a response...
    assert(server.handle(
      """{"jsonrpc":"2.0","id":21,"method":"tools/list"}""").isEmpty)
    // ...and the loop is not hung: the next request answers normally
    val pong = rpc(server, """{"jsonrpc":"2.0","id":22,"method":"ping"}""")
    assert(pong("id") == 22 && pong.contains("result"))
    // a cancellation for an already-completed id is ignored, and the id
    // is consumed: re-sending 21 now gets a normal response
    assert(server.handle(
      """{"jsonrpc":"2.0","method":"notifications/cancelled","params":{"requestId":22}}""").isEmpty)
    val again = rpc(server, """{"jsonrpc":"2.0","id":21,"method":"ping"}""")
    assert(again("id") == 21 && again.contains("result"))
  }

  test("strict-client long tail: logging/setLevel acknowledged, unknown notification ignored") {
    val (server, _) = mkServer()
    val r = rpc(server,
      """{"jsonrpc":"2.0","id":30,"method":"logging/setLevel","params":{"level":"debug"}}""")
    assert(r("id") == 30 && r.contains("result"))
    assert(server.handle(
      """{"jsonrpc":"2.0","method":"notifications/progress","params":{"progressToken":"t","progress":1}}""").isEmpty)
  }

  test("semantic flow over the wire: wait then query embeddings") {
    val (server, _) = mkServer(semantic = true)
    val refresh = rpc(server,
      """{"jsonrpc":"2.0","id":11,"method":"tools/call","params":{"name":"index_refresh","arguments":{}}}""")
    assert(refresh("result").asInstanceOf[Map[String, Any]]("isError") == false)
    val wait = rpc(server,
      """{"jsonrpc":"2.0","id":12,"method":"tools/call","params":{"name":"index_wait","arguments":{"timeout":60}}}""")
    val wres = wait("result").asInstanceOf[Map[String, Any]]("structuredContent")
      .asInstanceOf[Map[String, Any]]
    assert(wres("success") == true)
    val status = rpc(server,
      """{"jsonrpc":"2.0","id":13,"method":"tools/call","params":{"name":"index_status","arguments":{}}}""")
    assert(status("result").asInstanceOf[Map[String, Any]]("structuredContent")
      .asInstanceOf[Map[String, Any]]("state") == "ready")
  }
}
