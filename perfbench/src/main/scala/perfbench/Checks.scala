package perfbench

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}

/** A response that disagrees with the benchmark's model. */
final class Mismatch(msg: String) extends Exception(msg)

/** Independent checks of tool responses against the model. Responses
  * are read with Jackson, not with the program's own JSON codec.
  */
object Checks {
  val mapper = new ObjectMapper()

  private def fail(msg: String): Nothing = throw new Mismatch(msg)

  private def expect(ok: Boolean, msg: => String): Unit = if (!ok) fail(msg)

  /** The structured tool result of a JSON-RPC response line, after the
    * envelope checks: matching id, no error, and a text content that
    * carries the same result.
    */
  def result(line: String, id: Long): JsonNode = {
    val root = mapper.readTree(line)
    expect(root.path("id").asLong(-1) == id, s"response id ${root.path("id")} for request $id")
    if (root.has("error")) throw new ToolError(s"JSON-RPC error ${root.get("error")}")
    val res = root.path("result")
    if (res.path("isError").asBoolean(false)) throw new ToolError(s"tool error ${res.path("content")}")
    val sc = res.path("structuredContent")
    expect(sc.isObject, "no structuredContent")
    val text = res.path("content").path(0).path("text").asText("")
    expect(mapper.readTree(text) == sc, "text content differs from structuredContent")
    sc
  }

  private def rows(sc: JsonNode): Vector[JsonNode] = {
    val rs = sc.path("results")
    expect(rs.isArray, "no results array")
    val out = rs.elements().asScala.toVector
    expect(sc.path("row_count").asInt(-1) == out.length,
      s"row_count ${sc.path("row_count")} but ${out.length} rows")
    out
  }

  private def columns(sc: JsonNode): Vector[String] =
    sc.path("columns").elements().asScala.map(_.asText).toVector

  private def text(n: JsonNode): Option[String] =
    if (n == null || n.isNull || n.isMissingNode) None else Some(n.asText)

  private def cell(d: Doc, key: String): Option[String] =
    if (key == "path") Some(d.path) else d.meta.get(key).map(Value.cell)

  /** Parse warnings: exactly one per malformed file the generator wrote. */
  def warnings(sc: JsonNode, docs: Vector[Doc]): Unit = {
    val bad = docs.filterNot(_.parses).map(_.path)
    val ws = sc.path("warnings").elements().asScala.map(_.toString).toVector
    expect(ws.length == bad.length, s"${ws.length} parse warnings, ${bad.length} malformed files")
    bad.foreach(p => expect(ws.count(_.contains(p)) == 1, s"no single parse warning for $p"))
  }

  private def unionKeys(ok: Vector[Doc]): Vector[String] =
    ok.flatMap(_.meta.keys).distinct.sorted.filterNot(_ == "path")

  /** `SELECT *`: columns, row set and every value. */
  def selectAll(sc: JsonNode, docs: Vector[Doc]): Unit = {
    val ok = docs.filter(_.parses)
    val cols = "path" +: unionKeys(ok)
    expect(columns(sc) == cols, s"columns ${columns(sc)}, model $cols")
    val rs = rows(sc)
    expect(rs.length == ok.length, s"${rs.length} rows, model ${ok.length}")
    val byPath = ok.map(d => d.path -> d).toMap
    rs.foreach { r =>
      val d = byPath.getOrElse(r.path("path").asText, fail(s"unexpected row ${r.path("path")}"))
      cols.foreach { c =>
        expect(text(r.get(c)) == cell(d, c), s"${d.path}.$c = ${r.get(c)}, model ${cell(d, c)}")
      }
    }
    expect(rs.map(_.path("path").asText).distinct.length == rs.length, "duplicate rows")
    warnings(sc, docs)
  }

  /** A projection of every row: the row set and the projected values. */
  def projectAll(sc: JsonNode, docs: Vector[Doc], cols: Seq[String]): Unit = {
    val ok = docs.filter(_.parses)
    expect(columns(sc) == cols, s"columns ${columns(sc)}, expected $cols")
    val rs = rows(sc)
    expect(rs.length == ok.length, s"${rs.length} rows, model ${ok.length}")
    val byPath = ok.map(d => d.path -> d).toMap
    rs.foreach { r =>
      val d = byPath.getOrElse(r.path("path").asText, fail(s"unexpected row ${r.path("path")}"))
      cols.foreach { c =>
        expect(text(r.get(c)) == cell(d, c), s"${d.path}.$c = ${r.get(c)}, model ${cell(d, c)}")
      }
    }
    expect(rs.map(_.path("path").asText).distinct.length == rs.length, "duplicate rows")
  }

  /** `WHERE date >= cutoff ORDER BY date DESC LIMIT n`: ties at the limit
    * may pick any row, so the checks are order, filter, per-row values
    * and the multiset of dates.
    */
  def recent(sc: JsonNode, docs: Vector[Doc], cutoff: String, limit: Int): Unit = {
    val ok = docs.filter(_.parses)
    val eligible = ok.flatMap(d => cell(d, "date").filter(_ >= cutoff).map(_ => d))
    val want = eligible.map(d => cell(d, "date").get).sorted.reverse.take(limit)
    val rs = rows(sc)
    val byPath = ok.map(d => d.path -> d).toMap
    val got = rs.map { r =>
      val d = byPath.getOrElse(r.path("path").asText, fail(s"unexpected row ${r.path("path")}"))
      Seq("title", "date").foreach(c =>
        expect(text(r.get(c)) == cell(d, c), s"${d.path}.$c = ${r.get(c)}, model ${cell(d, c)}"))
      r.path("date").asText
    }
    expect(got == want, s"dates $got, model $want")
  }

  /** The tag histogram from the `UNNEST ... GROUP BY`: every count, the
    * order, and the total, which must equal the number of tag elements
    * in the model.
    */
  def tagCounts(sc: JsonNode, docs: Vector[Doc]): Unit = {
    val all = docs.filter(_.parses).flatMap(_.meta.get("tags").toVector).flatMap {
      case Strs(xs) => xs
      case other => fail(s"tags is not a list in the model: $other")
    }
    val want = all.groupBy(identity).map { case (t, xs) => (t, xs.length.toLong) }
      .toVector.sortBy { case (t, n) => (-n, t) }
    val got = rows(sc).map(r => (r.path("tag").asText, r.path("count").asLong(-1)))
    expect(got == want, s"tag counts $got, model $want")
    expect(got.map(_._2).sum == all.length.toLong,
      s"tag total ${got.map(_._2).sum}, model ${all.length} tag elements")
  }

  /** A single `COUNT(*)` row. */
  def count(sc: JsonNode, docs: Vector[Doc]): Unit = {
    val rs = rows(sc)
    val n = docs.count(_.parses)
    expect(rs.length == 1 && rs.head.path("n").asLong(-1) == n, s"count ${rs.map(_.path("n"))}, model $n")
  }

  /** `GROUP BY key ORDER BY key` counts over files having the key. */
  def groupCounts(sc: JsonNode, docs: Vector[Doc], key: String): Unit = {
    val want = docs.filter(_.parses).flatMap(d => cell(d, key)).groupBy(identity)
      .map { case (k, xs) => (k, xs.length.toLong) }.toVector.sortBy(_._1)
    val got = rows(sc).map(r => (r.path(key).asText, r.path("n").asLong(-1)))
    expect(got == want, s"$key counts $got, model $want")
  }

  /** Semantic top-k: scores in [-1, 1], sorted descending, the file
    * whose exact body is the query text first, and k rows.
    */
  def semanticTopK(sc: JsonNode, docs: Vector[Doc], target: String, k: Int): Unit = {
    val rs = rows(sc)
    val indexed = docs.count(d => d.parses && d.body.nonEmpty)
    expect(rs.length == math.min(k, indexed), s"${rs.length} rows, expected ${math.min(k, indexed)}")
    val scores = rs.map(_.path("score").asDouble(Double.NaN))
    scores.foreach(s => expect(s >= -1.0 - 1e-6 && s <= 1.0 + 1e-6, s"score $s outside [-1, 1]"))
    expect(scores.zip(scores.drop(1)).forall { case (a, b) => a >= b }, s"scores not descending: $scores")
    expect(rs.head.path("path").asText == target, s"top hit ${rs.head.path("path")}, expected $target")
    val paths = docs.map(_.path).toSet
    rs.foreach(r => expect(paths(r.path("path").asText), s"row ${r.path("path")} outside the glob"))
  }

  /** `query_inspect`: file count, property set, types, nullable flags
    * and first-seen examples, all computed from the model.
    */
  def inspect(sc: JsonNode, docs: Vector[Doc], embeddingDim: Option[Int]): Unit = {
    val ok = docs.filter(_.parses)
    expect(sc.path("file_count").asLong(-1) == ok.length, s"file_count ${sc.path("file_count")}, model ${ok.length}")
    val schema = sc.path("schema")
    val keys = "path" +: unionKeys(ok)
    val want = keys ++ embeddingDim.map(_ => "embedding")
    val got = schema.fieldNames().asScala.toVector
    expect(got.sorted == want.sorted, s"properties ${got.sorted}, model ${want.sorted}")
    keys.foreach { k =>
      val p = schema.path(k)
      val values = ok.flatMap(d => (if (k == "path") Some(Str(d.path)) else d.meta.get(k)).map(d.path -> _))
      val tpe = if (values.exists(_._2.isInstanceOf[Strs])) "array" else "string"
      val nullable = k != "path" && values.length < ok.length
      val examples = values.map(v => Value.cell(v._2)).distinct.take(5)
      expect(p.path("type").asText == tpe, s"$k type ${p.path("type")}, model $tpe")
      expect(p.path("nullable").asBoolean(!nullable) == nullable, s"$k nullable ${p.path("nullable")}, model $nullable")
      val ex = mapper.readTree(p.path("examples").asText("null"))
      val exs = if (ex.isArray) ex.elements().asScala.map(_.asText).toVector else Vector.empty
      expect(exs == examples, s"$k examples $exs, model $examples")
    }
    embeddingDim.foreach { dim =>
      val p = schema.path("embedding")
      expect(p.path("type").asText == s"FLOAT[$dim]" && !p.path("nullable").asBoolean(true),
        s"embedding row $p")
    }
    warnings(sc, docs)
  }

  /** A batch mutation's counts and file list. */
  def batch(sc: JsonNode, updated: Vector[String]): Unit = {
    expect(sc.path("updated_count").asInt(-1) == updated.length,
      s"updated_count ${sc.path("updated_count")}, model ${updated.length}")
    val files = sc.path("updated_files").elements().asScala.map(_.asText).toVector
    expect(files == updated, s"updated_files $files, model $updated")
    expect(!sc.has("warnings"), s"unexpected warnings ${sc.get("warnings")}")
  }

  /** A single-file `update`: the path and the resulting property set. */
  def single(sc: JsonNode, d: Doc): Unit = {
    expect(sc.path("path").asText == d.path, s"path ${sc.path("path")}, expected ${d.path}")
    val keys = sc.path("frontmatter").fieldNames().asScala.toVector.sorted
    expect(keys == d.meta.keys.toVector, s"frontmatter keys $keys, model ${d.meta.keys}")
  }
}
