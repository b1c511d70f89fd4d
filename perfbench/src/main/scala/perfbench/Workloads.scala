package perfbench

import java.nio.file.Path

import com.fasterxml.jackson.databind.JsonNode
import com.fasterxml.jackson.databind.node.{JsonNodeFactory, ObjectNode}

import graft.fm.Mutations

/** One client request of a workload's mix. */
sealed trait Req {
  def tool: String
  def label: String
  def args: ObjectNode
}

/** `query` or `query_inspect` on one glob, with the check of its answer
  * against the files of the model the glob matches.
  */
final case class Read(tool: String, label: String, glob: Glob, sql: String,
    check: (JsonNode, Vector[Doc]) => Unit) extends Req {
  def args: ObjectNode = {
    val a = Json.obj("glob" -> glob.pattern)
    if (sql != null) a.put("sql", sql)
    a
  }
}

/** A mutation tool call: its arguments, the files it may touch, the
  * benchmark's own application of it to one modelled file (None when the
  * program should leave the file alone), and the same call made directly
  * on the mutation layer.
  */
final case class Write(tool: String, label: String, args: ObjectNode, scope: Either[String, Glob],
    apply: Doc => Option[Doc], direct: Path => Unit) extends Req

object Json {
  private val f = JsonNodeFactory.instance

  def node(v: Any): JsonNode = v match {
    case s: String   => f.textNode(s)
    case b: Boolean  => f.booleanNode(b)
    case n: Int      => f.numberNode(n)
    case n: Long     => f.numberNode(n)
    case Str(s)      => f.textNode(s)
    case Bool(b)     => f.booleanNode(b)
    case Num(n)      => f.numberNode(n)
    case xs: Seq[_]  => val a = f.arrayNode(); xs.foreach(x => a.add(node(x))); a
    case m: Map[_, _] => val o = f.objectNode(); m.foreach { case (k, x) => o.set[JsonNode](k.toString, node(x)) }; o
    case n: JsonNode => n
  }

  def obj(kvs: (String, Any)*): ObjectNode = node(kvs.toMap).asInstanceOf[ObjectNode]
}

/** Mutation requests with their model semantics (the reference's
  * decision tables: set/unset, create-or-append, first occurrence for
  * remove and replace, skip when already sorted or already unique).
  */
object Writes {
  private def plain(v: Value): Any = v match {
    case Str(s) => s
    case Bool(b) => java.lang.Boolean.valueOf(b)
    case Num(n) => java.lang.Long.valueOf(n)
    case other => throw new IllegalArgumentException(s"write mixes set only scalars: $other")
  }

  private def meta(d: Doc): Doc =
    if (d.kind == Kind.Ok) d
    else throw new IllegalStateException(s"write mix targets ${d.path}, which has no valid frontmatter")

  private def list(d: Doc, prop: String): Option[Vector[String]] = meta(d).meta.get(prop).map {
    case Strs(xs) => xs
    case other => throw new IllegalStateException(s"${d.path}.$prop is not a list: $other")
  }

  private def withList(d: Doc, prop: String, xs: Vector[String]): Doc =
    d.copy(meta = d.meta.updated(prop, Strs(xs)))

  def update(path: String, set: Map[String, Value], unset: Seq[String]): Write = Write(
    "update", if (set.nonEmpty) "update_set" else "update_unset",
    Json.obj("path" -> path, "set" -> set, "unset" -> unset), Left(path),
    d => Some(d.copy(meta = meta(d).meta ++ set -- unset)),
    base => Mutations.update(base, path, set.map { case (k, v) => k -> plain(v) }, unset))

  def batchUpdate(g: Glob, set: Map[String, Value], unset: Seq[String]): Write = Write(
    "batch_update", if (set.nonEmpty) "batch_update_set" else "batch_update_unset",
    Json.obj("glob" -> g.pattern, "set" -> set, "unset" -> unset), Right(g),
    d => Some(d.copy(meta = meta(d).meta ++ set -- unset)),
    base => Mutations.batchUpdate(base, g.pattern, set.map { case (k, v) => k -> plain(v) }, unset))

  def arrayAdd(g: Glob, prop: String, value: String, allowDuplicates: Boolean): Write = Write(
    "batch_array_add", if (allowDuplicates) "array_add_duplicate" else "array_add",
    Json.obj("glob" -> g.pattern, "property" -> prop, "value" -> value, "allow_duplicates" -> allowDuplicates),
    Right(g),
    d => list(d, prop) match {
      case None => Some(withList(d, prop, Vector(value)))
      case Some(xs) if !allowDuplicates && xs.contains(value) => None
      case Some(xs) => Some(withList(d, prop, xs :+ value))
    },
    base => Mutations.batchArrayAdd(base, g.pattern, prop, value, allowDuplicates))

  def arrayRemove(g: Glob, prop: String, value: String): Write = Write(
    "batch_array_remove", "array_remove",
    Json.obj("glob" -> g.pattern, "property" -> prop, "value" -> value), Right(g),
    d => list(d, prop).filter(_.contains(value)).map(xs => withList(d, prop, xs.patch(xs.indexOf(value), Nil, 1))),
    base => Mutations.batchArrayRemove(base, g.pattern, prop, value))

  def arrayReplace(g: Glob, prop: String, from: String, to: String): Write = Write(
    "batch_array_replace", "array_replace",
    Json.obj("glob" -> g.pattern, "property" -> prop, "old_value" -> from, "new_value" -> to), Right(g),
    d => list(d, prop).filter(_.contains(from)).map(xs => withList(d, prop, xs.updated(xs.indexOf(from), to))),
    base => Mutations.batchArrayReplace(base, g.pattern, prop, from, to))

  def arraySort(g: Glob, prop: String, reverse: Boolean): Write = Write(
    "batch_array_sort", if (reverse) "array_sort_reverse" else "array_sort",
    Json.obj("glob" -> g.pattern, "property" -> prop, "reverse" -> reverse), Right(g),
    d => list(d, prop).filter(_.length > 1).flatMap { xs =>
      val sorted = if (reverse) xs.sorted.reverse else xs.sorted
      if (sorted == xs) None else Some(withList(d, prop, sorted))
    },
    base => Mutations.batchArraySort(base, g.pattern, prop, reverse))

  def arrayUnique(g: Glob, prop: String): Write = Write(
    "batch_array_unique", "array_unique",
    Json.obj("glob" -> g.pattern, "property" -> prop), Right(g),
    d => list(d, prop).filter(xs => xs.length > 1 && xs.distinct.length < xs.length)
      .map(xs => withList(d, prop, xs.distinct)),
    base => Mutations.batchArrayUnique(base, g.pattern, prop))
}

/** A workload: its corpus, its globs, and its request mix. `cycle` is
  * one round of the mix; every write in it is undone later in the same
  * round, so the corpus is back in its starting state after each round.
  * `warmup` is an untimed prefix of whole write/undo pairs.
  */
final case class Workload(
    name: String,
    semantic: Boolean,
    globs: Vector[Glob],
    warmup: Vector[Req],
    cycle: Vector[Req])

object Workloads {
  val Names: Vector[String] = Vector("notes_read", "notes_edit", "vault_large")

  val All: Glob = Glob("**/*.md", _ => true)

  /** The files directly inside one directory (a one-level glob). */
  def dir(d: String): Glob =
    Glob(s"$d/*.md", p => p.startsWith(d + "/") && p.indexOf('/', d.length + 1) < 0)

  val Cutoff = "2024-06-01"
  val EmbeddingDim = 64

  def selectAll(g: Glob): Read = Read("query", "select_all", g, "SELECT * FROM files", Checks.selectAll)

  def recent(g: Glob): Read = Read("query", "recent", g,
    s"SELECT path, title, date FROM files WHERE date >= '$Cutoff' ORDER BY date DESC LIMIT 50",
    (sc, docs) => Checks.recent(sc, docs, Cutoff, 50))

  def tagCounts(g: Glob): Read = Read("query", "tag_counts", g,
    """SELECT tag, COUNT(*) AS count FROM files, UNNEST(from_json(tags, '["VARCHAR"]')) AS t(tag) """ +
      "GROUP BY tag ORDER BY count DESC, tag",
    Checks.tagCounts)

  def count(g: Glob): Read = Read("query", "count", g, "SELECT COUNT(*) AS n FROM files", Checks.count)

  def inspect(g: Glob, dim: Option[Int]): Read =
    Read("query_inspect", "inspect", g, null, (sc, docs) => Checks.inspect(sc, docs, dim))

  def rows(g: Glob): Read = Read("query", "rows", g, "SELECT path, title, date FROM files",
    (sc, docs) => Checks.projectAll(sc, docs, Seq("path", "title", "date")))

  def categories(g: Glob): Read = Read("query", "categories", g,
    "SELECT category, COUNT(*) AS n FROM files WHERE category IS NOT NULL GROUP BY category ORDER BY category",
    (sc, docs) => Checks.groupCounts(sc, docs, "category"))

  def similar(g: Glob, target: Doc): Read = Read("query", "similar", g,
    s"SELECT path, array_cosine_similarity(embedding, embed('${target.body}')) AS score " +
      "FROM files WHERE embedding IS NOT NULL ORDER BY score DESC, path LIMIT 10",
    (sc, docs) => Checks.semanticTopK(sc, docs, target.path, 10))

  def corpus(name: String, seed: Long): Vector[Doc] = name match {
    case "vault_large" => Generate.vault(seed)
    case _ => Generate.notes(seed)
  }

  def build(name: String, docs: Vector[Doc], seed: Long): Workload = name match {
    case "notes_read" => notesRead(docs)
    case "notes_edit" => notesEdit(docs)
    case "vault_large" => vaultLarge(docs, seed)
    case other => throw new IllegalArgumentException(s"unknown workload '$other' (one of ${Names.mkString(", ")})")
  }

  /** Warm serving path: the reference's query shapes round-robin over
    * one glob. Each half of a round sets a property on eight files, then
    * reads every shape three times; the second half unsets it. So one
    * `query` in 15 re-parses, and one `query_inspect` in three
    * re-infers the schema. The warm-up re-parses four times before it
    * reads every shape, since the parse path is still getting faster
    * after the first few parses.
    */
  private def notesRead(docs: Vector[Doc]): Workload = {
    val files = docs.filter(d => d.kind == Kind.Ok && d.path.startsWith("d5/")).take(8).map(_.path)
    val reads = Vector(selectAll(All), recent(All), tagCounts(All), count(All), inspect(All, None))
    val set = files.map(f => Writes.update(f, Map("status" -> Str("bench")), Nil))
    val unset = files.map(f => Writes.update(f, Map.empty, Seq("status")))
    val half = reads ++ reads ++ reads
    val reparse = Vector.fill(2)((set :+ selectAll(All)) ++ (unset :+ selectAll(All))).flatten
    Workload("notes_read", semantic = false, Vector(All),
      reparse ++ (set ++ reads) ++ (unset ++ reads), (set ++ half) ++ (unset ++ half))
  }

  /** Write-heavy: all seven mutation tools, each step on two files or
    * on two one-directory globs of 100 files; every pair of writes is
    * followed by a read that must re-parse (alternately `query` and
    * `query_inspect`) and by a `COUNT(*)` that hits the cache.
    */
  private def notesEdit(docs: Vector[Doc]): Workload = {
    def common(d: String): String = docs.filter(x => x.path.startsWith(d + "/") && x.kind == Kind.Ok)
      .flatMap(_.meta.get("tags").toVector).flatMap { case Strs(xs) => xs; case _ => Nil }
      .groupBy(identity).toVector.map { case (t, xs) => (-xs.length, t) }.min._2
    val files = docs.filter(d => d.kind == Kind.Ok && d.path.startsWith("d1/")).take(2).map(_.path)
    def pair(f: String => Write, dirs: String*): Vector[Write] = dirs.toVector.map(f)
    val steps = Vector(
      files.map(f => Writes.update(f, Map("status" -> Str("bench")), Nil)),
      files.map(f => Writes.update(f, Map.empty, Seq("status"))),
      pair(d => Writes.batchUpdate(dir(d), Map("reviewed" -> Bool(true)), Nil), "d2", "d6"),
      pair(d => Writes.batchUpdate(dir(d), Map.empty, Seq("reviewed")), "d2", "d6"),
      pair(d => Writes.arrayAdd(dir(d), "tags", "benchtag", allowDuplicates = false), "d3", "d7"),
      pair(d => Writes.arrayAdd(dir(d), "tags", "benchtag", allowDuplicates = true), "d3", "d7"),
      pair(d => Writes.arrayUnique(dir(d), "tags"), "d3", "d7"),
      pair(d => Writes.arrayRemove(dir(d), "tags", "benchtag"), "d3", "d7"),
      pair(d => Writes.arrayReplace(dir(d), "tags", common(d), "benchswap"), "d4", "d8"),
      pair(d => Writes.arrayReplace(dir(d), "tags", "benchswap", common(d)), "d4", "d8"),
      pair(d => Writes.arraySort(dir(d), "tags", reverse = true), "d5", "d9"),
      pair(d => Writes.arraySort(dir(d), "tags", reverse = false), "d5", "d9"))
    val cycle = steps.zipWithIndex.flatMap { case (ws, i) =>
      ws ++ Vector(if (i % 2 == 0) selectAll(All) else inspect(All, None), count(All))
    }
    Workload("notes_edit", semantic = false, Vector(All), cycle.take(8), cycle)
  }

  /** Size-bound: 5k files, semantic search on, two globs whose cached
    * frames coexist, result-heavy projections. Each half of a round
    * updates eight files outside the sub-tree (so only the whole-tree
    * frame goes stale), then reads every shape on both globs, and the
    * whole-tree `query_inspect` twice more: of four inspects one
    * re-infers the schema, one is a cached sub-tree inspect and the
    * middle two are cached whole-tree inspects. The warm-up re-parses
    * the whole tree once and runs each shape on the sub-tree.
    */
  private def vaultLarge(docs: Vector[Doc], seed: Long): Workload = {
    val sub = Glob("p3/*/*/*.md", _.startsWith("p3/"))
    val globs = Vector(All, sub)
    val r = new scala.util.Random(seed)
    val ok = docs.filter(_.kind == Kind.Ok)
    val targets = r.shuffle(ok.filter(_.path.startsWith("p3/"))).take(3)
    val files = ok.filter(_.path.startsWith("p5/")).take(8).map(_.path)
    val dim = Some(EmbeddingDim)
    def shapes(t: Doc): Vector[Glob => Req] =
      Vector(count _, rows _, categories _, similar(_, t), recent _, inspect(_, dim))
    def reads(t: Doc): Vector[Req] =
      shapes(t).flatMap(f => globs.map(f)) ++ Vector.fill(2)(inspect(All, dim))
    val set = files.map(f => Writes.update(f, Map("pinned" -> Bool(true)), Nil))
    val unset = files.map(f => Writes.update(f, Map.empty, Seq("pinned")))
    Workload("vault_large", semantic = true, globs,
      set ++ (count(All) +: shapes(targets(2)).map(_(sub))) ++ unset,
      (set ++ reads(targets(0))) ++ (unset ++ reads(targets(1))))
  }
}
