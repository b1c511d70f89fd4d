package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.time.{LocalDate, ZoneOffset}

import scala.collection.immutable.TreeMap
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.yaml.snakeyaml.{LoaderOptions, Yaml}
import org.yaml.snakeyaml.constructor.SafeConstructor

/** A frontmatter value as the benchmark's own model holds it. */
sealed trait Value
final case class Str(s: String) extends Value
final case class Num(n: Long) extends Value
final case class Bool(b: Boolean) extends Value
final case class Day(d: LocalDate) extends Value
final case class Strs(xs: Vector[String]) extends Value

object Value {

  /** The `files` table cell the reference defines: Python `str()` for
    * scalars, `json.dumps` (", " separator) for lists.
    */
  def cell(v: Value): String = v match {
    case Str(s)   => s
    case Num(n)   => n.toString
    case Bool(b)  => if (b) "True" else "False"
    case Day(d)   => d.toString
    case Strs(xs) => xs.map(jsonString).mkString("[", ", ", "]")
  }

  def jsonString(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"'  => sb ++= "\\\""
      case '\\' => sb ++= "\\\\"
      case c if c < ' ' => sb ++= f"\\u${c.toInt}%04x"
      case c => sb += c
    }
    sb += '"'
    sb.toString
  }

  /** YAML text the generator writes (double-quoted strings are valid YAML). */
  def yaml(v: Value): String = v match {
    case Str(s)   => jsonString(s)
    case Num(n)   => n.toString
    case Bool(b)  => b.toString
    case Day(d)   => d.toString
    case Strs(xs) => xs.map(jsonString).mkString("[", ", ", "]")
  }

  /** A value SnakeYAML loaded, in the model's terms. */
  def fromYaml(x: Any): Value = x match {
    case s: String            => Str(s)
    case i: java.lang.Integer => Num(i.longValue)
    case l: java.lang.Long    => Num(l)
    case b: java.lang.Boolean => Bool(b)
    case d: java.util.Date    => Day(d.toInstant.atZone(ZoneOffset.UTC).toLocalDate)
    case l: java.util.List[_] => Strs(l.asScala.map(String.valueOf).toVector)
    case other =>
      throw new Mismatch(s"unexpected YAML value '$other' (${if (other == null) "null" else other.getClass.getName})")
  }
}

sealed trait Kind
object Kind {
  case object Ok extends Kind
  case object NoFrontmatter extends Kind
  case object Malformed extends Kind
}

/** One generated Markdown file. The on-disk layout of an `Ok` file is the
  * one the program's own YAML dump writes (fence, YAML, fence, blank
  * line, body), so the body is byte-identical before and after a write.
  */
final case class Doc(path: String, kind: Kind, meta: TreeMap[String, Value], body: String) {
  def parses: Boolean = kind != Kind.Malformed

  def text: String = kind match {
    case Kind.Ok =>
      meta.iterator.map { case (k, v) => s"$k: ${Value.yaml(v)}" }
        .mkString("---\n", "\n", "\n---\n\n") + body + "\n"
    case Kind.NoFrontmatter => body + "\n"
    case Kind.Malformed => s"---\ntitle: \"Broken\"\ntags: [unclosed, list\n---\n\n$body\n"
  }
}

/** A glob and the model's own rule for which paths it matches. */
final case class Glob(pattern: String, matches: String => Boolean)

/** The benchmark's model of the corpus: the generator's records, with
  * every write applied by the benchmark's own code.
  */
final class Model(initial: Seq[Doc]) {
  private val docs = mutable.TreeMap.empty[String, Doc] ++ initial.iterator.map(d => d.path -> d)

  def apply(path: String): Doc = docs(path)
  def put(d: Doc): Unit = docs.put(d.path, d)

  /** Files the glob matches, path-sorted (the program's record order). */
  def matching(g: Glob): Vector[Doc] = docs.valuesIterator.filter(d => g.matches(d.path)).toVector

  def write(root: Path): Unit = docs.valuesIterator.foreach { d =>
    val p = root.resolve(d.path)
    Files.createDirectories(p.getParent)
    Files.write(p, d.text.getBytes(UTF_8))
  }
}

/** Reads a file back with SnakeYAML directly, not through the program's
  * frontmatter layer, and compares it with the model.
  */
object Disk {
  private val fence = "\n---\n"

  def verify(root: Path, d: Doc): Unit = {
    val text = new String(Files.readAllBytes(root.resolve(d.path)), UTF_8)
    d.kind match {
      case Kind.Ok =>
        if (!text.startsWith("---\n")) throw new Mismatch(s"${d.path}: no opening fence")
        val end = text.indexOf(fence, 3)
        if (end < 0) throw new Mismatch(s"${d.path}: no closing fence")
        val yaml = new Yaml(new SafeConstructor(new LoaderOptions))
        val loaded = yaml.load[AnyRef](text.substring(4, end + 1)) match {
          case m: java.util.Map[_, _] =>
            TreeMap(m.asScala.toSeq.map { case (k, v) => String.valueOf(k) -> Value.fromYaml(v) }: _*)
          case null => TreeMap.empty[String, Value]
          case other => throw new Mismatch(s"${d.path}: frontmatter is not a mapping: $other")
        }
        if (loaded != d.meta)
          throw new Mismatch(s"${d.path}: frontmatter on disk $loaded, model ${d.meta}")
        val body = text.substring(end + fence.length)
        if (body != "\n" + d.body + "\n")
          throw new Mismatch(s"${d.path}: body changed on disk")
      case _ =>
        if (text != d.text) throw new Mismatch(s"${d.path}: file changed on disk")
    }
  }
}

/** Seeded corpus generator. Strings avoid YAML's implicit types, tags
  * are written sorted (so sort-then-resort restores a file), and every
  * body carries a token unique to its file.
  */
object Generate {
  val Words: Vector[String] = Vector(
    "river", "stone", "cloud", "maple", "ember", "harbor", "lantern", "meadow",
    "orbit", "pepper", "quartz", "saddle", "timber", "velvet", "willow", "anchor",
    "barley", "canyon", "dune", "falcon", "garnet", "hollow", "island", "jasper",
    "kettle", "ledger", "marble", "nectar", "oyster", "pillar", "quiver", "raven",
    "summit", "thicket", "upland", "valley", "walnut", "yarrow", "zephyr", "acorn",
    "bramble", "cinder", "dapple", "estuary", "fjord", "glacier", "heron", "inlet",
    "juniper", "kestrel", "lichen", "mistral", "nimbus", "opal", "prairie", "quarry",
    "ripple", "sparrow", "tundra", "umber", "vessel", "wharf", "bracken", "copper",
    "delta", "fern", "grove", "hazel", "ivory", "jetty", "knoll", "lagoon",
    "mosaic", "nettle", "ochre", "pebble", "reef", "sable", "thistle", "violet")

  val Tags: Vector[String] = Vector(
    "alpha", "beta", "gamma", "kappa", "lambda", "sigma", "omega", "theta",
    "iota", "zeta", "rho", "tau", "phi", "chi", "psi", "epsilon")

  private val Epoch = LocalDate.of(2023, 1, 1)

  private def pick[A](r: scala.util.Random, xs: Vector[A]): A = xs(r.nextInt(xs.length))

  private def body(r: scala.util.Random, seed: Long, i: Int): String =
    (s"uid${seed}n$i" +: Vector.fill(24)(pick(r, Words))).mkString(" ")

  private def tags(r: scala.util.Random, n: Int): Strs =
    Strs(r.shuffle(Tags).take(n).sorted)

  /** The reference harness's five properties (title, date, tags[3],
    * draft, priority).
    */
  private def base(r: scala.util.Random, i: Int, nTags: Int): TreeMap[String, Value] = TreeMap(
    "title" -> Str(s"Note $i ${pick(r, Words)}"),
    "date" -> Day(Epoch.plusDays(r.nextInt(731).toLong)),
    "tags" -> tags(r, nTags),
    "draft" -> Bool(r.nextBoolean()),
    "priority" -> Num(1L + r.nextInt(5)))

  /** 1,000 files in ten flat directories `d0`..`d9`. The 2% without
    * frontmatter and the 1% with malformed YAML all sit in `d0`, which
    * the write mixes never target.
    */
  def notes(seed: Long): Vector[Doc] = {
    val r = new scala.util.Random(seed)
    val special = r.shuffle((0 until 100).toVector).take(30)
    val noFm = special.take(20).toSet
    val malformed = special.drop(20).toSet
    (0 until 1000).toVector.map { i =>
      val path = f"d${i / 100}/n$i%04d.md"
      val m = base(r, i, 3)
      val b = body(r, seed, i)
      val kind =
        if (i < 100 && noFm(i)) Kind.NoFrontmatter
        else if (i < 100 && malformed(i)) Kind.Malformed
        else Kind.Ok
      Doc(path, kind, if (kind == Kind.Ok) m else TreeMap.empty, b)
    }
  }

  /** Optional vault keys, each present with the given probability. */
  private val Optional: Vector[(String, Double, scala.util.Random => Value)] = Vector(
    ("author", 0.6, r => Str(s"${pick(r, Words)} ${pick(r, Words)}")),
    ("status", 0.5, r => Str(pick(r, Vector("open", "active", "done", "archived")))),
    ("category", 0.8, r => Str(pick(r, Vector("work", "home", "study", "travel", "health", "ideas")))),
    ("words", 0.5, r => Num(100L + r.nextInt(5000))),
    ("source", 0.4, r => Str(s"site ${pick(r, Words)}")),
    ("lang", 0.5, r => Str(pick(r, Vector("en", "de", "fr", "ja")))),
    ("reviewed", 0.5, r => Bool(r.nextBoolean())),
    ("due", 0.3, r => Day(Epoch.plusDays(r.nextInt(900).toLong))),
    ("series", 0.3, r => Str(s"series ${pick(r, Words)}")),
    ("project", 0.4, r => Str(s"project ${pick(r, Words)}")),
    ("mood", 0.3, r => Str(pick(r, Words))),
    ("aliases", 0.4, r => Strs(Vector.fill(1 + r.nextInt(3))(pick(r, Words)).distinct.sorted)),
    ("rating", 0.5, r => Num(1L + r.nextInt(5))))

  /** 5,000 files in a three-level tree `p?/q?/r?/` of five files each,
    * with thirteen optional keys; 2% without frontmatter and 1%
    * malformed, spread over the tree.
    */
  def vault(seed: Long): Vector[Doc] = {
    val r = new scala.util.Random(seed)
    (0 until 5000).toVector.map { i =>
      val path = f"p${i / 500}/q${i / 50 % 10}/r${i / 5 % 10}/v$i%04d.md"
      val m = base(r, i, 1 + r.nextInt(4)) ++
        Optional.flatMap { case (k, p, gen) => if (r.nextDouble() < p) Some(k -> gen(r)) else None }
      val b = body(r, seed, i)
      val u = r.nextDouble()
      val kind = if (u < 0.02) Kind.NoFrontmatter else if (u < 0.03) Kind.Malformed else Kind.Ok
      Doc(path, kind, if (kind == Kind.Ok) m else TreeMap.empty, b)
    }
  }
}
