package graft.fm

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.atomic.AtomicLong
import java.{util => ju}
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.types.{StringType, StructField, StructType}

/** One serialized frontmatter field of one file. */
final case class ParsedField(key: String, value: String, isArray: Boolean)

/** One parsed file: ok + fields, or a warning (reference `files.py:70-107`
  * collects per-file failures as warnings, not errors).
  */
final case class ParsedFile(path: String, ok: Boolean, error: String, fields: Seq[ParsedField])

final case class ParseWarning(path: String, error: String)

/** Corpus ingest: relative paths → parsed+serialized records →
  * union-of-keys all-strings `files` DataFrame (reference
  * `query.py:23-59`).
  *
  * Like the reference, the per-file metadata lives on the driver: files
  * are read and parsed there ([[parseFiles]]), and the key union and the
  * warning list are folds over the records ([[build]]) — no Spark job.
  * Only the finished rows go to Spark: up to [[LocalRows]] rows as a
  * driver-local relation, above it as a distributed frame in the parse
  * layout. [[QueryEngine]] keeps the records in a per-file mtime cache,
  * so a one-file edit re-reads one file.
  */
object Corpus {

  /** Record fields for one document: synthetic `path` first, then YAML
    * metadata in document order; a frontmatter key literally named "path"
    * overrides the synthetic value (reference `files.py:62-67` dict
    * update semantics).
    */
  def recordFields(relPath: String, text: String): Seq[ParsedField] = {
    val post = Frontmatter.parse(text)
    val lm = new ju.LinkedHashMap[String, Any]()
    lm.put("path", relPath)
    post.metadata.forEach((k, v) => lm.put(k, v))
    lm.entrySet().asScala.toSeq.map { e =>
      ParsedField(e.getKey, PyValue.serialize(e.getValue), e.getValue.isInstanceOf[ju.List[_]])
    }
  }

  /** Files read by [[parseFile]] since start-up (cache tests count re-reads). */
  private[fm] val filesRead = new AtomicLong

  /** Read and parse one file under `baseDir`; a failure becomes a
    * not-ok record carrying the warning text.
    */
  def parseFile(baseDir: Path, rel: String): ParsedFile = {
    filesRead.incrementAndGet()
    try {
      val bytes = Files.readAllBytes(baseDir.resolve(rel))
      ParsedFile(rel, ok = true, null, recordFields(rel, new String(bytes, "UTF-8")))
    } catch {
      case e: Exception =>
        ParsedFile(rel, ok = false, s"${e.getClass.getSimpleName}: ${e.getMessage}", Nil)
    }
  }

  /** [[parseFile]] over `rels`, in order, spread over the driver's cores. */
  def parseFiles(baseDir: Path, rels: Seq[String]): Seq[ParsedFile] =
    new ju.ArrayList(rels.asJava).parallelStream()
      .map[ParsedFile](parseFile(baseDir, _)).toList.asScala.toSeq

  /** Records behind the Datasets [[parse]] returned, so [[filesDF]] and
    * [[SchemaInfer.inspectFlat]] fold them without a Spark round trip.
    */
  private val madeFrom =
    ju.Collections.synchronizedMap(new ju.WeakHashMap[Dataset[ParsedFile], Seq[ParsedFile]]())

  /** Parsed records as a Dataset, in the serving layout. */
  def parse(spark: SparkSession, baseDir: String, relPaths: Seq[String]): Dataset[ParsedFile] = {
    import spark.implicits._
    val recs = parseFiles(Paths.get(baseDir), relPaths)
    val ds = spark.createDataset(spark.sparkContext.parallelize(recs, servingParts(spark, recs.size)))
    madeFrom.put(ds, recs)
    ds
  }

  /** The records of `parsed`, in order. */
  private[fm] def records(parsed: Dataset[ParsedFile]): Seq[ParsedFile] =
    Option(madeFrom.get(parsed)).getOrElse(parsed.collect().toSeq)

  /** [[build]] over a Dataset's records. */
  def filesDF(spark: SparkSession, parsed: Dataset[ParsedFile],
      maxWarnings: Int = Settings.maxListed()): (DataFrame, Seq[ParseWarning]) =
    build(spark, records(parsed), maxWarnings)

  /** Row gate between the two serving layouts of [[build]]. At or below
    * it the `files` frame is a LocalRelation: Spark's
    * ConvertToLocalRelation folds Project/Filter/Limit over it on the
    * driver, so `SELECT *` runs no Spark job, and a rebuild after an edit
    * neither distributes nor persists anything; [[QueryEngine]]'s session
    * plans the rest of the query over one partition
    * ([[OnePartitionLocalScan]]), so Aggregate, Sort and Window run as
    * one task with no exchange. Above it the frame keeps the distributed
    * parse layout and its scan parallelism. Measured on 4 cores
    * (`local[4]`, AQE off as in Bench): the 70 `q_fm_*` catalog rows
    * over the first n documents of sf0.1, every frame local against
    * every frame distributed, best of two passes, in total: n = 1,000:
    * 6.60 against 10.20 s; 2,000: 6.90 against 11.09 s; 3,000: 8.12
    * against 11.83 s; 4,000: 9.95 against 12.64 s; 5,000: 9.58 against
    * 13.57 s. Scanned at `defaultParallelism` with an exchange before
    * each aggregate, the local frame had crossed over near 2,000 rows;
    * in one task it wins at every size probed. The gate sits at 4,096,
    * below the 5,000-document sf0.1 fixture, so the catalog's `q_fm_*`
    * rows keep checking the distributed layout there (sf0.01, 500
    * documents, checks the local one).
    */
  private[graft] val LocalRows = 4096

  /** Union-of-keys all-strings DataFrame + parse warnings, from records
    * in path order. Column order: `path` first, then sorted keys
    * (deterministic; the reference's set-iteration order is arbitrary).
    * The frame is driver-local up to [[LocalRows]] parsed files, unless
    * `allowLocal` is false.
    */
  def build(spark: SparkSession, records: Seq[ParsedFile],
      maxWarnings: Int = Settings.maxListed(),
      allowLocal: Boolean = true): (DataFrame, Seq[ParseWarning]) = {
    val good = records.filter(_.ok)
    val keys = good.iterator.flatMap(_.fields.iterator.map(_.key)).toSet - "path"
    val ordered = "path" +: keys.toSeq.sorted
    val schema = StructType(ordered.map(k => StructField(k, StringType, nullable = k != "path")))
    val rows = good.map { pf =>
      val m = pf.fields.iterator.map(f => f.key -> f.value).toMap
      Row.fromSeq(ordered.map(m.getOrElse(_, null)))
    }
    // r17, measured and REVERTED: an experiment coalesced the cached
    // serving frame to ~200k rows per partition on the theory that the
    // parse layout (32 slivers at sf0.1) taxed every downstream
    // exchange with 32×N shuffle block files. The quiet-box record
    // falsified it: the shuffle-file cost is negligible at this width,
    // while expression-heavy rows lost their scan parallelism — the 66
    // fm rows without their own r17 fixes regressed +2.4 s in
    // aggregate, led by q_fm_json_ops 0.20→0.48 s and q_fm_listfns
    // 0.16→0.36 s (run spreads ≤ 0.03, i.e. real). Above LocalRows,
    // servingParts is the right serving layout at every scale probed.
    val df =
      if (allowLocal && rows.size <= LocalRows) spark.createDataFrame(rows.asJava, schema)
      else spark.createDataFrame(
        spark.sparkContext.parallelize(rows, servingParts(spark, records.size)), schema)
    (df, warnings(records, maxWarnings))
  }

  /** Whether `df` is a driver-local relation, as [[build]] makes below
    * [[LocalRows]].
    */
  private[fm] def isLocal(df: DataFrame): Boolean =
    df.queryExecution.logical.isInstanceOf[LocalRelation]

  /** Serving layout: ≥32 files per partition, capped at defaultParallelism. */
  private def servingParts(spark: SparkSession, files: Int): Int =
    math.max(1, math.min(spark.sparkContext.defaultParallelism, files / 32 + 1))

  /** Warning list bounded at the driver (Settings.maxListed): the full
    * list is reference parity and kept verbatim below the cap, but a
    * corpus with 10⁹ unparseable files must not put 10⁹ entries in every
    * response — above the cap the first N are listed plus one summary
    * entry carrying the exact remainder count.
    */
  private def warnings(records: Seq[ParsedFile], maxWarnings: Int): Seq[ParseWarning] = {
    val cap = math.max(1, maxWarnings)
    val bad = records.filterNot(_.ok)
    val listed = bad.iterator.take(cap).map(p => ParseWarning(p.path, p.error)).toVector
    if (bad.size <= cap) listed
    else listed :+ ParseWarning("(truncated)",
      s"... ${bad.size - cap} more parse warnings not listed (listing capped at $cap; set FRONTMATTER_MAX_LIST to raise)")
  }

  /** Corpus fingerprint over (relPath, mtime): when unchanged, the
    * engine reuses its `files` frame (see [[QueryEngine]]).
    */
  def fingerprint(pathsWithMtime: Seq[(String, Long)]): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    pathsWithMtime.foreach { case (p, m) =>
      md.update(p.getBytes("UTF-8")); md.update(m.toString.getBytes("UTF-8")); md.update(0.toByte)
    }
    md.digest().map("%02x".format(_)).mkString
  }
}
