package graft.fm

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.types.{BooleanType, StringType, StructField, StructType}

/** `query_inspect` schema inference (reference `query_schema.py:19-69`):
  * per property `{type, nullable, examples}` where type is "array" iff any
  * non-null value is a YAML list, nullable means some matched file lacks a
  * non-null value (`path` hard-wired non-null), and examples are the first
  * `maxSamples` distinct values in record order.
  *
  * One fold over the driver-held records, as the reference does. Record
  * order is path order by code point (the order of UTF-8 bytes, and of
  * Spark's string `min`), not Java's UTF-16 `compareTo`.
  */
object SchemaInfer {

  val Schema: StructType = StructType(Seq(
    StructField("property", StringType, nullable = false),
    StructField("type", StringType, nullable = false),
    StructField("nullable", BooleanType, nullable = false),
    StructField("examples", StringType, nullable = false)))

  /** Code-point order: UTF-16 order with surrogates moved above
    * U+E000–U+FFFF, so a non-BMP character sorts after every BMP one.
    */
  val byCodePoint: Ordering[String] = (a: String, b: String) => {
    def fix(c: Char): Int =
      if (c < 0xD800) c else if (c >= 0xE000) c - 0x800 else c + 0x2000
    val n = math.min(a.length, b.length)
    var i = 0
    while (i < n && a.charAt(i) == b.charAt(i)) i += 1
    if (i < n) fix(a.charAt(i)) - fix(b.charAt(i)) else a.length - b.length
  }

  /** Calls of [[infer]] since start-up (cache tests count re-folds). */
  private[fm] val inferCalls = new java.util.concurrent.atomic.AtomicLong

  /** Ok-file count and one row per property: (property, type, nullable,
    * examples as a JSON array string of the serialized values).
    */
  def infer(records: Seq[ParsedFile], maxSamples: Int = 5): (Long, Seq[Row]) = {
    inferCalls.incrementAndGet()
    final class Acc {
      var nonNull = 0L
      var array = false
      val examples = mutable.LinkedHashSet.empty[String]
    }
    val good = records.filter(_.ok).sortBy(_.path)(byCodePoint)
    val props = mutable.HashMap.empty[String, Acc]
    for (pf <- good; f <- pf.fields) {
      val acc = props.getOrElseUpdate(f.key, new Acc)
      if (f.value != null) {
        acc.nonNull += 1
        acc.array ||= f.isArray
        if (acc.examples.size < maxSamples) acc.examples += f.value
      }
    }
    val rows = props.toSeq.sortBy(_._1).map { case (k, acc) =>
      Row(k, if (acc.array) "array" else "string",
        k != "path" && acc.nonNull < good.size,
        acc.examples.iterator.map(PyValue.jsonDumps(_)).mkString("[", ", ", "]"))
    }
    (good.size.toLong, rows)
  }

  /** [[infer]]'s rows over a Dataset's records, as a local DataFrame. */
  def inspectFlat(spark: SparkSession, parsed: Dataset[ParsedFile], maxSamples: Int = 5): DataFrame =
    spark.createDataFrame(infer(Corpus.records(parsed), maxSamples)._2.asJava, Schema)
}
