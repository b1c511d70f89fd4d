package graft.semantic

import java.security.MessageDigest

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{Expression, ImplicitCastInputTypes, UnaryExpression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.types.{ArrayType, DataType, FloatType, StringType}

/** Deterministic offline stand-in for the sentence-transformers encoder
  * (reference `semantic/model.py`; ADR-0009 fixes the FLOAT[dim]
  * contract, dim from the model). Feature-hashing of unigrams + bigrams
  * with an md5-derived bucket/sign, L2-normalized — stable across JVMs
  * and processes, pluggable behind the same `encode(text) -> FLOAT[dim]`
  * surface so a real model can replace it.
  */
object Embed {
  val DefaultDim = 64

  def tokenize(text: String): Array[String] =
    text.toLowerCase.split("[^\\p{L}\\p{N}]+").filter(_.nonEmpty)

  /** 60-bit non-negative token hash = first 15 hex chars of md5 — the
    * same portable form the dedup operators use, so a SQL oracle can
    * replicate the encoder exactly:
    * `CAST('0x' || substr(md5(t), 1, 15) AS BIGINT)`.
    */
  private def hash60(s: String): Long = {
    val d = MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
    var h = 0L
    var i = 0
    while (i < 8) { h = (h << 8) | (d(i) & 0xffL); i += 1 }
    h >>> 4
  }

  def encode(text: String, dim: Int = DefaultDim): Array[Float] = {
    val acc = new Array[Double](dim)
    def add(t: String): Unit = {
      val h = hash60(t)
      val b = ((h >>> 1) % dim).toInt
      acc(b) += (if ((h & 1L) == 0L) 1.0 else -1.0)
    }
    val toks = tokenize(text)
    toks.foreach(add)
    var i = 0
    while (i < toks.length - 1) { add(toks(i) + " " + toks(i + 1)); i += 1 }
    normalize(acc)
  }

  /** Character-trigram feature hashing (the [[TrigramEncoder]] family):
    * same bucket/sign scheme over 3-char windows of whitespace-collapsed
    * lowercase text. Deliberately a different feature space from
    * [[encode]], so switching families produces different vectors at the
    * same dim — the property the model-change invalidation test pins.
    */
  def encodeTrigram(text: String, dim: Int = DefaultDim): Array[Float] = {
    val t = text.toLowerCase.replaceAll("\\s+", " ").trim
    val acc = new Array[Double](dim)
    var i = 0
    while (i + 3 <= t.length) {
      val h = hash60(t.substring(i, i + 3))
      val b = ((h >>> 1) % dim).toInt
      acc(b) += (if ((h & 1L) == 0L) 1.0 else -1.0)
      i += 1
    }
    normalize(acc)
  }

  /** L2-normalize with the zero-vector fallback shared by both families. */
  private def normalize(acc: Array[Double]): Array[Float] = {
    var norm = 0.0
    acc.foreach(x => norm += x * x)
    if (norm == 0.0) { acc(0) = 1.0; norm = 1.0 }
    val inv = 1.0 / math.sqrt(norm)
    acc.map(x => (x * inv).toFloat)
  }

  /** Register the `embed(text)` scalar function (reference
    * `semantic/query.py:31-39`, B24).
    */
  def register(spark: SparkSession, dim: Int = DefaultDim): Unit =
    register(spark, new WordHashEncoder("embed", dim))

  /** Register `embed` bound to a resolved encoder, so the SQL surface
    * follows the configured model (SemanticContext.registerFunctions).
    */
  def register(spark: SparkSession, enc: TextEncoder): Unit =
    spark.sessionState.functionRegistry.createOrReplaceTempFunction("embed", { e =>
      require(e.size == 1, s"embed takes one argument, got ${e.size}")
      EmbedText(e.head, enc)
    }, "built-in")
}

/** `embed(text)` as a Catalyst expression. Deterministic and foldable
  * when its argument is, so `embed('<literal>')` is encoded once, at
  * optimization, not once per row as a ScalaUDF (which Spark never
  * constant-folds) would be.
  */
case class EmbedText(child: Expression, enc: TextEncoder)
    extends UnaryExpression with ImplicitCastInputTypes with CodegenFallback {
  override def inputTypes: Seq[DataType] = Seq(StringType)
  override def dataType: DataType = ArrayType(FloatType, containsNull = false)
  override def prettyName: String = "embed"
  override protected def nullSafeEval(v: Any): Any =
    UnsafeArrayData.fromPrimitiveArray(enc.encode(v.toString))
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}
