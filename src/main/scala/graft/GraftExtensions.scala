package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{ArrayContains, Expression, ExpressionInfo, Length, Literal, RLike, StringSplit}

import graft.ops.{BoundedTopK, KmvSketch}
import graft.semantic.{ArrayCosineDistance, ArrayCosineSimilarity}

/** Spark-native installation point: `--conf
  * spark.sql.extensions=graft.GraftExtensions` (or
  * `.withExtensions(new GraftExtensions)`) registers every pure-Catalyst
  * engine function at session build time, so a cluster user gets the
  * graft SQL surface without calling any Scala API first.
  *
  * Injected functions are exactly the expression-backed ones from
  * `SparkEntry.registerSessionFunctions`; `embed` is NOT here
  * because it binds to a configured encoder (model name, dim) and is
  * session state, not a static function — `semantic.Embed.register` /
  * `SemanticContext` remain its seam.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  override def apply(ext: SparkSessionExtensions): Unit =
    GraftExtensions.functions.foreach(ext.injectFunction)
}

object GraftExtensions {

  private def desc(name: String, usage: String, build: Seq[Expression] => Expression)
      : (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) =
    (FunctionIdentifier(name), new ExpressionInfo("graft", name, usage), build)

  /** Static function catalog; shared with tests so the spec can assert
    * the injected list matches the session-registration list.
    */
  val functions: Seq[(FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)] = Seq(
    // Vector similarity (native codegen expressions).
    desc("array_cosine_similarity", "cosine similarity of two float arrays",
      e => ArrayCosineSimilarity(e(0), e(1))),
    desc("array_cosine_distance", "cosine distance of two float arrays",
      e => ArrayCosineDistance(e(0), e(1))),
    desc("list_cosine_similarity", "alias of array_cosine_similarity",
      e => ArrayCosineSimilarity(e(0), e(1))),
    desc("list_cosine_distance", "alias of array_cosine_distance",
      e => ArrayCosineDistance(e(0), e(1))),
    // DuckDB-dialect aliases (fm/Dialect.scala semantics).
    desc("list_contains", "array_contains alias",
      e => ArrayContains(e(0), e(1))),
    desc("string_split", "split on a literal separator",
      e => StringSplit(e(0), e(1), Literal(-1))),
    desc("len", "character length",
      e => Length(e(0))),
    desc("regexp_matches", "regex match predicate",
      e => RLike(e(0), e(1))),
    // Bounded declarative aggregates.
    desc("graft_top_k", "O(k)-state top-k aggregate",
      e => BoundedTopK(e(0), e(1))),
    desc("graft_kmv", "k-minimum-values distinct sketch aggregate",
      e => KmvSketch(e(0), e(1)))
  )
}
