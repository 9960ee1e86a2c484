package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

import graft.functions.{CosineSim, MinHashSig, MinHashSigPoly, RepetitionStats, RollingHash, ShingleSet, SimHash64, ZOrder2}

/** The library's `SparkSessionExtensions` entry point: registers every
  * native graft expression into the SQL function registry at session
  * build time, so `spark.sql("SELECT minhash_sig(text) ...")` works with
  * zero imperative setup — the standard way a Spark library ships custom
  * Catalyst expressions:
  *
  * {{{
  * spark.sql.extensions=graft.GraftExtensions
  * }}}
  * ([[GraftSession.build]] sets it for every graft session).
  *
  * The per-function `register(spark)` helpers remain for sessions the
  * caller doesn't construct.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  override def apply(ext: SparkSessionExtensions): Unit =
    GraftExtensions.builders.foreach { case (name, builder) =>
      ext.injectFunction((
        new FunctionIdentifier(name),
        new ExpressionInfo(classOf[GraftExtensions].getName, name),
        builder))
    }
}

object GraftExtensions {
  /** Arity guard: a wrong argument count becomes a proper analysis-time
    * error (standard WRONG_NUM_ARGS error class) instead of an
    * IndexOutOfBoundsException from the builder. */
  private def arity(name: String, n: Int)(
      build: Seq[Expression] => Expression): Seq[Expression] => Expression =
    es =>
      if (es.length == n) build(es)
      else throw new org.apache.spark.sql.AnalysisException(
        errorClass = "WRONG_NUM_ARGS.WITHOUT_SUGGESTION",
        messageParameters = Map(
          "functionName" -> s"`$name`",
          "expectedNum" -> n.toString,
          "actualNum" -> es.length.toString,
          "docroot" -> "https://spark.apache.org/docs/latest"))

  /** name → expression builder for every native graft function. */
  val builders: Seq[(String, Seq[Expression] => Expression)] = Seq(
    "rolling_hash" -> arity("rolling_hash", 1)(es => RollingHash(es.head)),
    "minhash_sig" -> arity("minhash_sig", 1)(es => MinHashSig(es.head)),
    "minhash_sig_poly" ->
      arity("minhash_sig_poly", 1)(es => MinHashSigPoly(es.head)),
    "simhash64" -> arity("simhash64", 1)(es => SimHash64(es.head)),
    "shingle_set" -> arity("shingle_set", 1)(es => ShingleSet(es.head)),
    "cosine_sim" -> arity("cosine_sim", 2)(es => CosineSim(es(0), es(1))),
    "z_order2" -> arity("z_order2", 2)(es => ZOrder2(es(0), es(1))),
    "repetition_stats" ->
      arity("repetition_stats", 1)(es => RepetitionStats(es.head)),
    // aggregate: the analyzer wraps a bare AggregateFunction from the
    // registry in an AggregateExpression
    "top_k_pairs" -> arity("top_k_pairs", 3)(es =>
      graft.functions.TopKPairs(es(0), es(1), es(2))))
}
