package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.exts.TextAnalysis

/** Pins the compiled pair expressions (r19, guide §4) to the interpreted
  * higher-order-function forms they replaced — same pairs, same groups,
  * same counts, on the real fixture plus whitespace/short-doc edges. */
class BigramPairsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val dir = "/root/testdata/sf0.001"

  private def hofBigrams(df: org.apache.spark.sql.DataFrame) = df
    .select(col("doc_id"), split(trim(col("text")), "\\s+").as("w"))
    .filter(size(col("w")) >= 2)
    .select(col("doc_id"), explode(expr(
      "zip_with(slice(w, 1, size(w) - 1), slice(w, 2, size(w) - 1)," +
        " (x, y) -> named_struct('pa', x, 'pb', y))")).as("b"))
    .select(col("doc_id"), col("b.pa"), col("b.pb"))

  private def exprBigrams(df: org.apache.spark.sql.DataFrame) = df
    .select(col("doc_id"),
      explode(graft.functions.Signatures.bigram_pairs(col("text"))).as("b"))
    .select(col("doc_id"), col("b.pa"), col("b.pb"))

  /** Per-doc bigram term frequencies, reference HOF form (the form
    * `TextAnalysis.bigramTf` replaced). */
  private def bigramTf0(docs: org.apache.spark.sql.DataFrame) =
    docs
      .select(col("doc_id"), split(trim(col("text")), "\\s+").as("w"))
      .filter(size(col("w")) >= 2)
      .select(col("doc_id"), explode(expr(
        "zip_with(slice(w, 1, size(w) - 1), slice(w, 2, size(w) - 1)," +
          " (x, y) -> named_struct('w1', x, 'w2', y))")).as("b"))
      .select(col("doc_id"), col("b.w1").as("w1"), col("b.w2").as("w2"))
      .groupBy(col("doc_id"), col("w1"), col("w2"))
      .agg(count(lit(1)).as("tf"))

  test("bigram_pairs ≡ zip_with/slice HOF form on the fixture corpus") {
    val docs = Tables.load(spark, dir, "documents")
      .select(col("doc_id"), col("text"))
    assert(exprBigrams(docs).exceptAll(hofBigrams(docs)).isEmpty)
    assert(hofBigrams(docs).exceptAll(exprBigrams(docs)).isEmpty)
  }

  test("bigram_pairs ≡ HOF form on whitespace and short-doc edges") {
    import spark.implicits._
    val edge = Seq(
      (1L, "one"), (2L, ""), (3L, "   "), (4L, "a b"),
      (5L, "  a \t b\n c  "), (6L, "x  y   z"), (7L, "a a a"))
      .toDF("doc_id", "text")
    assert(exprBigrams(edge).exceptAll(hofBigrams(edge)).isEmpty)
    assert(hofBigrams(edge).exceptAll(exprBigrams(edge)).isEmpty)
    // sub-2-token docs contribute nothing
    assert(exprBigrams(edge).filter(col("doc_id") <= 3).count() === 0)
  }

  test("bigramTf (compiled) ≡ bigramTf0 (HOF reference)") {
    val docs = Tables.load(spark, dir, "documents")
      .select(col("doc_id"), col("text"))
    val a = TextAnalysis.bigramTf(docs)
    val b = bigramTf0(docs)
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty)
  }

  test("char_pairs ≡ words-explode + transform(substring) staged form") {
    val docs = Tables.load(spark, dir, "documents")
    val staged = docs
      .select(explode(split(trim(col("text")), "\\s+")).as("word"))
      .filter(length(col("word")) >= 2)
      .select(explode(expr(
        "transform(sequence(1, length(word) - 1)," +
          " i -> substring(word, i, 2))")).as("pair"))
    val fused = docs.select(explode(
      graft.functions.Signatures.char_pairs(col("text"))).as("pair"))
    assert(fused.exceptAll(staged).isEmpty && staged.exceptAll(fused).isEmpty)
  }
}
