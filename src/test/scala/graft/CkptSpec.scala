package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark.withTempDir
import graft.exts.{Ckpt, Dedup}

/** The materialization-policy seam (r18 verdict #7): reliable
  * checkpoint mode must produce bit-identical results to the local
  * default — only the failure/cost envelope moves. */
class CkptSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val dir = "/root/testdata/sf0.001"

  test("reliable checkpoint mode: identical results on a shared-frame " +
      "consumer (ngram jaccard pairs) and on source_overlap") {
    val base = Dedup.ngramJaccardPairs(Dedup.corpusWithNearDups(spark, dir))
      .collect().map(_.toString).toSet
    val overlapBase = Dedup.sourceOverlap(
        Tables.load(spark, dir, "documents").select(col("source"), col("text")))
      .collect().map(_.toString).toSet
    withTempDir("ckpt") { ckptDir =>
      spark.sparkContext.setCheckpointDir(ckptDir)
      spark.conf.set(Ckpt.ReliableConf, "true")
      try {
        val rel = Dedup.ngramJaccardPairs(Dedup.corpusWithNearDups(spark, dir))
          .collect().map(_.toString).toSet
        assert(rel === base)
        val overlapRel = Dedup.sourceOverlap(
            Tables.load(spark, dir, "documents")
              .select(col("source"), col("text")))
          .collect().map(_.toString).toSet
        assert(overlapRel === overlapBase)
      } finally spark.conf.unset(Ckpt.ReliableConf)
    }
  }
}
