package graft

import java.nio.file.{Files, Paths}

import org.apache.commons.io.FileUtils
import org.scalatest.funsuite.AnyFunSuite

/** The correctness dump fails loudly: a key that throws is named, and the
  * oracle file is still written for the keys that ran. */
class VerifySpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val keys = Set("should_optimize", "expire_snapshots")

  test("run names the keys that fail and still writes oracle_sql.json") {
    val out = Files.createTempDirectory("graft-verify")
    try {
      val failed = Verify.run(spark, s"$out/no-such-sf", out.toString, keys)
      assert(failed.toSet === keys)
      val oracle = Files.readString(Paths.get(s"$out/oracle_sql.json"))
      keys.foreach(k => assert(oracle.contains(s""""$k":""")))
      // a key that runs is not named
      import spark.implicits._
      Seq((1L, 1000000L, 7L, "click", 1.0, "{}"))
        .toDF(graft.stream.EventPipeline.eventSchema.fieldNames.toSeq: _*)
        .write.parquet(s"$out/sf/events.parquet")
      assert(Verify.run(spark, s"$out/sf", out.toString,
        Set("should_optimize")).isEmpty)
    } finally FileUtils.deleteDirectory(out.toFile)
  }
}
