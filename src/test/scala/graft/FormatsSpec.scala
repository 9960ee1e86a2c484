package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.Formats

/** CSV / JSON-lines round-trips with explicit schemas. */
class FormatsSpec extends AnyFunSuite with TestTempDirs {
  private lazy val spark = TestSpark.spark
  private val dir = "/root/testdata/sf0.001"

  private def hash(df: org.apache.spark.sql.DataFrame): String =
    df.select(sum(xxhash64(struct(col("*"))).cast("decimal(38,0)")).as("h"))
      .collect()(0).get(0).toString

  test("CSV round-trip preserves schema and content") {
    val src = Tables.load(spark, dir, "lineitem")
    val out = tempDir("graft-csv")
    Formats.writeCsv(src, out)
    val back = Formats.readCsv(spark, out, src.schema)
    assert(back.schema === src.schema)
    assert(back.count() === src.count())
    assert(hash(back) === hash(src))
  }

  test("ORC round-trip preserves schema and content") {
    val src = Tables.load(spark, dir, "orders")
    val out = tempDir("graft-orc")
    Formats.writeOrc(src, out)
    val back = Formats.readOrc(spark, out, src.schema)
    assert(back.schema === src.schema)
    assert(hash(back) === hash(src))
  }

  test("JSON-lines round-trip preserves schema and content") {
    val src = Tables.load(spark, dir, "orders")
    val out = tempDir("graft-json")
    Formats.writeJsonLines(src, out)
    val back = Formats.readJsonLines(spark, out, src.schema)
    assert(back.schema === src.schema)
    assert(hash(back) === hash(src))
  }
}
