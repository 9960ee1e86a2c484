package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark.withTempDir

/** The r18 table-metadata memo ([[Tables.load]]): resolved plans are
  * reused within a session for an unchanged table version, and a table
  * REWRITE under the same path invalidates the entry — the snapshot
  * semantics the artifact memos already follow. Results always come from
  * the parquet bytes on disk, never from a cached result. */
class TablesMemoSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._

  test("same version returns the memoized plan; results track the scan") {
    withTempDir("tblmemo") { dir =>
      Seq((1L, "a"), (2L, "b")).toDF("doc_id", "text")
        .write.mode("overwrite").parquet(s"$dir/t.parquet")
      val d1 = Tables.load(spark, dir, "t")
      val d2 = Tables.load(spark, dir, "t")
      assert(d1 eq d2, "unchanged version must reuse the resolved plan")
      assert(d1.count() === 2)
    }
  }

  test("a rewrite under the same path resolves fresh metadata and data") {
    withTempDir("tblmemo2") { dir =>
      Seq((1L, "a")).toDF("doc_id", "text")
        .write.mode("overwrite").parquet(s"$dir/t.parquet")
      val before = Tables.load(spark, dir, "t")
      assert(before.count() === 1)
      // ensure a distinct mtime/length so the version fold must change
      Thread.sleep(5)
      Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("doc_id", "text")
        .write.mode("overwrite").parquet(s"$dir/t.parquet")
      val after = Tables.load(spark, dir, "t")
      assert(!(after eq before), "rewrite must invalidate the memo entry")
      assert(after.count() === 3)
      // schema changes are picked up too
      Thread.sleep(5)
      Seq((1L, "a", 9L)).toDF("doc_id", "text", "extra")
        .write.mode("overwrite").parquet(s"$dir/t.parquet")
      val widened = Tables.load(spark, dir, "t")
      assert(widened.columns.toSet === Set("doc_id", "text", "extra"))
      assert(widened.agg(sum(col("extra"))).head.getLong(0) === 9L)
    }
  }

  test("a rewrite under a file: URI changes the version") {
    withTempDir("tblmemo-uri") { dir =>
      val uri = s"file:$dir"
      Seq((1L, "a")).toDF("doc_id", "text")
        .write.mode("overwrite").parquet(s"$dir/t.parquet")
      val v1 = Tables.version(uri, "t")
      assert(v1 !== 0L)
      assert(v1 === Tables.version(dir, "t"))
      Thread.sleep(5)
      Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("doc_id", "text")
        .write.mode("overwrite").parquet(s"$dir/t.parquet")
      assert(Tables.version(uri, "t") !== v1)
      assert(Tables.load(spark, uri, "t").count() === 3)
    }
  }
}
