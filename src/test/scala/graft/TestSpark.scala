package graft

import java.nio.file.{Files, Paths}

import org.apache.commons.io.FileUtils
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types._
import org.scalatest.{Outcome, TestSuite}

/** One shared local session for all suites. */
object TestSpark {
  lazy val spark: SparkSession = GraftSession.build(4)

  /** Events schema of the synthetic waves, which write `ts` as a nanos
    * Long. Fixture parquet may instead carry a native timestamp type —
    * `EventPipeline.readEventStream` probes the file's actual schema, and
    * `EventOps.tsMillis` decodes whichever dtype arrived. */
  val eventSchema: StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", LongType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType)))

  /** A fresh `graft-<prefix>*` temp dir for `body`, removed afterwards. */
  def withTempDir[A](prefix: String)(body: String => A): A = {
    val d = Files.createTempDirectory(s"graft-$prefix")
    try body(d.toString) finally FileUtils.deleteDirectory(d.toFile)
  }
}

/** Per-test temp dirs: `tempDir(prefix)` makes a fresh dir under one
  * `TestSpark.withTempDir` root per test, removed when the test ends. */
trait TestTempDirs extends TestSuite {
  private var root: Option[String] = None

  override def withFixture(test: NoArgTest): Outcome =
    TestSpark.withTempDir(suiteName.toLowerCase) { d =>
      root = Some(d)
      try super.withFixture(test) finally root = None
    }

  def tempDir(prefix: String): String =
    Files.createTempDirectory(Paths.get(root.get), prefix).toString
}
