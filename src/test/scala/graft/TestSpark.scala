package graft

import java.nio.file.{Files, Paths}

import org.apache.commons.io.FileUtils
import org.apache.spark.sql.SparkSession
import org.scalatest.{Outcome, TestSuite}

/** One shared local session for all suites. */
object TestSpark {
  lazy val spark: SparkSession = GraftSession.build(4)

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
