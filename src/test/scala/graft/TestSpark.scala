package graft

import java.nio.file.Files

import org.apache.commons.io.FileUtils
import org.apache.spark.sql.SparkSession

/** One shared local session for all suites. */
object TestSpark {
  lazy val spark: SparkSession = GraftSession.build(4)

  /** A fresh `graft-<prefix>*` temp dir for `body`, removed afterwards. */
  def withTempDir[A](prefix: String)(body: String => A): A = {
    val d = Files.createTempDirectory(s"graft-$prefix")
    try body(d.toString) finally FileUtils.deleteDirectory(d.toFile)
  }
}
