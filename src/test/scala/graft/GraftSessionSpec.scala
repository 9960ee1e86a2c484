package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

import graft.engine.QueryFiles

/** The one session builder: the suite runs the same conf table as Bench and
  * Verify, and no other file builds a session of its own. */
class GraftSessionSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("the test session carries every entry of the conf table") {
    GraftSession.conf(4).foreach { case (k, v) =>
      assert(spark.conf.getOption(k) === Some(v), k)
    }
    assert(spark.sparkContext.master === "local[4]")
  }

  test("graft's SQL functions resolve in the test session") {
    val n = spark.sql("SELECT size(minhash_sig('the quick brown fox'))")
      .head().getInt(0)
    assert(n > 0)
  }

  private def scalaFiles(root: String): Seq[Path] = {
    val dir = Paths.get(root)
    assert(Files.isDirectory(dir), s"$root not found from the build root")
    val walk = Files.walk(dir)
    try walk.iterator().asScala.filter(_.toString.endsWith(".scala")).toSeq
    finally walk.close()
  }

  test("only GraftSession.scala calls the session builder") {
    val builder = """SparkSession\s*\.\s*builder\b""".r
    // QueryFiles' generated PySpark script builds a PySpark session, not
    // a graft one; it (and its golden spec) may carry the text.
    val pySparkLine = QueryFiles.pySparkScript("").split("\n")(1)
    val templateFiles = Set("QueryFiles.scala", "QueryFilesSpec.scala")
    val hits = (scalaFiles("src/main/scala") ++ scalaFiles("src/test/scala"))
      .flatMap { p =>
        val name = p.getFileName.toString
        val text = Files.readString(p)
        val scanned =
          if (templateFiles(name)) text.replace(pySparkLine, "") else text
        if (builder.findFirstIn(scanned).isDefined) Some(name) else None
      }
    assert(hits === Seq("GraftSession.scala"))
  }

  test("no query path writes session conf") {
    // The only writers: a set/unset scoped to one query start under a
    // lock (LocalCheckpointFileManager), the session's memo id
    // (SessionMemo) and a main that writes fixtures (ReseedFixture).
    val allowed = Set("LocalCheckpointFileManager.scala",
      "SessionMemo.scala", "ReseedFixture.scala")
    val writes = """conf\.(set|unset)\(""".r
    val hits = scalaFiles("src/main/scala").collect {
      case p if writes.findFirstIn(Files.readString(p)).isDefined =>
        p.getFileName.toString
    }
    assert(hits.filterNot(allowed).sorted === Seq.empty)
  }
}
