package graft.stream

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path => JPath}

import scala.jdk.CollectionConverters._

import org.apache.commons.io.FileUtils
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileAlreadyExistsException, Path}
import org.scalatest.funsuite.AnyFunSuite

/** The atomic-write contract of [[LocalCheckpointFileManager]], which
  * Spark's offsets, commits and state-store logs rely on, under both
  * classes `file:` can resolve to: Hadoop's checksum `LocalFileSystem` and
  * Hive's `ProxyLocalFileSystem` (whose own rename refuses an existing
  * destination). */
class LocalCheckpointFileManagerSpec extends AnyFunSuite {
  private val fileSystems = Seq(
    "org.apache.hadoop.fs.LocalFileSystem",
    "org.apache.hadoop.hive.ql.io.ProxyLocalFileSystem")

  private def confFor(impl: String): Configuration = {
    val c = new Configuration()
    c.set("fs.file.impl", impl)
    c.setBoolean("fs.file.impl.disable.cache", true)
    c
  }

  /** For each `file:` file system: a manager over a fresh temp dir, its
    * conf and the dir; removed afterwards. */
  private def withManager(
      body: (LocalCheckpointFileManager, Configuration, JPath) => Unit): Unit =
    fileSystems.foreach { impl =>
      val d = Files.createTempDirectory("graft-cfm")
      val conf = confFor(impl)
      try body(new LocalCheckpointFileManager(new Path(d.toUri), conf), conf, d)
      finally FileUtils.deleteDirectory(d.toFile)
    }

  private def write(fm: LocalCheckpointFileManager, p: Path, text: String,
      overwrite: Boolean): Unit = {
    val out = fm.createAtomic(p, overwrite)
    out.write(text.getBytes(UTF_8))
    out.close()
  }

  private def read(fm: LocalCheckpointFileManager, p: Path): String = {
    val in = fm.open(p)
    try new String(in.readAllBytes(), UTF_8) finally in.close()
  }

  private def names(d: JPath): Set[String] =
    Files.list(d).iterator().asScala.map(_.getFileName.toString).toSet

  test("createAtomic without overwrite onto an existing file throws") {
    withManager { (fm, _, d) =>
      val p = new Path(d.toUri.toString, "0")
      write(fm, p, "first", overwrite = false)
      intercept[FileAlreadyExistsException] {
        write(fm, p, "second", overwrite = false)
      }
      assert(read(fm, p) === "first")
    }
  }

  test("cancel leaves neither the file nor its temp") {
    withManager { (fm, _, d) =>
      val sub = new Path(d.toUri.toString, "state/0")
      fm.mkdirs(sub)
      val out = fm.createAtomic(new Path(sub, "1.delta"), false)
      out.write("partial".getBytes(UTF_8))
      out.cancel()
      assert(names(d.resolve("state/0")).isEmpty)
    }
  }

  test("an overwrite replaces the content and leaves no stale .crc") {
    withManager { (fm, conf, d) =>
      val p = new Path(d.toUri.toString, "metadata")
      // the first version through the checksum file system, as Spark's
      // stock managers write it: with a `.metadata.crc` sibling
      val o = p.getFileSystem(conf).create(p)
      o.write("old".getBytes(UTF_8))
      o.close()
      assert(names(d) === Set("metadata", ".metadata.crc"))
      write(fm, p, "new", overwrite = true)
      assert(names(d) === Set("metadata"))
      assert(read(fm, p) === "new")
    }
  }
}
