package graft.stream

import java.io.BufferedOutputStream
import java.nio.file.{Files, Paths, StandardCopyOption, Path => JPath}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FSDataOutputStream, FileAlreadyExistsException, Path}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.checkpointing.FileSystemBasedCheckpointFileManager
import org.apache.spark.sql.streaming.{DataStreamWriter, StreamingQuery}

/** Checkpoint file manager for checkpoints on the local file system.
  *
  * Without Hadoop's native library, `RawLocalFileSystem` forks a `chmod`
  * for every file and directory it creates, and every `FileContext` rename
  * (Spark's default manager) forks a `readlink` per path and per `.crc`
  * sibling: 110 processes per micro-batch of the decision stream at four
  * state partitions, 100 of them for its offsets, commits and state.
  * Here the write path is `java.nio`: the temp file of each atomic write
  * is opened with `Files.newOutputStream` (no `chmod`, no temp `.crc`),
  * directories are made with `Files.createDirectories`, and the temp file
  * is published with one atomic `rename(2)`. Exists, list, open and delete
  * stay on the inherited `FileSystem` path.
  *
  * The rename is not left to the `FileSystem` because `file:` may resolve
  * to Hive's `ProxyLocalFileSystem` (it does with Spark's jar directory on
  * the class path), whose `rename` refuses an existing destination: an
  * overwrite, as a replayed batch's state-store delta makes, would keep the
  * old file. A replaced file's Hadoop checksum (`.name.crc`, written by a
  * checksum file system, e.g. an earlier run under Spark's manager) is
  * dropped before the rename, so a reader never checks new bytes against
  * it. A manager built for a non-local path (a sink's log on another file
  * system, created under the same conf) keeps the inherited behaviour. */
class LocalCheckpointFileManager(path: Path, conf: Configuration)
    extends FileSystemBasedCheckpointFileManager(path, conf) {
  private val onLocalFs = fs.getUri.getScheme == "file"

  private def local(p: Path): JPath = Paths.get(fs.makeQualified(p).toUri)

  override def createTempFile(p: Path): FSDataOutputStream =
    if (!onLocalFs) super.createTempFile(p)
    else new FSDataOutputStream(
      new BufferedOutputStream(Files.newOutputStream(local(p))), null)

  override def renameTempFile(src: Path, dst: Path,
      overwriteIfPossible: Boolean): Unit =
    if (!onLocalFs) super.renameTempFile(src, dst, overwriteIfPossible)
    else {
      val to = local(dst)
      if (!overwriteIfPossible && Files.exists(to))
        throw new FileAlreadyExistsException(s"$dst already exists")
      Files.deleteIfExists(to.resolveSibling(s".${to.getFileName}.crc"))
      Files.move(local(src), to, StandardCopyOption.ATOMIC_MOVE)
    }

  override def mkdirs(p: Path): Unit =
    if (!onLocalFs) super.mkdirs(p) else Files.createDirectories(local(p))

  override def createCheckpointDirectory(): Path =
    if (!onLocalFs) super.createCheckpointDirectory()
    else {
      val qualified = fs.makeQualified(path)
      mkdirs(qualified)
      qualified
    }
}

object LocalCheckpointFileManager {
  private val ManagerClassKey = "spark.sql.streaming.checkpointFileManagerClass"

  /** Start `writer` as a graft query checkpointed at `checkpoint` — the one
    * way graft starts a checkpointed query. A checkpoint on the local file
    * system gets [[LocalCheckpointFileManager]], unless the caller has set
    * a manager class. The class is set on the session only around
    * `start()`: a query clones its session when it is built, so it keeps
    * the setting for its lifetime, and the caller's conf is unset again
    * afterwards. `None` leaves Spark's temporary checkpoint as it is. */
  def start(spark: SparkSession, writer: DataStreamWriter[_],
      checkpoint: Option[String]): StreamingQuery = checkpoint match {
    case None => writer.start()
    case Some(dir) =>
      writer.option("checkpointLocation", dir)
      val local = new Path(dir)
        .getFileSystem(spark.sessionState.newHadoopConf())
        .getUri.getScheme == "file"
      if (!local || spark.conf.getOption(ManagerClassKey).isDefined)
        writer.start()
      else {
        spark.conf.set(ManagerClassKey,
          classOf[LocalCheckpointFileManager].getName)
        try writer.start() finally spark.conf.unset(ManagerClassKey)
      }
  }
}
