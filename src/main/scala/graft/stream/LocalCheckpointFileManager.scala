package graft.stream

import java.io.BufferedOutputStream
import java.nio.file.{Files, Paths, StandardCopyOption, Path => JPath}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FSDataOutputStream, FileAlreadyExistsException, Path}
import org.apache.spark.sql.{Dataset, GraftSessionBridge}
import org.apache.spark.sql.execution.streaming.checkpointing.FileSystemBasedCheckpointFileManager
import org.apache.spark.sql.execution.streaming.runtime.StreamingRelation
import org.apache.spark.sql.streaming.{DataStreamWriter, StreamingQuery}

/** Checkpoint file manager for checkpoints on the local file system.
  *
  * Without Hadoop's native library, `RawLocalFileSystem` forks a `chmod`
  * for every file and directory it creates, and every `FileContext` rename
  * (Spark's default manager) forks a `readlink` per path and per `.crc`
  * sibling: 110 processes per micro-batch of the decision stream at four
  * state partitions, 100 of them for its offsets, commits and state and 10
  * for its file source's metadata log (`sources/0`). Here the write path
  * is `java.nio`: the temp file of each atomic write is opened with
  * `Files.newOutputStream` (no `chmod`, no temp `.crc`), directories are
  * made with `Files.createDirectories`, and the temp file is published
  * with one atomic `rename(2)`. Exists, list, open and delete stay on the
  * inherited `FileSystem` path. [[LocalCheckpointFileManager.start]] routes
  * every log of a graft query through it: offsets, commits and state, and
  * each file source's `sources/<n>` log.
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
  private val ManagerClass = classOf[LocalCheckpointFileManager].getName

  /** Start the query that `write` configures on `data`, checkpointed at
    * `checkpoint`: the one way graft starts a checkpointed query. A
    * checkpoint on the local file system gets [[LocalCheckpointFileManager]]
    * for every log, unless the caller has set a manager class, which then
    * governs every log instead. `None` leaves Spark's temporary checkpoint
    * as it is.
    *
    * Two routes, because the logs read the manager class from two sessions.
    * The offsets and commit logs are built with the query, from the
    * session that starts it, and the state store reads the clone the query
    * makes of that session then; so the class is set on `data`'s session
    * only around `start()` and unset again afterwards. A file source's
    * metadata log is built later, on the stream thread, from the session
    * its `DataSource` holds; so each file source in the plan is rebound to
    * a clone of the caller's session that carries the class. The query
    * itself still starts from the caller's session, so listeners on its
    * `streams` hear it. */
  def start[T](data: Dataset[T], checkpoint: Option[String])(
      write: Dataset[T] => DataStreamWriter[T]): StreamingQuery =
    checkpoint match {
      case None => write(data).start()
      case Some(dir) =>
        val spark = data.sparkSession
        val local = new Path(dir)
          .getFileSystem(spark.sessionState.newHadoopConf())
          .getUri.getScheme == "file"
        if (!local || spark.conf.getOption(ManagerClassKey).isDefined)
          write(data).option("checkpointLocation", dir).start()
        else {
          val writer = write(withSourceManager(data))
            .option("checkpointLocation", dir)
          spark.conf.set(ManagerClassKey, ManagerClass)
          try writer.start() finally spark.conf.unset(ManagerClassKey)
        }
    }

  /** `data` with the `DataSource` of each file source (a V1
    * `StreamingRelation`) bound to one clone of its session that carries
    * [[LocalCheckpointFileManager]]; the clone is made once, at start, so
    * the sources read under the conf the query starts with. */
  private def withSourceManager[T](data: Dataset[T]): Dataset[T] = {
    val sourceSession = GraftSessionBridge.cloneSession(data.sparkSession)
    sourceSession.conf.set(ManagerClassKey, ManagerClass)
    GraftSessionBridge.mapPlan(data)(_.transform {
      case r: StreamingRelation =>
        r.copy(dataSource = r.dataSource.copy(sparkSession = sourceSession))
    })
  }
}
