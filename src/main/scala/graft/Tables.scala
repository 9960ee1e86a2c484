package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Parquet-backed table loading (the engine's `table_lookup`,
  * SURVEY.md §2.1 — reference resolves via Iceberg catalog at
  * AwsTableManagementMetricsEvaluator.java:72; here tables are partitioned
  * Parquet directories keyed by name).
  */
object Tables {
  /** Session-scoped table-metadata memo — the catalog role an Iceberg
    * deployment's snapshot-pinned table resolution plays (guide §6: file
    * listing caches exist precisely because re-listing per query is the
    * dominant small-query constant; manifest-backed formats avoid it
    * altogether). `spark.read.parquet` re-lists the directory, re-reads a
    * footer and re-infers the schema on EVERY call — measured 50-200 ms
    * per table on this corpus (OPTIMIZATION_r18.md §1), paid by every
    * query before any data moves. The memo keys on (session, dir, table,
    * [[version]]): the version fold is the same listing-derived snapshot
    * id the artifact memos use, so a table REWRITE under the same path
    * resolves fresh metadata instead of serving a stale plan — and the
    * walk costs ~0.06 ms, three orders cheaper than what it avoids. Only
    * METADATA (the resolved logical plan) is reused; every execution
    * still scans the parquet bytes. Eviction is EXPLICIT
    * ([[SessionMemo]], r18 ADVICE): weak session keys could never
    * collect, because the cached DataFrames strongly reference their
    * own session. */
  private val memo = new SessionMemo[DataFrame](maxPerSession = 256)

  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    val bySession = memo.map(spark)
    val key = s"$dir|$name|${version(dir, name)}"
    bySession.computeIfAbsent(key,
      _ => spark.read.parquet(s"$dir/$name.parquet"))
  }

  /** The commit-event stream analog (FIXTURES.md §1). */
  def events(spark: SparkSession, dir: String): DataFrame =
    load(spark, dir, "events")

  /** Corpus snapshot token for a table: a deterministic hash of the
    * file listing (relative path, length, mtime) under the table's
    * parquet directory. Artifact memos (Bloom sketch, IVF centroids,
    * BPE merges) fold this into their key so a table REWRITE under the
    * same path invalidates the memo instead of silently serving a stale
    * artifact — the snapshot-id role an Iceberg catalog would play,
    * derived here from the directory listing (one metadata-only pass;
    * the same listing a scan's file index performs). A local path or
    * `file:` URI is walked with `java.io` (the per-query cost of every
    * [[load]]); any other scheme is listed through Hadoop against the
    * active session's conf. */
  def version(dir: String, name: String): Long = {
    val root = new Path(s"$dir/$name.parquet")
    // (name, length, mtime) per file in path order; None: no such table
    val files: Option[Iterator[(String, Long, Long)]] =
      root.toUri.getScheme match {
        case null | "file" =>
          def walk(f: java.io.File): Iterator[java.io.File] =
            if (f.isDirectory)
              f.listFiles().sortBy(_.getName).iterator.flatMap(walk)
            else Iterator.single(f)
          Some(new java.io.File(root.toUri.getPath)).filter(_.exists())
            .map(walk(_).map(f => (f.getName, f.length(), f.lastModified())))
        case _ =>
          val fs = root.getFileSystem(
            SparkSession.active.sessionState.newHadoopConf())
          Some(root).filter(fs.exists).map { r =>
            val it = fs.listFiles(r, true)
            Iterator.continually(it).takeWhile(_.hasNext).map(_.next())
              .toSeq.sortBy(_.getPath.toString)
              .map(s => (s.getPath.getName, s.getLen, s.getModificationTime))
              .iterator
          }
      }
    files.fold(0L)(_.foldLeft(17L) { case (h, (fileName, len, mtime)) =>
      var x = h
      for (c <- fileName) x = x * 31 + c
      (x * 31 + len) * 31 + mtime
    })
  }
}
