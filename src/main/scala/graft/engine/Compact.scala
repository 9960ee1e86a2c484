package graft.engine

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.model.{CompactionSpec, FileMeta, SnapshotMeta, SortTerm}
import graft.ops.FilePlan.TargetFileBytes

/** Native compaction — the data-processing work the reference delegates to
  * `rewrite_data_files` / Athena OPTIMIZE (SURVEY.md §2.2).
  *
  * Semantics preserved from the reference's configuration surface:
  *  - binpack (default): rewrite small files into ~target-size files
  *  - file groups capped at `max-file-group-size-bytes` (10 GiB default)
  *  - partial progress: one REPLACE commit per completed group rather than
  *    one atomic commit (AwsManageProperties.java:48-50)
  *  - sort strategy: rewrite clustered by a sort order
  *    (AwsManageProperties.java:52-57)
  *
  * Spark has no transactional REPLACE over raw parquet, so commits are
  * modeled in a metadata snapshot log (returned to the caller / appended by
  * [[Maintenance]]), not in the filesystem — SURVEY.md §7.4.
  *
  * Every rewrite — binpack, sort, z-order and each partial-progress group —
  * runs one private skeleton, `read → layout(n) → overwrite`, embarrassingly
  * parallel, with n sized from real byte counts so output files hit the
  * target size at any input scale; only the layout differs. Per-group
  * rewrites read only that group's files, bounding each job to ≤cap bytes
  * regardless of table size.
  */
object Compact {

  /** List a parquet table directory's data files as FileMeta. */
  def listFiles(dir: String): Seq[FileMeta] = {
    val p = Paths.get(dir)
    if (!Files.exists(p)) return Seq.empty
    val stream = Files.walk(p)
    try {
      stream.iterator().asScala
        .filter(f => Files.isRegularFile(f))
        .filter(_.getFileName.toString.endsWith(".parquet"))
        .map(f => FileMeta(
          table = dir,
          path = f.toString,
          sizeBytes = Files.size(f),
          partition = ""))
        .toSeq.sortBy(_.path)
    } finally stream.close()
  }

  /** remove_orphan_files ACTION — the engine side of the `orphan_files`
    * decision query (the third Iceberg maintenance action next to
    * compaction and snapshot expiry): delete every regular file under
    * `dir` that (a) the live reference set does not name AND (b) was
    * last modified at or before `cutoffMs` — Iceberg's `older_than`
    * guard, which keeps a concurrent writer's just-landed but
    * not-yet-committed files safe. There is deliberately NO wall-clock
    * default: the caller supplies the instant (the engine's
    * no-System.currentTimeMillis discipline). Hidden/marker files
    * (`.`/`_` prefixes — Spark's _SUCCESS etc.) are never candidates.
    * Dry-run by default: the orphan list comes back either way, deletes
    * happen only with dryRun = false. Returns (path, size_bytes,
    * deleted), path-sorted.
    *
    * Scale note: candidates and the reference set are metadata (~1 row
    * per file); at lake scale the listing distributes (a Spark file
    * index / listing job) and deletes run per-partition through the
    * Hadoop FS — this local action keeps the same contract at test
    * scale, like the rest of [[Compact]]. */
  def removeOrphans(dir: String, referenced: Set[String], cutoffMs: Long,
      dryRun: Boolean = true): Seq[(String, Long, Boolean)] = {
    val p = Paths.get(dir)
    if (!Files.exists(p)) return Seq.empty
    val stream = Files.walk(p)
    val orphans = try {
      stream.iterator().asScala
        .filter(f => Files.isRegularFile(f))
        .filterNot { f =>
          // hidden/marker check on EVERY path segment under the table
          // dir — a file inside a `.staging/` or `_temporary/` directory
          // is as off-limits as a `_SUCCESS` leaf
          val rel = p.relativize(f)
          (0 until rel.getNameCount).exists { i =>
            val n = rel.getName(i).toString
            n.startsWith(".") || n.startsWith("_")
          }
        }
        .filterNot(f => referenced.contains(f.toString))
        .filter(f => Files.getLastModifiedTime(f).toMillis <= cutoffMs)
        .map(f => (f.toString, Files.size(f)))
        .toSeq.sortBy(_._1)
    } finally stream.close()
    orphans.map { case (path, sz) =>
      val deleted = !dryRun && Files.deleteIfExists(Paths.get(path))
      (path, sz, deleted)
    }
  }

  /** Plan file groups: greedy in-order accumulation up to the cap; a single
    * oversized file gets its own group. Pure Scala (metadata-scale) twin of
    * FilePlan.filegroupPlanning's window form. */
  def planGroups(files: Seq[FileMeta], capBytes: Long): Seq[Seq[FileMeta]] = {
    val groups = Seq.newBuilder[Seq[FileMeta]]
    var cur = Seq.newBuilder[FileMeta]
    var curBytes = 0L
    var curN = 0
    files.foreach { f =>
      if (curN > 0 && curBytes + f.sizeBytes > capBytes) {
        groups += cur.result(); cur = Seq.newBuilder[FileMeta]
        curBytes = 0L; curN = 0
      }
      cur += f; curBytes += f.sizeBytes; curN += 1
    }
    if (curN > 0) groups += cur.result()
    groups.result()
  }

  /** Number of output files for a byte total at a target size. */
  def outputFileCount(totalBytes: Long, targetBytes: Long): Int =
    math.max(1, math.ceil(totalBytes.toDouble / targetBytes).toInt)

  /** The one rewrite skeleton every compaction runs: size `n` output files
    * from the listed `inputs`, lay out the read of `paths` with `layout`,
    * overwrite `outputDir`. Returns (filesBefore, filesAfter). */
  private def rewrite(spark: SparkSession, inputs: Seq[FileMeta],
      paths: Seq[String], outputDir: String, targetBytes: Long)(
      layout: (DataFrame, Int) => DataFrame): (Int, Int) = {
    val n = outputFileCount(inputs.map(_.sizeBytes).sum, targetBytes)
    layout(spark.read.parquet(paths: _*), n)
      .write.mode(SaveMode.Overwrite).parquet(outputDir)
    (inputs.size, listFiles(outputDir).size)
  }

  /** The clustered layout of sort, z-order and the z-order fallback:
    * range partitioning keeps a global order across output files, so
    * downstream range predicates prune whole files; one range exchange,
    * a local sort, no global sort. */
  private def rangeSorted(cols: Seq[Column])(df: DataFrame, n: Int): DataFrame =
    df.repartitionByRange(n, cols: _*).sortWithinPartitions(cols: _*)

  /** binpack_compaction: rewrite a whole table directory into ~target-size
    * files. Returns (filesBefore, filesAfter). */
  def binpack(spark: SparkSession, inputDir: String, outputDir: String,
      targetBytes: Long = TargetFileBytes): (Int, Int) =
    rewrite(spark, listFiles(inputDir), Seq(inputDir), outputDir,
      targetBytes)(_.repartition(_))

  /** A parsed sort term as a Spark ordering Column. */
  def termColumn(t: SortTerm): Column =
    (t.ascending, t.nullsFirst) match {
      case (true, true)   => col(t.column).asc_nulls_first
      case (true, false)  => col(t.column).asc_nulls_last
      case (false, true)  => col(t.column).desc_nulls_first
      case (false, false) => col(t.column).desc_nulls_last
    }

  /** sort_compaction with full per-column direction + null placement —
    * the grammar the reference's `sort_order` string carries
    * (EMRSparkUtil.java:118-124) — in the [[rangeSorted]] layout. */
  def sortRewriteOrdered(spark: SparkSession, inputDir: String,
      outputDir: String, terms: Seq[SortTerm],
      targetBytes: Long = TargetFileBytes): (Int, Int) =
    rewrite(spark, listFiles(inputDir), Seq(inputDir), outputDir,
      targetBytes)(rangeSorted(terms.map(termColumn)))

  /** zorder_compaction: rewrite clustered along the Morton curve of two
    * columns — the [[rangeSorted]] layout on the interleaved-bit z-value,
    * so every output file covers a compact region in BOTH dimensions and
    * min/max file stats prune on either column's predicate (a plain sort
    * only prunes on its leading column).
    *
    * Each dimension is min-max normalized to 16 bits before interleaving
    * (one tiny stats agg up front): raw interleaving of columns with
    * different magnitudes is dominated by the wider column's high bits and
    * degenerates to a single-column sort. Normalization makes the curve
    * split both dimensions evenly regardless of their value ranges. */
  def zorderRewrite(spark: SparkSession, inputDir: String, outputDir: String,
      colA: String, colB: String,
      targetBytes: Long = TargetFileBytes): (Int, Int) =
    rewrite(spark, listFiles(inputDir), Seq(inputDir), outputDir,
        targetBytes) { (df, n) =>
      val s = df.agg(
        min(col(colA).cast("double")), max(col(colA).cast("double")),
        min(col(colB).cast("double")), max(col(colB).cast("double")))
        .collect()(0)
      if (s.isNullAt(0) || s.isNullAt(2)) {
        // empty input or an all-null cluster column: the z-value is
        // undefined — fall back to a plain lexicographic sort rewrite.
        rangeSorted(Seq(col(colA), col(colB)))(df, n)
      } else {
        def norm(c: String, lo: Double, hi: Double) =
          if (hi <= lo) lit(0)
          else ((col(c).cast("double") - lo) / (hi - lo) * 65535.0).cast("int")
        val z = graft.functions.ZOrder2.z_order2(
          norm(colA, s.getDouble(0), s.getDouble(1)),
          norm(colB, s.getDouble(2), s.getDouble(3)))
        rangeSorted(Seq(col("__z")))(df.withColumn("__z", z), n).drop("__z")
      }
    }

  /** Partial-progress compaction: plan groups under the cap, rewrite one
    * group at a time, emit one REPLACE snapshot per completed group
    * (`partial-progress.enabled`, AwsManageProperties.java:48-50). Output
    * lands in `outputDir/group=<i>/`; returns the per-group commit log.
    *
    * The point of partial progress is failure isolation: each group's
    * commit becomes durable the moment that group finishes (`onCommit`
    * fires — the local analog of the snapshot-log append), so a crash
    * mid-run loses only the in-flight group; completed groups stay
    * committed and visible. `beforeGroup` is the failure-injection seam
    * the CompactSpec kill test uses.
    */
  def partialProgress(spark: SparkSession, inputDir: String, outputDir: String,
      tableId: Long, capBytes: Long, nowMs: Long,
      targetBytes: Long = TargetFileBytes,
      onCommit: SnapshotMeta => Unit = _ => (),
      beforeGroup: Int => Unit = _ => ()): Seq[SnapshotMeta] = {
    val groups = planGroups(listFiles(inputDir), capBytes)
    groups.zipWithIndex.map { case (group, i) =>
      beforeGroup(i)
      rewrite(spark, group, group.map(_.path), s"$outputDir/group=$i",
        targetBytes)(_.repartition(_))
      val snap = SnapshotMeta(tableId = tableId, snapshotId = i.toLong,
        tsMillis = nowMs + i, operation = "replace")
      onCommit(snap)
      snap
    }
  }

  /** Dispatch a CompactionSpec (the typed form of the generated SQL) against
    * local table directories: a sort spec carries its parsed terms, a
    * binpack spec none. */
  def run(spark: SparkSession, spec: CompactionSpec, inputDir: String,
      outputDir: String): (Int, Int) =
    if (spec.sortTerms.isEmpty) binpack(spark, inputDir, outputDir)
    else sortRewriteOrdered(spark, inputDir, outputDir, spec.sortTerms)
}
