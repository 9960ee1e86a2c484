package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.model.EngineConfig

/** File-level compaction planning (SURVEY.md §2.2 filegroup_planning,
  * small_file_metrics): the metadata queries behind the reference's
  * delegated `rewrite_data_files` — assign data files to ≤cap-sized rewrite
  * groups (partial-progress commit unit, AwsManageProperties.java:48-50) and
  * compute the small-file stats that motivate optimizing.
  *
  * Scale shape: file metadata is ~1 row per data file (100 TB at 128 MB
  * files ≈ 800 k rows), partitioned by table partition. Greedy group
  * assignment is sequential *within* a partition by construction (each
  * group boundary depends on every earlier file), so the plan is one hash
  * shuffle on `part_key` followed by a streaming linear scan per partition —
  * parallel across partitions, constant memory within one. A skewed
  * partition with millions of files would serialize in one task — at that
  * point pre-split by `file_seq div N` salt; not needed at current scale.
  */
object FilePlan {

  /** "Small file" cutoff for metrics: files under 100 MB want compaction. */
  val SmallFileBytes: Long = 100000000L
  /** Target rewritten-file size (Iceberg's write.target-file-size
    * default, 512 MiB): the implied output size of a binpack rewrite and
    * the unit of benefit estimation. */
  val TargetFileBytes: Long = 536870912L
  /** Default per-window rewrite budget: 1 TB of bytes rewritten. */
  val DefaultBudgetBytes: Long = 1000000000000L

  /** Range partitions for the maintenance-budget prefix sum: bounds the
    * per-task candidate slice at 1/16 of the lake's partition list while
    * keeping the offsets frame broadcast-trivial. */
  val BudgetRangeParts: Int = 16

  /** Typed row shapes for the greedy scan (top-level so encoders resolve). */
  final case class FileRec(
      part_key: String, file_seq: Long, path: String, size_bytes: Long)
  final case class PlannedFile(
      part_key: String, path: String, size_bytes: Long, group_id: Long)

  /** Deterministic file-metadata fixture derived from `orders`
    * (FIXTURES.md §2): one "data file" per order, size ≈ 100 MB scale so the
    * 10 GiB default cap yields ~100-file groups. Partition key =
    * status × (orderkey mod 64): ~190 partitions, the realistic shape where
    * planning parallelism comes from partition count. Mirrored in oracle
    * SQL (MaintenanceQueries.filesCte). */
  def fileRelation(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "orders").select(
      concat(col("o_orderstatus"), lit("_"), col("o_orderkey") % 64)
        .as("part_key"),
      col("o_orderkey").as("file_seq"),
      concat(lit("f_"), col("o_orderkey")).as("path"),
      (floor(col("o_totalprice")) * 1000).as("size_bytes"))

  /** filegroup_planning: true greedy in-order accumulation into groups of
    * ≤cap bytes, per partition — a new group starts exactly when adding the
    * next file would push the open group past the cap, and an oversized
    * file (> cap) sits alone in its own group. Identical semantics to
    * [[graft.engine.Compact.planGroups]] (its metadata-scale Scala twin);
    * verified against it property-style in PlanPropertySpec.
    *
    * Distributed form: hash-shuffle on `part_key`, sort within partitions,
    * then a single streaming pass (`mapPartitions`) carrying (group, acc)
    * state that resets on each key change — no window cum-sum approximation
    * (floor(cumsum/cap) can overfill a group up to ~2×cap). */
  def filegroupPlanning(files: DataFrame,
      capBytes: Long = EngineConfig.DefaultGroupCapBytes): DataFrame = {
    val spark = files.sparkSession
    import spark.implicits._
    files.select(
        col("part_key").cast("string").as("part_key"),
        col("file_seq").cast("long").as("file_seq"),
        col("path").cast("string").as("path"),
        col("size_bytes").cast("long").as("size_bytes"))
      .as[FileRec]
      .repartition(col("part_key"))
      .sortWithinPartitions("part_key", "file_seq")
      .mapPartitions { it =>
        var key: String = null
        var acc = 0L
        var inGroup = 0
        var gid = 0L
        it.map { f =>
          if (f.part_key != key) {
            key = f.part_key; acc = 0L; inGroup = 0; gid = 0L
          }
          if (inGroup > 0 && acc + f.size_bytes > capBytes) {
            gid += 1; acc = 0L; inGroup = 0
          }
          acc += f.size_bytes; inGroup += 1
          PlannedFile(f.part_key, f.path, f.size_bytes, gid)
        }
      }
      .toDF()
  }

  /** Zone-map (min/max file-statistics) pruning plan — the metadata query
    * behind Iceberg-style file skipping, and the payoff of
    * `sort_compaction`: per data file, the min/max of each indexed column;
    * a predicate can skip a file whose range provably misses it.
    *
    * Files are modeled as month-clustered row groups of `lineitem`
    * (`file_id = year·12 + month` of l_shipdate) — the layout a
    * date-sorted rewrite produces. The plan flags, per file, whether the
    * fixed ship-date window [1997-01-01, 1997-04-01) can skip it
    * (`max < lo` or `min ≥ hi`) and whether a `l_quantity < 5` predicate
    * can (`min_qty ≥ 5`). The date column is clustered, so nearly every
    * file skips; quantity is uncorrelated with the layout, so its zone
    * maps are useless — none skip. That contrast IS the 100 TB design
    * point: zone maps only prune on columns the physical sort actually
    * clustered (CompactSpec asserts the same contrast on real files).
    *
    * One scan + one hash aggregate over ~1 row per (file, columns) —
    * metadata-plane cost; the data itself is never re-read at plan time in
    * a real layout (the stats live in the manifest, as in small_file_
    * metrics). */
  def zoneMapPrune(lineitem: DataFrame): DataFrame = {
    // Bounds go through the same session-TZ cast as the data column, so
    // the skip flags are timezone-shift-invariant.
    val loMs = expr("unix_millis(TIMESTAMP'1997-01-01 00:00:00')")
    val hiMs = expr("unix_millis(TIMESTAMP'1997-04-01 00:00:00')")
    lineitem
      .withColumn("ship_ms", expr("unix_millis(CAST(l_shipdate AS TIMESTAMP))"))
      .withColumn("file_id",
        (year(col("l_shipdate")) * 12 + month(col("l_shipdate")) - 1)
          .cast("long"))
      .groupBy(col("file_id"))
      .agg(
        count(lit(1)).as("n_rows"),
        min(col("ship_ms")).as("min_ship_ms"),
        max(col("ship_ms")).as("max_ship_ms"),
        min(col("l_quantity").cast("int")).as("min_qty"),
        max(col("l_quantity").cast("int")).as("max_qty"))
      .withColumn("skip_ship",
        col("max_ship_ms") < loMs || col("min_ship_ms") >= hiMs)
      .withColumn("skip_qty", col("min_qty") >= 5)
  }

  /** small_file_metrics: per-partition file-size stats (count/avg/min/max,
    * small-file count) — the signal that motivates optimize (README.md:3).
    * avg is floor-integer (`div`) so both engines stay in exact arithmetic. */
  def smallFileMetrics(files: DataFrame): DataFrame =
    files.groupBy(col("part_key")).agg(
      count(lit(1)).as("n_files"),
      sum(col("size_bytes")).as("total_bytes"),
      min(col("size_bytes")).as("min_bytes"),
      max(col("size_bytes")).as("max_bytes"),
      sum((col("size_bytes") < SmallFileBytes).cast("long")).as("n_small"))
      .withColumn("avg_bytes", expr("total_bytes div n_files"))

  /** maintenance_budget: fleet-scale maintenance PLANNING — the step
    * between the reference's per-table trigger and a real deployment with
    * thousands of candidate tables and a bounded maintenance window. Each
    * partition with compactable small files is scored by its benefit
    * (`files_saved` = current file count − post-rewrite count at
    * [[TargetFileBytes]], integer ceil) and candidates are admitted
    * greedily in benefit order until the bytes-rewritten budget is spent
    * — highest metadata-pressure relief per byte of rewrite I/O first.
    *
    * Scale shape: the candidate list is metadata-plane (one row per
    * table partition — ≤10⁵-10⁶ rows for a whole lake), and the global
    * benefit-order running sum is a DISTRIBUTED two-level prefix sum:
    * range-repartition on the order key (so partition ids follow the
    * global order), a per-partition window for local cumulative bytes,
    * then a broadcast of the ≤[[BudgetRangeParts]] per-partition totals
    * whose prefix offsets lift local sums to global ones. Exactly the
    * same values as a single global window, with no partition ever
    * holding more than 1/N of the candidates. All arithmetic
    * integer-exact. */
  def maintenanceBudget(files: DataFrame,
      budgetBytes: Long = DefaultBudgetBytes,
      targetBytes: Long = TargetFileBytes): DataFrame = {
    val postFiles = s"(total_bytes + ${targetBytes - 1}) div $targetBytes"
    val cand = smallFileMetrics(files)
      .withColumn("files_saved", expr(s"n_files - $postFiles"))
      .filter(col("n_small") > 0 && col("files_saved") > 0)
    // RangePartitioning orders partitions by the sort key, so
    // spark_partition_id() IS the global order of the chunks
    val ranged = cand
      .repartitionByRange(BudgetRangeParts,
        col("files_saved").desc, col("part_key"))
      .withColumn("pid", org.apache.spark.sql.functions.spark_partition_id())
    val local = org.apache.spark.sql.expressions.Window
      .partitionBy(col("pid"))
      .orderBy(col("files_saved").desc, col("part_key"))
      .rowsBetween(Long.MinValue, 0)
    val withLocal = ranged
      .withColumn("local_cum", sum(col("total_bytes")).over(local))
    // per-partition byte totals → exclusive prefix per pid, via a
    // triangle join over the ≤BudgetRangeParts-row totals frame (no
    // global window anywhere in this plan, not even over metadata)
    val totals = withLocal.groupBy(col("pid"))
      .agg(sum(col("total_bytes")).as("part_bytes"))
    val offsets = totals.as("a")
      .join(totals.as("b"), col("b.pid") < col("a.pid"), "left")
      .groupBy(col("a.pid").as("pid"))
      .agg(coalesce(sum(col("b.part_bytes")), lit(0L)).as("offset"))
    withLocal.join(broadcast(offsets), "pid")
      .withColumn("cum_bytes", col("local_cum") + col("offset"))
      .withColumn("selected", col("cum_bytes") <= budgetBytes)
      .select("part_key", "n_files", "n_small", "total_bytes",
        "files_saved", "cum_bytes", "selected")
  }
}
