package graft

import org.apache.spark.sql.SparkSession

/** The one way graft builds a local session. Bench, Verify, every other
  * main and the test suite's `TestSpark` go through [[build]], so they all
  * run the engine shape of [[conf]]. (`perfbench/` keeps its own builder:
  * it also runs trees that predate this object.)
  */
object GraftSession {

  /** Local cores when the caller names none: `SPARK_GRAFT_CPUS`, default 4. */
  private def defaultCpus: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt

  /** The conf table every graft session carries, for `cpus` local cores.
    *
    * AQE coalescing stays at the parallelism-first DEFAULT. The r18 A/B
    * (SCALE.md r18) measured size-first coalescing
    * (coalescePartitions.parallelismFirst=false) at 64 MB and 4 MB advisory
    * sizes against the same-session baseline: the overhead-bound metadata
    * tail moved within host noise (graph_triangles 0.82× in one run, 1.19×
    * in the next) while the shingle inverted-index family regressed
    * consistently in BOTH runs (rho_select 1.43-1.49×, source_overlap
    * 1.33-1.45×, dedup_ngram_jaccard_capped 1.26-1.27× — size-first
    * coalescing serializes CPU-bound small-data joins Spark sizes by
    * bytes, not compute). Net: median 0.96-1.04× per key, total −1% to
    * +7% — no free win at this granularity; the tail is
    * host-dispatch-bound, not plan-bound.
    */
  def conf(cpus: Int): Seq[(String, String)] = Seq(
    "spark.sql.extensions" -> "graft.GraftExtensions",
    "spark.sql.shuffle.partitions" -> cpus.toString,
    "spark.sql.session.timeZone" -> "UTC",
    "spark.ui.enabled" -> "false",
    // The generated-class cache defaults to 100 entries; one pass-major
    // bench sweep compiles ~148 plans' stages, so with the default EVERY
    // execution of every query recompiles its codegen (the warm sweeps
    // were paying ~20-30% janino cost that query-major's back-to-back
    // passes hid). Size it to hold the whole suite's stages.
    "spark.sql.codegen.cache.maxEntries" -> "4096",
    // SORT-BASED shuffle writer even at low reduce counts (r19). With
    // R ≤ 200 (here R = cores) Spark defaults to the bypass-merge writer:
    // every map task opens, writes and merges R separate spill files —
    // measured as a 40-120 ms CPU floor PER TASK on this suite's small
    // exchanges (OPTIMIZATION_r19.md §12: a 32-task hash-agg stage over
    // 3,200 rows cost 2.6 s of task CPU; with the sort writer 0.5 s; an
    // exchange-fed pair-count stage fell 7.1 → 0.8 s run). At lake scale
    // R is in the thousands, where Spark ALWAYS takes the sort-writer
    // path — this pins local runs to the at-scale code path instead of a
    // local-small-R special case. Parameterised so the driver's contract
    // stays tunable.
    "spark.shuffle.sort.bypassMergeThreshold" ->
      sys.env.getOrElse("SPARK_GRAFT_BYPASS_THRESHOLD", "0"))

  /** A `local[cpus]` session with [[conf]] applied and the log at WARN. */
  def build(cpus: Int = defaultCpus): SparkSession = {
    val b = SparkSession.builder().master(s"local[$cpus]")
    conf(cpus).foreach { case (k, v) => b.config(k, v) }
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
