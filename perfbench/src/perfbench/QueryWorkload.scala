package perfbench

import org.apache.spark.sql.{SaveMode, SparkSession}

import graft.SparkEntry

/** decision_queries: a closed loop over a fixed list of `QueryPack` keys
  * that read only `events`, in a fixed order. One sample is one key run to
  * completion (every output column computed, written to the no-op sink).
  * The first `warmup_ops` passes are warm-up and belong to set-up; the
  * first of them writes each key's output as parquet, for the DuckDB
  * oracle check run.py makes. */
object QueryWorkload {
  def run(spark: SparkSession, a: Args, res: Result, probe: Option[Probe],
      sessionStartMs: Double): Unit = {
    val dir = a.str("inputs")
    val keys = a.list("keys")
    val missing = keys.filterNot(SparkEntry.queries.contains)
    require(missing.isEmpty, s"unknown keys: ${missing.mkString(",")}")
    def exec(key: String): Unit =
      SparkEntry.queries(key)(spark, dir)
        .write.format("noop").mode(SaveMode.Overwrite).save()

    val outDir = a.path("work").resolve("outputs")
    keys.foreach { key =>
      SparkEntry.queries(key)(spark, dir)
        .write.mode(SaveMode.Overwrite).parquet(outDir.resolve(key).toString)
    }
    (2 to a.int("warmup_ops")).foreach(_ => keys.foreach(exec))
    res.fields("heap_warm_mb") = Session.heapAfterGcMb()
    res.fields("setup_s") = (Clock.nowMs - sessionStartMs) / 1000

    // traced on alternate passes, so every key is seen both ways
    val samples = ClosedLoop.run(a.dbl("seconds"), a.int("min_samples"),
        probe, res, i => (i + i / keys.size) % 2 == 1) { (i, p) =>
      val key = keys(i % keys.size)
      val t0 = Clock.nowMs
      val ok = try { Probe.maybe(p, "graft.ops", key)(exec(key)); true }
      catch { case e: Exception =>
        res.check(s"$key runs", ok = false, e.toString); false }
      (Clock.nowMs - t0, key, ok)
    }
    ClosedLoop.report(res, samples)
    res.fields("work") = samples.size.toDouble
    res.fields("heap_after_gc_mb") = Session.heapAfterGcMb()
    res.fields("outputs_dir") = outDir.toString
    res.fields("oracles") = keys.map(k => k -> SparkEntry.oracleSql.getOrElse(k, null)).toMap
  }
}
