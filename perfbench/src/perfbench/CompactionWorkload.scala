package perfbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.engine.{Compact, Maintenance}
import graft.model.{EngineConfig, SnapshotMeta}

/** compaction_cycle: a closed loop of `Maintenance.cycle` calls. Each cycle
  * adds `commitThreshold` appends to every fragmented ("hot") table, so the
  * decision triggers all of them and the engine rewrites each one, while
  * the background tables stay below the threshold. The log fed to the next
  * cycle is trimmed as `expire_snapshots` would trim it (per table, the
  * newest replace and everything after), and every rewrite overwrites the
  * same output directory, so every cycle does the same work. */
object CompactionWorkload {
  /** Commits sit two hours before `Decide.NowMs`; the cycle clock starts
    * there and advances one second per cycle. */
  private val BaseMs = graft.ops.Decide.NowMs - 2 * 3600 * 1000L

  /** Per table: the newest replace and every later commit. */
  def trim(log: Seq[SnapshotMeta]): Seq[SnapshotMeta] =
    log.groupBy(_.tableId).values.flatMap { rows =>
      val cut = rows.filter(_.operation == "replace").map(_.tsMillis)
        .maxOption.getOrElse(Long.MinValue)
      rows.filter(_.tsMillis >= cut)
    }.toSeq.sortBy(_.snapshotId)

  /** Row count and an order-independent content hash per table. */
  def contents(spark: SparkSession, dirs: Seq[String]): Map[Long, (Long, Long)] = {
    val df = spark.read.parquet(dirs: _*)
    val h = xxhash64(df.columns.map(col).toSeq: _*)
    // low and high 32 bits summed apart: no overflow under ANSI mode
    df.groupBy(col("table_id"))
      .agg(count(lit(1)), sum(h.bitwiseAND(0xffffffffL)),
        sum(shiftrightunsigned(h, 32)))
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2) * 31 + r.getLong(3))).toMap
  }

  def run(spark: SparkSession, a: Args, res: Result, probe: Option[Probe],
      sessionStartMs: Double): Unit = {
    import spark.implicits._
    val in = a.path("inputs")
    val work = a.path("work")
    val cfg = EngineConfig()
    val hot = (1 to a.int("hot_tables")).map(_.toLong)
    val dirs = hot.map { t =>
      t -> Maintenance.TableDirs(in.resolve(s"tables/t$t").toString,
        work.resolve(s"out/t$t").toString)
    }.toMap
    var log: Seq[SnapshotMeta] = spark.read.parquet(in.resolve("log.parquet").toString)
      .select("table_id", "snapshot_id", "ts_ms", "operation")
      .as[(Long, Long, Long, String)].collect().toSeq
      .map { case (t, s, ts, op) => SnapshotMeta(t, s, ts, op) }
    var nowMs = BaseMs
    var logRows, filesOut, jobsFailed = 0L
    var mbOut = 0.0
    // per measured cycle: jobs run, tables triggered, tables evaluated
    val counts = Seq.newBuilder[(Int, Int, Int)]

    /** Checks that need the inputs' file counts and contents are made
      * after the timed loop, so reading the inputs is neither set-up nor
      * operation time; the inputs never change. Per cycle: its output
      * file counts and, on every eighth cycle, its output contents; the
      * flag marks a measured cycle that passed the checks made in it. */
    val deferred =
      Seq.newBuilder[(Boolean, Seq[Int], Option[Map[Long, (Long, Long)]])]

    /** One cycle; returns (wall ms, the checks made so far passed). */
    var cycles = 0
    def cycle(p: Option[Probe], measured: Boolean): (Double, Boolean) = {
      cycles += 1
      val prevMs = nowMs
      nowMs += 1000
      var nextId = log.map(_.snapshotId).max + 1
      val fresh = hot.flatMap(t => (1 to cfg.commitThreshold).map { j =>
        nextId += 1
        SnapshotMeta(t, nextId, prevMs + j * 10, "append")
      })
      val input = log ++ fresh
      val t0 = Clock.nowMs
      val r = try Probe.maybe(p, "graft.engine", "Maintenance.cycle")(
        Maintenance.cycle(spark, input, dirs, cfg, nowMs))
      catch { case e: Exception =>
        jobsFailed += 1
        res.check("cycle completes", ok = false, e.toString)
        return (Clock.nowMs - t0, false)
      }
      val ms = Clock.nowMs - t0
      val outFiles = hot.map(t => Compact.listFiles(dirs(t).outputDir))
      val replaced = r.log.filter(s => s.operation == "replace" &&
        s.tsMillis == nowMs).map(_.tableId).toSet
      val ok = Seq(
        res.check("every hot table triggers and nothing else",
          r.triggered.toSet == hot.toSet, r.triggered.mkString(",")),
        res.check("replace commit in returned log", replaced == hot.toSet)
      ).forall(identity)
      deferred += ((measured && ok, outFiles.map(_.size),
        if (cycles % 8 == 1)
          Some(scala.util.Try(contents(spark, hot.map(dirs(_).outputDir)))
            .getOrElse(Map.empty))
        else None))
      if (measured) counts += ((r.jobIds.size, r.triggered.size,
        input.map(_.tableId).distinct.size))
      logRows = input.size
      filesOut = outFiles.map(_.size).sum
      mbOut = outFiles.flatten.map(_.sizeBytes).sum / 1048576.0
      log = trim(r.log)
      (ms, ok)
    }

    // Cycles keep getting faster for dozens of cycles while the JIT compiles
    // Spark's code paths (more slowly when the host is busy); `warmup_ops`
    // cycles take the steep part of that slope out of the window.
    (1 to a.int("warmup_ops")).foreach(_ => cycle(None, measured = false))
    res.fields("heap_warm_mb") = Session.heapAfterGcMb()
    res.fields("setup_s") = (Clock.nowMs - sessionStartMs) / 1000
    val samples = ClosedLoop.run(a.dbl("seconds"), a.int("min_samples"),
        probe, res) { (_, p) =>
      val (ms, ok) = cycle(p, measured = true)
      (ms, "cycle", ok)
    }
    ClosedLoop.report(res, samples)
    res.fields("heap_after_gc_mb") = Session.heapAfterGcMb()

    val inFiles = hot.map(t => Compact.listFiles(dirs(t).inputDir))
    val mbIn = inFiles.flatten.map(_.sizeBytes).sum / 1048576.0
    val expected = contents(spark, hot.map(dirs(_).inputDir))
    var lateFailed = 0
    deferred.result().foreach { case (countable, outCounts, got) =>
      val ok = Seq(
        res.check("file count drops", inFiles.zip(outCounts).forall {
          case (fs, n) => n > 0 && n < fs.size }, outCounts.mkString(",")),
        got.forall(g => res.check("row content unchanged", g == expected))
      ).forall(identity)
      if (countable && !ok) lateFailed += 1
    }
    res.fields("failed") = res.fields("failed").asInstanceOf[Int] + lateFailed
    res.fields("work") = samples.size * mbIn
    val c = counts.result()
    def mean(f: ((Int, Int, Int)) => Double) =
      if (c.isEmpty) 0.0 else c.map(f).sum / c.size
    res.fields("layers") = Map(
      "engine.jobs" -> mean(_._1.toDouble),
      "engine.jobs_failed" -> jobsFailed.toDouble,
      "engine.files_in" -> inFiles.map(_.size).sum.toDouble,
      "engine.files_out" -> filesOut.toDouble,
      "engine.mb_in" -> mbIn,
      "engine.mb_out" -> mbOut,
      "engine.rewrite_amp" -> mbOut / mbIn,
      "ops.log_rows" -> logRows.toDouble,
      "ops.trigger_ratio" -> mean(x => x._2.toDouble / x._3))
  }
}
