package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

import graft.model.{EngineConfig, JobRun, SnapshotMeta}
import graft.ops.{Decide, EventOps}
import graft.stream.{DecideAggregator, JobTracker}

/** The driver decision fold (batch equivalence, arrival-order
  * independence) and the stateful streaming job tracker. */
class StatefulSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val dir = "/root/testdata/sf0.001"
  private val cfg = EngineConfig()

  private def decisionTuples(decisions: Seq[DecideAggregator.Decision]) =
    decisions.map { d =>
      d.table_id -> ((d.n_commits_since_replace, d.oldest_pending_ts_ms,
        d.time_triggered, d.should_optimize))
    }.toMap

  test("driver decideLog equals the windowed batch decision on real data") {
    import spark.implicits._
    val log = EventOps.snapshotLog(spark, dir).as[(Long, Long, Long, String)]
      .collect().toSeq
      .map { case (t, s, ts, op) => SnapshotMeta(t, s, ts, op) }
    val viaFold = decisionTuples(DecideAggregator.decideLog(log, cfg, Decide.NowMs))
    val viaWindow = Decide.shouldOptimize(
        EventOps.snapshotLog(spark, dir), cfg)
      .collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getBoolean(3), r.getBoolean(4))))
      .toMap
    assert(viaFold === viaWindow)
  }

  test("fold order: a late REPLACE prunes exactly the commits it supersedes") {
    import DecideAggregator.{finishBuf, reduceBuf, zeroBuf}
    val now = Decide.NowMs
    // one micro-batch saw commits at now-1h and now-10min (no replace) ...
    val appends = Seq(
      SnapshotMeta(1, 1, now - 3600000, "append"),
      SnapshotMeta(1, 2, now - 600000, "append"))
    // ... and a later one brings the replace at now-30min
    val replace = SnapshotMeta(1, 3, now - 1800000, "replace")
    val late = finishBuf(1,
      reduceBuf(appends.foldLeft(zeroBuf)(reduceBuf), replace), cfg, now)
    val sorted = finishBuf(1,
      (appends :+ replace).sortBy(_.tsMillis).foldLeft(zeroBuf)(reduceBuf),
      cfg, now)
    assert(late === sorted)
    // only the commit after the replace survives
    assert(late.n_commits_since_replace === 1L)
    assert(late.oldest_pending_ts_ms === now - 600000)
    assert(!late.should_optimize)
  }

  test("aggregator equals windowed decision on seeded random logs") {
    import spark.implicits._
    // a uniform log: 50 tables, 1 row in 8 a REPLACE
    val rnd = new scala.util.Random(7)
    val log = (1 to 2000).map { i =>
      SnapshotMeta(
        tableId = rnd.nextInt(50).toLong,
        snapshotId = i.toLong,
        tsMillis = Decide.NowMs - rnd.nextInt(6 * 3600000),
        operation = if (rnd.nextInt(8) == 0) "replace" else "append")
    }
    val viaFold = decisionTuples(DecideAggregator.decideLog(log, cfg, Decide.NowMs))
    val viaWindow = Decide.shouldOptimize(
        log.toDF("table_id", "snapshot_id", "ts_ms", "operation"), cfg)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getBoolean(3), r.getBoolean(4))))
      .toMap
    assert(viaFold === viaWindow)
  }

  test("driver decideLog equals the windowed decision row for row") {
    import spark.implicits._
    (1 to 5).foreach { seed =>
      val log = RandomLogs(seed)
      val viaFold = decisionTuples(DecideAggregator.decideLog(log, cfg, Decide.NowMs))
      val viaWindow = Decide.shouldOptimize(
          log.toDF("table_id", "snapshot_id", "ts_ms", "operation"), cfg)
        .collect().map(r => r.getLong(0) ->
          ((r.getLong(1), r.getLong(2), r.getBoolean(3), r.getBoolean(4))))
        .toMap
      assert(viaFold === viaWindow, s"seed $seed")
      assert(viaFold.values.exists(_._4) && viaFold.values.exists(!_._4),
        s"seed $seed should both trigger and not trigger")
    }
  }

  test("job tracker emits exactly one terminal event per job via streaming") {
    import spark.implicits._
    implicit val sql = spark.sqlContext
    val input = MemoryStream[JobRun]
    val q = JobTracker.terminalEvents(input.toDS())
      .writeStream.format("memory").queryName("tracker_out")
      .outputMode("append").start()
    input.addData(
      JobRun("j1", "SUBMITTED", 1), JobRun("j1", "RUNNING", 2),
      JobRun("j2", "SUBMITTED", 1))
    q.processAllAvailable()
    assert(spark.table("tracker_out").count() === 0) // nothing terminal yet
    input.addData(
      JobRun("j1", "SUCCEEDED", 3),
      JobRun("j2", "RUNNING", 2), JobRun("j2", "FAILED", 4))
    q.processAllAvailable()
    val out = spark.table("tracker_out")
      .collect().map(r => (r.getString(0), r.getString(1), r.getBoolean(3)))
    assert(out.toSet === Set(("j1", "SUCCEEDED", true), ("j2", "FAILED", false)))
    // late duplicates after terminal emission are ignored (state dropped)
    input.addData(JobRun("j1", "SUCCEEDED", 5))
    q.processAllAvailable()
    assert(spark.table("tracker_out").count() === 2)
    q.stop()
  }

  test("tombstone TTL: terminal emit arms a timeout; timeout reclaims state") {
    import org.apache.spark.api.java.Optional
    import org.apache.spark.sql.streaming.{GroupStateTimeout, TestGroupState}
    val ttl = 3600000L
    // terminal transition: emits once and arms the processing-time timeout
    val live = TestGroupState.create[JobTracker.TrackerState](
      Optional.empty(), GroupStateTimeout.ProcessingTimeTimeout,
      1000L, Optional.empty[Long](), hasTimedOut = false)
    val out = JobTracker.track(ttl)("j1",
      Iterator(JobRun("j1", "RUNNING", 1), JobRun("j1", "SUCCEEDED", 2)),
      live).toList
    assert(out.map(e => (e.jobId, e.finalState)) === List(("j1", "SUCCEEDED")))
    assert(live.isUpdated && live.get.emitted)
    assert(live.getTimeoutTimestampMs.isPresent,
      "terminal emit must arm the tombstone timeout")
    // timeout callback: tombstone removed, nothing emitted
    val timedOut = TestGroupState.create[JobTracker.TrackerState](
      Optional.of(JobTracker.TrackerState("SUCCEEDED", 2, emitted = true)),
      GroupStateTimeout.ProcessingTimeTimeout,
      ttl + 2000L, Optional.empty[Long](), hasTimedOut = true)
    val out2 = JobTracker.track(ttl)("j1", Iterator.empty, timedOut).toList
    assert(out2.isEmpty)
    assert(timedOut.isRemoved)
  }
}
