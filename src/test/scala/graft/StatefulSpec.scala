package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.model.{EngineConfig, SnapshotMeta}
import graft.ops.{Decide, EventOps}
import graft.stream.DecideAggregator

/** The driver decision fold: batch equivalence and arrival-order
  * independence. */
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
}
