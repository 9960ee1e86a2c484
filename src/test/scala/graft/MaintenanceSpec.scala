package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark.withTempDir
import graft.engine.{Compact, Maintenance}
import graft.model.{EngineConfig, SnapshotMeta}
import graft.ops.Decide

/** End-to-end loop closure (SURVEY.md §5.2(4)): events → decision →
  * compaction → REPLACE commit → next cycle quiesces. */
class MaintenanceSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val cfg = EngineConfig()
  private val now = Decide.NowMs
  private val hour = 3600000L

  /** `n` parquet files holding the first `rows` lineitem rows. */
  private def fragmented(dir: String, n: Int, rows: Int = Int.MaxValue): Unit =
    spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
      .limit(rows).repartition(n).write.mode("overwrite").parquet(dir)

  test("maintenance budget: selection is a prefix of the benefit order") {
    import graft.ops.FilePlan
    val files = FilePlan.fileRelation(spark, "/root/testdata/sf0.001")
    val out = FilePlan.maintenanceBudget(files, budgetBytes = 3000000000L)
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(4), r.getLong(5),
        r.getBoolean(6)))
    assert(out.nonEmpty)
    // in benefit order: cum_bytes strictly increases and the selected
    // flags form a prefix (greedy admission, no cherry-picking)
    val ordered = out.sortBy { case (pk, _, saved, _, _) => (-saved, pk) }
    val cum = ordered.map(_._4)
    assert(cum.zip(cum.tail).forall { case (a, b) => a < b })
    val flags = ordered.map(_._5)
    assert(flags.zip(flags.tail).forall { case (a, b) => a || !b },
      "selected flags must be a prefix of the benefit order")
    assert(flags.exists(identity) && flags.exists(!_),
      "fixture budget should split the candidate set")
    // budget extremes: zero admits nothing, unbounded admits everything
    val none = FilePlan.maintenanceBudget(files, budgetBytes = 0L).collect()
    assert(none.forall(!_.getBoolean(6)))
    val all = FilePlan.maintenanceBudget(files, budgetBytes = Long.MaxValue)
      .collect()
    assert(all.forall(_.getBoolean(6)))
  }

  test("triggered table compacts, commits replace, and quiesces next cycle") {
    withTempDir("maint") { in1 => withTempDir("maint-out") { out1 =>
      fragmented(in1, 20)
      val tables = Map(
        1L -> Maintenance.TableDirs(in1, out1),
        2L -> Maintenance.TableDirs(in1, out1)) // t2 never triggers; unused
      // t1: 12 stale appends (both thresholds crossed); t2: 2 fresh appends
      val log =
        (1 to 12).map(i =>
          SnapshotMeta(1L, i.toLong, now - 5 * hour + i, "append")) ++
          Seq(SnapshotMeta(2L, 100L, now - 60000, "append"),
            SnapshotMeta(2L, 101L, now - 30000, "append"))

      val c1 = Maintenance.cycle(spark, log, tables, cfg, now)
      assert(c1.triggered === Seq(1L))
      assert(c1.jobIds.size === 1)
      // compaction shrank the fragmented table, content preserved
      assert(Compact.listFiles(out1).size < 20)
      assert(spark.read.parquet(out1).count() ===
        spark.read.parquet(in1).count())
      // the log gained exactly one replace commit for t1
      val replaces = c1.log.filter(_.operation == "replace")
      assert(replaces.map(_.tableId) === Seq(1L))

      // next cycle: nothing newer than the replace for t1, t2 still quiet
      val c2 = Maintenance.cycle(spark, c1.log, tables, cfg, now)
      assert(c2.triggered.isEmpty)
      assert(c2.log === c1.log)

      // new stale activity after the replace re-triggers t1 (by count)
      val moreCommits = (1 to 10).map(i =>
        SnapshotMeta(1L, 200L + i, now + i, "append"))
      val c3 = Maintenance.cycle(spark, c1.log ++ moreCommits, tables, cfg, now)
      assert(c3.triggered === Seq(1L))
    }}
  }

  test("cycle decides at the nowMs it stamps: few old commits trigger by age") {
    withTempDir("maint-clock") { root =>
      val (in, out) = (s"$root/in", s"$root/out")
      fragmented(in, 2, rows = 50)
      // 3 commits (< commitThreshold), fresh against Decide.NowMs but
      // 4 h old against the cycle's own clock
      val cycleNow = now + 5 * hour
      val log = (1 to 3).map(i =>
        SnapshotMeta(1L, i.toLong, now - hour + i, "append"))
      val c = Maintenance.cycle(spark, log,
        Map(1L -> Maintenance.TableDirs(in, out)), cfg, cycleNow)
      assert(c.triggered === Seq(1L))
      assert(c.log.drop(log.size) === Seq(SnapshotMeta(1L, 4L, cycleNow,
        "replace")))
    }
  }

  test("cycle triggers exactly the tables the windowed decision marks") {
    import spark.implicits._
    withTempDir("maint-prop") { root =>
      val in = s"$root/in"
      fragmented(in, 2, rows = 50)
      (1 to 3).foreach { seed =>
        val log = RandomLogs(seed)
        // a third of the log's tables and one absent table are managed
        val managed = (log.map(_.tableId).distinct.filter(_ % 3 != 2) :+ 99L)
          .map(t => t -> Maintenance.TableDirs(in, s"$root/out-$seed/t$t"))
          .toMap
        val oracle = Decide.shouldOptimize(
            log.toDF("table_id", "snapshot_id", "ts_ms", "operation"), cfg)
          .collect().filter(_.getBoolean(4)).map(_.getLong(0)).toSet
        val c = Maintenance.cycle(spark, log, managed, cfg, now)
        assert(c.triggered.toSet === oracle.intersect(managed.keySet),
          s"seed $seed")
        assert(c.triggered === c.triggered.sorted)
        assert(c.triggered.nonEmpty && managed.size > c.triggered.size + 1,
          s"seed $seed should both trigger and not trigger")
        assert(c.log.drop(log.size).map(_.tableId) === c.triggered)
      }
    }
  }

  test("cycle compacts with its config's strategy: sort by l_orderkey") {
    import spark.implicits._
    withTempDir("maint-sort") { root =>
      val (in, out) = (s"$root/in", s"$root/out")
      fragmented(in, 8)
      val sortCfg = cfg.copy(strategy = "sort", sortOrder = Some("l_orderkey"))
      val log = (1 to 12).map(i =>
        SnapshotMeta(1L, i.toLong, now - 5 * hour + i, "append"))
      val c = Maintenance.cycle(spark, log,
        Map(1L -> Maintenance.TableDirs(in, out)), sortCfg, now)
      assert(c.triggered === Seq(1L))
      // per output file, its l_orderkey values in file order
      val keys = Compact.listFiles(out).map(f =>
        spark.read.parquet(f.path).select("l_orderkey").as[Long].collect().toSeq)
      assert(keys.map(_.size).sum === spark.read.parquet(in).count())
      keys.foreach(k => assert(k === k.sorted, "sorted within each file"))
      val ranges = keys.filter(_.nonEmpty).map(k => (k.head, k.last))
        .sortBy(_._1)
      ranges.sliding(2).foreach {
        case Seq((_, hi), (lo, _)) => assert(hi < lo, "ranges overlap")
        case _ =>
      }
    }
  }

  test("three triggered tables all compact; ids follow table_id order") {
    withTempDir("maint-three") { root =>
      val rows = Map(7L -> 300, 3L -> 100, 5L -> 200)
      val tables = rows.map { case (t, n) =>
        fragmented(s"$root/in$t", 6, rows = n)
        t -> Maintenance.TableDirs(s"$root/in$t", s"$root/out$t")
      }
      // 12 stale appends per table, interleaved, newest table first
      val log = (1 to 12).flatMap(i => Seq(7L, 3L, 5L).map(t =>
        SnapshotMeta(t, t * 100 + i, now - 5 * hour + i, "append")))
      val c = Maintenance.cycle(spark, log, tables, cfg, now)
      assert(c.triggered === Seq(3L, 5L, 7L))
      assert(c.jobIds === Seq("local-db.tbl_3-0", "local-db.tbl_5-1",
        "local-db.tbl_7-2"))
      val maxId = log.map(_.snapshotId).max
      assert(c.log.drop(log.size) === Seq(3L, 5L, 7L).zipWithIndex.map {
        case (t, i) => SnapshotMeta(t, maxId + 1 + i, now, "replace") })
      rows.foreach { case (t, n) =>
        assert(Compact.listFiles(s"$root/out$t").size < 6)
        assert(spark.read.parquet(s"$root/out$t").count() === n)
      }
    }
  }
}
