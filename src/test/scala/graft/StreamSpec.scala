package graft

import scala.jdk.CollectionConverters._

import java.nio.file.{Files, Paths}
import java.util.concurrent.{ConcurrentLinkedQueue, CyclicBarrier}

import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.streaming.checkpointing.FileContextBasedCheckpointFileManager
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark.withTempDir
import graft.engine.{DryRunExecutor, JobStateLog}
import graft.model.{EngineConfig, Fixture}
import graft.ops.{Decide, EventOps}
import graft.stream.EventPipeline

/** Streaming pipeline tests: stream/batch decision parity and end-to-end
  * event → decision → dispatch (SURVEY.md §3.1 restated). */
class StreamSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val dir = "/root/testdata/sf0.001"
  private val cfg = EngineConfig()

  /** One event row in `TestSpark.eventSchema` order. */
  private type Ev = (Long, Long, Long, String, Double, String)
  private val eventCols = TestSpark.eventSchema.fieldNames.toSeq

  /** Commit `id` on `table`, `id` ms into the minute before `Decide.NowMs`
    * (fresh: only the commit-count threshold can trigger). */
  private def commit(table: Long, id: Long, op: String = "click"): Ev =
    (id, (Decide.NowMs - 60000 + id) * 1000000L, table, op, 1.0, "{}")

  /** Drop `rows` into `srcDir` as one single-file parquet wave named
    * `name` (the file-stream source picks up new files across restarts). */
  private def addWave(srcDir: String, name: String, rows: Seq[Ev]): Unit =
    withTempDir("wave") { tmp =>
      import spark.implicits._
      rows.toDF(eventCols: _*).coalesce(1).write.mode("overwrite").parquet(tmp)
      val parts = Files.list(Paths.get(tmp)).iterator().asScala
        .filter(_.getFileName.toString.endsWith(".parquet")).toList
      assert(parts.size === 1)
      Files.copy(parts.head, Paths.get(srcDir, name))
    }

  private def openWaves(srcDir: String, session: SparkSession = spark) =
    session.readStream.schema(TestSpark.eventSchema).parquet(srcDir)

  /** Hive's `file:` file system, which deployments with Spark's jar
    * directory on the class path resolve to (its `rename` refuses an
    * existing destination). */
  private val proxyFs = "org.apache.hadoop.hive.ql.io.ProxyLocalFileSystem"

  /** A session of the shared context whose `file:` is [[proxyFs]]; the
    * shared session keeps Hadoop's `LocalFileSystem`. */
  private lazy val proxySpark = {
    val s = spark.newSession()
    s.conf.set("fs.file.impl", proxyFs)
    s.conf.set("fs.file.impl.disable.cache", "true")
    s
  }

  /** Asserts that `dir` resolves to [[proxyFs]] under `proxySpark`. */
  private def assertProxied(dir: String): Unit =
    assert(new Path(dir).getFileSystem(proxySpark.sessionState.newHadoopConf())
      .getClass.getName === proxyFs)

  /** Decision rows as comparable tuples, sorted by table. */
  private def tuples(rows: Iterable[Row]) = rows.map(r => (r.getLong(0),
    r.getLong(1), r.getLong(2), r.getBoolean(3), r.getBoolean(4)))
    .toSeq.sortBy(_._1)

  /** The rescan oracle: the batch `Decide.shouldOptimize` (the
    * DuckDB-gated `should_optimize` key) over every event in `events`. */
  private def rescan(events: Seq[Ev]) = {
    import spark.implicits._
    tuples(Decide.shouldOptimize(EventOps.snapshotLogFrom(
      events.toDF(eventCols: _*)), cfg).collect())
  }

  test("streamed should_optimize equals the batch decision") {
    val batch = Decide.shouldOptimize(EventOps.snapshotLog(spark, dir), cfg)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getBoolean(3), r.getBoolean(4)))).toMap
    val streamed = EventPipeline.decisionsViaStream(spark, dir, cfg)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getBoolean(3), r.getBoolean(4)))).toMap
    assert(streamed === batch)
    assert(streamed.nonEmpty)
  }

  test("pipeline dispatches one job per triggered table") {
    val log = new JobStateLog
    val result = EventPipeline.runStatefulOnce(spark, dir, cfg,
      _ => new DryRunExecutor(log))
    val triggered = result.decisions.count(_.getBoolean(4))
    assert(result.submittedJobs.size === triggered)
    assert(triggered > 0)
    // every submitted job reached a terminal state in the log
    result.submittedJobs.foreach { id =>
      assert(log.currentState(id) === Some("SUCCEEDED"))
    }
  }

  test("dispatch hands the deciding config to the executor (sort strategy)") {
    import spark.implicits._
    implicit val sql = spark.sqlContext
    val sortCfg = cfg.copy(strategy = "sort", sortOrder = Some("l_orderkey"))
    val input = MemoryStream[Ev]
    val executors = scala.collection.mutable.ArrayBuffer.empty[DryRunExecutor]
    withTempDir("ckpt") { ckpt =>
      val (q, result) = EventPipeline.runStatefulStreaming(
        input.toDS().toDF(eventCols: _*), sortCfg,
        _ => { val ex = new DryRunExecutor(new JobStateLog); executors += ex; ex },
        ckpt, Trigger.ProcessingTime(0))
      try {
        input.addData((1L to 12L).map(commit(9L, _)): _*)
        q.processAllAvailable()
      } finally q.stop()
      assert(result.submittedJobs.size === 1)
      assert(executors.flatMap(_.generatedSql) === Seq(
        "CALL aws_ebtm.system.rewrite_data_files(table => 'db.tbl_9', " +
          "options => map('partial-progress.enabled','true'," +
          "'max-file-group-size-bytes','10737418240'), " +
          "strategy => 'sort', sort_order => 'l_orderkey')"))
    }
  }

  test("submittedJobs can be read from another thread while batches dispatch") {
    import spark.implicits._
    implicit val sql = spark.sqlContext
    // five micro-batches, each triggering 20 tables of its own
    val batches = (0L until 5L).map(b => (1L to 20L).flatMap(t =>
      (1L to 12L).map(i => commit(b * 100 + t, b * 1000 + t * 20 + i))))
    val input = MemoryStream[Ev]
    withTempDir("ckpt") { ckpt =>
      val (q, result) = EventPipeline.runStatefulStreaming(
        input.toDS().toDF(eventCols: _*), cfg,
        _ => new DryRunExecutor(new JobStateLog), ckpt,
        Trigger.ProcessingTime(0))
      @volatile var done = false
      val errors = new ConcurrentLinkedQueue[Throwable]
      val sizes = new ConcurrentLinkedQueue[Int]
      val reader = new Thread(() =>
        try while (!done) {
          val jobs = result.submittedJobs
          assert(jobs.forall(_ != null))
          sizes.add(jobs.size)
        } catch { case e: Throwable => errors.add(e) })
      reader.start()
      try batches.foreach { b =>
        input.addData(b: _*)
        q.processAllAvailable()
      } finally { q.stop(); done = true; reader.join() }
      assert(errors.isEmpty, errors.asScala.headOption.map(_.toString))
      val seen = sizes.asScala.toSeq
      assert(seen.nonEmpty && seen === seen.sorted, "each read sees a prefix")
      assert(result.submittedJobs.size === 100)
      assert(result.submittedJobs.distinct.size === 100)
    }
  }

  test("decisions hold across micro-batch boundaries (accumulated log)") {
    import spark.implicits._
    implicit val sql = spark.sqlContext
    // 12 fresh commits for table 9, split 6 + 6 across two micro-batches:
    // per-batch evaluation would never reach the 10-commit threshold.
    val input = MemoryStream[Ev]
    withTempDir("ckpt") { ckpt =>
      val (q, result) = EventPipeline.runStatefulStreaming(
        input.toDS().toDF(eventCols: _*), cfg,
        _ => new DryRunExecutor(new JobStateLog), ckpt,
        Trigger.ProcessingTime(0))
      try {
        input.addData((1L to 6L).map(commit(9L, _)): _*)
        q.processAllAvailable()
        assert(result.decisions.count(_.getBoolean(4)) === 0)
        input.addData((7L to 12L).map(commit(9L, _)): _*)
        q.processAllAvailable()
      } finally q.stop()
      val triggered = result.decisions.filter(_.getBoolean(4)).map(_.getLong(0))
      assert(triggered === Seq(9L)) // 12 cumulative commits >= threshold
      assert(result.submittedJobs.size === 1) // dispatched exactly once
    }
  }

  test("incremental decision path does O(batch) work; rescan cross-check agrees") {
    import spark.implicits._
    implicit val sql = spark.sqlContext
    // 4 batches × 6 fresh commits, alternating tables 20 and 21 — each
    // table ends with 12 cumulative commits (>= the 10-commit threshold).
    val all = (1L to 24L).map(id => commit(20L + id % 2, id))
    val input = MemoryStream[Ev]
    withTempDir("ckpt") { ckpt =>
      val (q, result) = EventPipeline.runStatefulStreaming(
        input.toDS().toDF(eventCols: _*), cfg,
        _ => new DryRunExecutor(new JobStateLog), ckpt,
        Trigger.ProcessingTime(0))
      try all.grouped(6).zipWithIndex.foreach { case (batch, b) =>
        input.addData(batch: _*)
        q.processAllAvailable()
        // the rescan oracle over every event fed so far agrees
        assert(tuples(result.decisions) === rescan(all.take((b + 1) * 6)))
        // O(batch): each trigger reads only its own 6 rows and the state
        // holds one row per table, never the accumulated history
        assert(q.lastProgress.numInputRows === 6L)
        assert(q.lastProgress.stateOperators.map(_.numRowsTotal).sum === 2L)
        // both tables cross the threshold together, in the last batch
        assert(result.submittedJobs.size === (if (b == 3) 2 else 0))
      } finally q.stop()
    }
  }

  /** The durable dispatch dedup through three restarts, streamed by
    * `session`; `onCheckpoint` sees the checkpoint dir first. */
  private def restartDedup(session: SparkSession,
      onCheckpoint: String => Unit = _ => ()): Unit = {
    val jobLog = new JobStateLog
    withTempDir("dd-src") { src =>
      withTempDir("dd-ckpt") { ckpt =>
        onCheckpoint(ckpt)
        // one run on the shared checkpoint per wave: (table 50 triggered,
        // jobs submitted by this run)
        def run(wave: String, rows: Seq[Ev]): (Boolean, Int) = {
          addWave(src, wave, rows)
          val (q, r) = EventPipeline.runStatefulStreaming(
            openWaves(src, session), cfg, _ => new DryRunExecutor(jobLog),
            ckpt)
          q.awaitTermination()
          (r.decisions.find(_.getLong(0) === 50L).get.getBoolean(4),
            r.submittedJobs.size)
        }
        // run 1: 12 commits → triggered, submitted once
        assert(run("w1.parquet", (1L to 12L).map(commit(50L, _))) === ((true, 1)))
        // run 2 = restart with one MORE commit: still triggered, but the
        // dispatch mark restored from the state store says its job is
        // already out — it must NOT be submitted again
        assert(run("w2.parquet", Seq(commit(50L, 13L))) === ((true, 0)))
        // run 3: the compaction's replace commit lands → decision quiesces
        assert(run("w3.parquet", Seq(commit(50L, 14L, Fixture.ReplaceOp))) ===
          ((false, 0)))
        // run 4: fresh pressure after the replace → a NEW submission is due
        assert(run("w4.parquet", (15L to 26L).map(commit(50L, _))) === ((true, 1)))
      }
    }
  }

  test("restart does not re-submit a still-triggered table (durable dispatch dedup)") {
    restartDedup(spark)
  }

  test("restart does not re-submit a still-triggered table, under ProxyLocalFileSystem") {
    restartDedup(proxySpark, assertProxied)
  }

  /** Stream/batch parity through one restart, streamed by `session`;
    * `onCheckpoint` sees the checkpoint dir first. */
  private def restartParity(session: SparkSession,
      onCheckpoint: String => Unit = _ => ()): Unit = {
    val wave1 = (1L to 6L).map(commit(40L, _))
    val wave2 = (7L to 12L).map(commit(40L, _))
    val jobLog = new JobStateLog
    // two runs over the SAME checkpoint — state survives purely via the
    // state store (no side log, no manual rebuild)
    withTempDir("sf-src") { src =>
      withTempDir("sf-ckpt") { ckpt =>
        onCheckpoint(ckpt)
        addWave(src, "wave1.parquet", wave1)
        val (q1, r1) = EventPipeline.runStatefulStreaming(
          openWaves(src, session), cfg, _ => new DryRunExecutor(jobLog), ckpt)
        q1.awaitTermination()
        assert(r1.decisions.count(_.getBoolean(4)) === 0)
        assert(r1.submittedJobs.isEmpty)
        addWave(src, "wave2.parquet", wave2)
        val (q2, r2) = EventPipeline.runStatefulStreaming(
          openWaves(src, session), cfg, _ => new DryRunExecutor(jobLog), ckpt)
        q2.awaitTermination()
        val d40 = r2.decisions.find(_.getLong(0) === 40L).get
        assert(d40.getLong(1) === 12L) // pending commits survived the restart
        assert(d40.getBoolean(4))
        assert(r2.submittedJobs.size === 1) // dispatched exactly once
        // the restart read only the new wave — O(new data), no replay
        assert(q2.recentProgress.map(_.numInputRows).sum === 6L)
        // the rescan oracle over both waves lands on the identical row
        assert(tuples(r2.decisions) === rescan(wave1 ++ wave2))
      }
    }
  }

  test("stateful decision path equals the batch decision through restart") {
    restartParity(spark)
  }

  test("stateful decision path equals the batch decision through restart, under ProxyLocalFileSystem") {
    restartParity(proxySpark, assertProxied)
  }

  test("stateful decision path equals the batch decision on the fixture") {
    val batch = Decide.shouldOptimize(EventOps.snapshotLog(spark, dir), cfg)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getBoolean(3), r.getBoolean(4)))).toMap
    val stateful = EventPipeline.runStatefulOnce(spark, dir, cfg,
      _ => new DryRunExecutor(new JobStateLog))
    val got = stateful.decisions.map(r => r.getLong(0) ->
      ((r.getLong(1), r.getLong(2), r.getBoolean(3), r.getBoolean(4)))).toMap
    assert(got === batch)
    assert(stateful.submittedJobs.size === got.values.count(_._4))
  }

  test("decisionsViaStream has the batch decision's column names and types, in order") {
    def columns(df: org.apache.spark.sql.DataFrame) =
      df.schema.fields.map(f => (f.name, f.dataType)).toSeq
    assert(columns(EventPipeline.decisionsViaStream(spark, dir, cfg)) ===
      columns(Decide.shouldOptimize(EventOps.snapshotLog(spark, dir), cfg)))
  }

  test("decisionsViaStream leaves no temporary checkpoint behind") {
    def checkpoints(): Set[String] =
      Option(new java.io.File(System.getProperty("java.io.tmpdir")).list())
        .fold(Set.empty[String])(_.filter(_.startsWith("graft-stateful-ckpt")).toSet)
    val before = checkpoints()
    assert(EventPipeline.decisionsViaStream(spark, dir, cfg).count() > 0)
    assert(checkpoints() === before)
  }

  test("readEventStream streams a Spark-written events directory given as a file: URI") {
    import spark.implicits._
    withTempDir("uri-src") { root =>
      (1L to 50L).map(commit(7L, _)).toDF(eventCols: _*)
        .repartition(2).write.parquet(s"$root/events.parquet")
      val q = EventPipeline.readEventStream(spark, s"file:$root")
        .writeStream.format("memory").queryName("uri_events")
        .trigger(Trigger.AvailableNow()).start()
      try q.awaitTermination() finally q.stop()
      assert(spark.table("uri_events").count() === 50L)
    }
  }

  private val managerClassKey = "spark.sql.streaming.checkpointFileManagerClass"
  private val fileContextManager =
    classOf[FileContextBasedCheckpointFileManager].getName

  /** Feed `batches` through `runStatefulStreaming` over a `MemoryStream`
    * on checkpoint `ckpt`, one micro-batch each. */
  private def runMemoryBatches(ckpt: String, batches: Seq[Seq[Ev]]): Unit = {
    import spark.implicits._
    implicit val sql = spark.sqlContext
    val input = MemoryStream[Ev]
    val (q, _) = EventPipeline.runStatefulStreaming(
      input.toDS().toDF(eventCols: _*), cfg,
      _ => new DryRunExecutor(new JobStateLog), ckpt,
      Trigger.ProcessingTime(0))
    try batches.foreach { b =>
      input.addData(b: _*)
      q.processAllAvailable()
    } finally q.stop()
  }

  /** Run `runStatefulStreaming` over the file source `openWaves` as one
    * query (under `root`: `src/` watched, `ckpt/` its checkpoint), one
    * micro-batch per wave. Every wave is written before the query starts
    * and moved into `src/` only when its turn comes, by an atomic rename:
    * no Spark job runs between batches and the source never lists a
    * half-written file. `before(i)` runs just before wave `i` moves. */
  private def runFileWaves(root: String, waves: Seq[Seq[Ev]])(
      before: Int => Unit = _ => ()): EventPipeline.RunResult = {
    val staged = Files.createDirectories(Paths.get(root, "staged"))
    val src = Files.createDirectories(Paths.get(root, "src"))
    waves.zipWithIndex.foreach { case (rows, i) =>
      addWave(staged.toString, s"w$i.parquet", rows) }
    val (q, r) = EventPipeline.runStatefulStreaming(openWaves(src.toString),
      cfg, _ => new DryRunExecutor(new JobStateLog), s"$root/ckpt",
      Trigger.ProcessingTime(0))
    try waves.indices.foreach { i =>
      before(i)
      Files.move(staged.resolve(s"w$i.parquet"), src.resolve(s"w$i.parquet"))
      q.processAllAvailable()
    } finally q.stop()
    r
  }

  /** Commands of the processes started from a checkpoint manager's or a
    * metadata log's frames while `body` runs (a JFR recording kept in
    * `tmp`). */
  private def checkpointForks(tmp: String)(body: => Unit): Seq[String] = {
    val rec = new Recording()
    rec.enable("jdk.ProcessStart").withStackTrace()
    rec.start()
    try body finally rec.stop()
    val dump = Files.createTempFile(Paths.get(tmp), "rec", ".jfr")
    rec.dump(dump)
    rec.close()
    RecordingFile.readAllEvents(dump).asScala.filter { e =>
      Option(e.getStackTrace).exists(_.getFrames.asScala.exists { f =>
        val t = f.getMethod.getType.getName
        t.contains("CheckpointFileManager") || t.contains("HDFSMetadataLog")
      })
    }.map(_.getString("command")).toSeq
  }

  test("checkpoint writes of the decision stream start no process") {
    withTempDir("jfr") { tmp =>
      val memory = checkpointForks(tmp)(runMemoryBatches(s"$tmp/ckpt",
        (1L to 3L).map(b => (1L to 6L).map(i => commit(b, b * 10 + i)))))
      assert(memory.isEmpty, memory.take(5).mkString("; "))
      // a file source adds its metadata log (sources/0), one entry a batch
      val file = checkpointForks(tmp)(runFileWaves(s"$tmp/file",
        (1L to 3L).map(b => (1L to 6L).map(i => commit(b, b * 10 + i))))())
      assert(file.isEmpty, file.take(5).mkString("; "))
    }
  }

  test("the decision stream compiles nothing after warm-up") {
    // five waves over the same three tables: two warm the stream, the
    // next three must reuse every generated class; the third wave
    // crosses the commit threshold, so a measured batch dispatches
    val waves = (0L until 5L).map(w =>
      (1L to 3L).flatMap(t => (1L to 4L).map(i => commit(t, w * 100 + t * 10 + i))))
    var warm = 0L
    val result = withTempDir("compile") { tmp =>
      runFileWaves(tmp, waves) { i =>
        if (i == 2) warm = CodeGenerator.compileTime }
    }
    val compiledNs = CodeGenerator.compileTime - warm
    assert(compiledNs === 0L,
      s"${compiledNs / 1e6} ms compiled in three warm micro-batches")
    assert(result.submittedJobs.size === 3)
  }

  test("TableState round-trips the decision buffer without an array") {
    import spark.implicits._
    import EventPipeline.TableState
    import graft.stream.DecideAggregator.DecideBuf
    val pendings = Seq(Nil, Seq(42L),
      Seq(Long.MinValue, -1L, 0L, 1L, Long.MaxValue) ++ (100L to 120L))
    for (pending <- pendings; last <- Seq(Long.MinValue, 7L);
         dispatched <- Seq(false, true)) {
      val buf = DecideBuf(last, pending)
      val st = TableState.of(buf, dispatched)
      assert(st.pending.length === 8 * pending.size)
      // through Spark's state encoder and back
      val back = Seq(st).toDS().collect().head
      assert(back.buf === buf)
      assert(back.dispatched === dispatched)
    }
    assert(!implicitly[org.apache.spark.sql.Encoder[TableState]].schema
      .fields.exists(_.dataType.isInstanceOf[org.apache.spark.sql.types.ArrayType]))
  }

  test("the checkpoint manager class is scoped to the query; a caller's class is kept") {
    // offsets/ of one micro-batch over a memory source and sources/0/ of
    // one over a file source, each on a fresh checkpoint
    def logs(): (Set[String], Set[String]) = withTempDir("scoped") { tmp =>
      runMemoryBatches(s"$tmp/ckpt", Seq(Seq(commit(1L, 1L))))
      runFileWaves(s"$tmp/file", Seq(Seq(commit(1L, 1L))))()
      (new java.io.File(s"$tmp/ckpt/offsets").list().toSet,
        new java.io.File(s"$tmp/file/ckpt/sources/0").list().toSet)
    }
    val conf0 = spark.conf.getAll
    assert(!conf0.contains(managerClassKey))
    val (graftOffsets, graftSource) = logs()
    assert(graftOffsets.contains("0") && graftSource.contains("0"))
    // no Hadoop checksum: graft's manager wrote both logs
    assert(!(graftOffsets ++ graftSource).exists(_.endsWith(".crc")))
    // no manager key left behind, and the conf otherwise unchanged
    assert(spark.conf.getAll === conf0)
    spark.conf.set(managerClassKey, fileContextManager)
    try {
      val (offsets, source) = logs()
      // the caller's manager wrote both, the source log included
      assert(offsets.contains(".0.crc") && source.contains(".0.crc"))
      assert(spark.conf.get(managerClassKey) === fileContextManager)
    } finally spark.conf.unset(managerClassKey)
  }

  test("concurrent starts on one session route every log through graft's manager") {
    val conf0 = spark.conf.getAll
    withTempDir("race") { tmp =>
      (0 until 4).foreach { round =>
        val roots = (0 until 2).map(i => s"$tmp/r$round-$i")
        val streams = roots.map { root =>
          val src = Files.createDirectories(Paths.get(root, "src")).toString
          addWave(src, "w0.parquet", Seq(commit(1L, 1L)))
          openWaves(src)
        }
        val barrier = new CyclicBarrier(roots.size)
        val errors = new ConcurrentLinkedQueue[Throwable]
        val threads = roots.zip(streams).map { case (root, events) =>
          new Thread(() =>
            try {
              barrier.await()
              val (q, _) = EventPipeline.runStatefulStreaming(events, cfg,
                _ => new DryRunExecutor(new JobStateLog), s"$root/ckpt")
              q.awaitTermination()
            } catch { case e: Throwable => errors.add(e) })
        }
        threads.foreach(_.start())
        threads.foreach(_.join())
        assert(errors.isEmpty, errors.asScala.headOption.map(_.toString))
        roots.foreach { root =>
          val logs = Seq("offsets", "sources/0").flatMap(d =>
            new java.io.File(s"$root/ckpt/$d").list().toSeq)
          assert(logs.count(_ == "0") === 2, s"round $round: $logs")
          assert(!logs.exists(_.endsWith(".crc")),
            s"round $round: Spark's manager wrote $root: $logs")
        }
      }
    }
    assert(spark.conf.getAll === conf0)
  }

  test("a checkpoint begun by Spark's FileContext manager resumes under graft's") {
    val jobLog = new JobStateLog
    // table 61 triggers in run 1 and stays triggered; table 60 crosses
    // the threshold only in run 2
    val wave1 = (1L to 6L).map(commit(60L, _)) ++
      (101L to 112L).map(commit(61L, _))
    val wave2 = (7L to 12L).map(commit(60L, _)) :+ commit(61L, 113L)
    withTempDir("xm-src") { src =>
      withTempDir("xm-ckpt") { ckpt =>
        def run(wave: String, rows: Seq[Ev]) = {
          addWave(src, wave, rows)
          val (q, r) = EventPipeline.runStatefulStreaming(openWaves(src),
            cfg, _ => new DryRunExecutor(jobLog), ckpt)
          q.awaitTermination()
          r
        }
        spark.conf.set(managerClassKey, fileContextManager)
        val r1 = try run("w1.parquet", wave1)
          finally spark.conf.unset(managerClassKey)
        assert(r1.submittedJobs.size === 1) // table 61
        val r2 = run("w2.parquet", wave2)
        assert(r2.submittedJobs.size === 1) // table 60 only, 61 not again
        assert(tuples(r2.decisions) === rescan(wave1 ++ wave2))
        val offsets = new java.io.File(s"$ckpt/offsets").list().toSet
        assert(offsets.contains(".0.crc")) // run 1: Spark's manager
        assert(offsets.contains("1") && !offsets.contains(".1.crc")) // graft's
      }
    }
  }

  test("watermarked tumbling windows finalize and drop late data") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.functions._
    implicit val sql = spark.sqlContext
    val input = MemoryStream[(Long, String)] // (tsMillis, event_type)
    val agg = input.toDS().toDF("ts_ms", "event_type")
      .withColumn("event_time", timestamp_millis(col("ts_ms")))
      .withWatermark("event_time", "10 minutes")
      .groupBy(window(col("event_time"), "5 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(unix_millis(col("window.start")).as("w"), col("event_type"),
        col("n"))
    val q = agg.writeStream.format("memory").queryName("wm_out")
      .outputMode("append").start()
    val base = 1706659200000L // fixture "now", window-aligned
    // two events in window [base, base+5m)
    input.addData((base + 60000, "click"), (base + 120000, "click"))
    q.processAllAvailable()
    // advance watermark past that window's end (+5m) + delay (10m)
    input.addData((base + 20 * 60000, "view"))
    q.processAllAvailable()
    val afterAdvance = spark.table("wm_out").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    assert(afterAdvance.contains((base, "click", 2L))) // window finalized
    // a late event for the finalized window must be dropped
    input.addData((base + 90000, "click"))
    q.processAllAvailable()
    input.addData((base + 40 * 60000, "view")) // push watermark further
    q.processAllAvailable()
    q.stop()
    val finals = spark.table("wm_out").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    assert(finals.count(_ == ((base, "click", 2L))) === 1)
    assert(!finals.contains((base, "click", 3L))) // late row never counted
  }

  test("stream-stream interval join (attribution) equals the batch join") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.streaming.Trigger
    // two genuine streams over the same fixture (views / purchases),
    // joined with watermarks + time-range — the state-bounded
    // stream-stream join shape; inner-join matches emit without waiting
    // for the watermark, so one AvailableNow pass yields the full set
    val views = EventPipeline.readEventStream(spark, dir)
      .filter(col("event_type") === "view")
    val purchases = EventPipeline.readEventStream(spark, dir)
      .filter(col("event_type") === "purchase")
    val q = EventPipeline.attributionJoin(views, purchases)
      .writeStream.format("memory").queryName("attr_out")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val got = spark.table("attr_out").collect().map(_.toSeq).toSet
    val want = EventPipeline.attribution(EventOps.events(spark, dir))
      .collect().map(_.toSeq).toSet
    assert(want.nonEmpty)
    assert(got === want)
  }

  test("stream-static enrichment join matches the batch join") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.functions._
    implicit val sql = spark.sqlContext
    // static dimension: table_id → owning region (from nation fixture)
    val dim = Tables.load(spark, dir, "nation")
      .select(col("n_nationkey").cast("long").as("table_id"),
        lower(col("n_name")).as("owner"))
    val input = MemoryStream[(Long, Long)] // (snapshot_id, table_id)
    val enriched = input.toDS().toDF("snapshot_id", "table_id")
      .join(broadcast(dim), Seq("table_id"), "left")
      .select("table_id", "snapshot_id", "owner")
    val q = enriched.writeStream.format("memory").queryName("enrich_out")
      .outputMode("append").start()
    input.addData((101L, 1L), (102L, 3L), (103L, 999L))
    q.processAllAvailable()
    q.stop()
    val out = spark.table("enrich_out").collect()
      .map(r => (r.getLong(0), Option(r.getString(2)))).toMap
    val batchDim = dim.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out(1L) === batchDim.get(1L))
    assert(out(3L) === batchDim.get(3L))
    assert(out(999L) === None) // unmatched stream row survives the left join
  }

  test("streaming ingest dedup suppresses duplicates within the horizon") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sql = spark.sqlContext
    val input = MemoryStream[(Long, String, Long)]
    val base = 1706659200000L
    val out = graft.exts.Dedup.streamingDedup(
      input.toDS().toDF("doc_id", "text", "ingest_ts_ms"))
    val q = out.writeStream.format("memory").queryName("dedup_out")
      .outputMode("append").start()
    // batch 1: two distinct docs + an in-batch duplicate of doc 1
    input.addData(
      (1L, "alpha beta", base),
      (2L, "gamma delta", base + 1000),
      (3L, "alpha beta", base + 2000))
    q.processAllAvailable()
    // batch 2: a cross-batch duplicate inside the horizon + one new doc
    input.addData(
      (4L, "gamma delta", base + 3000),
      (5L, "epsilon zeta", base + 4000))
    q.processAllAvailable()
    q.stop()
    val kept = spark.table("dedup_out").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    // exactly one row per distinct text, the first arrival wins
    assert(kept.map(_._2).sorted.toSeq ===
      Seq("alpha beta", "epsilon zeta", "gamma delta"))
    assert(kept.toSet === Set(
      (1L, "alpha beta"), (2L, "gamma delta"), (5L, "epsilon zeta")))
  }

  test("ANN serving: per-batch stream results equal the batch composed search") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sql = spark.sqlContext
    val dir = "/root/testdata/sf0.001"
    // query vectors = the fixture's first 8 corpus vectors, split in two
    // arrival batches, so the expected results are exactly ivf_pq_search's
    val qvecs = spark.read.parquet(s"$dir/embeddings.parquet")
      .filter(org.apache.spark.sql.functions.col("vec_id") < 8)
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1)))
    val input = MemoryStream[(Long, Seq[Float])]
    val results = scala.collection.mutable.ArrayBuffer
      .empty[(Long, Long, Int, Long)]
    val q = graft.stream.AnnServing.start(spark, dir,
      input.toDS().toDF("query_id", "embedding"),
      (df, _) => results.synchronized {
        results ++= df.collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getLong(3)))
      })
    input.addData(qvecs.take(4).toSeq)
    q.processAllAvailable()
    input.addData(qvecs.drop(4).toSeq)
    q.processAllAvailable()
    q.stop()
    val expected = graft.exts.PqIndex.ivfPqSearch(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getLong(3)))
      .toSet
    assert(results.toSet === expected)
    assert(results.size === expected.size) // no duplicate emissions
  }

  test("lex index loop: delta serving exact; threshold compaction; replay gated") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.functions.{array_distinct, col, explode,
      split, trim}
    implicit val sql = spark.sqlContext
    import graft.exts.TextAnalysis
    import graft.stream.LexIndexLoop
    withTempDir("lexloop") { root =>
      val corpus = graft.Tables.load(spark, dir, "documents")
        .select(col("doc_id"), col("text"))
      val index = LexIndexLoop.buildIndex(spark, corpus, root)
      val base = corpus.collect().map(r => (r.getLong(0), r.getString(1)))
      // threshold = 200‰ of 500 indexed docs = 100 pending docs
      val b1 = base.take(40).map { case (id, t) => (id + 600000L, t) }.toSeq
      val b2 = base.slice(40, 110)
        .map { case (id, t) => (id + 700000L, t) }.toSeq
      val queries = base.take(5)
        .map { case (id, t) => (id + 900000L, t) }.toSeq
      def inline(docs: org.apache.spark.sql.DataFrame)
          : Set[(Long, Long, Int, Long)] = {
        val q = queries.toDF("doc_id", "text")
          .select(col("doc_id").as("query_id"),
            explode(array_distinct(split(trim(col("text")), "\\s+")))
              .as("term"))
        TextAnalysis.bm25ScoreAgainst(TextAnalysis.bm25Postings(docs),
            TextAnalysis.bm25Stats(docs), q, 10, excludeSelf = false)
          .collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getLong(3)))
          .toSet
      }
      def served(st: LexIndexLoop.State): Set[(Long, Long, Int, Long)] =
        LexIndexLoop.scoreAgainst(spark, st, queries.toDF("doc_id", "text"))
          .collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getLong(3)))
          .toSet
      val cycles = scala.collection.mutable.ArrayBuffer
        .empty[(Long, Boolean, Long)]
      val input = MemoryStream[(Long, String)]
      val q = LexIndexLoop.start(spark, index, root,
        input.toDS().toDF("doc_id", "text"),
        (_, landed, merged, v) => cycles.synchronized {
          cycles += ((landed, merged, v)) })
      // arrival 1: below threshold — delta segment, no compaction, and
      // the COMPOSITE serving result is bit-identical to a fresh index
      // over corpus ∪ b1
      input.addData(b1)
      q.processAllAvailable()
      assert(index.version === 0L)
      assert(index.snapshot.nPending === 40L)
      assert(index.snapshot.pending.length === 1)
      assert(served(index.snapshot) ===
        inline(corpus.unionByName(b1.toDF("doc_id", "text"))))
      // arrival 2: crosses the threshold — compaction fires, version
      // bumps, pending clears; post-merge serving equals a fresh index
      // over corpus ∪ b1 ∪ b2 (the doc-disjoint merge exactness)
      input.addData(b2)
      q.processAllAvailable()
      assert(index.version === 1L)
      assert(index.snapshot.nPending === 0L)
      assert(index.snapshot.pending.isEmpty)
      assert(index.snapshot.nIndexed === 610L)
      val full = corpus.unionByName(b1.toDF("doc_id", "text"))
        .unionByName(b2.toDF("doc_id", "text"))
      assert(served(index.snapshot) === inline(full))
      // replayed arrival: every id already indexed — gated, nothing
      // lands, no decision fires
      input.addData(b1)
      q.processAllAvailable()
      assert(index.version === 1L)
      assert(index.snapshot.nPending === 0L)
      assert(cycles.toSeq === Seq((40L, false, 0L), (70L, true, 1L),
        (0L, false, 1L)))
      q.stop()
      // online serving path reports the compacted version with the batch
      val qIn = MemoryStream[(Long, String)]
      val out = scala.collection.mutable.ArrayBuffer
        .empty[((Long, Long, Int, Long), Long)]
      val sq = LexIndexLoop.serveWith(spark, index,
        qIn.toDS().toDF("doc_id", "text"),
        (df, _, v) => out.synchronized {
          out ++= df.collect().map(r =>
            ((r.getLong(0), r.getLong(1), r.getInt(2), r.getLong(3)), v))
        })
      qIn.addData(queries)
      sq.processAllAvailable()
      sq.stop()
      assert(out.map(_._2).toSet === Set(1L))
      assert(out.map(_._1).toSet === inline(full))
      // within-batch duplicate: one trigger delivering a doc TWICE lands
      // it once (the deterministic pre-gate id dedup) — fresh root: a
      // NEW query's batch ids restart at 0, and the commit markers of
      // the first query must not mistake them for replays
      withTempDir("lexloop2") { root2 =>
        val index2 = LexIndexLoop.buildIndex(spark, corpus, root2)
        val input2 = MemoryStream[(Long, String)]
        val q2 = LexIndexLoop.start(spark, index2, root2,
          input2.toDS().toDF("doc_id", "text"),
          (_, landed, merged, v) => cycles.synchronized {
            cycles += ((landed, merged, v)) })
        input2.addData(Seq((800000L, base.head._2), (800000L, base.head._2)))
        q2.processAllAvailable()
        q2.stop()
        assert(cycles.last === ((1L, false, 0L)))
        assert(index2.snapshot.nPending === 1L)
        // replay no-op (the LoopCore marker discipline, new in r15): the
        // SAME batch id re-delivered — a checkpointed restart — restores
        // the recorded state and lands nothing twice
        val beforeReplay = index2.snapshot
        LexIndexLoop.applyBatch(spark, index2, root2,
          Seq((800001L, base.head._2)).toDF("doc_id", "text"), 0L,
          (_, landed, merged, v) => cycles.synchronized {
            cycles += ((landed, merged, v)) })
        assert(cycles.last === ((0L, false, 0L)))
        assert(index2.snapshot === beforeReplay)
        // reattach: a fresh handle from the markers serves the identical
        // composite
        val re = LexIndexLoop.reattach(spark, root2)
        assert(re.snapshot === beforeReplay)
        assert(LexIndexLoop.scoreAgainst(spark, re.snapshot,
            queries.toDF("doc_id", "text")).collect()
            .map(_.toString).toSet ===
          LexIndexLoop.scoreAgainst(spark, index2.snapshot,
            queries.toDF("doc_id", "text")).collect()
            .map(_.toString).toSet)
        // compaction retention: drive the FIRST loop's root through a
        // second compaction — the deltas absorbed by compaction 1 die at
        // compaction 2 (one-generation lag) and v0 leaves the retain
        // window, while v1 (a just-superseded reader's main) survives
        val absorbed1 = java.nio.file.Paths.get(s"$root/p0")
        assert(java.nio.file.Files.isDirectory(absorbed1),
          "compaction 1's absorbed delta must survive its own compaction")
        val b3 = base.slice(110, 240)
          .map { case (id, t) => (id + 750000L, t) }.toSeq
        LexIndexLoop.applyBatch(spark, index, root,
          b3.toDF("doc_id", "text"), 3L, (_, _, _, _) => ())
        assert(index.version === 2L)
        assert(!java.nio.file.Files.isDirectory(absorbed1),
          "deltas absorbed by the previous compaction must be swept")
        assert(!java.nio.file.Files.isDirectory(
          java.nio.file.Paths.get(s"$root/v0")),
          "main segments beyond the retain window must be swept")
        assert(java.nio.file.Files.isDirectory(
          java.nio.file.Paths.get(s"$root/v1")))
      }
    }
  }

  test("hybrid serving: per-batch stream results equal the fused batch scorers") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.functions.col
    implicit val sql = spark.sqlContext
    val dir = "/root/testdata/sf0.001"
    // queries = first 6 corpus docs paired with their embeddings, ids
    // offset into their own range (the serving convention), two arrivals
    val texts = spark.read.parquet(s"$dir/documents.parquet")
      .filter(col("doc_id") < 6)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        r.getAs[String]("text")).toMap
    val vecs = spark.read.parquet(s"$dir/embeddings.parquet")
      .filter(col("vec_id") < 6)
      .collect().map(r => r.getLong(0) -> r.getSeq[Float](1)).toMap
    val qs = texts.keys.toSeq.sorted
      .map(id => (id + 900000L, texts(id), vecs(id)))
    val input = MemoryStream[(Long, String, Seq[Float])]
    val results = scala.collection.mutable.ArrayBuffer
      .empty[(Long, Long, Long, Long, Long, Long)]
    val q = graft.stream.HybridServing.start(spark, dir,
      input.toDS().toDF("query_id", "text", "embedding"),
      (df, _) => results.synchronized {
        results ++= df.collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
            r.getLong(3), r.getLong(4), r.getLong(5)))
      })
    input.addData(qs.take(3))
    q.processAllAvailable()
    input.addData(qs.drop(3))
    q.processAllAvailable()
    q.stop()
    // expected: the same fusion composed directly from the two
    // index-served batch scorers over the full query frame
    val batchDf = qs.toDF("query_id", "text", "embedding")
    val lex = graft.exts.Bm25Index.scoreBatch(spark, dir,
      batchDf.select(col("query_id").as("doc_id"), col("text")))
    val vec = graft.exts.PqIndex.ivfPqSearchFor(spark, dir,
      batchDf.select(col("query_id"), col("embedding")),
      graft.exts.TextAnalysis.HybridTopK, 1)
      .select(col("query_id"), col("neighbor_id").as("doc_id"),
        col("rank"))
    val expected = graft.exts.TextAnalysis.rrfFuse(lex, vec).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5))).toSet
    assert(expected.nonEmpty)
    assert(results.toSet === expected)
    assert(results.size === expected.size) // no duplicate emissions
    // both towers contribute to the fused serving results
    assert(results.exists(_._5 > 0))
    assert(results.exists(_._6 > 0))
  }

  test("BM25 serving: per-batch stream results equal the batch scorer") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sql = spark.sqlContext
    val dir = "/root/testdata/sf0.001"
    // query docs = the standard incoming batch's bounded micro-batch
    // slice, split in two arrivals — expected results are bm25_batch's
    val batch = graft.exts.Dedup.incomingBatch(spark, dir)
      .filter(org.apache.spark.sql.functions.col("doc_id") % 100000L < 160L)
    val qdocs = batch.collect().map(r => (r.getLong(0), r.getString(1)))
    assert(qdocs.length > 4)
    val input = MemoryStream[(Long, String)]
    val results = scala.collection.mutable.ArrayBuffer
      .empty[(Long, Long, Int, Long)]
    val q = graft.stream.Bm25Serving.start(spark, dir,
      input.toDS().toDF("doc_id", "text"),
      (df, _) => results.synchronized {
        results ++= df.collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getLong(3)))
      })
    input.addData(qdocs.take(4).toSeq)
    q.processAllAvailable()
    input.addData(qdocs.drop(4).toSeq)
    q.processAllAvailable()
    q.stop()
    val expected = graft.exts.Bm25Index.scoreBatch(spark, dir, batch)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getLong(3)))
      .toSet
    assert(results.toSet === expected)
    assert(results.size === expected.size) // no duplicate emissions
  }

  test("media serving: per-batch stream verdicts equal the batch ingest gate") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sql = spark.sqlContext
    val dir = "/root/testdata/sf0.001"
    // the incoming-asset fixture streamed in two arrivals; per-asset
    // rows are independent, so the union must equal the batch gate
    val assets = graft.exts.Multimodal.pngAssetsIncoming(spark, dir)
      .collect().map(a => (a.doc_id, a.png))
    assert(assets.length > 10)
    val input = MemoryStream[(Long, Array[Byte])]
    val results = scala.collection.mutable.ArrayBuffer
      .empty[(Long, Long, Long, Long, Long)]
    val q = graft.stream.MediaServing.start(spark, dir,
      input.toDS().toDF("doc_id", "png"),
      (df, _) => results.synchronized {
        results ++= df.collect().map(r => (r.getLong(0), r.getLong(1),
          r.getLong(2), r.getLong(3), r.getLong(4)))
      })
    input.addData(assets.take(7).toSeq)
    q.processAllAvailable()
    input.addData(assets.drop(7).toSeq)
    q.processAllAvailable()
    q.stop()
    val expected = graft.exts.Multimodal.mmDupIncremental(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSet
    assert(results.toSet === expected)
    assert(results.size === expected.size) // no duplicate emissions
    // both dispositions flow through the serve path
    assert(results.exists(_._5 == 1L) && results.exists(_._5 == 0L))
  }

  // shared scaffolding of the media-loop tests: version-0 serving set
  // over the three corpus matcher fixtures + the incoming single-asset
  // pools (ids offset by IncomingIdOffset; re-uploads are trimmed one
  // position off their own corpus cut, novels draw far-offset streams)
  private def mediaLoopCorpus(dir: String) = {
    import graft.exts.Multimodal
    (Multimodal.canonicalSignatures(
        Multimodal.pngAssetsNearDups(spark, dir)).toDF(),
      Multimodal.videoFingerprints(
        Multimodal.gifClipAssets(spark, dir)).toDF(),
      Multimodal.audioWindowFps(
        Multimodal.wavClipAssets(spark, dir)).toDF())
  }

  test("media serving (all modalities): stream verdicts equal the three registered batch gates") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sql = spark.sqlContext
    import graft.exts.Multimodal
    val dir = "/root/testdata/sf0.001"
    // the three incoming fixtures interleaved and split across two
    // arrivals; per-asset rows are independent, so the union must
    // equal the three registered batch keys exactly
    val all = (Multimodal.pngAssetsIncoming(spark, dir).collect()
        .map(a => (a.doc_id, "img", a.png)) ++
      Multimodal.gifClipAssetsIncoming(spark, dir).collect()
        .map(a => (a.doc_id, "vid", a.gif)) ++
      Multimodal.wavClipAssetsIncoming(spark, dir).collect()
        .map(a => (a.doc_id, "aud", a.wav))).sortBy(_._1)
    assert(all.length > 100)
    val input = MemoryStream[(Long, String, Array[Byte])]
    val results = scala.collection.mutable.ArrayBuffer
      .empty[(Long, String, Long, Long, Long, Long)]
    val q = graft.stream.MediaServing.startMedia(spark, dir,
      input.toDS().toDF("doc_id", "modality", "media"),
      (df, _) => results.synchronized {
        results ++= df.collect().map(r => (r.getLong(0), r.getString(1),
          r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))
      })
    input.addData(all.take(all.length / 2).toSeq)
    q.processAllAvailable()
    input.addData(all.drop(all.length / 2).toSeq)
    q.processAllAvailable()
    q.stop()
    def expected(df: org.apache.spark.sql.DataFrame, m: String) =
      df.collect().map(r => (r.getLong(0), m, r.getLong(1),
        r.getLong(2), r.getLong(3), r.getLong(4))).toSet
    val exp = expected(Multimodal.mmDupIncremental(spark, dir), "img") ++
      expected(Multimodal.mmVidIncremental(spark, dir), "vid") ++
      expected(Multimodal.mmAudIncremental(spark, dir), "aud")
    assert(results.toSet === exp)
    assert(results.size === exp.size) // no duplicate emissions
    // all three modalities actually flowed through the serve path
    assert(Set("img", "vid", "aud").subsetOf(results.map(_._2).toSet))
  }

  test("pair serving: stream verdicts equal the mm_pair_gate batch key under an arrival split") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.functions.col
    implicit val sql = spark.sqlContext
    import graft.exts.Multimodal
    val dir = "/root/testdata/sf0.001"
    val caps = Multimodal.pairCaptions(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val pairs = Multimodal.pngAssetsIncoming(spark, dir).collect()
      .map(a => (a.doc_id, a.png, caps(a.doc_id))).sortBy(_._1)
    assert(pairs.length > 30)
    val input = MemoryStream[(Long, Array[Byte], String)]
    val results = scala.collection.mutable.ArrayBuffer
      .empty[(Long, Long, Long, Long, Long, String)]
    val q = graft.stream.MediaServing.startPairs(spark, dir,
      input.toDS().toDF("doc_id", "png", "caption"),
      (df, _) => results.synchronized {
        results ++= df.collect().map(r => (r.getLong(0), r.getLong(1),
          r.getLong(2), r.getLong(3), r.getLong(4), r.getString(5)))
      })
    input.addData(pairs.take(pairs.length / 2).toSeq)
    q.processAllAvailable()
    input.addData(pairs.drop(pairs.length / 2).toSeq)
    q.processAllAvailable()
    q.stop()
    val expected = Multimodal.mmPairGate(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getString(5))).toSet
    assert(results.toSet === expected)
    assert(results.size === expected.size) // no duplicate emissions
    // both sides of the composition actually exercised on the stream
    assert(results.exists(_._6 == "drop_duplicate_pair") &&
      results.exists(_._6 == "admit"))
  }

  test("near-pair serving: stream verdicts equal the mm_pair_gate_near batch key under an arrival split") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sql = spark.sqlContext
    import graft.exts.Multimodal
    val dir = "/root/testdata/sf0.001"
    val caps = Multimodal.pairCaptionsNear(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val pairs = Multimodal.pngAssetsIncoming(spark, dir).collect()
      .map(a => (a.doc_id, a.png, caps(a.doc_id))).sortBy(_._1)
    assert(pairs.length > 30)
    val input = MemoryStream[(Long, Array[Byte], String)]
    val results = scala.collection.mutable.ArrayBuffer
      .empty[(Long, Long, Long, Long, Long, Long, Long, String)]
    val q = graft.stream.MediaServing.startPairsNear(spark, dir,
      input.toDS().toDF("doc_id", "png", "caption"),
      (df, _) => results.synchronized {
        results ++= df.collect().map(r => (r.getLong(0), r.getLong(1),
          r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5),
          r.getLong(6), r.getString(7)))
      })
    // split the arrivals so at least one tail-edited pair lands in each
    // micro-batch — the near index derives from the corpus alone, so
    // the split must not change any verdict
    input.addData(pairs.take(pairs.length / 2).toSeq)
    q.processAllAvailable()
    input.addData(pairs.drop(pairs.length / 2).toSeq)
    q.processAllAvailable()
    q.stop()
    val expected = Multimodal.mmPairGateNear(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6), r.getString(7))).toSet
    assert(results.toSet === expected)
    assert(results.size === expected.size) // no duplicate emissions
    // the near tier actually fired on the stream: an md5-miss/near-hit
    // row (the tail-edit plant) flowed through and dropped
    assert(results.exists(r => r._5 == 0L && r._7 == 1L &&
      r._8 == "drop_duplicate_pair"),
      "a tail-edited dup pair must drop on the serve path")
  }

  test("media index loop: durable checkpoint restart — reattach resumes, no batch re-applies") {
    import spark.implicits._
    import graft.exts.Multimodal
    import graft.stream.MediaIndexLoop
    val dir = "/root/testdata/sf0.001"
    withTempDir("media-durable") { root =>
      withTempDir("media-cp") { cp =>
        withTempDir("media-in") { inDir =>
          val (imgSigs, vidSigs, audSigs) = mediaLoopCorpus(dir)
          val serving = MediaIndexLoop.build(spark, imgSigs, vidSigs, audSigs,
            root)
          val n0 = serving.nAssets
          def png(g: Long) = Multimodal.encodeNearPng((g + 2000000L) * 4)
          def src() = spark.readStream
            .schema("doc_id LONG, modality STRING, media BINARY")
            .parquet(inDir)
          // arrival A (two novels) lands as files; the DURABLE query
          // processes it and stops — a planned shutdown
          Seq((7000001L, "img", png(11)), (7000002L, "img", png(12)))
            .toDF("doc_id", "modality", "media")
            .write.mode("append").parquet(inDir)
          val q1 = MediaIndexLoop.start(spark, serving, src(),
            rebuildAfter = 100L, (_, _) => (), checkpoint = Some(cp))
          q1.processAllAvailable()
          q1.stop()
          assert(serving.nAssets === n0 + 2L)
          val afterA = serving.snapshot
          // arrival B lands WHILE THE PROCESS IS DOWN: a content dup of an
          // A-admitted asset plus one novel
          Seq((7000003L, "img", png(11)), (7000004L, "img", png(13)))
            .toDF("doc_id", "modality", "media")
            .write.mode("append").parquet(inDir)
          // "process restart": a FRESH handle from the self-persisted
          // markers + the same checkpoint — the streaming source resumes at
          // the first unprocessed batch with monotone ids
          val re = MediaIndexLoop.reattach(spark, root)
          assert(re.snapshot === afterA)
          val verdicts = scala.collection.mutable.Map.empty[Long, Long]
          val q2 = MediaIndexLoop.start(spark, re, src(), rebuildAfter = 100L,
            (df, _) => verdicts.synchronized {
              df.collect().foreach(r => verdicts(r.getLong(0)) = r.getLong(5))
            }, checkpoint = Some(cp))
          q2.processAllAvailable()
          q2.stop()
          // only arrival B processed: A is not re-applied (no verdict rows,
          // no double admission), the dup gates against the A-admitted
          // pending set, the novel admits
          assert(!verdicts.contains(7000001L) && !verdicts.contains(7000002L),
            s"restart must not re-apply the committed batch, got $verdicts")
          assert(verdicts(7000003L) === 0L,
            "the admitted set must gate its re-upload across the restart")
          assert(verdicts(7000004L) === 1L)
          assert(re.nAssets === n0 + 3L)
        }
      }
    }
  }

  test("media index loop: all three modalities gate at ingest; threshold rebuild + health; replay no-op; reattach") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.functions.col
    implicit val sql = spark.sqlContext
    import graft.exts.Multimodal
    import graft.stream.MediaIndexLoop
    val dir = "/root/testdata/sf0.001"
    withTempDir("media-loop") { root =>
      val (imgSigs, vidSigs, audSigs) = mediaLoopCorpus(dir)
      val serving = MediaIndexLoop.build(spark, imgSigs, vidSigs, audSigs,
        root)
      assert(serving.version === 0L)
      val n0 = serving.nAssets
      // image plants (the r14 cases): fake groups 2000001+ verified
      // collision-free; video/audio plants from the incoming fixtures —
      // a TRIMMED re-upload of corpus content and a novel stream each
      def novel(id: Long, g: Long) =
        (id, "img", Multimodal.encodeNearPng((g + 2000000L) * 4))
      def novelUp(id: Long, g: Long) =
        (id, "img", Multimodal.encodeNearPng((g + 2000000L) * 4 + 1))
      def corpusUp(id: Long, g: Long) =
        (id, "img", Multimodal.encodeNearPng(g * 4 + 1))
      val off = Multimodal.IncomingIdOffset
      val vidPool = Multimodal.gifClipAssetsIncoming(spark, dir).collect()
        .map(a => (a.doc_id, a.gif)).toMap
      val audPool = Multimodal.wavClipAssetsIncoming(spark, dir).collect()
        .map(a => (a.doc_id, a.wav)).toMap
      // d%8=6, d%16≠6 → trimmed VIDEO re-upload of group d/8's stream;
      // d%16=6 → novel stream; audio mirrors at residue 5
      val vidReupId = vidPool.keys.filter(id => (id - off) % 16 == 14).min
      val vidNovelId = vidPool.keys.filter(id => (id - off) % 16 == 6).min
      val audReupId = audPool.keys.filter(id => (id - off) % 16 == 13).min
      val audNovelId = audPool.keys.filter(id => (id - off) % 16 == 5).min
      val input = MemoryStream[(Long, String, Array[Byte])]
      val verdicts = scala.collection.mutable
        .Map.empty[(Long, String), (Long, Long, Long, Long)]
      val healths = scala.collection.mutable.ArrayBuffer
        .empty[(Long, Seq[Long])]
      val q = MediaIndexLoop.start(spark, serving,
        input.toDS().toDF("doc_id", "modality", "media"),
        rebuildAfter = 6L,
        (df, _) => verdicts.synchronized {
          df.collect().foreach(r =>
            verdicts((r.getLong(0), r.getString(1))) =
              ((r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))))
        },
        (v, h) => healths.synchronized {
          healths += ((v, h.collect().head.toSeq.map(_.toString.toLong)))
        })
      // batch 1 (images, the r14 cases): three novels + one corpus
      // re-upload → 3 admitted (< 6: no rebuild); the re-upload resolves
      // to corpus group 6's canonical
      input.addData(Seq(novel(5000001L, 1), novel(5000002L, 2),
        novel(5000003L, 3), corpusUp(5000004L, 6)))
      q.processAllAvailable()
      assert(serving.version === 0L)
      assert(serving.snapshot.nPending === 3L)
      assert(verdicts((5000001L, "img"))._4 === 1L) // is_new
      assert(verdicts((5000004L, "img")) === ((4L, 24L, 0L, 0L)),
        "corpus re-upload must resolve to group 6's canonical 24")
      // batch 2 — THE r15 cases: a trimmed-clip video re-upload and a
      // trimmed audio re-upload are GATED AT INGEST (r14 only caught
      // them at the next full pairs rebuild), while novel video/audio
      // streams admit; plus an upscale of PENDING image novel 1 (dup
      // via the marker-recorded pending set, before any rebuild)
      input.addData(Seq(
        (vidReupId, "vid", vidPool(vidReupId)),
        (vidNovelId, "vid", vidPool(vidNovelId)),
        (audReupId, "aud", audPool(audReupId)),
        (audNovelId, "aud", audPool(audNovelId)),
        novelUp(5000005L, 1), novel(5000006L, 4)))
      q.processAllAvailable()
      val vidVerdict = verdicts((vidReupId, "vid"))
      assert(vidVerdict._4 === 0L,
        s"trimmed-clip video re-upload must be gated, got $vidVerdict")
      assert(vidVerdict._2 / Multimodal.ClipGroup ===
        (vidReupId - off) / Multimodal.ClipGroup,
        "video re-upload must resolve to its own clip group")
      assert(vidVerdict._3 >= Multimodal.MinSharedRun,
        "gate evidence is a shared RUN, not a single frame")
      val audVerdict = verdicts((audReupId, "aud"))
      assert(audVerdict._4 === 0L,
        s"trimmed audio re-upload must be gated, got $audVerdict")
      assert(audVerdict._2 / Multimodal.ClipGroup ===
        (audReupId - off) / Multimodal.ClipGroup,
        "audio re-upload must resolve to its own clip group")
      assert(verdicts((vidNovelId, "vid"))._4 === 1L)
      assert(verdicts((audNovelId, "aud"))._4 === 1L)
      assert(verdicts((5000005L, "img")) === ((1L, 5000001L, 0L, 0L)),
        "pending-admitted asset must gate its own re-upload")
      // pending grew by img novel 5000006 + vid novel + aud novel = 3
      // → 6 ≥ 6 → rebuild
      assert(serving.version === 1L)
      assert(serving.snapshot.nPending === 0L)
      assert(serving.nAssets === n0 + 6L)
      assert(healths.map(_._1) === Seq(1L),
        s"exactly the rebuild must emit health, got ${healths.map(_._1)}")
      // batch 3: re-uploads of batch-2 novels → dups via the REBUILT v1
      // layout, across two modalities
      input.addData(Seq(novelUp(5000008L, 2),
        (vidNovelId + 70000L, "vid", vidPool(vidNovelId))))
      q.processAllAvailable()
      q.stop()
      assert(verdicts((5000008L, "img")) === ((1L, 5000002L, 0L, 0L)),
        "rebuilt layout must serve the admitted image")
      val vidReplayVerdict = verdicts((vidNovelId + 70000L, "vid"))
      assert(vidReplayVerdict._4 === 0L &&
        vidReplayVerdict._2 === vidNovelId,
        "rebuilt layout must serve the admitted clip")
      assert(serving.nAssets === n0 + 6L) // batch 3 admitted nothing
      // the emitted health row equals the same formulas computed
      // directly over the serving signature frames
      val pairs = MediaIndexLoop.taggedPairs(serving.sigs(spark, "img"),
        serving.sigs(spark, "vid"), serving.sigs(spark, "aud"))
      val comp = graft.exts.Dedup.dupComponents(
        pairs.select(col("a_id"), col("b_id")).distinct())
      val direct = MediaIndexLoop.healthOver(spark, serving.nAssets,
        pairs, comp).collect().head.toSeq.map(_.toString.toLong)
      assert(healths.head._2 === direct)
      assert(direct.head === n0 + 6L) // n_assets covers the admitted set
      // replay no-op: re-applying an already-recorded batch id changes
      // nothing and emits nothing
      val before = serving.snapshot
      val replay = MediaIndexLoop.applyBatch(spark, serving,
        Seq(novel(5000009L, 7)).toDF("doc_id", "modality", "media"),
        before.lastBatchId, 6L,
        (_, _) => fail("replay must not re-emit health"))
      assert(replay.count() === 0L)
      assert(serving.snapshot === before)
      // reattach: a fresh handle restores the recorded state and serves
      // the identical signature set in every modality
      val re = MediaIndexLoop.reattach(spark, root)
      assert(re.snapshot === before)
      for (m <- MediaIndexLoop.Modalities)
        assert(re.sigs(spark, m).collect().map(_.toString).toSet ===
          serving.sigs(spark, m).collect().map(_.toString).toSet)
    }
  }

  test("media index loop: torn batch (pending landed, marker missing) replays identically; within-batch twins gated") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    import graft.exts.Multimodal
    import graft.stream.MediaIndexLoop
    val dir = "/root/testdata/sf0.001"
    withTempDir("media-torn") { root =>
      val (imgSigs, vidSigs, audSigs) = mediaLoopCorpus(dir)
      val serving = MediaIndexLoop.build(spark, imgSigs, vidSigs, audSigs,
        root)
      def png(g: Long) = Multimodal.encodeNearPng((g + 2000000L) * 4)
      // batch 0 applies cleanly: one novel admitted
      MediaIndexLoop.applyBatch(spark, serving,
        Seq((6000001L, "img", png(11))).toDF("doc_id", "modality", "media"),
        0L, 100L, (_, _) => ())
      val committed = serving.snapshot
      assert(committed.nPending === 1L)
      val servedBefore = serving.sigs(spark, "img").count()
      // ADVERSARIAL REPLAY (the GraphIndexLoop missing-marker case):
      // batch 1's pending dir LANDS but the crash hits before the
      // marker write — simulated by writing the exact signature rows
      // batch 1 would land, with no state-b1 marker
      val batch1 = Seq((6000002L, "img", png(12)))
        .toDF("doc_id", "modality", "media")
      Multimodal.canonicalSignatures(
          batch1.select(col("doc_id"), col("media").as("png"))
            .as[Multimodal.PngAsset]).toDF()
        .write.parquet(s"$root/v${committed.version}/pending/batch-1-img")
      // the torn dir is INVISIBLE to the serving read (ordinal 1 >
      // lastBatchId 0) — without the ordinal filter the replay below
      // would self-match asset 6000002 against its own torn signatures
      // and silently drop it from the index
      assert(serving.sigs(spark, "img").count() === servedBefore)
      // the replayed batch re-gates against the pre-crash serving set
      // and re-lands via overwrite: novel admitted exactly once
      val v = MediaIndexLoop.applyBatch(spark, serving, batch1, 1L, 100L,
        (_, _) => ()).collect()
        .map(r => r.getLong(0) -> r.getLong(5)).toMap
      assert(v(6000002L) === 1L,
        "replayed novel must not self-match its torn pending dir")
      assert(serving.snapshot.nPending === 2L)
      assert(serving.sigs(spark, "img").count() === servedBefore + 1L)
      // WITHIN-BATCH twins (the LexIndexLoop rule, extended to content):
      // the same asset id delivered twice lands ONCE; a content twin
      // under a later id is gated to the earlier id in the same trigger
      val twins = Seq(
        (6000010L, "img", png(13)), (6000010L, "img", png(13)),
        (6000011L, "img", png(13)))
        .toDF("doc_id", "modality", "media")
      val tv = MediaIndexLoop.applyBatch(spark, serving, twins, 2L, 100L,
        (_, _) => ()).collect()
        .map(r => r.getLong(0) -> ((r.getLong(3), r.getLong(5)))).toMap
      assert(tv.size === 2, "id-duplicate must collapse to one verdict")
      assert(tv(6000010L)._2 === 1L, "first copy admits")
      assert(tv(6000011L) === ((6000010L, 0L)),
        "same-trigger content twin must gate to the earlier id")
      assert(serving.snapshot.nPending === 3L)
    }
  }

  test("media index loop: retention sweep keeps the serving window, in-flight reader on v<k-1> survives") {
    import spark.implicits._
    import graft.exts.Multimodal
    import graft.stream.MediaIndexLoop
    val dir = "/root/testdata/sf0.001"
    withTempDir("media-sweep") { root =>
      val (imgSigs, vidSigs, audSigs) = mediaLoopCorpus(dir)
      val serving = MediaIndexLoop.build(spark, imgSigs, vidSigs, audSigs,
        root)
      def png(g: Long) = Multimodal.encodeNearPng((g + 2000000L) * 4)
      // every batch admits one novel and trips the threshold → one
      // version bump per batch; retain-last-2 must sweep v0 once v3
      // publishes while v2 (the in-flight reader's snapshot) survives
      for (b <- 0L until 3L) {
        val prev = serving.snapshot
        MediaIndexLoop.applyBatch(spark, serving,
          Seq((6100000L + b, "img", png(100L + b)))
            .toDF("doc_id", "modality", "media"),
          b, 1L, (_, _) => ())
        assert(serving.version === prev.version + 1L)
      }
      val dirs = java.nio.file.Files.list(java.nio.file.Paths.get(root))
      val names = try {
        import scala.jdk.CollectionConverters._
        dirs.iterator().asScala.map(_.getFileName.toString).toSet
      } finally dirs.close()
      assert(!names.contains("v0") && !names.contains("v1"),
        s"superseded generations must be swept, kept $names")
      assert(names.contains("v2") && names.contains("v3"))
      // an in-flight reader that snapshotted v2 just before the v3 swap
      // still reads a complete retained layout in every modality
      for (m <- MediaIndexLoop.Modalities)
        assert(spark.read.parquet(s"$root/v2/sigs-$m").count() > 0L)
    }
  }

  test("streaming near-dedup suppresses tail-edited rewrites, keeps novel docs") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sql = spark.sqlContext
    val input = MemoryStream[(Long, String, Long)]
    val base = 1706659200000L // window-aligned epoch millis
    val textA = ("the quick brown fox jumps over the lazy dog while " +
      "seventeen sleepy pelicans watch from the old wooden pier " +
      "near the quiet harbor under a pale winter sky at dawn")
    val textB = ("entirely different content about distributed query " +
      "engines shuffling columnar batches across executor cores with " +
      "adaptive planning and broadcast joins for dimension tables")
    val out = graft.exts.Dedup.streamingNearDedup(
      input.toDS().toDF("doc_id", "text", "ingest_ts_ms"))
    val q = out.writeStream.format("memory").queryName("near_dedup_out")
      .outputMode("append").start()
    // batch 1: two novel docs claim their band buckets
    input.addData((1L, textA, base), (2L, textB, base + 1000))
    q.processAllAvailable()
    // batch 2: a tail-edited rewrite of doc 1 (near-dup — most shingles
    // shared, so bands collide) + one genuinely novel doc
    input.addData(
      (3L, textA + " zz qq", base + 2000),
      (4L, "completely novel short note on sunny meadow flowers " +
        "blooming beside the mountain creek all summer long", base + 3000))
    q.processAllAvailable()
    // batch 3: far-future row pushes the watermark past the first
    // window's end so the per-doc band counts finalize in append mode
    input.addData((9L, textB + " much later", base + 3600L * 1000))
    q.processAllAvailable()
    q.stop()
    val kept = spark.table("near_dedup_out").collect()
      .map(_.getLong(0)).toSet
    assert(Set(1L, 2L, 4L).subsetOf(kept),
      s"first arrivals / novel docs must survive, got $kept")
    assert(!kept.contains(3L),
      s"tail-edited rewrite of doc 1 must be suppressed, got $kept")
  }

  test("streaming near-dedup: an exact duplicate shares every band and is suppressed") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sql = spark.sqlContext
    val input = MemoryStream[(Long, String, Long)]
    val base = 1706659200000L
    val text = ("identical content repeated verbatim through the ingest " +
      "stream to prove the strongest case of the band rule every bucket " +
      "collides so the copy can never own all sixteen")
    val out = graft.exts.Dedup.streamingNearDedup(
      input.toDS().toDF("doc_id", "text", "ingest_ts_ms"))
    val q = out.writeStream.format("memory").queryName("near_dedup_exact")
      .outputMode("append").start()
    input.addData((1L, text, base))
    q.processAllAvailable()
    input.addData((2L, text, base + 1000)) // byte-identical copy
    q.processAllAvailable()
    input.addData((9L, "totally unrelated filler words marching on and " +
      "on across the quiet page for long enough to band",
      base + 3600L * 1000))
    q.processAllAvailable()
    q.stop()
    val kept = spark.table("near_dedup_exact").collect()
      .map(_.getLong(0)).toSet
    assert(kept.contains(1L) && !kept.contains(2L),
      s"first arrival survives, verbatim copy suppressed: $kept")
  }

  test("streaming near-dedup: same-micro-batch duplicates keep exactly one copy") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sql = spark.sqlContext
    val input = MemoryStream[(Long, String, Long)]
    val base = 1706659200000L
    val text = ("two byte-identical documents arriving inside one single " +
      "micro batch must still resolve to exactly one surviving owner " +
      "never zero and never both of them together")
    val out = graft.exts.Dedup.streamingNearDedup(
      input.toDS().toDF("doc_id", "text", "ingest_ts_ms"))
    val q = out.writeStream.format("memory").queryName("near_dedup_samebatch")
      .outputMode("append").start()
    // both copies (and a near-dup rewrite) in the SAME micro-batch: an
    // arbitrary per-bucket owner pick could split ownership so no doc
    // owns all 16 bands and ALL are suppressed — the deterministic
    // min-(event_time, doc_id) owner keeps exactly the earliest copy
    input.addData(
      (1L, text, base),
      (2L, text, base + 1000),
      (3L, text + " zz qq", base + 2000))
    q.processAllAvailable()
    input.addData((9L, "totally unrelated filler words marching on and " +
      "on across the quiet page for long enough to band",
      base + 3600L * 1000))
    q.processAllAvailable()
    q.stop()
    val kept = spark.table("near_dedup_samebatch").collect()
      .map(_.getLong(0)).toSet
    assert(kept.contains(1L),
      s"earliest same-batch copy must survive, got $kept")
    assert(!kept.contains(2L) && !kept.contains(3L),
      s"later same-batch copies must be suppressed, got $kept")
  }

  test("streaming near-dedup: short docs pass through as survivors, not dropped") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sql = spark.sqlContext
    val input = MemoryStream[(Long, String, Long)]
    val base = 1706659200000L
    val out = graft.exts.Dedup.streamingNearDedup(
      input.toDS().toDF("doc_id", "text", "ingest_ts_ms"))
    val q = out.writeStream.format("memory").queryName("near_dedup_short")
      .outputMode("append").start()
    // < ShingleN (5) words: no shingle signature exists, so the doc can
    // never be a near-dup candidate — it must survive, not vanish
    input.addData((1L, "tiny note", base),
      (2L, "a full length document with plenty of words to shingle and " +
        "band through the locality sensitive hashing tier", base + 1000))
    q.processAllAvailable()
    input.addData((9L, "totally unrelated filler words marching on and " +
      "on across the quiet page for long enough to band",
      base + 3600L * 1000))
    q.processAllAvailable()
    q.stop()
    val kept = spark.table("near_dedup_short").collect()
      .map(_.getLong(0)).toSet
    assert(kept.contains(1L), s"short doc must pass through, got $kept")
    assert(kept.contains(2L), s"long novel doc must survive, got $kept")
  }

  test("index loop: ingest gate → occupancy drift → maintenance → version bump → serving") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sql = spark.sqlContext
    withTempDir("index-loop") { tmpRoot =>
      val corpusPath = tmpRoot + "/corpus"
      val codesPath = tmpRoot + "/codes"
      spark.read.parquet(s"$dir/embeddings.parquet")
        .select(col("vec_id"), col("embedding")).write.parquet(corpusPath)
      val gatePath = tmpRoot + "/gate"
      val cb = graft.exts.PqIndex.codebook(spark, dir)
      // gateTarget 4 → bucket width 7 for the 500-vector base, and the
      // hot batch pushes the corpus past 4<<7 = 512, so the width-drift
      // rebuild fires inside the test
      val index = graft.stream.IndexLoop.buildIndex(spark, corpusPath,
        Some(codesPath), Some(cb), Some(gatePath), gateTarget = 4L)
      val bits0 = index.snapshot.gateBits
      assert(new java.io.File(s"$gatePath/b$bits0").isDirectory)
      val cycles = scala.collection.mutable.ArrayBuffer
        .empty[(Long, Map[String, Long], Long)]
      val input = MemoryStream[(Long, Seq[Float])]
      val q = graft.stream.IndexLoop.start(spark, index, corpusPath,
        input.toDS().toDF("vec_id", "embedding"),
        codesPath = Some(codesPath), codebook = Some(cb),
        gatePath = Some(gatePath), gateTarget = 4L,
        onCycle = (b, a, v) => cycles.synchronized { cycles += ((b, a, v)) })
      val base = spark.read.parquet(s"$dir/embeddings.parquet").collect()
        .map(r => r.getLong(0) -> r.getSeq[Float](1)).toMap
      def flip(v: Seq[Float]): Seq[Float] = v.map(x => -x)
      // batch 1: two novel directions — the loop settles whatever drift
      // the base fixture carries, then must be all-keep
      input.addData((2000001L, flip(base(1L))), (2000002L, flip(base(2L))))
      q.processAllAvailable()
      val v1 = index.version
      assert(cycles.nonEmpty)
      assert(cycles.synchronized(cycles.last)._2
        .getOrElse("split", 0L) === 0L,
        s"no split verdict may remain after batch 1: ${cycles.last._2}")
      // batch 2: a quiescent stream NEVER triggers maintenance
      input.addData((2000003L, flip(base(3L))))
      q.processAllAvailable()
      assert(index.version === v1,
        "a quiescent ingest batch must not bump the index version")
      // gate: a scaled copy of a corpus vector (cosine exactly 1) is a
      // near-dup — it must be dropped BEFORE the index, corpus unchanged
      val n1 = index.nCorpus
      input.addData((2000004L, base(6L).map(x => x * 2.0f)))
      q.processAllAvailable()
      assert(index.nCorpus === n1, "a gated near-dup must never land")
      assert(index.version === v1)
      // within-batch twins: two near-dup vectors in the SAME micro-batch
      // (neither in the corpus) — exactly one (the min id) may land
      input.addData(
        (2000005L, flip(base(8L))),
        (2000006L, flip(base(8L)).map(x => x * 3.0f)))
      q.processAllAvailable()
      assert(index.nCorpus === n1 + 1,
        "same-batch near-dup twins must land exactly one copy")
      // batch 3: a 90-vector hot mass around one novel direction — the
      // drift signal crosses the split threshold, maintenance fires and
      // runs to quiescence, the version bumps. The mass is TWO tight
      // lobes ~±0.35·‖v‖ apart on different dims (the PipelineSpec skew
      // fixture's shape): close enough to crowd one cell, separable by
      // the cell-local 2-means so the split quiesces at two keep-sized
      // sub-cells instead of shaving off re-flagged slivers.
      val hotBase = flip(base(7L))
      val norm = math.sqrt(hotBase.map(x => x.toDouble * x).sum).toFloat
      val hot = (0 until 90).map { i =>
        val lobe =
          if (i % 2 == 0) hotBase.updated(0, hotBase(0) + 0.35f * norm)
          else hotBase.updated(1, hotBase(1) - 0.35f * norm)
        // one DISTINCT jitter dim per vector (~0.998 pairwise cosine):
        // crowded enough to share a cell, but below the 0.999 dup bar so
        // the within-batch twin filter rightly keeps them all
        val d = 3 + i / 2
        (2100000L + i, lobe.updated(d, lobe(d) + 0.06f * norm))
      }
      input.addData(hot: _*)
      q.processAllAvailable()
      q.stop()
      assert(index.version > v1,
        s"the hot batch must trigger maintenance: version ${index.version}")
      assert(cycles.synchronized(cycles.last)._2
        .getOrElse("split", 0L) === 0L,
        s"acted loop must quiesce all SPLITS: ${cycles.last._2}")
      // the bumped version's clustered CODES layout was rewritten before
      // the version flipped — serving readers never see a half-built dir
      assert(new java.io.File(s"$codesPath/v${index.version}").isDirectory,
        s"layout for v${index.version} must exist")
      // the corpus grew past the gate width's threshold — the bucket
      // layout rebuilt at the new width and the snapshot carries it
      val bits1 = index.snapshot.gateBits
      assert(bits1 === bits0 + 1,
        s"gate width must drift $bits0 → ${bits0 + 1}, got $bits1")
      assert(new java.io.File(s"$gatePath/b$bits1").isDirectory)
      // serving picks up the bumped version at its next query batch, reads
      // ONLY probed cells from the clustered layout, and equals the batch
      // composed search over the rebuilt index
      val qvecs = (0L until 4L).map(i => (i, base(i)))
      val results = scala.collection.mutable.ArrayBuffer
        .empty[(Long, Long, Int, Long, Long)]
      val qinput = MemoryStream[(Long, Seq[Float])]
      val sq = graft.stream.AnnServing.serveWith(spark, corpusPath, index, cb,
        qinput.toDS().toDF("query_id", "embedding"),
        (df, _, v) => results.synchronized {
          results ++= df.collect().map(r =>
            (r.getLong(0), r.getLong(1), r.getInt(2), r.getLong(3), v))
        }, codesPath = Some(codesPath))
      qinput.addData(qvecs: _*)
      sq.processAllAvailable()
      sq.stop()
      val emb = spark.read.parquet(corpusPath)
        .select(col("vec_id"), col("embedding"))
      val expected = graft.exts.PqIndex.ivfPqSearchOver(emb,
          index.centroids(spark), cb, qvecs.toDF("query_id", "embedding"))
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getLong(3)))
        .toSet
      assert(results.synchronized(results.toSeq)
        .map(t => (t._1, t._2, t._3, t._4)).toSet === expected)
      assert(results.synchronized(results.toSeq).forall(_._5 === index.version),
        "serving must observe the bumped index version")
      // the corpus-derived serving branch (no layout) returns the same
      // results — the layout is a plan upgrade, never a semantics change
      val results2 = scala.collection.mutable.ArrayBuffer
        .empty[(Long, Long, Int, Long)]
      val qinput2 = MemoryStream[(Long, Seq[Float])]
      val sq2 = graft.stream.AnnServing.serveWith(spark, corpusPath, index, cb,
        qinput2.toDS().toDF("query_id", "embedding"),
        (df, _, _) => results2.synchronized {
          results2 ++= df.collect().map(r =>
            (r.getLong(0), r.getLong(1), r.getInt(2), r.getLong(3)))
        })
      qinput2.addData(qvecs: _*)
      sq2.processAllAvailable()
      sq2.stop()
      assert(results2.synchronized(results2.toSet) === expected,
        "layout-backed and corpus-derived serving must agree")
      // restart durability: the saved index round-trips bit-for-bit, so a
      // fresh serving node loads instead of retraining — combined with the
      // codebook artifact and the on-disk layouts, every loop piece is
      // durable
      graft.stream.IndexLoop.saveIndex(spark, index, s"$tmpRoot/index")
      val reloaded = graft.stream.IndexLoop.loadIndex(spark, s"$tmpRoot/index")
      assert(reloaded.snapshot.version === index.snapshot.version)
      assert(reloaded.snapshot.gateBits === index.snapshot.gateBits)
      assert(reloaded.snapshot.nCorpus === index.snapshot.nCorpus)
      assert(reloaded.snapshot.cellStats === index.snapshot.cellStats)
      assert(reloaded.snapshot.cents.toSet === index.snapshot.cents.toSet)
      assert(reloaded.snapshot.lastBatchId === index.snapshot.lastBatchId,
        "the replay guard must survive the save/load round-trip")
      // replay no-op (the LoopCore discipline, new in r15): a batch id ≤
      // the carried lastBatchId — a checkpointed restart re-delivering an
      // applied batch — changes nothing, not even the landed corpus
      val beforeReplay = index.snapshot
      val nFiles = new java.io.File(corpusPath).list().length
      graft.stream.IndexLoop.applyBatch(spark, index, corpusPath,
        Seq((2200001L, flip(base(9L)))).toDF("vec_id", "embedding"),
        beforeReplay.lastBatchId, 0.999, 4, Some(codesPath), Some(cb),
        Some(gatePath), 4L,
        (b, a, v) => cycles.synchronized { cycles += ((b, a, v)) })
      assert(index.snapshot === beforeReplay)
      assert(new java.io.File(corpusPath).list().length === nFiles,
        "a replayed batch must not append corpus files")
    }
  }

  test("graph loop: ingest gate → bucket-local merge → width-drift rebuild → serving") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sql = spark.sqlContext
    withTempDir("graph-loop") { tmpRoot =>
      val corpusPath = tmpRoot + "/corpus"
      val graphPath = tmpRoot + "/graph"
      spark.read.parquet(s"$dir/embeddings.parquet")
        .select(col("vec_id"), col("embedding")).write.parquet(corpusPath)
      // target 4 → width 7 for the 500-vector base; pushing the corpus
      // past 4<<7 = 512 fires the width-drift rebuild inside the test
      val graph = graft.stream.GraphIndexLoop.buildGraph(spark, corpusPath,
        graphPath, target = 4L)
      val bits0 = graph.snapshot.bits
      assert(new java.io.File(graph.layoutPath).isDirectory)
      def served(): Set[(Long, Long, Int, Long)] = graph.edges(spark)
        .collect().map(r => (r.getAs[Long]("src_id"),
          r.getAs[Long]("dst_id"), r.getAs[Int]("rank"),
          r.getAs[Long]("mutual"))).toSet
      def rebuilt(bits: Int): Set[(Long, Long, Int, Long)] =
        graft.exts.Similarity.knnGraphOver(
          spark.read.parquet(corpusPath)
            .select(col("vec_id"), col("embedding")),
          bits, graft.exts.Similarity.KnnGraphK)
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2),
            r.getLong(3))).toSet
      // the built layout equals a direct rebuild
      assert(served() === rebuilt(bits0))
      val cycles = scala.collection.mutable.ArrayBuffer
        .empty[(Long, Long, Long)]
      val healths = scala.collection.mutable.ArrayBuffer
        .empty[(Long, Seq[(Long, Long, Long, Long, Long, Long)])]
      val input = MemoryStream[(Long, Seq[Float])]
      val q = graft.stream.GraphIndexLoop.start(spark, graph, corpusPath,
        input.toDS().toDF("vec_id", "embedding"), target = 4L,
        onCycle = (b, n, v) => cycles.synchronized { cycles += ((b, n, v)) },
        onHealth = (v, h) => healths.synchronized {
          healths += ((v, h.collect().map(r => (r.getLong(0), r.getLong(1),
            r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))).toSeq))
        })
      val base = spark.read.parquet(s"$dir/embeddings.parquet").collect()
        .map(r => r.getLong(0) -> r.getSeq[Float](1)).toMap
      def flip(v: Seq[Float]): Seq[Float] = v.map(x => -x)
      // batch 1: two novel vectors — the per-batch LAW: the layout after
      // the bucket-local merge equals a FULL rebuild over the landed
      // corpus at the pinned width
      input.addData((2000001L, flip(base(1L))), (2000002L, flip(base(2L))))
      q.processAllAvailable()
      assert(graph.nCorpus === 502L)
      assert(graph.version === 0L,
        "a non-drifting batch must not bump the version")
      assert(served() === rebuilt(bits0))
      // gate: a scaled corpus copy (cosine 1) never lands, layout untouched
      input.addData((2000003L, base(6L).map(x => x * 2.0f)))
      q.processAllAvailable()
      assert(graph.nCorpus === 502L, "a gated near-dup must never land")
      assert(served() === rebuilt(bits0))
      // hot batch: 20 novel directions push the corpus past 4<<7 = 512 —
      // the width-drift rebuild fires, the version bumps, and the served
      // layout equals a rebuild at the NEW width
      val novel = (0 until 20).map { i =>
        val v = flip(base((20 + i).toLong))
        val d = 2 + i % 6
        (2100000L + i, v.updated(d, v(d) + 0.4f * math.abs(v(d)) + 0.1f))
      }
      input.addData(novel: _*)
      q.processAllAvailable()
      q.stop()
      assert(graph.nCorpus > 512L, s"corpus stuck at ${graph.nCorpus}")
      assert(graph.version === 1L,
        s"width drift must bump the version, got ${graph.version}")
      val bits1 = graph.snapshot.bits
      assert(bits1 === bits0 + 1,
        s"width must drift $bits0 → ${bits0 + 1}, got $bits1")
      assert(new java.io.File(graph.layoutPath).isDirectory)
      assert(served() === rebuilt(bits1))
      // the version bump emitted its health row ON the loop (the
      // reference's evaluator pattern): same numbers as the batch
      // graphHealthOver on the served layout + landed corpus
      val hb = healths.synchronized(healths.toSeq)
      assert(hb.map(_._1) === Seq(1L),
        s"exactly the drift bump must emit health, got ${hb.map(_._1)}")
      val batchHealth = graft.exts.Similarity.graphHealthOver(
        graph.edges(spark),
        spark.read.parquet(corpusPath).select(col("vec_id")))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getLong(3), r.getLong(4), r.getLong(5))).toSeq
      assert(hb.head._2 === batchHealth)
      // every graph consumer runs against the served frame unchanged
      assert(graft.exts.Similarity
        .knnComponentsFromEdges(graph.edges(spark)).count() > 0L)
      // restart durability: meta round-trips, the reloaded handle serves
      // the same layout with zero graph work
      graft.stream.GraphIndexLoop.saveMeta(spark, graph, s"$tmpRoot/meta")
      val reloaded = graft.stream.GraphIndexLoop.loadMeta(spark, graphPath,
        s"$tmpRoot/meta")
      assert(reloaded.snapshot === graph.snapshot)
      assert(reloaded.edges(spark).count() === graph.edges(spark).count())
      // the loop SELF-persists state per acted batch: reattach needs no
      // export and must agree with the live handle
      val reattached = graft.stream.GraphIndexLoop.reattach(spark, graphPath)
      assert(reattached.snapshot === graph.snapshot)
      // a stale export naming a layout that is not on disk fails LOUDLY
      Seq((9L, 30, 999L, 1L, 5L))
        .toDF("version", "bits", "epoch", "n_corpus", "last_batch_id")
        .coalesce(1)
        .write.mode("overwrite").parquet(s"$tmpRoot/meta_stale")
      val staleErr = intercept[IllegalArgumentException] {
        graft.stream.GraphIndexLoop.loadMeta(spark, graphPath,
          s"$tmpRoot/meta_stale")
      }
      assert(staleErr.getMessage.contains("does not exist"))
      // REPLAY IDEMPOTENCY: re-applying the last committed batchId is a
      // strict no-op — state restored from the marker, corpus and layout
      // untouched (foreachBatch replays after failure land here)
      val lastBatch = cycles.synchronized(cycles.map(_._1).max)
      val corpusBefore = spark.read.parquet(corpusPath).count()
      val layoutBefore = served()
      val stateBefore = graph.snapshot
      val replay = graft.stream.GraphIndexLoop.applyBatch(spark, graph,
        corpusPath, novel.toDF("vec_id", "embedding"), lastBatch,
        0.999, 4L, (_, _) => fail("replay must not re-emit health"))
      assert(replay._2 === stateBefore.version)
      assert(graph.snapshot === stateBefore)
      assert(spark.read.parquet(corpusPath).count() === corpusBefore,
        "replay duplicated corpus rows")
      assert(served() === layoutBefore)
      // SERVING: per query batch, neighbors come from the current layout,
      // read through a directory-pruned scan of the batch's own buckets
      val qids = Seq(1L, 5L, 9L, 2000001L)
      val qvecs = spark.read.parquet(corpusPath)
        .filter(col("vec_id").isin(qids: _*))
        .collect().map(r => (r.getLong(0), r.getSeq[Float](1))).toSeq
      assert(qvecs.size === qids.size)
      val sresults = scala.collection.mutable.ArrayBuffer
        .empty[(Long, Long, Int, Long, Long)]
      val splans = scala.collection.mutable.ArrayBuffer.empty[String]
      val qinput = MemoryStream[(Long, Seq[Float])]
      val sq = graft.stream.GraphServing.serveWith(spark, graph,
        qinput.toDS().toDF("query_id", "embedding"),
        (df, _, v) => {
          splans.synchronized {
            splans += df.queryExecution.executedPlan.toString }
          sresults.synchronized {
            sresults ++= df.collect().map(r => (r.getLong(0), r.getLong(1),
              r.getInt(2), r.getLong(3), v)) }
        })
      qinput.addData(qvecs: _*)
      sq.processAllAvailable()
      sq.stop()
      val expectedNbrs = graph.edges(spark)
        .filter(col("src_id").isin(qids: _*)).collect()
        .map(r => (r.getAs[Long]("src_id"), r.getAs[Long]("dst_id"),
          r.getAs[Int]("rank"), r.getAs[Long]("mutual"))).toSet
      assert(sresults.synchronized(sresults.toSeq)
        .map(t => (t._1, t._2, t._3, t._4)).toSet === expectedNbrs)
      assert(sresults.synchronized(sresults.toSeq)
        .forall(_._5 === graph.version),
        "serving must observe the current graph version")
      val splan = splans.synchronized(splans.mkString)
      assert(splan.contains("PartitionFilters") && splan.contains("bucket"),
        s"no bucket partition filter in:\n$splan")
    }
  }

  test("ANN serving restart: cold path loads the codebook artifact, not a retrain") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sql = spark.sqlContext
    withTempDir("ann-cold") { tmp =>
      graft.exts.PqIndex.saveCodebook(spark, dir, s"$tmp/cb.parquet")
      // serving restart: every session memo gone — start() must install
      // the artifact (tiny parquet read) as the codebook cold path
      graft.exts.PqIndex.clear()
      val qvecs = spark.read.parquet(s"$dir/embeddings.parquet")
        .filter(org.apache.spark.sql.functions.col("vec_id") < 8)
        .collect().map(r => (r.getLong(0), r.getSeq[Float](1)))
      val input = MemoryStream[(Long, Seq[Float])]
      val results = scala.collection.mutable.ArrayBuffer
        .empty[(Long, Long, Int, Long)]
      val q = graft.stream.AnnServing.start(spark, dir,
        input.toDS().toDF("query_id", "embedding"),
        (df, _) => results.synchronized {
          results ++= df.collect()
            .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getLong(3)))
        }, codebookPath = Some(s"$tmp/cb.parquet"))
      input.addData(qvecs.toSeq: _*)
      q.processAllAvailable()
      q.stop()
      val expected = graft.exts.PqIndex.ivfPqSearch(spark, dir).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getLong(3)))
        .toSet
      assert(results.toSet === expected)
    }
  }

  test("streaming heavy hitters emit exactly once, at the crossing batch") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sql = spark.sqlContext
    val input = MemoryStream[String]
    val out = graft.stream.HeavyHitters.crossings(input.toDS(), threshold = 3L)
    val q = out.writeStream.format("memory").queryName("hh_out")
      .outputMode("append").start()
    // batch 1: 'hot' at df=2 (below), 'cold' at 1
    input.addData("hot", "hot", "cold")
    q.processAllAvailable()
    assert(spark.table("hh_out").count() === 0)
    // batch 2: 'hot' crosses (2+2=4 >= 3); 'cold' still below
    input.addData("hot", "hot", "cold")
    q.processAllAvailable()
    val afterCross = spark.table("hh_out").collect()
      .map(r => (r.getString(0), r.getLong(1)))
    assert(afterCross.toSeq === Seq(("hot", 4L)))
    // batch 3: more 'hot' occurrences never re-emit; 'cold' now crosses
    input.addData("hot", "cold")
    q.processAllAvailable()
    q.stop()
    val finals = spark.table("hh_out").collect()
      .map(r => (r.getString(0), r.getLong(1)))
    assert(finals.toSet === Set(("hot", 4L), ("cold", 3L)))
  }

  test("streaming top-k re-ranks the running counts every batch") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sql = spark.sqlContext
    val input = MemoryStream[String]
    val q = graft.stream.TopK.currentTopK(input.toDS(), k = 2)
      .writeStream.format("memory").queryName("topk_out")
      .outputMode("complete").start()
    def snapshot(): Set[(String, Long)] = spark.table("topk_out").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSet
    // batch 1: a=2, b=1, c=1 → top2 = a, then b (tie broken by term)
    input.addData("a", "a", "b", "c")
    q.processAllAvailable()
    assert(snapshot() === Set(("a", 2L), ("b", 1L)))
    // batch 2: c overtakes — running counts, not per-batch counts
    input.addData("c", "c", "c")
    q.processAllAvailable()
    q.stop()
    assert(snapshot() === Set(("c", 4L), ("a", 2L)))
  }

  test("query progress captures per-batch commit metrics as a table") {
    import spark.implicits._
    withTempDir("progress-ckpt") { ckpt =>
      val (q, _) = EventPipeline.runStatefulStreaming(
        EventPipeline.readEventStream(spark, dir), cfg,
        _ => new DryRunExecutor(new JobStateLog), ckpt)
      q.awaitTermination()
      val rows = q.recentProgress.toSeq
      assert(rows.nonEmpty)
      assert(rows.map(_.numInputRows).sum === 1000L) // all sf0.001 events
      val df = spark.read.json(rows.map(_.json).toDS())
      assert(df.columns.toSet.contains("numInputRows"))
      assert(df.count() === rows.size)
    }
  }

  test("streaming quality filter equals the batch filter (stateless pass)") {
    import org.apache.spark.sql.types._
    // qualityFilter is one stateless per-row projection, so it runs
    // unchanged on a stream — the ingest-time filtering shape: score and
    // drop documents as they arrive, no state, no watermark.
    val docSchema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType),
      StructField("lang", StringType), StructField("source", StringType),
      StructField("n_chars", LongType)))
    val stream = spark.readStream.schema(docSchema)
      .option("pathGlobFilter", "documents.parquet")
      .parquet(dir)
    val q = graft.exts.TextAnalysis.qualityFilter(stream)
      .writeStream.format("memory").queryName("qf_stream")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val streamed = spark.table("qf_stream").collect()
      .map(r => r.getLong(0) -> (r.getString(6), r.getBoolean(7))).toMap
    val batch = graft.exts.TextAnalysis.qualityFilter(spark, dir).collect()
      .map(r => r.getLong(0) -> (r.getString(6), r.getBoolean(7))).toMap
    assert(streamed === batch)
    assert(batch.nonEmpty)
  }

  test("streaming curation with eval boundary: leaked spans never land") {
    import org.apache.spark.sql.functions._
    // source: the contamination fixture (documents ∪ planted near-copies
    // of the eval partition), minus the eval docs themselves — the
    // held-out set guards the stream, it doesn't flow through it
    withTempDir("decon-src") { srcDir =>
      val full = graft.exts.Dedup.corpusWithLeaks(spark, dir)
      full.filter(col("doc_id") % 97 =!= 0)
        .withColumn("ingest_ts_ms", col("doc_id") * 1000L)
        .write.mode("overwrite").parquet(srcDir)
      val evalSet = graft.exts.TextAnalysis.evalSpanHashes(
        full.filter(col("doc_id") % 97 === 0))
      withTempDir("decon-out") { outDir =>
        withTempDir("decon-ckpt") { ckpt =>
          val stream = spark.readStream
            .schema("doc_id LONG, text STRING, ingest_ts_ms LONG")
            .parquet(srcDir)
          val q = graft.stream.CurationPipeline.run(stream, outDir, ckpt,
            evalSpans = Some(evalSet))
          q.awaitTermination()
          val landed = spark.read.parquet(outDir)
            .select(col("doc_id"), md5(col("text")).as("m"))
            .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
          assert(landed.nonEmpty)
          // every landed text equals the batch scrub of the quality-kept
          // input — the stream's stateless probe is digest-identical
          val expected = graft.exts.TextAnalysis.scrubAgainstSet(
              graft.exts.TextAnalysis.qualitySignals(
                  spark.read.parquet(srcDir)).filter(col("keep"))
                .select(col("doc_id"), col("text")),
              evalSet)
            .select(col("doc_id"), md5(col("text")).as("m"))
            .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
          landed.foreach { case (id, m) =>
            assert(expected.get(id).contains(m), s"doc $id landed unscrubbed")
          }
          // and no landed document carries ANY eval span anymore
          val residual = graft.exts.TextAnalysis.evalSpanHashes(
            spark.read.parquet(outDir).select(col("doc_id"), col("text")))
          assert(residual.toSet.intersect(evalSet.toSet).isEmpty,
            "landed corpus must share no span with the eval set")
        }
      }
    }
  }

  test("streaming curation with boilerplate boundary: headers never land") {
    import org.apache.spark.sql.functions._
    import graft.exts.TextAnalysis
    withTempDir("boiler-src") { srcDir =>
      val planted = TextAnalysis.corpusWithBoilerplate(spark, dir)
        .select(col("doc_id"), col("text"))
      planted.withColumn("ingest_ts_ms", col("doc_id") * 1000L)
        .write.mode("overwrite").parquet(srcDir)
      // nightly detector over the landed corpus → literal window set
      val windows = TextAnalysis.boilerWindows(
        TextAnalysis.corpusWithBoilerplate(spark, dir))
      assert(windows.contains(TextAnalysis.PlantedBoiler))
      withTempDir("boiler-out") { outDir =>
        withTempDir("boiler-ckpt") { ckpt =>
          val stream = spark.readStream
            .schema("doc_id LONG, text STRING, ingest_ts_ms LONG")
            .parquet(srcDir)
          val q = graft.stream.CurationPipeline.run(stream, outDir, ckpt,
            boilerWindows = Some(windows.toSeq))
          q.awaitTermination()
          val landed = spark.read.parquet(outDir)
            .select(col("doc_id"), col("text"))
            .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
          assert(landed.nonEmpty)
          // every landed text equals the batch strip-then-quality path
          val expected = TextAnalysis.qualitySignals(
              TextAnalysis.stripBoilerAgainst(
                spark.read.parquet(srcDir).select(col("doc_id"), col("text")),
                windows.toSeq))
            .filter(col("keep")).select(col("doc_id"), col("text"))
            .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
          landed.foreach { case (id, t) =>
            assert(expected.get(id).contains(t), s"doc $id landed unstripped")
          }
          // and no landed document still opens with a boilerplate window
          landed.values.foreach { t =>
            val lead = t.trim.split("\\s+").take(TextAnalysis.BoilerW)
              .mkString(" ")
            assert(!windows.contains(lead))
          }
        }
      }
    }
  }

  test("streaming curation with gopher floor: landed set is the stack intersection") {
    import org.apache.spark.sql.functions._
    withTempDir("gopher-src") { srcDir =>
      Tables.load(spark, dir, "documents")
        .select(col("doc_id"), col("text"))
        .withColumn("ingest_ts_ms", col("doc_id") * 1000L)
        .write.mode("overwrite").parquet(srcDir)
      withTempDir("gopher-out") { outDir =>
        withTempDir("gopher-ckpt") { ckpt =>
          val stream = spark.readStream
            .schema("doc_id LONG, text STRING, ingest_ts_ms LONG")
            .parquet(srcDir)
          val q = graft.stream.CurationPipeline.run(stream, outDir, ckpt,
            gopherFloor = true)
          q.awaitTermination()
          val landedIds = spark.read.parquet(outDir)
            .select("doc_id").collect().map(_.getLong(0)).toSet
          // batch expectation: BOTH stacks pass, then one copy per text
          val src = spark.read.parquet(srcDir)
          val c4 = graft.exts.TextAnalysis.qualitySignals(src)
            .filter(col("keep")).select("doc_id")
            .collect().map(_.getLong(0)).toSet
          val gopher = graft.exts.TextAnalysis
            .gopherRules(src.select(col("doc_id"), col("text")), minStopHits = 1)
            .filter(col("keep")).select("doc_id")
            .collect().map(_.getLong(0)).toSet
          val both = c4.intersect(gopher)
          assert(landedIds.subsetOf(both))
          // the corpus has no exact text dups, so nothing else drops
          assert(landedIds === both,
            s"missing=${both.diff(landedIds).take(5)} extra=${landedIds.diff(both).take(5)}")
          // and the floor actually bites on this corpus
          assert(both.size < c4.size)
        }
      }
    }
  }

  test("streaming curation with dsir floor: landed set = quality ∩ importance") {
    import org.apache.spark.sql.functions._
    withTempDir("dsir-src") { srcDir =>
      Tables.load(spark, dir, "documents")
        .select(col("doc_id"), col("text"))
        .withColumn("ingest_ts_ms", col("doc_id") * 1000L)
        .write.mode("overwrite").parquet(srcDir)
      withTempDir("dsir-out") { outDir =>
        withTempDir("dsir-ckpt") { ckpt =>
          // the trained model: nightly job = dsirHead over the same corpus
          val scores = graft.exts.TextAnalysis
            .dsirHead(Tables.load(spark, dir, "documents")).collect()
            .map(r => r.getAs[String]("term") -> r.getAs[Long]("s")).toMap
          val stream = spark.readStream
            .schema("doc_id LONG, text STRING, ingest_ts_ms LONG")
            .parquet(srcDir)
          val q = graft.stream.CurationPipeline.run(stream, outDir, ckpt,
            dsirScores = Some(scores))
          q.awaitTermination()
          val landedIds = spark.read.parquet(outDir)
            .select("doc_id").collect().map(_.getLong(0)).toSet
          // batch expectation: quality keep ∧ dsir keep (no exact dups here)
          val src = spark.read.parquet(srcDir)
          val c4 = graft.exts.TextAnalysis.qualitySignals(src)
            .filter(col("keep")).select("doc_id")
            .collect().map(_.getLong(0)).toSet
          val dsir = graft.exts.TextAnalysis
            .dsirScored(scores, src.select(col("doc_id"), col("text")))
            .filter(col("dsir_keep")).select("doc_id")
            .collect().map(_.getLong(0)).toSet
          val both = c4.intersect(dsir)
          assert(landedIds === both,
            s"missing=${both.diff(landedIds).take(5)} extra=${landedIds.diff(both).take(5)}")
          // the importance floor actually bites on this corpus
          assert(both.size < c4.size)
        }
      }
    }
  }

  test("streaming curation: filter + dedup + sharded sink lands a clean corpus") {
    import org.apache.spark.sql.functions._
    // source corpus on disk: documents ∪ planted exact copies, with a
    // synthetic monotone ingest time
    withTempDir("curate-src") { srcDir =>
      val base = Tables.load(spark, dir, "documents")
        .select(col("doc_id"), col("text"))
      base.unionByName(
          base.filter(col("doc_id") % 10 === 0)
            .select((col("doc_id") + 100000L).as("doc_id"), col("text")))
        .withColumn("ingest_ts_ms", col("doc_id") * 1000L)
        .write.mode("overwrite").parquet(srcDir)
      withTempDir("curate-out") { outDir =>
        withTempDir("curate-ckpt") { ckpt =>
          val stream = spark.readStream
            .schema("doc_id LONG, text STRING, ingest_ts_ms LONG")
            .parquet(srcDir)
          val q = graft.stream.CurationPipeline.run(stream, outDir, ckpt)
          q.awaitTermination()
          val landed = spark.read.parquet(outDir)
          // batch expectation: quality keepers, one copy per distinct text
          val keepers = graft.exts.TextAnalysis.qualitySignals(
              spark.read.parquet(srcDir))
            .filter(col("keep"))
          val expectedTexts = keepers.select(md5(col("text"))).distinct().count()
          assert(landed.count() === expectedTexts)
          assert(landed.select(md5(col("text"))).distinct().count() === expectedTexts)
          // everything landed passes the filter (no dropped doc leaked through)
          val keeperIds = keepers.select("doc_id").collect().map(_.getLong(0)).toSet
          landed.select("doc_id").collect().map(_.getLong(0))
            .foreach(id => assert(keeperIds.contains(id)))
          // shards are the stable id hash
          landed.select(col("doc_id"), col("shard").cast("long")).collect()
            .foreach(r => assert(r.getLong(1) === (r.getLong(0) * 2654435761L) % 16))

          // the observe()-channel funnel equals the batch curationFunnel on the
          // same corpus: per-stage doc/token totals summed across micro-batches
          val observedTotals = q.recentProgress.toSeq
            .flatMap(_.observedMetrics.asScala)
            .groupBy(_._1)
            .map { case (stage, rows) =>
              stage -> ((rows.map(_._2.getAs[Long]("n_docs")).sum,
                rows.map(_._2.getAs[Long]("n_tokens")).sum))
            }
          val batchFunnel = graft.exts.TextAnalysis
            .curationFunnel(spark.read.parquet(srcDir)).collect()
            .map(r => r.getAs[String]("stage") ->
              ((r.getAs[Long]("n_docs"), r.getAs[Long]("n_tokens"))))
            .toMap
          assert(observedTotals("funnel_1_raw") === batchFunnel("1_raw"))
          assert(observedTotals("funnel_2_quality_kept") ===
            batchFunnel("2_quality_kept"))
          assert(observedTotals("funnel_3_deduped") === batchFunnel("3_deduped"))
        }
      }
    }
  }

  test("streaming curation vs known corpus: history never re-lands") {
    import org.apache.spark.sql.functions._
    // at-rest corpus (already landed): the documents table
    val corpus = Tables.load(spark, dir, "documents")
      .select(col("doc_id"), col("text"))
    // incoming stream: verbatim re-ingests of every 5th landed doc plus
    // genuinely new perturbed docs — the incremental-dedup fixture
    withTempDir("known-src") { srcDir =>
      graft.exts.Dedup.incomingBatch(spark, dir)
        .withColumn("ingest_ts_ms", col("doc_id") * 1000L)
        .write.mode("overwrite").parquet(srcDir)
      withTempDir("known-out") { outDir =>
        withTempDir("known-ckpt") { ckpt =>
          val stream = spark.readStream
            .schema("doc_id LONG, text STRING, ingest_ts_ms LONG")
            .parquet(srcDir)
          val kc = graft.stream.CurationPipeline.KnownCorpus(
            graft.exts.BloomIndex.build(corpus),
            corpus.select(md5(col("text")).as("k")).distinct())
          val q = graft.stream.CurationPipeline.run(
            stream, outDir, ckpt, known = Some(kc))
          q.awaitTermination()
          val landed = spark.read.parquet(outDir)
          // nothing already in the corpus landed again
          assert(landed.join(corpus.select(col("text")), Seq("text"), "left_semi")
            .count() === 0L)
          // batch expectation: quality-kept ∧ not-in-corpus, one per distinct text
          val expected = graft.exts.TextAnalysis.qualitySignals(
              spark.read.parquet(srcDir))
            .filter(col("keep"))
            .join(corpus.select(col("text")), Seq("text"), "left_anti")
            .select(md5(col("text"))).distinct().count()
          assert(landed.count() === expected && expected > 0L)
        }
      }
    }
  }

  test("windowed metrics: batch/stream-shared aggregation is consistent") {
    val metrics = EventPipeline.windowedMetrics(
      EventOps.events(spark, dir), "1 day").collect()
    assert(metrics.nonEmpty)
    // totals across windows equal raw totals
    val totalEvents = metrics.map(_.getLong(2)).sum
    assert(totalEvents === EventOps.events(spark, dir).count())
    // window starts are day-aligned
    metrics.foreach(r => assert(r.getLong(0) % 86400000L === 0L))
  }
}
