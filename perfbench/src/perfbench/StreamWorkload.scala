package perfbench

import java.nio.file.{Files, Path}
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress, Trigger}
import org.apache.spark.sql.streaming.StreamingQueryListener._

import graft.engine.{DryRunExecutor, Executor, JobStateLog}
import graft.model.EngineConfig
import graft.ops.{Decide, EventOps}
import graft.stream.EventPipeline

/** stream_steady: an open loop into `EventPipeline.runStatefulStreaming`.
  *
  * run.py pre-generates one parquet file per slice of due time; a
  * generator thread hard-links each into the watched directory when its
  * last event falls due, whatever the stream is doing. Each table's
  * commits form episodes of `commitThreshold` appends and a later replace;
  * the threshold-crossing append must cause exactly one dispatch, and its
  * latency runs from when that append was due to the table's `execute()`
  * call. Dispatch wraps `DryRunExecutor`: real codegen, no compaction.
  * Set-up (stream start with a fresh checkpoint and its first micro-batch
  * on a warm-up file) is repeated and its median kept. */
object StreamWorkload {
  final case class Dispatch(table: Long, startMs: Double, ms: Double)

  def run(spark: SparkSession, a: Args, res: Result, probe: Option[Probe],
      sessionStartMs: Double): Unit = {
    val in = a.path("inputs")
    val work = a.path("work")
    val warmupS = a.dbl("warmup_s")
    val seconds = a.dbl("seconds")
    val cfg = EngineConfig()
    val schema = spark.read.parquet(in.resolve("warm.parquet").toString).schema
    val slices = Files.readAllLines(in.resolve("slices.tsv")).asScala.toSeq
      .map(_.split('\t')).map(f => (f(0), f(1).toLong, f(2).toLong))

    // Progress of the current query only; `processed` counts its input.
    val progress = new ConcurrentLinkedQueue[StreamingQueryProgress]()
    val processed = new AtomicLong(0L)
    @volatile var current: java.util.UUID = null
    spark.streams.addListener(new StreamingQueryListener {
      override def onQueryStarted(e: QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: QueryProgressEvent): Unit =
        if (e.progress.runId == current) {
          progress.add(e.progress)
          processed.addAndGet(e.progress.numInputRows)
        }
    })
    val dispatches = new ConcurrentLinkedQueue[Dispatch]()
    val jobLog = new JobStateLog
    val executorFor: String => Executor = _ => new Executor {
      private val inner = new DryRunExecutor(jobLog)
      private var table = 0L
      override def initialize(t: String, props: Map[String, String]): Unit = {
        table = t.stripPrefix("db.tbl_").toLong
        inner.initialize(t, props)
      }
      override def execute(): String = {
        val t0 = Clock.nowMs
        val id = inner.execute()
        dispatches.add(Dispatch(table, t0, Clock.nowMs - t0))
        id
      }
    }
    def start(rep: Int) = {
      val watch = work.resolve(s"watch-$rep")
      Files.createDirectories(watch)
      link(in.resolve("warm.parquet"), watch.resolve("warm.parquet"))
      processed.set(0L)
      val t0 = Clock.nowMs
      val (q, out) = EventPipeline.runStatefulStreaming(
        spark.readStream.schema(schema).parquet(watch.toString), cfg,
        executorFor, work.resolve(s"ckpt-$rep").toString,
        Trigger.ProcessingTime(0L))
      current = q.runId
      while (processed.get() == 0L) {
        require(q.isActive, s"stream stopped: ${q.exception}")
        Thread.sleep(2)
      }
      (q, out, watch, (Clock.nowMs - t0) / 1000)
    }

    val reps = a.int("setup_reps")
    val setups = (1 until reps).map { r =>
      val (q, _, _, s) = start(r)
      q.stop()
      s
    }
    val (q, out, watch, lastSetup) = start(0)
    val setupS = (setups :+ lastSetup).sorted.apply(reps / 2)
    res.fields("setup_s") = res.fields("session_s").asInstanceOf[Double] + setupS
    res.fields("setup_reps_s") = setups :+ lastSetup
    progress.clear()
    dispatches.clear()
    processed.set(0L)

    // The open-loop generator: link each slice when it falls due.
    val t0 = Clock.nowMs
    val lateMs = new Array[Double](slices.size)
    var backlogMax = 0L
    val generator = new Thread(() => {
      var linked = 0L
      slices.zipWithIndex.foreach { case ((name, dueMs, events), i) =>
        val wait = t0 + dueMs - Clock.nowMs
        if (wait > 0) Thread.sleep(wait.toLong, ((wait % 1) * 1e6).toInt)
        link(in.resolve("slices").resolve(name), watch.resolve(name))
        lateMs(i) = Clock.nowMs - (t0 + dueMs)
        linked += events
        backlogMax = math.max(backlogMax, linked - processed.get())
      }
    }, "perfbench-generator")
    generator.start()
    val traceAt = t0 + (warmupS + seconds / 2) * 1000
    val codegen0 = probe.map { p =>
      while (Clock.nowMs < traceAt) Thread.sleep(5)
      p.attach()
      CodeGenerator.compileTime
    }
    generator.join()
    q.processAllAvailable()
    probe.foreach { p =>
      p.detach()
      p.codegenNs += CodeGenerator.compileTime - codegen0.get
    }
    res.fields("heap_after_gc_mb") = Session.heapAfterGcMb()
    q.stop()

    // Pairing dispatches with episodes, the exactly-once check and the
    // latency samples are made by run.py from these raw records.
    res.fields("t0_ms") = t0
    res.fields("trace_at_ms") = if (probe.isDefined) traceAt else Double.MaxValue
    res.fields("dispatches") = dispatches.asScala.toSeq.sortBy(_.startMs)
      .map(d => Seq(d.table, d.startMs, d.ms))
    res.fields("late_ms") = lateMs.toSeq

    val expected = Decide.shouldOptimize(EventOps.snapshotLogFrom(
      spark.read.schema(schema).parquet(watch.toString)), cfg).collect()
    def rows(rs: Iterable[Row]) = rs.map(r => (r.getLong(0), r.getLong(1),
      r.getLong(2), r.getBoolean(3), r.getBoolean(4))).toSet
    res.check("final decisions equal Decide.shouldOptimize over the log",
      rows(out.decisions) == rows(expected),
      s"${(rows(out.decisions) diff rows(expected)).size} stream rows and " +
        s"${(rows(expected) diff rows(out.decisions)).size} batch rows differ")

    val winLo = t0 + warmupS * 1000
    val winHi = winLo + seconds * 1000
    val batches = progress.asScala.toSeq.map { p =>
      val s = java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
      (p, s, s + p.durationMs.getOrDefault("triggerExecution", 0L))
    }
    val inWindow = batches.filter { case (_, _, e) => e >= winLo && e < winHi }
    // Events completed per second between the first and the last batch
    // completion in the window (whole batches only, no edge rounding).
    require(inWindow.size >= 2, s"${inWindow.size} batches in the window")
    res.fields("busy_s") = (inWindow.last._3 - inWindow.head._3) / 1000
    res.fields("work") = inWindow.tail.map(_._1.numInputRows).sum.toDouble
    res.fields("offered_events") = slices.map(_._3).sum

    probe.foreach { p =>
      val traced = batches.filter(_._2 >= traceAt)
      traced.foreach { case (b, s, e) =>
        p.record("graft.stream", s"batch ${b.batchId}", s, e) }
      val from = traced.headOption.map(_._2).getOrElse(Double.MaxValue)
      dispatches.asScala.filter(_.startMs >= from).foreach { d =>
        p.record("graft.engine", "dispatch", d.startMs, d.startMs + d.ms) }
    }
    def dur(p: StreamingQueryProgress, keys: String*): Double =
      keys.map(k => p.durationMs.getOrDefault(k, 0L).toDouble).sum
    val ps = inWindow.map(_._1)
    val last = batches.lastOption.map(_._1)
    val state = (p: StreamingQueryProgress) => p.stateOperators.headOption
    res.fields("stream_batches") = ps.map { p => Map(
      "trigger_ms" -> dur(p, "triggerExecution"),
      "add_batch_ms" -> dur(p, "addBatch"),
      "planning_ms" -> dur(p, "queryPlanning"),
      "offsets_ms" -> dur(p, "latestOffset", "getBatch", "walCommit",
        "commitOffsets"),
      "state_update_ms" -> state(p).map(_.allUpdatesTimeMs.toDouble).getOrElse(0.0),
      "state_commit_ms" -> state(p).map(_.commitTimeMs.toDouble).getOrElse(0.0),
      "rows" -> p.numInputRows.toDouble)
    }
    res.fields("layers") = Map(
      "stream.batches" -> ps.size.toDouble,
      "stream.state_rows_total" ->
        last.flatMap(state).map(_.numRowsTotal.toDouble).getOrElse(0.0),
      "stream.state_memory_bytes" ->
        last.flatMap(state).map(_.memoryUsedBytes.toDouble).getOrElse(0.0),
      "stream.backlog_events_max" -> backlogMax.toDouble)
  }

  /** Make `src` appear at `dst` in one step: a hard link, or a copy then
    * an atomic rename where links are not supported. */
  private def link(src: Path, dst: Path): Unit =
    try Files.createLink(dst, src)
    catch { case _: UnsupportedOperationException | _: java.io.IOException =>
      val tmp = dst.resolveSibling("." + dst.getFileName)
      Files.copy(src, tmp)
      Files.move(tmp, dst, java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    }
}
