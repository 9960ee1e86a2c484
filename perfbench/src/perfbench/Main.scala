package perfbench

import java.nio.file.Files

import org.apache.spark.sql.SparkSession

import graft.model.EngineConfig

/** JVM side of the benchmark. run.py builds it with the program, generates
  * the seeded inputs, and calls
  * `perfbench.Main --workload W --inputs DIR --work DIR --seconds S
  *  --trace 0|1 --cores N [workload parameters]`; this writes
  * `<work>/result.json` and run.py turns it into metrics. */
object Main {
  def main(args: Array[String]): Unit = {
    val a = new Args(args)
    // the generated inputs are shaped around this threshold
    require(a.int("commit_threshold") == EngineConfig().commitThreshold,
      s"inputs are generated for commit threshold ${a.int("commit_threshold")}" +
        s" but the program's is ${EngineConfig().commitThreshold}")
    val work = a.path("work")
    Files.createDirectories(work)
    val res = new Result
    val t0 = Clock.nowMs
    val spark = Session.build(a.int("cores"), work)
    res.fields("session_s") = (Clock.nowMs - t0) / 1000
    val probe = if (a.int("trace") == 1) Some(new Probe(spark)) else None
    try {
      a.str("workload") match {
        case "stream_steady" => StreamWorkload.run(spark, a, res, probe, t0)
        case "compaction_cycle" =>
          CompactionWorkload.run(spark, a, res, probe, t0)
        case "decision_queries" => QueryWorkload.run(spark, a, res, probe, t0)
        case w => throw new IllegalArgumentException(s"unknown workload $w")
      }
      probe.foreach { p =>
        res.fields("spans") = p.spanRows
        res.fields("codegen_ns") = p.codegenNs
      }
      res.write(work.resolve("result.json"))
    } finally spark.stop()
  }
}

/** A closed loop: one client issues the next operation when the previous
  * one returns. The timed window holds at least `seconds` of operation
  * time and `minSamples` operations (whichever needs more, capped at six
  * times `seconds`); checks between operations are not timed. In a traced
  * run every other operation is traced (`traced(i)`), with the probe
  * attached before it and drained after it, outside its timing; the
  * untraced ones between give the tracing overhead without drift. */
object ClosedLoop {
  final case class Sample(ms: Double, name: String, traced: Boolean)

  def run(seconds: Double, minSamples: Int, probe: Option[Probe],
      res: Result, traced: Int => Boolean = _ % 2 == 1)(
      op: (Int, Option[Probe]) => (Double, String, Boolean)): Seq[Sample] = {
    val samples = Seq.newBuilder[Sample]
    var busyMs = 0.0
    var i, failed = 0
    while ((busyMs < seconds * 1000 || i < minSamples) &&
        busyMs < seconds * 6000) {
      val p = probe.filter(_ => traced(i))
      p.foreach(_.attach())
      val (ms, name, ok) = op(i, p)
      p.foreach(_.detach())
      // a failed operation still took its time; it is also counted failed
      samples += Sample(ms, name, p.isDefined)
      if (!ok) failed += 1
      busyMs += ms
      i += 1
    }
    res.fields("attempted") = i
    res.fields("failed") = failed
    res.fields("busy_s") = busyMs / 1000
    samples.result()
  }

  def report(res: Result, samples: Seq[Sample]): Unit = {
    res.fields("samples_ms") = samples.map(_.ms)
    res.fields("sample_names") = samples.map(_.name)
    res.fields("sample_traced") = samples.map(_.traced)
  }
}
