package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark.withTempDir
import graft.engine.{Compact, DryRunExecutor, Executors, JobStateLog, LocalSparkExecutor}
import graft.model.JobRun

/** Executor lifecycle: submit → state log → poll → terminal
  * (SURVEY.md §2.1 job_submit_*, job_poll_state, sync_async_gate,
  * executor_dynload). */
class ExecutorSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def fragmented(dir: String): Unit =
    spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
      .repartition(8).write.mode("overwrite").parquet(dir)

  test("synchronous local executor runs compaction to SUCCEEDED") {
    val log = new JobStateLog
    withTempDir("exec-in") { in => withTempDir("exec-out") { out =>
      fragmented(in)
      val ex = new LocalSparkExecutor(spark, log)
      ex.initialize("db.t", Map(
        "optimize-data.synchronous-enabled" -> "true",
        "optimize-data.sleep-wait-ms" -> "50",
        "local.input-dir" -> in,
        "local.output-dir" -> out))
      val jobId = ex.execute()
      assert(log.currentState(jobId) === Some("SUCCEEDED"))
      assert(Compact.listFiles(out).nonEmpty)
      assert(spark.read.parquet(out).count() ===
        spark.read.parquet(in).count())
    }}
  }

  test("synchronous local executor returns on its job's Future, not a sleep tick") {
    val log = new JobStateLog
    withTempDir("exec-in") { in => withTempDir("exec-out") { out =>
      fragmented(in)
      val ex = new LocalSparkExecutor(spark, log)
      ex.initialize("db.t", Map(
        "optimize-data.synchronous-enabled" -> "true",
        "optimize-data.sleep-wait-ms" -> "120000",
        "local.input-dir" -> in,
        "local.output-dir" -> out))
      val t0 = System.nanoTime()
      val jobId = ex.execute()
      val ms = (System.nanoTime() - t0) / 1000000
      assert(ms < 60000, s"synchronous execute took $ms ms")
      assert(log.currentState(jobId) === Some("SUCCEEDED"))
    }}
  }

  test("synchronous job on a missing input dir raises and logs FAILED") {
    val log = new JobStateLog
    withTempDir("exec-out") { out =>
      val ex = new LocalSparkExecutor(spark, log)
      ex.initialize("db.t", Map(
        "optimize-data.synchronous-enabled" -> "true",
        "local.input-dir" -> s"$out/missing",
        "local.output-dir" -> s"$out/rewritten"))
      intercept[IllegalStateException] { ex.execute() }
      val jobId = log.all.head.jobId
      assert(log.currentState(jobId) === Some("FAILED"))
    }
  }

  test("async local executor returns immediately; poll reaches terminal") {
    val log = new JobStateLog
    withTempDir("exec-in") { in => withTempDir("exec-out") { out =>
      fragmented(in)
      val ex = new LocalSparkExecutor(spark, log)
      ex.initialize("db.t2", Map(
        "local.input-dir" -> in, "local.output-dir" -> out))
      val jobId = ex.execute()
      // fire-and-forget default (synchronous-enabled=false): poll explicitly
      val state = Executors.waitForCompletion(log, jobId, sleepWaitMs = 20)
      assert(state === "SUCCEEDED")
    }}
  }

  test("poll loop times out if a job never reaches a terminal state") {
    val log = new JobStateLog
    log.append(JobRun("stuck", "RUNNING", 1L))
    val e = intercept[IllegalStateException] {
      Executors.waitForCompletion(log, "stuck", sleepWaitMs = 10,
        maxWaitMs = 80)
    }
    assert(e.getMessage.contains("timed out"))
  }

  test("failed job surfaces through the poll loop as an error") {
    val log = new JobStateLog
    log.append(JobRun("j1", "SUBMITTED", 1L))
    log.append(JobRun("j1", "RUNNING", 2L))
    log.append(JobRun("j1", "FAILED", 3L))
    intercept[IllegalStateException] {
      Executors.waitForCompletion(log, "j1", sleepWaitMs = 1)
    }
  }

  test("latest-state index equals filter + sort on out-of-order and tied appends") {
    val rnd = new scala.util.Random(11)
    val states = Seq("SUBMITTED", "RUNNING", "SUCCEEDED", "FAILED")
    val log = new JobStateLog
    (1 to 400).foreach { _ =>
      log.append(JobRun(s"j${rnd.nextInt(8)}", states(rnd.nextInt(4)),
        rnd.nextInt(20).toLong))
    }
    (0 until 8).map(i => s"j$i").foreach { id =>
      val oracle = log.all.filter(_.jobId == id).sortBy(_.tsMillis)
        .lastOption.map(_.state)
      assert(log.currentState(id) === oracle, id)
    }
    assert(log.currentState("absent") === None)
  }

  test("missing mandatory dirs rejected (required_prop_check)") {
    // refused at initialize, before any job is submitted
    val log = new JobStateLog
    Seq("local.input-dir", "local.output-dir").foreach { key =>
      val ex = new LocalSparkExecutor(spark, log)
      val e = intercept[IllegalArgumentException] {
        ex.initialize("db.t", Map("local.input-dir" -> "/in",
          "local.output-dir" -> "/out") - key)
      }
      assert(e.getMessage === s"$key is required")
    }
    assert(log.all.isEmpty)
  }

  test("dry-run executor emits the generated SQL") {
    val log = new JobStateLog
    val ex = new DryRunExecutor(log)
    ex.initialize("db.t", Map.empty)
    val jobId = ex.execute()
    assert(ex.generatedSql.get.startsWith(
      "CALL aws_ebtm.system.rewrite_data_files(table => 'db.t'"))
    assert(log.currentState(jobId) === Some("SUCCEEDED"))
  }

  test("athena executor: missing output bucket rejected at initialize") {
    val ex = new graft.engine.AthenaDryRunExecutor(new JobStateLog)
    val e = intercept[IllegalArgumentException] {
      ex.initialize("db.t", Map.empty)
    }
    assert(e.getMessage.contains("Invalid output bucket: null"))
  }

  test("athena executor emits the StartQueryExecution parameter block") {
    val log = new JobStateLog
    val ex = new graft.engine.AthenaDryRunExecutor(log)
    ex.initialize("db.t", Map(
      "optimize-data.athena.output-bucket" -> "s3://results/"))
    val jobId = ex.execute()
    assert(ex.generatedParams.get ===
      "StartQueryExecution(" +
        "QueryString='OPTIMIZE db.t REWRITE DATA USING BIN_PACK;', " +
        "QueryExecutionContext(Database='AwsDataCatalog'), " +
        "ResultConfiguration(OutputLocation='s3://results/'))")
    assert(log.currentState(jobId) === Some("SUCCEEDED"))
  }

  test("per-engine poll machines: spin sets, success states, raise semantics") {
    import graft.model.PollPolicy
    // (policy, success-terminal the engine's enum uses)
    val table = Seq(
      (PollPolicy.Athena, "SUCCEEDED"),
      (PollPolicy.EmrEc2, "COMPLETED"),
      (PollPolicy.EmrEks, "COMPLETED"),
      (PollPolicy.EmrServerless, "SUCCESS"))
    table.foreach { case (policy, done) =>
      // every non-terminal state keeps the loop spinning (times out here)
      policy.nonTerminal.foreach { s =>
        val log = new JobStateLog
        log.append(JobRun("j", s, 1L))
        val e = intercept[IllegalStateException] {
          Executors.waitForCompletion(log, "j", sleepWaitMs = 5,
            maxWaitMs = 40, policy = policy)
        }
        assert(e.getMessage.contains("timed out"),
          s"${policy.engine}/$s should spin")
      }
      // the engine's success terminal exits the loop and is returned
      val ok = new JobStateLog
      ok.append(JobRun("j", done, 1L))
      assert(Executors.waitForCompletion(ok, "j", sleepWaitMs = 1,
        policy = policy) === done, policy.engine)
      // an unobserved job reads as the engine's initial (non-terminal) state
      val empty = new JobStateLog
      intercept[IllegalStateException] {
        Executors.waitForCompletion(empty, "nope", sleepWaitMs = 5,
          maxWaitMs = 40, policy = policy)
      }
    }
    // only Athena raises on failure (AthenaOptimizeDataExecutor.java:133-140)
    Seq("FAILED", "CANCELLED").foreach { s =>
      val log = new JobStateLog
      log.append(JobRun("j", s, 1L))
      val e = intercept[IllegalStateException] {
        Executors.waitForCompletion(log, "j", sleepWaitMs = 1,
          policy = PollPolicy.Athena)
      }
      assert(e.getMessage.contains("terminated"))
    }
    // ...the three EMR loops exit silently on any out-of-set state — a
    // failed EMR job does NOT error the poll (reference behavior)
    Seq(PollPolicy.EmrEc2, PollPolicy.EmrEks, PollPolicy.EmrServerless)
      .foreach { policy =>
        val log = new JobStateLog
        log.append(JobRun("j", "FAILED", 1L))
        assert(Executors.waitForCompletion(log, "j", sleepWaitMs = 1,
          policy = policy) === "FAILED", policy.engine)
      }
    // machines are genuinely distinct: QUEUED spins Athena but is
    // out-of-set (immediate exit) for EMR-EC2
    val q = new JobStateLog
    q.append(JobRun("j", "QUEUED", 1L))
    assert(Executors.waitForCompletion(q, "j", sleepWaitMs = 1,
      policy = PollPolicy.EmrEc2) === "QUEUED")
  }

  test("executor_dynload: known names resolve, unknown class fails cleanly") {
    val log = new JobStateLog
    assert(Executors.load("local", spark, log).isInstanceOf[LocalSparkExecutor])
    assert(Executors.load("dry-run", spark, log).isInstanceOf[DryRunExecutor])
    intercept[IllegalArgumentException] {
      Executors.load("com.example.NoSuchExecutor", spark, log)
    }
  }
}
