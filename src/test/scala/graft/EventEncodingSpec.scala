package graft

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.hadoop.util.HadoopOutputFile
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.model.EngineConfig
import graft.ops.{Decide, EventOps}
import graft.stream.EventPipeline

/** `events.ts` has arrived as parquet TIMESTAMP(NANOS) and as
  * `timestamp[us]` across fixture regenerations. The same events in either
  * encoding give the same decisions, and reading them writes no session
  * conf: the nanos setting comes from the conf table every graft session
  * carries. */
class EventEncodingSpec extends AnyFunSuite with TestTempDirs {
  private lazy val spark = TestSpark.spark
  private val fixture = "/root/testdata/sf0.001"

  /** The fixture's events as (event_id, ts in epoch micros, user_id,
    * event_type, value, props). */
  private lazy val rows: Seq[Row] = Tables.events(spark, fixture)
    .select(col("event_id"), unix_micros(col("ts").cast(TimestampType)),
      col("user_id"), col("event_type"), col("value"), col("props"))
    .collect().toSeq

  /** Writes [[rows]] to `<dir>/events.parquet` with `ts` as a naive
    * INT64 timestamp in `unit` (NANOS or MICROS), the fixture's shape. */
  private def writeEvents(dir: String, unit: String): String = {
    val schema = MessageTypeParser.parseMessageType(
      s"""message schema {
         |  optional int64 event_id;
         |  optional int64 ts (TIMESTAMP($unit,false));
         |  optional int64 user_id;
         |  optional binary event_type (STRING);
         |  optional double value;
         |  optional binary props (STRING);
         |}""".stripMargin)
    val scale = if (unit == "NANOS") 1000L else 1L
    val out = HadoopOutputFile.fromPath(
      new Path(s"$dir/events.parquet"), new Configuration())
    val w = ExampleParquetWriter.builder(out).withType(schema).build()
    val groups = new SimpleGroupFactory(schema)
    try rows.foreach { r =>
      val g = groups.newGroup()
      if (!r.isNullAt(0)) g.append("event_id", r.getLong(0))
      if (!r.isNullAt(1)) g.append("ts", r.getLong(1) * scale)
      if (!r.isNullAt(2)) g.append("user_id", r.getLong(2))
      if (!r.isNullAt(3)) g.append("event_type", r.getString(3))
      if (!r.isNullAt(4)) g.append("value", r.getDouble(4))
      if (!r.isNullAt(5)) g.append("props", r.getString(5))
      w.write(g)
    } finally w.close()
    dir
  }

  private def sorted(rows: Array[Row]): Seq[String] =
    rows.map(_.toSeq.mkString("|")).toSeq.sorted

  test("TIMESTAMP(NANOS) and timestamp[us] events give the same decisions") {
    val nanos = writeEvents(tempDir("nanos"), "NANOS")
    val micros = writeEvents(tempDir("micros"), "MICROS")
    assert(Tables.events(spark, nanos).schema("ts").dataType === LongType)
    assert(Tables.events(spark, micros).schema("ts").dataType ===
      TimestampNTZType)
    val cfg = EngineConfig()
    def batch(dir: String) = sorted(
      Decide.shouldOptimize(EventOps.snapshotLog(spark, dir), cfg).collect())
    def stream(dir: String) = sorted(
      EventPipeline.decisionsViaStream(spark, dir, cfg).collect())
    assert(batch(nanos).nonEmpty)
    assert(batch(nanos) === batch(micros))
    assert(stream(nanos).nonEmpty)
    assert(stream(nanos) === stream(micros))
  }

  test("reading events leaves a fresh session's conf unchanged") {
    val dir = writeEvents(tempDir("nanos"), "NANOS")
    val s = spark.newSession()
    def conf = s.conf.getAll - SessionMemo.IdConf
    val before = conf
    assert(EventOps.events(s, dir).count() === rows.size)
    EventPipeline.readEventStream(s, dir)
    assert(conf === before)
  }
}
