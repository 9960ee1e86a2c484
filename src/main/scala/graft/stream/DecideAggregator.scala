package graft.stream

import org.apache.spark.sql.{Encoder, Encoders}
import org.apache.spark.sql.expressions.Aggregator

import graft.model.{EngineConfig, SnapshotMeta}

/** Incremental form of the optimize decision (SURVEY.md §7.3): a typed
  * `Aggregator` usable in batch `groupByKey.agg`, partial aggregation, and
  * incremental per-table state maintenance in streaming.
  *
  * The buffer is (last REPLACE ts, pending commit timestamps newer than
  * it). Keeping the actual pending timestamps — not just (count, oldest) —
  * makes `merge` exact under arbitrary input splits: a replace discovered
  * in another partial buffer retroactively prunes exactly the commits it
  * supersedes. The buffer size is the number of commits since the last
  * compaction — the very quantity this system exists to keep small (the
  * decision fires at `commitThreshold`), so state per table stays O(10).
  */
object DecideAggregator {

  /** lastReplaceTs = Long.MinValue when no replace has been seen. */
  final case class DecideBuf(lastReplaceTs: Long, pending: Seq[Long])

  final case class Decision(
      n_commits_since_replace: Long,
      oldest_pending_ts_ms: Long,
      time_triggered: Boolean,
      should_optimize: Boolean)

  /** The four aggregation primitives, standalone so the streaming pipeline
    * can fold micro-batches into long-lived per-table state
    * (EventPipeline.decideGroup) with exactly the semantics the batch
    * aggregate has. */
  val zeroBuf: DecideBuf = DecideBuf(Long.MinValue, Nil)

  def reduceBuf(b: DecideBuf, s: SnapshotMeta): DecideBuf =
    if (s.operation == "replace") {
      if (s.tsMillis >= b.lastReplaceTs)
        DecideBuf(s.tsMillis, b.pending.filter(_ > s.tsMillis))
      else b
    } else if (s.tsMillis > b.lastReplaceTs) {
      b.copy(pending = b.pending :+ s.tsMillis)
    } else b

  def mergeBuf(x: DecideBuf, y: DecideBuf): DecideBuf = {
    val lr = math.max(x.lastReplaceTs, y.lastReplaceTs)
    DecideBuf(lr, (x.pending ++ y.pending).filter(_ > lr))
  }

  def finishBuf(b: DecideBuf, cfg: EngineConfig): Decision = {
    val n = b.pending.size.toLong
    val oldest = if (n == 0) -1L else b.pending.min
    val stale = n > 0 &&
      oldest <= graft.ops.Decide.NowMs - cfg.timeThresholdMs
    Decision(
      n_commits_since_replace = n,
      oldest_pending_ts_ms = oldest,
      time_triggered = stale,
      should_optimize = n >= cfg.commitThreshold || stale)
  }

  /** The decision for every table in a driver-held log, with no Spark
    * job: each table's rows folded through the stream's own
    * `reduceBuf`/`finishBuf`, so the batch cycle and the decision stream
    * apply one rule. */
  def decideLog(log: Seq[SnapshotMeta], cfg: EngineConfig): Map[Long, Decision] =
    log.groupBy(_.tableId).map { case (t, rows) =>
      t -> finishBuf(rows.foldLeft(zeroBuf)(reduceBuf), cfg)
    }

  def apply(cfg: EngineConfig): Aggregator[SnapshotMeta, DecideBuf, Decision] =
    new Aggregator[SnapshotMeta, DecideBuf, Decision] {
      override def zero: DecideBuf = zeroBuf
      override def reduce(b: DecideBuf, s: SnapshotMeta): DecideBuf =
        reduceBuf(b, s)
      override def merge(x: DecideBuf, y: DecideBuf): DecideBuf =
        mergeBuf(x, y)
      override def finish(b: DecideBuf): Decision = finishBuf(b, cfg)
      override def bufferEncoder: Encoder[DecideBuf] = Encoders.product
      override def outputEncoder: Encoder[Decision] = Encoders.product
    }
}
