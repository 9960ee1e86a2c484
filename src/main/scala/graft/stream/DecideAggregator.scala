package graft.stream

import graft.model.{EngineConfig, SnapshotMeta}

/** The optimize decision (SURVEY.md §7.3) as one driver-side fold: the
  * decision stream folds each micro-batch's rows into per-table state
  * (EventPipeline.decideGroup) and `Maintenance.cycle` folds a driver-held
  * log ([[decideLog]]), both through `reduceBuf`/`finishBuf`, so there is
  * one rule, and both yield the one decision row, [[Decision]] (also the
  * stream's report view and the schema of `decisionsViaStream`).
  *
  * The buffer is (last REPLACE ts, pending commit timestamps newer than
  * it). Keeping the actual pending timestamps, not just (count, oldest),
  * makes the fold independent of arrival order: a REPLACE that arrives in
  * a later micro-batch than the commits it supersedes prunes exactly
  * those commits. The buffer size is the number of commits since the last
  * compaction, the very quantity this system exists to keep small (the
  * decision fires at `commitThreshold`), so state per table stays O(10).
  */
object DecideAggregator {

  /** lastReplaceTs = Long.MinValue when no replace has been seen. */
  final case class DecideBuf(lastReplaceTs: Long, pending: Seq[Long])

  /** One table's decision, in the columns of `Decide.shouldOptimize`. */
  final case class Decision(
      table_id: Long,
      n_commits_since_replace: Long,
      oldest_pending_ts_ms: Long,
      time_triggered: Boolean,
      should_optimize: Boolean)

  /** The fold's zero; `reduceBuf` adds one commit and `finishBuf` reads
    * the decision off a buffer. */
  val zeroBuf: DecideBuf = DecideBuf(Long.MinValue, Nil)

  def reduceBuf(b: DecideBuf, s: SnapshotMeta): DecideBuf =
    if (s.operation == "replace") {
      if (s.tsMillis >= b.lastReplaceTs)
        DecideBuf(s.tsMillis, b.pending.filter(_ > s.tsMillis))
      else b
    } else if (s.tsMillis > b.lastReplaceTs) {
      b.copy(pending = b.pending :+ s.tsMillis)
    } else b

  /** Table `tableId`'s decision at instant `nowMs`: stale when the oldest
    * pending commit is at least `timeThresholdMs` older than `nowMs`. */
  def finishBuf(tableId: Long, b: DecideBuf, cfg: EngineConfig,
      nowMs: Long): Decision = {
    val n = b.pending.size.toLong
    val oldest = if (n == 0) -1L else b.pending.min
    val stale = n > 0 && oldest <= nowMs - cfg.timeThresholdMs
    Decision(
      table_id = tableId,
      n_commits_since_replace = n,
      oldest_pending_ts_ms = oldest,
      time_triggered = stale,
      should_optimize = n >= cfg.commitThreshold || stale)
  }

  /** The decision at `nowMs` for every table in a driver-held log, in
    * `table_id` order, with no Spark job: each table's rows folded through
    * the stream's own `reduceBuf`/`finishBuf`, so the batch cycle and the
    * decision stream apply one rule. */
  def decideLog(log: Seq[SnapshotMeta], cfg: EngineConfig,
      nowMs: Long): Seq[Decision] =
    log.groupBy(_.tableId).toSeq.sortBy(_._1).map { case (t, rows) =>
      finishBuf(t, rows.foldLeft(zeroBuf)(reduceBuf), cfg, nowMs)
    }
}
