package graft.stream

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.exts.{Bm25Index, TextAnalysis}

/** The event-driven maintenance loop closed over the TEXT INDEX — the
  * reference's pattern (small appends accumulate → a threshold decision
  * → one expensive compaction) applied to the BM25 inverted index, the
  * Lucene-segment lifecycle expressed in this engine's terms and the
  * [[IndexLoop]] sibling for the lexical tower:
  *
  *  1. INGEST — each micro-batch of (doc_id, text) documents is gated
  *     by an id probe against what the index already holds (replayed or
  *     duplicate arrivals never land twice); survivors' postings are
  *     written as a batch-sized DELTA SEGMENT (postings + df + stats —
  *     a complete mini-index, [[Bm25Index.save]]'s layout).
  *  2. SERVE — queries score against the COMPOSITE index: the main
  *     segment plus every pending delta. Postings union by frame; per-
  *     term df adds across segments (vocabulary-sized); length stats
  *     add exactly — so mid-stream results are bit-identical to an
  *     index freshly built over corpus ∪ pending (the bm25_update
  *     doc-disjoint merge property, exercised continuously).
  *  3. DECIDE — metadata-cheap every batch: pending doc count ≥
  *     [[MergePermille]]‰ of the indexed count trips the merge, the
  *     analog of the reference's commit-count threshold (many small
  *     segments = the small-files problem, verbatim).
  *  4. ACT — only when tripped: the composite is compacted into ONE new
  *     main segment at `v<version+1>` (the O(index) pass), pending
  *     clears, and the serving version bumps — the next query batch
  *     reads the compacted index. Retention then sweeps: main segments
  *     beyond the [[LoopCore.RetainLayouts]] newest are deleted, and
  *     the deltas absorbed by the PREVIOUS compaction go with them —
  *     one generation late, so an in-flight reader still holding the
  *     previous (main, pending) composite reads complete segments.
  *
  * '''Idempotent batch application''' (the [[LoopCore]] discipline,
  * r15; guard tightened r16): the post-batch state commits LAST as a
  * `_meta/state-b<id>` marker; a replayed batch id at or below the
  * serving handle's lastBatchId is a strict NO-OP that leaves the
  * in-memory state untouched — never a restore from the historical
  * marker, which would rewind a live handle to a generation whose
  * pending deltas a later compaction may have swept. A batch whose
  * marker is missing re-applies over its own overwritten partial
  * outputs (every segment write is mode=overwrite at a
  * batch-deterministic path). Batch ids are the streaming
  * checkpoint's — monotone across restarts — so [[start]] REFUSES a
  * checkpoint-less query on a root with committed batches (a new
  * query restarts ids at 0, which the guard would silently no-op);
  * [[reattach]] restores a serving handle from the newest marker in
  * one tiny file read.
  *
  * Per-batch cost is batch-sized (tokenize + delta write + one id
  * probe); the O(index) rewrite runs only on threshold — exactly how
  * the table loop reserves compaction for tables past their commit
  * threshold. At lake scale the id probe reads a doc-keyed Bloom
  * artifact ([[graft.exts.BloomIndex]]'s shape) instead of the postings
  * id projection this toy-scale probe scans.
  */
object LexIndexLoop {

  /** Pending share of the indexed doc count that trips compaction. */
  val MergePermille = 200L

  /** Serving snapshot: the main segment path, the pending delta paths
    * (in arrival order), the doc counts the decision reads, the last
    * committed batch id, the deltas absorbed by the latest compaction
    * (deleted one compaction later — the retention lag), and the
    * commit ordinal (`commitSeq` — the marker file key, advancing on
    * EVERY commit: batches and fleet-dispatched compactions alike, so
    * an out-of-band commit never collides with a batch marker; r17). */
  final case class State(version: Long, mainPath: String,
      pending: Vector[String], nIndexed: Long, nPending: Long,
      lastBatchId: Long = -1L, absorbed: Vector[String] = Vector.empty,
      commitSeq: Long = 0L)

  /** Atomically-swapped serving state — the ingest loop writes, each
    * query batch reads one consistent snapshot. */
  final class ServingIndex private[LexIndexLoop] (
      private[stream] val root: String, initial: State)
      extends LoopCore.ServingRef[State](initial) {
    def version: Long = snapshot.version
  }

  private def splitPaths(s: String): Vector[String] =
    if (s.isEmpty) Vector.empty else s.split(",").toVector

  private def meta(root: String): LoopCore.MetaStore[State] =
    new LoopCore.MetaStore(root, "b",
      s => s"""{"version":${s.version},""" +
        s""""mainPath":${LoopCore.jsonStr(s.mainPath)},""" +
        s""""pending":${LoopCore.jsonStr(s.pending.mkString(","))},""" +
        s""""nIndexed":${s.nIndexed},"nPending":${s.nPending},""" +
        s""""lastBatchId":${s.lastBatchId},""" +
        s""""absorbed":${LoopCore.jsonStr(s.absorbed.mkString(","))},""" +
        s""""commitSeq":${s.commitSeq}}""",
      j => State(LoopCore.jsonLong(j, "version"),
        LoopCore.jsonString(j, "mainPath"),
        splitPaths(LoopCore.jsonString(j, "pending")),
        LoopCore.jsonLong(j, "nIndexed"),
        LoopCore.jsonLong(j, "nPending"),
        LoopCore.jsonLong(j, "lastBatchId"),
        splitPaths(LoopCore.jsonString(j, "absorbed")),
        // pre-r17 markers (ordinal = batch id) lack commitSeq; default
        // past the old ordinal range so the next commit's marker sorts
        // strictly newest and reattach keeps working on old roots
        LoopCore.jsonLongOpt(j, "commitSeq").getOrElse(
          LoopCore.jsonLong(j, "lastBatchId") + 1)))

  /** Commit `next` as the newest marker (ordinal = its commitSeq) and
    * swap the serving handle — the single commit point every path
    * (delta, compaction, no-op advance, fleet dispatch) goes through. */
  private def commit(root: String, index: ServingIndex,
      next: State): Unit = {
    meta(root).write(next.commitSeq, next)
    index.update(next)
  }

  /** Build the version-0 main segment over the landed corpus. */
  def buildIndex(spark: SparkSession, corpusDocs: DataFrame,
      root: String): ServingIndex = {
    val docs = corpusDocs.select(col("doc_id"), col("text"))
    Bm25Index.save(TextAnalysis.bm25Postings(docs),
      TextAnalysis.bm25Stats(docs), s"$root/v0")
    val st = State(0L, s"$root/v0", Vector.empty, docs.count(), 0L)
    meta(root).write(st.commitSeq, st)
    new ServingIndex(root, st)
  }

  /** Restore a serving handle from the self-persisted state markers —
    * fails loudly if the recorded segments are missing (a stale or
    * swept-too-far export must never serve silently). */
  def reattach(spark: SparkSession, root: String): ServingIndex = {
    val st = meta(root).newest.getOrElse(
      throw new IllegalStateException(
        s"lexIndexLoop: no state markers under $root"))
    (st.mainPath +: st.pending).foreach(p =>
      require(LoopCore.isDirectory(p),
        s"lexIndexLoop: recorded segment $p missing under $root — " +
          "stale export"))
    new ServingIndex(root, st)
  }

  /** The composite (postings, df, stats) of a snapshot: main ∪ pending
    * segments. Postings union by frame; df sums per term; stats add and
    * avgdl recomputes — all integer, so compositing is exact. */
  def composite(spark: SparkSession,
      st: State): (DataFrame, DataFrame, DataFrame) = {
    val parts = st.mainPath +: st.pending
    // drop the segments' term-bucket layout column (Bm25Index.save
    // partitions by it); the composite is a logical union, not a layout
    val postings = parts
      .map(p => spark.read.parquet(s"$p/postings").drop("t_bucket"))
      .reduce(_ unionByName _)
    val dfr = parts.map(p => spark.read.parquet(s"$p/df"))
      .reduce(_ unionByName _)
      .groupBy(col("term")).agg(sum(col("df")).as("df"))
    val stats = parts.map(p => spark.read.parquet(s"$p/stats"))
      .reduce(_ unionByName _)
      .agg(sum(col("n_docs")).as("n_docs"),
        sum(col("n_tokens")).as("n_tokens"))
      .withColumn("avgdl_x1000", expr("n_tokens * 1000 div n_docs"))
    (postings, dfr, stats)
  }

  /** Score a (doc_id, text) query batch against a snapshot's composite
    * index — [[Bm25Index.scoreBatch]] semantics over main ∪ pending. */
  def scoreAgainst(spark: SparkSession, st: State, batch: DataFrame,
      k: Int = 10): DataFrame = {
    val (postings, dfr, stats) = composite(spark, st)
    val qterms = batch.select(col("doc_id").as("query_id"),
      explode(array_distinct(split(trim(col("text")), "\\s+")))
        .as("term"))
    TextAnalysis.bm25ScoreAgainst(postings, stats, qterms, k,
      excludeSelf = false, dfrOpt = Some(dfr))
  }

  /** Online serving against the LIVE loop state: each query micro-batch
    * reads the current snapshot once — a compaction bump from the
    * ingest loop is picked up at the very next batch, and the serving
    * version is reported alongside each batch's results. */
  def serveWith(spark: SparkSession, index: ServingIndex,
      queries: DataFrame, sink: (DataFrame, Long, Long) => Unit,
      k: Int = 10): StreamingQuery =
    queries.writeStream
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (!batch.isEmpty) {
          val st = index.snapshot
          sink(scoreAgainst(spark, st, batch, k), batchId, st.version)
        }
      }
      .start()

  /** Apply ONE document batch: id-gate, land the delta segment, maybe
    * compact, commit the marker LAST. Idempotent per batch id (see the
    * class doc). Package-private for direct replay tests. */
  private[graft] def applyBatch(spark: SparkSession, index: ServingIndex,
      root: String, batch0: DataFrame, batchId: Long,
      onCycle: (Long, Long, Boolean, Long) => Unit): Unit =
    index.withCommitLock {
      applyBatchLocked(spark, index, root, batch0, batchId, onCycle)
    }

  private def applyBatchLocked(spark: SparkSession, index: ServingIndex,
      root: String, batch0: DataFrame, batchId: Long,
      onCycle: (Long, Long, Boolean, Long) => Unit): Unit = {
    // committed already? (failure replay) → strict no-op WITHOUT
    // touching the serving state (the MediaIndexLoop discipline). The
    // guard keys on the in-memory/reattached lastBatchId, never on a
    // historical marker: restoring a marker's recorded state would
    // REWIND a live handle to a past generation whose pending delta
    // dirs a later compaction may already have swept — the r15
    // fresh-query-on-an-existing-root hazard. (A genuine durable
    // restart reattaches from the NEWEST marker before the checkpoint
    // re-delivers the tail batch, so this id check covers it exactly;
    // [[start]] rejects the ambiguous no-checkpoint restart outright.)
    if (batchId <= index.snapshot.lastBatchId) {
      onCycle(batchId, 0L, false, index.version)
      return
    }
    // within-batch id dedup FIRST (deterministic keeper), so an
    // at-least-once upstream delivering one doc twice in a single
    // trigger can't double its postings/stats — the gate below only
    // covers ids already in a segment
    val batch = batch0.select(col("doc_id"), col("text"))
      .groupBy(col("doc_id"))
      .agg(min(col("text")).as("text"))
      .localCheckpoint(true) // batch-sized
    if (batch.isEmpty) {
      onCycle(batchId, 0L, false, index.version)
      return
    }
    val st = index.snapshot
    // 1) GATE: ids already in any segment never land twice (the
    // replay/duplicate-dispatch protection the event loop has).
    val (postings, _, _) = composite(spark, st)
    val survivors = batch
      .join(postings.select(col("doc_id")).distinct(),
        Seq("doc_id"), "left_anti")
      .localCheckpoint(true) // batch-sized
    val landed = survivors.count()
    if (landed == 0L) {
      commit(root, index, st.copy(lastBatchId = batchId,
        commitSeq = st.commitSeq + 1))
      onCycle(batchId, 0L, false, st.version)
      return
    }
    // 2) DELTA SEGMENT: a complete batch-sized mini-index (overwrite
    // at a batch-deterministic path — a torn prior attempt re-lands).
    val deltaPath = s"$root/p$batchId"
    Bm25Index.save(TextAnalysis.bm25Postings(survivors),
      TextAnalysis.bm25Stats(survivors), deltaPath)
    val pending = st.pending :+ deltaPath
    val nPending = st.nPending + landed
    // 3) DECIDE: the commit-count analog over doc counts.
    if (nPending * 1000L >= st.nIndexed * MergePermille) {
      // 4) ACT: compact main ∪ pending into one new segment.
      compactInto(spark, root, index,
        st.copy(pending = pending, nPending = nPending,
          lastBatchId = batchId))
      onCycle(batchId, landed, true, st.version + 1)
    } else {
      commit(root, index, st.copy(pending = pending, nPending = nPending,
        lastBatchId = batchId, commitSeq = st.commitSeq + 1))
      onCycle(batchId, landed, false, st.version)
    }
  }

  /** The ACT branch: compact `st`'s main ∪ pending into one new main
    * segment, commit, then sweep the PREVIOUS compaction's absorbed
    * deltas and out-of-window main segments. `st` carries the pending
    * list, counts, and lastBatchId the compacted state should record;
    * commitSeq advances here. */
  private def compactInto(spark: SparkSession, root: String,
      index: ServingIndex, st: State): State = {
    val (p, _, s) = composite(spark, st)
    val newMain = s"$root/v${st.version + 1}"
    Bm25Index.save(p,
      s.select(col("n_docs"), col("n_tokens"), col("avgdl_x1000")),
      newMain)
    val next = State(st.version + 1, newMain, Vector.empty,
      st.nIndexed + st.nPending, 0L, st.lastBatchId, st.pending,
      st.commitSeq + 1)
    // COMMIT before sweeping — the marker is the source of truth
    commit(root, index, next)
    // retention: deltas absorbed by the PREVIOUS compaction die now
    // (no reader holds a composite older than one generation), and
    // main segments beyond the retain window go with them
    st.absorbed.foreach(LoopCore.deleteRecursively)
    LoopCore.gcVersions(root, "v(\\d+)".r)
    next
  }

  /** Fleet-dispatched compaction — the ACT branch run OUT OF BAND (the
    * reference's evaluator→executor dispatch at fleet scope, see
    * [[FleetHealth.maintenanceTick]]): compacts whatever is pending
    * RIGHT NOW without waiting for the per-batch threshold, committing
    * at the next commitSeq ordinal with `lastBatchId` untouched so the
    * stream's replay guard is unaffected. Returns true iff anything
    * was pending to compact. */
  def compactNow(spark: SparkSession, index: ServingIndex): Boolean =
    index.withCommitLock {
      val st = index.snapshot
      if (st.nPending == 0L) false
      else { compactInto(spark, index.root, index, st); true }
    }

  /** Start the ingest → delta append → threshold → compaction loop over
    * a streaming (doc_id, text) frame. `onCycle(batchId, landed,
    * merged, version)` observes each batch's decision. */
  def start(spark: SparkSession, index: ServingIndex, root: String,
      docs: DataFrame,
      onCycle: (Long, Long, Boolean, Long) => Unit = (_, _, _, _) => (),
      checkpoint: Option[String] = None): StreamingQuery = {
    // keyed on the ON-DISK newest marker (not the in-memory handle):
    // a freshly built handle over a root that already has committed
    // batches carries lastBatchId = -1 and would pass an in-memory
    // guard — the exact footgun this closes (the GraphIndexLoop
    // discipline). An intentional rebuild clears the root first.
    LoopCore.requireCheckpointIfResuming("lexIndexLoop",
      math.max(index.snapshot.lastBatchId,
        meta(root).newest.map(_.lastBatchId).getOrElse(-1L)), checkpoint)
    // durable restart: reattach() + the same checkpoint (the
    // MediaIndexLoop durable-restart spec exercises the pattern)
    LocalCheckpointFileManager.start(docs, checkpoint)(_.writeStream
      .outputMode("append")
      .foreachBatch { (batch0: DataFrame, batchId: Long) =>
        applyBatch(spark, index, root, batch0, batchId, onCycle)
      })
  }
}
