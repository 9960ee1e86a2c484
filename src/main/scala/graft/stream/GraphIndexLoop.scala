package graft.stream

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.exts.Similarity

/** The event-driven maintenance loop closed over the kNN GRAPH — the
  * reference's commit→threshold→action pattern
  * (AwsTableManagementMetricsEvaluator.java:64-140) applied to the most
  * reused derived structure in the engine, completing the r13 story:
  * [[graft.exts.KnnIndex]] made the graph a build-once artifact,
  * [[Similarity.knnIncremental]] made a single batch merge exact, and
  * this loop runs that maintenance continuously:
  *
  *  1. INGEST — each micro-batch of (vec_id, embedding) is gated by the
  *     emb_incremental near-dup rule ([[Similarity.embIncrementalGateAt]]
  *     at the graph's pinned bucket width); survivors land in the
  *     parquet corpus under batch-tagged file names.
  *  2. MERGE — the graph layout AT REST is parquet PARTITIONED BY the
  *     src vector's sign bucket. Each acted batch publishes a FRESH
  *     epoch layout directory `b<bits>-e<epoch>`: the batch's
  *     bucket-local rescore ([[Similarity.knnIncremental]]'s law: edges
  *     never cross buckets) writes only the touched buckets; untouched
  *     buckets' files are HARD-LINKED from the previous epoch (copy
  *     fallback) — O(batch × cell occupancy) data IO per batch, and the
  *     layout a concurrent reader holds is NEVER mutated: serving swaps
  *     to the new epoch atomically via the [[ServingGraph]] handle, so
  *     a query racing a merge reads one consistent epoch end to end
  *     (no FileNotFoundException, no pre/post-merge mix).
  *  3. DRIFT + REBUILD — the loop carries the corpus count; when growth
  *     pushes [[Similarity.adaptiveBucketBits]] past the pinned width,
  *     the O(corpus) full rebuild runs ONCE at the new width into the
  *     batch's epoch dir and the VERSION BUMPS — the
  *     accumulate→threshold→rebuild event. Each bump also emits the
  *     [[Similarity.graphHealthOver]] report row on the freshly
  *     published layout (`onHealth`) — the reference's evaluator emits
  *     its health numbers ON the maintenance loop, not as a separate
  *     query.
  *  4. SERVE — [[ServingGraph.edges]] reads whatever epoch is current;
  *     every [[Similarity]] `*FromEdges` consumer (components,
  *     pagerank, LPA, walks, triangles, purity, D4) runs against it
  *     unchanged.
  *
  * '''Exactly-once batch application.''' foreachBatch replays batches
  * after a failure, so every side effect here is keyed by batchId and
  * committed by ONE marker written last: a batch's survivors land as
  * `batch<id>-*` corpus files, its layout is the deterministic
  * `b<bits>-e<batchId+1>` dir, and its driver state persists as
  * `_meta/state-e<batchId+1>.json` ([[LoopCore.atomicWrite]] through
  * the Hadoop-FileSystem seam). A replayed batch at or below the
  * handle's epoch is a strict no-op that leaves the serving state
  * UNTOUCHED (never a restore from the historical marker — the r16
  * discipline shared with [[LexIndexLoop]]/[[MediaIndexLoop]]). A
  * replayed batch whose marker is MISSING (crash mid-apply) first
  * deletes its own partial outputs (its corpus files, its epoch dir)
  * and re-applies from scratch — the gate then sees exactly the
  * pre-batch corpus, so the re-application is bit-identical. [[start]]
  * refuses a checkpoint-less query on a root with committed batches
  * (fresh queries restart batch ids at 0).
  *
  * Per-batch cost is O(batch) data IO plus metadata-scale linking; the
  * corpus-scale rebuild runs only when the width threshold trips — the
  * same discipline as [[IndexLoop]] (IVF cells) and [[LexIndexLoop]]
  * (BM25 segments). Superseded epoch dirs are retained for
  * [[RetainLayouts]] generations (a reader holds one snapshot for at
  * most one micro-batch) and garbage-collected after.
  */
object GraphIndexLoop {

  /** Epoch layout dirs kept besides the current one: an in-flight
    * reader that took its snapshot just before a swap still reads a
    * complete previous epoch; anything older has no live readers
    * (snapshots live for one micro-batch). */
  val RetainLayouts: Int = LoopCore.RetainLayouts

  /** Driver-side metadata of the serving graph; the edges themselves
    * live in the epoch's bucket-partitioned parquet layout. `version`
    * bumps on width-drift rebuilds (the consumer-visible generation);
    * `epoch` advances on every COMMIT that publishes a layout — acted
    * batches and fleet-dispatched rebuilds alike (the layout-directory
    * generation and the marker ordinal, decoupled from batch ids since
    * r17 so an out-of-band rebuild can commit without colliding with a
    * batch marker); `lastBatchId` carries the replay guard. */
  final case class State(version: Long, bits: Int, epoch: Long,
      nCorpus: Long, lastBatchId: Long = -1L)

  /** Atomically-swapped serving handle over a `graphPath` layout root:
    * the loop publishes a fresh epoch dir per acted batch and swaps the
    * [[State]]; consumers read whatever epoch is current — published
    * layouts are immutable, so a reader's snapshot stays consistent for
    * its whole read. */
  final class ServingGraph private[GraphIndexLoop] (
      val graphPath: String, initial: State)
      extends LoopCore.ServingRef[State](initial) {
    def version: Long = snapshot.version
    def nCorpus: Long = snapshot.nCorpus
    /** Directory of the CURRENT epoch layout. */
    def layoutPath: String = layoutDir(graphPath, snapshot)
    /** The CURRENT edge frame ([[Similarity.knnGraph]] schema plus the
      * `bucket` partition column) — one consistent epoch read. */
    def edges(spark: SparkSession): DataFrame =
      spark.read.parquet(layoutPath)
        .select(col("src_id"), col("dst_id"), col("rank"), col("mutual"))
  }

  private[stream] def layoutDir(root: String, s: State): String =
    layoutDir(root, s.bits, s.epoch)
  private def layoutDir(root: String, bits: Int, epoch: Long): String =
    s"$root/b$bits-e$epoch"

  /** Edge frame of `emb` at `bits`, carrying each edge's src bucket as
    * the layout partition key. */
  private def bucketedEdges(emb: DataFrame, bits: Int): DataFrame =
    Similarity.knnGraphOver(emb.select(col("vec_id"), col("embedding")),
        bits, Similarity.KnnGraphK)
      .join(emb.select(col("vec_id").as("src_id"),
          Similarity.signBucketBits(col("embedding"), bits).as("bucket"))
        .hint("shuffle_hash"),
        Seq("src_id"))

  /** Build the serving graph over a landed corpus: one full
    * [[Similarity.knnGraphOver]] pass at the corpus's adaptive width,
    * written bucket-partitioned as epoch 0, with the initial state
    * persisted under `_meta`. */
  def buildGraph(spark: SparkSession, corpusPath: String,
      graphPath: String,
      target: Long = Similarity.TargetCellVectors): ServingGraph = {
    val emb = spark.read.parquet(corpusPath)
      .select(col("vec_id"), col("embedding"))
    val n = emb.count()
    val bits = Similarity.adaptiveBucketBits(n, target)
    val st = State(0L, bits, 0L, n)
    bucketedEdges(emb, bits).write.mode(SaveMode.Overwrite)
      .partitionBy("bucket").parquet(layoutDir(graphPath, st))
    writeMetaJson(graphPath, st, nNew = n)
    new ServingGraph(graphPath, st)
  }

  // ---- per-batch state persistence (the commit marker — the shared
  //      [[LoopCore.MetaStore]] tmp + ATOMIC_MOVE discipline, payload
  //      = post-batch state + the batch's id and survivor count) ----

  /** Markers carry a `kind` tag (r18): `batch` for stream commits,
    * `rebuild` for fleet-dispatched width rebuilds. A rebuild marker
    * CARRIES the stream's lastBatchId (replay guards need it on
    * reattach) with n_new = 0, so without the tag [[recordedNNew]]'s
    * scan could nondeterministically report a replayed batch's
    * survivor count as 0 depending on listDir order. Pre-r18 markers
    * lack the field and decode as `batch` — the only kind that existed
    * then. */
  private def meta(
      graphPath: String): LoopCore.MetaStore[(State, Long, String)] =
    new LoopCore.MetaStore(graphPath, "e",
      { case (s, nNew, kind) =>
        s"""{"version":${s.version},"bits":${s.bits},""" +
          s""""epoch":${s.epoch},"n_corpus":${s.nCorpus},""" +
          s""""batch_id":${s.lastBatchId},"n_new":$nNew,""" +
          s""""kind":${LoopCore.jsonStr(kind)}}""" },
      j => (State(LoopCore.jsonLong(j, "version"),
          LoopCore.jsonLong(j, "bits").toInt,
          LoopCore.jsonLong(j, "epoch"),
          LoopCore.jsonLong(j, "n_corpus"),
          LoopCore.jsonLong(j, "batch_id")),
        LoopCore.jsonLong(j, "n_new"),
        LoopCore.jsonStringOpt(j, "kind").getOrElse("batch")))

  private def writeMetaJson(graphPath: String, s: State, nNew: Long,
      kind: String = "batch"): Unit =
    meta(graphPath).write(s.epoch, (s, nNew, kind))

  /** Recorded survivor count of one batch, when its marker is still
    * retained — replay observability only (markers are keyed by epoch,
    * so this scans the bounded retained set for the batch id).
    * Rebuild-kind markers are skipped: they carry the batch id only
    * for the replay guard, never that batch's survivor count. */
  private def recordedNNew(graphPath: String,
      batchId: Long): Option[Long] =
    LoopCore.listDir(meta(graphPath).dir).collect {
      case (name, p) if name.matches("state-e-?\\d+\\.json") =>
        LoopCore.readString(p)
    }.collectFirst {
      case j if LoopCore.jsonLong(j, "batch_id") == batchId &&
          LoopCore.jsonStringOpt(j, "kind").forall(_ == "batch") =>
        LoopCore.jsonLong(j, "n_new")
    }

  /** Reattach to a layout root from its self-persisted per-batch state
    * (the serving restart's cold path: one tiny file read, no graph
    * work). Fails loudly if the newest state's layout dir is missing —
    * a stale or torn store must never be served silently. */
  def reattach(spark: SparkSession, graphPath: String): ServingGraph = {
    val (st, _, _) = meta(graphPath).newest
      .getOrElse(throw new IllegalStateException(
        s"graft.graphLoop: no committed state under $graphPath/_meta"))
    requireLayout(graphPath, st)
    new ServingGraph(graphPath, st)
  }

  private def requireLayout(graphPath: String, st: State): Unit =
    require(LoopCore.isDirectory(layoutDir(graphPath, st)),
      s"graft.graphLoop: state (v${st.version}, b${st.bits}, " +
        s"e${st.epoch}) names layout ${layoutDir(graphPath, st)} which " +
        "does not exist — stale meta for this layout root; rebuild or " +
        "reattach to the correct root")

  /** Export the driver-side state to an explicit location (the layout
    * and the per-batch `_meta` markers are already durable — this is
    * the cross-store shipping form). */
  def saveMeta(spark: SparkSession, g: ServingGraph, path: String): Unit = {
    import spark.implicits._
    val s = g.snapshot
    Seq((s.version, s.bits, s.epoch, s.nCorpus, s.lastBatchId))
      .toDF("version", "bits", "epoch", "n_corpus", "last_batch_id")
      .coalesce(1)
      .write.mode("overwrite").parquet(path)
  }

  /** Reattach from a [[saveMeta]] export. Verifies the named layout
    * dir exists on disk and fails loudly on mismatch — an export that
    * outlived its layouts (or points at the wrong root) must never be
    * served silently. */
  def loadMeta(spark: SparkSession, graphPath: String,
      metaPath: String): ServingGraph = {
    val df = spark.read.parquet(metaPath)
    val m = df.select("version", "bits", "epoch", "n_corpus",
      "last_batch_id").first()
    val st = State(m.getLong(0), m.getInt(1), m.getLong(2), m.getLong(3),
      m.getLong(4))
    requireLayout(graphPath, st)
    new ServingGraph(graphPath, st)
  }

  // ---- filesystem helpers for the epoch publish (all through the
  //      [[LoopCore]] Hadoop-FileSystem seam — r16) ----

  /** Hard-link (local FS) or byte-copy (any other scheme) every
    * `bucket=*` subdir of `prev` NOT in `touched` into `next` — the
    * untouched buckets' bytes are shared where the store allows it,
    * never rewritten, so the per-batch data IO stays O(touched) on a
    * local store and O(untouched-bytes) worst case elsewhere (an
    * object store's server-side copy never moves bytes through the
    * driver either way). */
  private def linkUntouched(prev: String, next: String,
      touched: Set[Long]): Unit = {
    LoopCore.listDir(prev).foreach { case (name, d) =>
      if (name.startsWith("bucket=") &&
          !touched.contains(name.stripPrefix("bucket=").toLong)) {
        LoopCore.listDir(d).foreach { case (fname, f) =>
          LoopCore.copyOrLink(f, s"$next/$name/$fname")
        }
      }
    }
  }

  /** Drop epoch dirs older than the [[RetainLayouts]] newest — the
    * shared retention sweep keyed on the epoch ordinal. */
  private def gcLayouts(graphPath: String): Unit =
    LoopCore.gcVersions(graphPath, "b\\d+-e(\\d+)".r, RetainLayouts)

  /** Remove every output of a crashed prior attempt at this batch —
    * its `batch<id>-*` corpus files and the epoch dir the attempt
    * would have published (`nextEpoch`, recomputed from the SAME
    * pre-batch state the torn attempt saw) at ANY width — so the
    * re-application gates against exactly the pre-batch corpus. */
  private def cleanPartial(corpusPath: String, graphPath: String,
      batchId: Long, nextEpoch: Long): Unit = {
    LoopCore.listDir(corpusPath)
      .filter { case (name, _) => name.startsWith(s"batch$batchId-") }
      .foreach { case (_, p) => LoopCore.deleteRecursively(p) }
    LoopCore.listDir(graphPath)
      .filter { case (name, _) =>
        name.matches(s"b\\d+-e$nextEpoch") }
      .foreach { case (_, p) => LoopCore.deleteRecursively(p) }
  }

  /** Land `survivors` in the corpus under batch-tagged file names:
    * written to a dot-prefixed staging dir INSIDE the corpus root
    * (hidden from Spark's file index, and guaranteed same-FS), then
    * each data file renames into `corpusPath` as `batch<id>-<file>` —
    * replay cleanup can identify and remove exactly this batch's
    * files. Payload renames need no atomicity: visibility is gated by
    * the state marker written last (the manifest-commit discipline). */
  private def landSurvivors(survivors: DataFrame, corpusPath: String,
      batchId: Long): Unit = {
    val staging = s"$corpusPath/.staging-b$batchId-" +
      java.util.UUID.randomUUID()
    try {
      survivors.write.mode(SaveMode.Overwrite)
        .parquet(s"$staging/data")
      LoopCore.listDir(s"$staging/data")
        .filter { case (name, _) => name.endsWith(".parquet") }
        .foreach { case (name, f) =>
          val (fs, src) = LoopCore.resolve(f)
          val dst = new org.apache.hadoop.fs.Path(
            corpusPath, s"batch$batchId-$name")
          if (fs.exists(dst)) fs.delete(dst, false)
          // FileSystem.rename reports failure by returning FALSE (it
          // rarely throws) — an unchecked failure here would silently
          // drop this batch's corpus file while the epoch layout and
          // marker still publish, diverging corpus and served graph
          require(fs.rename(src, dst),
            s"graphIndexLoop: failed to land corpus file $src -> $dst")
        }
    } finally LoopCore.deleteRecursively(staging)
  }

  /** Apply one ingest batch: gate → land → publish epoch layout →
    * commit marker. Idempotent per (batchId): a committed batch
    * restores its recorded state and returns; a torn batch cleans its
    * partial outputs and re-applies identically. Returns
    * (nSurvivors, version). Package-private for direct replay tests. */
  private[graft] def applyBatch(spark: SparkSession, graph: ServingGraph,
      corpusPath: String, batch0: DataFrame, batchId: Long,
      threshold: Double, target: Long,
      onHealth: (Long, DataFrame) => Unit): (Long, Long) =
    graph.withCommitLock {
      applyBatchLocked(spark, graph, corpusPath, batch0, batchId,
        threshold, target, onHealth)
    }

  private def applyBatchLocked(spark: SparkSession, graph: ServingGraph,
      corpusPath: String, batch0: DataFrame, batchId: Long,
      threshold: Double, target: Long,
      onHealth: (Long, DataFrame) => Unit): (Long, Long) = {
    // committed already? (failure replay) → strict no-op WITHOUT
    // touching the serving state: the guard keys on the handle's
    // lastBatchId, never on a historical marker — restoring a marker's
    // state would rewind a live handle to a layout generation the
    // retention sweep may already have deleted (the r16 LexIndexLoop
    // fix, applied uniformly; keyed on lastBatchId rather than epoch
    // since r17, when fleet-dispatched rebuilds started advancing the
    // epoch between batches). The recorded survivor count is returned
    // when its marker is still retained — observability only.
    if (batchId <= graph.snapshot.lastBatchId) {
      return (recordedNNew(graph.graphPath, batchId).getOrElse(0L),
        graph.version)
    }
    val batch = batch0.select(col("vec_id"), col("embedding"))
      .localCheckpoint(true) // batch-sized
    if (batch.isEmpty) return (0L, graph.version)
    val st = graph.state
    // torn prior attempt? remove its partial outputs BEFORE gating, so
    // the gate can never see this batch's own half-landed files (the
    // torn attempt saw the same pre-batch state, so its epoch dir is
    // exactly st.epoch + 1)
    cleanPartial(corpusPath, graph.graphPath, batchId, st.epoch + 1)
    val corpus = spark.read.parquet(corpusPath)
      .select(col("vec_id"), col("embedding"))
    // 1) GATE at the graph's pinned width: corpus near-dups never
    // enter; same-batch twins keep the min id (the IndexLoop rule)
    val keepIds = Similarity.embIncrementalGateAt(corpus,
        batch.select(col("vec_id").as("batch_id"), col("embedding")),
        threshold, st.bits)
      .filter(!col("is_dup"))
      .select(col("batch_id").as("vec_id"))
    val bb = batch.withColumn("bucket",
      Similarity.signBucketBits(col("embedding"), st.bits))
    val laterTwins = bb.as("a").join(bb.as("b"),
        col("a.bucket") === col("b.bucket") &&
          col("a.vec_id") < col("b.vec_id") &&
          Similarity.cosine(col("a.embedding"), col("b.embedding"))
            >= threshold)
      .select(col("b.vec_id").as("vec_id")).distinct()
    val survivors = batch.join(keepIds, Seq("vec_id"))
      .join(laterTwins, Seq("vec_id"), "left_anti")
      .localCheckpoint(true) // ≤ batch-sized, read three times
    val nNew = survivors.count()
    if (nNew == 0) return (0L, st.version)
    val epoch = st.epoch + 1
    // 2/3) DECIDE width first, then publish ONE fresh epoch layout:
    // corpus growth past the adaptive width's next threshold → a full
    // rebuild at the new width and a version bump; otherwise the
    // bucket-local merge (touched buckets written, untouched linked)
    val want = Similarity.adaptiveBucketBits(st.nCorpus + nNew, target)
    val drift = want != st.bits
    val bits = if (drift) want else st.bits
    val version = if (drift) st.version + 1 else st.version
    val next = layoutDir(graph.graphPath, bits, epoch)
    if (drift) {
      bucketedEdges(corpus.unionByName(survivors), want)
        .write.mode(SaveMode.Overwrite)
        .partitionBy("bucket").parquet(next)
    } else {
      // rescore ONLY the touched buckets (pre-append corpus ∪
      // survivors, members bounded by batch × occupancy) — the
      // bucket-locality law knn_incremental's oracle proves
      val touched = survivors
        .select(Similarity
          .signBucketBits(col("embedding"), st.bits).as("bucket"))
        .distinct()
      val members = corpus
        .select(col("vec_id"), col("embedding"),
          Similarity.signBucketBits(col("embedding"), st.bits)
            .as("bucket"))
        .join(broadcast(touched), "bucket")
        .select(col("vec_id"), col("embedding"))
        .unionByName(survivors)
        .localCheckpoint(true) // bounded; feeds rescore twice
      bucketedEdges(members, st.bits).write.mode(SaveMode.Overwrite)
        .partitionBy("bucket").parquet(next)
      linkUntouched(layoutDir(graph.graphPath, st), next,
        touched.collect().map(_.getLong(0)).toSet)
    }
    landSurvivors(survivors, corpusPath, batchId)
    val newState = State(version, bits, epoch, st.nCorpus + nNew, batchId)
    // COMMIT: marker last — everything above is re-creatable until here
    writeMetaJson(graph.graphPath, newState, nNew)
    graph.update(newState)
    gcLayouts(graph.graphPath)
    if (drift) {
      // the reference's evaluator emits health numbers ON the
      // maintenance loop: one report row per published generation
      onHealth(version, Similarity.graphHealthOver(graph.edges(spark),
        spark.read.parquet(corpusPath).select(col("vec_id"))))
    }
    (nNew, version)
  }

  /** Fleet-dispatched width-drift rebuild — the loop's ACT branch run
    * OUT OF BAND (the reference's evaluator→executor dispatch at fleet
    * scope: [[FleetHealth.maintenanceTick]] reads the live pressures
    * and triggers exactly the neediest family's rebuild). Acts only
    * when the corpus's adaptive width has actually drifted past the
    * pinned bits — the same threshold the batch path acts on — and
    * commits exactly like a batch: fresh epoch layout published first,
    * ONE marker last at the new epoch ordinal (epoch is the marker key
    * and advances here too, so this commit can never collide with a
    * batch marker), `lastBatchId` untouched so the stream's replay
    * guard is unaffected. Returns true iff a rebuild ran. */
  def rebuildNow(spark: SparkSession, graph: ServingGraph,
      corpusPath: String, target: Long = Similarity.TargetCellVectors,
      onHealth: (Long, DataFrame) => Unit = (_, _) => ()): Boolean =
    graph.withCommitLock {
      val st = graph.state
      val want = Similarity.adaptiveBucketBits(st.nCorpus, target)
      if (want == st.bits) false
      else {
        val corpus = spark.read.parquet(corpusPath)
          .select(col("vec_id"), col("embedding"))
        val next = State(st.version + 1, want, st.epoch + 1, st.nCorpus,
          st.lastBatchId)
        bucketedEdges(corpus, want).write.mode(SaveMode.Overwrite)
          .partitionBy("bucket").parquet(layoutDir(graph.graphPath, next))
        writeMetaJson(graph.graphPath, next, nNew = 0L,
          kind = "rebuild")
        graph.update(next)
        gcLayouts(graph.graphPath)
        onHealth(next.version, Similarity.graphHealthOver(
          graph.edges(spark), corpus.select(col("vec_id"))))
        true
      }
    }

  /** Start the ingest → gate → epoch publish → width-drift rebuild
    * loop over a streaming (vec_id, embedding) frame. `onCycle(batchId,
    * nSurvivors, version)` observes each batch — the reporter seam;
    * `onHealth(version, healthFrame)` receives the
    * [[Similarity.graphHealthOver]] row for each version bump. */
  def start(spark: SparkSession, graph: ServingGraph, corpusPath: String,
      vectors: DataFrame, threshold: Double = 0.999,
      target: Long = Similarity.TargetCellVectors,
      onCycle: (Long, Long, Long) => Unit = (_, _, _) => (),
      onHealth: (Long, DataFrame) => Unit = (_, _) => (),
      checkpoint: Option[String] = None)
      : StreamingQuery = {
    LoopCore.requireCheckpointIfResuming("graphIndexLoop",
      meta(graph.graphPath).newest.map(_._1.lastBatchId).getOrElse(-1L),
      checkpoint)
    // durable restart: reattach() + the same checkpoint resumes at the
    // first unprocessed batch with monotone ids; the commit markers
    // make any re-delivered tail batch a strict no-op (the
    // MediaIndexLoop durable-restart spec exercises the pattern)
    LocalCheckpointFileManager.start(vectors, checkpoint)(_.writeStream
      .outputMode("append")
      .foreachBatch { (batch0: DataFrame, batchId: Long) =>
        val (nNew, version) = applyBatch(spark, graph, corpusPath,
          batch0, batchId, threshold, target, onHealth)
        onCycle(batchId, nNew, version)
      })
  }
}
