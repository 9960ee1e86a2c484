package graft.stream

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.exts.{IvfIndex, Similarity}

/** The event-driven maintenance loop closed over the VECTOR INDEX — the
  * reference's core pattern (commit event → threshold decision →
  * maintenance action, AwsTableManagementMetricsEvaluator.java:64-140,
  * already lifted to tables by [[graft.engine.Maintenance.cycle]])
  * composed end-to-end over the engine's flagship extension:
  *
  *  1. INGEST — each micro-batch of (vec_id, embedding) is gated by the
  *     emb_incremental near-dup rule ([[Similarity.embIncrementalGate]]);
  *     survivors land in the parquet corpus.
  *  2. DRIFT SIGNAL — survivors (only — batch-sized work) are assigned
  *     to their nearest cell and folded into the per-cell occupancy
  *     stats the loop carries as driver-side metadata (≤ one entry per
  *     cell), the analog of the reference's incremental commit count.
  *  3. DECIDE — [[Similarity.ivfMaintenanceFor]] verdicts over those
  *     stats: a hot cell (> 2× mean) demands a split, a cold one
  *     (< ½ mean) a merge. Deciding is metadata-cheap every batch.
  *  4. ACT — only when a verdict is non-keep does the expensive
  *     corpus-scale pass run: [[Similarity.applyMaintenance]] to
  *     quiescence (bounded by `maxPasses`), then the serving index
  *     VERSION BUMPS, and [[AnnServing.serveWith]]'s next query batch
  *     serves the rebuilt cells.
  *
  * The scale discipline is the reference's: the per-batch path costs
  * O(batch) (gate broadcast + batch assignment — the corpus is scanned
  * by the gate but never shuffled), and the O(corpus) re-train/reassign
  * runs ONLY when the threshold trips — exactly how the table loop
  * reserves compaction for tables whose commit count crossed the line.
  */
object IndexLoop {

  /** Immutable snapshot of the serving index: centroid rows + per-cell
    * occupancy stats (cell → (n_vectors, min_vec_id)) + corpus size +
    * the gate layout's bucket width + the last applied batch id (the
    * replay guard) — all metadata-sized (k cells, never corpus rows).
    * `commitSeq` is the on-disk marker ordinal (r18), advancing on
    * EVERY commit — batches and fleet-dispatched maintenance alike —
    * so an out-of-band bump's marker never collides with a batch
    * marker; `lastBatchId` alone carries the replay guard. */
  final case class State(version: Long, cents: Seq[(Long, Seq[Float])],
      cellStats: Map[Long, (Long, Long)], nCorpus: Long,
      gateBits: Int = 0, lastBatchId: Long = -1L, commitSeq: Long = 0L)

  /** On-disk commit record under `<corpusPath>/_meta` (hidden from the
    * parquet reader — `_`-prefixed) — the loop's RESUME-GUARD key
    * (r18). Unlike the other three loops, the vector loop's full
    * durable state is the explicit [[saveIndex]] artifact (centroids
    * and cell stats are k-sized parquet frames, not marker JSON); the
    * marker chain records only commit METADATA — enough for [[start]]
    * to refuse a stale or freshly built handle over a root with
    * committed batches keyed on what is ON DISK rather than on
    * whatever lastBatchId the handle happens to carry (the footgun the
    * other loops' disk-keyed guards closed in r16/r17). */
  private final case class Mark(version: Long, nCorpus: Long,
      gateBits: Int, lastBatchId: Long)

  private def meta(corpusPath: String): LoopCore.MetaStore[Mark] =
    new LoopCore.MetaStore[Mark](corpusPath, "i",
      m => s"""{"version":${m.version},"nCorpus":${m.nCorpus},""" +
        s""""gateBits":${m.gateBits},"lastBatchId":${m.lastBatchId}}""",
      j => Mark(LoopCore.jsonLong(j, "version"),
        LoopCore.jsonLong(j, "nCorpus"),
        LoopCore.jsonLong(j, "gateBits").toInt,
        LoopCore.jsonLong(j, "lastBatchId")))

  /** The atomically-swapped serving index: the ingest loop writes a new
    * [[State]] per acted batch; the serving path reads whatever version
    * is current at each query micro-batch. */
  final class ServingIndex private[IndexLoop] (initial: State)
      extends LoopCore.ServingRef[State](initial) {
    def version: Long = snapshot.version
    def nCorpus: Long = snapshot.nCorpus
    def centroids(spark: SparkSession): DataFrame =
      centFrame(spark, snapshot.cents)
    /** The loop's codes-layout wiring as DECLARED by [[buildIndex]] /
      * [[start]] / [[declareCodes]]: `None` = never declared (a bare
      * [[loadIndex]] handle), `Some(None)` = declared codes-less,
      * `Some(Some((codesPath, codebook)))` = declared wired.
      * Out-of-band maintenance ([[maintainNow]] with default args —
      * the [[FleetHealth.maintenanceTick]] dispatch) resolves through
      * this, so a fleet-triggered version bump can never skip the
      * `v<new>` layout rewrite a [[AnnServing.serveWith]] reader on
      * `codesPath` depends on. */
    @volatile private[IndexLoop] var declaredCodes:
      Option[Option[(String, DataFrame)]] = None
  }

  /** Declare (or re-declare) a handle's codes wiring out of band — the
    * restart path for a [[loadIndex]] handle that will face fleet
    * dispatch before its [[start]] call records the wiring. Pass
    * `(None, None)` to declare a codes-less loop explicitly. */
  def declareCodes(index: ServingIndex, codesPath: Option[String],
      codebook: Option[DataFrame]): Unit = {
    require(codesPath.isEmpty == codebook.isEmpty,
      "codesPath and codebook go together")
    index.declaredCodes = Some(codesPath.zip(codebook))
  }

  /** Centroid frame of a [[ServingIndex.snapshot]]. */
  def centroidsOf(spark: SparkSession, s: State): DataFrame =
    centFrame(spark, s.cents)

  /** Persist the serving index as parquet artifacts — centroids, cell
    * stats, and a 1-row meta (version, corpus size, gate width), all
    * metadata-sized. With the codebook ([[graft.exts.PqIndex.saveCodebook]])
    * and the on-disk codes/gate layouts this makes EVERY piece of the
    * loop durable: a restarted serving node [[loadIndex]]es in one tiny
    * read instead of retraining centroids and re-scanning the corpus
    * for occupancy. */
  def saveIndex(spark: SparkSession, index: ServingIndex,
      path: String): Unit = {
    import spark.implicits._
    val s = index.snapshot
    centFrame(spark, s.cents).coalesce(1)
      .write.mode("overwrite").parquet(s"$path/cents.parquet")
    s.cellStats.toSeq.map { case (c, (n, mn)) => (c, n, mn) }
      .toDF("cell", "n_vectors", "min_vec_id").coalesce(1)
      .write.mode("overwrite").parquet(s"$path/stats.parquet")
    Seq((s.version, s.nCorpus, s.gateBits, s.lastBatchId, s.commitSeq))
      .toDF("version", "n_corpus", "gate_bits", "last_batch_id",
        "commit_seq")
      .coalesce(1)
      .write.mode("overwrite").parquet(s"$path/meta.parquet")
  }

  /** Load a [[saveIndex]] artifact — the serving restart's cold path.
    * The carried last_batch_id restores the replay guard, so a restart
    * re-delivering the last checkpointed batch no-ops. */
  def loadIndex(spark: SparkSession, path: String): ServingIndex = {
    val cents = spark.read.parquet(s"$path/cents.parquet")
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1).toIndexedSeq))
      .sortBy(_._1).toIndexedSeq
    val stats = spark.read.parquet(s"$path/stats.parquet")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2))))
      .toMap
    val m = spark.read.parquet(s"$path/meta.parquet").first()
    new ServingIndex(State(m.getLong(0), cents, stats, m.getLong(1),
      m.getInt(2), m.getLong(3), m.getLong(4)))
  }

  private def centFrame(spark: SparkSession,
      rows: Seq[(Long, Seq[Float])]): DataFrame = {
    import spark.implicits._
    rows.toDF("cent_id", "cent")
  }

  private def collectCents(cents: DataFrame): Seq[(Long, Seq[Float])] =
    cents.collect().map { r =>
      (r.getLong(0), r.getSeq[Float](1).toIndexedSeq)
    }.toIndexedSeq

  /** Full-corpus per-cell stats — the O(corpus) rebuild, paid only at
    * index construction and after a triggered maintenance action. */
  private def fullStats(emb: DataFrame,
      cents: DataFrame): Map[Long, (Long, Long)] =
    IvfIndex.assigned(emb, cents)
      .groupBy(col("cell"))
      .agg(count(lit(1)).as("n"), min(col("vec_id")).as("mn"))
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2))))
      .toMap

  /** Build the serving index over a landed corpus: train centroids
    * ([[Similarity.trainedCentroids]] — bounded-sample Lloyd), assign
    * once for the occupancy baseline. When (`codesPath`, `codebook`) are
    * given, also lay down the version-0 clustered CODES layout at
    * `<codesPath>/v0` — the at-rest index the serving path
    * partition-prunes instead of re-deriving corpus codes per batch. */
  def buildIndex(spark: SparkSession, corpusPath: String,
      codesPath: Option[String] = None,
      codebook: Option[DataFrame] = None,
      gatePath: Option[String] = None,
      gateTarget: Long = Similarity.TargetCellVectors): ServingIndex = {
    require(codesPath.isEmpty == codebook.isEmpty,
      "codesPath and codebook go together")
    val emb = spark.read.parquet(corpusPath)
      .select(col("vec_id"), col("embedding"))
    val cents = Similarity.trainedCentroids(emb)
      .localCheckpoint(true) // k rows — metadata
    for (p <- codesPath; cb <- codebook)
      graft.exts.PqIndex.writeClusteredCodesWith(emb, cents, cb, s"$p/v0")
    val n = emb.count()
    val bits = Similarity.adaptiveBucketBits(n, gateTarget)
    for (p <- gatePath) writeGateLayout(emb, bits, s"$p/b$bits")
    // buildIndex IS the explicit fresh-lineage path (full retrain,
    // handle at lastBatchId = -1, re-ingest idempotent through the
    // near-dup gate): reset the marker chain so the disk-keyed resume
    // guard doesn't refuse the rebuilt loop over its own history
    LoopCore.deleteRecursively(s"$corpusPath/_meta")
    meta(corpusPath).write(0L, Mark(0L, n, bits, -1L))
    val idx = new ServingIndex(State(0L, collectCents(cents),
      fullStats(emb, cents), n, bits))
    idx.declaredCodes = Some(codesPath.zip(codebook))
    idx
  }

  /** The ingest gate's at-rest layout: the corpus partitioned by its
    * adaptive sign-bucket, so each micro-batch's near-dup check reads
    * ONLY the batch's own buckets via directory pruning — a per-batch
    * FULL corpus scan is not a shippable always-on ingest plan, for the
    * same reason serving reads the clustered CODES layout. */
  private def writeGateLayout(emb: DataFrame, bits: Int,
      path: String): Unit =
    emb
      .withColumn("bucket",
        Similarity.signBucketBits(col("embedding"), bits))
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .partitionBy("bucket").parquet(path)

  /** Maintenance verdict counts over the carried stats — metadata in,
    * metadata out (≤ one row per cell through a LocalRelation). */
  private def verdictCounts(spark: SparkSession,
      stats: Map[Long, (Long, Long)]): Map[String, Long] = {
    import spark.implicits._
    val cells = stats.toSeq.map { case (c, (n, mn)) => (c, n, mn) }
      .toDF("cell", "n_vectors", "min_vec_id")
    Similarity.ivfMaintenanceFor(cells)
      .groupBy(col("action")).agg(count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
  }

  /** The ACT trigger: SPLIT verdicts only. Splits are convergent (each
    * pass strictly shrinks the hottest cell) and are the pathology that
    * hurts queries — every probe over-scans a hot cell. Merge verdicts
    * ride along in any triggered pass (applyMaintenance drops them) but
    * never trigger alone: dropping a cold cell changes the CELL COUNT,
    * which moves the mean, which can flip another borderline cell to
    * merge — classic threshold hysteresis that oscillates forever if
    * acted on (observed on the loop-test fixture: split+merge residue
    * stable across 8 passes). A lingering boundary-cold cell is a small
    * capacity inefficiency the next split-triggered rebuild sweeps. */
  private def hasSplit(actions: Map[String, Long]): Boolean =
    actions.getOrElse("split", 0L) > 0L

  /** Start the ingest → gate → drift → maintain loop over a streaming
    * (vec_id, embedding) frame. `onCycle(batchId, verdictCounts,
    * version)` observes each batch's decision for tests and metrics —
    * the reporter seam, like the table loop's decision log.
    *
    * With (`codesPath`, `codebook`) the loop also MAINTAINS the at-rest
    * clustered CODES layout: each batch's survivors append their codes
    * into `<codesPath>/v<version>` (batch-sized — cell geometry is
    * unchanged between bumps), and a maintenance bump rewrites the full
    * layout at `v<version+1>` BEFORE the version flips, so serving
    * readers always see a complete layout for whatever version they
    * observe.
    *
    * With `gatePath` (a [[buildIndex]]-written bucket layout) the
    * per-batch gate reads ONLY the batch's own buckets (collected as
    * literals — batch-sized metadata) instead of scanning the whole
    * corpus; pruning is EXACT because a cosine-near duplicate shares its
    * original's sign bucket by construction. Survivors append into their
    * bucket directories, and when the corpus grows past the adaptive
    * width's next threshold the layout REBUILDS at the new width — the
    * third event-driven action in the loop, alongside cell maintenance
    * and the codes-layout rewrite. */
  def start(spark: SparkSession, index: ServingIndex, corpusPath: String,
      vectors: DataFrame, threshold: Double = 0.999, maxPasses: Int = 4,
      codesPath: Option[String] = None,
      codebook: Option[DataFrame] = None,
      gatePath: Option[String] = None,
      gateTarget: Long = Similarity.TargetCellVectors,
      onCycle: (Long, Map[String, Long], Long) => Unit = (_, _, _) => (),
      checkpoint: Option[String] = None)
      : StreamingQuery = {
    // Same invariant as buildIndex: a codesPath without its codebook
    // would silently skip all layout upkeep, leaving v<new> unwritten
    // after a version bump — a serveWith reader on codesPath then fails
    // on its next query batch. Fail at wiring time, not mid-stream.
    require(codesPath.isEmpty == codebook.isEmpty,
      "codesPath and codebook go together")
    // the live loop's wiring is authoritative for out-of-band
    // maintenance from here on (fleet dispatch resolves through it)
    index.declaredCodes = Some(codesPath.zip(codebook))
    // keyed on max(handle, ON-DISK newest marker) (r18 — the other
    // three loops' discipline): a handle restored from a STALE
    // saveIndex artifact carries an old lastBatchId, so an in-memory
    // guard would let a fresh checkpoint silently no-op only part of
    // the committed history; the `<corpusPath>/_meta` chain records
    // every commit, and buildIndex (the explicit rebuild) resets it.
    LoopCore.requireCheckpointIfResuming("indexLoop",
      math.max(index.state.lastBatchId,
        meta(corpusPath).newest.map(_.lastBatchId).getOrElse(-1L)),
      checkpoint)
    // durable restart: loadIndex() (which carries the lastBatchId
    // replay guard) + the same checkpoint (the MediaIndexLoop
    // durable-restart spec exercises the pattern)
    LocalCheckpointFileManager.start(vectors, checkpoint)(_.writeStream
      .outputMode("append")
      .foreachBatch { (batch0: DataFrame, batchId: Long) =>
        applyBatch(spark, index, corpusPath, batch0, batchId, threshold,
          maxPasses, codesPath, codebook, gatePath, gateTarget, onCycle)
      })
  }

  /** Apply one ingest batch (the [[start]] body, callable directly for
    * replay tests). Idempotent per batch id: a batch id ≤ the carried
    * `lastBatchId` — a checkpointed restart re-delivering the last
    * applied batch, the [[LoopCore]] replay discipline — is a strict
    * no-op; [[saveIndex]]/[[loadIndex]] carry the guard across
    * restarts. */
  private[graft] def applyBatch(spark: SparkSession, index: ServingIndex,
      corpusPath: String, batch0: DataFrame, batchId: Long,
      threshold: Double, maxPasses: Int,
      codesPath: Option[String], codebook: Option[DataFrame],
      gatePath: Option[String], gateTarget: Long,
      onCycle: (Long, Map[String, Long], Long) => Unit): Unit =
    index.withCommitLock {
      applyBatchLocked(spark, index, corpusPath, batch0, batchId,
        threshold, maxPasses, codesPath, codebook, gatePath, gateTarget,
        onCycle)
    }

  private def applyBatchLocked(spark: SparkSession, index: ServingIndex,
      corpusPath: String, batch0: DataFrame, batchId: Long,
      threshold: Double, maxPasses: Int,
      codesPath: Option[String], codebook: Option[DataFrame],
      gatePath: Option[String], gateTarget: Long,
      onCycle: (Long, Map[String, Long], Long) => Unit): Unit = {
    if (batchId <= index.state.lastBatchId) {
      onCycle(batchId, Map.empty, index.version)
      return
    }
    val batch = batch0.select(col("vec_id"), col("embedding"))
      .localCheckpoint(true) // batch-sized
    if (batch.isEmpty) { onCycle(batchId, Map.empty, index.version) }
    else {
          val st = index.state
          // 1) GATE: near-dups of the landed corpus never enter the
          // index. With a gate layout the corpus side is PRUNED to the
          // batch's own buckets; otherwise it is the full corpus scan.
          val gateBits = gatePath match {
            case Some(_) => st.gateBits
            case None => Similarity.adaptiveBucketBits(st.nCorpus, gateTarget)
          }
          val gateCorpus = gatePath match {
            case Some(p) =>
              val buckets = batch
                .select(Similarity
                  .signBucketBits(col("embedding"), gateBits).as("b"))
                .distinct().collect().map(_.getLong(0)).sorted
              spark.read.parquet(s"$p/b$gateBits")
                .filter(col("bucket").isin(buckets.toIndexedSeq: _*))
                .select(col("vec_id"), col("embedding"))
            case None =>
              spark.read.parquet(corpusPath)
                .select(col("vec_id"), col("embedding"))
          }
          val keepIds = Similarity.embIncrementalGateAt(gateCorpus,
              batch.select(col("vec_id").as("batch_id"), col("embedding")),
              threshold, gateBits)
            .filter(!col("is_dup"))
            .select(col("batch_id").as("vec_id"))
          // within-batch near-dups: the gate compares batch vs CORPUS,
          // so two near-dup arrivals in the SAME micro-batch would both
          // pass it (the r9 streamingNearDedup lesson) — a batch-sized
          // bucketed self-pass keeps the minimum id of each pair
          val bb = batch.withColumn("bucket",
            Similarity.signBucketBits(col("embedding"), gateBits))
          val laterTwins = bb.as("a").join(bb.as("b"),
              col("a.bucket") === col("b.bucket") &&
                col("a.vec_id") < col("b.vec_id") &&
                Similarity.cosine(col("a.embedding"), col("b.embedding"))
                  >= threshold)
            .select(col("b.vec_id").as("vec_id")).distinct()
          val survivors = batch.join(keepIds, Seq("vec_id"))
            .join(laterTwins, Seq("vec_id"), "left_anti")
            .localCheckpoint(true) // ≤ batch-sized
          val nNew = survivors.count()
          if (nNew > 0) {
            survivors.write.mode("append").parquet(corpusPath)
            // batch-sized layout upkeep: the survivors' codes land in
            // the CURRENT version's cell directories, their vectors in
            // their bucket directories
            for (p <- codesPath; cb <- codebook)
              graft.exts.PqIndex.appendClusteredCodes(survivors,
                centFrame(spark, st.cents), cb, s"$p/v${st.version}")
            for (p <- gatePath)
              survivors
                .withColumn("bucket",
                  Similarity.signBucketBits(col("embedding"), gateBits))
                .write.mode(org.apache.spark.sql.SaveMode.Append)
                .partitionBy("bucket").parquet(s"$p/b$gateBits")
          }
          // gate-width drift: corpus growth past the adaptive width's
          // threshold rebuilds the bucket layout at the new width (the
          // corpus-scale pass runs only when the threshold trips)
          var newGateBits = gateBits
          for (p <- gatePath) {
            val want = Similarity
              .adaptiveBucketBits(st.nCorpus + nNew, gateTarget)
            if (want != gateBits) {
              writeGateLayout(
                spark.read.parquet(corpusPath)
                  .select(col("vec_id"), col("embedding")),
                want, s"$p/b$want")
              newGateBits = want
              // superseded narrower-width layouts beyond the retain
              // window have no live readers — sweep (widths only grow)
              LoopCore.gcVersions(p, "b(\\d+)".r)
            }
          }
          // 2) DRIFT SIGNAL: assign ONLY the survivors (batch-sized),
          // fold into the carried per-cell stats
          val delta = IvfIndex
            .assigned(survivors, centFrame(spark, st.cents))
            .groupBy(col("cell"))
            .agg(count(lit(1)).as("n"), min(col("vec_id")).as("mn"))
            .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
          var stats = delta.foldLeft(st.cellStats) {
            case (m, (cell, n, mn)) =>
              val (n0, mn0) = m.getOrElse(cell, (0L, Long.MaxValue))
              m.updated(cell, (n0 + n, math.min(mn0, mn)))
          }
          // 3) DECIDE — metadata-cheap, every batch
          var actions = verdictCounts(spark, stats)
          var cents = st.cents
          var version = st.version
          // 4) ACT — the O(corpus) pass runs only on a SPLIT verdict
          // (see hasSplit for why merge-only states must not trigger)
          if (hasSplit(actions)) {
            val (c2, s2, a2, v2) = runMaintenance(spark, corpusPath,
              cents, actions, version, maxPasses, codesPath, codebook)
            cents = c2; stats = s2; actions = a2; version = v2
          }
          // COMMIT: marker last (payload/layout work above is
          // re-creatable until here), then the in-memory swap
          val seq = st.commitSeq + 1
          meta(corpusPath).write(seq,
            Mark(version, st.nCorpus + nNew, newGateBits, batchId))
          index.update(State(version, cents, stats, st.nCorpus + nNew,
            newGateBits, batchId, seq))
          onCycle(batchId, actions, version)
    }
  }

  /** The ACT branch: run [[Similarity.applyMaintenance]] to quiescence
    * (bounded by maxPasses), bump the version, rewrite the clustered
    * CODES layout for the new geometry when maintained, sweep old
    * layouts. Returns (cents, stats, actions, version). */
  private def runMaintenance(spark: SparkSession, corpusPath: String,
      cents0: Seq[(Long, Seq[Float])], actions0: Map[String, Long],
      version0: Long, maxPasses: Int, codesPath: Option[String],
      codebook: Option[DataFrame])
      : (Seq[(Long, Seq[Float])], Map[Long, (Long, Long)],
        Map[String, Long], Long) = {
    val all = spark.read.parquet(corpusPath)
      .select(col("vec_id"), col("embedding"))
    var centsDf = centFrame(spark, cents0)
    var actions = actions0
    var stats = Map.empty[Long, (Long, Long)]
    var pass = 0
    while (pass < maxPasses && hasSplit(actions)) {
      centsDf = Similarity.applyMaintenance(all, centsDf)
        .localCheckpoint(true)
      stats = fullStats(all, centsDf)
      actions = verdictCounts(spark, stats)
      pass += 1
    }
    val cents = collectCents(centsDf)
    val version = version0 + 1
    // rewrite the layout for the NEW cell geometry before the
    // version flips — readers of v<old> stay consistent; then
    // sweep code layouts beyond the retain window
    for (p <- codesPath; cb <- codebook) {
      graft.exts.PqIndex.writeClusteredCodesWith(all,
        centFrame(spark, cents), cb, s"$p/v$version")
      LoopCore.gcVersions(p, "v(\\d+)".r)
    }
    (cents, stats, actions, version)
  }

  /** Fleet-dispatched maintenance — the ACT branch run OUT OF BAND
    * (the reference's evaluator→executor dispatch at fleet scope, see
    * [[FleetHealth.maintenanceTick]]). Acts only when the carried
    * stats hold a SPLIT verdict — the same trigger the batch path
    * uses (merge-only pressure never acts; see [[hasSplit]] for the
    * hysteresis rule) — and swaps the serving state exactly like an
    * acted batch, lastBatchId untouched, committing a [[Mark]] at the
    * next commitSeq ordinal (full state durability stays the explicit
    * [[saveIndex]] artifact). Returns true iff a maintenance pass ran.
    *
    * Codes wiring: with default (`None`) arguments the call resolves
    * the HANDLE's declared wiring ([[ServingIndex.declaredCodes]],
    * recorded by [[buildIndex]]/[[start]]/[[declareCodes]]) — the
    * fleet dispatch needs no per-family plumbing and a codes-wired
    * loop's out-of-band bump always rewrites `v<new>` before the
    * version flips. Acting on a handle whose wiring was NEVER declared
    * (a bare [[loadIndex]] handle) fails loudly instead of bumping the
    * serving version with no layout behind it — the silent-corruption
    * path where the next serve batch reads a missing or near-empty
    * `v<new>`. */
  def maintainNow(spark: SparkSession, index: ServingIndex,
      corpusPath: String, maxPasses: Int = 4,
      codesPath: Option[String] = None,
      codebook: Option[DataFrame] = None): Boolean = {
    require(codesPath.isEmpty == codebook.isEmpty,
      "codesPath and codebook go together")
    index.withCommitLock {
      val st = index.state
      val actions0 = verdictCounts(spark, st.cellStats)
      if (!hasSplit(actions0)) false
      else {
        val wiring: Option[(String, DataFrame)] =
          codesPath.zip(codebook) match {
            case w @ Some(_) => index.declaredCodes = Some(w); w
            case None => index.declaredCodes.getOrElse(
              throw new IllegalStateException(
                "indexLoop: maintenance would bump the serving " +
                  "version but this handle's codes wiring was never " +
                  "declared — a codes-backed reader would face a " +
                  "missing v<new> layout. Pass codesPath/codebook, " +
                  "or declareCodes() on the handle (with (None, " +
                  "None) for a genuinely codes-less loop)."))
          }
        val (cents, stats, _, version) = runMaintenance(spark,
          corpusPath, st.cents, actions0, st.version, maxPasses,
          wiring.map(_._1), wiring.map(_._2))
        val seq = st.commitSeq + 1
        meta(corpusPath).write(seq,
          Mark(version, st.nCorpus, st.gateBits, st.lastBatchId))
        index.update(State(version, cents, stats, st.nCorpus,
          st.gateBits, st.lastBatchId, seq))
        true
      }
    }
  }
}
