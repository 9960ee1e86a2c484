package graft.stream

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.exts.{Dedup, Multimodal}

/** The event-driven maintenance loop closed over the MEDIA INDEX — the
  * reference's commit → threshold → rebuild pattern
  * (AwsTableManagementMetricsEvaluator.java:64-140) on the fourth index
  * family (IVF: [[IndexLoop]]; BM25: [[LexIndexLoop]]; graph:
  * [[GraphIndexLoop]]; media signatures: here), covering the WHOLE
  * media lake since r15: images, video clips and audio tracks all gate
  * at ingest (r14 gated PNG signatures only, so a trimmed clip or
  * re-mastered track was caught no earlier than the next full pairs
  * rebuild — exactly the wild cases the run matchers exist for):
  *
  *  1. INGEST — each micro-batch of (doc_id, modality ∈ img|vid|aud,
  *     media) assets is deduped by (modality, doc_id) (an
  *     at-least-once upstream delivering one asset twice in a single
  *     trigger must not double its signatures — the [[LexIndexLoop]]
  *     rule), decoded to its modality's signature layout (BATCH codec
  *     work only: canonical rasters for images,
  *     [[Multimodal.videoFingerprints]] per-frame hashes for clips,
  *     [[Multimodal.audioWindowFps]] per-window fingerprints for
  *     tracks) and gated against the CURRENT serving set — the
  *     committed version's signatures plus every pending batch
  *     RECORDED by the last commit marker — AND against the batch's
  *     own earlier (smaller-id) assets, so a duplicate of an asset
  *     admitted seconds ago, or one arriving in the same trigger, is
  *     caught before any rebuild. Images match by banded Hamming;
  *     video/audio by the gap-banded shared-run subsequence match
  *     (trim-robust BY CONSTRUCTION — a trimmed copy differs only in
  *     run gap). Duplicates are dispositioned with a canonical pointer
  *     and NOT landed; novel assets' signatures land as batch-tagged
  *     pending parquet under the current version dir.
  *  2. DRIFT SIGNAL — the admitted count since the last rebuild, pure
  *     driver metadata (the analog of the reference's commit count).
  *  3. DECIDE — admitted ≥ `rebuildAfter` trips the threshold; deciding
  *     is free every batch.
  *  4. ACT — pending merges into a FRESH immutable version directory
  *     (`v<k+1>/sigs-<modality>` — the previous version stays intact
  *     for any in-flight reader, the epoch discipline), the TAGGED
  *     pair frame (image near pairs + video/audio shared runs — the
  *     [[graft.exts.MediaIndex]] pair-union shape) and component
  *     fixpoint recompute over SIGNATURES ONLY (zero codec work — the
  *     index's whole point), the serving [[State]] swaps atomically,
  *     the health row the rebuild policy reads is emitted ON the loop,
  *     and layout generations older than [[LoopCore.RetainLayouts]]
  *     are swept (expire_snapshots' retain-last-N on the loop's own
  *     version chain — superseded `v<j>` dirs no longer accumulate).
  *
  * '''Idempotent, torn-write-safe batch application''' (the
  * [[LoopCore]] discipline): pending lands in batch-tagged dirs
  * written with overwrite, the post-batch state commits LAST as a
  * `_meta/state-b<id>.json` marker, and a replayed batch id ≤ the
  * recorded last is a no-op. Crucially the serving signature read
  * EXCLUDES pending dirs whose batch ordinal exceeds the marker-
  * recorded `lastBatchId`: if a crash lands between the pending write
  * and the marker, the replayed batch re-gates against exactly the
  * pre-crash serving set (its own torn dir is invisible) and the
  * overwrite re-lands it — without the exclusion the batch's novel
  * assets would self-match against their own earlier-landed
  * signatures and be silently dropped from the index.
  */
object MediaIndexLoop {

  /** The modality tags the loop ingests, in stable enumeration order. */
  val Modalities: Seq[String] = Seq("img", "vid", "aud")

  /** Serving-state snapshot — all driver metadata. `commitSeq` is the
    * marker file key, advancing on EVERY commit — batches and
    * fleet-dispatched rebuilds alike — so an out-of-band rebuild's
    * marker never collides with a batch marker (r17); `lastBatchId`
    * alone carries the replay guard. */
  final case class State(version: Long, nAssets: Long, nPending: Long,
      lastBatchId: Long, commitSeq: Long = 0L)

  /** The atomically-swapped serving handle. */
  final class ServingMedia private[MediaIndexLoop] (
      private[stream] val root: String, initial: State)
      extends LoopCore.ServingRef[State](initial) {
    def version: Long = snapshot.version
    def nAssets: Long = snapshot.nAssets
    /** The CURRENT serving signature frame of one modality: the
      * committed version's sigs plus every pending batch the commit
      * marker has recorded — one consistent read per call (the state
      * is snapshotted once), torn dirs from a crashed attempt
      * excluded by the ordinal filter. */
    def sigs(spark: SparkSession, modality: String): DataFrame = {
      val s = snapshot
      sigsAt(spark, root, s, modality)
    }
    /** Back-compat image read (the r14 single-modality surface). */
    def sigs(spark: SparkSession): DataFrame = sigs(spark, "img")
  }

  private def sigsAt(spark: SparkSession, root: String, s: State,
      modality: String): DataFrame = {
    val base = spark.read.parquet(sigsDir(root, s.version, modality))
    pendingDirs(root, s.version, modality)
      .filter { case (ord, _) => ord <= s.lastBatchId }
      .map(_._2)
      .foldLeft(base)((acc, p) =>
        acc.unionByName(spark.read.parquet(p)))
  }

  private def sigsDir(root: String, v: Long, modality: String): String =
    s"$root/v$v/sigs-$modality"
  private def pendingDir(root: String, v: Long, batchId: Long,
      modality: String): String =
    s"$root/v$v/pending/batch-$batchId-$modality"
  /** (batch ordinal, dir) pairs of one version's landed pending dirs
    * for one modality. */
  private def pendingDirs(root: String, v: Long,
      modality: String): Seq[(Long, String)] = {
    LoopCore.listDir(s"$root/v$v/pending").flatMap { case (name, p) =>
      name match {
        case s"batch-$ord-$m" if m == modality &&
            LoopCore.isDirectory(p) =>
          Some((ord.toLong, p))
        case _ => None
      }
    }.sortBy(_._1)
  }

  private def meta(root: String): LoopCore.MetaStore[State] =
    new LoopCore.MetaStore[State](root, "b",
      s => s"""{"version":${s.version},"nAssets":${s.nAssets},""" +
        s""""nPending":${s.nPending},"lastBatchId":${s.lastBatchId},""" +
        s""""commitSeq":${s.commitSeq}}""",
      j => State(LoopCore.jsonLong(j, "version"),
        LoopCore.jsonLong(j, "nAssets"), LoopCore.jsonLong(j, "nPending"),
        LoopCore.jsonLong(j, "lastBatchId"),
        // pre-r17 markers (ordinal = batch id) lack commitSeq; default
        // past the old ordinal range so the next commit's marker sorts
        // strictly newest and reattach keeps working on old roots
        LoopCore.jsonLongOpt(j, "commitSeq").getOrElse(
          LoopCore.jsonLong(j, "lastBatchId") + 1)))

  /** Bootstrap version 0 from per-modality corpus signature frames
    * (pass an empty frame of the right schema for an absent
    * modality). */
  def build(spark: SparkSession, imgSigs: DataFrame, vidSigs: DataFrame,
      audSigs: DataFrame, root: String): ServingMedia = {
    val byMod = Map("img" -> imgSigs, "vid" -> vidSigs, "aud" -> audSigs)
    Modalities.foreach(m => byMod(m).write.mode("overwrite")
      .parquet(sigsDir(root, 0L, m)))
    val st = State(0L,
      byMod.values.map(df => df.select(col("doc_id")).distinct().count())
        .sum,
      0L, -1L)
    meta(root).write(st.commitSeq, st)
    new ServingMedia(root, st)
  }

  /** Restore a serving handle from the self-persisted state markers —
    * fails loudly if the recorded version's layout is missing (a stale
    * or torn export must not serve silently). */
  def reattach(spark: SparkSession, root: String): ServingMedia = {
    val st = meta(root).newest.getOrElse(
      throw new IllegalStateException(
        s"mediaIndexLoop: no state markers under $root"))
    Modalities.foreach(m =>
      require(LoopCore.isDirectory(sigsDir(root, st.version, m)),
        s"mediaIndexLoop: recorded v${st.version} $m layout missing " +
          s"under $root — stale export"))
    new ServingMedia(root, st)
  }

  // ---- per-modality gate plumbing ----

  /** Batch decode: the modality's signature frame over its slice of
    * the (doc_id, media) batch. */
  private def batchSigs(spark: SparkSession, modality: String,
      slice: DataFrame): DataFrame = {
    import spark.implicits._
    modality match {
      case "img" => Multimodal.canonicalSignatures(
        slice.toDF("doc_id", "png").as[Multimodal.PngAsset]).toDF()
      case "vid" => Multimodal.videoFingerprints(
        slice.toDF("doc_id", "gif").as[Multimodal.GifAsset]).toDF()
      case "aud" => Multimodal.audioWindowFps(
        slice.toDF("doc_id", "wav").as[Multimodal.WavAsset]).toDF()
    }
  }

  /** (batch_id, matched_id, metric) match evidence for one modality:
    * the serving probe PLUS the within-batch self-match (later ids
    * match earlier ones — two copies arriving in one trigger admit
    * exactly the first). Images carry Hamming distance as the metric
    * (smaller = closer); video/audio carry the shared-run length
    * (longer = stronger). */
  private def matches(serving: DataFrame, batch: DataFrame,
      modality: String): DataFrame = modality match {
    case "img" =>
      val corpus = Multimodal.nearMatchesAgainst(serving, batch)
        .select(col("batch_id"), col("corpus_id").as("matched_id"),
          col("hamming").as("metric"))
      val within = Multimodal.nearPairs(batch)
        .select(col("b_id").as("batch_id"), col("a_id").as("matched_id"),
          col("hamming").as("metric"))
      corpus.unionByName(within)
    case _ =>
      val (pos, sig) =
        if (modality == "vid") ("frame", Seq("gray_sum", "ahash"))
        else ("win", Seq("wfp"))
      val corpus = Multimodal.sharedRunsAgainst(serving, batch, pos, sig)
        .select(col("batch_id"), col("corpus_id").as("matched_id"),
          col("run_len").as("metric"))
      val within = Multimodal.sharedRuns(batch, pos, sig)
        .select(col("b_id").as("batch_id"), col("a_id").as("matched_id"),
          col("run_len").as("metric"))
      corpus.unionByName(within)
  }

  /** Per-asset disposition rollup: images keep the CLOSEST match
    * (min Hamming), runs keep the LONGEST; both resolve the canonical
    * pointer to the smallest matched id. −1 sentinels when new. */
  private def verdictsOf(ids: DataFrame, m: DataFrame,
      modality: String): DataFrame = {
    val best =
      if (modality == "img") min(col("metric")) else max(col("metric"))
    val agg = m.groupBy(col("batch_id"))
      .agg(countDistinct(col("matched_id")).as("m_n"),
        min(col("matched_id")).as("m_id"), best.as("m_metric"))
    ids.join(agg.hint("shuffle_hash"), Seq("batch_id"), "left")
      .select(col("batch_id"), lit(modality).as("modality"),
        coalesce(col("m_n"), lit(0L)).as("n_matches"),
        coalesce(col("m_id"), lit(-1L)).as("matched_id"),
        coalesce(col("m_metric"), lit(-1L)).as("metric"),
        col("m_n").isNull.cast("long").as("is_new"))
  }

  /** Rewrite duplicate dispositions whose canonical pointer names a
    * batch asset that was ITSELF gated (is_new = 0): pointer-jump each
    * such matched_id to its target's own matched_id until every
    * canonical pointer names a LANDED asset — a corpus asset or an
    * admitted batch asset. Without this, asset B arriving in the same
    * trigger as corpus-duplicate A could be dispositioned with
    * matched_id = A while A's content lands nowhere (A was gated), so
    * B's pointer would dangle. Within-batch matches point at strictly
    * smaller ids (and corpus pointers terminate immediately), so chains
    * strictly decrease; the iteration cap only trips if ids collide
    * across corpus and batch, which the ingest contract forbids —
    * fail loudly rather than emit a cyclic pointer. */
  private[stream] def resolveCanonicals(spark: SparkSession,
      verdicts: DataFrame): DataFrame = {
    // cycle guard UP FRONT: within-batch matches point at strictly
    // smaller ids and corpus pointers terminate, so a cycle REQUIRES a
    // gated pointer at a gated asset with a non-decreasing id — the
    // id-collision contract violation. Detecting it here fails fast and
    // by name; left to the iteration cap it would surface as 64 rounds
    // of ever-deeper joins on garbage input first.
    val gatedIds = verdicts.filter(col("is_new") === 0L)
      .select(col("modality").as("p_mod"), col("batch_id").as("p_id"))
    val offending = verdicts.filter(col("is_new") === 0L &&
        col("matched_id") >= col("batch_id"))
      .join(gatedIds,
        col("modality") === col("p_mod") &&
          col("matched_id") === col("p_id"), "left_semi")
      .count()
    if (offending > 0) throw new IllegalStateException(
      "mediaIndexLoop: canonical pointer chain did not resolve — a " +
        "gated asset's pointer names a gated asset with a " +
        "non-decreasing id (duplicate asset ids across corpus and " +
        "batch?); refusing to emit cyclic pointers")
    var cur = verdicts
    var iter = 0
    while (iter < 64) {
      // pointer table: each gated batch asset's own canonical pointer
      // (batch-sized; is_new is immutable so the dup set is fixed)
      val ptr = cur.filter(col("is_new") === 0L)
        .select(col("modality").as("p_mod"), col("batch_id").as("p_id"),
          col("matched_id").as("p_to"))
        .localCheckpoint(false)
      val pending = cur.alias("c").filter(col("c.is_new") === 0L)
        .join(ptr.alias("p"),
          col("c.modality") === col("p.p_mod") &&
            col("c.matched_id") === col("p.p_id"), "left_semi")
        .count()
      if (pending == 0) return cur
      cur = cur.alias("c")
        .join(ptr.hint("shuffle_hash").alias("p"),
          col("c.is_new") === 0L &&
            col("c.modality") === col("p.p_mod") &&
            col("c.matched_id") === col("p.p_id"), "left")
        .select(col("c.batch_id"), col("c.modality"), col("c.n_matches"),
          coalesce(col("p.p_to"), col("c.matched_id")).as("matched_id"),
          col("c.metric"), col("c.is_new"))
        .localCheckpoint(false)
      iter += 1
    }
    throw new IllegalStateException(
      "mediaIndexLoop: canonical pointer chain did not resolve in 64 " +
        "jumps — duplicate asset ids across corpus and batch?")
  }

  /** The rebuild's tagged pair frame over merged per-modality
    * signature frames — the [[graft.exts.MediaIndex.buildPairs]]
    * union shape computed from signatures only. */
  private[graft] def taggedPairs(img: DataFrame, vid: DataFrame,
      aud: DataFrame): DataFrame =
    Multimodal.nearPairs(img).select(col("a_id"), col("b_id"))
      .withColumn("modality", lit("img"))
      .unionByName(Multimodal
        .sharedRuns(vid, "frame", Seq("gray_sum", "ahash"))
        .select(col("a_id"), col("b_id")).distinct()
        .withColumn("modality", lit("vid")))
      .unionByName(Multimodal.sharedRuns(aud, "win", Seq("wfp"))
        .select(col("a_id"), col("b_id")).distinct()
        .withColumn("modality", lit("aud")))

  /** Apply ONE asset batch: gate all three modalities, land survivors,
    * maybe rebuild. Returns the per-asset disposition frame
    * (batch_id, modality, n_matches, matched_id, metric, is_new) —
    * is_new 1 = admitted, 0 = duplicate (matched_id names a LANDED
    * canonical, see [[resolveCanonicals]]), −1 = REJECTED: the row's
    * modality is outside [[Modalities]], nothing was landed, and the
    * explicit verdict row is the recovery record (the batch still
    * commits — silent disappearance is the failure mode this guards).
    * Idempotent: a batch id ≤ the recorded last is a no-op returning
    * an empty frame; a torn prior attempt (pending landed, marker
    * missing) is invisible to the gate and overwritten. */
  private[graft] def applyBatch(spark: SparkSession,
      serving: ServingMedia, batch: DataFrame, batchId: Long,
      rebuildAfter: Long,
      onHealth: (Long, DataFrame) => Unit): DataFrame =
    serving.withCommitLock {
      applyBatchLocked(spark, serving, batch, batchId, rebuildAfter,
        onHealth)
    }

  private def applyBatchLocked(spark: SparkSession,
      serving: ServingMedia, batch: DataFrame, batchId: Long,
      rebuildAfter: Long,
      onHealth: (Long, DataFrame) => Unit): DataFrame = {
    import spark.implicits._
    val st = serving.state
    if (batchId <= st.lastBatchId)
      return Seq.empty[(Long, String, Long, Long, Long, Long)]
        .toDF("batch_id", "modality", "n_matches", "matched_id",
          "metric", "is_new")
    // within-batch id dedup FIRST (deterministic keeper: min payload),
    // so an at-least-once upstream delivering one asset twice in a
    // single trigger cannot double its signatures — the LexIndexLoop
    // rule; content-level twins are handled by the self-match below
    val deduped = batch.select(col("doc_id"), col("modality"),
        col("media"))
      .groupBy(col("doc_id"), col("modality"))
      .agg(min(col("media")).as("media"))
      .localCheckpoint(false)
    var nAdmitted = 0L
    val verdictFrames = Modalities.flatMap { m =>
      val slice = deduped.filter(col("modality") === m)
        .select(col("doc_id"), col("media"))
      if (slice.isEmpty) None
      else {
        val sigs = batchSigs(spark, m, slice).localCheckpoint(false)
        val ids = sigs.select(col("doc_id").as("batch_id")).distinct()
        val v = verdictsOf(ids,
            matches(serving.sigs(spark, m), sigs, m), m)
          .localCheckpoint(false)
        // land the NOVEL assets' signatures as a batch-tagged pending
        // dir (overwrite ⇒ a torn earlier attempt is replaced, never
        // doubled)
        val admitted = sigs.join(
          v.filter(col("is_new") === 1L)
            .select(col("batch_id").as("doc_id")).hint("shuffle_hash"),
          Seq("doc_id"), "left_semi")
        val nNew = admitted.select(col("doc_id")).distinct().count()
        if (nNew > 0)
          admitted.write.mode("overwrite").parquet(
            pendingDir(serving.root, st.version, batchId, m))
        nAdmitted += nNew
        Some(v)
      }
    }
    // assets whose modality tag is outside the three gates would
    // otherwise vanish while the marker still advanced — emit an
    // explicit rejected verdict row per residue asset instead
    val rejected = deduped
      .filter(!col("modality").isin(Modalities: _*))
      .select(col("doc_id").as("batch_id"), col("modality"),
        lit(0L).as("n_matches"), lit(-1L).as("matched_id"),
        lit(-1L).as("metric"), lit(-1L).as("is_new"))
    val verdicts = verdictFrames
      .reduceOption(_ unionByName _)
      .map(resolveCanonicals(spark, _))
      .map(_ unionByName rejected)
      .getOrElse(rejected)
    var next = State(st.version, st.nAssets + nAdmitted,
      st.nPending + nAdmitted, batchId, st.commitSeq + 1)
    if (next.nPending >= rebuildAfter)
      next = mergePending(spark, serving.root, next, onHealth)
    // COMMIT: marker last — everything above is re-creatable until here
    meta(serving.root).write(next.commitSeq, next)
    serving.update(next)
    // retention sweep AFTER the commit: superseded v<j> generations
    // beyond the retain window have no live readers
    LoopCore.gcVersions(serving.root, "v(\\d+)".r)
    verdicts
  }

  /** The ACT step: merge each modality's committed + pending sigs into
    * a fresh immutable version dir, recompute the tagged pair frame +
    * component fixpoint over SIGNATURES ONLY, emit the health row the
    * policy reads. Pure layout work — the caller commits the returned
    * state (marker last). */
  private def mergePending(spark: SparkSession, root: String,
      pre: State, onHealth: (Long, DataFrame) => Unit): State = {
    import org.apache.spark.sql.functions.col
    val merged = Modalities.map { m =>
      m -> sigsAt(spark, root, pre, m).localCheckpoint(false)
    }.toMap
    Modalities.foreach(m => merged(m).write.mode("overwrite")
      .parquet(sigsDir(root, pre.version + 1, m)))
    val pairs = taggedPairs(merged("img"), merged("vid"),
      merged("aud")).localCheckpoint(false)
    val comp = Dedup.dupComponents(
      pairs.select(col("a_id"), col("b_id")).distinct())
    val next = State(pre.version + 1, pre.nAssets, 0L, pre.lastBatchId,
      pre.commitSeq)
    onHealth(next.version, healthOver(spark, next.nAssets, pairs, comp))
    next
  }

  /** Fleet-dispatched rebuild — the loop's ACT branch run OUT OF BAND
    * (the reference's evaluator→executor dispatch at fleet scope, see
    * [[graft.stream.FleetHealth.maintenanceTick]]): merges whatever is
    * pending RIGHT NOW without waiting for `rebuildAfter`, committing
    * at the next commitSeq ordinal with `lastBatchId` untouched so the
    * stream's replay guard is unaffected. Returns true iff anything
    * was pending to merge. */
  def rebuildNow(spark: SparkSession, serving: ServingMedia,
      onHealth: (Long, DataFrame) => Unit = (_, _) => ()): Boolean =
    serving.withCommitLock {
      val st = serving.state
      if (st.nPending == 0L) false
      else {
        val next = mergePending(spark, serving.root,
          st.copy(commitSeq = st.commitSeq + 1), onHealth)
        meta(serving.root).write(next.commitSeq, next)
        serving.update(next)
        LoopCore.gcVersions(serving.root, "v(\\d+)".r)
        true
      }
    }

  /** The loop's health row (the media_health shape over the serving
    * index: tagged matcher pairs across all three modalities). */
  private[graft] def healthOver(spark: SparkSession, nAssets: Long,
      pairs: DataFrame, comp: DataFrame): DataFrame = {
    import spark.implicits._
    val na = Seq(nAssets).toDF("n_assets")
    val nPairs = pairs.agg(count(lit(1)).as("n_pairs"))
    val dup = pairs.select(col("a_id").as("doc_id"))
      .unionByName(pairs.select(col("b_id").as("doc_id"))).distinct()
      .agg(count(lit(1)).as("n_dup_assets"))
    val c = comp.groupBy(col("component")).agg(count(lit(1)).as("sz"))
      .agg(count(lit(1)).as("n_components"),
        coalesce(max(col("sz")), lit(0L)).as("max_component"))
    na.crossJoin(broadcast(nPairs)).crossJoin(broadcast(dup))
      .crossJoin(broadcast(c))
      .select(col("n_assets"), col("n_pairs"), col("n_dup_assets"),
        expr("n_dup_assets * 1000 div n_assets").as("dup_permille"),
        col("n_components"), col("max_component"))
  }

  /** Run the loop over a streaming (doc_id, modality, media) asset
    * frame. With `checkpoint` the query is DURABLE: a restarted
    * process reattaches the serving handle from the `_meta` markers,
    * restarts the loop on the same checkpoint, and the source resumes
    * at the first unprocessed batch with the SAME monotone batch ids —
    * the marker replay guard then makes any re-delivered tail batch a
    * strict no-op (spec-exercised end to end with a file source). */
  def start(spark: SparkSession, serving: ServingMedia,
      assets: DataFrame, rebuildAfter: Long,
      sink: (DataFrame, Long) => Unit,
      onHealth: (Long, DataFrame) => Unit = (_, _) => (),
      checkpoint: Option[String] = None): StreamingQuery = {
    // keyed on the ON-DISK newest marker (not the in-memory handle):
    // a freshly built handle over a root with committed batches would
    // pass an in-memory guard at lastBatchId = -1 (the GraphIndexLoop
    // discipline); an intentional rebuild clears the root first
    LoopCore.requireCheckpointIfResuming("mediaIndexLoop",
      math.max(serving.snapshot.lastBatchId,
        meta(serving.root).newest.map(_.lastBatchId).getOrElse(-1L)),
      checkpoint)
    LocalCheckpointFileManager.start(assets, checkpoint)(_.writeStream
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (!batch.isEmpty) {
          sink(applyBatch(spark, serving, batch, batchId, rebuildAfter,
            onHealth), batchId)
        }
      })
  }
}
