package graft

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** sf1 scale rehearsal (10× the bench scale): builds a 50k-doc / 20k-vector
  * corpus from sf0.1 and times the three scale-path pipeline queries at
  * both scales. Numbers are recorded in SCALE.md; the thing being checked
  * is the growth FACTOR (linear in corpus size = the plans hold), not the
  * absolute seconds.
  *
  * The 10× corpus is NOT ten verbatim copies: each replica's text goes
  * through a replica-specific letter substitution, so replicas share no
  * shingles and the per-replica near-dup structure (including the planted
  * dups the dedup queries add at runtime) replicates instead of every doc
  * gaining nine cross-replica near-copies — candidate-pair structure
  * scales linearly, the honest 10× shape. Embeddings are rotated by the
  * replica index (norm-preserving, distribution-preserving). Replica id
  * offsets stay below the +100000/+500000 planted-id conventions in
  * graft.exts.Dedup.
  *
  * Usage: runMain graft.ScaleRehearsal [srcDir] [outDir] [buildonly]
  * (local cores from `SPARK_GRAFT_CPUS`, see [[GraftSession]]; the
  * SCALE.md figures ran at 32).
  */
object ScaleRehearsal {

  val Replicas = 10
  val IdStride = 10000L // > max sf0.1 doc/vec id, < planted-dup offsets

  def main(args: Array[String]): Unit = {
    val src = if (args.nonEmpty) args(0) else "/root/testdata/sf0.1"
    val out = if (args.length > 1) args(1) else "/tmp/graft_sf1"
    val spark = GraftSession.build()
    build(spark, src, out)
    // "buildonly": stop after materializing the sf1 corpus (the r19
    // core-scaling sweep timed its own query set on it; OPTIMIZATION_r19.md
    // "Core-scaling evidence at sf1")
    if (args.length > 2 && args(2) == "buildonly") { spark.stop(); return }
    // dedup_semantic's within-cell pair search is quadratic in cell size,
    // so its centroid count scales with the corpus (k ∝ n keeps cells the
    // same size and total pair work linear) — the knob a 100 TB run turns.
    val kFor = Map(src -> 16, out -> 160)
    val queries: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
      "dedup_ngram_jaccard_capped" -> SparkEntry.queries("dedup_ngram_jaccard_capped"),
      "decontaminate" -> SparkEntry.queries("decontaminate"),
      "sim_ivf" -> SparkEntry.queries("sim_ivf"),
      "quality_filter" -> SparkEntry.queries("quality_filter"),
      "dedup_semantic(k~n)" -> ((s: SparkSession, d: String) =>
        graft.exts.Similarity.semanticDupPairs(s, d, k = kFor(d))),
      // adaptiveBucketBits IS the knob here: 6 bits at sf0.1 → 9 at sf1
      // (22k corpus vectors / 64-per-cell target), so within-cell pair
      // work stays ~linear — with the old fixed 6 bits it would be ~100×.
      "dedup_embedding" -> SparkEntry.queries("dedup_embedding"),
      // two hash aggregates + broadcast vocabulary join — shuffle tracks
      // distinct (doc, term) pairs, so 10× docs ⇒ ~10× shuffle rows.
      "text_tfidf" -> SparkEntry.queries("text_tfidf"),
      // banding = equi-join on (band, bucket); candidate pairs follow the
      // real near-dup structure (replicas are shingle-disjoint), so the
      // join stays linear in corpus size.
      "dedup_minhash_lsh" -> SparkEntry.queries("dedup_minhash_lsh"),
      // containment rides the same inverted shingle index as jaccard; the
      // min-size denominator changes only the final filter, not the join.
      "dedup_containment" -> SparkEntry.queries("dedup_containment"),
      // bigram tf is a token-linear explode + hash aggregates; the LM
      // count tables broadcast back onto the big tf side.
      "text_lm_score" -> SparkEntry.queries("text_lm_score"),
      // the bloom probe is per-row codegen; only the might-contain sliver
      // reaches the md5 anti-join, so time tracks the corpus scan that
      // builds the sketch.
      "dedup_incremental" -> SparkEntry.queries("dedup_incremental"),
      // per-round pair-count agg is token-linear; the argmax/rewrite side
      // is vocab-bounded, so 10× tokens ⇒ ~linear per round × 6 rounds.
      "bpe_train" -> SparkEntry.queries("bpe_train"),
      // one exchange by source + per-source running-sum window: time
      // tracks the per-source slice sort, linear in rows per source.
      "token_budget_select" -> SparkEntry.queries("token_budget_select"),
      // two token-linear hash aggregates; everything after the top-K head
      // cut is sources × K metadata arithmetic.
      "source_divergence" -> SparkEntry.queries("source_divergence"),
      // same inverted-index join volume as the jaccard family — the tags
      // add predicates, not joins (and since round 7 ONE fused aggregate
      // over the capped index instead of three).
      "dedup_report" -> SparkEntry.queries("dedup_report"),
      // both searches inside are the rehearsed scale shapes; the metric
      // join is queries × k metadata.
      "ann_recall" -> SparkEntry.queries("ann_recall"),
      // capped ensemble index + min-label components over pairs-only
      // frames — the round-6 weak spot, now df-capped by default.
      "dedup_groups_ensemble" -> SparkEntry.queries("dedup_groups_ensemble"),
      // distinct (source, shingle) agg + self-join, source-df-capped.
      "source_overlap" -> SparkEntry.queries("source_overlap"),
      // jaccard index + components + broadcast verdict onto the corpus.
      "dedup_keep_list" -> SparkEntry.queries("dedup_keep_list"),
      // one shuffle-free signal pass + md5 keyed dedup counters riding
      // the scan (observe() metrics, no extra action).
      "curation_funnel" -> SparkEntry.queries("curation_funnel"),
      // 16-byte chunk-hash exchange + struct-min keep-first aggregate.
      "dedup_chunks" -> SparkEntry.queries("dedup_chunks"),
      // memoized merge table (cold build rehearsed separately in Bench's
      // artifact split); apply is a codegen'd rewrite over the batch.
      "bpe_encode" -> SparkEntry.queries("bpe_encode"),
      // product quantization: training is sample-bounded (constant);
      // encode is one broadcast-codebook scan; ADC search joins codes to
      // the per-query distance table — all ~linear in corpus size.
      "pq_encode" -> SparkEntry.queries("pq_encode"),
      "pq_search" -> SparkEntry.queries("pq_search"),
      // ---- events/decision family (added r8: never rehearsed before the
      // ts-unit break was fixed). The sf1 events table is 10× TABLES at
      // the same per-table log depth — how a lake actually grows — so
      // every per-table window sorts the same rows after one wider hash
      // exchange; the decision is a metadata-plane aggregate throughout.
      "should_optimize" -> SparkEntry.queries("should_optimize"),
      // two window passes + a co-partitioned full-outer on (table,
      // snapshot): both sides metadata rows, join key count 10×.
      "snapshot_diff" -> SparkEntry.queries("snapshot_diff"),
      // per-table ordered lead() window over the commit log — one
      // exchange by table, local sorts scale with per-table depth (flat).
      "scd2_history" -> SparkEntry.queries("scd2_history"),
      // ---- media codec family (added r9: first rehearsal rows). The
      // payloads are synthesized per doc_id and decoded one codec per
      // partition inside mapPartitions — O(payload bytes), no shuffle of
      // payload data — so growth should be ~linear in corpus size.
      "mm_decode" -> SparkEntry.queries("mm_decode"),
      "mm_audio_decode" -> SparkEntry.queries("mm_audio_decode"),
      "mm_video_decode" -> SparkEntry.queries("mm_video_decode"),
      // composed IVF×PQ (r9): candidate volume bounded by probed cells;
      // every corpus-side exchange carries codes (~SubSpaces bytes/vec).
      "ivf_pq_search" -> SparkEntry.queries("ivf_pq_search"),
      // 62-bit poly SimHash with 16-bit band blocking (r9): candidates
      // follow real near-dup structure, signatures are 8 bytes/doc.
      "simhash_band_pairs" -> SparkEntry.queries("simhash_band_pairs"),
      // two-stage refine (r9): ADC shortlist + broadcast point-lookup
      // exact rerank — the rerank side is queries × k·4 at any scale.
      "ivf_pq_refine" -> SparkEntry.queries("ivf_pq_refine"),
      // keep-best verdict (r9): same components as keep_list + one
      // struct-min winner aggregate over pair-bounded members.
      "dedup_keep_best" -> SparkEntry.queries("dedup_keep_best"),
      // version diff (r9): two (doc_id, md5) projections + one
      // co-partitioned full-outer — growth tracks corpus rows.
      "corpus_diff" -> SparkEntry.queries("corpus_diff"),
      // delta-only curation (r9): the quality chain over added/changed
      // docs — growth tracks DELTA size, not corpus size.
      "incremental_curate" -> SparkEntry.queries("incremental_curate"),
      // vector ingest gate (r9): batch broadcast into the bucket
      // equi-join; growth tracks batch × bucket-collision volume.
      "emb_incremental" -> SparkEntry.queries("emb_incremental"),
      // distribution drift (r14): two token-linear hash aggregates +
      // one full-outer join whose shuffle tracks DISTINCT terms
      // (Heaps-bounded) + two reductions of the checkpointed join.
      "corpus_drift" -> SparkEntry.queries("corpus_drift"),
      // near ingest gate (r9): batch kept-shingles broadcast against the
      // capped corpus index; growth tracks batch size + the hot-set pass.
      "dedup_incremental_near" -> SparkEntry.queries("dedup_incremental_near"),
      // index-maintenance DECISION (r10): per-cell occupancy rollup is one
      // assignment pass + a cells-sized aggregate; verdicts are metadata.
      "ivf_maintenance" -> SparkEntry.queries("ivf_maintenance"),
      // index-maintenance ACTION (r10): one full decide+apply pass —
      // corpus assigned once, split training bounded per cell, the
      // rewritten centroid frame ≤ k rows.
      "applyMaintenance(action)" -> ((s: SparkSession, d: String) =>
        graft.exts.Similarity.applyMaintenance(
          graft.Tables.load(s, d, "embeddings"),
          graft.exts.IvfIndex.centroids(s, d))),
      // total-order value functions (r10): one exchange + per-partition
      // sort; growth tracks rows through the single window pass.
      "window_value_funcs" -> SparkEntry.queries("window_value_funcs"),
      // span scrub (r10): occurrences shuffle as 8-byte keys; the
      // rewrite is an in-place array filter — text never shuffles.
      "text_scrub_spans" -> SparkEntry.queries("text_scrub_spans"),
      // decontamination scrub (r10): eval span set broadcasts into a
      // semi join — the corpus side never shuffles for the match.
      "decontaminate_scrub" -> SparkEntry.queries("decontaminate_scrub"),
      // per-doc curation explain (r10): four scale-correct tier passes
      // assembled by co-partitioned doc_id joins of metadata columns.
      "curation_audit" -> SparkEntry.queries("curation_audit"),
      // CCNet terciles (r10): windows over the (lang × distinct score)
      // histogram only; thresholds broadcast back onto the corpus.
      "ccnet_buckets" -> SparkEntry.queries("ccnet_buckets"),
      // Gopher rule stack (r11): zero exchanges — row-local signals and
      // verdicts fused into the scan; growth = scan growth.
      "gopher_rules" -> SparkEntry.queries("gopher_rules"),
      // learned-cluster downsampling (r11): broadcast-centroid assign +
      // cells-sized rollup + broadcast rates — one corpus pass.
      "cluster_balance" -> SparkEntry.queries("cluster_balance"),
      // the mining scale path (r11): adaptive-bucket candidates hold
      // per-bucket occupancy ~constant, so candidate volume is linear
      // where the exact path above is quadratic.
      "bitext_mine_lsh" -> SparkEntry.queries("bitext_mine_lsh"),
      // per-cell top terms (r11): token explode + (cell, term) hash agg
      // with map-side combine; rank window over the reduced frame.
      "cluster_topics" -> SparkEntry.queries("cluster_topics"),
      // filter-ensemble agreement (r11): two row-local signal passes +
      // one co-partitioned id join + a languages × 4 aggregate.
      "filter_agreement" -> SparkEntry.queries("filter_agreement"),
      // CCNet sampling action (r11): ccnet_buckets' plan + one row-local
      // hash filter — nothing new exchanges.
      "ccnet_sample" -> SparkEntry.queries("ccnet_sample"),
      // dataset card (r11): one fused signal pass + a global aggregate
      // whose exchanges carry 16-byte md5 / categorical keys.
      "corpus_stats" -> SparkEntry.queries("corpus_stats"),
      // contrastive mining (r11): 8 queries broadcast onto one corpus
      // pass, label predicate fused into the join, TopKPairs finish.
      "hard_negatives" -> SparkEntry.queries("hard_negatives"),
      // temperature mixing (r11): one token-stats pass + sources-sized
      // rate frame + broadcast-join filter pass — corpus never shuffles.
      "mix_temperature" -> SparkEntry.queries("mix_temperature"),
      // DSIR (r11): one fused vocab pass (keep verdict row-local) + the
      // 512-row score table replayed as a map literal — second pass is
      // row-local; shuffle tracks distinct terms, not docs.
      "dsir_weights" -> SparkEntry.queries("dsir_weights"),
      // DSIR apply half (r11): artifact trains once per corpus version;
      // batch scoring is one row-local map-literal pass.
      "dsir_score_batch" -> SparkEntry.queries("dsir_score_batch"),
      // integer scatter matrix (r11): row-local triangle products, the
      // exchange is dims²·partitions-bounded at any corpus size.
      "emb_gram" -> SparkEntry.queries("emb_gram"),
      // top principal component (r11): emb_gram + a metadata-sized
      // driver power iteration — growth must track emb_gram alone.
      "emb_pca" -> SparkEntry.queries("emb_pca"),
      // T5 span corruption (r11): one row-local index-lambda projection,
      // zero exchanges — growth = scan growth.
      "span_corrupt" -> SparkEntry.queries("span_corrupt"),
      // BM25 retrieval (r12): postings built in one scan+explode+agg;
      // candidates bounded by Σ_queryterm df(term); TopKPairs finish —
      // growth tracks the postings build, ~linear in tokens.
      "bm25_retrieve" -> SparkEntry.queries("bm25_retrieve"),
      // whole-corpus kNN graph (r12): within-ADAPTIVE-bucket self-join
      // (the dedup_embedding width knob), TopKPairs per node, edge-list
      // checkpoint + co-partitioned mutual join — candidate volume and
      // edge count both ~linear in n.
      "knn_graph" -> SparkEntry.queries("knn_graph"),
      // JL sign projection (r12): one row-local nested-lambda projection,
      // zero exchanges — growth = scan growth.
      "emb_project" -> SparkEntry.queries("emb_project"),
      // epoch-plan expansion (r12): languages-sized broadcast + row-local
      // sequence explode — output is the planned ~4× budget, growth
      // tracks output volume.
      "epoch_expand" -> SparkEntry.queries("epoch_expand"),
      // mutual-kNN clustering (r12): knn_graph's linear build + the
      // min-label loop over ≤ n·k/2 id pairs + component-keyed rollup.
      "knn_components" -> SparkEntry.queries("knn_components"),
      // incremental graph maintenance (r13): batch buckets broadcast
      // onto one corpus scan, rescore bounded by batch × occupancy,
      // untouched artifact edges pass through a broadcast anti-join —
      // growth tracks the artifact + corpus scans, never the rebuild.
      "knn_incremental" -> SparkEntry.queries("knn_incremental"),
      // graph health report (r13): one pass over the artifact's n·k
      // edge rows reduced to broadcast-joined 1-row aggregates.
      "graph_health" -> SparkEntry.queries("graph_health"),
      // integer PageRank (r12): knn_graph's linear build, then
      // PagerankIters rounds of join+partial-agg over ≤ n·k 16-byte
      // (id, long) rows — each round one linear co-partitioned shuffle.
      "graph_pagerank" -> SparkEntry.queries("graph_pagerank"),
      // deterministic walk corpus (r12): knn_graph's linear build, then
      // WalkLen rounds of frontier⋈edges joins (k-way fanout filtered
      // to the hash-chosen hop) — each round one linear shuffle.
      "graph_walks" -> SparkEntry.queries("graph_walks"),
      // skip-gram pairs (r12): the walk corpus self-joined on walk_id —
      // co-partitioned shuffle-hash with a (len+1)²-bounded fanout.
      "walk_skipgrams" -> SparkEntry.queries("walk_skipgrams"),
      // wedge closure (r12): edges⋈edges on the middle node (≤ n·k²
      // rows, k constant) + a left-semi closure probe on the same
      // checkpointed edge list.
      "graph_triangles" -> SparkEntry.queries("graph_triangles"),
      // Perceptual hash (r12): the mm_decode codec shape — one decoder
      // per partition, O(pixels) per asset, shuffle-free.
      "mm_phash" -> SparkEntry.queries("mm_phash"),
      // Audio fingerprint (r12): the mm_audio_decode codec shape.
      "mm_audio_fp" -> SparkEntry.queries("mm_audio_fp"),
      // Video fingerprint (r12): the mm_video_decode codec shape —
      // per-partition reader, O(frames·pixels), shuffle-free.
      "mm_video_fp" -> SparkEntry.queries("mm_video_fp"),
      // Media dedup (r12): one decode pass reduced to 4-long signatures
      // + a signature-keyed hash aggregate joined back shuffle-hash.
      "mm_dup_groups" -> SparkEntry.queries("mm_dup_groups"),
      // Video shared footage (r13): one decode pass checkpointed to
      // per-frame signatures; candidates from a signature-keyed
      // self-join (per-signature multiplicity bounded by the fixture's
      // group size), run assembly windowed per (a, b, gap).
      "mm_video_dups" -> SparkEntry.queries("mm_video_dups"),
      // Trim-robust audio matching (r13): same shape over fixed-size
      // window fingerprints.
      "mm_audio_dups" -> SparkEntry.queries("mm_audio_dups"),
      // Real pixel resize (r13): the mm_decode codec shape — one
      // decoder per partition, O(resized pixels) per asset past the
      // decode, shuffle-free.
      "mm_resize_px" -> SparkEntry.queries("mm_resize_px"),
      // Robust image near-dup (r14): one decode pass reduced to 6-long
      // canonical signatures; candidates from the (dims, band) equi-join
      // — per-bucket multiplicity follows the planted group size, the
      // 64-bit hash keeps accidental cross-group pairs ~1% of planted.
      "mm_dup_near" -> SparkEntry.queries("mm_dup_near"),
      // Media ACTION verdict (r14): consumes the committed MediaIndex
      // pair artifact (the three matchers run once per corpus snapshot
      // — each rehearsed above); the serve side is the pointer-halved
      // component loop over the match-sized pair frame + id-keyed left
      // joins onto the corpus. Pass 1 pays the artifact build; the
      // min-of-2 keeps the warm consumer figure.
      "mm_media_verdict" -> SparkEntry.queries("mm_media_verdict"),
      // Incremental media ingest gate (r14): batch decode is
      // batch-sized; the corpus side is one artifact scan probed by the
      // banded equi-join — growth tracks the signature artifact scan,
      // never a corpus decode (pass 1 pays the one-time sig build).
      "mm_dup_incremental" -> SparkEntry.queries("mm_dup_incremental"),
      // Incremental VIDEO ingest gate (r15): batch decode batch-sized;
      // corpus side one per-frame fingerprint artifact scan through the
      // signature equi-join (multiplicity group-bounded), run assembly
      // windowed per match-pair key (pass 1 pays the sig build).
      "mm_vid_incremental" -> SparkEntry.queries("mm_vid_incremental"),
      // Incremental AUDIO ingest gate (r15): same shape over fixed-size
      // window fingerprints.
      "mm_aud_incremental" -> SparkEntry.queries("mm_aud_incremental"),
      // Media-index health (r14): counts over the committed pair and
      // component artifacts reduced to broadcast-joined 1-row
      // aggregates — growth tracks the match-sized artifact scans.
      "media_health" -> SparkEntry.queries("media_health"),
      // Per-asset media audit (r15): match-sized artifact scans through
      // two hash aggregates + id-keyed left joins — zero codec work,
      // growth tracks the committed pair/component artifacts.
      "media_audit" -> SparkEntry.queries("media_audit"),
      // Embedding release drift (r15): two posexplode + per-dim hash
      // aggregates (map-side combine ⇒ dims·partitions exchange rows)
      // + one dims-sized join — corpus-linear, shuffle-constant.
      "emb_drift" -> SparkEntry.queries("emb_drift"),
      // Per-vector release ledger (r15): both releases reduce to
      // (vec_id, 16-byte digest) before one co-partitioned full-outer
      // — the corpus_diff metadata-plane shape on vectors.
      "emb_diff" -> SparkEntry.queries("emb_diff"),
      // MMR rerank (r12): bruteTopK's bounded candidate plan + two
      // broadcast-probed corpus scans; greedy rounds on queries×cand
      // checkpointed rows.
      "mmr_select" -> SparkEntry.queries("mmr_select"),
      // Boilerplate stripping (r12): one corpus pass keyed by leading
      // window, two hash aggregates, tiny boilerplate set broadcast back.
      "boilerplate_strip" -> SparkEntry.queries("boilerplate_strip"),
      // Hybrid retrieval (r12): both components end in bounded TopK
      // aggregates; the RRF join + rank window run on queries×k rows.
      "hybrid_search" -> SparkEntry.queries("hybrid_search"),
      // RHO selection (r12): one bigram-tf pass feeding both models'
      // Heaps-bounded count frames; AQE picks broadcast vs shuffle for
      // the scoring joins; one per-doc hash-aggregate rollup.
      "rho_select" -> SparkEntry.queries("rho_select"),
      // k-center coreset (r12): k corpus passes, each a fused-codegen
      // least-of-literal-distances map + a 1-row struct-max aggregate;
      // zero shuffles beyond the aggregates.
      "kcenter_coreset" -> SparkEntry.queries("kcenter_coreset"),
      // Hash embeddings (r12): one codegen'd compiled pass per doc, a
      // constant-dims posexplode, zero shuffles anywhere in the plan.
      "text_hash_embed" -> SparkEntry.queries("text_hash_embed"),
      // LPA communities (r12): the mutual edge list checkpoints once;
      // each synchronous round is a co-partitioned shuffle-hash join +
      // two map-side-combinable hash aggregates (no per-node window).
      "graph_lpa" -> SparkEntry.queries("graph_lpa"),
      // D4 pruning (r12): knn_components' linear plan + a dims×-inflated
      // centroid aggregate + one co-partitioned centroid join + a
      // cluster-partitioned rank window (corpus-order key count).
      "d4_prune" -> SparkEntry.queries("d4_prune"),
      // DoReMi reweighting (r12): one lmScores corpus pass reduced to a
      // domains-sized frame; all rounds are windows over that frame.
      "mix_doremi" -> SparkEntry.queries("mix_doremi"),
      // UniMax waterfill (r12): one token-stats pass reduced to the
      // sources frame; the closed-form threshold is window math there.
      "unimax_alloc" -> SparkEntry.queries("unimax_alloc"),
      // lexical diversity (r12): one explode into two nested map-side-
      // combinable hash aggregates — shuffle rows = distinct (doc, term).
      "text_diversity" -> SparkEntry.queries("text_diversity"),
      // cluster purity (r12): knn_components' plan + a co-partitioned
      // label join + one contingency aggregate + a rank window over the
      // reduced (component, label) frame.
      "cluster_purity" -> SparkEntry.queries("cluster_purity"),
      // duplicate downweighting (r12): the jaccard inverted index +
      // min-label loop + one co-partitioned left join onto the corpus.
      "dup_weights" -> SparkEntry.queries("dup_weights"),
      // artifact-served BM25 (r12): batch terms broadcast onto persisted
      // postings — growth tracks the postings scan, zero text scans
      // (cold build rehearses separately like the other artifacts).
      "bm25_batch" -> SparkEntry.queries("bm25_batch"),
      // JL-trade metric (r12): both searches are the bounded plans; the
      // comparison join is queries × k metadata.
      "project_recall" -> SparkEntry.queries("project_recall"),
      // counting percentiles (r12): one (lang, ratio) hash aggregate +
      // windows over the ≤ langs×1001 histogram + broadcast clamp pass.
      "quality_winsorize" -> SparkEntry.queries("quality_winsorize"),
      // incremental index merge (r12): batch tokenize/agg + a
      // batch-vocabulary probe of the persisted df table — the corpus
      // text is never scanned, so growth tracks BATCH size.
      "bm25_update" -> SparkEntry.queries("bm25_update"),
      // cross-modal pairs (r16): one image decode pass reduced to 4-long
      // signatures + two group rollups + id-keyed joins; pairs ≤ 2/doc,
      // so growth tracks the decode (the PNG-family linear constant).
      "mm_caption_pairs" -> SparkEntry.queries("mm_caption_pairs"),
      // near-tier matrix (r18): adds the distinct-caption shingle
      // pair/component chain to the matrix — the near graph is
      // matching-shaped (≤ 1 pair per distinct caption), so the
      // component loop converges in one relax round and growth still
      // tracks the decode + the distinct-caption reduce.
      "mm_caption_pairs_near" ->
        SparkEntry.queries("mm_caption_pairs_near"),
      // fleet rollup (r16): cost = Σ of the four families' health
      // chains (each separately rehearsed); the union/rank tail is a
      // 4-row window — growth tracks the ivf/graph/media components.
      "index_fleet_health" -> SparkEntry.queries("index_fleet_health"),
      // pair gate (r16): image side = the persisted-artifact probe
      // (batch-sized codec work), caption side = a corpus-linear md5
      // reduce joined on the digest — growth tracks the caption reduce.
      "mm_pair_gate" -> SparkEntry.queries("mm_pair_gate"),
      // near pair gate + audit (r17): adds the shingle near tier over
      // the DISTINCT corpus caption index (distinct-caption-sized, not
      // corpus-sized) — growth still tracks the caption reduce; the
      // audit adds one batch-keyed evidence join.
      "mm_pair_gate_near" -> SparkEntry.queries("mm_pair_gate_near"),
      "mm_pair_audit" -> SparkEntry.queries("mm_pair_audit"))
    // optional args(2): comma-separated substrings — rehearse only the
    // matching queries (dev loop for a new row; default = all)
    val only =
      if (args.length > 2) args(2).split(",").toSet else Set.empty[String]
    def wanted(q: String): Boolean =
      only.isEmpty || only.exists(q.contains)
    val timings = for {
      (label, dir) <- Seq(("sf0.1", src), ("sf1", out))
      (q, fn) <- queries if wanted(q)
    } yield {
      def pass(): Double = {
        val t0 = System.nanoTime()
        fn(spark, dir).count()
        (System.nanoTime() - t0) / 1e9
      }
      val t = math.min(pass(), pass())
      println(f"[scale] $label%-6s $q%-28s $t%8.2f s")
      (label, q, t)
    }
    // growth factor per query: sf1 time / sf0.1 time
    queries.collect { case (q, _) if wanted(q) => q }.foreach { q =>
      val t01 = timings.collectFirst { case ("sf0.1", `q`, t) => t }.get
      val t1 = timings.collectFirst { case ("sf1", `q`, t) => t }.get
      println(f"[scale] growth $q%-28s ${t1 / t01}%6.2fx (10x data)")
    }
    // Streaming near-dedup throughput at a FIXED TRIGGER SIZE (2500
    // docs/micro-batch) — rows/s of processed ingest at each scale, the
    // apples-to-apples number (a fixed batch COUNT would let the sf0.1
    // figure drown in per-micro-batch machinery: 2 stateful operators ×
    // 32 state-store partitions commit per batch, a fixed ~2 s cost that
    // amortizes over batch size, not corpus size). State stays
    // watermark-bounded, so the per-row cost should be ~flat as the
    // corpus grows; the figure is what one local[32] node sustains —
    // executors scale it out, state shards by key range.
    if (wanted("stream_near_dedup")) {
      import spark.implicits._
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      implicit val sql = spark.sqlContext
      for ((label, dir) <- Seq(("sf0.1", src), ("sf1", out))) {
        val docs = Tables.load(spark, dir, "documents")
          .select(col("doc_id"), col("text")).collect()
          .map(r => (r.getLong(0), r.getString(1)))
        val base = 1706659200000L
        val input = MemoryStream[(Long, String, Long)]
        val q = graft.exts.Dedup.streamingNearDedup(
            input.toDS().toDF("doc_id", "text", "ingest_ts_ms"))
          .writeStream.format("noop").outputMode("append").start()
        val t0 = System.nanoTime()
        val per = 2500
        var nb = 0
        docs.grouped(per).zipWithIndex.foreach { case (chunk, i) =>
          input.addData(chunk.toSeq.map { case (id, tx) =>
            (id, tx, base + i * 1000L) }: _*)
          q.processAllAvailable()
          nb += 1
        }
        val secs = (System.nanoTime() - t0) / 1e9
        q.stop()
        println(f"[scale] $label%-6s stream_near_dedup ${docs.length} docs " +
          f"in $secs%.2f s = ${docs.length / secs}%.0f rows/s " +
          f"($nb batches of $per)")
      }
    }
    // Whole-lake media serve throughput at a FIXED TRIGGER (150
    // assets/micro-batch — the stream_near_dedup convention): the three
    // incoming fixture populations interleaved through
    // MediaServing.startMedia. Per-batch cost is the BATCH's codec work
    // plus three persisted-artifact probes (the corpus is never decoded
    // on the serve side), so rows/s should hold ~flat as the corpus
    // grows; the one-time corpus artifact build is excluded (resolved
    // before the clock starts — the deployment's nightly build).
    if (wanted("media_serving")) {
      import spark.implicits._
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      implicit val sql = spark.sqlContext
      import graft.exts.Multimodal
      for ((label, dir) <- Seq(("sf0.1", src), ("sf1", out))) {
        val assets = (Multimodal.pngAssetsIncoming(spark, dir).collect()
            .map(a => (a.doc_id, "img", a.png)) ++
          Multimodal.gifClipAssetsIncoming(spark, dir).collect()
            .map(a => (a.doc_id, "vid", a.gif)) ++
          Multimodal.wavClipAssetsIncoming(spark, dir).collect()
            .map(a => (a.doc_id, "aud", a.wav))).sortBy(_._1)
        // resolve the three corpus artifacts BEFORE timing (build-once)
        graft.stream.MediaServing.gateBatch(spark, dir,
          assets.take(3).toSeq.toDF("doc_id", "modality", "media"))
          .count()
        val input = MemoryStream[(Long, String, Array[Byte])]
        val q = graft.stream.MediaServing.startMedia(spark, dir,
          input.toDS().toDF("doc_id", "modality", "media"),
          (df, _) => { df.count(); () })
        val per = 150
        var nb = 0
        val t0 = System.nanoTime()
        assets.grouped(per).foreach { chunk =>
          input.addData(chunk.toSeq); q.processAllAvailable(); nb += 1
        }
        val secs = (System.nanoTime() - t0) / 1e9
        q.stop()
        println(f"[scale] $label%-6s media_serving ${assets.length} " +
          f"assets in $secs%.2f s = ${assets.length / secs}%.0f rows/s " +
          f"($nb batches of $per)")
      }
    }
    // Pair-gate serve throughput at a FIXED TRIGGER (150
    // pairs/micro-batch — the startMedia convention): the near-pair
    // fixture through MediaServing.startPairsNear. Per-batch cost is
    // the batch's image decode + the banded artifact probe + the two
    // caption probes (md5 set + the distinct-caption shingle index,
    // both corpus-derived and resolved per batch), so rows/s should
    // hold ~flat as the corpus grows; the one-time signature artifact
    // build is excluded (resolved before the clock).
    if (wanted("pairs_serving")) {
      import spark.implicits._
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      implicit val sql = spark.sqlContext
      import graft.exts.Multimodal
      for ((label, dir) <- Seq(("sf0.1", src), ("sf1", out))) {
        val caps = Multimodal.pairCaptionsNear(spark, dir).collect()
          .map(r => r.getLong(0) -> r.getString(1)).toMap
        val pairs = Multimodal.pngAssetsIncoming(spark, dir).collect()
          .map(a => (a.doc_id, a.png, caps(a.doc_id))).sortBy(_._1)
        // resolve the corpus signature artifact BEFORE timing
        Multimodal.mmPairGateNearOver(spark, dir,
          pairs.take(3).toSeq.toDF("doc_id", "png", "caption")
            .select(col("doc_id"), col("png"))
            .as[Multimodal.PngAsset],
          pairs.take(3).toSeq.toDF("doc_id", "png", "caption")
            .select(col("doc_id").as("batch_id"), col("caption")))
          .count()
        val input = MemoryStream[(Long, Array[Byte], String)]
        val q = graft.stream.MediaServing.startPairsNear(spark, dir,
          input.toDS().toDF("doc_id", "png", "caption"),
          (df, _) => { df.count(); () })
        val per = 150
        var nb = 0
        val t0 = System.nanoTime()
        pairs.grouped(per).foreach { chunk =>
          input.addData(chunk.toSeq); q.processAllAvailable(); nb += 1
        }
        val secs = (System.nanoTime() - t0) / 1e9
        q.stop()
        println(f"[scale] $label%-6s pairs_serving ${pairs.length} " +
          f"pairs in $secs%.2f s = ${pairs.length / secs}%.0f rows/s " +
          f"($nb batches of $per)")
      }
    }
    // Lex composite serve throughput at a FIXED TRIGGER (250
    // queries/micro-batch): v0 built over the corpus, one below-threshold
    // delta landed so every query scores against the COMPOSITE
    // (main + pending) — the mid-stream state a deployment serves from.
    // Per-batch cost is the batch tokenize + a postings probe of the
    // segments; rows/s tracks batch size, not corpus size.
    if (wanted("lex_serve")) {
      import spark.implicits._
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      implicit val sql = spark.sqlContext
      import graft.stream.LexIndexLoop
      for ((label, dir) <- Seq(("sf0.1", src), ("sf1", out))) {
        val root = java.nio.file.Files
          .createTempDirectory(s"lexserve-$label").toString
        val corpus = Tables.load(spark, dir, "documents")
          .select(col("doc_id"), col("text"))
        val index = LexIndexLoop.buildIndex(spark, corpus, root)
        val base = corpus.limit(1000).collect()
          .map(r => (r.getLong(0), r.getString(1)))
        // one pending delta (5% of 1000 < the 200‰ threshold at either
        // scale) — queries must traverse main ∪ pending
        LexIndexLoop.applyBatch(spark, index, root,
          base.take(50).map { case (id, t) => (id + 600000L, t) }.toSeq
            .toDF("doc_id", "text"), 0L, (_, _, _, _) => ())
        require(index.snapshot.pending.nonEmpty, "composite not exercised")
        val queries = base.map { case (id, t) => (id + 900000L, t) }
        val input = MemoryStream[(Long, String)]
        val q = LexIndexLoop.serveWith(spark, index,
          input.toDS().toDF("doc_id", "text"),
          (df, _, _) => { df.count(); () })
        val per = 250
        var nb = 0
        val t0 = System.nanoTime()
        queries.grouped(per).foreach { chunk =>
          input.addData(chunk.toSeq); q.processAllAvailable(); nb += 1
        }
        val secs = (System.nanoTime() - t0) / 1e9
        q.stop()
        println(f"[scale] $label%-6s lex_serve ${queries.length} queries " +
          f"in $secs%.2f s = ${queries.length / secs}%.0f rows/s " +
          f"($nb batches of $per)")
      }
    }
    spark.stop()
  }

  /** Replica-specific letter substitution: shift the 20 most common
    * letters by r so every word (and so every shingle) differs between
    * replicas while length/whitespace structure is preserved. r=0 is the
    * identity (the original sf0.1 rows survive verbatim). */
  private def scramble(textCol: org.apache.spark.sql.Column,
      r: Int): org.apache.spark.sql.Column = {
    val letters = "abcdefghijklmnopqrst"
    if (r == 0) textCol
    else translate(textCol, letters,
      letters.drop(r % letters.length) + letters.take(r % letters.length))
  }

  /** Build the sf1 corpus once (skipped if the output already exists). */
  def build(spark: SparkSession, src: String, out: String): Unit = {
    // marker = the LAST artifact written, so a partial build (or a corpus
    // from before events were added) rebuilds rather than half-serving
    val marker = java.nio.file.Paths.get(s"$out/events.parquet/_SUCCESS")
    if (java.nio.file.Files.exists(marker)) {
      buildLineitem(spark, src, out) // r10 addition — upgrade older corpora
      return
    }
    val docs = Tables.load(spark, src, "documents")
    val emb = Tables.load(spark, src, "embeddings")
    val dims = emb.select(size(col("embedding"))).first().getInt(0)
    // planted-fixture invariant: several dedup fixtures re-key planted
    // docs/vectors at +100000 (the tightest offset family) — rehearsal
    // ids must stay below that bound or planted ranges alias corpus ids.
    // This guard turns a silent aliasing at a future larger scale into a
    // named build failure (the r9/r10 offset-audit discipline).
    val maxDoc = docs.agg(max(col("doc_id"))).first().getLong(0)
    val maxVec = emb.agg(max(col("vec_id"))).first().getLong(0)
    require((Replicas - 1) * IdStride + math.max(maxDoc, maxVec) < 100000L,
      s"rehearsal ids would reach ${(Replicas - 1) * IdStride +
        math.max(maxDoc, maxVec)} >= 100000, aliasing the planted-copy " +
        "id family — raise the planted offsets before scaling further")
    (0 until Replicas).map { r =>
      docs.select(
        (col("doc_id") + lit(r * IdStride)).as("doc_id"),
        scramble(col("text"), r).as("text"),
        col("lang"), col("source"), col("n_chars"))
    }.reduce(_ unionByName _)
      .repartition(32)
      .write.mode(SaveMode.Overwrite).parquet(s"$out/documents.parquet")
    (0 until Replicas).map { r =>
      val rot = r % dims
      val rotated =
        if (rot == 0) col("embedding")
        else concat(
          slice(col("embedding"), rot + 1, dims - rot),
          slice(col("embedding"), 1, rot))
      emb.select(
        (col("vec_id") + lit(r * IdStride)).as("vec_id"),
        rotated.as("embedding"),
        col("label"))
    }.reduce(_ unionByName _)
      .repartition(32)
      .write.mode(SaveMode.Overwrite).parquet(s"$out/embeddings.parquet")
    // Events: 10× TABLES (user_id = table id, offset per replica), same
    // per-table commit depth and time window — the shape a growing lake
    // has. event_id offsets keep snapshot ids globally unique; ts is
    // carried through unchanged (same physical dtype as the source).
    val ev = Tables.events(spark, src)
    (0 until Replicas).map { r =>
      ev.select(
        (col("event_id") + lit(r * 1000000L)).as("event_id"),
        col("ts"),
        (col("user_id") + lit(r * IdStride)).as("user_id"),
        col("event_type"), col("value"), col("props"))
    }.reduce(_ unionByName _)
      .repartition(32)
      .write.mode(SaveMode.Overwrite).parquet(s"$out/events.parquet")
    buildLineitem(spark, src, out)
  }

  /** lineitem at 10×: orderkey-offset replicas (same per-order line
    * structure — how an order ledger grows). Built separately so sf1
    * corpora from before r10 upgrade in place. */
  def buildLineitem(spark: SparkSession, src: String, out: String): Unit = {
    val marker =
      java.nio.file.Paths.get(s"$out/lineitem.parquet/_SUCCESS")
    if (java.nio.file.Files.exists(marker)) return
    val li = Tables.load(spark, src, "lineitem")
    (0 until Replicas).map { r =>
      li.withColumn("l_orderkey", col("l_orderkey") + lit(r * 10000000L))
    }.reduce(_ unionByName _)
      .repartition(32)
      .write.mode(SaveMode.Overwrite).parquet(s"$out/lineitem.parquet")
  }
}
