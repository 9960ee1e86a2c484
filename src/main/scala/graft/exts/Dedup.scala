package graft.exts

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** Document deduplication — exact and near-dup (north star extension).
  *
  * The testdata corpus has no natural duplicates, so the dedup queries work
  * over `corpus` = documents ∪ deterministically planted copies (exact
  * copies for exact dedup; tail-perturbed copies for near-dup). Planting
  * inside the query keeps every operator self-contained, nontrivial, and
  * oracle-checkable.
  *
  * Scale shapes:
  *  - exact dedup: hash-groupBy on the full text (at 100 TB: groupBy on a
  *    64/128-bit content hash instead of the raw string — same plan, narrow
  *    shuffle key);
  *  - n-gram Jaccard: shingle inverted-index self-join — pair candidates
  *    are generated only for docs sharing a shingle, so cost tracks shared
  *    shingle frequency, not |corpus|²; the Jaccard threshold is evaluated
  *    in pure integer arithmetic (3·|A∩B| ≥ |A|+|B| ⟺ J ≥ ½), bit-exact
  *    on any engine;
  *  - MinHash-LSH and SimHash: constant-size signatures per doc (shuffle
  *    bytes independent of doc length), banded bucketing so candidate
  *    generation is again an equi-join.
  */
object Dedup {

  /** Word 5-gram shingles (distinct) of a text column. */
  val ShingleN = 5

  private def words(text: Column): Column =
    split(trim(text), "\\s+")

  /** Distinct shingle array for a text column, via the native
    * [[graft.functions.ShingleSet]] expression — one compiled pass per
    * document (the interpreted higher-order-function formulation dominated
    * the dedup bench). Semantics match the DuckDB oracle's
    * regexp_split_to_array + slice + DISTINCT derivation. */
  def shingles(text: Column): Column =
    graft.functions.Signatures.shingle_set(text)

  /** Exploded shingle stream keyed by xxhash64 of the shingle: every
    * consumer in this family (jaccard, containment, ensemble, span
    * scores) only ever counts or joins on the shingle — the text itself
    * never reaches an output — so the inverted index carries 8-byte keys
    * instead of span strings through every exchange. At 100 TB that is a
    * multiple-× cut in shuffle volume, the same trade as the md5-keyed
    * exact dedup (collision odds are the standard content-address bet). */
  private[graft] def hashedShingles(corpus: DataFrame): DataFrame =
    corpus.select(col("doc_id"), explode(shingles(col("text"))).as("s"))
      .select(col("doc_id"), xxhash64(col("s")).as("sh"))

  /** Default stop-shingle document-frequency cap. Every inverted-index
    * operator in this family routes through [[cappedShingles]] with this
    * cap ON by default: candidate pairs cost Σ df(shingle)², so one
    * boilerplate shingle shared by 10⁵ documents at corpus scale would
    * fan the self-join out to 10¹⁰ rows. A shingle in more than `cap`
    * documents carries no dedup signal (it IS boilerplate), so dropping
    * it bounds per-shingle join fan-out at cap² while leaving the
    * discriminative tail untouched. The oracles mirror the cap. */
  val DefaultMaxShingleDf = 100

  /** The df-capped inverted-index frame: `hashedShingles` minus shingles
    * whose document frequency exceeds the cap. The *hot* set (df > cap)
    * is small by construction (at most total-occurrences / cap distinct
    * shingles, in practice a handful of boilerplate strings), so the
    * exclusion is an anti-join against it — AQE sees the actual build
    * size at runtime and converts it to a broadcast, which drops hot
    * rows MAP-SIDE: a boilerplate shingle's 10⁸ occurrences never enter
    * any exchange (the skew property a count-over-window or join-on-df
    * formulation would lose). Per-doc set sizes downstream are computed
    * over the KEPT shingles, so both sides of every threshold test see
    * the same universe.
    *
    * An explicit `repartition(sh)` here was TRIED (r8) to pin one
    * reusable exchange for all three [[pairStats]] consumers and
    * REVERTED: AQE's stage reuse does not fire across broadcast/shuffle
    * stage kinds, so the small-scale plan broadcast the full repartition
    * output (sf1 rehearsal: dedup_ngram_jaccard_capped 3.65 s → 13.8 s).
    * The un-pinned form lets AQE pick broadcast vs shuffle per consumer
    * from real sizes; the residual double-computed cap pass is the
    * documented cost of the default-on cap.
    *
    * MATERIALIZING this frame was also tried and rejected (r9, measured
    * at sf1 via a flag seam + 3-run probe, cache cleared per run):
    *  - `persist(MEMORY_AND_DISK)`: within-action minima were a wash to
    *    a loss (report 3.56→3.01 s but keep_list 2.92→3.29,
    *    ensemble 4.09→4.61; run-to-run spread ±2 s dwarfs the deltas),
    *    and it carries a sharp session hazard — CacheManager substitutes
    *    a cached subtree into ANY later matching plan, and ensemble over
    *    the warm InMemoryRelation ran 9.0-9.9 s vs 4.1 s recomputed
    *    (columnar cache scan loses to the codegen'd parquet+explode
    *    pipeline it replaces, and the substitution is session-order-
    *    dependent — unacceptable for a deterministic bench).
    *  - `localCheckpoint()`: no substitution hazard, but a wash at every
    *    consumer (±0.1-0.3 s around the recompute baseline) — the
    *    eager materialization costs what the second computation cost.
    * The recompute constant stands. */
  /** The stop-shingle hot set: shingles whose CORPUS document frequency
    * exceeds the cap. */
  private def hotShingles(corpus: DataFrame, maxShingleDf: Int): DataFrame =
    hashedShingles(corpus).groupBy(col("sh"))
      .agg(count(lit(1)).as("df"))
      .filter(col("df") > maxShingleDf)
      .select(col("sh"))

  private[graft] def cappedShingles(corpus: DataFrame,
      maxShingleDf: Int): DataFrame =
    hashedShingles(corpus)
      .join(hotShingles(corpus, maxShingleDf), Seq("sh"), "left_anti")

  /** Shared candidate-pair statistics over a (doc_id, sh) inverted-index
    * frame: one self-join on the 8-byte shingle hash restricted to
    * a < b, aggregated to (a_id, b_id, inter, n_a, n_b). Every pairwise
    * detector (Jaccard, containment, ensemble, report) is a different
    * integer predicate over this one frame. */
  private def pairStats(sh0: DataFrame,
      materialize: Boolean = true): DataFrame = {
    // r18: the inverted-index frame is materialized ONCE (eager local
    // checkpoint) for its three consumers (self-join a/b sides + sizes),
    // which each replayed the scan → shingle explode → (anti-join) chain
    // — the r9 "materialization is a wash" verdict RE-ADJUDICATED with
    // the task-time instrument on Spark 4.1.2: ensemble wall 2.4→2.0 s,
    // task 1.31→1.20 s at sf0.1, and the win compounds at corpus scale
    // where each replay re-scans the text while the cached frame is
    // 16-byte (doc_id, hash) rows spilling to executor disk. Eager, not
    // lazy — concurrent consumers of a lazy cell race and recompute (the
    // r15/mmCaptionPairs lesson); no CacheManager substitution hazard
    // (that was persist()'s failure mode in the r9 probe).
    // `materialize = false` is for callers whose index frame is BOUNDED
    // by construction (the distinct-caption chain) — there the extra
    // checkpoint job costs more than the replays it saves (the r17
    // graph_triangles small-frame lesson).
    // Ckpt.eager (r19): local by default; spark.graft.checkpoint.reliable
    // routes to a reliable checkpoint() for cluster resilience — and note
    // the materialization runs AT CONSTRUCTION (explain-only paths pay
    // the scan; lazy cells race under concurrent consumers, r15 lesson).
    val sh = if (materialize) Ckpt.eager(sh0) else sh0
    val sizes = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("n_sh"))
    sh.as("a").join(sh.as("b"),
        col("a.sh") === col("b.sh") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"))
      .agg(count(lit(1)).as("inter"))
      .join(sizes.select(col("doc_id").as("a_id"), col("n_sh").as("n_a")), "a_id")
      .join(sizes.select(col("doc_id").as("b_id"), col("n_sh").as("n_b")), "b_id")
  }

  /** documents ∪ planted exact copies (every 10th doc, id+100000). */
  def corpusWithExactDups(spark: SparkSession, dir: String): DataFrame = {
    val base = Tables.load(spark, dir, "documents")
      .select(col("doc_id"), col("text"))
    base.unionByName(
      base.filter(col("doc_id") % 10 === 0)
        .select((col("doc_id") + 100000L).as("doc_id"), col("text")))
  }

  /** documents ∪ planted near-copies (every 7th doc, two novel tail
    * tokens appended: high but not perfect Jaccard overlap). */
  def corpusWithNearDups(spark: SparkSession, dir: String): DataFrame = {
    val base = Tables.load(spark, dir, "documents")
      .select(col("doc_id"), col("text"))
    base.unionByName(
      base.filter(col("doc_id") % 7 === 0)
        .select((col("doc_id") + 100000L).as("doc_id"),
          concat(col("text"), lit(" zqx wvk")).as("text")))
  }

  /** Exact dedup: group by the 128-bit content hash (md5 — identical on
    * both engines, so the oracle mirrors it), keep the minimum id
    * (canonical), report group size. Returns only groups with duplicates.
    * Hashing before the shuffle means the exchange carries a 16-byte key
    * instead of the document text — the difference between shuffling
    * ~hash·rows and shuffling the whole corpus at 100 TB. Collision odds
    * at 2^64 documents are the standard content-address tradeoff. */
  def exactDupGroups(corpus: DataFrame): DataFrame =
    corpus.groupBy(md5(col("text")))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"))
      .filter(col("n_copies") > 1)
      .select(col("keep_id"), col("n_copies"))

  /** Canonical text normalization — lowercase, non-alphanumerics to
    * spaces, whitespace collapsed, trimmed. The projection every
    * normalization-keyed dedup runs before hashing, so case and
    * punctuation variants collapse to one key. Pure per-row expression
    * chain (codegen'd, no shuffle). */
  def normalize(text: Column): Column =
    trim(regexp_replace(
      regexp_replace(lower(text), "[^a-z0-9 ]", " "), " +", " "))

  /** documents ∪ planted case/punctuation variants (every 11th doc
    * upper-cased with trailing punctuation): raw-byte exact dedup misses
    * them; normalization-keyed dedup must not. */
  def corpusWithCaseDups(spark: SparkSession, dir: String): DataFrame = {
    val base = Tables.load(spark, dir, "documents")
      .select(col("doc_id"), col("text"))
    base.unionByName(
      base.filter(col("doc_id") % 11 === 0)
        .select((col("doc_id") + 300000L).as("doc_id"),
          concat(upper(col("text")), lit(" !!")).as("text")))
  }

  /** Exact dedup keyed by the md5 of the NORMALIZED text — same
    * 16-byte-shuffle-key plan as [[exactDupGroups]], different equality
    * relation. Returns only groups with duplicates. */
  def exactDupGroupsNormalized(corpus: DataFrame): DataFrame =
    corpus.groupBy(md5(normalize(col("text"))))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"))
      .filter(col("n_copies") > 1)
      .select(col("keep_id"), col("n_copies"))

  /** N-gram Jaccard near-dup pairs at threshold ½ via the integer
    * inequality 3·inter ≥ |A|+|B|. Output is all-integer. Uncapped form
    * (kept as the exact-semantics reference point and the oracle for
    * dedup_groups/dedup_keep_list); the production path is
    * [[ngramJaccardPairsCapped]]. */
  def ngramJaccardPairs(corpus: DataFrame): DataFrame =
    pairStats(hashedShingles(corpus))
      .filter(col("inter") * 3 >= col("n_a") + col("n_b"))
      .select(col("a_id"), col("b_id"), col("inter"),
        (col("n_a") + col("n_b") - col("inter")).as("union_size"))

  /** N-gram Jaccard with a stop-shingle document-frequency cap — the
    * 100 TB path. A shingle shared by more than `maxShingleDf` documents
    * (boilerplate, licenses, navigation chrome) is dropped from the
    * inverted index *and* from the per-doc set sizes, so the self-join's
    * candidate count per shingle is bounded by `maxShingleDf²` instead of
    * the square of the hottest shingle's frequency — the classic skew
    * blowup in shingle-based dedup. Jaccard is then computed over the
    * kept-shingle sets (both sides consistently), same integer-exact
    * threshold test as [[ngramJaccardPairs]]. */
  def ngramJaccardPairsCapped(corpus: DataFrame,
      maxShingleDf: Int = DefaultMaxShingleDf,
      materialize: Boolean = true): DataFrame =
    pairStats(cappedShingles(corpus, maxShingleDf), materialize)
      .filter(col("inter") * 3 >= col("n_a") + col("n_b"))
      .select(col("a_id"), col("b_id"), col("inter"),
        (col("n_a") + col("n_b") - col("inter")).as("union_size"))

  /** Incoming ingest batch against the `documents` corpus: every 5th doc
    * verbatim (already present — must be dropped) ∪ every 7th doc with
    * two novel tail tokens (new content — must survive), re-keyed so ids
    * never collide with the corpus. */
  def incomingBatch(spark: SparkSession, dir: String): DataFrame = {
    val base = Tables.load(spark, dir, "documents")
      .select(col("doc_id"), col("text"))
    base.filter(col("doc_id") % 5 === 0)
      .select((col("doc_id") + 600000L).as("doc_id"), col("text"))
      .unionByName(base.filter(col("doc_id") % 7 === 0)
        .select((col("doc_id") + 700000L).as("doc_id"),
          concat(col("text"), lit(" qq zz")).as("text")))
  }

  /** Incremental ingest dedup: which batch documents are NOT already in
    * the corpus? Two-tier, sketch-then-verify:
    *
    *  1. probe a Bloom filter built over `xxhash64(text)` of the corpus
    *     ([[graft.functions.BloomMightContain]], codegen'd — no join, no
    *     shuffle). No false negatives, so `might = false` rows are
    *     DEFINITELY new and skip verification entirely;
    *  2. only the `might = true` sliver (true dups + the ~fpp fraction of
    *     false positives) goes through the exact anti-join on the 16-byte
    *     md5 key, which settles semantics — the result is bit-identical
    *     to a plain anti-join of the whole batch.
    *
    * At 100 TB the Bloom filter is the persisted index artifact (a few
    * GB covers 10⁹ docs at 1% fpp; build it once per corpus snapshot,
    * reuse across every ingest batch — the IvfIndex pattern), and the
    * verification join's corpus side is the bucketed-by-key staging
    * table, so a batch never re-shuffles the corpus. The plain anti-join
    * alternative shuffles corpus-side keys on EVERY batch; the sketch
    * path reads them once per corpus snapshot. */
  def incrementalNew(corpus: DataFrame, batch: DataFrame,
      fpp: Double = 0.01): DataFrame =
    incrementalNew(corpus, batch, BloomIndex.build(corpus, fpp))

  /** As above with a pre-built sketch (the [[BloomIndex]] artifact/memo) —
    * the per-batch production form: the corpus is scanned once when the
    * sketch is built, never per batch. */
  def incrementalNew(corpus: DataFrame, batch: DataFrame,
      bloom: org.apache.spark.util.sketch.BloomFilter): DataFrame = {
    val probed = batch.withColumn("might",
      graft.functions.BloomFilterExpr.bloom_might_contain(
        bloom, xxhash64(col("text"))))
    val definiteNew = probed.filter(!col("might"))
    val confirmedNew = probed.filter(col("might"))
      .withColumn("k", md5(col("text")))
      .join(corpus.select(md5(col("text")).as("k")).distinct(),
        Seq("k"), "left_anti")
    definiteNew.select(col("doc_id"))
      .unionByName(confirmedNew.select(col("doc_id")))
  }

  def incrementalNew(spark: SparkSession, dir: String): DataFrame =
    incrementalNew(
      Tables.load(spark, dir, "documents").select(col("doc_id"), col("text")),
      incomingBatch(spark, dir),
      BloomIndex.sketch(spark, dir))

  /** [[incomingNearBatch]] id offsets, 1,000,000-spaced: collision-free
    * for any corpus id below 1,000,000 (sf1 rehearsal doc_ids reach
    * ~94,999; gated scales far smaller). ADVICE r9: the old
    * +700000/+750000 pair was only 50,000 apart, so a sf1 tail-edit id
    * could alias a scramble id. The oracle SQL interpolates these same
    * constants, so Spark and DuckDB cannot drift. */
  val NearVerbatimOff = 1000000L
  val NearTailOff = 2000000L
  val NearScrambleOff = 3000000L

  /** Incoming batch for the NEAR-dup ingest gate: every 5th doc verbatim
    * (flag — exact is a special case of near) ∪ every 7th tail-edited
    * (flag — the rewrite exact dedup misses) ∪ every 11th with its 20
    * most common letters rotated (the ScaleRehearsal scramble — every
    * word differs, so it shares NO shingles with the corpus and must
    * survive). Re-keyed outside the corpus id space. */
  def incomingNearBatch(spark: SparkSession, dir: String): DataFrame = {
    val base = Tables.load(spark, dir, "documents")
      .select(col("doc_id"), col("text"))
    val letters = "abcdefghijklmnopqrst"
    base.filter(col("doc_id") % 5 === 0)
      .select((col("doc_id") + NearVerbatimOff).as("doc_id"), col("text"))
      .unionByName(base.filter(col("doc_id") % 7 === 0)
        .select((col("doc_id") + NearTailOff).as("doc_id"),
          concat(col("text"), lit(" qq zz")).as("text")))
      .unionByName(base.filter(col("doc_id") % 11 === 0)
        .select((col("doc_id") + NearScrambleOff).as("doc_id"),
          translate(col("text"), letters,
            letters.drop(1) + letters.take(1)).as("text")))
  }

  /** Batch-vs-corpus NEAR-dup ingest gate — the near tier of incremental
    * ingest ([[incrementalNew]] settles byte-identical copies; this
    * catches the tail-edited rewrites that slip past it, completing the
    * exact/near × batch/stream gate matrix with
    * [[streamingDedup]]/[[streamingNearDedup]]). For each batch doc: how
    * many corpus docs it resembles (Jaccard ≥ ½ over df-capped shingles,
    * the family's integer threshold) and the drop verdict.
    *
    * Scale shape: the batch's kept-shingle index is per-ingest-sized and
    * BROADCASTS into the equi-join against the corpus's capped inverted
    * index — the corpus is scanned once (plus the one hot-set pass every
    * family member pays) and never self-joined; candidate volume is
    * bounded by batch shingles × df cap. Both sides' sizes count KEPT
    * shingles against the CORPUS hot set, so the threshold test sees one
    * universe. Candidate pairs and match counts are batch-bounded
    * metadata. */
  def incrementalNearDups(corpus: DataFrame, batch: DataFrame,
      maxShingleDf: Int = DefaultMaxShingleDf): DataFrame =
    incrementalNearEvidence(corpus, batch, maxShingleDf)
      .select(col("doc_id"), col("n_near_matches"), col("is_near_dup"))

  /** [[incrementalNearDups]] with the MATCH EVIDENCE kept: `match_id`
    * is the smallest corpus doc id whose kept-shingle Jaccard clears
    * the threshold (−1 when new) — the canonical-pointer column the
    * audit records need (the matched_id convention of the media gates),
    * folded into the SAME rollup aggregate so the two forms cannot
    * drift. */
  def incrementalNearEvidence(corpus: DataFrame, batch: DataFrame,
      maxShingleDf: Int = DefaultMaxShingleDf): DataFrame = {
    val hot = hotShingles(corpus, maxShingleDf)
    val cSh = hashedShingles(corpus).join(hot, Seq("sh"), "left_anti")
    val bSh = hashedShingles(batch).join(hot, Seq("sh"), "left_anti")
      .select(col("doc_id").as("b_id"), col("sh"))
    val cSizes = cSh.groupBy(col("doc_id")).agg(count(lit(1)).as("n_c"))
    val bSizes = bSh.groupBy(col("b_id")).agg(count(lit(1)).as("n_b"))
    val pairs = broadcast(bSh).join(cSh, Seq("sh"))
      .groupBy(col("b_id"), col("doc_id"))
      .agg(count(lit(1)).as("inter"))
    val near = broadcast(pairs)
      .join(cSizes, Seq("doc_id"))
      .join(broadcast(bSizes), Seq("b_id"))
      .filter(col("inter") * 3 >= col("n_b") + col("n_c"))
      .groupBy(col("b_id")).agg(count(lit(1)).as("n"),
        min(col("doc_id")).as("m_id"))
    batch.select(col("doc_id"))
      .join(broadcast(near.withColumnRenamed("b_id", "doc_id")),
        Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n"), lit(0L)).as("n_near_matches"),
        (coalesce(col("n"), lit(0L)) > 0L).as("is_near_dup"),
        coalesce(col("m_id"), lit(-1L)).as("match_id"))
  }

  def incrementalNearDups(spark: SparkSession, dir: String): DataFrame =
    incrementalNearDups(
      Tables.load(spark, dir, "documents")
        .select(col("doc_id"), col("text")),
      incomingNearBatch(spark, dir))

  /** documents ∪ planted excerpts (every 13th doc, its first
    * max(n/3, 6) words as a new doc, id+400000). An excerpt's shingle set
    * is fully CONTAINED in its source's, but its Jaccard resemblance is
    * only ~⅓ — so resemblance-threshold dedup ([[ngramJaccardPairs]])
    * systematically misses it. This is the quote/chunk/re-post shape:
    * a small document embedded verbatim inside a larger one. */
  /** First max(n/3, 6) words of `text`, re-joined — the excerpt planting
    * expression shared by [[corpusWithExcerpts]] / [[corpusWithMixedDups]]. */
  private def excerptText: Column =
    expr("array_join(slice(split(trim(text), '\\\\s+'), 1, " +
      "greatest(size(split(trim(text), '\\\\s+')) div 3, 6)), ' ')")

  def corpusWithExcerpts(spark: SparkSession, dir: String): DataFrame = {
    val base = Tables.load(spark, dir, "documents")
      .select(col("doc_id"), col("text"))
    base.unionByName(
      base.filter(col("doc_id") % 13 === 0)
        .select((col("doc_id") + 400000L).as("doc_id"),
          excerptText.as("text")))
  }

  /** documents ∪ near-copies (%7) ∪ excerpts (%13) — the fixture with BOTH
    * duplication modes, for the ensemble verdict. */
  def corpusWithMixedDups(spark: SparkSession, dir: String): DataFrame = {
    val base = Tables.load(spark, dir, "documents")
      .select(col("doc_id"), col("text"))
    base
      .unionByName(base.filter(col("doc_id") % 7 === 0)
        .select((col("doc_id") + 100000L).as("doc_id"),
          concat(col("text"), lit(" zqx wvk")).as("text")))
      .unionByName(base.filter(col("doc_id") % 13 === 0)
        .select((col("doc_id") + 400000L).as("doc_id"),
          excerptText.as("text")))
  }

  /** Ensemble candidate pairs: resemblance (Jaccard ≥ ½) OR containment
    * (≥ 9/10) evaluated as one disjunction over ONE shared inverted
    * index — the production composition of multiple candidate generators.
    * Running the generators separately and unioning would build the
    * shingle index and its self-join twice for the same equi-join volume;
    * fused, the second detector costs one extra predicate. */
  def ensemblePairs(corpus: DataFrame,
      maxShingleDf: Int = DefaultMaxShingleDf): DataFrame =
    pairStats(cappedShingles(corpus, maxShingleDf))
      .filter(col("inter") * 3 >= col("n_a") + col("n_b") ||
        col("inter") * 10 >= least(col("n_a"), col("n_b")) * 9)
      .select(col("a_id"), col("b_id"))

  /** Pairwise source-overlap matrix — which FEEDS copy from each other:
    * for every source pair, how many distinct shingles they share and
    * that count as a per-mille of the smaller source's shingle
    * vocabulary (the containment shape, lifted from documents to
    * sources). A feed that scrapes another lights up here long before
    * document-level dedup quantifies it, and the matrix is what decides
    * which source pairs need a cross-source dedup pass at all.
    *
    * Scale shape: distinct (source, shingle-hash) pairs via one hash
    * aggregate (map-side combined, 8-byte keys), a self-join on the hash
    * restricted to source_a < source_b, and a sources²-bounded final
    * aggregate. The stop-shingle cap is wired in (default ON, like the
    * document-level family), here on SOURCE frequency: a shingle present
    * in more than `maxSourceDf` feeds is cross-feed boilerplate — it
    * would contribute up to sources² join rows while saying nothing
    * about which pair copies from which. Sizes count kept shingles, so
    * the containment ratio stays consistent on both sides. */
  def sourceOverlap(docs: DataFrame,
      maxSourceDf: Int = DefaultMaxShingleDf): DataFrame = {
    val sh0 = docs
      .select(col("source"), explode(shingles(col("text"))).as("s"))
      .select(col("source"), xxhash64(col("s")).as("sh"))
      .distinct()
    val hot = sh0.groupBy(col("sh"))
      .agg(count(lit(1)).as("df"))
      .filter(col("df") > maxSourceDf)
      .select(col("sh"))
    // r18: the kept frame is materialized once (eager local checkpoint)
    // — its three consumers (self-join a/b sides + sizes) each replayed
    // the scan → shingle explode → DISTINCT exchange → anti-join chain,
    // and unlike the document-level family (where the r9 probes
    // measured materialization a wash) each replay here pays a distinct
    // EXCHANGE, so caching wins: A/B at sf0.1 wall 2.3→1.3 s, task
    // 2.1→1.5 s, shuffle 15.3→11.3 MB. At corpus scale the trade only
    // widens — a replay re-scans the corpus text; the cached frame is
    // (source, 8-byte hash) distinct rows, spilling to executor disk.
    val sh = Ckpt.eager(sh0.join(hot, Seq("sh"), "left_anti"))
    val sizes = sh.groupBy(col("source")).agg(count(lit(1)).as("n_sh"))
    sh.as("a").join(sh.as("b"),
        col("a.sh") === col("b.sh") && col("a.source") < col("b.source"))
      .groupBy(col("a.source").as("source_a"), col("b.source").as("source_b"))
      .agg(count(lit(1)).as("n_shared"))
      .join(broadcast(sizes.select(col("source").as("source_a"),
        col("n_sh").as("n_a"))), "source_a")
      .join(broadcast(sizes.select(col("source").as("source_b"),
        col("n_sh").as("n_b"))), "source_b")
      .select(col("source_a"), col("source_b"), col("n_shared"),
        expr("n_shared * 1000 div least(n_a, n_b)")
          .as("containment_x1000"))
  }

  /** Per-detector evaluation report over the mixed-duplication corpus —
    * the audit a dedup deployment runs before changing detectors: from
    * ONE shared inverted-index pass ([[ensemblePairs]]'s plan, with the
    * method predicates as tags instead of one disjunctive filter), how
    * many candidate pairs each method fires on, how many of those are the
    * two planted modes (near-copy vs excerpt), and how many only the
    * OTHER method sees. One extra aggregate over the pair frame —
    * metadata-sized — on top of the single index join.
    *
    * Output: one row per method ∈ (resemblance, containment, either) with
    * pair counts and per-planting-mode recall numerators. All nine
    * counters come out of ONE aggregate over the tagged pair frame
    * (conditional sums), then unpivot to the three method rows via
    * `stack` on the single 1-row result — the scan → explode → self-join
    * chain appears exactly once in the plan, where the per-method-filter
    * formulation re-derived it three times. */
  def dedupReport(corpus: DataFrame,
      maxShingleDf: Int = DefaultMaxShingleDf): DataFrame = {
    val tagged = pairStats(cappedShingles(corpus, maxShingleDf))
      .withColumn("is_res", col("inter") * 3 >= col("n_a") + col("n_b"))
      .withColumn("is_con",
        col("inter") * 10 >= least(col("n_a"), col("n_b")) * 9)
      .filter(col("is_res") || col("is_con"))
      // planted-pair markers under the fixture id conventions
      .withColumn("is_near_planted",
        col("b_id") === col("a_id") + 100000L)
      .withColumn("is_excerpt_planted",
        col("b_id") === col("a_id") + 400000L)
    def n(pred: Column): Column = sum(when(pred, 1L).otherwise(0L))
    tagged.agg(
        n(col("is_res")).as("res_pairs"),
        n(col("is_res") && col("is_near_planted")).as("res_near"),
        n(col("is_res") && col("is_excerpt_planted")).as("res_exc"),
        n(col("is_con")).as("con_pairs"),
        n(col("is_con") && col("is_near_planted")).as("con_near"),
        n(col("is_con") && col("is_excerpt_planted")).as("con_exc"),
        count(lit(1)).as("all_pairs"),
        n(col("is_near_planted")).as("all_near"),
        n(col("is_excerpt_planted")).as("all_exc"))
      .select(expr(
        "stack(3," +
          " 'resemblance', res_pairs, res_near, res_exc," +
          " 'containment', con_pairs, con_near, con_exc," +
          " 'either', all_pairs, all_near, all_exc)" +
          " AS (method, n_pairs, n_near_planted, n_excerpt_planted)"))
  }

  /** Containment near-dup pairs: C(A,B) = |A∩B| / min(|A|,|B|) ≥ 9/10,
    * evaluated in pure integer arithmetic (10·inter ≥ 9·min). Same
    * inverted-index plan as [[ngramJaccardPairs]] — candidates only for
    * docs sharing a shingle — but the MIN-size denominator makes the
    * score asymmetric-duplication-aware: a short doc wholly inside a long
    * one scores 1.0 here and ~|A|/|B| under Jaccard. This is the
    * Broder-style containment coefficient, the right measure for
    * excerpt/quotation dedup; the stop-shingle df cap rides the shared
    * [[cappedShingles]] frame (default ON, mirrored by the oracle). */
  def containmentPairs(corpus: DataFrame,
      maxShingleDf: Int = DefaultMaxShingleDf): DataFrame =
    pairStats(cappedShingles(corpus, maxShingleDf))
      .filter(col("inter") * 10 >= least(col("n_a"), col("n_b")) * 9)
      .select(col("a_id"), col("b_id"), col("inter"), col("n_a"), col("n_b"),
        expr("inter * 1000 div least(n_a, n_b)").as("containment_x1000"))

  /** Transitive duplicate groups (connected components) over a near-dup
    * pair list: A~B and B~C put A, B, C in one group even when A and C
    * don't pair directly — the step every production dedup pipeline runs
    * after pairwise candidate generation, since "keep one per pair" both
    * over- and under-deletes on chains.
    *
    * Algorithm: iterative min-label propagation WITH pointer halving.
    * Each node starts at `min(self, min neighbor)`; every round each
    * node takes the minimum label among itself and its neighbors, then
    * follows its label's OWN label one hop (path doubling — Shiloach–
    * Vishkin's shortcut, the same device Kiveris et al.'s large-star /
    * small-star rounds build on): labels propagate a chain in
    * O(log diameter) rounds instead of O(diameter), which is what keeps
    * the round count flat on the deep-chain case (knn_components'
    * mutual-kNN chains — r12's bench named round count as that family's
    * latency driver). Each round is two shuffled joins + one aggregate,
    * all distributed; the fixpoint — min doc_id reachable — is
    * unchanged, so every consumer's hash is unchanged. The driver only
    * checks the "any label changed?" bit via the decreasing label-sum
    * checksum. `localCheckpoint` truncates the per-round lineage so the
    * plan doesn't grow exponentially. The halving join keys on the
    * label itself, whose multiplicity is the (partially converged)
    * component size — bounded for near-dup/mutual-kNN clusters; a
    * corpus whose components are corpus-scale would take the
    * large-star/small-star form instead.
    *
    * Output: one row per node that appears in any pair — (doc_id,
    * component, is_canonical) where component = min doc_id reachable and
    * is_canonical marks the member to keep. */
  def dupComponents(pairs: DataFrame): DataFrame =
    dupComponentsCounted(pairs)._1

  /** [[dupComponents]] plus the number of propagation rounds the loop
    * actually ran (the convergence-detecting round included) — the
    * instrument behind SCALE.md's log(diameter) claim and DedupSpec's
    * deep-chain bound. The loop is synchronous (each round's checksum
    * is an action), so the count is exact, not an estimate. */
  private[graft] def dupComponentsCounted(
      pairs: DataFrame): (DataFrame, Int) = {
    // Checkpoints are LAZY: the next action (each round's checksum)
    // materializes the round's frame and its cache in one job, instead
    // of an eager checkpoint job followed by a cached-read job — the
    // loop is driver-latency-bound at small scale, so halving the
    // action count matters (and changes nothing at 100 TB, where the
    // same jobs are data-bound).
    val und = pairs.select(col("a_id").as("u"), col("b_id").as("v"))
      .unionByName(pairs.select(col("b_id").as("u"), col("a_id").as("v")))
      .localCheckpoint(false)
    var comp = und.groupBy(col("u").as("doc_id"))
      .agg(min(col("v")).as("m"))
      .select(col("doc_id"), least(col("doc_id"), col("m")).as("comp"))
      .localCheckpoint(false)
    // Convergence via the label-sum checksum: a propagation step can only
    // LOWER labels, so the exact decimal sum strictly decreases until the
    // fixpoint — equality ⟺ no label changed. One aggregate action per
    // round instead of a join + count over the change set.
    def checksum(c: DataFrame): java.math.BigDecimal = {
      // sum over an EMPTY frame is null — a pair list with no pairs at
      // all (fully deduplicated corpus, or a filtered edge view) must
      // converge immediately, not NPE
      val d = c.agg(sum(col("comp").cast("decimal(38,0)"))).head()
        .getDecimal(0)
      if (d == null) java.math.BigDecimal.ZERO else d
    }
    var sumPrev = checksum(comp)
    var converged = false
    var rounds = 0
    while (!converged) {
      rounds += 1
      val viaNeighbors = und
        .join(comp.withColumnRenamed("doc_id", "v"), "v")
        .select(col("u").as("doc_id"), col("comp"))
      // checkpointed so the halving self-join reads ONE materialization
      // of the relax aggregate instead of recomputing it per side
      val relaxed = comp.unionByName(viaNeighbors)
        .groupBy(col("doc_id")).agg(min(col("comp")).as("comp"))
        .localCheckpoint(false)
      // CONVERGENCE is tested on the RELAX output (r19): labels only
      // ever decrease, and sum(relaxed_r) ≤ sum(halved_{r-1}) ≤
      // sum(relaxed_{r-1}), so equality of the outer sums forces both
      // the halving and the relax step to have changed nothing — the
      // relax fixpoint IS the component fixpoint. Testing here (instead
      // of after the halving join, the pre-r19 shape) skips the final
      // round's halving self-join + checkpoint entirely; round count
      // and the fixpoint labels are unchanged.
      val sumRelaxed = checksum(relaxed)
      if (sumRelaxed.compareTo(sumPrev) == 0) {
        converged = true
        comp = relaxed
      } else {
        sumPrev = sumRelaxed
        // pointer halving: every label is itself a node id present in
        // the frame, so one self-join pulls the label's current label —
        // a chain of length d collapses in log₂(d) rounds
        comp = relaxed
          .join(relaxed
              .select(col("doc_id").as("comp"), col("comp").as("comp2"))
              .hint("shuffle_hash"),
            Seq("comp"), "left")
          .select(col("doc_id"),
            least(col("comp"), coalesce(col("comp2"), col("comp")))
              .as("comp"))
          .localCheckpoint(false)
      }
    }
    (comp.select(col("doc_id"), col("comp").as("component"),
      (col("doc_id") === col("comp")).as("is_canonical")), rounds)
  }

  /** Duplicate DOWNWEIGHTING — the keep-everything alternative to
    * dropping: every document gets training weight 1000 div (size of its
    * near-dup component), so a cluster of c near-copies contributes ~one
    * document's worth of gradient signal instead of c× (the soft policy
    * several production corpora apply where hard dedup would lose
    * paraphrase diversity). Documents in no pair keep weight 1000.
    *
    * Scale shape: [[ngramJaccardPairs]]' inverted-index candidates →
    * [[dupComponents]]' distributed min-label loop → a component-sized
    * rollup joined back on its own aggregation key (shuffle-hash), then
    * one co-partitioned left join onto the corpus id column. */
  def dupWeights(corpus: DataFrame): DataFrame = {
    val comp = dupComponents(
      ngramJaccardPairs(corpus).select(col("a_id"), col("b_id")))
    val sizes = comp.groupBy(col("component")).agg(count(lit(1)).as("n"))
    val withSize = comp.join(sizes.hint("shuffle_hash"), "component")
      .select(col("doc_id"), col("n"))
    corpus.select(col("doc_id"))
      .join(withSize.hint("shuffle_hash"), Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n"), lit(1L)).as("group_size"),
        expr("1000 div coalesce(n, 1L)").as("weight_x1000"))
  }

  def dupWeights(spark: SparkSession, dir: String): DataFrame =
    dupWeights(corpusWithNearDups(spark, dir))

  /** The end-to-end dedup VERDICT — one row per corpus document with the
    * final keep/drop decision a training run consumes: near-dup pairs →
    * transitive components ([[dupComponents]]) → keep the component
    * minimum, drop the rest; documents in no pair keep themselves. This is
    * the artifact the pairwise/group queries exist to produce — pairs and
    * components are diagnostics, the keep-list is what gates the corpus.
    *
    * Plan shape: the component frame is bounded by documents that appear
    * in ANY near-dup pair (per-mille of a real corpus), so the join back
    * to the full corpus broadcasts the verdict side; the corpus itself is
    * never shuffled. */
  def dupKeepList(corpus: DataFrame): DataFrame = {
    val comps = dupComponents(ngramJaccardPairs(corpus))
      .select(col("doc_id"), col("component"))
    corpus.select(col("doc_id"))
      .join(broadcast(comps), Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("component"), col("doc_id")).as("component"),
        (coalesce(col("component"), col("doc_id")) === col("doc_id"))
          .as("keep"))
  }

  /** Per-document keep verdict choosing the BEST copy per duplicate
    * group instead of the lowest id ([[dupKeepList]]): production
    * curation keeps the most COMPLETE version of a near-dup cluster —
    * the longest text, ties to the lowest id (so a truncated excerpt
    * never shadows its source). On the fixture this provably differs
    * from keep-min: the planted near-copies append a tail, so keep-best
    * retains the longer copy where keep-min retains the original.
    *
    * Scale shape: components are pair-bounded metadata; the length
    * lookup is an inner join of the component table against the corpus
    * (broadcast verdict side), the winner is one struct-min aggregate
    * over component-member rows, and the final verdict joins two
    * broadcast frames onto the corpus id projection — the corpus text
    * is scanned for lengths once and never shuffled. */
  def dupKeepBest(corpus: DataFrame): DataFrame = {
    val comps = dupComponents(ngramJaccardPairs(corpus))
      .select(col("doc_id"), col("component"))
    val members = corpus
      .select(col("doc_id"), length(col("text")).cast("long").as("n_chars"))
      .join(broadcast(comps), Seq("doc_id"))
    // argmax by (n_chars DESC, doc_id ASC) via struct-min on the negation
    val winners = members.groupBy(col("component"))
      .agg(min(struct((-col("n_chars")).as("neg_len"),
        col("doc_id").as("id"))).as("w"))
      .select(col("component"), col("w.id").as("keep_id"))
    corpus.select(col("doc_id"))
      .join(broadcast(comps), Seq("doc_id"), "left")
      .withColumn("component", coalesce(col("component"), col("doc_id")))
      .join(broadcast(winners), Seq("component"), "left")
      .select(col("doc_id"), col("component"),
        coalesce(col("doc_id") === col("keep_id"), lit(true)).as("keep"))
  }

  /** Connected components via alternating large-star / small-star
    * (Kiveris et al., "Connected Components in MapReduce and Beyond") —
    * the deep-graph scale path next to [[dupComponents]]'s min-label
    * propagation: propagation needs O(diameter) rounds (a 10^6-long
    * near-dup chain = 10^6 shuffles), star contraction needs
    * O(log n) because every round rewires whole neighborhoods to their
    * minimum, halving component height.
    *
    * large-star: each node's HIGHER neighbors re-attach to the minimum of
    * its closed neighborhood; small-star: the lower neighbors (and the
    * node) do. Both are one groupBy + one join per round over the edge
    * list — the same shapes as propagation, just O(log n) of them.
    * Output contract is identical to [[dupComponents]] (PipelineSpec
    * asserts equality on chains, cliques, random graphs, and the
    * fixture); dup groups in a real corpus are shallow, so the registered
    * query keeps the propagation form and this is the documented switch
    * for adversarially deep graphs. */
  def dupComponentsStars(pairs: DataFrame): DataFrame = {
    // Undirected edge list, kept symmetric each round so every node sees
    // its full neighborhood in the groupBy.
    var edges = pairs.select(col("a_id").as("u"), col("b_id").as("v"))
      .unionByName(pairs.select(col("b_id").as("u"), col("a_id").as("v")))
      .filter(col("u") =!= col("v"))
      .distinct()
    edges = Ckpt.eager(edges)

    def round(es: DataFrame, large: Boolean): DataFrame = {
      val m = es.groupBy(col("u"))
        .agg(min(col("v")).as("mv"))
        .select(col("u"), least(col("u"), col("mv")).as("m"))
      val joined = es.join(m, "u")
      val rewired =
        if (large) joined.filter(col("v") > col("u"))
          .select(col("v").as("u"), col("m").as("v"))
        else joined.filter(col("v") <= col("u"))
          .select(col("v").as("u"), col("m").as("v"))
          .unionByName(m.select(col("u"), col("m").as("v")))
      rewired.filter(col("u") =!= col("v")).distinct()
    }

    var converged = false
    while (!converged) {
      val afterLarge = round(edges, large = true)
      val next = round(afterLarge, large = false)
        // restore symmetry for the next round's neighborhoods
        .select(col("u"), col("v"))
      val sym = Ckpt.eager(
        next.unionByName(next.select(col("v").as("u"), col("u").as("v")))
          .distinct())
      // Both sides are distinct sets, so equality = equal cardinality +
      // one-direction containment: one exceptAll join per round instead
      // of two (counts over the localCheckpointed frames are cheap).
      converged = edges.count() == sym.count() &&
        sym.exceptAll(edges).isEmpty
      edges = sym
    }
    // At the fixpoint every non-root points directly at its component
    // minimum: comp(u) = min over u's edges; roots (the minima) keep
    // themselves.
    val nodes = pairs.select(col("a_id").as("doc_id"))
      .unionByName(pairs.select(col("b_id").as("doc_id"))).distinct()
    nodes.join(
        edges.groupBy(col("u").as("doc_id")).agg(min(col("v")).as("m")),
        Seq("doc_id"), "left")
      .select(col("doc_id"),
        least(col("doc_id"), coalesce(col("m"), col("doc_id")))
          .as("component"))
      .withColumn("is_canonical", col("doc_id") === col("component"))
  }

  /** documents ∪ planted "leaks": a near-copy of every eval document
    * (doc_id % modulus == 0) re-enters the corpus under a fresh id — the
    * train-on-benchmark contamination [[contaminationPairs]] must catch.
    * (500000 % 97 != 0, so leaked ids never land in the eval partition.) */
  def corpusWithLeaks(spark: SparkSession, dir: String,
      modulus: Int = 97): DataFrame = {
    val base = Tables.load(spark, dir, "documents")
      .select(col("doc_id"), col("text"))
    base.unionByName(
      base.filter(col("doc_id") % modulus === 0)
        .select((col("doc_id") + 500000L).as("doc_id"),
          concat(col("text"), lit(" zqx wvk")).as("text")))
  }

  /** Benchmark-contamination check: which corpus documents share at least
    * `minShared` word 5-gram shingles with any held-out eval document
    * (the n-gram-overlap decontamination step run before training on a
    * scraped corpus, with the eval set standing in for benchmark data).
    * Here the eval set is carved deterministically from the same table:
    * doc_id % modulus == 0.
    *
    * The eval side is tiny relative to the corpus (1/modulus here; a
    * benchmark suite in production), so its exploded shingle index is
    * broadcast — the corpus-side shingle stream never shuffles, and the
    * whole check rides the corpus scan. Output is all-integer:
    * (corpus_id, eval_id, n_shared). */
  def contaminationPairs(docs: DataFrame, modulus: Int = 97,
      minShared: Int = 3): DataFrame = {
    val sh = hashedShingles(docs)
    val evalSide = broadcast(
      sh.filter(col("doc_id") % modulus === 0)
        .select(col("doc_id").as("eval_id"), col("sh")))
    sh.filter(col("doc_id") % modulus =!= 0)
      .select(col("doc_id").as("corpus_id"), col("sh"))
      .join(evalSide, "sh")
      .groupBy(col("corpus_id"), col("eval_id"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }

  /** Content-level corpus version diff — the dataset-management analog
    * of snapshot_diff: given two corpus versions, classify every doc id
    * as `added` (only in next), `removed` (only in base), `changed`
    * (same id, different content hash), or `kept` (same id, same hash).
    * The edit log a dataset release ships, and the input an incremental
    * re-run plans from (only added/changed docs re-enter the pipeline).
    *
    * Scale shape: both sides reduce to (doc_id, md5) projections before
    * the join — 24-byte rows through one co-partitioned full-outer on
    * doc_id, never the text; at 100 TB this is the same metadata-plane
    * full-outer snapshot_diff runs. */
  def corpusDiff(base: DataFrame, next: DataFrame): DataFrame = {
    def keyed(df: DataFrame, h: String) =
      df.select(col("doc_id"), md5(col("text")).as(h))
    keyed(base, "h_base").join(keyed(next, "h_next"), Seq("doc_id"),
        "full_outer")
      .select(col("doc_id"),
        when(col("h_base").isNull, "added")
          .when(col("h_next").isNull, "removed")
          .when(col("h_base") =!= col("h_next"), "changed")
          .otherwise("kept").as("status"))
  }

  /** The fixture's "next release": every 10th doc re-edited (tail
    * appended → changed), every 13th dropped (removed), every 11th
    * additionally re-keyed under a fresh id (added) — deterministic, so
    * the oracle derives the same version pair. */
  def corpusNextVersion(spark: SparkSession, dir: String): DataFrame = {
    val base = Tables.load(spark, dir, "documents")
      .select(col("doc_id"), col("text"))
    base.filter(col("doc_id") % 13 =!= 0)
      .select(col("doc_id"),
        when(col("doc_id") % 10 === 0, concat(col("text"), lit(" rev2")))
          .otherwise(col("text")).as("text"))
      .unionByName(
        base.filter(col("doc_id") % 11 === 0)
          .select((col("doc_id") + 800000L).as("doc_id"), col("text")))
  }

  /** Streaming ingest dedup: exact-duplicate suppression as documents
    * arrive, keyed by a 64-bit content hash (the shuffle key stays 8 bytes
    * regardless of document length). `dropDuplicatesWithinWatermark`
    * bounds the dedup state: a hash is remembered only inside the
    * watermark horizon, so state size tracks ingest rate × horizon, not
    * corpus size — the piece plain `dropDuplicates` gets wrong on an
    * unbounded stream. Cross-horizon duplicates are caught by the batch
    * sweep ([[exactDupGroups]]) over the accumulated corpus.
    *
    * Input needs (doc_id, text, ingest_ts_ms). */
  def streamingDedup(docs: DataFrame,
      watermarkDelay: String = "10 minutes"): DataFrame =
    docs
      .withColumn("content_hash", xxhash64(col("text")))
      .withColumn("event_time", timestamp_millis(col("ingest_ts_ms")))
      .withWatermark("event_time", watermarkDelay)
      .dropDuplicatesWithinWatermark("content_hash")
      .select(col("doc_id"), col("text"), col("ingest_ts_ms"))

  /** Streaming NEAR-duplicate suppression — the LSH tier of ingest dedup
    * ([[streamingDedup]] catches byte-identical copies; this catches the
    * tail-edited rewrites that slip past it). Each document explodes to
    * its [[NumBands]] MinHash band buckets; a windowed per-(band, bucket)
    * aggregate assigns each bucket a DETERMINISTIC owner — the earliest
    * (event_time, doc_id) holder inside the window — and a per-document
    * count keeps exactly the documents that own ALL their buckets. Any
    * band collision with an earlier arrival (LSH OR-semantics, the
    * high-recall candidate rule) suppresses the newcomer.
    *
    * Deterministic min-struct ownership (not
    * `dropDuplicatesWithinWatermark`'s arbitrary first-seen pick) matters
    * when two near-dups land in the SAME micro-batch: an arbitrary pick
    * can split bucket ownership across the pair so neither owns all 16
    * bands and BOTH are suppressed; the min-struct owner is consistent
    * across every shared bucket, so exactly the earliest copy survives —
    * matching the exact tier's keep-one semantics.
    *
    * Documents shorter than [[ShingleN]] words have no shingle signature
    * and can never be near-dup candidates; they bypass banding and pass
    * through as unconditional survivors (their byte-identical copies are
    * the exact tier's job) instead of silently vanishing from the stream.
    *
    * Two chained windowed aggregates (bucket-owner → ownership count),
    * both watermark-bounded: state tracks ingest rate × horizon, never
    * corpus size. Emits (window closes =) one horizon after the batch,
    * the price of an exact all-bands count in append mode. Like the
    * exact tier, this is the SKETCH stage: cross-window near-dups (and
    * collision false positives, rare at 16 bands) are reconciled by the
    * batch sweep ([[minhashLshPairs]]) over the landed corpus.
    *
    * BOUNDARY RECALL EDGE (explicit, for callers): ownership is per
    * TUMBLING window, so two copies arriving seconds apart that straddle
    * a window boundary BOTH survive this tier — a recall edge the older
    * dropDuplicatesWithinWatermark horizon did not have. Expected leak
    * rate is duplicate-interarrival / window-width of the dup stream;
    * the batch sweep removes the leaked copy on its next pass. If
    * stream-tier boundary recall matters more than emit latency, widen
    * `watermarkDelay` (fewer boundaries) or switch stage 1 to sliding
    * windows (`window(col, delay, delay/2)` — 2× state, and stage 2 must
    * then dedup survivors across overlapping windows).
    *
    * Input needs (doc_id, text, ingest_ts_ms); emits surviving
    * (doc_id, ingest_ts_ms) — payload re-join happens downstream (the
    * [[graft.stream.CurationPipeline]] pattern), so the 16× band
    * explosion shuffles 24-byte rows, never the text. */
  def streamingNearDedup(docs: DataFrame,
      watermarkDelay: String = "10 minutes"): DataFrame = {
    val shortDocs = docs
      .filter(size(words(col("text"))) < ShingleN)
      .select(col("doc_id"), col("ingest_ts_ms"))
    val bands = docs
      .filter(size(words(col("text"))) >= ShingleN)
      .withColumn("sig",
        graft.functions.Signatures.minhash_sig(col("text")))
      .withColumn("event_time", timestamp_millis(col("ingest_ts_ms")))
      .withWatermark("event_time", watermarkDelay)
      .select(col("doc_id"), col("ingest_ts_ms"), col("event_time"),
        explode(transform(sequence(lit(0), lit(NumBands - 1)), b =>
          struct(b.as("band"),
            xxhash64(concat_ws(",",
              slice(col("sig"), b * RowsPerBand + 1, lit(RowsPerBand))))
              .as("bucket")))).as("bb"))
      .select(col("doc_id"), col("ingest_ts_ms"), col("event_time"),
        col("bb.band").as("band"), col("bb.bucket").as("bucket"))
    // Stage 1: one owner per (window, band, bucket) — min over
    // (event_time, doc_id) is the same winner on every bucket the pair
    // shares, whatever micro-batch each copy arrived in.
    val owners = bands
      .groupBy(window(col("event_time"), watermarkDelay),
        col("band"), col("bucket"))
      .agg(min(struct(col("event_time"), col("doc_id"),
        col("ingest_ts_ms"))).as("o"))
    // Stage 2: count buckets owned per document (chained windowed agg —
    // window(window_col) re-windows the stage-1 output).
    val survivors = owners
      .groupBy(window(col("window"), watermarkDelay),
        col("o.doc_id"), col("o.ingest_ts_ms"))
      .agg(count(lit(1)).as("n_owned"))
      .filter(col("n_owned") === NumBands)
      .select(col("doc_id"), col("ingest_ts_ms"))
    survivors.unionByName(shortDocs)
  }

  // ---- MinHash + LSH ----

  /** Number of MinHash permutations and LSH bands (16 bands × 4 rows). */
  val NumHashes: Int = graft.functions.SigImpl.NumHashes
  val NumBands = 16
  private val RowsPerBand = NumHashes / NumBands

  /** MinHash signatures (array of [[NumHashes]] longs per doc) via the
    * native [[graft.functions.MinHashSig]] expression: one compiled pass
    * per document inside whole-stage codegen — no explode, no aggregate,
    * the shuffle carries a fixed 64-long signature per doc. */
  def signatures(corpus: DataFrame): DataFrame =
    corpus
      .filter(size(words(col("text"))) >= ShingleN)
      .select(col("doc_id"),
        graft.functions.Signatures.minhash_sig(col("text")).as("sig"))

  /** LSH candidate pairs: docs sharing any band bucket, with the MinHash
    * similarity estimate (matching signature positions / NumHashes). */
  def minhashLshPairs(corpus: DataFrame,
      estThreshold: Double = 0.5): DataFrame = {
    val signed = signatures(corpus)
    // bands carry only (doc_id, band, bucket) — the 64-long signature is
    // joined back for surviving candidates only, so the band equi-join
    // shuffles 24 bytes per row instead of ~550
    val bands = signed.select(
      col("doc_id"),
      explode(transform(sequence(lit(0), lit(NumBands - 1)), b =>
        struct(b.as("band"),
          xxhash64(concat_ws(",",
            slice(col("sig"), b * RowsPerBand + 1, lit(RowsPerBand))))
            .as("bucket")))).as("bb"))
      .select(col("doc_id"),
        col("bb.band").as("band"), col("bb.bucket").as("bucket"))
    val cand = bands.as("a").join(bands.as("b"),
        col("a.band") === col("b.band") &&
          col("a.bucket") === col("b.bucket") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"))
      .dropDuplicates("a_id", "b_id")
    cand
      .join(signed.select(col("doc_id").as("a_id"), col("sig").as("sig_a")), "a_id")
      .join(signed.select(col("doc_id").as("b_id"), col("sig").as("sig_b")), "b_id")
      .withColumn("est_sim",
        aggregate(zip_with(col("sig_a"), col("sig_b"),
            (x, y) => when(x === y, 1).otherwise(0)),
          lit(0), (acc, v) => acc + v).cast("double") / NumHashes)
      .filter(col("est_sim") >= estThreshold)
      .select(col("a_id"), col("b_id"), col("est_sim"))
  }

  /** The (band, rows) divisor family of [[NumHashes]] evaluated by
    * [[lshTune]] — every power-of-two split of the 64-signature budget,
    * so both chain selections resolve by repeated squaring. */
  private[graft] val LshTuneRs: Seq[Int] =
    (0 to 6).map(1 << _) // 1, 2, 4, 8, 16, 32, 64

  /** LSH band/row tuner: the S-curve `detect = 1 − (1 − s^r)^b` for every
    * power-of-two (bands b, rows r) split of the [[NumHashes]]-signature
    * budget, over Jaccard similarities 5%..95% — the table an operator
    * reads to pick (b, r) for a target near-dup threshold before running
    * [[minhashLshPairs]] at corpus scale (more rows per band ⇒ sharper
    * knee further right; the deployed 16×4 config is flagged).
    *
    * All fixed-point: s as ppm, s^r and (1−s^r)^b by repeated SQUARING
    * with a floor division at every step (`p₂ₖ = pₖ² div 10⁶`) — the
    * same chain evaluated in the same order on both engines, so the
    * probabilities are engine-exact integers where a float `pow` could
    * differ in the last bit. Powers of two only, which is why
    * [[LshTuneRs]] is the divisor family. Pure parameter-plane
    * arithmetic: a few hundred rows regardless of corpus size. */
  def lshTune(spark: SparkSession): DataFrame = {
    import spark.implicits._
    val grid = LshTuneRs
      .map(r => (r.toLong, (NumHashes / r).toLong)).toDF("r", "b")
      .crossJoin(spark.range(1, 20).select((col("id") * 5).as("s_pct")))
    val withP = (1 to 6).foldLeft(
        grid.withColumn("p1", col("s_pct") * 10000L)) { (df, k) =>
      df.withColumn(s"p${1 << k}",
        expr(s"(p${1 << (k - 1)} * p${1 << (k - 1)}) div 1000000"))
    }
    val pSel = "CASE r " +
      LshTuneRs.map(r => s"WHEN $r THEN p$r").mkString(" ") + " END"
    val withQ = (1 to 6).foldLeft(
        withP.withColumn("p_ppm", expr(pSel))
          .withColumn("q1", lit(1000000L) - col("p_ppm"))) { (df, k) =>
      df.withColumn(s"q${1 << k}",
        expr(s"(q${1 << (k - 1)} * q${1 << (k - 1)}) div 1000000"))
    }
    val qSel = "CASE b " +
      LshTuneRs.map(b => s"WHEN $b THEN q$b").mkString(" ") + " END"
    withQ
      .withColumn("detect_ppm", lit(1000000L) - expr(qSel))
      .withColumn("deployed",
        when(col("b") === NumBands &&
          col("r") === NumHashes / NumBands, 1L).otherwise(0L))
      .select(col("b"), col("r"), col("s_pct"), col("p_ppm"),
        col("detect_ppm"), col("deployed"))
  }

  /** ORACLE-GATED MinHash band-bucketing: the same 16-band/4-row LSH
    * shape as [[minhashLshPairs]], built on the SQL-mirrorable
    * polynomial signature ([[graft.functions.MinHashSigPoly]]) and
    * joining bands on the RAW 4-value row tuple instead of an xxhash64
    * bucket — every intermediate is exact integer arithmetic a DuckDB
    * oracle reproduces, so this key is hash-gated where the FNV variant
    * can only be golden-gated. Output: candidate pair + how many of the
    * 16 bands collided (the LSH evidence strength).
    *
    * Scale shape: identical to the production variant — fixed-size
    * signatures per doc, equi-join on (band, 4 longs); the join key is
    * 40 bytes instead of 16, the price of oracle-exactness (the FNV +
    * hashed-bucket variant remains the throughput path). */
  def minhashBandPairs(corpus: DataFrame): DataFrame = {
    val signed = corpus
      .filter(size(words(col("text"))) >= ShingleN)
      .select(col("doc_id"),
        graft.functions.Signatures.minhash_sig_poly(col("text")).as("sig"))
    val bands = signed.select(
      col("doc_id"),
      explode(transform(sequence(lit(0), lit(NumBands - 1)), b =>
        struct(b.as("band"),
          element_at(col("sig"), b * RowsPerBand + 1).as("v0"),
          element_at(col("sig"), b * RowsPerBand + 2).as("v1"),
          element_at(col("sig"), b * RowsPerBand + 3).as("v2"),
          element_at(col("sig"), b * RowsPerBand + 4).as("v3")))).as("bb"))
      .select(col("doc_id"), col("bb.band").as("band"),
        col("bb.v0").as("v0"), col("bb.v1").as("v1"),
        col("bb.v2").as("v2"), col("bb.v3").as("v3"))
    bands.as("a").join(bands.as("b"),
        col("a.band") === col("b.band") &&
          col("a.v0") === col("b.v0") && col("a.v1") === col("b.v1") &&
          col("a.v2") === col("b.v2") && col("a.v3") === col("b.v3") &&
          col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"))
      .agg(count(lit(1)).as("n_shared_bands"))
  }

  /** ORACLE-GATED SimHash band-bucketing twin (the [[minhashBandPairs]]
    * pattern applied to SimHash): two SQL-mirrorable polynomial word
    * hashes feed sign-sum bit votes ([[graft.functions.SimHashPoly]] —
    * [[graft.functions.SigImpl.SimBits]] = 62 exact integer bits),
    * candidates block on 4 × 16-bit signature bands
    * (pigeonhole over the 62-bit width), and each candidate pair carries
    * its shared-band count plus exact Hamming distance, kept when the
    * distance is ≤ maxHamming (the [[simhashPairs]] near-dup rule —
    * pigeonhole over 4 bands guarantees d ≤ 3 pairs share one). Every
    * intermediate is integer arithmetic a DuckDB oracle reproduces
    * bit-for-bit, so this key is hash-gated where the FNV production
    * variant ([[simhashPairs]]) can only be golden-gated.
    *
    * Scale shape: identical to the production variant — one compiled
    * pass per doc, a fixed 8-byte signature through the shuffle,
    * equi-join on (band, 16-bit band value). */
  def simhashBandPairs(corpus: DataFrame, maxHamming: Int = 3): DataFrame = {
    val sigs = corpus
      .filter(size(words(col("text"))) >= ShingleN)
      .select(col("doc_id"),
        graft.functions.Signatures.simhash_poly(col("text")).as("sig"))
    val bands = sigs.select(col("doc_id"), col("sig"),
      explode(transform(sequence(lit(0), lit(3)), c =>
        struct(c.as("band"),
          call_function("shiftright", col("sig"), c * 16)
            .bitwiseAND(0xFFFFL).as("v")))).as("bb"))
      .select(col("doc_id"), col("sig"),
        col("bb.band").as("band"), col("bb.v").as("v"))
    bands.as("a").join(bands.as("b"),
        col("a.band") === col("b.band") && col("a.v") === col("b.v") &&
          col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"))
      .agg(count(lit(1)).as("n_shared_bands"),
        bit_count(first(col("a.sig"))
          .bitwiseXOR(first(col("b.sig")))).as("hamming"))
      .filter(col("hamming") <= maxHamming)
  }

  // ---- SimHash ----

  /** SimHash near-dup pairs with Hamming distance ≤ maxHamming, candidates
    * via 4 × 16-bit chunk equality (pigeonhole: d ≤ 3 ⟹ one chunk equal).
    * Signatures come from the native [[graft.functions.SimHash64]]
    * expression (one compiled pass per document). */
  def simhashPairs(corpus: DataFrame, maxHamming: Int = 3): DataFrame = {
    val sigs = corpus.select(col("doc_id"),
      graft.functions.Signatures.simhash64(col("text")).as("sig"))
    val chunks = sigs.select(col("doc_id"), col("sig"),
      explode(transform(sequence(lit(0), lit(3)), c =>
        struct(c.as("chunk"),
          call_function("shiftright", col("sig"), c * 16)
            .bitwiseAND(0xFFFFL).as("v"))))
        .as("cc"))
      .select(col("doc_id"), col("sig"),
        col("cc.chunk").as("chunk"), col("cc.v").as("v"))
    chunks.as("a").join(chunks.as("b"),
        col("a.chunk") === col("b.chunk") && col("a.v") === col("b.v") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"),
        col("a.sig").as("sig_a"), col("b.sig").as("sig_b"))
      .dropDuplicates("a_id", "b_id")
      .withColumn("hamming", bit_count(col("sig_a").bitwiseXOR(col("sig_b"))))
      .filter(col("hamming") <= maxHamming)
      .select(col("a_id"), col("b_id"), col("hamming"))
  }
}
