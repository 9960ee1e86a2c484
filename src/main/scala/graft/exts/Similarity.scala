package graft.exts

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables

/** Similarity search over embedding columns (`Array[Float]`), the
  * training-data-pipeline extension (north star; SURVEY.md §7.3).
  *
  * Two tiers:
  *  - brute-force cosine top-k: the exact baseline — broadcast the (small)
  *    query set against the corpus, one pass, no shuffle of the corpus;
  *  - sign-bucket LSH (random-hyperplane style with fixed axis-aligned
  *    planes): each vector hashes to a bucket from the sign bits of its
  *    leading dimensions, candidates are same-bucket only. At 100 TB the
  *    bucket id is a shuffle/partition key: candidate generation becomes a
  *    co-partitioned self-join instead of a cross product, cutting pair
  *    count by ~#buckets.
  *
  * All float math is done in double via sequential fold (`aggregate`), so
  * results are deterministic and reproducible across runs and engines.
  */
object Similarity {

  /** Cosine similarity of two float-array columns, computed in double by
    * the native fused [[graft.functions.CosineSim]] expression (index-order
    * accumulation — bit-identical to a sequential fold, codegen'd). */
  def cosine(a: Column, b: Column): Column =
    graft.functions.CosineSim.cosine_sim(a, b)

  /** Minimum (and historical default) number of leading dimensions whose
    * sign forms the LSH bucket id. */
  val BucketBits = 6

  /** Upper clamp on adaptive bucket bits (bucket ids stay comfortably in
    * a BIGINT; requires embedding dim ≥ this — the corpus is 64-dim). */
  val MaxBucketBits = 30

  /** Near-dup candidate cells aim for ~this many vectors per sign bucket;
    * within-cell pair search is quadratic in cell size, so the bucket
    * count — not the cell size — must grow with the corpus. */
  val TargetCellVectors = 64L

  /** THE dedup_embedding scale knob: smallest b in [[[BucketBits]],
    * [[MaxBucketBits]]] with n ≤ [[TargetCellVectors]]·2^b, i.e. just
    * enough hyperplanes that the average cell stays ~constant as the
    * corpus grows (bits ∝ log₂ n ⇒ total within-cell pair work stays
    * linear in n instead of quadratic). Integer-only arithmetic so the
    * DuckDB oracle reproduces the same b bit-for-bit — no float log₂
    * whose rounding could differ across engines. */
  def adaptiveBucketBits(n: Long, target: Long = TargetCellVectors): Int = {
    var b = BucketBits
    while (b < MaxBucketBits && n > (target << b)) b += 1
    b
  }

  /** Sign-bucket id: Σ_k (v[k] ≥ 0) · 2^(k-1) over the first `bits` dims.
    * Scale-invariant (a scaled copy lands in the same bucket). */
  def signBucketBits(v: Column, bits: Int): Column =
    (1 to bits).map { k =>
      when(element_at(v, k) >= 0f, lit(1L << (k - 1))).otherwise(lit(0L))
    }.reduce(_ + _)

  /** [[signBucketBits]] at the fixed [[BucketBits]] width (the ANN search
    * path, where within-bucket work is linear per query — the adaptive
    * width only matters for the quadratic pair-generation path). */
  def signBucket(v: Column): Column = signBucketBits(v, BucketBits)

  /** Attach the sign-bucket id to a (vec_id, embedding) corpus frame. */
  def withBucket(corpus: DataFrame): DataFrame =
    corpus.withColumn("bucket", signBucket(col("embedding")))

  /** Embeddings table with bucket id attached. */
  def bucketed(spark: SparkSession, dir: String): DataFrame =
    withBucket(Tables.load(spark, dir, "embeddings"))

  /** Brute-force cosine top-k over an arbitrary (vec_id, embedding) corpus:
    * for each query vector (small set, broadcast), rank all corpus vectors
    * by cosine. Exact baseline for ANN. */
  def bruteTopK(corpus0: DataFrame, maxQueryId: Long, k: Int): DataFrame =
    bruteTopKWhere(corpus0, col("vec_id") < maxQueryId, k)

  /** Bounded exact top-k finish shared by every cosine search path:
    * `groupBy(query_id)` + the native [[graft.functions.TopKPairs]]
    * aggregate (cos DESC, neighbor_id ASC — the same total order the old
    * ranking window used, including Double.compare NaN/-0.0 semantics).
    * Map-side PARTIAL aggregation ships ≤k rows per (query, mapper) into
    * the exchange and the reduce side merges k-vs-k sorted lists — where
    * the previous `row_number().over(partitionBy(query_id))` funneled
    * every scored candidate through one task per query for a full sort
    * (with 8 queries over a 100 TB corpus: the whole corpus through 8
    * tasks). Rank is the array position, so results are value-identical. */
  private[exts] def topKByCosine(scored: DataFrame, k: Int): DataFrame =
    scored.groupBy(col("query_id"))
      .agg(graft.functions.TopKAgg.top_k_pairs(
        col("cos"), col("neighbor_id"), k).as("tk"))
      .select(col("query_id"), posexplode(col("tk")))
      .select(col("query_id"), col("col.payload").as("neighbor_id"),
        (col("pos") + 1).as("rank"))

  /** [[bruteTopK]] with an arbitrary query predicate (recall tests pick
    * query sets disjoint from the IVF seeds/sample). */
  private[graft] def bruteTopKWhere(corpus0: DataFrame, queryPred: Column,
      k: Int): DataFrame = {
    val corpus = corpus0
      .select(col("vec_id").as("neighbor_id"), col("embedding").as("emb_n"))
    val queries = corpus0.filter(queryPred)
      .select(col("vec_id").as("query_id"), col("embedding").as("emb_q"))
    topKByCosine(
      corpus.join(broadcast(queries), col("neighbor_id") =!= col("query_id"))
        .withColumn("cos", cosine(col("emb_q"), col("emb_n"))),
      k)
  }

  def bruteTopK(spark: SparkSession, dir: String, maxQueryId: Long = 8,
      k: Int = 5): DataFrame =
    bruteTopK(Tables.load(spark, dir, "embeddings"), maxQueryId, k)

  /** Hard-negative mining for contrastive training: for each query
    * vector, the k nearest neighbors whose ground-truth LABEL differs —
    * the near-misses a contrastive or reranker loss learns the most from
    * (easy negatives are already far; same-label neighbors are
    * positives). Same plan as [[bruteTopK]] — queries broadcast onto one
    * corpus pass, label inequality fused into the join predicate so
    * positives never reach the scorer, exact ranking finished by the
    * bounded [[topKByCosine]] aggregate (≤k rows per query per mapper).
    * The scale path swaps this exact scorer for the IVF/PQ candidate
    * generators exactly as sim_ivf/ivf_pq_search do. */
  def hardNegatives(corpus0: DataFrame, maxQueryId: Long = 8,
      k: Int = 5): DataFrame = {
    val corpus = corpus0.select(col("vec_id").as("neighbor_id"),
      col("embedding").as("emb_n"), col("label").as("label_n"))
    val queries = corpus0.filter(col("vec_id") < maxQueryId)
      .select(col("vec_id").as("query_id"), col("embedding").as("emb_q"),
        col("label").as("label_q"))
    topKByCosine(
      corpus.join(broadcast(queries),
          col("neighbor_id") =!= col("query_id") &&
          col("label_n") =!= col("label_q"))
        .withColumn("cos", cosine(col("emb_q"), col("emb_n"))),
      k)
  }

  def hardNegatives(spark: SparkSession, dir: String): DataFrame =
    hardNegatives(Tables.load(spark, dir, "embeddings"))

  /** Default kNN-graph degree (neighbors kept per node). */
  val KnnGraphK = 3

  /** k-nearest-neighbor graph over the WHOLE corpus — the structure
    * SemDeDup-style pruning, graph-based clustering, and label
    * propagation consume. Every node gets its top-k cosine neighbors
    * within its adaptive sign bucket, plus a `mutual` flag (1 iff the
    * reverse edge also made its endpoint's top-k — mutual-kNN edges are
    * the high-precision subset a dedup/cluster consumer keeps first).
    *
    * Scale shape: unlike the search queries (bounded query set broadcast
    * onto one corpus pass), EVERY node is a query here, so the candidate
    * stage is a within-bucket SELF-join — [[adaptiveBucketBits]] holds
    * expected bucket occupancy ~constant (bits ∝ log₂ n), keeping total
    * candidate volume linear in n instead of quadratic. The exact finish
    * is the bounded [[graft.functions.TopKPairs]] hash aggregate (map-side
    * partial: ≤k rows per node per mapper — n groups is exactly what a
    * hash aggregate is for; no per-node sort window). The edge list is
    * localCheckpoint'ed before the mutual self-join: at toy scale the
    * materialization costs more than recomputing, but the edge frame is
    * 24 bytes × n·k while the candidate scoring it would otherwise
    * recompute is the dominant stage — at corpus scale the checkpoint
    * halves the heavy work, so the trade goes the other way (same
    * deliberate choice as ivf_pq_refine's shortlist). */
  def knnGraph(corpus0: DataFrame, k: Int = KnnGraphK): DataFrame =
    knnGraphOver(corpus0, adaptiveBucketBits(corpus0.count()), k)

  /** [[knnGraph]]'s core at an explicit bucket width. */
  private[graft] def knnGraphOver(corpus0: DataFrame, bits: Int,
      k: Int): DataFrame = {
    val b = corpus0.select(col("vec_id"), col("embedding"))
      .withColumn("bucket", signBucketBits(col("embedding"), bits))
    val left = b.select(col("bucket"), col("vec_id").as("query_id"),
      col("embedding").as("emb_q"))
    val right = b.select(col("bucket"), col("vec_id").as("neighbor_id"),
      col("embedding").as("emb_n"))
    val edges = topKByCosine(
      left.join(right.hint("shuffle_hash"), "bucket")
        .filter(col("query_id") =!= col("neighbor_id"))
        .withColumn("cos", cosine(col("emb_q"), col("emb_n"))),
      k).localCheckpoint()
    val rev = edges.select(col("neighbor_id").as("query_id"),
      col("query_id").as("neighbor_id"), lit(1L).as("mutual"))
    edges.join(rev.hint("shuffle_hash"),
        Seq("query_id", "neighbor_id"), "left")
      .select(col("query_id").as("src_id"),
        col("neighbor_id").as("dst_id"), col("rank"),
        coalesce(col("mutual"), lit(0L)).as("mutual"))
  }

  /** Artifact-backed entry point: the edge list is built once per
    * corpus snapshot by [[KnnIndex]] and LOADED here (and by every
    * other graph consumer's (spark, dir) overload) — bit-identical to
    * an inline build, without re-paying the candidate-scoring
    * self-join per consumer. */
  def knnGraph(spark: SparkSession, dir: String): DataFrame =
    KnnIndex.edges(spark, dir)

  /** graph_health: the maintenance-dashboard report over the kNN-graph
    * artifact — the reference is at its core a METRICS EVALUATOR
    * (AwsTableManagementMetricsEvaluator.java emits per-table health
    * numbers that drive maintenance); this is that reporter for the
    * graph index (the small_file_metrics sibling): one row of
    * (n_nodes, n_edges, n_mutual, mutual_permille, n_isolated,
    * max_out_deg) — the numbers a rebuild/threshold policy reads
    * (collapsing mutual rate = buckets too wide; isolated mass =
    * buckets too narrow; a degree hot-spot = a hub cell).
    *
    * Scale shape: one pass over the artifact's n·k edge rows
    * (checkpointed — two rollups share it), reduced to 1-row
    * aggregates joined by broadcast; integer permille so both engines
    * agree bit-for-bit. */
  def graphHealth(spark: SparkSession, dir: String): DataFrame =
    graphHealthOver(KnnIndex.edges(spark, dir),
      Tables.load(spark, dir, "embeddings"))

  /** [[graphHealth]] over an explicit edge frame and node corpus — the
    * form the maintenance loop ([[graft.stream.GraphIndexLoop]]) emits
    * per version bump against whatever layout it just published. */
  def graphHealthOver(edges: DataFrame, nodes: DataFrame): DataFrame = {
    val e = edges.localCheckpoint(false)
    val s = e.agg(count(lit(1)).as("n_edges"),
      coalesce(sum(col("mutual")), lit(0L)).as("n_mutual"))
    val dd = e.groupBy(col("src_id")).agg(count(lit(1)).as("n"))
      .agg(coalesce(max(col("n")), lit(0L)).as("max_out_deg"),
        count(lit(1)).as("n_srcs"))
    val nn = nodes.agg(count(lit(1)).as("n_nodes"))
    nn.crossJoin(broadcast(s)).crossJoin(broadcast(dd))
      .select(col("n_nodes"), col("n_edges"), col("n_mutual"),
        expr("CASE WHEN n_edges = 0 THEN CAST(0 AS BIGINT)" +
          " ELSE n_mutual * 1000 div n_edges END").as("mutual_permille"),
        (col("n_nodes") - col("n_srcs")).as("n_isolated"),
        col("max_out_deg"))
  }

  /** knn_incremental: INCREMENTAL kNN-graph maintenance — merge a
    * vector ingest batch into the persisted [[KnnIndex]] edge list
    * without rebuilding the graph from the corpus; the reference's
    * accumulate→threshold→rebuild lifecycle
    * (AwsTableManagementMetricsEvaluator.java:108-140) taken one step
    * further: between full rebuilds, maintenance is BUCKET-LOCAL.
    *
    * Why locality is exact, not approximate: every edge of the graph
    * is within one sign bucket ([[knnGraphOver]]'s candidate rule), so
    * a batch vector can only create, displace, or re-rank edges inside
    * the buckets the batch lands in. Nodes of untouched buckets keep
    * their edge rows verbatim — including the `mutual` flag, because a
    * kept edge's endpoint lives in the same (untouched) bucket, so its
    * top-k is unchanged too. The merge is therefore
    * `untouched artifact edges ∪ rescored touched buckets`, and the
    * spec + oracle gate it as BIT-EQUAL to a full rebuild over
    * corpus ∪ batch at the same bucket width.
    *
    * Scale shape: the batch's bucket set broadcasts onto one corpus
    * scan to pull affected members (≤ batch × target cell occupancy —
    * bounded, checkpointed once); rescoring is [[knnGraphOver]]'s plan
    * restricted to those members; the artifact scan drops affected
    * sources via one broadcast anti-join. The corpus embeddings are
    * scanned once (at rest the bucket is the partition key —
    * [[IvfIndex.writeClustered]]'s layout — so even that scan prunes
    * to the touched buckets' files). Bucket width is PINNED to the
    * artifact's ([[adaptiveBucketBits]] of the BASE corpus, the
    * [[embIncrementalGateAt]] convention): widths re-adapt at the next
    * full rebuild, exactly when the reference's threshold loop would
    * rebuild anyway. */
  def knnIncremental(spark: SparkSession, dir: String): DataFrame = {
    val corpus = Tables.load(spark, dir, "embeddings")
      .select(col("vec_id"), col("embedding"))
    knnGraphMergeAt(KnnIndex.edges(spark, dir), corpus,
      incomingVecBatch(spark, dir)
        .select(col("batch_id").as("vec_id"), col("embedding")),
      adaptiveBucketBits(corpus.count()))
  }

  /** [[knnIncremental]]'s core over explicit frames: merge `batch`
    * (id-disjoint from `corpus`) into a prebuilt `edges` frame at the
    * EXPLICIT bucket width the edges were built with. */
  def knnGraphMergeAt(edges: DataFrame, corpus: DataFrame,
      batch: DataFrame, bits: Int, k: Int = KnnGraphK): DataFrame = {
    val bb = batch.select(col("vec_id"), col("embedding"),
      signBucketBits(col("embedding"), bits).as("bucket"))
    val touched = bb.select(col("bucket")).distinct()
    val affected = corpus
      .select(col("vec_id"), col("embedding"),
        signBucketBits(col("embedding"), bits).as("bucket"))
      .join(broadcast(touched), "bucket")
    // affected-bucket members: ≤ batch × cell occupancy — bounded;
    // checkpointed because both the rescore and the anti-join read it
    val members = affected.unionByName(bb).localCheckpoint(false)
    val rescored = knnGraphOver(
      members.select(col("vec_id"), col("embedding")), bits, k)
    val untouched = edges.join(
      broadcast(members.select(col("vec_id").as("src_id"))),
      Seq("src_id"), "left_anti")
    untouched.unionByName(rescored)
  }

  /** Semantic clusters = connected components over the MUTUAL edges of
    * [[knnGraph]] — the graph-clustering step after graph construction
    * (mutual-kNN is the standard precision cut: a one-way edge into a hub
    * doesn't merge clusters, a reciprocated one does). One row per vector
    * that has at least one mutual neighbor: (vec_id, component,
    * cluster_size, is_canonical).
    *
    * Scale shape: the graph build is [[knnGraph]]'s linear plan; the edge
    * list entering the component loop is ≤ n·k/2 pairs of ids; components
    * run [[Dedup.dupComponents]]' distributed min-label propagation
    * (diameter-bounded rounds of join + aggregate); the size rollup joins
    * back on the component key it was just aggregated by (shuffle-hash —
    * component count is corpus-order, never broadcastable). */
  def knnComponents(corpus0: DataFrame, k: Int = KnnGraphK): DataFrame =
    knnComponentsFromEdges(knnGraph(corpus0, k))

  /** [[knnComponents]] over a PREBUILT edge frame ([[knnGraph]]
    * schema) — the artifact-consuming form every (spark, dir) entry
    * point routes through via [[KnnIndex.edges]]. */
  def knnComponentsFromEdges(edges: DataFrame): DataFrame = {
    val pairs = edges
      .filter(col("mutual") === 1L && col("src_id") < col("dst_id"))
      .select(col("src_id").as("a_id"), col("dst_id").as("b_id"))
    val comp = Dedup.dupComponents(pairs)
    val sizes = comp.groupBy(col("component"))
      .agg(count(lit(1)).as("cluster_size"))
    comp.join(sizes.hint("shuffle_hash"), "component")
      .select(col("doc_id").as("vec_id"), col("component"),
        col("cluster_size"), col("is_canonical"))
  }

  /** Artifact-backed: the component frame is itself a [[KnnIndex]]
    * artifact (built once over the edge artifact), so the min-label
    * loop never re-runs per consumer — cluster_purity and d4_prune
    * read the same committed frame. */
  def knnComponents(spark: SparkSession, dir: String): DataFrame =
    KnnIndex.components(spark, dir)

  /** Fixed rounds for [[graphPagerank]] — centrality stabilizes in a few
    * rounds on a k-regular-ish graph; a fixed count keeps the plan and
    * the artifact deterministic. */
  val PagerankIters = 3
  /** Rank fixed-point scale (ranks in millionths). */
  val PagerankScale = 1000000L
  /** (1 − d)·scale with damping d = 0.85. */
  val PagerankBase = 150000L

  /** Graph centrality over the [[knnGraph]] edges — which vectors sit at
    * the semantic CORE of the corpus (many near-duplicates / dense
    * regions point at them) vs its periphery: one row per vector
    * (vec_id, pagerank_x6, out_deg, in_deg).
    *
    * Arithmetic is INTEGER fixed-point end-to-end: ranks scaled by
    * [[PagerankScale]], per-edge contribution `r DIV outdeg`, damping
    * `(850·Σ) DIV 1000`. Float PageRank summed in different partition
    * orders differs in ULPs run-to-run; the integer formulation is
    * bit-reproducible across engines and re-runs, which is what makes
    * the score usable as a persisted curation signal. Dangling mass is
    * deliberately dropped (the common production simplification —
    * redistributing it costs a global broadcast per round and mostly
    * rescales ranks uniformly).
    *
    * Scale shape: the edge list is ≤ n·k rows and is checkpointed once;
    * outdeg attaches with one shuffle-hash join co-partitioned on
    * src_id and is reused by every round. Each of the [[PagerankIters]]
    * rounds is join(rank on src_id) → partial-agg sum by dst_id → left
    * join back to the node list — all on (id, long) rows, k constant,
    * so every round is one linear shuffle of 16-byte rows. Rank frames
    * are lazily checkpointed per round ([[Dedup.dupComponents]]'
    * convention) so lineage stays flat at any round count. */
  def graphPagerank(corpus0: DataFrame, k: Int = KnnGraphK,
      iters: Int = PagerankIters): DataFrame =
    graphPagerankFromEdges(corpus0, knnGraph(corpus0, k), iters)

  /** [[graphPagerank]] over a PREBUILT edge frame; `corpus0` supplies
    * only the node list (isolated nodes keep the base rank). */
  def graphPagerankFromEdges(corpus0: DataFrame, edges0: DataFrame,
      iters: Int = PagerankIters): DataFrame = {
    val edges = edges0
      .select(col("src_id"), col("dst_id")).localCheckpoint(false)
    val outdeg = edges.groupBy(col("src_id"))
      .agg(count(lit(1)).as("outdeg"))
    val withDeg = edges.join(outdeg.hint("shuffle_hash"), "src_id")
      .localCheckpoint(false)
    val nodes = corpus0.select(col("vec_id")).localCheckpoint(false)
    var rank = nodes.withColumn("r", lit(PagerankScale))
    (1 to iters).foreach { _ =>
      val inbound = withDeg
        .join(rank.withColumnRenamed("vec_id", "src_id")
          .hint("shuffle_hash"), "src_id")
        .select(col("dst_id"), expr("r DIV outdeg").as("contrib"))
        .groupBy(col("dst_id")).agg(sum(col("contrib")).as("m"))
      rank = nodes
        .join(inbound.withColumnRenamed("dst_id", "vec_id")
          .hint("shuffle_hash"), Seq("vec_id"), "left")
        .select(col("vec_id"),
          expr(s"$PagerankBase + (850 * coalesce(m, CAST(0 AS BIGINT)))" +
            " DIV 1000").as("r"))
        .localCheckpoint(false)
    }
    val indeg = edges.groupBy(col("dst_id").as("vec_id"))
      .agg(count(lit(1)).as("in_deg"))
    rank
      .join(outdeg.withColumnRenamed("src_id", "vec_id")
        .hint("shuffle_hash"), Seq("vec_id"), "left")
      .join(indeg.hint("shuffle_hash"), Seq("vec_id"), "left")
      .select(col("vec_id"), col("r").as("pagerank_x6"),
        coalesce(col("outdeg"), lit(0L)).as("out_deg"),
        coalesce(col("in_deg"), lit(0L)).as("in_deg"))
  }

  def graphPagerank(spark: SparkSession, dir: String): DataFrame =
    graphPagerankFromEdges(Tables.load(spark, dir, "embeddings"),
      KnnIndex.edges(spark, dir))

  /** Steps per walk for [[graphWalks]] (positions 0..WalkLen per walk). */
  val WalkLen = 4
  /** LCG-style step-choice constants for [[graphWalks]] — every product
    * stays under 2^63 after the `% 1000000007` reduction of walk_id, so
    * the arithmetic is overflow-free in ANY int64 engine (DuckDB errors
    * on bigint overflow where the JVM wraps; staying in range is what
    * keeps the oracle runnable). */
  val WalkModA = 1000000007L
  val WalkMulA = 1103515245L
  val WalkMulB = 12345L
  val WalkAddC = 12821L
  val WalkModB = 2147483647L

  /** Deterministic random-walk corpus over the [[knnGraph]] edges — the
    * node2vec/DeepWalk-style training-data generator: one walk per
    * vector, [[WalkLen]] steps, rows (walk_id, step, vec_id). The next
    * hop is chosen by a pure integer hash of (walk_id, step) mod the
    * node's out-degree — no RNG state, so the corpus is bit-reproducible
    * across engines, re-runs, and partitionings, and any walk can be
    * regenerated in isolation. knn_graph's cosine rank (minus 1) IS the
    * edge index, so both engines index the same neighbor order for free.
    *
    * Scale shape: the edge list with out-degree attaches via one
    * co-partitioned shuffle-hash join and is checkpointed once; each of
    * the [[WalkLen]] rounds joins the n-row frontier to the ≤ n·k edge
    * list on src_id (k-way fanout filtered to the single hash-chosen
    * edge), so every round is one linear shuffle. Frontiers are lazily
    * checkpointed per round to keep lineage flat. Walks from vectors
    * whose sign bucket is a singleton (no out-edges) end at step 0 —
    * dropped by the join, not erred. */
  def graphWalks(corpus0: DataFrame, k: Int = KnnGraphK,
      len: Int = WalkLen): DataFrame =
    graphWalksFromEdges(corpus0, knnGraph(corpus0, k), len)

  /** [[graphWalks]] over a PREBUILT edge frame; `corpus0` supplies only
    * the walk-start node list. */
  def graphWalksFromEdges(corpus0: DataFrame, e: DataFrame,
      len: Int = WalkLen): DataFrame = {
    val outdeg = e.groupBy(col("src_id"))
      .agg(count(lit(1)).as("outdeg"))
    val edges = e
      .select(col("src_id"), col("dst_id"),
        (col("rank").cast("long") - 1L).as("idx"))
      .join(outdeg.hint("shuffle_hash"), "src_id")
      .localCheckpoint(false)
    val start = corpus0.select(col("vec_id").as("walk_id"),
      lit(0L).as("step"), col("vec_id"))
    var walks = start
    var frontier = start
    (1 to len).foreach { t =>
      val h = ((col("walk_id") % lit(WalkModA)) * lit(WalkMulA) +
        lit(t.toLong) * lit(WalkMulB) + lit(WalkAddC)) % lit(WalkModB)
      val next = frontier
        .select(col("walk_id"), col("vec_id").as("src_id"), h.as("h"))
        .join(edges.hint("shuffle_hash"), Seq("src_id"))
        .filter(col("idx") === col("h") % col("outdeg"))
        .select(col("walk_id"), lit(t.toLong).as("step"),
          col("dst_id").as("vec_id"))
        .localCheckpoint(false)
      walks = walks.unionByName(next)
      frontier = next
    }
    walks
  }

  def graphWalks(spark: SparkSession, dir: String): DataFrame =
    graphWalksFromEdges(Tables.load(spark, dir, "embeddings"),
      KnnIndex.edges(spark, dir))

  /** Skip-gram context window for [[walkSkipgrams]]. */
  val SkipWindow = 2

  /** word2vec-style training pairs from the [[graphWalks]] corpus: every
    * (center, context) co-occurrence within [[SkipWindow]] positions of
    * the same walk, aggregated to pair counts — the input a skip-gram
    * embedding trainer consumes (DeepWalk/node2vec's second half). Rows
    * (center_id, context_id, n_pairs); the pair relation is symmetric by
    * construction (|i−j| ≤ w holds for both orders), which the spec
    * asserts as a law.
    *
    * Scale shape: the walk corpus is n·(len+1) rows of three longs; the
    * self-join on walk_id is co-partitioned shuffle-hash with a fanout
    * bounded by (len+1)² per walk — constants, so pair volume stays
    * linear in n. Both join sides read the SAME checkpointed frontier
    * frames [[graphWalks]] materialized, so the walk generation runs
    * once, not twice. */
  def walkSkipgrams(corpus0: DataFrame, k: Int = KnnGraphK,
      len: Int = WalkLen, window: Int = SkipWindow): DataFrame =
    walkSkipgramsFromEdges(corpus0, knnGraph(corpus0, k), len, window)

  /** [[walkSkipgrams]] over a PREBUILT edge frame. */
  def walkSkipgramsFromEdges(corpus0: DataFrame, edges: DataFrame,
      len: Int = WalkLen, window: Int = SkipWindow): DataFrame = {
    val walks = graphWalksFromEdges(corpus0, edges, len)
    val a = walks.select(col("walk_id"), col("step").as("step_a"),
      col("vec_id").as("center_id"))
    val b = walks.select(col("walk_id"), col("step").as("step_b"),
      col("vec_id").as("context_id"))
    a.join(b.hint("shuffle_hash"), Seq("walk_id"))
      .filter(col("step_a") =!= col("step_b") &&
        abs(col("step_a") - col("step_b")) <= window)
      .groupBy(col("center_id"), col("context_id"))
      .agg(count(lit(1)).as("n_pairs"))
  }

  def walkSkipgrams(spark: SparkSession, dir: String): DataFrame =
    walkSkipgramsFromEdges(Tables.load(spark, dir, "embeddings"),
      KnnIndex.edges(spark, dir))

  /** Directed transitivity over the [[knnGraph]] edges — per vector: how
    * many of its two-hop wedges close into triangles. A high closure
    * ratio marks a vector inside a DENSE semantic clique (mutual near-
    * dup regions); low closure marks a hub whose neighbors are unrelated
    * to each other — the standard graph-quality diagnostic between
    * knn_components (who clusters) and graph_pagerank (who is central).
    * Rows (vec_id, n_wedges, n_closed, closure_x1000) for every vector
    * with at least one wedge; the ratio is integer ‰ so both engines
    * agree bit-for-bit.
    *
    * Scale shape: wedges are edges⋈edges on the shared middle node
    * (co-partitioned shuffle-hash, ≤ n·k² rows — k is a constant, so
    * linear in n); closure is a LEFT-SEMI join of wedges against the
    * same edge list on (src, far) — multiplicity lives on the wedge
    * side, so the semi-join never duplicates; both rollups are
    * map-side-combinable hash aggregates joined on their own key. The
    * edge list (≤ n·k rows of two longs) feeds all three passes: an
    * EXPENSIVE edge frame must be materialized by the caller (the
    * corpus overload eagerly checkpoints its fresh knnGraph), while the
    * artifact/serving-layout callers re-scan their parquet three
    * times — the r17 graph_triangles decomposition (SCALE.md r17) measured
    * the former blanket localCheckpoint(false) here at +47% wall on the
    * registered key (materialize + 32-partition local-RDD rescan of a
    * 6,000-row frame costs more than two extra columnar scans; at lake scale
    * three column-pruned parquet scans of a 2-column artifact stay cheaper
    * than one serialized local checkpoint round-trip). */
  def graphTriangles(corpus0: DataFrame, k: Int = KnnGraphK): DataFrame =
    graphTrianglesFromEdges(Ckpt.eager(knnGraph(corpus0, k)))

  /** [[graphTriangles]] over a PREBUILT edge frame (one the caller can
    * afford to have scanned three times — an artifact, a serving
    * layout, or an already-checkpointed build). */
  def graphTrianglesFromEdges(edges: DataFrame): DataFrame = {
    val e = edges.select("src_id", "dst_id")
    val wedges = e.select(col("src_id"), col("dst_id").as("mid_id"))
      .join(e.select(col("src_id").as("mid_id"), col("dst_id").as("far_id"))
        .hint("shuffle_hash"), Seq("mid_id"))
      .filter(col("far_id") =!= col("src_id"))
      .select("src_id", "far_id")
    val closed = wedges.join(
      e.select(col("src_id"), col("dst_id").as("far_id"))
        .hint("shuffle_hash"),
      Seq("src_id", "far_id"), "left_semi")
    val wcnt = wedges.groupBy(col("src_id"))
      .agg(count(lit(1)).as("n_wedges"))
    val ccnt = closed.groupBy(col("src_id"))
      .agg(count(lit(1)).as("n_closed"))
    wcnt.join(ccnt.hint("shuffle_hash"), Seq("src_id"), "left")
      .select(col("src_id").as("vec_id"), col("n_wedges"),
        coalesce(col("n_closed"), lit(0L)).as("n_closed"))
      .withColumn("closure_x1000", expr("n_closed * 1000 DIV n_wedges"))
  }

  def graphTriangles(spark: SparkSession, dir: String): DataFrame =
    graphTrianglesFromEdges(KnnIndex.edges(spark, dir))

  /** Fixed synchronous rounds for [[graphLpa]] — like [[PagerankIters]],
    * a fixed count keeps the plan and the artifact deterministic. */
  val LpaIters = 3

  /** Label-propagation communities over the MUTUAL [[knnGraph]] edges —
    * the finer-grained sibling of [[knnComponents]]: where components
    * merge everything reachable, LPA keeps densely connected regions
    * apart even when a thin mutual edge bridges them. Every node starts
    * as its own label; each of [[LpaIters]] SYNCHRONOUS rounds adopts
    * the most frequent label among mutual neighbors (tie broken by the
    * SMALLEST label, so both engines pick the same winner); isolated
    * nodes keep their own. One row per vector: (vec_id, community,
    * community_size).
    *
    * Determinism: asynchronous LPA is famously order-dependent — the
    * synchronous fixed-round variant with a total tie-break is a pure
    * function of the edge list, bit-reproducible across engines,
    * re-runs, and partitionings.
    *
    * Scale shape: the mutual edge list (≤ n·k rows of two longs)
    * checkpoints once and feeds every round; a round is join(labels on
    * the neighbor id, co-partitioned shuffle-hash) → (node, label)
    * count — a map-side-combinable hash aggregate — → per-node argmax
    * as a second hash aggregate over max(struct(count, −label)) (no
    * per-node sort window), → left join back to the node list. Label
    * frames are lazily checkpointed per round so lineage stays flat at
    * any round count. */
  def graphLpa(corpus0: DataFrame, k: Int = KnnGraphK,
      iters: Int = LpaIters): DataFrame =
    graphLpaFromEdges(corpus0, knnGraph(corpus0, k), iters)

  /** [[graphLpa]] over a PREBUILT edge frame; `corpus0` supplies only
    * the node list (isolated nodes keep their own label). */
  def graphLpaFromEdges(corpus0: DataFrame, edges: DataFrame,
      iters: Int = LpaIters): DataFrame = {
    val mutual = edges
      .filter(col("mutual") === 1L)
      .select(col("src_id").as("u"), col("dst_id").as("v"))
      .localCheckpoint(false)
    val nodes = corpus0.select(col("vec_id")).localCheckpoint(false)
    var labels = nodes.select(col("vec_id"), col("vec_id").as("community"))
    (1 to iters).foreach { _ =>
      val neigh = mutual
        .join(labels.withColumnRenamed("vec_id", "v").hint("shuffle_hash"),
          "v")
        .groupBy(col("u"), col("community"))
        .agg(count(lit(1)).as("c"))
      val best = neigh.groupBy(col("u"))
        .agg(max(struct(col("c").as("c"),
          (-col("community")).as("neg"))).as("m"))
        .select(col("u").as("vec_id"),
          (-col("m.neg")).as("new_community"))
      labels = labels
        .join(best.hint("shuffle_hash"), Seq("vec_id"), "left")
        .select(col("vec_id"),
          coalesce(col("new_community"), col("community"))
            .as("community"))
        .localCheckpoint(false)
    }
    val sizes = labels.groupBy(col("community"))
      .agg(count(lit(1)).as("community_size"))
    labels.join(sizes.hint("shuffle_hash"), "community")
      .select(col("vec_id"), col("community"), col("community_size"))
  }

  def graphLpa(spark: SparkSession, dir: String): DataFrame =
    graphLpaFromEdges(Tables.load(spark, dir, "embeddings"),
      KnnIndex.edges(spark, dir))

  /** Clustering evaluation against the labeled fixture — majority-label
    * purity per [[knnComponents]] cluster: how often a semantic cluster
    * contains vectors of ONE ground-truth class. Per cluster:
    * (component, cluster_size, n_labels, major_label, major_count,
    * purity_x1000) — the standard external clustering metric in exact
    * integer permille, tie on the majority broken by smallest label so
    * both engines pick the same winner.
    *
    * Scale shape: membership is knn_components' linear plan joined to
    * the label column co-partitioned on vec_id; the (component, label)
    * contingency table is one map-side-combinable hash aggregate (≤
    * clusters×labels rows); the majority pick is a rank window over
    * that REDUCED frame partitioned by component (corpus-order keys). */
  def clusterPurity(corpus0: DataFrame, k: Int = KnnGraphK): DataFrame =
    clusterPurityFromEdges(corpus0, knnGraph(corpus0, k))

  /** [[clusterPurity]] over a PREBUILT edge frame; `corpus0` supplies
    * the ground-truth label column. */
  def clusterPurityFromEdges(corpus0: DataFrame,
      edges: DataFrame): DataFrame =
    clusterPurityOver(corpus0, knnComponentsFromEdges(edges))

  /** [[clusterPurity]] over a PREBUILT component frame (the
    * [[KnnIndex.components]] artifact-consuming form). */
  def clusterPurityOver(corpus0: DataFrame,
      components: DataFrame): DataFrame = {
    val memb = components
      .select("vec_id", "component", "cluster_size")
      .join(corpus0.select(col("vec_id"),
        col("label").cast("long").as("label")).hint("shuffle_hash"),
        Seq("vec_id"))
    val counts = memb.groupBy(col("component"), col("cluster_size"),
        col("label"))
      .agg(count(lit(1)).as("c"))
    val w = Window.partitionBy(col("component"))
      .orderBy(col("c").desc, col("label"))
    counts
      .withColumn("n_labels",
        count(lit(1)).over(Window.partitionBy(col("component"))))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("component"), col("cluster_size"), col("n_labels"),
        col("label").as("major_label"), col("c").as("major_count"),
        expr("c * 1000 div cluster_size").as("purity_x1000"))
  }

  def clusterPurity(spark: SparkSession, dir: String): DataFrame =
    clusterPurityOver(Tables.load(spark, dir, "embeddings"),
      KnnIndex.components(spark, dir))

  /** Component quantization scale for [[d4Prune]] distances (×1e3 — one
    * decade coarser than embStats' 1e4 so the n²-scaled squared distance
    * stays inside int64 for cluster sizes up to ~2·10⁵; DuckDB errors on
    * overflow where the JVM wraps, so the oracle is the canary). */
  val ProtoQ = graft.functions.QSqDistImpl.Q
  /** Fraction of each cluster dropped as redundant, in permille. */
  val D4DropPermille = 250L

  /** D4-style semantic redundancy pruning: within each mutual-kNN
    * cluster ([[knnComponents]]), rank members by closeness to the
    * cluster centroid and DROP the most prototypical
    * [[D4DropPermille]]‰ — near-centroid members are the redundant
    * mass a deduplicated training mix sheds first, while far members
    * carry the cluster's diversity. Per clustered vector:
    * (vec_id, component, cluster_size, dist_q, proto_rank, keep).
    *
    * Exactness: components quantize to [[ProtoQ]] fixed-point and the
    * comparison distance is ‖n·q − S‖² (the squared distance to the
    * centroid scaled by n²) — all-integer, order-independent, so rank
    * and keep are bit-reproducible across engines; no float centroid
    * whose sum order could flip a rank.
    *
    * Scale shape: cluster membership is knn_components' linear plan;
    * centroid sums ride a posexplode (dims× row inflation, dims a
    * constant) into one map-side-combinable hash aggregate, re-packed
    * to one array row per cluster; members join their centroid
    * co-partitioned on the component key (shuffle-hash — component
    * count is corpus-order); the distance is one row-local zip_with
    * fold; the rank window partitions BY CLUSTER (corpus-order key
    * count — never a global window). */
  def d4Prune(corpus0: DataFrame, k: Int = KnnGraphK): DataFrame =
    d4PruneFromEdges(corpus0, knnGraph(corpus0, k))

  /** [[d4Prune]] over a PREBUILT edge frame; `corpus0` supplies the
    * embedding column the centroid distances quantize. */
  def d4PruneFromEdges(corpus0: DataFrame, edges: DataFrame): DataFrame =
    d4PruneOver(corpus0, knnComponentsFromEdges(edges))

  /** [[d4Prune]] over a PREBUILT component frame (the
    * [[KnnIndex.components]] artifact-consuming form). */
  def d4PruneOver(corpus0: DataFrame, components: DataFrame): DataFrame = {
    val memb = components
      .select("vec_id", "component", "cluster_size")
      .join(corpus0.select(col("vec_id"),
          transform(col("embedding"),
            x => round(x.cast("double") * lit(ProtoQ)).cast("long"))
            .as("q")).hint("shuffle_hash"),
        Seq("vec_id"))
    val cent = memb.select(col("component"), posexplode(col("q")))
      .groupBy(col("component"), col("pos"))
      .agg(sum(col("col")).as("s"))
      .groupBy(col("component"))
      .agg(transform(sort_array(collect_list(struct(col("pos"), col("s")))),
        p => p.getField("s")).as("cent_s"))
    val scored = memb.join(cent.hint("shuffle_hash"), Seq("component"))
      .withColumn("dist_q", aggregate(
        zip_with(col("q"), col("cent_s"), (a, b) => {
          val d = a * col("cluster_size") - b
          d * d
        }),
        lit(0L), (acc, x) => acc + x))
    val w = Window.partitionBy(col("component"))
      .orderBy(col("dist_q"), col("vec_id"))
    scored
      .withColumn("proto_rank", row_number().over(w).cast("long"))
      .withColumn("keep", expr(s"CAST(CASE WHEN proto_rank >" +
        s" cluster_size * $D4DropPermille DIV 1000" +
        s" THEN 1 ELSE 0 END AS BIGINT)"))
      .select("vec_id", "component", "cluster_size", "dist_q",
        "proto_rank", "keep")
  }

  /** Centers selected by [[kcenterCoreset]]. */
  val KCenterK = 8

  /** Greedy k-center coreset selection (Gonzalez's classic farthest-
    * point 2-approximation) over the quantized embeddings — the
    * geometric MAXIMUM-DIVERSITY selection primitive, the complement of
    * [[d4Prune]]: where D4 drops redundant near-centroid mass, k-center
    * picks the k points that together COVER the corpus (every vector is
    * close to some chosen center), the shape a seed-set/annotation-
    * budget/eval-panel selection wants. Seeded at the smallest vec_id,
    * then k−1 rounds of "take the point farthest from every chosen
    * center" (ties → smallest id); output assigns EVERY vector to its
    * nearest center: (vec_id, center_id, dist_sq, is_center).
    *
    * Exactness: all distances are [[graft.functions.QSqDist]] — float
    * components quantized to [[ProtoQ]] fixed-point, squared-L2 in
    * int64 — so the farthest-point argmax, the assignment argmin, and
    * their tie-breaks are bit-reproducible across engines and partition
    * orders.
    *
    * Scale shape: each of the k rounds is ONE corpus scan computing
    * `least` over the r fused codegen'd distance expressions (centers
    * ride along as literals — no join, no shuffle) finished by a 1-row
    * max(struct(dist, −id, embedding)) aggregate that carries the
    * winner's embedding out with it, so a round never needs a second
    * lookup pass; the driver holds only k (id, vector) pairs — a
    * metadata-bounded collect. The final assignment is one more scan
    * with an array_min over k (dist, center) structs. Total work k
    * linear passes, zero shuffles beyond the 1-row aggregates. */
  def kcenterCoreset(corpus0: DataFrame, k: Int = KCenterK): DataFrame = {
    import graft.functions.{QSqDist, QSqDistImpl}
    val pts = corpus0.select(col("vec_id"), col("embedding"))
      .localCheckpoint(false)
    def quantVec(xs: Seq[Float]): Array[Long] =
      xs.map(x => QSqDistImpl.quant(x.toDouble)).toArray
    def distTo(c: Array[Long]): Column =
      QSqDist.q_sqdist(col("embedding"), typedlit(c))
    val seed = pts.orderBy(col("vec_id")).limit(1).collect()(0)
    var centers =
      Vector((seed.getLong(0), quantVec(seed.getSeq[Float](1))))
    (2 to k).foreach { _ =>
      val mind = centers.map(c => distTo(c._2)).reduceLeft(least(_, _))
      val far = pts
        .agg(max(struct(mind.as("d"), (-col("vec_id")).as("n"),
          col("embedding").as("e"))).as("m"))
        .collect()(0).getStruct(0)
      centers :+= ((-far.getLong(1), quantVec(far.getSeq[Float](2))))
    }
    val assign = array_min(array(centers.map { case (id, q) =>
      struct(distTo(q).as("d"), lit(id).as("c")) }: _*))
    pts.select(col("vec_id"),
      assign.getField("c").as("center_id"),
      assign.getField("d").as("dist_sq"),
      col("vec_id").isInCollection(centers.map(_._1)).cast("long")
        .as("is_center"))
  }

  def kcenterCoreset(spark: SparkSession, dir: String): DataFrame =
    kcenterCoreset(Tables.load(spark, dir, "embeddings"))

  /** Candidate depth feeding [[mmrSelect]] (the component top-k). */
  val MmrCand = 10
  /** Diversified picks per query. */
  val MmrK = 5

  /** Maximal-marginal-relevance rerank — the serving-side diversity
    * stage after retrieval: from each query's cosine top-[[MmrCand]]
    * candidates, greedily pick [[MmrK]] results trading relevance
    * against redundancy (a results page of five near-identical passages
    * wastes four slots; MMR is the standard fix). Pick 1 is the top
    * relevance hit; each later pick maximizes
    * `min_{s∈selected} d(x, s) − d(q, x)` (λ=½ MMR rearranged to one
    * integer expression — far from everything already shown, close to
    * the query), ties → smallest id. Rows (query_id, vec_id, mmr_rank,
    * rel_dist_sq).
    *
    * Exactness: distances are the [[ProtoQ]]-quantized integer
    * squared-L2 ([[d4Prune]]'s contract), so every pick and tie-break
    * is bit-reproducible across engines.
    *
    * Scale shape: the candidate generator is [[bruteTopK]]'s bounded
    * plan (swap in the IVF/PQ generators at scale, as the search keys
    * do); the two embedding attachments are corpus scans probed by the
    * BROADCAST bounded candidate list; everything after runs DRIVER-SIDE
    * over the collected queries×[[MmrCand]] candidate rows (r18 — the
    * same metadata-bounded collect discipline as [[kcenterCoreset]]'s
    * per-round winners: ≤ maxQueryId·MmrCand rows at ANY corpus scale,
    * by construction). The previous Spark-side greedy ran [[MmrK]]−1
    * rounds of broadcast+join+two-aggregates over that same ≤80-row
    * frame — pure driver-latency (~8 jobs); the collected greedy is one
    * job plus arithmetic on the driver, measured 2.2-2.7 s → 0.7 s at
    * sf0.1 with bit-identical output at every SF (OPTIMIZATION_r18.md §5:
    * onlyA=0 onlyB=0 at sf0.001/0.01/0.1). */
  def mmrSelect(corpus0: DataFrame, maxQueryId: Long = 8): DataFrame = {
    def quant(c: Column): Column =
      transform(c, x => round(x.cast("double") * lit(ProtoQ)).cast("long"))
    def sq(a: Column, b: Column): Column =
      aggregate(zip_with(a, b, (x, y) => (x - y) * (x - y)),
        lit(0L), (acc, v) => acc + v)
    val cds = bruteTopK(corpus0, maxQueryId, MmrCand)
      .select(col("query_id"), col("neighbor_id"), col("rank"))
    // two corpus scans, each probed by the BROADCAST bounded frame —
    // the corpus is never the build side and never shuffles; the
    // interpreted quant/sq lambdas run BELOW the joins on the bounded
    // survivors only (the emb_project lesson: a higher-order lambda in
    // a corpus-wide projection never codegens)
    val qside = corpus0
      .select(col("vec_id").as("query_id"),
        col("embedding").as("eq"))
      .join(broadcast(cds), "query_id")
    val cand = corpus0
      .select(col("vec_id").as("neighbor_id"),
        col("embedding").as("en"))
      .join(broadcast(qside), "neighbor_id")
      .withColumn("qq", quant(col("eq")))
      .withColumn("qn", quant(col("en")))
      .withColumn("rel", sq(col("qq"), col("qn")))
      .select(col("query_id"), col("neighbor_id"), col("rank"),
        col("qn"), col("rel"))
    // driver-side greedy over the bounded candidate frame: exactly the
    // Spark-round arithmetic (divmin − rel maximized, ties → smallest
    // id), collected once. Long math throughout — same overflow
    // behavior as the codegen'd expressions.
    val rows = cand.collect()
    case class Cand(q: Long, n: Long, rank: Long, qn: Array[Long],
      rel: Long)
    val cs = rows.map(r => Cand(r.getLong(0), r.getLong(1),
      r.get(2).toString.toLong, r.getSeq[Long](3).toArray, r.getLong(4)))
    def dist(a: Array[Long], b: Array[Long]): Long = {
      var i = 0; var acc = 0L
      while (i < a.length) { val t = a(i) - b(i); acc += t * t; i += 1 }
      acc
    }
    val out =
      scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long, Long)]
    cs.groupBy(_.q).foreach { case (q, all) =>
      val first = all.find(_.rank == 1L).get
      var sel = Vector((first, 1L))
      (2 to MmrK).foreach { r =>
        val chosen = sel.map(_._1.n).toSet
        val remaining = all.filter(c => !chosen.contains(c.n))
        if (remaining.nonEmpty) {
          val pick = remaining.map { c =>
            val divmin = sel.map(s => dist(c.qn, s._1.qn)).min
            (divmin - c.rel, -c.n, c)
          }.maxBy(t => (t._1, t._2))._3
          sel :+= ((pick, r.toLong))
        }
      }
      sel.foreach { case (c, r) => out += ((q, c.n, r, c.rel)) }
    }
    corpus0.sparkSession.createDataFrame(out.toSeq)
      .toDF("query_id", "vec_id", "mmr_rank", "rel_dist_sq")
  }

  def mmrSelect(spark: SparkSession, dir: String): DataFrame =
    mmrSelect(Tables.load(spark, dir, "embeddings"))

  def d4Prune(spark: SparkSession, dir: String): DataFrame =
    d4PruneOver(Tables.load(spark, dir, "embeddings"),
      KnnIndex.components(spark, dir))

  /** Johnson–Lindenstrauss output width for [[embProject]]. */
  val ProjectDims = 16

  /** Random-sign (Achlioptas) projection of the embedding column to
    * [[ProjectDims]] dimensions — the cheap dimensionality reduction an
    * ANN deployment runs BEFORE indexing when the raw dimension is the
    * cost driver (distance work and code sizes all scale with d; a ±1
    * projection preserves pairwise cosine structure within the JL
    * distortion bound without training anything, unlike [[embPca]]).
    *
    * The sign matrix is never materialized: sign(i, j) is a deterministic
    * LCG-parity hash of the flat index, evaluated inline on both engines,
    * and inputs are the ×10000-quantized integers [[embGram]] established
    * — so the projected coordinates are exact integers and the oracle
    * compare is bit-for-bit.
    *
    * Scale shape: one row-local codegen'd projection (nested higher-order
    * functions over the array — no explode, no shuffle, no UDF); output
    * is posexploded to (vec_id, dim_out, proj_q) rows. */
  /** sign(i, j) of the never-materialized JL matrix: parity of bits 16..
    * of an LCG over the flat index i·d + j (drop the low LCG bits —
    * their period is tiny). Single-sourced for the expression builder,
    * the specs, and (by formula copy) the DuckDB oracle. */
  private[graft] def projectSign(i: Int, j: Int): Long =
    if (((1103515245L * (i.toLong * ProjectDims + j) + 12345L)
         / 65536L) % 2L == 0L) 1L else -1L

  /** (vec_id, proj array<long>) form of [[embProject]] — the shape the
    * projected-space search consumes. The sign matrix is a COMPILE-TIME
    * constant, so each output coordinate is rendered as a literal ±
    * chain over the quantized components (`0L + ql[0] - ql[1] + …`) —
    * whole-stage-codegen arithmetic. The first cut used nested
    * higher-order lambdas (`transform(…, aggregate(…))`), which Spark
    * executes INTERPRETED: ~d·d' closure evaluations per row measured
    * 44.7 s at sf0.1 under the bench's local[4] where this form runs in
    * well under a second — higher-order functions never enter codegen,
    * so constant structure belongs in the expression tree, not in
    * lambdas. Input width is read once from the schema's first row
    * (metadata-bounded, the dims-probe precedent). */
  private[graft] def embProjectVec(corpus: DataFrame): DataFrame = {
    val head = corpus.select(size(col("embedding"))).limit(1).collect()
    if (head.isEmpty)
      // empty corpus: no width to read — an empty typed frame beats the
      // first()-of-nothing crash (the embPca lesson)
      return corpus.sparkSession.emptyDataFrame
        .select(lit(0L).as("vec_id"),
          expr("array(0L)").as("proj")).limit(0)
    val dIn = head(0).getInt(0)
    val chains = (0 until ProjectDims).map { j =>
      "0L " + (0 until dIn).map { i =>
        (if (projectSign(i, j) > 0) "+ " else "- ") + s"ql[$i]"
      }.mkString(" ")
    }
    // r18 A/B NOTE: a literal per-index quantization array
    // (`array(cast(round(embedding[0]*…)), …)` instead of this
    // `transform`) was TRIED to lift the lambda into whole-stage
    // codegen and REVERTED: the optimizer inlines the dIn-element
    // CreateArray into every consumer (16 chains + the generator's
    // size() guard, which even reached the scan's DataFilters), so each
    // element quantized ~17× per row — emb_project measured 1.4 s →
    // 5.9 s. The single-level transform evaluates its lambda
    // interpreted but ONCE per element, and the optimizer never inlines
    // a higher-order function — the cheaper shape in practice.
    corpus.select(col("vec_id"), expr(
        "transform(embedding, x -> cast(round(cast(x as double) * 10000) as bigint))")
        .as("ql"))
      .select(col("vec_id"),
        expr(s"array(${chains.mkString(", ")})").as("proj"))
  }

  def embProject(corpus: DataFrame): DataFrame =
    embProjectVec(corpus)
      .select(col("vec_id"), posexplode(col("proj")))
      .select(col("vec_id"), col("pos").cast("long").as("dim_out"),
        col("col").as("proj_q"))

  def embProject(spark: SparkSession, dir: String): DataFrame =
    embProject(Tables.load(spark, dir, "embeddings"))

  /** Recall@k of a top-k search run in [[embProject]]'s 16-dim projected
    * space against the full-precision brute-force truth — the metric
    * that tells a deployment whether the JL distortion is acceptable
    * BEFORE it swaps the cheap vectors in (the pq_recall sibling for the
    * projection trade). Projected cosine is computed from the exact
    * integer coordinates with one explicitly-spelled formula
    * (`dot / (sqrt(na)·sqrt(nb))`, each factor within 2^53 so the doubles
    * are reproducible cross-engine).
    *
    * On THIS corpus the verdict is negative — and that is the finding,
    * not a defect: recall@5 at 16 dims is ~0-200‰, measured equivalent to
    * a true Gaussian JL at the same width (7.5% vs 5% mean in a dev
    * comparison; 32 Gaussian dims only reaches 22%), because the
    * fixture's top-5 structure is finer than the JL distortion at any
    * cheap width. The projection stays fit for COARSE structure
    * (bucketing, clustering, dedup blocking); this metric is what stops a
    * deployment from using it for exact top-k.
    *
    * Scale shape: both searches are the established bounded plans
    * (queries broadcast onto one corpus pass, TopKPairs finish); the
    * comparison join is queries × k metadata. */
  def projectRecall(spark: SparkSession, dir: String, maxQueryId: Long = 8,
      k: Int = 5): DataFrame = {
    val truth = bruteTopK(spark, dir, maxQueryId, k)
      .select(col("query_id"), col("neighbor_id"))
    val pv = embProjectVec(Tables.load(spark, dir, "embeddings"))
    val queries = pv.filter(col("vec_id") < maxQueryId)
      .select(col("vec_id").as("query_id"), col("proj").as("pq"))
    val corpus = pv.select(col("vec_id").as("neighbor_id"),
      col("proj").as("pn"))
    val found = topKByCosine(
      corpus.join(broadcast(queries),
          col("neighbor_id") =!= col("query_id"))
        .withColumn("cos", expr(
          """CAST(aggregate(zip_with(pq, pn, (x, y) -> x * y), 0L,
            |       (a, v) -> a + v) AS DOUBLE)
            | / (sqrt(CAST(aggregate(transform(pq, x -> x * x), 0L,
            |            (a, v) -> a + v) AS DOUBLE))
            |    * sqrt(CAST(aggregate(transform(pn, x -> x * x), 0L,
            |             (a, v) -> a + v) AS DOUBLE)))""".stripMargin)),
      k).select(col("query_id"), col("neighbor_id"), lit(1L).as("hit"))
    truth.join(broadcast(found), Seq("query_id", "neighbor_id"), "left")
      .groupBy(col("query_id"))
      .agg(count(lit(1)).as("k_truth"),
        sum(coalesce(col("hit"), lit(0L))).as("n_hits"))
      .withColumn("recall_x1000", expr("(n_hits * 1000) div k_truth"))
  }

  /** LSH-bucketed ANN over an arbitrary corpus: candidates restricted to
    * the query's sign bucket — the scale path. Rank is within-bucket. */
  def lshTopK(corpus0: DataFrame, maxQueryId: Long, k: Int): DataFrame = {
    val all = withBucket(corpus0)
    val corpus = all.select(col("vec_id").as("neighbor_id"),
      col("embedding").as("emb_n"), col("bucket"))
    val queries = all.filter(col("vec_id") < maxQueryId)
      .select(col("vec_id").as("query_id"), col("embedding").as("emb_q"),
        col("bucket"))
    topKByCosine(
      corpus.join(broadcast(queries), Seq("bucket"))
        .filter(col("neighbor_id") =!= col("query_id"))
        .withColumn("cos", cosine(col("emb_q"), col("emb_n"))),
      k)
  }

  def lshTopK(spark: SparkSession, dir: String, maxQueryId: Long = 8,
      k: Int = 5): DataFrame =
    lshTopK(Tables.load(spark, dir, "embeddings"), maxQueryId, k)

  /** IVF-style ANN: k-means centroids trained by [[trainedCentroids]],
    * each corpus vector assigned to its nearest centroid (inverted file
    * cell), and each query searched only within its own cell.
    *
    * Scale shape: the cell id is the partition key — the corpus is
    * bucketed once (one shuffle, or a bucketed table layout at rest), and
    * a query probes one (or nprobe) cells instead of the whole corpus. */
  val IvfCentroids = 16

  /** Fixed training sample: centroids are fit on `vec_id <
    * IvfTrainSample` only, so training cost is a constant (sample × k
    * assignment + a tiny per-dimension mean) at ANY corpus scale — the
    * standard IVF recipe of training on a bounded sample, then assigning
    * the full corpus in one pass. */
  val IvfTrainSample = 256L

  /** Lloyd iterations. Small and fixed: each iteration is one more
    * assignment + mean pass over the bounded sample. */
  val IvfIters = 2

  /** Deterministic seeded k-means over the training sample: seeds are the
    * first [[IvfCentroids]] vectors, then [[IvfIters]] Lloyd iterations —
    * assign each sample vector to its max-cosine centroid (ties break to
    * the lowest cent_id), recompute each cell's centroid as the
    * per-dimension mean. Means are cast to FLOAT so the engine and the SQL
    * oracle round identically; a cell left empty by an iteration drops out
    * (its seed attracted nothing — both sides mirror this). No RNG
    * anywhere: same data → same centroids, run to run and engine to
    * engine. */
  def trainedCentroids(emb: DataFrame, k: Int = IvfCentroids,
      iters: Int = IvfIters): DataFrame =
    lloyd(
      emb.filter(col("vec_id") < IvfTrainSample)
        .select(col("vec_id"), col("embedding")),
      emb.filter(col("vec_id") < k)
        .select(col("vec_id").as("cent_id"), col("embedding").as("cent")),
      iters)

  /** The Lloyd loop itself over explicit (sample, seed) frames — shared
    * by corpus-level training and cell-local [[splitCell]] re-training. */
  private def lloyd(sample: DataFrame, seeds: DataFrame,
      iters: Int): DataFrame = {
    var cent = seeds
    for (_ <- 1 to iters) {
      val w = Window.partitionBy(col("vec_id"))
        .orderBy(col("cent_cos").desc, col("cent_id"))
      val assigned = sample.join(broadcast(cent))
        .withColumn("cent_cos", cosine(col("embedding"), col("cent")))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("cent_id").as("cell"), col("embedding"))
      cent = assigned
        .select(col("cell"),
          posexplode(col("embedding")).as(Seq("dim", "val")))
        .groupBy(col("cell"), col("dim")).agg(avg(col("val")).as("m"))
        .groupBy(col("cell")).agg(
          transform(
            array_sort(collect_list(struct(col("dim"), col("m")))),
            s => s.getField("m").cast("float")).as("cent"))
        .select(col("cell").as("cent_id"), col("cent"))
    }
    cent
  }

  /** The SPLIT action behind an [[ivfMaintenanceFor]] `split` verdict:
    * cell-local 2-means over the hot cell's members, SEEDED FROM INSIDE
    * the cell — raising the global k cannot split a tight cluster when
    * every global seed sits outside it (the classic k-means seeding
    * failure; real IVF deployments split hot cells locally like this).
    * Seeding is deterministic farthest-point: seed A = the member least
    * cosine-aligned with the cell's own mean (the most extreme point,
    * ties → lowest id), seed B = the member least aligned with A — two
    * global argmin aggregates (1-row broadcasts), so a two-lobe cell
    * gets one seed per lobe where lowest-id seeding can land both seeds
    * on one side (measured: 323/3 split on the loop-closure fixture).
    * Lloyd then runs on a bounded member sample ([[IvfTrainSample]]
    * lowest ids — a limit, not a sort) and the final pass assigns EVERY
    * member. Returns (vec_id, sub_cell ∈ seed ids). */
  def splitCell(members: DataFrame, iters: Int = IvfIters): DataFrame = {
    val cent = splitCentroids(members, iters)
    val w = Window.partitionBy(col("vec_id"))
      .orderBy(col("cent_cos").desc, col("cent_id"))
    members.join(broadcast(cent))
      .withColumn("cent_cos", cosine(col("embedding"), col("cent")))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("vec_id"), col("cent_id").as("sub_cell"))
  }

  /** The two sub-centroids a hot cell splits into ([[splitCell]]'s
    * training half): farthest-point seeds + bounded-sample Lloyd.
    * Returns (cent_id = seed member id, cent). */
  private[exts] def splitCentroids(members: DataFrame,
      iters: Int = IvfIters): DataFrame = {
    def argminCos(from: DataFrame, ref: DataFrame): DataFrame = {
      // ref is 1 row (cent ARRAY<FLOAT>); min(struct(cos, id, emb))
      // is the deterministic extreme member
      from.crossJoin(broadcast(ref))
        .withColumn("c", cosine(col("embedding"), col("cent")))
        .agg(min(struct(col("c"), col("vec_id"), col("embedding")))
          .as("s"))
        .select(col("s.vec_id").as("cent_id"),
          col("s.embedding").as("cent"))
    }
    val mean = members
      .select(posexplode(col("embedding")).as(Seq("dim", "val")))
      .groupBy(col("dim")).agg(avg(col("val")).as("m"))
      .agg(transform(
        array_sort(collect_list(struct(col("dim"), col("m")))),
        s => s.getField("m").cast("float")).as("cent"))
    // TRIMMED farthest-point seeding (r10): only members whose
    // mean-alignment is at least the cell AVERAGE are seed candidates.
    // A hot cell is a dense mass plus organic periphery; raw
    // farthest-point seeds land on a stray peripheral member and the
    // 2-means then shaves small slivers instead of separating the dense
    // lobes (measured in the stream-loop fixture: a 106-member cell
    // with ~16 peripherals shed 7-18-member slivers per pass and stayed
    // hot). Both lobes of the mass sit above the average alignment —
    // they ARE the mass — so the trim keeps them and drops only the
    // periphery from SEEDING; every member is still assigned in the
    // final pass. One extra broadcast-join + 1-row aggregate, no sort.
    val withC = members.crossJoin(broadcast(mean))
      .withColumn("c", cosine(col("embedding"), col("cent")))
      .select(col("vec_id"), col("embedding"), col("c"))
    val trimmed = withC
      .crossJoin(broadcast(withC.agg(avg(col("c")).as("avg_c"))))
      .filter(col("c") >= col("avg_c"))
      .select(col("vec_id"), col("embedding"))
    val seedA = argminCos(trimmed, mean).localCheckpoint(true)
    val seedB = argminCos(trimmed, seedA.select(col("cent")))
      .localCheckpoint(true)
    val sample = members.orderBy(col("vec_id"))
      .limit(IvfTrainSample.toInt)
      .select(col("vec_id"), col("embedding"))
    lloyd(sample, seedA.unionByName(seedB), iters)
  }

  /** One full maintenance pass over an IVF centroid set: assign the
    * corpus, decide per cell ([[ivfMaintenanceFor]]), then APPLY —
    * merge-flagged centroids are dropped (their members reassign to the
    * nearest survivor on the next assignment, the standard cold-cell
    * merge), split-flagged cells are replaced by their two
    * [[splitCentroids]]. Returns the revised centroid frame with cent
    * ids relabeled 0..n-1 in seed-id order (sub-centroid seed ids are
    * member ids and could otherwise collide with surviving cent ids).
    * Decisions are collected driver-side — ≤ k rows, metadata. Iterate
    * to a fixpoint for deep skew (each pass strictly shrinks the
    * hottest split cell — PipelineSpec runs the loop to quiescence). */
  def applyMaintenance(emb: DataFrame, cents: DataFrame,
      iters: Int = IvfIters): DataFrame = {
    val assignedDf = IvfIndex.assigned(emb, cents)
    val occ = assignedDf.groupBy(col("cell"))
      .agg(count(lit(1)).as("n_vectors"), min(col("vec_id")).as("min_vec_id"))
      .select(col("cell"), col("n_vectors"), col("min_vec_id"))
    val verdicts = ivfMaintenanceFor(occ)
      .select(col("cell"), col("action"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val dropped = verdicts.filter(v => v._2 != "keep").keys.toSeq.sorted
    val kept = cents.filter(!col("cent_id").isin(dropped: _*))
    val subCents = verdicts.filter(_._2 == "split").keys.toSeq.sorted
      .map { c =>
        splitCentroids(assignedDf.filter(col("cell") === c)
          .select(col("vec_id"), col("embedding")), iters)
      }
    val all = (kept +: subCents).reduce(_ unionByName _)
    // relabel 0..n-1 (metadata-sized window: ≤ k + 2·splits rows);
    // the cent tiebreak keeps the order deterministic if a sub-centroid
    // seed id collides with a surviving cent id
    val rw = Window.orderBy(col("cent_id"), col("cent"))
    all.withColumn("new_id", row_number().over(rw) - 1)
      .select(col("new_id").cast("long").as("cent_id"), col("cent"))
  }

  /** @param nprobe how many nearest cells each *query* probes. Corpus
    *   vectors always live in exactly one cell; raising nprobe trades
    *   proportional extra candidate work for recall (the standard IVF
    *   knob) without touching the corpus layout. */
  def ivfTopK(spark: SparkSession, dir: String, maxQueryId: Long = 8,
      k: Int = 5, nprobe: Int = 1): DataFrame = {
    val emb = Tables.load(spark, dir, "embeddings")
    // Index/query split: centroids come from the session-scoped IvfIndex
    // memo (trained once per (dir, k)), not re-trained per invocation.
    ivfSearch(emb, IvfIndex.centroids(spark, dir), col("vec_id") < maxQueryId,
      k, nprobe)
  }

  /** IVF search against an explicit centroid set — the assignment +
    * within-cell ranking common to the trained and (test-baseline)
    * untrained variants. */
  private[graft] def ivfSearch(emb: DataFrame, centroids: DataFrame,
      queryPred: Column, k: Int, nprobe: Int): DataFrame = {
    def assign(df: DataFrame, idCol: String, embCol: String,
        cells: Int): DataFrame = {
      val w = Window.partitionBy(col(idCol))
        .orderBy(col("cent_cos").desc, col("cent_id"))
      df.join(broadcast(centroids))
        .withColumn("cent_cos", cosine(col(embCol), col("cent")))
        .withColumn("cent_rn", row_number().over(w))
        .filter(col("cent_rn") <= cells)
        .select(col(idCol), col(embCol), col("cent_id").as("cell"))
    }
    val corpus = assign(
      emb.select(col("vec_id").as("neighbor_id"), col("embedding").as("emb_n")),
      "neighbor_id", "emb_n", 1)
    val queries = assign(
      emb.filter(queryPred)
        .select(col("vec_id").as("query_id"), col("embedding").as("emb_q")),
      "query_id", "emb_q", nprobe)
    topKByCosine(
      corpus.join(broadcast(queries), Seq("cell"))
        .filter(col("neighbor_id") =!= col("query_id"))
        .withColumn("cos", cosine(col("emb_q"), col("emb_n"))),
      k)
  }

  /** IVF index-build statistics: every corpus vector assigned to its
    * nearest trained centroid, one row per cell with its occupancy and
    * canonical member. This is the INDEX itself viewed as a table (the
    * cell id is the partition key a 100 TB layout clusters by), and the
    * operator that makes the build step first-class: a deployment runs it
    * once at ingest, persists the assignment, and every search probes the
    * resulting cells. Occupancy is also the health check — a skewed cell
    * histogram says the centroid count needs raising before the
    * within-cell work blows up. */
  def ivfCells(spark: SparkSession, dir: String,
      k: Int = IvfCentroids): DataFrame = {
    val emb = Tables.load(spark, dir, "embeddings")
    val centroids = IvfIndex.centroids(spark, dir, k)
    val w = Window.partitionBy(col("vec_id"))
      .orderBy(col("cent_cos").desc, col("cent_id"))
    emb.join(broadcast(centroids))
      .withColumn("cent_cos", cosine(col("embedding"), col("cent")))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .groupBy(col("cent_id").as("cell"))
      .agg(count(lit(1)).as("n_vectors"), min(col("vec_id")).as("min_vec_id"))
  }

  /** ivf_maintenance: the reference's event-driven maintenance decision
    * (count commits → compare to threshold → decide) applied to the
    * vector index — the analogous drift signal is per-cell occupancy.
    * A cell holding more than 2× the mean is a SPLIT candidate (hot
    * cell: every probe over-scans it), one under half the mean is a
    * MERGE candidate (cold cell: a wasted centroid inflates nprobe for
    * nothing); thresholds evaluate by integer cross-multiplication
    * (n·cells ≷ factor·total), so the oracle mirrors the decision
    * exactly — the [[graft.ops.Decide]] discipline, lifted to index
    * maintenance. Input is [[ivfCells]]'s per-cell rollup (metadata:
    * one row per cell); the corpus totals ride a 1-row broadcast. */
  def ivfMaintenance(spark: SparkSession, dir: String,
      k: Int = IvfCentroids): DataFrame =
    ivfMaintenanceFor(ivfCells(spark, dir, k))

  /** The decision itself over any (cell, n_vectors, min_vec_id) rollup —
    * split out so the split/merge branches are spec-gated on skewed
    * occupancy profiles the balanced fixture never produces. */
  def ivfMaintenanceFor(cells: DataFrame): DataFrame = {
    val totals = cells.agg(sum(col("n_vectors")).as("total"),
      count(lit(1)).as("n_cells"))
    cells.crossJoin(broadcast(totals))
      .select(col("cell"), col("n_vectors"), col("min_vec_id"),
        expr("n_vectors * n_cells * 1000 div total").as("occupancy_x1000"),
        when(col("n_vectors") * col("n_cells") > col("total") * 2,
          lit("split"))
          .when(col("n_vectors") * col("n_cells") * 2 < col("total"),
            lit("merge"))
          .otherwise(lit("keep")).as("action"))
  }

  /** cluster_balance — occupancy-proportional downsampling over the
    * LEARNED cluster structure (the unlabeled analog of class_balance:
    * labels come from [[trainedCentroids]]' cells, not a label column):
    * each cell keeps vectors at rate min(1, mean_cell_size / cell_size)
    * so a post-sample corpus is ~uniform across clusters — the standard
    * de-skewing step before contrastive / retrieval training. The
    * keep/drop decision per vector is the engine's deterministic
    * multiplicative id-hash at ‰ grain ([[Sampling]]'s discipline — no
    * RNG, rerun-stable, oracle-mirrorable). One row per cell: size,
    * keep rate, and the realized post-sample count.
    *
    * Scale shape: assignment is the IVF broadcast-centroid pass (corpus
    * never shuffles for it), the per-cell rollup exchanges one row per
    * cell, rates ride a broadcast back onto the metadata-sized
    * (vec_id, cell) frame, and the id-hash evaluates row-locally —
    * nothing here grows beyond one corpus scan plus cell-count rows. */
  def clusterBalance(spark: SparkSession, dir: String,
      k: Int = IvfCentroids): DataFrame = {
    val emb = Tables.load(spark, dir, "embeddings")
      .select(col("vec_id"), col("embedding"))
    // the (vec_id, cell) map feeds BOTH the size rollup and the kept
    // count — materialize once (16 B/vector, holds at any scale) so the
    // broadcast-centroid assignment pass runs once, not twice
    val asgn = IvfIndex.assigned(emb, IvfIndex.centroids(spark, dir, k))
      .select(col("vec_id"), col("cell"))
      .localCheckpoint(true)
    val cells = asgn.groupBy(col("cell"))
      .agg(count(lit(1)).as("n_vectors"))
    val totals = cells.agg(sum(col("n_vectors")).as("total"),
      count(lit(1)).as("n_cells"))
    val rates = cells.crossJoin(broadcast(totals))
      .select(col("cell"), col("n_vectors"),
        least(lit(1000L),
          expr("total * 1000 div (n_cells * n_vectors)")).as("keep_x1000"))
    // LEFT join: a cell whose sample keeps zero vectors (possible when
    // the floor rate rounds to 0 for a mega-cell) must still report its
    // row with n_kept = 0 — the most skewed cell is exactly the one the
    // de-skewing report exists to show
    val kept = asgn.join(broadcast(rates), "cell")
      .filter(graft.exts.Sampling.mixed(col("vec_id")) % 1000
        < col("keep_x1000"))
      .groupBy(col("cell")).agg(count(lit(1)).as("n_kept"))
    rates.join(broadcast(kept), Seq("cell"), "left")
      .select(col("cell"), col("n_vectors"), col("keep_x1000"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"))
  }

  /** cluster_topics — the interpretability record for the learned
    * cluster structure: each IVF cell's top-5 terms by document-term
    * frequency (what a labeling UI or a curation review shows next to
    * cluster_balance's size row — "cell 7 is mostly 'spark join query'").
    * Documents map to cells through their aligned embedding row
    * (doc_id = vec_id).
    *
    * Scale shape: token explode → one hash aggregate on (cell, term)
    * with map-side combine (exchange rows bounded by cells × vocabulary,
    * not corpus tokens); the rank window runs over that REDUCED frame —
    * per-cell vocabulary, never corpus-scale — and the doc→cell map
    * joins by shuffled hash on the unique id. */
  def clusterTopics(spark: SparkSession, dir: String,
      k: Int = IvfCentroids, topN: Int = 5): DataFrame = {
    val emb = Tables.load(spark, dir, "embeddings")
      .select(col("vec_id"), col("embedding"))
    val asgn = IvfIndex.assigned(emb, IvfIndex.centroids(spark, dir, k))
      .select(col("vec_id").as("doc_id"), col("cell"))
    val terms = Tables.load(spark, dir, "documents")
      .select(col("doc_id"),
        explode(split(trim(col("text")), "\\s+")).as("term"))
    val counts = terms.join(asgn.hint("shuffle_hash"), "doc_id")
      .groupBy(col("cell"), col("term"))
      .agg(count(lit(1)).as("cnt"))
    val w = Window.partitionBy(col("cell"))
      .orderBy(col("cnt").desc, col("term"))
    counts.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= topN)
      .select(col("cell"), col("term"), col("cnt"), col("rank"))
  }

  /** bitext_mine — cross-lingual parallel-pair mining over the shared
    * embedding space (the LASER/CCMatrix shape): a candidate pair is
    * MINED iff it is a MUTUAL nearest neighbor — the non-English vector's
    * top-1 among English vectors is exactly the English vector whose
    * top-1 within that language is it. Rank-based mutual-NN (margin
    * criterion's threshold-free cousin) keeps the output integer-exact:
    * only orderings cross the engine/oracle boundary, never a float
    * score. Language comes from the aligned documents row (vec_id =
    * doc_id — a co-partitioned metadata join, text never moves).
    *
    * Scale shape: the exact all-pairs scoring is the SPEC-ONLY oracle
    * baseline (langA × langB candidates — quadratic by design, measured
    * 27× at sf1), demoted from the registered surface in r13 so no
    * runnable key carries a known-quadratic plan; the deployable key is
    * [[bitextMineLsh]], whose recall the specs gate against this
    * baseline. Both direction ranks finish in the bounded
    * [[graft.functions.TopKPairs]] aggregate (≤1 row per query per
    * mapper reaches the exchange), so the FINISH is shared unchanged
    * with the LSH path. */
  private[graft] def bitextMine(spark: SparkSession, dir: String): DataFrame = {
    val lang = Tables.load(spark, dir, "documents")
      .select(col("doc_id").as("vec_id"), col("lang"))
    // corpus-scale metadata ⋈ corpus-scale vectors on the unique id:
    // co-keyed shuffled HASH join (no sort — unique keys can't skew)
    bitextMineOver(Tables.load(spark, dir, "embeddings")
      .select(col("vec_id"), col("embedding"))
      .join(lang.hint("shuffle_hash"), "vec_id"))
  }

  /** [[bitextMine]]'s core over any (vec_id, lang, embedding) frame —
    * split out so specs can plant known translation pairs. */
  private[graft] def bitextMineOver(emb: DataFrame): DataFrame = {
    val en = emb.filter(col("lang") === "en")
      .select(col("vec_id").as("en_id"), col("embedding").as("e_en"))
    val xx = emb.filter(col("lang") =!= "en")
      .select(col("lang"), col("vec_id").as("xx_id"),
        col("embedding").as("e_xx"))
    mutualTop1(xx.join(broadcast(en))
      .withColumn("cos", cosine(col("e_xx"), col("e_en")))
      .select(col("lang"), col("xx_id"), col("en_id"), col("cos")))
  }

  /** The mutual-top-1 FINISH shared by the exact and LSH mining paths:
    * both direction ranks in bounded [[graft.functions.TopKAgg]]
    * aggregates over a (lang, xx_id, en_id, cos) candidate frame.
    *
    * The candidate stage is EVALUATED TWICE (once per direction) — a
    * deliberate constant: materializing the scored frame would persist
    * candidate-scale rows (corpus × bucket-occupancy even on the LSH
    * path), which at 100 TB costs far more storage/IO than re-running
    * the linear candidate generation, and both ranks stay bounded
    * map-side either way. */
  private def mutualTop1(scored: DataFrame): DataFrame = {
    // direction 1: each non-English vector's top-1 English neighbor
    val d1 = scored.groupBy(col("xx_id"))
      .agg(graft.functions.TopKAgg.top_k_pairs(
        col("cos"), col("en_id"), 1).as("tk"))
      .select(col("xx_id"), col("tk").getItem(0).getField("payload")
        .as("en_id"))
    // direction 2: each English vector's top-1 WITHIN each language
    val d2 = scored.groupBy(col("en_id"), col("lang"))
      .agg(graft.functions.TopKAgg.top_k_pairs(
        col("cos"), col("xx_id"), 1).as("tk"))
      .select(col("en_id"), col("lang"), col("tk").getItem(0)
        .getField("payload").as("xx_id"))
    // both direction frames are one row per source vector (corpus-scale
    // metadata) joined on the unique pair key — shuffled hash, no sort
    d1.join(d2.hint("shuffle_hash"), Seq("en_id", "xx_id"))
      .select(col("lang"), col("en_id").as("src_id"),
        col("xx_id").as("tgt_id"))
  }

  /** bitext_mine_lsh — the mining SCALE path (the sim_ann_lsh sibling):
    * candidates restricted to the ADAPTIVE sign bucket
    * ([[adaptiveBucketBits]] — the same width knob that keeps
    * dedup_embedding's pair work linear), so the en × xx score matrix
    * shrinks from |en|·|xx| to Σ_bucket |en_b|·|xx_b| with bucket
    * occupancy held ~constant by the width: candidate volume grows
    * LINEARLY in corpus size where the exact path grows quadratically
    * (measured 27× for 10× data at sf1 — the swap point this variant
    * exists for). Within-bucket mutual top-1; pairs whose sides land in
    * different buckets are the standard LSH recall trade, and the
    * fixture's planted structure stays minable (spec-gated). */
  def bitextMineLsh(spark: SparkSession, dir: String): DataFrame = {
    val lang = Tables.load(spark, dir, "documents")
      .select(col("doc_id").as("vec_id"), col("lang"))
    val emb = Tables.load(spark, dir, "embeddings")
      .select(col("vec_id"), col("embedding"))
    val bits = adaptiveBucketBits(emb.count())
    bitextMineLshOver(emb.join(lang.hint("shuffle_hash"), "vec_id"), bits)
  }

  /** [[bitextMineLsh]]'s core at an explicit bucket width. */
  private[graft] def bitextMineLshOver(emb: DataFrame,
      bits: Int): DataFrame = {
    val b = emb.withColumn("bucket",
      signBucketBits(col("embedding"), bits))
    val en = b.filter(col("lang") === "en")
      .select(col("bucket"), col("vec_id").as("en_id"),
        col("embedding").as("e_en"))
    val xx = b.filter(col("lang") =!= "en")
      .select(col("bucket"), col("lang"), col("vec_id").as("xx_id"),
        col("embedding").as("e_xx"))
    mutualTop1(xx.join(en.hint("shuffle_hash"), "bucket")
      .withColumn("cos", cosine(col("e_xx"), col("e_en")))
      .select(col("lang"), col("xx_id"), col("en_id"), col("cos")))
  }

  /** Recall@k of the IVF search against the brute-force ground truth —
    * THE metric an ANN deployment tunes nprobe/k against (publish it per
    * ingest batch and you see index drift before users see bad
    * neighbors). One row per query: ground-truth size, hits found by the
    * index, recall ×1000 (integer-exact).
    *
    * Scale shape: all the heavy work happens inside the two searches,
    * each already its own scale-correct plan (broadcast queries, corpus
    * never shuffled / probed per-cell); their outputs are tiny
    * (queries × k rows), so the comparison join is a broadcast hash join
    * over metadata-sized frames no matter the corpus size. */
  def annRecall(spark: SparkSession, dir: String, maxQueryId: Long = 8,
      k: Int = 5, nprobe: Int = 1): DataFrame = {
    val truth = bruteTopK(spark, dir, maxQueryId, k)
      .select(col("query_id"), col("neighbor_id"))
    val found = ivfTopK(spark, dir, maxQueryId, k, nprobe)
      .select(col("query_id"), col("neighbor_id"), lit(1L).as("hit"))
    truth.join(broadcast(found), Seq("query_id", "neighbor_id"), "left")
      .groupBy(col("query_id"))
      .agg(count(lit(1)).as("k_truth"),
        sum(coalesce(col("hit"), lit(0L))).as("n_hits"))
      .select(col("query_id"), col("k_truth"), col("n_hits"),
        expr("n_hits * 1000 div k_truth").as("recall_x1000"))
  }

  /** ann_mrr — the index's reciprocal-rank view under LABEL relevance:
    * at what position does the IVF top-k surface its first SAME-LABEL
    * result? recall@k grades geometric fidelity against the brute-force
    * truth; this grades END-TASK retrieval quality against ground-truth
    * relevance labels (a cosine-derived "relevant set" would be
    * degenerate here: any candidate outranking a top-k member is itself
    * top-k, so the first hit provably sits at rank 1 — labels are the
    * independent judgment MRR needs). Integer-exact: rr_x1000 =
    * 1000 div first-hit rank, 0 when no returned result shares the
    * query's label. Queries × k metadata frames throughout — the
    * comparison is broadcast-sized at any corpus scale. */
  def annMrr(spark: SparkSession, dir: String, maxQueryId: Long = 8,
      k: Int = 5, nprobe: Int = 1): DataFrame = {
    val labels = Tables.load(spark, dir, "embeddings")
      .select(col("vec_id"), col("label"))
    val queries = labels.filter(col("vec_id") < maxQueryId)
      .select(col("vec_id").as("query_id"), col("label").as("q_label"))
    // the queries × k result list is the broadcast side; the
    // corpus-scale label frame streams past it
    val found = labels
      .select(col("vec_id").as("neighbor_id"), col("label").as("n_label"))
      .join(broadcast(ivfTopK(spark, dir, maxQueryId, k, nprobe)),
        "neighbor_id")
    val firstHit = found
      .join(broadcast(queries), "query_id")
      .filter(col("n_label") === col("q_label"))
      .groupBy(col("query_id"))
      .agg(min(col("rank")).cast("long").as("rank_found"))
    queries.select(col("query_id"))
      .join(broadcast(firstHit), Seq("query_id"), "left")
      .select(col("query_id"),
        coalesce(col("rank_found"), lit(0L)).as("rank_found"),
        when(col("rank_found").isNull, lit(0L))
          .otherwise(expr("1000 div rank_found")).as("rr_x1000"))
  }

  /** Symmetric int8 quantization of the embedding column: per-vector scale
    * s = max|x| / 127, q_i = round(x_i / s) ∈ [-127, 127] — 4 bytes/dim
    * compressed to 1 at rest, the standard storage/serving format for
    * large embedding corpora. Pure per-row projection (no shuffle);
    * registered rows-only (float scale arithmetic is engine-specific),
    * with reconstruction quality asserted in PipelineSpec. */
  def quantizeInt8(corpus: DataFrame): DataFrame = {
    val absMax = aggregate(col("embedding"), lit(0.0f),
      (acc, x) => greatest(acc, abs(x)))
    corpus
      .withColumn("scale", (absMax / 127.0f).cast("float"))
      .withColumn("q", when(col("scale") > 0f,
          transform(col("embedding"),
            x => round(x / col("scale")).cast("tinyint")))
        .otherwise(transform(col("embedding"), _ => lit(0).cast("tinyint"))))
      .select(col("vec_id"), col("scale"), col("q"))
  }

  def quantizeInt8(spark: SparkSession, dir: String): DataFrame =
    quantizeInt8(Tables.load(spark, dir, "embeddings"))

  /** Driver-contract projection of [[quantizeInt8]]: per-vector scalar
    * stats of the int8 code instead of the code array itself (the
    * harness's row-sort cannot hash array cells, so the registered query
    * must be scalar-only). Same per-row plan — the array lives only
    * inside the projection.
    *
    * Oracle-checkable: every step is IEEE-deterministic — the float
    * inputs are exact, both engines promote to double for the division,
    * round half-away-from-zero, and round-to-nearest back to float for
    * the scale — so the identical SQL mirror in DuckDB reproduces the
    * code array bit-for-bit. `q_md5` (md5 of the comma-joined int8
    * codes) pins the ENTIRE code array through the scalar-only gate, not
    * just its summary stats. */
  def quantizeInt8Stats(corpus: DataFrame): DataFrame =
    quantizeInt8(corpus).select(
      col("vec_id"),
      size(col("q")).as("n_dims"),
      aggregate(col("q"), lit(0L), (acc, x) => acc + x).as("q_sum"),
      array_min(col("q")).cast("int").as("q_min"),
      array_max(col("q")).cast("int").as("q_max"),
      md5(concat_ws(",", transform(col("q"), _.cast("string")))).as("q_md5"))

  def quantizeInt8Stats(spark: SparkSession, dir: String): DataFrame =
    quantizeInt8Stats(Tables.load(spark, dir, "embeddings"))

  /** Per-dimension embedding moments — the drift/health telemetry an
    * embedding pipeline publishes per ingest batch (a collapsed dimension,
    * a shifted mean, or an exploding max is how a bad encoder deploy or a
    * corrupt shard surfaces). Values are quantized to fixed-point 1e-4
    * (`round(double(x)·10⁴)` — the same IEEE-exact float→double→round
    * chain [[quantizeInt8]] pins) BEFORE aggregation, so every sum is an
    * integer sum: exact, order-independent, oracle-checkable — float sums
    * would be partition-order-dependent and could never hash-match.
    *
    * Plan shape: posexplode + one hash aggregate keyed by dimension; the
    * map-side partial combine reduces each partition to n_dims rows, so
    * the exchange carries dims·partitions rows at any corpus size. */
  def embStats(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "embeddings")
      .select(posexplode(col("embedding")).as(Seq("dim", "x")))
      .select(col("dim"),
        expr("cast(round(cast(x as double) * 10000) as bigint)").as("q"))
      .groupBy(col("dim"))
      .agg(
        count(lit(1)).as("n"),
        sum(col("q")).as("sum_q"),
        sum(col("q") * col("q")).as("sumsq_q"),
        min(col("q")).as("min_q"),
        max(col("q")).as("max_q"))
      .select(col("dim"), col("n"), col("sum_q"),
        expr("sum_q div n").as("mean_q"),
        col("sumsq_q"), col("min_q"), col("max_q"))

  /** Norm-based embedding outliers — the per-batch health check that
    * catches a collapsed encoder (near-zero norms) or an exploding one
    * before either poisons similarity search: every vector's squared L2
    * norm in exact fixed-point (each component quantized to 1e-4 as in
    * [[embStats]], then integer-summed — order-independent and
    * engine-exact, where float norms would be neither), flagged against
    * the corpus's EXACT median squared norm (value at row ⌈n/2⌉ of the
    * (norm, vec_id) ordering): outlier ⟺ norm² > 9·median² or
    * norm² < median²/9 (i.e. norm outside [med/3, 3·med]).
    *
    * Scale shape: one shuffle-free projection pass for the norms; the
    * median over a BOUNDED deterministic sample (the [[IvfTrainSample]]
    * pattern, cap [[MedianSampleCap]]) — never a global sort of the
    * corpus. The cap exceeds every fixture corpus, so at test scale the
    * sample IS the corpus and the median is exact (oracle-identical); at
    * 100 TB it is a fixed-size uniform subsample whose median
    * concentrates around the true one, and the flag thresholds are 9×
    * either way. The flag join is a 1-row broadcast. */
  def embOutliers(spark: SparkSession, dir: String): DataFrame =
    embOutliers(corpusWithNormOutliers(spark, dir))

  /** embeddings ∪ planted norm outliers: every 20th vector ×8 (norm² 64×)
    * and every 25th ×1/16 (norm² 1/256×). Power-of-two scalings are
    * IEEE-exact in FLOAT, so the oracle reproduces the planted vectors
    * bit-for-bit. */
  def corpusWithNormOutliers(spark: SparkSession, dir: String): DataFrame = {
    val base = Tables.load(spark, dir, "embeddings")
      .select(col("vec_id"), col("embedding"))
    base
      .unionByName(base.filter(col("vec_id") % 20 === 0)
        .select((col("vec_id") + 200000L).as("vec_id"),
          transform(col("embedding"), x => x * lit(8.0f)).as("embedding")))
      .unionByName(base.filter(col("vec_id") % 25 === 0)
        .select((col("vec_id") + 300000L).as("vec_id"),
          transform(col("embedding"), x => x / lit(16.0f)).as("embedding")))
  }

  /** Mean-shift tolerance of [[embDrift]] in fixed-point 1e-4 units
    * (500 = 0.05 raw) — intra-release dim means sit within ±0.02 of
    * each other on the fixture family, so a half-decade shift is a
    * deploy, not noise. */
  val EmbDriftMeanTol = 500L
  /** Second-moment ratio tolerance of [[embDrift]] in ppm (100 000 =
    * 10%): the planted ×2-on-every-10th re-embedding moves every dim's
    * mean square by 16–47% (measured at sf0.01), a same-release
    * comparison by exactly 0 — 10% splits the two with a wide margin
    * on both sides. */
  val EmbDriftMsqTolPpm = 100000L

  /** The fixture's "next embedding release" — [[Dedup.corpusNextVersion]]'s
    * (dir, version) conventions applied to the vector side: every 13th
    * vector dropped, every 11th additionally re-keyed under a fresh id,
    * and every 10th RE-EMBEDDED by an exact power-of-two rescale (×2 —
    * the planted encoder-deploy drift; IEEE-exact in FLOAT, so the
    * oracle reproduces the release bit-for-bit). */
  def embNextVersion(spark: SparkSession, dir: String): DataFrame = {
    val base = Tables.load(spark, dir, "embeddings")
      .select(col("vec_id"), col("embedding"))
    base.filter(col("vec_id") % 13 =!= 0)
      .select(col("vec_id"),
        when(col("vec_id") % 10 === 0,
          transform(col("embedding"), x => x * lit(2.0f)))
          .otherwise(col("embedding")).as("embedding"))
      .unionByName(base.filter(col("vec_id") % 11 === 0)
        .select((col("vec_id") + 800000L).as("vec_id"), col("embedding")))
  }

  /** Release-over-release embedding drift — corpus_drift's vector
    * sibling, the check a re-embedding deploy trips: per-dimension
    * first and second moments of release A vs release B in the
    * [[embStats]] fixed-point-1e-4 integer arithmetic (exact,
    * order-independent, oracle-checkable), plus the drift verdict a
    * monitor alerts on. The per-dim mean-square ledger IS the norm
    * profile — Σ_dim msq·n = Σ_vec ‖v‖² — so a collapsed or rescaled
    * encoder shows in these rows even when means cancel. Flag: mean
    * shifted by > [[EmbDriftMeanTol]] OR mean square off by >
    * [[EmbDriftMsqTolPpm]] from parity. Squared sums run in
    * decimal(38,0) (the corpus_drift HUGEINT-headroom rule: q² ≈ 10⁸
    * per element crosses int64 at ~10¹⁰ elements per dim — 100 TB
    * scale — and would wrap silently). Dims join INNER: positional
    * dimensionality is stable across releases by encoder contract (a
    * dim-count change is a different model, not drift).
    *
    * Plan shape: two posexplode + per-dim hash aggregates (map-side
    * combine ⇒ dims·partitions exchange rows), one dims-sized join —
    * corpus-linear, shuffle volume corpus-independent. */
  def embDrift(a: DataFrame, b: DataFrame): DataFrame = {
    def dimStats(c: DataFrame, sfx: String): DataFrame =
      c.select(posexplode(col("embedding")).as(Seq("dim", "x")))
        .select(col("dim"),
          expr("cast(round(cast(x as double) * 10000) as bigint)")
            .as("q"))
        .groupBy(col("dim"))
        .agg(count(lit(1)).as(s"n_$sfx"), sum(col("q")).as(s"sum_$sfx"),
          sum(col("q").cast("decimal(38,0)") * col("q"))
            .as(s"sumsq_$sfx"))
    dimStats(a, "a").join(dimStats(b, "b"), Seq("dim"))
      .select(col("dim"), col("n_a"), col("n_b"),
        expr("sum_a div n_a").as("mean_q_a"),
        expr("sum_b div n_b").as("mean_q_b"),
        expr("sumsq_a div n_a").as("msq_a"),
        expr("sumsq_b div n_b").as("msq_b"))
      .select(col("dim"), col("n_a"), col("n_b"), col("mean_q_a"),
        col("mean_q_b"),
        (col("mean_q_b") - col("mean_q_a")).as("mean_shift_q"),
        col("msq_a"), col("msq_b"),
        expr("case when msq_a = 0 then -1 " +
          "else msq_b * 1000000 div msq_a end").as("msq_ratio_ppm"))
      .withColumn("drifted",
        (abs(col("mean_shift_q")) > EmbDriftMeanTol ||
          col("msq_ratio_ppm") === -1L ||
          abs(col("msq_ratio_ppm") - lit(1000000L)) > EmbDriftMsqTolPpm)
          .cast("long"))
  }

  def embDrift(spark: SparkSession, dir: String): DataFrame =
    embDrift(
      Tables.load(spark, dir, "embeddings")
        .select(col("vec_id"), col("embedding")),
      embNextVersion(spark, dir))

  /** Per-vector release ledger — [[Dedup.corpusDiff]]'s vector sibling
    * and [[embDrift]]'s id-level companion (drift says THAT the
    * distribution moved; this says WHICH vectors did — the edit log an
    * incremental re-index plans from, since only added/changed vectors
    * re-enter the ANN build): each release reduces to (vec_id, md5 of
    * the comma-joined fixed-point-1e-4 codes — the quantizeInt8Stats
    * digest device, IEEE-exact on both engines) before one
    * co-partitioned full-outer join on vec_id; 24-byte rows through
    * the exchange, never raw vectors. Statuses: added / removed /
    * changed / kept — the planted ×2 re-embedding lands every 10th
    * surviving vector in `changed`. */
  def embDiff(a: DataFrame, b: DataFrame): DataFrame = {
    def keyed(df: DataFrame, h: String) =
      df.select(col("vec_id"), md5(expr(
        "concat_ws(',', transform(embedding, x -> cast(cast(round(" +
          "cast(x as double) * 10000) as bigint) as string)))")).as(h))
    keyed(a, "h_base").join(keyed(b, "h_next"), Seq("vec_id"),
        "full_outer")
      .select(col("vec_id"),
        when(col("h_base").isNull, "added")
          .when(col("h_next").isNull, "removed")
          .when(col("h_base") =!= col("h_next"), "changed")
          .otherwise("kept").as("status"))
  }

  def embDiff(spark: SparkSession, dir: String): DataFrame =
    embDiff(
      Tables.load(spark, dir, "embeddings")
        .select(col("vec_id"), col("embedding")),
      embNextVersion(spark, dir))

  /** Median-sample bound: ≥ every fixture corpus (exact there), constant
    * at any real scale. 128 Ki (normsq_q, vec_id) pairs ≈ 2 MB in the
    * one aggregation row — driver-side cost is fixed, not O(corpus). */
  val MedianSampleCap = 131072

  def embOutliers(corpus: DataFrame): DataFrame = {
    val normed = corpus
      .select(col("vec_id"),
        aggregate(col("embedding"), lit(0L),
          (acc, x) => {
            val q = round(x.cast("double") * 10000).cast("long")
            acc + q * q
          }).as("normsq_q"))
    // Bounded deterministic sample: the MedianSampleCap smallest
    // xxhash64(vec_id) rows. orderBy+limit plans as TakeOrderedAndProject
    // (per-partition top-K, merge of K per partition) — the corpus is
    // never globally sorted and no partition-less window exists. The
    // exact rank-⌈n/2⌉ median of the sample comes from one bounded
    // sort_array/collect_list aggregation (same (normsq_q, vec_id)
    // ordering the previous global ranking used).
    val median = normed
      .orderBy(xxhash64(col("vec_id")), col("vec_id"))
      .limit(MedianSampleCap)
      .agg(sort_array(collect_list(struct(col("normsq_q"), col("vec_id"))))
        .as("arr"))
      .select(expr(
        "element_at(arr, cast((size(arr) + 1) div 2 as int)).normsq_q")
        .as("median_q"))
    normed.crossJoin(broadcast(median))
      .withColumn("is_outlier",
        col("normsq_q") > col("median_q") * 9 ||
          col("normsq_q") * 9 < col("median_q"))
      .filter(col("is_outlier"))
      .select(col("vec_id"), col("normsq_q"), col("median_q"))
  }

  /** Power-iteration count for [[embPca]] — fixed, so the result is a
    * deterministic function of the data on both engines whether or not
    * the iteration has numerically converged. */
  val PcaIterations = 24

  /** Distributed second-moment (co-scatter) matrix of the embedding
    * corpus — the input every covariance-level diagnostic (PCA, whitening,
    * anisotropy checks) starts from. Components are quantized to
    * fixed-point 1e-4 first (the [[embStats]] chain), so every matrix
    * entry is an exact integer: `sxy(i,j) = Σ q_i·q_j` and the CENTERED
    * scatter `m(i,j) = n·sxy − s_i·s_j` (= n² × covariance up to the
    * fixed-point scale) — order-independent and oracle-checkable where
    * float accumulation would be partition-order noise.
    *
    * Plan shape: the d(d+1)/2 upper-triangle products accumulate in a
    * PER-PARTITION long-array kernel (mapPartitions — the classic
    * treeAggregate gram every distributed linear-algebra library
    * ships), one packed partial row per partition, reduced on the
    * driver: the "shuffle" is ≤ partitions × d(d+1)/2 longs of
    * metadata at any corpus size, and integer addition makes the
    * result order-independent. mapPartitions is deliberate (the
    * FilePlan.scala:67 rule — used only where Catalyst can't go):
    * the declarative forms both lose — nested higher-order lambdas
    * run INTERPRETED (the emb_project lesson; measured 2.0 s per
    * pass at 2 000×64 building 2 080 structs per row), and a
    * single-row aggregate needs d(d+1)/2 ≈ 2 080 codegen'd sum
    * expressions, past the janino splitting regime. The tight fused
    * multiply-add loop is the honest kernel.
    *
    * LAZY (the r14 ADVICE item): the per-partition kernel's packed
    * partials reduce DECLARATIVELY — ONE posexplode + sum keyed by
    * packed index over the concatenated (acc ++ sx) arrays, the (i, j)
    * pairing rebuilt by a dims-sized self-join against the packed-index
    * arithmetic — so constructing this frame schedules NO job
    * (spec-asserted); Explain listings and registry enumeration read
    * the plan for free. The corpus pass runs ONCE per action: the
    * partials feed exactly one aggregate subtree whose shuffle every
    * downstream consumer shares via ReusedExchange, and d / n come
    * from the corpus directly (a 1-row limit and a column-pruned
    * count). The earlier lazy-localCheckpoint draft was measured
    * pathological — three consumers raced the unmaterialized
    * checkpoint and each recomputed the scan concurrently. */
  def embGram(corpus: DataFrame): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val q2 = corpus.select(expr(
      "transform(embedding, x -> cast(round(cast(x as double) * 10000) as bigint))")
      .as("ql")).as[Seq[Long]]
    val partials = q2.mapPartitions { it =>
      var acc: Array[Long] = null
      var sx: Array[Long] = null
      var d = 0
      var n = 0L
      it.foreach { q =>
        if (acc == null) {
          d = q.length
          acc = new Array[Long](d * (d + 1) / 2)
          sx = new Array[Long](d)
        }
        var i = 0
        var k = 0
        while (i < d) {
          val qi = q(i)
          sx(i) += qi
          var j = i
          while (j < d) { acc(k) += qi * q(j); j += 1; k += 1 }
          i += 1
        }
        n += 1
      }
      if (acc == null) Iterator.empty
      else Iterator.single((n, sx.toSeq, acc.toSeq))
    }.toDF("pn", "psx", "pacc")
    // d and n come from the CORPUS (a 1-row limit; a zero-column
    // count), so the expensive partials feed exactly ONE aggregate
    // subtree — its shuffle computes the kernel once per action and
    // every consumer below shares it through ReusedExchange. (No lazy
    // checkpoint anywhere: on a plan with exchanges AQE materializes
    // stages at construction, and on the raw partials three consumers
    // raced the unmaterialized checkpoint — both measured.)
    val dims = corpus
      .select(size(col("embedding")).cast("long").as("d")).limit(1)
    val totals = corpus.agg(count(lit(1)).as("n"))
    val tot = partials
      .select(posexplode(concat(col("pacc"), col("psx")))
        .as(Seq("k", "v")))
      .groupBy(col("k").cast("long").as("k"))
      .agg(sum(col("v")).as("v"))
      .crossJoin(broadcast(dims))
    val accSum = tot.filter(col("k") < expr("d * (d + 1) div 2"))
      .select(col("k"), col("v").as("sxy"))
    val sxSum = tot.filter(col("k") >= expr("d * (d + 1) div 2"))
      .select((col("k") - expr("d * (d + 1) div 2")).as("p"),
        col("v").as("s"), col("d"))
    sxSum.select(col("p").as("i"), col("s").as("s_i"), col("d"))
      .join(sxSum.select(col("p").as("j"), col("s").as("s_j")),
        col("i") <= col("j"))
      .crossJoin(broadcast(totals))
      .select(col("i"), col("j"),
        // the kernel's packed upper-triangle index, inverted in SQL
        expr("i * d - i * (i - 1) div 2 + (j - i)").as("k"),
        col("s_i"), col("s_j"), col("n"))
      .join(accSum, Seq("k"))
      .select(col("i"), col("j"), col("sxy"),
        (col("n") * col("sxy") - col("s_i") * col("s_j")).as("m"))
  }

  def embGram(spark: SparkSession, dir: String): DataFrame =
    embGram(Tables.load(spark, dir, "embeddings"))

  /** Top principal component of the embedding corpus by power iteration
    * on the integer scatter matrix from [[embGram]] — the dominant
    * drift/anisotropy axis (a collapsing encoder concentrates variance
    * on one axis; this is the axis, and eigval/trace how much it holds).
    * Exactly [[PcaIterations]] iterations from the all-ones vector,
    * normalizing by the max-abs component (division and max are IEEE
    * ops both engines execute identically — unlike an L2 norm's
    * order-dependent sum), matvec accumulated left-to-right in j order:
    * every floating-point step is bit-reproducible cross-engine, so the
    * fixed-point eigenvector (×1e6) and eigenvalue hash-match whether or
    * not the iteration has converged.
    *
    * The d×d matrix is METADATA (the collect is dims²-bounded — the
    * centroids/BPE-rules pattern); all corpus-sized work is [[embGram]]'s
    * one bounded-exchange pass. Rounding is half-away-from-zero to match
    * DuckDB's double `round`. */
  def embPca(corpus: DataFrame): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val gram = embGram(corpus).collect()
    if (gram.isEmpty)
      // Empty corpus (or zero-width embeddings): no axes to report. An
      // empty typed frame beats the max-of-empty-iterator crash here.
      return Seq.empty[(Long, Long, Long, Long)]
        .toDF("dim", "var_m", "eigvec_q", "eigval_q")
    val d = gram.iterator.map(_.getAs[Long]("j")).max.toInt + 1
    val mv = Array.ofDim[Long](d, d)
    gram.foreach { r =>
      val i = r.getAs[Long]("i").toInt; val j = r.getAs[Long]("j").toInt
      val m = r.getAs[Long]("m"); mv(i)(j) = m; mv(j)(i) = m
    }
    var u = Array.fill(d)(1.0)
    for (_ <- 1 to PcaIterations) {
      val mx = u.iterator.map(math.abs).max
      val v = u.map(_ / mx)
      u = Array.tabulate(d) { i =>
        (0 until d).iterator.map(j => mv(i)(j).toDouble * v(j))
          .reduceLeft(_ + _)
      }
    }
    val mxf = u.iterator.map(math.abs).max
    def rnd(x: Double): Long =
      if (x >= 0) math.floor(x + 0.5).toLong
      else -math.floor(-x + 0.5).toLong
    (0 until d).map(i =>
        (i.toLong, mv(i)(i), rnd(u(i) / mxf * 1000000d), rnd(mxf)))
      .toDF("dim", "var_m", "eigvec_q", "eigval_q")
  }

  def embPca(spark: SparkSession, dir: String): DataFrame =
    embPca(Tables.load(spark, dir, "embeddings"))

  /** embeddings ∪ planted scaled copies (every 10th vector ×2 — cosine
    * exactly 1 in exact math): the fixture both near-dup variants dedupe. */
  def corpusWithScaledDups(spark: SparkSession, dir: String): DataFrame = {
    val base = Tables.load(spark, dir, "embeddings")
      .select(col("vec_id"), col("embedding"))
    base.unionByName(
      base.filter(col("vec_id") % 10 === 0)
        .select((col("vec_id") + 100000L).as("vec_id"),
          transform(col("embedding"), x => x * lit(2.0f)).as("embedding")))
  }

  /** [[incomingVecBatch]] id offsets, 1,000,000-spaced: collision-free
    * for any corpus vec_id below 1,000,000 (sf1 rehearsal vec_ids reach
    * ~91,999 — the old +900000/+950000 pair was 50,000 apart and
    * collision-free only by modular accident, the r9-ADVICE
    * incomingNearBatch pattern). Interpolated into the oracle SQL so the
    * engines cannot drift. */
  val VecScaledOff = 1000000L
  val VecFlippedOff = 2000000L

  /** Incoming vector-ingest batch: every 6th corpus vector scaled ×2
    * under a new id (an already-present embedding — must be dropped;
    * cosine is scale-invariant and ×2 is exponent-exact in float on both
    * engines) ∪ every 9th vector sign-flipped (a genuinely novel
    * direction — must survive: different sign bucket AND cosine −1). */
  def incomingVecBatch(spark: SparkSession, dir: String): DataFrame = {
    val base = Tables.load(spark, dir, "embeddings")
      .select(col("vec_id"), col("embedding"))
    base.filter(col("vec_id") % 6 === 0)
      .select((col("vec_id") + VecScaledOff).as("batch_id"),
        transform(col("embedding"), x => x * lit(2.0f)).as("embedding"))
      .unionByName(base.filter(col("vec_id") % 9 === 0)
        .select((col("vec_id") + VecFlippedOff).as("batch_id"),
          transform(col("embedding"), x => -x).as("embedding")))
  }

  /** emb_incremental: the vector-store ingest gate — the
    * [[graft.exts.Dedup]] dedup_incremental discipline for embeddings.
    * For each incoming batch vector: how many existing corpus vectors it
    * near-duplicates (exact cosine ≥ threshold within the shared
    * adaptive sign-bucket) and the drop verdict.
    *
    * Scale shape: the batch is per-ingest-sized and BROADCASTS into the
    * bucket equi-join against the corpus (inner join — a left-outer
    * would force the corpus to the broadcastable side); zero-match batch
    * rows are restored by a left join against the match COUNTS, which
    * are ≤ batch-sized metadata. The corpus is scanned once and never
    * self-joined. */
  def embIncremental(spark: SparkSession, dir: String,
      threshold: Double = 0.999): DataFrame = {
    val corpus = Tables.load(spark, dir, "embeddings")
      .select(col("vec_id"), col("embedding"))
    embIncrementalGate(corpus, incomingVecBatch(spark, dir), threshold,
      corpus.count())
  }

  /** [[embIncremental]] over explicit frames — the gate the streaming
    * index loop ([[graft.stream.IndexLoop]]) applies per micro-batch.
    * `corpus` is (vec_id, embedding), `batch0` is (batch_id, embedding);
    * `nCorpus` sizes the adaptive sign-bucket width (callers that track
    * the corpus size incrementally pass it instead of paying a count
    * job per batch). Same scale shape as the driver key: the batch
    * broadcasts into the bucket equi-join, the corpus is scanned once
    * and never self-joined. */
  def embIncrementalGate(corpus: DataFrame, batch0: DataFrame,
      threshold: Double, nCorpus: Long): DataFrame =
    embIncrementalGateAt(corpus, batch0, threshold,
      adaptiveBucketBits(nCorpus))

  /** [[embIncrementalGate]] at an EXPLICIT bucket width — the form the
    * bucket-partitioned gate layout uses ([[graft.stream.IndexLoop]]):
    * the layout is written at a fixed width, so the per-batch gate must
    * bucket at that same width, not at whatever the current corpus size
    * would adapt to (the widths converge at the next layout rebuild). */
  def embIncrementalGateAt(corpus: DataFrame, batch0: DataFrame,
      threshold: Double, bits: Int): DataFrame = {
    val batch = batch0
      .select(col("batch_id"),
        signBucketBits(col("embedding"), bits).as("bucket"),
        col("embedding").as("emb_b"))
    val c = corpus.select(
      signBucketBits(col("embedding"), bits).as("bucket"),
      col("embedding").as("emb_c"))
    val matches = broadcast(batch).join(c, Seq("bucket"))
      .filter(cosine(col("emb_b"), col("emb_c")) >= threshold)
      .groupBy(col("batch_id"))
      .agg(count(lit(1)).as("n"))
    batch.select(col("batch_id"))
      .join(broadcast(matches), Seq("batch_id"), "left")
      .select(col("batch_id"),
        coalesce(col("n"), lit(0L)).as("n_matches"),
        (coalesce(col("n"), lit(0L)) > 0L).as("is_dup"))
  }

  /** Embedding near-duplicate pairs: corpus ∪ planted scaled copies,
    * bucketed self-join, exact cosine ≥ threshold within bucket. Output is
    * id pairs only — integer-exact.
    *
    * The bucket width is [[adaptiveBucketBits]] of the corpus size (one
    * metadata-cheap count job), so cells stay ~[[TargetCellVectors]]
    * vectors at any corpus scale: at sf0.01 this resolves to the
    * historical 6 bits (64 cells), at 100× the data it grows to 12-13
    * bits — within-cell pair work stays linear in n, never quadratic.
    * Recall on true duplicates is unaffected by the width: a scaled or
    * near-identical copy has the same leading-dimension signs at any
    * number of hyperplanes. */
  def nearDupPairs(spark: SparkSession, dir: String,
      threshold: Double = 0.999): DataFrame = {
    val corpus0 = corpusWithScaledDups(spark, dir)
    val bits = adaptiveBucketBits(corpus0.count())
    val corpus = corpus0
      .withColumn("bucket", signBucketBits(col("embedding"), bits))
    val a = corpus.select(col("vec_id").as("a_id"),
      col("embedding").as("emb_a"), col("bucket"))
    val b = corpus.select(col("vec_id").as("b_id"),
      col("embedding").as("emb_b"), col("bucket"))
    a.join(b, Seq("bucket"))
      .filter(col("a_id") < col("b_id"))
      .filter(cosine(col("emb_a"), col("emb_b")) >= threshold)
      .select(col("a_id"), col("b_id"))
  }

  /** Semantic dedup (the SemDeDup recipe): cluster the corpus with the
    * trained k-means centroids, then search for near-duplicate pairs only
    * WITHIN each cluster — cosine ≥ threshold, exact, id pairs out.
    *
    * vs [[nearDupPairs]]'s sign-bucket LSH: the candidate cells here are
    * *learned* from the data, so they follow its density (a hot region
    * splits across several centroids where a fixed hyperplane bucket would
    * pile up) — the published large-corpus embedding-dedup shape. The cell
    * id is the shuffle/partition key exactly like the IVF search: corpus
    * clustered once, pair generation is a co-partitioned within-cell
    * self-join, never a cross product. Centroids train on the clean base
    * sample ([[trainedCentroids]] bounds training cost at any scale);
    * scaled copies land in their original's cell because cosine is
    * scale-invariant.
    *
    * @param k centroid count — THE scale knob: within-cell pair search is
    *   quadratic in cell size, so k must grow with the corpus (k ∝ n
    *   keeps cells bounded and total pair work linear). The default
    *   matches the IVF index; ScaleRehearsal drives k ∝ n at sf1. */
  def semanticDupPairs(spark: SparkSession, dir: String,
      threshold: Double = 0.999, k: Int = IvfCentroids): DataFrame = {
    // Same index/query split as ivfTopK: the cell centroids are an
    // artifact shared with the IVF searches, not re-trained per query.
    val centroids = IvfIndex.centroids(spark, dir, k)
    val corpus = corpusWithScaledDups(spark, dir)
    val w = Window.partitionBy(col("vec_id"))
      .orderBy(col("cent_cos").desc, col("cent_id"))
    val assigned = corpus.join(broadcast(centroids))
      .withColumn("cent_cos", cosine(col("embedding"), col("cent")))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("vec_id"), col("embedding"), col("cent_id").as("cell"))
    val a = assigned.select(col("vec_id").as("a_id"),
      col("embedding").as("emb_a"), col("cell"))
    val b = assigned.select(col("vec_id").as("b_id"),
      col("embedding").as("emb_b"), col("cell"))
    a.join(b, Seq("cell"))
      .filter(col("a_id") < col("b_id"))
      .filter(cosine(col("emb_a"), col("emb_b")) >= threshold)
      .select(col("a_id"), col("b_id"))
  }
}
