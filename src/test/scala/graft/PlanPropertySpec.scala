package graft

import scala.util.Random

import org.scalatest.funsuite.AnyFunSuite

import graft.engine.Compact
import graft.model.{EngineConfig, FileMeta}
import graft.ops.{Codegen, EventOps}

/** Property-style tests (SURVEY.md §5.2(3)) over seeded random inputs:
  * filegroup-planning invariants and identifier round-trips. */
class PlanPropertySpec extends AnyFunSuite {

  private val rnd = new Random(42)

  private def randomFiles(n: Int): List[FileMeta] =
    List.tabulate(n)(i => FileMeta("t", f"p$i%04d", 1 + rnd.nextInt(50).toLong, ""))

  test("planGroups: groups ≤ cap unless singleton; order preserved") {
    for (_ <- 1 to 200) {
      val files = randomFiles(1 + rnd.nextInt(80))
      val cap = 10L + rnd.nextInt(90)
      val groups = Compact.planGroups(files, cap)
      groups.foreach { g =>
        assert(g.nonEmpty)
        if (g.size > 1) assert(g.map(_.sizeBytes).sum <= cap)
      }
      assert(groups.flatten === files)
    }
  }

  test("planGroups is maximal-greedy: next group's head would overflow previous") {
    for (_ <- 1 to 200) {
      val files = randomFiles(1 + rnd.nextInt(80))
      val cap = 10L + rnd.nextInt(90)
      val groups = Compact.planGroups(files, cap)
      groups.sliding(2).foreach {
        case Seq(prev, next) =>
          assert(prev.map(_.sizeBytes).sum + next.head.sizeBytes > cap)
        case _ =>
      }
    }
  }

  test("parseIdent drops exactly the first dotted level") {
    for (_ <- 1 to 200) {
      def seg = Random.alphanumeric.take(1 + rnd.nextInt(8)).mkString
      val (a, b, c) = (seg, seg, seg)
      assert(EventOps.parseIdent(s"$a.$b.$c") === s"$b.$c")
    }
  }

  test("EngineConfig round-trips through toProperties; rendered SQL equal") {
    val rnd = new Random(17)
    def word = rnd.alphanumeric.take(1 + rnd.nextInt(8)).mkString
    def entries = List.fill(1 + rnd.nextInt(7))(s"$word.$word" -> word).toMap
    def sql(c: EngineConfig) = Codegen.rewriteDataFilesSql(c.spec("db.t"))
    for (_ <- 1 to 200) {
      val sort = rnd.nextBoolean()
      val cfg = EngineConfig(
        commitThreshold = 1 + rnd.nextInt(100),
        timeThresholdMs = 1L + rnd.nextInt(Int.MaxValue),
        synchronousEnabled = rnd.nextBoolean(),
        sleepWaitMs = rnd.nextInt(5000).toLong,
        strategy = if (sort) "sort" else "binpack",
        options = entries,
        sortOrder = if (sort) Some(s"c${rnd.nextInt(9)} DESC") else None,
        sparkConfigs = entries,
        athenaDataCatalog = word,
        athenaOutputBucket = Option.when(rnd.nextBoolean())(s"s3://$word/"))
      val back = EngineConfig.fromProperties(cfg.toProperties)
      assert(back === cfg)
      assert(sql(back) === sql(cfg))
    }
    // the default config renders as an executor given no properties does
    assert(sql(EngineConfig.fromProperties(EngineConfig().toProperties)) ===
      sql(EngineConfig.fromProperties(Map.empty)))
  }

  test("packEfficiency: n_seqs within [lb, n_docs], consistent with packing") {
    val spark = TestSpark.spark
    val docs = graft.Tables.load(spark, "/root/testdata/sf0.001", "documents")
    val packed = graft.exts.Packing.packSequences(docs).collect()
      .map(r => (r.getString(0), r.getLong(3), r.getInt(2)))
    val rep = graft.exts.Packing.packEfficiency(docs).collect()
    rep.foreach { r =>
      val lang = r.getAs[String]("lang")
      val mine = packed.filter(_._1 == lang)
      assert(r.getAs[Long]("n_docs") === mine.length.toLong)
      assert(r.getAs[Long]("n_seqs") === mine.map(_._2).distinct.length.toLong)
      assert(r.getAs[Long]("total_tokens") === mine.map(_._3.toLong).sum)
      val lb = r.getAs[Long]("lb_seqs")
      val ns = r.getAs[Long]("n_seqs")
      assert(lb <= ns && ns <= r.getAs[Long]("n_docs"))
      assert(r.getAs[Long]("efficiency_x1000") <= 1000L)
    }
  }

  test("packSequences: budget respected, sequences contiguous per lang") {
    val spark = TestSpark.spark
    import spark.implicits._
    val budget = 50
    val rows = for {
      lang <- List("en", "de", "fr")
      i <- 1 to 60
    } yield {
      val k = if (rnd.nextInt(10) == 0) budget + 1 + rnd.nextInt(20)
        else 1 + rnd.nextInt(30)
      (lang, (i * 7).toLong, Seq.fill(k)("w").mkString(" "))
    }
    val got = graft.exts.Packing
      .packSequences(rows.toDF("lang", "doc_id", "text"), budget)
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getInt(2), r.getLong(3)))
    // every multi-doc sequence fits the budget; oversized docs sit alone
    got.groupBy(t => (t._1, t._4)).foreach { case ((lang, sid), docs) =>
      if (docs.length > 1)
        assert(docs.map(_._3).sum <= budget, s"seq ($lang,$sid) over budget")
    }
    // seq ids are contiguous and non-decreasing in doc order per lang
    got.groupBy(_._1).foreach { case (lang, docs) =>
      val ordered = docs.sortBy(_._2).map(_._4)
      assert(ordered.head === 0L, lang)
      ordered.sliding(2).foreach {
        case Array(a, b) =>
          assert(b == a || b == a + 1, s"$lang: seq id jumped $a -> $b")
        case _ =>
      }
    }
    // greedy maximality: first doc of seq s+1 would overflow seq s
    got.groupBy(_._1).foreach { case (lang, docs) =>
      val ordered = docs.sortBy(_._2)
      ordered.groupBy(_._4).toSeq.sortBy(_._1).sliding(2).foreach {
        case Seq((_, cur), (_, next)) =>
          val curSum = cur.map(_._3).sum
          assert(curSum + next.head._3 > budget,
            s"$lang: seq was closed early (sum $curSum, next ${next.head._3})")
        case _ =>
      }
    }
  }

  test("DataFrame filegroupPlanning ≡ planGroups greedy, per partition") {
    val spark = TestSpark.spark
    import spark.implicits._
    for (trial <- 1 to 5) {
      val cap = 50L + rnd.nextInt(100)
      val rows = for {
        pk <- List("a", "b", "c")
        i <- 1 to (20 + rnd.nextInt(60))
      } yield (pk, i.toLong,
        s"${pk}_f$i",
        // mix of small files and occasional oversized (> cap) ones
        if (rnd.nextInt(12) == 0) cap + 1 + rnd.nextInt(40)
        else 1L + rnd.nextInt(40))
      val df = rows.toDF("part_key", "file_seq", "path", "size_bytes")
      val got = graft.ops.FilePlan.filegroupPlanning(df, cap).collect()
        .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3)))

      // expected via the Scala twin, independently per part_key
      val expected = rows.groupBy(_._1).flatMap { case (pk, fs) =>
        val metas = fs.sortBy(_._2)
          .map(f => FileMeta("t", f._3, f._4, pk))
        Compact.planGroups(metas, cap).zipWithIndex.flatMap {
          case (g, gid) => g.map(f => (pk, f.path, f.sizeBytes, gid.toLong))
        }
      }.toSet
      assert(got.toSet === expected, s"trial $trial cap $cap")

      // invariants on the DataFrame form itself
      got.groupBy(t => (t._1, t._4)).foreach { case ((pk, gid), g) =>
        if (g.length > 1)
          assert(g.map(_._3).sum <= cap, s"group ($pk,$gid) over cap")
      }
    }
  }

  test("adaptiveBucketBits: minimal width meeting the cell-size target") {
    import graft.exts.Similarity._
    val rnd = new Random(7)
    val ns = Seq(0L, 1L, 63L, 64L, 65L, 4096L, 4097L, 1L << 40) ++
      Seq.fill(200)(math.abs(rnd.nextLong()) % (1L << 41))
    ns.foreach { n =>
      val b = adaptiveBucketBits(n)
      assert(b >= BucketBits && b <= MaxBucketBits)
      // b satisfies the target (or is clamped at the max)...
      assert(n <= (TargetCellVectors << b) || b == MaxBucketBits,
        s"n=$n b=$b misses the target")
      // ...and is the SMALLEST such width (or the floor)
      assert(b == BucketBits || n > (TargetCellVectors << (b - 1)),
        s"n=$n b=$b is not minimal")
    }
  }

  test("plan shapes: broadcast where intended, bounded exchanges") {
    // Plan-shape guards for scale-sensitive operators: a silent fallback
    // to a shuffled or nested-loop join here is a 100 TB regression even
    // when results stay correct.
    val spark = TestSpark.spark
    val dir = "/root/testdata/sf0.001"
    def plan(name: String): String =
      SparkEntry.queries(name)(spark, dir).queryExecution.executedPlan.toString

    val decon = plan("decontaminate")
    assert(decon.contains("BroadcastHashJoin"), "decontaminate eval side must broadcast")
    assert(!decon.contains("NestedLoopJoin"))

    val tfidf = plan("text_tfidf")
    assert(tfidf.contains("BroadcastHashJoin"), "tfidf vocabulary join must broadcast")
    assert(!tfidf.contains("SortMergeJoin"))

    val strat = plan("stratified_sample")
    assert("Exchange hashpartitioning".r.findAllIn(strat).size <= 1,
      "stratified_sample should shuffle once (by lang)")

    val rangeFrame = plan("window_range_frame")
    assert("Exchange hashpartitioning".r.findAllIn(rangeFrame).size <= 1,
      "window_range_frame should shuffle once (by customer)")

    val q17 = plan("q17_small_qty_revenue")
    assert(q17.contains("BroadcastHashJoin"),
      "q17 per-part aggregate must broadcast")

    Seq("join_asof", "join_range_count", "q18_large_orders",
      "merge_upsert", "snapshot_rollback").foreach { n =>
      assert(!plan(n).contains("NestedLoopJoin"), s"$n plans a nested-loop join")
    }

    // quality_filter and text_pii_redact are pure per-row passes: any
    // exchange in their plan means a signal got computed via join/agg
    // instead of inline — a corpus-wide shuffle at 100 TB.
    Seq("quality_filter", "text_pii_redact").foreach { n =>
      assert(!plan(n).contains("Exchange"), s"$n must be shuffle-free")
    }

    // zone maps are one hash aggregate over the scan
    assert("Exchange hashpartitioning".r.findAllIn(plan("zone_map_prune"))
      .size <= 1, "zone_map_prune should shuffle once (by file)")

    // mix_sources: the 4-row rate table joins the corpus via broadcast,
    // never a corpus re-shuffle on lang
    val mix = plan("mix_sources")
    assert(mix.contains("BroadcastHashJoin"),
      "mix_sources rate join must broadcast")
    assert(!mix.contains("SortMergeJoin"))

    // dedup_semantic: centroid attachment is an intended
    // BroadcastNestedLoopJoin (each row scores all 16 centroids), but an
    // unbroadcast cross product anywhere is a scale killer
    assert(!plan("dedup_semantic").contains("CartesianProduct"),
      "dedup_semantic must never plan an unbroadcast cross product")

    // lm_score_batch: the trained model attaches to the batch via
    // broadcast; the batch's own bigram tf is the only hash exchange —
    // the corpus-side counts must never re-shuffle the batch
    val lmBatch = plan("lm_score_batch")
    assert(lmBatch.contains("BroadcastHashJoin"),
      "lm_score_batch model join must broadcast")
    assert(!lmBatch.contains("SortMergeJoin"))

    // weighted_sample is a per-row coin: no exchange at all
    assert(!plan("weighted_sample").contains("Exchange"),
      "weighted_sample must be shuffle-free")

    // chunk_docs is a per-row explode: no exchange at all
    assert(!plan("chunk_docs").contains("Exchange"),
      "chunk_docs must be shuffle-free")

    // event_funnel: every post-stage-1 join is against a
    // user-cardinality frame and must broadcast
    val funnel = plan("event_funnel")
    assert(funnel.contains("BroadcastHashJoin"),
      "funnel stage joins must broadcast")
    assert(!funnel.contains("SortMergeJoin"))
  }
}
