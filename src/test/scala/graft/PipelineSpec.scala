package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.exts.{Dedup, Multimodal, Sampling, Similarity}
import graft.functions.RollingHash

/** Tests for the non-oracle pipeline extensions: MinHash-LSH recall vs the
  * exact Jaccard ground truth, SimHash behavior, rolling-hash fingerprints,
  * and the multimodal plumbing. */
class PipelineSpec extends AnyFunSuite with TestTempDirs {
  private lazy val spark = TestSpark.spark
  private val dir = "/root/testdata/sf0.001"

  test("minhash-LSH finds the planted near-dup pairs (recall vs exact)") {
    val corpus = Dedup.corpusWithNearDups(spark, dir)
    val exact = Dedup.ngramJaccardPairs(corpus)
      .select("a_id", "b_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Dedup.minhashLshPairs(corpus)
      .select("a_id", "b_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val planted = exact.filter { case (a, b) => b == a + 100000L }
    assert(planted.nonEmpty)
    val recall = planted.count(lsh.contains).toDouble / planted.size
    assert(recall >= 0.9, s"LSH recall $recall over ${planted.size} planted pairs")
  }

  test("minhash estimate is high for planted pairs") {
    val rows = Dedup.minhashLshPairs(Dedup.corpusWithNearDups(spark, dir))
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2)))
    val plantedEsts = rows.collect { case ((a, b), e) if b == a + 100000L => e }
    assert(plantedEsts.nonEmpty)
    assert(plantedEsts.forall(_ >= 0.5))
  }

  test("stop-shingle cap drops boilerplate-only pairs, keeps real near-dups") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // 30 docs sharing ONLY a boilerplate header (would pair quadratically),
    // plus one genuine near-dup pair with unique content.
    val boiler = "all rights reserved license header applies to this file"
    val docs =
      (1 to 30).map(i => (i.toLong, s"$boiler unique$i a$i b$i c$i d$i e$i f$i g$i h$i")) ++
        Seq(
          (100L, "the quick brown fox jumps over the lazy dog again and again today"),
          (101L, "the quick brown fox jumps over the lazy dog again and again now"))
    val corpus = docs.toDF("doc_id", "text")
    val capped = graft.exts.Dedup.ngramJaccardPairsCapped(corpus, maxShingleDf = 10)
      .select("a_id", "b_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // boilerplate-header docs share only capped shingles → no pairs among them
    assert(!capped.exists { case (a, b) => a <= 30 && b <= 30 })
    // the genuine near-dup pair survives (its shingles are rare)
    assert(capped.contains((100L, 101L)))
    // with a cap nothing hits, capped == uncapped exactly
    val uncapped = graft.exts.Dedup.ngramJaccardPairs(corpus)
      .select("a_id", "b_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val bigCap = graft.exts.Dedup.ngramJaccardPairsCapped(corpus, maxShingleDf = 1000)
      .select("a_id", "b_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(bigCap === uncapped)
  }

  test("hash-bucket sampling is order-independent with sane coverage") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val ids = (1L to 1000L).toDF("doc_id")
    def buckets(df: org.apache.spark.sql.DataFrame): Map[Long, Long] =
      df.withColumn("b", graft.exts.Sampling.hashBucket(col("doc_id")))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val base = buckets(ids)
    val shuffled = buckets(ids.repartition(7).orderBy(rand(42)))
    // deterministic: same id → same bucket regardless of order/partitioning
    assert(base === shuffled)
    // a 10% cut lands near 10% (multiplicative hash spreads uniformly)
    val frac = base.values.count(_ < 10).toDouble / base.size
    assert(frac > 0.05 && frac < 0.15, s"10% sample fraction was $frac")
  }

  test("IVF nprobe=2 recall vs brute force is >= nprobe=1 recall") {
    val brute = Similarity.bruteTopK(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    def recall(nprobe: Int): Double = {
      val got = Similarity.ivfTopK(spark, dir, nprobe = nprobe).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      brute.count(got.contains).toDouble / brute.size
    }
    val r1 = recall(1)
    val r2 = recall(2)
    assert(r2 >= r1, s"nprobe=2 recall $r2 < nprobe=1 recall $r1")
    assert(r2 > 0.0)
  }

  test("repetition signals: repeated text scores high, clean text low") {
    import spark.implicits._
    val docs = Seq(
      (1L, "spam spam spam"),
      (2L, "one two three four five"),
      (3L, "x")).toDF("doc_id", "text")
    val out = graft.exts.TextAnalysis.repetitionSignals(docs)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(3), r.getLong(4), r.getLong(5)))).toMap
    // (n_tokens, top_word_x1000, n_bigrams, dup_bigram_x1000)
    assert(out(1L) === ((3L, 1000L, 2L, 500L))) // "spam spam" duplicated
    assert(out(2L) === ((5L, 200L, 4L, 0L)))    // all words distinct
    assert(out(3L) === ((1L, 1000L, 0L, 0L)))   // single token: no bigrams
  }

  test("trained IVF centroids: honest recall >= untrained seeds") {
    // Queries must be disjoint from BOTH the seed set (vec_id < 16) and
    // the training sample (vec_id < 256): a query that IS a seed centroid
    // sits in its own private cell collecting exactly its nearest
    // neighbors, inflating recall artificially. On honest queries the
    // trained centroids must match or beat the raw seeds at every nprobe.
    import org.apache.spark.sql.functions.col
    val emb = graft.Tables.load(spark, dir, "embeddings")
    val qPred = col("vec_id") >= 300 && col("vec_id") < 316
    val brute = Similarity.bruteTopKWhere(emb, qPred, 5).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val trained = Similarity.trainedCentroids(emb)
    val seeds = emb.filter(col("vec_id") < Similarity.IvfCentroids)
      .select(col("vec_id").as("cent_id"), col("embedding").as("cent"))
    def recall(cent: org.apache.spark.sql.DataFrame, nprobe: Int): Double = {
      val got = Similarity.ivfSearch(emb, cent, qPred, 5, nprobe).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      brute.count(got.contains).toDouble / brute.size
    }
    val (t1, t2) = (recall(trained, 1), recall(trained, 2))
    val (u1, u2) = (recall(seeds, 1), recall(seeds, 2))
    assert(t1 >= u1, s"trained probe1 recall $t1 < untrained $u1")
    assert(t2 >= u2, s"trained probe2 recall $t2 < untrained $u2")
    assert(t2 >= t1, s"trained recall not monotone in nprobe: $t1 -> $t2")
    assert(t1 > 0.0)
  }

  test("IVF index artifact: memo = fresh training; save/load round-trips") {
    import org.apache.spark.sql.functions.col
    val emb = graft.Tables.load(spark, dir, "embeddings")
    graft.exts.IvfIndex.clear()
    val memod = graft.exts.IvfIndex.centroids(spark, dir)
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1).toList)).toSet
    val fresh = Similarity.trainedCentroids(emb)
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1).toList)).toSet
    assert(memod === fresh)
    // persist → load → search must reproduce the memoized-index results
    val tmp = tempDir("ivf-index")
    graft.exts.IvfIndex.save(
      graft.exts.IvfIndex.centroids(spark, dir), s"$tmp/centroids.parquet")
    val loaded = graft.exts.IvfIndex.load(spark, s"$tmp/centroids.parquet")
    val viaArtifact = Similarity
      .ivfSearch(emb, loaded, col("vec_id") < 8, 5, 1)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val direct = Similarity.ivfTopK(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(viaArtifact === direct)
  }

  test("PQ codebook artifact: save → install round-trips, serves the artifact, rejects stale") {
    import org.apache.spark.sql.functions._
    val tmp = tempDir("pq-cb")
    graft.exts.PqIndex.clear()
    val trained = graft.exts.PqIndex.codebook(spark, dir)
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getSeq[Long](2).toList))
      .toSet
    graft.exts.PqIndex.saveCodebook(spark, dir, s"$tmp/cb.parquet")
    // fresh session simulation: memo gone, install must reproduce exactly
    graft.exts.PqIndex.clear()
    val installed = graft.exts.PqIndex
      .installCodebook(spark, dir, s"$tmp/cb.parquet")
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getSeq[Long](2).toList))
      .toSet
    assert(installed === trained)
    // provenance: perturb one codeword in the artifact and re-install —
    // the served codebook must carry the perturbation, proving the cold
    // path is a LOAD, not a retrain that would mask a broken artifact
    val doctored = spark.read.parquet(s"$tmp/cb.parquet")
      .withColumn("cw",
        when(col("m") === 0 && col("code") === 0,
          transform(col("cw"), x => x + lit(7L))).otherwise(col("cw")))
    doctored.write.mode("overwrite").parquet(s"$tmp/cb_doctored.parquet")
    graft.exts.PqIndex.clear()
    val served = graft.exts.PqIndex
      .installCodebook(spark, dir, s"$tmp/cb_doctored.parquet")
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getSeq[Long](2).toList))
      .toSet
    assert(served !== trained)
    assert((served -- trained).forall { case (m, c, _) => m == 0 && c == 0 })
    // stale guard: a version stamp that no longer matches the corpus
    // listing must raise the NAMED error, never serve silently
    spark.read.parquet(s"$tmp/cb.parquet")
      .withColumn("version", col("version") + 1L)
      .write.mode("overwrite").parquet(s"$tmp/cb_stale.parquet")
    graft.exts.PqIndex.clear()
    val err = intercept[IllegalArgumentException] {
      graft.exts.PqIndex.installCodebook(spark, dir, s"$tmp/cb_stale.parquet")
    }
    assert(err.getMessage.contains("stale artifact"))
    graft.exts.PqIndex.clear() // drop the doctored memo for later tests
  }

  test("span scrub: planted copies scrubbed to their unique tail, words conserved") {
    import org.apache.spark.sql.functions.col
    val corpus = Dedup.corpusWithNearDups(spark, dir)
    val rows = graft.exts.TextAnalysis.scrubSpans(corpus).collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4))))
      .toMap
    assert(rows.size.toLong === corpus.count()) // one verdict per doc
    // conservation: every word is either kept or removed
    rows.foreach { case (id, (n, k, rm, _)) =>
      assert(k + rm === n, s"doc $id: $k + $rm != $n")
    }
    // each planted copy (original text + ' zqx wvk') repeats every span
    // of its original at a LATER doc_id, so all n-2 original positions
    // scrub away; only tail positions can survive (their spans mix tail
    // words — unique to the copy). Removal is monotone in the duplicate
    // set, so >= n-2 removed is exact, not probabilistic.
    val planted = rows.keys.filter(_ >= 100000L)
    assert(planted.nonEmpty)
    planted.foreach { id =>
      val (n, k, rm, _) = rows(id)
      assert(rm >= n - 2, s"copy $id must scrub its original part: " +
        s"removed $rm of $n")
      assert(k <= 2, s"copy $id keeps at most its tail, kept $k")
    }
    // keep-first semantics: scrubbing is strictly ordered by (doc_id,
    // pos), so the globally LOWEST doc id can only lose words to its own
    // within-doc repeats — and some docs pass through whole (the fixture
    // texts are template-generated, so template-shared spans scrub from
    // later docs; docs with fresh content keep everything)
    assert(rows.exists { case (id, (n, _, rm, _)) =>
      id < 100000L && rm == 0L && n >= 5 },
      "some doc must pass through unscrubbed")
    assert(rows.exists { case (id, (_, _, rm, _)) =>
      id < 100000L && rm > 0L },
      "template-shared spans must scrub from later base docs")
  }

  test("decontaminate scrub: leaks reduced to their tails, eval docs held out") {
    val corpus = Dedup.corpusWithLeaks(spark, dir)
    val rows = graft.exts.TextAnalysis.decontaminateScrub(corpus).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap
    // eval docs (id % 97 == 0) are held out of the output entirely
    assert(rows.keys.forall(_ % 97 != 0))
    assert(rows.size.toLong ===
      corpus.filter(org.apache.spark.sql.functions
        .col("doc_id") % 97 =!= 0).count())
    rows.foreach { case (id, (n, k, rm)) =>
      assert(k + rm === n, s"doc $id: $k + $rm != $n")
    }
    // every planted leak repeats its eval source's spans verbatim, so
    // all original positions scrub; only the 2 tail words can survive
    val leaks = rows.keys.filter(_ >= 500000L)
    assert(leaks.nonEmpty)
    leaks.foreach { id =>
      val (n, k, rm) = rows(id)
      assert(rm >= n - 2 && k <= 2,
        s"leak $id must lose its eval-sourced text: kept $k of $n")
    }
    // docs sharing nothing with the eval partition pass through whole
    assert(rows.exists { case (id, (n, _, rm)) =>
      id < 500000L && rm == 0L && n >= 5 },
      "some clean doc must pass through unscrubbed")
  }

  test("stateless set-probe scrub equals the aggregate decontaminate scrub") {
    import org.apache.spark.sql.functions.{col, md5 => md5f}
    val corpus = Dedup.corpusWithLeaks(spark, dir)
    val evalDocs = corpus.filter(col("doc_id") % 97 === 0)
    val trainDocs = corpus.filter(col("doc_id") % 97 =!= 0)
    val set = graft.exts.TextAnalysis.evalSpanHashes(evalDocs)
    assert(set.length > 0 && set.toSeq == set.toSeq.sorted)
    // The aggregate scrub's digest is over the reconstructed word array,
    // so compare on whitespace-normalized text; byte-identity of clean
    // docs is asserted separately below.
    val scrubbed = graft.exts.TextAnalysis.scrubAgainstSet(trainDocs, set)
    val rowLocal = scrubbed
      .select(col("doc_id"),
        md5f(org.apache.spark.sql.functions.array_join(
          org.apache.spark.sql.functions.split(
            org.apache.spark.sql.functions.trim(col("text")), "\\s+"),
          " ")).as("m"),
        col("n_scrubbed"))
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2))))
      .toMap
    val aggregate = graft.exts.TextAnalysis.decontaminateScrub(corpus)
      .collect().map(r => r.getLong(0) -> ((r.getString(4), r.getLong(3))))
      .toMap
    assert(rowLocal.keySet === aggregate.keySet)
    rowLocal.foreach { case (id, (m, n)) =>
      assert((m, n) === aggregate(id), s"doc $id diverges")
    }
    // and the probe itself is exact: a hash not in the set never hits
    assert(rowLocal.values.exists(_._2 == 0L))
    assert(rowLocal.values.exists(_._2 > 0L))
    // clean docs (zero hits) pass through BYTE-identical — the scrub
    // must not whitespace-normalize documents it didn't touch
    val untouched = scrubbed.filter(col("n_scrubbed") === 0L)
      .select(col("doc_id"), col("text"))
      .join(trainDocs.select(col("doc_id"),
        col("text").as("orig")), "doc_id")
    assert(untouched.count() > 0)
    assert(untouched.filter(col("text") =!= col("orig")).count() === 0L,
      "clean docs must keep original bytes")
  }

  test("bucket-pruned ingest gate equals the full-scan gate exactly") {
    import org.apache.spark.sql.functions.col
    val corpus = graft.Tables.load(spark, dir, "embeddings")
      .select(col("vec_id"), col("embedding"))
    val batch = Similarity.incomingVecBatch(spark, dir)
    val bits = Similarity.adaptiveBucketBits(corpus.count())
    def gate(c: org.apache.spark.sql.DataFrame) =
      Similarity.embIncrementalGateAt(c, batch, 0.999, bits)
        .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getBoolean(2))))
        .toMap
    val full = gate(corpus)
    // prune the corpus to the batch's own buckets — a near-dup shares
    // its original's sign bucket by construction, so the verdicts are
    // IDENTICAL (this is what lets IndexLoop's gate read only the
    // batch's bucket directories instead of scanning the corpus)
    val buckets = batch
      .select(Similarity.signBucketBits(col("embedding"), bits).as("b"))
      .distinct().collect().map(_.getLong(0)).toSeq
    val pruned = gate(corpus
      .withColumn("b", Similarity.signBucketBits(col("embedding"), bits))
      .filter(col("b").isin(buckets: _*)).drop("b"))
    assert(full === pruned)
    assert(full.values.exists(_._2) && full.values.exists(!_._2))
  }

  test("curation audit: per-doc tier verdicts compose into the disposition") {
    val corpus = graft.exts.TextAnalysis.auditCorpus(spark, dir)
    val rows = graft.exts.TextAnalysis.curationAudit(corpus).collect()
      .map(r => r.getLong(0) -> ((r.getBoolean(3), r.getLong(4),
        r.getBoolean(5), r.getLong(7), r.getString(8))))
      .toMap
    assert(rows.size.toLong === corpus.count()) // one row per doc
    // composition law: pipeline order quality → dedup → keep
    rows.foreach { case (id, (qk, _, keeper, _, disp)) =>
      val want =
        if (!qk) "drop_quality"
        else if (!keeper) "drop_duplicate"
        else "keep"
      assert(disp === want, s"doc $id: $disp != $want")
    }
    // verbatim copies: content keeper is the original; a copy whose
    // original passes quality reads drop_duplicate
    val copies = rows.keys.filter(id => id >= 100000L && id < 700000L)
    assert(copies.nonEmpty)
    copies.foreach { id =>
      val (qk, keeper, isKeeper, _, disp) = rows(id)
      assert(!isKeeper && keeper <= id - 100000L, s"copy $id keeper $keeper")
      if (qk) assert(disp === "drop_duplicate")
    }
    // planted PII variants carry the email + phone + ip line
    val piiDocs = rows.keys.filter(_ >= 700000L)
    assert(piiDocs.nonEmpty)
    piiDocs.foreach { id =>
      assert(rows(id)._4 >= 3L, s"pii doc $id counts ${rows(id)._4}")
    }
    // organic docs carry no PII
    assert(rows.filter(_._1 < 100000L).values.forall(_._4 == 0L))
  }

  test("ccnet buckets: per-lang terciles are value-separated and cover ≥ thirds") {
    val rows = graft.exts.TextAnalysis.ccnetBuckets(spark, dir).collect()
      .map(r => (r.getString(1), r.getLong(2), r.getString(3)))
    assert(rows.nonEmpty)
    rows.groupBy(_._1).foreach { case (lang, g) =>
      val n = g.length
      val byBucket = g.groupBy(_._3).view
        .mapValues(_.map(_._2)).toMap
      assert(byBucket.keySet.subsetOf(Set("head", "middle", "tail")))
      val head = byBucket.getOrElse("head", Array.empty[Long])
      val mid = byBucket.getOrElse("middle", Array.empty[Long])
      val tail = byBucket.getOrElse("tail", Array.empty[Long])
      // value-separated: every head score ≥ every middle ≥ every tail
      if (head.nonEmpty && mid.nonEmpty) assert(head.min >= mid.max,
        s"$lang: head/middle overlap")
      if (mid.nonEmpty && tail.nonEmpty) assert(mid.min > tail.max,
        s"$lang: middle/tail overlap")
      // the head cut is the MINIMAL value cut reaching ⌈n/3⌉: at least
      // a third, and removing its tied boundary value drops below it
      assert(head.length >= (n + 2) / 3, s"$lang: head ${head.length}/$n")
      if (head.nonEmpty) {
        val boundaryTies = head.count(_ == head.min)
        assert(head.length - boundaryTies < (n + 2) / 3,
          s"$lang: head cut not minimal")
      }
      assert(head.length + mid.length + tail.length === n)
    }
  }

  test("splitCell separates the dense lobes despite organic periphery") {
    import spark.implicits._
    // a hot cell as it exists in the wild: a tight two-lobe mass (90)
    // plus stray peripheral members (12). Raw farthest-point seeding
    // lands on a peripheral stray and 2-means shaves slivers; the
    // trimmed seeding must still cut between the LOBES.
    val dims = 8
    def base(d: Int): Float = (((7 * 31 + d * 17) % 19) - 9).toFloat
    val hot = (0 until 90).map { i =>
      val v = (0 until dims).map(base)
      val lobed = if (i % 2 == 0) v.updated(0, v(0) + 2.0f)
        else v.updated(1, v(1) - 2.0f)
      (i.toLong, lobed.updated(2, v(2) + 0.01f * (i / 2)))
    }
    val strays = (0 until 12).map { i =>
      (1000L + i,
        (0 until dims).map(d => (((i * 13 + d * 29) % 17) - 8).toFloat))
    }
    val members = (hot ++ strays).toDF("vec_id", "embedding")
    val subs = Similarity.splitCell(members).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(subs.size === 102) // every member assigned
    val groups = subs.groupBy(_._2).view.mapValues(_.keys.toSet).toMap
    assert(groups.size === 2)
    // the cut is BETWEEN the lobes: each lobe lands whole in one group
    val evenLobe = hot.collect { case (id, _) if id % 2 == 0 => id }.toSet
    val oddLobe = hot.collect { case (id, _) if id % 2 == 1 => id }.toSet
    val gEven = groups.values.find(g => (g & evenLobe).nonEmpty).get
    assert(evenLobe.subsetOf(gEven), "even lobe must not be split")
    val gOdd = groups.values.find(g => (g & oddLobe).nonEmpty).get
    assert(oddLobe.subsetOf(gOdd), "odd lobe must not be split")
    assert(gEven !== gOdd, "the two lobes must separate — a sliver cut " +
      s"left sizes ${groups.view.mapValues(_.size).toMap}")
  }

  test("keep-list: planted copies dropped, kept count = component count") {
    val corpus = Dedup.corpusWithNearDups(spark, dir)
    val kl = Dedup.dupKeepList(corpus).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getBoolean(2)))).toMap
    assert(kl.size.toLong === corpus.count()) // total: one verdict per doc
    val planted = kl.keys.filter(_ >= 100000L)
    assert(planted.nonEmpty)
    planted.foreach { p =>
      assert(!kl(p)._2, s"planted copy $p must be dropped")
      assert(kl(p)._1 <= p - 100000L) // grouped with (at least) its original
    }
    // keep ⟺ the doc is its component's minimum; kept count = #components
    kl.foreach { case (id, (comp, keep)) => assert(keep === (id == comp)) }
    assert(kl.values.count(_._2) === kl.values.map(_._1).toSet.size)
  }

  test("dup-span scores: planted copies near 1000, organic docs near 0") {
    val out = graft.exts.TextAnalysis
      .dupSpanScores(Dedup.corpusWithNearDups(spark, dir)).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap
    val planted = out.keys.filter(_ >= 100000L)
    assert(planted.nonEmpty)
    // a planted copy shares every span except the few crossing its novel
    // two-token tail
    planted.foreach { p =>
      val (n, dup, frac) = out(p)
      assert(dup >= n - 6 && frac >= 700, s"copy $p scored ($n, $dup, $frac)")
    }
    // docs with no planted counterpart share no spans (tiny-vocab chance
    // collisions aside, their fraction is 0)
    val organic = out.collect {
      case (id, (_, _, f)) if id < 100000L && id % 7 != 0 => f
    }
    assert(organic.count(_ == 0L) * 2 > organic.size)
  }

  test("ivf cells: occupancy sums to the corpus, one row per cell") {
    val cells = Similarity.ivfCells(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(cells.map(_._2).sum ===
      graft.Tables.load(spark, dir, "embeddings").count())
    assert(cells.map(_._1).distinct.length === cells.length)
    assert(cells.length > 1)
    cells.foreach { case (cell, n, minId) =>
      assert(n > 0 && minId >= 0 && cell >= 0)
    }
  }

  test("clustered IVF layout: partition-pruned probes = in-memory search") {
    import org.apache.spark.sql.functions.col
    val emb = graft.Tables.load(spark, dir, "embeddings")
    val cent = graft.exts.IvfIndex.centroids(spark, dir)
    val path = tempDir("ivf-clustered") + "/emb_by_cell"
    graft.exts.IvfIndex.writeClustered(emb, cent, path)
    val got = graft.exts.IvfIndex.searchClustered(spark, path, cent,
      emb.filter(col("vec_id") < 8))
    val expected = Similarity.ivfSearch(emb, cent, col("vec_id") < 8, 5, 1)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val gotRows = got.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(gotRows === expected)
    // the corpus scan prunes to the probed cells at the directory level
    val plan = got.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("cell"),
      s"no cell partition filter in:\n$plan")
  }

  test("semantic curation: tail-perturbed copies evade md5 but not cosine") {
    import org.apache.spark.sql.functions.col
    // The planted copies differ in text (md5 misses them) but their
    // embeddings are scaled copies (cosine 1): after the semantic tier,
    // the totals must equal curating the UNPLANTED corpus — every copy
    // was removed, every original kept.
    val withSemantic = graft.exts.TextAnalysis
      .curateCorpusSemantic(spark, dir).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    val baseOnly = graft.exts.TextAnalysis.curateCorpus(
      graft.Tables.load(spark, dir, "documents")
        .select(col("doc_id"), col("text"), col("lang"))).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(withSemantic === baseOnly)
    assert(withSemantic.nonEmpty)
  }

  test("simhash: planted near-copies within small hamming distance") {
    val pairs = Dedup.simhashPairs(Dedup.corpusWithNearDups(spark, dir))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    val planted = pairs.filter { case (a, b, _) => b == a + 100000L }
    // appending two tokens to ~100 barely shifts per-bit weights
    assert(planted.size >= 30, s"found ${planted.size} planted simhash pairs")
    assert(planted.forall(_._3 <= 3))
  }

  test("simhash of identical text is identical (distance 0)") {
    val pairs = Dedup.simhashPairs(Dedup.corpusWithExactDups(spark, dir))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    val planted = pairs.filter { case (a, b, _) => b == a + 100000L }
    assert(planted.size == 50)
    assert(planted.forall(_._3 == 0))
  }

  test("rolling hash: golden values, stability, edit sensitivity") {
    assert(RollingHash.minWindowHash(Array.empty) === 0L)
    val h1 = RollingHash.minWindowHash("hello".getBytes("UTF-8"))
    // short input = whole-string polynomial hash
    var exp = 0L
    "hello".getBytes("UTF-8").foreach(b => exp = exp * RollingHash.Base + (b & 0xff))
    assert(h1 === exp)
    val long = ("the quick brown fox jumps over the lazy dog " * 5)
    val a = RollingHash.minWindowHash(long.getBytes("UTF-8"))
    assert(a === RollingHash.minWindowHash(long.getBytes("UTF-8")))
    // an edit localized to one region usually leaves the min window intact
    // OR changes it — but equal strings must match and the expression must
    // agree with the direct call
    import org.apache.spark.sql.functions.col
    RollingHash.register(spark)
    import spark.implicits._
    val viaExpr = Seq(long).toDF("t")
      .select(RollingHash.rolling_hash(col("t"))).collect()(0).getLong(0)
    assert(viaExpr === a)
  }

  test("sign-bucket LSH topk agrees with brute force for same-bucket hits") {
    import org.apache.spark.sql.functions._
    // Plant a scaled copy of each query vector: scaling preserves both the
    // sign bucket and the direction (cosine exactly 1), so every query's
    // brute-force #1 neighbor is guaranteed to live in its own bucket —
    // the implication below is exercised for all 8 queries, not vacuously.
    val base = spark.read.parquet(s"$dir/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    val corpus = base.unionByName(
      base.filter(col("vec_id") < 8)
        .select((col("vec_id") + 100000L).as("vec_id"),
          transform(col("embedding"), x => x * lit(2.0f)).as("embedding")))
    val brute = Similarity.bruteTopK(corpus, 8, 5).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val lsh = Similarity.lshTopK(corpus, 8, 5).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    assert(lsh.nonEmpty)
    // every query produces ranked neighbors 1..k without gaps
    lsh.groupBy(_._1).foreach { case (_, rows) =>
      assert(rows.map(_._3).sorted.toSeq === (1 to rows.size))
    }
    // Implication: when the brute-force global #1 neighbor shares the
    // query's sign bucket, the within-bucket ranking must also put it
    // first (same ordering over a candidate subset that contains it).
    val buckets = Similarity.withBucket(corpus)
      .select("vec_id", "bucket").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val bruteTop = brute.filter(_._3 == 1)
    val lshTop = lsh.filter(_._3 == 1).map(t => (t._1, t._2)).toMap
    val sameBucket = bruteTop.filter { case (q, n, _) =>
      buckets(q) == buckets(n)
    }
    assert(sameBucket.nonEmpty,
      "fixture must yield at least one query whose brute #1 shares its bucket")
    sameBucket.foreach { case (q, n, _) =>
      assert(lshTop.get(q).contains(n),
        s"query $q: brute #1 neighbor $n is in bucket ${buckets(q)} " +
          s"but LSH top-1 was ${lshTop.get(q)}")
    }
  }

  test("multimodal: assets → features is deterministic and total") {
    val assets = Multimodal.assets(spark, dir)
    val n = assets.count()
    val feats = Multimodal.extractFeatures(assets).collect()
    assert(feats.length === n)
    assert(feats.forall(_.n_frames >= 1))
    assert(feats.forall(f => f.mean_byte > 0 && f.mean_byte < 256))
    val again = Multimodal.extractFeatures(assets).collect()
    assert(feats.sortBy(_.doc_id).toSeq === again.sortBy(_.doc_id).toSeq)
  }

  test("artifact memos key on the corpus version: a rewrite invalidates") {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    val tmp = tempDir("graft-ver")
    Files.copy(Paths.get(s"$dir/documents.parquet"),
      Paths.get(s"$tmp/documents.parquet"),
      StandardCopyOption.REPLACE_EXISTING)
    val v1 = graft.Tables.version(tmp, "documents")
    assert(v1 !== 0L)
    // memo hit: same corpus version returns the identical sketch instance
    val s1 = graft.exts.BloomIndex.sketch(spark, tmp)
    assert(graft.exts.BloomIndex.sketch(spark, tmp) eq s1)
    // "rewrite" the table under the same path (mtime moves — the same
    // signal a real rewrite's fresh files give the listing hash)
    val f = Paths.get(s"$tmp/documents.parquet").toFile
    assert(f.setLastModified(f.lastModified() + 2000L))
    val v2 = graft.Tables.version(tmp, "documents")
    assert(v2 !== v1)
    // the memo must NOT serve the stale sketch for the new version
    assert(!(graft.exts.BloomIndex.sketch(spark, tmp) eq s1))
  }

  test("multimodal: real PNG round-trip decodes to the generative pixel ramps") {
    // the payloads are genuine PNG files: signature + IHDR, decodable by
    // the real codec
    val sample = Multimodal.pngAssets(spark, dir).filter(_.doc_id < 3).collect()
    assert(sample.nonEmpty)
    sample.foreach { a =>
      val sig = Array(0x89, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a).map(_.toByte)
      assert(a.png.take(8).sameElements(sig))
    }
    // decoded stats equal the closed-form sums for a hand-checked id
    val s7 = Multimodal.decodeStats(
      Multimodal.pngAssets(spark, dir).filter(_.doc_id == 7L)).collect()
    assert(s7.length === 1)
    val (w, h) = ((7 % 13 + 4), (7 % 11 + 4))
    assert(s7.head.width === w && s7.head.height === h)
    assert(s7.head.n_channels === 3)
    var (er, eg, eb) = (0L, 0L, 0L)
    for (y <- 0 until h; x <- 0 until w) {
      er += (7 * 3 + x + y) % 256
      eg += (7 * 5 + 2 * x) % 256
      eb += (7 * 7 + 3 * y) % 256
    }
    assert((s7.head.sum_r, s7.head.sum_g, s7.head.sum_b) === ((er, eg, eb)))
    // a corrupted payload must fail decode, not silently return numbers
    val bad = sample.head.png.clone()
    bad(12) = (bad(12) ^ 0x7f).toByte // inside IHDR
    intercept[Exception] {
      val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bad))
      img.getWidth // IIOException on read, or NPE if the reader bails
    }
  }

  test("pq: training reduces reconstruction error; ADC search finds true neighbors") {
    import org.apache.spark.sql.functions._
    import graft.exts.PqIndex
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    // Lloyd rounds must strictly improve on the seed codebook
    val cb0 = PqIndex.quantizedSubs(emb.filter(col("vec_id") < PqIndex.CodeWords))
      .select(col("m"), col("vec_id").cast("int").as("code"),
        col("qsub").as("cw"))
    val errSeed = PqIndex.assignCodes(emb, cb0)
      .agg(sum(col("d2"))).head().getLong(0)
    val errTrained = PqIndex.assignCodes(emb, PqIndex.trainedCodebook(emb))
      .agg(sum(col("d2"))).head().getLong(0)
    assert(errTrained < errSeed,
      s"trained codebook must beat seeds: $errTrained !< $errSeed")
    // ADC recall@5 vs exact integer-L2 ground truth (driver-side is fine
    // at fixture scale — this grades the index, it isn't the scale path)
    val vecs = emb.select(col("vec_id"), col("embedding")).collect()
      .map(r => r.getLong(0) ->
        r.getSeq[Float](1).map(x => math.round(x.toDouble * 10000)).toArray)
      .toMap
    def l2(a: Array[Long], b: Array[Long]): Long =
      a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum
    val truth = (0L until 8L).map { q =>
      q -> vecs.keys.filter(_ != q).toSeq
        .sortBy(n => (l2(vecs(q), vecs(n)), n)).take(5).toSet
    }.toMap
    val got = PqIndex.pqSearch(spark, dir).collect()
      .groupBy(_.getLong(0))
      .map { case (q, rows) => q -> rows.map(_.getLong(1)).toSet }
    assert(got.keySet === truth.keySet)
    got.foreach { case (q, ns) =>
      assert(ns.size === 5)
    }
    val recall = got.map { case (q, ns) =>
      ns.intersect(truth(q)).size / 5.0
    }.sum / got.size
    assert(recall >= 0.2, s"ADC recall@5 too low: $recall")
  }

  test("ivf_pq: clustered codes layout — partition-pruned ADC = in-memory") {
    import graft.exts.PqIndex
    val path = tempDir("ivfpq") + "/codes_by_cell"
    PqIndex.writeClusteredCodes(spark, dir, path)
    val got = PqIndex.searchClusteredCodes(spark, dir, path)
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getLong(3)))
      .toSet
    val expected = rows(PqIndex.ivfPqSearch(spark, dir))
    assert(expected.nonEmpty)
    assert(rows(got) === expected)
    // the codes scan prunes to the probed cells at the directory level —
    // an unprobed cell's files are never read
    val plan = got.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("cell"),
      s"no cell partition filter in:\n$plan")
  }

  test("ivf_pq: probed-cell restriction can only raise the best distance") {
    import graft.exts.PqIndex
    // The composed search ranks over a SUBSET of pq_search's candidates
    // (only probed cells), so per query its best ADC distance is >= the
    // unrestricted search's best — the invariant that survives any
    // fixture regeneration, unlike per-query recall values.
    def best(df: org.apache.spark.sql.DataFrame): Map[Long, Long] =
      df.filter(org.apache.spark.sql.functions.col("rank") === 1)
        .collect().map(r => r.getLong(0) -> r.getLong(3)).toMap
    val composed = best(PqIndex.ivfPqSearch(spark, dir))
    val full = best(PqIndex.pqSearch(spark, dir))
    assert(composed.keySet === full.keySet)
    composed.foreach { case (q, d) =>
      assert(d >= full(q),
        s"query $q: composed best $d < unrestricted best ${full(q)}")
    }
    // both recall frames grade against the same exact integer-L2 truth
    val rec = PqIndex.ivfPqRecall(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(rec.length === 8)
    rec.foreach { case (_, kTruth, hits, x1000) =>
      assert(kTruth === 5L)
      assert(hits >= 0L && hits <= 5L)
      assert(x1000 === hits * 1000 / 5)
    }
  }

  test("ivf maintenance loop closure: split decision -> local 2-means -> skew resolved") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{broadcast, col, row_number}
    import org.apache.spark.sql.expressions.Window
    // A skewed corpus: 64 spread seed vectors + a 320-vector hot mass
    // with two lobes (vec(7) ± 2.0 on different dims). With k=8 the mass
    // crowds one cell, the decision flags split, and the ACTION —
    // cell-local 2-means seeded from inside (Similarity.splitCell) —
    // carves it up: the compaction loop's detect -> act -> quiesce
    // cycle, for the index. (Raising the global k does NOT work here:
    // every global seed sits outside the tight mass, so Lloyd never
    // places two centroids inside it — measured before splitCell
    // existed, max/mean occupancy got WORSE, 6.8 -> 13.5.)
    val dims = 8
    def vec(seed: Long): Seq[Float] =
      (0 until dims).map(d => (((seed * 31 + d * 17) % 19) - 9).toFloat)
    val spread = (0L until 64L).map(i => (i, vec(i)))
    val tight = (0 until 320).map { i =>
      val base = vec(7L)
      val lobe = if (i % 2 == 0) base.updated(0, base(0) + 2.0f)
        else base.updated(1, base(1) - 2.0f)
      (64L + i, lobe.updated(2, base(2) + 0.01f * (i / 2)))
    }
    val emb = (spread ++ tight).toDF("vec_id", "embedding")
    val cent = Similarity.trainedCentroids(emb, k = 8)
    val w = Window.partitionBy(col("vec_id"))
      .orderBy(col("cent_cos").desc, col("cent_id"))
    val assigned = emb.join(broadcast(cent))
      .withColumn("cent_cos",
        Similarity.cosine(col("embedding"), col("cent")))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("vec_id"), col("cent_id").as("cell"))
    val occ = assigned.groupBy(col("cell")).count()
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val decisions = Similarity.ivfMaintenanceFor(
      occ.toSeq.map { case (c, n) => (c, n, 0L) }
        .toDF("cell", "n_vectors", "min_vec_id"))
      .collect().map(r => r.getLong(0) -> r.getString(4)).toMap
    val (hot, hotN) = occ.maxBy(_._2)
    assert(hotN >= 320L, s"the hot mass must land in one cell: $occ")
    assert(decisions(hot) === "split",
      s"hot cell must flag split: occ=$occ d=$decisions")
    // act + iterate: split every flagged cell via local 2-means until
    // the decision quiesces (all keep/merge) — the maintenance LOOP,
    // like the compaction cycle. One split of a mass this large (320 of
    // 384 vectors) cannot reach 2x-mean; the loop gets there.
    val memberIds = assigned.collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    var cells: Map[String, Seq[Long]] = memberIds.groupBy(_._2)
      .map { case (c, ms) => c.toString -> ms.map(_._1).toSeq }
    var rounds = 0
    def verdicts(cs: Map[String, Seq[Long]]): Map[String, String] = {
      val occDf = cs.toSeq.zipWithIndex
        .map { case ((name, ms), i) => (i.toLong, ms.length.toLong, 0L, name) }
        .toDF("cell", "n_vectors", "min_vec_id", "name")
      Similarity.ivfMaintenanceFor(
        occDf.select(col("cell"), col("n_vectors"), col("min_vec_id")))
        .join(occDf.select(col("cell"), col("name")), "cell")
        .collect().map(r => r.getString(5) -> r.getString(4)).toMap
    }
    var flagged = verdicts(cells).filter(_._2 == "split").keySet
    assert(flagged.nonEmpty) // the loop genuinely has work to do
    while (flagged.nonEmpty && rounds < 5) {
      rounds += 1
      for (name <- flagged) {
        val ids = cells(name)
        val members = emb.filter(col("vec_id").isin(ids: _*))
        val subs = Similarity.splitCell(members).collect()
          .map(r => (r.getLong(0), r.getLong(1)))
        assert(subs.length === ids.length) // every member re-assigned
        val bySub = subs.groupBy(_._2)
        assert(bySub.size === 2 && bySub.values.forall(_.length < ids.length),
          s"split of $name must strictly shrink: ${bySub.view.mapValues(_.length).toMap}")
        cells = cells - name ++ bySub.map { case (s, ms) =>
          s"$name/$s" -> ms.map(_._1).toSeq
        }
      }
      flagged = verdicts(cells).filter(_._2 == "split").keySet
    }
    assert(flagged.isEmpty, s"loop must quiesce, still split-flagged: $flagged")
    // no member lost or duplicated across the whole loop
    assert(cells.values.flatten.toSeq.sorted === memberIds.map(_._1).toSeq.sorted)
    assert(rounds >= 2, s"this fixture needs a genuine loop, got $rounds round(s)")

    // the engine-side pass (applyMaintenance) performs one whole round:
    // drops merge-flagged cents, replaces split cells by sub-centroids,
    // and the resulting assignment is strictly less skewed
    def skew(cs: org.apache.spark.sql.DataFrame): (Int, Double) = {
      val w2 = Window.partitionBy(col("vec_id"))
        .orderBy(col("cent_cos").desc, col("cent_id"))
      val o = emb.join(broadcast(cs))
        .withColumn("cent_cos",
          Similarity.cosine(col("embedding"), col("cent")))
        .withColumn("rn", row_number().over(w2))
        .filter(col("rn") === 1)
        .groupBy(col("cent_id")).count()
        .collect().map(_.getLong(1))
      (o.length, o.max.toDouble * o.length / o.sum)
    }
    val cents1 = Similarity.applyMaintenance(emb, cent)
    val (n0, s0) = skew(cent)
    val (n1, s1) = skew(cents1)
    assert(s1 < s0, s"one engine pass must reduce skew: $s0 -> $s1")
    assert(n1 >= 2 && math.abs(n1 - n0) <= n0,
      s"revised centroid count sane: $n0 -> $n1")
    // relabeled ids are dense 0..n-1
    val ids1 = cents1.select(col("cent_id")).collect().map(_.getLong(0)).sorted
    assert(ids1.toSeq === (0L until ids1.length.toLong))
  }

  test("ivf maintenance: split/merge/keep fire on the documented thresholds") {
    import spark.implicits._
    // occupancies (100, 30, 10, 10, 1): total 151 over 5 cells, mean
    // 30.2 — split iff n > 2×mean (cross-multiplied), merge iff
    // n < mean/2, else keep
    val cells = Seq((0L, 100L, 0L), (1L, 30L, 5L), (2L, 10L, 9L),
      (3L, 10L, 12L), (4L, 1L, 40L))
      .toDF("cell", "n_vectors", "min_vec_id")
    val got = Similarity.ivfMaintenanceFor(cells).collect()
      .map(r => r.getLong(0) -> (r.getLong(3), r.getString(4))).toMap
    assert(got(0L) === ((100L * 5 * 1000 / 151, "split")))
    assert(got(1L)._2 === "keep")
    assert(got(2L)._2 === "merge")
    assert(got(3L)._2 === "merge")
    assert(got(4L)._2 === "merge")
    // the balanced fixture index must be all-keep (the no-op decision)
    val fixture = Similarity.ivfMaintenance(spark, dir).collect()
      .map(_.getString(4))
    assert(fixture.nonEmpty && fixture.forall(_ == "keep"))
  }

  test("keep-best retains the most complete copy where keep-min keeps the original") {
    import org.apache.spark.sql.functions.{col, length}
    val corpus = Dedup.corpusWithNearDups(spark, dir)
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
    val best = rows(Dedup.dupKeepBest(corpus))
    val list = rows(Dedup.dupKeepList(corpus))
    assert(best.map(_._1).toSet === list.map(_._1).toSet)
    // exactly one keeper per component under BOTH rules
    for (vs <- Seq(best, list); (_, comp) <- vs.groupBy(_._2)) {
      assert(comp.count(_._3) === 1, s"one keeper per component: $comp")
    }
    val lens = corpus.select(col("doc_id"), length(col("text")))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    // the keep-best winner is the longest member of its component
    // (ties → lowest id); keep-min's is the lowest id
    best.groupBy(_._2).foreach { case (_, members) =>
      val winner = members.find(_._3).get._1
      val bestLen = members.map(m => lens(m._1)).max
      assert(lens(winner) === bestLen)
      assert(winner === members.filter(m => lens(m._1) == bestLen)
        .map(_._1).min)
    }
    list.groupBy(_._2).foreach { case (c, members) =>
      assert(members.find(_._3).get._1 === members.map(_._1).min)
    }
    // the rules genuinely differ: tail-appended planted copies are
    // longer, so many win under keep-best while losing under keep-min
    val bestKeep = best.filter(_._3).map(_._1).toSet
    val listKeep = list.filter(_._3).map(_._1).toSet
    val flipped = bestKeep.diff(listKeep).count(_ >= 100000L)
    assert(flipped > 0, "no planted copy flipped to keeper under keep-best")
  }

  test("corpus diff: statuses partition the id universe, verdicts match set algebra") {
    import org.apache.spark.sql.functions.col
    val base = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"), col("text"))
    val next = Dedup.corpusNextVersion(spark, dir)
    val got = Dedup.corpusDiff(base, next).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val baseIds = base.select("doc_id").collect().map(_.getLong(0)).toSet
    val nextIds = next.select("doc_id").collect().map(_.getLong(0)).toSet
    // exactly one row per id in the union, statuses = the set algebra
    assert(got.keySet === baseIds.union(nextIds))
    assert(got.filter(_._2 == "added").keySet === nextIds.diff(baseIds))
    assert(got.filter(_._2 == "removed").keySet === baseIds.diff(nextIds))
    val both = baseIds.intersect(nextIds)
    assert(got.filter(kv => kv._2 == "changed" || kv._2 == "kept").keySet
      === both)
    // the deterministic fixture edit rule maps exactly to 'changed'
    got.foreach { case (id, st) =>
      if (both(id)) assert((st == "changed") === (id % 10 == 0), s"$id: $st")
    }
  }

  test("near ingest gate: verbatim and tail-edits flagged, scrambled novel") {
    val rows = Dedup.incrementalNearDups(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
    assert(rows.nonEmpty)
    rows.foreach { case (id, n, dup) =>
      val kind =
        if (id < Dedup.NearTailOff) "verbatim"
        else if (id < Dedup.NearScrambleOff) "tail-edit"
        else "scrambled"
      kind match {
        case "scrambled" =>
          assert(!dup && n == 0L, s"scrambled $id must be novel")
        case _ =>
          assert(dup && n >= 1L, s"$kind $id must be flagged")
      }
    }
  }

  test("emb incremental gate: scaled re-ingests dropped, novel directions kept") {
    val rows = Similarity.embIncremental(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
    assert(rows.nonEmpty)
    val (scaled, flipped) = rows.partition(_._1 < Similarity.VecFlippedOff)
    assert(scaled.nonEmpty && flipped.nonEmpty)
    // every ×2 re-ingest matches its source (cosine exactly 1)
    scaled.foreach { case (id, n, dup) =>
      assert(dup && n >= 1L, s"scaled batch vector $id must be flagged")
    }
    // every sign-flip is novel: different bucket AND cosine −1
    flipped.foreach { case (id, n, dup) =>
      assert(!dup && n === 0L, s"flipped batch vector $id must survive")
    }
  }

  test("trained artifacts and band pairs are partitioning-invariant") {
    import graft.exts.PqIndex
    // Deterministic-training claims die quietly when a groupBy minimum
    // or a collect_list order sneaks in partition-order dependence; pin
    // value equality under a different input partitioning.
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    def cbRows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getSeq[Long](2).toList)).toSet
    assert(cbRows(PqIndex.trainedCodebook(emb)) ===
      cbRows(PqIndex.trainedCodebook(emb.repartition(7))))
    val corpus = Dedup.corpusWithNearDups(spark, dir)
    def pairRows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3)))
      .toSet
    assert(pairRows(Dedup.simhashBandPairs(corpus)) ===
      pairRows(Dedup.simhashBandPairs(corpus.repartition(5))))
  }

  test("ivf_pq_refine: exact rerank never loses recall vs the ADC ranking") {
    import graft.exts.PqIndex
    // The refine shortlist (ADC top k·RefineExpand) is a superset of the
    // ADC top-k, and every global-truth member in the shortlist outranks
    // all non-truth members under the exact metric (a non-truth item's
    // exact distance is ≥ the k-th truth distance by definition), so
    // refine hits ⊇ ADC hits per query — asserted, not assumed.
    def topSets(df: org.apache.spark.sql.DataFrame): Map[Long, Set[Long]] =
      df.collect().map(r => (r.getLong(0), r.getLong(1)))
        .groupBy(_._1).map { case (q, rs) => q -> rs.map(_._2).toSet }
    val adc = topSets(PqIndex.ivfPqSearch(spark, dir))
    val refined = topSets(PqIndex.ivfPqRefine(spark, dir))
    assert(refined.keySet === adc.keySet)
    // exact truth per query, driver-side (fixture scale)
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val vecs = emb.collect().map(r => r.getLong(0) ->
      r.getSeq[Float](1).map(x => math.round(x.toDouble * 10000)).toArray)
      .toMap
    def l2(a: Array[Long], b: Array[Long]): Long =
      a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum
    val truth = adc.keySet.map { q =>
      q -> vecs.keys.filter(_ != q).toSeq
        .sortBy(n => (l2(vecs(q), vecs(n)), n)).take(5).toSet
    }.toMap
    adc.keys.foreach { q =>
      val adcHits = adc(q).intersect(truth(q)).size
      val refHits = refined(q).intersect(truth(q)).size
      assert(refHits >= adcHits,
        s"query $q: refine hits $refHits < ADC hits $adcHits")
    }
  }

  test("simhash band pairs: planted near-dups found within hamming 3") {
    import org.apache.spark.sql.functions._
    val rows = Dedup.simhashBandPairs(Dedup.corpusWithNearDups(spark, dir))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3)))
    assert(rows.nonEmpty)
    // every emitted pair obeys the contract: ≥1 shared 16-bit band,
    // hamming ≤ 3 over the 62-bit signatures
    rows.foreach { case (a, b, nb, h) =>
      assert(a < b && nb >= 1 && nb <= 4 && h >= 0 && h <= 3)
    }
    // a 2-token tail on a ~100-word doc rarely flips >3 of 62 vote sums:
    // the majority of planted copies must surface
    val planted = Dedup.corpusWithNearDups(spark, dir)
      .filter(col("doc_id") >= 100000L).select(col("doc_id") - 100000L)
      .collect().map(_.getLong(0))
    val found = planted.count(id =>
      rows.exists(r => r._1 == id && r._2 == id + 100000L))
    assert(found * 2 >= planted.length,
      s"only $found of ${planted.length} planted pairs within hamming 3")
  }

  test("minhash band pairs: planted near-dups collide in most bands") {
    import org.apache.spark.sql.functions._
    val pairs = Dedup.minhashBandPairs(Dedup.corpusWithNearDups(spark, dir))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(pairs.nonEmpty)
    // near-copies differ by a 2-token tail: nearly all shingles shared, so
    // nearly all minima agree and most of the 16 bands collide
    val planted = Dedup.corpusWithNearDups(spark, dir)
      .filter(col("doc_id") >= 100000L).select((col("doc_id") - 100000L))
      .collect().map(_.getLong(0))
    val found = planted.count(id => pairs.contains((id, id + 100000L)))
    assert(found >= planted.length * 8 / 10,
      s"only $found of ${planted.length} planted near-dup pairs surfaced")
    // short docs lose a larger shingle fraction to the planted tail, so
    // the per-pair bar is low; the population bar is the strong check
    planted.filter(id => pairs.contains((id, id + 100000L)))
      .foreach(id => assert(pairs((id, id + 100000L)) >= 2L,
        s"pair ($id, ${id + 100000L}) only ${pairs((id, id + 100000L))} bands"))
    val collided = planted.filter(id => pairs.contains((id, id + 100000L)))
      .map(id => pairs((id, id + 100000L)))
    assert(collided.map(_.toDouble).sum / collided.length >= 10.0,
      "planted pairs should collide in most of the 16 bands on average")
    assert(pairs.keys.forall { case (a, b) => a < b })
  }

  test("multimodal: real WAV round-trip decodes to the generative sample train") {
    // the payloads are genuine RIFF/WAVE files, header-checkable
    val sample = Multimodal.wavAssets(spark, dir).filter(_.doc_id < 3).collect()
    assert(sample.nonEmpty)
    sample.foreach { a =>
      assert(new String(a.wav.take(4), "US-ASCII") === "RIFF")
      assert(new String(a.wav.slice(8, 12), "US-ASCII") === "WAVE")
    }
    // decoded stats equal the closed-form sums for a hand-checked id
    val s7 = Multimodal.decodeWavStats(
      Multimodal.wavAssets(spark, dir).filter(_.doc_id == 7L)).collect()
    assert(s7.length === 1)
    val n = (7 % 500 + 100)
    assert(s7.head.sample_rate === 8000 && s7.head.n_channels === 1)
    assert(s7.head.bits === 16 && s7.head.n_samples === n.toLong)
    var (es, ea) = (0L, 0L)
    for (i <- 0 until n) {
      val s = (7L * 31 + i.toLong * 17) % 65536 - 32768
      es += s; ea += math.abs(s)
    }
    assert((s7.head.sum_amp, s7.head.sum_abs) === ((es, ea)))
    // a payload with a corrupted RIFF header must fail decode loudly
    val bad = sample.head.wav.clone()
    bad(0) = 'X'.toByte
    intercept[Exception] {
      javax.sound.sampled.AudioSystem.getAudioInputStream(
        new java.io.ByteArrayInputStream(bad))
    }
  }

  test("multimodal: real animated GIF round-trip decodes every frame in order") {
    // genuine GIF89a containers
    val sample = Multimodal.gifAssets(spark, dir).filter(_.doc_id < 3).collect()
    assert(sample.nonEmpty)
    sample.foreach(a =>
      assert(new String(a.gif.take(6), "US-ASCII") === "GIF89a"))
    // decoded stats equal the closed-form ramps for a hand-checked id
    val s7 = Multimodal.decodeGifStats(
      Multimodal.gifAssets(spark, dir).filter(_.doc_id == 7L)).collect()
    assert(s7.length === 1)
    val (nf, w, h) = ((7 % 5 + 2), (7 % 13 + 4), (7 % 11 + 4))
    assert(s7.head.n_frames === nf)
    assert(s7.head.width === w && s7.head.height === h)
    var (es, ews) = (0L, 0L)
    for (f <- 0 until nf; y <- 0 until h; x <- 0 until w) {
      val v = (7L * 3 + 11 * f + 5 * x + 3 * y) % 256
      es += v; ews += f * v
    }
    assert((s7.head.sum_gray, s7.head.wsum_gray) === ((es, ews)))
    // truncated container must fail decode loudly, not return stats
    val bad = java.util.Arrays.copyOf(sample.head.gif, 20)
    intercept[Exception] {
      val r = javax.imageio.ImageIO.getImageReadersByFormatName("gif").next()
      r.setInput(javax.imageio.ImageIO.createImageInputStream(
        new java.io.ByteArrayInputStream(bad)))
      r.getNumImages(true)
    }
  }

  test("multimodal: binaryFile ingest round-trips the media-lake layout") {
    // write one .gif object per asset (the real lake layout), read back
    // through Spark's binaryFile source, and decode — stats must equal
    // the direct in-memory path exactly
    val outDir = tempDir("graft-media-lake")
    val assets = Multimodal.gifAssets(spark, dir).filter(_.doc_id < 50)
    Multimodal.writeMediaFiles(assets, outDir)
    // a non-matching file must be pruned by the glob at listing time
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(outDir, "readme.txt"), "not media")
    val ingested = Multimodal.readMediaFiles(spark, outDir)
    val viaFiles = Multimodal.decodeGifStats(ingested)
      .collect().map(s => s.doc_id -> s).toMap
    val direct = Multimodal.decodeGifStats(assets)
      .collect().map(s => s.doc_id -> s).toMap
    assert(viaFiles.nonEmpty && viaFiles.keySet === direct.keySet)
    viaFiles.foreach { case (id, s) => assert(s === direct(id)) }
  }

  test("multimodal: frame sampling yields k in-bounds frames per asset") {
    val assets = Multimodal.assets(spark, dir)
    val frames = Multimodal.sampleFrames(assets, 4).collect()
    assert(frames.length === assets.count() * 4)
    frames.foreach { r =>
      assert(r.getInt(1) >= 0 && r.getInt(1) < 4)
      assert(r.getInt(3) >= 0 && r.getInt(3) <= 255)
    }
  }

  test("int8 quantization bounds values and preserves cosine geometry") {
    import org.apache.spark.sql.functions._
    val base = spark.read.parquet(s"$dir/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    val q = Similarity.quantizeInt8(base)
      .join(base, "vec_id")
      .collect()
    assert(q.nonEmpty)
    q.foreach { r =>
      val scale = r.getFloat(1)
      val codes = r.getSeq[Byte](2)
      val orig = r.getSeq[Float](3)
      // codes bounded to int8 symmetric range
      assert(codes.forall(c => c >= -127 && c <= 127))
      assert(scale >= 0f)
      // dequantized vector stays geometrically close: cosine >= 0.99
      val deq = codes.map(_.toDouble * scale)
      val o = orig.map(_.toDouble)
      val dot = deq.zip(o).map { case (a, b) => a * b }.sum
      val na = math.sqrt(deq.map(x => x * x).sum)
      val nb = math.sqrt(o.map(x => x * x).sum)
      if (na > 0 && nb > 0)
        assert(dot / (na * nb) >= 0.99,
          s"vec ${r.getLong(0)} cosine ${dot / (na * nb)} after dequant")
    }
  }

  test("multimodal: audio windows tile the payload exactly") {
    import org.apache.spark.sql.functions._
    val assets = graft.exts.Multimodal.assets(spark, dir)
    val w = graft.exts.Multimodal.audioWindows(assets, windowBytes = 256)
    // windows cover every byte exactly once, per asset
    val tiled = w.groupBy(col("doc_id"))
      .agg(sum(col("n_bytes")).as("covered"),
        count(lit(1)).as("n_windows"),
        max(col("energy")).as("max_e"))
      .join(assets.toDF().select(col("doc_id"), col("byte_len")), "doc_id")
      .collect()
    assert(tiled.nonEmpty)
    tiled.foreach { r =>
      val (covered, nWin, maxE, byteLen) =
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))
      assert(covered === byteLen, s"doc ${r.getLong(0)} windows don't tile")
      assert(nWin === (byteLen + 255) / 256)
      assert(maxE >= 0 && maxE <= 128)
    }
  }

  test("multimodal: resize preserves aspect ratio bound") {
    val resized = Multimodal.resizeMeta(Multimodal.assets(spark, dir), 64)
    resized.collect().foreach { r =>
      assert(r.getInt(3) <= 64 && r.getInt(4) <= 64)
      assert(r.getInt(3) >= 1 && r.getInt(4) >= 1)
    }
  }

  test("incremental dedup: bloom tier prunes, result equals plain anti-join") {
    import org.apache.spark.sql.functions._
    val corpus = graft.Tables.load(spark, dir, "documents")
      .select(col("doc_id"), col("text"))
    val batch = Dedup.incomingBatch(spark, dir)
    val out = Dedup.incrementalNew(corpus, batch)
      .collect().map(_.getLong(0)).toSet
    // ground truth: plain anti-join on text equality
    val truth = batch.join(corpus.select(col("text")), Seq("text"), "left_anti")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(out == truth)
    // every verbatim re-ingest (+600000) dropped, every perturbed (+700000) kept
    assert(out.nonEmpty && out.forall(_ >= 700000L))
    assert(out.size == batch.filter(col("doc_id") >= 700000L).count())
  }

  test("bloom expression: zero false negatives, positive rate tracks fpp") {
    import org.apache.spark.sql.functions._
    import graft.functions.BloomFilterExpr.bloom_might_contain
    val corpus = graft.Tables.load(spark, dir, "documents")
    val bf = corpus.select(xxhash64(col("text")).as("h"))
      .stat.bloomFilter("h", 500, 0.01)
    // every inserted key must probe true (no false negatives — the
    // property the incremental-dedup shortcut depends on)
    val inserted = corpus
      .select(bloom_might_contain(bf, xxhash64(col("text"))).as("m"))
      .collect()
    assert(inserted.forall(_.getBoolean(0)))
    // novel keys probe true only at ~fpp: perturbed texts are not inserted
    val novel = corpus
      .select(bloom_might_contain(bf,
        xxhash64(concat(col("text"), lit(" qq zz")))).as("m"))
      .collect()
    val fpRate = novel.count(_.getBoolean(0)).toDouble / novel.length
    assert(fpRate <= 0.05, s"false-positive rate $fpRate way above 1% target")
  }

  test("chunking tiles every document: full windows, truncated tail, overlap") {
    import org.apache.spark.sql.functions._
    import graft.exts.TextAnalysis.{ChunkOverlap, ChunkTokens}
    val stride = ChunkTokens - ChunkOverlap
    val docs = graft.Tables.load(spark, dir, "documents")
    val nTokens = docs
      .select(col("doc_id"), size(split(trim(col("text")), "\\s+")).as("n"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val chunks = graft.exts.TextAnalysis.chunkDocs(docs)
      .collect().groupBy(_.getLong(0))
    assert(chunks.keySet == nTokens.keySet)
    chunks.foreach { case (id, rows) =>
      val n = nTokens(id)
      val expected = (math.max(n - ChunkTokens, 0) + stride - 1) / stride + 1
      assert(rows.length == expected, s"doc $id: ${rows.length} vs $expected")
      val byIdx = rows.sortBy(_.getLong(1))
      assert(byIdx.map(_.getLong(1)).toSeq == (0L until expected))
      // all but the last chunk are full windows; the tail reaches exactly n
      byIdx.init.foreach(r => assert(r.getInt(2) == ChunkTokens))
      val last = byIdx.last
      assert((expected - 1) * stride + last.getInt(2) == n)
    }
  }

  test("ensemble components unite both duplication modes in one verdict") {
    val comp = Dedup.dupComponents(
        Dedup.ensemblePairs(Dedup.corpusWithMixedDups(spark, dir)))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val nearPlanted = comp.keys.filter(id => id >= 100000L && id < 400000L)
    val excerptPlanted = comp.keys.filter(_ >= 400000L)
    assert(nearPlanted.nonEmpty && excerptPlanted.nonEmpty)
    // each planted node shares its source's component — near-copies via
    // the resemblance threshold, excerpts via the containment threshold
    nearPlanted.foreach(id => assert(comp(id) == comp(id - 100000L)))
    excerptPlanted.foreach(id => assert(comp(id) == comp(id - 400000L)))
  }

  test("dup chunks: planted copies surface every window, keep-first verdict") {
    import org.apache.spark.sql.functions._
    val corpus = Dedup.corpusWithExactDups(spark, dir)
    val dups = graft.exts.TextAnalysis.dupChunks(corpus).collect()
    assert(dups.nonEmpty)
    // the keep verdict is the earliest occurrence — for a planted copy
    // that is always the original, never the +100000 replica
    dups.foreach(r => assert(r.getLong(3) < 100000L))
    // every chunk of every replica is an excess copy in some group
    val replicaChunks = graft.exts.TextAnalysis.chunkDocs(
        graft.Tables.load(spark, dir, "documents")
          .filter(col("doc_id") % 10 === 0)
          .select(col("doc_id"), col("text")))
      .count()
    val excess = dups.map(r => r.getLong(1) - 1).sum
    assert(excess >= replicaChunks,
      s"excess $excess < replica chunks $replicaChunks")
  }

  test("bloom index artifact: save/load round-trips; loaded = fresh build") {
    import org.apache.spark.sql.functions._
    import graft.exts.BloomIndex
    import graft.functions.BloomFilterExpr.bloom_might_contain
    val corpus = graft.Tables.load(spark, dir, "documents")
      .select(col("doc_id"), col("text"))
    val fresh = BloomIndex.build(corpus)
    val path = tempDir("graft-bloom") + "/corpus.bloom"
    BloomIndex.save(fresh, path)
    val loaded = BloomIndex.load(path)
    // identical probe behavior over inserted AND novel keys
    val probes = corpus.select(
      bloom_might_contain(fresh, xxhash64(col("text"))).as("a"),
      bloom_might_contain(loaded, xxhash64(col("text"))).as("b"),
      bloom_might_contain(fresh,
        xxhash64(concat(col("text"), lit(" x")))).as("c"),
      bloom_might_contain(loaded,
        xxhash64(concat(col("text"), lit(" x")))).as("d")).collect()
    probes.foreach { r =>
      assert(r.getBoolean(0) == r.getBoolean(1))
      assert(r.getBoolean(2) == r.getBoolean(3))
    }
    // incremental dedup through the loaded artifact = through a fresh build
    val batch = Dedup.incomingBatch(spark, dir)
    val viaLoaded = Dedup.incrementalNew(corpus, batch, loaded)
      .collect().map(_.getLong(0)).toSet
    val viaFresh = Dedup.incrementalNew(corpus, batch)
      .collect().map(_.getLong(0)).toSet
    assert(viaLoaded == viaFresh)
  }

  test("lm score: fluent text outscores shuffled text under the corpus LM") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // corpus of repeated fluent sentences + one doc with the same words
    // in a fixed scrambled order: the bigram LM is trained on the corpus
    // itself, so the scrambled doc's transitions are rare by construction
    val fluent = (1 to 20).map(i =>
      (i.toLong, "the quick brown fox jumps over the lazy dog"))
    val scrambled = Seq((99L, "dog the over quick lazy brown the jumps fox"))
    val docs = (fluent ++ scrambled).toDF("doc_id", "text")
    val scores = graft.exts.TextAnalysis.lmScores(docs)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    // (×4, not tighter: the unsmoothed MLE grants singleton contexts a
    // full 10⁶ ppm, which props the scrambled score up — the novel_frac
    // column is what flags those, see the lmScores scaladoc)
    assert(scores(1L) > scores(99L) * 4,
      s"fluent ${scores(1L)} should dwarf scrambled ${scores(99L)}")
    // every fluent doc is identical → identical score; the scrambled doc's
    // bigrams are unique to it → fully novel
    val novel = graft.exts.TextAnalysis.lmScores(docs)
      .collect().map(r => r.getLong(0) -> r.getLong(3)).toMap
    assert(novel(99L) == 1000L && novel(1L) < 1000L)
  }

  test("weighted sample: floor keeps every low bucket, keep rate tracks p") {
    import org.apache.spark.sql.functions._
    val docs = graft.Tables.load(spark, dir, "documents")
    val kept = graft.exts.Sampling.weightedSample(spark, dir).collect()
    val keptIds = kept.map(_.getLong(0)).toSet
    // every doc whose bucket lands under the 200‰ quality floor is kept
    val floorIds = docs.select(col("doc_id"))
      .filter((col("doc_id") * 2654435761L) % 1000 < 200)
      .collect().map(_.getLong(0)).toSet
    assert(floorIds.nonEmpty && floorIds.subsetOf(keptIds))
    // every kept row satisfies its own coin
    kept.foreach(r => assert(r.getLong(3) < r.getLong(2)))
    // strictly between floor-only and keep-everything
    val n = docs.count()
    assert(keptIds.size > n * 0.2 && keptIds.size < n)
  }

  test("emb stats: one row per dimension, moments bound the quantized range") {
    val stats = Similarity.embStats(spark, dir).collect()
    val dims = stats.map(_.getInt(0)).sorted
    assert(dims.toSeq == (0 until dims.length))
    stats.foreach { r =>
      val (n, sum, mean, sumsq, mn, mx) = (r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6))
      assert(n > 0 && mn <= mean && mean <= mx)
      assert(mn * n <= sum && sum <= mx * n)
      assert(sumsq >= 0 && sumsq <= math.max(mn * mn, mx * mx) * n)
    }
  }

  test("lm train/apply: verbatim re-ingests score novelty 0, perturbed > 0") {
    import org.apache.spark.sql.functions._
    val lm = graft.exts.TextAnalysis.lmTrain(
      graft.Tables.load(spark, dir, "documents"))
    val scored = graft.exts.TextAnalysis.lmScoreWith(
        lm, Dedup.incomingBatch(spark, dir))
      .collect().map(r => r.getLong(0) -> r.getLong(3)).toMap
    val (reingest, perturbed) = scored.keys.partition(_ < 700000L)
    assert(reingest.nonEmpty && perturbed.nonEmpty)
    // a verbatim re-ingest was in the training corpus → every transition known
    reingest.foreach(id => assert(scored(id) == 0L, s"doc $id novel"))
    // the appended tail introduces transitions the LM never saw
    perturbed.foreach(id => assert(scored(id) > 0L, s"doc $id not novel"))
  }

  test("containment catches planted excerpts that jaccard resemblance misses") {
    val corpus = Dedup.corpusWithExcerpts(spark, dir)
    val cont = Dedup.containmentPairs(corpus)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getLong(5))).toMap
    val planted = cont.keySet.filter { case (a, b) => b == a + 400000L }
    assert(planted.nonEmpty, "no planted excerpt pairs found")
    // an excerpt's shingles are a subset of its source's → containment = 1
    planted.foreach { p =>
      assert(cont(p) == 1000L, s"planted pair $p scored ${cont(p)}")
    }
    // Jaccard at ½ misses excerpts once the excerpt is ≲⅓ of the doc
    val jac = Dedup.ngramJaccardPairs(corpus)
      .select("a_id", "b_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val missedByJaccard = planted.filterNot(jac.contains)
    assert(missedByJaccard.nonEmpty,
      "every planted excerpt was also a jaccard pair — fixture degenerate")
  }

  test("dup components: transitive chains collapse to min-id groups") {
    import spark.implicits._
    // chain 1-2, 2-3 (no direct 1-3 edge) + separate pair 10-11 + a
    // triangle 20-21, 21-22, 20-22
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L),
      (20L, 21L), (21L, 22L), (20L, 22L)).toDF("a_id", "b_id")
    val comp = Dedup.dupComponents(pairs).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(2))).toMap
    assert(comp(1L) === ((1L, true)))
    assert(comp(2L) === ((1L, false)))
    assert(comp(3L) === ((1L, false)))   // transitive: no direct 1-3 pair
    assert(comp(10L) === ((10L, true)))
    assert(comp(11L) === ((10L, false)))
    assert(Seq(20L, 21L, 22L).map(comp(_)._1).distinct === Seq(20L))
    assert(comp.size === 8)
  }

  test("dup components: long chain needs multiple propagation rounds") {
    import spark.implicits._
    // path 0-1-2-...-9: diameter 9, so one propagation round is not
    // enough — exercises the fixpoint loop
    val pairs = (0L until 9L).map(i => (i, i + 1)).toDF("a_id", "b_id")
    val comp = Dedup.dupComponents(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert((0L to 9L).forall(comp(_) === 0L))
  }

  test("corpus drift: identical versions measure zero; the planted release drifts symmetrically") {
    import org.apache.spark.sql.functions.col
    import graft.exts.TextAnalysis
    val docs = graft.Tables.load(spark, dir, "documents")
      .select(col("doc_id"), col("text"))
    val self = TextAnalysis.corpusDrift(docs, docs).collect().head
    assert(self.getAs[Long]("tvd_ppm") === 0L)
    assert(self.getAs[Long]("n_new_terms") === 0L)
    assert(self.getAs[Long]("n_gone_terms") === 0L)
    assert(self.getAs[Long]("n_tokens_a") === self.getAs[Long]("n_tokens_b"))
    val next = TextAnalysis.corpusDrift(spark, dir).collect().head
    assert(next.getAs[Long]("tvd_ppm") > 0L)
    assert(next.getAs[Long]("n_new_terms") >= 1L) // the ' rev2' token
    // total variation is symmetric; the vocabulary ledger transposes
    val sym = TextAnalysis.corpusDrift(
      Dedup.corpusNextVersion(spark, dir), docs).collect().head
    assert(sym.getAs[Long]("tvd_ppm") === next.getAs[Long]("tvd_ppm"))
    assert(sym.getAs[Long]("n_new_terms") ===
      next.getAs[Long]("n_gone_terms"))
    assert(sym.getAs[Long]("n_gone_terms") ===
      next.getAs[Long]("n_new_terms"))
  }

  test("dup components: pointer halving bounds rounds to O(log diameter)") {
    import spark.implicits._
    // path 0-1-...-64: diameter 64. Plain min-label relaxation crawls
    // one hop per round (~64 rounds); with pointer halving the label
    // horizon roughly doubles per round, so the loop must close in
    // O(log₂ 64) plus the convergence-confirming round.
    val pairs = (0L until 64L).map(i => (i, i + 1)).toDF("a_id", "b_id")
    val (comp, rounds) = Dedup.dupComponentsCounted(pairs)
    val got = comp.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert((0L to 64L).forall(got(_) === 0L))
    assert(rounds <= 10, s"pointer halving took $rounds rounds on a 64-chain")
  }

  test("contamination: doc sharing >=3 shingles with eval doc is flagged") {
    import spark.implicits._
    // doc 97 is "eval" (97 % 97 == 0); doc 1 copies 8 of its words (4
    // shared shingles), doc 2 is disjoint
    val evalText = "alpha beta gamma delta epsilon zeta eta theta"
    val docs = Seq(
      (97L, evalText),
      (1L, evalText + " iota"),
      (2L, "one two three four five six seven eight nine")
    ).toDF("doc_id", "text")
    val out = Dedup.contaminationPairs(docs)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(out.toSeq === Seq((1L, 97L, 4L)))
  }

  test("normalized dedup catches case/punct variants raw hashing misses") {
    import spark.implicits._
    val docs = Seq(
      (1L, "hello world"),
      (2L, "HELLO, World!"),
      (3L, "hello   world"),
      (4L, "goodbye world")).toDF("doc_id", "text")
    val raw = Dedup.exactDupGroups(docs).count()
    assert(raw === 0L)
    val norm = Dedup.exactDupGroupsNormalized(docs)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(norm.toSeq === Seq((1L, 3L)))
  }

  test("stratified sample: exact per-language quota, deterministic") {
    import org.apache.spark.sql.functions._
    val a = graft.exts.Sampling.stratifiedSample(spark, dir, perClass = 10)
    val counts = a.groupBy(col("lang")).count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(counts.values.forall(_ <= 10L))
    assert(counts.values.exists(_ === 10L))
    val b = graft.exts.Sampling.stratifiedSample(spark, dir, perClass = 10)
    assert(a.collect().toSet === b.collect().toSet)
  }

  test("quality filter: each rule fires on its planted bad doc, clean passes") {
    import spark.implicits._
    val clean = "the cat sat on a mat and the dog ran to a tree while " +
      "birds sing of morning light in this quiet town near the old river " +
      "bank today"
    val docs = Seq(
      (1L, clean),                               // passes everything
      (2L, "the of and is a"),                   // < 100 chars
      (3L, "the spam spam spam spam spam spam spam spam spam spam spam " +
        "spam spam spam is of a word and some other words appear here " +
        "once only today"),                      // top word ≫ 20% of tokens
      (4L, ("the pair is here and the pair is here and the pair is here " +
        "and the pair is here and the pair is here and a of it ")), // dup_bigram
      (5L, "x ".*(60) + "the a of and is then some more padding words here"),
      (6L, ("zzqqj wvkkx pplmn " * 10) + "no stopwords here at all today"))
    val out = graft.exts.TextAnalysis.qualityFilter(docs.toDF("doc_id", "text"))
      .collect().map(r => r.getLong(0) ->
        (r.getString(6), r.getBoolean(7))).toMap
    assert(out(1L) === ("", true))
    assert(out(2L)._1.contains("too_short") && !out(2L)._2)
    assert(out(3L)._1.contains("top_word") && !out(3L)._2)
    assert(out(4L)._1.contains("dup_bigram") && !out(4L)._2)
    assert(out(5L)._1.contains("token_shape") && !out(5L)._2) // mean len < 3
    assert(out(6L)._1.contains("low_stopword") && !out(6L)._2)
  }

  test("pii redact: counts and placeholders for planted emails/phones/ips") {
    import spark.implicits._
    val docs = Seq(
      (1L, "write to a.b@x.co or c@d.org, call 555-123-4567, host 10.0.0.1"),
      (2L, "nothing sensitive here at all")).toDF("doc_id", "text")
    val out = graft.exts.TextAnalysis.piiRedact(docs)
      .collect().map(r => r.getLong(0) ->
        (r.getInt(1), r.getInt(2), r.getInt(3), r.getBoolean(4),
          r.getString(5))).toMap
    assert(out(1L)._1 === 2 && out(1L)._2 === 1 && out(1L)._3 === 1)
    assert(out(1L)._4 === true)
    val expected = "write to <EMAIL> or <EMAIL>, call <PHONE>, host <IP>"
    val md = java.security.MessageDigest.getInstance("MD5")
      .digest(expected.getBytes("UTF-8")).map("%02x".format(_)).mkString
    assert(out(1L)._5 === md)
    assert(out(2L) === ((0, 0, 0, false, out(2L)._5)))
  }

  test("mix sources: argmin source keeps everything, shares track weights") {
    import org.apache.spark.sql.functions._
    val out = graft.exts.Sampling.mixSources(spark, dir).collect()
      .map(r => r.getString(0) -> (r.getLong(2), r.getLong(3), r.getLong(4),
        r.getLong(6))).toMap // lang -> (n_tokens, weight, rate, tokens_kept)
    // the binding source (min tokens·1000/weight) samples at ~full rate
    val scale = out.values.map { case (t, w, _, _) => t * 1000 / w }.min
    val binding = out.collect {
      case (l, (t, w, _, _)) if t * 1000 / w == scale => l }.head
    assert(out(binding)._3 >= 999L)
    assert(out.values.forall(_._3 <= 1000L))
    // realized token mass stays within sampling noise of the target share:
    // kept(s) ≈ rate·tokens, and rate·tokens·1000 div (w·scale) = 1 ± ε
    out.values.foreach { case (t, w, rate, _) =>
      val planned = rate * t // x1000 token mass
      val target = w * scale
      assert(planned <= target, s"planned $planned exceeds target $target")
      assert(planned * 1000 >= target * 995,
        s"planned $planned far below target $target")
    }
  }

  test("mix sources invariants hold for random weight vectors") {
    val langs = Seq("en", "es", "de", "fr")
    val rnd = new scala.util.Random(11)
    (1 to 5).foreach { trial =>
      val weights = langs.map(_ -> (1L + rnd.nextInt(999)))
      val docs = Tables.load(spark, dir, "documents")
      val out = graft.exts.Sampling.mixSources(docs, weights).collect()
        .map(r => r.getString(0) ->
          (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(6))).toMap
      assert(out.keySet === langs.toSet, s"trial $trial")
      // rates stay in [0, 1000]; the binding source saturates (>= 999
      // rather than == 1000: floor division can shave one part-per-mille)
      assert(out.values.forall(v => v._3 >= 0 && v._3 <= 1000))
      val scale = out.values.map { case (t, w, _, _) => t * 1000 / w }.min
      val binding = out.collectFirst {
        case (l, (t, w, _, _)) if t * 1000 / w == scale => l }.get
      assert(out(binding)._3 >= 999L, s"trial $trial binding=$binding")
      // planned token mass never exceeds its target share
      out.values.foreach { case (t, w, rate, _) =>
        assert(rate * t <= w * scale, s"trial $trial")
      }
      // deterministic: same weights, same plan
      val again = graft.exts.Sampling.mixSources(docs, weights).collect()
        .map(r => r.getString(0) ->
          (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(6))).toMap
      assert(again === out)
    }
  }

  test("zone maps: date-clustered files skip, unclustered quantity never") {
    val z = graft.ops.FilePlan.zoneMapPrune(
      Tables.load(spark, dir, "lineitem")).collect()
    assert(z.length > 12) // multi-year shipdate range → many month-files
    val skipped = z.count(_.getAs[Boolean]("skip_ship"))
    // the [1997-01, 1997-04) window touches exactly 3 month-files
    assert(z.length - skipped === 3)
    // quantity is uncorrelated with the date clustering, so its zone maps
    // barely prune (a tiny file can skip by chance at this scale) — the
    // clustered column must prune at least 5x more than the unclustered
    val skippedQty = z.count(_.getAs[Boolean]("skip_qty"))
    assert(skippedQty * 5 <= skipped,
      s"qty skipped $skippedQty of ${z.length}, ship skipped $skipped")
  }

  test("star-contraction components equal propagation on every graph shape") {
    import spark.implicits._
    def check(edges: Seq[(Long, Long)], label: String): Unit = {
      val pairs = edges.toDF("a_id", "b_id")
      val prop = Dedup.dupComponents(pairs).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSet
      val stars = Dedup.dupComponentsStars(pairs).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSet
      assert(stars === prop, s"graph: $label")
    }
    // deep chain — the shape propagation is slowest on
    check((1L until 40L).map(i => (i, i + 1)), "chain-40")
    // two cliques + an isolated pair
    val cliqueA = for (i <- 1 to 5; j <- i + 1 to 5) yield (i.toLong, j.toLong)
    val cliqueB = for (i <- 10 to 13; j <- i + 1 to 13) yield (i.toLong, j.toLong)
    check(cliqueA ++ cliqueB ++ Seq((100L, 101L)), "cliques+pair")
    // star with reversed edge directions
    check((2L to 8L).map(i => (i, 1L)), "in-star")
    // seeded random graph
    val rnd = new scala.util.Random(7)
    val random = Seq.fill(60)((rnd.nextInt(30).toLong, rnd.nextInt(30).toLong))
      .filter { case (a, b) => a != b }
    check(random, "random-30x60")
    // the real fixture pair list
    val fixture = Dedup.ngramJaccardPairs(Dedup.corpusWithNearDups(spark, dir))
      .select("a_id", "b_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    check(fixture, "fixture-jaccard")
  }

  test("curation: planted exact copies never inflate the kept totals") {
    import org.apache.spark.sql.functions._
    val base = Tables.load(spark, dir, "documents")
      .select(col("doc_id"), col("text"), col("lang"))
    val planted = base.unionByName(
      base.filter(col("doc_id") % 10 === 0)
        .select((col("doc_id") + 100000L).as("doc_id"), col("text"),
          col("lang")))
    def totals(df: org.apache.spark.sql.DataFrame) =
      graft.exts.TextAnalysis.curateCorpus(df).collect()
        .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    // exact copies collapse onto their originals: the curated output of
    // the padded corpus is identical to the clean corpus's
    assert(totals(planted) === totals(base))
    // and curation is a real filter: it never yields more docs than exist
    val kept = totals(base).values.map(_._1).sum
    assert(kept > 0 && kept <= base.count())
  }

  test("rarity scores: bounds hold and rare mass is where gibberish lives") {
    val rows = graft.exts.TextAnalysis.rarityScores(spark, dir).collect()
    assert(rows.length === Tables.load(spark, dir, "documents").count())
    rows.foreach { r =>
      val (nTerms, nTokens) = (r.getLong(1), r.getLong(2))
      val (meanDf, rareFrac) = (r.getLong(3), r.getLong(4))
      assert(nTokens >= nTerms)
      assert(meanDf >= 1L, "a token's df is at least its own document")
      assert(rareFrac >= 0L && rareFrac <= 1000L)
    }
    // the corpus has shared vocabulary: mean df must exceed 1 somewhere
    assert(rows.exists(_.getLong(3) > 1L))
  }

  test("shard export: partitioned write round-trips and matches manifest") {
    import org.apache.spark.sql.functions._
    val docs = Tables.load(spark, dir, "documents")
    val out = tempDir("graft-shards")
    graft.exts.Sampling.writeShards(docs, out)
    val back = spark.read.parquet(out)
    // nothing lost, nothing duplicated
    assert(back.count() === docs.count())
    assert(back.select("doc_id").distinct().count() === docs.count())
    // every shard directory is a real partition with its manifest counts
    val manifest = graft.exts.Sampling.shardManifest(docs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // (partition-column inference reads shard back as int — normalize)
    val perShard = back.groupBy(col("shard").cast("long").as("shard"))
      .count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(perShard === manifest)
    // re-export of a grown corpus keeps old assignments: shard(doc) is a
    // pure id hash, independent of the rest of the corpus
    val half = docs.filter(col("doc_id") % 2 === 0)
    val a = graft.exts.Sampling.shardPlan(half).select("doc_id", "shard")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val b = graft.exts.Sampling.shardPlan(docs).select("doc_id", "shard")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    a.foreach { case (id, s) => assert(b(id) === s) }
  }

  test("semantic dedup finds every planted scaled copy within its cluster") {
    val pairs = Similarity.semanticDupPairs(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val plantedIds = Tables.load(spark, dir, "embeddings")
      .filter(org.apache.spark.sql.functions.col("vec_id") % 10 === 0)
      .select("vec_id").collect().map(_.getLong(0))
    assert(plantedIds.nonEmpty)
    // scaled copies share their original's cell (cosine is scale-invariant)
    // and cosine 1 — every planted pair must surface
    plantedIds.foreach { id =>
      assert(pairs.contains((id, id + 100000L)), s"missing planted pair $id")
    }
  }

  test("ann recall: bounded, consistent with truth size, monotone in nprobe") {
    val r1 = Similarity.annRecall(spark, dir).collect()
    assert(r1.length === 8) // one row per query vec_id < 8
    r1.foreach { r =>
      assert(r.getAs[Long]("k_truth") === 5L)
      val rec = r.getAs[Long]("recall_x1000")
      assert(rec >= 0L && rec <= 1000L)
      assert(rec === r.getAs[Long]("n_hits") * 1000L / 5L)
    }
    // probing a second cell can only add candidates: total hits ≥ nprobe=1
    val h1 = r1.map(_.getAs[Long]("n_hits")).sum
    val h2 = Similarity.annRecall(spark, dir, nprobe = 2).collect()
      .map(_.getAs[Long]("n_hits")).sum
    assert(h2 >= h1)
  }

  test("token budget select: greedy quality prefix per source, never over") {
    import org.apache.spark.sql.functions._
    val docs = Tables.load(spark, dir, "documents")
    val sel = graft.exts.Sampling.tokenBudgetSelect(docs).collect()
    assert(sel.nonEmpty)
    // budget respected per source
    sel.groupBy(_.getAs[String]("source")).foreach { case (src, rows) =>
      val tot = rows.map(_.getAs[Long]("n_tokens")).sum
      assert(tot <= 800L, s"$src over budget: $tot")
      assert(tot === rows.map(_.getAs[Long]("cum_tokens")).max)
    }
    // selection is the PREFIX of the (quality desc, doc_id) ordering: the
    // best-ranked unselected doc of each source would not have fit
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("source"))
      .orderBy(col("quality_x1000").desc, col("doc_id"))
    val ranked = graft.exts.Sampling.tokenBudgetSelect(docs, Long.MaxValue)
      .withColumn("rk", row_number().over(w)).collect()
      .groupBy(_.getAs[String]("source"))
    val selBySrc = sel.groupBy(_.getAs[String]("source"))
      .map { case (s, rs) => s -> rs.map(_.getAs[Long]("doc_id")).toSet }
    ranked.foreach { case (src, rows) =>
      val sorted = rows.sortBy(_.getAs[Int]("rk"))
      val chosen = selBySrc.getOrElse(src, Set.empty)
      val k = chosen.size
      assert(sorted.take(k).forall(r => chosen(r.getAs[Long]("doc_id"))),
        s"$src: selection is not the quality prefix")
      if (k < sorted.length) {
        val nextTokens = sorted(k).getAs[Long]("n_tokens")
        val used = sorted.take(k).map(_.getAs[Long]("n_tokens")).sum
        assert(used + nextTokens > 800L,
          s"$src: next doc would still have fit")
      }
    }
  }

  test("training order: per-epoch permutation, contiguous shard positions, " +
      "epochs differ") {
    val docs = Tables.load(spark, dir, "documents")
    val n = docs.count()
    val rows = graft.exts.Sampling.trainingOrder(docs).collect()
    val byEpoch = rows.groupBy(_.getAs[Long]("epoch"))
    assert(byEpoch.keySet === Set(0L, 1L))
    byEpoch.foreach { case (_, rs) =>
      assert(rs.length.toLong === n)
      assert(rs.map(_.getAs[Long]("doc_id")).distinct.length.toLong === n)
      rs.groupBy(_.getAs[Long]("shard")).foreach { case (_, srs) =>
        val pos = srs.map(_.getAs[Int]("pos")).sorted
        assert(pos === (1 to srs.length).toArray)
      }
    }
    // the epoch seed changes the layout: some document moves shard or pos
    def layout(e: Long) = byEpoch(e)
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("shard"), r.getAs[Int]("pos"))).toMap
    assert(layout(0L) !== layout(1L))
  }

  test("source divergence: zero for identical dists, max for disjoint vocab") {
    import spark.implicits._
    // identical text in both sources → source dist == global dist → L1 0
    val same = Seq(("a", "x y x"), ("b", "x y x")).toDF("source", "text")
    val l0 = graft.exts.TextAnalysis.sourceDivergence(same).collect()
    assert(l0.length === 2)
    l0.foreach(r => assert(r.getAs[Long]("l1_ppm") === 0L))
    // disjoint vocabularies → each source is 1e6 away from the blend
    val disj = Seq(("a", "x x x"), ("b", "y y y")).toDF("source", "text")
    val l1 = graft.exts.TextAnalysis.sourceDivergence(disj).collect()
    l1.foreach(r => assert(r.getAs[Long]("l1_ppm") === 1000000L))
    // real corpus: bounded by the theoretical max, one row per source
    val rep = graft.exts.TextAnalysis
      .sourceDivergence(Tables.load(spark, dir, "documents")).collect()
    assert(rep.length === 20)
    rep.foreach { r =>
      val v = r.getAs[Long]("l1_ppm")
      assert(v >= 0L && v <= 2000000L)
    }
  }

  test("quality calibrate: per-lang bar at half the exact median, " +
      "keeps at least the upper half") {
    val rows = graft.exts.TextAnalysis
      .qualityCalibrate(Tables.load(spark, dir, "documents")).collect()
    val langs = Tables.load(spark, dir, "documents")
      .select("lang").distinct().count()
    assert(rows.length.toLong === langs)
    rows.foreach { r =>
      val med = r.getAs[Long]("median_x1000")
      assert(r.getAs[Long]("threshold_x1000") === med / 2)
      val n = r.getAs[Long]("n_docs")
      val kept = r.getAs[Long]("n_kept")
      assert(kept <= n)
      // everything at or above the median clears the half-median bar
      assert(kept >= n / 2, s"${r.getAs[String]("lang")}: $kept of $n")
    }
  }

  test("bpe train: deterministic rounds, non-increasing counts, greedy merge") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val rules = graft.exts.TextAnalysis
      .bpeTrain(Tables.load(spark, dir, "documents")).collect()
      .sortBy(_.getAs[Int]("round"))
    assert(rules.map(_.getAs[Int]("round")).toSeq === (1 to 6))
    // the winning count can never rise: a merge only removes occurrences
    // of other pairs or creates pairs no more frequent than the winner
    val cnts = rules.map(_.getAs[Long]("cnt")).toSeq
    assert(cnts === cnts.sorted.reverse, s"counts not non-increasing: $cnts")
    rules.foreach { r =>
      assert(r.getAs[String]("merged") ===
        r.getAs[String]("pa") + "_" + r.getAs[String]("pb"))
    }
    // greedy non-overlap on a run: "a a a" counts pair (a,a) twice but
    // merges once, so round 2 sees (a_a, a) — not a second (a, a)
    val tiny = Seq("a a a").toDF("text")
    val r2 = graft.exts.TextAnalysis.bpeTrain(tiny, rounds = 2).collect()
      .sortBy(_.getAs[Int]("round"))
    assert(r2(0).getAs[String]("pa") === "a" &&
      r2(0).getAs[String]("pb") === "a" && r2(0).getAs[Long]("cnt") === 2L)
    assert(r2(1).getAs[String]("pa") === "a_a" &&
      r2(1).getAs[String]("pb") === "a" && r2(1).getAs[Long]("cnt") === 1L)
  }

  test("curriculum order: bands descend within each shard, permutation") {
    val docs = Tables.load(spark, dir, "documents")
    val rows = graft.exts.Sampling.curriculumOrder(docs).collect()
    assert(rows.length.toLong === docs.count())
    assert(rows.map(_.getAs[Long]("doc_id")).distinct.length === rows.length)
    rows.groupBy(_.getAs[Long]("shard")).foreach { case (_, srs) =>
      val byPos = srs.sortBy(_.getAs[Int]("pos"))
      assert(byPos.map(_.getAs[Int]("pos")).toSeq === (1 to srs.length))
      // curriculum: quality band never increases as the shard is read
      val bands = byPos.map(_.getAs[Long]("band")).toSeq
      assert(bands === bands.sorted.reverse)
    }
  }

  test("source overlap: every wire pair lights up, separated from organic") {
    import org.apache.spark.sql.functions._
    val docs = Tables.load(spark, dir, "documents")
    val base = docs.select(col("source"), col("text"))
    val planted = base.unionByName(docs.filter(col("doc_id") % 7 === 0)
      .select(lit("src_wire").as("source"), col("text")))
    val m = graft.exts.Dedup.sourceOverlap(planted).collect()
      .map(r => (r.getAs[String]("source_a"), r.getAs[String]("source_b"),
        r.getAs[Long]("n_shared"), r.getAs[Long]("containment_x1000")))
    val sources = docs.select("source").distinct().collect()
      .map(_.getString(0)).toSet
    val wire = m.filter(_._2 == "src_wire")
    // every real source syndicates into the wire feed
    assert(wire.map(_._1).toSet === sources)
    wire.foreach { case (a, _, shared, cont) =>
      assert(shared > 0L && cont > 0L, s"wire pair $a empty")
    }
    // the planted syndication dominates organic shingle collisions in
    // aggregate (the tiny fixture vocabulary makes organic 5-gram
    // collisions common, so the signal is the mean, not a clean margin)
    val organic = m.filter(_._2 != "src_wire").map(_._4)
    val organicMean =
      if (organic.isEmpty) 0L else organic.sum / organic.length
    val wireMean = wire.map(_._4).sum / wire.length
    assert(wireMean > organicMean,
      s"wire mean $wireMean vs organic mean $organicMean")
  }

  test("dedup report: either covers both methods; each mode's detector " +
      "finds all its plantings") {
    val rows = graft.exts.Dedup
      .dedupReport(Dedup.corpusWithMixedDups(spark, dir)).collect()
      .map(r => r.getAs[String]("method") ->
        ((r.getAs[Long]("n_pairs"), r.getAs[Long]("n_near_planted"),
          r.getAs[Long]("n_excerpt_planted"))))
      .toMap
    val docs = Tables.load(spark, dir, "documents")
      .select("doc_id").collect().map(_.getLong(0))
    val nNear = docs.count(_ % 7 == 0).toLong
    val nExc = docs.count(_ % 13 == 0).toLong
    // resemblance catches every near-copy planting; containment catches
    // every planting of BOTH modes (a near-copy is also contained)
    assert(rows("resemblance")._2 === nNear)
    assert(rows("containment")._2 === nNear)
    assert(rows("containment")._3 === nExc)
    // resemblance systematically misses excerpts (the reason the
    // containment detector exists) — at most a stray short-doc overlap
    assert(rows("resemblance")._3 < nExc)
    // either is the union: at least as many pairs as each method
    assert(rows("either")._1 >= rows("resemblance")._1)
    assert(rows("either")._1 >= rows("containment")._1)
    assert(rows("either")._2 === nNear && rows("either")._3 === nExc)
  }

  test("emb outliers: exactly the planted norm outliers are flagged") {
    import org.apache.spark.sql.functions._
    val flagged = graft.exts.Similarity.embOutliers(spark, dir).collect()
      .map(_.getAs[Long]("vec_id")).toSet
    val base = Tables.load(spark, dir, "embeddings")
      .select("vec_id").collect().map(_.getLong(0))
    val planted = base.filter(_ % 20 == 0).map(_ + 200000L).toSet ++
      base.filter(_ % 25 == 0).map(_ + 300000L).toSet
    assert(flagged === planted)
    // every flagged row is genuinely outside [med/3, 3*med] in norm
    graft.exts.Similarity.embOutliers(spark, dir).collect().foreach { r =>
      val n = r.getAs[Long]("normsq_q"); val m = r.getAs[Long]("median_q")
      assert(n > 9 * m || 9 * n < m)
    }
  }

  test("bpe index artifact: memo = fresh training; save/load round-trips") {
    graft.exts.BpeIndex.clear()
    val fresh = graft.exts.TextAnalysis
      .bpeTrain(Tables.load(spark, dir, "documents")).collect()
      .map(_.toSeq).sortBy(_.head.asInstanceOf[Int].toLong)
    val memo1 = graft.exts.BpeIndex.rules(spark, dir).collect()
      .map(_.toSeq).sortBy(_.head.asInstanceOf[Int].toLong)
    assert(memo1.toSeq === fresh.toSeq)
    // second call hits the memo (no retraining) and is identical
    val memo2 = graft.exts.BpeIndex.rules(spark, dir).collect()
      .map(_.toSeq).sortBy(_.head.asInstanceOf[Int].toLong)
    assert(memo2.toSeq === memo1.toSeq)
    val path = tempDir("bpeidx") + "/rules"
    graft.exts.BpeIndex.save(graft.exts.BpeIndex.rules(spark, dir), path)
    val loaded = graft.exts.BpeIndex.load(spark, path).collect()
      .map(_.toSeq).sortBy(_.head.asInstanceOf[Int].toLong)
    assert(loaded.toSeq === fresh.toSeq)
  }

  test("bpe encode: trained rules compress the corpus they were trained on") {
    val docs = Tables.load(spark, dir, "documents")
    val rules = graft.exts.TextAnalysis.bpeTrain(docs)
    val enc = graft.exts.TextAnalysis.bpeEncode(docs, rules).collect()
    assert(enc.length.toLong === docs.count())
    enc.foreach { r =>
      val before = r.getAs[Int]("n_tokens_before")
      val after = r.getAs[Int]("n_tokens_after")
      assert(after <= before && after >= 1)
      assert(r.getAs[Int]("n_merges") === before - after)
    }
    // the merges were chosen as the corpus's most frequent pairs — they
    // must actually fire somewhere
    assert(enc.map(_.getAs[Int]("n_merges").toLong).sum > 0L)
    // deterministic: same artifact + same batch → same encodings
    val again = graft.exts.TextAnalysis.bpeEncode(docs, rules).collect()
    assert(enc.map(_.getAs[String]("enc_md5")).sorted.toSeq ===
      again.map(_.getAs[String]("enc_md5")).sorted.toSeq)
  }

  test("skew report: hottest keys first, shares and salt sane") {
    import org.apache.spark.sql.functions._
    val orders = Tables.load(spark, dir, "orders")
      .select(col("o_custkey").as("custkey"))
    val rep = graft.ops.Skew.skewReport(orders, "custkey").collect()
    assert(rep.length <= 20 && rep.nonEmpty)
    val total = orders.count()
    val trueMax = orders.groupBy(col("custkey")).count()
      .agg(max(col("count"))).head().getLong(0)
    assert(rep.head.getAs[Long]("n_rows") === trueMax)
    assert(rep.map(_.getAs[Long]("n_rows")).toSeq ===
      rep.map(_.getAs[Long]("n_rows")).sortBy(-_).toSeq)
    rep.foreach { r =>
      assert(r.getAs[Long]("total_rows") === total)
      assert(r.getAs[Long]("share_x1000") <= 1000L)
      assert(r.getAs[Long]("salt_buckets") >= 1L)
    }
  }

  test("exact-search ranking is the bounded TopKPairs aggregate, not a window") {
    // the four exact-search keys rank via groupBy + TopKPairs: a PARTIAL
    // (map-side) stage must exist — ≤k rows per (query, mapper) enter the
    // exchange — and no ranking Window may remain in the plan (the old
    // row_number form sorted a corpus-sized group per query)
    val emb = Tables.load(spark, dir, "embeddings")
    for ((name, df) <- Seq(
        "sim_topk" -> Similarity.bruteTopK(spark, dir),
        "pq_search" -> graft.exts.PqIndex.pqSearch(spark, dir))) {
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.contains("partial_topkpairs"),
        s"$name: expected a partial_topkpairs stage:\n$plan")
      assert(!plan.contains("Window"),
        s"$name: ranking window survived the TopKPairs rewrite:\n$plan")
    }
    // double-ord path: sortable-bits buffer must reproduce the exact
    // (cos DESC, id ASC) order incl. sign handling — spot-check monotone
    // cos ordering per query against recomputed cosines
    val top = Similarity.bruteTopK(spark, dir, maxQueryId = 4, k = 8)
    val vecs = emb.collect().map(r =>
      r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var (dot, na, nb) = (0.0, 0.0, 0.0)
      for (i <- a.indices) {
        dot += a(i).toDouble * b(i); na += a(i).toDouble * a(i)
        nb += b(i).toDouble * b(i)
      }
      dot / math.sqrt(na * nb)
    }
    top.collect().groupBy(_.getLong(0)).foreach { case (q, rows) =>
      val ranked = rows.sortBy(_.getInt(2)).map(_.getLong(1))
      val sims = ranked.map(n => cos(vecs(q), vecs(n)))
      assert(sims.zip(sims.tail).forall { case (a, b) => a >= b },
        s"query $q: cos not monotone over ranks: ${sims.mkString(",")}")
    }
  }

  test("PQ refuses a mismatched embedding dim with a named error") {
    import spark.implicits._
    val bad = Seq((0L, Array.fill(16)(0.5f)), (1L, Array.fill(16)(-0.25f)))
      .toDF("vec_id", "embedding")
    val e = intercept[Exception] {
      graft.exts.PqIndex.trainedCodebook(bad).collect()
    }
    def messages(t: Throwable): Seq[String] =
      if (t == null) Nil
      else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(messages(e).exists(_.contains("graft.pq: embedding dim")),
      s"expected the named dim-contract error, got: $e")
  }

  test("gopher rules: each rule fires on its planted violator") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val good = (Seq.fill(10)("the") ++ Seq.fill(50)("alpha")).mkString(" ")
    val docs = Seq(
      0L -> good,                                   // passes every rule
      1L -> "the quick brown fox",                  // too few words
      2L -> (good + " " + Seq.fill(10)("#").mkString(" ")), // symbol-heavy
      3L -> (Seq.fill(10)("the") ++ Seq.fill(55)("12345")).mkString(" "),
      4L -> (good.replace("the", "zzz"))            // no stop words
    ).toDF("doc_id", "text")
    val out = graft.exts.TextAnalysis.gopherRules(docs, minStopHits = 1)
      .collect().map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(out(0L).getAs[Boolean]("keep"))
    assert(!out(1L).getAs[Boolean]("r_word_count"))
    assert(!out(2L).getAs[Boolean]("r_symbol"))
    assert(!out(3L).getAs[Boolean]("r_alpha"))     // 55/65 non-alpha words
    assert(!out(4L).getAs[Boolean]("r_stop"))
    assert(Seq(1L, 2L, 3L, 4L).forall(id => !out(id).getAs[Boolean]("keep")))
  }

  test("cluster balance: rates cap at the mean and kept counts obey them") {
    import org.apache.spark.sql.functions.col
    val out = Similarity.clusterBalance(spark, dir).collect()
    assert(out.nonEmpty)
    val total = out.map(_.getAs[Long]("n_vectors")).sum
    val mean = total / out.length
    out.foreach { r =>
      val (n, rate, kept) = (r.getAs[Long]("n_vectors"),
        r.getAs[Long]("keep_x1000"), r.getAs[Long]("n_kept"))
      assert(rate <= 1000L && rate > 0L)
      assert(kept <= n)
      // oversized cells are downsampled toward the mean; cells at or
      // under the mean keep everything the hash admits (rate = 1000)
      if (n <= mean) assert(rate === 1000L, s"cell under mean: rate $rate")
      else assert(rate < 1000L, s"oversized cell (n=$n, mean=$mean) uncapped")
    }
    // the hash keeps ~rate/1000 of each cell (loose bound, exact law
    // is pinned by the DuckDB oracle)
    out.filter(_.getAs[Long]("n_vectors") >= 20).foreach { r =>
      val frac = r.getAs[Long]("n_kept").toDouble /
        r.getAs[Long]("n_vectors")
      val want = r.getAs[Long]("keep_x1000") / 1000.0
      assert(math.abs(frac - want) < 0.35,
        s"cell ${r.getAs[Long]("cell")}: kept $frac vs rate $want")
    }
  }

  test("bitext mining: planted translation pair is mined, non-mutual is not") {
    import spark.implicits._
    def v(x: Double, y: Double) = Array(x.toFloat, y.toFloat)
    // en#0 ↔ fr#10 planted parallel (identical direction); fr#11 points
    // at en#0 too, but en#0's best fr is fr#10 — so fr#11 is NOT mined.
    // en#1 ↔ de#20 a second pair in another language.
    val emb = Seq(
      (0L, "en", v(1.0, 0.0)),
      (1L, "en", v(0.0, 1.0)),
      (10L, "fr", v(0.99, 0.01)),
      (11L, "fr", v(0.95, 0.05)),
      (20L, "de", v(0.01, 0.99))
    ).toDF("vec_id", "lang", "embedding")
    val mined = Similarity.bitextMineOver(emb).collect()
      .map(r => (r.getAs[String]("lang"), r.getAs[Long]("src_id"),
        r.getAs[Long]("tgt_id"))).toSet
    assert(mined.contains(("fr", 0L, 10L)))
    assert(mined.contains(("de", 1L, 20L)))
    assert(!mined.exists(_._3 == 11L), s"non-mutual fr#11 mined: $mined")
  }

  test("bitext LSH path: bucket-local mutual mining, cross-bucket blind") {
    import spark.implicits._
    def v(x: Double, y: Double) = Array(x.toFloat, y.toFloat)
    // bits=1 splits on sign of dim 1: {en0, en1, fr10, fr11, de20} land
    // in bucket 1, {en2, fr12} in bucket 0 — mining runs per bucket.
    val emb = Seq(
      (0L, "en", v(1.0, 0.0)),
      (1L, "en", v(0.0, 1.0)),
      (2L, "en", v(-1.0, 0.0)),
      (10L, "fr", v(0.99, 0.01)),
      (11L, "fr", v(0.95, 0.05)),
      (12L, "fr", v(-0.99, -0.01)),
      (20L, "de", v(0.01, 0.99))
    ).toDF("vec_id", "lang", "embedding")
    val mined = Similarity.bitextMineLshOver(emb, bits = 1).collect()
      .map(r => (r.getAs[String]("lang"), r.getAs[Long]("src_id"),
        r.getAs[Long]("tgt_id"))).toSet
    assert(mined === Set(("fr", 0L, 10L), ("de", 1L, 20L), ("fr", 2L, 12L)),
      s"got $mined")
  }

  test("filter agreement: planted verdicts land in their matrix cells") {
    import spark.implicits._
    val w5 = (0 until 50).map(i => f"word$i%02db")
    val a = (Seq.fill(10)("the") ++ w5).mkString(" ")        // both keep
    val b = ("the" +: w5.take(29)).mkString(" ")             // qf only
    val c = "tiny"                                           // both drop
    val docs = Seq((0L, a, "en"), (1L, b, "en"), (2L, c, "en"))
      .toDF("doc_id", "text", "lang")
    val m = graft.exts.TextAnalysis.filterAgreement(docs).collect()
      .map(r => (r.getAs[Boolean]("qf_keep"),
        r.getAs[Boolean]("gopher_keep")) ->
        ((r.getAs[Long]("n_docs"), r.getAs[Long]("sum_words")))).toMap
    assert(m((true, true)) === ((1L, 60L)), s"got $m")
    assert(m((true, false)) === ((1L, 30L)), s"got $m")
    assert(m((false, false)) === ((1L, 1L)), s"got $m")
    assert(m.values.map(_._1).sum === 3L)
  }

  test("bitext mutual mining equals a brute-force reference on random vectors") {
    import spark.implicits._
    val rnd = new scala.util.Random(20260814L)
    val langs = Array("en", "fr", "de", "zh")
    val rows = (0 until 120).map { i =>
      (i.toLong, langs(rnd.nextInt(langs.length)),
        Array.fill(8)((rnd.nextInt(2001) - 1000) / 1000.0f))
    }
    val emb = rows.toDF("vec_id", "lang", "embedding")
    def cos(a: Array[Float], b: Array[Float]): Double = {
      val dot = a.zip(b).map { case (x, y) => x.toDouble * y }.sum
      val na = math.sqrt(a.map(x => x.toDouble * x).sum)
      val nb = math.sqrt(b.map(x => x.toDouble * x).sum)
      dot / (na * nb)
    }
    val en = rows.filter(_._2 == "en")
    val xx = rows.filter(_._2 != "en")
    // direction 1: each xx's best en (cos desc, id asc)
    val d1 = xx.map { case (id, _, v) =>
      id -> en.map(e => (cos(v, e._3), e._1))
        .sortWith((a, b) => a._1 > b._1 || (a._1 == b._1 && a._2 < b._2))
        .head._2
    }.toMap
    // direction 2: each (en, lang)'s best xx
    val d2 = en.flatMap { case (eid, _, ev) =>
      xx.groupBy(_._2).map { case (l, vs) =>
        (eid, l) -> vs.map(x => (cos(ev, x._3), x._1))
          .sortWith((a, b) => a._1 > b._1 || (a._1 == b._1 && a._2 < b._2))
          .head._2
      }
    }.toMap
    val expected = d1.flatMap { case (xid, eid) =>
      val l = rows.find(_._1 == xid).get._2
      if (d2((eid, l)) == xid) Some((l, eid, xid)) else None
    }.toSet
    val mined = graft.exts.Similarity.bitextMineOver(emb).collect()
      .map(r => (r.getAs[String]("lang"), r.getAs[Long]("src_id"),
        r.getAs[Long]("tgt_id"))).toSet
    assert(mined === expected,
      s"diff: engine-only=${mined.diff(expected)} ref-only=${expected.diff(mined)}")
    assert(expected.nonEmpty)
  }

  test("ccnet sample: head kept whole, lower tiers thinned at their rates") {
    import org.apache.spark.sql.functions.col
    val buckets = graft.exts.TextAnalysis.ccnetBuckets(spark, dir)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        r.getAs[String]("bucket")).toMap
    val sampled = graft.exts.TextAnalysis.ccnetSample(spark, dir)
      .collect().map(r => (r.getAs[Long]("doc_id"),
        r.getAs[String]("bucket"), r.getAs[Long]("rate_x1000")))
    assert(sampled.nonEmpty)
    // sampled docs carry their bucket's tier and rate
    sampled.foreach { case (id, b, rate) =>
      assert(buckets(id) === b)
      assert(rate === graft.exts.TextAnalysis.CcnetRates(b))
    }
    // head rate is 1000‰: every head doc survives
    val headIds = buckets.collect { case (id, "head") => id }.toSet
    assert(headIds.nonEmpty)
    assert(headIds.subsetOf(sampled.map(_._1).toSet))
    // lower tiers actually thin
    def frac(b: String) = sampled.count(_._2 == b).toDouble /
      buckets.values.count(_ == b)
    assert(frac("middle") < 1.0 && frac("middle") > 0.2)
    assert(frac("tail") < frac("middle"))
  }

  test("ann MRR: rr law holds and label relevance matches a direct check") {
    import org.apache.spark.sql.functions.col
    val rows = Similarity.annMrr(spark, dir).collect()
      .map(r => r.getAs[Long]("query_id") ->
        ((r.getAs[Long]("rank_found"), r.getAs[Long]("rr_x1000"))))
      .toMap
    assert(rows.nonEmpty)
    rows.values.foreach { case (rank, rr) =>
      if (rank == 0L) assert(rr === 0L)
      else { assert(rank >= 1L && rank <= 5L); assert(rr === 1000L / rank) }
    }
    // direct reference: walk each query's IVF list with the labels
    val labels = graft.Tables.load(spark, dir, "embeddings")
      .select(col("vec_id"), col("label")).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val list = Similarity.ivfTopK(spark, dir).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"),
        r.getAs[Int]("rank")))
    rows.foreach { case (q, (rank, _)) =>
      val expect = list.filter(_._1 == q).sortBy(_._3)
        .find(t => labels(t._2) == labels(q)).map(_._3.toLong)
        .getOrElse(0L)
      assert(rank === expect, s"query $q: rank $rank vs direct $expect")
    }
  }

  test("corpus stats: card invariants hold and dup pressure is visible") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val base = graft.Tables.load(spark, dir, "documents")
      .select(col("doc_id"), col("text"), col("lang"), col("source"))
    // plant 5 verbatim copies: n_distinct_texts must NOT grow with them
    val planted = base.unionByName(
      base.filter(col("doc_id") < 5)
        .select((col("doc_id") + 900000L).as("doc_id"), col("text"),
          col("lang"), col("source")))
    val r = graft.exts.TextAnalysis.corpusStats(planted).collect().head
    val nDocs = r.getAs[Long]("n_docs")
    val nDistinct = r.getAs[Long]("n_distinct_texts")
    val base_r = graft.exts.TextAnalysis.corpusStats(base).collect().head
    assert(nDocs === base_r.getAs[Long]("n_docs") + 5)
    assert(nDistinct === base_r.getAs[Long]("n_distinct_texts"),
      "verbatim copies must not add distinct texts")
    assert(r.getAs[Long]("n_quality_keep") <= nDocs)
    assert(r.getAs[Long]("mean_doc_tokens") ===
      r.getAs[Long]("n_tokens") / nDocs)
    assert(r.getAs[Long]("n_langs") >= 2L)
    assert(r.getAs[Long]("n_sources") >= 2L)
  }

  test("hard negatives: nearest cross-label neighbors, verified brute-force") {
    import org.apache.spark.sql.functions.col
    val emb = graft.Tables.load(spark, dir, "embeddings")
      .select(col("vec_id"), col("embedding"), col("label")).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray, r.getInt(2)))
    val byId = emb.map(t => t._1 -> t).toMap
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) { dot += a(i).toDouble * b(i)
        na += a(i).toDouble * a(i); nb += b(i).toDouble * b(i); i += 1 }
      dot / (math.sqrt(na) * math.sqrt(nb))
    }
    val got = Similarity.hardNegatives(spark, dir).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"),
        r.getAs[Int]("rank")))
    assert(got.nonEmpty)
    got.groupBy(_._1).foreach { case (q, rs) =>
      val (_, eq, lq) = byId(q)
      // every mined negative is truly cross-label
      rs.foreach { case (_, n, _) => assert(byId(n)._3 !== lq,
        s"neighbor $n shares query $q's label") }
      assert(rs.map(_._3).sorted.toSeq === (1 to rs.length))
      // brute-force reference: the id SET of the top-5 cross-label
      // candidates (rank boundaries can tie in double cosine)
      val want = emb.filter(t => t._1 != q && t._3 != lq)
        .map(t => (cos(eq, t._2), t._1))
        .sortBy { case (c, id) => (-c, id) }.take(5).map(_._2).toSet
      assert(rs.map(_._2).toSet === want, s"query $q top-5 mismatch")
    }
  }

  test("mix temperature: sqrt-flattened rates, replayed kept counts") {
    import org.apache.spark.sql.functions.{col, size, split, trim}
    val rows = Sampling.mixTemperature(spark, dir).collect()
      .map(r => (r.getAs[String]("source"), r.getAs[Long]("n_docs"),
        r.getAs[Long]("n_tokens"), r.getAs[Long]("weight_sqrt"),
        r.getAs[Long]("rate_x1000"), r.getAs[Long]("n_docs_kept")))
    assert(rows.length >= 2)
    rows.foreach { case (s, nd, t, w, rate, kept) =>
      assert(w === math.sqrt(t.toDouble).toLong, s"$s weight")
      assert(rate >= 1L && rate <= 1000L, s"$s rate $rate")
      assert(kept <= nd, s"$s upsampled")
    }
    // the thinning law flattens the head: the biggest source is thinned
    // at least as hard as the smallest, which stays (almost) whole
    val smallest = rows.minBy(_._3); val biggest = rows.maxBy(_._3)
    assert(smallest._5 >= 999L, s"smallest source rate ${smallest._5}")
    assert(biggest._5 <= smallest._5)
    // replay the coin: kept counts are exactly the deterministic id-hash
    val toks = graft.Tables.load(spark, dir, "documents")
      .select(col("doc_id"), col("source"),
        size(split(trim(col("text")), "\\s+")).cast("long").as("nt"))
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    val rateBySrc = rows.map(r => r._1 -> r._5).toMap
    val expectKept = toks.groupBy(_._2).map { case (s, ds) =>
      s -> ds.count(d =>
        ((d._1 % 1000000007L) * 2654435761L) % 1000L < rateBySrc(s)).toLong
    }
    rows.foreach { case (s, _, _, _, _, kept) =>
      assert(kept === expectKept(s), s"$s kept count") }
  }

  test("dsir weights: the soft score recovers the hard filter's signal") {
    import org.apache.spark.sql.functions.col
    val scores = graft.exts.TextAnalysis.dsirWeights(spark, dir).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("n_terms"),
        r.getAs[Long]("n_feats"), r.getAs[Long]("dsir_ppm"),
        r.getAs[Boolean]("dsir_keep")))
    assert(scores.length > 0)
    scores.foreach { case (id, nt, nf, ppm, keep) =>
      assert(nf <= nt, s"doc $id: more features than terms")
      assert(keep === (ppm > 0L), s"doc $id keep law")
    }
    // distillation: docs the hard quality filter keeps must lean toward
    // the target distribution on average — that is the method's claim
    val kept = graft.exts.TextAnalysis.qualityFilter(spark, dir)
      .select(col("doc_id"), col("keep")).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Boolean]("keep")).toMap
    val (pos, neg) = scores.partition(s => kept(s._1))
    assert(pos.nonEmpty && neg.nonEmpty, "fixture must split on quality")
    val meanPos = pos.map(_._4).sum.toDouble / pos.length
    val meanNeg = neg.map(_._4).sum.toDouble / neg.length
    assert(meanPos > meanNeg,
      s"target-kept docs should out-score dropped docs: $meanPos <= $meanNeg")
  }

  test("emb gram/pca: distributed scatter equals a serial reference") {
    import org.apache.spark.sql.functions.col
    val emb = graft.Tables.load(spark, dir, "embeddings")
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => r.getSeq[Float](1).toArray)
    val d = emb.head.length; val n = emb.length.toLong
    val q = emb.map(_.map(x => math.round(x.toDouble * 10000)))
    // serial reference for the integer scatter
    val sxy = Array.ofDim[Long](d, d); val sx = new Array[Long](d)
    q.foreach { row =>
      var i = 0
      while (i < d) { sx(i) += row(i); var j = i
        while (j < d) { sxy(i)(j) += row(i) * row(j); j += 1 }; i += 1 }
    }
    val gram = Similarity.embGram(spark, dir).collect()
      .map(r => (r.getAs[Long]("i"), r.getAs[Long]("j"),
        r.getAs[Long]("sxy"), r.getAs[Long]("m")))
    assert(gram.length === d * (d + 1) / 2)
    gram.foreach { case (i, j, s, m) =>
      assert(s === sxy(i.toInt)(j.toInt), s"sxy($i,$j)")
      assert(m === n * s - sx(i.toInt) * sx(j.toInt), s"m($i,$j)")
      if (i == j) assert(m >= 0L, s"diagonal m($i,$i) negative")
    }
    // pca: replay the exact driver loop from the serial scatter
    val mm = Array.tabulate(d, d) { (i, j) =>
      val (a, b) = (math.min(i, j), math.max(i, j))
      n * sxy(a)(b) - sx(a) * sx(b)
    }
    var u = Array.fill(d)(1.0)
    for (_ <- 1 to Similarity.PcaIterations) {
      val mx = u.iterator.map(math.abs).max
      val v = u.map(_ / mx)
      u = Array.tabulate(d)(i =>
        (0 until d).iterator.map(j => mm(i)(j).toDouble * v(j))
          .reduceLeft(_ + _))
    }
    val mxf = u.iterator.map(math.abs).max
    def rnd(x: Double): Long =
      if (x >= 0) math.floor(x + 0.5).toLong else -math.floor(-x + 0.5).toLong
    val pca = Similarity.embPca(spark, dir).collect()
      .map(r => (r.getAs[Long]("dim"), r.getAs[Long]("var_m"),
        r.getAs[Long]("eigvec_q"), r.getAs[Long]("eigval_q")))
    assert(pca.length === d)
    pca.foreach { case (dim, vm, evq, lam) =>
      assert(vm === mm(dim.toInt)(dim.toInt))
      assert(evq === rnd(u(dim.toInt) / mxf * 1000000d), s"eigvec[$dim]")
      assert(lam === rnd(mxf))
    }
    // the normalized eigenvector peaks at exactly ±1e6 somewhere
    assert(pca.exists(p => math.abs(p._3) === 1000000L))
  }

  test("bm25: serial integer replay matches; self excluded; copies rank first") {
    import org.apache.spark.sql.functions.col
    import graft.exts.TextAnalysis.{Bm25K1x1000, Bm25Bx1000}
    val docs = graft.Tables.load(spark, dir, "documents")
      .select(col("doc_id"), col("text")).collect()
      .map(r => r.getLong(0) -> r.getString(1).trim.split("\\s+").toSeq)
      .toMap
    val nDocs = docs.size.toLong
    val avgdlX1000 = docs.valuesIterator.map(_.size.toLong).sum * 1000 / nDocs
    val tf = docs.map { case (id, ws) =>
      id -> ws.groupBy(identity).view.mapValues(_.size.toLong).toMap }
    val dfr = tf.valuesIterator.flatMap(_.keysIterator).toSeq
      .groupBy(identity).view.mapValues(_.size.toLong).toMap
    def score(q: Long, d: Long): Long =
      docs(q).distinct.iterator.map { t =>
        tf(d).get(t).fold(0L) { f =>
          val dl = docs(d).size.toLong
          val kX1000 = (Bm25K1x1000 * ((1000 - Bm25Bx1000) +
            (Bm25Bx1000 * dl * 1000) / avgdlX1000)) / 1000
          val tfn = (f * (Bm25K1x1000 + 1000) * 1000) / (f * 1000 + kX1000)
          val idf = ((2 * (nDocs - dfr(t)) + 1) * 1000) / (2 * dfr(t) + 1)
          (idf * tfn) / 1000
        }
      }.sum
    val got = graft.exts.TextAnalysis.bm25Retrieve(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getLong(3)))
    assert(got.nonEmpty)
    // no self-retrieval, ranks dense from 1, scores match the replay
    got.groupBy(_._1).foreach { case (q, rows) =>
      assert(rows.map(_._3).sorted.toSeq === (1 to rows.length))
      rows.foreach { case (_, d, _, s) =>
        assert(d !== q)
        assert(s === score(q, d), s"score($q,$d)")
      }
      // the engine's top-k really is the k best: no unreported candidate
      // beats the reported cutoff (ties broken by doc_id like the engine)
      val cutoff = rows.maxBy(_._3)
      val reported = rows.map(_._2).toSet
      docs.keysIterator.filter(d => d != q && !reported(d)).foreach { d =>
        val s = score(q, d)
        assert(s < cutoff._4 || (s == cutoff._4 && d > cutoff._2),
          s"unreported $d (score $s) beats cutoff ${cutoff._4}")
      }
    }
  }

  test("knn graph: serial within-bucket replay matches; mutual edges symmetric") {
    import org.apache.spark.sql.functions.col
    val emb = graft.Tables.load(spark, dir, "embeddings")
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray)
    val bits = Similarity.adaptiveBucketBits(emb.length.toLong)
    def bucket(v: Array[Float]): Long =
      (0 until bits).map(i => if (v(i) >= 0f) 1L << i else 0L).sum
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var (d, na, nb) = (0.0, 0.0, 0.0)
      for (i <- a.indices) {
        d += a(i).toDouble * b(i); na += a(i).toDouble * a(i)
        nb += b(i).toDouble * b(i)
      }
      d / (math.sqrt(na) * math.sqrt(nb))
    }
    val byBucket = emb.groupBy { case (_, v) => bucket(v) }
    val expect = emb.flatMap { case (id, v) =>
      byBucket(bucket(v)).filter(_._1 != id)
        .map { case (nid, nv) => (nid, cos(v, nv)) }
        .sortBy { case (nid, c) => (-c, nid) }
        .take(Similarity.KnnGraphK).zipWithIndex
        .map { case ((nid, _), i) => (id, nid, i + 1) }
    }.toSet
    val got = Similarity.knnGraph(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getLong(3)))
    assert(got.map(t => (t._1, t._2, t._3)).toSet === expect)
    val edgeSet = got.map(t => (t._1, t._2)).toSet
    got.foreach { case (s, d0, _, m) =>
      assert((m == 1L) === edgeSet.contains((d0, s)), s"mutual($s,$d0)")
    }
    assert(got.exists(_._4 == 1L), "no mutual edges at all is implausible")
  }

  test("emb project: serial LCG-sign replay matches; projection is linear") {
    import org.apache.spark.sql.functions.col
    val d = Similarity.ProjectDims
    val emb = graft.Tables.load(spark, dir, "embeddings")
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => r.getLong(0) ->
        r.getSeq[Float](1).map(x => math.round(x.toDouble * 10000)).toArray)
    def sign(i: Int, j: Int): Long =
      if (((1103515245L * (i.toLong * d + j) + 12345L) / 65536L) % 2L == 0L)
        1L else -1L
    val expect = emb.flatMap { case (id, q) =>
      (0 until d).map(j =>
        (id, j.toLong, q.indices.map(i => sign(i, j) * q(i)).sum))
    }.toSet
    val got = Similarity.embProject(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got === expect)
    // both signs occur in the hash matrix (a degenerate all-+1 matrix
    // would still pass the replay)
    val signs = for (i <- 0 until 64; j <- 0 until d) yield sign(i, j)
    assert(signs.contains(1L) && signs.contains(-1L))
  }

  test("lsh tune: serial fixed-point replay; deployed knee sharper than 1-row bands") {
    val rows = Dedup.lshTune(spark).collect()
      .map(r => ((r.getLong(0), r.getLong(1), r.getLong(2)),
        (r.getLong(3), r.getLong(4), r.getLong(5)))).toMap
    def sq(chain: Long, steps: Int): Long =
      (1 to steps).foldLeft(chain)((p, _) => p * p / 1000000L)
    assert(rows.size === 7 * 19)
    rows.foreach { case ((b, r, s), (pPpm, detPpm, dep)) =>
      val p = sq(s * 10000L, java.lang.Long.numberOfTrailingZeros(r))
      val det =
        1000000L - sq(1000000L - p, java.lang.Long.numberOfTrailingZeros(b))
      assert(pPpm === p, s"p(b=$b,r=$r,s=$s)")
      assert(detPpm === det, s"detect(b=$b,r=$r,s=$s)")
      assert((dep == 1L) === (b == Dedup.NumBands.toLong &&
        r == (Dedup.NumHashes / Dedup.NumBands).toLong))
    }
    // the deployed 16×4 config suppresses low-similarity false positives
    // that 64×1 banding admits, while still catching true near-dups
    def det(b: Long, r: Long, s: Long) = rows((b, r, s))._2
    assert(det(16, 4, 20) < det(64, 1, 20) / 10)
    assert(det(16, 4, 90) > 900000L)
    // detect is monotone in similarity for every config
    rows.keys.map(k => (k._1, k._2)).foreach { case (b, r) =>
      val curve = (1 to 19).map(i => det(b, r, i * 5L))
      assert(curve === curve.sorted, s"non-monotone at b=$b r=$r")
    }
  }

  test("mix epochs: budget splits by weight; repetition flagged past the knee") {
    import org.apache.spark.sql.functions.col
    val toks = graft.Tables.load(spark, dir, "documents")
      .select(col("lang"), col("text")).collect()
      .map(r => r.getString(0) -> r.getString(1).trim.split("\\s+").length.toLong)
      .groupBy(_._1).view.mapValues(_.map(_._2).sum).toMap
    val w = Sampling.DefaultMixWeights.toMap
    val tAll = w.keysIterator.map(toks).sum
    val budget = tAll * Sampling.EpochBudgetX1000 / 1000
    val wSum = w.valuesIterator.sum
    val got = Sampling.mixEpochs(spark, dir).collect().map(r =>
      r.getString(0) -> (r.getLong(1), r.getLong(3), r.getLong(4),
        r.getLong(5), r.getLong(6), r.getLong(7))).toMap
    assert(got.keySet === w.keySet)
    got.foreach { case (lang, (t, b, desired, epochs, excess, beyond)) =>
      assert(t === toks(lang))
      assert(b === budget)
      assert(desired === budget * w(lang) / wSum)
      assert(epochs === desired * 1000 / t)
      assert(excess === math.max(desired - t, 0L))
      assert((beyond == 1L) === (epochs > Sampling.FreeEpochsX1000))
    }
    // a 4× budget must force SOME source past one epoch of its own data
    assert(got.valuesIterator.exists(_._5 > 0L))
  }

  test("epoch expand: stream realizes the plan exactly (full epochs + coin)") {
    import org.apache.spark.sql.functions.col
    val plan = Sampling.mixEpochs(spark, dir).collect()
      .map(r => r.getString(0) -> r.getLong(5)).toMap // lang -> epochs_x1000
    val docs = graft.Tables.load(spark, dir, "documents")
      .select(col("doc_id"), col("lang")).collect()
      .map(r => (r.getLong(0), r.getString(1)))
      .filter(d => plan.contains(d._2))
    val got = Sampling.epochExpand(spark, dir).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    val byDoc = got.groupBy(_._1)
    docs.foreach { case (id, lang) =>
      val full = plan(lang) / 1000
      val frac = plan(lang) % 1000
      val coin = ((id % 1000000007L) * 2654435761L) % 1000 < frac
      val want = (0L until full) ++ (if (coin) Seq(full) else Nil)
      val have = byDoc.getOrElse(id, Array.empty[(Long, String, Long)])
        .map(_._3).sorted.toSeq
      assert(have === want, s"epochs of doc $id ($lang)")
    }
    assert(got.length === byDoc.valuesIterator.map(_.length).sum)
    // realized volume is within coin noise of the planned budget
    val planned = docs.groupBy(_._2).map { case (l, ds) =>
      ds.length.toLong * plan(l) / 1000 }.sum
    assert(math.abs(got.length - planned) < docs.length / 10)
    // runaway-mixture clamp: a tiny source with a huge weight share
    // plans thousands of epochs; the expansion materializes at most
    // ExpandMaxEpochs of them instead of a per-row mega-sequence
    import spark.implicits._
    val skew = ((1L to 50L).map(i => (i, "en", "w " * 50)) :+
      ((999L, "es", "tok"))).toDF("doc_id", "lang", "text")
    val weights = Seq("en" -> 1L, "es" -> 999L)
    val plannedEpochs = Sampling.mixEpochs(skew, weights).collect()
      .map(r => r.getString(0) -> r.getLong(5)).toMap
    assert(plannedEpochs("es") / 1000 > Sampling.ExpandMaxEpochs,
      "fixture must actually trigger the clamp")
    val esEpochs = Sampling.epochExpand(skew, weights).collect()
      .filter(_.getString(1) == "es").map(_.getLong(2))
    assert(esEpochs.nonEmpty)
    assert(esEpochs.max === Sampling.ExpandMaxEpochs - 1,
      "clamped expansion keeps exactly ExpandMaxEpochs full epochs")
  }

  test("knn components: clusters equal a serial union-find over mutual edges") {
    val g = Similarity.knnGraph(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(3)))
    val mutual = g.filter(_._3 == 1L).map(t => (t._1, t._2))
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    mutual.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val expect = mutual.flatMap(e => Seq(e._1, e._2)).distinct
      .map(v => v -> find(v)).toMap
    // canonical label = the min member, which union-by-min preserves
    val got = Similarity.knnComponents(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(3)))
    assert(got.map(_._1).toSet === expect.keySet)
    got.foreach { case (v, c, sz, canon) =>
      assert(c === expect(v), s"component($v)")
      assert(sz === expect.count(_._2 == c).toLong, s"size($v)")
      assert(canon === (v == c))
    }
    // mutual edges exist, and at least one cluster has >2 members or
    // there are multiple clusters (structure, not a single blob)
    assert(expect.nonEmpty)
    assert(expect.values.toSet.size > 1)
  }

  test("graph pagerank: serial integer fixed-point replay over knn edges") {
    val edges = Similarity.knnGraph(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val nodes = graft.Tables.load(spark, dir, "embeddings")
      .select(org.apache.spark.sql.functions.col("vec_id"))
      .collect().map(_.getLong(0))
    val outdeg = edges.groupBy(_._1).map { case (s, es) =>
      s -> es.length.toLong }
    var rank = nodes.map(v => v -> Similarity.PagerankScale).toMap
    (1 to Similarity.PagerankIters).foreach { _ =>
      val in = scala.collection.mutable.Map[Long, Long]()
        .withDefaultValue(0L)
      edges.foreach { case (s, d) => in(d) += rank(s) / outdeg(s) }
      rank = nodes.map(v => v ->
        (Similarity.PagerankBase + (850L * in(v)) / 1000L)).toMap
    }
    val indeg = edges.groupBy(_._2).map { case (d, es) =>
      d -> es.length.toLong }
    val got = Similarity.graphPagerank(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(got.map(_._1).sorted === nodes.sorted)
    got.foreach { case (v, pr, od, id) =>
      assert(pr === rank(v), s"pagerank($v)")
      assert(od === outdeg.getOrElse(v, 0L), s"out_deg($v)")
      assert(id === indeg.getOrElse(v, 0L), s"in_deg($v)")
    }
    // the score actually differentiates core from periphery
    assert(got.map(_._2).distinct.length > 1)
  }

  test("graph walks: serial hash-stepped replay over ranked knn edges") {
    val edges = Similarity.knnGraph(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2).toLong))
    val bySrc = edges.groupBy(_._1)
      .map { case (s, es) => s -> es.sortBy(_._3).map(_._2) }
    val nodes = graft.Tables.load(spark, dir, "embeddings")
      .select(org.apache.spark.sql.functions.col("vec_id"))
      .collect().map(_.getLong(0))
    val expect = scala.collection.mutable.ArrayBuffer[(Long, Long, Long)]()
    nodes.foreach { w =>
      var cur = w
      expect += ((w, 0L, w))
      var t = 1
      var alive = true
      while (alive && t <= Similarity.WalkLen) {
        bySrc.get(cur) match {
          case Some(nbrs) =>
            val h = ((w % Similarity.WalkModA) * Similarity.WalkMulA +
              t * Similarity.WalkMulB + Similarity.WalkAddC) %
              Similarity.WalkModB
            cur = nbrs((h % nbrs.length).toInt)
            expect += ((w, t.toLong, cur))
          case None => alive = false
        }
        t += 1
      }
    }
    val got = Similarity.graphWalks(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got.sorted === expect.toArray.sorted)
    // the walks actually move (not fixed at the start node) and every
    // hop follows a real edge
    assert(got.exists(w => w._2 > 0 && w._3 != w._1))
    val edgeSet = edges.map(e => (e._1, e._2)).toSet
    val byWalk = got.groupBy(_._1).view
      .mapValues(_.sortBy(_._2).map(_._3))
    byWalk.foreach { case (_, path) =>
      path.sliding(2).foreach {
        case Array(a, b) => assert(edgeSet.contains((a, b)))
        case _ =>
      }
    }
  }

  test("walk skipgrams: serial pair replay; pair counts are symmetric") {
    val edges = Similarity.knnGraph(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2).toLong))
    val bySrc = edges.groupBy(_._1)
      .map { case (s, es) => s -> es.sortBy(_._3).map(_._2) }
    val nodes = graft.Tables.load(spark, dir, "embeddings")
      .select(org.apache.spark.sql.functions.col("vec_id"))
      .collect().map(_.getLong(0))
    // serial walks (same replay as the graph_walks spec)
    val walks = nodes.map { w =>
      val path = scala.collection.mutable.ArrayBuffer[Long](w)
      var cur = w
      var t = 1
      var alive = true
      while (alive && t <= Similarity.WalkLen) {
        bySrc.get(cur) match {
          case Some(nbrs) =>
            val h = ((w % Similarity.WalkModA) * Similarity.WalkMulA +
              t * Similarity.WalkMulB + Similarity.WalkAddC) %
              Similarity.WalkModB
            cur = nbrs((h % nbrs.length).toInt)
            path += cur
          case None => alive = false
        }
        t += 1
      }
      path.toIndexedSeq
    }
    val expect = scala.collection.mutable.Map[(Long, Long), Long]()
      .withDefaultValue(0L)
    walks.foreach { path =>
      for {
        i <- path.indices; j <- path.indices
        if i != j && math.abs(i - j) <= Similarity.SkipWindow
      } expect((path(i), path(j))) += 1L
    }
    val got = Similarity.walkSkipgrams(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(got === expect.toMap)
    // symmetry law: every (a, b) count equals its (b, a) mirror
    got.foreach { case ((a, b), n) => assert(got((b, a)) === n) }
  }

  test("graph triangles: serial wedge/closure replay; closure bounded") {
    val edges = Similarity.knnGraph(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val out = edges.groupBy(_._1).map { case (s, es) => s -> es.map(_._2) }
    val edgeSet = edges.toSet
    val expect = out.flatMap { case (src, nbrs) =>
      val wedges = for {
        mid <- nbrs; far <- out.getOrElse(mid, Array.empty[Long])
        if far != src
      } yield far
      if (wedges.isEmpty) None
      else {
        val closed = wedges.count(far => edgeSet.contains((src, far)))
        Some(src -> ((wedges.length.toLong, closed.toLong,
          closed.toLong * 1000L / wedges.length)))
      }
    }
    val got = Similarity.graphTriangles(spark, dir).collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(got === expect)
    // laws: closure never exceeds wedges; permille in [0, 1000]
    got.values.foreach { case (w, c, x) =>
      assert(c <= w); assert(x >= 0L && x <= 1000L)
    }
    // the diagnostic differentiates (not all nodes identical)
    assert(got.values.map(_._3).toSeq.distinct.length > 1)
  }

  test("mm phash: closed-form replay; brightness-shift invariance") {
    import graft.exts.Multimodal
    val g = Multimodal.AhashGrid
    def replay(id: Long): (Int, Int, Long, Long) = {
      val (w, h) = ((id % 13 + 4).toInt, (id % 11 + 4).toInt)
      val bs = new Array[Long](g * g); val bn = new Array[Long](g * g)
      var total = 0L
      for (y <- 0 until h; x <- 0 until w) {
        val gray = (id * 3 + x + y) % 256 + (id * 5 + 2 * x) % 256 +
          (id * 7 + 3 * y) % 256
        val k = (y * g / h) * g + (x * g / w)
        bs(k) += gray; bn(k) += 1L; total += gray
      }
      var hash = 0L
      for (k <- 0 until g * g)
        if (bs(k) * w * h > total * bn(k)) hash |= 1L << k
      (w, h, total, hash)
    }
    val got = Multimodal.ahashStats(spark, dir).collect()
      .map(r => r.doc_id -> ((r.width, r.height, r.gray_sum, r.ahash)))
      .toMap
    got.foreach { case (id, v) => assert(v === replay(id)) }
    assert(got.values.map(_._4).toSeq.distinct.length > 10)
    // perceptual law: a uniformly brightened copy (no clamping) keeps
    // the EXACT hash while its byte payload and gray sum change —
    // the property that makes the hash a near-dup bucket key
    import spark.implicits._
    def png(id: Long, shift: Int): graft.exts.Multimodal.PngAsset = {
      val (w, h) = ((id % 13 + 4).toInt, (id % 11 + 4).toInt)
      val img = new java.awt.image.BufferedImage(
        w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until h; x <- 0 until w) {
        val r = ((id * 3 + x + y) % 200).toInt + shift
        val gg = ((id * 5 + 2 * x) % 200).toInt + shift
        val b = ((id * 7 + 3 * y) % 200).toInt + shift
        img.setRGB(x, y, (r << 16) | (gg << 8) | b)
      }
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", bos)
      graft.exts.Multimodal.PngAsset(id, bos.toByteArray)
    }
    val ids = Seq(3L, 7L, 11L)
    val base = Multimodal
      .ahashStats(ids.map(png(_, 0)).toDS()).collect()
      .map(r => r.doc_id -> ((r.ahash, r.gray_sum))).toMap
    val bright = Multimodal
      .ahashStats(ids.map(png(_, 40)).toDS()).collect()
      .map(r => r.doc_id -> ((r.ahash, r.gray_sum))).toMap
    ids.foreach { id =>
      assert(bright(id)._1 === base(id)._1, s"hash moved for $id")
      assert(bright(id)._2 > base(id)._2)
    }
  }

  test("mm video fp: closed-form per-frame replay; frame-count law") {
    import graft.exts.Multimodal
    val g = Multimodal.AhashGrid
    def replay(id: Long, f: Int): (Long, Long) = {
      val (w, h) = ((id % 13 + 4).toInt, (id % 11 + 4).toInt)
      val bs = new Array[Long](g * g); val bn = new Array[Long](g * g)
      var total = 0L
      for (y <- 0 until h; x <- 0 until w) {
        val gray = (id * 3 + 11 * f + 5 * x + 3 * y) % 256
        val k = (y * g / h) * g + (x * g / w)
        bs(k) += gray; bn(k) += 1L; total += gray
      }
      var hash = 0L
      for (k <- 0 until g * g)
        if (bs(k) * w * h > total * bn(k)) hash |= 1L << k
      (total, hash)
    }
    val got = Multimodal.videoFingerprints(spark, dir).collect()
      .map(r => (r.doc_id, r.frame) -> ((r.gray_sum, r.ahash))).toMap
    got.foreach { case ((id, f), v) => assert(v === replay(id, f)) }
    // frame-count law: exactly id%5+2 frames per doc, contiguous from 0
    got.keySet.groupBy(_._1).foreach { case (id, ks) =>
      assert(ks.map(_._2).toSeq.sorted ===
        (0 until Multimodal.gifFrameCount(id)))
    }
    assert(got.values.map(_._2).toSeq.distinct.length > 10)
  }

  test("mm dup groups: planted pairs share a group; one canonical each") {
    import graft.exts.Multimodal
    val m = Multimodal.DupContentMod
    val got = Multimodal.mmDupGroups(spark, dir).collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    val ids = got.keySet
    assert(ids.nonEmpty)
    // every planted pair (d, d+mod) lands in the SAME group
    ids.filter(d => ids.contains(d + m)).foreach { d =>
      assert(got(d)._1 === got(d + m)._1, s"pair $d/${d + m} split")
    }
    // groups partition the corpus with exactly one canonical member,
    // which is the smallest id of its group
    got.toSeq.groupBy(_._2._1).foreach { case (gid, members) =>
      assert(members.count(_._2._3 == 1L) === 1)
      assert(members.map(_._1).min === gid)
      members.foreach { case (_, (_, sz, _)) =>
        assert(sz === members.size.toLong) }
    }
    // the planting makes real duplicates: some group has ≥2 members
    assert(got.values.exists(_._2 >= 2L))
  }

  test("graph health: report row replays from the edge artifact") {
    import org.apache.spark.sql.functions.col
    val edges = graft.exts.KnnIndex.edges(spark, dir).collect()
      .map(r => (r.getAs[Long]("src_id"), r.getAs[Long]("dst_id"),
        r.getAs[Long]("mutual")))
    val nNodes = graft.Tables.load(spark, dir, "embeddings").count()
    val degs = edges.groupBy(_._1).map { case (_, es) => es.size }
    val row = Similarity.graphHealth(spark, dir).collect()
    assert(row.length === 1)
    val r = row.head
    assert(r.getAs[Long]("n_nodes") === nNodes)
    assert(r.getAs[Long]("n_edges") === edges.length.toLong)
    assert(r.getAs[Long]("n_mutual") === edges.map(_._3).sum)
    assert(r.getAs[Long]("mutual_permille") ===
      edges.map(_._3).sum * 1000 / edges.length)
    assert(r.getAs[Long]("n_isolated") ===
      nNodes - edges.map(_._1).distinct.length)
    assert(r.getAs[Long]("max_out_deg") === degs.max.toLong)
    // the mutual flag is symmetric, so n_mutual is even — a parity
    // canary for a half-updated artifact
    assert(r.getAs[Long]("n_mutual") % 2 === 0L)
  }

  test("mm resize px: pass-through equals the unresized hash; downscale dims law") {
    import graft.exts.Multimodal
    val sig = Multimodal.ahashStats(spark, dir).collect()
      .map(r => r.doc_id -> ((r.width, r.height, r.gray_sum, r.ahash)))
      .toMap
    val rz = Multimodal.resizePixels(spark, dir, 8).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getLong(3),
        r.getLong(4)))
    assert(rz.nonEmpty)
    var (passThrough, downscaled) = (0, 0)
    rz.foreach { case (id, rw, rh, gs, ah) =>
      val (w, h, gs0, ah0) = sig(id)
      val m = math.max(w, h)
      if (m <= 8) {
        // no resize → the whole pipeline must reproduce the plain
        // decode→hash signature exactly
        passThrough += 1
        assert((rw, rh, gs, ah) === ((w, h, gs0, ah0)), s"doc $id moved")
      } else {
        downscaled += 1
        assert(rw === math.max(1, w * 8 / m), s"doc $id rw")
        assert(rh === math.max(1, h * 8 / m), s"doc $id rh")
        assert(gs < gs0, s"doc $id: fewer pixels must carry less mass")
      }
    }
    assert(passThrough > 0 && downscaled > 0,
      s"fixture must exercise both branches: $passThrough/$downscaled")
  }

  test("mm audio fp: closed-form replay; gain invariance") {
    import graft.exts.Multimodal
    val wN = Multimodal.AudioFpWindows
    def replay(id: Long): (Long, Long, Long) = {
      val n = (id % 500 + 100).toInt
      val ws = new Array[Long](wN)
      var total = 0L
      for (i <- 0 until n) {
        val a = math.abs((id * 31 + i.toLong * 17) % 65536 - 32768)
        ws((i.toLong * wN / n).toInt) += a
        total += a
      }
      var fp = 0L
      for (k <- 0 until wN - 1)
        fp |= math.min(ws(k) * 16L / total, 15L) << (4 * k)
      (n.toLong, total, fp)
    }
    val got = Multimodal.audioFingerprints(spark, dir).collect()
      .map(r => r.doc_id -> ((r.n_samples, r.abs_sum, r.afp))).toMap
    got.foreach { case (id, v) => assert(v === replay(id)) }
    assert(got.values.map(_._3).toSeq.distinct.length > 10)
    // perceptual law: an exactly gain-scaled copy (double amplitude —
    // different bytes, different abs_sum) keeps the EXACT fingerprint
    import spark.implicits._
    def wav(id: Long, gain: Int): graft.exts.Multimodal.WavAsset = {
      val n = (id % 500 + 100).toInt
      val pcm = new Array[Byte](n * 2)
      for (i <- 0 until n) {
        val s = ((((id * 31 + i.toLong * 17) % 16000) - 8000).toInt
          * gain).toShort
        pcm(2 * i) = (s & 0xff).toByte
        pcm(2 * i + 1) = ((s >> 8) & 0xff).toByte
      }
      val fmt = new javax.sound.sampled.AudioFormat(8000f, 16, 1,
        true, false)
      val ais = new javax.sound.sampled.AudioInputStream(
        new java.io.ByteArrayInputStream(pcm), fmt, n.toLong)
      val bos = new java.io.ByteArrayOutputStream()
      javax.sound.sampled.AudioSystem.write(ais,
        javax.sound.sampled.AudioFileFormat.Type.WAVE, bos)
      graft.exts.Multimodal.WavAsset(id, bos.toByteArray)
    }
    val ids = Seq(3L, 8L, 21L)
    val base = Multimodal
      .audioFingerprints(ids.map(wav(_, 1)).toDS()).collect()
      .map(r => r.doc_id -> ((r.afp, r.abs_sum))).toMap
    val loud = Multimodal
      .audioFingerprints(ids.map(wav(_, 2)).toDS()).collect()
      .map(r => r.doc_id -> ((r.afp, r.abs_sum))).toMap
    ids.foreach { id =>
      assert(loud(id)._1 === base(id)._1, s"fingerprint moved for $id")
      assert(loud(id)._2 === base(id)._2 * 2)
    }
  }

  test("mm video dups: every planted shared clip found with exact gap and run") {
    import graft.exts.Multimodal
    // one (a, b, gap) key can carry several islands (a planted run
    // plus a disjoint signature coincidence) — keep them all
    val got = Multimodal.mmVideoDups(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)) ->
        ((r.getLong(3), r.getLong(4))))
      .groupBy(_._1).map { case (k, v) => k -> v.map(_._2).toSeq }
    assert(got.nonEmpty)
    // closed-form expectation: docs a < b of one group show stream
    // positions [a%4, a%4+n(a)) and [b%4, b%4+n(b)); the interval
    // intersection is a shared clip at frame gap (a%4 − b%4)
    val docIds = Tables.load(spark, dir, "documents")
      .select(org.apache.spark.sql.functions.col("doc_id"))
      .collect().map(_.getLong(0)).sorted
    var planted = 0
    for {
      a <- docIds; b <- docIds
      if a < b && a / Multimodal.ClipGroup == b / Multimodal.ClipGroup
    } {
      val (oa, ob) = (a % 4, b % 4)
      val (na, nb) = (a % 5 + 2, b % 5 + 2)
      val lo = math.max(oa, ob)
      val hi = math.min(oa + na, ob + nb)
      if (hi - lo >= Multimodal.MinSharedRun) {
        planted += 1
        val gap = oa - ob // b's frame index − a's for shared content
        val hits = got.getOrElse((a, b, gap), Seq.empty)
        assert(hits.nonEmpty, s"planted clip $a/$b gap $gap missed")
        // signature coincidences may only EXTEND a run, never shrink
        // it — some island must cover the planted clip
        assert(hits.exists { case (start, len) =>
          len >= hi - lo && start <= lo - oa
        }, s"no island covers planted clip $a/$b: $hits")
      }
    }
    assert(planted > 50, s"fixture planted only $planted clips")
    // every reported pair is within one stock-footage group (dims and
    // ramps differ across groups, so cross-group runs would mark a
    // degenerate signature)
    got.keys.foreach { case (a, b, _) =>
      assert(a / Multimodal.ClipGroup === b / Multimodal.ClipGroup) }
  }

  test("mm audio dups: finds trimmed copies the whole-file fingerprint provably misses") {
    import graft.exts.Multimodal
    // the planted trimmed-copy pair: docs 16 and 17 (group 2) carry
    // stream windows [0, 5) and [1, 7) — same audio, 17 trimmed to
    // start one window later and running longer
    val assets = Multimodal.wavClipAssets(spark, dir)
    val whole = Multimodal.audioFingerprints(assets).collect()
      .map(r => r.doc_id -> r.afp).toMap
    assert(whole(16L) !== whole(17L),
      "whole-file fingerprints agree — the trim fixture is broken")
    val got = Multimodal.mmAudioDups(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)) ->
        ((r.getLong(3), r.getLong(4))))
      .groupBy(_._1).map { case (k, v) => k -> v.map(_._2).toSeq }
    val hit = got.getOrElse((16L, 17L, -1L), Seq.empty)
    assert(hit.nonEmpty, "trimmed copy 16/17 missed")
    assert(hit.exists(_._2 >= 4L)) // windows 1..4 shared
    // full closed-form recall over every same-group pair
    val docIds = Tables.load(spark, dir, "documents")
      .select(org.apache.spark.sql.functions.col("doc_id"))
      .collect().map(_.getLong(0)).sorted
    var planted = 0
    for {
      a <- docIds; b <- docIds
      if a < b && a / Multimodal.ClipGroup == b / Multimodal.ClipGroup
    } {
      val (oa, ob) = (a % Multimodal.AudioTrimMax,
        b % Multimodal.AudioTrimMax)
      val (na, nb) = (4 + a % 3, 4 + b % 3)
      val lo = math.max(oa, ob)
      val hi = math.min(oa + na, ob + nb)
      if (hi - lo >= Multimodal.MinSharedRun) {
        planted += 1
        val hit2 = got.getOrElse((a, b, oa - ob), Seq.empty)
        assert(hit2.exists(_._2 >= hi - lo), s"trimmed copy $a/$b missed")
      }
    }
    assert(planted > 50, s"fixture planted only $planted copies")
  }

  test("mm dup near: exact key provably misses the planted copies; near matching catches them") {
    import graft.exts.Multimodal
    val g = Multimodal.NearGroup
    // exact decoded-signature key (the mm_dup_groups grouping) over the
    // near-dup fixture's ORIGINAL rasters
    val exact = Multimodal
      .ahashStats(Multimodal.pngAssetsNearDups(spark, dir)).collect()
      .map(r => r.doc_id -> ((r.width, r.height, r.gray_sum, r.ahash)))
      .toMap
    // canonical signatures — the scale-normalized key
    val canon = Multimodal
      .canonicalSignatures(Multimodal.pngAssetsNearDups(spark, dir))
      .collect()
      .map(r => r.doc_id ->
        ((r.canon_w, r.canon_h, r.canon_sum, r.hash_lo, r.hash_hi)))
      .toMap
    val groups = exact.keySet.map(_ / g).toSeq.sorted
      .filter(grp => (0 until g.toInt).forall(v => exact.contains(grp * g + v)))
    assert(groups.size >= 100, s"only ${groups.size} full groups")
    groups.foreach { grp =>
      val Seq(v0, v1, v2, v3) = (0L until g).map(v => grp * g + v)
      // v3 is a byte-identical re-render of v0
      assert(exact(v0) === exact(v3))
      // the rescaled copy: dims (and mass) differ → exact key misses
      assert(exact(v1)._1 === exact(v0)._1 * 2)
      assert(exact(v1) !== exact(v0), s"group $grp rescale not missed")
      // the noisy copy: same dims, gray_sum always moved → exact misses
      assert(exact(v2)._1 === exact(v0)._1)
      assert(exact(v2)._3 !== exact(v0)._3, s"group $grp noise not missed")
      // canonical law: the exact 2× NN upscale lands on the IDENTICAL
      // canonical raster (floor division composes)
      assert(canon(v1) === canon(v0), s"group $grp canonical drifted")
    }
    // the near matcher catches every planted combination
    val pairs = Multimodal.mmDupNear(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    pairs.keys.foreach { case (a, b) => assert(a < b) }
    assert(pairs.values.forall(h => h >= 0 && h <= Multimodal.NearHamMax))
    groups.foreach { grp =>
      for (i <- 0 until g.toInt; j <- (i + 1) until g.toInt)
        assert(pairs.contains((grp * g + i, grp * g + j)),
          s"planted pair ${grp * g + i}/${grp * g + j} missed")
    }
    // the noise genuinely exercises the Hamming path: some planted
    // noisy pair matches at distance > 0 (band-exact for ≤ NearHamMax)
    assert(groups.exists(grp => pairs((grp * g, grp * g + 2)) > 0),
      "no planted pair exercised a bit flip")
  }

  test("mm media verdict: one keep per component; evidence composes all three matchers") {
    import graft.exts.Multimodal
    val rows = Multimodal.mmMediaVerdict(spark, dir).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getString(2),
        r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6))))
      .toMap
    val nDocs = Tables.load(spark, dir, "documents").count()
    assert(rows.size.toLong === nDocs)
    rows.foreach { case (id, (canon, verdict, img, vid, aud, nm)) =>
      assert(canon <= id) // canonical = min reachable
      assert(verdict === (if (canon == id) "keep" else "drop"))
      assert(nm === img + vid + aud)
      // a non-trivial component implies at least one modality implicated
      if (canon != id) assert(nm >= 1)
    }
    // exactly one keep per component, and it IS the component id
    rows.toSeq.groupBy(_._2._1).foreach { case (canon, members) =>
      assert(members.count(_._2._2 == "keep") === 1, s"component $canon")
      assert(members.map(_._1).min === canon)
    }
    // composition: the image matcher links every planted 4-group and
    // the video/audio matchers link the enclosing 8-block, so all
    // members of one ClipGroup share one canonical pointer
    rows.keys.groupBy(_ / Multimodal.ClipGroup).foreach {
      case (blk, ids) =>
        assert(ids.map(rows(_)._1).toSet.size === 1,
          s"clip block $blk split across components")
    }
    // per-modality evidence is individually present somewhere
    assert(rows.values.exists(_._3 == 1L), "no image evidence")
    assert(rows.values.exists(_._4 == 1L), "no video evidence")
    assert(rows.values.exists(_._5 == 1L), "no audio evidence")
  }

  test("mm dup incremental: re-uploads resolve to their group at Hamming 0; novels flagged new") {
    import graft.exts.Multimodal
    val off = Multimodal.IncomingIdOffset
    val rows = Multimodal.mmDupIncremental(spark, dir).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4)))).toMap
    assert(rows.size >= 60)
    rows.foreach { case (bid, (n, mid, mh, isNew)) =>
      val d = bid - off
      assert(d % 8 === 3)
      assert((isNew == 1L) === (n == 0L))
      if (isNew == 1L) assert(mid === -1L && mh === -1L)
      else assert(mid >= 0L && mh >= 0L && mh <= Multimodal.NearHamMax)
    }
    val (novel, reup) = rows.partition { case (bid, _) =>
      (bid - off) % 16 == 3 }
    assert(reup.nonEmpty && novel.nonEmpty)
    // every re-upload (an exact 2× NN upscale of already-ingested
    // content) lands on its group's canonical at Hamming 0 — the
    // canonical-raster collision law — and the min matching id IS in
    // its own group (measured on this fixture; accidental cross-group
    // matches carry larger ids here)
    reup.foreach { case (bid, (n, mid, mh, _)) =>
      val g = (bid - off) / Multimodal.NearGroup
      assert(n >= 1L, s"re-upload $bid unmatched")
      assert(mh === 0L, s"re-upload $bid min hamming $mh")
      assert(mid / Multimodal.NearGroup === g,
        s"re-upload $bid resolved to foreign canonical $mid")
    }
    // novel uploads are overwhelmingly admitted as new (a rare novel
    // ramp may accidentally band-match — deterministic on both engines)
    val newCount = novel.count(_._2._4 == 1L)
    assert(newCount * 10 >= novel.size * 9,
      s"only $newCount/${novel.size} novels flagged new")
  }

  test("mm vid/aud incremental: trimmed re-uploads gated to their group; novels admitted") {
    import graft.exts.Multimodal
    val off = Multimodal.IncomingIdOffset
    for ((rows, res) <- Seq(
        (Multimodal.mmVidIncremental(spark, dir).collect(), 6L),
        (Multimodal.mmAudIncremental(spark, dir).collect(), 5L))) {
      val m = rows.map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4)))).toMap
      assert(m.size >= 50)
      m.foreach { case (bid, (n, mid, run, isNew)) =>
        val d = bid - off
        assert(d % 8 === res)
        assert((isNew == 1L) === (n == 0L))
        if (isNew == 1L) assert(mid === -1L && run === -1L)
        else assert(mid >= 0L && run >= Multimodal.MinSharedRun)
      }
      val (novel, reup) = m.partition { case (bid, _) =>
        (bid - off) % 16 == res }
      assert(reup.nonEmpty && novel.nonEmpty)
      // every trimmed re-upload (one window/frame off its own corpus
      // cut — its whole-file fingerprint differs, which is exactly why
      // the run gate exists) still shares a ≥MinSharedRun consecutive
      // run with its OWN clip group and resolves to an in-group
      // canonical
      reup.foreach { case (bid, (n, mid, _, _)) =>
        val g = (bid - off) / Multimodal.ClipGroup
        assert(n >= 1L, s"re-upload $bid unmatched")
        assert(mid / Multimodal.ClipGroup === g,
          s"re-upload $bid resolved to foreign canonical $mid")
      }
      // novel streams never alias corpus content at this fixture scale
      assert(novel.forall(_._2._4 == 1L))
    }
  }

  test("emb gram: plan construction schedules no job; actions run the one-pass reduce") {
    import org.apache.spark.sql.functions.col
    // load (and physically plan) the corpus OUTSIDE the observation
    // window — parquet footer reads may schedule their own tiny job
    val corpus = Tables.load(spark, dir, "embeddings")
      .select(col("vec_id"), col("embedding"))
    corpus.queryExecution.executedPlan
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
    }
    spark.sparkContext.addSparkListener(l)
    try {
      val df = Similarity.embGram(corpus)
      df.queryExecution.executedPlan // planning itself is job-free too
      Thread.sleep(500)
      assert(jobs.get() === 0,
        "embGram construction must schedule no Spark job (the r14 " +
          "ADVICE item: Explain/registry enumeration paid a corpus scan)")
      val n = df.count()
      assert(n > 0L)
      assert(df.collect().length.toLong === n)
      Thread.sleep(500)
      assert(jobs.get() > 0, "the first action must run the pass")
      // the kernel subtree appears under BOTH consumers in the static
      // plan; at execution AQE must REUSE the one aggregate stage so
      // each action runs a single corpus pass (the SCALE.md claim)
      val fin = df.queryExecution.executedPlan.toString
      assert(fin.contains("ReusedQueryStage") ||
        fin.contains("ReusedExchange"),
        s"kernel stage must be shared, got plan:\n${fin.take(4000)}")
    } finally spark.sparkContext.removeSparkListener(l)
  }

  test("emb diff: release ledger statuses follow the version plants exactly") {
    import org.apache.spark.sql.functions.col
    val m = Similarity.embDiff(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val ids = Tables.load(spark, dir, "embeddings")
      .select(col("vec_id")).collect().map(_.getLong(0))
    assert(ids.nonEmpty)
    ids.foreach { id =>
      val s = m(id)
      if (id % 13 == 0) assert(s === "removed", s"vec $id")
      else if (id % 10 == 0) assert(s === "changed", s"vec $id")
      else assert(s === "kept", s"vec $id")
    }
    // every 11th additionally re-keys under a fresh id → added
    ids.filter(_ % 11 == 0).foreach(id =>
      assert(m(id + 800000L) === "added", s"re-key of $id"))
    assert(m.values.toSet ===
      Set("added", "removed", "changed", "kept"))
  }

  test("emb drift: planted re-embedding flagged on every dim; same release flags none") {
    import org.apache.spark.sql.functions.col
    val deploy = Similarity.embDrift(spark, dir).collect()
    assert(deploy.nonEmpty)
    // the ×2-on-every-10th re-embedding moves every dim's mean square
    // well past the ppm tolerance — the deploy trips on ALL dims
    deploy.foreach { r =>
      assert(r.getAs[Long]("drifted") === 1L,
        s"dim ${r.getAs[Int]("dim")} must flag the re-embedding deploy")
      assert(r.getAs[Long]("msq_ratio_ppm") > 1000000L +
        Similarity.EmbDriftMsqTolPpm)
    }
    // a release compared against itself is exactly at parity — no dim
    // may flag (the false-positive guard)
    val a = Tables.load(spark, dir, "embeddings")
      .select(col("vec_id"), col("embedding"))
    val same = Similarity.embDrift(a, a).collect()
    assert(same.nonEmpty)
    same.foreach { r =>
      assert(r.getAs[Long]("drifted") === 0L)
      assert(r.getAs[Long]("mean_shift_q") === 0L)
      assert(r.getAs[Long]("msq_ratio_ppm") === 1000000L)
    }
  }

  test("media audit: composition law — flags, canonical and disposition agree with the verdict") {
    import graft.exts.Multimodal
    val audit = Multimodal.mediaAudit(spark, dir).collect()
      .map(r => r.getLong(0) -> r).toMap
    val verdict = Multimodal.mmMediaVerdict(spark, dir).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(audit.keySet === verdict.keySet)
    audit.foreach { case (id, a) =>
      val v = verdict(id)
      assert(a.getAs[Long]("canonical_id") ===
        v.getAs[Long]("canonical_id"))
      assert((a.getAs[String]("disposition") == "keep") ===
        (v.getAs[String]("verdict") == "keep"))
      for (f <- Seq("img_dup", "vid_dup", "aud_dup", "n_modalities"))
        assert(a.getAs[Long](f) === v.getAs[Long](f), s"$f of $id")
      // degree refines the flag: positive exactly when flagged
      assert((a.getAs[Long]("n_img_pairs") > 0) ===
        (a.getAs[Long]("img_dup") == 1L))
      // a dropped asset sits in a component of ≥ 2 with its canonical
      if (a.getAs[String]("disposition") == "drop_duplicate") {
        assert(a.getAs[Long]("component_size") >= 2L)
        assert(audit(a.getAs[Long]("canonical_id"))
          .getAs[String]("disposition") === "keep")
      }
    }
    // the audit surfaces real multi-pair evidence somewhere
    assert(audit.values.exists(_.getAs[Long]("n_img_pairs") >= 2L))
  }

  test("mm audio window fps: gain-scaled copy keeps every window fingerprint") {
    import graft.exts.Multimodal
    import spark.implicits._
    // two windows of explicit levels; gain 2 must not move any wfp
    def asset(id: Long, gain: Int): Multimodal.WavAsset = {
      val levels = Array(500, 9000, 120, 7400, 3100, 15000, 40, 2200,
        8100, 16, 12000, 640, 5000, 900, 14000, 300)
      val samples = Array.tabulate[Short](128) { i =>
        val l = levels(i / 8) * gain
        (if (i % 2 == 0) l else -l).toShort
      }
      Multimodal.WavAsset(id, Multimodal.encodeWavSamples(samples))
    }
    def fps(gain: Int) = Multimodal
      .audioWindowFps(Seq(asset(1L, gain)).toDS()).collect()
      .map(r => r.win -> r.wfp).toMap
    val (base, loud) = (fps(1), fps(2))
    assert(base.keySet === Set(0, 1))
    assert(base(0) !== base(1)) // distinct envelopes → distinct fps
    assert(loud === base, "gain moved a window fingerprint")
  }

  test("mmr select: serial greedy replay; diversity laws") {
    val emb = graft.Tables.load(spark, dir, "embeddings")
      .select(org.apache.spark.sql.functions.col("vec_id"),
        org.apache.spark.sql.functions.col("embedding"))
      .collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1)
        .map(x => math.round(x.toDouble * Similarity.ProtoQ)).toArray)
      .toMap
    def d(a: Array[Long], b: Array[Long]): Long =
      a.zip(b).map { case (x, y) => val t = x - y; t * t }.sum
    val cands = Similarity
      .bruteTopK(graft.Tables.load(spark, dir, "embeddings"), 8,
        Similarity.MmrCand)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
      .groupBy(_._1)
    val expect = cands.flatMap { case (q, xs) =>
      val byRank = xs.sortBy(_._3)
      var sel = Vector(byRank.head._2)
      (2 to Similarity.MmrK).foreach { _ =>
        val rem = byRank.map(_._2).filterNot(sel.contains)
        val pick = rem.maxBy { c =>
          val divmin = sel.map(s => d(emb(c), emb(s))).min
          (divmin - d(emb(q), emb(c)), -c)
        }
        sel :+= pick
      }
      sel.zipWithIndex.map { case (c, i) =>
        (q, c) -> ((i + 1L, d(emb(q), emb(c)))) }
    }
    val got = Similarity.mmrSelect(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getLong(2), r.getLong(3)))).toMap
    assert(got === expect)
    // laws: MmrK picks per query, all from the candidate set, pick 1 is
    // the pure-relevance top hit
    got.keySet.groupBy(_._1).foreach { case (q, ks) =>
      assert(ks.size === Similarity.MmrK)
      ks.foreach { case (_, c) =>
        assert(cands(q).exists(_._2 == c)) }
      val first = got.collectFirst {
        case ((qq, c), (1L, _)) if qq == q => c }.get
      assert(first === cands(q).minBy(_._3)._2)
    }
    // diversity reorders somewhere: some query's picks differ from its
    // pure-relevance top-MmrK prefix order
    val deviates = cands.exists { case (q, xs) =>
      val relOrder = xs.sortBy(_._3).take(Similarity.MmrK).map(_._2).toSeq
      val mmrOrder = got.toSeq.collect {
        case ((qq, c), (rk, _)) if qq == q => (rk, c)
      }.sortBy(_._1).map(_._2)
      relOrder != mmrOrder
    }
    assert(deviates)
  }

  test("boilerplate strip: serial replay; planted prefixes stripped exactly") {
    import graft.exts.TextAnalysis
    val base = graft.Tables.load(spark, dir, "documents")
      .select(org.apache.spark.sql.functions.col("doc_id"),
        org.apache.spark.sql.functions.col("source"),
        org.apache.spark.sql.functions.col("text"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    val planted = base.map { case (id, src, t) =>
      (id, src, if (id % 3 == 0) TextAnalysis.PlantedBoiler + " " + t else t)
    }
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val keyed = planted.map { case (id, src, t) =>
      val w = t.trim.split("\\s+").toSeq
      (id, src, t, w,
        if (w.length >= TextAnalysis.BoilerW)
          Some(w.take(TextAnalysis.BoilerW).mkString(" ")) else None)
    }
    val totals = keyed.groupBy(_._2).map { case (s, xs) => s -> xs.length }
    val boiler = keyed.filter(_._5.isDefined)
      .groupBy(x => (x._2, x._5.get))
      .collect { case ((s, lw), xs)
        if xs.length >= 2 &&
          xs.length * 1000L >= totals(s) * TextAnalysis.BoilerPermille =>
        (s, lw) }.toSet
    val expect = keyed.map { case (id, src, t, w, lw) =>
      val hit = lw.exists(l => boiler((src, l)))
      id -> ((src, if (hit) 1L else 0L,
        if (hit) TextAnalysis.BoilerW.toLong else 0L,
        md5hex(if (hit) w.drop(TextAnalysis.BoilerW).mkString(" ") else t)))
    }.toMap
    val got = TextAnalysis.boilerplateStrip(spark, dir).collect()
      .map(r => r.getLong(0) ->
        ((r.getString(1), r.getLong(2), r.getLong(3), r.getString(4))))
      .toMap
    assert(got === expect)
    // every planted doc is flagged; stripping recovers the original
    // words exactly (md5 of the single-space rejoined original)
    base.foreach { case (id, _, t) =>
      if (id % 3 == 0) {
        assert(got(id)._2 === 1L)
        assert(got(id)._4 ===
          md5hex(t.trim.split("\\s+").mkString(" ")))
      }
    }
    // something is NOT flagged (the detector differentiates)
    assert(got.values.exists(_._2 == 0L))
  }

  test("hybrid search: RRF replay from component rankings; fusion laws") {
    import graft.exts.TextAnalysis
    val k = TextAnalysis.HybridTopK
    val lex = TextAnalysis
      .bm25Retrieve(graft.Tables.load(spark, dir, "documents"), 8, k)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getInt(2).toLong).toMap
    val vec = Similarity
      .bruteTopK(graft.Tables.load(spark, dir, "embeddings"), 8, k)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getInt(2).toLong).toMap
    val pairs = (lex.keySet ++ vec.keySet).toSeq
    val fusedAll = pairs.map { p =>
      val l = lex.get(p); val v = vec.get(p)
      p -> ((l.map(r => 1000000L / (TextAnalysis.RrfKConst + r))
            .getOrElse(0L)
          + v.map(r => 1000000L / (TextAnalysis.RrfKConst + r))
            .getOrElse(0L),
        l.getOrElse(0L), v.getOrElse(0L)))
    }
    val expect = fusedAll.groupBy(_._1._1).flatMap { case (q, xs) =>
      xs.sortBy { case ((_, d), (s, _, _)) => (-s, d) }.take(k)
        .zipWithIndex.map { case (((qq, d), (s, l, v)), i) =>
          (qq, d) -> ((i + 1L, s, l, v)) }
    }
    val got = TextAnalysis.hybridSearch(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))).toMap
    assert(got === expect)
    // fusion laws: both components contribute to the fused lists, and
    // every fused score is positive (≥ one component ranked the doc)
    assert(got.values.exists(_._3 > 0))
    assert(got.values.exists(_._4 > 0))
    got.values.foreach { case (_, s, _, _) => assert(s > 0L) }
  }

  test("rho select: serial two-model replay; margin law") {
    val docs = graft.Tables.load(spark, dir, "documents")
      .select(org.apache.spark.sql.functions.col("doc_id"),
        org.apache.spark.sql.functions.col("source"),
        org.apache.spark.sql.functions.col("text"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    def bigrams(t: String): Seq[(String, String)] = {
      val w = t.trim.split("\\s+").toSeq
      if (w.length < 2) Seq.empty else w.zip(w.tail)
    }
    val tf = docs.flatMap { case (id, src, t) =>
      bigrams(t).groupBy(identity).map { case (b, xs) =>
        (id, src, b, xs.length.toLong) }
    }
    val gbg = tf.groupBy(_._3).map { case (b, xs) => b -> xs.map(_._4).sum }
    val gctx = gbg.groupBy(_._1._1).map { case (w1, xs) => w1 -> xs.values.sum }
    val sbg = tf.groupBy(x => (x._2, x._3))
      .map { case (k, xs) => k -> xs.map(_._4).sum }
    val sctx = sbg.groupBy { case ((s, b), _) => (s, b._1) }
      .map { case (k, xs) => k -> xs.values.sum }
    val expect = tf.groupBy(x => (x._1, x._2)).map { case ((id, src), xs) =>
      val n = xs.map(_._4).sum
      val gm = xs.map { case (_, _, b, c) =>
        c * (gbg(b) * 1000000L / gctx(b._1)) }.sum
      val sm = xs.map { case (_, _, b, c) =>
        c * (sbg((src, b)) * 1000000L / sctx((src, b._1))) }.sum
      val (g, s) = (gm / n, sm / n)
      (id, src) -> ((n, g, s, s - g,
        if (s * 1000 > g * graft.exts.TextAnalysis.RhoMarginPermille) 1L
        else 0L))
    }
    val got = graft.exts.TextAnalysis.rhoSelect(spark, dir).collect()
      .map(r => (r.getLong(0), r.getString(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5),
          r.getLong(6)))).toMap
    assert(got === expect)
    // margin law is definitional; the signal must differentiate
    assert(got.values.map(_._4).toSeq.distinct.length > 1)
  }

  test("kcenter coreset: serial greedy replay; covering laws") {
    import graft.functions.QSqDistImpl
    val pts = graft.Tables.load(spark, dir, "embeddings")
      .select(org.apache.spark.sql.functions.col("vec_id"),
        org.apache.spark.sql.functions.col("embedding"))
      .collect()
      .map(r => r.getLong(0) ->
        r.getSeq[Float](1).map(x => QSqDistImpl.quant(x.toDouble)).toArray)
    def d(a: Array[Long], b: Array[Long]): Long =
      a.zip(b).map { case (x, y) => val t = x - y; t * t }.sum
    var centers = Vector(pts.minBy(_._1))
    (2 to Similarity.KCenterK).foreach { _ =>
      val far = pts
        .map { case (id, q) => (centers.map(c => d(c._2, q)).min, id, q) }
        .maxBy { case (m, id, _) => (m, -id) }
      centers :+= ((far._2, far._3))
    }
    val expect = pts.map { case (id, q) =>
      val (dd, cid) = centers.map(c => (d(c._2, q), c._1))
        .minBy { case (x, c) => (x, c) }
      id -> ((cid, dd, if (centers.exists(_._1 == id)) 1L else 0L))
    }.toMap
    val got = Similarity.kcenterCoreset(spark, dir).collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(got === expect)
    // laws: exactly k centers, each assigned to itself at distance 0
    val cs = got.filter(_._2._3 == 1L)
    assert(cs.size === Similarity.KCenterK)
    cs.foreach { case (id, (cid, dd, _)) =>
      assert(cid === id); assert(dd === 0L)
    }
    // greedy coverage shrinks: the assignment radius never exceeds the
    // radius of the 1-center solution (distance to the seed)
    val seedQ = pts.minBy(_._1)._2
    val byId = pts.toMap
    got.foreach { case (id, (_, dd, _)) =>
      assert(dd <= d(seedQ, byId(id)))
    }
  }

  test("text hash embed: serial hashing-trick replay; mass bound; dup law") {
    import graft.functions.SigImpl
    val docs = graft.Tables.load(spark, dir, "documents")
      .select(org.apache.spark.sql.functions.col("doc_id"),
        org.apache.spark.sql.functions.col("text"))
      .collect().map(r => r.getLong(0) -> r.getString(1))
    val expect = docs.flatMap { case (id, text) =>
      val acc = new Array[Long](SigImpl.HashEmbedDims)
      text.trim.split("\\s+").filter(_.nonEmpty).foreach { w =>
        val h = SigImpl.wordPolyHash(w)
        acc((h % SigImpl.HashEmbedDims).toInt) +=
          (if ((h / SigImpl.HashEmbedDims) % 2L == 0L) 1L else -1L)
      }
      acc.zipWithIndex.map { case (v, d) => (id, d.toLong) -> v }
    }.toMap
    val got = graft.exts.TextAnalysis.textHashEmbed(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(got === expect)
    // mass bound: per doc, Σ|weight| never exceeds the token count
    docs.foreach { case (id, text) =>
      val n = text.trim.split("\\s+").count(_.nonEmpty)
      val mass = (0 until SigImpl.HashEmbedDims)
        .map(d => math.abs(got((id, d.toLong)))).sum
      assert(mass <= n)
    }
    // dup law: identical texts hash to identical vectors
    val byText = docs.groupBy(_._2).filter(_._2.length > 1)
    byText.values.take(3).foreach { g =>
      val vecs = g.map { case (id, _) =>
        (0 until SigImpl.HashEmbedDims).map(d => got((id, d.toLong))) }
      assert(vecs.distinct.length === 1)
    }
    // the sketch differentiates across the corpus
    assert(docs.map { case (id, _) =>
      (0 until SigImpl.HashEmbedDims).map(d => got((id, d.toLong)))
    }.distinct.length > 1)
  }

  test("graph lpa: serial synchronous replay; communities refine components") {
    val mutual = Similarity.knnGraph(spark, dir).collect()
      .filter(_.getLong(3) == 1L)
      .map(r => (r.getLong(0), r.getLong(1)))
    val nodes = graft.Tables.load(spark, dir, "embeddings")
      .select(org.apache.spark.sql.functions.col("vec_id"))
      .collect().map(_.getLong(0))
    val nbrs = mutual.groupBy(_._1).map { case (u, es) => u -> es.map(_._2) }
    var label = nodes.map(v => v -> v).toMap
    (1 to Similarity.LpaIters).foreach { _ =>
      label = nodes.map { v =>
        val ls = nbrs.getOrElse(v, Array.empty[Long]).map(label)
        v -> (if (ls.isEmpty) label(v)
              else ls.groupBy(identity).toSeq
                .map { case (l, xs) => (xs.length, l) }
                .minBy { case (c, l) => (-c, l) }._2)
      }.toMap
    }
    val sizes = label.values.groupBy(identity)
      .map { case (l, xs) => l -> xs.size.toLong }
    val expect = nodes.map(v => v -> ((label(v), sizes(label(v))))).toMap
    val got = Similarity.graphLpa(spark, dir).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(got === expect)
    // refinement law: a shared community implies a shared mutual-kNN
    // component (labels only travel along mutual edges)
    val comp = Similarity.knnComponents(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    got.toSeq.groupBy(_._2._1).values.foreach { members =>
      assert(members.flatMap(m => comp.get(m._1)).distinct.length <= 1)
    }
    // the propagation does something: at least one node left its own
    // singleton label, and communities differentiate (more than one)
    assert(got.exists { case (v, (c, _)) => c != v })
    assert(got.values.map(_._1).toSeq.distinct.length > 1)
  }

  test("d4 prune: serial centroid-distance replay; drop quota per cluster") {
    val emb = graft.Tables.load(spark, dir, "embeddings")
      .select(org.apache.spark.sql.functions.col("vec_id"),
        org.apache.spark.sql.functions.col("embedding"))
      .collect()
      .map(r => r.getLong(0) ->
        r.getSeq[Float](1).map(x =>
          math.round(x.toDouble * Similarity.ProtoQ)).toArray).toMap
    val comp = Similarity.knnComponents(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val byCluster = comp.groupBy(_._2)
    val expect = byCluster.toSeq.flatMap { case (c, members) =>
      val n = members.head._3
      assert(n === members.length.toLong)
      val qs = members.map(m => m._1 -> emb(m._1))
      val dim = qs.head._2.length
      val s = Array.tabulate(dim)(i => qs.map(_._2(i)).sum)
      val dists = qs.map { case (id, q) =>
        id -> (0 until dim).map { i =>
          val d = q(i) * n - s(i); d * d
        }.sum
      }
      dists.sortBy { case (id, d) => (d, id) }.zipWithIndex.map {
        case ((id, d), idx) =>
          val rank = idx + 1L
          val keep = if (rank > n * Similarity.D4DropPermille / 1000) 1L
            else 0L
          id -> ((c, n, d, rank, keep))
      }
    }.toMap
    val got = Similarity.d4Prune(spark, dir).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5)))).toMap
    assert(got === expect)
    // per-cluster drop quota: exactly size·250‰ (floored) members drop
    byCluster.foreach { case (c, members) =>
      val n = members.length.toLong
      val dropped = got.collect {
        case (_, (`c`, _, _, _, 0L)) => 1
      }.sum
      assert(dropped.toLong === n * Similarity.D4DropPermille / 1000)
    }
    // something actually drops somewhere (clusters of ≥4 exist)
    assert(got.values.exists(_._5 == 0L))
  }

  test("mix doremi: serial multiplicative-weights replay; weight laws") {
    import org.apache.spark.sql.functions.col
    // per-domain (n_docs, loss) from the same per-doc scores
    val scores = graft.exts.TextAnalysis.lmScores(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    val srcOf = graft.Tables.load(spark, dir, "documents")
      .select(col("doc_id"), col("source")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val dom = scores.toSeq.groupBy { case (id, _) => srcOf(id) }
      .map { case (s, xs) =>
        s -> ((xs.length.toLong,
          1000000L - xs.map(_._2).sum / xs.length))
      }
    val totN = dom.values.map(_._1).sum
    val ref = dom.values.map { case (n, l) => l * n }.sum / totN
    var w = dom.map { case (s, _) => s -> 1000000L }
    (1 to Sampling.DoremiRounds).foreach { _ =>
      val up = w.map { case (s, wv) =>
        val excess = dom(s)._2 - ref
        s -> math.max(1L,
          (wv * (1000000L + Sampling.DoremiEta * excess)) / 1000000L)
      }
      val sw = up.values.sum
      w = up.map { case (s, wv) => s -> (wv * 1000000L) / sw }
    }
    val got = Sampling.mixDoremi(spark, dir).collect()
      .map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    val expect = dom.map { case (s, (n, l)) =>
      s -> ((n, l, l - ref, w(s)))
    }
    assert(got === expect)
    // weight mass stays ~1e6 after renormalization (integer floor loss
    // bounded by one ppm per domain)
    val mass = got.values.map(_._4).sum
    assert(mass <= 1000000L && mass >= 1000000L - got.size)
    // monotone law: a domain with strictly higher loss never ends with
    // a lower weight
    val byLoss = got.values.toSeq.sortBy(_._2)
    byLoss.sliding(2).foreach {
      case Seq(a, b) => assert(a._4 <= b._4)
      case _ =>
    }
    // the optimizer actually differentiates
    assert(got.values.map(_._4).toSeq.distinct.length > 1)
  }

  test("unimax alloc: serial waterfill replay; caps bind on a skew corpus") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    // skewed synthetic corpus: source sizes 1, 4, 16, 64 docs of 10
    // tokens each — the 2× budget saturates the small sources at the
    // 4-epoch cap and waterfills the rest
    val docs = Seq.tabulate(85) { i =>
      val src = if (i < 1) "tiny" else if (i < 5) "small"
        else if (i < 21) "mid" else "big"
      (i.toLong, Seq.fill(10)("tok").mkString(" "), "en", src, 10L)
    }.toDF("doc_id", "text", "lang", "source", "n_chars")

    def serial(ts: Map[String, Long]): Map[String, (Long, Long)] = {
      val cap = ts.view.mapValues(t =>
        t * Sampling.UnimaxCapEpochsX1000 / 1000).toMap
      val budget = ts.values.sum * Sampling.UnimaxBudgetX1000 / 1000
      val order = ts.keys.toSeq.sortBy(s => (cap(s), s))
      val l = order.length.toLong
      var kstar = 0L
      var satprefix = 0L
      var prefix = 0L
      order.zipWithIndex.foreach { case (s, idx) =>
        val rn = idx + 1L
        prefix += cap(s)
        if (cap(s) <= (budget - (prefix - cap(s))) / (l - rn + 1)) {
          kstar = rn; satprefix = prefix
        }
      }
      order.zipWithIndex.map { case (s, idx) =>
        val rn = idx + 1L
        val alloc = if (rn <= kstar) cap(s)
          else (budget - satprefix) / (l - kstar)
        s -> ((alloc, alloc * 1000 / ts(s)))
      }.toMap
    }

    for (frame <- Seq(docs, graft.Tables.load(spark, dir, "documents"))) {
      val ts = frame
        .select(col("source"),
          org.apache.spark.sql.functions.size(
            org.apache.spark.sql.functions.split(
              org.apache.spark.sql.functions.trim(col("text")), "\\s+"))
            .cast("long").as("n"))
        .collect().groupBy(_.getString(0))
        .map { case (s, rs) => s -> rs.map(_.getLong(1)).sum }
      val expect = serial(ts)
      val got = Sampling.unimaxAlloc(frame).collect()
        .map(r => r.getString(0) -> ((r.getLong(4), r.getLong(5)))).toMap
      assert(got === expect)
      // budget law: never over-allocate, never exceed a source's cap
      val budget = ts.values.sum * Sampling.UnimaxBudgetX1000 / 1000
      assert(got.values.map(_._1).sum <= budget)
      got.foreach { case (s, (alloc, _)) =>
        assert(alloc <= ts(s) * Sampling.UnimaxCapEpochsX1000 / 1000)
      }
    }
    // the skew corpus actually exercises BOTH branches: capped sources
    // sit at exactly 4000 epochs‰, the big source below
    val skew = Sampling.unimaxAlloc(docs).collect()
      .map(r => r.getString(0) -> r.getLong(5)).toMap
    assert(skew("tiny") === Sampling.UnimaxCapEpochsX1000)
    assert(skew("big") < Sampling.UnimaxCapEpochsX1000)
  }

  test("text diversity: serial replay; metric laws hold") {
    import org.apache.spark.sql.functions.col
    val texts = graft.Tables.load(spark, dir, "documents")
      .select(col("doc_id"), col("text")).collect()
      .map(r => r.getLong(0) -> r.getString(1))
    val expect = texts.map { case (id, t) =>
      val toks = t.trim.split("\\s+").toSeq
      val tf = toks.groupBy(identity).view.mapValues(_.length.toLong)
      val n = toks.length.toLong
      val types = tf.size.toLong
      id -> ((n, types, types * 1000 / n,
        tf.values.map(x => x * x).sum * 1000000L / (n * n),
        tf.values.max * 1000 / n))
    }.toMap
    val got = graft.exts.TextAnalysis.diversityScores(spark, dir).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))).toMap
    assert(got === expect)
    // laws: TTR ≤ 1000; Simpson ≥ 1e6/n (uniform floor) and ≤ 1e6;
    // top share ≥ 1000/n and ≤ 1000; the signals differentiate
    got.foreach { case (_, (n, types, ttr, simp, top)) =>
      assert(types <= n && ttr <= 1000L)
      assert(simp >= 1000000L / n - 1 && simp <= 1000000L)
      assert(top >= 1000L / n && top <= 1000L)
    }
    assert(got.values.map(_._3).toSeq.distinct.length > 1)
  }

  test("cluster purity: serial majority replay; purity laws") {
    import org.apache.spark.sql.functions.col
    val labels = graft.Tables.load(spark, dir, "embeddings")
      .select(col("vec_id"), col("label").cast("long")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val comp = Similarity.knnComponents(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val expect = comp.groupBy(_._2).map { case (c, members) =>
      val ls = members.map(m => labels(m._1))
      val byLabel = ls.groupBy(identity).view.mapValues(_.length.toLong)
      // majority, ties broken by smallest label
      val (major, cnt) = byLabel.toSeq.minBy { case (l, n) => (-n, l) }
      c -> ((members.length.toLong, byLabel.size.toLong, major, cnt,
        cnt * 1000 / members.length))
    }
    val got = Similarity.clusterPurity(spark, dir).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))).toMap
    assert(got === expect)
    // laws: majority covers at least 1/n_labels of the cluster; purity
    // in (0, 1000]; and the metric differentiates on this fixture
    got.values.foreach { case (size, nl, _, cnt, purity) =>
      assert(cnt * nl >= size)
      assert(purity > 0L && purity <= 1000L)
    }
    assert(got.values.map(_._5).toSeq.distinct.length > 1)
  }

  test("dup weights: planted copies share ~1000 split; singletons keep 1000") {
    val rows = Dedup.dupWeights(spark, dir).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    val planted = rows.keys.filter(id =>
      id >= 100000L && rows.contains(id - 100000L))
    assert(planted.nonEmpty)
    planted.foreach { id =>
      val (gs, w) = rows(id)
      assert(gs >= 2L, s"planted $id group size")
      assert(w === 1000L / gs)
      assert(rows(id - 100000L) === rows(id),
        s"original and copy of $id must share the verdict")
    }
    rows.foreach { case (_, (gs, w)) =>
      assert(w === 1000L / gs)
      if (gs == 1L) assert(w === 1000L)
    }
    assert(rows.valuesIterator.exists(_._1 == 1L), "no singletons at all")
  }

  test("project recall: serial projected-space replay; the lossy verdict is real") {
    import org.apache.spark.sql.functions.col
    val d = Similarity.ProjectDims
    val emb = graft.Tables.load(spark, dir, "embeddings")
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray)
    def sign(i: Int, j: Int): Long =
      if (((1103515245L * (i.toLong * d + j) + 12345L) / 65536L) % 2L == 0L)
        1L else -1L
    val proj = emb.map { case (id, v) =>
      id -> (0 until d).map(j => v.indices.map(i =>
        sign(i, j) * math.round(v(i).toDouble * 10000)).sum).toArray
    }.toMap
    def pcos(a: Array[Long], b: Array[Long]): Double = {
      val dot = a.indices.map(i => a(i) * b(i)).sum.toDouble
      dot / (math.sqrt(a.map(x => x * x).sum.toDouble) *
        math.sqrt(b.map(x => x * x).sum.toDouble))
    }
    def fcos(a: Array[Float], b: Array[Float]): Double = {
      var (s, na, nb) = (0.0, 0.0, 0.0)
      for (i <- a.indices) {
        s += a(i).toDouble * b(i); na += a(i).toDouble * a(i)
        nb += b(i).toDouble * b(i)
      }
      s / (math.sqrt(na) * math.sqrt(nb))
    }
    def top5(score: Long => Double, q: Long): Set[Long] =
      emb.map(_._1).filter(_ != q)
        .sortBy(n => (-score(n), n)).take(5).toSet
    val got = Similarity.projectRecall(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(got.length === 8)
    val byId = emb.toMap
    got.foreach { case (q, kt, hits, rec) =>
      assert(kt === 5L)
      val truth = top5(n => fcos(byId(q), byId(n)), q)
      val found = top5(n => pcos(proj(q), proj(n)), q)
      assert(hits === (truth & found).size.toLong, s"hits($q)")
      assert(rec === hits * 1000 / kt)
    }
    // the honest verdict on this corpus: the 16-dim projection is too
    // lossy for exact top-k (measured equivalent to a Gaussian JL at the
    // same width) — the metric must SAY so, not flatter the projection
    assert(got.map(_._4).max < 500L,
      "fixture's fine-grained top-5 should not survive 16-dim JL")
  }

  test("bm25 index: artifact serves batches; verbatim copies find their source") {
    import org.apache.spark.sql.functions.col
    graft.exts.Bm25Index.clear()
    val got = graft.exts.Bm25Index.scoreBatch(spark, dir,
      Dedup.incomingBatch(spark, dir)).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getLong(3)))
    // a fresh session (memo dropped) resolves the same artifact and LOADS
    graft.exts.Bm25Index.clear()
    val fresh = graft.exts.Bm25Index.scoreBatch(spark, dir,
      Dedup.incomingBatch(spark, dir)).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getLong(3)))
    assert(got.toSet === fresh.toSet)
    // artifact scoring ≡ scoring against a freshly built inline index —
    // the train/apply invariant, bit-exact (integer scores round-trip)
    val docs = graft.Tables.load(spark, dir, "documents")
    val batch = Dedup.incomingBatch(spark, dir)
    val qterms = batch.select(
      org.apache.spark.sql.functions.col("doc_id").as("query_id"),
      org.apache.spark.sql.functions.explode(
        org.apache.spark.sql.functions.array_distinct(
          org.apache.spark.sql.functions.split(
            org.apache.spark.sql.functions.trim(col("text")), "\\s+")))
        .as("term"))
    val inline = graft.exts.TextAnalysis.bm25ScoreAgainst(
      graft.exts.TextAnalysis.bm25Postings(docs),
      graft.exts.TextAnalysis.bm25Stats(docs), qterms, 10,
      excludeSelf = false).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getLong(3)))
    assert(got.toSet === inline.toSet)
    // retrieval signal: a MAJORITY of verbatim %5 copies see their source
    // in their top-10 (top-1 is NOT guaranteed by BM25 on a common-term
    // vocabulary — longer docs with higher tf on the shared terms can
    // legitimately outscore a short source; measured ~26% top-1 here)
    val verbatim = got.filter(_._1 < 700000L).groupBy(_._1)
    assert(verbatim.nonEmpty)
    val seen = verbatim.count { case (q, rows) =>
      rows.exists(_._2 == q - 600000L) }
    assert(seen * 2 >= verbatim.size,
      s"only $seen/${verbatim.size} verbatim copies see their source in top-10")
    // ranks dense per query
    got.groupBy(_._1).values.foreach { rows =>
      assert(rows.map(_._3).sorted.toSeq === (1 to rows.length))
    }
  }

  test("bucketed index layouts: term/src probes prune partitions; rows unchanged") {
    import org.apache.spark.sql.functions.col
    // BM25, selective batch: the batch's term-hash buckets reach the
    // postings scan as PartitionFilters (directory-level pruning before
    // any file IO); the score equality vs an unpruned inline index is
    // pinned by the "bm25 index" spec above and by the hash-green
    // bm25_batch oracle.
    import spark.implicits._
    // plan Location strings truncate at 100 chars by default, hiding
    // which postings directory a scan reads — widen for the assertions
    val prevMeta = spark.conf.get("spark.sql.maxMetadataStringLength")
    spark.conf.set("spark.sql.maxMetadataStringLength", "2000")
    try {
      val narrow = Seq((900001L, "spark query")).toDF("doc_id", "text")
      val narrowScored = graft.exts.Bm25Index.scoreBatch(spark, dir, narrow)
      assert(narrowScored.collect().nonEmpty)
      val nplan = narrowScored.queryExecution.executedPlan.toString
      assert(nplan.contains("PartitionFilters") && nplan.contains("t_bucket"),
        s"no term-bucket partition filter in:\n$nplan")
      assert(!nplan.contains("postings_fwd"),
        s"selective batch must use the term-bucketed copy:\n$nplan")
      // BM25, full-vocabulary batch (every bucket probed — term pruning
      // moot): the FORWARD doc-clustered copy serves the scan, so the
      // per-(query, doc) partial aggregation completes map-side (r19).
      val scored = graft.exts.Bm25Index.scoreBatch(spark, dir,
        Dedup.incomingBatch(spark, dir))
      assert(scored.collect().nonEmpty)
      val bplan = scored.queryExecution.executedPlan.toString
      assert(bplan.contains("postings_fwd"),
        s"full-vocabulary batch must read the forward (doc-clustered) " +
          s"postings copy:\n$bplan")
    } finally spark.conf.set("spark.sql.maxMetadataStringLength", prevMeta)
    // kNN: a src-keyed lookup prunes to its sources' buckets and equals
    // the whole-graph filter row-for-row
    val srcs = Seq(1L, 5L, 33L)
    val viaLayout = graft.exts.KnnIndex.edgesForSrcs(spark, dir, srcs)
    val gotRows = viaLayout.collect().map(_.toString).toSet
    val expected = graft.exts.KnnIndex.edges(spark, dir)
      .filter(col("src_id").isin(srcs: _*))
      .collect().map(_.toString).toSet
    assert(gotRows === expected)
    assert(gotRows.nonEmpty)
    val kplan = viaLayout.queryExecution.executedPlan.toString
    assert(kplan.contains("PartitionFilters") && kplan.contains("s_bucket"),
      s"no src-bucket partition filter in:\n$kplan")
  }

  test("quality winsorize: serial percentile replay; clamp is monotone and bounded") {
    import org.apache.spark.sql.functions.col
    val got = graft.exts.TextAnalysis.qualityWinsorize(spark, dir)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5)))
    assert(got.nonEmpty)
    got.groupBy(_._2).foreach { case (lang, rows) =>
      val ratios = rows.map(_._3).sorted
      val n = ratios.length.toLong
      val p05 = ratios(math.max(n * 5 / 100, 1L).toInt - 1)
      val p95 = ratios(((n * 95 + 99) / 100).toInt - 1)
      rows.foreach { case (_, _, r, g05, g95, wz) =>
        assert(g05 === p05, s"p05($lang)")
        assert(g95 === p95, s"p95($lang)")
        assert(wz === math.max(p05, math.min(p95, r)))
      }
      // at most ~5% clamp on each side (plus ties at the cut value)
      val lo = rows.count(t => t._3 < p05)
      val hi = rows.count(t => t._3 > p95)
      assert(lo <= n * 5 / 100, s"$lang clamps $lo low of $n")
      assert(hi <= n * 5 / 100 + 1, s"$lang clamps $hi high of $n")
    }
    // something actually clamps somewhere, or the test proves nothing
    assert(got.exists(t => t._6 != t._3))
  }

  test("bm25 update: incremental merge is bit-exact vs a full index rebuild") {
    import org.apache.spark.sql.functions.col
    val docs = graft.Tables.load(spark, dir, "documents")
      .select(col("doc_id"), col("text"))
    val batch = Dedup.incomingBatch(spark, dir)
    val report = graft.exts.Bm25Index.mergeReport(spark, dir, batch)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
          r.getLong(5))).toMap
    // full rebuild over corpus ∪ batch
    val union = docs.unionByName(batch)
    val rebuiltDf = graft.exts.TextAnalysis.bm25Postings(union)
      .groupBy(col("term"))
      .agg(org.apache.spark.sql.functions.count(
        org.apache.spark.sql.functions.lit(1)).as("df"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val rebuiltStats = graft.exts.TextAnalysis.bm25Stats(union)
      .collect().head
    val avgdlRebuilt = rebuiltStats.getAs[Long]("avgdl_x1000")
    // batch vocabulary = exactly the report's keys
    val batchTerms = batch.select(org.apache.spark.sql.functions.explode(
        org.apache.spark.sql.functions.array_distinct(
          org.apache.spark.sql.functions.split(
            org.apache.spark.sql.functions.trim(col("text")), "\\s+")))
        .as("t")).distinct().collect().map(_.getString(0)).toSet
    assert(report.keySet === batchTerms)
    val corpusDf = graft.exts.TextAnalysis.bm25Postings(docs)
      .groupBy(col("term"))
      .agg(org.apache.spark.sql.functions.count(
        org.apache.spark.sql.functions.lit(1)).as("df"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    report.foreach { case (t, (dfC, dfB, dfM, newT, avgdl)) =>
      assert(dfM === rebuiltDf(t), s"df_merged($t) vs rebuild")
      assert(dfC === corpusDf.getOrElse(t, 0L), s"df_corpus($t)")
      assert(dfM === dfC + dfB)
      assert((newT == 1L) === !corpusDf.contains(t))
      assert(avgdl === avgdlRebuilt, "merged avgdl vs rebuild")
    }
    // the ' qq zz' suffix plants genuinely new vocabulary
    assert(report.get("qq").exists(_._4 == 1L))
    assert(report.get("zz").exists(_._4 == 1L))
  }

  test("emb pca: empty corpus yields an empty typed frame, not a crash") {
    import org.apache.spark.sql.functions.col
    val empty = graft.Tables.load(spark, dir, "embeddings")
      .where(col("vec_id") < 0)
    val out = Similarity.embPca(empty)
    assert(out.columns.toSeq ===
      Seq("dim", "var_m", "eigvec_q", "eigval_q"))
    assert(out.count() === 0L)
  }

  test("span corruption: serial replay matches; spans reconstruct the doc") {
    import org.apache.spark.sql.functions.col
    import graft.exts.TextAnalysis.{SpanBlock, SpanStartMod, SpanWords}
    val docs = graft.Tables.load(spark, dir, "documents")
      .select(col("doc_id"), col("text")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    def md5(s: String): String =
      java.security.MessageDigest.getInstance("MD5").digest(
        s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val got = graft.exts.TextAnalysis.spanCorrupt(spark, dir).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("n_words"),
        r.getAs[Long]("n_spans"), r.getAs[Long]("n_masked"),
        r.getAs[String]("input_md5"), r.getAs[String]("target_md5")))
    assert(got.length === docs.size)
    var sawMask = false
    got.foreach { case (id, nw, ns, nm, imd5, tmd5) =>
      val ws = docs(id).trim.split("\\s+")
      assert(nw === ws.length.toLong)
      // independent serial replay of the block-salted geometry
      val inp = collection.mutable.ArrayBuffer[String]()
      val tgt = collection.mutable.ArrayBuffer[String]()
      var masked = 0; var spans = 0
      ws.zipWithIndex.foreach { case (w, i) =>
        val b = i / SpanBlock
        val s = ((id % 1000000007L) * 2654435761L + b.toLong * 40503L) %
          SpanStartMod
        val off = (i % SpanBlock).toLong
        if (off == s) { spans += 1; masked += 1
          inp += s"<extra_id_$b>"; tgt += s"<extra_id_$b> $w"
        } else if (off > s && off <= s + (SpanWords - 1)) {
          masked += 1; tgt += w
        } else inp += w
      }
      assert(ns === spans.toLong && nm === masked.toLong, s"doc $id counts")
      assert(imd5 === md5(inp.mkString(" ")), s"doc $id input")
      assert(tmd5 === md5(tgt.mkString(" ")), s"doc $id target")
      // reconstruction: substituting each sentinel's target words back
      // into the input recovers the original token stream
      val spanWords = collection.mutable.Map[String, List[String]]()
      var cur: String = null
      tgt.foreach { t =>
        if (t.startsWith("<extra_id_")) {
          val Array(sent, w) = t.split(" ", 2)
          cur = sent; spanWords(cur) = List(w)
        } else spanWords(cur) = spanWords(cur) :+ t
      }
      val rebuilt = inp.flatMap(t =>
        if (t.startsWith("<extra_id_")) spanWords(t) else List(t))
      assert(rebuilt.toSeq === ws.toSeq, s"doc $id reconstruction")
      if (nm > 0) sawMask = true
      // the T5 noise-density contract: ~15% for full blocks
      if (nw >= SpanBlock) assert(nm >= nw / SpanBlock * SpanWords - ns,
        s"doc $id under-masked")
    }
    assert(sawMask, "fixture produced no masked spans at all")
  }

  test("dsir artifact: save/load round-trips; batch scores match inline") {
    import org.apache.spark.sql.functions.col
    val docs = graft.Tables.load(spark, dir, "documents")
    val head = graft.exts.TextAnalysis.dsirHead(docs)
    val headRows = head.collect()
      .map(r => r.getAs[String]("term") -> r.getAs[Long]("s")).toMap
    assert(headRows.nonEmpty)
    // memoized artifact serves the same model as a fresh training run
    val memo = graft.exts.DsirIndex.scores(spark, dir).collect()
      .map(r => r.getAs[String]("term") -> r.getAs[Long]("s")).toMap
    assert(memo === headRows)
    // a "fresh session" (memo dropped) resolves the same deterministic
    // artifact path and LOADS — same model, no retraining
    graft.exts.DsirIndex.clear()
    val fresh = graft.exts.DsirIndex.scores(spark, dir).collect()
      .map(r => r.getAs[String]("term") -> r.getAs[Long]("s")).toMap
    assert(fresh === headRows)
    // explicit save → load round-trip
    val p = tempDir("dsir-artifact-spec")
    graft.exts.DsirIndex.save(head, p)
    val loaded = graft.exts.DsirIndex.load(spark, p).collect()
      .map(r => r.getAs[String]("term") -> r.getAs[Long]("s")).toMap
    assert(loaded === headRows)
    // scoring a batch against the artifact equals scoring inline
    val batch = graft.exts.Dedup.incomingBatch(spark, dir)
    def key(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("dsir_ppm"),
        r.getAs[Boolean]("dsir_keep"))).sortBy(_._1).toSeq
    assert(key(graft.exts.TextAnalysis.dsirScoreWith(
        graft.exts.DsirIndex.load(spark, p), batch)) ===
      key(graft.exts.TextAnalysis.dsirScoreWith(head, batch)))
  }

  test("cluster topics: 5 ranked terms per cell, counts monotone") {
    val rows = Similarity.clusterTopics(spark, dir).collect()
      .map(r => (r.getAs[Long]("cell"), r.getAs[Int]("rank"),
        r.getAs[Long]("cnt")))
    val byCell = rows.groupBy(_._1)
    assert(byCell.nonEmpty)
    byCell.foreach { case (cell, rs) =>
      assert(rs.map(_._2).sorted.toSeq === (1 to rs.length),
        s"cell $cell ranks not dense: ${rs.map(_._2).sorted.mkString(",")}")
      val cnts = rs.sortBy(_._2).map(_._3)
      assert(cnts.zip(cnts.tail).forall { case (a, b) => a >= b },
        s"cell $cell counts not monotone: ${cnts.mkString(",")}")
    }
  }

  test("mm_caption_pairs: both planting modes land in their cells; flags agree with the underlying groupings") {
    import org.apache.spark.sql.functions.col
    val rows = Multimodal.mmCaptionPairs(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getString(4)))
    assert(rows.nonEmpty)
    // cell is a pure function of the two flags on every pair
    rows.foreach { case (a, b, img, cap, cell) =>
      val want = if (img == 1L && cap == 1L) "both"
        else if (img == 1L) "img_only" else "cap_only"
      assert(cell === want, s"pair ($a,$b) flags ($img,$cap) vs $cell")
      assert(a < b)
      assert(img == 1L || cap == 1L,
        "the canonical-pair universe only contains related pairs")
    }
    val byCell = rows.groupBy(_._5).view.mapValues(_.length).toMap
    // plant 1 — SAME IMAGE RE-CAPTIONED (doc%5==3 gets a unique
    // caption): its image-dup pairs must land in img_only
    assert(byCell.getOrElse("img_only", 0) > 0,
      s"re-captioned plant missing: $byCell")
    // plant 2 — SAME CAPTION, DIFFERENT IMAGES (doc%5==4 draws from
    // the stock pool): its caption-dup pairs must land in cap_only
    assert(byCell.getOrElse("cap_only", 0) > 0,
      s"stock-caption plant missing: $byCell")
    // unplanted docs: caption follows image content → true multimodal
    // duplicates land in both
    assert(byCell.getOrElse("both", 0) > 0, s"both-cell empty: $byCell")
    // spot-check plant 1 end to end: a doc d with d%5==3 and an image
    // twin at d-250 must appear as an img_only pair (d-250, d)
    val d = (0L until 500L).find(x =>
      x >= Multimodal.DupContentMod && x % Multimodal.CapBranchMod == 3L)
      .get
    val pair = rows.find(r => r._1 == d - Multimodal.DupContentMod &&
      r._2 == d).get
    assert(pair._5 === "img_only",
      s"re-captioned twin pair $pair must disagree on the text side")
    // spot-check plant 2: two distinct-image docs sharing a stock
    // caption appear via the caption canonical with cap_only
    val stock = (0L until 500L).filter(x =>
      x % Multimodal.CapBranchMod == 4L)
    val c0 = stock.filter(_ % Multimodal.CapStockPool ==
      stock.head % Multimodal.CapStockPool)
    assert(c0.size >= 2)
    val sp = rows.find(r => r._1 == c0.head && r._2 == c0(1)).get
    assert(sp._5 === "cap_only",
      s"stock-caption pair $sp must disagree on the image side")
  }

  test("mm_caption_pairs_near: a tail-edited recaption of a dup image joins its source's pair group where the md5 matrix splits it; gate and matrix agree on the union") {
    import org.apache.spark.sql.functions.{col, min}
    val near = Multimodal.mmCaptionPairsNear(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4), r.getString(5))))
      .toMap
    assert(near.nonEmpty)
    // cell keys on the NEAR flag; near subsumes exact on every pair
    near.foreach { case ((a, b), (img, cap, capN, cell)) =>
      val want = if (img == 1L && capN == 1L) "both"
        else if (img == 1L) "img_only" else "cap_only"
      assert(cell === want, s"pair ($a,$b) flags ($img,$capN) vs $cell")
      assert(a < b)
      assert(cap <= capN, s"exact dup must imply near dup on ($a,$b)")
    }
    // THE planted class: content-branch doc d with d%8==5 whose image
    // is a duplicate (d ≥ 250) — its (image-canonical, d) pair is a
    // full multimodal duplicate the near tier sees and the md5 tier
    // provably splits
    val planted = (0L until 500L).filter(d =>
      d >= Multimodal.DupContentMod &&
        d % Multimodal.CapBranchMod != 3L &&
        d % Multimodal.CapBranchMod != 4L &&
        d % Multimodal.CapEditMod == Multimodal.CapEditRes)
    assert(planted.nonEmpty, "fixture must plant image-dup tail edits")
    planted.foreach { d =>
      val key = (d - Multimodal.DupContentMod, d)
      val (img, cap, capN, cell) = near(key)
      assert(cell === "both" && cap === 0L && capN === 1L,
        s"planted pair $key must land both on an md5 miss, got " +
          s"${near(key)}")
      // the md5-only matrix — cell keyed on the exact flag, exactly
      // mmCaptionPairs' classification over THIS fixture — provably
      // files the same pair img_only: the divergence this key closes
      val md5Cell = if (img == 1L && cap == 1L) "both"
        else if (img == 1L) "img_only" else "cap_only"
      assert(md5Cell === "img_only",
        s"the md5 tier must split the planted pair $key")
    }
    // matching law behind the oracle's closed-form component step:
    // every distinct caption sits in AT MOST ONE near pair (a 5-token
    // base has one shingle, its 6-token edit two), so one relax round
    // is the component fixpoint
    val caps = Multimodal.captionsNear(spark, dir)
    val prs = graft.exts.Dedup.ngramJaccardPairsCapped(
        caps.groupBy(col("caption")).agg(min(col("doc_id")).as("rep"))
          .select(col("rep").as("doc_id"), col("caption").as("text")))
      .select(col("a_id"), col("b_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(prs.nonEmpty)
    val maxDeg = (prs.map(_._1) ++ prs.map(_._2))
      .groupBy(identity).map(_._2.size).max
    assert(maxDeg === 1,
      "the caption near graph must be a perfect matching — the law " +
        "that makes one relax round the fixpoint the oracle replays")
    // gate-vs-matrix consistency on the union corpus: a pair the
    // ingest gate flags cap-near groups with a CORPUS caption in the
    // matrix view, and a gate-novel caption never does — the two views
    // of pair dedup cannot disagree on the same corpus
    val gate = Multimodal.mmPairGateNear(spark, dir).collect()
      .map(r => r.getLong(0) -> ((r.getLong(6), r.getString(7)))).toMap
    assert(gate.values.exists { case (cn, d) =>
      cn == 1L && d == "drop_duplicate_pair" })
    val union = Multimodal.captions(spark, dir)
      .unionByName(Multimodal.pairCaptionsNear(spark, dir)
        .select(col("batch_id").as("doc_id"), col("caption")))
    val grp = Multimodal.captionNearGroups(union).collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    gate.foreach { case (bid, (capNear, _)) =>
      val canonical = grp(bid)
      if (capNear == 1L)
        assert(canonical < Multimodal.IncomingIdOffset,
          s"gate near-dup $bid must group with a corpus caption in " +
            s"the matrix view, got canonical $canonical")
      else
        assert(canonical >= Multimodal.IncomingIdOffset,
          s"gate-novel $bid must not join a corpus caption group, " +
            s"got canonical $canonical")
    }
  }

  test("index_fleet_health: a planted needy family ranks first; corpus pressures match the per-family keys") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{abs, col, count, expr, lit, sum}
    import graft.exts.IndexFleet
    // ranking law on planted pressures: the needy family wins; ties
    // break on family name so the order is total
    val planted = IndexFleet.fleetRank(
      Seq(("ivf", 50L), ("graph", 10L), ("media", 999L), ("lex", 50L))
        .toDF("family", "pressure_permille")).collect()
      .map(r => r.getString(0) -> r.getInt(2)).toMap
    assert(planted("media") === 1, s"needy family must rank 1: $planted")
    assert(planted("ivf") === 2 && planted("lex") === 3,
      s"equal pressures break on family name: $planted")
    assert(planted("graph") === 4)
    // the registered frame: all four families present, ranks a
    // permutation of 1..4, and each pressure equals the same integer
    // recomputed from that family's own registered health key
    val fleet = IndexFleet.indexFleetHealth(spark, dir).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getInt(2)))).toMap
    assert(fleet.keySet === Set("ivf", "graph", "media", "lex"))
    assert(fleet.values.map(_._2).toSet === Set(1, 2, 3, 4))
    val ivfP = Similarity.ivfMaintenance(spark, dir)
      .agg(expr("sum(abs(occupancy_x1000 - 1000)) div count(1)"))
      .collect().head.getLong(0)
    assert(fleet("ivf")._1 === ivfP)
    val mediaP = Multimodal.mediaHealth(spark, dir)
      .select(col("dup_permille")).collect().head.getLong(0)
    assert(fleet("media")._1 === mediaP)
    // the media fixture plants a duplicate for EVERY asset
    // (dup_permille = 1000) — the genuinely neediest family ranks 1
    assert(fleet("media")._2 === 1,
      s"planted-needy media family must rank first: $fleet")
  }

  test("mm_pair_gate: all four dispositions planted; composition law vs the two sides") {
    import org.apache.spark.sql.functions.{col, md5}
    val rows = Multimodal.mmPairGate(spark, dir).collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
          r.getString(5)))).toMap
    assert(rows.nonEmpty)
    val byDisp = rows.values.groupBy(_._5).view.mapValues(_.size).toMap
    assert(Set("drop_duplicate_pair", "review_recaptioned",
        "review_restocked", "admit").subsetOf(byDisp.keySet),
      s"all four dispositions must be planted, got $byDisp")
    // composition law: the gate IS the two sides joined — image side
    // equals mm_dup_incremental row for row, caption side equals the
    // corpus caption md5-set membership
    val img = Multimodal.mmDupIncremental(spark, dir).collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))))
      .toMap
    val corpusMd5 = Multimodal.captions(spark, dir)
      .select(md5(col("caption"))).collect().map(_.getString(0)).toSet
    val capSide = Multimodal.pairCaptions(spark, dir)
      .select(col("batch_id"), md5(col("caption")))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(rows.keySet === img.keySet)
    rows.foreach { case (id, (nm, mid, mh, capDup, disp)) =>
      val (iNm, iMid, iMh, iNew) = img(id)
      assert((nm, mid, mh) === ((iNm, iMid, iMh)),
        s"image evidence drifted for $id")
      val wantCap = if (corpusMd5.contains(capSide(id))) 1L else 0L
      assert(capDup === wantCap, s"caption membership drifted for $id")
      val want =
        if (iNew == 0L && wantCap == 1L) "drop_duplicate_pair"
        else if (iNew == 0L) "review_recaptioned"
        else if (wantCap == 1L) "review_restocked"
        else "admit"
      assert(disp === want, s"disposition law broken for $id")
    }
  }

  test("mm_pair_gate_near: tail-edited captions of dup images DROP where the md5 tier provably queues review_recaptioned") {
    import org.apache.spark.sql.functions.col
    // columns: batch_id, n_matches, matched_id, min_hamming, cap_dup,
    //          cap_near_matches, cap_dup_near, disposition
    val near = Multimodal.mmPairGateNear(spark, dir).collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
          r.getLong(5), r.getLong(6), r.getString(7)))).toMap
    assert(near.nonEmpty)
    val byDisp = near.values.groupBy(_._7).view.mapValues(_.size).toMap
    assert(Set("drop_duplicate_pair", "review_recaptioned",
        "review_restocked", "admit").subsetOf(byDisp.keySet),
      s"all four dispositions must stay planted, got $byDisp")
    // exact implies near everywhere (Jaccard 1 can never miss)
    near.foreach { case (id, (_, _, _, capDup, _, capNear, _)) =>
      assert(capDup <= capNear,
        s"md5 hit without a near hit for $id — the near tier must " +
          "subsume the exact one")
    }
    // the md5-only gate on the SAME fixture: identical image evidence,
    // caption side exact-match only
    val md5Gate = Multimodal.mmPairGateOver(spark, dir,
        Multimodal.pngAssetsIncoming(spark, dir),
        Multimodal.pairCaptionsNear(spark, dir)).collect()
      .map(r => r.getLong(0) -> ((r.getLong(4), r.getString(5)))).toMap
    assert(md5Gate.keySet === near.keySet)
    // the verdict divergence class: tail docs whose base caption is
    // live in the corpus — md5 misses (review_recaptioned), the near
    // tier catches (drop_duplicate_pair)
    val diverged = near.filter { case (id, v) =>
      v._4 == 0L && v._6 == 1L && // missed by exact, caught by near
        (id - Multimodal.IncomingIdOffset) %
          Multimodal.PairCapTailMod == 43L
    }
    assert(diverged.nonEmpty,
      "the planted tail edits must create md5-miss/near-hit rows")
    diverged.foreach { case (id, v) =>
      assert(v._7 === "drop_duplicate_pair",
        s"near gate must drop the tail-edited dup pair $id, got ${v._7}")
      assert(md5Gate(id)._2 === "review_recaptioned",
        s"md5 gate must provably mis-queue pair $id, got ${md5Gate(id)}")
    }
    // rows the near tier does NOT touch agree with the md5 gate
    near.foreach { case (id, (_, _, _, capDup, _, capNear, disp)) =>
      if (capDup == capNear)
        assert(disp === md5Gate(id)._2,
          s"tiers agree on the caption for $id but dispositions differ")
    }
    // image evidence identical to the committed incremental gate
    val img = Multimodal.mmDupIncremental(spark, dir).collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    near.foreach { case (id, (nm, mid, mh, _, _, _, _)) =>
      assert((nm, mid, mh) === img(id), s"image evidence drifted for $id")
    }
  }

  test("mm_pair_audit: one explain row per pair; disposition and evidence equal the gate's; caption canonical consistent") {
    // columns: batch_id, img_dup, n_matches, matched_id, min_hamming,
    //          cap_dup, cap_near_matches, cap_dup_near, cap_match_id,
    //          disposition
    val audit = Multimodal.mmPairAudit(spark, dir).collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
          r.getLong(5), r.getLong(6), r.getLong(7), r.getLong(8),
          r.getString(9)))).toMap
    val gate = Multimodal.mmPairGateNear(spark, dir).collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
          r.getLong(5), r.getLong(6), r.getString(7)))).toMap
    // COMPOSITION LAW: exactly the gate's pair universe, disposition
    // and both sides' evidence byte-equal
    assert(audit.keySet === gate.keySet)
    audit.foreach { case (id, a) =>
      val g = gate(id)
      assert(a._9 === g._7, s"audit disposition drifted for $id")
      assert((a._2, a._3, a._4) === ((g._1, g._2, g._3)),
        s"image evidence drifted for $id")
      assert((a._5, a._6, a._7) === ((g._4, g._5, g._6)),
        s"caption evidence drifted for $id")
      assert(a._1 === (if (g._1 > 0L) 1L else 0L), s"img_dup law for $id")
      // the caption canonical exists exactly when the near tier hit,
      // and then it names a real corpus doc (non-negative id)
      if (a._7 == 1L) assert(a._8 >= 0L,
        s"near-dup caption must name its corpus canonical for $id")
      else assert(a._8 === -1L,
        s"a new caption must carry the -1 sentinel for $id")
    }
    // a reviewer can resolve every drop's caption canonical: on the
    // tail-edit divergence rows the canonical carries the BASE caption
    val corpusCaps = Multimodal.captions(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val tailDrops = audit.filter { case (id, a) =>
      (id - Multimodal.IncomingIdOffset) %
        Multimodal.PairCapTailMod == 43L && a._7 == 1L
    }
    assert(tailDrops.nonEmpty)
    tailDrops.foreach { case (id, a) =>
      val capId = (id - Multimodal.IncomingIdOffset) %
        Multimodal.DupContentMod
      assert(corpusCaps(a._8) ===
        s"caption $capId about subject ${(capId * 7) % 97}",
        s"tail drop $id must point at its base caption's canonical doc")
    }
  }

  test("curation funnel: one-pass fold equals the three-branch staging reference") {
    // r18 restructure guard: curationFunnel folds all three stages out
    // of one per-content-hash pre-aggregate; this pins it to the
    // definitionally-staged reference on a frame with every edge the
    // fold must honor — exact duplicates (kept and dropped copies of
    // the same text), quality-dropped rows, and differing token counts
    // among copies of one hash (min must win in the dedup stage).
    import org.apache.spark.sql.functions._
    val mk = (id: Long, text: String) => (id, text)
    val dupA = "the quick brown fox jumps over a lazy dog and the " +
      "calm river bends east of this old stone mill where is the " +
      "miller now and what of his patient grey cat"
    val uniqB = "a long meandering tale of the coast and its many " +
      "harbors is told every winter by the keeper of a small light " +
      "whose logs are full of storms and quiet mornings"
    val rows = Seq(
      mk(1L, dupA),             // kept, duplicate content A
      mk(2L, dupA),             // kept, duplicate content A
      mk(3L, "tiny"),           // dropped (too short)
      mk(4L, uniqB),            // kept, unique content B
      mk(5L, ("zq wv " * 40).trim)) // dropped (no stopwords)
    val docs = spark.createDataFrame(rows).toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("s1"))
      .withColumn("n_chars", length(col("text")))
    val got = graft.exts.TextAnalysis.curationFunnel(docs).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    // reference: stage the pipeline literally
    val sig = graft.exts.TextAnalysis.qualitySignals(docs)
      .select(col("text"), col("n_tokens").cast("long").as("n_tokens"),
        col("keep"))
    val kept = sig.filter(col("keep"))
    def agg2(df: org.apache.spark.sql.DataFrame) = {
      val r = df.agg(count(lit(1)), sum(col("n_tokens"))).head
      (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
    }
    val ded = kept.groupBy(md5(col("text")))
      .agg(min(col("n_tokens")).as("n_tokens"))
    assert(got("1_raw") === agg2(sig))
    assert(got("2_quality_kept") === agg2(kept))
    assert(got("3_deduped") === agg2(ded))
    // and the dedup stage actually deduplicated the planted copies
    assert(got("3_deduped")._1 < got("2_quality_kept")._1)
  }
}
