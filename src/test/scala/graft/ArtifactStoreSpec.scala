package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.exts.{ArtifactStore, KnnIndex, Similarity}

/** The shared artifact store's commit protocol (manifest-verified
  * identity, atomic publish, scoped eviction) and the kNN-graph artifact
  * built on it (artifact == inline rebuild; consumers provably READ the
  * artifact rather than silently rebuilding). */
class ArtifactStoreSpec extends AnyFunSuite with TestTempDirs {
  private lazy val spark = TestSpark.spark
  private val dir = "/root/testdata/sf0.001"

  test("resolve builds once, then serves the committed entry (no rebuild)") {
    var builds = 0
    def get() = ArtifactStore.resolve(spark, "spec-kind", "/spec/corpus",
      7L) { staging =>
      builds += 1
      java.nio.file.Files.write(
        java.nio.file.Paths.get(staging, "payload.txt"),
        "v1".getBytes("UTF-8"))
    }
    ArtifactStore.evict(spark, "spec-kind", "/spec/corpus", 7L)
    val p1 = get()
    assert(builds === 1)
    // same key: memo hit
    assert(get() === p1 && builds === 1)
    // fresh "session" (memo dropped): manifest check passes, still no
    // rebuild — the cross-job reuse path
    ArtifactStore.clear()
    assert(get() === p1 && builds === 1)
    assert(new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(p1, "payload.txt")), "UTF-8") === "v1")
    ArtifactStore.evict(spark, "spec-kind", "/spec/corpus", 7L)
  }

  test("sweep removes superseded versions only; foreign entries untouched") {
    import java.nio.file.{Files, Paths}
    val kind = "spec-sweep"
    def mk(d: String, v: Long): String =
      ArtifactStore.resolve(spark, kind, d, v) { st =>
        Files.write(Paths.get(st, "p.txt"), s"$d-$v".getBytes("UTF-8"))
      }
    val p1 = mk("/sweep/corpus", 1L)
    val p2 = mk("/sweep/corpus", 2L)
    val p3 = mk("/sweep/corpus", 3L)
    val foreign = mk("/sweep/other", 1L)
    // superseded versions of THIS (kind, dir) go; the current version
    // and the foreign corpus stay
    assert(ArtifactStore.sweep(spark, kind, "/sweep/corpus", 3L) === 2)
    assert(!Files.exists(Paths.get(p1)) && !Files.exists(Paths.get(p2)))
    assert(Files.exists(Paths.get(p3)) && Files.exists(Paths.get(foreign)))
    // idempotent, and the kept entry still serves with zero rebuilds
    assert(ArtifactStore.sweep(spark, kind, "/sweep/corpus", 3L) === 0)
    ArtifactStore.clear()
    var builds = 0
    val again = ArtifactStore.resolve(spark, kind, "/sweep/corpus", 3L) {
      _ => builds += 1
    }
    assert(again === p3 && builds === 0)
    ArtifactStore.evict(spark, kind, "/sweep/corpus", 3L)
    ArtifactStore.evict(spark, kind, "/sweep/other", 1L)
  }

  test("planted/collided dir without a matching manifest is rebuilt, not served") {
    val kind = "spec-poison"
    ArtifactStore.evict(spark, kind, "/spec/corpus", 9L)
    // plant a directory AT the entry path with a payload but a wrong
    // manifest (simulates a path collision or a pre-planted artifact)
    val planted = java.nio.file.Paths.get(
      graft.exts.ArtifactStore.entryPath(
        ArtifactStore.root(spark), kind, "/spec/corpus", "", 9L))
    java.nio.file.Files.createDirectories(planted)
    java.nio.file.Files.write(planted.resolve("payload.txt"),
      "poisoned".getBytes("UTF-8"))
    java.nio.file.Files.write(planted.resolve("_MANIFEST.json"),
      """{"kind":"spec-poison","dir":"/other/corpus","variant":"","version":9}"""
        .getBytes("UTF-8"))
    var builds = 0
    val p = ArtifactStore.resolve(spark, kind, "/spec/corpus", 9L) { st =>
      builds += 1
      java.nio.file.Files.write(
        java.nio.file.Paths.get(st, "payload.txt"), "real".getBytes("UTF-8"))
    }
    assert(builds === 1, "manifest mismatch must force a rebuild")
    assert(new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(p, "payload.txt")), "UTF-8") === "real")
    ArtifactStore.evict(spark, kind, "/spec/corpus", 9L)
  }

  test("eviction is scoped: evicting one entry leaves siblings committed") {
    def put(kind: String, d: String) =
      ArtifactStore.resolve(spark, kind, d, 1L) { st =>
        java.nio.file.Files.write(
          java.nio.file.Paths.get(st, "x.txt"), "x".getBytes("UTF-8"))
      }
    val a = put("spec-evict", "/corpus/a")
    val b = put("spec-evict", "/corpus/b")
    val c = put("spec-evict-other", "/corpus/a")
    ArtifactStore.evict(spark, "spec-evict", "/corpus/a", 1L)
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(a)))
    assert(java.nio.file.Files.exists(java.nio.file.Paths.get(b, "x.txt")))
    assert(java.nio.file.Files.exists(java.nio.file.Paths.get(c, "x.txt")))
    ArtifactStore.evict(spark, "spec-evict", "/corpus/b", 1L)
    ArtifactStore.evict(spark, "spec-evict-other", "/corpus/a", 1L)
  }

  test("unregistered-scheme artifactRoot is rejected loudly; file:// is stripped; local passes") {
    val conf = ArtifactStore.RootConf
    try {
      // a URI root whose scheme has no registered FileSystem must fail
      // HERE, not silently resolve as a relative local path (r16: the
      // store's IO is FileSystem-resolved, so REGISTERED schemes are
      // accepted — see the graftfs:// test below)
      spark.conf.set(conf, "nosuchfs://lake/graft_indexes")
      val err = intercept[IllegalArgumentException] {
        ArtifactStore.root(spark)
      }
      assert(err.getMessage.contains("registered"))
      spark.conf.set(conf, "file:///tmp/graft-root-spec")
      assert(ArtifactStore.root(spark) === "/tmp/graft-root-spec")
      spark.conf.set(conf, "/tmp/graft-root-spec2")
      assert(ArtifactStore.root(spark) === "/tmp/graft-root-spec2")
    } finally spark.conf.unset(conf)
  }

  test("store end to end on a non-default FileSystem scheme (graftfs://): build, commit, reuse, sweep, evict") {
    spark.sparkContext.hadoopConfiguration.set("fs.graftfs.impl",
      classOf[graft.stream.GraftTestFs].getName)
    val conf = ArtifactStore.RootConf
    val base = tempDir("store-graftfs")
    try {
      spark.conf.set(conf, s"graftfs://$base/indexes")
      var builds = 0
      def get(v: Long) = ArtifactStore.resolve(spark, "spec-fs",
        "/fs/corpus", v) { staging =>
        builds += 1
        // builders on a URI root write through Spark / the FS API
        import spark.implicits._
        Seq(("payload", v)).toDF("k", "v")
          .write.parquet(s"$staging/payload")
      }
      val p1 = get(1L)
      assert(p1.startsWith("graftfs://"),
        "committed paths must carry the scheme end to end")
      assert(builds === 1)
      // manifest-last commit visible through the scheme
      assert(graft.exts.ArtifactStore.ready(p1, "spec-fs", "/fs/corpus",
        "", 1L))
      // memo dropped: the committed entry serves, no rebuild, and the
      // payload reads back through the scheme
      ArtifactStore.clear()
      assert(get(1L) === p1 && builds === 1)
      assert(spark.read.parquet(s"$p1/payload").count() === 1L)
      // version bump + sweep on the scheme
      val p2 = get(2L)
      assert(builds === 2)
      assert(ArtifactStore.sweep(spark, "spec-fs", "/fs/corpus", 2L) === 1)
      assert(!new java.io.File(s"$base/indexes/spec-fs").listFiles()
        .exists(_.getName.endsWith("-v1")),
        "superseded entry must be swept through the scheme")
      assert(spark.read.parquet(s"$p2/payload").count() === 1L)
      ArtifactStore.evict(spark, "spec-fs", "/fs/corpus", 2L)
    } finally spark.conf.unset(conf)
  }

  test("store on the HOSTILE scheme (non-atomic copy+delete renames): commit discipline survives; a torn publish never serves") {
    import graft.stream.GraftHostileFs
    spark.sparkContext.hadoopConfiguration.set("fs.hostilefs.impl",
      classOf[GraftHostileFs].getName)
    GraftHostileFs.failDstSubstring = None
    GraftHostileFs.failDstSuffix = None
    GraftHostileFs.failMode = "between"
    val conf = ArtifactStore.RootConf
    val base = tempDir("store-hostile")
    try {
      spark.conf.set(conf, s"hostilefs://$base/indexes")
      spark.conf.set(ArtifactStore.PublishWaitConf, "400")
      var builds = 0
      def get(v: Long) = ArtifactStore.resolve(spark, "spec-hostile",
        "/hfs/corpus", v) { staging =>
        builds += 1
        import spark.implicits._
        Seq(("payload", v)).toDF("k", "v")
          .write.parquet(s"$staging/payload")
      }
      // happy path with EVERY rename non-atomic: the manifest-last
      // protocol commits and serves
      val p1 = get(1L)
      assert(p1.startsWith("hostilefs://"))
      assert(builds === 1)
      ArtifactStore.clear()
      assert(get(1L) === p1 && builds === 1,
        "a committed entry must serve across sessions on the scheme")
      assert(spark.read.parquet(s"$p1/payload").count() === 1L)
      // torn publish: the payload DIRECTORY rename copies half its
      // children then fails — resolve fails LOUDLY, the torn dir never
      // reads as committed, and the retry self-heals
      ArtifactStore.clear()
      val fin2 = graft.exts.ArtifactStore.locate(spark, "spec-hostile",
        "/hfs/corpus", 2L)
      GraftHostileFs.failMode = "midway"
      GraftHostileFs.failDstSuffix = Some("/" + fin2.split('/').last)
      intercept[IllegalArgumentException] { get(2L) }
      assert(!graft.exts.ArtifactStore.ready(fin2, "spec-hostile",
        "/hfs/corpus", "", 2L),
        "a half-published payload must never read as committed")
      GraftHostileFs.failMode = "between"
      ArtifactStore.clear()
      val p2 = get(2L)
      assert(graft.exts.ArtifactStore.ready(p2, "spec-hostile",
        "/hfs/corpus", "", 2L))
      assert(spark.read.parquet(s"$p2/payload").count() === 1L)
    } finally {
      spark.conf.unset(conf)
      spark.conf.unset(ArtifactStore.PublishWaitConf)
      ArtifactStore.clear()
    }
  }

  test("cross-JVM publish race on the hostile scheme: the loser backs off against a slow winner and resolves committed, never spuriously failing") {
    import graft.stream.GraftHostileFs
    spark.sparkContext.hadoopConfiguration.set("fs.hostilefs.impl",
      classOf[GraftHostileFs].getName)
    GraftHostileFs.failDstSubstring = None
    GraftHostileFs.failDstSuffix = None
    GraftHostileFs.failMode = "between"
    val conf = ArtifactStore.RootConf
    val base = tempDir("store-race")
    try {
      spark.conf.set(conf, s"hostilefs://$base/indexes")
      spark.conf.set(ArtifactStore.PublishWaitConf, "20000")
      ArtifactStore.clear()
      def build(staging: String): Unit =
        spark.range(64).toDF("n").write.mode("overwrite")
          .parquet(s"$staging/payload.parquet")
      val fin = graft.exts.ArtifactStore.locate(spark, "spec-race",
        "/race/corpus", 7L)
      // the LOSER's payload rename is refused — the cross-JVM window
      // where a winner lands between the existence check and the
      // rename; a WINNER thread publishes the same deterministic
      // artifact while the loser sits in its backoff loop (the
      // slow-copying-winner shape of an object store, the r17 ADVICE
      // scenario the configurable wait exists for)
      GraftHostileFs.failMode = "before"
      GraftHostileFs.failDstSuffix = Some("/" + fin.split('/').last)
      val winner = new Thread(() => {
        Thread.sleep(5000)
        ArtifactStore.resolve(spark, "spec-race", "/race/corpus",
          7L)(build)
      })
      winner.setDaemon(true)
      winner.start()
      val t0 = System.nanoTime()
      val p = ArtifactStore.resolve(spark, "spec-race", "/race/corpus",
        7L)(build)
      val waitedMs = (System.nanoTime() - t0) / 1000000L
      winner.join(30000)
      assert(GraftHostileFs.failDstSuffix.isEmpty, "injection consumed")
      assert(p === fin)
      assert(graft.exts.ArtifactStore.ready(p, "spec-race",
        "/race/corpus", "", 7L),
        "the loser must resolve to the winner's COMMITTED artifact")
      assert(spark.read.parquet(s"$p/payload.parquet").count() === 64L)
      assert(waitedMs >= 4000L,
        s"the loser must back off for the slow winner instead of " +
          s"failing spuriously, waited ${waitedMs}ms")
      GraftHostileFs.failMode = "between"
    } finally {
      spark.conf.unset(conf)
      spark.conf.unset(ArtifactStore.PublishWaitConf)
      ArtifactStore.clear()
    }
  }

  test("distinct corpus dirs never alias (128-bit identity in the path)") {
    val r = ArtifactStore.root(spark)
    val p1 = graft.exts.ArtifactStore.entryPath(r, "k", "/corpus/a", "", 1L)
    val p2 = graft.exts.ArtifactStore.entryPath(r, "k", "/corpus/b", "", 1L)
    val p3 = graft.exts.ArtifactStore.entryPath(r, "k", "/corpus/a", "", 2L)
    val p4 = graft.exts.ArtifactStore.entryPath(r, "k", "/corpus/a", "k5", 1L)
    assert(Set(p1, p2, p3, p4).size === 4)
  }

  // ---- cross-session lifecycle for the five families migrated onto
  //      the store in r14 (Ivf, Pq, Lm, Bpe, Bloom): a fresh session
  //      (both memos dropped) must LOAD the committed entry, not
  //      retrain — proven by doctoring the committed parquet and
  //      asserting the doctored value is served ----

  /** Swap a doctored frame into a committed artifact's sub-parquet. */
  private def swapIn(df: org.apache.spark.sql.DataFrame,
      artifactDir: String, sub: String): Unit = {
    val tmp = tempDir("store-doctor")
    df.write.parquet(s"$tmp/$sub")
    val fs = java.nio.file.Paths.get(artifactDir, sub)
    import scala.jdk.CollectionConverters._
    val walk = java.nio.file.Files.walk(fs)
    try walk.iterator().asScala.toSeq.reverse
      .foreach(java.nio.file.Files.deleteIfExists(_))
    finally walk.close()
    java.nio.file.Files.move(java.nio.file.Paths.get(tmp, sub), fs)
  }

  test("lm artifact: fresh session loads the committed model (doctored row served)") {
    import org.apache.spark.sql.functions._
    import graft.exts.LmIndex
    LmIndex.evict(spark, dir)
    def key(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[String]("w1"), r.getAs[String]("w2"),
        r.getAs[Long]("c_bg"), r.getAs[Long]("c_ctx"))).toSet
    val fresh = key(graft.exts.TextAnalysis.lmTrain(
      Tables.load(spark, dir, "documents")))
    assert(key(LmIndex.model(spark, dir)) === fresh)
    // cross-session: memo dropped, committed entry serves
    ArtifactStore.clear()
    assert(key(LmIndex.model(spark, dir)) === fresh)
    // provenance: doctor one bigram count in the committed artifact —
    // a load carries it through; a retrain would mask it
    val p = ArtifactStore.locate(spark, LmIndex.Kind, dir,
      Tables.version(dir, "documents"))
    swapIn(LmIndex.load(spark, p)
      .withColumn("c_bg", col("c_bg") + lit(1000000L)), p, "model")
    ArtifactStore.clear()
    assert(LmIndex.model(spark, dir).collect()
      .forall(_.getAs[Long]("c_bg") > 1000000L),
      "LmIndex retrained instead of loading the committed artifact")
    LmIndex.evict(spark, dir)
    assert(key(LmIndex.model(spark, dir)) === fresh)
  }

  test("ivf centroid artifact: fresh session loads (doctored centroid served)") {
    import org.apache.spark.sql.functions._
    import graft.exts.{IvfIndex, Similarity}
    IvfIndex.evict(spark, dir)
    def key(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toList)).toSet
    val fresh = key(Similarity.trainedCentroids(
      Tables.load(spark, dir, "embeddings")))
    assert(key(IvfIndex.centroids(spark, dir)) === fresh)
    ArtifactStore.clear(); IvfIndex.clear()
    assert(key(IvfIndex.centroids(spark, dir)) === fresh)
    val p = ArtifactStore.locate(spark, IvfIndex.Kind, dir,
      Tables.version(dir, "embeddings"),
      variant = s"k${Similarity.IvfCentroids}-i${Similarity.IvfIters}")
    swapIn(spark.read.parquet(s"$p/centroids")
      .withColumn("cent_id", col("cent_id") + lit(5000L)),
      p, "centroids")
    ArtifactStore.clear(); IvfIndex.clear()
    assert(IvfIndex.centroids(spark, dir).collect()
      .forall(_.getLong(0) >= 5000L),
      "IvfIndex retrained instead of loading the committed artifact")
    IvfIndex.evict(spark, dir)
    assert(key(IvfIndex.centroids(spark, dir)) === fresh)
  }

  test("pq codebook artifact: fresh session loads (doctored codeword served)") {
    import org.apache.spark.sql.functions._
    import graft.exts.PqIndex
    PqIndex.evict(spark, dir)
    def key(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getSeq[Long](2).toList)).toSet
    val fresh = key(PqIndex.trainedCodebook(
      Tables.load(spark, dir, "embeddings")))
    assert(key(PqIndex.codebook(spark, dir)) === fresh)
    ArtifactStore.clear(); PqIndex.clear()
    assert(key(PqIndex.codebook(spark, dir)) === fresh)
    val p = ArtifactStore.locate(spark, PqIndex.Kind, dir,
      Tables.version(dir, "embeddings"))
    swapIn(spark.read.parquet(s"$p/codebook")
      .withColumn("cw", transform(col("cw"), x => x + lit(7L))),
      p, "codebook")
    ArtifactStore.clear(); PqIndex.clear()
    assert(key(PqIndex.codebook(spark, dir)) !== fresh,
      "PqIndex retrained instead of loading the committed artifact")
    PqIndex.evict(spark, dir)
    assert(key(PqIndex.codebook(spark, dir)) === fresh)
  }

  test("bpe merge artifact: fresh session loads (doctored count served)") {
    import org.apache.spark.sql.functions._
    import graft.exts.BpeIndex
    BpeIndex.evict(spark, dir)
    def key(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2),
        r.getString(3), r.getLong(4))).toSet
    val fresh = key(graft.exts.TextAnalysis.bpeTrain(
      Tables.load(spark, dir, "documents")))
    assert(key(BpeIndex.rules(spark, dir)) === fresh)
    ArtifactStore.clear(); BpeIndex.clear()
    assert(key(BpeIndex.rules(spark, dir)) === fresh)
    val p = ArtifactStore.locate(spark, BpeIndex.Kind, dir,
      Tables.version(dir, "documents"),
      variant = s"r${graft.exts.TextAnalysis.BpeRounds}")
    swapIn(BpeIndex.load(spark, s"$p/rules")
      .withColumn("cnt", col("cnt") + lit(900000L)), p, "rules")
    ArtifactStore.clear(); BpeIndex.clear()
    assert(BpeIndex.rules(spark, dir).collect()
      .forall(_.getLong(4) > 900000L),
      "BpeIndex retrained instead of loading the committed artifact")
    BpeIndex.evict(spark, dir)
    assert(key(BpeIndex.rules(spark, dir)) === fresh)
  }

  test("bloom sketch artifact: fresh session loads the committed bytes") {
    import org.apache.spark.sql.functions._
    import graft.exts.BloomIndex
    BloomIndex.evict(spark, dir)
    val docs = Tables.load(spark, dir, "documents")
    val first = BloomIndex.sketch(spark, dir)
    ArtifactStore.clear(); BloomIndex.clear()
    // cross-session: identical probe behavior from the committed bytes
    val reloaded = BloomIndex.sketch(spark, dir)
    val hashes = docs.select(xxhash64(col("text")).as("h"))
      .collect().map(_.getLong(0))
    assert(hashes.forall(reloaded.mightContain))
    // provenance: overwrite the committed bytes with a sketch trained on
    // a SENTINEL key — a load serves it; a rebuild would not contain it
    val sentinel = java.util.UUID.randomUUID().toString
    import spark.implicits._
    val doctored = BloomIndex.build(
      Seq(sentinel).toDF("text"), 0.01)
    val p = ArtifactStore.locate(spark, BloomIndex.Kind, dir,
      Tables.version(dir, "documents"), variant = "fpp0.01")
    BloomIndex.save(doctored, s"$p/sketch.bloom")
    ArtifactStore.clear(); BloomIndex.clear()
    val served = BloomIndex.sketch(spark, dir)
    val sentinelHash = spark.range(1)
      .select(xxhash64(lit(sentinel))).collect()(0).getLong(0)
    assert(served.mightContain(sentinelHash),
      "BloomIndex rebuilt instead of loading the committed artifact")
    BloomIndex.evict(spark, dir)
    assert(hashes.forall(BloomIndex.sketch(spark, dir).mightContain))
    assert(first.mightContain(hashes.head)) // silence unused warning
  }

  test("knn artifact: edges == inline rebuild, bit-exact") {
    KnnIndex.evict(spark, dir)
    def key(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("src_id"), r.getAs[Long]("dst_id"),
        r.getAs[Int]("rank"), r.getAs[Long]("mutual"))).toSet
    val fresh = key(Similarity.knnGraph(
      Tables.load(spark, dir, "embeddings")))
    val art = key(KnnIndex.edges(spark, dir))
    assert(art === fresh)
    // fresh session (memo dropped): loads the committed artifact
    ArtifactStore.clear()
    assert(key(KnnIndex.edges(spark, dir)) === fresh)
  }

  test("components artifact: == fresh derivation; purity/d4 consume it (doctored row propagates)") {
    import org.apache.spark.sql.functions._
    KnnIndex.evict(spark, dir)
    def key(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("vec_id"), r.getAs[Long]("component"),
        r.getAs[Long]("cluster_size"))).toSet
    val art = key(KnnIndex.components(spark, dir))
    val fresh = key(Similarity.knnComponentsFromEdges(
      KnnIndex.edges(spark, dir)))
    assert(art === fresh && art.nonEmpty)
    // provenance: inflate one cluster_size in the committed artifact —
    // d4_prune's keep threshold reads cluster_size, so the doctored
    // value must flow through (a recompute would mask it)
    val someComp = art.head._2
    val path = KnnIndex.componentsPath(spark, dir)
    val doctored = spark.read.parquet(s"$path/components")
      .withColumn("cluster_size",
        when(col("component") === someComp,
          col("cluster_size") + 1000L).otherwise(col("cluster_size")))
    val tmp = tempDir("knn-comp-doctored")
    doctored.write.parquet(s"$tmp/components")
    val fs = java.nio.file.Paths.get(path, "components")
    import scala.jdk.CollectionConverters._
    val walk = java.nio.file.Files.walk(fs)
    try walk.iterator().asScala.toSeq.reverse
      .foreach(java.nio.file.Files.deleteIfExists(_))
    finally walk.close()
    java.nio.file.Files.move(
      java.nio.file.Paths.get(tmp, "components"), fs)
    graft.exts.ArtifactStore.clear()
    val viaD4 = Similarity.d4Prune(spark, dir).collect()
      .map(r => r.getAs[Long]("component") ->
        r.getAs[Long]("cluster_size")).toMap
    assert(viaD4(someComp) > 1000L,
      "d4_prune recomputed components instead of reading the artifact")
    KnnIndex.evict(spark, dir) // restore for later tests
  }

  test("knn incremental merge: bit-equal to full rebuild; reuses untouched buckets; batch displaces") {
    import org.apache.spark.sql.functions.col
    KnnIndex.evict(spark, dir)
    val corpus = Tables.load(spark, dir, "embeddings")
      .select(col("vec_id"), col("embedding"))
    val bits = Similarity.adaptiveBucketBits(corpus.count())
    def key(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("src_id"), r.getAs[Long]("dst_id"),
        r.getAs[Int]("rank"), r.getAs[Long]("mutual"))).toSet
    val batch = Similarity.incomingVecBatch(spark, dir)
      .select(col("batch_id").as("vec_id"), col("embedding"))
    // the law: merge == full rebuild over corpus ∪ batch at the same
    // bucket width, bit-exact
    val merged = key(Similarity.knnIncremental(spark, dir))
    val rebuilt = key(Similarity.knnGraphOver(
      corpus.unionByName(batch), bits, Similarity.KnnGraphK))
    assert(merged === rebuilt)
    // the batch genuinely displaces: a scaled copy has cosine 1 with
    // its source, so at least one affected existing node's edge set
    // must change vs the artifact
    val artifact = key(KnnIndex.edges(spark, dir))
    assert(merged !== artifact)
    // untouched buckets are REUSED, not recomputed: doctor an
    // untouched-bucket edge in the committed artifact and the merge
    // must carry the doctored row through verbatim
    val touched = batch
      .select(Similarity.signBucketBits(col("embedding"), bits)
        .as("bucket")).distinct()
      .collect().map(_.getLong(0)).toSet
    val untouchedSrc = corpus
      .select(col("vec_id"),
        Similarity.signBucketBits(col("embedding"), bits).as("bucket"))
      .collect().collectFirst {
        case r if !touched.contains(r.getLong(1)) &&
          artifact.exists(_._1 == r.getLong(0)) => r.getLong(0)
      }.get
    val path = KnnIndex.path(spark, dir)
    val doctored = KnnIndex.load(spark, path)
      .withColumn("rank",
        org.apache.spark.sql.functions.when(
          col("src_id") === untouchedSrc, col("rank") + 100)
          .otherwise(col("rank")))
    val tmp = tempDir("knn-inc-doctored")
    doctored.write.parquet(s"$tmp/edges")
    val fs = java.nio.file.Paths.get(path, "edges")
    import scala.jdk.CollectionConverters._
    val walk = java.nio.file.Files.walk(fs)
    try walk.iterator().asScala.toSeq.reverse
      .foreach(java.nio.file.Files.deleteIfExists(_))
    finally walk.close()
    java.nio.file.Files.move(java.nio.file.Paths.get(tmp, "edges"), fs)
    graft.exts.ArtifactStore.clear()
    val viaDoctored = key(Similarity.knnIncremental(spark, dir))
    assert(viaDoctored.exists { case (s, _, rk, _) =>
      s == untouchedSrc && rk > 100
    }, "merge recomputed an untouched bucket instead of reusing it")
    KnnIndex.evict(spark, dir) // restore clean artifact for later tests
  }

  test("graph consumers READ the artifact: a doctored edge propagates") {
    // baseline components, then doctor the committed edge frame by
    // deleting every mutual edge of one component's bridge pair — if
    // knnComponents rebuilt from raw embeddings the doctoring would be
    // invisible; consuming it proves the artifact is the source of truth
    KnnIndex.evict(spark, dir)
    val before = Similarity.knnComponents(spark, dir).collect()
      .map(r => (r.getAs[Long]("vec_id"), r.getAs[Long]("cluster_size")))
      .toMap
    assert(before.nonEmpty)
    val path = KnnIndex.path(spark, dir)
    val doctored = KnnIndex.load(spark, path)
      .withColumn("mutual", org.apache.spark.sql.functions.lit(0L))
    val tmp = tempDir("knn-doctored")
    doctored.write.mode("overwrite").parquet(s"$tmp/edges")
    // swap the doctored edges INTO the committed artifact
    val fs = java.nio.file.Paths.get(path, "edges")
    import scala.jdk.CollectionConverters._
    val walk = java.nio.file.Files.walk(fs)
    try walk.iterator().asScala.toSeq.reverse
      .foreach(java.nio.file.Files.deleteIfExists(_))
    finally walk.close()
    java.nio.file.Files.move(java.nio.file.Paths.get(tmp, "edges"), fs)
    ArtifactStore.clear()
    // the derived components artifact must re-derive from the doctored
    // edges (in production both share the corpus version — doctoring
    // in place is a test-only intervention, so the seam evicts it)
    KnnIndex.evictComponents(spark, dir)
    // with every mutual flag zeroed, no vector has a mutual neighbor →
    // the component frame must be EMPTY; a rebuild would repopulate it
    assert(Similarity.knnComponents(spark, dir).count() === 0L,
      "consumer ignored the doctored artifact — it rebuilt instead")
    // restore a clean artifact for later tests
    KnnIndex.evict(spark, dir)
    assert(Similarity.knnComponents(spark, dir).collect()
      .map(r => (r.getAs[Long]("vec_id"), r.getAs[Long]("cluster_size")))
      .toMap === before)
  }

  test("media pair artifact: verdict == inline matchers; doctored pair propagates") {
    import org.apache.spark.sql.functions.col
    import graft.exts.{MediaIndex, Multimodal}
    MediaIndex.evict(spark, dir)
    def verdictRows() = Multimodal.mmMediaVerdict(spark, dir).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getString(2),
        r.getLong(3), r.getLong(4), r.getLong(5)))).toMap
    val viaArtifact = verdictRows()
    // the artifact is bit-equal to running the three matchers inline
    val inline = MediaIndex.buildPairs(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
    val committed = MediaIndex.pairs(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
    assert(committed === inline)
    // a fresh session (memo dropped) loads the committed entry and the
    // verdict reproduces exactly — zero codec work on the serve side
    MediaIndex.clear()
    assert(verdictRows() === viaArtifact)
    // doctor the committed pairs: drop every image-modality row. The
    // verdict must LOSE all img_dup evidence — a consumer silently
    // re-running the matchers would show none of that
    val path = MediaIndex.path(spark, dir)
    val doctored = MediaIndex.load(spark, path)
      .filter(col("modality") =!= "img")
    val tmp = tempDir("media-doctored")
    doctored.write.parquet(s"$tmp/pairs")
    val fs = java.nio.file.Paths.get(path, "pairs")
    import scala.jdk.CollectionConverters._
    val walk = java.nio.file.Files.walk(fs)
    try walk.iterator().asScala.toSeq.reverse
      .foreach(java.nio.file.Files.deleteIfExists(_))
    finally walk.close()
    java.nio.file.Files.move(java.nio.file.Paths.get(tmp, "pairs"), fs)
    graft.exts.ArtifactStore.clear()
    // the derived component artifact must re-derive from the doctored
    // pairs (in production both share the corpus version — doctoring in
    // place is a test-only intervention, so the seam evicts it)
    MediaIndex.evictComponents(spark, dir)
    val afterDoctor = verdictRows()
    assert(afterDoctor.values.forall(_._3 == 0L),
      "img evidence survived — the verdict rebuilt instead of reading")
    assert(viaArtifact.values.exists(_._3 == 1L))
    // restore a clean artifact for later tests
    MediaIndex.evict(spark, dir)
    assert(verdictRows() === viaArtifact)
  }
}
