package graft.stream

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** A local filesystem registered under a NON-DEFAULT URI scheme: every
  * byte the loops move through it proves the IO goes through the
  * Hadoop-FileSystem seam (`Path.getFileSystem`) rather than java.nio —
  * the deployability contract of the r16 LoopCore port (an object-store
  * connector plugs into exactly this registration point). */
class GraftTestFs extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getScheme: String = "graftfs"
  override def getUri: java.net.URI = java.net.URI.create("graftfs:///")
}

/** S3-class rename semantics: `rename` is a NON-ATOMIC copy-then-delete
  * (directories file by file), with an injectable failure at three
  * points — the exact store class the r16 FileSystem port exists for
  * (the reference reaches the same seam through Iceberg's FileIO,
  * BaseEmrOptimizeDataExecutor.java:82-89). Failures are one-shot and
  * keyed by a destination-path substring so a test targets EXACTLY the
  * rename under scrutiny while Spark's own committer renames proceed:
  *
  *  - `before`  — the rename fails before any byte moves (dst absent);
  *  - `between` — the copy completes but the source delete never runs
  *    (crash between the two halves: dst complete, src still there);
  *  - `midway`  — a DIRECTORY rename copies only half its children
  *    then fails (the half-published layout a reader must never take
  *    for a committed one).
  *
  * Per-object copies stay whole-object-visible (each file lands via one
  * local copy), matching object-store PUT semantics — non-atomicity
  * lives between objects, not inside one. */
object GraftHostileFs {
  @volatile var failDstSubstring: Option[String] = None
  /** Suffix-matched arm for targets whose name also appears in interior
    * paths (an artifact dir's name rides inside its own staging dir and
    * every committer rename under it — only the final publish rename's
    * dst ENDS with the bare entry name). */
  @volatile var failDstSuffix: Option[String] = None
  @volatile var failMode: String = "between"
}

class GraftHostileFs extends org.apache.hadoop.fs.RawLocalFileSystem {
  import org.apache.hadoop.fs.{FileUtil, Path}
  override def getScheme: String = "hostilefs"
  override def getUri: java.net.URI = java.net.URI.create("hostilefs:///")
  override def rename(src: Path, dst: Path): Boolean = {
    val bySub = GraftHostileFs.failDstSubstring
      .exists(s => dst.toString.contains(s))
    val bySuf = GraftHostileFs.failDstSuffix
      .exists(s => dst.toString.endsWith(s))
    val armed = bySub || bySuf
    if (bySub) GraftHostileFs.failDstSubstring = None // one-shot
    if (bySuf) GraftHostileFs.failDstSuffix = None
    if (armed && GraftHostileFs.failMode == "before") return false
    if (armed && GraftHostileFs.failMode == "midway" &&
        getFileStatus(src).isDirectory) {
      mkdirs(dst)
      val kids = listStatus(src).sortBy(_.getPath.getName)
      kids.take(kids.length / 2).foreach { st =>
        FileUtil.copy(this, st.getPath, this,
          new Path(dst, st.getPath.getName), false, true, getConf)
      }
      return false
    }
    if (!FileUtil.copy(this, src, this, dst, false, true, getConf))
      return false
    // 'between': crash after the copy, before the source delete — the
    // caller sees a failed rename while dst is complete and src remains
    if (armed) return false
    delete(src, true)
    true
  }
}

/** Gates on the [[LoopCore]] machinery shared by the four
  * index-maintenance loops: marker escaping, marker retention, the
  * fresh-query-on-a-resumed-root guard, and the loops running end to
  * end against a non-default FileSystem scheme. */
class LoopCoreSpec extends AnyFunSuite with graft.TestTempDirs {
  lazy val spark = graft.TestSpark.spark

  private def registerGraftFs(): Unit =
    spark.sparkContext.hadoopConfiguration
      .set("fs.graftfs.impl", classOf[GraftTestFs].getName)

  test("marker string fields round-trip hostile content (quotes, backslashes, control chars)") {
    val root = tempDir("loopcore-esc")
    val store = new LoopCore.MetaStore[String](root, "b",
      s => s"""{"ord":1,"v":${LoopCore.jsonStr(s)}}""",
      j => LoopCore.jsonString(j, "v"))
    val hostile = "he said \"hi\", path C:\\tmp\\x,\nnewline\tand \\\" mix"
    store.write(0L, hostile)
    assert(store.read(0L).contains(hostile),
      "escaped marker payload must round-trip byte-exact")
    assert(store.newest.contains(hostile))
    // a long-valued field NEXT TO the escaped string stays parseable
    val raw = LoopCore.readString(store.file(0L))
    assert(LoopCore.jsonLong(raw, "ord") === 1L)
  }

  test("marker retention: a long-running store keeps only the newest RetainMarkers states") {
    val root = tempDir("loopcore-gc")
    val store = new LoopCore.MetaStore[Long](root, "b",
      n => s"""{"n":$n}""", j => LoopCore.jsonLong(j, "n"))
    (0L until 20L).foreach(i => store.write(i, i * 10))
    val markers = LoopCore.listDir(store.dir)
      .map(_._1).filter(_.startsWith("state-b"))
    assert(markers.size === LoopCore.RetainMarkers,
      s"markers must be bounded, got ${markers.size}: $markers")
    assert(store.newest.contains(190L),
      "the newest state must survive every sweep")
    assert(store.read(19L).contains(190L))
    assert(store.read(0L).isEmpty, "swept history must read as absent")
  }

  test("a new query without the original checkpoint is refused on a root with committed batches") {
    import spark.implicits._
    val root = tempDir("loopcore-fresh")
    val docs = graft.Tables.load(spark, "/root/testdata/sf0.001",
        "documents").select(col("doc_id"), col("text")).limit(20)
    val index = LexIndexLoop.buildIndex(spark, docs, root)
    // fresh root (build marker only, lastBatchId = -1): allowed
    LoopCore.requireCheckpointIfResuming("lexIndexLoop",
      index.snapshot.lastBatchId, None)
    // commit one batch, then a NEW checkpoint-less query on the same
    // root must fail loudly — its batch ids restart at 0 and the
    // replay guard would silently no-op them (the r15 ADVICE hazard)
    LexIndexLoop.applyBatch(spark, index, root,
      Seq((900001L, "alpha beta gamma")).toDF("doc_id", "text"), 0L,
      (_, _, _, _) => ())
    val err = intercept[IllegalStateException] {
      LexIndexLoop.start(spark, index, root,
        spark.readStream.schema("doc_id LONG, text STRING")
          .parquet(tempDir("loopcore-in")))
    }
    assert(err.getMessage.contains("checkpoint"))
    // the durable form — same root, a checkpoint — is accepted
    val q = LexIndexLoop.start(spark, index, root,
      spark.readStream.schema("doc_id LONG, text STRING")
        .parquet(tempDir("loopcore-in2")),
      checkpoint = Some(tempDir("loopcore-cp")))
    q.stop()
  }

  test("lex loop end to end on a non-default FileSystem scheme (graftfs://): segments, markers, compaction, retention, reattach") {
    import spark.implicits._
    registerGraftFs()
    val root = s"graftfs://${tempDir("loopcore-lexfs")}/lex"
    val corpus = graft.Tables.load(spark, "/root/testdata/sf0.001",
        "documents").select(col("doc_id"), col("text")).limit(20)
      .localCheckpoint(true)
    val index = LexIndexLoop.buildIndex(spark, corpus, root)
    assert(index.snapshot.mainPath.startsWith("graftfs://"),
      "segment paths must carry the scheme end to end")
    val base = corpus.collect().map(r => (r.getLong(0), r.getString(1)))
    // batch 0: 10 docs = 50% of 20 indexed > the 20% threshold →
    // compaction fires on the non-default scheme (delta write, marker,
    // composite rewrite)
    val b0 = base.take(10).map { case (id, t) => (id + 600000L, t) }.toSeq
    LexIndexLoop.applyBatch(spark, index, root,
      b0.toDF("doc_id", "text"), 0L, (_, _, _, _) => ())
    assert(index.version === 1L)
    assert(LoopCore.isDirectory(s"$root/v1"))
    assert(LoopCore.exists(s"$root/_meta/state-b0.json"))
    // batch 1: compaction 2 — compaction 1's absorbed delta p0 is
    // swept one generation late, v0 leaves the retain window; all
    // deletes go through the FileSystem seam
    val b1 = base.slice(10, 17)
      .map { case (id, t) => (id + 700000L, t) }.toSeq
    LexIndexLoop.applyBatch(spark, index, root,
      b1.toDF("doc_id", "text"), 1L, (_, _, _, _) => ())
    assert(index.version === 2L)
    assert(!LoopCore.exists(s"$root/p0"),
      "absorbed delta must be swept on the non-default scheme")
    // served results equal a fresh inline index over the full corpus
    val full = corpus.unionByName(b0.toDF("doc_id", "text"))
      .unionByName(b1.toDF("doc_id", "text"))
    val inline = graft.exts.TextAnalysis.bm25ScoreAgainst(
        graft.exts.TextAnalysis.bm25Postings(full),
        graft.exts.TextAnalysis.bm25Stats(full),
        base.take(3).map { case (id, t) => (id + 900000L, t) }.toSeq
          .toDF("doc_id", "text")
          .select(col("doc_id").as("query_id"),
            explode(array_distinct(split(trim(col("text")), "\\s+")))
              .as("term")),
        10, excludeSelf = false)
      .collect().map(_.toString).toSet
    val served = LexIndexLoop.scoreAgainst(spark, index.snapshot,
        base.take(3).map { case (id, t) => (id + 900000L, t) }.toSeq
          .toDF("doc_id", "text"))
      .collect().map(_.toString).toSet
    assert(served === inline)
    // reattach resolves the newest marker through the scheme
    val re = LexIndexLoop.reattach(spark, root)
    assert(re.snapshot === index.snapshot)
  }

  test("graph loop on graftfs://: epoch publish via the copy branch (no hard links), served layout equals a rebuild") {
    import spark.implicits._
    registerGraftFs()
    val base = s"graftfs://${tempDir("loopcore-graphfs")}"
    val corpusPath = s"$base/corpus"
    val graphPath = s"$base/graph"
    spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
      .filter(col("vec_id") < 100L)
      .write.parquet(corpusPath)
    val graph = GraphIndexLoop.buildGraph(spark, corpusPath, graphPath,
      target = 8L)
    val bits0 = graph.snapshot.bits
    def served(): Set[String] = graph.edges(spark)
      .collect().map(_.toString).toSet
    def rebuilt(): Set[String] = graft.exts.Similarity.knnGraphOver(
        spark.read.parquet(corpusPath)
          .select(col("vec_id"), col("embedding")),
        bits0, graft.exts.Similarity.KnnGraphK)
      .collect().map(_.toString).toSet
    assert(served() === rebuilt())
    // one non-drift batch: touched buckets rewrite, untouched buckets
    // flow through LoopCore.copyOrLink's COPY branch (graftfs is not
    // scheme "file", so the hard-link fast path must not be taken)
    val vecs = spark.read.parquet(corpusPath).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1)).toMap
    val (n1, v1) = GraphIndexLoop.applyBatch(spark, graph, corpusPath,
      Seq((2000001L, vecs(1L).map(x => -x)),
        (2000002L, vecs(2L).map(x => -x))).toDF("vec_id", "embedding"),
      0L, 0.999, 8L, (_, _) => ())
    assert(n1 === 2L && v1 === 0L)
    assert(graph.snapshot.epoch === 1L)
    assert(served() === rebuilt(), "merged epoch must equal a rebuild")
    // markers and layout live on the scheme; replay is a strict no-op
    assert(LoopCore.exists(s"$graphPath/_meta/state-e1.json"))
    val before = graph.snapshot
    val (rn, rv) = GraphIndexLoop.applyBatch(spark, graph, corpusPath,
      Seq((2000003L, vecs(3L).map(x => -x))).toDF("vec_id", "embedding"),
      0L, 0.999, 8L, (_, _) => fail("replay must not emit health"))
    assert(rn === 2L && rv === before.version)
    assert(graph.snapshot === before)
  }

  test("media loop: rejected-modality residue gets an explicit verdict row; within-batch chains resolve to a landed canonical") {
    import spark.implicits._
    import graft.exts.Multimodal
    val root = tempDir("loopcore-media")
    // corpus: ONE image asset, id 100 — the canonical every chain must
    // terminate at; vid/aud start empty
    val corpusPng = Multimodal.encodeNearPng(4000004L)
    val imgSigs = Multimodal.canonicalSignatures(
      Seq((100L, corpusPng)).toDF("doc_id", "png")
        .as[Multimodal.PngAsset]).toDF()
    val vidSigs = Multimodal.videoFingerprints(
      Seq.empty[(Long, Array[Byte])].toDF("doc_id", "gif")
        .as[Multimodal.GifAsset]).toDF()
    val audSigs = Multimodal.audioWindowFps(
      Seq.empty[(Long, Array[Byte])].toDF("doc_id", "wav")
        .as[Multimodal.WavAsset]).toDF()
    val serving = MediaIndexLoop.build(spark, imgSigs, vidSigs, audSigs,
      root)
    // batch: ids 10 and 20 BOTH duplicate corpus 100 and each other;
    // 10 < 100 < ... so 20's raw min-matched pointer is 10 — a batch
    // asset that is itself gated and lands nowhere. Plus one asset in
    // an unknown modality.
    val batch = Seq(
      (10L, "img", corpusPng), (20L, "img", corpusPng),
      (777L, "txt", "not media".getBytes("UTF-8")))
      .toDF("doc_id", "modality", "media")
    val v = MediaIndexLoop.applyBatch(spark, serving, batch, 0L, 100L,
        (_, _) => ())
      .collect()
      .map(r => (r.getLong(0), r.getString(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(5)))).toMap
    assert(v((10L, "img"))._2 === 100L && v((10L, "img"))._3 === 0L,
      "direct corpus duplicate points at the corpus canonical")
    assert(v((20L, "img"))._2 === 100L,
      s"chained duplicate must resolve PAST the gated batch asset 10 " +
        s"to the landed canonical 100, got ${v((20L, "img"))}")
    assert(v((20L, "img"))._3 === 0L)
    assert(v((777L, "txt")) === ((0L, -1L, -1L)),
      "unknown modality must surface as an explicit rejected verdict " +
        "(is_new = -1), never vanish")
    // nothing landed for the rejected row, the batch still committed
    assert(serving.snapshot.lastBatchId === 0L)
    assert(serving.snapshot.nPending === 0L)
  }

  test("live fleet health: the four loops' serving states rank by threshold pressure; the needy family is first") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    import graft.exts.Multimodal
    val dir = "/root/testdata/sf0.001"
    // MEDIA — the planted needy family: rebuildAfter 4, two admitted
    // pending assets → 500‰ of its own threshold
    val mediaRoot = tempDir("fleet-media")
    val corpusPng = Multimodal.encodeNearPng(4100004L)
    val serving = MediaIndexLoop.build(spark,
      Multimodal.canonicalSignatures(Seq((100L, corpusPng))
        .toDF("doc_id", "png").as[Multimodal.PngAsset]).toDF(),
      Multimodal.videoFingerprints(Seq.empty[(Long, Array[Byte])]
        .toDF("doc_id", "gif").as[Multimodal.GifAsset]).toDF(),
      Multimodal.audioWindowFps(Seq.empty[(Long, Array[Byte])]
        .toDF("doc_id", "wav").as[Multimodal.WavAsset]).toDF(),
      mediaRoot)
    MediaIndexLoop.applyBatch(spark, serving,
      Seq((10L, "img", Multimodal.encodeNearPng(4200004L)),
        (20L, "img", Multimodal.encodeNearPng(4300004L)))
        .toDF("doc_id", "modality", "media"), 0L, 100L, (_, _) => ())
    assert(serving.snapshot.nPending === 2L)
    // LEX — one pending doc over a 20-doc index → 250‰ of the 200‰
    // compaction threshold
    val lexRoot = tempDir("fleet-lex")
    val docs = graft.Tables.load(spark, dir, "documents")
      .select(col("doc_id"), col("text")).limit(20)
    val lex = LexIndexLoop.buildIndex(spark, docs, lexRoot)
    LexIndexLoop.applyBatch(spark, lex, lexRoot,
      Seq((910001L, "solo pending doc")).toDF("doc_id", "text"), 0L,
      (_, _, _, _) => ())
    assert(lex.snapshot.nPending === 1L)
    // IVF + GRAPH — built over the fixture embeddings, no ingest: low
    // pressure by construction
    val base = tempDir("fleet-vec")
    spark.read.parquet(s"$dir/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
      .filter(col("vec_id") < 100L).write.parquet(s"$base/corpus")
    val ivf = IndexLoop.buildIndex(spark, s"$base/corpus")
    val graph = GraphIndexLoop.buildGraph(spark, s"$base/corpus",
      s"$base/graph", target = 8L)
    val fleet = FleetHealth.snapshot(spark, (serving, 4L), lex, ivf,
        graph, graphTarget = 8L).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getInt(2)))).toMap
    assert(fleet.keySet === Set("media", "lex", "ivf", "graph"))
    // pressures are the loops' OWN decide quantities, closed form
    assert(fleet("media")._1 === 500L) // 2 pending / rebuildAfter 4
    assert(fleet("lex")._1 === 250L)   // 1*1e6 / (20*200)
    val gs = graph.snapshot
    assert(fleet("graph")._1 === gs.nCorpus * 1000L / (8L << gs.bits))
    // the planted needy family ranks FIRST
    assert(fleet("media")._2 === 1,
      s"media at 500 permille of its threshold must rank 1: $fleet")
    // zero-IO law: the live frame is built from serving-state
    // snapshots alone — its optimized plan is a LocalRelation (no
    // scans, no corpus reads; the rank is a window over 4 local rows)
    val plan = FleetHealth.pressures(spark, (serving, 4L), lex, ivf,
      graph, graphTarget = 8L).queryExecution.optimizedPlan
    assert(plan.collectLeaves().forall(_.isInstanceOf[
      org.apache.spark.sql.catalyst.plans.logical.LocalRelation]),
      s"live fleet frame must read no storage, got:\n$plan")
  }

  test("fleet maintenance tick: exactly the rank-1 family rebuilds; its pressure resets; replay guards untouched") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    import graft.exts.Multimodal
    val dir = "/root/testdata/sf0.001"
    // MEDIA — the planted needy family (two pending admitted assets at
    // rebuildAfter 4 → 500‰); the other three low by construction
    val mediaRoot = tempDir("tick-media")
    val corpusPng = Multimodal.encodeNearPng(4400004L)
    val serving = MediaIndexLoop.build(spark,
      Multimodal.canonicalSignatures(Seq((100L, corpusPng))
        .toDF("doc_id", "png").as[Multimodal.PngAsset]).toDF(),
      Multimodal.videoFingerprints(Seq.empty[(Long, Array[Byte])]
        .toDF("doc_id", "gif").as[Multimodal.GifAsset]).toDF(),
      Multimodal.audioWindowFps(Seq.empty[(Long, Array[Byte])]
        .toDF("doc_id", "wav").as[Multimodal.WavAsset]).toDF(),
      mediaRoot)
    MediaIndexLoop.applyBatch(spark, serving,
      Seq((10L, "img", Multimodal.encodeNearPng(4500004L)),
        (20L, "img", Multimodal.encodeNearPng(4600004L)))
        .toDF("doc_id", "modality", "media"), 0L, 100L, (_, _) => ())
    assert(serving.snapshot.nPending === 2L)
    val lexRoot = tempDir("tick-lex")
    val docs = graft.Tables.load(spark, dir, "documents")
      .select(col("doc_id"), col("text")).limit(20)
    val lex = LexIndexLoop.buildIndex(spark, docs, lexRoot)
    val base = tempDir("tick-vec")
    spark.read.parquet(s"$dir/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
      .filter(col("vec_id") < 100L).write.parquet(s"$base/corpus")
    val ivf = IndexLoop.buildIndex(spark, s"$base/corpus")
    val graph = GraphIndexLoop.buildGraph(spark, s"$base/corpus",
      s"$base/graph", target = 8L)
    val beforeLex = lex.snapshot
    val beforeIvf = ivf.snapshot
    val beforeGraph = graph.snapshot
    val beforeMediaBatch = serving.snapshot.lastBatchId
    var healths = List.empty[(String, Long)]
    // TICK: the decision reads serving snapshots only; exactly the
    // planted-needy family's ACT branch runs
    val (family, acted) = FleetHealth.maintenanceTick(spark,
      (serving, 4L), lex, (ivf, s"$base/corpus"),
      (graph, s"$base/corpus"), graphTarget = 8L,
      onHealth = (f, v, h) => { h.count(); healths ::= (f, v) })
    assert(family === "media" && acted,
      s"the planted-needy family must be dispatched, got ($family, $acted)")
    // ONLY media rebuilt: version bumped, pending merged and reset
    assert(serving.snapshot.version === 1L)
    assert(serving.snapshot.nPending === 0L)
    assert(serving.snapshot.lastBatchId === beforeMediaBatch,
      "a fleet rebuild must not move the stream replay guard")
    assert(lex.snapshot === beforeLex, "lex must be untouched")
    assert(ivf.snapshot === beforeIvf, "ivf must be untouched")
    assert(graph.snapshot === beforeGraph, "graph must be untouched")
    // the merged layout serves the admitted assets
    assert(serving.sigs(spark, "img").select(col("doc_id")).distinct()
      .count() === 3L)
    // the NEXT tick reads media's pressure reset from the swapped state
    val after = FleetHealth.pressures(spark, (serving, 4L), lex, ivf,
        graph, graphTarget = 8L).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(after("media") === 0L,
      s"acted family's pressure must reset, got $after")
    val (family2, acted2) = FleetHealth.maintenanceTick(spark,
      (serving, 4L), lex, (ivf, s"$base/corpus"),
      (graph, s"$base/corpus"), graphTarget = 8L)
    assert(family2 !== "media",
      s"the reset family must not be dispatched again, got $family2")
    assert(!acted2 || family2 != "media")
    // a fleet commit is durable and replay-safe: reattach restores the
    // post-rebuild state, and the stream's next batch id applies once
    val re = MediaIndexLoop.reattach(spark, mediaRoot)
    assert(re.snapshot === serving.snapshot,
      "the fleet rebuild must commit through the marker protocol")
    val v2 = MediaIndexLoop.applyBatch(spark, serving,
      Seq((30L, "img", corpusPng)).toDF("doc_id", "modality", "media"),
      1L, 100L, (_, _) => ()).collect()
    assert(v2.length === 1 && v2.head.getLong(5) === 0L,
      "post-rebuild batches keep gating against the merged layout")
    assert(serving.snapshot.lastBatchId === 1L)
  }

  test("fleet dispatch against a LIVE stream: rebuildNow between micro-batches; the stream keeps gating against the merged layout") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sql = spark.sqlContext
    import graft.exts.Multimodal
    val root = tempDir("live-tick-media")
    val corpusPng = Multimodal.encodeNearPng(4700004L)
    val serving = MediaIndexLoop.build(spark,
      Multimodal.canonicalSignatures(Seq((100L, corpusPng))
        .toDF("doc_id", "png").as[Multimodal.PngAsset]).toDF(),
      Multimodal.videoFingerprints(Seq.empty[(Long, Array[Byte])]
        .toDF("doc_id", "gif").as[Multimodal.GifAsset]).toDF(),
      Multimodal.audioWindowFps(Seq.empty[(Long, Array[Byte])]
        .toDF("doc_id", "wav").as[Multimodal.WavAsset]).toDF(),
      root)
    val input = MemoryStream[(Long, String, Array[Byte])]
    val verdicts = scala.collection.mutable.Map.empty[Long, Long]
    // rebuildAfter far above the batch sizes: only the FLEET dispatch
    // may merge pending; commit paths hold the handle's commit lock,
    // so the dispatch serializes with any in-flight batch
    val q = MediaIndexLoop.start(spark, serving,
      input.toDS().toDF("doc_id", "modality", "media"),
      rebuildAfter = 100L,
      sink = (df, _) => verdicts.synchronized {
        df.collect().foreach(r => verdicts(r.getLong(0)) = r.getLong(5))
      })
    try {
      val novelA = Multimodal.encodeNearPng(4800004L)
      val novelB = Multimodal.encodeNearPng(4900004L)
      input.addData((10L, "img", novelA), (20L, "img", novelB))
      q.processAllAvailable()
      assert(serving.snapshot.nPending === 2L)
      assert(serving.snapshot.version === 0L)
      // DISPATCH while the query is live (between batches — the
      // driver-side maintenance tick's position)
      assert(MediaIndexLoop.rebuildNow(spark, serving))
      assert(serving.snapshot.version === 1L)
      assert(serving.snapshot.nPending === 0L)
      assert(serving.snapshot.lastBatchId === 0L,
        "the dispatch must not move the stream's replay guard")
      // the NEXT micro-batch gates against the merged v1 layout: a
      // re-upload of batch-0 asset 10 is a duplicate, a novel admits
      input.addData((30L, "img", novelA),
        (40L, "img", Multimodal.encodeNearPng(5000004L)))
      q.processAllAvailable()
      assert(verdicts.synchronized(verdicts(30L)) === 0L,
        "post-dispatch batches must see the merged signatures")
      assert(verdicts.synchronized(verdicts(40L)) === 1L)
      assert(serving.snapshot.lastBatchId === 1L)
      assert(serving.snapshot.version === 1L)
      assert(serving.snapshot.nPending === 1L)
    } finally q.stop()
    // the interleaved commits left a consistent durable chain
    assert(MediaIndexLoop.reattach(spark, root).snapshot
      === serving.snapshot)
  }

  test("fleet ivf dispatch: the handle's declared codes wiring is resolved — v<new> is rewritten before the version flips; an undeclared handle is refused") {
    import org.apache.spark.sql.functions.col
    val dir = "/root/testdata/sf0.001"
    val base = tempDir("ivf-codes")
    val corpus = s"$base/corpus"
    val codes = s"$base/codes"
    spark.read.parquet(s"$dir/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
      .filter(col("vec_id") < 100L).write.parquet(corpus)
    val cb = graft.exts.PqIndex.codebook(spark, dir)
    // buildIndex DECLARES the wiring on the handle — the fleet tick's
    // default-arg maintainNow resolves it with no per-family plumbing
    val ivf = IndexLoop.buildIndex(spark, corpus, Some(codes), Some(cb))
    assert(LoopCore.isDirectory(s"$codes/v0"))
    // plant a hot cell (count 5× the corpus) so the carried stats hold
    // a SPLIT verdict — the out-of-band ACT trigger
    def plantHot(ix: IndexLoop.ServingIndex): Unit = {
      val st = ix.snapshot
      val hot = st.cellStats.keys.max
      ix.update(st.copy(cellStats = st.cellStats
        .updated(hot, (st.nCorpus * 5L, 0L))))
    }
    plantHot(ivf)
    assert(IndexLoop.maintainNow(spark, ivf, corpus),
      "a planted split verdict must act")
    assert(ivf.snapshot.version === 1L)
    assert(LoopCore.isDirectory(s"$codes/v1"),
      "the declared codes layout must be rewritten at v<new> — a bump " +
        "without it leaves serving readers on a missing path")
    assert(spark.read.parquet(s"$codes/v1")
      .select(col("neighbor_id")).distinct().count() === 100L,
      "the rewritten layout must carry the FULL corpus")
    // a bare loadIndex handle never declared its wiring: acting on it
    // must fail LOUDLY, never bump the version with no layout behind it
    IndexLoop.saveIndex(spark, ivf, s"$base/saved")
    val bare = IndexLoop.loadIndex(spark, s"$base/saved")
    plantHot(bare)
    val err = intercept[IllegalStateException] {
      IndexLoop.maintainNow(spark, bare, corpus)
    }
    assert(err.getMessage.contains("codes wiring"))
    assert(bare.snapshot.version === 1L,
      "a refused maintenance must leave the serving version untouched")
    // declaring the wiring (the loadIndex restart path) unblocks the
    // dispatch and the layout follows the bump again
    IndexLoop.declareCodes(bare, Some(codes), Some(cb))
    assert(IndexLoop.maintainNow(spark, bare, corpus))
    assert(bare.snapshot.version === 2L)
    assert(LoopCore.isDirectory(s"$codes/v2"))
    assert(spark.read.parquet(s"$codes/v2")
      .select(col("neighbor_id")).distinct().count() === 100L)
  }

  test("pointer-jump property: a 64-deep canonical chain resolves (pointer doubling); a cycle fails loudly by name") {
    import spark.implicits._
    // chain: batch asset k (k = 2..64) duplicates batch asset k-1;
    // asset 1 duplicates CORPUS asset 1000001 — every pointer must
    // resolve to the landed corpus canonical. The resolver rebuilds the
    // pointer table from the CURRENT state each jump (pointer
    // doubling), so depth 64 needs ~6 jumps, far inside the 64-jump
    // bound whose only reachable trip is a genuine id cycle.
    val depth = 64
    val chain = (2 to depth).map(k =>
        (k.toLong, "img", 1L, (k - 1).toLong, 0L, 0L)) :+
      ((1L, "img", 1L, 1000001L, 0L, 0L))
    val resolved = MediaIndexLoop.resolveCanonicals(spark,
        chain.toDF("batch_id", "modality", "n_matches", "matched_id",
          "metric", "is_new"))
      .collect().map(r => r.getLong(0) -> r.getLong(3)).toMap
    assert(resolved.size === depth)
    resolved.foreach { case (id, canonical) =>
      assert(canonical === 1000001L,
        s"chain member $id must resolve to the landed corpus " +
          s"canonical, got $canonical")
    }
    // a 2-cycle of gated assets (ids colliding across corpus and
    // batch — the contract violation) must fail by name, never emit a
    // dangling or looping pointer
    val cyc = Seq((10L, "img", 1L, 20L, 0L, 0L),
      (20L, "img", 1L, 10L, 0L, 0L))
    val err = intercept[IllegalStateException] {
      MediaIndexLoop.resolveCanonicals(spark,
        cyc.toDF("batch_id", "modality", "n_matches", "matched_id",
          "metric", "is_new")).collect()
    }
    assert(err.getMessage.contains("did not resolve"))
  }

  // ---- hostile-rename FileSystem gate (r17): the loops' commit
  //      protocol against S3-class rename semantics ----

  private def registerHostileFs(): Unit = {
    spark.sparkContext.hadoopConfiguration
      .set("fs.hostilefs.impl", classOf[GraftHostileFs].getName)
    GraftHostileFs.failDstSubstring = None
    GraftHostileFs.failDstSuffix = None
  }

  test("hostile FS: lex loop end to end when EVERY rename is non-atomic copy+delete") {
    import spark.implicits._
    registerHostileFs()
    val root = s"hostilefs://${tempDir("hostile-lex")}/lex"
    val corpus = graft.Tables.load(spark, "/root/testdata/sf0.001",
        "documents").select(col("doc_id"), col("text")).limit(20)
      .localCheckpoint(true)
    val index = LexIndexLoop.buildIndex(spark, corpus, root)
    val base = corpus.collect().map(r => (r.getLong(0), r.getString(1)))
    val b0 = base.take(10).map { case (id, t) => (id + 600000L, t) }.toSeq
    LexIndexLoop.applyBatch(spark, index, root,
      b0.toDF("doc_id", "text"), 0L, (_, _, _, _) => ())
    assert(index.version === 1L,
      "compaction must fire under copy+delete renames")
    // served results equal a fresh inline index — no step depended on
    // rename atomicity (payloads are marker-gated, markers idempotent)
    val full = corpus.unionByName(b0.toDF("doc_id", "text"))
    val queries = base.take(3)
      .map { case (id, t) => (id + 900000L, t) }.toSeq
      .toDF("doc_id", "text")
    val inline = graft.exts.TextAnalysis.bm25ScoreAgainst(
        graft.exts.TextAnalysis.bm25Postings(full),
        graft.exts.TextAnalysis.bm25Stats(full),
        queries.select(col("doc_id").as("query_id"),
          explode(array_distinct(split(trim(col("text")), "\\s+")))
            .as("term")),
        10, excludeSelf = false)
      .collect().map(_.toString).toSet
    val served = LexIndexLoop.scoreAgainst(spark, index.snapshot, queries)
      .collect().map(_.toString).toSet
    assert(served === inline)
    assert(LexIndexLoop.reattach(spark, root).snapshot === index.snapshot)
  }

  test("hostile FS: a marker rename that dies between copy and delete still commits (complete dst is the winner)") {
    registerHostileFs()
    val root = s"hostilefs://${tempDir("hostile-marker")}"
    val store = new LoopCore.MetaStore[Long](root, "h",
      n => s"""{"n":$n}""", j => LoopCore.jsonLong(j, "n"))
    GraftHostileFs.failMode = "between"
    GraftHostileFs.failDstSubstring = Some("state-h5")
    store.write(5L, 50L)
    assert(GraftHostileFs.failDstSubstring.isEmpty, "injection consumed")
    assert(store.read(5L).contains(50L),
      "a complete destination must commit even when rename 'fails'")
    assert(store.newest.contains(50L))
  }

  test("hostile FS: a marker rename that dies before any byte moves fails LOUDLY, never silently") {
    registerHostileFs()
    val root = s"hostilefs://${tempDir("hostile-marker2")}"
    val store = new LoopCore.MetaStore[Long](root, "h",
      n => s"""{"n":$n}""", j => LoopCore.jsonLong(j, "n"))
    GraftHostileFs.failMode = "before"
    GraftHostileFs.failDstSubstring = Some("state-h7")
    val err = intercept[IllegalStateException] { store.write(7L, 70L) }
    assert(err.getMessage.contains("no winner"))
    assert(store.read(7L).isEmpty,
      "a failed commit must be invisible to readers")
    GraftHostileFs.failMode = "between"
  }

  test("graph rebuild markers are kind-tagged: a replayed batch's recorded survivor count never reads a rebuild's zero") {
    import spark.implicits._
    val base = tempDir("graph-kind")
    val corpusPath = s"$base/corpus"
    val graphPath = s"$base/graph"
    spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
      .filter(col("vec_id") < 100L)
      .write.parquet(corpusPath)
    // target 1 → bits 7 for 100 vectors; the later fleet rebuild at
    // target 8 drifts the width back to 6 (a genuine ACT)
    val graph = GraphIndexLoop.buildGraph(spark, corpusPath, graphPath,
      target = 1L)
    assert(graph.snapshot.bits === 7)
    val vecs = spark.read.parquet(corpusPath).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1)).toMap
    val batch = Seq((6000001L, vecs(1L).map(x => -x)),
      (6000002L, vecs(2L).map(x => -x))).toDF("vec_id", "embedding")
    val (n1, _) = GraphIndexLoop.applyBatch(spark, graph, corpusPath,
      batch, 0L, 0.999, 1L, (_, _) => ())
    assert(n1 === 2L)
    // fleet rebuild: its marker CARRIES batch_id 0 (the replay guard
    // needs it on reattach) with n_new 0 — the shadowing class the
    // kind tag exists for
    assert(GraphIndexLoop.rebuildNow(spark, graph, corpusPath,
      target = 8L))
    assert(graph.snapshot.bits === 6)
    // replay batch 0: the recorded survivor count must deterministically
    // be the BATCH marker's 2, never the rebuild marker's 0
    val (rn, _) = GraphIndexLoop.applyBatch(spark, graph, corpusPath,
      batch, 0L, 0.999, 8L, (_, _) => ())
    assert(rn === 2L,
      "a rebuild marker sharing the batch id must never shadow the " +
        "batch's recorded survivor count")
    // reattach restores the post-rebuild state (newest = the rebuild)
    assert(GraphIndexLoop.reattach(spark, graphPath).snapshot
      === graph.snapshot)
  }

  test("pre-r17 markers without commitSeq still reattach: decode defaults past the old ordinal range") {
    import spark.implicits._
    import graft.exts.Multimodal
    // LEX: build + one batch, then strip commitSeq from every marker
    // (the pre-r17 format) — reattach must decode, and the next commit
    // must sort strictly newest
    val root = tempDir("lex-compat")
    val docs = graft.Tables.load(spark, "/root/testdata/sf0.001",
        "documents").select(col("doc_id"), col("text")).limit(20)
    val index = LexIndexLoop.buildIndex(spark, docs, root)
    LexIndexLoop.applyBatch(spark, index, root,
      Seq((910001L, "alpha beta gamma")).toDF("doc_id", "text"), 0L,
      (_, _, _, _) => ())
    val snap = index.snapshot
    def stripCommitSeq(metaDir: String): Unit = {
      val d = java.nio.file.Paths.get(metaDir)
      java.nio.file.Files.list(d).forEach { p =>
        if (p.getFileName.toString.endsWith(".json")) {
          val s = new String(java.nio.file.Files.readAllBytes(p), "UTF-8")
            .replaceAll(",\"commitSeq\":-?\\d+", "")
          java.nio.file.Files.write(p, s.getBytes("UTF-8"))
          // drop the local-FS checksum sidecar the out-of-band edit
          // invalidates (pre-r17 roots carry matching sums; this
          // simulation edits bytes underneath Hadoop)
          java.nio.file.Files.deleteIfExists(
            p.resolveSibling("." + p.getFileName.toString + ".crc"))
        }
      }
    }
    stripCommitSeq(s"$root/_meta")
    val re = LexIndexLoop.reattach(spark, root)
    assert(re.snapshot.lastBatchId === snap.lastBatchId)
    assert(re.snapshot.nIndexed === snap.nIndexed)
    assert(re.snapshot.commitSeq === snap.lastBatchId + 1,
      "a pre-r17 marker must default commitSeq past the old ordinals")
    LexIndexLoop.applyBatch(spark, re, root,
      Seq((910002L, "delta epsilon zeta")).toDF("doc_id", "text"), 1L,
      (_, _, _, _) => ())
    assert(LexIndexLoop.reattach(spark, root).snapshot === re.snapshot,
      "the post-upgrade commit must be the newest marker")
    // MEDIA: same seam on the media decode
    val mroot = tempDir("media-compat")
    val serving = MediaIndexLoop.build(spark,
      Multimodal.canonicalSignatures(
        Seq((100L, Multimodal.encodeNearPng(5300004L)))
          .toDF("doc_id", "png").as[Multimodal.PngAsset]).toDF(),
      Multimodal.videoFingerprints(Seq.empty[(Long, Array[Byte])]
        .toDF("doc_id", "gif").as[Multimodal.GifAsset]).toDF(),
      Multimodal.audioWindowFps(Seq.empty[(Long, Array[Byte])]
        .toDF("doc_id", "wav").as[Multimodal.WavAsset]).toDF(),
      mroot)
    val msnap = serving.snapshot
    stripCommitSeq(s"$mroot/_meta")
    val mre = MediaIndexLoop.reattach(spark, mroot)
    assert(mre.snapshot.lastBatchId === msnap.lastBatchId)
    assert(mre.snapshot.commitSeq === msnap.lastBatchId + 1)
  }

  test("hostile FS: a marker-rename collision accepts an identical winner and fails LOUDLY on divergent content") {
    registerHostileFs()
    val root = s"hostilefs://${tempDir("hostile-collide")}"
    val store = new LoopCore.MetaStore[Long](root, "h",
      n => s"""{"n":$n}""", j => LoopCore.jsonLong(j, "n"))
    store.write(3L, 30L)
    // same ordinal, same bytes, rename refused: the existing winner
    // commits the write (idempotent markers)
    GraftHostileFs.failMode = "before"
    GraftHostileFs.failDstSubstring = Some("state-h3")
    store.write(3L, 30L)
    assert(GraftHostileFs.failDstSubstring.isEmpty, "injection consumed")
    assert(store.read(3L).contains(30L))
    // DIVERGENT bytes at the same ordinal: the single-writer-per-root
    // protocol was violated — fail loudly, never silently discard the
    // loser's state (the r17 watch item, now a hard gate)
    GraftHostileFs.failMode = "before"
    GraftHostileFs.failDstSubstring = Some("state-h3")
    val err = intercept[IllegalStateException] { store.write(3L, 31L) }
    assert(err.getMessage.contains("DIVERGENT"))
    assert(store.read(3L).contains(30L), "the committed winner survives")
    GraftHostileFs.failMode = "between"
  }

  test("indexLoop: disk-keyed resume guard — a stale handle over a committed corpus root is refused; buildIndex is the explicit fresh-lineage path") {
    import spark.implicits._
    val dir = "/root/testdata/sf0.001"
    val base = tempDir("ivf-guard")
    val corpus = s"$base/corpus"
    spark.read.parquet(s"$dir/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
      .filter(col("vec_id") < 100L).write.parquet(corpus)
    val index = IndexLoop.buildIndex(spark, corpus)
    // the PRE-batch artifact — the stale restore an in-memory-keyed
    // guard cannot see past
    IndexLoop.saveIndex(spark, index, s"$base/saved0")
    def stream() = spark.readStream
      .schema("vec_id LONG, embedding ARRAY<FLOAT>")
      .parquet(tempDir("ivf-guard-in"))
    // fresh lineage: checkpoint-less start allowed
    IndexLoop.start(spark, index, corpus, stream()).stop()
    // commit batch 0 → the on-disk marker chain records lastBatchId 0
    val v1 = spark.read.parquet(corpus).filter(col("vec_id") === 1L)
      .collect().head.getSeq[Float](1)
    IndexLoop.applyBatch(spark, index, corpus,
      Seq((5000001L, v1.map(x => -x).toSeq)).toDF("vec_id", "embedding"),
      0L, 0.999, 4, None, None, None,
      graft.exts.Similarity.TargetCellVectors, (_, _, _) => ())
    assert(index.snapshot.lastBatchId === 0L)
    // a handle restored from the STALE artifact carries lastBatchId -1
    // — an in-memory guard would admit it and a fresh query's batch 0
    // would RE-APPLY over committed history; the disk key refuses it
    val stale = IndexLoop.loadIndex(spark, s"$base/saved0")
    assert(stale.snapshot.lastBatchId === -1L)
    val err = intercept[IllegalStateException] {
      IndexLoop.start(spark, stale, corpus, stream())
    }
    assert(err.getMessage.contains("checkpoint"))
    // the durable restart: the POST-batch artifact + a checkpoint
    IndexLoop.saveIndex(spark, index, s"$base/saved1")
    val restored = IndexLoop.loadIndex(spark, s"$base/saved1")
    assert(restored.snapshot.lastBatchId === 0L)
    assert(restored.snapshot.commitSeq === index.snapshot.commitSeq,
      "the commit ordinal must survive the artifact round-trip")
    IndexLoop.start(spark, restored, corpus, stream(),
      checkpoint = Some(tempDir("ivf-guard-cp"))).stop()
    // the explicit rebuild: buildIndex resets the marker lineage and
    // the fresh handle starts checkpoint-less again (re-ingest stays
    // idempotent through the near-dup gate)
    val rebuilt = IndexLoop.buildIndex(spark, corpus)
    IndexLoop.start(spark, rebuilt, corpus, stream()).stop()
  }

  test("hostile FS: media loop end to end — pending landings + version publish under non-atomic renames; a torn publish never serves") {
    import spark.implicits._
    import graft.exts.Multimodal
    registerHostileFs()
    val root = s"hostilefs://${tempDir("hostile-media")}/media"
    val corpusPng = Multimodal.encodeNearPng(5100004L)
    val serving = MediaIndexLoop.build(spark,
      Multimodal.canonicalSignatures(Seq((100L, corpusPng))
        .toDF("doc_id", "png").as[Multimodal.PngAsset]).toDF(),
      Multimodal.videoFingerprints(Seq.empty[(Long, Array[Byte])]
        .toDF("doc_id", "gif").as[Multimodal.GifAsset]).toDF(),
      Multimodal.audioWindowFps(Seq.empty[(Long, Array[Byte])]
        .toDF("doc_id", "wav").as[Multimodal.WavAsset]).toDF(),
      root)
    // batch 0: a novel admit + a corpus duplicate — gate, landing and
    // marker all through copy+delete renames
    val novelA = Multimodal.encodeNearPng(5200004L)
    val v0 = MediaIndexLoop.applyBatch(spark, serving,
      Seq((10L, "img", novelA), (20L, "img", corpusPng))
        .toDF("doc_id", "modality", "media"), 0L, 100L, (_, _) => ())
      .collect().map(r => r.getLong(0) -> r.getLong(5)).toMap
    assert(v0(10L) === 1L && v0(20L) === 0L)
    assert(serving.snapshot.nPending === 1L)
    assert(MediaIndexLoop.reattach(spark, root).snapshot
      === serving.snapshot)
    // ARM: the v1 version publish (merge of committed + pending) dies
    // before any byte moves — the rebuild must fail loudly, the
    // version must NOT flip, and serving still resolves v0 + pending
    val before = serving.snapshot
    GraftHostileFs.failMode = "before"
    GraftHostileFs.failDstSubstring = Some("/v1/sigs-img")
    intercept[Exception] { MediaIndexLoop.rebuildNow(spark, serving) }
    assert(GraftHostileFs.failDstSubstring.isEmpty, "injection consumed")
    assert(serving.snapshot === before,
      "a torn publish must never swap the serving state")
    assert(serving.sigs(spark, "img").select(col("doc_id")).distinct()
      .count() === 2L,
      "the pre-publish serving view must stay intact")
    assert(MediaIndexLoop.reattach(spark, root).snapshot === before,
      "no marker may commit for the torn attempt")
    // retry with the fault cleared: the torn dir is overwritten, the
    // rebuild commits and the merged layout serves everything admitted
    GraftHostileFs.failMode = "between"
    assert(MediaIndexLoop.rebuildNow(spark, serving))
    assert(serving.snapshot.version === 1L)
    assert(serving.snapshot.nPending === 0L)
    assert(serving.sigs(spark, "img").select(col("doc_id")).distinct()
      .count() === 2L)
    // the next batch gates against the merged hostile-scheme layout:
    // a re-upload of the admitted asset is a duplicate
    val v1 = MediaIndexLoop.applyBatch(spark, serving,
      Seq((30L, "img", novelA)).toDF("doc_id", "modality", "media"),
      1L, 100L, (_, _) => ()).collect()
    assert(v1.length === 1 && v1.head.getLong(5) === 0L)
    assert(MediaIndexLoop.reattach(spark, root).snapshot
      === serving.snapshot)
  }

  test("hostile FS: vector loop end to end — corpus/codes/gate layouts under non-atomic renames; a torn codes rewrite never flips the serving version") {
    import spark.implicits._
    registerHostileFs()
    val dir = "/root/testdata/sf0.001"
    val base = s"hostilefs://${tempDir("hostile-vec")}"
    val corpus = s"$base/corpus"
    val codes = s"$base/codes"
    val gate = s"$base/gate"
    spark.read.parquet(s"$dir/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
      .filter(col("vec_id") < 100L).write.parquet(corpus)
    val cb = graft.exts.PqIndex.codebook(spark, dir)
    val index = IndexLoop.buildIndex(spark, corpus, Some(codes),
      Some(cb), Some(gate), gateTarget = 8L)
    val bits0 = index.snapshot.gateBits
    assert(LoopCore.isDirectory(s"$codes/v0"))
    assert(LoopCore.isDirectory(s"$gate/b$bits0"))
    // batch 0: a novel direction + a scaled near-dup of corpus vec 6 —
    // the bucket-pruned gate admits exactly the novel; its corpus,
    // codes and gate landings all ride copy+delete renames
    val vecs = spark.read.parquet(corpus).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1)).toMap
    val batch = Seq((4000001L, vecs(1L).map(x => -x).toSeq),
      (4000002L, vecs(6L).map(x => x * 2.0f).toSeq))
      .toDF("vec_id", "embedding")
    IndexLoop.applyBatch(spark, index, corpus, batch, 0L, 0.999, 4,
      Some(codes), Some(cb), Some(gate), 8L, (_, _, _) => ())
    assert(index.nCorpus === 101L)
    assert(index.snapshot.lastBatchId === 0L)
    assert(spark.read.parquet(s"$codes/v0")
      .select(col("neighbor_id")).distinct().count() === 101L,
      "the admitted vector's codes must land in the current layout")
    // replay on the hostile scheme is a strict no-op
    val beforeReplay = index.snapshot
    IndexLoop.applyBatch(spark, index, corpus, batch, 0L, 0.999, 4,
      Some(codes), Some(cb), Some(gate), 8L, (_, _, _) => ())
    assert(index.snapshot === beforeReplay)
    // ARM: plant a hot cell, dispatch out-of-band maintenance; the v1
    // codes rewrite dies before any byte moves — maintenance fails
    // loudly, the version must NOT flip (readers keep resolving v0)
    val st = index.snapshot
    val hot = st.cellStats.keys.max
    index.update(st.copy(cellStats = st.cellStats
      .updated(hot, (st.nCorpus * 5L, 0L))))
    GraftHostileFs.failMode = "before"
    GraftHostileFs.failDstSubstring = Some("/v1")
    intercept[Exception] { IndexLoop.maintainNow(spark, index, corpus) }
    assert(GraftHostileFs.failDstSubstring.isEmpty, "injection consumed")
    assert(index.snapshot.version === 0L,
      "a torn codes rewrite must never flip the serving version")
    // retry with the fault cleared: the rewrite completes BEFORE the
    // flip and the v1 layout carries the full corpus — byte-equal to
    // an inline rebuild through the same chain
    GraftHostileFs.failMode = "between"
    assert(IndexLoop.maintainNow(spark, index, corpus))
    assert(index.snapshot.version === 1L)
    assert(spark.read.parquet(s"$codes/v1")
      .select(col("neighbor_id")).distinct().count() === 101L)
    val served = spark.read.parquet(s"$codes/v1").collect()
      .map(_.toString).toSet
    val localTmp = tempDir("hostile-vec-rebuild")
    graft.exts.PqIndex.writeClusteredCodesWith(
      spark.read.parquet(corpus)
        .select(col("vec_id"), col("embedding")),
      index.centroids(spark), cb, s"$localTmp/v")
    val rebuilt = spark.read.parquet(s"$localTmp/v").collect()
      .map(_.toString).toSet
    assert(served === rebuilt,
      "the hostile-scheme layout must equal an inline rebuild")
  }

  test("hostile FS: a half-published artifact payload is never taken for committed; the retry self-heals") {
    registerHostileFs()
    import graft.exts.ArtifactStore
    val root = s"hostilefs://${tempDir("hostile-store")}"
    val prior = spark.conf.getOption(ArtifactStore.RootConf)
    spark.conf.set(ArtifactStore.RootConf, root)
    spark.conf.set(ArtifactStore.PublishWaitConf, "400")
    try {
      ArtifactStore.clear()
      val dir = "/root/testdata/sf0.001"
      val version = graft.Tables.version(dir, "documents")
      // arm on the final entry dir's bare name (suffix match — only the
      // PUBLISH rename's dst ends with it; committer renames inside the
      // staging dir carry it mid-path): the payload DIRECTORY rename
      // copies half its files and fails — the half-published version a
      // reader must never serve
      val finName = graft.exts.ArtifactStore.locate(spark,
        "hostile-probe", dir, version).split('/').last
      GraftHostileFs.failMode = "midway"
      GraftHostileFs.failDstSuffix = Some(s"/$finName")
      val err = intercept[IllegalArgumentException] {
        ArtifactStore.resolve(spark, "hostile-probe", dir, version) { st =>
          spark.range(64).toDF("n").write.mode("overwrite")
            .parquet(s"$st/payload.parquet")
        }
      }
      assert(err.getMessage.contains("artifact publish failed"))
      // the torn directory exists but is NOT ready: no manifest landed
      val fin = graft.exts.ArtifactStore.locate(spark, "hostile-probe",
        dir, version)
      assert(!ArtifactStore.ready(fin, "hostile-probe", dir, "", version),
        "a half-published payload must never read as committed")
      // retry with the injection cleared: the torn dir is swept and the
      // artifact commits (manifest strictly after every payload byte)
      GraftHostileFs.failMode = "between"
      ArtifactStore.clear()
      val fin2 = ArtifactStore.resolve(spark, "hostile-probe", dir,
        version) { st =>
        spark.range(64).toDF("n").write.mode("overwrite")
          .parquet(s"$st/payload.parquet")
      }
      assert(ArtifactStore.ready(fin2, "hostile-probe", dir, "", version))
      assert(spark.read.parquet(s"$fin2/payload.parquet").count() === 64L)
    } finally {
      spark.conf.unset(ArtifactStore.PublishWaitConf)
      prior match {
        case Some(p) => spark.conf.set(ArtifactStore.RootConf, p)
        case None => spark.conf.unset(ArtifactStore.RootConf)
      }
      ArtifactStore.clear()
    }
  }

  test("hostile FS: a failed corpus-file landing aborts the graph batch BEFORE the marker; the replay re-applies identically") {
    import spark.implicits._
    registerHostileFs()
    val base = s"hostilefs://${tempDir("hostile-graph")}"
    val corpusPath = s"$base/corpus"
    val graphPath = s"$base/graph"
    spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
      .filter(col("vec_id") < 100L)
      .write.parquet(corpusPath)
    val graph = GraphIndexLoop.buildGraph(spark, corpusPath, graphPath,
      target = 8L)
    val before = graph.snapshot
    val vecs = spark.read.parquet(corpusPath).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1)).toMap
    val batch = Seq((3000001L, vecs(1L).map(x => -x)),
      (3000002L, vecs(2L).map(x => -x))).toDF("vec_id", "embedding")
    // arm: the batch's corpus-file landing rename fails (r17 ADVICE —
    // an unchecked false return here silently dropped the file while
    // the marker still published)
    GraftHostileFs.failMode = "before"
    GraftHostileFs.failDstSubstring = Some("batch0-")
    val err = intercept[IllegalArgumentException] {
      GraphIndexLoop.applyBatch(spark, graph, corpusPath, batch, 0L,
        0.999, 8L, (_, _) => ())
    }
    assert(err.getMessage.contains("failed to land"))
    assert(graph.snapshot === before,
      "an aborted batch must leave the serving state untouched")
    assert(!LoopCore.exists(s"$graphPath/_meta/state-e1.json"),
      "the marker must never commit after a failed landing")
    // replay with the fault cleared: the torn attempt's outputs are
    // swept and the batch re-applies to the same result as a rebuild
    GraftHostileFs.failMode = "between"
    val (nNew, _) = GraphIndexLoop.applyBatch(spark, graph, corpusPath,
      batch, 0L, 0.999, 8L, (_, _) => ())
    assert(nNew === 2L)
    assert(graph.snapshot.epoch === 1L)
    val served = graph.edges(spark).collect().map(_.toString).toSet
    val rebuilt = graft.exts.Similarity.knnGraphOver(
        spark.read.parquet(corpusPath)
          .select(col("vec_id"), col("embedding")),
        before.bits, graft.exts.Similarity.KnnGraphK)
      .collect().map(_.toString).toSet
    assert(served === rebuilt)
  }
}
