package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.engine.{Compact, Maintenance}
import graft.exts.{Dedup, Packing, Sampling, Similarity, TextAnalysis}
import graft.model.{EngineConfig, SnapshotMeta}
import graft.ops.{Decide, EventOps, TimeJoins}

/** End-to-end walkthrough of the engine on sf0.001: event ingestion →
  * decision → compaction loop closure → pipeline extensions. */
object Demo {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.build()
    val dir = "/root/testdata/sf0.001"
    val cfg = EngineConfig()

    println("== 1. Commit events -> snapshot log -> optimize decision")
    val decisions = Decide.shouldOptimize(EventOps.snapshotLog(spark, dir), cfg)
    val n = decisions.count()
    val nTrig = decisions.filter(col("should_optimize")).count()
    println(s"   $n tables evaluated, $nTrig trigger optimize " +
      s"(>=${cfg.commitThreshold} commits or >${cfg.timeThresholdMs / 3600000}h stale since last replace)")

    println("== 2. Maintenance loop: fragmented table -> compact -> quiesce")
    val in = Files.createTempDirectory("demo-in").toString
    spark.read.parquet(s"$dir/lineitem.parquet").repartition(24)
      .write.mode("overwrite").parquet(in)
    val out = Files.createTempDirectory("demo-out").toString
    val now = Decide.NowMs
    val log = (1 to 12).map(i =>
      SnapshotMeta(1L, i.toLong, now - 5 * 3600000 + i, "append"))
    val c1 = Maintenance.cycle(spark, log,
      Map(1L -> Maintenance.TableDirs(in, out)), cfg, now)
    println(s"   cycle 1: triggered=${c1.triggered} jobs=${c1.jobIds} " +
      s"files ${Compact.listFiles(in).size} -> ${Compact.listFiles(out).size}")
    val c2 = Maintenance.cycle(spark, c1.log,
      Map(1L -> Maintenance.TableDirs(in, out)), cfg, now)
    println(s"   cycle 2: triggered=${c2.triggered} (replace commit quiesced)")

    println("== 3. Pipeline extensions on the documents/embeddings corpus")
    val dups = Dedup.exactDupGroups(Dedup.corpusWithExactDups(spark, dir)).count()
    val near = Dedup.ngramJaccardPairs(Dedup.corpusWithNearDups(spark, dir)).count()
    val embDups = Similarity.nearDupPairs(spark, dir).count()
    val langs = TextAnalysis.langId(spark, dir)
      .groupBy(col("predicted_lang")).count().collect()
      .map(r => s"${r.getString(0)}:${r.getLong(1)}").mkString(" ")
    println(s"   exact dup groups=$dups, jaccard near-dup pairs=$near, " +
      s"embedding near-dups=$embDups")
    println(s"   language id distribution: $langs")
    val topk = Similarity.bruteTopK(spark, dir, maxQueryId = 2).collect()
      .map(r => s"q${r.getLong(0)}->n${r.getLong(1)}#${r.getInt(2)}")
      .mkString(" ")
    println(s"   cosine top-5 for 2 queries: $topk")
    val groups = Dedup.dupComponents(
      Dedup.ngramJaccardPairs(Dedup.corpusWithNearDups(spark, dir)))
    val nGroups = groups.filter(col("is_canonical")).count()
    println(s"   transitive dup groups=$nGroups over ${groups.count()} grouped docs")
    val leaks = Dedup.contaminationPairs(Dedup.corpusWithLeaks(spark, dir)).count()
    println(s"   contamination: $leaks corpus docs overlap the eval split")

    println("== 4. Temporal joins on the event stream")
    val asof = TimeJoins.asofViewToPurchase(EventOps.events(spark, dir))
    println(s"   as-of: ${asof.count()} views matched to their latest " +
      "prior purchase (union+window, zero joins in the plan)")
    val ranged = TimeJoins.viewsBeforePurchase(
      EventOps.events(spark, dir), windowMs = 3600000L)
    val withViews = ranged.filter(col("n_views_before") > 0).count()
    println(s"   range: ${ranged.count()} purchases scored, $withViews had " +
      "views in the prior hour (bucketed equi-join)")

    println("== 5. Dataset curation -> packed training sequences")
    val split = Sampling.trainTestSplit(spark, dir)
      .groupBy(col("split")).agg(sum(col("n_docs")).as("n")).collect()
      .map(r => s"${r.getString(0)}:${r.getLong(1)}").mkString(" ")
    println(s"   stable hash split: $split")
    val packed = Packing.packSequences(
      spark.read.parquet(s"$dir/documents.parquet"))
    val seqs = packed.select(col("lang"), col("seq_id")).distinct().count()
    println(s"   ${packed.count()} docs packed into $seqs sequences " +
      "(<=256 tokens each, greedy per language)")

    println("== 6. Z-order clustering vs single-column sort")
    val zin = Files.createTempDirectory("demo-zin").toString
    spark.read.parquet(s"$dir/lineitem.parquet")
      .write.mode("overwrite").parquet(zin)
    val zout = Files.createTempDirectory("demo-zout").toString
    val zBytes = Compact.listFiles(zin).map(_.sizeBytes).sum
    Compact.zorderRewrite(spark, zin, zout, "l_orderkey", "l_partkey",
      targetBytes = zBytes / 4 + 1)
    val zstats = Compact.listFiles(zout).map(_.path).map { f =>
      val r = spark.read.parquet(f).agg(
        max(col("l_partkey")) - min(col("l_partkey"))).collect()(0)
      r.getLong(0)
    }
    println(s"   ${zstats.size} z-ordered files; per-file l_partkey spans: " +
      zstats.mkString(", "))

    println("== 7. Trained artifacts: BPE merge table + ANN index quality")
    val rules = graft.exts.BpeIndex.rules(spark, dir)
    val ruleStr = rules.orderBy(col("round")).collect()
      .map(r => s"${r.getString(1)}+${r.getString(2)}").mkString(" ")
    println(s"   bpe_train merges (6 rounds): $ruleStr")
    val enc = graft.exts.TextAnalysis.bpeEncode(
      spark.read.parquet(s"$dir/documents.parquet"), rules)
    val saved = enc.agg(sum(col("n_merges"))).collect()(0).getLong(0)
    println(s"   bpe_encode on the corpus: $saved tokens merged away")
    val recall = graft.exts.Similarity.annRecall(spark, dir).agg(
      sum(col("n_hits")), sum(col("k_truth"))).collect()(0)
    println(s"   sim_ivf recall@5 vs brute force: " +
      s"${recall.getLong(0)}/${recall.getLong(1)} hits " +
      "(see ann_recall for the per-query view)")

    println("== 8. Vector-index lifecycle: build -> search -> maintain -> serve")
    val codesPath = Files.createTempDirectory("demo-codes").toString +
      "/codes_by_cell"
    graft.exts.PqIndex.writeClusteredCodes(spark, dir, codesPath)
    val nCells = spark.read.parquet(codesPath)
      .select(col("cell")).distinct().count()
    println(s"   build: PQ codes clustered into $nCells cell=<id>/ dirs " +
      "(~8 bytes of codes per vector at rest)")
    val refined = graft.exts.PqIndex.ivfPqRefine(spark, dir)
    println(s"   search: IVF-probe + ADC shortlist + exact rerank -> " +
      s"${refined.count()} (query, neighbor) results")
    val actions = graft.exts.Similarity.ivfMaintenance(spark, dir)
      .groupBy(col("action")).count().collect()
      .map(r => s"${r.getString(0)}=${r.getLong(1)}").sorted.mkString(", ")
    println(s"   maintain: per-cell occupancy decisions: $actions")
    println("   serve: stream.AnnServing runs the same composed search " +
      "per query micro-batch (StreamSpec proves batch equality)")
    spark.stop()
  }
}
