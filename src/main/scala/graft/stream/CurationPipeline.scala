package graft.stream

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.util.sketch.BloomFilter

import graft.exts.{Dedup, Sampling, TextAnalysis}
import graft.functions.BloomFilterExpr.bloom_might_contain

/** Streaming corpus curation: the ingest-time shape of the batch
  * `corpus_curate` pipeline. Documents flow through
  *
  *   quality filter → exact dedup → shard assignment → partitioned sink
  *
  * entirely as a Structured Streaming query: the filter and shard
  * assignment are stateless per-row projections (fused into the source
  * scan), and the only state is the dedup's content-hash set, bounded by
  * the watermark horizon (`dropDuplicatesWithinWatermark` keyed on an
  * 8-byte xxhash64 — state tracks ingest rate × horizon, never corpus
  * size). The sink appends `shard=<k>/` parquet partitions with
  * exactly-once file commits via the checkpoint, so a crashed run resumes
  * without duplicating output — the always-on front door of a training
  * corpus, with the batch operators (near-dup sweeps, mixing, packing)
  * running behind it on the landed data.
  */
object CurationPipeline {

  /** The at-rest corpus this stream lands INTO, as a dedup boundary: the
    * [[graft.exts.BloomIndex]] sketch plus the exact md5 key frame for
    * verification. The stream probes the sketch per row (codegen'd, no
    * state); only the might-contain sliver — true re-ingests plus the
    * ~fpp false positives — pays the stream-static anti-join against
    * `keys`, so the static side is read per micro-batch but joined
    * against a few rows, and a negative probe never touches it. */
  final case class KnownCorpus(bloom: BloomFilter, keys: DataFrame)

  /** Doc/token counters for one funnel stage, attached via `observe` —
    * Spark's zero-cost streaming-metrics channel: the aggregates ride the
    * existing micro-batch (no second query, no extra scan) and surface
    * per batch in `StreamingQueryProgress.observedMetrics`. Stage names
    * mirror the batch [[TextAnalysis.curationFunnel]] stages. */
  private def observed(df: DataFrame, stage: String): DataFrame =
    df.observe(stage,
      count(lit(1)).as("n_docs"),
      sum(size(split(trim(col("text")), "\\s+")).cast("long"))
        .as("n_tokens"))

  /** Run the ingest pipeline (one streaming query end-to-end).
    *
    * @param docs streaming frame with at least (doc_id, text,
    *   ingest_ts_ms); extra columns pass through the filter untouched but
    *   only (doc_id, text, ingest_ts_ms, shard) reach the sink.
    * @param known optional at-rest corpus boundary: documents already
    *   landed are dropped (exactly — sketch-then-verify), so a restarted
    *   or re-pointed ingest never re-lands history. Within-stream dups
    *   are still handled by the watermark-bounded dedup state.
    * @param evalSpans optional decontamination boundary: the eval
    *   corpus's span hashes ([[TextAnalysis.evalSpanHashes]]); every
    *   in-flight document is rewritten WITHOUT the word positions its
    *   eval-matching spans cover ([[TextAnalysis.scrubAgainstSet]] — a
    *   stateless codegen'd set probe, so it rides this single query) —
    *   benchmark leaks never land in the training corpus at all.
    * @param gopherFloor when true, documents must ALSO pass the Gopher
    *   rule stack ([[TextAnalysis.withGopherKeep]], minStopHits = 1) —
    *   the filter-INTERSECTION deployment the batch filter_agreement
    *   matrix informs; a second row-local verdict riding the same
    *   query, no new state or exchange.
    * @param dsirScores optional importance floor: a TRAINED DSIR score
    *   table ([[graft.exts.DsirIndex]] / [[TextAnalysis.dsirHead]],
    *   collected to a map) — in-flight documents must lean toward the
    *   target distribution (`dsir_ppm > 0`, [[TextAnalysis.dsirScored]]).
    *   The model is a literal, the probe row-local: a third verdict
    *   riding the same query with no new state or exchange — the
    *   train-nightly / gate-at-ingest deployment DSIR ships as.
    * @param boilerWindows optional boilerplate boundary: the landed
    *   corpus's detected leading windows
    *   ([[TextAnalysis.boilerWindows]], a permille-bounded literal
    *   set) — in-flight documents OPENING with a known boilerplate
    *   window are rewritten without it BEFORE quality scoring (the
    *   header must not pollute the quality signals), a stateless
    *   row-local probe riding the same query. */
  def run(docs: DataFrame, outDir: String, checkpointDir: String,
      watermarkDelay: String = "10 minutes",
      known: Option[KnownCorpus] = None,
      evalSpans: Option[Array[Long]] = None,
      gopherFloor: Boolean = false,
      dsirScores: Option[Map[String, Long]] = None,
      boilerWindows: Option[Seq[String]] = None): StreamingQuery = {
    val raw = observed(docs, "funnel_1_raw")
    val cleaned = boilerWindows match {
      case Some(ws) if ws.nonEmpty =>
        TextAnalysis.stripBoilerAgainst(raw, ws)
      case _ => raw
    }
    val c4Kept = TextAnalysis
      .qualitySignals(cleaned)
      .filter(col("keep"))
      .select(col("doc_id"), col("text"), col("ingest_ts_ms"))
    val gKept =
      if (!gopherFloor) c4Kept
      else TextAnalysis.withGopherKeep(c4Kept, minStopHits = 1)
        .filter(col("gopher_keep"))
        .select(col("doc_id"), col("text"), col("ingest_ts_ms"))
    val quality = dsirScores match {
      case None => gKept
      case Some(m) =>
        TextAnalysis.dsirScored(m, gKept)
          .filter(col("dsir_keep"))
          .select(col("doc_id"), col("text"), col("ingest_ts_ms"))
    }
    val kept0 = evalSpans match {
      case None => quality
      case Some(set) =>
        TextAnalysis.scrubAgainstSet(quality, set)
          .select(col("doc_id"), col("text"), col("ingest_ts_ms"))
    }
    val kept = known match {
      case None => kept0
      case Some(kc) =>
        val probed = kept0.withColumn("might",
          bloom_might_contain(kc.bloom, xxhash64(col("text"))))
        val fresh = probed.filter(!col("might"))
        val confirmed = probed.filter(col("might"))
          .withColumn("k", md5(col("text")))
          .join(kc.keys, Seq("k"), "left_anti")
          .drop("k")
        fresh.unionByName(confirmed).drop("might")
    }
    val sharded = Sampling.shardPlan(
      observed(
        Dedup.streamingDedup(
          observed(kept, "funnel_2_quality_kept"), watermarkDelay),
        "funnel_3_deduped"))
    LocalCheckpointFileManager.start(sharded, Some(checkpointDir))(_.writeStream
      .format("parquet")
      .option("path", outDir)
      .partitionBy("shard")
      .outputMode("append")
      .trigger(Trigger.AvailableNow()))
  }
}
