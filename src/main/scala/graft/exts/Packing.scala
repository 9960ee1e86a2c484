package graft.exts

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Sequence packing for training-data assembly (north star extension):
  * greedily pack documents, in stable id order, into training sequences of
  * at most `tokenBudget` tokens — the step that turns a curated corpus
  * into fixed-length batches without splitting documents.
  *
  * Same algorithmic shape as compaction file-group planning
  * ([[graft.ops.FilePlan.filegroupPlanning]], its metadata twin): greedy
  * accumulation is inherently sequential *within* a partition (every
  * boundary depends on all earlier docs), so the distributed form is one
  * hash shuffle on the partition key (`lang` here — the unit a curriculum
  * schedules by), a sort within partitions, and one streaming
  * `mapPartitions` pass of the same greedy scan,
  * [[graft.ops.FilePlan.greedyGroups]] — parallel across languages,
  * constant memory within one. An oversized document (> budget) sits
  * alone in its own sequence rather than being dropped.
  */
object Packing {

  /** Typed row shapes (top-level so encoders resolve). */
  final case class DocTok(lang: String, doc_id: Long, n_tokens: Int)
  final case class PackedDoc(
      lang: String, doc_id: Long, n_tokens: Int, seq_id: Long)

  /** Assign each document to a packed sequence. Input needs
    * (lang, doc_id, text); token count is the whitespace tokenization used
    * across the text operators. */
  def packSequences(docs: DataFrame, tokenBudget: Int = 256): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(
        col("lang").cast("string").as("lang"),
        col("doc_id").cast("long").as("doc_id"),
        size(split(trim(col("text")), "\\s+")).as("n_tokens"))
      .as[DocTok]
      .repartition(col("lang"))
      .sortWithinPartitions("lang", "doc_id")
      .mapPartitions(graft.ops.FilePlan.greedyGroups(_, tokenBudget.toLong)(
          _.lang, _.n_tokens.toLong)
        .map { case (d, sid) => PackedDoc(d.lang, d.doc_id, d.n_tokens, sid) })
      .toDF()
  }

  /** Packing-quality report per language — the metric that says whether
    * the greedy packer is wasting training compute: sequences used vs the
    * theoretical lower bound ⌈total_tokens / budget⌉, and the mean fill
    * per mille of each sequence's budget. A falling fill ratio means the
    * corpus's length distribution drifted (e.g. many just-over-half-budget
    * docs) and the budget or the ordering needs revisiting. One aggregate
    * over the [[packSequences]] output — metadata-sized per language.
    * (fill can exceed 1000‰: an oversized document sits alone in a
    * sequence that "overfills" its budget by design.) */
  def packEfficiency(docs: DataFrame, tokenBudget: Int = 256): DataFrame =
    packSequences(docs, tokenBudget)
      .groupBy(col("lang"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_tokens").cast("long")).as("total_tokens"),
        count_distinct(col("seq_id")).as("n_seqs"))
      .select(col("lang"), col("n_docs"), col("total_tokens"), col("n_seqs"),
        expr(s"(total_tokens + ${tokenBudget - 1}) div $tokenBudget")
          .as("lb_seqs"),
        expr(s"total_tokens * 1000 div (n_seqs * $tokenBudget)")
          .as("fill_x1000"),
        expr(s"((total_tokens + ${tokenBudget - 1}) div $tokenBudget) " +
          "* 1000 div n_seqs").as("efficiency_x1000"))
}
