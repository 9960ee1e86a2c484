package graft

import org.apache.spark.sql.{Column, DataFrame, SaveMode}
import org.apache.spark.sql.functions._

/** Anti-overfitting harness: regenerate an sf0.01-SHAPED fixture under a
  * different seed, then run the full Verify + DuckDB gate against it —
  * a pass proves no oracle memorizes fixture accidents (planted-dup
  * offsets, poly-hash values, specific word frequencies), because every
  * CONTENT value (texts, numerics, timestamps, embeddings, JSON payloads)
  * is re-drawn while the structural conventions the queries rely on are
  * preserved:
  *
  *  - key spaces and join cardinalities are the source's (same ids);
  *  - categorical columns re-draw from the SOURCE'S distinct domain, so
  *    literal predicates (market segment, status, lang) stay populated;
  *  - numerics/timestamps re-draw uniformly inside the source min/max,
  *    so range predicates keep selecting;
  *  - document texts are re-drawn word-by-word from the source corpus
  *    vocabulary at the SAME per-doc word count (length structure and
  *    ≥ ShingleN conventions survive; content shares nothing);
  *  - events keep (event_id, user_id, event_type) — every table retains
  *    its REPLACE markers (FIXTURES.md §3's convention) — and re-draw
  *    ts/value/props;
  *  - region/nation ship verbatim (name literals are domain, not data).
  *
  * All draws are splitmix-style pure functions of (seed, id, field) via
  * xxhash64 — rerunning with the same seed is bit-identical.
  *
  * Usage: `runMain graft.ReseedFixture <srcDir> <outDir> <seed>`, then
  * `runMain graft.Verify <outDir> <dumpDir>` + `tools/check.py <outDir>
  * <dumpDir>`.
  */
object ReseedFixture {
  def main(args: Array[String]): Unit = {
    val src = if (args.nonEmpty) args(0) else "/root/testdata/sf0.01"
    val out = if (args.length > 1) args(1) else "/tmp/graft_reseed"
    val seed = if (args.length > 2) args(2).toLong else 1337L
    val spark = GraftSession.build()
    spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")

    def h(cols: Column*): Column = xxhash64((lit(seed) +: cols): _*)
    // uniform [0, 1) with 1e6 resolution from a hash
    def frac(c: Column): Column =
      pmod(c, lit(1000000L)).cast("double") / 1e6
    def pick(domain: Seq[String], c: Column): Column = {
      val arr = array(domain.map(lit): _*)
      element_at(arr, (pmod(c, lit(domain.size.toLong)) + 1).cast("int"))
    }
    def load(t: String): DataFrame = Tables.load(spark, src, t)
    def save(df: DataFrame, t: String): Unit =
      df.coalesce(4).write.mode(SaveMode.Overwrite)
        .parquet(s"$out/$t.parquet")
    def distinctVals(t: String, c: String): Seq[String] =
      load(t).select(col(c)).distinct().collect()
        .map(_.getString(0)).sorted.toIndexedSeq
    def rangeOf(t: String, c: String): (Double, Double) = {
      val r = load(t).agg(min(col(c)), max(col(c))).first()
      (r.getDouble(0), r.getDouble(1))
    }
    def uniform(t: String, c: String, keyCol: Column,
        decimals: Int = 2): Column = {
      val (lo, hi) = rangeOf(t, c)
      round(lit(lo) + frac(h(keyCol, lit(c))) * lit(hi - lo), decimals)
    }
    def uniformTs(t: String, c: String, keyCol: Column): Column = {
      // fixtures carry TIMESTAMP_NTZ — go through a TZ cast for the
      // micros arithmetic, cast back to the SOURCE dtype on the way out
      val srcType = load(t).schema(c).dataType
      val r = load(t)
        .agg(min(unix_micros(col(c).cast("timestamp"))),
          max(unix_micros(col(c).cast("timestamp")))).first()
      val (lo, hi) = (r.getLong(0), r.getLong(1))
      timestamp_micros((lit(lo) +
        (frac(h(keyCol, lit(c))) * lit((hi - lo).toDouble))
          .cast("long"))).cast(srcType)
    }

    // region / nation: verbatim — their names are query DOMAIN
    save(load("region"), "region")
    save(load("nation"), "nation")

    save(load("customer").select(col("c_custkey"), col("c_name"),
      col("c_nationkey"),
      uniform("customer", "c_acctbal", col("c_custkey")).as("c_acctbal"),
      pick(distinctVals("customer", "c_mktsegment"),
        h(col("c_custkey"), lit("seg"))).as("c_mktsegment")), "customer")

    save(load("supplier").select(col("s_suppkey"), col("s_name"),
      col("s_nationkey"),
      uniform("supplier", "s_acctbal", col("s_suppkey")).as("s_acctbal")),
      "supplier")

    save(load("part").select(col("p_partkey"), col("p_name"),
      pick(distinctVals("part", "p_brand"), h(col("p_partkey"), lit("b")))
        .as("p_brand"),
      pick(distinctVals("part", "p_type"), h(col("p_partkey"), lit("t")))
        .as("p_type"),
      (pmod(h(col("p_partkey"), lit("sz")), lit(50L)) + 1).cast("int")
        .as("p_size"),
      uniform("part", "p_retailprice", col("p_partkey"))
        .as("p_retailprice")), "part")

    save(load("orders").select(col("o_orderkey"), col("o_custkey"),
      pick(distinctVals("orders", "o_orderstatus"),
        h(col("o_orderkey"), lit("st"))).as("o_orderstatus"),
      uniform("orders", "o_totalprice", col("o_orderkey"))
        .as("o_totalprice"),
      uniformTs("orders", "o_orderdate", col("o_orderkey"))
        .as("o_orderdate"),
      pick(distinctVals("orders", "o_orderpriority"),
        h(col("o_orderkey"), lit("pr"))).as("o_orderpriority")), "orders")

    val liKey = concat_ws("_", col("l_orderkey"), col("l_linenumber"))
    save(load("lineitem").select(col("l_orderkey"), col("l_partkey"),
      col("l_suppkey"), col("l_linenumber"),
      (pmod(h(liKey, lit("q")), lit(50L)) + 1).cast("double")
        .as("l_quantity"),
      uniform("lineitem", "l_extendedprice", liKey).as("l_extendedprice"),
      (pmod(h(liKey, lit("d")), lit(11L)).cast("double") / 100.0)
        .as("l_discount"),
      (pmod(h(liKey, lit("x")), lit(9L)).cast("double") / 100.0)
        .as("l_tax"),
      pick(distinctVals("lineitem", "l_returnflag"), h(liKey, lit("rf")))
        .as("l_returnflag"),
      pick(distinctVals("lineitem", "l_linestatus"), h(liKey, lit("ls")))
        .as("l_linestatus"),
      uniformTs("lineitem", "l_shipdate", liKey).as("l_shipdate")),
      "lineitem")

    // events: keep (event_id, user_id, event_type) so every user keeps
    // its REPLACE markers; re-draw ts/value/props
    save(Tables.events(spark, src).select(col("event_id"),
      uniformTs("events", "ts", col("event_id")).as("ts"),
      col("user_id"), col("event_type"),
      uniform("events", "value", col("event_id")).as("value"),
      concat(lit("{\"k\": "),
        pmod(h(col("event_id"), lit("k")), lit(100L)).cast("string"),
        lit("}")).as("props")), "events")

    // documents: same per-doc word count, every word re-drawn from the
    // source corpus vocabulary
    val vocab = load("documents")
      .select(explode(split(trim(col("text")), "\\s+")).as("w"))
      .filter(length(col("w")) > 0).distinct()
      .collect().map(_.getString(0)).sorted.toIndexedSeq
    val vocabCol = array(vocab.map(lit): _*)
    val langs = distinctVals("documents", "lang")
    val sources = distinctVals("documents", "source")
    save(load("documents").select(col("doc_id"),
        size(split(trim(col("text")), "\\s+")).as("n_words"))
      .select(col("doc_id"),
        array_join(transform(sequence(lit(1), col("n_words")), i =>
          element_at(vocabCol,
            (pmod(h(col("doc_id"), i, lit("w")), lit(vocab.size.toLong))
              + 1).cast("int"))), " ").as("text"))
      .select(col("doc_id"), col("text"),
        pick(langs, h(col("doc_id"), lit("lang"))).as("lang"),
        pick(sources, h(col("doc_id"), lit("src"))).as("source"),
        length(col("text")).cast("long").as("n_chars")), "documents")

    // embeddings: fresh directions in [-1, 1]^64, labels re-drawn
    val dims = load("embeddings")
      .select(size(col("embedding"))).first().getInt(0)
    save(load("embeddings").select(col("vec_id"),
      transform(sequence(lit(1), lit(dims)), d =>
        ((pmod(h(col("vec_id"), d, lit("e")), lit(2001L)) - 1000L)
          .cast("double") / 1000.0).cast("float")).as("embedding"),
      pmod(h(col("vec_id"), lit("lb")), lit(10L)).cast("int").as("label")),
      "embeddings")

    println(s"[reseed] wrote $out (seed=$seed)")
    spark.stop()
  }
}
