package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.Skew
import graft.sources.PartitionedStore

/** Approximate-sketch accuracy, salted-join equivalence, and partitioned
  * layout pruning. */
class AdvancedSpec extends AnyFunSuite with TestTempDirs {
  private lazy val spark = TestSpark.spark
  private val dir = "/root/testdata/sf0.001"

  test("approx_count_distinct within 5% of exact") {
    val exact = Tables.load(spark, dir, "orders")
      .groupBy(col("o_orderstatus"))
      .agg(countDistinct(col("o_custkey")).as("exact"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val approx = queries.AdvancedQueries.pack
      .queries("agg_approx_sketches")(spark, dir)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    exact.foreach { case (k, e) =>
      val a = approx(k)
      assert(math.abs(a - e).toDouble / e <= 0.05, s"$k: approx $a vs exact $e")
    }
  }

  test("approx median within 5% of exact median") {
    val exact = Tables.load(spark, dir, "orders")
      .groupBy(col("o_orderstatus"))
      .agg(expr("percentile(o_totalprice, 0.5)").as("m"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    val approx = queries.AdvancedQueries.pack
      .queries("agg_approx_sketches")(spark, dir)
      .collect().map(r => r.getString(0) -> r.getDouble(2)).toMap
    exact.foreach { case (k, e) =>
      assert(math.abs(approx(k) - e) / e <= 0.05, s"$k: ${approx(k)} vs $e")
    }
  }

  test("salted join equals plain join") {
    val li = Tables.load(spark, dir, "lineitem")
      .select(col("l_orderkey"), col("l_quantity"))
    val ord = Tables.load(spark, dir, "orders")
      .select(col("o_orderkey").as("l_orderkey"), col("o_orderstatus"))
    val plain = li.join(ord, Seq("l_orderkey"))
      .groupBy("o_orderstatus").agg(count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val salted = Skew.saltedEquiJoin(li, ord, "l_orderkey", saltBuckets = 8)
      .groupBy("o_orderstatus").agg(count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(salted === plain)
  }

  test("count-min sketch never under-counts; exact heavy hitters complete") {
    // The CMS path gates the heavy-hitter candidate set at scale: its
    // estimates are one-sided (>= true count), so filtering on the sketch
    // never drops a true heavy hitter.
    val docs = Tables.load(spark, dir, "documents")
    val tok = docs.select(explode(split(trim(col("text")), "\\s+")).as("term"))
    val exact = tok.groupBy(col("term")).agg(count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val cmsBytes = tok
      .agg(expr("count_min_sketch(term, 0.001d, 0.99d, 42)").as("cms"))
      .collect()(0).getAs[Array[Byte]](0)
    val cms = org.apache.spark.util.sketch.CountMinSketch.readFrom(
      new java.io.ByteArrayInputStream(cmsBytes))
    exact.foreach { case (term, n) =>
      assert(cms.estimateCount(term) >= n, s"CMS under-counted $term")
    }
    // exact heavy hitters: every term above the φ-threshold is present
    val n = docs.count()
    val hh = graft.exts.TextAnalysis.heavyHitters(spark, dir)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val docFreq = docs
      .select(col("doc_id"), explode(array_distinct(
        split(trim(col("text")), "\\s+"))).as("term"))
      .groupBy(col("term")).agg(count(lit(1)).as("df"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val expected = docFreq.filter { case (_, df) => df * 20 > n }
    assert(hh === expected)
    assert(hh.nonEmpty)
  }

  test("funnel stages shrink monotonically; cohort day-0 counts every user") {
    val ev = graft.ops.EventOps.events(spark, dir)
    val stages = graft.ops.EventAnalytics.funnel(ev)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(stages.keySet == Set("1_view", "2_click", "3_purchase"))
    assert(stages("1_view") >= stages("2_click"))
    assert(stages("2_click") >= stages("3_purchase"))
    assert(stages("3_purchase") > 0)
    val cohorts = graft.ops.EventAnalytics.cohorts(ev).collect()
    // every user appears in their own cohort at offset 0, so the
    // offset-0 diagonal sums to the distinct-user count
    val day0 = cohorts.filter(_.getLong(1) == 0L).map(_.getLong(2)).sum
    assert(day0 == ev.select("user_id").distinct().count())
    cohorts.foreach(r => assert(r.getLong(1) >= 0L))
  }

  test("partitioned write lays out key=value dirs and prunes on read") {
    val out = tempDir("graft-part")
    PartitionedStore.writeEventsByDay(spark, dir, out)
    val days = new java.io.File(out).listFiles()
      .filter(_.isDirectory).map(_.getName).filter(_.startsWith("event_date="))
    assert(days.length >= 25) // ~30 days of events
    val all = PartitionedStore.read(spark, out)
    val oneDay = all.filter(col("event_date") === "2024-01-15")
    // partition pruning visible in the physical plan
    val plan = oneDay.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") &&
      plan.contains("event_date"), s"no partition filter in:\n$plan")
    assert(oneDay.count() > 0)
    assert(all.count() ===
      graft.ops.EventOps.events(spark, dir).count())
  }

  test("topk_agg: native bounded top-k equals the window form, with partial agg") {
    val agg = SparkEntry.queries("topk_agg")(spark, dir)
    val win = SparkEntry.queries("window_topk")(spark, dir)
    assert(agg.collect().map(_.toSeq).toSet === win.collect().map(_.toSeq).toSet)
    // the whole point: a partial (map-side) aggregation stage exists, so
    // at most k rows per (group, mapper) enter the exchange — the window
    // form has no partial stage at all
    val plan = agg.queryExecution.executedPlan.toString
    assert(plan.contains("ObjectHashAggregate") || plan.contains("SortAggregate"),
      s"expected an object/sort aggregate for the typed buffer:\n$plan")
    // the aggregate renders as its nodeName ("topkpairs"), so the partial
    // stage is "partial_topkpairs" — no bare-"partial" fallback, which
    // could match unrelated plan text and mask a regression
    assert(plan.contains("partial_topkpairs"),
      s"expected a partial_topkpairs aggregation stage:\n$plan")
  }

  test("top_k_pairs equals a sort reference on random data, BIGINT and DOUBLE ord") {
    // TopKPairs now finishes every exact-search ranking, so its total
    // order (ord DESC, payload ASC; doubles via sortable-bits with
    // -0.0 < 0.0 and NaN greatest — Double.compare order) gets a
    // randomized gate beyond the fixture: seeded trials with heavy
    // duplicate/tie pressure and double specials, compared against a
    // driver-side sort under exactly that comparator.
    import spark.implicits._
    import graft.functions.TopKAgg.top_k_pairs
    import org.apache.spark.sql.functions.{col, struct, collect_list}
    val rnd = new scala.util.Random(20260814L)
    val specials = Array(Double.NaN, 0.0, -0.0,
      Double.PositiveInfinity, Double.NegativeInfinity, -1.5e300)
    for (trial <- 1 to 2) {
      val k = 1 + rnd.nextInt(5)
      val n = 3000
      val rows = (1 to n).map { _ =>
        val g = rnd.nextInt(23).toLong
        val ordL = rnd.nextInt(40).toLong - 20 // heavy ties
        val ordD =
          if (rnd.nextInt(8) == 0) specials(rnd.nextInt(specials.length))
          else (rnd.nextInt(40) - 20) / 4.0
        val payload = rnd.nextInt(500).toLong
        (g, ordL, ordD, payload)
      }
      val df = rows.toDF("g", "ord_l", "ord_d", "p")
      // double ords are compared via doubleToLongBits so a NaN in the
      // top-k compares equal to the reference's NaN
      def norm(o: Any): Any = o match {
        case d: Double => java.lang.Double.doubleToLongBits(d)
        case other => other
      }
      def got(ordCol: String): Map[Long, Seq[(Any, Long)]] =
        df.groupBy(col("g"))
          .agg(top_k_pairs(col(ordCol), col("p"), k).as("tk"))
          .collect().map { r =>
            r.getLong(0) -> r.getSeq[org.apache.spark.sql.Row](1)
              .map(x => (norm(x.get(0)), x.getLong(1))).toSeq
          }.toMap
      // reference: full sort per group under the documented comparator
      def refL = rows.groupBy(_._1).map { case (g, rs) =>
        g -> rs.map(r => (r._2, r._4)).sortWith { (a, b) =>
          a._1 > b._1 || (a._1 == b._1 && a._2 < b._2)
        }.take(k).map { case (o, p) => (o: Any, p) }
      }
      def refD = rows.groupBy(_._1).map { case (g, rs) =>
        g -> rs.map(r => (r._3, r._4)).sortWith { (a, b) =>
          val c = java.lang.Double.compare(a._1, b._1)
          c > 0 || (c == 0 && a._2 < b._2)
        }.take(k).map { case (o, p) => (norm(o), p) }
      }
      assert(got("ord_l") === refL, s"BIGINT ord mismatch (trial $trial, k=$k)")
      assert(got("ord_d") === refD, s"DOUBLE ord mismatch (trial $trial, k=$k)")
    }
  }
}
