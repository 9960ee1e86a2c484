package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark.withTempDir
import graft.engine.Compact
import graft.model.{CompactionSpec, FileMeta, SortTerm}

/** End-to-end compaction effect tests (SURVEY.md §5.2(4)): fragment a real
  * table into many small files, compact, assert file count drops and
  * content is preserved. */
class CompactSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private val src = "/root/testdata/sf0.001/lineitem.parquet"

  /** Order-insensitive content hash (decimal sum: ANSI-safe, no overflow).
    * Reads the data files directly so `group=<i>/` partition dirs don't
    * inject an inferred partition column into the hashed schema. */
  private def contentHash(dir: String): String = {
    val files = Compact.listFiles(dir).map(_.path)
    spark.read.parquet(files: _*)
      .select(sum(xxhash64(struct(col("*"))).cast("decimal(38,0)")).as("h"))
      .collect()(0).get(0).toString
  }

  /** Write the fixture table into `dir` as `nFiles` small files. */
  private def fragment(dir: String, nFiles: Int): Unit =
    spark.read.parquet(src).repartition(nFiles).write
      .mode("overwrite").parquet(dir)

  test("binpack reduces file count and preserves content") {
    withTempDir("frag") { in => withTempDir("out") { out =>
      fragment(in, 40)
      val hBefore = contentHash(in)
      val nBefore = Compact.listFiles(in).size
      assert(nBefore >= 40)
      val (_, nAfter) = Compact.binpack(spark, in, out)
      assert(nAfter < nBefore)
      assert(nAfter === 1) // ~200 kB total well under the 512 MB target
      assert(contentHash(out) === hBefore)
    }}
  }

  test("sort rewrite clusters by sort column and preserves content") {
    withTempDir("frag") { in => withTempDir("out") { out =>
      fragment(in, 16)
      val hBefore = contentHash(in)
      Compact.run(spark, CompactionSpec("t", "sort", Map.empty,
        Some("l_orderkey, l_linenumber")), in, out)
      assert(contentHash(out) === hBefore)
      // sortedness within each output file
      import spark.implicits._
      val files = Compact.listFiles(out).map(_.path)
      files.foreach { f =>
        val keys = spark.read.parquet(f)
          .select(col("l_orderkey"), col("l_linenumber"))
          .as[(Long, Int)].collect().toSeq
        assert(keys === keys.sorted, s"unsorted file $f")
      }
    }}
  }

  test("planGroups respects cap, preserves order, isolates oversized files") {
    def f(i: Int, size: Long) = FileMeta("t", f"p$i%03d", size, "")
    val files = Seq(f(1, 4L), f(2, 4L), f(3, 4L), f(4, 15L), f(5, 1L), f(6, 9L))
    val groups = Compact.planGroups(files, capBytes = 10L)
    // greedy: [4,4] (next 4 would exceed), [4], [15] alone, [1,9]
    assert(groups.map(_.map(_.sizeBytes)) ===
      Seq(Seq(4L, 4L), Seq(4L), Seq(15L), Seq(1L, 9L)))
    assert(groups.flatten === files) // order preserved
    groups.filter(_.size > 1).foreach(g =>
      assert(g.map(_.sizeBytes).sum <= 10L))
  }

  test("zorder rewrite bounds per-file spans on BOTH cluster columns") {
    import spark.implicits._
    // uniform 32x32 grid: with z-order each output file covers a compact
    // quadrant; a plain sort on `a` leaves `b` spanning the full domain.
    val grid = for (a <- 0 until 32; b <- 0 until 32)
      yield (a, b, s"payload_${a}_$b" * 8)
    withTempDir("zin") { in =>
      grid.toDF("a", "b", "payload").repartition(8).write
        .mode("overwrite").parquet(in)
      val hBefore = contentHash(in)
      def spans(dir: String): Seq[(Long, Long)] =
        Compact.listFiles(dir).map(_.path).map { f =>
          val r = spark.read.parquet(f)
            .agg(max(col("a")) - min(col("a")), max(col("b")) - min(col("b")))
            .collect()(0)
          (r.getInt(0).toLong, r.getInt(1).toLong)
        }
      withTempDir("zout") { zOut =>
        val totalBytes = Compact.listFiles(in).map(_.sizeBytes).sum
        Compact.zorderRewrite(spark, in, zOut, "a", "b",
          targetBytes = totalBytes / 8 + 1) // force ~8 output files
        assert(contentHash(zOut) === hBefore)
        val zSpans = spans(zOut)
        assert(zSpans.size >= 4)
        // every z-ordered file is tight in BOTH dims (quadrant, not a slice)
        zSpans.foreach { case (sa, sb) =>
          assert(sa < 31 && sb < 31, s"z-file spans ($sa,$sb) not clustered")
        }
        // contrast: plain sort by `a` leaves b spanning the whole domain
        withTempDir("sout") { sOut =>
          Compact.sortRewriteOrdered(spark, in, sOut,
            SortTerm.parseOrder("a"), targetBytes = totalBytes / 8 + 1)
          assert(spans(sOut).forall(_._2 === 31L))
        }
      }
    }
  }

  test("zorder rewrite falls back to plain sort when stats are absent") {
    // all-null cluster column: no min/max stats → lexicographic sort
    // fallback, not an NPE
    withTempDir("znull") { in =>
      spark.range(100)
        .select(lit(null).cast("int").as("a"), col("id").cast("int").as("b"))
        .repartition(4).write.mode("overwrite").parquet(in)
      withTempDir("zout") { out =>
        val (_, after) = Compact.zorderRewrite(spark, in, out, "a", "b")
        assert(after >= 1)
        assert(spark.read.parquet(out).count() === 100L)
        // empty input: zero rows, still no NPE
        withTempDir("zempty") { emptyIn =>
          spark.range(0)
            .select(col("id").cast("int").as("a"),
              col("id").cast("int").as("b"))
            .write.mode("overwrite").parquet(emptyIn)
          withTempDir("zeout") { emptyOut =>
            Compact.zorderRewrite(spark, emptyIn, emptyOut, "a", "b")
            assert(spark.read.parquet(emptyOut).count() === 0L)
          }
        }
      }
    }
  }

  test("partial progress emits one replace commit per group, content intact") {
    withTempDir("frag") { in => withTempDir("out") { out =>
      fragment(in, 12)
      val hBefore = contentHash(in)
      val totalBytes = Compact.listFiles(in).map(_.sizeBytes).sum
      val cap = totalBytes / 3 // force ~4 groups
      val commits = Compact.partialProgress(spark, in, out,
        tableId = 7L, capBytes = cap, nowMs = 1000L)
      assert(commits.size >= 3)
      assert(commits.forall(_.operation === "replace"))
      assert(commits.forall(_.tableId === 7L))
      assert(commits.map(_.snapshotId) === commits.indices.map(_.toLong))
      assert(contentHash(out) === hBefore)
    }}
  }

  test("partial progress survives a mid-run kill: exactly groups < i committed") {
    withTempDir("frag") { in => withTempDir("kill") { out =>
      fragment(in, 12)
      val totalBytes = Compact.listFiles(in).map(_.sizeBytes).sum
      val cap = totalBytes / 3 // ~4 groups
      val nGroups = Compact.planGroups(Compact.listFiles(in), cap).size
      assert(nGroups >= 3)
      val killAt = 2
      val committed = Seq.newBuilder[graft.model.SnapshotMeta]
      val boom = intercept[RuntimeException] {
        Compact.partialProgress(spark, in, out, tableId = 9L, capBytes = cap,
          nowMs = 5000L,
          onCommit = committed += _,
          beforeGroup = i =>
            if (i == killAt) throw new RuntimeException("kill"))
      }
      assert(boom.getMessage === "kill")
      // exactly the groups before the kill are committed...
      val commits = committed.result()
      assert(commits.map(_.snapshotId) === (0 until killAt).map(_.toLong))
      assert(commits.forall(_.operation === "replace"))
      // ...and exactly their output is visible on disk; the killed group and
      // everything after left no partial output behind
      val visible = Compact.listFiles(out).map(_.path)
        .flatMap(p =>
          "group=(\\d+)".r.findFirstMatchIn(p).map(_.group(1).toInt))
        .distinct.sorted
      assert(visible === (0 until killAt))
      // committed groups' data is complete: re-reading them matches the
      // planned groups' source rows exactly
      val plannedGroups = Compact.planGroups(Compact.listFiles(in), cap)
      val expectRows = plannedGroups.take(killAt).flatten.map(_.path)
      val expected = spark.read.parquet(expectRows: _*).count()
      assert(spark.read.parquet(Compact.listFiles(out).map(_.path): _*)
        .count() === expected)
    }}
  }

  test("orphan sweep: dry-run lists, real run deletes exactly the aged orphans") {
    withTempDir("frag") { dir =>
      fragment(dir, 4)
      val rowsBefore = spark.read.parquet(dir).count()
      val junk1 = java.nio.file.Paths.get(dir, "stray-upload.bin")
      val junk2 = java.nio.file.Paths.get(dir, "abandoned.orphan")
      java.nio.file.Files.write(junk1, Array[Byte](1, 2, 3))
      java.nio.file.Files.write(junk2, Array[Byte](4, 5))
      // a file inside a hidden staging dir is never a candidate, even
      // though its own leaf name is unhidden
      val staging = java.nio.file.Paths.get(dir, ".staging")
      java.nio.file.Files.createDirectory(staging)
      val inflight = staging.resolve("part-inflight.parquet")
      java.nio.file.Files.write(inflight, Array[Byte](9))
      val referenced = Compact.listFiles(dir).map(_.path)
        .filterNot(_.contains(".staging")).toSet
      assert(referenced.size === 4)
      // dry-run: both orphans reported, NOTHING deleted (markers excluded)
      val dry = Compact.removeOrphans(dir, referenced, Long.MaxValue)
      assert(dry.map(_._1).toSet ===
        Set(junk1.toString, junk2.toString))
      assert(dry.forall(!_._3))
      assert(java.nio.file.Files.exists(junk1) &&
        java.nio.file.Files.exists(junk2))
      // older_than guard: a cutoff before the files' mtimes deletes nothing
      val guarded = Compact.removeOrphans(dir, referenced, 0L,
        dryRun = false)
      assert(guarded.isEmpty && java.nio.file.Files.exists(junk1))
      // real run: exactly the orphans go; the table survives intact
      val swept = Compact.removeOrphans(dir, referenced, Long.MaxValue,
        dryRun = false)
      assert(swept.map(t => (t._1, t._3)).toSet ===
        Set((junk1.toString, true), (junk2.toString, true)))
      assert(!java.nio.file.Files.exists(junk1) &&
        !java.nio.file.Files.exists(junk2))
      assert(java.nio.file.Files.exists(inflight),
        "hidden-dir contents must survive every sweep")
      assert(Compact.listFiles(dir).map(_.path)
        .filterNot(_.contains(".staging")).toSet === referenced)
      assert(spark.read.parquet(dir).count() === rowsBefore)
      // idempotent: nothing left to sweep
      assert(Compact.removeOrphans(dir, referenced, Long.MaxValue,
        dryRun = false).isEmpty)
    }
  }

  test("CompactionSpec dispatch: sort strategy requires sort order") {
    // refused when the spec is built, before Compact.run can start
    intercept[IllegalArgumentException] {
      Compact.run(spark, CompactionSpec("t", "sort",
        Map.empty, None), "/tmp/none", "/tmp/none2")
    }
  }

  test("sort-order grammar: directions, nulls placement, defaults, rejects") {
    assert(SortTerm.parseOrder("c1") ===
      Seq(SortTerm("c1", ascending = true, nullsFirst = true)))
    assert(SortTerm.parseOrder("c1 DESC, c2 asc nulls last, c3 NULLS LAST") ===
      Seq(
        SortTerm("c1", ascending = false, nullsFirst = false),
        SortTerm("c2", ascending = true, nullsFirst = false),
        SortTerm("c3", ascending = true, nullsFirst = false)))
    // DESC defaults to NULLS LAST; ASC to NULLS FIRST (Iceberg/Spark default)
    assert(SortTerm.parseOrder("a desc nulls first")(0).nullsFirst)
    intercept[IllegalArgumentException] { SortTerm.parseOrder("c1 SIDEWAYS") }
    intercept[IllegalArgumentException] { SortTerm.parseOrder("c1 ASC NULLS") }
    // malformed order string rejected at spec construction
    intercept[IllegalArgumentException] {
      CompactionSpec("t", "sort", Map.empty, Some("c1 DESCENDING"))
    }
  }

  test("sort rewrite honors mixed ASC/DESC and NULLS placement") {
    import spark.implicits._
    val rows = Seq[(Option[Int], Option[Int])](
      (Some(1), Some(10)), (Some(1), Some(20)), (None, Some(5)),
      (Some(2), Some(30)), (Some(2), None), (Some(1), None), (Some(3), Some(1)))
    withTempDir("mixin") { in =>
      rows.toDF("a", "b").repartition(4).write.mode("overwrite").parquet(in)
      withTempDir("mixout") { out =>
        Compact.run(spark,
          CompactionSpec("t", "sort", Map.empty,
            Some("a DESC NULLS LAST, b ASC NULLS LAST")),
          in, out)
        // single output file (tiny input): its row order IS the sort order
        val got = spark.read.parquet(Compact.listFiles(out).map(_.path): _*)
          .collect().map(r =>
            (Option(r.get(0)).map(_.asInstanceOf[Int]),
             Option(r.get(1)).map(_.asInstanceOf[Int]))).toSeq
        val expected = Seq(
          (Some(3), Some(1)),
          (Some(2), Some(30)), (Some(2), None),
          (Some(1), Some(10)), (Some(1), Some(20)), (Some(1), None),
          (None, Some(5)))
        assert(got === expected)
      }
    }
  }
}
