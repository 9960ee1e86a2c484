package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional dev-only third arg: comma-separated name filter
    val only: Option[Set[String]] =
      if (args.length > 2) Some(args(2).split(",").toSet) else None
    def keep(name: String) = only.forall(_.contains(name))
    val spark = GraftSession.build()
    val failed = try run(spark, sfDir, outDir, keep) finally spark.stop()
    if (failed.nonEmpty) {
      System.err.println(
        s"[verify] ${failed.size} key(s) failed: ${failed.mkString(", ")}")
      sys.exit(1)
    }
  }

  /** Dump every kept key's result under `outDir`, then write
    * oracle_sql.json for all kept keys. A key that throws is reported and
    * skipped, so one broken key does not hide the others; the names of
    * the failed keys are returned. */
  def run(spark: SparkSession, sfDir: String, outDir: String,
      keep: String => Boolean): Seq[String] = {
    new java.io.File(outDir).mkdirs()
    val failed = SparkEntry.queries.toSeq.filter { case (name, _) => keep(name) }
      .flatMap { case (name, fn) =>
        try {
          fn(spark, sfDir).coalesce(1).write.mode("overwrite")
            .parquet(s"$outDir/$name")
          None
        } catch { case e: Throwable =>
          System.err.println(s"[verify] $name failed: ${e.getMessage}")
          Some(name)
        }
      }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .filter { case (k, _) => keep(k) }
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    failed
  }
}
