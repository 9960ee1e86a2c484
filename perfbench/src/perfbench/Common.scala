package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.SparkSession

/** Command line of the JVM side: `--key value` pairs, set by run.py. */
final class Args(args: Array[String]) {
  private val m: Map[String, String] = args.grouped(2).collect {
    case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
  }.toMap
  def str(k: String): String =
    m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
  def int(k: String): Int = str(k).toInt
  def dbl(k: String): Double = str(k).toDouble
  def list(k: String): Seq[String] = str(k).split(",").toSeq.filter(_.nonEmpty)
  def path(k: String): Path = Paths.get(str(k))
}

/** What one run hands back to run.py, written once as result.json. */
final class Result {
  val fields = scala.collection.mutable.LinkedHashMap.empty[String, Any]
  /** Per check name: (times passed, times failed, first failure). */
  private val checks =
    scala.collection.mutable.LinkedHashMap.empty[String, (Int, Int, String)]
  def check(name: String, ok: Boolean, detail: => String = ""): Boolean = {
    val (pass, fail, first) = checks.getOrElse(name, (0, 0, ""))
    checks(name) =
      if (ok) (pass + 1, fail, first)
      else (pass, fail + 1, if (fail == 0) detail else first)
    ok
  }
  def write(p: Path): Unit = {
    val cs = checks.map { case (n, (pass, fail, first)) =>
      Map("name" -> n, "passed" -> pass, "failed" -> fail, "detail" -> first)
    }
    Files.writeString(p, Json(fields.toMap + ("checks" -> cs)))
  }
}

/** Minimal JSON writer for the result file (numbers, strings, booleans,
  * maps and sequences). */
object Json {
  def apply(v: Any): String = v match {
    case null => "null"
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + apply(x) }
        .mkString("{", ",", "}")
    case s: Iterable[_] => s.map(apply).mkString("[", ",", "]")
    case o => quote(o.toString)
  }
  private def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }
}

object Clock {
  /** Wall clock in fractional epoch milliseconds, nanosecond-resolved, so
    * harness spans and Spark listener timestamps share one axis. */
  private val baseMs = System.currentTimeMillis()
  private val baseNs = System.nanoTime()
  def nowMs: Double = baseMs + (System.nanoTime() - baseNs) / 1e6
}

object Session {
  /** The session `graft.Bench` builds: graft extensions, shuffle
    * partitions = cores, the enlarged codegen cache and the sort-based
    * shuffle writer. Local dirs and the warehouse stay inside `work`. */
  def build(cores: Int, work: Path): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.codegen.cache.maxEntries", "4096")
      .config("spark.shuffle.sort.bypassMergeThreshold", "0")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Heap in use after a full collection, in MB. Spark's ContextCleaner
    * frees the blocks of shuffles and broadcasts only once a collection has
    * found them unreachable, so what one collection leaves depends on when
    * the last young collections ran; a second one, after the cleaner has
    * had time to act, leaves only live data. */
  def heapAfterGcMb(): Double = {
    System.gc()
    Thread.sleep(500)
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }
}
