package graft

/** Plan-inspection tool: prints the formatted physical plan of the named
  * driver-contract queries (every registered key when none is named) and
  * a summary line of the properties that matter at scale (exchange count,
  * join selection, filter pushdown).
  *
  * Usage: runMain graft.Explain [query ...]
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.build()
    val dir = "/root/testdata/sf0.01"
    val names =
      if (args.nonEmpty) args.toSeq else SparkEntry.queries.keys.toSeq.sorted
    names.foreach { n =>
      println(s"\n======== $n ========")
      val df = SparkEntry.queries(n)(spark, dir)
      val plan = df.queryExecution.executedPlan.toString
      println(df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode))
      val exchanges = "Exchange".r.findAllIn(plan).size
      val bhj = "BroadcastHashJoin".r.findAllIn(plan).size
      val smj = "SortMergeJoin".r.findAllIn(plan).size
      val pushed = plan.contains("PushedFilters: [") &&
        !plan.contains("PushedFilters: []")
      println(s"[summary] exchanges=$exchanges broadcastJoins=$bhj " +
        s"sortMergeJoins=$smj pushedFilters=$pushed")
    }
    spark.stop()
  }
}
