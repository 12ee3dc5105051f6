package graft

/** Plan-audit tool: print the executed plan of selected queries (all
  * when none named). Usage:
  * `sbt "runMain graft.Explain <sfDir> [query ...]"` (`SPARK_GRAFT_CPUS`
  * cores, default 4) — grep the output for Scan/Exchange/Window/
  * ReadSchema/PushedFilters to audit shuffle count, pushdown, and
  * codegen coverage per query. */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val names = if (args.length > 1) args.drop(1).toSeq else SparkEntry.queries.keys.toSeq.sorted
    val spark = Bench.localSession()
    spark.sparkContext.setLogLevel("ERROR")
    names.foreach { n =>
      println(s"=== $n ===")
      try println(SparkEntry.queries(n)(spark, sfDir).queryExecution.executedPlan.toString)
      catch { case e: Throwable => println(s"failed: ${e.getMessage}") }
    }
    spark.stop()
  }
}
