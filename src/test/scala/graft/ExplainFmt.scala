package graft
/** plans/ dump: explain("formatted") per named query to files.
  *
  *   sbt "Test/runMain graft.ExplainFmt <sfDir> <outDir> <suffix> [--executed] q144_cusum ..."
  *
  * With `--executed` each query is collected first, so the file holds
  * the final adaptive plan as it ran. The session is
  * [[Bench.localSession]] (`SPARK_GRAFT_CPUS` cores, default 4). */
object ExplainFmt {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0); val outDir = args(1); val suffix = args(2)
    val executed = args.lift(3).contains("--executed")
    val names = args.drop(if (executed) 4 else 3).toSeq
    val spark = Bench.localSession()
    spark.sparkContext.setLogLevel("ERROR")
    new java.io.File(outDir).mkdirs()
    names.foreach { n =>
      try {
        val df = SparkEntry.queries(n)(spark, sfDir)
        if (executed) df.collect()
        val plan = org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
        val txt = df.queryExecution.explainString(plan)
        java.nio.file.Files.writeString(
          java.nio.file.Paths.get(s"$outDir/${n}_$suffix.txt"), txt)
        println(s"[explain] wrote $n")
      } catch { case e: Throwable => println(s"[explain] $n failed: $e") }
    }
    spark.stop()
  }
}
