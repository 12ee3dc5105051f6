package graft
/** plans/ dump: explain("formatted") per named query to files.
  *
  *   sbt "Test/runMain graft.ExplainFmt <sfDir> <outDir> <suffix> [--executed] q144_cusum ..."
  *
  * With `--executed` each query is collected first, so the file holds
  * the final adaptive plan as it ran. The session is
  * [[Bench.localSession]] (`SPARK_GRAFT_CPUS` cores, default 4).
  *
  * `pipeline:<raw dir>` in place of a query name dumps
  * `Pipeline.pairZScores(Pipeline.prepare(spark, <raw dir>), <pairs>)`
  * as `pair_zscores_<suffix>.txt`, with the pairs chosen as in
  * [[PerfProbe]]. The working directory is stripped from paths, so
  * `plans/pipeline/` is re-recorded from the checkout root, with sbt's
  * `-Xmx4g` (a broadcast stage's size statistic follows the heap), by
  *
  *   sbt "Test/runMain graft.ExplainFmt - plans/pipeline after --executed pipeline:.perfbench/data/alpaca/seed1/data" */
object ExplainFmt {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0); val outDir = args(1); val suffix = args(2)
    val executed = args.lift(3).contains("--executed")
    val names = args.drop(if (executed) 4 else 3).toSeq
    val spark = Bench.localSession()
    spark.sparkContext.setLogLevel("ERROR")
    new java.io.File(outDir).mkdirs()
    val cwd = new java.io.File(".").getCanonicalPath + "/"
    names.foreach { n =>
      try {
        val (name, df) =
          if (n.startsWith("pipeline:")) {
            val raw = n.stripPrefix("pipeline:")
            "pair_zscores" -> Pipeline.pairZScores(Pipeline.prepare(spark, raw),
              PerfProbe.pipelinePairs(raw))
          } else n -> SparkEntry.queries(n)(spark, sfDir)
        if (executed) df.collect()
        val plan = org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
        val txt = df.queryExecution.explainString(plan).replace(cwd, "")
        java.nio.file.Files.writeString(
          java.nio.file.Paths.get(s"$outDir/${name}_$suffix.txt"), txt)
        println(s"[explain] wrote $n")
      } catch { case e: Throwable => println(s"[explain] $n failed: $e") }
    }
    spark.stop()
  }
}
