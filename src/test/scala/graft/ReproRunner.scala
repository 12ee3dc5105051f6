package graft

/** Diagnostic twin of [[Bench]]: runs the named queries with the same
  * warm-up + 3 timed passes, but PRINTS the stack trace of any pass
  * that throws instead of swallowing it into a `failures` entry.
  * Test-scope only — never part of the shipped library.
  *
  *   sbt "Test/runMain graft.ReproRunner q311_kruskal_wallis,..."
  */
object ReproRunner {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val only = args.headOption.map(_.split(',').toSet)
      .getOrElse(sys.error("pass a comma-separated query list"))
    val spark = Bench.localSession()
    val picked = SparkEntry.queries.filter { case (n, _) => only(n) }
    (0 to 3).foreach { pass =>
      picked.foreach { case (name, fn) =>
        val t0 = System.nanoTime()
        try {
          val c = fn(spark, sfDir).count()
          println(f"[repro] pass $pass $name OK rows=$c ${(System.nanoTime() - t0) / 1e9}%.2fs")
        } catch {
          case e: Throwable =>
            println(s"[repro] pass $pass $name THREW ${e.getClass.getName}: ${e.getMessage}")
            e.printStackTrace()
        }
      }
    }
    spark.stop()
  }
}
