package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args.take(2)
    // optional trailing names: dump only those queries (local
    // pre-gate iteration); the driver's 2-arg call dumps everything
    val only = args.drop(2).toSet
    val spark = Bench.localSession()
    new java.io.File(outDir).mkdirs()
    val attempted = SparkEntry.queries.keys.toSeq.sorted
      .filter(name => only.isEmpty || only(name))
    attempted.foreach { name =>
      val fn = SparkEntry.queries(name)
      System.err.println(s"[verify] running $name")
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
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
    // always dump the FULL oracle map (even on subset runs): the
    // boundary-audit mode of tools/check_oracle.py is DuckDB-only and
    // reads just this file — a subset parquet dump shouldn't limit it
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // the list of names this run actually ATTEMPTED: check_oracle.py
    // hard-fails any attempted name with no dump dir (a query that
    // threw at planning time writes nothing — without this list it
    // would silently count as 'not dumped'/skip instead of FAIL)
    Files.writeString(Paths.get(s"$outDir/attempted.json"),
      attempted.map(q).mkString("[", ",", "]"))
    spark.stop()
  }
}
