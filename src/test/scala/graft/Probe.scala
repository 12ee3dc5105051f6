package graft

import scala.collection.immutable.ListMap

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The diagnostic main: what the engine plans and what it runs, for
  * named targets. The session is [[Bench.localSession]]
  * (`SPARK_GRAFT_CPUS` cores, default 4). A target is a query name or
  * `pipeline:<raw dir>`, an Alpaca payload directory. The pipeline's
  * pairs are those of the `ledger.json` beside the directory when there
  * is one (perfbench's input layout, `.perfbench/data/alpaca/seed<n>/data`),
  * else `Pipeline.DefaultPairs`.
  *
  * '''plan''' prints the formatted explain of each target (every query
  * when none is named), or with `<outDir> <suffix>` writes it to
  * `<outDir>/<name>_<suffix>.txt`:
  *
  *   sbt "Test/runMain graft.Probe plan <sfDir> [--executed] q144_cusum ..."
  *   sbt "Test/runMain graft.Probe plan <sfDir> <outDir> <suffix> [--executed] q144_cusum ..."
  *
  * With `--executed` each target is collected first, so the explain holds
  * the final adaptive plan as it ran. A pipeline target is
  * `Pipeline.pairZScores(Pipeline.prepare(spark, <raw dir>), <pairs>)`,
  * named `pair_zscores`. The working directory is stripped from paths,
  * so `plans/pipeline/` is re-recorded from the checkout root, with
  * sbt's `-Xmx4g` (a broadcast stage's size statistic follows the heap),
  * by
  *
  *   sbt "Test/runMain graft.Probe plan - plans/pipeline after --executed pipeline:.perfbench/data/alpaca/seed1/data"
  *
  * '''time''' splits each target's wall time into jobs, stages, tasks,
  * summed task time, executor CPU time and shuffle bytes ([[RunFacts]]).
  * That tells a compute-bound target (task time ≈ CPU time ≈ wall ×
  * cores) from an overhead-bound one (wall ≫ task time / cores: job
  * barriers, planning, codegen, scheduling). After two warm-up passes
  * (JIT, footer caches; one per variant of an A/B) come 2 timed passes; a query
  * pass writes the full result to the `noop` sink, so no output column
  * is pruned away, and a pipeline pass is one `Pipeline.run(strict =
  * false)` into a fresh directory, deleted after the pass outside the
  * timing. The last pass also prints the 8 stages with the most run
  * time, and each target ends with one `[metrics]` JSON line: median
  * wall, the last pass's run facts and the plan's [[PlanFacts]] counts,
  * or the error. A pass that throws, warm-up included, prints its stack
  * trace; the probe goes on with the next pass. Query targets read the
  * tables under `SPARK_GRAFT_SF_DIR`, which has no default; with no list
  * every query runs (`bench/metrics_*.json` holds those `[metrics]` lines):
  *
  *   sbt "Test/runMain graft.Probe time q381_epps,q153_hurst"
  *   sbt "Test/runMain graft.Probe time pipeline:.perfbench/data/alpaca/seed1/data,q06_pair_zscore"
  *
  * An optional `key=a|b` argument after the list is an in-JVM A/B over a
  * session conf: 10 timed passes alternate the two values, so both
  * variants share the session's drift. */
object Probe {
  def main(args: Array[String]): Unit = args.headOption match {
    case Some("plan") => plan(args.drop(1).toSeq)
    case Some("time") => time(args.drop(1).toSeq)
    case _ => sys.error("usage: Probe plan <sfDir> [<outDir> <suffix>] [--executed] [target ...]" +
      " | Probe time [<target,...> [key=a|b]]")
  }

  private def isTarget(a: String) = a.startsWith("pipeline:") || SparkEntry.queries.contains(a)

  /** A target's display name and its frame. */
  private def frame(spark: SparkSession, sfDir: String, target: String): (String, DataFrame) =
    if (target.startsWith("pipeline:")) {
      val raw = target.stripPrefix("pipeline:")
      "pair_zscores" -> Pipeline.pairZScores(Pipeline.prepare(spark, raw), pipelinePairs(raw))
    } else target -> SparkEntry.queries.getOrElse(target, sys.error(s"unknown query $target"))(spark, sfDir)

  private def plan(args: Seq[String]): Unit = {
    val sfDir = args.head
    val (out, rest) = args.drop(1) match {
      case Seq(dir, suffix, more @ _*) if dir != "--executed" && !isTarget(dir) => (Some((dir, suffix)), more)
      case more => (None, more)
    }
    val executed = rest.headOption.contains("--executed")
    val named = rest.drop(if (executed) 1 else 0)
    val targets = if (named.isEmpty) SparkEntry.queries.keys.toSeq.sorted else named
    val spark = Bench.localSession()
    spark.sparkContext.setLogLevel("ERROR")
    val cwd = new java.io.File(".").getCanonicalPath + "/"
    targets.foreach { t =>
      try {
        val (name, df) = frame(spark, sfDir, t)
        if (executed) df.collect()
        val txt = PlanFacts.formatted(df).replace(cwd, "")
        out match {
          case Some((dir, suffix)) =>
            val dirPath = java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dir))
            java.nio.file.Files.writeString(dirPath.resolve(s"${name}_$suffix.txt"), txt)
            println(s"[plan] wrote $t")
          case None => println(s"=== $name ===\n$txt")
        }
      } catch { case e: Throwable => println(s"[plan] $t failed: $e") }
    }
    spark.stop()
  }

  private def time(args: Seq[String]): Unit = {
    lazy val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", sys.error("set SPARK_GRAFT_SF_DIR to time queries"))
    val targets = args.headOption.fold(SparkEntry.queries.keys.toSeq.sorted)(_.split(',').toSeq.distinct)
    // "key=a|b": pass i runs with a when i is odd, b when even
    val ab = args.lift(1).map { s => val Array(k, vs) = s.split("=", 2); (k, vs.split("\\|", 2)) }
    val spark = Bench.localSession()
    def threw(name: String, pass: String, e: Throwable): Unit = {
      println(s"[probe] $name pass=$pass THREW ${e.getClass.getName}: ${e.getMessage}")
      e.printStackTrace()
    }
    targets.foreach { t =>
      // one pass: a query written to `noop` (its plan's facts kept), or a
      // pipeline run into a fresh path that is deleted after the pass
      var facts: Option[PlanFacts] = None
      val (name, op, clean): (String, () => Unit, () => Unit) = if (t.startsWith("pipeline:")) {
        val (raw, dir) = (t.stripPrefix("pipeline:"), java.nio.file.Files.createTempDirectory("probe_pipeline").toFile)
        ("pipeline", () => { Pipeline.run(spark, raw, s"$dir/lake", pipelinePairs(raw), strict = false); () },
          () => org.apache.commons.io.FileUtils.deleteQuietly(dir): Unit)
      } else (t, () => {
        val df = frame(spark, sfDir, t)._2
        df.write.format("noop").mode("overwrite").save()
        facts = Some(PlanFacts.of(df))
      }, () => ())
      def variant(i: Int) = ab.fold("-") { case (k, vs) => spark.conf.set(k, vs((i + 1) % 2)); vs((i + 1) % 2) }
      for (i <- 1 to 2) { variant(i); try op() catch { case e: Throwable => threw(name, "warm-up", e) } finally clean() }
      val passes = if (ab.isDefined) 10 else 2
      var last: Option[RunFacts] = None
      var error: Option[String] = None
      val walls = (1 to passes).flatMap { i =>
        val v = variant(i)
        try {
          val (wall, run) = try RunFacts.of(spark) {
            val t0 = System.nanoTime()
            op()
            (System.nanoTime() - t0) / 1e9
          } finally clean()
          println(f"[probe] $name%-28s pass=$i%2d v=$v%-12s wall=$wall%6.2fs " +
            f"jobs=${run.jobs}%3d stages=${run.stages}%3d tasks=${run.tasks}%5d " +
            f"taskSum=${run.taskMs / 1e3}%7.2fs cpuSum=${run.cpuNs / 1e9}%7.2fs " +
            f"shufR=${run.shuffleRead / 1048576.0}%7.1fMB shufW=${run.shuffleWrite / 1048576.0}%7.1fMB")
          if (i == passes) run.stageTable.take(8).foreach { s =>
            println(f"[stage] run=${s.runMs / 1e3}%7.2fs cpu=${s.cpuNs / 1e9}%7.2fs tasks=${s.tasks}%4d  ${s.name}")
          }
          last = Some(run)
          Some(wall)
        } catch { case e: Throwable => threw(name, i.toString, e); error = Some(e.toString); None }
      }
      // one execution record per target (the rows of `bench/metrics_*.json`)
      val sorted = walls.sorted
      val median = sorted.lift(sorted.size / 2).map(hi => (sorted((sorted.size - 1) / 2) + hi) / 2)
      val record = ListMap("query" -> name, "wall_s" -> median.map(w => math.round(w * 1000) / 1000.0)) ++
        last.fold(ListMap.empty[String, Any])(r => ListMap("jobs" -> r.jobs, "stages" -> r.stages,
          "tasks" -> r.tasks, "task_s" -> r.taskMs / 1e3, "cpu_s" -> math.round(r.cpuNs / 1e6) / 1e3,
          "shuffle_read_bytes" -> r.shuffleRead, "shuffle_write_bytes" -> r.shuffleWrite)) ++
        facts.map("plan" -> _.counts) ++ error.map("error" -> _)
      println("[metrics] " + Json.writeValueAsString(record))
    }
    spark.stop()
  }

  private val Json = new ObjectMapper().registerModule(DefaultScalaModule)

  /** The pairs of perfbench's `ledger.json` next to an Alpaca payload
    * directory (`[["S00", "S01"], ...]`), else `Pipeline.DefaultPairs`. */
  private def pipelinePairs(raw: String): Seq[(String, String)] = {
    val ledger = java.nio.file.Paths.get(raw).toAbsolutePath.getParent.resolve("ledger.json")
    if (!java.nio.file.Files.exists(ledger)) Pipeline.DefaultPairs
    else {
      val node = Json.readTree(ledger.toFile).get("pairs")
      (0 until node.size).map(i => (node.get(i).get(0).asText, node.get(i).get(1).asText))
    }
  }
}
