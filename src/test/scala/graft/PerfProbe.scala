package graft

import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}

/** Per-query execution breakdown: wall time vs jobs / stages / tasks /
  * summed task time / executor CPU time / shuffle bytes. Tells whether
  * a bench-scale query is compute-bound (taskTime ≈ cpuTime ≈ wall ×
  * cores) or overhead-bound (wall ≫ taskTime / cores: job barriers,
  * planning, codegen, scheduling). Every pass writes the full result
  * to the `noop` sink, so no output column is pruned away (a `count()`
  * would let the optimizer drop windows whose values it never reads).
  * A pass that throws, warm-up included, prints its stack trace and
  * the probe goes on with the next pass. Test-scope diagnostic only.
  *
  *   sbt "Test/runMain graft.PerfProbe q381_epps,q153_hurst"
  *
  * `pipeline:<raw dir>` in the list times one `Pipeline.run(strict =
  * false)` per pass over an Alpaca payload directory, each pass into a
  * fresh temporary directory (deleted after the pass, outside the
  * timing), with the same columns. The pairs are those of the
  * `ledger.json` next to the directory when there is one (perfbench's
  * input layout, `.perfbench/data/alpaca/seed<n>/data`), else
  * `Pipeline.DefaultPairs`:
  *
  *   sbt "Test/runMain graft.PerfProbe pipeline:.perfbench/data/alpaca/seed1/data"
  */
object PerfProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val only = args.headOption.map(_.split(',').toSeq.distinct)
      .getOrElse(sys.error("pass a comma-separated query list"))
    val spark = Bench.localSession()
    val jobs = new AtomicInteger
    val stages = new AtomicInteger
    val tasks = new AtomicInteger
    val taskMs = new AtomicLong
    val cpuNs = new AtomicLong
    val shufR = new AtomicLong
    val shufW = new AtomicLong
    val stageAgg =
      new java.util.concurrent.ConcurrentHashMap[String, (Long, Long, Int)]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
        stages.incrementAndGet()
        val info = s.stageInfo
        val key = info.name.take(120)
        val cpu = info.taskMetrics.executorCpuTime
        val run = info.taskMetrics.executorRunTime
        stageAgg.merge(key, (run, cpu, info.numTasks), {
          case ((r1, c1, n1), (r2, c2, n2)) => (r1 + r2, c1 + c2, n1 + n2)
        })
      }
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
        tasks.incrementAndGet()
        taskMs.addAndGet(t.taskInfo.duration)
        if (t.taskMetrics != null) {
          cpuNs.addAndGet(t.taskMetrics.executorCpuTime)
          shufR.addAndGet(t.taskMetrics.shuffleReadMetrics.totalBytesRead)
          shufW.addAndGet(t.taskMetrics.shuffleWriteMetrics.bytesWritten)
        }
      }
    })
    // optional 2nd arg: in-JVM interleaved A/B over a session-conf
    // key, "key=valA|valB" — each pass alternates the two values so
    // both variants share the session's drift (the PERF.md protocol)
    val ab: Option[(String, String, String)] = args.drop(1).headOption.map { s =>
      val Array(k, vs) = s.split("=", 2)
      val Array(a, b) = vs.split("\\|", 2)
      (k, a, b)
    }
    def run(df: org.apache.spark.sql.DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()
    def threw(name: String, pass: String, e: Throwable): Unit = {
      println(s"[probe] $name pass=$pass THREW ${e.getClass.getName}: ${e.getMessage}")
      e.printStackTrace()
    }
    // one pass of each probed target: a query written to `noop`, or a
    // pipeline run into a fresh path that is deleted after the pass
    val picked: Seq[(String, () => Unit, () => Unit)] = only.map {
      case p if p.startsWith("pipeline:") =>
        val raw = p.stripPrefix("pipeline:")
        val pairs = pipelinePairs(raw)
        val dir = java.nio.file.Files.createTempDirectory("probe_pipeline").toFile
        ("pipeline", () => { Pipeline.run(spark, raw, s"$dir/lake", pairs, strict = false); () },
          () => org.apache.commons.io.FileUtils.deleteQuietly(dir): Unit)
      case n =>
        val fn = SparkEntry.queries.getOrElse(n, sys.error(s"unknown query $n"))
        (n, () => run(fn(spark, sfDir)), () => ())
    }
    picked.foreach { case (name, op, clean) =>
      def once(): Unit = try op() finally clean()
      // warm-up (JIT + footer caches), as Bench does — once per variant
      ab.foreach { case (k, a, _) => spark.conf.set(k, a) }
      try once() catch { case e: Throwable => threw(name, "warm-up", e) }
      ab.foreach { case (k, _, b) => spark.conf.set(k, b) }
      try once() catch { case e: Throwable => threw(name, "warm-up", e) }
      val passes = if (ab.isDefined) 10 else 2
      (1 to passes).foreach { pass =>
        val variant = ab.map { case (k, a, b) =>
          val v = if (pass % 2 == 1) a else b
          spark.conf.set(k, v); v
        }.getOrElse("-")
        Thread.sleep(200) // drain listener bus
        jobs.set(0); stages.set(0); tasks.set(0)
        taskMs.set(0); cpuNs.set(0); shufR.set(0); shufW.set(0)
        stageAgg.clear()
        val t0 = System.nanoTime()
        try {
          op()
          val wall = (System.nanoTime() - t0) / 1e9
          Thread.sleep(200) // let straggler events land
          println(f"[probe] $name%-28s pass=$pass%2d v=$variant%-12s wall=$wall%6.2fs " +
            f"jobs=${jobs.get}%3d stages=${stages.get}%3d tasks=${tasks.get}%5d " +
            f"taskSum=${taskMs.get / 1e3}%7.2fs cpuSum=${cpuNs.get / 1e9}%7.2fs " +
            f"shufR=${shufR.get / 1048576.0}%7.1fMB shufW=${shufW.get / 1048576.0}%7.1fMB")
          if (sys.env.contains("PROBE_STAGES") && pass == passes) {
            import scala.jdk.CollectionConverters._
            stageAgg.asScala.toSeq.sortBy(-_._2._1).take(8).foreach {
              case (k, (run, cpu, n)) =>
                println(f"[stage] run=${run / 1e3}%7.2fs cpu=${cpu / 1e9}%7.2fs " +
                  f"tasks=$n%4d  $k")
            }
          }
        } catch { case e: Throwable => threw(name, pass.toString, e) }
        finally clean()
      }
    }
    spark.stop()
  }

  /** The pairs of perfbench's `ledger.json` next to an Alpaca payload
    * directory (`[["S00", "S01"], ...]`), else `Pipeline.DefaultPairs`. */
  private[graft] def pipelinePairs(raw: String): Seq[(String, String)] = {
    val ledger = java.nio.file.Paths.get(raw).toAbsolutePath.getParent.resolve("ledger.json")
    if (!java.nio.file.Files.exists(ledger)) Pipeline.DefaultPairs
    else {
      val node = new com.fasterxml.jackson.databind.ObjectMapper().readTree(ledger.toFile).get("pairs")
      (0 until node.size).map(i => (node.get(i).get(0).asText, node.get(i).get(1).asText))
    }
  }
}
