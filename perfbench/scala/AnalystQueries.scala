package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.immutable.ListMap
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.Row
import org.apache.spark.sql.types.StructType

import graft.SparkEntry

/** The dashboard read path: a seeded sample of `SparkEntry.queries`
  * run in seeded order over the generated warehouse tables. One
  * operation is one query with its full result collected (all
  * columns), hashed in order and compared with the untimed warm-up
  * result. After the timed loop the sample is dumped in Verify's
  * layout so the DuckDB oracle can check it. */
final class AnalystQueries(run: Run, dir: String, sample: Seq[String], dump: Option[String],
    calibrate: Boolean = false) {
  private val spark = run.spark
  private val fns = SparkEntry.queries

  private def collect(name: String): Array[Row] = fns(name)(spark, dir).collect()

  def run(): Outcome = {
    val reference = scala.collection.mutable.Map[String, String]()
    val warmResults = scala.collection.mutable.Map[String, (Array[Row], StructType)]()
    val warmFailed = ArrayBuffer[String]()
    sample.distinct.foreach { q =>
      try {
        val df = fns(q)(spark, dir)
        val rows = df.collect()
        reference(q) = RowHash(rows)
        if (dump.isDefined) warmResults(q) = (rows, df.schema)
      } catch { case e: Throwable => warmFailed += s"$q: ${String.valueOf(e.getMessage).take(200)}" }
    }
    run.setupDone()
    val times = ArrayBuffer[Double]()
    val tracedTimes = ArrayBuffer[Double]()
    val tracedOps = ArrayBuffer[(Span, Double, Double)]() // (op, build s, exec s)
    val failures = ArrayBuffer[String]()
    var attempted = 0L
    var failed = 0L
    val opTimes = ArrayBuffer[(String, Double)]()
    // calibration: exactly one untraced pass over the sample
    if (calibrate) sample.foreach { q =>
      val t0 = System.nanoTime()
      val ok = try reference.get(q).contains(RowHash(collect(q))) catch { case _: Throwable => false }
      opTimes += (q -> (System.nanoTime() - t0) / 1e9)
      if (!ok) failures += s"$q: calibration run failed or differs"
    }
    else run.loop(minOps = 2 * sample.size) { i =>
      val q = sample(i % sample.size)
      attempted += 1
      val ok = try {
        run.traced(i + i / sample.size) match {
          case Some(t) =>
            run.withTracer(Some(t)) {
              var b, e = 0.0
              val (rows, s) = t.op(s"query:$q") {
                val t0 = System.nanoTime()
                val df = t.span("queries.build")(fns(q)(spark, dir))
                val t1 = System.nanoTime()
                val r = t.span("queries.exec")(df.collect())
                b = (t1 - t0) / 1e9
                e = (System.nanoTime() - t1) / 1e9
                r
              }
              tracedTimes += s.seconds
              tracedOps += ((s, b, e))
              reference.get(q).contains(RowHash(rows))
            }
          case None =>
            val t0 = System.nanoTime()
            val rows = collect(q)
            times += (System.nanoTime() - t0) / 1e9
            reference.get(q).contains(RowHash(rows))
        }
      } catch { case e: Throwable => failures += s"$q: ${String.valueOf(e.getMessage).take(200)}"; false }
      if (!ok) {
        failed += 1
        if (!failures.lastOption.exists(_.startsWith(q))) failures += s"$q: result differs from warm-up"
      }
      1
    }
    val wall = times.sum
    dump.foreach(writeDump(_, warmResults.toMap))
    val families = Seq("core" -> graft.queries.CoreQueries.queries.keySet,
      "market" -> graft.queries.MarketQueries.queries.keySet, "llm" -> graft.queries.LlmQueries.queries.keySet)
    val notes = ListMap[String, Any]("sample" -> sample, "warmup_failed" -> warmFailed,
      "failures" -> failures.distinct) ++ (if (!calibrate) Nil else Seq(
      "op_times" -> opTimes.map { case (q, t) => ListMap("query" -> q, "s" -> t,
        "family" -> families.find(_._2(q)).map(_._1).getOrElse("other")) }))
    val metrics =
      if (calibrate) ListMap.empty[String, Double]
      else if (!run.trace) run.endToEnd(scale = true)(run.setupS, Stat.median(times.toSeq), times.size / wall,
        "op_p90_s" -> Stat.quantile(times.toSeq, 0.9),
        "op_samples" -> times.size.toDouble,
        "peak_heap_mb" -> HeapWatch.peakMb)
      else {
        val t = run.tracer.get
        val ops = tracedOps.map(_._1).toSeq
        val n = ops.size.toDouble
        def total(f: OpStats => Long) = ops.map(o => t.ofOp(o.id).map(f).sum).sum.toDouble
        val plans = ops.flatMap(o => t.ofOp(o.id).flatMap(_.plans.asScala))
        ListMap(
          "queries.build_ms" -> Stat.mean(tracedOps.map(_._2 * 1e3).toSeq),
          "queries.plan_ms" -> plans.map(PlanShape.planMs).sum / n,
          "queries.jobs" -> total(_.jobs.get) / n,
          "queries.stages" -> total(_.stages.get) / n,
          "queries.tasks" -> total(_.tasks.get) / n,
          "queries.unpartitioned_windows" -> plans.map(PlanShape.of(_).unpartitionedWindows).sum / n,
          "queries.exec_s" -> Stat.mean(tracedOps.map(_._3).toSeq),
          "queries.task_s" -> total(_.taskMs.get) / 1e3 / n,
          "queries.cpu_s" -> total(_.cpuNs.get) / 1e9 / n,
          "queries.shuffle_mb" -> total(_.shuffleWrite.get) / 1048576.0 / n) ++
          SparkLayer(t, ops, n, run.cores) ++
          ListMap("trace.overhead_ratio" -> Stat.overhead(tracedTimes.toSeq, times.toSeq))
      }
    Outcome(attempted.max(1), failed + warmFailed.size, metrics, notes)
  }

  /** Verify's layout, written from the warm-up results (which every
    * timed result is hash-compared to): one parquet dir per query, the
    * oracle SQL of the dumped names, and the attempted list. */
  private def writeDump(out: String, results: Map[String, (Array[Row], StructType)]): Unit = {
    val names = sample.distinct.sorted
    results.foreach { case (q, (rows, schema)) =>
      spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
        .coalesce(1).write.mode("overwrite").parquet(s"$out/$q")
    }
    val oracle = SparkEntry.oracleSql.filter { case (k, _) => names.contains(k) }
    Files.writeString(Paths.get(s"$out/oracle_sql.json"),
      oracle.map { case (k, v) => s"${Json.quote(k)}: ${Json.quote(v)}" }.mkString("{", ",", "}"))
    Files.writeString(Paths.get(s"$out/attempted.json"), names.map(Json.quote).mkString("[", ",", "]"))
  }
}
