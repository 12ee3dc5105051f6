package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.immutable.ListMap
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/** What one run hands back: operation counts, the metrics of its mode,
  * and notes (sampled queries, per-check verdicts) for the run record. */
final case class Outcome(
    attempted: Long,
    failed: Long,
    metrics: ListMap[String, Double],
    notes: ListMap[String, Any] = ListMap.empty)

/** The benchmark's engine process. Arguments are `key=value` pairs
  * written by perfbench/run.py:
  *
  *   workload=daily_pipeline|analyst_queries|tick_stream
  *   seconds=<measured seconds>  trace=0|1  cores=<n>
  *   data=<generated input dir>  expect=<expected-values file>
  *   tmp=<scratch dir>  out=<result json>  spans=<span json>
  *   queries=<comma-separated sample>  dump=<oracle dump dir or empty>
  *
  * It creates one `local[cores]` session, runs the untimed warm-up
  * operation, then runs operations in a closed loop from this one
  * thread for `seconds`. With trace=1 it alternates traced and untraced
  * operations and reports per-layer metrics plus the tracing overhead;
  * with trace=0 it reports the end-to-end metrics. */
object Main {

  def main(args: Array[String]): Unit = {
    val conf = args.map { a =>
      val i = a.indexOf('=')
      a.take(i) -> a.drop(i + 1)
    }.toMap
    val cores = conf("cores").toInt
    val tmp = conf("tmp")
    HeapWatch.install()
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$tmp/spark-local")
      .config("spark.sql.warehouse.dir", s"$tmp/warehouse")
      .config("spark.sql.streaming.checkpointLocation", s"$tmp/checkpoints")
      .config("spark.sql.streaming.numRecentProgressUpdates", "1000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val run = Run(spark, conf("seconds").toDouble, conf("trace") == "1", cores)
    val expect = Expect.load(conf("expect"))
    val outcome =
      try conf("workload") match {
        case "daily_pipeline" => new DailyPipeline(run, conf("data"), tmp, expect).run()
        case "analyst_queries" =>
          val names = conf("queries") match {
            case "ALL" => graft.SparkEntry.queries.keys.toSeq.sorted
            case q => q.split(',').toSeq
          }
          new AnalystQueries(run, conf("data"), names, conf.get("dump").filter(_.nonEmpty),
            calibrate = conf.get("calibrate").contains("1")).run()
        case "tick_stream" => new TickStream(run, conf("data"), tmp, expect).run()
        case w => sys.error(s"unknown workload $w")
      } finally {
        spark.streams.active.foreach(_.stop())
      }
    val host = ListMap(
      "local" -> s"local[$cores]",
      "jvm_max_heap_mb" -> Runtime.getRuntime.maxMemory / 1048576,
      "spark_version" -> spark.version,
      "jdk_version" -> System.getProperty("java.version"))
    Files.writeString(Paths.get(conf("out")), Json.obj(
      "attempted" -> outcome.attempted, "failed" -> outcome.failed,
      "setup_s" -> run.setupS, "metrics" -> outcome.metrics,
      "notes" -> outcome.notes, "host" -> host))
    run.tracer.foreach(t => Files.writeString(Paths.get(conf("spans")), t.spansJson))
    spark.stop()
  }
}

/** Host-speed reference: one fixed Spark job that no project code takes
  * part in, timed around the operations. On a shared 4-vCPU host, speed
  * drifted by up to 2x within minutes. The host factor = median
  * reference time / `BaseSeconds` (the reference time on such a host
  * when it ran fast) is recorded on
  * every workload, and divides the figures of analyst_queries, whose
  * operations are short Spark jobs like the reference: there it cut the
  * ten-run spread from 0.16-0.21 to 0.07. The multi-second pipeline and
  * the file- and state-bound stream do not track it (scaling left the
  * pipeline's spread at 0.13 and doubled the stream's), so their
  * figures stay raw. A change to the project
  * moves the operations and not the reference; a slower host moves both. */
object Reference {
  val BaseSeconds = 0.13

  def seconds(spark: SparkSession): Double = {
    val t0 = System.nanoTime()
    spark.range(0L, 4000000L, 1L, 4).selectExpr("sum(hash(id, id % 97))").collect()
    (System.nanoTime() - t0) / 1e9
  }
}

/** Shared run state: the session, the clock and the optional tracer. */
final case class Run(spark: SparkSession, seconds: Double, trace: Boolean, cores: Int) {
  val tracer: Option[Tracer] = if (trace) Some(new Tracer(spark)) else None
  var setupS: Double = Double.NaN
  private val referenceTimes = scala.collection.mutable.ArrayBuffer[Double]()

  /** Median reference time over its calibrated value (1 = the quiet host). */
  def hostFactor: Double = Stat.median(referenceTimes.toSeq) / Reference.BaseSeconds

  /** End-to-end figures, with the raw ones and the host factor alongside;
    * `scale` puts them at the reference host's speed. */
  def endToEnd(scale: Boolean)(setup: Double, opP50: Double, itemsPerS: Double,
      raw: (String, Double)*): ListMap[String, Double] = {
    val f = if (scale) hostFactor else 1.0
    ListMap("setup_s" -> setup / f, "op_p50_s" -> opP50 / f, "items_per_s" -> itemsPerS * f,
      "host_factor" -> hostFactor, "raw_setup_s" -> setup, "raw_op_p50_s" -> opP50,
      "raw_items_per_s" -> itemsPerS) ++ raw
  }


  /** Process start through session creation and the warm-up operation. */
  def setupDone(): Unit =
    setupS = java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1000.0

  /** Closed loop: call `body(i)`, which returns the operations it ran
    * (negative: no more input), until `seconds` have passed and at
    * least `minOps` operations ran, or a hard cap (three times the
    * measured time, at least a minute) is reached. The reference job
    * runs three times before the first call and after each call, outside
    * the operations' timing. */
  def loop(minOps: Int)(body: Int => Int): Unit = {
    val t0 = System.nanoTime()
    val cap = (seconds * 3).max(60.0)
    var i = 0
    var ops = 0
    def elapsed = (System.nanoTime() - t0) / 1e9
    Reference.seconds(spark) // warm-up
    def reference(): Unit = (1 to 3).foreach(_ => referenceTimes += Reference.seconds(spark))
    reference()
    HeapWatch.arm()
    while ((elapsed < seconds || ops < minOps) && elapsed < cap && ops >= 0) {
      val k = body(i)
      ops = if (k < 0) -1 else ops + k
      i += 1
      reference()
    }
    HeapWatch.disarm()
  }

  /** The tracer for iteration `i` of a traced run: even iterations are
    * traced, odd ones run untraced for the overhead comparison. */
  def traced(i: Int): Option[Tracer] = tracer.filter(_ => i % 2 == 0)

  def withTracer[T](t: Option[Tracer])(body: => T): T = {
    t.foreach(_.install())
    try body finally t.foreach(_.uninstall())
  }
}

object Stat {
  def quantile(xs: Seq[Double], q: Double): Double = {
    if (xs.isEmpty) return Double.NaN
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.ceil(pos).toInt
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) Double.NaN else xs.sum / xs.size

  /** Traced over untraced median, minus one. */
  def overhead(traced: Seq[Double], untraced: Seq[Double]): Double =
    median(traced) / median(untraced) - 1.0
}

/** Expected values written by the generator's ledger, as `key value` lines. */
object Expect {
  def load(path: String): Map[String, String] =
    if (path.isEmpty) Map.empty
    else Files.readAllLines(Paths.get(path)).asScala.filter(_.contains(' ')).map { l =>
      val i = l.indexOf(' ')
      l.take(i) -> l.drop(i + 1)
    }.toMap
}

object Fs {
  def files(dir: String): Seq[Path] = {
    val p = Paths.get(dir)
    if (!Files.exists(p)) Nil
    else {
      val s = Files.walk(p)
      try s.iterator.asScala.filter(f => Files.isRegularFile(f) && f.getFileName.toString.startsWith("part-")).toList
      finally s.close()
    }
  }
  def bytes(dir: String): Long = files(dir).map(Files.size).sum
  def delete(dir: String): Unit = {
    val p = Paths.get(dir)
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.iterator.asScala.toList.reverse.foreach(Files.delete) finally s.close()
    }
  }
}

/** Engine-wide per-layer metrics over a set of traced operation spans,
  * per operation (`nOps` operations in all). */
object SparkLayer {
  def apply(t: Tracer, ops: Seq[Span], nOps: Double, cores: Int): ListMap[String, Double] = {
    def total(f: OpStats => Long): Double = ops.map(o => t.ofOp(o.id).map(f).sum).sum.toDouble
    val wall = ops.map(_.seconds).sum
    val taskS = total(_.taskMs.get) / 1e3
    ListMap(
      "spark.jobs" -> total(_.jobs.get) / nOps,
      "spark.tasks" -> total(_.tasks.get) / nOps,
      "spark.task_s" -> taskS / nOps,
      "spark.cpu_s" -> total(_.cpuNs.get) / 1e9 / nOps,
      "spark.sched_wait_s" -> total(_.schedWaitMs.get) / 1e3 / nOps,
      "spark.core_busy_share" -> taskS / (wall * cores),
      "spark.gc_s" -> ops.map(o => t.gcMs.getOrDefault(o.id, 0L).toDouble).sum / 1e3 / nOps,
      "spark.shuffle_read_mb" -> total(_.shuffleRead.get) / 1048576.0 / nOps,
      "spark.shuffle_write_mb" -> total(_.shuffleWrite.get) / 1048576.0 / nOps,
      "spark.spill_mb" -> total(_.spill.get) / 1048576.0 / nOps,
      "spark.warn_lines" -> total(_.warnLines.get) / nOps,
      "spark.accumulator_errors" -> total(_.accumulatorErrors.get) / nOps,
      "spark.peak_heap_mb" -> HeapWatch.peakMb)
  }
}

/** Order-sensitive content hash of a collected result. */
object RowHash {
  def apply(rows: Array[Row]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    rows.foreach { r =>
      md.update(r.mkString("\u0001").getBytes("UTF-8"))
      md.update('\n'.toByte)
    }
    md.digest().take(12).map("%02x".format(_)).mkString
  }
}

/** Order-insensitive content fingerprint of a DataFrame: row count plus
  * the sum of per-row hashes over every column, in one job. */
object FrameHash {
  import org.apache.spark.sql.functions._
  def apply(df: DataFrame): (Long, Long) = {
    val r = df.agg(count(lit(1)), sum(xxhash64(df.columns.sorted.map(col): _*).cast("decimal(38,0)")))
      .head()
    (r.getLong(0), Option(r.getDecimal(1)).map(_.remainder(java.math.BigDecimal.valueOf(Long.MaxValue)).longValue).getOrElse(0L))
  }
}
