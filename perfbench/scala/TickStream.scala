package perfbench

import java.nio.file.{Files, Paths, StandardCopyOption}

import scala.collection.immutable.ListMap
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress}
import org.apache.spark.sql.types._

import graft.streaming.{BarBuilder, IncrementalAggStream}

/** The incremental twin of the pipeline: tick files drained one file
  * per trigger (`maxFilesPerTrigger` 1) through two standing queries,
  * `BarBuilder.bars` -> `BarBuilder.sinkBars` and
  * `IncrementalAggStream.start` keyed by symbol. Both entry points
  * start their query with the default trigger, so the closed loop
  * stages a round of files (atomic renames) and waits on
  * `processAllAvailable`, first for the bar query, then for the rollup.
  * One operation is one tick file drained: its micro-batch in each of
  * the two queries, timed trigger-to-commit (a file's two batches are
  * summed; the two queries' batch times are far apart, so a median over
  * single batches would sit in the gap between them). After every
  * round the bar sink and the rollup are checked against the ledger:
  * the sink holds exactly the ledger's bars whose window closed under
  * the reported watermark (late ticks dropped), with their `n_ticks`,
  * and the rollup's `n_events` per (day, symbol) counts every tick. */
final class TickStream(run: Run, data: String, tmp: String, expect: Map[String, String]) {
  private val spark = run.spark
  private val RoundFiles = 6

  private final case class TickFile(name: String, ticks: Long, bars: Map[(String, Long), Long],
      counts: Map[(String, String), Long])

  private def entries(s: String): Seq[(String, Long)] =
    s.split(' ').toSeq.filter(_.nonEmpty).map { e =>
      val i = e.lastIndexOf(':')
      e.take(i) -> e.drop(i + 1).toLong
    }

  private val files: IndexedSeq[TickFile] = (0 until expect("files").toInt).map { k =>
    val Array(name, ticks) = expect(s"file.$k").split(' ')
    TickFile(name, ticks.toLong,
      entries(expect(s"bar.$k")).map { case (key, n) =>
        val Array(sym, w) = key.split('|')
        (sym, w.toLong) -> n
      }.toMap,
      entries(expect(s"cnt.$k")).map { case (key, n) =>
        val Array(day, sym) = key.split('|')
        (day, sym) -> n
      }.toMap)
  }

  private val schema = StructType(Seq(
    StructField("symbol", StringType), StructField("ts", TimestampType),
    StructField("price", DoubleType), StructField("size", LongType)))
  private val inBars = s"$tmp/stream/in_bars"
  private val inAgg = s"$tmp/stream/in_agg"
  private val sink = s"$tmp/stream/bars"
  Seq(inBars, inAgg).foreach(d => Files.createDirectories(Paths.get(d)))

  private def source(dir: String) =
    spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).json(dir)

  private val barsQuery: StreamingQuery = BarBuilder.sinkBars(
    BarBuilder.bars(source(inBars), "symbol", "ts", "price"), sink, s"$tmp/checkpoints/bars")
  private val store = IncrementalAggStream.newStore(spark, "symbol")
  private val aggQuery: StreamingQuery = IncrementalAggStream.start(source(inAgg), store, "symbol", "ts", "price")

  private var next = 0 // next file to stage
  private val clock0 = System.currentTimeMillis()
  private val seen = scala.collection.mutable.Map[java.util.UUID, Long]().withDefaultValue(-1L)

  /** Progress reports of `q` since the last call. */
  private def newBatches(q: StreamingQuery): Seq[StreamingQueryProgress] = {
    val ps = q.recentProgress.filter(_.batchId > seen(q.id)).toSeq
    ps.lastOption.foreach(p => seen(q.id) = p.batchId)
    ps
  }

  private def settle(q: StreamingQuery): Unit =
    while (q.status.isTriggerActive) Thread.sleep(2)

  private def watermarkUs(q: StreamingQuery): Long =
    Option(q.lastProgress).flatMap(p => Option(p.eventTime.get("watermark")))
      .map { w =>
        val i = java.time.Instant.parse(w)
        i.getEpochSecond * 1000000L + i.getNano / 1000
      }.getOrElse(Long.MinValue)

  /** Ledger check after `upto` files: failed checks (empty when all hold). */
  private def check(upto: Int): Seq[String] = {
    settle(barsQuery)
    val wm = watermarkUs(barsQuery)
    val drained = files.take(upto)
    val expectedBars = drained.flatMap(_.bars).filter { case ((_, w), _) => w + 300000000L <= wm }.toMap
    val got = spark.read.parquet(sink).select(col("series"), unix_micros(col("bar_ts")), col("n_ticks"))
      .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
    val expectedCounts = drained.flatMap(_.counts).groupMapReduce(_._1)(_._2)(_ + _)
    val rollup = store.snapshot().select(col("d").cast("string"), col("symbol"), col("n_events"))
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    if (got != expectedBars) {
      val missing = expectedBars.keySet -- got.keySet
      val extra = got.keySet -- expectedBars.keySet
      System.err.println(s"[perfbench] wm=$wm got=${got.size} exp=${expectedBars.size} " +
        s"missing=${missing.toSeq.sortBy(_._2).take(5)} extra=${extra.toSeq.sortBy(_._2).take(5)} " +
        s"diff=${got.filter { case (k, v) => expectedBars.get(k).exists(_ != v) }.take(5)}")
    }
    Seq(
      "bars_sunk" -> (got.size == expectedBars.size),
      "bar_n_ticks" -> (got == expectedBars),
      "sum_n_ticks" -> (got.values.sum == expectedBars.values.sum),
      "rollup_n_events" -> (rollup == expectedCounts),
      "watermark_stable" -> (wm == watermarkUs(barsQuery))
    ).collect { case (k, false) => k }
  }

  /** One round: stage `k` files for both queries, drain the bar query,
    * then the rollup. Returns (wall seconds, ticks, batch progress). */
  private def round(k: Int): (Double, Long, Seq[StreamingQueryProgress], Seq[StreamingQueryProgress]) = {
    val batch = files.slice(next, next + k)
    next += batch.size
    // the file source takes files in modification-time order: stamp
    // them one second apart so the drain order is the ledger's order
    val staged = Seq(inBars, inAgg).map { dir =>
      batch.zipWithIndex.map { case (f, j) =>
        val hidden = Paths.get(dir, s".${f.name}")
        Files.copy(Paths.get(data, f.name), hidden)
        Files.setLastModifiedTime(hidden,
          java.nio.file.attribute.FileTime.fromMillis(clock0 + (next - batch.size + j) * 1000L))
        (hidden, Paths.get(dir, f.name))
      }
    }
    val t0 = System.nanoTime()
    staged(0).foreach { case (h, f) => Files.move(h, f, StandardCopyOption.ATOMIC_MOVE) }
    barsQuery.processAllAvailable()
    staged(1).foreach { case (h, f) => Files.move(h, f, StandardCopyOption.ATOMIC_MOVE) }
    aggQuery.processAllAvailable()
    val dt = (System.nanoTime() - t0) / 1e9
    (dt, batch.map(_.ticks).sum, newBatches(barsQuery), newBatches(aggQuery))
  }

  private def withData(ps: Seq[StreamingQueryProgress]) = ps.filter(_.numInputRows > 0)
  private def ms(p: StreamingQueryProgress, k: String): Double = p.durationMs.getOrDefault(k, 0L).toDouble

  def run(): Outcome = {
    round(2)
    val warmBad = check(next)
    run.setupDone()
    var attempted, failed = 0L
    val times, tracedTimes = ArrayBuffer[Double]()
    var ticks = 0L
    var wall = 0.0
    var barBatchesRun = 0
    val tracedRounds = ArrayBuffer[(Span, Int)]()
    val tracedBars, tracedAggs = ArrayBuffer[StreamingQueryProgress]()
    val failures = ArrayBuffer[String]()
    run.loop(minOps = 2 * RoundFiles) { i =>
      if (next + RoundFiles > files.size) -1
      else {
        val tr = run.traced(i)
        val (dt, n, bars, aggs) = tr match {
          case Some(t) => run.withTracer(tr) {
            val (r @ (_, _, b, a), s) = t.op("stream.round")(round(RoundFiles))
            b.foreach(t.recordBatch("stream.batch.bars", _, s))
            a.foreach(t.recordBatch("stream.batch.rollup", _, s))
            tracedRounds += ((s, withData(b).size))
            tracedBars ++= b
            tracedAggs ++= a
            r
          }
          case None => round(RoundFiles)
        }
        val ops = withData(bars).zip(withData(aggs)).map { case (b, a) =>
          (ms(b, "triggerExecution") + ms(a, "triggerExecution")) / 1e3
        }
        barBatchesRun += withData(bars).size
        (if (tr.isDefined) tracedTimes else times) ++= ops
        if (tr.isEmpty) {
          ticks += n
          wall += dt
        }
        val bad = check(next)
        attempted += ops.size
        if (bad.nonEmpty) {
          failed += ops.size
          failures ++= bad
        }
        ops.size
      }
    }
    if (attempted == 0) sys.error(s"tick files ran out after $next files")
    val sinkRows = spark.read.parquet(sink).count()
    val sinkFiles = Fs.files(sink)
    val sinkBytes = sinkFiles.map(Files.size).sum.toDouble
    val notes = ListMap[String, Any]("files_drained" -> next, "warmup_failed_checks" -> warmBad,
      "failed_checks" -> failures.distinct)
    val allFailed = failed + (if (warmBad.nonEmpty) 1 else 0)
    val metrics =
      if (!run.trace) run.endToEnd(scale = false)(run.setupS, Stat.median(times.toSeq), ticks / wall,
        "op_p90_s" -> Stat.quantile(times.toSeq, 0.9),
        "op_samples" -> times.size.toDouble,
        "peak_heap_mb" -> HeapWatch.peakMb,
        "lake_bytes_per_bar" -> sinkBytes / sinkRows)
      else {
        val t = run.tracer.get
        val nb = tracedRounds.map(_._2).sum.toDouble
        val all = withData((tracedBars ++ tracedAggs).toSeq)
        val state = tracedBars.toSeq.flatMap(_.stateOperators.toSeq)
        val lastState = tracedBars.lastOption.toSeq.flatMap(_.stateOperators.toSeq)
        val perBarBatch = barBatchesRun.max(1).toDouble
        ListMap(
          "streaming.batches" -> (tracedBars ++ tracedAggs).size.toDouble / tracedRounds.size,
          "streaming.add_batch_ms" -> Stat.mean(all.map(ms(_, "addBatch"))),
          "streaming.planning_ms" -> Stat.mean(all.map(ms(_, "queryPlanning"))),
          "streaming.wal_commit_ms" -> Stat.mean(all.map(p => ms(p, "walCommit") + ms(p, "commitOffsets"))),
          "streaming.state_rows" -> lastState.map(_.numRowsTotal).sum.toDouble,
          "streaming.state_mb" -> lastState.map(_.memoryUsedBytes).sum / 1048576.0,
          "streaming.state_commit_ms" -> Stat.mean(state.map(_.commitTimeMs.toDouble)),
          "streaming.rows_dropped_by_watermark" -> state.map(_.numRowsDroppedByWatermark).sum.toDouble,
          "streaming.merge_store_s" -> Stat.mean(withData(tracedAggs.toSeq).map(ms(_, "addBatch") / 1e3)),
          "sinks.write_s" -> Stat.mean(withData(tracedBars.toSeq).map(ms(_, "addBatch") / 1e3)),
          "sinks.files" -> sinkFiles.size / perBarBatch,
          "sinks.bytes" -> sinkBytes / perBarBatch,
          "sinks.rows" -> sinkRows / perBarBatch) ++
          SparkLayer(t, tracedRounds.map(_._1).toSeq, nb, run.cores) ++
          ListMap("trace.overhead_ratio" -> Stat.overhead(tracedTimes.toSeq, times.toSeq))
      }
    Outcome(attempted, allFailed, metrics, notes)
  }
}
