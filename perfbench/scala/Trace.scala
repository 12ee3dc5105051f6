package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.logging.log4j.Level
import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.Property
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval. `op` is the id of the top-level operation span
  * the interval belongs to; `parent` is 0 for a top-level span. */
final case class Span(id: Int, name: String, parent: Int, op: Int, startNs: Long, endNs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Engine counters of one operation, filled from listener events. */
final class OpStats {
  val jobs, stages, tasks, taskMs, cpuNs, shuffleRead, shuffleWrite, spill,
      schedWaitMs, warnLines, accumulatorErrors = new AtomicLong
  val plans = new java.util.concurrent.ConcurrentLinkedQueue[QueryExecution]()
}

/** Plan shape counts of an executed (possibly adaptive) physical plan. */
final case class PlanShape(windows: Int, unpartitionedWindows: Int, exchanges: Int)

object PlanShape {
  private def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case s: QueryStageExec => nodes(s.plan)
    case other => other +: (other.children ++ other.subqueries).flatMap(nodes)
  }

  def of(qe: QueryExecution): PlanShape = {
    val all = nodes(qe.executedPlan)
    val windows = all.collect { case w: WindowExec => w }
    PlanShape(windows.size, windows.count(_.partitionSpec.isEmpty),
      all.count(_.isInstanceOf[ShuffleExchangeLike]))
  }

  /** Analysis + optimization + planning milliseconds recorded by the
    * query's QueryPlanningTracker. */
  def planMs(qe: QueryExecution): Double =
    qe.tracker.phases.collect {
      case (name, s) if Set("analysis", "optimization", "planning")(name) => s.durationMs.toDouble
    }.sum
}

/** Peak heap retained after garbage collection, from GC notifications
  * (no polling thread). Armed only over the timed part of a run. */
object HeapWatch {
  @volatile private var armed = false
  private val peak = new AtomicLong(0L)

  def install(): Unit = ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
    case e: javax.management.NotificationEmitter =>
      e.addNotificationListener((n: javax.management.Notification, _: Any) => {
        if (armed && n.getType == com.sun.management.GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
          val info = com.sun.management.GarbageCollectionNotificationInfo.from(
            n.getUserData.asInstanceOf[javax.management.openmbean.CompositeData])
          val used = info.getGcInfo.getMemoryUsageAfterGc.values.asScala.map(_.getUsed).sum
          peak.accumulateAndGet(used, math.max)
        }
      }, null, null)
    case _ =>
  }

  def arm(): Unit = {
    peak.set(ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed)
    armed = true
  }

  def disarm(): Unit = armed = false

  def peakMb: Double = peak.get / 1048576.0
}

object Gc {
  def ms: Long = ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum
}

/** Span recorder plus the engine observers the traced run registers:
  * a SparkListener (jobs, stages, tasks, time, shuffle, spill,
  * scheduling wait), a QueryExecutionListener (executed plans and
  * planning phases), a StreamingQueryListener (micro-batch progress)
  * and a WARN/ERROR log counter. Engine events are attributed to the
  * span whose id the job carries in its `perfbench.span` property,
  * otherwise (jobs of streaming queries, log lines) to the innermost
  * span open when they arrive. Spans are kept in memory and written
  * out at the end of the run. */
final class Tracer(spark: SparkSession) {
  private val sc = spark.sparkContext
  private val spanBuf = ArrayBuffer[Span]()
  private var open: List[(Int, Int)] = Nil // (span id, op id), innermost first
  private var nextId = 1
  @volatile private var current = 0
  private val stats = new ConcurrentHashMap[Int, OpStats]()
  val progress = new java.util.concurrent.ConcurrentLinkedQueue[StreamingQueryProgress]()
  val gcMs = new ConcurrentHashMap[Int, Long]()
  private val stageSpan = new ConcurrentHashMap[Int, Int]()
  private val stageSubmitMs = new ConcurrentHashMap[Int, java.lang.Long]()
  private val stageFirstLaunchMs = new ConcurrentHashMap[Int, java.lang.Long]()
  // epoch-ns minus monotonic-ns, to place progress reports on the span clock
  private val clockOffsetNs = System.currentTimeMillis() * 1000000L - System.nanoTime()

  def spans: Seq[Span] = spanBuf.toSeq

  private def statsOf(span: Int): OpStats = stats.computeIfAbsent(span, _ => new OpStats)

  /** Counters of one span (not of its children). */
  def of(span: Span): OpStats = statsOf(span.id)

  /** Counters of every span of an operation. */
  def ofOp(op: Int): Seq[OpStats] = spanBuf.filter(_.op == op).map(s => statsOf(s.id)).toSeq

  private def spanOf(props: java.util.Properties): Int =
    Option(props).flatMap(p => Option(p.getProperty(Tracer.SpanProperty)))
      .map(_.toInt).filter(_ > 0).getOrElse(current)

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val span = spanOf(e.properties)
      statsOf(span).jobs.incrementAndGet()
      e.stageIds.foreach(stageSpan.put(_, span))
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      e.stageInfo.submissionTime.foreach(t => stageSubmitMs.put(e.stageInfo.stageId, java.lang.Long.valueOf(t)))
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val id = e.stageInfo.stageId
      val st = statsOf(stageSpan.getOrDefault(id, current))
      st.stages.incrementAndGet()
      val submit = stageSubmitMs.remove(id)
      val launch = stageFirstLaunchMs.remove(id)
      if (submit != null && launch != null) st.schedWaitMs.addAndGet((launch.longValue - submit.longValue).max(0L))
    }
    override def onTaskStart(e: SparkListenerTaskStart): Unit =
      stageFirstLaunchMs.merge(e.stageId, java.lang.Long.valueOf(e.taskInfo.launchTime),
        (a: java.lang.Long, b: java.lang.Long) => if (b.longValue < a.longValue) b else a)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val st = statsOf(stageSpan.getOrDefault(e.stageId, current))
      st.tasks.incrementAndGet()
      st.taskMs.addAndGet(e.taskInfo.duration)
      val m = e.taskMetrics
      if (m != null) {
        st.cpuNs.addAndGet(m.executorCpuTime)
        st.shuffleRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
        st.shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        st.spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      statsOf(current).plans.add(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      progress.add(e.progress)
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  private val appender = new AbstractAppender("perfbench-log-counter", null, null, true, Property.EMPTY_ARRAY) {
    override def append(e: LogEvent): Unit =
      if (e.getLevel.isMoreSpecificThan(Level.WARN)) {
        val st = statsOf(current)
        st.warnLines.incrementAndGet()
        val msg = Option(e.getMessage).map(_.getFormattedMessage).getOrElse("")
        if (msg.contains("non-existent accumulator")) st.accumulatorErrors.incrementAndGet()
      }
  }

  private def loggerContext =
    org.apache.logging.log4j.LogManager.getContext(false).asInstanceOf[LoggerContext]

  def install(): Unit = {
    sc.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
    spark.streams.addListener(streamListener)
    appender.start()
    loggerContext.getConfiguration.getRootLogger.addAppender(appender, Level.WARN, null)
    loggerContext.updateLoggers()
  }

  def uninstall(): Unit = {
    drain()
    sc.removeSparkListener(listener)
    spark.listenerManager.unregister(qeListener)
    spark.streams.removeListener(streamListener)
    loggerContext.getConfiguration.getRootLogger.removeAppender(appender.getName)
    loggerContext.updateLoggers()
  }

  def drain(): Unit = org.apache.spark.perfbench.SparkBus.drain(sc)

  /** Record `body` as a span under the innermost open span; jobs it
    * submits from this thread carry the span's id. */
  def span[T](name: String)(body: => T): T = {
    val id = nextId
    nextId += 1
    val parent = open.headOption
    val op = parent.map(_._2).getOrElse(id)
    open = (id, op) :: open
    current = id
    sc.setLocalProperty(Tracer.SpanProperty, id.toString)
    val t0 = System.nanoTime()
    try body
    finally {
      val t1 = System.nanoTime()
      open = open.tail
      current = parent.map(_._1).getOrElse(0)
      sc.setLocalProperty(Tracer.SpanProperty, parent.map(_._1.toString).orNull)
      spanBuf += Span(id, name, parent.map(_._1).getOrElse(0), op, t0, t1)
    }
  }

  /** A top-level operation span; its id is the operation id. The
    * listener bus is drained before the span closes, so the engine
    * events of the operation are attributed before it ends. */
  def op[T](name: String)(body: => T): (T, Span) = {
    require(open.isEmpty, "operations do not nest")
    val gc0 = Gc.ms
    val r = span(name) { try body finally drain() }
    val s = spanBuf.last
    gcMs.put(s.id, Gc.ms - gc0)
    (r, s)
  }

  /** Add a span measured elsewhere: a micro-batch from its progress
    * report, under the operation span it ran in. */
  def recordBatch(name: String, p: StreamingQueryProgress, parent: Span): Unit = {
    val start = java.time.Instant.parse(p.timestamp)
    val startNs = start.getEpochSecond * 1000000000L + start.getNano - clockOffsetNs
    val durNs = p.durationMs.getOrDefault("triggerExecution", 0L) * 1000000L
    spanBuf += Span(nextId, name, parent.id, parent.op, startNs, startNs + durNs)
    nextId += 1
  }

  def spansJson: String = spanBuf.sortBy(_.id).map { s =>
    Json.obj("id" -> s.id, "name" -> s.name, "parent" -> s.parent, "op" -> s.op,
      "start_ns" -> s.startNs, "end_ns" -> s.endNs)
  }.mkString("[\n", ",\n", "\n]\n")
}

object Tracer {
  val SpanProperty = "perfbench.span"
}

/** Minimal JSON rendering for the result and span files. */
object Json {
  def render(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => render(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => render(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ": " + render(x) }.mkString("{", ", ", "}")
    case s: Iterable[_] => s.map(render).mkString("[", ", ", "]")
    case other => quote(other.toString)
  }

  def obj(kv: (String, Any)*): String = render(scala.collection.immutable.ListMap(kv: _*))

  def quote(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
