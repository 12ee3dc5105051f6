package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicLong

import scala.collection.immutable.ListMap
import scala.collection.mutable

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Attribute, Expression, Literal, WindowExpression}
import org.apache.spark.sql.catalyst.expressions.aggregate.AggregateExpression
import org.apache.spark.sql.catalyst.plans.physical.{HashPartitioning, RangePartitioning, RoundRobinPartitioning, SinglePartition}
import org.apache.spark.sql.execution._
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.aggregate.{HashAggregateExec, ObjectHashAggregateExec, SortAggregateExec}
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ReusedExchangeExec, ShuffleExchangeLike}
import org.apache.spark.sql.execution.joins.{BaseJoinExec, BroadcastNestedLoopJoinExec, HashJoin}
import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.types.StructType

/** What a physical plan does, read from its nodes rather than from its
  * printed string. [[PlanFacts.of]] flattens the plan the way
  * `AdaptiveSparkPlanHelper` walks it: through `AdaptiveSparkPlanExec`
  * (the final plan once the frame has run, the initial plan before),
  * query stages and subqueries. The adaptive and stage wrappers are not
  * in [[nodes]]; a reused exchange is one `ReusedExchangeExec` leaf, so
  * no exchange is counted twice. Column names drop expression ids, and
  * no count depends on which side a join builds (a join keeps its build
  * side as a field, for the locks that name it). */
final class PlanFacts private (
    /** Every node, pre-order. Locks on a tree relation ("the filter sits
      * below the aggregate") take the facts of a subtree:
      * `PlanFacts.of(node)`. */
    val nodes: Seq[SparkPlan]) {
  import PlanFacts._

  /** Shuffle exchanges, each with its partitioning kind ("hash",
    * "range", "roundrobin", "single") and its key columns. */
  lazy val exchanges: Seq[Exchange] = nodes.collect { case e: ShuffleExchangeLike =>
    e.outputPartitioning match {
      case h: HashPartitioning => Exchange("hash", h.expressions.map(name))
      case r: RangePartitioning => Exchange("range", r.ordering.map(o => name(o.child)))
      case _: RoundRobinPartitioning => Exchange("roundrobin", Nil)
      case SinglePartition => Exchange("single", Nil)
      case p => Exchange(p.getClass.getSimpleName, Nil)
    }
  }
  def exchanges(kind: String): Int = exchanges.count(_.kind == kind)
  lazy val broadcasts: Int = nodes.count(_.isInstanceOf[BroadcastExchangeLike])
  lazy val reusedExchanges: Int = nodes.count(_.isInstanceOf[ReusedExchangeExec])

  lazy val windows: Seq[Window] = nodes.collect { case w: WindowExec =>
    Window(w.windowExpression.flatMap(_.collect { case e: WindowExpression => fnName(e.windowFunction) }),
      w.partitionSpec.map(name), w.orderSpec.map(o => name(o.child)))
  }
  /** `WindowExec`s without a partition spec: one task holds every row. */
  def unpartitionedWindows: Int = windows.count(_.partitionBy.isEmpty)

  lazy val sortAggregates: Int = nodes.count(_.isInstanceOf[SortAggregateExec])
  lazy val hashAggregates: Int = nodes.count(_.isInstanceOf[HashAggregateExec])
  lazy val objectHashAggregates: Int = nodes.count(_.isInstanceOf[ObjectHashAggregateExec])
  /** Scans of a checkpointed (or any RDD-backed) relation: `RDDScanExec`,
    * which prints as "Scan ExistingRDD". */
  lazy val checkpointScans: Int = nodes.count(_.isInstanceOf[RDDScanExec])

  lazy val joins: Seq[Join] = nodes.collect { case j: BaseJoinExec =>
    val build = j match {
      case h: HashJoin => Some(h.buildSide)
      case n: BroadcastNestedLoopJoinExec => Some(n.buildSide)
      case _ => None
    }
    Join(j.nodeName, j.joinType.toString, build.map(_.toString.stripPrefix("Build").toLowerCase))
  }
  def joins(strategy: String): Int = joins.count(_.strategy == strategy)

  lazy val scans: Seq[Scan] = nodes.collect {
    case s: FileSourceScanExec => Scan(s.relation.toString,
      splitFilters(s.metadata.getOrElse("PushedFilters", "[]")), s.partitionFilters.map(_.sql), s.requiredSchema)
    case s: RowDataSourceScanExec => Scan(s.relation.getClass.getSimpleName.stripSuffix("Relation").toLowerCase,
      s.filters.toSeq.map(_.toString), Nil, s.requiredSchema)
    case s: DataSourceScanExec => Scan(s.nodeName, Nil, Nil, s.schema)
  }
  def scans(format: String): Seq[Scan] = scans.filter(_.format == format)

  /** The generator of each `GenerateExec` ("explode", "posexplode", ...). */
  lazy val generates: Seq[String] = nodes.collect { case g: GenerateExec => g.generator.prettyName }
  lazy val expands: Int = nodes.count(_.isInstanceOf[ExpandExec])
  lazy val takeOrdered: Int = nodes.count(_.isInstanceOf[TakeOrderedAndProjectExec])
  lazy val unions: Int = nodes.count(_.isInstanceOf[UnionExec])
  lazy val sorts: Seq[Sort] = nodes.collect { case s: SortExec =>
    Sort(s.sortOrder.map(o => name(o.child) + (if (o.isAscending) "" else " DESC")), s.global)
  }

  /** How often each function occurs in the nodes' expressions, by its
    * printed name (`sum_fixed6`, `pqcodes`, `split`, ...). A partial or
    * merge aggregate also counts under the name the plan prints for it
    * (`partial_sum_fixed6`, `merge_sum_fixed6`). */
  lazy val functions: Map[String, Int] = nodes.flatMap(_.expressions.flatMap(_.collect {
    case a: AggregateExpression => a.toString.takeWhile(_ != '(')
    case e if !e.isInstanceOf[Attribute] && !e.isInstanceOf[Literal] => e.prettyName
  })).groupBy(identity).map { case (k, v) => k -> v.size }
  def calls(fn: String): Int = functions.getOrElse(fn, 0)

  /** The counts, in a fixed order, for a per-query record. */
  def counts: ListMap[String, Any] = {
    def tally(keys: Seq[String]) = ListMap(keys.groupBy(identity).map { case (k, v) => k -> v.size }.toSeq.sorted: _*)
    ListMap("exchanges" -> tally(exchanges.map(_.kind)), "broadcasts" -> broadcasts,
      "reusedExchanges" -> reusedExchanges, "windows" -> windows.size,
      "unpartitionedWindows" -> unpartitionedWindows, "sortAggregates" -> sortAggregates,
      "hashAggregates" -> hashAggregates, "objectHashAggregates" -> objectHashAggregates,
      "checkpointScans" -> checkpointScans, "joins" -> tally(joins.map(j => s"${j.strategy} ${j.joinType}")),
      "scans" -> tally(scans.map(_.format)), "generates" -> generates.size, "expands" -> expands,
      "takeOrdered" -> takeOrdered)
  }
}

object PlanFacts {
  final case class Exchange(kind: String, keys: Seq[String])
  final case class Window(functions: Seq[String], partitionBy: Seq[String], orderBy: Seq[String])
  /** `strategy` is the node name ("BroadcastHashJoin", "SortMergeJoin",
    * ...); `buildSide` ("left"/"right") only where the strategy has one. */
  final case class Join(strategy: String, joinType: String, buildSide: Option[String])
  /** `format` is the source's short name ("parquet", "json", "jdbc");
    * pushed filters print as the data source filters, un-truncated. */
  final case class Scan(format: String, pushedFilters: Seq[String],
      partitionFilters: Seq[String], readSchema: StructType)
  /** A descending key carries a " DESC" suffix. */
  final case class Sort(keys: Seq[String], global: Boolean)

  /** The facts of `df`'s physical plan: the final adaptive plan once
    * `df` has run, the initial plan before. */
  def of(df: DataFrame): PlanFacts = of(df.queryExecution.executedPlan)

  def of(plan: SparkPlan): PlanFacts = new PlanFacts(flatten(plan))

  /** `df`'s formatted explain (`EXPLAIN FORMATTED`), the form `plans/`
    * records: the final adaptive plan once `df` has run. */
  def formatted(df: DataFrame): String =
    df.queryExecution.explainString(ExplainMode.fromString("formatted"))

  private def flatten(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => flatten(a.executedPlan)
    case s: QueryStageExec => flatten(s.plan)
    case other => other +: (other.children ++ other.subqueries).flatMap(flatten)
  }

  private def name(e: Expression): String = e match { case a: Attribute => a.name; case o => o.sql }

  private def fnName(e: Expression): String = e match {
    case a: AggregateExpression => a.aggregateFunction.prettyName; case o => o.prettyName
  }

  /** "[a(x,y), In(c, [1,2])]" -> Seq("a(x,y)", "In(c, [1,2])"): a data
    * source filter prints ", " only inside `In`'s parentheses. */
  private def splitFilters(s: String): Seq[String] =
    s.stripPrefix("[").stripSuffix("]").split(", (?![^(]*\\))").toSeq.filter(_.nonEmpty)
}

/** The Spark work one block of code started: its jobs (all, and
  * those carrying a SQL execution id, i.e. that execute a query plan),
  * completed stages, tasks, summed task and executor CPU time, shuffle
  * bytes, and the stages' run and CPU time summed by stage name, the
  * heaviest first. */
final case class RunFacts(
    jobs: Int, sqlJobs: Int, stages: Int, tasks: Int,
    taskMs: Long, cpuNs: Long, shuffleRead: Long, shuffleWrite: Long,
    stageTable: Seq[RunFacts.Stage])

object RunFacts {
  final case class Stage(name: String, runMs: Long, cpuNs: Long, tasks: Int)

  private val runs = new AtomicLong

  /** Runs `body` under a job group of its own and returns its value with
    * the work that group ran. Threads `body` starts inherit the group,
    * so their jobs count too; nothing else in the application does.
    * Before reading, one single-task job is run in a second group: the
    * listener bus delivers events in order, so once that job's start
    * arrives every event of `body` has arrived as well. */
  def of[T](spark: SparkSession)(body: => T): (T, RunFacts) = {
    val sc = spark.sparkContext
    val group = s"graft-run-${runs.incrementAndGet()}"
    val rec = new Recorder(group)
    sc.addSparkListener(rec)
    try {
      sc.setJobGroup(group, group)
      val out = try body finally sc.clearJobGroup()
      sc.setJobGroup(group + "-drain", group)
      try sc.parallelize(Seq(0), 1).foreach(_ => ()) finally sc.clearJobGroup()
      require(rec.drained.await(60, TimeUnit.SECONDS), s"listener bus did not deliver $group's events")
      (out, rec.facts)
    } finally sc.removeSparkListener(rec)
  }

  /** A listener's callbacks all run on its bus queue's one thread; the
    * latch publishes what they wrote to the caller. */
  private final class Recorder(group: String) extends SparkListener {
    val drained = new CountDownLatch(1)
    var facts = RunFacts(0, 0, 0, 0, 0L, 0L, 0L, 0L, Nil)
    private val stageIds = mutable.Set[Int]()
    private val table = mutable.Map[String, Stage]()

    override def onJobStart(j: SparkListenerJobStart): Unit = {
      def prop(k: String) = Option(j.properties).flatMap(p => Option(p.getProperty(k)))
      if (prop("spark.jobGroup.id").contains(group)) {
        facts = facts.copy(jobs = facts.jobs + 1, sqlJobs = facts.sqlJobs + prop("spark.sql.execution.id").size)
        stageIds ++= j.stageIds
      } else if (prop("spark.jobGroup.id").contains(group + "-drain")) drained.countDown()
    }

    override def onStageCompleted(s: SparkListenerStageCompleted): Unit = if (stageIds(s.stageInfo.stageId)) {
      val (i, key) = (s.stageInfo, s.stageInfo.name.take(120))
      val st = table.getOrElse(key, Stage(key, 0L, 0L, 0))
      table(key) = Stage(key, st.runMs + i.taskMetrics.executorRunTime,
        st.cpuNs + i.taskMetrics.executorCpuTime, st.tasks + i.numTasks)
      facts = facts.copy(stages = facts.stages + 1, stageTable = table.values.toSeq.sortBy(-_.runMs))
    }

    override def onTaskEnd(t: SparkListenerTaskEnd): Unit = if (stageIds(t.stageId)) {
      val m = Option(t.taskMetrics)
      facts = facts.copy(tasks = facts.tasks + 1, taskMs = facts.taskMs + t.taskInfo.duration,
        cpuNs = facts.cpuNs + m.fold(0L)(_.executorCpuTime),
        shuffleRead = facts.shuffleRead + m.fold(0L)(_.shuffleReadMetrics.totalBytesRead),
        shuffleWrite = facts.shuffleWrite + m.fold(0L)(_.shuffleWriteMetrics.bytesWritten))
    }
  }
}
