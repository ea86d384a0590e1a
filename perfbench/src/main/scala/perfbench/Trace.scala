package perfbench

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.util.QueryExecutionListener

import scala.collection.mutable

/** Spans around the benchmark's calls into the program.
  *
  * The untraced run uses [[Trace.Off]]: `span` just runs its body. The
  * traced run uses a [[Tracer]], which keys every Spark job a span starts
  * by the span's job group and registers a SparkListener (jobs, tasks,
  * executor CPU, GC, shuffle, spill) and a QueryExecutionListener
  * (analysis + optimization + planning time). Spans and counts are kept in
  * memory and written out when the run ends.
  */
trait Trace {
  def span[T](name: String)(body: => T): T
  def count(name: String, value: Double): Unit
  def enabled: Boolean
  def onSession(spark: SparkSession): Unit
}

object Trace {
  object Off extends Trace {
    def span[T](name: String)(body: => T): T = body
    def count(name: String, value: Double): Unit = ()
    def enabled: Boolean = false
    def onSession(spark: SparkSession): Unit = ()
  }

  /** The per-span statistics every traced span reports. */
  val SpanStats: Seq[String] =
    Seq("s", "plan_s", "jobs", "tasks", "exec_cpu_s", "gc_s", "shuffle_mb", "spill_mb")
}

final class Tracer(spark: SparkSession) extends Trace {

  private case class Interval(name: String, startMs: Long, endMs: Long, depth: Int)

  private val stats = mutable.Map.empty[String, mutable.Map[String, Double]]
  private val counts = mutable.LinkedHashMap.empty[String, Double]
  private val intervals = mutable.ArrayBuffer.empty[Interval]
  private val open = mutable.Stack.empty[(String, Long, Array[Long])]
  private val stageSpan = new java.util.concurrent.ConcurrentHashMap[Int, String]()
  private val queries = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Double, QueryExecution)]()
  // Join output rows of the last query each span materialized (see joinRows).
  private val lastJoinRows = mutable.Map.empty[String, Long]

  def enabled: Boolean = true

  private def add(span: String, stat: String, v: Double): Unit = synchronized {
    val m = stats.getOrElseUpdate(span, mutable.Map.empty)
    m(stat) = m.getOrElse(stat, 0.0) + v
  }

  private def spanAt(ms: Long): Option[String] = synchronized {
    intervals.filter(i => i.startMs <= ms && ms <= i.endMs).sortBy(-_.depth).headOption.map(_.name) orElse
      open.headOption.map(_._1)
  }

  spark.sparkContext.addSparkListener(new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val group = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      group.orElse(spanAt(e.time)).foreach { s =>
        e.stageIds.foreach(id => stageSpan.put(id, s))
        add(s, "jobs", 1)
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val s = stageSpan.get(e.stageId)
      val m = e.taskMetrics
      if (s != null && m != null) {
        add(s, "tasks", 1)
        add(s, "exec_cpu_s", m.executorCpuTime / 1e9)
        add(s, "gc_s", m.jvmGCTime / 1e3)
        add(s, "shuffle_mb",
          (m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten) / 1048576.0)
        add(s, "spill_mb", m.diskBytesSpilled / 1048576.0)
      }
    }
  })

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val phases = qe.tracker.phases
      val planMs = Seq("analysis", "optimization", "planning").flatMap(phases.get).map(_.durationMs).sum
      val at = phases.get("planning").map(_.startTimeMs).getOrElse(System.currentTimeMillis())
      queries.add((at, planMs / 1e3, qe))
    }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  def onSession(s: SparkSession): Unit = s.listenerManager.register(qeListener)
  onSession(spark)

  def span[T](name: String)(body: => T): T = {
    val sc = spark.sparkContext
    val parent = open.headOption.map(_._1)
    val childNs = Array(0L)
    val t0 = System.nanoTime()
    val cpu0 = if (parent.isEmpty) BenchMain.programCpuNs() else 0L
    val ms0 = System.currentTimeMillis()
    synchronized(open.push((name, t0, childNs)))
    sc.setJobGroup(name, name)
    try body
    finally {
      val dur = System.nanoTime() - t0
      synchronized(open.pop())
      parent match {
        case Some(p) => sc.setJobGroup(p, p)
        case None    => sc.clearJobGroup()
      }
      open.headOption.foreach(_._3(0) += dur)
      add(name, "s", (dur - childNs(0)) / 1e9)
      if (parent.isEmpty) count("trace.span_cpu_s", (BenchMain.programCpuNs() - cpu0) / 1e9)
      synchronized { intervals += Interval(name, ms0, System.currentTimeMillis(), open.size) }
      attributeQueries()
    }
  }

  def count(name: String, value: Double): Unit = synchronized {
    counts(name) = counts.getOrElse(name, 0.0) + value
  }

  /** Rows out of the pair join in the last query the span materialized,
    * read from the executed plan's SQL metrics. */
  def joinRows(spanName: String): Option[Long] = { attributeQueries(); synchronized(lastJoinRows.get(spanName)) }

  private def attributeQueries(): Unit = {
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    var q = queries.poll()
    while (q != null) {
      val (at, planS, qe) = q
      spanAt(at).foreach { s =>
        add(s, "plan_s", planS)
        joins(qe.executedPlan).headOption.foreach(j => synchronized { lastJoinRows(s) = j })
      }
      q = queries.poll()
    }
  }

  /** numOutputRows of each join in a (possibly adaptive) physical plan,
    * outermost first. */
  private def joins(plan: SparkPlan): Seq[Long] = plan match {
    case a: AdaptiveSparkPlanExec => joins(a.executedPlan)
    case s: QueryStageExec        => joins(s.plan)
    case c: InMemoryTableScanExec => joins(c.relation.cachedPlan)
    case j: BaseJoinExec =>
      j.metrics.get("numOutputRows").map(_.value).toSeq ++ j.children.flatMap(joins)
    case p => p.children.flatMap(joins)
  }

  /** Per-round means of every span statistic and count. */
  def summary(rounds: Int): Seq[(String, Double)] = {
    attributeQueries()
    synchronized {
      val perSpan = for (s <- Workload.AllSpans; st <- Trace.SpanStats)
        yield s"$s.$st" -> stats.get(s).flatMap(_.get(st)).getOrElse(0.0) / rounds
      perSpan ++ counts.toSeq.map { case (k, v) => k -> v / rounds }
    }
  }
}
