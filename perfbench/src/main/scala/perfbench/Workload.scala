package perfbench

import org.apache.spark.sql.SparkSession

import scala.collection.mutable

/** One timed operation of a round: a public call materialized to its full
  * result. A call that throws is recorded as failed with its cause and is
  * never counted as a timed success.
  */
final case class Op(name: String, seconds: Double, failure: Option[String])

/** What one workload does in a run: stage its inputs during set-up, then
  * run rounds of the same operations, then check the last round's
  * outputs.
  */
trait Workload {

  /** Stage inputs and load oracle results; called once per set-up. */
  def stage(spark: SparkSession): Unit

  /** One round. `run` times an operation and records its outcome. */
  def round(spark: SparkSession, trace: Trace, run: Runner): Unit

  /** Check the last round's outputs; returns the failed checks. */
  def check(spark: SparkSession, log: String => Unit): Seq[String]

  /** Measured rounds a run makes at the least; cpu_s is their median. */
  def minRounds: Int = 1
}

/** Times operations and keeps their outcomes for one run. */
final class Runner {
  val ops = mutable.ArrayBuffer.empty[Op]

  def apply[T](name: String)(body: => T): Option[T] = {
    val t0 = System.nanoTime()
    try {
      val r = body
      ops += Op(name, (System.nanoTime() - t0) / 1e9, None)
      Some(r)
    } catch {
      case e: Throwable =>
        val cause = s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).linesIterator.take(1).mkString}"
        ops += Op(name, (System.nanoTime() - t0) / 1e9, Some(cause))
        None
    }
  }
}

object Workload {

  val AllSpans: Seq[String] = Seq("sources.load", "sources.filter", "pipeline.clean",
    "pipeline.match", "pipeline.cluster", "pipeline.emit", "output.write", "metrics.quality",
    "queries.warm", "queries.run")

  /** Every per-layer metric a traced run reports, on every workload (a
    * span or count the workload never reaches reads 0). */
  val PerLayer: Seq[String] = AllSpans.flatMap(s => Trace.SpanStats.map(st => s"$s.$st")) ++ Seq(
    "sources.records", "sources.mb", "sources.kept",
    "pipeline.match.candidates", "pipeline.match.pairs", "pipeline.match.pair_space",
    "pipeline.match.yield", "pipeline.match.reduction",
    "operators.cc.edges", "operators.cc.components", "output.mb", "queries.cached_mb",
    "session.build_s", "queries.run.p50_s", "queries.run.tail_s", "queries.run.samples",
    "trace.wall_s", "trace.cpu_s", "trace.jit_cpu_s", "trace.span_cpu_share")

  def unit(metric: String): String =
    if (metric.endsWith("_s") || metric.endsWith(".s")) "s"
    else if (metric.endsWith("_mb") || metric.endsWith(".mb")) "MB"
    else if (metric.endsWith(".yield") || metric.endsWith(".reduction") || metric.endsWith("_share")) "ratio"
    else "count"

  /** Materialize a frame into the cache: the traced run materializes each
    * span's output inside the span, so the next span starts from
    * materialized input. */
  def materialize[T <: org.apache.spark.sql.Dataset[_]](ds: T): T = {
    ds.cache()
    ds.count()
    ds
  }

  def dirBytes(path: String): Long = {
    val f = new java.io.File(path)
    if (f.isDirectory) Option(f.listFiles).toSeq.flatten.map(g => dirBytes(g.getPath)).sum
    else if (f.isFile) f.length
    else 0L
  }

  def byName(name: String, input: String, work: String): Workload = name match {
    case "aminer_pipeline" => new AminerPipeline(input, work)
    case "query_surface"   => new Surface(input)
    case other             => throw new IllegalArgumentException(s"unknown workload $other")
  }
}
