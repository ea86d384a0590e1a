package perfbench

import graft.{Caches, SparkEntry}
import graft.queries.RelationalQueries
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types.StructType

import scala.jdk.CollectionConverters._

/** A fixed list of surface queries over the generated harness tables.
  *
  * Each round opens a fresh session on the shared context with the cache
  * cleared, so the shared frames the queries read are built inside the
  * round: the family warm-up first, then every query, each materialized
  * to its full result with `collect()`. Results are compared with the
  * DuckDB oracle rows oracle.py wrote for the same tables.
  */
final class Surface(dir: String) extends Workload {
  import Surface.{Queries => queries, Warm => warm}

  // A round of many short queries leaves the JIT compilers behind more
  // than the pipeline's few long stages do: after one warm-up round, the
  // CPU time of a single measured round spread 0.17–0.24 over five seeds.
  // The median of three rounds is steadier.
  override def minRounds: Int = 3

  private var oracle = Map.empty[String, (Seq[String], Seq[String])]
  private var results = Map.empty[String, (StructType, Array[Row])]

  def stage(spark: SparkSession): Unit = {
    val node = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(new java.io.File(s"$dir/oracle.json"))
    oracle = queries.map { q =>
      val r = node.get(q)
      q -> (r.get("cols").elements.asScala.map(_.asText).toSeq,
        r.get("rows").elements.asScala.map(_.asText).toSeq.sorted)
    }.toMap
  }

  def round(spark: SparkSession, trace: Trace, run: Runner): Unit = {
    spark.catalog.clearCache()
    val s = spark.newSession()
    trace.onSession(s)
    run("warm")(trace.span("queries.warm")(warm.foreach(_(s, dir))))
    if (trace.enabled)
      trace.count("queries.cached_mb",
        s.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum / 1048576.0)
    results = queries.flatMap { q =>
      run(q) {
        trace.span("queries.run") {
          val df = SparkEntry.queries(q)(s, dir)
          val rows = df.collect()
          Caches.releaseAll()
          q -> (df.schema, rows)
        }
      }
    }.toMap
  }

  def check(spark: SparkSession, log: String => Unit): Seq[String] =
    queries.flatMap { q =>
      results.get(q) match {
        case None => Some(s"$q: no result (the query failed)")
        case Some((schema, rows)) =>
          val (cols, got) = Canon.rows(schema, rows)
          val (ocols, want) = oracle(q)
          if (cols != ocols) Some(s"$q: columns $cols, oracle $ocols")
          else if (got != want) {
            val (g, w) = (got.diff(want), want.diff(got))
            Some(s"$q: ${got.size} rows, oracle ${want.size}; only program ${g.take(2)}, only oracle ${w.take(2)}")
          } else None
      }
    }
}

object Surface {
  /** Similarity joins over the documents that share one persisted frame,
    * the shingled corpus. */
  val DedupQueries: Seq[String] = Seq("dd_setsim", "dd_minhash")

  /** Relational rows where per-query planning and job launch dominate. */
  val TailQueries: Seq[String] = Seq(
    "q1_agg", "q3_join_agg", "q5_anti", "q11_window", "q14_sessionize", "q16_rollup", "q35_map")

  val Queries: Seq[String] = DedupQueries ++ TailQueries

  /** The family warm-ups of the queries above: the shingled corpus and
    * the parsed events props. */
  val Warm: Seq[(SparkSession, String) => Unit] =
    Seq(graft.queries.DedupQueries.warm, RelationalQueries.warm)
}
