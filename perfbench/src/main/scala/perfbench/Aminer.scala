package perfbench

import graft.metrics.Quality
import graft.output.Writers
import graft.pipeline.EntityResolution
import graft.pipeline.EntityResolution.Config
import graft.sources.AminerReader
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import scala.jdk.CollectionConverters._

/** The generated dumps and their ground truth (see gen_aminer.py). */
final class AminerInput(dir: String) {
  val dblpPath = s"$dir/dblp.txt"
  val acmPath = s"$dir/acm.txt"
  private val truth = new com.fasterxml.jackson.databind.ObjectMapper()
    .readTree(new java.io.File(s"$dir/truth.json"))
  val dblpKept: Long = truth.get("dblp_kept").asLong
  val acmKept: Long = truth.get("acm_kept").asLong
  /** Planted duplicates as (dblp #index, acm #index). */
  val pairs: Set[(String, String)] =
    truth.get("pairs").elements.asScala.map(p => (p.get(0).asText, p.get(1).asText)).toSet
  val dumpBytes: Long = new java.io.File(dblpPath).length + new java.io.File(acmPath).length
}

/** Helpers for the pipeline workload's checks. */
object AminerChecks {

  def recs(side: DataFrame): Seq[Checks.Rec] =
    side.select(col("id"), col("title"), col("authors"), col("`publication venue`"), col("year"))
      .collect().toSeq
      .map(r => Checks.Rec(r.getLong(0), r.getString(1), r.getString(2), r.getString(3), r.getInt(4)))

  def pairSet(pairs: DataFrame): Set[(Long, Long)] =
    pairs.select("dblp_id", "acm_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  /** #index -> id of a prepared side. */
  def ids(side: DataFrame): Map[String, Long] =
    side.select(col("index"), col("id")).collect().map(r => r.getString(0) -> r.getLong(1)).toMap

  /** P/R/F1 of a pair set against the planted truth inside the filter. */
  def truthScore(
      found: Set[(Long, Long)], in: AminerInput,
      dblpIds: Map[String, Long], acmIds: Map[String, Long]): (Double, Double, Double) = {
    val truth = in.pairs.flatMap { case (d, a) =>
      for (x <- dblpIds.get(d); y <- acmIds.get(a)) yield (x, y)
    }
    val tp = found.intersect(truth).size.toDouble
    val p = if (found.isEmpty) 0.0 else tp / found.size
    val r = if (truth.isEmpty) 0.0 else tp / truth.size
    val f1 = if (p + r == 0) 0.0 else 2 * p * r / (p + r)
    (p, r, f1)
  }
}

/** The paper's pipeline on generated dumps, in one job per round: the
  * reference monolith (`pipeline.Main`'s path: prepare both dumps, match,
  * cluster, emit, write the TSV and the duplicates parquet) with the
  * report's Table 1 experiment on the prepared sides (the exhaustive match
  * and blocked N=1 and N=2, each written with `Writers.writeParquet`, read
  * back and scored by `Quality.measure` against the exhaustive run). The
  * clustered result is the N=2 match, as in the report.
  */
final class AminerPipeline(dir: String, work: String) extends Workload {
  private val in = new AminerInput(dir)
  private val blockSizes = Seq(1, 2)
  private val clusterN = 2
  private val out = s"$work/out"
  // The last round's prepared sides and N=2 pairs, kept for the checks.
  private var last: Option[(DataFrame, DataFrame, DataFrame)] = None
  private var measured = Map.empty[Int, Quality.Metrics]

  def stage(spark: SparkSession): Unit = ()

  private def cfg(n: Option[Int]) = Config(yearBlockSize = n)
  private def label(n: Option[Int]) = n.fold("full")(k => s"n$k")

  private def release(): Unit = {
    last.foreach { case (d, a, p) => Seq(d, a, p).foreach(_.unpersist(blocking = true)) }
    last = None
  }

  def round(spark: SparkSession, trace: Trace, run: Runner): Unit = {
    release()
    measured = Map.empty
    val sides = run("prepare") {
      trace match {
        case t: Tracer => prepareTraced(spark, t)
        case _ => (
          EntityResolution.prepareDataset(spark, in.dblpPath, cfg(Some(clusterN))).cache(),
          EntityResolution.prepareDataset(spark, in.acmPath, cfg(Some(clusterN))).cache())
      }
    }
    for ((dblp, acm) <- sides) {
      var pairs: DataFrame = null
      for (n <- None +: blockSizes.map(Some(_))) run(s"match_${label(n)}") {
        val m = trace.span("pipeline.match") {
          val p = EntityResolution.matchPairs(dblp, acm, cfg(n))
          if (trace.enabled) Workload.materialize(p) else if (n.contains(clusterN)) p.cache() else p
        }
        trace match { case t: Tracer => Pipeline.countMatch(t, m, dblp.count() * acm.count()); case _ => () }
        trace.span("output.write") {
          Writers.writeParquet(m, s"$out/${label(n)}", coalesce1 = true)
          if (trace.enabled) spark.read.parquet(s"$out/${label(n)}").count()
        }
        if (n.contains(clusterN)) pairs = m else if (trace.enabled) m.unpersist()
      }
      last = Some((dblp, acm, pairs))
      for (n <- blockSizes) run(s"measure_n$n") {
        measured += n -> trace.span("metrics.quality") {
          Quality.measure(spark.read.parquet(s"$out/full"), spark.read.parquet(s"$out/n$n"))
        }
      }
      if (pairs != null) run("cluster_emit") {
        trace match {
          case t: Tracer => clusterTraced(t, dblp, acm, pairs)
          case _ =>
            val wide = EntityResolution.emitEntities(EntityResolution.resolveEntities(pairs), dblp, acm)
            Writers.writeCsvRenamed(wide, s"$out/entities")
            Writers.writeParquet(pairs, s"$out/duplicates", coalesce1 = true)
        }
      }
    }
  }

  /** `prepareDataset` split into the calls it makes, one span each, so
    * parse, filter and clean are timed apart. */
  private def prepareTraced(spark: SparkSession, t: Tracer): (DataFrame, DataFrame) = {
    import Workload.materialize
    val c = cfg(Some(clusterN))
    def prepare(path: String): DataFrame = {
      val parsed = t.span("sources.load") {
        materialize(AminerReader.load(spark, path).repartition(spark.sparkContext.defaultParallelism))
      }
      t.count("sources.records", parsed.count().toDouble)
      val filtered = t.span("sources.filter") {
        materialize(AminerReader.filterByYearAndVenue(parsed, c.lowerYear, c.upperYear, c.venues))
      }
      t.count("sources.kept", filtered.count().toDouble)
      val cleaned = t.span("pipeline.clean") {
        materialize(EntityResolution.cleanDf(filtered)
          .withColumn("id", xxhash64(col("value")))
          .withColumn("num_authors", graft.functions.Cleaning.numAuthors(col("authors"))))
      }
      parsed.unpersist(); filtered.unpersist()
      cleaned
    }
    t.count("sources.mb", in.dumpBytes / 1048576.0)
    (prepare(in.dblpPath), prepare(in.acmPath))
  }

  private def clusterTraced(t: Tracer, dblp: DataFrame, acm: DataFrame, pairs: DataFrame): Unit = {
    import Workload.materialize
    val clustered = t.span("pipeline.cluster")(materialize(EntityResolution.resolveEntities(pairs)))
    t.count("operators.cc.edges", pairs.count().toDouble)
    t.count("operators.cc.components", clustered.select("cluster_id").distinct().count().toDouble)
    val wide = t.span("pipeline.emit")(materialize(EntityResolution.emitEntities(clustered, dblp, acm)))
    t.span("output.write") {
      Writers.writeCsvRenamed(wide, s"$out/entities")
      Writers.writeParquet(pairs, s"$out/duplicates", coalesce1 = true)
    }
    t.count("output.mb", (Workload.dirBytes(s"$out/entities") + Workload.dirBytes(s"$out/duplicates")) / 1048576.0)
    clustered.unpersist(); wide.unpersist()
  }

  def check(spark: SparkSession, log: String => Unit): Seq[String] = last match {
    case Some((dblp, acm, pairs)) if pairs != null && blockSizes.forall(measured.contains) =>
      checkOutputs(spark, dblp, acm, pairs, log)
    case _ => Seq("the last round left no outputs to check (see the failed operations)")
  }

  private def checkOutputs(
      spark: SparkSession, dblp: DataFrame, acm: DataFrame, pairs: DataFrame,
      log: String => Unit): Seq[String] = {
    val errs = Seq.newBuilder[String]
    val full = AminerChecks.pairSet(spark.read.parquet(s"$out/full"))

    // Kept counts, and the independent predicate over the program's
    // cleaned sides against the exhaustive pair set.
    val (nd, na) = (dblp.count(), acm.count())
    if (nd != in.dblpKept || na != in.acmKept)
      errs += s"kept records dblp=$nd acm=$na, generator says ${in.dblpKept}/${in.acmKept}"
    val oracle = Checks.allMatches(AminerChecks.recs(dblp), AminerChecks.recs(acm))
    val oracleIds = oracle.map { case (l, r) => (l.id, r.id) }
    if (oracleIds != full)
      errs += s"exhaustive match: ${full.size} pairs, independent predicate ${oracleIds.size} " +
        s"(only program ${(full -- oracleIds).take(3)}, only predicate ${(oracleIds -- full).take(3)})"

    // Blocked runs: the independent blocking of the exhaustive pairs
    // (hence a subset of them), recall non-decreasing in N,
    // Quality.measure agreeing with set arithmetic; N=9 is exhaustive.
    val n9 = AminerChecks.pairSet(EntityResolution.matchPairs(dblp, acm, cfg(Some(9))))
    if (n9 != full) errs += s"N=9 gives ${n9.size} pairs, exhaustive ${full.size}"
    val (dIds, aIds) = (AminerChecks.ids(dblp), AminerChecks.ids(acm))
    var lastTp = -1L
    for (n <- blockSizes) {
      val b = AminerChecks.pairSet(spark.read.parquet(s"$out/n$n"))
      val want = oracle.collect { case (l, r) if Checks.sameBlock(l, r, n) => (l.id, r.id) }
      if (b != want) errs += s"N=$n: ${b.size} pairs, independent blocking ${want.size}"
      val (tp, fp, fn) = (b.intersect(full).size.toLong, (b -- full).size.toLong, (full -- b).size.toLong)
      val m = measured(n)
      if (m.truePositives != tp || m.falsePositives != fp || m.falseNegatives != fn)
        errs += s"Quality.measure N=$n: tp=${m.truePositives} fp=${m.falsePositives} fn=${m.falseNegatives}, " +
          s"sets give tp=$tp fp=$fp fn=$fn"
      if (tp < lastTp) errs += s"recall falls at N=$n"
      lastTp = tp
      val (p, r, f1) = AminerChecks.truthScore(b, in, dIds, aIds)
      log(f"N=$n: pairs=${b.size} recall_vs_exhaustive=${m.recall}%.3f truth precision=$p%.3f recall=$r%.3f f1=$f1%.3f")
    }
    val (p, r, f1) = AminerChecks.truthScore(full, in, dIds, aIds)
    log(f"exhaustive: pairs=${full.size} truth precision=$p%.3f recall=$r%.3f f1=$f1%.3f")

    val blocked = AminerChecks.pairSet(pairs)
    val written = AminerChecks.pairSet(spark.read.parquet(s"$out/duplicates"))
    if (written != blocked) errs += s"duplicates parquet holds ${written.size} pairs, the N=$clusterN match ${blocked.size}"

    // Union-find over the clustered pairs against resolveEntities.
    val expected = Checks.components(blocked.toSeq.map { case (d, a) => (("dblp", d), ("acm", a)) })
    val clusters = EntityResolution.resolveEntities(pairs).select("df_name", "id", "cluster_id").collect()
      .groupBy(_.getLong(2)).values.map(_.map(r => (r.getString(0), r.getLong(1))).toSet).toSet
    if (clusters != expected) errs += s"resolveEntities gave ${clusters.size} clusters, union-find ${expected.size}"
    errs ++= tsvErrors(dblp, acm, expected)
    release()
    errs.result()
  }

  /** One TSV row per component; each cell is the raw text of an input
    * record of that component. */
  private def tsvErrors(dblp: DataFrame, acm: DataFrame, comps: Set[Set[(String, Long)]]): Seq[String] = {
    val raw = Seq("dblp" -> dblp, "acm" -> acm).flatMap { case (side, df) =>
      df.select("value", "id").collect().map(r => r.getString(0) -> (side, r.getLong(1)))
    }.toMap
    val compOf = comps.zipWithIndex.flatMap { case (c, i) => c.map(_ -> i) }.toMap
    val src = scala.io.Source.fromFile(s"$out/entities/Matched_Entities.csv", "UTF-8")
    val lines = try src.getLines().toVector finally src.close()
    // Spark's CSV writer quotes a value that starts with '#'.
    def unquote(c: String) =
      if (c.length >= 2 && c.startsWith("\"") && c.endsWith("\"")) c.substring(1, c.length - 1).replace("\\\"", "\"")
      else c
    if (!lines.headOption.contains("acm_first(value)\tdblp_first(value)"))
      return Seq(s"TSV header is ${lines.headOption}")
    val rows = lines.tail.map(_.split("\t", -1).toSeq.map(c => raw.get(unquote(c)).flatMap(compOf.get)))
    if (rows.exists(cells => cells.size != 2 || cells.exists(_.isEmpty) || cells.distinct.size != 1))
      Seq("a TSV row holds a cell that is not the raw text of a record of its component")
    else if (rows.size != comps.size || rows.map(_.head).toSet.size != comps.size)
      Seq(s"TSV has ${rows.size} rows for ${comps.size} components")
    else Nil
  }
}

/** Per-layer counts of a materialized match. */
object Pipeline {
  def countMatch(t: Tracer, pairs: DataFrame, pairSpace: Long): Unit = {
    t.count("pipeline.match.pairs", pairs.count().toDouble)
    t.count("pipeline.match.pair_space", pairSpace.toDouble)
    t.joinRows("pipeline.match").foreach(n => t.count("pipeline.match.candidates", n.toDouble))
  }
}
