package perfbench

import graft.GraftSession
import org.apache.spark.sql.SparkSession

/** One benchmark run in one JVM: set up several times, run one warm-up
  * round on a small input, run whole rounds on the measured input until
  * `--seconds` have passed (at least the workload's `minRounds`), check
  * the outputs, and write the result JSON.
  *
  * Usage: BenchMain --workload W --input DIR --warmup DIR --work DIR
  *                  --seconds S --trace 0|1 --out FILE
  */
object BenchMain {

  private val Setups = 5

  def cpuNs(): Long =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  /** CPU time the JIT compiler threads have used so far, in ns, read from
    * /proc/self/task in clock ticks of 10 ms. run.py starts the JVM with
    * -XX:-UseDynamicNumberOfCompilerThreads, so these threads live as long
    * as the JVM and none of their time leaves with an exited thread. */
  def jitCpuNs(): Long =
    Option(new java.io.File("/proc/self/task").listFiles).toSeq.flatten.map { t =>
      def read(f: String): String =
        try new String(java.nio.file.Files.readAllBytes(new java.io.File(t, f).toPath))
        catch { case _: java.io.IOException => "" }
      val stat = read("stat")
      if (!read("comm").contains("CompilerThre") || !stat.contains(")")) 0L
      else {
        val f = stat.substring(stat.lastIndexOf(')') + 2).split(" ")
        (f(11).toLong + f(12).toLong) * 10000000L
      }
    }.sum

  /** Process CPU time less the JIT compilers', in ns: the work of the
    * program's own threads (driver, tasks, Spark's services, GC). */
  def programCpuNs(): Long = cpuNs() - jitCpuNs()

  /** The largest heap occupancy right after a collection since `reset()`,
    * from the collectors' notifications: the most memory the program held
    * live at once, apart from garbage not yet collected. Unlike the
    * resident set it does not follow the collector's choice of heap size. */
  object HeapAfterGc {
    @volatile private var peak = 0L
    def reset(): Unit = peak = 0L
    def mb: Double = peak / 1048576.0
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.forEach {
      case e: javax.management.NotificationEmitter =>
        e.addNotificationListener((n: javax.management.Notification, _: AnyRef) =>
          if (n.getType == com.sun.management.GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
            val info = com.sun.management.GarbageCollectionNotificationInfo
              .from(n.getUserData.asInstanceOf[javax.management.openmbean.CompositeData]).getGcInfo
            var used = 0L
            info.getMemoryUsageAfterGc.values.forEach(u => used += u.getUsed)
            synchronized { if (used > peak) peak = used }
          }, null, null)
      case _ => ()
    }
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** The highest percentile with at least ten samples beyond it (the
    * median when there are fewer than forty samples), and that percentile. */
  def tail(xs: Seq[Double]): (Double, Int) = {
    val s = xs.sorted
    if (s.size < 40) (median(s), 50)
    else {
      val p = ((s.size - 10) * 100) / s.size
      (s(math.ceil(p / 100.0 * s.size).toInt - 1), p)
    }
  }

  def main(args: Array[String]): Unit = {
    def arg(name: String): Option[String] = {
      val i = args.indexOf(s"--$name")
      if (i >= 0 && i + 1 < args.length) Some(args(i + 1)) else None
    }
    val name = arg("workload").get
    val seconds = arg("seconds").get.toDouble
    val traced = arg("trace").contains("1")
    val work = arg("work").get
    val log = (s: String) => System.err.println(s"[perfbench] $s")

    // Set-up: a fresh session and the workload's staged inputs, repeated;
    // setup_s is the median CPU time the calling thread spends on it. Its
    // wall time is also logged, but on a shared host it moves with the
    // CPU time the hypervisor gives to other guests. The last session
    // stays up for the run.
    val workload = Workload.byName(name, arg("input").get, work)
    var spark: SparkSession = null
    val threadCpu = java.lang.management.ManagementFactory.getThreadMXBean
    val setupTimes = (1 to Setups).map { _ =>
      if (spark != null) spark.stop()
      val (t0, c0) = (System.nanoTime(), threadCpu.getCurrentThreadCpuTime)
      spark = GraftSession.builder().getOrCreate()
      spark.sparkContext.setLogLevel("ERROR")
      val built = (System.nanoTime() - t0) / 1e9
      workload.stage(spark)
      ((threadCpu.getCurrentThreadCpuTime - c0) / 1e9, (System.nanoTime() - t0) / 1e9, built)
    }

    // Warm-up: one round on the small input, neither timed nor checked,
    // so the measured rounds run code the JVM has loaded and compiled and
    // their CPU time is the program's work rather than JIT compilation.
    // Its input lies in another directory, so nothing the program keeps
    // from it (cached frames, memos keyed by path) serves a measured round.
    val warmup = new Runner
    Workload.byName(name, arg("warmup").get, s"$work/warmup").round(spark, Trace.Off, warmup)
    spark.catalog.clearCache()
    log(f"warm-up round: ${warmup.ops.map(_.seconds).sum}%.3f s")

    val trace: Trace = if (traced) new Tracer(spark) else Trace.Off
    val runner = new Runner
    HeapAfterGc.reset()
    val walls = Seq.newBuilder[Double]
    val cpus = Seq.newBuilder[Double]
    val jits = Seq.newBuilder[Double]
    val start = System.nanoTime()
    var rounds = 0
    while (rounds < workload.minRounds || (System.nanoTime() - start) / 1e9 < seconds) {
      val (t0, c0, j0) = (System.nanoTime(), cpuNs(), jitCpuNs())
      workload.round(spark, trace, runner)
      val (w, jit) = ((System.nanoTime() - t0) / 1e9, (jitCpuNs() - j0) / 1e9)
      val c = (cpuNs() - c0) / 1e9 - jit
      log(f"round ${rounds + 1}: wall_s=$w%.3f cpu_s=$c%.3f jit_cpu_s=$jit%.3f")
      jits += jit
      walls += w
      cpus += c
      rounds += 1
    }
    val tc = System.nanoTime()
    val checkErrs = workload.check(spark, log)
    log(f"checks: ${(System.nanoTime() - tc) / 1e9}%.3f s")
    checkErrs.foreach(e => log(s"CHECK FAILED: $e"))
    val allOps = warmup.ops ++ runner.ops
    val failedOps = allOps.filter(_.failure.isDefined)
    failedOps.groupBy(_.name).foreach { case (op, fs) => log(s"FAILED $op x${fs.size}: ${fs.head.failure.get}") }

    runner.ops.groupBy(_.name).toSeq.sortBy(-_._2.map(_.seconds).sum).foreach { case (op, os) =>
      log(f"op $op%-16s n=${os.size}%3d median_s=${median(os.map(_.seconds).toSeq)}%.3f")
    }
    val wall = median(walls.result())
    val cpu = median(cpus.result())
    log(f"rounds=$rounds wall_s=$wall%.3f cpu_s=$cpu%.2f peak_heap_mb=${HeapAfterGc.mb}%.1f " +
      s"setup_cpu_s=${setupTimes.map(x => f"${x._1}%.3f").mkString(",")} " +
      s"setup_wall_s=${setupTimes.map(x => f"${x._2}%.3f").mkString(",")}")

    val metrics: Seq[(String, Double, String)] =
      if (!traced) Seq(
        ("setup_s", median(setupTimes.map(_._1)), "s"),
        ("cpu_s", cpu, "s"),
        ("peak_heap_mb", HeapAfterGc.mb, "MB"))
      else {
        val t = trace.asInstanceOf[Tracer]
        val queryTimes = runner.ops.filter(o => o.failure.isEmpty && Surface.Queries.contains(o.name))
          .map(_.seconds).toSeq
        val (qTail, _) = tail(queryTimes)
        val layer = t.summary(rounds).toMap
        val cand = layer.getOrElse("pipeline.match.candidates", 0.0)
        val pairs = layer.getOrElse("pipeline.match.pairs", 0.0)
        val space = layer.getOrElse("pipeline.match.pair_space", 0.0)
        val derived = Map(
          "pipeline.match.yield" -> (if (cand > 0) pairs / cand else 0.0),
          "pipeline.match.reduction" -> (if (space > 0) 1 - cand / space else 0.0),
          "session.build_s" -> median(setupTimes.map(_._3)),
          "queries.run.p50_s" -> (if (queryTimes.isEmpty) 0.0 else median(queryTimes)),
          "queries.run.tail_s" -> (if (queryTimes.isEmpty) 0.0 else qTail),
          "queries.run.samples" -> queryTimes.size.toDouble,
          "trace.wall_s" -> wall,
          "trace.cpu_s" -> cpu,
          "trace.jit_cpu_s" -> median(jits.result()),
          "trace.span_cpu_share" -> layer.getOrElse("trace.span_cpu_s", 0.0) * rounds / cpus.result().sum)
        Workload.PerLayer.map(m => (m, derived.getOrElse(m, layer.getOrElse(m, 0.0)), Workload.unit(m)))
      }
    spark.stop()

    val body = Json.obj(Seq(
      "correct" -> (if (checkErrs.isEmpty) "true" else "false"),
      "attempted" -> allOps.size.toString,
      "failed" -> failedOps.size.toString,
      "metrics" -> Json.obj(metrics.map { case (k, v, u) =>
        k -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u)))
      })))
    java.nio.file.Files.writeString(java.nio.file.Paths.get(arg("out").get), body + "\n")
  }
}
