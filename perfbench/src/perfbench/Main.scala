package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Runs one workload in this JVM and prints the host fingerprint and then
  * the result object as the last line of stdout. See perfbench/README.md.
  */
object Main {
  /** Set-ups per run; a warm rebuild takes ~0.1 s, so the median needs many. */
  val SetupReps = 11
  val Cores = 4

  val CorpusModules: Seq[String] =
    Seq("parse", "enrich", "route", "agg", "expr", "plugins", "data", "pipeline")

  /** End-to-end metrics, reported by untraced runs. */
  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "turns_per_s" -> "turns/s",
    "op_p50_ms" -> "ms", "op_p75_ms" -> "ms", "peak_rss_mb" -> "MB")

  /** Per-layer metrics, reported by traced runs. */
  val PerLayer: Seq[(String, String)] = Seq(
    "pipeline.jobs" -> "count", "pipeline.jobs_per_group" -> "count",
    "pipeline.driver_s" -> "s", "pipeline.count_in_job_s" -> "s",
    "pipeline.write_job_s" -> "s", "pipeline.count_job_s" -> "s",
    "pipeline.discover_s" -> "s", "pipeline.compile_s" -> "s", "manifest.read_s" -> "s",
    "pipeline.bytes_out" -> "bytes", "pipeline.files_out" -> "count",
    "pipeline.cpu_util" -> "ratio",
    "route.rows.sink_errors" -> "count", "route.rows.sink_tools" -> "count",
    "route.rows.sink_default" -> "count",
    "agg.logDedup_s" -> "s", "enrich.regroup_s" -> "s",
    "shuffle.write_mb" -> "MB", "shuffle.read_mb" -> "MB", "shuffle.spill_mb" -> "MB",
    "shuffle.reduce_skew" -> "ratio", "exec.peak_mem_mb" -> "MB",
    "corpus.build_s" -> "s", "corpus.plan_s" -> "s", "corpus.execute_s" -> "s",
    "corpus.jobs" -> "count") ++
    CorpusModules.flatMap(m => Seq(s"corpus.$m.build_s" -> "s",
      s"corpus.$m.execute_s" -> "s", s"corpus.$m.jobs" -> "count")) ++ Seq(
    "session.cold_setup_s" -> "s", "session.cold_pass_s" -> "s", "model.generate_s" -> "s",
    "trace.overhead_ratio" -> "ratio")

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val traced = a("trace") == "1"
    val work = a("work")
    // process start on the nanoTime clock, so every set-up is timed with it
    val jvmStartNs = System.nanoTime() -
      (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) * 1000000L
    val loadAvg = new String(Files.readAllBytes(Paths.get("/proc/loadavg"))).trim
      .split(" ").take(3).mkString(" ")
    val wl = Workload(a("workload"), seed, work, a("data"))

    // set-up: process start (or session stop) → session ready → inputs
    // discovered, several times; input generation is excluded. Only the
    // first counts from process start (session.cold_setup_s); setup_s is the
    // median, so it times a session rebuild in this already warm JVM
    var spark: SparkSession = null
    var generateS = 0.0
    val setups = (0 until SetupReps).map { i =>
      val t0 = if (i == 0) jvmStartNs else System.nanoTime()
      if (spark != null) spark.stop()
      spark = session(work)
      val ready = System.nanoTime()
      if (i == 0) generateS = Workload.timedS(wl.prepare(spark))
      val d0 = System.nanoTime()
      wl.discover(spark)
      (ready - t0 + System.nanoTime() - d0) / 1e9
    }
    log(f"inputs prepared in $generateS%.3f s")

    log(f"set-up done, median ${median(setups)}%.3f s of ${setups.map(x => f"$x%.3f").mkString(", ")}")
    val tr = new Tracer(spark.sparkContext)
    val all = mutable.ArrayBuffer[PassResult]()
    def runPass(withTrace: Boolean): (PassResult, Option[Span]) = {
      if (withTrace) tr.start()
      val name = s"pass ${all.size}"
      val r = tr.span(wl.name)(tr.span(name)(wl.pass(spark, tr)))
      val span = if (withTrace) { tr.stop(); tr.spans.find(_.name == name) } else None
      all += r
      (r, span)
    }

    val (cold, _) = runPass(withTrace = false)
    log(f"cold pass ${cold.wallS}%.3f s${slowest(cold)}")
    // a count of passes, not a time: the window then starts at the same point
    // of the JIT's warm-up on a fast host and on a slow one
    for (_ <- 0 until wl.warmPasses) {
      runPass(withTrace = false)
      log(f"warm-up pass ${all.size - 1}: ${all.last.wallS}%.3f s")
    }
    val untraced = mutable.ArrayBuffer[PassResult]()
    val tracedPasses = mutable.ArrayBuffer[(PassResult, Span)]()
    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    while (elapsed < seconds || untraced.isEmpty || (traced && tracedPasses.isEmpty)) {
      if (traced && untraced.size > tracedPasses.size) {
        val (r, s) = runPass(withTrace = true)
        tracedPasses += ((r, s.get))
      } else untraced += runPass(withTrace = false)._1
      log(f"pass ${all.size - 1}: ${all.last.wallS}%.3f s${slowest(all.last)}")
    }

    val metrics: Seq[(String, String, Double)] =
      if (!traced) {
        val walls = untraced.filter(_.clean).map(_.wallS).toSeq
        val opMs = untraced.flatMap(_.ops.filter(_.ok).map(_.ms)).toSeq
        val values = Map("setup_s" -> median(setups),
          "turns_per_s" -> (if (walls.isEmpty) 0.0 else wl.turns / median(walls)),
          "op_p50_ms" -> percentile(opMs, 0.5), "op_p75_ms" -> percentile(opMs, 0.75),
          "peak_rss_mb" -> peakRssMb())
        EndToEnd.map { case (k, unit) => (k, unit, values(k)) }
      } else {
        val layerRuns = tracedPasses.map { case (r, s) => wl.layers(tr, s, r) ++ sparkLayers(tr, s) }
        val keys = PerLayer.map(_._1)
        val unknown = layerRuns.flatMap(_.keySet).toSet -- keys
        require(unknown.isEmpty, s"per-layer metrics missing from PerLayer: $unknown")
        val fixed = Map(
          "session.cold_setup_s" -> setups.head,
          "session.cold_pass_s" -> cold.wallS,
          "model.generate_s" -> generateS,
          "trace.overhead_ratio" ->
            median(tracedPasses.map(_._1.wallS).toSeq) / median(untraced.map(_.wallS).toSeq))
        PerLayer.map { case (k, unit) =>
          (k, unit, fixed.getOrElse(k, median(layerRuns.map(_.getOrElse(k, 0.0)).toSeq)))
        }
      }

    val attempted = all.map(_.ops.size).sum
    val failed = all.map(_.ops.count(!_.ok)).sum
    if (traced) writeTrace(tr, s"$work/traces/${wl.name}-s$seed.jsonl")
    val host = Json.obj(Seq("host" -> Json.Raw(Json.obj(Seq(
      "nproc" -> Runtime.getRuntime.availableProcessors(), "spark_cores" -> Cores,
      "heap_mb" -> Runtime.getRuntime.maxMemory() / (1024 * 1024),
      "jdk" -> System.getProperty("java.version"),
      "scala" -> scala.util.Properties.versionNumberString, "spark" -> spark.version,
      "source" -> a("source-id"), "loadavg_start" -> loadAvg,
      "workload" -> wl.name, "seed" -> seed, "trace" -> traced,
      "warm_passes" -> (untraced.size + tracedPasses.size), "turns" -> wl.turns)))))
    spark.stop()
    System.err.println(summary(metrics))
    println(host)
    println(Json.obj(Seq("correct" -> (failed == 0), "attempted" -> attempted, "failed" -> failed,
      "metrics" -> Json.Raw(Json.obj(metrics.map { case (k, u, v) =>
        k -> Json.Raw(Json.obj(Seq("value" -> v, "unit" -> u)))
      })))))
  }

  def slowest(p: PassResult): String =
    if (p.ops.size < 2) ""
    else p.ops.sortBy(-_.ms).take(5).map(o => f"${o.name} ${o.ms}%.0f ms").mkString(" (slowest: ", ", ", ")")

  def log(msg: String): Unit = System.err.println(s"perfbench: $msg")

  def session(work: String): SparkSession = {
    val s = graft.GraftSession.builder(master = s"local[$Cores]")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Layer numbers every workload has: Spark's shuffle, spill and memory. */
  def sparkLayers(tr: Tracer, pass: Span): Map[String, Double] = {
    val stats = tr.statsUnder(pass)
    def mb(f: JobStats => Long): Double = stats.map(f(_).toDouble).sum / (1024 * 1024)
    val skews = stats.flatMap(_.reduceTaskMs.values).filter(_.size >= 2).map { ms =>
      ms.max.toDouble / math.max(1.0, median(ms.map(_.toDouble).toSeq))
    }
    Map("shuffle.write_mb" -> mb(_.shuffleWriteBytes), "shuffle.read_mb" -> mb(_.shuffleReadBytes),
      "shuffle.spill_mb" -> mb(_.spillBytes),
      "shuffle.reduce_skew" -> (if (skews.isEmpty) 1.0 else skews.max),
      "exec.peak_mem_mb" -> (if (stats.isEmpty) 0.0 else stats.map(_.peakExecMem).max / (1024.0 * 1024)))
  }

  def median(xs: Seq[Double]): Double = percentile(xs, 0.5)

  /** Linear interpolation between closest ranks; 0 for no samples. */
  def percentile(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val h = (s.size - 1) * p
      val lo = math.floor(h).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (h - lo) * (s(hi) - s(lo))
    }

  /** The JVM's peak resident set size (VmHWM). */
  def peakRssMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines().find(_.startsWith("VmHWM:"))
    line.map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)
  }

  def writeTrace(tr: Tracer, path: String): Unit = {
    Files.createDirectories(Paths.get(path).getParent)
    Files.writeString(Paths.get(path), tr.toJsonLines.mkString("", "\n", "\n"))
  }

  def summary(metrics: Seq[(String, String, Double)]): String =
    metrics.map { case (k, u, v) => f"  $k%-28s $v%14.4f $u" }.mkString("perfbench:\n", "\n", "")
}
