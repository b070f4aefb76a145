package perfbench

import java.io.File
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.util.Random

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.SparkEntry
import graft.agg.AggOps
import graft.enrich.EnrichOps
import graft.model.Transcripts
import graft.pipeline.{Manifest, Pipeline, PipelineRunner}

/** One timed operation: its wall time (work only, never the output check)
  * and whether it both ran and passed its check.
  */
final case class Op(name: String, ms: Double, ok: Boolean)

final case class PassResult(ops: Seq[Op], counts: Map[String, Double] = Map.empty) {
  /** Wall time of the pass's passed ops: a failed op is counted, never timed. */
  def wallS: Double = ops.filter(_.ok).map(_.ms).sum / 1000
  def clean: Boolean = ops.forall(_.ok)
}

/** Row count and order-independent content hash of one hour partition. */
final case class Part(path: String, rows: Long, hash: java.math.BigDecimal)

abstract class Workload(val name: String) {
  /** Input turns one pass processes. */
  def turns: Long
  /** Make this run's inputs from the seed, before anything is timed. Every
    * run does the same preparation, so the measured JVM starts from the same
    * state whether or not a seed was run before.
    */
  def prepare(spark: SparkSession): Unit
  /** The set-up work timed by `setup_s` after the session is ready. */
  def discover(spark: SparkSession): Unit
  def pass(spark: SparkSession, tr: Tracer): PassResult
  /** Untimed passes after the cold one, before the measured window: the
    * first passes are slow while the JIT works through Spark's and the
    * generated code.
    */
  def warmPasses: Int
  /** Per-layer numbers of one traced pass. */
  def layers(tr: Tracer, pass: Span, result: PassResult): Map[String, Double]

  /** Time `work`, then check its result outside the timed region. A throw or
    * a failed check is reported on stderr and marks the op failed.
    */
  protected def op[T](tr: Tracer, opName: String, kind: String = "bench")(work: => T)
                     (check: T => Seq[String]): Op = {
    val t0 = System.nanoTime()
    var ms = 0.0
    val problems =
      try {
        val r = tr.span(opName, kind)(work)
        ms = (System.nanoTime() - t0) / 1e6
        tr.span("verify")(check(r))
      } catch {
        case e: Exception =>
          ms = (System.nanoTime() - t0) / 1e6
          Seq(s"threw ${e.getClass.getName}: ${String.valueOf(e.getMessage).take(300)}")
      }
    problems.foreach(p => System.err.println(s"perfbench: FAILED $name/$opName: $p"))
    Op(opName, ms, problems.isEmpty)
  }

  protected def expect(what: String, got: Any, want: Any): Seq[String] =
    if (got == want) Nil else Seq(s"$what = $got, expected $want")
}

object Workload {
  def apply(name: String, seed: Long, work: String, data: String): Workload = name match {
    case "pipeline_hourly" => new PipelineWorkload(seed, work)
    case "shuffle_skew" => new ShuffleWorkload(seed, work)
    case "query_corpus" => new CorpusWorkload(seed, work, s"$data/sf0.01", data)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  /** Order-independent content hash of `(conv_id, turn_idx, text)` and the row count. */
  def contentHash(df: DataFrame): (Long, java.math.BigDecimal) = {
    val r = df.agg(count(lit(1)), hashSum).head()
    (r.getLong(0), r.getDecimal(1))
  }

  def hashSum = sum(xxhash64(col("conv_id"), col("turn_idx"), col("text")).cast("decimal(38,0)"))

  def timedS(f: => Unit): Double = {
    val t0 = System.nanoTime()
    f
    (System.nanoTime() - t0) / 1e9
  }

  def deleteRec(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteRec))
    f.delete()
  }

  def files(f: File): Seq[File] =
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(files) else Seq(f)

  def sumOf(xs: Iterable[Double]): Double = xs.foldLeft(0.0)(_ + _)

  /** Rows of a tab-separated file with `columns` columns; `#` starts a comment line. */
  def readRows(path: String, columns: Int): Seq[Array[String]] = {
    val src = scala.io.Source.fromFile(path, "UTF-8")
    try src.getLines().filter(l => l.trim.nonEmpty && !l.startsWith("#")).map { l =>
      val r = l.split("\t")
      require(r.length == columns, s"$path: expected $columns columns in '$l'")
      r
    }.toSeq
    finally src.close()
  }

}

/** A seeded transcripts table: `turns` turns with Zipf-skewed conv ids (20 %
  * hot) and the `search` mega-tool (Transcripts.generate), spread evenly over
  * `hours` hour partitions, with each hour partition's row count and content
  * hash.
  */
abstract class TableWorkload(name: String, seed: Long, work: String, turns0: Long, hours0: Int)
    extends Workload(name) {
  import Workload._
  protected val table = s"$work/inputs/transcripts"
  protected var parts: Seq[Part] = Nil

  def prepare(spark: SparkSession): Unit = {
    deleteRec(new File(table))
    Transcripts.writePartitioned(Transcripts.generate(spark, turns0, turns0 / 50, seed = seed,
      microsPerTurn = hours0 * 3600L * 1000000L / turns0), table)
    parts = spark.read.parquet(table).groupBy(col("year"), col("month"), col("day"), col("hour"))
      .agg(count(lit(1)), hashSum).collect()
      .map(r => Part(s"year=${r.get(0)}/month=${r.get(1)}/day=${r.get(2)}/hour=${r.get(3)}",
        r.getLong(4), r.getDecimal(5)))
      .toSeq.sortBy(_.path)
  }

  def discover(spark: SparkSession): Unit = {
    val found = PipelineRunner.discoverPartitions(spark, table).sorted
    require(found == parts.map(_.path) && found.size == hours0 && parts.map(_.rows).sum == turns0,
      s"$table does not hold the generated partitions")
  }
}

/** The canonical spec (severity_tag → lookup_enrich → 3-way route) run by
  * PipelineRunner in the incremental shape: a pass lands the table's 3 hour
  * partitions (10k turns each) one at a time in a landing table and runs
  * after each landing (groupSize 1), so each run lists, resumes past the
  * committed hours and processes exactly one new hour.
  */
final class PipelineWorkload(seed: Long, work: String)
    extends TableWorkload("pipeline_hourly", seed, work, 30000L, 3) {
  import Workload._
  private val landing = s"$work/landing/$name"
  private val out = s"$work/out/$name"
  private def hours = parts

  def turns: Long = hours.map(_.rows).sum
  val warmPasses = 2

  override def discover(spark: SparkSession): Unit = {
    super.discover(spark)
    Pipeline.compile(Pipeline.Canonical, spark)
  }

  def pass(spark: SparkSession, tr: Tracer): PassResult = {
    deleteRec(new File(out))
    deleteRec(new File(landing))
    if (tr.enabled) {
      tr.span("discover")(PipelineRunner.discoverPartitions(spark, table))
      tr.span("compile")(Pipeline.compile(Pipeline.Canonical, spark)(spark.read.parquet(table))
        .queryExecution.executedPlan)
    }
    val sinkRows = mutable.Map[String, Long]().withDefaultValue(0L)
    var files = 0
    val ops = hours.zipWithIndex.map { case (hour, i) =>
      tr.span("land")(land(hour.path))
      op(tr, "run")(PipelineRunner.run(spark, Pipeline.Canonical, landing, out, groupSize = 1)) { r =>
        r.sinkCounts.foreach { case (k, v) => sinkRows(k) += v }
        val perRun = expect("partitions processed", r.partitionsProcessed, 1) ++
          expect("partitions skipped", r.partitionsSkipped, i) ++
          expect("rowsIn", r.rowsIn, hour.rows) ++
          expect("sum of sink rows", r.sinkCounts.values.sum, hour.rows) ++
          expect("rows written", r.rowsWritten, hour.rows)
        // after the last run the sink tables must hold exactly the landed rows
        perRun ++ (if (i < hours.size - 1) Nil else {
          val committed =
            tr.span("manifest")(new Manifest(s"$out/_manifest").committedPartitions())
          files = Workload.files(new File(s"$out/sinks")).count(_.getName.startsWith("part-"))
          expect("committed manifest entries", committed.size, hours.size) ++
            expect("(rows, hash) of the sink tables", contentHash(spark.read.parquet(s"$out/sinks")),
              (turns, hours.map(_.hash).reduce(_ add _)))
        })
      }
    }
    PassResult(ops, sinkRows.map { case (k, v) => s"route.rows.$k" -> v.toDouble }.toMap +
      ("pipeline.files_out" -> files.toDouble))
  }

  /** Hard-link one hour partition of the source table into the landing table. */
  private def land(partition: String): Unit = {
    val src = Paths.get(table, partition)
    Workload.files(src.toFile).foreach { f =>
      val dst = Paths.get(landing, partition).resolve(src.relativize(f.toPath))
      Files.createDirectories(dst.getParent)
      Files.createLink(dst, f.toPath)
    }
  }

  def layers(tr: Tracer, pass: Span, result: PassResult): Map[String, Double] = {
    val kids = tr.children(pass)
    def durS(n: String): Double = sumOf(kids.filter(_.name == n).map(_.durMs)) / 1000
    val runs = kids.filter(_.name == "run")
    val jobs = runs.flatMap(tr.jobsUnder)
    def jobS(p: Span => Boolean): Double = sumOf(jobs.filter(p).map(_.durMs)) / 1000
    def site(j: Span, k: String): String = j.attrs.getOrElse(k, "")
    // the job's call site in Pipeline.scala tells the runner's phases apart
    val isCount = (j: Span) => site(j, "callSite.long").contains("countsBySinkPartition")
    val isCountIn = (j: Span) =>
      site(j, "callSite.short").startsWith("collect at Pipeline.scala") && !isCount(j)
    val isWrite = (j: Span) => site(j, "callSite.short").startsWith("parquet at Pipeline.scala") &&
      site(j, "callSite.long").contains("DataFrameWriter")
    val stats = runs.flatMap(tr.statsUnder)
    val manifestS = sumOf(tr.descendants(pass).filter(_.name == "manifest").map(_.durMs)) / 1000
    Map(
      "pipeline.jobs" -> jobs.size.toDouble,
      "pipeline.jobs_per_group" -> jobs.size.toDouble / runs.size,
      "pipeline.driver_s" -> sumOf(runs.map(tr.selfMs)) / 1000,
      "pipeline.count_in_job_s" -> jobS(isCountIn),
      "pipeline.write_job_s" -> jobS(isWrite),
      "pipeline.count_job_s" -> jobS(isCount),
      "pipeline.discover_s" -> durS("discover"),
      "pipeline.compile_s" -> durS("compile"),
      "manifest.read_s" -> manifestS,
      "pipeline.bytes_out" -> sumOf(stats.map(_.bytesWritten.toDouble)),
      "pipeline.cpu_util" ->
        sumOf(stats.map(_.cpuNs.toDouble)) / 1e6 / (sumOf(runs.map(_.durMs)) * Main.Cores)
    ) ++ result.counts
  }
}

/** logDedup then groupByAttrsRegroup over a 750k-turn, 8-hour table: every
  * turn crosses two hash exchanges, whose keys include the hot conversations
  * and the `search` mega-tool.
  */
final class ShuffleWorkload(seed: Long, work: String)
    extends TableWorkload("shuffle_skew", seed, work, 750000L, 8) {
  import Workload._

  def turns: Long = parts.map(_.rows).sum
  val warmPasses = 3

  /** One op per pass: both aggregations, one after the other, checked together. */
  def pass(spark: SparkSession, tr: Tracer): PassResult = {
    val t = Transcripts.readPartitioned(spark, table)
    PassResult(Seq(op(tr, "logDedup+regroup") {
      val dedup = tr.span("logDedup")(
        AggOps.logDedup(t).agg(sum(col("dedup_count"))).head().getLong(0))
      val regroup = tr.span("regroup")(
        EnrichOps.groupByAttrsRegroup(t).agg(sum(col("n_records"))).head().getLong(0))
      (dedup, regroup)
    } { case (dedup, regroup) =>
      expect("sum of dedup_count", dedup, turns) ++ expect("sum of n_records", regroup, turns)
    }))
  }

  def layers(tr: Tracer, pass: Span, result: PassResult): Map[String, Double] = {
    def durS(n: String): Double = sumOf(tr.descendants(pass).filter(_.name == n).map(_.durMs)) / 1000
    Map("agg.logDedup_s" -> durS("logDedup"), "enrich.regroup_s" -> durS("regroup"))
  }
}

/** The timed sample of SparkEntry.queries (build → plan → count) over the
  * committed sf0.01 tables, in a seeded order per pass. Row counts must
  * equal the committed expectation file; every query of SparkEntry.queries
  * must belong to one module of the committed module map.
  */
final class CorpusWorkload(seed: Long, work: String, sfDir: String, data: String)
    extends Workload("query_corpus") {
  import Workload._
  private lazy val map: Seq[Array[String]] = readRows(s"$data/corpus_modules.tsv", 3)
  private lazy val modules: Map[String, String] = map.map(r => r(0) -> r(1)).toMap
  private lazy val expected: Map[String, Long] =
    readRows(s"$data/corpus_expected.tsv", 2).map(r => r(0) -> r(1).toLong).toMap
  private val rng = new Random(seed)
  private var names: Seq[String] = Nil
  private var transcriptTurns = 0L

  def turns: Long = transcriptTurns
  val warmPasses = 1

  /** Derives the transcripts the queries read. Transcripts.fromEvents
    * materializes them under the JVM's temp dir on a checkout's first run
    * and reads them back on later runs.
    */
  def prepare(spark: SparkSession): Unit =
    transcriptTurns = Transcripts.fromEvents(spark, sfDir).count()

  def discover(spark: SparkSession): Unit = {
    val queries = SparkEntry.queries.keySet
    val unmapped = queries -- modules.keySet
    val stale = modules.keySet -- queries
    require(unmapped.isEmpty && stale.isEmpty,
      s"corpus_modules.tsv is out of date: unmapped queries ${unmapped.toSeq.sorted.mkString(",")}; " +
        s"mapped but gone ${stale.toSeq.sorted.mkString(",")}")
    names = map.collect { case Array(q, m, "yes") if m != "excluded" => q }.sorted
    val noExpectation = names.filterNot(expected.contains)
    require(noExpectation.isEmpty,
      s"corpus_expected.tsv has no row count for ${noExpectation.mkString(",")}")
    require(new File(sfDir).list().count(_.endsWith(".parquet")) > 0, s"no tables in $sfDir")
  }

  def pass(spark: SparkSession, tr: Tracer): PassResult = {
    val queries = SparkEntry.queries
    val ops = rng.shuffle(names).map { q =>
      op(tr, q, "query") {
        val df = tr.span("build")(queries(q)(spark, sfDir))
        tr.span("plan")(df.queryExecution.executedPlan)
        tr.span("execute")(df.count())
      } { n => expect("rows", n, expected(q)) }
    }
    PassResult(ops)
  }

  def layers(tr: Tracer, pass: Span, result: PassResult): Map[String, Double] = {
    val qs = tr.children(pass).filter(_.kind == "query")
    def phaseS(spans: Seq[Span], phase: String): Double =
      sumOf(spans.flatMap(tr.children).filter(_.name == phase).map(_.durMs)) / 1000
    def jobs(spans: Seq[Span]): Double = spans.map(tr.jobsUnder(_).size).sum.toDouble
    val perModule = Main.CorpusModules.flatMap { m =>
      val mine = qs.filter(q => modules.get(q.name).contains(m))
      Seq(s"corpus.$m.build_s" -> phaseS(mine, "build"),
        s"corpus.$m.execute_s" -> phaseS(mine, "execute"),
        s"corpus.$m.jobs" -> jobs(mine))
    }
    Map("corpus.build_s" -> phaseS(qs, "build"), "corpus.plan_s" -> phaseS(qs, "plan"),
      "corpus.execute_s" -> phaseS(qs, "execute"), "corpus.jobs" -> jobs(qs)) ++ perModule
  }
}
