package perfbench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One span of a trace. Times are epoch milliseconds with a fractional part
  * for the benchmark's own spans; Spark job spans carry the scheduler's
  * millisecond event times.
  */
final class Span(val id: Long, val parent: Long, val name: String,
                 val kind: String, val start: Double) {
  var end: Double = Double.NaN
  val attrs: mutable.LinkedHashMap[String, String] = mutable.LinkedHashMap()
  def durMs: Double = end - start
}

/** Task statistics of one Spark job, filled from task-end events. */
final class JobStats {
  var tasks = 0L
  var cpuNs = 0L
  var bytesWritten = 0L
  var shuffleReadBytes = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  var peakExecMem = 0L
  /** Task durations of the job's reduce stages (stages that read a shuffle). */
  val reduceTaskMs: mutable.Map[Int, mutable.ArrayBuffer[Long]] = mutable.Map()
}

/** In-memory span recorder. Spans are recorded only while `enabled`; each
  * Spark job becomes a child of the benchmark span that was open on the
  * submitting thread, found through the `perfbench.span` local property.
  */
final class Tracer(sc: SparkContext) extends SparkListener {
  private val PropKey = "perfbench.span"
  private val nanoBase = System.nanoTime()
  private val msBase = System.currentTimeMillis().toDouble
  private val ids = new AtomicLong(0)
  private var stack: List[Span] = Nil
  private val jobSpans = mutable.Map[Int, Span]()
  private val stageJob = mutable.Map[Int, Int]()
  private val stageReadsShuffle = mutable.Map[Int, Boolean]()
  /** SQL execution id → the call site of the Dataset action that started it. */
  private val execSites = mutable.Map[Long, (String, String)]()
  val spans: mutable.ArrayBuffer[Span] = mutable.ArrayBuffer()
  val jobStats: mutable.Map[Long, JobStats] = mutable.Map()
  @volatile var enabled = false

  def nowMs: Double = msBase + (System.nanoTime() - nanoBase) / 1e6

  /** Run `f` inside a span named `name` when tracing is on; otherwise just run it. */
  def span[T](name: String, kind: String = "bench")(f: => T): T =
    if (!enabled) f
    else {
      val s = synchronized {
        val s = new Span(ids.incrementAndGet(), stack.headOption.map(_.id).getOrElse(0L),
          name, kind, nowMs)
        spans += s
        stack = s :: stack
        s
      }
      val prev = sc.getLocalProperty(PropKey)
      sc.setLocalProperty(PropKey, s.id.toString)
      try f
      finally {
        s.end = nowMs
        sc.setLocalProperty(PropKey, prev)
        synchronized { stack = stack.tail }
      }
    }

  def start(): Unit = { sc.addSparkListener(this); enabled = true }

  /** Stops recording once every queued listener event has been delivered. */
  def stop(): Unit = {
    enabled = false
    org.apache.spark.perfbench.ListenerSync.drain(sc)
    sc.removeSparkListener(this)
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val props = Option(e.properties)
    val parent = props.flatMap(p => Option(p.getProperty(PropKey))).map(_.toLong).getOrElse(0L)
    val s = new Span(ids.incrementAndGet(), parent, s"job ${e.jobId}", "job", e.time.toDouble)
    // a job of a Dataset action carries the action's SQL execution id, whose
    // start event has the action's call site ("<action> at <file>:<line>" and
    // the submitting stack); adaptive execution submits such jobs from its
    // own threads, so their stages only show those threads' stacks. Other
    // jobs take the call site of their result stage.
    val sqlSite = props.flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .flatMap(id => execSites.get(id.toLong))
    val stageSite = e.stageInfos.sortBy(-_.stageId).headOption.map(st => (st.name, st.details))
    sqlSite.orElse(stageSite).foreach { case (short, long) =>
      s.attrs("callSite.short") = short
      s.attrs("callSite.long") = long
    }
    spans += s
    jobSpans(e.jobId) = s
    jobStats(s.id) = new JobStats
    e.stageInfos.foreach { st =>
      stageJob(st.stageId) = e.jobId
      stageReadsShuffle(st.stageId) = st.parentIds.nonEmpty
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case x: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
      synchronized { execSites(x.executionId) = (x.description, x.details) }
    case _ =>
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobSpans.remove(e.jobId).foreach { s =>
      s.end = e.time.toDouble
      s.attrs("result") = e.jobResult.toString
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    for {
      jobId <- stageJob.get(e.stageId)
      span <- jobSpans.get(jobId)
      st <- jobStats.get(span.id)
      m <- Option(e.taskMetrics)
    } {
      st.tasks += 1
      st.cpuNs += m.executorCpuTime
      st.bytesWritten += m.outputMetrics.bytesWritten
      st.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
      st.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      st.spillBytes += m.diskBytesSpilled
      st.peakExecMem = math.max(st.peakExecMem, m.peakExecutionMemory)
      if (stageReadsShuffle.getOrElse(e.stageId, false))
        st.reduceTaskMs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer()) += e.taskInfo.duration
    }
  }

  // ---- queries over the recorded tree ----

  def children(s: Span): Seq[Span] = synchronized(spans.filter(_.parent == s.id).toSeq)

  def descendants(s: Span): Seq[Span] = children(s).flatMap(c => c +: descendants(c))

  def jobsUnder(s: Span): Seq[Span] = descendants(s).filter(_.kind == "job")

  def statsUnder(s: Span): Seq[JobStats] = jobsUnder(s).flatMap(j => jobStats.get(j.id))

  /** Span duration minus the part of it that its children cover. */
  def selfMs(s: Span): Double =
    s.durMs - Tracer.unionMs(children(s).map(c => (c.start max s.start, c.end min s.end)))

  def toJsonLines: Seq[String] = synchronized {
    spans.toSeq.map { s =>
      val st = jobStats.get(s.id).map { j =>
        Json.obj(Seq("tasks" -> j.tasks, "cpu_ns" -> j.cpuNs, "bytes_written" -> j.bytesWritten,
          "shuffle_read" -> j.shuffleReadBytes, "shuffle_write" -> j.shuffleWriteBytes,
          "spill" -> j.spillBytes, "peak_exec_mem" -> j.peakExecMem))
      }
      Json.obj(Seq("id" -> s.id, "parent" -> s.parent, "name" -> s.name, "kind" -> s.kind,
        "start_ms" -> s.start, "end_ms" -> s.end,
        "attrs" -> Json.Raw(Json.obj(s.attrs.toSeq.map { case (k, v) => k -> v }))) ++
        st.map(j => "stats" -> Json.Raw(j)))
    }
  }
}

object Tracer {
  /** Total length covered by a set of intervals. */
  def unionMs(iv: Seq[(Double, Double)]): Double = {
    var covered = 0.0
    var curS = Double.NaN
    var curE = Double.NaN
    iv.filter { case (a, b) => b > a }.sortBy(_._1).foreach { case (a, b) =>
      if (curS.isNaN || a > curE) {
        if (!curS.isNaN) covered += curE - curS
        curS = a; curE = b
      } else curE = math.max(curE, b)
    }
    if (!curS.isNaN) covered += curE - curS
    covered
  }
}
