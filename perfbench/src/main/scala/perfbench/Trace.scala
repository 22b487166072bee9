package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.{SparkListenerSQLAdaptiveExecutionUpdate, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Wall clock in epoch microseconds (every span and event uses it). */
object Clock {
  def nowUs(): Long = {
    val i = java.time.Instant.now()
    i.getEpochSecond * 1000000L + i.getNano / 1000
  }
}

/** One timed interval. `parent` is 0 for a root span. */
final case class Span(id: Long, parent: Long, name: String, kind: String,
                      startUs: Long, var endUs: Long = 0L,
                      attrs: mutable.LinkedHashMap[String, Double] = mutable.LinkedHashMap.empty)

/** Spans recorded in memory by the benchmark's own code around each call
  * into the engine, plus Spark's public listener events joined to them.
  *
  * Jobs, stages and tasks are joined to the active span through a local
  * property set on the calling thread, so a job launched inside a query
  * builder lands under that query's `build` span. Jobs, stage and task
  * counters and streaming progress are always kept (a few numbers per
  * stage); `full = true` adds the Catalyst phase timings and AQE re-plan
  * events of the traced run.
  */
final class Trace(spark: SparkSession, val full: Boolean) {
  val SpanProp = "perfbench.span"
  private val ids = new AtomicLong(0)
  val spans = new ConcurrentLinkedQueue[Span]()

  def start(name: String, kind: String, parent: Long = 0L): Span = {
    val s = Span(ids.incrementAndGet(), parent, name, kind, Clock.nowUs())
    spans.add(s); s
  }

  /** Run `body` inside a span; jobs it launches are tagged with it. */
  def within[T](name: String, kind: String, parent: Long)(body: => T): T = {
    val s = start(name, kind, parent)
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty(SpanProp)
    sc.setLocalProperty(SpanProp, s.id.toString)
    try body
    finally {
      s.endUs = Clock.nowUs()
      sc.setLocalProperty(SpanProp, prev)
    }
  }

  // ---- Spark scheduler events -------------------------------------
  final case class Job(id: Int, span: Long, startUs: Long, var endUs: Long = 0L)
  final class StageAgg(val span: Long, val submitUs: Long) {
    var tasks = 0; var runMs = 0L; var cpuNs = 0L; var gcMs = 0L
    var shuffleWrite = 0L; var shuffleRead = 0L; var fetchWaitMs = 0L
    var spill = 0L; var inputBytes = 0L; var inputRecords = 0L
    var waitMs = 0L
    val durations = mutable.ArrayBuffer.empty[Long]
  }
  val jobs = new java.util.concurrent.ConcurrentHashMap[Int, Job]()
  val stages = new java.util.concurrent.ConcurrentHashMap[(Int, Int), StageAgg]()
  val jobEnds = new AtomicLong(0)

  private def spanOf(p: java.util.Properties): Long =
    Option(p).flatMap(x => Option(x.getProperty(SpanProp))).map(_.toLong).getOrElse(0L)

  private val scheduler = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val span = spanOf(e.properties)
      jobs.put(e.jobId, Job(e.jobId, span, e.time * 1000L))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      Option(jobs.get(e.jobId)).foreach(_.endUs = e.time * 1000L)
      jobEnds.incrementAndGet()
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
      val info = e.stageInfo
      val span = spanOf(e.properties)
      val submit = info.submissionTime.getOrElse(System.currentTimeMillis())
      stages.put((info.stageId, info.attemptNumber()), new StageAgg(span, submit * 1000L))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val agg = stages.get((e.stageId, e.stageAttemptId))
      val m = e.taskMetrics
      if (agg != null && m != null) agg.synchronized {
        agg.tasks += 1
        agg.runMs += m.executorRunTime
        agg.cpuNs += m.executorCpuTime
        agg.gcMs += m.jvmGCTime
        agg.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        agg.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        agg.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
        agg.spill += m.diskBytesSpilled
        agg.inputBytes += m.inputMetrics.bytesRead
        agg.inputRecords += m.inputMetrics.recordsRead
        agg.waitMs += math.max(0L, e.taskInfo.launchTime - agg.submitUs / 1000L)
        agg.durations += e.taskInfo.duration
      }
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = if (full) e match {
      case s: SparkListenerSQLExecutionStart => execStartUs.put(s.executionId, s.time * 1000L)
      case u: SparkListenerSQLAdaptiveExecutionUpdate =>
        aqeUpdates.add(Option(execStartUs.get(u.executionId)).map(_.longValue())
          .getOrElse(Clock.nowUs()))
      case _ =>
    }
  }
  private val execStartUs = new java.util.concurrent.ConcurrentHashMap[Long, Long]()
  /** Start time of the SQL execution each AQE re-plan belongs to. */
  val aqeUpdates = new ConcurrentLinkedQueue[Long]()

  // ---- Catalyst phases ----------------------------------------------
  /** (phase, startUs, durationMs) per query execution. */
  val phases = new ConcurrentLinkedQueue[(String, Long, Double)]()
  private val planning = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      qe.tracker.phases.foreach { case (name, p) =>
        phases.add((name, p.startTimeMs * 1000L, p.durationMs.toDouble))
      }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  // ---- Structured Streaming progress --------------------------------
  val progress = new ConcurrentLinkedQueue[org.apache.spark.sql.streaming.StreamingQueryProgress]()
  private val streaming = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      progress.add(e.progress)
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  spark.sparkContext.addSparkListener(scheduler)
  spark.streams.addListener(streaming)
  if (full) spark.listenerManager.register(planning)

  /** Wait (bounded) until the listener bus has delivered every job end. */
  def settle(): Unit = {
    val deadline = System.currentTimeMillis() + 15000L
    var last = -1L
    while (System.currentTimeMillis() < deadline &&
      (jobEnds.get < jobs.size || last != jobEnds.get)) {
      last = jobEnds.get
      Thread.sleep(200)
    }
  }

  def detach(): Unit = {
    spark.sparkContext.removeSparkListener(scheduler)
    spark.streams.removeListener(streaming)
    if (full) spark.listenerManager.unregister(planning)
  }

  /** Spans plus jobs (as spans of kind "job") and per-span operator
    * counters, as JSON objects. */
  def toJson: Seq[String] = {
    val stageBySpan = stages.values.asScala.groupBy(_.span)
    val jobSpans = jobs.values.asScala.toSeq.sortBy(_.id).map { j =>
      s"""{"id":${-j.id - 1},"parent":${j.span},"name":"job${j.id}","kind":"job",""" +
        s""""start_us":${j.startUs},"end_us":${math.max(j.endUs, j.startUs)},"attrs":{}}"""
    }
    val own = spans.asScala.toSeq.map { s =>
      val attrs = mutable.LinkedHashMap[String, Double]() ++ s.attrs
      stageBySpan.get(s.id).foreach { ss =>
        attrs("stages") = ss.size
        attrs("tasks") = ss.map(_.tasks).sum.toDouble
        attrs("run_ms") = ss.map(_.runMs).sum.toDouble
        attrs("cpu_ms") = ss.map(_.cpuNs).sum / 1e6
        attrs("gc_ms") = ss.map(_.gcMs).sum.toDouble
        attrs("shuffle_write_b") = ss.map(_.shuffleWrite).sum.toDouble
        attrs("shuffle_read_b") = ss.map(_.shuffleRead).sum.toDouble
        attrs("fetch_wait_ms") = ss.map(_.fetchWaitMs).sum.toDouble
        attrs("spill_b") = ss.map(_.spill).sum.toDouble
        attrs("input_b") = ss.map(_.inputBytes).sum.toDouble
        attrs("input_records") = ss.map(_.inputRecords).sum.toDouble
        attrs("task_wait_ms") = ss.map(_.waitMs).sum.toDouble
        // stages with at least two tasks: slowest task over mean task
        val skews = ss.filter(_.durations.size >= 2).map { a =>
          val d = a.durations; d.max.toDouble / math.max(1.0, d.sum.toDouble / d.size)
        }
        if (skews.nonEmpty) {
          attrs("skew_sum") = skews.sum; attrs("skew_stages") = skews.size
        }
      }
      val a = attrs.map { case (k, v) => s""""$k":${Json.num(v)}""" }.mkString("{", ",", "}")
      s"""{"id":${s.id},"parent":${s.parent},"name":${Json.str(s.name)},""" +
        s""""kind":"${s.kind}","start_us":${s.startUs},"end_us":${s.endUs},"attrs":$a}"""
    }
    own ++ jobSpans
  }
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null"
    else if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString
    else v.toString
  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
  def arr(xs: Iterable[String]): String = xs.mkString("[", ",", "]")
}
