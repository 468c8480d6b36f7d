package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.logging.log4j.LogManager
import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.Property
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLAdaptiveExecutionUpdate
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** What the harness calls around each query. */
trait Probe {
  def begin(query: String, pass: Int): Unit
  def span[T](name: String)(body: => T): T
  def end(): Unit
}

object NoProbe extends Probe {
  def begin(query: String, pass: Int): Unit = ()
  def span[T](name: String)(body: => T): T = body
  def end(): Unit = ()
}

/** A traced interval; times are epoch milliseconds. */
final case class Span(id: Int, parent: Int, query: Int, name: String,
    start: Double, end: Double, attrs: Map[String, Any] = Map.empty)

/** One traced execution of one query: its counters by per-layer metric
  * name. */
final class QueryRecord(val id: Int, val query: String, val pass: Int) {
  val counters: mutable.LinkedHashMap[String, Double] = mutable.LinkedHashMap()
  def add(k: String, v: Double): Unit = counters(k) = counters.getOrElse(k, 0.0) + v
}

/** The per-layer tracer. It reaches Spark only from outside: a
  * SparkListener (scheduler, executor, scan, exchange, AQE), a
  * QueryExecutionListener (Catalyst phases), a StreamingQueryListener
  * (micro-batch phases), a log4j appender (function re-registration
  * warnings) and JMX beans (GC, JIT) plus Spark's codegen counters.
  * Spans and records stay in memory until the run writes them out. */
final class Trace(spark: SparkSession) extends Probe {
  private val epoch0 = System.currentTimeMillis()
  private val nano0 = System.nanoTime()
  private def now: Double = epoch0 + (System.nanoTime() - nano0) / 1e6

  val records: mutable.ArrayBuffer[QueryRecord] = mutable.ArrayBuffer()
  val spans: mutable.ArrayBuffer[Span] = mutable.ArrayBuffer()

  private var nextSpan = 0
  private var cur: QueryRecord = _
  private var rootStart = 0.0
  private var before: Map[String, Double] = Map.empty
  // spans of the current query: the harness's own, then the listeners'
  private val own = mutable.ArrayBuffer[Span]()
  private val heard = mutable.ArrayBuffer[Span]()
  private val jobStarts = mutable.Map[Int, (Long, Option[Long])]()
  private val jobSpan = mutable.Map[Int, Int]()
  private val stageJob = mutable.Map[Int, Int]()

  private def spanId(): Int = { nextSpan += 1; nextSpan }

  private def add(k: String, v: Double): Unit = synchronized {
    if (cur != null) cur.add(k, v)
  }
  private def hear(name: String, start: Double, end: Double, attrs: Map[String, Any]): Int =
    synchronized {
      if (cur == null) -1
      else {
        val s = Span(spanId(), 0, cur.id, name, start, end, attrs)
        heard += s
        s.id
      }
    }

  private object scheduler extends SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      add("scheduler.jobs", 1)
      val exec = Option(e.properties).flatMap(p =>
        Option(p.getProperty("spark.sql.execution.id"))).map(_.toLong)
      jobStarts(e.jobId) = (e.time, exec)
      e.stageIds.foreach(stageJob(_) = e.jobId)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobStarts.remove(e.jobId).foreach { case (t0, exec) =>
        val id = hear("job", t0.toDouble, e.time.toDouble,
          Map("job" -> e.jobId) ++ exec.map("execution" -> _))
        jobSpan(e.jobId) = id
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val info = e.stageInfo
      add("scheduler.stages", 1)
      for (t0 <- info.submissionTime; t1 <- info.completionTime)
        hear("stage", t0.toDouble, t1.toDouble,
          Map("stage" -> info.stageId, "tasks" -> info.numTasks))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      add("scheduler.tasks", 1)
      val m = e.taskMetrics
      if (m != null) {
        add("scheduler.task_ms", m.executorRunTime)
        add("executor.cpu_ms", m.executorCpuTime / 1e6)
        add("executor.gc_ms", m.jvmGCTime)
        add("scan.input_bytes", m.inputMetrics.bytesRead)
        add("scan.input_records", m.inputMetrics.recordsRead)
        add("exchange.shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten)
        add("exchange.shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead)
        add("exchange.shuffle_records", m.shuffleReadMetrics.recordsRead)
        add("exchange.fetch_wait_ms", m.shuffleReadMetrics.fetchWaitTime)
        add("exchange.spill_bytes", m.memoryBytesSpilled + m.diskBytesSpilled)
      }
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case _: SparkListenerSQLAdaptiveExecutionUpdate => add("aqe.replans", 1)
      case _ =>
    }
  }

  private object catalyst extends QueryExecutionListener {
    private def phases(funcName: String, qe: QueryExecution): Unit =
      for ((phase, s) <- qe.tracker.phases if phase != "parsing") {
        add(s"catalyst.${phase}_ms", s.durationMs)
        hear(s"catalyst.$phase", s.startTimeMs.toDouble, s.endTimeMs.toDouble,
          Map("execution" -> qe.id, "call" -> funcName))
      }
    def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = phases(funcName, qe)
    def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = phases(funcName, qe)
  }

  private object streaming extends StreamingQueryListener {
    def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.doubleValue }
      add("streaming.batches", 1)
      Seq("addBatch" -> "add_batch_ms", "queryPlanning" -> "query_planning_ms",
          "walCommit" -> "wal_commit_ms", "commitOffsets" -> "commit_offsets_ms")
        .foreach { case (k, m) => add(s"streaming.$m", d.getOrElse(k, 0.0)) }
      val t0 = java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
      hear("streaming.batch", t0, t0 + d.getOrElse("triggerExecution", 0.0),
        Map("batch" -> p.batchId, "rows" -> p.numInputRows))
    }
  }

  private object warnings extends AbstractAppender("perfbench-reregister", null, null, true,
      Property.EMPTY_ARRAY) {
    override def append(e: LogEvent): Unit =
      if (e.getMessage.getFormattedMessage.contains("replaced a previously registered function"))
        add("expressions.reregister_warns", 1)
  }

  private def logContext = LogManager.getContext(false).asInstanceOf[LoggerContext]

  private var installed = false

  def install(): Unit = if (!installed) {
    installed = true
    spark.sparkContext.addSparkListener(scheduler)
    spark.listenerManager.register(catalyst)
    spark.streams.addListener(streaming)
    if (!warnings.isStarted) warnings.start()
    logContext.getConfiguration.getRootLogger.addAppender(warnings, null, null)
    logContext.updateLoggers()
  }

  def uninstall(): Unit = if (installed) {
    installed = false
    org.apache.spark.sql.perfbench.Internals.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(scheduler)
    spark.listenerManager.unregister(catalyst)
    spark.streams.removeListener(streaming)
    logContext.getConfiguration.getRootLogger.removeAppender(warnings.getName)
    logContext.updateLoggers()
  }

  /** JVM-wide counters read at the boundaries of a query. */
  private def gauges(): Map[String, Double] = Map(
    "jvm.gc_ms" -> ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.max(0L)).sum.toDouble,
    "jvm.jit_ms" -> ManagementFactory.getCompilationMXBean.getTotalCompilationTime.toDouble,
    "codegen.compile_ms" -> CodeGenerator.compileTime / 1e6,
    "codegen.classes" -> CodegenMetrics.METRIC_COMPILATION_TIME.getCount.toDouble)

  def begin(query: String, pass: Int): Unit = {
    synchronized {
      cur = new QueryRecord(spanId(), query, pass)
      own.clear(); heard.clear()
    }
    before = gauges()
    rootStart = now
  }

  def span[T](name: String)(body: => T): T = {
    val t0 = now
    try body
    finally {
      val t1 = now
      own += Span(spanId(), cur.id, cur.id, name, t0, t1)
      add(s"${name}_ms", t1 - t0)
    }
  }

  /** Closes the current query: waits for its listener events, reads what
    * it left resident, and attaches every span to its parent. */
  def end(): Unit = {
    val rootEnd = now
    org.apache.spark.sql.perfbench.Internals.drain(spark.sparkContext)
    val after = gauges()
    after.foreach { case (k, v) => add(k, v - before(k)) }
    add("storage.resident_after_query",
      spark.sparkContext.getPersistentRDDs.size + org.apache.spark.sql.perfbench.Internals.cachedPlans(spark))
    synchronized {
      val rec = cur
      add("query_ms", rootEnd - rootStart)
      val root = Span(rec.id, 0, rec.id, "query", rootStart, rootEnd,
        Map("query" -> rec.query, "pass" -> rec.pass))
      def containing(s: Span): Int = {
        val mid = (s.start + s.end) / 2
        own.find(o => o.start <= mid && mid <= o.end).map(_.id).getOrElse(root.id)
      }
      val placed = heard.map { s =>
        val parent = s.name match {
          case "stage" =>
            val stage = s.attrs("stage").asInstanceOf[Int]
            stageJob.get(stage).flatMap(jobSpan.get).getOrElse(containing(s))
          case _ => containing(s)
        }
        s.copy(parent = parent)
      }
      spans += root
      spans ++= own
      spans ++= placed
      val kids = (own ++ placed).groupBy(_.parent)
      def self(s: Span): Double = s.end - s.start - covered(kids.getOrElse(s.id, Nil).toSeq, s)
      own.foreach(s => rec.add(s"${s.name}_self_ms", self(s)))
      records += rec
      cur = null
      jobSpan.clear(); stageJob.clear(); jobStarts.clear()
    }
  }

  /** Length of the union of the children's intervals, clipped to `p`. */
  private def covered(children: Seq[Span], p: Span): Double = {
    val iv = children.map(c => (c.start.max(p.start), c.end.min(p.end)))
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0.0
    var (lo, hi) = (Double.NaN, Double.NaN)
    iv.foreach { case (a, b) =>
      if (lo.isNaN) { lo = a; hi = b }
      else if (a <= hi) hi = hi.max(b)
      else { total += hi - lo; lo = a; hi = b }
    }
    if (!lo.isNaN) total += hi - lo
    total
  }
}

/** The traced run's output: per-layer totals of the cold pass and the
  * mean of the traced warm passes, the per-query split (cold, and the
  * median over traced warm passes), and every span. */
object TraceReport {
  private def sum(rs: Seq[QueryRecord]): Map[String, Double] =
    rs.flatMap(_.counters).groupMapReduce(_._1)(_._2)(_ + _)

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0 else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  def apply(t: Trace, cores: Int): Map[String, Any] = {
    val (cold, warm) = t.records.toSeq.partition(_.pass == 0)
    val warmPasses = warm.groupBy(_.pass).values.toSeq
    val warmMean = warmPasses.map(sum).flatten.groupMapReduce(_._1)(_._2)(_ + _)
      .map { case (k, v) => k -> v / warmPasses.size.max(1) }
    val perQuery = t.records.toSeq.groupBy(_.query).map { case (q, rs) =>
      val (c, w) = rs.partition(_.pass == 0)
      val keys = w.flatMap(_.counters.keys).distinct
      q -> Map(
        "cold" -> c.headOption.map(_.counters.toMap).getOrElse(Map.empty),
        "warm" -> keys.map(k => k -> median(w.map(_.counters.getOrElse(k, 0.0)))).toMap)
    }
    Map(
      "cores" -> cores,
      "warm_traced_passes" -> warmPasses.size,
      "cold" -> sum(cold),
      "warm" -> warmMean,
      "per_query" -> perQuery,
      "spans" -> t.spans.map(s => Map("id" -> s.id, "parent" -> s.parent, "query" -> s.query,
        "name" -> s.name, "start" -> s.start, "end" -> s.end, "attrs" -> s.attrs)))
  }
}
