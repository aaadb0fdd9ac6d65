package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanHelper, ShuffleQueryStageExec}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** One timed interval. Times are epoch microseconds on the
  * System.nanoTime clock (`Clock`), so spans nest exactly; Spark listener
  * times (epoch milliseconds) are converted onto the same axis. */
final case class Span(id: Long, parent: Long, name: String, kind: String,
    startUs: Long, endUs: Long, attrs: Map[String, Any] = Map.empty) {
  def toMap: Map[String, Any] = Map("id" -> id, "parent" -> parent, "name" -> name,
    "kind" -> kind, "start_us" -> startUs, "end_us" -> endUs) ++ attrs
}

object Clock {
  private val baseNanos = System.nanoTime()
  private val baseEpochUs = System.currentTimeMillis() * 1000L
  def nowUs: Long = baseEpochUs + (System.nanoTime() - baseNanos) / 1000L
  def ms(fromUs: Long, toUs: Long): Double = (toUs - fromUs) / 1000.0
}

/** Spark job-group id carrying the op id and phase, so the listener can
  * parent each job to the op phase that started it. */
object Group {
  private val Pattern = """pb:(\d+):(\w+)""".r
  def apply(opSpan: Long, phase: String): String = s"pb:$opSpan:$phase"
  def unapply(g: String): Option[(Long, String)] = g match {
    case Pattern(id, phase) => Some((id.toLong, phase))
    case _ => None
  }
}

/** In-memory trace of one run: the benchmark's spans, plus (when
  * `enabled`) Spark job/stage spans, task metrics and executed-plan SQL
  * metrics from the listener the benchmark registers. Everything is written
  * out once, when the run ends. */
final class Recorder(val enabled: Boolean) {
  private val ids = new AtomicLong(0)
  val spans = new ConcurrentLinkedQueue[Span]()
  def nextId(): Long = ids.incrementAndGet()
  /** Reserves `n` consecutive ids and returns the first. */
  def reserve(n: Int): Long = ids.getAndAdd(n) + 1

  /** Times `body` as a span (kept only when tracing); returns its ms. */
  def span[T](parent: Long, name: String, kind: String, id: Long = nextId())(body: => T): (T, Double) = {
    val s0 = Clock.nowUs
    val out = body
    val s1 = Clock.nowUs
    add(Span(id, parent, name, kind, s0, s1))
    (out, Clock.ms(s0, s1))
  }

  def add(s: Span): Unit = if (enabled) spans.add(s)

  // ---- listener-side state (trace mode only) ----
  /** Job groups other than op-phase groups whose work counts as measured
    * (a measured stream's run id). */
  val measuredGroups: java.util.Set[String] = ConcurrentHashMap.newKeySet[String]()
  /** Measured op span id -> op name (warm-up ops are not listed), for
    * attributing plan metrics to query families. */
  val opNames = new ConcurrentHashMap[Long, String]()
  /** Parent span of jobs whose group is not an op-phase group (a
    * streaming query's jobs run under its run id). */
  val groupParent = new ConcurrentHashMap[String, Long]()

  private[perfbench] val stageGroup = new ConcurrentHashMap[Int, String]()
  private[perfbench] val stageJob = new ConcurrentHashMap[Int, Int]()
  private[perfbench] val jobSpan = new ConcurrentHashMap[Int, Long]()
  private[perfbench] val jobStartUs = new ConcurrentHashMap[Int, Long]()
  private[perfbench] val jobGroupOf = new ConcurrentHashMap[Int, String]()
  private[perfbench] val execGroup = new ConcurrentHashMap[Long, String]()

  /** Per job group: summed task counters. */
  val taskCounters = new ConcurrentHashMap[String, mutable.Map[String, Double]]()
  /** Per job group: summed plan counters. */
  val planCounters = new ConcurrentHashMap[String, mutable.Map[String, Double]]()
  /** Shuffle partition-size skew (max / median bytes) per shuffle stage. */
  val skews = new ConcurrentLinkedQueue[(String, Double)]()
  val marker = new AtomicLong(-1)

  def addCounter(m: ConcurrentHashMap[String, mutable.Map[String, Double]],
      group: String, key: String, v: Double): Unit = {
    val c = m.computeIfAbsent(group, _ => mutable.Map.empty[String, Double])
    c.synchronized { c(key) = c.getOrElse(key, 0.0) + v }
  }

  def maxCounter(m: ConcurrentHashMap[String, mutable.Map[String, Double]],
      group: String, key: String, v: Double): Unit = {
    val c = m.computeIfAbsent(group, _ => mutable.Map.empty[String, Double])
    c.synchronized { c(key) = math.max(c.getOrElse(key, 0.0), v) }
  }

  /** Sums counters over measured groups (optionally only those whose op
    * name satisfies `op`). */
  def total(m: ConcurrentHashMap[String, mutable.Map[String, Double]], key: String,
      op: String => Boolean = _ => true): Double =
    m.asScala.iterator.filter { case (g, _) => measured(g) && op(opOf(g)) }
      .map { case (_, c) => c.synchronized(c.getOrElse(key, 0.0)) }.sum

  def maxOf(m: ConcurrentHashMap[String, mutable.Map[String, Double]], key: String): Double =
    m.asScala.iterator.filter { case (g, _) => measured(g) }
      .map { case (_, c) => c.synchronized(c.getOrElse(key, 0.0)) }.foldLeft(0.0)(math.max)

  def measured(g: String): Boolean = g match {
    case Group(id, _) => opNames.containsKey(id)
    case other => measuredGroups.contains(other)
  }

  def opOf(g: String): String = g match {
    case Group(id, _) => Option(opNames.get(id)).getOrElse("")
    case _ => ""
  }
}

/** Job, stage and task events: job/stage spans parented to the op phase
  * through the job group, and task metrics summed per group. */
final class TraceListener(rec: Recorder) extends SparkListener {
  private def us(ms: Long): Long = ms * 1000L

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    val exec = Option(e.properties).flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
    exec.foreach(x => rec.execGroup.putIfAbsent(x.toLong, g))
    e.stageIds.foreach { s => rec.stageGroup.put(s, g); rec.stageJob.put(s, e.jobId) }
    rec.jobGroupOf.put(e.jobId, g)
    rec.jobStartUs.put(e.jobId, us(e.time))
    rec.jobSpan.put(e.jobId, rec.nextId())
    if (rec.measured(g)) rec.addCounter(rec.taskCounters, g, "jobs", 1)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    val g = rec.jobGroupOf.getOrDefault(e.jobId, "")
    val parent = g match {
      case Group(id, phase) => phaseSpan(id, phase)
      case other => rec.groupParent.getOrDefault(other, 0L)
    }
    if (rec.measured(g))
      rec.add(Span(rec.jobSpan.get(e.jobId), parent, s"job ${e.jobId}", "job",
        rec.jobStartUs.get(e.jobId), us(e.time)))
  }

  /** Phase spans get ids derived from their op id (see Harness.runOp). */
  private def phaseSpan(op: Long, phase: String): Long = Harness.phaseId(op, phase)

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val info = e.stageInfo
    val g = rec.stageGroup.getOrDefault(info.stageId, "")
    if (rec.measured(g)) {
      rec.addCounter(rec.taskCounters, g, "stages", 1)
      val job = rec.stageJob.getOrDefault(info.stageId, -1)
      val parent = Option(rec.jobSpan.get(job)).map(_.longValue).getOrElse(0L)
      for (s <- info.submissionTime; c <- info.completionTime)
        rec.add(Span(rec.nextId(), parent, s"stage ${info.stageId}", "stage", us(s), us(c),
          Map("tasks" -> info.numTasks)))
    }
  }

  /** A finished SQL execution: its executed plan (the event carries it,
    * through a member Spark keeps package-private) is walked for SQL
    * metrics. */
  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case end: SparkListenerSQLExecutionEnd =>
      val g = rec.execGroup.getOrDefault(end.executionId, "")
      if (g == "pb:marker") rec.marker.set(end.executionId)
      if (rec.measured(g)) {
        val qe = end.getClass.getMethod("qe").invoke(end).asInstanceOf[QueryExecution]
        if (qe != null) PlanMetrics.record(rec, g, qe.executedPlan)
      }
    case _ =>
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val g = rec.stageGroup.getOrDefault(e.stageId, "")
    val m = e.taskMetrics
    if (!rec.measured(g) || m == null) return
    val info = e.taskInfo
    def add(k: String, v: Double): Unit = rec.addCounter(rec.taskCounters, g, k, v)
    add("tasks", 1)
    add("cpu_ms", m.executorCpuTime / 1e6)
    add("run_ms", m.executorRunTime.toDouble)
    add("gc_ms", m.jvmGCTime.toDouble)
    add("spill_bytes", m.diskBytesSpilled.toDouble)
    add("input_bytes", m.inputMetrics.bytesRead.toDouble)
    add("input_rows", m.inputMetrics.recordsRead.toDouble)
    add("output_bytes", m.outputMetrics.bytesWritten.toDouble)
    add("shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
    add("shuffle_write_ms", m.shuffleWriteMetrics.writeTime / 1e6)
    add("fetch_wait_ms", m.shuffleReadMetrics.fetchWaitTime.toDouble)
    // Scheduler delay as the Spark UI derives it.
    val delay = (info.finishTime - info.launchTime) - m.executorRunTime -
      m.executorDeserializeTime - m.resultSerializationTime - info.gettingResultTime
    add("sched_delay_ms", math.max(0L, delay).toDouble)
    rec.maxCounter(rec.taskCounters, g, "peak_exec_mem", m.peakExecutionMemory.toDouble)
  }
}

/** Executed-plan SQL metrics of one finished SQL execution, summed into
  * the job group of the jobs that ran it. */
object PlanMetrics extends AdaptiveSparkPlanHelper {
  def record(rec: Recorder, g: String, plan: SparkPlan): Unit = {
    def add(k: String, v: Double): Unit = rec.addCounter(rec.planCounters, g, k, v)
    def metric(p: SparkPlan, k: String): Double = p.metrics.get(k).map(_.value.toDouble).getOrElse(0.0)
    var maxJoinRows = 0.0
    val nodes = try collectWithSubqueries(plan) { case p => p } catch { case _: Throwable => Nil }
    nodes.foreach { p =>
      val n = p.getClass.getSimpleName
      if (n.contains("Scan") && !n.startsWith("InMemory") && !n.startsWith("LocalTable")) {
        add("scan_ms", metric(p, "scanTime"))
        add("scan_files", metric(p, "numFiles"))
      }
      if (n == "SortExec") add("sort_ms", metric(p, "sortTime"))
      if (n.endsWith("AggregateExec")) add("agg_ms", metric(p, "aggTime"))
      if (n == "WholeStageCodegenExec") add("wscg_ms", metric(p, "pipelineTime"))
      if (n == "BroadcastExchangeExec")
        add("broadcast_ms", metric(p, "collectTime") + metric(p, "buildTime") + metric(p, "broadcastTime"))
      if (n.contains("Join")) maxJoinRows = math.max(maxJoinRows, metric(p, "numOutputRows"))
      if (p.metrics.contains("numOutputBytes") && (n.contains("Command") || n.contains("Write"))) {
        add("sink_files", metric(p, "numFiles"))
        add("sink_bytes", metric(p, "numOutputBytes"))
      }
      p match {
        case s: ShuffleQueryStageExec =>
          s.mapStats.foreach { st =>
            val sizes = st.bytesByPartitionId.filter(_ > 0).sorted
            if (sizes.nonEmpty) rec.skews.add((g, sizes.last / sizes(sizes.length / 2).toDouble))
          }
        case _ =>
      }
    }
    add("join_rows_max", maxJoinRows)
  }
}

object Trace {
  /** Registers the listener on `spark` (trace mode only). */
  def install(spark: SparkSession, rec: Recorder): Unit =
    spark.sparkContext.addSparkListener(new TraceListener(rec))

  /** Waits until the listener has seen every event posted so far: runs a
    * marker query and waits for its execution-end event (a listener gets
    * its events in order). */
  def drain(spark: SparkSession, rec: Recorder): Unit = {
    val sc = spark.sparkContext
    sc.setJobGroup("pb:marker", "listener drain", interruptOnCancel = false)
    try spark.range(1).selectExpr("sum(id)").collect() finally sc.clearJobGroup()
    val deadline = System.currentTimeMillis() + 30000
    while (rec.marker.get < 0 && System.currentTimeMillis() < deadline) Thread.sleep(20)
  }
}
