package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One operation as the client sees it: the view function is called
  * (construct), its executed plan forced (plan), its rows collected
  * (execute); the canonical hash of the rows is taken afterwards, outside
  * the latency (verify). */
final case class OpResult(name: String, user: Int, startUs: Long, latencyMs: Double,
    constructMs: Double, planMs: Double, executeMs: Double, verifyMs: Double,
    ok: Boolean, hash: String, rows: Long, error: String) {
  def toMap: Map[String, Any] = Map("name" -> name, "user" -> user, "start_us" -> startUs,
    "latency_ms" -> latencyMs, "construct_ms" -> constructMs, "plan_ms" -> planMs,
    "execute_ms" -> executeMs, "verify_ms" -> verifyMs, "ok" -> ok, "hash" -> hash,
    "rows" -> rows, "error" -> error)
}

object Harness {
  val Phases: Seq[String] = Seq("construct", "plan", "execute", "verify")
  /** Phase spans take the ids right after their op's id. */
  def phaseId(op: Long, phase: String): Long = op + 1 + Phases.indexOf(phase)

  /** The 1-task contention probe of graft.Bench: ~1 ms of work, so its
    * wall is the scheduler and JVM floor of the box. */
  def sentinelMs(spark: SparkSession): Double = {
    val t0 = System.nanoTime()
    spark.range(0, 1000, 1, 1).selectExpr("sum(id)").collect()
    (System.nanoTime() - t0) / 1e6
  }

  /** Five timed probes, after five untimed ones that settle the probe's
    * own path. */
  def sentinelProbes(spark: SparkSession): Seq[Double] = {
    val sc = spark.sparkContext
    sc.setJobGroup("pb:sentinel", "sentinel", interruptOnCancel = false)
    try (1 to 10).map(_ => sentinelMs(spark)).drop(5) finally sc.clearJobGroup()
  }

  /** Drops Spark caches and checkpoint blocks and settles the heap, outside
    * every timed window (graft.Bench's clearState). */
  def clearState(spark: SparkSession): Unit = {
    spark.sharedState.cacheManager.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
    System.gc(); System.gc()
  }
}

final class Harness(spark: SparkSession, rec: Recorder) {
  import Harness._

  /** Runs one operation. Measured ops are registered with the recorder, so
    * their jobs and plans count in the per-layer totals; warm-up ops are
    * not. */
  def runOp(parent: Long, name: String, user: Int = 0, measured: Boolean = true)(
      build: => DataFrame): OpResult = {
    val sc = spark.sparkContext
    val op = rec.reserve(1 + Phases.size)
    if (measured) rec.opNames.put(op, name)
    def phase[T](p: String)(body: => T): (T, Double) = {
      sc.setJobGroup(if (measured) Group(op, p) else "pb:warm", name, interruptOnCancel = false)
      if (measured) rec.span(op, p, "phase", phaseId(op, p))(body) else (body, 0.0)
    }
    val t0 = Clock.nowUs
    try {
      val (df, cMs) = phase("construct")(build)
      val (_, pMs) = phase("plan")(df.queryExecution.executedPlan)
      val (rows, eMs) = phase("execute")(df.collect())
      val latency = Clock.ms(t0, Clock.nowUs)
      val (h, vMs) = phase("verify")(Canon.hash(df.schema, rows))
      if (measured) rec.add(Span(op, parent, name, "op", t0, Clock.nowUs, Map("user" -> user)))
      OpResult(name, user, t0, latency, cMs, pMs, eMs, vMs, ok = true, h, rows.length, "")
    } catch {
      case e: Throwable =>
        val latency = Clock.ms(t0, Clock.nowUs)
        System.err.println(s"[perfbench] $name failed: $e")
        if (measured) rec.add(Span(op, parent, name, "op", t0, Clock.nowUs,
          Map("user" -> user, "error" -> e.toString)))
        OpResult(name, user, t0, latency, 0, 0, 0, 0, ok = false, "", 0, e.toString)
    } finally sc.clearJobGroup()
  }
}
