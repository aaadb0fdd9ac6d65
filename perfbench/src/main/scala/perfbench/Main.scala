package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import graft.BenchWarm
import graft.ops.{IncomeKernel, WindowOps}
import org.apache.spark.sql.SparkSession

/** One benchmark run in one JVM: set up, measure for `--seconds`, write
  * the raw run record (ops, timings, and in trace mode spans and layer
  * totals) as JSON to `--out`. perfbench/run.py turns it into metrics.
  *
  * Args: --workload W --data DIR --work DIR --seconds N --trace 0|1
  *       --out FILE [--go FILE] [--schedule FILE] [--landing DIR]
  */
object Main {
  private[perfbench] val Json =
    new com.fasterxml.jackson.databind.ObjectMapper().registerModule(
      com.fasterxml.jackson.module.scala.DefaultScalaModule)

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opts("workload")
    val trace = opts.getOrElse("trace", "0") == "1"
    val work = opts("work")

    val builder = SparkSession.builder()
      .master("local[4]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
    if (workload == "validator_serve") builder
      .config("spark.scheduler.mode", "FAIR")
      .config("spark.graft.serving.cacheDims", "true")
      .config("spark.graft.serving.cacheIncome", "true")
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sessionUs = Clock.nowUs

    val rec = new Recorder(trace)
    if (trace) Trace.install(spark, rec)
    val harness = new Harness(spark, rec)
    val root = rec.nextId()
    val ctx = Ctx(spark, rec, harness, root, opts("data"), work, opts("seconds").toInt, opts)
    val w = Workloads(workload)

    Harness.sentinelMs(spark) // compile the probe once
    val sentinelUs = Clock.nowUs
    val (_, warmMs) = rec.span(0, "BenchWarm.generic", "setup") {
      BenchWarm.generic(spark, ctx.data)
    }
    val (_, setupMs) = rec.span(0, "workload setup", "setup")(w.setup(ctx))
    // The reference results are computed beside this JVM's set-up; wait
    // until they are done so they never share the box with a timed op.
    opts.get("go").foreach { go =>
      val deadline = System.currentTimeMillis() + 120000
      while (!Files.exists(Paths.get(go)) && System.currentTimeMillis() < deadline) Thread.sleep(10)
      require(Files.exists(Paths.get(go)), "reference results not ready")
    }
    // Contention stamp just before and just after the measured window.
    val sentinelPre = Harness.sentinelProbes(spark)

    val os = ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    val cpuBefore = os.getProcessCpuTime
    val gcBefore = gcMs()
    val codegenBefore = codegenCompiles()
    val firstOpUs = Clock.nowUs
    w.measure(ctx, firstOpUs + ctx.seconds * 1000000L)
    val endUs = Clock.nowUs
    val cpuMs = (os.getProcessCpuTime - cpuBefore) / 1e6
    val gcDuring = gcMs() - gcBefore
    val codegenDuring = codegenCompiles() - codegenBefore
    rec.add(Span(root, 0, workload, "workload", firstOpUs, endUs))

    val sentinelPost = Harness.sentinelProbes(spark)

    val layers: Map[String, Any] = if (!trace) Map.empty else {
      Trace.drain(spark, rec)
      // The income kernel called directly on this run's events, outside
      // every op: fully evaluated, median of three.
      val kernelMs = (1 to 3).map { _ =>
        val t0 = System.nanoTime()
        IncomeKernel.cumulativeIncome(WindowOps.balancesFromEvents(spark, ctx.data))
          .queryExecution.toRdd.foreachPartition(it => while (it.hasNext) it.next())
        (System.nanoTime() - t0) / 1e6
      }.sorted.apply(1)
      layerTotals(rec, w, gcDuring, codegenDuring) + ("income_kernel_ms" -> kernelMs)
    }

    val out = Map[String, Any](
      "workload" -> workload,
      "jvm_start_us" -> ManagementFactory.getRuntimeMXBean.getStartTime * 1000L,
      "first_op_us" -> firstOpUs,
      "session_ready_us" -> sessionUs,
      "sentinel_done_us" -> sentinelUs,
      "end_us" -> endUs,
      "cpu_ms" -> cpuMs,
      "bench_warm_ms" -> warmMs,
      "workload_setup_ms" -> setupMs,
      "sentinel_pre_ms" -> sentinelPre,
      "sentinel_post_ms" -> sentinelPost,
      "units" -> w.units,
      "ops" -> w.ops.asScala.toSeq.sortBy(_.startUs).map(_.toMap),
      "layers" -> layers,
      "spans" -> rec.spans.asScala.toSeq.map(_.toMap)) ++ w.extra
    Files.write(Paths.get(opts("out")), Json.writeValueAsBytes(out))
    spark.stop()
  }

  private def gcMs(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum.toDouble

  private def codegenCompiles(): Double =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount.toDouble

  /** Per-layer totals over the measured ops' jobs and plans. */
  private def layerTotals(rec: Recorder, w: Workload, gcDuring: Double,
      codegenDuring: Double): Map[String, Any] = {
    def t(k: String) = rec.total(rec.taskCounters, k)
    def p(k: String) = rec.total(rec.planCounters, k)
    val dedup: String => Boolean = n => n.startsWith("ns_dedup_") || n.startsWith("ns_sim_neardup")
    val constructJobs = rec.taskCounters.asScala.iterator.collect {
      case (g @ Group(_, "construct"), c) if rec.measured(g) => c.synchronized(c.getOrElse("jobs", 0.0))
    }.sum
    val skews = rec.skews.asScala.toSeq.filter { case (g, _) => rec.measured(g) }.map(_._2)
    Map(
      "jobs" -> t("jobs"), "stages" -> t("stages"), "tasks" -> t("tasks"),
      "construct_jobs" -> constructJobs,
      "sched_delay_ms" -> t("sched_delay_ms"), "cpu_ms" -> t("cpu_ms"),
      "gc_ms" -> gcDuring, "codegen_compiles" -> codegenDuring,
      "peak_exec_mem_mb" -> rec.maxOf(rec.taskCounters, "peak_exec_mem") / (1 << 20),
      "spill_bytes" -> t("spill_bytes"),
      "input_bytes" -> t("input_bytes"), "input_rows" -> t("input_rows"),
      "output_bytes" -> t("output_bytes"),
      "shuffle_write_bytes" -> t("shuffle_write_bytes"),
      "shuffle_write_ms" -> t("shuffle_write_ms"), "fetch_wait_ms" -> t("fetch_wait_ms"),
      "scan_ms" -> p("scan_ms"), "scan_files" -> p("scan_files"),
      "sort_ms" -> p("sort_ms"), "agg_ms" -> p("agg_ms"), "wscg_ms" -> p("wscg_ms"),
      "broadcast_ms" -> p("broadcast_ms"),
      "sink_files" -> p("sink_files"), "sink_bytes" -> p("sink_bytes"),
      "partition_skew" -> (if (skews.isEmpty) 0.0 else skews.max),
      "dedup_candidate_rows" -> rec.total(rec.planCounters, "join_rows_max", dedup),
      "dedup_result_rows" -> w.ops.asScala.filter(o => dedup(o.name)).map(_.rows).sum.toDouble)
  }
}
