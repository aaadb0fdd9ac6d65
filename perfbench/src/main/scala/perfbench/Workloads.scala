package perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import graft.SparkEntry
import graft.ops.IncomeKernel
import graft.ops.WindowOps
import graft.streaming.StreamingIncome
import org.apache.spark.sql.{DataFrame, SparkSession}

/** What every workload gets: the session, the recorder, the generated
  * input directories and the run length. */
final case class Ctx(spark: SparkSession, rec: Recorder, harness: Harness, root: Long,
    data: String, work: String, seconds: Int, opts: Map[String, String]) {
  def query(name: String): (SparkSession, String) => DataFrame =
    SparkEntry.queries.getOrElse(name, sys.error(s"unknown query $name"))
}

/** A workload sets up untimed, then measures until its deadline. `units`
  * counts the units of work the per-layer totals are divided by (passes,
  * requests or ingests). */
trait Workload {
  def setup(c: Ctx): Unit
  def measure(c: Ctx, deadlineUs: Long): Unit
  val ops = new ConcurrentLinkedQueue[OpResult]()
  def units: Int
  def extra: Map[String, Any] = Map.empty
}

object Workloads {

  /** The 16 validator views of graft.pipeline.Pipelines and the 10 of
    * graft.pipeline.ServingEndpoints: the reference's serving API. */
  val ValidatorViews: Seq[String] = Seq(
    "pipe_apr_between_epochs", "pipe_average_index_apr", "pipe_daily_apr",
    "pipe_epoch_wise_apr", "pipe_extract_catchup", "pipe_income_snapshot",
    "pipe_index_apr_average", "pipe_index_epoch_apr", "pipe_leaderboard",
    "pipe_lsd_wise_apr", "pipe_top_indexes", "pipe_user_income",
    "pipe_user_income_mev", "pipe_user_income_node_runner",
    "pipe_validator_slot_withdrawals", "pipe_watermark_align",
    "pipe_index_deth_earned", "pipe_index_validators", "pipe_validator_lsd_score",
    "pipe_index_redemption_rate", "pipe_saveth_index_names", "pipe_mev_watch",
    "pipe_index_leaderboard", "pipe_withdrawals_slot_range",
    "pipe_withdrawals_slot_bounds", "pipe_pon_eligibility")

  /** LLM-data curation set: the dedup, similarity, text and packing
    * families, and the corpus-build pipeline of graft.pipeline. */
  val CorpusQueries: Seq[String] = Seq(
    "ns_dedup_jaccard", "ns_dedup_minhash", "ns_sim_neardup_lsh",
    "ns_text_quality", "ns_pack_chunks", "pipe_corpus_build")

  def apply(name: String): Workload = name match {
    case "validator_refresh" => new Passes(ValidatorViews, clearEachOp = false)
    case "corpus_curate" => new Passes(CorpusQueries, clearEachOp = true)
    case "validator_serve" => new Serve
    case "income_ingest" => new Ingest
    case other => sys.error(s"unknown workload $other")
  }

  /** Sequential passes over a query list, each query evaluated to its last
    * row; caches are dropped after each pass, or after each query. These
    * are batch jobs, which start in a fresh JVM on every run: the first
    * pass pays its codegen and JIT, as such a job does. */
  final class Passes(queries: Seq[String], clearEachOp: Boolean) extends Workload {
    private val passMs = Seq.newBuilder[Double]
    private var n = 0
    def units: Int = n

    def setup(c: Ctx): Unit = ()

    def measure(c: Ctx, deadlineUs: Long): Unit = {
      while (n == 0 || Clock.nowUs < deadlineUs) {
        val pass = c.rec.nextId()
        val (res, _) = c.rec.span(c.root, s"pass $n", "pass", pass) {
          queries.map { q =>
            val r = c.harness.runOp(pass, q)(c.query(q)(c.spark, c.data))
            if (clearEachOp) Harness.clearState(c.spark)
            r
          }
        }
        res.foreach(ops.add)
        passMs += res.map(_.latencyMs).sum
        n += 1
        if (!clearEachOp) Harness.clearState(c.spark)
      }
    }

    override def extra: Map[String, Any] = Map("pass_ms" -> passMs.result())
  }

  /** Closed loop of simulated users against one long-lived serving session:
    * each user runs its seeded schedule of (endpoint, think time), waiting
    * for each response before thinking and sending the next. */
  final class Serve extends Workload {
    private var wallMs = 0.0
    def units: Int = ops.size

    private def bootState(c: Ctx): Unit = {
      // The serving session's materialized state: income and the static
      // dimensions (graft.ServeBench's boot posture).
      IncomeKernel.servingIncome(c.spark, c.data).count()
      Seq(graft.model.Tables.customer _, graft.model.Tables.supplier _,
        graft.model.Tables.part _, graft.model.Tables.nation _,
        graft.model.Tables.region _).foreach(t => t(c.spark, c.data).count())
    }

    def setup(c: Ctx): Unit = {
      bootState(c)
      // Each endpoint once, from four threads, as a long-lived server has
      // long since done.
      val warmers = ValidatorViews.grouped((ValidatorViews.size + 3) / 4).toSeq.map { qs =>
        new Thread(() => qs.foreach(q =>
          c.harness.runOp(c.root, q, measured = false)(c.query(q)(c.spark, c.data))))
      }
      warmers.foreach(_.start())
      warmers.foreach(_.join())
      // Drop what the warm left cached, then rebuild the boot state.
      Harness.clearState(c.spark)
      bootState(c)
    }

    def measure(c: Ctx, deadlineUs: Long): Unit = {
      val schedule = scala.io.Source.fromFile(c.opts("schedule")).getLines()
        .map(_.split("\t")).map(a => (a(0).toInt, a(1), a(2).toLong)).toSeq
        .groupBy(_._1).toSeq.sortBy(_._1)
      val t0 = Clock.nowUs
      val users = schedule.map { case (u, plan) =>
        new Thread(() => {
          c.spark.sparkContext.setLocalProperty("spark.scheduler.pool", s"user$u")
          val it = plan.iterator
          while (it.hasNext && Clock.nowUs < deadlineUs) {
            val (_, ep, thinkMs) = it.next()
            ops.add(c.harness.runOp(c.root, ep, u)(c.query(ep)(c.spark, c.data)))
            Thread.sleep(thinkMs)
          }
        }, s"perfbench-user-$u")
      }
      users.foreach(_.start())
      users.foreach(_.join())
      wallMs = Clock.ms(t0, Clock.nowUs)
    }

    override def extra: Map[String, Any] = Map("wall_ms" -> wallMs)
  }

  /** Incremental income ingest: StreamingIncome.incomeFilePipeline catches
    * up on the landed files, one per micro-batch, into a fresh sink, as a
    * stream restarted in a fresh JVM does; the final income table is
    * checked against IncomeKernel.cumulativeIncome over the same rows. */
  final class Ingest extends Workload {
    private val batches = Seq.newBuilder[Map[String, Any]]
    private var expected = ""
    private var n = 0
    def units: Int = n

    private def ingest(c: Ctx, landing: String, out: String, op: Long): (Double, Seq[Map[String, Any]]) = {
      val t0 = Clock.nowUs
      val q = StreamingIncome.incomeFilePipeline(c.spark, landing, s"$out/sink", s"$out/checkpoint")
      // The stream's jobs run under its run id: count them as this op's.
      c.rec.measuredGroups.add(q.runId.toString)
      c.rec.groupParent.put(q.runId.toString, Harness.phaseId(op, "execute"))
      q.awaitTermination()
      val ms = Clock.ms(t0, Clock.nowUs)
      val progress = q.recentProgress.toSeq.filter(_.numInputRows > 0).map { p =>
        val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
        Map[String, Any]("batch" -> p.batchId, "input_rows" -> p.numInputRows,
          "trigger_ms" -> d.getOrElse("triggerExecution", 0L),
          "add_batch_ms" -> d.getOrElse("addBatch", 0L),
          "planning_ms" -> d.getOrElse("queryPlanning", 0L),
          "wal_commit_ms" -> d.getOrElse("walCommit", 0L))
      }
      (ms, progress)
    }

    private def incomeRows(c: Ctx, out: String): DataFrame =
      c.spark.read.parquet(s"$out/sink/income")
        .select("user_id", "epoch", "earnings", "losses", "apr", "epochs_since_active")

    def setup(c: Ctx): Unit = {
      // Reference expectation: the batch kernel over the same rows.
      val ref = IncomeKernel.cumulativeIncome(WindowOps.balancesFromEvents(c.spark, c.data))
      expected = Canon.hash(ref.schema, ref.collect())
      Harness.clearState(c.spark)
    }

    def measure(c: Ctx, deadlineUs: Long): Unit = {
      while (n == 0 || Clock.nowUs < deadlineUs) {
        val out = s"${c.work}/ingest_$n"
        val op = c.rec.reserve(1 + Harness.Phases.size)
        c.rec.opNames.put(op, "income_ingest")
        val t0 = Clock.nowUs
        val r = try {
          val ((ms, progress), _) = c.rec.span(op, "execute", "phase", Harness.phaseId(op, "execute")) {
            ingest(c, c.opts("landing"), out, op)
          }
          batches ++= progress.map(_ + ("ingest" -> n))
          val ((h, rows), vMs) = c.rec.span(op, "verify", "phase", Harness.phaseId(op, "verify")) {
            val df = incomeRows(c, out)
            val rows = df.collect()
            (Canon.hash(df.schema, rows), rows.length.toLong)
          }
          OpResult("income_ingest", 0, t0, ms, 0, 0, ms, vMs, ok = true, h, rows, "")
        } catch {
          case e: Throwable =>
            System.err.println(s"[perfbench] income_ingest failed: $e")
            OpResult("income_ingest", 0, t0, Clock.ms(t0, Clock.nowUs), 0, 0, 0, 0,
              ok = false, "", 0, e.toString)
        }
        c.rec.add(Span(op, c.root, "income_ingest", "op", t0, Clock.nowUs))
        ops.add(r)
        n += 1
        Harness.clearState(c.spark)
      }
    }

    override def extra: Map[String, Any] = Map("batches" -> batches.result(),
      "expected_hash" -> expected)
  }
}
