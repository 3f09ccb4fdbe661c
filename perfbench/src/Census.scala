package perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ShuffleExchangeLike}
import org.apache.spark.sql.util.QueryExecutionListener

import scala.collection.mutable

/** One span of the trace tree pass → op → release/build/exec → job →
  * stage. `startUs`/`endUs` are epoch microseconds on the monotonic
  * [[Clock]]; `startMs`/`endMs` are the same instants read from
  * `System.currentTimeMillis`, the clock listener events carry, so job
  * times compare with span times without drift between the two clocks. */
final case class Span(id: Int, parent: Int, kind: String, name: String,
    module: String, startUs: Long, endUs: Long, startMs: Long, endMs: Long) {
  def durUs: Long = endUs - startUs
}

/** A span that is open: its id and start times. */
final case class Opened(id: Int, startUs: Long, startMs: Long)

/** Wall clock in epoch microseconds, monotonic within the run. Listener
  * events carry epoch milliseconds, so both land on one timeline. */
object Clock {
  private val baseUs = System.currentTimeMillis() * 1000L
  private val baseNs = System.nanoTime()
  def nowUs: Long = baseUs + (System.nanoTime() - baseNs) / 1000L
}

/** Spans the harness records around its own calls into the engine, kept in
  * memory and written out at the end of the run. */
final class SpanLog {
  val spans = mutable.ArrayBuffer.empty[Span]
  private var next = 0

  def open(): Opened = {
    next += 1
    Opened(next, Clock.nowUs, System.currentTimeMillis())
  }
  def close(o: Opened, parent: Int, kind: String, name: String, module: String): Span = {
    val s = Span(o.id, parent, kind, name, module, o.startUs, Clock.nowUs,
      o.startMs, System.currentTimeMillis())
    spans += s
    s
  }
}

/** Per-stage task statistics folded from task-end events. */
final class StageStats {
  val durationsMs = mutable.ArrayBuffer.empty[Long]
  var failed = 0
  var cpuNs, runMs, shWriteBytes, shWriteRecords, shReadBytes, fetchWaitMs,
    spillBytes, inBytes, outBytes = 0L
  var submitMs, completeMs = 0L
}

final case class JobRec(jobId: Int, group: String, stageIds: Seq[Int],
    startMs: Long, var endMs: Long = -1L)

/** Planning time and final-plan exchange counts of one executed query. */
final case class QeRec(atMs: Long, planMs: Long, exchanges: Int, broadcasts: Int)

/** The census: a SparkListener and a QueryExecutionListener registered by
  * the harness. Events are only recorded here; they are folded into
  * per-op numbers after the SparkContext stops, when the listener bus has
  * delivered everything. Jobs reach their op through the job-group local
  * property the harness sets around each phase. */
final class Census extends SparkListener with QueryExecutionListener {
  val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  val stages = mutable.HashMap.empty[Int, StageStats]
  val qes = mutable.ArrayBuffer.empty[QeRec]

  private def stage(id: Int): StageStats = stages.getOrElseUpdate(id, new StageStats)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val group = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    jobs(e.jobId) = JobRec(e.jobId, group, e.stageIds, e.time)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.endMs = e.time)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val s = stage(e.stageInfo.stageId)
    s.submitMs = e.stageInfo.submissionTime.getOrElse(0L)
    s.completeMs = e.stageInfo.completionTime.getOrElse(0L)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val s = stage(e.stageId)
    s.durationsMs += e.taskInfo.duration
    if (!e.taskInfo.successful) s.failed += 1
    val m = e.taskMetrics
    if (m != null) {
      s.cpuNs += m.executorCpuTime
      s.runMs += m.executorRunTime
      s.shWriteBytes += m.shuffleWriteMetrics.bytesWritten
      s.shWriteRecords += m.shuffleWriteMetrics.recordsWritten
      s.shReadBytes += m.shuffleReadMetrics.totalBytesRead
      s.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
      s.spillBytes += m.diskBytesSpilled
      s.inBytes += m.inputMetrics.bytesRead
      s.outBytes += m.outputMetrics.bytesWritten
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val phases = qe.tracker.phases
    val planMs = Seq("analysis", "optimization", "planning")
      .flatMap(phases.get).map(_.durationMs).sum
    val at = if (phases.isEmpty) System.currentTimeMillis()
      else phases.values.map(_.endTimeMs).max
    val (ex, bc) = PlanCount(qe.executedPlan)
    synchronized { qes += QeRec(at, planMs, ex, bc) }
  }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
}

/** Shuffle and broadcast exchanges in a final (AQE) physical plan,
  * subqueries and query stages included. */
object PlanCount extends AdaptiveSparkPlanHelper {
  def apply(plan: SparkPlan): (Int, Int) = {
    val nodes = collectWithSubqueries(plan) { case p => p }
    (nodes.count(_.isInstanceOf[ShuffleExchangeLike]),
      nodes.count(_.isInstanceOf[BroadcastExchangeLike]))
  }
}

/** Folds spans, census events and the harness's own per-op samples into
  * the per-layer metrics, per op and per pass. */
object Layers {
  val Modules = Seq("core", "apps", "operators", "functions")

  /** Metric names in report order; per-op values carry the same names. */
  val Names: Seq[String] = Modules.flatMap(m => Seq(s"$m.build_s", s"$m.exec_s")) ++ Seq(
    "catalyst.plan_s", "catalyst.exchanges", "catalyst.broadcasts",
    "scheduler.jobs", "scheduler.stages", "scheduler.tasks",
    "scheduler.failed_tasks", "scheduler.driver_gap_s",
    "executor.cpu_s", "executor.run_s", "executor.gc_s",
    "executor.core_util", "executor.task_skew",
    "shuffle.write_mb", "shuffle.read_mb", "shuffle.records",
    "shuffle.fetch_wait_s", "shuffle.spill_mb",
    "io.input_mb", "io.output_mb",
    "persist.cached_mb", "persist.rdds", "persist.release_s")

  /** Metrics that are not sums over ops. */
  private val NonAdditive = Set("executor.core_util", "executor.task_skew",
    "persist.cached_mb", "persist.rdds")

  private val MB = 1024.0 * 1024.0

  /** Length of the union of [s, e) intervals clipped to [lo, hi). */
  def unionUs(iv: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    val clipped = iv.map { case (s, e) => (math.max(s, lo), math.min(e, hi)) }
      .filter { case (s, e) => e > s }.sortBy(_._1)
    var total = 0L
    var curS = -1L
    var curE = -1L
    clipped.foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (curE > curS) total += curE - curS
    total
  }

  def median(xs: Seq[Double]): Double = {
    val v = xs.sorted
    if (v.isEmpty) 0.0
    else if (v.size % 2 == 1) v(v.size / 2) else (v(v.size / 2 - 1) + v(v.size / 2)) / 2
  }

  /** Job and stage spans derived from the census, parented to the phase
    * span named by each job's group. */
  def jobSpans(c: Census, phaseIds: Set[Int], firstId: Int): Seq[Span] = {
    var next = firstId
    val out = mutable.ArrayBuffer.empty[Span]
    val seenStage = mutable.HashSet.empty[Int]
    c.jobs.values.foreach { j =>
      groupSpan(j.group).filter(phaseIds).foreach { pid =>
        next += 1
        val jid = next
        val end = if (j.endMs >= 0) j.endMs else j.startMs
        out += Span(jid, pid, "job", s"job ${j.jobId}", "", j.startMs * 1000, end * 1000,
          j.startMs, end)
        j.stageIds.filter(seenStage.add).foreach { sid =>
          c.stages.get(sid).filter(_.completeMs > 0).foreach { st =>
            next += 1
            out += Span(next, jid, "stage", s"stage $sid", "", st.submitMs * 1000,
              st.completeMs * 1000, st.submitMs, st.completeMs)
          }
        }
      }
    }
    out.toSeq
  }

  /** The trace's attribution check, over the jobs that started in the
    * timed window [fromMs, toMs): each must name a phase span through its
    * job group, else it is unattributed, and must have ended inside that
    * phase. Listener times are whole milliseconds, hence the 1 ms slack. */
  def jobCheck(c: Census, phases: Map[Int, Span], fromMs: Long,
      toMs: Long): Map[String, Any] = {
    val inWindow = c.jobs.values.filter(j => j.startMs >= fromMs && j.startMs < toMs).toSeq
    def phaseOf(j: JobRec) = groupSpan(j.group).flatMap(phases.get)
    val unattributed = inWindow.filter(phaseOf(_).isEmpty)
    val outside = inWindow.flatMap(j => phaseOf(j).map(j -> _)).filter { case (j, p) =>
      j.endMs < 0 || j.startMs < p.startMs - 1 || j.endMs > p.endMs + 1
    }
    Map("jobs" -> inWindow.size,
      "unattributed_jobs" -> unattributed.map(_.jobId),
      "jobs_outside_phase" -> outside.map { case (j, p) =>
        s"job ${j.jobId} [${j.startMs}, ${j.endMs}] ms outside ${p.name} ${p.kind} " +
          s"[${p.startMs}, ${p.endMs}] ms"
      })
  }

  def groupSpan(group: String): Option[Int] =
    if (group.startsWith("perfbench|")) group.stripPrefix("perfbench|").toIntOption else None

  /** Per-op layer metrics. `samples` holds the harness's own per-op
    * readings (gc_ms, cached_mb, rdds) keyed by op span id. */
  def perOp(op: Span, phases: Seq[Span], c: Census, cores: Int,
      samples: Map[String, Double]): mutable.LinkedHashMap[String, Double] = {
    val m = mutable.LinkedHashMap.empty[String, Double]
    Names.foreach(m(_) = 0.0)
    val phaseIds = phases.map(_.id).toSet
    phases.foreach { p =>
      p.kind match {
        case "build" => m(s"${op.module}.build_s") += p.durUs / 1e6
        case "exec" => m(s"${op.module}.exec_s") += p.durUs / 1e6
        case "release" => m("persist.release_s") += p.durUs / 1e6
        case _ =>
      }
    }
    val opJobs = c.jobs.values.filter(j => groupSpan(j.group).exists(phaseIds)).toSeq
    val opStages = opJobs.flatMap(_.stageIds).distinct.flatMap(c.stages.get)
      .filter(_.completeMs > 0)
    m("scheduler.jobs") = opJobs.size
    m("scheduler.stages") = opStages.size
    m("scheduler.tasks") = opStages.map(_.durationsMs.size).sum
    m("scheduler.failed_tasks") = opStages.map(_.failed).sum
    val busyUs = unionUs(opJobs.map(j => (j.startMs * 1000,
      (if (j.endMs >= 0) j.endMs else j.startMs) * 1000)), op.startUs, op.endUs)
    m("scheduler.driver_gap_s") = (op.durUs - busyUs) / 1e6
    m("executor.cpu_s") = opStages.map(_.cpuNs).sum / 1e9
    m("executor.run_s") = opStages.map(_.runMs).sum / 1e3
    m("executor.gc_s") = samples.getOrElse("gc_ms", 0.0) / 1e3
    m("executor.core_util") =
      if (op.durUs > 0) m("executor.run_s") / (op.durUs / 1e6 * cores) else 0.0
    m("executor.task_skew") = opStages.filter(_.durationsMs.size >= 2).map { s =>
      val med = median(s.durationsMs.map(_.toDouble).toSeq)
      if (med > 0) s.durationsMs.max / med else 1.0
    }.maxOption.getOrElse(1.0)
    m("shuffle.write_mb") = opStages.map(_.shWriteBytes).sum / MB
    m("shuffle.read_mb") = opStages.map(_.shReadBytes).sum / MB
    m("shuffle.records") = opStages.map(_.shWriteRecords).sum.toDouble
    m("shuffle.fetch_wait_s") = opStages.map(_.fetchWaitMs).sum / 1e3
    m("shuffle.spill_mb") = opStages.map(_.spillBytes).sum / MB
    m("io.input_mb") = opStages.map(_.inBytes).sum / MB
    m("io.output_mb") = opStages.map(_.outBytes).sum / MB
    val opQes = c.qes.filter(q => q.atMs * 1000 >= op.startUs && q.atMs * 1000 <= op.endUs)
    m("catalyst.plan_s") = opQes.map(_.planMs).sum / 1e3
    m("catalyst.exchanges") = opQes.map(_.exchanges).sum.toDouble
    m("catalyst.broadcasts") = opQes.map(_.broadcasts).sum.toDouble
    m("persist.cached_mb") = samples.getOrElse("cached_mb", 0.0)
    m("persist.rdds") = samples.getOrElse("rdds", 0.0)
    m
  }

  /** Workload-level metrics of one pass from its ops: sums, except
    * core_util (over the pass wall), task_skew (worst op) and the persist
    * footprint (largest op-end reading). */
  def perPass(pass: Span, ops: Seq[mutable.LinkedHashMap[String, Double]],
      cores: Int): Map[String, Double] =
    Names.map { n =>
      val v = n match {
        case "executor.core_util" =>
          ops.map(_("executor.run_s")).sum / (pass.durUs / 1e6 * cores)
        case _ if NonAdditive(n) => ops.map(_(n)).maxOption.getOrElse(0.0)
        case _ => ops.map(_(n)).sum
      }
      n -> v
    }.toMap

  def medianOver(passes: Seq[Map[String, Double]]): Seq[(String, Double)] =
    Names.map(n => n -> median(passes.map(_(n))))

  /** Self time of every span: its duration minus the part of it that its
    * children cover. */
  def selfTimes(spans: Seq[Span]): Map[Int, Long] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      val cs = kids.getOrElse(s.id, Nil).map(k => (k.startUs, k.endUs))
      s.id -> (s.durUs - unionUs(cs, s.startUs, s.endUs))
    }.toMap
  }
}
