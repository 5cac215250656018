package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

object Tracer {
  /** Local properties set by the query's thread; jobs carry them. */
  val QueryProp = "perfbench.query"
  val PhaseProp = "perfbench.phase"
  val ExecIdProp = "spark.sql.execution.id"
  val Modules: Seq[String] = Seq("apps", "relational", "text", "sim", "pipeline",
    "streaming", "multimodal", "kv", "gossip")

  final case class PlanRec(qeId: Long, phases: Map[String, (Long, Long)])
  final case class QueryRec(inst: String, startMs: Long, endMs: Long, constructMs: Double,
      codegen: Long, ckpt: (Int, Double))
}

/** Per-query spans for one pass: query → construct / execute → job →
  * stage, plus the Catalyst phases of every executed plan. Spans are
  * kept in memory and written as JSON lines when the pass has ended.
  * Jobs and stages are attributed through the query's local property;
  * plans through the time their first phase started. The listener bus is
  * drained once, when the pass ends, so tracing adds no wait between
  * queries. */
final class Tracer(session: SparkSession) {
  import Tracer._
  private val sc: SparkContext = session.sparkContext

  final class JobRec(val id: Int, val inst: String, val phase: String, val startMs: Long,
      val execId: Long) { @volatile var endMs: Long = -1L }
  final class StageRec(val id: Int, val jobId: Int, val inst: String) {
    var submitMs = -1L; var endMs = -1L
    var tasks = 0L; var failures = 0L
    var runMs = 0L; var cpuMs = 0L; var gcMs = 0L; var schedMs = 0L; var fetchMs = 0L
    var inputB = 0L; var shufRB = 0L; var shufWB = 0L; var spillB = 0L
  }

  private val jobs = new ConcurrentHashMap[Int, JobRec]()
  private val stages = new ConcurrentHashMap[Int, StageRec]()
  private val plans = new java.util.concurrent.ConcurrentLinkedQueue[PlanRec]()
  private val queries = new ConcurrentHashMap[String, QueryRec]()
  private val codegenAtBegin = new ConcurrentHashMap[String, java.lang.Long]()

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val p = Option(e.properties)
      val inst = p.flatMap(x => Option(x.getProperty(QueryProp))).orNull
      val phase = p.flatMap(x => Option(x.getProperty(PhaseProp))).getOrElse("")
      val execId = p.flatMap(x => Option(x.getProperty(ExecIdProp))).map(_.toLong).getOrElse(-1L)
      jobs.put(e.jobId, new JobRec(e.jobId, inst, phase, e.time, execId))
      e.stageIds.foreach(s => stages.putIfAbsent(s, new StageRec(s, e.jobId, inst)))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      Option(stages.get(e.stageInfo.stageId)).foreach { s =>
        s.submitMs = e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())
      }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Option(stages.get(e.stageInfo.stageId)).foreach { s =>
        s.endMs = e.stageInfo.completionTime.getOrElse(System.currentTimeMillis())
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(stages.get(e.stageId)).foreach { s =>
        val info = e.taskInfo
        val tm = e.taskMetrics
        s.tasks += 1
        if (!info.successful) s.failures += 1
        if (tm != null) {
          s.runMs += tm.executorRunTime
          s.cpuMs += tm.executorCpuTime / 1000000L
          s.gcMs += tm.jvmGCTime
          s.fetchMs += tm.shuffleReadMetrics.fetchWaitTime
          s.inputB += tm.inputMetrics.bytesRead
          s.shufRB += tm.shuffleReadMetrics.remoteBytesRead + tm.shuffleReadMetrics.localBytesRead
          s.shufWB += tm.shuffleWriteMetrics.bytesWritten
          s.spillB += tm.memoryBytesSpilled + tm.diskBytesSpilled
          // waiting for a slot, plus the UI's scheduler delay (task
          // duration not spent deserializing, running or serializing)
          val queued = if (s.submitMs > 0) math.max(0L, info.launchTime - s.submitMs) else 0L
          val overhead = math.max(0L, info.duration - tm.executorRunTime -
            tm.executorDeserializeTime - tm.resultSerializationTime)
          s.schedMs += queued + overhead
        }
      }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val phases = qe.tracker.phases.map { case (k, v) => k -> (v.startTimeMs, v.endTimeMs) }
      plans.add(PlanRec(qe.id, phases))
    }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
      onSuccess(funcName, qe, 0L)
  }

  sc.addSparkListener(listener)
  session.listenerManager.register(qeListener)

  def close(): Unit = {
    drain()
    sc.removeSparkListener(listener)
    session.listenerManager.unregister(qeListener)
  }

  private def drain(): Unit =
    try org.apache.spark.graftbench.BusDrain.drain(sc) catch { case _: Throwable => () }

  def begin(inst: String): Unit = {
    codegenAtBegin.put(inst, CodegenMetrics.METRIC_COMPILATION_TIME.getCount)
  }

  def end(inst: String, startMs: Long, endMs: Long, constructS: Double, ckpt: (Int, Double)): Unit = {
    val cg = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - codegenAtBegin.get(inst)
    queries.put(inst, QueryRec(inst, startMs, endMs, constructS * 1000, cg, ckpt))
  }

  // ---------------------------------------------------------- aggregation

  private def jobsOf(inst: String): Seq[JobRec] =
    jobs.values.asScala.filter(_.inst == inst).toSeq.sortBy(_.startMs)
  private def stagesOf(inst: String): Seq[StageRec] =
    stages.values.asScala.filter(s => s.inst == inst && s.tasks > 0).toSeq
  /** A plan belongs to the query whose wall holds its first phase (one
    * client runs one query at a time): `QueryExecution.id` is not the SQL
    * execution id the query's jobs carry. */
  private def plansOf(inst: String): Seq[PlanRec] = Option(queries.get(inst)).toSeq.flatMap { q =>
    plans.asScala.filter { p =>
      p.phases.nonEmpty && { val s = p.phases.values.map(_._1).min; s >= q.startMs && s <= q.endMs }
    }
  }

  /** Length of the union of `spans`, clipped to [lo, hi]. */
  private def covered(spans: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    var total = 0L; var curS = Long.MinValue; var curE = Long.MinValue
    spans.map { case (s, e) => (math.max(s, lo), math.min(e, hi)) }
      .filter { case (s, e) => e > s }.sortBy(_._1).foreach { case (s, e) =>
        if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
        else curE = math.max(curE, e)
      }
    if (curE > curS) total += curE - curS
    total
  }

  private def idleMs(q: QueryRec): Long = {
    val js = jobsOf(q.inst).map(j => (j.startMs, if (j.endMs > 0) j.endMs else q.endMs))
    (q.endMs - q.startMs) - covered(js, q.startMs, q.endMs)
  }

  private def phaseSpans(inst: String): Seq[(String, Long, Long)] =
    plansOf(inst).flatMap(_.phases.toSeq.map { case (k, (s, e)) => (k, s, e) })

  /** Share of the query's wall covered by its construct span, its
    * Catalyst phases and its jobs. What is left is driver time inside
    * `collect()` that no span explains: code generation, job submission
    * gaps, result conversion. */
  private def coverage(q: QueryRec): Double = {
    val split = q.startMs + math.round(q.constructMs)
    val spans = (q.startMs, split) +: (phaseSpans(q.inst).map { case (_, s, e) => (s, e) } ++
      jobsOf(q.inst).map(j => (j.startMs, if (j.endMs > 0) j.endMs else q.endMs)))
    val wall = q.endMs - q.startMs
    if (wall <= 0) 1.0 else covered(spans, q.startMs, q.endMs).toDouble / wall
  }

  private def phaseMs(recs: Iterable[PlanRec], phase: String): Long =
    recs.flatMap(_.phases.get(phase)).map { case (s, e) => e - s }.sum

  /** Per-layer totals for the pass this tracer watched. */
  def layers(pass: Harness.PassResult, cpus: Int): Json = {
    val ok = pass.records.filter(_.ok)
    val st = stages.values.asScala.filter(_.tasks > 0)
    val allJobs = jobs.values.asScala
    val mb = 1048576.0
    val j = new Json
    j.num("construct.ms", ok.map(_.constructS * 1000).sum)
    j.num("construct.jobs", allJobs.count(_.phase == "construct").toLong)
    j.num("Ckpt.cuts", pass.ckpt._1.toLong)
    j.num("Ckpt.mb", pass.ckpt._2)
    j.num("catalyst.analysis_ms", phaseMs(plans.asScala, "analysis"))
    j.num("catalyst.optimization_ms", phaseMs(plans.asScala, "optimization"))
    j.num("catalyst.planning_ms", phaseMs(plans.asScala, "planning"))
    j.num("codegen.classes", pass.codegen)
    j.num("driver.idle_ms", queries.values.asScala.map(idleMs).sum)
    val nStages = st.size.toLong
    val nTasks = st.map(_.tasks).sum
    j.num("exec.jobs", allJobs.size.toLong)
    j.num("exec.stages", nStages)
    j.num("exec.tasks", nTasks)
    j.num("exec.tasks_per_stage", if (nStages == 0) 0.0 else nTasks.toDouble / nStages)
    j.num("exec.job_wall_ms", allJobs.filter(_.endMs > 0).map(x => x.endMs - x.startMs).sum)
    val runMs = st.map(_.runMs).sum
    j.num("exec.run_ms", runMs)
    j.num("exec.cpu_ms", st.map(_.cpuMs).sum)
    j.num("exec.gc_ms", st.map(_.gcMs).sum)
    j.num("exec.sched_delay_ms", st.map(_.schedMs).sum)
    j.num("exec.fetch_wait_ms", st.map(_.fetchMs).sum)
    j.num("exec.input_mb", st.map(_.inputB).sum / mb)
    j.num("exec.shuffle_read_mb", st.map(_.shufRB).sum / mb)
    j.num("exec.shuffle_write_mb", st.map(_.shufWB).sum / mb)
    j.num("exec.spill_mb", st.map(_.spillB).sum / mb)
    j.num("exec.slot_busy_frac", runMs / (cpus * pass.wallS * 1000.0))
    j.num("exec.task_failures", st.map(_.failures).sum)
    Tracer.Modules.foreach { m =>
      j.num(s"$m.wall_s", ok.filter(_.module == m).map(_.wallS).sum)
    }
    val qs = queries.values.asScala
    j.num("trace.coverage_frac", if (qs.isEmpty) 0.0 else qs.map(coverage).min)
    j
  }

  /** Writes one JSON line per span: query, construct, execute, each
    * Catalyst phase, job and stage, linked by `parent`. */
  def writeSpans(path: String, pass: Harness.PassResult): Unit = {
    val w = new java.io.PrintWriter(path, "UTF-8")
    try pass.records.foreach { r =>
      val q = queries.get(r.inst)
      if (q != null) {
        val st = stagesOf(r.inst)
        val qj = new Json
        qj.str("span", "query"); qj.str("id", r.inst); qj.str("name", r.name)
        qj.str("module", r.module)
        qj.num("start_ms", q.startMs); qj.num("end_ms", q.endMs)
        qj.num("wall_ms", r.wallS * 1000); qj.bool("ok", r.ok); qj.num("rows", r.rows)
        qj.num("coverage_frac", coverage(q)); qj.num("driver_idle_ms", idleMs(q))
        qj.num("codegen_classes", q.codegen)
        qj.num("ckpt_cuts", q.ckpt._1.toLong); qj.num("ckpt_mb", q.ckpt._2)
        val ps = plansOf(r.inst)
        Seq("analysis", "optimization", "planning").foreach(p =>
          qj.num(s"${p}_ms", phaseMs(ps, p)))
        val js = jobsOf(r.inst)
        qj.num("jobs", js.size.toLong); qj.num("construct_jobs", js.count(_.phase == "construct").toLong)
        qj.num("stages", st.size.toLong); qj.num("tasks", st.map(_.tasks).sum)
        qj.num("run_ms", st.map(_.runMs).sum); qj.num("cpu_ms", st.map(_.cpuMs).sum)
        qj.num("gc_ms", st.map(_.gcMs).sum); qj.num("sched_delay_ms", st.map(_.schedMs).sum)
        qj.num("fetch_wait_ms", st.map(_.fetchMs).sum)
        qj.num("input_mb", st.map(_.inputB).sum / 1048576.0)
        qj.num("shuffle_read_mb", st.map(_.shufRB).sum / 1048576.0)
        qj.num("shuffle_write_mb", st.map(_.shufWB).sum / 1048576.0)
        qj.num("spill_mb", st.map(_.spillB).sum / 1048576.0)
        if (r.error.nonEmpty) qj.str("error", r.error)
        w.println(qj.render)
        val split = q.startMs + math.round(q.constructMs)
        def span(kind: String, id: String, parent: String, s: Long, e: Long)(f: Json => Unit): Unit = {
          val j = new Json
          j.str("span", kind); j.str("id", id); j.str("parent", parent)
          j.num("start_ms", s); j.num("end_ms", e); f(j); w.println(j.render)
        }
        span("construct", s"${r.inst}/construct", r.inst, q.startMs, split)(_ => ())
        span("execute", s"${r.inst}/execute", r.inst, split, q.endMs)(_ => ())
        ps.foreach(p => p.phases.foreach { case (k, (s, e)) =>
          span(s"plan.$k", s"${r.inst}/plan/${p.qeId}/$k", r.inst, s, e)(
            _.num("query_execution_id", p.qeId))
        })
        js.foreach { jr =>
          span("job", s"${r.inst}/job/${jr.id}", s"${r.inst}/${jr.phase}", jr.startMs, jr.endMs)(
            _.num("execution_id", jr.execId))
        }
        st.foreach { s =>
          span("stage", s"${r.inst}/stage/${s.id}", s"${r.inst}/job/${s.jobId}", s.submitMs, s.endMs) { j =>
            j.num("tasks", s.tasks); j.num("run_ms", s.runMs); j.num("cpu_ms", s.cpuMs)
            j.num("gc_ms", s.gcMs); j.num("sched_delay_ms", s.schedMs)
            j.num("fetch_wait_ms", s.fetchMs); j.num("input_bytes", s.inputB)
            j.num("shuffle_read_bytes", s.shufRB); j.num("shuffle_write_bytes", s.shufWB)
            j.num("spill_bytes", s.spillB); j.num("failures", s.failures)
          }
        }
      }
    } finally w.close()
  }
}
