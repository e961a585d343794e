package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Wall clock in epoch milliseconds with sub-millisecond resolution, on the
  * same time base as Spark's listener events (System.currentTimeMillis). */
object Clock {
  private val baseMs = System.currentTimeMillis().toDouble
  private val baseNs = System.nanoTime()
  def nowMs: Double = baseMs + (System.nanoTime() - baseNs) / 1e6
}

/** A traced interval. `parent` is 0 for a root span; all spans of one
  * operation share `op`. */
final case class Span(id: Long, parent: Long, op: Long, name: String,
                      startMs: Double, endMs: Double) {
  def durMs: Double = endMs - startMs
}

/** Per-operation layer figures computed from the spans of one traced op. */
final case class OpLayers(
  op: Long, kind: String, wallMs: Double,
  phaseMs: Map[String, Double], // parse / build / execute wall
  selfMs: Map[String, Double],  // self time per span level
  planMs: Map[String, Double],  // analysis / optimization / planning
  jobs: Int, stages: Int, tasks: Int, idleMs: Double,
  runMs: Double, cpuMs: Double, gcMs: Double,
  shuffleWriteB: Long, shuffleReadB: Long, fetchWaitMs: Double, spillB: Long)

/** Span recorder plus the two listeners that see inside Spark: a
  * SparkListener for jobs, stages and tasks and a QueryExecutionListener
  * for Catalyst's phase times. Spans stay in memory until [[layers]] and
  * [[spansJson]] read them at the end of the run. Jobs are tied to the
  * operation that caused them through a local property that the submitting
  * thread (and Spark's broadcast and AQE threads, which copy it) carries. */
final class Tracer(spark: SparkSession) {
  import Tracer._

  private case class JobRec(id: Int, op: Long, startMs: Double, var endMs: Double)
  private case class StageRec(id: Int, var startMs: Double, var endMs: Double)
  private case class TaskRec(stage: Int, startMs: Double, endMs: Double, runMs: Long, cpuNs: Long,
                             gcMs: Long, shW: Long, shR: Long, fetchMs: Long, spill: Long)
  private case class QeRec(phases: Map[String, (Double, Double)])

  private val lock = new Object
  private val spans = mutable.ArrayBuffer[Span]()
  private val jobs = mutable.LinkedHashMap[Int, JobRec]()
  private val stages = mutable.HashMap[Int, StageRec]()
  private val stageJob = mutable.HashMap[Int, Int]()
  private val tasks = mutable.ArrayBuffer[TaskRec]()
  private val qes = mutable.ArrayBuffer[QeRec]()
  private var nextId = 1L

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = lock.synchronized {
      val op = Option(e.properties).flatMap(p => Option(p.getProperty(OpKey)))
        .map(_.toLong).getOrElse(0L)
      jobs(e.jobId) = JobRec(e.jobId, op, e.time.toDouble, Double.NaN)
      e.stageIds.foreach(s => if (!stageJob.contains(s)) stageJob(s) = e.jobId)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = lock.synchronized {
      jobs.get(e.jobId).foreach(_.endMs = e.time.toDouble)
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = lock.synchronized {
      val i = e.stageInfo
      stages(i.stageId) = StageRec(i.stageId,
        i.submissionTime.map(_.toDouble).getOrElse(Clock.nowMs), Double.NaN)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = lock.synchronized {
      val i = e.stageInfo
      stages.get(i.stageId).foreach(_.endMs = i.completionTime.map(_.toDouble).getOrElse(Clock.nowMs))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = lock.synchronized {
      val m = e.taskMetrics
      val ti = e.taskInfo
      if (m != null) tasks += TaskRec(e.stageId, ti.launchTime.toDouble, ti.finishTime.toDouble,
        m.executorRunTime, m.executorCpuTime, m.jvmGCTime,
        m.shuffleWriteMetrics.bytesWritten, m.shuffleReadMetrics.totalBytesRead,
        m.shuffleReadMetrics.fetchWaitTime, m.memoryBytesSpilled + m.diskBytesSpilled)
    }
  }

  private val qeListener = new QueryExecutionListener {
    private def record(qe: QueryExecution): Unit = {
      val ph = qe.tracker.phases.map { case (k, s) => k -> (s.startTimeMs.toDouble, s.endTimeMs.toDouble) }
      lock.synchronized { qes += QeRec(ph) }
    }
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = record(qe)
  }

  /** Start receiving Spark events. Everything before this call is untraced. */
  def start(): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
  }

  def newId(): Long = lock.synchronized { val i = nextId; nextId += 1; i }

  def record(s: Span): Unit = lock.synchronized { spans += s }

  /** Tag jobs submitted from this thread with operation `op` (0 clears). */
  def tagJobs(op: Long): Unit =
    spark.sparkContext.setLocalProperty(OpKey, if (op == 0) null else op.toString)

  /** Block until the listeners have seen every event of the traced ops: a
    * sentinel job and query go through both queues after them. */
  def drain(timeoutMs: Long = 30000): Unit = {
    tagJobs(Sentinel)
    val t0 = Clock.nowMs
    spark.range(1).collect()
    tagJobs(0)
    val deadline = System.currentTimeMillis() + timeoutMs
    def seen: Boolean = lock.synchronized {
      jobs.values.exists(j => j.op == Sentinel && !j.endMs.isNaN) &&
        qes.exists(_.phases.get("planning").exists(_._1 >= t0 - 1))
    }
    while (!seen && System.currentTimeMillis() < deadline) Thread.sleep(20)
    if (!seen) throw new IllegalStateException("listener queues did not drain")
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(qeListener)
  }

  /** Layer figures for each traced op span (name "op"), in op order. */
  def layers(kinds: Map[Long, String]): Seq[OpLayers] = lock.synchronized {
    val byOp = spans.groupBy(_.op)
    spans.filter(_.name == "op").sortBy(_.startMs).map { o =>
      val phases = byOp(o.op).filter(s => s.parent == o.id)
      val opJobs = jobs.values.filter(j => j.op == o.op && !j.endMs.isNaN).toSeq
      val jobIds = opJobs.map(_.id).toSet
      val opStages = stages.values.filter(s => stageJob.get(s.id).exists(jobIds) && !s.endMs.isNaN).toSeq
      val stageIds = opStages.map(_.id).toSet
      val opTasks = tasks.filter(t => stageIds(t.stage))
      val opQes = qes.filter(_.phases.get("planning").exists { case (s, _) => s >= o.startMs - 1 && s <= o.endMs + 1 })
      val jobIv = opJobs.map(j => (j.startMs, j.endMs))
      val planIv = opQes.flatMap(_.phases.values)
      def self(s: Span, children: Seq[(Double, Double)]): Double =
        s.durMs - covered(children, s.startMs, s.endMs)
      val phaseSelf = phases.map(p => p.name -> self(p, jobIv ++ planIv)).toMap
      val jobSelf = opJobs.map { j =>
        val js = opStages.filter(s => stageJob.get(s.id).contains(j.id)).map(s => (s.startMs, s.endMs))
        (j.endMs - j.startMs) - covered(js, j.startMs, j.endMs)
      }.sum
      val stageSelf = opStages.map(s => s.endMs - s.startMs).sum
      val taskIv = opTasks.map(t => (t.startMs, t.endMs)).toSeq
      OpLayers(
        op = o.op, kind = kinds.getOrElse(o.op, "?"), wallMs = o.durMs,
        phaseMs = phases.map(p => p.name -> p.durMs).toMap,
        selfMs = phaseSelf ++ Map(
          "op" -> self(o, phases.map(p => (p.startMs, p.endMs)).toSeq),
          "job" -> jobSelf, "stage" -> stageSelf),
        planMs = Seq("analysis", "optimization", "planning").map { ph =>
          ph -> opQes.flatMap(_.phases.get(ph)).map { case (a, b) => b - a }.sum
        }.toMap,
        jobs = opJobs.size, stages = opStages.size, tasks = opTasks.size,
        idleMs = o.durMs - covered(taskIv, o.startMs, o.endMs),
        runMs = opTasks.map(_.runMs).sum.toDouble,
        cpuMs = opTasks.map(_.cpuNs).sum / 1e6,
        gcMs = opTasks.map(_.gcMs).sum.toDouble,
        shuffleWriteB = opTasks.map(_.shW).sum, shuffleReadB = opTasks.map(_.shR).sum,
        fetchWaitMs = opTasks.map(_.fetchMs).sum.toDouble,
        spillB = opTasks.map(_.spill).sum)
    }.toSeq
  }

  /** Every span of the run, the listener-derived job, stage and Catalyst
    * phase spans included, each nested under the benchmark span that
    * contains it. */
  def spansJson(): Seq[Map[String, Any]] = lock.synchronized {
    val out = mutable.ArrayBuffer[Map[String, Any]]()
    def emit(id: Long, parent: Long, op: Long, name: String, a: Double, b: Double): Unit =
      out += mutable.LinkedHashMap[String, Any]("id" -> id, "parent" -> parent, "op" -> op,
        "name" -> name, "start_ms" -> a, "end_ms" -> b).toMap
    spans.foreach(s => emit(s.id, s.parent, s.op, s.name, s.startMs, s.endMs))
    var next = nextId
    def fresh(): Long = { next += 1; next }
    // the innermost benchmark span of `op` that contains instant t
    def holder(op: Long, t: Double): Long =
      spans.filter(s => s.op == op && s.startMs <= t + 1 && t <= s.endMs + 1)
        .sortBy(_.durMs).headOption.map(_.id).getOrElse(0L)
    val jobSpan = mutable.HashMap[Int, Long]()
    jobs.values.filter(j => j.op > 0 && !j.endMs.isNaN).foreach { j =>
      val id = fresh(); jobSpan(j.id) = id
      emit(id, holder(j.op, j.startMs), j.op, s"job ${j.id}", j.startMs, j.endMs)
    }
    stages.values.filter(!_.endMs.isNaN).foreach { s =>
      stageJob.get(s.id).flatMap(jid => jobSpan.get(jid).map(jid -> _)).foreach { case (jid, pid) =>
        emit(fresh(), pid, jobs(jid).op, s"stage ${s.id}", s.startMs, s.endMs)
      }
    }
    spans.filter(_.name == "op").foreach { o =>
      qes.filter(_.phases.get("planning").exists { case (a, _) => a >= o.startMs - 1 && a <= o.endMs + 1 })
        .foreach(_.phases.foreach { case (ph, (a, b)) =>
          emit(fresh(), holder(o.op, a), o.op, s"plan.$ph", a, b)
        })
    }
    out.toSeq
  }
}

object Tracer {
  val OpKey = "perfbench.op"
  val Sentinel = -1L

  /** Length of the part of [lo, hi] that the intervals cover. */
  def covered(ivs: Seq[(Double, Double)], lo: Double, hi: Double): Double = {
    val clipped = ivs.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0.0
    var curA = Double.NaN
    var curB = Double.NaN
    clipped.foreach { case (a, b) =>
      if (curA.isNaN) { curA = a; curB = b }
      else if (a <= curB) curB = math.max(curB, b)
      else { total += curB - curA; curA = a; curB = b }
    }
    if (!curA.isNaN) total += curB - curA
    total
  }
}
