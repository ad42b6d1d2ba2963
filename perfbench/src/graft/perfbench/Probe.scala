package graft.perfbench

import java.util.Properties
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Spans recorded at the benchmark's call boundaries: name, start, end,
  * parent and run id. Kept in memory and written out when the run ends.
  * A disabled trace runs the body with parent id 0 and records nothing. */
final class Trace(val enabled: Boolean, val runId: String) {
  final case class Span(id: Long, parent: Long, name: String,
                        startNs: Long, endNs: Long)

  val originNs: Long = System.nanoTime()
  val originEpochMs: Long = System.currentTimeMillis()
  private val ids = new AtomicLong(0L)
  private val spans = new ConcurrentLinkedQueue[Span]()

  def nowNs: Long = System.nanoTime() - originNs

  def apply[T](name: String, parent: Long = 0L)(body: Long => T): T =
    if (!enabled) body(0L)
    else {
      val id = ids.incrementAndGet()
      val start = nowNs
      try body(id) finally spans.add(Span(id, parent, name, start, nowNs))
    }

  /** Record a span whose bounds were observed elsewhere (a micro-batch,
    * from its progress event). Returns its id. */
  def record(name: String, parent: Long, startNs: Long, endNs: Long): Long =
    if (!enabled) 0L
    else {
      val id = ids.incrementAndGet()
      spans.add(Span(id, parent, name, startNs, endNs))
      id
    }

  def all: Seq[Span] = spans.asScala.toSeq.sortBy(_.id)

  def toJson: Json.V = Json.arr(all.map(s => Json.obj(
    "id" -> Json.num(s.id), "parent" -> Json.num(s.parent),
    "name" -> Json.str(s.name), "run" -> Json.str(runId),
    "start_ms" -> Json.num(s.startNs / 1e6), "end_ms" -> Json.num(s.endNs / 1e6))))
}

/** Per-call counters from Spark's own listener events.
  *
  * With `detail` off only jobs are counted, per job group: that is all the
  * untraced run keeps, for the repeat-equality check. Each call sets its own
  * job group; a job without one goes to the current call.
  *
  * With `detail` on (the traced run) the listener bus is drained after every
  * call, so every event seen since the last drain belongs to the current
  * call, and that is what attributes it. Job groups are not trusted there:
  * a pooled driver thread keeps the group of the call that created it (the
  * PQ fit runs on `ExecutionContext.global`). */
final class Layers(detail: Boolean) extends SparkListener {
  final class Acc {
    var jobs = 0L; var stages = 0L; var tasks = 0L
    var runMs = 0L; var cpuNs = 0L; var gcMs = 0L
    var shuffleBytes = 0L; var shuffleRecords = 0L; var fetchWaitMs = 0L
    var spillBytes = 0L
    var analysisMs = 0L; var optimizationMs = 0L; var planningMs = 0L
  }

  @volatile var current: String = "setup"
  private val accs = mutable.LinkedHashMap[String, Acc]()
  private val stageLabel = mutable.HashMap[Int, String]()
  private val jobStartMs = mutable.HashMap[Int, Long]()
  private val intervals = mutable.ArrayBuffer[(Long, Long)]()
  private val batchJobs = mutable.HashMap[String, Int]()

  private def acc(label: String): Acc = accs.getOrElseUpdate(label, new Acc)

  private def labelOf(p: Properties): String =
    if (detail) current
    else Option(p).flatMap(x => Option(x.getProperty("spark.jobGroup.id")))
      .getOrElse(current)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val label = labelOf(e.properties)
    acc(label).jobs += 1
    if (detail) {
      e.stageIds.foreach(stageLabel(_) = label)
      jobStartMs(e.jobId) = e.time
      Option(e.properties).flatMap(p => Option(p.getProperty("streaming.sql.batchId")))
        .foreach { b =>
          val key = s"$label/$b"
          batchJobs(key) = batchJobs.getOrElse(key, 0) + 1
        }
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = if (detail) synchronized {
    jobStartMs.remove(e.jobId).foreach(s => intervals += ((s, e.time)))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    if (detail) synchronized {
      acc(stageLabel.getOrElse(e.stageInfo.stageId, current)).stages += 1
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (detail) synchronized {
    val m = e.taskMetrics
    val a = acc(stageLabel.getOrElse(e.stageId, current))
    a.tasks += 1
    if (m != null) {
      a.runMs += m.executorRunTime
      a.cpuNs += m.executorCpuTime
      a.gcMs += m.jvmGCTime
      a.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
      a.shuffleRecords += m.shuffleWriteMetrics.recordsWritten
      a.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
      a.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }

  /** Catalyst phase times of every action, from `queryExecution.tracker`. */
  val planner: QueryExecutionListener = new QueryExecutionListener {
    private def add(qe: QueryExecution): Unit = Layers.this.synchronized {
      val a = acc(current)
      val ph = qe.tracker.phases
      a.analysisMs += ph.get("analysis").map(_.durationMs).getOrElse(0L)
      a.optimizationMs += ph.get("optimization").map(_.durationMs).getOrElse(0L)
      a.planningMs += ph.get("planning").map(_.durationMs).getOrElse(0L)
    }
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = add(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = add(qe)
  }

  def jobsOf(label: String): Long = synchronized(accs.get(label).map(_.jobs).getOrElse(0L))

  def toJson: Json.V = synchronized(Json.obj(
    "calls" -> Json.obj(accs.toSeq.map { case (l, a) => l -> Json.obj(
      "jobs" -> Json.num(a.jobs), "stages" -> Json.num(a.stages),
      "tasks" -> Json.num(a.tasks), "task_run_ms" -> Json.num(a.runMs),
      "task_cpu_ns" -> Json.num(a.cpuNs), "gc_ms" -> Json.num(a.gcMs),
      "shuffle_bytes" -> Json.num(a.shuffleBytes),
      "shuffle_records" -> Json.num(a.shuffleRecords),
      "fetch_wait_ms" -> Json.num(a.fetchWaitMs),
      "spill_bytes" -> Json.num(a.spillBytes),
      "analysis_ms" -> Json.num(a.analysisMs),
      "optimization_ms" -> Json.num(a.optimizationMs),
      "planning_ms" -> Json.num(a.planningMs)) }: _*),
    "job_intervals_ms" -> Json.arr(intervals.toSeq.map { case (s, e) =>
      Json.arr(Seq(Json.num(s), Json.num(e))) }),
    "jobs_per_batch" -> Json.obj(batchJobs.toSeq.sortBy(_._1).map { case (b, n) =>
      b -> Json.num(n.toLong) }: _*)))
}
