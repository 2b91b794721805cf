package graftbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval. `parent` is 0 for a root; every span of a run
  * carries the run's id when written out. Times are `System.nanoTime`. */
final case class Span(id: Long, parent: Long, name: String, startNs: Long, endNs: Long)

/** In-memory span store. Disabled tracers hand out ids but keep nothing,
  * so the harness code is the same with tracing on and off. */
final class Tracer(val runId: String) {
  @volatile var enabled = false
  private val spans = new ConcurrentLinkedQueue[Span]
  private val ids = new AtomicLong(0)
  private val t0Ns = System.nanoTime()
  private val t0Ms = System.currentTimeMillis()

  def newId(): Long = ids.incrementAndGet()
  def wallMsToNs(ms: Long): Long = (ms - t0Ms) * 1000000L + t0Ns

  def record(id: Long, parent: Long, name: String, startNs: Long, endNs: Long): Unit =
    if (enabled) spans.add(Span(id, parent, name, startNs, endNs))

  def span[T](name: String, parent: Long)(body: Long => T): T = {
    val id = newId()
    val s = System.nanoTime()
    try body(id) finally record(id, parent, name, s, System.nanoTime())
  }

  def all: Seq[Span] = spans.asScala.toSeq

  def toJson: Seq[Map[String, Any]] = all.map { s =>
    Map("run" -> runId, "id" -> s.id, "parent" -> s.parent, "name" -> s.name,
      "start_ns" -> s.startNs, "end_ns" -> s.endNs)
  }
}

object Tracer {
  /** Local property naming the span that caused a Spark job. */
  val SpanProp = "graftbench.span"
  /** Local property naming the harness phase a job ran in. */
  val PhaseProp = "graftbench.phase"
}

/** Scheduler, executor and source-resolution counters from Spark's own
  * listener events. Attach it only for a traced window. */
final class LayerListener(tracer: Tracer) extends SparkListener {
  private val lock = new Object
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var sourceJobs = 0L
  var sourceJobMs = 0L
  var queueMs = 0L
  var runMs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var inputBytes = 0L
  var shuffleReadBytes = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  val phaseJobs: mutable.Map[String, Long] = mutable.Map.empty.withDefaultValue(0L)
  val skew: mutable.ArrayBuffer[Double] = mutable.ArrayBuffer.empty

  private case class JobInfo(submitMs: Long, parent: Long, source: Boolean, var firstTaskMs: Long)
  private val liveJobs = mutable.Map.empty[Int, JobInfo]
  private val stageJob = mutable.Map.empty[Int, Int]
  private val stageTaskMs = mutable.Map.empty[Int, mutable.ArrayBuffer[Long]]

  override def onJobStart(e: SparkListenerJobStart): Unit = lock.synchronized {
    val props = Option(e.properties)
    def prop(k: String) = props.flatMap(p => Option(p.getProperty(k)))
    // a job's call site is the name of its stages: "parquet at Tables.scala:17"
    val source = e.stageInfos.exists(_.name.startsWith("parquet at"))
    val parent = prop(Tracer.SpanProp).map(_.toLong).getOrElse(0L)
    jobs += 1
    prop(Tracer.PhaseProp).foreach(p => phaseJobs(p) += 1)
    liveJobs(e.jobId) = JobInfo(e.time, parent, source, Long.MaxValue)
    e.stageIds.foreach(s => stageJob(s) = e.jobId)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = lock.synchronized {
    liveJobs.remove(e.jobId).foreach { j =>
      if (j.firstTaskMs != Long.MaxValue) queueMs += j.firstTaskMs - j.submitMs
      if (j.source) { sourceJobs += 1; sourceJobMs += e.time - j.submitMs }
      tracer.record(tracer.newId(), j.parent, "job",
        tracer.wallMsToNs(j.submitMs), tracer.wallMsToNs(e.time))
    }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = lock.synchronized {
    stages += 1
  }

  override def onTaskStart(e: SparkListenerTaskStart): Unit = lock.synchronized {
    stageJob.get(e.stageId).flatMap(liveJobs.get).foreach { j =>
      j.firstTaskMs = math.min(j.firstTaskMs, e.taskInfo.launchTime)
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = lock.synchronized {
    tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      runMs += m.executorRunTime
      cpuNs += m.executorCpuTime
      gcMs += m.jvmGCTime
      inputBytes += m.inputMetrics.bytesRead
      shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
      shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      stageTaskMs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) += m.executorRunTime
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = lock.synchronized {
    stageTaskMs.remove(e.stageInfo.stageId).foreach { ts =>
      if (ts.size >= 2) {
        val sorted = ts.sorted
        val med = math.max(sorted(sorted.size / 2), 1L)
        skew += sorted.last.toDouble / med
      }
    }
    stageJob.remove(e.stageInfo.stageId)
  }
}

/** Catalyst phase times of every action, from `qe.tracker`. */
final class PhaseListener extends QueryExecutionListener {
  private val lock = new Object
  var actions = 0L
  var failed = 0L
  val phaseMs: mutable.Map[String, Long] = mutable.Map.empty.withDefaultValue(0L)

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    lock.synchronized {
      actions += 1
      qe.tracker.phases.foreach { case (phase, summary) => phaseMs(phase) += summary.durationMs }
    }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    lock.synchronized { actions += 1; failed += 1 }
}

object Listeners {
  /** Listener events are delivered asynchronously; give the bus time to
    * drain before reading counters. */
  def settle(): Unit = Thread.sleep(500)

  /** Bytes held by persisted RDDs (memory plus disk) and their number. */
  def storage(sc: SparkContext): (Long, Int) = {
    val infos = sc.getRDDStorageInfo
    (infos.map(i => i.memSize + i.diskSize).sum, sc.getPersistentRDDs.size)
  }
}
