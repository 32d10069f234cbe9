package graftbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One span of the traced run: pass → query → build/execute → job →
  * stage. Times are epoch milliseconds. */
final case class Span(id: Long, parent: Long, kind: String, name: String,
    start: Long, var end: Long, attrs: mutable.Map[String, Any] = mutable.Map.empty)

/** Per-pass layer counters, summed over the pass. */
final class Layers {
  val n: mutable.Map[String, Double] = mutable.Map.empty.withDefaultValue(0.0)
  def add(k: String, v: Double): Unit = n(k) += v
  def max(k: String, v: Double): Unit = n(k) = math.max(n(k), v)
}

/** Storage accounting, always on: the bytes of RDD blocks (the memo
  * and `Ckpt` intermediates) that the current pass put into the block
  * manager, and their running peak. Blocks left over from earlier
  * passes are ignored. */
final class StorageListener extends SparkListener {
  private val live = mutable.Map.empty[String, Long]
  private var sum = 0L
  @volatile var peak = 0L
  /** RDD id → (bytes, query that stored its first block). */
  val rdds: mutable.Map[Int, (Long, String)] = mutable.Map.empty
  @volatile var query = ""

  def reset(): Unit = synchronized {
    live.clear(); sum = 0L; peak = 0L; rdds.clear()
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    val info = e.blockUpdatedInfo
    val id = info.blockId
    if (id.isRDD) {
      val bytes = if (info.storageLevel.isValid) info.memSize + info.diskSize else 0L
      val key = id.name
      val isNew = !live.contains(key)
      sum += bytes - live.getOrElse(key, 0L)
      if (bytes > 0) live(key) = bytes else live.remove(key)
      peak = math.max(peak, sum)
      id.asRDDId.filter(_ => isNew && bytes > 0).foreach { r =>
        val (b, q) = rdds.getOrElse(r.rddId, (0L, query))
        rdds(r.rddId) = (b + bytes, q)
      }
    }
  }
}

/** The traced run's listener: job, stage and task counters and spans,
  * attributed to the span the benchmark marked current. The benchmark
  * drains the listener bus before it moves `current`, so every event
  * lands on the phase that caused it. */
final class TraceListener(cpus: Int) extends SparkListener with QueryExecutionListener {
  val spans = mutable.ArrayBuffer.empty[Span]
  @volatile var current: Span = _
  @volatile var layers = new Layers
  private val jobSpans = mutable.Map.empty[Int, Span]
  private val stageJob = mutable.Map.empty[Int, Span]
  private val stageSubmit = mutable.Map.empty[Int, Long]
  private val stageTasks = mutable.Map.empty[Int, mutable.ArrayBuffer[Long]]
  private var nextId = 1L

  def open(parent: Long, kind: String, name: String,
      start: Long = System.currentTimeMillis(), end: Long = 0L): Span = synchronized {
    val s = Span(nextId, parent, kind, name, start, end)
    nextId += 1
    spans += s
    s
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    layers.add("exec.jobs", 1)
    val parent = Option(current).map(_.id).getOrElse(0L)
    val s = open(parent, "job", s"job ${e.jobId}")
    s.attrs("job_group") = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    jobSpans(e.jobId) = s
    e.stageIds.foreach(id => stageJob.getOrElseUpdate(id, s))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobSpans.remove(e.jobId).foreach(_.end = System.currentTimeMillis())
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    stageSubmit(e.stageInfo.stageId) =
      e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) {
      layers.add("exec.tasks", 1)
      layers.add("exec.cpu_s", m.executorCpuTime / 1e9)
      layers.add("exec.run_s", m.executorRunTime / 1e3)
      layers.add("exec.gc_s", m.jvmGCTime / 1e3)
      layers.add("exec.shuffle_write_records", m.shuffleWriteMetrics.recordsWritten.toDouble)
      layers.add("exec.shuffle_write_mb", m.shuffleWriteMetrics.bytesWritten / 1e6)
      layers.add("exec.shuffle_read_mb", m.shuffleReadMetrics.totalBytesRead / 1e6)
      layers.add("exec.spill_mb", (m.memoryBytesSpilled + m.diskBytesSpilled) / 1e6)
      layers.add("tables.scan_rows", m.inputMetrics.recordsRead.toDouble)
      layers.add("tables.scan_mb", m.inputMetrics.bytesRead / 1e6)
      stageSubmit.get(e.stageId).foreach { t =>
        layers.add("exec.wait_s", math.max(0L, e.taskInfo.launchTime - t) / 1e3)
      }
      stageTasks.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) += m.executorRunTime
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val info = e.stageInfo
    layers.add("exec.stages", 1)
    val times = stageTasks.remove(info.stageId).getOrElse(mutable.ArrayBuffer.empty).sorted
    // skew: the slowest task against the median task, over stages wide
    // enough to run on every core
    if (times.size >= cpus) {
      val median = math.max(1L, times(times.size / 2))
      layers.max("exec.task_skew", times.last.toDouble / median)
    }
    val parent = stageJob.remove(info.stageId).map(_.id).getOrElse(0L)
    val now = System.currentTimeMillis()
    open(parent, "stage", s"stage ${info.stageId}", info.submissionTime.getOrElse(now),
      info.completionTime.getOrElse(now)).attrs("tasks") = info.numTasks
    stageSubmit.remove(info.stageId)
  }

  private def planned(qe: QueryExecution): Unit = synchronized {
    val phases = qe.tracker.phases
    Seq("analysis", "optimization", "planning").foreach { p =>
      phases.get(p).foreach(ph => layers.add(s"plan.${p}_s", ph.durationMs / 1e3))
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    planned(qe)

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    planned(qe)
}
