package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerTaskEnd}
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Executor task totals: run time, CPU, GC, shuffle write, spill. */
final case class TaskTotals(tasks: Long = 0, runMs: Long = 0,
    cpuNs: Long = 0, gcMs: Long = 0, shuffleWriteBytes: Long = 0,
    spillBytes: Long = 0) {
  def +(o: TaskTotals): TaskTotals = TaskTotals(tasks + o.tasks,
    runMs + o.runMs, cpuNs + o.cpuNs, gcMs + o.gcMs,
    shuffleWriteBytes + o.shuffleWriteBytes, spillBytes + o.spillBytes)
  def -(o: TaskTotals): TaskTotals = TaskTotals(tasks - o.tasks,
    runMs - o.runMs, cpuNs - o.cpuNs, gcMs - o.gcMs,
    shuffleWriteBytes - o.shuffleWriteBytes, spillBytes - o.spillBytes)
  def cpuS: Double = cpuNs / 1e9
}

/** Sums task metrics overall and by job group (`spark.jobGroup.id`),
  * so memo builds tagged `memo:<name>` and queries tagged
  * `query:<name>` are attributed even when their jobs interleave. */
final class TaskListener extends SparkListener {
  private val stageGroup = new ConcurrentHashMap[Int, String]()
  private val byGroup = new ConcurrentHashMap[String, TaskTotals]()
  @volatile private var sum = TaskTotals()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val g = Option(e.properties).flatMap(p =>
      Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    e.stageIds.foreach(id => stageGroup.put(id, g))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) {
      val t = TaskTotals(1, m.executorRunTime, m.executorCpuTime,
        m.jvmGCTime, m.shuffleWriteMetrics.bytesWritten,
        m.memoryBytesSpilled + m.diskBytesSpilled)
      synchronized { sum = sum + t }
      val g = stageGroup.getOrDefault(e.stageId, "")
      byGroup.merge(g, t, (a: TaskTotals, b: TaskTotals) => a + b)
    }
  }

  def total: TaskTotals = sum
  def group(name: String): TaskTotals =
    byGroup.getOrDefault(name, TaskTotals())
  def groupsWithPrefix(prefix: String): TaskTotals =
    byGroup.asScala.collect { case (k, v) if k.startsWith(prefix) => v }
      .foldLeft(TaskTotals())(_ + _)
}

/** One micro-batch as `StreamingQueryProgress` reports it. */
final case class Batch(batchId: Long, endOffset: String, inputRows: Long,
    durationMs: Map[String, Long])

/** Collects every progress event of the run's streaming queries: the
  * source's end offset per batch (which log positions the batch
  * covered) and the engine's `durationMs` breakdown. */
final class ProgressListener extends StreamingQueryListener {
  private val batches = new ConcurrentLinkedQueue[Batch]()

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent)
      : Unit = ()
  override def onQueryTerminated(
      e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent)
      : Unit = {
    val p = e.progress
    if (p.sources.nonEmpty && p.numInputRows > 0)
      batches.add(Batch(p.batchId, p.sources.head.endOffset, p.numInputRows,
        p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap))
  }

  def all: Seq[Batch] = batches.asScala.toSeq
  def clear(): Unit = batches.clear()
}
