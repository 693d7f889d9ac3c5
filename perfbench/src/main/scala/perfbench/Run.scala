package perfbench

import java.io.File
import java.lang.management.{ManagementFactory, MemoryType}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.Trigger

import graft.cdc.{PgoutputFormat, WalSocketClient}
import graft.streaming.{ReplicationSession, ShardOffsets}

/** What one workload run hands back: the output check's counts, the
  * end-to-end metrics and the per-layer metrics. */
final case class Result(attempted: Long, failed: Long,
    endToEnd: Map[String, Double], perLayer: Map[String, Double])

/** Everything a workload needs: the session, the listeners, the
  * tracer, a scratch directory and the run's parameters. */
final class Run(val spark: SparkSession, val seed: Long, val seconds: Int,
    val traced: Boolean, val workDir: File, val sessionStartS: Double) {
  val tracer = new Tracer(traced, s"seed$seed")
  val tasks = new TaskListener
  val progress = new ProgressListener
  spark.sparkContext.addSparkListener(tasks)
  spark.streams.addListener(progress)

  private var dirs = 0
  def freshDir(name: String): File = {
    dirs += 1
    val d = new File(workDir, s"$name-$dirs")
    d.mkdirs()
    d
  }

  def elapsedSince(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  /** JVM and host telemetry, recorded per run and never used to drop
    * or rescale a measurement. */
  private val steal0 = Run.stealMs()
  def hostLayer: Map[String, Double] = {
    val heapPeak = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == MemoryType.HEAP).map(_.getPeakUsage.getUsed).sum
    val gc = ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(b.getCollectionTime, 0L)).sum
    Map("jvm.heap_peak_mb" -> heapPeak / 1048576.0,
      "jvm.gc_ms" -> gc.toDouble,
      "host.steal_ms" -> math.max(0L, Run.stealMs() - steal0).toDouble,
      "host.loadavg" -> ManagementFactory.getOperatingSystemMXBean
        .getSystemLoadAverage)
  }

  def sparkLayer(t: TaskTotals): Map[String, Double] = Map(
    "spark.tasks" -> t.tasks.toDouble, "spark.task_s" -> t.runMs / 1e3,
    "spark.cpu_s" -> t.cpuS, "spark.gc_s" -> t.gcMs / 1e3,
    "spark.shuffle_write_bytes" -> t.shuffleWriteBytes.toDouble,
    "spark.spill_bytes" -> t.spillBytes.toDouble)

  // ---- pipeline pieces shared by the CDC workloads -------------------

  val slot = "perfbench_slot"
  val format = new PgoutputFormat()

  def logFile(logDir: File): File = new File(logDir, "part-0.jsonl")

  def logLines(logDir: File): Long = {
    val src = scala.io.Source.fromFile(logFile(logDir), "UTF-8")
    try src.getLines().size.toLong finally src.close()
  }

  /** The streaming read of a finished log from its start. */
  def subscribe(session: ReplicationSession): DataFrame =
    tracer.span("replication_session.subscribe") {
      session.subscribe(format, slot, uptoLsn = Some("0/00000000"))
    }

  /** Drain a finished log once (`AvailableNow`) through `plan`, whose
    * output goes to `sink` batch by batch; returns the wall seconds of
    * the query, its executor totals and the sink's results. */
  def drain[T](logDir: File, name: String)(plan: DataFrame => DataFrame)(
      sink: DataFrame => T): (Double, TaskTotals, Seq[T]) = {
    val session = new ReplicationSession(spark, logDir.getPath)
    val out = new java.util.concurrent.ConcurrentLinkedQueue[T]()
    val ckpt = freshDir(s"ckpt-$name")
    val f: (DataFrame, Long) => Unit = (b, _) => out.add(sink(b))
    val k0 = tasks.total
    val t0 = System.nanoTime()
    try {
      val q = session.register(plan(subscribe(session)).writeStream
        .foreachBatch(f)
        .option("checkpointLocation", ckpt.getPath)
        .trigger(Trigger.AvailableNow()).start())
      q.awaitTermination()
    } finally session.stop()
    (elapsedSince(t0), tasks.total - k0, out.asScala.toSeq)
  }
}

/** A generator plus a `WalSocketClient` ingesting into `logDir` on
  * its own thread; the client's thread CPU time is the socket
  * layer's busy time. */
final class Ingest(run: Run, logDir: File) {
  val gen = new WalGen
  @volatile var cpuNs = 0L
  @volatile var error: Throwable = null
  private val thread = new Thread(() => {
    val t = ManagementFactory.getThreadMXBean
    val c0 = t.getCurrentThreadCpuTime
    try run.tracer.span("wal_socket.run") {
      new WalSocketClient("127.0.0.1", gen.port, run.format, run.slot,
        logDir.getPath, shard = 0).run()
    } catch { case e: Throwable => error = e }
    finally cpuNs = t.getCurrentThreadCpuTime - c0
  }, "perfbench-ingest")
  thread.start()
  gen.accept()

  /** Close the connection and wait for the client to finish. */
  def finish(): Unit = {
    gen.close()
    thread.join(60000)
    if (error != null) throw error
  }
}

object Run {
  /** Cumulative hypervisor steal, ms (/proc/stat, USER_HZ = 100). */
  def stealMs(): Long =
    try {
      val src = scala.io.Source.fromFile("/proc/stat")
      val f = try src.getLines().next().trim.split("\\s+") finally src.close()
      if (f.length > 8) f(8).toLong * 10L else 0L
    } catch { case scala.util.control.NonFatal(_) => 0L }

  /** The end LSN a replay batch's progress reports for the log. */
  def endLsn(offsetJson: String): Long =
    ShardOffsets.parse(offsetJson).of("part-0.jsonl")
}
