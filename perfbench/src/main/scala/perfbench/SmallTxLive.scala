package perfbench

import java.io.File
import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.streaming.{ReplicationSession, StreamOps}

/** `small_tx_live`: small transactions over one connection into a
  * RUNNING `ProcessingTime` subscription whose `foreachBatch` sink
  * materializes the snapshot with `StreamOps.upsertBatch`. A row is
  * visible when the `upsertBatch` call that publishes it returns.
  *
  * Phases: bursts (a fixed backlog sent as fast as the socket takes
  * it; rows/s until the last row is visible), then a steady phase at
  * a fixed offered rate (open loop; every row timed from its due
  * time, which is also the `created` stamp the generator writes). */
object SmallTxLive {
  /** Transactions per burst; each burst's transactions have
    * `BurstRows` rows, so every burst carries the same rows whatever
    * the seed. */
  val BurstTxs = 8
  val BurstRows = 3
  val Bursts = 7
  /** The steady phase's offered rate: below the burst capacity (about
    * 4-5 tx/s where a file rename takes 20-60 ms), so the backlog stays
    * flat. */
  val SteadyTxPerS = 2
  /** The steady phase lasts this many times `--seconds`. */
  val SteadyScale = 1.5
  /** The tail is the median of the p90s of this many equal windows. */
  val TailWindows = 5
  val TriggerMs = 50L

  /** A live pipeline: socket ingest, the running query, and the
    * sink's record of when each batch was published. */
  final class Live(run: Run, seed: Long) {
    val logDir: File = run.freshDir("live-log")
    val snapDir = new File(run.freshDir("live-snap"), "snapshot").getPath
    val gen = new SmallTxGen(seed)
    val ingest = new Ingest(run, logDir)
    val published = new ConcurrentHashMap[Long, Long]()
    val upsertMs = new java.util.concurrent.ConcurrentLinkedQueue[Double]()
    val txs = scala.collection.mutable.ArrayBuffer.empty[GenTx]
    private val session = new ReplicationSession(run.spark, logDir.getPath)
    private val firstBatch = run.progress.all.size
    val query: StreamingQuery = {
      val changes = run.tracer.span("stream_ops.decoded_changes") {
        StreamOps.decodedChanges(run.subscribe(session))
      }.withColumn("key", element_at(col("tuple"), "id"))
      val sink: (DataFrame, Long) => Unit = (b, id) => {
        val t0 = System.nanoTime()
        run.tracer.span("stream_ops.upsert_batch")(
          StreamOps.upsertBatch(snapDir)(b, id))
        val t1 = System.nanoTime()
        upsertMs.add((t1 - t0) / 1e6)
        published.put(id, t1)
      }
      session.register(changes.writeStream.foreachBatch(sink)
        .option("checkpointLocation", run.freshDir("live-ckpt").getPath)
        .trigger(Trigger.ProcessingTime(TriggerMs)).start())
    }

    /** (publish ns, end LSN) of every published batch, in order. */
    def visibility: IndexedSeq[(Long, Long)] =
      run.progress.all.drop(firstBatch).sortBy(_.batchId).flatMap(b =>
        Option(published.get(b.batchId)).map(t => (t: Long, Run.endLsn(b.endOffset))))
        .toIndexedSeq

    def batches: Seq[Batch] = run.progress.all.drop(firstBatch)

    def awaitVisible(lsn: Long, timeoutMs: Long = 60000): Long = {
      val deadline = System.currentTimeMillis() + timeoutMs
      while (System.currentTimeMillis() < deadline) {
        visibility.find(_._2 >= lsn) match {
          case Some((t, _)) => return t
          case None =>
            if (query.exception.isDefined) throw query.exception.get
            Thread.sleep(2)
        }
      }
      throw new java.util.concurrent.TimeoutException(
        s"LSN $lsn not visible within $timeoutMs ms")
    }

    /** Encode `n` transactions due from `base`, `gapNs` apart. */
    def schedule(n: Int, base: Long, gapNs: Long, paced: Boolean,
        rows: Int = 0): IndexedSeq[GenTx] = {
      val out = (0 until n).map(i => gen.next(Live.wallMicros(base + i * gapNs),
        closeWithKeepalive = paced || i == n - 1, rows))
      txs ++= out
      out
    }

    /** Burst: all due at once. */
    def burst(n: Int): Burst = {
      val base = System.nanoTime() + 100000000L
      val txs = schedule(n, base, 0L, paced = false, BurstRows)
      ingest.gen.send(txs, _ => base, paced = false)
      val vis = awaitVisible(txs.last.lsn)
      val ack = ingest.gen.ackTime(txs.last.lsn).getOrElse(vis)
      Burst((vis - base) / 1e9, (ack - base) / 1e9, txs.map(_.rows).sum,
        run.tracer.enabled)
    }

    def stop(): Unit = {
      session.stop()
      ingest.finish()
    }

    def liveSnapshot: Map[(String, String), Map[String, String]] =
      StreamOps.readSnapshot(run.spark, snapDir)
        .select("table", "key", "tuple").collect()
        .map(r => (r.getString(0), r.getString(1)) ->
          r.getMap[String, String](2).toMap).toMap
  }

  /** Seconds from the burst's due time until its last row is visible
    * and until its last transaction is acked. */
  final case class Burst(visibleS: Double, ackedS: Double, rows: Int,
      traced: Boolean)

  object Live {
    private val wall0 = System.currentTimeMillis() * 1000L
    private val nano0 = System.nanoTime()
    def wallMicros(nanoT: Long): Long = wall0 + (nanoT - nano0) / 1000L
  }

  def run(run: Run, burstTxs: Int = BurstTxs): Result = {
    // set-up: generator/server start, query start and a warm-up burst
    // through the whole pipeline, three times; median
    val setups = (1 to 3).map { i =>
      val t0 = System.nanoTime()
      val live = new Live(run, run.seed * 31 + i)
      live.burst(math.max(1, burstTxs / 4))
      live.stop()
      run.elapsedSince(t0)
    }

    val k0 = run.tasks.total
    val live = new Live(run, run.seed)
    // a traced run alternates spans off/on to measure their overhead
    val bursts = (1 to Bursts + (if (run.traced) 1 else 0)).map { i =>
      run.tracer.enabled = run.traced && i % 2 == 0
      live.burst(burstTxs)
    }
    run.tracer.enabled = run.traced
    val burstSent = live.ingest.gen.sent.size

    // steady phase: open loop at a fixed offered rate
    val gap = 1000000000L / SteadyTxPerS
    val n = (SteadyTxPerS * run.seconds * SteadyScale).toInt
    val base = System.nanoTime() + 300000000L
    val steady = live.schedule(n, base, gap, paced = true)
    val kSteady = run.tasks.total
    live.ingest.gen.send(steady, i => base + i * gap, paced = true)
    val visAtEnd = live.visibility.lastOption.map(_._2).getOrElse(0L)
    val backlog = steady.count(_.lsn > visAtEnd)
    val last = steady.last.lsn
    // a transaction still invisible after the wait counts as lost below
    try live.awaitVisible(last, 30000)
    catch { case _: java.util.concurrent.TimeoutException => () }
    live.ingest.gen.awaitAck(last)
    val steadyCpu = run.tasks.total - kSteady
    val measured = run.tasks.total - k0
    live.stop()

    // visibility per steady row: publish time of the first batch whose
    // end offset covers its transaction, minus its due time
    val vis = live.visibility
    val sentSteady = live.ingest.gen.sent.drop(burstSent)
    var lost = 0L
    val txLatMs = sentSteady.toSeq.map { case (lsn, rows, due, _) =>
      vis.find(_._2 >= lsn).map(v => Seq.fill(rows)((v._1 - due) / 1e6))
        .getOrElse { lost += 1; Nil }
    }
    val latMs = txLatMs.flatten
    // the tail over the steady phase's TailWindows equal windows,
    // median of the windows' p90s: a host stall moves one window, not
    // the figure
    val nTx = txLatMs.size
    val windowP90 = Stats.median((0 until TailWindows).map(k =>
      txLatMs.slice(k * nTx / TailWindows, (k + 1) * nTx / TailWindows).flatten)
      .filter(_.nonEmpty).map(Stats.percentile(_, 90)))

    val outcome = Checks.snapshot(live.gen.state.toMap, live.liveSnapshot) +
      Checks.Outcome(live.ingest.gen.sent.size.toLong, lost)

    val steadyBatches = live.batches.filter(b =>
      Run.endLsn(b.endOffset) >= steady.head.lsn)
    val e2e = Map(
      "setup_s" -> (run.sessionStartS + Stats.median(setups)),
      "rows_per_s" -> Stats.median(bursts.map(b => b.rows / b.visibleS)),
      "visible_p50_ms" -> Stats.percentile(latMs, 50),
      "visible_p90_ms" -> windowP90,
      "queries_wall_s" -> steadyBatches.map(
        _.durationMs.getOrElse("triggerExecution", 0L)).sum / 1e3,
      "queries_cpu_s" -> steadyCpu.cpuS)

    val layers = if (!run.traced) Map.empty[String, Double] else {
      val gen = live.ingest.gen
      val frames = live.txs.flatMap(_.frames).toSeq
      val logBytes = run.logFile(live.logDir).length()
      val rows = gen.rowsSent
      val ingestRowsPerS = Stats.median(bursts.map(b => b.rows / b.ackedS))
      val lags = gen.ackLagsMs.drop(burstSent)
      val late = sentSteady.map { case (_, _, due, sentNs) => (sentNs - due) / 1e6 }
      val bs = live.batches
      def dur(k: String) = bs.map(_.durationMs.getOrElse(k, 0L).toDouble)
      val probes = Probes.layers(run, live.logDir, frames, rows, logBytes,
        Seq(Fixtures.UsersRel, Fixtures.ContentsRel))
      val (on, off) = bursts.partition(_.traced)
      val snapRows = run.spark.read.parquet(live.snapDir).count()
      probes ++ run.sparkLayer(measured) ++ run.hostLayer ++ Map(
        "gen.tx_sent" -> gen.sent.size.toDouble,
        "gen.rows_sent" -> rows.toDouble,
        "gen.wire_bytes" -> gen.wireBytes.toDouble,
        "gen.late_ms_p99" -> Stats.p(late.toSeq, 99),
        "gen.send_blocked_s" -> gen.blockedNs / 1e9,
        "ingest_rows_per_s" -> ingestRowsPerS,
        "wal_socket.busy_s" -> live.ingest.cpuNs / 1e9,
        "wal_socket.rows_per_s" -> ingestRowsPerS,
        "wal_socket.bytes_per_s" -> ingestRowsPerS * gen.wireBytes / rows,
        "wal_socket.acks" -> gen.statuses.size.toDouble,
        "wal_socket.rows_per_ack" -> rows.toDouble / math.max(1, gen.statuses.size),
        "wal_socket.ack_lag_p50_ms" -> Stats.p(lags, 50),
        "wal_socket.ack_lag_p99_ms" -> Stats.p(lags, 99),
        "log.bytes" -> logBytes.toDouble,
        "log.lines" -> run.logLines(live.logDir).toDouble,
        "log.bytes_per_row" -> logBytes.toDouble / rows,
        "log_bytes_per_payload_byte" -> logBytes.toDouble / gen.payloadBytes,
        "replay.backlog_tx_end" -> backlog.toDouble,
        "trigger.latest_offset_ms_p50" -> Stats.p(dur("latestOffset"), 50),
        "sink.upsert_ms_p50" -> Stats.p(live.upsertMs.asScala.toSeq, 50),
        "sink.upsert_ms_p99" -> Stats.p(live.upsertMs.asScala.toSeq, 99),
        "sink.snapshot_rows" -> snapRows.toDouble,
        "trigger.count" -> bs.size.toDouble,
        "trigger.rows_per_batch_p50" -> Stats.p(bs.map(_.inputRows.toDouble), 50),
        "trigger.exec_ms_p50" -> Stats.p(dur("triggerExecution"), 50),
        "trigger.exec_ms_p99" -> Stats.p(dur("triggerExecution"), 99),
        "trigger.add_batch_ms_p50" -> Stats.p(dur("addBatch"), 50),
        "trigger.query_planning_ms_p50" -> Stats.p(dur("queryPlanning"), 50),
        "trigger.wal_commit_ms_p50" -> Stats.p(dur("walCommit"), 50),
        "trigger.commit_offsets_ms_p50" -> Stats.p(dur("commitOffsets"), 50),
        "visible.samples" -> latMs.size.toDouble,
        "visible.p99_ms" -> Stats.percentile(latMs, 99),
        "trace.overhead_pct" -> Probes.overheadPct(off.map(_.visibleS),
          on.map(_.visibleS)))
    }
    Result(outcome.attempted, outcome.failed, e2e, layers)
  }
}
