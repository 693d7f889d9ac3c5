package perfbench

import java.io.File

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.cdc.TypedRefinement
import graft.streaming.StreamOps

/** `huge_tx`: one UPDATE transaction over every row of
  * `huge_transaction`, sent as pgoutput over one loopback connection
  * (a closed loop under TCP backpressure), ingested by
  * `WalSocketClient`, then drained by a Structured Streaming
  * subscription: subscribe → decodedChanges → typedView → a counting,
  * checksumming sink. Repeated with a fresh log each time until the
  * run's seconds are used; figures are medians over the repeats. */
object HugeTx {
  final case class Iter(totalS: Double, ingestS: Double, drainS: Double,
      cpu: TaskTotals, sinkRows: Long, sinkSum: Long, confirmed: Boolean,
      logDir: File, logBytes: Long, wireBytes: Long, payloadBytes: Long,
      blockedS: Double, socketCpuS: Double, acks: Int, ackLagsMs: Seq[Double])

  private val Cols = (1 to 20).map(i => s"column$i")

  /** sink: (rows, checksum) of a typed batch */
  def checksum(b: DataFrame): (Long, Long) = {
    val r = b.agg(count(lit(1)), coalesce(sum(crc32(concat_ws("|",
      (col("id").cast("string") +: Cols.map(col)): _*))), lit(0L))).head()
    (r.getLong(0), r.getLong(1))
  }

  def iteration(run: Run, tx: GenTx, rows: Int): Iter = {
    import run.tracer
    val logDir = run.freshDir("huge-log")
    val ingest = new Ingest(run, logDir)
    val gen = ingest.gen
    gen.send(IndexedSeq(tx), _ => 0L, paced = false)
    val ackNs = gen.awaitAck(tx.lsn)
    val confirmed = gen.confirmed > tx.lsn
    ingest.finish()
    val (drainS, cpu, out) = tracer.span("drain.typed") {
      run.drain(logDir, "huge") { frames =>
        val changes = tracer.span("stream_ops.decoded_changes") {
          StreamOps.decodedChanges(frames)
        }
        tracer.span("typed_refinement.typed_view") {
          TypedRefinement.typedView(changes, "tuple", Fixtures.HugeRel)
        }
      }(b => tracer.span("sink.checksum")((checksum(b), System.nanoTime())))
    }
    val lastSinkNs = if (out.isEmpty) System.nanoTime() else out.map(_._2).max
    Iter((lastSinkNs - gen.firstByteNs) / 1e9, (ackNs - gen.firstByteNs) / 1e9,
      drainS, cpu, out.map(_._1._1).sum, out.map(_._1._2).sum, confirmed,
      logDir, run.logFile(logDir).length(), gen.wireBytes, gen.payloadBytes,
      gen.blockedNs / 1e9, ingest.cpuNs / 1e9, gen.statuses.size,
      gen.ackLagsMs)
  }

  def run(run: Run, rowsN: Int): Result = {
    val rows = Fixtures.hugeRows(run.seed, rowsN)
    val lsn = 0x20000000L
    val frames = Fixtures.hugeTxFrames(lsn, rows)
    val tx = GenTx(lsn, frames, rowsN, closeWithKeepalive = false)
    val expectedSum = rows.iterator.map(Checks.rowCrc).sum

    // set-up: generator/server start and a JIT warm-up pass over a
    // small transaction of the same shape, three times; median
    val warmRows = rows.take(math.max(1, rowsN / 20))
    val warmTx = GenTx(lsn, Fixtures.hugeTxFrames(lsn, warmRows), warmRows.size,
      closeWithKeepalive = false)
    val setups = (1 to 3).map { _ =>
      val t0 = System.nanoTime()
      iteration(run, warmTx, warmRows.size)
      run.elapsedSince(t0)
    }

    val k0 = run.tasks.total
    val t0 = System.nanoTime()
    val iters = scala.collection.mutable.ArrayBuffer.empty[(Iter, Boolean)]
    while (iters.size < 4 || (run.elapsedSince(t0) < run.seconds && iters.size < 12)) {
      // a traced run alternates spans off/on to measure their overhead
      val on = run.traced && iters.size % 2 == 1
      run.tracer.enabled = on
      iters += ((iteration(run, tx, rowsN), on))
    }
    val measured = run.tasks.total - k0
    run.tracer.enabled = run.traced
    val all = iters.map(_._1).toSeq

    val outcome = all.map(it => Checks.countAndChecksum(rowsN, expectedSum,
      it.sinkRows, it.sinkSum) + Checks.Outcome(0, if (it.confirmed) 0 else 1))
      .reduce(_ + _)

    val rowsPerS = all.map(rowsN / _.totalS)
    val visibleMs = all.map(_.totalS * 1e3)
    val e2e = Map(
      "setup_s" -> (run.sessionStartS + Stats.median(setups)),
      "rows_per_s" -> Stats.median(rowsPerS),
      "visible_p50_ms" -> Stats.median(visibleMs),
      "visible_p90_ms" -> Stats.percentile(visibleMs, 90),
      "queries_wall_s" -> Stats.median(all.map(_.drainS)),
      "queries_cpu_s" -> Stats.median(all.map(_.cpu.cpuS)))

    val layers = if (!run.traced) Map.empty[String, Double] else {
      val last = all.last
      val ingestS = Stats.median(all.map(_.ingestS))
      val lines = run.logLines(last.logDir)
      val payload = last.payloadBytes.toDouble
      val probes = Probes.layers(run, last.logDir, frames, rowsN,
        last.logBytes, Seq(Fixtures.HugeRel))
      val off = iters.filter(!_._2).map(_._1.totalS)
      val on = iters.filter(_._2).map(_._1.totalS)
      probes ++ run.sparkLayer(measured) ++ run.hostLayer ++ Map(
        "gen.tx_sent" -> all.size.toDouble,
        "gen.rows_sent" -> (rowsN.toDouble * all.size),
        "gen.wire_bytes" -> last.wireBytes.toDouble,
        "gen.late_ms_p99" -> 0.0,
        "gen.send_blocked_s" -> Stats.median(all.map(_.blockedS)),
        "ingest_rows_per_s" -> rowsN / ingestS,
        "wal_socket.busy_s" -> Stats.median(all.map(_.socketCpuS)),
        "wal_socket.rows_per_s" -> rowsN / ingestS,
        "wal_socket.bytes_per_s" -> last.wireBytes / ingestS,
        "wal_socket.acks" -> last.acks.toDouble,
        "wal_socket.rows_per_ack" -> rowsN.toDouble / math.max(1, last.acks),
        "wal_socket.ack_lag_p50_ms" -> Stats.p(all.flatMap(_.ackLagsMs), 50),
        "wal_socket.ack_lag_p99_ms" -> Stats.p(all.flatMap(_.ackLagsMs), 99),
        "log.bytes" -> last.logBytes.toDouble,
        "log.lines" -> lines.toDouble,
        "log.bytes_per_row" -> last.logBytes.toDouble / rowsN,
        "log_bytes_per_payload_byte" -> last.logBytes / payload,
        "trace.overhead_pct" -> Probes.overheadPct(off.toSeq, on.toSeq))
    }
    Result(outcome.attempted, outcome.failed, e2e, layers)
  }
}
