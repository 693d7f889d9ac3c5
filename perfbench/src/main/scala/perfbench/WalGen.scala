package perfbench

import java.io.{BufferedInputStream, BufferedOutputStream, ByteArrayOutputStream,
  DataInputStream, IOException}
import java.net.{InetAddress, ServerSocket, Socket}
import java.nio.charset.StandardCharsets
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import graft.cdc.{BinaryReader, BinaryWriter, Lsn, PgStartup, Transport, WalWire}

/** One generated transaction: its walStart LSN (also its commit LSN),
  * its pgoutput frames, how many rows it changes, and its wire bytes
  * (CopyData-wrapped XLogData, plus a closing keepalive when paced). */
final case class GenTx(lsn: Long, frames: IndexedSeq[Array[Byte]], rows: Int,
    wire: Array[Byte]) {
  def payloadBytes: Long = frames.iterator.map(_.length.toLong).sum
}

object GenTx {
  /** Fixed server clock in the XLogData headers: the payload, not the
    * header clock, is what the client logs. */
  val ServerMicros = 1700000000000000L

  /** Encode a transaction for the wire. With `closeWithKeepalive` a
    * keepalive (no reply requested) follows the last frame: the
    * client groups frames by walStart, so without it a transaction
    * only completes when the next one starts. */
  def apply(lsn: Long, frames: IndexedSeq[Array[Byte]], rows: Int,
      closeWithKeepalive: Boolean): GenTx = {
    val bos = new ByteArrayOutputStream(
      frames.iterator.map(_.length + 30).sum + 40)
    frames.foreach(f =>
      WalWire.write(bos, 'd', Transport.encodeXLogData(lsn, lsn, ServerMicros, f)))
    if (closeWithKeepalive)
      WalWire.write(bos, 'd',
        Transport.encodeKeepalive(lsn, ServerMicros, shouldRespond = false))
    GenTx(lsn, frames, rows, bos.toByteArray)
  }
}

/** A paced walsender on one loopback connection, built on the public
  * wire encoders. One thread (the caller of [[send]]) writes; one
  * reader thread records standby statuses with their arrival time.
  *
  * Open loop: each transaction has a due time; the sender sleeps
  * until it is due and never waits for the consumer, so a stalled
  * client shows up as lateness (`late`) and TCP backpressure
  * (`blockedNs`), not as a lower offered rate. */
final class WalGen extends AutoCloseable {
  private val server = new ServerSocket(0, 1, InetAddress.getLoopbackAddress)
  def port: Int = server.getLocalPort

  private var sock: Socket = _
  private var out: BufferedOutputStream = _
  private var reader: Thread = _

  /** (arrival nanoTime, flushed LSN) per standby status. */
  val statuses = new ConcurrentLinkedQueue[(Long, Long)]()
  @volatile var confirmed = 0L

  /** Transactions sent, in order: (lsn, rows, due ns, sent ns). */
  val sent = scala.collection.mutable.ArrayBuffer.empty[(Long, Int, Long, Long)]
  var wireBytes = 0L
  var payloadBytes = 0L
  var blockedNs = 0L
  var firstByteNs = 0L

  /** Accept the client and answer its startup and START_REPLICATION.
    * Call after the client has started connecting. */
  def accept(): Unit = {
    server.setSoTimeout(60000)
    sock = server.accept()
    sock.setTcpNoDelay(true)
    val in = new DataInputStream(new BufferedInputStream(sock.getInputStream))
    out = new BufferedOutputStream(sock.getOutputStream, 1 << 16)
    var su = PgStartup.readUntagged(in).getOrElse(
      throw new IOException("client closed before startup"))
    if (new BinaryReader(su).readInt32() == PgStartup.SslRequestCode) {
      out.write('N'); out.flush()
      su = PgStartup.readUntagged(in).getOrElse(
        throw new IOException("client closed before startup"))
    }
    val (proto, params) = PgStartup.parse(su)
    require(proto == PgStartup.Protocol30, s"protocol $proto")
    require(params.get("replication").contains("database"),
      "replication=database required")
    WalWire.write(out, 'R', new BinaryWriter().writeInt32(0).result())
    WalWire.write(out, 'S', new BinaryWriter().writeString("server_version")
      .writeString("16.4").result())
    WalWire.write(out, 'K', new BinaryWriter().writeInt32(1).writeInt32(2)
      .result())
    WalWire.write(out, 'Z', Array[Byte]('I'))
    out.flush()
    val q = WalWire.read(in).getOrElse(
      throw new IOException("client closed before START_REPLICATION"))
    require(q.tag == 'Q', s"expected Query, got ${q.tag}")
    val sql = new String(q.body, StandardCharsets.UTF_8).takeWhile(_ != 0)
    require(sql.startsWith("START_REPLICATION"), s"unexpected query: $sql")
    WalWire.write(out, 'W', new BinaryWriter().writeUint8(0).writeInt16(0)
      .result())
    out.flush()
    reader = new Thread(() => {
      try {
        var m = WalWire.read(in)
        while (m.isDefined) {
          val b = m.get.body
          if (m.get.tag == 'd' && b.nonEmpty && b(0) == 'r') {
            val st = Transport.decodeStandbyStatus(b)
            statuses.add((System.nanoTime(), st.flushed))
            if (Lsn.compare(st.flushed, confirmed) > 0) confirmed = st.flushed
          }
          m = WalWire.read(in)
        }
      } catch { case _: IOException => () }
    }, "perfbench-walgen-acks")
    reader.setDaemon(true)
    reader.start()
  }

  private def timedWrite(f: => Unit): Unit = {
    val t0 = System.nanoTime()
    f
    blockedNs += System.nanoTime() - t0
  }

  /** Send `txs` in order; `due(i)` is tx i's due nanoTime. A burst
    * passes the same due time for every transaction and is flushed
    * only as the buffer fills; a paced schedule flushes each
    * transaction as it is sent. */
  def send(txs: IndexedSeq[GenTx], due: Int => Long, paced: Boolean): Unit = {
    var i = 0
    while (i < txs.length) {
      val tx = txs(i)
      val d = due(i)
      var now = System.nanoTime()
      while (d - now > 200000L) {
        java.util.concurrent.locks.LockSupport.parkNanos(d - now - 100000L)
        now = System.nanoTime()
      }
      while (System.nanoTime() < d) ()
      val start = System.nanoTime()
      if (firstByteNs == 0L) firstByteNs = start
      // large transactions go out in socket-sized chunks, so
      // backpressure is measured per chunk
      var off = 0
      while (off < tx.wire.length) {
        val n = math.min(1 << 16, tx.wire.length - off)
        timedWrite(out.write(tx.wire, off, n))
        off += n
      }
      if (paced) timedWrite(out.flush())
      wireBytes += tx.wire.length
      payloadBytes += tx.payloadBytes
      sent += ((tx.lsn, tx.rows, d, start))
      i += 1
    }
    timedWrite(out.flush())
  }

  /** Ask for a reply at `lsn` and wait until the client's flushed
    * position covers it; returns the arrival time of that status. */
  def awaitAck(lsn: Long, timeoutMs: Long = 60000): Long = {
    WalWire.write(out, 'd', Transport.encodeKeepalive(lsn,
      GenTx.ServerMicros, shouldRespond = true))
    out.flush()
    val deadline = System.currentTimeMillis() + timeoutMs
    while (Lsn.compare(confirmed, lsn) <= 0 &&
      System.currentTimeMillis() < deadline) Thread.sleep(1)
    ackTime(lsn).getOrElse(throw new IOException(
      s"no standby status covering ${Lsn.format(lsn)} within $timeoutMs ms"))
  }

  /** Arrival time of the first status whose flushed position is past
    * `lsn` (statuses report the next LSN to receive). */
  def ackTime(lsn: Long): Option[Long] =
    statuses.asScala.find(s => Lsn.compare(s._2, lsn) > 0).map(_._1)

  /** Per transaction: status arrival minus send time, in ms. */
  def ackLagsMs: Seq[Double] = {
    val st = statuses.asScala.toIndexedSeq
    var j = 0
    sent.iterator.flatMap { case (lsn, _, _, sentNs) =>
      while (j < st.length && Lsn.compare(st(j)._2, lsn) <= 0) j += 1
      if (j < st.length) Some((st(j)._1 - sentNs) / 1e6) else None
    }.toSeq
  }

  def rowsSent: Long = sent.iterator.map(_._2.toLong).sum

  override def close(): Unit = {
    try if (sock != null) sock.close() catch { case _: IOException => () }
    server.close()
    if (reader != null) reader.join(10000)
  }
}
