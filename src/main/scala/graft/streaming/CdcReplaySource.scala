package graft.streaming

import java.nio.ByteBuffer
import java.nio.channels.{Channels, FileChannel}
import java.nio.charset.StandardCharsets.US_ASCII
import java.nio.file.Paths
import java.util
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, ReadMaxRows, SupportsTriggerAvailableNow}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.cdc.Lsn

/** "cdc-replay" — a DataSource V2 source that replays a CDC frame log
  * with the reference's delivery semantics (SURVEY.md §2 A1, A9-A13,
  * B10):
  *
  *  - offsets are LSNs (`startingLsn` option ≡ `uptoLsn` resume;
  *    `0/00000000` replays everything, `acknowledge.spec.ts:70-75`);
  *  - `maxFramesPerTrigger` bounds a micro-batch (the pull-based
  *    analogue of the reference's flow control, A12);
  *  - `commit(offset)` emulates the standby-status ack by persisting
  *    the acked LSN to an `_acked_lsn` sidecar (A9/A10) — restart
  *    resumes from the checkpoint, replaying any unacked tail ⇒
  *    at-least-once, deduplicated downstream;
  *  - also exposes BATCH_READ so `spark.read` replays the same log.
  *
  * Log format: one JSON line per transaction:
  * `{"lsn":<commitLsn>,"frames":["<hex pgoutput frame>",...]}`.
  * One file ≈ one slot/publication shard: `planInputPartitions`
  * emits one partition per file, so replay parallelism scales with
  * shard count while preserving intra-shard LSN order (the same
  * trade the reference makes with one ordered stream per slot, O5).
  */
object CdcReplaySource {
  val schema: StructType = StructType(Seq(
    StructField("lsn", LongType, nullable = false),
    StructField("frames", ArrayType(BinaryType), nullable = false)))

  val FORMAT: String = classOf[CdcReplayProvider].getName

  /** Writes a frame log (driver-side test/fixture helper). */
  def writeLog(path: String, rows: Seq[(Long, Seq[Array[Byte]])]): Unit =
    writeLogShard(path, 0, rows)

  private val HexChars = "0123456789abcdef".toCharArray

  /** Fast lowercase hex — the frame-log append is the live client's
    * hot path; per-byte String.format costs ~1 µs/byte and dominates
    * socket throughput. */
  def hex(b: Array[Byte]): String = {
    val out = new Array[Char](b.length * 2)
    var i = 0
    while (i < b.length) {
      val v = b(i) & 0xff
      out(i * 2) = HexChars(v >> 4)
      out(i * 2 + 1) = HexChars(v & 0xf)
      i += 1
    }
    new String(out)
  }

  /** Writes one shard of a frame log; a shard ≈ one slot/publication
    * (replay parallelism = shard count, intra-shard LSN order). */
  def writeLogShard(path: String, shard: Int,
      rows: Seq[(Long, Seq[Array[Byte]])]): Unit = {
    val dir = new java.io.File(path)
    dir.mkdirs()
    val w = new java.io.PrintWriter(new java.io.File(dir, s"part-$shard.jsonl"))
    try rows.sortBy(_._1).foreach { case (lsn, frames) =>
      w.println(formatLine(lsn, frames))
    } finally w.close()
  }

  /** THE frame-log line serialization — single-sourced because the
    * scrub's idempotence/crash contract depends on rewritten lines
    * being byte-identical to freshly written ones ([[scrubFrameLog]]
    * and [[writeLogShard]] must never drift apart). */
  private[streaming] def formatLine(lsn: Long,
      frames: Seq[Array[Byte]]): String = {
    val hexed = frames.map(f => "\"" + hex(f) + "\"")
    s"""{"lsn":$lsn,"frames":[${hexed.mkString(",")}]}"""
  }

  def listLogFiles(path: String): Seq[String] = {
    val dir = new java.io.File(path)
    if (!dir.isDirectory) Seq(path)
    else dir.listFiles().filter(_.getName.endsWith(".jsonl"))
      .map(_.getPath).sorted.toSeq
  }

  /** A frame-log line is complete iff it has the writer's exact object
    * shape. The append path is line-buffered, so a crash can tear at
    * most the LAST line of a shard. */
  private[streaming] def isComplete(line: String): Boolean =
    line.startsWith("{\"lsn\":") && line.endsWith("]}")

  private def midFileTear(fileName: String) = new IllegalStateException(
    s"$fileName has a corrupt frame-log line before end of file; " +
      "only a torn final line (crash artifact) is tolerated")

  private[streaming] def unsorted(fileName: String, lsn: Long, prev: Long) =
    new IllegalStateException(s"$fileName is not LSN-sorted ($lsn after " +
      s"$prev); cdc-replay shards must be written in LSN order")

  /** Torn-tail tolerance: a torn LAST line is a crash artifact — by
    * the durable-then-ack contract (the log flush precedes the
    * covering ack) it is never acked, so dropping it just replays the
    * transaction next session. A torn line FOLLOWED by more lines is
    * not a crash artifact; that file is corrupt — fail loudly rather
    * than silently delivering a truncated frame. */
  private[streaming] def completeLines(
      fileName: String, lines: Iterator[String]): Iterator[String] =
    new Iterator[String] {
      private var pending: String = if (lines.hasNext) lines.next() else null
      def hasNext: Boolean = pending != null && {
        if (isComplete(pending)) true
        else if (lines.hasNext) throw midFileTear(fileName)
        else { pending = null; false }
      }
      def next(): String = {
        val l = pending
        pending = if (lines.hasNext) lines.next() else null
        l
      }
    }

  /** Driver-side index scan: all (file, lsn) pairs, lsn-sorted.
    * Enforces the per-shard LSN-sort format invariant (this reads
    * every line anyway, so the check is free here). */
  def lsnIndex(path: String): Seq[Long] =
    listLogFiles(path).flatMap(indexShard(_, 0L, Long.MinValue)._1.map(_._1)).sorted

  private val LsnKey = "{\"lsn\":".getBytes(US_ASCII)

  private val LsnHeadBytes = 32 // the key, a Long's 19 digits, and spare

  private def hasKey(head: Array[Byte], headLen: Int): Boolean =
    headLen >= LsnKey.length &&
      java.util.Arrays.equals(head, 0, LsnKey.length, LsnKey, 0, LsnKey.length)

  private def headLsn(head: Array[Byte], headLen: Int): Long =
    parseLsn(new String(head, 0, headLen, US_ASCII))

  /** The LSN of the line at byte `off`, from a bounded read of its
    * head — `None` if no line of the frame-log shape starts there. */
  private[streaming] def lsnAt(f: String, off: Long): Option[Long] = {
    val ch = FileChannel.open(Paths.get(f))
    try {
      val buf = ByteBuffer.allocate(LsnHeadBytes)
      while (buf.hasRemaining && ch.read(buf, off + buf.position()) > 0) ()
      Some(buf.position()).filter(hasKey(buf.array(), _)).map(headLsn(buf.array(), _))
    } finally ch.close()
  }

  /** THE driver-index scan of one shard from byte `from` (0 or a
    * previous scan's mark): the (lsn, byte offset) of every complete
    * line and the high-water mark past the last one, from one pass of
    * 64 KB reads — a growing shard costs one pass over its appended
    * bytes. Lines are judged by [[isComplete]]'s rule on their head
    * and last two bytes, with [[completeLines]]' torn-line contract;
    * LSNs must not fall, nor fall below `after` (the last LSN before
    * `from`). An unterminated complete final line is delivered with
    * the mark at EOF; its newline is skipped when it lands. */
  private[streaming] def indexShard(f: String, from: Long,
      after: Long): (Vector[(Long, Long)], Long) = {
    val ch = FileChannel.open(Paths.get(f))
    try {
      val block = ByteBuffer.allocate(1 << 16)
      val bytes = block.array()
      val head = new Array[Byte](LsnHeadBytes)
      val out = Vector.newBuilder[(Long, Long)]
      // read from one byte before the mark: a mark that does not follow
      // a newline is the EOF clamp of an unterminated complete line
      var pos = math.max(from - 1, 0L) // file offset of bytes(0)
      var n = ch.read(block, pos)
      var i = (from - pos).toInt
      if (i == 1 && n >= 2 && bytes(0) != '\n' && bytes(1) == '\n') i = 2
      var lineStart = pos + i
      var mark = lineStart // past the last complete line
      var headLen = 0
      var b2, b1 = 0 // the current line's last two bytes
      var torn = false
      var prevLsn = after
      def endLine(end: Long): Unit = {
        if (torn) throw midFileTear(f)
        // isComplete's rule on the line's head and last two bytes
        if (!(hasKey(head, headLen) && b2 == ']' && b1 == '}')) torn = true
        else {
          val lsn = headLsn(head, headLen)
          if (lsn < prevLsn) throw unsorted(f, lsn, prevLsn)
          prevLsn = lsn
          out += ((lsn, lineStart))
          mark = end
        }
        lineStart = end; headLen = 0; b2 = 0; b1 = 0
      }
      while (n > 0) {
        while (i < n) {
          var j = i
          while (j < n && bytes(j) != '\n') j += 1
          if (headLen < LsnHeadBytes) {
            val k = math.min(j - i, LsnHeadBytes - headLen)
            System.arraycopy(bytes, i, head, headLen, k)
            headLen += k
          }
          if (j - i >= 2) { b2 = bytes(j - 2); b1 = bytes(j - 1) }
          else if (j - i == 1) { b2 = b1; b1 = bytes(i) }
          if (j < n) endLine(pos + j + 1)
          i = j + 1
        }
        pos += n
        block.clear()
        n = ch.read(block, pos)
        i = 0
      }
      if (pos > lineStart) endLine(pos) // unterminated final line
      (out.result(), mark)
    } finally ch.close()
  }

  private[streaming] def parseLsn(line: String): Long = {
    val i = line.indexOf("\"lsn\":") + 6
    var j = i
    while (j < line.length && line.charAt(j).isDigit) j += 1
    line.substring(i, j).toLong
  }

  /** Replay-reader hot path: one index scan over the line, hex pairs
    * decoded via a nibble table — no split/regex, no per-byte boxing
    * (the `grouped(2)` + `Integer.parseInt` form costs ~10× in
    * allocation on multi-MB transactions). */
  private[streaming] def parseFrames(line: String): Seq[Array[Byte]] = {
    val start = line.indexOf("\"frames\":[") + 10
    val end = line.lastIndexOf("]")
    val out = Seq.newBuilder[Array[Byte]]
    var i = start
    while (i < end) {
      line.charAt(i) match {
        case '"' =>
          var j = i + 1
          while (j < end && line.charAt(j) != '"') j += 1
          if ((j - i - 1) % 2 != 0) throw new IllegalStateException(
            s"odd-length hex frame body (${j - i - 1} chars) in frame " +
              s"log line at offset ${i + 1} — truncated or corrupt frame")
          val n = (j - i - 1) / 2
          val bytes = new Array[Byte](n)
          var k = 0
          while (k < n) {
            val hi = Character.digit(line.charAt(i + 1 + k * 2), 16)
            val lo = Character.digit(line.charAt(i + 2 + k * 2), 16)
            if (hi < 0 || lo < 0) throw new IllegalStateException(
              s"non-hex frame byte in frame log line at offset ${i + 1 + k * 2}")
            bytes(k) = ((hi << 4) | lo).toByte
            k += 1
          }
          out += bytes
          i = j + 1
        case _ => i += 1 // commas / whitespace between frames
      }
    }
    out.result()
  }

  def ackSidecar(path: String) = new java.io.File(path, "_acked_lsn")

  /** Cross-PROCESS mutual exclusion for every sidecar
    * read-merge-write: the JVM-level `synchronized` alone would let
    * two socket-client processes sharing one log dir interleave
    * read→merge→write and lose the other's advance. One OS file lock
    * per log dir (`_acked.lock`), taken inside the JVM lock (JVM
    * first — OverlappingFileLockException fires if one process locks
    * the same channel region twice). */
  private def withDirLock[A](path: String)(body: => A): A = synchronized {
    val lockFile = new java.io.File(path, "_acked.lock")
    val ch = java.nio.channels.FileChannel.open(lockFile.toPath,
      java.nio.file.StandardOpenOption.CREATE,
      java.nio.file.StandardOpenOption.WRITE)
    try {
      val lock = ch.lock()
      try body finally lock.release()
    } finally ch.close()
  }

  /** Atomic, MONOTONIC sidecar advance — every ack path (stream
    * commit, manual acknowledge, re-ack timer, socket client) funnels
    * here so a stale writer can never regress a newer position. */
  def writeAckedLsn(path: String, lsn: Long): Unit = withDirLock(path) {
    if (lastAckedLsn(path).forall(_ < lsn)) {
      val dir = java.nio.file.Paths.get(path)
      val tmp = java.nio.file.Files.createTempFile(dir, "_acked_lsn", ".tmp")
      java.nio.file.Files.write(tmp,
        lsn.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      java.nio.file.Files.move(tmp, ackSidecar(path).toPath,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING,
        java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    }
  }

  def lastAckedLsn(path: String): Option[Long] = readPosition(ackSidecar(path))

  /** A position sidecar's LSN; `None` if the file does not exist. */
  private def readPosition(f: java.io.File): Option[Long] =
    if (!f.exists) None
    else {
      val src = scala.io.Source.fromFile(f)
      try Some(src.mkString.trim.toLong) finally src.close()
    }

  /** Per-SLOT confirmed position — the socket CLIENT's resume record,
    * mirroring PostgreSQL's own model where every replication slot
    * carries its own `confirmed_flush_lsn`: two slots sharing one log
    * dir must not resume from each other's acks (after slot A acks
    * 500, lagging slot B's undelivered frames at LSN ≤ 500 must still
    * replay). A slot spans shard FILES (each reconnect session may
    * append a new `part-N.jsonl`), so the file-keyed [[ShardOffsets]]
    * record cannot serve here — the slot name is the stable key. */
  def slotAckSidecar(path: String, slot: String) = new java.io.File(path,
    "_acked_lsn@" + java.net.URLEncoder.encode(slot, "UTF-8"))

  /** Atomic, monotonic per-slot advance (same contract as
    * [[writeAckedLsn]], scoped to one slot). */
  def writeSlotAckedLsn(path: String, slot: String, lsn: Long): Unit =
    withDirLock(path) {
      if (readSlotAcked(path, slot).forall(_ < lsn)) {
        val dir = java.nio.file.Paths.get(path)
        val tmp = java.nio.file.Files.createTempFile(dir, "_acked_slot", ".tmp")
        java.nio.file.Files.write(tmp,
          lsn.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        java.nio.file.Files.move(tmp, slotAckSidecar(path, slot).toPath,
          java.nio.file.StandardCopyOption.REPLACE_EXISTING,
          java.nio.file.StandardCopyOption.ATOMIC_MOVE)
      }
    }

  /** Per-slot ack-lag metrics sidecar (`_ack_lag@<slot>`) — the live
    * loop's q293-shape SLO census, written by the socket client from
    * its own [[graft.cdc.AckLagCensus]] and read back by
    * [[graft.streaming.StreamOps.ackLagReport]] next to the
    * retention pane. One JSON line, whole-file atomic replace (same
    * publish discipline as the position sidecars; metrics are a
    * SNAPSHOT, so unlike positions there is no monotonicity guard —
    * the latest census simply wins). */
  def ackLagSidecar(path: String, slot: String) = new java.io.File(path,
    "_ack_lag@" + java.net.URLEncoder.encode(slot, "UTF-8"))

  def writeAckLag(path: String, slot: String, shard: String,
      st: graft.cdc.AckLagCensus.Stats): Unit = {
    val dir = java.nio.file.Paths.get(path)
    // before the lock: withDirLock opens <path>/_acked.lock with
    // CREATE, which throws if the DIRECTORY itself is missing
    java.nio.file.Files.createDirectories(dir)
    withDirLock(path) {
    val tmp = java.nio.file.Files.createTempFile(dir, "_ack_lag", ".tmp")
    // shard names are part-N.jsonl (ASCII, no quotes) — safe inline
    val json = s"""{"shard":"$shard","n_frames":${st.nFrames},""" +
      s""""p50_lag_sec":${st.p50LagSec},"p99_lag_sec":${st.p99LagSec},""" +
      s""""max_lag_sec":${st.maxLagSec},"slo_milli":${st.sloMilli}}"""
    java.nio.file.Files.write(tmp,
      json.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    java.nio.file.Files.move(tmp, ackLagSidecar(path, slot).toPath,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    }
  }

  private def readSlotAcked(path: String, slot: String): Option[Long] =
    readPosition(slotAckSidecar(path, slot))

  /** The slot's confirmed position. Migration fallback: a log dir
    * with NO per-slot sidecars at all is pre-upgrade state — the
    * legacy global scalar applies (its documented single-slot
    * semantics). Once ANY slot has its own record, an absent record
    * means a fresh slot, which must replay from 0 rather than borrow
    * another slot's position (the cross-session skip this record
    * exists to prevent). */
  def lastSlotAckedLsn(path: String, slot: String): Option[Long] =
    readSlotAcked(path, slot).orElse {
      val files = new java.io.File(path).listFiles()
      val anySlot = files != null &&
        files.exists(_.getName.startsWith("_acked_lsn@"))
      if (anySlot) None else lastAckedLsn(path)
    }

  /** WAL recycling for the replay log — the ENFORCEMENT half of the
    * retention story [[graft.streaming.StreamOps.slotRetentionReport]]
    * observes: drop every transaction at or below the MINIMUM of its
    * shard's acked floor (`_acked_offsets`), every per-slot
    * `_acked_lsn@<slot>` sidecar, and the legacy scalar — exactly
    * what PostgreSQL does to WAL segments once EVERY slot's
    * `confirmed_flush_lsn` passes them.
    * Per-file tmp-write + ATOMIC_MOVE: a crash leaves each shard file
    * either whole or fully truncated (no multi-file invariant — shards
    * are independent), and a rerun is idempotent. A torn final line
    * (crash artifact, never acked by the durable-then-ack contract)
    * is preserved as-is for the reader's own torn-tail handling.
    * Floors are LSNs, so resume positions are untouched: a consumer
    * resuming from its acked floor sees the identical frame sequence
    * before and after truncation. Runs under the directory lock —
    * callers truncate between sessions, not under a live appender.
    * Returns per-file dropped-transaction counts. */
  def truncateFrameLog(path: String): Map[String, Long] =
    withDirLock(path) {
      // leaked scratch from a crashed predecessor (write done, move/
      // delete never reached): invisible to listLogFiles but never
      // reclaimed otherwise — sweep under the same lock before
      // creating new ones (r13 advisor finding)
      Option(new java.io.File(path).listFiles()).getOrElse(Array.empty)
        .filter(_.getName.endsWith(".trunc"))
        .foreach(f => { f.delete(); () })
      val floors = retentionFloors(path)
      listLogFiles(path).map { p =>
        val f = new java.io.File(p)
        val nm = f.getName
        val floor = floors(nm)
        if (floor == Long.MinValue) nm -> 0L
        else {
          // single streaming pass: filter into the tmp file while
          // counting — never the whole shard in memory (the logs this
          // exists for are the ones too big to keep)
          val tmp = java.nio.file.Files.createTempFile(
            f.getParentFile.toPath, nm, ".trunc")
          try {
            var dropped = 0L
            val src = scala.io.Source.fromFile(f)
            val out = java.nio.file.Files.newBufferedWriter(tmp,
              java.nio.charset.StandardCharsets.UTF_8)
            try src.getLines().foreach { l =>
              if (isComplete(l) && parseLsn(l) <= floor) dropped += 1
              else { out.write(l); out.write("\n") }
            } finally { out.close(); src.close() }
            if (dropped > 0)
              java.nio.file.Files.move(tmp, f.toPath,
                java.nio.file.StandardCopyOption.REPLACE_EXISTING,
                java.nio.file.StandardCopyOption.ATOMIC_MOVE)
            else java.nio.file.Files.delete(tmp)
            nm -> dropped
          } catch {
            // the filter write failed mid-stream: reclaim the scratch
            // (the live file is untouched) and rethrow
            case e: Throwable =>
              java.nio.file.Files.deleteIfExists(tmp)
              throw e
          }
        }
      }.toMap
    }

  /** The prefix every redaction frame starts with: logical-message
    * tag 'M' + non-transactional flag; [[scrubFrameLog]] recognizes
    * its own output by it (idempotent reruns). */
  private val RedactedPrefix = "graft/redacted"

  /** The frame [[scrubFrameLog]] substitutes for a scrubbed one: a
    * pgoutput logical message (tag 'M', the same wire shape
    * `pg_logical_emit_message` produces) at the transaction's own
    * LSN with prefix `graft/redacted` and empty content — decodable
    * by every downstream consumer, carrying no subject bytes, and
    * making the redaction itself visible in the change stream. */
  private[streaming] def redactionFrame(lsn: Long): Array[Byte] =
    graft.cdc.PgoutputWriter.logicalMessage(
      transactional = false, lsn = lsn, prefix = RedactedPrefix,
      content = Array.emptyByteArray)

  /** Best-effort byte recovery from a TORN line: decode every
    * maximal even-length run of lowercase hex found after the frames
    * marker (frame payload hex is the only lowercase-hex content on
    * a line), concatenated — enough to ask "does the partial payload
    * still carry these bytes", never used for replay. */
  private[streaming] def decodeHexRuns(line: String): Array[Byte] = {
    val start = math.max(line.indexOf("\"frames\":["), 0)
    val out = new java.io.ByteArrayOutputStream()
    var i = start
    while (i < line.length) {
      var j = i
      while (j < line.length && isHexChar(line.charAt(j))) j += 1
      var k = i
      while (k + 1 < j) {
        out.write((nibble(line.charAt(k)) << 4) | nibble(line.charAt(k + 1)))
        k += 2
      }
      i = j + 1
    }
    out.toByteArray
  }

  private def isHexChar(c: Char): Boolean =
    (c >= '0' && c <= '9') || (c >= 'a' && c <= 'f')

  private def nibble(c: Char): Int =
    if (c <= '9') c - '0' else c - 'a' + 10

  private def containsSlice(hay: Array[Byte], needle: Array[Byte]): Boolean = {
    if (needle.isEmpty || needle.length > hay.length) return false
    var i = 0
    val last = hay.length - needle.length
    while (i <= last) {
      var j = 0
      while (j < needle.length && hay(i + j) == needle(j)) j += 1
      if (j == needle.length) return true
      i += 1
    }
    false
  }

  /** Content-level frame scrub — the legal-hold escape hatch behind
    * the retention-bounded RTBF posture ([[truncateFrameLog]] +
    * q289's exposure census): when "the frames age out once every
    * slot acks past them" is not enough, replace every frame whose
    * BYTES contain a forget subject's needle with a
    * [[redactionFrame]] at the same LSN. Unlike dropping lines, this
    * preserves the shard's line count, LSN sequence, and byte
    * offsets' ORDER, so a consumer resuming from its acked floor
    * sees the same transaction boundaries — the scrub changes
    * payloads, never positions. Per-file tmp + ATOMIC_MOVE under the
    * directory lock (same crash contract as truncation: each file is
    * whole-or-scrubbed, reruns idempotent); files without hits are
    * NOT rewritten (byte-identical — the file-pruned-erasure
    * contract); a torn final line is preserved as-is. Already-
    * redacted frames never match again (the redaction frame carries
    * no subject bytes), so a rerun reports 0. Needles are raw
    * subject bytes as they appear on the wire (pgoutput text datums:
    * the key's UTF-8 rendering); callers own needle specificity —
    * a needle short enough to collide with wire framing would
    * over-scrub, so use full key renderings, not fragments.
    * Returns per-file scrubbed-frame counts. */
  def scrubFrameLog(path: String,
      needles: Seq[Array[Byte]]): Map[String, Long] =
    withDirLock(path) {
      Option(new java.io.File(path).listFiles()).getOrElse(Array.empty)
        .filter(_.getName.endsWith(".scrub"))
        .foreach(f => { f.delete(); () })
      val live = needles.filter(_.nonEmpty)
      listLogFiles(path).map { p =>
        val f = new java.io.File(p)
        val nm = f.getName
        if (live.isEmpty) nm -> 0L
        else {
          val tmp = java.nio.file.Files.createTempFile(
            f.getParentFile.toPath, nm, ".scrub")
          try {
            var scrubbed = 0L
            val src = scala.io.Source.fromFile(f)
            val out = java.nio.file.Files.newBufferedWriter(tmp,
              java.nio.charset.StandardCharsets.UTF_8)
            // One-line lookahead so the torn-line branch applies ONLY
            // to the file's LAST line (the crash-artifact position):
            // an incomplete line FOLLOWED by more lines is corruption
            // the replay reader (completeLines) refuses to read past,
            // and the scrub must mirror that — silently rewriting or
            // dropping a mid-file tear would destroy evidence of the
            // corruption it sits in (r14 advisor finding).
            val it = src.getLines()
            try it.foreach { l =>
              val isLast = !it.hasNext
              if (!isComplete(l)) {
                if (!isLast) throw new IllegalStateException(
                  s"$nm has a corrupt frame-log line before end of " +
                    "file; only a torn final line (crash artifact) is " +
                    "tolerated — scrub refused")
                // A torn final line is a crash artifact — by the
                // durable-then-ack contract it was never acked, so
                // DROPPING it is always safe (truncateFrameLog's
                // documented torn-tail reasoning). Preserving it is
                // the default courtesy to the reader; preserving it
                // when its partial hex still DECODES to subject
                // bytes would be a silent compliance hole the scrub
                // exists to close — so a subject-bearing torn tail
                // is dropped, counted as one scrub. A preserved tail
                // is written WITHOUT a trailing newline (a tear
                // happens mid-write, so the original has none) —
                // appending one would alter bytes the scrub promised
                // to keep identical.
                val partial = decodeHexRuns(l)
                if (live.exists(containsSlice(partial, _))) scrubbed += 1
                else out.write(l)
              }
              else {
                val frames = parseFrames(l)
                if (!frames.exists(fr => live.exists(containsSlice(fr, _))))
                  { out.write(l); out.write("\n") } // byte-identical
                else {
                  val lsn = parseLsn(l)
                  val red = redactionFrame(lsn)
                  val kept = frames.map { fr =>
                    if (live.exists(containsSlice(fr, _))) {
                      scrubbed += 1; red
                    } else fr
                  }
                  out.write(formatLine(lsn, kept))
                  out.write("\n")
                }
              }
            } finally { out.close(); src.close() }
            if (scrubbed > 0)
              java.nio.file.Files.move(tmp, f.toPath,
                java.nio.file.StandardCopyOption.REPLACE_EXISTING,
                java.nio.file.StandardCopyOption.ATOMIC_MOVE)
            else java.nio.file.Files.delete(tmp)
            nm -> scrubbed
          } catch {
            case e: Throwable =>
              java.nio.file.Files.deleteIfExists(tmp)
              throw e
          }
        }
      }.toMap
    }

  /** Per-shard retention floor — the MIN over EVERY consumer's
    * confirmed position: the shard's own `_acked_offsets` entry,
    * every per-slot `_acked_lsn@<slot>` sidecar, and the legacy
    * global scalar. PostgreSQL recycles WAL at exactly this minimum
    * (a frame is droppable only once every slot has passed it); a
    * slot lagging at 100 pins frames 100..500 even after a
    * checkpointed query acked 500. ONE derivation shared by the
    * enforcement half ([[truncateFrameLog]]) and the observation half
    * ([[graft.streaming.StreamOps.slotRetentionReport]]) so the
    * dashboard can never disagree with what truncation would do
    * (r13 advisor finding: the report used to read only the shard
    * offsets and understated lagging-consumer retention). */
  def retentionFloors(path: String): Map[String, Long] = {
    val so = lastAckedOffsets(path)
      .getOrElse(ShardOffsets(Long.MinValue, Map.empty))
    val slotFloors: Seq[Long] = {
      val files = Option(new java.io.File(path).listFiles())
        .getOrElse(Array.empty)
      files.toSeq.filter(_.getName.startsWith("_acked_lsn@"))
        .flatMap(readPosition) ++ lastAckedLsn(path).toSeq
    }
    listLogFiles(path).map { p =>
      val nm = new java.io.File(p).getName
      nm -> (so.of(nm) +: slotFloors).min
    }.toMap
  }

  def ackOffsetsSidecar(path: String) = new java.io.File(path, "_acked_offsets")

  /** PER-SHARD acked positions — the cross-session record the global
    * `_acked_lsn` scalar cannot carry: after shard A acks 500, a
    * lagging shard B's unseen frames at LSN ≤ 500 must still replay
    * on a sidecar-based resume (no checkpoint). A running checkpointed
    * query gets this from its own ShardOffsets; this sidecar gives the
    * same floor to `ReplicationSession.subscribe` (no uptoLsn) and
    * `WalSocketClient.run`. Advance is per-shard monotonic under the
    * same lock as the scalar sidecar; a concurrent writer can only
    * push entries forward. */
  def writeAckedOffsets(path: String, so: ShardOffsets): Unit =
    withDirLock(path) {
      val prev = lastAckedOffsets(path)
        .getOrElse(ShardOffsets(Long.MinValue, Map.empty))
      val mergedFloor = math.max(prev.floor, so.floor)
      val merged = (prev.shards.keySet ++ so.shards.keySet).map { k =>
        k -> math.max(prev.of(k), so.of(k))
      }.toMap
      val next = ShardOffsets(mergedFloor, merged)
      if (next != prev) {
        val dir = java.nio.file.Paths.get(path)
        val tmp =
          java.nio.file.Files.createTempFile(dir, "_acked_offsets", ".tmp")
        java.nio.file.Files.write(tmp,
          next.json().getBytes(java.nio.charset.StandardCharsets.UTF_8))
        java.nio.file.Files.move(tmp, ackOffsetsSidecar(path).toPath,
          java.nio.file.StandardCopyOption.REPLACE_EXISTING,
          java.nio.file.StandardCopyOption.ATOMIC_MOVE)
      }
    }

  /** The per-shard acked record; falls back to the legacy scalar
    * sidecar as a floor-only offset ("every shard delivered through
    * L" — the old semantics, conservative for mixed-version dirs). */
  def lastAckedOffsets(path: String): Option[ShardOffsets] = {
    val f = ackOffsetsSidecar(path)
    if (f.exists) {
      val src = scala.io.Source.fromFile(f)
      try Some(ShardOffsets.parse(src.mkString)) finally src.close()
    } else lastAckedLsn(path).map(ShardOffsets(_, Map.empty))
  }
}

class CdcReplayProvider extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    CdcReplaySource.schema
  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table =
    new CdcReplayTable(properties.asScala.toMap)
}

class CdcReplayTable(props: Map[String, String]) extends Table with SupportsRead {
  override def name(): String = s"cdc-replay(${props.getOrElse("path", "?")})"
  override def schema(): StructType = CdcReplaySource.schema
  override def capabilities(): util.Set[TableCapability] =
    Set(TableCapability.MICRO_BATCH_READ, TableCapability.BATCH_READ).asJava

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = {
    require(options.get("path") != null,
      "cdc-replay requires the 'path' option (directory of *.jsonl frame logs)")
    new CdcReplayScanBuilder(options)
  }
}

/** Scan builder with LSN-range filter pushdown (SURVEY §4 O1 made
  * real for this source): `lsn` comparisons become the partitions'
  * (startExclusive, endInclusive) bounds, which the reader turns into
  * skip-head / stop-early I/O on the LSN-sorted shard files — the
  * replay analogue of `START_REPLICATION ... <lsn>` doing the
  * filtering server-side. Accepted filters are applied *exactly*, so
  * they are consumed here and not re-evaluated post-scan. */
class CdcReplayScanBuilder(options: CaseInsensitiveStringMap)
    extends ScanBuilder
    with org.apache.spark.sql.connector.read.SupportsPushDownFilters {
  import org.apache.spark.sql.sources._

  private val path = options.get("path")
  private var lsnLowExclusive = Long.MinValue
  private var lsnHighInclusive = Long.MaxValue
  private var pushed = Array.empty[Filter]

  private def num(v: Any): Option[Long] = v match {
    case n: java.lang.Number => Some(n.longValue())
    case _ => None
  }

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    // -1 adjustments must not wrap at Long.MinValue — a value at the
    // edge stays unconsumed (Spark evaluates it post-scan) rather
    // than flipping the bound to its opposite
    val remaining = filters.filter {
      case GreaterThan("lsn", v) if num(v).isDefined =>
        lsnLowExclusive = math.max(lsnLowExclusive, num(v).get); false
      case GreaterThanOrEqual("lsn", v)
          if num(v).exists(_ != Long.MinValue) =>
        lsnLowExclusive = math.max(lsnLowExclusive, num(v).get - 1); false
      case LessThan("lsn", v) if num(v).exists(_ != Long.MinValue) =>
        lsnHighInclusive = math.min(lsnHighInclusive, num(v).get - 1); false
      case LessThanOrEqual("lsn", v) if num(v).isDefined =>
        lsnHighInclusive = math.min(lsnHighInclusive, num(v).get); false
      case EqualTo("lsn", v) if num(v).exists(_ != Long.MinValue) =>
        lsnLowExclusive = math.max(lsnLowExclusive, num(v).get - 1)
        lsnHighInclusive = math.min(lsnHighInclusive, num(v).get); false
      case _ => true
    }
    pushed = filters.diff(remaining)
    remaining
  }

  override def pushedFilters(): Array[Filter] = pushed

  override def build(): Scan = new Scan {
    override def readSchema(): StructType = CdcReplaySource.schema
    override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream = {
      // `startingOffsets` (a full ShardOffsets JSON, e.g. the
      // _acked_offsets sidecar) floors each shard at its OWN confirmed
      // LSN — the no-checkpoint resume path; `startingLsn` is the
      // scalar special case (floor-only). A checkpoint, when present,
      // supersedes both (Spark only calls initialOffset without one).
      val initial = Option(options.get("startingOffsets"))
        .map(ShardOffsets.parse)
        .getOrElse(ShardOffsets(
          Option(options.get("startingLsn")).map(parseStart).getOrElse(0L),
          Map.empty))
      new CdcReplayStream(path, initial,
        Option(options.get("maxFramesPerTrigger")).map(_.toLong)
          .getOrElse(Long.MaxValue))
    }
    override def toBatch: Batch = new Batch {
      override def planInputPartitions(): Array[InputPartition] =
        CdcReplaySource.listLogFiles(path)
          .map(f => CdcReplayPartition(f, lsnLowExclusive, lsnHighInclusive)
            : InputPartition).toArray
      override def createReaderFactory(): PartitionReaderFactory =
        new CdcReplayReaderFactory
    }
  }

  private def parseStart(s: String): Long =
    if (s.contains("/")) Lsn.parse(s) else s.toLong
}

/** Per-SHARD offsets — the Kafka-partition model: every shard file
  * advances independently, so a shard whose socket lags (its next
  * transaction carries a LOWER LSN than another shard's already-
  * delivered tail) is never skipped by a single global watermark.
  * `floor` is the stream's startingLsn: shards absent from the map
  * (not yet seen, or empty at the time) start there. Keys are file
  * NAMES, not paths, so checkpoints survive a log-directory move.
  *
  * Legacy checkpoints (a bare LSN — the old single-watermark offset)
  * deserialize as floor-only: "every shard delivered through L",
  * exactly the old semantics. */
case class ShardOffsets(floor: Long, shards: Map[String, Long])
    extends Offset {
  def of(name: String): Long = math.max(floor, shards.getOrElse(name, floor))
  override def json(): String = {
    // shard names are file names, but nothing stops a producer from
    // creating one with a quote or backslash — escape, or the offset
    // JSON (and the checkpoint it lands in) is corrupt
    val items = shards.toSeq.sortBy(_._1)
      .map { case (k, v) => "\"" + ShardOffsets.escape(k) + "\":" + v }
      .mkString(",")
    s"""{"floor":$floor,"shards":{$items}}"""
  }
}

object ShardOffsets {
  // value = escaped JSON string: backslash-escapes stay paired
  private val Entry = "\"((?:[^\"\\\\]|\\\\.)*)\":(-?\\d+)".r

  private[streaming] def escape(s: String): String =
    s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c => c.toString
    }

  private def unescape(s: String): String = {
    val b = new StringBuilder(s.length)
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '\\' && i + 1 < s.length) { b += s.charAt(i + 1); i += 2 }
      else { b += c; i += 1 }
    }
    b.result()
  }

  /** Throws IllegalArgumentException on anything that is not a
    * cdc-replay offset (progress listeners key off that exact type to
    * skip other sources' offsets — a malformed string must not escape
    * as StringIndexOutOfBounds/NumberFormat from inside a callback). */
  def parse(json: String): ShardOffsets = try {
    val t = json.trim
    if (t.nonEmpty && t.forall(c => c.isDigit || c == '-'))
      return ShardOffsets(t.toLong, Map.empty) // legacy single watermark
    val floor = "\"floor\":(-?\\d+)".r.findFirstMatchIn(t)
      .map(_.group(1).toLong)
      .getOrElse(throw new IllegalArgumentException(
        s"not a cdc-replay offset: $json"))
    // a floor with no shards map is a valid (floor-only) offset
    val shards = t.indexOf("\"shards\"") match {
      case -1 => Map.empty[String, Long]
      case i => Entry.findAllMatchIn(t.substring(i))
        .filter(_.group(1) != "shards")
        .map(m => unescape(m.group(1)) -> m.group(2).toLong).toMap
    }
    ShardOffsets(floor, shards)
  } catch {
    case e: IllegalArgumentException => throw e
    case e: Exception => throw new IllegalArgumentException(
      s"not a cdc-replay offset: $json", e)
  }

  def from(o: Offset): ShardOffsets = o match {
    case s: ShardOffsets => s
    case other => parse(other.json())
  }
}

class CdcReplayStream(path: String, initial: ShardOffsets,
    maxPerTrigger: Long)
    extends MicroBatchStream with SupportsTriggerAvailableNow {

  private def startingLsn: Long = initial.floor

  // Incremental LSN index, REFRESHED at every offset poll — the live
  // loop decouples socket ingest from consumption, so frames keep
  // landing while the query runs and each micro-batch must see them
  // (the file-source listing pattern). Per-file cache keyed on
  // (length, mtime): only shards that changed (socket append) or
  // appeared (new client/slot) are re-read; an unchanged 100-shard
  // log costs one directory listing + stat pass per trigger, no IO.
  // Offsets are PER SHARD (ShardOffsets): a lagging shard whose next
  // transaction carries a lower LSN than another shard's delivered
  // tail still gets picked up — a single global watermark would
  // silently skip it.
  /** path → (stat key, parsedBytes high-water mark, entries).
    * `parsedBytes` is the byte offset just past the last COMPLETE
    * line parsed — a torn tail stays unparsed and is retried from
    * the same offset next poll. Entries are LSN-sorted (the format
    * invariant the scan enforces), so lookups binary-search them. */
  private val fileCache = scala.collection.mutable
    .Map.empty[String, ((Long, Long), Long, Vector[(Long, Long)])]

  /** Total bytes this stream has parsed into its driver index —
    * observability hook for the incremental-append contract (an
    * appended shard must cost O(delta), not O(file), per poll). */
  @volatile private[streaming] var indexBytesParsed: Long = 0L

  /** shard name → (path, (lsn, byteStart) entries), consistent
    * within one poll. Per-file cache keyed on (length, mtime); an
    * APPEND (length grew, prefix untouched by the append-only
    * writer) re-parses only the tail past the high-water mark — the
    * live-tail path where a 100 GB shard must not be re-read per
    * trigger. Anything else that changed (shrunk, or same-length
    * different mtime: a rewrite) re-parses from byte 0. Cost per
    * poll: one [[CdcReplaySource.indexShard]] pass over the appended
    * bytes, plus a bounded read of the last entry's LSN head. */
  private def refreshIndex(): Map[String, (String, Vector[(Long, Long)])] =
    synchronized {
      CdcReplaySource.listLogFiles(path).map { f =>
        val file = new java.io.File(f)
        val key = (file.length(), file.lastModified())
        val lsns = fileCache.get(f) match {
          case Some((cached, _, ls)) if cached == key => ls
          case prev =>
            val (parsed, ls) = prev.collect {
              case (cached, parsed, ls) if cached._1 < file.length() &&
                  ls.nonEmpty && lastEntryIntact(f, ls.last) => (parsed, ls)
            }.getOrElse((0L, Vector.empty[(Long, Long)]))
            // the sort invariant is checked across the append boundary
            val (tail, parsedTo) = CdcReplaySource.indexShard(f, parsed,
              ls.lastOption.fold(Long.MinValue)(_._1))
            val all = ls ++ tail
            indexBytesParsed += parsedTo - parsed
            fileCache(f) = (key, parsedTo, all)
            all
        }
        file.getName -> (f, lsns)
      }.toMap
    }

  /** Append-path guard: length growth alone does not prove the
    * prefix is untouched — a line-boundary-aligned truncate-and-
    * rewrite that lands LONGER would otherwise keep stale
    * (lsn, offset) entries pointing into rewritten bytes. Re-read the
    * last cached entry's LSN head (one bounded read, whatever the
    * line's length); a mismatch forces a full re-parse. */
  private def lastEntryIntact(f: String, last: (Long, Long)): Boolean =
    try CdcReplaySource.lsnAt(f, last._2).contains(last._1)
    catch { case _: Exception => false }

  /** Index of the first entry above `lsn` (`ls.size` if none) by
    * binary search: entries ascend in (lsn, offset), and no line
    * starts at byte Long.MaxValue. */
  private def firstAbove(ls: Vector[(Long, Long)], lsn: Long): Int =
    ls.search((lsn, Long.MaxValue)).insertionPoint

  // Trigger.AvailableNow bound: per-shard tails fixed at query start
  private var availableNowEnd: Option[Map[String, Long]] = None

  override def initialOffset(): Offset = initial

  override def prepareForTriggerAvailableNow(): Unit =
    availableNowEnd = Some(refreshIndex().collect {
      case (nm, (_, ls)) if ls.nonEmpty => nm -> ls.last._1
    })

  /** Admission control (the pull-based analogue of the reference's
    * flow control, A12): each micro-batch admits at most
    * maxFramesPerTrigger transactions. */
  override def getDefaultReadLimit: ReadLimit =
    if (maxPerTrigger == Long.MaxValue) ReadLimit.allAvailable()
    else ReadLimit.maxRows(maxPerTrigger)

  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val so = ShardOffsets.from(start)
    val idx = refreshIndex()
    // pending frames in global LSN order (cross-shard fairness under
    // admission control), each bounded below by ITS OWN shard offset
    val pending: Seq[(Long, String)] = idx.toSeq.flatMap {
      case (nm, (_, ls)) =>
        val cap = availableNowEnd
          .map(_.getOrElse(nm, Long.MinValue)).getOrElse(Long.MaxValue)
        ls.slice(firstAbove(ls, so.of(nm)), firstAbove(ls, cap))
          .map { case (l, _) => (l, nm) }
    }.sorted
    val taken = limit match {
      case r: ReadMaxRows =>
        pending.take(math.min(r.maxRows(), Int.MaxValue.toLong).toInt)
      case _ => pending
    }
    if (taken.isEmpty) so
    else ShardOffsets(so.floor, so.shards ++ taken.groupBy(_._2)
      .view.mapValues(_.map(_._1).max).toMap)
  }

  override def reportLatestOffset(): Offset = {
    val idx = refreshIndex()
    ShardOffsets(startingLsn, idx.collect {
      case (nm, (_, ls)) if ls.nonEmpty => nm -> ls.last._1
    })
  }

  override def latestOffset(): Offset = throw new UnsupportedOperationException(
    "admission-control latestOffset(start, limit) is used")

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val s = ShardOffsets.from(start)
    val e = ShardOffsets.from(end)
    val idx = refreshIndex()
    // one partition per shard that ADVANCED in this batch (an entry
    // whose range is empty reads nothing — skip the task)
    e.shards.toSeq.sortBy(_._1)
      .filter { case (nm, hi) => s.of(nm) < hi }
      .flatMap { case (nm, hi) =>
        idx.get(nm).map { case (file, entries) =>
          // seek straight to the first line of the slice — a growing
          // shard must not be rescanned from byte 0 on every trigger
          val lo = s.of(nm)
          val i = firstAbove(entries, lo)
          val startByte =
            if (i < entries.size) entries(i)._2 else new java.io.File(file).length()
          CdcReplayPartition(file, lo, hi, startByte): InputPartition
        }
      }.toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new CdcReplayReaderFactory

  override def deserializeOffset(json: String): Offset =
    ShardOffsets.parse(json)

  /** The standby-status analogue: persist the acked LSN (A9/A10) —
    * the GLOBAL delivered-through position is the minimum across the
    * shards' delivered tails (a lagging shard holds the ack horizon
    * back, exactly like the slowest partition holds a consumer
    * group's committed watermark). */
  override def commit(end: Offset): Unit = {
    val e = ShardOffsets.from(end)
    val acked =
      if (e.shards.isEmpty) e.floor else math.max(e.floor, e.shards.values.min)
    // Per-shard record FIRST: writeAckedOffsets seeds its initial
    // state from the legacy scalar when no per-shard record exists
    // yet, so on a fresh dir the scalar must not land before it (the
    // seed would lift unseen shards' floor to this batch's min). The
    // per-shard record is what a sidecar-based resume needs to floor
    // each shard at its OWN confirmed LSN; the scalar stays the
    // legacy global position (min across delivered shards).
    CdcReplaySource.writeAckedOffsets(path, e)
    CdcReplaySource.writeAckedLsn(path, acked)
  }

  override def stop(): Unit = ()
}

/** (start, end] slice of one log file; the reader seeks to
  * `startByte` (0 = head — the batch path has no driver index). */
case class CdcReplayPartition(file: String, startExclusive: Long,
    endInclusive: Long, startByte: Long = 0L) extends InputPartition

class CdcReplayReaderFactory extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[CdcReplayPartition]
    new PartitionReader[InternalRow] {
      private val source = scala.io.Source.fromInputStream(
        Channels.newInputStream(FileChannel.open(Paths.get(p.file)).position(p.startByte)))
      // log files are LSN-sorted per shard — a FORMAT INVARIANT that
      // both the streaming offsets and the pushed-down batch bounds
      // rely on. Monotonicity is checked on every line this reader
      // consumes (and over whole files in indexShard, which the stream
      // path always runs), so an out-of-order producer fails loudly
      // instead of silently losing rows. The sorted tail past
      // endInclusive terminates the scan early; the LSN is parsed
      // once per line.
      private var lastSeen = Long.MinValue
      private val rows = CdcReplaySource
        .completeLines(p.file, source.getLines())
        .map { l =>
          val lsn = CdcReplaySource.parseLsn(l)
          if (lsn < lastSeen) throw CdcReplaySource.unsorted(p.file, lsn, lastSeen)
          lastSeen = lsn
          (lsn, l)
        }
        .dropWhile(_._1 <= p.startExclusive)
        .takeWhile(_._1 <= p.endInclusive)
      private var current: InternalRow = _

      override def next(): Boolean = {
        if (!rows.hasNext) return false
        val (lsn, line) = rows.next()
        val frames = CdcReplaySource.parseFrames(line)
        current = InternalRow(
          lsn,
          org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(
            frames.toArray))
        true
      }
      override def get(): InternalRow = current
      override def close(): Unit = source.close()
    }
  }
}
