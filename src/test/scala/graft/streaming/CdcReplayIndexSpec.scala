package graft.streaming

import org.apache.spark.sql.connector.read.streaming.ReadLimit
import org.scalatest.funsuite.AnyFunSuite

/** The driver index's incremental-append contract: a growing shard
  * costs O(appended bytes) per poll, not O(file) — the live-tail
  * property that keeps a 100 GB shard's offset polls cheap. Torn
  * tails are retried from the same high-water mark; rewrites
  * (shrink, or same-length mtime change) fall back to a full
  * re-parse. */
class CdcReplayIndexSpec extends AnyFunSuite {

  private def tmpDir(): String =
    java.nio.file.Files.createTempDirectory("replay-index").toString

  private def frame(i: Int): Seq[Array[Byte]] =
    Seq(Array.fill[Byte](32)(i.toByte))

  private def poll(s: CdcReplayStream): ShardOffsets =
    ShardOffsets.from(
      s.latestOffset(s.initialOffset(), ReadLimit.allAvailable()))

  test("appends parse only the tail; torn tails retry; rewrites " +
      "re-parse fully") {
    val dir = tmpDir()
    CdcReplaySource.writeLogShard(dir, 0,
      (1 to 200).map(i => (i * 10L, frame(i % 120))))
    val f = new java.io.File(dir, "part-0.jsonl")
    val fullLen = f.length()

    val stream = new CdcReplayStream(dir,
      ShardOffsets(0L, Map.empty), Long.MaxValue)
    assert(poll(stream).of("part-0.jsonl") == 2000L)
    val afterFirst = stream.indexBytesParsed
    assert(afterFirst == fullLen, "first poll parses the whole shard")

    // append one transaction -> only its bytes are parsed
    val w = new java.io.PrintWriter(new java.io.FileWriter(f, true))
    w.println("""{"lsn":2010,"frames":["2a2b"]}""")
    w.close()
    assert(poll(stream).of("part-0.jsonl") == 2010L,
      "the appended transaction must be visible")
    val delta = stream.indexBytesParsed - afterFirst
    assert(delta == f.length() - fullLen,
      s"append must cost O(delta) bytes, parsed $delta")

    // torn tail: unfinished line is invisible and retried in place
    val lenBeforeTorn = f.length()
    val parsedBeforeTorn = stream.indexBytesParsed
    val w2 = new java.io.PrintWriter(new java.io.FileWriter(f, true))
    w2.print("""{"lsn":2020,"frames":["2c""") // no terminator
    w2.close()
    assert(poll(stream).of("part-0.jsonl") == 2010L,
      "a torn tail must not deliver")
    assert(stream.indexBytesParsed == parsedBeforeTorn,
      "nothing complete to parse past the high-water mark")
    // the writer finishes the line -> exactly the torn tx parses
    val w3 = new java.io.PrintWriter(new java.io.FileWriter(f, true))
    w3.println("""2d"]}""")
    w3.close()
    assert(poll(stream).of("part-0.jsonl") == 2020L)
    assert(stream.indexBytesParsed - parsedBeforeTorn ==
      f.length() - lenBeforeTorn)

    // rewrite (shrink): full re-parse of the rewritten file
    CdcReplaySource.writeLogShard(dir, 0,
      (1 to 3).map(i => (i * 10L, frame(i))))
    val parsedBeforeRewrite = stream.indexBytesParsed
    assert(poll(stream).of("part-0.jsonl") == 30L)
    assert(stream.indexBytesParsed - parsedBeforeRewrite == f.length())
  }

  test("an appended out-of-order LSN fails loudly at the boundary") {
    val dir = tmpDir()
    CdcReplaySource.writeLogShard(dir, 0, Seq((100L, frame(1))))
    val stream = new CdcReplayStream(dir,
      ShardOffsets(0L, Map.empty), Long.MaxValue)
    assert(poll(stream).of("part-0.jsonl") == 100L)
    val f = new java.io.File(dir, "part-0.jsonl")
    val w = new java.io.PrintWriter(new java.io.FileWriter(f, true))
    w.println("""{"lsn":50,"frames":[]}""") // regresses
    w.close()
    val e = intercept[IllegalStateException] { poll(stream) }
    assert(e.getMessage.contains("LSN order"))
  }

  private def append(f: java.io.File, text: String): Unit = {
    val out = new java.io.FileOutputStream(f, true)
    try out.write(text.getBytes("US-ASCII")) finally out.close()
  }

  /** One line of about `mb` MB of hex, newline-terminated. */
  private def bigLine(lsn: Long, mb: Int): String =
    CdcReplaySource.formatLine(lsn, Seq(Array.fill[Byte](mb << 19)(7))) + "\n"

  test("a complete line's late newline closes it; it is not an empty " +
      "line before the next transaction") {
    val dir = tmpDir()
    CdcReplaySource.writeLogShard(dir, 0, Seq((10L, frame(1)), (20L, frame(2))))
    val f = new java.io.File(dir, "part-0.jsonl")
    // the writer flushed the line's bytes, but not yet its newline
    append(f, CdcReplaySource.formatLine(25L, frame(3)))
    val stream = new CdcReplayStream(dir,
      ShardOffsets(0L, Map.empty), Long.MaxValue)
    assert(poll(stream).of("part-0.jsonl") == 25L)
    assert(stream.indexBytesParsed == f.length(), "mark clamped to EOF")
    append(f, "\n" + CdcReplaySource.formatLine(30L, frame(4)) + "\n")
    assert(poll(stream).of("part-0.jsonl") == 30L)
    assert(stream.indexBytesParsed == f.length())
    // every LSN indexed exactly once: 4 admitted entries reach 30, 3 reach 25
    def upTo(n: Int) = ShardOffsets.from(stream.latestOffset(
      stream.initialOffset(), ReadLimit.maxRows(n))).of("part-0.jsonl")
    assert(upTo(3) == 25L)
    assert(upTo(4) == 30L)
  }

  test("a multi-MB line costs exactly its bytes, first and appended") {
    val dir = tmpDir()
    val f = new java.io.File(dir, "part-0.jsonl")
    append(f, bigLine(100L, 3))
    val stream = new CdcReplayStream(dir,
      ShardOffsets(0L, Map.empty), Long.MaxValue)
    assert(poll(stream).of("part-0.jsonl") == 100L)
    assert(stream.indexBytesParsed == f.length())
    val (parsedBefore, lenBefore) = (stream.indexBytesParsed, f.length())
    append(f, bigLine(200L, 3))
    assert(poll(stream).of("part-0.jsonl") == 200L)
    assert(stream.indexBytesParsed - parsedBefore == f.length() - lenBefore)
  }

  test("a complete final line without its newline is delivered, mark " +
      "clamped to EOF") {
    val dir = tmpDir()
    val f = new java.io.File(dir, "part-0.jsonl")
    val line = bigLine(100L, 2)
    append(f, line.dropRight(1))
    val stream = new CdcReplayStream(dir,
      ShardOffsets(0L, Map.empty), Long.MaxValue)
    assert(poll(stream).of("part-0.jsonl") == 100L)
    assert(stream.indexBytesParsed == f.length())
  }

  test("an out-of-order LSN appended after a multi-MB line fails loudly") {
    val dir = tmpDir()
    val f = new java.io.File(dir, "part-0.jsonl")
    append(f, bigLine(100L, 3))
    val stream = new CdcReplayStream(dir,
      ShardOffsets(0L, Map.empty), Long.MaxValue)
    assert(poll(stream).of("part-0.jsonl") == 100L)
    append(f, "{\"lsn\":50,\"frames\":[]}\n")
    val e = intercept[IllegalStateException] { poll(stream) }
    assert(e.getMessage.contains("LSN order"))
  }

  test("a line's shape tail and LSN head may straddle read blocks") {
    val dir = tmpDir()
    val f = new java.io.File(dir, "part-0.jsonl")
    val block = 1 << 16
    // line 1's "]}" spans the first block boundary; line 2 ends so
    // that line 3's `{"lsn":` spans the second
    def sized(lsn: Long, len: Int): String = {
      val base = CdcReplaySource.formatLine(lsn, Seq(Array.emptyByteArray)).length
      val l = CdcReplaySource.formatLine(lsn, Seq(Array.fill[Byte]((len - base) / 2)(9)))
      assert(l.length == len, s"line of $len bytes")
      l + "\n"
    }
    val l1 = sized(1L, block + 1)
    val l2 = sized(20L, 2 * block - 3 - l1.length - 1)
    append(f, l1 + l2 + "{\"lsn\":30,\"frames\":[]}\n")
    assert(CdcReplaySource.indexShard(f.getPath, 0L, Long.MinValue) ==
      ((Vector((1L, 0L), (20L, l1.length.toLong),
        (30L, (l1 + l2).length.toLong)), f.length())))
  }
}
