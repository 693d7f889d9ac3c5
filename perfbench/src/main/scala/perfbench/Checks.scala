package perfbench

import java.nio.charset.StandardCharsets
import java.util.zip.CRC32

/** Output checks. Every check returns how many items it attempted and
  * how many failed; the workload adds them into `attempted`/`failed`,
  * so `error_ratio` = failed / attempted. */
object Checks {

  /** Order-independent row checksum: the sum of CRC32 over the row's
    * text values joined by '|'. The Spark side computes the same
    * value with `sum(crc32(concat_ws('|', ...)))`. */
  def rowCrc(values: Seq[String]): Long = {
    val c = new CRC32()
    c.update(values.mkString("|").getBytes(StandardCharsets.UTF_8))
    c.getValue
  }

  final case class Outcome(attempted: Long, failed: Long) {
    def +(o: Outcome): Outcome =
      Outcome(attempted + o.attempted, failed + o.failed)
  }

  /** A counted, checksummed sink against the generator's declaration:
    * every expected row is one attempt; a count or checksum mismatch
    * fails the rows it cannot account for (at least one). */
  def countAndChecksum(expectedRows: Long, expectedSum: Long,
      gotRows: Long, gotSum: Long): Outcome = {
    val failed =
      if (gotRows == expectedRows && gotSum == expectedSum) 0L
      else math.max(1L, math.abs(expectedRows - gotRows))
    Outcome(expectedRows, failed)
  }

  /** Final snapshot against the generator's final state, key by key.
    * `expected` maps (table, key) to the live tuple, or None when the
    * key's last change was a delete; `live` holds the snapshot's live
    * (non-tombstone) rows. A key fails when it is missing, carries a
    * different tuple, or is live although deleted; a live key the
    * generator never wrote fails too. Replays are invisible here by
    * construction: the snapshot is latest-by-key. */
  def snapshot(expected: Map[(String, String), Option[Map[String, String]]],
      live: Map[(String, String), Map[String, String]]): Outcome = {
    val wrong = expected.count {
      case (k, Some(t)) => !live.get(k).contains(t)
      case (k, None) => live.contains(k)
    }
    val phantom = live.keysIterator.count(k => !expected.contains(k))
    Outcome(expected.size.toLong, (wrong + phantom).toLong)
  }
}
