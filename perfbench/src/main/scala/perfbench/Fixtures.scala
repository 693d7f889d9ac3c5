package perfbench

import java.util.SplittableRandom

import graft.cdc.{ColumnInfo, PgoutputWriter, RelationInfo}

/** The reference's test tables (bigint identity keys, replica identity
  * `default`) and seeded generators of their changes as pgoutput. */
object Fixtures {
  private def col(name: String, key: Boolean, oid: Int, typmod: Int = -1) =
    ColumnInfo(name, if (key) 1 else 0, oid, typmod, null, null)

  val HugeRel: RelationInfo = RelationInfo(16401, "public", "huge_transaction",
    "default", col("id", key = true, 20) +:
      (1 to 20).map(i => col(s"column$i", key = false, 25)))

  val UsersRel: RelationInfo = RelationInfo(16384, "public", "users", "default",
    Seq(col("id", key = true, 20), col("firstname", key = false, 25),
      col("lastname", key = false, 25), col("email", key = false, 1043, 1004),
      col("phone", key = false, 1043, 1004), col("deleted", key = false, 16),
      col("created", key = false, 1184)))

  val ContentsRel: RelationInfo = RelationInfo(16390, "public", "user_contents",
    "default", Seq(col("id", key = true, 20), col("user_id", key = false, 20),
      col("title", key = false, 25), col("body", key = false, 25),
      col("deleted", key = false, 16), col("created", key = false, 1184)))

  private val Hex = "0123456789abcdef".toCharArray

  /** 32 lowercase hex digits: the shape of an `md5()` column value. */
  def md5Like(r: SplittableRandom): String = {
    val c = new Array[Char](32)
    var a = r.nextLong(); var b = r.nextLong(); var i = 0
    while (i < 16) { c(i) = Hex((a & 15).toInt); a >>>= 4; i += 1 }
    while (i < 32) { c(i) = Hex((b & 15).toInt); b >>>= 4; i += 1 }
    new String(c)
  }

  /** The huge transaction's rows: id plus 20 md5-shaped texts. */
  def hugeRows(seed: Long, n: Int): IndexedSeq[IndexedSeq[String]] = {
    val r = new SplittableRandom(seed)
    (1 to n).map(id => id.toString +: (1 to 20).map(_ => md5Like(r)))
  }

  /** `UPDATE huge_transaction SET ...` over every row, as one
    * transaction: Begin, Relation, one Update per row, Commit. */
  def hugeTxFrames(lsn: Long, rows: IndexedSeq[IndexedSeq[String]])
      : IndexedSeq[Array[Byte]] =
    (PgoutputWriter.begin(lsn, GenTx.ServerMicros, 1000L) +:
      PgoutputWriter.relation(HugeRel) +:
      rows.map(v => PgoutputWriter.update(HugeRel.relationOid, 'N', Nil, v))) :+
      PgoutputWriter.commit(lsn, lsn + 1, GenTx.ServerMicros)

  /** PostgreSQL's text form of a timestamptz at UTC, microseconds. */
  def timestamptz(unixMicros: Long): String = {
    val i = java.time.Instant.ofEpochSecond(
      Math.floorDiv(unixMicros, 1000000L), Math.floorMod(unixMicros, 1000000L) * 1000L)
    val t = java.time.LocalDateTime.ofInstant(i, java.time.ZoneOffset.UTC)
    f"${t.getYear}%04d-${t.getMonthValue}%02d-${t.getDayOfMonth}%02d " +
      f"${t.getHour}%02d:${t.getMinute}%02d:${t.getSecond}%02d." +
      f"${Math.floorMod(unixMicros, 1000000L)}%06d+00"
  }

  type Key = (String, String)
  private[perfbench] val Words = Vector("alpha", "bravo", "delta", "echo", "gamma",
    "kilo", "lima", "oscar", "sierra", "tango", "victor", "zulu")
}

/** Seeded small-transaction mix over `users` / `user_contents`: 1-5
  * rows on distinct keys per transaction; insert when the key is absent, else update
  * (3 in 4) or key-only delete. Keys come from a bounded, skewed key
  * space (id = 1 + floor(K * u^2)), so the live state stays bounded
  * and hot keys see most of the changes. Tracks the final state every
  * key must have in the snapshot. */
final class SmallTxGen(seed: Long, usersKeys: Int = 1000,
    contentsKeys: Int = 2000) {
  import Fixtures._

  private val r = new SplittableRandom(seed)
  private var nextLsn = 0x10000000L
  private var xid = 5000L
  // a walsender announces each relation once per session
  private val announced = scala.collection.mutable.HashSet.empty[Int]
  val state = scala.collection.mutable.HashMap.empty[Key, Option[Map[String, String]]]

  private def skewed(k: Int): Long = 1L + (k * { val u = r.nextDouble(); u * u }).toLong

  private def word(): String = Fixtures.Words(r.nextInt(Fixtures.Words.size))

  private def values(rel: RelationInfo, id: Long, created: String): Seq[String] =
    if (rel eq UsersRel) Seq(id.toString, word(), word(),
      s"${word()}.$id@example.com", f"+1-555-${r.nextInt(10000)}%04d",
      r.nextBoolean().toString.take(1), created)
    else Seq(id.toString, skewed(usersKeys).toString,
      s"${word()} ${word()}", Seq.fill(1 + r.nextInt(12))(word()).mkString(" "),
      (r.nextInt(10) == 0).toString.take(1), created)

  /** Next transaction, stamped with `createdMicros` (its due time);
    * `rows` fixes its size, else it is drawn from 1-5. */
  def next(createdMicros: Long, closeWithKeepalive: Boolean,
      rows: Int = 0): GenTx = {
    val lsn = nextLsn
    nextLsn += 0x1000L
    xid += 1
    val created = timestamptz(createdMicros)
    val nrows = if (rows > 0) rows else 1 + r.nextInt(5)
    val touched = scala.collection.mutable.LinkedHashSet.empty[RelationInfo]
    val keys = scala.collection.mutable.HashSet.empty[Key]
    val changes = (1 to nrows).map { _ =>
      var rel: RelationInfo = null
      var id = 0L
      var key: Key = null
      // distinct keys within a transaction: its changes share one LSN,
      // and the snapshot sink orders changes by LSN only
      while (key == null || keys(key)) {
        rel = if (r.nextInt(3) == 0) UsersRel else ContentsRel
        id = skewed(if (rel eq UsersRel) usersKeys else contentsKeys)
        key = (rel.name, id.toString)
      }
      keys += key
      touched += rel
      val live = state.get(key).exists(_.isDefined)
      if (!live || r.nextInt(4) != 0) {
        val v = values(rel, id, created)
        state(key) = Some(rel.columns.map(_.name).zip(v).toMap)
        if (live) PgoutputWriter.update(rel.relationOid, 'N', Nil, v)
        else PgoutputWriter.insert(rel.relationOid, v)
      } else {
        state(key) = None
        PgoutputWriter.delete(rel.relationOid, 'K',
          id.toString +: Seq.fill(rel.columns.size - 1)(null))
      }
    }
    val frames = (PgoutputWriter.begin(lsn, createdMicros, xid) +:
      touched.toIndexedSeq.filter(r => announced.add(r.relationOid))
        .map(PgoutputWriter.relation)) ++ changes :+
      PgoutputWriter.commit(lsn, lsn + 1, createdMicros)
    GenTx(lsn, frames, nrows, closeWithKeepalive)
  }
}
