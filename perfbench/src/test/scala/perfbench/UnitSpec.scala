package perfbench

import org.scalatest.funsuite.AnyFunSuite

import graft.cdc.PgoutputParser

class StatsSpec extends AnyFunSuite {
  test("percentiles interpolate between closest ranks") {
    assert(Stats.percentile(Seq(4.0, 1.0, 3.0, 2.0), 50) == 2.5)
    assert(Stats.percentile(Seq(1.0, 2.0, 3.0, 4.0), 0) == 1.0)
    assert(Stats.percentile(Seq(1.0, 2.0, 3.0, 4.0), 100) == 4.0)
    assert(math.abs(Stats.percentile((1 to 100).map(_.toDouble), 99) - 99.01) < 1e-9)
    assert(Stats.median(Seq(7.0)) == 7.0)
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Stats.p(Nil, 99) == 0.0)
  }

  test("covered time is the union of child intervals") {
    assert(Tracer.covered(Seq((0L, 10L), (5L, 15L), (20L, 25L))) == 20L)
    assert(Tracer.covered(Nil) == 0L)
  }
}

class ChecksSpec extends AnyFunSuite {
  private val rows = Seq(Seq("1", "a", "b"), Seq("2", "c", "d"), Seq("3", "e", "f"))
  private val sum = rows.map(Checks.rowCrc).sum

  test("the count-and-checksum check catches a dropped row and a wrong value") {
    assert(Checks.countAndChecksum(3, sum, 3, sum).failed == 0)
    val dropped = rows.take(2).map(Checks.rowCrc).sum
    assert(Checks.countAndChecksum(3, sum, 2, dropped).failed == 1)
    val wrong = Seq(Seq("1", "a", "b"), Seq("2", "c", "X"), Seq("3", "e", "f"))
      .map(Checks.rowCrc).sum
    assert(Checks.countAndChecksum(3, sum, 3, wrong).failed == 1)
    // a duplicated row with a dropped one keeps the count, not the sum
    val dup = Seq(rows(0), rows(0), rows(2)).map(Checks.rowCrc).sum
    assert(Checks.countAndChecksum(3, sum, 3, dup).failed == 1)
  }

  test("the snapshot check catches lost, wrong, resurrected and phantom keys") {
    val t1 = Map("id" -> "1", "v" -> "a")
    val t2 = Map("id" -> "2", "v" -> "b")
    val expected = Map(("t", "1") -> Some(t1), ("t", "2") -> Some(t2),
      ("t", "3") -> None)
    val live = Map(("t", "1") -> t1, ("t", "2") -> t2)
    assert(Checks.snapshot(expected, live) == Checks.Outcome(3, 0))
    assert(Checks.snapshot(expected, live - (("t", "2"))).failed == 1)
    assert(Checks.snapshot(expected,
      live + (("t", "2") -> Map("id" -> "2", "v" -> "WRONG"))).failed == 1)
    assert(Checks.snapshot(expected,
      live + (("t", "3") -> Map("id" -> "3"))).failed == 1)
    assert(Checks.snapshot(expected,
      live + (("t", "9") -> Map("id" -> "9"))).failed == 1)
  }
}

class GeneratorSpec extends AnyFunSuite {
  test("huge-transaction frames decode back to the declared rows") {
    val rows = Fixtures.hugeRows(7L, 50)
    val p = new PgoutputParser()
    val events = Fixtures.hugeTxFrames(0x100L, rows).map(p.parse)
    assert(events.head.tag == "begin" && events.last.tag == "commit")
    val updates = events.filter(_.tag == "update")
    assert(updates.size == 50)
    updates.zip(rows).foreach { case (e, r) =>
      assert(e.table == "huge_transaction")
      assert(Fixtures.HugeRel.columns.map(c => e.after(c.name)) == r)
    }
    assert(rows.forall(_.tail.forall(_.matches("[0-9a-f]{32}"))))
  }

  test("small transactions decode back to the generator's final state") {
    val gen = new SmallTxGen(11L, usersKeys = 20, contentsKeys = 30)
    val p = new PgoutputParser()
    val state = scala.collection.mutable.HashMap.empty[(String, String),
      Option[Map[String, String]]]
    (1 to 300).foreach { i =>
      val tx = gen.next(1700000000000000L + i, closeWithKeepalive = true)
      assert(tx.rows >= 1 && tx.rows <= 5)
      val dml = tx.frames.map(p.parse).filter(e =>
        Set("insert", "update", "delete")(e.tag))
      assert(dml.size == tx.rows)
      dml.foreach { e =>
        if (e.tag == "delete") {
          assert(e.key.keySet == Set("id"))
          state((e.table, e.key("id"))) = None
        } else state((e.table, e.after("id"))) = Some(e.after)
      }
    }
    assert(state.toMap == gen.state.toMap)
    assert(gen.state.values.exists(_.isEmpty), "the mix includes deletes")
  }

  test("the generator's wire bytes reach the socket client as sent") {
    val dir = java.nio.file.Files.createTempDirectory("perfbench-gen").toFile
    val gen = new WalGen
    val gtx = new SmallTxGen(3L)
    val txs = (1 to 5).map(i => gtx.next(i.toLong, closeWithKeepalive = true))
    var got: Seq[(Long, Seq[Array[Byte]])] = Nil
    val client = new Thread(() => {
      got = new graft.cdc.WalSocketClient("127.0.0.1", gen.port,
        new graft.cdc.PgoutputFormat(), "s", dir.getPath, shard = 0).run().txs
    })
    client.start()
    gen.accept()
    gen.send(txs, _ => 0L, paced = true)
    gen.awaitAck(txs.last.lsn)
    gen.close()
    client.join(30000)
    assert(got.map(_._1) == txs.map(_.lsn))
    got.zip(txs).foreach { case ((_, fs), tx) =>
      // the client prepends relations a transaction references but
      // did not announce itself, so each logged line decodes alone
      assert(fs.takeRight(tx.frames.size).map(_.toSeq) == tx.frames.map(_.toSeq))
    }
    assert(gen.ackLagsMs.size == 5)
  }
}
