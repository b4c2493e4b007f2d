package graft.perfbench

import org.scalatest.funsuite.AnyFunSuite

class InputsSpec extends AnyFunSuite {

  private val lines: IndexedSeq[LineRow] = (0 until 2000).map { i =>
    LineRow(i / 4, (i * 7) % 500, (i * 13) % 50, i % 4 + 1, (i % 50 + 1).toDouble,
      1000.0 + i * 0.25, (i % 11) / 100.0, (i % 9) / 100.0,
      Seq("A", "N", "R")(i % 3), Seq("F", "O")(i % 2), 9131 + i % 2400)
  }

  test("ZLINEITEM is the same for one seed and differs for another") {
    val a = Zlineitem.build(lines, 7)
    assert(a == Zlineitem.build(lines, 7))
    assert(a.rawWa != Zlineitem.build(lines, 8).rawWa)
  }

  test("ZLINEITEM makes 1% of its WA rows malformed, one cell too many") {
    val t = Zlineitem.build(lines, 7)
    assert(t.rawWa.size == 20)
    assert(t.rows.size == 1980)
    assert(t.rows.forall(_.size == Zlineitem.Fields.size))
    assert(t.rawWa.forall(_.split("`", -1).length == Zlineitem.Fields.size + 1))
    assert(Zlineitem.cells(lines(0)) == Seq("0000000000", "0000000000", "0000000000",
      "1", "1.00", "1000.00", "0.00", "0.00", "A", "F", "19950101"))
  }

  test("a delta's expected rows follow the ORDERKEY predicate") {
    val t = Zlineitem.build(lines, 7)
    val bad = Zlineitem.malformedIndices(lines.size, 7).toSet
    val want = lines.indices.count(i => !bad(i) && lines(i).orderkey >= 495)
    assert(Zlineitem.deltaRows(t, 495) == want)
  }

  private val keys = (1L to 5000L).map(k => Cdc.lkey(k, 1))

  test("the CDC log is the same for one seed and differs for another") {
    val a = Cdc.batches(keys, 3, 4, 200, 8)
    assert(a == Cdc.batches(keys, 3, 4, 200, 8))
    assert(a != Cdc.batches(keys, 4, 4, 200, 8))
  }

  test("the CDC log's shape: sizes, inserts, seq order, scattered corrections") {
    val log = Cdc.batches(keys, 3, 4, 200, 8)
    assert(log.map(_.size) == Seq(200, 200, 200, 200))
    val all = log.flatten
    assert(all.map(_.seq) == (1L to 800L))
    val inserts = all.count(_.row.lkey > keys.last)
    assert(inserts >= 4 * 70)
    // everything else lands on the most recent 1% of keys, except the
    // scattered corrections
    val recent = keys.takeRight(keys.size / 100).toSet
    val old = all.filter(c => c.row.lkey <= keys.last && !recent(c.row.lkey))
    assert(old.size <= 8)
  }

  test("last writer wins in seq order") {
    val base = Seq(LkeyRow(1, 1, 1, 1, 1), LkeyRow(2, 2, 2, 2, 2))
    val log = Seq(
      Seq(Change(LkeyRow(2, 9, 9, 9, 9), "U", 1), Change(LkeyRow(3, 3, 3, 3, 3), "U", 2)),
      Seq(Change(LkeyRow(1, 0, 0, 0, 0), "D", 3), Change(LkeyRow(3, 4, 4, 4, 4), "U", 4)))
    assert(Cdc.replayExpected(base, log).toSet ==
      Set(LkeyRow(2, 9, 9, 9, 9), LkeyRow(3, 4, 4, 4, 4)))
  }
}
