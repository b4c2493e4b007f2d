package graft.perfbench

import java.time.LocalDate
import java.time.format.DateTimeFormatter

import scala.collection.immutable.ArraySeq
import scala.collection.mutable

import graft.sources.rfc.MockRfcBackend.MockTable
import graft.sources.rfc.RfcField

/** One `lineitem` row, as the generated input tables hold it. */
final case class LineRow(orderkey: Long, partkey: Long, suppkey: Long,
                         linenumber: Int, quantity: Double,
                         extendedprice: Double, discount: Double, tax: Double,
                         returnflag: String, linestatus: String,
                         shipdateDay: Int)

/** `ZLINEITEM`: `lineitem` served through the mock RFC backend as a SAP
  * table with 11 DDIC-typed fields. The seed picks which WA rows are
  * malformed: each carries a delimiter inside its RETURNFLAG value, so
  * it splits into 12 cells instead of 11 (the reference's malformed-row
  * case). The mock appends malformed rows after the structured ones. */
object Zlineitem {
  val Name = "ZLINEITEM"
  val Delimiter = "`"
  val MalformedShare = 0.01

  val Fields: Seq[RfcField] = Seq(
    RfcField("ORDERKEY", "N", 10), RfcField("PARTKEY", "N", 10),
    RfcField("SUPPKEY", "N", 10), RfcField("LINENUMBER", "I", 10),
    RfcField("QUANTITY", "P", 15, 2), RfcField("EXTENDEDPRICE", "P", 15, 2),
    RfcField("DISCOUNT", "P", 4, 2), RfcField("TAX", "P", 4, 2),
    RfcField("RETURNFLAG", "C", 1), RfcField("LINESTATUS", "C", 1),
    RfcField("SHIPDATE", "D", 8))

  /** The four fields a delta extraction projects. */
  val DeltaFields: Seq[String] =
    Seq("ORDERKEY", "LINENUMBER", "EXTENDEDPRICE", "SHIPDATE")

  private def dec2(v: Double): String =
    java.math.BigDecimal.valueOf(math.round(v * 100), 2).toPlainString

  private def numc(v: Long): String = {
    val s = v.toString
    "0" * (10 - s.length) + s
  }

  /** SAP text cells: zero-padded NUMC, two-decimal packed, YYYYMMDD. */
  def cells(r: LineRow): IndexedSeq[String] = ArraySeq(
    numc(r.orderkey), numc(r.partkey), numc(r.suppkey),
    r.linenumber.toString, dec2(r.quantity), dec2(r.extendedprice),
    dec2(r.discount), dec2(r.tax), r.returnflag, r.linestatus,
    LocalDate.ofEpochDay(r.shipdateDay.toLong)
      .format(DateTimeFormatter.BASIC_ISO_DATE))

  /** `round(n * share)` distinct row indices chosen by `seed`, ascending. */
  def malformedIndices(n: Int, seed: Long,
                       share: Double = MalformedShare): Array[Int] = {
    val k = math.min(n, math.round(n * share).toInt)
    val rng = new scala.util.Random(seed)
    val picked = new mutable.BitSet(n)
    while (picked.size < k) picked += rng.nextInt(n)
    picked.toArray
  }

  def build(rows: IndexedSeq[LineRow], seed: Long,
            share: Double = MalformedShare): MockTable = {
    val bad = malformedIndices(rows.length, seed, share).toSet
    val good = Vector.newBuilder[Seq[String]]
    val raw = Vector.newBuilder[String]
    rows.indices.foreach { i =>
      val c = cells(rows(i))
      if (bad(i)) raw += c.updated(8, c(8) + Delimiter).mkString(Delimiter)
      else good += c
    }
    MockTable(Fields, good.result(), raw.result())
  }

  /** Rows a delta extraction must land: structured rows whose ORDERKEY
    * is at least `from` (malformed rows are dropped in the default mode). */
  def deltaRows(t: MockTable, from: Long): Long =
    t.rows.count(_.head.toLong >= from).toLong
}

/** One row of the CDC table `lkey`. */
final case class LkeyRow(lkey: Long, partkey: Long, suppkey: Long,
                         quantity: Double, price: Double)

/** A CDC change: `U` carries the row's new image, `D` deletes its key. */
final case class Change(row: LkeyRow, op: String, seq: Long)

/** The `cdc_merge` inputs: the `lkey` table's rows and the seeded CDC
  * log applied to it, plus an independent last-writer-wins recompute of
  * the expected final table. */
object Cdc {
  def lkey(orderkey: Long, linenumber: Int): Long = orderkey * 8 + linenumber

  val InsertShare = 0.35
  val DeleteShare = 0.2

  /** `nBatches` batches of `perBatch` changes over the table whose keys
    * are `keys` (ascending): about 35% inserts of new keys above the
    * current maximum; updates and deletes on the most recent 1% of keys
    * and on keys the log inserted; and `corrections` updates scattered
    * over the whole table. `seq` increases across the whole log. */
  def batches(keys: IndexedSeq[Long], seed: Long, nBatches: Int,
              perBatch: Int, corrections: Int): IndexedSeq[IndexedSeq[Change]] = {
    require(keys.nonEmpty, "empty table")
    val rng = new scala.util.Random(seed)
    val hot = mutable.ArrayBuffer.from(keys.takeRight(math.max(1, keys.length / 100)))
    var nextOrder = keys.last / 8 + 1
    var seq = 0L
    def image(k: Long): LkeyRow = {
      val qty = (1 + rng.nextInt(50)).toDouble
      LkeyRow(k, rng.nextInt(200000).toLong, rng.nextInt(10000).toLong, qty,
        math.round(qty * (900 + rng.nextDouble() * 1200) * 100) / 100.0)
    }
    def next(row: LkeyRow, op: String): Change = { seq += 1; Change(row, op, seq) }
    (0 until nBatches).map { b =>
      val nCorr = corrections / nBatches + (if (b < corrections % nBatches) 1 else 0)
      val nIns = math.round(perBatch * InsertShare).toInt
      val out = mutable.ArrayBuffer.empty[Change]
      var inserted = 0
      while (inserted < nIns) {
        val lines = 1 + rng.nextInt(7)
        (1 to math.min(lines, nIns - inserted)).foreach { l =>
          val k = lkey(nextOrder, l)
          out += next(image(k), "U")
          hot += k
          inserted += 1
        }
        nextOrder += 1
      }
      (0 until perBatch - nIns - nCorr).foreach { _ =>
        val k = hot(rng.nextInt(hot.length))
        if (rng.nextDouble() < DeleteShare) out += next(LkeyRow(k, 0, 0, 0, 0), "D")
        else out += next(image(k), "U")
      }
      (0 until nCorr).foreach { _ =>
        out += next(image(keys(rng.nextInt(keys.length))), "U")
      }
      out.toIndexedSeq
    }
  }

  /** Last writer wins, in `seq` order: the table the merge must leave. */
  def replayExpected(pristine: Iterable[LkeyRow],
                     log: Seq[Seq[Change]]): Iterable[LkeyRow] = {
    val m = mutable.LongMap.empty[LkeyRow]
    pristine.foreach(r => m.update(r.lkey, r))
    log.flatten.sortBy(_.seq).foreach { c =>
      if (c.op == "D") m.remove(c.row.lkey) else m.update(c.row.lkey, c.row)
    }
    m.values
  }

  /** Row hash shared with [[Checks.FingerprintSql]]: a bigint formula
    * that cannot overflow, reduced modulo 2^31 - 1. */
  def rowHash(r: LkeyRow): Long = Math.floorMod(
    r.lkey * 1000003L + r.partkey * 7919L + r.suppkey * 104729L +
      math.round(r.quantity * 100) * 31L + math.round(r.price * 100) * 17L,
    2147483647L)

  /** (rows, sum of keys, sum of row hashes): order-independent. */
  def fingerprint(rows: Iterable[LkeyRow]): (Long, Long, Long) =
    rows.foldLeft((0L, 0L, 0L)) { case ((n, k, h), r) =>
      (n + 1, k + r.lkey, h + rowHash(r))
    }
}
