package graft.perfbench

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** The output checks compute the same figure on both sides: in plain
  * Scala over the generator's rows, and in Spark over landed files. */
class ChecksSpec extends AnyFunSuite with BeforeAndAfterAll {
  private lazy val spark = SparkSession.builder().master("local[1]")
    .config("spark.ui.enabled", "false").getOrCreate()

  override def afterAll(): Unit = spark.stop()

  test("CDC fingerprint: Scala and Spark SQL agree") {
    val rows = (1 to 500).map(i => LkeyRow(i * 8L + 1, i * 31L, i % 7L,
      (i % 50 + 1).toDouble, math.round(i * 123.45) / 100.0))
    import spark.implicits._
    val df = rows.map(r => (r.lkey, r.partkey, r.suppkey, r.quantity, r.price))
      .toDF("lkey", "l_partkey", "l_suppkey", "l_quantity", "l_extendedprice")
    assert(Checks.fingerprint(df) == Cdc.fingerprint(rows))
  }

  test("ZLINEITEM sums: the generator's cells and the typed columns agree") {
    val lines = (0 until 300).map { i =>
      LineRow(i / 3, i * 5L, i % 20L, i % 3 + 1, (i % 50 + 1).toDouble, 900.0 + i * 1.5,
        (i % 11) / 100.0, (i % 9) / 100.0, Seq("A", "N", "R")(i % 3), Seq("F", "O")(i % 2),
        9131 + i)
    }
    val t = Zlineitem.build(lines, 1)
    val schema = org.apache.spark.sql.types.StructType(Zlineitem.Fields.map(f =>
      org.apache.spark.sql.types.StructField(f.fieldName,
        graft.types.Ddic.toSpark(f.tpe, f.length, f.decimals))))
    val typed = t.rows.map(cells => org.apache.spark.sql.Row.fromSeq(
      Zlineitem.Fields.zip(cells).map { case (f, c) => f.tpe match {
        case "N" => c.toLong
        case "I" => c.toInt
        case "P" => new java.math.BigDecimal(c)
        case "D" => java.sql.Date.valueOf(java.time.LocalDate.parse(c,
          java.time.format.DateTimeFormatter.BASIC_ISO_DATE))
        case _ => c
      }}))
    val df = spark.createDataFrame(java.util.Arrays.asList(typed: _*), schema)
    assert(Checks.landedSums(df) == Checks.zlineitemSums(t))
  }
}
