package graft.sink

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestBase

/** q06 sink-layout quirks (SURVEY.md §2.3 q06 / R7–R9; reference
  * `pyrfc_read_table.py`): dated `result[-err]/<fmt>/<table>/<ts>/` dirs
  * (`:45-50`), cumulative-rowcount filename (`:120-122`), header-less err
  * rows (`:186,197`), err output only when `err_count > 0` (`:185,196,220`).
  */
class LayoutSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark
  import spark.implicits._

  private val ts = "2024-01-01-00-00-00"

  private def freshRoot(): String =
    Files.createTempDirectory("layout-spec-").toString

  private def good = Seq((1L, "A"), (2L, "B"), (3L, "C")).toDF("k", "v")
  private def err = Seq(("1`A`x", 3), ("2", 1)).toDF("wa", "arity")
  private def emptyErr = err.limit(0)

  test("dated dual layout + cumulative filename, json and parquet") {
    val root = freshRoot()
    val r1 = Layout.writeDual(good, err, root, "json", "ztab", ts)
    assert(r1.goodRows == 3 && r1.errRows == 2 && r1.cumulativeRows == 3)
    // page 2: filename embeds cumulative rows across pages (`:120-122`)
    val r2 = Layout.writeDual(good, err, root, "parquet", "ztab", ts,
      cumulativeBefore = r1.cumulativeRows)
    assert(r2.cumulativeRows == 6)

    assert(Files.exists(Paths.get(s"$root/result/json/ztab/$ts/ztab3.json")))
    // err name carries NO row count — reference `:50` (`<table>-err.<fmt>`)
    assert(Files.exists(
      Paths.get(s"$root/result-err/json/ztab/$ts/ztab-err.json")))
    assert(Files.exists(
      Paths.get(s"$root/result/parquet/ztab/$ts/ztab6.parquet")))
    assert(Files.exists(
      Paths.get(s"$root/result-err/parquet/ztab/$ts/ztab-err.parquet")))
  }

  test("err rows are header-less: integer column names (`:186,197`)") {
    val root = freshRoot()
    Layout.writeDual(good, err, root, "parquet", "ztab", ts)
    val errDf = spark.read
      .parquet(s"$root/result-err/parquet/ztab/$ts")
    assert(errDf.columns.toSeq == Seq("0", "1"))
    assert(errDf.count() == 2)
    // json side: keys are "0","1" too
    Layout.writeDual(good, err, root, "json", "ztab", ts)
    val line = Files.readAllLines(
      Paths.get(s"$root/result-err/json/ztab/$ts/ztab-err.json")).asScala.head
    assert(line.contains("\"0\":") && line.contains("\"1\":"))
  }

  test("err file only created when err_count > 0 (`:185,196,220`)") {
    val root = freshRoot()
    val r = Layout.writeDual(good, emptyErr, root, "json", "ztab", ts)
    assert(r.errPath.isEmpty)
    assert(!Files.exists(Paths.get(s"$root/result-err")))
    assert(Files.exists(Paths.get(s"$root/result/json/ztab/$ts/ztab3.json")))
  }

  test("partitioned good-side write: hive-style dirs under the dated path") {
    val root = freshRoot()
    Layout.writeDual(good, emptyErr, root, "parquet", "ztab", ts,
      singleFile = false, partitionCols = Seq("v"))
    val base = s"$root/result/parquet/ztab/$ts"
    assert(Files.exists(Paths.get(s"$base/v=A")))
    assert(Files.exists(Paths.get(s"$base/v=C")))
    val back = spark.read.parquet(base)
    assert(back.count() == 3)
    assert(back.columns.toSet == Set("k", "v")) // partition col restored
  }

  test("good data roundtrips with schema intact") {
    val root = freshRoot()
    Layout.writeDual(good, err, root, "parquet", "ztab", ts)
    val back = spark.read.parquet(s"$root/result/parquet/ztab/$ts")
    assert(back.columns.toSeq == Seq("k", "v"))
    assert(back.as[(Long, String)].collect().sorted.toSeq ==
      Seq((1L, "A"), (2L, "B"), (3L, "C")))
  }

  test("a file: URI root lands the same one-object-per-page listing as a " +
    "plain path: no _SUCCESS, no .crc") {
    def listing(root: String): Seq[String] = {
      val rootPath = Paths.get(root)
      val walk = Files.walk(rootPath)
      try walk.iterator().asScala.filter(Files.isRegularFile(_))
        .map(p => rootPath.relativize(p).toString).toSeq.sorted
      finally walk.close()
    }
    val want = Seq(
      s"result-err/json/ztab/$ts/ztab-err.json",
      s"result-err/parquet/ztab/$ts/ztab-err.parquet",
      s"result/json/ztab/$ts/ztab3.json",
      s"result/parquet/ztab/$ts/ztab3.parquet")
    val (plain, uri) = (freshRoot(), freshRoot())
    try {
      for (root <- Seq(plain, s"file://$uri"); fmt <- Seq("json", "parquet"))
        Layout.writeDual(good, err, root, fmt, "ztab", ts)
      assert(listing(plain) == want)
      assert(listing(uri) == want)
    } finally Seq(plain, uri).foreach(r =>
      org.apache.hadoop.fs.FileUtil.fullyDelete(new java.io.File(r)))
  }

  test("q06 driver entry lists the written files (smoke)") {
    val df = Layout.q06SinkLayout(spark, graft.SparkTestBase.Sf0001)
    val paths = df.as[String].collect().toSeq
    assert(paths.nonEmpty)
    assert(paths.exists(_.startsWith("result/json/lineitem/")))
    assert(paths.exists(_.startsWith("result-err/parquet/lineitem/")))
  }
}
