package graft.perfbench

import java.nio.file.{Files, Path, StandardCopyOption}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.perfbench.Bus
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._

import graft.sink.{ClusteredWrite, Layout}
import graft.sources.rfc.MockRfcBackend
import graft.streaming.MergeStream

/** One workload: a fixture built in a fresh session (repeated
  * [[Workload.SetupReps]] times for `setup_s`), an untimed warm-up, passes timed
  * until `--seconds` have elapsed, then output checks. */
abstract class Workload(val a: Args) {
  protected var spark: SparkSession = _
  protected val counter = new JobCounter
  protected def sc = spark.sparkContext

  /** Builds the inputs in the current session. */
  protected def fixture(): Unit
  protected def warmup(out: Outcome): Unit
  /** One timed pass: its wall seconds and its per-operation samples. */
  protected def pass(i: Int, out: Outcome): (Double, Seq[Double])
  protected def check(out: Outcome): Unit
  protected def layerContext(passes: Int, wallS: Double): Layers.Context

  def finish(): Unit = spark.stop()

  def run(trace: Option[Trace]): Outcome = {
    val out = new Outcome
    val setups = (1 to Workload.SetupReps).map { _ =>
      if (spark != null) spark.stop()
      val t0 = System.nanoTime()
      spark = Main.session(a.cores)
      Tag(sc, "setup", "setup")(fixture())
      (System.nanoTime() - t0) / 1e9
    }
    sc.addSparkListener(counter)
    trace.foreach(t => sc.addSparkListener(new Tracer(t)))
    val (_, warmS) = Trace.timed("op", "warmup", "warmup", "warmup")(warmup(out))

    val passS = ArrayBuffer.empty[Double]
    val opS = ArrayBuffer.empty[Double]
    val passWall = ArrayBuffer.empty[Double]
    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    // start another pass only while a typical one still fits in --seconds
    while (passWall.isEmpty || elapsed + Stats.median(passWall.toSeq) <= a.seconds) {
      val c0 = elapsed
      val (p, ops) = pass(passWall.size, out)
      passWall += elapsed - c0
      System.err.println(f"[perfbench] pass ${passWall.size - 1}: $p%.3f s, ops " +
        ops.map(o => f"$o%.3f").mkString(","))
      if (!p.isNaN) passS += p
      opS ++= ops
    }
    val wallS = (System.nanoTime() - t0) / 1e9
    Bus.drain(sc)
    val heap = Main.retainedHeapMb()
    val (_, checkS) = Trace.timed("op", "check", "check", "check") {
      Tag(sc, "check", "check")(check(out))
    }
    System.err.println(f"[perfbench] setup ${setups.map(s => f"$s%.2f").mkString(",")} s, " +
      f"warm-up $warmS%.2f s, ${passWall.size} passes in $wallS%.2f s, check $checkS%.2f s")

    def stat(xs: Seq[Double])(f: Seq[Double] => Double) =
      if (xs.isEmpty) Double.NaN else f(xs)
    out.e2e ++= Workload.EndToEnd.zip(Seq(
      Stats.median(setups) + warmS,
      stat(passS.toSeq)(Stats.quantile(_, 0.5)),
      stat(opS.toSeq)(Stats.quantile(_, 0.5)),
      stat(opS.toSeq)(Stats.quantile(_, 0.75)),
      heap))
    trace.foreach { t =>
      Bus.drain(sc)
      out.layers ++= Layers.derive(t.spans, layerContext(passWall.size, wallS))
      out.layers += "trace.spans" -> t.spans.size.toDouble
      out.layers += "op.samples" -> opS.size.toDouble
    }
    out
  }

  /** Regular files under `dir`: (count, bytes). */
  protected def filesUnder(dir: Path): (Int, Long) = {
    if (!Files.exists(dir)) return (0, 0L)
    val w = Files.walk(dir)
    try {
      val fs = w.iterator().asScala.filter(Files.isRegularFile(_)).toSeq
      (fs.size, fs.map(Files.size).sum)
    } finally w.close()
  }

  protected def deleteTree(dir: Path): Unit = if (Files.exists(dir)) {
    val w = Files.walk(dir)
    try w.iterator().asScala.toSeq.reverse.foreach(Files.delete) finally w.close()
  }
}

object Workload {
  /** Set-ups per run; `setup_s` reports their median. */
  val SetupReps = 3

  /** The end-to-end metrics a run measures, in [[Workload.run]]'s order;
    * run.py adds `ops_ok_share`. */
  val EndToEnd: Seq[String] =
    Seq("setup_s", "pass_s", "op_p50_s", "op_p75_s", "retained_heap_mb")
}

/** `extract`: full extractions through `ExtractJob.main` (PERMISSIVE,
  * 100,000-row pages, parquet) alternating with delta extractions in the
  * default mode (an ORDERKEY filter pushed into OPTIONS, 4 projected
  * fields) landed through `Layout.writeDual`. A pass is one full
  * extraction followed by [[DeltasPerPass]] deltas; `pass_s` is the full
  * extraction's wall time and `op_*` the deltas'. */
final class ExtractWorkload(a: Args) extends Workload(a) {
  /** Untimed full-and-delta cycles before timing: the first few run
    * while the JIT still compiles the extraction path. */
  val WarmPasses = 3
  val DeltasPerPass = 2
  private val backend =
    if (a.trace) classOf[TracingRfcBackend].getName else classOf[MockRfcBackend].getName
  private val land = a.work.resolve("land")
  private var table: MockRfcBackend.MockTable = _
  private var deltaFrom = 0L
  private val fulls = ArrayBuffer.empty[Path]
  private val deltas = ArrayBuffer.empty[Path]
  private var landedFiles = 0L
  private var landedBytes = 0L

  override protected def fixture(): Unit = {
    val rows = Fixtures.lineitem(spark, a.data)
    table = Zlineitem.build(rows, a.seed)
    MockRfcBackend.register(Zlineitem.Name, table)
    // the top ~1% of order keys
    deltaFrom = (rows.iterator.map(_.orderkey).max + 1) * 99 / 100
  }

  private def full(op: String, phase: String): Path = {
    val root = land.resolve(op)
    Tag(sc, op, phase) {
      graft.ExtractJob.main(Array(Zlineitem.Name, root.toString, "parquet", backend, "100000"))
    }
    root
  }

  private def delta(op: String, phase: String): Path = {
    val root = land.resolve(op)
    Tag(sc, op, phase) {
      val df = spark.read.format("sap-rfc").option("table", Zlineitem.Name)
        .option("backend", backend).option("pageSize", "100000").load()
      val good = df.filter(col("ORDERKEY") >= deltaFrom)
        .select(Zlineitem.DeltaFields.map(col): _*)
      // the default mode drops malformed rows in the source: no err side
      val err = spark.createDataFrame(java.util.List.of[Row](),
        StructType(Seq(StructField("wa", StringType))))
      Trace.timed("write_dual", op, op, phase) {
        Layout.writeDual(good, err, root.toString, "parquet", Zlineitem.Name, "delta")
      }
    }
    root
  }

  override protected def warmup(out: Outcome): Unit = {
    (1 to WarmPasses).foreach { i =>
      out.attempt("warmup full")(full(s"warmup-full-$i", "warmup"))
      (1 to DeltasPerPass).foreach { j =>
        out.attempt("warmup delta")(delta(s"warmup-delta-$i-$j", "warmup"))
      }
    }
    deleteTree(land)
  }

  private def landed(root: Path): Unit = {
    val (n, b) = filesUnder(root)
    landedFiles += n
    landedBytes += b
  }

  override protected def pass(i: Int, out: Outcome): (Double, Seq[Double]) = {
    val op = s"full-$i"
    val fullS = out.attempt(op) {
      val (root, s) = Trace.timed("op", op, op, "extract")(full(op, "extract"))
      fulls += root
      landed(root)
      s
    }
    val deltaS = (1 to DeltasPerPass).flatMap { j =>
      val dop = s"delta-$i-$j"
      out.attempt(dop) {
        val (root, s) = Trace.timed("op", dop, dop, "write_dual")(delta(dop, "write_dual"))
        deltas += root
        s
      }
    }
    (fullS.getOrElse(Double.NaN), deltaS)
  }

  override protected def check(out: Outcome): Unit = {
    // Layout's dated directory: result[-err]/parquet/ZLINEITEM/<ts>/,
    // one file each; every landed output is checked, one job per side
    def file(root: Path, kind: String): String = {
      val w = Files.walk(root.resolve(s"$kind/parquet/${Zlineitem.Name}"))
      try w.iterator().asScala.filter(_.toString.endsWith(".parquet")).toSeq match {
        case Seq(f) => f.toUri.toString
        case other => sys.error(s"expected one landed file under $root/$kind, got $other")
      } finally w.close()
    }
    def perFile(roots: Seq[Path], kind: String)(aggs: Seq[Column]): Map[String, Row] =
      if (roots.isEmpty) Map.empty
      else spark.read.parquet(roots.map(file(_, kind)): _*)
        .groupBy(input_file_name().as("f")).agg(aggs.head, aggs.tail: _*)
        .collect().map(r => r.getString(0) -> r).toMap
    def each(roots: Seq[Path], kind: String)(aggs: Seq[Column])(ok: (Path, Row) => Unit): Unit =
      out.attempt(s"check $kind") {
        val got = perFile(roots, kind)(aggs)
        roots.foreach { root =>
          got.get(file(root, kind)) match {
            case Some(r) => ok(root, r)
            case None => out.fail(s"$root: nothing landed on the $kind side")
          }
        }
      }

    val expected = Checks.zlineitemSums(table)
    each(fulls.toSeq, "result")(Checks.landedAggs) { (root, r) =>
      val got = Checks.landedSums(r)
      if (got != expected) out.fail(s"$root: good side $got != $expected")
    }
    val expectedErr = (table.rawWa.size.toLong, Checks.crcSum(table.rawWa))
    each(fulls.toSeq, "result-err")(Seq(count(lit(1)), sum(crc32(col("0").cast("binary"))))) {
      (root, r) =>
        val got = (r.getLong(1), r.getLong(2))
        if (got != expectedErr) out.fail(s"$root: err side $got != $expectedErr")
    }
    val expectedDelta = Zlineitem.deltaRows(table, deltaFrom)
    each(deltas.toSeq, "result")(Seq(count(lit(1)))) { (root, r) =>
      if (r.getLong(1) != expectedDelta)
        out.fail(s"$root: delta landed ${r.getLong(1)} rows, expected $expectedDelta")
    }
    deleteTree(land)
  }

  override protected def layerContext(passes: Int, wallS: Double): Layers.Context =
    Layers.Context(passes, wallS, a.cores,
      fullRowsLanded = fulls.size.toDouble * (table.rows.size + table.rawWa.size),
      filesWritten = landedFiles.toDouble, bytesLanded = landedBytes.toDouble)
}

/** `query_mix`: one pass runs every query of `--queries` in the seed's
  * order, each into the noop sink. `pass_s` is a pass's wall
  * time and `op_*` the per-query latencies (build + action). */
final class QueryMixWorkload(a: Args) extends Workload(a) {
  private val order = new scala.util.Random(a.seed).shuffle(a.queries)
  private val warmJobs = scala.collection.mutable.Map.empty[String, Int]

  override protected def fixture(): Unit = {
    require(a.queries.nonEmpty, "query_mix needs --queries")
    val missing = a.queries.filterNot(graft.SparkEntry.queries.contains)
    require(missing.isEmpty, s"undeclared queries: $missing")
  }

  private val dump = a.work.resolve("verify")

  /** Builds then runs one query: into the noop sink when timed; in the
    * warm-up, into graft.Verify's dump layout (`<dump>/<query>/`, one
    * parquet file) for the DuckDB oracle compare. Returns build and
    * action seconds. */
  private def execute(q: String, op: String, phase: String): (Double, Double) = {
    val fn = graft.SparkEntry.queries(q)
    val warm = phase == "warmup"
    val (df, b) = Trace.timed("build", q, op, if (warm) phase else "build") {
      Tag(sc, op, if (warm) phase else "build")(fn(spark, a.data.toString))
    }
    val (_, act) = Trace.timed("action", q, op, if (warm) phase else "action") {
      Tag(sc, op, if (warm) phase else "action") {
        if (warm) df.coalesce(1).write.mode("overwrite").parquet(dump.resolve(q).toString)
        else df.write.format("noop").mode("overwrite").save()
      }
    }
    (b, act)
  }

  override protected def warmup(out: Outcome): Unit = {
    order.foreach { q =>
      val op = s"$q#warmup"
      out.attempt(op)(execute(q, op, "warmup"))
      Bus.drain(sc)
      warmJobs(q) = counter.jobs(op)
    }
    val oracle = graft.SparkEntry.oracleSql.filter { case (q, _) => order.contains(q) }
      .map { case (q, sql) => s"${Json.str(q)}: ${Json.str(sql)}" }
    Files.writeString(dump.resolve("oracle_sql.json"), oracle.mkString("{", ",", "}"))
    // the warm-up wrote parquet; load the noop sink the timed passes write
    // to, so that the first timed query does not pay for it
    spark.range(1).write.format("noop").mode("overwrite").save()
  }

  override protected def pass(i: Int, out: Outcome): (Double, Seq[Double]) = {
    val lat = order.flatMap { q =>
      val op = s"$q#$i"
      val r = out.attempt(op) {
        val (b, act) = Trace.timed("op", op, op, "query")(execute(q, op, "timed"))._1
        b + act
      }
      r.foreach(s => System.err.println(f"[perfbench] $op $s%.3f s"))
      Bus.drain(sc)
      val jobs = counter.jobs(op)
      // memoization guard: a timed execution that runs fewer jobs than
      // the warm-up timed a cached result, not the query
      if (r.isDefined && jobs != warmJobs.getOrElse(q, 0))
        System.err.println(s"[perfbench] $op ran $jobs jobs, warm-up ran ${warmJobs(q)}")
      if (r.isDefined && jobs < warmJobs.getOrElse(q, 0)) {
        out.fail(s"$op ran $jobs jobs, warm-up ran ${warmJobs(q)}: memoized")
        None
      } else r
    }
    (lat.sum, lat)
  }

  /** Output correctness is the DuckDB oracle compare of the warm-up's
    * dump, which run.py makes with tools/check_oracle.py. */
  override protected def check(out: Outcome): Unit = ()

  override protected def layerContext(passes: Int, wallS: Double): Layers.Context =
    Layers.Context(passes, wallS, a.cores)
}

/** `cdc_merge`: replays of the seeded CDC log through `MergeStream.run`
  * (AvailableNow, one file per trigger) onto a fresh copy of the
  * pristine `lkey` table, which `ClusteredWrite.parquet` wrote in
  * [[TableFiles]] files. The copy is made outside the timed region. `pass_s`
  * is a replay's wall time and `op_*` its micro-batches'
  * `triggerExecution` times. */
final class CdcWorkload(a: Args) extends Workload(a) {
  val TableFiles = 128
  val Batches = 4
  val WarmBatches = 1
  val PerBatch = 2000
  val Corrections = 32
  private val pristine = a.work.resolve("pristine")
  private val cdcDir = a.work.resolve("cdc")
  private val warmDir = a.work.resolve("cdc-warm")
  private val tables = a.work.resolve("tables")
  private var log: IndexedSeq[IndexedSeq[Change]] = _
  private val replays = ArrayBuffer.empty[Path]

  override protected def fixture(): Unit = {
    Seq(pristine, cdcDir, warmDir).foreach(deleteTree)
    ClusteredWrite.parquet(Fixtures.lkeyTable(spark, a.data), pristine.toString,
      TableFiles, col("lkey"))
    val keys = spark.read.parquet(pristine.toString).select("lkey")
      .collect().map(_.getLong(0)).sorted.toIndexedSeq
    log = Cdc.batches(keys, a.seed, Batches, PerBatch, Corrections)
    Fixtures.writeCdc(spark, log, cdcDir)
    // the warm-up replays the log's first batches
    Files.createDirectories(warmDir)
    Files.list(cdcDir).iterator().asScala.toSeq.sortBy(_.getFileName.toString)
      .take(WarmBatches)
      .foreach(f => Files.copy(f, warmDir.resolve(f.getFileName), StandardCopyOption.COPY_ATTRIBUTES))
  }

  private def replay(op: String, phase: String, source: Path,
                     batches: Int): (Double, Seq[Double]) = {
    val table = tables.resolve(op)
    Files.createDirectories(table)
    Files.list(pristine).iterator().asScala
      .filter(_.getFileName.toString.endsWith(".parquet"))
      .foreach(f => Files.copy(f, table.resolve(f.getFileName), StandardCopyOption.COPY_ATTRIBUTES))
    val (q, s) = Trace.timed("op", op, op, phase) {
      Tag(sc, op, phase) {
        val changes = spark.readStream.schema(Fixtures.CdcSchema)
          .option("maxFilesPerTrigger", "1").parquet(source.toString)
        val q = MergeStream.run(changes, table.toString, "lkey", Trigger.AvailableNow())
        try q.awaitTermination() finally q.stop()
        q
      }
    }
    replays += table
    val ran = q.recentProgress.filter(_.numInputRows > 0)
      .map(_.durationMs.get("triggerExecution").doubleValue / 1000).toSeq
    require(ran.size == batches, s"$op ran ${ran.size} data batches, expected $batches")
    (s, ran)
  }

  override protected def warmup(out: Outcome): Unit = {
    out.attempt("warmup replay")(replay("warmup", "warmup", warmDir, WarmBatches))
    replays.clear()
    deleteTree(tables)
  }

  override protected def pass(i: Int, out: Outcome): (Double, Seq[Double]) =
    out.attempt(s"replay-$i")(replay(s"replay-$i", "replay", cdcDir, Batches))
      .getOrElse((Double.NaN, Nil))

  override protected def check(out: Outcome): Unit = {
    val pristineRows = spark.read.parquet(pristine.toString).collect().map(Fixtures.lkeyRow)
    val expected = Cdc.fingerprint(Cdc.replayExpected(pristineRows, log))
    replays.foreach { t =>
      out.attempt(s"check $t") {
        val got = Checks.fingerprint(spark.read.parquet(t.toString))
        if (got != expected) out.fail(s"$t: table fingerprint $got != expected $expected")
      }
    }
    deleteTree(tables)
  }

  override protected def layerContext(passes: Int, wallS: Double): Layers.Context =
    Layers.Context(passes, wallS, a.cores, changeRows = log.map(_.size).sum.toDouble)
}

/** Reading the generated tables and writing the CDC log. */
object Fixtures {
  def lineitem(spark: SparkSession, data: Path): IndexedSeq[LineRow] =
    spark.read.parquet(data.resolve("lineitem.parquet").toString)
      .select(col("l_orderkey"), col("l_partkey"), col("l_suppkey"),
        col("l_linenumber"), col("l_quantity"), col("l_extendedprice"),
        col("l_discount"), col("l_tax"), col("l_returnflag"), col("l_linestatus"),
        datediff(col("l_shipdate").cast("date"), lit("1970-01-01")))
      .collect().map { r =>
        LineRow(r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3), r.getDouble(4),
          r.getDouble(5), r.getDouble(6), r.getDouble(7), r.getString(8),
          r.getString(9), r.getInt(10))
      }.toIndexedSeq

  /** The `lkey` table: 5 columns keyed by `l_orderkey * 8 + l_linenumber`. */
  def lkeyTable(spark: SparkSession, data: Path): DataFrame =
    spark.read.parquet(data.resolve("lineitem.parquet").toString)
      .select((col("l_orderkey") * 8 + col("l_linenumber")).as("lkey"),
        col("l_partkey"), col("l_suppkey"), col("l_quantity"), col("l_extendedprice"))

  def lkeyRow(r: Row): LkeyRow =
    LkeyRow(r.getAs[Long]("lkey"), r.getAs[Long]("l_partkey"), r.getAs[Long]("l_suppkey"),
      r.getAs[Double]("l_quantity"), r.getAs[Double]("l_extendedprice"))

  val CdcSchema: StructType = StructType(Seq(
    StructField("lkey", LongType), StructField("l_partkey", LongType),
    StructField("l_suppkey", LongType), StructField("l_quantity", DoubleType),
    StructField("l_extendedprice", DoubleType), StructField("op", StringType),
    StructField("seq", LongType)))

  /** One parquet file per batch, `b00.parquet`, `b01.parquet`, …, with
    * modification times in batch order (the file source's order). */
  def writeCdc(spark: SparkSession, log: IndexedSeq[IndexedSeq[Change]], dir: Path): Unit = {
    val tmp = dir.resolveSibling(dir.getFileName.toString + "-tmp")
    val rows = spark.sparkContext.parallelize(log, log.size).flatMap(_.map { c =>
      Row(c.row.lkey, c.row.partkey, c.row.suppkey, c.row.quantity, c.row.price, c.op, c.seq)
    })
    spark.createDataFrame(rows, CdcSchema).write.mode("overwrite").parquet(tmp.toString)
    Files.createDirectories(dir)
    val parts = Files.list(tmp).iterator().asScala
      .filter(_.getFileName.toString.startsWith("part-")).toSeq.sortBy(_.getFileName.toString)
    require(parts.size == log.size, s"expected ${log.size} CDC files, got ${parts.size}")
    val t0 = System.currentTimeMillis() - 60000L * log.size
    parts.zipWithIndex.foreach { case (p, i) =>
      val f = Files.move(p, dir.resolve(f"b$i%02d.parquet"))
      f.toFile.setLastModified(t0 + 60000L * i)
    }
    val w = Files.walk(tmp)
    try w.iterator().asScala.toSeq.reverse.foreach(Files.delete) finally w.close()
  }
}

/** Output checks, each computed independently of the code path under
  * test: checksums over the landed files against the generator's rows. */
object Checks {
  def crcSum(cells: Iterable[String]): Long = cells.iterator.map { s =>
    val c = new java.util.zip.CRC32
    c.update(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    c.getValue
  }.sum

  /** Per-field sums of ZLINEITEM's structured rows: integer value for
    * N/I, hundredths for P, CRC32 for C, epoch day for D; plus the row
    * count. */
  def zlineitemSums(t: MockRfcBackend.MockTable): Map[String, Long] =
    t.fields.zipWithIndex.map { case (f, i) =>
      val cells = t.rows.iterator.map(_(i).trim)
      f.fieldName -> (f.tpe match {
        case "N" | "I" => cells.map(_.toLong).sum
        case "P" => cells.map(c => (BigDecimal(c) * 100).toLongExact).sum
        case "C" => crcSum(cells.toSeq)
        case "D" => cells.map(c => java.time.LocalDate.parse(c,
          java.time.format.DateTimeFormatter.BASIC_ISO_DATE).toEpochDay).sum
      })
    }.toMap + ("rows" -> t.rows.size.toLong)

  /** The same sums over a landed good side, as aggregate columns. */
  val landedAggs: Seq[Column] = Zlineitem.Fields.map { f =>
    val c = col(f.fieldName)
    (f.tpe match {
      case "N" | "I" => sum(c.cast("long"))
      case "P" => sum((c * 100).cast("long"))
      case "C" => sum(crc32(c.cast("binary")))
      case "D" => sum(datediff(c, lit("1970-01-01")).cast("long"))
    }).as(f.fieldName)
  } :+ count(lit(1)).as("rows")

  /** [[landedAggs]]' values, from a row that carries them by name. */
  def landedSums(r: Row): Map[String, Long] =
    (Zlineitem.Fields.map(_.fieldName) :+ "rows").map(n => n -> r.getAs[Long](n)).toMap

  def landedSums(df: DataFrame): Map[String, Long] =
    landedSums(df.agg(landedAggs.head, landedAggs.tail: _*).head())

  /** [[Cdc.fingerprint]] computed by Spark over the merged table. */
  val FingerprintSql: String =
    "pmod(lkey * 1000003 + l_partkey * 7919 + l_suppkey * 104729 + " +
      "cast(round(l_quantity * 100) as bigint) * 31 + " +
      "cast(round(l_extendedprice * 100) as bigint) * 17, 2147483647)"

  def fingerprint(df: DataFrame): (Long, Long, Long) = {
    val r = df.agg(count(lit(1)), sum(col("lkey")), sum(expr(FingerprintSql))).head()
    (r.getLong(0), r.getLong(1), r.getLong(2))
  }
}
