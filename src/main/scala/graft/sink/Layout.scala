package graft.sink

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{ChecksumFileSystem, Path}
import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._

/** The reference's sink contract (SURVEY.md §2.3 q06 / R7–R9), re-expressed
  * on `DataFrameWriter`.
  *
  * Reference behavior (`/root/reference/pyrfc_read_table/pyrfc_read_table.py`):
  *  - dated directory layout `result[-err]/<fmt>/<table>/<ts>/` (`:45-50`);
  *  - the data filename embeds the **cumulative** row count across pages,
  *    `<table><totalRows>.<fmt>` (`:120-122`);
  *  - err rows are written **without** column names — pandas default
  *    integer headers (`:186,197`) — modeled as columns renamed `"0".."n-1"`;
  *  - the err file is created **only when** `err_count > 0` (`:185,196,220`).
  *
  * One `write` call here ≙ one reference page upload: the single-object-
  * per-page contract is preserved with `coalesce(1)` + rename. At cluster
  * scale a caller keeps Spark's one-file-per-task layout instead (pass
  * `singleFile = false`); the dated directory scheme is unchanged and the
  * cumulative count then lives only in [[WriteResult]].
  */
object Layout {

  /** `result[-err]/<fmt>/<table>/<ts>/` under `root` (reference `:45-50`). */
  def dirPath(root: String, isErr: Boolean, fmt: String, table: String,
              ts: String): String = {
    val kind = if (isErr) "result-err" else "result"
    s"$root/$kind/$fmt/$table/$ts"
  }

  /** Data filename quirk: `<table><cumulativeRows>.<fmt>` (`:120-122`). */
  def dataFileName(table: String, cumulativeRows: Long, fmt: String): String =
    s"$table$cumulativeRows.$fmt"

  /** Err filename: `<table>-err.<fmt>`, NO row count — only the good-side
    * name embeds the cumulative count (`:50` vs `:122`). */
  def errFileName(table: String, fmt: String): String = s"$table-err.$fmt"

  final case class WriteResult(goodPath: String, errPath: Option[String],
                               goodRows: Long, errRows: Long,
                               cumulativeRows: Long)

  /** Dual good/err write for one page. `cumulativeBefore` is the row count
    * of previously written pages (the filename embeds before+this, `:122`).
    * `partitionCols` adds hive-style partition directories under the dated
    * path for the good side — a capability the reference lacks (SURVEY.md
    * §1.2) and the scale path for selective downstream reads; it implies
    * the multi-file layout (no single-object rename). */
  def writeDual(good: DataFrame, err: DataFrame, root: String, fmt: String,
                table: String, ts: String, cumulativeBefore: Long = 0L,
                singleFile: Boolean = true,
                partitionCols: Seq[String] = Nil): WriteResult = {
    require(fmt == "json" || fmt == "parquet", s"unsupported fmt: $fmt")
    require(partitionCols.isEmpty || !singleFile,
      "partitionCols implies singleFile = false")

    // good-side row count via Observation: one pass instead of a
    // count() scan followed by the write scan (matters at 100 TB)
    val obs = Observation()
    val goodDir = dirPath(root, isErr = false, fmt, table, ts)
    writeOne(good.observe(obs, count(lit(1)).as("rows")), goodDir, fmt,
      singleFile, renameTo = None, partitionCols = partitionCols)
    val goodRows = obs.get("rows").asInstanceOf[Long]
    val cumulative = cumulativeBefore + goodRows
    if (singleFile)
      renameSingle(good.sparkSession, goodDir,
        dataFileName(table, cumulative, fmt))

    // Err quirks: only materialize when non-empty (`:185,196,220`), and
    // drop the column names — integer headers like pandas (`:186,197`).
    // Persisted across the count and the write so both see one snapshot
    // of the lineage (the source's offset paging is not snapshot-
    // consistent; the filename count must match the file's contents).
    val errCached = err.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val errRows = errCached.count()
    val errPath =
      if (errRows == 0) None
      else {
        val headerless = errCached.toDF(err.columns.indices.map(_.toString): _*)
        val errDir = dirPath(root, isErr = true, fmt, table, ts)
        writeOne(headerless, errDir, fmt, singleFile,
          renameTo = if (singleFile) Some(errFileName(table, fmt))
                     else None)
        Some(errDir)
      }
    errCached.unpersist(blocking = false)
    WriteResult(goodDir, errPath, goodRows, errRows, cumulative)
  }

  private def writeOne(df: DataFrame, dir: String, fmt: String,
                       singleFile: Boolean, renameTo: Option[String],
                       partitionCols: Seq[String] = Nil): Unit = {
    val out = if (singleFile) df.coalesce(1) else df
    val writer = out.write.mode("overwrite").partitionBy(partitionCols: _*)
    fmt match {
      case "json"    => writer.json(dir)
      case "parquet" => writer.parquet(dir)
    }
    renameTo.foreach(renameSingle(df.sparkSession, dir, _))
  }

  /** Renames the one `part-` file under `dir` to `name` and drops the
    * `_SUCCESS` marker and checksum files, through Hadoop `FileSystem`
    * so a `file:`, `s3a://` or `hdfs://` root lands the same listing as
    * a plain local path. The raw file system under a checksummed one
    * lists the `.crc` sidecars, so they are removed like any file. */
  private def renameSingle(spark: SparkSession, dir: String,
                           name: String): Unit = {
    val d = new Path(dir)
    val fs = d.getFileSystem(spark.sessionState.newHadoopConf()) match {
      case c: ChecksumFileSystem => c.getRawFileSystem
      case other => other
    }
    val part = fs.listStatus(d).map(_.getPath)
      .filter(_.getName.startsWith("part-")).toList match {
        case one :: Nil => one
        case other => sys.error(s"expected 1 part file in $dir, got $other")
      }
    val target = new Path(d, name)
    require(fs.rename(part, target), s"could not rename $part to $target")
    // one object per page, like the reference's put_object (`:210-221`)
    fs.listStatus(d).map(_.getPath).filter { p =>
      p.getName == "_SUCCESS" || p.getName.endsWith(".crc")
    }.foreach(fs.delete(_, false))
  }

  /** q06_sink_layout — driver-visible smoke for the sink contract (no SQL
    * oracle: the op writes files; LayoutSpec asserts the four quirks).
    * Replays the WA parse/route pipeline on `lineitem` (as q02/q03 do),
    * dual-writes one page, and returns the resulting relative file listing.
    */
  def q06SinkLayout(s: SparkSession, dir: String): DataFrame = {
    import graft.parse.WaParser
    val base = graft.ops.T(s, dir, "lineitem")
      .filter(col("l_orderkey") < 200)
      .select(col("l_orderkey"), col("l_returnflag"), col("l_linestatus"))
      .distinct()
    // malformed rows: delimiter embedded inside a value (reference `:141-149`)
    val wa = base.select(
      when(col("l_orderkey") % 97 === 0,
        concat_ws("`", col("l_orderkey"),
          concat(col("l_returnflag"), lit("`")), col("l_linestatus")))
        .otherwise(concat_ws("`", col("l_orderkey"), col("l_returnflag"),
          col("l_linestatus"))).as("wa"))
    val names = Seq("l_orderkey", "l_returnflag", "l_linestatus")
    val good = WaParser.goodRows(wa, "wa", names)
    val err = WaParser.errRows(wa, "wa", names.length)
      .select(col("wa"), col("arity"))

    val root = Files.createTempDirectory("graft-sink-").toString
    val ts = "2024-01-01-00-00-00"
    writeDual(good, err, root, "json", "lineitem", ts)
    writeDual(good, err, root, "parquet", "lineitem", ts)

    val rootPath = Paths.get(root)
    val walk = Files.walk(rootPath)
    val listing =
      try walk.iterator().asScala
        .filter(Files.isRegularFile(_))
        .map(p => rootPath.relativize(p).toString).toSeq.sorted
      finally walk.close()
    import s.implicits._
    listing.toDF("rel_path").orderBy("rel_path")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q06_sink_layout" -> q06SinkLayout _,
  )
}
