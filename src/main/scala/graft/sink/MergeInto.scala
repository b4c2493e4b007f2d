package graft.sink

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** MERGE INTO over a [[ClusteredWrite]] parquet table — the lakehouse
  * upsert (Delta/Iceberg `MERGE`): apply a compacted CDC batch of
  * last-state rows as matched-UPDATE / not-matched-INSERT /
  * tombstone-DELETE, rewriting ONLY the files the batch actually
  * touches. The most common warehouse write after append, and the
  * natural consumer of q183's compacted CDC log.
  *
  * Change-batch contract: `changes` carries every TABLE column plus an
  * `op` column — `'U'` (upsert: the row's new full image) or `'D'`
  * (tombstone) — at most ONE row per key (a raw multi-version log is
  * compacted first, exactly q183's max_by shape; enforced loudly).
  *
  * Routing: the clustered layout's footer ranges are read driver-side
  * (metadata-only, the same stats the scan planner prunes with) and
  * every change key routes to its FLOOR file — the file whose range
  * contains the key, or, for a key in a range gap / beyond the ends,
  * the nearest file below (first file for keys below everything).
  * Rows only ever join the file whose range already admits them, so
  * range-DISJOINTNESS survives every merge: a file's range can grow
  * into an empty gap but never across a neighbour's floor. A 'D' whose
  * key routes to a file that turns out not to hold it (min/max is a
  * bounding box, not membership) is a detected no-op; files with no
  * routed effect are left BYTE-identical.
  *
  * The per-file rewrite is [[TargetedDelete.swapStaged]]'s staged
  * temp + `.bak`-first atomic swap, and [[TargetedDelete.recover]]
  * heals any previous crash before new work starts; replaying the same
  * batch converges (ops are absolute row images, not deltas).
  *
  * Scale shape: the driver loop walks only the footer-pruned touched
  * set (at 100 TB: the files the batch hits, not the table); each
  * file's rewrite is one bounded job (the file plus its routed slice
  * of the broadcast-sized change batch). The floor lookup is a
  * codegen'd HOF over the sorted range-floor array — linear in file
  * count per change row, fine into the tens of thousands of files; a
  * deployment beyond that would swap in a binary-search expression
  * without touching the protocol. Bulk rewrites that touch most files
  * belong to a full re-cluster (q210's compact), not a merge. */
object MergeInto {

  final case class MergeReport(filesTotal: Int, filesAffected: Int,
                               filesRewritten: Int, rowsUpdated: Long,
                               rowsInserted: Long, rowsDeleted: Long)

  def merge(spark: SparkSession, path: String, keyCol: String,
            changes: DataFrame): MergeReport = {
    val conf = spark.sessionState.newHadoopConf()
    val dir = new Path(path)
    val fs = dir.getFileSystem(conf)
    TargetedDelete.recover(fs, dir)
    val files = fs.listStatus(dir)
      .filter(f => f.isFile && f.getPath.getName.endsWith(".parquet"))
      .map(_.getPath)
      .sortBy(_.getName)
    // footer ranges, ordered by lo — the routing table. The per-file
    // footer opens are independent driver-side metadata reads —
    // overlapped on a bounded pool (r18; sequential, they cost
    // file-count × open latency per micro-batch)
    val rangePool = java.util.concurrent.Executors
      .newFixedThreadPool(math.max(1, math.min(8, files.length)))
    val footerEc =
      scala.concurrent.ExecutionContext.fromExecutor(rangePool)
    val ranges =
      try {
        val futs = files.toSeq.map(f =>
          scala.concurrent.Future(TargetedDelete.keyRange(conf, f, keyCol))(
            footerEc))
        futs.map(f => scala.concurrent.Await.result(f,
          scala.concurrent.duration.Duration.Inf))
      } finally rangePool.shutdown()
    val ranged = files.zip(ranges).flatMap { case (f, range) =>
      range match {
        case Some((lo, hi)) => Some((f, lo, hi))
        case None =>
          // stat-less files: empty ones carry no keys and take no
          // routes; a non-empty stat-less file would break routing —
          // refuse loudly rather than merge wrong
          if (spark.read.parquet(f.toString).isEmpty) None
          else sys.error(s"merge: $f has rows but no $keyCol footer " +
            "stats — not a clustered table")
      }
    }.sortBy(_._2)
    require(ranged.nonEmpty, s"merge: no non-empty table files under $path")
    val tableCols = spark.read.parquet(ranged.head._1.toString).columns
    require(changes.columns.toSet == tableCols.toSet + "op",
      s"merge: change batch must carry ${tableCols.mkString(",")} + op, " +
        s"got ${changes.columns.mkString(",")}")
    // floor-file index per change key: #(lo <= key) - 1, clamped to 0
    val los = ranged.map(_._2)
    def floorFidx(key: org.apache.spark.sql.Column) =
      greatest(lit(0), size(filter(lit(los), lo => lo <= key)) - 1)
    val routed = changes
      .withColumn("__fidx", floorFidx(col(keyCol)))
      .cache()
    try {
      // r18 (guide §1.2/§2.6): the touched-file walk previously ran
      // THREE driver-blocking jobs per file (hit-count join, change
      // count, staged rewrite) plus a per-batch compaction check —
      // ~160 tiny sequential driver-blocking actions for a 3-batch ×
      // 16-file replay, pure per-action scheduling floor (~0.15 s each
      // on this class of machine). The same work now costs THREE
      // actions per batch: one fused counting job, one hit-count join,
      // one batch-staged write — plus driver-side FS swaps.
      //
      // Action 1: per-(file, op) CHANGE counts, with the
      // compaction-contract check riding the same job as sentinel rows
      // (__fidx = -1 for any key carrying more than one op)
      val routedCounts =
        routed.groupBy("__fidx", "op").count()
          .unionByName(routed.groupBy(col(keyCol)).count()
            .filter(col("count") > 1)
            .select(lit(-1).as("__fidx"), lit("DUP").as("op"),
              col("count")))
          .collect()
          .map(r => (r.getInt(0), r.getString(1)) -> r.getLong(2)).toMap
      require(!routedCounts.keySet.exists(_._1 == -1),
        "merge: change batch has multiple ops for one key — " +
          "compact it first (q183's max_by shape)")
      val touched = routedCounts.keySet.map(_._1) // bounded by file count
      val touchedSorted = touched.toSeq.sorted
      // Action 2: per-(file, op) HIT counts — ONE join job over all
      // touched files together: a table row's floor file IS the file it
      // lives in (ranges are disjoint and los is sorted), so tagging
      // table keys with the same routing expression and joining once
      // reproduces exactly the former per-file join counts
      val hits: Map[(Int, String), Long] =
        if (touchedSorted.isEmpty) Map.empty
        else spark.read
          .parquet(touchedSorted.map(i => ranged(i)._1.toString): _*)
          .select(col(keyCol))
          .withColumn("__fidx", floorFidx(col(keyCol)))
          .join(routed.select(col(keyCol), col("op"), col("__fidx")),
            Seq(keyCol, "__fidx"))
          .groupBy("__fidx", "op").count()
          .collect()
          .map(r => (r.getInt(0), r.getString(1)) -> r.getLong(2)).toMap
      val work = touchedSorted.flatMap { i =>
        val nUps = routedCounts.getOrElse((i, "U"), 0L)
        val upsHit = hits.getOrElse((i, "U"), 0L)
        val delHits = hits.getOrElse((i, "D"), 0L)
        // a file whose routed changes are only missing tombstones is a
        // detected no-op — left byte-identical, counted affected only
        if (nUps > 0 || delHits > 0) Some((i, nUps, upsHit, delHits))
        else None
      }
      // Action 3: every rewritten file's replacement (survivors ∪ the
      // upsert images, key-sorted) staged in ONE write job partitioned
      // by file index, then swapped in by per-file driver-side
      // `.bak`-first renames ([[TargetedDelete.swapPart]]). The crash
      // story is unchanged: each file's swap stays atomic, a partial
      // batch heals by replay convergence, and [[TargetedDelete.recover]]
      // reaps an orphaned staging root.
      if (work.nonEmpty) {
        val workSet = work.map(_._1).toSet
        val stagedRoot = new Path(dir,
          s".merge-staged-${java.util.UUID.randomUUID.toString.take(8)}")
        val outCols = tableCols.map(col).toSeq :+ col("__fidx")
        val survivors = spark.read
          .parquet(work.map { case (i, _, _, _) =>
            ranged(i)._1.toString }: _*)
          .withColumn("__fidx", floorFidx(col(keyCol)))
          // anti join against ALL routed keys ≡ the former per-file
          // anti joins: key equality implies the same floor file
          .join(routed.select(col(keyCol)), Seq(keyCol), "left_anti")
        val newRows = routed.filter(col("op") === "U")
          .filter(col("__fidx").isInCollection(workSet))
        survivors.select(outCols: _*)
          .unionByName(newRows.select(outCols: _*))
          .repartition(work.size, col("__fidx"))
          .sortWithinPartitions(col("__fidx"), col(keyCol))
          .write.partitionBy("__fidx").parquet(stagedRoot.toString)
        work.foreach { case (i, _, _, _) =>
          val f = ranged(i)._1
          val pdir = new Path(stagedRoot, s"__fidx=$i")
          val part =
            if (fs.exists(pdir)) fs.listStatus(pdir).map(_.getPath)
              .find(_.getName.endsWith(".parquet"))
            else None
          part match {
            case Some(p) => TargetedDelete.swapPart(fs, f, p)
            case None =>
              // every row deleted, nothing inserted: the dynamic
              // partition writer emits no dir for an absent value —
              // stage a schema-only empty replacement instead
              TargetedDelete.swapStaged(fs, f,
                spark.read.parquet(f.toString).limit(0).coalesce(1))
          }
        }
        fs.delete(stagedRoot, true)
      }
      MergeReport(files.length, touched.size, work.size,
        work.map(_._3).sum,
        work.map { case (_, nUps, upsHit, _) => nUps - upsHit }.sum,
        work.map(_._4).sum)
    } finally routed.unpersist()
  }
}
