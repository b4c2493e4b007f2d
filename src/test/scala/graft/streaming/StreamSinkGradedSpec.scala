package graft.streaming

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestBase
import graft.ops.{T, TrainingData}

/** The graded streaming-sink queries (q315/q316) against independent
  * driver-side recomputes — the StreamGradedSpec discipline applied to
  * the foreachBatch sinks: the DuckDB oracle hashes the CONTRACT; this
  * spec re-derives the same answers through a different code path
  * (batch Spark for q315, plain-Scala simulation for q316) and pins the
  * nonvacuity of every arm the aggregate could silently drop. */
class StreamSinkGradedSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark
  private val dir = SparkTestBase.Sf0001

  test("q315 equals a batch recompute of the post-drain state, and every " +
    "CDC arm bites (update, double-update, tombstone, resurrect, insert)") {
    val base = T(spark, dir, "orders")
      .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
    val k = col("o_orderkey")
    // the oracle's derivation, in Spark: survivors keep the LAST image
    val survivors = base
      .filter(k % 7 =!= 0 || k % 35 === 0)
      .select(col("o_orderstatus"),
        when(k % 35 === 0, col("o_totalprice") + 20.0)
          .when(k % 3 === 0, col("o_totalprice") + 7.0)
          .when(k % 5 === 0, col("o_totalprice") + 10.0)
          .otherwise(col("o_totalprice")).as("price"),
        k.as("key"))
    val inserts = base.filter(k % 11 === 0)
      .select(col("o_orderstatus"),
        (col("o_totalprice") + 0.5).as("price"),
        (k + 1000000000000L).as("key"))
    val want = survivors.unionByName(inserts)
      .groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n_orders"),
        sum(expr("cast(round(price * 100) as bigint)")).as("sum_price_c2"),
        min(col("key")).as("min_key"), max(col("key")).as("max_key"))
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    val got = graft.SparkEntry.queries("q315_merge_stream")(spark, dir)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    assert(got == want, "streamed merge diverged from the batch recompute")

    // arm nonvacuity on the fixture (all five classes must exist, or
    // the hash proves less than the scaladoc claims)
    def n(c: org.apache.spark.sql.Column) = base.filter(c).count()
    assert(n(k % 5 === 0 && k % 7 =!= 0 && k % 3 =!= 0) > 0, "plain update")
    assert(n(k % 3 === 0 && k % 7 =!= 0) > 0, "double-update compaction")
    assert(n(k % 7 === 0 && k % 35 =!= 0) > 0, "tombstone")
    assert(n(k % 35 === 0) > 0, "delete-then-reinsert")
    assert(n(k % 11 === 0) > 0, "out-of-range insert")
    assert(n(k % 15 === 0 && k % 7 =!= 0) > 0,
      "cross-batch overwrite (+10 then +7) — batch ORDER is graded")
  }

  test("q315 leaves no per-call table copy behind") {
    val tmp = java.nio.file.Paths.get(System.getProperty("java.io.tmpdir"))
    def tableDirs(): Set[String] = {
      val ls = java.nio.file.Files.list(tmp)
      try ls.iterator().asScala.map(_.getFileName.toString)
        .filter(_.startsWith("graft-q315-table-")).toSet
      finally ls.close()
    }
    val before = tableDirs()
    val rows = graft.SparkEntry.queries("q315_merge_stream")(spark, dir)
      .collect()
    assert(rows.length == 3)
    assert(tableDirs() == before, "a graft-q315-table-* dir survived the call")
  }

  test("q316 equals a plain-Scala simulation of the three-batch admission " +
    "chain, with both collision classes (index, intra-batch) present") {
    // independent ground truth: collect the band rows once and replay
    // the admit-if-clean protocol imperatively
    val bands = TrainingData
      .minhashBandsOfDocs(T(spark, dir, "documents")
        .select(col("doc_id"), col("text")))
      .collect()
      .map(r => (r.getLong(0), (r.getInt(1), r.getLong(2), r.getLong(3))))
    val docBands = bands.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val want = scala.collection.mutable.Map.empty[Long, (Long, Long)]
    var admitted = Set.empty[Long]
    (0 to 2).foreach { b =>
      val batch = docBands.keySet.filter(_ % 3 == b)
      val idxByKey = admitted.toSeq
        .flatMap(d => docBands(d).map(_ -> d))
        .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
      val batchByKey = batch.toSeq
        .flatMap(d => docBands(d).map(_ -> d))
        .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
      batch.foreach { d =>
        val viaIndex = docBands(d)
          .flatMap(key => idxByKey.getOrElse(key, Set.empty))
        val viaIntra = docBands(d)
          .flatMap(key => batchByKey.getOrElse(key, Set.empty))
          .filter(_ < d)
        val os = viaIndex ++ viaIntra
        if (os.nonEmpty) want(d) = (os.size.toLong, os.min)
      }
      admitted ++= batch.filterNot(want.contains)
    }
    val got = graft.SparkEntry.queries("q316_ingest_dedup")(spark, dir)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(got == want.toMap,
      "streamed ingest reports diverged from the simulated admission chain")
    assert(got.nonEmpty, "no flagged doc — degenerate fixture")
    // both collision classes exercised: a first_dup in a DIFFERENT
    // batch proves an index (cross-batch, admission-carried) collision;
    // one in the SAME batch proves the intra-batch keep-first pair path
    assert(got.exists { case (d, (_, fd)) => fd % 3 != d % 3 },
      "no cross-batch index collision — admission never graded")
    assert(got.exists { case (d, (_, fd)) => fd % 3 == d % 3 },
      "no intra-batch collision — keep-first pair path never graded")
    // keep-first: a flagged doc's first_dup is always a SMALLER id when
    // intra-batch (the survivor), and never the doc itself
    got.foreach { case (d, (nd, fd)) =>
      assert(fd != d, s"doc $d flagged against itself")
      assert(nd >= 1L)
      if (fd % 3 == d % 3) assert(fd < d, s"intra pair not keep-first: $d vs $fd")
    }
  }
}
