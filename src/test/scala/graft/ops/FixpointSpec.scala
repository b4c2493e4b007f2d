package graft.ops

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestBase

/** The shared round policy: convergence loops fail loudly at their cap
  * (and only past it), and a measured round's width follows the 64 MiB
  * rule under the session's shuffle width. */
class FixpointSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark

  test("a hash-min chain longer than its cap raises the named error") {
    import spark.implicits._
    // a chain of n links needs n + 1 rounds (n to carry root 0 to the
    // far end, one to see nothing change), so cap links is one too many
    val cap = Curation.HashMinCap
    val chain = (0L until cap.toLong).map(i => (i, i + 1)).toDF("a", "b")
    val e = intercept[IllegalStateException] {
      Curation.connectedComponents(chain).collect()
    }
    assert(e.getMessage.contains("hash-min connected components"))
    assert(e.getMessage.contains(s"cap of $cap rounds"))
  }

  test("a loop that converges in exactly cap rounds returns normally") {
    def count(cap: Int) =
      Fixpoint.until("counter", cap)(0)(i => (i + 1, i + 1 == 5))
    assert(count(5) == ((5, 5)))
    assert(intercept[IllegalStateException](count(4)).getMessage ==
      "counter did not converge within its cap of 4 rounds")
  }

  test("materialize's width: floor 1, ⌈bytes / 64 MiB⌉, capped at the " +
    "session's shuffle width") {
    val mib64 = 64L << 20
    SparkTestBase.withConf("spark.sql.shuffle.partitions" -> "8") {
      val df = spark.range(0, 64, 1, 16).toDF("x")
      def widthOf(rows: Long, rowBytes: Long) =
        Fixpoint.materialize(df, rows, rowBytes).rdd.getNumPartitions
      assert(widthOf(0, 32) == 1)
      assert(widthOf(1, 32) == 1)
      assert(widthOf(1, mib64) == 1)
      assert(widthOf(1, mib64 + 1) == 2)
      assert(widthOf(3, mib64 / 2) == 2)
      assert(widthOf(7, mib64) == 7)
      assert(widthOf(1L << 20, mib64) == 8)
      // an unmeasured round keeps the planner's width
      assert(Fixpoint.materialize(df).rdd.getNumPartitions == 16)
    }
  }
}
