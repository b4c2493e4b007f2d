package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Non-equi matching beyond set similarity: the spatial radius join
  * (grid blocking over 2-D coordinates — the geometric member of the
  * blocking family beside LSH bands, IVF cells, and length bands) and
  * greedy one-to-one assignment (distributed mutual-argmin matching —
  * the record-linkage step AFTER scoring, which q102's blocked scorer
  * deliberately stops short of).
  */
object Matching {

  private[ops] val SpatialR = 8000L        // radius (grid units)
  private val CoordMod = 1000000L          // coordinate domain [0, 10⁶)

  /** Deterministic planar coordinates per customer — the md5-ticket
    * discipline (q89/q216) applied twice; stands in for the lat/lon a
    * real table carries. Integer grid: distance compares are exact in
    * both engines (no trig, no doubles — a planar integer grid is the
    * right local approximation at city scale, and the OPERATOR shape
    * is identical for haversine-refined geo joins). */
  private def coordSql(axis: String, key: String): String =
    s"cast(conv(substring(md5(concat('$axis:', cast($key as string))), " +
      s"1, 12), 16, 10) as bigint) % $CoordMod"

  /** q248: spatial RADIUS join — all customer pairs within [[SpatialR]]
    * of each other on the derived planar grid ("find nearby entities":
    * store-coverage overlap, duplicate-address candidates, meetup
    * density — the 2-D near-dup problem).
    *
    * Scale shape — GRID BLOCKING, never the N² theta join the oracle
    * states: cell width = R, so any pair within R sits at most one
    * cell apart; one side explodes to its 3×3 cell neighborhood (a
    * bounded ×9 Generate), the other stays home, the join is an EQUI
    * join on the cell key, and the exact integer distance filter
    * refines. Each qualifying pair is found EXACTLY once (the home
    * cell is unique and the k_a < k_b orientation picks one prober).
    * Hot cells are q190's salting problem; at real density size the
    * cell so one cell's points fit a task (the RUNBOOK knob). */
  def q248SpatialJoin(s: SparkSession, dir: String): DataFrame = {
    val p = T(s, dir, "customer")
      .select(col("c_custkey").as("k"),
        expr(coordSql("x", "c_custkey")).as("x"),
        expr(coordSql("y", "c_custkey")).as("y"))
      .localCheckpoint(true) // both join sides probe it
    val home = p
      .withColumn("cx", expr(s"x div $SpatialR"))
      .withColumn("cy", expr(s"y div $SpatialR"))
      .select(col("k").as("kb"), col("x").as("xb"), col("y").as("yb"),
        col("cx"), col("cy"))
    val probe = p
      .select(col("k").as("ka"), col("x").as("xa"), col("y").as("ya"),
        explode(expr(s"flatten(transform(sequence(-1, 1), dx -> " +
          s"transform(sequence(-1, 1), dy -> " +
          s"named_struct('cx', x div $SpatialR + dx, " +
          s"'cy', y div $SpatialR + dy))))")).as("c"))
      .select(col("ka"), col("xa"), col("ya"),
        col("c.cx").as("cx"), col("c.cy").as("cy"))
    probe.join(home, Seq("cx", "cy"))
      .filter(col("ka") < col("kb"))
      .withColumn("d2",
        (col("xa") - col("xb")) * (col("xa") - col("xb")) +
          (col("ya") - col("yb")) * (col("ya") - col("yb")))
      .filter(col("d2") <= SpatialR * SpatialR)
      .select(col("ka"), col("kb"), col("d2"))
      .orderBy("ka", "kb")
  }

  private[ops] val MatchRounds = 3
  // argmin packing: (dist, partner) in one BIGINT — dist ≤ 2·10⁶ cents
  // here, supplier keys < 2²¹ and customer keys < 2⁴², so both packs
  // sit far under 2⁶³ (widen, or switch to struct min_by, for larger
  // key domains — the q239 note)
  private val PackS = 1L << 21
  private val PackC = 1L << 42

  /** q249: greedy one-to-one assignment — distributed MUTUAL-ARGMIN
    * matching of customers to suppliers (blocking key: nation; score:
    * absolute balance distance in cents). q102 scores blocked pairs
    * and stops; real record linkage must then ASSIGN — each entity to
    * at most one partner — and the scalable classic is the greedy
    * maximal matching by locally-dominant pairs: each round, every
    * customer names its best supplier and every supplier its best
    * proposer; pairs named from BOTH sides match and leave the pool
    * ([[MatchRounds]] rounds — the hop horizon, q235's knob). With a
    * total order on (dist, partner id) the greedy outcome is unique —
    * engine-exact, no auction randomness.
    *
    * Scale shape: candidates are nation-blocked (never a cross join);
    * each round is TWO packed-BIGINT min aggregates (associative —
    * map-side combine absorbs hot nations) plus anti-joins to shrink
    * the pool; lineage truncates per round. The oracle unrolls the
    * identical rounds as CTEs (the q196/q235/q239 discipline — fourth
    * algebra: mutual argmin). */
  def q249GreedyMatch(s: SparkSession, dir: String): DataFrame = {
    val cust = T(s, dir, "customer").select(col("c_custkey").as("c"),
      col("c_nationkey").as("cn"),
      expr("cast(round(c_acctbal * 100) as bigint)").as("cc2"))
    val supp = T(s, dir, "supplier").select(col("s_suppkey").as("p"),
      col("s_nationkey").as("sn"),
      expr("cast(round(s_acctbal * 100) as bigint)").as("sc2"))
    var pool = cust.join(supp, col("cn") === col("sn"))
      .select(col("c"), col("p"), abs(col("cc2") - col("sc2")).as("dist"))
      .localCheckpoint(true)
    var matched: DataFrame = null
    for (round <- 1 to MatchRounds) {
      val bestC = pool.groupBy("c")
        .agg(min(col("dist") * PackS + col("p")).as("kc"))
        .select(col("c"), (col("kc") % PackS).as("p"),
          expr(s"kc div $PackS").as("dist"))
      val bestS = bestC.groupBy("p")
        .agg(min(col("dist") * PackC + col("c")).as("ks"))
        .select(col("p"), (col("ks") % PackC).as("c"))
      val won = Fixpoint.materialize(bestC.join(bestS, Seq("c", "p"))
        .select(col("c"), col("p"), col("dist"), lit(round).as("round")))
      matched = if (matched == null) won else matched.unionByName(won)
      pool = Fixpoint.materialize(pool
        .join(won.select("c"), Seq("c"), "left_anti")
        .join(won.select("p"), Seq("p"), "left_anti"))
    }
    matched.select(col("round"), col("c").as("c_custkey"),
        col("p").as("s_suppkey"), col("dist").as("dist_c2"))
      .orderBy("c_custkey")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q248_spatial_join" -> q248SpatialJoin _,
    "q249_greedy_match" -> q249GreedyMatch _,
  )

  /** One unrolled mutual-argmin round (mirrors the Spark loop exactly:
    * packed argmins, both-sides join, pool shrink). */
  private def matchIterSql(prev: String, t: Int): String =
    s"""bc$t AS (SELECT c, min(dist * $PackS + p) AS kc FROM $prev GROUP BY 1),
       |ch$t AS (SELECT c, kc % $PackS AS p, kc // $PackS AS dist FROM bc$t),
       |bs$t AS (SELECT p, min(dist * $PackC + c) AS ks FROM ch$t GROUP BY 1),
       |w$t AS (SELECT ch.c, ch.p, ch.dist, $t AS round
       |        FROM ch$t ch JOIN (SELECT p, ks % $PackC AS c FROM bs$t) b
       |          ON ch.c = b.c AND ch.p = b.p),
       |pool$t AS (SELECT * FROM $prev
       |           WHERE c NOT IN (SELECT c FROM w$t)
       |             AND p NOT IN (SELECT p FROM w$t)),""".stripMargin

  val oracle: Map[String, String] = Map(
    // q248: the declarative N² theta-join truth — the hash match proves
    // the grid blocking finds exactly the within-radius set
    "q248_spatial_join" ->
      s"""WITH p AS (SELECT c_custkey AS k,
        |           ('0x' || substr(md5('x:' || c_custkey::VARCHAR), 1, 12))::BIGINT % $CoordMod AS x,
        |           ('0x' || substr(md5('y:' || c_custkey::VARCHAR), 1, 12))::BIGINT % $CoordMod AS y
        |           FROM customer)
        |SELECT a.k AS ka, b.k AS kb,
        |       CAST((a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y) AS BIGINT) AS d2
        |FROM p a JOIN p b ON a.k < b.k
        |WHERE (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y) <= ${SpatialR * SpatialR}
        |ORDER BY ka, kb""".stripMargin,
    // q249: the identical rounds unrolled — mutual argmin is greedy
    // maximal matching, unique under the packed total order
    "q249_greedy_match" ->
      s"""WITH pool0 AS (
        |  SELECT c.c_custkey AS c, s.s_suppkey AS p,
        |         abs(CAST(round(c.c_acctbal * 100) AS BIGINT) -
        |             CAST(round(s.s_acctbal * 100) AS BIGINT)) AS dist
        |  FROM customer c JOIN supplier s ON c.c_nationkey = s.s_nationkey),
        |${matchIterSql("pool0", 1)}
        |${matchIterSql("pool1", 2)}
        |${matchIterSql("pool2", 3)}
        |allw AS (SELECT * FROM w1 UNION ALL SELECT * FROM w2 UNION ALL SELECT * FROM w3)
        |SELECT CAST(round AS INTEGER) AS round, c AS c_custkey, p AS s_suppkey,
        |       CAST(dist AS BIGINT) AS dist_c2
        |FROM allw ORDER BY c_custkey""".stripMargin,
  )
}
