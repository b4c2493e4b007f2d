package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Iterative graph analytics — the Pregel-on-DataFrames shape
  * (iterate: join ranks to edges on src → aggregate contributions on
  * dst → recompute ranks; truncate lineage per round), the same
  * per-round discipline as q100's star-contraction connected
  * components but with VALUE propagation instead of label collapse.
  *
  * Determinism: ranks live on a 2⁻²⁰ fixed-point BIGINT grid and every
  * per-edge contribution is an INTEGER floor-division
  * `(pr·85) div (outdeg·100)` — integer sums are associative, so no
  * engine's (or Spark's own partial-aggregation) reduction order can
  * move a bit, and the DuckDB oracle unrolls the identical iterations
  * on identical integers (the q160/FixDot discipline applied to graph
  * propagation). */
object Graph {

  private val PrScale = 1048576L            // 2^20 — rank fixed point
  private val PrBase = 157286L              // ⌊0.15 · 2^20⌋ damping base
  private[ops] val PrIters = 3

  /** The supplier↔customer trade graph: one undirected edge per
    * DISTINCT (supplier, customer) pair that traded (lineitem ⋈
    * orders), as two directed rows. Node ids pack kind into the low
    * bit (supplier = 2k, customer = 2k+1) so the graph stays integer
    * end-to-end. */
  private def tradeEdges(s: SparkSession, dir: String): DataFrame = {
    val pairs = T(s, dir, "lineitem").select("l_orderkey", "l_suppkey")
      .join(T(s, dir, "orders").select("o_orderkey", "o_custkey"),
        col("l_orderkey") === col("o_orderkey"))
      .select((col("l_suppkey") * 2).as("s"),
        (col("o_custkey") * 2 + 1).as("c"))
      .distinct()
    pairs.select(col("s").as("src"), col("c").as("dst"))
      .union(pairs.select(col("c").as("src"), col("s").as("dst")))
  }

  /** q196: PageRank over the trade graph — "which suppliers/customers
    * sit at the center of the trade network": [[PrIters]] damped
    * iterations (d = 0.85) from a uniform start, top-20 nodes by
    * final rank.
    *
    * Scale shape: per iteration, ONE equi-join of the (node, pr,
    * outdeg) table to the edge list on src and ONE shuffle-aggregate
    * of contributions on dst — the canonical distributed PageRank;
    * lineage is truncated per round (localCheckpoint) so the plan
    * never grows with the iteration count, and the rank table stays
    * node-sized (≪ edges). At 100 TB you pre-partition edges and
    * ranks on the join key so iterations reuse one exchange (the
    * bucketed-index argument), and AQE handles hub-node skew on the
    * dst aggregate. The symmetric bipartite construction means every
    * node has outdeg ≥ 1 — no dangling-mass redistribution term.
    *
    * Semantics note: ranks are the fixed-point INTEGER iteration
    * defined above — deliberately, so the trace is engine-exact; the
    * per-step floor loses < 1 mass unit per edge vs real-valued
    * PageRank, which cannot reorder a top-20 separated by thousands
    * of units (and determinism, not the 21st decimal, is what a
    * regression gate needs). */
  def q196PageRank(s: SparkSession, dir: String): DataFrame = {
    val edges = tradeEdges(s, dir).localCheckpoint(true)
    val deg = edges.groupBy("src").agg(count(lit(1)).as("outdeg"))
    val nodes = edges.select(col("src").as("node")).distinct()
      .localCheckpoint(true)
    // the rank table is node-sized every round
    val nNodes = nodes.count()
    var pr = nodes.withColumn("pr", lit(PrScale))
    for (_ <- 1 to PrIters) {
      val contrib = edges
        .join(pr.withColumnRenamed("node", "src"), "src")
        .join(deg, "src")
        .select(col("dst").as("node"),
          expr("(pr * 85) div (outdeg * 100)").as("ctr"))
        .groupBy("node").agg(sum("ctr").as("ctr"))
      pr = Fixpoint.materialize(nodes.join(contrib, Seq("node"), "left")
        .select(col("node"),
          (lit(PrBase) + coalesce(col("ctr"), lit(0L))).as("pr")),
        nNodes, rowBytes = 24L)
    }
    pr.select(col("node").as("node_id"),
        when(col("node") % 2 === 0, lit("s")).otherwise(lit("c"))
          .as("kind"),
        col("pr").as("pr_fx"))
      .orderBy(col("pr_fx").desc, col("node_id"))
      .limit(20)
  }

  /** q218: triangle counting over the co-purchase graph (q200's part
    * pairs with support ≥ 2 as undirected edges) — the graph-analytics
    * primitive behind clustering coefficients, community seeds, and
    * recommendation strength ("parts bought together in threes").
    *
    * The scale discipline is DEGREE ORIENTATION (the classic
    * MapReduce-triangles move): orient every edge from its
    * lower-(degree, id) endpoint to the higher one, enumerate wedges
    * only at each edge's SOURCE (out-neighbor pairs), and close each
    * wedge against the canonical undirected edge set. The orientation
    * is acyclic and total, so every triangle is generated EXACTLY once
    * (at its unique minimum corner) — no /3 correction, no duplicate
    * set — and out-degrees are bounded by O(√m) regardless of hub
    * skew: a hot part with 10⁶ neighbors contributes wedges only from
    * the rare nodes that point AT it, never 10¹² pairs from its own
    * adjacency (the c² trap q79 caps the same way).
    *
    * Joins are all equi-joins (wedge enumeration self-joins oriented
    * edges on src; closure probes on the (u, w) pair key); per-node
    * counts explode 3 corner rows per triangle into a partial+final
    * aggregate; the 1-row global total rides every row via the bounded
    * broadcast crossJoin (q188's class). Output: top-20 parts by
    * triangle participation. */
  def q218Triangles(s: SparkSession, dir: String): DataFrame = {
    // canonical undirected edges, p1 < p2 — the SHARED co-purchase core
    // (Affinity.basketItems/pairCounts), support floor 2
    val edges = Affinity.pairCounts(Affinity.basketItems(s, dir))
      .filter(col("n_pair") >= 2)
      .select("p1", "p2")
      .localCheckpoint(true) // both the orientation and the closure probe read it
    val deg = edges.select(col("p1").as("v"))
      .union(edges.select(col("p2").as("v")))
      .groupBy("v").agg(count(lit(1)).as("d"))
    // src = the lower endpoint in (degree, id) order; p1 < p2 already,
    // so the degree tie resolves to p1
    val oriented = edges
      .join(deg.select(col("v").as("p1"), col("d").as("d1")), "p1")
      .join(deg.select(col("v").as("p2"), col("d").as("d2")), "p2")
      .select(when(col("d1") <= col("d2"), col("p1")).otherwise(col("p2"))
          .as("src"),
        when(col("d1") <= col("d2"), col("p2")).otherwise(col("p1"))
          .as("dst"))
    val o2 = oriented.select(col("src").as("src2"), col("dst").as("dst2"))
    val wedges = oriented
      .join(o2, col("src") === col("src2") && col("dst") < col("dst2"))
      .select(col("src").as("apex"), col("dst").as("u"), col("dst2").as("w"))
    val tri = wedges
      .join(edges, col("u") === col("p1") && col("w") === col("p2"))
      .select("apex", "u", "w")
      .localCheckpoint(true) // total + per-node both read it
    val total = tri.agg(count(lit(1)).as("n_triangles"))
    tri.select(explode(array(col("apex"), col("u"), col("w"))).as("part"))
      .groupBy("part").agg(count(lit(1)).as("n_tri"))
      .crossJoin(broadcast(total)) // 1-row global total rides every row
      .orderBy(col("n_tri").desc, col("part"))
      .limit(20)
  }

  private[ops] val HierFanout = 8
  private[ops] val HierMaxDepth = 12

  /** q226: hierarchy expansion with depth AND path — the BOM-explosion
    * / org-chart / multi-hop-lineage recursive shape warehouses run
    * daily, and the one recursive semantics q100's connected components
    * deliberately COLLAPSES (CC keeps only the final label; a BOM
    * consumer needs every (root, node) pair with how-deep and
    * via-which-chain). Hierarchy: parts forming an [[HierFanout]]-ary
    * forest — node's parent is `p_partkey div 8`, the 8 parts with
    * key < 8 are roots — derived, not synthetic: every key in `part`
    * appears exactly once as a child.
    *
    * Shape: frontier expansion — level d+1 = frontier(d) ⋈ edges on
    * (node = parent), carrying root, depth+1, and the extended path;
    * the result is the union of all levels. Cycle guard: a child
    * already on its own path is not re-expanded (exact array
    * membership, equivalent to the guard a DuckDB `WITH RECURSIVE …
    * WHERE strpos('/'||path||'/', …) = 0` writes — delimiters make the
    * string form memberwise-exact too), plus the [[HierMaxDepth]] hard
    * cap — the derived forest
    * is acyclic by construction (parent < child), but the OPERATOR
    * contract must bound arbitrary input.
    *
    * Scale shape: per level, ONE equi-join of the frontier to the edge
    * table on parent and nothing else; lineage truncates per level
    * (localCheckpoint, the q196 discipline) so the plan never grows
    * with depth; driver traffic is one count per level, bounded by the
    * depth cap. At 100 TB the edge table is bucketed on parent so
    * every level reuses one exchange, and the frontier stays
    * level-sized. The PATH column grows with depth — the output ships
    * `md5(path)` (constant width, the md5-ticket discipline) so row
    * width is depth-independent.
    *
    * DuckDB oracle: the identical forest as `WITH RECURSIVE` with the
    * same cycle guard — the canonical cross-engine equivalence for
    * recursive traversal. */
  /** The shared frontier expansion under q226 (root/depth/path report)
    * and q230 (subtree rollup): every (root, node, depth,
    * path ARRAY<BIGINT>) of the part forest, lineage truncated per
    * level, cycle-guarded by exact array membership (equivalent to
    * the `WITH RECURSIVE` oracles' delimiter-bounded path-string
    * guard — both never fire on the derived acyclic forest, both
    * bound arbitrary input) plus the [[HierMaxDepth]] hard cap. */
  private[ops] def hierarchyPaths(s: SparkSession, dir: String): DataFrame =
    expandFrontier(
      T(s, dir, "part")
        .filter(col("p_partkey") >= HierFanout)
        .select(expr(s"p_partkey div $HierFanout").as("parent"),
          col("p_partkey").as("child")),
      T(s, dir, "part")
        .filter(col("p_partkey") < HierFanout)
        .select(col("p_partkey").as("root")))

  /** The expansion loop itself, parameterized on `(parent, child)`
    * edges and a `root` frame — split from the part-forest derivation
    * (r13 verdict) so the GUARD branches are drivable end-to-end: the
    * derived forest is acyclic by construction (parent < child), which
    * means no `(s, dir)` input can ever fire the cycle guard, while an
    * arbitrary-edge caller (HierarchySpec's cyclic fixtures) exercises
    * the exact loop the graded queries run. The depth cap IS reachable
    * through the graded entry points — a deep-chain part fixture pins
    * it there. */
  private[ops] def expandFrontier(edgesIn: DataFrame,
                                  roots: DataFrame): DataFrame = {
    val edges = edgesIn.localCheckpoint(true) // probed once per level
    var frontier = roots
      .select(col("root"), col("root").as("node"),
        lit(0).as("depth"), array(col("root")).as("path"))
      .localCheckpoint(true)
    val levels = Seq.newBuilder[DataFrame]
    levels += frontier
    var depth = 0
    var n = frontier.count() // per-level scalar — bounded by the cap
    while (n > 0 && depth < HierMaxDepth) {
      depth += 1
      frontier = Fixpoint.materialize(
        frontier.join(edges, col("node") === col("parent"))
          .filter(!array_contains(col("path"), col("child")))
          .select(col("root"), col("child").as("node"),
            lit(depth).as("depth"),
            concat(col("path"), array(col("child"))).as("path")))
      n = frontier.count()
      if (n > 0) levels += frontier
    }
    levels.result().reduce(_ unionByName _)
  }

  def q226HierarchyExpand(s: SparkSession, dir: String): DataFrame =
    hierarchyPaths(s, dir)
      .select(col("root"), col("node"), col("depth").cast("int").as("depth"),
        // same digest input as the oracle's '/'-joined path string
        md5(array_join(col("path"), "/")).as("path_md5"))
      .orderBy("root", "node")

  /** q230: the subtree ROLLUP over the same forest — the aggregation
    * half of BOM processing (q226 materializes WHERE everything sits;
    * q230 answers "how much demand under each assembly"): for every
    * part node, the size of its subtree and the total lineitem demand
    * (quantity sum, order-line count) over all descendant parts
    * including itself.
    *
    * Shape: the ancestor closure IS the expansion's path column — each
    * (node, path) row explodes to (ancestor, node) pairs (Σ|path| ≈
    * N·log_F N rows, never N²), joined to per-part demand
    * (pre-aggregated partial+final BEFORE the join, so lineitem
    * touches the closure at part grain, not line grain) and rolled up
    * by ancestor. The root's group absorbs N contributions — map-side
    * partial aggregation combines per partition, so no single task
    * sees the whole corpus (the q199 hierarchical-decomposition
    * argument). Demand stays integral (l_quantity is an integral
    * double; both engines cast exactly). */
  def q230SubtreeRollup(s: SparkSession, dir: String): DataFrame = {
    val anc = hierarchyPaths(s, dir)
      .select(col("node"), explode(col("path")).as("anc"))
    val demand = T(s, dir, "lineitem")
      .groupBy(col("l_partkey").as("node"))
      .agg(sum(col("l_quantity").cast("long")).as("qty"),
        count(lit(1)).as("n_li"))
    anc.join(demand, Seq("node"), "left")
      .groupBy(col("anc").as("node"))
      .agg(count(lit(1)).as("n_subtree"),
        coalesce(sum("qty"), lit(0L)).as("qty_sum"),
        coalesce(sum("n_li"), lit(0L)).as("n_lineitems"))
      .orderBy("node")
  }

  private[ops] val SpIters = 4
  private[ops] val SpSeedMod = 17

  /** The weighted co-purchase graph under q235: q218's edge set
    * (support ≥ 2 part pairs, the shared Affinity universe) as two
    * directed rows, each carrying the integer "distance"
    * `1 + 1000 div n_pair` — frequently co-bought parts are CLOSE, so
    * a cheap path is a chain of strong affinities. */
  private def weightedCoEdges(s: SparkSession, dir: String): DataFrame = {
    val p = Affinity.pairCounts(Affinity.basketItems(s, dir))
      .filter(col("n_pair") >= 2)
      .withColumn("w", expr("1L + 1000 div n_pair"))
    p.select(col("p1").as("src"), col("p2").as("dst"), col("w"))
      .union(p.select(col("p2").as("src"), col("p1").as("dst"), col("w")))
  }

  /** q235: multi-source WEIGHTED shortest path — the min-plus semiring
    * on DataFrames, the third propagation algebra in the graph family
    * (q196 sums damped mass, q226 enumerates acyclic paths; q235
    * RELAXES distances, the semantics that stays bounded on CYCLIC
    * graphs where frontier recursion would enumerate paths forever):
    * from every seed part (graph nodes ≡ 0 mod [[SpSeedMod]], dist 0),
    * [[SpIters]] Bellman-Ford rounds of
    * `dist' = min(dist, min over in-edges (dist_src + w))` over the
    * weighted co-purchase graph — "how close is every part to a seed
    * part through chains of strong co-purchase affinity, within 4
    * hops".
    *
    * Determinism: weights and distances are BIGINTs and min-plus is a
    * true semiring — min and + are associative/commutative, so NO
    * reduction order (Spark partial aggregates, DuckDB's, anything)
    * can move a bit; the oracle unrolls the identical rounds as CTEs
    * (the q196 `prIterSql` discipline applied to relaxation).
    *
    * Scale shape: per round, ONE equi-join of the node-sized distance
    * table to the edge list on src and ONE partial+final MIN aggregate
    * on the receiving node — hub skew combines map-side (min is
    * associative) before any shuffle; lineage truncates per round
    * (localCheckpoint, the q196/q226 discipline) so the plan never
    * grows with rounds. At 100 TB: edges bucketed on src, every round
    * reuses one exchange; the distance table stays node-sized. */
  def q235ShortestPath(s: SparkSession, dir: String): DataFrame = {
    val edges = weightedCoEdges(s, dir).localCheckpoint(true)
    // the edge-row count bounds the node-sized distance table whatever
    // the round
    val nEdges = edges.count()
    var dist = edges.select(col("src").as("node")).distinct()
      .filter(col("node") % SpSeedMod === 0)
      .select(col("node"), lit(0L).as("dist"))
      .localCheckpoint(true)
    for (_ <- 1 to SpIters) {
      val relax = dist.join(edges, col("node") === col("src"))
        .select(col("dst").as("node"), (col("dist") + col("w")).as("dist"))
      dist = Fixpoint.materialize(dist.unionByName(relax)
        .groupBy("node").agg(min("dist").as("dist")), nEdges, rowBytes = 24L)
    }
    dist.orderBy("node")
  }

  private[ops] val LpIters = 3
  // (count, label) argmax packed into ONE BIGINT: cnt·2⁴⁰ + (2⁴⁰−1−lab)
  // — larger count wins, ties break to the SMALLEST label; exact while
  // labels < 2⁴⁰ and counts < 2²³ (widen the packing, or switch to a
  // struct max_by, if a deployment's node ids outgrow 40 bits)
  private[ops] val LpPack = 1L << 40

  /** q239: synchronous label propagation — community detection over the
    * co-purchase graph, the FOURTH propagation algebra in the family
    * (q196 sums damped mass, q226/q230 enumerate acyclic paths, q235
    * relaxes min-plus distances; q239 takes the neighborhood MODE — the
    * argmax-vote semiring LPA/WCC-style community detection runs).
    * Labels start as node ids; each of [[LpIters]] synchronous rounds
    * re-labels every node with its neighbors' most frequent label
    * (ties → smallest label — the deterministic tie-break that makes
    * synchronous LPA engine-exact, where textbook random tie-breaks
    * make it a coin flip).
    *
    * Determinism: the (count, label) argmax rides one packed BIGINT
    * ([[LpPack]]) under a plain MAX — associative, so no reduction
    * order on either engine can move a bit; the oracle unrolls the
    * identical rounds as CTEs (the q196/q235 discipline applied to
    * mode propagation).
    *
    * Scale shape: per round, ONE equi-join of the node-sized label
    * table to the edge list and TWO partial+final aggregates (vote
    * count, then packed argmax) — hub skew combines map-side in both
    * (count and max are associative); lineage truncates per round.
    * At 100 TB: edges bucketed on dst so every round reuses one
    * exchange; the label table stays node-sized. Output: the 20
    * largest communities plus the global community count riding each
    * row (q218's bounded 1-row crossJoin). */
  def q239LabelProp(s: SparkSession, dir: String): DataFrame = {
    val p = Affinity.pairCounts(Affinity.basketItems(s, dir))
      .filter(col("n_pair") >= 2).select("p1", "p2")
    val edges = p.select(col("p1").as("src"), col("p2").as("dst"))
      .union(p.select(col("p2").as("src"), col("p1").as("dst")))
      .localCheckpoint(true)
    var lab = edges.select(col("src").as("node")).distinct()
      .select(col("node"), col("node").as("lab"))
      .localCheckpoint(true)
    // the label table is node-sized every round
    val nNodes = lab.count()
    for (_ <- 1 to LpIters) {
      val votes = edges
        .join(lab.select(col("node").as("dst"), col("lab")), "dst")
        .groupBy(col("src"), col("lab"))
        .agg(count(lit(1)).as("cnt"))
        .groupBy(col("src").as("node"))
        .agg(max(col("cnt") * LpPack + (lit(LpPack - 1) - col("lab")))
          .as("key"))
        .select(col("node"),
          (lit(LpPack - 1) - col("key") % LpPack).as("newlab"))
      // left join + coalesce: an isolated node keeps its label — the
      // OPERATOR contract for arbitrary edge inputs (the symmetric
      // co-purchase construction guarantees in-neighbors, so the
      // branch is a no-op on the graded universe)
      lab = Fixpoint.materialize(lab.join(votes, Seq("node"), "left")
        .select(col("node"), coalesce(col("newlab"), col("lab")).as("lab")),
        nNodes, rowBytes = 24L)
    }
    val total = lab.agg(countDistinct("lab").as("n_communities"))
    lab.groupBy("lab").agg(count(lit(1)).as("n_members"))
      .crossJoin(broadcast(total)) // 1-row global total rides every row
      .orderBy(col("n_members").desc, col("lab"))
      .limit(20)
  }

  private[ops] val KcIters = 4

  /** q256: k-core decomposition trace — the SIXTH propagation algebra
    * in the graph family (q196 sums damped mass, q226/q230 enumerate
    * acyclic paths, q235 relaxes min-plus, q239 takes the neighborhood
    * mode; q256 PEELS a fixpoint subgraph): iteratively remove every
    * node with fewer than k surviving neighbors until stable — the
    * standard cohesion primitive (spam/bot subgraphs survive k-core
    * where organic long tails do not; graph-ML pipelines ship
    * core-number features). k is DERIVED, not pinned: ⌈mean degree⌉ of
    * the initial graph ("the above-average core"), because the
    * co-purchase graph's density swings an order of magnitude across
    * scale factors — a constant k peels everything at one SF and
    * nothing at another; ceil keeps it an exact integer
    * (`(Σdeg + n − 1) div n`, one 1-row aggregate collected driver-side)
    * and guarantees at least one node sits below it on any non-regular
    * graph. Output: the per-round (nodes, edges) trace over [[KcIters]]
    * rounds plus k and the converged flag — the trace IS the diagnostic
    * (how fast the graph sheds its periphery), and fixing the round
    * count keeps the cross-engine unroll finite; the flag says whether
    * the cap bound the result (both engines compute the identical
    * partial either way).
    *
    * Why peeling needs ROUNDS at all (the non-obvious part): removing
    * a degree-2 node can drop its neighbor under k, so one filter pass
    * is not a k-core — KCoreSpec's chain fixture makes a single-pass
    * implementation fail loudly.
    *
    * Scale shape: per round ONE degree aggregate (partial+final count
    * on src — hub skew combines map-side) and TWO semi-joins of the
    * edge list against the node-sized keep set; lineage truncates per
    * round (localCheckpoint, the family discipline). At 100 TB edges
    * bucket on src and every round reuses one exchange; the trace
    * reaching the driver is iteration-cap-bounded scalars. */
  def q256KCore(s: SparkSession, dir: String): DataFrame = {
    val p = Affinity.pairCounts(Affinity.basketItems(s, dir))
      .filter(col("n_pair") >= 2).select("p1", "p2")
    // symmetric closure via ONE explode instead of a two-branch union —
    // one pass over the pair aggregate, nothing for ReuseExchange to
    // have to rescue (r18, guide §2.4)
    val edges = p
      .select(explode(array(
        struct(col("p1").as("src"), col("p2").as("dst")),
        struct(col("p2").as("src"), col("p1").as("dst")))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"))
      .localCheckpoint(true) // deg + every peel round read it
    val deg = kcoreDegrees(edges, Int.MaxValue)
    // ⌈mean degree⌉ off the NODE-sized degree table (sum(c) over deg =
    // edge rows; count(*) = distinct src — identical to the former
    // corpus-aggregate derivation, one tiny scan instead)
    val k = deg.agg(expr("(sum(c) + count(*) - 1) div count(*)").as("k"))
      .collect()(0).getLong(0)
    kcoreTraceFrom(s, edges, deg, k, KcIters)
  }

  /** Per-src degree counts of a checkpointed edge frame, eagerly
    * materialized at a width derived from the expected node count —
    * the single corpus-scanning aggregate each peel round pays. The
    * checkpoint is load-bearing twice over: the keep set filters it
    * (both endpoint semi-joins broadcast-build from the tiny
    * materialized table instead of re-aggregating the edges) and the
    * round's trace scalars are aggregates of it (node count = rows,
    * edge rows = sum of degrees), so the former per-round
    * `distinct().count()` + `count()` corpus scans collapse into one
    * node-sized aggregate (r18, guide §2.4). */
  private def kcoreDegrees(edges: DataFrame, maxNodes: Long): DataFrame =
    Fixpoint.materialize(edges.groupBy("src").agg(count(lit(1)).as("c")),
      maxNodes, rowBytes = 24L)

  /** The peeling loop under q256 on any SYMMETRIC (src, dst) edge
    * frame — split out so KCoreSpec can drive the cascade fixture (a
    * chain whose removal propagates over several rounds) through the
    * exact graded plan. */
  private[graft] def kcoreTrace(s: SparkSession, edgesIn: DataFrame,
                                k: Long, iters: Int): DataFrame = {
    val edges = edgesIn.localCheckpoint(true)
    kcoreTraceFrom(s, edges, kcoreDegrees(edges, Int.MaxValue), k, iters)
  }

  /** Peeling over a pre-checkpointed edge frame and its
    * [[kcoreDegrees]] table. Per round: ONE edge-sized job (the two
    * broadcast semi-probes + checkpoint, coalesced to the width the
    * previous round's measured edge count warrants —
    * [[Fixpoint.materialize]]), one node-sized degree job, one tiny trace
    * aggregate. The former shape ran four corpus-scanning jobs per
    * round (keep checkpoint, probe checkpoint, distinct-count, count)
    * at the session's full static width regardless of how far the
    * graph had already peeled. */
  private def kcoreTraceFrom(s: SparkSession, edges0: DataFrame,
                             deg0: DataFrame, k: Long,
                             iters: Int): DataFrame = {
    var edges = edges0
    var deg = deg0
    // (n_nodes, undirected edges) off the node-sized degree table
    def traceOf(d: DataFrame): (Long, Long) = {
      val r = d.agg(count(lit(1)).as("n"), sum(col("c")).as("m")).collect()(0)
      (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1) / 2)
    }
    val trace = Seq.newBuilder[(Int, Long, Long)]
    var (n, m) = traceOf(deg)
    trace += ((0, n, m))
    for (r <- 1 to iters) {
      val keep = deg.filter(col("c") >= k).select("src")
      // the previous round's measured edge-row count (2m) bounds this
      // round's — peeling is monotone
      edges = Fixpoint.materialize(edges
        .join(keep, Seq("src"), "left_semi")
        .join(keep.select(col("src").as("dst")), Seq("dst"), "left_semi"),
        2 * m, rowBytes = 32L)
      deg = kcoreDegrees(edges, n)
      val t = traceOf(deg)
      n = t._1; m = t._2
      trace += ((r, n, m))
    }
    val t = trace.result()
    // stable last round ⇒ a true fixpoint (peeling is monotone, so an
    // unchanged round can never change again)
    val converged =
      t.last._2 == t(t.size - 2)._2 && t.last._3 == t(t.size - 2)._3
    import s.implicits._
    t.map { case (r, n, m) => (r, k, n, m, converged) }
      .toDF("round", "k", "n_nodes", "n_edges", "converged")
      .orderBy("round")
  }

  /** q272 constants: the per-hub neighbor-list cap and the result
    * depth, shared with the oracle. */
  private[ops] val LinkTopNbr = 8
  private[ops] val LinkTopK = 20

  /** q272: link prediction by weighted common neighbors — "which two
    * customers who never traded through the same channels look most
    * alike": for customer pairs sharing suppliers, score
    * Σ_s 2²⁰ div bitlen(deg(s)) over the common suppliers — the
    * Adamic–Adar shape with the q214 integer log₂ proxy instead of
    * libm's `ln` (rare shared suppliers count more; engine-exact).
    *
    * The scale device is NEIGHBOR-LIST TRUNCATION: pair generation
    * from a hub with d neighbors is d² — unbounded by data. Each
    * supplier contributes pairs only among its [[LinkTopNbr]]
    * strongest customers (by trade-line count, ties by key), capping
    * the per-hub fan-out at C(8,2) = 28 while the DEGREE in the weight
    * stays the full one — the standard production trick (the q78
    * maxDf discipline pointed at graphs). The rank window partitions
    * on the supplier (bounded groups), never globally. */
  def q272LinkPredict(s: SparkSession, dir: String): DataFrame = {
    val pairs = T(s, dir, "lineitem").select("l_orderkey", "l_suppkey")
      .join(T(s, dir, "orders").select("o_orderkey", "o_custkey"),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("l_suppkey").as("sk"), col("o_custkey").as("ck"))
      .agg(count(lit(1)).as("n_lines"))
    val deg = pairs.groupBy("sk").agg(count(lit(1)).as("d"))
      .withColumn("wt", expr(s"$PrScale div length(bin(d))"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("sk").orderBy(col("n_lines").desc, col("ck"))
    val top = pairs.withColumn("r", row_number().over(w))
      .filter(col("r") <= LinkTopNbr)
      .select("sk", "ck")
    val a = top.select(col("sk"), col("ck").as("c1"))
    val b = top.select(col("sk"), col("ck").as("c2"))
    a.join(b, "sk").filter(col("c1") < col("c2"))
      .join(deg.select("sk", "wt"), "sk")
      .groupBy("c1", "c2")
      .agg(count(lit(1)).as("n_common"), sum("wt").as("score_fx"))
      .orderBy(col("score_fx").desc, col("c1"), col("c2"))
      .limit(LinkTopK)
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q272_link_predict" -> q272LinkPredict _,
    "q196_pagerank" -> q196PageRank _,
    "q218_triangles" -> q218Triangles _,
    "q226_hierarchy_expand" -> q226HierarchyExpand _,
    "q230_subtree_rollup" -> q230SubtreeRollup _,
    "q235_shortest_path" -> q235ShortestPath _,
    "q239_label_prop" -> q239LabelProp _,
    "q256_kcore" -> q256KCore _,
  )

  /** One unrolled peeling round (mirrors the Spark loop exactly:
    * degree count, keep set, both-endpoint filter). Each e$t is
    * MATERIALIZED: every round's edge set is referenced by the next
    * round AND two trace scalars, so DuckDB's default CTE inlining
    * re-evaluates the whole chain per reference — exponential in the
    * round count (measured: the inlined form never finished at sf0.01;
    * materialized it is 0.08 s). The Spark side's localCheckpoint is
    * the same decision. */
  private def kcIterSql(t: Int): String =
    s"""d$t AS (SELECT src, count(*) AS c FROM e${t - 1} GROUP BY 1),
       |k$t AS (SELECT src FROM d$t WHERE c >= (SELECT k FROM kk)),
       |e$t AS MATERIALIZED (SELECT e.src, e.dst FROM e${t - 1} e
       |        JOIN k$t a ON e.src = a.src JOIN k$t b ON e.dst = b.src),""".stripMargin

  private def kcTraceRow(r: Int): String =
    s"SELECT $r AS round, (SELECT count(DISTINCT src) FROM e$r) AS n_nodes, " +
      s"(SELECT count(*) // 2 FROM e$r) AS n_edges"

  /** One unrolled synchronous LPA round (mirrors the Spark loop
    * exactly: vote count, packed argmax, left-join label keep). */
  private def lpIterSql(prev: String, t: Int): String = {
    val pk = LpPack; val pm = LpPack - 1
    s"""v$t AS (SELECT e.src, l.lab, count(*) AS cnt
       |        FROM e JOIN $prev l ON e.dst = l.node GROUP BY 1, 2),
       |m$t AS (SELECT src AS node,
       |        CAST($pm - (MAX(cnt * $pk + ($pm - lab)) % $pk) AS BIGINT) AS newlab
       |        FROM v$t GROUP BY 1),
       |l$t AS (SELECT p.node, COALESCE(m.newlab, p.lab) AS lab
       |        FROM $prev p LEFT JOIN m$t m ON p.node = m.node),""".stripMargin
  }

  /** One unrolled integer PageRank iteration (mirrors the Spark loop
    * exactly: per-edge floor-divided contribution, integer sum,
    * damping base re-added; missing inbound mass → base only). */
  private def prIterSql(prev: String, t: Int): String =
    s"""ctr$t AS (SELECT e.dst AS node,
       |          SUM((p.pr * 85) // (d.outdeg * 100)) AS ctr
       |          FROM edges e JOIN $prev p ON e.src = p.node
       |               JOIN deg d ON e.src = d.src
       |          GROUP BY 1),
       |p$t AS (SELECT n.node,
       |        CAST(157286 + COALESCE(c.ctr, 0) AS BIGINT) AS pr
       |        FROM n LEFT JOIN ctr$t c ON n.node = c.node),""".stripMargin

  /** One unrolled Bellman-Ford round (mirrors the Spark loop exactly:
    * keep-or-relax union, integer min). */
  private def spIterSql(prev: String, t: Int): String =
    s"""d$t AS (SELECT node, MIN(dist) AS dist FROM (
       |        SELECT node, dist FROM $prev
       |        UNION ALL
       |        SELECT e.dst AS node, p.dist + e.w AS dist
       |        FROM $prev p JOIN e ON e.src = p.node) GROUP BY 1),""".stripMargin

  val oracle: Map[String, String] = Map(
    // q272: identical truncation rank, full-degree bitlen weights, and
    // the (score desc, c1, c2) total order
    "q272_link_predict" ->
      s"""WITH p AS (SELECT l_suppkey AS sk, o_custkey AS ck, count(*) AS n_lines
        |           FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |           GROUP BY 1, 2),
        |deg AS (SELECT sk, $PrScale // length(bin(count(*))) AS wt
        |        FROM p GROUP BY sk),
        |top AS (SELECT sk, ck FROM (
        |          SELECT sk, ck, row_number() OVER (PARTITION BY sk
        |            ORDER BY n_lines DESC, ck) AS r FROM p)
        |        WHERE r <= $LinkTopNbr)
        |SELECT a.ck AS c1, b.ck AS c2, count(*) AS n_common,
        |       CAST(sum(d.wt) AS BIGINT) AS score_fx
        |FROM top a JOIN top b ON a.sk = b.sk AND a.ck < b.ck
        |     JOIN deg d ON d.sk = a.sk
        |GROUP BY 1, 2
        |ORDER BY score_fx DESC, c1, c2 LIMIT $LinkTopK""".stripMargin,
    // q256: the same support-≥2 co-purchase universe, KcIters unrolled
    // peeling rounds (degree → keep → both-endpoint filter), the trace
    // as one row per round, convergence = last two rounds identical
    "q256_kcore" ->
      s"""WITH ${Affinity.itemsCte},
        |${Affinity.pairCte(2)},
        |e0 AS MATERIALIZED (SELECT p1 AS src, p2 AS dst FROM p
        |       UNION ALL SELECT p2 AS src, p1 AS dst FROM p),
        |kk AS MATERIALIZED (SELECT (sum(c) + count(*) - 1) // count(*) AS k
        |       FROM (SELECT src, count(*) AS c FROM e0 GROUP BY 1)),
        |${kcIterSql(1)}
        |${kcIterSql(2)}
        |${kcIterSql(3)}
        |${kcIterSql(4)}
        |t AS (${(0 to KcIters).map(kcTraceRow).mkString("\n  UNION ALL ")}),
        |c AS (SELECT (SELECT n_nodes FROM t WHERE round = $KcIters) =
        |             (SELECT n_nodes FROM t WHERE round = ${KcIters - 1})
        |         AND (SELECT n_edges FROM t WHERE round = $KcIters) =
        |             (SELECT n_edges FROM t WHERE round = ${KcIters - 1}) AS converged)
        |SELECT CAST(t.round AS INTEGER) AS round, CAST(kk.k AS BIGINT) AS k,
        |       CAST(t.n_nodes AS BIGINT) AS n_nodes,
        |       CAST(t.n_edges AS BIGINT) AS n_edges, c.converged
        |FROM t, c, kk ORDER BY round""".stripMargin,
    // q239: the same support-≥2 co-purchase universe, LpIters unrolled
    // argmax-vote rounds on the identical packed-BIGINT tie-break
    "q239_label_prop" ->
      s"""WITH ${Affinity.itemsCte},
        |${Affinity.pairCte(2)},
        |e AS (SELECT p1 AS src, p2 AS dst FROM p
        |      UNION ALL SELECT p2 AS src, p1 AS dst FROM p),
        |l0 AS (SELECT DISTINCT src AS node, CAST(src AS BIGINT) AS lab FROM e),
        |${lpIterSql("l0", 1)}
        |${lpIterSql("l1", 2)}
        |${lpIterSql("l2", 3)}
        |h AS (SELECT lab, count(*) AS n_members FROM l3 GROUP BY 1),
        |tot AS (SELECT CAST(count(DISTINCT lab) AS BIGINT) AS n_communities FROM l3)
        |SELECT h.lab, CAST(h.n_members AS BIGINT) AS n_members, tot.n_communities
        |FROM h, tot ORDER BY n_members DESC, lab LIMIT 20""".stripMargin,
    // q235: the same support-≥2 co-purchase universe as q218, weighted
    // 1 + 1000 // n_pair, SpIters unrolled min-plus rounds from the
    // mod-SpSeedMod seed set — CTE-per-round, the q196 discipline
    "q235_shortest_path" ->
      s"""WITH ${Affinity.itemsCte},
        |${Affinity.pairCte(2)},
        |e AS (SELECT p1 AS src, p2 AS dst, CAST(1 + 1000 // n_pair AS BIGINT) AS w FROM p
        |      UNION ALL
        |      SELECT p2 AS src, p1 AS dst, CAST(1 + 1000 // n_pair AS BIGINT) AS w FROM p),
        |d0 AS (SELECT DISTINCT src AS node, CAST(0 AS BIGINT) AS dist
        |       FROM e WHERE src % $SpSeedMod = 0),
        |${spIterSql("d0", 1)}
        |${spIterSql("d1", 2)}
        |${spIterSql("d2", 3)}
        |${spIterSql("d3", 4)}
        |sel AS (SELECT node, dist FROM d4)
        |SELECT node, dist FROM sel ORDER BY node""".stripMargin,
    // q230: list-path recursion + unnest ancestor closure + demand
    // left join — the same forest as q226 (same edges, roots, cap,
    // cycle guard), rolled up instead of reported
    "q230_subtree_rollup" ->
      s"""WITH RECURSIVE edges AS (SELECT p_partkey // $HierFanout AS parent, p_partkey AS child
        |                         FROM part WHERE p_partkey >= $HierFanout),
        |r AS (SELECT p_partkey AS node, [p_partkey] AS path
        |      FROM part WHERE p_partkey < $HierFanout
        |      UNION ALL
        |      SELECT e.child, list_append(r.path, e.child)
        |      FROM r JOIN edges e ON e.parent = r.node
        |      WHERE len(r.path) <= $HierMaxDepth
        |        AND NOT list_contains(r.path, e.child)),
        |anc AS (SELECT node, unnest(path) AS anc FROM r),
        |demand AS (SELECT l_partkey AS node,
        |           SUM(CAST(l_quantity AS BIGINT)) AS qty,
        |           count(*) AS n_li
        |           FROM lineitem GROUP BY 1)
        |SELECT a.anc AS node, CAST(count(*) AS BIGINT) AS n_subtree,
        |       CAST(COALESCE(SUM(d.qty), 0) AS BIGINT) AS qty_sum,
        |       CAST(COALESCE(SUM(d.n_li), 0) AS BIGINT) AS n_lineitems
        |FROM anc a LEFT JOIN demand d ON a.node = d.node
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    // q226: the canonical WITH RECURSIVE twin — same forest, same
    // cycle guard, same depth cap
    "q226_hierarchy_expand" ->
      s"""WITH RECURSIVE edges AS (SELECT p_partkey // $HierFanout AS parent, p_partkey AS child
        |                         FROM part WHERE p_partkey >= $HierFanout),
        |r AS (SELECT p_partkey AS root, p_partkey AS node, 0 AS depth,
        |             CAST(p_partkey AS VARCHAR) AS path
        |      FROM part WHERE p_partkey < $HierFanout
        |      UNION ALL
        |      SELECT r.root, e.child, r.depth + 1,
        |             r.path || '/' || CAST(e.child AS VARCHAR)
        |      FROM r JOIN edges e ON e.parent = r.node
        |      WHERE r.depth < $HierMaxDepth
        |        AND strpos('/' || r.path || '/', '/' || CAST(e.child AS VARCHAR) || '/') = 0)
        |SELECT root, node, CAST(depth AS INTEGER) AS depth, md5(path) AS path_md5
        |FROM r ORDER BY root, node""".stripMargin,
    // q218: the SEMANTIC ground truth — x<y<z three-way join, no
    // orientation (degree orientation is the Spark-side scale device;
    // the triangle SET is identical by construction)
    "q218_triangles" ->
      s"""WITH ${Affinity.itemsCte},
        |${Affinity.pairCte(2)},
        |e AS (SELECT p1, p2 FROM p),
        |tri AS (SELECT e1.p1 AS x, e1.p2 AS y, e2.p2 AS z
        |        FROM e e1
        |        JOIN e e2 ON e2.p1 = e1.p2
        |        JOIN e e3 ON e3.p1 = e1.p1 AND e3.p2 = e2.p2),
        |tot AS (SELECT CAST(count(*) AS BIGINT) AS n_triangles FROM tri),
        |c AS (SELECT part, count(*) AS n_tri
        |      FROM (SELECT unnest([x, y, z]) AS part FROM tri)
        |      GROUP BY 1)
        |SELECT part, CAST(n_tri AS BIGINT) AS n_tri, tot.n_triangles
        |FROM c, tot
        |ORDER BY n_tri DESC, part LIMIT 20""".stripMargin,
    "q196_pagerank" ->
      s"""WITH le AS (SELECT DISTINCT l_suppkey * 2 AS s, o_custkey * 2 + 1 AS c
        |            FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
        |edges AS (SELECT s AS src, c AS dst FROM le
        |          UNION ALL SELECT c AS src, s AS dst FROM le),
        |deg AS (SELECT src, count(*) AS outdeg FROM edges GROUP BY 1),
        |n AS (SELECT DISTINCT src AS node FROM edges),
        |p0 AS (SELECT node, CAST(1048576 AS BIGINT) AS pr FROM n),
        |${prIterSql("p0", 1)}
        |${prIterSql("p1", 2)}
        |${prIterSql("p2", 3)}
        |sel AS (SELECT node AS node_id,
        |        CASE WHEN node % 2 = 0 THEN 's' ELSE 'c' END AS kind,
        |        pr AS pr_fx
        |        FROM p3)
        |SELECT node_id, kind, pr_fx FROM sel
        |ORDER BY pr_fx DESC, node_id LIMIT 20""".stripMargin,
  )
}
