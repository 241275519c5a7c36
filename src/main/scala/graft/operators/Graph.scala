package graft.operators

import graft.{InternalCaches, QueryDef}
import graft.sources.Tables.table
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Iterative link-graph centrality (PageRank) over a relationship graph
  * derived from the harness tables — the "which suppliers/customers
  * anchor the trade graph" analysis, and the engine's representative
  * ITERATIVE operator: N rounds of join → aggregate with bounded
  * lineage, the Pregel-on-DataFrames shape.
  *
  * FIXED-POINT INTEGER ARITHMETIC, not doubles: each node's mass is a
  * BIGINT in units of 1/Mass (1e-12). Per-edge contributions are
  * integer floor-divisions (`pr div outdeg`) and the damping step is
  * `(85 * sum) div 100`, so every per-node sum is a sum of integers —
  * exact and ORDER-FREE regardless of partitioning, task order, or
  * engine. A double formulation would accumulate in whatever order the
  * shuffle delivered rows and could never hash-match an external
  * replay; this one is bit-identical in Spark and DuckDB (the same
  * quantize-before-summing contract as TextAnalysis.lmScored).
  *
  * Scale shape: `edges` (with out-degree attached) is the 100 TB side;
  * it persists ONCE and every iteration re-joins the (nodes-sized)
  * rank frame against it — rank is the only thing that shuffles per
  * round. `checkpointEvery` truncates lineage so a 50-iteration run
  * does not replan a 50-deep join tree (same bounded-lineage pattern
  * as Dedup.clusterPairs' label-propagation rounds).
  */
object Graph {

  /** Total mass in integer units: ranks are BIGINT fractions of this. */
  val Mass = 1000000000000L

  /** `iters` rounds of damped (d=0.85) PageRank over directed `edges`
    * (`src`, `dst` string columns). Every node must appear as a source
    * (callers build bidirectional edge sets, so out-degree ≥ 1 and no
    * dangling-mass redistribution is needed). Returns (node, pr) with
    * pr summing to ≈ Mass (floor losses only), ordered by rank.
    */
  def pageRank(edges: DataFrame, iters: Int = 10,
      checkpointEvery: Int = 0): DataFrame = {
    val deg = edges.groupBy("src").agg(count(lit(1)).as("outdeg"))
    pageRankPrepared(
      edges.join(deg, "src"),
      edges.select(col("src").as("node")).distinct(),
      iters, checkpointEvery)
  }

  /** The iteration over an ALREADY degree-annotated adjacency
    * (src, dst, outdeg) and its node list — the two frames a
    * materialized graph artifact stores, so a prepared caller skips
    * the per-run degree build entirely.
    */
  def pageRankPrepared(adjacency: DataFrame, nodeList: DataFrame,
      iters: Int, checkpointEvery: Int,
      maxBroadcastNodes: Long = 4000000L): DataFrame = {
    // the rank frame is nodes-sized (≪ edges) — BROADCAST it, or every
    // iteration re-exchanges the persisted edge frame into a sort-merge
    // join and the big side shuffles `iters` times (measured 13.8 s →
    // 4.3 s at sf0.1 for 10 rounds). A broadcast is a hard driver/
    // executor-memory ceiling though, so gate it on the MEASURED node
    // count (one cheap count action, paid before the persist below):
    // past `maxBroadcastNodes` (default 4 M ≈ a few hundred MB of
    // (node, pr) rows) fall back to persisting BOTH loop-invariant
    // frames PRE-PARTITIONED on their join keys — edges on src AND
    // nodes on node — so each round's two sort-merge joins shuffle
    // only the nodes-sized rank/contribution frames into those
    // partitionings; the persisted sides stay in place either way.
    val nNodes = nodeList.count()
    val bcastRanks = nNodes <= maxBroadcastNodes
    val nodes = InternalCaches.track(
      (if (bcastRanks) nodeList
       else nodeList.repartition(col("node"))).persist())
    def ranksSide(df: DataFrame): DataFrame =
      if (bcastRanks) broadcast(df) else df
    // reused every iteration: persist the degree-annotated edge list
    val e = InternalCaches.track(
      (if (bcastRanks) adjacency
       else adjacency.repartition(col("src"))).persist())
    // 1-row broadcast scalar (N, base): the only non-equi join in the
    // loop, same shape as q_lm_score's vocab-size factor
    val sc = broadcast(nodes.agg(count(lit(1)).as("n"))
      .selectExpr("n", s"(15 * $Mass) div (100 * n) as base"))
    var pr = nodes.crossJoin(sc).selectExpr("node", s"$Mass div n as pr")
    for (i <- 1 to iters) {
      val sums = e.join(ranksSide(pr), e("src") === pr("node"))
        .selectExpr("dst", "pr div outdeg as c")
        .groupBy("dst").agg(sum("c").as("contrib"))
      pr = nodes.join(ranksSide(sums), nodes("node") === sums("dst"), "left")
        .crossJoin(sc)
        .selectExpr("node", "base + (85 * coalesce(contrib, 0)) div 100 as pr")
      // truncate lineage mid-run; the final iteration stays lazy so
      // the caller's action drives it
      if (checkpointEvery > 0 && i % checkpointEvery == 0 && i < iters) {
        val (df, h) = InternalCaches.localCheckpointHandle(pr)
        InternalCaches.trackRdds(h)
        pr = df
      }
    }
    pr.orderBy(col("pr").desc, col("node"))
  }

  /** Part co-order graph: an undirected edge (a < b) for every pair of
    * parts sharing an order among high-quantity lines (l_quantity >
    * 25 — half the lines, keeping the projection sparse: ~29 k edges
    * over 2 k parts at sf0.01). Per-order fan-out is bounded by the
    * order's line count (≤ 7), so the pair explosion is row-local; the
    * only corpus-wide shuffle is the final distinct.
    */
  def partCoOrderEdges(s: org.apache.spark.sql.SparkSession,
      dir: String, minQty: Int = 25): DataFrame = {
    val lp = graft.functions.Functions.spreadScan(
      table(s, dir, "lineitem").filter(col("l_quantity") > minQty)
        .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk")))
      .distinct()
    lp.toDF("ok", "a").join(lp.toDF("ok", "b"), "ok")
      .filter(col("a") < col("b")).select("a", "b").distinct()
  }

  /** Memoized co-order edge list (content-keyed on the lineitem file,
    * the memoShingles pattern): an edge list IS a materialized graph
    * artifact — every analysis over the same graph (triangles, cores,
    * components …) should read it, not re-derive it from the fact
    * table. Build-once-analyze-many; a changed source misses the key.
    */
  private[graft] def memoCoOrderEdges(s: org.apache.spark.sql.SparkSession,
      dir: String): DataFrame = {
    val cache = graft.sources.DerivedCache.dirFor(
      s, s"$dir/lineitem.parquet", "coorder-edges")
    if (!graft.sources.DerivedCache.isComplete(s, cache))
      partCoOrderEdges(s, dir).write.mode("overwrite").parquet(cache)
    graft.sources.DerivedCache.read(s, cache)
  }

  /** Memoized trade-graph pair list. Two source tables feed it, and
    * `DerivedCache.dirFor` keys on one file — the second table's
    * identity rides the params string so a changed orders file misses
    * the key exactly like a changed lineitem.
    */
  private def memoTradePairs(s: org.apache.spark.sql.SparkSession,
      dir: String): DataFrame = {
    val p = new org.apache.hadoop.fs.Path(s"$dir/orders.parquet")
    val st = p.getFileSystem(s.sparkContext.hadoopConfiguration)
      .getFileStatus(p)
    val cache = graft.sources.DerivedCache.dirFor(
      s, s"$dir/lineitem.parquet", "trade-edges",
      s"${st.getModificationTime}:${st.getLen}")
    if (!graft.sources.DerivedCache.isComplete(s, cache))
      tradePairs(s, dir).write.mode("overwrite").parquet(cache)
    graft.sources.DerivedCache.read(s, cache)
  }

  /** The trade graph in its MATERIALIZED iteration form: the
    * degree-annotated bidirectional adjacency and the node list, each
    * its own artifact keyed like [[memoTradePairs]] — what an
    * iterative engine actually stores (adjacency with degrees IS the
    * standard graph representation), so every pageRank run starts at
    * the iteration, not at the degree build.
    */
  private[graft] def memoTradeGraph(s: org.apache.spark.sql.SparkSession,
      dir: String): (DataFrame, DataFrame) = {
    val p = new org.apache.hadoop.fs.Path(s"$dir/orders.parquet")
    val st = p.getFileSystem(s.sparkContext.hadoopConfiguration)
      .getFileStatus(p)
    val params = s"${st.getModificationTime}:${st.getLen}"
    val adjDir = graft.sources.DerivedCache.dirFor(
      s, s"$dir/lineitem.parquet", "trade-adjacency", params)
    val nodeDir = graft.sources.DerivedCache.dirFor(
      s, s"$dir/lineitem.parquet", "trade-nodes", params)
    if (!graft.sources.DerivedCache.isComplete(s, adjDir) ||
        !graft.sources.DerivedCache.isComplete(s, nodeDir)) {
      // scoped: the build's internal persist (tradeEdges' pair cache)
      // is released when the artifacts land, without touching caches
      // other in-flight work registered
      InternalCaches.scoped {
        val edges = tradeEdges(s, dir)
        val deg = edges.groupBy("src").agg(count(lit(1)).as("outdeg"))
        edges.join(deg, "src")
          .write.mode("overwrite").parquet(adjDir)
        edges.select(col("src").as("node")).distinct()
          .write.mode("overwrite").parquet(nodeDir)
      }
    }
    (graft.sources.DerivedCache.read(s, adjDir), graft.sources.DerivedCache.read(s, nodeDir))
  }

  /** Per-node triangle counts + local clustering coefficient over an
    * undirected `(a, b), a < b` edge list — the community-structure
    * signal of a co-occurrence graph.
    *
    * Degree-ordered orientation (the standard distributed-triangle
    * trick): every edge points from its lower (deg, node) endpoint to
    * the higher, making each triangle a unique wedge at its
    * lowest-key vertex closed by one oriented edge. Max oriented
    * out-degree is O(√m), so no hub ever fans a quadratic wedge set
    * into one task — the plan shape that survives a power-law graph
    * at 100 TB. The RESULT is orientation-invariant (each triangle
    * counted exactly once at each of its 3 vertices), which is why
    * the oracle can replay it with the simpler a<b-ordered join and
    * still hash-match.
    *
    * `cc = 2·tri / (deg·(deg−1))` is one exact-integer IEEE division
    * (both operands < 2^53) — bit-identical across engines, no
    * quantization needed.
    */
  def triangleCounts(edges: DataFrame): DataFrame = {
    val und = InternalCaches.track(edges.persist())
    val deg = und.select(col("a").as("node"))
      .unionByName(und.select(col("b").as("node")))
      .groupBy("node").agg(count(lit(1)).as("deg"))
    // orientation key packed into one orderable long: deg ⋅ 2^31 + id
    // (both < 2^31) — carried on the head so wedge endpoints compare
    // without re-joining degrees
    def key(d: Column, n: Column): Column = d * lit(2147483648L) + n
    val ka = key(col("da"), col("a"))
    val kb = key(col("db"), col("b"))
    val oriented = InternalCaches.track(
      und.join(deg.toDF("a", "da"), "a").join(deg.toDF("b", "db"), "b")
        .select(
          when(ka < kb, col("a")).otherwise(col("b")).as("u"),
          when(ka < kb, col("b")).otherwise(col("a")).as("v"),
          greatest(ka, kb).as("kv"))
        .persist())
    val wedges = oriented.select(col("u"), col("v"), col("kv"))
      .join(oriented.select(col("u"), col("v").as("w"),
        col("kv").as("kw")), "u")
      .filter(col("kv") < col("kw"))
      .select("u", "v", "w")
    val closed = wedges.join(
      oriented.select(col("u").as("v"), col("v").as("w")),
      Seq("v", "w"), "left_semi")
    val tri = graft.functions.Functions.explodeOnce(
        closed, Seq.empty, array(col("u"), col("v"), col("w")), "node")
      .groupBy("node").agg(count(lit(1)).as("tri"))
    tri.join(deg, "node")
      .select(col("node"), col("deg"), col("tri"),
        round(lit(2.0) * col("tri") / (col("deg") * (col("deg") - 1)), 6)
          .as("cc"))
      .orderBy("node")
  }

  /** `rounds` peel iterations toward the k-core: each round drops
    * every node with degree < k and keeps only edges between
    * survivors. With enough rounds to reach the fixpoint (peeling is
    * monotone — converged means a further round changes nothing) the
    * survivors ARE the k-core. Per round: one node-keyed degree
    * shuffle plus two semi-joins against the (nodes-sized, broadcast-
    * able) keep set; `checkpointEvery` truncates the join-tree
    * lineage exactly as in [[pageRank]]. Returns surviving (node,
    * deg) with core-internal degrees, ordered by node.
    */
  def kCore(edges: DataFrame, k: Int, rounds: Int,
      checkpointEvery: Int = 1): DataFrame = {
    // each round references the previous edge set THREE times (degree
    // aggregate + both semi-joins), so an unpersisted chain triplicates
    // the subtree per round — 3^rounds plan copies by round 8 (the
    // exact blowup the oracle's MATERIALIZED hint prevents in DuckDB).
    // Persist the input once and checkpoint every round by default:
    // bounded lineage, one small job per peel, the clusterPairs shape.
    var e = InternalCaches.track(edges.persist())
    var prevEdges = -1L
    var i = 1
    var converged = false
    while (i <= rounds && !converged) {
      val keep = e.select(col("a").as("node"))
        .unionByName(e.select(col("b").as("node")))
        .groupBy("node").agg(count(lit(1)).as("deg"))
        .filter(col("deg") >= k).select("node")
      e = e.join(keep.toDF("a"), Seq("a"), "left_semi")
        .join(keep.toDF("b"), Seq("b"), "left_semi")
      if (checkpointEvery > 0 && i % checkpointEvery == 0 && i < rounds) {
        val (df, h) = InternalCaches.localCheckpointHandle(e)
        InternalCaches.trackRdds(h)
        e = df
        // peeling is monotone: an unchanged edge count IS the fixpoint
        // and every remaining round is a no-op — skip them. The count
        // reads the just-materialized checkpoint, so this costs
        // nothing extra; the result is identical to running all
        // `rounds` (the oracle unrolls them all).
        val n = e.count()
        converged = n == prevEdges
        prevEdges = n
      }
      i += 1
    }
    e.select(col("a").as("node"))
      .unionByName(e.select(col("b").as("node")))
      .groupBy("node").agg(count(lit(1)).as("deg"))
      .orderBy("node")
  }

  /** Shared oracle prelude: the part co-order edge list. MATERIALIZED
    * is load-bearing — each peel/wedge CTE is referenced more than
    * once, and letting the optimizer re-inline an 8-deep chain
    * duplicates the base subtree exponentially (observed: the
    * un-hinted 8-round peel never finished; materialized it runs in
    * ~0.1 s).
    */
  private val coOrderEdgesSql: String =
    """lp AS MATERIALIZED (
      |  SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
      |  FROM lineitem WHERE l_quantity > 25),
      |e AS MATERIALIZED (
      |  SELECT DISTINCT a.pk AS a, b.pk AS b
      |  FROM lp a JOIN lp b USING (ok) WHERE a.pk < b.pk)""".stripMargin

  /** The customer↔supplier trade graph: an undirected edge for every
    * distinct (customer, supplier) pair that shares an order line.
    */
  /** Distinct (customer, supplier) co-order pairs with integer node
    * encoding (customer k → 2k, supplier k → 2k+1): every shuffle,
    * aggregate, and persist in the 10-round iteration keys on the
    * node id, and long keys hash/compare/store several times cheaper
    * than 'c…'/'s…' strings — the label is cosmetic and gets attached
    * to the 16 k-row OUTPUT, not the edge list. spreadScan: the sf0.1
    * parquet files are single-split, so without it the join+project
    * feeding the distinct runs on one core.
    */
  def tradePairs(s: org.apache.spark.sql.SparkSession, dir: String): DataFrame =
    graft.functions.Functions.spreadScan(
      table(s, dir, "orders").select(col("o_orderkey"), col("o_custkey")))
      .join(graft.functions.Functions.spreadScan(
        table(s, dir, "lineitem").select(col("l_orderkey"), col("l_suppkey"))),
        col("o_orderkey") === col("l_orderkey"))
      .select((col("o_custkey").cast("long") * 2).as("a"),
        (col("l_suppkey").cast("long") * 2 + 1).as("b"))
      .distinct()

  /** Bidirectional trade edges over the memoized pair artifact. */
  def tradeEdges(s: org.apache.spark.sql.SparkSession, dir: String): DataFrame = {
    val pairs = InternalCaches.track(memoTradePairs(s, dir).persist())
    pairs.select(col("a").as("src"), col("b").as("dst"))
      .unionByName(pairs.select(col("b").as("src"), col("a").as("dst")))
  }

  /** The 'c…'/'s…' display label for an integer trade-graph node. */
  def tradeLabel(node: Column): Column =
    when(node % 2 === 0, concat(lit("c"), (node / 2).cast("long")))
      .otherwise(concat(lit("s"), ((node - 1) / 2).cast("long")))

  /** The 10-iteration replay, unrolled: standard recursive CTEs cannot
    * aggregate over the recursive reference, so each round is its own
    * CTE — identical integer arithmetic (`//` is DuckDB's integer
    * floor-div, matching Spark's `div` on the all-positive ranks).
    */
  private def pageRankOracleSql: String = {
    val rounds = (1 to 10).map { i =>
      s"""pr$i AS (
         |  SELECT n.node, CAST(sc.base + (85 * coalesce(s.c, 0)) // 100 AS BIGINT) AS pr
         |  FROM nodes n CROSS JOIN sc
         |  LEFT JOIN (
         |    SELECT e.dst AS node, CAST(sum(p.pr // e.outdeg) AS BIGINT) AS c
         |    FROM edges e JOIN pr${i - 1} p ON p.node = e.src
         |    GROUP BY e.dst) s USING (node))""".stripMargin
    }.mkString(",\n")
    s"""WITH pairs AS (
       |  SELECT DISTINCT 'c' || o_custkey AS a, 's' || l_suppkey AS b
       |  FROM orders JOIN lineitem ON l_orderkey = o_orderkey),
       |edges0 AS (SELECT a AS src, b AS dst FROM pairs
       |  UNION ALL SELECT b AS src, a AS dst FROM pairs),
       |deg AS (SELECT src, count(*) AS outdeg FROM edges0 GROUP BY src),
       |edges AS (SELECT e.src, e.dst, d.outdeg FROM edges0 e JOIN deg d USING (src)),
       |nodes AS (SELECT DISTINCT src AS node FROM edges0),
       |sc AS (SELECT count(*) AS n,
       |  CAST((15 * $Mass) // (100 * count(*)) AS BIGINT) AS base FROM nodes),
       |pr0 AS (SELECT node, CAST($Mass // n AS BIGINT) AS pr FROM nodes CROSS JOIN sc),
       |$rounds
       |SELECT node, pr FROM pr10 ORDER BY pr DESC, node""".stripMargin
  }

  def defs: Map[String, QueryDef] = Map(
    // 10 damped rounds over the bidirectional customer↔supplier trade
    // graph (~97 k edges at sf0.01). The oracle replays every round's
    // integer arithmetic, so a single off-by-one in any contribution,
    // any iteration, hash-mismatches — the iteration itself is checked,
    // not just the final ranking's plausibility.
    "q_pagerank" -> QueryDef(
      // checkpoint EVERY round: pr is broadcast into each iteration's
      // join, and a broadcast is an eager evaluation — with a 5-round
      // checkpoint gap iteration i re-executed the whole i-deep chain
      // (quadratic total work, measured 16 s at sf0.1). Cadence
      // measured at round 10 (sf0.1, best-of-3, interleaved; SCALING.md
      // "PageRank checkpoint cadence", now historical): every=1 cold
      // 4.93 s / warm 2.14 s; every=2 cold 5.61 s / warm 2.11 s — the
      // 16 k-row rank frame materializes for pennies, so capping
      // re-execution at depth 1 wins the cold leg and ties the warm one.
      (s, dir) => {
        val (adj, nodes) = memoTradeGraph(s, dir)
        pageRankPrepared(adj, nodes, iters = 10, checkpointEvery = 1)
      }
        .select(tradeLabel(col("node")).as("node"), col("pr"))
        // re-rank on the DISPLAY label: 'c100' < 'c11' lexically, so a
        // pr tie must break the same way the oracle's VARCHAR sort does
        .orderBy(col("pr").desc, col("node")),
      pageRankOracleSql),

    // Per-node triangles + clustering coefficient on the part
    // co-order graph (~23.7 k triangles at sf0.01). The oracle's
    // a<b-ordered wedge join provably emits the same triangle set as
    // the engine's degree-ordered orientation (each triangle once),
    // so the hash checks the count at every node AND the exact cc
    // division.
    "q_triangle_count" -> QueryDef(
      (s, dir) => triangleCounts(memoCoOrderEdges(s, dir)),
      s"""WITH $coOrderEdgesSql,
         |tri AS MATERIALIZED (
         |  SELECT e1.a AS x, e1.b AS y, e2.b AS z
         |  FROM e e1 JOIN e e2 ON e1.a = e2.a AND e1.b < e2.b
         |  JOIN e e3 ON e3.a = e1.b AND e3.b = e2.b),
         |deg AS MATERIALIZED (
         |  SELECT node, count(*) AS deg
         |  FROM (SELECT unnest([a, b]) AS node FROM e) t GROUP BY 1),
         |tn AS (
         |  SELECT node, count(*) AS tri
         |  FROM (SELECT unnest([x, y, z]) AS node FROM tri) t GROUP BY 1)
         |SELECT node, deg, tri,
         |  round(2.0 * tri / (deg * (deg - 1)), 6) AS cc
         |FROM tn JOIN deg USING (node) ORDER BY node""".stripMargin),

    // Connected components of the SPARSE co-order graph (quantity >
    // 46: 789 edges over 983 nodes at sf0.01 — a forest with cycles,
    // many components). Reuses the size-adaptive Dedup.clusterPairs
    // engine (driver union-find under the pair ceiling, log-diameter
    // label propagation with per-round localCheckpoint above it) —
    // the same component machinery that canonicalizes near-dup
    // clusters, exercised here on a general graph. The oracle is the
    // recursive-CTE min-label walk.
    "q_components" -> QueryDef(
      (s, dir) => Dedup.clusterPairs(
        partCoOrderEdges(s, dir, minQty = 46).toDF("id_a", "id_b"))
        .withColumnRenamed("cluster_id", "component_id")
        .orderBy("id"),
      """WITH RECURSIVE lp AS (
        |  SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
        |  FROM lineitem WHERE l_quantity > 46),
        |e0 AS (
        |  SELECT DISTINCT a.pk AS a, b.pk AS b
        |  FROM lp a JOIN lp b USING (ok) WHERE a.pk < b.pk),
        |edges AS (SELECT a AS src, b AS dst FROM e0
        |          UNION ALL SELECT b, a FROM e0),
        |walk(id, label) AS (
        |  SELECT src, src FROM edges
        |  UNION
        |  SELECT e.dst, w.label FROM walk w JOIN edges e ON e.src = w.id)
        |SELECT id, min(label) AS component_id FROM walk GROUP BY id
        |ORDER BY id""".stripMargin),

    // 18-core of the part co-order graph by 8 peel rounds — measured
    // to reach the fixpoint at round 5 on this data (round 6-8 are
    // no-ops), so the output IS the 18-core, not an 8-round
    // approximation. The oracle unrolls every round; a single node
    // surviving one round too long hash-mismatches.
    "q_kcore" -> QueryDef(
      (s, dir) => kCore(memoCoOrderEdges(s, dir), k = 18, rounds = 8),
      {
        val rounds = (1 to 8).map { i =>
          val prev = if (i == 1) "e" else s"e${i - 1}"
          s"""d$i AS MATERIALIZED (
             |  SELECT node, count(*) AS deg
             |  FROM (SELECT unnest([a, b]) AS node FROM $prev) t GROUP BY 1),
             |e$i AS MATERIALIZED (
             |  SELECT a, b FROM $prev
             |  WHERE a IN (SELECT node FROM d$i WHERE deg >= 18)
             |    AND b IN (SELECT node FROM d$i WHERE deg >= 18))""".stripMargin
        }.mkString(",\n")
        s"""WITH $coOrderEdgesSql,
           |$rounds
           |SELECT node, count(*) AS deg
           |FROM (SELECT unnest([a, b]) AS node FROM e8) t
           |GROUP BY 1 ORDER BY node""".stripMargin
      }))
}
