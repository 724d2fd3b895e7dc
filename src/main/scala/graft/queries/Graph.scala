package graft.queries

import graft.{QueryDef, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Relational graph analytics beyond connected components (star-CC in
  * [[LlmDedup]]): PageRank over the customer↔supplier trade graph —
  * the importance ranking a marketplace runs over exactly this edge
  * set. The iteration is the standard Pregel shape expressed
  * relationally: contributions = ranks ⋈ edges on src, new ranks = one
  * hash aggregate on dst.
  *
  * ALL rank arithmetic is fixed-point BIGINT (rank mass scaled by
  * 1e12, integer division for the out-degree split and the damping)
  * so five iterations produce BIT-IDENTICAL results on any engine —
  * no float summation-order dependence, which a cross-engine gate on
  * an iterative double computation could never survive.
  */
object Graph {

  private val Scale = 1000000000000L // rank mass fixed-point scale
  private val Iters = 5

  /** Symmetric (customer 2k ↔ supplier 2k+1) trade edges, PERSISTED
    * over a CHECKPOINT-TRUNCATED pair build: the distinct (cust, supp)
    * relation — the expensive orders⋈lineitem product of the build —
    * is materialized once through [[graft.plans.Checkpoint.truncate]],
    * so the persisted edge union's lineage bottoms out at a compact
    * edge-sized artifact. Without the truncation, a cache eviction
    * under memory pressure re-derives the edges by re-running the fact
    * join per iteration; with it, a miss re-reads checkpoint blocks.
    * Both holds live in the caller's [[graft.plans.Checkpoint]] scope
    * until its release.
    */
  private[graft] def tradeEdges(s: SparkSession, dir: String): DataFrame = {
    val orders = Tables.t(s, dir, "orders")
      .select(col("o_orderkey"), col("o_custkey").cast(LongType).as("cust"))
    val li = Tables.t(s, dir, "lineitem")
      .select(col("l_orderkey"), col("l_suppkey").cast(LongType).as("supp"))
    val trade = graft.plans.Checkpoint.truncate(
      orders.join(li, col("o_orderkey") === col("l_orderkey"))
        .select((col("cust") * 2).as("c"), (col("supp") * 2 + 1).as("p"))
        .distinct())
    graft.plans.Checkpoint.pin(trade.select(col("c").as("src"), col("p").as("dst"))
      .unionByName(trade.select(col("p").as("src"), col("c").as("dst"))))
  }

  /** Salting knob for the per-iteration contribution join: `0`/unset =
    * plain shuffle join. In THIS schema the customer side's degree is
    * bounded by the supplier dim, but a supplier node's degree grows
    * with the customer count — i.e. with the data — so a power-law
    * supplier would concentrate one reduce task at 100 TB. Setting the
    * conf to N spreads each hot src over N tasks via
    * [[graft.operators.Skew.saltedJoin]] (rank side replicated N ways —
    * node-sized, so the replication is cheap; the edge side is never
    * duplicated). SkewGraphSpec proves bit-identical ranks either way.
    */
  val SaltsConf = "graft.graph.salts"

  /** 5-iteration PageRank (d = 0.85) over the bipartite trade graph:
    * nodes are customers (2k) and suppliers (2k+1), symmetric edges
    * for every distinct (customer, supplier) trade in orders⋈lineitem.
    * Symmetry guarantees every node has in- and out-degree ≥ 1, so no
    * dangling-mass term and a constant node set across iterations.
    *
    * Scale shape: the edge build is the fact join that produces it —
    * distinct (cust, supp) pairs, edge-count-sized from there on. Each
    * iteration shuffles the rank relation (node-sized, ≪ edges) onto
    * the edge partitioning, then aggregates contributions with map-side
    * combine. Five iterations = five small shuffles; at 100 TB the
    * edge relation is partitioned by src once and every join reuses
    * that layout, with [[graft.plans.Checkpoint]] available to truncate
    * the growing lineage exactly as star-CC does.
    */
  def pageRank(s: SparkSession, dir: String): DataFrame = {
    val edges = tradeEdges(s, dir)
    val outdeg = edges.groupBy(col("src")).agg(count(lit(1)).as("outdeg"))
    // node count folded in as a broadcast 1-row aggregate (the
    // [[salsa]] device): symmetric edges →
    // every node appears as a src, so outdeg IS the node relation. It
    // seeds BOTH the uniform start mass and the per-iteration teleport
    // base (1 − d)·Scale/n; the base rides the rank relation as a
    // constant column (min() re-carries it through each aggregate), so
    // the iteration never needs a literal and no .count() runs on the
    // driver.
    val nN = outdeg.agg(count(lit(1)).as("n_n"))
    val edgesD = graft.plans.Checkpoint.pin(edges.join(outdeg, "src"))
    val salts = s.conf.get(SaltsConf, "0").toInt
    var ranks = outdeg.crossJoin(broadcast(nN))
      .select(col("src").as("node"),
        expr(s"$Scale div n_n").as("rank"),
        expr(s"($Scale * 3 div 20) div n_n").as("base"))
    for (_ <- 1 to Iters) {
      val contrib =
        if (salts > 1)
          graft.operators.Skew.saltedJoin(edgesD,
            ranks.withColumnRenamed("node", "src"), "src", col("dst"), salts)
        else edgesD.join(ranks, edgesD("src") === ranks("node"))
      ranks = contrib
        .select(col("dst"), expr("rank div outdeg").as("contrib"), col("base"))
        .groupBy(col("dst"))
        .agg(sum(col("contrib")).as("m"), min(col("base")).as("base"))
        .select(col("dst").as("node"),
          (col("base") + expr("(85 * m) div 100")).as("rank"), col("base"))
    }
    ranks
      .select(
        when(col("node") % 2 === 0, "customer").otherwise("supplier").as("kind"),
        expr("node div 2").as("key"), col("rank"))
      .orderBy(col("rank").desc, col("kind"), col("key"))
  }

  // DuckDB SUM(BIGINT) yields HUGEINT — every iteration casts it back
  // so the fixed-point arithmetic stays in the same BIGINT domain as
  // the Spark side.
  val pageRankOracle: String = {
    val iter = (i: Int, prev: String) =>
      s"""r$i AS (SELECT e.dst AS node,
         |    base.b + (85 * CAST(SUM(r.rank // d.outdeg) AS BIGINT)) // 100 AS rank
         |  FROM e JOIN $prev r ON e.src = r.node JOIN d ON e.src = d.src
         |  CROSS JOIN base GROUP BY e.dst, base.b)"""
    s"""WITH trade AS (SELECT DISTINCT CAST(o_custkey AS BIGINT) * 2 AS c,
       |    CAST(l_suppkey AS BIGINT) * 2 + 1 AS p
       |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
       |e AS (SELECT c AS src, p AS dst FROM trade
       |  UNION ALL SELECT p AS src, c AS dst FROM trade),
       |d AS (SELECT src, COUNT(*) AS outdeg FROM e GROUP BY 1),
       |n AS (SELECT COUNT(*) AS n FROM d),
       |base AS (SELECT ($Scale * 3 // 20) // n AS b, $Scale // n AS r FROM n),
       |r0 AS (SELECT d.src AS node, base.r AS rank FROM d CROSS JOIN base),
       |${(1 to Iters).map(i => iter(i, s"r${i - 1}")).mkString(",\n")}
       |SELECT CASE WHEN node % 2 = 0 THEN 'customer' ELSE 'supplier' END AS kind,
       |  node // 2 AS key, rank
       |FROM r$Iters ORDER BY rank DESC, kind, key""".stripMargin
  }

  private val Hops = 3

  /** One BFS round: expand ONLY the delta frontier (nodes first
    * reached last round) along the edges, then anti-join the settled
    * set away — nodes already reached carry their first (= minimum)
    * hop and are never re-expanded. The per-round join input is
    * frontier-sized by construction; SkewGraphSpec asserts the
    * LeftAnti in the plan.
    */
  private[graft] def frontierStep(edges: DataFrame, frontier: DataFrame,
      settled: DataFrame): DataFrame = {
    val expanded = edges.join(frontier, edges("src") === frontier("node"))
      .select(col("dst").as("node"), (col("hop") + 1L).as("hop"))
      .groupBy(col("node")).agg(min(col("hop")).as("hop"))
    expanded.join(settled.select(col("node").as("__settled")),
      expanded("node") === col("__settled"), "left_anti")
  }

  private[graft] def kHopSeeds(s: SparkSession, dir: String): DataFrame = {
    val supplier = Tables.t(s, dir, "supplier")
    // seed nation = the smallest nation key PRESENT among suppliers:
    // nation 0 has no suppliers at the smallest scale factors, a fixed
    // literal would make the seed set empty there. Folded in as a
    // broadcast 1-row aggregate — no driver job; the
    // oracle uses the equivalent scalar subquery.
    val seedNation = supplier.agg(min(col("s_nationkey")).as("seed_nation"))
    supplier
      .crossJoin(broadcast(seedNation))
      .filter(col("s_nationkey") === col("seed_nation"))
      .select((col("s_suppkey").cast(LongType) * 2 + 1).as("node"),
        lit(0L).as("hop"))
  }

  /** K-hop reachability: minimum hop distance from the seed set (the
    * suppliers of the smallest supplier-bearing nation) to every node
    * within [[Hops]] hops of the trade graph — DELTA-FRONTIER BFS.
    * Each round expands only the rows first reached in the previous
    * round ([[frontierStep]]: edge join on the frontier, LeftAnti
    * against the settled set), checkpoint-truncates the new frontier,
    * and unions it into the settled relation. A node's hop is set the
    * round it is first reached — BFS order makes that the minimum —
    * so the settled relation never needs a re-fold. All arithmetic
    * integer → bit-exact across engines.
    *
    * Scale shape: round i's join input is the FRONTIER, not the full
    * reached set (at depth k on 100 TB the reached set approaches the
    * node count while the frontier shrinks past the graph's effective
    * diameter — reached-set expansion is the classic quadratic-ish
    * trap this shape avoids). Each frontier is truncated via
    * [[graft.plans.Checkpoint]] so the per-round plan stays flat, and
    * the edge relation is the SAME persisted artifact [[pageRank]]
    * traverses.
    */
  def kHop(s: SparkSession, dir: String): DataFrame = {
    val edges = tradeEdges(s, dir)
    val seeds = kHopSeeds(s, dir)
    var settled = seeds
    var frontier = seeds
    for (_ <- 1 to Hops) {
      frontier = graft.plans.Checkpoint.truncate(
        frontierStep(edges, frontier, settled))
      settled = settled.unionByName(frontier)
    }
    settled
      .select(
        when(col("node") % 2 === 0, "customer").otherwise("supplier").as("kind"),
        expr("node div 2").as("key"), col("hop"))
      .orderBy(col("hop"), col("kind"), col("key"))
  }

  val kHopOracle: String = {
    val round = (i: Int, prev: String) =>
      s"""d$i AS (SELECT node, MIN(hop) AS hop FROM (
         |    SELECT node, hop FROM $prev
         |    UNION ALL
         |    SELECT e.dst AS node, r.hop + 1 AS hop
         |    FROM e JOIN $prev r ON e.src = r.node) GROUP BY node)"""
    s"""WITH trade AS (SELECT DISTINCT CAST(o_custkey AS BIGINT) * 2 AS c,
       |    CAST(l_suppkey AS BIGINT) * 2 + 1 AS p
       |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
       |e AS (SELECT c AS src, p AS dst FROM trade
       |  UNION ALL SELECT p AS src, c AS dst FROM trade),
       |d0 AS (SELECT CAST(s_suppkey AS BIGINT) * 2 + 1 AS node,
       |    CAST(0 AS BIGINT) AS hop
       |  FROM supplier
       |  WHERE s_nationkey = (SELECT MIN(s_nationkey) FROM supplier)),
       |${(1 to Hops).map(i => round(i, s"d${i - 1}")).mkString(",\n")}
       |SELECT CASE WHEN node % 2 = 0 THEN 'customer' ELSE 'supplier' END AS kind,
       |  node // 2 AS key, hop
       |FROM d$Hops ORDER BY hop, kind, key""".stripMargin
  }

  /** Per-node triangle counts + local clustering coefficient over the
    * part CO-OCCURRENCE graph (parts appearing together in an order) —
    * the cohesion metric behind community detection, recommendation
    * neighborhoods, and graph-quality audits. The algorithm is the
    * standard DEGENERACY-ORIENTED wedge join: orient every edge from
    * the lower (degree, id) endpoint to the higher, enumerate wedges
    * only at each triangle's minimum corner, and close them against
    * the oriented edge set — each triangle is counted exactly once,
    * and a node's wedge fanout is its ORIENTED out-degree, which the
    * orientation bounds by O(√m) on any graph (the classic
    * Chiba–Nishizeki / Schank–Wagner bound), not by the raw degree a
    * power-law hub would bring.
    *
    * Scale shape: pair generation is per-order-bounded quadratic
    * (≤ items²/order, the basket discipline — never parts²); every
    * join is an equi hash join on node keys; the corner explode is
    * triangle-sized. All counts integer → bit-exact; the coefficient
    * is a rounded ratio of exact integers.
    */
  def coTriangles(s: SparkSession, dir: String): DataFrame = {
    val it = Tables.t(s, dir, "lineitem")
      .select(col("l_orderkey").as("o"), col("l_partkey").cast(LongType).as("p"))
      .distinct()
    // pinned: consumed by the degree aggregate AND the orientation
    // join — without the pin the per-order self-join runs once per
    // consumer
    val pairs = graft.plans.Checkpoint.pin(it.as("a").join(it.as("b"),
        col("a.o") === col("b.o") && col("a.p") < col("b.p"))
      .select(col("a.p").as("x"), col("b.p").as("y"))
      .distinct())
    val deg = pairs.select(col("x").as("node"))
      .unionByName(pairs.select(col("y").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("deg"))
    val fwd = col("dx") < col("dy") || (col("dx") === col("dy") && col("x") < col("y"))
    // pinned: the oriented edge set feeds both wedge sides and the
    // closing join — three consumers of one edge-sized artifact
    val ed = graft.plans.Checkpoint.pin(pairs
      .join(deg.select(col("node").as("x"), col("deg").as("dx")), "x")
      .join(deg.select(col("node").as("y"), col("deg").as("dy")), "y")
      .select(
        when(fwd, col("x")).otherwise(col("y")).as("src"),
        when(fwd, col("y")).otherwise(col("x")).as("dst"),
        when(fwd, col("dy")).otherwise(col("dx")).as("dd")))
    val e1 = ed.select(col("src").as("a"), col("dst").as("b"), col("dd").as("db"))
    val e2 = ed.select(col("src").as("a2"), col("dst").as("c"), col("dd").as("dc"))
    val wedges = e1.join(e2, col("a") === col("a2") &&
        (col("db") < col("dc") || (col("db") === col("dc") && col("b") < col("c"))))
    val tris = wedges
      .join(ed.select(col("src").as("b2"), col("dst").as("c2")).hint("shuffle_hash"),
        col("b") === col("b2") && col("c") === col("c2"))
      .select(col("a"), col("b"), col("c"))
    val corners = tris
      .select(explode(array(col("a"), col("b"), col("c"))).as("node"))
      .groupBy(col("node")).agg(count(lit(1)).as("tri"))
    deg.join(corners, Seq("node"), "left")
      .select(col("node"), col("deg"), coalesce(col("tri"), lit(0L)).as("tri"))
      .withColumn("coeff",
        when(col("deg") > 1,
          round(lit(2.0) * col("tri") / (col("deg") * (col("deg") - 1)), 6))
          .otherwise(lit(0.0)))
      .orderBy(col("node"))
  }

  val coTrianglesOracle: String =
    """WITH it AS (SELECT DISTINCT l_orderkey AS o, CAST(l_partkey AS BIGINT) AS p
      |  FROM lineitem),
      |pr AS (SELECT DISTINCT a.p AS x, b.p AS y
      |  FROM it a JOIN it b ON a.o = b.o AND a.p < b.p),
      |deg AS (SELECT node, COUNT(*) AS deg FROM (
      |    SELECT x AS node FROM pr UNION ALL SELECT y AS node FROM pr)
      |  GROUP BY 1),
      |ed AS (SELECT
      |    CASE WHEN dx.deg < dy.deg OR (dx.deg = dy.deg AND pr.x < pr.y)
      |      THEN pr.x ELSE pr.y END AS src,
      |    CASE WHEN dx.deg < dy.deg OR (dx.deg = dy.deg AND pr.x < pr.y)
      |      THEN pr.y ELSE pr.x END AS dst,
      |    CASE WHEN dx.deg < dy.deg OR (dx.deg = dy.deg AND pr.x < pr.y)
      |      THEN dy.deg ELSE dx.deg END AS dd
      |  FROM pr JOIN deg dx ON pr.x = dx.node JOIN deg dy ON pr.y = dy.node),
      |tri AS (SELECT e1.src AS a, e1.dst AS b, e2.dst AS c
      |  FROM ed e1 JOIN ed e2 ON e1.src = e2.src
      |    AND (e1.dd < e2.dd OR (e1.dd = e2.dd AND e1.dst < e2.dst))
      |  JOIN ed e3 ON e3.src = e1.dst AND e3.dst = e2.dst),
      |corners AS (SELECT node, COUNT(*) AS tri FROM (
      |    SELECT a AS node FROM tri UNION ALL SELECT b FROM tri
      |    UNION ALL SELECT c FROM tri)
      |  GROUP BY 1)
      |SELECT d.node, d.deg, COALESCE(c.tri, CAST(0 AS BIGINT)) AS tri,
      |  CASE WHEN d.deg > 1
      |    THEN round(2.0 * COALESCE(c.tri, 0) / (d.deg * (d.deg - 1)), 6)
      |    ELSE 0.0 END AS coeff
      |FROM deg d LEFT JOIN corners c ON d.node = c.node
      |ORDER BY d.node""".stripMargin

  private val CoreK = 3
  private val CoreMinSupport = 2
  private val CoreRounds = 12

  /** K-CORE decomposition (k = [[CoreK]]) of the SUPPORT-THRESHOLDED
    * part co-occurrence graph — the standard graph-sparsification /
    * community-seed operator (Seidman 1983; Batagelj–Zaveršnik
    * peeling): repeatedly delete nodes of degree < k until the
    * remaining subgraph (the k-core) has minimum degree ≥ k. Run on
    * edges with co-occurrence support ≥ [[CoreMinSupport]] (the raw
    * basket graph is near-complete and its 3-core vacuously everything
    * — thresholding is what makes cores structural).
    *
    * FIXED [[CoreRounds]] synchronous peel rounds rather than a
    * driver-checked fixpoint, so the computation is a pure function of
    * the data that DuckDB can replay as unrolled CTEs (the PageRank
    * discipline); 12 rounds converges with headroom on the gate data
    * (measured: 10 rounds to fixpoint at sf0.01) and SkewGraphSpec
    * asserts equality with a true driver-side fixpoint at sf0.001. A
    * production run loops the same round to an empty-delta check.
    *
    * Scale shape: each round is one degree hash-aggregate plus two
    * node-keyed semi-joins on the shrinking edge relation, checkpoint-
    * truncated per round (flat plans, eviction-safe) — never more than
    * edge-sized state, O(rounds) small shuffles, the peeling-order
    * sequentiality of the classic algorithm traded for O(k·rounds)
    * synchronous work exactly as distributed k-core papers do
    * (Montresor et al. 2013).
    */
  def kCore(s: SparkSession, dir: String): DataFrame = {
    val core = graft.plans.Checkpoint.rounds(supportEdges(s, dir), CoreRounds) { (edges, _) =>
      val keep = edges.groupBy(col("src")).agg(count(lit(1)).as("deg"))
        .filter(col("deg") >= CoreK)
        .select(col("src").as("node"))
      edges
        .join(keep.select(col("node").as("src")), Seq("src"), "left_semi")
        .join(keep.select(col("node").as("dst")), Seq("dst"), "left_semi")
    }
    core.groupBy(col("src").as("node"))
      .agg(count(lit(1)).as("core_deg"))
      .orderBy(col("node"))
  }

  /** Support denominator: the threshold is RELATIVE to order volume —
    * max([[CoreMinSupport]], ceildiv(n_orders, 75000)) — because an
    * absolute min-support on a growing fact degenerates (at 10× orders
    * the support-2 relation exploded 335×, and frequent-itemset mining
    * always states support as a fraction for exactly this reason).
    * Integer ceildiv so both engines compute the identical threshold;
    * at the gate (sf0.01) and bench (sf0.1) scales the relative term
    * rounds to the floor of 2, so semantics there are unchanged.
    */
  private val SupportPerOrders = 75000L

  /** Symmetric co-occurrence edges at volume-relative support —
    * shared by [[kCore]] and [[jaccardNeighbors]]; checkpoint-truncated
    * so both consumers start from a compact edge artifact.
    */
  private[graft] def supportEdges(s: SparkSession, dir: String): DataFrame = {
    // volume-relative support threshold folded in as a broadcast 1-row
    // aggregate: ceil-div in exact integers, no driver scalar
    val minSup = Tables.t(s, dir, "orders").agg(
      greatest(lit(CoreMinSupport.toLong),
        expr(s"(count(1) + ${SupportPerOrders - 1}) div $SupportPerOrders"))
        .as("min_sup"))
    val it = Tables.t(s, dir, "lineitem")
      .select(col("l_orderkey").as("o"), col("l_partkey").cast(LongType).as("p"))
      .distinct()
    val pr = it.as("a").join(it.as("b"),
        col("a.o") === col("b.o") && col("a.p") < col("b.p"))
      .groupBy(col("a.p").as("x"), col("b.p").as("y"))
      .agg(count(lit(1)).as("w"))
      .crossJoin(broadcast(minSup))
      .filter(col("w") >= col("min_sup"))
      .drop("min_sup")
    graft.plans.Checkpoint.truncate(
      pr.select(col("x").as("src"), col("y").as("dst"))
        .unionByName(pr.select(col("y").as("src"), col("x").as("dst"))))
  }

  /** The oracle rendering of [[supportEdges]]'s threshold (shared
    * with [[GraphMore.richClub]]'s oracle).
    */
  private[queries] def minSupSql: String =
    s"GREATEST($CoreMinSupport, ((SELECT COUNT(*) FROM orders) + ${SupportPerOrders - 1}) // $SupportPerOrders)"

  // every round CTE is MATERIALIZED: n_{i} is referenced twice by
  // round i+1, and a 12-level chain of twice-referenced inline CTEs
  // explodes 2^12-fold in the planner (measured: the un-materialized
  // form never finished; materialized, the whole oracle runs in
  // seconds). Node-list rounds keep each materialization node-sized.
  val kCoreOracle: String = {
    val round = (i: Int) =>
      s"""n$i AS MATERIALIZED (SELECT e.src FROM e0 e
         |  JOIN n${i - 1} a ON e.src = a.src JOIN n${i - 1} b ON e.dst = b.src
         |  GROUP BY e.src HAVING COUNT(*) >= $CoreK)"""
    // MATERIALIZED: the unrolled peel references e0's lineage 12+
    // times; without materialization DuckDB re-opens the parquet per
    // reference and trips the fd limit
    s"""WITH it AS MATERIALIZED (SELECT DISTINCT l_orderkey AS o, CAST(l_partkey AS BIGINT) AS p
       |  FROM lineitem),
       |pr AS (SELECT a.p AS x, b.p AS y FROM it a JOIN it b
       |  ON a.o = b.o AND a.p < b.p
       |  GROUP BY 1, 2 HAVING COUNT(*) >= $minSupSql),
       |e0 AS MATERIALIZED (SELECT x AS src, y AS dst FROM pr
       |  UNION ALL SELECT y AS src, x AS dst FROM pr),
       |n0 AS MATERIALIZED (SELECT src FROM e0 GROUP BY src),
       |${(1 to CoreRounds).map(round).mkString(",\n")}
       |SELECT e.src AS node, COUNT(*) AS core_deg
       |FROM e0 e
       |JOIN n$CoreRounds a ON e.src = a.src
       |JOIN n$CoreRounds b ON e.dst = b.src
       |GROUP BY 1 ORDER BY node""".stripMargin
  }

  private val SimTopK = 3

  /** Link-prediction / similar-items scores: top-[[SimTopK]] neighbors
    * per node by NEIGHBOR-SET JACCARD — |N(a)∩N(b)| / |N(a)∪N(b)| —
    * over the same support-thresholded co-occurrence graph [[kCore]]
    * peels (Liben-Nowell & Kleinberg 2003's common-neighbor family;
    * the "customers also bought" primitive). Candidates are node pairs
    * sharing ≥1 neighbor (one wedge join on the hub column), common
    * counts and degrees are integer hash aggregates, and the only
    * division is the final displayed score — rank orders on the
    * round-9 value with the neighbor id as tie-break.
    *
    * Scale shape: wedge volume is Σ_w deg(w)² over the THRESHOLDED
    * graph (support pruning caps hub degree growth — the same device
    * that keeps kCore's rounds edge-sized); degrees join back
    * node-keyed; the top-k compiles to WindowGroupLimit.
    */
  def jaccardNeighbors(s: SparkSession, dir: String): DataFrame = {
    val edges = supportEdges(s, dir)
    val deg = edges.groupBy(col("src")).agg(count(lit(1)).as("deg"))
    val cn = edges.select(col("src").as("w"), col("dst").as("a"))
      .join(edges.select(col("src").as("w2"), col("dst").as("b")),
        col("w") === col("w2") && col("a") < col("b"))
      .groupBy(col("a"), col("b")).agg(count(lit(1)).as("cn"))
    val scored = cn
      .join(deg.select(col("src").as("a"), col("deg").as("da")), "a")
      .join(deg.select(col("src").as("b"), col("deg").as("db")), "b")
      .select(col("a"), col("b"), col("cn"), col("da"), col("db"))
    val both = scored.select(col("a").as("node"), col("b").as("nbr"),
        col("cn"), col("da").as("dn"), col("db").as("dob"))
      .unionByName(scored.select(col("b").as("node"), col("a").as("nbr"),
        col("cn"), col("db").as("dn"), col("da").as("dob")))
    val j = col("cn").cast(org.apache.spark.sql.types.DoubleType) /
      (col("dn") + col("dob") - col("cn"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("node")).orderBy(round(j, 9).desc, col("nbr"))
    both.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= SimTopK)
      .select(col("node"), col("rank"), col("nbr"), round(j, 6).as("jaccard"))
      .orderBy(col("node"), col("rank"))
  }

  val jaccardNeighborsOracle: String =
    s"""WITH it AS MATERIALIZED (SELECT DISTINCT l_orderkey AS o,
       |    CAST(l_partkey AS BIGINT) AS p FROM lineitem),
       |pr AS (SELECT a.p AS x, b.p AS y FROM it a JOIN it b
       |  ON a.o = b.o AND a.p < b.p
       |  GROUP BY 1, 2 HAVING COUNT(*) >= $minSupSql),
       |e AS MATERIALIZED (SELECT x AS src, y AS dst FROM pr
       |  UNION ALL SELECT y AS src, x AS dst FROM pr),
       |deg AS (SELECT src, COUNT(*) AS deg FROM e GROUP BY 1),
       |cn AS (SELECT e1.dst AS a, e2.dst AS b, COUNT(*) AS cn
       |  FROM e e1 JOIN e e2 ON e1.src = e2.src AND e1.dst < e2.dst
       |  GROUP BY 1, 2),
       |bidir AS (
       |  SELECT a AS node, b AS nbr, cn,
       |    da.deg AS dn, db.deg AS dob FROM cn
       |    JOIN deg da ON cn.a = da.src JOIN deg db ON cn.b = db.src
       |  UNION ALL
       |  SELECT b AS node, a AS nbr, cn,
       |    db.deg AS dn, da.deg AS dob FROM cn
       |    JOIN deg da ON cn.a = da.src JOIN deg db ON cn.b = db.src),
       |r AS (SELECT node, nbr,
       |    CAST(cn AS DOUBLE) / (dn + dob - cn) AS j,
       |    ROW_NUMBER() OVER (PARTITION BY node
       |      ORDER BY round(CAST(cn AS DOUBLE) / (dn + dob - cn), 9) DESC, nbr) AS rank
       |  FROM bidir)
       |SELECT node, rank, nbr, round(j, 6) AS jaccard
       |FROM r WHERE rank <= $SimTopK ORDER BY node, rank""".stripMargin

  /** ADAMIC–ADAR link-prediction scores (Adamic & Adar 2003) — the
    * rarity-weighted sibling of [[jaccardNeighbors]]: common neighbors
    * count 1/ln(deg(w)) each, so a hub shared with everyone
    * contributes almost nothing while a rare shared neighbor
    * dominates — empirically the strongest of the classic
    * common-neighbor predictors. Every hub in a wedge has degree ≥ 2
    * by construction (it neighbors both endpoints), so ln(deg) > 0
    * always. Per-pair scores are DECIMAL sums of the per-hub
    * 1/ln(deg) doubles — summation-order-independent — ranked on the
    * round-9 value with the neighbor id tie-break (float policy:
    * [[LlmCuration.dsirWeights]]).
    *
    * Scale shape: identical to [[jaccardNeighbors]] — one wedge join
    * on the hub column of the volume-relative-support graph, with the
    * hub's degree joined ONCE onto the edge relation before wedging.
    */
  def adamicAdar(s: SparkSession, dir: String): DataFrame = {
    val edges = supportEdges(s, dir)
    val deg = edges.groupBy(col("src")).agg(count(lit(1)).as("deg"))
    // a degree-1 hub cannot be a COMMON neighbor (a wedge needs edges
    // to both endpoints), so dropping it changes no score — and under
    // ANSI SQL the 1/ln(1) projection would error before the wedge
    // join could discard the row
    val ed = edges.join(deg.filter(col("deg") > 1), "src")
      .select(col("src").as("w"), col("dst"), (lit(1.0) / log(col("deg"))).as("inv"))
    val aa = ed.select(col("w"), col("dst").as("a"), col("inv"))
      .join(ed.select(col("w").as("w2"), col("dst").as("b")),
        col("w") === col("w2") && col("a") < col("b"))
      .groupBy(col("a"), col("b"))
      .agg(sum(col("inv").cast(org.apache.spark.sql.types.DecimalType(38, 12)))
        .cast(org.apache.spark.sql.types.DoubleType).as("aa"))
    val bidir = aa.select(col("a").as("node"), col("b").as("nbr"), col("aa"))
      .unionByName(aa.select(col("b").as("node"), col("a").as("nbr"), col("aa")))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("node")).orderBy(round(col("aa"), 9).desc, col("nbr"))
    bidir.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= SimTopK)
      .select(col("node"), col("rank"), col("nbr"), round(col("aa"), 6).as("aa"))
      .orderBy(col("node"), col("rank"))
  }

  val adamicAdarOracle: String =
    s"""WITH it AS MATERIALIZED (SELECT DISTINCT l_orderkey AS o,
       |    CAST(l_partkey AS BIGINT) AS p FROM lineitem),
       |pr AS (SELECT a.p AS x, b.p AS y FROM it a JOIN it b
       |  ON a.o = b.o AND a.p < b.p
       |  GROUP BY 1, 2 HAVING COUNT(*) >= $minSupSql),
       |e AS MATERIALIZED (SELECT x AS src, y AS dst FROM pr
       |  UNION ALL SELECT y AS src, x AS dst FROM pr),
       |deg AS (SELECT src, COUNT(*) AS deg FROM e GROUP BY 1),
       |ed AS (SELECT e.src AS w, e.dst, 1.0 / ln(deg.deg) AS inv
       |  FROM e JOIN deg ON e.src = deg.src WHERE deg.deg > 1),
       |aa AS (SELECT e1.dst AS a, e2.dst AS b,
       |    CAST(SUM(CAST(e1.inv AS DECIMAL(38,12))) AS DOUBLE) AS aa
       |  FROM ed e1 JOIN ed e2 ON e1.w = e2.w AND e1.dst < e2.dst
       |  GROUP BY 1, 2),
       |bidir AS (
       |  SELECT a AS node, b AS nbr, aa FROM aa
       |  UNION ALL SELECT b AS node, a AS nbr, aa FROM aa),
       |r AS (SELECT node, nbr, aa,
       |    ROW_NUMBER() OVER (PARTITION BY node
       |      ORDER BY round(aa, 9) DESC, nbr) AS rank
       |  FROM bidir)
       |SELECT node, rank, nbr, round(aa, 6) AS aa
       |FROM r WHERE rank <= $SimTopK ORDER BY node, rank""".stripMargin

  private val LpaRounds = 3

  /** Synchronous label-propagation community detection (Raghavan,
    * Albert & Kumara 2007) over the thresholded co-occurrence support
    * graph ([[supportEdges]] — the same graph k-core and the
    * similarity family analyze): every node starts as its own label;
    * each round it adopts the most frequent label among its neighbors,
    * ties broken by the SMALLEST label — the deterministic variant of
    * the usual random tie-break, run for a FIXED [[LpaRounds]] sweeps
    * so the fixpoint question (plain LPA can oscillate under
    * synchronous updates) never arises and the oracle can replay the
    * exact rounds. Output: each node's community plus the community
    * size — the partition a catalog team reads as "product families".
    *
    * Scale shape: per round, one edge⋈label join (label relation is
    * node-sized) and one (node, label) hash aggregate, then a
    * node-sized argmax window — PageRank's per-iteration cost with a
    * top-1 WindowGroupLimit instead of a sum. Lineage is
    * checkpoint-truncated per round ([[graft.plans.Checkpoint]]), the
    * star-CC discipline.
    */
  def labelProp(s: SparkSession, dir: String): DataFrame =
    communities(lpaEdges(s, dir))

  /** The pinned support edges [[labelProp]] and [[modularity]] walk. */
  private def lpaEdges(s: SparkSession, dir: String): DataFrame =
    graft.plans.Checkpoint.pin(supportEdges(s, dir))

  /** (node, community, n_members) of [[LpaRounds]] synchronous rounds. */
  private def communities(edges: DataFrame): DataFrame = {
    val init = edges.select(col("src").as("node")).distinct()
      .select(col("node"), col("node").as("label"))
    val labels = graft.plans.Checkpoint.rounds(init, LpaRounds) { (labels, _) =>
      edges
        .join(labels.select(col("node").as("dst"), col("label")), "dst")
        .groupBy(col("src"), col("label")).agg(count(lit(1)).as("n"))
        .withColumn("rn", row_number().over(
          org.apache.spark.sql.expressions.Window.partitionBy(col("src"))
            .orderBy(col("n").desc, col("label"))))
        .filter(col("rn") === 1)
        .select(col("src").as("node"), col("label"))
    }
    val sizes = labels.groupBy(col("label")).agg(count(lit(1)).as("n_members"))
    labels.join(sizes, "label")
      .select(col("node"), col("label").as("community"), col("n_members"))
      .orderBy(col("node"))
  }

  val labelPropOracle: String = {
    val round = (i: Int, prev: String) =>
      s"""l$i AS (
         |  SELECT src AS node, label FROM (
         |    SELECT e.src, l.label, COUNT(*) AS n,
         |      ROW_NUMBER() OVER (PARTITION BY e.src
         |        ORDER BY COUNT(*) DESC, l.label) AS rn
         |    FROM e JOIN $prev l ON e.dst = l.node
         |    GROUP BY e.src, l.label)
         |  WHERE rn = 1)"""
    s"""WITH it AS (SELECT DISTINCT l_orderkey AS o, CAST(l_partkey AS BIGINT) AS p
       |  FROM lineitem),
       |pr AS (SELECT a.p AS x, b.p AS y, COUNT(*) AS w
       |  FROM it a JOIN it b ON a.o = b.o AND a.p < b.p
       |  GROUP BY 1, 2 HAVING COUNT(*) >= $minSupSql),
       |e AS (SELECT x AS src, y AS dst FROM pr
       |  UNION ALL SELECT y AS src, x AS dst FROM pr),
       |l0 AS (SELECT DISTINCT src AS node, src AS label FROM e),
       |${(1 to LpaRounds).map(i => round(i, s"l${i - 1}")).mkString(",\n")},
       |sizes AS (SELECT label, COUNT(*) AS n_members FROM l$LpaRounds GROUP BY 1)
       |SELECT l.node, l.label AS community, sizes.n_members
       |FROM l$LpaRounds l JOIN sizes USING (label)
       |ORDER BY l.node""".stripMargin
  }

  /** Modularity of the [[labelProp]] partition (Newman & Girvan 2004:
    * Q = Σ_c (e_c/m − (d_c/2m)²) — how much denser inside the found
    * communities than a degree-preserving random rewiring; the number
    * that tells you whether LPA found structure or noise). Works on
    * the SYMMETRIC edge representation directly: with E = |sym rows|
    * = 2m, e_c/m = (internal sym rows)_c / E and d_c/2m = d_c/E, so
    * no halving ever enters the integer arithmetic. Each per-community
    * term is carried as the EXACT integer numerator e_sym·E − d_c²
    * over denominator E² and crosses to double in a single division;
    * Q sums the integer numerators (DECIMAL(38,0), exact) before its
    * own single division — no raw-double round() anywhere.
    *
    * Scale shape: reuses [[labelProp]]'s pinned edge relation
    * and node-sized label relation; two label joins onto the edges
    * (edge-sized), two hash aggregates to the community grid, and the
    * Q arithmetic on |communities| rows.
    */
  def modularity(s: SparkSession, dir: String): DataFrame = {
    val raw = modularityRawPlan(s, dir)
    // Signed-zero normalization: 144 near-singleton
    // communities at gate scale carry tiny NEGATIVE q_num (−1, −4, …
    // over E² ≈ 10¹⁰); DuckDB's round() preserves IEEE −0.0 while
    // Spark's (BigDecimal HALF_UP) has no signed zero — rows and
    // schema match but a row hash flips on the sign bit.
    // `+ 0.0` is the IEEE identity for every value
    // EXCEPT −0.0 (−0.0 + 0.0 = +0.0), applied on BOTH engines so
    // the rendered zeros agree bit-for-bit.
    raw
      .select(col("community"), col("n_members"),
        expr("e_sym DIV 2").as("internal_edges"), col("dsum").as("degree_sum"),
        (round(col("q_part0"), 6) + lit(0.0)).as("q_part"),
        (round(col("q0"), 6) + lit(0.0)).as("modularity"))
      .orderBy(col("community"))
  }

  /** Pre-round frame (q_num/q_den exact integers, q_part0/q0 the
    * single-division doubles) — RoundingAuditSpec's signed-zero and
    * boundary probe surface.
    */
  private[graft] def modularityRawPlan(s: SparkSession, dir: String): DataFrame = {
    val edges = lpaEdges(s, dir)
    val labels = communities(edges)
    val deg = edges.groupBy(col("src")).agg(count(lit(1)).as("deg"))
    val byC = labels.select(col("node"), col("community"))
      .join(deg, col("node") === col("src")).drop("src")
      .groupBy(col("community"))
      .agg(count(lit(1)).as("n_members"), sum(col("deg")).as("dsum"))
    val internal = edges
      .join(labels.select(col("node").as("src"), col("community").as("cs")), "src")
      .join(labels.select(col("node").as("dst"), col("community").as("cd")), "dst")
      .filter(col("cs") === col("cd"))
      .groupBy(col("cs").as("community")).agg(count(lit(1)).as("e_sym"))
    val tot = edges.agg(count(lit(1)).as("big_e"))
    // Exact-integer form of e_c/E − (d_c/E)²: numerator
    // e_sym·E − dsum² and denominator E² stay in BIGINT (each term is
    // ≤ E² — sym-edge counts keep the arithmetic inside 63 bits up to
    // E ≈ 3·10⁹; beyond that widen to DECIMAL(38,0) like the Q sum),
    // so the only float operation per row is ONE correctly-rounded
    // IEEE division — the gini/spearman recipe that both engines
    // reproduce bit-identically, unlike a chained div/mul.
    val wAll = org.apache.spark.sql.expressions.Window.partitionBy()
    byC
      .join(internal, Seq("community"), "left")
      .select(col("community"), col("n_members"), col("dsum"),
        coalesce(col("e_sym"), lit(0L)).as("e_sym"))
      .crossJoin(broadcast(tot))
      .withColumn("q_num",
        col("e_sym") * col("big_e") - col("dsum") * col("dsum"))
      .withColumn("q_den", col("big_e") * col("big_e"))
      .withColumn("q_part0",
        col("q_num").cast(org.apache.spark.sql.types.DoubleType) /
          col("q_den").cast(org.apache.spark.sql.types.DoubleType))
      .withColumn("q0", sum(col("q_num")
        .cast(org.apache.spark.sql.types.DecimalType(38, 0))).over(wAll)
        .cast(org.apache.spark.sql.types.DoubleType) /
        col("q_den").cast(org.apache.spark.sql.types.DoubleType))
  }

  val modularityOracle: String = {
    val round = (i: Int, prev: String) =>
      s"""l$i AS (
         |  SELECT src AS node, label FROM (
         |    SELECT e.src, l.label, COUNT(*) AS n,
         |      ROW_NUMBER() OVER (PARTITION BY e.src
         |        ORDER BY COUNT(*) DESC, l.label) AS rn
         |    FROM e JOIN $prev l ON e.dst = l.node
         |    GROUP BY e.src, l.label)
         |  WHERE rn = 1)"""
    s"""WITH it AS (SELECT DISTINCT l_orderkey AS o, CAST(l_partkey AS BIGINT) AS p
       |  FROM lineitem),
       |pr AS (SELECT a.p AS x, b.p AS y, COUNT(*) AS w
       |  FROM it a JOIN it b ON a.o = b.o AND a.p < b.p
       |  GROUP BY 1, 2 HAVING COUNT(*) >= $minSupSql),
       |e AS (SELECT x AS src, y AS dst FROM pr
       |  UNION ALL SELECT y AS src, x AS dst FROM pr),
       |l0 AS (SELECT DISTINCT src AS node, src AS label FROM e),
       |${(1 to LpaRounds).map(i => round(i, s"l${i - 1}")).mkString(",\n")},
       |labels AS (SELECT node, label AS community FROM l$LpaRounds),
       |deg AS (SELECT src, COUNT(*) AS deg FROM e GROUP BY 1),
       |byc AS (
       |  SELECT lab.community, COUNT(*) AS n_members,
       |    CAST(SUM(deg.deg) AS BIGINT) AS dsum
       |  FROM labels lab JOIN deg ON lab.node = deg.src GROUP BY 1),
       |internal AS (
       |  SELECT ls.community, COUNT(*) AS e_sym
       |  FROM e JOIN labels ls ON e.src = ls.node
       |  JOIN labels ld ON e.dst = ld.node
       |  WHERE ls.community = ld.community GROUP BY 1),
       |tot AS (SELECT COUNT(*) AS big_e FROM e),
       |parts AS (
       |  SELECT byc.community, byc.n_members, byc.dsum,
       |    COALESCE(internal.e_sym, 0) AS e_sym, tot.big_e,
       |    CAST(COALESCE(internal.e_sym, 0) AS BIGINT) * tot.big_e
       |      - byc.dsum * byc.dsum AS q_num,
       |    tot.big_e * tot.big_e AS q_den
       |  FROM byc LEFT JOIN internal USING (community) CROSS JOIN tot)
       |SELECT community, n_members, e_sym // 2 AS internal_edges,
       |  dsum AS degree_sum,
       |  round(CAST(q_num AS DOUBLE) / CAST(q_den AS DOUBLE), 6) + 0.0
       |    AS q_part,
       |  round(CAST(SUM(CAST(q_num AS DECIMAL(38,0))) OVER () AS DOUBLE)
       |    / CAST(q_den AS DOUBLE), 6) + 0.0 AS modularity
       |FROM parts ORDER BY community""".stripMargin
  }

  /** Degree assortativity (Newman 2002 eq. 4 — the Pearson
    * correlation of endpoint degrees over edges: positive = hubs link
    * hubs, negative = hubs link leaves; the one-number "is this graph
    * hub-and-spoke" diagnostic that decides whether degree-based
    * partitioning will skew). Computed over the SYMMETRIC edge list,
    * which is exactly the "each edge counted in both directions"
    * convention the estimator assumes. Endpoint degrees are integers,
    * the five moment sums aggregate as DECIMAL(38,0), one
    * fixed-order double crossing ([[StatOps.spearman]]'s shape on an
    * edge relation).
    */
  def assortativity(s: SparkSession, dir: String): DataFrame =
    assortativityRaw(s, dir)
      .select(col("n_sym_edges"), round(col("r0"), 6).as("assortativity"))

  /** Pre-round doubles — RoundingAuditSpec's probe surface. */
  private[graft] def assortativityRaw(s: SparkSession, dir: String): DataFrame = {
    val edges = supportEdges(s, dir)
    val deg = edges.groupBy(col("src")).agg(count(lit(1)).as("deg"))
    val d = org.apache.spark.sql.types.DecimalType(38, 0)
    val dbl = org.apache.spark.sql.types.DoubleType
    val xy = edges
      .join(deg.select(col("src"), col("deg").as("x")), "src")
      .join(deg.select(col("src").as("dst"), col("deg").as("y")), "dst")
    xy.agg(count(lit(1)).as("n"),
        sum(col("x").cast(d)).as("sx"), sum(col("y").cast(d)).as("sy"),
        sum((col("x") * col("x")).cast(d)).as("sxx"),
        sum((col("y") * col("y")).cast(d)).as("syy"),
        sum((col("x") * col("y")).cast(d)).as("sxy"))
      .select(col("n").as("n_sym_edges"),
        ((col("n") * col("sxy") - col("sx") * col("sy")).cast(dbl)
          / (sqrt((col("n") * col("sxx") - col("sx") * col("sx")).cast(dbl))
            * sqrt((col("n") * col("syy") - col("sy") * col("sy")).cast(dbl))))
          .as("r0"))
  }

  val assortativityOracle: String =
    s"""WITH it AS (SELECT DISTINCT l_orderkey AS o, CAST(l_partkey AS BIGINT) AS p
       |  FROM lineitem),
       |pr AS (SELECT a.p AS x, b.p AS y, COUNT(*) AS w
       |  FROM it a JOIN it b ON a.o = b.o AND a.p < b.p
       |  GROUP BY 1, 2 HAVING COUNT(*) >= $minSupSql),
       |e AS (SELECT x AS src, y AS dst FROM pr
       |  UNION ALL SELECT y AS src, x AS dst FROM pr),
       |deg AS (SELECT src, COUNT(*) AS deg FROM e GROUP BY 1),
       |xy AS (
       |  SELECT dx.deg AS x, dy.deg AS y
       |  FROM e JOIN deg dx ON e.src = dx.src JOIN deg dy ON e.dst = dy.src),
       |m AS (
       |  SELECT COUNT(*) AS n,
       |    SUM(CAST(x AS DECIMAL(38,0))) AS sx, SUM(CAST(y AS DECIMAL(38,0))) AS sy,
       |    SUM(CAST(x * x AS DECIMAL(38,0))) AS sxx,
       |    SUM(CAST(y * y AS DECIMAL(38,0))) AS syy,
       |    SUM(CAST(x * y AS DECIMAL(38,0))) AS sxy
       |  FROM xy)
       |SELECT n AS n_sym_edges,
       |  round(CAST(n * sxy - sx * sy AS DOUBLE)
       |    / (sqrt(CAST(n * sxx - sx * sx AS DOUBLE))
       |      * sqrt(CAST(n * syy - sy * sy AS DOUBLE))), 6) AS assortativity
       |FROM m""".stripMargin

  private val SalsaIters = 2

  /** SALSA hub/authority scores over the DIRECTED bipartite trade
    * graph (Lempel & Moran 2001 — the degree-normalized HITS variant:
    * each step is a stochastic walk, so score mass is conserved and
    * the fixed-point BIGINT arithmetic of [[pageRank]] carries over
    * unchanged; plain HITS would need a global L2 normalization per
    * step, which no integer scheme survives cross-engine). Customers
    * are hubs (they "point at" the suppliers they buy from), suppliers
    * are authorities; [[SalsaIters]] forward/backward sweeps:
    * auth(p) = Σ_c hub(c) div outdeg(c), hub(c) = Σ_p auth(p) div
    * indeg(p). All arithmetic is Scale-scaled integer division —
    * bit-identical on any engine, like PageRank.
    *
    * Scale shape: the distinct trade build is the fact join (same
    * checkpoint-truncated artifact discipline as [[tradeEdges]]);
    * each sweep joins the node-sized score relation onto the edge
    * relation and hash-aggregates with map-side combine — PageRank's
    * exact per-iteration cost, four small shuffles total. The degree
    * relations are node-sized and reused across sweeps.
    */
  def salsa(s: SparkSession, dir: String): DataFrame = {
    val orders = Tables.t(s, dir, "orders")
      .select(col("o_orderkey"), col("o_custkey").cast(LongType).as("c"))
    val li = Tables.t(s, dir, "lineitem")
      .select(col("l_orderkey"), col("l_suppkey").cast(LongType).as("p"))
    val trade = graft.plans.Checkpoint.pin(graft.plans.Checkpoint.truncate(
      orders.join(li, col("o_orderkey") === col("l_orderkey"))
        .select(col("c"), col("p")).distinct()))
    val outdeg = trade.groupBy(col("c")).agg(count(lit(1)).as("outdeg"))
    val indeg = trade.groupBy(col("p")).agg(count(lit(1)).as("indeg"))
    // hub-side node count folded in as a broadcast 1-row aggregate
    // it seeds the uniform start mass ONCE, outside
    // the iteration, so no literal is required
    val nC = outdeg.agg(count(lit(1)).as("n_c"))
    var hub = outdeg.crossJoin(broadcast(nC))
      .select(col("c"), expr(s"$Scale div n_c").as("h"))
    var auth: DataFrame = null
    for (_ <- 1 to SalsaIters) {
      auth = trade.join(hub, "c").join(outdeg, "c")
        .select(col("p"), expr("h div outdeg").as("contrib"))
        .groupBy(col("p")).agg(sum(col("contrib")).as("a"))
      hub = trade.join(auth, "p").join(indeg, "p")
        .select(col("c"), expr("a div indeg").as("contrib"))
        .groupBy(col("c")).agg(sum(col("contrib")).as("h"))
    }
    auth.select(lit("supplier").as("kind"), col("p").as("key"),
        col("a").as("score"))
      .unionByName(hub.select(lit("customer").as("kind"), col("c").as("key"),
        col("h").as("score")))
      .orderBy(col("score").desc, col("kind"), col("key"))
  }

  // DuckDB SUM(BIGINT) → HUGEINT: cast each sweep back to BIGINT so
  // the fixed-point domain matches the Spark side (pageRank discipline)
  val salsaOracle: String = {
    val sweep = (i: Int, prevHub: String) =>
      s"""a$i AS (SELECT t.p, CAST(SUM(h.h // od.outdeg) AS BIGINT) AS a
         |  FROM trade t JOIN $prevHub h ON t.c = h.c
         |  JOIN od ON t.c = od.c GROUP BY 1),
         |h$i AS (SELECT t.c, CAST(SUM(a.a // ind.indeg) AS BIGINT) AS h
         |  FROM trade t JOIN a$i a ON t.p = a.p
         |  JOIN ind ON t.p = ind.p GROUP BY 1)"""
    s"""WITH trade AS (SELECT DISTINCT CAST(o_custkey AS BIGINT) AS c,
       |    CAST(l_suppkey AS BIGINT) AS p
       |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
       |od AS (SELECT c, COUNT(*) AS outdeg FROM trade GROUP BY 1),
       |ind AS (SELECT p, COUNT(*) AS indeg FROM trade GROUP BY 1),
       |nc AS (SELECT COUNT(*) AS n FROM od),
       |h0 AS (SELECT od.c, $Scale // nc.n AS h FROM od CROSS JOIN nc),
       |${(1 to SalsaIters).map(i => sweep(i, s"h${i - 1}")).mkString(",\n")}
       |SELECT 'supplier' AS kind, p AS key, a AS score FROM a$SalsaIters
       |UNION ALL
       |SELECT 'customer' AS kind, c AS key, h AS score FROM h$SalsaIters
       |ORDER BY score DESC, kind, key""".stripMargin
  }

  /** Hop-bounded HARMONIC centrality (Boldi & Vigna 2014's recommended
    * closeness variant — it handles disconnected graphs, which
    * thresholded co-occurrence graphs always are): HC(v) = Σ 1/d(v,u)
    * over u within 2 hops — degree + half the strict-2-hop neighbor
    * count. The 2-hop truncation is the standard scalable cut
    * (full closeness is all-pairs BFS); the delta-frontier [[kHop]]
    * machinery extends the radius when a use case pays for it.
    *
    * INTEGER-EXACT: n₁ and n₂ are counts, HC = (2n₁+n₂)/2 — the only
    * division is an exact halving. No rounding anywhere.
    *
    * Scale shape: one wedge join for the candidate 2-hop pairs (the
    * [[adamicAdar]]/[[jaccardNeighbors]] relation — measured 1.8× at
    * 10×), one distinct, one anti-join against the edge relation, two
    * node-sized aggregates.
    */
  def harmonic(s: SparkSession, dir: String): DataFrame = {
    val edges = graft.plans.Checkpoint.pin(supportEdges(s, dir))
    val deg = edges.groupBy(col("src").as("node")).agg(count(lit(1)).as("n1"))
    val wedges = edges.select(col("src").as("w"), col("dst").as("a"))
      .join(edges.select(col("src").as("w"), col("dst").as("b")), "w")
      .filter(col("a") =!= col("b"))
      .select(col("a").as("node"), col("b").as("nbr2")).distinct()
    val hop2 = wedges
      .join(edges.select(col("src").as("node"), col("dst").as("nbr2")),
        Seq("node", "nbr2"), "left_anti")
      .groupBy(col("node")).agg(count(lit(1)).as("n2"))
    deg.join(hop2, Seq("node"), "left")
      .select(col("node"), col("n1"), coalesce(col("n2"), lit(0L)).as("n2"))
      .withColumn("harmonic",
        (col("n1") * 2L + col("n2"))
          .cast(org.apache.spark.sql.types.DoubleType) / lit(2.0))
      .orderBy(col("node"))
  }

  val harmonicOracle: String =
    s"""WITH it AS (SELECT DISTINCT l_orderkey AS o, CAST(l_partkey AS BIGINT) AS p
       |  FROM lineitem),
       |pr AS (SELECT a.p AS x, b.p AS y, COUNT(*) AS w
       |  FROM it a JOIN it b ON a.o = b.o AND a.p < b.p
       |  GROUP BY 1, 2 HAVING COUNT(*) >= $minSupSql),
       |e AS (SELECT x AS src, y AS dst FROM pr
       |  UNION ALL SELECT y AS src, x AS dst FROM pr),
       |deg AS (SELECT src AS node, COUNT(*) AS n1 FROM e GROUP BY 1),
       |wedge AS (
       |  SELECT DISTINCT e1.dst AS node, e2.dst AS nbr2
       |  FROM e e1 JOIN e e2 ON e1.src = e2.src AND e1.dst <> e2.dst),
       |hop2 AS (
       |  SELECT w.node, COUNT(*) AS n2
       |  FROM wedge w ANTI JOIN e ON e.src = w.node AND e.dst = w.nbr2
       |  GROUP BY 1)
       |SELECT deg.node, deg.n1,
       |  CAST(COALESCE(hop2.n2, 0) AS BIGINT) AS n2,
       |  CAST(deg.n1 * 2 + COALESCE(hop2.n2, 0) AS DOUBLE) / 2.0 AS harmonic
       |FROM deg LEFT JOIN hop2 USING (node)
       |ORDER BY deg.node""".stripMargin

  private val TrussK = 3
  private val TrussRounds = 3

  /** K-TRUSS decomposition (Cohen 2008) at k = [[TrussK]]: iteratively
    * drop every edge whose triangle SUPPORT (common neighbors of its
    * endpoints) is below k−2 — at k = 3, the "every edge sits in a
    * triangle" cut (k = 4 is DEGENERATE on the gate corpus: only 2 of
    * 3445 support edges reach support 2, and they peel each other
    * away; k = 3 keeps a non-trivial 181-edge truss with fixpoint
    * headroom inside the fixed rounds). The truss is the
    * community-detection cousin of [[kCore]] that a core can't fake —
    * a star has high core numbers but zero support. FIXED [[TrussRounds]]
    * synchronous rounds (the [[kCore]] device: the oracle replays the
    * exact rounds as materialized CTEs; the spec proves convergence
    * headroom at gate scale).
    *
    * Scale shape: each round is one wedge join over the surviving
    * symmetric edges (the [[harmonic]]/[[adamicAdar]] pair relation —
    * measured 1.8-2.6× at 10×) joined back to the undirected edge
    * list, checkpoint-truncated per round. Support counts are
    * integers; no floats anywhere.
    */
  def kTruss(s: SparkSession, dir: String): DataFrame = {
    val edges = graft.plans.Checkpoint.pin(supportEdges(s, dir))
    // truncated, not lazy: the final support count reads it three times
    val und = graft.plans.Checkpoint.truncate(graft.plans.Checkpoint.rounds(
        edges.filter(col("src") < col("dst")), TrussRounds) { (und, _) =>
      trussSupport(und).filter(col("support") >= TrussK - 2)
        .select(col("src"), col("dst"))
    })
    // final support re-counted on the SURVIVING subgraph
    trussSupport(und).orderBy(col("src"), col("dst"))
  }

  /** (src, dst, support): each edge of `und` with its triangle count. */
  private def trussSupport(und: DataFrame): DataFrame = {
    val sym = und.unionByName(
      und.select(col("dst").as("src"), col("src").as("dst")))
    val wedge = sym.select(col("src").as("a"), col("dst").as("w"))
      .join(sym.select(col("src").as("b"), col("dst").as("w")), "w")
      .filter(col("a") < col("b"))
      .groupBy(col("a"), col("b")).agg(count(lit(1)).as("sup"))
    und
      .join(wedge, col("src") === col("a") && col("dst") === col("b"), "left")
      .select(col("src"), col("dst"), coalesce(col("sup"), lit(0L)).as("support"))
  }

  val kTrussOracle: String = {
    val round = (i: Int) =>
      s"""u$i AS MATERIALIZED (
         |  SELECT e.src, e.dst FROM u${i - 1} e
         |  JOIN s${i - 1} x ON x.src = e.src
         |  JOIN s${i - 1} y ON y.src = e.dst AND y.dst = x.dst
         |  GROUP BY e.src, e.dst HAVING COUNT(*) >= ${TrussK - 2}),
         |s$i AS MATERIALIZED (SELECT src, dst FROM u$i
         |  UNION ALL SELECT dst, src FROM u$i)"""
    s"""WITH it AS MATERIALIZED (SELECT DISTINCT l_orderkey AS o, CAST(l_partkey AS BIGINT) AS p
       |  FROM lineitem),
       |pr AS (SELECT a.p AS x, b.p AS y FROM it a JOIN it b
       |  ON a.o = b.o AND a.p < b.p
       |  GROUP BY 1, 2 HAVING COUNT(*) >= $minSupSql),
       |u0 AS MATERIALIZED (SELECT x AS src, y AS dst FROM pr),
       |s0 AS MATERIALIZED (SELECT src, dst FROM u0
       |  UNION ALL SELECT dst, src FROM u0),
       |${(1 to TrussRounds).map(round).mkString(",\n")}
       |SELECT e.src, e.dst,
       |  CAST(COALESCE((SELECT COUNT(*) FROM s$TrussRounds x
       |    JOIN s$TrussRounds y ON y.dst = x.dst
       |    WHERE x.src = e.src AND y.src = e.dst), 0) AS BIGINT) AS support
       |FROM u$TrussRounds e
       |ORDER BY e.src, e.dst""".stripMargin
  }

  val defs: Seq[QueryDef] = Seq(
    QueryDef("gr_ktruss", kTruss, Some(kTrussOracle)),
    QueryDef("gr_harmonic", harmonic, Some(harmonicOracle)),
    QueryDef("gr_pagerank", pageRank, Some(pageRankOracle)),
    QueryDef("gr_khop", kHop, Some(kHopOracle)),
    QueryDef("gr_triangles", coTriangles, Some(coTrianglesOracle)),
    QueryDef("gr_kcore", kCore, Some(kCoreOracle)),
    QueryDef("gr_sim_neighbors", jaccardNeighbors, Some(jaccardNeighborsOracle)),
    QueryDef("gr_adamic_adar", adamicAdar, Some(adamicAdarOracle)),
    QueryDef("gr_salsa", salsa, Some(salsaOracle)),
    QueryDef("gr_label_prop", labelProp, Some(labelPropOracle)),
    QueryDef("gr_modularity", modularity, Some(modularityOracle)),
    QueryDef("gr_assortativity", assortativity, Some(assortativityOracle)),
  )
}
