package graft

import graft.queries.{Graph, StreamingGates}
import org.apache.spark.sql.functions._

/** Round-9 plan/scale contracts for the graph family and the OHLC
  * rewrite: the DuckDB gates pin VALUES; these pin the SHAPES the
  * scale claims rest on — salted-contribution equivalence, the
  * frontier-sized k-hop expansion, and the window-free OHLC aggregate.
  */
class SkewGraphSpec extends SparkSpec {
  private val dir = "/root/testdata/sf0.001"

  test("PageRank: salted contribution join is bit-identical to the plain join") {
    def run(): Array[String] = Graph.pageRank(spark, dir).collect().map(_.toString)
    val plain = run()
    spark.conf.set(Graph.SaltsConf, "8")
    try {
      val salted = run()
      assert(plain.nonEmpty && salted.sameElements(plain),
        "salting must redistribute work, never change a single rank")
    } finally {
      spark.conf.unset(Graph.SaltsConf)
      spark.catalog.clearCache()
    }
  }

  test("k-hop expansion is frontier-sized: LeftAnti settles reached nodes out of the round") {
    val edges = Graph.tradeEdges(spark, dir)
    val seeds = Graph.kHopSeeds(spark, dir)
    val step = Graph.frontierStep(edges, seeds, seeds)
    val plan = step.queryExecution.optimizedPlan.toString
    assert(plan.contains("LeftAnti"),
      s"round expansion must anti-join the settled set away:\n${plan.take(800)}")
    spark.catalog.clearCache()
  }

  test("k-hop frontiers are disjoint, shrink past the graph's effective diameter, and union to the result") {
    val edges = Graph.tradeEdges(spark, dir)
    val seeds = Graph.kHopSeeds(spark, dir)
    var settled = seeds
    var frontier = seeds
    val sizes = scala.collection.mutable.ArrayBuffer(frontier.count())
    for (_ <- 1 to 3) {
      frontier = graft.plans.Checkpoint.truncate(Graph.frontierStep(edges, frontier, settled))
      // disjointness: a frontier node is by definition first-reached
      assert(frontier.join(settled, Seq("node"), "left_semi").count() == 0)
      settled = settled.unionByName(frontier)
      sizes += frontier.count()
    }
    // the dense bipartite trade graph saturates fast: the last delta
    // frontier must be a small fraction of the reached set — the
    // number a reached-set expansion would re-join instead
    val reached = settled.count()
    assert(sizes.last < reached / 2,
      s"frontier ${sizes.last} vs reached $reached — expansion not delta-sized")
    // and the loop's union must reproduce kHop exactly
    val viaLoop = settled.select(col("node"), col("hop"))
      .collect().map(_.toString).sorted
    val viaOp = Graph.kHop(spark, dir)
      .select((when(col("kind") === "customer", col("key") * 2)
        .otherwise(col("key") * 2 + 1)).as("node"), col("hop"))
      .collect().map(_.toString).sorted
    assert(viaLoop.sameElements(viaOp))
    graft.plans.Checkpoint.release()
    spark.catalog.clearCache()
  }

  test("k-hop BFS equals a driver-side reference BFS at sf0.001") {
    val edgeList = Graph.tradeEdges(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getLong(1))
    val adj = edgeList.groupBy(_._1).map { case (k, vs) => k -> vs.map(_._2) }
    val seeds = Graph.kHopSeeds(spark, dir).collect().map(_.getLong(0)).toSet
    val dist = scala.collection.mutable.Map(seeds.map(_ -> 0L).toSeq: _*)
    var frontier = seeds
    for (h <- 1L to 3L) {
      frontier = frontier.flatMap(adj.getOrElse(_, Array.empty[Long]))
        .filterNot(dist.contains)
      frontier.foreach(dist(_) = h)
    }
    val got = Graph.kHop(spark, dir).collect().map { r =>
      val node = if (r.getString(0) == "customer") r.getLong(1) * 2 else r.getLong(1) * 2 + 1
      node -> r.getLong(2)
    }.toMap
    assert(got == dist.toMap, "relational BFS diverges from reference BFS")
    spark.catalog.clearCache()
  }

  test("triangles: equals a driver-side brute-force count at sf0.001, coeff in [0,1]") {
    val rows = Graph.coTriangles(spark, dir).collect()
    assert(rows.nonEmpty)
    // reference: adjacency sets + per-node common-neighbor counting
    val edges = scala.collection.mutable.Set.empty[(Long, Long)]
    Tables.t(spark, dir, "lineitem")
      .select(col("l_orderkey"),
        col("l_partkey").cast("long"))
      .collect().groupBy(_.getLong(0)).foreach { case (_, rs) =>
        val ps = rs.map(_.getLong(1)).distinct.sorted
        for (i <- ps.indices; j <- i + 1 until ps.length) edges += ((ps(i), ps(j)))
      }
    val adj = scala.collection.mutable.Map.empty[Long, scala.collection.mutable.Set[Long]]
    edges.foreach { case (u, v) =>
      adj.getOrElseUpdate(u, scala.collection.mutable.Set.empty) += v
      adj.getOrElseUpdate(v, scala.collection.mutable.Set.empty) += u
    }
    val refTri = adj.keys.map { n =>
      val ns = adj(n)
      n -> ns.toSeq.combinations(2).count { case Seq(x, y) => adj(x).contains(y) }
    }.toMap
    rows.foreach { r =>
      val (node, degV, tri, coeff) = (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))
      assert(degV == adj(node).size.toLong, s"degree mismatch at $node")
      assert(tri == refTri(node).toLong, s"triangle count mismatch at $node: $tri vs ${refTri(node)}")
      assert(coeff >= 0.0 && coeff <= 1.0, s"coefficient out of range: $r")
    }
    // each triangle contributes one corner count to three nodes
    assert(rows.map(_.getLong(2)).sum % 3 == 0)
  }

  test("k-core equals a driver-side peel run to TRUE fixpoint; every core degree >= k") {
    val rows = Graph.kCore(spark, dir).collect()
    assert(rows.nonEmpty)
    rows.foreach(r => assert(r.getLong(1) >= 3, s"core degree < k: $r"))
    // reference: build the thresholded co-occurrence graph and peel to
    // convergence (no round cap) — the 12-round operator must have
    // converged at this scale
    val adj = scala.collection.mutable.Map.empty[Long, scala.collection.mutable.Set[Long]]
    Tables.t(spark, dir, "lineitem")
      .select(col("l_orderkey"), col("l_partkey").cast("long"))
      .collect().groupBy(_.getLong(0)).toSeq
      .flatMap { case (_, rs) =>
        val ps = rs.map(_.getLong(1)).distinct.sorted
        for (i <- ps.indices; j <- i + 1 until ps.length) yield (ps(i), ps(j))
      }
      .groupBy(identity).filter(_._2.size >= 2).keys
      .foreach { case (u, v) =>
        adj.getOrElseUpdate(u, scala.collection.mutable.Set.empty) += v
        adj.getOrElseUpdate(v, scala.collection.mutable.Set.empty) += u
      }
    var changed = true
    while (changed) {
      val drop = adj.collect { case (n, vs) if vs.size < 3 => n }.toSeq
      changed = drop.nonEmpty
      drop.foreach { n => adj.remove(n).foreach(_.foreach(m => adj.get(m).foreach(_ -= n))) }
    }
    val got = rows.map(r => r.getLong(0) -> r.getLong(1)).toMap
    val want = adj.map { case (n, vs) => n -> vs.size.toLong }.toMap
    assert(got == want, s"k-core diverges from the fixpoint peel: " +
      s"got ${got.size} nodes, want ${want.size}")
  }

  test("similar-items: <=3 per node, jaccard in (0,1], values match a driver-side check") {
    val rows = Graph.jaccardNeighbors(spark, dir).collect()
    assert(rows.nonEmpty)
    rows.groupBy(_.getLong(0)).values.foreach(rs => assert(rs.length <= 3))
    rows.foreach(r => assert(r.getDouble(3) > 0.0 && r.getDouble(3) <= 1.0, r.toString))
    // reference: neighbor sets from the same thresholded graph
    val adj = scala.collection.mutable.Map.empty[Long, Set[Long]].withDefaultValue(Set.empty)
    Graph.supportEdges(spark, dir).collect().foreach { e =>
      adj(e.getLong(0)) = adj(e.getLong(0)) + e.getLong(1)
    }
    rows.foreach { r =>
      val (a, b) = (r.getLong(0), r.getLong(2))
      val want = adj(a).intersect(adj(b)).size.toDouble / adj(a).union(adj(b)).size
      assert(math.abs(r.getDouble(3) - want) < 1e-6,
        s"J($a,$b) = ${r.getDouble(3)}, reference $want")
    }
  }

  test("adamic-adar: positive scores matching a driver-side rarity-weighted sum") {
    val rows = Graph.adamicAdar(spark, dir).collect()
    assert(rows.nonEmpty)
    val adj = scala.collection.mutable.Map.empty[Long, Set[Long]].withDefaultValue(Set.empty)
    Graph.supportEdges(spark, dir).collect().foreach { e =>
      adj(e.getLong(0)) = adj(e.getLong(0)) + e.getLong(1)
    }
    rows.foreach { r =>
      val (a, b, got) = (r.getLong(0), r.getLong(2), r.getDouble(3))
      assert(got > 0.0, r.toString)
      val want = adj(a).intersect(adj(b)).toSeq
        .map(w => 1.0 / math.log(adj(w).size.toDouble)).sum
      assert(math.abs(got - want) < 1e-5, s"AA($a,$b) = $got, reference $want")
    }
  }

  test("graph queries leave no pinned cache entries (self-releasing persists)") {
    // tradeEdges/edgesD/pairs/ed and the support edges are pinned and
    // the builds and rounds truncated in the building thread's scope;
    // once every result is collected, one release must free them all
    graft.plans.Checkpoint.release()
    spark.catalog.clearCache()
    Seq(Graph.pageRank(spark, dir), Graph.kHop(spark, dir),
      Graph.coTriangles(spark, dir), Graph.salsa(spark, dir),
      Graph.labelProp(spark, dir), Graph.modularity(spark, dir)).foreach { df =>
      assert(df.collect().nonEmpty)
    }
    graft.plans.Checkpoint.release()
    assert(spark.sharedState.cacheManager.isEmpty,
      "a graph query's pinned entries outlived the release")
    assert(spark.sparkContext.getPersistentRDDs.isEmpty,
      s"a graph query's storage outlived the release: ${spark.sparkContext.getPersistentRDDs.keys}")
  }

  test("SALSA: equals a driver-side integer replay; walk mass is conserved up to truncation") {
    val got = Graph.salsa(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
    val trade = Tables.t(spark, dir, "orders")
      .select(col("o_orderkey"), col("o_custkey"))
      .join(Tables.t(spark, dir, "lineitem")
        .select(col("l_orderkey"), col("l_suppkey")),
        col("o_orderkey") === col("l_orderkey"))
      .select(col("o_custkey"), col("l_suppkey"))
      .distinct().collect().map(r => (r.getLong(0), r.getLong(1)))
    val scale = 1000000000000L
    val outdeg = trade.groupBy(_._1).view.mapValues(_.length.toLong).toMap
    val indeg = trade.groupBy(_._2).view.mapValues(_.length.toLong).toMap
    var hub = outdeg.keys.map(c => c -> scale / outdeg.size).toMap
    var auth = Map.empty[Long, Long]
    for (_ <- 1 to 2) {
      auth = trade.groupBy(_._2).view.mapValues(
        _.map { case (c, _) => hub(c) / outdeg(c) }.sum).toMap
      hub = trade.groupBy(_._1).view.mapValues(
        _.map { case (_, p) => auth(p) / indeg(p) }.sum).toMap
    }
    assert(got.size === auth.size + hub.size)
    auth.foreach { case (p, a) => assert(got(("supplier", p)) === a, s"supplier $p") }
    hub.foreach { case (c, h) => assert(got(("customer", c)) === h, s"customer $c") }
    // each integer division truncates < 1 unit per edge per sweep:
    // 4 sweeps → total mass within 4·|E| of the starting Scale
    val mass = hub.values.sum
    val startMass = (scale / outdeg.size) * outdeg.size
    assert(mass <= startMass && mass >= startMass - 4L * trade.length,
      s"mass $mass vs start $startMass, E=${trade.length}")
  }

  test("label propagation: equals a driver-side 3-round sync replay; communities form") {
    val rows = Graph.labelProp(spark, dir).collect()
    assert(rows.nonEmpty)
    val edges = Graph.supportEdges(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val adj = edges.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    var labels = adj.keys.map(n => n -> n).toMap
    for (_ <- 1 to 3) {
      labels = adj.map { case (n, nbrs) =>
        val freq = nbrs.map(labels).groupBy(identity)
          .view.mapValues(_.length).toMap
        val best = freq.toSeq.minBy { case (l, c) => (-c, l) }._1
        n -> best
      }
    }
    val got = rows.map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === labels, "sync LPA replay diverges")
    // sizes column is consistent with the label partition
    val sizes = labels.values.groupBy(identity).view.mapValues(_.size.toLong).toMap
    rows.foreach(r => assert(r.getLong(2) === sizes(r.getLong(1)), r.toString))
    // the propagation must actually merge nodes into communities
    assert(labels.values.toSet.size < labels.size,
      "every node kept its own label — no propagation happened")
  }

  test("modularity: equals a driver-side replay over the LPA partition; Q in (-0.5, 1]") {
    val rows = Graph.modularity(spark, dir).collect()
    assert(rows.nonEmpty)
    val edges = Graph.supportEdges(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val labels = Graph.labelProp(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val bigE = edges.length.toLong
    val deg = edges.groupBy(_._1).view.mapValues(_.length.toLong).toMap
    val byC = labels.groupBy(_._2)
    val parts = byC.map { case (c, members) =>
      val nodes = members.keySet
      val eSym = edges.count { case (u, v) => labels(u) == c && labels(v) == c }.toLong
      val dsum = nodes.toSeq.map(deg).sum
      c -> (members.size.toLong, eSym, dsum,
        eSym.toDouble / bigE.toDouble -
          (dsum.toDouble / bigE.toDouble) * (dsum.toDouble / bigE.toDouble))
    }
    rows.foreach { r =>
      val (n, eSym, dsum, q) = parts(r.getLong(0))
      assert(r.getLong(1) === n && r.getLong(2) === eSym / 2 && r.getLong(3) === dsum,
        s"community shape: $r")
      assert(math.abs(r.getDouble(4) - math.rint(q * 1e6) / 1e6) < 1e-9, s"q_part: $r")
    }
    val qTotal = rows.head.getDouble(5)
    assert(math.abs(qTotal - math.rint(parts.values.map(_._4).sum * 1e6) / 1e6) < 1e-5)
    assert(qTotal > -0.5 && qTotal <= 1.0, s"Q out of range: $qTotal")
    // degree sums must cover the whole edge list
    assert(rows.map(_.getLong(3)).sum === bigE, "sum of degrees must equal |sym edges|")
  }

  test("assortativity: equals the exact edge-degree Pearson; within [-1, 1]") {
    val r = Graph.assortativity(spark, dir).collect().head
    val edges = Graph.supportEdges(spark, dir).collect()
      .map(e => (e.getLong(0), e.getLong(1)))
    val deg = edges.groupBy(_._1).view.mapValues(_.length.toLong).toMap
    assert(r.getLong(0) === edges.length.toLong)
    val xs = edges.map(e => BigInt(deg(e._1)))
    val ys = edges.map(e => BigInt(deg(e._2)))
    val n = BigInt(edges.length)
    val (sx, sy) = (xs.sum, ys.sum)
    val sxx = xs.map(v => v * v).sum
    val syy = ys.map(v => v * v).sum
    val sxy = xs.zip(ys).map { case (a, b) => a * b }.sum
    val want = (n * sxy - sx * sy).toDouble /
      (math.sqrt((n * sxx - sx * sx).toDouble) * math.sqrt((n * syy - sy * sy).toDouble))
    assert(math.abs(r.getDouble(1) - math.rint(want * 1e6) / 1e6) < 1e-9,
      s"${r.getDouble(1)} vs $want")
    assert(r.getDouble(1) >= -1.0 && r.getDouble(1) <= 1.0)
    spark.catalog.clearCache()
  }

  test("DSIR: target-domain docs weigh higher on average; per-source keeps are capped") {
    val rows = graft.queries.LlmCuration.dsirWeights(spark, "/root/testdata/sf0.01").collect()
    assert(rows.nonEmpty)
    val langBy = Tables.t(spark, "/root/testdata/sf0.01", "documents")
      .select(col("doc_id"),
        col("lang"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val (en, rest) = rows.partition(r => langBy(r.getLong(0)) == "en")
    def mean(rs: Array[org.apache.spark.sql.Row]) =
      rs.map(_.getAs[Double]("weight")).sum / rs.length
    // the method's point: likelihood-ratio weights separate the target
    // domain from the pool
    assert(mean(en) > mean(rest),
      s"DSIR failed to separate: en ${mean(en)} vs rest ${mean(rest)}")
    rows.groupBy(_.getAs[String]("source")).foreach { case (src, rs) =>
      val kept = rs.count(_.getAs[Boolean]("keep"))
      assert(kept <= 5, s"source $src keeps $kept > 5")
      assert(kept > 0, s"source $src keeps nothing")
    }
  }

  test("EWMA: first event per user is its own average; smoothing stays inside the local band") {
    val rows = StreamingGates.ewmaSmooth(spark, dir).collect()
    assert(rows.nonEmpty)
    val byUser = rows.groupBy(_.getLong(0))
    byUser.foreach { case (_, rs) =>
      // rows arrive ordered (user, ts, event_id) from the query's sort
      val vals = rs.map(_.getAs[Double]("value"))
      val ewma = rs.map(_.getAs[Double]("ewma"))
      assert(math.abs(ewma.head - vals.head) < 1e-9,
        "head EWMA must equal the first value (normalizer = available mass)")
      ewma.indices.foreach { i =>
        val window = vals.slice(math.max(0, i - 7), i + 1)
        assert(ewma(i) >= window.min - 1e-6 && ewma(i) <= window.max + 1e-6,
          s"EWMA left its 8-step band at row $i")
      }
    }
  }

  test("winsorize: values inside the band pass through; ~10% of rows clip") {
    val rows = graft.queries.DataOps.winsorize(spark, dir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (v, w, clipped) = (r.getAs[Double]("value"),
        r.getAs[Double]("winsorized"), r.getAs[Boolean]("clipped"))
      if (!clipped) assert(math.abs(v - w) < 1e-9, s"unclipped row changed: $r")
      else assert(math.abs(v - w) > 0, s"clipped row unchanged: $r")
    }
    val frac = rows.count(_.getAs[Boolean]("clipped")).toDouble / rows.length
    // p5/p95 fences clip ~10% by construction; a band this wide still
    // catches a broken percentile (0% or 50% would both fail)
    assert(frac > 0.05 && frac < 0.15, s"clip fraction $frac out of band")
  }

  test("OHLC: no window pass, and the exchange carries bars (partial agg below it)") {
    val plan = StreamingGates.ohlcBars(spark, dir)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), s"OHLC must not spend a window:\n${plan.take(800)}")
    // struct-keyed min_by buffers aren't hash-aggregable, so Spark
    // plans a SortAggregate — the scale property to pin is the WIRE:
    // the partial aggregate must sit below the hash exchange, so the
    // shuffle moves types×hours bars, never the fact (the r8 window
    // shape shuffled every event)
    val lines = plan.linesIterator.toVector
    val exIdx = lines.indexWhere(_.contains("Exchange hashpartitioning"))
    val partialIdx = lines.indexWhere(_.contains("partial_min_by"))
    assert(exIdx >= 0 && partialIdx > exIdx,
      s"partial aggregate must be below the exchange:\n${plan.take(1200)}")
  }
}
