package graft

import org.apache.spark.sql.DataFrame

/** Golden plan-shape assertions for the five most expensive queries in
  * the bench (VERDICT r9 #6): each pins the specific plan devices its
  * cost model rests on, so a future plan regression — a lost persist,
  * a lost checkpoint truncation, a resurrected Window, a broadcast
  * flip into a nested-loop join — fails a TEST instead of surfacing as
  * an unexplained bench inflation. Complements PlanAuditSpec (which
  * forbids globally-bad shapes everywhere); this spec requires the
  * good shapes to be PRESENT where a query's scale claim needs them.
  */
class ExplainGoldenSpec extends SparkSpec {
  private val dir = "/root/testdata/sf0.001"

  private def executed(df: DataFrame): String =
    df.queryExecution.executedPlan.toString

  private def count(plan: String, marker: String): Int =
    plan.sliding(marker.length).count(_ == marker)

  test("gr_triangles: both intermediates cached, no window, no nested loop") {
    val plan = executed(graft.queries.Graph.coTriangles(spark, dir))
    // pairs feeds deg + the orientation join; ed feeds both wedge
    // sides + the closing join — a lost persist re-runs the per-order
    // self-join per consumer (the exact r8 pagerank failure mode)
    assert(count(plan, "InMemoryTableScan") >= 4,
      s"expected >=4 cached scans (pairs x2, ed x3):\n${plan.take(1000)}")
    assert(!plan.contains("Window"), "triangles must never spend a window pass")
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"))
    spark.catalog.clearCache()
  }

  test("gr_pagerank: checkpoint-truncated edges under the cache, 5 cached iteration scans") {
    val plan = executed(graft.queries.Graph.pageRank(spark, dir))
    // the r8 23.9s regression was cache eviction re-running the
    // orders⋈lineitem edge build: the persisted relations must bottom
    // out at a checkpoint artifact (scan of an existing RDD), never at
    // the fact join
    assert(plan.contains("ExistingRDD"),
      s"edge build must be checkpoint-truncated:\n${plan.take(1000)}")
    assert(count(plan, "InMemoryTableScan") >= 5,
      "each of the 5 iterations must consume the CACHED edgesD relation")
    // exactly ONE BroadcastNestedLoopJoin: the 1-row node-count
    // aggregate folded into the seed relation (uniform start mass +
    // teleport base, VERDICT r14 #3 — the salsa device). It appears
    // once because the seed is built once, outside the iteration; the
    // base constant then rides the rank relation as a column.
    assert(count(plan, "BroadcastNestedLoopJoin") == 1,
      "only the 1-row node-count seed broadcast may nested-loop")
    assert(!plan.contains("CartesianProduct"))
    spark.catalog.clearCache()
  }

  test("dd_cluster_rep: star-CC labels ride a checkpoint; rep tail is one aggregate") {
    val plan = executed(graft.queries.LlmDedup.clusterRepByQuality(spark, dir))
    assert(plan.contains("ExistingRDD"),
      "label loop must be checkpoint-truncated (star-CC rounds)")
    // r19: the rank window pair was replaced by ONE map-side-combined
    // aggregate (max(struct(quality, −doc_id, doc_id)) + count) — the
    // partial aggregate BEFORE the label exchange is the point of the
    // rewrite (guide §2.3), so its presence is pinned, and a window
    // sneaking back in would fail the no-Window assert
    assert(plan.contains("partial_max"),
      "rep selection must map-side combine (partial max before the label exchange)")
    assert(!plan.contains("Window"),
      "rep selection is an aggregate, not a per-label rank window (r19)")
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"))
    spark.catalog.clearCache()
  }

  test("dd_incremental_pairs: candidate generation is an equi join, never a product") {
    val plan = executed(graft.queries.LlmDedup.ngramIncrementalPairs(spark, dir))
    // the delta×corpus candidate join must stay keyed on the shingle
    // (hash-partitioned equi join); a broadcast flip into a nested
    // loop or a product is the quadratic trap the prefix index exists
    // to avoid
    assert(plan.contains("SortMergeJoin") || plan.contains("ShuffledHashJoin")
      || plan.contains("BroadcastHashJoin"),
      s"candidate join must be an equi join:\n${plan.take(1000)}")
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"))
    spark.catalog.clearCache()
  }

  test("dd_semdedup_keep: labels ride a checkpoint; keep rank is one window; no product") {
    val plan = executed(graft.queries.LlmVectors.semdedupKeep(spark, dir))
    // the star-CC label loop must enter the plan as its truncated
    // artifact, not as a re-derivation of the pair join per consumer
    assert(plan.contains("ExistingRDD"),
      s"duplicate groups must be checkpoint-materialized:\n${plan.take(1000)}")
    assert(plan.contains("Window"), "keep selection is a per-cluster rank window")
    assert(!plan.contains("CartesianProduct"))
    spark.catalog.clearCache()
  }

  test("gr_salsa: checkpoint-truncated trade build under the cache, cached sweep scans, no window") {
    val plan = executed(graft.queries.Graph.salsa(spark, dir))
    // the persisted trade relation must bottom out at the checkpoint
    // artifact (pageRank's r8 lesson: a cache miss must re-read
    // blocks, never re-run the orders⋈lineitem distinct)
    assert(plan.contains("ExistingRDD"),
      s"trade build must be checkpoint-truncated:\n${plan.take(1000)}")
    // every sweep joins the CACHED trade relation (2 iterations × 2
    // sweeps, plus the degree relations derive from it)
    assert(count(plan, "InMemoryTableScan") >= 4,
      "sweeps must consume the cached trade relation")
    assert(!plan.contains("Window"), "SALSA is pure join+aggregate, no window pass")
    // the ONLY BroadcastNestedLoopJoin allowed since r14 is the 1-row
    // hub-count aggregate (uniform start mass) folded in as a
    // broadcast cross join; it prints EXACTLY twice because the final
    // output UNIONs the auth and hub sweeps and both branches derive
    // from the same seeded-hub subtree. Pinned exact (ADVICE r14 #1):
    // a relaxed <= bound would let a future genuinely-unbounded BNLJ
    // pass whenever one of the seed copies optimized away.
    assert(count(plan, "BroadcastNestedLoopJoin") == 2,
      "exactly the two seeded-hub copies of the 1-row start-mass broadcast may nested-loop")
    assert(!plan.contains("CartesianProduct"))
    spark.catalog.clearCache()
  }

  test("gr_label_prop: per-round checkpoints, cached edge scans, top-1 via group limit") {
    val plan = executed(graft.queries.Graph.labelProp(spark, dir))
    // rounds 1..n-1 are truncated: the final plan must read the
    // previous round as an artifact, not re-derive 3 rounds of joins
    assert(plan.contains("ExistingRDD"),
      s"earlier rounds must enter as checkpoint artifacts:\n${plan.take(1000)}")
    assert(count(plan, "InMemoryTableScan") >= 1,
      "the final round must consume the cached edge relation")
    // the rn=1 argmax filter must compile to the partial group-limit
    // (map-side top-1 per node before the shuffle), not a full sort
    assert(plan.contains("WindowGroupLimit"),
      s"argmax must ride WindowGroupLimit:\n${plan.take(1000)}")
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"))
    spark.catalog.clearCache()
  }

  test("cu_pipeline_e2e: survivor stage is materialized once (checkpoint boundary)") {
    val plan = executed(graft.queries.LlmCuration.curationPipeline(spark, dir))
    // the quality+dedup survivor corpus feeds four consumers; the
    // measured-in-r8 regression mode is losing the eager truncate and
    // re-running the Gopher DAG per consumer
    assert(plan.contains("ExistingRDD"),
      s"survivor stage must be checkpoint-materialized:\n${plan.take(1000)}")
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"))
    spark.catalog.clearCache()
  }
}
