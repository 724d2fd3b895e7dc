package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.FloatType

import scala.jdk.CollectionConverters._

/** Growth-curve evidence for the dedup/ANN family's scale claims
  * (VERDICT r2 #7): measure wall time AND candidate-pair counts at 1×
  * (sf0.1) and on a synthesized 10× corpus, so "sub-quadratic candidate
  * volume" is a measured number, not an asserted design property.
  *
  * The 10× corpus derives deterministically from sf0.1: each document /
  * embedding is replicated `copies` times with an id offset and a
  * copy-dependent perturbation (every ~11th token suffixed; embedding
  * coordinates scaled ±3%) so replicas are NOT near-duplicates of each
  * other — corpus size grows 10×, true-pair density stays comparable,
  * and a quadratic candidate generator would show ~100× pair growth
  * while a bucketed one shows ~10×.
  *
  * Run: `SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 runMain graft.ScaleBench`
  * Prints a markdown table (captured into SCALE_CURVE.md) plus one JSON
  * line for machines.
  */
object ScaleBench {

  // SPARK_GRAFT_SCALE_COPIES overrides the default 10× replication —
  // deeper legs (30×) for single rows without paying for the whole
  // curve (pair with SPARK_GRAFT_SCALE_ONLY and a copies-suffixed dir)
  private val Copies =
    sys.env.getOrElse("SPARK_GRAFT_SCALE_COPIES", "10").toInt
  private val IdOffset = 10000000L

  // every table the scale queries read; the _DONE marker is only honored
  // when ALL of them exist, so a corpus synthesized by an older build
  // (fewer tables) is re-synthesized instead of crashing the run
  // (ADVICE r6)
  private val SynthTables = Seq("documents", "embeddings", "lineitem",
    "orders", "events", "supplier", "customer", "nation", "region", "part")

  // dimensions copied as-is (keys stay consistent with the replicated
  // facts; dims stay dims at every scale)
  private val CopiedDims = Seq("supplier", "customer", "nation", "region", "part")

  def synthesize(spark: SparkSession, baseDir: String, outDir: String): Unit = {
    val done = new java.io.File(outDir, "_DONE")
    val complete = SynthTables.forall(t =>
      new java.io.File(outDir, s"$t.parquet").exists())
    if (done.exists() && complete) return
    if (done.exists()) done.delete()
    val ks = explode(sequence(lit(0), lit(Copies - 1))).as("k")

    val docs = Tables.t(spark, baseDir, "documents").withColumn("k", ks)
    val perturbed = concat_ws(" ", transform(split(col("text"), " "),
      (t, i) => when(((i * 31 + col("k") * 7) % 11) === 0,
        concat(t, lit("_"), col("k"))).otherwise(t)))
    docs
      .withColumn("doc_id", col("doc_id") + col("k") * IdOffset)
      .withColumn("text", when(col("k") === 0, col("text")).otherwise(perturbed))
      .drop("k")
      .write.mode("overwrite").parquet(s"$outDir/documents.parquet")

    val embs = Tables.t(spark, baseDir, "embeddings").withColumn("k", ks)
    val wobbled = transform(col("embedding"),
      (x, i) => (x.cast("double") *
        (lit(1.0) + ((i * 13 + col("k") * 29) % 7 - 3).cast("double") * lit(0.01)))
        .cast(FloatType))
    embs
      .withColumn("vec_id", col("vec_id") + col("k") * IdOffset)
      .withColumn("embedding", when(col("k") === 0, col("embedding")).otherwise(wobbled))
      .drop("k")
      .write.mode("overwrite").parquet(s"$outDir/embeddings.parquet")

    // relational fact tables, replicated with offset order keys (the
    // sketch/percentile/subquery growth rows): distinct order keys and
    // row counts grow 10×; supplier/customer/nation keys are left
    // as-is so star joins stay consistent and dims stay dims
    Tables.t(spark, baseDir, "lineitem").withColumn("k", ks)
      .withColumn("l_orderkey", col("l_orderkey") + col("k") * IdOffset)
      .drop("k")
      .write.mode("overwrite").parquet(s"$outDir/lineitem.parquet")
    Tables.t(spark, baseDir, "orders").withColumn("k", ks)
      .withColumn("o_orderkey", col("o_orderkey") + col("k") * IdOffset)
      .drop("k")
      .write.mode("overwrite").parquet(s"$outDir/orders.parquet")
    // events: 10× users at the same per-user event density — the right
    // growth model for session/window operators. Raw read (NOT
    // Tables.t): the session reads the nano timestamps as long, and
    // keeping ts as long nanos in the synthesized file means Tables.t
    // applies its usual DIV-1000 truncation on the 10× dir too.
    spark.read.parquet(s"$baseDir/events.parquet").withColumn("k", ks)
      .withColumn("user_id", col("user_id") + col("k") * IdOffset)
      .withColumn("event_id", col("event_id") + col("k") * IdOffset)
      .drop("k")
      .write.mode("overwrite").parquet(s"$outDir/events.parquet")
    CopiedDims.foreach { t =>
      Tables.t(spark, baseDir, t).write.mode("overwrite").parquet(s"$outDir/$t.parquet")
    }
    done.createNewFile()
  }

  /** 10×-PARTS variant corpus for the graph family (VERDICT r9 #5):
    * the main 10× corpus replicates ORDERS onto a fixed 20k-part
    * catalog, which DENSIFIES the part co-occurrence graph — the
    * worst case for edge count. This variant replicates lineitem with
    * BOTH part and order keys offset per replica, producing 10
    * disjoint copies of the same graph: nodes ×10, edges ×10,
    * triangles ×10, density CONSTANT — the vocabulary-growth regime a
    * growing catalog actually produces. Only lineitem is written;
    * [[graft.queries.Graph.coTriangles]] reads nothing else.
    */
  def synthesizePartsX10(spark: SparkSession, baseDir: String, outDir: String): Unit = {
    val done = new java.io.File(outDir, "_DONE")
    if (done.exists() && new java.io.File(outDir, "lineitem.parquet").exists()) return
    val ks = explode(sequence(lit(0), lit(Copies - 1))).as("k")
    Tables.t(spark, baseDir, "lineitem").withColumn("k", ks)
      .withColumn("l_partkey", col("l_partkey") + col("k") * IdOffset)
      .withColumn("l_orderkey", col("l_orderkey") + col("k") * IdOffset)
      .drop("k")
      .write.mode("overwrite").parquet(s"$outDir/lineitem.parquet")
    done.createNewFile()
  }

  /** Disjoint-copy graph corpus at an arbitrary copy count (VERDICT
    * r13 #4, the ≥30× graph rows): every key participating in a graph
    * relation is offset per replica — lineitem (order, part, supplier),
    * orders (order, customer), documents (id + the standard token
    * perturbation) — so the corpus holds `copies` disjoint copies of
    * the base graph: nodes ×N, edges ×N, triangles ×N, density
    * CONSTANT. A graph operator with a scale-correct plan shows ~N×
    * wall here; anything super-linear in |V| or |E| blows up visibly.
    */
  def synthesizeGraphDisjoint(spark: SparkSession, baseDir: String,
      outDir: String, copies: Int): Unit = {
    val done = new java.io.File(outDir, "_DONE")
    val needed = Seq("lineitem", "orders", "documents")
    if (done.exists() &&
      needed.forall(t => new java.io.File(outDir, s"$t.parquet").exists())) return
    if (done.exists()) done.delete()
    val ks = explode(sequence(lit(0), lit(copies - 1))).as("k")
    Tables.t(spark, baseDir, "lineitem").withColumn("k", ks)
      .withColumn("l_orderkey", col("l_orderkey") + col("k") * IdOffset)
      .withColumn("l_partkey", col("l_partkey") + col("k") * IdOffset)
      .withColumn("l_suppkey", col("l_suppkey") + col("k") * IdOffset)
      .drop("k")
      .write.mode("overwrite").parquet(s"$outDir/lineitem.parquet")
    Tables.t(spark, baseDir, "orders").withColumn("k", ks)
      .withColumn("o_orderkey", col("o_orderkey") + col("k") * IdOffset)
      .withColumn("o_custkey", col("o_custkey") + col("k") * IdOffset)
      .drop("k")
      .write.mode("overwrite").parquet(s"$outDir/orders.parquet")
    val docs = Tables.t(spark, baseDir, "documents").withColumn("k", ks)
    val perturbed = concat_ws(" ", transform(split(col("text"), " "),
      (t, i) => when(((i * 31 + col("k") * 7) % 11) === 0,
        concat(t, lit("_"), col("k"))).otherwise(t)))
    docs
      .withColumn("doc_id", col("doc_id") + col("k") * IdOffset)
      .withColumn("text", when(col("k") === 0, col("text")).otherwise(perturbed))
      .drop("k")
      .write.mode("overwrite").parquet(s"$outDir/documents.parquet")
    done.createNewFile()
  }

  /** Densify-regime corpus at an arbitrary copy count: order volume
    * grows ×N onto the FIXED part catalog (order keys offset, part/
    * customer/supplier keys as-is) — the regime [[graft.queries.Graph
    * .supportEdges]]'s volume-relative support threshold is built for:
    * per-pair counts grow ~N× while the DISTINCT pair set is capped by
    * the catalog, so the thresholded edge artifact stays ~base-sized
    * as volume grows.
    */
  def synthesizeDensify(spark: SparkSession, baseDir: String,
      outDir: String, copies: Int): Unit = {
    val done = new java.io.File(outDir, "_DONE")
    val needed = Seq("lineitem", "orders")
    if (done.exists() &&
      needed.forall(t => new java.io.File(outDir, s"$t.parquet").exists())) return
    if (done.exists()) done.delete()
    val ks = explode(sequence(lit(0), lit(copies - 1))).as("k")
    Tables.t(spark, baseDir, "lineitem").withColumn("k", ks)
      .withColumn("l_orderkey", col("l_orderkey") + col("k") * IdOffset)
      .drop("k")
      .write.mode("overwrite").parquet(s"$outDir/lineitem.parquet")
    Tables.t(spark, baseDir, "orders").withColumn("k", ks)
      .withColumn("o_orderkey", col("o_orderkey") + col("k") * IdOffset)
      .drop("k")
      .write.mode("overwrite").parquet(s"$outDir/orders.parquet")
    done.createNewFile()
  }

  def main(args: Array[String]): Unit = {
    val baseDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val x10Dir = args.headOption.getOrElse("/tmp/graft_scale_x10")
    val spark = Sessions.local("graft-scale")

    // SPARK_GRAFT_SCALE_PARTSX10=<dir>: measure the graph family's
    // node-growth regime instead of the default curve — one table,
    // then exit (the two regimes are separate runs on purpose: each
    // row should be measured on an otherwise idle JVM)
    // SPARK_GRAFT_SCALE_IVFDELTA=1: time the incremental IVF ingest
    // (delta assigned against the STORED frozen centroids) vs the full
    // index rebuild (re-train + re-code the corpus) at the base sf —
    // the VERDICT r9 #4 done-criterion row (10% delta ≪ rebuild)
    if (sys.env.contains("SPARK_GRAFT_SCALE_IVFDELTA")) {
      val lv = graft.queries.LlmVectors
      val base = lv.embRelation(spark, baseDir)
      // the persisted index artifact: materialized once, reused per
      // increment (production keeps this in the lake). Collected into a
      // local relation rather than truncated, so it lives outside the
      // per-run Checkpoint scope that each run() releases
      val c = lv.ivfFrozenCentroids(base)
      val frozen = spark.createDataFrame(c.collect().toSeq.asJava, c.schema)
      def run(df: => DataFrame): Double = {
        val t0 = System.nanoTime()
        df.write.mode("overwrite").format("noop").save()
        graft.plans.Checkpoint.release()
        (System.nanoTime() - t0) / 1e9
      }
      run(lv.ivfDeltaCodesFrom(base, frozen)); run(lv.ivfFullCodes(spark, baseDir)) // warmup
      val tDelta = run(lv.ivfDeltaCodesFrom(base, frozen))
      val tFull = run(lv.ivfFullCodes(spark, baseDir))
      val nDelta = lv.ivfDeltaCodesFrom(base, frozen).count()
      val nFull = lv.ivfFullCodes(spark, baseDir).count()
      println("| ingest arm | rows coded | wall s |")
      println("|---|---|---|")
      println(f"| delta append (frozen centroids) | $nDelta | $tDelta%.2f |")
      println(f"| full rebuild (train + re-code) | $nFull | $tFull%.2f |")
      println(f"""{"metric":"scale_ivfdelta","delta_rows":$nDelta,"full_rows":$nFull,"delta_s":$tDelta%.3f,"full_s":$tFull%.3f}""")
      spark.stop()
      return
    }

    // SPARK_GRAFT_SCALE_GRAPHX=<copies>: the graph family's ≥30×
    // growth rows (VERDICT r13 #4). Disjoint-copy corpus for
    // gr_pagerank / gr_triangles / dd_clusters (density constant —
    // scale-correct plans show ~N× wall), densify corpus for gr_kcore
    // (volume-relative support holds the edge artifact ~base-sized),
    // plus a salted gr_pagerank row on the disjoint corpus proving the
    // graft.graph.salts switch engages end-to-end at scale.
    sys.env.get("SPARK_GRAFT_SCALE_GRAPHX").foreach { spec =>
      val copies = spec.toInt
      // SPARK_GRAFT_SCALE_GRAPHX_ONLY: comma-separated subset of the
      // graphx query names — re-measure one row (e.g. pagerank at
      // 100×) without paying for the whole set
      val gOnly = sys.env.get("SPARK_GRAFT_SCALE_GRAPHX_ONLY")
        .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
      def keep(n: String): Boolean = gOnly.forall(_.contains(n))
      val dDir = s"/tmp/graft_scale_graphx_$copies"
      val zDir = s"/tmp/graft_scale_densify_$copies"
      synthesizeGraphDisjoint(spark, baseDir, dDir, copies)
      if (keep("gr_kcore")) synthesizeDensify(spark, baseDir, zDir, copies)
      def run(fn: (SparkSession, String) => DataFrame, dir: String): Double = {
        val t0 = System.nanoTime()
        fn(spark, dir).write.mode("overwrite").format("noop").save()
        // timestamp BEFORE the release: freeing the query's holds
        // must not land in the growth ratios
        val dt = (System.nanoTime() - t0) / 1e9
        graft.plans.Checkpoint.release()
        dt
      }
      val disjoint: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
        "gr_pagerank" -> graft.queries.Graph.pageRank _,
        "gr_triangles" -> graft.queries.Graph.coTriangles _,
        "dd_clusters" -> graft.queries.LlmDedup.dedupClusters _)
        .filter(q => keep(q._1))
      disjoint.foreach { case (_, fn) => run(fn, baseDir) } // warmup
      if (keep("gr_kcore")) run(graft.queries.Graph.kCore _, baseDir)
      println(s"| query | regime | t(1x) s | t(${copies}x) s | ratio |")
      println("|---|---|---|---|---|")
      val rows = scala.collection.mutable.ArrayBuffer.empty[(String, Double, Double)]
      disjoint.foreach { case (name, fn) =>
        val t1 = run(fn, baseDir); val tn = run(fn, dDir)
        println(f"| $name | disjoint | $t1%.2f | $tn%.2f | ${tn / t1}%.1fx |")
        rows += ((name, t1, tn))
      }
      if (keep("gr_kcore")) {
        val t1 = run(graft.queries.Graph.kCore _, baseDir)
        val tn = run(graft.queries.Graph.kCore _, zDir)
        println(f"| gr_kcore | densify | $t1%.2f | $tn%.2f | ${tn / t1}%.1fx |")
        rows += (("gr_kcore", t1, tn))
      }
      if (keep("gr_pagerank_salts4")) { // salts engagement: same corpus, switch on, result parity-checked by SkewGraphSpec
        // try/finally (ADVICE r14 #2): a throw inside the salted run
        // must not leave the session-wide salt switch on for every
        // later measurement in this JVM
        spark.conf.set(graft.queries.Graph.SaltsConf, "4")
        val tn =
          try run(graft.queries.Graph.pageRank _, dDir)
          finally spark.conf.set(graft.queries.Graph.SaltsConf, "0")
        println(f"| gr_pagerank (salts=4) | disjoint | — | $tn%.2f | — |")
        rows += (("gr_pagerank_salts4", Double.NaN, tn))
      }
      // the salts row has no 1x leg; emit null (ADVICE r14 #5) so a
      // ratio computed over the JSON can't silently divide by the old
      // -1.0 sentinel
      val js = rows.map { case (n, a, b) =>
        val as = if (a.isNaN) "null" else f"$a%.3f"
        f""""$n":[$as,$b%.3f]"""
      }.mkString(",")
      println(s"""{"metric":"scale_graphx","copies":$copies,$js}""")
      spark.stop()
      return
    }

    sys.env.get("SPARK_GRAFT_SCALE_PARTSX10").foreach { pDir =>
      synthesizePartsX10(spark, baseDir, pDir)
      def run(dir: String): Double = {
        val t0 = System.nanoTime()
        graft.queries.Graph.coTriangles(spark, dir)
          .write.mode("overwrite").format("noop").save()
        graft.plans.Checkpoint.release()
        (System.nanoTime() - t0) / 1e9
      }
      run(baseDir) // warmup
      val t1 = run(baseDir)
      val t10 = run(pDir)
      println("| query | t(1x) s | t(10x-parts) s | time ratio |")
      println("|---|---|---|---|")
      println(f"| gr_triangles | $t1%.2f | $t10%.2f | ${t10 / t1}%.1fx |")
      println(f"""{"metric":"scale_partsx10","gr_triangles_1x":$t1%.3f,"gr_triangles_10x_parts":$t10%.3f}""")
      spark.stop()
      return
    }
    synthesize(spark, baseDir, x10Dir)

    // SPARK_GRAFT_SCALE_ONLY: comma-separated subset of timed-query
    // names — re-measure a few rows without paying for the whole curve
    val only = sys.env.get("SPARK_GRAFT_SCALE_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val timedQueries0: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
      "dd_exact_dedup" -> graft.queries.LlmDedup.exactDedup _,
      "dd_ngram_jaccard" -> graft.queries.LlmDedup.ngramJaccard _,
      "dd_minhash_lsh" -> graft.queries.LlmDedup.minhashLsh _,
      "dd_simhash_neardup" -> graft.queries.LlmDedup.simhashNearDup _,
      "dd_clusters" -> graft.queries.LlmDedup.dedupClusters _,
      "dd_clusters_minlabel" -> graft.queries.LlmDedup.dedupClustersMinLabel _,
      "ta_gopher_quality" -> graft.queries.LlmText.gopherQuality _,
      "dd_embed_neardup" -> graft.queries.LlmVectors.embedNearDup _,
      "sim_ann_lsh" -> graft.queries.LlmVectors.annTopk _,
      "sim_ivf_topk" -> graft.queries.LlmVectors.ivfTopk _,
      "sim_pq_adc" -> graft.queries.LlmVectors.pqAdcTopk _,
      "sim_ivfpq_topk" -> graft.queries.LlmVectors.ivfPqTopk _,
      "sk_kmv_distinct" -> graft.queries.Sketches.kmvDistinct _,
      "sk_kmv_agg" -> graft.queries.Sketches.kmvAgg _,
      "sk_countmin_topk" -> graft.queries.Sketches.countMinTopk _,
      "sk_bloom_semijoin" -> graft.queries.Sketches.bloomSemijoin _,
      "sk_kmv_xxhash" -> graft.queries.Sketches.kmvDistinctXx _,
      "sk_countmin_xxhash" -> graft.queries.Sketches.countMinTopkXx _,
      "sk_bloom_native" -> graft.queries.Sketches.bloomSemijoinNative _,
      "sk_quantile_xxhash" -> graft.queries.Sketches.quantileReservoirXx _,
      "cu_pipeline_e2e" -> graft.queries.LlmCuration.curationPipeline _,
      "fn_percentile_suite" -> graft.queries.RelationalExt.percentileSuite _,
      "rel_scalar_subquery" -> graft.queries.RelationalExt.scalarSubquery _,
      "q7_nation_trade" -> graft.queries.RelationalExt.q7NationTrade _,
      "q4_exists_priority" -> graft.queries.Subqueries.q4ExistsPriority _,
      "q11_value_share" -> graft.queries.Subqueries.q11ValueShare _,
      "q13_order_dist" -> graft.queries.Subqueries.q13OrderDist _,
      "q18_large_orders" -> graft.queries.Subqueries.q18LargeOrders _,
      "q21_sole_supplier" -> graft.queries.Subqueries.q21SoleSupplier _,
      "cu_chunk_sliding" -> graft.queries.TrainingPrep.chunkSliding _,
      "cu_contamination" -> graft.queries.TrainingPrep.contamination _,
      "ta_token_entropy" -> graft.queries.TrainingPrep.tokenEntropy _,
      // round-7 gates without growth rows until round 8 (VERDICT r7 #5)
      "st_session_window" -> graft.queries.StreamingGates.sessionWindowNative _,
      "cu_upsample_epochs" -> graft.queries.TrainingPrep.upsampleEpochs _,
      "ops_profile_numeric" -> graft.queries.DataOps.profileNumeric _,
      "ops_dq_checks" -> graft.queries.DataOps.dqChecks _,
      "ops_outlier_bounds" -> graft.queries.DataOps.outlierBounds _,
      "ops_histogram" -> graft.queries.DataOps.histogram _,
      // round-8 additions
      "dd_common_passages" -> graft.queries.LlmDedup.commonPassages _,
      "dd_dup_fraction" -> graft.queries.LlmDedup.dupFraction _,
      "dd_incremental_pairs" -> graft.queries.LlmDedup.ngramIncrementalPairs _,
      "cu_group_sample" -> graft.queries.LlmCuration.groupSample _,
      "sk_quantile_reservoir" -> graft.queries.Sketches.quantileReservoir _,
      "sim_prefix_rerank" -> graft.queries.LlmVectors.prefixRerank _,
      "q2_min_cost_supp" -> graft.queries.TpchMore.q2MinCostSupp _,
      "q9_profit_map" -> graft.queries.TpchMore.q9ProfitMap _,
      "q10_returned_top" -> graft.queries.TpchMore.q10ReturnedTop _,
      "q15_top_supplier" -> graft.queries.TpchMore.q15TopSupplier _,
      "q17_small_qty" -> graft.queries.TpchMore.q17SmallQty _,
      "q19_disjunctive" -> graft.queries.TpchMore.q19Disjunctive _,
      "q22_idle_customers" -> graft.queries.TpchMore.q22IdleCustomers _,
      "ta_vocab_stats" -> graft.queries.LlmCuration.vocabStats _,
      "cu_weighted_sample" -> graft.queries.LlmCuration.weightedSample _,
      "cu_cdc_chunk" -> graft.queries.TrainingPrep.cdcChunk _,
      "ops_fuzzy_link" -> graft.queries.DataOps.fuzzyLink _,
      // native as-of exec vs its union+window composition twin — the
      // growth row pair that shows what the custom operator buys
      "j3_asof_join" -> graft.queries.AsOfJoin.eventsAsOfOrders _,
      "j3_asof_native" -> graft.queries.AsOfJoin.eventsAsOfOrdersNative _,
      "j5_asof_tolerance" -> graft.queries.AsOfJoin.eventsAsOfOrdersTolerance _,
      // retrieval / graph / time-series (late round 8)
      "ta_bm25_topk" -> graft.queries.Retrieval.bm25TopK _,
      "gr_pagerank" -> graft.queries.Graph.pageRank _,
      "st_ohlc_bars" -> graft.queries.StreamingGates.ohlcBars _,
      "st_transitions" -> graft.queries.StreamingGates.transitionMatrix _,
      "bk_assoc_rules" -> graft.queries.Basket.assocRules _,
      "gr_khop" -> graft.queries.Graph.kHop _,
      "st_top_paths" -> graft.queries.StreamingGates.topPaths _,
      "ops_rfm_segments" -> graft.queries.DataOps.rfmSegments _,
      // round-11 additions
      "sim_ivf_delta" -> graft.queries.LlmVectors.ivfDeltaTopk _,
      "dd_containment" -> graft.queries.LlmDedup.containmentPairs _,
      "cu_ccnet_buckets" -> graft.queries.LlmCuration.ccnetBuckets _,
      "st_seasonal_naive" -> graft.queries.StreamingGates.seasonalNaive _,
      "gr_kcore" -> graft.queries.Graph.kCore _,
      "ops_shard_assign" -> graft.queries.DataOps.shardAssign _,
      "st_cusum_shift" -> graft.queries.StreamingGates.cusumShift _,
      "dd_semdedup_keep" -> graft.queries.LlmVectors.semdedupKeep _,
      "cu_temperature_mix" -> graft.queries.LlmCuration.temperatureMix _,
      "gr_sim_neighbors" -> graft.queries.Graph.jaccardNeighbors _,
      "ta_zipf_fit" -> graft.queries.LlmCuration.zipfFit _,
      "st_lag_autocorr" -> graft.queries.StreamingGates.lagAutocorr _,
      "ops_ks_drift" -> graft.queries.DataOps.ksDrift _,
      "ops_psi_drift" -> graft.queries.DataOps.psiDrift _,
      "gr_adamic_adar" -> graft.queries.Graph.adamicAdar _,
      "st_hourly_quantiles" -> graft.queries.StreamingGates.hourlyQuantiles _,
      // late round-11 additions
      "ops_benford" -> graft.queries.DataOps.benford _,
      "rel_lateral_topn" -> graft.queries.RelationalExt.lateralTopN _,
      "st_mad_anomaly" -> graft.queries.StreamingGates.madAnomaly _,
      // round-9 additions
      "gr_triangles" -> graft.queries.Graph.coTriangles _,
      "cu_dsir_weights" -> graft.queries.LlmCuration.dsirWeights _,
      "st_ewma" -> graft.queries.StreamingGates.ewmaSmooth _,
      "ops_winsorize" -> graft.queries.DataOps.winsorize _,
      // round-11 statistical surface
      "ops_gini" -> graft.queries.StatOps.gini _,
      "ops_trimmed_mean" -> graft.queries.StatOps.trimmedMean _,
      "ops_chi2_assoc" -> graft.queries.StatOps.chi2Assoc _,
      "ops_spearman" -> graft.queries.StatOps.spearman _,
      "ops_ab_lift" -> graft.queries.StatOps.abLift _,
      "gr_salsa" -> graft.queries.Graph.salsa _,
      "st_twap" -> graft.queries.StreamingGates.twap _,
      "ta_npmi_colloc" -> graft.queries.LlmCuration.npmiColloc _,
      "ops_mannwhitney" -> graft.queries.StatOps.mannWhitney _,
      "gr_label_prop" -> graft.queries.Graph.labelProp _,
      "ops_did" -> graft.queries.StatOps.didEstimate _,
      "ops_cuped" -> graft.queries.StatOps.cuped _,
      "ops_woe_iv" -> graft.queries.StatOps.woeIv _,
      "ops_lorenz" -> graft.queries.StatOps.lorenzDeciles _,
      "ops_survival_km" -> graft.queries.StatOps.survivalKm _,
      "ops_ttest_welch" -> graft.queries.StatOps.welchTTest _,
      "ta_hybrid_rrf" -> graft.queries.Retrieval.hybridRrf _,
      "gr_modularity" -> graft.queries.Graph.modularity _,
      "gr_assortativity" -> graft.queries.Graph.assortativity _,
      "ops_power_mde" -> graft.queries.StatOps.powerMde _,
      "st_correlogram" -> graft.queries.StreamingGates.correlogram _,
      "st_control_chart" -> graft.queries.StreamingGates.controlChart _,
      "st_trend_mk" -> graft.queries.StreamingGates.trendMk _,
      "ops_abc_xyz" -> graft.queries.DataOps.abcXyz _,
      "ta_burstiness" -> graft.queries.LlmCuration.burstiness _,
      "st_concurrency" -> graft.queries.StreamingGates.concurrency _,
      "cu_span_corrupt" -> graft.queries.TrainingPrep.spanCorrupt _,
      "cu_target_encode" -> graft.queries.TrainingPrep.targetEncode _,
      "cu_bpe_merges" -> graft.queries.TrainingPrep.bpeMerges _,
      "cu_bpe_apply" -> graft.queries.TrainingPrep.bpeApply _,
      "cu_bpe_fertility" -> graft.queries.TrainingPrep.bpeFertility _,
      // round-12 additions
      "st_runs_test" -> graft.queries.StreamingGates.runsTest _,
      "gr_harmonic" -> graft.queries.Graph.harmonic _,
      "ta_heaps_fit" -> graft.queries.LlmCuration.heapsFit _,
      "ops_elasticity" -> graft.queries.StatOps.elasticity _,
      "sim_mmr_rerank" -> graft.queries.LlmVectors.mmrRerank _,
      "gr_ktruss" -> graft.queries.Graph.kTruss _,
      "ta_bigram_novelty" -> graft.queries.LlmCuration.bigramNovelty _,
      "st_rolling_p95" -> graft.queries.StreamingGates.rollingP95 _,
      "st_attrib_position" -> graft.queries.StreamingGates.attribPosition _,
      "st_cusum2" -> graft.queries.StreamingGates.cusum2 _,
      "ta_js_divergence" -> graft.queries.LlmCuration.jsDivergence _,
      "sim_ann_recall" -> graft.queries.LlmVectors.annRecall _,
      "ops_gains_curve" -> graft.queries.StatOps.gainsCurve _,
      "ops_churn_fit" -> graft.queries.StatOps.churnFit _,
      "ops_seasonality_strength" -> graft.queries.StatOps.seasonalityStrength _,
      "ops_price_index" -> graft.queries.DataOps.priceIndex _,
      "ta_readability" -> graft.queries.TextScores.readability _,
      "ta_rake_keywords" -> graft.queries.TextScores.rakeKeywords _,
      // round-13 additions
      "ta_ttr_diversity" -> graft.queries.TextScores.ttrDiversity _,
      "sim_sq8_topk" -> graft.queries.LlmVectors.sq8Topk _,
      "sim_knn_classify" -> graft.queries.LlmVectors.knnClassify _,
      "ops_ipw_ate" -> graft.queries.StatOps.ipwAte _,
      "cu_filter_funnel" -> graft.queries.TrainingPrep.filterFunnel _,
      "ops_jackknife_se" -> graft.queries.StatOps.jackknifeSe _,
      "sk_hll_distinct" -> graft.queries.Sketches.hllDistinct _,
      "st_cohort_ltv" -> graft.queries.StreamingGates.cohortLtv _,
      "ta_dup_ngram_frac" -> graft.queries.LlmText.dupNgramFrac _,
      "sk_kmv_intersect" -> graft.queries.Sketches.kmvIntersect _,
      "ops_fdr_bh" -> graft.queries.StatOps.fdrBh _,
      "ops_kruskal_wallis" -> graft.queries.StatOps.kruskalWallis _,
      "ops_bootstrap_poisson" -> graft.queries.StatOps.bootstrapPoisson _,
      "cu_pii_scrub" -> graft.queries.LlmCuration.piiScrub _,
      "ops_auc_roc" -> graft.queries.StatOps.aucRoc _,
      "ops_calibration_ece" -> graft.queries.StatOps.calibrationEce _,
      "ops_cohens_kappa" -> graft.queries.StatOps.cohensKappa _,
      "ops_logrank_test" -> graft.queries.StatOps.logrankTest _,
      "ops_bootstrap_xxhash" -> graft.queries.StatOps.bootstrapPoissonXx _,
      "sk_hll_union" -> graft.queries.Sketches.hllUnion _,
      "ops_cmh_test" -> graft.queries.StatOps.cmhTest _,
      "ta_kn_bigram" -> graft.queries.LlmCuration.knBigram _,
      "st_forecast_eval" -> graft.queries.StreamingGates.forecastEval _,
      "st_shapley_attrib" -> graft.queries.StreamingGates.shapleyAttrib _,
      "ops_theil_index" -> graft.queries.StatOps.theilIndex _,
      "ops_capture_recapture" -> graft.queries.StatOps.captureRecapture _,
      "ops_isotonic_calib" -> graft.queries.StatMore.isotonicCalib _,
      "ops_kendall_tau" -> graft.queries.StatMore.kendallTau _,
      "ops_nelson_aalen" -> graft.queries.StatMore.nelsonAalen _,
      "ops_tornqvist_index" -> graft.queries.StatMore.tornqvistIndex _,
      "ops_sprt_ab" -> graft.queries.StatMore.sprtAb _,
      "gr_rich_club" -> graft.queries.GraphMore.richClub _,
      // round-13 tranche C (classical tests / drift / concentration /
      // LM scoring / IR eval)
      "ops_cliffs_delta" -> graft.queries.StatTests.cliffsDelta _,
      "ops_wilcoxon_signed" -> graft.queries.StatTests.wilcoxonSigned _,
      "ops_brown_forsythe" -> graft.queries.StatTests.brownForsythe _,
      "ops_friedman" -> graft.queries.StatTests.friedmanTest _,
      "ops_sen_slope" -> graft.queries.StatTests.senSlope _,
      "ops_emd_drift" -> graft.queries.StatTests.emdDrift _,
      "ops_hhi" -> graft.queries.StatTests.hhiConcentration _,
      "ta_lm_perplexity" -> graft.queries.TextEval.lmPerplexity _,
      "ta_ndcg_eval" -> graft.queries.TextEval.ndcgEval _,
      "ops_hill_tail" -> graft.queries.StatTests.hillTail _,
      "ops_page_trend" -> graft.queries.StatTests.pageTrend _,
      "ops_cohens_d" -> graft.queries.StatTests.cohensD _,
      "ta_good_turing" -> graft.queries.TextEval.goodTuring _,
      "ops_seasonal_mk" -> graft.queries.StatTests.seasonalMk _,
      "gr_degree_gini" -> graft.queries.GraphMore.degreeGini _,
      "ops_anova_f" -> graft.queries.StatTests.anovaF _,
      "ops_odds_ratio" -> graft.queries.StatTests.oddsRatio _,
      "ta_cli_ari" -> graft.queries.TextScores.cliAri _,
      "ops_tukey_hsd" -> graft.queries.StatTests.tukeyHsd _,
      "ops_dunn_test" -> graft.queries.StatTests.dunnTest _,
      "ops_mcnemar" -> graft.queries.StatTests.mcnemar _,
      "ops_cochran_q" -> graft.queries.StatTests.cochranQ _,
      "ops_mood_median" -> graft.queries.StatTests.moodMedian _,
      "ops_bartlett" -> graft.queries.StatTests.bartlett _,
      "ops_jonckheere" -> graft.queries.StatTests.jonckheere _,
      "ta_textrank" -> graft.queries.TextScores.textrank _,
      "ops_fdr_by" -> graft.queries.StatTests.fdrBy _,
      "ops_k_anonymity" -> graft.queries.DataOps.kAnonymity _,
      "st_page_hinkley" -> graft.queries.StreamingGates.pageHinkley _,
      "ops_gumbel_moments" -> graft.queries.StatTests.gumbelMoments _,
      "ops_best_split" -> graft.queries.StatTests.bestSplit _,
      "ops_raking" -> graft.queries.DataOps.raking _,
      "ops_mutual_info" -> graft.queries.StatTests.mutualInfo _,
      "ta_fightin_words" -> graft.queries.TextScores.fightinWords _,
      // round-15 EDF tranche
      "ops_cvm_test" -> graft.queries.EdfOps.cvmTest _,
      "ops_anderson_darling" -> graft.queries.EdfOps.andersonDarling _,
      "cu_quantile_norm" -> graft.queries.EdfOps.quantileNorm _,
      "ops_cvm_permutation" -> graft.queries.EdfOps.cvmPermutation _,
      "ops_ad_ksample" -> graft.queries.EdfOps.adKSample _,
      "ops_energy_distance" -> graft.queries.EdfOps.energyDistance _,
      "ops_psm_att" -> graft.queries.StatTests.psmAtt _,
      "ops_rdd_sharp" -> graft.queries.StatTests.rddSharp _,
      "ops_tost_equiv" -> graft.queries.StatTests.tostEquiv _,
      "ta_burrows_delta" -> graft.queries.TextScores.burrowsDelta _,
      // round-16 quantile tranche (Pctl.dist histogram device)
      "ops_tukey_fences" -> graft.queries.QuantileOps.tukeyFences _,
      "ops_bowley_skew" -> graft.queries.QuantileOps.bowleySkew _,
      "ops_qq_deciles" -> graft.queries.QuantileOps.qqDeciles _,
      "ta_len_profile" -> graft.queries.QuantileOps.lenProfile _,
      "ops_ansari_bradley" -> graft.queries.QuantileOps.ansariBradley _,
      "cu_length_filter" -> graft.queries.QuantileOps.lengthFilter _,
      // round-17: weighted percentiles (distHist device — bounded and
      // sparse paths)
      "cu_token_weighted_len" -> graft.queries.QuantileOps.tokenWeightedLen _,
      "ops_weighted_quantiles" -> graft.queries.QuantileOps.weightedQuantiles _,
      // round-18: weighted drift/inequality on the same devices
      "cu_weighted_psi" -> graft.queries.QuantileOps.weightedPsi _,
      "ops_weighted_gini" -> graft.queries.QuantileOps.weightedGini _,
      // (outlier_bounds / hourly_quantiles already registered above —
      // their existing growth legs now exercise the device end-to-end)
      // final TPC-H tranche (round 8)
      "q6_forecast" -> graft.queries.TpchFinal.q6Forecast _,
      "q8_market_share" -> graft.queries.TpchFinal.q8MarketShare _,
      "q12_priority_class" -> graft.queries.TpchFinal.q12PriorityClass _,
      "q16_supplier_cnt" -> graft.queries.TpchFinal.q16SupplierCnt _,
      "q20_dominant_supp" -> graft.queries.TpchFinal.q20DominantSupp _,
    )
    val timedQueries = timedQueries0.filter { case (n, _) => only.forall(_.contains(n)) }
    val candidateCounts: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
      "ngram_prefix_pairs" -> graft.queries.LlmDedup.ngramCandidates _,
      "minhash_band_pairs" ->
        ((s: SparkSession, d: String) => graft.queries.LlmDedup.minhashCandidates(s, d)),
      "simhash_band_pairs" -> graft.queries.LlmDedup.simhashCandidates _,
      "incremental_delta_pairs" -> graft.queries.LlmDedup.ngramIncrementalCandidates _,
      "embed_bucket_pairs" -> graft.queries.LlmVectors.embedCandidates _,
    ).filter { case (n, _) => only.forall(_.contains(n)) }

    def time(fn: => Unit): Double = {
      val t0 = System.nanoTime(); fn; (System.nanoTime() - t0) / 1e9
    }
    def runQuery(fn: (SparkSession, String) => DataFrame, dir: String): Unit = {
      fn(spark, dir).write.mode("overwrite").format("noop").save()
      graft.plans.Checkpoint.release()
    }

    // warmup (JIT/codegen) on the small corpus
    timedQueries.foreach { case (_, fn) => runQuery(fn, baseDir) }

    val times = timedQueries.map { case (name, fn) =>
      val t1 = time(runQuery(fn, baseDir))
      val t10 = time(runQuery(fn, x10Dir))
      (name, t1, t10)
    }
    val cands = candidateCounts.map { case (name, fn) =>
      def count(dir: String): Long = {
        val n = fn(spark, dir).count(); graft.plans.Checkpoint.release(); n
      }
      (name, count(baseDir), count(x10Dir))
    }

    // bounded sketch STATE (VERDICT r6 #4): the sketch relations must
    // stay ~constant-cardinality when the corpus grows 10×
    val stateCounts: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
      "kmv_state_rows" -> graft.queries.Sketches.kmvState _,
      "countmin_state_rows" -> graft.queries.Sketches.countMinState _,
      "bloom_state_bits" -> graft.queries.Sketches.bloomState _,
    ).filter { case (n, _) => only.forall(_.contains(n)) }
    val states = stateCounts.map { case (name, fn) =>
      def count(dir: String): Long = {
        val n = fn(spark, dir).count(); graft.plans.Checkpoint.release(); n
      }
      (name, count(baseDir), count(x10Dir))
    }

    // star-CC convergence rounds must stay ~flat at 10× (the O(log n)
    // claim — VERDICT r6 #2's done criterion)
    def starRounds(dir: String): Int = {
      runQuery(graft.queries.LlmDedup.dedupClusters _, dir)
      graft.queries.LlmDedup.lastStarRounds.get()
    }
    val measureRounds = only.forall(_.contains("star_cc_rounds"))
    val rounds1 = if (measureRounds) starRounds(baseDir) else -1
    val rounds10 = if (measureRounds) starRounds(x10Dir) else -1

    val nDocs1 = spark.read.parquet(s"$baseDir/documents.parquet").count()
    println(s"DOCS 1x=$nDocs1 10x=${nDocs1 * Copies}")
    println("| query | t(1x) s | t(10x) s | time ratio |")
    println("|---|---|---|---|")
    times.foreach { case (n, a, b) => println(f"| $n | $a%.2f | $b%.2f | ${b / a}%.1fx |") }
    println("| candidate relation | pairs(1x) | pairs(10x) | pair ratio |")
    println("|---|---|---|---|")
    cands.foreach { case (n, a, b) =>
      println(f"| $n | $a | $b | ${b.toDouble / a}%.1fx |")
    }
    println("| sketch state | rows(1x) | rows(10x) | ratio |")
    println("|---|---|---|---|")
    states.foreach { case (n, a, b) =>
      println(f"| $n | $a | $b | ${b.toDouble / a}%.1fx |")
    }
    if (measureRounds)
      println(s"| star_cc_rounds | $rounds1 | $rounds10 | " +
        f"${rounds10.toDouble / rounds1}%.1fx |")
    val tj = times.map { case (n, a, b) => s""""$n":[$a,$b]""" }.mkString(",")
    val cj = cands.map { case (n, a, b) => s""""$n":[$a,$b]""" }.mkString(",")
    val sj = states.map { case (n, a, b) => s""""$n":[$a,$b]""" }.mkString(",")
    // star_rounds only when measured — a merged-per-key consumer must
    // not overwrite real round counts with the -1 sentinel
    val sr = if (measureRounds) s""","star_rounds":[$rounds1,$rounds10]""" else ""
    println(s"""{"metric":"scale_curve","copies":$Copies,"times":{$tj},"candidates":{$cj},"state":{$sj}$sr}""")
    spark.stop()
  }
}
