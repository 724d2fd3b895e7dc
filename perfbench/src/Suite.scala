package perfbench

/** A slice of the registered query surface, timed with a `noop` write. The
  * first pass writes each result as parquet, which `run.py` compares with
  * the query's DuckDB oracle; the timed passes follow in a seeded order.
  */
object Suite {

  val queries: Seq[String] = Seq(
    "a1_latest_state", "j2_genre_pipeline", "p1_json_normalize", "fx_date_fixup",
    "q3_top_orders", "ops_mood_median", "ops_weighted_quantiles", "ops_qq_deciles",
    "ops_spearman", "gr_pagerank", "gr_salsa", "gr_label_prop", "ta_textrank",
    "dd_cluster_rep", "dd_ngram_jaccard", "dd_semdedup_keep", "sk_hll_union", "st_sessionize")

  /** Query family, from the name prefix: ops, gr, dd, ta, sk, st, or rel. */
  def family(name: String): String = name.takeWhile(_ != '_') match {
    case f @ ("ops" | "gr" | "dd" | "ta" | "sk" | "st") => f
    case _ => "rel"
  }

  def workload(run: Main.Run, data: String): Unit = {
    run.setUp(())
    val spark = run.spark
    val fns = graft.SparkEntry.queries
    run.info("oracle_sql") = queries.map(q => q -> graft.SparkEntry.oracleSql(q)).toMap
    val results = run.dir("results")
    run.info("results_dir") = results.toString

    def release(): Unit = {
      spark.catalog.clearCache()
      graft.queries.DistRank.release()
    }

    for (q <- queries) run.attempt(s"query $q") {
      fns(q)(spark, data).write.mode("overwrite").parquet(results.resolve(q).toString)
      release()
      true
    }
    // the first pass runs in a fixed order; the timed passes' order varies
    // by seed, and the last query's residue in the heap with it
    run.warmedUp()
    val window = Main.Window.of(run, min = 1, traced = 1)
    var pass = 0
    while (window.next()) {
      pass += 1
      val order = new scala.util.Random(run.seed * 7919 + pass).shuffle(queries)
      for (q <- order) run.attempt(s"query $q") {
        val t0 = System.nanoTime()
        run.tracer.span("queries", q) {
          fns(q)(spark, data).write.format("noop").mode("overwrite").save()
        }
        run.querySamples.getOrElseUpdate(q, collection.mutable.ArrayBuffer.empty) +=
          (System.nanoTime() - t0) / 1e9
        release()
        if (run.trace) run.add("queries.cache_residue", spark.sparkContext.getPersistentRDDs.size.toDouble)
        true
      }
    }
    run.info("passes") = pass
    run.mark("window")
  }
}
