package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.queries.Pctl

/** Bit-equality proof for the histogram exact-percentile device
  * (VERDICT r15 #2): [[Pctl.dist]] must reproduce Spark's exact
  * `percentile` aggregate — the same linear interpolation at rank
  * q·(n−1) — EXACTLY on randomized data: heavy ties, negative values,
  * Long and Double key types, grouped and global, single- and
  * multi-fraction, n = 1 groups and integral rank positions. Only
  * then can the nine migrated fact-sized-percentile gates keep their
  * DuckDB oracles unchanged while the plan drops the
  * buffer-everything TypedImperativeAggregate.
  */
class PctlDistSpec extends SparkSpec {

  private def longRows(n: Int, groups: Int, mod: Int): DataFrame =
    spark.range(n.toLong).select(
      concat(lit("g"), (col("id") % groups).cast(StringType)).as("g"),
      pmod(xxhash64(col("id")), lit(mod.toLong)).minus(lit(mod / 2L)).as("v"))

  private def doubleRows(n: Int, groups: Int, mod: Int): DataFrame =
    longRows(n, groups, mod)
      .select(col("g"), (col("v").cast(DoubleType) / 7.0).as("v"))

  private val Qs = Seq("p05" -> 0.05, "p25" -> 0.25, "p50" -> 0.5,
    "p90" -> 0.9, "p95" -> 0.95, "p99" -> 0.99)

  private def aggForm(df: DataFrame, parts: Seq[String],
                      qs: Seq[(String, Double)]): DataFrame = {
    val aggs = qs.map { case (nm, q) => Pctl.p("v", q).as(nm) }
    (if (parts.isEmpty) df.groupBy() else df.groupBy(parts.map(col): _*))
      .agg(aggs.head, aggs.tail: _*)
  }

  private def assertSame(a: DataFrame, b: DataFrame, keys: Seq[String]): Unit = {
    val cols = a.columns.sorted.map(col).toSeq
    val left = a.select(cols: _*).orderBy(keys.map(col): _*).collect()
    val right = b.select(cols: _*).orderBy(keys.map(col): _*).collect()
    assert(left.length === right.length)
    left.zip(right).foreach { case (x, y) => assert(x === y) }
  }

  test("dist == percentile (Long values, grouped, heavy ties)") {
    val rows = longRows(20000, 5, 37)
    assertSame(Pctl.dist(rows, Seq("g"), "v", Qs),
      aggForm(rows, Seq("g"), Qs), Seq("g"))
  }

  test("dist == percentile (Long values, global, wide range)") {
    val rows = longRows(20000, 1, 1000000)
    assertSame(Pctl.dist(rows, Nil, "v", Qs), aggForm(rows, Nil, Qs), Nil)
  }

  test("dist == percentile (Double values, grouped)") {
    val rows = doubleRows(20000, 4, 9973)
    assertSame(Pctl.dist(rows, Seq("g"), "v", Qs),
      aggForm(rows, Seq("g"), Qs), Seq("g"))
  }

  test("dist == percentile (Double values, global, heavy ties)") {
    val rows = doubleRows(20000, 1, 23)
    assertSame(Pctl.dist(rows, Nil, "v", Qs), aggForm(rows, Nil, Qs), Nil)
  }

  test("dist == percentile on degenerate group sizes (n = 1, 2, 3)") {
    // one group per size — integral and fractional rank positions
    val rows = spark.range(6).select(
      when(col("id") < 1, "a").when(col("id") < 3, "b").otherwise("c").as("g"),
      (col("id") * 10 + 1).as("v"))
    assertSame(Pctl.dist(rows, Seq("g"), "v", Qs),
      aggForm(rows, Seq("g"), Qs), Seq("g"))
  }

  test("dist skips nulls like the aggregate") {
    val rows = spark.range(1000).select(
      lit("all").as("g"),
      when(pmod(col("id"), lit(3L)) === 0, lit(null).cast(LongType))
        .otherwise(col("id")).as("v"))
    assertSame(Pctl.dist(rows, Seq("g"), "v", Qs),
      aggForm(rows, Seq("g"), Qs), Seq("g"))
  }

  test("dist on a derived expression column matches the aggregate") {
    // the ops_outlier_bounds second pass shape: |v − med|
    val rows = doubleRows(5000, 2, 997)
      .withColumn("d", abs(col("v") - 3.25))
    assertSame(Pctl.dist(rows, Seq("g"), "d", Seq("mad" -> 0.5)),
      (rows.groupBy(col("g")).agg(Pctl.p("d", 0.5).as("mad"))), Seq("g"))
  }

  test("distBounded == percentile == dist (Long values, grouped ties)") {
    val rows = longRows(20000, 5, 37)
    assertSame(Pctl.dist(rows, Seq("g"), "v", Qs, bounded = true),
      aggForm(rows, Seq("g"), Qs), Seq("g"))
    assertSame(Pctl.dist(rows, Seq("g"), "v", Qs, bounded = true),
      Pctl.dist(rows, Seq("g"), "v", Qs), Seq("g"))
  }

  test("distBounded == percentile (Double values, grouped, nulls, n=1)") {
    val rows = doubleRows(20000, 4, 9973)
      .withColumn("v", when(pmod(xxhash64(col("v")), lit(11L)) === 0,
        lit(null).cast(DoubleType)).otherwise(col("v")))
    assertSame(Pctl.dist(rows, Seq("g"), "v", Qs, bounded = true),
      aggForm(rows, Seq("g"), Qs), Seq("g"))
    val tiny = spark.range(3).select(
      concat(lit("t"), col("id")).as("g"), (col("id") * 7 + 1).as("v"))
    assertSame(Pctl.dist(tiny, Seq("g"), "v", Qs, bounded = true),
      aggForm(tiny, Seq("g"), Qs), Seq("g"))
  }

  test("distHist == percentile over the expanded multiset (weighted, r17)") {
    // weighted rows (w in 0..6, zeros must be ignored) vs `percentile`
    // over the EXPLICIT expansion — the weighted device's defining
    // equality, randomized with heavy ties and duplicate (g, v) rows
    val rows = longRows(8000, 5, 53)
      .withColumn("w", pmod(xxhash64(col("v"), lit(3)), lit(7L)))
    val expanded = rows.filter(col("w") > 0)
      .select(col("g"), col("v"),
        explode(expr("sequence(1, w)")).as("i"))
    assertSame(
      Pctl.distHist(rows, Seq("g"), "v", "w", Qs, countAs = Some("n")),
      aggForm(expanded, Seq("g"), Qs)
        .join(expanded.groupBy(col("g")).agg(count(lit(1)).as("n")), "g"),
      Seq("g"))
    // global, and bounded-path variant, same expansion
    assertSame(Pctl.distHist(rows, Nil, "v", "w", Qs),
      aggForm(expanded, Nil, Qs), Nil)
    assertSame(Pctl.distHist(rows, Seq("g"), "v", "w", Qs, bounded = true),
      aggForm(expanded, Seq("g"), Qs), Seq("g"))
  }

  test("the bounded regime rejects global calls on every front door") {
    // an unpartitioned window over the whole histogram is the
    // single-reducer class the regime exists to avoid — both dist and
    // distHist must refuse it at build time, not plan it silently
    val rows = longRows(100, 2, 13).withColumn("w", lit(2L))
    val viaDist = intercept[IllegalArgumentException] {
      Pctl.dist(rows, Nil, "v", Seq("p50" -> 0.5), bounded = true)
    }
    val viaHist = intercept[IllegalArgumentException] {
      Pctl.distHist(rows, Nil, "v", "w", Seq("p50" -> 0.5), bounded = true)
    }
    Seq(viaDist, viaHist).foreach(e =>
      assert(e.getMessage.contains("grouped calls"), e.getMessage))
  }

  private def rootMessages(t: Throwable): String =
    if (t == null) "" else
      Option(t.getMessage).getOrElse("") + "\n" + rootMessages(t.getCause)

  test("distHist rejects fractional weights loudly (ADVICE r17)") {
    // a double weight of 1.5 would silently truncate to 1 under
    // cast(Long) — the guard must fail the job instead of quietly
    // diverging from the 'value v occurs w times' multiset contract
    val frac = longRows(100, 2, 13)
      .withColumn("w", when(col("v") % 2 === 0, lit(1.5)).otherwise(lit(2.0)))
    val e = intercept[Throwable] {
      Pctl.distHist(frac, Seq("g"), "v", "w", Seq("p50" -> 0.5)).collect()
    }
    assert(rootMessages(e).contains("must be integral"),
      s"expected the integral-weight guard, got: ${rootMessages(e).take(300)}")
    // a NEGATIVE fractional weight stays in the documented ignored
    // class (w <= 0 rows are dropped, not escalated to a job failure)
    val negFrac = longRows(200, 2, 13)
      .withColumn("w", when(col("v") % 2 === 0, lit(-0.5)).otherwise(lit(2.0)))
    val negExpanded = negFrac.filter(col("w") > 0)
      .select(col("g"), col("v"),
        explode(expr("sequence(1, cast(w as long))")).as("i"))
    assertSame(Pctl.distHist(negFrac, Seq("g"), "v", "w", Seq("p50" -> 0.5)),
      aggForm(negExpanded, Seq("g"), Seq("p50" -> 0.5)), Seq("g"))
    // integral VALUES in a non-integral TYPE pass the guard and match
    // the expansion (weights that arrive as doubles from arithmetic)
    val whole = longRows(2000, 2, 13)
      .withColumn("w", pmod(xxhash64(col("v"), lit(5)), lit(4L)).cast(DoubleType))
    val expanded = whole.filter(col("w") > 0)
      .select(col("g"), col("v"),
        explode(expr("sequence(1, cast(w as long))")).as("i"))
    assertSame(Pctl.distHist(whole, Seq("g"), "v", "w", Seq("p50" -> 0.5)),
      aggForm(expanded, Seq("g"), Seq("p50" -> 0.5)), Seq("g"))
  }

  test("sparse path enforces the 3-scan input contract at build time (VERDICT r17 #2)") {
    // the sparse device scans its input three times — an expensive
    // unpersisted subplan (here: a join) must be rejected at gate-
    // construction time with the fix named...
    val dim = spark.range(5).select(col("id").as("k"), lit("d").as("tag"))
    val joined = longRows(1000, 2, 37)
      .withColumn("k", pmod(col("v"), lit(5L)))
      .join(dim, "k")
    val e = intercept[IllegalArgumentException] {
      Pctl.dist(joined, Seq("g"), "v", Seq("p50" -> 0.5))
    }
    assert(e.getMessage.contains("Checkpoint.pin"),
      s"the contract violation must name the fix: ${e.getMessage.take(300)}")
    // ...while the SAME input pinned (the brownForsythe pattern)
    // passes: cache substitution bottoms the plan out at an
    // InMemoryRelation leaf, and results match the aggregate
    val pinned = graft.plans.Checkpoint.pin(joined)
    try {
      assertSame(Pctl.dist(pinned, Seq("g"), "v", Seq("p50" -> 0.5)),
        aggForm(pinned, Seq("g"), Seq("p50" -> 0.5)), Seq("g"))
    } finally graft.plans.Checkpoint.release()
    // raw scans/projections (the common gate shape) stay accepted —
    // every other test in this spec builds on spark.range projections
  }

  test("sparse-path contract sees through scalar subqueries (r18 hardening)") {
    // a scalar subquery inside a filter is as expensive to re-run
    // three times as a top-level join — the contract walk must visit
    // subquery plans (collectWithSubqueries), not just the main tree
    longRows(1000, 2, 37).createOrReplaceTempView("pctl_sub_main")
    longRows(500, 1, 11).createOrReplaceTempView("pctl_sub_ref")
    val withSub = spark.sql(
      "SELECT g, v FROM pctl_sub_main " +
        "WHERE v > (SELECT avg(v) FROM pctl_sub_ref)")
    val e = intercept[IllegalArgumentException] {
      Pctl.dist(withSub, Seq("g"), "v", Seq("p50" -> 0.5))
    }
    assert(e.getMessage.contains("Checkpoint.pin"),
      s"subquery input must violate the contract: ${e.getMessage.take(300)}")
    spark.catalog.dropTempView("pctl_sub_main")
    spark.catalog.dropTempView("pctl_sub_ref")
  }
}
