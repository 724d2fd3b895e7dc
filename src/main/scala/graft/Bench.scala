package graft

/** Benchmark main. Per-query wall time over EVERY registered query
  * (sorted, stable order), one JSON line on stdout (driver contract).
  *
  * Measurement discipline (VERDICT r1 #7, ADVICE r3 #5):
  *  - full materialization via a `noop`-format write, so Catalyst cannot
  *    prune projections the way it can under `.count()`;
  *  - fixed (sorted) query order + a timed warmup pass, so JVM/codegen
  *    warmup doesn't land in the steady-state minima (the warmup's
  *    first-touch samples are slower, so the per-query MIN ignores
  *    them — but they are recorded, so a run killed after pass 1
  *    still yields a full parsable per-query map);
  *  - every run ends with [[graft.plans.Checkpoint.release]]: each
  *    sample pays its own pins and truncations and leaves nothing
  *    behind (samples are like-for-like);
  *  - ALL raw samples are recorded in `samples` alongside the min in
  *    `queries`, so cross-round comparisons can be made on matching
  *    methodology (ADVICE r3: min-of-2 vs r1/r2 single-pass);
  *  - failures are surfaced in an `errors` map and excluded from `value`
  *    instead of being blended in as fake timings.
  *
  * Timeout survivability (VERDICT r14 #1 — BENCH_r14 was rc=124 with
  * ZERO parsable data because every result line printed only after all
  * passes finished):
  *  - the compact contract line is (re)printed after EVERY pass,
  *    including the warmup, tagged `"partial":true,"pass":k` — a kill
  *    at any point after minute ~8 leaves at least the warmup map in
  *    the tail;
  *  - SPARK_GRAFT_BENCH_BUDGET_S (default 2400 s) bounds the wall
  *    clock: once exceeded, remaining sampling stops, every line
  *    prints with `"budget_exceeded":true`, and the process exits 0
  *    so the driver parses partial-but-honest numbers instead of
  *    nothing. Queries never reached simply have no entry
  *    (`n_queries` exposes the shortfall).
  *
  * Diagnosability fields (VERDICT r14 #6/#7, r16 #3):
  *  - `r1_subset`: subtotal over the 19-query round-1 common set, so
  *    bench-vs-baseline is computable from the compact line alone;
  *  - `r1_subset_pass`: the same subtotal PER PASS (best sample within
  *    each pass), so a whole-run box-speed factor is read directly
  *    instead of inferred;
  *  - `load`: 1-min /proc/loadavg at start and at print time, so a
  *    "regression with no code change" is attributable to box
  *    contention from the artifact itself;
  *  - the COMPLETE per-query map + all samples are written to
  *    `bench_full.json` (SPARK_GRAFT_BENCH_FULL) after every pass —
  *    the stdout compact line can only carry the slowest entries
  *    under the driver's ~2000-char tail capture.
  *
  * Diagnosis knobs (BENCH_r03 showed position-correlated swings on
  * unchanged queries):
  *  - SPARK_GRAFT_BENCH_ONLY: comma-separated query subset;
  *  - SPARK_GRAFT_BENCH_ORDER: sorted (default) | reverse.
  */
object Bench {
  /** The round-1 common query set (BENCH_r01.json's full map): the
    * longest-lived cross-round comparison basis, emitted as its own
    * subtotal so the baseline ratio survives compact-line truncation.
    */
  private val R1Subset: Set[String] = Set(
    "join_anti", "fn_array_suite", "a2_group_array", "j2_genre_pipeline",
    "q3_top_orders", "a1_latest_state", "set_ops", "a1_argmax",
    "distinct_agg", "q1_pricing", "w2_running_sum", "fn_scalar_suite",
    "p1_json_normalize", "join_semi", "rollup_agg", "w1_window_topk",
    "q5_region_volume", "fx_date_fixup", "j1_left_join_dim")

  private def loadAvg1m(): Double =
    try scala.io.Source.fromFile("/proc/loadavg").mkString
      .split("\\s+").head.toDouble
    catch { case _: Throwable => -1.0 }

  def main(args: Array[String]): Unit = {
    val benchT0 = System.nanoTime()
    def elapsedS: Double = (System.nanoTime() - benchT0) / 1e9
    val budgetS = sys.env.getOrElse("SPARK_GRAFT_BENCH_BUDGET_S", "2400")
      .toDouble
    val loadStart = loadAvg1m()
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Sessions.local("graft-bench")
    // the bench times the full surface: oracle-backed correctness
    // queries PLUS the oracle-less production-hash twins (benchOnlyDefs)
    val defs = SparkEntry.queries ++
      SparkEntry.benchOnlyDefs.map(d => d.name -> d.fn)
    // dd_clusters_minlabel exists only to double-check star-CC against
    // the same recursive-CTE oracle (the driver gates it at sf0.01);
    // its O(diameter) loop was the bench's #2 cost (6.5 s in r7) while
    // adding no capability coverage, so the default bench skips it.
    // SPARK_GRAFT_BENCH_ONLY still selects it explicitly.
    val oracleOnlySiblings = Set("dd_clusters_minlabel")
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val sortedNames = defs.keys.toSeq.sorted
      .filter(n => only.fold(!oracleOnlySiblings(n))(_.contains(n)))
    val names = sys.env.getOrElse("SPARK_GRAFT_BENCH_ORDER", "sorted") match {
      case "reverse" => sortedNames.reverse
      case _         => sortedNames
    }

    def runOnce(name: String): Unit = {
      defs(name)(spark, sfDir).write.mode("overwrite").format("noop").save()
      // each measurement pays its own pins and truncations and leaves
      // nothing behind
      graft.plans.Checkpoint.release()
    }

    // samples carry their pass index so per-pass subtotals (the
    // VERDICT r16 #3 cross-round comparison basis) are derivable
    val raw = scala.collection.mutable.LinkedHashMap.empty[String, List[(Int, Double)]]
    val errors = scala.collection.mutable.LinkedHashMap.empty[String, String]
    var budgetExceeded = false
    def overBudget: Boolean = {
      if (!budgetExceeded && elapsedS > budgetS) budgetExceeded = true
      budgetExceeded
    }
    def sample(name: String, pass: Int): Unit =
      if (!errors.contains(name) && !overBudget) {
        try {
          val t0 = System.nanoTime()
          runOnce(name)
          raw(name) = raw.getOrElse(name, Nil) :+
            (pass -> (System.nanoTime() - t0) / 1e9)
        } catch { case e: Throwable =>
          // keep any samples already collected (they were valid runs) so
          // a flaky later-pass failure is distinguishable from a query
          // that never ran; the errors entry excludes it from the
          // headline `total` either way (ADVICE r6)
          errors(name) = Option(e.getMessage).getOrElse(e.getClass.getName).take(200)
        }
      }

    def jstr(s: String): String =
      "\"" + s.flatMap {
        case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
        case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
      } + "\""
    def d3(v: Double): String = f"$v%.3f".replace(",", ".")
    def d2(v: Double): String = f"$v%.2f".replace(",", ".")

    def times: Map[String, Double] =
      raw.collect { case (k, v) if !errors.contains(k) => k -> v.map(_._2).min }
        .toMap
    // Per-pass r1-subset subtotal (VERDICT r16 #3): the sum over the
    // round-1 common set of each query's best sample WITHIN that pass,
    // so a whole-run box-speed factor is readable per pass instead of
    // inferred from the min-of-all-passes blend. Each subtotal carries
    // its covered-query COUNT (ADVICE r17): once the budget sheds
    // queries mid-pass, a later pass silently covers fewer queries —
    // the count makes that shortfall visible, so cross-pass factors
    // are only compared where the counts match.
    def r1SubsetByPass(upTo: Int): Seq[(Double, Int)] =
      (1 to upTo).map { p =>
        val mins = raw.view.filterKeys(R1Subset)
          .flatMap { case (_, ss) =>
            val inPass = ss.collect { case (`p`, t) => t }
            if (inPass.isEmpty) None else Some(inPass.min)
          }.toSeq
        (mins.sum, mins.size)
      }
    // Shared trailer on every line: the budget marker, the r1-subset
    // subtotal, and start/now 1-min loadavg — small, fixed-size fields
    // that make a truncated or contended run self-diagnosing.
    def trailer(): String = {
      val t = times
      val r1 = t.view.filterKeys(R1Subset).values.sum
      s""""budget_exceeded":$budgetExceeded,"r1_subset":${d3(r1)},"load":[${d2(loadStart)},${d2(loadAvg1m())}],"""
    }

    // Compact (<=1900 char) contract line over the CURRENT state;
    // printed after every pass and at exit, so whichever print
    // survives a kill parses. `partialPass` tags mid-run emissions.
    def compactLine(passWalls: Seq[Double], partialPass: Option[Int]): String = {
      val t = times
      val qs = t.toSeq.sortBy(_._1)
        .map { case (k, v) => s"${jstr(k)}:${d3(v)}" }.mkString("{", ",", "}")
      val total = t.values.sum
      val pt = passWalls.map(d3).mkString("[", ",", "]")
      val r1ByPass = r1SubsetByPass(passWalls.size)
      val r1p = r1ByPass.map(x => d3(x._1)).mkString("[", ",", "]")
      val r1n = r1ByPass.map(_._2).mkString("[", ",", "]")
      val partial = partialPass.fold("")(k =>
        s""""partial":true,"pass":$k,""") +
        s""""r1_subset_pass":$r1p,"r1_subset_pass_n":$r1n,"""
      val es =
        if (errors.isEmpty) ""
        else errors.map { case (k, v) => s"${jstr(k)}:${jstr(v)}" }
          .mkString(s""""n_errors":${errors.size},"errors":{""", ",", "},")
      val sfName = sfDir.split('/').filter(_.nonEmpty).lastOption.getOrElse(sfDir)
      val fullLine =
        s"""{"metric":"total","value":${d3(total)},"unit":"sec","pass_walls":$pt,$partial${trailer()}"queries":$qs,$es"sf":"$sfName"}"""
      // A parsable headline line <= ~1.9 KB: the full map stopped
      // fitting the driver's ~2000-char capture at ~98 queries (r5/r6
      // BENCH files show tail=2000 + parsed=None — the truncated full
      // line never parsed). When the full line is small enough it IS
      // the compact line; otherwise trim the query map to the slowest
      // entries that fit the budget.
      if (fullLine.length <= 1900) fullLine
      else {
        // the compact suffix caps the error map (first 3, messages
        // clipped) + a total count — uncapped errors could exceed the
        // ~2000-char capture on their own, defeating the compact line
        // exactly when diagnostics matter most (ADVICE r7)
        val esCompact =
          if (errors.isEmpty) ""
          else errors.take(3).map { case (k, v) => s"${jstr(k)}:${jstr(v.take(80))}" }
            .mkString(s""""n_errors":${errors.size},"errors":{""", ",", "},")
        val prefix = s"""{"metric":"total","value":${d3(total)},"unit":"sec","pass_walls":$pt,$partial${trailer()}"n_queries":${t.size},"queries_slowest":{"""
        val suffix = s"""},$esCompact"sf":"$sfName"}"""
        val budget = 1900 - prefix.length - suffix.length
        val entries = scala.collection.mutable.ArrayBuffer.empty[String]
        var used = 0
        t.toSeq.sortBy(-_._2).foreach { case (k, v) =>
          val e = s"${jstr(k)}:${d3(v)}"
          if (used + e.length + 1 <= budget) { entries += e; used += e.length + 1 }
        }
        prefix + entries.mkString(",") + suffix
      }
    }

    // Four samples per query across three passes, headline = MIN:
    //  - pass 1 is the (timed) warmup: first-touch JVM/codegen/parquet
    //    footer cost lands here, so its samples are slower and the min
    //    ignores them — but a run killed right after pass 1 still has a
    //    COMPLETE per-query map (the r14 failure mode left nothing);
    //  - pass 2 is a back-to-back pair, preserving the best-case warm
    //    minimum rounds 1-5 reported (back-to-back reruns keep codegen
    //    classes, parquet footers and page cache hot — measured ~30%
    //    lower minima than fully interleaved sampling);
    //  - pass 3 is a decorrelated single sample: contention insurance.
    //    BENCH_r05 showed 8-26x spikes on unchanged trivial queries
    //    whose consecutive samples BOTH landed inside one shared-box
    //    contention burst. The interleaved sample runs minutes away
    //    from the pair, so a burst can't cover both and the min
    //    recovers. Under budget pressure this pass is the first thing
    //    the wall-clock guard sheds.
    // Per-pass wall totals are reported so a box that is slow for the
    // WHOLE run (where no sampling discipline can help) is visible in
    // the tail instead of masquerading as a code regression.
    // The FULL per-query map never fits the driver's ~2000-char tail
    // capture once the surface passed ~98 queries (the compact line
    // above trims to the slowest) — so the complete artifact is ALSO
    // written to a JSON file beside the run (VERDICT r16 #3: exact
    // cross-round per-query comparison needs all ~289 times, not the
    // slowest-75 intersection). Re-written after every pass so a
    // killed run still leaves a complete map of what finished.
    val fullPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_FULL", "bench_full.json")
    def writeFull(passWalls: Seq[Double]): Unit = try {
      val t = times
      val qs = t.toSeq.sortBy(_._1)
        .map { case (k, v) => s"${jstr(k)}:${d3(v)}" }.mkString("{", ",", "}")
      val ss = raw.map { case (k, v) =>
        s"${jstr(k)}:${v.map(_._2).mkString("[", ",", "]")}"
      }.mkString("{", ",", "}")
      val es = errors.map { case (k, v) => s"${jstr(k)}:${jstr(v)}" }
        .mkString("{", ",", "}")
      val pt = passWalls.map(d3).mkString("[", ",", "]")
      val r1ByPass = r1SubsetByPass(passWalls.size)
      val r1p = r1ByPass.map(x => d3(x._1)).mkString("[", ",", "]")
      val r1n = r1ByPass.map(_._2).mkString("[", ",", "]")
      val sfName = sfDir.split('/').filter(_.nonEmpty).lastOption.getOrElse(sfDir)
      val line =
        s"""{"metric":"total","value":${d3(t.values.sum)},"unit":"sec","n_queries":${t.size},"pass_walls":$pt,"r1_subset_pass":$r1p,"r1_subset_pass_n":$r1n,${trailer()}"queries":$qs,"samples":$ss,"errors":$es,"sf":"$sfName"}"""
      java.nio.file.Files.write(java.nio.file.Paths.get(fullPath),
        (line + "\n").getBytes("UTF-8"))
    } catch { case e: Throwable =>
      System.err.println(s"[bench] full-map write failed: ${e.getMessage}")
    }

    val passWalls = scala.collection.mutable.ArrayBuffer.empty[Double]
    Seq(1, 2, 1).zipWithIndex.foreach { case (perQuery, passIdx) =>
      if (!overBudget) {
        val p0 = System.nanoTime()
        names.foreach { name =>
          (1 to perQuery).foreach(_ => sample(name, passIdx + 1)) }
        passWalls += (System.nanoTime() - p0) / 1e9
        println(compactLine(passWalls.toSeq, Some(passIdx + 1)))
        writeFull(passWalls.toSeq)
      }
    }

    // Print order defends against BOTH truncation modes the captures
    // have shown: compact FIRST (r6's capture ended mid-stream, so a
    // tail-only print can be cut), then the bulky full-precision
    // samples line for logs/humans, then compact LAST (r4's capture
    // kept only the tail, so a head-only print would scroll away).
    // Whichever side survives parses. The final lines carry no
    // `partial` tag — a tail whose last total-line is untagged is a
    // run that finished its sampling plan (or shed it to the budget,
    // which `budget_exceeded` flags).
    val finalCompact = compactLine(passWalls.toSeq, None)
    val ss = raw.map { case (k, v) =>
      s"${jstr(k)}:${v.map(_._2).mkString("[", ",", "]")}"
    }.mkString("{", ",", "}")
    println(finalCompact)
    println(s"""{"metric":"samples","unit":"sec",${trailer()}"samples":$ss}""")
    println(finalCompact)
    spark.stop()
    // A bench with ANY failed query is a failed bench run: round 10
    // recorded rc=0 + a '[success]' tail while 27 queries errored, and
    // the artifact was committed as a green round (ADVICE r10 #1). The
    // metric lines above still print (partial numbers are useful for
    // diagnosis) but the process exits nonzero so the driver's rc field
    // flags the round. A budget trip WITHOUT errors exits 0: partial-
    // but-honest numbers, flagged in-band via "budget_exceeded":true.
    if (errors.nonEmpty) {
      System.err.println(
        s"[bench] ${errors.size} queries FAILED: ${errors.keys.mkString(", ")}")
      sys.exit(1)
    }
    if (budgetExceeded)
      System.err.println(
        s"[bench] wall-clock budget ${budgetS}s exceeded; sampling stopped early")
  }
}
