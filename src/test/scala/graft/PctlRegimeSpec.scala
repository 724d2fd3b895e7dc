package graft

import org.scalatest.funsuite.AnyFunSuite

/** Device-regime census for the exact-percentile surface (VERDICT r17
  * #3): the choice between the four percentile devices is a measured
  * decision table (see the [[graft.queries.Pctl]] scaladoc), not call-
  * site taste — buffering `percentile` for grid-sized groups,
  * `distBounded` for corpus-size-independent value domains, sparse
  * `dist` for near-distinct fact domains, `distHist` for
  * pre-aggregated weights. r17 re-learned parts of that table by
  * bench regression; this census pins EVERY existing call site to its
  * documented regime so the next device call must name its regime
  * here instead.
  *
  * Complemented by two mechanical siblings: PlanAuditSpec's
  * exact-Percentile census pins where the BUFFERING aggregate may
  * appear (plan-level, catches `expr("percentile(...)")` however it
  * is spelled), and Pctl's build-time input contract rejects sparse-
  * path inputs that are neither scans nor pinned. This
  * spec pins the DataFrame devices at the SOURCE level, so a new call
  * site fails even when its plan happens to audit clean.
  */
class PctlRegimeSpec extends AnyFunSuite {

  private val root = java.nio.file.Paths.get("src/main/scala/graft")

  // Declared call-site census: file -> device -> count, each entry
  // justified by its regime. Adding/removing a Pctl device call
  // anywhere under src/main/scala/graft MUST update this table with
  // the regime the new site sits on (consult the Pctl decision table).
  private val declared: Map[String, Map[String, Int]] = Map(
    // brownForsythe + moodMedian: o_totalprice cents — a near-distinct
    // fact domain → sparse dist; inputs are orders⋈customer joins,
    // Checkpoint.pin per the 3-scan input contract
    "queries/StatTests.scala" -> Map("dist" -> 2),
    // bowleySkew: the same near-distinct cents domain, pinned join
    // input (dist); tukeyFences/qqDeciles(×2)/lenProfile/lengthFilter:
    // 2-dp event values resp. document-length counts — corpus-size-
    // independent domains (distBounded); tokenWeightedLen: weighted
    // length histogram, bounded domain (distHist bounded);
    // weightedQuantiles: quantity-weighted near-distinct cents
    // (distHist sparse over a raw column-pruned scan); weightedPsi
    // (r18): rest token mass on the bounded length domain — grid
    // algebra like psiDrift (distHist bounded)
    "queries/QuantileOps.scala" ->
      Map("dist" -> 1, "distBounded" -> 5, "distHist" -> 3),
    // quantileReservoir's exact leg: l_extendedprice — the canonical
    // near-distinct stress domain (VERDICT r16) → sparse dist over a
    // raw column-pruned scan
    "queries/Sketches.scala" -> Map("dist" -> 1),
    // histogramEqui bounds: 2-dp event values (distBounded);
    // psiDrift fences: rest counts are grid algebra over the 2-dp
    // bucket domain (distHist bounded); outlierBounds med + MAD (r18):
    // one pinned (type, 2-dp value) histogram feeds both — weighted
    // medians on the bounded domain (distHist bounded ×2)
    "queries/DataOps.scala" -> Map("distBounded" -> 1, "distHist" -> 3),
    // trimmedMean fences: 2-dp event values (distBounded)
    "queries/StatOps.scala" -> Map("distBounded" -> 1),
    // q1-extended percentiles: l_quantity 1..50 — a spec-bounded
    // domain (distBounded)
    "queries/RelationalExt.scala" -> Map("distBounded" -> 1),
    // hourly quantiles, MAD anomaly med+MAD, rolling seam median: all
    // 2-dp event values per (type, hour)-ish groups (distBounded)
    "queries/StreamingGates.scala" -> Map("distBounded" -> 4))

  // buffering `percentile` sites are censused plan-level in
  // PlanAuditSpec.percentileAggAllowed (ops_sen_slope / st_trend_mk:
  // calendar²-bounded pair grids — the one regime where buffering
  // measured FASTER than every histogram device, r17)

  private val devicePatterns = Seq(
    "dist" -> """Pctl\.dist\(""".r,
    "distBounded" -> """Pctl\.distBounded\(""".r,
    "distHist" -> """Pctl\.distHist\(""".r)

  test("every Pctl device call site sits on a declared regime (exact census)") {
    assert(java.nio.file.Files.isDirectory(root),
      s"census must run from the repo root; missing $root")
    val actual = scala.collection.mutable.Map.empty[String, Map[String, Int]]
    val stream = java.nio.file.Files.walk(root)
    try {
      stream.filter(p => p.toString.endsWith(".scala")).forEach { p =>
        val text = new String(java.nio.file.Files.readAllBytes(p), "UTF-8")
        val counts = devicePatterns.flatMap { case (name, re) =>
          val n = re.findAllMatchIn(text).size
          if (n > 0) Some(name -> n) else None
        }.toMap
        if (counts.nonEmpty)
          actual(root.relativize(p).toString.replace('\\', '/')) = counts
      }
    } finally stream.close()
    // Pctl.scala itself defines the devices — internal references are
    // not call sites
    actual.remove("queries/Pctl.scala")
    val drift = (declared.keySet ++ actual.keySet).toSeq.sorted.flatMap { f =>
      val d = declared.getOrElse(f, Map.empty)
      val a = actual.getOrElse(f, Map.empty)
      if (d == a) None
      else Some(s"$f: declared $d, actual $a")
    }
    assert(drift.isEmpty,
      "Pctl device-regime census drift — a percentile device call was " +
        "added, moved or removed without updating the regime table " +
        "(pick the device from the Pctl scaladoc decision table and " +
        "declare the new site's regime here):\n" + drift.mkString("\n"))
  }
}
