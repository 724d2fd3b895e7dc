package graft

import org.scalatest.funsuite.AnyFunSuite

/** Regime census for the exact-percentile surface: the choice between
  * the percentile regimes is a measured decision table (see the
  * [[graft.queries.Pctl]] scaladoc), not call-site taste — buffering
  * `percentile` for grid-sized groups, `dist(..., bounded = true)` for
  * corpus-size-independent value domains, the sparse `dist` default for
  * near-distinct fact domains, `distHist` (bounded or sparse) for
  * pre-aggregated weights. This census pins EVERY call site to its
  * documented regime, read from the call's own `bounded = true`
  * argument, so the next call must name its regime here.
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

  // Declared call-site census: file -> regime -> count, each entry
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
    // independent domains (dist bounded); tokenWeightedLen: weighted
    // length histogram, bounded domain (distHist bounded);
    // weightedQuantiles: quantity-weighted near-distinct cents
    // (distHist sparse over a raw column-pruned scan)
    "queries/QuantileOps.scala" -> Map("dist" -> 1, "dist bounded" -> 5,
      "distHist" -> 1, "distHist bounded" -> 1),
    // quantileReservoir's exact leg: l_extendedprice — the canonical
    // near-distinct stress domain → sparse dist over a raw
    // column-pruned scan
    "queries/Sketches.scala" -> Map("dist" -> 1),
    // histogramEqui bounds: 2-dp event values (dist bounded);
    // psiVsRest fences (psiDrift's 2-dp buckets, weightedPsi's
    // lengths): rest mass is grid algebra over the bounded bucket
    // domain (distHist bounded); outlierBounds med + MAD: one
    // pinned (type, 2-dp value) histogram feeds both — weighted
    // medians on the bounded domain (distHist bounded ×2)
    "queries/DataOps.scala" -> Map("dist bounded" -> 1, "distHist bounded" -> 3),
    // trimmedMean fences: 2-dp event values (dist bounded)
    "queries/StatOps.scala" -> Map("dist bounded" -> 1),
    // q1-extended percentiles: l_quantity 1..50 — a spec-bounded
    // domain (dist bounded)
    "queries/RelationalExt.scala" -> Map("dist bounded" -> 1),
    // hourly quantiles, MAD anomaly med+MAD, rolling seam median: all
    // 2-dp event values per (type, hour)-ish groups (dist bounded)
    "queries/StreamingGates.scala" -> Map("dist bounded" -> 4))

  // buffering `percentile` sites are censused plan-level in
  // PlanAuditSpec.percentileAggAllowed (ops_sen_slope / st_trend_mk:
  // calendar²-bounded pair grids — the one regime where buffering
  // measured FASTER than every histogram device)

  private val deviceCall = """Pctl\.(dist|distHist)\(""".r
  private val boundedArg = """\bbounded\s*=\s*([^,)\s]+)""".r

  /** The regime of every device call in `text`: the device name, plus
    * " bounded" when the call passes `bounded = true` (any other
    * `bounded = x` is reported verbatim, so it must be declared as such).
    */
  private def regimes(text: String): Seq[String] = {
    // full-line comments may hold parentheses; they are not code
    val code = text.linesIterator.filterNot { l =>
      val t = l.trim; t.startsWith("//") || t.startsWith("*")
    }.mkString("\n")
    deviceCall.findAllMatchIn(code).map { m =>
      var depth = 1
      var i = m.end
      while (depth > 0) {
        code(i) match {
          case '"' => i = code.indexOf('"', i + 1)
          case '(' => depth += 1
          case ')' => depth -= 1
          case _ =>
        }
        i += 1
      }
      val args = code.substring(m.end, i - 1)
      m.group(1) + (boundedArg.findFirstMatchIn(args).map(_.group(1)) match {
        case None => ""
        case Some("true") => " bounded"
        case Some(x) => s" bounded = $x"
      })
    }.toSeq
  }

  test("every Pctl device call site sits on a declared regime (exact census)") {
    assert(java.nio.file.Files.isDirectory(root),
      s"census must run from the repo root; missing $root")
    val actual = scala.collection.mutable.Map.empty[String, Map[String, Int]]
    val stream = java.nio.file.Files.walk(root)
    try {
      stream.filter(p => p.toString.endsWith(".scala")).forEach { p =>
        val text = new String(java.nio.file.Files.readAllBytes(p), "UTF-8")
        val counts = regimes(text).groupBy(identity).map { case (r, xs) => r -> xs.size }
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
