package graft.queries

import graft.{QueryDef, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Deduplication operators over `documents`: exact (hash-groupBy),
  * exact n-gram Jaccard via an inverted shingle index, and MinHash+LSH
  * banding — the three standard rungs of the corpus-dedup ladder.
  *
  * Scale design (the whole point of the ladder):
  *  - exact dedup is one hash-aggregate on a digest key — a single
  *    partial→final shuffle, the cheapest possible full-corpus pass;
  *  - the inverted-index Jaccard join never materializes the n² cross
  *    product — pairs only form where a shingle co-occurs, and the
  *    per-shingle fan-out is the *true* cost of exactness (hot shingles
  *    are the skew hazard; AQE skew-join splits them). This is the
  *    verifier, not the discovery mechanism, at 100 TB;
  *  - MinHash+LSH is the discovery mechanism: fixed-width signatures
  *    (64 hashes), banded (16×4) so candidate pairs form only inside a
  *    band bucket, then exact-Jaccard verification of candidates only.
  *    Signature build is one aggregate over exploded shingles; banding
  *    is a narrow projection; the bucket self-join touches only docs
  *    sharing a 4-minhash band — sub-quadratic end to end.
  */
object LlmDedup {

  private val JaccardThreshold = 0.9
  private val MinhashHashes = 64
  private val Bands = 16
  private val RowsPerBand = 4 // 16 * 4 = 64

  /** Distinct word-bigram shingles per doc: (doc_id, n_sh, sh). One
    * narrow pass — bigrams via an indexed transform over the token
    * array, no self-join, then a single explode. The per-doc set size
    * n_sh is computed BEFORE the explode (free — no window, no second
    * shuffle) so joins can size-filter at the earliest point.
    */
  // Pinned: the similarity joins reference this relation 3-5 times
  // each (index, candidate sides, verification sides); without the pin
  // each reference re-runs scan+tokenize+explode (measured +55%). Every
  // call builds the identical plan, so repeated calls within one query
  // share a single cache entry.
  private def shingles(s: SparkSession, dir: String): DataFrame = {
    graft.functions.VectorFunctions.register(s)
    graft.plans.Checkpoint.pin(
      // one compiled loop per doc (custom Generator) — the HOF form
      // (transform bigrams -> array_distinct -> explode) pays
      // interpreted per-element overhead and, if the token array is
      // referenced inside the lambda, re-evaluates it per element
      // (O(tokens²) trap). The shingle STRING is hashed to a 64-bit
      // long immediately: shingles never cross the oracle boundary
      // (outputs are doc pairs + counts), equality is all any consumer
      // needs, and an 8-byte key halves every downstream shuffle/sort/
      // intersect vs ~20-byte strings. Collision odds at 64 bits are
      // ~n²/2^65 (≈2e-7 even at 2.5M distinct shingles) — and a
      // collision would surface as a red oracle row, not silence.
      // Spread BEFORE the generator (the unsplittable-input remedy of
      // the Spread doctrine): the single-row-group bench scan
      // is ONE task, so the whole tokenize→bigram→xxhash CPU chain —
      // and, once cached-plan AQE coalescing is on (Sessions), the
      // byte-tiny cache materialization behind it — would run 1-2
      // wide. The explicit hash(doc_id) width also makes the
      // downstream prefix-rank window (partitionBy doc_id) and the
      // docSets aggregate (groupBy doc_id, n_sh) exchange-FREE: both
      // are satisfied by this one partitioning (guide §2.4 "two
      // operations keyed the same way share one exchange"). At scale
      // this exchange replaces the window's own doc_id exchange, so
      // no net shuffle is added.
      graft.operators.Spread.byKey(
        Tables.t(s, dir, "documents")
          .select(col("doc_id"), split(col("text"), " ").as("tk")),
        col("doc_id"))
        .select(col("doc_id"), call_function("bigram_shingles", col("tk")))
        .select(col("doc_id"), col("n_sh"), xxhash64(col("sh")).as("sh")))
  }

  /** J(A,B) >= t implies |A∩B| <= min(|A|,|B|) and |A∪B| >= max, so
    * min(|A|,|B|)/max(|A|,|B|) >= t — the classic size filter. Applied
    * INSIDE the inverted-index join predicate it prunes incompatible
    * pairs before they reach the aggregation (no false negatives).
    */
  private def sizeCompatible(na: Column, nb: Column): Column =
    na.cast(DoubleType) * JaccardThreshold <= nb &&
      nb.cast(DoubleType) * JaccardThreshold <= na

  /** Exact dedup: digest-keyed hash-groupBy, keep-first (min doc_id).
    * The key is md5 of the normalized 5-token prefix — a realistic
    * "same leading content" collapse that is non-vacuous on the
    * testdata (the full texts are all distinct).
    */
  def exactDedup(s: SparkSession, dir: String): DataFrame = {
    val prefix = array_join(slice(split(col("text"), " "), 1, 5), " ")
    Tables.t(s, dir, "documents")
      .select(col("doc_id"), col("n_chars"), md5(lower(trim(prefix)).cast(BinaryType)).as("dup_key"))
      .groupBy(col("dup_key"))
      .agg(
        min(col("doc_id")).as("keeper_id"),
        count(lit(1)).as("n_copies"),
        max(col("n_chars")).as("max_chars"),
      )
      .orderBy(col("keeper_id"))
  }

  val exactDedupOracle: String =
    """SELECT md5(lower(trim(array_to_string(string_split(text, ' ')[1:5], ' ')))) AS dup_key,
      | MIN(doc_id) AS keeper_id, COUNT(*) AS n_copies, MAX(n_chars) AS max_chars
      |FROM documents GROUP BY 1 ORDER BY keeper_id""".stripMargin

  /** Per-doc distinct-shingle SETS (doc_id, n_sh, shs) — the payload
    * relation for pair verification. One groupBy over the cached
    * exploded relation; list order is nondeterministic but only
    * intersection SIZE is ever read.
    */
  private def docSets(sh: DataFrame): DataFrame =
    sh.groupBy(col("doc_id"), col("n_sh"))
      .agg(collect_list(col("sh")).as("shs"))

  /** Exact-Jaccard verification of candidate (doc_a, doc_b) pairs:
    * fetch each side's shingle SET per unique pair and intersect the
    * arrays in one codegen-friendly pass — |A ∩ B| = size(intersect),
    * |A ∪ B| from the carried set sizes. Shared by the exact and the
    * MinHash paths so "verify" means the same thing in both.
    *
    * Scale shape: candidate generation is ids-only; payloads are
    * re-joined per UNIQUE pair (the memory rule that keeps wide arrays
    * out of the high-fanout join). At testdata scale AQE broadcasts the
    * doc-set relation; at 100 TB both payload joins degrade to shuffle
    * joins keyed by doc id, each carrying one array per candidate row —
    * bounded because the candidate set is sub-quadratic by
    * construction. This replaced an explode→join→groupBy verify whose
    * fanned-out intermediate (|candidates| × shingles-per-doc rows
    * through two shuffles) was the single hottest stage of the bench.
    */
  private def verifyPairs(candidates: DataFrame, sets: DataFrame): DataFrame = {
    val jac = col("inter").cast(DoubleType) /
      (col("n_a") + col("n_b") - col("inter"))
    candidates
      .join(sets.select(col("doc_id").as("doc_a"), col("n_sh").as("n_a"), col("shs").as("sa")),
        "doc_a")
      .join(sets.select(col("doc_id").as("doc_b"), col("n_sh").as("n_b"), col("shs").as("sb")),
        "doc_b")
      .withColumn("inter", size(array_intersect(col("sa"), col("sb"))))
      .filter(jac >= JaccardThreshold)
      .select(col("doc_a"), col("doc_b"), round(jac, 6).as("jaccard"))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** Exact bigram-Jaccard near-dup pairs (J >= 0.9) via PREFIX-FILTERED
    * inverted indexing (AllPairs/PPJoin): order shingles globally by
    * (document frequency, shingle), index only each doc's first
    * n - ceil(t*n) + 1 shingles in that order, and generate candidates
    * from the prefix index alone — any pair with J >= t and compatible
    * sizes provably shares a prefix shingle. Exact verification then
    * runs on candidates only.
    *
    * This is what makes the EXACT operator scale-honest: the naive
    * inverted-index join pays sum(df²) over all shingles (hot shingles
    * explode quadratically); the prefix index pays it only over each
    * doc's ~(1-t) rarest shingles, collapsing candidate volume ~100x at
    * t = 0.9 while returning the identical result set. Exposed
    * package-private so ScaleBench can measure the candidate-volume
    * growth curve (the sub-quadratic design claim).
    */
  private[graft] def ngramCandidates(s: SparkSession, dir: String): DataFrame =
    ngramCandidatesScoped(s, dir, None)

  /** [[ngramCandidates]] restricted to a doc-id scope BEFORE indexing:
    * the semi-join lands on the cached shingle relation, so document
    * frequencies, prefix ranks, and the self-join all run over the
    * scoped corpus only. Exactness-preserving for ANY scope — the
    * prefix filter is loss-less under any consistent global (df, sh)
    * order, and pairs of an exact-similarity measure depend only on
    * the two docs — so pairs-over-scope == full pairs restricted to
    * scope, at the scoped corpus's (sub-quadratic) candidate cost.
    * This is the dedup ladder's filter pushdown: at 100 TB a curation
    * pipeline near-dups the quality SURVIVORS, not the raw corpus.
    */
  private[graft] def ngramCandidatesScoped(s: SparkSession, dir: String,
      scope: Option[DataFrame]): DataFrame =
    candidatesFromShingles(scopedShingles(s, dir, scope))

  /** The scoped (doc_id, n_sh, sh) relation: one semi-join on the
    * cached shingle relation, pinned so the candidate index AND the
    * verify sets consume a single computation. Plan-identical pins
    * share one CacheManager entry, so the candidate path and
    * [[ngramJaccardScoped]]'s sets read the same cache.
    */
  private def scopedShingles(s: SparkSession, dir: String,
      scope: Option[DataFrame]): DataFrame = {
    val sh0 = shingles(s, dir)
    scope.fold(sh0) { ids =>
      graft.plans.Checkpoint.pin(
        sh0.join(ids.select(col("doc_id")), Seq("doc_id"), "left_semi"))
    }
  }

  /** The prefix-filtered inverted index over a shingle relation —
    * extracted so the full self-join AND the incremental delta join
    * build the identical index (one persisted computation).
    */
  private def prefixIndex(sh: DataFrame): DataFrame = {
    // document frequency as a hash aggregate (partial→final, map-side
    // combined, NO sort) joined back to the shingle relation — replaces
    // the count().over(partitionBy(sh)) window, which forced a full
    // shuffle+SORT of the exploded inverted index (measured: the single
    // most expensive stage of the whole bench). AQE broadcasts the
    // (sh, df) side when small; at 100 TB it degrades to a shuffle join,
    // never a global sort.
    val df = sh.groupBy(col("sh")).agg(count(lit(1)).as("df"))
    // the per-doc prefix rank still needs one window, but its sort is
    // per-doc (n_sh rows), after the narrow df join
    val ranked = sh.join(df, "sh")
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(col("doc_id")).orderBy(col("df"), col("sh"))))
    // pinned: the prefix relation feeds BOTH candidate sides of the
    // self-join; without the pin the whole scan→shingle→df-join→window
    // lineage would execute twice. Plan-identical pins share one entry.
    graft.plans.Checkpoint.pin(ranked
      .filter(col("rn") <= col("n_sh") - ceil(col("n_sh") * JaccardThreshold) + 1)
      .select(col("doc_id"), col("n_sh"), col("sh"), col("rn")))
  }

  private def candidatesFromShingles(sh: DataFrame): DataFrame = {
    val prefix = prefixIndex(sh)
    // PPJoin POSITIONAL filter (Xiao et al. 2008), pair-level exact
    // form: shingle lists are sorted by the same global (df, sh) key in
    // every doc, so a pair's FIRST shared shingle (min rn on both
    // sides simultaneously — order consistency makes it the same row)
    // bounds the whole overlap: O <= 1 + min(n_a - rn_a, n_b - rn_b).
    // J >= t needs O >= ceil(t/(1+t) * (n_a+n_b)); we prune with the
    // FLOOR bound, DERIVED from JaccardThreshold so retuning t can
    // never silently over-prune (a hardcoded 9/19 is only valid at
    // t = 0.9). floor() of the double product is always <=
    // the exact ceil bound, so the filter never drops a qualifying
    // pair regardless of fp rounding; exactness is preserved because
    // the verify step recomputes true Jaccard.
    // Measured at sf0.1 this cuts candidate pairs ~10x — template docs
    // share "rare" shingles, but rarely as their FIRST prefix entry.
    val alphaFloor = floor((col("n_a") + col("n_b")) *
      lit(JaccardThreshold / (1 + JaccardThreshold)))
    prefix.as("a")
      .join(prefix.as("b"),
        col("a.sh") === col("b.sh") && col("a.doc_id") < col("b.doc_id") &&
          sizeCompatible(col("a.n_sh"), col("b.n_sh")))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        col("a.n_sh").as("n_a"), col("b.n_sh").as("n_b"),
        col("a.rn").as("rn_a"), col("b.rn").as("rn_b"))
      .groupBy(col("doc_a"), col("doc_b"), col("n_a"), col("n_b"))
      .agg(min(col("rn_a")).as("rn_a"), min(col("rn_b")).as("rn_b"))
      .filter(lit(1) + least(col("n_a") - col("rn_a"), col("n_b") - col("rn_b")) >= alphaFloor)
      .select(col("doc_a"), col("doc_b"))
  }

  def ngramJaccard(s: SparkSession, dir: String): DataFrame = {
    // ONE shingle relation behind both consumers: a second build would
    // share the pinned cache but pay its own scan-footer job
    val sh = shingles(s, dir)
    verifyPairs(candidatesFromShingles(sh), docSets(sh))
  }

  /** Scoped twin of [[ngramJaccard]] (see [[ngramCandidatesScoped]]):
    * identical pair set to `ngramJaccard.filter(both ends in scope)`,
    * generated at scoped cost. Verification payload sets are scoped
    * too — the groupBy only aggregates shingles the join can touch.
    */
  private[graft] def ngramJaccardScoped(s: SparkSession, dir: String,
      scope: DataFrame): DataFrame = {
    // ONE scoped relation behind both consumers (see scopedShingles)
    val sh = scopedShingles(s, dir, Some(scope))
    verifyPairs(candidatesFromShingles(sh), docSets(sh))
  }

  /** INCREMENTAL near-dup pairs: every J >= t pair with at least one
    * endpoint in the delta batch (deterministic membership here:
    * doc_id % 10 == 0 — in production, the day's ingest), WITHOUT
    * re-pairing the existing corpus against itself. This is the shape
    * a daily 100 TB pipeline actually runs: corpus×corpus once,
    * then delta×corpus per increment — candidate cost follows
    * |delta| × df, not |corpus|².
    *
    * Exactness: prefixes come from the full-corpus (df, sh) order, so
    * the prefix-share guarantee holds for any pair; joining
    * delta-prefix × all-prefix reaches every delta-touching pair.
    * Both orientations of a delta×delta pair arrive — canonicalizing
    * endpoint-wise (least/greatest, with n/rn swapped alongside)
    * before the per-pair min-rank aggregate makes them one group, so
    * the positional filter sees exactly the same (rn_a, rn_b) minima
    * as the full self-join restricted to delta-touching pairs.
    */
  def ngramIncrementalPairs(s: SparkSession, dir: String): DataFrame = {
    // ONE shingle relation behind both consumers (see ngramJaccard)
    val sh = shingles(s, dir)
    verifyPairs(incrementalCandidates(sh), docSets(sh))
  }

  /** The delta×corpus candidate relation of [[ngramIncrementalPairs]]
    * (exposed for ScaleBench's growth curve: the candidate count is
    * the honest incremental metric — per-run wall time is dominated by
    * the prefix-index build, which a production pipeline maintains
    * across increments rather than rebuilding).
    */
  private[graft] def ngramIncrementalCandidates(s: SparkSession, dir: String): DataFrame =
    incrementalCandidates(shingles(s, dir))

  private def incrementalCandidates(sh: DataFrame): DataFrame = {
    val isDelta = (c: Column) => pmod(c, lit(10)) === 0
    val prefix = prefixIndex(sh)
    val alphaFloor = floor((col("n_a") + col("n_b")) *
      lit(JaccardThreshold / (1 + JaccardThreshold)))
    val aFirst = col("a.doc_id") < col("b.doc_id")
    prefix.filter(isDelta(col("doc_id"))).as("a")
      .join(prefix.as("b"),
        col("a.sh") === col("b.sh") && col("a.doc_id") =!= col("b.doc_id") &&
          sizeCompatible(col("a.n_sh"), col("b.n_sh")))
      .select(
        when(aFirst, col("a.doc_id")).otherwise(col("b.doc_id")).as("doc_a"),
        when(aFirst, col("b.doc_id")).otherwise(col("a.doc_id")).as("doc_b"),
        when(aFirst, col("a.n_sh")).otherwise(col("b.n_sh")).as("n_a"),
        when(aFirst, col("b.n_sh")).otherwise(col("a.n_sh")).as("n_b"),
        when(aFirst, col("a.rn")).otherwise(col("b.rn")).as("rn_a"),
        when(aFirst, col("b.rn")).otherwise(col("a.rn")).as("rn_b"))
      .groupBy(col("doc_a"), col("doc_b"), col("n_a"), col("n_b"))
      .agg(min(col("rn_a")).as("rn_a"), min(col("rn_b")).as("rn_b"))
      .filter(lit(1) + least(col("n_a") - col("rn_a"), col("n_b") - col("rn_b")) >= alphaFloor)
      .select(col("doc_a"), col("doc_b"))
  }

  // the batch oracle restricted to delta-touching pairs — incremental
  // == full-run-filtered is exactly the contract being gated
  lazy val ngramIncrementalOracle: String =
    s"""SELECT * FROM ($ngramJaccardOracle)
       |WHERE doc_a % 10 = 0 OR doc_b % 10 = 0
       |ORDER BY doc_a, doc_b""".stripMargin

  /** DIRECTIONAL containment near-dup pairs (Broder 1997, "On the
    * resemblance and containment of documents"): C(A→B) =
    * |Sh(A) ∩ Sh(B)| / |Sh(A)| ≥ 0.8 — the ASYMMETRIC sibling of
    * Jaccard that catches sub-document duplication (a doc quoted or
    * embedded inside a larger one), which symmetric J ≥ t structurally
    * cannot: J of a small doc inside a 10× larger one is ≤ 0.1 however
    * exact the inclusion. The standard boilerplate/quotation screen in
    * web-corpus curation.
    *
    * Candidate generation is the ASYMMETRIC prefix filter: C ≥ t needs
    * overlap ≥ ceil(t·n_inner), so any qualifying pair shares one of
    * the inner doc's first n − ceil(t·n) + 1 shingles in the global
    * (df, sh) order — the inner PREFIX joins the outer FULL index
    * (the outer side admits no per-doc prefix: its bound depends on
    * the partner). One directional size filter (n_outer ≥ t·n_inner —
    * overlap can't exceed the smaller set) prunes before the group.
    * All threshold comparisons in exact integer form (t = 4/5:
    * `inter*5 >= n*4`, ceil(t·n) = `(4n+4) div 5`) so no engine's
    * float rounding can flip a boundary pair — see the float policy
    * at [[LlmCuration.dsirWeights]].
    *
    * Scale shape: candidate volume is Σ_sh prefixDf(sh)·df(sh) —
    * the inner prefix keeps only each doc's rarest ~20% of shingles,
    * so hot shingles never pair quadratically; verification re-joins
    * payload sets per unique candidate, as [[verifyPairs]].
    */
  private val ContainWidth = 4

  /** 4-token shingles for containment — WIDTH MATTERS: on this
    * corpus's small vocabulary, bigram document frequency averages
    * ~275, and measured candidate volume at sf0.1 was 6.7M pairs for
    * 512 true pairs (27% of quadratic — the inverted index
    * degenerates). At width 4 the shingle space is combinatorial in
    * the vocabulary, df collapses toward 1, and the measured candidate
    * relation is EXACTLY the 511 true pairs. Same reason Broder used
    * ~10-grams and ExactSubstr uses 8-token windows.
    *
    * Pinned like [[shingles]]: the containment join references the
    * 4-gram relation from five sides (df, ranked, prefix, full index,
    * verify sets).
    */
  private def containShingles(s: SparkSession, dir: String): DataFrame = {
    graft.functions.VectorFunctions.register(s)
    graft.plans.Checkpoint.pin(Tables.t(s, dir, "documents")
      .select(col("doc_id"), split(col("text"), " ").as("tk"))
      .select(col("doc_id"),
        call_function("ngram_shingles", col("tk"), lit(ContainWidth)))
      .select(col("doc_id"), col("n_sh"), xxhash64(col("sh")).as("sh")))
  }

  def containmentPairs(s: SparkSession, dir: String): DataFrame =
    containmentFromShingles(containShingles(s, dir))

  private[graft] def containmentFromShingles(sh: DataFrame): DataFrame = {
    val dfRel = sh.groupBy(col("sh")).agg(count(lit(1)).as("df"))
    val ranked = sh.join(dfRel, "sh")
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(col("doc_id")).orderBy(col("df"), col("sh"))))
    val innerPrefix = ranked
      .filter(col("rn") <= col("n_sh") - expr("(4 * n_sh + 4) div 5") + 1)
      .select(col("doc_id").as("inner_id"), col("n_sh").as("n_inner"), col("sh"))
    val cands = innerPrefix
      .join(sh.select(col("doc_id").as("outer_id"), col("n_sh").as("n_outer"), col("sh")),
        "sh")
      .filter(col("inner_id") =!= col("outer_id") &&
        col("n_outer") * 5 >= col("n_inner") * 4)
      .select(col("inner_id"), col("n_inner"), col("outer_id")).distinct()
    val sets = sh.groupBy(col("doc_id"), col("n_sh"))
      .agg(collect_list(col("sh")).as("shs"))
    cands
      .join(sets.select(col("doc_id").as("inner_id"), col("shs").as("si")), "inner_id")
      .join(sets.select(col("doc_id").as("outer_id"), col("shs").as("so")), "outer_id")
      .withColumn("inter", size(array_intersect(col("si"), col("so"))))
      .filter(col("inter") * 5 >= col("n_inner") * 4)
      .select(col("inner_id"), col("outer_id"),
        round(col("inter").cast(DoubleType) / col("n_inner"), 6).as("containment"))
      .orderBy(col("inner_id"), col("outer_id"))
  }

  // semantics stated quadratically over the full inverted index; the
  // Spark side must reach the identical directional set through the
  // asymmetric prefix filter
  val containmentPairsOracle: String =
    s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
       |s AS (SELECT doc_id, len(shs) AS n_sh, unnest(shs) AS sh FROM (
       |  SELECT doc_id,
       |    list_distinct([tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2] || ' ' || tk[i+3]
       |      for i in range(1, len(tk) - 2)]) AS shs
       |  FROM t)),
       |co AS (SELECT a.doc_id AS inner_id, b.doc_id AS outer_id,
       |    a.n_sh AS n_inner, COUNT(*) AS inter
       |  FROM s a JOIN s b ON a.sh = b.sh AND a.doc_id <> b.doc_id
       |  WHERE b.n_sh * 5 >= a.n_sh * 4
       |  GROUP BY 1, 2, 3)
       |SELECT inner_id, outer_id,
       |  round(CAST(inter AS DOUBLE) / n_inner, 6) AS containment
       |FROM co WHERE inter * 5 >= n_inner * 4
       |ORDER BY inner_id, outer_id""".stripMargin

  // The oracle states the SEMANTICS (all size-compatible pairs at
  // J >= t over the full inverted index); the Spark side reaches the
  // same set through the prefix filter, which is the point being gated.
  val ngramJaccardOracle: String =
    s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
       |s AS (SELECT doc_id, len(shs) AS n_sh, unnest(shs) AS sh FROM (
       |  SELECT doc_id,
       |    list_distinct([tk[i] || ' ' || tk[i+1] for i in range(1, len(tk))]) AS shs
       |  FROM t)),
       |co AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |    a.n_sh AS n_a, b.n_sh AS n_b, COUNT(*) AS inter
       |  FROM s a JOIN s b ON a.sh = b.sh AND a.doc_id < b.doc_id
       |  WHERE CAST(a.n_sh AS DOUBLE) * $JaccardThreshold <= b.n_sh
       |    AND CAST(b.n_sh AS DOUBLE) * $JaccardThreshold <= a.n_sh
       |  GROUP BY 1, 2, 3, 4)
       |SELECT doc_a, doc_b,
       |  round(CAST(inter AS DOUBLE) / (n_a + n_b - inter), 6) AS jaccard
       |FROM co
       |WHERE CAST(inter AS DOUBLE) / (n_a + n_b - inter) >= $JaccardThreshold
       |ORDER BY doc_a, doc_b""".stripMargin

  /** MinHash + LSH near-dup: 64 minhashes per doc (one aggregate over
    * the exploded shingles), 16 bands of 4 rows, candidate pairs only
    * within a band bucket, then exact-Jaccard verification of the
    * candidates. Output = verified pairs at J >= 0.9.
    *
    * Gated against the SAME exact oracle as [[ngramJaccard]]: with 16
    * bands of 4, a J = 0.9 pair is missed with probability
    * (1 - 0.9^4)^16 ≈ 4e-8, so LSH recall is exact for gate purposes —
    * while the candidate set stays sub-quadratic (the property that
    * matters at 100 TB, where the exact self-join's hot-shingle fan-out
    * is unpayable as a discovery scan).
    */
  /** Banded-LSH candidate pairs (exposed for ScaleBench's growth
    * curve). Banding is TUNABLE: `bands` × `rowsPerBand` must cover the
    * signature; the default 16×4 targets t = 0.9 recall (miss ≈ 4e-8),
    * and a corpus dense in J ≈ 0.7 pairs at scale should sharpen the
    * S-curve with 8×8 (collision at J = 0.7 drops ~4x per band) — see
    * SCALE_CURVE.md.
    */
  private[graft] def minhashCandidates(s: SparkSession, dir: String,
      bands: Int = Bands, rowsPerBand: Int = RowsPerBand): DataFrame =
    bandedCandidates(shingles(s, dir), bands, rowsPerBand)

  private def bandedCandidates(sh: DataFrame, bands: Int, rowsPerBand: Int): DataFrame = {
    require(bands * rowsPerBand <= MinhashHashes,
      s"banding $bands x $rowsPerBand exceeds $MinhashHashes signatures")
    // 64 min-aggregated seeded hashes per doc, then band keys.
    val sigCols = (0 until MinhashHashes)
      .map(i => min(xxhash64(lit(i), col("sh"))).as(s"h$i"))
    val sig = sh.groupBy(col("doc_id")).agg(sigCols.head, sigCols.tail: _*)
    val bandKeys = (0 until bands).map { b =>
      val rows = (0 until rowsPerBand).map(r => col(s"h${b * rowsPerBand + r}"))
      struct(lit(b).as("band"), xxhash64(rows: _*).as("key"))
    }
    val banded = sig
      .select(col("doc_id"), explode(array(bandKeys: _*)).as("bk"))
      .select(col("doc_id"), col("bk.band").as("band"), col("bk.key").as("key"))
    banded.as("x")
      .join(banded.as("y"),
        col("x.band") === col("y.band") && col("x.key") === col("y.key") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      .distinct()
  }

  def minhashLsh(s: SparkSession, dir: String): DataFrame = {
    // ONE shingle relation behind both consumers (see ngramJaccard)
    val sh = shingles(s, dir)
    verifyPairs(bandedCandidates(sh, Bands, RowsPerBand), docSets(sh))
  }

  /** SimHash near-dup pairs at Hamming distance <= 1, found by BANDED
    * fingerprint indexing: split the 32-bit simhash into 2 bands of 16
    * bits; by pigeonhole a pair within distance 1 matches on at least
    * one full band, so the band-bucket self-join finds EXACTLY the
    * pairs the quadratic scan would (gated against that quadratic form
    * in DuckDB) while staying sub-quadratic — the fingerprints are one
    * narrow pass and the join only forms rows inside 16-bit buckets.
    */
  /** Banded simhash candidate pairs at Hamming <= 1, DISTINCT applied
    * AFTER the cheap fingerprint filter (exposed for ScaleBench's
    * growth curve). Ordering matters at scale: the 16-bit bucket join's
    * raw fan-out is Σ_bucket n_b² rows (ScaleBench measured 215M on the
    * 10× corpus — template corpora collide heavily on half-
    * fingerprints), and the previous distinct-then-filter order
    * SHUFFLED all of them for dedup; filtering on bit_count first is a
    * same-stage scalar predicate that cuts the dedup input to the true
    * near-dup set before anything moves.
    */
  private[graft] def simhashCandidates(s: SparkSession, dir: String): DataFrame = {
    graft.functions.VectorFunctions.register(s)
    val fp = Tables.t(s, dir, "documents")
      .select(col("doc_id"),
        call_function("simhash32", split(col("text"), " ")).as("simhash"))
    val banded = fp.select(col("doc_id"), col("simhash"),
      explode(array(
        struct(lit(0).as("band"), shiftright(col("simhash"), 16).as("key")),
        struct(lit(1).as("band"), (col("simhash").bitwiseAND(lit(0xFFFFL))).as("key")),
      )).as("bk"))
      .select(col("doc_id"), col("simhash"),
        col("bk.band").as("band"), col("bk.key").as("key"))
    banded.as("x")
      .join(banded.as("y"),
        col("x.band") === col("y.band") && col("x.key") === col("y.key") &&
          col("x.doc_id") < col("y.doc_id") &&
          bit_count(col("x.simhash").bitwiseXOR(col("y.simhash"))) <= 1)
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"),
        col("x.simhash").as("sim_a"), col("y.simhash").as("sim_b"))
      .distinct()
  }

  def simhashNearDup(s: SparkSession, dir: String): DataFrame = {
    val ham = bit_count(col("sim_a").bitwiseXOR(col("sim_b")))
    simhashCandidates(s, dir)
      .select(col("doc_a"), col("doc_b"), ham.cast(IntegerType).as("hamming"))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  // Quadratic ground truth (fine at oracle scale; the Spark side must
  // never do this): simhash per doc via the shared arithmetic, then all
  // pairs at Hamming <= 1.
  val simhashNearDupOracle: String = {
    val sums = (0 until 32).map(j => s"SUM(((h >> $j) & 1) * 2 - 1) AS s$j").mkString(", ")
    val pack = (0 until 32)
      .map(j => s"(CASE WHEN s$j > 0 THEN CAST(${1L << j} AS BIGINT) ELSE 0 END)")
      .mkString(" + ")
    s"""WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents),
       |th AS (SELECT doc_id, CASE WHEN length(token) = 0 THEN 0 ELSE
       |  list_reduce(list_transform(string_split(token, ''), c -> CAST(ascii(c) AS BIGINT)),
       |    (a, b) -> (a * 31 + b) % 1000000007) END AS h FROM tok),
       |votes AS (SELECT doc_id, $sums FROM th GROUP BY doc_id),
       |fp AS (SELECT doc_id, $pack AS simhash FROM votes)
       |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |  CAST(bit_count(xor(a.simhash, b.simhash)) AS INTEGER) AS hamming
       |FROM fp a JOIN fp b ON a.doc_id < b.doc_id
       |WHERE bit_count(xor(a.simhash, b.simhash)) <= 1
       |ORDER BY doc_a, doc_b""".stripMargin
  }

  /** Near-dup CLUSTERS: connected components over the exact-Jaccard
    * pair graph, labeled by the minimum member id — the step that turns
    * pairwise similarity into an actionable dedup decision (keep the
    * representative, drop the rest).
    *
    * DEFAULT ENGINE: alternating large-star/small-star contraction
    * ([[starLabels]], O(log n) rounds regardless of component
    * diameter) — the default because O(diameter) min-label
    * propagation is the one scale sensitivity of the dedup ladder. Min-label
    * propagation remains as [[dedupClustersMinLabel]], gated against
    * the IDENTICAL oracle, so the two engines keep checking each
    * other.
    */
  def dedupClusters(s: SparkSession, dir: String): DataFrame =
    dedupClustersStar(s, dir)

  /** The min-label-propagation engine for the same output — each round
    * joins the symmetric edge list against the current labels and
    * takes the per-node minimum; converges in O(cluster diameter)
    * rounds (near-dup clusters are shallow — the fixture converges in
    * 2). Kept as the oracle-check sibling of the star default: every
    * round is one keyed shuffle join + hash aggregate over the PAIR
    * graph (sub-quadratic), never the corpus.
    */
  def dedupClustersMinLabel(s: SparkSession, dir: String): DataFrame =
    propagateClusters(ngramJaccard(s, dir).select(col("doc_a"), col("doc_b")))

  /** Core of [[dedupClustersMinLabel]] over an arbitrary canonical
    * (doc_a < doc_b) pair relation — factored out so
    * DedupExactnessSpec can assert it equal to [[starClusters]] on
    * random graphs.
    */
  private[graft] def propagateClusters(pairs: DataFrame): DataFrame =
    clusterOutput(propagateLabels(pairs))

  /** The per-doc (doc_id, label) relation of [[propagateClusters]]. */
  private[graft] def propagateLabels(pairs: DataFrame): DataFrame = {
    // pin the edge list: every iteration references it, and without
    // the pin each round would re-run the entire upstream similarity
    // pipeline (measured 9s -> ~4s at sf0.1)
    val sym = graft.plans.Checkpoint.pin(pairs.unionByName(
      pairs.select(col("doc_b").as("doc_a"), col("doc_a").as("doc_b"))))
    // one round: every doc takes the minimum of its own and its
    // neighbors' labels; the new label and the changed flag come out of
    // ONE join pass, so each round is one shuffle join + one aggregate.
    // Min-label propagation needs O(cluster diameter) rounds, so
    // hitting the cap means a pathological chain; the fix at that scale
    // is large-star/small-star (O(log n) rounds), not a bigger cap
    val init = sym.select(col("doc_a").as("doc_id")).distinct()
      .select(col("doc_id"), col("doc_id").as("label"), lit(false).as("chg"))
    val (labels, _) = graft.plans.Checkpoint.fixpoint(init, 50,
        "dedupClusters min-label propagation") { labels =>
      val neighborMin = sym
        .join(labels, sym("doc_b") === labels("doc_id"))
        .groupBy(col("doc_a")).agg(min(col("label")).as("nlabel"))
        .withColumnRenamed("doc_a", "doc_id")
      labels.alias("l")
        .join(neighborMin.alias("n"), Seq("doc_id"), "left")
        .select(col("doc_id"),
          least(col("l.label"), coalesce(col("n.nlabel"), col("l.label"))).as("label"),
          (coalesce(col("n.nlabel"), col("l.label")) < col("l.label")).as("chg"))
    } { (_, _, next, _) => next.filter(col("chg")).isEmpty }
    labels.drop("chg")
  }

  /** (doc_id, label) → one row per cluster: representative, size,
    * pipe-joined member list (sorted NUMERICALLY before stringifying —
    * lexicographic sort would order "10" before "9").
    */
  private def clusterOutput(labels: DataFrame): DataFrame =
    labels
      .groupBy(col("label").as("cluster_rep"))
      .agg(count(lit(1)).as("n_members"),
        array_join(transform(array_sort(collect_list(col("doc_id"))),
          m => m.cast(StringType)), "|").as("members"))
      .orderBy(col("cluster_rep"))

  /** Near-dup clusters via alternating LARGE-STAR / SMALL-STAR
    * (Kiveris et al. 2014, "Connected Components in MapReduce and
    * Beyond" — the O(log n)-round scale upgrade over [[dedupClusters]]'s O(diameter) min-label
    * propagation). Same pair graph, same output, same oracle — the two
    * implementations gate against each other through the DuckDB
    * recursive CTE, and DedupExactnessSpec checks them equal on random
    * graphs.
    *
    * Each round is two keyed shuffle aggregates + joins over the edge
    * set (which only ever SHRINKS toward the star forest — no
    * corpus-sized state). Large-star hangs every neighbor v > u off
    * m = min(N(u) ∪ {u}); small-star re-hangs each smaller neighbor
    * (and u itself) off the minimum — together they contract every
    * component to a star labeled by its minimum id in O(log n) rounds
    * regardless of diameter, where min-label propagation needs
    * O(diameter).
    */
  def dedupClustersStar(s: SparkSession, dir: String): DataFrame =
    starClusters(ngramJaccard(s, dir)
      .select(col("doc_a").as("a"), col("doc_b").as("b")))

  /** Core of [[dedupClustersStar]] over an arbitrary canonical (a < b)
    * pair relation — see [[propagateClusters]].
    */
  private[graft] def starClusters(pairs: DataFrame): DataFrame =
    clusterOutput(starLabels(pairs))

  /** Rounds the most recent [[starLabels]] run took to converge — a
    * test/bench diagnostic (SCALE_CURVE pins it ~flat at 10×), not an
    * API: single JVM only, last-writer-wins under concurrency.
    */
  private[graft] val lastStarRounds = new java.util.concurrent.atomic.AtomicInteger(-1)

  /** The per-doc (doc_id, label) relation of [[starClusters]] — the
    * default label engine consumed by [[clusterRepByQuality]] and the
    * curation pipeline's near-dup collapse stage. Labels every node of
    * every component (including each component's own minimum, labeled
    * by itself); nodes with no edge don't appear.
    */
  private[graft] def starLabels(pairs: DataFrame): DataFrame = {
    // canonical a < b by ngramJaccard construction; the round count
    // the convergence check needs doubles as the action that
    // materializes the round, so each round is ONE Spark job (the
    // loop's wall is per-round fixed cost × rounds)
    val (edges, rounds) = graft.plans.Checkpoint.fixpoint(pairs.distinct(), 30,
        "dedupClustersStar") { edges =>
      // LARGE-STAR over the symmetric neighbor relation: every
      // neighbor strictly larger than u re-links to m = min(N(u) ∪ {u}).
      // m rides a window min over the SAME u-partitioning the old
      // groupBy+self-join pair needed anyway (the
      // join co-located all of u's rows in one task too, so the window
      // concentrates nothing the join didn't — it just deletes one
      // aggregate exchange and one join per operator per round). The
      // ls relation is NOT deduplicated here: two u's re-linking the
      // same (m, v) produce duplicate rows, min() below is
      // duplicate-blind, and the round's closing distinct() dedupes
      // the union — same edge SET per round, two fewer exchanges.
      val sym = edges.select(col("a").as("u"), col("b").as("v"))
        .unionByName(edges.select(col("b").as("u"), col("a").as("v")))
      val wU = Window.partitionBy(col("u"))
      // m <= u < v keeps the (a, b) = (m, v) orientation canonical
      val ls = sym
        .withColumn("m", least(min(col("v")).over(wU), col("u")))
        .filter(col("v") > col("u"))
        .select(col("m").as("a"), col("v").as("b"))
      // SMALL-STAR on the canonical edges: group the LARGER endpoint
      // h = b over its smaller neighbors, re-hang them (and h) off the
      // minimum — the same window-for-groupBy+join trade as above;
      // the (m, b) self rows repeat per partition row and collapse in
      // the closing distinct()
      val wB = Window.partitionBy(col("b"))
      val withM = ls.withColumn("m", min(col("a")).over(wB))
      withM.filter(col("a") =!= col("m"))
        .select(col("m").as("na"), col("a").as("nb"))
        .unionByName(withM.select(col("m").as("na"), col("b").as("nb")))
        .distinct()
        .select(col("na").as("a"), col("nb").as("b"))
    } { (prev, prevCount, next, nextCount) =>
      // star forests are exactly the fixed points of both operators, so
      // set-equality of the (distinct) edge relations is convergence;
      // equal cardinality + one empty one-sided difference is enough,
      // and the count short-circuits the anti-join in non-final rounds
      nextCount == prevCount && next.join(prev, Seq("a", "b"), "left_anti").isEmpty
    }
    lastStarRounds.set(rounds)
    // the full-width distinct over the union is unnecessary — a
    // CONVERGED edge relation is a star forest (fixed point of
    // large-star∘small-star, both of which strictly decrease the
    // Kiveris potential away from star forests), so every non-root b
    // appears in exactly one (a, b) edge: the b-branch is already
    // distinct, and a < b keeps the two branches disjoint. Only the
    // root self-labels (one per edge of a root) need deduplication —
    // a component-count-sized distinct instead of an edge-sized one.
    edges.select(col("b").as("doc_id"), col("a").as("label"))
      .unionByName(
        edges.select(col("a").as("doc_id"), col("a").as("label")).distinct())
  }

  // DuckDB: transitive closure via recursive CTE (bounded by cluster
  // size — fine at oracle scale), label = min reachable id. Shared by
  // both cluster-output oracles and the rep-selection oracle.
  private val clusterLabelsCte: String =
    s"""pairs AS (${ngramJaccardOracle}),
       |edges AS (SELECT doc_a AS a, doc_b AS b FROM pairs
       |  UNION SELECT doc_b, doc_a FROM pairs),
       |reach(a, b) AS (
       |  SELECT a, b FROM edges
       |  UNION
       |  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a),
       |labels AS (
       |  SELECT a AS doc_id, LEAST(a, MIN(b)) AS label FROM reach GROUP BY a)""".stripMargin

  val dedupClustersOracle: String =
    s"""WITH RECURSIVE $clusterLabelsCte
       |SELECT label AS cluster_rep, COUNT(*) AS n_members,
       |  array_to_string(list_transform(list_sort(list(doc_id)), x -> CAST(x AS VARCHAR)), '|') AS members
       |FROM labels GROUP BY label ORDER BY cluster_rep""".stripMargin

  /** Representative SELECTION: per near-dup cluster, keep the
    * highest-QUALITY member instead of the lowest id — what a curation
    * pipeline actually wants from dedup (drop the worse copies, not
    * the arbitrarily-numbered ones). Ranks each cluster on the shared
    * [[LlmText.qualityExpr]] score (already round(,6); doc_id breaks
    * exact ties), so "quality" is the same number the text-stats gate
    * reports.
    *
    * Scale shape: the label relation is the (sub-quadratic) cluster
    * membership, the quality column is a narrow per-row expression
    * joined on doc_id, and the per-cluster argmax is a
    * WindowGroupLimit rank — nothing here touches corpus×corpus.
    */
  def clusterRepByQuality(s: SparkSession, dir: String): DataFrame = {
    // default label engine (star-CC); the min-label sibling is gated
    // separately so the engines keep checking each other
    val labels = starLabels(
      ngramJaccard(s, dir).select(col("doc_a").as("a"), col("doc_b").as("b")))
    val quality = Tables.t(s, dir, "documents")
      .select(col("doc_id"), LlmText.qualityExpr(col("text")).as("quality"))
    // aggregate before you shuffle: the rank-1 row
    // and the member count come from ONE hash aggregate instead of a
    // row_number + count window pair — the argmax rides a struct max
    // ordered (quality, −doc_id), which is exactly
    // `row_number() OVER (ORDER BY quality DESC, doc_id) = 1`
    // (doc_id is unique within a cluster, so the ordering key is
    // total). Map-side partial aggregation shuffles one row per
    // (label, map task) instead of every member row into a sort — the
    // oracle is unchanged and pins the equivalence at both scales.
    labels.join(quality, "doc_id")
      .groupBy(col("label").as("cluster_rep"))
      .agg(
        max(struct(col("quality"), (-col("doc_id")).as("__negid"),
          col("doc_id").as("keeper"))).as("__top"),
        count(lit(1)).as("n_members"))
      .select(col("cluster_rep"), col("__top.keeper").as("keeper"),
        col("__top.quality").as("keeper_quality"), col("n_members"))
      .orderBy(col("cluster_rep"))
  }

  val clusterRepByQualityOracle: String =
    s"""WITH RECURSIVE $clusterLabelsCte,
       |q AS (SELECT doc_id, ${LlmText.qualityExprSql} AS quality FROM documents),
       |ranked AS (
       |  SELECT l.label, l.doc_id, q.quality,
       |    ROW_NUMBER() OVER (PARTITION BY l.label
       |      ORDER BY q.quality DESC, l.doc_id) AS rn,
       |    COUNT(*) OVER (PARTITION BY l.label) AS n_members
       |  FROM labels l JOIN q USING (doc_id))
       |SELECT label AS cluster_rep, doc_id AS keeper, quality AS keeper_quality,
       |  CAST(n_members AS BIGINT) AS n_members
       |FROM ranked WHERE rn = 1 ORDER BY cluster_rep""".stripMargin

  /** Cross-document duplicated PASSAGES (Lee et al. 2022,
    * arXiv:2107.06499 "Deduplicating Training Data Makes Language
    * Models Better" — their ExactSubstr finds substrings shared across
    * documents; this is the n-gram-window form of that scan): every
    * 8-token window occurring in >= 2 distinct docs, with its document
    * and occurrence counts. Doc-level dedup misses these — boilerplate
    * headers/licenses/templates repeat across otherwise-distinct pages
    * and memorize verbatim at training time.
    *
    * Scale shape: one explode of per-doc windows → one hash aggregate
    * keyed on the window. No pairwise anything — cost is linear in
    * total tokens, and the aggregate's partial (map-side) combine
    * collapses within-doc repeats before the shuffle. At 100 TB the
    * group key is xxhash64(window) with an exemplar string kept by
    * min-hash tiebreak (8-byte shuffle keys); the gate keys on the
    * window text itself so the oracle can replay it.
    */
  def commonPassages(s: SparkSession, dir: String): DataFrame = {
    val W = 8
    Tables.t(s, dir, "documents")
      .select(col("doc_id"), split(col("text"), " ").as("tk"))
      .filter(size(col("tk")) >= W)
      // sequence() reverses direction for negative spans, so the size
      // guard above is load-bearing: size-8 >= 0 keeps it ascending
      .select(col("doc_id"), explode(expr(
        s"transform(sequence(0, size(tk) - $W), i -> array_join(slice(tk, i + 1, $W), ' '))"))
        .as("gram"))
      .groupBy(col("gram"))
      .agg(countDistinct(col("doc_id")).as("n_docs"), count(lit(1)).as("n_occurrences"))
      .filter(col("n_docs") >= 2)
      .orderBy(col("n_docs").desc, col("n_occurrences").desc, col("gram"))
  }

  val commonPassagesOracle: String =
    """WITH t AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
      |g AS (SELECT doc_id,
      |  unnest([array_to_string(tk[i:i+7], ' ') for i in range(1, len(tk)-6)]) AS gram
      |  FROM t WHERE len(tk) >= 8)
      |SELECT gram, COUNT(DISTINCT doc_id) AS n_docs, COUNT(*) AS n_occurrences
      |FROM g GROUP BY gram HAVING COUNT(DISTINCT doc_id) >= 2
      |ORDER BY n_docs DESC, n_occurrences DESC, gram""".stripMargin

  /** Per-document duplicated-text fraction — the actionable form of
    * [[commonPassages]] (Lee et al. threshold documents on how much of
    * their text is covered by cross-document duplicated substrings):
    * for every doc, the share of token positions lying inside at least
    * one 8-token window that also occurs in another document. Docs too
    * short for a window (or with no shared window) report 0.
    *
    * Scale shape: the window relation is built once; the cross-doc
    * test is one hash aggregate on the window key semi-joined back
    * (both sides of the semi-join are the same one-explode relation);
    * the coverage union explodes 8 offsets ONLY for duplicated windows
    * before a per-doc distinct count. Everything keys on window text
    * or doc id — no pairwise term.
    */
  def dupFraction(s: SparkSession, dir: String): DataFrame = {
    val W = 8
    val docs = Tables.t(s, dir, "documents")
      .select(col("doc_id"), split(col("text"), " ").as("tk"))
      .withColumn("n_tokens", size(col("tk")).cast("long"))
    val wins = docs.filter(col("n_tokens") >= W)
      .select(col("doc_id"), explode(expr(
        s"transform(sequence(1, size(tk) - ${W - 1}), i -> struct(i AS pos, array_join(slice(tk, i, $W), ' ') AS gram))"))
        .as("w"))
      .select(col("doc_id"), col("w.pos").as("pos"), col("w.gram").as("gram"))
    val dupGrams = wins.groupBy(col("gram"))
      .agg(countDistinct(col("doc_id")).as("nd"))
      .filter(col("nd") >= 2)
      .select(col("gram"))
    val covered = wins
      .join(dupGrams, Seq("gram"), "left_semi")
      .select(col("doc_id"), explode(sequence(col("pos"), col("pos") + (W - 1))).as("cp"))
      .groupBy(col("doc_id"))
      .agg(countDistinct(col("cp")).as("n_dup_positions"))
    docs.join(covered, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"),
        coalesce(col("n_dup_positions"), lit(0L)).as("n_dup_positions"),
        round(coalesce(col("n_dup_positions"), lit(0L)).cast(DoubleType) /
          col("n_tokens"), 6).as("dup_frac"))
      .orderBy(col("doc_id"))
  }

  val dupFractionOracle: String =
    """WITH t AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
      |w AS (SELECT doc_id, i AS pos, array_to_string(tk[i:i+7], ' ') AS gram
      |  FROM (SELECT doc_id, tk, unnest(range(1, len(tk) - 6)) AS i FROM t
      |        WHERE len(tk) >= 8)),
      |d AS (SELECT gram FROM w GROUP BY gram HAVING COUNT(DISTINCT doc_id) >= 2),
      |c AS (SELECT doc_id, COUNT(DISTINCT cp) AS n_dup_positions FROM (
      |  SELECT w.doc_id, unnest(range(w.pos, w.pos + 8)) AS cp
      |  FROM w JOIN d USING (gram)) GROUP BY doc_id)
      |SELECT t.doc_id, CAST(len(t.tk) AS BIGINT) AS n_tokens,
      |  COALESCE(c.n_dup_positions, 0) AS n_dup_positions,
      |  round(CAST(COALESCE(c.n_dup_positions, 0) AS DOUBLE) / len(t.tk), 6) AS dup_frac
      |FROM t LEFT JOIN c ON t.doc_id = c.doc_id
      |ORDER BY t.doc_id""".stripMargin

  val defs: Seq[QueryDef] = Seq(
    QueryDef("dd_exact_dedup", exactDedup, Some(exactDedupOracle)),
    QueryDef("dd_common_passages", commonPassages, Some(commonPassagesOracle)),
    QueryDef("dd_dup_fraction", dupFraction, Some(dupFractionOracle)),
    QueryDef("dd_clusters", dedupClusters, Some(dedupClustersOracle)),
    QueryDef("dd_clusters_minlabel", dedupClustersMinLabel, Some(dedupClustersOracle)),
    QueryDef("dd_cluster_rep", clusterRepByQuality, Some(clusterRepByQualityOracle)),
    QueryDef("dd_ngram_jaccard", ngramJaccard, Some(ngramJaccardOracle)),
    QueryDef("dd_containment", containmentPairs, Some(containmentPairsOracle)),
    QueryDef("dd_incremental_pairs", ngramIncrementalPairs, Some(ngramIncrementalOracle)),
    // NOTE data-coupled gate: minhashLsh is gated against the EXACT
    // Jaccard oracle even though LSH recall is probabilistic. With 16
    // bands of 4 the miss probability at J = 0.9 is (1 - 0.9^4)^16
    // ≈ 4e-8 per qualifying pair, so on the fixed testdata the gate is
    // deterministic — but regenerating the corpus or reseeding xxhash64
    // could legitimately flip it. If this row ever goes red after a
    // testdata regen, triage as EXPECTED approximation miss, not a bug.
    QueryDef("dd_minhash_lsh", minhashLsh, Some(ngramJaccardOracle)),
    QueryDef("dd_simhash_neardup", simhashNearDup, Some(simhashNearDupOracle)),
  )
}
