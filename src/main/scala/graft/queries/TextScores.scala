package graft.queries

import graft.{QueryDef, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Document scoring operators beyond the corpus-statistics families in
  * [[LlmText]]/[[LlmCuration]]: classic readability metrics and RAKE
  * keyword extraction — the remaining per-document signals a curation
  * pipeline ranks and filters on.
  *
  * House float policy throughout: integer counts cross engines exactly;
  * every surviving double is either a single division of exact integers
  * or a DECIMAL(38,12)-summed series, rounded to 6 dp at the boundary.
  */
object TextScores {

  // ---------------------------------------------------------------------
  // Readability (Flesch 1948 / Kincaid 1975)
  // ---------------------------------------------------------------------

  /** Syllable heuristic: vowel-group count per word, floored at 1 (the
    * standard dictionary-free approximation — "scan" → 1, "value" → 2,
    * "by" → 0 groups → floored to 1). Runs entirely inside the row:
    * transform + regexp per token, then an integer fold. Tokens arrive
    * pre-lowercased (ADVICE r12: a case-sensitive vowel class floors
    * "The"/"AI" to 1 — both gates lowercase at the scan).
    */
  private def syllables(toks: Column): Column =
    aggregate(
      transform(toks, t =>
        greatest(lit(1L), size(regexp_extract_all(t, lit("[aeiouy]+"), lit(0)))
          .cast(LongType))),
      lit(0L), (acc, x) => acc + x)

  private val syllablesSql: String =
    """list_reduce(list_transform(string_split(lower(text), ' '),
      |  t -> greatest(CAST(1 AS BIGINT),
      |       CAST(len(regexp_extract_all(t, '[aeiouy]+')) AS BIGINT))),
      |  (a, b) -> a + b)""".stripMargin.replace("\n", " ")

  /** Flesch Reading Ease + Flesch-Kincaid grade per document. The
    * synthetic corpus carries no sentence punctuation, so the sentence
    * count is a fixed 1 per document (stated in the output so the
    * metric is honest about its input); words and syllables are exact
    * integers, each score is a fixed-order affine combination of two
    * single divisions, rounded at 6 dp.
    *
    * Scale shape: a narrow whole-stage-codegen projection over the
    * documents scan, plus the deterministic-output `ORDER BY doc_id`
    * (one range-partition exchange + sort) that every hash-compared
    * gate carries — the compute itself is shuffle-free, the sort is
    * the gate contract.
    */
  def readability(s: SparkSession, dir: String): DataFrame = {
    val toks = split(lower(col("text")), " ")
    val nW = size(toks).cast(LongType)
    val nSyl = syllables(toks)
    val wps = nW.cast(DoubleType) // words per sentence (1 sentence)
    val spw = nSyl.cast(DoubleType) / nW.cast(DoubleType)
    Tables.t(s, dir, "documents").select(
      col("doc_id"),
      nW.as("n_words"),
      nSyl.as("n_syllables"),
      lit(1L).as("n_sentences"),
      round(spw, 6).as("syll_per_word"),
      round(lit(206.835) - lit(1.015) * wps - lit(84.6) * spw, 6)
        .as("flesch_ease"),
      round(lit(0.39) * wps + lit(11.8) * spw - lit(15.59), 6)
        .as("fk_grade"),
    ).orderBy(col("doc_id"))
  }

  val readabilityOracle: String =
    s"""SELECT doc_id,
       |  CAST(len(string_split(lower(text), ' ')) AS BIGINT) AS n_words,
       |  $syllablesSql AS n_syllables,
       |  CAST(1 AS BIGINT) AS n_sentences,
       |  round(CAST($syllablesSql AS DOUBLE)
       |    / len(string_split(lower(text), ' ')), 6) AS syll_per_word,
       |  round(206.835
       |    - 1.015 * CAST(len(string_split(lower(text), ' ')) AS DOUBLE)
       |    - 84.6 * (CAST($syllablesSql AS DOUBLE)
       |              / len(string_split(lower(text), ' '))), 6) AS flesch_ease,
       |  round(0.39 * CAST(len(string_split(lower(text), ' ')) AS DOUBLE)
       |    + 11.8 * (CAST($syllablesSql AS DOUBLE)
       |              / len(string_split(lower(text), ' '))) - 15.59, 6)
       |    AS fk_grade
       |FROM documents ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------------
  // RAKE keyword extraction (Rose et al. 2010)
  // ---------------------------------------------------------------------

  /** RAKE delimiters: the [[LlmText]] English stopword list. Kept
    * private-local so the gate is self-contained; must stay in sync
    * with the SQL rendering below.
    */
  private val rakeStops = Seq("the", "a", "of", "and", "in", "to")

  /** In-band phrase delimiter for the split device below. ADVICE r12:
    * `|` could legitimately appear inside a corpus token and would
    * then split it mid-token on both engines while the driver-side
    * replay (a plain token walk) would not. BEL (\u0007) is a control
    * character no text corpus carries — and Round12GatesSpec asserts
    * its absence from `documents.text` so the assumption is checked,
    * not hoped.
    */
  private[graft] val PhraseDelim = '\u0007'

  /** Candidate phrases: maximal stopword-free token runs over the
    * LOWERCASED text (so "The"/"In" delimit like their lowercase
    * forms). Implemented with the doubled-space device so consecutive
    * stopwords cannot hide behind a shared separator: double every
    * space, mark each ` stop ` occurrence (now guaranteed its own
    * padding) with the BEL delimiter, split on it, renormalize
    * whitespace, drop empties. Pure string ops — identical semantics
    * in Spark and DuckDB.
    */
  private def phrases(text: Column): Column = {
    val padded = concat(lit(" "),
      regexp_replace(lower(text), " ", "  "), lit(" "))
    val marked = regexp_replace(padded,
      s" (${rakeStops.mkString("|")}) ", s" $PhraseDelim ")
    filter(
      transform(split(marked, PhraseDelim.toString),
        p => trim(regexp_replace(p, " +", " "))),
      p => length(p) > 0)
  }

  private val phrasesSql: String = {
    val alt = rakeStops.mkString("|")
    s"""list_filter(list_transform(
       |  string_split(regexp_replace(
       |    ' ' || replace(lower(text), ' ', '  ') || ' ',
       |    ' ($alt) ', ' ' || chr(7) || ' ', 'g'), chr(7)),
       |  p -> trim(regexp_replace(p, ' +', ' ', 'g'))),
       |  p -> length(p) > 0)""".stripMargin.replace("\n", " ")
  }

  /** Corpus-level RAKE: explode candidate phrases, score each member
    * word by degree/frequency over the whole corpus (degree counts
    * co-membership including self, the original formulation), score a
    * phrase as the sum of its member word scores, and report the
    * top 25 distinct phrases.
    *
    * Float policy: deg and freq are exact integers; the word score is
    * ONE division; phrase scores sum the round-6 word scores as
    * DECIMAL(38,12) (fixed inputs ⇒ order-free), rounded at 6.
    *
    * Scale shape: two explodes (linear in tokens) into hash
    * aggregates; the word-score join is vocabulary-sized; top-k is a
    * TakeOrderedAndProject. No all-pairs anywhere.
    */
  def rakeKeywords(s: SparkSession, dir: String): DataFrame = {
    val ph = Tables.t(s, dir, "documents")
      .select(explode(phrases(col("text"))).as("phrase"))
    // every phrase occurrence contributes len(phrase) to each member
    // word's degree and 1 to its frequency
    val occ = ph.select(col("phrase"), size(split(col("phrase"), " ")).as("len"),
      explode(split(col("phrase"), " ")).as("word"))
    val wordScore = occ.groupBy(col("word"))
      .agg(sum(col("len").cast(LongType)).as("deg"), count(lit(1)).as("freq"))
      .select(col("word"),
        round(col("deg").cast(DoubleType) / col("freq").cast(DoubleType), 6)
          .as("wscore"))
    val phraseScore = occ
      .join(wordScore, "word")
      .groupBy(col("phrase"))
      .agg(
        count(lit(1)).as("n_occ_words"),
        sum(col("wscore").cast(DecimalType(38, 12))).as("sum_ws"))
    // n_occ_words counts (occurrences × member words); normalize to a
    // per-occurrence phrase score: occurrences = n_occ_words / len
    phraseScore
      .withColumn("len", size(split(col("phrase"), " ")).cast(LongType))
      .withColumn("occurrences", (col("n_occ_words") / col("len")).cast(LongType))
      .select(col("phrase"), col("len").as("n_words"), col("occurrences"),
        round(col("sum_ws").cast(DoubleType) / col("occurrences"), 6)
          .as("rake_score"))
      .orderBy(col("rake_score").desc, col("phrase"))
      .limit(25)
  }

  val rakeKeywordsOracle: String =
    s"""WITH ph AS (
       |  SELECT unnest($phrasesSql) AS phrase FROM documents),
       |occ AS (
       |  SELECT phrase, len(string_split(phrase, ' ')) AS len,
       |    unnest(string_split(phrase, ' ')) AS word
       |  FROM ph),
       |ws AS (
       |  SELECT word,
       |    round(CAST(SUM(CAST(len AS BIGINT)) AS DOUBLE) / COUNT(*), 6)
       |      AS wscore
       |  FROM occ GROUP BY 1),
       |psc AS (
       |  SELECT o.phrase, COUNT(*) AS n_occ_words,
       |    SUM(CAST(ws.wscore AS DECIMAL(38,12))) AS sum_ws
       |  FROM occ o JOIN ws USING (word) GROUP BY 1)
       |SELECT phrase,
       |  CAST(len(string_split(phrase, ' ')) AS BIGINT) AS n_words,
       |  CAST(n_occ_words // len(string_split(phrase, ' ')) AS BIGINT)
       |    AS occurrences,
       |  round(CAST(sum_ws AS DOUBLE)
       |    / (n_occ_words // len(string_split(phrase, ' '))), 6) AS rake_score
       |FROM psc
       |ORDER BY rake_score DESC, phrase LIMIT 25""".stripMargin

  // ---------------------------------------------------------------------
  // Lexical diversity (type-token ratio family)
  // ---------------------------------------------------------------------

  /** Per-document lexical diversity: type-token ratio, hapax ratio
    * (within-document hapax legomena over types), and Guiraud's R
    * (types/√tokens, the length-corrected variant) — the standard
    * repetitiveness signals a curation pipeline filters on (a doc with
    * TTR ≈ 0 is boilerplate/spam regardless of its quality score).
    *
    * Float policy: tokens/types/hapax are exact integers; each ratio is
    * one division (√tokens of an exact integer is correctly rounded in
    * both engines), rounded at 6 dp.
    *
    * Scale shape: one explode (linear in tokens) into a (doc, word)
    * hash aggregate, then a doc-sized aggregate — the [[LlmText]]
    * postings shape, no joins at all.
    */
  def ttrDiversity(s: SparkSession, dir: String): DataFrame = {
    val byWord = Tables.t(s, dir, "documents")
      .select(col("doc_id"),
        explode(split(lower(col("text")), " ")).as("word"))
      .groupBy(col("doc_id"), col("word")).agg(count(lit(1)).as("n"))
    byWord.groupBy(col("doc_id"))
      .agg(
        sum(col("n")).as("n_tokens"),
        count(lit(1)).as("n_types"),
        sum(when(col("n") === 1, 1L).otherwise(0L)).as("n_hapax"))
      .select(col("doc_id"), col("n_tokens"), col("n_types"), col("n_hapax"),
        round(col("n_types").cast(DoubleType) / col("n_tokens"), 6).as("ttr"),
        round(col("n_hapax").cast(DoubleType) / col("n_types"), 6)
          .as("hapax_ratio"),
        round(col("n_types").cast(DoubleType)
          / sqrt(col("n_tokens").cast(DoubleType)), 6).as("guiraud_r"))
      .orderBy(col("doc_id"))
  }

  val ttrDiversityOracle: String =
    """WITH bw AS (
      |  SELECT doc_id, word, COUNT(*) AS n FROM (
      |    SELECT doc_id, unnest(string_split(lower(text), ' ')) AS word
      |    FROM documents)
      |  GROUP BY 1, 2),
      |agg AS (
      |  SELECT doc_id, SUM(n) AS n_tokens, COUNT(*) AS n_types,
      |    SUM(CASE WHEN n = 1 THEN 1 ELSE 0 END) AS n_hapax
      |  FROM bw GROUP BY 1)
      |SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
      |  CAST(n_types AS BIGINT) AS n_types,
      |  CAST(n_hapax AS BIGINT) AS n_hapax,
      |  round(CAST(n_types AS DOUBLE) / n_tokens, 6) AS ttr,
      |  round(CAST(n_hapax AS DOUBLE) / n_types, 6) AS hapax_ratio,
      |  round(CAST(n_types AS DOUBLE) / sqrt(CAST(n_tokens AS DOUBLE)), 6)
      |    AS guiraud_r
      |FROM agg ORDER BY doc_id""".stripMargin

  /** Coleman–Liau index + Automated Readability Index per document —
    * the CHARACTER-based readability pair beside [[readability]]'s
    * syllable-based Flesch scores (Coleman & Liau 1975; Senter &
    * Smith 1967): both were designed for machine scoring precisely
    * because character counts need no dictionary, which is why
    * C4-class corpus filters prefer them. Characters = non-space
    * length (this corpus is already lowercase word characters);
    * sentence count is the same honest fixed 1 as [[readability]]
    * (the corpus carries no sentence punctuation, stated in the
    * output). CLI = 0.0588·L − 0.296·S_100 − 15.8 on per-100-word
    * rates; ARI = 4.71·(chars/words) + 0.5·(words/sentences) −
    * 21.43. Counts are exact integers; each score is one fixed
    * affine double expression.
    *
    * Scale shape: a narrow whole-stage-codegen projection over the
    * documents scan plus the gate-contract `ORDER BY doc_id` sort.
    */
  def cliAri(s: SparkSession, dir: String): DataFrame = {
    val nW = size(split(col("text"), " ")).cast(LongType)
    val nC = (length(col("text")) - (nW - 1)).cast(LongType)
    // exact integer numerators over den = 100·w:
    //   CLI = (588c − 1580w − 2960) / (100w)
    //   ARI = (471c + 50w² − 2143w) / (100w)
    // HALF_UP round-6 in PURE INTEGER arithmetic: power-of-two word
    // counts land the pre-round double EXACTLY on a half boundary (a
    // 64-word doc puts ARI on 32.2065625, caught by the sf0.01 gate),
    // where double-rounding engines legitimately disagree. Sign-split
    // so only positives are divided; the division itself goes through
    // (a − a mod den)/den, which is exact in double because the
    // quotient is an integer well under 2^53.
    def r6rat(num: Column, w: Column): Column = {
      val den = w * 100L
      val a = abs(num) * 1000000L + w * 50L
      val q = ((a - pmod(a, den)).cast(DoubleType) /
        den.cast(DoubleType)).cast(LongType)
      (when(num < 0, -q).otherwise(q).cast(DoubleType) / lit(1000000.0))
    }
    Tables.t(s, dir, "documents")
      .select(col("doc_id"), nW.as("w"), nC.as("c"))
      .select(
        col("doc_id"),
        col("w").as("n_words"),
        col("c").as("n_chars"),
        lit(1L).as("n_sentences"),
        r6rat(lit(588L) * col("c") - lit(1580L) * col("w") - lit(2960L),
          col("w")).as("coleman_liau"),
        r6rat(lit(471L) * col("c") + lit(50L) * col("w") * col("w") -
          lit(2143L) * col("w"), col("w")).as("ari"))
      .orderBy(col("doc_id"))
  }

  val cliAriOracle: String = {
    def r6rat(num: String, den: String): String =
      s"""(CAST(CASE WHEN ($num) < 0
         |    THEN -((abs($num) * 1000000 + ($den) // 2) // ($den))
         |    ELSE ((($num) * 1000000 + ($den) // 2) // ($den))
         |  END AS DOUBLE) / 1000000.0)""".stripMargin.replace("\n", " ")
    val w = "CAST(len(string_split(text, ' ')) AS BIGINT)"
    val c = s"CAST(len(text) - ($w - 1) AS BIGINT)"
    s"""WITH t AS (SELECT doc_id, $w AS w, $c AS c FROM documents)
       |SELECT doc_id,
       |  w AS n_words,
       |  c AS n_chars,
       |  CAST(1 AS BIGINT) AS n_sentences,
       |  ${r6rat("588 * c - 1580 * w - 2960", "100 * w")} + 0.0
       |    AS coleman_liau,
       |  ${r6rat("471 * c + 50 * w * w - 2143 * w", "100 * w")} + 0.0
       |    AS ari
       |FROM t ORDER BY doc_id""".stripMargin
  }

  private val TrScale = 1000000000000L // rank-mass fixed point (gr_pagerank device)
  private val TrIters = 5
  private val TrTopK = 25

  /** TextRank keywords (Mihalcea & Tarau 2004) — corpus-level
    * keyword extraction as PageRank over the word co-occurrence
    * graph, the GRAPH-based sibling of [[rakeKeywords]]'s
    * degree/frequency scores and the second classic unsupervised
    * keyword family: nodes are non-stopword tokens (the RAKE
    * stoplist, for family coherence), undirected edges weighted by
    * co-occurrence count within a window of 2 ORIGINAL token
    * positions (a stopword between two content words does not break
    * their window). The walk is the `gr_pagerank` integer fixed-point
    * device verbatim — rank mass at scale 10¹², d = 0.85 via
    * `(85·m) div 100`, [[TrIters]] synchronous iterations — so every
    * rank is an exact BIGINT and the whole gate is bit-exact across
    * engines, no rounding recipe needed. Weighted contributions
    * divide each neighbor's rank by the node's total edge STRENGTH
    * (Σw), the weighted-TextRank form of out-degree.
    *
    * Scale shape: pair generation is EXPRESSION-ONLY (two
    * window-slice transforms + one explode inside whole-stage
    * codegen — never a self-join); the edge relation is ≤ 2× token
    * count before dedup, vocabulary²-bounded and corpus-sparse
    * after. Each iteration shuffles the vocabulary-sized rank
    * relation onto the persisted edge partitioning with map-side
    * combine — five small shuffles, the gr_pagerank regime. n is a
    * bounded driver scalar (vocabulary count, the pageRank
    * precedent).
    */
  def textrank(s: SparkSession, dir: String): DataFrame = {
    val stops = Seq("the", "a", "of", "and", "in", "to")
    val arr = split(lower(col("text")), " ")
    def pairsAt(k: Int) = transform(
      slice(arr, lit(1), greatest(size(arr) - k, lit(0))),
      (t, i) => struct(t.as("a"), element_at(arr, i + k + 1).as("b")))
    // pinned + checkpoint-truncated: the corpus explode is the
    // expensive pass — every downstream consumer (symmetrization,
    // strength, the 5 iterations, the final stats join) re-reads the
    // compact edge artifact instead of re-scanning documents (the
    // tradeEdges discipline)
    val pairs = graft.plans.Checkpoint.pin(graft.plans.Checkpoint.truncate(
      Tables.t(s, dir, "documents")
        .select(explode(concat(pairsAt(1), pairsAt(2))).as("p"))
        .select(col("p.a").as("a"), col("p.b").as("b"))
        .filter(!col("a").isin(stops: _*) && !col("b").isin(stops: _*) &&
          col("a") =!= col("b"))
        .select(least(col("a"), col("b")).as("x"),
          greatest(col("a"), col("b")).as("y"))
        .groupBy(col("x"), col("y")).agg(count(lit(1)).as("wt"))))
    val sym = pairs.select(col("x").as("src"), col("y").as("dst"), col("wt"))
      .unionByName(
        pairs.select(col("y").as("src"), col("x").as("dst"), col("wt")))
    val strength = sym.groupBy(col("src"))
      .agg(count(lit(1)).as("degree"), sum(col("wt")).as("strength"))
    val edgesW = graft.plans.Checkpoint.pin(sym
      .join(strength.select(col("src"), col("strength")), "src"))
    // vocabulary size folded in as a broadcast 1-row aggregate (the
    // pageRank/salsa device): seeds the uniform start
    // mass once, and the teleport base rides the rank relation as a
    // constant column re-carried by min() — no driver .count()
    val nV = strength.agg(count(lit(1)).as("n_v"))
    var ranks = strength.crossJoin(broadcast(nV))
      .select(col("src").as("node"),
        expr(s"$TrScale div n_v").as("rank"),
        expr(s"($TrScale * 3 div 20) div n_v").as("base"))
    for (_ <- 1 to TrIters) {
      ranks = edgesW.join(ranks, edgesW("src") === ranks("node"))
        .select(col("dst"), expr("(rank * wt) div strength").as("contrib"),
          col("base"))
        .groupBy(col("dst"))
        .agg(sum(col("contrib")).as("m"), min(col("base")).as("base"))
        .select(col("dst").as("node"),
          (col("base") + expr("(85 * m) div 100")).as("rank"), col("base"))
    }
    ranks.join(strength, ranks("node") === strength("src"))
      .select(col("node").as("word"), col("degree"), col("strength"),
        col("rank"))
      .orderBy(col("rank").desc, col("word"))
      .limit(TrTopK)
  }

  val textrankOracle: String = {
    val stops = Seq("the", "a", "of", "and", "in", "to")
      .map(w => s"'$w'").mkString(", ")
    val iter = (i: Int, prev: String) =>
      s"""r$i AS (SELECT e.dst AS node,
         |    base.b + (85 * CAST(SUM(r.rank * e.wt // e.strength)
         |      AS BIGINT)) // 100 AS rank
         |  FROM e JOIN $prev r ON e.src = r.node
         |  CROSS JOIN base GROUP BY e.dst, base.b)"""
    s"""WITH t AS (
       |  SELECT string_split(lower(text), ' ') AS t FROM documents),
       |raw AS (
       |  SELECT unnest(list_concat(
       |    list_transform(range(1, greatest(len(t), 1)),
       |      i -> {'a': t[i], 'b': t[i + 1]}),
       |    list_transform(range(1, greatest(len(t) - 1, 1)),
       |      i -> {'a': t[i], 'b': t[i + 2]})), recursive := true)
       |  FROM t),
       |pr AS (
       |  SELECT least(a, b) AS x, greatest(a, b) AS y, COUNT(*) AS wt
       |  FROM raw
       |  WHERE a NOT IN ($stops) AND b NOT IN ($stops) AND a <> b
       |  GROUP BY 1, 2),
       |e0 AS (SELECT x AS src, y AS dst, wt FROM pr
       |  UNION ALL SELECT y AS src, x AS dst, wt FROM pr),
       |d AS (SELECT src, COUNT(*) AS degree,
       |    CAST(SUM(wt) AS BIGINT) AS strength
       |  FROM e0 GROUP BY 1),
       |e AS (SELECT e0.src, e0.dst, CAST(e0.wt AS BIGINT) AS wt,
       |    d.strength
       |  FROM e0 JOIN d ON e0.src = d.src),
       |n AS (SELECT COUNT(*) AS n FROM d),
       |base AS (SELECT ($TrScale * 3 // 20) // n AS b,
       |  $TrScale // n AS r FROM n),
       |r0 AS (SELECT d.src AS node, base.r AS rank FROM d CROSS JOIN base),
       |${(1 to TrIters).map(i => iter(i, s"r${i - 1}")).mkString(",\n")}
       |SELECT r.node AS word, CAST(d.degree AS BIGINT) AS degree,
       |  d.strength, r.rank
       |FROM r$TrIters r JOIN d ON r.node = d.src
       |ORDER BY r.rank DESC, word LIMIT $TrTopK""".stripMargin
  }

  private val FwPriorMass = 1000.0 // informative-Dirichlet total α₀
  private val FwTopK = 20

  /** "Fightin' Words" distinctive terms (Monroe, Colaresi & Quinn
    * 2008) — WHICH words distinguish the English corpus from the
    * rest, the corpus-comparison operator a data-mixing pipeline
    * runs to see what a domain actually contributes (beside
    * [[rakeKeywords]]/[[textrank]], which rank within ONE corpus).
    * Log-odds ratio with the informative Dirichlet prior drawn from
    * the combined corpus (α_w = α₀·c_w/C, α₀ = [[FwPriorMass]]):
    * δ_w = ln[(y+α)/(n+α₀−y−α)] − ln[(y'+α)/(n'+α₀−y'−α)], with
    * σ² ≈ 1/(y+α) + 1/(y'+α) and z = δ/σ — the prior is what stops
    * rare words from dominating, the paper's point. Counts are exact
    * integers; δ/σ/z are fixed double expressions; the two top-K
    * sides are picked by (z, word) orderings that both engines
    * evaluate on identical doubles.
    *
    * Scale shape: one token explode to the vocabulary grid with a
    * 1-row total broadcast, two TakeOrdered top-Ks — the ta_tfidf
    * regime.
    */
  def fightinWords(s: SparkSession, dir: String): DataFrame = {
    val toks = Tables.t(s, dir, "documents")
      .select((col("lang") === "en").as("is_a"),
        explode(split(lower(col("text")), " ")).as("w"))
    val vocab = toks.groupBy(col("w"))
      .agg(sum(when(col("is_a"), 1L).otherwise(0L)).as("ya"),
        sum(when(!col("is_a"), 1L).otherwise(0L)).as("yb"))
    val tot = vocab.agg(sum(col("ya")).as("na"), sum(col("yb")).as("nb"),
      sum(col("ya") + col("yb")).as("cc"))
    val alpha = lit(FwPriorMass) * (col("ya") + col("yb")).cast(DoubleType) /
      col("cc").cast(DoubleType)
    def lodds(y: Column, n: Column) = log(
      (y.cast(DoubleType) + alpha) /
        (n.cast(DoubleType) + lit(FwPriorMass) - y.cast(DoubleType) - alpha))
    val delta = lodds(col("ya"), col("na")) - lodds(col("yb"), col("nb"))
    val z = delta / sqrt(lit(1.0) / (col("ya").cast(DoubleType) + alpha) +
      lit(1.0) / (col("yb").cast(DoubleType) + alpha))
    val scored = vocab.crossJoin(broadcast(tot))
      .select(col("w").as("word"), col("ya").as("cnt_en"),
        col("yb").as("cnt_rest"),
        round(delta, 6).as("log_odds"), round(z, 6).as("z_score"))
    val sideA = scored
      .orderBy(col("z_score").desc, col("word")).limit(FwTopK)
      .withColumn("side", lit("en"))
    val sideB = scored
      .orderBy(col("z_score").asc, col("word")).limit(FwTopK)
      .withColumn("side", lit("rest"))
    // `side` completes the sort key: a word can sit in BOTH top-Ks
    // when z ties cluster (caught live at sf0.001), and its two rows
    // differ only in `side`
    sideA.unionByName(sideB)
      .orderBy(col("z_score").desc, col("word"), col("side"))
  }

  val fightinWordsOracle: String = {
    val alpha = s"$FwPriorMass * CAST(ya + yb AS DOUBLE) / CAST(cc AS DOUBLE)"
    def lodds(y: String, n: String) =
      s"ln((CAST($y AS DOUBLE) + $alpha) / (CAST($n AS DOUBLE) + $FwPriorMass - CAST($y AS DOUBLE) - ($alpha)))"
    val delta = s"${lodds("ya", "na")} - ${lodds("yb", "nb")}"
    val z = s"($delta) / sqrt(1.0 / (CAST(ya AS DOUBLE) + $alpha) + 1.0 / (CAST(yb AS DOUBLE) + $alpha))"
    s"""WITH toks AS (
       |  SELECT lang = 'en' AS is_a,
       |    unnest(string_split(lower(text), ' ')) AS w
       |  FROM documents),
       |vocab AS (
       |  SELECT w,
       |    CAST(SUM(CASE WHEN is_a THEN 1 ELSE 0 END) AS BIGINT) AS ya,
       |    CAST(SUM(CASE WHEN is_a THEN 0 ELSE 1 END) AS BIGINT) AS yb
       |  FROM toks GROUP BY w),
       |tot AS (
       |  SELECT CAST(SUM(ya) AS BIGINT) AS na,
       |    CAST(SUM(yb) AS BIGINT) AS nb,
       |    CAST(SUM(ya + yb) AS BIGINT) AS cc
       |  FROM vocab),
       |scored AS (
       |  SELECT w AS word, ya AS cnt_en, yb AS cnt_rest,
       |    round($delta, 6) + 0.0 AS log_odds,
       |    round($z, 6) + 0.0 AS z_score
       |  FROM vocab CROSS JOIN tot),
       |a AS (SELECT *, 'en' AS side FROM scored
       |  ORDER BY z_score DESC, word LIMIT $FwTopK),
       |b AS (SELECT *, 'rest' AS side FROM scored
       |  ORDER BY z_score ASC, word LIMIT $FwTopK)
       |SELECT * FROM (SELECT * FROM a UNION ALL SELECT * FROM b)
       |ORDER BY z_score DESC, word, side""".stripMargin
  }

  /** BURROWS' DELTA stylometric distance (Burrows 2002; Evert et al.
    * 2017 formalization) between every source pair — the standard
    * authorship/style-attribution measure, completing the
    * corpus-comparison suite beside `ta_fightin_words` (which words
    * differ) and `ta_js_divergence` (how far apart the distributions
    * are): Delta asks whose STYLE PROFILE over the most-frequent
    * words is closest, by z-scoring each source's relative frequency
    * of the top-K corpus words against the cross-source
    * mean/standard deviation and averaging |z_a − z_b|.
    *
    * Float policy: relative frequencies are single divisions of exact
    * counts; the cross-source mean, variance, and per-pair |Δz| each
    * ride a DECIMAL(38,12) Σ so no partition order enters a float
    * sum; K is re-derived per pair as the count of sd>0 words so the
    * divisor can never drift from the summand set.
    *
    * Scale shape: one tokenize → (source × word) hash aggregate; the
    * top-K word pick is a TakeOrdered (no global window); the z grid
    * is |sources|×K rows; the pair relation is the bounded
    * |sources|²/2 grid — at 100 TB only the first aggregate grows.
    */
  def burrowsDelta(s: SparkSession, dir: String): DataFrame = {
    val d12 = DecimalType(38, 12)
    val K = 50
    val cnt = Tables.t(s, dir, "documents")
      .select(col("source"), explode(split(col("text"), " ")).as("w"))
      .groupBy(col("source"), col("w")).agg(count(lit(1)).as("c"))
    val nSrc = cnt.groupBy(col("source")).agg(sum(col("c")).as("n"))
    val topW = cnt.groupBy(col("w")).agg(sum(col("c")).as("cw"))
      .orderBy(col("cw").desc, col("w")).limit(K).select(col("w"))
    val srcs = nSrc.select(col("source"))
    // complete (source × top-K word) grid, zero-filled — the
    // ta_js_divergence bounded grid-generation shape
    val grid = srcs.crossJoin(broadcast(topW))
      .join(cnt, Seq("source", "w"), "left")
      .join(broadcast(nSrc), "source")
      .select(col("source"), col("w"),
        (coalesce(col("c"), lit(0L)).cast(DoubleType) /
          col("n").cast(DoubleType)).as("r"))
    val stats = grid.groupBy(col("w"))
      .agg(count(lit(1)).as("ns"),
        (sum(col("r").cast(d12)).cast(DoubleType) /
          count(lit(1)).cast(DoubleType)).as("mean"))
    val withZ0 = grid.join(broadcast(stats), "w")
    val varW = withZ0.groupBy(col("w"), col("ns"), col("mean"))
      .agg((sum(((col("r") - col("mean")) * (col("r") - col("mean")))
        .cast(d12)).cast(DoubleType) /
        (count(lit(1)) - 1).cast(DoubleType)).as("variance"))
      .filter(col("variance") > 0.0)
      .select(col("w"), col("mean"), sqrt(col("variance")).as("sd"))
    val z = grid.join(broadcast(varW), "w")
      .select(col("source"), col("w"),
        ((col("r") - col("mean")) / col("sd")).as("z"))
    val za = z.select(col("source").as("src_a"), col("w"), col("z").as("za"))
    val zb = z.select(col("source").as("src_b"), col("w"), col("z").as("zb"))
    za.join(zb, za("w") === zb("w") && col("src_a") < col("src_b"))
      .groupBy(col("src_a"), col("src_b"))
      .agg(count(lit(1)).as("k_words"),
        (sum(abs(col("za") - col("zb")).cast(d12)).cast(DoubleType) /
          count(lit(1)).cast(DoubleType)).as("delta0"))
      .select(col("src_a"), col("src_b"), col("k_words"),
        round(col("delta0"), 6).as("delta"))
      .orderBy(col("src_a"), col("src_b"))
  }

  val burrowsDeltaOracle: String =
    """WITH tok AS (SELECT source, unnest(string_split(text, ' ')) AS w
      |  FROM documents),
      |cnt AS (SELECT source, w, COUNT(*) AS c FROM tok GROUP BY 1, 2),
      |nsrc AS (SELECT source, CAST(SUM(c) AS BIGINT) AS n FROM cnt GROUP BY 1),
      |topw AS (SELECT w FROM (SELECT w, SUM(c) AS cw FROM cnt GROUP BY 1)
      |  ORDER BY cw DESC, w LIMIT 50),
      |grid AS (
      |  SELECT s.source, t.w,
      |    CAST(COALESCE(c.c, 0) AS DOUBLE) / CAST(ns.n AS DOUBLE) AS r
      |  FROM (SELECT source FROM nsrc) s
      |  CROSS JOIN topw t
      |  LEFT JOIN cnt c ON c.source = s.source AND c.w = t.w
      |  JOIN nsrc ns ON ns.source = s.source),
      |stats AS (
      |  SELECT w, COUNT(*) AS ns,
      |    CAST(SUM(CAST(r AS DECIMAL(38,12))) AS DOUBLE)
      |      / CAST(COUNT(*) AS DOUBLE) AS mean
      |  FROM grid GROUP BY 1),
      |varw AS (
      |  SELECT w, mean, sqrt(variance) AS sd FROM (
      |    SELECT g.w, st.mean,
      |      CAST(SUM(CAST((g.r - st.mean) * (g.r - st.mean)
      |        AS DECIMAL(38,12))) AS DOUBLE)
      |        / CAST(COUNT(*) - 1 AS DOUBLE) AS variance
      |    FROM grid g JOIN stats st ON st.w = g.w
      |    GROUP BY g.w, st.mean)
      |  WHERE variance > 0.0),
      |z AS (
      |  SELECT g.source, g.w, (g.r - v.mean) / v.sd AS z
      |  FROM grid g JOIN varw v ON v.w = g.w)
      |SELECT a.source AS src_a, b.source AS src_b,
      |  CAST(COUNT(*) AS BIGINT) AS k_words,
      |  round(CAST(SUM(CAST(abs(a.z - b.z) AS DECIMAL(38,12))) AS DOUBLE)
      |    / CAST(COUNT(*) AS DOUBLE), 6) AS delta
      |FROM z a JOIN z b ON a.w = b.w AND a.source < b.source
      |GROUP BY a.source, b.source
      |ORDER BY src_a, src_b""".stripMargin

  val defs: Seq[QueryDef] = Seq(
    QueryDef("ta_burrows_delta", burrowsDelta, Some(burrowsDeltaOracle)),
    QueryDef("ta_readability", readability, Some(readabilityOracle)),
    QueryDef("ta_rake_keywords", rakeKeywords, Some(rakeKeywordsOracle)),
    QueryDef("ta_ttr_diversity", ttrDiversity, Some(ttrDiversityOracle)),
    QueryDef("ta_cli_ari", cliAri, Some(cliAriOracle)),
    QueryDef("ta_textrank", textrank, Some(textrankOracle)),
    QueryDef("ta_fightin_words", fightinWords, Some(fightinWordsOracle)),
  )
}
