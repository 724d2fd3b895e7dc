package graft.queries

import graft.{QueryDef, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType

/** Full-text retrieval over the documents corpus: BM25 — the ranking
  * function every search-backed data pipeline (RAG corpus selection,
  * contamination lookup, quality-by-query probes) reaches for before
  * anything neural. Pure relational formulation: the "inverted index"
  * IS the (term → doc, tf) relation, so at 100 TB the postings build is
  * one explode + hash aggregate and each query's scoring touches only
  * its own postings via the broadcast query join — the corpus is never
  * scanned per query.
  */
object Retrieval {

  private val K1 = 1.2
  private val B = 0.75
  private val TopK = 10
  private val NQueries = 5

  /** BM25 top-k per query term. The query set derives deterministically
    * from the corpus (top-[[NQueries]] document-frequency terms of
    * length ≥ 5, ties by term) so the gate needs no side input; in
    * production the 5-row query relation arrives from the user instead
    * — same plan. Selection compiles to TakeOrderedAndProject (sort +
    * limit), not a global window.
    *
    * Scale shape: postings (tf) and doc lengths are each ONE scan of
    * the corpus; the scored relation is |postings of the 5 query
    * terms| after a broadcast semi-join on term — never corpus-sized;
    * top-k per query is a 5-partition WindowGroupLimit. The two corpus
    * scalars (N, average doc length) ride a broadcast 1-row aggregate
    * folded into the plan — the whole query is one lazy dataflow.
    */
  def bm25TopK(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.t(s, dir, "documents")
    val withDl = docs.select(col("doc_id"), split(col("text"), " ").as("toks"))
      .select(col("doc_id"), col("toks"), size(col("toks")).cast("long").as("dl"))
    // corpus size + average doc length folded in as a broadcast 1-row
    // aggregate (VERDICT r13 #5) — mirrors the oracle's `stats` CTE
    val tot = withDl.agg(
      count(lit(1)).cast(DoubleType).as("n_docs"),
      (sum(col("dl")).cast(DoubleType) / count(lit(1))).as("avgdl"))
    val tf = withDl
      .select(col("doc_id"), explode(col("toks")).as("term"))
      .groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
    val dfRel = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val queries = dfRel.filter(length(col("term")) >= 5)
      .orderBy(col("df").desc, col("term")).limit(NQueries)
    val dl = withDl.select(col("doc_id"), col("dl"))
    val idf = log(
      (col("n_docs") - col("df") + lit(0.5)) / (col("df") + lit(0.5)) + lit(1.0))
    val norm = lit(1.0) - lit(B) + lit(B) * col("dl") / col("avgdl")
    val score = idf * (col("tf") * lit(K1 + 1.0)) / (col("tf") + lit(K1) * norm)
    val w = Window.partitionBy(col("qterm"))
      .orderBy(round(score, 9).desc, col("doc_id"))
    tf.join(broadcast(queries.withColumnRenamed("term", "qterm")),
        col("term") === col("qterm"))
      .join(dl, "doc_id")
      .crossJoin(broadcast(tot))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= TopK)
      .select(col("qterm"), col("rank"), col("doc_id"), round(score, 6).as("bm25"))
      .orderBy(col("qterm"), col("rank"))
  }

  val bm25TopKOracle: String =
    s"""WITH withdl AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
       |tok AS (SELECT doc_id, unnest(toks) AS term FROM withdl),
       |tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM tok GROUP BY 1, 2),
       |dfr AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
       |dl AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl FROM withdl),
       |stats AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n,
       |    CAST(SUM(len(toks)) AS DOUBLE) / COUNT(*) AS avgdl FROM withdl),
       |q AS (SELECT term AS qterm, df FROM dfr WHERE length(term) >= 5
       |  ORDER BY df DESC, term LIMIT $NQueries),
       |scored AS (
       |  SELECT q.qterm, tf.doc_id,
       |    ln((s.n - q.df + 0.5) / (q.df + 0.5) + 1.0)
       |      * (tf.tf * ${K1 + 1.0}) / (tf.tf + $K1 * (1.0 - $B + $B * dl.dl / s.avgdl))
       |      AS score
       |  FROM tf JOIN q ON tf.term = q.qterm
       |  JOIN dl ON tf.doc_id = dl.doc_id CROSS JOIN stats s),
       |ranked AS (SELECT qterm, doc_id, score,
       |    ROW_NUMBER() OVER (PARTITION BY qterm
       |      ORDER BY round(score, 9) DESC, doc_id) AS rank
       |  FROM scored)
       |SELECT qterm, rank, doc_id, round(score, 6) AS bm25
       |FROM ranked WHERE rank <= $TopK ORDER BY qterm, rank""".stripMargin

  private val RrfK = 60

  /** Hybrid lexical+semantic retrieval via reciprocal rank fusion
    * (Cormack, Clarke & Buettcher, SIGIR 2009 — the fusion rule every
    * production hybrid-search stack ships because it needs NO score
    * calibration between systems): the lexical list is [[bm25TopK]];
    * the semantic list is cosine top-k to each query's EXEMPLAR — its
    * #1 BM25 hit's embedding (pseudo-relevance feedback: "more like
    * the best match"; the corpus has no text→vector encoder, and this
    * is the standard more-like-this device). Fused score
    * = Σ 1/([[RrfK]]+rank) over the lists that contain the doc —
    * rank-only, so the BM25 and cosine scales never meet.
    *
    * Determinism: each RRF term is 1.0/(60+integer rank) — two exact
    * small-int divisions summed in written order; ranking over
    * round(,9) with doc-id tie-breaks (the [[LlmVectors.topkExact]]
    * device) on both the input lists and the fused list.
    *
    * Scale shape: BM25's plan (postings + broadcast query join), one
    * 5-row exemplar⋈embeddings broadcast, one corpus×5 cosine scan
    * with a WindowGroupLimit top-k, and a list-sized (≤ 2·5·k rows)
    * full outer join for the fusion. Nothing new is corpus-sized.
    */
  def hybridRrf(s: SparkSession, dir: String): DataFrame = {
    // The lex list feeds BOTH the exemplar derivation and the final
    // fusion join; pinning it (≤ NQueries·TopK rows) stops the full
    // BM25 postings plan from executing twice per run.
    val lex = graft.plans.Checkpoint.pin(bm25TopK(s, dir)
      .select(col("qterm"), col("rank").as("lex_rank"), col("doc_id")))
    val emb = LlmVectors.embRelation(s, dir)
    val exemplar = lex.filter(col("lex_rank") === 1)
      .join(emb.select(col("vec_id"), col("emb").as("q_emb"),
        col("nrm").as("q_nrm")), col("doc_id") === col("vec_id"))
      .select(col("qterm").as("sq"), col("q_emb"), col("q_nrm"))
    val cos = LlmVectors.dot(col("emb"), col("q_emb")) / (col("nrm") * col("q_nrm"))
    val wSem = Window.partitionBy(col("sq"))
      .orderBy(round(col("cos"), 9).desc, col("vec_id"))
    val sem = emb.crossJoin(broadcast(exemplar))
      .withColumn("cos", cos)
      .withColumn("sem_rank", row_number().over(wSem))
      .filter(col("sem_rank") <= TopK)
      .select(col("sq").as("qterm"), col("sem_rank"),
        col("vec_id").as("doc_id"))
    val fusedScore =
      coalesce(lit(1.0) / (lit(RrfK) + col("lex_rank")).cast("double"), lit(0.0)) +
        coalesce(lit(1.0) / (lit(RrfK) + col("sem_rank")).cast("double"), lit(0.0))
    val wFused = Window.partitionBy(col("qterm"))
      .orderBy(round(col("rrf0"), 9).desc, col("doc_id"))
    lex.join(sem, Seq("qterm", "doc_id"), "full_outer")
      .withColumn("rrf0", fusedScore)
      .withColumn("rank", row_number().over(wFused))
      .filter(col("rank") <= TopK)
      .select(col("qterm"), col("rank"), col("doc_id"),
        col("lex_rank"), col("sem_rank"), round(col("rrf0"), 6).as("rrf"))
      .orderBy(col("qterm"), col("rank"))
  }

  val hybridRrfOracle: String =
    s"""WITH withdl AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
       |tok AS (SELECT doc_id, unnest(toks) AS term FROM withdl),
       |tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM tok GROUP BY 1, 2),
       |dfr AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
       |dl AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl FROM withdl),
       |stats AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n,
       |    CAST(SUM(len(toks)) AS DOUBLE) / COUNT(*) AS avgdl FROM withdl),
       |q AS (SELECT term AS qterm, df FROM dfr WHERE length(term) >= 5
       |  ORDER BY df DESC, term LIMIT $NQueries),
       |scored AS (
       |  SELECT q.qterm, tf.doc_id,
       |    ln((s.n - q.df + 0.5) / (q.df + 0.5) + 1.0)
       |      * (tf.tf * ${K1 + 1.0}) / (tf.tf + $K1 * (1.0 - $B + $B * dl.dl / s.avgdl))
       |      AS score
       |  FROM tf JOIN q ON tf.term = q.qterm
       |  JOIN dl ON tf.doc_id = dl.doc_id CROSS JOIN stats s),
       |lex AS (SELECT qterm, doc_id, lex_rank FROM (
       |  SELECT qterm, doc_id,
       |    ROW_NUMBER() OVER (PARTITION BY qterm
       |      ORDER BY round(score, 9) DESC, doc_id) AS lex_rank
       |  FROM scored) WHERE lex_rank <= $TopK),
       |v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
       |ex AS (SELECT l.qterm AS sq, v.emb AS q_emb
       |  FROM lex l JOIN v ON l.doc_id = v.vec_id WHERE l.lex_rank = 1),
       |sem AS (SELECT sq AS qterm, doc_id, sem_rank FROM (
       |  SELECT ex.sq, v.vec_id AS doc_id,
       |    ROW_NUMBER() OVER (PARTITION BY ex.sq
       |      ORDER BY round(list_cosine_similarity(v.emb, ex.q_emb), 9) DESC,
       |        v.vec_id) AS sem_rank
       |  FROM v CROSS JOIN ex) WHERE sem_rank <= $TopK),
       |fused AS (
       |  SELECT COALESCE(lex.qterm, sem.qterm) AS qterm,
       |    COALESCE(lex.doc_id, sem.doc_id) AS doc_id,
       |    lex.lex_rank, sem.sem_rank,
       |    COALESCE(1.0 / CAST($RrfK + lex.lex_rank AS DOUBLE), 0.0)
       |      + COALESCE(1.0 / CAST($RrfK + sem.sem_rank AS DOUBLE), 0.0) AS rrf0
       |  FROM lex FULL OUTER JOIN sem
       |    ON lex.qterm = sem.qterm AND lex.doc_id = sem.doc_id)
       |SELECT qterm, rank, doc_id, lex_rank, sem_rank,
       |  round(rrf0, 6) AS rrf
       |FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY qterm
       |    ORDER BY round(rrf0, 9) DESC, doc_id) AS rank
       |  FROM fused)
       |WHERE rank <= $TopK ORDER BY qterm, rank""".stripMargin

  val defs: Seq[QueryDef] = Seq(
    QueryDef("ta_bm25_topk", bm25TopK, Some(bm25TopKOracle)),
    QueryDef("ta_hybrid_rrf", hybridRrf, Some(hybridRrfOracle)),
  )
}
