package graft.queries

import graft.{QueryDef, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Similarity search over the `embeddings` table (64-dim float vectors):
  * brute-force cosine top-k as the exactness baseline, sign-LSH banded
  * candidate generation as the scale path, and embedding-cosine near-dup
  * pairs — the ANN toolkit of a training-data pipeline.
  *
  * Scale design:
  *  - the brute-force path broadcasts the (small) QUERY side and streams
  *    the corpus once: a BroadcastNestedLoopJoin whose cost is
  *    |corpus| × |queries| dot products with zero shuffle of the corpus.
  *    Correct shape when queries are few; never viable corpus × corpus.
  *  - the LSH path quantizes each vector into 4 independent sign-bands
  *    (4 hyperplane signs each). Candidates form only inside a matching
  *    (band, key) bucket — corpus × corpus becomes Σ_bucket n_b², and the
  *    per-band join key is shuffle-friendly. Verification (true cosine)
  *    runs on candidates only. Banding multiplies rows by 4 (a constant),
  *    never by n.
  *  - all dot products are `zip_with`/`aggregate` column expressions over
  *    double arrays — no UDF, no driver-side math.
  */
object LlmVectors {

  private val K = 5
  private val NQueries = 8
  private val Bands = 4
  private val BitsPerBand = 4
  private val NearDupCos = 0.4

  private def emb(s: SparkSession, dir: String): DataFrame = {
    graft.functions.VectorFunctions.register(s) // idempotent
    Tables.t(s, dir, "embeddings")
      .select(col("vec_id"), col("embedding").cast(ArrayType(DoubleType)).as("emb"))
      .withColumn("nrm", sqrt(dot(col("emb"), col("emb"))))
  }

  /** Dot product via the custom codegen'd [[graft.functions.VecDot]]
    * expression — a primitive loop inside whole-stage codegen. The
    * `element_at`-unrolled and HOF forms both fall out of codegen
    * (method limits / CodegenFallback) and cost ~10x on the
    * candidate-verification hot path.
    */
  private[graft] def dot(a: Column, b: Column): Column =
    graft.functions.VectorFunctions.vecDot(a, b)

  /** Brute-force cosine top-k: tiny query side broadcast against one
    * corpus scan; rank by (cosine desc, vec_id) for determinism.
    */
  def topkExact(s: SparkSession, dir: String): DataFrame = {
    val base = emb(s, dir)
    val queries = base.filter(col("vec_id") < NQueries)
      .select(col("vec_id").as("q_id"), col("emb").as("q_emb"), col("nrm").as("q_nrm"))
    val cos = dot(col("emb"), col("q_emb")) / (col("nrm") * col("q_nrm"))
    // rank on a ROUNDED cosine so near-ties resolve identically across
    // engines (cross-engine summation-order ulps could otherwise flip
    // ranks before the displayed round(,6) absorbs them); vec_id breaks
    // the remaining exact ties deterministically
    val w = Window.partitionBy(col("q_id"))
      .orderBy(round(col("cos"), 9).desc, col("vec_id"))
    base.join(broadcast(queries), col("vec_id") =!= col("q_id"))
      .withColumn("cos", cos)
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= K)
      .select(col("q_id"), col("rank"), col("vec_id"), round(col("cos"), 6).as("cosine"))
      .orderBy(col("q_id"), col("rank"))
  }

  // Oracle casts to DOUBLE[] so both engines sum at double precision;
  // round(,6) absorbs summation-order ulps.
  val topkExactOracle: String =
    s"""WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
       |q AS (SELECT vec_id AS q_id, emb AS q_emb FROM v WHERE vec_id < $NQueries),
       |scored AS (
       |  SELECT q.q_id, v.vec_id,
       |    list_cosine_similarity(v.emb, q.q_emb) AS cos,
       |    ROW_NUMBER() OVER (PARTITION BY q.q_id
       |      ORDER BY round(list_cosine_similarity(v.emb, q.q_emb), 9) DESC, v.vec_id) AS rank
       |  FROM v JOIN q ON v.vec_id <> q.q_id)
       |SELECT q_id, rank, vec_id, round(cos, 6) AS cosine
       |FROM scored WHERE rank <= $K ORDER BY q_id, rank""".stripMargin

  /** Sign-LSH band keys: band b packs the signs of dims [4b, 4b+4) into
    * a 4-bit key. Deterministic quantization — coordinate hyperplanes —
    * so tests and both engines agree; swap in seeded random hyperplanes
    * by replacing `element_at` with a stored plane matrix.
    */
  private def bandKeys(e: Column): Column = {
    val keys = (0 until Bands).map { b =>
      val key = (0 until BitsPerBand).map { j =>
        when(element_at(e, b * BitsPerBand + j + 1) > 0, lit(1 << j)).otherwise(lit(0))
      }.reduce(_ + _)
      struct(lit(b).as("band"), key.as("key"))
    }
    array(keys: _*)
  }

  /** ANN top-k via sign-LSH banding: candidates from bucket collisions
    * across 4 bands, true-cosine rank on candidates only. Approximate by
    * construction (recall measured in the spec against [[topkExact]]) —
    * the corpus is never cross-joined.
    */
  def annTopk(s: SparkSession, dir: String): DataFrame = {
    val base = emb(s, dir).withColumn("bk", explode(bandKeys(col("emb"))))
      .select(col("vec_id"), col("emb"), col("nrm"),
        col("bk.band").as("band"), col("bk.key").as("key"))
    val queries = base.filter(col("vec_id") < NQueries)
      .select(col("vec_id").as("q_id"), col("emb").as("q_emb"), col("nrm").as("q_nrm"),
        col("band"), col("key"))
    // cosine computed BEFORE the dedup so the (q_id, vec_id) distinct
    // shuffles ids + a double, not 64-dim arrays (the duplicate band hits
    // recompute a cheap codegen'd expression instead of widening rows)
    val cos = dot(col("emb"), col("q_emb")) / (col("nrm") * col("q_nrm"))
    // rounded-cosine rank: see topkExact
    val w = Window.partitionBy(col("q_id"))
      .orderBy(round(col("cos"), 9).desc, col("vec_id"))
    base.join(broadcast(queries), Seq("band", "key"), "inner")
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"), cos.as("cos"))
      .dropDuplicates("q_id", "vec_id")
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= K)
      .select(col("q_id"), col("rank"), col("vec_id"), round(col("cos"), 6).as("cosine"))
      .orderBy(col("q_id"), col("rank"))
  }

  /** Embedding-cosine near-dup pairs: sign-LSH bucket self-join (pairs
    * only within a (band, key) bucket), exact-cosine verification at
    * threshold 0.4 (the testdata's top pair density). Approximate recall
    * by construction; candidate volume is Σ_bucket n_b², sub-quadratic.
    */
  private val NearDupProbes = 2

  /** Assign every corpus vector to its `probes` nearest centroids from
    * `cRel` (cell, cemb, cnrm) — ids-only output: the similarity is
    * computed map-side against the broadcast centroid table and the
    * vector is dropped BEFORE the rank shuffle, so the window moves
    * only (vec_id, cell, sim) rows. Rank on the rounded similarity
    * with cell as tie-break (engine-reproducible, see [[ivfTopk]]);
    * the rank<=k filter compiles to WindowGroupLimit.
    */
  private def assignCells(base: DataFrame, cRel: DataFrame, probes: Int): DataFrame =
    assignCellsRanked(base, cRel, probes).select(col("vec_id"), col("cell"))

  /** [[assignCells]] with the rounded similarity and rank KEPT in the
    * output (r19): a caller that needs both the blocking assignment
    * (rn ≤ probes) and the primary-cell similarity (rn = 1 — the
    * SemDeDup keep metric) reads ONE ranked relation instead of
    * scanning the corpus against the broadcast centroid table twice.
    * The similarity column is the same round(·, 9) value every
    * assignment rank already ordered on.
    */
  private def assignCellsRanked(base: DataFrame, cRel: DataFrame, probes: Int): DataFrame = {
    val sim = round(dot(col("emb"), col("cemb")) / (col("nrm") * col("cnrm")), 9)
    val w = Window.partitionBy(col("q_vec")).orderBy(col("sim").desc, col("cell"))
    base.select(col("vec_id").as("q_vec"), col("emb"), col("nrm"))
      .crossJoin(broadcast(cRel))
      .select(col("q_vec"), col("cell"), sim.as("sim"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= probes)
      .select(col("q_vec").as("vec_id"), col("cell"), col("sim"), col("rn"))
  }

  /** One decimal-exact Lloyd refinement step (shared by
    * [[embedCandidates]] and [[ivfTopk]] — FAISS-style quantizer
    * training on a deterministic subsample): assign `sample` to its
    * nearest seed, recompute per-dimension means distributedly
    * (posexplode → groupBy(cell, dim)), rebuild the centroid arrays in
    * dim order. DECIMAL(38,12) sums make the distributed aggregation
    * summation-order-independent; the single double division at the end
    * is deterministic — which is what lets DuckDB re-derive identical
    * centroids for the gate.
    */
  private def lloydCentroids(sample: DataFrame, seeds: DataFrame): DataFrame =
    assignCells(sample, seeds, 1)
      .join(sample, "vec_id")
      .select(col("cell"), posexplode(col("emb")).as(Seq("dim", "x")))
      .groupBy(col("cell"), col("dim"))
      .agg((sum(col("x").cast(DecimalType(38, 12))).cast(DoubleType) /
        count(lit(1))).as("m"))
      .groupBy(col("cell"))
      .agg(transform(array_sort(collect_list(struct(col("dim"), col("m")))),
        e => e.getField("m")).as("cemb"))
      .withColumn("cnrm", sqrt(dot(col("cemb"), col("cemb"))))

  /** IVF-blocked candidate pairs — SemDeDup's architecture (Abbas et
    * al. 2023, arXiv:2303.09540): cluster the corpus into K ≈ √n cells
    * (deterministic seeds + one decimal-exact Lloyd step, as in
    * [[ivfTopk]]), soft-assign each vector to its 2 nearest cells, and
    * form pairs only INSIDE a shared cell. Replaces the 4-bit sign-band
    * blocking whose 16-bucket-per-band key space went quadratic on a
    * 10× corpus (ScaleBench: 100× pair growth, 48× wall time); cell
    * count grows with the corpus, so per-cell population — and with it
    * candidate volume — stays ~√n per cell, n^1.5 total, against the
    * sign bands' n².
    *
    * The centroid table is the INDEX: K×dim ≈ √n×64 doubles (16 MB at
    * n = 10⁹), held broadcast like FAISS holds it in RAM — the one
    * deliberate broadcast in this family (whitelisted in PlanAuditSpec
    * with this justification).
    */
  /** The √n-cell centroid relation behind the SemDeDup family —
    * shared by candidate blocking ([[embedCandidates]]) and the
    * keep-rule's centroid-similarity metric ([[semdedupKeep]]).
    */
  private[graft] def nearDupCentroids(s: SparkSession, dir: String): DataFrame = {
    val base = emb(s, dir)
    // k = max(16, floor(sqrt(n))) folded in as a broadcast 1-row
    // aggregate (the pageRank/salsa device) — the seed
    // filter reads k as a column instead of a driver .count() literal
    val kRel = base.agg(greatest(lit(16L),
      floor(sqrt(count(lit(1)).cast("double"))).cast("long")).as("k"))
    val seeds = base.crossJoin(broadcast(kRel))
      .filter(col("vec_id") < col("k"))
      .select(col("vec_id").as("cell"), col("emb").as("cemb"), col("nrm").as("cnrm"))
    lloydCentroids(base.filter(col("vec_id") % TrainMod === 0), seeds)
  }

  private[graft] def embedCandidates(s: SparkSession, dir: String): DataFrame = {
    val base = emb(s, dir)
    val cent = nearDupCentroids(s, dir)
    val assigned = assignCells(base, cent, NearDupProbes)
    assigned.as("x")
      .join(assigned.as("y"),
        col("x.cell") === col("y.cell") && col("x.vec_id") < col("y.vec_id"))
      .select(col("x.vec_id").as("vec_a"), col("y.vec_id").as("vec_b"))
      .distinct()
  }

  def embedNearDup(s: SparkSession, dir: String): DataFrame = {
    val base = emb(s, dir)
    val cand = embedCandidates(s, dir)
    val cos = dot(col("ea"), col("eb")) / (col("na") * col("nb"))
    cand
      .join(base.select(col("vec_id").as("vec_a"), col("emb").as("ea"), col("nrm").as("na")), "vec_a")
      .join(base.select(col("vec_id").as("vec_b"), col("emb").as("eb"), col("nrm").as("nb")), "vec_b")
      .select(col("vec_a"), col("vec_b"), cos.as("cos"))
      // threshold on the ROUNDED cosine: a pair sitting an engine-ulp
      // either side of 0.4 must be included/excluded identically
      .filter(round(col("cos"), 9) >= NearDupCos)
      .select(col("vec_a"), col("vec_b"), round(col("cos"), 6).as("cosine"))
      .orderBy(col("vec_a"), col("vec_b"))
  }

  private val IvfClusters = 16
  private val IvfProbes = 4
  // Lloyd-step training sample: every TrainMod-th vector by id — a
  // deterministic, SQL-expressible subsample (vec_id % TrainMod = 0)
  private val TrainMod = 4

  /** IVF (inverted-file) ANN — the FAISS-style scale architecture:
    * partition the corpus by nearest centroid once at index time, probe
    * only the query's nProbe nearest cells at search time.
    *
    * Centroids: deterministic seeds (first K vectors, labeled by their
    * own vec_id — a monotone relabel of the oracle's dense
    * ROW_NUMBER-1 cells, so every tie-break compares identically and
    * labels never reach the output) refined by one Lloyd iteration on a
    * deterministic 1/4 subsample (`vec_id % TrainMod = 0` — FAISS
    * trains its quantizer on a corpus subsample; the modulus predicate
    * stays exactly reproducible in SQL). The whole index is one
    * declarative DAG: corpus and queries are assigned against the
    * BROADCAST centroid relation ([[assignCells]] — sims map-side,
    * ids-only through the argmax shuffle, payload re-joined), nothing
    * is ever collected to the driver. This replaced r3's
    * literal-expression argmax (16 centroid vectors unrolled into every
    * projection twice, plus two index-build collects): the relation
    * form shares the centroid computation between the corpus and query
    * assignment passes via exchange reuse and keeps codegen narrow.
    *
    * Every step is ENGINE-REPRODUCIBLE, which is what makes the DuckDB
    * oracle possible (this was r2's one ungated query):
    *  - Lloyd means aggregate per-dimension sums as DECIMAL(38,12) —
    *    exact, summation-order-independent — and divide by the count
    *    once, in double, at the end ([[lloydCentroids]]);
    *  - every argmax / top-n over cosines ranks on round(sim, 9) with
    *    the cell id (or vec_id) as tie-break, so ulp-level differences
    *    in double accumulation can never flip an assignment.
    *
    * Scale shape: index build is one subsample pass (Lloyd) plus one
    * corpus pass (assign); search touches nProbe/K of the corpus per
    * query. Candidates verified by true cosine, ranked
    * deterministically.
    */
  def ivfTopk(s: SparkSession, dir: String): DataFrame = {
    val base = emb(s, dir)
    val seeds = base.filter(col("vec_id") < IvfClusters)
      .select(col("vec_id").as("cell"), col("emb").as("cemb"), col("nrm").as("cnrm"))
    val centroids = lloydCentroids(base.filter(col("vec_id") % TrainMod === 0), seeds)
    val indexed = base.join(assignCells(base, centroids, 1), "vec_id")
    // probe list: the nProbe nearest cells per query — assignCells
    // ranks by (rounded sim desc, cell), so ties break on the LOWER
    // cell id, same as the assignment argmax and the oracle
    val queries = base.filter(col("vec_id") < NQueries)
    val probed = queries
      .join(assignCells(queries, centroids, IvfProbes), "vec_id")
      .select(col("vec_id").as("q_id"), col("emb").as("q_emb"),
        col("nrm").as("q_nrm"), col("cell"))

    val cos = dot(col("emb"), col("q_emb")) / (col("nrm") * col("q_nrm"))
    // rounded-cosine rank: see topkExact
    val w = Window.partitionBy(col("q_id"))
      .orderBy(round(col("cos"), 9).desc, col("vec_id"))
    indexed.join(broadcast(probed), Seq("cell"))
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"), cos.as("cos"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= K)
      .select(col("q_id"), col("rank"), col("vec_id"), round(col("cos"), 6).as("cosine"))
      .orderBy(col("q_id"), col("rank"))
  }

  /** DuckDB re-derivation of the full IVF pipeline — same seeds, same
    * decimal-exact Lloyd step, same rounded-cosine tie-broken argmax at
    * every stage. Cell labels differ from Spark's (original seed ids vs
    * dense re-index) but labeling is a monotone relabel that never
    * reaches the output. The lockstep `unnest(range(...)), unnest(emb)`
    * is DuckDB's posexplode.
    */
  val ivfTopkOracle: String =
    s"""WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
       |seeds AS (SELECT ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS cell, emb AS cemb
       |  FROM v WHERE vec_id < $IvfClusters),
       |a0 AS (
       |  SELECT vec_id, emb, cell FROM (
       |    SELECT v.vec_id, v.emb, s.cell,
       |      ROW_NUMBER() OVER (PARTITION BY v.vec_id
       |        ORDER BY round(list_cosine_similarity(v.emb, s.cemb), 9) DESC, s.cell) AS rn
       |    FROM v CROSS JOIN seeds s WHERE v.vec_id % $TrainMod = 0) WHERE rn = 1),
       |dims AS (SELECT cell, unnest(range(1, len(emb) + 1)) AS dim, unnest(emb) AS x FROM a0),
       |cent AS (
       |  SELECT cell, list(m ORDER BY dim) AS cemb FROM (
       |    SELECT cell, dim,
       |      CAST(SUM(CAST(x AS DECIMAL(38,12))) AS DOUBLE) / COUNT(*) AS m
       |    FROM dims GROUP BY cell, dim) GROUP BY cell),
       |assigned AS (
       |  SELECT vec_id, emb, cell FROM (
       |    SELECT v.vec_id, v.emb, c.cell,
       |      ROW_NUMBER() OVER (PARTITION BY v.vec_id
       |        ORDER BY round(list_cosine_similarity(v.emb, c.cemb), 9) DESC, c.cell) AS rn
       |    FROM v CROSS JOIN cent c) WHERE rn = 1),
       |q AS (SELECT vec_id AS q_id, emb AS q_emb FROM v WHERE vec_id < $NQueries),
       |probes AS (
       |  SELECT q_id, q_emb, cell FROM (
       |    SELECT q.q_id, q.q_emb, c.cell,
       |      ROW_NUMBER() OVER (PARTITION BY q.q_id
       |        ORDER BY round(list_cosine_similarity(q.q_emb, c.cemb), 9) DESC, c.cell) AS rn
       |    FROM q CROSS JOIN cent c) WHERE rn <= $IvfProbes),
       |scored AS (
       |  SELECT p.q_id, x.vec_id,
       |    list_cosine_similarity(x.emb, p.q_emb) AS cos,
       |    ROW_NUMBER() OVER (PARTITION BY p.q_id
       |      ORDER BY round(list_cosine_similarity(x.emb, p.q_emb), 9) DESC, x.vec_id) AS rank
       |  FROM assigned x JOIN probes p ON x.cell = p.cell AND x.vec_id <> p.q_id)
       |SELECT q_id, rank, vec_id, round(cos, 6) AS cosine
       |FROM scored WHERE rank <= $K ORDER BY q_id, rank""".stripMargin

  /** Delta slice of the corpus for the incremental-ingest gate: every
    * 10th vector — the same 10%-delta discipline the dedup family's
    * `ngramIncrementalPairs` uses (`doc_id % 10 = 0`).
    */
  private def isDeltaVec(c: Column): Column = pmod(c, lit(10)) === 0

  /** Frozen-codebook centroids for [[ivfDeltaTopk]]: seeded and
    * Lloyd-trained on the EXISTING corpus only (delta excluded), so the
    * index structure is a pure function of what was already ingested —
    * the artifact a production pipeline persists between increments.
    * Seeds are the first [[IvfClusters]] existing vectors by id (cell
    * label = vec_id, a monotone relabel of the oracle's dense
    * ROW_NUMBER-1 cells, as in [[ivfTopk]]).
    */
  private[graft] def ivfFrozenCentroids(base: DataFrame): DataFrame = {
    val existing = base.filter(!isDeltaVec(col("vec_id")))
    val seeds = existing.orderBy(col("vec_id")).limit(IvfClusters)
      .select(col("vec_id").as("cell"), col("emb").as("cemb"), col("nrm").as("cnrm"))
    lloydCentroids(existing.filter(col("vec_id") % TrainMod === 0), seeds)
  }

  /** The INGEST pass of the incremental index: assign ONLY the delta
    * against the frozen centroids — delta-sized input, one broadcast
    * assignment, no Lloyd step, no corpus scan. This is the relation a
    * daily job appends to the stored codes; ScaleBench times it against
    * the full rebuild ([[ivfTopk]]'s train+assign) to pin the claim
    * that maintenance cost follows the DELTA (VERDICT r9 #4).
    */
  private[graft] def ivfDeltaCodes(s: SparkSession, dir: String): DataFrame = {
    val base = emb(s, dir)
    ivfDeltaCodesFrom(base, ivfFrozenCentroids(base))
  }

  /** Delta assignment against an ALREADY-MATERIALIZED centroid
    * relation — the shape ScaleBench times: production stores the
    * trained centroids between increments, so the measured ingest cost
    * must exclude (re)training, exactly as FAISS `add()` does.
    */
  private[graft] def ivfDeltaCodesFrom(base: DataFrame, centroids: DataFrame): DataFrame =
    assignCells(base.filter(isDeltaVec(col("vec_id"))), centroids, 1)

  /** The full-rebuild comparison arm: train centroids from scratch and
    * re-code the ENTIRE corpus — what a pipeline without incremental
    * maintenance pays per ingest.
    */
  private[graft] def ivfFullCodes(s: SparkSession, dir: String): DataFrame = {
    val base = emb(s, dir)
    val seeds = base.filter(col("vec_id") < IvfClusters)
      .select(col("vec_id").as("cell"), col("emb").as("cemb"), col("nrm").as("cnrm"))
    assignCells(base, lloydCentroids(base.filter(col("vec_id") % TrainMod === 0), seeds), 1)
  }

  private[graft] def embRelation(s: SparkSession, dir: String): DataFrame = emb(s, dir)

  /** INCREMENTAL IVF ANN top-k (VERDICT r9 #4 — the daily-ingest story
    * for similarity, mirroring the dedup family's incremental shape):
    * centroids are trained on the EXISTING corpus and FROZEN; the delta
    * (10% of vectors) is assigned to those centroids in a delta-sized
    * append pass (never re-training, never re-coding the corpus);
    * search probes the frozen cells over existing ∪ delta codes. The
    * union of the two assignment passes is value-identical to assigning
    * the whole corpus against the frozen centroids (assignment is
    * per-row), which is what lets the DuckDB oracle replay the pipeline
    * as one pass — while the Spark plan keeps the operational
    * append shape.
    *
    * FAISS's documented add-after-train contract: `add()` encodes new
    * vectors against the trained quantizer without touching existing
    * codes; periodic re-train only when the distribution drifts. Search
    * quality vs the re-trained index is gated in LlmOpsSpec (recall
    * parity) — on this corpus the frozen-centroid index returns
    * near-identical top-k.
    *
    * Scale shape: ingest cost is |delta| × K broadcast dot products +
    * one delta-sized WindowGroupLimit — at 100 TB with a 1% daily
    * delta, 1% of the rebuild's assignment work and NONE of its
    * training scan. Search is unchanged from [[ivfTopk]]: nProbe/K of
    * the corpus per query.
    */
  def ivfDeltaTopk(s: SparkSession, dir: String): DataFrame = {
    val base = emb(s, dir)
    val centroids = ivfFrozenCentroids(base)
    // operational append: existing codes (index-time) ∪ delta codes
    // (ingest-time), both against the SAME frozen centroid relation
    val codes = assignCells(base.filter(!isDeltaVec(col("vec_id"))), centroids, 1)
      .unionByName(assignCells(base.filter(isDeltaVec(col("vec_id"))), centroids, 1))
    val indexed = base.join(codes, "vec_id")
    val queries = base.filter(col("vec_id") < NQueries)
    val probed = queries
      .join(assignCells(queries, centroids, IvfProbes), "vec_id")
      .select(col("vec_id").as("q_id"), col("emb").as("q_emb"),
        col("nrm").as("q_nrm"), col("cell"))
    val cos = dot(col("emb"), col("q_emb")) / (col("nrm") * col("q_nrm"))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(round(col("cos"), 9).desc, col("vec_id"))
    indexed.join(broadcast(probed), Seq("cell"))
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"), cos.as("cos"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= K)
      .select(col("q_id"), col("rank"), col("vec_id"), round(col("cos"), 6).as("cosine"))
      .orderBy(col("q_id"), col("rank"))
  }

  /** [[ivfTopkOracle]] with the index TRAINED ON THE EXISTING SLICE
    * only (`vec_id % 10 <> 0` in seeds and the Lloyd sample); code
    * assignment and search replay over the full corpus against those
    * frozen centroids — per-row assignment makes the one-pass replay
    * value-identical to Spark's existing∪delta append.
    */
  val ivfDeltaTopkOracle: String =
    s"""WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
       |seeds AS (SELECT ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS cell, emb AS cemb
       |  FROM (SELECT vec_id, emb FROM v WHERE vec_id % 10 <> 0
       |        ORDER BY vec_id LIMIT $IvfClusters)),
       |a0 AS (
       |  SELECT vec_id, emb, cell FROM (
       |    SELECT v.vec_id, v.emb, s.cell,
       |      ROW_NUMBER() OVER (PARTITION BY v.vec_id
       |        ORDER BY round(list_cosine_similarity(v.emb, s.cemb), 9) DESC, s.cell) AS rn
       |    FROM v CROSS JOIN seeds s
       |    WHERE v.vec_id % $TrainMod = 0 AND v.vec_id % 10 <> 0) WHERE rn = 1),
       |dims AS (SELECT cell, unnest(range(1, len(emb) + 1)) AS dim, unnest(emb) AS x FROM a0),
       |cent AS (
       |  SELECT cell, list(m ORDER BY dim) AS cemb FROM (
       |    SELECT cell, dim,
       |      CAST(SUM(CAST(x AS DECIMAL(38,12))) AS DOUBLE) / COUNT(*) AS m
       |    FROM dims GROUP BY cell, dim) GROUP BY cell),
       |assigned AS (
       |  SELECT vec_id, emb, cell FROM (
       |    SELECT v.vec_id, v.emb, c.cell,
       |      ROW_NUMBER() OVER (PARTITION BY v.vec_id
       |        ORDER BY round(list_cosine_similarity(v.emb, c.cemb), 9) DESC, c.cell) AS rn
       |    FROM v CROSS JOIN cent c) WHERE rn = 1),
       |q AS (SELECT vec_id AS q_id, emb AS q_emb FROM v WHERE vec_id < $NQueries),
       |probes AS (
       |  SELECT q_id, q_emb, cell FROM (
       |    SELECT q.q_id, q.q_emb, c.cell,
       |      ROW_NUMBER() OVER (PARTITION BY q.q_id
       |        ORDER BY round(list_cosine_similarity(q.q_emb, c.cemb), 9) DESC, c.cell) AS rn
       |    FROM q CROSS JOIN cent c) WHERE rn <= $IvfProbes),
       |scored AS (
       |  SELECT p.q_id, x.vec_id,
       |    list_cosine_similarity(x.emb, p.q_emb) AS cos,
       |    ROW_NUMBER() OVER (PARTITION BY p.q_id
       |      ORDER BY round(list_cosine_similarity(x.emb, p.q_emb), 9) DESC, x.vec_id) AS rank
       |  FROM assigned x JOIN probes p ON x.cell = p.cell AND x.vec_id <> p.q_id)
       |SELECT q_id, rank, vec_id, round(cos, 6) AS cosine
       |FROM scored WHERE rank <= $K ORDER BY q_id, rank""".stripMargin

  // The sign-LSH path is a pure function of the data (coordinate
  // hyperplanes, no randomness), so its banded candidate semantics are
  // expressible in SQL: a candidate pair shares at least one of the 4
  // band keys. The oracle states that quadratically (fine at oracle
  // scale); the Spark side must reach the same set via bucket joins.
  private def bandKeySql(expr: String, b: Int): String =
    (0 until BitsPerBand).map { j =>
      s"(CASE WHEN $expr[${b * BitsPerBand + j + 1}] > 0 THEN ${1 << j} ELSE 0 END)"
    }.mkString(" + ")

  val annTopkOracle: String = {
    val vBands = (0 until Bands).map(b => s"${bandKeySql("emb", b)} AS b$b").mkString(", ")
    val anyBand = (0 until Bands).map(b => s"x.b$b = q.b$b").mkString(" OR ")
    s"""WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
       |k AS (SELECT vec_id, emb, $vBands FROM v),
       |q AS (SELECT * FROM k WHERE vec_id < $NQueries),
       |scored AS (
       |  SELECT q.vec_id AS q_id, x.vec_id,
       |    list_cosine_similarity(x.emb, q.emb) AS cos,
       |    ROW_NUMBER() OVER (PARTITION BY q.vec_id
       |      ORDER BY round(list_cosine_similarity(x.emb, q.emb), 9) DESC, x.vec_id) AS rank
       |  FROM k x JOIN q ON x.vec_id <> q.vec_id AND ($anyBand))
       |SELECT q_id, rank, vec_id, round(cos, 6) AS cosine
       |FROM scored WHERE rank <= $K ORDER BY q_id, rank""".stripMargin
  }

  /** DuckDB re-derivation of the IVF-blocked near-dup: same √n cell
    * count, same seeds, same decimal-exact Lloyd step, same rounded
    * soft assignment — cell labels are seed vec_ids in BOTH engines, so
    * no relabeling subtlety at all.
    */
  val embedNearDupOracle: String =
    s"""WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
       |kk AS (SELECT GREATEST(16, CAST(floor(sqrt(CAST(COUNT(*) AS DOUBLE))) AS BIGINT)) AS k FROM v),
       |seeds AS (SELECT vec_id AS cell, emb AS cemb FROM v, kk WHERE vec_id < kk.k),
       |a0 AS (SELECT vec_id, cell FROM (
       |  SELECT v.vec_id, s.cell,
       |    ROW_NUMBER() OVER (PARTITION BY v.vec_id
       |      ORDER BY round(list_cosine_similarity(v.emb, s.cemb), 9) DESC, s.cell) AS rn
       |  FROM v CROSS JOIN seeds s WHERE v.vec_id % $TrainMod = 0) WHERE rn = 1),
       |dims AS (SELECT a0.cell, unnest(range(1, len(v.emb) + 1)) AS dim, unnest(v.emb) AS x
       |  FROM a0 JOIN v USING (vec_id)),
       |cent AS (
       |  SELECT cell, list(m ORDER BY dim) AS cemb FROM (
       |    SELECT cell, dim,
       |      CAST(SUM(CAST(x AS DECIMAL(38,12))) AS DOUBLE) / COUNT(*) AS m
       |    FROM dims GROUP BY cell, dim) GROUP BY cell),
       |a1 AS (SELECT vec_id, cell FROM (
       |  SELECT v.vec_id, c.cell,
       |    ROW_NUMBER() OVER (PARTITION BY v.vec_id
       |      ORDER BY round(list_cosine_similarity(v.emb, c.cemb), 9) DESC, c.cell) AS rn
       |  FROM v CROSS JOIN cent c) WHERE rn <= $NearDupProbes),
       |cand AS (SELECT DISTINCT x.vec_id AS vec_a, y.vec_id AS vec_b
       |  FROM a1 x JOIN a1 y ON x.cell = y.cell AND x.vec_id < y.vec_id)
       |SELECT c.vec_a, c.vec_b,
       |  round(list_cosine_similarity(a.emb, b.emb), 6) AS cosine
       |FROM cand c JOIN v a ON c.vec_a = a.vec_id JOIN v b ON c.vec_b = b.vec_id
       |WHERE round(list_cosine_similarity(a.emb, b.emb), 9) >= CAST($NearDupCos AS DOUBLE)
       |ORDER BY vec_a, vec_b""".stripMargin

  /** The COMPLETE SemDeDup pipeline (Abbas et al. 2023,
    * arXiv:2303.09540) as one gate — [[embedNearDup]] produces the
    * pair relation; this runs the paper's full keep rule over it:
    * connected-component duplicate groups (star-CC over the cosine ≥ τ
    * pairs, the same O(log n) engine the text family uses), and within
    * each group KEEP the member with the LOWEST cosine similarity to
    * its cluster centroid — the paper's diversity-maximizing choice
    * (§3: "we keep the example with the lowest cosine similarity to
    * the cluster centroid"). Singletons keep themselves. Output is the
    * full per-vector relation (cluster label, centroid similarity,
    * keep flag) so downstream mixtures can filter or re-weight.
    *
    * Determinism: group labels are min-ids (integer); the keep rank
    * orders on the round-9 centroid similarity — the SAME rounded
    * value the cell assignment ranked on — with vec_id tie-break.
    *
    * Scale shape: pairs and labels are the embedNearDup/star-CC
    * shapes (blocked candidates, O(log n) rounds); the keep rank is
    * one WindowGroupLimit-sized window over the vector relation.
    */
  def semdedupKeep(s: SparkSession, dir: String): DataFrame = {
    val base = emb(s, dir)
    val cent = nearDupCentroids(s, dir)
    // the repeated-lineage rule: ONE
    // ranked corpus×centroid assignment serves BOTH consumers — the
    // keep-rule's primary-cell similarity (rn = 1: csim IS the sim the
    // rank ordered on, same round(·,9) dot formula) and the candidate
    // blocking (rn ≤ NearDupProbes), so assignCells and the Lloyd
    // centroids run once: one corpus pass against the broadcast
    // centroid table and one quantizer training.
    // Pinned: n·probes narrow (id, cell, sim, rn) rows.
    val ranked = graft.plans.Checkpoint.pin(
      assignCellsRanked(base, cent, NearDupProbes))
    val simToCent = ranked.filter(col("rn") === 1)
      .select(col("vec_id"), col("sim").as("csim"))
    val assigned = ranked.select(col("vec_id"), col("cell"))
    // embedNearDup's pair relation, inlined on the shared assignment:
    // same candidates (pairs inside a shared cell), same rounded-
    // cosine verification threshold — the identical pair SET
    val cand = assigned.as("x")
      .join(assigned.as("y"),
        col("x.cell") === col("y.cell") && col("x.vec_id") < col("y.vec_id"))
      .select(col("x.vec_id").as("a"), col("y.vec_id").as("b"))
      .distinct()
    val pcos = dot(col("ea"), col("eb")) / (col("na") * col("nb"))
    val pairs = cand
      .join(base.select(col("vec_id").as("a"), col("emb").as("ea"), col("nrm").as("na")), "a")
      .join(base.select(col("vec_id").as("b"), col("emb").as("eb"), col("nrm").as("nb")), "b")
      .filter(round(pcos, 9) >= NearDupCos)
      .select(col("a"), col("b"))
    val labels = LlmDedup.starLabels(pairs)
    val lab = base.select(col("vec_id"))
      .join(labels.withColumnRenamed("doc_id", "vec_id"), Seq("vec_id"), "left")
      .select(col("vec_id"), coalesce(col("label"), col("vec_id")).as("cluster"))
    val w = Window.partitionBy(col("cluster")).orderBy(col("csim").asc, col("vec_id"))
    lab.join(simToCent, "vec_id")
      .withColumn("keep", row_number().over(w) === 1)
      .select(col("vec_id"), col("cluster"),
        round(col("csim"), 6).as("cent_sim"), col("keep"))
      .orderBy(col("vec_id"))
  }

  /** [[embedNearDupOracle]]'s index/pair CTEs + a recursive-CTE
    * closure for the duplicate groups + the keep rank.
    */
  val semdedupKeepOracle: String =
    s"""WITH RECURSIVE v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
       |kk AS (SELECT GREATEST(16, CAST(floor(sqrt(CAST(COUNT(*) AS DOUBLE))) AS BIGINT)) AS k FROM v),
       |seeds AS (SELECT vec_id AS cell, emb AS cemb FROM v, kk WHERE vec_id < kk.k),
       |a0 AS (SELECT vec_id, cell FROM (
       |  SELECT v.vec_id, s.cell,
       |    ROW_NUMBER() OVER (PARTITION BY v.vec_id
       |      ORDER BY round(list_cosine_similarity(v.emb, s.cemb), 9) DESC, s.cell) AS rn
       |  FROM v CROSS JOIN seeds s WHERE v.vec_id % $TrainMod = 0) WHERE rn = 1),
       |dims AS (SELECT a0.cell, unnest(range(1, len(v.emb) + 1)) AS dim, unnest(v.emb) AS x
       |  FROM a0 JOIN v USING (vec_id)),
       |cent AS (
       |  SELECT cell, list(m ORDER BY dim) AS cemb FROM (
       |    SELECT cell, dim,
       |      CAST(SUM(CAST(x AS DECIMAL(38,12))) AS DOUBLE) / COUNT(*) AS m
       |    FROM dims GROUP BY cell, dim) GROUP BY cell),
       |a1 AS (SELECT vec_id, cell FROM (
       |  SELECT v.vec_id, c.cell,
       |    ROW_NUMBER() OVER (PARTITION BY v.vec_id
       |      ORDER BY round(list_cosine_similarity(v.emb, c.cemb), 9) DESC, c.cell) AS rn
       |  FROM v CROSS JOIN cent c) WHERE rn <= $NearDupProbes),
       |ap AS (SELECT vec_id, cell FROM (
       |  SELECT v.vec_id, c.cell,
       |    ROW_NUMBER() OVER (PARTITION BY v.vec_id
       |      ORDER BY round(list_cosine_similarity(v.emb, c.cemb), 9) DESC, c.cell) AS rn
       |  FROM v CROSS JOIN cent c) WHERE rn = 1),
       |cs AS (SELECT ap.vec_id,
       |    round(list_cosine_similarity(v.emb, c.cemb), 9) AS csim
       |  FROM ap JOIN v USING (vec_id) JOIN cent c ON ap.cell = c.cell),
       |cand AS (SELECT DISTINCT x.vec_id AS vec_a, y.vec_id AS vec_b
       |  FROM a1 x JOIN a1 y ON x.cell = y.cell AND x.vec_id < y.vec_id),
       |prs AS (SELECT c.vec_a, c.vec_b
       |  FROM cand c JOIN v a ON c.vec_a = a.vec_id JOIN v b ON c.vec_b = b.vec_id
       |  WHERE round(list_cosine_similarity(a.emb, b.emb), 9) >= CAST($NearDupCos AS DOUBLE)),
       |edges AS (SELECT vec_a AS a, vec_b AS b FROM prs
       |  UNION SELECT vec_b, vec_a FROM prs),
       |reach(a, b) AS (
       |  SELECT a, b FROM edges
       |  UNION
       |  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a),
       |labels AS (SELECT a AS vec_id, LEAST(a, MIN(b)) AS label
       |  FROM reach GROUP BY a),
       |lab AS (SELECT v.vec_id, COALESCE(l.label, v.vec_id) AS cluster
       |  FROM v LEFT JOIN labels l ON v.vec_id = l.vec_id),
       |r AS (SELECT lab.vec_id, lab.cluster, cs.csim,
       |    ROW_NUMBER() OVER (PARTITION BY lab.cluster
       |      ORDER BY cs.csim ASC, lab.vec_id) AS rn
       |  FROM lab JOIN cs USING (vec_id))
       |SELECT vec_id, cluster, round(csim, 6) AS cent_sim, rn = 1 AS keep
       |FROM r ORDER BY vec_id""".stripMargin

  private val RangeCos = 0.3

  /** Cosine RANGE search (radius query): every corpus vector with
    * cosine ≥ τ of each query — the other half of the similarity-search
    * API next to top-k (FAISS `range_search`). Same scale shape as
    * [[topkExact]]: the bounded query side broadcasts, the corpus
    * streams once with map-side dot products, and — unlike top-k — no
    * window at all: the threshold filter is applied before anything
    * shuffles, so the only exchange is the final result sort.
    * Thresholding on round(cos, 9) keeps boundary vectors on the same
    * side in both engines.
    */
  def rangeSearch(s: SparkSession, dir: String): DataFrame = {
    val base = emb(s, dir)
    val queries = base.filter(col("vec_id") < NQueries)
      .select(col("vec_id").as("q_id"), col("emb").as("q_emb"), col("nrm").as("q_nrm"))
    val cos = dot(col("emb"), col("q_emb")) / (col("nrm") * col("q_nrm"))
    base.join(broadcast(queries), col("vec_id") =!= col("q_id"))
      .withColumn("cos", cos)
      .filter(round(col("cos"), 9) >= RangeCos)
      .select(col("q_id"), col("vec_id"), round(col("cos"), 6).as("cosine"))
      .orderBy(col("q_id"), col("vec_id"))
  }

  val rangeSearchOracle: String =
    s"""WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb
       |  FROM embeddings),
       |q AS (SELECT vec_id AS q_id, emb AS q_emb FROM v WHERE vec_id < $NQueries)
       |SELECT q.q_id, v.vec_id,
       |  round(list_cosine_similarity(v.emb, q.q_emb), 6) AS cosine
       |FROM v CROSS JOIN q
       |WHERE v.vec_id != q.q_id
       |  AND round(list_cosine_similarity(v.emb, q.q_emb), 9) >= CAST($RangeCos AS DOUBLE)
       |ORDER BY q_id, vec_id""".stripMargin

  // ---- Product quantization (PQ) + asymmetric distance computation ----

  private val PqM = 8 // subspaces
  private val PqSub = 8 // dims per subspace (PqM * PqSub = 64)
  private val PqK = 16 // codewords per subspace

  /** (vec_id, m, sub): the corpus split into M contiguous subvectors —
    * a per-row explode+slice, no shuffle.
    */
  private def subVectors(base: DataFrame): DataFrame =
    base
      .select(col("vec_id"), explode(sequence(lit(0), lit(PqM - 1))).as("m"),
        col("emb"))
      .select(col("vec_id"), col("m"),
        slice(col("emb"), col("m") * PqSub + 1, lit(PqSub)).as("sub"))

  /** Squared L2 via three ordered dot products, so both engines build
    * the identical IEEE expression tree: (x·x − 2·x·c) + c·c.
    */
  private def l2sq(x: Column, c: Column): Column =
    dot(x, x) - lit(2.0) * dot(x, c) + dot(c, c)

  /** argmin codeword per (vec_id, m): rank on round(L2², 9) ascending
    * with the codeword id as tie-break — the same engine-reproducible
    * argmax device every vector operator here uses, in min form.
    */
  private def assignCodes(sub: DataFrame, cb: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("vec_id"), col("m"))
      .orderBy(round(l2sq(col("sub"), col("csub")), 9).asc, col("code"))
    sub.join(broadcast(cb), Seq("m"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("vec_id"), col("m"), col("code"))
  }

  /** Per-subspace codebooks: seeds = the first PqK vectors' subvectors
    * (labels ARE vec_ids 0..15, identical to the oracle's dense
    * renumber), one decimal-exact Lloyd step on the deterministic
    * `vec_id % TrainMod` subsample — [[lloydCentroids]]'s recipe
    * applied per (m) with L2 instead of cosine, as PQ trains.
    */
  private def pqCodebook(base: DataFrame): DataFrame = {
    val sub = subVectors(base)
    val seeds = sub.filter(col("vec_id") < PqK)
      .select(col("m"), col("vec_id").as("code"), col("sub").as("csub"))
    val sample = sub.filter(col("vec_id") % TrainMod === 0)
    assignCodes(sample, seeds)
      .join(sample, Seq("vec_id", "m"))
      .select(col("m"), col("code"), posexplode(col("sub")).as(Seq("dim", "x")))
      .groupBy(col("m"), col("code"), col("dim"))
      .agg((sum(col("x").cast(DecimalType(38, 12))).cast(DoubleType) /
        count(lit(1))).as("v"))
      .groupBy(col("m"), col("code"))
      .agg(transform(array_sort(collect_list(struct(col("dim"), col("v")))),
        e => e.getField("v")).as("csub"))
  }

  /** PQ-ADC approximate inner-product top-k (Jégou et al. 2011, the
    * FAISS `PQ` index): encode every corpus vector as M codeword ids,
    * then answer queries from a per-query (m, code) → q_m·c_{m,code}
    * lookup table, summing M table hits per (query, vector).
    *
    * THE 100 TB point: after index build, search never touches the
    * raw vectors — the `codes` relation IS the compressed corpus
    * (M=8 small ints ≈ 8 bytes/vector vs 256 bytes of floats, 32×
    * with nibble packing), the codebook is a constant M×K×PqSub ≈ 8 KB
    * broadcast, and the ADC scan is one codes pass + a decimal-exact
    * M-term sum per candidate. Approximation error is the quantizer's,
    * and the gate pins the ESTIMATOR itself: every argmin ranks on
    * round(,9) with id tie-breaks and the ADC sum aggregates through
    * DECIMAL(38,12), so DuckDB re-derives codebooks, codes, and
    * rankings bit-identically.
    */
  def pqAdcTopk(s: SparkSession, dir: String): DataFrame = {
    val base = emb(s, dir)
    val cb = pqCodebook(base)
    val codes = assignCodes(subVectors(base), cb)
    val qt = subVectors(base.filter(col("vec_id") < NQueries))
      .select(col("vec_id").as("q_id"), col("m"), col("sub"))
      .join(broadcast(cb), Seq("m"))
      .select(col("q_id"), col("m"), col("code"),
        dot(col("sub"), col("csub")).as("t"))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(round(col("ip"), 9).desc, col("vec_id"))
    codes.join(broadcast(qt), Seq("m", "code"))
      .filter(col("vec_id") =!= col("q_id"))
      .groupBy(col("q_id"), col("vec_id"))
      .agg(sum(col("t").cast(DecimalType(38, 12))).cast(DoubleType).as("ip"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= K)
      .select(col("q_id"), col("rank"), col("vec_id"),
        round(col("ip"), 6).as("ip_approx"))
      .orderBy(col("q_id"), col("rank"))
  }

  /** DuckDB re-derivation of the full PQ pipeline — same seeds (dense
    * renumber == raw vec_id labels for consecutive ids), same Lloyd
    * means, same rounded-L2 argmin, same decimal ADC sum.
    */
  val pqAdcTopkOracle: String =
    s"""WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
       |ms AS (SELECT unnest(range(0, $PqM)) AS m),
       |sub AS (SELECT vec_id, m, emb[m*$PqSub+1 : m*$PqSub+$PqSub] AS s
       |  FROM v CROSS JOIN ms),
       |seeds AS (SELECT m, ROW_NUMBER() OVER (PARTITION BY m ORDER BY vec_id) - 1
       |    AS code, s AS cs
       |  FROM sub WHERE vec_id < $PqK),
       |a0 AS (SELECT vec_id, m, code, s FROM (
       |  SELECT sub.vec_id, sub.m, seeds.code, sub.s,
       |    ROW_NUMBER() OVER (PARTITION BY sub.vec_id, sub.m
       |      ORDER BY round(list_inner_product(sub.s, sub.s)
       |        - 2*list_inner_product(sub.s, seeds.cs)
       |        + list_inner_product(seeds.cs, seeds.cs), 9), seeds.code) AS rn
       |  FROM sub JOIN seeds USING (m) WHERE sub.vec_id % $TrainMod = 0)
       |  WHERE rn = 1),
       |dims AS (SELECT m, code, unnest(range(1, len(s) + 1)) AS dim, unnest(s) AS x
       |  FROM a0),
       |cb AS (SELECT m, code, list(v ORDER BY dim) AS cs FROM (
       |  SELECT m, code, dim,
       |    CAST(SUM(CAST(x AS DECIMAL(38,12))) AS DOUBLE) / COUNT(*) AS v
       |  FROM dims GROUP BY m, code, dim) GROUP BY m, code),
       |enc AS (SELECT vec_id, m, code FROM (
       |  SELECT sub.vec_id, sub.m, cb.code,
       |    ROW_NUMBER() OVER (PARTITION BY sub.vec_id, sub.m
       |      ORDER BY round(list_inner_product(sub.s, sub.s)
       |        - 2*list_inner_product(sub.s, cb.cs)
       |        + list_inner_product(cb.cs, cb.cs), 9), cb.code) AS rn
       |  FROM sub JOIN cb USING (m)) WHERE rn = 1),
       |qt AS (SELECT sub.vec_id AS q_id, sub.m, cb.code,
       |    list_inner_product(sub.s, cb.cs) AS t
       |  FROM sub JOIN cb USING (m) WHERE sub.vec_id < $NQueries),
       |adc AS (SELECT qt.q_id, enc.vec_id,
       |    CAST(SUM(CAST(t AS DECIMAL(38,12))) AS DOUBLE) AS ip
       |  FROM enc JOIN qt USING (m, code) WHERE enc.vec_id <> qt.q_id
       |  GROUP BY qt.q_id, enc.vec_id)
       |SELECT q_id, rank, vec_id, round(ip, 6) AS ip_approx FROM (
       |  SELECT q_id, vec_id, ip,
       |    ROW_NUMBER() OVER (PARTITION BY q_id
       |      ORDER BY round(ip, 9) DESC, vec_id) AS rank FROM adc)
       |WHERE rank <= $K ORDER BY q_id, rank""".stripMargin

  /** IVFPQ — the composed FAISS architecture and the 100 TB search
    * shape: IVF's coarse quantizer prunes the corpus to nProbe cells
    * per query, then PQ-ADC scores ONLY the vectors inside probed
    * cells from their 8-byte codes. No-residual variant (codes encode
    * the raw vectors, not cell residuals — one codebook instead of
    * K×M; the pruning and compression economics are identical, the
    * quantization error slightly higher, and every stage stays
    * engine-reproducible).
    *
    * Index = cell assignment (1 int/vector) + codes (M ids/vector) +
    * constant centroid/codebook broadcasts. Search = |corpus|·nProbe/K
    * candidates × an M-term decimal table sum — the raw vectors are
    * never read after index build.
    */
  def ivfPqTopk(s: SparkSession, dir: String): DataFrame = {
    val base = emb(s, dir)
    val seeds = base.filter(col("vec_id") < IvfClusters)
      .select(col("vec_id").as("cell"), col("emb").as("cemb"), col("nrm").as("cnrm"))
    val centroids = lloydCentroids(base.filter(col("vec_id") % TrainMod === 0), seeds)
    val cells = assignCells(base, centroids, 1)
    val cb = pqCodebook(base)
    val codes = assignCodes(subVectors(base), cb)
    val queries = base.filter(col("vec_id") < NQueries)
    val probed = assignCells(queries, centroids, IvfProbes)
      .select(col("vec_id").as("q_id"), col("cell"))
    val qt = subVectors(queries)
      .select(col("vec_id").as("q_id"), col("m"), col("sub"))
      .join(broadcast(cb), Seq("m"))
      .select(col("q_id"), col("m"), col("code"),
        dot(col("sub"), col("csub")).as("t"))
    val cand = cells.join(broadcast(probed), Seq("cell"))
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(round(col("ip"), 9).desc, col("vec_id"))
    cand.join(codes, Seq("vec_id"))
      .join(broadcast(qt), Seq("q_id", "m", "code"))
      .groupBy(col("q_id"), col("vec_id"))
      .agg(sum(col("t").cast(DecimalType(38, 12))).cast(DoubleType).as("ip"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= K)
      .select(col("q_id"), col("rank"), col("vec_id"),
        round(col("ip"), 6).as("ip_approx"))
      .orderBy(col("q_id"), col("rank"))
  }

  /** The IVF oracle's coarse chain composed with the PQ oracle's
    * codebook/encode/ADC chain, candidates restricted to probed cells.
    */
  val ivfPqTopkOracle: String =
    s"""WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
       |seeds AS (SELECT ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS cell, emb AS cemb
       |  FROM v WHERE vec_id < $IvfClusters),
       |a0 AS (SELECT vec_id, emb, cell FROM (
       |  SELECT v.vec_id, v.emb, s.cell,
       |    ROW_NUMBER() OVER (PARTITION BY v.vec_id
       |      ORDER BY round(list_cosine_similarity(v.emb, s.cemb), 9) DESC, s.cell) AS rn
       |  FROM v CROSS JOIN seeds s WHERE v.vec_id % $TrainMod = 0) WHERE rn = 1),
       |cdims AS (SELECT cell, unnest(range(1, len(emb) + 1)) AS dim, unnest(emb) AS x
       |  FROM a0),
       |cent AS (SELECT cell, list(m ORDER BY dim) AS cemb FROM (
       |  SELECT cell, dim, CAST(SUM(CAST(x AS DECIMAL(38,12))) AS DOUBLE) / COUNT(*) AS m
       |  FROM cdims GROUP BY cell, dim) GROUP BY cell),
       |cells AS (SELECT vec_id, cell FROM (
       |  SELECT v.vec_id, c.cell,
       |    ROW_NUMBER() OVER (PARTITION BY v.vec_id
       |      ORDER BY round(list_cosine_similarity(v.emb, c.cemb), 9) DESC, c.cell) AS rn
       |  FROM v CROSS JOIN cent c) WHERE rn = 1),
       |probes AS (SELECT q_id, cell FROM (
       |  SELECT v.vec_id AS q_id, c.cell,
       |    ROW_NUMBER() OVER (PARTITION BY v.vec_id
       |      ORDER BY round(list_cosine_similarity(v.emb, c.cemb), 9) DESC, c.cell) AS rn
       |  FROM v CROSS JOIN cent c WHERE v.vec_id < $NQueries) WHERE rn <= $IvfProbes),
       |ms AS (SELECT unnest(range(0, $PqM)) AS m),
       |sub AS (SELECT vec_id, m, emb[m*$PqSub+1 : m*$PqSub+$PqSub] AS s
       |  FROM v CROSS JOIN ms),
       |pseeds AS (SELECT m, ROW_NUMBER() OVER (PARTITION BY m ORDER BY vec_id) - 1
       |    AS code, s AS cs
       |  FROM sub WHERE vec_id < $PqK),
       |pa0 AS (SELECT vec_id, m, code, s FROM (
       |  SELECT sub.vec_id, sub.m, pseeds.code, sub.s,
       |    ROW_NUMBER() OVER (PARTITION BY sub.vec_id, sub.m
       |      ORDER BY round(list_inner_product(sub.s, sub.s)
       |        - 2*list_inner_product(sub.s, pseeds.cs)
       |        + list_inner_product(pseeds.cs, pseeds.cs), 9), pseeds.code) AS rn
       |  FROM sub JOIN pseeds USING (m) WHERE sub.vec_id % $TrainMod = 0)
       |  WHERE rn = 1),
       |pdims AS (SELECT m, code, unnest(range(1, len(s) + 1)) AS dim, unnest(s) AS x
       |  FROM pa0),
       |cb AS (SELECT m, code, list(v ORDER BY dim) AS cs FROM (
       |  SELECT m, code, dim,
       |    CAST(SUM(CAST(x AS DECIMAL(38,12))) AS DOUBLE) / COUNT(*) AS v
       |  FROM pdims GROUP BY m, code, dim) GROUP BY m, code),
       |enc AS (SELECT vec_id, m, code FROM (
       |  SELECT sub.vec_id, sub.m, cb.code,
       |    ROW_NUMBER() OVER (PARTITION BY sub.vec_id, sub.m
       |      ORDER BY round(list_inner_product(sub.s, sub.s)
       |        - 2*list_inner_product(sub.s, cb.cs)
       |        + list_inner_product(cb.cs, cb.cs), 9), cb.code) AS rn
       |  FROM sub JOIN cb USING (m)) WHERE rn = 1),
       |qt AS (SELECT sub.vec_id AS q_id, sub.m, cb.code,
       |    list_inner_product(sub.s, cb.cs) AS t
       |  FROM sub JOIN cb USING (m) WHERE sub.vec_id < $NQueries),
       |cand AS (SELECT DISTINCT p.q_id, x.vec_id
       |  FROM cells x JOIN probes p ON x.cell = p.cell AND x.vec_id <> p.q_id),
       |adc AS (SELECT cand.q_id, cand.vec_id,
       |    CAST(SUM(CAST(t AS DECIMAL(38,12))) AS DOUBLE) AS ip
       |  FROM cand JOIN enc ON cand.vec_id = enc.vec_id
       |  JOIN qt ON qt.q_id = cand.q_id AND qt.m = enc.m AND qt.code = enc.code
       |  GROUP BY cand.q_id, cand.vec_id)
       |SELECT q_id, rank, vec_id, round(ip, 6) AS ip_approx FROM (
       |  SELECT q_id, vec_id, ip,
       |    ROW_NUMBER() OVER (PARTITION BY q_id
       |      ORDER BY round(ip, 9) DESC, vec_id) AS rank FROM adc)
       |WHERE rank <= $K ORDER BY q_id, rank""".stripMargin

  /** Progressive-dimension rerank cascade (the Matryoshka-retrieval
    * shape, Kusupati et al. 2022, arXiv:2205.13147 — adaptive
    * retrieval shortlists on a prefix of the embedding, then reranks
    * the shortlist at full dimension): a coarse pass scores every
    * corpus vector against the queries on the FIRST 16 of 64 dims
    * (a quarter of the memory bandwidth), keeps the top-20 shortlist
    * per query, and only the shortlist pays the full-dimension exact
    * cosine. Entirely deterministic — coordinate prefix, rounded-rank
    * tiebreaks — so the whole cascade replays bit-identically in the
    * oracle, shortlist and all.
    *
    * Scale shape: the coarse pass is the same broadcast-queries ×
    * one-corpus-scan as [[topkExact]] but reading sliced arrays (at
    * 100 TB, store the prefix as its own column so the scan prunes to
    * it); the rerank touches NQueries × 20 rows — constant. Pair with
    * the IVF cell pruning for the full production stack: cell prune →
    * prefix score → full rerank.
    */
  def prefixRerank(s: SparkSession, dir: String): DataFrame = {
    val PrefixDims = 16
    val Shortlist = 20
    val base = emb(s, dir)
      .withColumn("pre", slice(col("emb"), 1, PrefixDims))
      .withColumn("pnrm", sqrt(dot(col("pre"), col("pre"))))
    val queries = base.filter(col("vec_id") < NQueries)
      .select(col("vec_id").as("q_id"), col("emb").as("q_emb"), col("nrm").as("q_nrm"),
        col("pre").as("q_pre"), col("pnrm").as("q_pnrm"))
    val pcos = dot(col("pre"), col("q_pre")) / (col("pnrm") * col("q_pnrm"))
    val cw = Window.partitionBy(col("q_id"))
      .orderBy(round(col("pcos"), 9).desc, col("vec_id"))
    val shortlist = base.select(col("vec_id"), col("emb"), col("nrm"), col("pre"), col("pnrm"))
      .join(broadcast(queries), col("vec_id") =!= col("q_id"))
      .withColumn("pcos", pcos)
      .withColumn("crank", row_number().over(cw))
      .filter(col("crank") <= Shortlist)
    val cos = dot(col("emb"), col("q_emb")) / (col("nrm") * col("q_nrm"))
    val rw = Window.partitionBy(col("q_id"))
      .orderBy(round(col("cos"), 9).desc, col("vec_id"))
    shortlist
      .withColumn("cos", cos)
      .withColumn("rank", row_number().over(rw))
      .filter(col("rank") <= K)
      .select(col("q_id"), col("rank"), col("vec_id"), round(col("cos"), 6).as("cosine"))
      .orderBy(col("q_id"), col("rank"))
  }

  val prefixRerankOracle: String =
    s"""WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
       |q AS (SELECT vec_id AS q_id, emb AS q_emb FROM v WHERE vec_id < $NQueries),
       |coarse AS (
       |  SELECT q.q_id, v.vec_id, v.emb, q.q_emb,
       |    ROW_NUMBER() OVER (PARTITION BY q.q_id
       |      ORDER BY round(list_cosine_similarity(v.emb[1:16], q.q_emb[1:16]), 9) DESC,
       |        v.vec_id) AS crank
       |  FROM v JOIN q ON v.vec_id <> q.q_id),
       |rr AS (
       |  SELECT q_id, vec_id, list_cosine_similarity(emb, q_emb) AS cos,
       |    ROW_NUMBER() OVER (PARTITION BY q_id
       |      ORDER BY round(list_cosine_similarity(emb, q_emb), 9) DESC, vec_id) AS rank
       |  FROM coarse WHERE crank <= 20)
       |SELECT q_id, rank, vec_id, round(cos, 6) AS cosine
       |FROM rr WHERE rank <= $K ORDER BY q_id, rank""".stripMargin

  private val MmrPool = 10
  private val MmrPicks = 5

  /** MMR diversification rerank (Carbonell & Goldstein, SIGIR 1998 —
    * the standard redundancy-killer between retrieval and a RAG
    * context window: greedy-pick argmax of λ·rel − (1−λ)·max-sim-to-
    * picked, λ = 0.5): over each query's [[MmrPool]] brute-cosine
    * candidates, [[MmrPicks]] unrolled greedy steps. With λ = ½ the
    * pick order follows the MARGIN rel − maxsim (an exact halving
    * never reorders), which is what the gate emits.
    *
    * Determinism: rel and candidate-candidate sims are round-6
    * cosines, so the margin is (within one ulp) a 6-dp decimal —
    * maximally FAR from rounding boundaries; picks rank over
    * round-9 margins with vec_id tie-breaks, and the oracle unrolls
    * the same five steps as CTEs (the [[graft.queries.Graph.labelProp]]
    * fixed-rounds device).
    *
    * Scale shape: the candidate build is [[topkExact]]'s plan (corpus
    * scan × broadcast queries, WindowGroupLimit top-10); everything
    * after runs on ≤ NQueries·[[MmrPool]] rows (pair matrix ≤ 10×10
    * per query). Lineage is checkpoint-truncated per pick.
    */
  def mmrRerank(s: SparkSession, dir: String): DataFrame = {
    val base = emb(s, dir)
    val queries = base.filter(col("vec_id") < NQueries)
      .select(col("vec_id").as("q_id"), col("emb").as("q_emb"),
        col("nrm").as("q_nrm"))
    val cos = dot(col("emb"), col("q_emb")) / (col("nrm") * col("q_nrm"))
    val wCand = Window.partitionBy(col("q_id"))
      .orderBy(round(col("cos"), 9).desc, col("vec_id"))
    val cand = graft.plans.Checkpoint.pin(
      base.join(broadcast(queries), col("vec_id") =!= col("q_id"))
        .withColumn("cos", cos)
        .withColumn("crank", row_number().over(wCand))
        .filter(col("crank") <= MmrPool)
        .select(col("q_id"), col("vec_id"), round(col("cos"), 6).as("rel"),
          col("emb"), col("nrm")))
    val pairs = graft.plans.Checkpoint.pin(
      cand.select(col("q_id"), col("vec_id").as("va"),
          col("emb").as("ea"), col("nrm").as("na"))
        .join(cand.select(col("q_id"), col("vec_id").as("vb"),
          col("emb").as("eb"), col("nrm").as("nb")), "q_id")
        .filter(col("va") =!= col("vb"))
        .select(col("q_id"), col("va"), col("vb"),
          round(dot(col("ea"), col("eb")) / (col("na") * col("nb")), 6).as("sim")))
    val wPick = Window.partitionBy(col("q_id"))
      .orderBy(round(col("margin"), 9).desc, col("vec_id"))
    // step 1: nothing picked, margin = rel
    val first = graft.plans.Checkpoint.truncate(
      cand.select(col("q_id"), col("vec_id"), col("rel"))
        .withColumn("margin", col("rel"))
        .withColumn("rn", row_number().over(wPick))
        .filter(col("rn") === 1)
        .select(col("q_id"), col("vec_id"), col("rel"), col("margin"),
          lit(1).as("pick_rank")))
    // round r appends pick r + 1, the candidate of largest margin
    val picked = graft.plans.Checkpoint.rounds(first, MmrPicks - 1) { (picked, r) =>
      val maxSim = pairs
        .join(picked.select(col("q_id"), col("vec_id").as("vb")),
          Seq("q_id", "vb"))
        .groupBy(col("q_id").as("mq"), col("va"))
        .agg(max(col("sim")).as("maxsim"))
      val next = cand.select(col("q_id"), col("vec_id"), col("rel"))
        .join(picked.select(col("q_id"), col("vec_id")),
          Seq("q_id", "vec_id"), "left_anti")
        .join(maxSim, col("q_id") === col("mq") && col("vec_id") === col("va"))
        .drop("mq", "va")
        .withColumn("margin", col("rel") - col("maxsim"))
        .withColumn("rn", row_number().over(wPick))
        .filter(col("rn") === 1)
        .select(col("q_id"), col("vec_id"), col("rel"), col("margin"),
          lit(r + 1).as("pick_rank"))
      picked.unionByName(next)
    }
    picked
      .select(col("q_id"), col("pick_rank"), col("vec_id"), col("rel"),
        round(col("margin"), 6).as("margin"))
      .orderBy(col("q_id"), col("pick_rank"))
  }

  val mmrRerankOracle: String = {
    val step = (i: Int) =>
      s"""ms$i AS (
         |  SELECT p.q_id, p.va, MAX(p.sim) AS maxsim
         |  FROM pairs p JOIN pk${i - 1} k ON p.q_id = k.q_id AND p.vb = k.vec_id
         |  GROUP BY 1, 2),
         |p$i AS (
         |  SELECT q_id, vec_id, rel, margin, $i AS pick_rank FROM (
         |    SELECT c.q_id, c.vec_id, c.rel, c.rel - m.maxsim AS margin,
         |      ROW_NUMBER() OVER (PARTITION BY c.q_id
         |        ORDER BY round(c.rel - m.maxsim, 9) DESC, c.vec_id) AS rn
         |    FROM cand c JOIN ms$i m ON c.q_id = m.q_id AND c.vec_id = m.va
         |    WHERE NOT EXISTS (SELECT 1 FROM pk${i - 1} k
         |      WHERE k.q_id = c.q_id AND k.vec_id = c.vec_id))
         |  WHERE rn = 1),
         |pk$i AS (SELECT q_id, vec_id FROM pk${i - 1}
         |  UNION ALL SELECT q_id, vec_id FROM p$i)"""
    s"""WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
       |q AS (SELECT vec_id AS q_id, emb AS q_emb FROM v WHERE vec_id < $NQueries),
       |cand AS (
       |  SELECT q_id, vec_id, round(cos, 6) AS rel, emb FROM (
       |    SELECT q.q_id, v.vec_id, v.emb,
       |      list_cosine_similarity(v.emb, q.q_emb) AS cos,
       |      ROW_NUMBER() OVER (PARTITION BY q.q_id
       |        ORDER BY round(list_cosine_similarity(v.emb, q.q_emb), 9) DESC,
       |          v.vec_id) AS crank
       |    FROM v JOIN q ON v.vec_id <> q.q_id)
       |  WHERE crank <= $MmrPool),
       |pairs AS (
       |  SELECT a.q_id, a.vec_id AS va, b.vec_id AS vb,
       |    round(list_cosine_similarity(a.emb, b.emb), 6) AS sim
       |  FROM cand a JOIN cand b ON a.q_id = b.q_id AND a.vec_id <> b.vec_id),
       |p1 AS (
       |  SELECT q_id, vec_id, rel, rel AS margin, 1 AS pick_rank FROM (
       |    SELECT q_id, vec_id, rel,
       |      ROW_NUMBER() OVER (PARTITION BY q_id
       |        ORDER BY round(rel, 9) DESC, vec_id) AS rn
       |    FROM cand)
       |  WHERE rn = 1),
       |pk1 AS (SELECT q_id, vec_id FROM p1),
       |${(2 to MmrPicks).map(step).mkString(",\n")}
       |SELECT q_id, pick_rank, vec_id, rel, round(margin, 6) AS margin
       |FROM (${(1 to MmrPicks).map(i => s"SELECT * FROM p$i").mkString(" UNION ALL ")})
       |ORDER BY q_id, pick_rank""".stripMargin
  }

  /** ANN recall@K as a FIRST-CLASS queryable metric (the number every
    * vector-store evaluation reports, here oracle-gated instead of
    * spec-asserted): per query, |[[annTopk]] ∩ [[topkExact]]| / K.
    * The production loop this powers: re-run after every index
    * parameter change (bands, probes), alert when recall dips. Exact
    * integer intersection counts; one rounded division.
    *
    * Scale shape: both input plans are the gated ones (corpus scan ×
    * broadcast queries); the intersection joins two ≤ NQueries·K
    * relations.
    */
  def annRecall(s: SparkSession, dir: String): DataFrame = {
    val exact = topkExact(s, dir).select(col("q_id"), col("vec_id"))
    val ann = annTopk(s, dir)
      .select(col("q_id").as("a_q"), col("vec_id").as("a_vec"))
    val hits = exact
      .join(ann, col("q_id") === col("a_q") && col("vec_id") === col("a_vec"))
      .groupBy(col("q_id")).agg(count(lit(1)).as("n_hits"))
    exact.groupBy(col("q_id")).agg(count(lit(1)).as("k"))
      .join(hits, Seq("q_id"), "left")
      .select(col("q_id"), coalesce(col("n_hits"), lit(0L)).as("n_hits"),
        round(coalesce(col("n_hits"), lit(0L)).cast(DoubleType) /
          col("k").cast(DoubleType), 6).as("recall"))
      .orderBy(col("q_id"))
  }

  val annRecallOracle: String = {
    val vBands = (0 until Bands).map(b => s"${bandKeySql("emb", b)} AS b$b").mkString(", ")
    val anyBand = (0 until Bands).map(b => s"x.b$b = q.b$b").mkString(" OR ")
    s"""WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
       |ex AS (
       |  SELECT q_id, vec_id FROM (
       |    SELECT q.vec_id AS q_id, x.vec_id,
       |      ROW_NUMBER() OVER (PARTITION BY q.vec_id
       |        ORDER BY round(list_cosine_similarity(x.emb, q.emb), 9) DESC,
       |          x.vec_id) AS rank
       |    FROM v x JOIN v q ON x.vec_id <> q.vec_id
       |      AND q.vec_id < $NQueries)
       |  WHERE rank <= $K),
       |k AS (SELECT vec_id, emb, $vBands FROM v),
       |qb AS (SELECT * FROM k WHERE vec_id < $NQueries),
       |ann AS (
       |  SELECT q_id, vec_id FROM (
       |    SELECT q.vec_id AS q_id, x.vec_id,
       |      ROW_NUMBER() OVER (PARTITION BY q.vec_id
       |        ORDER BY round(list_cosine_similarity(x.emb, q.emb), 9) DESC,
       |          x.vec_id) AS rank
       |    FROM k x JOIN qb q ON x.vec_id <> q.vec_id AND ($anyBand))
       |  WHERE rank <= $K),
       |hits AS (
       |  SELECT ex.q_id, COUNT(*) AS n_hits
       |  FROM ex JOIN ann ON ex.q_id = ann.q_id AND ex.vec_id = ann.vec_id
       |  GROUP BY 1)
       |SELECT e.q_id, CAST(COALESCE(h.n_hits, 0) AS BIGINT) AS n_hits,
       |  round(CAST(COALESCE(h.n_hits, 0) AS DOUBLE)
       |    / CAST(COUNT(*) AS DOUBLE), 6) AS recall
       |FROM ex e LEFT JOIN hits h USING (q_id)
       |GROUP BY e.q_id, h.n_hits
       |ORDER BY e.q_id""".stripMargin
  }

  // ---------------------------------------------------------------------
  // Scalar quantization (SQ8) top-k — the FAISS SQ8 memory-cut path
  // ---------------------------------------------------------------------

  /** Int8 scalar quantization ANN (the FAISS/inference-runtime
    * symmetric-SQ path): L2-normalize each vector, learn ONE global
    * scale `s = max |coordinate|` over the normalized corpus, and map
    * every coordinate to an integer code `floor(x·127/s + 0.5)` in
    * [−127, 127]. Because the scale is shared by every dimension, the
    * INTEGER code dot product is a monotone estimate of cosine
    * ((127/s)²·cos up to quantization noise — Round13GatesSpec
    * measures 5/5 overlap with the exact top-5), and it is ≤ 64·127²
    * ≈ 1.03e6 — exact in both BIGINT and double, so scores cross
    * engines bit-identically with NO rounding recipe. A per-dim
    * min/max trainer (asymmetric SQ) was tried and rejected: the
    * per-dim affine shifts destroy the cosine ordering (0.25/5
    * overlap).
    *
    * Quantization determinism: `floor(x·127/s + 0.5)` is a fixed-order
    * double expression both engines evaluate identically (floor has no
    * HALF_UP ambiguity; the +0.5 device sidesteps engine-specific
    * round() semantics).
    *
    * Scale shape: the trainer folds to a 1-row broadcast (it IS the
    * index metadata, 8 bytes); quantization is a narrow map; the query
    * side is the ≤ NQueries-row broadcast scan of [[topkExact]] but
    * over 1-byte codes. At 100 TB the code table is the only
    * full-width scan and it is 4× smaller than float32.
    */
  def sq8Topk(s: SparkSession, dir: String): DataFrame = {
    val base = emb(s, dir)
    val normed = base.select(col("vec_id"),
      transform(col("emb"), x => x / col("nrm")).as("xn"))
    val scaleRow = normed
      .select(aggregate(col("xn"), lit(0.0),
        (a, x) => greatest(a, abs(x))).as("mabs"))
      .agg(max(col("mabs")).as("s"))
    val codes = normed.crossJoin(broadcast(scaleRow))
      .select(col("vec_id"),
        transform(col("xn"),
          x => floor(x * lit(127.0) / col("s") + lit(0.5))
            .cast(DoubleType)).as("code"))
    val queries = codes.filter(col("vec_id") < NQueries)
      .select(col("vec_id").as("q_id"), col("code").as("q_code"))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("score").desc, col("vec_id"))
    codes.join(broadcast(queries), col("vec_id") =!= col("q_id"))
      .withColumn("score", dot(col("code"), col("q_code")).cast(LongType))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= K)
      .select(col("q_id"), col("rank"), col("vec_id"), col("score"))
      .orderBy(col("q_id"), col("rank"))
  }

  val sq8TopkOracle: String =
    s"""WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
       |n AS (
       |  SELECT vec_id,
       |    list_transform(emb,
       |      z -> z / sqrt(list_dot_product(emb, emb))) AS xn
       |  FROM v),
       |sc AS (
       |  SELECT max(list_aggregate(list_transform(xn, z -> abs(z)), 'max'))
       |    AS s
       |  FROM n),
       |codes AS (
       |  SELECT vec_id,
       |    list_transform(xn, z -> floor(z * 127.0 / s + 0.5)) AS code
       |  FROM n CROSS JOIN sc),
       |scored AS (
       |  SELECT q.vec_id AS q_id, x.vec_id,
       |    CAST(list_dot_product(x.code, q.code) AS BIGINT) AS score,
       |    ROW_NUMBER() OVER (PARTITION BY q.vec_id
       |      ORDER BY list_dot_product(x.code, q.code) DESC, x.vec_id) AS rank
       |  FROM codes x JOIN codes q
       |    ON x.vec_id <> q.vec_id AND q.vec_id < $NQueries)
       |SELECT q_id, rank, vec_id, score
       |FROM scored WHERE rank <= $K ORDER BY q_id, rank""".stripMargin

  // ---------------------------------------------------------------------
  // kNN label classification — the embedding-quality probe
  // ---------------------------------------------------------------------

  private val KnnTestSplit = 64 // vec_id < split classify against the rest

  /** kNN majority-vote classification over the labeled embedding table:
    * vectors below [[KnnTestSplit]] are the test split, classified by
    * the majority label of their 5 nearest train-split neighbors
    * (cosine) — the standard "are these embeddings any good" probe a
    * training pipeline runs after every encoder change. Votes are
    * integers and the label argmax breaks ties by smaller label, so
    * the prediction is deterministic once the neighbor set is (the
    * round(cos, 9) + vec_id ranking recipe of [[topkExact]]).
    *
    * Scale shape: the test split is a constant-bounded broadcast scan
    * (same shape as [[topkExact]]); at corpus scale the exact scorer
    * swaps for the IVF/LSH candidate generators above — the vote and
    * argmax stages are unchanged (they see only q×K rows).
    */
  def knnClassify(s: SparkSession, dir: String): DataFrame = {
    graft.functions.VectorFunctions.register(s)
    val labeled = Tables.t(s, dir, "embeddings")
      .select(col("vec_id"),
        col("embedding").cast(ArrayType(DoubleType)).as("emb"),
        col("label").cast(LongType).as("label"))
      .withColumn("nrm", sqrt(dot(col("emb"), col("emb"))))
    val train = labeled.filter(col("vec_id") >= KnnTestSplit)
    val test = labeled.filter(col("vec_id") < KnnTestSplit)
      .select(col("vec_id").as("q_id"), col("emb").as("q_emb"),
        col("nrm").as("q_nrm"), col("label").as("true_label"))
    val wRank = Window.partitionBy(col("q_id"))
      .orderBy(round(col("cos"), 9).desc, col("vec_id"))
    val neighbors = train.join(broadcast(test), col("vec_id") =!= col("q_id"))
      .withColumn("cos",
        dot(col("emb"), col("q_emb")) / (col("nrm") * col("q_nrm")))
      .withColumn("rank", row_number().over(wRank))
      .filter(col("rank") <= K)
    val wVote = Window.partitionBy(col("q_id"))
      .orderBy(col("votes").desc, col("label"))
    neighbors
      .groupBy(col("q_id"), col("true_label"), col("label"))
      .agg(count(lit(1)).as("votes"))
      .withColumn("vr", row_number().over(wVote))
      .filter(col("vr") === 1)
      .select(col("q_id"), col("true_label"),
        col("label").as("pred_label"), col("votes"),
        (col("label") === col("true_label")).cast(LongType).as("correct"))
      .orderBy(col("q_id"))
  }

  val knnClassifyOracle: String =
    s"""WITH v AS (
       |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb,
       |    CAST(label AS BIGINT) AS label
       |  FROM embeddings),
       |nb AS (
       |  SELECT q_id, true_label, label FROM (
       |    SELECT q.vec_id AS q_id, q.label AS true_label, x.label,
       |      ROW_NUMBER() OVER (PARTITION BY q.vec_id
       |        ORDER BY round(list_cosine_similarity(x.emb, q.emb), 9) DESC,
       |          x.vec_id) AS rank
       |    FROM v x JOIN v q
       |      ON x.vec_id >= $KnnTestSplit AND q.vec_id < $KnnTestSplit)
       |  WHERE rank <= $K),
       |votes AS (
       |  SELECT q_id, true_label, label, COUNT(*) AS votes,
       |    ROW_NUMBER() OVER (PARTITION BY q_id
       |      ORDER BY COUNT(*) DESC, label) AS vr
       |  FROM nb GROUP BY 1, 2, 3)
       |SELECT q_id, true_label, label AS pred_label, votes,
       |  CAST(label = true_label AS BIGINT) AS correct
       |FROM votes WHERE vr = 1 ORDER BY q_id""".stripMargin

  val defs: Seq[QueryDef] = Seq(
    QueryDef("sim_sq8_topk", sq8Topk, Some(sq8TopkOracle)),
    QueryDef("sim_knn_classify", knnClassify, Some(knnClassifyOracle)),
    QueryDef("sim_ann_recall", annRecall, Some(annRecallOracle)),
    QueryDef("sim_mmr_rerank", mmrRerank, Some(mmrRerankOracle)),
    QueryDef("sim_topk_exact", topkExact, Some(topkExactOracle)),
    QueryDef("sim_prefix_rerank", prefixRerank, Some(prefixRerankOracle)),
    QueryDef("sim_pq_adc", pqAdcTopk, Some(pqAdcTopkOracle)),
    QueryDef("sim_ivfpq_topk", ivfPqTopk, Some(ivfPqTopkOracle)),
    QueryDef("sim_range_search", rangeSearch, Some(rangeSearchOracle)),
    QueryDef("sim_ann_lsh", annTopk, Some(annTopkOracle)),
    QueryDef("sim_ivf_topk", ivfTopk, Some(ivfTopkOracle)),
    QueryDef("sim_ivf_delta", ivfDeltaTopk, Some(ivfDeltaTopkOracle)),
    QueryDef("dd_embed_neardup", embedNearDup, Some(embedNearDupOracle)),
    QueryDef("dd_semdedup_keep", semdedupKeep, Some(semdedupKeepOracle)),
  )
}
