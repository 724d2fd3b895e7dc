package graft.queries

import graft.{QueryDef, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType}

/** Sketch operators: the approximate structures a 100 TB pipeline uses
  * where exact answers are too expensive to shuffle — distinct-count
  * (KMV), frequency / heavy-hitters (count-min), and membership-based
  * join pruning (Bloom). The reference stack delegates cardinality
  * estimates to its warehouse (ravelytics serves aggregates out of
  * ClickHouse, which has uniqCombined/topK built in); here they are
  * first-class engine operators.
  *
  * Engine-reproducibility is the design constraint that shapes all
  * three: the sketches hash with md5 → 15-hex-digit prefix → BIGINT
  * (a 60-bit uniform draw both Spark and DuckDB can derive
  * bit-identically; xxhash64 is Spark-only), so every estimate is
  * DuckDB-oracled EXACTLY — the gate pins the estimator, not a
  * tolerance band. In production the hash would be xxhash64 and the
  * membership sketch Spark's native BloomFilterAggregate; the
  * relational shape (and the scale analysis) is identical.
  *
  * Scale design:
  *  - KMV keeps k=256 rows per group — a bounded per-group state no
  *    matter the corpus, the reason sketches exist. The row_number
  *    rank compiles to WindowGroupLimit (top-k per key, no full sort).
  *  - Count-min is built over the TERM-FREQUENCY relation (one hash
  *    agg over tokens), then d=4 bucket rows per DISTINCT term — the
  *    sketch build never rescans token instances.
  *  - The Bloom bitset is a ≤m-row relation: broadcast it and the
  *    probe side prunes scan-side with zero shuffle of the big table —
  *    the pattern that turns a 100 TB semi-join into a broadcast.
  */
object Sketches {

  /** md5-derived 60-bit uniform hash both engines reproduce exactly:
    * Spark `conv(substr(md5(s),1,15),16,10)`; DuckDB folds the same 15
    * hex digits with list_reduce (no conv builtin). 16^15 = 2^60 keeps
    * the fold inside BIGINT.
    */
  private[graft] def h60(c: Column): Column =
    conv(substring(md5(c), 1, 15), 16, 10).cast("long")

  /** The DuckDB rendering of [[h60]] over SQL expression `e`. The
    * per-digit CAST keeps the fold in BIGINT (values reach 2^60).
    */
  private[graft] def h60Sql(e: String): String =
    s"""list_reduce(list_transform(string_split(substr(md5($e),1,15),''),
       |    c -> CAST(strpos('0123456789abcdef', c) - 1 AS BIGINT)), (a,b) -> a*16 + b)""".stripMargin

  // ---------------------------------------------------------------- KMV

  // single source of truth: the relational derivation and the typed
  // Aggregator must cut at the same k or kmvAgg's saturation check
  // diverges from the sketch it reads (ADVICE r6)
  private val KmvK = graft.functions.KmvSketch.K

  /** The KMV sketch STATE: ≤k rows per group, whatever the corpus size
    * — exposed so ScaleBench can pin its cardinality constant at 10×.
    */
  private[graft] def kmvState(s: SparkSession, dir: String): DataFrame =
    kmvStateWith(s, dir, keyH60)

  private def keyH60(key: Column): Column = h60(key.cast("string"))

  // one hash → distinct → top-k body for both hash twins
  private def kmvStateWith(s: SparkSession, dir: String,
                           hash: Column => Column): DataFrame = {
    val hashes = Tables.t(s, dir, "lineitem")
      .select(col("l_returnflag").as("grp"), hash(col("l_orderkey")).as("h"))
      .distinct()
    val w = Window.partitionBy(col("grp")).orderBy(col("h"))
    hashes.withColumn("rn", row_number().over(w)).filter(col("rn") <= KmvK)
  }

  /** The KMV readout shared by every twin: `kmv` is (grp, k_seen, kth);
    * groups smaller than k report the exact count they saw, saturated
    * groups `saturated(kth)`, next to the exact distinct count.
    */
  private def kmvReadout(s: SparkSession, dir: String, kmv: DataFrame,
                         saturated: Column => Column): DataFrame = {
    val exact = Tables.t(s, dir, "lineitem").groupBy(col("l_returnflag").as("grp"))
      .agg(countDistinct(col("l_orderkey")).as("n_exact"))
    kmv.join(exact, "grp")
      .select(col("grp"), col("n_exact"),
        round(
          when(col("k_seen") < KmvK, col("k_seen").cast("double"))
            .otherwise(saturated(col("kth").cast("double"))),
          6).as("n_est"))
      .orderBy(col("grp"))
  }

  private def kmvDistinctWith(s: SparkSession, dir: String, hash: Column => Column,
                              saturated: Column => Column): DataFrame =
    kmvReadout(s, dir,
      kmvStateWith(s, dir, hash).groupBy(col("grp"))
        .agg(count(lit(1)).as("k_seen"), max(col("h")).as("kth")),
      saturated)

  /** K-minimum-values distinct-count sketch (Bar-Yossef et al. 2002),
    * per l_returnflag group: keep the k smallest distinct hash values;
    * if the kth smallest normalized hash is R, the group holds ≈ k/R
    * distinct keys. Output pins BOTH the exact count and the estimate,
    * so the gate verifies the estimator end-to-end (hash, top-k cut,
    * harmonic estimate) rather than an error tolerance.
    *
    * Determinism audit: (k-1)·2^60 is an exact double (8 significant
    * bits); the kth-hash long→double cast and the division are IEEE
    * round-to-nearest in both engines; round(,6) guards the boundary.
    * Groups smaller than k short-circuit to the exact count (the
    * sketch saw every value).
    */
  def kmvDistinct(s: SparkSession, dir: String): DataFrame =
    kmvDistinctWith(s, dir, keyH60, kmvEst60)

  // (k−1)·2^60 / kth: the md5 twin's kth hash is uniform on [0, 2^60)
  private def kmvEst60(kth: Column): Column =
    lit((KmvK - 1).toDouble * math.pow(2, 60)) / kth

  /** The same KMV estimate computed by the typed one-pass
    * [[graft.functions.KmvSketch]] Aggregator (map-side partial merge:
    * each partition ships ≤k longs instead of its whole distinct hash
    * set — the 100 TB shape). Gated against the IDENTICAL oracle as
    * [[kmvDistinct]]: two independent implementations, one truth.
    */
  def kmvAgg(s: SparkSession, dir: String): DataFrame = {
    val sketch = udaf(graft.functions.KmvSketch)
    val kmv = Tables.t(s, dir, "lineitem")
      .select(col("l_returnflag").as("grp"), keyH60(col("l_orderkey")).as("h"))
      .groupBy(col("grp"))
      .agg(sketch(col("h")).as("mins"))
      .select(col("grp"), size(col("mins")).cast("long").as("k_seen"),
        element_at(col("mins"), -1).as("kth"))
    kmvReadout(s, dir, kmv, kmvEst60)
  }

  private val kmvOracle: String =
    s"""WITH h AS (
       |  SELECT DISTINCT l_returnflag AS grp,
       |    ${h60Sql("CAST(l_orderkey AS VARCHAR)")} AS h
       |  FROM lineitem),
       |kmv AS (
       |  SELECT grp, count(*) AS k_seen, max(h) AS kth FROM (
       |    SELECT grp, h, row_number() OVER (PARTITION BY grp ORDER BY h) AS rn FROM h) t
       |  WHERE rn <= $KmvK GROUP BY grp),
       |ex AS (SELECT l_returnflag AS grp, count(DISTINCT l_orderkey) AS n_exact
       |       FROM lineitem GROUP BY grp)
       |SELECT grp, n_exact,
       |  round(CASE WHEN k_seen < $KmvK THEN CAST(k_seen AS DOUBLE)
       |    ELSE CAST(${KmvK - 1} AS DOUBLE) * CAST(1152921504606846976 AS DOUBLE)
       |         / CAST(kth AS DOUBLE) END, 6) AS n_est
       |FROM kmv JOIN ex USING (grp) ORDER BY grp""".stripMargin

  // ---------------------------------------------------------- count-min

  // width sized against the synthetic corpus's 31-token vocabulary so
  // the gate actually exercises the collision path (w=32 → exactly the
  // regime where min-of-d matters; w≥64 would pin only the no-collision
  // identity case). Production sizing is w = ceil(e/ε) for ε relative
  // error — the shape is width-independent.
  private val CmDepth = 4
  private val CmWidth = 32
  private val CmTopK = 20

  /** The count-min sketch STATE: ≤ d×w rows regardless of corpus —
    * exposed for the ScaleBench cardinality pin.
    */
  private[graft] def countMinState(s: SparkSession, dir: String): DataFrame =
    cmState(cmKeyed(cmTf(s, dir), h60))

  private def cmTf(s: SparkSession, dir: String): DataFrame =
    Tables.t(s, dir, "documents")
      .select(explode(split(col("text"), " ")).as("token"))
      .filter(length(col("token")) > 0)
      .groupBy(col("token")).agg(count(lit(1)).as("cnt"))

  // the d salted rows of each term: `hash` over the salted term, pmod'd
  // into the bucket range (pmod, not %, so a signed hash stays in range)
  private def cmKeyed(tf: DataFrame, hash: Column => Column): DataFrame =
    tf.select(col("token"), col("cnt"),
        explode(array((0 until CmDepth).map(lit(_)): _*)).as("r"))
      .withColumn("bucket",
        pmod(hash(concat_ws(":", col("r"), col("token"))), lit(CmWidth.toLong)))

  private def cmState(keyed: DataFrame): DataFrame =
    keyed.groupBy(col("r"), col("bucket")).agg(sum(col("cnt")).as("bcnt"))

  /** Count-min sketch (Cormode & Muthukrishnan 2005) heavy-hitter
    * estimates: d=4 salted hash rows × w=32 buckets over the
    * documents token stream; a term's estimate is the MIN of its d
    * bucket counts (always ≥ truth — the one-sided error the gate can
    * assert exactly). Output: the top-20 true heavy hitters with exact
    * and estimated counts side by side.
    *
    * The sketch is built from the term-frequency relation (one hash
    * aggregate over tokens), so the d-fold expansion touches DISTINCT
    * terms only — at corpus scale the token stream is huge, the
    * vocabulary is not.
    */
  def countMinTopk(s: SparkSession, dir: String): DataFrame =
    countMinTopkWith(s, dir, h60)

  // one sketch → top-k → estimate body for both hash twins
  private def countMinTopkWith(s: SparkSession, dir: String,
                               hash: Column => Column): DataFrame = {
    val tf = cmTf(s, dir)
    val keyed = cmKeyed(tf, hash)
    val cms = cmState(keyed)
    val top = tf.orderBy(col("cnt").desc, col("token")).limit(CmTopK)
    top
      .join(keyed.select(col("token"), col("r"), col("bucket")), "token")
      .join(cms, Seq("r", "bucket"))
      .groupBy(col("token"), col("cnt"))
      .agg(min(col("bcnt")).as("est_cnt"))
      .select(col("token"), col("cnt").as("exact_cnt"), col("est_cnt"))
      .orderBy(col("exact_cnt").desc, col("token"))
  }

  private val countMinOracle: String =
    s"""WITH toks AS (SELECT unnest(string_split(text, ' ')) AS token FROM documents),
       |tf AS (SELECT token, count(*) AS cnt FROM toks WHERE len(token) > 0 GROUP BY token),
       |keyed AS (
       |  SELECT token, cnt, r,
       |    ${h60Sql("CAST(r AS VARCHAR) || ':' || token")} % $CmWidth AS bucket
       |  FROM tf, (SELECT unnest([${(0 until CmDepth).mkString(",")}]) AS r) rr),
       |cms AS (SELECT r, bucket, CAST(sum(cnt) AS BIGINT) AS bcnt
       |        FROM keyed GROUP BY r, bucket),
       |top AS (SELECT token, cnt FROM tf ORDER BY cnt DESC, token LIMIT $CmTopK)
       |SELECT t.token, t.cnt AS exact_cnt, min(c.bcnt) AS est_cnt
       |FROM top t JOIN keyed k USING (token)
       |  JOIN cms c ON k.r = c.r AND k.bucket = c.bucket
       |GROUP BY t.token, t.cnt
       |ORDER BY exact_cnt DESC, token""".stripMargin

  // -------------------------------------------------------------- Bloom

  // m=512 bits keeps the filter selective across the testdata scales
  // (load ≈ 0.23 at sf0.1's ~40-supplier member set); BloomSpec drives
  // a deliberately saturated filter to pin the false-positive path.
  private val BloomBits = 512
  private val BloomSalts = 3

  /** Bloom-filter semi-join pruning: build an m=512-bit, k=3-salt
    * membership sketch over the suppliers of one nation, probe every
    * distinct lineitem supplier against it, and emit each candidate
    * with its exact membership verdict — so the gate pins the sketch's
    * no-false-negative guarantee (every member IS a candidate) and its
    * exact false-positive set.
    *
    * Scale shape: the bitset is a ≤m-row relation — broadcast it and
    * the probe is a scan-side filter on the big table, no shuffle. The
    * candidates (tiny by construction) then take the exact verify
    * join. This is how a 100 TB fact scan prunes against a selective
    * dimension without shuffling the fact table.
    */
  private def bloomMembers(s: SparkSession, dir: String): DataFrame =
    Tables.t(s, dir, "supplier")
      .filter(col("s_nationkey") === 1)
      .select(col("s_suppkey").as("key")).distinct()

  private def bloomPositions(df: DataFrame): DataFrame = df
    .select(col("key"), explode(array((0 until BloomSalts).map(lit(_)): _*)).as("i"))
    .withColumn("pos",
      pmod(h60(concat_ws(":", col("i"), col("key").cast("string"))), lit(BloomBits.toLong)))

  /** The Bloom sketch STATE: the ≤m-row set-bit relation — exposed for
    * the ScaleBench cardinality pin.
    */
  private[graft] def bloomState(s: SparkSession, dir: String): DataFrame =
    bloomPositions(bloomMembers(s, dir)).select(col("pos")).distinct()

  def bloomSemijoin(s: SparkSession, dir: String): DataFrame = {
    val members = bloomMembers(s, dir)
    def positions(df: DataFrame): DataFrame = bloomPositions(df)
    // the sketch: the SET of set bit positions, as a relation
    val bits = bloomState(s, dir)
    val probe = Tables.t(s, dir, "lineitem")
      .select(col("l_suppkey").as("key")).distinct()
    // a key is a candidate iff ALL its salt positions are set
    val candidates = positions(probe)
      .join(bits, "pos")
      .groupBy(col("key")).agg(count(lit(1)).as("hits"))
      .filter(col("hits") === BloomSalts)
      .select(col("key"))
    candidates
      .join(members.withColumn("is_member", lit(1)), Seq("key"), "left")
      .select(col("key"), coalesce(col("is_member"), lit(0)).as("is_member"))
      .orderBy(col("key"))
  }

  private val bloomOracle: String =
    s"""WITH members AS (
       |  SELECT DISTINCT s_suppkey AS key FROM supplier WHERE s_nationkey = 1),
       |salts AS (SELECT unnest([${(0 until BloomSalts).mkString(",")}]) AS i),
       |bits AS (
       |  SELECT DISTINCT
       |    ${h60Sql("CAST(i AS VARCHAR) || ':' || CAST(key AS VARCHAR)")} % $BloomBits AS pos
       |  FROM members, salts),
       |probe AS (SELECT DISTINCT l_suppkey AS key FROM lineitem),
       |cand AS (
       |  SELECT key FROM (
       |    SELECT p.key,
       |      ${h60Sql("CAST(i AS VARCHAR) || ':' || CAST(key AS VARCHAR)")} % $BloomBits AS pos
       |    FROM probe p, salts) q
       |  JOIN bits USING (pos)
       |  GROUP BY key HAVING count(*) = $BloomSalts)
       |SELECT c.key, CASE WHEN m.key IS NULL THEN 0 ELSE 1 END AS is_member
       |FROM cand c LEFT JOIN members m ON c.key = m.key
       |ORDER BY c.key""".stripMargin

  // ---------------------------------------------- production-hash twins
  //
  // The oracle-gated family above hashes md5→60-bit so DuckDB can
  // reproduce every estimate bit-exactly — the right device for a
  // correctness gate, the wrong per-row cost for a 100 TB scan. These
  // twins keep the identical relational shape and output schema but
  // hash with codegen'd xxhash64 (and probe membership through Spark's
  // native BloomFilter sketch). Not DuckDB-expressible → SketchesSpec
  // pins their PROPERTIES (error bound vs exact, one-sided error, no
  // false negatives) instead of an oracle hash; they're registered as
  // rows-only driver entries so the bench carries the cheaper-hash
  // timing next to the md5 twin (VERDICT r6 #6).

  /** xxhash64 in UNSIGNED order: xor with Long.MinValue maps unsigned
    * rank onto signed order, so ORDER BY/max() pick the true kth
    * smallest unsigned hash and the KMV position algebra stays exact.
    */
  private def hxx(c: Column): Column =
    xxhash64(c).bitwiseXOR(lit(Long.MinValue))

  /** [[kmvDistinct]] with the production hash. The kth hash's unsigned
    * position is R = (kth + 2^63)/2^64; estimate (k-1)/R. Double
    * rounding on the shift is harmless — it perturbs an estimator that
    * already carries 1/sqrt(k) relative error.
    */
  def kmvDistinctXx(s: SparkSession, dir: String): DataFrame =
    kmvDistinctWith(s, dir, hxx,
      kth => lit((KmvK - 1).toDouble) /
        ((kth + lit(math.pow(2, 63))) / lit(math.pow(2, 64))))

  /** [[countMinTopk]] with the production hash: the d salted rows come
    * from xxhash64 over the salted term, pmod'd into the bucket range
    * (pmod, not %, because xxhash64 is signed).
    */
  def countMinTopkXx(s: SparkSession, dir: String): DataFrame =
    countMinTopkWith(s, dir, c => xxhash64(c))

  /** [[bloomSemijoin]] through Spark's NATIVE BloomFilter sketch (the
    * machinery behind runtime row-level filtering): the member side
    * aggregates into ONE serialized filter via the distributed
    * `bloom_filter_agg` TypedImperativeAggregate (map-side partial
    * filters OR-merged — the sketch, not the members, crosses the
    * wire), the ~KB result becomes a foldable literal (the
    * broadcastable index), and the probe side evaluates the codegen'd
    * `might_contain` SCAN-SIDE — no shuffle of the probe relation.
    * Surviving candidates take the exact verify join. Build and probe
    * both hash `xxhash64(key)`, the BloomFilterAggregate contract.
    */
  def bloomSemijoinNative(s: SparkSession, dir: String): DataFrame = {
    graft.functions.VectorFunctions.register(s) // idempotent
    val members = Tables.t(s, dir, "supplier")
      .filter(col("s_nationkey") === 1)
      .select(col("s_suppkey").as("key")).distinct()
    // 4096 expected items / 64Ki bits ≈ the 1% fpp operating point
    val bytes = members
      .agg(call_function("bloom_filter_agg",
        xxhash64(col("key")), lit(4096L), lit(65536L)).as("bf"))
      .head().getAs[Array[Byte]]("bf")
    Tables.t(s, dir, "lineitem")
      .select(col("l_suppkey").as("key")).distinct()
      .filter(call_function("might_contain", lit(bytes), xxhash64(col("key"))))
      .join(members.withColumn("is_member", lit(1)), Seq("key"), "left")
      .select(col("key"), coalesce(col("is_member"), lit(0)).as("is_member"))
      .orderBy(col("key"))
  }

  // ------------------------------------------------- sampled quantiles

  private val QrK = 64

  /** Quantile estimation from a BOUNDED consistent sample: per group,
    * the reservoir is the [[QrK]] rows with the smallest [[h60]] hash
    * of the row key — a uniform without-replacement sample that is (a)
    * deterministic, so the oracle replays it row-for-row, and (b)
    * CONSISTENT under re-execution and across overlapping queries (the
    * same rows are sampled every time — hash-rank sampling, the same
    * device production systems use for repeatable samples). The p50
    * estimate is the sample's middle order statistic, reported next to
    * the exact interpolated median so the gate pins estimator AND
    * error surface.
    *
    * Scale shape: the rank filter compiles to WindowGroupLimit (top-k
    * by hash per group, partial per shuffle side — no full sort), so
    * O(k) rows per group cross the wire no matter the corpus; the
    * exact column exists for the gate and would be dropped at 100 TB —
    * the estimator never touches more than the reservoir.
    */
  // one estimator body for both hash twins: any estimator change
  // (the middle-order-statistic pick, the sample window) applies to
  // the gated md5 twin and the bench xxhash twin identically
  private def reservoirEst(s: SparkSession, dir: String,
      rank: org.apache.spark.sql.Column => org.apache.spark.sql.Column): DataFrame = {
    val li = Tables.t(s, dir, "lineitem")
      .select(col("l_returnflag").as("grp"), col("l_extendedprice").as("v"),
        rank(concat_ws(":", col("l_orderkey"), col("l_linenumber"), lit("qr"))).as("rk"))
    li
      .withColumn("rn", row_number().over(Window.partitionBy(col("grp")).orderBy(col("rk"))))
      .filter(col("rn") <= QrK)
      .withColumn("vr", row_number().over(
        Window.partitionBy(col("grp")).orderBy(col("v"), col("rk"))))
      .filter(col("vr") === QrK / 2)
      .select(col("grp"), col("v").cast("double").as("p50_est"))
  }

  def quantileReservoir(s: SparkSession, dir: String): DataFrame = {
    // exact leg on the sparse histogram regime; the row
    // count rides the device's own group total — no second count scan
    val li = Tables.t(s, dir, "lineitem")
      .select(col("l_returnflag").as("grp"), col("l_extendedprice").as("v"))
    val exact = Pctl.dist(li, Seq("grp"), "v", Seq("p50_exact" -> 0.5),
      countAs = Some("n_rows"))
    exact.join(reservoirEst(s, dir, h60), "grp")
      .select(col("grp"), col("n_rows"), col("p50_exact"), col("p50_est"))
      .orderBy(col("grp"))
  }

  val quantileReservoirOracle: String =
    s"""WITH s AS (
       |  SELECT l_returnflag AS grp, l_extendedprice AS v,
       |    ${h60Sql("CAST(l_orderkey AS VARCHAR) || ':' || CAST(l_linenumber AS VARCHAR) || ':qr'")} AS rk
       |  FROM lineitem),
       |samp AS (SELECT * FROM (
       |  SELECT grp, v, rk, ROW_NUMBER() OVER (PARTITION BY grp ORDER BY rk) AS rn FROM s)
       |  WHERE rn <= $QrK),
       |est AS (SELECT grp, CAST(v AS DOUBLE) AS p50_est FROM (
       |  SELECT grp, v, ROW_NUMBER() OVER (PARTITION BY grp ORDER BY v, rk) AS vr FROM samp)
       |  WHERE vr = ${QrK / 2}),
       |ex AS (SELECT l_returnflag AS grp, COUNT(l_extendedprice) AS n_rows,
       |  ${Pctl.sql("l_extendedprice", 0.5)} AS p50_exact
       |  FROM lineitem GROUP BY 1)
       |SELECT ex.grp, n_rows, p50_exact, p50_est
       |FROM ex JOIN est ON ex.grp = est.grp ORDER BY ex.grp""".stripMargin

  // ---------------------------------------------------------------- HLL

  private val HllM = 64 // registers (p = 6)
  // α₆₄·m²·2⁵⁵ precomputed in Scala and rendered as ONE literal into
  // BOTH engines' expressions (α₆₄ = 0.709, the Flajolet et al. 2007
  // constant for m = 64) — identical parse, identical double, so the
  // raw estimate is a single correctly-rounded division everywhere
  private val HllNum: String = (0.709 * HllM * HllM * math.pow(2, 55)).toString
  private val Pow54 = 18014398509481984L // 2^54

  /** HyperLogLog distinct-customer estimate (Flajolet et al. 2007)
    * with m = 64 registers over the [[h60]] md5 hash: bucket = top 6
    * hash bits, register = max leading-zero rank of the remaining 54
    * (computed INTEGER-exactly as 55 − bitlength via `bin()` string
    * length — no float log anywhere in the register path), estimate =
    * α·m²/Σ2^−M with the linear-counting small-range correction. The
    * 2^−M sum is scaled by 2⁵⁵ into exact BIGINTs (order-free), so
    * the only doubles are one division and the correction's ln.
    *
    * The gate pins the ESTIMATOR end-to-end like [[kmvDistinct]]:
    * registers array + exact count + estimate + signed relative error
    * in one row. 64 registers ≈ 13% typical error — the m that fits
    * the fixture; production raises p, nothing else changes.
    *
    * Scale shape: one orders scan → 64-register hash aggregate with
    * map-side combine (registers merge by MAX — the reason HLL
    * distributes); everything after runs on ≤64 rows. The 100 TB
    * deployment point: per-partition register blocks merge
    * associatively, no distinct shuffle of the key relation at all.
    */
  def hllDistinct(s: SparkSession, dir: String): DataFrame = {
    val orders = Tables.t(s, dir, "orders")
    val rows = orders
      .select(h60(col("o_custkey").cast("string")).as("h"))
      .select(expr(s"h DIV $Pow54").as("bucket"),
        pmod(col("h"), lit(Pow54)).as("w"))
      .select(col("bucket"),
        when(col("w") === 0, lit(55L))
          .otherwise(lit(55L) - length(bin(col("w"))).cast(LongType))
          .as("rank"))
    val regs = rows.groupBy(col("bucket")).agg(max(col("rank")).as("mr"))
    val full = s.range(HllM).toDF("bucket")
      .join(regs, Seq("bucket"), "left")
      .select(col("bucket"), coalesce(col("mr"), lit(0L)).as("mr"))
    val exact = orders.agg(
      countDistinct(col("o_custkey")).as("n_exact"))
    val est = when(
      lit(HllNum).cast(DoubleType) / col("s_scaled").cast(DoubleType)
        <= 2.5 * HllM && col("v_zero") > 0,
      round(lit(HllM.toDouble) *
        log(lit(HllM.toDouble) / col("v_zero").cast(DoubleType)), 6))
      .otherwise(round(
        lit(HllNum).cast(DoubleType) / col("s_scaled").cast(DoubleType), 6))
    full.agg(
        sum(expr("CAST(pow(2, 55 - mr) AS BIGINT)")).as("s_scaled"),
        sum(when(col("mr") === 0, 1L).otherwise(0L)).as("v_zero"),
        transform(array_sort(collect_list(struct(col("bucket"), col("mr")))),
          t => t.getField("mr")).as("registers"))
      .crossJoin(broadcast(exact))
      // '|'-joined canonical string, NOT the raw array: the driver's
      // pandas comparator cannot hash ndarray cells (CORRECTNESS_r01
      // convention; r13's one red gate was exactly this column).
      .select(lit(HllM.toLong).as("m"), col("n_exact"), col("v_zero"),
        col("s_scaled"),
        array_join(col("registers"), "|").as("registers"),
        est.as("estimate"),
        round((est - col("n_exact").cast(DoubleType)) /
          col("n_exact").cast(DoubleType), 6).as("rel_error"))
  }

  val hllOracle: String =
    s"""WITH h AS (
       |  SELECT ${h60Sql("CAST(o_custkey AS VARCHAR)")} AS h FROM orders),
       |r AS (
       |  SELECT h // $Pow54 AS bucket, h % $Pow54 AS w FROM h),
       |rk AS (
       |  SELECT bucket,
       |    CASE WHEN w = 0 THEN 55
       |      ELSE 55 - CAST(length(bin(w)) AS BIGINT) END AS rank
       |  FROM r),
       |regs AS (SELECT bucket, MAX(rank) AS mr FROM rk GROUP BY 1),
       |reg64 AS (
       |  SELECT g.bucket, COALESCE(regs.mr, 0) AS mr
       |  FROM (SELECT unnest(range(0, $HllM)) AS bucket) g
       |  LEFT JOIN regs USING (bucket)),
       |agg AS (
       |  SELECT CAST(SUM(CAST(pow(2, 55 - mr) AS BIGINT)) AS BIGINT)
       |      AS s_scaled,
       |    CAST(SUM(CASE WHEN mr = 0 THEN 1 ELSE 0 END) AS BIGINT)
       |      AS v_zero,
       |    list(CAST(mr AS BIGINT) ORDER BY bucket) AS registers
       |  FROM reg64),
       |ex AS (SELECT COUNT(DISTINCT o_custkey) AS n_exact FROM orders)
       |SELECT CAST($HllM AS BIGINT) AS m, n_exact, v_zero, s_scaled,
       |  array_to_string(registers, '|') AS registers,
       |  CASE WHEN CAST($HllNum AS DOUBLE) / CAST(s_scaled AS DOUBLE)
       |      <= ${2.5 * HllM} AND v_zero > 0
       |    THEN round(CAST($HllM AS DOUBLE)
       |      * ln(CAST($HllM AS DOUBLE) / CAST(v_zero AS DOUBLE)), 6)
       |    ELSE round(CAST($HllNum AS DOUBLE) / CAST(s_scaled AS DOUBLE), 6)
       |  END AS estimate,
       |  round((CASE WHEN CAST($HllNum AS DOUBLE) / CAST(s_scaled AS DOUBLE)
       |      <= ${2.5 * HllM} AND v_zero > 0
       |    THEN round(CAST($HllM AS DOUBLE)
       |      * ln(CAST($HllM AS DOUBLE) / CAST(v_zero AS DOUBLE)), 6)
       |    ELSE round(CAST($HllNum AS DOUBLE) / CAST(s_scaled AS DOUBLE), 6)
       |  END - CAST(n_exact AS DOUBLE)) / CAST(n_exact AS DOUBLE), 6)
       |    AS rel_error
       |FROM agg CROSS JOIN ex""".stripMargin

  // --------------------------------------------------- HLL set algebra

  /** HLL union + inclusion–exclusion intersection (Flajolet et al.
    * 2007 §5: register-wise MAX is a LOSSLESS union — the merged
    * sketch is bit-identical to the sketch of the concatenated
    * streams) over the same two order populations as [[kmvIntersect]],
    * so the two sketch families' overlap answers sit side by side:
    * est(A), est(B), est(A∪B) from MAX-merged registers, and
    * est(A∩B) = est(A)+est(B)−est(A∪B) on the round-6 estimates.
    * Exact counts ride along; the estimator (linear-counting branch
    * included) is [[hllDistinct]]'s, applied three times.
    *
    * Scale shape: one distinct-hash pass to (set, bucket, rank), a
    * 2·64-row register relation, a 64-row MAX merge — state is 128
    * longs at any corpus size, and the union costs NO data pass
    * (that's the point of register algebra: cheap set expressions
    * over pre-built per-partition/per-day sketches).
    */
  def hllUnion(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.t(s, dir, "lineitem").filter(col("l_returnflag").isin("A", "R"))
    val ranks = li
      .select(col("l_returnflag").as("st"),
        h60(col("l_orderkey").cast("string")).as("h"))
      .distinct()
      .select(col("st"), expr(s"h DIV $Pow54").as("bucket"),
        pmod(col("h"), lit(Pow54)).as("w"))
      .select(col("st"), col("bucket"),
        when(col("w") === 0, lit(55L))
          .otherwise(lit(55L) - length(bin(col("w"))).cast(LongType))
          .as("rank"))
    // per-set registers on the completed 64-bucket grid (missing
    // buckets are rank 0), then the MAX-merge union sketch
    import s.implicits._
    val grid = s.range(HllM).toDF("bucket")
      .crossJoin(broadcast(Seq("A", "R").toDF("st")))
    val regs = grid
      .join(ranks.groupBy(col("st"), col("bucket"))
        .agg(max(col("rank")).as("mr0")), Seq("st", "bucket"), "left")
      .select(col("st"), col("bucket"), coalesce(col("mr0"), lit(0L)).as("mr"))
    val merged = regs.groupBy(col("bucket"))
      .agg(max(when(col("st") === "A", col("mr")).otherwise(0L)).as("mr_a"),
        max(when(col("st") === "R", col("mr")).otherwise(0L)).as("mr_b"),
        max(col("mr")).as("mr_u"))
    val agg = merged.agg(
      sum(expr("CAST(pow(2, 55 - mr_a) AS BIGINT)")).as("s_a"),
      sum(when(col("mr_a") === 0, 1L).otherwise(0L)).as("v_a"),
      sum(expr("CAST(pow(2, 55 - mr_b) AS BIGINT)")).as("s_b"),
      sum(when(col("mr_b") === 0, 1L).otherwise(0L)).as("v_b"),
      sum(expr("CAST(pow(2, 55 - mr_u) AS BIGINT)")).as("s_u"),
      sum(when(col("mr_u") === 0, 1L).otherwise(0L)).as("v_u"))
    def est(tag: String) = {
      val raw = lit(HllNum).cast(DoubleType) /
        col(s"s_$tag").cast(DoubleType)
      round(when(raw <= 2.5 * HllM && col(s"v_$tag") > 0,
        lit(HllM.toDouble) *
          log(lit(HllM.toDouble) / col(s"v_$tag").cast(DoubleType)))
        .otherwise(raw), 6)
    }
    val exact = li
      .groupBy(col("l_orderkey"))
      .agg(max(when(col("l_returnflag") === "A", 1L).otherwise(0L)).as("a"),
        max(when(col("l_returnflag") === "R", 1L).otherwise(0L)).as("b"))
      .agg(sum(col("a")).as("n_a_exact"), sum(col("b")).as("n_b_exact"),
        sum(col("a") * col("b")).as("n_inter_exact"),
        count(lit(1)).as("n_union_exact"))
    agg.crossJoin(broadcast(exact))
      .withColumn("est_a", est("a")).withColumn("est_b", est("b"))
      .withColumn("est_union", est("u"))
      .select(col("n_a_exact"), col("n_b_exact"), col("n_union_exact"),
        col("n_inter_exact"), col("v_a"), col("v_b"), col("v_u"),
        col("est_a"), col("est_b"), col("est_union"),
        round(col("est_a") + col("est_b") - col("est_union"), 6)
          .as("est_inter"))
  }

  val hllUnionOracle: String = {
    def estSql(tag: String) =
      s"""CASE WHEN CAST($HllNum AS DOUBLE) / CAST(s_$tag AS DOUBLE)
         |      <= ${2.5 * HllM} AND v_$tag > 0
         |    THEN round(CAST($HllM AS DOUBLE)
         |      * ln(CAST($HllM AS DOUBLE) / CAST(v_$tag AS DOUBLE)), 6)
         |    ELSE round(CAST($HllNum AS DOUBLE) / CAST(s_$tag AS DOUBLE), 6)
         |  END""".stripMargin
    s"""WITH h AS (
       |  SELECT DISTINCT l_returnflag AS st,
       |    ${h60Sql("CAST(l_orderkey AS VARCHAR)")} AS h
       |  FROM lineitem WHERE l_returnflag IN ('A', 'R')),
       |rk AS (
       |  SELECT st, h // $Pow54 AS bucket,
       |    CASE WHEN h % $Pow54 = 0 THEN 55
       |      ELSE 55 - CAST(length(bin(h % $Pow54)) AS BIGINT) END AS rank
       |  FROM h),
       |grid AS (
       |  SELECT st, bucket
       |  FROM (SELECT unnest(['A', 'R']) AS st)
       |  CROSS JOIN (SELECT unnest(range(0, $HllM)) AS bucket)),
       |regs AS (
       |  SELECT g.st, g.bucket, COALESCE(m.mr0, 0) AS mr
       |  FROM grid g LEFT JOIN (
       |    SELECT st, bucket, MAX(rank) AS mr0 FROM rk GROUP BY 1, 2) m
       |    ON m.st = g.st AND m.bucket = g.bucket),
       |merged AS (
       |  SELECT bucket,
       |    MAX(CASE WHEN st = 'A' THEN mr ELSE 0 END) AS mr_a,
       |    MAX(CASE WHEN st = 'R' THEN mr ELSE 0 END) AS mr_b,
       |    MAX(mr) AS mr_u
       |  FROM regs GROUP BY bucket),
       |agg AS (
       |  SELECT
       |    CAST(SUM(CAST(pow(2, 55 - mr_a) AS BIGINT)) AS BIGINT) AS s_a,
       |    CAST(SUM(CASE WHEN mr_a = 0 THEN 1 ELSE 0 END) AS BIGINT) AS v_a,
       |    CAST(SUM(CAST(pow(2, 55 - mr_b) AS BIGINT)) AS BIGINT) AS s_b,
       |    CAST(SUM(CASE WHEN mr_b = 0 THEN 1 ELSE 0 END) AS BIGINT) AS v_b,
       |    CAST(SUM(CAST(pow(2, 55 - mr_u) AS BIGINT)) AS BIGINT) AS s_u,
       |    CAST(SUM(CASE WHEN mr_u = 0 THEN 1 ELSE 0 END) AS BIGINT) AS v_u
       |  FROM merged),
       |ex AS (
       |  SELECT CAST(SUM(a) AS BIGINT) AS n_a_exact,
       |    CAST(SUM(b) AS BIGINT) AS n_b_exact,
       |    CAST(SUM(a * b) AS BIGINT) AS n_inter_exact,
       |    CAST(COUNT(*) AS BIGINT) AS n_union_exact
       |  FROM (
       |    SELECT l_orderkey,
       |      MAX(CASE WHEN l_returnflag = 'A' THEN 1 ELSE 0 END) AS a,
       |      MAX(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS b
       |    FROM lineitem WHERE l_returnflag IN ('A', 'R')
       |    GROUP BY l_orderkey) g),
       |es AS (
       |  SELECT n_a_exact, n_b_exact, n_union_exact, n_inter_exact,
       |    v_a, v_b, v_u,
       |    ${estSql("a")} AS est_a,
       |    ${estSql("b")} AS est_b,
       |    ${estSql("u")} AS est_union
       |  FROM agg CROSS JOIN ex)
       |SELECT *, round(est_a + est_b - est_union, 6) AS est_inter
       |FROM es""".stripMargin
  }

  // ------------------------------------------------- theta set operations

  /** Theta-sketch set operations (Dasgupta, Lang, Rhodes & Thaler,
    * "A Framework for Estimating Cardinalities of Set Expressions",
    * the DataSketches theta algebra): estimate |A ∪ B| and |A ∩ B|
    * from two KMV sketches without ever materializing either set.
    * Sets here: orders containing a returned ('R') line vs orders
    * containing an accepted ('A') line — overlapping key populations.
    *
    * Algebra: each set keeps its k smallest distinct 60-bit hashes;
    * θ = min(kth_A, kth_B); every retained hash < θ is a uniform
    * sample of the union at rate θ/2⁶⁰, so |kept| · 2⁶⁰/θ estimates
    * the union and |kept in both| · 2⁶⁰/θ the intersection — the
    * estimator composes over set expressions, which is why warehouses
    * ship it for audience-overlap queries. Exact counts ride along so
    * the gate pins the estimator end-to-end, not a tolerance band.
    *
    * Determinism: hashes, ranks, θ, and kept counts are all exact
    * integers; the two estimates each cross to DOUBLE in one final
    * expression written identically in both engines.
    *
    * Scale shape: one distinct + WindowGroupLimit (top-k per set, no
    * full sort) reduces each population to ≤k rows; everything after
    * runs on ≤2k rows. The exact-count aggregate is one map-combined
    * pass; its 1-row result joins the 1-row sketch summary (bounded
    * BNLJ, allowlisted). At 100 TB the sketch state is still 2·256
    * longs.
    */
  def kmvIntersect(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.t(s, dir, "lineitem").filter(col("l_returnflag").isin("A", "R"))
    val hashes = li
      .select(col("l_returnflag").as("st"),
        h60(col("l_orderkey").cast("string")).as("h"))
      .distinct()
    val kept = hashes
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("st")).orderBy(col("h"))))
      .filter(col("rn") <= KmvK)
    val sketch = kept
      .withColumn("theta_set", max(col("h")).over(Window.partitionBy(col("st"))))
      .withColumn("theta", min(col("theta_set")).over(Window.partitionBy()))
      .filter(col("h") < col("theta"))
      .groupBy(col("h"), col("theta"))
      .agg(count(lit(1)).as("nsets"))
      .groupBy(col("theta"))
      .agg(count(lit(1)).as("kept_union"),
        sum(when(col("nsets") === 2, 1L).otherwise(0L)).as("kept_inter"))
    val exact = li
      .groupBy(col("l_orderkey"))
      .agg(max(when(col("l_returnflag") === "A", 1L).otherwise(0L)).as("a"),
        max(when(col("l_returnflag") === "R", 1L).otherwise(0L)).as("b"))
      .agg(sum(col("a")).as("n_a_exact"), sum(col("b")).as("n_b_exact"),
        sum(col("a") * col("b")).as("n_inter_exact"),
        count(lit(1)).as("n_union_exact"))
    val pow60 = lit(1152921504606846976L).cast(DoubleType)
    sketch.crossJoin(broadcast(exact))
      .select(col("n_a_exact"), col("n_b_exact"), col("n_inter_exact"),
        col("n_union_exact"), col("theta"), col("kept_union"), col("kept_inter"),
        round(col("kept_union").cast(DoubleType) * pow60
          / col("theta").cast(DoubleType), 6).as("est_union"),
        round(col("kept_inter").cast(DoubleType) * pow60
          / col("theta").cast(DoubleType), 6).as("est_inter"))
  }

  val kmvIntersectOracle: String =
    s"""WITH h AS (
       |  SELECT DISTINCT l_returnflag AS st,
       |    ${h60Sql("CAST(l_orderkey AS VARCHAR)")} AS h
       |  FROM lineitem WHERE l_returnflag IN ('A', 'R')),
       |kmv AS (
       |  SELECT st, h FROM (
       |    SELECT st, h, row_number() OVER (PARTITION BY st ORDER BY h) AS rn
       |    FROM h) t
       |  WHERE rn <= $KmvK),
       |th AS (
       |  SELECT MIN(theta_set) AS theta FROM (
       |    SELECT st, MAX(h) AS theta_set FROM kmv GROUP BY st) q),
       |kept AS (
       |  SELECT h, theta, COUNT(*) AS nsets
       |  FROM kmv CROSS JOIN th WHERE h < theta GROUP BY h, theta),
       |sk AS (
       |  SELECT theta, CAST(COUNT(*) AS BIGINT) AS kept_union,
       |    CAST(SUM(CASE WHEN nsets = 2 THEN 1 ELSE 0 END) AS BIGINT)
       |      AS kept_inter
       |  FROM kept GROUP BY theta),
       |ex AS (
       |  SELECT CAST(SUM(a) AS BIGINT) AS n_a_exact,
       |    CAST(SUM(b) AS BIGINT) AS n_b_exact,
       |    CAST(SUM(a * b) AS BIGINT) AS n_inter_exact,
       |    CAST(COUNT(*) AS BIGINT) AS n_union_exact
       |  FROM (
       |    SELECT l_orderkey,
       |      MAX(CASE WHEN l_returnflag = 'A' THEN 1 ELSE 0 END) AS a,
       |      MAX(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS b
       |    FROM lineitem WHERE l_returnflag IN ('A', 'R')
       |    GROUP BY l_orderkey) g)
       |SELECT n_a_exact, n_b_exact, n_inter_exact, n_union_exact, theta,
       |  kept_union, kept_inter,
       |  round(CAST(kept_union AS DOUBLE) * CAST(1152921504606846976 AS DOUBLE)
       |    / CAST(theta AS DOUBLE), 6) AS est_union,
       |  round(CAST(kept_inter AS DOUBLE) * CAST(1152921504606846976 AS DOUBLE)
       |    / CAST(theta AS DOUBLE), 6) AS est_inter
       |FROM sk CROSS JOIN ex""".stripMargin

  val defs: Seq[QueryDef] = Seq(
    QueryDef("sk_hll_distinct", hllDistinct, Some(hllOracle)),
    QueryDef("sk_hll_union", hllUnion, Some(hllUnionOracle)),
    QueryDef("sk_kmv_intersect", kmvIntersect, Some(kmvIntersectOracle)),
    QueryDef("sk_kmv_distinct", kmvDistinct, Some(kmvOracle)),
    QueryDef("sk_kmv_agg", kmvAgg, Some(kmvOracle)),
    QueryDef("sk_countmin_topk", countMinTopk, Some(countMinOracle)),
    QueryDef("sk_bloom_semijoin", bloomSemijoin, Some(bloomOracle)),
    QueryDef("sk_quantile_reservoir", quantileReservoir, Some(quantileReservoirOracle)),
  )

  /** [[quantileReservoir]]'s estimator with the production hash: the
    * estimator only needs a uniform ORDER, so the unsigned-order
    * mapping of [[hxx]] serves as the reservoir rank directly. The twin
    * times ONLY the hash-dependent sampling path: the exact leg never
    * touches the hash and is already timed inside the gate;
    * SketchesSpec pins the estimate against the exact interquartile
    * band instead.
    */
  def quantileReservoirXx(s: SparkSession, dir: String): DataFrame =
    reservoirEst(s, dir, hxx).orderBy(col("grp"))

  /** The production-hash twins are not DuckDB-reproducible (xxhash64 /
    * native BloomFilter), so they carry no oracle and stay off the
    * correctness surface: SketchesSpec pins their properties, and
    * Bench/ScaleBench time them next to the md5 twins.
    */
  val benchOnlyDefs: Seq[QueryDef] = Seq(
    QueryDef("sk_kmv_xxhash", kmvDistinctXx, None),
    QueryDef("sk_countmin_xxhash", countMinTopkXx, None),
    QueryDef("sk_bloom_native", bloomSemijoinNative, None),
    QueryDef("sk_quantile_xxhash", quantileReservoirXx, None),
  )
}
