package graft

import graft.queries.LlmDedup
import org.apache.spark.sql.functions._

/** Randomized exactness guard for the prefix-filtered Jaccard join.
  *
  * The oracle gate proves exactness on the fixed testdata; this spec
  * proves it on RANDOM corpora (seeded, reproducible), specifically
  * hammering the two filters that could silently over-prune:
  * the prefix size filter and the pair-level PPJoin positional filter.
  * Small vocabulary + template mutation forces heavy shingle collisions
  * and near-boundary sizes — the regime where an off-by-one in either
  * bound would drop a qualifying pair.
  */
class DedupExactnessSpec extends SparkSpec {

  private val T = 0.9

  /** Brute-force reference: distinct word-bigram sets, all-pairs J >= t. */
  private def bruteForce(docs: Seq[(Long, String)]): Set[(Long, Long)] = {
    val sets = docs.map { case (id, text) =>
      val tk = text.split(" ")
      id -> tk.sliding(2).filter(_.length == 2).map(_.mkString(" ")).toSet
    }.toMap
    (for {
      a <- docs.map(_._1); b <- docs.map(_._1) if a < b
      ia = sets(a); ib = sets(b)
      inter = (ia & ib).size
      if ia.nonEmpty && ib.nonEmpty
      j = inter.toDouble / (ia.size + ib.size - inter)
      if j >= T
    } yield (a, b)).toSet
  }

  private def corpus(seed: Int, nDocs: Int): Seq[(Long, String)] = {
    val rnd = new scala.util.Random(seed)
    val vocab = (0 until 12).map(i => s"w$i")
    // template families: mutate a base doc lightly (near-dups) and
    // heavily (non-dups), plus fully random docs
    (0L until nDocs).map { id =>
      val base = new scala.util.Random(seed * 31 + (id % 7).toInt) // 7 families
      val tokens = Array.fill(8 + base.nextInt(30))(vocab(base.nextInt(vocab.size)))
      val nMut = if (id % 3 == 0) 0 else if (id % 3 == 1) 1 else 2 + rnd.nextInt(6)
      (0 until nMut).foreach { _ =>
        tokens(rnd.nextInt(tokens.length)) = vocab(rnd.nextInt(vocab.size))
      }
      id -> tokens.mkString(" ")
    }
  }

  test("prefix+positional candidate generation loses NO qualifying pair (5 random corpora)") {
    import spark.implicits._
    (1 to 5).foreach { seed =>
      val docs = corpus(seed, 60)
      val dir = tmpDir(s"dedup-prop-$seed")
      docs.toDF("doc_id", "text").write.mode("overwrite")
        .parquet(s"$dir/documents.parquet")
      val got = LlmDedup.ngramJaccard(spark, dir)
        .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
      val want = bruteForce(docs)
      assert(got === want, s"seed=$seed: missing=${want -- got} extra=${got -- want}")
      spark.catalog.clearCache()
    }
  }

  test("simhash banded join finds exactly the quadratic scan's ham<=1 pairs (random corpus)") {
    import spark.implicits._
    val docs = corpus(7, 80)
    val dir = tmpDir("simhash-prop")
    docs.toDF("doc_id", "text").write.mode("overwrite")
      .parquet(s"$dir/documents.parquet")
    val got = LlmDedup.simhashNearDup(spark, dir)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    // quadratic reference over the SAME fingerprints
    graft.functions.VectorFunctions.register(spark)
    val fp = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"), call_function("simhash32", split(col("text"), " ")).as("h"))
      .as[(Long, Long)].collect().toMap
    val want = (for {
      a <- fp.keys; b <- fp.keys if a < b
      if java.lang.Long.bitCount(fp(a) ^ fp(b)) <= 1
    } yield (a, b)).toSet
    assert(got === want)
    assert(want.nonEmpty, "fixture should produce at least one ham<=1 pair")
  }

  /** Union-find reference: (rep -> sorted members) per component. */
  private def ufClusters(edges: Set[(Long, Long)]): Map[Long, Seq[Long]] = {
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    edges.flatMap(e => Seq(e._1, e._2)).groupBy(find)
      .map { case (r, ms) => r -> ms.toSeq.sorted }
  }

  private def checkClusters(out: org.apache.spark.sql.DataFrame,
      want: Map[Long, Seq[Long]]): Unit = {
    val got = out.collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getString(2))).toMap
    val exp = want.map { case (r, ms) => r -> (ms.size.toLong, ms.mkString("|")) }
    assert(got === exp)
  }

  test("star CC == label-propagation CC == union-find (random graphs + chain)") {
    import spark.implicits._
    (1 to 4).foreach { seed =>
      val rnd = new scala.util.Random(seed * 101)
      val n = 120
      // sparse random edges (many small components) + one 40-node chain
      // (diameter 39 — deep enough to force multi-round contraction,
      // inside propagateClusters' diameter budget)
      val rand = (0 until 90).map { _ =>
        val a = rnd.nextInt(n).toLong; val b = rnd.nextInt(n).toLong
        (math.min(a, b), math.max(a, b))
      }.filter(e => e._1 != e._2)
      val chain = (0 until 39).map(i => (1000L + i, 1000L + i + 1))
      val edges = (rand ++ chain).toSet
      val df = edges.toSeq.toDF("a", "b")
      val want = ufClusters(edges)
      checkClusters(LlmDedup.starClusters(df), want)
      checkClusters(LlmDedup.propagateClusters(
        df.select(col("a").as("doc_a"), col("b").as("doc_b"))), want)
      // a converged edge relation is a star forest, so starLabels'
      // undeduplicated b-branch labels every doc exactly once
      val ids = LlmDedup.starLabels(df).select(col("doc_id")).as[Long].collect().sorted.toSeq
      assert(ids === want.values.flatten.toSeq.sorted,
        s"seed $seed: starLabels must label each doc_id exactly once")
    }
  }

  test("star CC contracts a diameter-300 chain (beyond the propagation round cap)") {
    import spark.implicits._
    val edges = (0 until 300).map(i => (i.toLong, i.toLong + 1)).toSet
    checkClusters(LlmDedup.starClusters(edges.toSeq.toDF("a", "b")), ufClusters(edges))
  }

  test("both CC engines run unchanged on RELIABLE checkpoints (cluster mode, VERDICT r6 #3)") {
    import spark.implicits._
    val rnd = new scala.util.Random(4242)
    val edges = ((0 until 60).map { _ =>
      val a = rnd.nextInt(80).toLong; val b = rnd.nextInt(80).toLong
      (math.min(a, b), math.max(a, b))
    }.filter(e => e._1 != e._2) ++ (0 until 25).map(i => (500L + i, 501L + i))).toSet
    val df = edges.toSeq.toDF("a", "b")
    val want = ufClusters(edges)
    val ckDir = tmpDir("graft-reliable-ck")
    val sc = spark.sparkContext
    try {
      sc.setCheckpointDir(ckDir)
      // auto mode flips to reliable as soon as the context has a dir —
      // exactly what a cluster job configures
      assert(graft.plans.Checkpoint.reliable(df))
      checkClusters(LlmDedup.starClusters(df), want)
      checkClusters(LlmDedup.propagateClusters(
        df.select(col("a").as("doc_a"), col("b").as("doc_b"))), want)
      // the rounds actually went through the reliable path: checkpoint
      // files exist under the configured dir
      def rddFiles(d: java.io.File): Int =
        Option(d.listFiles()).toSeq.flatten
          .map(f => if (f.isDirectory) rddFiles(f) else 1).sum
      assert(rddFiles(new java.io.File(ckDir)) > 0,
        "no reliable checkpoint files were written")
    } finally {
      // the shared context keeps its checkpoint dir for the rest of the
      // JVM; pin the session back to localCheckpoint so every other
      // suite keeps the (faster) pre-test behavior
      spark.conf.set(graft.plans.Checkpoint.ReliableConf, "false")
    }
    assert(!graft.plans.Checkpoint.reliable(df))
    checkClusters(LlmDedup.starClusters(df), want)
  }

  test("scoped pair generation == full pairs restricted to the scope") {
    // the curation pipeline's filter-pushdown claim, pinned: for an
    // exact similarity measure, generating pairs over a doc subset
    // must equal generating over the corpus and filtering both ends —
    // the prefix filter re-derives df/ranks over the subset, so this
    // catches any ordering assumption that silently depends on the
    // full corpus
    val dir = "/root/testdata/sf0.001"
    import org.apache.spark.sql.functions.col
    val scope = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id")).filter(col("doc_id") % 3 =!= 1)
    val ids = scope.collect().map(_.getLong(0)).toSet
    val full = LlmDedup.ngramJaccard(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val expected = full.filter(p => ids(p._1) && ids(p._2)).toSet
    val scoped = LlmDedup.ngramJaccardScoped(spark, dir, scope).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(scoped == expected)
    assert(scoped.nonEmpty, "vacuous scope — pick a subset that keeps pairs")
  }

  test("incremental pairs == full pairs restricted to delta-touching pairs") {
    // the daily-ingest contract: the delta×corpus candidate join over
    // the shared prefix index must reach exactly the full self-join's
    // pairs that touch the delta — including delta×delta pairs, whose
    // two join orientations must collapse to one canonical group
    // before the positional filter
    val dir = "/root/testdata/sf0.001"
    val full = LlmDedup.ngramJaccard(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val expected = full.filter(p => p._1 % 10 == 0 || p._2 % 10 == 0).toSet
    val incremental = LlmDedup.ngramIncrementalPairs(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(incremental === expected)
    assert(incremental.nonEmpty, "vacuous delta — no delta-touching pairs in testdata")
  }
}
