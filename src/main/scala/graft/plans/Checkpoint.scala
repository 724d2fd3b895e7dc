package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.storage.StorageLevel

import scala.annotation.tailrec
import scala.collection.mutable.ArrayBuffer

/** The one owner of everything a query holds between its stages: the
  * frames it pins ([[pin]]), the lineage truncations it takes
  * ([[truncate]]) and the rounds of its iterative loops ([[rounds]],
  * [[fixpoint]]). Query functions return LAZY plans; each hold they
  * take is recorded in the CALLING THREAD's scope, and [[release]]
  * frees exactly that scope.
  *
  * Contract for the mains and embedders: build a query, materialize its
  * result, then call [[release]] on the thread that BUILT it. Release
  * unpersists every pinned frame and every local-checkpoint block the
  * scope recorded, so a query leaves nothing in the CacheManager or in
  * executor storage. Scopes are per thread: a release frees only what
  * the calling thread recorded, so concurrent queries do not evict each
  * other's intermediates, with one exception. Plan-identical pins from
  * different threads share one CacheManager entry (only the first pin
  * records it), and the first thread's release frees it; the other
  * thread then recomputes from lineage (slower, never wrong). A frame
  * read after its scope was released recomputes from lineage, except
  * that a released local checkpoint is gone: consume a result before
  * releasing the scope that built it.
  *
  * Loop rounds are the one hold freed before [[release]], so a loop
  * holds O(1) rounds. [[rounds]] frees round r−1 once round r is
  * materialized; its last round is LAZY, so it fuses into the result
  * plan (one job fewer, reading e.g. a pinned edge relation in place),
  * and round n−1, which it reads, stays held. [[fixpoint]] frees the
  * previous round once the convergence test has read it; the converged
  * round stays held. A caller's `init` to [[rounds]] is the caller's.
  *
  * Truncation reliability is chosen by the SESSION, not the call site:
  *  - with a checkpoint directory on the SparkContext
  *    (`sc.setCheckpointDir(...)`, what a cluster job does), rounds
  *    are RELIABLY checkpointed to files, so the truncated lineage
  *    survives executor loss and an iterative job resumes the round
  *    instead of recomputing the whole loop; the files are cleaned by
  *    `spark.cleaner.referenceTracking.cleanCheckpoints=true` or the
  *    job's own directory lifecycle;
  *  - otherwise (tests, local exploration) `localCheckpoint` keeps the
  *    round in executor storage until it is freed as above.
  * Either way a round is materialized before the caller moves on
  * ([[truncate]] eagerly, [[fixpoint]] rounds through their count),
  * so a truncated frame never re-reads the lineage it cut.
  */
object Checkpoint {

  /** Session-conf override: `true` forces reliable checkpoints (the
    * context must have a checkpoint dir or Spark throws), `false`
    * forces localCheckpoint, anything else / unset = auto (reliable
    * iff a checkpoint dir is configured). A runtime conf rather than a
    * static so a shared long-lived session (tests, notebooks) can flip
    * it per job.
    */
  val ReliableConf = "graft.checkpoint.reliable"

  /** The calling thread's holds, each as the held object and the action that frees it. */
  private val scope = ThreadLocal.withInitial(() => ArrayBuffer.empty[(AnyRef, () => Unit)])

  /** True iff [[truncate]] will use reliable checkpoints. */
  def reliable(df: DataFrame): Boolean =
    df.sparkSession.conf.get(ReliableConf, "auto") match {
      case "true"  => true
      case "false" => false
      case _       => df.sparkSession.sparkContext.getCheckpointDir.isDefined
    }

  /** Persist `df` MEMORY_AND_DISK (spills at scale instead of failing)
    * in the calling thread's scope. A plan that is already cached is
    * returned as is, unrecorded: the CacheManager matches plans, so a
    * second pin of an identical plan shares the first one's entry.
    *
    * Pin a relation only when it feeds structurally DIFFERENT
    * consumers or separate actions. Repeats of an identical subplan
    * inside one action are deduplicated by ReuseExchange without any
    * persist (PlanAuditSpec pins that for
    * [[graft.queries.StreamingGates.madAnomaly]]), and a pin there
    * only adds a materialization.
    */
  def pin(df: DataFrame): DataFrame = {
    if (df.storageLevel == StorageLevel.NONE) {
      df.persist(StorageLevel.MEMORY_AND_DISK)
      scope.get() += (df -> (() => df.unpersist(false)))
    }
    df
  }

  /** Eagerly materialize `df` and cut its lineage: reliably when the
    * session has a checkpoint dir, locally otherwise.
    */
  def truncate(df: DataFrame): DataFrame =
    held(if (reliable(df)) df.checkpoint() else df.localCheckpoint())

  /** `n` rounds of `step(previous round, r ∈ 1..n)` from `init`:
    * rounds 1..n−1 truncated, round n returned lazy.
    */
  def rounds(init: DataFrame, n: Int)(step: (DataFrame, Int) => DataFrame): DataFrame = {
    require(n >= 1, s"rounds: need at least one round, got $n")
    step((1 until n).foldLeft(init) { (prev, r) =>
      val next = truncate(step(prev, r))
      if (r > 1) free(prev)
      next
    }, n)
  }

  /** Rounds of `step` from `init`, each truncated and counted in one
    * job, until `done(prev, prevCount, next, nextCount)`; returns the
    * converged round and the number of steps. Fails past `maxRounds`:
    * a silent cap-exit would return a wrong answer.
    */
  def fixpoint(init: DataFrame, maxRounds: Int, name: String)(step: DataFrame => DataFrame)
      (done: (DataFrame, Long, DataFrame, Long) => Boolean): (DataFrame, Int) = {
    @tailrec def loop(prev: DataFrame, prevCount: Long, round: Int): (DataFrame, Int) = {
      require(round <= maxRounds, s"$name did not converge in $maxRounds rounds")
      val (next, nextCount) = truncateCounted(step(prev))
      val converged = done(prev, prevCount, next, nextCount)
      free(prev)
      if (converged) (next, round) else loop(next, nextCount, round + 1)
    }
    val (first, firstCount) = truncateCounted(init)
    loop(first, firstCount, 1)
  }

  /** Unpersist everything the calling thread's scope holds, newest
    * first, so no pinned frame is released under a pinned dependent.
    */
  def release(): Unit = {
    val holds = scope.get()
    holds.reverseIterator.foreach(_._2())
    holds.clear()
  }

  /** [[truncate]] + row count in as few jobs as the checkpoint mode
    * allows: an iterative loop pays its per-round fixed cost × rounds.
    * On the localCheckpoint path the checkpoint is taken LAZILY and the
    * count of the checkpointed RDD materializes it: count computes
    * every partition, and local checkpoint blocks are saved as a side
    * effect of that first full computation, so ONE job yields both the
    * truncated relation and its cardinality. Counting the RDD rather
    * than the frame keeps that job one stage over the round, as an
    * eager checkpoint is, with no aggregate exchange. On the reliable
    * path the checkpoint stays EAGER: a reliable checkpoint re-runs
    * lineage to write files, so the lazy order would compute the round
    * twice; there the count is a cheap second job over the files.
    */
  private def truncateCounted(df: DataFrame): (DataFrame, Long) = {
    val t = held(if (reliable(df)) df.checkpoint() else df.localCheckpoint(false))
    (t, rdd(t).count())
  }

  /** The RDD behind a truncated frame. */
  private def rdd(t: DataFrame): RDD[_] =
    t.queryExecution.logical.collectFirst { case r: LogicalRDD => r.rdd }.get

  /** The blocks a truncation persisted (reliable checkpoints persist none). */
  private def blocks(t: DataFrame): Option[RDD[_]] =
    Some(rdd(t)).filter(_.getStorageLevel != StorageLevel.NONE)

  /** Record `t`'s blocks in the calling thread's scope. */
  private def held(t: DataFrame): DataFrame = {
    blocks(t).foreach(rdd => scope.get() += (rdd -> (() => rdd.unpersist(false))))
    t
  }

  /** Free a superseded loop round now and drop it from the scope. */
  private def free(t: DataFrame): Unit = blocks(t).foreach { rdd =>
    rdd.unpersist(false)
    scope.get().filterInPlace(_._1 ne rdd)
  }
}
