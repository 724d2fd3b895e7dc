package graft.plans

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.storage.StorageLevel

import java.lang.ref.WeakReference

import scala.collection.mutable.ArrayBuffer

/** The one owner of everything a query holds between its stages: the
  * frames it pins ([[pin]]) and the lineage truncations it takes
  * ([[truncate]], [[truncateCounted]]). Query functions return LAZY
  * plans; each hold they take is recorded in the CALLING THREAD's
  * scope, and [[release]] frees exactly that scope.
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
  * thread then recomputes from lineage (slower, never wrong).
  * Truncations are recorded weakly: a loop round the query no longer
  * references is freed by Spark's ContextCleaner once garbage
  * collected, and [[release]] frees every round still alive. A frame read
  * after its scope was released recomputes from lineage, except that a
  * released local checkpoint is gone: consume a result before
  * releasing the scope that built it.
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
  *    round in executor storage until [[release]] (or until a
  *    superseded round is garbage collected).
  * Either way a round is materialized before the caller moves on
  * ([[truncate]] eagerly, [[truncateCounted]] through its count), so a
  * truncated frame never re-reads the lineage it cut.
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

  /** The calling thread's holds, each as the action that frees it. */
  private val scope = ThreadLocal.withInitial(() => ArrayBuffer.empty[() => Unit])

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
      scope.get() += (() => df.unpersist(false))
    }
    df
  }

  /** Eagerly materialize `df` and cut its lineage: reliably when the
    * session has a checkpoint dir, locally otherwise.
    */
  def truncate(df: DataFrame): DataFrame =
    held(if (reliable(df)) df.checkpoint() else df.localCheckpoint())

  /** [[truncate]] + row count in as few jobs as the checkpoint mode
    * allows: an iterative loop pays its per-round fixed cost × rounds.
    * On the localCheckpoint path the checkpoint is taken LAZILY and the
    * count() action materializes it: count computes every partition
    * (the checkpoint wrapper is a LogicalRDD, opaque to column pruning,
    * so nothing is skipped), and local checkpoint blocks are saved as a
    * side effect of that first full computation, so ONE job yields both
    * the truncated relation and its cardinality. On the reliable path
    * the checkpoint stays EAGER: a reliable checkpoint re-runs lineage
    * to write files, so the lazy order would compute the round twice;
    * there the count is a cheap second job over the checkpointed
    * blocks.
    */
  def truncateCounted(df: DataFrame): (DataFrame, Long) = {
    val t = held(if (reliable(df)) df.checkpoint() else df.localCheckpoint(false))
    (t, t.count())
  }

  /** Unpersist everything the calling thread's scope holds, newest
    * first, so no pinned frame is released under a pinned dependent.
    */
  def release(): Unit = {
    val holds = scope.get()
    holds.reverseIterator.foreach(_())
    holds.clear()
  }

  /** Record the RDD a truncation persisted (local checkpoints keep
    * their blocks in executor storage; reliable ones persist nothing).
    * The reference is weak so superseded loop rounds stay collectable:
    * the scope must not hold O(rounds) blocks until the release.
    */
  private def held(t: DataFrame): DataFrame = {
    t.queryExecution.logical.collectFirst { case r: LogicalRDD => r.rdd }
      .filter(_.getStorageLevel != StorageLevel.NONE)
      .foreach { rdd =>
        val w = new WeakReference(rdd)
        scope.get() += (() => Option(w.get).foreach(_.unpersist(false)))
      }
    t
  }
}
