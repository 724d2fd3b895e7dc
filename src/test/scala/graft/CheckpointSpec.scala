package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.plans.Checkpoint

/** The hold lifecycle of [[graft.plans.Checkpoint]]: pins live in the
  * building thread's scope, a release frees exactly that scope, and
  * `rounds`/`fixpoint` free each superseded round before the release.
  * LlmOpsSpec checks that one release leaves no residue after a gate.
  */
class CheckpointSpec extends SparkSpec {

  private def rows(n: Int, tag: Int): DataFrame =
    spark.range(n.toLong).select(
      pmod(xxhash64(col("id")), lit(37L)).as("v"), lit(tag).as("tag"))

  test("pin/release scopes holds per thread") {
    // two concurrently built and materialized queries must not evict
    // each other's intermediates: release() on one thread leaves the
    // other thread's in-flight pins alone, so the one-pass cost holds
    // under concurrency, not just under the mains' sequential loop
    @volatile var dfA: DataFrame = null
    @volatile var dfB: DataFrame = null
    val latchPinned = new java.util.concurrent.CountDownLatch(2)
    val latchChecked = new java.util.concurrent.CountDownLatch(1)
    val latchForeign = new java.util.concurrent.CountDownLatch(1)
    def worker(tag: Int, set: DataFrame => Unit, releaseFirst: Boolean) =
      new Thread(() => {
        val df = Checkpoint.pin(rows(500, tag))
        df.count() // materialize the pin
        set(df)
        latchPinned.countDown()
        latchChecked.await()
        if (releaseFirst) Checkpoint.release()
        else { latchForeign.await(); Checkpoint.release() }
      })
    val ta = worker(1, dfA = _, releaseFirst = false)
    val tb = worker(2, dfB = _, releaseFirst = true)
    ta.start(); tb.start()
    latchPinned.await()
    assert(dfA.storageLevel === StorageLevel.MEMORY_AND_DISK)
    assert(dfB.storageLevel === StorageLevel.MEMORY_AND_DISK)
    latchChecked.countDown()
    tb.join()
    // B released its own scope; A's pin must still be cached
    assert(dfB.storageLevel === StorageLevel.NONE,
      "thread B's release must free thread B's pin")
    assert(dfA.storageLevel === StorageLevel.MEMORY_AND_DISK,
      "thread B's release must NOT evict thread A's in-flight pin")
    // a release on a thread that built nothing frees nothing of A's
    Checkpoint.release()
    assert(dfA.storageLevel === StorageLevel.MEMORY_AND_DISK,
      "a foreign thread's release() must not evict A's pin")
    latchForeign.countDown()
    ta.join()
    assert(dfA.storageLevel === StorageLevel.NONE,
      "thread A's own release must free thread A's pin")
  }

  /** Runs `body` with rounds checkpointed locally, so their blocks show
    * up in `getPersistentRDDs`.
    */
  private def localRounds[T](body: => T): T = {
    val prev = spark.conf.getOption(Checkpoint.ReliableConf)
    spark.conf.set(Checkpoint.ReliableConf, "false")
    try body
    finally prev.fold(spark.conf.unset(Checkpoint.ReliableConf))(
      spark.conf.set(Checkpoint.ReliableConf, _))
  }

  test("rounds holds at most one earlier round and frees the rest") {
    localRounds {
      Checkpoint.release()
      val sc = spark.sparkContext
      val init = spark.range(200L).select(col("id"), col("id").as("v"))
      def step(prev: DataFrame, r: Int): DataFrame =
        prev.select(col("id"), pmod(col("v") * 31 + r, lit(1009L)).as("v"))
      var maxHeld = 0
      val got = Checkpoint.rounds(init, 6) { (prev, r) =>
        maxHeld = math.max(maxHeld, sc.getPersistentRDDs.size)
        assert(sc.getPersistentRDDs.size <= 1,
          s"round $r: more than one earlier round held: ${sc.getPersistentRDDs.keys}")
        step(prev, r)
      }
      assert(maxHeld === 1, "rounds 1..n-1 must be truncated")
      val want = (1 to 6).foldLeft(init)(step)
      assert(got.orderBy("id").collect().toSeq === want.orderBy("id").collect().toSeq)
      assert(sc.getPersistentRDDs.size === 1, "the lazy last round reads round n-1")
      Checkpoint.release()
      assert(sc.getPersistentRDDs.isEmpty,
        s"release left rounds behind: ${sc.getPersistentRDDs.keys}")
    }
  }

  test("fixpoint fails past its cap, naming the loop and the cap") {
    localRounds {
      val e = intercept[IllegalArgumentException] {
        Checkpoint.fixpoint(rows(50, 1), 3, "spinLoop")(identity) {
          (_, _, _, _) => false
        }
      }
      assert(e.getMessage.contains("spinLoop") && e.getMessage.contains("3 rounds"),
        e.getMessage)
      Checkpoint.release()
      assert(spark.sparkContext.getPersistentRDDs.isEmpty)
    }
  }

  test("fixpoint returns the converged round and its round count") {
    localRounds {
      // counts 5, 4, 3, 2, 1, 0, 0: the sixth step repeats the count
      val (last, n) = Checkpoint.fixpoint(spark.range(1L, 6L).toDF("v"), 10, "countdown")(
        _.select((col("v") - 1).as("v")).filter(col("v") > 0)) {
        (_, prevCount, _, nextCount) => nextCount == prevCount
      }
      assert(n === 6)
      assert(last.isEmpty)
      assert(spark.sparkContext.getPersistentRDDs.size === 1,
        "only the converged round is held")
      Checkpoint.release()
      assert(spark.sparkContext.getPersistentRDDs.isEmpty)
    }
  }
}
