package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.plans.Checkpoint

/** The hold lifecycle of [[graft.plans.Checkpoint]]: pins live in the
  * building thread's scope, and a release frees exactly that scope.
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
}
