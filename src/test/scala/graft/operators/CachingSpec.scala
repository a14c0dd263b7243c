package graft.operators

import graft.TestSpark
import org.apache.spark.storage.StorageLevel
import org.scalatest.funsuite.AnyFunSuite

/** Cache-ownership contract: release() must drop exactly what the graft
  * operators own — owned persists and graft-made checkpoint leaves — and
  * never a caller's own storage.
  */
class CachingSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("own(persisted) + release(derived) drops it; a caller's persisted input stays") {
    val input = spark.range(100).toDF("a").persist(StorageLevel.MEMORY_AND_DISK)
    input.count()
    val inputRdds = spark.sparkContext.getPersistentRDDs.keySet
    val part = Caching.own(input.select($"a" * 2 as "b").persist(StorageLevel.MEMORY_AND_DISK))
    part.count()
    // a frame derived from the owned part that ALSO reads the caller's input
    val derived = part.unionByName(input.select($"a" as "b")).orderBy("b")
    assert(derived.count() === 200)
    Caching.release(derived)
    // unpersist is async (blocking=false); poll briefly
    val deadline = System.nanoTime() + 10e9.toLong
    while (spark.sparkContext.getPersistentRDDs.keySet != inputRdds &&
      System.nanoTime() < deadline) Thread.sleep(50)
    assert(spark.sparkContext.getPersistentRDDs.keySet === inputRdds,
      "the owned part's cache must be dropped, the caller's input kept")
    assert(input.storageLevel === StorageLevel.MEMORY_AND_DISK)
    assert(part.storageLevel === StorageLevel.NONE)
    input.unpersist(blocking = true)
  }

  test("release() leaves caller-made localCheckpoint leaves alone") {
    val ck = spark.range(50).toDF("a").localCheckpoint(true)
    assert(ck.count() === 50)
    // a frame DERIVED from the caller's checkpoint, released by graft code
    Caching.release(ck.select($"a" * 2 as "b"))
    // the caller's checkpoint must still be readable (its blocks are
    // unrecoverable if dropped — the ownership rule exists for exactly this)
    assert(ck.count() === 50)
  }

  test("own() + release() drops graft-made checkpoint blocks") {
    val ck = Caching.own(spark.range(50).toDF("a").localCheckpoint(true))
    assert(ck.count() === 50)
    Caching.release(ck)
    // blocks gone: a recompute attempt must fail (LocalCheckpointRDD
    // cannot rebuild) — count() now throws
    intercept[Exception] { ck.count() }
  }
}
