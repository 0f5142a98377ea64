package graft.ops

import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.SparkSpec

class PinSpec extends SparkSpec {

  private def pinnedIds: Set[Int] = spark.sparkContext.getPersistentRDDs
    .filter(_._2.getStorageLevel != StorageLevel.NONE).keySet.toSet

  /** Block bytes still held for `ids`, once the async removals land. */
  private def heldBytes(ids: Set[Int]): Long = {
    def bytes = spark.sparkContext.getRDDStorageInfo
      .filter(i => ids.contains(i.id)).map(i => i.memSize + i.diskSize).sum
    val deadline = System.currentTimeMillis() + 15000
    while (bytes > 0 && System.currentTimeMillis() < deadline) Thread.sleep(100)
    bytes
  }

  test("a released cut frees its blocks; Dataset.unpersist does not") {
    val before = pinnedIds
    val cut = Pin.cut(spark.range(2000).toDF("v"))
    val viewed = Pin.cut(spark.range(3000).toDF("v"))
    val ids = pinnedIds -- before
    assert(ids.size == 2, s"two cuts, two checkpointed RDDs: $ids")
    cut.unpersist(blocking = true)
    assert(pinnedIds == before ++ ids, "a cut is not a cache entry")
    Pin.release(cut)
    // a projection or filter of a cut releases that cut
    Pin.release(viewed.filter(col("v") > 5).select(col("v")))
    assert(pinnedIds == before)
    assert(heldBytes(ids) == 0L)
  }

  test("an action-scope pin whose result never runs keeps only its cache") {
    val before = pinnedIds
    val inter = Pin.cache(spark.range(500).toDF("v"), eager = true)
    val out = Pin.untilUsed(inter.agg(sum(col("v")).as("s")), inter)
    // unrelated actions do not consume the result
    assert(spark.range(10).count() == 10L)
    Thread.sleep(300) // the listener bus is async
    assert(inter.storageLevel != StorageLevel.NONE)
    assert(out.storageLevel == StorageLevel.NONE)
    assert((pinnedIds -- before).size == 1, "only the intermediate's cache")
    Pin.release(inter)
  }

  test("a loop of 5 rounds leaves only the last round") {
    val before = pinnedIds
    var cur = Pin.cut(spark.range(100).toDF("v"))
    for (_ <- 1 to 5)
      cur = Pin.next(cur)(Pin.cut(cur.select((col("v") + 1).as("v"))))
    assert((pinnedIds -- before).size == 1, "rounds 0-4 released")
    assert(cur.agg(sum(col("v"))).head().getLong(0) == 4950L + 500L)
    Pin.release(cur)
    assert(pinnedIds == before)
  }

  test("two caches of one plan share an entry: releasing one pin keeps " +
      "the entry for the other") {
    val base = spark.range(300).toDF("v")
    val a = Pin.cache(base.select(col("v")), eager = true)
    val b = Pin.cache(base.select(col("v")), eager = true)
    Pin.release(a)
    assert(b.storageLevel != StorageLevel.NONE,
      "the other pin's entry was freed")
    Pin.release(b)
    assert(b.storageLevel == StorageLevel.NONE)
  }
}
