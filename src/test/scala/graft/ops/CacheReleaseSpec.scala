package graft.ops

import org.apache.spark.storage.StorageLevel

import graft.SparkSpec

class CacheReleaseSpec extends SparkSpec {

  test("releases intermediate caches after the first consuming action") {
    val inter = spark.range(1000).toDF("v")
      .persist(StorageLevel.MEMORY_AND_DISK)
    inter.count()
    val out = Pin.untilUsed(
      inter.groupBy().sum("v").toDF("s"), inter)
    // an unrelated action must NOT release the cache
    spark.range(10).count()
    Thread.sleep(300) // listener bus is async
    assert(inter.storageLevel != StorageLevel.NONE)
    // the consuming action (over a further transform) releases it
    assert(out.filter("s >= 0").collect().nonEmpty)
    val deadline = System.currentTimeMillis() + 15000
    while (inter.storageLevel != StorageLevel.NONE &&
        System.currentTimeMillis() < deadline) Thread.sleep(100)
    assert(inter.storageLevel == StorageLevel.NONE,
      "cache not released after consuming action")
  }

  test("release fires once; result stays usable afterwards") {
    val inter = spark.range(100).toDF("v")
      .persist(StorageLevel.MEMORY_AND_DISK)
    inter.count()
    val out = Pin.untilUsed(
      inter.selectExpr("v * 2 AS d"), inter)
    assert(out.count() == 100)
    // second action recomputes without the cache — still correct
    assert(out.agg(org.apache.spark.sql.functions.sum("d"))
      .head().getLong(0) == 9900)
  }
}
