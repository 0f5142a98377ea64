package graft.queries

import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.storage.StorageLevel

import graft.SparkSpec

class FitStoreSpec extends SparkSpec {

  /** A slot that counts its builds; each test uses its own dir key. */
  private def counted[A](build: => A): (FitStore.Slot[A], AtomicInteger) = {
    val n = new AtomicInteger()
    (FitStore.slot((_, _) => { n.incrementAndGet(); build }), n)
  }

  private def awaitUnpersisted(ds: org.apache.spark.sql.Dataset[_]): Unit = {
    val deadline = System.currentTimeMillis() + 15000
    while (ds.storageLevel != StorageLevel.NONE &&
        System.currentTimeMillis() < deadline) Thread.sleep(100)
  }

  test("builds once per key across repeat and concurrent callers") {
    val (slot, n) = counted { Thread.sleep(200); new Object }
    val first = slot(spark, "repeat")
    assert(slot(spark, "repeat") eq first)
    assert(n.get == 1)

    val pool = Executors.newFixedThreadPool(8)
    val gate = new CountDownLatch(1)
    val (slot8, n8) = counted { Thread.sleep(200); new Object }
    val got = (1 to 8).map(_ => pool.submit(() => {
      gate.await(); slot8(spark, "concurrent")
    }))
    gate.countDown()
    val values = got.map(_.get(30, TimeUnit.SECONDS))
    pool.shutdown()
    assert(n8.get == 1)
    assert(values.forall(_ eq values.head))
  }

  test("a build may read another slot") {
    val (inner, nInner) = counted(spark.range(5).toDF("v"))
    val (outer, nOuter) = counted(inner(spark, "nested").count())
    assert(outer(spark, "nested") == 5L)
    assert(outer(spark, "nested") == 5L)
    assert(nInner.get == 1 && nOuter.get == 1)
  }

  test("a build that throws is not cached; the next call rebuilds") {
    val fail = new AtomicInteger(1)
    val (slot, n) = counted {
      if (fail.getAndDecrement() > 0) throw new IllegalStateException("boom")
      "ok"
    }
    intercept[IllegalStateException](slot(spark, "throws"))
    assert(slot(spark, "throws") == "ok")
    assert(slot(spark, "throws") == "ok")
    assert(n.get == 2)
  }

  test("a new session gets its own build") {
    val (slot, n) = counted(new Object)
    val other = spark.newSession()
    val a = slot(spark, "sessions")
    val b = slot(other, "sessions")
    assert(!(a eq b))
    assert(slot(other, "sessions") eq b)
    assert(n.get == 2)
  }

  test("release drops the context's entries and unpersists its pins") {
    val (slot, n) = counted(
      FitStore.pinned(spark.range(100).toDF("v").selectExpr("v * 2 AS d")))
    val pin = slot(spark, "release")
    assert(pin.storageLevel == StorageLevel.MEMORY_AND_DISK)
    // the function the application-end listener runs (the JVM-wide
    // spec context cannot be stopped mid-suite)
    FitStore.release(spark.sparkContext)
    awaitUnpersisted(pin)
    assert(pin.storageLevel == StorageLevel.NONE)
    val again = slot(spark, "release")
    assert(!(again eq pin))
    assert(n.get == 2)
    assert(again.count() == 100)
  }
}
