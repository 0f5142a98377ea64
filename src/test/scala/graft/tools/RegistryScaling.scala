package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.dedup.Registry
import graft.dedup.Registry.{Exact, Near, Vec}

/** Empirical O(batch) proof for the registry family (r12 verdict #2):
  * grow each registry 10×/100× with synthetic batches, then time the
  * ingest of a FIXED-SIZE batch at each registry size. A flat
  * latency column = the no-rescan claim holds (ingest cost tracks
  * the batch, not the history); a growing column would expose a
  * hidden history scan. The registry is compacted to one file per
  * bucket before each timed probe so the measurement isolates the
  * join/scan shape from the small-files effect (which Registry
  * .compact owns separately).
  *
  * Usage: Test/runMain graft.tools.RegistryScaling
  * Prints a markdown table for PERF.md.
  */
object RegistryScaling {

  private def timeMs(f: => Unit): Long = {
    val t0 = System.nanoTime()
    f
    (System.nanoTime() - t0) / 1000000L
  }

  // deterministic synthetic rows, disjoint id ranges per call
  private def textBatch(spark: SparkSession, from: Long, n: Long): DataFrame = {
    import spark.implicits._
    spark.range(from, from + n)
      .select(col("id").as("doc_id"),
        concat(lit("synthetic document body "), col("id").cast("string"),
          lit(" tail")).as("text"))
  }

  private def simBatch(spark: SparkSession, from: Long, n: Long): DataFrame =
    // uniform 60-bit signatures via xxhash64 (ANSI-safe) — the probe
    // cost is what's under test, not the simhash kernel
    spark.range(from, from + n)
      .select(col("id").as("doc_id"),
        pmod(xxhash64(col("id")), lit(1L << 60)).as("simhash"))

  private def vecBatch(spark: SparkSession, from: Long, n: Long): DataFrame =
    spark.range(from, from + n)
      .select(col("id").as("vec_id"),
        transform(sequence(lit(0), lit(15)), d =>
          ((pmod(xxhash64(col("id") * lit(16L) + d), lit(997L))
            .cast("double") / lit(997.0)) - lit(0.5)).cast("float"))
          .as("embedding"))

  def main(args: Array[String]): Unit = {
    val spark = graft.GraftSession.local(8, "graft-registry-scaling")
    spark.sparkContext.setLogLevel("WARN")
    val tmp = System.getProperty("java.io.tmpdir")
    val buckets = 16
    val rows = scala.collection.mutable.ArrayBuffer.empty[String]
    // section selector: no args = all; else any of exact|near|vec|rekey
    val run = if (args.isEmpty) Set("exact", "near", "vec", "rekey")
      else args.toSet

    var next = 0L
    var batchNo = 0
    def nextBatch(): Int = { batchNo += 1; batchNo }

    if (run("exact")) {
    // ---- exact digest registry: fixed 10k-doc batch at 10k / 100k / 1M
    Registry.create(spark, Exact, "graft_scal_ex", s"$tmp/graft_scal/ex",
      buckets)
    def growEx(n: Long): Unit = {
      Registry.ingest(spark, Exact, "graft_scal_ex",
        textBatch(spark, next, n), "doc_id", "text", nextBatch())
      next += n
    }
    def probeEx(label: String): Unit = {
      Registry.compact(spark, "graft_scal_ex")
      val regRows = spark.table("graft_scal_ex").count()
      val ms = timeMs {
        Registry.ingest(spark, Exact, "graft_scal_ex",
          textBatch(spark, next, 10000), "doc_id", "text", nextBatch())
      }
      next += 10000
      rows += s"| exact | $regRows | 10000 | $ms |"
      println(s"[exact $label] registry=$regRows ingest_ms=$ms")
    }
    growEx(10000); probeEx("10k")
    growEx(80000); probeEx("100k")
    growEx(900000); probeEx("1M")
    }

    if (run("near")) {
    // ---- near-dup registry (signature probes): fixed 10k batch
    Registry.create(spark, Near(), "graft_scal_nr", s"$tmp/graft_scal/nr",
      buckets)
    next = 0L
    def growNr(n: Long): Unit = {
      Registry.ingest(spark, Near(), "graft_scal_nr",
        simBatch(spark, next, n), nextBatch())
      next += n
    }
    def probeNr(): Unit = {
      Registry.compact(spark, "graft_scal_nr")
      val regRows = spark.table("graft_scal_nr").count()
      val ms = timeMs {
        Registry.ingest(spark, Near(), "graft_scal_nr",
          simBatch(spark, next, 10000), nextBatch())
      }
      next += 10000
      rows += s"| near | $regRows | 10000 | $ms |"
      println(s"[near] registry=$regRows ingest_ms=$ms")
    }
    growNr(10000); probeNr()
    growNr(80000); probeNr()
    growNr(900000); probeNr()
    }

    if (run("vec")) {
    // ---- vector registry: fixed 5k batch at 5k / 50k / 500k
    Registry.create(spark, Vec(), "graft_scal_vc", s"$tmp/graft_scal/vc",
      buckets)
    next = 0L
    def growVc(n: Long): Unit = {
      Registry.ingest(spark, Vec(), "graft_scal_vc",
        vecBatch(spark, next, n), "vec_id", "embedding", nextBatch())
      next += n
    }
    def probeVc(): Unit = {
      Registry.compact(spark, "graft_scal_vc")
      val regRows = spark.table("graft_scal_vc").count()
      val ms = timeMs {
        Registry.ingest(spark, Vec(), "graft_scal_vc",
          vecBatch(spark, next, 5000), "vec_id", "embedding",
          nextBatch())
      }
      next += 5000
      rows += s"| vec | $regRows | 5000 | $ms |"
      println(s"[vec] registry=$regRows ingest_ms=$ms")
    }
    growVc(5000); probeVc()
    growVc(45000); probeVc()
    growVc(450000); probeVc()
    }

    if (run("rekey")) {
    // ---- rekeyVec migration (r13 verdict #3): an 8-plane registry
    // grown past its sizing shows the LINEAR probe cost (expected
    // candidates/probe ~ rows/256); rekey to 16 planes — ONE pass
    // over the stored rows, corpus untouched — and the SAME probe
    // returns to the flat O(batch) curve.
    Registry.create(spark, Vec(planes = 8), "graft_scal_v8",
      s"$tmp/graft_scal/v8", buckets)
    next = 0L
    Seq(100000L, 400000L, 1500000L).foreach { n =>
      Registry.ingest(spark, Vec(), "graft_scal_v8",
        vecBatch(spark, next, n), "vec_id", "embedding", nextBatch())
      next += n
    }
    Registry.compact(spark, "graft_scal_v8")
    val regRows = spark.table("graft_scal_v8").count()
    val msAt8 = timeMs {
      Registry.ingest(spark, Vec(), "graft_scal_v8",
        vecBatch(spark, next, 5000), "vec_id", "embedding", nextBatch())
    }
    next += 5000
    val msRekey = timeMs {
      Registry.rekeyVec(spark, "graft_scal_v8", "graft_scal_v16",
        s"$tmp/graft_scal/v16", buckets, newPlanes = 16)
    }
    val msAt16 = timeMs {
      Registry.ingest(spark, Vec(), "graft_scal_v16",
        vecBatch(spark, next, 5000), "vec_id", "embedding", nextBatch())
    }
    next += 5000
    rows += s"| vec planes=8 (outgrown) | $regRows | 5000 | $msAt8 |"
    rows += s"| rekey 8→16 (one pass) | $regRows | — | $msRekey |"
    rows += s"| vec planes=16 (post-rekey) | ${regRows + 5000} | 5000 | $msAt16 |"
    println(s"[rekey] at8_ms=$msAt8 rekey_ms=$msRekey at16_ms=$msAt16")
    }

    println("\n| family | registry_rows | batch_rows | ingest_ms |")
    println("|---|---|---|---|")
    rows.foreach(println)
    spark.stop()
  }
}
