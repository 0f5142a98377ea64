package graft.similarity

import org.apache.spark.sql.functions._

import graft.SparkSpec

class IndexStoreSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(tag: String) =
    s"${System.getProperty("java.io.tmpdir")}/graft_test_index/$tag"

  private def blobs = (
    Seq((0L, Array(10f, 10f, 0f, 0f)), (1L, Array(-10f, -10f, 0f, 0f))) ++
      (2 until 10).map(i => (i.toLong, Array(10f + i * 0.01f, 10f, 0f, 0f))) ++
      (10 until 20).map(i => (i.toLong, Array(-10f, -10f + i * 0.01f, 0f, 0f)))
    ).toDF("id", "vec")

  test("PQ index survives save/load: artifact probe == fresh-build probe") {
    val queries = blobs.filter($"id" >= 10 && $"id" < 14)
    val (cents, codes) = Pq.trainEncode(blobs, "id", "vec",
      dim = 4, m = 2, k = 2, iters = 2)
    val direct = Pq.adcTopKWith(cents, codes, queries, "id", "vec",
        dim = 4, m = 2, topK = 3)
      .orderBy($"query_id", $"rank")
      .as[(Long, Long, Long, Int)].collect().toList
    val path = tmp("pq")
    IndexStore.savePq(cents, codes, path, dim = 4, m = 2,
      quantScale = 1e6)
    val loaded = IndexStore.pqTopK(spark, path, queries, "id", "vec",
        topK = 3)
      .orderBy($"query_id", $"rank")
      .as[(Long, Long, Long, Int)].collect().toList
    assert(loaded == direct)
    assert(direct.nonEmpty)
  }

  test("IVF index survives save/load: artifact probe == ivfTopK, corpus untouched") {
    val corpus = (0 until 24).map { i =>
      val base = if (i % 2 == 0) Array(5f, 0f, 1f) else Array(0f, 5f, 1f)
      (i.toLong, base.map(_ + i * 0.001f))
    }.toDF("vec_id", "embedding")
    val queries = corpus.filter($"vec_id" >= 20)
    val direct = Ann.ivfTopK(corpus, "vec_id", "embedding",
        nCentroids = 2, nProbe = 1, queries, k = 4)
      .orderBy($"query_id", $"rank")
      .as[(Long, Long, Double, Int)].collect().toList
    val (cents, assigned) =
      Ann.ivfIndex(corpus, "vec_id", "embedding", nCentroids = 2)
    val path = tmp("ivf")
    IndexStore.saveIvf(cents, assigned, path, roundTo = 6)
    val loaded = IndexStore.ivfTopK(spark, path, queries,
        "vec_id", "embedding", nProbe = 1, k = 4)
      .orderBy($"query_id", $"rank")
      .as[(Long, Long, Double, Int)].collect().toList
    assert(loaded == direct)
    assert(direct.nonEmpty)
  }

  test("appendPq: probe through the appended artifact equals a rebuild " +
      "that encodes old∪new with the SAME codebooks") {
    val path = tmp("pq_append")
    val (cents, codes) = Pq.trainEncode(blobs, "id", "vec",
      dim = 4, m = 2, k = 2, iters = 2)
    IndexStore.savePq(cents, codes, path, dim = 4, m = 2,
      quantScale = 1e6)
    val batch = (20 until 30).map(i =>
      (i.toLong, Array(10f - i * 0.02f, 10f, 0.5f, 0f))).toDF("id", "vec")
    IndexStore.appendPq(spark, path, batch, "id", "vec")
    val queries = blobs.filter($"id" < 2)
    // topK past the same-code tie block: with k=2 codebooks every
    // same-cluster vector shares a code, adist ties break by id, and
    // the 8 older cluster members outrank any appended id at k=5
    val viaAppend = IndexStore.pqTopK(spark, path, queries, "id", "vec",
        topK = 15)
      .orderBy($"query_id", $"rank")
      .as[(Long, Long, Long, Int)].collect().toList
    // rebuild: same frozen codebooks, encode everything in one pass
    val rebuilt = Pq.encodeWith(cents, blobs.unionByName(batch),
      "id", "vec", dim = 4, m = 2)
    val viaRebuild = Pq.adcTopKWith(cents, rebuilt, queries, "id", "vec",
        dim = 4, m = 2, topK = 15)
      .orderBy($"query_id", $"rank")
      .as[(Long, Long, Long, Int)].collect().toList
    assert(viaAppend == viaRebuild)
    // the appended vectors actually rank (nearest blob to id 0)
    assert(viaAppend.exists(_._2 >= 20L))
  }

  test("appendIvf: probe through the appended artifact equals a rebuild " +
      "assigning old∪new to the SAME centroids; append plan is O(batch)") {
    val corpus = (0 until 24).map { i =>
      val base = if (i % 2 == 0) Array(5f, 0f, 1f) else Array(0f, 5f, 1f)
      (i.toLong, base.map(_ + i * 0.001f))
    }.toDF("vec_id", "embedding")
    val (cents, assigned) =
      Ann.ivfIndex(corpus, "vec_id", "embedding", nCentroids = 2)
    val path = tmp("ivf_append")
    IndexStore.saveIvf(cents, assigned, path, roundTo = 6)
    val batch = (30 until 40).map(i =>
      (i.toLong, Array(4.5f, 0.2f * (i % 3), 1f))).toDF("vec_id", "embedding")
    // O(batch): the append's plan reads NEITHER the corpus source
    // nor the existing inverted file
    val appendPlan = Ann.ivfAssign(
      spark.read.parquet(s"$path/centroids"), batch,
      "vec_id", "embedding", 6).queryExecution.executedPlan.toString
    assert(!appendPlan.contains("inverted"), appendPlan.take(1200))
    IndexStore.appendIvf(spark, path, batch, "vec_id", "embedding")
    val queries = corpus.filter($"vec_id" >= 20)
    // k past the 11 near-1.0-cosine original cluster members, so the
    // slightly-off appended vectors can show up at all
    val viaAppend = IndexStore.ivfTopK(spark, path, queries,
        "vec_id", "embedding", nProbe = 1, k = 15)
      .orderBy($"query_id", $"rank")
      .as[(Long, Long, Double, Int)].collect().toList
    val rebuilt = Ann.ivfAssign(cents, corpus.unionByName(batch),
      "vec_id", "embedding", 6)
    val viaRebuild = Ann.ivfProbe(cents, rebuilt, queries,
        "vec_id", "embedding", nProbe = 1, k = 15)
      .orderBy($"query_id", $"rank")
      .as[(Long, Long, Double, Int)].collect().toList
    assert(viaAppend == viaRebuild)
    assert(viaAppend.exists(_._2 >= 30L))
  }

  test("compactPq/compactIvf: fewer files, identical probes") {
    def files(p: String): Int = new java.io.File(p).listFiles()
      .count(_.getName.startsWith("part-"))
    val path = tmp("pq_compact")
    val (cents, codes) = Pq.trainEncode(blobs, "id", "vec",
      dim = 4, m = 2, k = 2, iters = 1)
    IndexStore.savePq(cents, codes, path, dim = 4, m = 2,
      quantScale = 1e6)
    (0 until 3).foreach { b =>
      IndexStore.appendPq(spark, path,
        (100 + b * 10 until 110 + b * 10).map(i =>
          (i.toLong, Array(10f, 10f - i * 0.01f, 0f, 0f))).toDF("id", "vec"),
        "id", "vec")
    }
    val queries = blobs.filter($"id" < 2)
    val before = IndexStore.pqTopK(spark, path, queries, "id", "vec", 20)
      .orderBy($"query_id", $"rank")
      .as[(Long, Long, Long, Int)].collect().toList
    val nBefore = files(s"$path/codes")
    IndexStore.compactPq(spark, path)
    assert(files(s"$path/codes") < nBefore,
      s"${files(s"$path/codes")} !< $nBefore")
    val after = IndexStore.pqTopK(spark, path, queries, "id", "vec", 20)
      .orderBy($"query_id", $"rank")
      .as[(Long, Long, Long, Int)].collect().toList
    assert(after == before)

    val ipath = tmp("ivf_compact")
    val corpus = (0 until 24).map { i =>
      val base = if (i % 2 == 0) Array(5f, 0f, 1f) else Array(0f, 5f, 1f)
      (i.toLong, base.map(_ + i * 0.001f))
    }.toDF("vec_id", "embedding")
    val (ic, ia) = Ann.ivfIndex(corpus, "vec_id", "embedding", 2)
    IndexStore.saveIvf(ic, ia, ipath, roundTo = 6)
    (0 until 3).foreach { b =>
      IndexStore.appendIvf(spark, ipath,
        (50 + b * 10 until 60 + b * 10).map(i =>
          (i.toLong, Array(4.5f, 0.1f * (i % 4), 1f)))
          .toDF("vec_id", "embedding"),
        "vec_id", "embedding")
    }
    val iq = corpus.filter($"vec_id" >= 20)
    val ibefore = IndexStore.ivfTopK(spark, ipath, iq,
        "vec_id", "embedding", 1, 20)
      .orderBy($"query_id", $"rank")
      .as[(Long, Long, Double, Int)].collect().toList
    val inBefore = files(s"$ipath/inverted")
    IndexStore.compactIvf(spark, ipath)
    assert(files(s"$ipath/inverted") < inBefore)
    val iafter = IndexStore.ivfTopK(spark, ipath, iq,
        "vec_id", "embedding", 1, 20)
      .orderBy($"query_id", $"rank")
      .as[(Long, Long, Double, Int)].collect().toList
    assert(iafter == ibefore)
  }

  test("compaction crash before the swap leaves the artifact intact " +
      "and serving; the staged dir is a complete copy; re-running " +
      "completes the compaction") {
    def files(p: String): Int = new java.io.File(p).listFiles()
      .count(_.getName.startsWith("part-"))
    val path = tmp("pq_crash")
    val (cents, codes) = Pq.trainEncode(blobs, "id", "vec",
      dim = 4, m = 2, k = 2, iters = 1)
    IndexStore.savePq(cents, codes, path, dim = 4, m = 2,
      quantScale = 1e6)
    (0 until 2).foreach { b =>
      IndexStore.appendPq(spark, path,
        (200 + b * 10 until 210 + b * 10).map(i =>
          (i.toLong, Array(10f, 10f - i * 0.01f, 0f, 0f))).toDF("id", "vec"),
        "id", "vec")
    }
    val queries = blobs.filter($"id" < 2)
    val before = IndexStore.pqTopK(spark, path, queries, "id", "vec", 20)
      .orderBy($"query_id", $"rank")
      .as[(Long, Long, Long, Int)].collect().toList
    val nBefore = files(s"$path/codes")
    // the crash: process dies after the staged write, before the swap
    IndexStore.compactPqStaged(spark, path)
    assert(files(s"$path/codes") == nBefore,
      "live code files must be untouched by a crashed compact")
    val afterCrash = IndexStore.pqTopK(spark, path, queries, "id",
        "vec", 20)
      .orderBy($"query_id", $"rank")
      .as[(Long, Long, Long, Int)].collect().toList
    assert(afterCrash == before, "artifact must still serve probes")
    // staged dir holds the complete row set
    assert(spark.read.parquet(s"$path/codes.compact-tmp").count()
      == spark.read.parquet(s"$path/codes").count())
    // re-running to completion recovers
    IndexStore.compactPq(spark, path)
    assert(files(s"$path/codes") < nBefore)
    assert(!new java.io.File(s"$path/codes.compact-tmp").exists(),
      "completed compact must consume the staging dir")
    val afterCompact = IndexStore.pqTopK(spark, path, queries, "id",
        "vec", 20)
      .orderBy($"query_id", $"rank")
      .as[(Long, Long, Long, Int)].collect().toList
    assert(afterCompact == before)
    // a crash BETWEEN the two renames: `codes` is gone, the original
    // sits in `.compact-old` and the staged copy in `.compact-tmp`; the
    // next append restores the original before it writes
    IndexStore.compactPqStaged(spark, path)
    assert(new java.io.File(s"$path/codes")
      .renameTo(new java.io.File(s"$path/codes.compact-old")))
    val nCodes = spark.read.parquet(s"$path/codes.compact-old").count()
    IndexStore.appendPq(spark, path,
      (300 until 310).map(i =>
        (i.toLong, Array(-10f, -10f - i * 0.01f, 0f, 0f))).toDF("id", "vec"),
      "id", "vec")
    assert(spark.read.parquet(s"$path/codes").count() == nCodes + 20,
      "the original codes plus the batch (m=2 codes per vector)")
    assert(!new java.io.File(s"$path/codes.compact-old").exists() &&
      !new java.io.File(s"$path/codes.compact-tmp").exists())
    // the batch sits far from query 0, so its neighbours are unchanged
    val healed = IndexStore.pqTopK(spark, path, queries, "id", "vec", 20)
      .filter($"query_id" === 0L).orderBy($"rank")
      .as[(Long, Long, Long, Int)].collect().toList
    assert(healed == before.filter(_._1 == 0L))
  }

  test("artifact mutations hold the single-writer lease: a second " +
      "writer fails loudly, the artifact is untouched") {
    val path = tmp("pq_lock")
    val (cents, codes) = Pq.trainEncode(blobs, "id", "vec",
      dim = 4, m = 2, k = 2, iters = 1)
    IndexStore.savePq(cents, codes, path, dim = 4, m = 2,
      quantScale = 1e6)
    val nCodes = spark.read.parquet(s"$path/codes").count()
    val held = graft.dedup.Registry.acquireLock(spark, path) // another writer
    val e = intercept[IllegalStateException] {
      IndexStore.appendPq(spark, path,
        Seq((500L, Array(1f, 2f, 3f, 4f))).toDF("id", "vec"), "id", "vec")
    }
    assert(e.getMessage.contains("locked by another writer"))
    assert(spark.read.parquet(s"$path/codes").count() == nCodes)
    intercept[IllegalStateException] { IndexStore.compactPq(spark, path) }
    graft.dedup.Registry.releaseLock(spark, held)
    IndexStore.appendPq(spark, path,
      Seq((500L, Array(1f, 2f, 3f, 4f))).toDF("id", "vec"), "id", "vec")
    assert(spark.read.parquet(s"$path/codes").count() == nCodes + 2,
      "append proceeds once the lease is free (m=2 codes per vector)")
  }

  test("artifact probe plan scans the index parquet, never the corpus source") {
    val path = tmp("pq_plan")
    val (cents, codes) = Pq.trainEncode(blobs, "id", "vec",
      dim = 4, m = 2, k = 2, iters = 1)
    IndexStore.savePq(cents, codes, path, dim = 4, m = 2,
      quantScale = 1e6)
    val queries = blobs.filter($"id" < 2)
    val plan = IndexStore.pqTopK(spark, path, queries, "id", "vec",
        topK = 2)
      .queryExecution.executedPlan.toString
    // the only file scans are the artifact's: codes + codebooks
    val scans = plan.linesIterator
      .filter(_.contains("Scan parquet")).toList
    assert(scans.nonEmpty && scans.forall(_.contains("graft_test_index")),
      scans.mkString("\n"))
  }
}
