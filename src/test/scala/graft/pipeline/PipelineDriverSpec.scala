package graft.pipeline

import java.nio.file.Files

import org.apache.spark.storage.StorageLevel

import graft.SparkSpec

/** The CLI ingest loop's exactly-once contract (r13 verdict #7):
  * the committed-batches ledger makes a scheduler retry of a
  * COMPLETED batch a no-op end-to-end — registry AND output file
  * trees byte-identical — while new batch numbers continue the
  * cross-run loop against the attached registries. (The cross-JVM
  * shape is additionally smoke-proven by running the actual
  * `PipelineDriver ingest` main in separate forked JVMs — r13/r14
  * session logs; this spec pins the ledger semantics in-suite.)
  */
class PipelineDriverSpec extends SparkSpec {
  import spark.implicits._

  private def long(salt: String): String =
    (1 to 30).map(i => s"cli${salt}x$i").mkString(" ")

  private def tree(base: String): Set[(String, Long)] = {
    val root = new java.io.File(base)
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(walk)
      else Seq(f)
    walk(root).map(f => (f.getAbsolutePath.stripPrefix(base),
      f.length())).toSet
  }

  test("a completed batch retry is a no-op (ledger-gated); new batch " +
      "numbers continue against the attached registries") {
    val base = Files.createTempDirectory("graft-cli-ledger").toString
    val docs = Seq((1L, long("aa")), (2L, long("bb")))
      .toDF("doc_id", "text")
    assert(PipelineDriver.runIngest(spark, docs, s"$base/out0",
      s"$base/reg", buckets = 4, batchNo = 0, bench = None),
      "first run of batch 0 must execute")
    val out0 = spark.read.parquet(s"$base/out0")
      .select($"doc_id").as[Long].collect().toSet
    assert(out0 == Set(1L, 2L))
    val snapshot = tree(base)
    // the retry: same batch number, ledger stamped → no-op
    assert(!PipelineDriver.runIngest(spark, docs, s"$base/out0",
      s"$base/reg", buckets = 4, batchNo = 0, bench = None),
      "retry of a committed batch must be skipped")
    assert(tree(base) == snapshot,
      "retry must leave the whole file tree untouched")
    // the next day's batch: re-sent copy drops, novel doc survives
    val docs1 = Seq((10L, long("aa")), (11L, long("cc")))
      .toDF("doc_id", "text")
    assert(PipelineDriver.runIngest(spark, docs1, s"$base/out1",
      s"$base/reg", buckets = 4, batchNo = 1, bench = None))
    assert(spark.read.parquet(s"$base/out1")
      .select($"doc_id").as[Long].collect().toSet == Set(11L))
  }

  test("a runIngest batch with compaction on leaves no pinned RDD behind") {
    val base = Files.createTempDirectory("graft-cli-pins").toString
    val sc = spark.sparkContext
    def pinned = sc.getPersistentRDDs
      .filter(_._2.getStorageLevel != StorageLevel.NONE).keySet.toSet
    val before = pinned
    val docs = ((0 until 8).map(i => (i.toLong, long(s"p$i"))) :+
      (99L, long("p0"))).toDF("doc_id", "text")
    assert(PipelineDriver.runIngest(spark, docs, s"$base/out",
      s"$base/reg", buckets = 2, batchNo = 0, bench = None,
      autoCompact = true, compactThreshold = 0))
    assert(spark.read.parquet(s"$base/out").count() == 8L)
    val left = pinned -- before
    assert(left.isEmpty, s"runIngest left pinned RDDs ${left.map(sc.getPersistentRDDs)}")
  }

  test("auto-compact: after enough small ingests the threshold trips, " +
      "the registries compact under the lease, verdicts unchanged, " +
      "file count reset (r14 verdict #6)") {
    val base = Files.createTempDirectory("graft-cli-autocompact").toString
    // threshold 3: batches 0..2 stay under it; batch 3's post-commit
    // check sees 4 files/bucket-max and fires
    (0 to 3).foreach { b =>
      // 8 novel docs per batch so every batch's append covers both
      // buckets (fixed texts — deterministic layout run to run)
      val docs = ((0 until 8).map(i =>
        (b * 100L + i, long(s"n${b}_$i"))) :+ (b * 100L + 99, long("dup")))
        .toDF("doc_id", "text")
      assert(PipelineDriver.runIngest(spark, docs, s"$base/out$b",
        s"$base/reg", buckets = 2, batchNo = b, bench = None,
        autoCompact = true, compactThreshold = 3))
    }
    val st = graft.dedup.Registry.fileStats(spark, "graft_cli_ex")
    assert(st.maxFilesPerBucket == 1,
      s"auto-compact must have reset the exact registry: $st")
    assert(graft.dedup.Registry
      .fileStats(spark, "graft_cli_nr").maxFilesPerBucket == 1,
      "near registry compacts too")
    // verdicts unchanged: batch 0's "dup" text is still registered
    // (first-seen keeper 1), batch 4's copy drops, novel survives
    val docs4 = Seq((40L, long("dup")), (41L, long("n4")))
      .toDF("doc_id", "text")
    assert(PipelineDriver.runIngest(spark, docs4, s"$base/out4",
      s"$base/reg", buckets = 2, batchNo = 4, bench = None,
      autoCompact = true, compactThreshold = 3))
    assert(spark.read.parquet(s"$base/out4")
      .select($"doc_id").as[Long].collect().toSet == Set(41L),
      "post-compact verdicts must be unchanged")
  }

  test("pruneLedger removes only markers older than the retention " +
      "horizon; a pruned batch's retry degrades to replay-idempotent " +
      "(registries unchanged), the documented contract") {
    val base = Files.createTempDirectory("graft-cli-prune").toString
    val docs = Seq((1L, long("pa")), (2L, long("pb")))
      .toDF("doc_id", "text")
    assert(PipelineDriver.runIngest(spark, docs, s"$base/out0",
      s"$base/reg", buckets = 2, batchNo = 0, bench = None))
    assert(PipelineDriver.runIngest(spark,
      Seq((10L, long("pc"))).toDF("doc_id", "text"), s"$base/out1",
      s"$base/reg", buckets = 2, batchNo = 1, bench = None))
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(
      spark.sparkContext.hadoopConfiguration)
    // backdate batch 0's marker past the horizon; batch 1 stays young
    val m0 = new org.apache.hadoop.fs.Path(s"$base/reg/_committed/batch_0")
    val old = System.currentTimeMillis() - 10L * 24 * 3600 * 1000
    fs.setTimes(m0, old, old)
    assert(PipelineDriver.pruneLedger(spark, s"$base/reg",
      retainMs = 7L * 24 * 3600 * 1000) == 1, "exactly batch 0 pruned")
    assert(!fs.exists(m0))
    assert(fs.exists(new org.apache.hadoop.fs.Path(
      s"$base/reg/_committed/batch_1")), "young marker survives")
    // the degraded contract: a retry of the PRUNED batch re-runs but
    // is replay-idempotent — identical survivors, no registry growth
    val regRows = spark.table("graft_cli_ex").count()
    assert(PipelineDriver.runIngest(spark, docs, s"$base/out0",
      s"$base/reg", buckets = 2, batchNo = 0, bench = None),
      "pruned batch retry re-runs (ledger no longer gates it)")
    assert(spark.read.parquet(s"$base/out0")
      .select($"doc_id").as[Long].collect().toSet == Set(1L, 2L),
      "replay returns the original survivors")
    assert(spark.table("graft_cli_ex").count() == regRows,
      "replay appends nothing to the registry")
  }
}
