package graft.similarity

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Offline ANN index artifacts — the contract a 100 TB similarity
  * service runs on: the expensive corpus pass (PQ training + encode,
  * IVF assignment) happens ONCE in an offline job, the result lands
  * as parquet, and every later query session loads the artifact and
  * probes without touching the corpus again. Within a session the
  * index tables live as DataFrames ([[Pq.trainEncode]] /
  * [[Ann.ivfIndex]]); this store is the session boundary.
  *
  * Layout: `<path>/meta` (one row of build parameters — the probe
  * path re-derives nothing from the corpus, so the parameters must
  * travel with the data), plus the index tables. Codes and inverted
  * lists repartition on their join key at write so a read starts
  * from a layout aligned with the probe joins. IndexStoreSpec pins
  * probe-through-artifact == probe-through-fresh-build for both
  * families.
  */
object IndexStore {

  /** Artifact-level single-writer lease — the registry lease
    * ([[graft.dedup.Registry.acquireLock]]) applied to the index
    * artifact root: an append racing a compaction's directory swap
    * would either vanish from the staged copy or fail mid-rename,
    * and two appends of overlapping ids would double-count in ADC.
    * Same semantics: loud failure while held, 30-min stale takeover,
    * and the same FENCING — release is owner-checked, and the append
    * paths re-validate the token immediately before their write, so
    * a usurped writer aborts instead of double-appending. Every
    * mutation first heals a compaction that died mid-swap ([[heal]]).
    */
  private def withLock[T](spark: SparkSession, path: String)(
      body: graft.dedup.Registry.Lease => T): T = {
    val lease = graft.dedup.Registry.acquireLock(spark, path)
    try {
      Seq("codes", "inverted").foreach(d => heal(spark, s"$path/$d"))
      body(lease)
    } finally graft.dedup.Registry.releaseLock(spark, lease)
  }

  /** Undo a compaction that died between its two renames ([[swapDirs]]):
    * the live dir is gone and `.compact-old` holds the original, so it
    * moves back and the staged copy drops (compaction never changes
    * content, so the original is always right). Only under the lease:
    * a lock-free load can see a live compaction between its renames.
    */
  private def heal(spark: SparkSession, dir: String): Unit = {
    val live = new Path(dir)
    val fs = live.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val bak = sibling(live, ".compact-old")
    if (!fs.exists(live) && fs.exists(bak)) {
      require(fs.rename(bak, live), s"rename $bak -> $live failed")
      fs.delete(sibling(live, ".compact-tmp"), true)
    }
  }

  private def sibling(live: Path, suffix: String): Path =
    new Path(live.getParent, live.getName + suffix)

  /** Persist a PQ index: codebooks (m·k rows), codes (m per vector),
    * and (dim, m, quantScale) — what [[Pq.adcTopKWith]] needs.
    */
  def savePq(cents: DataFrame, codes: DataFrame, path: String,
      dim: Int, m: Int, quantScale: Double): Unit = {
    val spark = cents.sparkSession
    import spark.implicits._
    withLock(spark, path) { _ =>
    Seq((dim, m, quantScale)).toDF("dim", "m", "quant_scale")
      .coalesce(1).write.mode(SaveMode.Overwrite).parquet(s"$path/meta")
    cents.coalesce(1).write.mode(SaveMode.Overwrite)
      .parquet(s"$path/codebooks")
    codes.repartition(col("__s"), col("__cid"))
      .write.mode(SaveMode.Overwrite).parquet(s"$path/codes")
    }
  }

  /** Load a PQ index: (cents, codes, dim, m, quantScale). */
  def loadPq(spark: SparkSession,
      path: String): (DataFrame, DataFrame, Int, Int, Double) = {
    val meta = spark.read.parquet(s"$path/meta").head()
    (spark.read.parquet(s"$path/codebooks"),
      spark.read.parquet(s"$path/codes"),
      meta.getAs[Int]("dim"), meta.getAs[Int]("m"),
      meta.getAs[Double]("quant_scale"))
  }

  /** ADC top-k straight off a saved artifact. */
  def pqTopK(spark: SparkSession, path: String, queries: DataFrame,
      idCol: String, vecCol: String, topK: Int): DataFrame = {
    val (cents, codes, dim, m, quantScale) = loadPq(spark, path)
    Pq.adcTopKWith(cents, codes, queries, idCol, vecCol, dim, m,
      topK, quantScale)
  }

  /** Persist an IVF index: centroids + inverted file, as built by
    * [[Ann.ivfIndex]], with the roundTo convention in the meta (the
    * probe must rank with the SAME rounding the assignment used).
    * The inverted file partitions by cluster at write — each probed
    * cluster reads contiguously.
    */
  def saveIvf(cents: DataFrame, assigned: DataFrame, path: String,
      roundTo: Int): Unit = {
    val spark = cents.sparkSession
    import spark.implicits._
    withLock(spark, path) { _ =>
    Seq(roundTo).toDF("round_to")
      .coalesce(1).write.mode(SaveMode.Overwrite).parquet(s"$path/meta")
    cents.coalesce(1).write.mode(SaveMode.Overwrite)
      .parquet(s"$path/centroids")
    assigned.repartition(col("cent_id"))
      .write.mode(SaveMode.Overwrite).parquet(s"$path/inverted")
    }
  }

  /** Load an IVF index: (cents, assigned, roundTo). */
  def loadIvf(spark: SparkSession,
      path: String): (DataFrame, DataFrame, Int) = {
    val meta = spark.read.parquet(s"$path/meta").head()
    (spark.read.parquet(s"$path/centroids"),
      spark.read.parquet(s"$path/inverted"),
      meta.getAs[Int]("round_to"))
  }

  /** IVF top-k straight off a saved artifact. */
  def ivfTopK(spark: SparkSession, path: String, queries: DataFrame,
      idCol: String, vecCol: String, nProbe: Int, k: Int): DataFrame = {
    val (cents, assigned, roundTo) = loadIvf(spark, path)
    Ann.ivfProbe(cents, assigned, queries, idCol, vecCol, nProbe, k,
      roundTo)
  }

  /** Append a NEW batch to a saved PQ artifact without retraining:
    * encode with the SAVED codebooks and parameters
    * ([[Pq.encodeWith]]) and append the codes, keeping the
    * (__s, __cid) write layout so probe joins read the same shape.
    * O(batch) — the existing codes are never read, the corpus never
    * rescanned. Batch ids must be new (an id appearing twice in the
    * code table double-counts in ADC — the caller's dedup registry
    * owns that guarantee). Probe-through-appended equals a rebuild
    * that encodes old∪new with the same codebooks (IndexStoreSpec).
    */
  def appendPq(spark: SparkSession, path: String, batch: DataFrame,
      idCol: String, vecCol: String): DataFrame = withLock(spark, path) {
      lease =>
    val meta = spark.read.parquet(s"$path/meta").head()
    val cents = spark.read.parquet(s"$path/codebooks")
    val newCodes = Pq.encodeWith(cents, batch, idCol, vecCol,
      meta.getAs[Int]("dim"), meta.getAs[Int]("m"),
      meta.getAs[Double]("quant_scale"))
    graft.dedup.Registry.validateLease(spark, lease)
    newCodes.repartition(col("__s"), col("__cid"))
      .write.mode(SaveMode.Append).parquet(s"$path/codes")
    newCodes
  }

  /** Staged-swap commit shared by the compactors: the rewrite lands
    * in a `.compact-tmp` sibling while the live directory stays
    * untouched, then two renames swap it in (live → `.compact-old`,
    * staged → live) and the backup drops. A crash before the first
    * rename leaves the artifact intact; between the renames both
    * full copies exist on disk — a metadata-only window. (The old
    * truncate-in-place Overwrite held the only row copy in
    * unreplicated localCheckpoint state — a JVM crash mid-write
    * destroyed the index; r13 advisory.)
    */
  private def swapDirs(fs: FileSystem, live: Path, tmp: Path): Unit = {
    val bak = sibling(live, ".compact-old")
    fs.delete(bak, true)
    require(fs.rename(live, bak), s"rename $live -> $bak failed")
    require(fs.rename(tmp, live), s"rename $tmp -> $live failed")
    fs.delete(bak, true)
    ()
  }

  private def compactDir(spark: SparkSession, dir: String,
      keys: Seq[String], crashBeforeSwap: Boolean,
      preSwap: () => Unit = () => ()): Unit = {
    val live = new Path(dir)
    val fs = live.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val tmp = sibling(live, ".compact-tmp")
    fs.delete(tmp, true)
    // reads the live files, writes the staged copy — no truncation,
    // no pinned-in-memory-only state
    spark.read.parquet(dir).repartition(keys.map(col): _*)
      .write.mode(SaveMode.Overwrite).parquet(tmp.toString)
    if (!crashBeforeSwap) { preSwap(); swapDirs(fs, live, tmp) }
  }

  /** Compact a PQ artifact's code table: each [[appendPq]] lays a
    * file set per batch, so a daily-append index walks into the
    * small-files cliff exactly like a registry ([[graft.dedup
    * .Registry.compact]]); compaction rewrites the codes in the
    * same (__s, __cid) probe-aligned layout, one pass over the
    * INDEX (never the corpus), CRASH-SAFE via [[swapDirs]].
    */
  def compactPq(spark: SparkSession, path: String): Unit =
    withLock(spark, path) { lease =>
      compactDir(spark, s"$path/codes", Seq("__s", "__cid"),
        crashBeforeSwap = false,
        preSwap = () => graft.dedup.Registry.validateLease(spark, lease))
    }

  /** [[compactPq]] for an IVF artifact's inverted file. */
  def compactIvf(spark: SparkSession, path: String): Unit =
    withLock(spark, path) { lease =>
      compactDir(spark, s"$path/inverted", Seq("cent_id"),
        crashBeforeSwap = false,
        preSwap = () => graft.dedup.Registry.validateLease(spark, lease))
    }

  /** Crash-injection twins for IndexStoreSpec: stop after the staged
    * write — the exact on-disk state a process death mid-compact
    * leaves behind.
    */
  private[graft] def compactPqStaged(spark: SparkSession,
      path: String): Unit =
    withLock(spark, path) { _ =>
      compactDir(spark, s"$path/codes", Seq("__s", "__cid"),
        crashBeforeSwap = true)
    }

  private[graft] def compactIvfStaged(spark: SparkSession,
      path: String): Unit =
    withLock(spark, path) { _ =>
      compactDir(spark, s"$path/inverted", Seq("cent_id"),
        crashBeforeSwap = true)
    }

  /** Append a NEW batch to a saved IVF artifact without retraining:
    * assign to the SAVED centroids with the saved rounding
    * ([[Ann.ivfAssign]]) and append to the inverted file,
    * cluster-partitioned like the build. Same O(batch) and new-ids
    * contract as [[appendPq]].
    */
  def appendIvf(spark: SparkSession, path: String, batch: DataFrame,
      idCol: String, vecCol: String): DataFrame = withLock(spark, path) {
      lease =>
    val meta = spark.read.parquet(s"$path/meta").head()
    val cents = spark.read.parquet(s"$path/centroids")
    val assigned = Ann.ivfAssign(cents, batch, idCol, vecCol,
      meta.getAs[Int]("round_to"))
    graft.dedup.Registry.validateLease(spark, lease)
    assigned.repartition(col("cent_id"))
      .write.mode(SaveMode.Append).parquet(s"$path/inverted")
    assigned
  }
}
