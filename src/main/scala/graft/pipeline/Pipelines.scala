package graft.pipeline

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.dedup.Dedup
import graft.ops.{Labels, Pin, Relational}
import graft.text.{Html, TextFunctions, Tfidf}

/** Runnable pipeline compositions (SURVEY.md §3 E2/E3 and §7's
  * `pipeline/` module): the reference ships ~40 hand-cloned main()
  * jobs; here each pipeline is a parameterized function over the
  * operator library, and [[PipelineDriver]] is the single CLI entry.
  *
  * Every stage is a DataFrame transform — the whole pipeline is one
  * lazy plan per output, so Catalyst fuses cleaning + filtering into
  * the scan and the only materialization points are the explicit
  * writes.
  */
object Pipelines {

  /** E2's spine — article cleaning: html → text, quality floor,
    * exact near-dup drop, entity tagging.
    */
  def clean(docs: DataFrame, idCol: String, htmlCol: String,
      entityDict: Seq[String], minChars: Int = 100): DataFrame = {
    val text = Html.htmlToText(col(htmlCol))
    val withText = docs
      .withColumn("content", text)
      .filter(length(col("content")) >= minChars)
    val deduped = Dedup.dropExactDups(withText, idCol, "content")
    if (entityDict.isEmpty) deduped
    else deduped.withColumn("tagged",
      Html.tagEntities(col("content"), entityDict))
  }

  /** One class's slice of a training corpus (M18): predicate,
    * canonical label, per-class cap.
    */
  case class ClassSpec(label: String, predicate: Column, cap: Int)

  /** Config-driven corpus assembly (M18 — replaces the reference's
    * ~1700 LoC of hand-cloned per-category jobs): each spec filters
    * + labels + caps, then one balanced union. The caps use the
    * window form, so the whole assembly is one job.
    */
  def assembleCorpus(docs: DataFrame, specs: Seq[ClassSpec],
      tiebreak: Seq[Column]): DataFrame =
    specs.map { spec =>
      Relational.topKPerGroup(
        docs.filter(spec.predicate).withColumn("label", lit(spec.label)),
        Seq(col("label")), tiebreak, spec.cap)
    }.reduce(_.unionByName(_))

  /** E3's spine — entity tagging profiles: tokens per entity →
    * min-max-normalized TF-IDF → top-k labels per entity.
    */
  def entityProfiles(df: DataFrame, entityCol: String, textCol: String,
      k: Int): DataFrame =
    graft.feature.Features.normalizedTfidfTags(
      df.select(col(entityCol),
        TextFunctions.tokens(col(textCol)).as("toks")),
      entityCol, "toks", k)

  /** Keyword extraction pipeline: per-doc TF-IDF top terms with
    * confidence-style thresholding (M3 + M17 shape).
    */
  def keywords(docs: DataFrame, idCol: String, textCol: String,
      k: Int): DataFrame =
    Tfidf.topTerms(
      docs.select(col(idCol), TextFunctions.tokens(col(textCol)).as("toks")),
      idCol, "toks", k)

  /** Near-duplicate text dedup, end to end: MinHash-LSH candidates →
    * exact Jaccard ≥ `jaccardMin` → drop the higher id of every
    * confirmed pair. Candidate pairs always carry id_a < id_b, so
    * the minimum id of each duplicate cluster survives (every
    * non-minimum member appears as some pair's id_b). The all-pairs
    * product never materializes — LSH bounds the join, jaccard runs
    * on candidates only.
    */
  def nearDedup(docs: DataFrame, idCol: String, textCol: String,
      jaccardMin: Double = 0.8): DataFrame = {
    val cands = Dedup.lshCandidates(docs, idCol, textCol)
    val dups = Dedup.jaccardOnCandidates(docs, cands, idCol, textCol)
      .filter(col("jaccard") >= jaccardMin)
    docs.join(dups.select(col("id_b").as(idCol)).distinct(),
      Seq(idCol), "left_anti")
  }

  /** Embedding-cosine dedup: exact pair scoring ≥ `cosMin` → drop
    * the higher id. Exact (all-pairs) by contract — at corpus scale
    * run [[graft.similarity.Ann.lshTopK]]/`ivfTopK` candidates first
    * and score only inside buckets.
    */
  def embeddingDedup(vecs: DataFrame, idCol: String, vecCol: String,
      cosMin: Double = 0.99): DataFrame = {
    val dups = graft.similarity.Ann.cosineDupPairs(vecs, idCol, vecCol, cosMin)
    vecs.join(dups.select(col("id_b").as(idCol)).distinct(),
      Seq(idCol), "left_anti")
  }

  /** Bloom-filter benchmark decontamination — the scale path for the
    * exact broadcast-set form used in `curate`/q94: when the
    * benchmark suite's distinct n-grams stop fitting a broadcast
    * set, a Bloom filter at `fpp` holds them in bits. Bloom
    * guarantees NO false negatives, so every truly contaminated
    * document is still flagged; false positives over-drop clean docs
    * at a bounded rate (PipelinesSpec measures both properties).
    * Returns docs with an `n_flagged` count of suspicious n-grams;
    * filter `n_flagged === 0` to keep provably-clean docs.
    */
  def decontaminateBloom(docs: DataFrame, idCol: String, textCol: String,
      benchmark: DataFrame, benchTextCol: String, n: Int = 3,
      expectedItems: Long = 1000000L, fpp: Double = 0.01): DataFrame = {
    def gramCol(c: Column) = array_distinct(
      TextFunctions.ngramsFast(TextFunctions.tokens(c), n))
    val bloom = benchmark
      .select(explode(gramCol(col(benchTextCol))).as("g"))
      .stat.bloomFilter("g", expectedItems, fpp)
    val bc = docs.sparkSession.sparkContext.broadcast(bloom)
    val flagged = udf { (grams: Seq[String]) =>
      if (grams == null) 0
      else grams.count(g => g != null && bc.value.mightContainString(g))
    }
    docs.withColumn("n_flagged", flagged(gramCol(col(textCol))))
  }

  /** Full training-corpus curation chain — the composition the
    * LLM-data operators exist for: quality floor → exact dedup →
    * SimHash near-dup clustering (keep each cluster's min-id doc) →
    * trigram decontamination against a benchmark set → deterministic
    * per-class cap by hash rank. For web-scraped corpora, run
    * [[graft.dedup.Dedup.stripHotParagraphs]] (line-level boilerplate
    * removal) before the quality floor so banners/footers don't
    * inflate length past `minChars` or drag near-dup similarity.
    *
    * Scale shape of each stage: the quality gate fuses into the scan;
    * exact dedup shuffles digests; near-dup pairs come from bucketed
    * equi-joins and clustering runs on the tiny edge derivative
    * (union-find contraction); the benchmark trigram set broadcasts;
    * the cap is one window over (class, hash). No stage shuffles raw
    * text except the final projection of survivors.
    */
  def curate(docs: DataFrame, idCol: String, textCol: String,
      classCol: String, benchmark: DataFrame, cap: Int,
      minChars: Int = 100, maxHamming: Int = 20): DataFrame = {
    import org.apache.spark.sql.expressions.Window

    val quality = docs.filter(length(col(textCol)) >= minChars)
    val exact = Dedup.dropExactDups(quality, idCol, textCol)

    val sims = exact.select(col(idCol),
      Dedup.simhash60(TextFunctions.tokens(col(textCol))).as("simhash"))
    val pairs = Dedup.simhashNearPairs(sims, idCol, "simhash",
      tables = 2, maxHamming = maxHamming)
    val comp = graft.graph.Components.connectedComponents(
      exact.select(col(idCol)), pairs, idCol, "id_a", "id_b")
    val keep = comp.filter(col("id") === col("comp"))
      .select(col("id").as(idCol))
    val nearDeduped = exact.join(keep, Seq(idCol), "left_semi")

    def grams(d: DataFrame) = explode(array_distinct(
      TextFunctions.ngramsFast(TextFunctions.tokens(col(textCol)), 3)))
    val bench = benchmark.select(grams(benchmark).as("g")).distinct()
    val contaminated = nearDeduped.select(col(idCol), grams(nearDeduped).as("g"))
      .join(broadcast(bench), "g")
      .select(col(idCol)).distinct()
    val clean = nearDeduped.join(contaminated, Seq(idCol), "left_anti")

    val w = Window.partitionBy(col(classCol))
      .orderBy(md5(concat(col(textCol), lit("#"),
        col(idCol).cast("string"))), col(idCol))
    clean.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= cap)
      .drop("__rn")
  }

  /** What one [[ingestBatch]] call did, stage by stage: input rows,
    * quality survivors, exact-registry survivors, near-registry
    * survivors, the last lane's survivors (`nVec`: the vector lane's,
    * or nMinhash / nNear without it), decontamination survivors and
    * minhash-lane survivors (−1 without that lane). `survivors`
    * is the final (doc_id, h, simhash) relation — the rows a caller
    * appends to the corpus. It reads a cut ([[graft.ops.Pin]]): the
    * caller releases it with `Pin.release(survivors)` once done.
    */
  final case class IngestBatchResult(survivors: DataFrame,
      nIn: Long, nQuality: Long, nExact: Long, nNear: Long,
      nVec: Long, nClean: Long, nMinhash: Long = -1L)

  /** Incremental-curate driver — ONE new batch through a chain of
    * dedup registries in one call: quality floor → `lanes`, a
    * `(registry table, lane)` list, as one
    * [[graft.dedup.Registry.ingestChain]] → n-gram decontamination
    * against a benchmark corpus. The chain order is fixed: exact →
    * near → (minhash) → (vec); any other list is refused before a
    * registry is touched. This is the operator a continuously-fed
    * 100 TB corpus actually calls: the per-modality registries
    * (q237/q241/q242) each dedup a batch alone; a real ingest chains
    * them so every stage's input is the previous stage's survivors,
    * and replaying batches in order equals a from-scratch curate of
    * the union under the (batch_no, id) tie rule (the q244 oracle
    * replays exactly that).
    *
    * The batch TEXT is read ONCE: the first projection derives every
    * text-dependent column — length, distinct `n`-grams and each
    * lane's signature at its registry's stamped parameters
    * ([[graft.dedup.Registry.resolve]]; the vec lane signs the
    * `embedding` column) — and is cut, so the registry appends'
    * refresh-by-path cannot re-trigger the scan and no later stage
    * touches `textCol` again (IngestBatchSpec pins one scan in the
    * executed plan). History is never read at all — each registry
    * probe joins its bucketed index table.
    *
    * Signing rule, the same for every lane: a row its lane cannot sign
    * (a null embedding; a text with no 3-token shingle for minhash)
    * skips that lane — it is neither probed nor stored — and survives
    * on its other verdicts. Exact and near sign every text past the
    * quality floor.
    *
    * The decontamination flag is computed in the chain's one verdict
    * plan, so the batch makes two cuts — the projection and the
    * verdicts — and the funnel counts are one aggregate over the
    * verdicts and reading `survivors` afterwards is one job.
    *
    * Stage order is a documented choice: registries record their
    * stage's survivors BEFORE decontamination, so a future copy of a
    * contaminated document drops cheaply at the exact stage instead
    * of re-running the gate; the contaminated original still never
    * reaches `survivors`.
    *
    * REPLAY-IDEMPOTENT under the registry batch-number contract
    * ([[graft.dedup.Registry]]): re-running a batch under the SAME
    * `batchNo` — an at-least-once scheduler retry, a foreachBatch
    * replay — returns the ORIGINAL survivor set and funnel counts,
    * and the registry appends heal rather than duplicate (every
    * stage's probe excludes this batch's own prior rows; the
    * decontamination gate is a pure function). A crash anywhere
    * between the first registry append and the caller's corpus
    * append is therefore recoverable by simply re-running the batch.
    */
  def ingestBatch(spark: SparkSession, batch: DataFrame, idCol: String,
      textCol: String, lanes: Seq[(String, graft.dedup.Registry.Lane)],
      bench: DataFrame, benchTextCol: String, batchNo: Int,
      minChars: Int = 100, n: Int = 3): IngestBatchResult = {
    import graft.dedup.Registry
    val families = lanes.map(_._2.family)
    val chain = Seq("exact", "near", "minhash", "vec")
    require(families.take(2) == chain.take(2) && families ==
      chain.filter(families.contains), s"lanes run $chain in order: $families")
    val resolved = lanes.map(r => r._1 -> Registry.resolve(spark, r._2, r._1))
    // THE one batch-text scan: every text-derived column in one
    // projection, cut (the cut severs lineage, so the registry
    // appends' table refreshes cannot reach back here)
    val derived = Pin.cut(batch.select(
      (Seq(col(idCol).cast("long").as("doc_id"),
        length(col(textCol)).as("__len"),
        array_distinct(TextFunctions.ngramsFast(
          TextFunctions.tokens(col(textCol)), n)).as("__grams")) ++
        resolved.map { case (_, l) =>
          l.sign(col(if (l.family == "vec") "embedding" else textCol))
            .as(l.sigCol)
        }): _*))

    // decontamination: any shared distinct n-gram with the benchmark
    // flags the doc; the benchmark side is benchmark-bounded and
    // broadcasts (the q94 shape — a Bloom filter takes over when it
    // stops fitting, decontaminateBloom); each document then tests
    // the batch-bounded flagged ids for its own
    val benchGrams = broadcast(bench
      .select(explode(array_distinct(TextFunctions.ngramsFast(
        TextFunctions.tokens(col(benchTextCol)), n))).as("__g")))
    val quality = col("__len") >= minChars
    val dirty = derived.filter(quality)
      .select(col("doc_id").as("__d"), explode(col("__grams")).as("__g"))
      .join(benchGrams, Seq("__g"), "left_semi")
    val signed = derived.drop("__grams").withColumn("__dirty",
      dirty.where(col("__d") === col("doc_id").outer()).exists())
    val verdicts =
      try Registry.ingestChain(spark, resolved, signed, batchNo, quality)
      finally Pin.release(derived)

    // every funnel count in ONE aggregate over the verdicts
    val clean = Registry.survived(lanes.last._2) && !col("__dirty")
    val counts = Seq(lit(true), quality) ++
      lanes.map(l => Registry.survived(l._2)) :+ clean
    val row =
      try verdicts.select(counts.map(count_if): _*).head()
      catch { case e: Throwable => Pin.release(verdicts); throw e }
    val c = (Seq("in", "quality") ++ families :+ "clean").zipWithIndex
      .map { case (s, i) => s -> row.getLong(i) }.toMap

    IngestBatchResult(
      verdicts.filter(clean).select(col("doc_id"), col("h"), col("simhash")),
      c("in"), c("quality"), c("exact"), c("near"), c(families.last),
      c("clean"), c.getOrElse("minhash", -1L))
  }

  /** Temperature-based mixture resampling (the α=0.5 data-mixing
    * rule used when assembling multilingual / multi-source training
    * sets): class c's share of the `budget` is proportional to
    * √n_c instead of n_c, up-weighting small classes without letting
    * any one class dominate. Selection within a class is the
    * deterministic md5 hash rank (q97/q101's RNG-free sampling), so
    * the same corpus always yields the same mix on any partitioning.
    *
    * Determinism across engines: weights are √n floored to integer
    * thousandths (floor(sqrt(n·10⁶)) = floor(1000·√n)), so the
    * cross-class sum is exact integer arithmetic
    * (no float summation-order dependence), and each target is one
    * exactly-rounded IEEE divide. Plan shape: one per-class count
    * (partial+final aggregate), a broadcast of the tiny class→target
    * map, one window for the rank — the corpus itself is scanned
    * once and never re-shuffled beyond the per-class rank.
    */
  def temperatureSample(docs: DataFrame, classCol: String, idCol: String,
      textCol: String, budget: Long): DataFrame = {
    import org.apache.spark.sql.expressions.Window

    val weights = docs.groupBy(col(classCol))
      .agg(count(lit(1)).as("n_total"))
      .withColumn("__w",
        floor(sqrt(col("n_total").cast("double") * 1000000.0)).cast("long"))
    val wsum = weights.agg(sum(col("__w")).as("__wsum"))
    val targets = weights.crossJoin(broadcast(wsum))
      .withColumn("target_n",
        floor((col("__w") * budget.toDouble) / col("__wsum")).cast("long"))
      .select(col(classCol), col("n_total"), col("target_n"))

    val rank = Window.partitionBy(col(classCol))
      .orderBy(md5(concat(col(textCol), lit("#"),
        col(idCol).cast("string"))), col(idCol))
    docs.withColumn("__rn", row_number().over(rank))
      .join(broadcast(targets), classCol)
      .filter(col("__rn") <= col("target_n"))
      .drop("__rn")
  }

  /** Budget-constrained selection: keep the best-scored rows until a
    * cumulative cost budget is spent — "take the highest-quality
    * documents up to N tokens", the data-constrained cousin of
    * [[temperatureSample]]'s count budget. Rows are taken in
    * (`scoreCol` DESC, `idCol` ASC) order; a row is kept iff the
    * running cost through it (returned as `cum_cost`) stays within
    * `budget`.
    *
    * The running total is a corpus-wide prefix sum, and the naive
    * form — one unpartitioned window — serializes the corpus into a
    * single task. Instead the prefix sum is two-level: rows bucket by
    * score band (`bucketWidth` of the score's fixed-point units);
    * per-band totals (one row per band, bounded by the score DOMAIN,
    * not the corpus) take an ordered carry-in window; each band then
    * cumsums internally, partitioned by band, with its carry added.
    * Because (band ASC) is a prefix-respecting coarsening of
    * (score DESC, id ASC), carry + within-band prefix equals the
    * global prefix exactly — same answer, no single-partition pass
    * over data that scales with the corpus. (The same carry-in trick
    * as `ops.TimeJoins.asofJoinBucketed`, applied to selection.)
    */
  def budgetSelect(docs: DataFrame, idCol: String, scoreCol: String,
      costCol: String, budget: Long, bucketWidth: Long = 1000L): DataFrame = {
    import org.apache.spark.sql.expressions.Window

    // band ASC == score-band DESC; floor (not int division) so
    // negative scores band correctly
    val band = -floor(col(scoreCol).cast("double") / bucketWidth.toDouble)
      .cast("long")
    val withB = docs.withColumn("__b", band)
    val carryW = Window.orderBy(col("__b"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val carries = withB.groupBy(col("__b"))
      .agg(sum(col(costCol)).as("__bt"))
      .withColumn("__carry", coalesce(sum(col("__bt")).over(carryW), lit(0L)))
      .select(col("__b"), col("__carry"))
    val inBand = Window.partitionBy(col("__b"))
      .orderBy(col(scoreCol).desc, col(idCol))
      .rowsBetween(Window.unboundedPreceding, 0)
    withB.join(broadcast(carries), "__b")
      .withColumn("cum_cost", col("__carry") + sum(col(costCol)).over(inBand))
      .filter(col("cum_cost") <= budget)
      .drop("__b", "__carry")
  }
}

/** CLI driver: `runMain graft.pipeline.PipelineDriver <name> <in> <out>`
  * where name ∈ clean|corpus|profiles|keywords. Mirrors the
  * reference's spark-submit jobs (DBConfig.scala arg parsing) with
  * one entry point instead of forty.
  */
object PipelineDriver {

  /** The exactly-once incremental-ingest body (r13 verdict #7),
    * extracted from `main` so the ledger contract is spec-testable:
    * a committed-batches marker (`<regBase>/_committed/batch_<n>`,
    * stamped only AFTER the survivors parquet lands) makes a
    * scheduler retry of a COMPLETED batch a no-op end-to-end, while
    * a retry of a CRASHED batch re-runs the replay-idempotent
    * [[Pipelines.ingestBatch]] under the same number and lands the
    * identical survivors before stamping. Registries are created on
    * first run and ATTACHED (data untouched) on every later run.
    * Decontamination runs only when a benchmark corpus is GIVEN —
    * defaulting to a slice of the input would flag the batch against
    * itself and drop everything (an empty benchmark makes the gate a
    * no-op: zero grams, zero hits). Returns true if the batch ran,
    * false if the ledger showed it already committed.
    */
  def runIngest(spark: SparkSession, docs: DataFrame, out: String,
      regBase: String, buckets: Int, batchNo: Int,
      bench: Option[DataFrame], minhash: Boolean = false,
      autoCompact: Boolean = false,
      compactThreshold: Int = graft.dedup.Registry.CompactThreshold)
      : Boolean = {
    import graft.dedup.Registry
    import graft.dedup.Registry.{Exact, Minhash, Near, Vec}
    val committed = new org.apache.hadoop.fs.Path(
      s"$regBase/_committed/batch_$batchNo")
    val fs = committed.getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    if (fs.exists(committed)) {
      println(s"[ingest] batch=$batchNo already committed — " +
        "no-op (registry and output untouched)")
      return false
    }
    // generated classes Janino compiles for this batch (a JVM-wide
    // counter: cache misses of the compiled-class cache, so a batch
    // whose plans were all seen before reads near zero)
    def compiled = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val compiled0 = compiled
    // one lane per registry dir <regBase>/<dir>, table graft_cli_<dir>,
    // in chain order
    val lanes = Seq[(String, Registry.Lane)]("ex" -> Exact, "nr" -> Near()) ++
      (if (minhash) Seq("mh" -> Minhash()) else Nil) ++
      (if (docs.columns.contains("embedding")) Seq("vc" -> Vec()) else Nil)
    lanes.foreach { case (dir, lane) =>
      val (nm, p) = (s"graft_cli_$dir", s"$regBase/$dir")
      if (Registry.exists(spark, p))
        Registry.attach(spark, lane, nm, p, buckets)
      else Registry.create(spark, lane, nm, p, buckets)
    }
    val r = Pipelines.ingestBatch(spark, docs, "doc_id", "text",
      lanes.map { case (dir, lane) => s"graft_cli_$dir" -> lane },
      bench.getOrElse(docs.limit(0)), "text", batchNo, minChars = 100)
    try r.survivors.write.mode(SaveMode.Overwrite).parquet(out)
    finally Pin.release(r.survivors)
    val survived = Map("exact" -> r.nExact, "near" -> r.nNear,
      "minhash" -> r.nMinhash, "vec" -> r.nVec)
    println(s"[ingest] batch=$batchNo in=${r.nIn} q=${r.nQuality} " +
      lanes.map { case (_, l) => s"${l.family}=${survived(l.family)} " }
        .mkString + s"clean=${r.nClean} compiled=${compiled - compiled0}")
    fs.mkdirs(committed.getParent)
    fs.create(committed).close()
    // opt-in self-maintenance (r14 verdict #6): the fileStats trigger
    // existed but nothing called it — a scheduled-daily ingest walked
    // into the small-files cliff anyway. POST-commit so a compaction
    // failure can never cost the batch (the expensive work is safe;
    // compact is retryable and crash-safe on its own); under the same
    // fenced lease as every other mutation. The reclaim of superseded
    // version dirs stays a separate vacuum decision (reader grace).
    if (autoCompact) {
      lanes.foreach { case (dir, _) =>
        val nm = s"graft_cli_$dir"
        val st = Registry.fileStats(spark, nm)
        if (st.maxFilesPerBucket > compactThreshold) {
          println(s"[ingest] auto-compact $nm " +
            s"(files/bucket=${st.maxFilesPerBucket})")
          Registry.compact(spark, nm)
        }
      }
    }
    true
  }

  /** Prune exactly-once ledger markers older than `retainMs` — the
    * ledger's retention horizon (r14 verdict #7: at a daily cadence
    * the `_committed` dir accumulates 365 markers/year, forever).
    * OPERATOR CONTRACT: the scheduler must never retry a batch older
    * than the window — a pruned batch's retry re-runs the
    * replay-idempotent ingest (registries unchanged, identical
    * survivors) but repeats the downstream corpus write, i.e.
    * exactly-once degrades to replay-idempotent beyond the horizon.
    * Returns the number of markers removed.
    */
  def pruneLedger(spark: SparkSession, regBase: String,
      retainMs: Long): Int = {
    val dir = new org.apache.hadoop.fs.Path(s"$regBase/_committed")
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(dir)) 0
    else {
      val cutoff = System.currentTimeMillis() - retainMs
      val old = fs.listStatus(dir).filter(st =>
        st.getPath.getName.startsWith("batch_") &&
          st.getModificationTime < cutoff)
      old.foreach(st => fs.delete(st.getPath, false))
      old.length
    }
  }

  def main(args: Array[String]): Unit = {
    require(args.length >= 3,
      "usage: PipelineDriver <clean|corpus|profiles|keywords|neardedup|embdedup|curate|tempmix|paradedup|parakeepfirst|budgetselect|clustersplit|nbclassify|snapdiff|qualityrank|labelprop|ingest> <in> <out>")
    val Array(name, in, out) = args.take(3)
    val spark = graft.GraftSession.local(
      cores = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt,
      appName = s"graft-$name")
    spark.sparkContext.setLogLevel("WARN")
    val docs = spark.read.parquet(in)
    val result = name match {
      case "clean" =>
        Pipelines.clean(docs, "doc_id", "text",
          entityDict = Seq("hash join", "merge"), minChars = 50)
      case "corpus" =>
        Pipelines.assembleCorpus(docs, Seq(
          Pipelines.ClassSpec("short", col("n_chars") < 500, 1000),
          Pipelines.ClassSpec("long", col("n_chars") >= 500, 1000)),
          tiebreak = Seq(col("doc_id")))
      case "profiles" =>
        Pipelines.entityProfiles(docs, "source", "text", k = 10)
      case "keywords" =>
        Pipelines.keywords(docs, "doc_id", "text", k = 5)
      case "neardedup" =>
        Pipelines.nearDedup(docs, "doc_id", "text")
      case "embdedup" =>
        Pipelines.embeddingDedup(docs, "vec_id", "embedding")
      case "curate" =>
        // benchmark slice = lowest-id docs, as in q94/q110
        Pipelines.curate(docs, "doc_id", "text", "lang",
          benchmark = docs.filter(col("doc_id") < 5), cap = 100000)
      case "tempmix" =>
        Pipelines.temperatureSample(docs, "lang", "doc_id", "text",
          budget = sys.env.getOrElse("SPARK_GRAFT_BUDGET", "1000").toLong)
      case "paradedup" =>
        // threshold via SPARK_GRAFT_MINDOCS (boilerplate strip);
        // keep-first C4 variant under "parakeepfirst"
        graft.dedup.Dedup.stripHotParagraphs(docs, "doc_id", "text",
          minDocs = sys.env.getOrElse("SPARK_GRAFT_MINDOCS", "100").toLong)
      case "parakeepfirst" =>
        graft.dedup.Dedup.keepFirstParagraphs(docs, "doc_id", "text")
      case "budgetselect" =>
        val toks = TextFunctions.tokens(col("text"))
        Pipelines.budgetSelect(
          docs.withColumn("score_e4",
              floor(graft.feature.Features.linearQualityScore(
                col("text"), toks) * 10000.0).cast("long"))
            .withColumn("n_tokens", size(toks).cast("long")),
          "doc_id", "score_e4", "n_tokens",
          budget = sys.env.getOrElse("SPARK_GRAFT_BUDGET", "10000").toLong)
      case "clustersplit" =>
        // near-dup-aware train/valid/test assignment (q134 shape)
        val comps = graft.graph.Components.connectedComponents(
          docs.select(col("doc_id")),
          graft.dedup.Dedup.simhashNearPairs(
            docs.select(col("doc_id"),
              graft.dedup.Dedup.simhash60(
                TextFunctions.tokens(col("text"))).as("simhash")),
            "doc_id", "simhash", tables = 2, maxHamming = 20),
          "doc_id", "id_a", "id_b")
        comps.select(col("id").as("doc_id"), col("comp").as("cluster_id"),
          Relational.hashSplit(col("comp")).as("split"))
      case "nbclassify" =>
        // fit on even ids, score odd — the q132 contract over any
        // parquet corpus with (doc_id, lang, text)
        val d = docs.select(col("doc_id"), col("lang"),
          TextFunctions.tokens(col("text")).as("toks"))
        graft.feature.NaiveBayes.classify(
          d.filter(col("doc_id") % 2 === 0),
          d.filter(col("doc_id") % 2 === 1), "doc_id", "toks", "lang")
      case "labelprop" =>
        // spread lang labels across the near-dup graph (q139 shape):
        // rows with a null/empty lang adopt the 2-hop majority
        val nodes = docs.select(col("doc_id"),
          when(length(trim(col("lang"))) > 0, col("lang")).as("lang"))
        val pairs = Dedup.simhashNearPairs(
          docs.select(col("doc_id"),
            Dedup.simhash60(TextFunctions.tokens(col("text"))).as("simhash")),
          "doc_id", "simhash", tables = 2, maxHamming = 20)
        graft.graph.LabelProp.propagate(nodes, pairs,
          "doc_id", "lang", "id_a", "id_b", rounds = 2)
      case "qualityrank" =>
        // rank-normalized quality ensemble (q140 shape): attach the
        // blended percentile to every doc, no corpus-wide window
        val (qE4, repE4) = graft.feature.Features.qualitySignalsE4(
          col("text"), TextFunctions.tokens(col("text")))
        val base = docs.select(col("doc_id"), col("text"),
          qE4.as("q_e4"), repE4.as("rep_e4"))
        val ranked = graft.ops.Ranks.pctRankBanded(
          graft.ops.Ranks.pctRankBanded(base, "q_e4", "q_pct"),
          "rep_e4", "rep_pct")
        ranked.withColumn("ens_fx",
          floor((col("q_pct") + (lit(1000000L) - col("rep_pct")))
            / lit(2.0)).cast("long"))
      case "snapdiff" =>
        // second snapshot path via SPARK_GRAFT_IN2
        val v2 = spark.read.parquet(sys.env.getOrElse("SPARK_GRAFT_IN2",
          sys.error("snapdiff needs SPARK_GRAFT_IN2=<v2 path>")))
        graft.ops.Snapshots.diff(docs, v2, "doc_id", "text")
      case "ingest" =>
        // one incremental-curate batch against PERSISTENT registries
        // (SPARK_GRAFT_REG base dir; created on first run, attached —
        // data untouched — on every later run: the cross-run loop).
        // SPARK_GRAFT_BATCHNO tags the batch; SPARK_GRAFT_BENCH is
        // the decontamination corpus (no default — see runIngest).
        runIngest(spark, docs, out,
          regBase = sys.env.getOrElse("SPARK_GRAFT_REG", s"$out.registries"),
          buckets = sys.env.getOrElse("SPARK_GRAFT_BUCKETS", "64").toInt,
          batchNo = sys.env.getOrElse("SPARK_GRAFT_BATCHNO", "0").toInt,
          bench = sys.env.get("SPARK_GRAFT_BENCH")
            .map(spark.read.parquet(_)),
          minhash = sys.env.contains("SPARK_GRAFT_MINHASH"),
          autoCompact = sys.env.contains("SPARK_GRAFT_AUTOCOMPACT"))
        spark.stop()
        return
      case other => sys.error(s"unknown pipeline: $other")
    }
    result.write.mode(SaveMode.Overwrite).parquet(out)
    spark.stop()
  }
}
