package graft.text

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.ops.Pin

/** Tokenizer-training primitives: the corpus-statistics side of BPE
  * (Sennrich et al. 2016, "Neural Machine Translation of Rare Words
  * with Subword Units"). A BPE trainer's inner loop counts adjacent
  * symbol pairs over the corpus and merges the most frequent pair;
  * the corpus-scale step — and the one worth distributing — is the
  * pair count.
  */
object Bpe {

  /** Word-frequency table: one corpus scan, (word, 1) shuffled with
    * map-side partial aggregation. Words shorter than 2 characters
    * carry no adjacent pair and are dropped here so downstream pair
    * work never sees them.
    */
  def wordCounts(docs: DataFrame, textCol: String): DataFrame =
    docs.select(explode(TextFunctions.tokens(col(textCol))).as("w"))
      .filter(length(col("w")) >= 2)
      .groupBy(col("w")).agg(count(lit(1)).as("freq"))

  /** Adjacent symbol-pair counts for the first BPE merge iteration,
    * computed over the DISTINCT word table weighted by word
    * frequency — the classic trainer optimization: pair-explode work
    * scales with |vocab| (Zipf-bounded, millions at web scale), not
    * with corpus tokens (trillions). The corpus itself is touched
    * exactly once, inside [[wordCounts]]. Later merge iterations
    * re-run this over the re-segmented vocab table, never over the
    * corpus.
    *
    * Output: (pair, cnt) — each two-character window of each word,
    * weighted by the word's corpus frequency.
    */
  /** The FULL Sennrich merge-learning loop, exactly replayable in
    * SQL: words become space-joined symbol strings with a leading
    * sentinel space (`"hello"` → `" h e l l o"`); each round counts
    * adjacent symbol pairs over the re-segmented vocab (weighted by
    * word frequency), picks the argmax pair (count desc, pair asc —
    * deterministic), and applies the merge as a STRING REPLACE of
    * `" a b"` with `" ab"`. Because every symbol occurrence is
    * preceded by exactly one space and `replace` is left-to-right
    * non-overlapping in Spark and in every SQL engine, the merge
    * semantics (including overlapping-run behavior, `l l l` → one
    * merge) agree everywhere — which is what lets q151 hash-verify
    * a trained tokenizer artifact against DuckDB.
    *
    * Returns the merge table (rank, pair, merged). Scale: the loop
    * runs over the VOCAB table (Zipf-bounded), never the corpus;
    * each round is one pair-count aggregate plus a 1-row argmax
    * collect (the bounded trained-artifact pattern — k rows total
    * reach the driver).
    *
    * Lineage control: the re-segmentation is a `withColumn` fold, so
    * without truncation round r's plan carries r stacked `replace`s —
    * per-round analysis/optimization cost grows linearly in r
    * (quadratic total), and past a few hundred rounds the plan tree
    * itself becomes the bottleneck, long before any data does. Every
    * `checkpointEvery` merges the segmented vocab is materialized via
    * `localCheckpoint` (vocab-sized — the word table, not the
    * corpus), resetting the plan to a scan. On a real cluster prefer
    * a reliable `checkpoint` dir for fault tolerance at k in the tens
    * of thousands; the truncation contract is the same (BpeSpec pins
    * that checkpointed and un-checkpointed runs learn identical
    * merge tables).
    */
  def learnMerges(docs: DataFrame, textCol: String, k: Int,
      checkpointEvery: Int = 64): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val words = Pin.cache(wordCounts(docs, textCol)
      // supplementary-plane guard: Spark's split(w, "") cuts UTF-16
      // code units (a surrogate pair becomes two lone-surrogate
      // "symbols") while SQL engines split codepoints — the oracle
      // could never agree. Both sides drop such words (the SQL twin
      // filters '[\x{10000}-\x{10FFFF}]'); BMP text is unaffected.
      .filter(!col("w").rlike("[\\uD800-\\uDFFF]")), eager = true)
    var seg = words.withColumn("s",
      concat(lit(" "), array_join(split(col("w"), ""), " ")))
    val merges = scala.collection.mutable.ArrayBuffer.empty[(Int, String)]
    var exhausted = false
    for (r <- 1 to k if !exhausted) {
      val syms = split(trim(col("s")), " ")
      val best = seg
        // a word can collapse to ONE symbol once merges stack up
        // ("in" after the 'i n' merge); sequence(1, 0) would DESCEND
        // and index element_at(syms, 0) — the same hazard pairCounts
        // guards. Such rows simply carry no pairs, as in the oracle
        // (generate_series(1, 0) is empty).
        .filter(size(syms) >= 2)
        .select(col("freq"), explode(
          transform(sequence(lit(1), size(syms) - 1),
            i => concat(element_at(syms, i), lit(" "),
              element_at(syms, i + 1)))).as("pair"))
        .groupBy(col("pair")).agg(sum(col("freq")).as("c"))
        .orderBy(col("c").desc, col("pair")).limit(1)
        .as[(String, Long)].collect()
      if (best.nonEmpty) {
        val pair = best.head._1
        merges += ((r, pair))
        seg = seg.withColumn("s",
          replace(col("s"), lit(" " + pair),
            lit(" " + pair.replace(" ", ""))))
        if (r % checkpointEvery == 0 && r < k)
          seg = Pin.next(seg)(Pin.cut(seg))
      } else {
        // the merge space is EXHAUSTED — every word has collapsed to
        // a single symbol (possible on a small vocabulary: at most
        // Σ(len(w)−1) merges exist over distinct words). Stop rather
        // than spin k − r empty pair-count rounds: the merge table
        // is identical either way (each further round would find
        // nothing), so a k ≫ saturation request costs nothing extra.
        exhausted = true
      }
    }
    val out = merges.toSeq.toDF("rank", "pair")
      .withColumn("merged", regexp_replace(col("pair"), " ", ""))
    Pin.release(words, seg)
    out
  }

  /** Apply a learned merge table to a token column: each token is
    * symbol-spaced and the merges replay in rank order; returns the
    * per-token symbol arrays. Pure column expressions — the
    * tokenizer APPLICATION is a scan-speed map with the merge list
    * folded into the plan as literals, the shape a 100 TB
    * tokenization pass needs (no UDF, no shuffle, no state).
    */
  def applyMerges(toks: org.apache.spark.sql.Column,
      merges: Seq[String]): org.apache.spark.sql.Column =
    transform(toks, w => {
      val spacedW = concat(lit(" "), array_join(split(w, ""), " "))
      val mergedAll = merges.foldLeft(spacedW)((s, p) =>
        replace(s, lit(" " + p), lit(" " + p.replace(" ", ""))))
      split(trim(mergedAll), " ")
    })

  def pairCounts(words: DataFrame): DataFrame =
    words
      // defensive on the public surface: a 1-char word would make
      // sequence(1, 0) DESCEND and emit two bogus windows; wordCounts
      // pre-filters length >= 2 but arbitrary word tables may not
      .filter(length(col("w")) >= 2)
      .select(explode(expr(
        "transform(sequence(1, length(w) - 1), i -> substring(w, i, 2))"))
        .as("pair"), col("freq"))
      .groupBy(col("pair"))
      .agg(sum(col("freq")).cast("long").as("cnt"))
}
