package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.ops.Pin

/** N-gram language-model perplexity scoring — the CCNet-style
  * quality filter (beyond-reference; published method: Wenzek et
  * al., "CCNet: Extracting High Quality Monolingual Datasets from
  * Web Crawl Data", 2020 — score web documents by the perplexity of
  * a language model trained on a trusted target corpus; low
  * perplexity ≈ target-like text).
  *
  * The model is an interpolated bigram LM with Laplace-smoothed
  * unigram backoff, all in exactly-replayable arithmetic:
  *
  *   p(w2|w1) = λ · c(w1 w2)/c(w1)  +  (1−λ) · (c(w2)+1)/(N+V)
  *
  * (first term 0 when c(w1) = 0), and a document's score is the mean
  * bigram negative log-likelihood in floored millionths — an integer
  * sum divided by the bigram count, floored again, so the only
  * cross-engine surface is the documented one-ulp `ln` floor case.
  *
  * Scale shape (100 TB): model tables are bounded by the TARGET
  * corpus (a curated, much smaller set by construction — CCNet's is
  * Wikipedia), aggregated once with map-side combine and broadcast
  * into the raw-corpus scoring scan; the corpus itself streams
  * map-side + one groupBy(doc) shuffle. If the target outgrows a
  * broadcast, drop the hints and the same joins shuffle on the gram
  * key (cf. ShardedBroadcast's >5 GB rule).
  */
object NgramLm {

  /** λ in millionths — 0.9 as exact rational 900000/1000000. */
  val DefaultLambdaE6: Long = 900000L

  /** Bigram + unigram count tables from the target corpus:
    * (gram, c12) and (w, c1), plus (N, V) totals folded in.
    */
  def fit(target: DataFrame, textCol: String): (DataFrame, DataFrame) = {
    val toks = TextFunctions.tokens(col(textCol))
    val uni = target.select(explode(toks).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("c1"))
    val bi = target
      .select(explode(TextFunctions.ngramsFast(toks, 2)).as("g"))
      .groupBy(col("g")).agg(count(lit(1)).as("c12"))
    (uni, bi)
  }

  /** Per-document mean bigram negative log-likelihood against the
    * target LM, in floored millionths: (id, n_bigrams, nll_e6).
    * Lower = more target-like. Documents with no bigrams emit no
    * row (nothing to score), matching the SQL replay.
    */
  def perplexityScores(docs: DataFrame, idCol: String, textCol: String,
      target: DataFrame, lambdaE6: Long = DefaultLambdaE6): DataFrame = {
    val (uniRaw, bi) = fit(target, textCol)
    // the unigram table feeds THREE consumers (totals + two joins);
    // persisting the vocab-sized aggregate keeps the target corpus
    // at two scans (uni, bi) instead of four
    val uni = Pin.cache(uniRaw)
    // (N, V) as a broadcast 1-row crossJoin: it re-aggregates the
    // TARGET corpus (small by construction), never the raw stream —
    // a window-over-the-gram-stream backfill would single-partition
    // the scoring scan for a corpus constant.
    val totals = uni.agg(sum(col("c1")).as("n_tok"),
      count(lit(1)).as("v"))
    val toks = TextFunctions.tokens(col(textCol))
    val stream = docs
      .select(col(idCol), explode(TextFunctions.ngramsFast(toks, 2)).as("g"))
      .withColumn("w1", split(col("g"), " ").getItem(0))
      .withColumn("w2", split(col("g"), " ").getItem(1))
    val lam = lit(lambdaE6 / 1000000.0)
    val p = lam * when(col("c1").isNotNull && col("c1") > 0,
        coalesce(col("c12"), lit(0L)).cast("double") / col("c1"))
        .otherwise(lit(0.0)) +
      (lit(1.0) - lam) * (coalesce(col("c2"), lit(0L)) + lit(1.0)) /
        (col("n_tok") + col("v"))
    val out = Pin.cache(stream
      .join(broadcast(bi), Seq("g"), "left")
      .join(broadcast(uni.select(col("w").as("w1"), col("c1"))),
        Seq("w1"), "left")
      .join(broadcast(uni.select(col("w").as("w2"), col("c1").as("c2"))),
        Seq("w2"), "left")
      .crossJoin(broadcast(totals))
      .withColumn("nll_e6", floor(lit(-1000000.0) * log(p)).cast("long"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_bigrams"),
        floor(sum(col("nll_e6")) / count(lit(1))).cast("long").as("nll_e6")),
      eager = true)
    // materialized, then the model cache is released — a long-lived
    // session scoring many corpora would otherwise accumulate
    // vocab-sized caches (the pagerank lifecycle idiom); `out` is the
    // caller's to release
    Pin.release(uni)
    out
  }
}
