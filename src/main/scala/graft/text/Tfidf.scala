package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.ops.Pin

/** DataFrame-native TF-IDF (SURVEY.md M3; reference TFIDF.scala:21-162
  * hand-rolls this over RDD reduceByKey with an 80M-bucket HashingTF).
  *
  * We keep exact terms (no hash buckets → no collisions, verifiable
  * against an oracle) and express the whole computation as two
  * aggregations + a broadcast-size join:
  *
  *   tf(d,t)  = count of t in d             (shuffle on (doc,term))
  *   df(t)    = docs containing t           (re-aggregate of tf)
  *   idf(t)   = ln((N+1)/(df+1))            (reference's smoothing)
  *   score    = tf * idf
  *
  * At 100 TB the (doc,term) aggregation is the dominant shuffle and
  * is unavoidable for exact TF; partial (map-side) aggregation keeps
  * it near-minimal because term frequency within a partition is
  * already combined. df(t) aggregates the *already reduced* tf rows,
  * not raw tokens.
  */
object Tfidf {

  /** Per-(doc,term) TF-IDF scores.
    * @param docs   (idCol, tokensCol) — tokens as array<string>
    */
  def scores(docs: DataFrame, idCol: String, tokensCol: String,
      roundTo: Int = 4): DataFrame = {
    val n = docs.select(countDistinct(col(idCol))).first().getLong(0)
    val tf = docs
      .select(col(idCol), explode(col(tokensCol)).as("term"))
      .groupBy(col(idCol), col("term"))
      .agg(count(lit(1)).as("tf"))
    val df = tf.groupBy(col("term"))
      .agg(count(lit(1)).as("df"))
    tf.join(df, "term")
      .withColumn("idf",
        log((lit(n) + 1.0) / (col("df") + 1.0)))
      .withColumn("tfidf", round(col("tf") * col("idf"), roundTo))
      .select(col(idCol), col("term"), col("tf"), col("df"),
        round(col("idf"), roundTo).as("idf"), col("tfidf"))
  }

  /** Top-k terms per document by TF-IDF (reference's sorted tag
    * output, TFIDF.scala:139-162) — deterministic tiebreak on term.
    */
  def topTerms(docs: DataFrame, idCol: String, tokensCol: String,
      k: Int, roundTo: Int = 4): DataFrame = {
    val w = Window.partitionBy(col(idCol))
      .orderBy(col("tfidf").desc, col("term"))
    scores(docs, idCol, tokensCol, roundTo)
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
  }

  /** IDF-percentile threshold filter (TFIDF.scala:177-190): drop
    * terms whose idf is below the p-th percentile (too common).
    */
  def idfThreshold(scored: DataFrame, p: Double): Column =
    lit(scored.select(expr(s"percentile_approx(idf, $p)")).first().getDouble(0))

  /** BM25 document ranking for a fixed query-term set (Robertson-
    * Spärck Jones; the ranking function TF-IDF graduates to):
    *
    *   score(d) = Σ_t idf(t) · tf·(k1+1) / (tf + k1·(1−b+b·dl/avgdl))
    *   idf(t)   = ln((N − df + 0.5)/(df + 0.5) + 1)
    *
    * Per-(doc,term) contributions are floored to integer millionths
    * BEFORE the per-doc sum (the DSIR fixed-point discipline:
    * floating addition order never touches the result, and the whole
    * ranking replays exactly in SQL — q131's oracle mirrors the IEEE
    * op order of the score expression).
    *
    * Scale shape: tokens are filtered to the query's terms INSIDE
    * the scan (array filter before explode), so the exploded stream,
    * the (doc,term) aggregate, and everything after are bounded by
    * |query| · N-matching-docs, not corpus token volume; df and the
    * (N, Σdl) corpus stats are a |query|-row and a 1-row broadcast.
    * TWO corpus scans — the corpus-wide (N, Σdl) stats necessarily
    * see every document, the tf pass only query hits — one bounded
    * groupBy(doc) shuffle, top-k via ordered limit
    * (TakeOrderedAndProject — never a global sort).
    */
  def bm25TopK(docs: DataFrame, idCol: String, textCol: String,
      queryTerms: Seq[String], k: Int = 20,
      k1: Double = 1.2, b: Double = 0.75): DataFrame =
    bm25Scores(docs, idCol, textCol, queryTerms, k1, b)
      .orderBy(col("bm25").desc, col(idCol))
      .limit(k)

  /** The full (id, bm25) score table over every query-matching doc —
    * the retrieval-stage surface rank fusion (q172) consumes. Same
    * contract and plan as [[bm25TopK]] minus the ordered limit.
    */
  def bm25Scores(docs: DataFrame, idCol: String, textCol: String,
      queryTerms: Seq[String],
      k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(queryTerms.nonEmpty, "queryTerms must be non-empty")
    val d = docs
      .select(col(idCol), TextFunctions.tokens(col(textCol)).as("__toks"))
      .withColumn("__dl", size(col("__toks")).cast("long"))
    val stats = d.agg(count(lit(1)).as("__n"),
      sum(col("__dl")).cast("double").as("__sdl"))
    val qArr = array(queryTerms.map(lit): _*)
    // cached: df derives from it and the score join reads it —
    // without the cache Catalyst re-scans and re-explodes the corpus
    // for the df aggregate (plan-audited). Bounded by matching docs
    // × |query| rows, so the cache is small by construction.
    val tf = Pin.cache(d
      .select(col(idCol), col("__dl"),
        explode(filter(col("__toks"), t => array_contains(qArr, t)))
          .as("__term"))
      .groupBy(col(idCol), col("__dl"), col("__term"))
      .agg(count(lit(1)).as("__tf")), eager = true)
    val df = tf.groupBy(col("__term")).agg(count(lit(1)).as("__df"))
    val avgdl = col("__sdl") / col("__n")
    val idf = log((col("__n") - col("__df") + 0.5) / (col("__df") + 0.5) + 1.0)
    val contrib = floor(lit(1e6) * idf * (col("__tf") * lit(k1 + 1)) /
      (col("__tf") + lit(k1) * (lit(1.0) - lit(b) + lit(b) * col("__dl") / avgdl)))
    val out = tf.join(broadcast(df), "__term")
      .crossJoin(broadcast(stats))
      .select(col(idCol), contrib.as("__st"))
      .groupBy(col(idCol))
      .agg(sum(col("__st")).as("bm25"))
    Pin.untilUsed(out, tf)
  }
}
