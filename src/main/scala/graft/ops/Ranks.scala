package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Corpus-wide rank normalization without a corpus-wide window —
  * the third instance of the banded-prefix pattern (q126 sums,
  * q130 offsets, here COUNTS): for integer (fixed-point) scores,
  * the value histogram is bounded by the score DOMAIN (e4 scores →
  * ≤ 10⁴ rows), so the strict-below prefix sum runs a window over
  * HISTOGRAM rows only and each corpus row re-attaches its bucket's
  * rank by broadcast join. The corpus pays one map-side-combined
  * histogram shuffle and a map-side attach; the single-task corpus
  * sort a naive `percent_rank()` window would plan never appears.
  */
object Ranks {

  /** Appends `outCol` = ⌊10⁶ · (rows strictly below) / N⌋ for
    * `valueCol` (an integer fixed-point score). Ties share a rank
    * (the fraction-strictly-below convention); the column is an
    * exact integer, so downstream ensembles are partition-order
    * independent and SQL-replayable. The histogram persists (it is
    * read by both the prefix window and the N total) — bounded by
    * the score domain, small by construction.
    */
  def pctRankBanded(df: DataFrame, valueCol: String,
      outCol: String): DataFrame = {
    val hist = Pin.cache(
      df.groupBy(col(valueCol)).agg(count(lit(1)).as("__c")), eager = true)
    val w = Window.orderBy(col(valueCol))
      .rowsBetween(Window.unboundedPreceding, -1)
    val pct = hist
      .withColumn("__below", coalesce(sum(col("__c")).over(w), lit(0L)))
      .crossJoin(broadcast(hist.agg(sum(col("__c")).as("__n"))))
      .select(col(valueCol),
        floor(lit(1e6) * col("__below") / col("__n")).cast("long")
          .as(outCol))
    Pin.untilUsed(df.join(broadcast(pct), valueCol), hist)
  }

  /** Cross-group quantile-normalized selection gate — the "one
    * threshold per source, not one global threshold" primitive: a
    * verbose source (long docs, inflated scores) must not crowd out
    * every other source when a single corpus-wide cutoff is applied
    * to an incomparable score. Normalizing to within-group rank
    * first makes "top (den−num)/den" mean the same thing in every
    * stratum.
    *
    * Selection rule (exact, tie-stable): a row passes iff
    * den·(rows strictly below it) ≥ num·n — rows sharing a value
    * pass or fail together, no rank tie-break needed, everything
    * integer. Both gates are computed: `sel_norm` ranks within the
    * group, `sel_raw` against the global distribution — the pair
    * quantifies how skewed the raw cutoff would have been.
    *
    * Scale shape: ONE partial+final (group, value) histogram
    * aggregate over the corpus; every window (in-group prefix,
    * global prefix via a strict RANGE frame, group/global totals)
    * runs over HISTOGRAM rows only, bounded by |groups|·|domain| —
    * the banded-prefix pattern with the fixed-point-score domain
    * contract `pctRankBanded` documents. The corpus is scanned
    * once and never re-attached.
    */
  def quantileGate(df: DataFrame, groupCol: String, valueCol: String,
      num: Int, den: Int): DataFrame = {
    val wg = Window.partitionBy(col(groupCol)).orderBy(col(valueCol))
      .rangeBetween(Window.unboundedPreceding, -1)
    val wa = Window.orderBy(col(valueCol))
      .rangeBetween(Window.unboundedPreceding, -1)
    df.groupBy(col(groupCol), col(valueCol))
      .agg(count(lit(1)).as("__c"))
      .withColumn("__below_g",
        coalesce(sum(col("__c")).over(wg), lit(0L)))
      .withColumn("__n_g",
        sum(col("__c")).over(Window.partitionBy(col(groupCol))))
      .withColumn("__below_a",
        coalesce(sum(col("__c")).over(wa), lit(0L)))
      .withColumn("__n_a", sum(col("__c")).over(Window.partitionBy()))
      .groupBy(col(groupCol))
      .agg(
        sum(col("__c")).as("n"),
        sum(when(col("__below_g") * den >= col("__n_g") * num,
          col("__c")).otherwise(0L)).as("sel_norm"),
        sum(when(col("__below_a") * den >= col("__n_a") * num,
          col("__c")).otherwise(0L)).as("sel_raw"))
  }
}
