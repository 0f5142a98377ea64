package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Corpus-composition concentration diagnostics — the one-row
  * "how diverse is this corpus" gate run before mixing decisions:
  * Shannon entropy and the Gini coefficient of the share
  * distribution over a categorical (source, lang, domain), plus the
  * largest single share. A training corpus where one crawl dominates
  * (top_share→1, gini→1, entropy→0) needs q109/q202-style
  * rebalancing before anything downstream sees it.
  *
  * Determinism: entropy terms are per-group e6 floors of an
  * IDENTICAL left-to-right IEEE expression (the q198 convention) —
  * an integer per group, summed exactly; the Gini numerator
  * 2·Σ(i·c_i) − (G+1)·N is pure integer off the count-ranked
  * groups (rank ties broken by the group key), floored e6 only at
  * the final division; top_share_e6 is all-integer.
  *
  * Scale shape: ONE partial+final count aggregate over the corpus
  * (group rows cross the wire), then rank/total windows over the
  * GROUP rows only — the documented vocabulary-bounded
  * single-partition pattern — and a final 1-row aggregate.
  */
object Concentration {

  /** One row: n_groups, n_rows, entropy_e6 (Σ −p·ln p, e6),
    * gini_e6, top_share_e6.
    */
  def concentration(df: DataFrame, groupCol: String): DataFrame =
    ofCounts(df.groupBy(col(groupCol)).agg(count(lit(1)).as("__c")),
      groupCol, "__c")

  /** The same gate off a pre-aggregated (group, count) table — the
    * counts are a mergeable monoid, so a streaming maintenance pass
    * (`Streams.maintainStream(Maintained.groupCounts(…))`) keeps them
    * per batch and this computes the corpus gate from GROUP rows
    * alone.
    */
  def ofCounts(counts: DataFrame, groupCol: String,
      cntCol: String): DataFrame = {
    val tot = Window.partitionBy()
    val byCnt = Window.orderBy(col("__c"), col(groupCol))
    counts.select(col(groupCol), col(cntCol).cast("long").as("__c"))
      .withColumn("__n", sum(col("__c")).over(tot))
      .withColumn("__i", row_number().over(byCnt))
      .withColumn("__h_e6",
        floor(lit(1000000.0)
          * (col("__c").cast("double") / col("__n"))
          * log(col("__n").cast("double") / col("__c"))).cast("long"))
      .agg(
        count(lit(1)).as("n_groups"),
        max(col("__n")).as("n_rows"),
        sum(col("__h_e6")).as("entropy_e6"),
        floor(lit(1000000.0)
          * (lit(2L) * sum(col("__i") * col("__c"))
            - (count(lit(1)) + lit(1L)) * max(col("__n")))
              .cast("double")
          / (count(lit(1)).cast("double") * max(col("__n"))))
          .cast("long").as("gini_e6"),
        expr("1000000 * max(__c) DIV max(__n)").as("top_share_e6"))
  }
}
