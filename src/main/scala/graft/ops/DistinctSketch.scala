package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** KMV (k-minimum-values) distinct-count sketch — the mergeable
  * cardinality estimator (Bar-Yossef et al. 2002; the k-th smallest
  * hash of a uniformly hashed set estimates its size as
  * (k-1)·H / h_k for hash space H).
  *
  * Why not count(DISTINCT)? At 100 TB the exact form shuffles every
  * distinct key; the sketch keeps k longs per partition (a bounded
  * map-side pass, same discipline as [[HeavyHitters]]), merges
  * ≤ partitions×k values, and reads one number off the k-th
  * order statistic. Unlike HyperLogLog it is EXACTLY deterministic
  * given the hash — no engine-private bias correction — so the whole
  * estimate replays in SQL and q164 carries a full hash oracle: the
  * "approximation" is a pure integer function of the data.
  *
  * Hash: the project's cross-engine md5-prefix idiom widened to 48
  * bits (12 hex chars — exact in a BIGINT on both engines; at real
  * corpus scale you'd widen to the full 64 via two prefixes, same
  * idiom). Estimate: (k−1)·2^48 div h_k, truncating division on both
  * sides. If fewer than k distinct hashes exist the sketch saw
  * everything and reports the exact count.
  */
object DistinctSketch {

  val HashSpace: Long = 1L << 48

  /** 48-bit cross-engine hash of the key's string form. */
  def hash48(c: Column): Column =
    conv(substring(md5(c.cast("string")), 1, 12), 16, 10).cast("long")

  /** Bounded per-partition k-smallest DISTINCT hash values — at most
    * k longs leave each partition.
    */
  private[ops] def partitionMins(hashes: DataFrame, k: Int): DataFrame = {
    import hashes.sparkSession.implicits._
    hashes.select(col("__h")
      .as[java.lang.Long](org.apache.spark.sql.Encoders.LONG))
      .mapPartitions { it =>
        val set = new java.util.TreeSet[java.lang.Long]()
        while (it.hasNext) {
          val h = it.next()
          set.add(h)
          if (set.size > k) set.remove(set.last)
        }
        scala.jdk.CollectionConverters
          .SetHasAsScala(set).asScala.iterator
      }.toDF("__h")
  }

  /** The k smallest distinct hashes of `key` — the mergeable sketch
    * relation itself (≤ k longs, the thing worth persisting between
    * corpus cycles).
    */
  def sketchOf(df: DataFrame, key: Column, k: Int): DataFrame = {
    require(k > 1, s"KMV needs k > 1, got $k")
    partitionMins(df.select(hash48(key).as("__h")), k)
      .distinct().orderBy(col("__h")).limit(k)
  }

  /** KMV set algebra (Beyer et al. 2007): estimate |A|, |B|, |A∪B|
    * and |A∩B| between two keyed relations from their k-min sketches
    * ALONE — the cross-corpus overlap diagnostic that at 100 TB
    * replaces a distinct-intersection join (which shuffles every
    * key) with two bounded scans and ≤ 3k longs of state. The union
    * sketch is the k smallest of the merged mins; the intersection
    * estimate is the Jaccard-in-sketch scaled by the union estimate,
    * `|K∩A∩B| · est_u div k_u` — integer end-to-end, so the whole
    * report (not just the inputs) hash-replays in SQL.
    *
    * Each sketch is cached before reuse (referenced by the union
    * AND the membership join — the re-inline lesson; the cache is
    * ≤ k rows, the corpus scans run exactly once each) and released
    * after the report's first action.
    */
  def overlapReport(a: DataFrame, keyA: Column,
      b: DataFrame, keyB: Column, k: Int): DataFrame = {
    val sa = Pin.cache(sketchOf(a, keyA, k), eager = true)
    val sb = Pin.cache(sketchOf(b, keyB, k), eager = true)
    val su = Pin.cache(sa.unionByName(sb).distinct()
      .orderBy(col("__h")).limit(k), eager = true)
    def est1(m: DataFrame, p: String) =
      m.agg(count(lit(1)).as(s"k_$p"), max(col("__h")).as(s"__hk_$p"))
        .select(col(s"k_$p"),
          when(col(s"k_$p") < k, col(s"k_$p"))
            .otherwise(expr(
              s"(k_$p - 1) * ${HashSpace}L div __hk_$p"))
            .as(s"est_$p"))
    val inter = su.join(sa, "__h").join(sb, "__h")
      .agg(count(lit(1)).as("inter_in_k"))
    Pin.untilUsed(est1(sa, "a").crossJoin(est1(sb, "b"))
      .crossJoin(est1(su, "u")).crossJoin(inter)
      .select(col("k_a"), col("est_a"), col("k_b"), col("est_b"),
        col("k_u"), col("est_u"), col("inter_in_k"),
        expr("inter_in_k * est_u div k_u").as("est_inter")), sa, sb, su)
  }

  /** The KMV cardinality report for `keyCol`:
    * (k_used, h_k, est_distinct) — all exact integers.
    */
  def kmv(df: DataFrame, keyCol: String, k: Int): DataFrame = {
    val mins = sketchOf(df, col(keyCol), k)
    mins.agg(count(lit(1)).as("k_used"), max(col("__h")).as("h_k"))
      .select(col("k_used"), col("h_k"),
        when(col("k_used") < k, col("k_used"))
          .otherwise(expr(s"(k_used - 1) * ${HashSpace}L div h_k"))
          .as("est_distinct"))
  }
}
