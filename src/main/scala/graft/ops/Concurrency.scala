package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Interval sweep-line concurrency — "how many sessions were active
  * at once, and when did the peak happen": the capacity-planning
  * readout over any interval relation (sessions, jobs, rentals).
  * Intervals are INCLUSIVE at both ends and the sweep orders +1
  * deltas before −1 at equal timestamps, so touching intervals
  * overlap — the convention stated once and replayed exactly.
  *
  * Scale shape: the sweep's running sum is the banded TWO-LEVEL
  * prefix sum (the q126/q130/q140 pattern — `Packing
  * .packSpansGlobal` is the template): delta rows band by time
  * bucket, per-band delta totals (one small aggregate, one row per
  * band) carry across bands through a window over BAND rows only,
  * and each row's running count is its band carry plus a
  * within-band window partitioned by band. The 2·|intervals| delta
  * relation pays one hash exchange on the band id; the naive
  * `Window.orderBy(t)` global sort — which serializes every delta
  * through ONE task — never appears. Equal timestamps always land
  * in the same band (banding is on t), so the +1-before-−1 tie
  * order is preserved exactly; ConcurrencySpec pins equality with
  * the naive global window.
  */
object Concurrency {

  /** One row: (n_intervals, peak, peak_at_us) — the peak concurrent
    * count and the EARLIEST microsecond it is reached. The peak and
    * its time are invariant to tie-order among equal (t, delta)
    * rows: +1s sort first, so the within-tie maximum is the sum
    * after all the tie's arrivals, whatever their permutation.
    *
    * `bandWidthUs` slices the timestamp range (default 1 hour):
    * band count tracks time-range / bandWidth — size it so each
    * band holds ~10⁵-10⁶ delta rows at scale. Any value gives the
    * identical result; it only moves work between the band-carry
    * window (≤|bands| rows) and the per-band windows.
    */
  def peakConcurrency(intervals: DataFrame, startCol: String,
      endCol: String,
      bandWidthUs: Long = 3600L * 1000000L): DataFrame = {
    require(bandWidthUs > 0, "bandWidthUs must be > 0")
    // persisted: the delta relation feeds both the carry build and
    // the main join — unpersisted, the whole upstream interval
    // build (q231: sessionization over events) would re-run per
    // reference (the q191 re-inline trap; measured 2x on the
    // bench). 2·|intervals| narrow rows — the session-bounded
    // relation, safe to cache at any realistic SF.
    // NULL convention (ADVICE r12): an interval with a NULL start OR
    // end is excluded WHOLE — from n_intervals and from the sweep —
    // before the delta split. The old behavior (filtering delta rows
    // implicitly through the band equi-join) dropped only the NULL
    // endpoint, leaving its partner as an unbalanced ±1 and an odd
    // row count truncated by the /2.
    val complete = intervals
      .filter(col(startCol).isNotNull && col(endCol).isNotNull)
    // materialized NOW (eager): the carry/peak/count broadcast
    // subqueries all launch before a lazy cache fills — raced, each
    // would compute the full upstream build (the round-1
    // persist-then-count rule)
    val d = Pin.cache(complete
      .select(unix_micros(col(startCol)).as("t"), lit(1L).as("delta"))
      .unionByName(complete
        .select(unix_micros(col(endCol)).as("t"),
          lit(-1L).as("delta")))
      // floor division correct for negative epochs too (pre-1970)
      .withColumn("__b",
        floor(col("t") / lit(bandWidthUs.toDouble)).cast("long")),
      eager = true)
    val carryW = Window.orderBy(col("__b"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val carries = d.groupBy(col("__b"))
      .agg(sum(col("delta")).as("__bt"))
      .withColumn("__carry",
        coalesce(sum(col("__bt")).over(carryW), lit(0L)))
      .select(col("__b"), col("__carry"))
    val inBand = Window.partitionBy(col("__b"))
      .orderBy(col("t"), col("delta").desc)
      .rowsBetween(Window.unboundedPreceding, 0)
    val r = d.join(broadcast(carries), "__b")
      .withColumn("running",
        col("__carry") + sum(col("delta")).over(inBand))
    // ONE aggregate extracts everything: max(struct(running, -t))
    // is lexicographic — the peak count, and among its ties the
    // max of -t = the EARLIEST t (+1-first tie order makes the
    // within-tie max the post-arrivals sum, so the pick is exact);
    // n_intervals = delta rows / 2. r is referenced once, so no
    // second scan, no peak broadcast, no cache of r.
    val out = r.agg(
        (count(lit(1)) / 2).cast("long").as("n_intervals"),
        max(struct(col("running"), (-col("t")).as("__nt"))).as("__pk"))
      .select(col("n_intervals"), col("__pk.running").as("peak"),
        (-col("__pk.__nt")).as("peak_at_us"))
    Pin.untilUsed(out, d)
  }
}
