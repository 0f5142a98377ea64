package graft.graph

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.ops.Pin

/** Semi-supervised label propagation over a similarity graph —
  * spread trusted labels (a curated subset, a high-confidence
  * classifier slice) to unlabeled neighbors, the graph form of the
  * reference's confidence-based relabeling (SURVEY M17): a near-dup
  * or high-similarity neighbor of a labeled doc almost certainly
  * shares its label.
  *
  * Deliberately BOUNDED-ROUND (not run-to-convergence): each round
  * labels the unlabeled frontier adjacent to labeled nodes, so
  * `rounds` caps the trust radius — and makes the whole pass
  * deterministic and SQL-replayable (fixed rounds unroll to CTEs;
  * run-to-convergence would be data-dependent iteration count).
  * Seeds never change; an adopted label is final (monotone), so the
  * result is order-independent. Ties take the smallest label.
  *
  * Scale shape per round: one equi-join of the symmetric edge list
  * against the labeled set (edges persisted once; at web scale this
  * is the co-partitioned join the components contraction also
  * uses), one (dst,label) vote aggregate with map-side partial, one
  * per-dst argmax via `WindowGroupLimit`-prunable row_number, one
  * left join back. Each round is an eager cache that releases the
  * round before it; the last is released after the result's first
  * action — bounded lineage, no driver iteration beyond the fixed
  * loop count.
  */
object LabelProp {

  def propagate(nodes: DataFrame, edges: DataFrame, idCol: String,
      labelCol: String, srcCol: String, dstCol: String,
      rounds: Int): DataFrame = {
    require(rounds >= 1, "rounds must be >= 1")
    val sym = Pin.cache(edges
      .select(col(srcCol).as("__src"), col(dstCol).as("__dst"))
      .unionByName(edges.select(col(dstCol).as("__src"),
        col(srcCol).as("__dst"))), eager = true)
    var cur = Pin.cache(
      nodes.select(col(idCol).as("__id"), col(labelCol).as("__lbl")),
      eager = true)
    try {
      (1 to rounds).foreach { _ =>
        val votes = sym
          .join(cur.filter(col("__lbl").isNotNull)
            .select(col("__id").as("__src"), col("__lbl")), "__src")
          .groupBy(col("__dst"), col("__lbl"))
          .agg(count(lit(1)).as("__n"))
        val w = Window.partitionBy(col("__dst"))
          .orderBy(col("__n").desc, col("__lbl"))
        val winner = votes.withColumn("__rk", row_number().over(w))
          .filter(col("__rk") === 1)
          .select(col("__dst").as("__id"), col("__lbl").as("__new"))
        cur = Pin.next(cur)(Pin.cache(cur.join(winner, Seq("__id"), "left")
          .select(col("__id"),
            coalesce(col("__lbl"), col("__new")).as("__lbl")), eager = true))
      }
      Pin.untilUsed(
        cur.select(col("__id").as(idCol), col("__lbl").as(labelCol)), cur)
    } finally Pin.release(sym)
  }
}
