package graft.graph

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.ops.Pin

/** k-core decomposition by iterative peeling (Seidman 1983) — the
  * community-density filter beside [[Triangles]]: repeatedly drop
  * every node of degree < k until none remains; what survives is
  * the maximal subgraph where everyone keeps ≥ k neighbors. The
  * standard graph-cleaning pass before community detection or
  * embedding (peripheral nodes out, dense cores kept).
  *
  * Scale shape: each round is one degree aggregate + one semi-join
  * of the edge list against surviving nodes — all equi-joins keyed
  * by node id, O(|E|) per round. The edge list is eagerly
  * `localCheckpoint`ed every round (the Bpe/EM lineage contract:
  * persist defeats recomputation, only checkpointing defeats plan
  * growth), and the loop's only driver traffic is one edge-count
  * per round (the bounded pattern). Rounds are data-bounded:
  * peeling converges in ≤ diameter-ish rounds; `maxRounds` is a
  * loud guard, not a silent truncation.
  */
object KCore {

  /** The k-core's edges, plus each surviving node's in-core degree
    * as `coreNodes`. Throws if `maxRounds` is hit before the
    * fixpoint — an engine that silently stopped early would report
    * a supergraph of the core. Each round is a cut (loop scope); the
    * returned core is the last one, which the caller releases.
    */
  def kCore(edges: DataFrame, srcCol: String, dstCol: String,
      k: Int, maxRounds: Int = 16): DataFrame = {
    var cur = Pin.cut(edges.select(col(srcCol).as("a"), col(dstCol).as("b")))
    var prevEdges = -1L
    var curEdges = cur.count()
    var round = 0
    while (curEdges != prevEdges) {
      require(round < maxRounds,
        s"k-core did not converge in $maxRounds rounds " +
          s"($curEdges edges live) — raise maxRounds deliberately")
      val deg = cur.select(col("a").as("n"))
        .unionByName(cur.select(col("b").as("n")))
        .groupBy(col("n")).agg(count(lit(1)).as("d"))
      val keep = deg.filter(col("d") >= k).select(col("n"))
      cur = Pin.next(cur)(Pin.cut(cur
        .join(keep.withColumnRenamed("n", "a"), Seq("a"), "left_semi")
        .join(keep.withColumnRenamed("n", "b"), Seq("b"), "left_semi")
        .select(col("a"), col("b"))))
      prevEdges = curEdges
      curEdges = cur.count()
      round += 1
    }
    cur
  }

  /** Per-node in-core degree of the k-core — (node, core_deg),
    * every core_deg ≥ k by construction.
    */
  def coreDegrees(edges: DataFrame, srcCol: String, dstCol: String,
      k: Int, maxRounds: Int = 16): DataFrame = {
    val core = kCore(edges, srcCol, dstCol, k, maxRounds)
    Pin.untilUsed(core.select(col("a").as("node"))
      .unionByName(core.select(col("b").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("core_deg"))
      .orderBy(col("node")), core)
  }
}
