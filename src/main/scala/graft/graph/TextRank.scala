package graft.graph

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.ops.{Pin, Relational}
import graft.text.TextFunctions

/** TextRank keyword scoring (SURVEY.md M5; reference
  * TextRank.scala:20-125 builds a GraphX graph and calls
  * `pageRank(0.0001)`).
  *
  * Here the co-occurrence graph is built as a DataFrame of edges and
  * PageRank is a fixed-iteration co-partitioned power loop — the same
  * shuffle pattern GraphX's Pregel produces, and exactly reproducible
  * by any engine (sum/divide algebra, fixed iterations), which makes
  * the scores oracle-verifiable. Fixed iteration count (not a
  * convergence tolerance) keeps the result deterministic across
  * cluster sizes.
  *
  * Scale notes: adjacency lists are partitioned once and cached;
  * each iteration shuffles only (word, contribution) pairs with
  * map-side combine — the graph itself never re-shuffles. For
  * web-scale graphs swap in GraphX's pageRank; for vocabulary graphs
  * (≤ millions of nodes) this loop is simpler and plans better.
  */
object TextRank {

  /** Undirected co-occurrence edges from consecutive tokens
    * (window=2, the reference's window): both directions, distinct,
    * self-loops dropped.
    */
  def coocEdges(docs: DataFrame, tokensCol: String): DataFrame = {
    val bg = docs
      .select(explode(TextFunctions.ngramsFast(col(tokensCol), 2)).as("bg"))
      .select(split(col("bg"), " ").getItem(0).as("a"),
        split(col("bg"), " ").getItem(1).as("b"))
      .filter(col("a") =!= col("b"))
    bg.select(col("a"), col("b"))
      .unionByName(bg.select(col("b").as("a"), col("a").as("b")))
      .distinct()
  }

  /** PageRank over an edge list: fixed-iteration by default
    * (`tol = 0`), or the reference's iterate-until-δ contract when
    * `tol > 0` (`iterations` then caps the rounds). Returns
    * (word, score) with scores rounded to `roundTo`, as an eager
    * [[graft.ops.Pin.cache]] the caller releases.
    *
    * Implemented as the classic co-partitioned RDD power loop rather
    * than a DataFrame join loop: adjacency lists are hash-partitioned
    * ONCE and cached; ranks inherit the same partitioner, so the
    * per-iteration `join` is narrow (zero shuffle) and the only
    * exchange per round is the map-side-combined `reduceByKey` of
    * (word, contribution) pairs. Crucially the whole `iterations`-deep
    * chain is ONE lazy job: the earlier DataFrame formulation needed a
    * broadcast-build job plus a localCheckpoint job per iteration —
    * 20+ serial driver barriers whose scheduling latency multiplied
    * under load (24 s on a contended host vs 5 s idle for the same
    * work, BENCH_r05 vs the r6 repro). RDD lineage is cheap to
    * analyze (no Catalyst re-planning per round), so 10 chained
    * iterations need no checkpointing at all. This is the canonical
    * "genuinely iterative" case where RDDs beat DataFrames — the same
    * machinery GraphX's Pregel uses under the hood.
    */
  def pagerank(edges: DataFrame, iterations: Int = 10,
      damping: Double = 0.85, roundTo: Int = 4,
      tol: Double = 0.0): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    val part = new org.apache.spark.HashPartitioner(
      spark.sparkContext.defaultParallelism)
    // Adjacency lists: source degree is the array length, so the
    // degree "join" of the reference (and our first cut) is free.
    val links = Pin.cache(edges.select(col("a"), col("b"))
      .as[(String, String)].rdd
      .groupByKey(part)
      .mapValues(_.toArray))
    val n = links.count() // materializes the cache; |vocab|
    var ranks = links.mapValues(_ => 1.0 / n) // co-partitioned: narrow
    def step(r: org.apache.spark.rdd.RDD[(String, Double)]) = {
      val contribs = links.join(r, part) // narrow: same partitioner
        .values
        .flatMap { case (dsts, rk) =>
          val c = rk / dsts.length
          dsts.iterator.map(d => (d, c))
        }
      contribs
        .reduceByKey(part, _ + _) // map-side combine; keeps partitioner
        .mapValues(m => (1.0 - damping) / n + damping * m)
    }
    // Convergence-mode cache to release once scores materialize.
    var lastCached: Option[org.apache.spark.rdd.RDD[(String, Double)]] =
      None
    if (tol <= 0.0) {
      // Fixed iterations (the default): the whole chain stays ONE
      // lazy job — deterministic across cluster sizes and
      // oracle-replayable.
      for (_ <- 1 to iterations) ranks = step(ranks)
    } else {
      // The reference's convergence contract (`pageRank(0.0001)`,
      // TextRank.scala:45): iterate until max per-node |Δ| <= tol,
      // capped at `iterations`. Checking δ necessarily materializes
      // each round (one job per iteration — the cost the fixed mode
      // exists to avoid), so this knob is for callers porting the
      // reference's termination semantics, not the bench path. Each
      // round's ranks are cached for the δ-join + next step, and the
      // previous round's cache is released as soon as it is dead.
      var it = 0
      var converged = false
      while (it < iterations && !converged) {
        val next = Pin.cache(step(ranks))
        val delta = ranks.join(next, part).values
          .map { case (a, b) => math.abs(a - b) }.max()
        lastCached.foreach(Pin.release(_))
        lastCached = Some(next)
        ranks = next
        converged = delta <= tol
        it += 1
      }
    }
    // Persist + materialize the converged scores, THEN release the
    // graph cache: downstream consumers (phrase scoring joins both
    // sides, broadcasts recompute their subplan) would otherwise
    // re-run all `iterations` rounds per reference, and a long-lived
    // session running many pagerank calls would accumulate edge
    // caches until the ContextCleaner got around to it. Rounding is
    // applied with the same Column `round` as before (HALF_UP), so
    // scores are bit-identical to the DataFrame loop's.
    val out = Pin.cache(ranks.toDF("word", "score")
      .select(col("word"), round(col("score"), roundTo).as("score")),
      eager = true)
    Pin.release(links)
    lastCached.foreach(Pin.release(_))
    out
  }

  /** Corpus-level word scores for a tokenized document table. */
  def wordScores(docs: DataFrame, tokensCol: String,
      iterations: Int = 10): DataFrame =
    pagerank(coocEdges(docs, tokensCol), iterations)

  /** GraphX variant of the word scoring (the reference's engine —
    * TextRank.scala:40-45 builds a GraphX `Graph` and calls
    * pageRank). Kept alongside the DataFrame loop: GraphX's Pregel
    * machinery wins on web-scale graphs with many iterations;
    * the DataFrame loop is oracle-replayable and AQE-planned.
    * `staticPageRank` scores are per-node mass summing to ~N, so
    * they are rescaled by 1/N to match the DataFrame loop's
    * distribution semantics (identical ranking either way). Like
    * [[pagerank]], the result is an eager cache the caller releases.
    */
  def wordScoresGraphX(docs: DataFrame, tokensCol: String,
      iterations: Int = 10, roundTo: Int = 4): DataFrame = {
    import org.apache.spark.graphx.{Edge, Graph}
    val spark = docs.sparkSession
    import spark.implicits._
    val edgesDf = Pin.cache(coocEdges(docs, tokensCol))
    // Distributed id assignment: word → long via zipWithIndex, joined
    // onto both edge endpoints. An earlier cut collectAsMap'd the
    // vocab to the driver and broadcast it — vocab-sized today, but a
    // driver-side materialization of an unbounded-cardinality table
    // is exactly the maxResultSize failure the reference hit at
    // web-corpus vocab. zipWithIndex costs one extra pass (partition
    // offsets) + two vocab-sized shuffle joins; nothing touches the
    // driver.
    val vocabIds = Pin.cache(edgesDf.select(col("a").as("word")).distinct()
      .rdd.map(_.getString(0)).zipWithIndex())
    val n = vocabIds.count()
    val edgeRdd = edgesDf.rdd
      .map(r => (r.getString(0), r.getString(1)))
      .join(vocabIds) // (a, (b, aId))
      .map { case (_, (b, aId)) => (b, aId) }
      .join(vocabIds) // (b, (aId, bId))
      .map { case (_, (aId, bId)) => Edge(aId, bId, 1.0) }
    val graph = Graph.fromEdges[Double, Double](edgeRdd, 1.0)
    val ranks = graph.staticPageRank(iterations, resetProb = 0.15).vertices
    val idToWord = vocabIds.map { case (w, id) => (id, w) }
    val out = Pin.cache(ranks.join(idToWord)
      .map { case (_, (score, word)) =>
        (word, math.rint(score / n * math.pow(10, roundTo))
          / math.pow(10, roundTo))
      }.toDF("word", "score"), eager = true)
    Pin.release(vocabIds)
    Pin.release(edgesDf)
    out
  }

  /** Top-k 2-gram phrases per document scored by summed node scores
    * (reference TextRank.scala:90-95 scores 2-grams the same way).
    */
  def topPhrases(docs: DataFrame, idCol: String, tokensCol: String,
      scores: DataFrame, k: Int): DataFrame = {
    val phrases = docs
      .select(col(idCol),
        explode(array_distinct(TextFunctions.ngramsFast(col(tokensCol), 2)))
          .as("phrase"))
      .select(col(idCol), col("phrase"),
        split(col("phrase"), " ").getItem(0).as("a"),
        split(col("phrase"), " ").getItem(1).as("b"))
      .filter(col("a") =!= col("b"))
    val sa = scores.select(col("word").as("a"), col("score").as("score_a"))
    val sb = scores.select(col("word").as("b"), col("score").as("score_b"))
    val scored = phrases
      .join(broadcast(sa), "a").join(broadcast(sb), "b")
      .select(col(idCol), col("phrase"),
        round(col("score_a") + col("score_b"), 4).as("score"))
    Relational.topKPerGroup(scored, Seq(col(idCol)),
      Seq(col("score").desc, col("phrase")), k)
  }
}
