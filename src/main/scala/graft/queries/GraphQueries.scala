package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.graph.TextRank
import graft.io.Tables.table
import graft.text.TextFunctions

/** TextRank surface (SURVEY.md M5). The fixed-iteration PageRank is
  * plain join+aggregate algebra, so the oracle replays it exactly as
  * unrolled SQL CTEs — one CTE per iteration.
  */
object GraphQueries extends QueryPack {

  private val Iters = 10

  private def toks = TextFunctions.tokens(col("text"))

  /** q66/q67 share the corpus-level PageRank over one co-occurrence
    * graph, so the 10-iteration power loop runs once per session. The
    * scores are already cached by [[TextRank.pagerank]].
    */
  private val corpusScores = FitStore.slot((s, dir) =>
    FitStore.owned(TextRank.wordScores(
      table(s, dir, "documents").select(toks.as("toks")), "toks", Iters)))

  /** q181, q220 and the k-core query walk the SAME thresholded
    * co-order graph — the 1.2M-pair order self-join is the dominant
    * cost of each, so the edge list (the ~4k-row graph AFTER the
    * support cut, cheap to hold) is pinned and the pair volume is paid
    * once per session.
    */
  private[queries] val coorderEdges = FitStore.slot { (s, dir) =>
    val li = table(s, dir, "lineitem")
      .select(col("l_orderkey").as("o"), col("l_partkey").as("p"))
      .distinct()
    FitStore.pinned(li.join(li.select(col("o"), col("p").as("p2")), "o")
      .filter(col("p") < col("p2"))
      .select(col("p").as("pa"), col("p2").as("pb"))
      .groupBy(col("pa"), col("pb"))
      .agg(count(lit(1)).as("__n"))
      .filter(col("__n") >= 2)
      .select(col("pa"), col("pb")))
  }

  def defs: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Corpus-level PageRank word scores over the co-occurrence graph.
    "q66_textrank_scores" -> ((s, dir) => {
      corpusScores(s, dir).orderBy(col("word"))
    }),

    // Exact triangle count + global clustering coefficient over the
    // co-purchase graph (graph.Triangles): parts are nodes, an edge
    // is a pair co-ordered with SUPPORT >= 2 — the market-basket
    // support threshold that separates signal from one-off random
    // co-occurrence (and, measured, takes the synthetic graph from
    // 1.2M edges / avg-degree 120 to ~4k meaningful edges at
    // sf0.1). The degree-oriented join then bounds the wedge
    // fan-out by arboricity — the trick that keeps exact counting
    // feasible where the naive 3-way edge join explodes on hub
    // parts. One exact-integer row out.
    "q181_triangle_count" -> ((s, dir) => {
      // DISTINCT (order, part) first: a part listed twice in one
      // order is multiplicity, not co-occurrence — support must
      // count CO-ORDERS (the q182 discipline; this corpus carries
      // duplicate lines by design, see q177's uniqueness rule).
      // Edge list shared with q220 (coorderEdges).
      graft.graph.Triangles.stats(coorderEdges(s, dir), "pa", "pb")
    }),

    // 2-hop neighborhood feature aggregation (graph.NeighborAgg):
    // the GraphSAGE mean-aggregate shape over the q181 co-order
    // graph — per part, the 1-hop integer-div mean of neighbor
    // prices (fx-e2) and the 2-hop mean of neighbor h1. Each hop is
    // one edge-feature equi-join + one node-keyed aggregate, the
    // message-passing round GNN preprocessing runs at any scale.
    "q220_graph_features" -> ((s, dir) => {
      val feats = table(s, dir, "part").select(col("p_partkey"),
        floor(col("p_retailprice") * 100).cast("long").as("fx"))
      graft.graph.NeighborAgg.twoHopMeans(coorderEdges(s, dir),
        "pa", "pb", feats, "p_partkey", "fx")
        .withColumnRenamed("p_partkey", "part")
        .orderBy(col("part")).limit(200)
    }),

    // k-core decomposition (graph.KCore): iterative peeling of the
    // q181 co-order graph at k=2 — drop degree-<2 nodes until the
    // fixpoint (4 rounds at sf0.01, 6 at sf0.1; the oracle unrolls
    // 12 — peeling is idempotent past the fixpoint, so extra
    // rounds are identity and a too-short unroll would fail LOUDLY
    // by hash). Each round is one degree aggregate + two semi-joins,
    // edge list localCheckpoint'ed per round (the lineage contract).
    "q227_kcore" -> ((s, dir) =>
      graft.graph.KCore.coreDegrees(coorderEdges(s, dir),
        "pa", "pb", k = 2)),

    // Top-3 phrases per doc by summed node scores.
    "q67_textrank_phrases" -> ((s, dir) => {
      val docs = table(s, dir, "documents")
      val scores = corpusScores(s, dir)
      TextRank.topPhrases(
        docs.filter(col("doc_id") < 100)
          .select(col("doc_id"), toks.as("toks")),
        "doc_id", "toks", scores, k = 3)
        .orderBy(col("doc_id"), col("score").desc, col("phrase"))
    })
  )

  /** Shared graph CTEs + `Iters` unrolled power-iteration CTEs. */
  /** Unrolled k-core peel: round i = degree aggregate over e(i−1),
    * keep set, filtered edge list (MATERIALIZED — each level is
    * referenced 3×, the r11 CTE-inline lesson). Peeling past the
    * fixpoint is identity, so `rounds` only needs to be ≥ the true
    * peel depth — and a too-short unroll fails loudly by hash.
    */
  private def kcoreOracle(k: Int, rounds: Int): String = {
    val head =
      """WITH li AS (
        |  SELECT DISTINCT l_orderkey AS o, l_partkey AS p
        |  FROM lineitem),
        |e0 AS MATERIALIZED (
        |  SELECT a.p AS x, b.p AS y
        |  FROM li a JOIN li b ON a.o = b.o AND a.p < b.p
        |  GROUP BY x, y HAVING count(*) >= 2)""".stripMargin
    val peel = (1 to rounds).map { i =>
      s"""d$i AS (SELECT n, count(*) AS d FROM (
         |    SELECT x AS n FROM e${i - 1}
         |    UNION ALL SELECT y FROM e${i - 1}) GROUP BY n),
         |k$i AS MATERIALIZED (SELECT n FROM d$i WHERE d >= $k),
         |e$i AS MATERIALIZED (
         |  SELECT e.x, e.y FROM e${i - 1} e
         |  JOIN k$i ka ON e.x = ka.n
         |  JOIN k$i kb ON e.y = kb.n)""".stripMargin
    }
    (head +: peel).mkString(",\n") +
      s"""
         |SELECT n AS node, CAST(count(*) AS BIGINT) AS core_deg
         |FROM (SELECT x AS n FROM e$rounds
         |      UNION ALL SELECT y FROM e$rounds)
         |GROUP BY n ORDER BY node""".stripMargin
  }

  private def pagerankCtes: String = {
    val base =
      """t AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
        |pairs AS (
        |  SELECT unnest(tk[1:len(tk)-1]) AS a, unnest(tk[2:len(tk)]) AS b
        |  FROM t),
        |edges AS (
        |  SELECT DISTINCT a, b FROM (
        |    SELECT a, b FROM pairs WHERE a <> b
        |    UNION ALL
        |    SELECT b AS a, a AS b FROM pairs WHERE a <> b)),
        |outdeg AS (SELECT a, count(*) AS deg FROM edges GROUP BY a),
        |nn AS (SELECT count(*) AS n FROM outdeg),
        |p0 AS (SELECT a AS word, 1.0 / (SELECT n FROM nn) AS score
        |       FROM outdeg)""".stripMargin
    val iters = (1 to Iters).map { k =>
      s"""p$k AS (
         |  SELECT e.b AS word,
         |         0.15 / (SELECT n FROM nn)
         |           + 0.85 * sum(p${k - 1}.score / d.deg) AS score
         |  FROM edges e
         |  JOIN p${k - 1} ON p${k - 1}.word = e.a
         |  JOIN outdeg d ON d.a = e.a
         |  GROUP BY e.b)""".stripMargin
    }
    (base +: iters).mkString(",\n")
  }

  def oracles: Map[String, String] = Map(
    "q227_kcore" -> kcoreOracle(k = 2, rounds = 12),
    // both hops replayed as integer-div means over the same
    // thresholded edge list
    "q220_graph_features" ->
      """WITH li AS (
        |  SELECT DISTINCT l_orderkey AS o, l_partkey AS p
        |  FROM lineitem),
        |e AS (
        |  SELECT a.p AS x, b.p AS y
        |  FROM li a JOIN li b ON a.o = b.o AND a.p < b.p
        |  GROUP BY x, y HAVING count(*) >= 2),
        |sym AS (SELECT x AS s, y AS d FROM e
        |  UNION ALL SELECT y AS s, x AS d FROM e),
        |f AS (SELECT p_partkey AS d,
        |    CAST(floor(p_retailprice * 100) AS BIGINT) AS fx
        |  FROM part),
        |h1 AS (SELECT s, CAST(count(*) AS BIGINT) AS deg,
        |    CAST(sum(fx) // count(*) AS BIGINT) AS h1
        |  FROM sym JOIN f USING (d) GROUP BY s),
        |h2 AS (SELECT sym.s AS s,
        |    CAST(sum(h1.h1) // count(*) AS BIGINT) AS h2
        |  FROM sym JOIN h1 ON sym.d = h1.s GROUP BY sym.s)
        |SELECT h1.s AS part, h1.deg, h1.h1, h2.h2
        |FROM h1 JOIN h2 ON h1.s = h2.s
        |ORDER BY part LIMIT 200""".stripMargin,
    "q181_triangle_count" ->
      """WITH li AS (
        |  SELECT DISTINCT l_orderkey AS o, l_partkey AS p
        |  FROM lineitem),
        |e AS (
        |  SELECT a.p AS x, b.p AS y
        |  FROM li a JOIN li b ON a.o = b.o AND a.p < b.p
        |  GROUP BY x, y HAVING count(*) >= 2),
        |deg AS (SELECT n, CAST(count(*) AS BIGINT) AS d FROM (
        |  SELECT x AS n FROM e UNION ALL SELECT y AS n FROM e)
        |  GROUP BY n),
        |o AS (SELECT
        |    CASE WHEN da.d < db.d OR (da.d = db.d AND e.x < e.y)
        |      THEN e.x ELSE e.y END AS u,
        |    CASE WHEN da.d < db.d OR (da.d = db.d AND e.x < e.y)
        |      THEN e.y ELSE e.x END AS v
        |  FROM e JOIN deg da ON e.x = da.n JOIN deg db ON e.y = db.n),
        |w AS (SELECT o1.v AS v1, o2.v AS v2
        |  FROM o o1 JOIN o o2 ON o1.u = o2.u AND o1.v < o2.v),
        |c AS (SELECT least(u, v) AS x, greatest(u, v) AS y FROM o),
        |t AS (SELECT CAST(count(*) AS BIGINT) AS n_triangles
        |  FROM w JOIN c ON w.v1 = c.x AND w.v2 = c.y),
        |s AS (SELECT CAST(count(*) AS BIGINT) AS n_nodes,
        |    CAST(sum(d) AS BIGINT) AS deg_sum,
        |    CAST(sum((d * (d - 1)) // 2) AS BIGINT) AS n_wedges
        |  FROM deg)
        |SELECT n_nodes, deg_sum // 2 AS n_edges, n_wedges,
        |  n_triangles, n_triangles * 3 * 1000000 // n_wedges AS gcc_e6
        |FROM s, t""".stripMargin,
    "q66_textrank_scores" ->
      s"""WITH $pagerankCtes
         |SELECT word, round(score, 4) AS score
         |FROM p$Iters ORDER BY word""".stripMargin,
    "q67_textrank_phrases" ->
      s"""WITH $pagerankCtes,
         |scores AS (SELECT word, round(score, 4) AS score FROM p$Iters),
         |ph AS (
         |  SELECT DISTINCT doc_id, a || ' ' || b AS phrase, a, b
         |  FROM (SELECT doc_id, unnest(tk[1:len(tk)-1]) AS a,
         |               unnest(tk[2:len(tk)]) AS b
         |        FROM t WHERE doc_id < 100)
         |  WHERE a <> b),
         |scored AS (
         |  SELECT ph.doc_id, ph.phrase,
         |         round(sa.score + sb.score, 4) AS score
         |  FROM ph JOIN scores sa ON ph.a = sa.word
         |          JOIN scores sb ON ph.b = sb.word),
         |ranked AS (
         |  SELECT *, row_number() OVER (PARTITION BY doc_id
         |    ORDER BY score DESC, phrase) AS rn
         |  FROM scored)
         |SELECT doc_id, phrase, score FROM ranked WHERE rn <= 3
         |ORDER BY doc_id, score DESC, phrase""".stripMargin
  )
}
