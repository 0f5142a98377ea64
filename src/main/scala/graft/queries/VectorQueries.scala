package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.dedup.Registry
import graft.io.Tables.table
import graft.ops.Pin
import graft.similarity.{Ann, Clustering, Pq}

/** Vector-at-scale surface beyond q48/q49: IVF cluster-then-probe
  * ANN (the index shape that bounds the candidate shuffle at 100 TB)
  * and embedding-cosine near-duplicate extraction (the exact
  * baseline an approximate candidate pass is measured against).
  *
  * Near-dup injects exact copies of low-id vectors — the raw table
  * has no high-cosine pairs (max ≈ 0.6), and an identical embedding
  * is precisely what a re-ingested document produces — so the
  * oracle computes the same dedup for real.
  */
object VectorQueries extends QueryPack {
  import Fragments.cosineCte

  /** embeddings ∪ two copies of vec_id < 20 (ids +100000/+200000). */
  private def withInjectedDups(s: SparkSession, dir: String): DataFrame = {
    val e = table(s, dir, "embeddings").select(col("vec_id"), col("embedding"))
    val low = e.filter(col("vec_id") < 20)
    e.unionByName(low.withColumn("vec_id", col("vec_id") + 100000L))
      .unionByName(low.withColumn("vec_id", col("vec_id") + 200000L))
  }

  def defs: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Hybrid retrieval (similarity.Fusion): the BM25 sparse list
    // and the embedding-cosine dense list for one query, fused by
    // reciprocal rank in exact integer space (1e9 div (60+rank)).
    // Ranks are row_number over TOTAL orders, so the whole fusion
    // replays bit-for-bit; the global rank windows are bounded by
    // the retrieval candidate sets, never a corpus (see Fusion's
    // scale contract).
    // MMR diverse re-rank (similarity.Mmr): the diversity-aware
    // selection step after retrieval — top-30 candidates by cosine
    // to the vec_id=0 query, then greedy k=8 maximizing
    // 7·rel − 3·max-sim-to-picked in exact e6 integers. The
    // corpus-sized work (scoring, top-C cut, C² pair sims) runs in
    // the engine; the inherently-sequential greedy runs on the
    // collected ≤ C+C² bounded artifact (the RRF/BPE contract) and
    // its whole trajectory replays as an unrolled SQL pick chain.
    "q205_mmr_rerank" -> ((s, dir) => {
      val emb = table(s, dir, "embeddings")
      val qv = emb.filter(col("vec_id") === 0)
        .select(col("embedding").as("__qv"),
          Ann.norm(col("embedding")).as("__qn"))
      // referenced 3x (rel + both sim sides): pinned
      val cand = Pin.cache(emb.filter(col("vec_id") =!= 0)
        .crossJoin(broadcast(qv))
        .select(col("vec_id").as("id"),
          floor(lit(1000000.0) * Ann.dot(col("embedding"), col("__qv"))
            / (Ann.norm(col("embedding")) * col("__qn")))
            .cast("long").as("rel_e6"),
          col("embedding"))
        .orderBy(col("rel_e6").desc, col("id")).limit(30), eager = true)
      val a = cand.select(col("id").as("id_a"), col("embedding").as("__va"))
      val b = cand.select(col("id").as("id_b"), col("embedding").as("__vb"))
      val sims = a.join(b, col("id_a") =!= col("id_b"))
        .select(col("id_a"), col("id_b"),
          floor(lit(1000000.0) * Ann.dot(col("__va"), col("__vb"))
            / (Ann.norm(col("__va")) * Ann.norm(col("__vb"))))
            .cast("long").as("sim_e6"))
      // rerank collects; the result is local rows
      val out = try graft.similarity.Mmr.rerank(
        cand.select(col("id"), col("rel_e6")), sims, k = 8, lamTen = 7)
      finally Pin.release(cand)
      out.orderBy(col("rank"))
    }),

    "q172_rrf_hybrid" -> ((s, dir) => {
      val sparse = graft.text.Tfidf.bm25Scores(
        table(s, dir, "documents"), "doc_id", "text",
        Seq("hash", "join", "vector"))
      val emb = table(s, dir, "embeddings")
      val qv = emb.filter(col("vec_id") === 0)
        .select(col("embedding").as("__qv"))
      val dense = emb.crossJoin(broadcast(qv))
        .filter(col("vec_id") =!= 0)
        .select(col("vec_id").as("doc_id"),
          round(Ann.cosine(col("embedding"), col("__qv")), 6).as("cos"))
      graft.similarity.Fusion.rrf(
        graft.similarity.Fusion.rankByScore(sparse, "doc_id", "bm25"),
        graft.similarity.Fusion.rankByScore(dense, "doc_id", "cos"),
        "doc_id")
        .select(col("doc_id"), col("rank_a").as("rank_sparse"),
          col("rank_b").as("rank_dense"), col("rrf_e9"))
    }),

    // IVF ANN: 8 deterministic centroids, probe the 2 nearest
    // clusters per query, exact top-5 within the probed candidates.
    "q79_ann_ivf" -> ((s, dir) => {
      val emb = table(s, dir, "embeddings")
      Ann.ivfTopK(emb, "vec_id", "embedding", nCentroids = 8, nProbe = 2,
        queries = emb.filter(col("vec_id") >= 20 && col("vec_id") < 40),
        k = 5)
        .orderBy(col("query_id"), col("rank"))
    }),

    // Exact embedding near-dup pairs at cosine >= 0.99.
    "q80_embed_dup" -> ((s, dir) => {
      Ann.cosineDupPairs(withInjectedDups(s, dir), "vec_id", "embedding",
        threshold = 0.99)
        .orderBy(col("id_a"), col("id_b"))
    }),

    // Scale-path embedding near-dup: RHP-signature buckets bound the
    // candidate set (an equi-join, never the cross product); exact
    // cosine inside buckets. Injected exact copies hash to identical
    // signatures, so recall on true duplicates is total — the pair
    // set q80's all-pairs baseline finds for them is reproduced.
    // Incremental VECTOR near-dup registry (the Registry.Vec lane): the
    // q237/q241 ingest contract for embeddings — history is a
    // bucketed (sig, id, embedding) table keyed by the RHP
    // signature, and a new batch drops any vector matching a
    // registered one in its signature bucket at rounded cosine >=
    // 0.99 (the q100 rule). Corpus = embeddings ∪ copies of
    // vec_id<20 under id+100001 (the +1 pushes copies into a later
    // batch cycle); 3 batches by vec_id % 3 ingest in order.
    "q242_vec_registry" -> ((s, dir) => {
      val e = table(s, dir, "embeddings").select(col("vec_id"),
        col("embedding"))
      DedupQueries.laneReplay(s, dir, Registry.Vec(), "graft_vec_reg",
        "graft_registry_vec",
        e.unionByName(e.filter(col("vec_id") < 20)
          .withColumn("vec_id", col("vec_id") + 100001L)),
        "vec_id", "embedding")
    }),

    // Vector-registry PLANE MIGRATION (Registry.rekeyVec, r13
    // verdict #3): a registry created at 8 planes — sized for a
    // smaller corpus — is re-keyed to 16 planes in ONE pass over the
    // REGISTRY (the embeddings are stored, so the corpus is never
    // touched), then ingest continues at the new plane count. Batch
    // 0 ingests at 8 planes; rekey; batch 1 (carrying +100001 exact
    // copies of batch-0 vectors — the odd shift flips parity so
    // every copy probes across the migration boundary) ingests at
    // 16. Oracle replays both phases with the engine-exact signature
    // SQL. Output (batch_no, n_in, n_kept).
    "q247_vec_rekey" -> ((s, dir) => {
      val tag = java.lang.Integer.toHexString(dir.hashCode)
      val base =
        s"${System.getProperty("java.io.tmpdir")}/graft_registry_rekey/$tag"
      val (n8, n16) = (s"graft_rk8_$tag", s"graft_rk16_$tag")
      Registry.create(s, Registry.Vec(planes = 8), n8, s"$base/p8",
        buckets = 8)
      val e = table(s, dir, "embeddings").select(col("vec_id"),
        col("embedding"))
      val corpus = e.unionByName(e.filter(col("vec_id") < 20)
        .withColumn("vec_id", col("vec_id") + 100001L))
      val b0 = corpus.filter(col("vec_id") % 2 === 0)
      val b1 = corpus.filter(col("vec_id") % 2 === 1)
      val n0 = (0, b0.count(), DedupQueries.keptCount(
        Registry.ingest(s, Registry.Vec(), n8, b0, "vec_id", "embedding", 0)))
      Registry.rekeyVec(s, n8, n16, s"$base/p16", buckets = 8,
        newPlanes = 16)
      val n1 = (1, b1.count(), DedupQueries.keptCount(
        Registry.ingest(s, Registry.Vec(), n16, b1, "vec_id", "embedding", 1)))
      import s.implicits._
      Seq(n0, n1).toDF("batch_no", "n_in", "n_kept")
        .select(col("batch_no").cast("int"), col("n_in"), col("n_kept"))
        .orderBy(col("batch_no"))
    }),

    "q100_embed_dup_lsh" -> ((s, dir) => {
      Ann.lshDupPairs(withInjectedDups(s, dir), "vec_id", "embedding",
        planes = 8, threshold = 0.99)
        .orderBy(col("id_a"), col("id_b"))
    }),

    // k-NN label vote: top-5 cosine neighbors classify each query
    // vector by majority (count desc, label asc tiebreak) — the
    // similarity-search surface applied to label ETL, the reference's
    // bread and butter (category marking). One broadcast of the query
    // slice; votes are a tiny aggregate over k×|queries| rows.
    "q103_knn_classify" -> ((s, dir) => {
      val emb = table(s, dir, "embeddings")
      val topk = Ann.cosineTopK(emb,
        emb.filter(col("vec_id") >= 20 && col("vec_id") < 40),
        "vec_id", "embedding", 5)
      val votes = topk
        .join(emb.select(col("vec_id").as("neighbor_id"), col("label")),
          "neighbor_id")
        .groupBy(col("query_id"), col("label"))
        .agg(count(lit(1)).as("votes"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("query_id"))
        .orderBy(col("votes").desc, col("label"))
      votes.withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("query_id"), col("label").as("pred_label"),
          col("votes"))
        .orderBy(col("query_id"))
    }),

    // ANN quality measured, not guessed: recall@5 of the IVF probe
    // path (q79's index shape) against the exact brute-force top-5
    // ground truth, per query. The join is k×|queries| rows on both
    // sides — at corpus scale this is how an index's nProbe/nlist
    // trade is tuned on a sampled query set before deployment.
    "q112_ann_recall" -> ((s, dir) => {
      val emb = table(s, dir, "embeddings")
      val queries = emb.filter(col("vec_id") >= 20 && col("vec_id") < 40)
      val ivf = Ann.ivfTopK(emb, "vec_id", "embedding", nCentroids = 8,
        nProbe = 2, queries = queries, k = 5)
        .select(col("query_id"), col("neighbor_id"), lit(1).as("__hit"))
      val exact = Ann.cosineTopK(emb, queries, "vec_id", "embedding", 5)
        .select(col("query_id"), col("neighbor_id"))
      exact.join(ivf, Seq("query_id", "neighbor_id"), "left")
        .groupBy(col("query_id"))
        .agg(sum(coalesce(col("__hit"), lit(0))).as("n_hits"))
        .orderBy(col("query_id"))
    }),

    // Embedding domain clustering: cluster-size histogram — the
    // domain-mixing input when no explicit domain labels exist
    // (SemDeDup/DoReMi shape). Runs the deterministic exact-integer
    // Lloyd twin (Clustering.lloydAssign: IVF-convention init, 2
    // centroid updates, all-integer arithmetic) so the whole
    // clustering replays as a SQL oracle; the seeded mllib fit
    // (kmeansAssign) stays the production path, spec-covered on
    // separable fixtures.
    "q120_embed_clusters" -> ((s, dir) => {
      val assigned = Clustering.lloydAssign(table(s, dir, "embeddings"),
        "vec_id", "embedding", k = 8, iters = 2)
      Pin.untilUsed(assigned
        .groupBy(col("cluster")).agg(count(lit(1)).as("n"))
        .orderBy(col("cluster")), assigned)
    }),

    // SemDeDup (Clustering.semDedup): cluster first (8 deterministic
    // IVF-convention centroids so the whole verdict replays in SQL),
    // then flag cosine >= 0.95 against any lower-id vector WITHIN
    // the cluster. Injected exact copies (q80's corpus) are the
    // planted semantic dups; the clustering bounds the pair pass at
    // N²/k instead of N².
    "q124_semdedup" -> ((s, dir) => {
      Clustering.semDedup(withInjectedDups(s, dir), "vec_id", "embedding",
        nCentroids = 8, tau = 0.95)
        .orderBy(col("vec_id"))
    }),

    // Fixed-point Gramian of the embedding column — the Σ xxᵀ input
    // every offline PCA/whitening/linear-probe fit starts from,
    // as a pure aggregation (Gramian.gramAggregate): per-row element
    // pairs (upper triangle) floor to integer millionths BEFORE the
    // sum, so the 64×64 matrix is exact integers (partition-order
    // independent, SQL-replayable). Map-side partial agg collapses
    // the element-pair stream to ≤ 2080 keys per partition; the
    // shuffle moves 2080 keys, never N·d² rows. At extreme d the
    // per-partition BLAS twin (Gramian.gramBlas, GramianSpec-pinned
    // exact-integer-equal) removes the Generate constant factor; the
    // aggregate form stays the declarative oracle contract.
    "q142_embed_gram" -> ((s, dir) => {
      graft.similarity.Gramian
        .gramAggregate(table(s, dir, "embeddings"), "embedding")
        .orderBy(col("i"), col("j"))
    }),

    // Hard-negative mining, brute baseline: top-3 most similar
    // DIFFERENT-label vectors per query (bounded query slice; the
    // contrastive-training pair generator).
    "q137_hard_negatives" -> ((s, dir) => {
      val emb = table(s, dir, "embeddings")
      Ann.hardNegatives(emb, emb.filter(col("vec_id") < 30), "vec_id",
        "embedding", "label", k = 3)
        .orderBy(col("query_id"), col("rank"))
    }),

    // Hard-negative mining, LSH scale path: same contract bucketed
    // by RHP signature — candidates equi-join on the bucket, never
    // the cross product; the whole pass (signature included)
    // replays in SQL.
    "q138_hard_negatives_lsh" -> ((s, dir) => {
      Ann.hardNegativesLsh(table(s, dir, "embeddings"), "vec_id",
        "embedding", "label", planes = 8, k = 3)
        .orderBy(col("query_id"), col("rank"))
    }),

    // Product-quantization ANN (Pq.adcTopK): 4 subspaces × 4-centroid
    // exact-integer codebooks (one Lloyd loop over all subspaces at
    // once), vectors encoded to 4 codes, queries scored by ADC — the
    // compressed-index shape where the candidate scan reads m BYTES
    // per vector and the codebook/distance tables broadcast, which is
    // what makes embedding search tractable when the raw vectors are
    // 100 TB. Training included, the whole pass replays in SQL.
    "q158_ann_pq" -> ((s, dir) => {
      val emb = table(s, dir, "embeddings")
      Pq.adcTopK(emb, "vec_id", "embedding",
        queries = emb.filter(col("vec_id") >= 20 && col("vec_id") < 40),
        dim = 64, m = 4, k = 4, iters = 2, topK = 5)
        .orderBy(col("query_id"), col("rank"))
    }),

    // IVF index staleness meter — the health readout for the
    // incremental-append path (IndexStore.appendIvf): new batches
    // take the FROZEN centroids, so as the distribution drifts the
    // assigned-cluster radius (1 − cos to the owning centroid)
    // grows. Fixture: a +0.25-per-component drifted copy of
    // vec_id<100 assigned via Ann.ivfAssign; per centroid, base vs
    // appended member counts and mean radius (floor e6 per row,
    // exact integer mean). A widening gap is the retrain signal.
    "q246_ivf_staleness" -> ((s, dir) => {
      val e = table(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding"))
      val (cents, assigned) = Ann.ivfIndex(e, "vec_id", "embedding",
        nCentroids = 8)
      val drifted = e.filter(col("vec_id") < 100)
        .select((col("vec_id") + 700001L).as("vec_id"),
          transform(col("embedding"), x => x + lit(0.25f)).as("embedding"))
      val fresh = Ann.ivfAssign(cents, drifted, "vec_id", "embedding")
      def meter(a: DataFrame, tag: String) = a
        .join(broadcast(cents), "cent_id")
        .withColumn("__r_e6", floor(greatest(lit(0.0),
          lit(1.0) - Ann.dot(col("v"), col("cv")) / (col("vn") * col("cn")))
          * 1000000.0).cast("long"))
        .groupBy(col("cent_id"))
        .agg(count(lit(1)).as(s"n_$tag"),
          expr("cast(sum(cast(__r_e6 as decimal(38,0))) div count(1) " +
            "as bigint)").as(s"mean_radius_${tag}_e6"))
      Pin.untilUsed(meter(assigned, "base")
        .join(meter(fresh, "new"), Seq("cent_id"), "left")
        .select(col("cent_id").cast("long").as("cent_id"), col("n_base"),
          col("mean_radius_base_e6"),
          coalesce(col("n_new"), lit(0L)).as("n_new"),
          col("mean_radius_new_e6"))
        .orderBy(col("cent_id")), assigned)
    })
  )

  private def cosSql(a: String, b: String): String =
    s"round(list_dot_product($a, $b) / " +
      s"(sqrt(list_dot_product($a, $a)) * sqrt(list_dot_product($b, $b))), 6)"

  /** q79's IVF CTE chain (centroid assign → probe → candidate →
    * rank), reused verbatim by the q112 recall report.
    */
  private val ivfCtes =
    s"""$cosineCte,
       |cents AS (SELECT vec_id AS cent_id, v AS cv FROM e
       |          WHERE vec_id < 8),
       |ac AS (
       |  SELECT e.vec_id, c.cent_id, ${cosSql("e.v", "c.cv")} AS ccos
       |  FROM e CROSS JOIN cents c),
       |assigned AS (
       |  SELECT vec_id AS neighbor_id, cent_id FROM (
       |    SELECT vec_id, cent_id, row_number() OVER (PARTITION BY vec_id
       |      ORDER BY ccos DESC, cent_id) AS rn FROM ac)
       |  WHERE rn = 1),
       |probes AS (
       |  SELECT vec_id AS query_id, cent_id FROM (
       |    SELECT vec_id, cent_id, row_number() OVER (PARTITION BY vec_id
       |      ORDER BY ccos DESC, cent_id) AS rn
       |    FROM ac WHERE vec_id >= 20 AND vec_id < 40)
       |  WHERE rn <= 2),
       |cand AS (
       |  SELECT p.query_id, a.neighbor_id
       |  FROM probes p JOIN assigned a ON p.cent_id = a.cent_id
       |  WHERE p.query_id != a.neighbor_id),
       |s AS (
       |  SELECT cand.query_id, cand.neighbor_id,
       |    ${cosSql("q.v", "n.v")} AS cos
       |  FROM cand JOIN e q ON cand.query_id = q.vec_id
       |            JOIN e n ON cand.neighbor_id = n.vec_id),
       |r AS (SELECT *, cast(row_number() OVER (PARTITION BY query_id
       |        ORDER BY cos DESC, neighbor_id) as int) AS rank FROM s)""".stripMargin

  /** Exact-integer Lloyd replay (q120): one quantization, then pure
    * integer assign/update rounds — `//` truncates like Spark's
    * `div`, so no float boundary exists. Dim fixed at 64 (both SFs;
    * DuckDB range() rejects lateral len() args).
    */
  private def lloydCtes(k: Int, iters: Int): String = {
    def assign(n: Int, c: String) =
      s"""a$n AS (SELECT q.id, $c.cid AS cluster, q.qv,
         |  cast(list_sum(list_transform(range(1, 65),
         |    i -> (q.qv[i] - $c.cq[i]) * (q.qv[i] - $c.cq[i])))
         |    AS BIGINT) AS d
         |FROM q CROSS JOIN $c
         |QUALIFY row_number() OVER (PARTITION BY q.id
         |  ORDER BY d, $c.cid) = 1)""".stripMargin
    def update(n: Int) =
      s"""c$n AS (SELECT cluster AS cid, list(m ORDER BY pos) AS cq
         |FROM (SELECT cluster, i.range AS pos,
         |        cast(sum(qv[i.range]) AS BIGINT) // count(*) AS m
         |      FROM a$n CROSS JOIN range(1, 65) i
         |      GROUP BY cluster, i.range)
         |GROUP BY cluster)""".stripMargin
    val rounds = (1 to iters).map(n => s"${assign(n, s"c${n - 1}")},\n${update(n)}")
    (s"""q AS (SELECT vec_id AS id,
        |  list_transform(embedding,
        |    x -> cast(floor(x::DOUBLE * 1000000.0) AS BIGINT)) AS qv
        |FROM embeddings),
        |c0 AS (SELECT cast(id AS INT) AS cid, qv AS cq FROM q
        |       WHERE id < $k)""".stripMargin
      +: rounds :+ assign(iters + 1, s"c$iters")).mkString(",\n")
  }

  /** PQ replay (q158): the q120 Lloyd arithmetic with the subspace id
    * as an extra grouping key, then codes + ADC. subDim fixed at 16
    * (dim 64 / m 4; DuckDB range() rejects lateral len() args).
    */
  private def pqCtes(m: Int, k: Int, iters: Int, subDim: Int): String = {
    val up = subDim + 1
    def assign(n: Int, c: String) =
      s"""a$n AS (SELECT p.id, p.s, c.cid, p.v,
         |  cast(list_sum(list_transform(range(1, $up),
         |    i -> (p.v[i] - c.cq[i]) * (p.v[i] - c.cq[i])))
         |    AS BIGINT) AS d
         |FROM sub p JOIN $c c ON p.s = c.s
         |QUALIFY row_number() OVER (PARTITION BY p.id, p.s
         |  ORDER BY d, c.cid) = 1)""".stripMargin
    def update(n: Int) =
      s"""c$n AS (SELECT s, cid, list(m ORDER BY pos) AS cq
         |FROM (SELECT s, cid, i.range AS pos,
         |        cast(sum(v[i.range]) AS BIGINT) // count(*) AS m
         |      FROM a$n CROSS JOIN range(1, $up) i
         |      GROUP BY s, cid, i.range)
         |GROUP BY s, cid)""".stripMargin
    val rounds = (1 to iters).map(n => s"${assign(n, s"c${n - 1}")},\n${update(n)}")
    (s"""q AS (SELECT vec_id AS id,
        |  list_transform(embedding,
        |    x -> cast(floor(x::DOUBLE * 1000000.0) AS BIGINT)) AS qv
        |FROM embeddings),
        |sub AS (SELECT id, cast(s.range AS INT) AS s,
        |          qv[$subDim * s.range + 1 : $subDim * s.range + $subDim] AS v
        |        FROM q CROSS JOIN range(0, $m) s),
        |c0 AS (SELECT s, cast(id AS INT) AS cid, v AS cq FROM sub
        |       WHERE id < $k)""".stripMargin
      +: rounds :+ assign(iters + 1, s"c$iters")).mkString(",\n")
  }

  /** Unrolled MMR pick chain: pick i joins the max-sim against the
    * union of picks 1..i−1 (each a MATERIALIZED 1-row CTE — the
    * DuckDB CTE-inlining lesson, PERF.md r11). Integer score10 =
    * 7·rel − 3·maxsim with the id tiebreak, exactly the kernel.
    */
  private def mmrOracle(k: Int): String = {
    val base =
      """e AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v
        |      FROM embeddings),
        |q AS (SELECT v AS qv, sqrt(list_dot_product(v, v)) AS qn
        |      FROM e WHERE vec_id = 0),
        |cand AS MATERIALIZED (
        |  SELECT e.vec_id AS id,
        |    CAST(floor(1000000.0 * list_dot_product(e.v, q.qv)
        |      / (sqrt(list_dot_product(e.v, e.v)) * q.qn)) AS BIGINT)
        |      AS rel_e6,
        |    e.v
        |  FROM e, q WHERE e.vec_id != 0
        |  ORDER BY rel_e6 DESC, id LIMIT 30),
        |sims AS MATERIALIZED (
        |  SELECT a.id AS id_a, b.id AS id_b,
        |    CAST(floor(1000000.0 * list_dot_product(a.v, b.v)
        |      / (sqrt(list_dot_product(a.v, a.v))
        |         * sqrt(list_dot_product(b.v, b.v)))) AS BIGINT) AS sim_e6
        |  FROM cand a JOIN cand b ON a.id != b.id)""".stripMargin
    val picks = (1 to k).map { i =>
      if (i == 1)
        """p1 AS MATERIALIZED (
          |  SELECT id, rel_e6, CAST(0 AS BIGINT) AS maxsim_e6,
          |    CAST(7 * rel_e6 AS BIGINT) AS score10_e6
          |  FROM cand ORDER BY score10_e6 DESC, id LIMIT 1)""".stripMargin
      else {
        val sel = (1 until i).map(j => s"SELECT id FROM p$j")
          .mkString(" UNION ALL ")
        s"""p$i AS MATERIALIZED (
           |  SELECT c.id, c.rel_e6,
           |    CAST(max(s.sim_e6) AS BIGINT) AS maxsim_e6,
           |    CAST(7 * c.rel_e6 - 3 * max(s.sim_e6) AS BIGINT)
           |      AS score10_e6
           |  FROM cand c JOIN sims s ON s.id_a = c.id
           |    AND s.id_b IN ($sel)
           |  WHERE c.id NOT IN ($sel)
           |  GROUP BY c.id, c.rel_e6
           |  ORDER BY score10_e6 DESC, c.id LIMIT 1)""".stripMargin
      }
    }
    val out = (1 to k).map(i =>
      s"SELECT CAST($i AS BIGINT) AS rank, id, rel_e6, maxsim_e6," +
        s" score10_e6 FROM p$i").mkString("\nUNION ALL\n")
    s"WITH $base,\n${picks.mkString(",\n")}\n$out\nORDER BY rank"
  }

  def oracles: Map[String, String] = Map(
    "q205_mmr_rerank" -> mmrOracle(8),
    "q172_rrf_hybrid" ->
      s"""WITH ${Fragments.bm25ScoresSql(Seq("hash", "join", "vector"))},
         |e AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v
         |      FROM embeddings),
         |qv AS (SELECT v AS q FROM e WHERE vec_id = 0),
         |dn AS (SELECT e.vec_id AS doc_id,
         |  round(list_dot_product(q, v) /
         |    (sqrt(list_dot_product(q, q)) * sqrt(list_dot_product(v, v))),
         |    6) AS cos
         |  FROM e, qv WHERE e.vec_id != 0),
         |sr AS (SELECT doc_id, CAST(row_number() OVER (
         |    ORDER BY bm25 DESC, doc_id) AS INT) AS rank_sparse FROM bm),
         |dr AS (SELECT doc_id, CAST(row_number() OVER (
         |    ORDER BY cos DESC, doc_id) AS INT) AS rank_dense FROM dn),
         |f AS (SELECT COALESCE(sr.doc_id, dr.doc_id) AS doc_id,
         |    rank_sparse, rank_dense,
         |    COALESCE(1000000000 // (60 + rank_sparse), 0)
         |      + COALESCE(1000000000 // (60 + rank_dense), 0) AS rrf_e9
         |  FROM sr FULL OUTER JOIN dr ON sr.doc_id = dr.doc_id)
         |SELECT doc_id, rank_sparse, rank_dense,
         |  CAST(rrf_e9 AS BIGINT) AS rrf_e9
         |FROM f ORDER BY rrf_e9 DESC, doc_id LIMIT 20""".stripMargin,
    "q158_ann_pq" ->
      s"""WITH ${pqCtes(m = 4, k = 4, iters = 2, subDim = 16)},
         |qdt AS (SELECT p.id AS query_id, p.s, c.cid,
         |    cast(list_sum(list_transform(range(1, 17),
         |      i -> (p.v[i] - c.cq[i]) * (p.v[i] - c.cq[i])))
         |      AS BIGINT) AS d
         |  FROM sub p JOIN c2 c ON p.s = c.s
         |  WHERE p.id >= 20 AND p.id < 40),
         |adc AS (SELECT t.query_id, codes.id AS neighbor_id,
         |    cast(sum(t.d) AS BIGINT) AS adist
         |  FROM a3 codes JOIN qdt t ON codes.s = t.s AND codes.cid = t.cid
         |  WHERE codes.id != t.query_id
         |  GROUP BY t.query_id, codes.id),
         |r AS (SELECT *, cast(row_number() OVER (PARTITION BY query_id
         |        ORDER BY adist, neighbor_id) AS INT) AS rank FROM adc)
         |SELECT query_id, neighbor_id, adist, rank FROM r
         |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin,
    "q120_embed_clusters" ->
      s"""WITH ${lloydCtes(k = 8, iters = 2)}
         |SELECT cluster, cast(count(*) AS BIGINT) AS n
         |FROM a3 GROUP BY cluster ORDER BY cluster""".stripMargin,
    // generate_series(1, 64): DuckDB table functions reject lateral
    // len(v) parameters; the embedding dim is fixed at 64 (both SFs).
    "q142_embed_gram" ->
      """WITH e AS (SELECT list_transform(embedding, x -> x::DOUBLE) AS v
        |           FROM embeddings),
        |p AS (SELECT i.i - 1 AS i, j.j - 1 AS j,
        |        CAST(floor(1e6 * (v[i.i] * v[j.j])) AS BIGINT) AS g
        |      FROM e,
        |        generate_series(1, 64) AS i(i),
        |        generate_series(1, 64) AS j(j)
        |      WHERE j.j >= i.i)
        |SELECT CAST(i AS INT) AS i, CAST(j AS INT) AS j,
        |       CAST(sum(g) AS BIGINT) AS gram_fx
        |FROM p GROUP BY i, j ORDER BY i, j""".stripMargin,
    "q137_hard_negatives" ->
      s"""WITH e2 AS (SELECT vec_id, label,
         |  list_transform(embedding, x -> x::DOUBLE) AS v FROM embeddings),
         |s AS (SELECT q.vec_id AS query_id, n.vec_id AS neighbor_id,
         |        ${cosSql("q.v", "n.v")} AS cos
         |      FROM e2 q JOIN e2 n ON q.label <> n.label
         |      WHERE q.vec_id < 30),
         |r AS (SELECT *, cast(row_number() OVER (PARTITION BY query_id
         |        ORDER BY cos DESC, neighbor_id) as int) AS rank FROM s)
         |SELECT query_id, neighbor_id, cos, rank FROM r WHERE rank <= 3
         |ORDER BY query_id, rank""".stripMargin,
    "q138_hard_negatives_lsh" ->
      s"""WITH e2 AS (SELECT vec_id, label,
         |  list_transform(embedding, x -> x::DOUBLE) AS v FROM embeddings),
         |sig AS (SELECT vec_id, label, v, ${Fragments.rhpSigSql(8, "v")} AS sig
         |        FROM e2),
         |s AS (SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
         |        ${cosSql("a.v", "b.v")} AS cos
         |      FROM sig a JOIN sig b
         |        ON a.sig = b.sig AND a.label <> b.label),
         |r AS (SELECT *, cast(row_number() OVER (PARTITION BY query_id
         |        ORDER BY cos DESC, neighbor_id) as int) AS rank FROM s)
         |SELECT query_id, neighbor_id, cos, rank FROM r WHERE rank <= 3
         |ORDER BY query_id, rank""".stripMargin,
    "q79_ann_ivf" ->
      s"""WITH $ivfCtes
         |SELECT query_id, neighbor_id, cos, rank
         |FROM r WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin,
    "q112_ann_recall" ->
      s"""WITH $ivfCtes,
         |ivtop AS (SELECT query_id, neighbor_id FROM r WHERE rank <= 5),
         |bq AS (SELECT * FROM e WHERE vec_id >= 20 AND vec_id < 40),
         |bs AS (SELECT bq.vec_id AS query_id, e.vec_id AS neighbor_id,
         |  ${cosSql("bq.v", "e.v")} AS cos
         |  FROM bq CROSS JOIN e WHERE bq.vec_id != e.vec_id),
         |br AS (SELECT *, row_number() OVER (PARTITION BY query_id
         |        ORDER BY cos DESC, neighbor_id) AS rank FROM bs),
         |btop AS (SELECT query_id, neighbor_id FROM br WHERE rank <= 5)
         |SELECT b.query_id,
         |  cast(sum(CASE WHEN iv.neighbor_id IS NOT NULL
         |           THEN 1 ELSE 0 END) as bigint) AS n_hits
         |FROM btop b LEFT JOIN ivtop iv
         |  ON b.query_id = iv.query_id AND b.neighbor_id = iv.neighbor_id
         |GROUP BY b.query_id ORDER BY b.query_id""".stripMargin,
    "q80_embed_dup" ->
      s"""WITH u AS (
         |  SELECT vec_id, embedding FROM embeddings
         |  UNION ALL
         |  SELECT vec_id + 100000, embedding FROM embeddings
         |  WHERE vec_id < 20
         |  UNION ALL
         |  SELECT vec_id + 200000, embedding FROM embeddings
         |  WHERE vec_id < 20),
         |e AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v
         |      FROM u),
         |s AS (
         |  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         |    ${cosSql("a.v", "b.v")} AS cos
         |  FROM e a JOIN e b ON a.vec_id < b.vec_id)
         |SELECT id_a, id_b, cos FROM s
         |WHERE cos >= 0.99 ORDER BY id_a, id_b""".stripMargin,
    // sequential RHP-bucket replay: within-batch exact-vector
    // collapse, survivor chain under the shared-signature +
    // cosine>=0.99 rule
    "q242_vec_registry" ->
      s"""WITH u AS (
         |  SELECT vec_id, embedding FROM embeddings
         |  UNION ALL
         |  SELECT vec_id + 100001, embedding FROM embeddings
         |  WHERE vec_id < 20),
         |e AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v
         |      FROM u),
         |sb AS (SELECT vec_id, v, CAST(vec_id % 3 AS INT) AS b FROM e),
         |rep AS (SELECT b, v, min(vec_id) AS vec_id
         |        FROM sb GROUP BY b, v),
         |sg AS (SELECT b, vec_id, v, ${Fragments.rhpSigSql(16, "v")} AS sig
         |       FROM rep),
         |s0 AS (SELECT vec_id, v, sig FROM sg WHERE b = 0),
         |s1 AS (SELECT r.vec_id, r.v, r.sig FROM sg r
         |       WHERE r.b = 1 AND NOT EXISTS (
         |         SELECT 1 FROM s0 g WHERE g.sig = r.sig
         |           AND ${cosSql("g.v", "r.v")} >= 0.99)),
         |reg2 AS (SELECT * FROM s0 UNION ALL SELECT * FROM s1),
         |s2 AS (SELECT r.vec_id, r.v, r.sig FROM sg r
         |       WHERE r.b = 2 AND NOT EXISTS (
         |         SELECT 1 FROM reg2 g WHERE g.sig = r.sig
         |           AND ${cosSql("g.v", "r.v")} >= 0.99)),
         |i AS (SELECT CAST(vec_id % 3 AS INT) AS batch_no,
         |        count(*) AS n_in
         |      FROM u GROUP BY 1),
         |k AS (SELECT 0 AS batch_no, count(*) AS n_kept FROM s0
         |      UNION ALL SELECT 1, count(*) FROM s1
         |      UNION ALL SELECT 2, count(*) FROM s2)
         |SELECT i.batch_no, CAST(i.n_in AS BIGINT) AS n_in,
         |  CAST(k.n_kept AS BIGINT) AS n_kept
         |FROM i JOIN k ON i.batch_no = k.batch_no
         |ORDER BY i.batch_no""".stripMargin,
    // phase replay: batch 0 probes an empty registry (within-batch
    // exact collapse only), the stored rows re-sign at 16 planes
    // (rekey), batch 1 probes the re-signed registry at 16
    "q247_vec_rekey" ->
      s"""WITH u AS (
         |  SELECT vec_id, embedding FROM embeddings
         |  UNION ALL
         |  SELECT vec_id + 100001, embedding FROM embeddings
         |  WHERE vec_id < 20),
         |e AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v
         |      FROM u),
         |sb AS (SELECT vec_id, v, CAST(vec_id % 2 AS INT) AS b FROM e),
         |rep AS (SELECT b, v, min(vec_id) AS vec_id
         |        FROM sb GROUP BY b, v),
         |k0 AS (SELECT vec_id, v FROM rep WHERE b = 0),
         |r16 AS (SELECT vec_id, v, ${Fragments.rhpSigSql(16, "v")} AS sig
         |        FROM k0),
         |p1 AS (SELECT vec_id, v, ${Fragments.rhpSigSql(16, "v")} AS sig
         |       FROM rep WHERE b = 1),
         |k1 AS (SELECT r.vec_id FROM p1 r WHERE NOT EXISTS (
         |         SELECT 1 FROM r16 g WHERE g.sig = r.sig
         |           AND ${cosSql("g.v", "r.v")} >= 0.99)),
         |i AS (SELECT CAST(vec_id % 2 AS INT) AS batch_no,
         |        count(*) AS n_in
         |      FROM u GROUP BY 1),
         |k AS (SELECT 0 AS batch_no, count(*) AS n_kept FROM k0
         |      UNION ALL SELECT 1, count(*) FROM k1)
         |SELECT i.batch_no, CAST(i.n_in AS BIGINT) AS n_in,
         |  CAST(k.n_kept AS BIGINT) AS n_kept
         |FROM i JOIN k ON i.batch_no = k.batch_no
         |ORDER BY i.batch_no""".stripMargin,
    "q100_embed_dup_lsh" ->
      s"""WITH u AS (
         |  SELECT vec_id, embedding FROM embeddings
         |  UNION ALL
         |  SELECT vec_id + 100000, embedding FROM embeddings
         |  WHERE vec_id < 20
         |  UNION ALL
         |  SELECT vec_id + 200000, embedding FROM embeddings
         |  WHERE vec_id < 20),
         |e AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v
         |      FROM u),
         |sig AS (SELECT vec_id, v, ${Fragments.rhpSigSql(8, "v")} AS sig
         |        FROM e),
         |s AS (
         |  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         |    ${cosSql("a.v", "b.v")} AS cos
         |  FROM sig a JOIN sig b ON a.sig = b.sig AND a.vec_id < b.vec_id)
         |SELECT id_a, id_b, cos FROM s
         |WHERE cos >= 0.99 ORDER BY id_a, id_b""".stripMargin,
    "q124_semdedup" ->
      s"""WITH u AS (
         |  SELECT vec_id, embedding FROM embeddings
         |  UNION ALL
         |  SELECT vec_id + 100000, embedding FROM embeddings
         |  WHERE vec_id < 20
         |  UNION ALL
         |  SELECT vec_id + 200000, embedding FROM embeddings
         |  WHERE vec_id < 20),
         |e AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v
         |      FROM u),
         |cents AS (SELECT vec_id AS cent_id, v AS cv FROM e
         |          WHERE vec_id < 8),
         |ac AS (
         |  SELECT e.vec_id, c.cent_id, ${cosSql("e.v", "c.cv")} AS ccos
         |  FROM e CROSS JOIN cents c),
         |assigned AS (
         |  SELECT vec_id, cent_id AS cluster FROM (
         |    SELECT vec_id, cent_id, row_number() OVER (PARTITION BY vec_id
         |      ORDER BY ccos DESC, cent_id) AS rn FROM ac)
         |  WHERE rn = 1),
         |av AS (SELECT a.vec_id, a.cluster, e.v
         |       FROM assigned a JOIN e USING (vec_id)),
         |d AS (SELECT DISTINCT x.vec_id FROM av x JOIN av y
         |        ON x.cluster = y.cluster AND y.vec_id < x.vec_id
         |      WHERE ${cosSql("x.v", "y.v")} >= 0.95)
         |SELECT av.vec_id, av.cluster AS cluster,
         |  av.vec_id IN (SELECT vec_id FROM d) AS is_dup
         |FROM av ORDER BY av.vec_id""".stripMargin,
    "q103_knn_classify" ->
      s"""WITH $cosineCte,
         |q AS (SELECT * FROM e WHERE vec_id >= 20 AND vec_id < 40),
         |s AS (SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
         |  ${cosSql("q.v", "e.v")} AS cos
         |  FROM q CROSS JOIN e WHERE q.vec_id != e.vec_id),
         |r AS (SELECT *, row_number() OVER (PARTITION BY query_id
         |        ORDER BY cos DESC, neighbor_id) AS rank FROM s),
         |topk AS (SELECT query_id, neighbor_id FROM r WHERE rank <= 5),
         |votes AS (
         |  SELECT t.query_id, emb.label,
         |         cast(count(*) as bigint) AS votes
         |  FROM topk t JOIN embeddings emb ON t.neighbor_id = emb.vec_id
         |  GROUP BY t.query_id, emb.label),
         |win AS (SELECT *, row_number() OVER (PARTITION BY query_id
         |          ORDER BY votes DESC, label) AS rn FROM votes)
         |SELECT query_id, label AS pred_label, votes
         |FROM win WHERE rn = 1 ORDER BY query_id""".stripMargin,
    // base/appended assignment replay (argmax rounded cos, the q79
    // rule) + per-row floor-e6 radius, exact integer means. The
    // drifted copy adds 0.25 per component in FLOAT arithmetic
    // before widening to double, matching the Spark float add.
    "q246_ivf_staleness" -> {
      def assign(src: String) =
        s"""SELECT vec_id, cent_id, v FROM (
           |  SELECT s.vec_id, c.cent_id, s.v,
           |    row_number() OVER (PARTITION BY s.vec_id
           |      ORDER BY ${cosSql("s.v", "c.cv")} DESC, c.cent_id) AS rn
           |  FROM $src s CROSS JOIN cents c) WHERE rn = 1""".stripMargin
      def radius(a: String) =
        s"""SELECT a.cent_id, count(*) AS n,
           |  CAST(sum(CAST(floor(greatest(0.0,
           |      1.0 - list_dot_product(a.v, c.cv) /
           |        (sqrt(list_dot_product(a.v, a.v))
           |         * sqrt(list_dot_product(c.cv, c.cv)))) * 1000000)
           |    AS HUGEINT)) // count(*) AS BIGINT) AS mr
           |FROM $a a JOIN cents c USING (cent_id) GROUP BY a.cent_id""".stripMargin
      s"""WITH $cosineCte,
         |cents AS (SELECT vec_id AS cent_id, v AS cv FROM e
         |          WHERE vec_id < 8),
         |d AS (SELECT vec_id + 700001 AS vec_id,
         |        list_transform(embedding,
         |          x -> ((x + 0.25::FLOAT)::FLOAT)::DOUBLE) AS v
         |      FROM embeddings WHERE vec_id < 100),
         |ab AS MATERIALIZED (${assign("e")}),
         |an AS MATERIALIZED (${assign("d")}),
         |mb AS (${radius("ab")}),
         |mn AS (${radius("an")})
         |SELECT mb.cent_id, CAST(mb.n AS BIGINT) AS n_base,
         |  mb.mr AS mean_radius_base_e6,
         |  CAST(coalesce(mn.n, 0) AS BIGINT) AS n_new,
         |  mn.mr AS mean_radius_new_e6
         |FROM mb LEFT JOIN mn ON mb.cent_id = mn.cent_id
         |ORDER BY mb.cent_id""".stripMargin
    }
  )
}
