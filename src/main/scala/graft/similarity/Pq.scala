package graft.similarity

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.ops.Pin

/** Product quantization over an `Array[Float]` embedding column
  * (beyond-reference; the reference exports vectors for external
  * similarity tooling — NewsDeduplication.scala:48-71 — while modern
  * pipelines compress them in-engine so the candidate scan never
  * touches raw vectors).
  *
  * The vector is split into `m` subspaces; each subspace gets its own
  * `k`-centroid codebook (exact-integer Lloyd, the
  * [[Clustering.lloydAssign]] arithmetic: one `floor(x * quantScale)`
  * quantization, then pure long math — squared distances, truncating
  * `div` means, (dist, cid) argmin tie-breaks), and every vector is
  * encoded as `m` small codes. Query-time ADC (asymmetric distance
  * computation) scores a neighbor by summing, per subspace, the
  * query-to-centroid distance of the neighbor's code — the neighbor's
  * raw vector is never read.
  *
  * Why this is THE 100 TB similarity shape:
  *   - the codebook is m×k×(dim/m) longs — broadcast, never shuffled;
  *   - training runs all m subspaces in ONE Lloyd loop (subspace id
  *     is just another grouping key), so iteration cost is the same
  *     two shuffles as single-space k-means, not m× them;
  *   - the scan side carries only (id, m codes) — bytes per vector,
  *     not KB — and the ADC join is a broadcast equi-join on
  *     (subspace, code) against a |Q|·m·k-row distance table,
  *     collapsed map-side by partial aggregation on (query, id);
  *   - every arithmetic step is exact integer, so the whole pass
  *     (training included) replays as a SQL oracle — no seeded-fit
  *     rows-only compromise.
  */
object Pq {

  /** Quantized subvector table: (__id, __s, __qv) — one row per
    * (vector, subspace), `__qv` the integer-quantized slice.
    */
  private def subvectors(embeddings: DataFrame, idCol: String,
      vecCol: String, m: Int, subDim: Int, quantScale: Double): DataFrame =
    embeddings.select(col(idCol).as("__id"),
      transform(col(vecCol),
        x => floor(x.cast("double") * quantScale).cast("long")).as("__q"))
      .select(col("__id"), explode(
        transform(sequence(lit(0), lit(m - 1)), s => struct(
          s.cast("int").as("s"),
          slice(col("__q"), s * lit(subDim) + 1, lit(subDim)).as("qv")))).as("e"))
      .select(col("__id"), col("e.s").as("__s"), col("e.qv").as("__qv"))

  /** One assignment pass: nearest centroid per (vector, subspace),
    * argmin tie-broken by (dist, cid). `cents` is tiny (m·k rows) and
    * broadcast; the join is an equi-join on the subspace id.
    */
  private def assign(sub: DataFrame, cents: DataFrame): DataFrame =
    // argmin as a partial-aggregatable min(struct) instead of a
    // row_number window (r16, guide §2.3): the map side collapses
    // the k candidates per (vector, subspace) BEFORE the exchange,
    // so the shuffle carries 1/k of the rows and no sort runs. The
    // struct compares (dist, cid) first — exactly the window's
    // (dist asc, cid asc) tie rule; cid is unique per group so the
    // trailing payload never decides.
    sub.join(broadcast(cents), "__s")
      .withColumn("__dist", sqDist(col("__qv"), col("__cq")))
      .groupBy(col("__id"), col("__s"))
      .agg(min(struct(col("__dist"), col("__cid"), col("__qv")))
        .as("__w"))
      .select(col("__id"), col("__s"), col("__w.__cid").as("__cid"),
        col("__w.__qv").as("__qv"))

  /** Compiled exact-integer squared distance (the HOF expression form
    * runs interpreted per pair — PERF r7's q140 lesson).
    */
  private val sqDist = udf { (a: Seq[Long], b: Seq[Long]) =>
    var s = 0L; var i = 0
    val n = math.min(a.length, b.length)
    while (i < n) { val d = a(i) - b(i); s += d * d; i += 1 }
    s
  }

  /** Train codebooks and encode the corpus in one pass.
    *
    * Returns (codebooks, codes):
    *   codebooks — (__s, __cid, __cq): m·k rows, the trained centroids;
    *   codes     — (__id, __s, __cid): m rows per vector, persisted.
    *
    * Init follows the IVF convention (centroid j of every subspace is
    * vector j's slice, j < k — ids 0..k-1 must exist), then `iters`
    * exact-integer centroid updates. An emptied centroid drops out of
    * the codebook, exactly as in [[Clustering.lloydAssign]].
    */
  def trainEncode(embeddings: DataFrame, idCol: String, vecCol: String,
      dim: Int, m: Int, k: Int, iters: Int,
      quantScale: Double = 1e6): (DataFrame, DataFrame) = {
    require(dim % m == 0, s"dim=$dim not divisible by m=$m subspaces")
    require(embeddings.schema(idCol).dataType.isInstanceOf[
      org.apache.spark.sql.types.NumericType],
      s"Pq needs a numeric id column, got $idCol")
    val subDim = dim / m
    val sub = Pin.cache(
      subvectors(embeddings, idCol, vecCol, m, subDim, quantScale),
      eager = true)
    val init = sub.filter(col("__id") < k)
      .select(col("__s"), col("__id").cast("int").as("__cid"),
        col("__qv").as("__cq"))
    require(init.count() == m.toLong * k,
      s"IVF-convention init needs ids 0..${k - 1} present")
    var cents = init
    for (i <- 1 to iters) {
      // each round's m·k-row codebook is cut so the next round's
      // broadcast doesn't re-run the whole previous round twice (a
      // local checkpoint of a tiny table; same role as q120's cache);
      // loop scope releases the round before
      val round = assign(sub, cents)
        .select(col("__s"), col("__cid"), posexplode(col("__qv")))
        .groupBy(col("__s"), col("__cid"), col("pos"))
        .agg(sum(col("col")).as("__sum"), count(lit(1)).as("__n"))
        .withColumn("__m", expr("__sum div __n"))
        .groupBy(col("__s"), col("__cid"))
        .agg(transform(
          array_sort(collect_list(struct(col("pos"), col("__m")))),
          s => s.getField("__m")).as("__cq"))
      cents = if (i == 1) Pin.cut(round) else Pin.next(cents)(Pin.cut(round))
    }
    // filled before the subvector cache is released; the caller
    // releases both codebooks and codes
    val codes = Pin.cache(
      assign(sub, cents).select(col("__id"), col("__s"), col("__cid")),
      eager = true)
    Pin.release(sub)
    (cents, codes)
  }

  /** Encode a batch with FROZEN codebooks — the incremental-index
    * path ([[IndexStore.appendPq]]): a corpus that grows daily must
    * not retrain per batch, so new vectors take the nearest centroid
    * of the SAVED codebooks, exactly the assignment [[trainEncode]]'s
    * final pass runs. Centroids drift from the ideal as the
    * distribution moves — the standard trade, measured by the
    * staleness meter — but probe results over appended codes equal a
    * rebuild that encodes everything with the same codebooks
    * (IndexStoreSpec pins it). Returns (__id, __s, __cid).
    */
  def encodeWith(cents: DataFrame, batch: DataFrame, idCol: String,
      vecCol: String, dim: Int, m: Int,
      quantScale: Double = 1e6): DataFrame = {
    require(dim % m == 0, s"dim=$dim not divisible by m=$m subspaces")
    assign(subvectors(batch, idCol, vecCol, m, dim / m, quantScale), cents)
      .select(col("__id"), col("__s"), col("__cid"))
  }

  /** ADC top-k: approximate nearest neighbors of each query vector,
    * scored as the sum over subspaces of the exact-integer distance
    * from the query's slice to the centroid the neighbor's code names.
    * Self-pairs are excluded; rank ties break by neighbor id.
    *
    * Output: (query_id, neighbor_id, adist, rank), rank <= topK.
    */
  def adcTopK(embeddings: DataFrame, idCol: String, vecCol: String,
      queries: DataFrame, dim: Int, m: Int, k: Int, iters: Int,
      topK: Int, quantScale: Double = 1e6): DataFrame = {
    val (cents, codes) =
      trainEncode(embeddings, idCol, vecCol, dim, m, k, iters, quantScale)
    val out = adcTopKWith(cents, codes, queries, idCol, vecCol,
      dim, m, topK, quantScale)
    Pin.untilUsed(out, codes, cents)
  }

  /** ADC top-k against a PREBUILT index — the probe path an offline
    * index artifact serves ([[IndexStore.savePq]]/[[IndexStore
    * .loadPq]]): `cents`/`codes` exactly as [[trainEncode]] returns
    * them (or as loaded back from parquet). The corpus' raw vectors
    * are never touched; only the code table scans.
    */
  def adcTopKWith(cents: DataFrame, codes: DataFrame,
      queries: DataFrame, idCol: String, vecCol: String, dim: Int,
      m: Int, topK: Int, quantScale: Double = 1e6): DataFrame = {
    val qsub = subvectors(queries, idCol, vecCol, m, dim / m, quantScale)
    // |Q|·m·k-row distance table — the per-query lookup tables ADC
    // reads instead of raw vectors; broadcast to the code scan.
    val qdt = qsub.join(broadcast(cents), "__s")
      .select(col("__id").as("query_id"), col("__s"), col("__cid"),
        sqDist(col("__qv"), col("__cq")).as("__d"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("adist"), col("neighbor_id"))
    codes.join(broadcast(qdt), Seq("__s", "__cid"))
      .filter(col("__id") =!= col("query_id"))
      .groupBy(col("query_id"), col("__id").as("neighbor_id"))
      .agg(sum(col("__d")).as("adist"))
      .withColumn("rank", row_number().over(w).cast("int"))
      .filter(col("rank") <= topK)
  }
}
