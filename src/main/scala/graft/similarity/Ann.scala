package graft.similarity

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.ops.Pin

/** Similarity search over embedding columns (training-data-pipeline
  * extension; the reference exports vectors for external similarity
  * dedup — NewsDeduplication.scala:48-71 — our engine computes it
  * in-engine).
  *
  * Scale path: brute-force cosine is the correctness baseline
  * (O(Q·N), fine for a bounded query set against a broadcastable
  * corpus slice); random-hyperplane LSH bucketing makes the
  * candidate set an equi-join so the all-pairs product never
  * materializes at 100 TB.
  */
object Ann {

  /** Element arithmetic in double — float32 accumulation drifts and
    * is engine-dependent; double is exactly reproducible.
    */
  private def asDouble(v: Column): Column =
    transform(v, x => x.cast("double"))

  /** Dot product via the native codegen expression
    * ([[graft.expressions.FloatDotProduct]]): participates in
    * whole-stage codegen and reads floats straight out of the unsafe
    * array representation. The equivalent higher-order-function form
    * runs interpreted per element and a Scala UDF pays a
    * Seq[Float] conversion per call — all three produce identical
    * doubles (same left-to-right IEEE accumulation).
    */
  def dot(a: Column, b: Column): Column = {
    import org.apache.spark.sql.GraftShim
    GraftShim.column(graft.expressions.FloatDotProduct(
      GraftShim.expression(a), GraftShim.expression(b)))
  }

  /** UDF form (kept for comparison benchmarks/specs). */
  private[graft] val dotUdf = udf { (a: Seq[Float], b: Seq[Float]) =>
    var acc = 0d
    var i = 0
    val n = math.min(a.length, b.length)
    while (i < n) {
      acc += a(i).toDouble * b(i).toDouble
      i += 1
    }
    acc
  }

  /** Expression form (for engines/tests that need a UDF-free plan). */
  def dotExpr(a: Column, b: Column): Column =
    aggregate(zip_with(asDouble(a), asDouble(b), (x, y) => x * y),
      lit(0d), (acc, v) => acc + v)

  def norm(a: Column): Column = sqrt(dot(a, a))

  def cosine(a: Column, b: Column): Column =
    dot(a, b) / (norm(a) * norm(b))

  /** Brute-force top-k cosine neighbors for each query vector.
    * `queries` is expected to be small (it is broadcast); the corpus
    * side streams. Deterministic: rounded score, id tiebreak.
    * Norms are computed once per vector before the pair join —
    * inside it they'd be recomputed per pair (O(Q·N) extra array
    * scans).
    */
  def cosineTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, k: Int, roundTo: Int = 6): DataFrame = {
    val q = broadcast(queries
      .select(col(idCol).as("query_id"), col(vecCol).as("qv"),
        norm(col(vecCol)).as("qn")))
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("cv"),
      norm(col(vecCol)).as("cn"))
    val scored = q.join(c, col("query_id") =!= col("neighbor_id"))
      .withColumn("cos",
        round(dot(col("qv"), col("cv")) / (col("qn") * col("cn")), roundTo))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("neighbor_id"))
    scored
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("cos"), col("rank"))
  }

  /** IVF-style ANN: assign every vector to its nearest of
    * `nCentroids` centroids (inverted file), then answer each query
    * by searching only the `nProbe` clusters whose centroids are
    * nearest to the query. Centroids here are the vectors with
    * `id < nCentroids` — a deterministic stand-in for a k-means fit
    * (the fit is offline at scale; assignment/probe logic is
    * identical) that keeps the whole operator reproducible by any
    * engine.
    *
    * Scale shape: centroids broadcast (they are k rows); assignment
    * is one scan of the corpus; the probe phase is an equi-join on
    * cluster id, so the candidate set is |corpus|·nProbe/nCentroids
    * per query instead of |corpus| — the standard IVF trade of
    * recall for a bounded shuffle.
    */
  def ivfTopK(corpus: DataFrame, idCol: String, vecCol: String,
      nCentroids: Int, nProbe: Int, queries: DataFrame, k: Int,
      roundTo: Int = 6): DataFrame = {
    val (cents, assigned) =
      ivfIndex(corpus, idCol, vecCol, nCentroids, roundTo)
    Pin.untilUsed(
      ivfProbe(cents, assigned, queries, idCol, vecCol, nProbe, k, roundTo),
      assigned)
  }

  /** Nearest-centroid ranking for an arbitrary vector table against
    * a broadcast (cent_id, cv, cn) centroid relation — shared by the
    * inverted-file build and the query probe.
    */
  private def nearestCents(vecs: DataFrame, idCol: String,
      vecCol: String, cents: DataFrame, outId: String, n: Int,
      roundTo: Int): DataFrame = {
    val w = Window.partitionBy(col(outId))
      .orderBy(col("__ccos").desc, col("cent_id"))
    vecs.select(col(idCol).as(outId), col(vecCol).as("v"),
        norm(col(vecCol)).as("vn"))
      .crossJoin(broadcast(cents))
      // rounded before ranking (like the final top-k): the rank
      // must not hinge on sub-ulp engine differences
      .withColumn("__ccos",
        round(dot(col("v"), col("cv")) / (col("vn") * col("cn")), roundTo))
      .withColumn("__cr", row_number().over(w))
      .filter(col("__cr") <= n)
      .select(col(outId), col("cent_id"), col("v"), col("vn"))
  }

  /** Build the IVF index: (centroids, inverted file). Centroids are
    * (cent_id, cv, cn) — the id<nCentroids convention; the inverted
    * file is one (neighbor_id, cent_id, v, vn) row per corpus
    * vector, a lazy cache the caller releases (read once per probed
    * cluster join). Both halves are what [[IndexStore.saveIvf]]
    * persists to parquet so the one corpus scan is paid offline, once.
    */
  def ivfIndex(corpus: DataFrame, idCol: String, vecCol: String,
      nCentroids: Int, roundTo: Int = 6): (DataFrame, DataFrame) = {
    val cents = corpus.filter(col(idCol) < nCentroids)
      .select(col(idCol).as("cent_id"), col(vecCol).as("cv"),
        norm(col(vecCol)).as("cn"))
    val assigned = Pin.cache(
      nearestCents(corpus, idCol, vecCol, cents, "neighbor_id", 1, roundTo))
    (cents, assigned)
  }

  /** Assign a batch to FROZEN centroids — the incremental-index path
    * ([[IndexStore.appendIvf]]): new vectors join the inverted file
    * under the nearest existing centroid (same rounded ranking as
    * the build), no retrain, no corpus rescan. Returns inverted-file
    * rows (neighbor_id, cent_id, v, vn).
    */
  def ivfAssign(cents: DataFrame, batch: DataFrame, idCol: String,
      vecCol: String, roundTo: Int = 6): DataFrame =
    nearestCents(batch, idCol, vecCol, cents, "neighbor_id", 1, roundTo)

  /** Probe a PREBUILT IVF index: rank each query's nProbe nearest
    * centroids, equi-join the probed clusters' inverted lists, score
    * and keep top-k. The corpus is never rescanned — `assigned` (as
    * built by [[ivfIndex]] or loaded by [[IndexStore.loadIvf]]) is
    * the only corpus-derived input.
    */
  def ivfProbe(cents: DataFrame, assigned: DataFrame,
      queries: DataFrame, idCol: String, vecCol: String, nProbe: Int,
      k: Int, roundTo: Int = 6): DataFrame = {
    val probes =
      nearestCents(queries, idCol, vecCol, cents, "query_id", nProbe, roundTo)
        .select(col("query_id"), col("cent_id"),
          col("v").as("qv"), col("vn").as("qn"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("neighbor_id"))
    probes.join(assigned, "cent_id")
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("cos",
        round(dot(col("qv"), col("v")) / (col("qn") * col("vn")), roundTo))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("cos"), col("rank"))
  }

  /** Embedding-cosine near-duplicate pairs: every (a < b) pair with
    * rounded cosine at or above `threshold`. This is the exact
    * (all-pairs) form — the correctness baseline an LSH/IVF
    * candidate pass ([[lshTopK]]/[[ivfTopK]]) must be measured
    * against; at 100 TB run those first and apply this scoring only
    * inside candidate buckets.
    */
  def cosineDupPairs(corpus: DataFrame, idCol: String, vecCol: String,
      threshold: Double, roundTo: Int = 6): DataFrame = {
    // filled once; both self-join sides read it
    val side = Pin.cache(corpus.select(col(idCol), col(vecCol),
      norm(col(vecCol)).as("nrm")), eager = true)
    val a = side.select(col(idCol).as("id_a"), col(vecCol).as("va"),
      col("nrm").as("na"))
    val b = side.select(col(idCol).as("id_b"), col(vecCol).as("vb"),
      col("nrm").as("nb"))
    Pin.untilUsed(a.join(b, col("id_a") < col("id_b"))
      .withColumn("cos",
        round(dot(col("va"), col("vb")) / (col("na") * col("nb")), roundTo))
      .filter(col("cos") >= threshold)
      .select(col("id_a"), col("id_b"), col("cos")), side)
  }

  /** LSH-bucketed embedding near-duplicate pairs: candidates share a
    * random-hyperplane signature; exact (rounded) cosine filters
    * inside buckets. The scale path [[cosineDupPairs]] is measured
    * against — the all-pairs product never materializes, at the cost
    * of missing near-dups whose signatures differ (for exact
    * re-ingested copies the signature is identical by construction,
    * so recall on true duplicates is total).
    */
  def lshDupPairs(corpus: DataFrame, idCol: String, vecCol: String,
      planes: Int, threshold: Double, roundTo: Int = 6): DataFrame = {
    // filled once before the self-join races it
    val sig = Pin.cache(corpus.select(col(idCol), col(vecCol),
      rhpSignature(col(vecCol), planes).as("sig"),
      norm(col(vecCol)).as("nrm")), eager = true)
    val a = sig.select(col("sig"), col(idCol).as("id_a"),
      col(vecCol).as("va"), col("nrm").as("na"))
    val b = sig.select(col("sig"), col(idCol).as("id_b"),
      col(vecCol).as("vb"), col("nrm").as("nb"))
    Pin.untilUsed(a.join(b, "sig")
      .filter(col("id_a") < col("id_b"))
      .withColumn("cos",
        round(dot(col("va"), col("vb")) / (col("na") * col("nb")), roundTo))
      .filter(col("cos") >= threshold)
      .select(col("id_a"), col("id_b"), col("cos")), sig)
  }

  /** Deterministic pseudo-random hyperplane component for (plane j,
    * dim d): integer-hash mapped to [-1, 1). Exactly reproducible in
    * any engine (pure integer arithmetic + one division).
    *
    * The hash must be NONLINEAR in the combined (plane, dim) index:
    * the original affine form (`d·M + j·c` mod 1000) made every
    * plane a constant SHIFT of the same weight walk, so planes at
    * small shift distance were near-parallel — measured r13: 16
    * "planes" yielded only 149 distinct signatures over 55k uniform
    * vectors (hot bucket 17k), which broke every RHP bucket-bounding
    * claim. The quadratic pair-hash below — k = j·1024 + d,
    * m = ((k+1)(k+2) mod 10⁶)·2654435761 mod 1000 — has no shift
    * structure between planes (plane deltas vary with d), restoring
    * ~2^planes effective buckets (17.4k distinct sigs, hot bucket 96
    * on the same sweep). Supports dims < 1024, planes < 63; all
    * intermediates < 2^63 (ANSI-safe).
    */
  def hyperplane(j: Int, d: Column): Column = {
    val k = d.cast("long") + lit(j.toLong * 1024L)
    (((k + 1L) * (k + 2L) % 1000000L) * 2654435761L % 1000L)
      .cast("double") / 500.0 - 1.0
  }

  /** Random-hyperplane LSH signature: bit j = sign(v · h_j), packed
    * into a long. Buckets with equal signatures are cosine-similar
    * candidates; join on the signature instead of crossing.
    */
  def rhpSignature(vecCol: Column, planes: Int): Column =
    rhpSigUdf(planes)(vecCol)

  /** Compiled kernel for the signature — bit-identical to
    * [[rhpSignatureExpr]] (same integer hash, same double ops in the
    * same order) but JIT-compiled instead of interpreted per element.
    */
  private def rhpSigUdf(planes: Int) = udf { (v: Seq[Float]) =>
    var sig = 0L
    var j = 0
    while (j < planes) {
      var acc = 0d
      var d = 0
      while (d < v.length) {
        val k = j.toLong * 1024L + d
        val m = ((k + 1L) * (k + 2L) % 1000000L) * 2654435761L % 1000L
        acc += v(d).toDouble * (m.toDouble / 500.0 - 1.0)
        d += 1
      }
      if (acc > 0) sig += 1L << j
      j += 1
    }
    sig
  }

  /** Expression form of the signature (UDF-free plan). */
  def rhpSignatureExpr(vecCol: Column, planes: Int): Column =
    graft.ops.Exprs.bind(asDouble(vecCol)) { v =>
      (0 until planes).map { j =>
        val proj = aggregate(
          zip_with(v, sequence(lit(0L), size(v).cast("long") - 1L),
            (x, d) => x * hyperplane(j, d)),
          lit(0d), (acc, vv) => acc + vv)
        when(proj > 0, lit(1L << j)).otherwise(lit(0L))
      }.reduce(_ + _)
    }

  /** LSH-bucketed ANN: candidates share a signature; exact cosine +
    * top-k only within buckets. Trades recall for never shuffling
    * the cross product.
    */
  def lshTopK(corpus: DataFrame, idCol: String, vecCol: String,
      planes: Int, k: Int, roundTo: Int = 6): DataFrame = {
    // cached: both self-join sides read signatures + norms; filled
    // now — a lazy cache is raced (and thus computed twice) by the two
    // sides of the self-join
    val sig = Pin.cache(corpus.select(col(idCol), col(vecCol),
      rhpSignature(col(vecCol), planes).as("sig"),
      norm(col(vecCol)).as("nrm")), eager = true)
    val a = sig.select(col("sig"), col(idCol).as("query_id"),
      col(vecCol).as("qv"), col("nrm").as("qn"))
    val b = sig.select(col("sig"), col(idCol).as("neighbor_id"),
      col(vecCol).as("cv"), col("nrm").as("cn"))
    val scored = a.join(b, "sig")
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("cos",
        round(dot(col("qv"), col("cv")) / (col("qn") * col("cn")), roundTo))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("neighbor_id"))
    Pin.untilUsed(scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("cos"), col("rank")),
      sig)
  }

  /** Hard-negative mining, brute baseline: for each query vector,
    * the top-k most similar corpus vectors with a DIFFERENT label —
    * the contrastive-training pair generator (a hard negative is a
    * near-neighbor from the wrong class). Same shape as
    * [[cosineTopK]]: queries broadcast, corpus streams, norms
    * precomputed per row. The id-inequality guard is implied — a
    * vector never differs in label from itself. Scale path:
    * [[hardNegativesLsh]].
    */
  def hardNegatives(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, labelCol: String, k: Int,
      roundTo: Int = 6): DataFrame = {
    val q = broadcast(queries
      .select(col(idCol).as("query_id"), col(labelCol).as("__ql"),
        col(vecCol).as("qv"), norm(col(vecCol)).as("qn")))
    val c = corpus.select(col(idCol).as("neighbor_id"),
      col(labelCol).as("__nl"), col(vecCol).as("cv"),
      norm(col(vecCol)).as("cn"))
    val scored = q.join(c, col("__ql") =!= col("__nl"))
      .withColumn("cos",
        round(dot(col("qv"), col("cv")) / (col("qn") * col("cn")), roundTo))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("cos"), col("rank"))
  }

  /** Hard-negative mining, LSH scale path: candidates must share an
    * RHP signature bucket (equi-join — the cross product never
    * shuffles) AND differ in label; exact cosine + top-k within the
    * bucketed candidates. Standard LSH recall trade: negatives in
    * other buckets are missed, which for MINING (vs search) is the
    * accepted contract — any sufficiently-hard negative collides by
    * construction.
    */
  def hardNegativesLsh(corpus: DataFrame, idCol: String, vecCol: String,
      labelCol: String, planes: Int, k: Int,
      roundTo: Int = 6): DataFrame = {
    // filled once for the two self-join sides
    val sig = Pin.cache(corpus.select(col(idCol), col(vecCol), col(labelCol),
      rhpSignature(col(vecCol), planes).as("sig"),
      norm(col(vecCol)).as("nrm")), eager = true)
    val a = sig.select(col("sig"), col(idCol).as("query_id"),
      col(labelCol).as("__ql"), col(vecCol).as("qv"), col("nrm").as("qn"))
    val b = sig.select(col("sig"), col(idCol).as("neighbor_id"),
      col(labelCol).as("__nl"), col(vecCol).as("cv"), col("nrm").as("cn"))
    val scored = a.join(b, "sig")
      .filter(col("__ql") =!= col("__nl"))
      .withColumn("cos",
        round(dot(col("qv"), col("cv")) / (col("qn") * col("cn")), roundTo))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("neighbor_id"))
    val out = scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("cos"), col("rank"))
    Pin.untilUsed(out, sig)
  }

  /** Per-vector int8 quantization — the 4× storage compression an
    * embedding store applies before anything ships to an index at
    * corpus scale. Affine per-vector scheme: codes
    * `q_i = floor((x_i − min)/scale + 0.5)` with
    * `scale = (max − min)/255`, so reconstruction is
    * `min + q_i·scale`. Returns `struct(mn, mx, q)`.
    *
    * Pure column arithmetic on IEEE doubles (floor discretization,
    * no decimal rounding) — scan-speed, shuffle-free, and exactly
    * reproducible by any engine, which is how the oracle checks the
    * codes and the reconstruction error. A constant vector
    * (scale = 0) quantizes to all-zero codes.
    */
  def int8Quantize(vec: Column): Column = {
    val v = asDouble(vec)
    val mn = array_min(v)
    val scale = (array_max(v) - mn) / 255.0
    val q = when(scale > 0,
        transform(v, x => floor((x - mn) / scale + 0.5)))
      .otherwise(transform(v, _ => lit(0L)))
    struct(mn.as("mn"), array_max(v).as("mx"), q.as("q"))
  }
}
