package graft.similarity

import org.apache.spark.ml.clustering.KMeans
import org.apache.spark.ml.functions.array_to_vector
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.ops.Pin

/** Embedding-space clustering for corpus curation (beyond-reference;
  * the "cluster, then balance/inspect/dedup per cluster" step modern
  * pipelines run between embedding extraction and mixing — SemDeDup
  * clusters before intra-cluster dedup, DoReMi reweights domains
  * that clustering can induce when no domain labels exist).
  *
  * Seeded k-means over an `Array[Float]` embedding column. Like the
  * LDA/Word2Vec fits, a clustering is seeded-deterministic on a
  * fixed cluster but not SQL-replayable, so its queries carry
  * rows-only checks; the spec pins behavior on separable fixtures.
  *
  * Scale: mllib's KMeans is the distributed Lloyd's loop — centroids
  * broadcast each iteration, corpus streams map-side, one aggregate
  * per iteration; assignment afterwards is a scan. Nothing collects
  * to the driver beyond k centroid vectors.
  */
object Clustering {

  /** Cluster assignment per row: (idCol, cluster). */
  def kmeansAssign(embeddings: DataFrame, idCol: String, vecCol: String,
      k: Int, seed: Long = 42L, maxIter: Int = 20): DataFrame = {
    val vecs = embeddings.select(col(idCol),
      array_to_vector(col(vecCol)).as("__features"))
    val model = new KMeans().setK(k).setSeed(seed).setMaxIter(maxIter)
      .setFeaturesCol("__features").setPredictionCol("cluster")
      .fit(vecs)
    model.transform(vecs).select(col(idCol), col("cluster"))
  }

  /** Cluster-size histogram — the domain-mixing input a curation
    * run feeds to temperature/DSIR reweighting when no explicit
    * domain labels exist.
    */
  def clusterSizes(embeddings: DataFrame, idCol: String, vecCol: String,
      k: Int, seed: Long = 42L, maxIter: Int = 20): DataFrame =
    kmeansAssign(embeddings, idCol, vecCol, k, seed, maxIter)
      .groupBy(col("cluster")).agg(count(lit(1)).as("n"))
      .orderBy(col("cluster"))

  /** Deterministic exact-integer Lloyd k-means — the SQL-replayable
    * twin of [[kmeansAssign]] (which stays the mllib production path
    * for seeded fits at scale). Initial centroids follow the IVF
    * convention (first `k` vectors by id, [[graft.similarity.Ann]]);
    * `iters` centroid updates are applied, then points get their
    * final assignment.
    *
    * Every arithmetic step after the one quantization
    * (`floor(v * quantScale)` per element — a single deterministic
    * IEEE double multiply) is EXACT integer math: squared-distance
    * sums of longs, truncating `div` centroid means (Spark `div` and
    * DuckDB `//` both truncate toward zero), and (distance, cent_id)
    * argmin tie-breaks. No rounding boundary exists for engines to
    * disagree on, which is what lets q120 carry a full hash oracle
    * where the seeded fit could not.
    *
    * Scale shape: the k×dim centroid table is broadcast each round
    * (a Lloyd iteration IS a broadcast join + argmin + re-aggregate);
    * points stream map-side, the only shuffles are the k×dim-bounded
    * centroid aggregates, and nothing but k centroids ever sits on
    * the driver. Same plan mllib's KMeans produces per iteration.
    */
  def lloydAssign(embeddings: DataFrame, idCol: String, vecCol: String,
      k: Int, iters: Int = 2, quantScale: Double = 1e6): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(embeddings.schema(idCol).dataType.isInstanceOf[
      org.apache.spark.sql.types.NumericType],
      s"lloydAssign needs a numeric id column, got $idCol")
    val pts = Pin.cache(embeddings.select(col(idCol).as("__id"),
      transform(col(vecCol),
        x => floor(x.cast("double") * quantScale).cast("long")).as("__qv")),
      eager = true)
    val init = pts.filter(col("__id") < k)
      .select(col("__id").cast("int").as("__cid"), col("__qv").as("__cq"))
    require(init.count() == k,
      s"IVF-convention init needs ids 0..${k - 1} present")
    // compiled distance kernel: the aggregate/zip_with expression
    // form runs interpreted per (point, centroid) pair — the HOF
    // trap PERF r7 documents for q140
    val sqDist = udf { (a: Seq[Long], b: Seq[Long]) =>
      var s = 0L; var i = 0
      val n = math.min(a.length, b.length)
      while (i < n) { val d = a(i) - b(i); s += d * d; i += 1 }
      s
    }
    // argmin as a partial-aggregatable min(struct) instead of a
    // row_number window (r16, guide §2.3 — the Pq.assign rationale):
    // map-side collapse of the k candidates per point before the
    // exchange, no sort; (dist, cid) struct order replays the
    // window's (dist asc, cid asc) tie rule exactly.
    def assign(c: DataFrame): DataFrame =
      pts.crossJoin(broadcast(c))
        .withColumn("__dist", sqDist(col("__qv"), col("__cq")))
        .groupBy(col("__id"))
        .agg(min(struct(col("__dist"), col("__cid"), col("__qv")))
          .as("__w"))
        .select(col("__id"), col("__w.__cid").as("cluster"),
          col("__w.__qv").as("__qv"))
    var cents = init
    for (_ <- 1 to iters) {
      cents = assign(cents)
        .select(col("cluster"), posexplode(col("__qv")))
        .groupBy(col("cluster"), col("pos"))
        .agg(sum(col("col")).as("__s"), count(lit(1)).as("__n"))
        .withColumn("__m", expr("__s div __n"))
        .groupBy(col("cluster"))
        .agg(transform(
          array_sort(collect_list(struct(col("pos"), col("__m")))),
          s => s.getField("__m")).as("__cq"))
        .select(col("cluster").as("__cid"), col("__cq"))
    }
    // filled before the point cache is released; the caller
    // releases `out`
    val out = Pin.cache(
      assign(cents).select(col("__id").as(idCol), col("cluster")),
      eager = true)
    Pin.release(pts)
    out
  }

  /** SemDeDup (Abbas et al. 2023): semantic deduplication by
    * clustering first, then comparing cosines only WITHIN each
    * cluster — the clustering bounds the all-pairs product at N²/k
    * and makes the pair pass an equi-join on the cluster id that
    * co-partitions both sides (AQE covers a skewed mega-cluster).
    *
    * Assignment here is nearest-of-`nCentroids` fixed centroids (the
    * first `nCentroids` vectors by id — the IVF convention in
    * [[graft.similarity.Ann.ivfTopK]]), which keeps the whole
    * operator deterministic and SQL-replayable; production callers
    * swap in [[kmeansAssign]]'s fitted centroids, the pair logic is
    * identical. Cosines are rounded before any comparison so no
    * verdict hinges on sub-ulp engine differences.
    *
    * A vector is a semantic duplicate iff some LOWER-id vector in
    * its cluster has rounded cosine >= `tau` (keep-lowest-id, the
    * [[graft.dedup.Dedup.exactGroups]] convention). Output:
    * (idCol, cluster, is_dup) for every input vector.
    */
  def semDedup(embeddings: DataFrame, idCol: String, vecCol: String,
      nCentroids: Int, tau: Double, roundTo: Int = 6): DataFrame = {
    import graft.similarity.{Ann => A}
    // The `id < nCentroids` IVF convention silently assumes dense
    // numeric ids from 0: a string id would string-compare, sparse
    // ids would select too few centroids and leave null clusters.
    // Fail loudly instead (the centroid count() is one tiny job).
    require(embeddings.schema(idCol).dataType.isInstanceOf[
      org.apache.spark.sql.types.NumericType],
      s"semDedup needs a numeric id column, got $idCol")
    val centRows = embeddings.filter(col(idCol) < nCentroids)
      .select(col(idCol).as("cent_id"), col(vecCol).as("cv"),
        A.norm(col(vecCol)).as("cn"))
    require(centRows.count() == nCentroids,
      s"IVF-convention centroids need ids 0..${nCentroids - 1} present")
    val cents = broadcast(centRows)
    // argmax as a partial-aggregatable max(struct) instead of a
    // row_number window (r16, the Pq.assign rationale): the struct
    // compares (__ccos, −cent_id) first — exactly the window's
    // (cos desc, cent_id asc) order; cent_id is unique per point so
    // the payload fields never decide.
    val assigned = Pin.cache(embeddings
      .select(col(idCol), col(vecCol).as("v"), A.norm(col(vecCol)).as("vn"))
      .crossJoin(cents)
      .withColumn("__ccos",
        round(A.dot(col("v"), col("cv")) / (col("vn") * col("cn")), roundTo))
      .groupBy(col(idCol))
      .agg(max(struct(col("__ccos"), (-col("cent_id")).as("__nc"),
        col("cent_id"), col("v"), col("vn"))).as("__w"))
      .select(col(idCol), col("__w.cent_id").as("cluster"),
        col("__w.v").as("v"), col("__w.vn").as("vn")),
      eager = true) // filled once; both self-join sides read it
    val a = assigned.select(col("cluster"), col(idCol).as("__ida"),
      col("v").as("va"), col("vn").as("na"))
    val b = assigned.select(col("cluster"), col(idCol).as("__idb"),
      col("v").as("vb"), col("vn").as("nb"))
    val dupIds = a.join(b, "cluster")
      .filter(col("__idb") < col("__ida"))
      .filter(round(A.dot(col("va"), col("vb"))
        / (col("na") * col("nb")), roundTo) >= tau)
      .select(col("__ida").as(idCol)).distinct()
      .withColumn("__dup", lit(true))
    val out = assigned.select(col(idCol), col("cluster"))
      .join(dupIds, Seq(idCol), "left")
      .select(col(idCol), col("cluster"),
        coalesce(col("__dup"), lit(false)).as("is_dup"))
    Pin.untilUsed(out, assigned)
  }
}
