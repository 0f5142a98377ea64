package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.storage.StorageLevel

import graft.{SparkEntry, SparkSpec}

/** Queries that persist a private intermediate must release it after
  * the action that consumes their result, or a Bench/Verify session
  * accumulates one pinned block set per query.
  */
class QueryPinsSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  /** The shared fits a query reads besides the LSH candidates. */
  private def sharedFits(name: String): Seq[DataFrame] = name match {
    case "q139_label_prop" => Seq(DedupQueries.simhashPairs(spark, dir))
    case "q227_kcore" => Seq(GraphQueries.coorderEdges(spark, dir))
    case _ => Nil
  }

  for (name <- Seq("q47_simhash_pairs", "q102_minhash_est",
      "q110_lsh_decontam", "q140_quality_ensemble", "q213_kmv_overlap",
      "q214_sorted_neighborhood", "q45_jaccard_cands", "q80_embed_dup",
      "q246_ivf_staleness", "q120_embed_clusters", "q139_label_prop",
      "q227_kcore")) {
    test(s"$name releases its own pin after the action") {
      // q102 and q45 read the shared LSH candidates (q139 and q227
      // their own shared fits): build them first so the snapshot below
      // counts them as shared, not as the query's own
      val shared = DedupQueries.lshCands(spark, dir) +: sharedFits(name)
      val sc = spark.sparkContext
      val before = sc.getPersistentRDDs.keySet
      val out = SparkEntry.queries(name)(spark, dir)
      assert(out.collect().nonEmpty)
      def own = (sc.getPersistentRDDs -- before).values
        .filter(_.getStorageLevel != StorageLevel.NONE)
      val deadline = System.currentTimeMillis() + 15000
      while (own.nonEmpty && System.currentTimeMillis() < deadline)
        Thread.sleep(100)
      assert(own.isEmpty, s"$name still pins ${own.map(_.name)}")
      shared.foreach(f => assert(f.storageLevel != StorageLevel.NONE))
    }
  }
}
