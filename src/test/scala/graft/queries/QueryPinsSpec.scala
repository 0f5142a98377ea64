package graft.queries

import org.apache.spark.storage.StorageLevel

import graft.{SparkEntry, SparkSpec}

/** Queries that persist a private intermediate must release it after
  * the action that consumes their result, or a Bench/Verify session
  * accumulates one pinned block set per query.
  */
class QueryPinsSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  for (name <- Seq("q47_simhash_pairs", "q102_minhash_est",
      "q110_lsh_decontam", "q140_quality_ensemble")) {
    test(s"$name releases its own pin after the action") {
      // q102 reads the shared LSH candidates: build them first so the
      // snapshot below counts them as shared, not as q102's own
      val shared = DedupQueries.lshCands(spark, dir)
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
      assert(shared.storageLevel != StorageLevel.NONE)
    }
  }
}
