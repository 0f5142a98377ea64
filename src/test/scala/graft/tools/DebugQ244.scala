package graft.tools

import org.apache.spark.sql.functions._

import graft.dedup.Registry
import graft.io.Tables.table
import graft.dedup.Registry.{Exact, Near, Vec}

/** Scratch: replicate q244's stages for a sfDir and dump per-batch
  * survivor ids per stage to /tmp/debug_q244 for DuckDB diffing.
  * Usage: Test/runMain graft.tools.DebugQ244 <sfDir>
  */
object DebugQ244 {
  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val s = graft.GraftSession.local(8, "debug-q244")
    s.sparkContext.setLogLevel("WARN")
    val tag = "dbg" + java.lang.Integer.toHexString(dir.hashCode)
    val base = s"${System.getProperty("java.io.tmpdir")}/graft_registry_dbg/$tag"
    val (exName, nrName, vcName) = (s"graft_dbg_ex_$tag",
      s"graft_dbg_nr_$tag", s"graft_dbg_vc_$tag")
    Registry.create(s, Exact, exName, s"$base/ex", buckets = 8)
    Registry.create(s, Near(), nrName, s"$base/nr", buckets = 8)
    Registry.create(s, Vec(), vcName, s"$base/vc", buckets = 8)
    val d = table(s, dir, "documents").select(col("doc_id"), col("text"))
    val e = table(s, dir, "embeddings").select(col("vec_id"), col("embedding"))
    val b0 = d.join(e, col("doc_id") === col("vec_id"))
      .select(col("doc_id"), col("text"), col("embedding"))
    val nearCopies = b0.filter(col("doc_id") < 40)
      .select((col("doc_id") + 300001L).as("doc_id"),
        concat(col("text"), lit(" zz yy")).as("text"), col("embedding"))
    val vecTwins = b0.filter(col("doc_id") < 40)
      .withColumn("text",
        array_join(transform(sequence(lit(1), lit(30)),
          i => concat(lit("vt"), col("doc_id").cast("string"),
            lit("x"), i.cast("string"))), " "))
      .select((col("doc_id") + 600001L).as("doc_id"), col("text"),
        col("embedding"))
    val corpus = b0.unionByName(nearCopies).unionByName(vecTwins)
    val bench = d.filter(col("doc_id") < 5)
    (0 until 3).foreach { b =>
      val r = graft.pipeline.Pipelines.ingestBatch(s,
        corpus.filter(col("doc_id") % 3 === b), "doc_id", "text",
        exName, nrName, bench, "text", b, minChars = 100,
        vecReg = Some(vcName), vecCol = Some("embedding"))
      println(s"[batch $b] in=${r.nIn} q=${r.nQuality} ex=${r.nExact} " +
        s"near=${r.nNear} vec=${r.nVec} clean=${r.nClean}")
    }
    // dump the near registry contents (doc ids + simhashes of all
    // near survivors across batches)
    s.table(nrName).select(col("doc_id"), col("simhash")).distinct()
      .write.mode("overwrite").parquet("/tmp/debug_q244/near_survivors")
    s.stop()
  }
}
