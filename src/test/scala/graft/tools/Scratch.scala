package graft.tools

import org.apache.spark.sql.functions._
import graft.dedup.Registry.{Exact, Near, Vec}

/** Disposable scratch main for interactive debugging. */
object Scratch {
  def main(args: Array[String]): Unit = {
    val spark = graft.GraftSession.local(32, "graft-scratch")
    spark.sparkContext.setLogLevel("ERROR")
    import graft.dedup.Registry
    val dir = "/root/testdata/sf0.1"
    def t[T](label: String)(f: => T): T = {
      val t0 = System.nanoTime()
      val r = f
      println(f"[t] $label%-22s ${(System.nanoTime() - t0) / 1e9}%.2f s")
      r
    }
    val tmp = System.getProperty("java.io.tmpdir")
    val base = s"$tmp/graft_scratch_q244_${System.nanoTime()}"
    t("create x3") {
      Registry.create(spark, Exact, "scr_ex", s"$base/ex", 8)
      Registry.create(spark, Near(), "scr_nr", s"$base/nr", 8)
      Registry.create(spark, Vec(), "scr_vc", s"$base/vc", 8)
    }
    val d = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"), col("text")).filter(col("doc_id") < 500)
    val e = spark.read.parquet(s"$dir/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    val b0 = d.join(e, col("doc_id") === col("vec_id"))
      .select(col("doc_id"), col("text"), col("embedding"))
    val corpus = b0.unionByName(b0.filter(col("doc_id") < 40)
      .select((col("doc_id") + 300001L).as("doc_id"),
        concat(col("text"), lit(" zz yy")).as("text"), col("embedding")))
    val bench = d.filter(col("doc_id") < 5)
    // warm the corpus
    t("warm corpus count")(corpus.count())
    (0 until 3).foreach { b =>
      val batch = corpus.filter(col("doc_id") % 3 === b)
      t(s"batch $b full ingestBatch") {
        graft.pipeline.Pipelines.ingestBatch(spark, batch, "doc_id",
          "text", "scr_ex", "scr_nr", bench, "text", b, minChars = 100,
          vecReg = Some("scr_vc"), vecCol = Some("embedding"))
      }
    }
    // now stage-level timing for one more batch (batch 3 = batch 0 rows
    // under new ids so everything dedups — worst-case probe)
    val b3 = corpus.filter(col("doc_id") % 3 === 0)
      .select((col("doc_id") + 900001L).as("doc_id"), col("text"),
        col("embedding"))
    val toks = graft.text.TextFunctions.tokens(col("text"))
    val derived = t("derive+checkpoint") {
      b3.select(col("doc_id").cast("long").as("doc_id"),
        length(col("text")).as("__len"),
        graft.text.TextFunctions.contentHash(col("text")).as("h"),
        graft.dedup.Dedup.simhash60(toks).as("simhash"),
        array_distinct(graft.text.TextFunctions.ngramsFast(toks, 3))
          .as("__grams"),
        col("embedding").as("__vec")).localCheckpoint()
    }
    t("hdr agg")(derived.agg(count(lit(1)),
      count(when(col("__len") >= 100, 1))).head())
    val quality = derived.filter(col("__len") >= 100)
    val keptD = t("ingestDigests") {
      Registry.ingest(spark, Exact, "scr_ex",
        quality.groupBy(col("h")).agg(min(col("doc_id")).as("keep_id")), 3)
    }
    t("keptD.count")(keptD.count())
    val exact = quality.join(keptD.select(col("h"),
      col("keep_id").as("doc_id")), Seq("doc_id", "h"), "left_semi")
    val keptN = t("nearIngestSims") {
      Registry.ingest(spark, Near(), "scr_nr",
        exact.select(col("doc_id"), col("simhash")), 3)
    }
    t("keptN.count")(keptN.count())
    val near = exact.join(keptN.select(col("doc_id")), Seq("doc_id"),
      "left_semi")
    val keptV = t("vecIngest") {
      Registry.ingest(spark, Vec(), "scr_vc",
        near.filter(col("__vec").isNotNull)
          .select(col("doc_id"), col("__vec")), "doc_id", "__vec", 3)
    }
    t("keptV.count")(keptV.count())
    val noVec = near.filter(col("__vec").isNull)
    t("noVec.count")(noVec.count())
    val vec = near.filter(col("__vec").isNotNull)
      .join(keptV.select(col("vec_id").as("doc_id")), Seq("doc_id"),
        "left_semi").unionByName(noVec)
    val benchG = t("bench grams") {
      broadcast(bench.select(explode(array_distinct(
        graft.text.TextFunctions.ngramsFast(
          graft.text.TextFunctions.tokens(col("text")), 3))).as("__g"))
        .distinct())
    }
    val contaminated = vec
      .select(col("doc_id"), explode(col("__grams")).as("__g"))
      .join(benchG, Seq("__g"))
      .select(col("doc_id")).distinct()
    val clean = vec.join(contaminated, Seq("doc_id"), "left_anti")
      .select(col("doc_id"), col("h"), col("simhash"))
    t("clean.count")(clean.count())
    spark.stop()
  }
}
