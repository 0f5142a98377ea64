package graft.tools

import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import org.apache.spark.scheduler._
import org.apache.spark.sql.functions._
import graft.dedup.Registry.{Exact, Minhash, Near}

/** r16 optimization scratch: phase-level timing with a deterministic
  * listener drain (ADVICE r15: atomic counters + waitUntilEmpty, not
  * volatile += and sleeps).
  * Usage: Test/runMain graft.tools.ScratchR16 <sfDir> <what>
  */
object ScratchR16 {
  final class Meter extends SparkListener {
    val jobs = new AtomicInteger
    val stages = new AtomicInteger
    val tasks = new AtomicInteger
    val taskMs = new AtomicLong
    override def onJobStart(j: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
      stages.incrementAndGet(); tasks.addAndGet(s.stageInfo.numTasks); ()
    }
    override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
      if (t.taskInfo != null) taskMs.addAndGet(t.taskInfo.duration); ()
    }
    def reset(): Unit = { jobs.set(0); stages.set(0); tasks.set(0); taskMs.set(0) }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val what = args.lift(1).getOrElse("ldaem")
    val spark = graft.GraftSession.local(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt, "graft-scratch-r16")
    spark.sparkContext.setLogLevel("ERROR")
    val meter = new Meter
    spark.sparkContext.addSparkListener(meter)
    import graft.io.Tables.table

    def time[T](label: String)(body: => T): T = {
      org.apache.spark.GraftListenerDrain.drain(spark.sparkContext)
      meter.reset()
      val t0 = System.nanoTime()
      val r = body
      val wall = (System.nanoTime() - t0) / 1e9
      org.apache.spark.GraftListenerDrain.drain(spark.sparkContext)
      println(f"[scr16] $label%-36s ${wall}%6.3f s  " +
        f"jobs=${meter.jobs.get}%3d stages=${meter.stages.get}%3d " +
        f"tasks=${meter.tasks.get}%4d taskTime=${meter.taskMs.get / 1000.0}%6.2f s")
      r
    }

    // generic JVM/session warm-up
    graft.io.Tables.names.foreach { t =>
      try table(spark, sfDir, t).count() catch { case _: Throwable => () }
    }
    spark.range(1000000).selectExpr("id % 7 AS k", "id AS v")
      .groupBy("k").count().count()

    what match {
      case "ldaem" =>
        val toks = graft.text.TextFunctions.tokens(col("text"))
        val docs = table(spark, sfDir, "documents")
          .select(col("doc_id"), toks.as("toks"))
        val dw0 = docs
          .select(col("doc_id").as("__d"), explode(col("toks")).as("__t"))
          .filter(length(col("__t")) > 0)
          .groupBy(col("__d"), col("__t"))
          .agg(count(lit(1)).as("__cnt"))
        time("dw0 count") { dw0.count() }
        time("full fit (k=4 v=100 it=3)") {
          val (v, a) = graft.topic.LdaEm.fit(docs, "doc_id", "toks",
            k = 4, vocabSize = 100, iters = 3)
          a.count()
          Seq(v, a).foreach(_.unpersist(blocking = false))
        }
        time("full fit again") {
          val (v, a) = graft.topic.LdaEm.fit(docs, "doc_id", "toks",
            k = 4, vocabSize = 100, iters = 3)
          a.count()
          Seq(v, a).foreach(_.unpersist(blocking = false))
        }
      case "ppmi" =>
        val toks = graft.text.TextFunctions.tokens(col("text"))
        val docs = table(spark, sfDir, "documents").select(toks.as("toks"))
        time("embed (w=2 s=1)") {
          graft.topic.Ppmi.embed(docs, "toks", window = 2, shift = 1).count()
        }
        time("embed again") {
          graft.topic.Ppmi.embed(docs, "toks", window = 2, shift = 1).count()
        }
        val emb = graft.topic.Ppmi.embed(docs, "toks", window = 2, shift = 1)
          .persist()
        emb.count()
        time("similarPairs") {
          graft.topic.Ppmi.similarPairs(emb, 20).count()
        }
      case "registry" =>
        // per-job wall clock inside one ingest (the q244/q249 shape)
        val jobT = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
        val verbose = new java.util.concurrent.atomic.AtomicBoolean(false)
        spark.sparkContext.addSparkListener(new SparkListener {
          override def onJobStart(j: SparkListenerJobStart): Unit = {
            jobT.put(j.jobId, System.nanoTime()); ()
          }
          override def onJobEnd(j: SparkListenerJobEnd): Unit = {
            val t0 = jobT.remove(j.jobId)
            if (verbose.get && t0 != null)
              println(f"[job] ${(System.nanoTime() - t0) / 1e6}%7.1f ms")
          }
        })
        import graft.dedup.Registry
        val d = table(spark, sfDir, "documents")
          .select(col("doc_id"), col("text"))
        val corpus = d.unionByName(d.filter(col("doc_id") < 40)
          .select((col("doc_id") + 300001L).as("doc_id"),
            concat(col("text"), lit(" zz yy")).as("text")))
          .localCheckpoint()
        val tag = "r16_" + java.lang.Integer.toHexString(
          (sfDir + System.nanoTime()).hashCode)
        val base = s"${System.getProperty("java.io.tmpdir")}/graft_scr16/$tag"
        Registry.create(spark, Minhash(), s"mh_$tag", s"$base/mh", buckets = 8)
        Registry.create(spark, Exact, s"ex_$tag", s"$base/ex", buckets = 8)
        Registry.create(spark, Near(), s"nr_$tag", s"$base/nr", buckets = 8)
        (0 until 3).foreach { b =>
          val batch = corpus.filter(col("doc_id") % 3 === b)
          verbose.set(b == 2)
          time(s"minhashIngest batch $b") {
            Registry.ingest(spark, Minhash(), s"mh_$tag", batch, "doc_id",
              "text", b).count()
          }
          verbose.set(false)
        }
        (0 until 3).foreach { b =>
          val batch = corpus.filter(col("doc_id") % 3 === b)
          verbose.set(b == 2)
          time(s"exact ingest batch $b") {
            Registry.ingest(spark, Exact, s"ex_$tag", batch, "doc_id",
              "text", b).count()
          }
          verbose.set(false)
        }
        (0 until 3).foreach { b =>
          val batch = corpus.filter(col("doc_id") % 3 === b)
          verbose.set(b == 2)
          time(s"nearIngest batch $b") {
            Registry.ingest(spark, Near(), s"nr_$tag", batch, "doc_id",
              "text", b).count()
          }
          verbose.set(false)
        }
      case "mhsig" =>
        import graft.dedup.Dedup
        val d = table(spark, sfDir, "documents")
          .select(col("doc_id"), col("text"))
        val sigsNarrow = d.select(col("doc_id"),
          Dedup.minhashSignatureFast(
            Dedup.shingles(col("text"), 3), 8).as("sig"))
        val sigsWide = d.repartition(32, col("doc_id"))
          .select(col("doc_id"),
            Dedup.minhashSignatureFast(
              Dedup.shingles(col("text"), 3), 8).as("sig"))
        (1 to 2).foreach { i =>
          time(s"sig narrow #$i") {
            sigsNarrow.write.format("noop").mode("overwrite").save()
          }
          time(s"sig wide #$i") {
            sigsWide.write.format("noop").mode("overwrite").save()
          }
          time(s"sig narrow groupBy #$i") {
            sigsNarrow.groupBy(col("sig"))
              .agg(min(col("doc_id")).as("doc_id")).count()
          }
          time(s"sig wide groupBy #$i") {
            sigsWide.groupBy(col("sig"))
              .agg(min(col("doc_id")).as("doc_id")).count()
          }
        }
      case "nb" =>
        val toks = graft.text.TextFunctions.tokens(col("text"))
        val d = table(spark, sfDir, "documents")
          .select(col("doc_id"), col("lang"), toks.as("toks"))
        val train = d.filter(col("doc_id") % 2 === 0)
        val test = d.filter(col("doc_id") % 2 === 1)
        val tl = train
          .select(col("lang").as("__l"), explode(col("toks")).as("__t"))
          .groupBy(col("__l"), col("__t")).agg(count(lit(1)).as("__c"))
        time("tl (train counts) noop") {
          tl.write.format("noop").mode("overwrite").save()
        }
        val dt = test.select(col("doc_id"), explode(col("toks")).as("__t"))
          .groupBy(col("doc_id"), col("__t")).agg(count(lit(1)).as("__c"))
        time("dt (test counts) noop") {
          dt.write.format("noop").mode("overwrite").save()
        }
        time("full classify") {
          graft.feature.NaiveBayes.classify(train, test, "doc_id",
            "toks", "lang").count()
        }
        time("full classify again") {
          graft.feature.NaiveBayes.classify(train, test, "doc_id",
            "toks", "lang").count()
        }
      case "dsir" =>
        val docs = table(spark, sfDir, "documents")
          .select(col("doc_id"), col("text"), col("lang"))
        val toksC = graft.text.TextFunctions.tokens(col("text"))
        val gs = docs.select(col("doc_id"), (col("lang") === "en").as("__t"),
          explode(graft.text.TextFunctions.taggedNgramsFast(toksC, 1, 2))
            .as("__g"))
        time("gram stream noop") {
          gs.write.format("noop").mode("overwrite").save()
        }
        time("importanceScores") {
          graft.pipeline.Dsir.importanceScores(docs, "doc_id", "text",
            col("lang") === "en").count()
        }
        time("importanceScores again") {
          graft.pipeline.Dsir.importanceScores(docs, "doc_id", "text",
            col("lang") === "en").count()
        }
      case other => System.err.println(s"unknown: $other"); sys.exit(2)
    }
    spark.stop()
  }
}
