package graft.tools

import org.apache.spark.scheduler._
import org.apache.spark.sql.functions._
import graft.dedup.Registry.{Minhash, Near}

/** r15 optimization scratch: stage-level timings for the registry
  * ingest path (q249 shape), with a listener reporting jobs, stages,
  * tasks and summed task time per labeled block.
  * Usage: Test/runMain graft.tools.ScratchR15 <sfDir>
  */
object ScratchR15 {
  final class Meter extends SparkListener {
    @volatile var jobs = 0
    @volatile var stages = 0
    @volatile var tasks = 0
    @volatile var taskMs = 0L
    val jobStartNs = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
    @volatile var verbose = false
    override def onJobStart(j: SparkListenerJobStart): Unit = {
      jobs += 1
      jobStartNs.put(j.jobId, System.nanoTime())
    }
    override def onJobEnd(j: SparkListenerJobEnd): Unit = {
      val t0 = jobStartNs.remove(j.jobId)
      if (verbose && t0 != 0L)
        println(f"[job] id=${j.jobId}%4d ${(System.nanoTime() - t0) / 1e6}%8.1f ms")
    }
    override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
      stages += 1
      tasks += s.stageInfo.numTasks
      if (verbose)
        println(f"[stage] id=${s.stageInfo.stageId}%4d " +
          f"tasks=${s.stageInfo.numTasks}%4d " +
          s.stageInfo.name.take(90))
    }
    override def onTaskEnd(t: SparkListenerTaskEnd): Unit =
      if (t.taskInfo != null) taskMs += t.taskInfo.duration
    def reset(): Unit = { jobs = 0; stages = 0; tasks = 0; taskMs = 0L }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = graft.GraftSession.local(32, "graft-scratch-r15")
    spark.sparkContext.setLogLevel("ERROR")
    val meter = new Meter
    spark.sparkContext.addSparkListener(meter)
    import graft.dedup.{Dedup, Registry}
    import graft.io.Tables.table

    def time[T](label: String)(body: => T): T = {
      Thread.sleep(200) // let listener events drain
      meter.reset()
      val t0 = System.nanoTime()
      val r = body
      val wall = (System.nanoTime() - t0) / 1e9
      Thread.sleep(300)
      println(f"[scratch] $label%-32s ${wall}%6.3f s  " +
        f"jobs=${meter.jobs}%3d stages=${meter.stages}%3d " +
        f"tasks=${meter.tasks}%4d taskTime=${meter.taskMs / 1000.0}%6.2f s")
      r
    }

    val d = table(spark, sfDir, "documents")
      .select(col("doc_id"), col("text"))
    val corpus = d.unionByName(d.filter(col("doc_id") < 40)
      .select((col("doc_id") + 300001L).as("doc_id"),
        concat(col("text"), lit(" zz yy")).as("text")))
    corpus.count() // warm-up

    val tag = "scratch_" + java.lang.Integer.toHexString(sfDir.hashCode)
    val path = s"${System.getProperty("java.io.tmpdir")}/graft_scr15/$tag"
    val name = s"graft_scr15_$tag"
    Registry.create(spark, Minhash(k = 8, bands = 4), name, path, buckets = 8)
    (0 until 3).foreach { b =>
      val batch = corpus.filter(col("doc_id") % 3 === b)
      meter.verbose = b == 2
      time(s"minhashIngest batch $b") {
        Registry.ingest(spark, Minhash(), name, batch, "doc_id", "text", b)
          .count()
      }
      meter.verbose = false
    }
    // near-lane comparison
    val pathN = s"${System.getProperty("java.io.tmpdir")}/graft_scr15n/$tag"
    val nameN = s"graft_scr15n_$tag"
    Registry.create(spark, Near(), nameN, pathN, buckets = 8)
    (0 until 3).foreach { b =>
      val batch = corpus.filter(col("doc_id") % 3 === b)
      time(s"nearIngest batch $b") {
        Registry.ingest(spark, Near(), nameN, batch, "doc_id", "text", b)
          .count()
      }
    }
    spark.stop()
  }
}
