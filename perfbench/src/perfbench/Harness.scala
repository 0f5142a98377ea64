package perfbench

import java.io.{File, PrintWriter}
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.{PerfbenchAccess, SparkContext}
import org.apache.spark.scheduler._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.MapType

import graft.{GraftSession, SparkEntry}
import graft.dedup.Registry
import graft.io.Tables
import graft.pipeline.PipelineDriver

/** Scheduler totals for one attribution key. */
final class Counts {
  var jobs, stages, tasks, smallTasks, failedTasks = 0L
  var runMs, cpuNs, gcMs, shuffleRead, shuffleWrite, spill, peakMem = 0L
  def json: String =
    s""""jobs":$jobs,"stages":$stages,"tasks":$tasks,"small_tasks":$smallTasks,""" +
      s""""failed_tasks":$failedTasks,"run_ms":$runMs,"cpu_ns":$cpuNs,"gc_ms":$gcMs,""" +
      s""""shuffle_read":$shuffleRead,"shuffle_write":$shuffleWrite,"spill":$spill,""" +
      s""""peak_mem":$peakMem"""
}

/** Attributes jobs, stages and tasks to the `perfbench.key` local
  * property of the thread that launched them. Work launched with no key
  * (set-up, warm-up, probes) is not counted.
  */
final class Meter extends SparkListener {
  private val byKey = mutable.LinkedHashMap.empty[String, Counts]
  private val stageKey = mutable.Map.empty[Int, String]

  private def keyOf(p: java.util.Properties): Option[String] =
    Option(p).flatMap(x => Option(x.getProperty(Harness.KeyProp)))
  private def counts(k: String): Counts = byKey.getOrElseUpdate(k, new Counts)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    keyOf(e.properties).foreach(counts(_).jobs += 1)
  }
  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    keyOf(e.properties).foreach { k =>
      stageKey(e.stageInfo.stageId) = k
      counts(k).stages += 1
    }
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageKey.get(e.stageId).foreach { k =>
      val c = counts(k)
      c.tasks += 1
      if (e.reason != org.apache.spark.Success) c.failedTasks += 1
      val m = e.taskMetrics
      if (m != null) {
        c.runMs += m.executorRunTime
        c.cpuNs += m.executorCpuTime
        c.gcMs += m.jvmGCTime
        c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        c.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        c.peakMem = math.max(c.peakMem, m.peakExecutionMemory)
        if (m.executorRunTime < 10) c.smallTasks += 1
      }
    }
  }
  def snapshot: Seq[(String, Counts)] = synchronized(byKey.toSeq)
  def jobs(k: String): Long = synchronized(byKey.get(k).map(_.jobs).getOrElse(0L))
}

/** Samples driver heap use every 10 ms while running: the raw peak, and
  * the peak of what the last collection of each heap pool left live. */
final class HeapSampler extends Thread("perfbench-heap") {
  @volatile private var on = true
  @volatile var peak = 0L
  @volatile var livePeak = 0L
  setDaemon(true)
  override def run(): Unit = {
    val mem = ManagementFactory.getMemoryMXBean
    val pools = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(p => p.getType == java.lang.management.MemoryType.HEAP && p.getCollectionUsage != null)
    while (on) {
      peak = math.max(peak, mem.getHeapMemoryUsage.getUsed)
      livePeak = math.max(livePeak, pools.map(_.getCollectionUsage.getUsed).sum)
      Thread.sleep(10)
    }
  }
  def finish(): Unit = { on = false; join() }
}

/** The benchmark's JVM side: sets the session up, runs one
  * closed-loop pass over a workload's operations, checks every output and
  * writes JSON-lines records that `run.py` turns into metrics. Every call
  * into the engine goes through its public entry points; nothing in the
  * engine is changed or instrumented.
  *
  * Arguments are `key=value` pairs; see `run.py` for the set it passes.
  */
object Harness {
  val KeyProp = "perfbench.key"
  private val t00 = System.nanoTime()
  def now: Double = (System.nanoTime() - t00) / 1e9

  val mapper = new ObjectMapper()
  private var out: PrintWriter = _
  def emit(fields: String): Unit = { out.println(s"{$fields}"); out.flush() }
  def js(s: String): String = mapper.writeValueAsString(s)
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.math.BigDecimal.valueOf(d).toPlainString

  def main(args: Array[String]): Unit = {
    val o = args.map { a => val i = a.indexOf('='); a.take(i) -> a.drop(i + 1) }.toMap
    out = new PrintWriter(o("out"), "UTF-8")
    try o("mode") match {
      case "pass" => new Run(o).pass()
      case "checksum-dirs" => checksumDirs(o)
      case "list" =>
        val oracles = SparkEntry.oracleSql.keySet
        SparkEntry.queries.keys.toSeq.sorted.foreach(n =>
          emit(s""""name":${js(n)},"oracle":${oracles.contains(n)}"""))
    } finally out.close()
  }

  /** Row count plus the sum of a 64-bit hash over every output column:
    * independent of row order and partitioning, and it makes the engine
    * compute every column (a bare `count()` lets the optimizer prune
    * columns no action reads). Map columns hash as their sorted entries,
    * since Spark refuses to hash maps directly.
    */
  def checksum(df: DataFrame): DataFrame = {
    val cols = df.schema.fields.indices.map { i =>
      val c = col(s"`__c$i`")
      df.schema.fields(i).dataType match {
        case _: MapType => array_sort(map_entries(c))
        case _ => c
      }
    }
    val renamed = df.toDF(df.columns.indices.map(i => s"__c$i"): _*)
    val h: Column =
      if (cols.isEmpty) lit(0L) else xxhash64(cols: _*).cast("decimal(20,0)")
    renamed.agg(count(lit(1)).as("rows"), coalesce(sum(h), lit(0)).as("hash"))
  }

  /** Checksums of query outputs already written as parquet (the
    * `graft.Verify` layout: one directory per query), for the golden file.
    */
  private def checksumDirs(o: Map[String, String]): Unit = {
    val spark = session(o("cpus").toInt)
    val names = Files.readAllLines(Paths.get(o("ops"))).asScala.filter(_.nonEmpty)
    names.foreach { n =>
      val r = checksum(spark.read.parquet(s"${o("dirs")}/$n")).collect()(0)
      emit(s""""name":${js(n)},"rows":${r.getLong(0)},"hash":${js(r.get(1).toString)}""")
    }
    spark.stop()
  }

  def session(cpus: Int): SparkSession = {
    val s = GraftSession.configure(
      SparkSession.builder().master(s"local[$cpus]"), cpus, "perfbench").getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}

final class Run(o: Map[String, String]) {
  import Harness._

  private val trace = o("trace") == "1"
  private val dataDir = o("data")
  private val cpus = o("cpus").toInt
  private val workload = o("workload")
  private val meter = new Meter
  private var hookS = 0.0 // time spent inside tracing hooks
  private var spanId = 0

  private def hook[T](f: => T): T = {
    val t = now
    try f finally hookS += now - t
  }
  private def span(name: String, op: Int, parent: Int, start: Double, end: Double): Int = {
    spanId += 1
    if (trace) emit(s""""type":"span","id":$spanId,"parent":$parent,"op":$op,""" +
      s""""name":${js(name)},"start":${num(start)},"end":${num(end)}""")
    spanId
  }

  /** Pays first-use costs (schema reads, scan and hash codegen, the
    * first shuffle) outside the timed pass, as graft.Bench does. */
  private def warmup(spark: SparkSession): Unit = {
    Tables.names.foreach(n => Tables.table(spark, dataDir, n))
    checksum(Tables.table(spark, dataDir, "lineitem")).collect()
    spark.range(1000000).selectExpr("id % 7 AS k", "id AS v")
      .groupBy("k").count().count()
  }

  /** A fixed aggregate with no engine state and no input files: its time
    * tracks the host, not the program. */
  private def probe(spark: SparkSession): Double = {
    val t = now
    spark.range(2000000L).selectExpr("id % 97 AS k", "id AS v")
      .groupBy("k").sum("v").count()
    now - t
  }

  def pass(): Unit = {
    val t0 = now
    val spark = session(cpus)
    val t1 = now
    warmup(spark)
    val t2 = now
    emit(s""""type":"setup","session_s":${num(t1 - t0)},"warmup_s":${num(t2 - t1)},""" +
      s""""end_epoch_ms":${System.currentTimeMillis()}""")
    span("session", 0, 0, t0, t2)
    val sc = spark.sparkContext
    sc.addSparkListener(meter)
    if (trace) ioProbe(spark)
    probe(spark)
    emit(s""""type":"probe","when":"before","s":${num(probe(spark))}""")

    val heap = if (trace) Some(new HeapSampler) else None
    heap.foreach { h => System.gc(); h.start() }
    val os = ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    val cpu0 = os.getProcessCpuTime
    val p0 = now
    workload match {
      case "ingest_batches" => new Ingest(spark).run()
      case _ => queries(spark)
    }
    val p1 = now
    val cpu1 = os.getProcessCpuTime
    val heapFields = heap.map { h =>
      h.finish()
      s""","heap_peak_mb":${num(h.peak / 1048576.0)},""" +
        s""""heap_live_peak_mb":${num(h.livePeak / 1048576.0)}"""
    }.getOrElse("")
    emit(s""""type":"pass","start":${num(p0)},"end":${num(p1)},""" +
      s""""retained_mb":${num(storageMb(sc))},"rdds":${sc.getPersistentRDDs.size},""" +
      s""""cpu_s":${num((cpu1 - cpu0) / 1e9)},"hook_s":${num(hookS)}$heapFields""")
    emit(s""""type":"probe","when":"after","s":${num(probe(spark))}""")
    meter.snapshot.foreach { case (k, c) =>
      emit(s""""type":"counts","key":${js(k)},${c.json}""")
    }
    spark.stop()
  }

  /** `Tables.table` timed call by call: each table resolved twice. */
  private def ioProbe(spark: SparkSession): Unit = {
    val sc = spark.sparkContext
    sc.setLocalProperty(KeyProp, "io")
    val ms = for (_ <- 1 to 2; n <- Tables.names) yield {
      val t = now
      Tables.table(spark, dataDir, n)
      (now - t) * 1000
    }
    sc.setLocalProperty(KeyProp, null)
    PerfbenchAccess.drain(sc)
    emit(s""""type":"io","calls":${ms.size},"jobs":${meter.jobs("io")},""" +
      s""""ms":${ms.map(num).mkString("[", ",", "]")}""")
  }

  /** Storage held by persisted blocks, once every block update is in. */
  private def storageMb(sc: SparkContext): Double = {
    PerfbenchAccess.drain(sc)
    sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum / 1048576.0
  }

  private def cacheProbe(spark: SparkSession, op: Int): Unit = if (trace) hook {
    val sc = spark.sparkContext
    val mb = storageMb(sc)
    emit(s""""type":"cache","op":$op,"rdds":${sc.getPersistentRDDs.size},"mb":${num(mb)}""")
  }

  private def key(sc: SparkContext, op: Int, phase: String): Unit =
    sc.setLocalProperty(KeyProp, if (trace) s"$op:$phase" else "pass")

  private def queries(spark: SparkSession): Unit = {
    val sc = spark.sparkContext
    val golden = mapper.readTree(new File(o("golden"))).get("queries")
    val names = Files.readAllLines(Paths.get(o("ops"))).asScala.filter(_.nonEmpty)
    val forced = o.getOrElse("fail", "")
    val all = SparkEntry.queries
    names.zipWithIndex.foreach { case (name, i0) =>
      val op = i0 + 1
      val t = Array.fill(4)(Double.NaN)
      var err = ""
      var got = ""
      var wall = Double.NaN // own clock reads, to check the spans against
      val w0 = System.nanoTime()
      t(0) = now
      try {
        key(sc, op, "build")
        if (name == forced) throw new RuntimeException("forced failure (self-check)")
        val df = all(name)(spark, dataDir)
        t(1) = now
        key(sc, op, "plan")
        val cs = checksum(df)
        cs.queryExecution.executedPlan
        t(2) = now
        key(sc, op, "action")
        val r = cs.collect()(0)
        t(3) = now
        wall = (System.nanoTime() - w0) / 1e9
        got = s"${r.getLong(0)}/${r.get(1)}"
        err = check(golden.get(name), r.getLong(0), r.get(1).toString)
      } catch {
        case e: Throwable => err = s"${e.getClass.getSimpleName}: ${e.getMessage}".take(300)
      } finally sc.setLocalProperty(KeyProp, null)
      val end = now
      emit(s""""type":"op","op":$op,"name":${js(name)},"kind":"query",""" +
        s""""start":${num(t(0))},"end":${num(end)},"ok":${err.isEmpty},""" +
        s""""err":${js(err)},"got":${js(got)},"wall":${num(wall)},""" +
        s""""t":${t.map(num).mkString("[", ",", "]")}""")
      val root = span("query", op, 0, t(0), end)
      Seq("build", "plan", "action").zipWithIndex.foreach { case (p, j) =>
        if (!t(j + 1).isNaN) span(p, op, root, t(j), t(j + 1))
      }
      cacheProbe(spark, op)
    }
  }

  /** Empty when the result matches the golden entry. Entries without a
    * hash (seeded fits with no oracle) check the row count only. */
  private def check(g: JsonNode, rows: Long, hash: String): String =
    if (g == null) "no golden entry"
    else if (g.get("rows").asLong != rows) s"rows $rows != golden ${g.get("rows").asLong}"
    else if (g.has("hash") && g.get("hash").asText != hash) s"hash $hash != golden ${g.get("hash").asText}"
    else ""

  /** The ingest stream: each batch goes through `PipelineDriver.runIngest`
    * with the exact, near, minhash and vector lanes against registries that
    * persist across the run; listed batches are retried with their ledger
    * marker removed.
    */
  private final class Ingest(spark: SparkSession) {
    private val sc = spark.sparkContext
    private val dir = o("ingest")
    private val work = o("work")
    private val regBase = s"$work/registries"
    private val buckets = o("buckets").toInt
    private val threshold = o("threshold").toInt
    private val retries = o("retries").split(',').filter(_.nonEmpty).map(_.toInt).toSet
    private val manifest = mapper.readTree(new File(s"$dir/manifest.json"))
    private val lanes = Seq("graft_cli_ex", "graft_cli_nr", "graft_cli_mh", "graft_cli_vc")
    private var op = 0

    private def ids(b: Int, kind: String): Set[Long] =
      Option(manifest.get("batches").get(b).get("kinds").get(kind))
        .map(_.elements().asScala.map(_.asLong).toSet).getOrElse(Set.empty)

    private def ingest(b: Int, outDir: String, kind: String): (Boolean, Double, Double) = {
      op += 1
      key(sc, op, kind)
      val t0 = now
      val ran = try PipelineDriver.runIngest(spark, spark.read.parquet(s"$dir/batch_$b.parquet"),
        outDir, regBase, buckets, b, None, minhash = true, autoCompact = true,
        compactThreshold = threshold)
      finally sc.setLocalProperty(KeyProp, null)
      (ran, t0, now)
    }

    private def survivors(path: String): Set[Long] =
      spark.read.parquet(path).select("doc_id").collect().map(_.getLong(0)).toSet

    private def rowCounts: Seq[Long] = lanes.map(spark.table(_).count())

    private def record(b: Int, kind: String, t0: Double, t1: Double, end: Double,
        err: String, extra: String): Unit = {
      emit(s""""type":"op","op":$op,"name":"batch_$b","kind":${js(kind)},""" +
        s""""start":${num(t0)},"end":${num(end)},"ok":${err.isEmpty},"err":${js(err)},""" +
        s""""t":[${num(t0)},${num(t1)}]$extra""")
      val root = span(kind, op, 0, t0, end)
      span("runIngest", op, root, t0, t1)
      span("check", op, root, t1, end)
    }

    private def registryProbe(b: Int): Unit = if (trace) hook {
      lanes.foreach { nm =>
        val st = Registry.fileStats(spark, nm)
        emit(s""""type":"registry","batch":$b,"lane":${js(nm)},"files":${st.files},""" +
          s""""max_files_per_bucket":${st.maxFilesPerBucket},"bytes":${st.bytes}""")
      }
      emit(s""""type":"registry_disk","batch":$b,"bytes":${du(new File(regBase))}""")
    }

    private def du(f: File): Long =
      if (f.isDirectory) Option(f.listFiles()).map(_.map(du).sum).getOrElse(0L)
      else f.length()

    def run(): Unit = {
      val n = manifest.get("batches").size
      for (b <- 0 until n) {
        val outDir = s"$work/out_$b"
        var err = ""
        var t0, t1 = now
        var kept = Set.empty[Long]
        try {
          val (ran, a, z) = ingest(b, outDir, "batch")
          t0 = a; t1 = z
          kept = survivors(outDir)
          val bad = Seq("exact", "short").flatMap(k => (kept & ids(b, k)).map(k -> _))
          if (!ran) err = "batch reported as already committed"
          else if (bad.nonEmpty) err = s"${bad.size} injected rows survived, e.g. ${bad.head}"
        } catch {
          case e: Throwable => err = s"${e.getClass.getSimpleName}: ${e.getMessage}".take(300)
        }
        record(b, "batch", t0, t1, now, err,
          s""","rows":${manifest.get("batches").get(b).get("rows").asLong},"survivors":${kept.size}""")
        cacheProbe(spark, op)
        registryProbe(b)
        if (retries.contains(b)) retry(b, kept)
      }
      PerfbenchAccess.drain(sc)
      emit(s""""type":"registry_disk","batch":-1,"bytes":${du(new File(regBase))}""")
    }

    /** Replays a committed batch after removing its ledger marker: the
      * survivors must equal the first attempt's and no registry may grow. */
    private def retry(b: Int, kept: Set[Long]): Unit = {
      var err = ""
      var t0, t1 = now
      try {
        val before = rowCounts
        val marker = new org.apache.hadoop.fs.Path(s"$regBase/_committed/batch_$b")
        marker.getFileSystem(sc.hadoopConfiguration).delete(marker, false)
        val (ran, a, z) = ingest(b, s"$work/out_${b}_retry", "retry")
        t0 = a; t1 = z
        val again = survivors(s"$work/out_${b}_retry")
        val after = rowCounts
        if (!ran) err = "retry reported as already committed"
        else if (again != kept) err = s"retry survivors ${again.size} != first attempt ${kept.size}"
        else if (after != before) err = s"registry rows changed on retry: $before -> $after"
      } catch {
        case e: Throwable => err = s"${e.getClass.getSimpleName}: ${e.getMessage}".take(300)
      }
      record(b, "retry", t0, t1, now, err, "")
      cacheProbe(spark, op)
    }
  }
}
