package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode

import graft.SparkSpec
import graft.dedup.Registry.{Exact, Minhash, Near, Vec}
import graft.streaming.Streams.Maintained

class StreamsSpec extends SparkSpec {
  import spark.implicits._

  private def ts(sec: Int): Timestamp = new Timestamp(sec * 1000L)

  test("windowedAgg: watermarked tumbling windows count and sum") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Timestamp, Long, Double)]
    val events = input.toDF().toDF("ts", "user_id", "value")

    val agg = Streams.windowedAgg(events, "ts", "value",
      watermark = "10 seconds", windowDur = "10 seconds",
      keys = Seq("user_id"))
    val query = agg.writeStream.format("memory").queryName("win_test")
      .outputMode(OutputMode.Complete()).start()
    try {
      input.addData(
        (ts(1), 1L, 1.0), (ts(3), 1L, 2.0),   // window [0,10) user 1
        (ts(12), 1L, 5.0),                    // window [10,20) user 1
        (ts(4), 2L, 7.0))                     // window [0,10) user 2
      query.processAllAvailable()
      val out = spark.table("win_test")
        .select(unix_timestamp(col("win_start")).as("w"), col("user_id"),
          col("n"), col("total"))
        .as[(Long, Long, Long, Double)].collect().toSet
      assert(out == Set((0L, 1L, 2L, 3.0), (10L, 1L, 1L, 5.0),
        (0L, 2L, 1L, 7.0)))
    } finally query.stop()
  }

  test("windowedAgg sliding windows emit overlapping buckets") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Timestamp, Double)]
    val events = input.toDF().toDF("ts", "value")
    val agg = Streams.windowedAgg(events, "ts", "value",
      watermark = "10 seconds", windowDur = "10 seconds",
      slide = Some("5 seconds"))
    val query = agg.writeStream.format("memory").queryName("slide_test")
      .outputMode(OutputMode.Complete()).start()
    try {
      input.addData((ts(7), 1.0))
      query.processAllAvailable()
      val wins = spark.table("slide_test")
        .select(unix_timestamp(col("win_start")).as("w"))
        .as[Long].collect().sorted
      assert(wins.toSeq == Seq(0L, 5L)) // event at t=7 is in [0,10) and [5,15)
    } finally query.stop()
  }

  test("dedupStream keeps the first arrival of each key across batches") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Timestamp, Long, String)]
    val events = input.toDF().toDF("ts", "doc_id", "payload")
    val query = Streams.dedupStream(events, "ts", "10 seconds",
      Seq("doc_id"))
      .writeStream.format("memory").queryName("dedup_test")
      .outputMode(OutputMode.Append()).start()
    try {
      input.addData((ts(1), 1L, "a"), (ts(2), 1L, "b"), (ts(3), 2L, "c"))
      query.processAllAvailable()
      // duplicate in a later batch, within the watermark delay
      input.addData((ts(4), 1L, "d"), (ts(5), 3L, "e"))
      query.processAllAvailable()
      val out = spark.table("dedup_test")
        .select(col("doc_id"), col("payload"))
        .as[(Long, String)].collect().toSet
      assert(out == Set((1L, "a"), (2L, "c"), (3L, "e")))
    } finally query.stop()
  }

  test("stateful dedup runs on the RocksDB state store provider") {
    // The off-heap state backend for state that outgrows executor
    // memory at scale — same results as the default HDFS-backed
    // in-memory provider, flipped by config alone.
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      implicit val sqlCtx = spark.sqlContext
      val input = MemoryStream[(Timestamp, Long, String)]
      val events = input.toDF().toDF("ts", "doc_id", "payload")
      val query = Streams.dedupStream(events, "ts", "10 seconds",
        Seq("doc_id"))
        .writeStream.format("memory").queryName("rocksdb_dedup_test")
        .outputMode(OutputMode.Append()).start()
      try {
        input.addData((ts(1), 1L, "a"), (ts(2), 1L, "b"))
        query.processAllAvailable()
        input.addData((ts(3), 1L, "c"), (ts(4), 2L, "d"))
        query.processAllAvailable()
        val out = spark.table("rocksdb_dedup_test")
          .select(col("doc_id"), col("payload"))
          .as[(Long, String)].collect().toSet
        assert(out == Set((1L, "a"), (2L, "d")))
      } finally query.stop()
    } finally prev match {
      case Some(v) =>
        spark.conf.set("spark.sql.streaming.stateStore.providerClass", v)
      case None =>
        spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
    }
  }

  test("enrich: stream-static broadcast join, stateless per batch") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Timestamp, Long, Double)]
    val events = input.toDF().toDF("ts", "nation_id", "value")
    val dim = Seq((1L, "fr"), (2L, "de")).toDF("nation_id", "name")
    val query = Streams.enrich(events, dim, Seq("nation_id"))
      .writeStream.format("memory").queryName("enrich_test")
      .outputMode(OutputMode.Append()).start()
    try {
      input.addData((ts(1), 1L, 10.0), (ts(2), 3L, 20.0))
      query.processAllAvailable()
      input.addData((ts(3), 2L, 30.0))
      query.processAllAvailable()
      val out = spark.table("enrich_test")
        .select(col("nation_id"), col("name"), col("value"))
        .as[(Long, String, Double)].collect().toSet
      // unmatched key 3 drops (inner); both batches enrich statelessly
      assert(out == Set((1L, "fr", 10.0), (2L, "de", 30.0)))
    } finally query.stop()
  }

  test("curateStream: quality gate, cross-batch content dedup, PII masked") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Timestamp, Long, String)]
    val docs = input.toDF().toDF("ts", "doc_id", "text")
    val query = Streams.curateStream(docs, "ts", "text",
      watermark = "10 seconds", minChars = 20)
      .writeStream.format("memory").queryName("curate_stream_test")
      .outputMode(OutputMode.Append()).start()
    try {
      val body = "a long enough document reach me at bob@example.com " +
        "or 800-555-0199 from 10.0.3.77 ok"
      input.addData((ts(1), 1L, body), (ts(2), 2L, "short"),
        (ts(3), 3L, body)) // in-batch exact dup of doc 1
      query.processAllAvailable()
      input.addData((ts(4), 4L, body)) // cross-batch exact dup
      query.processAllAvailable()
      val rows = spark.table("curate_stream_test")
        .select(col("doc_id"), col("text")).as[(Long, String)].collect()
      // doc 2 fails the length gate; docs 3/4 are content dups
      assert(rows.map(_._1).toSeq == Seq(1L))
      assert(rows.head._2.contains("<EMAIL>"))
      assert(!rows.head._2.contains("bob@example.com"))
      // the extended classes scrub at ingestion too (q153's chain)
      assert(rows.head._2.contains("<PHONE> from <IP>"))
      assert(!rows.head._2.contains("800-555-0199"))
    } finally query.stop()
  }

  test("dedupStream state expiry can re-admit keys past the watermark") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Timestamp, Long, String)]
    val events = input.toDF().toDF("ts", "doc_id", "payload")
    val query = Streams.dedupStream(events, "ts", "5 seconds",
      Seq("doc_id"))
      .writeStream.format("memory").queryName("dedup_expiry_test")
      .outputMode(OutputMode.Append()).start()
    try {
      input.addData((ts(1), 1L, "a"))
      query.processAllAvailable()
      // advance the watermark far past key 1's state lifetime
      input.addData((ts(100), 2L, "b"))
      query.processAllAvailable()
      // key 1 reappears AFTER its dedup state expired: re-admitted —
      // the documented bounded-state trade of within-watermark dedup
      input.addData((ts(101), 1L, "c"))
      query.processAllAvailable()
      val payloads = spark.table("dedup_expiry_test")
        .select(col("payload")).as[String].collect().toSet
      assert(payloads == Set("a", "b", "c"))
    } finally query.stop()
  }

  test("nearDedupStream flags near-dups within the bucket across batches") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Streams.SimDoc]
    val query = Streams.nearDedupStream(input.toDS(), maxHamming = 3,
      idleMs = 60000L, watermarkDelay = "10 seconds")
      .writeStream.format("memory").queryName("neardedup_test")
      .outputMode(OutputMode.Append()).start()
    try {
      val base = 0x0123456789ABCL          // 60-bit simhash
      val farPrefix = base ^ (1L << 50)    // different 15-bit bucket
      input.addData(
        Streams.SimDoc(1L, ts(1), base),
        Streams.SimDoc(2L, ts(2), farPrefix))
      query.processAllAvailable()
      input.addData(
        Streams.SimDoc(3L, ts(3), base),          // hamming 0 vs doc 1
        Streams.SimDoc(4L, ts(4), base ^ 1L),     // hamming 1 vs doc 1
        Streams.SimDoc(5L, ts(5), base ^ 0xFFL))  // hamming 8: unique
      query.processAllAvailable()
      val out = spark.table("neardedup_test")
        .as[Streams.DedupDecision].collect()
        .map(d => d.docId -> ((d.isDup, d.nearId))).toMap
      assert(out(1L) == ((false, -1L)))
      assert(out(2L) == ((false, -1L)))
      assert(out(3L) == ((true, 1L)))   // earliest match wins
      assert(out(4L) == ((true, 1L)))
      assert(out(5L) == ((false, -1L)))
    } finally query.stop()
  }

  test("image-phash stream composes with nearDedupStream (real decode)") {
    implicit val sqlCtx = spark.sqlContext
    import graft.multimodal.Multimodal
    // 9x7 cell patterns expanded 4x to 36x28, encoded as REAL PNGs:
    // near differs from base in one cell of row 0 → dHash hamming 1;
    // far reverses the row pattern → many bits differ
    val row = Array(10, 20, 5, 30, 30, 40, 2, 9, 1)
    def cells(mod: (Int, Int) => Int) =
      Array.tabulate(9 * 7)(i => mod(i % 9, i / 9))
    def expand(c: Array[Int]) =
      Array.tabulate(36 * 28)(i => c((i / 4) % 9 + (i / (36 * 4)) * 9))
    val base = cells((x, _) => row(x))
    val near = cells((x, y) => if (y == 0 && x == 4) 32 else row(x))
    val far = cells((x, _) => row(8 - x))
    def png(c: Array[Int]) = Multimodal.encodeGrayPng(expand(c), 36, 28)
    // sanity on the fixture itself
    def hash(c: Array[Int]) =
      Multimodal.dHash56(Multimodal.decodeGrayPng(png(c)), 36, 28)
    assert(java.lang.Long.bitCount(hash(base) ^ hash(near)) == 1)
    assert(java.lang.Long.bitCount(hash(base) ^ hash(far)) > 3)

    // the stream: binary frames → real decode + phash in the map →
    // the SAME hash-agnostic stateful near-dedup the simhash path
    // uses (bucket = high bits of the hash)
    val input = MemoryStream[(Long, Timestamp, Array[Byte])]
    val docs = input.toDS().map { case (id, t, bin) =>
      Streams.SimDoc(id, t,
        Multimodal.dHash56(Multimodal.decodeGrayPng(bin), 36, 28))
    }
    val query = Streams.nearDedupStream(docs, maxHamming = 3,
      idleMs = 60000L, watermarkDelay = "10 seconds")
      .writeStream.format("memory").queryName("phash_dedup_test")
      .outputMode(OutputMode.Append()).start()
    try {
      input.addData((1L, ts(1), png(base)))
      query.processAllAvailable()
      input.addData((2L, ts(2), png(near)), (3L, ts(3), png(far)))
      query.processAllAvailable()
      val out = spark.table("phash_dedup_test")
        .as[Streams.DedupDecision].collect()
        .map(d => d.docId -> ((d.isDup, d.nearId))).toMap
      assert(out(1L) == ((false, -1L)))
      assert(out(2L) == ((true, 1L))) // perceptual near-dup of 1
      assert(out(3L) == ((false, -1L)))
    } finally query.stop()
  }

  test("decontamStream equals the batch n-gram overlap, end-to-end") {
    implicit val sqlCtx = spark.sqlContext
    val benchRows = Seq(
      (100L, "what is the capital of france asks the quiz"),
      (101L, "name every planet in the solar system today"))
    val trainRows = Seq(
      (1L, "page intro what is the capital of france asks the quiz outro"),
      (2L, "a clean document with no benchmark overlap anywhere at all"),
      (3L, "double  spaced tokens what is the capital of france asks the quiz"))
    val bench = benchRows.toDF("id", "text")
    val digests = graft.dedup.Dedup.windowDigestSet(bench, "text", n = 4)
    // batch truth from the q150 operator
    val batch = graft.dedup.Dedup.ngramOverlapAcross(
      trainRows.toDF("id", "text"), bench, "id", "text", n = 4)
      .as[(Long, Long, Long, Double)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    // the stream: stateless per-row kernel against the digest set
    val input = MemoryStream[(Long, String)]
    val query = Streams.decontamStream(
      input.toDS().toDF("id", "text"), "text", digests, n = 4)
      .writeStream.format("memory").queryName("decontam_test")
      .outputMode(OutputMode.Append()).start()
    try {
      input.addData(trainRows: _*)
      query.processAllAvailable()
      val out = spark.table("decontam_test")
        .selectExpr("id", "n_windows", "n_hit", "hit_frac")
        .as[(Long, Long, Long, Double)].collect()
        .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
      // contaminated docs match the batch report exactly
      batch.foreach { case (id, stats) => assert(out(id) == stats, id) }
      // the clean doc streams through with zero hits (the batch
      // operator drops it; the stream emits it for gating)
      assert(out(2L)._2 == 0L)
    } finally query.stop()
  }

  test("passageNoveltyStream: first carrier owns the fingerprint, state expires") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Streams.FpArrival]
    val query = Streams.passageNoveltyStream(input.toDS(), idleMs = 60000L,
      watermarkDelay = "10 seconds")
      .writeStream.format("memory").queryName("passage_test")
      .outputMode(OutputMode.Append()).start()
    try {
      // doc 1 introduces fingerprints 10/20/30; doc 2 re-carries 10/20
      // in the same batch (same-batch ordering: earlier ts wins)
      input.addData(
        Streams.FpArrival(1L, ts(1), 10L),
        Streams.FpArrival(1L, ts(1), 20L),
        Streams.FpArrival(1L, ts(1), 30L),
        Streams.FpArrival(2L, ts(2), 10L))
      query.processAllAvailable()
      input.addData(
        Streams.FpArrival(3L, ts(4), 20L),
        Streams.FpArrival(3L, ts(4), 40L))
      query.processAllAvailable()
      def byKey = spark.table("passage_test").as[Streams.FpNovelty]
        .collect().map(n => (n.fp, n.docId) -> ((n.isNew, n.firstId))).toMap
      assert(byKey((10L, 1L)) == ((true, 1L)))
      assert(byKey((10L, 2L)) == ((false, 1L))) // same-batch reuse seen
      assert(byKey((20L, 3L)) == ((false, 1L))) // cross-batch reuse seen
      assert(byKey((40L, 3L)) == ((true, 3L)))
      // idle expiry: an arrival far in event time pushes the watermark
      // past every fingerprint's last-seen + idleMs; once the timeouts
      // fire, a re-carried fingerprint counts as new again
      input.addData(Streams.FpArrival(8L, ts(200), 999L))
      query.processAllAvailable()
      input.addData(Streams.FpArrival(9L, ts(210), 10L))
      query.processAllAvailable()
      assert(byKey((10L, 9L)) == ((true, 9L)))
    } finally query.stop()
  }

  test("sessionize emits sessions when the watermark passes end + gap") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Streams.Event]
    val sessions = Streams.sessionize(input.toDS(), gapMs = 10000L)
    val query = sessions.writeStream.format("memory").queryName("sess_test")
      .outputMode(OutputMode.Append()).start()
    try {
      input.addData(
        Streams.Event(1L, ts(1), 2.0), Streams.Event(1L, ts(2), 3.0),
        Streams.Event(2L, ts(5), 7.0))
      query.processAllAvailable()
      // watermark still at 0 → no emissions
      assert(spark.table("sess_test").count() == 0)
      // an event far in event-time advances the watermark past
      // end+gap for users 1 and 2; the next batch fires the timeouts
      input.addData(Streams.Event(3L, ts(100), 1.0))
      query.processAllAvailable()
      input.addData(Streams.Event(3L, ts(101), 1.0))
      query.processAllAvailable()
      val out = spark.table("sess_test")
        .as[Streams.Session].collect().map(s => s.userId -> s).toMap
      assert(out.keySet == Set(1L, 2L))
      assert(out(1L).n == 2 && out(1L).total == 5.0)
      assert(out(1L).startMs == 1000L && out(1L).endMs == 2000L)
      assert(out(2L).n == 1 && out(2L).total == 7.0)
    } finally query.stop()
  }

  test("sessionizeBatch groups events separated by more than the gap") {
    val events = Seq(
      (1L, ts(1), 1.0), (1L, ts(2), 2.0),   // session 1
      (1L, ts(100), 4.0),                   // session 2 (98s gap)
      (2L, ts(5), 8.0)
    ).toDF("user_id", "ts", "value")
    val out = Streams.sessionizeBatch(events, "user_id", "ts", "value",
      gapMs = 30000L)
      .select("user_id", "n", "total").as[(Long, Long, Double)]
      .collect().toSet
    assert(out == Set((1L, 2L, 3.0), (1L, 1L, 4.0), (2L, 1L, 8.0)))
  }

  test("memorySink wrapper wires a query end to end") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Int]
    val query = Streams.memorySink(
      input.toDF().select((col("value") * 2).as("doubled")), "mem_test")
    try {
      input.addData(1, 2, 3)
      query.processAllAvailable()
      assert(spark.table("mem_test").as[Int].collect().sorted.toSeq ==
        Seq(2, 4, 6))
    } finally query.stop()
  }

  test("windowedAgg in Append mode drops data later than the watermark") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Timestamp, Long, Double)]
    val agg = Streams.windowedAgg(input.toDF().toDF("ts", "user_id", "value"),
      "ts", "value", watermark = "5 seconds", windowDur = "10 seconds")
    val query = agg.writeStream.format("memory").queryName("late_test")
      .outputMode(OutputMode.Append()).start()
    try {
      input.addData((ts(8), 1L, 1.0), (ts(9), 1L, 2.0))
      query.processAllAvailable()
      // advance the watermark past window [0,10) + delay
      input.addData((ts(40), 1L, 9.0))
      query.processAllAvailable()
      // this event belongs to the closed [0,10) window → dropped
      input.addData((ts(3), 1L, 100.0))
      query.processAllAvailable()
      input.addData((ts(60), 1L, 9.0))
      query.processAllAvailable()
      val closed = spark.table("late_test")
        .select(unix_timestamp(col("win_start")).as("w"), col("n"),
          col("total"))
        .as[(Long, Long, Double)].collect()
        .map { case (w, n, t) => w -> ((n, t)) }.toMap
      // the [0,10) window closed with ONLY the on-time rows
      assert(closed(0L) == ((2L, 3.0)))
    } finally query.stop()
  }

  test("intervalJoin matches only rows inside the time bound") {
    implicit val sqlCtx = spark.sqlContext
    val clicks = MemoryStream[(Timestamp, Long, Long)]
    val purchases = MemoryStream[(Timestamp, Long, Long)]
    val joined = Streams.intervalJoin(
      clicks.toDF().toDF("c_ts", "user_id", "click_id"),
      purchases.toDF().toDF("p_ts", "user_id", "purchase_id"),
      keyCol = "user_id", leftTs = "c_ts", rightTs = "p_ts",
      watermark = "0 seconds", before = "10 seconds", after = "10 seconds")
    val query = joined
      .select(col("click_id"), col("purchase_id"))
      .writeStream.format("memory").queryName("ij_test")
      .outputMode(OutputMode.Append()).start()
    try {
      clicks.addData((ts(100), 1L, 10L), (ts(200), 2L, 11L))
      purchases.addData(
        (ts(105), 1L, 50L),   // within 10s of click 10 → match
        (ts(150), 1L, 51L),   // 50s away → no match
        (ts(205), 3L, 52L))   // wrong user → no match
      query.processAllAvailable()
      val out = spark.table("ij_test")
        .as[(Long, Long)].collect().toSet
      assert(out == Set((10L, 50L)))
    } finally query.stop()
  }

  test("foreachBatchSink hands batches with ids to the handler") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.streaming.Trigger
    val chk = java.nio.file.Files
      .createTempDirectory("graft-feb").toFile.getAbsolutePath
    val input = MemoryStream[Int]
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Seq[Int])]()
    input.addData(1, 2, 3)
    val q = Streams.foreachBatchSink(input.toDF(), chk,
      trigger = Trigger.AvailableNow()) { (batch, id) =>
      seen.add((id, batch.as[Int](spark.implicits.newIntEncoder)
        .collect().sorted.toSeq))
    }
    q.awaitTermination()
    val batches = seen.toArray(Array.empty[(Long, Seq[Int])])
    assert(batches.flatMap(_._2).sorted.toSeq == Seq(1, 2, 3))
    assert(batches.map(_._1).distinct.length == batches.length)
  }

  test("socketSource streams loopback lines end-to-end (S14)") {
    // The sandbox has no egress but loopback works, so the socket
    // source is testable end-to-end: a local ServerSocket feeds
    // lines, the source micro-batches them into a memory sink.
    import java.net.{InetAddress, ServerSocket}
    val server = new ServerSocket(0, 8, InetAddress.getLoopbackAddress)
    val port = server.getLocalPort
    @volatile var serveErr: Throwable = null
    val feeder = new Thread(() => {
      try {
        val sock = server.accept()
        val w = new java.io.PrintWriter(sock.getOutputStream, true)
        Seq("alpha", "beta", "gamma").foreach(w.println)
        w.flush()
        // keep the connection open until the source has read the
        // lines; closing early would fail the running query
        Thread.sleep(15000)
        sock.close()
      } catch { case t: Throwable => serveErr = t }
    })
    feeder.setDaemon(true)
    feeder.start()
    val q = Streams.memorySink(
      Streams.socketSource(spark, "127.0.0.1", port), "sock_lines")
    try {
      // socket is a continuous (non-replayable) source —
      // processAllAvailable can't know the feeder is done, so poll
      val deadline = System.currentTimeMillis() + 30000
      def rows() = spark.table("sock_lines").as[String].collect().sorted
      while (rows().length < 3 && System.currentTimeMillis() < deadline) {
        q.processAllAvailable()
        Thread.sleep(200)
      }
      assert(serveErr == null, s"feeder failed: $serveErr")
      assert(rows().toSeq == Seq("alpha", "beta", "gamma"))
    } finally {
      q.stop()
      server.close()
    }
  }

  test("parquetSink is exactly-once across a checkpointed restart") {
    import java.nio.file.Files
    import org.apache.spark.sql.streaming.Trigger
    val base = Files.createTempDirectory("graft-stream-restart").toFile
    val in = new java.io.File(base, "in").getAbsolutePath
    val out = new java.io.File(base, "out").getAbsolutePath
    val chk = new java.io.File(base, "chk").getAbsolutePath
    val schema = spark.range(1).toDF("id").schema

    def source = spark.readStream.schema(schema).parquet(in)
    def runOnce(): Unit = {
      val q = Streams.parquetSink(source, out, chk,
        trigger = Trigger.AvailableNow())
      q.awaitTermination()
    }

    spark.range(0, 100).toDF("id").write.mode("append").parquet(in)
    runOnce()
    assert(spark.read.parquet(out).count() == 100)

    // second run resumes from the checkpoint: only the new files are
    // processed, nothing is duplicated
    spark.range(100, 150).toDF("id").write.mode("append").parquet(in)
    runOnce()
    val ids = spark.read.parquet(out).select("id").as[Long].collect()
    assert(ids.length == 150)
    assert(ids.toSet.size == 150) // exactly-once: no replays
  }

  test("driftMonitorStream scores each micro-batch like the batch operator") {
    import java.nio.file.Files
    implicit val sqlCtx = spark.sqlContext
    val ref = (0 until 1000).map(i => (i % 100) / 1.0).toDF("v")
    val refHist = graft.ops.Profiler.referenceHistogram(ref, "v", 16)
      .persist()
    refHist.count()
    val input = MemoryStream[Double]
    val results =
      scala.collection.mutable.Map.empty[Long, List[(Long, Long, Long, Long)]]
    val chk = Files.createTempDirectory("graft-drift-chk").toString
    val q = Streams.driftMonitorStream(
      input.toDF().withColumnRenamed("value", "v"), "v",
      refHist, 16, chk) { (drift, id) =>
      results.synchronized {
        results(id) = drift.as[(Long, Long, Long, Long)].collect().toList
      }
    }
    try {
      val batch1 = (0 until 200).map(_ => 12.5)
      val batch2 = (0 until 100).map(_ => 500.0) // all above ref max
      input.addData(batch1: _*); q.processAllAvailable()
      input.addData(batch2: _*); q.processAllAvailable()
      val expected1 = graft.ops.Profiler
        .chiSquareDrift(ref, batch1.toDF("v"), "v", 16)
        .as[(Long, Long, Long, Long)].collect().toList
      val expected2 = graft.ops.Profiler
        .chiSquareDrift(ref, batch2.toDF("v"), "v", 16)
        .as[(Long, Long, Long, Long)].collect().toList
      assert(results(0L) == expected1)
      assert(results(1L) == expected2)
    } finally { q.stop(); refHist.unpersist() }
  }

  test("registryMaintStream: streamed ingests equal from-scratch first-seen dedup") {
    import java.nio.file.Files
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, String)]
    val base = Files.createTempDirectory("graft-reg-stream").toString
    val name = "graft_stream_reg_spec"
    graft.dedup.Registry.create(spark, Exact, name, s"$base/reg", buckets = 4)
    val q = Streams.registryMaintStream(Exact,
      input.toDF().toDF("doc_id", "text"), "doc_id", "text",
      name, s"$base/chk")()
    try {
      // batch 1 re-introduces batch 0 texts under lower ids: the
      // registry must keep batch 0's keepers
      val b0 = Seq((10L, "alpha"), (11L, "beta"), (12L, "alpha"))
      val b1 = Seq((1L, "alpha"), (2L, "gamma"), (3L, "gamma"))
      input.addData(b0: _*); q.processAllAvailable()
      input.addData(b1: _*); q.processAllAvailable()
      val reg = spark.table(name)
        .as[(String, Long, Int)].collect().toSet
      val union = (b0.map(r => (r._1, r._2, 0)) ++
        b1.map(r => (r._1, r._2, 1))).toDF("doc_id", "text", "b")
      val scratch = union
        .groupBy(md5(col("text")).as("h"))
        .agg(min(struct(col("b"), col("doc_id"))).as("k"))
        .select(col("h"), col("k.doc_id"), col("k.b"))
        .as[(String, Long, Int)].collect().toSet
      assert(reg == scratch)
    } finally q.stop()
  }

  test("stream epochs: a SECOND checkpoint lineage against the same " +
      "registry gets a disjoint batch-number epoch — its first " +
      "micro-batch is NOT mistaken for a replay of the first " +
      "lineage's batch 0, so duplicates stay dropped (r14 ADVICE #5)") {
    import java.nio.file.Files
    implicit val sqlCtx = spark.sqlContext
    val base = Files.createTempDirectory("graft-reg-epoch").toString
    val name = "graft_stream_reg_epoch"
    graft.dedup.Registry.create(spark, Exact, name, s"$base/reg", buckets = 4)
    // lineage A: registers alpha/beta in ITS micro-batch 0
    val inA = MemoryStream[(Long, String)]
    val qA = Streams.registryMaintStream(Exact,
      inA.toDF().toDF("doc_id", "text"), "doc_id", "text",
      name, s"$base/chkA")()
    try {
      inA.addData((10L, "alpha"), (11L, "beta")); qA.processAllAvailable()
    } finally qA.stop()
    val afterA = spark.table(name).count()
    // lineage B: a NEW checkpoint — micro-batch ids restart at 0.
    // Under raw id.toInt its batch 0 would self-exclude lineage A's
    // batch-0 rows and re-admit alpha; under epochs it must drop.
    val kept = scala.collection.mutable.ArrayBuffer.empty[Long]
    val inB = MemoryStream[(Long, String)]
    val qB = Streams.registryMaintStream(Exact,
      inB.toDF().toDF("doc_id", "text"), "doc_id", "text",
      name, s"$base/chkB") { (survivors, _) =>
      kept ++= survivors.select($"keep_id").as[Long].collect()
    }
    try {
      inB.addData((20L, "alpha"), (21L, "gamma")); qB.processAllAvailable()
    } finally qB.stop()
    // foreachBatch executes in a CLONED session whose refresh does
    // not invalidate THIS session's relation cache (standard Spark
    // cross-session semantics — the afterA count above cached the
    // pre-B file listing); re-reading after another session's write
    // takes a REFRESH, exactly like any external-writer table
    spark.sql(s"REFRESH TABLE $name")
    assert(kept.toSet == Set(21L),
      s"lineage B must drop the registered duplicate; kept=$kept")
    assert(spark.table(name).count() == afterA + 1,
      "only the novel digest may append")
    // B's rows carry the next epoch's namespaced batch number
    val bRows = spark.table(name)
      .filter($"keep_id" === 21L).select($"batch_no").as[Int].collect()
    assert(bRows.toSeq == Seq(1 << 20),
      s"expected epoch-1 batch number, got ${bRows.toSeq}")
    // the SAME checkpoint resolves the SAME epoch on a restart
    assert(graft.dedup.Registry.streamEpochBase(spark, name,
      s"$base/chkA") == 0)
    assert(graft.dedup.Registry.streamEpochBase(spark, name,
      s"$base/chkB") == 1)
  }

  test("ingestStream: streamed batches equal direct sequential " +
      "ingestBatch calls, funnel counts included") {
    import java.nio.file.Files
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, String)]
    val base = Files.createTempDirectory("graft-ingest-stream").toString
    def long(salt: String) = (1 to 30).map(i => s"ig${salt}x$i").mkString(" ")
    graft.dedup.Registry.create(spark, Exact, "graft_ingstr_ex", s"$base/ex", 4)
    graft.dedup.Registry.create(spark, Near(), "graft_ingstr_nr",
      s"$base/nr", 4)
    val bench = Seq((0L, long("bench"))).toDF("doc_id", "text")
    val funnels =
      scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long, Long)]
    val survivors = scala.collection.mutable.ArrayBuffer.empty[Long]
    val q = Streams.ingestStream(input.toDF().toDF("doc_id", "text"),
      "doc_id", "text",
      Seq("graft_ingstr_ex" -> Exact, "graft_ingstr_nr" -> Near()),
      bench, "text", s"$base/chk") { (r, id) =>
      funnels += ((id, r.nIn, r.nNear, r.nClean))
      survivors ++= r.survivors.select($"doc_id").as[Long].collect()
    }
    try {
      // b0: A + short + contaminated; b1: exact copy of A + reversed
      // A (near drop) + novel
      val a = long("aa")
      input.addData((1L, a), (2L, "too short"),
        (3L, long("cc") + " " + long("bench")))
      q.processAllAvailable()
      input.addData((10L, a), (11L, a.split(" ").reverse.mkString(" ")),
        (12L, long("dd")))
      q.processAllAvailable()
    } finally q.stop()
    assert(funnels.toList == List((0L, 3L, 2L, 1L), (1L, 3L, 1L, 1L)),
      funnels.toList.toString)
    assert(survivors.toSet == Set(1L, 12L))
  }

  test("ingestStream replay safety: a replayed micro-batch (crash " +
      "between registry appends and the corpus sink) receives the " +
      "ORIGINAL survivors, and a batch-keyed Overwrite handler yields " +
      "exactly-once corpus state (r13 advisory)") {
    import java.nio.file.Files
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, String)]
    val base = Files.createTempDirectory("graft-ingest-replay").toString
    def long(salt: String) = (1 to 30).map(i => s"ir${salt}x$i").mkString(" ")
    graft.dedup.Registry.create(spark, Exact, "graft_ingrp_ex", s"$base/ex", 4)
    graft.dedup.Registry.create(spark, Near(), "graft_ingrp_nr", s"$base/nr", 4)
    val bench = Seq((0L, long("bench"))).toDF("doc_id", "text")
    // the recommended handler shape: idempotent per-batch Overwrite
    def sink(r: graft.pipeline.Pipelines.IngestBatchResult,
        id: Long): Unit =
      r.survivors.write.mode("overwrite")
        .parquet(s"$base/corpus/batch_no=$id")
    val q = Streams.ingestStream(input.toDF().toDF("doc_id", "text"),
      "doc_id", "text",
      Seq("graft_ingrp_ex" -> Exact, "graft_ingrp_nr" -> Near()),
      bench, "text", s"$base/chk")(sink)
    val a = long("aa")
    try {
      input.addData((1L, a), (2L, long("bb")))
      q.processAllAvailable()
      input.addData((10L, a), (11L, long("cc")))
      q.processAllAvailable()
    } finally q.stop()
    val corpus = spark.read.parquet(s"$base/corpus")
      .select($"doc_id").as[Long].collect().toSet
    assert(corpus == Set(1L, 2L, 11L))
    val regRows = (spark.table("graft_ingrp_ex").count(),
      spark.table("graft_ingrp_nr").count())
    // THE REPLAY: foreachBatch re-delivers micro-batch 1 after a
    // crash between the registry appends and the sink — the same
    // call the stream's wrapper makes, same batch id
    val replayed = graft.pipeline.Pipelines.ingestBatch(spark,
      Seq((10L, a), (11L, long("cc"))).toDF("doc_id", "text"),
      "doc_id", "text",
      Seq("graft_ingrp_ex" -> Exact, "graft_ingrp_nr" -> Near()),
      bench, "text", batchNo = 1, minChars = 100)
    assert(replayed.survivors.select($"doc_id").as[Long].collect().toSet
      == Set(11L), "replayed batch must see its original survivors")
    sink(replayed, 1L)
    assert(spark.read.parquet(s"$base/corpus")
      .select($"doc_id").as[Long].collect().toSet == corpus,
      "batch-keyed Overwrite sink must be exactly-once under replay")
    assert((spark.table("graft_ingrp_ex").count(),
      spark.table("graft_ingrp_nr").count()) == regRows,
      "registries must not grow on replay")
  }

  test("ingestStream survives a checkpointed kill/restart: resumed " +
      "micro-batches continue the batch numbering and the final " +
      "registry + corpus state equals the direct sequential chain") {
    import java.nio.file.Files
    val base = Files.createTempDirectory("graft-ingest-restart").toString
    def long(salt: String) = (1 to 30).map(i => s"rs${salt}x$i").mkString(" ")
    val a = long("aa")
    graft.dedup.Registry.create(spark, Exact, "graft_ingrs_ex", s"$base/ex", 4)
    graft.dedup.Registry.create(spark, Near(), "graft_ingrs_nr", s"$base/nr", 4)
    val bench = Seq((0L, long("bench"))).toDF("doc_id", "text")
    val schema = Seq((0L, "")).toDF("doc_id", "text").schema
    def sink(r: graft.pipeline.Pipelines.IngestBatchResult,
        id: Long): Unit =
      r.survivors.write.mode("overwrite")
        .parquet(s"$base/corpus/batch_no=$id")
    def runOnce(): Unit = {
      val q = Streams.ingestStream(
        spark.readStream.schema(schema).parquet(s"$base/in"),
        "doc_id", "text",
        Seq("graft_ingrs_ex" -> Exact, "graft_ingrs_nr" -> Near()),
        bench, "text", s"$base/chk")(sink)
      try q.processAllAvailable() finally q.stop()
    }
    // batch 0 arrives, is processed, then the process DIES (q.stop)
    val b0 = Seq((1L, a), (2L, long("bb")))
    b0.toDF("doc_id", "text").write.mode("append").parquet(s"$base/in")
    runOnce()
    // batch 1 arrives; a NEW process resumes from the checkpoint —
    // batch numbering must continue at 1, history must still count
    val b1 = Seq((10L, a), (11L, long("cc")))
    b1.toDF("doc_id", "text").write.mode("append").parquet(s"$base/in")
    runOnce()
    val corpus = spark.read.parquet(s"$base/corpus")
      .select($"doc_id", $"batch_no").as[(Long, Long)].collect().toSet
    assert(corpus == Set((1L, 0L), (2L, 0L), (11L, 1L)),
      s"got $corpus")
    // registry state equals the direct sequential chain on fresh
    // registries (same batches, same numbers, no stream)
    graft.dedup.Registry.create(spark, Exact, "graft_ingrs_ex2",
      s"$base/ex2", 4)
    graft.dedup.Registry.create(spark, Near(), "graft_ingrs_nr2",
      s"$base/nr2", 4)
    Seq((b0, 0), (b1, 1)).foreach { case (rows, b) =>
      graft.pipeline.Pipelines.ingestBatch(spark,
        rows.toDF("doc_id", "text"), "doc_id", "text",
        Seq("graft_ingrs_ex2" -> Exact, "graft_ingrs_nr2" -> Near()),
        bench, "text", b, minChars = 100)
    }
    assert(spark.table("graft_ingrs_ex").as[(String, Long, Int)]
      .collect().toSet ==
      spark.table("graft_ingrs_ex2").as[(String, Long, Int)]
        .collect().toSet)
    assert(spark.table("graft_ingrs_nr")
      .as[(Int, Long, Long, Long, Int)].collect().toSet ==
      spark.table("graft_ingrs_nr2")
        .as[(Int, Long, Long, Long, Int)].collect().toSet)
  }

  test("hllMaintStream: maintained registers == from-scratch; estimates agree") {
    import java.nio.file.Files
    implicit val sqlCtx = spark.sqlContext
    val base = Files.createTempDirectory("graft-hll").toString
    // the state dir as a plain path and as a Hadoop `file:` URI: the
    // prior version must be found through either form
    Seq(s"$base/state", s"file:$base/state_uri").zipWithIndex.foreach {
        case (stateDir, n) =>
      val input = MemoryStream[(String, String)]
      val q = Streams.maintainStream(Maintained.hll("k", Seq("g")),
        input.toDF().toDF("g", "k"), stateDir, s"$base/chk$n")
      try {
        val b1 = (1 to 400).map(i => ("a", s"u${i % 150}")) ++
          (1 to 100).map(i => ("b", s"v$i"))
        val b2 = (1 to 300).map(i => ("a", s"u${100 + i}")) ++
          (1 to 50).map(i => ("b", s"v${i + 80}"))
        input.addData(b1: _*); q.processAllAvailable()
        input.addData(b2: _*); q.processAllAvailable()
        val maintained = spark.read.parquet(s"$stateDir/v1")
        val scratch = graft.ops.Hll.registers(
          (b1 ++ b2).toDF("g", "k"), "k", Seq("g"))
        assert(maintained.as[(String, Int, Int)].collect().toSet ==
          scratch.as[(String, Int, Int)].collect().toSet, stateDir)
        val estM = graft.ops.Hll.estimate(maintained, Seq("g"))
          .as[(String, Long, Long)].collect().toSet
        val estS = graft.ops.Hll.estimate(scratch, Seq("g"))
          .as[(String, Long, Long)].collect().toSet
        assert(estM == estS)
      } finally q.stop()
    }
  }

  test("nearRegistryMaintStream: streamed near-dedup equals the sequential replay") {
    import java.nio.file.Files
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, String)]
    val base = Files.createTempDirectory("graft-nreg-stream").toString
    val name = "graft_stream_nreg_spec"
    graft.dedup.Registry.create(spark, Near(), name, s"$base/reg", buckets = 4)
    val q = Streams.registryMaintStream(Near(),
      input.toDF().toDF("doc_id", "text"), "doc_id", "text",
      name, s"$base/chk")()
    try {
      val long = (1 to 60).map(i => s"tk$i").mkString(" ")
      val other = (1 to 60).map(i => s"yy$i").mkString(" ")
      input.addData((10L, long), (11L, other)); q.processAllAvailable()
      // batch 2: exact copy of 10 must be rejected by history
      input.addData((20L, long)); q.processAllAvailable()
      val reg = spark.table(name).select($"doc_id").distinct()
        .as[Long].collect().toSet
      assert(reg == Set(10L, 11L))
    } finally q.stop()
  }

  test("minhashRegistryMaintStream: streamed Jaccard dedup rejects " +
      "re-ingested exact copies, keeps novel docs") {
    import java.nio.file.Files
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, String)]
    val base = Files.createTempDirectory("graft-mreg-stream").toString
    val name = "graft_stream_mreg_spec"
    graft.dedup.Registry.create(spark, Minhash(), name, s"$base/reg",
      buckets = 4)
    val q = Streams.registryMaintStream(Minhash(),
      input.toDF().toDF("doc_id", "text"), "doc_id", "text",
      name, s"$base/chk")()
    try {
      val long = (1 to 60).map(i => s"sm$i").mkString(" ")
      val other = (1 to 60).map(i => s"qq$i").mkString(" ")
      input.addData((10L, long), (11L, other)); q.processAllAvailable()
      // batch 2: exact copy of 10 (8/8 signature agreement) must be
      // rejected by history
      input.addData((20L, long)); q.processAllAvailable()
      val reg = spark.table(name).select($"doc_id").distinct()
        .as[Long].collect().toSet
      assert(reg == Set(10L, 11L))
    } finally q.stop()
  }

  test("vecRegistryMaintStream: streamed vector dedup rejects re-ingested copies") {
    import java.nio.file.Files
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, Seq[Float])]
    val base = Files.createTempDirectory("graft-vreg-stream").toString
    val name = "graft_stream_vreg_spec"
    graft.dedup.Registry.create(spark, Vec(), name, s"$base/reg", buckets = 4)
    val q = Streams.registryMaintStream(Vec(),
      input.toDF().toDF("vec_id", "embedding"), "vec_id", "embedding",
      name, s"$base/chk")()
    try {
      val a = (0 until 64).map(i => 0.1f * i)
      val b = (0 until 64).map(i => if (i % 2 == 0) 1f else -1f)
      input.addData((10L, a)); q.processAllAvailable()
      input.addData((20L, a), (21L, b)); q.processAllAvailable()
      val reg = spark.table(name).select($"vec_id").distinct()
        .as[Long].collect().toSet
      assert(reg == Set(10L, 21L))
    } finally q.stop()
  }

  test("cmsMaintStream: maintained sketch equals the from-scratch sketch; estimates agree") {
    import java.nio.file.Files
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[String]
    val base = Files.createTempDirectory("graft-cms").toString
    val stateDir = s"$base/state"
    val (d, w) = (3, 64)
    val q = Streams.maintainStream(Maintained.cms("k", d, w),
      input.toDF().toDF("k"), stateDir, s"$base/chk")
    try {
      val batch1 = (0 until 300).map(i => s"k${i % 40}")
      val batch2 = (0 until 200).map(i => s"k${i % 55}")
      input.addData(batch1: _*); q.processAllAvailable()
      input.addData(batch2: _*); q.processAllAvailable()
      val maintained = spark.read.parquet(s"$stateDir/v1")
      val scratch = graft.ops.CountMin.sketch(
        (batch1 ++ batch2).toDF("k"), "k", d, w)
      assert(maintained.as[(Int, Long, Long)].collect().toSet ==
        scratch.as[(Int, Long, Long)].collect().toSet)
      // point estimates off the maintained state match from-scratch
      val probes = (0 until 55).map(i => s"k$i").toDF("k")
      val estM = graft.ops.CountMin
        .estimate(maintained, probes, "k", d, w)
        .as[(String, Long)].collect().toSet
      val estS = graft.ops.CountMin.estimate(scratch, probes, "k", d, w)
        .as[(String, Long)].collect().toSet
      assert(estM == estS)
    } finally q.stop()
  }

  test("transitionsMaintStream: maintained == from-scratch across batch boundaries") {
    import java.nio.file.Files
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, String, Long, Long)]
    val base = Files.createTempDirectory("graft-trans").toString
    val stateDir = s"$base/state"
    val m = Maintained.transitions("u", "t", "ts", "id")
    val q = Streams.maintainStream(m,
      input.toDF().toDF("u", "t", "ts", "id"), stateDir, s"$base/chk")
    try {
      // u1 straddles b1/b2, u2 straddles b2/b3, u3 only in b1 —
      // every boundary case: closed transition, carried last row
      val b1 = Seq((1L, "A", 1L, 1L), (1L, "B", 2L, 2L), (3L, "A", 1L, 3L))
      val b2 = Seq((1L, "C", 3L, 4L), (2L, "A", 4L, 5L), (2L, "B", 5L, 6L))
      val b3 = Seq((2L, "C", 6L, 7L))
      input.addData(b1: _*); q.processAllAvailable()
      input.addData(b2: _*); q.processAllAvailable()
      input.addData(b3: _*); q.processAllAvailable()
      val state = spark.read.parquet(s"$stateDir/v2")
      val maintained = m.read(state)
        .as[(String, String, Long)].collect().toList
      val scratch = graft.ops.EventAnalytics.transitionCounts(
          (b1 ++ b2 ++ b3).toDF("u", "t", "ts", "id"),
          "u", "t", "ts", "id")
        .as[(String, String, Long)].collect().toList
      assert(maintained == scratch)
      // both B->C bigrams exist ONLY across batch boundaries
      assert(maintained.contains(("B", "C", 2L)))
      // boundary state: exactly one last row per ever-seen user
      val lasts = state.filter($"__kind" === "u")
        .select($"__user", $"__type").as[(Long, String)].collect().toSet
      assert(lasts == Set((1L, "C"), (2L, "C"), (3L, "A")))
    } finally q.stop()
  }

  test("scd2MaintStream: maintained intervals == from-scratch across batches") {
    import java.nio.file.Files
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, Double, Long, Long)]
    val base = Files.createTempDirectory("graft-scd2").toString
    val stateDir = s"$base/state"
    val q = Streams.maintainStream(Maintained.scd2("u", "v", "ts", "id"),
      input.toDF().toDF("u", "v", "ts0", "id")
        .withColumn("ts", timestamp_micros($"ts0")),
      stateDir, s"$base/chk")
    try {
      // u1: change, boundary NO-OP (1.0 again), change, change —
      // the cross-boundary collapse and the close both exercise;
      // u2 appears only in batch 2; u3 only in batch 1 (untouched
      // carry); batch 3 repeats u2's last value (all-collapse batch)
      val b1 = Seq((1L, 1.0, 1000L, 1L), (1L, 2.0, 2000L, 2L),
        (1L, 1.0, 3000L, 3L), (3L, 9.0, 1000L, 4L))
      val b2 = Seq((1L, 1.0, 4000L, 5L), (1L, 4.0, 5000L, 6L),
        (2L, 7.0, 4500L, 7L))
      val b3 = Seq((2L, 7.0, 6000L, 8L), (1L, 5.0, 7000L, 9L))
      input.addData(b1: _*); q.processAllAvailable()
      input.addData(b2: _*); q.processAllAvailable()
      input.addData(b3: _*); q.processAllAvailable()
      val maintained = spark.read.parquet(s"$stateDir/v2")
        .orderBy($"u", $"version")
        .as[(Long, Int, Long, Long, Option[Long], Boolean)]
        .collect().toList
      val scratch = graft.ops.EventAnalytics.scd2Intervals(
          (b1 ++ b2 ++ b3).toDF("u", "v", "ts0", "id")
            .withColumn("ts", timestamp_micros($"ts0")),
          "u", "v", "ts", "id")
        .orderBy($"u", $"version")
        .as[(Long, Int, Long, Long, Option[Long], Boolean)]
        .collect().toList
      assert(maintained == scratch)
      // the boundary no-op collapsed: u1's value-1.0 interval at
      // version 3 spans THROUGH the batch-2 repeat (closes at the
      // 4.0 change, us=5000)
      assert(maintained.exists { case (u, ver, fx, from, to, _) =>
        u == 1L && ver == 3 && fx == 100L && to.contains(5000L) })
      // u3 carried untouched and current
      assert(maintained.exists { case (u, _, fx, _, to, cur) =>
        u == 3L && fx == 900L && to.isEmpty && cur })
    } finally q.stop()
  }

  test("kmvMaintStream: maintained sketch == sketch of everything seen") {
    import java.nio.file.Files
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[String]
    val base = Files.createTempDirectory("graft-kmv").toString
    val stateDir = s"$base/state"
    val q = Streams.maintainStream(Maintained.kmv("k", k = 32),
      input.toDF().toDF("k"), stateDir, s"$base/chk")
    try {
      val b1 = (0 until 300).map(i => s"u${i % 170}")
      val b2 = (0 until 300).map(i => s"u${i % 110 + 120}")
      input.addData(b1: _*); q.processAllAvailable()
      input.addData(b2: _*); q.processAllAvailable()
      val maintained = spark.read.parquet(s"$stateDir/v1")
        .orderBy($"__h").as[Long].collect().toList
      val scratch = graft.ops.DistinctSketch
        .sketchOf((b1 ++ b2).toDF("k"), col("k"), 32)
        .as[Long].collect().toList
      assert(maintained == scratch && maintained.size == 32)
    } finally q.stop()
  }

  test("ewmaMaintStream: maintained gate summary == from-scratch across batches") {
    import java.nio.file.Files
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, Double, Long, Long, String)]
    val base = Files.createTempDirectory("graft-ewma").toString
    val stateDir = s"$base/state"
    val m = Maintained.ewma("u", "v", "ts", "id", "t", k = 3)
    val q = Streams.maintainStream(m,
      input.toDF().toDF("u", "v", "ts", "id", "t"), stateDir, s"$base/chk")
    try {
      // u1: 13 flat observations then a spike, split 5/5/3 so rows
      // 9-10 gate across one boundary and 11-13 across two; u2 has
      // only 6 rows total — never gated, in either path
      val u1 = (1 to 13).map(i =>
        (1L, if (i == 12) 40.0 else 1.0, i.toLong, i.toLong, "a"))
      val u2 = (1 to 6).map(i => (2L, 2.0, i.toLong, 100L + i, "b"))
      val b1 = u1.take(5) ++ u2.take(3)
      val b2 = u1.slice(5, 10) ++ u2.drop(3)
      val b3 = u1.drop(10)
      input.addData(b1: _*); q.processAllAvailable()
      input.addData(b2: _*); q.processAllAvailable()
      input.addData(b3: _*); q.processAllAvailable()
      val state = spark.read.parquet(s"$stateDir/v2")
      val maintained = m.read(state)
        .as[(String, Long, Long, Long, Long)].collect().toList
      val scratch = graft.ops.ControlChart.ewmaSummary(
          (b1 ++ b2 ++ b3).toDF("u", "v", "ts", "id", "t"),
          "u", "v", "ts", "id", "t")
        .as[(String, Long, Long, Long, Long)].collect().toList
      assert(maintained == scratch)
      // the spike at row 12 was gated across a boundary
      assert(maintained.exists { case (t, _, sp, _, _) =>
        t == "a" && sp >= 1L })
      // u2 (6 rows < depth 8) never reached gated status
      assert(!maintained.exists(_._1 == "b"))
      // tail state: u1's trailing 8, all 6 of u2's
      val tails = state.filter($"__kind" === "u")
        .groupBy($"__user").count()
        .as[(Long, Long)].collect().toMap
      assert(tails == Map(1L -> 8L, 2L -> 6L))
    } finally q.stop()
  }

  test("pathsMaintStream: len-3 windows spanning 2 and 3 batches all counted once") {
    import java.nio.file.Files
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, String, Long, Long)]
    val base = Files.createTempDirectory("graft-paths").toString
    val stateDir = s"$base/state"
    val m = Maintained.paths("u", "t", "ts", "id", len = 3)
    val q = Streams.maintainStream(m,
      input.toDF().toDF("u", "t", "ts", "id"), stateDir, s"$base/chk")
    try {
      // u1's stream A B | C D | E: NO window fits a single batch —
      // every one spans 2 or 3 of them; u2 mixes in-batch (X Y Z X)
      // and boundary (Z X | Y) windows
      val b1 = Seq((1L, "A", 1L, 1L), (1L, "B", 2L, 2L))
      val b2 = Seq((1L, "C", 3L, 3L), (1L, "D", 4L, 4L),
        (2L, "X", 1L, 5L), (2L, "Y", 2L, 6L), (2L, "Z", 3L, 7L),
        (2L, "X", 4L, 8L))
      val b3 = Seq((1L, "E", 5L, 9L), (2L, "Y", 5L, 10L))
      input.addData(b1: _*); q.processAllAvailable()
      input.addData(b2: _*); q.processAllAvailable()
      input.addData(b3: _*); q.processAllAvailable()
      val state = spark.read.parquet(s"$stateDir/v2")
      val maintained = m.read(state)
        .as[(String, Long)].collect().toList
      val scratch = graft.ops.EventAnalytics.pathCounts(
          (b1 ++ b2 ++ b3).toDF("u", "t", "ts", "id"),
          "u", "t", "ts", "id", len = 3)
        .as[(String, Long)].collect().toList
      assert(maintained == scratch)
      assert(maintained.map(_._1).contains("C>D>E")) // 3-batch span
      // tail state: each user's trailing 2 events
      val tails = state.filter($"__kind" === "u")
        .select($"__user", $"__type").as[(Long, String)].collect()
        .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
      assert(tails == Map(1L -> Set("D", "E"), 2L -> Set("X", "Y")))
    } finally q.stop()
  }

  test("concentrationMaintStream: maintained gate equals from-scratch") {
    import java.nio.file.Files
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[String]
    val base = Files.createTempDirectory("graft-conc").toString
    val stateDir = s"$base/state"
    val q = Streams.maintainStream(Maintained.groupCounts("g"),
      input.toDF().toDF("g"), stateDir, s"$base/chk")
    try {
      val batch1 = (0 until 120).map(i => s"s${i % 4}")
      val batch2 = (0 until 90).map(i => s"s${i % 7}")
      input.addData(batch1: _*); q.processAllAvailable()
      input.addData(batch2: _*); q.processAllAvailable()
      val maintained = graft.ops.Concentration.ofCounts(
          spark.read.parquet(s"$stateDir/v1"), "g", "__c")
        .as[(Long, Long, Long, Long, Long)].collect().head
      val scratch = graft.ops.Concentration.concentration(
          (batch1 ++ batch2).toDF("g"), "g")
        .as[(Long, Long, Long, Long, Long)].collect().head
      assert(maintained == scratch)
      assert(maintained._2 == 210L)
    } finally q.stop()
  }

  test("psiMonitorStream: per-batch PSI equals the batch psiDrift") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Double]
    val ref = (0 until 1000).map(i => (i % 100) / 1.0).toDF("v")
    val refHist = graft.ops.Profiler.referenceHistogram(ref, "v", 16)
      .persist()
    refHist.count()
    val results = scala.collection.mutable.Map
      .empty[Long, List[(Long, Long, Long, Long)]]
    val chk = java.nio.file.Files
      .createTempDirectory("graft-psi-chk").toString
    val q = Streams.psiMonitorStream(
      input.toDF().toDF("v"), "v", refHist, 16, chk) { (out, id) =>
      results(id) = out.as[(Long, Long, Long, Long)].collect().toList
    }
    try {
      val batch1 = (0 until 400).map(i => (i % 100) / 1.0)
      val batch2 = (0 until 100).map(_ => 500.0) // all above ref max
      input.addData(batch1: _*); q.processAllAvailable()
      input.addData(batch2: _*); q.processAllAvailable()
      assert(results(0L) == graft.ops.Profiler
        .psiDrift(ref, batch1.toDF("v"), "v", 16)
        .as[(Long, Long, Long, Long)].collect().toList)
      assert(results(1L) == graft.ops.Profiler
        .psiDrift(ref, batch2.toDF("v"), "v", 16)
        .as[(Long, Long, Long, Long)].collect().toList)
    } finally { q.stop(); refHist.unpersist() }
  }

  test("rollupMaintStream: maintained state equals the from-scratch rollup") {
    import java.nio.file.Files
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(String, Double)]
    val base = Files.createTempDirectory("graft-rollup").toString
    val stateDir = s"$base/state"
    val q = Streams.maintainStream(Maintained.rollup("g", "v"),
      input.toDF().toDF("g", "v"), stateDir, s"$base/chk")
    try {
      val batch1 = (0 until 300).map(i => (s"g${i % 3}", i * 0.37))
      val batch2 = (300 until 500).map(i => (s"g${i % 4}", i * 0.37))
      input.addData(batch1: _*); q.processAllAvailable()
      input.addData(batch2: _*); q.processAllAvailable()
      val finalState = spark.read.parquet(s"$stateDir/v1")
      val maintained = graft.ops.Incremental.finish(finalState)
        .orderBy("g")
        .as[(String, Long, Long, Long, Long, Long)].collect().toList
      val scratch = graft.ops.Incremental.finish(
        graft.ops.Incremental.aggState(
          (batch1 ++ batch2).toDF("g", "v"), "g", "v"))
        .orderBy("g")
        .as[(String, Long, Long, Long, Long, Long)].collect().toList
      assert(maintained == scratch)
      assert(maintained.map(_._1).contains("g3")) // batch2-only group
    } finally q.stop()
  }

  private def orderedList(ev: org.apache.spark.sql.DataFrame,
      steps: Seq[String]): List[(Int, String, Long)] =
    graft.ops.EventAnalytics.orderedFunnel(
      ev, "user_id", "event_type", "ts", steps)
      .as[(Int, String, Long)].collect().toList

  private def windowedList(ev: org.apache.spark.sql.DataFrame,
      steps: Seq[String], gapMs: Long): List[(Int, String, Long)] =
    graft.ops.EventAnalytics.windowedFunnel(
      ev, "user_id", "event_type", "ts", steps, gapMs)
      .as[(Int, String, Long)].collect().toList

  test("funnelMaintStream: maintained state answers both funnels like from-scratch") {
    import java.nio.file.Files
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, String, Timestamp)]
    val base = Files.createTempDirectory("graft-funnel").toString
    val steps = Seq("view", "click", "purchase")
    val q = Streams.maintainStream(
      Maintained.funnel("user_id", "event_type", "ts", steps),
      input.toDF().toDF("user_id", "event_type", "ts"),
      s"$base/state", s"$base/chk")
    try {
      // u1's chain is SPLIT ACROSS BATCHES (view in batch 0, the
      // rest in batch 1) — only real cross-batch maintenance can
      // convert it; "noise" types must be compacted away
      val batch1 = Seq((1L, "view", ts(10)), (2L, "view", ts(10)),
        (2L, "click", ts(20)), (3L, "noise", ts(5)))
      val batch2 = Seq((1L, "click", ts(3000)), (1L, "purchase", ts(3100)),
        (2L, "view", ts(10))) // duplicate arrival — distinct absorbs it
      input.addData(batch1: _*); q.processAllAvailable()
      input.addData(batch2: _*); q.processAllAvailable()
      val state = spark.read.parquet(s"$base/state/v1")
      val all = (batch1 ++ batch2).toDF("user_id", "event_type", "ts")
      val mOrdered = orderedList(state, steps)
      assert(mOrdered == orderedList(all, steps))
      assert(mOrdered.map(_._3) == List(2L, 2L, 1L)) // u1 converted
      // the windowed form over the same maintained state: u1's 50-min
      // view→click gap exceeds a 10-minute window, u2 still converts
      val mWin = windowedList(state, steps, 600000L)
      assert(mWin == windowedList(all, steps, 600000L))
      assert(mWin.map(_._3) == List(2L, 1L, 0L))
      // state carries only step-typed rows
      assert(state.filter(col("event_type") === "noise").count() == 0L)
    } finally q.stop()
  }

  test("retentionMaintStream: late earlier event moves the cohort, like from-scratch") {
    import java.nio.file.Files
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, Timestamp)]
    val base = Files.createTempDirectory("graft-retention").toString
    val q = Streams.maintainStream(Maintained.userWeeks("user_id", "ts"),
      input.toDF().toDF("user_id", "ts"), s"$base/state", s"$base/chk")
    try {
      val wk = 7 * 86400
      // batch 0: u1 active weeks 1 and 2; u2 week 1
      val batch1 = Seq((1L, ts(wk + 5)), (1L, ts(2 * wk + 5)),
        (2L, ts(wk + 9)))
      // batch 1: u1's week-0 event arrives LATE — cohort must move
      val batch2 = Seq((1L, ts(10)), (2L, ts(wk + 9)))
      input.addData(batch1: _*); q.processAllAvailable()
      input.addData(batch2: _*); q.processAllAvailable()
      val maintained = graft.ops.EventAnalytics.retentionTriangle(
        spark.read.parquet(s"$base/state/v1"))
        .as[(Long, Long, Long)].collect().toList
      val scratch = graft.ops.EventAnalytics.cohortRetention(
        (batch1 ++ batch2).toDF("user_id", "ts"), "user_id", "ts")
        .as[(Long, Long, Long)].collect().toList
      assert(maintained == scratch)
      // u1 cohort week 0 (the late arrival), offsets 0/1/2; u2 week 1
      assert(maintained == List(
        (0L, 0L, 1L), (0L, 1L, 1L), (0L, 2L, 1L), (1L, 0L, 1L)))
    } finally q.stop()
  }

  test("bloomSeenStream: prior-batch keys flag probably-seen, new keys exactly new") {
    import java.nio.file.Files
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Long]
    val base = Files.createTempDirectory("graft-bloom").toString
    val (mBits, kH) = (1 << 14, 3)
    val out = scala.collection.mutable.Map.empty[Long, List[(Long, Boolean)]]
    val q = Streams.bloomSeenStream(
      input.toDF().toDF("k"), "k", mBits, kH,
      s"$base/state", s"$base/chk") { (flagged, id) =>
      out(id) = flagged.select(col("k"), col("probably_seen"))
        .as[(Long, Boolean)].collect().toList
    }
    try {
      input.addData(1L to 200L: _*); q.processAllAvailable()
      // batch 0 sees an empty bloom: nothing can be flagged seen
      assert(out(0L).forall(!_._2))
      // batch 1: 50 repeats + 50 genuinely new keys
      input.addData((151L to 250L): _*); q.processAllAvailable()
      val b1 = out(1L).toMap
      // NO FALSE NEGATIVES: every true repeat is flagged
      assert((151L to 200L).forall(b1(_)))
      // the flagging equals the batch bloom over the prior batch's keys
      val words = graft.ops.Bloom.fitWords(
        graft.ops.Bloom.positions((1L to 200L).toDF("k"), "k", mBits, kH),
        mBits)
      val expect = (151L to 250L).toDF("k")
        .withColumn("p", graft.ops.Bloom.containsCol(words, mBits, kH, col("k")))
        .as[(Long, Boolean)].collect().toMap
      assert(b1 == expect)
      // at this fill (600 bits of 16384) new keys are mostly new
      assert((201L to 250L).count(b1(_)) < 5)
    } finally q.stop()
  }

  // ---- maintainStream / maintainBatch over every family ----

  private val famTypes = Seq("view", "click", "purchase", "noise", "view")

  /** Batch `b` of the family fixture: 3 users × 4 events, ts and id
    * rising across batches (the ordering contract); user 1's value
    * repeats across both cuts (SCD2 no-ops), user 2 spikes in batch 2.
    */
  private def famBatch(b: Int) = (0 until 12).map { i =>
    (i % 3 + 1L, famTypes((i + b) % 5),
      new Timestamp((b * 100L + i) * 72000000L), b * 100L + i,
      ((i * 7 + b * 3) % 5).toDouble + (if (i == 10 && b == 2) 40.0 else 0.0),
      s"k${(i * 5 + b) % 9}", s"g${i % 4}")
  }.toDF("u", "t", "ts", "id", "v", "k", "g")

  private def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.collect().toSeq.map(_.toString).sorted

  /** Every file under `dir` with its bytes, for byte-identity checks. */
  private def snapshot(dir: String): Map[String, Seq[Byte]] = {
    import java.nio.file.{Files, Path}
    import scala.jdk.CollectionConverters._
    val root = java.nio.file.Paths.get(dir)
    val ps = Files.walk(root)
    try ps.iterator().asScala.filter(Files.isRegularFile(_))
      .map((p: Path) => root.relativize(p).toString ->
        Files.readAllBytes(p).toSeq).toMap
    finally ps.close()
  }

  import graft.ops.{CountMin, DistinctSketch, EventAnalytics, Hll, Incremental}

  // (family, maintained value, from-scratch operator in `read`'s
  // shape, the on-disk state schema — pinned so the format cannot drift)
  private val families: Seq[(String, Maintained,
      org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame,
      String)] = Seq(
    ("cms", Maintained.cms("k", 3, 64), CountMin.sketch(_, "k", 3, 64),
      "struct<__r:int,__b:bigint,__n:bigint>"),
    ("hll", Maintained.hll("k", Seq("g")), Hll.registers(_, "k", Seq("g")),
      "struct<g:string,bucket:int,r:int>"),
    ("rollup", Maintained.rollup("g", "v"), Incremental.aggState(_, "g", "v"),
      "struct<g:string,n:bigint,sum_fx:bigint,min_fx:bigint,max_fx:bigint>"),
    ("groupCounts", Maintained.groupCounts("g"),
      _.groupBy($"g").agg(count(lit(1)).as("__c")),
      "struct<g:string,__c:bigint>"),
    ("kmv", Maintained.kmv("k", 8), DistinctSketch.sketchOf(_, $"k", 8),
      "struct<__h:bigint>"),
    ("funnel", Maintained.funnel("u", "t", "ts", Seq("view", "click", "purchase")),
      EventAnalytics.funnelState(_, "u", "t", "ts", Seq("view", "click", "purchase")),
      "struct<u:bigint,t:string,ts:timestamp>"),
    ("userWeeks", Maintained.userWeeks("u", "ts"),
      EventAnalytics.userWeeks(_, "u", "ts"),
      "struct<__u:bigint,__wk:bigint>"),
    ("scd2", Maintained.scd2("u", "v", "ts", "id"),
      EventAnalytics.scd2Intervals(_, "u", "v", "ts", "id"),
      "struct<u:bigint,version:int,value_fx:bigint,valid_from_us:bigint," +
        "valid_to_us:bigint,is_current:boolean>"),
    ("transitions", Maintained.transitions("u", "t", "ts", "id"),
      EventAnalytics.transitionCounts(_, "u", "t", "ts", "id"),
      "struct<__kind:string,from_type:string,to_type:string,n:bigint," +
        "__user:bigint,__ts:timestamp,__id:bigint,__type:string>"),
    ("paths", Maintained.paths("u", "t", "ts", "id", len = 3),
      EventAnalytics.pathCounts(_, "u", "t", "ts", "id", len = 3),
      "struct<__kind:string,path:string,n:bigint,__user:bigint," +
        "__ts:timestamp,__id:bigint,__type:string>"),
    ("ewma", Maintained.ewma("u", "v", "ts", "id", "t"),
      graft.ops.ControlChart.ewmaSummary(_, "u", "v", "ts", "id", "t"),
      "struct<__kind:string,t:string,n_gated:bigint,n_spike:bigint," +
        "n_dip:bigint,sum_absdev:bigint,__user:bigint,__ts:timestamp," +
        "__id:bigint,__xq:bigint>"))

  families.foreach { case (family, m, scratch, schema) =>
    test(s"maintained $family: 3 streamed batches == from-scratch, the " +
        "batch twin == read(v1), a replayed batch rewrites only its " +
        "version, state schema pinned") {
      import java.nio.file.{Files, Paths}
      val base = Files.createTempDirectory(s"graft-maint-$family").toString
      val (stateDir, chk) = (s"$base/state", s"$base/chk")
      val src = famBatch(0).schema
      def runOnce(): Unit = {
        val q = Streams.maintainStream(m,
          spark.readStream.schema(src).parquet(s"$base/in"), stateDir, chk)
        try q.processAllAvailable() finally q.stop()
      }
      // each batch lands while no query runs, then a restart from the
      // checkpoint takes it as one micro-batch
      (0 to 2).foreach { b =>
        famBatch(b).write.mode("append").parquet(s"$base/in")
        runOnce()
      }
      def v(id: Int) = spark.read.parquet(s"$stateDir/v$id")
      // (a) maintained == the operator over the union
      val all = famBatch(0).unionByName(famBatch(1)).unionByName(famBatch(2))
      assert(rows(m.read(v(2))) == rows(scratch(all)))
      // (b) the batch twin equals the stream's second version
      assert(rows(Streams.maintainBatch(m, famBatch(0), famBatch(1))) ==
        rows(m.read(v(1))))
      // (d) the on-disk state format
      (0 to 2).foreach(id => assert(v(id).schema.simpleString == schema))
      // (c) drop batch 2's commit: the restart re-delivers batch 2
      val before = (snapshot(s"$stateDir/v0"), snapshot(s"$stateDir/v1"))
      val v2Rows = rows(v(2))
      val v2Files = snapshot(s"$stateDir/v2").keySet
      Seq("commits/2", "commits/.2.crc")
        .foreach(f => Files.deleteIfExists(Paths.get(s"$chk/$f")))
      runOnce()
      assert(Files.exists(Paths.get(s"$chk/commits/2")), "batch 2 re-ran")
      assert(snapshot(s"$stateDir/v2").keySet != v2Files,
        "the replay rewrites v2")
      assert(rows(v(2)) == v2Rows, "the replay writes the same rows")
      assert((snapshot(s"$stateDir/v0"), snapshot(s"$stateDir/v1")) ==
        before, "the replay leaves the earlier versions untouched")
    }
  }

  test("maintainStream lineage: a fresh checkpoint on a maintained " +
      "state dir fails before it writes, leaving the history intact") {
    import java.nio.file.Files
    implicit val sqlCtx = spark.sqlContext
    val base = Files.createTempDirectory("graft-lineage").toString
    val stateDir = s"$base/state"
    val m = Maintained.groupCounts("g")
    val inA = MemoryStream[String]
    val qA = Streams.maintainStream(m, inA.toDF().toDF("g"), stateDir,
      s"$base/chkA")
    try {
      inA.addData("a", "b"); qA.processAllAvailable()
      inA.addData("a", "c"); qA.processAllAvailable()
    } finally qA.stop()
    val history = snapshot(stateDir)
    assert(history.keys.exists(_.startsWith("v1")))
    // lineage B: a NEW checkpoint restarts micro-batch ids at 0 — its
    // batch 0 must not overwrite lineage A's v0
    val inB = MemoryStream[String]
    val qB = Streams.maintainStream(m, inB.toDF().toDF("g"), stateDir,
      s"$base/chkB")
    val err = try {
      inB.addData("z"); intercept[Exception](qB.processAllAvailable())
    } finally qB.stop()
    assert(Iterator.iterate[Throwable](err)(_.getCause).takeWhile(_ != null)
      .exists(_.getMessage.contains("another stream lineage")), err)
    assert(snapshot(stateDir) == history, "v0/v1 must stay byte-identical")
    // the owning lineage still resumes
    val qA2 = Streams.maintainStream(m, inA.toDF().toDF("g"), stateDir,
      s"$base/chkA")
    try { inA.addData("c"); qA2.processAllAvailable() } finally qA2.stop()
    assert(spark.read.parquet(s"$stateDir/v2").as[(String, Long)]
      .collect().toSet == Set(("a", 2L), ("b", 1L), ("c", 2L)))
  }

  test("stripBoilerplateStream scrubs arriving docs against a batch hot set") {
    implicit val sqlCtx = spark.sqlContext
    // offline pass: banner appears in 3 historical docs → hot
    val history = Seq(
      (1L, "alpha body\nCOOKIE BANNER"),
      (2L, "beta body\nCOOKIE BANNER"),
      (3L, "COOKIE BANNER\ngamma body"),
      (4L, "delta body")
    ).toDF("doc_id", "text")
    val hot = graft.dedup.Dedup.hotParagraphDigests(
      history, "doc_id", "text", minDocs = 3)

    val input = MemoryStream[(Long, String)]
    val stream = input.toDF().toDF("doc_id", "text")
    val query = Streams.stripBoilerplateStream(stream, "text", hot)
      .writeStream.format("memory").queryName("boiler_test")
      .outputMode(OutputMode.Append()).start()
    try {
      input.addData(
        (10L, "fresh doc\nCOOKIE BANNER\nmore text"),
        (11L, "clean doc entirely"))
      query.processAllAvailable()
      val out = spark.table("boiler_test")
        .select(col("doc_id"), col("text"), col("n_paras"), col("n_removed"))
        .as[(Long, String, Long, Long)].collect()
        .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
      assert(out(10L) == (("fresh doc\nmore text", 3L, 1L)))
      assert(out(11L) == (("clean doc entirely", 1L, 0L)))
    } finally query.stop()
  }

  test("snapshotDiffStream tags arriving docs as added/changed/unchanged") {
    implicit val sqlCtx = spark.sqlContext
    val baseline = graft.ops.Snapshots.digests(
      Seq((1L, "alpha"), (2L, "beta")).toDF("doc_id", "text"),
      "doc_id", "text")
    val input = MemoryStream[(Long, String)]
    val stream = input.toDF().toDF("doc_id", "text")
    val query = Streams.snapshotDiffStream(stream, "doc_id", "text", baseline)
      .writeStream.format("memory").queryName("snap_stream_test")
      .outputMode(OutputMode.Append()).start()
    try {
      input.addData((1L, "alpha"), (2L, "beta CHANGED"), (9L, "new doc"))
      query.processAllAvailable()
      val out = spark.table("snap_stream_test")
        .select(col("doc_id"), col("status"))
        .as[(Long, String)].collect().toMap
      assert(out === Map(1L -> "unchanged", 2L -> "changed", 9L -> "added"))
    } finally query.stop()
  }

  test("classifyStream scores arriving docs with the offline NB model") {
    implicit val sqlCtx = spark.sqlContext
    import graft.feature.NaiveBayes
    val train = Seq(
      ("en", "the cat sat"), ("en", "the dog sat"),
      ("fr", "le chat assis"), ("fr", "le chien assis")
    ).toDF("lang", "text")
      .select(col("lang"), split(col("text"), " ").as("toks"))
    val model = NaiveBayes.fitCompact(train, "toks", "lang")

    val input = MemoryStream[(Long, String)]
    val stream = input.toDF().toDF("doc_id", "text")
    val query = Streams.classifyStream(stream, "text", model)
      .writeStream.format("memory").queryName("nb_stream_test")
      .outputMode(OutputMode.Append()).start()
    try {
      input.addData(
        (1L, "the cat"), (2L, "le chien chien"), (3L, "zzz unseen"))
      query.processAllAvailable()
      val out = spark.table("nb_stream_test")
        .select(col("doc_id"), col("pred"))
        .as[(Long, Option[String])].collect().toMap
      assert(out(1L).contains("en"))
      assert(out(2L).contains("fr"))
      assert(out(3L).isEmpty) // no in-model token → null pred, row kept
      // stateless scoring agrees with the batch classifier
      val batchPred = NaiveBayes.classify(train,
        Seq((1L, "the cat"), (2L, "le chien chien"))
          .toDF("doc_id", "text")
          .select(col("doc_id"), split(col("text"), " ").as("toks")),
        "doc_id", "toks", "lang")
        .select(col("doc_id"), col("pred"))
        .as[(Long, String)].collect().toMap
      assert(batchPred.view.mapValues(Option(_)).toMap ===
        out.filter(_._2.nonEmpty))
    } finally query.stop()
  }
}
