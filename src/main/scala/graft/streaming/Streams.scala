package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.expressions.{Window, WindowSpec}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery, Trigger}

import graft.ops.Pin

/** Structured Streaming module (SURVEY.md §2.1 S14-S18, §2.11;
  * reference DataLoader.scala:96-253 source/sink wrappers).
  *
  * The reference's streaming surface is ingestion plumbing only —
  * no watermarks or stateful operators. We reproduce its source/sink
  * matrix and add the event-time layer a modern engine needs
  * (declared extension per SURVEY §2.11): watermarked tumbling/
  * sliding windows and timeout-based sessionization. All operators
  * are incremental: state lives in the state store keyed by
  * group/window, scales horizontally with shuffle partitions, and
  * late data past the watermark is dropped deterministically.
  */
object Streams {

  // ---- sources (S14, S15) ----

  def socketSource(spark: SparkSession, host: String, port: Int): DataFrame =
    spark.readStream.format("socket")
      .option("host", host).option("port", port).load()

  /** Kafka source with the reference's options
    * (DataLoader.scala:118-131): key/value cast to string.
    */
  def kafkaSource(spark: SparkSession, brokers: String, subscribe: String,
      startingOffsets: String = "latest", minPartitions: Option[Int] = None,
      failOnDataLoss: Boolean = false): DataFrame = {
    val r = spark.readStream.format("kafka")
      .option("kafka.bootstrap.servers", brokers)
      .option("subscribe", subscribe)
      .option("startingOffsets", startingOffsets)
      .option("failOnDataLoss", failOnDataLoss.toString)
    minPartitions.foreach(n => r.option("minPartitions", n.toString))
    r.load().selectExpr("CAST(key AS STRING) AS key",
      "CAST(value AS STRING) AS value", "topic", "partition", "offset",
      "timestamp")
  }

  // ---- sinks (S16, S17, S18) ----

  def memorySink(df: DataFrame, queryName: String,
      outputMode: OutputMode = OutputMode.Append()): StreamingQuery =
    df.writeStream.format("memory").queryName(queryName)
      .outputMode(outputMode).start()

  def consoleSink(df: DataFrame, outputMode: OutputMode = OutputMode.Append(),
      trigger: Trigger = Trigger.ProcessingTime("5 seconds")): StreamingQuery =
    df.writeStream.format("console").outputMode(outputMode)
      .trigger(trigger).start()

  /** Streaming parquet sink (S17): checkpointed, optionally
    * partitioned, processing-time trigger.
    */
  def parquetSink(df: DataFrame, path: String, checkpoint: String,
      partitionBy: Seq[String] = Nil,
      trigger: Trigger = Trigger.ProcessingTime("10 seconds")): StreamingQuery = {
    val w = df.writeStream.format("parquet")
      .option("path", path).option("checkpointLocation", checkpoint)
      .trigger(trigger)
    (if (partitionBy.nonEmpty) w.partitionBy(partitionBy: _*) else w).start()
  }

  /** Kafka sink (S18): requires (key, value) string columns. */
  def kafkaSink(df: DataFrame, brokers: String, topic: String,
      checkpoint: String): StreamingQuery =
    df.writeStream.format("kafka")
      .option("kafka.bootstrap.servers", brokers)
      .option("topic", topic)
      .option("checkpointLocation", checkpoint)
      .start()

  /** foreachBatch sink: hands each micro-batch to arbitrary batch
    * logic (idempotent merges, multi-sink fan-out, JDBC upserts —
    * the sink shapes the built-in formats can't express). The
    * batchId makes the handler replay-safe: a batch re-delivered
    * after a failure arrives with the same id.
    */
  def foreachBatchSink(df: DataFrame, checkpoint: String,
      trigger: Trigger = Trigger.ProcessingTime("10 seconds"))(
      handler: (DataFrame, Long) => Unit): StreamingQuery =
    df.writeStream
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .foreachBatch(handler)
      .start()

  // ---- event-time layer (declared extension) ----

  /** Watermarked tumbling (or sliding, when `slide` is set) window
    * aggregation: count + sum(value) per (window, keys).
    */
  def windowedAgg(events: DataFrame, tsCol: String, valueCol: String,
      watermark: String, windowDur: String, slide: Option[String] = None,
      keys: Seq[String] = Nil): DataFrame = {
    val win = slide.fold(window(col(tsCol), windowDur))(s =>
      window(col(tsCol), windowDur, s))
    events.withWatermark(tsCol, watermark)
      .groupBy(win +: keys.map(col): _*)
      .agg(count(lit(1)).as("n"), sum(col(valueCol)).as("total"))
      .select(Seq(col("window.start").as("win_start"),
        col("window.end").as("win_end")) ++ keys.map(col) ++
        Seq(col("n"), col("total")): _*)
  }

  /** Streaming exact dedup on a key (the streaming form of the batch
    * dropDuplicates dedup, M11): keeps the FIRST arrival of each
    * `keyCols` combination. With `withinWatermark` the per-key state
    * expires once the watermark passes — bounded state, the only form
    * that survives an unbounded stream; duplicates farther apart in
    * event time than the watermark delay can then reappear, which is
    * the standard trade. Without it state grows with distinct keys
    * (exact forever, bounded corpus only).
    */
  def dedupStream(events: DataFrame, tsCol: String, watermark: String,
      keyCols: Seq[String], withinWatermark: Boolean = true): DataFrame = {
    val wm = events.withWatermark(tsCol, watermark)
    if (withinWatermark) wm.dropDuplicatesWithinWatermark(keyCols)
    else wm.dropDuplicates(keyCols)
  }

  /** Stream-stream interval join (§2.11 extension): left row at time
    * tL matches right rows of the same key with tR in
    * [tL - before, tL + after]. Both sides carry the watermark, so
    * the join state expires deterministically — without the time
    * bound a stream-stream join would buffer both streams forever.
    * Column contract: both sides carry `keyCol`; the two event-time
    * columns must have different names (they both appear qualified
    * in the join condition).
    */
  def intervalJoin(left: DataFrame, right: DataFrame, keyCol: String,
      leftTs: String, rightTs: String, watermark: String,
      before: String, after: String): DataFrame = {
    val l = left.withWatermark(leftTs, watermark).alias("l")
    val r = right.withWatermark(rightTs, watermark).alias("r")
    l.join(r,
      col(s"l.$keyCol") === col(s"r.$keyCol") &&
        col(s"r.$rightTs") >= col(s"l.$leftTs") - expr(s"INTERVAL $before") &&
        col(s"r.$rightTs") <= col(s"l.$leftTs") + expr(s"INTERVAL $after"))
      .drop(col(s"r.$keyCol"))
  }

  // ---- stateful sessionization (mapGroupsWithState) ----

  case class Event(userId: Long, ts: java.sql.Timestamp, value: Double)
  case class SessionState(start: Long, end: Long, n: Int, total: Double)
  case class Session(userId: Long, startMs: Long, endMs: Long, n: Int,
    total: Double)

  /** Event-time sessionization: events for a user belong to one
    * session until `gapMs` of event-time silence. A session is
    * emitted when the watermark passes its end + gap — fully
    * deterministic in event time (a processing-time timeout would
    * re-trigger micro-batches on the wall clock and make results
    * run-dependent). State is per-user in the state store —
    * O(active users), not O(events).
    */
  def sessionize(events: Dataset[Event], gapMs: Long,
      watermarkDelay: String = "0 seconds"): Dataset[Session] = {
    import events.sparkSession.implicits._
    events.withWatermark("ts", watermarkDelay)
      .groupByKey(_.userId)
      .flatMapGroupsWithState[SessionState, Session](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (userId: Long, rows: Iterator[Event], state: GroupState[SessionState]) =>
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator.single(Session(userId, s.start, s.end, s.n, s.total))
          } else {
            val batch = rows.toSeq
            val tsMin = batch.map(_.ts.getTime).min
            val tsMax = batch.map(_.ts.getTime).max
            val cur = state.getOption.getOrElse(SessionState(tsMin, tsMax, 0, 0d))
            val merged = SessionState(
              math.min(cur.start, tsMin), math.max(cur.end, tsMax),
              cur.n + batch.size, cur.total + batch.map(_.value).sum)
            state.update(merged)
            // close when the watermark passes the last event + gap
            state.setTimeoutTimestamp(merged.end + gapMs)
            Iterator.empty
          }
      }
  }

  // ---- stateful streaming near-dedup ----

  case class SimDoc(docId: Long, ts: java.sql.Timestamp, simhash: Long)
  case class DedupDecision(docId: Long, isDup: Boolean, nearId: Long)

  /** Streaming NEAR-duplicate detection: documents are keyed by the
    * 15-bit SimHash prefix bucket (the same single-table bucketing as
    * the batch near-pair search), and each bucket keeps the last
    * `maxPerBucket` (simhash, docId) pairs as state. A new document
    * is flagged a near-dup when any retained simhash in its bucket is
    * within `maxHamming`; `nearId` is the earliest such match (-1
    * when unique). Emitted per arrival in Append mode, deterministic
    * within a batch (group rows processed in (ts, docId) order).
    *
    * State is doubly bounded — the only thing that matters on an
    * unbounded stream: per-bucket entries cap at `maxPerBucket`
    * (oldest evicted first), and idle buckets expire wholesale when
    * the watermark passes their last arrival + `idleMs`. The
    * single-prefix recall trade vs the batch multiprobe search
    * ([[graft.dedup.Dedup.simhashNearPairs]]) is the standard
    * streaming compromise: one stateful operator, no second shuffle.
    */
  def nearDedupStream(docs: Dataset[SimDoc], maxHamming: Int,
      idleMs: Long, watermarkDelay: String = "0 seconds",
      maxPerBucket: Int = 128): Dataset[DedupDecision] = {
    import docs.sparkSession.implicits._
    docs.withWatermark("ts", watermarkDelay)
      .groupByKey(d => d.simhash >>> 45)
      .flatMapGroupsWithState[List[(Long, Long)], DedupDecision](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (_: Long, rows: Iterator[SimDoc],
            state: GroupState[List[(Long, Long)]]) =>
          if (state.hasTimedOut) {
            state.remove()
            Iterator.empty
          } else {
            var seen = state.getOption.getOrElse(Nil)
            val batch = rows.toSeq.sortBy(d => (d.ts.getTime, d.docId))
            val out = batch.map { d =>
              val hit = seen.reverseIterator.find { case (sh, _) =>
                java.lang.Long.bitCount(sh ^ d.simhash) <= maxHamming
              }
              seen = ((d.simhash, d.docId) :: seen).take(maxPerBucket)
              DedupDecision(d.docId, hit.isDefined,
                hit.map(_._2).getOrElse(-1L))
            }
            state.update(seen)
            state.setTimeoutTimestamp(
              batch.map(_.ts.getTime).max + idleMs)
            out.iterator
          }
      }
  }

  // ---- stateful streaming passage-reuse detection ----

  case class FpArrival(docId: Long, ts: java.sql.Timestamp, fp: Long)
  case class FpNovelty(fp: Long, docId: Long, isNew: Boolean, firstId: Long)

  /** Streaming passage-reuse detection — the ingestion twin of
    * [[graft.text.Winnow.sharedFingerprintPairs]]: arriving documents
    * are exploded to (docId, ts, fingerprint) rows batch-side
    * (`explode(Winnow.fingerprintsFast(text))` — a stateless map),
    * and THIS operator keys by fingerprint and remembers the first
    * document that carried it. Each arrival is emitted with
    * `isNew` (fingerprint never seen inside the state horizon) and
    * `firstId` (the document that introduced it; the arrival's own
    * id when new). A document whose arrivals are mostly `isNew =
    * false` is passage-level duplicated; aggregate per docId
    * downstream (foreachBatch, or a batch pass over the sink).
    *
    * State is one (first docId) per fingerprint active inside the
    * watermark + `idleMs` horizon — the streaming compromise vs the
    * batch pair join, which sees all history. Idle fingerprints
    * expire wholesale via the event-time timeout, so state tracks
    * the recent-passage working set, not the corpus. Deterministic
    * within a batch: group rows are processed in (ts, docId) order.
    */
  def passageNoveltyStream(fps: Dataset[FpArrival], idleMs: Long,
      watermarkDelay: String = "0 seconds"): Dataset[FpNovelty] = {
    import fps.sparkSession.implicits._
    fps.withWatermark("ts", watermarkDelay)
      .groupByKey(_.fp)
      .flatMapGroupsWithState[Long, FpNovelty](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (fp: Long, rows: Iterator[FpArrival], state: GroupState[Long]) =>
          if (state.hasTimedOut) {
            state.remove()
            Iterator.empty
          } else {
            val batch = rows.toSeq.sortBy(d => (d.ts.getTime, d.docId))
            var first = state.getOption.getOrElse(-1L)
            val out = batch.map { d =>
              val isNew = first == -1L
              if (isNew) first = d.docId
              FpNovelty(fp, d.docId, isNew, first)
            }
            state.update(first)
            state.setTimeoutTimestamp(batch.map(_.ts.getTime).max + idleMs)
            out.iterator
          }
      }
  }

  /** Stream-static dimension enrichment: join an unbounded stream
    * against a bounded dimension table. Stateless — the static side
    * broadcasts to every task and each micro-batch joins map-side,
    * so there is no state store, no watermark requirement, and no
    * shuffle of the stream. The streaming twin of q05's star-join
    * dimension legs; for a dimension too big to broadcast, drop the
    * hint and each micro-batch runs a shuffle join instead.
    */
  def enrich(stream: DataFrame, dim: DataFrame,
      keys: Seq[String]): DataFrame =
    stream.join(broadcast(dim), keys)

  /** Streaming curation chain — the ingestion form of
    * [[graft.pipeline.Pipelines.curate]]: quality gate → watermarked
    * exact dedup on the content digest → PII redaction, as one
    * readStream→writeStream pipeline.
    *
    * Scale shape: the quality filter and the redaction are map-side
    * column expressions fused into the scan (no state, no shuffle);
    * the ONLY stateful operator is the digest dedup, whose state is
    * 16-byte digests bounded by the watermark horizon
    * ([[dedupStream]]'s contract). Near-dup detection on a stream is
    * [[nearDedupStream]]; chain it on the survivors when needed.
    */
  def curateStream(docs: DataFrame, tsCol: String, textCol: String,
      watermark: String, minChars: Int = 100): DataFrame = {
    val gated = docs
      .filter(length(col(textCol)) >= minChars)
      .withColumn("__digest", md5(col(textCol)))
    dedupStream(gated, tsCol, watermark, Seq("__digest"))
      // the full 4-class chain (email, NANP, short phone, IPv4) —
      // same ordered passes the batch q153 verifies against DuckDB
      .withColumn(textCol, graft.text.Redact.redactAll(col(textCol)))
      .drop("__digest")
  }

  /** Streaming boilerplate paragraph filter — the ingestion form of
    * [[graft.dedup.Dedup.stripHotParagraphs]] in the standard lambda
    * shape: the hot set is computed OFFLINE by a batch pass over the
    * historical corpus ([[graft.dedup.Dedup.hotParagraphDigests]],
    * re-run on whatever cadence boilerplate drifts), and every
    * arriving document is scrubbed against it map-side. Stateless —
    * the digest list rides one broadcast row through a stream-static
    * equi-join; no state store, no watermark, no shuffle of the
    * stream. `textCol` is replaced by the cleaned text; (n_paras,
    * n_removed) are appended for monitoring.
    */
  def stripBoilerplateStream(docs: DataFrame, textCol: String,
      hotDigests: DataFrame, sep: String = "\n"): DataFrame =
    graft.dedup.Dedup.stripParagraphsByDigest(docs, textCol, hotDigests, sep)

  /** Stateless streaming NB classification — the model-apply-at-
    * ingestion shape. The model is fitted OFFLINE by a batch pass
    * ([[graft.feature.NaiveBayes.fitCompact]], refit on whatever
    * cadence drift demands — the boilerplate-hot-set lambda pattern)
    * and rides the task closure as a bounded broadcast artifact;
    * every arriving document is tokenized and scored map-side. No
    * state store, no watermark, no shuffle of the stream. Docs with
    * zero in-model tokens keep a null `pred` (scorable-coverage is a
    * monitoring concern, not a drop rule). Scores equal the batch
    * [[graft.feature.NaiveBayes.classify]] exactly (spec-pinned).
    */
  def classifyStream(docs: DataFrame, textCol: String,
      model: graft.feature.NaiveBayes.CompactModel): DataFrame = {
    val scoreUdf = udf { (text: String) =>
      model.score(
        if (text == null) Seq.empty[String] else text.split(" ", -1).toSeq)
    }
    docs.withColumn("__nb", scoreUdf(col(textCol)))
      .withColumn("pred", col("__nb._1"))
      .withColumn("score_fx", col("__nb._2"))
      .drop("__nb")
  }

  /** Streaming change detection against the last snapshot — CDC at
    * ingestion, the stream twin of [[graft.ops.Snapshots.diff]].
    * The baseline is the OFFLINE (id, digest) reduction of the
    * previous snapshot ([[graft.ops.Snapshots.digests]], ~50
    * bytes/doc — the lambda-pattern artifact like the boilerplate
    * hot set and the compact NB model); each arriving doc digests
    * map-side and left-joins it: `added` (id unseen), `changed`
    * (digest differs), `unchanged`. Stateless — no state store, no
    * watermark; `removed` is unobservable on a stream by nature
    * (absence never arrives) and stays a batch-diff concern.
    */
  def snapshotDiffStream(docs: DataFrame, idCol: String, textCol: String,
      baselineDigests: DataFrame): DataFrame =
    docs.withColumn("__d2", md5(col(textCol)))
      .join(baselineDigests
        .select(col(idCol), col("digest").as("__d1")), Seq(idCol), "left")
      .withColumn("status",
        when(col("__d1").isNull, "added")
          .when(col("__d1") === col("__d2"), "unchanged")
          .otherwise("changed"))
      .drop("__d1", "__d2")

  /** Streaming distribution-drift monitor — the stream twin of
    * [[graft.ops.Profiler.chiSquareDrift]] (q171). The reference
    * reduces OFFLINE to its bounded histogram artifact
    * ([[graft.ops.Profiler.referenceHistogram]], ≤B rows — the same
    * bounded-offline-artifact pattern as the compact NB model and
    * the benchmark digest set), and each micro-batch scores against
    * it at per-batch cost via `foreachBatch`: the reference is never
    * re-scanned. The handler receives (drift table, batchId) — route
    * it to an alert sink or a metrics table; twin equality with the
    * batch operator is spec-pinned (StreamsSpec).
    */
  def driftMonitorStream(events: DataFrame, valCol: String,
      refHist: DataFrame, buckets: Int, checkpoint: String)(
      handler: (DataFrame, Long) => Unit)
      : org.apache.spark.sql.streaming.StreamingQuery =
    events.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, id: Long) =>
        handler(
          graft.ops.Profiler.driftAgainst(refHist, batch, valCol, buckets),
          id)
      }
      .start()

  /** [[driftMonitorStream]]'s PSI sibling: the same per-batch
    * contract (reference never rescans, only the micro-batch does)
    * with [[graft.ops.Profiler.psiAgainst]]'s log-ratio term —
    * batch/stream parity is already spec-pinned at the Profiler
    * level (shared term expression).
    */
  def psiMonitorStream(events: DataFrame, valCol: String,
      refHist: DataFrame, buckets: Int, checkpoint: String)(
      handler: (DataFrame, Long) => Unit)
      : org.apache.spark.sql.streaming.StreamingQuery =
    events.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, id: Long) =>
        handler(
          graft.ops.Profiler.psiAgainst(refHist, batch, valCol, buckets),
          id)
      }
      .start()

  /** Epoch-namespaced registry batch number for a micro-batch (r14
    * ADVICE #5): raw `id.toInt` collides across checkpoint lineages —
    * a stream restarted with a FRESH checkpoint (or a second stream
    * sharing the registry) restarts ids at 0, and the replay
    * contract would treat its genuinely new batches as replays of
    * the first lineage's (probes exclude those rows ⇒ duplicates
    * re-admitted). [[graft.dedup.Registry.streamEpochBase]] binds
    * each checkpoint lineage to a disjoint epoch; the same
    * checkpoint (a restart/replay) keeps its numbers. Anchored at
    * ONE registry per stream — for the chained ingest that anchor
    * is the exact registry, and its member registries must not be
    * shared with differently-anchored streams (documented there).
    */
  private def epochBatchNo(spark: org.apache.spark.sql.SparkSession,
      registryName: String, checkpoint: String, id: Long): Int =
    graft.dedup.Registry.streamBatchNo(
      graft.dedup.Registry.streamEpochBase(spark, registryName,
        checkpoint), id)

  /** Streaming dedup-registry maintenance — the ingestion twin of
    * [[graft.dedup.Registry.ingest]] for any lane: each micro-batch
    * dedups against the persisted `lane` registry (a probe whose
    * stored side reads exchange-free off the bucket layout) and
    * appends ONLY its own survivors, stamped with the epoch-namespaced
    * batch id. The registry table IS the state — append-only, no
    * versioned copies — so per-batch cost is O(batch) and history
    * text is never rescanned. First-seen-wins across the whole
    * stream, and replay-safe like the direct ingest: replaying the
    * batches equals the sequential ingest under the (batch_no, id)
    * tie rule (StreamsSpec and RegistrySpec pin it per lane). The
    * optional handler receives each batch's survivors.
    */
  def registryMaintStream(lane: graft.dedup.Registry.Lane,
      docs: DataFrame, idCol: String, srcCol: String,
      registryName: String, checkpoint: String)(
      handler: (DataFrame, Long) => Unit = (_, _) => ()): StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, id: Long) =>
        val s = batch.sparkSession
        val kept = graft.dedup.Registry.ingest(s, lane, registryName, batch,
          idCol, srcCol, epochBatchNo(s, registryName, checkpoint, id))
        try handler(kept, id) finally Pin.release(kept)
      }
      .start()

  /** The FULL incremental-curate chain as an ingestion stream — the
    * per-lane maintenance stream above composed the way a
    * production feed runs them: each micro-batch flows through
    * [[graft.pipeline.Pipelines.ingestBatch]] (quality → the `lanes`
    * registries in chain order → n-gram decontam), batch text scanned
    * once, history never; the handler
    * receives the per-stage funnel plus the surviving rows to
    * append to the corpus. Micro-batch ids are the batch numbers,
    * so replaying the stream equals the sequential batch replay
    * (StreamsSpec pins it against direct ingestBatch calls).
    *
    * REPLAY-SAFE under foreachBatch's at-least-once contract (r13
    * advisory #2): ingestBatch is replay-idempotent per batch number
    * — a replayed micro-batch (after a crash anywhere between the
    * registry appends and the handler's corpus append) receives the
    * ORIGINAL survivor set again, never an empty one, because every
    * registry probe excludes the batch's own prior rows. The handler
    * therefore achieves exactly-once by writing idempotently per
    * batch id (e.g. Overwrite into `corpus/batch_no=<id>/` — the
    * pattern StreamsSpec pins by invoking a batch's ingest twice).
    */
  def ingestStream(docs: DataFrame, idCol: String, textCol: String,
      lanes: Seq[(String, graft.dedup.Registry.Lane)], bench: DataFrame,
      benchTextCol: String, checkpoint: String, minChars: Int = 100)(
      handler: (graft.pipeline.Pipelines.IngestBatchResult, Long) => Unit)
      : org.apache.spark.sql.streaming.StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, id: Long) =>
        val s = batch.sparkSession
        // the chain's epoch anchors at its first (exact) registry; the
        // one batch number stamps every lane, so the member registries
        // must not be shared with differently-anchored streams
        val r = graft.pipeline.Pipelines.ingestBatch(s, batch, idCol,
          textCol, lanes, bench, benchTextCol,
          epochBatchNo(s, lanes.head._1, checkpoint, id), minChars)
        try handler(r, id) finally Pin.release(r.survivors)
      }
      .start()

  // ---- versioned state maintenance ----

  /** One incrementally maintained state family — only what differs
    * between the maintained operators: the state of one batch
    * (`of`), the fold of a batch's state into the previous version
    * (`merge(prior, fresh)`), the seed of a first version (`first`)
    * and the read of a state in the batch operator's output shape
    * (`read`). [[maintainStream]] keeps it live per micro-batch;
    * [[maintainBatch]] runs the same steps over two batch halves, so
    * a stream and its batch twin cannot drift. Each family's merge
    * equals its operator over the union of the batches (StreamsSpec
    * pins it per family).
    */
  final case class Maintained(of: DataFrame => DataFrame,
      merge: (DataFrame, DataFrame) => DataFrame,
      first: DataFrame => DataFrame = identity,
      read: DataFrame => DataFrame = identity)

  object Maintained {
    import graft.ops.{ControlChart, CountMin, DistinctSketch,
      EventAnalytics, Hll, Incremental}

    /** Count-min sketch ([[graft.ops.CountMin]]): counter-wise merge,
      * d·w rows whatever the stream length; point estimates via
      * [[graft.ops.CountMin.estimate]].
      */
    def cms(keyCol: String, d: Int, w: Int): Maintained =
      Maintained(CountMin.sketch(_, keyCol, d, w), CountMin.merge)

    /** HLL registers ([[graft.ops.Hll]]): max-merge, ≤ |groups|·m
      * rows; distinct estimates via [[graft.ops.Hll.estimate]].
      */
    def hll(keyCol: String, groupCols: Seq[String]): Maintained =
      Maintained(Hll.registers(_, keyCol, groupCols),
        Hll.merge(_, _, groupCols))

    /** Per-group rollup ([[graft.ops.Incremental]]): counts and sums
      * add, min/max fold; [[graft.ops.Incremental.finish]] reads it.
      */
    def rollup(groupCol: String, valCol: String): Maintained =
      Maintained(Incremental.aggState(_, groupCol, valCol),
        Incremental.merge(_, _))

    /** Per-group row counts `(groupCol, __c)` — the corpus
      * composition gate kept live: [[graft.ops.Concentration.ofCounts]]
      * reads entropy/Gini/top-share off the group rows alone.
      */
    def groupCounts(groupCol: String): Maintained = Maintained(
      _.groupBy(col(groupCol)).agg(count(lit(1)).as("__c")),
      (prior, fresh) => prior.unionByName(fresh)
        .groupBy(col(groupCol)).agg(sum(col("__c")).as("__c")))

    /** KMV k-min hash set ([[graft.ops.DistinctSketch]]): union, then
      * re-take the k smallest — ≤ 2k longs per merge.
      */
    def kmv(keyCol: String, k: Int): Maintained = Maintained(
      DistinctSketch.sketchOf(_, col(keyCol), k),
      (prior, fresh) => prior.unionByName(fresh).distinct()
        .orderBy(col("__h")).limit(k))

    /** Funnel state ([[graft.ops.EventAnalytics.funnelState]] —
      * distinct step-typed (user, type, ts) rows), merged by union +
      * distinct: bounded by step-typed activity, and any funnel form
      * (ordered or windowed) runs over it at read time.
      */
    def funnel(userCol: String, typeCol: String, tsCol: String,
        steps: Seq[String]): Maintained = Maintained(
      EventAnalytics.funnelState(_, userCol, typeCol, tsCol, steps),
      distinctUnion)

    /** Retention state: the (user, week) pair set
      * ([[graft.ops.EventAnalytics.userWeeks]]) that
      * [[graft.ops.EventAnalytics.retentionTriangle]] reads. A late
      * EARLIER event moves a user's cohort with no special casing —
      * the cohort min is taken at read time, which is why the state
      * is the pair set and not precomputed cohorts.
      */
    def userWeeks(userCol: String, tsCol: String): Maintained =
      Maintained(EventAnalytics.userWeeks(_, userCol, tsCol),
        distinctUnion)

    /** SCD2 validity intervals
      * ([[graft.ops.EventAnalytics.scd2Intervals]]): each batch
      * collapses its own changes, and the merge applies one boundary
      * rule per key — a batch's first change that repeats the prior
      * current value is a no-op (the prior current row extends
      * through it); otherwise the prior current row closes at the
      * batch's first surviving change. Versions shift by the prior
      * per-key maximum. O(batch + keys): the history body is
      * carried, never recomputed.
      */
    def scd2(keyCol: String, valCol: String, tsCol: String,
        idCol: String): Maintained = Maintained(
      EventAnalytics.scd2Intervals(_, keyCol, valCol, tsCol, idCol),
      mergeScd2(_, _, keyCol))

    /** Transition counts
      * ([[graft.ops.EventAnalytics.transitionCounts]]) — bigrams are
      * order-sensitive across the cut: a user's last event before it
      * and first event after it form a transition no single batch
      * sees. The tail is each user's last event, and the boundary
      * joins it to the fresh first event.
      */
    def transitions(userCol: String, typeCol: String, tsCol: String,
        idCol: String): Maintained =
      boundaryTail(userCol, tsCol, idCol, depth = 1,
        Seq("from_type", "to_type"), Seq("n"),
        Seq(col("from_type"), col("to_type")))(
        // transitionCounts' bigrams without its closing orderBy, which
        // would add a Sort and a range Exchange per half to q206
        _.withColumn("__from", lag(col(typeCol), 1).over(Window
            .partitionBy(col(userCol)).orderBy(col(tsCol), col(idCol))))
          .filter(col("__from").isNotNull)
          .select(col("__from").as("from_type"), col(typeCol).as("to_type"))
          .groupBy(col("from_type"), col("to_type"))
          .agg(count(lit(1)).as("n")),
        Seq("__type" -> col(typeCol)),
        (pu, ff) => pu.select(col("__user"), col("__type").as("__lt"))
          .join(ff.select(col("__user"), col("__type").as("__ft")),
            "__user")
          .groupBy(col("__lt").as("from_type"), col("__ft").as("to_type"))
          .agg(count(lit(1)).as("n")))

    /** Length-`len` path counts
      * ([[graft.ops.EventAnalytics.pathCounts]]) — the transition
      * family generalized: a window can span up to `len` batches, so
      * the tail is each user's trailing `len−1` events. Every
      * spanning window has a UNIQUE batch where it ENDS; the boundary
      * counts exactly the windows that START in the prior tail and
      * END in the fresh head (an origin-tag test on the oldest lag
      * and the current row), so none is double-counted and none
      * missed, even across 3+ tiny batches.
      */
    def paths(userCol: String, typeCol: String, tsCol: String,
        idCol: String, len: Int): Maintained =
      boundaryTail(userCol, tsCol, idCol, depth = len - 1,
        Seq("path"), Seq("n"), Seq(col("n").desc, col("path")))(
        EventAnalytics.pathCounts(_, userCol, typeCol, tsCol, idCol,
          len),
        Seq("__type" -> col(typeCol)),
        { (pu, ff) =>
          val (seg, w) = segment(pu, ff)
          val steps = (len - 1 to 0 by -1).map { off =>
            if (off == 0) col("__type") else lag(col("__type"), off).over(w)
          }
          val startO = lag(col("__o"), len - 1).over(w)
          seg.select(concat_ws(">", steps: _*).as("path"),
              (steps.map(_.isNotNull).reduce(_ && _) &&
                col("__o") === "B" && startO === "T").as("__take"))
            .filter(col("__take"))
            .groupBy(col("path")).agg(count(lit(1)).as("n"))
        })

    /** The EWMA gate summary ([[graft.ops.ControlChart.ewmaSummary]])
      * — per-row windowed state at depth 8: a row is gated in the
      * UNIQUE batch that contains it. Rows with 8 in-batch priors are
      * gated in-batch; the boundary gates exactly the fresh head rows
      * (first ≤ 8 per user) over the prior tail (trailing ≤ 8 per
      * user), which supplies every stream prior a head row can need.
      * Users with genuinely short history stay ungated in both paths.
      */
    def ewma(userCol: String, valCol: String, tsCol: String,
        idCol: String, typeCol: String, k: Int = 3): Maintained =
      boundaryTail(userCol, tsCol, idCol, ControlChart.Depth,
        Seq(typeCol), Seq("n_gated", "n_spike", "n_dip", "sum_absdev"),
        Seq(col(typeCol)))(
        ControlChart.ewmaSummary(_, userCol, valCol, tsCol, idCol,
          typeCol, k),
        Seq(typeCol -> col(typeCol),
          "__xq" -> floor(col(valCol) * 100).cast("long")),
        { (pu, ff) =>
          val (seg, w) = segment(pu, ff)
          val (dev, status) = ControlChart.gateColumns(col("__xq"), w, k)
          ControlChart.summarize(seg
            .select(col(typeCol), dev.as("dev"), status.as("status"),
              col("__o"))
            .filter(col("__o") === "B"), typeCol)
        })

    /** The order-sensitive families' shared state (transitions,
      * paths, EWMA): one tagged table holding the count monoid
      * (`__kind = "c"`, columns `keys ++ sums`) and per-user boundary
      * rows (`__user`, `__ts`, `__id` and the family's `edge`
      * payload; other columns null). A batch contributes its in-batch
      * `counts`, its first `depth` rows per user ("f", consumed by the
      * merge, dropped from a first version) and its last `depth` rows
      * per user ("u", the next tail). The merge sums prior counts,
      * fresh counts and `boundary(prior tail, fresh head)` per key,
      * and keeps each user's newest `depth` rows of the prior tail ∪
      * the fresh tail.
      *
      * Ordering contract: batches partition each user's stream in
      * (ts, id) order — the ingestion-order contract of the
      * sessionization and CDC twins. Under it the fresh tail is newer
      * than the prior tail, so the newest `depth` of their union are
      * the fresh rows topped up from the prior tail. A late event
      * invalidates counts already taken; the recovery is a
      * from-scratch rebuild over the versioned base. Per-batch cost
      * O(batch) + O(users·depth); events are never rescanned.
      */
    private def boundaryTail(userCol: String, tsCol: String,
        idCol: String, depth: Int, keys: Seq[String], sums: Seq[String],
        order: Seq[Column])(counts: DataFrame => DataFrame,
        edge: Seq[(String, Column)],
        boundary: (DataFrame, DataFrame) => DataFrame): Maintained = {
      val ks = keys ++ sums
      val carried = edge.toMap
      val payload = edge.map(_._1).filterNot(ks.contains)
      def nul(df: DataFrame, c: String) =
        lit(null).cast(df.schema(c).dataType).as(c)
      // each user's first `depth` rows under `w`; one row is an
      // equality filter, the form q206's plan has always had
      def topDepth(w: WindowSpec, df: DataFrame) = df
        .withColumn("__rn", row_number().over(w))
        .filter(if (depth == 1) col("__rn") === 1 else col("__rn") <= depth)
      def of(batch: DataFrame): DataFrame = {
        val byUser = Window.partitionBy(col(userCol))
        val c = counts(batch)
        def edgeRows(kind: String, w: WindowSpec) = topDepth(w, batch)
          .select((lit(kind).as("__kind") +:
            ks.map(k => carried.get(k).fold(nul(c, k))(_.as(k)))) ++
            Seq(col(userCol).as("__user"), col(tsCol).as("__ts"),
              col(idCol).as("__id")) ++
            payload.map(p => carried(p).as(p)): _*)
        val f = edgeRows("f", byUser.orderBy(col(tsCol), col(idCol)))
        c.select((lit("c").as("__kind") +: ks.map(col)) ++
            (Seq("__user", "__ts", "__id") ++ payload).map(nul(f, _)): _*)
          .unionByName(f)
          .unionByName(edgeRows("u",
            byUser.orderBy(col(tsCol).desc, col(idCol).desc)))
      }
      def merge(prior: DataFrame, fresh: DataFrame): DataFrame = {
        val pu = prior.filter(col("__kind") === "u")
        val bare = ks.map(col)
        val sumAggs = sums.map(s => sum(col(s)).as(s))
        val merged = prior.filter(col("__kind") === "c").select(bare: _*)
          .unionByName(fresh.filter(col("__kind") === "c").select(bare: _*))
          .unionByName(boundary(pu, fresh.filter(col("__kind") === "f")))
          .groupBy(keys.map(col): _*).agg(sumAggs.head, sumAggs.tail: _*)
          .select((lit("c").as("__kind") +: bare) ++
            fresh.columns.drop(1 + ks.size).map(nul(fresh, _)): _*)
        // the kind is stamped above the window: a filter cannot pass a
        // window, but `'u' = 'c'` folds, so reading counts prunes this
        val tail = topDepth(Window.partitionBy(col("__user"))
            .orderBy(col("__ts").desc, col("__id").desc),
          pu.unionByName(fresh.filter(col("__kind") === "u")))
          .select(lit("u").as("__kind") +: fresh.columns.tail.map(col): _*)
        merged.unionByName(tail)
      }
      Maintained(of, merge, first = _.filter(col("__kind") =!= "f"),
        read = _.filter(col("__kind") === "c").select(ks.map(col): _*)
          .orderBy(order: _*))
    }

    /** The prior tail ++ fresh head, origin-tagged (`__o` T/B), and
      * the per-user stream-order window over it. The two form a
      * CONTIGUOUS segment of each user's stream, so in-segment lags
      * equal stream lags for any head row.
      */
    private def segment(pu: DataFrame,
        ff: DataFrame): (DataFrame, WindowSpec) =
      (pu.withColumn("__o", lit("T"))
        .unionByName(ff.withColumn("__o", lit("B"))),
        Window.partitionBy(col("__user")).orderBy(col("__ts"), col("__id")))
  }

  /** Keep `m` live over a stream: each micro-batch computes ONLY its
    * own state (`m.of`), merges it into the newest prior version
    * (`m.first` seeds an empty state dir) and writes it to
    * `stateDir/v<id>`. Events are never rescanned; per-batch cost is
    * the batch plus the state. Replay-safe: a re-delivered batch
    * merges against the version BEFORE its id, so it rewrites
    * `v<id>` with the same rows. A state dir belongs to one
    * checkpoint lineage (see [[latestVersion]]). At production scale
    * the version pointer lives in a catalog or transaction log; the
    * directory convention stands in for it here.
    */
  def maintainStream(m: Maintained, events: DataFrame, stateDir: String,
      checkpoint: String): StreamingQuery =
    events.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, id: Long) =>
        maintainVersioned(m, batch, stateDir, checkpoint, id)
      }
      .start()

  /** [[maintainStream]]'s two steps as one batch computation: the
    * state of `first`, merged with `second`'s, read out. Its result
    * must equal the family's operator over `first ∪ second` wherever
    * the cut falls — what the q206/q207/q209/q222 oracles
    * hash-verify (the q175 incremental discipline applied to
    * order-sensitive and interval state).
    */
  def maintainBatch(m: Maintained, first: DataFrame,
      second: DataFrame): DataFrame =
    m.read(m.merge(m.first(m.of(first)), m.of(second)))

  private def distinctUnion(prior: DataFrame,
      fresh: DataFrame): DataFrame =
    prior.unionByName(fresh).distinct()

  private def mergeScd2(prior: DataFrame, fresh: DataFrame,
      keyCol: String): DataFrame = {
    val cols = Seq(keyCol, "version", "value_fx", "valid_from_us",
      "valid_to_us", "is_current").map(col)
    // each key's prior summit: current value and max version
    val summit = prior.filter(col("is_current"))
      .select(col(keyCol), col("value_fx").as("__curfx"))
      .join(prior.groupBy(col(keyCol))
        .agg(max(col("version")).as("__vmax")), keyCol)
    // boundary rule: the batch's first change collapses iff it
    // repeats the prior current value
    val f = fresh.join(summit, Seq(keyCol), "left")
    val surviving = f.filter(col("__curfx").isNull ||
      col("version") > 1 || col("value_fx") =!= col("__curfx"))
    // recompute the surviving-fresh chain per key: version renumber
    // and valid_to re-chain (dropping v1 breaks both)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(keyCol)).orderBy(col("valid_from_us"))
    val chained = surviving
      .withColumn("version",
        (row_number().over(w) + coalesce(col("__vmax"), lit(0)))
          .cast("int"))
      .withColumn("valid_to_us",
        lead(col("valid_from_us"), 1).over(w))
      .withColumn("is_current", col("valid_to_us").isNull)
      .select(cols: _*)
    // keys whose fresh rows ALL collapsed (single no-op change):
    // prior current stays open; otherwise it closes at the first
    // surviving fresh change
    val firstSurv = chained.groupBy(col(keyCol))
      .agg(min(col("valid_from_us")).as("__close"))
    val priorAdj = prior.join(firstSurv, Seq(keyCol), "left")
      .withColumn("valid_to_us",
        when(col("is_current") && col("__close").isNotNull,
          col("__close")).otherwise(col("valid_to_us")))
      .withColumn("is_current",
        col("is_current") && col("__close").isNull)
      .select(cols: _*)
    priorAdj.unionByName(chained)
  }


  /** The two-phase attribution maintenance as a batch computation
    * (q229) — the cut-invariance discipline for TIME-HORIZON state:
    * a conversion is attributed in the batch that CONTAINS it, and
    * its lookback window either sits inside that batch or reaches
    * back at most `windowMs` — so the only boundary state is the
    * first half's trailing touches within the horizon (bounded by
    * per-user activity × window, never stream length). Conversions
    * partition three ways — first half (complete there: a
    * conversion's touches always precede it), second half with the
    * window fully past the cut (in-batch), second half with a
    * crossing window (recomputed over tail ∪ second touches) — and
    * attribution summaries are ADDITIVE over conversion sets, so
    * the three passes sum. Oracle = the from-scratch q218 SQL.
    */
  def attributionMaintainBatch(first: DataFrame, second: DataFrame,
      userCol: String, typeCol: String, tsCol: String,
      idCol: String, convType: String, touchTypes: Seq[String],
      windowMs: Long): DataFrame = {
    import graft.ops.EventAnalytics._
    val cut = second.agg(min(unix_millis(col(tsCol))).as("__cut"))
    val convA = conversions(first, userCol, typeCol, tsCol, idCol,
      convType)
    val touchA = touches(first, userCol, typeCol, tsCol, idCol,
      touchTypes)
    val convB = conversions(second, userCol, typeCol, tsCol, idCol,
      convType).crossJoin(broadcast(cut))
    val touchB = touches(second, userCol, typeCol, tsCol, idCol,
      touchTypes)
    // the horizon-bounded boundary state: first's touches within
    // windowMs of the cut
    val tail = touchA.crossJoin(broadcast(cut))
      .filter(col("__tt") >= col("__cut") - windowMs)
      .drop("__cut")
    val passA = attributionFromParts(convA, touchA, windowMs)
    val passInB = attributionFromParts(
      convB.filter(col("__tc") - windowMs >= col("__cut"))
        .drop("__cut"),
      touchB, windowMs)
    val passCross = attributionFromParts(
      convB.filter(col("__tc") - windowMs < col("__cut"))
        .drop("__cut"),
      tail.unionByName(touchB), windowMs)
    passA.unionByName(passInB).unionByName(passCross)
      .groupBy(col("touch_type"))
      .agg(sum(col("n_first")).as("n_first"),
        sum(col("n_last")).as("n_last"),
        sum(col("credit_e6")).as("credit_e6"))
      .orderBy(col("touch_type"))
  }


  /** Write `m`'s state of one micro-batch as `stateDir/v<id>`: the
    * batch's state merged into the newest prior version, or seeded
    * by `m.first` on an empty state dir. Re-processing a batch after
    * a restart overwrites the same version with the same rows, so
    * maintenance stays idempotent under the checkpoint's replay
    * contract.
    */
  private def maintainVersioned(m: Maintained, batch: DataFrame,
      stateDir: String, checkpoint: String, id: Long): Unit = {
    val fresh = m.of(batch)
    val merged =
      latestVersion(batch.sparkSession, stateDir, checkpoint, id) match {
        case Some(prior) => m.merge(prior, fresh)
        case None => m.first(fresh)
      }
    merged.coalesce(1).write.mode("overwrite")
      .parquet(s"$stateDir/v$id")
  }

  /** The newest state version strictly before `id` (None on a fresh
    * state dir) — shared by the maintainers and by gates that must
    * screen a batch against PRIOR state before merging it in.
    *
    * It first binds `stateDir` to one checkpoint lineage. Micro-batch
    * ids restart at 0 under a NEW checkpoint, so a second lineage
    * would find no version before its batch 0 and overwrite `v0`
    * with its own batch alone, stranding the first lineage's later
    * versions. The first batch therefore records its checkpoint's
    * stream nonce ([[graft.dedup.Registry.streamNonce]]) as
    * `stateDir/_graft_stream_id`, and a batch of any other
    * checkpoint fails here, before it reads or writes a version. A
    * restart or replay of the same checkpoint passes. A state dir
    * written before the nonce file existed is claimed by the first
    * stream that touches it.
    */
  private def latestVersion(spark: SparkSession, stateDir: String,
      checkpoint: String, id: Long): Option[DataFrame] = {
    val nonce = graft.dedup.Registry.streamNonce(spark, checkpoint)
    val owner = new org.apache.hadoop.fs.Path(stateDir, "_graft_stream_id")
    val fs = owner.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (graft.dedup.Registry.claimFile(fs, owner, nonce) != nonce)
      throw new IllegalStateException(s"state dir $stateDir belongs to " +
        s"another stream lineage; checkpoint $checkpoint would restart " +
        "at batch 0 and overwrite its versions")
    val prior = fs.listStatus(owner.getParent)
      .filter(f => f.isDirectory && f.getPath.getName.startsWith("v"))
      .map(_.getPath.getName.drop(1).toLong).filter(_ < id)
    if (prior.isEmpty) None
    else Some(spark.read.parquet(s"$stateDir/v${prior.max}"))
  }

  /** Streaming Bloom seen-set gate — [[graft.ops.Bloom]] at
    * ingestion: every micro-batch is flagged against the bloom of
    * ALL PRIOR batches' keys (packed from the maintained distinct
    * position set — the canonical union-mergeable state, ≤ mBits
    * rows), then its own positions merge into the state. The handler
    * receives the batch with a `probably_seen` column: false is
    * EXACT ("definitely new" — blooms have no false negatives), so
    * an ingestion dedup passes new rows straight through and routes
    * only the probably-seen minority to exact verification — the
    * whole history is never joined per batch. StreamsSpec pins the
    * no-false-negative guarantee and equality with the batch bloom
    * over the union of prior batches.
    */
  def bloomSeenStream(docs: DataFrame, keyCol: String, mBits: Int,
      kHash: Int, stateDir: String, checkpoint: String)(
      handler: (DataFrame, Long) => Unit)
      : org.apache.spark.sql.streaming.StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, id: Long) =>
        val bl = graft.ops.Bloom
        val words = latestVersion(batch.sparkSession, stateDir,
          checkpoint, id) match {
          case Some(prior) => bl.fitWords(prior, mBits)
          case None => new Array[Long]((mBits + 63) / 64)
        }
        handler(batch.withColumn("probably_seen",
          bl.containsCol(words, mBits, kHash, col(keyCol))), id)
        maintainVersioned(
          Maintained(bl.positions(_, keyCol, mBits, kHash), distinctUnion),
          batch, stateDir, checkpoint, id)
      }
      .start()


  /** Streaming n-gram-overlap decontamination — the stream twin of
    * [[graft.dedup.Dedup.ngramOverlapAcross]] (q150; the GPT-3
    * method). The benchmark reduces OFFLINE to its distinct window
    * digest set ([[graft.dedup.Dedup.windowDigestSet]], benchmark-
    * bounded like the compact NB model and the boilerplate hot set);
    * each arriving doc windows, digests, and counts hits entirely
    * map-side in one kernel. Stateless — no state store, no
    * watermark, no shuffle — so a contamination gate rides the
    * ingestion stream at any rate. Emits (… , n_windows, n_hit,
    * hit_frac); spec pins equality with the batch operator.
    */
  def decontamStream(docs: DataFrame, textCol: String,
      benchDigests: Set[String], n: Int = 13): DataFrame = {
    val statsUdf = udf { (text: String) =>
      val toks =
        if (text == null) Array.empty[String] else text.split(" ", -1)
      if (toks.length < n) (0L, 0L)
      else {
        val md = java.security.MessageDigest.getInstance("MD5")
        var hits = 0L
        var i = 0
        while (i <= toks.length - n) {
          val sb = new java.lang.StringBuilder
          var j = 0
          while (j < n) {
            if (j > 0) sb.append(' ')
            sb.append(toks(i + j)); j += 1
          }
          md.reset()
          val hex = md.digest(sb.toString.getBytes("UTF-8"))
            .map(b => f"$b%02x").mkString
          if (benchDigests.contains(hex)) hits += 1
          i += 1
        }
        ((toks.length - n + 1).toLong, hits)
      }
    }
    docs.withColumn("__s", statsUdf(col(textCol)))
      .withColumn("n_windows", col("__s._1"))
      .withColumn("n_hit", col("__s._2"))
      .withColumn("hit_frac",
        when(col("n_windows") > 0,
          round(col("n_hit") / col("n_windows").cast("double"), 4))
          .otherwise(lit(0.0)))
      .drop("__s")
  }

  /** Batch (non-streaming) sessionization over the same contract —
    * gap-based sessions via window lag, for parity testing and
    * backfills. Mirrors q31_sessionize's SQL shape.
    */
  def sessionizeBatch(events: DataFrame, userCol: String, tsCol: String,
      valueCol: String, gapMs: Long): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byUser = Window.partitionBy(col(userCol)).orderBy(col(tsCol))
    val tsMs = (unix_micros(col(tsCol)) / 1000L).cast("long")
    val newSession = when(
      tsMs - lag(tsMs, 1).over(byUser) > gapMs, 1).otherwise(0)
    events
      .withColumn("new_s", newSession)
      .withColumn("session_id",
        sum(col("new_s")).over(byUser.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy(col(userCol), col("session_id"))
      .agg(min(col(tsCol)).as("session_start"),
        max(col(tsCol)).as("session_end"),
        count(lit(1)).as("n"),
        sum(col(valueCol)).as("total"))
  }
}
