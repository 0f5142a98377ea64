package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.io.Tables.table
import graft.streaming.Streams
import graft.streaming.Streams.Maintained

/** Event-time windowing surface (SURVEY.md §2.11 extension). The
  * exact `window()` expressions used by the streaming module run
  * here in batch mode over the events table, which makes them
  * oracle-verifiable (DuckDB `time_bucket`); the streaming specs
  * cover the incremental/watermark semantics.
  */
object EventQueries extends QueryPack {

  def defs: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Distribution-drift gate (ops.Profiler.chiSquareDrift): the
    // 'view' slice is the reference, 'purchase' the current batch;
    // 16 reference-edged buckets, Laplace-smoothed χ² terms in
    // floor-e6 fixed point. Two ≤16-row aggregates + one ≤16-row
    // join — corpus rows never shuffle.
    "q171_drift_chi2" -> ((s, dir) => {
      val ev = table(s, dir, "events")
      graft.ops.Profiler.chiSquareDrift(
        ev.filter(col("event_type") === "view"),
        ev.filter(col("event_type") === "purchase"),
        "value", buckets = 16)
    }),

    // PSI drift (ops.Profiler.psiDrift): the third leg of the drift
    // triad over the same view-vs-purchase slices and the same
    // 16 reference-edged buckets as q171 — the raw proportion gap
    // weighted by its log-ratio, floor-e6 per bucket (Σ/1e6 is the
    // dashboard PSI reading). Same ≤16-row shuffle shape.
    "q195_psi_drift" -> ((s, dir) => {
      val ev = table(s, dir, "events")
      graft.ops.Profiler.psiDrift(
        ev.filter(col("event_type") === "view"),
        ev.filter(col("event_type") === "purchase"),
        "value", buckets = 16)
    }),

    // Bucket-free KS drift (ops.Profiler.ksDrift): the same
    // view-vs-purchase slices as q171, tested without histogram
    // edges — D·Nr·Nc is an exact integer max over the
    // domain-bounded distinct-value prefix sums.
    "q187_ks_drift" -> ((s, dir) => {
      val ev = table(s, dir, "events")
      graft.ops.Profiler.ksDrift(
        ev.filter(col("event_type") === "view"),
        ev.filter(col("event_type") === "purchase"),
        "value")
    }),

    // Incremental aggregate maintenance (ops.Incremental): the
    // rollup is maintained as mergeable per-group state — aggregate
    // only the delta batch, merge states, never rescan the base.
    // The oracle is the FROM-SCRATCH aggregate over everything, so
    // the check is the maintenance invariant itself.
    "q175_incremental_agg" -> ((s, dir) => {
      val ev = table(s, dir, "events")
      val inc = graft.ops.Incremental
      inc.finish(inc.merge(
        inc.aggState(ev.filter(col("event_id") % 10 =!= 0),
          "event_type", "value"),
        inc.aggState(ev.filter(col("event_id") % 10 === 0),
          "event_type", "value")))
        .orderBy(col("event_type"))
    }),

    // Ordered-sequence funnel (ops.EventAnalytics): view → click →
    // purchase at strictly increasing timestamps — k user-keyed
    // aggregates reusing one partitioning, never a global sort.
    "q178_event_funnel" -> ((s, dir) => {
      graft.ops.EventAnalytics.orderedFunnel(table(s, dir, "events"),
        "user_id", "event_type", "ts",
        Seq("view", "click", "purchase"))
    }),

    // Conversion-window funnel (ops.EventAnalytics.windowedFunnel):
    // q178's steps with a 6-hour per-step gap bound — viable-set
    // semantics (greedy earliest-chaining is wrong under a window),
    // one user-keyed join + distinct per step. At sf0.01 the window
    // genuinely bites: 150/118/18 users vs q178's 150/150/150.
    "q188_windowed_funnel" -> ((s, dir) => {
      graft.ops.EventAnalytics.windowedFunnel(table(s, dir, "events"),
        "user_id", "event_type", "ts",
        Seq("view", "click", "purchase"), maxGapMs = 6L * 3600 * 1000)
    }),

    // Weekly cohort retention triangle (ops.EventAnalytics): exact
    // integer epoch-week buckets, two user-keyed aggregates.
    "q179_cohort_retention" -> ((s, dir) => {
      graft.ops.EventAnalytics.cohortRetention(table(s, dir, "events"),
        "user_id", "ts")
    }),

    // Per-user event-transition matrix (Markov/path analysis): one
    // user-partitioned lag window + a ≤|types|²-row aggregate.
    "q180_event_transitions" -> ((s, dir) => {
      graft.ops.EventAnalytics.transitionCounts(table(s, dir, "events"),
        "user_id", "event_type", "ts", "event_id")
    }),

    // Length-3 ordered path mining (ops.EventAnalytics.pathCounts):
    // the trigram generalization of q180 — one user-partitioned
    // window emits both lags in a single WindowExec, then a
    // ≤|types|³-row aggregate; the post-window shuffle carries path
    // strings, never events.
    "q185_event_paths" -> ((s, dir) => {
      graft.ops.EventAnalytics.pathCounts(table(s, dir, "events"),
        "user_id", "event_type", "ts", "event_id", len = 3)
    }),

    // Tumbling 1-hour windows per event type.
    "q68_tumbling_window" -> ((s, dir) => {
      table(s, dir, "events")
        .groupBy(window(col("ts"), "1 hour"), col("event_type"))
        .agg(count(lit(1)).as("n"), round(sum(col("value")), 4).as("total"))
        .select(col("window.start").as("win_start"), col("event_type"),
          col("n"), col("total"))
        .orderBy(col("win_start"), col("event_type"))
    }),

    // Sliding 1-hour windows every 30 minutes (each event lands in 2).
    "q69_sliding_window" -> ((s, dir) => {
      table(s, dir, "events")
        .groupBy(window(col("ts"), "1 hour", "30 minutes"))
        .agg(count(lit(1)).as("n"))
        .select(col("window.start").as("win_start"), col("n"))
        .orderBy(col("win_start"))
    }),

    // Explicit key-salting for a KNOWN hot join key
    // (ops.SaltedJoin): half the corpus collapses onto key 1 (the
    // even user_ids), the event→segment dimension join salts 8 ways
    // on a hash of event_id, and the hot key's rows land on 8
    // reducers instead of one. Salting is semantics-preserving by
    // construction, so the oracle runs the UNSALTED SQL — what the
    // hash-compare verifies is exactly that the mitigation changed
    // nothing but the partitioning.
    "q161_salted_join" -> ((s, dir) => {
      val ev = table(s, dir, "events")
        .select(col("event_id"), col("user_id"), col("value"))
        .withColumn("k",
          when(col("user_id") % 2 === 0, 1L).otherwise(col("user_id")))
      val dim = table(s, dir, "customer")
        .select(col("c_custkey").as("k"), col("c_mktsegment"))
      graft.ops.SaltedJoin.equiJoin(ev, dim, "k", col("event_id"),
          nSalts = 8)
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n_events"),
          countDistinct(col("user_id")).as("n_users"),
          sum(floor(col("value") * 100).cast("long")).as("value_fx"))
        .orderBy(col("c_mktsegment"))
    }),

    // Certified heavy hitters in bounded memory
    // (ops.HeavyHitters): per-partition Misra-Gries summaries
    // (≤ 256 counters each) → candidate union → exact recount →
    // integer certification n×capacity > N. The contract is provable
    // containment, not approximation, so the oracle is the plain
    // HAVING-count aggregate — at 100 TB the difference is that the
    // full groupBy shuffles every distinct key while this shuffles
    // ≤ partitions×capacity candidates. Same skewed key as q161.
    "q162_heavy_hitters" -> ((s, dir) => {
      val keyed = table(s, dir, "events")
        .select(when(col("user_id") % 2 === 0, 1L)
          .otherwise(col("user_id")).as("k"))
      graft.ops.HeavyHitters.certified(keyed, "k", capacity = 256)
    }),

    // KMV distinct-count sketch (ops.DistinctSketch): k smallest
    // 48-bit md5-prefix hashes, estimate (k−1)·2^48 div h_k. The
    // sketch is exactly deterministic given the hash — unlike HLL
    // there is no engine-private bias table — so the "approximation"
    // replays in SQL and the oracle hash-compares the estimate
    // itself, next to the exact count it stands in for. At 100 TB
    // the exact form shuffles every distinct key; this shuffles
    // ≤ partitions×k longs.
    "q164_kmv_distinct" -> ((s, dir) => {
      val ev = table(s, dir, "events")
      val sk = graft.ops.DistinctSketch.kmv(ev, "user_id", k = 32)
      val ex = ev.agg(countDistinct(col("user_id")).as("n_exact"))
      sk.crossJoin(broadcast(ex))
        .select(col("k_used"), col("h_k"), col("est_distinct"),
          col("n_exact"))
    }),

    // Deterministic count-min sketch (ops.CountMin): per-user event
    // frequencies from 4×256 md5-bucketed counters, probed for every
    // user and laid beside the exact counts — est ≥ exact ALWAYS
    // (one-sided error), and because every counter is a pure md5
    // function of the data, the estimates AND the overshoot
    // hash-replay in the oracle. Build shuffles ≤ d·w counter rows;
    // the sketch broadcasts to the probe side.
    "q196_cms_counts" -> ((s, dir) => {
      val ev = table(s, dir, "events")
      val cm = graft.ops.CountMin
      // the exact table IS the probe set: estimate carries its
      // columns through, so it is referenced once (no re-join that
      // would re-inline its aggregate — plan-audited)
      val exact = ev.groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_exact"))
      cm.estimate(cm.sketch(ev, "user_id", d = 4, w = 256),
          exact, "user_id", d = 4, w = 256)
        .select(col("user_id"), col("n_exact"), col("est_n"),
          (col("est_n") - col("n_exact")).as("overshoot"))
        .orderBy(col("user_id"))
    }),

    // Group-wise Tukey-fence outlier gate (ops.Outliers): per
    // event-type fences from that type's own discrete quartiles —
    // exact integers throughout (type-1 quantiles, doubled-unit
    // 1.5·IQR comparison), so the flag counts hash-replay. One
    // group-partitioned window sort + one broadcast-fence sweep.
    "q201_outlier_fences" -> ((s, dir) => {
      graft.ops.Outliers.robustOutliers(
        table(s, dir, "events"), "event_type", "value")
    }),

    // Incremental transition maintenance (Streams.maintainBatch of
    // Maintained.transitions): the corpus split at its time
    // midpoint, the matrix computed via the maintenance path —
    // per-half bigrams + the per-user boundary closure — and the
    // oracle hash-verifies it equals the from-scratch q180 matrix.
    // The q175 incremental discipline applied to ORDER-SENSITIVE
    // state: the cut position must not matter, and the oracle
    // proves it doesn't.
    "q206_incr_transitions" -> ((s, dir) => {
      val (a, b) = halves(table(s, dir, "events"))
      Streams.maintainBatch(Maintained.transitions("user_id",
        "event_type", "ts", "event_id"), a, b)
    }),

    // q206's proof for the length-n generalization
    // (Maintained.paths, len=3): the midpoint cut puts thousands
    // of users' length-3 windows across the boundary, and the
    // oracle (the from-scratch q185 path counts) hash-verifies the
    // trailing-tail/head closure counted each one exactly once.
    "q207_incr_paths" -> ((s, dir) => {
      val (a, b) = halves(table(s, dir, "events"))
      Streams.maintainBatch(Maintained.paths("user_id", "event_type",
        "ts", "event_id", len = 3), a, b)
    }),

    // EWMA control-chart gate (ops.ControlChart): the per-entity
    // anomaly member of the drift family — each event with a full
    // 8 prior observations in its user's stream is judged against
    // its dyadic-weighted (λ=½ truncated at depth 8) history.
    // Weights 2⁷…2⁰ are exact integers over fx-e2 values, so the
    // spike/dip verdicts and summed deviations replay bit-exactly.
    // One USER-keyed window pass (high-cardinality partitions — the
    // window parallelizes) then a |type|-bounded summary.
    "q208_ewma_gate" -> ((s, dir) =>
      graft.ops.ControlChart.ewmaSummary(table(s, dir, "events"),
        "user_id", "value", "ts", "event_id", "event_type")),

    // The q206 cut-invariance proof for the EWMA gate
    // (Maintained.ewma): the midpoint cut puts many users'
    // depth-8 history windows across the boundary; the maintenance
    // path gates the second half's head rows against the first
    // half's trailing state, and the oracle (the from-scratch q208
    // summary) hash-verifies every row was gated exactly once with
    // its exact full history.
    "q209_incr_ewma" -> ((s, dir) => {
      val (a, b) = halves(table(s, dir, "events"))
      Streams.maintainBatch(Maintained.ewma("user_id", "value", "ts",
        "event_id", "event_type"), a, b)
    }),

    // Multi-touch conversion attribution (ops.EventAnalytics
    // .touchAttribution): first/last/linear credit for every
    // purchase's preceding view/click touches inside a 3-day
    // lookback. Linear credit is exact-integer e6 fixed point with
    // the division remainder assigned to the last touch, so credits
    // sum to exactly 1e6 per attributed conversion and the whole
    // model replays in SQL. One user-keyed join, one conversion-
    // keyed window, |touch types|-bounded output.
    "q218_touch_attribution" -> ((s, dir) =>
      graft.ops.EventAnalytics.touchAttribution(
        table(s, dir, "events"), "user_id", "event_type", "ts",
        "event_id", convType = "purchase",
        touchTypes = Seq("view", "click"),
        windowMs = 3L * 24 * 3600 * 1000)),

    // The cut-invariance proof for TIME-HORIZON state (Streams
    // .attributionMaintainBatch): the midpoint cut splits every
    // 3-day lookback window that straddles it; conversions
    // partition into first-half / fully-in-second / crossing, the
    // crossing ones recompute over the horizon-bounded trailing
    // touches, and the oracle (the from-scratch q218 summary)
    // hash-verifies the three additive passes reassemble exactly.
    "q229_incr_attribution" -> ((s, dir) => {
      val (a, b) = halves(table(s, dir, "events"))
      Streams.attributionMaintainBatch(a, b,
        "user_id", "event_type", "ts", "event_id",
        convType = "purchase", touchTypes = Seq("view", "click"),
        windowMs = 3L * 24 * 3600 * 1000)
    }),

    // SCD type-2 history build (ops.EventAnalytics.scd2Intervals):
    // the update stream becomes validity intervals — no-op updates
    // (same fx-e2 value as the previous row) collapse, each change
    // is valid until the next, NULL valid_to on the current row.
    // Epoch-micros arithmetic (the ts column's full resolution) so
    // the window order is true event order in both engines.
    "q219_scd2_history" -> ((s, dir) =>
      graft.ops.EventAnalytics.scd2Intervals(table(s, dir, "events"),
        "user_id", "value", "ts", "event_id")
        .orderBy(col("user_id"), col("version")).limit(500)),

    // The q206 cut-invariance proof for INTERVAL state
    // (Maintained.scd2): the midpoint cut severs every user's
    // change chain; the maintenance path must close the first
    // half's current rows at the second half's first surviving
    // change, collapse cross-boundary no-ops, and renumber
    // versions — and the oracle (the from-scratch q219 intervals)
    // hash-verifies all of it.
    "q222_incr_scd2" -> ((s, dir) => {
      val (a, b) = halves(table(s, dir, "events"))
      Streams.maintainBatch(Maintained.scd2("user_id", "value", "ts",
        "event_id"), a, b)
        .orderBy(col("user_id"), col("version")).limit(500)
    }),

    // Two-proportion z-test A/B gate (ops.Eval.twoProportionZ):
    // did the even-user cohort convert (≥1 purchase) at a
    // different rate than the odd-user cohort, beyond sampling
    // noise — the experimentation primitive. Per-user conversion
    // flags → two (n, k) rows → the pooled-variance z in the q228
    // fixed-expression discipline, floored e6 (signed: floor, not
    // truncate, so engines agree on negatives).
    "q234_ab_test" -> ((s, dir) => {
      // converted = more purchases than clicks: splits users at
      // every SF (a has-any-purchase flag saturates to rate 1.0 on
      // this corpus — zero pooled variance, z undefined)
      val conv = table(s, dir, "events")
        .groupBy(col("user_id"))
        .agg((sum(when(col("event_type") === "purchase", 1L)
            .otherwise(0L)) >
          sum(when(col("event_type") === "click", 1L)
            .otherwise(0L))).cast("long").as("converted"))
        .select(when(col("user_id") % 2 === 0, "A").otherwise("B")
          .as("cohort"), col("converted"))
      graft.ops.Eval.twoProportionZ(conv, "cohort", "converted")
    }),

    // First-view-to-first-purchase latency distribution
    // (ops.EventAnalytics.conversionLatency): exact RANK-based
    // percentiles (value at ⌈p·n/100⌉ over the ordered latency
    // list — no interpolation, no float) over one latency row per
    // converting user. The duration companion to the q178 funnel.
    "q232_conversion_latency" -> ((s, dir) =>
      graft.ops.EventAnalytics.conversionLatency(
        table(s, dir, "events"), "user_id", "event_type", "ts",
        fromType = "view", toType = "purchase")),

    // Sweep-line peak concurrency (ops.Concurrency): how many
    // q70-style sessions were active at once and the earliest
    // microsecond the peak is reached — the capacity-planning
    // readout. The sweep runs over 2·|sessions| delta rows (the
    // session-bounded relation, never events), with the stated
    // inclusive/+1-first tie convention replayed exactly.
    "q231_peak_concurrency" -> ((s, dir) =>
      graft.ops.Concurrency.peakConcurrency(
        Streams.sessionizeBatch(table(s, dir, "events"),
          "user_id", "ts", "value", gapMs = 30 * 60 * 1000L),
        "session_start", "session_end")),

    // Gap-based batch sessionization (the streaming module's batch
    // twin over real event data): sessions per user with 30-minute
    // silence cutting, corpus-level session-length histogram.
    "q70_session_stats" -> ((s, dir) => {
      Streams.sessionizeBatch(table(s, dir, "events"),
        "user_id", "ts", "value", gapMs = 30 * 60 * 1000L)
        .groupBy(col("n"))
        .agg(count(lit(1)).as("n_sessions"))
        .orderBy(col("n"))
    })
  )

  /** The events cut at their ts midpoint: (first half, second half) —
    * the split the q206/q207/q209/q222/q229 cut-invariance queries
    * maintain across.
    */
  private def halves(ev: DataFrame): (DataFrame, DataFrame) = {
    val mid = ev.agg((min(unix_micros(col("ts")))
      + (max(unix_micros(col("ts"))) - min(unix_micros(col("ts"))))
        / lit(2L)).cast("long").as("__cut"))
    val cut = ev.crossJoin(broadcast(mid))
    (cut.filter(unix_micros(col("ts")) < col("__cut")).drop("__cut"),
      cut.filter(unix_micros(col("ts")) >= col("__cut")).drop("__cut"))
  }

  def oracles: Map[String, String] = Map(
    // exact-integer credit replay: 1e6 div n + remainder-to-last
        // identical to q218's from-scratch summary BY DESIGN: the
    // oracle proves the horizon-state maintenance cut-invariant
    "q229_incr_attribution" ->
      """WITH conv AS (
        |  SELECT user_id, event_id AS cid, epoch_ms(ts) AS tc
        |  FROM events WHERE event_type = 'purchase'),
        |t AS (
        |  SELECT user_id, event_type AS touch_type,
        |    epoch_ms(ts) AS tt, event_id AS tid
        |  FROM events WHERE event_type IN ('view', 'click')),
        |j AS (SELECT c.cid, t.touch_type, t.tt, t.tid
        |  FROM conv c JOIN t USING (user_id)
        |  WHERE t.tt >= c.tc - 259200000 AND t.tt < c.tc),
        |r AS (SELECT cid, touch_type,
        |    row_number() OVER (PARTITION BY cid
        |      ORDER BY tt, tid) AS rn,
        |    count(*) OVER (PARTITION BY cid) AS n
        |  FROM j)
        |SELECT touch_type,
        |  CAST(sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_first,
        |  CAST(sum(CASE WHEN rn = n THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_last,
        |  CAST(sum(1000000 // n
        |    + CASE WHEN rn = n THEN 1000000 % n ELSE 0 END)
        |    AS BIGINT) AS credit_e6
        |FROM r GROUP BY touch_type ORDER BY touch_type""".stripMargin,
"q218_touch_attribution" ->
      """WITH conv AS (
        |  SELECT user_id, event_id AS cid, epoch_ms(ts) AS tc
        |  FROM events WHERE event_type = 'purchase'),
        |t AS (
        |  SELECT user_id, event_type AS touch_type,
        |    epoch_ms(ts) AS tt, event_id AS tid
        |  FROM events WHERE event_type IN ('view', 'click')),
        |j AS (SELECT c.cid, t.touch_type, t.tt, t.tid
        |  FROM conv c JOIN t USING (user_id)
        |  WHERE t.tt >= c.tc - 259200000 AND t.tt < c.tc),
        |r AS (SELECT cid, touch_type,
        |    row_number() OVER (PARTITION BY cid
        |      ORDER BY tt, tid) AS rn,
        |    count(*) OVER (PARTITION BY cid) AS n
        |  FROM j)
        |SELECT touch_type,
        |  CAST(sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_first,
        |  CAST(sum(CASE WHEN rn = n THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_last,
        |  CAST(sum(1000000 // n
        |    + CASE WHEN rn = n THEN 1000000 % n ELSE 0 END)
        |    AS BIGINT) AS credit_e6
        |FROM r GROUP BY touch_type ORDER BY touch_type""".stripMargin,
    // identical to q219's from-scratch intervals BY DESIGN: the
    // oracle is what proves the interval maintenance cut-invariant
    "q222_incr_scd2" ->
      """WITH e AS (
        |  SELECT user_id, event_id, epoch_us(ts) AS us,
        |    CAST(floor(value * 100) AS BIGINT) AS fx
        |  FROM events),
        |ch AS (SELECT user_id, event_id, us, fx,
        |    lag(fx) OVER (PARTITION BY user_id
        |      ORDER BY us, event_id) AS prev
        |  FROM e),
        |f AS (SELECT user_id, event_id, us, fx FROM ch
        |  WHERE prev IS NULL OR fx != prev),
        |v AS (SELECT user_id,
        |    CAST(row_number() OVER w AS INT) AS version,
        |    fx AS value_fx, us AS valid_from_us,
        |    lead(us) OVER w AS valid_to_us
        |  FROM f WINDOW w AS (PARTITION BY user_id
        |    ORDER BY us, event_id))
        |SELECT user_id, version, value_fx, valid_from_us,
        |  valid_to_us, valid_to_us IS NULL AS is_current
        |FROM v ORDER BY user_id, version LIMIT 500""".stripMargin,
    // full interval replay on epoch micros
    "q219_scd2_history" ->
      """WITH e AS (
        |  SELECT user_id, event_id, epoch_us(ts) AS us,
        |    CAST(floor(value * 100) AS BIGINT) AS fx
        |  FROM events),
        |ch AS (SELECT user_id, event_id, us, fx,
        |    lag(fx) OVER (PARTITION BY user_id
        |      ORDER BY us, event_id) AS prev
        |  FROM e),
        |f AS (SELECT user_id, event_id, us, fx FROM ch
        |  WHERE prev IS NULL OR fx != prev),
        |v AS (SELECT user_id,
        |    CAST(row_number() OVER w AS INT) AS version,
        |    fx AS value_fx, us AS valid_from_us,
        |    lead(us) OVER w AS valid_to_us
        |  FROM f WINDOW w AS (PARTITION BY user_id
        |    ORDER BY us, event_id))
        |SELECT user_id, version, value_fx, valid_from_us,
        |  valid_to_us, valid_to_us IS NULL AS is_current
        |FROM v ORDER BY user_id, version LIMIT 500""".stripMargin,
    // identical to q208's from-scratch summary BY DESIGN: the
    // oracle is what proves the maintenance path is cut-invariant
    "q209_incr_ewma" ->
      """WITH q AS (
        |  SELECT event_type,
        |    CAST(floor(value * 100) AS BIGINT) AS xq,
        |    lag(CAST(floor(value * 100) AS BIGINT), 1) OVER w AS l1,
        |    lag(CAST(floor(value * 100) AS BIGINT), 2) OVER w AS l2,
        |    lag(CAST(floor(value * 100) AS BIGINT), 3) OVER w AS l3,
        |    lag(CAST(floor(value * 100) AS BIGINT), 4) OVER w AS l4,
        |    lag(CAST(floor(value * 100) AS BIGINT), 5) OVER w AS l5,
        |    lag(CAST(floor(value * 100) AS BIGINT), 6) OVER w AS l6,
        |    lag(CAST(floor(value * 100) AS BIGINT), 7) OVER w AS l7,
        |    lag(CAST(floor(value * 100) AS BIGINT), 8) OVER w AS l8
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |g AS (
        |  SELECT event_type, xq,
        |    l1*128 + l2*64 + l3*32 + l4*16
        |      + l5*8 + l6*4 + l7*2 + l8 AS hist
        |  FROM q)
        |SELECT event_type,
        |  CAST(count(*) AS BIGINT) AS n_gated,
        |  CAST(sum(CASE WHEN 255*xq > 3*hist
        |    THEN 1 ELSE 0 END) AS BIGINT) AS n_spike,
        |  CAST(sum(CASE WHEN 3*255*xq < hist
        |    THEN 1 ELSE 0 END) AS BIGINT) AS n_dip,
        |  CAST(sum(CASE WHEN 255*xq > 3*hist OR 3*255*xq < hist
        |    THEN abs(255*xq - hist) ELSE 0 END) AS BIGINT)
        |    AS sum_absdev
        |FROM g WHERE hist IS NOT NULL AND xq IS NOT NULL
        |GROUP BY event_type ORDER BY event_type""".stripMargin,
    // the full integer replay: same lags, same dyadic weights, same
    // all-integer comparisons
    "q208_ewma_gate" ->
      """WITH q AS (
        |  SELECT event_type,
        |    CAST(floor(value * 100) AS BIGINT) AS xq,
        |    lag(CAST(floor(value * 100) AS BIGINT), 1) OVER w AS l1,
        |    lag(CAST(floor(value * 100) AS BIGINT), 2) OVER w AS l2,
        |    lag(CAST(floor(value * 100) AS BIGINT), 3) OVER w AS l3,
        |    lag(CAST(floor(value * 100) AS BIGINT), 4) OVER w AS l4,
        |    lag(CAST(floor(value * 100) AS BIGINT), 5) OVER w AS l5,
        |    lag(CAST(floor(value * 100) AS BIGINT), 6) OVER w AS l6,
        |    lag(CAST(floor(value * 100) AS BIGINT), 7) OVER w AS l7,
        |    lag(CAST(floor(value * 100) AS BIGINT), 8) OVER w AS l8
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |g AS (
        |  SELECT event_type, xq,
        |    l1*128 + l2*64 + l3*32 + l4*16
        |      + l5*8 + l6*4 + l7*2 + l8 AS hist
        |  FROM q)
        |SELECT event_type,
        |  CAST(count(*) AS BIGINT) AS n_gated,
        |  CAST(sum(CASE WHEN 255*xq > 3*hist
        |    THEN 1 ELSE 0 END) AS BIGINT) AS n_spike,
        |  CAST(sum(CASE WHEN 3*255*xq < hist
        |    THEN 1 ELSE 0 END) AS BIGINT) AS n_dip,
        |  CAST(sum(CASE WHEN 255*xq > 3*hist OR 3*255*xq < hist
        |    THEN abs(255*xq - hist) ELSE 0 END) AS BIGINT)
        |    AS sum_absdev
        |FROM g WHERE hist IS NOT NULL AND xq IS NOT NULL
        |GROUP BY event_type ORDER BY event_type""".stripMargin,
    // identical to q185's from-scratch counts BY DESIGN (the q206
    // discipline for length-3 windows)
    "q207_incr_paths" ->
      """WITH t AS (
        |  SELECT
        |    lag(event_type, 2) OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id) AS a,
        |    lag(event_type, 1) OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id) AS b,
        |    event_type AS c
        |  FROM events)
        |SELECT a || '>' || b || '>' || c AS path,
        |  CAST(count(*) AS BIGINT) AS n
        |FROM t WHERE a IS NOT NULL AND b IS NOT NULL AND c IS NOT NULL
        |GROUP BY path
        |ORDER BY n DESC, path""".stripMargin,
    // identical to q180's from-scratch matrix BY DESIGN: the oracle
    // is what proves the incremental path is cut-invariant
    "q206_incr_transitions" ->
      """WITH t AS (
        |  SELECT user_id, event_type,
        |    lag(event_type) OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id) AS from_type
        |  FROM events)
        |SELECT from_type, event_type AS to_type,
        |  CAST(count(*) AS BIGINT) AS n
        |FROM t WHERE from_type IS NOT NULL
        |GROUP BY from_type, to_type
        |ORDER BY from_type, to_type""".stripMargin,
    "q180_event_transitions" ->
      """WITH t AS (
        |  SELECT user_id, event_type,
        |    lag(event_type) OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id) AS from_type
        |  FROM events)
        |SELECT from_type, event_type AS to_type,
        |  CAST(count(*) AS BIGINT) AS n
        |FROM t WHERE from_type IS NOT NULL
        |GROUP BY from_type, to_type
        |ORDER BY from_type, to_type""".stripMargin,
    "q185_event_paths" ->
      """WITH t AS (
        |  SELECT
        |    lag(event_type, 2) OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id) AS a,
        |    lag(event_type, 1) OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id) AS b,
        |    event_type AS c
        |  FROM events)
        |SELECT a || '>' || b || '>' || c AS path,
        |  CAST(count(*) AS BIGINT) AS n
        |FROM t WHERE a IS NOT NULL AND b IS NOT NULL AND c IS NOT NULL
        |GROUP BY path
        |ORDER BY n DESC, path""".stripMargin,
    "q178_event_funnel" ->
      """WITH e AS (SELECT user_id, event_type, ts FROM events),
        |s1 AS (SELECT user_id, min(ts) AS t FROM e
        |       WHERE event_type = 'view' GROUP BY user_id),
        |s2 AS (SELECT e.user_id, min(e.ts) AS t
        |       FROM e JOIN s1 ON e.user_id = s1.user_id
        |       WHERE e.event_type = 'click' AND e.ts > s1.t
        |       GROUP BY e.user_id),
        |s3 AS (SELECT e.user_id, min(e.ts) AS t
        |       FROM e JOIN s2 ON e.user_id = s2.user_id
        |       WHERE e.event_type = 'purchase' AND e.ts > s2.t
        |       GROUP BY e.user_id)
        |SELECT 1 AS step, 'view' AS step_name,
        |  CAST(count(*) AS BIGINT) AS n_users FROM s1
        |UNION ALL SELECT 2, 'click', CAST(count(*) AS BIGINT) FROM s2
        |UNION ALL SELECT 3, 'purchase', CAST(count(*) AS BIGINT) FROM s3
        |ORDER BY step""".stripMargin,
    "q188_windowed_funnel" ->
      """WITH e AS (SELECT user_id, event_type, epoch_ms(ts) AS tm
        |           FROM events),
        |v1 AS (SELECT DISTINCT user_id, tm FROM e
        |       WHERE event_type = 'view'),
        |v2 AS (SELECT DISTINCT e.user_id, e.tm
        |       FROM e JOIN v1 ON e.user_id = v1.user_id
        |       WHERE e.event_type = 'click'
        |         AND e.tm > v1.tm AND e.tm <= v1.tm + 21600000),
        |v3 AS (SELECT DISTINCT e.user_id, e.tm
        |       FROM e JOIN v2 ON e.user_id = v2.user_id
        |       WHERE e.event_type = 'purchase'
        |         AND e.tm > v2.tm AND e.tm <= v2.tm + 21600000)
        |SELECT 1 AS step, 'view' AS step_name,
        |  CAST(count(DISTINCT user_id) AS BIGINT) AS n_users FROM v1
        |UNION ALL SELECT 2, 'click',
        |  CAST(count(DISTINCT user_id) AS BIGINT) FROM v2
        |UNION ALL SELECT 3, 'purchase',
        |  CAST(count(DISTINCT user_id) AS BIGINT) FROM v3
        |ORDER BY step""".stripMargin,
    "q179_cohort_retention" ->
      """WITH w AS (SELECT user_id,
        |    (epoch_ms(ts) // 86400000) // 7 AS wk FROM events),
        |f AS (SELECT user_id, min(wk) AS cohort_wk
        |      FROM w GROUP BY user_id),
        |a AS (SELECT DISTINCT user_id, wk FROM w)
        |SELECT f.cohort_wk, a.wk - f.cohort_wk AS wk_offset,
        |  CAST(count(DISTINCT a.user_id) AS BIGINT) AS n_users
        |FROM a JOIN f ON a.user_id = f.user_id
        |GROUP BY f.cohort_wk, wk_offset
        |ORDER BY f.cohort_wk, wk_offset""".stripMargin,
    "q175_incremental_agg" ->
      """SELECT event_type,
        |  CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT)
        |    AS sum_fx,
        |  CAST(min(floor(value * 100)) AS BIGINT) AS min_fx,
        |  CAST(max(floor(value * 100)) AS BIGINT) AS max_fx,
        |  CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT)
        |    // CAST(count(*) AS BIGINT) AS avg_fx
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "q171_drift_chi2" ->
      """WITH ref AS (
        |  SELECT CAST(floor(value * 100) AS BIGINT) AS fx
        |  FROM events WHERE event_type = 'view'),
        |cur AS (
        |  SELECT CAST(floor(value * 100) AS BIGINT) AS fx
        |  FROM events WHERE event_type = 'purchase'),
        |st AS (SELECT min(fx) AS mn, max(fx) AS mx FROM ref),
        |rb AS (SELECT least(15, greatest(0,
        |    ((fx - mn) * 16) // (mx - mn + 1))) AS bucket,
        |  count(*) AS n_ref FROM ref, st GROUP BY bucket),
        |cb AS (SELECT least(15, greatest(0,
        |    ((fx - mn) * 16) // (mx - mn + 1))) AS bucket,
        |  count(*) AS n_cur FROM cur, st GROUP BY bucket),
        |j AS (SELECT COALESCE(rb.bucket, cb.bucket) AS bucket,
        |    CAST(COALESCE(n_ref, 0) AS BIGINT) AS n_ref,
        |    CAST(COALESCE(n_cur, 0) AS BIGINT) AS n_cur
        |  FROM rb FULL OUTER JOIN cb ON rb.bucket = cb.bucket),
        |t AS (SELECT CAST(sum(n_ref) AS BIGINT) AS tr,
        |    CAST(sum(n_cur) AS BIGINT) AS tc FROM j)
        |SELECT bucket, n_ref, n_cur,
        |  CAST(floor(
        |    ((n_cur + 1.0) / (tc + 16) - (n_ref + 1.0) / (tr + 16))
        |    * ((n_cur + 1.0) / (tc + 16) - (n_ref + 1.0) / (tr + 16))
        |    / ((n_ref + 1.0) / (tr + 16)) * 1000000.0) AS BIGINT)
        |    AS term_e6
        |FROM j, t ORDER BY bucket""".stripMargin,
    "q195_psi_drift" ->
      """WITH ref AS (
        |  SELECT CAST(floor(value * 100) AS BIGINT) AS fx
        |  FROM events WHERE event_type = 'view'),
        |cur AS (
        |  SELECT CAST(floor(value * 100) AS BIGINT) AS fx
        |  FROM events WHERE event_type = 'purchase'),
        |st AS (SELECT min(fx) AS mn, max(fx) AS mx FROM ref),
        |rb AS (SELECT least(15, greatest(0,
        |    ((fx - mn) * 16) // (mx - mn + 1))) AS bucket,
        |  count(*) AS n_ref FROM ref, st GROUP BY bucket),
        |cb AS (SELECT least(15, greatest(0,
        |    ((fx - mn) * 16) // (mx - mn + 1))) AS bucket,
        |  count(*) AS n_cur FROM cur, st GROUP BY bucket),
        |j AS (SELECT COALESCE(rb.bucket, cb.bucket) AS bucket,
        |    CAST(COALESCE(n_ref, 0) AS BIGINT) AS n_ref,
        |    CAST(COALESCE(n_cur, 0) AS BIGINT) AS n_cur
        |  FROM rb FULL OUTER JOIN cb ON rb.bucket = cb.bucket),
        |t AS (SELECT CAST(sum(n_ref) AS BIGINT) AS tr,
        |    CAST(sum(n_cur) AS BIGINT) AS tc FROM j)
        |SELECT bucket, n_ref, n_cur,
        |  CAST(floor(
        |    ((n_cur + 1.0) / (tc + 16) - (n_ref + 1.0) / (tr + 16))
        |    * ln(((n_cur + 1.0) / (tc + 16)) / ((n_ref + 1.0) / (tr + 16)))
        |    * 1000000.0) AS BIGINT)
        |    AS term_e6
        |FROM j, t ORDER BY bucket""".stripMargin,
    "q187_ks_drift" ->
      """WITH r AS (SELECT CAST(floor(value * 100) AS BIGINT) AS fx
        |  FROM events WHERE event_type = 'view'),
        |c AS (SELECT CAST(floor(value * 100) AS BIGINT) AS fx
        |  FROM events WHERE event_type = 'purchase'),
        |u AS (SELECT fx, 0 AS side FROM r
        |  UNION ALL SELECT fx, 1 FROM c),
        |b AS (SELECT fx,
        |    CAST(sum(CASE WHEN side = 0 THEN 1 ELSE 0 END) AS BIGINT) AS nr,
        |    CAST(sum(CASE WHEN side = 1 THEN 1 ELSE 0 END) AS BIGINT) AS nc
        |  FROM u WHERE fx IS NOT NULL GROUP BY fx),
        |w AS (SELECT
        |    sum(nr) OVER (ORDER BY fx ROWS UNBOUNDED PRECEDING) AS cr,
        |    sum(nc) OVER (ORDER BY fx ROWS UNBOUNDED PRECEDING) AS cc,
        |    sum(nr) OVER () AS tnr, sum(nc) OVER () AS tnc
        |  FROM b)
        |SELECT CAST(coalesce(max(tnr), 0) AS BIGINT) AS n_ref,
        |  CAST(coalesce(max(tnc), 0) AS BIGINT) AS n_cur,
        |  CAST(CASE WHEN max(tnr) = 0 OR max(tnc) = 0 THEN NULL ELSE
        |    max(abs(cr::HUGEINT * tnc - cc::HUGEINT * tnr)) * 1000000
        |    // (max(tnr)::HUGEINT * max(tnc)) END AS BIGINT) AS d_e6
        |FROM w""".stripMargin,
    "q201_outlier_fences" ->
      """WITH b AS (SELECT event_type AS g,
        |    CAST(floor(value * 100) AS BIGINT) AS fx FROM events),
        |r AS (SELECT g, fx,
        |    CAST(row_number() OVER (PARTITION BY g ORDER BY fx)
        |      AS BIGINT) AS rn,
        |    CAST(count(*) OVER (PARTITION BY g) AS BIGINT) AS n
        |  FROM b),
        |q AS (SELECT g,
        |    min(CASE WHEN rn = (n + 3) // 4 THEN fx END) AS q25,
        |    max(CASE WHEN rn = (3 * n + 3) // 4 THEN fx END) AS q75
        |  FROM r WHERE rn = (n + 3) // 4 OR rn = (3 * n + 3) // 4
        |  GROUP BY g)
        |SELECT b.g AS event_type, CAST(count(*) AS BIGINT) AS n,
        |  CAST(max(q25) AS BIGINT) AS q25_fx,
        |  CAST(max(q75) AS BIGINT) AS q75_fx,
        |  CAST(sum(CASE WHEN 2 * fx < 2 * q25 - 3 * (q75 - q25)
        |    THEN 1 ELSE 0 END) AS BIGINT) AS n_low,
        |  CAST(sum(CASE WHEN 2 * fx > 2 * q75 + 3 * (q75 - q25)
        |    THEN 1 ELSE 0 END) AS BIGINT) AS n_high
        |FROM b JOIN q USING (g) GROUP BY b.g ORDER BY event_type""".stripMargin,
    "q196_cms_counts" ->
      """WITH rr AS (SELECT unnest(range(0, 4)) AS r),
        |rb AS (SELECT r,
        |    CAST(CAST('0x' || substr(md5(r || ':'
        |      || CAST(user_id AS VARCHAR)), 1, 12) AS UBIGINT)
        |      % 256 AS BIGINT) AS b
        |  FROM events, rr),
        |sk AS (SELECT r, b, CAST(count(*) AS BIGINT) AS c
        |  FROM rb GROUP BY r, b),
        |k AS (SELECT user_id, CAST(count(*) AS BIGINT) AS n_exact
        |  FROM events GROUP BY user_id),
        |pe AS (SELECT k.user_id, k.n_exact, rr.r,
        |    CAST(CAST('0x' || substr(md5(rr.r || ':'
        |      || CAST(k.user_id AS VARCHAR)), 1, 12) AS UBIGINT)
        |      % 256 AS BIGINT) AS b
        |  FROM k, rr)
        |SELECT pe.user_id, CAST(max(pe.n_exact) AS BIGINT) AS n_exact,
        |  CAST(min(coalesce(sk.c, 0)) AS BIGINT) AS est_n,
        |  CAST(min(coalesce(sk.c, 0)) - max(pe.n_exact) AS BIGINT)
        |    AS overshoot
        |FROM pe LEFT JOIN sk ON sk.r = pe.r AND sk.b = pe.b
        |GROUP BY pe.user_id ORDER BY pe.user_id""".stripMargin,
    "q164_kmv_distinct" ->
      """WITH h AS (
        |  SELECT DISTINCT CAST(CAST('0x'
        |    || substr(md5(CAST(user_id AS VARCHAR)), 1, 12) AS UBIGINT)
        |    AS BIGINT) AS hv
        |  FROM events),
        |mins AS (SELECT hv FROM h ORDER BY hv LIMIT 32),
        |agg AS (SELECT CAST(count(*) AS BIGINT) AS k_used,
        |               max(hv) AS h_k FROM mins),
        |ex AS (SELECT CAST(count(DISTINCT user_id) AS BIGINT) AS n_exact
        |       FROM events)
        |SELECT k_used, h_k,
        |  CAST(CASE WHEN k_used < 32 THEN k_used
        |       ELSE (k_used - 1) * 281474976710656 // h_k END AS BIGINT)
        |    AS est_distinct,
        |  n_exact
        |FROM agg, ex""".stripMargin,
    // the UNSKETCHED aggregate: the certification contract says the
    // bounded-memory pipeline equals this bit-for-bit
    "q162_heavy_hitters" ->
      """WITH ev AS (
        |  SELECT CASE WHEN user_id % 2 = 0 THEN 1 ELSE user_id END AS k
        |  FROM events),
        |c AS (SELECT k, CAST(count(*) AS BIGINT) AS n FROM ev GROUP BY k),
        |t AS (SELECT count(*) AS total FROM ev)
        |SELECT c.k, c.n FROM c, t
        |WHERE c.n * 256 > t.total ORDER BY c.n DESC, c.k""".stripMargin,
    // deliberately UNSALTED: the oracle proves the salt changed
    // nothing but the partitioning
    "q161_salted_join" ->
      """WITH ev AS (
        |  SELECT event_id, user_id, value,
        |    CASE WHEN user_id % 2 = 0 THEN 1 ELSE user_id END AS k
        |  FROM events),
        |j AS (SELECT ev.user_id, ev.value, c.c_mktsegment
        |      FROM ev JOIN customer c ON ev.k = c.c_custkey)
        |SELECT c_mktsegment,
        |  CAST(count(*) AS BIGINT) AS n_events,
        |  CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
        |  CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT)
        |    AS value_fx
        |FROM j GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,
    "q68_tumbling_window" ->
      """SELECT time_bucket(INTERVAL '1 hour', ts) AS win_start, event_type,
        |       cast(count(*) as bigint) AS n, round(sum(value), 4) AS total
        |FROM events GROUP BY win_start, event_type
        |ORDER BY win_start, event_type""".stripMargin,
    "q69_sliding_window" ->
      // a 1h/30m sliding window: event t belongs to the windows
      // starting at bucket30(t) and bucket30(t) - 30min
      """SELECT time_bucket(INTERVAL '30 minutes', ts) - to_minutes(off)
        |         AS win_start,
        |       cast(count(*) as bigint) AS n
        |FROM events, (SELECT unnest([0, 30]) AS off) o
        |GROUP BY win_start ORDER BY win_start""".stripMargin,
    // the identical fixed-form z expression, floored e6
    "q234_ab_test" ->
      """WITH u AS (
        |  SELECT user_id,
        |    CASE WHEN sum(CASE WHEN event_type = 'purchase'
        |             THEN 1 ELSE 0 END)
        |           > sum(CASE WHEN event_type = 'click'
        |             THEN 1 ELSE 0 END)
        |      THEN 1 ELSE 0 END AS converted
        |  FROM events GROUP BY user_id),
        |g AS (SELECT CASE WHEN user_id % 2 = 0 THEN 'A' ELSE 'B' END
        |    AS cohort,
        |    CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(converted) AS BIGINT) AS k
        |  FROM u GROUP BY cohort),
        |w AS (SELECT
        |    max(CASE WHEN cohort = 'A' THEN n END) AS n_a,
        |    max(CASE WHEN cohort = 'A' THEN k END) AS conv_a,
        |    max(CASE WHEN cohort = 'B' THEN n END) AS n_b,
        |    max(CASE WHEN cohort = 'B' THEN k END) AS conv_b
        |  FROM g)
        |SELECT n_a, conv_a, n_b, conv_b,
        |  CASE WHEN conv_a + conv_b = 0
        |         OR conv_a + conv_b = n_a + n_b THEN NULL
        |  ELSE cast(floor(
        |    ((conv_a / cast(n_a as double))
        |     - (conv_b / cast(n_b as double)))
        |    / sqrt(
        |        ((conv_a + conv_b) / cast(n_a + n_b as double))
        |        * (1 - (conv_a + conv_b)
        |             / cast(n_a + n_b as double))
        |        * (1.0/cast(n_a as double)
        |           + 1.0/cast(n_b as double)))
        |    * 1000000.0) as bigint) END AS z_e6,
        |  abs(CASE WHEN conv_a + conv_b = 0
        |         OR conv_a + conv_b = n_a + n_b THEN NULL
        |  ELSE cast(floor(
        |    ((conv_a / cast(n_a as double))
        |     - (conv_b / cast(n_b as double)))
        |    / sqrt(
        |        ((conv_a + conv_b) / cast(n_a + n_b as double))
        |        * (1 - (conv_a + conv_b)
        |             / cast(n_a + n_b as double))
        |        * (1.0/cast(n_a as double)
        |           + 1.0/cast(n_b as double)))
        |    * 1000000.0) as bigint) END) >= 1960000 AS significant
        |FROM w""".stripMargin,
    // rank-based percentiles replay with the identical integer
    // ceil-rank formula
    "q232_conversion_latency" ->
      """WITH fv AS (
        |  SELECT user_id, min(epoch_ms(ts)) AS tv
        |  FROM events WHERE event_type = 'view' GROUP BY user_id),
        |lat AS (
        |  SELECT e.user_id, min(epoch_ms(e.ts)) - fv.tv AS l
        |  FROM events e JOIN fv ON e.user_id = fv.user_id
        |  WHERE e.event_type = 'purchase' AND epoch_ms(e.ts) > fv.tv
        |  GROUP BY e.user_id, fv.tv),
        |r AS (SELECT l, row_number() OVER (ORDER BY l, user_id)
        |    AS rk FROM lat),
        |n AS (SELECT CAST(count(*) AS BIGINT) AS n_users FROM lat)
        |SELECT n.n_users,
        |  (SELECT l FROM r, n
        |   WHERE rk = (n.n_users * 50 + 99) // 100) AS p50_ms,
        |  (SELECT l FROM r, n
        |   WHERE rk = (n.n_users * 90 + 99) // 100) AS p90_ms,
        |  (SELECT max(l) FROM r) AS max_ms
        |FROM n""".stripMargin,
    // sessions rebuilt with the q70 CTEs, then the identical
    // +1-first sweep
    "q231_peak_concurrency" ->
      """WITH flagged AS (
        |  SELECT user_id, ts,
        |    CASE WHEN epoch_ms(ts) - epoch_ms(lag(ts) OVER
        |           (PARTITION BY user_id ORDER BY ts)) > 1800000
        |         THEN 1 ELSE 0 END AS new_s
        |  FROM events),
        |sess AS (
        |  SELECT user_id, ts,
        |    sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
        |      ROWS UNBOUNDED PRECEDING) AS session_id
        |  FROM flagged),
        |per AS (
        |  SELECT user_id, session_id,
        |    min(epoch_us(ts)) AS s, max(epoch_us(ts)) AS e
        |  FROM sess GROUP BY user_id, session_id),
        |d AS (SELECT s AS t, 1 AS delta FROM per
        |  UNION ALL SELECT e AS t, -1 AS delta FROM per),
        |r AS (SELECT t, delta,
        |    sum(delta) OVER (ORDER BY t, delta DESC
        |      ROWS UNBOUNDED PRECEDING) AS running
        |  FROM d),
        |mx AS (SELECT max(running) AS peak FROM r)
        |SELECT
        |  (SELECT CAST(count(*) AS BIGINT) FROM per) AS n_intervals,
        |  CAST(mx.peak AS BIGINT) AS peak,
        |  (SELECT min(t) FROM r WHERE r.running = mx.peak)
        |    AS peak_at_us
        |FROM mx""".stripMargin,
    "q70_session_stats" ->
      """WITH flagged AS (
        |  SELECT user_id, ts, value,
        |    CASE WHEN epoch_ms(ts) - epoch_ms(lag(ts) OVER
        |           (PARTITION BY user_id ORDER BY ts)) > 1800000
        |         THEN 1 ELSE 0 END AS new_s
        |  FROM events),
        |sess AS (
        |  SELECT user_id, ts, value,
        |    sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
        |      ROWS UNBOUNDED PRECEDING) AS session_id
        |  FROM flagged),
        |per AS (
        |  SELECT user_id, session_id, cast(count(*) as bigint) AS n
        |  FROM sess GROUP BY user_id, session_id)
        |SELECT n, cast(count(*) as bigint) AS n_sessions
        |FROM per GROUP BY n ORDER BY n""".stripMargin
  )
}
