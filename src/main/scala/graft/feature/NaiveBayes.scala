package graft.feature

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.ops.Pin

/** Multinomial Naive Bayes text classifier — closed-form train
  * (group counts + Laplace smoothing) and score, no gradient loop.
  * The trainable-classifier curation step (CCNet trains a fastText
  * langid/quality model; NB is the classic closed-form counterpart
  * whose training IS an aggregation, so it runs at corpus scale as
  * ordinary Spark shuffles and replays exactly in SQL).
  *
  * Fixed-point discipline (DSIR/q131 style): every log-probability
  * floors to integer millionths BEFORE any sum, so scores are exact
  * integers — partition order never touches the ranking and the
  * oracle mirrors the IEEE op order term for term. The score
  * decomposes around the per-label "unseen term" contribution:
  *
  *   score(d,l) = priorFx(l) + m_d·missFx(l)
  *                + Σ_{t∈d∩vocab, c(t,l)>0} n_{d,t}·(contribFx(t,l) − missFx(l))
  *
  *   contribFx(t,l) = ⌊10⁶·(ln(c(t,l)+1) − ln(tot_l + V))⌋
  *   missFx(l)      = ⌊10⁶·(ln 1 − ln(tot_l + V))⌋   (c = 0 case)
  *   priorFx(l)     = ⌊10⁶·ln(n_l / N)⌋
  *
  * so only the SPARSE (term,label) table ever joins the test stream
  * — the dense vocab×labels matrix never materializes. Out-of-vocab
  * test terms are dropped (standard multinomial NB scoring).
  *
  * Scale shape: the (label,term) count table shuffles once with
  * map-side partial agg and persists (vocab size V, per-label
  * totals, and the contribution deltas all derive from it); the
  * test stream shuffles on (doc,term) for tf, joins the delta table
  * on term (sort-merge at corpus scale, AQE broadcast at toy scale
  * — no hint pins it), and sums per (doc,label). The label-stats
  * table is |labels| rows and broadcasts. Document text never
  * shuffles — only terms and integer counts.
  */
object NaiveBayes {

  /** Score `test` docs against an NB model fitted on `train`.
    * Both need `idCol` (test), `labelCol` (train), and an array
    * `toksCol`. Returns one row per test doc that has ≥1 in-vocab
    * token: (idCol, pred, score_fx) with `pred` the argmax label
    * (ties broken by label ascending) and `score_fx` its exact
    * integer score.
    */
  def classify(train: DataFrame, test: DataFrame, idCol: String,
      toksCol: String, labelCol: String): DataFrame = {
    // sparse (label, term) counts — cached: V, per-label totals
    // and the contribution deltas are all derived from it. The train
    // pass widens on a token-array hash (labels are few — hashing on
    // the label would collapse parallelism; the array hash is
    // deterministic): off an unsplittable single-row-group scan the
    // explode + partial aggregate ran on one core (r16).
    val tl = Pin.cache(graft.ops.Parallelism.widen(train, col(toksCol))
      .select(col(labelCol).as("__l"), explode(col(toksCol)).as("__t"))
      .groupBy(col("__l"), col("__t")).agg(count(lit(1)).as("__c")),
      eager = true)
    val vv = tl.agg(countDistinct(col("__t")).cast("double").as("__v"))
    val ls = tl.groupBy(col("__l"))
      .agg(sum(col("__c")).cast("double").as("__tot"))
    val lab = train.groupBy(col(labelCol).as("__l"))
      .agg(count(lit(1)).as("__nl"))
      .join(ls, "__l")
      .crossJoin(broadcast(vv))
      .crossJoin(broadcast(train.agg(count(lit(1)).cast("double").as("__n"))))
      .select(col("__l"),
        floor(lit(1e6) * log(col("__nl") / col("__n")))
          .cast("long").as("__prior"),
        floor(lit(1e6) * (log(lit(1.0)) - log(col("__tot") + col("__v"))))
          .cast("long").as("__miss"))
    val delta = tl
      .join(broadcast(ls), "__l").join(broadcast(lab), "__l")
      .crossJoin(broadcast(vv))
      .select(col("__t"), col("__l"),
        (floor(lit(1e6) *
            (log(col("__c") + lit(1.0)) - log(col("__tot") + col("__v"))))
          .cast("long") - col("__miss")).as("__d"))
    // test term counts, restricted to the train vocabulary —
    // cached: the in-vocab token total m_d and the sparse score
    // join both read it. Bounded by test (doc,term) pairs.
    val dt = Pin.cache(graft.ops.Parallelism.widen(test, idCol)
      .select(col(idCol), explode(col(toksCol)).as("__t"))
      .groupBy(col(idCol), col("__t")).agg(count(lit(1)).as("__cnt"))
      .join(tl.select(col("__t")).distinct(), Seq("__t"), "leftsemi"),
      eager = true)
    val md = dt.groupBy(col(idCol)).agg(sum(col("__cnt")).as("__m"))
    val sp = dt.join(delta, "__t")
      .groupBy(col(idCol), col("__l"))
      .agg(sum(col("__cnt") * col("__d")).as("__ss"))
    val w = Window.partitionBy(col(idCol))
      .orderBy(col("__score").desc, col("__l"))
    val out = md.crossJoin(broadcast(lab))
      .join(sp, Seq(idCol, "__l"), "left")
      .withColumn("__score",
        col("__prior") + col("__m") * col("__miss") +
          coalesce(col("__ss"), lit(0L)))
      .withColumn("__rk", row_number().over(w))
      .filter(col("__rk") === 1)
      .select(col(idCol), col("__l").as("pred"), col("__score").as("score_fx"))
    Pin.untilUsed(out, tl, dt)
  }

  /** A fitted NB model compacted to a driver-side artifact: labels
    * (sorted), their prior/miss constants, and the per-term
    * contribution deltas for the `vocabCap` highest-count terms.
    * Deliberately BOUNDED — `vocabCap` caps the driver
    * materialization the way any deployed classifier caps its
    * feature table; smoothing constants (V, per-label totals) come
    * from the FULL training vocabulary, so with `vocabCap` ≥ |vocab|
    * the scores equal [[classify]]'s exactly (spec-pinned).
    */
  final case class CompactModel(labels: Array[String],
      priorFx: Array[Long], missFx: Array[Long],
      delta: Map[String, Array[Long]]) {
    require(labels.length == priorFx.length &&
      labels.length == missFx.length)

    /** (pred, score_fx) for one token sequence; None when no token
      * is in the model vocabulary (mirrors [[classify]] emitting no
      * row). Ties break toward the smaller label — labels are sorted
      * and the scan keeps strict improvements only.
      */
    def score(toks: Seq[String]): Option[(String, Long)] = {
      val k = labels.length
      val acc = new Array[Long](k)
      var m = 0L
      if (toks != null) toks.foreach { t =>
        delta.get(t) match {
          case Some(d) =>
            m += 1; var i = 0; while (i < k) { acc(i) += d(i); i += 1 }
          case None => ()
        }
      }
      if (m == 0L) None
      else {
        var best = 0; var bestScore = Long.MinValue; var i = 0
        while (i < k) {
          val s = priorFx(i) + m * missFx(i) + acc(i)
          if (s > bestScore) { best = i; bestScore = s }
          i += 1
        }
        Some((labels(best), bestScore))
      }
    }
  }

  /** Fit the NB model and compact it for broadcast scoring. The
    * aggregation pipeline is [[classify]]'s train half; only the
    * final ≤ `vocabCap` (term → per-label delta) rows ever reach the
    * driver (top terms by total count, term-ascending tie-break, so
    * the cap is deterministic).
    *
    * The cap is SELF-ENFORCING (the X5
    * [[graft.ops.ShardedBroadcast]] contract): before collecting,
    * the vocabCap × |labels| materialization is size-estimated from
    * a sampled row footprint and `onWarn` fires above `warnGb` —
    * a caller whose cap outgrew the compact-model pattern should
    * score with [[classify]]'s join path instead.
    */
  def fitCompact(train: DataFrame, toksCol: String, labelCol: String,
      vocabCap: Int = 100000,
      warnGb: Double = graft.ops.ShardedBroadcast.DefaultWarnGb,
      onWarn: String => Unit = m => System.err.println(m)): CompactModel = {
    val tl = Pin.cache(train
      .select(col(labelCol).as("__l"), explode(col(toksCol)).as("__t"))
      .groupBy(col("__l"), col("__t")).agg(count(lit(1)).as("__c")),
      eager = true)
    try {
      val vv = tl.agg(countDistinct(col("__t")).cast("double").as("__v"))
      val ls = tl.groupBy(col("__l"))
        .agg(sum(col("__c")).cast("double").as("__tot"))
      val labRows = train.groupBy(col(labelCol).as("__l"))
        .agg(count(lit(1)).as("__nl"))
        .join(ls, "__l")
        .crossJoin(broadcast(vv))
        .crossJoin(broadcast(train.agg(count(lit(1)).cast("double").as("__n"))))
        .select(col("__l"),
          floor(lit(1e6) * log(col("__nl") / col("__n")))
            .cast("long").as("__prior"),
          floor(lit(1e6) * (log(lit(1.0)) - log(col("__tot") + col("__v"))))
            .cast("long").as("__miss"), col("__v"))
        .orderBy(col("__l"))
        .collect()
      val labels = labRows.map(_.getString(0))
      val idx = labels.zipWithIndex.toMap
      // Driver-materialization guard: estimate the upcoming collect
      // (≤ vocabCap × |labels| rows) from a tiny sampled footprint;
      // one limit() job on the already-persisted counts table.
      val sample = tl.limit(64).collect()
      if (sample.nonEmpty) {
        val perRow =
          org.apache.spark.util.SizeEstimator.estimate(sample) /
            sample.length
        val gb = vocabCap.toDouble * labels.length * perRow /
          1024.0 / 1024.0 / 1024.0
        if (gb > warnGb)
          onWarn(f">>> fitCompact: vocabCap=$vocabCap x ${labels.length}" +
            f" labels estimates $gb%.2f GB on the driver (> $warnGb%.1f" +
            " GB) — use classify()'s join path instead of a compact" +
            " broadcast model at this scale.")
      }
      // the top-k keeps at most |vocab| rows: sized by vocabCap alone,
      // its selector buffer is O(vocabCap) whatever the vocabulary
      val vocab = labRows.headOption.fold(0L)(_.getDouble(3).toLong)
      val kept = tl.groupBy(col("__t"))
        .agg(sum(col("__c")).as("__ct"))
        .orderBy(col("__ct").desc, col("__t"))
        .limit(math.min(vocabCap.toLong, vocab).toInt)
        .select(col("__t"))
      val deltaRows = tl.join(kept, "__t")
        .join(broadcast(ls), "__l")
        .crossJoin(broadcast(vv))
        .select(col("__t"), col("__l"),
          floor(lit(1e6) *
              (log(col("__c") + lit(1.0)) - log(col("__tot") + col("__v"))))
            .cast("long").as("__contrib"))
        .collect()
      val miss = labRows.map(_.getLong(2))
      val delta = deltaRows.groupBy(_.getString(0)).map { case (t, rows) =>
        val d = new Array[Long](labels.length)
        rows.foreach(r => d(idx(r.getString(1))) = r.getLong(2) - miss(idx(r.getString(1))))
        t -> d
      }
      CompactModel(labels, labRows.map(_.getLong(1)), miss, delta)
    } finally Pin.release(tl)
  }
}
