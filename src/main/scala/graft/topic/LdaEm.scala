package graft.topic

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.ops.Pin

/** Exact-integer hard-EM topic fitting — the ORACLE-COMPLETE twin of
  * the seeded mllib LDA fits (q63/q64), on the q120 exact-Lloyd
  * precedent: mllib's variational inference is seeded-deterministic
  * but no SQL engine can replay it, so those queries carry rows-only
  * checks; this fit replaces every float with fixed-point integers
  * and every random choice with a deterministic rule, making the
  * whole EM chain hash-verifiable in any engine.
  *
  * The model is classification EM (hard assignments) over the
  * collapsed score every Gibbs/CVB LDA variant shares:
  *
  *   score(z | d, w) = (n_dk + α) · (n_wk + β) / (n_k + V·β)
  *
  * computed in count units scaled by S = 100 (α = 0.5 → 50,
  * β = 0.1 → 10) and floored to integer millionths after one decimal
  * widening — both engines compare IDENTICAL floored integers, so
  * the argmax (ties → smallest topic, via the max-join-min-z rule,
  * never an engine-private argmax) is deterministic everywhere.
  * Init: topic = vocab index mod k, the standard deterministic
  * seeding. A FIXED iteration count (no convergence test — a float
  * tolerance would put a comparison on the replay boundary).
  *
  * Scale shape: everything is keyed aggregates and equi-joins — the
  * (d,w) count table shuffles once per iteration into (d,z)/(w,z)/z
  * count tables (the latter two vocabulary×k- and k-bounded; the
  * k-row topic table cross-joins as a broadcast literal), and the
  * argmax is a (d,w)-keyed max + equi-join + min, never a global
  * sort. Per-iteration cost is O(nnz·k) rows through hash
  * aggregates; the corpus text is read exactly once.
  *
  * Lineage control (the Bpe.learnMerges lesson, measured here the
  * hard way): each iteration references the previous assignment ~6
  * times (three count tables, the score base, the argmax join), so
  * an un-truncated LOGICAL plan fans out 6^i subtree copies — with
  * plain persist the execution reads cache but CATALYST still
  * analyzes the whole tree, and the post-fit queries spent 16-38 s
  * in pure planning at iters=3. [[fit]] therefore cuts
  * ([[graft.ops.Pin.cut]]) each iteration's assignments — the plan
  * resets to a scan of checkpointed blocks, O(1) analysis per round,
  * and each round's cut is released once the next is materialised
  * (loop scope), so at most two rounds of nnz rows are held.
  */
object LdaEm {

  private val S = 100L      // count-unit scale: α=0.5→50, β=0.1→10
  private val ALPHA_S = 50L
  private val BETA_S = 10L
  private val PREC = 1000000L

  /** (vocab, assignments): vocab = (__t, __w) top-`vocabSize` tokens
    * by (count desc, token asc); assignments = (__d, __w, __cnt,
    * __z) after `iters` hard-EM rounds. The vocabulary is a cache and
    * the assignments a cut; the caller releases both.
    */
  def fit(docs: DataFrame, idCol: String, tokensCol: String,
      k: Int, vocabSize: Int, iters: Int): (DataFrame, DataFrame) = {
    // widened (r16): the tokenize + explode + (d,t) partial aggregate
    // is the fit's whole corpus pass; off an unsplittable single-
    // row-group scan it ran on one core (pass-through for
    // well-partitioned input — ops.Parallelism.widen)
    val dw0 = graft.ops.Parallelism.widen(docs, idCol)
      .select(col(idCol).as("__d"), explode(col(tokensCol)).as("__t"))
      .filter(length(col("__t")) > 0)
      .groupBy(col("__d"), col("__t"))
      .agg(count(lit(1)).as("__cnt"))
    // vocabulary-bounded single-partition window — the same
    // documented trade as every vocab indexer here (W2 pattern)
    val vw = Window.partitionBy().orderBy(col("__n").desc, col("__t"))
    val vocab = Pin.cache(
      dw0.groupBy(col("__t")).agg(sum(col("__cnt")).as("__n"))
        .withColumn("__w", row_number().over(vw).cast("long") - 1)
        .filter(col("__w") < vocabSize)
        .select(col("__t"), col("__w")))
    var a = Pin.cut(dw0.join(vocab, "__t")
      .select(col("__d"), col("__w"), col("__cnt"),
        (col("__w") % k).as("__z")))
    // E-step via per-key PIVOTED count rows instead of a k-fold
    // crossJoin (r16 optimization, results bit-identical): the old
    // plan expanded nnz×k rows, left-joined three count tables and
    // resolved the argmax through a max-aggregate + self-join — six
    // exchanges and a k× shuffle blowup per iteration. Pivoting n_dk
    // and n_wk into k columns keyed by __d / __w (one aggregate each)
    // and the k-row n_k into a 1-row broadcast lets ONE projection
    // compute all k scores and take the argmax inline. The score
    // expression is the SAME decimal text per topic, coalesce(·,0)
    // matching the old left-join nulls, and the tie rule (smallest z
    // at the max) is the CASE order — LdaEmSpec + the q189/q190/q194
    // exact-hash oracles pin equality.
    def score(z: Int, cdz: String, cwz: String, cz: String): String =
      s"cast(($S * coalesce($cdz, 0) + $ALPHA_S) as decimal(38,0))" +
        s" * cast(($S * coalesce($cwz, 0) + $BETA_S) as decimal(38,0))" +
        s" * $PREC div ($S * coalesce($cz, 0) + $vocabSize * $BETA_S)"
    for (_ <- 1 to iters) {
      def pivot(key: String, out: String) = a.groupBy(col(key))
        .agg(sum(when(col("__z") === 0, col("__cnt"))).as(s"${out}0"),
          (1 until k).map(z =>
            sum(when(col("__z") === z, col("__cnt"))).as(s"$out$z")): _*)
      val da = pivot("__d", "__cdz")
      val wa = pivot("__w", "__cwz")
      // n_k derives from the da pivot (sum of the per-doc columns)
      // instead of a third scan of `a` — the da exchange is shared
      // (sum of sums equals the direct sum; null pivot cells are
      // absent-in-both)
      val nz = da.groupBy().agg(
        sum(col("__cdz0")).as("__cz0"),
        (1 until k).map(z =>
          sum(col(s"__cdz$z")).as(s"__cz$z")): _*)
      val scores = (0 until k).map(z =>
        expr(score(z, s"__cdz$z", s"__cwz$z", s"__cz$z")).as(s"__s$z"))
      val ms =
        if (k == 1) col("__s0")
        else greatest((0 until k).map(z => col(s"__s$z")): _*)
      val argmax = (1 until k).foldLeft(
        when(col("__s0") === col("__ms"), lit(0L))) { (acc, z) =>
        acc.when(col(s"__s$z") === col("__ms"), lit(z.toLong))
      }
      a = Pin.next(a)(Pin.cut(a
        .join(da, Seq("__d"))
        .join(wa, Seq("__w"))
        .crossJoin(broadcast(nz))
        .select((col("__d") +: col("__w") +: col("__cnt") +: scores): _*)
        .withColumn("__ms", ms)
        .select(col("__d"), col("__w"), col("__cnt"),
          argmax.as("__z"))))
    }
    (vocab, a)
  }

  /** Per-topic top terms off the fitted assignments: (topic, rnk,
    * term, n) — terms ranked by (assigned count desc, vocab index
    * asc), a vocabulary×k-bounded window.
    */
  def topicTerms(vocab: DataFrame, assign: DataFrame,
      termsPerTopic: Int): DataFrame = {
    val nwk = assign.groupBy(col("__w"), col("__z"))
      .agg(sum(col("__cnt")).as("__n"))
    val w = Window.partitionBy(col("__z"))
      .orderBy(col("__n").desc, col("__w"))
    nwk.withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= termsPerTopic)
      .join(vocab, "__w")
      .select(col("__z").as("topic"), col("rnk"), col("__t").as("term"),
        col("__n").as("n"))
      .orderBy(col("topic"), col("rnk"))
  }

  /** Fixed-point model objective off the fitted assignments — the
    * METRICS leg of the twin (the counterpart of the seeded fit's
    * logLikelihood/logPerplexity report, which no engine can
    * replay): for each (d,w) at its ASSIGNED topic, the same
    * collapsed score the E-step maximized, evaluated at the final
    * counts, summed per topic weighted by occurrence count. Exact
    * integers end-to-end (the per-token sum divides the e6 score
    * scale back out so the total stays in a long). Higher = the
    * assignments better explain the corpus under the model — the
    * same reading as a likelihood, on a replayable scale.
    * Output: (topic, n_terms, n_tokens, obj) ordered by topic.
    */
  def objective(assign: DataFrame, vocabSize: Int): DataFrame = {
    val ndk = assign.groupBy(col("__d"), col("__z"))
      .agg(sum(col("__cnt")).as("__cdz"))
    val nwk = assign.groupBy(col("__w"), col("__z"))
      .agg(sum(col("__cnt")).as("__cwz"))
    val nk = assign.groupBy(col("__z")).agg(sum(col("__cnt")).as("__cz"))
    assign
      .join(ndk, Seq("__d", "__z"))
      .join(nwk, Seq("__w", "__z"))
      .join(broadcast(nk), Seq("__z"))
      .withColumn("__s",
        expr(s"cast(($S * __cdz + $ALPHA_S) as decimal(38,0))" +
          s" * cast(($S * __cwz + $BETA_S) as decimal(38,0))" +
          s" * $PREC div ($S * __cz + $vocabSize * $BETA_S)"))
      .groupBy(col("__z"))
      .agg(
        countDistinct(col("__w")).as("n_terms"),
        sum(col("__cnt")).as("n_tokens"),
        expr(s"sum(cast(__cnt as decimal(38,0)) * __s) div $PREC")
          .as("obj"))
      .select(col("__z").as("topic"), col("n_terms"), col("n_tokens"),
        col("obj"))
      .orderBy(col("topic"))
  }

  /** Per-document dominant topic: argmax over the doc's assigned
    * counts, ties → smallest topic (max-join-min-z, the same rule
    * the E-step uses). (doc_id named by the caller's idCol.)
    */
  def docTopics(assign: DataFrame, idName: String): DataFrame = {
    val ndk = assign.groupBy(col("__d"), col("__z"))
      .agg(sum(col("__cnt")).as("__n"))
    val mx = ndk.groupBy(col("__d")).agg(max(col("__n")).as("__mn"))
    ndk.join(mx, "__d")
      .filter(col("__n") === col("__mn"))
      .groupBy(col("__d")).agg(min(col("__z")).as("topic"))
      .select(col("__d").as(idName), col("topic"))
      .orderBy(col(idName))
  }
}
