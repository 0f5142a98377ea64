package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.dedup.Dedup
import graft.feature.Features
import graft.io.Tables.table
import graft.ops.Pin
import graft.pipeline.Pipelines
import graft.text.{Bpe, UnigramLm, TextFunctions => T}

/** Round-5 curation pack — the corpus-assembly operators a training
  * pipeline runs between raw scans and packing: exact-substring span
  * dedup (the token-window form of suffix-array substring dedup),
  * Gopher-style top-n-gram repetition stats, a fixed-weight linear
  * quality classifier, temperature-based mixture resampling, and
  * cross-corpus LSH decontamination.
  *
  * Duplicate spans and contamination are injected deterministically
  * (suffix splices, perturbed benchmark copies) exactly as the
  * oracle injects them, so the detection math itself is what the
  * hash-compare verifies.
  */
object CurationQueries extends QueryPack {
  import Fragments.{bandSql, minhashSql, shingles, toks}

  def defs: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Exact-substring duplicate spans: corpus ∪ suffix-splices of
    // doc_id<30 (tokens 11..end re-joined under id+200000) — every
    // splice window duplicates its source doc's, the source's first
    // windows stay unique, so overlap is genuinely partial.
    "q106_substr_spans" -> ((s, dir) => {
      val d = table(s, dir, "documents").select(col("doc_id"), col("text"))
      val toks = T.tokens(col("text"))
      val spliced = d.filter(col("doc_id") < 30)
        .select((col("doc_id") + 200000L).as("doc_id"),
          array_join(slice(toks, lit(11), size(toks)), " ").as("text"))
      Dedup.duplicateSpans(d.unionByName(spliced), "doc_id", "text", n = 13)
        .orderBy(col("doc_id"))
    }),

    // Maximal duplicate-span extents over the SAME spliced corpus as
    // q106 — the cut list exact-substring dedup actually removes:
    // duplicated 13-token windows' coverage merged per doc into
    // maximal (span_start, span_end) token ranges via
    // gaps-and-islands (merge while next start <= prev start + 13).
    "q236_dup_span_extents" -> ((s, dir) => {
      val d = table(s, dir, "documents").select(col("doc_id"), col("text"))
      val toks = T.tokens(col("text"))
      val spliced = d.filter(col("doc_id") < 30)
        .select((col("doc_id") + 200000L).as("doc_id"),
          array_join(slice(toks, lit(11), size(toks)), " ").as("text"))
      Dedup.duplicateSpanExtents(d.unionByName(spliced), "doc_id", "text",
        n = 13)
    }),

    // Span-level keeper selection over the SAME spliced corpus —
    // the removal decision after q236 locates the extents: every
    // duplicated 13-token window keeps exactly its first (doc, pos)
    // occurrence; occurrences merge into maximal per-doc spans
    // separately by verdict. keep=false rows are the cut list a
    // remover applies verbatim (DedupSpec pins that applying them
    // leaves no twice-occurring window).
    "q243_dup_span_cuts" -> ((s, dir) => {
      val d = table(s, dir, "documents").select(col("doc_id"), col("text"))
      val toks = T.tokens(col("text"))
      val spliced = d.filter(col("doc_id") < 30)
        .select((col("doc_id") + 200000L).as("doc_id"),
          array_join(slice(toks, lit(11), size(toks)), " ").as("text"))
      Dedup.duplicateSpanCuts(d.unionByName(spliced), "doc_id", "text",
        n = 13)
    }),

    // Gopher repetition rules: fraction of characters taken by the
    // single most frequent 2-/3-/4-gram (ties broken by gram text).
    // A per-document statistic, so it is computed ENTIRELY map-side
    // (T.topNgramPerSize counts each size in one per-row hash map):
    // the r5–r9 form exploded every tagged gram and shuffled the
    // stream back to its own document (~tokens×3 rows/doc) for no
    // cross-document information; now the whole operator is one
    // Project on the scan — zero exchanges beyond the presentation
    // sort, the q153/q159 shape. PERF r10 has the A/B.
    "q107_top_ngram" -> ((s, dir) => {
      def frac(e: org.apache.spark.sql.Column) =
        round(e.getField("_3") * length(e.getField("_2"))
          / col("n_chars").cast("double"), 4)
      table(s, dir, "documents")
        .select(col("doc_id"), col("n_chars"),
          T.topNgramPerSize(T.tokens(col("text")), 2, 4).as("tops"))
        // docs too short for a size have no entry for it: drop them,
        // matching the previous inner-join semantics (and the oracle)
        .filter(size(col("tops")) === 3)
        .select(col("doc_id"),
          col("tops")(0).getField("_2").as("top2_gram"),
          col("tops")(0).getField("_3").as("top2_n"),
          frac(col("tops")(0)).as("top2_frac"),
          frac(col("tops")(1)).as("top3_frac"),
          frac(col("tops")(2)).as("top4_frac"))
        .orderBy(col("doc_id"))
    }),

    // Fixed-weight linear quality classifier (fastText-scorer shape
    // with the model baked in as constants — scan-speed, no UDF).
    // Score discretized by floor to fixed-point ten-thousandths:
    // both engines compute the identical IEEE double, and floor
    // (unlike decimal rounding) has no engine-dependent tie rule.
    "q108_quality_classifier" -> ((s, dir) => {
      table(s, dir, "documents")
        .select(col("doc_id"),
          floor(Features.linearQualityScore(col("text"), T.tokens(col("text")))
            * 10000.0).cast("long").as("q_score_e4"))
        .withColumn("q_label", col("q_score_e4") >= 5000L)
        .orderBy(col("doc_id"))
    }),

    // Quality ensemble via banded percent-rank (ops.Ranks): two
    // fixed-point signals (linear quality score e4, trigram
    // repetition e4) rank-normalize WITHOUT a corpus-wide window —
    // value-histogram prefix counts, broadcast re-attach — and blend
    // as exact integers (repetition inverted: low repetition good).
    // Rank-normalizing before blending is what makes heterogeneous
    // scorers commensurable; top-50 by the blended rank.
    "q140_quality_ensemble" -> ((s, dir) => {
      val (qE4, repE4) =
        Features.qualitySignalsE4(col("text"), T.tokens(col("text")))
      // three consumers (two histograms + final read)
      val base = Pin.cache(table(s, dir, "documents")
        .select(col("doc_id"), qE4.as("q_e4"), repE4.as("rep_e4")),
        eager = true)
      val ranked = graft.ops.Ranks.pctRankBanded(
        graft.ops.Ranks.pctRankBanded(base, "q_e4", "q_pct"),
        "rep_e4", "rep_pct")
      Pin.untilUsed(ranked.select(col("doc_id"),
          floor((col("q_pct") + (lit(1000000L) - col("rep_pct")))
            / lit(2.0)).cast("long").as("ens_fx"))
        .orderBy(col("ens_fx").desc, col("doc_id"))
        .limit(50), base)
    }),

    // Cross-corpus n-gram-overlap decontamination (the GPT-3/PaLM
    // method; Dedup.ngramOverlapAcross): per-train-doc fraction of
    // 13-token windows found anywhere in the benchmark. Same
    // injected contamination as q110 (appended-token copies under
    // id+300000) — here the report is the graded overlap fraction
    // (high but < 1: the two appended tokens mint fresh tail
    // windows), the partial-containment signal whole-doc signatures
    // dilute away. Benchmark digests broadcast; train streams
    // map-side with one per-doc aggregate shuffle.
    "q150_ngram_decontam" -> ((s, dir) => {
      val d = table(s, dir, "documents").select(col("doc_id"), col("text"))
      val bench = d.filter(col("doc_id") < 20)
      val cont = bench.select((col("doc_id") + 300000L).as("doc_id"),
        concat(col("text"), lit(" zq1 zq2")).as("text"))
      val train = d.filter(col("doc_id") >= 20).unionByName(cont)
      Dedup.ngramOverlapAcross(train, bench, "doc_id", "text", n = 13)
        .orderBy(col("doc_id"))
    }),

    // Temperature-based (α=0.5) language remixing of a 1000-doc
    // budget: per-lang targets ∝ √n, deterministic hash-rank picks.
    "q109_temp_mix" -> ((s, dir) => {
      val sel = Pipelines.temperatureSample(
        table(s, dir, "documents"), "lang", "doc_id", "text", budget = 1000L)
      sel.groupBy(col("lang"), col("n_total"), col("target_n"))
        .agg(count(lit(1)).as("n_selected"))
        .orderBy(col("lang"))
    }),

    // Cross-corpus LSH decontamination: the benchmark is doc_id<20;
    // the training side is everything else plus perturbed benchmark
    // copies (two extra tokens under id+300000) — near-identical but
    // not byte-equal, which is exactly what exact-hash decontam
    // misses and MinHash catches. ≥2 of 8 minhash agreements flag.
    "q110_lsh_decontam" -> ((s, dir) => {
      val d = table(s, dir, "documents").select(col("doc_id"), col("text"))
      val bench = d.filter(col("doc_id") < 20)
      val cont = bench.select((col("doc_id") + 300000L).as("doc_id"),
        concat(col("text"), lit(" zq1 zq2")).as("text"))
      val train = d.filter(col("doc_id") >= 20).unionByName(cont)
      // train-side signatures computed ONCE (persisted) with bands
      // derived from them — the expensive corpus-side shingle→8-hash
      // kernel never runs twice. The bench side is 20 rows, so its
      // kernel recomputing for the band join and the Jaccard estimate
      // is cheaper than a persist round-trip; at a real benchmark-set
      // size, persist sigB the same way.
      def sig(df: DataFrame, as: String) = df.select(col("doc_id").as(as),
        Dedup.minhashSignatureFast(Dedup.shingles(col("text"), 3), 8)
          .as(s"__sig_$as"))
      // filled before candidate + estimate reuse
      val sigT = Pin.cache(sig(train, "left_id"), eager = true)
      val sigB = sig(bench, "right_id")
      val cands = Dedup.lshCandidatesFromSigs(
        sigT.withColumnRenamed("__sig_left_id", "__sig"), "left_id",
        sigB.withColumnRenamed("__sig_right_id", "__sig"), "right_id",
        "__sig", k = 8, bands = 4)
      Pin.untilUsed(cands.join(sigT, "left_id")
        .join(broadcast(sigB), "right_id")
        .withColumn("__m", size(filter(
          zip_with(col("__sig_left_id"), col("__sig_right_id"),
            (x, y) => x === y), b => b)))
        .filter(col("__m") >= 2)
        .select(col("left_id"), col("right_id"),
          round(col("__m") / 8.0, 4).as("est_jaccard"))
        .orderBy(col("left_id"), col("right_id")), sigT)
    }),

    // Int8 embedding quantization: per-vector affine codes + the
    // reconstruction error an embedding store would monitor. Integer
    // outputs only (code checksum, floor fixed-point error) — no
    // cross-engine decimal-rounding surface at all.
    "q111_embed_quantize" -> ((s, dir) => {
      val v = transform(col("embedding"), x => x.cast("double"))
      table(s, dir, "embeddings")
        .select(col("vec_id"), v.as("v"),
          graft.similarity.Ann.int8Quantize(col("embedding")).as("z"))
        .select(col("vec_id"), col("v"),
          col("z.mn").as("mn"), col("z.q").as("q"),
          ((col("z.mx") - col("z.mn")) / 255.0).as("scale"))
        .select(col("vec_id"),
          aggregate(col("q"), lit(0L), (a, x) => a + x).as("qsum"),
          floor(array_max(zip_with(col("v"), col("q"),
            (x, qi) => abs(x - (col("mn") + qi * col("scale")))))
            * 1000000.0).as("err_e6"))
        .orderBy(col("vec_id"))
    }),

    // DSIR importance weights: per-doc fixed-point log-likelihood
    // ratio of hashed unigram+bigram features, target = English
    // corpus vs raw = everything (pipeline.Dsir). Exact integer
    // scores — the whole featurize→weight→score chain replays in SQL.
    "q116_dsir_scores" -> ((s, dir) => {
      dsirScores(s, dir).orderBy(col("doc_id"))
    }),

    // CCNet-style LM perplexity filter (text.NgramLm): interpolated
    // bigram LM fitted on a trusted target slice (every 7th English
    // doc), all docs scored by mean bigram NLL in floored millionths.
    // Exact fixed-point — the fit AND the scoring replay in SQL.
    "q119_lm_perplexity" -> ((s, dir) => {
      lmScores(s, dir).orderBy(col("doc_id"))
    }),

    // CCNet head/middle/tail split: per-language perplexity terciles
    // over the q119 scores (the shared lmScores fit), head =
    // most target-like. Exact rank terciles (ntile) so the split
    // replays in SQL; at corpus scale the per-language window sort
    // becomes broadcast tercile CUTOFFS computed by one aggregate —
    // same buckets up to ties, no per-language sort (SCALE.md).
    "q127_ccnet_parts" -> ((s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("lang")).orderBy(col("nll_e6"), col("doc_id"))
      lmScores(s, dir)
        .join(table(s, dir, "documents").select(col("doc_id"), col("lang")),
          "doc_id")
        .withColumn("__t", ntile(3).over(w))
        .select(col("doc_id"), col("lang"), col("nll_e6"),
          when(col("__t") === 1, "head").when(col("__t") === 2, "middle")
            .otherwise("tail").as("part"))
        .orderBy(col("doc_id"))
    }),

    // DSIR selection: deterministic Gumbel-top-k over the scores
    // (hashed noise, sample ∝ exp(score) without replacement), then
    // the per-language mix of the selected set — the report a
    // curation run emits to show the target language was up-weighted.
    "q117_dsir_select" -> ((s, dir) => {
      graft.pipeline.Dsir.gumbelTopK(dsirScores(s, dir), "doc_id", 50)
        .join(table(s, dir, "documents").select(col("doc_id"), col("lang")),
          "doc_id")
        .groupBy(col("lang")).agg(count(lit(1)).as("n_selected"))
        .orderBy(col("lang"))
    }),

    // Boilerplate paragraph removal (Dedup.stripHotParagraphs — the
    // RefinedWeb/CCNet line-dedup shape): boilerplate paragraphs are
    // injected deterministically (a global cookie banner on
    // doc_id%3==0, a per-source footer on doc_id%5==0), then any
    // paragraph appearing in >=100 distinct docs is stripped in
    // place. The clean text is md5'd for the hash-compare.
    "q122_para_dedup" -> ((s, dir) => {
      val boiler =
        "please accept our cookie policy and subscribe to the newsletter"
      val docs = table(s, dir, "documents")
        .select(col("doc_id"),
          concat(col("text"),
            when(col("doc_id") % 3 === 0, lit("\n" + boiler))
              .otherwise(lit("")),
            when(col("doc_id") % 5 === 0,
              concat(lit("\nfooter "), col("source"))).otherwise(lit("")))
            .as("t"))
      Dedup.stripHotParagraphs(docs, "doc_id", "t", minDocs = 100)
        .select(col("doc_id"), col("n_paras"), col("n_removed"),
          md5(col("clean")).as("clean_md5"))
        .orderBy(col("doc_id"))
    }),

    // Unicode cleanup pass (T.nfc + control/zero-width strip +
    // space unification + whitespace collapse) — the first transform
    // of every pretraining text pipeline. The corpus is ASCII, so a
    // deterministic marker injects the cases that matter (combining
    // accents, the U+212B singleton, a control char, NBSP, ZWSP,
    // double spaces) identically on both sides; the oracle then
    // verifies the normalization arithmetic itself via DuckDB's
    // nfc_normalize. Everything fuses into one codegen'd Project —
    // zero exchanges beyond the presentation sort, the q153 scrub
    // shape: cleanup rides the scan.
    "q159_unicode_clean" -> ((s, dir) => {
      // A+U+030A (combining ring) and the U+212B angstrom singleton
      // both map to U+00C5 under NFC; e/o + combining accents
      // compose; U+0007 strips, U+00A0 unifies, U+200B drops.
      val marker = " A\u030A\u212B Cafe\u0301 No\u0308el\u0007ctl" +
        "\u00A0nb\u200Bzw  t "
      val dirty = concat(col("text"), lit(marker))
      val nfcd = T.nfc(dirty)
      val clean = trim(regexp_replace(
        regexp_replace(
          regexp_replace(
            regexp_replace(nfcd,
              "[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F\\x7F]", ""),
            "[\\x{200B}-\\x{200D}\\x{FEFF}]", ""),
          "[\\x{00A0}\\x{1680}\\x{2000}-\\x{200A}\\x{202F}\\x{205F}\\x{3000}]",
          " "),
        "\\s+", " "))
      table(s, dir, "documents")
        .select(col("doc_id"),
          (dirty =!= nfcd).as("changed_nfc"),
          length(dirty).cast("long").as("n_raw"),
          length(clean).cast("long").as("n_clean"),
          md5(clean).as("clean_md5"))
        .orderBy(col("doc_id"))
    }),

    // Exact tie-aware AUC (Mann–Whitney form) of the q108 quality
    // score as an English-document detector — the ranking-quality
    // eval a score-gated pipeline needs before trusting a threshold.
    // Average ranks are carried DOUBLED (2·cum + cnt + 1) so ties
    // never mint a float; the final AUC is one truncating integer
    // division to e6. The rank prefix runs over the SCORE-VALUE
    // HISTOGRAM (≤ 10001 e4 values — the q116 B-bounded-window
    // discipline), never over corpus rows.
    "q166_quality_auc" -> ((s, dir) => {
      graft.ops.Eval.aucE6(
        table(s, dir, "documents")
          .select(
            floor(Features.linearQualityScore(col("text"),
              T.tokens(col("text"))) * 10000.0).cast("long").as("s"),
            when(col("lang") === "en", 1L).otherwise(0L).as("pos")),
        "s", "pos")
    }),

    // Calibration bins (ops.Eval.calibrationBins) of the same q166
    // score/label pair: does the quality score's VALUE track the
    // English rate, or does it merely rank (q166's question)? 10
    // equal-width bins over the observed e4 score range, per-bin
    // mean score and empirical rate as exact truncating divisions —
    // one corpus aggregate, ≤10 rows on the wire.
    "q197_calibration" -> ((s, dir) => {
      graft.ops.Eval.calibrationBins(
        table(s, dir, "documents")
          .select(
            floor(Features.linearQualityScore(col("text"),
              T.tokens(col("text"))) * 10000.0).cast("long").as("s"),
            when(col("lang") === "en", 1L).otherwise(0L).as("pos")),
        "s", "pos", bins = 10)
    }),

    // Tokenizer fertility per source (the q210/q211 unigram family
    // applied as an EVAL): pieces-per-token under the trained vocab
    // — the compression metric tokenizer teams track per corpus
    // slice — plus the share of tokens that fell back to all
    // single-char pieces. Segmentation runs once over the DISTINCT
    // word table (the Zipf bound) and joins back to the
    // (source, word) counts; all ratios are exact e6 integers.
    "q230_tokenizer_fertility" -> ((s, dir) => {
      val sw = table(s, dir, "documents")
        .select(col("source"), explode(T.tokens(col("text"))).as("w"))
        .filter(length(col("w")) >= 1 &&
          length(col("w")) <= UnigramLm.MaxWordLen)
        .filter(!col("w").rlike("[\\uD800-\\uDFFF]"))
        .groupBy(col("source"), col("w"))
        .agg(count(lit(1)).as("freq"))
      val words = sw.select(col("w")).distinct()
        .withColumn("freq", lit(1L))
      val seg = UnigramLm.segmentWords(words, unigramVoc(s, dir))
        .select(col("w"), col("n_pieces"))
      sw.join(seg, "w")
        .groupBy(col("source"))
        .agg(sum(col("freq")).as("n_tokens"),
          expr("sum(freq * n_pieces) * 1000000 div sum(freq)")
            .as("fert_e6"),
          expr("sum(freq * (CASE WHEN n_pieces = length(w)" +
            " THEN 1 ELSE 0 END)) * 1000000 div sum(freq)")
            .as("allsingle_e6"))
        .orderBy(col("source"))
    }),

    // Source-reliability league table (ops.Eval.wilsonRates): rank
    // sources by the Wilson lower bound of their quality pass rate
    // — the raw rate flatters small sources; the bound charges
    // sample-size uncertainty exactly. Pass = linear quality score
    // ≥ 0.42 (the corpus median band). sqrt is IEEE
    // correctly-rounded and the oracle evaluates the IDENTICAL
    // expression text, so the e6 floor replays.
    "q228_source_wilson" -> ((s, dir) =>
      graft.ops.Eval.wilsonRates(
        table(s, dir, "documents")
          .select(col("source"),
            (floor(Features.linearQualityScore(col("text"),
              T.tokens(col("text"))) * 10000.0) >= 4200L)
              .cast("long").as("pass")),
        "source", "pass")),

    // Brier score + skill (ops.Eval.brierSkill): the calibration
    // SUMMARY beside q197's per-bin diagnostic — mean squared error
    // of the quality score as an is-English probability forecast,
    // and skill vs the climatology baseline. One corpus pass; the
    // baseline needs no second pass because y is binary
    // (Σ(c−y)² closes in terms of n and Σy). All decimal-widened
    // integers; skill's sign guard keeps div/// identical.
    "q226_brier_score" -> ((s, dir) =>
      graft.ops.Eval.brierSkill(
        table(s, dir, "documents")
          .select(
            floor(Features.linearQualityScore(col("text"),
              T.tokens(col("text"))) * 10000.0).cast("long").as("s"),
            when(col("lang") === "en", 1L).otherwise(0L).as("pos")),
        "s", "pos")),

    // Jensen-Shannon divergence between the English slice and the
    // rest (ops.Divergence): the mixture-design gate — which tokens
    // carry the distributional difference between two corpus
    // slices, per-token contributions floored e6 (Σ/1e6 = JSD,
    // bounded by ln 2). One tagged-union token aggregate; top-30
    // diverging terms.
    "q198_js_divergence" -> ((s, dir) => {
      val docs = table(s, dir, "documents")
        .select(col("lang"), T.tokens(col("text")).as("toks"))
      graft.ops.Divergence.jsTerms(
          docs.filter(col("lang") === "en"),
          docs.filter(col("lang") =!= "en"), "toks")
        .orderBy(col("jsd_term_e6").desc, col("term"))
        .limit(30)
    }),

    // Cross-source quantile-normalized selection gate
    // (ops.Ranks.quantileGate): "keep each source's own top 20% by
    // length" vs the raw global cutoff, side by side — the exact
    // tie-stable den·below ≥ num·n rule over a (source, n_chars)
    // histogram, every window bounded by |sources|·|domain|. The
    // sel_norm/sel_raw gap IS the skew a global threshold would
    // have imposed.
    "q203_quantile_gate" -> ((s, dir) => {
      graft.ops.Ranks.quantileGate(table(s, dir, "documents"),
          "source", "n_chars", num = 4, den = 5)
        .orderBy(col("source"))
    }),

    // Corpus-composition concentration (ops.Concentration): one-row
    // Shannon-entropy / Gini / top-share diagnostic over the source
    // distribution — the "is one crawl dominating" gate before
    // mixing. Entropy terms are per-group e6 floors (q198
    // convention), the Gini numerator pure integer off count-ranked
    // groups, top share all-integer.
    "q204_concentration" -> ((s, dir) => {
      graft.ops.Concentration.concentration(
        table(s, dir, "documents"), "source")
    }),

    // Token-label mutual information (ops.Divergence.tokenLabelMi):
    // q198's supervised companion — which tokens IDENTIFY the
    // English slice, presence-based so token-spam can't dominate;
    // per-cell e6 floors over the per-term 2x2 table, top-30 by MI.
    "q200_token_label_mi" -> ((s, dir) => {
      graft.ops.Divergence.tokenLabelMi(
          table(s, dir, "documents")
            .select(T.tokens(col("text")).as("toks"),
              when(col("lang") === "en", 1L).otherwise(0L).as("pos")),
          "toks", "pos")
        .orderBy(col("mi_e6").desc, col("term"))
        .limit(30)
    }),

    // First BPE-training iteration (text.Bpe): adjacent symbol-pair
    // counts over the distinct word table weighted by frequency —
    // pair work scales with |vocab|, not corpus tokens.
    "q123_bpe_pairs" -> ((s, dir) => {
      graft.text.Bpe.pairCounts(
          graft.text.Bpe.wordCounts(table(s, dir, "documents"), "text"))
        .orderBy(col("cnt").desc, col("pair"))
        .limit(50)
    }),

    // The FULL 5-round Sennrich BPE merge-learning loop
    // (text.Bpe.learnMerges): re-segment → pair-count → argmax →
    // string-replace merge, five times. The space-joined symbol
    // representation makes the merge a plain `replace` — left-to-
    // right non-overlapping in both engines — so a TRAINED tokenizer
    // artifact hash-verifies against DuckDB replaying the identical
    // loop as chained CTEs.
    "q151_bpe_learn" -> ((s, dir) => {
      bpeMerges(s, dir).orderBy(col("rank"))
    }),

    // Positional inverted-index phrase search (text.InvertedIndex):
    // the retrieval primitive under the ranking surface (TF-IDF/
    // BM25/RRF rank; this answers exact-phrase containment). The
    // postings build is one scan + posexplode; the phrase query is
    // |phrase|−1 equi-joins on (doc, adjacent position) — work
    // scales with the terms' posting lists, never the corpus, and
    // at 100 TB the postings table is bucketed by token so the
    // joins co-locate.
    "q217_phrase_search" -> ((s, dir) => {
      val post = graft.text.InvertedIndex.postings(
        table(s, dir, "documents"), "doc_id", "text")
      graft.text.InvertedIndex.phraseHits(post, "doc_id",
        Seq("hash", "join"))
    }),

    // The SECOND tokenizer family (Kudo 2018 unigram LM — the
    // SentencePiece model Llama-style tokenizers use): candidate
    // pieces are all 1..4-char substrings of the distinct-word
    // table weighted by corpus frequency; the vocab is all single
    // chars (coverage) + top-512 multis; scores are floored-e6 log
    // probabilities — integers from here on. Everything past the
    // one corpus scan runs over the Zipf-bounded word table.
    "q210_unigram_vocab" -> ((s, dir) =>
      unigramVoc(s, dir)
        .select(col("piece"), col("c").cast("long").as("c"),
          col("score_e6"))
        .orderBy(col("c").desc, col("piece")).limit(100)),

    // The APPLICATION twin of q210: Viterbi segmentation of each
    // word against the trained vocab (collected as the bounded
    // integer artifact it is, broadcast to a per-word kernel). The
    // oracle re-trains the vocab in SQL and replays the SAME
    // integer DP level-by-level (argmax per position, ties to the
    // longer last piece), so training AND decoding must agree
    // end-to-end — the q151/q154 discipline for the unigram family.
    "q211_unigram_segment" -> ((s, dir) => {
      val words = UnigramLm
        .wordCounts(table(s, dir, "documents"), "text")
        .filter(length(col("w")) <= UnigramLm.MaxWordLen)
      UnigramLm.segmentWords(words, unigramVoc(s, dir))
        .orderBy(col("freq").desc, col("w")).limit(100)
    }),

    // The tokenizer APPLICATION twin of q151: the 5 learned merges
    // (a bounded trained artifact — 5 rows reach the driver) replay
    // over the top-100 vocabulary as the expression-only
    // Bpe.applyMerges fold, producing each word's subword
    // segmentation. The oracle re-learns the merges in SQL (the q151
    // CTE chain) and reads the segmentation straight out of the
    // final re-segmented vocab table, so learn AND apply must agree
    // end-to-end. At scale the apply side is the shape that matters:
    // a scan-speed map with the merge list folded into the plan as
    // literals — no UDF, no shuffle, no state — which is how a
    // 100 TB tokenization pass runs.
    "q154_bpe_segment" -> ((s, dir) => {
      import s.implicits._
      val docs = table(s, dir, "documents")
      val merges = bpeMerges(s, dir)
        .orderBy(col("rank")).select("pair").as[String].collect().toSeq
      Bpe.wordCounts(docs, "text")
        // same supplementary-plane guard as learnMerges: the oracle's
        // wc CTE filters '[\x{10000}-\x{10FFFF}]', so a surrogate-pair
        // word reaching the top-100 would diverge in both membership
        // and segmentation (UTF-16 code units vs codepoints)
        .filter(!col("w").rlike("[\\uD800-\\uDFFF]"))
        .orderBy(col("freq").desc, col("w")).limit(100)
        .select(col("w"), col("freq"),
          array_join(element_at(
            Bpe.applyMerges(array(col("w")), merges), 1), " ").as("seg"))
        .withColumn("n_subwords",
          size(split(col("seg"), " ")).cast("long"))
        .orderBy(col("freq").desc, col("w"))
    }),

    // Extended PII scrub (text.Redact's q153 classes): q91 covers
    // emails + short phone groups; this adds full 10-digit NANP
    // numbers and dotted-quad IPv4, with the 4-class chain order
    // under oracle (NANP must mask before the short phone pattern —
    // its ddd-dddd tail is a substring of every NANP number).
    // Injection is deterministic — email for doc_id%3==0, NANP for
    // %4==1, IP for %5==2, so docs carry 0-3 classes. Counts AND the
    // md5 of the fully-redacted text hash-compare.
    "q153_pii_redact" -> ((s, dir) => {
      val injected = concat(col("text"),
        when(col("doc_id") % 3 === 0,
          concat(lit(" contact agent"), col("doc_id").cast("string"),
            lit("@example.com now"))).otherwise(lit("")),
        when(col("doc_id") % 4 === 1,
          concat(lit(" call 555-010-"),
            lpad((col("doc_id") % 10000).cast("string"), 4, "0")))
          .otherwise(lit("")),
        when(col("doc_id") % 5 === 2,
          concat(lit(" from 10.0."),
            (col("doc_id") % 256).cast("string"), lit("."),
            ((col("doc_id") * 7) % 256).cast("string")))
          .otherwise(lit("")))
      table(s, dir, "documents")
        .select(col("doc_id"), injected.as("t"))
        .select(col("doc_id"),
          graft.text.Redact.emailCount(col("t")).cast("long")
            .as("n_emails"),
          graft.text.Redact.nanpCount(col("t")).cast("long")
            .as("n_phones"),
          graft.text.Redact.ipCount(col("t")).cast("long").as("n_ips"),
          md5(graft.text.Redact.redactAll(col("t"))).as("clean_md5"))
        .orderBy(col("doc_id"))
    }),

    // Budget-constrained selection (Pipelines.budgetSelect): take the
    // highest-quality docs (q108's fixed-point linear score) until a
    // 10k-token budget is spent. The corpus-wide running total is the
    // two-level bucketed prefix sum — per-score-band carry + within-
    // band window — never a single-partition global window; the
    // oracle replays it as the plain SQL cumulative it equals.
    "q126_budget_select" -> ((s, dir) => {
      val toks = T.tokens(col("text"))
      val scored = table(s, dir, "documents")
        .select(col("doc_id"),
          floor(Features.linearQualityScore(col("text"), toks) * 10000.0)
            .cast("long").as("score_e4"),
          size(toks).cast("long").as("n_tokens"))
      Pipelines.budgetSelect(scored, "doc_id", "score_e4", "n_tokens",
          budget = 10000L, bucketWidth = 500L)
        .select(col("doc_id"), col("score_e4"), col("n_tokens"),
          col("cum_cost").as("cum_tokens"))
        .orderBy(col("score_e4").desc, col("doc_id"))
    }),

    // C4 keep-first paragraph dedup (Dedup.keepFirstParagraphs) over
    // the same boilerplate-injected corpus as q122: every repeated
    // paragraph keeps only its first (doc_id, position) occurrence —
    // so exactly ONE doc keeps the cookie banner, one keeps each
    // footer, and the natural full-text duplicate docs collapse to
    // their first copies. Contrast q122, which strips hot paragraphs
    // from every doc including the first.
    "q125_c4_keep_first" -> ((s, dir) => {
      val boiler =
        "please accept our cookie policy and subscribe to the newsletter"
      val docs = table(s, dir, "documents")
        .select(col("doc_id"),
          concat(col("text"),
            when(col("doc_id") % 3 === 0, lit("\n" + boiler))
              .otherwise(lit("")),
            when(col("doc_id") % 5 === 0,
              concat(lit("\nfooter "), col("source"))).otherwise(lit("")))
            .as("t"))
      Dedup.keepFirstParagraphs(docs, "doc_id", "t")
        .select(col("doc_id"), col("n_paras"), col("n_kept"),
          md5(col("clean")).as("clean_md5"))
        .orderBy(col("doc_id"))
    })
  )

  /** q116/q117 share the scoring pass (a lazy cache, filled by the
    * first query's action), so the two-scan featurize→weight→score
    * chain runs once per session.
    */
  private val dsirScores = FitStore.slot((s, dir) =>
    FitStore.owned(Pin.cache(graft.pipeline.Dsir.importanceScores(
      table(s, dir, "documents"), "doc_id", "text",
      col("lang") === "en", buckets = 4096))))

  /** q119/q127 share the LM fit+scoring pass (perplexityScores
    * caches its own output).
    */
  private val lmScores = FitStore.slot { (s, dir) =>
    val d = table(s, dir, "documents")
    FitStore.owned(graft.text.NgramLm.perplexityScores(d, "doc_id", "text",
      d.filter(col("lang") === "en" && pmod(col("doc_id"), lit(7)) === 0)))
  }

  // ---- oracle SQL ----

  private def ngramSql(l: String, n: Int): String =
    s"list_transform(generate_series(1, len($l) - ${n - 1}), " +
      s"i -> array_to_string($l[i:i+${n - 1}], ' '))"

  /** q119's full fit+score CTE chain, ending in
    * `lmscores(doc_id, n_bigrams, nll_e6)` — shared with q127.
    */
  private lazy val lmScoreCtes =
    s"""tgt AS (SELECT $toks AS tk FROM documents
       |             WHERE lang = 'en' AND doc_id % 7 = 0),
       |uni AS (SELECT w, count(*) AS c1
       |        FROM (SELECT unnest(tk) AS w FROM tgt) GROUP BY w),
       |bi AS (SELECT g, count(*) AS c12
       |       FROM (SELECT unnest(${ngramSql("tk", 2)}) AS g FROM tgt)
       |       GROUP BY g),
       |tot AS (SELECT sum(c1) AS n_tok, count(*) AS v FROM uni),
       |st AS (SELECT doc_id, unnest(${ngramSql("tk", 2)}) AS g
       |       FROM (SELECT doc_id, $toks AS tk FROM documents)),
       |j AS (SELECT st.doc_id,
       |        0.9 * (CASE WHEN u1.c1 IS NOT NULL AND u1.c1 > 0
       |          THEN COALESCE(bi.c12, 0)::DOUBLE / u1.c1 ELSE 0.0 END)
       |        + (1.0 - 0.9) * (COALESCE(u2.c1, 0) + 1.0)
       |          / (tot.n_tok + tot.v) AS p
       |      FROM st
       |      LEFT JOIN bi ON bi.g = st.g
       |      LEFT JOIN uni u1 ON u1.w = split_part(st.g, ' ', 1)
       |      LEFT JOIN uni u2 ON u2.w = split_part(st.g, ' ', 2)
       |      CROSS JOIN tot),
       |n AS (SELECT doc_id,
       |        CAST(floor(-1000000.0 * ln(p)) AS BIGINT) AS nll_e6
       |      FROM j),
       |lmscores AS (
       |  SELECT doc_id, cast(count(*) as bigint) AS n_bigrams,
       |    CAST(floor(sum(nll_e6) / count(*)) AS BIGINT) AS nll_e6
       |  FROM n GROUP BY doc_id)""".stripMargin

  /** The 5-round merge fit, shared by q151 and q154. The merge table
    * is tiny (k rows) but each fit is k serial vocab aggregates, the
    * kind of driver-barrier chain that amplifies under host contention
    * (PERF.md r5/r8).
    */
  private val bpeMerges = FitStore.slot((s, dir) =>
    FitStore.pinned(Bpe.learnMerges(table(s, dir, "documents"), "text",
      k = 5)))

  /** The unigram-LM vocab fit, shared by q210 and q211 (pinned —
    * referenced by the segment kernel's collect AND the vocab query;
    * the r11 re-inline lesson).
    */
  private val unigramVoc = FitStore.slot((s, dir) =>
    FitStore.pinned(UnigramLm.vocab(table(s, dir, "documents"), "text")))

  /** Shared DuckDB CTE chain re-training the unigram vocab: word
    * counts → weighted substring counts → singles + top-512 multis
    * → floored-e6 log-prob scores (MATERIALIZED — referenced by
    * every DP level).
    */
  private def unigramCtes: String =
    """WITH wc AS (
      |  SELECT w, count(*) AS freq FROM (
      |    SELECT unnest(string_split(text, ' ')) AS w FROM documents)
      |  WHERE length(w) >= 1
      |    AND NOT regexp_matches(w, '[\x{10000}-\x{10FFFF}]')
      |  GROUP BY w),
      |pc AS (
      |  SELECT piece, sum(freq) AS c FROM (
      |    SELECT freq, unnest(flatten(list_transform(
      |      generate_series(1, length(w)),
      |      i -> list_transform(
      |        generate_series(i, least(i + 3, length(w))),
      |        j -> substr(w, i, j - i + 1))))) AS piece
      |    FROM wc)
      |  GROUP BY piece),
      |voc AS (
      |  SELECT piece, c FROM pc WHERE length(piece) = 1
      |  UNION ALL
      |  SELECT piece, c FROM (
      |    SELECT piece, c FROM pc WHERE length(piece) >= 2
      |    ORDER BY c DESC, piece LIMIT 512)),
      |tot AS (SELECT sum(c) AS t FROM voc),
      |v AS MATERIALIZED (
      |  SELECT piece, c,
      |    CAST(floor(1000000.0 * (ln(c) - ln(t))) AS BIGINT)
      |      AS score_e6
      |  FROM voc, tot)""".stripMargin

  /** The unrolled Viterbi DP: one MATERIALIZED level per character
    * position (the EM/Lloyd unrolled-CTE discipline); level j picks
    * each word's argmax over the ≤4 lookback branches with the
    * SAME tie rule as the kernel (score desc, longer piece desc).
    */
  private def unigramDpCtes(maxW: Int): String = {
    val base =
      s"""w0 AS (SELECT w, freq FROM wc WHERE length(w) <= $maxW),
         |d0 AS (SELECT w, freq, CAST(0 AS BIGINT) AS score,
         |  '' AS path FROM w0)""".stripMargin
    val levels = (1 to maxW).map { jj =>
      val branches = (1 to math.min(UnigramLm.MaxPieceLen, jj))
        .map { l =>
          s"""    SELECT d.w, d.freq, d.score + v.score_e6 AS score,
             |      CASE WHEN d.path = '' THEN v.piece
             |        ELSE d.path || '|' || v.piece END AS path,
             |      $l AS l
             |    FROM d${jj - l} d
             |    JOIN v ON v.piece = substr(d.w, ${jj - l + 1}, $l)
             |    WHERE length(d.w) >= $jj""".stripMargin
        }.mkString("\n    UNION ALL\n")
      s"""d$jj AS MATERIALIZED (
         |  SELECT w, freq, score, path FROM (
         |    SELECT w, freq, score, path,
         |      row_number() OVER (PARTITION BY w
         |        ORDER BY score DESC, l DESC) AS rn
         |    FROM (
         |$branches))
         |  WHERE rn = 1)""".stripMargin
    }
    (base +: levels).mkString(",\n")
  }

  private def unigramVocabOracle: String =
    unigramCtes +
      """
        |SELECT piece, CAST(c AS BIGINT) AS c, score_e6
        |FROM v ORDER BY c DESC, piece LIMIT 100""".stripMargin

  private def unigramSegmentOracle: String = {
    val maxW = UnigramLm.MaxWordLen
    val fin = (1 to maxW)
      .map(j => s"SELECT w, freq, score, path FROM d$j " +
        s"WHERE length(w) = $j")
      .mkString(" UNION ALL ")
    unigramCtes + ",\n" + unigramDpCtes(maxW) +
      s"""
         |SELECT w, CAST(freq AS BIGINT) AS freq, path AS seg,
         |  CAST(len(string_split(path, '|')) AS BIGINT) AS n_pieces,
         |  score AS score_e6
         |FROM ($fin) ORDER BY freq DESC, w LIMIT 100""".stripMargin
  }

  /** DuckDB replay of the FULL k-round Sennrich merge loop
    * (text.Bpe.learnMerges): round i re-counts adjacent symbol pairs
    * over the round-(i-1) segmentation, picks the argmax (count desc,
    * pair asc) and applies the merge as the identical sentinel-space
    * string replace. Unrolled as chained CTEs — standard SQL
    * recursion cannot aggregate in the recursive term — which is
    * exactly right for tokenizer-sized k: each round is one
    * vocab-sized aggregate, mirroring the Spark loop's one job per
    * round. Graduates q151 from rows-only to a full hash oracle.
    */
  private def bpeCtes(k: Int): String = {
    val head =
      """WITH wc AS (
        |  SELECT w, count(*) AS freq FROM (
        |    SELECT unnest(string_split(text, ' ')) AS w FROM documents)
        |  WHERE length(w) >= 2
        |    AND NOT regexp_matches(w, '[\x{10000}-\x{10FFFF}]')
        |  GROUP BY w),
        |seg0 AS (
        |  SELECT w, freq,
        |    ' ' || array_to_string(string_split(w, ''), ' ') AS s
        |  FROM wc)""".stripMargin
    val rounds = (1 to k).map { i =>
      s"""p$i AS (
         |  SELECT pair, sum(freq) AS c FROM (
         |    SELECT freq, unnest(list_transform(generate_series(1, len(syms)-1),
         |      j -> syms[j] || ' ' || syms[j+1])) AS pair
         |    FROM (SELECT freq, string_split(trim(s), ' ') AS syms FROM seg${i - 1}))
         |  GROUP BY pair),
         |b$i AS (SELECT pair FROM p$i ORDER BY c DESC, pair LIMIT 1),
         |seg$i AS (
         |  SELECT w, freq, coalesce(replace(s, ' ' || b.pair,
         |    ' ' || replace(b.pair, ' ', '')), s) AS s
         |  FROM seg${i - 1} LEFT JOIN b$i b ON true)""".stripMargin
    }
    (head +: rounds).mkString(",\n")
  }

  private def bpeLearnOracle(k: Int): String = {
    val union = (1 to k).map(i => s"SELECT $i AS rank, pair FROM b$i")
      .mkString(" UNION ALL ")
    bpeCtes(k) +
      "\nSELECT cast(rank as int) AS rank, pair," +
      " replace(pair, ' ', '') AS merged" +
      s"\nFROM ($union) ORDER BY rank"
  }

  /** q154: the segmentation after k merges read straight from the
    * re-segmented vocab — what Bpe.applyMerges must reproduce.
    */
  private def bpeSegmentOracle(k: Int): String =
    bpeCtes(k) +
      s"""
         |SELECT w, freq, trim(s) AS seg,
         |  CAST(len(string_split(trim(s), ' ')) AS BIGINT) AS n_subwords
         |FROM seg$k ORDER BY freq DESC, w LIMIT 100""".stripMargin

  def oracles: Map[String, String] = Map(
    // marker built from chr() so the SQL carries no raw control or
    // combining bytes; codepoints match the Scala \uXXXX escapes
    "q159_unicode_clean" ->
      """WITH d AS (
        |  SELECT doc_id, text || ' A' || chr(778) || chr(8491)
        |    || ' Cafe' || chr(769) || ' No' || chr(776) || 'el'
        |    || chr(7) || 'ctl' || chr(160) || 'nb' || chr(8203)
        |    || 'zw  t ' AS dirty
        |  FROM documents),
        |n AS (SELECT doc_id, dirty, nfc_normalize(dirty) AS nfcd FROM d),
        |c AS (SELECT doc_id, dirty, nfcd,
        |  trim(regexp_replace(
        |    regexp_replace(
        |      regexp_replace(
        |        regexp_replace(nfcd,
        |          '[\x00-\x08\x0B\x0C\x0E-\x1F\x7F]', '', 'g'),
        |        '[\x{200B}-\x{200D}\x{FEFF}]', '', 'g'),
        |      '[\x{00A0}\x{1680}\x{2000}-\x{200A}\x{202F}\x{205F}\x{3000}]',
        |      ' ', 'g'),
        |    '\s+', ' ', 'g')) AS clean
        |  FROM n)
        |SELECT doc_id, dirty != nfcd AS changed_nfc,
        |  CAST(length(dirty) AS BIGINT) AS n_raw,
        |  CAST(length(clean) AS BIGINT) AS n_clean,
        |  md5(clean) AS clean_md5
        |FROM c ORDER BY doc_id""".stripMargin,
    "q151_bpe_learn" -> bpeLearnOracle(5),
    "q154_bpe_segment" -> bpeSegmentOracle(5),
    "q217_phrase_search" ->
      """WITH tk AS (
        |  SELECT doc_id, string_split(text, ' ') AS l FROM documents),
        |h AS (SELECT doc_id,
        |    CAST(len(list_filter(generate_series(1, len(l) - 1),
        |      i -> l[i] = 'hash' AND l[i+1] = 'join')) AS BIGINT)
        |      AS n_hits
        |  FROM tk)
        |SELECT doc_id, n_hits FROM h WHERE n_hits >= 1
        |ORDER BY doc_id""".stripMargin,
    "q210_unigram_vocab" -> unigramVocabOracle,
    "q211_unigram_segment" -> unigramSegmentOracle,
    "q153_pii_redact" ->
      s"""WITH t AS (
         |  SELECT doc_id, text
         |    || CASE WHEN doc_id % 3 = 0 THEN ' contact agent'
         |         || CAST(doc_id AS VARCHAR) || '@example.com now'
         |       ELSE '' END
         |    || CASE WHEN doc_id % 4 = 1 THEN ' call 555-010-'
         |         || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
         |       ELSE '' END
         |    || CASE WHEN doc_id % 5 = 2 THEN ' from 10.0.'
         |         || CAST(doc_id % 256 AS VARCHAR) || '.'
         |         || CAST((doc_id * 7) % 256 AS VARCHAR)
         |       ELSE '' END AS t
         |  FROM documents)
         |SELECT doc_id,
         |  CAST(len(regexp_extract_all(t, '${graft.text.Redact.emailRe}'))
         |    AS BIGINT) AS n_emails,
         |  CAST(len(regexp_extract_all(t, '${graft.text.Redact.nanpRe}'))
         |    AS BIGINT) AS n_phones,
         |  CAST(len(regexp_extract_all(t, '${graft.text.Redact.ipRe}'))
         |    AS BIGINT) AS n_ips,
         |  md5(regexp_replace(regexp_replace(regexp_replace(regexp_replace(t,
         |    '${graft.text.Redact.emailRe}', '<EMAIL>', 'g'),
         |    '${graft.text.Redact.nanpRe}', '<PHONE>', 'g'),
         |    '${graft.text.Redact.phoneRe}', '<PHONE>', 'g'),
         |    '${graft.text.Redact.ipRe}', '<IP>', 'g')) AS clean_md5
         |FROM t ORDER BY doc_id""".stripMargin,
    "q122_para_dedup" ->
      """WITH docs AS (
        |  SELECT doc_id,
        |    text
        |    || CASE WHEN doc_id % 3 = 0 THEN chr(10) ||
        |         'please accept our cookie policy and subscribe to the newsletter'
        |       ELSE '' END
        |    || CASE WHEN doc_id % 5 = 0 THEN chr(10) || 'footer ' || source
        |       ELSE '' END AS t
        |  FROM documents),
        |p AS (SELECT doc_id, unnest(string_split(t, chr(10))) AS p FROM docs),
        |hotq AS (SELECT md5(p) AS dig FROM p
        |         GROUP BY 1 HAVING count(DISTINCT doc_id) >= 100),
        |hot AS (SELECT coalesce(list(dig), []) AS hl FROM hotq)
        |SELECT doc_id,
        |  CAST(len(string_split(t, chr(10))) AS BIGINT) AS n_paras,
        |  CAST(len(list_filter(string_split(t, chr(10)),
        |    x -> list_contains(hl, md5(x)))) AS BIGINT) AS n_removed,
        |  md5(array_to_string(list_filter(string_split(t, chr(10)),
        |    x -> NOT list_contains(hl, md5(x))), chr(10))) AS clean_md5
        |FROM docs, hot ORDER BY doc_id""".stripMargin,
    "q126_budget_select" ->
      s"""WITH t AS (SELECT doc_id, text, $toks AS l FROM documents),
         |f AS (SELECT doc_id,
         |  least(cast(len(l) as double), 500.0) / 500.0 AS f_len,
         |  least(length(replace(text, ' ', ''))
         |          / cast(len(l) as double), 10.0) / 10.0 AS f_wlen,
         |  len(list_filter(l, x -> list_contains(
         |    ['the','a','an','of','and','to','in','is','it','for','on',
         |     'with','as','at','by','this','that'], x)))
         |    / cast(len(l) as double) AS f_stop,
         |  length(regexp_replace(text, '[^0-9]', '', 'g'))
         |    / cast(length(text) as double) AS f_digit,
         |  CAST(len(l) AS BIGINT) AS n_tokens
         |  FROM t),
         |scored AS (SELECT doc_id,
         |  CAST(floor((0.2 + 0.5 * f_len + 0.3 * f_wlen
         |        + 0.4 * f_stop - 0.6 * f_digit) * 10000.0) AS BIGINT)
         |    AS score_e4, n_tokens FROM f),
         |cum AS (SELECT doc_id, score_e4, n_tokens,
         |  sum(n_tokens) OVER (ORDER BY score_e4 DESC, doc_id
         |    ROWS UNBOUNDED PRECEDING) AS cum_tokens
         |  FROM scored)
         |SELECT doc_id, score_e4, n_tokens,
         |  CAST(cum_tokens AS BIGINT) AS cum_tokens
         |FROM cum WHERE cum_tokens <= 10000
         |ORDER BY score_e4 DESC, doc_id""".stripMargin,
    "q125_c4_keep_first" ->
      """WITH docs AS (
        |  SELECT doc_id,
        |    text
        |    || CASE WHEN doc_id % 3 = 0 THEN chr(10) ||
        |         'please accept our cookie policy and subscribe to the newsletter'
        |       ELSE '' END
        |    || CASE WHEN doc_id % 5 = 0 THEN chr(10) || 'footer ' || source
        |       ELSE '' END AS t
        |  FROM documents),
        |occ AS (
        |  SELECT doc_id, u.i AS pos, u.p AS para, md5(u.p) AS dig
        |  FROM (SELECT doc_id, unnest(list_transform(
        |          string_split(t, chr(10)),
        |          (x, i) -> struct_pack(p := x, i := i))) AS u
        |        FROM docs)),
        |keep AS (
        |  SELECT doc_id, pos, para FROM (
        |    SELECT doc_id, pos, para, row_number() OVER (
        |      PARTITION BY dig ORDER BY doc_id, pos) AS rn FROM occ)
        |  WHERE rn = 1),
        |k AS (
        |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_kept,
        |    md5(string_agg(para, chr(10) ORDER BY pos)) AS clean_md5
        |  FROM keep GROUP BY doc_id)
        |SELECT d.doc_id,
        |  CAST(len(string_split(d.t, chr(10))) AS BIGINT) AS n_paras,
        |  coalesce(k.n_kept, 0) AS n_kept,
        |  coalesce(k.clean_md5, md5('')) AS clean_md5
        |FROM docs d LEFT JOIN k USING (doc_id) ORDER BY d.doc_id""".stripMargin,
    "q123_bpe_pairs" ->
      """WITH words AS (
        |  SELECT w, count(*) AS freq
        |  FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
        |  WHERE length(w) >= 2 GROUP BY w),
        |pairs AS (
        |  -- per-word position list (range() the LIST function takes
        |  -- column args where the table function cannot): every
        |  -- window of every word enumerates, however long the token
        |  SELECT unnest(list_transform(range(1, length(w)),
        |           i -> substr(w, CAST(i AS INT), 2))) AS pair, freq
        |  FROM words)
        |SELECT pair, CAST(sum(freq) AS BIGINT) AS cnt
        |FROM pairs GROUP BY pair ORDER BY cnt DESC, pair LIMIT 50""".stripMargin,
    "q106_substr_spans" ->
      s"""WITH tk AS (SELECT doc_id, $toks AS l FROM documents),
         |corpus AS (
         |  SELECT doc_id, l FROM tk
         |  UNION ALL
         |  SELECT doc_id + 200000,
         |         string_split(array_to_string(l[11:len(l)], ' '), ' ')
         |  FROM tk WHERE doc_id < 30),
         |g AS (SELECT doc_id,
         |        unnest(list_transform(generate_series(1, len(l) - 12),
         |          i -> md5(array_to_string(l[i:i+12], ' ')))) AS h
         |      FROM corpus),
         |nd AS (SELECT h, count(DISTINCT doc_id) AS ndocs FROM g GROUP BY h),
         |per AS (SELECT g.doc_id, count(*) AS n_windows,
         |          sum(CASE WHEN nd.ndocs > 1 THEN 1 ELSE 0 END)
         |            AS n_dup_windows
         |        FROM g JOIN nd USING (h) GROUP BY g.doc_id)
         |SELECT doc_id, cast(n_windows as bigint) AS n_windows,
         |  cast(n_dup_windows as bigint) AS n_dup_windows,
         |  round(n_dup_windows * 1.0 / n_windows, 4) AS dup_ratio
         |FROM per WHERE n_dup_windows > 0 ORDER BY doc_id""".stripMargin,
    // same corpus + duplicated-window rule as q106, then the
    // gaps-and-islands merge replayed: flag a new island when the
    // gap between successive duplicate starts exceeds n=13, island
    // id by running sum, one span row per (doc, island)
    "q236_dup_span_extents" ->
      s"""WITH tk AS (SELECT doc_id, $toks AS l FROM documents),
         |corpus AS (
         |  SELECT doc_id, l FROM tk
         |  UNION ALL
         |  SELECT doc_id + 200000,
         |         string_split(array_to_string(l[11:len(l)], ' '), ' ')
         |  FROM tk WHERE doc_id < 30),
         |g AS (SELECT doc_id,
         |        unnest(generate_series(1, len(l) - 12)) AS pos, l
         |      FROM corpus),
         |hh AS (SELECT doc_id, pos,
         |         md5(array_to_string(l[pos:pos+12], ' ')) AS h FROM g),
         |c AS (SELECT doc_id, pos,
         |        count(*) OVER (PARTITION BY h) AS ct,
         |        count(*) OVER (PARTITION BY h, doc_id) AS cd
         |      FROM hh),
         |d AS (SELECT doc_id, pos FROM c WHERE ct > cd),
         |i AS (SELECT doc_id, pos,
         |        CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id
         |               ORDER BY pos) > 13 THEN 1 ELSE 0 END AS flag
         |      FROM d),
         |si AS (SELECT doc_id, pos,
         |         sum(flag) OVER (PARTITION BY doc_id ORDER BY pos
         |           ROWS UNBOUNDED PRECEDING) AS isl
         |       FROM i)
         |SELECT doc_id, CAST(min(pos) AS BIGINT) AS span_start,
         |  CAST(max(pos) + 12 AS BIGINT) AS span_end,
         |  CAST(max(pos) + 12 - min(pos) + 1 AS BIGINT) AS span_tokens
         |FROM si GROUP BY doc_id, isl
         |ORDER BY doc_id, span_start""".stripMargin,
    // q243 — same corpus, then the keeper rule replayed: among ALL
    // occurrences of a window hash (total count >= 2, intra-doc
    // repeats included), the first by (doc_id, pos) keeps;
    // gaps-and-islands merge runs per (doc, verdict)
    "q243_dup_span_cuts" ->
      s"""WITH tk AS (SELECT doc_id, $toks AS l FROM documents),
         |corpus AS (
         |  SELECT doc_id, l FROM tk
         |  UNION ALL
         |  SELECT doc_id + 200000,
         |         string_split(array_to_string(l[11:len(l)], ' '), ' ')
         |  FROM tk WHERE doc_id < 30),
         |g AS (SELECT doc_id,
         |        unnest(generate_series(1, len(l) - 12)) AS pos, l
         |      FROM corpus),
         |hh AS (SELECT doc_id, pos,
         |         md5(array_to_string(l[pos:pos+12], ' ')) AS h FROM g),
         |c AS (SELECT doc_id, pos,
         |        count(*) OVER (PARTITION BY h) AS ct,
         |        row_number() OVER (PARTITION BY h
         |          ORDER BY doc_id, pos) AS rn
         |      FROM hh),
         |d AS (SELECT doc_id, pos, (rn = 1) AS keep FROM c WHERE ct > 1),
         |i AS (SELECT doc_id, pos, keep,
         |        CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id, keep
         |               ORDER BY pos) > 13 THEN 1 ELSE 0 END AS flag
         |      FROM d),
         |si AS (SELECT doc_id, pos, keep,
         |         sum(flag) OVER (PARTITION BY doc_id, keep ORDER BY pos
         |           ROWS UNBOUNDED PRECEDING) AS isl
         |       FROM i)
         |SELECT doc_id, CAST(min(pos) AS BIGINT) AS span_start,
         |  CAST(max(pos) + 12 AS BIGINT) AS span_end,
         |  CAST(max(pos) + 12 - min(pos) + 1 AS BIGINT) AS span_tokens,
         |  keep
         |FROM si GROUP BY doc_id, keep, isl
         |ORDER BY doc_id, span_start, keep""".stripMargin,
    "q107_top_ngram" -> {
      def topCte(n: Int) =
        s"""t$n AS (
           |  SELECT doc_id, top${n}_gram, top${n}_n,
           |    round(top${n}_n * length(top${n}_gram) * 1.0 / n_chars, 4)
           |      AS top${n}_frac
           |  FROM (
           |    SELECT doc_id, n_chars, g AS top${n}_gram,
           |      count(*) AS top${n}_n,
           |      row_number() OVER (PARTITION BY doc_id
           |        ORDER BY count(*) DESC, g) AS rn
           |    FROM (SELECT doc_id, n_chars,
           |            unnest(${ngramSql("l", n)}) AS g FROM tk)
           |    GROUP BY doc_id, n_chars, g)
           |  WHERE rn = 1)""".stripMargin
      s"""WITH tk AS (SELECT doc_id, n_chars, $toks AS l FROM documents),
         |${topCte(2)},
         |${topCte(3)},
         |${topCte(4)}
         |SELECT t2.doc_id, t2.top2_gram, cast(t2.top2_n as bigint) AS top2_n,
         |  t2.top2_frac, t3.top3_frac, t4.top4_frac
         |FROM t2 JOIN t3 USING (doc_id) JOIN t4 USING (doc_id)
         |ORDER BY t2.doc_id""".stripMargin
    },
    // the q108 score chain + histogram rank prefix; doubled average
    // ranks keep everything integer, one // division at the end
    "q166_quality_auc" ->
      s"""WITH t AS (SELECT doc_id, lang, text, $toks AS l FROM documents),
         |f AS (SELECT doc_id, lang,
         |  least(cast(len(l) as double), 500.0) / 500.0 AS f_len,
         |  least(length(replace(text, ' ', ''))
         |          / cast(len(l) as double), 10.0) / 10.0 AS f_wlen,
         |  len(list_filter(l, x -> list_contains(
         |    ['the','a','an','of','and','to','in','is','it','for','on',
         |     'with','as','at','by','this','that'], x)))
         |    / cast(len(l) as double) AS f_stop,
         |  length(regexp_replace(text, '[^0-9]', '', 'g'))
         |    / cast(length(text) as double) AS f_digit
         |  FROM t),
         |sc AS (SELECT
         |  CAST(floor((0.2 + 0.5 * f_len + 0.3 * f_wlen
         |        + 0.4 * f_stop - 0.6 * f_digit) * 10000.0) AS BIGINT) AS s,
         |  CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS pos
         |  FROM f),
         |h AS (SELECT s, CAST(count(*) AS BIGINT) AS cnt,
         |        CAST(sum(pos) AS BIGINT) AS pcnt
         |      FROM sc GROUP BY s),
         |r AS (SELECT s, cnt, pcnt,
         |        COALESCE(sum(cnt) OVER (ORDER BY s
         |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         |          AS cum
         |      FROM h),
         |a AS (SELECT CAST(sum(pcnt * (2 * cum + cnt + 1)) AS BIGINT) AS r2,
         |        CAST(sum(pcnt) AS BIGINT) AS p,
         |        CAST(sum(cnt) AS BIGINT) AS t
         |      FROM r)
         |SELECT p AS n_pos, t - p AS n_neg,
         |  CAST(CASE WHEN p = 0 OR t = p THEN NULL
         |    ELSE (r2 - p * (p + 1)) * 1000000 // (2 * p * (t - p))
         |    END AS BIGINT) AS auc_e6
         |FROM a""".stripMargin,
    "q200_token_label_mi" ->
      """WITH d AS MATERIALIZED (
        |  SELECT CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS pos,
        |    list_distinct(list_filter(string_split(text, ' '),
        |      t -> len(t) > 0)) AS ts
        |  FROM documents),
        |tot AS (SELECT CAST(count(*) AS BIGINT) AS nn,
        |  CAST(sum(pos) AS BIGINT) AS n1t FROM d),
        |g AS (SELECT term, CAST(sum(pos) AS BIGINT) AS n_pos,
        |    CAST(count(*) - sum(pos) AS BIGINT) AS n_neg
        |  FROM (SELECT pos, unnest(ts) AS term FROM d) GROUP BY term)
        |SELECT term, n_pos, n_neg,
        |  CAST(floor(CASE WHEN n_pos > 0 THEN
        |      (CAST(n_pos AS DOUBLE) / nn) * ln((CAST(n_pos AS DOUBLE) * nn)
        |        / (CAST(n_pos + n_neg AS DOUBLE) * n1t)) ELSE 0.0 END
        |    * 1000000.0) AS BIGINT)
        |  + CAST(floor(CASE WHEN n_neg > 0 THEN
        |      (CAST(n_neg AS DOUBLE) / nn) * ln((CAST(n_neg AS DOUBLE) * nn)
        |        / (CAST(n_pos + n_neg AS DOUBLE) * (nn - n1t))) ELSE 0.0 END
        |    * 1000000.0) AS BIGINT)
        |  + CAST(floor(CASE WHEN n1t - n_pos > 0 THEN
        |      (CAST(n1t - n_pos AS DOUBLE) / nn)
        |        * ln((CAST(n1t - n_pos AS DOUBLE) * nn)
        |        / (CAST(nn - n_pos - n_neg AS DOUBLE) * n1t)) ELSE 0.0 END
        |    * 1000000.0) AS BIGINT)
        |  + CAST(floor(CASE WHEN (nn - n1t) - n_neg > 0 THEN
        |      (CAST((nn - n1t) - n_neg AS DOUBLE) / nn)
        |        * ln((CAST((nn - n1t) - n_neg AS DOUBLE) * nn)
        |        / (CAST(nn - n_pos - n_neg AS DOUBLE) * (nn - n1t)))
        |      ELSE 0.0 END
        |    * 1000000.0) AS BIGINT) AS mi_e6
        |FROM g, tot ORDER BY mi_e6 DESC, term LIMIT 30""".stripMargin,
    "q203_quantile_gate" ->
      """WITH h AS (SELECT source, n_chars AS v,
        |    CAST(count(*) AS BIGINT) AS c
        |  FROM documents GROUP BY source, n_chars),
        |w AS (SELECT source, v, c,
        |    coalesce(sum(c) OVER (PARTITION BY source ORDER BY v
        |      RANGE BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS below_g,
        |    sum(c) OVER (PARTITION BY source) AS n_g,
        |    coalesce(sum(c) OVER (ORDER BY v
        |      RANGE BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS below_a,
        |    sum(c) OVER () AS n_a
        |  FROM h)
        |SELECT source, CAST(sum(c) AS BIGINT) AS n,
        |  CAST(sum(CASE WHEN below_g * 5 >= n_g * 4 THEN c ELSE 0 END)
        |    AS BIGINT) AS sel_norm,
        |  CAST(sum(CASE WHEN below_a * 5 >= n_a * 4 THEN c ELSE 0 END)
        |    AS BIGINT) AS sel_raw
        |FROM w GROUP BY source ORDER BY source""".stripMargin,
    "q204_concentration" ->
      """WITH c AS (SELECT source, CAST(count(*) AS BIGINT) AS c
        |  FROM documents GROUP BY source),
        |w AS (SELECT source, c, sum(c) OVER () AS n,
        |    CAST(row_number() OVER (ORDER BY c, source) AS BIGINT) AS i
        |  FROM c),
        |e AS (SELECT *, CAST(floor(1000000.0 * (CAST(c AS DOUBLE) / n)
        |    * ln(CAST(n AS DOUBLE) / c)) AS BIGINT) AS h_e6 FROM w)
        |SELECT CAST(count(*) AS BIGINT) AS n_groups,
        |  CAST(max(n) AS BIGINT) AS n_rows,
        |  CAST(sum(h_e6) AS BIGINT) AS entropy_e6,
        |  CAST(floor(1000000.0
        |    * CAST(2 * sum(i * c) - (count(*) + 1) * max(n) AS DOUBLE)
        |    / (CAST(count(*) AS DOUBLE) * max(n))) AS BIGINT) AS gini_e6,
        |  CAST((1000000 * max(c)) // max(n) AS BIGINT) AS top_share_e6
        |FROM e""".stripMargin,
    "q198_js_divergence" ->
      """WITH u AS (
        |  SELECT unnest(string_split(text, ' ')) AS term,
        |    CASE WHEN lang = 'en' THEN 0 ELSE 1 END AS side
        |  FROM documents),
        |c AS (SELECT term,
        |    CAST(sum(CASE WHEN side = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
        |    CAST(sum(CASE WHEN side = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_b
        |  FROM u WHERE len(term) > 0 GROUP BY term),
        |w AS (SELECT term, n_a, n_b,
        |    sum(n_a) OVER () AS ta, sum(n_b) OVER () AS tb FROM c)
        |SELECT term, n_a, n_b,
        |  CAST(floor((
        |    CASE WHEN n_a > 0 THEN (CAST(n_a AS DOUBLE) / ta)
        |      * ln((CAST(n_a AS DOUBLE) / ta)
        |          / (((CAST(n_a AS DOUBLE) / ta)
        |             + (CAST(n_b AS DOUBLE) / tb)) / 2.0))
        |      ELSE 0.0 END
        |    + CASE WHEN n_b > 0 THEN (CAST(n_b AS DOUBLE) / tb)
        |      * ln((CAST(n_b AS DOUBLE) / tb)
        |          / (((CAST(n_a AS DOUBLE) / ta)
        |             + (CAST(n_b AS DOUBLE) / tb)) / 2.0))
        |      ELSE 0.0 END) * 500000.0) AS BIGINT) AS jsd_term_e6
        |FROM w ORDER BY jsd_term_e6 DESC, term LIMIT 30""".stripMargin,
    // the q166 score chain, then exact-integer equal-width binning
    // (the histogramFx idiom) with truncating per-bin divisions
    "q230_tokenizer_fertility" -> {
      val maxW = UnigramLm.MaxWordLen
      val fin = (1 to maxW)
        .map(j => s"SELECT w, path FROM d$j WHERE length(w) = $j")
        .mkString(" UNION ALL ")
      unigramCtes + ",\n" + unigramDpCtes(maxW) +
        s""",
           |sw AS (SELECT source, w, CAST(count(*) AS BIGINT) AS freq
           |  FROM (SELECT source, unnest(string_split(text, ' ')) AS w
           |        FROM documents)
           |  WHERE length(w) >= 1 AND length(w) <= $maxW
           |    AND NOT regexp_matches(w, '[\\x{10000}-\\x{10FFFF}]')
           |  GROUP BY source, w),
           |np AS (SELECT w,
           |    CAST(len(string_split(path, '|')) AS BIGINT) AS n_pieces
           |  FROM ($fin))
           |SELECT source, CAST(sum(freq) AS BIGINT) AS n_tokens,
           |  CAST(sum(freq * n_pieces) * 1000000 // sum(freq)
           |    AS BIGINT) AS fert_e6,
           |  CAST(sum(freq * (CASE WHEN n_pieces = length(w)
           |      THEN 1 ELSE 0 END)) * 1000000 // sum(freq)
           |    AS BIGINT) AS allsingle_e6
           |FROM sw JOIN np USING (w)
           |GROUP BY source ORDER BY source""".stripMargin
    },
    "q228_source_wilson" ->
      s"""WITH t AS (SELECT source, text, $toks AS l FROM documents),
         |f AS (SELECT source,
         |  least(cast(len(l) as double), 500.0) / 500.0 AS f_len,
         |  least(length(replace(text, ' ', ''))
         |          / cast(len(l) as double), 10.0) / 10.0 AS f_wlen,
         |  len(list_filter(l, x -> list_contains(
         |    ['the','a','an','of','and','to','in','is','it','for','on',
         |     'with','as','at','by','this','that'], x)))
         |    / cast(len(l) as double) AS f_stop,
         |  length(regexp_replace(text, '[^0-9]', '', 'g'))
         |    / cast(length(text) as double) AS f_digit
         |  FROM t),
         |sc AS (SELECT source,
         |  CASE WHEN CAST(floor((0.2 + 0.5 * f_len + 0.3 * f_wlen
         |        + 0.4 * f_stop - 0.6 * f_digit) * 10000.0) AS BIGINT)
         |      >= 4200 THEN 1 ELSE 0 END AS pass
         |  FROM f),
         |g AS (SELECT source, CAST(count(*) AS BIGINT) AS n,
         |    CAST(sum(pass) AS BIGINT) AS n_pass
         |  FROM sc GROUP BY source)
         |SELECT source, n, n_pass,
         |  cast(floor((
         |    (n_pass / cast(n as double))
         |    + (1.96*1.96)/(2*cast(n as double))
         |    - 1.96 * sqrt(((n_pass / cast(n as double))
         |        * (1 - n_pass / cast(n as double))
         |        + (1.96*1.96)/(4*cast(n as double)))
         |      / cast(n as double))
         |  ) / (1 + (1.96*1.96)/cast(n as double))
         |  * 1000000.0) as bigint) AS wilson_lb_e6
         |FROM g ORDER BY wilson_lb_e6 DESC, source""".stripMargin,
    "q226_brier_score" ->
      s"""WITH t AS (SELECT doc_id, lang, text, $toks AS l FROM documents),
         |f AS (SELECT doc_id, lang,
         |  least(cast(len(l) as double), 500.0) / 500.0 AS f_len,
         |  least(length(replace(text, ' ', ''))
         |          / cast(len(l) as double), 10.0) / 10.0 AS f_wlen,
         |  len(list_filter(l, x -> list_contains(
         |    ['the','a','an','of','and','to','in','is','it','for','on',
         |     'with','as','at','by','this','that'], x)))
         |    / cast(len(l) as double) AS f_stop,
         |  length(regexp_replace(text, '[^0-9]', '', 'g'))
         |    / cast(length(text) as double) AS f_digit
         |  FROM t),
         |sc AS (SELECT
         |  least(greatest(CAST(floor((0.2 + 0.5 * f_len + 0.3 * f_wlen
         |        + 0.4 * f_stop - 0.6 * f_digit) * 10000.0) AS HUGEINT),
         |    0), 10000) AS p,
         |  CASE WHEN lang = 'en' THEN 10000::HUGEINT
         |    ELSE 0::HUGEINT END AS y
         |  FROM f),
         |a AS (SELECT count(*)::HUGEINT AS n, sum(y) AS sy,
         |    sum((p - y) * (p - y)) AS sq FROM sc),
         |b AS (SELECT n, sy, sq, sy // n AS c,
         |    sq // n AS brier,
         |    ((sy // n) * (sy // n) * n - 2 * (sy // n) * sy
         |      + 10000 * sy) // n AS base FROM a)
         |SELECT CAST(n AS BIGINT) AS n,
         |  CAST(sy // 10000 AS BIGINT) AS n_pos,
         |  CAST(brier AS BIGINT) AS brier_e8,
         |  CAST(base AS BIGINT) AS brier_base_e8,
         |  CASE WHEN base = 0 THEN NULL
         |    WHEN base >= brier THEN
         |      CAST((base - brier) * 1000000 // base AS BIGINT)
         |    ELSE
         |      -CAST((brier - base) * 1000000 // base AS BIGINT)
         |    END AS skill_e6
         |FROM b""".stripMargin,
    "q197_calibration" ->
      s"""WITH t AS (SELECT doc_id, lang, text, $toks AS l FROM documents),
         |f AS (SELECT doc_id, lang,
         |  least(cast(len(l) as double), 500.0) / 500.0 AS f_len,
         |  least(length(replace(text, ' ', ''))
         |          / cast(len(l) as double), 10.0) / 10.0 AS f_wlen,
         |  len(list_filter(l, x -> list_contains(
         |    ['the','a','an','of','and','to','in','is','it','for','on',
         |     'with','as','at','by','this','that'], x)))
         |    / cast(len(l) as double) AS f_stop,
         |  length(regexp_replace(text, '[^0-9]', '', 'g'))
         |    / cast(length(text) as double) AS f_digit
         |  FROM t),
         |sc AS (SELECT
         |  CAST(floor((0.2 + 0.5 * f_len + 0.3 * f_wlen
         |        + 0.4 * f_stop - 0.6 * f_digit) * 10000.0) AS BIGINT) AS s,
         |  CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS pos
         |  FROM f),
         |st AS (SELECT min(s) AS mn, max(s) AS mx FROM sc)
         |SELECT ((s - mn) * 10) // (mx - mn + 1) AS bin,
         |  CAST(count(*) AS BIGINT) AS n,
         |  CAST(sum(pos) AS BIGINT) AS n_pos,
         |  CAST(sum(s::HUGEINT) // count(*) AS BIGINT) AS mean_s,
         |  CAST(sum(pos)::HUGEINT * 1000000 // count(*) AS BIGINT)
         |    AS pos_rate_e6
         |FROM sc, st GROUP BY bin ORDER BY bin""".stripMargin,
    "q108_quality_classifier" ->
      s"""WITH t AS (SELECT doc_id, text, $toks AS l FROM documents),
         |f AS (SELECT doc_id,
         |  least(cast(len(l) as double), 500.0) / 500.0 AS f_len,
         |  least(length(replace(text, ' ', ''))
         |          / cast(len(l) as double), 10.0) / 10.0 AS f_wlen,
         |  len(list_filter(l, x -> list_contains(
         |    ['the','a','an','of','and','to','in','is','it','for','on',
         |     'with','as','at','by','this','that'], x)))
         |    / cast(len(l) as double) AS f_stop,
         |  length(regexp_replace(text, '[^0-9]', '', 'g'))
         |    / cast(length(text) as double) AS f_digit
         |  FROM t)
         |SELECT doc_id,
         |  CAST(floor((0.2 + 0.5 * f_len + 0.3 * f_wlen
         |        + 0.4 * f_stop - 0.6 * f_digit) * 10000.0) AS BIGINT)
         |    AS q_score_e4,
         |  CAST(floor((0.2 + 0.5 * f_len + 0.3 * f_wlen
         |        + 0.4 * f_stop - 0.6 * f_digit) * 10000.0) AS BIGINT)
         |    >= 5000 AS q_label
         |FROM f ORDER BY doc_id""".stripMargin,
    // Mirrors Ranks.pctRankBanded + the ensemble blend in IEEE op
    // order; the quality-score CTE is q108's verbatim.
    "q140_quality_ensemble" ->
      s"""WITH t AS (SELECT doc_id, text, $toks AS l FROM documents),
         |f AS (SELECT doc_id,
         |  least(cast(len(l) as double), 500.0) / 500.0 AS f_len,
         |  least(length(replace(text, ' ', ''))
         |          / cast(len(l) as double), 10.0) / 10.0 AS f_wlen,
         |  len(list_filter(l, x -> list_contains(
         |    ['the','a','an','of','and','to','in','is','it','for','on',
         |     'with','as','at','by','this','that'], x)))
         |    / cast(len(l) as double) AS f_stop,
         |  length(regexp_replace(text, '[^0-9]', '', 'g'))
         |    / cast(length(text) as double) AS f_digit
         |  FROM t),
         |q AS (SELECT doc_id,
         |  CAST(floor((0.2 + 0.5 * f_len + 0.3 * f_wlen
         |        + 0.4 * f_stop - 0.6 * f_digit) * 10000.0) AS BIGINT)
         |    AS q_e4 FROM f),
         |r AS (SELECT doc_id, CASE WHEN len(tg) > 0 THEN
         |        CAST(floor(1e4 * (1.0 - len(list_distinct(tg))
         |          / CAST(len(tg) AS DOUBLE))) AS BIGINT)
         |        ELSE 0 END AS rep_e4
         |      FROM (SELECT doc_id, ${ngramSql("l", 3)} AS tg FROM t)),
         |b AS (SELECT q.doc_id, q_e4, rep_e4 FROM q JOIN r USING (doc_id)),
         |n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM b),
         |h1 AS (SELECT q_e4, CAST(count(*) AS BIGINT) AS c
         |       FROM b GROUP BY q_e4),
         |p1 AS (SELECT q_e4, CAST(floor(1e6 * below / n) AS BIGINT)
         |         AS q_pct FROM
         |       (SELECT q_e4, CAST(coalesce(sum(c) OVER (ORDER BY q_e4
         |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         |          AS BIGINT) AS below FROM h1) CROSS JOIN n),
         |h2 AS (SELECT rep_e4, CAST(count(*) AS BIGINT) AS c
         |       FROM b GROUP BY rep_e4),
         |p2 AS (SELECT rep_e4, CAST(floor(1e6 * below / n) AS BIGINT)
         |         AS rep_pct FROM
         |       (SELECT rep_e4, CAST(coalesce(sum(c) OVER (ORDER BY rep_e4
         |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         |          AS BIGINT) AS below FROM h2) CROSS JOIN n)
         |SELECT b.doc_id,
         |  CAST(floor((q_pct + (1000000 - rep_pct)) / 2.0) AS BIGINT)
         |    AS ens_fx
         |FROM b JOIN p1 USING (q_e4) JOIN p2 USING (rep_e4)
         |ORDER BY ens_fx DESC, b.doc_id LIMIT 50""".stripMargin,
    "q109_temp_mix" ->
      """WITH c AS (SELECT lang, count(*) AS n_total
        |           FROM documents GROUP BY lang),
        |w AS (SELECT lang, n_total,
        |        CAST(floor(sqrt(n_total * 1000000.0)) AS BIGINT) AS wt
        |      FROM c),
        |t AS (SELECT lang, n_total,
        |        CAST(floor((wt * 1000.0) /
        |          CAST((SELECT sum(wt) FROM w) AS DOUBLE)) AS BIGINT)
        |          AS target_n
        |      FROM w),
        |r AS (SELECT lang,
        |        row_number() OVER (PARTITION BY lang
        |          ORDER BY md5(text || '#' || doc_id), doc_id) AS rn
        |      FROM documents)
        |SELECT t.lang, cast(t.n_total as bigint) AS n_total, t.target_n,
        |  cast(count(*) as bigint) AS n_selected
        |FROM r JOIN t ON r.lang = t.lang
        |WHERE r.rn <= t.target_n
        |GROUP BY t.lang, t.n_total, t.target_n
        |ORDER BY t.lang""".stripMargin,
    "q150_ngram_decontam" ->
      s"""WITH tk AS (SELECT doc_id, $toks AS l FROM documents),
         |bw AS (SELECT DISTINCT
         |         unnest(list_transform(generate_series(1, len(l) - 12),
         |           i -> md5(array_to_string(l[i:i+12], ' ')))) AS h
         |       FROM tk WHERE doc_id < 20),
         |tr AS (SELECT doc_id, l FROM tk WHERE doc_id >= 20
         |       UNION ALL
         |       SELECT doc_id + 300000,
         |              string_split(text || ' zq1 zq2', ' ')
         |       FROM documents WHERE doc_id < 20),
         |twin AS (SELECT doc_id,
         |           unnest(list_transform(generate_series(1, len(l) - 12),
         |             i -> md5(array_to_string(l[i:i+12], ' ')))) AS h
         |         FROM tr),
         |per AS (SELECT t.doc_id, CAST(count(*) AS BIGINT) AS n_windows,
         |          CAST(sum(CASE WHEN b.h IS NOT NULL THEN 1 ELSE 0 END)
         |            AS BIGINT) AS n_hit
         |        FROM twin t LEFT JOIN bw b USING (h)
         |        GROUP BY t.doc_id)
         |SELECT doc_id, n_windows, n_hit,
         |  round(n_hit / CAST(n_windows AS DOUBLE), 4) AS hit_frac
         |FROM per WHERE n_hit > 0 ORDER BY doc_id""".stripMargin,
    "q110_lsh_decontam" -> {
      val mhs = (0 until 8).map(i => s"${minhashSql(i)} AS mh$i").mkString(", ")
      val bandList = (0 until 4).map(bandSql).mkString("[", ", ", "]")
      val matches = (0 until 8)
        .map(i => s"(CASE WHEN a.mh$i = b.mh$i THEN 1 ELSE 0 END)")
        .mkString(" + ")
      s"""WITH bench AS (SELECT doc_id, text FROM documents WHERE doc_id < 20),
         |train AS (
         |  SELECT doc_id, text FROM documents WHERE doc_id >= 20
         |  UNION ALL
         |  SELECT doc_id + 300000, text || ' zq1 zq2' FROM bench),
         |sht AS (SELECT doc_id, $shingles AS sh FROM train),
         |shb AS (SELECT doc_id, $shingles AS sh FROM bench),
         |mht AS (SELECT doc_id, $mhs FROM sht),
         |mhb AS (SELECT doc_id, $mhs FROM shb),
         |bt AS (SELECT doc_id, unnest($bandList) AS band FROM mht),
         |bb AS (SELECT doc_id, unnest($bandList) AS band FROM mhb),
         |cand AS (SELECT DISTINCT t.doc_id AS left_id, b.doc_id AS right_id
         |         FROM bt t JOIN bb b ON t.band = b.band)
         |SELECT left_id, right_id, round(($matches) / 8.0, 4) AS est_jaccard
         |FROM cand JOIN mht a ON cand.left_id = a.doc_id
         |          JOIN mhb b ON cand.right_id = b.doc_id
         |WHERE ($matches) >= 2
         |ORDER BY left_id, right_id""".stripMargin
    },
    "q111_embed_quantize" ->
      """WITH e AS (SELECT vec_id,
        |             list_transform(embedding, x -> x::DOUBLE) AS v
        |           FROM embeddings),
        |m AS (SELECT vec_id, v, list_min(v) AS mn,
        |        (list_max(v) - list_min(v)) / 255.0 AS scale
        |      FROM e),
        |qz AS (SELECT vec_id, v, mn, scale,
        |         CASE WHEN scale > 0
        |           THEN list_transform(v, x -> floor((x - mn) / scale + 0.5))
        |           ELSE list_transform(v, x -> 0.0) END AS q
        |       FROM m)
        |SELECT vec_id,
        |  CAST(list_sum(q) AS BIGINT) AS qsum,
        |  CAST(floor(list_max(list_transform(range(1, len(v) + 1),
        |      i -> abs(v[i] - (mn + q[i] * scale)))) * 1000000.0) AS BIGINT)
        |    AS err_e6
        |FROM qz ORDER BY vec_id""".stripMargin,
    "q119_lm_perplexity" ->
      s"""WITH $lmScoreCtes
         |SELECT doc_id, n_bigrams, nll_e6
         |FROM lmscores ORDER BY doc_id""".stripMargin,
    "q127_ccnet_parts" ->
      s"""WITH $lmScoreCtes,
         |parts AS (
         |  SELECT sc.doc_id, d.lang, sc.nll_e6,
         |    ntile(3) OVER (PARTITION BY d.lang
         |      ORDER BY sc.nll_e6, sc.doc_id) AS t
         |  FROM lmscores sc JOIN documents d USING (doc_id))
         |SELECT doc_id, lang, nll_e6,
         |  CASE t WHEN 1 THEN 'head' WHEN 2 THEN 'middle'
         |    ELSE 'tail' END AS part
         |FROM parts ORDER BY doc_id""".stripMargin,
    "q116_dsir_scores" ->
      s"""WITH $dsirScoreCtes
         |SELECT doc_id, CAST(score_e6 AS BIGINT) AS score_e6
         |FROM s ORDER BY doc_id""".stripMargin,
    "q117_dsir_select" ->
      s"""WITH $dsirScoreCtes,
         |keyed AS (
         |  SELECT doc_id, score_e6
         |    + CAST(floor(1000000.0 * -ln(-ln(
         |        (CAST(CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)
         |           AS UBIGINT) AS DOUBLE) + 0.5) / 4294967296.0)))
         |        AS BIGINT) AS key_e6
         |  FROM s),
         |sel AS (SELECT doc_id FROM keyed
         |        ORDER BY key_e6 DESC, doc_id LIMIT 50)
         |SELECT d.lang AS lang, cast(count(*) as bigint) AS n_selected
         |FROM sel JOIN documents d USING (doc_id)
         |GROUP BY d.lang ORDER BY d.lang""".stripMargin
  )

  /** Shared DSIR CTEs: hashed 1-2gram buckets, smoothed log-ratio
    * weights (floored millionths), per-doc integer scores — the SQL
    * replay of `pipeline.Dsir.importanceScores` with target lang='en'
    * and B=4096.
    */
  private def dsirScoreCtes: String =
    s"""t AS (SELECT doc_id, lang, $toks AS tk FROM documents),
       |g AS (
       |  SELECT doc_id, lang, gram FROM (
       |    SELECT doc_id, lang, unnest(tk) AS gram FROM t
       |    UNION ALL
       |    SELECT doc_id, lang, unnest(${ngramSql("tk", 2)}) AS gram FROM t)),
       |b AS (SELECT doc_id, lang,
       |        CAST(CAST('0x' || substr(md5(gram), 1, 8) AS UBIGINT) % 4096
       |          AS BIGINT) AS bucket
       |      FROM g),
       |d AS (SELECT bucket, count(*) AS n_r,
       |        sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS n_t
       |      FROM b GROUP BY bucket),
       |tot AS (SELECT sum(n_r) AS nr, sum(n_t) AS nt FROM d),
       |w AS (SELECT bucket,
       |        CAST(floor(1000000.0 * ln(
       |          ((n_t + 1.0) / (nt + 4096.0)) /
       |          ((n_r + 1.0) / (nr + 4096.0)))) AS BIGINT) AS l_e6
       |      FROM d, tot),
       |s AS (SELECT doc_id, sum(l_e6) AS score_e6
       |      FROM b JOIN w USING (bucket) GROUP BY doc_id)""".stripMargin
}
