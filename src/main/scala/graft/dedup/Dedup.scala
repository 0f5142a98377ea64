package graft.dedup

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.ops.Pin
import graft.text.TextFunctions

/** Deduplication operators for large text corpora (SURVEY.md M11 +
  * the training-data-pipeline extensions).
  *
  * Scale design:
  *  - exact dedup is one hash-aggregate on a fixed-width digest
  *    (never shuffles raw text as the key);
  *  - MinHash/LSH turns all-pairs similarity (O(N²) — impossible at
  *    100 TB) into an equi-join on band keys: only documents sharing
  *    a band collide, and the band join is a plain shuffle join that
  *    AQE can handle skew on;
  *  - SimHash gives a 64-bit near-dup key that clusters by Hamming
  *    distance; bucketing on bit-prefixes is again an equi-join.
  *
  * All hash math is expressed with md5 (hex) column functions so the
  * exact same signatures are computable by any engine — which is how
  * the oracle validates them.
  */
object Dedup {

  /** Exact duplicate groups: digest → representative (min id) +
    * member count. Shuffles 16-byte digests, not documents.
    */
  def exactGroups(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs
      .select(col(idCol), TextFunctions.contentHash(col(textCol)).as("h"))
      .groupBy(col("h"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_dups"))

  /** Keep one representative row per exact text hash. */
  def dropExactDups(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val keep = exactGroups(docs, idCol, textCol)
      .select(col("keep_id").as(idCol))
    docs.join(keep, Seq(idCol), "left_semi")
  }

  import graft.ops.Exprs.bind

  /** w-shingles (word n-grams) as the near-dup unit. */
  def shingles(textCol: Column, w: Int = 3): Column =
    array_distinct(TextFunctions.ngramsFast(TextFunctions.tokens(textCol), w))

  /** One MinHash value: the lexicographic min of md5("seed:shingle")
    * over the doc's shingle set. Deterministic, engine-independent,
    * and a valid min-wise hash family (md5 is uniform on inputs).
    */
  def minhash(shingles: Column, seed: Int): Column =
    array_min(transform(shingles,
      sh => md5(concat(lit(s"$seed:"), sh))))

  /** k-value MinHash signature as array<string>. The shingle array
    * is bound once; seeds iterate inside the lambda.
    */
  def minhashSignature(shingles: Column, k: Int): Column =
    bind(shingles) { sh =>
      transform(sequence(lit(0), lit(k - 1)), seed =>
        array_min(transform(sh,
          x => md5(concat(seed.cast("string"), lit(":"), x)))))
    }

  /** Compiled kernel computing the exact signature of
    * [[minhashSignature]] — md5(s"$seed:$shingle") lowercase hex,
    * lexicographic min per seed — in one pass per row. The nested
    * transform/array_min expression is interpreted (no codegen for
    * higher-order functions) and dominated the LSH profile; here one
    * reused MessageDigest hashes each shingle k times and winners
    * are compared as unsigned bytes (hex order == unsigned byte
    * order), with only the k minima hex-formatted at the end.
    * DedupSpec asserts kernel == expression on real documents.
    */
  def minhashSignatureFast(shingles: Column, k: Int): Column =
    minhashSigUdf(k)(shingles)

  private def minhashSigUdf(k: Int) = udf { (sh: Seq[String]) =>
    // empty shingle set ⇒ k nulls, matching array_min([]) = null
    if (sh == null) null
    else minhashHex(sh, k, java.security.MessageDigest.getInstance("MD5"))
      .toSeq
  }

  /** The k per-seed minima of md5(s"$seed:$shingle") over `sh`, as
    * lowercase hex (null where `sh` has no non-null shingle) — the
    * shared core of both compiled kernels. Null shingles are skipped,
    * matching the expression form: md5(concat(seed, ':', null)) is
    * null and array_min ignores nulls.
    */
  private def minhashHex(sh: Seq[String], k: Int,
      digest: java.security.MessageDigest): Array[String] = {
    val shBytes = sh.iterator
      .map(x => if (x == null) null else x.getBytes("UTF-8")).toArray
    val mins = Array.ofDim[Array[Byte]](k)
    var s = 0
    while (s < k) {
      val prefix = (s.toString + ":").getBytes("UTF-8")
      var j = 0
      while (j < shBytes.length) {
        if (shBytes(j) != null) {
          digest.reset()
          digest.update(prefix)
          digest.update(shBytes(j))
          val d = digest.digest()
          if (mins(s) == null || unsignedLess(d, mins(s))) mins(s) = d
        }
        j += 1
      }
      s += 1
    }
    mins.map(m => if (m == null) null else m.map(b => f"$b%02x").mkString)
  }

  private def unsignedLess(a: Array[Byte], b: Array[Byte]): Boolean = {
    var i = 0
    while (i < a.length && i < b.length) {
      val ai = a(i) & 0xFF; val bi = b(i) & 0xFF
      if (ai != bi) return ai < bi
      i += 1
    }
    a.length < b.length
  }

  /** LSH banding: signature of k values split into `bands` bands of
    * `rowsPerBand` values; each band key is the md5 of its joined
    * values plus the band index. The signature is bound once.
    */
  def bandKeys(signature: Column, bands: Int, rowsPerBand: Int): Column =
    bind(signature) { sig =>
      array((0 until bands).map { b =>
        md5(concat(lit(s"band$b:"),
          array_join(slice(sig, b * rowsPerBand + 1, rowsPerBand), "|")))
      }: _*)
    }

  /** Compiled kernel fusing [[minhashSignatureFast]] and [[bandKeys]]
    * into one pass: shingles → k minhash hex strings → `bands` band
    * digests. Same bytes as composing the two (DedupSpec asserts it).
    * The composed expression form generated a Janino method large
    * enough that its one-time compile dominated the whole LSH
    * candidate query (~4 s at sf0.1 for 200 tiny docs); the fused
    * kernel's plan is a single small codegen stage.
    */
  def bandKeysFast(shingles: Column, k: Int, bands: Int): Column =
    bandKeysUdf(k, bands)(shingles)

  private def bandKeysUdf(k: Int, bands: Int) = udf { (sh: Seq[String]) =>
    // null shingle array: the expression form yields md5(null) per
    // band = an array of nulls (not a null array)
    if (sh == null) Seq.fill[String](bands)(null)
    else {
      val rowsPerBand = k / bands
      val digest = java.security.MessageDigest.getInstance("MD5")
      val hex = minhashHex(sh, k, digest)
      // band b = md5("band$b:" + array_join(slice(sig), "|")),
      // byte-for-byte like bandKeys' expression — array_join SKIPS
      // null elements, so an empty shingle set (all-null signature)
      // still produces a real (shared) band digest.
      (0 until bands).map { b =>
        val vals = (0 until rowsPerBand).map(i => hex(b * rowsPerBand + i))
          .filter(_ != null)
        digest.reset()
        digest.update((s"band$b:" + vals.mkString("|")).getBytes("UTF-8"))
        digest.digest().map(x => f"$x%02x").mkString
      }
    }
  }

  /** Candidate near-dup pairs: docs sharing at least one LSH band.
    * The self-join is an equi-join on the exploded band key —
    * at scale this is the only join shape that works.
    */
  def lshCandidates(docs: DataFrame, idCol: String, textCol: String,
      w: Int = 3, k: Int = 8, bands: Int = 4): DataFrame = {
    // Materialize (id, bands) BEFORE the explode: InferFiltersFromGenerate
    // plants `size(bands) > 0 AND isnotnull(bands)` under the Generate,
    // and CollapseProject substitutes the whole shingle+minhash pipeline
    // into that filter — evaluated interpreted, per conjunct, per row
    // (measured 3 s vs 0.2 s on 200 sf0.1 docs). Caching the column
    // first makes the inferred filter read a cached value. Also: both
    // sides of the self-join read this, so it is filled once before
    // the self-join races it.
    val sigs = Pin.cache(docs
      .select(col(idCol),
        bandKeysFast(shingles(col(textCol), w), k, bands).as("bands")),
      eager = true)
    val keyed = sigs.select(col(idCol), explode(col("bands")).as("band"))
    val a = keyed.select(col("band"), col(idCol).as("id_a"))
    val b = keyed.select(col("band"), col(idCol).as("id_b"))
    Pin.untilUsed(a.join(b, "band")
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"))
      .distinct(), sigs)
  }

  /** Exact Jaccard similarity on shingle sets for candidate pairs —
    * the verification stage after LSH (run on candidates only, never
    * all pairs).
    */
  def jaccardOnCandidates(docs: DataFrame, candidates: DataFrame,
      idCol: String, textCol: String, w: Int = 3): DataFrame = {
    // cached: joined twice (id_a and id_b sides)
    val sh = Pin.cache(
      docs.select(col(idCol), shingles(col(textCol), w).as("sh")))
    val a = sh.select(col(idCol).as("id_a"), col("sh").as("sh_a"))
    val b = sh.select(col(idCol).as("id_b"), col("sh").as("sh_b"))
    Pin.untilUsed(candidates.join(a, "id_a").join(b, "id_b")
      .withColumn("inter", size(array_intersect(col("sh_a"), col("sh_b"))))
      .withColumn("uni", size(array_union(col("sh_a"), col("sh_b"))))
      .withColumn("jaccard",
        round(col("inter") / col("uni").cast("double"), 4))
      .select(col("id_a"), col("id_b"), col("inter"), col("uni"),
        col("jaccard")), sh)
  }

  /** SimHash over tokens, 60 bits derived from md5 nibbles (15 hex
    * chars → 60 bits, keeping the value positive in a 64-bit long).
    * Each token occurrence votes ±1 per bit; bit i of the result is
    * 1 iff the vote sum is positive. bit i of a token = bit (i%4) of
    * hex nibble (i/4) of md5(token).
    *
    * Served by the native codegen expression
    * [[graft.expressions.SimHash60]] — token bytes are hashed
    * straight out of the unsafe array, no per-row Seq[String]
    * materialization. The UDF kernel below is kept as the
    * reference implementation (DedupSpec asserts equality); the
    * semantics are hex-arithmetic on md5, so any engine can
    * recompute them.
    */
  def simhash60(toks: Column): Column = {
    import org.apache.spark.sql.GraftShim
    GraftShim.column(graft.expressions.SimHash60(GraftShim.expression(toks)))
  }

  /** UDF form (reference kernel for specs/benchmarks). */
  private[graft] def simhash60Udf(toks: Column): Column = simhashUdf(toks)

  private val simhashUdf = udf { (toks: Seq[String]) =>
    if (toks == null) 0L
    else {
      val votes = new Array[Int](60)
      val digest = java.security.MessageDigest.getInstance("MD5")
      toks.foreach { t =>
        digest.reset()
        val d = digest.digest(t.getBytes("UTF-8"))
        // nibble p of the hex string = high/low half of byte p/2 —
        // read it straight from the bytes (hex-string formatting per
        // token dominated the sf0.1 profile)
        var i = 0
        while (i < 60) {
          val p = i / 4
          val nib =
            if ((p & 1) == 0) (d(p >> 1) >> 4) & 0xF else d(p >> 1) & 0xF
          votes(i) += (if (((nib >> (i % 4)) & 1) == 1) 1 else -1)
          i += 1
        }
      }
      (0 until 60).map(i => if (votes(i) > 0) 1L << i else 0L).sum
    }
  }

  /** Hamming distance between two simhash values — the near-dup
    * distance for clustering/bucketing simhashes.
    */
  def hammingDist(a: Column, b: Column): Column =
    bit_count(a.bitwiseXOR(b))

  /** Multi-table SimHash near-pair search: candidates are generated
    * from `tables` different 15-bit windows of the 60-bit simhash
    * (window t = bits [45-15t, 60-15t)), unioned, then Hamming-
    * filtered exactly. A single-prefix bucketing misses any pair
    * whose differing bits all land inside the prefix; with t tables
    * a pair is missed only if every window contains a differing bit —
    * for Hamming distance d < tables at least one window must be
    * clean, so recall is total for d < tables and rises sharply for
    * moderate d (the standard simhash multi-table trade: t× the
    * bucketing state for recall).
    *
    * Each table's candidate set is an equi-join on its bucket key —
    * the all-pairs product never materializes, same as
    * [[lshCandidates]].
    */
  def simhashNearPairs(df: DataFrame, idCol: String, simCol: String,
      tables: Int = 2, maxHamming: Int = 20): DataFrame =
    bandedHammingPairs(df, idCol, simCol, totalBits = 60, width = 15,
      tables = tables, maxHamming = maxHamming)

  /** Generalized multi-table Hamming bucketing over any fixed-width
    * hash column (simhash, image perceptual hash, …): window t is
    * the `width`-bit slice at bits
    * [totalBits - width*(t+1), totalBits - width*t). Recall is total
    * for Hamming distance < `tables` (pigeonhole: fewer differing
    * bits than windows means one window is clean) — callers wanting
    * a guaranteed-exact result set `maxHamming <= tables - 1`, which
    * is how q145 keeps an all-pairs oracle honest. Same scale shape
    * as [[simhashNearPairs]]: per-table equi-joins on the bucket
    * key; the all-pairs product never materializes.
    */
  def bandedHammingPairs(df: DataFrame, idCol: String, simCol: String,
      totalBits: Int, width: Int, tables: Int,
      maxHamming: Int): DataFrame = {
    require(tables >= 1 && width * tables <= totalBits,
      s"$tables ${width}-bit tables must fit $totalBits bits")
    // cached: every table's self-join reads (id, hash)
    val sims = Pin.cache(df.select(col(idCol), col(simCol)), eager = true)
    val perTable = (0 until tables).map { t =>
      val bucket = shiftright(col(simCol), totalBits - width * (t + 1))
        .bitwiseAND(lit((1L << width) - 1))
      val keyed = sims.withColumn("__bucket", bucket)
      val a = keyed.select(col("__bucket"), col(idCol).as("id_a"),
        col(simCol).as("sim_a"))
      val b = keyed.select(col("__bucket"), col(idCol).as("id_b"),
        col(simCol).as("sim_b"))
      a.join(b, "__bucket")
        .filter(col("id_a") < col("id_b"))
        .select(col("id_a"), col("id_b"), col("sim_a"), col("sim_b"))
    }
    val out = perTable.reduce(_.unionByName(_)).distinct()
      .withColumn("hamming", hammingDist(col("sim_a"), col("sim_b")))
      .filter(col("hamming") <= maxHamming)
      .select(col("id_a"), col("id_b"), col("hamming"))
    Pin.untilUsed(out, sims)
  }

  /** Exact-substring duplicate spans (the token-window form of
    * suffix-based substring dedup): every `n`-token rolling window
    * is hashed, and a window is a duplicate span iff the same
    * window hash occurs in ≥ 2 distinct documents. Returns per-doc
    * `(id, n_windows, n_dup_windows, dup_ratio)` for docs with at
    * least one duplicated span.
    *
    * Scale shape: ONE scan — explode → partial+final count per
    * (window hash, doc) → window `count(*) over (partition by hash)`
    * for the distinct-doc count (each row is one distinct doc after
    * the aggregate) → per-doc aggregate. Shuffle payload is
    * (16-byte digest, id, count) triples, never window text, and no
    * join side to broadcast (a per-window-hash map would not fit a
    * broadcast at corpus scale; the join-based form also rescans the
    * corpus twice). A window shared by very many docs (boilerplate)
    * makes a hot hash partition — AQE skew handling or pre-capping
    * windows with a `__cnt` ceiling addresses it. `n` plays the same
    * role as the 50-token threshold in suffix-array substring dedup:
    * longer windows → fewer, more meaningful matches.
    *
    * RECALL CONTRACT (what token windows cannot see): a shared
    * passage is detected iff it survives tokenization identically in
    * both documents AND spans ≥ `n` consecutive tokens. Misses, by
    * construction: (a) real duplicates shorter than `n` tokens —
    * lower `n` to trade noise for recall; (b) passages whose
    * whitespace/punctuation tokenize differently between copies
    * (token windows are not byte windows — a byte-level k-gram
    * variant closes this at k× the explode volume); (c) a suffix-
    * array's maximal-match EXTENTS — this reports which windows are
    * shared, not the longest shared substring. These are the
    * standard trades of hashed-window (winnowing-family) substring
    * dedup vs true suffix automata; see SCALE.md §q106.
    */
  def duplicateSpans(docs: DataFrame, idCol: String, textCol: String,
      n: Int = 13): DataFrame = {
    // ONE explicit shuffle on the digest serves BOTH the (digest,
    // doc) aggregate (ClusteredDistribution on a superset of the
    // partitioning key) and the distinct-doc count window — window
    // hashes are near-unique, so a pre-shuffle partial aggregate
    // would reduce almost nothing and the groupBy's own exchange
    // would just re-move the same volume a second time.
    val perHashDoc = docs.select(col(idCol),
        explode(TextFunctions.ngramsFast(
          TextFunctions.tokens(col(textCol)), n)).as("__w"))
      .select(col(idCol), md5(col("__w")).as("__h"))
      .repartition(col("__h"))
      .groupBy(col("__h"), col(idCol))
      .agg(count(lit(1)).as("__cnt"))
    val nd = org.apache.spark.sql.expressions.Window.partitionBy(col("__h"))
    perHashDoc
      .withColumn("__ndocs", count(lit(1)).over(nd))
      .groupBy(col(idCol))
      .agg(sum(col("__cnt")).as("n_windows"),
        sum(when(col("__ndocs") > 1, col("__cnt")).otherwise(0L))
          .as("n_dup_windows"))
      .filter(col("n_dup_windows") > 0)
      .withColumn("dup_ratio",
        round(col("n_dup_windows") / col("n_windows").cast("double"), 4))
  }

  /** Maximal duplicate-span EXTENTS — the form exact-substring
    * dedup (Lee et al. 2022, "Deduplicating Training Data Makes
    * Language Models Better") actually REMOVES: where
    * [[duplicateSpans]] reports how many n-token windows of a doc
    * are shared, this merges the duplicated windows' token COVERAGE
    * into maximal per-doc spans — the union of [p, p+n−1] ranges
    * over duplicated window starts p, adjacent-or-overlapping
    * ranges (next start ≤ prev start + n) coalesced. Output one row
    * per span: (id, span_start, span_end, span_tokens), 1-based
    * inclusive token positions, ordered (id, span_start) — the cut
    * list a remover applies verbatim.
    *
    * A window is duplicated iff its hash occurs in ≥ 2 DISTINCT
    * docs, read per row as `count over (hash) > count over (hash,
    * doc)` — two bounded windows on the SAME digest exchange
    * [[duplicateSpans]] already pays, no join back to the corpus
    * and no second scan. Span assembly is gaps-and-islands per doc:
    * the islands window partitions by doc id (doc-length-bounded);
    * nothing global. Same recall contract as [[duplicateSpans]].
    */
  def duplicateSpanExtents(docs: DataFrame, idCol: String,
      textCol: String, n: Int = 13): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = docs.select(col(idCol),
        posexplode(TextFunctions.ngramsFast(
          TextFunctions.tokens(col(textCol)), n)))
      .select(col(idCol), (col("pos") + 1).as("pos"),
        md5(col("col")).as("__h"))
      .repartition(col("__h"))
    val ch = Window.partitionBy(col("__h"))
    val chd = Window.partitionBy(col("__h"), col(idCol))
    val dup = w
      .withColumn("__ct", count(lit(1)).over(ch))
      .withColumn("__cd", count(lit(1)).over(chd))
      .filter(col("__ct") > col("__cd"))
      .select(col(idCol), col("pos"))
    val byDoc = Window.partitionBy(col(idCol)).orderBy(col("pos"))
    dup
      .withColumn("__new",
        when(col("pos") - lag(col("pos"), 1).over(byDoc) > n, 1)
          .otherwise(0))
      .withColumn("__isl", sum(col("__new")).over(
        byDoc.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy(col(idCol), col("__isl"))
      .agg(min(col("pos")).cast("long").as("span_start"),
        (max(col("pos")) + n - 1).cast("long").as("span_end"))
      .withColumn("span_tokens",
        col("span_end") - col("span_start") + 1L)
      .select(col(idCol), col("span_start"), col("span_end"),
        col("span_tokens"))
      .orderBy(col(idCol), col("span_start"))
  }

  /** Span-level KEEPER selection — the removal decision exact-
    * substring dedup (Lee et al. 2022) applies after
    * [[duplicateSpanExtents]] locates the spans: every duplicated
    * `n`-token window keeps exactly ONE occurrence corpus-wide (its
    * lexicographically first (doc, position) — deterministic on any
    * partitioning, the [[keepFirstParagraphs]] rule at window
    * granularity) and CUTS all others. Occurrences merge into
    * maximal per-doc spans separately by verdict; output one row per
    * span: (id, span_start, span_end, span_tokens, keep), 1-based
    * inclusive token positions — `keep = false` rows are the cut
    * list a remover applies verbatim, `keep = true` rows are the
    * surviving canonical copies (which the remover must NOT touch
    * where the two overlap).
    *
    * Duplication here is TOTAL occurrence count ≥ 2 — intra-doc
    * repeats count, unlike [[duplicateSpanExtents]]'s ≥ 2 distinct
    * docs — because the keeper guarantee ("after the cuts, no
    * n-window occurs twice on its original positions") needs every
    * repeat, wherever it lives, to lose all but one copy
    * (DedupSpec pins exactly that post-cut property).
    *
    * Scale shape identical to [[duplicateSpanExtents]]: one explode,
    * one digest exchange serving both per-hash windows (count +
    * keeper min-struct), islands per (doc, verdict) — doc-length-
    * bounded; nothing global, no join back to the corpus.
    */
  def duplicateSpanCuts(docs: DataFrame, idCol: String,
      textCol: String, n: Int = 13): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = docs.select(col(idCol),
        posexplode(TextFunctions.ngramsFast(
          TextFunctions.tokens(col(textCol)), n)))
      .select(col(idCol), (col("pos") + 1).as("pos"),
        md5(col("col")).as("__h"))
      .repartition(col("__h"))
    val ch = Window.partitionBy(col("__h"))
    val dup = w
      .withColumn("__ct", count(lit(1)).over(ch))
      .withColumn("__k", min(struct(col(idCol), col("pos"))).over(ch))
      .filter(col("__ct") > 1)
      .withColumn("keep",
        col(idCol) === col("__k")(idCol) && col("pos") === col("__k")("pos"))
      .select(col(idCol), col("pos"), col("keep"))
    val byVerdict = Window.partitionBy(col(idCol), col("keep"))
      .orderBy(col("pos"))
    dup
      .withColumn("__new",
        when(col("pos") - lag(col("pos"), 1).over(byVerdict) > n, 1)
          .otherwise(0))
      .withColumn("__isl", sum(col("__new")).over(
        byVerdict.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy(col(idCol), col("keep"), col("__isl"))
      .agg(min(col("pos")).cast("long").as("span_start"),
        (max(col("pos")) + n - 1).cast("long").as("span_end"))
      .withColumn("span_tokens",
        col("span_end") - col("span_start") + 1L)
      .select(col(idCol), col("span_start"), col("span_end"),
        col("span_tokens"), col("keep"))
      .orderBy(col(idCol), col("span_start"), col("keep"))
  }

  /** Cross-corpus n-gram-overlap contamination report (the GPT-3 /
    * PaLM decontamination method: a training doc is contaminated to
    * the degree its `n`-token windows appear anywhere in the
    * benchmark corpus). Complements [[lshCandidatesAcross]] (set
    * resemblance) and exact-hash decontam: window overlap catches
    * partial containment — a benchmark question quoted inside a
    * larger page — that whole-doc signatures dilute away. Returns
    * (id, n_windows, n_hit, hit_frac) for train docs with ≥ 1
    * benchmark window.
    *
    * Scale shape: the benchmark side reduces to DISTINCT window
    * digests (benchmark-bounded, broadcastable); the training
    * corpus streams map-side through explode → digest → broadcast
    * left join → per-doc aggregate. ONE train-side shuffle (the
    * per-doc aggregate of (id, flag) pairs); window text never
    * shuffles. For a benchmark too large to broadcast the same plan
    * becomes a shuffle equi-join on the digest — never a doc×doc
    * product.
    */
  def ngramOverlapAcross(train: DataFrame, bench: DataFrame,
      idCol: String, textCol: String, n: Int = 13): DataFrame = {
    def windows(df: DataFrame) = df.select(col(idCol),
        explode(TextFunctions.ngramsFast(
          TextFunctions.tokens(col(textCol)), n)).as("__w"))
      .select(col(idCol), md5(col("__w")).as("__h"))
    val benchH = broadcast(
      windows(bench).select(col("__h")).distinct()
        .withColumn("__hit", lit(1L)))
    windows(train)
      .join(benchH, Seq("__h"), "left")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_windows"),
        sum(coalesce(col("__hit"), lit(0L))).as("n_hit"))
      .filter(col("n_hit") > 0)
      .withColumn("hit_frac",
        round(col("n_hit") / col("n_windows").cast("double"), 4))
  }

  /** The offline artifact for streaming decontamination: the
    * benchmark's distinct window digests as a driver-side set.
    * DELIBERATELY bounded the way [[graft.feature.NaiveBayes
    * .fitCompact]]'s collect is: a benchmark/holdout corpus is small
    * by contract (that is what makes it the broadcast side of
    * [[ngramOverlapAcross]] too); a training corpus must never pass
    * through here.
    */
  def windowDigestSet(bench: DataFrame, textCol: String,
      n: Int = 13): Set[String] =
    bench.select(explode(TextFunctions.ngramsFast(
        TextFunctions.tokens(col(textCol)), n)).as("__w"))
      .select(md5(col("__w")).as("__h")).distinct()
      .collect().map(_.getString(0)).toSet

  /** Cross-corpus LSH contamination candidates: pairs (left id,
    * right id) whose MinHash band keys collide — the two-table form
    * of [[lshCandidates]], e.g. training corpus × benchmark set.
    *
    * The right side is expected to be the small one (a benchmark /
    * holdout set) and is broadcast, so the big left corpus streams
    * through map-side with NO shuffle at all — the shape that lets a
    * decontamination pass ride along with a scan at 100 TB. For two
    * large corpora, pass `broadcastRight = false` and the same plan
    * becomes a shuffle equi-join on the band key.
    */
  def lshCandidatesAcross(left: DataFrame, right: DataFrame,
      idCol: String, textCol: String,
      w: Int = 3, k: Int = 8, bands: Int = 4,
      broadcastRight: Boolean = true): DataFrame = {
    def sigs(d: DataFrame, as: String) = d.select(col(idCol).as(as),
      minhashSignatureFast(shingles(col(textCol), w), k).as("__sig"))
    lshCandidatesFromSigs(sigs(left, "left_id"), "left_id",
      sigs(right, "right_id"), "right_id", "__sig", k, bands,
      broadcastRight)
  }

  /** [[lshCandidatesAcross]] over PRECOMPUTED minhash signature
    * tables. A decontamination pass usually needs the signatures
    * again right after candidate generation (to rank candidates by
    * estimated Jaccard), so computing them once, persisting, and
    * deriving the band keys from the signature (a cheap md5 over k
    * hex strings — [[bandKeys]]) halves the expensive shingle→k-hash
    * kernel work versus hashing the text twice.
    */
  def lshCandidatesFromSigs(leftSigs: DataFrame, leftId: String,
      rightSigs: DataFrame, rightId: String, sigCol: String,
      k: Int, bands: Int, broadcastRight: Boolean = true): DataFrame = {
    def banded(d: DataFrame, idc: String) = d.select(col(idc),
      explode(bandKeys(col(sigCol), bands, k / bands)).as("band"))
    val rightBanded = banded(rightSigs, rightId)
    // broadcastRight = false is the two-large-corpora mode: no hint,
    // so the band-key equi-join shuffles both sides (AQE still
    // promotes it back to broadcast if the right side turns out small).
    val r = if (broadcastRight) broadcast(rightBanded) else rightBanded
    banded(leftSigs, leftId)
      .join(r, "band")
      .select(col(leftId), col(rightId))
      .distinct()
  }

  /** Keep-first paragraph dedup — the C4 rule: every repeated
    * paragraph keeps ONLY its first occurrence corpus-wide (first =
    * smallest (id, position)), unlike [[stripHotParagraphs]] which
    * drops every occurrence once a threshold is crossed. The rule is
    * order-dependent, which is exactly what makes it deterministic:
    * the same corpus always keeps the same occurrences, on any
    * partitioning.
    *
    * Output: (idCol, n_paras, n_kept, clean), `clean` re-joined from
    * the kept occurrences in original order (empty string when every
    * paragraph appeared earlier).
    *
    * Scale shape: the global keep-or-drop decision never touches
    * paragraph text — occurrences shuffle as (16-byte md5, id, pos)
    * triples, winners are one hash-aggregate (min struct) on the
    * digest, and the winner join is digest-keyed. Text moves exactly
    * once: the per-doc kept-position arrays (ints) join back to the
    * document table on the id — the one corpus shuffle any
    * re-association of a global verdict with its documents costs.
    * Digest collisions (~1e-18 per pair at md5 width) would merge
    * two distinct paragraphs' occurrence lists; acceptable for
    * dedup, same trade as [[exactGroups]].
    */
  def keepFirstParagraphs(docs: DataFrame, idCol: String, textCol: String,
      sep: String = "\n"): DataFrame = {
    val paras = split(col(textCol), java.util.regex.Pattern.quote(sep))
    val occ = docs
      .select(col(idCol), posexplode(paras).as(Seq("__pos0", "__p")))
      .select(col(idCol), (col("__pos0") + 1).as("__pos"),
        md5(col("__p")).as("__dig"))
    val winners = occ
      .groupBy(col("__dig"))
      .agg(min(struct(col(idCol), col("__pos"))).as("__w"))
      .select(col("__dig"), col("__w")(idCol).as("__wid"),
        col("__w")("__pos").as("__wpos"))
    val keeps = occ.join(winners, "__dig")
      .filter(col(idCol) === col("__wid") && col("__pos") === col("__wpos"))
      .groupBy(col(idCol))
      .agg(sort_array(collect_list(col("__pos"))).as("__keep"))
    docs.join(keeps, Seq(idCol), "left")
      .select(col(idCol),
        size(paras).cast("long").as("n_paras"),
        coalesce(size(col("__keep")), lit(0)).cast("long").as("n_kept"),
        array_join(filter(paras, (p, i) =>
          array_contains(coalesce(col("__keep"), typedLit(Seq.empty[Int])),
            i + 1)), sep).as("clean"))
  }

  /** Boilerplate paragraph removal — the line-level dedup step of
    * CCNet/RefinedWeb-style curation: any paragraph (a `sep`-
    * delimited segment of `textCol`) that appears in at least
    * `minDocs` distinct documents is corpus-wide boilerplate (cookie
    * banners, navigation, footers) and is stripped from every
    * document in place.
    *
    * Output: (idCol, n_paras, n_removed, clean) with `clean` the
    * document re-joined from its surviving paragraphs in original
    * order.
    *
    * Scale shape: pass 1 explodes paragraphs but shuffles only their
    * 16-byte md5 digests (the digest-not-text rule) to count
    * distinct docs per paragraph; the surviving hot set is bounded
    * by the amount of distinct boilerplate in the corpus — small by
    * nature, independent of corpus size — so it collapses into a
    * single array row that broadcasts to pass 2, which filters each
    * document's paragraph array in place with NO second shuffle and
    * no join on text. If the hot set ever outgrew a broadcast, the
    * fallback is a broadcast Bloom filter over the digests (the
    * decontamination idiom in pipeline.Pipelines.bloomDecontaminate).
    */
  def stripHotParagraphs(docs: DataFrame, idCol: String, textCol: String,
      minDocs: Long, sep: String = "\n"): DataFrame =
    stripParagraphsByDigest(docs.select(col(idCol), col(textCol)),
      textCol, hotParagraphDigests(docs, idCol, textCol, minDocs, sep), sep)
      .select(col(idCol), col("n_paras"), col("n_removed"),
        col(textCol).as("clean"))

  /** Pass 1 of [[stripHotParagraphs]], exposed for lambda-style
    * pipelines: the digests (single column `dig`) of every paragraph
    * appearing in at least `minDocs` distinct documents. A batch
    * aggregation — run it over the historical corpus, persist it,
    * and feed it to [[stripParagraphsByDigest]] (batch) or
    * [[graft.streaming.Streams.stripBoilerplateStream]] (ingestion).
    */
  def hotParagraphDigests(docs: DataFrame, idCol: String, textCol: String,
      minDocs: Long, sep: String = "\n"): DataFrame =
    docs
      .select(col(idCol),
        explode(split(col(textCol),
          java.util.regex.Pattern.quote(sep))).as("__p"))
      .groupBy(md5(col("__p")).as("dig"))
      .agg(countDistinct(col(idCol)).as("__nd"))
      .filter(col("__nd") >= minDocs)
      .select(col("dig"))

  /** Pass 2 of [[stripHotParagraphs]]: strip every paragraph whose
    * md5 is in `hotDigests` (single string column), IN PLACE —
    * `textCol` is replaced by the cleaned text and (n_paras,
    * n_removed) are appended; all other input columns pass through.
    *
    * Contains no aggregation or shuffle of `docs` itself: the hot
    * set collapses to one broadcast row and attaches by a
    * constant-key broadcast equi-join, so `docs` may be an unbounded
    * STREAM (stream-static joins are stateless) just as well as a
    * batch table — this is the streaming boilerplate filter's whole
    * body.
    */
  def stripParagraphsByDigest(docs: DataFrame, textCol: String,
      hotDigests: DataFrame, sep: String = "\n"): DataFrame = {
    val paras = split(col(textCol), java.util.regex.Pattern.quote(sep))
    val hot = hotDigests.select(col(hotDigests.columns.head).as("__dig"))
      .agg(collect_list(col("__dig")).as("__hot"))
      .withColumn("__k", lit(1))
    docs.withColumn("__k", lit(1))
      .join(broadcast(hot), Seq("__k"))
      .withColumn("n_paras", size(paras).cast("long"))
      .withColumn("n_removed",
        size(filter(paras, p => array_contains(col("__hot"), md5(p))))
          .cast("long"))
      .withColumn(textCol,
        array_join(filter(paras,
          p => !array_contains(col("__hot"), md5(p))), sep))
      .drop("__hot", "__k")
  }

  /** Fuzzy dedup by BLOCKED edit distance — the record-linkage
    * classic for near-identical documents that differ by a handful
    * of character edits (OCR noise, trailing boilerplate, version
    * suffixes), where shingle-set similarity is blunt: MinHash sees
    * two 500-char texts differing by 4 chars as ~equally similar to
    * ones differing by 40.
    *
    * Scale shape: all-pairs Levenshtein is O(N²·len²) — impossible.
    * Blocking on a digest of the first `blockPrefix` chars turns it
    * into an equi-join where only same-prefix documents ever meet
    * (the standard recall contract: edits INSIDE the prefix escape
    * the block, exactly like an LSH band miss), and the THRESHOLDED
    * distance bounds per-pair cost: Spark's 3-arg `levenshtein`
    * runs the banded DP in O(maxDist·len) and answers -1 beyond the
    * threshold instead of filling the full matrix. Block skew from
    * boilerplate-heavy corpora (many docs sharing one prefix) is a
    * skewed shuffle join — AQE skew-split territory; raise
    * `blockPrefix` when prefixes are template-dominated.
    */
  def editDistancePairs(docs: DataFrame, idCol: String, textCol: String,
      blockPrefix: Int = 40, maxDist: Int = 8): DataFrame = {
    val keyed = docs.select(col(idCol).as("__id"), col(textCol).as("__t"))
      .withColumn("__bk", md5(substring(col("__t"), 1, blockPrefix)))
    val a = keyed.select(col("__bk"), col("__id").as("id_a"),
      col("__t").as("__ta"))
    val b = keyed.select(col("__bk"), col("__id").as("id_b"),
      col("__t").as("__tb"))
    a.join(b, Seq("__bk"))
      .filter(col("id_a") < col("id_b"))
      .withColumn("dist", levenshtein(col("__ta"), col("__tb"), maxDist))
      .filter(col("dist") >= 0)
      .select(col("id_a"), col("id_b"), col("dist").cast("long").as("dist"))
  }

  /** Sorted-neighborhood near-dup pairs (Hernández & Stolfo 1995) —
    * the FOURTH blocking family beside exact-prefix digests
    * ([[editDistancePairs]]), LSH bands and PPJoin prefixes: sort
    * the corpus once by a semantic key (leading `keyLen` chars,
    * id-tiebroken — a total order), then compare each record only
    * against its next `window−1` sort neighbors, Jaccard-verified
    * on shingle sets with the integer threshold math of
    * [[SetJoin]]. Candidate count is EXACTLY `(window−1)·n` — the
    * linear-cost method record linkage reaches for when key skew
    * makes equality blocks explode; the price is recall bounded by
    * the window (a pair whose keys sort far apart is missed, by
    * documented contract — LSH covers that regime).
    *
    * Scale shape: one distributed sort (range-partitioned, the
    * gapless `zipWithIndex` op — no single-partition row_number),
    * one ≤(window−1)-wide index explode, one id-keyed equi-join.
    * Shingle arrays shuffle once; text never does.
    */
  def sortedNeighborhoodPairs(docs: DataFrame, idCol: String,
      textCol: String, keyLen: Int = 40, window: Int = 8,
      tNum: Int = 3, tDen: Int = 5): DataFrame = {
    require(window >= 2,
      s"window must be >= 2 (window-1 sort neighbors per record); got $window")
    val keyed = docs.select(col(idCol), col(textCol))
      .withColumn("__sk", substring(col(textCol), 1, keyLen))
    // filled now: referenced by both sides of the join
    val idx = Pin.cache(graft.ops.Relational
      .zipWithIndex(keyed, "__ix", Seq(col("__sk"), col(idCol)))
      .withColumn("__sh", shingles(col(textCol), 3))
      .select(col("__ix"), col(idCol).as("__id"), col("__sh"),
        size(col("__sh")).as("__l")), eager = true)
    val probes = idx.select(col("__ix"), col("__id").as("__ida"),
        col("__sh").as("__sa"), col("__l").as("__la"),
        explode(sequence(col("__ix") + 1,
          col("__ix") + (window - 1))).as("__ib"))
    Pin.untilUsed(probes
      .join(idx.select(col("__ix").as("__ib"), col("__id").as("__idb"),
        col("__sh").as("__sb"), col("__l").as("__lb")), "__ib")
      .withColumn("inter",
        size(array_intersect(col("__sa"), col("__sb"))).cast("long"))
      .withColumn("uni",
        (col("__la") + col("__lb")).cast("long") - col("inter"))
      .filter(col("inter") * tDen >= col("uni") * tNum)
      .select(least(col("__ida"), col("__idb")).as("id_a"),
        greatest(col("__ida"), col("__idb")).as("id_b"),
        col("inter"), col("uni"),
        expr("inter * 1000000 div uni").as("jacc_e6"))
      .orderBy(col("id_a"), col("id_b")), idx)
  }
}
