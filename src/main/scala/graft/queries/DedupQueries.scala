package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.dedup.{Dedup, Registry}
import graft.io.Tables.table
import graft.ops.Pin
import graft.similarity.Ann
import graft.text.{TextFunctions => T, Winnow}

/** Deduplication + similarity-search surface (SURVEY.md M11 and the
  * LLM-pipeline extensions): exact dedup, MinHash+LSH, Jaccard
  * verification, SimHash, brute-force and LSH-bucketed ANN.
  *
  * The dedup queries deterministically inject duplicates (re-adding
  * low-id docs under shifted ids) — the oracle does the same, so the
  * check is real. Larger scale factors also carry natural exact
  * duplicates (8 groups at sf0.1), so the oracles compute the dedup
  * for real rather than assuming a dup-free base table.
  */
object DedupQueries extends QueryPack {
  import Fragments.{bandSql, cosineCte, minhashSql, shingles, toks}

  /** documents ∪ copies of doc_id<50 shifted by +100000. */
  private def withInjectedDups(s: SparkSession, dir: String): DataFrame = {
    val d = table(s, dir, "documents").select(col("doc_id"), col("text"),
      col("lang"))
    d.unionByName(
      d.filter(col("doc_id") < 50)
        .withColumn("doc_id", col("doc_id") + 100000L))
  }

  /** q44/q45/q102 share the LSH candidate pairs over the same doc
    * slice, so the minhash+banding self-join runs once per session.
    * The result is tiny (candidate pairs), so it is pinned.
    */
  private[queries] val lshCands = FitStore.slot((s, dir) =>
    FitStore.pinned(Dedup.lshCandidates(table(s, dir, "documents")
      .filter(col("doc_id") < 200), "doc_id", "text")))

  /** q89, q113 and PipelineQueries (q95/q134 components, q139) share
    * the multiprobe SimHash near-pair edges over the full documents
    * table, so the simhash + two band self-joins run once.
    */
  private[queries] val simhashPairs = FitStore.slot { (s, dir) =>
    val sims = table(s, dir, "documents")
      .select(col("doc_id"),
        Dedup.simhash60(graft.text.TextFunctions.tokens(col("text")))
          .as("simhash"))
    FitStore.pinned(Dedup.simhashNearPairs(sims, "doc_id", "simhash",
      tables = 2, maxHamming = 20))
  }

  /** documents ∪ near-variant copies: every 7th doc re-appears at
    * +200000 with a 4-char suffix — edit distance 4 from its source,
    * far outside exact-dup reach, inside `maxDist`.
    */
  private def withNearVariants(s: SparkSession, dir: String): DataFrame = {
    val d = table(s, dir, "documents").select(col("doc_id"), col("text"))
    d.unionByName(
      d.filter(col("doc_id") % 7 === 0)
        .withColumn("text", concat(col("text"), lit(" nd"),
          (col("doc_id") % 4).cast("string")))
        .withColumn("doc_id", col("doc_id") + 200000L))
  }

  /** `d` ∪ ' zz yy'-suffixed copies of doc_id<40 under id+300001
    * (the +1 pushes each copy into the NEXT batch cycle so
    * near-matches genuinely cross the batch boundary).
    */
  private def withZzCopies(d: DataFrame): DataFrame =
    d.unionByName(d.filter(col("doc_id") < 40)
      .select((col("doc_id") + 300001L).as("doc_id"),
        concat(col("text"), lit(" zz yy")).as("text")))

  /** The registry demo replay (q237, q241, q242, q249): a fresh
    * `lane` registry at `$tmpdir/<dirName>/<tag>`, then `corpus`
    * ingested IN ORDER as 3 batches by `idCol % 3`. Output one row per
    * batch: (batch_no, n_in, n_kept).
    */
  private[queries] def laneReplay(s: SparkSession, dir: String,
      lane: Registry.Lane, name: String, dirName: String,
      corpus: DataFrame, idCol: String, srcCol: String): DataFrame = {
    val tag = java.lang.Integer.toHexString(dir.hashCode)
    val reg = s"${name}_$tag"
    Registry.create(s, lane, reg,
      s"${System.getProperty("java.io.tmpdir")}/$dirName/$tag", buckets = 8)
    val rows = (0 until 3).map { b =>
      val batch = corpus.filter(col(idCol) % 3 === b)
      val nIn = batch.count()
      (b, nIn,
        keptCount(Registry.ingest(s, lane, reg, batch, idCol, srcCol, b)))
    }
    import s.implicits._
    rows.toDF("batch_no", "n_in", "n_kept")
      .select(col("batch_no").cast("int"), col("n_in"), col("n_kept"))
      .orderBy(col("batch_no"))
  }

  /** The row count of a registry ingest's survivors, then their cut
    * released.
    */
  private[queries] def keptCount(kept: DataFrame): Long =
    try kept.count() finally Pin.release(kept)

  /** q174/q176 share one (exact, approx) ANN ranking pair, so the
    * cosine baseline and the LSH pass each run once per session, and
    * both meters provably measure the same ranking.
    */
  private val annMeterLists = FitStore.slot { (s, dir) =>
    val emb = table(s, dir, "embeddings")
    val exact = FitStore.pinned(Ann.cosineTopK(emb,
      emb.filter(col("vec_id") < 20), "vec_id", "embedding", 5))
    val approx = FitStore.pinned(Ann.lshTopK(emb, "vec_id", "embedding",
      planes = 8, k = 5).filter(col("query_id") < 20))
    (exact, approx)
  }

  def defs: Map[String, (SparkSession, String) => DataFrame] = Map(
    // EXACT set-similarity join by prefix filtering (dedup.SetJoin)
    // — the no-false-negatives complement to the MinHash-LSH pairs
    // (q44): every shingle-Jaccard >= 3/5 pair over the near-variant
    // corpus, from an equi-join on rare-first prefix shingles only.
    // Shingle sets, not whole-doc token sets: the salad vocabulary
    // is ~40 words, so token sets saturate and mark 75% of ALL
    // pairs similar; shingles keep only the planted variants.
    // SetJoinSpec proves exactness against brute force.
    "q183_set_join" -> ((s, dir) => {
      graft.dedup.SetJoin.jaccardJoin(withNearVariants(s, dir),
        "doc_id", Dedup.shingles(col("text"), 3), tNum = 3, tDen = 5)
    }),

    // EXACT asymmetric CONTAINMENT join (dedup.SetJoin
    // .containmentJoin): the pairwise decontamination report —
    // probes are the leading-12-token shingle sets of every 37th
    // doc, and the join finds every corpus doc holding ≥ 4/5 of a
    // probe's shingles (each probe at least hits its own source at
    // containment 1.0). Asymmetric where q183 is symmetric: a short
    // probe inside a long doc passes here and fails Jaccard. Only
    // the probe side is prefix-cut; the corpus side is the fully
    // exploded inverted index (containment bounds |c| from below
    // only), with the length and positional prunes integer-exact.
    "q212_containment_join" -> ((s, dir) => {
      val d = table(s, dir, "documents")
      val probes = d.filter(col("doc_id") % 37 === 0)
        .select(col("doc_id"),
          array_distinct(T.ngramsFast(
            slice(T.tokens(col("text")), 1, 12), 3)).as("__set"))
      graft.dedup.SetJoin.containmentJoin(probes, d,
        "doc_id", col("__set"),
        "doc_id", Dedup.shingles(col("text"), 3),
        tNum = 4, tDen = 5)
    }),

    // Fellegi-Sunter record linkage (ops.Linkage): entity
    // resolution over STRUCTURED records — the customer catalog
    // plus two injected re-registration shapes (key changed, name
    // restyled, balance drifted 1.37 → "match"; key changed, name
    // kept, balance drifted 777.77 → "possible"). Integer
    // field-agreement weights (scaled log-likelihood ratios, the
    // form production linkage tables ship in), blocking on
    // (nation, segment) — pair count is block-bounded and the
    // non-match mass never survives the projection.
    "q215_record_linkage" -> ((s, dir) => {
      val c = table(s, dir, "customer").select(col("c_custkey"),
        col("c_name"), col("c_nationkey"), col("c_acctbal"),
        col("c_mktsegment"))
      val close = c.filter(col("c_custkey") % 13 === 0)
        .select((col("c_custkey") + 1000000L).as("c_custkey"),
          concat(lit("Cust#"), expr("right(c_name, 9)")).as("c_name"),
          col("c_nationkey"),
          (col("c_acctbal") + 1.37).as("c_acctbal"),
          col("c_mktsegment"))
      val stale = c.filter(col("c_custkey") % 17 === 0)
        .select((col("c_custkey") + 2000000L).as("c_custkey"),
          col("c_name"), col("c_nationkey"),
          (col("c_acctbal") + 777.77).as("c_acctbal"),
          col("c_mktsegment"))
      val pairs = graft.ops.Linkage.blockPairs(
        c.unionByName(close).unionByName(stale),
        "c_custkey", Seq("c_nationkey", "c_mktsegment"))
      def cents(cc: org.apache.spark.sql.Column) =
        floor(cc * 100).cast("long")
      graft.ops.Linkage.fsClassify(pairs, Seq(
          (expr("right(c_name_a, 9)") === expr("right(c_name_b, 9)"),
            34, -18),
          (abs(cents(col("c_acctbal_a")) - cents(col("c_acctbal_b")))
            <= 500, 10, -15),
          (col("c_name_a") === col("c_name_b"), 8, 0)),
        matchMin = 40, possibleMin = 10)
        .select(col("id_a"), col("id_b"), col("score"), col("cls"))
        .orderBy(col("id_a"), col("id_b"))
    }),

    // Sorted-neighborhood near-dup pairs (Dedup
    // .sortedNeighborhoodPairs): the FOURTH blocking family beside
    // exact-prefix digests (q168), LSH bands (q44) and PPJoin
    // prefixes (q183) — one distributed sort by the leading-40-char
    // key, then each record meets only its next 7 sort neighbors.
    // Candidate count is exactly 7n whatever the key skew (the
    // failure mode that explodes equality blocks); recall is
    // window-bounded by documented contract. Same corpus and
    // threshold as q183, so the found pairs are directly
    // comparable.
    "q214_sorted_neighborhood" -> ((s, dir) => {
      Dedup.sortedNeighborhoodPairs(withNearVariants(s, dir),
        "doc_id", "text", keyLen = 40, window = 8, tNum = 3, tDen = 5)
    }),

    // KMV set algebra (ops.DistinctSketch.overlapReport): the
    // distinct-shingle overlap between two corpus halves estimated
    // from two 64-long sketches ALONE — at 100 TB this replaces the
    // distinct-intersection join (which shuffles every key) with
    // two bounded scans and ≤192 longs of state. Every number in
    // the report is an exact integer function of the data (KMV has
    // no engine-private bias correction), so the DuckDB oracle
    // replays the estimates themselves, not just the inputs.
    "q213_kmv_overlap" -> ((s, dir) => {
      val d = table(s, dir, "documents")
      def keys(p: DataFrame) =
        p.select(explode(Dedup.shingles(col("text"), 3)).as("__s"))
      graft.ops.DistinctSketch.overlapReport(
        keys(d.filter(length(col("source")) === 4)), col("__s"),
        keys(d.filter(length(col("source")) === 5)), col("__s"),
        k = 64)
    }),

    // Blocked edit-distance fuzzy dedup: prefix-digest blocking
    // turns all-pairs Levenshtein into an equi-join; the THRESHOLDED
    // banded DP (3-arg levenshtein) bounds per-pair cost. Catches
    // few-character edits that shingle-set similarity blurs over.
    "q168_edit_dedup" -> ((s, dir) => {
      Dedup.editDistancePairs(withNearVariants(s, dir), "doc_id", "text",
        blockPrefix = 40, maxDist = 8)
        .orderBy(col("id_a"), col("id_b"))
    }),

    // Exact-dup groups over a 16-byte digest (never shuffles text).
    "q41_dedup_exact" -> ((s, dir) => {
      Dedup.exactGroups(withInjectedDups(s, dir), "doc_id", "text")
        .filter(col("n_dups") > 1)
        .orderBy(col("keep_id"))
    }),

    // Drop dups keeping min-id representative; distribution returns
    // to the original table's.
    "q42_dedup_drop" -> ((s, dir) => {
      Dedup.dropExactDups(withInjectedDups(s, dir), "doc_id", "text")
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("lang"))
    }),

    // MinHash signatures (k=8 md5 min-hashes over 3-shingles).
    "q43_minhash_sig" -> ((s, dir) => {
      table(s, dir, "documents")
        .filter(col("doc_id") < 100)
        .select(col("doc_id"),
          array_join(
            Dedup.minhashSignature(Dedup.shingles(col("text"), 3), 8), "|")
            .as("sig"))
        .orderBy(col("doc_id"))
    }),

    // LSH candidate pairs (4 bands × 2 rows) — equi-join on band key.
    "q44_lsh_pairs" -> ((s, dir) => {
      lshCands(s, dir).orderBy(col("id_a"), col("id_b"))
    }),

    // Exact Jaccard verification on the LSH candidates only.
    "q45_jaccard_cands" -> ((s, dir) => {
      val docs = table(s, dir, "documents").filter(col("doc_id") < 200)
      Dedup.jaccardOnCandidates(docs, lshCands(s, dir), "doc_id", "text")
        .orderBy(col("id_a"), col("id_b"))
    }),

    // SimHash (60-bit, md5-nibble votes).
    "q46_simhash" -> ((s, dir) => {
      table(s, dir, "documents")
        .filter(col("doc_id") < 100)
        .select(col("doc_id"),
          Dedup.simhash60(graft.text.TextFunctions.tokens(col("text")))
            .as("simhash"))
        .orderBy(col("doc_id"))
    }),

    // SimHash near-pairs: bucket by 16-bit prefix (equi-join), then
    // Hamming-distance filter inside buckets.
    "q47_simhash_pairs" -> ((s, dir) => {
      // cached: both self-join sides read the simhashes
      val sims = Pin.cache(table(s, dir, "documents")
        .select(col("doc_id"),
          Dedup.simhash60(graft.text.TextFunctions.tokens(col("text")))
            .as("simhash"))
        .withColumn("bucket", shiftright(col("simhash"), 44)))
      val a = sims.select(col("bucket"), col("doc_id").as("id_a"),
        col("simhash").as("sim_a"))
      val b = sims.select(col("bucket"), col("doc_id").as("id_b"),
        col("simhash").as("sim_b"))
      Pin.untilUsed(a.join(b, "bucket")
        .filter(col("id_a") < col("id_b"))
        .withColumn("hamming", Dedup.hammingDist(col("sim_a"), col("sim_b")))
        .filter(col("hamming") <= 20)
        .select(col("id_a"), col("id_b"), col("hamming"))
        .orderBy(col("id_a"), col("id_b")), sims)
    }),

    // Multi-table SimHash near-pairs: two 15-bit windows of the
    // signature each drive an equi-join; the union catches pairs a
    // single prefix misses (recall total for hamming < tables).
    "q89_simhash_multiprobe" -> ((s, dir) => {
      simhashPairs(s, dir).orderBy(col("id_a"), col("id_b"))
    }),

    // Cross-source duplication matrix: near-pair edges attributed to
    // the (source, source) pair they connect — which feeds copy from
    // each other, the report that decides dedup ordering and source
    // weights in a multi-source corpus. Reuses the memoized near-pair
    // edges (the corpus-sized work); attribution is two joins of the
    // tiny edge list against (id, source) and one aggregate.
    "q113_source_dup_matrix" -> ((s, dir) => {
      val src = table(s, dir, "documents")
        .select(col("doc_id"), col("source"))
      val pairs = simhashPairs(s, dir)
        .join(src.select(col("doc_id").as("id_a"),
          col("source").as("src_a")), "id_a")
        .join(src.select(col("doc_id").as("id_b"),
          col("source").as("src_b")), "id_b")
      // symmetrize to an unordered source pair so (A,B) and (B,A)
      // accumulate together
      pairs.select(
          least(col("src_a"), col("src_b")).as("source_x"),
          greatest(col("src_a"), col("src_b")).as("source_y"))
        .groupBy(col("source_x"), col("source_y"))
        .agg(count(lit(1)).as("n_near_pairs"))
        .orderBy(col("source_x"), col("source_y"))
    }),

    // MinHash Jaccard estimation vs exact, on the LSH candidates:
    // est = matching signature positions / k. The estimator is what a
    // 100 TB pass would rank candidates by (signatures are k strings
    // per doc; the shingle sets never leave their partition) — this
    // query verifies the sketch against the exact overlap it stands
    // in for.
    "q102_minhash_est" -> ((s, dir) => {
      val docs = table(s, dir, "documents").filter(col("doc_id") < 200)
      val side = Pin.cache(docs.select(col("doc_id"),
        Dedup.minhashSignatureFast(Dedup.shingles(col("text"), 3), 8)
          .as("sig"),
        Dedup.shingles(col("text"), 3).as("sh")))
      val a = side.select(col("doc_id").as("id_a"), col("sig").as("sig_a"),
        col("sh").as("sh_a"))
      val b = side.select(col("doc_id").as("id_b"), col("sig").as("sig_b"),
        col("sh").as("sh_b"))
      Pin.untilUsed(
        lshCands(s, dir).join(a, "id_a").join(b, "id_b")
          .withColumn("est_jaccard",
            round(size(filter(zip_with(col("sig_a"), col("sig_b"),
              (x, y) => x === y), m => m)) / lit(8.0), 4))
          .withColumn("jaccard",
            round(size(array_intersect(col("sh_a"), col("sh_b"))) /
              size(array_union(col("sh_a"), col("sh_b"))).cast("double"), 4))
          .select(col("id_a"), col("id_b"), col("est_jaccard"), col("jaccard"))
          .orderBy(col("id_a"), col("id_b")), side)
    }),

    // Brute-force cosine top-5 (correctness baseline for ANN).
    "q48_ann_cosine" -> ((s, dir) => {
      val emb = table(s, dir, "embeddings")
      Ann.cosineTopK(emb, emb.filter(col("vec_id") < 20),
        "vec_id", "embedding", 5)
        .orderBy(col("query_id"), col("rank"))
    }),

    // Recall@5 of the LSH ANN pass against the exact baseline
    // (ops.Eval.recallAtK) — the quality meter a recall-trading
    // operator ships with AS an operator, so live recall is
    // monitorable. Exact rational arithmetic; starved queries
    // surface as recall 0, never silently drop. Both meters (q174,
    // q176) read ONE memoized (exact, approx) pair, so the ANN
    // passes run once per session and the two meters are guaranteed
    // to measure the same ranking.
    "q174_ann_recall" -> ((s, dir) => {
      val (exact, approx) = annMeterLists(s, dir)
      graft.ops.Eval.recallAtK(approx, exact,
        "query_id", "neighbor_id", 5)
    }),

    // NDCG@5 of the same LSH pass (ops.Eval.ndcgAtK): recall says
    // how many true neighbors survived, NDCG says WHERE the ranking
    // put them. Discounts are e6-floored integer constants computed
    // once in Scala and shared with the oracle — no float log runs
    // in either engine.
    "q176_ann_ndcg" -> ((s, dir) => {
      val (exact, approx) = annMeterLists(s, dir)
      graft.ops.Eval.ndcgAtK(approx, exact,
        "query_id", "neighbor_id", "rank", 5)
    }),

    // MRR of the same LSH pass (ops.Eval.mrrAtK): the third meter
    // over the SAME memoized (exact, approx) pair — how soon the
    // first true neighbor appears, the metric single-answer
    // retrieval optimizes. Exact rational rr; starved queries read
    // rr 0, never drop.
    "q225_ann_mrr" -> ((s, dir) => {
      val (exact, approx) = annMeterLists(s, dir)
      graft.ops.Eval.mrrAtK(approx, exact,
        "query_id", "neighbor_id", "rank")
    }),

    // LSH-bucketed ANN (scale path; recall < 1 by design) — the
    // hyperplanes are deterministic integer hashes, so the oracle
    // reproduces them exactly.
    "q49_ann_lsh" -> ((s, dir) => {
      Ann.lshTopK(table(s, dir, "embeddings"), "vec_id", "embedding",
        planes = 8, k = 5)
        .orderBy(col("query_id"), col("rank"))
    }),

    // Winnowing (MOSS) fingerprints per document — count/min/max/sum
    // of the distinct window-min k-gram hashes pin the whole set
    // order-independently. Pure per-row map: zero shuffle.
    "q128_winnow_fp" -> ((s, dir) => {
      table(s, dir, "documents")
        .select(col("doc_id"),
          Winnow.fingerprintsFast(col("text")).as("fps"))
        .select(col("doc_id"),
          size(col("fps")).cast("long").as("n_fp"),
          array_min(col("fps")).as("fp_min"),
          array_max(col("fps")).as("fp_max"),
          aggregate(col("fps"), lit(0L), _ + _).as("fp_sum"))
        .orderBy("doc_id")
    }),

    // Passage-reuse pairs over the dup-injected corpus: the injected
    // exact copies surface at the top of the n_shared ranking (their
    // whole df-capped fingerprint set agrees); natural near-dups and
    // genuine passage reuse ride along, ambient template-phrase
    // overlap (n_shared 2-7 on this corpus) stays below minShared.
    "q129_winnow_pairs" -> ((s, dir) => {
      Winnow.sharedFingerprintPairs(withInjectedDups(s, dir),
        "doc_id", "text")
        .orderBy("id_a", "id_b")
    }),

    // Byte-level substring-span dedup — the q106 recall upgrade
    // named in Dedup.duplicateSpans' contract. The injected copies
    // here are PUNCTUATION-PERTURBED (", " for every " " under
    // id+400000): every token changes, so q106's token windows all
    // miss them, while winnowing's normalization makes the copies
    // share their full fingerprint set (dup_ratio 1.0 for both ends
    // of each pair).
    // Cross-run incremental dedup registry (dedup.Registry): the
    // corpus splits into 3 batches (doc_id % 3) ingested IN ORDER
    // into a fresh digest-bucketed registry table; each batch
    // dedups against the registered digests only — history text is
    // never rescanned. First-seen-wins: replaying batches equals a
    // from-scratch dedup of the union under the (batch_no, id) tie
    // rule, which is exactly what the oracle replays. Output one
    // row per batch: (batch_no, n_in, n_kept).
    "q237_dedup_registry" -> ((s, dir) =>
      laneReplay(s, dir, Registry.Exact, "graft_dedup_reg", "graft_registry",
        table(s, dir, "documents").select(col("doc_id"), col("text")),
        "doc_id", "text")),

    // Cross-run incremental NEAR-dup registry (the Registry.Near lane):
    // q237's registry contract for NEAR duplicates — history is a
    // bucketed (window, bucket, simhash) signature table, ~16 bytes
    // per doc per window, and a new batch drops any doc whose
    // simhash shares a 15-bit window with a registered one within
    // hamming 20 (the q113 banded-candidate rule). History TEXT is
    // never rescanned — signatures decide alone. Corpus = documents
    // ∪ ' zz yy'-suffixed copies of doc_id<40 under id+300001 (the
    // +1 pushes each copy into the NEXT batch cycle so near-matches
    // genuinely cross the batch boundary); 3 batches by doc_id % 3
    // ingest in order. Output (batch_no, n_in, n_kept).
    "q241_near_registry" -> ((s, dir) =>
      laneReplay(s, dir, Registry.Near(), "graft_near_reg",
        "graft_registry_near", withZzCopies(
          table(s, dir, "documents").select(col("doc_id"), col("text"))),
        "doc_id", "text")),

    // Cross-run incremental MINHASH-band registry (the
    // Registry.Minhash lane): the FOURTH registry modality — exact
    // digests (q237), SimHash windows (q241), embeddings (q242), and
    // here SET-overlap (Jaccard) near-duplicates: a new batch's doc
    // drops iff a registered doc shares one of 4 MinHash band
    // digests AND agrees on >= 6 of the 8 signature positions (the
    // q102 estimator thresholded on the integer match count).
    // History text/shingles never rescanned — the k-string
    // signatures are the whole state. Corpus = documents ∪
    // ' zz yy'-suffixed copies of doc_id<40 under id+300001 (tail
    // shingles change, the shared ones don't — the Jaccard lane's
    // catch); 3 batches by doc_id % 3. Output (batch_no, n_in,
    // n_kept); the oracle replays signatures, banding, and the
    // batch-chained survivor rule from scratch.
    "q249_minhash_registry" -> ((s, dir) =>
      laneReplay(s, dir, Registry.Minhash(k = 8, bands = 4),
        "graft_min_reg", "graft_registry_min", withZzCopies(
          table(s, dir, "documents").select(col("doc_id"), col("text"))),
        "doc_id", "text")),

    // Recall meter for the banded-hamming rule the near-dup registry
    // (q241) and simhashNearPairs run on: TRUTH = every pair at
    // hamming <= 20 (exact all-pairs over a BOUNDED slice — the
    // q145 discipline: the meter pays O(n²) so the production
    // operator doesn't have to), FOUND(t) = the pairs the ACTUAL
    // operator (bandedHammingPairs at t tables) returns. Broken out
    // by hamming band, because the single number conflates the two
    // regimes the trade is ABOUT: d < tables is guaranteed total
    // (pigeonhole — the 00-05 row at tables=4 reads 1e6), while far
    // pairs are intentionally sampled at ~t/2^15 — what the cheaper
    // tables=2 state costs is the band-by-band gap to tables=4.
    "q245_near_recall_meter" -> ((s, dir) => {
      val d = table(s, dir, "documents")
        .select(col("doc_id"), col("text")).filter(col("doc_id") < 200)
      val sims = Pin.cache(withZzCopies(d).select(col("doc_id"),
          Dedup.simhash60(T.tokens(col("text"))).as("simhash")),
        eager = true)
      val a = sims.select(col("doc_id").as("id_a"),
        col("simhash").as("sim_a"))
      val b = sims.select(col("doc_id").as("id_b"),
        col("simhash").as("sim_b"))
      val h = Dedup.hammingDist(col("sim_a"), col("sim_b"))
      val truth = Pin.cache(a.crossJoin(b).filter(col("id_a") < col("id_b"))
        .withColumn("__h", h).filter(col("__h") <= 20)
        .withColumn("ham_band", when(col("__h") <= 5, "00-05")
          .when(col("__h") <= 12, "06-12").otherwise("13-20"))
        .select(col("id_a"), col("id_b"), col("ham_band")), eager = true)
      import s.implicits._
      val rows = try Seq(2, 4).flatMap { t =>
        val found = Dedup.bandedHammingPairs(sims, "doc_id", "simhash",
            totalBits = 60, width = 15, tables = t, maxHamming = 20)
          .select(col("id_a"), col("id_b"), lit(1L).as("__f"))
        truth.join(found, Seq("id_a", "id_b"), "left")
          .groupBy(col("ham_band"))
          .agg(count(lit(1)).as("n_truth"),
            sum(coalesce(col("__f"), lit(0L))).as("n_found"))
          .as[(String, Long, Long)].collect().toSeq
          .map { case (band, nt, nf) =>
            (t, band, nt, nf, nf * 1000000L / nt) }
      } finally Pin.release(sims, truth)
      rows.toDF("tables", "ham_band", "n_truth", "n_found", "recall_e6")
        .select(col("tables").cast("int"), col("ham_band"),
          col("n_truth"), col("n_found"), col("recall_e6"))
        .orderBy(col("tables"), col("ham_band"))
    }),

    "q146_winnow_spans" -> ((s, dir) => {
      val d = table(s, dir, "documents").select(col("doc_id"), col("text"))
      val punct = d.filter(col("doc_id") < 30)
        .select((col("doc_id") + 400000L).as("doc_id"),
          regexp_replace(col("text"), " ", ", ").as("text"))
      Winnow.spanStats(d.unionByName(punct), "doc_id", "text")
        .orderBy(col("doc_id"))
    })
  )

  // ---- oracle SQL builders (shared fragments) ----

  private val sigCte = {
    val mhs = (0 until 8).map(i => s"${minhashSql(i)} AS mh$i").mkString(", ")
    s"""sh AS (SELECT doc_id, $shingles AS sh FROM documents),
       |mh AS (SELECT doc_id, $mhs FROM sh)""".stripMargin
  }

  private val bandsCte = {
    val bandList = (0 until 4).map(bandSql).mkString("[", ", ", "]")
    s"""$sigCte,
       |bands AS (SELECT doc_id, unnest($bandList) AS band FROM mh)""".stripMargin
  }

  /** Shared with PipelineQueries' duplicate-cluster oracle. */
  private[queries] val simhashCte =
    s"""tok AS (SELECT doc_id, unnest($toks) AS tk FROM documents),
       |votes AS (
       |  SELECT doc_id, i,
       |    sum(CASE WHEN ((strpos('0123456789abcdef',
       |          substr(md5(tk), (i // 4) + 1, 1)) - 1) >> (i % 4)) & 1 = 1
       |        THEN 1 ELSE -1 END) AS vote
       |  FROM tok, range(60) r(i) GROUP BY doc_id, i),
       |sims AS (
       |  SELECT doc_id, cast(sum(CASE WHEN vote > 0
       |    THEN 1::BIGINT << i ELSE 0::BIGINT END) as bigint) AS simhash
       |  FROM votes GROUP BY doc_id)""".stripMargin

  /** Shared CTE chain for the q174/q176 ANN meters: the exact top-5
    * (`ex`) and the LSH top-5 (`ap`, with rank) for queries < 20 —
    * ONE replay of the ranking construction, exactly as the Spark
    * side shares one memoized pair.
    */
  private def annMeterCtes: String = {
    val sigExpr = Fragments.rhpSigSql(8, "v")
    s"""$cosineCte,
       |q AS (SELECT * FROM e WHERE vec_id < 20),
       |s1 AS (SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
       |  round(list_dot_product(q.v, e.v) /
       |    (sqrt(list_dot_product(q.v, q.v))
       |     * sqrt(list_dot_product(e.v, e.v))), 6) AS cos
       |  FROM q CROSS JOIN e WHERE q.vec_id != e.vec_id),
       |ex AS (SELECT query_id, neighbor_id FROM (
       |  SELECT *, row_number() OVER (PARTITION BY query_id
       |    ORDER BY cos DESC, neighbor_id) AS rank FROM s1)
       |  WHERE rank <= 5),
       |sig AS (SELECT vec_id, v, $sigExpr AS sig FROM e),
       |s2 AS (SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
       |  round(list_dot_product(a.v, b.v) /
       |    (sqrt(list_dot_product(a.v, a.v))
       |     * sqrt(list_dot_product(b.v, b.v))), 6) AS cos
       |  FROM sig a JOIN sig b ON a.sig = b.sig AND a.vec_id != b.vec_id),
       |ap AS (SELECT query_id, neighbor_id, rank FROM (
       |  SELECT *, row_number() OVER (PARTITION BY query_id
       |    ORDER BY cos DESC, neighbor_id) AS rank FROM s2)
       |  WHERE rank <= 5 AND query_id < 20)""".stripMargin
  }

  /** Winnowing fingerprint CTE chain (k=8, w=4) over a (doc_id,
    * text) relation `src`: replays graft.text.Winnow.fingerprints —
    * md5-prefix k-gram hashes, window-of-4 minima via a frame'd
    * window function (cnt = 4 keeps full windows only), DISTINCT
    * hash values per doc. Ends with a `wfp(doc_id, h)` relation.
    */
  private def winnowCte(src: String): String =
    s"""wd AS (SELECT doc_id,
       |        regexp_replace(lower(text), '[^a-z0-9]', '', 'g') AS s
       |      FROM $src),
       |wpos AS (
       |  SELECT doc_id, unnest(range(1, greatest(length(s) - 6, 1))) AS p, s
       |  FROM wd),
       |wh AS (
       |  SELECT doc_id, p,
       |    CAST(CAST('0x' || substr(md5(substr(s, CAST(p AS INTEGER), 8)), 1, 8)
       |         AS UBIGINT) AS BIGINT) AS h
       |  FROM wpos),
       |wwin AS (
       |  SELECT doc_id,
       |    min(h) OVER (PARTITION BY doc_id ORDER BY p
       |                 ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS mh,
       |    count(*) OVER (PARTITION BY doc_id ORDER BY p
       |                   ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS cnt
       |  FROM wh),
       |wfp AS (SELECT DISTINCT doc_id, mh AS h FROM wwin WHERE cnt = 4)""".stripMargin

  def oracles: Map[String, String] = Map(
    // integer weights replay exactly; the only doubles are the
    // +1.37/+777.77 drifts, floored to cents before comparison
    "q215_record_linkage" ->
      """WITH c0 AS (
        |  SELECT c_custkey, c_name, c_nationkey, c_acctbal,
        |    c_mktsegment FROM customer),
        |v AS (
        |  SELECT c_custkey + 1000000 AS c_custkey,
        |    'Cust#' || right(c_name, 9) AS c_name, c_nationkey,
        |    c_acctbal + 1.37 AS c_acctbal, c_mktsegment
        |  FROM c0 WHERE c_custkey % 13 = 0
        |  UNION ALL
        |  SELECT c_custkey + 2000000, c_name, c_nationkey,
        |    c_acctbal + 777.77, c_mktsegment
        |  FROM c0 WHERE c_custkey % 17 = 0),
        |u AS (SELECT * FROM c0 UNION ALL SELECT * FROM v),
        |p AS (SELECT a.c_custkey AS id_a, b.c_custkey AS id_b,
        |    CASE WHEN right(a.c_name, 9) = right(b.c_name, 9)
        |      THEN 34 ELSE -18 END
        |  + CASE WHEN abs(CAST(floor(a.c_acctbal * 100) AS BIGINT)
        |      - CAST(floor(b.c_acctbal * 100) AS BIGINT)) <= 500
        |      THEN 10 ELSE -15 END
        |  + CASE WHEN a.c_name = b.c_name THEN 8 ELSE 0 END AS score
        |  FROM u a JOIN u b
        |    ON a.c_nationkey = b.c_nationkey
        |    AND a.c_mktsegment = b.c_mktsegment
        |    AND a.c_custkey < b.c_custkey)
        |SELECT id_a, id_b, CAST(score AS BIGINT) AS score,
        |  CASE WHEN score >= 40 THEN 'match'
        |    ELSE 'possible' END AS cls
        |FROM p WHERE score >= 10 ORDER BY id_a, id_b""".stripMargin,
    // the full replay: same sort key, same neighbor window, same
    // integer Jaccard threshold
    "q214_sorted_neighborhood" ->
      """WITH c AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 200000,
        |    text || ' nd' || CAST(doc_id % 4 AS VARCHAR)
        |  FROM documents WHERE doc_id % 7 = 0),
        |ix AS (SELECT doc_id, text,
        |    row_number() OVER (ORDER BY substr(text, 1, 40), doc_id)
        |      AS ix
        |  FROM c),
        |sh AS (SELECT doc_id, ix,
        |    list_distinct(list_transform(
        |      generate_series(1, len(string_split(text, ' ')) - 2),
        |      i -> array_to_string(string_split(text, ' ')[i:i+2], ' ')))
        |      AS s
        |  FROM ix),
        |p AS (SELECT a.doc_id AS ida, b.doc_id AS idb,
        |    CAST(len(list_intersect(a.s, b.s)) AS BIGINT) AS inter,
        |    CAST(len(a.s) + len(b.s)
        |      - len(list_intersect(a.s, b.s)) AS BIGINT) AS uni
        |  FROM sh a JOIN sh b
        |    ON b.ix > a.ix AND b.ix <= a.ix + 7)
        |SELECT least(ida, idb) AS id_a, greatest(ida, idb) AS id_b,
        |  inter, uni,
        |  CAST(inter * 1000000 // uni AS BIGINT) AS jacc_e6
        |FROM p WHERE inter * 5 >= uni * 3
        |ORDER BY id_a, id_b""".stripMargin,
    // the estimates THEMSELVES replay: k-min sketches are exact
    // integer functions of the hashed key sets
    "q213_kmv_overlap" ->
      """WITH tk AS (
        |  SELECT source, string_split(text, ' ') AS l FROM documents),
        |win AS (SELECT source,
        |    unnest(list_transform(generate_series(1, len(l) - 2),
        |      i -> array_to_string(l[i:i+2], ' '))) AS s
        |  FROM tk),
        |ha AS (SELECT DISTINCT CAST(CAST('0x'
        |    || substr(md5(s), 1, 12) AS UBIGINT) AS BIGINT) AS hv
        |  FROM win WHERE length(source) = 4),
        |hb AS (SELECT DISTINCT CAST(CAST('0x'
        |    || substr(md5(s), 1, 12) AS UBIGINT) AS BIGINT) AS hv
        |  FROM win WHERE length(source) = 5),
        |sa AS (SELECT hv FROM ha ORDER BY hv LIMIT 64),
        |sb AS (SELECT hv FROM hb ORDER BY hv LIMIT 64),
        |su AS (SELECT hv FROM (
        |    SELECT hv FROM sa UNION SELECT hv FROM sb)
        |  ORDER BY hv LIMIT 64),
        |ea AS (SELECT CAST(count(*) AS BIGINT) AS k_a,
        |    CAST(CASE WHEN count(*) < 64 THEN count(*)
        |      ELSE (count(*) - 1) * 281474976710656 // max(hv) END
        |      AS BIGINT) AS est_a FROM sa),
        |eb AS (SELECT CAST(count(*) AS BIGINT) AS k_b,
        |    CAST(CASE WHEN count(*) < 64 THEN count(*)
        |      ELSE (count(*) - 1) * 281474976710656 // max(hv) END
        |      AS BIGINT) AS est_b FROM sb),
        |eu AS (SELECT CAST(count(*) AS BIGINT) AS k_u,
        |    CAST(CASE WHEN count(*) < 64 THEN count(*)
        |      ELSE (count(*) - 1) * 281474976710656 // max(hv) END
        |      AS BIGINT) AS est_u FROM su),
        |ia AS (SELECT CAST(count(*) AS BIGINT) AS inter_in_k
        |  FROM su JOIN sa USING (hv) JOIN sb USING (hv))
        |SELECT k_a, est_a, k_b, est_b, k_u, est_u, inter_in_k,
        |  CAST(inter_in_k * est_u // k_u AS BIGINT) AS est_inter
        |FROM ea, eb, eu, ia""".stripMargin,
    // brute containment via the full token join (the operator's
    // prefix/length/positional filters are necessary-condition
    // prunes only, so the simpler formulation is the same math)
    "q212_containment_join" ->
      """WITH tk AS (
        |  SELECT doc_id, string_split(text, ' ') AS l FROM documents),
        |q AS (SELECT doc_id AS qid,
        |    list_distinct(list_transform(
        |      generate_series(1, len(l[1:12]) - 2),
        |      i -> array_to_string(l[1:12][i:i+2], ' '))) AS ts
        |  FROM tk WHERE doc_id % 37 = 0),
        |c AS (SELECT doc_id AS cid,
        |    list_distinct(list_transform(
        |      generate_series(1, len(l) - 2),
        |      i -> array_to_string(l[i:i+2], ' '))) AS ts
        |  FROM tk),
        |qe AS (SELECT qid, CAST(len(ts) AS BIGINT) AS lq,
        |    unnest(ts) AS t FROM q),
        |ce AS (SELECT cid, unnest(ts) AS t FROM c),
        |pair AS (SELECT qid, cid, CAST(count(*) AS BIGINT) AS inter,
        |    any_value(lq) AS lq
        |  FROM qe JOIN ce USING (t) GROUP BY qid, cid)
        |SELECT qid AS q_id, cid AS c_id, inter, lq AS q_len,
        |  CAST(inter * 1000000 // lq AS BIGINT) AS cont_e6
        |FROM pair WHERE inter * 5 >= lq * 4
        |ORDER BY q_id, c_id""".stripMargin,
    "q183_set_join" ->
      """WITH c AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 200000,
        |    text || ' nd' || CAST(doc_id % 4 AS VARCHAR)
        |  FROM documents WHERE doc_id % 7 = 0),
        |toks AS (SELECT doc_id,
        |  list_distinct(list_transform(
        |    range(1, len(string_split(text, ' ')) - 1),
        |    i -> array_to_string(string_split(text, ' ')[i:i+2], ' ')))
        |    AS ts FROM c),
        |tk AS (SELECT doc_id, unnest(ts) AS t FROM toks),
        |dfq AS (SELECT t, CAST(count(*) AS BIGINT) AS df
        |  FROM tk GROUP BY t),
        |srt AS (SELECT doc_id, list(tk.t ORDER BY df, tk.t) AS sts,
        |    CAST(count(*) AS BIGINT) AS l
        |  FROM tk JOIN dfq ON tk.t = dfq.t GROUP BY doc_id),
        |pre AS (SELECT doc_id, unnest(list_slice(sts, 1,
        |    CAST(l - ((l * 3 + 4) // 5) + 1 AS BIGINT))) AS pt
        |  FROM srt),
        |cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        |  FROM pre a JOIN pre b
        |  ON a.pt = b.pt AND a.doc_id < b.doc_id),
        |v AS (SELECT id_a, id_b,
        |    CAST(len(list_intersect(sa.sts, sb.sts)) AS BIGINT) AS inter,
        |    sa.l + sb.l
        |      - CAST(len(list_intersect(sa.sts, sb.sts)) AS BIGINT) AS uni
        |  FROM cand JOIN srt sa ON cand.id_a = sa.doc_id
        |            JOIN srt sb ON cand.id_b = sb.doc_id)
        |SELECT id_a, id_b, inter, CAST(uni AS BIGINT) AS uni,
        |  CAST(inter * 1000000 // uni AS BIGINT) AS jacc_e6
        |FROM v WHERE inter * 5 >= uni * 3
        |ORDER BY id_a, id_b""".stripMargin,
    "q168_edit_dedup" ->
      """WITH c AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 200000,
        |    text || ' nd' || CAST(doc_id % 4 AS VARCHAR)
        |  FROM documents WHERE doc_id % 7 = 0),
        |k AS (SELECT doc_id, text,
        |  md5(substr(text, 1, 40)) AS bk FROM c)
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |  CAST(levenshtein(a.text, b.text) AS BIGINT) AS dist
        |FROM k a JOIN k b ON a.bk = b.bk AND a.doc_id < b.doc_id
        |WHERE levenshtein(a.text, b.text) <= 8
        |ORDER BY id_a, id_b""".stripMargin,
    "q41_dedup_exact" ->
      """WITH u AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 100000, text FROM documents WHERE doc_id < 50)
        |SELECT md5(text) AS h, min(doc_id) AS keep_id,
        |       cast(count(*) as bigint) AS n_dups
        |FROM u GROUP BY md5(text) HAVING count(*) > 1
        |ORDER BY keep_id""".stripMargin,
    "q42_dedup_drop" ->
      // computes the dedup for real: at sf0.1 the documents table
      // carries natural exact duplicates, so "distribution returns
      // to the original" only holds after dropping them too
      """WITH u AS (
        |  SELECT doc_id, text, lang FROM documents
        |  UNION ALL
        |  SELECT doc_id + 100000, text, lang FROM documents
        |  WHERE doc_id < 50),
        |keep AS (SELECT min(doc_id) AS doc_id FROM u GROUP BY md5(text)),
        |kept AS (SELECT u.lang FROM u JOIN keep ON u.doc_id = keep.doc_id)
        |SELECT lang, cast(count(*) as bigint) AS n
        |FROM kept GROUP BY lang ORDER BY lang""".stripMargin,
    "q43_minhash_sig" -> {
      val sigJoin = (0 until 8).map(i => s"mh$i").mkString(" || '|' || ")
      s"""WITH $sigCte
         |SELECT doc_id, $sigJoin AS sig
         |FROM mh WHERE doc_id < 100 ORDER BY doc_id""".stripMargin
    },
    "q44_lsh_pairs" -> {
      s"""WITH docs0 AS (SELECT * FROM documents WHERE doc_id < 200),
         |sh AS (SELECT doc_id, $shingles AS sh FROM docs0),
         |mh AS (SELECT doc_id, ${(0 until 8).map(i => s"${minhashSql(i)} AS mh$i").mkString(", ")} FROM sh),
         |bands AS (SELECT doc_id, unnest(${(0 until 4).map(bandSql).mkString("[", ", ", "]")}) AS band FROM mh)
         |SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
         |FROM bands a JOIN bands b ON a.band = b.band AND a.doc_id < b.doc_id
         |ORDER BY id_a, id_b""".stripMargin
    },
    "q45_jaccard_cands" -> {
      s"""WITH docs0 AS (SELECT * FROM documents WHERE doc_id < 200),
         |sh AS (SELECT doc_id, $shingles AS sh FROM docs0),
         |mh AS (SELECT doc_id, ${(0 until 8).map(i => s"${minhashSql(i)} AS mh$i").mkString(", ")} FROM sh),
         |bands AS (SELECT doc_id, unnest(${(0 until 4).map(bandSql).mkString("[", ", ", "]")}) AS band FROM mh),
         |cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
         |         FROM bands a JOIN bands b ON a.band = b.band AND a.doc_id < b.doc_id)
         |SELECT id_a, id_b,
         |  cast(len(list_filter(sa.sh, x -> list_contains(sb.sh, x))) as int) AS inter,
         |  cast(len(sa.sh) + len(sb.sh)
         |       - len(list_filter(sa.sh, x -> list_contains(sb.sh, x))) as int) AS uni,
         |  round(len(list_filter(sa.sh, x -> list_contains(sb.sh, x))) * 1.0 /
         |    (len(sa.sh) + len(sb.sh)
         |     - len(list_filter(sa.sh, x -> list_contains(sb.sh, x)))), 4) AS jaccard
         |FROM cand JOIN sh sa ON cand.id_a = sa.doc_id
         |          JOIN sh sb ON cand.id_b = sb.doc_id
         |ORDER BY id_a, id_b""".stripMargin
    },
    "q102_minhash_est" -> {
      val matches = (0 until 8)
        .map(i => s"(CASE WHEN a.mh$i = b.mh$i THEN 1 ELSE 0 END)")
        .mkString(" + ")
      s"""WITH docs0 AS (SELECT * FROM documents WHERE doc_id < 200),
         |sh AS (SELECT doc_id, $shingles AS sh FROM docs0),
         |mh AS (SELECT doc_id, ${(0 until 8).map(i => s"${minhashSql(i)} AS mh$i").mkString(", ")} FROM sh),
         |bands AS (SELECT doc_id, unnest(${(0 until 4).map(bandSql).mkString("[", ", ", "]")}) AS band FROM mh),
         |cand AS (SELECT DISTINCT ba.doc_id AS id_a, bb.doc_id AS id_b
         |         FROM bands ba JOIN bands bb
         |           ON ba.band = bb.band AND ba.doc_id < bb.doc_id)
         |SELECT id_a, id_b,
         |  round(($matches) / 8.0, 4) AS est_jaccard,
         |  round(len(list_filter(sa.sh, x -> list_contains(sb.sh, x))) * 1.0 /
         |    (len(sa.sh) + len(sb.sh)
         |     - len(list_filter(sa.sh, x -> list_contains(sb.sh, x)))), 4) AS jaccard
         |FROM cand JOIN mh a ON cand.id_a = a.doc_id
         |          JOIN mh b ON cand.id_b = b.doc_id
         |          JOIN sh sa ON cand.id_a = sa.doc_id
         |          JOIN sh sb ON cand.id_b = sb.doc_id
         |ORDER BY id_a, id_b""".stripMargin
    },
    "q46_simhash" ->
      s"""WITH $simhashCte
         |SELECT doc_id, simhash FROM sims
         |WHERE doc_id < 100 ORDER BY doc_id""".stripMargin,
    "q113_source_dup_matrix" ->
      s"""WITH $simhashCte,
         |cand AS (
         |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         |         a.simhash AS sa, b.simhash AS sb
         |  FROM sims a JOIN sims b
         |    ON ((a.simhash >> 45) & 32767) = ((b.simhash >> 45) & 32767)
         |   AND a.doc_id < b.doc_id
         |  UNION
         |  SELECT a.doc_id, b.doc_id, a.simhash, b.simhash
         |  FROM sims a JOIN sims b
         |    ON ((a.simhash >> 30) & 32767) = ((b.simhash >> 30) & 32767)
         |   AND a.doc_id < b.doc_id),
         |pairs AS (SELECT id_a, id_b FROM cand
         |          WHERE bit_count(xor(sa, sb)) <= 20),
         |attr AS (
         |  SELECT least(da.source, db.source) AS source_x,
         |         greatest(da.source, db.source) AS source_y
         |  FROM pairs
         |  JOIN documents da ON pairs.id_a = da.doc_id
         |  JOIN documents db ON pairs.id_b = db.doc_id)
         |SELECT source_x, source_y, cast(count(*) as bigint) AS n_near_pairs
         |FROM attr GROUP BY source_x, source_y
         |ORDER BY source_x, source_y""".stripMargin,
    "q89_simhash_multiprobe" ->
      s"""WITH $simhashCte,
         |cand AS (
         |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         |         a.simhash AS sa, b.simhash AS sb
         |  FROM sims a JOIN sims b
         |    ON ((a.simhash >> 45) & 32767) = ((b.simhash >> 45) & 32767)
         |   AND a.doc_id < b.doc_id
         |  UNION
         |  SELECT a.doc_id, b.doc_id, a.simhash, b.simhash
         |  FROM sims a JOIN sims b
         |    ON ((a.simhash >> 30) & 32767) = ((b.simhash >> 30) & 32767)
         |   AND a.doc_id < b.doc_id)
         |SELECT id_a, id_b,
         |  cast(bit_count(xor(sa, sb)) as int) AS hamming
         |FROM cand WHERE bit_count(xor(sa, sb)) <= 20
         |ORDER BY id_a, id_b""".stripMargin,
    "q47_simhash_pairs" ->
      s"""WITH $simhashCte,
         |bk AS (SELECT doc_id, simhash, simhash >> 44 AS bucket FROM sims)
         |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         |  cast(bit_count(xor(a.simhash, b.simhash)) as int) AS hamming
         |FROM bk a JOIN bk b ON a.bucket = b.bucket AND a.doc_id < b.doc_id
         |WHERE bit_count(xor(a.simhash, b.simhash)) <= 20
         |ORDER BY id_a, id_b""".stripMargin,
    "q48_ann_cosine" ->
      s"""WITH $cosineCte,
         |q AS (SELECT * FROM e WHERE vec_id < 20),
         |s AS (SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
         |  round(list_dot_product(q.v, e.v) /
         |    (sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(e.v, e.v))), 6) AS cos
         |  FROM q CROSS JOIN e WHERE q.vec_id != e.vec_id),
         |r AS (SELECT *, cast(row_number() OVER (PARTITION BY query_id
         |        ORDER BY cos DESC, neighbor_id) as int) AS rank FROM s)
         |SELECT query_id, neighbor_id, cos, rank
         |FROM r WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin,
    "q225_ann_mrr" ->
      s"""WITH $annMeterCtes,
         |fh AS (SELECT ex.query_id,
         |    CAST(min(ap.rank) AS BIGINT) AS first_hit_rank
         |  FROM ap JOIN ex ON ap.query_id = ex.query_id
         |    AND ap.neighbor_id = ex.neighbor_id
         |  GROUP BY ex.query_id),
         |qs AS (SELECT DISTINCT query_id FROM ex)
         |SELECT qs.query_id, fh.first_hit_rank,
         |  CAST(CASE WHEN fh.first_hit_rank IS NULL THEN 0
         |    ELSE 1000000 // fh.first_hit_rank END AS BIGINT)
         |    AS rr_e6,
         |  fh.first_hit_rank IS NOT NULL AS hit
         |FROM qs LEFT JOIN fh ON qs.query_id = fh.query_id
         |ORDER BY qs.query_id""".stripMargin,
    "q174_ann_recall" ->
      s"""WITH $annMeterCtes,
         |h AS (SELECT ex.query_id, CAST(count(*) AS BIGINT) AS n_hits
         |  FROM ap JOIN ex ON ap.query_id = ex.query_id
         |    AND ap.neighbor_id = ex.neighbor_id
         |  GROUP BY ex.query_id),
         |qs AS (SELECT query_id, CAST(count(*) AS BIGINT) AS n_exact
         |  FROM ex GROUP BY query_id)
         |SELECT qs.query_id,
         |  CAST(COALESCE(n_hits, 0) AS BIGINT) AS n_hits,
         |  CAST(COALESCE(n_hits, 0) * 1000000 // qs.n_exact AS BIGINT)
         |    AS recall_e6
         |FROM qs LEFT JOIN h ON qs.query_id = h.query_id
         |ORDER BY qs.query_id""".stripMargin,
    "q176_ann_ndcg" -> {
      val disc = graft.ops.Eval.ndcgDiscountsE6(5)
      val whens = disc.zipWithIndex
        .map { case (d, i) => s"WHEN ${i + 1} THEN $d" }.mkString(" ")
      val prefix = graft.ops.Eval.ndcgIdealPrefixE6(5)
      val idcgCase = "CASE qs.n_exact " + (1 until 5)
        .map(n => s"WHEN $n THEN ${prefix(n - 1)}").mkString(" ") +
        s" ELSE ${prefix.last} END"
      s"""WITH $annMeterCtes,
         |h AS (SELECT ex.query_id,
         |  CAST(sum(CASE ap.rank $whens ELSE 0 END) AS BIGINT) AS dcg_e6
         |  FROM ap JOIN ex ON ap.query_id = ex.query_id
         |    AND ap.neighbor_id = ex.neighbor_id
         |  GROUP BY ex.query_id),
         |qs AS (SELECT query_id, CAST(count(*) AS BIGINT) AS n_exact
         |  FROM ex GROUP BY query_id)
         |SELECT qs.query_id,
         |  CAST(COALESCE(dcg_e6, 0) AS BIGINT) AS dcg_e6,
         |  CAST(COALESCE(dcg_e6, 0) * 1000000 // ($idcgCase) AS BIGINT)
         |    AS ndcg_e6
         |FROM qs LEFT JOIN h ON qs.query_id = h.query_id
         |ORDER BY qs.query_id""".stripMargin
    },
    "q49_ann_lsh" -> {
      val sigExpr = Fragments.rhpSigSql(8, "v")
      s"""WITH $cosineCte,
         |sig AS (SELECT vec_id, v, $sigExpr AS sig FROM e),
         |s AS (SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
         |  round(list_dot_product(a.v, b.v) /
         |    (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))), 6) AS cos
         |  FROM sig a JOIN sig b ON a.sig = b.sig AND a.vec_id != b.vec_id),
         |r AS (SELECT *, cast(row_number() OVER (PARTITION BY query_id
         |        ORDER BY cos DESC, neighbor_id) as int) AS rank FROM s)
         |SELECT query_id, neighbor_id, cos, rank
         |FROM r WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin
    },
    "q128_winnow_fp" ->
      s"""WITH ${winnowCte("documents")},
         |agg AS (
         |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_fp,
         |         min(h) AS fp_min, max(h) AS fp_max,
         |         CAST(sum(h) AS BIGINT) AS fp_sum
         |  FROM wfp GROUP BY doc_id)
         |SELECT d.doc_id, coalesce(a.n_fp, 0) AS n_fp,
         |       a.fp_min, a.fp_max, coalesce(a.fp_sum, 0) AS fp_sum
         |FROM documents d LEFT JOIN agg a USING (doc_id)
         |ORDER BY doc_id""".stripMargin,
    "q129_winnow_pairs" -> {
      val dupSrc =
        """(SELECT doc_id, text FROM documents
          | UNION ALL
          | SELECT doc_id + 100000, text FROM documents
          | WHERE doc_id < 50)""".stripMargin
      s"""WITH ${winnowCte(dupSrc)},
         |rare AS (SELECT h FROM wfp GROUP BY h HAVING count(*) <= 16),
         |pf AS (SELECT f.doc_id, f.h FROM wfp f JOIN rare r USING (h))
         |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         |       CAST(count(*) AS BIGINT) AS n_shared
         |FROM pf a JOIN pf b ON a.h = b.h AND a.doc_id < b.doc_id
         |GROUP BY 1, 2 HAVING count(*) >= 8
         |ORDER BY id_a, id_b""".stripMargin
    },
    // first-seen-wins replay: a digest's founding batch is
    // min(doc_id % 3); kept per batch = distinct digests founded
    // there, input per batch = raw row count
    "q237_dedup_registry" ->
      """WITH b AS (
        |  SELECT doc_id, CAST(doc_id % 3 AS INT) AS batch_no,
        |    md5(text) AS h
        |  FROM documents),
        |i AS (SELECT batch_no, count(*) AS n_in FROM b GROUP BY batch_no),
        |f AS (SELECT h, min(batch_no) AS batch_no FROM b GROUP BY h),
        |k AS (SELECT batch_no, count(*) AS n_kept FROM f GROUP BY batch_no)
        |SELECT i.batch_no, CAST(i.n_in AS BIGINT) AS n_in,
        |  CAST(coalesce(k.n_kept, 0) AS BIGINT) AS n_kept
        |FROM i LEFT JOIN k USING (batch_no)
        |ORDER BY i.batch_no""".stripMargin,
    // sequential banded-rule replay: per-batch identical-simhash
    // collapse, then survivor sets s0/s1/s2 chained by NOT EXISTS
    // against the accumulated registry under the shared-window +
    // hamming<=20 rule
    // batch-chained MinHash-band survivor replay: signatures (8 md5
    // minhashes over distinct 3-shingles), within-batch identical-
    // signature collapse, then the band-share + >=6-of-8 match rule
    // against each prior batch's survivors
    "q249_minhash_registry" -> {
      val mhs = (0 until 8).map(i => s"${minhashSql(i)} AS mh$i")
        .mkString(", ")
      val bandEq = (0 until 4).map(i =>
        s"(g.mh${2 * i} = r.mh${2 * i} AND g.mh${2 * i + 1} = r.mh${2 * i + 1})")
        .mkString("(", " OR ", ")")
      val nMatch = (0 until 8)
        .map(i => s"(CASE WHEN g.mh$i = r.mh$i THEN 1 ELSE 0 END)")
        .mkString(" + ")
      val rule = s"$bandEq AND ($nMatch) >= 6"
      val cols = (0 until 8).map(i => s"mh$i").mkString(", ")
      s"""WITH corpus AS MATERIALIZED (
         |  SELECT doc_id, text FROM documents
         |  UNION ALL
         |  SELECT doc_id + 300001, text || ' zz yy' FROM documents
         |  WHERE doc_id < 40),
         |sh AS MATERIALIZED (
         |  SELECT doc_id, $shingles AS sh, CAST(doc_id % 3 AS INT) AS b
         |  FROM corpus),
         |mh AS MATERIALIZED (SELECT doc_id, b, $mhs FROM sh),
         |rep AS MATERIALIZED (
         |  SELECT b, $cols, min(doc_id) AS doc_id
         |  FROM mh GROUP BY b, $cols),
         |s0 AS MATERIALIZED (SELECT * FROM rep WHERE b = 0),
         |s1 AS MATERIALIZED (SELECT r.* FROM rep r
         |      WHERE r.b = 1 AND NOT EXISTS (
         |        SELECT 1 FROM s0 g WHERE $rule)),
         |reg2 AS (SELECT * FROM s0 UNION ALL SELECT * FROM s1),
         |s2 AS MATERIALIZED (SELECT r.* FROM rep r
         |      WHERE r.b = 2 AND NOT EXISTS (
         |        SELECT 1 FROM reg2 g WHERE $rule)),
         |i AS (SELECT CAST(doc_id % 3 AS INT) AS batch_no,
         |        count(*) AS n_in
         |      FROM corpus GROUP BY 1),
         |k AS (SELECT 0 AS batch_no, count(*) AS n_kept FROM s0
         |      UNION ALL SELECT 1, count(*) FROM s1
         |      UNION ALL SELECT 2, count(*) FROM s2)
         |SELECT i.batch_no, CAST(i.n_in AS BIGINT) AS n_in,
         |  CAST(k.n_kept AS BIGINT) AS n_kept
         |FROM i JOIN k ON i.batch_no = k.batch_no
         |ORDER BY i.batch_no""".stripMargin
    },
    "q241_near_registry" ->
      s"""WITH corpus AS (
         |  SELECT doc_id, text FROM documents
         |  UNION ALL
         |  SELECT doc_id + 300001, text || ' zz yy' FROM documents
         |  WHERE doc_id < 40),
         |tok AS (SELECT doc_id, unnest($toks) AS tk FROM corpus),
         |votes AS (
         |  SELECT doc_id, i,
         |    sum(CASE WHEN ((strpos('0123456789abcdef',
         |          substr(md5(tk), (i // 4) + 1, 1)) - 1) >> (i % 4)) & 1 = 1
         |        THEN 1 ELSE -1 END) AS vote
         |  FROM tok, range(60) r(i) GROUP BY doc_id, i),
         |sims AS (
         |  SELECT doc_id, cast(sum(CASE WHEN vote > 0
         |    THEN 1::BIGINT << i ELSE 0::BIGINT END) as bigint) AS simhash
         |  FROM votes GROUP BY doc_id),
         |sb AS (SELECT doc_id, simhash, CAST(doc_id % 3 AS INT) AS b
         |       FROM sims),
         |rep AS (SELECT b, simhash, min(doc_id) AS doc_id
         |        FROM sb GROUP BY b, simhash),
         |s0 AS (SELECT doc_id, simhash FROM rep WHERE b = 0),
         |s1 AS (SELECT r.doc_id, r.simhash FROM rep r
         |       WHERE r.b = 1 AND NOT EXISTS (
         |         SELECT 1 FROM s0 g
         |         WHERE (((g.simhash >> 45) & 32767)
         |                  = ((r.simhash >> 45) & 32767)
         |             OR ((g.simhash >> 30) & 32767)
         |                  = ((r.simhash >> 30) & 32767))
         |           AND bit_count(xor(g.simhash, r.simhash)) <= 20)),
         |reg2 AS (SELECT * FROM s0 UNION ALL SELECT * FROM s1),
         |s2 AS (SELECT r.doc_id, r.simhash FROM rep r
         |       WHERE r.b = 2 AND NOT EXISTS (
         |         SELECT 1 FROM reg2 g
         |         WHERE (((g.simhash >> 45) & 32767)
         |                  = ((r.simhash >> 45) & 32767)
         |             OR ((g.simhash >> 30) & 32767)
         |                  = ((r.simhash >> 30) & 32767))
         |           AND bit_count(xor(g.simhash, r.simhash)) <= 20)),
         |i AS (SELECT CAST(doc_id % 3 AS INT) AS batch_no,
         |        count(*) AS n_in
         |      FROM corpus GROUP BY 1),
         |k AS (SELECT 0 AS batch_no, count(*) AS n_kept FROM s0
         |      UNION ALL SELECT 1, count(*) FROM s1
         |      UNION ALL SELECT 2, count(*) FROM s2)
         |SELECT i.batch_no, CAST(i.n_in AS BIGINT) AS n_in,
         |  CAST(k.n_kept AS BIGINT) AS n_kept
         |FROM i JOIN k ON i.batch_no = k.batch_no
         |ORDER BY i.batch_no""".stripMargin,
    // all-pairs truth bucketed by hamming band + per-t window-share
    // counts, exact integer recall; windows read at shifts
    // 60-15(t+1) like the Spark side
    "q245_near_recall_meter" -> {
      def share(ts: Seq[Int]) = ts.map(t =>
        s"((sa >> ${60 - 15 * (t + 1)}) & 32767) " +
          s"= ((sb >> ${60 - 15 * (t + 1)}) & 32767)").mkString(" OR ")
      def meter(t: Int) =
        s"""SELECT $t AS tables, ham_band,
           |  count(*) AS n_truth,
           |  count(*) FILTER (WHERE ${share(0 until t)}) AS n_found
           |FROM p GROUP BY ham_band""".stripMargin
      s"""WITH corpus AS MATERIALIZED (
         |  SELECT doc_id, text FROM documents WHERE doc_id < 200
         |  UNION ALL
         |  SELECT doc_id + 300001, text || ' zz yy' FROM documents
         |  WHERE doc_id < 40),
         |tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tk
         |        FROM corpus),
         |votes AS (
         |  SELECT doc_id, i,
         |    sum(CASE WHEN ((strpos('0123456789abcdef',
         |          substr(md5(tk), (i // 4) + 1, 1)) - 1) >> (i % 4)) & 1 = 1
         |        THEN 1 ELSE -1 END) AS vote
         |  FROM tok, range(60) r(i) GROUP BY doc_id, i),
         |sims AS MATERIALIZED (
         |  SELECT doc_id, cast(sum(CASE WHEN vote > 0
         |    THEN 1::BIGINT << i ELSE 0::BIGINT END) as bigint) AS simhash
         |  FROM votes GROUP BY doc_id),
         |p AS MATERIALIZED (
         |  SELECT sa, sb, CASE WHEN h <= 5 THEN '00-05'
         |    WHEN h <= 12 THEN '06-12' ELSE '13-20' END AS ham_band
         |  FROM (SELECT a.simhash AS sa, b.simhash AS sb,
         |          bit_count(xor(a.simhash, b.simhash)) AS h
         |        FROM sims a JOIN sims b ON a.doc_id < b.doc_id)
         |  WHERE h <= 20),
         |m AS (${meter(2)} UNION ALL ${meter(4)})
         |SELECT tables, ham_band, CAST(n_truth AS BIGINT) AS n_truth,
         |  CAST(n_found AS BIGINT) AS n_found,
         |  CAST(n_found * 1000000 // n_truth AS BIGINT) AS recall_e6
         |FROM m ORDER BY tables, ham_band""".stripMargin
    },
    "q146_winnow_spans" -> {
      val punctSrc =
        """(SELECT doc_id, text FROM documents
          | UNION ALL
          | SELECT doc_id + 400000, regexp_replace(text, ' ', ', ', 'g')
          | FROM documents WHERE doc_id < 30)""".stripMargin
      s"""WITH ${winnowCte(punctSrc)},
         |nd AS (SELECT h, count(*) AS ndocs FROM wfp GROUP BY h),
         |per AS (
         |  SELECT f.doc_id, CAST(count(*) AS BIGINT) AS n_fp,
         |    CAST(sum(CASE WHEN nd.ndocs > 1 THEN 1 ELSE 0 END)
         |      AS BIGINT) AS n_dup_fp
         |  FROM wfp f JOIN nd USING (h) GROUP BY f.doc_id)
         |SELECT doc_id, n_fp, n_dup_fp,
         |  round(n_dup_fp / CAST(n_fp AS DOUBLE), 4) AS dup_ratio
         |FROM per WHERE n_dup_fp > 0 ORDER BY doc_id""".stripMargin
    }
  )
}
