package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.graph.Components
import graft.io.Tables.table
import graft.ops.{Packing, Pin, Snapshots}
import graft.text.{Redact, TextFunctions => T}

/** LLM-training-pipeline operators beyond the reference's surface:
  * context-window chunking, PII redaction, repetition-based quality
  * (Gopher-style duplicate n-gram ratio), filter-funnel accounting,
  * benchmark decontamination, near-dup clustering (connected
  * components over SimHash pairs), sequence packing, and
  * deterministic hash sampling.
  *
  * Every kernel here is either a per-row column expression (chunk,
  * redact, ratio, sample — scan-speed, shuffle-free) or a bounded
  * shuffle on a small derived key (trigram join, label propagation
  * over near-pair edges) — the shapes that survive a 100 TB corpus.
  */
object PipelineQueries extends QueryPack {
  import Fragments.toks

  /** Deterministic synthetic PII appended to each doc (the test
    * corpus carries none): the oracle synthesizes identically, so
    * the redaction itself is what gets verified.
    */
  private def withPii = concat(col("text"),
    lit(" contact user"), col("doc_id").cast("string"),
    lit("@example.com tel "),
    lpad((col("doc_id") % 10000).cast("string"), 3, "0"), lit("-"),
    lpad(((col("doc_id") * 7) % 10000).cast("string"), 4, "0"))

  /** Near-dup components (SimHash pairs → union-find), shared by q95
    * and q134; the shared simhashPairs edges are built inside this
    * build on first use.
    */
  private val dupComponents = FitStore.slot((s, dir) =>
    FitStore.pinned(Components.connectedComponents(
      table(s, dir, "documents").select(col("doc_id")),
      DedupQueries.simhashPairs(s, dir), "doc_id", "id_a", "id_b")))

  def defs: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Context-window chunking: 64-token windows every 48 tokens
    // (overlap 16). Chunk bodies compared by md5 so the result stays
    // narrow.
    "q90_chunking" -> ((s, dir) => {
      table(s, dir, "documents").filter(col("doc_id") < 50)
        .select(col("doc_id"),
          explode(T.tokenChunks(T.tokens(col("text")), 64, 48)).as("c"))
        .select(col("doc_id"),
          col("c.chunk_idx").as("chunk_idx"),
          size(col("c.chunk")).as("n_toks"),
          md5(array_join(col("c.chunk"), " ")).as("chunk_md5"))
        .orderBy(col("doc_id"), col("chunk_idx"))
    }),

    // PII redaction: counts found + digest of the masked text.
    "q91_pii_redact" -> ((s, dir) => {
      table(s, dir, "documents").filter(col("doc_id") < 200)
        .select(col("doc_id"),
          Redact.emailCount(withPii).as("n_emails"),
          Redact.phoneCount(withPii).as("n_phones"),
          md5(Redact.redactPii(withPii)).as("redacted_md5"))
        .orderBy(col("doc_id"))
    }),

    // Gopher-style repetition signal: share of duplicate trigrams.
    "q92_repeat_ngrams" -> ((s, dir) => {
      table(s, dir, "documents").filter(col("doc_id") < 200)
        .select(col("doc_id"),
          T.ngramsFast(T.tokens(col("text")), 3).as("tg"))
        .select(col("doc_id"),
          size(col("tg")).as("n_trigrams"),
          size(array_distinct(col("tg"))).as("n_distinct"))
        .withColumn("dup_ratio",
          when(col("n_trigrams") > 0,
            round(lit(1.0) - col("n_distinct") / col("n_trigrams"), 4))
            .otherwise(lit(0.0)))
        .orderBy(col("doc_id"))
    }),

    // Filter-funnel accounting: survivors of each successive quality
    // gate, in ONE aggregate pass (real pipelines report the funnel
    // without rescanning per stage).
    "q93_filter_funnel" -> ((s, dir) => {
      val d = table(s, dir, "documents")
        .select(col("n_chars"), T.tokens(col("text")).as("toks"))
        .select(col("n_chars"), size(col("toks")).as("n_toks"),
          size(array_distinct(col("toks"))).as("n_utoks"),
          T.ngramsFast(col("toks"), 3).as("tg"))
        .select(col("n_chars"), col("n_toks"), col("n_utoks"),
          size(col("tg")).as("n_tg"),
          size(array_distinct(col("tg"))).as("n_utg"))
      val s1 = col("n_chars").between(200, 100000)
      val s2 = s1 && col("n_toks").between(40, 5000)
      val s3 = s2 && col("n_utoks") / col("n_toks") >= 0.2
      val s4 = s3 && col("n_tg") > 0 &&
        lit(1.0) - col("n_utg") / col("n_tg") <= 0.6
      d.agg(
        count(lit(1)).as("n_total"),
        sum(when(s1, 1L).otherwise(0L)).as("n_len_ok"),
        sum(when(s2, 1L).otherwise(0L)).as("n_toks_ok"),
        sum(when(s3, 1L).otherwise(0L)).as("n_diversity_ok"),
        sum(when(s4, 1L).otherwise(0L)).as("n_repetition_ok"))
    }),

    // Benchmark decontamination: docs sharing any trigram with the
    // "benchmark" slice (doc_id < 5). The benchmark trigram set is
    // tiny and broadcast — the scan side never shuffles.
    "q94_decontam" -> ((s, dir) => {
      def grams(d: DataFrame) = d.select(col("doc_id"),
          explode(array_distinct(T.ngramsFast(T.tokens(col("text")), 3))).as("g"))
      val docs = table(s, dir, "documents")
      val bench = grams(docs.filter(col("doc_id") < 5))
        .select(col("g")).distinct()
      grams(docs.filter(col("doc_id") >= 5 && col("doc_id") < 200))
        .join(broadcast(bench), "g")
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_shared"))
        .orderBy(col("doc_id"))
    }),

    // Near-dup clustering: SimHash near-pairs (q89's multiprobe
    // shape) as edges, connected components by min-label
    // propagation, cluster id = min doc_id (the canonical doc a
    // dedup pass would keep).
    "q95_dup_clusters" -> ((s, dir) => {
      val comp = dupComponents(s, dir)
      val sizes = comp.groupBy(col("comp"))
        .agg(count(lit(1)).as("cluster_size"))
      comp.join(sizes, "comp")
        .select(col("id").as("doc_id"), col("comp").as("cluster_id"),
          col("cluster_size"))
        .orderBy(col("doc_id"))
    }),

    // Sequence packing: concat-and-chunk layout per lang shard,
    // capacity 512 tokens — every doc's window span is a pure
    // prefix-sum (one shuffle on the shard key).
    "q96_seq_packing" -> ((s, dir) => {
      val d = table(s, dir, "documents")
        .select(col("lang"), col("doc_id"),
          size(T.tokens(col("text"))).as("n_toks"))
      Packing.packSpans(d, "lang", "doc_id", "n_toks", 512)
        .select(col("lang"), col("doc_id"), col("n_toks"),
          col("start_off"), col("pack_first"), col("pack_last"))
        .orderBy(col("lang"), col("doc_id"))
    }),

    // GLOBAL concat-and-chunk packing (no shard): the corpus-wide
    // prefix sum runs banded (per-band totals + carry window over
    // band rows) — the single-task global window never appears.
    "q130_global_packing" -> ((s, dir) => {
      val d = table(s, dir, "documents")
        .select(col("doc_id"), size(T.tokens(col("text"))).as("n_toks"))
      Packing.packSpansGlobal(d, "doc_id", "n_toks", 512)
        .select(col("doc_id"), col("n_toks"),
          col("start_off"), col("pack_first"), col("pack_last"))
        .orderBy(col("doc_id"))
    }),

    // Near-dup-aware corpus split: the split is a pure function of
    // the doc's dup-cluster id (md5 bucket of cluster_id, 8/1/1), so
    // near-duplicates can never straddle train/valid/test — the
    // leakage mode a row-level hash split cannot prevent. Costs one
    // bucket expression on top of the shared memoized components.
    "q134_cluster_split" -> ((s, dir) => {
      dupComponents(s, dir)
        .select(col("id").as("doc_id"), col("comp").as("cluster_id"),
          graft.ops.Relational.hashSplit(col("comp")).as("split"))
        .orderBy(col("doc_id"))
    }),

    // Semi-supervised label propagation over the near-dup graph:
    // trusted lang labels (doc_id%3=0 seeds) spread 2 rounds to
    // unlabeled neighbors — the graph form of confidence relabeling
    // (M17). Bounded rounds keep it deterministic and SQL-unrollable.
    "q139_label_prop" -> ((s, dir) => {
      val nodes = table(s, dir, "documents")
        .select(col("doc_id"),
          when(col("doc_id") % 3 === 0, col("lang")).as("lang"))
      graft.graph.LabelProp.propagate(nodes,
        DedupQueries.simhashPairs(s, dir),
        "doc_id", "lang", "id_a", "id_b", rounds = 2)
        .orderBy(col("doc_id"))
    }),

    // Incremental-pipeline primitive: diff two corpus snapshots
    // (synthesized deterministically from the same table: v1 drops
    // doc_id%11=0, v2 drops %13=0 and revises %7=0) so downstream
    // stages re-run on the delta only. Digests computed map-side;
    // the full-outer shuffle never moves text.
    "q136_snapshot_diff" -> ((s, dir) => {
      val docs = table(s, dir, "documents")
      val v1 = docs.filter(col("doc_id") % 11 =!= 0)
        .select(col("doc_id"), col("text"))
      val v2 = docs.filter(col("doc_id") % 13 =!= 0)
        .select(col("doc_id"),
          when(col("doc_id") % 7 === 0, concat(col("text"), lit(" rev2")))
            .otherwise(col("text")).as("text"))
      Snapshots.diff(v1, v2, "doc_id", "text")
        .groupBy(col("status")).agg(count(lit(1)).as("n"))
        .orderBy(col("status"))
    }),

    // Deterministic stratified class cap: per-lang top-50 by md5
    // hash rank — the scale-safe form of the reference's
    // limit()-based class balancing (a limit is
    // partition-order-dependent; a hash rank is reproducible on any
    // cluster and any partitioning).
    "q101_stratified_cap" -> ((s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("lang"))
        .orderBy(md5(concat(col("text"), lit("#"),
          col("doc_id").cast("string"))), col("doc_id"))
      table(s, dir, "documents")
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 50)
        .select(col("lang"), col("doc_id"), col("rn"))
        .orderBy(col("lang"), col("doc_id"))
    }),

    // Deterministic hash sampling: md5-bucket (engine-portable, no
    // RNG) 10% sample, stratified accounting per lang.
    "q97_hash_sample" -> ((s, dir) => {
      val bucket =
        conv(substring(md5(col("text")), 1, 8), 16, 10).cast("long") % 100
      table(s, dir, "documents")
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_total"),
          sum(when(bucket < 10, 1L).otherwise(0L)).as("n_sampled"))
        .withColumn("rate", round(col("n_sampled") / col("n_total"), 4))
        .orderBy(col("lang"))
    }),

    // Source-keyed train/val/test split with a leakage PROOF in the
    // result: a doc's split is a pure function of md5(source) — never
    // of the doc — so same-source documents co-locate by
    // construction (the guard an eval-contamination-aware corpus
    // split needs; splitting on doc hash instead leaks near-identical
    // same-site pages across train and test). The per-split
    // n_leaky_sources column re-derives the property from the data
    // (count of sources seen in >1 split, always 0) rather than
    // asserting it, so the oracle verifies the guarantee itself. At
    // scale: two aggregates over (source, split) pairs — the heavy
    // per-doc stage is a scan-speed map, and the source-level tables
    // are web-domain-bounded.
    "q156_leakage_split" -> ((s, dir) => {
      val bucket =
        conv(substring(md5(col("source")), 1, 8), 16, 10).cast("long") % 10
      val split = when(bucket < 8, "train").when(bucket === 8, "val")
        .otherwise("test")
      val docs = table(s, dir, "documents").withColumn("split", split)
      val leaky = docs.groupBy(col("source"))
        .agg(countDistinct(col("split")).as("n_splits"))
        .filter(col("n_splits") > 1)
        .agg(count(lit(1)).as("n_leaky_sources"))
      docs.groupBy(col("split"))
        .agg(count(lit(1)).cast("long").as("n_docs"),
          countDistinct(col("source")).cast("long").as("n_sources"))
        .crossJoin(leaky)
        .select(col("split"), col("n_docs"), col("n_sources"),
          col("n_leaky_sources"))
        .orderBy(col("split"))
    }),

    // Incremental-curate driver (Pipelines.ingestBatch): THREE
    // batches chained through quality floor → exact-digest registry
    // → SimHash near-dup registry → vector registry → trigram
    // decontam vs a benchmark slice, each batch's text scanned ONCE.
    // Corpus = documents⋈embeddings ∪ near-copies (' zz yy' suffix,
    // same embedding, id+300001 — the near lane's catch) ∪ vec-twins
    // (id-salted unrelated text, same embedding, id+600001 — text
    // lanes pass them, the VECTOR registry catches them); both
    // offsets ≡ +1 mod 3, so every copy probes a LATER batch than
    // its source. Output one row per batch with the full stage
    // funnel; the oracle replays the whole chain from scratch.
    "q244_ingest_pipeline" -> ((s, dir) => {
      import graft.dedup.Registry
      val tag = java.lang.Integer.toHexString(dir.hashCode)
      val base =
        s"${System.getProperty("java.io.tmpdir")}/graft_registry_ing/$tag"
      val (exName, nrName, vcName) = (s"graft_ing_ex_$tag",
        s"graft_ing_nr_$tag", s"graft_ing_vc_$tag")
      Registry.create(s, Registry.Exact, exName, s"$base/ex", buckets = 8)
      Registry.create(s, Registry.Near(), nrName, s"$base/nr", buckets = 8)
      Registry.create(s, Registry.Vec(), vcName, s"$base/vc", buckets = 8)
      // doc_id < 500 caps the DEMO corpus at an absolute size (the
      // whole sf0.01 table; 4× less of sf0.1): the query demonstrates
      // the 4-stage chain and its oracle, and its write-path cost —
      // 9 registry appends + 18 stage counts across 3 batches — is
      // fixed-overhead-dominated, so benching it on 4× the rows just
      // re-measures the same overhead (r13 verdict #6); production
      // throughput claims live with RegistryScaling, not here
      val d = table(s, dir, "documents").select(col("doc_id"), col("text"))
        .filter(col("doc_id") < 500)
      val e = table(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding"))
      val b0 = d.join(e, col("doc_id") === col("vec_id"))
        .select(col("doc_id"), col("text"), col("embedding"))
      val nearCopies = b0.filter(col("doc_id") < 40)
        .select((col("doc_id") + 300001L).as("doc_id"),
          concat(col("text"), lit(" zz yy")).as("text"), col("embedding"))
      // text FIRST, id shift in a separate select: inside one select
      // list, Spark resolves col("doc_id") in a LATER item against the
      // EARLIER item's alias (lateral column alias), so combining them
      // built "vt600014x…" texts while the oracle built "vt13x…" — a
      // one-doc n_near divergence that only surfaced at sf0.1
      val vecTwins = b0.filter(col("doc_id") < 40)
        .withColumn("text",
          array_join(transform(sequence(lit(1), lit(30)),
            i => concat(lit("vt"), col("doc_id").cast("string"),
              lit("x"), i.cast("string"))), " "))
        .select((col("doc_id") + 600001L).as("doc_id"), col("text"),
          col("embedding"))
      // fixture prep, not operator cost: pin the 580-row demo corpus
      // once at 2 partitions so the jobs per batch inside
      // ingestBatch run 2-task, not 32-task (the fixture join's
      // shuffle width) — production callers pass their natural
      // partitioning; the per-batch one-text-scan contract is
      // IngestBatchSpec's accumulator pin, unaffected here
      val corpus = Pin.cut(b0.unionByName(nearCopies).unionByName(vecTwins)
        .repartition(2))
      val bench = d.filter(col("doc_id") < 5)
      val rows = try (0 until 3).map { b =>
        val r = graft.pipeline.Pipelines.ingestBatch(s,
          corpus.filter(col("doc_id") % 3 === b), "doc_id", "text",
          Seq(exName -> Registry.Exact, nrName -> Registry.Near(),
            vcName -> Registry.Vec()), bench, "text", b, minChars = 100)
        Pin.release(r.survivors)
        (b, r.nIn, r.nQuality, r.nExact, r.nNear, r.nVec, r.nClean)
      } finally Pin.release(corpus)
      import s.implicits._
      rows.toDF("batch_no", "n_in", "n_q", "n_exact", "n_near",
          "n_vec", "n_clean")
        .select(col("batch_no").cast("int"), col("n_in"), col("n_q"),
          col("n_exact"), col("n_near"), col("n_vec"), col("n_clean"))
        .orderBy(col("batch_no"))
    }),

    // REPLAY IDEMPOTENCE of the incremental-curate driver (the
    // at-least-once recovery contract, r13 advisory #2): two batches
    // through quality → exact registry → near registry → decontam,
    // then batch 1 RE-RUNS under the same batch number — the crash-
    // retry a real scheduler issues. Every registry probe excludes
    // the batch's own rows, so call 2 (the replay) reproduces call
    // 1's funnel exactly and appends nothing; the oracle emits the
    // clean two-batch chain with batch 1's row duplicated, which
    // only matches if the replay changes NOTHING. Copies of
    // doc_id<40 re-enter under +300001 (exact) and +600001
    // (' zz yy' near) — both odd shifts, so every copy probes the
    // opposite batch. Output (call, batch_no, n_q, n_exact, n_near,
    // n_clean).
    "q248_replay_ingest" -> ((s, dir) => {
      import graft.dedup.Registry
      val tag = java.lang.Integer.toHexString(dir.hashCode)
      val base =
        s"${System.getProperty("java.io.tmpdir")}/graft_registry_rpl/$tag"
      val (exName, nrName) = (s"graft_rpl_ex_$tag", s"graft_rpl_nr_$tag")
      Registry.create(s, Registry.Exact, exName, s"$base/ex", buckets = 8)
      Registry.create(s, Registry.Near(), nrName, s"$base/nr", buckets = 8)
      val d = table(s, dir, "documents").select(col("doc_id"), col("text"))
        .filter(col("doc_id") < 200)
      // same fixture-prep pin as q244: 2 partitions for a 280-row demo
      val corpus = Pin.cut(d
        .unionByName(d.filter(col("doc_id") < 40)
          .select((col("doc_id") + 300001L).as("doc_id"), col("text")))
        .unionByName(d.filter(col("doc_id") < 40)
          .select((col("doc_id") + 600001L).as("doc_id"),
            concat(col("text"), lit(" zz yy")).as("text")))
        .repartition(2))
      val bench = d.filter(col("doc_id") < 5)
      def run(b: Int) = {
        val r = graft.pipeline.Pipelines.ingestBatch(s,
          corpus.filter(col("doc_id") % 2 === b), "doc_id", "text",
          Seq(exName -> Registry.Exact, nrName -> Registry.Near()),
          bench, "text", b, minChars = 100)
        Pin.release(r.survivors)
        r
      }
      // the third call is the replay: same batch number, same rows
      val (r0, r1, r1r) =
        try (run(0), run(1), run(1)) finally Pin.release(corpus)
      import s.implicits._
      Seq((0, 0, r0.nQuality, r0.nExact, r0.nNear, r0.nClean),
          (1, 1, r1.nQuality, r1.nExact, r1.nNear, r1.nClean),
          (2, 1, r1r.nQuality, r1r.nExact, r1r.nNear, r1r.nClean))
        .toDF("call", "batch_no", "n_q", "n_exact", "n_near", "n_clean")
        .select(col("call").cast("int"), col("batch_no").cast("int"),
          col("n_q"), col("n_exact"), col("n_near"), col("n_clean"))
        .orderBy(col("call"))
    })
  )

  // ---- oracle SQL ----

  /** Trigrams of a token list column `l` (empty below 3 tokens —
    * generate_series(1, len-2) is empty when len < 3).
    */
  private def trigrams(l: String) =
    s"list_transform(generate_series(1, len($l) - 2), " +
      s"i -> $l[i] || ' ' || $l[i+1] || ' ' || $l[i+2])"

  private val piiSql =
    "text || ' contact user' || doc_id || '@example.com tel ' || " +
      "lpad(CAST(doc_id % 10000 AS VARCHAR), 3, '0') || '-' || " +
      "lpad(CAST((doc_id * 7) % 10000 AS VARCHAR), 4, '0')"

  def oracles: Map[String, String] = Map(
    "q90_chunking" ->
      s"""WITH tk AS (SELECT doc_id, $toks AS l FROM documents WHERE doc_id < 50),
         |off AS (SELECT doc_id, l,
         |          unnest(generate_series(0, len(l) - 1, 48)) AS o FROM tk)
         |SELECT doc_id, CAST(o // 48 AS INT) AS chunk_idx,
         |  CAST(len(l[o+1:o+64]) AS INT) AS n_toks,
         |  md5(array_to_string(l[o+1:o+64], ' ')) AS chunk_md5
         |FROM off ORDER BY doc_id, chunk_idx""".stripMargin,
    "q91_pii_redact" ->
      s"""WITH raw AS (SELECT doc_id, $piiSql AS r
         |            FROM documents WHERE doc_id < 200)
         |SELECT doc_id,
         |  CAST(len(regexp_extract_all(r, '${Redact.emailRe}')) AS INT) AS n_emails,
         |  CAST(len(regexp_extract_all(r, '${Redact.phoneRe}')) AS INT) AS n_phones,
         |  md5(regexp_replace(regexp_replace(r, '${Redact.emailRe}', '<EMAIL>', 'g'),
         |      '${Redact.phoneRe}', '<PHONE>', 'g')) AS redacted_md5
         |FROM raw ORDER BY doc_id""".stripMargin,
    "q92_repeat_ngrams" ->
      s"""WITH tk AS (SELECT doc_id, $toks AS l
         |            FROM documents WHERE doc_id < 200),
         |tg AS (SELECT doc_id, ${trigrams("l")} AS g FROM tk)
         |SELECT doc_id, CAST(len(g) AS INT) AS n_trigrams,
         |  CAST(len(list_distinct(g)) AS INT) AS n_distinct,
         |  CASE WHEN len(g) > 0
         |       THEN round(1.0 - len(list_distinct(g)) * 1.0 / len(g), 4)
         |       ELSE 0.0 END AS dup_ratio
         |FROM tg ORDER BY doc_id""".stripMargin,
    "q93_filter_funnel" ->
      s"""WITH base AS (
         |  SELECT n_chars, $toks AS l FROM documents),
         |m AS (
         |  SELECT n_chars, len(l) AS n_toks, len(list_distinct(l)) AS n_utoks,
         |    len(${trigrams("l")}) AS n_tg,
         |    len(list_distinct(${trigrams("l")})) AS n_utg
         |  FROM base),
         |f AS (
         |  SELECT *,
         |    (n_chars BETWEEN 200 AND 100000) AS s1,
         |    (n_chars BETWEEN 200 AND 100000)
         |      AND (n_toks BETWEEN 40 AND 5000) AS s2,
         |    (n_chars BETWEEN 200 AND 100000)
         |      AND (n_toks BETWEEN 40 AND 5000)
         |      AND (n_utoks * 1.0 / n_toks >= 0.2) AS s3,
         |    (n_chars BETWEEN 200 AND 100000)
         |      AND (n_toks BETWEEN 40 AND 5000)
         |      AND (n_utoks * 1.0 / n_toks >= 0.2)
         |      AND n_tg > 0 AND (1.0 - n_utg * 1.0 / n_tg <= 0.6) AS s4
         |  FROM m)
         |SELECT cast(count(*) as bigint) AS n_total,
         |  cast(sum(CASE WHEN s1 THEN 1 ELSE 0 END) as bigint) AS n_len_ok,
         |  cast(sum(CASE WHEN s2 THEN 1 ELSE 0 END) as bigint) AS n_toks_ok,
         |  cast(sum(CASE WHEN s3 THEN 1 ELSE 0 END) as bigint) AS n_diversity_ok,
         |  cast(sum(CASE WHEN s4 THEN 1 ELSE 0 END) as bigint) AS n_repetition_ok
         |FROM f""".stripMargin,
    "q94_decontam" ->
      s"""WITH tk AS (SELECT doc_id, $toks AS l FROM documents),
         |tg AS (SELECT doc_id,
         |         unnest(list_distinct(${trigrams("l")})) AS g FROM tk),
         |bench AS (SELECT DISTINCT g FROM tg WHERE doc_id < 5)
         |SELECT t.doc_id, cast(count(*) as bigint) AS n_shared
         |FROM tg t JOIN bench b ON t.g = b.g
         |WHERE t.doc_id >= 5 AND t.doc_id < 200
         |GROUP BY t.doc_id ORDER BY t.doc_id""".stripMargin,
    "q95_dup_clusters" ->
      s"""WITH RECURSIVE ${DedupQueries.simhashCte},
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
         |sym AS (SELECT id_a AS src, id_b AS dst FROM pairs
         |        UNION SELECT id_b, id_a FROM pairs),
         |reach(a, b) AS (
         |  SELECT doc_id, doc_id FROM documents
         |  UNION
         |  SELECT r.a, s.dst FROM reach r JOIN sym s ON r.b = s.src),
         |comp AS (SELECT a AS doc_id, min(b) AS cluster_id
         |         FROM reach GROUP BY a),
         |sizes AS (SELECT cluster_id, cast(count(*) as bigint) AS cluster_size
         |          FROM comp GROUP BY cluster_id)
         |SELECT c.doc_id, c.cluster_id, s.cluster_size
         |FROM comp c JOIN sizes s USING (cluster_id)
         |ORDER BY c.doc_id""".stripMargin,
    "q134_cluster_split" ->
      s"""WITH RECURSIVE ${DedupQueries.simhashCte},
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
         |sym AS (SELECT id_a AS src, id_b AS dst FROM pairs
         |        UNION SELECT id_b, id_a FROM pairs),
         |reach(a, b) AS (
         |  SELECT doc_id, doc_id FROM documents
         |  UNION
         |  SELECT r.a, s.dst FROM reach r JOIN sym s ON r.b = s.src),
         |comp AS (SELECT a AS doc_id, min(b) AS cluster_id
         |         FROM reach GROUP BY a),
         |b AS (SELECT doc_id, cluster_id,
         |        CAST(CAST('0x' || substr(md5(CAST(cluster_id AS VARCHAR)),
         |                                 1, 8) AS UBIGINT) % 10 AS BIGINT)
         |          AS bucket
         |      FROM comp)
         |SELECT doc_id, cluster_id,
         |  CASE WHEN bucket < 8 THEN 'train'
         |       WHEN bucket = 8 THEN 'valid'
         |       ELSE 'test' END AS split
         |FROM b ORDER BY doc_id""".stripMargin,
    // Plain WITH, deliberately: under WITH RECURSIVE DuckDB does NOT
    // dedup the UNION inside the (non-recursive) cand CTE, yielding
    // duplicate edges whose extra votes flip argmaxes at sf0.1 —
    // q139 has no recursive CTE, and edge multiplicity must match
    // Spark's distinct pairs. (q95/q134 keep RECURSIVE for reach;
    // their union-find is multiplicity-insensitive.)
    "q139_label_prop" ->
      s"""WITH ${DedupQueries.simhashCte},
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
         |sym AS (SELECT id_a AS src, id_b AS dst FROM pairs
         |        UNION SELECT id_b, id_a FROM pairs),
         |r0 AS (SELECT doc_id AS id,
         |         CASE WHEN doc_id % 3 = 0 THEN lang END AS lbl
         |       FROM documents),
         |v1 AS (SELECT s.dst, l.lbl, count(*) AS n
         |       FROM sym s JOIN r0 l ON s.src = l.id
         |       WHERE l.lbl IS NOT NULL GROUP BY s.dst, l.lbl),
         |w1 AS (SELECT dst AS id, lbl FROM (
         |         SELECT dst, lbl, row_number() OVER (PARTITION BY dst
         |           ORDER BY n DESC, lbl) AS rk FROM v1) WHERE rk = 1),
         |r1 AS (SELECT r0.id, coalesce(r0.lbl, w1.lbl) AS lbl
         |       FROM r0 LEFT JOIN w1 USING (id)),
         |v2 AS (SELECT s.dst, l.lbl, count(*) AS n
         |       FROM sym s JOIN r1 l ON s.src = l.id
         |       WHERE l.lbl IS NOT NULL GROUP BY s.dst, l.lbl),
         |w2 AS (SELECT dst AS id, lbl FROM (
         |         SELECT dst, lbl, row_number() OVER (PARTITION BY dst
         |           ORDER BY n DESC, lbl) AS rk FROM v2) WHERE rk = 1),
         |r2 AS (SELECT r1.id, coalesce(r1.lbl, w2.lbl) AS lbl
         |       FROM r1 LEFT JOIN w2 USING (id))
         |SELECT id AS doc_id, lbl AS lang FROM r2
         |ORDER BY doc_id""".stripMargin,
    "q136_snapshot_diff" ->
      """WITH v1 AS (SELECT doc_id, text FROM documents
        |            WHERE doc_id % 11 <> 0),
        |v2 AS (SELECT doc_id,
        |         CASE WHEN doc_id % 7 = 0 THEN text || ' rev2'
        |              ELSE text END AS text
        |       FROM documents WHERE doc_id % 13 <> 0)
        |SELECT CASE WHEN v1.doc_id IS NULL THEN 'added'
        |            WHEN v2.doc_id IS NULL THEN 'removed'
        |            WHEN md5(v1.text) = md5(v2.text) THEN 'unchanged'
        |            ELSE 'changed' END AS status,
        |       CAST(count(*) AS BIGINT) AS n
        |FROM v1 FULL OUTER JOIN v2 ON v1.doc_id = v2.doc_id
        |GROUP BY 1 ORDER BY status""".stripMargin,
    "q96_seq_packing" ->
      s"""WITH t AS (SELECT lang, doc_id,
         |             CAST(len($toks) AS INT) AS n_toks FROM documents),
         |w AS (SELECT lang, doc_id, n_toks,
         |  CAST(sum(n_toks) OVER (PARTITION BY lang ORDER BY doc_id
         |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |       - n_toks AS BIGINT) AS start_off
         |  FROM t)
         |SELECT lang, doc_id, n_toks, start_off,
         |  start_off // 512 AS pack_first,
         |  (start_off + n_toks - 1) // 512 AS pack_last
         |FROM w ORDER BY lang, doc_id""".stripMargin,
    "q130_global_packing" ->
      s"""WITH t AS (SELECT doc_id,
         |             CAST(len($toks) AS INT) AS n_toks FROM documents),
         |w AS (SELECT doc_id, n_toks,
         |  CAST(sum(n_toks) OVER (ORDER BY doc_id
         |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |       - n_toks AS BIGINT) AS start_off
         |  FROM t)
         |SELECT doc_id, n_toks, start_off,
         |  start_off // 512 AS pack_first,
         |  (start_off + n_toks - 1) // 512 AS pack_last
         |FROM w ORDER BY doc_id""".stripMargin,
    "q101_stratified_cap" ->
      """SELECT lang, doc_id, cast(rn as int) AS rn FROM (
        |  SELECT lang, doc_id,
        |    row_number() OVER (PARTITION BY lang
        |      ORDER BY md5(text || '#' || doc_id), doc_id) AS rn
        |  FROM documents)
        |WHERE rn <= 50 ORDER BY lang, doc_id""".stripMargin,
    "q97_hash_sample" ->
      """WITH b AS (
        |  SELECT lang,
        |    CAST(CAST('0x' || substr(md5(text), 1, 8) AS UBIGINT) % 100
        |         AS BIGINT) AS bucket
        |  FROM documents)
        |SELECT lang, cast(count(*) as bigint) AS n_total,
        |  cast(sum(CASE WHEN bucket < 10 THEN 1 ELSE 0 END) as bigint)
        |    AS n_sampled,
        |  round(sum(CASE WHEN bucket < 10 THEN 1 ELSE 0 END) * 1.0
        |        / count(*), 4) AS rate
        |FROM b GROUP BY lang ORDER BY lang""".stripMargin,
    "q156_leakage_split" ->
      """WITH d AS (
        |  SELECT source,
        |    CASE
        |      WHEN CAST(CAST('0x' || substr(md5(source), 1, 8) AS UBIGINT)
        |        % 10 AS BIGINT) < 8 THEN 'train'
        |      WHEN CAST(CAST('0x' || substr(md5(source), 1, 8) AS UBIGINT)
        |        % 10 AS BIGINT) = 8 THEN 'val'
        |      ELSE 'test' END AS split
        |  FROM documents),
        |leaky AS (
        |  SELECT cast(count(*) as bigint) AS n_leaky_sources FROM (
        |    SELECT source FROM d GROUP BY source
        |    HAVING count(DISTINCT split) > 1))
        |SELECT split, cast(count(*) as bigint) AS n_docs,
        |  cast(count(DISTINCT source) as bigint) AS n_sources,
        |  l.n_leaky_sources
        |FROM d, leaky l GROUP BY split, l.n_leaky_sources
        |ORDER BY split""".stripMargin,
    // from-scratch replay of the full ingest chain: quality filter,
    // first-seen exact keepers, batch-chained banded-simhash rule
    // (the q241 pattern over exact survivors), batch-chained
    // RHP-signature+cosine rule (the q242 pattern over near
    // survivors), trigram decontam. AS MATERIALIZED throughout —
    // DuckDB inlines CTEs per reference and the stage relations are
    // each read 2-4 times.
    "q244_ingest_pipeline" -> {
      val nearRule =
        """(((g.simhash >> 45) & 32767) = ((r.simhash >> 45) & 32767)
          | OR ((g.simhash >> 30) & 32767) = ((r.simhash >> 30) & 32767))
          | AND bit_count(xor(g.simhash, r.simhash)) <= 20""".stripMargin
      def cos(a: String, b: String) =
        s"round(list_dot_product($a, $b) / " +
          s"(sqrt(list_dot_product($a, $a)) * sqrt(list_dot_product($b, $b))), 6)"
      s"""WITH base AS MATERIALIZED (
         |  SELECT d.doc_id, d.text, e.embedding
         |  FROM documents d JOIN embeddings e ON e.vec_id = d.doc_id
         |  WHERE d.doc_id < 500),
         |corpus AS MATERIALIZED (
         |  SELECT doc_id, text, embedding FROM base
         |  UNION ALL
         |  SELECT doc_id + 300001, text || ' zz yy', embedding
         |  FROM base WHERE doc_id < 40
         |  UNION ALL
         |  SELECT doc_id + 600001,
         |    array_to_string(list_transform(range(1, 31),
         |      i -> 'vt' || doc_id::VARCHAR || 'x' || i::VARCHAR), ' '),
         |    embedding
         |  FROM base WHERE doc_id < 40),
         |q AS MATERIALIZED (
         |  SELECT doc_id, text, embedding, CAST(doc_id % 3 AS INT) AS b
         |  FROM corpus WHERE length(text) >= 100),
         |dig AS (SELECT doc_id, b, md5(text) AS h FROM q),
         |found AS (SELECT h, min(b) AS fb FROM dig GROUP BY h),
         |ek AS MATERIALIZED (
         |  SELECT d.h, d.b, min(d.doc_id) AS doc_id
         |  FROM dig d JOIN found f ON d.h = f.h AND d.b = f.fb
         |  GROUP BY d.h, d.b),
         |ekd AS MATERIALIZED (
         |  SELECT ek.doc_id, ek.b, q.text, q.embedding
         |  FROM ek JOIN q USING (doc_id)),
         |tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tk
         |        FROM ekd),
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
         |sb AS (SELECT s.doc_id, s.simhash, e.b
         |       FROM sims s JOIN ekd e USING (doc_id)),
         |nrep AS MATERIALIZED (SELECT b, simhash, min(doc_id) AS doc_id
         |        FROM sb GROUP BY b, simhash),
         |s0 AS MATERIALIZED (SELECT doc_id, simhash FROM nrep WHERE b = 0),
         |s1 AS MATERIALIZED (SELECT r.doc_id, r.simhash FROM nrep r
         |      WHERE r.b = 1 AND NOT EXISTS (
         |        SELECT 1 FROM s0 g WHERE $nearRule)),
         |nreg2 AS (SELECT * FROM s0 UNION ALL SELECT * FROM s1),
         |s2 AS MATERIALIZED (SELECT r.doc_id, r.simhash FROM nrep r
         |      WHERE r.b = 2 AND NOT EXISTS (
         |        SELECT 1 FROM nreg2 g WHERE $nearRule)),
         |ns AS MATERIALIZED (SELECT doc_id FROM s0
         |      UNION ALL SELECT doc_id FROM s1
         |      UNION ALL SELECT doc_id FROM s2),
         |vv AS MATERIALIZED (
         |  SELECT e.doc_id, e.b, e.text,
         |    list_transform(e.embedding, x -> x::DOUBLE) AS v
         |  FROM ekd e JOIN ns USING (doc_id)),
         |vrep AS MATERIALIZED (SELECT b, v, min(doc_id) AS doc_id
         |        FROM vv GROUP BY b, v),
         |vsg AS MATERIALIZED (SELECT b, doc_id, v,
         |        ${Fragments.rhpSigSql(16, "v")} AS sig FROM vrep),
         |v0 AS MATERIALIZED (SELECT doc_id, v, sig FROM vsg WHERE b = 0),
         |v1 AS MATERIALIZED (SELECT r.doc_id, r.v, r.sig FROM vsg r
         |      WHERE r.b = 1 AND NOT EXISTS (
         |        SELECT 1 FROM v0 g WHERE g.sig = r.sig
         |          AND ${cos("g.v", "r.v")} >= 0.99)),
         |vreg2 AS (SELECT * FROM v0 UNION ALL SELECT * FROM v1),
         |v2 AS MATERIALIZED (SELECT r.doc_id, r.v, r.sig FROM vsg r
         |      WHERE r.b = 2 AND NOT EXISTS (
         |        SELECT 1 FROM vreg2 g WHERE g.sig = r.sig
         |          AND ${cos("g.v", "r.v")} >= 0.99)),
         |vs AS MATERIALIZED (SELECT doc_id FROM v0
         |      UNION ALL SELECT doc_id FROM v1
         |      UNION ALL SELECT doc_id FROM v2),
         |bg AS MATERIALIZED (
         |  SELECT DISTINCT unnest(${trigrams("l")}) AS g
         |  FROM (SELECT $toks AS l FROM documents WHERE doc_id < 5)),
         |vd AS MATERIALIZED (
         |  SELECT vv.doc_id, vv.b, $toks AS l
         |  FROM vv JOIN vs USING (doc_id)),
         |tg AS (SELECT doc_id, b, unnest(${trigrams("l")}) AS g FROM vd),
         |hit AS MATERIALIZED (SELECT DISTINCT doc_id
         |      FROM tg JOIN bg USING (g)),
         |ci AS (SELECT CAST(doc_id % 3 AS INT) AS batch_no,
         |         count(*) AS n_in FROM corpus GROUP BY 1),
         |cq AS (SELECT b AS batch_no, count(*) AS n_q FROM q GROUP BY b),
         |ce AS (SELECT b AS batch_no, count(*) AS n_exact
         |       FROM ek GROUP BY b),
         |cn AS (SELECT 0 AS batch_no, count(*) AS n_near FROM s0
         |       UNION ALL SELECT 1, count(*) FROM s1
         |       UNION ALL SELECT 2, count(*) FROM s2),
         |cv AS (SELECT 0 AS batch_no, count(*) AS n_vec FROM v0
         |       UNION ALL SELECT 1, count(*) FROM v1
         |       UNION ALL SELECT 2, count(*) FROM v2),
         |cc AS (SELECT b AS batch_no, count(*) AS n_clean FROM vd
         |       WHERE doc_id NOT IN (SELECT doc_id FROM hit) GROUP BY b)
         |SELECT ci.batch_no, CAST(ci.n_in AS BIGINT) AS n_in,
         |  CAST(coalesce(cq.n_q, 0) AS BIGINT) AS n_q,
         |  CAST(coalesce(ce.n_exact, 0) AS BIGINT) AS n_exact,
         |  CAST(coalesce(cn.n_near, 0) AS BIGINT) AS n_near,
         |  CAST(coalesce(cv.n_vec, 0) AS BIGINT) AS n_vec,
         |  CAST(coalesce(cc.n_clean, 0) AS BIGINT) AS n_clean
         |FROM ci LEFT JOIN cq USING (batch_no)
         |  LEFT JOIN ce USING (batch_no) LEFT JOIN cn USING (batch_no)
         |  LEFT JOIN cv USING (batch_no) LEFT JOIN cc USING (batch_no)
         |ORDER BY ci.batch_no""".stripMargin
    },
    // the clean two-batch chain with batch 1's row emitted for BOTH
    // call 1 and call 2 — equality with the engine holds only if the
    // replayed call reproduced the original funnel exactly
    "q248_replay_ingest" -> {
      val nearRule =
        """(((g.simhash >> 45) & 32767) = ((r.simhash >> 45) & 32767)
          | OR ((g.simhash >> 30) & 32767) = ((r.simhash >> 30) & 32767))
          | AND bit_count(xor(g.simhash, r.simhash)) <= 20""".stripMargin
      s"""WITH corpus AS MATERIALIZED (
         |  SELECT doc_id, text FROM documents WHERE doc_id < 200
         |  UNION ALL
         |  SELECT doc_id + 300001, text FROM documents WHERE doc_id < 40
         |  UNION ALL
         |  SELECT doc_id + 600001, text || ' zz yy'
         |  FROM documents WHERE doc_id < 40),
         |q AS MATERIALIZED (
         |  SELECT doc_id, text, CAST(doc_id % 2 AS INT) AS b
         |  FROM corpus WHERE length(text) >= 100),
         |dig AS (SELECT doc_id, b, md5(text) AS h FROM q),
         |found AS (SELECT h, min(b) AS fb FROM dig GROUP BY h),
         |ek AS MATERIALIZED (
         |  SELECT d.h, d.b, min(d.doc_id) AS doc_id
         |  FROM dig d JOIN found f ON d.h = f.h AND d.b = f.fb
         |  GROUP BY d.h, d.b),
         |ekd AS MATERIALIZED (
         |  SELECT ek.doc_id, ek.b, q.text FROM ek JOIN q USING (doc_id)),
         |tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tk
         |        FROM ekd),
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
         |sb AS (SELECT s.doc_id, s.simhash, e.b
         |       FROM sims s JOIN ekd e USING (doc_id)),
         |nrep AS MATERIALIZED (SELECT b, simhash, min(doc_id) AS doc_id
         |        FROM sb GROUP BY b, simhash),
         |s0 AS MATERIALIZED (SELECT doc_id, simhash FROM nrep WHERE b = 0),
         |s1 AS MATERIALIZED (SELECT r.doc_id, r.simhash FROM nrep r
         |      WHERE r.b = 1 AND NOT EXISTS (
         |        SELECT 1 FROM s0 g WHERE $nearRule)),
         |ns AS (SELECT doc_id FROM s0 UNION ALL SELECT doc_id FROM s1),
         |bg AS MATERIALIZED (
         |  SELECT DISTINCT unnest(${trigrams("l")}) AS g
         |  FROM (SELECT $toks AS l FROM documents WHERE doc_id < 5)),
         |vd AS MATERIALIZED (
         |  SELECT e.doc_id, e.b, $toks AS l
         |  FROM ekd e JOIN ns USING (doc_id)),
         |tg AS (SELECT doc_id, b, unnest(${trigrams("l")}) AS g FROM vd),
         |hit AS MATERIALIZED (SELECT DISTINCT doc_id
         |      FROM tg JOIN bg USING (g)),
         |cq AS (SELECT b AS batch_no, count(*) AS n_q FROM q GROUP BY b),
         |ce AS (SELECT b AS batch_no, count(*) AS n_exact
         |       FROM ek GROUP BY b),
         |cn AS (SELECT 0 AS batch_no, count(*) AS n_near FROM s0
         |       UNION ALL SELECT 1, count(*) FROM s1),
         |cc AS (SELECT b AS batch_no, count(*) AS n_clean FROM vd
         |       WHERE doc_id NOT IN (SELECT doc_id FROM hit) GROUP BY b),
         |perb AS (
         |  SELECT cq.batch_no,
         |    CAST(cq.n_q AS BIGINT) AS n_q,
         |    CAST(coalesce(ce.n_exact, 0) AS BIGINT) AS n_exact,
         |    CAST(coalesce(cn.n_near, 0) AS BIGINT) AS n_near,
         |    CAST(coalesce(cc.n_clean, 0) AS BIGINT) AS n_clean
         |  FROM cq LEFT JOIN ce USING (batch_no)
         |    LEFT JOIN cn USING (batch_no) LEFT JOIN cc USING (batch_no)),
         |calls AS (SELECT 0 AS call, 0 AS batch_no
         |          UNION ALL SELECT 1, 1 UNION ALL SELECT 2, 1)
         |SELECT c.call, c.batch_no, p.n_q, p.n_exact, p.n_near, p.n_clean
         |FROM calls c JOIN perb p USING (batch_no)
         |ORDER BY c.call""".stripMargin
    }
  )
}
