package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.io.Tables.table

/** Relational query surface: scans, projections, predicates, joins,
  * aggregations (SURVEY.md §2.1–§2.4). Each query maps a reference
  * idiom to the idiomatic Spark primitive; the oracle SQL states the
  * same computation for DuckDB.
  */
object RelationalQueries extends QueryPack {

  /** Exact distributed sum of a money-like double column: cast to
    * decimal so the sum is associative (order-independent) across
    * partitions, then back to double for a stable comparable value.
    * A raw double sum differs run-to-run with partitioning — at
    * 1000 executors that's a correctness bug, not noise.
    */
  private def dsum(c: Column): Column =
    sum(c.cast(DecimalType(18, 4))).cast("double")

  def defs: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Deterministic weighted sampling WITHOUT replacement
    // (ops.Sampling, Efraimidis-Spirakis): 100 documents drawn with
    // probability following their token count — the per-item mixing
    // primitive beside q126's class-level temperature mix. The
    // "random" sample hash-verifies: u is the seeded md5-prefix
    // hash, the rank key an identical floored IEEE ln on both
    // engines, and the top-k cut is TakeOrderedAndProject.
    // Stratified sample with EXACT largest-remainder allocation
    // (ops.Stratified): 60 documents split across languages in
    // proportion to their counts — base ⌊k·c/N⌋ plus remainder-
    // ranked +1s, all integer, Σ alloc = k exactly; the per-stratum
    // draw is the seeded md5 rank (constant k pre-cut →
    // WindowGroupLimit heaps before the stratum exchange), so the
    // whole "random" stratified sample hash-verifies.
    "q202_stratified_sample" -> ((s, dir) => {
      graft.ops.Stratified.sample(table(s, dir, "documents"),
          "lang", "doc_id", k = 60, seed = 11)
        .orderBy(col("lang"), col("rn"))
    }),

    "q193_weighted_sample" -> ((s, dir) => {
      val d = table(s, dir, "documents")
        .select(col("doc_id"),
          size(split(col("text"), " ")).cast("long").as("w"))
      graft.ops.Sampling.weightedSample(d, "doc_id", col("w"),
        k = 100, seed = 7)
    }),

    // Deterministic Bloom seen-set screen (ops.Bloom): the probe key
    // set tested map-side against the packed 2^16-bit / k=3 bloom of
    // the build keys — every bit a pure md5 function of the data, so
    // the oracle replays MEMBERSHIP AND THE FALSE-POSITIVE COUNT
    // exactly (a hash-verified probabilistic structure). At sf0.1
    // the bloom genuinely false-fires (~5% of unseen keys, fill
    // 0.37); the exact-verify join is what the pruned semi-join runs
    // on survivors only.
    "q192_bloom_seen" -> ((s, dir) => {
      val mBits = 1 << 16
      val kH = 3
      val bl = graft.ops.Bloom
      val build = table(s, dir, "part").filter(col("p_size") <= 25)
        .select(col("p_partkey").as("k")).distinct()
      val probe = table(s, dir, "lineitem")
        .select(col("l_partkey").as("k")).distinct()
      val words = bl.fitWords(bl.positions(build, "k", mBits, kH), mBits)
      probe
        .withColumn("__pass", bl.containsCol(words, mBits, kH, col("k")))
        .join(build.withColumn("__seen", lit(1)), Seq("k"), "left")
        .agg(
          count(lit(1)).as("n_probe"),
          sum(when(col("__pass"), 1L).otherwise(0L)).as("n_pass"),
          sum(when(col("__seen").isNotNull, 1L).otherwise(0L)).as("n_seen"),
          sum(when(col("__pass") && col("__seen").isNull, 1L).otherwise(0L))
            .as("n_false_pos"))
    }),

    // Q1-style pricing summary (SURVEY A1/F12; ref TFIDF.scala-era
    // groupBy aggregates). Filter is pushed to the parquet scan.
    "q01_pricing_summary" -> ((s, dir) => {
      table(s, dir, "lineitem")
        .filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          dsum(col("l_quantity")).as("sum_qty"),
          dsum(col("l_extendedprice")).as("sum_base_price"),
          dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount")))
            .as("sum_disc_price"),
          round(avg(col("l_quantity")), 4).as("avg_qty"),
          round(avg(col("l_discount")), 4).as("avg_disc"),
          count(lit(1)).as("count_order"))
        .orderBy(col("l_returnflag"), col("l_linestatus"))
    }),

    // Projection + rename + cast + pushed filter (P1/P5).
    "q02_select_cast" -> ((s, dir) => {
      table(s, dir, "orders")
        .filter(col("o_orderstatus") === "F" &&
          col("o_totalprice") > 1000.0)
        .select(
          col("o_orderkey").as("okey"),
          col("o_custkey").cast("int").as("ckey"),
          round(col("o_totalprice"), 2).as("price"),
          col("o_orderpriority").as("prio"))
        .orderBy(col("okey"))
    }),

    // LIKE predicates (P7) + group-count (A1).
    "q03_like_count" -> ((s, dir) => {
      table(s, dir, "part")
        .filter(col("p_type").like("%M%") && !col("p_name").like("%bolt%"))
        .groupBy(col("p_brand"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("p_brand"))
    }),

    // Conditional projection when/otherwise (P8) + constants (P9).
    "q04_conditional" -> ((s, dir) => {
      table(s, dir, "orders")
        .withColumn("bucket",
          when(col("o_totalprice") > 300000.0, lit("big"))
            .when(col("o_totalprice") > 100000.0, lit("mid"))
            .otherwise(lit("small")))
        .withColumn("flag", lit(1))
        .groupBy(col("bucket"))
        .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("total"),
          sum(col("flag")).as("nflags"))
        .orderBy(col("bucket"))
    }),

    // Multi-way star join (J1) with a broadcast dimension chain
    // (J8): nation/region are tiny → broadcast-hash-join, no shuffle
    // of the fact side for those joins.
    "q05_star_join" -> ((s, dir) => {
      val li = table(s, dir, "lineitem")
      val o = table(s, dir, "orders")
      val c = table(s, dir, "customer")
      val n = broadcast(table(s, dir, "nation"))
      val r = broadcast(table(s, dir, "region"))
      li.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(c, col("o_custkey") === col("c_custkey"))
        .join(n, col("c_nationkey") === col("n_nationkey"))
        .join(r, col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("r_name"), col("n_name"))
        .agg(
          dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount")))
            .as("revenue"),
          count(lit(1)).as("n_items"))
        .orderBy(col("r_name"), col("n_name"))
    }),

    // Left outer join + null counting (J2).
    "q06_left_join" -> ((s, dir) => {
      val c = table(s, dir, "customer")
      val o = table(s, dir, "orders")
      c.join(o, col("c_custkey") === col("o_custkey"), "left")
        .groupBy(col("c_mktsegment"))
        .agg(
          count(col("o_orderkey")).as("n_orders"),
          sum(when(col("o_orderkey").isNull, 1).otherwise(0))
            .as("n_no_order"))
        .orderBy(col("c_mktsegment"))
    }),

    // Left-anti join (J3) — first-class replacement for the
    // reference's left-join + filter("mark is null") idiom
    // (NewsMarchMarkPreProcess.scala:46-54).
    "q07_anti_join" -> ((s, dir) => {
      val c = table(s, dir, "customer")
      val o = table(s, dir, "orders")
      graft.ops.Relational.antiJoin(c,
        o.filter(col("o_orderstatus") === "P")
          .select(col("o_custkey").as("c_custkey")), Seq("c_custkey"))
        .select(col("c_custkey"), col("c_mktsegment"))
        .orderBy(col("c_custkey"))
    }),

    // Left-semi join (J4) — replacement for left-join +
    // filter("if_entity is not null") (ReadAppPortrait.scala:110).
    "q08_semi_join" -> ((s, dir) => {
      val su = table(s, dir, "supplier")
      val li = table(s, dir, "lineitem")
      graft.ops.Relational.semiJoin(su,
        li.filter(col("l_quantity") > 45.0)
          .select(col("l_suppkey").as("s_suppkey")), Seq("s_suppkey"))
        .select(col("s_suppkey"), col("s_name"))
        .orderBy(col("s_suppkey"))
    }),

    // Full outer join + key coalesce (J5/J6; ref LabelCombine).
    "q09_full_outer" -> ((s, dir) => {
      val cn = table(s, dir, "customer").groupBy(col("c_nationkey"))
        .agg(count(lit(1)).as("n_cust"))
      val sn = table(s, dir, "supplier").groupBy(col("s_nationkey"))
        .agg(count(lit(1)).as("n_supp"))
      cn.join(sn, cn("c_nationkey") === sn("s_nationkey"), "full")
        .select(
          coalesce(col("c_nationkey"), col("s_nationkey")).as("nationkey"),
          coalesce(col("n_cust"), lit(0L)).as("n_cust"),
          coalesce(col("n_supp"), lit(0L)).as("n_supp"))
        .orderBy(col("nationkey"))
    }),

    // Bucketed co-located join (io.Bucketing): orders and lineitem
    // are written ONCE per session+sfDir as bucketed+sorted external
    // tables (8 buckets on the orderkey, one file per bucket), and
    // the join then reads bucket layout straight from the catalog —
    // Scan → SortMergeJoin with NO Exchange on either side
    // (BucketingSpec pins the plan). The storage-side answer to
    // repeated fact-×-fact joins: shuffle each table once at ingest,
    // never again. The oracle is the plain join — layout must change
    // nothing but the plan.
    "q163_bucketed_join" -> ((s, dir) => {
      val (ot, lt) = bucketedTables(s, dir)
      graft.io.Bucketing
        .colocatedJoin(s, ot, lt, "o_orderkey", "l_orderkey")
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n_items"),
          sum(floor(col("l_extendedprice") * 100).cast("long"))
            .as("rev_fx"),
          sum(col("l_quantity").cast("long")).as("qty"))
        .orderBy(col("o_orderpriority"))
    }),

    // Z-order layout statistics (io.Zorder): every "file" is one
    // aligned z-prefix range over the Morton interleave of
    // (l_partkey, l_suppkey) — exactly the ranges a z-ordered write
    // lays down — and the query emits each file's bounding rectangle
    // and side spans, i.e. the min/max footer stats a pruning reader
    // consults. Computed as ONE parallel groupBy over a codegen'd
    // shift/mask cascade: no window, no global sort, no UDF.
    // LayoutSpec writes the layout for real and measures the pruning
    // ratio vs a single-key sort; the oracle replays the identical
    // masked interleave in SQL.
    "q167_zorder_layout" -> ((s, dir) => {
      graft.io.Zorder
        .fileStats(table(s, dir, "lineitem"),
          "l_partkey", "l_suppkey", shift = 24)
        .orderBy(col("file_id"))
    }),

    // Hilbert-curve layout (io.Hilbert): the continuous curve —
    // one grid step per index step, so every file is one CONNECTED
    // blob and bounding boxes are strictly tighter than Morton's at
    // the same file count (HilbertSpec measures it). 16 integer
    // rounds as chained Projects; the oracle replays all 16 as CTEs.
    "q173_hilbert_layout" -> ((s, dir) => {
      graft.io.Hilbert
        .fileStats(table(s, dir, "lineitem"),
          "l_partkey", "l_suppkey", shift = 24)
        .orderBy(col("file_id"))
    }),

    // Declarative data-quality contract (ops.Checks): every rule's
    // measurement is one aggregate expression in a SINGLE agg over a
    // SINGLE scan (never a job per rule), unpivoted to a verdict
    // table. The uniqueness rule FAILS by design — the synthetic
    // lineitem has duplicate (orderkey, linenumber) pairs, and a
    // checker that can't surface a violation verifies nothing.
    "q177_data_checks" -> ((s, dir) => {
      graft.ops.Checks.evaluate(table(s, dir, "lineitem"),
        dqRules.map { case (n, c, _, lo, hi) =>
          graft.ops.Checks.Rule(n, c, lo, hi)
        })
    }),

    // Exact ε-band join (ops.BandJoin): |x_l − x_r| ≤ ε as a
    // bucketed equi-join — the theta-join Spark would plan as a
    // broadcast nested loop becomes a 3-bucket explode + equi-join
    // with candidate volume 3× the true in-band density, never n·m.
    // Here: per part, how many OTHER parts price within 10 cents.
    // The oracle takes DuckDB's native range-join path (BETWEEN) —
    // two different engine strategies, one exact answer.
    "q221_band_join" -> ((s, dir) => {
      val p = table(s, dir, "part").select(col("p_partkey").as("k"),
        floor(col("p_retailprice") * 100).cast("long").as("fx"))
      graft.ops.BandJoin.bandPairs(p, "k", "fx", p, "k", "fx",
        eps = 10L)
        .filter(col("id_l") =!= col("id_r"))
        .groupBy(col("id_l"))
        .agg(count(lit(1)).as("n_in_band"))
        .select(col("id_l").as("part"), col("n_in_band"))
        .orderBy(col("part")).limit(200)
    }),

    // Privacy release gate (ops.Privacy): k-anonymity and
    // l-diversity over the customer catalog — QI = (nation,
    // $500 balance bucket), sensitive = market segment. The PII
    // scrubber (q91/q153) removes DIRECT identifiers; this measures
    // the INDIRECT ones a released table still leaks. One QI-keyed
    // two-level aggregate (no per-group value set materializes),
    // 1-row summary out.
    "q216_anonymity_gate" -> ((s, dir) => {
      graft.ops.Privacy.anonymityReport(
        table(s, dir, "customer").select(col("c_nationkey"),
          floor(col("c_acctbal") / 500).cast("long").as("bal_bucket"),
          col("c_mktsegment")),
        Seq("c_nationkey", "bal_bucket"), "c_mktsegment",
        k = 5, l = 3)
    }),

    // Union + distinct (U1) across two inputs.
    "q10_union_distinct" -> ((s, dir) => {
      val c = table(s, dir, "customer")
        .select(col("c_nationkey").cast("int").as("nationkey"))
      val su = table(s, dir, "supplier")
        .select(col("s_nationkey").cast("int").as("nationkey"))
      c.unionByName(su).distinct().orderBy(col("nationkey"))
    }),

    // Grouped distinct-count + approx sketch lives in q-extensions;
    // exact percentile / median (A5/W7; ref TFIDF.scala:177).
    "q11_percentile" -> ((s, dir) => {
      // exact percentile via the aggregate (partial aggregation in
      // parallel). A window-sort variant (ops.Relational
      // .exactPercentile) was measured SLOWER here: partitionBy on a
      // 3-value group column serializes 600k rows into 3 tasks —
      // it wins only when groups are numerous.
      table(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(
          round(expr("percentile(l_quantity, 0.5)"), 4).as("median_qty"),
          round(expr("percentile(l_quantity, 0.9)"), 4).as("p90_qty"),
          round(expr("percentile(l_extendedprice, 0.25)"), 4).as("p25_price"))
        .orderBy(col("l_returnflag"))
    }),

    // distinct projection (A6 dropDuplicates, deterministic form).
    "q12_distinct" -> ((s, dir) => {
      table(s, dir, "lineitem")
        .select(col("l_returnflag"), col("l_linestatus"))
        .distinct()
        .orderBy(col("l_returnflag"), col("l_linestatus"))
    }),

    // Rollup (beyond-reference relational coverage; Spark gives it
    // free — SURVEY §2.4 note).
    "q13_rollup" -> ((s, dir) => {
      table(s, dir, "orders")
        .rollup(col("o_orderstatus"), col("o_orderpriority"))
        .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("total"))
        .orderBy(col("o_orderstatus").asc_nulls_first,
          col("o_orderpriority").asc_nulls_first)
    }),

    // collect_list regrouping (A2) — deterministic via sorted,
    // distinct, stringified list (ref UserSearchWordTagDriver:48).
    "q14_collect_sorted" -> ((s, dir) => {
      val c = table(s, dir, "customer")
      val n = broadcast(table(s, dir, "nation"))
      c.join(n, col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name"))
        .agg(concat_ws(",",
          array_sort(collect_set(col("c_mktsegment")))).as("segments"))
        .orderBy(col("n_name"))
    }),

    // count_distinct exact (scale path pairs it with
    // approx_count_distinct — bench-only, see q15 plan note).
    "q15_count_distinct" -> ((s, dir) => {
      table(s, dir, "lineitem")
        .groupBy(col("l_linestatus"))
        .agg(
          countDistinct(col("l_partkey")).as("n_parts"),
          countDistinct(col("l_suppkey")).as("n_supps"),
          count(lit(1)).as("n_rows"))
        .orderBy(col("l_linestatus"))
    })
  )

  /** One bucketed-layout write per (session, sfDir) — the ingest
    * cost q163 amortizes; a repeat invocation in the same session
    * reuses the registered tables. Table names and paths are keyed by
    * the dir digest so scale factors never collide.
    */
  private val bucketedTables = FitStore.slot { (s, dir) =>
    val tag = java.lang.Integer.toHexString(dir.hashCode)
    val ot = s"graft_b_orders_$tag"
    val lt = s"graft_b_lineitem_$tag"
    val base = s"${System.getProperty("java.io.tmpdir")}/graft_bucketed/$tag"
    graft.io.Bucketing.writeBucketed(
      table(s, dir, "orders").select(col("o_orderkey"),
        col("o_orderpriority")),
      ot, s"$base/orders", "o_orderkey", buckets = 8)
    graft.io.Bucketing.writeBucketed(
      table(s, dir, "lineitem").select(col("l_orderkey"),
        col("l_extendedprice"), col("l_quantity")),
      lt, s"$base/lineitem", "l_orderkey", buckets = 8)
    (ot, lt)
  }

  /** The q177 rule table, stated ONCE: (name, Column metric, SQL
    * metric, lo, hi). The Spark side and the oracle derive from the
    * same rows so the contract cannot drift between them.
    */
  private def dqRules: Seq[(String, Column, String, Long, Long)] = {
    val ck = graft.ops.Checks
    Seq(
      ("complete_orderkey", ck.nullCount("l_orderkey"),
        "sum(CASE WHEN l_orderkey IS NULL THEN 1 ELSE 0 END)", 0L, 0L),
      ("complete_partkey", ck.nullCount("l_partkey"),
        "sum(CASE WHEN l_partkey IS NULL THEN 1 ELSE 0 END)", 0L, 0L),
      ("domain_returnflag",
        ck.outOfDomain("l_returnflag", Seq("A", "N", "R")),
        "sum(CASE WHEN l_returnflag IN ('A','N','R') THEN 0 ELSE 1 END)",
        0L, 0L),
      ("qty_min_fx", ck.minFx("l_quantity"),
        "min(floor(l_quantity * 100))", 100L, 5000L),
      ("qty_max_fx", ck.maxFx("l_quantity"),
        "max(floor(l_quantity * 100))", 100L, 5000L),
      ("discount_max_fx", ck.maxFx("l_discount"),
        "max(floor(l_discount * 100))", 0L, 10L),
      ("tax_max_fx", ck.maxFx("l_tax"),
        "max(floor(l_tax * 100))", 0L, 8L),
      ("unique_order_line",
        ck.duplicateCount(Seq("l_orderkey", "l_linenumber")),
        // mirror duplicateCount's null semantics (non-null-keyed rows
        // minus distinct) — count(*) would diverge the moment a null
        // key appears, exactly the drift the shared table prevents
        "sum(CASE WHEN l_orderkey IS NOT NULL" +
          " AND l_linenumber IS NOT NULL THEN 1 ELSE 0 END)" +
          " - count(DISTINCT (l_orderkey, l_linenumber))",
        0L, 0L))
  }

  private def dqOracle: String = {
    val metrics = dqRules.zipWithIndex
      .map { case ((_, _, sql, _, _), i) =>
        s"CAST($sql AS BIGINT) AS m$i" }
      .mkString(",\n  ")
    val rows = dqRules.zipWithIndex.map { case ((n, _, _, lo, hi), i) =>
      s"""SELECT '$n' AS rule, m$i AS measured,
         |  $lo::BIGINT AS lo, $hi::BIGINT AS hi,
         |  m$i >= $lo AND m$i <= $hi AS pass FROM m""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"WITH m AS (SELECT\n  $metrics\n FROM lineitem)\n" +
      rows + "\nORDER BY rule"
  }

  def oracles: Map[String, String] = Map(
    "q202_stratified_sample" ->
      """WITH c AS (SELECT lang, CAST(count(*) AS BIGINT) AS c
        |  FROM documents GROUP BY lang),
        |t AS (SELECT lang, c, sum(c) OVER () AS n FROM c),
        |a AS (SELECT lang, (60 * c) // n AS base, (60 * c) % n AS rem
        |  FROM t),
        |r AS (SELECT lang, base, rem,
        |    row_number() OVER (ORDER BY rem DESC, lang) AS rk,
        |    60 - sum(base) OVER () AS short FROM a),
        |al AS (SELECT lang,
        |    base + CASE WHEN rk <= short THEN 1 ELSE 0 END AS alloc
        |  FROM r),
        |s AS (SELECT lang, doc_id,
        |    CAST(row_number() OVER (PARTITION BY lang
        |      ORDER BY md5('11:' || CAST(doc_id AS VARCHAR)), doc_id)
        |      AS BIGINT) AS rn
        |  FROM documents)
        |SELECT s.lang, s.rn, s.doc_id FROM s JOIN al USING (lang)
        |WHERE s.rn <= al.alloc ORDER BY lang, rn""".stripMargin,
    "q193_weighted_sample" ->
      """WITH d AS (SELECT doc_id,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS w
        |  FROM documents),
        |ks AS (SELECT doc_id, w,
        |    CAST(floor(1000000000.0 * ln(
        |      (CAST(CAST('0x' || substr(md5('7:' || CAST(doc_id AS VARCHAR)),
        |        1, 12) AS UBIGINT) AS BIGINT) + 1.0) / 281474976710656.0)
        |      / w) AS BIGINT) AS key_e9
        |  FROM d WHERE w > 0)
        |SELECT doc_id, w, key_e9 FROM ks
        |ORDER BY key_e9 DESC, doc_id LIMIT 100""".stripMargin,
    "q192_bloom_seen" ->
      """WITH b AS (SELECT DISTINCT p_partkey AS k FROM part
        |           WHERE p_size <= 25),
        |bp AS (SELECT DISTINCT
        |    CAST(CAST('0x' || substr(md5(i || ':' || CAST(b.k AS VARCHAR)),
        |      1, 12) AS UBIGINT) AS BIGINT) % 65536 AS p
        |  FROM b, (SELECT unnest(range(0, 3)) AS i) ii),
        |pk AS (SELECT DISTINCT l_partkey AS k FROM lineitem),
        |pp AS (SELECT pk.k,
        |    CAST(CAST('0x' || substr(md5(i || ':' || CAST(pk.k AS VARCHAR)),
        |      1, 12) AS UBIGINT) AS BIGINT) % 65536 AS p
        |  FROM pk, (SELECT unnest(range(0, 3)) AS i) ii),
        |pass AS (SELECT pp.k FROM pp LEFT JOIN bp ON bp.p = pp.p
        |  GROUP BY pp.k
        |  HAVING count(*) FILTER (WHERE bp.p IS NULL) = 0)
        |SELECT
        |  (SELECT CAST(count(*) AS BIGINT) FROM pk) AS n_probe,
        |  (SELECT CAST(count(*) AS BIGINT) FROM pass) AS n_pass,
        |  (SELECT CAST(count(*) AS BIGINT) FROM pk JOIN b ON b.k = pk.k)
        |    AS n_seen,
        |  (SELECT CAST(count(*) AS BIGINT) FROM pass
        |   LEFT JOIN b ON b.k = pass.k WHERE b.k IS NULL)
        |    AS n_false_pos""".stripMargin,
    "q177_data_checks" -> dqOracle,
    "q221_band_join" ->
      """WITH p AS (
        |  SELECT p_partkey AS k,
        |    CAST(floor(p_retailprice * 100) AS BIGINT) AS fx
        |  FROM part)
        |SELECT a.k AS part, CAST(count(*) AS BIGINT) AS n_in_band
        |FROM p a JOIN p b
        |  ON b.fx BETWEEN a.fx - 10 AND a.fx + 10 AND a.k != b.k
        |GROUP BY a.k ORDER BY part LIMIT 200""".stripMargin,
    "q216_anonymity_gate" ->
      """WITH g AS (
        |  SELECT c_nationkey,
        |    CAST(floor(c_acctbal / 500) AS BIGINT) AS bal_bucket,
        |    CAST(count(*) AS BIGINT) AS n,
        |    CAST(count(DISTINCT c_mktsegment) AS BIGINT)
        |      AS n_sensitive
        |  FROM customer GROUP BY c_nationkey, bal_bucket)
        |SELECT CAST(count(*) AS BIGINT) AS n_groups,
        |  CAST(sum(n) AS BIGINT) AS n_rows,
        |  CAST(sum(CASE WHEN n < 5 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS k_violations,
        |  CAST(sum(CASE WHEN n < 5 THEN n ELSE 0 END) AS BIGINT)
        |    AS rows_at_risk,
        |  CAST(sum(CASE WHEN n_sensitive < 3 THEN 1 ELSE 0 END)
        |    AS BIGINT) AS l_violations,
        |  min(n) AS k_achieved,
        |  min(n_sensitive) AS l_achieved
        |FROM g""".stripMargin,
    "q167_zorder_layout" -> {
      val z = graft.io.Zorder.zvalueSql("sa", "sb")
      s"""WITH st AS (
         |  SELECT min(l_partkey) AS amin, max(l_partkey) AS amax,
         |         min(l_suppkey) AS bmin, max(l_suppkey) AS bmax
         |  FROM lineitem),
         |s AS (
         |  SELECT l_partkey AS a, l_suppkey AS b,
         |    ((l_partkey - amin) * 65535)
         |      // greatest(amax - amin, 1) AS sa,
         |    ((l_suppkey - bmin) * 65535)
         |      // greatest(bmax - bmin, 1) AS sb
         |  FROM lineitem, st),
         |z AS (SELECT a, b, $z AS z FROM s)
         |SELECT (z >> 24) AS file_id,
         |  CAST(count(*) AS BIGINT) AS n_rows,
         |  min(a) AS min_a, max(a) AS max_a,
         |  min(b) AS min_b, max(b) AS max_b,
         |  max(a) - min(a) AS span_a, max(b) - min(b) AS span_b
         |FROM z GROUP BY file_id ORDER BY file_id""".stripMargin
    },
    "q173_hilbert_layout" ->
      s"""WITH st AS (
         |  SELECT min(l_partkey) AS amin, max(l_partkey) AS amax,
         |         min(l_suppkey) AS bmin, max(l_suppkey) AS bmax
         |  FROM lineitem),
         |s AS (
         |  SELECT l_partkey AS a, l_suppkey AS b,
         |    ((l_partkey - amin) * 65535)
         |      // greatest(amax - amin, 1) AS sa,
         |    ((l_suppkey - bmin) * 65535)
         |      // greatest(bmax - bmin, 1) AS sb
         |  FROM lineitem, st),
         |${graft.io.Hilbert.ctesSql(16)}
         |SELECT (z >> 24) AS file_id,
         |  CAST(count(*) AS BIGINT) AS n_rows,
         |  min(a) AS min_a, max(a) AS max_a,
         |  min(b) AS min_b, max(b) AS max_b,
         |  max(a) - min(a) AS span_a, max(b) - min(b) AS span_b
         |FROM h GROUP BY file_id ORDER BY file_id""".stripMargin,
    "q163_bucketed_join" ->
      """SELECT o.o_orderpriority,
        |  CAST(count(*) AS BIGINT) AS n_items,
        |  CAST(sum(CAST(floor(l.l_extendedprice * 100) AS BIGINT))
        |    AS BIGINT) AS rev_fx,
        |  CAST(sum(CAST(l.l_quantity AS BIGINT)) AS BIGINT) AS qty
        |FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
        |GROUP BY o.o_orderpriority ORDER BY o.o_orderpriority""".stripMargin,
    "q01_pricing_summary" ->
      """SELECT l_returnflag, l_linestatus,
        | cast(sum(cast(l_quantity as decimal(18,4))) as double) AS sum_qty,
        | cast(sum(cast(l_extendedprice as decimal(18,4))) as double) AS sum_base_price,
        | cast(sum(cast(l_extendedprice * (1.0 - l_discount) as decimal(18,4))) as double) AS sum_disc_price,
        | round(avg(l_quantity), 4) AS avg_qty,
        | round(avg(l_discount), 4) AS avg_disc,
        | cast(count(*) as bigint) AS count_order
        |FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,
    "q02_select_cast" ->
      """SELECT o_orderkey AS okey, cast(o_custkey as int) AS ckey,
        | round(o_totalprice, 2) AS price, o_orderpriority AS prio
        |FROM orders
        |WHERE o_orderstatus = 'F' AND o_totalprice > 1000.0
        |ORDER BY okey""".stripMargin,
    "q03_like_count" ->
      """SELECT p_brand, cast(count(*) as bigint) AS n
        |FROM part
        |WHERE p_type LIKE '%M%' AND p_name NOT LIKE '%bolt%'
        |GROUP BY p_brand ORDER BY p_brand""".stripMargin,
    "q04_conditional" ->
      """SELECT CASE WHEN o_totalprice > 300000.0 THEN 'big'
        |            WHEN o_totalprice > 100000.0 THEN 'mid'
        |            ELSE 'small' END AS bucket,
        | cast(count(*) as bigint) AS n,
        | cast(sum(cast(o_totalprice as decimal(18,4))) as double) AS total,
        | cast(count(*) as bigint) AS nflags
        |FROM orders GROUP BY 1 ORDER BY bucket""".stripMargin,
    "q05_star_join" ->
      """SELECT r_name, n_name,
        | cast(sum(cast(l_extendedprice * (1.0 - l_discount) as decimal(18,4))) as double) AS revenue,
        | cast(count(*) as bigint) AS n_items
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name, n_name ORDER BY r_name, n_name""".stripMargin,
    "q06_left_join" ->
      """SELECT c_mktsegment,
        | cast(count(o_orderkey) as bigint) AS n_orders,
        | cast(sum(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) as bigint) AS n_no_order
        |FROM customer LEFT JOIN orders ON c_custkey = o_custkey
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,
    "q07_anti_join" ->
      """SELECT c_custkey, c_mktsegment
        |FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders
        |                  WHERE o_custkey = c_custkey AND o_orderstatus = 'P')
        |ORDER BY c_custkey""".stripMargin,
    "q08_semi_join" ->
      """SELECT s_suppkey, s_name
        |FROM supplier
        |WHERE EXISTS (SELECT 1 FROM lineitem
        |              WHERE l_suppkey = s_suppkey AND l_quantity > 45.0)
        |ORDER BY s_suppkey""".stripMargin,
    "q09_full_outer" ->
      """WITH cn AS (SELECT c_nationkey, cast(count(*) as bigint) AS n_cust
        |            FROM customer GROUP BY c_nationkey),
        |     sn AS (SELECT s_nationkey, cast(count(*) as bigint) AS n_supp
        |            FROM supplier GROUP BY s_nationkey)
        |SELECT coalesce(c_nationkey, s_nationkey) AS nationkey,
        |       coalesce(n_cust, 0) AS n_cust,
        |       coalesce(n_supp, 0) AS n_supp
        |FROM cn FULL OUTER JOIN sn ON c_nationkey = s_nationkey
        |ORDER BY nationkey""".stripMargin,
    "q10_union_distinct" ->
      """SELECT DISTINCT nationkey FROM (
        | SELECT cast(c_nationkey as int) AS nationkey FROM customer
        | UNION ALL
        | SELECT cast(s_nationkey as int) AS nationkey FROM supplier)
        |ORDER BY nationkey""".stripMargin,
    "q11_percentile" ->
      """SELECT l_returnflag,
        | round(quantile_cont(cast(l_quantity as double), 0.5), 4) AS median_qty,
        | round(quantile_cont(cast(l_quantity as double), 0.9), 4) AS p90_qty,
        | round(quantile_cont(cast(l_extendedprice as double), 0.25), 4) AS p25_price
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "q12_distinct" ->
      """SELECT DISTINCT l_returnflag, l_linestatus
        |FROM lineitem ORDER BY l_returnflag, l_linestatus""".stripMargin,
    "q13_rollup" ->
      """SELECT o_orderstatus, o_orderpriority,
        | cast(count(*) as bigint) AS n,
        | cast(sum(cast(o_totalprice as decimal(18,4))) as double) AS total
        |FROM orders
        |GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
        |ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST""".stripMargin,
    "q14_collect_sorted" ->
      """SELECT n_name,
        | string_agg(DISTINCT c_mktsegment, ',' ORDER BY c_mktsegment) AS segments
        |FROM customer JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY n_name ORDER BY n_name""".stripMargin,
    "q15_count_distinct" ->
      """SELECT l_linestatus,
        | cast(count(DISTINCT l_partkey) as bigint) AS n_parts,
        | cast(count(DISTINCT l_suppkey) as bigint) AS n_supps,
        | cast(count(*) as bigint) AS n_rows
        |FROM lineitem GROUP BY l_linestatus ORDER BY l_linestatus""".stripMargin
  )
}
