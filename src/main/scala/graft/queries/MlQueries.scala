package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.feature.{Features, NaiveBayes}
import graft.io.Tables.table
import graft.text.TextFunctions
import graft.topic.Topics

/** Feature/topic-model surface (SURVEY.md M4/M12-M15): normalized
  * TF-IDF tagging, UCI/libsvm corpus exports, LDA, Word2Vec. Export
  * and tagging queries are exact and oracle-verified; model queries
  * (LDA/W2V) are seeded-deterministic but not reproducible by a SQL
  * engine, so they carry rows-only checks.
  */
object MlQueries extends QueryPack {

  private def toks = TextFunctions.tokens(col("text"))

  /** q63/q64 take their two views off one seeded LDA fit. */
  private val fittedLda = FitStore.slot { (s, dir) =>
    val f = Topics.fitLda(table(s, dir, "documents")
      .select(col("doc_id"), toks.as("toks")), "toks",
      k = 5, maxIter = 5, seed = 42L, vocabSize = 1000)
    FitStore.owned(f.vectorized)
    f
  }

  /** q189/q190/q194 share one exact-integer EM fit (topic.LdaEm); its
    * two pins (a vocabulary-bounded cache, an nnz-bounded cut) live
    * as long as the session.
    */
  private val emFit = FitStore.slot { (s, dir) =>
    val docs = table(s, dir, "documents")
      .select(col("doc_id"), toks.as("toks"))
    val (vocab, assign) = graft.topic.LdaEm.fit(docs, "doc_id", "toks",
      k = 4, vocabSize = 100, iters = 3)
    (FitStore.owned(vocab), FitStore.owned(assign))
  }

  /** q191's SPPMI embedding, pinned: the sparse rows are
    * vocab²-bounded, but similarPairs references them four times (two
    * dot sides, two norm attaches) — without materialization each
    * reference re-inlines the whole corpus-scan-and-count subtree (the
    * q116 trap; plan-audited: 8 document scans), which at real scale
    * means reading the corpus four times for a vocabulary-sized
    * artifact.
    */
  private val ppmiEmb = FitStore.slot((s, dir) =>
    FitStore.pinned(graft.topic.Ppmi.embed(
      table(s, dir, "documents").select(toks.as("toks")),
      "toks", window = 2, shift = 1)))

  /** The unrolled SQL replay of [[graft.topic.LdaEm.fit]] — one CTE
    * block per EM iteration, ending with relation `aN` (the final
    * assignments) and `voc`. Generated so the iteration count stays
    * a parameter (the q120 unrolled-Lloyd pattern).
    */
  private def ldaEmCtes(iters: Int, k: Int, vocabSize: Int): String = {
    val denomAdd = vocabSize * 10 // V·β in S-units; β=0.1 → 10
    // Every assignment CTE is AS MATERIALIZED: DuckDB 1.0 INLINES a
    // CTE at each reference, and a$p is referenced 4× per iteration
    // (plus up to 4× by the query tail), so the plain form
    // re-evaluates the whole EM chain ~4^depth times — the q194
    // objective oracle measured ~12 CPU-minutes inlined vs seconds
    // materialized. (The Spark side has the SAME lineage hazard,
    // solved by the eager localCheckpoint in LdaEm.fit.)
    val head =
      s"""WITH dw AS MATERIALIZED (
         |  SELECT d, t, CAST(count(*) AS BIGINT) AS cnt
         |  FROM (SELECT doc_id AS d, unnest(string_split(text, ' ')) AS t
         |        FROM documents)
         |  WHERE len(t) > 0 GROUP BY d, t),
         |voc AS MATERIALIZED (SELECT t, w FROM (
         |  SELECT t, CAST(row_number() OVER (ORDER BY n DESC, t)
         |    AS BIGINT) - 1 AS w
         |  FROM (SELECT t, sum(cnt) AS n FROM dw GROUP BY t))
         |  WHERE w < $vocabSize),
         |a0 AS MATERIALIZED (SELECT d, w, cnt, w % $k AS z
         |       FROM dw JOIN voc USING (t))""".stripMargin
    val its = (1 to iters).map { i =>
      val p = i - 1
      s""",
         |ndk$i AS (SELECT d, z, sum(cnt) AS c FROM a$p GROUP BY d, z),
         |nwk$i AS (SELECT w, z, sum(cnt) AS c FROM a$p GROUP BY w, z),
         |nk$i AS (SELECT z, sum(cnt) AS c FROM a$p GROUP BY z),
         |sc$i AS MATERIALIZED (
         |  SELECT t.d, t.w, t.cnt, zs.z2,
         |    CAST(100 * coalesce(ndk.c, 0) + 50 AS HUGEINT)
         |      * CAST(100 * coalesce(nwk.c, 0) + 10 AS HUGEINT)
         |      * 1000000 // (100 * coalesce(nk.c, 0) + $denomAdd) AS s
         |  FROM (SELECT d, w, cnt FROM a$p) t
         |  CROSS JOIN (SELECT unnest(range(0, $k)) AS z2) zs
         |  LEFT JOIN ndk$i ndk ON ndk.d = t.d AND ndk.z = zs.z2
         |  LEFT JOIN nwk$i nwk ON nwk.w = t.w AND nwk.z = zs.z2
         |  LEFT JOIN nk$i nk ON nk.z = zs.z2),
         |mx$i AS (SELECT d, w, max(s) AS ms FROM sc$i GROUP BY d, w),
         |a$i AS MATERIALIZED (
         |  SELECT sc.d, sc.w, sc.cnt, CAST(min(sc.z2) AS BIGINT) AS z
         |  FROM sc$i sc JOIN mx$i m
         |    ON m.d = sc.d AND m.w = sc.w AND sc.s = m.ms
         |  GROUP BY sc.d, sc.w, sc.cnt)""".stripMargin
    }.mkString
    head + its
  }

  def defs: Map[String, (SparkSession, String) => DataFrame] = Map(
    // M4: per-source label tags, min-max normalized tf × idf, top-10.
    "q60_user_tfidf" -> ((s, dir) => {
      Features.normalizedTfidfTags(
        table(s, dir, "documents").select(col("source"), toks.as("toks")),
        "source", "toks", k = 10)
        .orderBy(col("source"), col("score").desc, col("term"))
    }),

    // §2.10 UDTF: per-doc (term, tf) triples via the custom Catalyst
    // Generator (expressions.TermCounts) — the tf aggregation runs
    // map-side inside GenerateExec, so no token-level shuffle exists
    // in this plan (explode+groupBy, the reference's shape, shuffles
    // every token occurrence).
    "q88_term_tf_gen" -> ((s, dir) => {
      import org.apache.spark.sql.GraftShim
      val toksCol = TextFunctions.tokens(col("text"))
      table(s, dir, "documents").filter(col("doc_id") < 100)
        .select(col("doc_id"), GraftShim.column(
          graft.expressions.TermCounts(GraftShim.expression(toksCol))))
        .orderBy(col("doc_id"), col("term"))
    }),

    // The SQL face of the same Generator: graft_term_counts resolved
    // through spark.sql.extensions (GraftSession wires
    // GraftExtensions), LATERAL VIEW over a temp view — verifies the
    // plain-SQL registration end to end, not just the Column API.
    "q105_term_tf_sql" -> ((s, dir) => {
      table(s, dir, "documents").filter(col("doc_id") < 100)
        .createOrReplaceTempView("graft_docs_q105")
      s.sql(
        """SELECT doc_id, t.term AS term, t.tf AS tf
          |FROM graft_docs_q105
          |LATERAL VIEW graft_term_counts(split(text, ' ')) t AS term, tf
          |ORDER BY doc_id, term""".stripMargin)
    }),

    // M14: UCI docword triples with a stable sorted vocabulary.
    "q61_uci_docword" -> ((s, dir) => {
      Features.uciDocword(
        table(s, dir, "documents").filter(col("doc_id") < 100)
          .select(col("doc_id"), toks.as("toks")),
        "doc_id", "toks")
        .orderBy(col("did"), col("wid"))
    }),

    // M14: libsvm line assembly (wid:tf features ordered by wid).
    "q62_libsvm_lines" -> ((s, dir) => {
      Features.libsvmLines(
        table(s, dir, "documents").filter(col("doc_id") < 50)
          .select(col("doc_id"), toks.as("toks")),
        "doc_id", "toks")
        .orderBy(col("did"))
    }),

    // M12/M13: LDA topic descriptions (rows-only: seeded model;
    // fit shared with q64).
    "q63_lda_topics" -> ((s, dir) => fittedLda(s, dir).topics(5)),

    // M13: per-document dominant topic histogram (rows-only).
    "q64_lda_doc_topics" -> ((s, dir) => {
      fittedLda(s, dir).dominantTopic("doc_id")
        .groupBy(col("topic")).agg(count(lit(1)).as("n"))
        .orderBy(col("topic"))
    }),

    // The ORACLE-COMPLETE twin of q63 (topic.LdaEm): exact-integer
    // hard-EM topic fit — deterministic init (vocab index mod k),
    // fixed 3 iterations, fixed-point scores, max-join-min-z argmax
    // — so unlike the seeded mllib fit the ENTIRE training chain
    // hash-verifies against an unrolled SQL replay (the q120
    // exact-Lloyd precedent applied to topic models). Fit memoized,
    // shared with q190.
    "q189_lda_em_topics" -> ((s, dir) => {
      val (vocab, assign) = emFit(s, dir)
      graft.topic.LdaEm.topicTerms(vocab, assign, termsPerTopic = 8)
    }),

    // q64's oracle-complete twin: per-document dominant topic off
    // the same exact-integer EM fit (ties → smallest topic, the same
    // rule the E-step uses).
    "q190_lda_em_doc_topics" -> ((s, dir) => {
      graft.topic.LdaEm.docTopics(emFit(s, dir)._2, "doc_id")
    }),

    // The METRICS leg of the EM twin: the seeded mllib fit reports
    // logLikelihood/logPerplexity (q115), which no engine can
    // replay; this is the replayable counterpart — the collapsed
    // E-step score at each ASSIGNED topic, evaluated at the final
    // counts and summed per topic in fixed point. Same memoized fit.
    "q194_lda_em_objective" -> ((s, dir) => {
      graft.topic.LdaEm.objective(emFit(s, dir)._2, vocabSize = 100)
    }),

    // q65's oracle-complete twin (topic.Ppmi): word embeddings as
    // exact shifted-PPMI context rows — the closed-form matrix SGNS
    // implicitly factorizes (Levy & Goldberg 2014) — with top-20
    // cosine-similar word pairs as the output. Every count is
    // integer; the two float boundaries (ln, sqrt) are identical
    // IEEE expressions floored to millionths on both engines.
    // shift=1 (plain PPMI): the uniform salad corpus has PMI ratios
    // near 1, so the SGNS-flavored s=5 clamps EVERY entry to zero
    // (measured) — the spec exercises the shift, the query needs
    // nonzero vectors to have teeth (471 entries at sf0.01).
    "q191_sppmi_similar" -> ((s, dir) =>
      graft.topic.Ppmi.similarPairs(ppmiEmb(s, dir), k = 20)),

    // M13 full surface: the reference's online-optimizer fit with
    // explicit Dirichlet concentrations (α=β=3) plus the model
    // metrics it reports — logLikelihood / logPerplexity
    // (NewsLDAModel.scala:50-65). Rows-only: seeded fit metrics are
    // not SQL-replayable. Small k/maxIter keep the bench honest; the
    // param surface, not the model size, is what's under test.
    "q115_lda_metrics" -> ((s, dir) => {
      Topics.ldaModelMetrics(
        table(s, dir, "documents").select(toks.as("toks")), "toks",
        k = 3, optimizer = "online",
        docConcentration = 3.0, topicConcentration = 3.0,
        maxIter = 5, checkpointInterval = 2, vocabSize = 500)
    }),

    // M15: Word2Vec vocabulary embedding norms (rows-only).
    "q65_word2vec" -> ((s, dir) => {
      val norm = udf((v: org.apache.spark.ml.linalg.Vector) =>
        math.rint(math.sqrt(v.toArray.map(x => x * x).sum) * 1000) / 1000)
      // numPartitions = 1: the fixture wants exactly reproducible
      // vectors (the serialize-the-fit side of the documented trade)
      Topics.word2vec(
        table(s, dir, "documents").select(toks.as("toks")), "toks",
        numPartitions = 1)
        .select(col("word"), norm(col("vector")).as("vnorm"))
        .orderBy(col("word"))
    }),

    // Multinomial Naive Bayes langid: closed-form train on even
    // doc_ids, score odd doc_ids. Fixed-point integer log-probs
    // (floor millionths before any sum) make the whole train+score
    // pipeline an exact SQL replay — the trainable-classifier
    // curation step with no rows-only escape hatch.
    "q132_nb_langid" -> ((s, dir) =>
      nbScored(s, dir).orderBy(col("doc_id"))),

    // Model evaluation (the operator class every classifier-gated
    // pipeline needs BEFORE trusting the gate): per-class
    // tp/fp/fn + precision/recall/F1 over q132's scored test split,
    // all exact integers (counts and `div`-truncated e4 ratios — no
    // float boundary). Reuses the memoized scorer; the eval itself
    // is two bounded aggregates over the per-doc predictions.
    "q165_classifier_eval" -> ((s, dir) => {
      val scored = nbScored(s, dir)
      val perClass = scored.groupBy(col("actual").as("lang"))
        .agg(count(lit(1)).as("n_true"),
          sum(when(col("pred") === col("actual"), 1L).otherwise(0L))
            .as("tp"))
      val predTotals = scored.groupBy(col("pred").as("lang"))
        .agg(count(lit(1)).as("n_pred"))
      perClass.join(predTotals, Seq("lang"), "left")
        .select(col("lang"), col("n_true"), col("tp"),
          (coalesce(col("n_pred"), lit(0L)) - col("tp")).as("fp"),
          (col("n_true") - col("tp")).as("fn"))
        .select(col("lang"), col("n_true"), col("tp"), col("fp"),
          col("fn"),
          expr("CASE WHEN tp + fp = 0 THEN 0L " +
            "ELSE (tp * 10000L) div (tp + fp) END").as("prec_e4"),
          expr("(tp * 10000L) div n_true").as("rec_e4"),
          expr("CASE WHEN 2 * tp + fp + fn = 0 THEN 0L " +
            "ELSE (2 * tp * 10000L) div (2 * tp + fp + fn) END")
            .as("f1_e4"))
        .orderBy(col("lang"))
    })
  )

  /** q132/q165 share one NB train+score pass. */
  private val nbScored = FitStore.slot { (s, dir) =>
    val d = table(s, dir, "documents")
      .select(col("doc_id"), col("lang"), toks.as("toks"))
    val train = d.filter(col("doc_id") % 2 === 0)
    val test = d.filter(col("doc_id") % 2 === 1)
    FitStore.pinned(
      NaiveBayes.classify(train, test, "doc_id", "toks", "lang")
        .join(test.select(col("doc_id"), col("lang").as("actual")), "doc_id")
        .select(col("doc_id"), col("pred"), col("score_fx"), col("actual")))
  }

  def oracles: Map[String, String] = Map(
    "q189_lda_em_topics" ->
      (ldaEmCtes(iters = 3, k = 4, vocabSize = 100) +
        """,
          |nwkf AS (SELECT w, z, CAST(sum(cnt) AS BIGINT) AS n
          |         FROM a3 GROUP BY w, z),
          |top AS (SELECT z AS topic, w, n,
          |    CAST(row_number() OVER (PARTITION BY z
          |      ORDER BY n DESC, w) AS BIGINT) AS rnk
          |  FROM nwkf)
          |SELECT topic, rnk, t AS term, n
          |FROM top JOIN voc USING (w)
          |WHERE rnk <= 8 ORDER BY topic, rnk""".stripMargin),
    "q190_lda_em_doc_topics" ->
      (ldaEmCtes(iters = 3, k = 4, vocabSize = 100) +
        """,
          |ndkf AS (SELECT d, z, sum(cnt) AS n FROM a3 GROUP BY d, z),
          |mxf AS (SELECT d, max(n) AS mn FROM ndkf GROUP BY d)
          |SELECT ndkf.d AS doc_id, CAST(min(z) AS BIGINT) AS topic
          |FROM ndkf JOIN mxf ON mxf.d = ndkf.d AND ndkf.n = mxf.mn
          |GROUP BY ndkf.d ORDER BY doc_id""".stripMargin),
    "q194_lda_em_objective" ->
      (ldaEmCtes(iters = 3, k = 4, vocabSize = 100) +
        """,
          |ndf AS (SELECT d, z, sum(cnt) AS cdz FROM a3 GROUP BY d, z),
          |nwf AS (SELECT w, z, sum(cnt) AS cwz FROM a3 GROUP BY w, z),
          |nzf AS (SELECT z, sum(cnt) AS cz FROM a3 GROUP BY z),
          |scf AS (SELECT a.z, a.w, a.cnt,
          |    CAST(100 * nd.cdz + 50 AS HUGEINT)
          |      * CAST(100 * nw.cwz + 10 AS HUGEINT)
          |      * 1000000 // (100 * nz.cz + 1000) AS s
          |  FROM a3 a
          |  JOIN ndf nd ON nd.d = a.d AND nd.z = a.z
          |  JOIN nwf nw ON nw.w = a.w AND nw.z = a.z
          |  JOIN nzf nz ON nz.z = a.z)
          |SELECT z AS topic,
          |  CAST(count(DISTINCT w) AS BIGINT) AS n_terms,
          |  CAST(sum(cnt) AS BIGINT) AS n_tokens,
          |  CAST(sum(CAST(cnt AS HUGEINT) * s) // 1000000 AS BIGINT) AS obj
          |FROM scf GROUP BY z ORDER BY topic""".stripMargin),
    "q191_sppmi_similar" ->
      """WITH dts AS (
        |  SELECT list_filter(string_split(text, ' '), t -> len(t) > 0)
        |    AS ts FROM documents),
        |pr AS (
        |  SELECT unnest(CASE WHEN len(ts) > off THEN
        |      list_transform(range(1, len(ts) - off + 1),
        |        i -> CASE WHEN dir = 0 THEN ts[i] || ' ' || ts[i + off]
        |                  ELSE ts[i + off] || ' ' || ts[i] END)
        |    ELSE [] END) AS pair
        |  FROM dts,
        |       (SELECT unnest([1, 2]) AS off) o,
        |       (SELECT unnest([0, 1]) AS dir) dd),
        |pc AS (SELECT string_split(pair, ' ')[1] AS w,
        |    string_split(pair, ' ')[2] AS c,
        |    CAST(count(*) AS BIGINT) AS n
        |  FROM pr GROUP BY w, c),
        |mw AS (SELECT w, sum(n) AS nw FROM pc GROUP BY w),
        |mc AS (SELECT c, sum(n) AS nc FROM pc GROUP BY c),
        |tot AS (SELECT sum(n) AS nn FROM pc),
        |se AS (SELECT w, c, v FROM (
        |  SELECT w, c,
        |    CAST(floor(1000000.0 * ln(CAST(n AS DOUBLE) * nn / nw / nc
        |      / 1.0)) AS BIGINT) AS v
        |  FROM pc JOIN mw USING (w) JOIN mc USING (c) CROSS JOIN tot)
        |  WHERE v > 0),
        |dotp AS (SELECT a.w AS w1, b.w AS w2, sum(a.v * b.v) AS dot
        |  FROM se a JOIN se b ON a.c = b.c AND a.w < b.w
        |  GROUP BY w1, w2),
        |nrm AS (SELECT w, sum(v * v) AS ss FROM se GROUP BY w)
        |SELECT w1, w2,
        |  CAST(floor(1000000.0 * CAST(dot AS DOUBLE)
        |    / sqrt(CAST(n1.ss AS DOUBLE))
        |    / sqrt(CAST(n2.ss AS DOUBLE))) AS BIGINT) AS cos_e6
        |FROM dotp
        |JOIN nrm n1 ON n1.w = dotp.w1
        |JOIN nrm n2 ON n2.w = dotp.w2
        |ORDER BY cos_e6 DESC, w1, w2 LIMIT 20""".stripMargin,
    "q88_term_tf_gen" ->
      """SELECT doc_id, term, cast(count(*) as int) AS tf
        |FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS term
        |      FROM documents WHERE doc_id < 100)
        |GROUP BY doc_id, term
        |ORDER BY doc_id, term""".stripMargin,
    "q105_term_tf_sql" ->
      """SELECT doc_id, term, cast(count(*) as int) AS tf
        |FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS term
        |      FROM documents WHERE doc_id < 100)
        |GROUP BY doc_id, term
        |ORDER BY doc_id, term""".stripMargin,
    "q60_user_tfidf" ->
      """WITH tk AS (
        |  SELECT source, unnest(string_split(text, ' ')) AS term
        |  FROM documents),
        |tf AS (
        |  SELECT source, term, count(*) AS tf FROM tk GROUP BY source, term),
        |idf AS (
        |  SELECT term, ln(((SELECT count(DISTINCT source) FROM documents) + 1.0)
        |                  / (count(DISTINCT source) + 1.0)) AS idf
        |  FROM tf GROUP BY term),
        |ntf AS (
        |  SELECT source, term, tf,
        |    CASE WHEN max(tf) OVER (PARTITION BY source)
        |              = min(tf) OVER (PARTITION BY source) THEN 1.0
        |         ELSE (tf - min(tf) OVER (PARTITION BY source))
        |              / cast(max(tf) OVER (PARTITION BY source)
        |                     - min(tf) OVER (PARTITION BY source) as double)
        |    END AS ntf
        |  FROM tf),
        |nidf AS (
        |  SELECT term,
        |    CASE WHEN max(idf) OVER () = min(idf) OVER () THEN 1.0
        |         ELSE (idf - min(idf) OVER ())
        |              / (max(idf) OVER () - min(idf) OVER ())
        |    END AS nidf
        |  FROM idf),
        |scored AS (
        |  SELECT ntf.source, ntf.term, round(ntf.ntf * nidf.nidf, 4) AS score
        |  FROM ntf JOIN nidf ON ntf.term = nidf.term),
        |ranked AS (
        |  SELECT *, row_number() OVER (PARTITION BY source
        |    ORDER BY score DESC, term) AS rn
        |  FROM scored)
        |SELECT source, term, score FROM ranked WHERE rn <= 10
        |ORDER BY source, score DESC, term""".stripMargin,
    "q61_uci_docword" ->
      """WITH tk AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS term
        |  FROM documents WHERE doc_id < 100),
        |tf AS (
        |  SELECT doc_id, term, count(*) AS tf FROM tk GROUP BY doc_id, term),
        |vocab AS (
        |  SELECT term, row_number() OVER (ORDER BY term) AS wid
        |  FROM (SELECT DISTINCT term FROM tf))
        |SELECT tf.doc_id AS did, vocab.wid, tf.tf
        |FROM tf JOIN vocab ON tf.term = vocab.term
        |ORDER BY did, wid""".stripMargin,
    "q62_libsvm_lines" ->
      """WITH tk AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS term
        |  FROM documents WHERE doc_id < 50),
        |tf AS (
        |  SELECT doc_id, term, count(*) AS tf FROM tk GROUP BY doc_id, term),
        |vocab AS (
        |  SELECT term, row_number() OVER (ORDER BY term) AS wid
        |  FROM (SELECT DISTINCT term FROM tf)),
        |dw AS (
        |  SELECT tf.doc_id AS did, vocab.wid, tf.tf
        |  FROM tf JOIN vocab ON tf.term = vocab.term)
        |SELECT did,
        |  did || ' ' || string_agg(wid || ':' || tf, ' ' ORDER BY wid) AS line
        |FROM dw GROUP BY did ORDER BY did""".stripMargin,
    // Mirrors NaiveBayes.classify's IEEE op order exactly: every
    // log-prob floors to integer millionths before the per-doc sum.
    "q132_nb_langid" ->
      s"""WITH $nbCtes
         |SELECT doc_id, pred, score_fx, actual
         |FROM scored ORDER BY doc_id""".stripMargin,
    // eval tail over the same scored CTE chain: per-class counts +
    // div-truncated e4 ratios (denominators: precision = tp/n_pred,
    // recall = tp/n_true, F1 = 2tp/(2tp+fp+fn))
    "q165_classifier_eval" ->
      s"""WITH $nbCtes,
         |pc AS (SELECT actual AS lang,
         |         CAST(count(*) AS BIGINT) AS n_true,
         |         CAST(sum(CASE WHEN pred = actual THEN 1 ELSE 0 END)
         |           AS BIGINT) AS tp
         |       FROM scored GROUP BY actual),
         |pt AS (SELECT pred AS lang, CAST(count(*) AS BIGINT) AS n_pred
         |       FROM scored GROUP BY pred)
         |SELECT pc.lang, n_true, tp,
         |  CAST(COALESCE(n_pred, 0) - tp AS BIGINT) AS fp,
         |  CAST(n_true - tp AS BIGINT) AS fn,
         |  CAST(CASE WHEN COALESCE(n_pred, 0) = 0 THEN 0
         |       ELSE (tp * 10000) // COALESCE(n_pred, 0) END AS BIGINT)
         |    AS prec_e4,
         |  CAST((tp * 10000) // n_true AS BIGINT) AS rec_e4,
         |  CAST(CASE WHEN tp + COALESCE(n_pred, 0) + n_true - tp = 0 THEN 0
         |       ELSE (2 * tp * 10000)
         |            // (COALESCE(n_pred, 0) + n_true) END AS BIGINT)
         |    AS f1_e4
         |FROM pc LEFT JOIN pt ON pc.lang = pt.lang
         |ORDER BY pc.lang""".stripMargin
  )

  /** q132's full NB train+score CTE chain, ending in
    * `scored(doc_id, pred, score_fx, actual)` — shared by the q132
    * per-doc oracle and the q165 eval tail.
    */
  private val nbCtes: String =
      """tr AS (SELECT doc_id, lang, string_split(text, ' ') AS toks
        |            FROM documents WHERE doc_id % 2 = 0),
        |te AS (SELECT doc_id, lang, string_split(text, ' ') AS toks
        |       FROM documents WHERE doc_id % 2 = 1),
        |tl AS (SELECT l, term, CAST(count(*) AS BIGINT) AS c
        |       FROM (SELECT lang AS l, unnest(toks) AS term FROM tr)
        |       GROUP BY l, term),
        |vv AS (SELECT CAST(count(DISTINCT term) AS DOUBLE) AS v FROM tl),
        |ls AS (SELECT l, CAST(sum(c) AS DOUBLE) AS tot FROM tl GROUP BY l),
        |nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM tr),
        |lab AS (SELECT pr.l,
        |          CAST(floor(1e6 * ln(nl / n)) AS BIGINT) AS prior_fx,
        |          CAST(floor(1e6 * (ln(1.0) - ln(tot + v))) AS BIGINT)
        |            AS miss_fx
        |        FROM (SELECT lang AS l, CAST(count(*) AS BIGINT) AS nl
        |              FROM tr GROUP BY lang) pr
        |        JOIN ls USING (l) CROSS JOIN nn CROSS JOIN vv),
        |delta AS (SELECT term, tl.l,
        |            CAST(floor(1e6 * (ln(c + 1.0) - ln(tot + v)))
        |                 AS BIGINT) - miss_fx AS d
        |          FROM tl JOIN ls ON tl.l = ls.l
        |          JOIN lab ON tl.l = lab.l CROSS JOIN vv),
        |dt AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS cnt
        |       FROM (SELECT doc_id, unnest(toks) AS term FROM te)
        |       WHERE term IN (SELECT term FROM tl)
        |       GROUP BY doc_id, term),
        |md AS (SELECT doc_id, sum(cnt) AS m FROM dt GROUP BY doc_id),
        |sp AS (SELECT doc_id, l, sum(cnt * d) AS ss
        |       FROM dt JOIN delta USING (term) GROUP BY doc_id, l),
        |sc AS (SELECT md.doc_id, lab.l,
        |         prior_fx + m * miss_fx + coalesce(ss, 0) AS score
        |       FROM md CROSS JOIN lab
        |       LEFT JOIN sp ON sp.doc_id = md.doc_id AND sp.l = lab.l),
        |p AS (SELECT doc_id, l AS pred, score,
        |        row_number() OVER (PARTITION BY doc_id
        |          ORDER BY score DESC, l) AS rk FROM sc),
        |scored AS (
        |  SELECT p.doc_id, pred, CAST(score AS BIGINT) AS score_fx,
        |         te.lang AS actual
        |  FROM p JOIN te ON te.doc_id = p.doc_id
        |  WHERE rk = 1)""".stripMargin
}
