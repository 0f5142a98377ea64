package graft.queries

/** Oracle-SQL fragments shared across query packs. */
private[queries] object Fragments {

  /** The whitespace token list of `text` ([[graft.text.TextFunctions.tokens]]). */
  val toks = "string_split(text, ' ')"

  /** 3-shingles of `text` as a distinct list ([[graft.dedup.Dedup.shingles]]). */
  val shingles =
    s"list_distinct(list_transform(range(1, len($toks) - 1), " +
      s"i -> array_to_string($toks[i:i+2], ' ')))"

  /** MinHash value `seed` over the shingle list `sh`. */
  def minhashSql(seed: Int, sh: String = "sh"): String =
    s"list_min(list_transform($sh, x -> md5('$seed:' || x)))"

  /** LSH band key `b` over the minhash columns `mh<2b>`, `mh<2b+1>`. */
  def bandSql(b: Int): String =
    s"md5('band$b:' || mh${2 * b} || '|' || mh${2 * b + 1})"

  /** `e(vec_id, v)`: the embeddings as double lists. */
  val cosineCte =
    """e AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v
      |      FROM embeddings)""".stripMargin

  /** BM25 score CTE chain replaying [[graft.text.Tfidf.bm25Scores]]
    * (k1=1.2, b=0.75) for `terms` over `documents` — identical IEEE
    * op order to the Spark contribution expression, per-(doc,term)
    * contributions floored to integer millionths before the per-doc
    * sum. Ends with relation `bm(doc_id, bm25)`.
    */
  def bm25ScoresSql(terms: Seq[String]): String = {
    val inList = terms.map(t => s"'$t'").mkString(", ")
    s"""d AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
       |dl AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl, toks FROM d),
       |st AS (SELECT CAST(count(*) AS BIGINT) AS n,
       |              CAST(sum(dl) AS DOUBLE) AS sdl FROM dl),
       |tf AS (SELECT doc_id, dl, term, CAST(count(*) AS BIGINT) AS tf
       |       FROM (SELECT doc_id, dl, unnest(toks) AS term FROM dl)
       |       WHERE term IN ($inList)
       |       GROUP BY doc_id, dl, term),
       |dfq AS (SELECT term, CAST(count(*) AS BIGINT) AS df
       |        FROM tf GROUP BY term),
       |sc AS (SELECT tf.doc_id,
       |  CAST(floor(1e6 * ln((n - df + 0.5) / (df + 0.5) + 1.0)
       |    * (tf * 2.2)
       |    / (tf + 1.2 * (1.0 - 0.75 + 0.75 * dl / (sdl / n))))
       |    AS BIGINT) AS s
       |  FROM tf JOIN dfq USING (term) CROSS JOIN st),
       |bm AS (SELECT doc_id, CAST(sum(s) AS BIGINT) AS bm25
       |       FROM sc GROUP BY doc_id)""".stripMargin
  }

  /** DuckDB SQL computing [[graft.similarity.Ann.rhpSignature]] for a
    * 64-dim double-list expression `v` — same integer hash, same
    * double arithmetic order, so the signatures agree bit-for-bit.
    */
  def rhpSigSql(planes: Int, v: String): String =
    // quadratic pair-hash weights (k = j·1024 + d) — must stay
    // bit-identical to Ann.hyperplane/rhpSigUdf; the affine form it
    // replaced made planes near-parallel (PERF.md r13)
    (0 until planes).map { j =>
      s"""(CASE WHEN list_sum(list_transform(range(0, 64), d ->
         |  $v[d+1] * ((((d + ${j.toLong * 1024L + 1L}) * (d + ${j.toLong * 1024L + 2L}) % 1000000)
         |             * 2654435761) % 1000
         |            / 500.0 - 1.0))) > 0
         | THEN 1::BIGINT << $j ELSE 0::BIGINT END)""".stripMargin
    }.mkString(" + ")
}
