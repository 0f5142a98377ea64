package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.ops.Exprs.bind
import graft.ops.Pin

/** Winnowing document fingerprints (Schleimer, Wilkerson, Aiken,
  * "Winnowing: Local Algorithms for Document Fingerprinting",
  * SIGMOD 2003 — the MOSS algorithm), as a per-row column kernel.
  *
  * Pipeline: normalize (lowercase, strip non-[a-z0-9]) → hash every
  * character k-gram → slide a window of w consecutive hashes and
  * keep each window's minimum → the distinct kept hashes are the
  * document's fingerprint set. The winnowing guarantee: any two
  * documents sharing a normalized substring of at least
  * t = k + w - 1 characters share at least one fingerprint, and no
  * match shorter than k is ever detected. Unlike the bag-of-words
  * [[TextFunctions.fingerprint]] (global, order-independent) or
  * MinHash (set-resemblance), winnowing fingerprints are LOCAL:
  * they find documents sharing contiguous passages — the
  * plagiarism / quote / template-reuse detector of a training-data
  * pipeline.
  *
  * Cross-engine determinism: the k-gram hash is the project's
  * md5-prefix idiom (`conv(substr(md5(g),1,8),16,10)`, cf. q97/DSIR)
  * so the full fingerprint chain — including the window minima —
  * replays exactly in DuckDB SQL (the q128/q129 oracles). The
  * classic rightmost-min tie rule affects only which POSITION is
  * recorded, never which hash value: this operator fingerprints
  * values only, so the tie rule (the one part of winnowing engines
  * disagree on) drops out of the contract entirely.
  *
  * Scale shape (100 TB): fingerprinting is a pure per-row map — no
  * shuffle, no state; it fuses into the document scan. The pair
  * report ([[sharedFingerprintPairs]]) shuffles only (id, hash64)
  * digests and bounds bucket fan-out with a document-frequency cap,
  * the same hot-key discipline as the LSH band join.
  *
  * Reference behavioral anchor: the reference's dedup surface is
  * whole-document (`NewsContentDupProcess.scala` exact-key dedup);
  * winnowing extends it to passage-level reuse, which whole-doc
  * hashing cannot see (beyond-reference, published algorithm).
  */
object Winnow {

  /** Winnowing guarantee threshold for (k, w): matches of at least
    * this many normalized characters always share a fingerprint.
    */
  def guaranteeThreshold(k: Int, w: Int): Int = k + w - 1

  /** Normalized text the fingerprints are computed over: lowercase,
    * every character outside [a-z0-9] removed (whitespace and
    * punctuation must not break a passage match — SIGMOD 2003 §1's
    * "irrelevant features" rule).
    */
  def normalize(text: Column): Column =
    regexp_replace(lower(text), "[^a-z0-9]", "")

  /** Expression form: distinct window-min k-gram hashes, in first-
    * occurrence order. Higher-order functions run interpreted, so
    * this form exists as the semantic reference ([[fingerprintsFast]]
    * is the hot-path kernel; WinnowSpec pins their equality).
    * Documents shorter than k+w-1 normalized chars yield an empty
    * array (no full window exists).
    */
  def fingerprints(text: Column, k: Int = 8, w: Int = 4): Column =
    bind(normalize(text)) { s =>
      when(length(s) >= k + w - 1,
        bind(transform(sequence(lit(1), length(s) - (k - 1)),
          p => conv(substring(md5(s.substr(p, lit(k))), 1, 8), 16, 10)
            .cast("long"))) { h =>
          array_distinct(transform(sequence(lit(1), size(h) - (w - 1)),
            q => array_min(slice(h, q, lit(w)))))
        })
        .otherwise(array().cast("array<long>"))
    }

  /** Compiled kernel computing exactly [[fingerprints]] in one pass:
    * one reused MessageDigest hashes each k-gram (first 4 digest
    * bytes as an unsigned 32-bit value = the md5-prefix idiom), and
    * an O(n·w) sliding scan takes window minima (w is 4-16; a
    * monotone-deque O(n) scan is not worth its branches here).
    * ASCII boundary: the kernel lowercases with Locale.ROOT and
    * keeps [a-z0-9] bytes, which agrees with the expression form's
    * `lower` + regexp on ASCII text (the documents fixture; exotic
    * one-to-many Unicode lowercasings are outside the contract).
    */
  def fingerprintsFast(text: Column, k: Int = 8, w: Int = 4): Column =
    winnowUdf(k, w)(text)

  /** One digest per thread (not per row) and one 16-byte output
    * buffer reused across grams — the per-gram loop allocates
    * nothing (the old form built a String + byte[] per gram and a
    * MessageDigest per row; PERF r10 has the A/B).
    */
  private val localMd5 =
    new ThreadLocal[java.security.MessageDigest] {
      override def initialValue(): java.security.MessageDigest =
        java.security.MessageDigest.getInstance("MD5")
    }

  private def winnowUdf(k: Int, w: Int) =
    udf { (raw: String) =>
      if (raw == null) Seq.empty[Long]
      else {
        val lower = raw.toLowerCase(java.util.Locale.ROOT)
        // kept chars are [a-z0-9] — single-byte UTF-8 by construction,
        // so the gram bytes can be sliced straight from one array
        val bytes = new Array[Byte](lower.length)
        var n = 0
        var i = 0
        while (i < lower.length) {
          val c = lower.charAt(i)
          if ((c >= 'a' && c <= 'z') || (c >= '0' && c <= '9')) {
            bytes(n) = c.toByte; n += 1
          }
          i += 1
        }
        val nGrams = n - k + 1
        if (nGrams < w) Seq.empty[Long]
        else {
          val digest = localMd5.get()
          val out16 = new Array[Byte](16)
          val hashes = new Array[Long](nGrams)
          var p = 0
          while (p < nGrams) {
            digest.reset()
            digest.update(bytes, p, k)
            digest.digest(out16, 0, 16)
            val d = out16
            hashes(p) = ((d(0) & 0xFFL) << 24) | ((d(1) & 0xFFL) << 16) |
              ((d(2) & 0xFFL) << 8) | (d(3) & 0xFFL)
            p += 1
          }
          val seen = new java.util.LinkedHashSet[java.lang.Long]()
          var q = 0
          while (q <= nGrams - w) {
            var m = hashes(q)
            var j = q + 1
            while (j < q + w) {
              if (hashes(j) < m) m = hashes(j)
              j += 1
            }
            seen.add(m)
            q += 1
          }
          val out = new Array[Long](seen.size)
          val it = seen.iterator()
          var o = 0
          while (it.hasNext) { out(o) = it.next(); o += 1 }
          out.toSeq
        }
      }
    }

  /** Passage-reuse pair report: unordered document pairs sharing at
    * least `minShared` winnowing fingerprints, with the shared count.
    *
    * Fingerprints hot across more than `maxDf` documents are dropped
    * BEFORE the self-join — boilerplate k-grams (headers, license
    * blocks) would otherwise put every document into one bucket and
    * the join's fan-out is quadratic per bucket; the cap bounds it at
    * maxDf² per fingerprint (the LSH band join's hot-key discipline,
    * cf. Dedup.stripHotParagraphs for the remove-the-boilerplate
    * alternative). `minShared` separates passage reuse from ambient
    * phrase overlap: on the sf0.1 corpus, shared counts of 2-7 are
    * template noise (70k pairs) while >= 8 isolates genuine reuse
    * (279 pairs, injected exact copies at the top).
    *
    * Plan shape: one document scan computes fingerprints (persisted —
    * the frequency filter and both self-join sides read it), then
    * every shuffle moves only (id, hash64) pairs, never text.
    */
  def sharedFingerprintPairs(docs: DataFrame, idCol: String, textCol: String,
      k: Int = 8, w: Int = 4, minShared: Int = 8,
      maxDf: Int = 16): DataFrame = {
    // materialized once: the df aggregate + the semi join
    val fp = Pin.cache(docs
      .select(col(idCol).as("__id"),
        explode(fingerprintsFast(col(textCol), k, w)).as("__h")),
      eager = true)
    val rare = fp.groupBy("__h").agg(count(lit(1)).as("__df"))
      .filter(col("__df") <= maxDf)
      .select("__h")
    // persist the PRUNED table, not just fp: both self-join sides read
    // it, and without its own cache each side would rebuild the df
    // aggregate + semi join (plan-audited: the broadcast built twice).
    // fp's cache is released once pruned is materialized.
    val pruned =
      Pin.cache(fp.join(rare, Seq("__h"), "left_semi"), eager = true)
    Pin.release(fp)
    val a = pruned.select(col("__id").as("id_a"), col("__h").as("__ha"))
    val b = pruned.select(col("__id").as("id_b"), col("__h").as("__hb"))
    val pairs = a.join(b, col("__ha") === col("__hb") && col("id_a") < col("id_b"))
      .groupBy("id_a", "id_b")
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
    // pruned's cache is released after the caller's first action
    Pin.untilUsed(pairs, pruned)
  }

  /** Per-document duplicate-passage stats over winnowed
    * fingerprints — the BYTE-LEVEL recall upgrade of
    * [[graft.dedup.Dedup.duplicateSpans]] (which hashes token
    * windows): normalization strips whitespace/punctuation, so
    * copies that TOKENIZE differently still share fingerprints, and
    * the winnowing guarantee bounds the minimum detected passage at
    * k+w-1 normalized characters instead of n tokens. Returns
    * (id, n_fp, n_dup_fp, dup_ratio) for docs sharing ≥ 1
    * fingerprint with another doc.
    *
    * Plan shape: identical to duplicateSpans — one corpus scan
    * (fingerprinting fuses into it), fingerprints explode to
    * per-doc-distinct (digest, id) pairs, ONE digest shuffle serves
    * the distinct-doc window, then the per-doc aggregate. Shuffle
    * payload is 8-byte digests + ids, never text.
    */
  def spanStats(docs: DataFrame, idCol: String, textCol: String,
      k: Int = 8, w: Int = 4): DataFrame = {
    val wnd = org.apache.spark.sql.expressions.Window
      .partitionBy(col("__h"))
    docs.select(col(idCol),
        explode(fingerprintsFast(col(textCol), k, w)).as("__h"))
      .repartition(col("__h"))
      // fingerprints are per-doc distinct, so each row is one doc
      // and the count-over-digest window IS the distinct-doc count
      .withColumn("__ndocs", count(lit(1)).over(wnd))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_fp"),
        sum(when(col("__ndocs") > 1, 1L).otherwise(0L)).as("n_dup_fp"))
      .filter(col("n_dup_fp") > 0)
      .withColumn("dup_ratio",
        round(col("n_dup_fp") / col("n_fp").cast("double"), 4))
  }
}
