package graft.dedup

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.ops.Pin
import graft.similarity.Ann
import graft.text.TextFunctions

/** Cross-run incremental dedup registry — the corpus-registry shape
  * a continuously-ingesting pipeline needs: a persisted
  * (digest → first-seen keeper) table, bucketed on the digest
  * ([[graft.io.Bucketing]] machinery), that each NEW batch dedups
  * against WITHOUT rescanning historical text. First-seen wins:
  * a digest's keeper is the row that first ingested it (min id
  * within its founding batch), and later batches' copies drop —
  * replaying batches in order therefore equals a from-scratch dedup
  * of the union under the (batch_no, id) tie rule, which is what
  * RegistrySpec and the q237 oracle pin.
  *
  * Scale shape: the registry holds 16-byte digests + keeper ids —
  * the INDEX, never the corpus (at 100 TB of text the digest table
  * is ~0.01% of corpus bytes). A batch ingest pays: one batch-side
  * representative window, one equi-join against the bucketed registry
  * (registry side exchange-free off the bucket layout; only the
  * batch — the small side by construction — shuffles to align),
  * and one bucket-aligned append of the new digests. History text
  * is never read again; the registry is never rewritten, only
  * appended (each append lays one file per bucket — the reader
  * keeps the exchange-free join; per-file sort metadata is
  * per-append, which bucketed scans tolerate).
  *
  * == Batch-number contract (replay safety) ==
  * Every ingest stamps its rows with the caller's `batchNo`, and the
  * probe EXCLUDES rows this same batch number already wrote. Batch
  * numbers must therefore be unique per LOGICAL batch (a scheduler's
  * monotone counter, a stream's micro-batch id); re-using a number
  * means "this is the same batch again — a replay". Under that
  * contract every ingest is idempotent at the SURVIVOR level, not
  * just the digest level: an at-least-once scheduler (foreachBatch,
  * a retried cron job) that re-runs a batch — after a crash anywhere
  * between the registry append and the downstream corpus append —
  * gets back the ORIGINAL survivor set, and the append heals any
  * partially-committed rows instead of duplicating them. Survivors
  * are a pure function of (batch, registry-state-minus-this-batch),
  * so replay == first attempt as long as prior batches' rows are
  * unchanged (the single-writer lease below guarantees exactly that).
  *
  * == Single-writer lease (fenced) ==
  * Two concurrent ingests against one registry would both anti-join
  * the same old snapshot and both append — duplicate digests would
  * survive silently. Every mutating call (ingest, compact, rekey)
  * therefore takes a lease file (`<path>.lock`, a sibling of the
  * registry directory so compaction's directory swap cannot disturb
  * it) for its duration and fails LOUDLY if another writer holds it.
  * A lease older than the stale horizon (marker-stamped `lease_ms`,
  * default 30 min) is presumed abandoned by a crashed writer and
  * taken over — atomically, via rename-aside (two racing takers
  * cannot both win). The lease is FENCED (r14 verdict #1): the lock
  * file carries the holder's token, every commit re-validates the
  * token immediately before its `insertInto`/swap ([[validateLease]])
  * so a live-but-slow writer that was usurped ABORTS rather than
  * committing alongside the new holder, and release is owner-checked
  * so the usurped writer's `finally` cannot delete the new holder's
  * lease. Lease acquisition is atomic create-no-overwrite — atomic
  * on local/HDFS semantics; object stores without atomic create need
  * an external lock service, the documented deployment caveat.
  */
object Registry {

  /** Underscore-prefixed, so Spark's file-listing treats it as
    * metadata (like _SUCCESS) and never reads it as data. Its
    * presence marks "a graft registry created this directory", which
    * is what licenses the recursive delete on re-create. The marker
    * body stamps the physical contract that must survive the session
    * boundary: `family buckets [key=value ...]` — bucket count
    * (layout), row-schema version, lease horizon, and each lane's
    * physical parameters ([[Lane]]: minhash k/bands/shingle width,
    * vec plane count and hyperplane-hash version — all baked into
    * every stored signature, so a mismatch silently re-admits
    * duplicates).
    */
  private val Marker = "_graft_registry"

  /** Rows carry batch_no (replay safety). Near/vec registries
    * created before this stamp lack the column and must be rebuilt
    * (or re-keyed) — attach refuses them rather than letting null
    * batch stamps silently disable the probe's self-exclusion.
    */
  private val SchemaVersion = 2

  /** The RHP hyperplane family every stored vec signature was signed
    * with — the quadratic pair-hash of [[graft.similarity.Ann
    * .rhpSignature]]. Bumped if the hash kernel ever changes; attach
    * and ingest validate it so a binary with a DIFFERENT kernel can
    * never probe (its signatures would match nothing and every
    * duplicate would be silently re-admitted).
    */
  val RhpHashVersion = "qph1"

  private val SafeName = "^[A-Za-z_][A-Za-z0-9_]*$".r

  private final case class MarkerInfo(family: String, buckets: Int,
      extras: Map[String, String])

  // ---- versioned directory layout (reader-safe maintenance) ----
  //
  // A registry ROOT holds the marker, zero-byte live POINTERS
  // (`_live.v<N>` — highest N wins), and per-version DATA dirs
  // (`_v<N>/part-*`). The catalog table's LOCATION is the live data
  // dir. Compaction writes the next version COMPLETELY, then commits
  // by creating the next pointer (atomic create) — there is no
  // instant at which the live data is absent or partial, so a
  // concurrent reader resolves either the pre- or the post-state,
  // never an error and never an empty scan (the old two-rename swap
  // had an absent-dir window in which a probe silently read an EMPTY
  // registry and re-admitted every duplicate — worse than a crash).
  // Superseded version dirs stay on disk for still-attached readers
  // until [[vacuum]] reclaims them. All underscore-prefixed names are
  // invisible to Spark's file listing, so a LEGACY reader attached at
  // the root never sees version dirs as data. Legacy registries
  // (pre-versioned: part-files directly in the root, no pointers)
  // attach and ingest unchanged; their first compact migrates them.

  private val VersionDirRe = "^_v(\\d+)$".r
  private val LivePtrRe = "^_live\\.v(\\d+)$".r

  /** Root dir of a registry given its table LOCATION — the location
    * is the live version dir (`<root>/_vN`) for versioned
    * registries, the root itself for legacy ones. The marker, the
    * lock, and the pointers anchor at the ROOT so they survive
    * version swaps.
    */
  private[graft] def registryRoot(loc: Path): Path =
    loc.getName match {
      case VersionDirRe(_) => loc.getParent
      case _ => loc
    }

  private def versionDir(root: Path, n: Int): Path =
    new Path(root, s"_v$n")
  private def livePointer(root: Path, n: Int): Path =
    new Path(root, s"_live.v$n")

  private def liveVersion(fs: FileSystem, root: Path): Option[Int] =
    if (!fs.exists(root)) None
    else fs.listStatus(root).iterator.map(_.getPath.getName).collect {
      case LivePtrRe(n) => n.toInt
    }.maxOption

  /** The directory whose files ARE the registry right now: the
    * highest-pointer version dir, or the root itself (legacy
    * layout).
    */
  private[graft] def liveDir(fs: FileSystem, root: Path): Path =
    liveVersion(fs, root).map(versionDir(root, _)).getOrElse(root)

  /** Shared create-side guard (ADVICE r12/r13): the table name is
    * interpolated into SQL, so restrict it to a safe identifier; the
    * recursive delete of `path` only proceeds when the directory is
    * absent, empty, or carries the [[Marker]] from a prior create —
    * a caller pointing at a directory of unrelated data gets an
    * error, not silent data loss. (A bare _SUCCESS no longer
    * licenses the clear: every Spark job output carries one, so it
    * guarded nothing — a mispointed create() would have destroyed a
    * curated corpus. Legacy pre-marker registries migrate via
    * [[stampMarker]].) Leaves `path` existing, empty but for the
    * marker (the location must exist up front: scanning the
    * still-empty table — the first batch's anti-join — lists it).
    */
  private def prepareLocation(spark: SparkSession, name: String,
      path: String, family: String, buckets: Int,
      extras: Map[String, String]): String = {
    require(SafeName.matches(name),
      s"registry name must match ${SafeName.regex}; got '$name'")
    require(!path.contains("'"),
      s"registry path must not contain a quote; got '$path'")
    spark.sql(s"DROP TABLE IF EXISTS $name")
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) {
      val entries = fs.listStatus(p)
      require(entries.isEmpty || fs.exists(new Path(p, Marker)),
        s"refusing to clear '$path': non-empty and not a graft " +
          "registry (no marker file) — pass an empty or " +
          "registry-owned directory (stampMarker migrates legacy " +
          "registries)")
      // remove stale files from a previous registry at the same
      // path — saveAsTable Append would otherwise resurrect them
      fs.delete(p, true); ()
    }
    fs.mkdirs(p)
    writeMarker(fs, p, family, buckets, extras)
    // versioned layout from birth: data in _v0, pointer names it live
    val data = versionDir(p, 0)
    fs.mkdirs(data)
    fs.create(livePointer(p, 0), false).close()
    data.toString
  }

  private def writeMarker(fs: FileSystem, p: Path, family: String,
      buckets: Int, extras: Map[String, String]): Unit = {
    val tail = extras.toSeq.sortBy(_._1)
      .map { case (k, v) => s"$k=$v" }.mkString(" ")
    val out = fs.create(new Path(p, Marker))
    out.write(s"$family $buckets $tail".trim.concat("\n").getBytes("UTF-8"))
    out.close()
  }

  private def readMarker(fs: FileSystem, p: Path): Option[MarkerInfo] = {
    val in = fs.open(new Path(p, Marker))
    try {
      val content = scala.io.Source.fromInputStream(in, "UTF-8")
        .mkString.trim
      content.split("\\s+").toList match {
        case f :: b :: rest if b.forall(_.isDigit) =>
          Some(MarkerInfo(f, b.toInt,
            rest.flatMap(_.split("=", 2) match {
              case Array(k, v) => Some(k -> v)
              case _ => None
            }).toMap))
        case _ => None // legacy empty marker (pre-stamp creates)
      }
    } finally in.close()
  }

  /** [[readMarker]], with a missing or unreadable marker as None. */
  private def markerAt(fs: FileSystem, p: Path): Option[MarkerInfo] =
    try readMarker(fs, p) catch { case _: java.io.IOException => None }

  /** One-time migration helper for registries created before the
    * marker existed: stamps ownership + layout into `path` so
    * [[attach]] and create-over accept it. Refuses to re-stamp a
    * directory that already carries a marker (edit deliberately, not
    * by accident) and refuses a directory with no parquet files at
    * all (nothing to migrate — use create).
    */
  def stampMarker(spark: SparkSession, path: String, family: String,
      buckets: Int, extras: Map[String, String] = Map.empty): Unit = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(fs.exists(p), s"'$path' does not exist")
    require(!fs.exists(new Path(p, Marker)),
      s"'$path' already carries a registry marker")
    require(fs.listStatus(liveDir(fs, p))
        .exists(_.getPath.getName.startsWith("part-")),
      s"'$path' holds no part- files — create() a fresh registry instead")
    writeMarker(fs, p, family, buckets, extras)
  }

  // ---- single-writer lease ----

  /** Default stale-lease horizon: 30 min — longer than any sane
    * single-batch ingest or compaction, so a live writer is never
    * usurped; short enough that a crashed writer's lease clears
    * before the next scheduled run.
    */
  val DefaultLeaseMs: Long = 30L * 60L * 1000L

  private def lockPath(dir: Path): Path =
    new Path(dir.getParent, dir.getName + ".lock")

  /** A HELD single-writer lease — the fencing handle (r14 verdict
    * #1). `token` (pid + nonce) was written into the lock file at
    * acquisition; [[releaseLock]] deletes the lock only while the
    * token still matches, and [[validateLease]] re-reads it
    * immediately before every commit. A writer paused past the
    * stale horizon (GC, an ingest that outgrew the horizon at real
    * scale) whose lease was taken over therefore ABORTS at its
    * commit point instead of committing alongside the new holder,
    * and its `finally` release leaves the new holder's lease intact
    * — the silent-duplicate interleaving is impossible by
    * construction.
    */
  final case class Lease private[dedup] (dir: String, token: String)

  /** Acquire the registry's single-writer lease or fail loudly.
    * Atomic create-no-overwrite of the sibling `<dir>.lock` file; if
    * the lease exists and is younger than `staleMs` the second
    * writer gets an IllegalStateException naming the holder — the
    * concurrent-ingest hazard surfaced as an error instead of
    * silently-duplicated digests. A lease older than `staleMs` is
    * presumed crashed and taken over — ATOMICALLY (r14 ADVICE #1):
    * the taker first renames the stale lock to a taker-unique name,
    * and only the one writer whose rename succeeded proceeds to
    * create; two racing takers can never each delete the other's
    * fresh lock (the delete-then-create race the old path had).
    */
  def acquireLock(spark: SparkSession, path: String,
      staleMs: Long = DefaultLeaseMs): Lease = {
    val dir = new Path(path)
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val lk = lockPath(dir)
    val token =
      s"${ProcessHandle.current().pid()}-${java.util.UUID.randomUUID()}"
    def tryCreate(): Boolean =
      try {
        val out = fs.create(lk, false)
        out.write((s"token=$token t=${System.currentTimeMillis()}\n")
          .getBytes("UTF-8"))
        out.close()
        true
      } catch { case _: java.io.IOException => false }
    if (!tryCreate()) {
      val age = try {
        System.currentTimeMillis() - fs.getFileStatus(lk).getModificationTime
      } catch { case _: java.io.IOException => Long.MaxValue }
      val usurped = age > staleMs && {
        val aside = new Path(lk.getParent, lk.getName + s".stale-$token")
        val won =
          try fs.rename(lk, aside)
          catch { case _: java.io.IOException => false }
        if (won) fs.delete(aside, false)
        won
      }
      // !usurped covers both a live holder and a lost takeover race;
      // a failed re-create means a third writer slipped in — equally
      // "someone else holds it now"
      if (!usurped || !tryCreate())
        throw new IllegalStateException(
          s"registry at '$path' is locked by another writer " +
            s"($lk, age ${age / 1000}s) — registries are " +
            "single-writer; serialize ingests or remove a stale lock")
    }
    Lease(dir.toString, token)
  }

  /** Whether `lease` is still the lock file's current token. */
  private def leaseHeld(spark: SparkSession, lease: Lease): Boolean = {
    val dir = new Path(lease.dir)
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    try {
      val in = fs.open(lockPath(dir))
      val content =
        try scala.io.Source.fromInputStream(in, "UTF-8").mkString
        finally in.close()
      content.contains(s"token=${lease.token}")
    } catch { case _: java.io.IOException => false }
  }

  /** The pre-commit fencing check: re-reads the lock file and throws
    * if `lease`'s token is no longer the holder — i.e. this writer
    * was presumed crashed and usurped while it was paused. Called
    * immediately before EVERY registry-mutating commit (each
    * `insertInto`, each compaction swap), so a usurped writer aborts
    * with the registry exactly as the new holder left it.
    */
  def validateLease(spark: SparkSession, lease: Lease): Unit =
    if (!leaseHeld(spark, lease))
      throw new IllegalStateException(
        s"single-writer lease on '${lease.dir}' was usurped (lock " +
          "token changed) — this writer exceeded the stale horizon " +
          "and another writer took over; aborting before commit. " +
          "Raise the registry's lease_ms if ingests legitimately " +
          "run this long.")

  /** Release a held lease — OWNER-CHECKED: deletes the lock file
    * only while it still carries this lease's token, so a usurped
    * writer's `finally` cannot remove the NEW holder's lease (the
    * third-writer hole r14 flagged). Idempotent: a missing or
    * foreign lock is left untouched.
    */
  def releaseLock(spark: SparkSession, lease: Lease): Unit =
    if (leaseHeld(spark, lease)) {
      val dir = new Path(lease.dir)
      val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.delete(lockPath(dir), false)
      ()
    }

  /** Forcibly remove a registry's lock file REGARDLESS of holder —
    * the manual escape hatch for an operator who has verified the
    * holder is dead. Never called by library code (which always
    * releases through its own [[Lease]]).
    */
  def breakLock(spark: SparkSession, path: String): Unit = {
    val dir = new Path(path)
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(lockPath(dir), false)
    ()
  }

  /** The stale-lease horizon for the registry at `dir`: the marker's
    * `lease_ms` stamp when the create recorded one (a per-registry
    * decision — horizon should scale with expected ingest duration,
    * which scales with the corpus), else [[DefaultLeaseMs]].
    */
  private def leaseHorizon(fs: FileSystem, dir: Path): Long =
    markerAt(fs, dir).flatMap(_.extras.get("lease_ms")).map(_.toLong)
      .getOrElse(DefaultLeaseMs)

  /** Run `body` holding the leases of the registries at `paths`,
    * taken in that order and released in reverse; `body` gets each
    * path's lease. A retired registry is refused before its lease.
    */
  private def withLocks[T](spark: SparkSession, paths: Seq[String])(
      body: Map[String, Lease] => T): T =
    paths.foldRight(body) { (path, inner) => held =>
      val dir = new Path(path)
      val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
      requireNotRetired(markerAt(fs, dir), dir)
      val lease = acquireLock(spark, path, leaseHorizon(fs, dir))
      try inner(held + (path -> lease)) finally releaseLock(spark, lease)
    }(Map.empty)

  private def withLock[T](spark: SparkSession, path: String)(
      body: Lease => T): T = withLocks(spark, Seq(path))(l => body(l(path)))

  /** The table's physical location — the registry directory every
    * lease, marker and compaction swap is anchored to.
    */
  private def tableLocation(spark: SparkSession, name: String): Path = {
    val ident = spark.sessionState.sqlParser.parseTableIdentifier(name)
    new Path(spark.sessionState.catalog.getTableMetadata(ident).location)
  }

  /** The batch's OWN prior rows (a crashed earlier attempt's
    * partial append), read BY FILE PATHS rather than through the
    * table: the append's insert source may not reference its own
    * table (Spark's same-table write check), but a path read is a
    * different relation whose file list snapshots here — so the heal
    * anti-join feeds the insert directly, without a second
    * localCheckpoint materialization per ingest (one saved job per
    * append — nine across the q244 demo). The files are listed
    * EXPLICITLY (not the directory): the live dir of a versioned
    * registry is underscore-prefixed (`_vN` — hidden from child
    * listings by design, so stale root-attached readers never see
    * it), and Spark's DataSource silently IGNORES a hidden root
    * path — a directory read would return empty and disable the
    * heal. Explicit leaf-file paths bypass the hidden-name filter.
    */
  private def ownRows(spark: SparkSession, name: String, loc: Path,
      batchNo: Int): DataFrame = {
    val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val schema = spark.table(name).schema
    val files = fs.listStatus(loc).iterator.map(_.getPath)
      .filter(_.getName.startsWith("part-")).map(_.toString).toSeq
    val rows =
      if (files.isEmpty)
        spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
      else spark.read.schema(schema).parquet(files: _*)
    rows.filter(col("batch_no") <=> lit(batchNo))
  }

  // ---- registry lanes ----

  /** One dedup registry family: exact digests, SimHash windows
    * (near), MinHash bands or RHP-bucketed vectors. A lane holds only
    * what differs between the families; [[create]], [[attach]],
    * [[ingestChain]], [[compact]] and the stream twin
    * ([[graft.streaming.Streams.registryMaintStream]]) are written
    * once over it. Per lane:
    *
    *  - the table DDL and its bucket column;
    *  - the marker stamps written at create — physical parameters
    *    baked into every stored signature, read back at ingest
    *    ([[resolve]]) instead of trusted from the caller, because a
    *    probe signed differently matches nothing and silently
    *    re-admits every duplicate;
    *  - the signing step (text, or the embedding, → signature) and
    *    which signatures are valid (a null one never matches a join,
    *    so it would re-append every batch forever);
    *  - the probe keys of a signature (`keys`: one key row per
    *    stored row — the digest, the windows, the bands or the RHP
    *    signature); a stored row is a key row plus the id and the
    *    signature;
    *  - the match predicate between a probe and a stored row sharing
    *    its keys (none: key equality is the match);
    *  - the heal key a replay anti-joins its own prior rows on.
    *
    * A lane value carries its match parameters; the defaults are the
    * documented ones.
    */
  sealed abstract class Lane(val family: String,
      private[dedup] val ddl: String, val bucketCol: String,
      private[graft] val sigCol: String, private[graft] val idCol: String,
      private[dedup] val healKey: Seq[String],
      private[dedup] val keyCols: Seq[String]) {
    private[dedup] def stamps: Map[String, String] = Map.empty
    /** This lane at the physical parameters a marker stamped. */
    private[dedup] def stamped(m: Map[String, String], at: Path): Lane = this
    /** The signing step: a text (vec: embedding) column → signature. */
    def sign(src: Column): Column
    private[dedup] def signed(batch: DataFrame, id: String,
        src: String): DataFrame =
      batch.select(col(id).cast("long").as(idCol), sign(col(src)).as(sigCol))
    /** Whether a signature can be probed: a row its lane cannot sign
      * is neither probed nor stored.
      */
    private[graft] def valid(sig: Column): Column = sig.isNotNull
    /** A signature's key rows: an array of `keyCols` structs. */
    private[dedup] def keys(sig: Column): Column
    /** (id, signature) rows → stored rows, in the table's column order. */
    private[dedup] def stored(df: DataFrame): DataFrame =
      df.select(explode(keys(col(sigCol))).as("__k"), col(idCol), col(sigCol))
        .select(keyCols.map(k => col(s"__k.$k").as(k)) ++
          (idCol +: Seq(sigCol).diff(keyCols)).map(col): _*)
    /** What [[ingest]] returns per kept (id, signature) row. */
    private[dedup] def out: Seq[Column] = Seq(col(idCol), col(sigCol))
    private[dedup] def matches(p: Column, r: Column): Option[Column] = None
  }

  /** Byte-exact copies: one (content digest → first-seen keeper) row
    * per digest, bucketed on the digest.
    */
  case object Exact extends Lane("exact",
      "(h STRING, keep_id BIGINT, batch_no INT)", "h", "h", "keep_id",
      Seq("h"), Seq("h")) {
    def sign(text: Column): Column = TextFunctions.contentHash(text)
    private[dedup] def keys(h: Column) = array(struct(h.as("h")))
    override private[dedup] def out = Seq(col("h"), col("keep_id"))
  }

  /** Hamming-close token distributions (SimHash): one row per
    * (window, doc) — `w` the 15-bit window index, `bucket` its value.
    * A doc drops iff a registered doc shares a window AND sits within
    * `maxHamming` (the [[Dedup.bandedHammingPairs]] rule: recall is
    * total below `tables` differing bits, the standard multi-table
    * trade above). `tables` is physical — it decides which window
    * rows every ingest stores — so it is a lane constant. Within-batch
    * near pairs with distinct simhashes land together by contract.
    */
  final case class Near(maxHamming: Int = 20) extends Lane("near",
      "(w INT, bucket BIGINT, doc_id BIGINT, simhash BIGINT, batch_no INT)",
      "bucket", "simhash", "doc_id", Seq("w", "doc_id"), Seq("w", "bucket")) {
    val tables = 2
    def sign(text: Column) = Dedup.simhash60(TextFunctions.tokens(text))
    /** Window t is the 15-bit slice at bits [60−15(t+1), 60−15t). */
    private[dedup] def keys(simhash: Column) =
      array((0 until tables).map(t => struct(lit(t).as("w"),
        shiftright(simhash, 60 - 15 * (t + 1)).bitwiseAND(lit(32767L))
          .as("bucket"))): _*)
    override private[dedup] def matches(p: Column, r: Column) =
      Some(Dedup.hammingDist(p, r) <= maxHamming)
  }

  /** Set-overlap (Jaccard) copies — robust to reordering and local
    * edits that move many simhash bits but few shingles. One row per
    * (band, doc): `bucket` is the band digest; `sig` (the k-value
    * signature) rides along as the verification payload. A doc drops
    * iff a registered doc shares a band digest AND agrees on ≥
    * `minMatches` of the k positions (the q102 estimator, kept
    * integer-exact by thresholding the match COUNT). `k`, `bands` and
    * the shingle width are stamped: the width shapes the sets being
    * hashed, so it travels with the registry. Expected candidates per
    * probe ≈ bands · rows / distinct buckets; a clustered corpus
    * raises `bands`/`k` like the vec lane raises planes.
    */
  final case class Minhash(k: Int = 8, bands: Int = 4, shingleW: Int = 3,
      minMatches: Int = 6) extends Lane("minhash",
      "(b INT, bucket STRING, doc_id BIGINT, sig ARRAY<STRING>, batch_no INT)",
      "bucket", "sig", "doc_id", Seq("b", "doc_id"), Seq("b", "bucket")) {
    require(k % bands == 0, s"bands must divide k; got k=$k bands=$bands")
    require(shingleW >= 1, s"shingleW must be >= 1; got $shingleW")
    require(minMatches >= k / bands,
      s"minMatches=$minMatches below one band's $k/$bands positions " +
        "would drop docs no band can even propose")
    override private[dedup] def stamps = Map("k" -> k.toString,
      "bands" -> bands.toString, "w" -> shingleW.toString)
    override private[dedup] def stamped(m: Map[String, String], at: Path) =
      copy(k = m.get("k").fold(k)(_.toInt),
        bands = m.get("bands").fold(bands)(_.toInt),
        shingleW = m.get("w").fold(shingleW)(_.toInt))
    def sign(text: Column): Column =
      Dedup.minhashSignatureFast(Dedup.shingles(text, shingleW), k)
    /** Widened before the k·MD5 kernel — the one registry kernel
      * expensive enough to pay for the exchange (metered: sig pass
      * 1.2 s as-scanned → ~0.5 s repartitioned; the md5/simhash
      * kernels cost ~0.1 s serial and stay un-widened).
      */
    override private[dedup] def signed(batch: DataFrame, id: String,
        src: String) =
      super.signed(graft.ops.Parallelism.widen(batch.select(
        col(id).cast("long").as("doc_id"), col(src).as("__mh_text")),
        "doc_id"), "doc_id", "__mh_text")
    /** Two null shapes: a null array (null text) and k nulls (empty
      * shingle set — array_min of nothing is null per position).
      */
    override private[graft] def valid(sig: Column) =
      sig.isNotNull && size(filter(sig, x => x.isNotNull)) > 0
    private[dedup] def keys(sig: Column) =
      transform(Dedup.bandKeys(sig, bands, k / bands),
        (key, b) => struct(b.as("b"), key.as("bucket")))
    override private[dedup] def matches(p: Column, r: Column) =
      Some(size(filter(zip_with(p, r, (x, y) => x === y), m => m))
        >= minMatches)
  }

  /** Embedding copies: one row per vector, keyed by its
    * random-hyperplane signature. A vector drops iff a registered one
    * shares its signature at rounded cosine ≥ `threshold` (the
    * [[graft.similarity.Ann.lshDupPairs]] rule: exact copies share
    * the signature at ANY plane count, so recall on true duplicates
    * is total). `planes` and the hash version ([[RhpHashVersion]])
    * are stamped.
    *
    * SIZE `planes` TO THE CORPUS: expected candidates per probe ≈
    * rows / 2^planes, so ingest cost grows LINEARLY once 2^planes is
    * small against the registry (PERF.md r13: at 8 planes a 5k-vector
    * ingest went 4.3 s → 137 s as the registry grew 5k → 510k; flat
    * at 16). Rule: planes ≳ log2(expected corpus) + a few bits; a
    * corpus that outgrows its sizing migrates via [[rekeyVec]].
    */
  final case class Vec(planes: Int = 16, threshold: Double = 0.99,
      roundTo: Int = 6) extends Lane("vec",
      "(sig BIGINT, vec_id BIGINT, embedding ARRAY<FLOAT>, batch_no INT)",
      "sig", "embedding", "vec_id", Seq("vec_id"), Seq("sig")) {
    override private[dedup] def stamps =
      Map("planes" -> planes.toString, "hash" -> RhpHashVersion)
    override private[dedup] def stamped(m: Map[String, String], at: Path) = {
      m.get("hash").foreach(h => require(h == RhpHashVersion,
        s"'$at' was signed with hyperplane-hash '$h'; this binary " +
          s"signs '$RhpHashVersion' — signatures would never match " +
          "(every duplicate silently re-admitted); rekeyVec to migrate"))
      copy(planes = m.get("planes").fold(planes)(_.toInt))
    }
    /** The embedding is its own signature; the RHP bucket key is its
      * one key row.
      */
    def sign(v: Column): Column = v
    private[dedup] def keys(v: Column) =
      array(struct(Ann.rhpSignature(v, planes).as("sig")))
    override private[dedup] def out = Seq(col("vec_id"),
      Ann.rhpSignature(col("embedding"), planes).as("sig"))
    override private[dedup] def matches(p: Column, r: Column) =
      Some(round(Ann.dot(p, r) / (Ann.norm(p) * Ann.norm(r)), roundTo)
        >= threshold)
  }

  private def laneOf(family: String): Lane =
    Seq(Exact, Near(), Minhash(), Vec()).find(_.family == family)
      .getOrElse(throw new IllegalStateException(
        s"unknown registry family '$family'"))

  private def createTable(spark: SparkSession, name: String,
      path: String, buckets: Int, lane: Lane): Unit = {
    spark.sql(
      s"""CREATE TABLE $name ${lane.ddl}
         |USING parquet
         |CLUSTERED BY (${lane.bucketCol}) SORTED BY (${lane.bucketCol})
         |INTO $buckets BUCKETS
         |LOCATION '$path'""".stripMargin)
    ()
  }

  /** Create or replace an EMPTY `lane` registry table `name` at
    * `path`, bucketed on the lane's bucket column, its marker stamped
    * with the lane's physical parameters.
    */
  def create(spark: SparkSession, lane: Lane, name: String, path: String,
      buckets: Int, leaseMs: Long = DefaultLeaseMs): Unit = {
    val data = prepareLocation(spark, name, path, lane.family, buckets,
      lane.stamps ++ Map("schema" -> SchemaVersion.toString,
        "lease_ms" -> leaseMs.toString))
    createTable(spark, name, data, buckets, lane)
  }

  /** Whether `path` holds a graft registry (any family) — the
    * create-or-attach decision a scheduled ingest job makes.
    */
  def exists(spark: SparkSession, path: String): Boolean = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.exists(new Path(p, Marker))
  }

  /** ATTACH an existing registry into THIS session's catalog without
    * touching its data — the true cross-run entry: Spark's default
    * in-memory catalog forgets tables when the session ends, so a
    * later job (the next day's ingest) must re-register the table
    * over the surviving files. Requires the [[Marker]] a prior
    * create left (attaching a random directory is refused) and checks
    * its stamps: the family must be `lane`'s and `buckets` must match
    * the create (it is physical layout — a mismatch silently breaks
    * the exchange-free join, so record it with the path); non-exact
    * lanes need the per-row batch stamps of schema 2, and the vec
    * lane this binary's hyperplane hash. The other physical
    * parameters are read from the marker at ingest. RegistrySpec pins
    * attach-then-ingest equals same-session continuation.
    */
  def attach(spark: SparkSession, lane: Lane, name: String, path: String,
      buckets: Int): Unit = {
    require(SafeName.matches(name),
      s"registry name must match ${SafeName.regex}; got '$name'")
    require(!path.contains("'"),
      s"registry path must not contain a quote; got '$path'")
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // a LEGACY compaction that died between its two renames leaves
    // the root absent with .compact-tmp/-old siblings holding the
    // data — auto-recover instead of a generic "no marker" error
    // (recoverCompact itself fails with a pointed message when the
    // missing dir is NOT that crash state)
    if (!fs.exists(p)) recoverCompact(spark, path)
    require(fs.exists(new Path(p, Marker)),
      s"'$path' is not a graft registry (no marker) — create() it first")
    // legacy empty markers skip the stamp checks
    val rawInfo = readMarker(fs, p)
    requireNotRetired(rawInfo, p)
    val info = rawInfo.getOrElse(MarkerInfo(lane.family, buckets, Map.empty))
    require(info.family == lane.family && info.buckets == buckets,
      s"'$path' is a ${info.family} registry with ${info.buckets} " +
        s"buckets; attach requested ${lane.family}/$buckets")
    if (lane != Exact)
      require(info.extras.get("schema").contains(SchemaVersion.toString),
        s"'$path' is a legacy ${lane.family} registry without per-row " +
          "batch stamps (schema < 2) — replay-safe ingest cannot probe " +
          "it; rebuild it (or rekeyVec for the vec family)")
    lane.stamped(info.extras, p) // refuses foreign stamps (vec hash)
    spark.sql(s"DROP TABLE IF EXISTS $name")
    // the table points at the LIVE data dir (pointer-resolved for
    // versioned registries, the root for legacy ones)
    createTable(spark, name, liveDir(fs, p).toString, buckets, lane)
  }

  /** `lane` at the physical parameters registry `name` was created
    * with, read from its marker (legacy markers without a stamp keep
    * the lane's own value) — the signing contract a caller deriving
    * signatures in its own projection (the one-text-scan pipelines)
    * must sign with.
    */
  def resolve(spark: SparkSession, lane: Lane, name: String): Lane = {
    val root = registryRoot(tableLocation(spark, name))
    val info = markerAt(
      root.getFileSystem(spark.sparkContext.hadoopConfiguration), root)
    info.foreach(i => require(i.family == lane.family,
      s"'$name' is a ${i.family} registry, not ${lane.family}"))
    lane.stamped(info.fold(Map.empty[String, String])(_.extras), root)
  }

  /** The batch rows that survive against the current exact registry:
    * digests never seen before, one keeper per digest (min id WITHIN
    * the batch). Pure read — [[ingest]] is the mutating form.
    * Returns (h, keep_id).
    */
  def dedupBatch(spark: SparkSession, name: String, batch: DataFrame,
      idCol: String, textCol: String): DataFrame =
    Exact.signed(batch, idCol, textCol).filter(col("h").isNotNull)
      .groupBy(col("h")).agg(min(col("keep_id")).as("keep_id"))
      .join(spark.table(name).select(col("h")), Seq("h"), "left_anti")

  /** Ingest one raw batch: [[Lane.sign]] `srcCol` (text, or the
    * embedding for [[Vec]]) at the registry's stamped parameters,
    * then [[ingest]] the signatures.
    */
  def ingest(spark: SparkSession, lane: Lane, name: String,
      batch: DataFrame, idCol: String, srcCol: String,
      batchNo: Int): DataFrame =
    ingest(spark, lane, name,
      resolve(spark, lane, name).signed(batch, idCol, srcCol), batchNo)

  /** Ingest one batch of PRECOMPUTED signatures into one registry — a
    * chain of one ([[ingestChain]]). `signed` holds the lane's (id,
    * signature) columns: (keep_id, h) for [[Exact]], (doc_id, simhash)
    * for [[Near]], (doc_id, sig) for [[Minhash]] at the marker's
    * parameters, (vec_id, embedding) for [[Vec]]. Returns the kept
    * rows' lane output columns — (h, keep_id), (doc_id, simhash),
    * (doc_id, sig), (vec_id, RHP sig) — a view of a cut the caller
    * releases with `graft.ops.Pin.release`. Re-ingesting the same
    * batch under a NEW number appends nothing and returns zero rows
    * (its signatures are history now).
    */
  def ingest(spark: SparkSession, lane: Lane, name: String,
      signed: DataFrame, batchNo: Int): DataFrame = {
    val l = resolve(spark, lane, name)
    // the chain reads its input twice (probes, verdicts): one cut
    // signs the batch once
    val in = Pin.cut(signed.select(
      col(l.idCol).cast("long").as("doc_id"), col(l.sigCol)))
    try ingestChain(spark, Seq(name -> l), in, batchNo)
      .filter(kept(l)).select(col("doc_id").as(l.idCol), col(l.sigCol))
      .select(l.out: _*)
    finally Pin.release(in)
  }

  /** In [[ingestChain]]'s verdicts: whether `lane` kept the row — it is
    * its signature's representative and no registered row matches it.
    */
  def kept(lane: Lane): Column = col(s"__kept_${lane.family}")

  /** In [[ingestChain]]'s verdicts: whether the row is alive after
    * `lane` — alive before it and kept, or not signable by it.
    */
  def survived(lane: Lane): Column = col(s"__alive_${lane.family}")

  /** One batch through a chain of registries — the `(registry table,
    * lane)` list in order, each lane seeing the rows alive after the
    * lane before it. `signed` holds one row per document: a long
    * `doc_id`, each lane's signature column at its registry's
    * stamped parameters ([[resolve]]) and any further columns, which
    * ride along into the verdicts. It is read once per lane for the
    * probes and once for the verdicts, so it should be a cut or a
    * cheap plan over one. `entry` marks the rows that enter the chain
    * (a quality floor); the rest stay in the verdicts as never alive.
    *
    * A row is a lane's representative when it is alive before the
    * lane, the lane can sign it, and it has the least id among such
    * rows with its signature; the lane keeps a representative no
    * registered row matches ([[Lane]]). A row is alive after the lane
    * when it was alive before it and is kept, or when the lane cannot
    * sign it (a null embedding, no shingle) — it skips that lane. The
    * kept rows append to the lane's registry, bucket-aligned and
    * stamped `batchNo`. History text is never read — signatures are
    * the whole state.
    *
    * Every lane's lease is taken first, in name order, and held until
    * the last append. Then ONE plan over `signed` computes every
    * lane's probe verdict, representatives and survival flags
    * ([[kept]], [[survived]]), and one cut pins that per-document
    * verdict table. Each lane's probe joins the batch's key rows with
    * its registry, scanned once and streaming past the batch side, and
    * the ids of the rows a registered row matches (batch-bounded)
    * broadcast to the verdicts. Each lane's representative window
    * partitions the batch by that lane's signature, as a per-lane
    * aggregate would; a batch row id that repeats with one signature
    * keeps one row. Then, lane by lane, the lease is validated and the
    * lane's kept rows, read from the cut, append. Probing every lane
    * before any append gives the verdicts of probing each lane just
    * before its own, because no lane reads another lane's table and no
    * other writer can append while the leases are held. The cut severs
    * lineage, so an append's refresh of its table cannot make the
    * verdicts recompute against the grown registry.
    *
    * Replay safety (see the object doc): each probe reads its registry
    * MINUS this batch's own prior rows (null-safe, so a legacy null
    * stamp still counts as "someone else's"), making the verdicts a
    * pure function of (batch, everyone-else's state); each append then
    * skips the rows a crashed attempt already committed. Returns the
    * verdicts, a cut the caller releases with `graft.ops.Pin.release`.
    */
  def ingestChain(spark: SparkSession, lanes: Seq[(String, Lane)],
      signed: DataFrame, batchNo: Int,
      entry: Column = lit(true)): DataFrame = {
    require(lanes.map(_._2.family).distinct.size == lanes.size,
      s"one lane per family: ${lanes.map(_._2.family)}")
    val regs = lanes.map { case (name, lane) =>
      (name, tableLocation(spark, name), resolve(spark, lane, name))
    }
    def root(loc: Path) = registryRoot(loc).toString
    withLocks(spark, regs.sortBy(_._1).map(r => root(r._2))) { leases =>
      val judged = regs.foldLeft(signed.withColumn("__alive", entry)) {
        case (f, (name, _, l)) =>
          val sig = col(l.sigCol)
          // the probe: the batch's key rows join the registry on the
          // keys (the batch side builds, the registry streams past it)
          // and a registered row matching the signature is a hit; the
          // hit ids, batch-bounded, broadcast to the lane's verdicts
          val probes = signed.filter(l.valid(sig))
            .select(col("doc_id").as("__h"), sig.as("__p"), inline(l.keys(sig)))
          val pairs = broadcast(probes).join(spark.table(name)
            .filter(!(col("batch_no") <=> lit(batchNo)))
            .select(l.keyCols.map(col) :+ col(l.sigCol).as("__r"): _*),
            l.keyCols)
          val hits = l.matches(col("__p"), col("__r")).fold(pairs)(pairs.filter)
            .select(col("__h"))
          val hit = broadcast(hits).where(col("__h") === col("doc_id").outer())
            .exists()
          // the representative: the least id among the eligible rows
          // sharing the signature
          val eligible = col("__alive") && l.valid(sig)
          val rank = Window.partitionBy(sig).orderBy(!eligible, col("doc_id"))
          f.withColumn(s"__kept_${l.family}", eligible &&
              row_number().over(rank) === 1 && !hit)
            .withColumn("__alive", col("__alive") &&
              (!l.valid(sig) || kept(l)))
            .withColumn(s"__alive_${l.family}", col("__alive"))
      }
      val verdicts = Pin.cut(judged.drop("__alive"))
      try regs.foreach { case (name, loc, l) =>
        validateLease(spark, leases(root(loc)))
        // a replay only appends what the crashed attempt missed; the
        // explicit re-select after the join restores the stored column
        // order (the join key leads the join output, and insertInto
        // binds by POSITION)
        val rows = l.stored(verdicts.filter(kept(l))
          .select(col("doc_id").as(l.idCol), col(l.sigCol)))
        rows.join(ownRows(spark, name, loc, batchNo)
            .select(l.healKey.map(col): _*), l.healKey, "left_anti")
          .select(rows.columns.map(col) :+ lit(batchNo).as("batch_no"): _*)
          .write.mode(SaveMode.Append).insertInto(name)
      } catch { case e: Throwable => Pin.release(verdicts); throw e }
      verdicts
    }
  }

  /** Files-per-bucket statistics — the compaction trigger a nightly
    * table service checks: every append lays one file per bucket, so
    * `maxFilesPerBucket` grows one per ingest until [[compact]]
    * resets it to 1. Documented threshold: compact when it exceeds
    * ~32 (a bucketed scan then opens 32× the necessary footers —
    * noticeable; past a few hundred it dominates). O(listing), never
    * reads data.
    */
  final case class FileStats(buckets: Int, files: Int,
      maxFilesPerBucket: Int, bytes: Long)

  /** Suggested [[FileStats.maxFilesPerBucket]] ceiling before a
    * [[compact]] is due.
    */
  val CompactThreshold = 32

  def fileStats(spark: SparkSession, name: String): FileStats = {
    val loc = tableLocation(spark, name)
    val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val parts = fs.listStatus(loc)
      .filter(_.getPath.getName.startsWith("part-"))
    val bucketOf = "_(\\d{5})\\.".r
    val perBucket = parts.groupBy(p =>
      bucketOf.findFirstMatchIn(p.getPath.getName).map(_.group(1))
        .getOrElse("?"))
    val buckets = readMarker(fs, registryRoot(loc)).map(_.buckets)
      .getOrElse(0)
    FileStats(buckets, parts.length,
      if (perBucket.isEmpty) 0 else perBucket.values.map(_.length).max,
      parts.map(_.getLen).sum)
  }

  /** Compact a registry table back to ONE file per bucket — the
    * small-files cure for the append-only ingest path. Every
    * [[ingest]] append lays one file per bucket, so after 10³
    * ingests a bucketed scan opens 10³ files per bucket: same bytes,
    * three orders of magnitude more opens/footers/scheduler tasks —
    * the classic small-files cliff ([[fileStats]] +
    * [[CompactThreshold]] are the trigger). Compaction rewrites the
    * SAME rows in the SAME bucket layout (first-seen keepers
    * preserved verbatim — this is a file-layout operation, not a
    * dedup pass), so probe plans before and after are identical and
    * the exchange-free join contract survives; only the file count
    * changes. Works for all four lanes: the bucket column comes from
    * the marker's family, the bucket count from the marker.
    *
    * Run it out-of-band (the compaction window a nightly table
    * service owns): one scan + one hash exchange on the bucket
    * column + one write of the registry — O(registry), never
    * O(corpus), and the registry is the ~0.01%-of-corpus index.
    *
    * CRASH-SAFE and READER-SAFE (r13 advisory #1, r14 verdict #3):
    * the rewrite lands COMPLETELY in the next version dir
    * (`<root>/_v<N+1>`) while the live version keeps serving, then
    * commits by atomically creating the `_live.v<N+1>` pointer and
    * re-pointing the catalog table. At every instant at least one
    * pointer names a COMPLETE version: a crash before the pointer
    * create leaves the old version live (the staged dir is inert
    * garbage the next compact or [[vacuum]] reclaims); a crash just
    * after it leaves both pointers — highest wins, both dirs
    * complete. Concurrent READERS therefore always resolve either
    * the pre- or the post-state — never an error, never a partial or
    * EMPTY scan (the previous two-rename swap had an absent-dir
    * window in which a probe silently read an empty registry and
    * re-admitted every duplicate). The superseded version dir stays
    * on disk for still-attached readers until [[vacuum]]. A LEGACY
    * registry (data in the root) is migrated to the versioned layout
    * by its first compact; its root files likewise await [[vacuum]].
    * The repartition keys rows by the same hash(bucketCol) % buckets
    * the bucket spec uses, so each of the `buckets` write tasks
    * holds exactly one bucket's rows and lays exactly one file.
    */
  def compact(spark: SparkSession, name: String): Unit =
    compactImpl(spark, name, crashBeforeSwap = false)

  /** [[compact]] with a crash-injection point for RegistrySpec:
    * `crashBeforeSwap = true` stops after the staged write, before
    * the pointer create — the exact state a process death
    * mid-compact leaves behind.
    */
  private[graft] def compactImpl(spark: SparkSession, name: String,
      crashBeforeSwap: Boolean): Unit = {
    val root = registryRoot(tableLocation(spark, name))
    require(!root.toString.contains("'"),
      s"registry location must not contain a quote; got '$root'")
    withLock(spark, root.toString) { lease =>
      val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val info = markerAt(fs, root).getOrElse(throw new IllegalStateException(
        s"'$root' has no stamped marker — stampMarker it before compacting"))
      val curV = liveVersion(fs, root) // None = legacy (data in root)
      val nextV = curV.map(_ + 1).getOrElse(0)
      val tmp = versionDir(root, nextV)
      fs.delete(tmp, true) // a prior crashed compact's inert staging
      fs.mkdirs(tmp) // CREATE TABLE LIKE does not create the location
      val tmpName = s"${name}__compact"
      require(SafeName.matches(tmpName), s"unsafe table name '$tmpName'")
      spark.sql(s"DROP TABLE IF EXISTS $tmpName")
      // LIKE copies schema + bucket spec, LOCATION points it at the
      // next version dir; the insert never touches the live files and
      // writes the staged copy. The rows are pinned off the bucketed
      // scan first: fed the table scan directly, the writer's task
      // partitioning stops aligning with the bucket hash (observed:
      // each task writes a file into SEVERAL buckets — the
      // small-files state compaction exists to cure); off an
      // RDD-pinned source the repartition lands one task per bucket,
      // one file each.
      spark.sql(s"CREATE TABLE $tmpName LIKE $name LOCATION '$tmp'")
      val pinned = Pin.cut(spark.table(name))
      try pinned.repartition(info.buckets, col(laneOf(info.family).bucketCol))
        .write.mode(SaveMode.Append).insertInto(tmpName)
      finally Pin.release(pinned)
      spark.sql(s"DROP TABLE $tmpName") // catalog only — files stay
      if (!crashBeforeSwap) {
        validateLease(spark, lease)
        // THE commit: an atomic zero-byte pointer create. Everything
        // before it is invisible to readers; everything after it is
        // cleanup (old pointer removal, catalog re-point) that a
        // crash can leave undone without losing either state.
        fs.create(livePointer(root, nextV), false).close()
        spark.sql(s"ALTER TABLE $name SET LOCATION '$tmp'")
        spark.sql(s"REFRESH TABLE $name")
        curV.foreach(v => fs.delete(livePointer(root, v), false))
        // the superseded data (the old version dir, or the root's
        // legacy part-files) stays for still-attached readers —
        // vacuum() reclaims it
        ()
      }
    }
  }

  /** Migrate a vector registry to a HIGHER plane count — the escape
    * hatch for a corpus that outgrew its create-time sizing (r13
    * verdict #3): the O(batch) ingest contract decays once
    * 2^planes is small against the registry, and planes is frozen
    * into every stored signature. The registry already stores the
    * embeddings, so migration is ONE pass over the registry — never
    * the corpus: re-sign every stored embedding at `newPlanes` into
    * a fresh registry at `newPath` (marker stamped with the new
    * count by [[create]]), preserving vec_id, embedding and
    * batch_no verbatim. Historical keep/drop verdicts are preserved
    * BY CONSTRUCTION (rows are copied, not re-adjudicated); future
    * ingests probe at the new plane count. Exact duplicates share
    * signatures at any plane count, so recall on true copies is
    * unchanged; near-but-rotated recall follows the standard
    * narrower-bucket LSH trade.
    */
  def rekeyVec(spark: SparkSession, name: String, newName: String,
      newPath: String, buckets: Int, newPlanes: Int): Unit = {
    // the SOURCE lease is held for the whole pass: an ingest landing
    // in the old registry mid-rekey would be silently absent from the
    // new one. Lock order is source-then-destination, the documented
    // convention for any multi-registry operation.
    val srcRoot = registryRoot(tableLocation(spark, name))
    // destination must be genuinely NEW (r14 ADVICE #2): create's
    // prepareLocation recursively deletes a marker-bearing directory,
    // so newPath == source would destroy the registry before the
    // insert reads it — silent total data loss. Compare QUALIFIED
    // paths so relative/absolute spellings of the same dir are caught
    // (both the root and anything nested under it are refused).
    val fs = srcRoot.getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(newName != name,
      s"rekeyVec destination name must differ from the source; got '$name'")
    val qNew = fs.makeQualified(new Path(newPath))
    val qSrc = fs.makeQualified(srcRoot)
    require(qNew != qSrc && !qNew.toString.startsWith(qSrc.toString + "/"),
      s"rekeyVec destination path must be outside the source " +
        s"registry at '$srcRoot'")
    withLock(spark, srcRoot.toString) { srcLease =>
      create(spark, Vec(planes = newPlanes), newName, newPath, buckets)
      withLock(spark,
          registryRoot(tableLocation(spark, newName)).toString) { _ =>
        validateLease(spark, srcLease)
        spark.table(name)
          .select(Ann.rhpSignature(col("embedding"), newPlanes).as("sig"),
            col("vec_id"), col("embedding"), col("batch_no"))
          .write.mode(SaveMode.Append).insertInto(newName)
      }
      validateLease(spark, srcLease)
      // tombstone the SOURCE (r14 verdict #2): a stale job config
      // still pointing at the old path would otherwise keep ingesting
      // successfully — and those digests never reach the successor
      // (split-brain across the migration). The stamp makes every
      // later attach/ingest/compact of the source fail NAMING the
      // successor; it lands only after the copy is fully committed,
      // so a crash mid-rekey leaves the source live and the partial
      // destination recreatable by re-running the rekey.
      markRetired(fs, srcRoot, newPath)
    }
  }

  /** Stamp `retired=<successor>` into a registry's marker — every
    * later [[attach]]-family call and every mutating call
    * ([[withLock]] guards them all) fails naming the successor.
    */
  private def markRetired(fs: FileSystem, root: Path,
      successor: String): Unit = {
    require(!successor.exists(_.isWhitespace),
      s"successor path must not contain whitespace; got '$successor'")
    val info = readMarker(fs, root).getOrElse(
      throw new IllegalStateException(s"no marker at '$root'"))
    writeMarker(fs, root, info.family, info.buckets,
      info.extras + ("retired" -> successor))
  }

  private def requireNotRetired(info: Option[MarkerInfo],
      where: Path): Unit =
    info.flatMap(_.extras.get("retired")).foreach { succ =>
      throw new IllegalStateException(
        s"registry at '$where' was retired by a rekey — its live " +
          s"successor is '$succ'; point the job there (historical " +
          "verdicts were migrated; ingesting here would split-brain)")
    }

  /** Recover a registry whose LEGACY-layout compaction (pre-r15
    * binaries: two-rename swap) crashed between its renames: the
    * root directory is gone while `.compact-old` (the original)
    * and/or `.compact-tmp` (the complete staged copy) hold the data.
    * Restores the staged copy when it exists (the compaction's
    * intent), else the original; no-ops when the directory is
    * intact. [[attach]] now auto-invokes this when the root is
    * missing (r14 verdict #3), so the recovery is no longer a manual
    * step. VERSIONED registries never need it: their compaction's
    * commit point is a single atomic pointer create, and every
    * on-disk state at every instant has a complete live version.
    * Returns true if a restore happened.
    */
  def recoverCompact(spark: SparkSession, path: String): Boolean = {
    require(!path.contains("'"),
      s"registry path must not contain a quote; got '$path'")
    val live = new Path(path)
    val fs = live.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(live)) false
    else {
      val tmp = new Path(live.getParent, live.getName + ".compact-tmp")
      val bak = new Path(live.getParent, live.getName + ".compact-old")
      val src =
        if (fs.exists(tmp) && fs.exists(new Path(tmp, Marker))) tmp
        else if (fs.exists(bak) && fs.exists(new Path(bak, Marker))) bak
        else throw new IllegalStateException(
          s"'$path' is missing and no complete staged/backup copy " +
            "exists beside it — not a crashed compaction")
      require(fs.rename(src, live), s"rename $src -> $live failed")
      fs.delete(tmp, true); fs.delete(bak, true)
      true
    }
  }

  // ---- stream epoch ledger (checkpoint-lineage batch namespacing) ----

  /** Micro-batch ids per stream epoch: batch_no = epoch·2^20 + id.
    * 2048 epochs × ~1M micro-batches fill the positive Int range.
    */
  val StreamEpochBits = 20

  /** Bind a stream CHECKPOINT LINEAGE to a batch-number epoch for
    * this registry (r14 ADVICE #5): micro-batch ids restart at 0
    * whenever a stream starts over with a fresh checkpoint, and raw
    * `id.toInt` batch numbers would then collide with an earlier
    * lineage's — the replay contract would treat genuinely NEW
    * batches as replays of old ones (probes exclude the old batch's
    * rows ⇒ duplicates re-admitted). Each checkpoint dir gets a
    * nonce file (`_graft_stream_id`, created once); each registry
    * keeps an `_epochs/` ledger in its root mapping nonce → epoch,
    * claimed with atomic create-no-overwrite so concurrent first
    * batches cannot double-claim. The SAME checkpoint always resolves
    * the SAME epoch (replays keep their numbers); a NEW checkpoint
    * claims the next epoch and its batch numbers live in a disjoint
    * range. The first lineage claims epoch 0, so batch numbers equal
    * raw micro-batch ids — existing single-stream registries are
    * unchanged. Scheduler-driven (non-stream) ingests share the
    * namespace: either let streams own the registry, or start manual
    * batch numbers above an unused epoch (documented contract).
    */
  def streamEpochBase(spark: SparkSession, name: String,
      checkpoint: String): Int = {
    val root = registryRoot(tableLocation(spark, name))
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val nonce = streamNonce(spark, checkpoint)
    val dir = new Path(root, "_epochs")
    fs.mkdirs(dir)
    def claimed(): Option[Int] =
      fs.listStatus(dir).iterator.map(_.getPath.getName).collectFirst {
        case nm if nm.startsWith("epoch_") && nm.endsWith(s"_$nonce") =>
          nm.stripPrefix("epoch_").dropRight(nonce.length + 1).toInt
      }
    claimed().getOrElse {
      var k = fs.listStatus(dir).length
      var won = -1
      while (won < 0) {
        require(k < (1 << (31 - StreamEpochBits)),
          s"epoch space exhausted for registry '$name'")
        val f = new Path(dir, s"epoch_${k}_$nonce")
        val ok =
          try { fs.create(f, false).close(); true }
          catch { case _: java.io.IOException => false }
        if (ok) won = k else k += 1
      }
      won
    }
  }

  /** A checkpoint lineage's identity: the nonce in
    * `<checkpoint>/_graft_stream_id`, created by the first caller.
    */
  private[graft] def streamNonce(spark: SparkSession,
      checkpoint: String): String = {
    val ck = new Path(checkpoint)
    val fs = ck.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(ck)
    claimFile(fs, new Path(ck, "_graft_stream_id"),
      java.util.UUID.randomUUID().toString)
  }

  /** Store `token` in `p` unless it exists (atomic
    * create-no-overwrite) and return the stored token — `token`, or
    * the one a racing writer stored first.
    */
  private[graft] def claimFile(fs: FileSystem, p: Path,
      token: String): String = {
    def stored(): String = {
      val in = fs.open(p)
      try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim
      finally in.close()
    }
    if (fs.exists(p)) stored()
    else try {
      val o = fs.create(p, false)
      o.write(token.getBytes("UTF-8")); o.close(); token
    } catch { // lost the create race — the winner's token stands
      case _: java.io.IOException => stored()
    }
  }

  /** The epoch-namespaced batch number for a micro-batch —
    * `epoch << 20 | id`, range-checked.
    */
  def streamBatchNo(epochBase: Int, microBatchId: Long): Int = {
    require(microBatchId >= 0 && microBatchId < (1L << StreamEpochBits),
      s"micro-batch id $microBatchId outside one epoch's 2^20 range")
    require(epochBase >= 0 && epochBase < (1 << (31 - StreamEpochBits)),
      s"epoch $epochBase out of range")
    (epochBase << StreamEpochBits) + microBatchId.toInt
  }

  /** What [[vacuum]] reclaimed — each count is "things deleted". */
  final case class VacuumStats(versionDirs: Int, legacyFiles: Int,
      stalePointers: Int, siblings: Int)

  /** Reclaim a registry's superseded storage (r14 verdict #7 —
    * nothing ever deleted means a doubled footprint after every
    * compact and unbounded remnant growth at a daily cadence):
    *
    *  - non-live version dirs (`_v<K>`, K != live) — the reader
    *    grace copies [[compact]] leaves behind. RUN VACUUM ONLY
    *    AFTER the reader grace period: a reader attached BEFORE the
    *    compact still scans the old version dir until it re-attaches
    *    (the documented reader contract — readers see pre- or
    *    post-state, never an error; vacuum is what ends "pre").
    *  - stale pointers below the live one (a compact that crashed
    *    between pointer-create and old-pointer-delete),
    *  - the root's legacy part-files once a versioned compact has
    *    migrated the data into a version dir,
    *  - legacy `.compact-tmp` / `.compact-old` siblings (only while
    *    the root itself is intact — a crashed LEGACY swap must go
    *    through [[recoverCompact]] first, which consumes them), and
    *    crashed-takeover `.lock.stale-*` fragments.
    *
    * Holds the writer lease (it mutates storage); O(listing) + the
    * deletes, never reads data. Idempotent.
    */
  def vacuum(spark: SparkSession, path: String): VacuumStats = {
    val root = new Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(fs.exists(root) && fs.exists(new Path(root, Marker)),
      s"'$path' is not an intact graft registry — recoverCompact first")
    withLock(spark, root.toString) { _ =>
      val curV = liveVersion(fs, root)
      var (vd, lf, ptr) = (0, 0, 0)
      curV.foreach { n =>
        fs.listStatus(root).foreach { st =>
          val nm = st.getPath.getName
          nm match {
            case VersionDirRe(k) if k.toInt != n =>
              fs.delete(st.getPath, true); vd += 1
            case LivePtrRe(k) if k.toInt != n =>
              fs.delete(st.getPath, false); ptr += 1
            case _ if nm.startsWith("part-") =>
              // legacy data superseded by the versioned migration
              fs.delete(st.getPath, false); lf += 1
            case _ => ()
          }
        }
      }
      var sib = 0
      val parent = root.getParent
      Seq(".compact-tmp", ".compact-old").foreach { suf =>
        val pSib = new Path(parent, root.getName + suf)
        if (fs.exists(pSib)) { fs.delete(pSib, true); sib += 1 }
      }
      fs.listStatus(parent).foreach { st =>
        if (st.getPath.getName.startsWith(root.getName + ".lock.stale-")) {
          fs.delete(st.getPath, false); sib += 1
        }
      }
      VacuumStats(vd, lf, ptr, sib)
    }
  }
}
