package graft.dedup

import org.apache.spark.sql.functions._

import graft.SparkSpec
import Registry.{Exact, Minhash, Near, Vec}

class RegistrySpec extends SparkSpec {
  import spark.implicits._

  // clear stale registry roots from PREVIOUS JVM runs: the suite
  // uses fixed /tmp paths, and leftovers from older builds (whose
  // in-place compact destroyed the marker file) would trip the
  // ownership guard that now — correctly — refuses markerless dirs
  for (root <- Seq("graft_test_reg", "graft_test_nreg",
      "graft_test_vreg", "graft_test_guard")) {
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(
      spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(
      s"${System.getProperty("java.io.tmpdir")}/$root"), true)
  }

  private def freshReg(tag: String): (String, String) = {
    val name = s"graft_test_reg_$tag"
    val path = s"${System.getProperty("java.io.tmpdir")}/graft_test_reg/$tag"
    Registry.create(spark, Exact, name, path, buckets = 4)
    (name, path)
  }

  test("registry replay equals from-scratch dedup of the union (first-seen wins)") {
    val (name, _) = freshReg("replay")
    // batch 1 re-introduces batch 0's text under LOWER ids — the
    // registry must still keep batch 0's keeper (first-seen), which
    // is exactly the (batch_no, id) tie rule the oracle replays
    val b0 = Seq((10L, "alpha"), (11L, "beta"), (12L, "alpha"))
      .toDF("doc_id", "text")
    val b1 = Seq((1L, "alpha"), (2L, "gamma"), (3L, "gamma"))
      .toDF("doc_id", "text")
    val k0 = Registry.ingest(spark, Exact, name, b0, "doc_id", "text", 0)
      .as[(String, Long)].collect().toSet.map((r: (String, Long)) =>
        (r._1, r._2, 0))
    val k1 = Registry.ingest(spark, Exact, name, b1, "doc_id", "text", 1)
      .as[(String, Long)].collect().toSet.map((r: (String, Long)) =>
        (r._1, r._2, 1))
    assert(k0.map(r => (r._2, r._3)) == Set((10L, 0), (11L, 0)))
    assert(k1.map(r => (r._2, r._3)) == Set((2L, 1)))
    // from-scratch replay over the union with the same tie rule
    val union = b0.withColumn("b", lit(0)).unionByName(b1.withColumn("b", lit(1)))
    val scratch = union
      .groupBy(md5(col("text")).as("h"))
      .agg(min(struct(col("b"), col("doc_id"))).as("k"))
      .select(col("h"), col("k.doc_id").as("keep_id"), col("k.b").as("batch_no"))
      .as[(String, Long, Int)].collect().toSet
    assert((k0 ++ k1) == scratch)
  }

  test("re-ingesting an already-registered batch is idempotent: zero new rows") {
    val (name, _) = freshReg("idem")
    val b = Seq((1L, "one"), (2L, "two")).toDF("doc_id", "text")
    assert(Registry.ingest(spark, Exact, name, b, "doc_id", "text", 0)
      .count() == 2L)
    val before = spark.table(name).count()
    assert(Registry.ingest(spark, Exact, name, b, "doc_id", "text", 1)
      .count() == 0L)
    assert(spark.table(name).count() == before)
  }

  test("batch dedup joins the registry without shuffling the registry side") {
    val (name, _) = freshReg("plan")
    Registry.ingest(spark, Exact, name,
      (1L to 50L).map(i => (i, s"doc $i")).toDF("doc_id", "text"),
      "doc_id", "text", 0)
    val batch = (40L to 90L).map(i => (i, s"doc $i")).toDF("doc_id", "text")
    val plan = Registry.dedupBatch(spark, name, batch, "doc_id", "text")
      .queryExecution.executedPlan.toString
    // the stored side must come straight off the bucketed scan: its
    // join subtree carries Bucketed: true and no Exchange above it
    assert(plan.contains("Bucketed: true"), plan.take(1500))
    // bucketed scans print SelectedBucketsCount — the reader is
    // actually using the bucket layout, not treating it as raw files
    assert(plan.contains("SelectedBucketsCount"), plan.take(1500))
  }

  test("nearIngest: exact and near copies drop against history, novel docs survive") {
    val name = "graft_test_nreg_basic"
    Registry.create(spark, Near(), name,
      s"${System.getProperty("java.io.tmpdir")}/graft_test_nreg/basic", 4)
    val long = (1 to 60).map(i => s"tok$i").mkString(" ")
    val other = (1 to 60).map(i => s"zzz$i").mkString(" ")
    val b0 = Seq((10L, long), (11L, other)).toDF("doc_id", "text")
    val k0 = Registry.ingest(spark, Near(), name, b0, "doc_id", "text", 0)
      .as[(Long, Long)].collect().toMap
    assert(k0.keySet == Set(10L, 11L))
    // batch 1: exact copy of 10, near copy of 10 (2 tokens swapped),
    // and a novel doc
    val near = ((1 to 58).map(i => s"tok$i") ++ Seq("aa", "bb"))
      .mkString(" ")
    val novel = (1 to 60).map(i => s"qqq$i").mkString(" ")
    val b1 = Seq((20L, long), (21L, near), (22L, novel))
      .toDF("doc_id", "text")
    val k1 = Registry.ingest(spark, Near(), name, b1, "doc_id", "text", 1)
      .as[(Long, Long)].collect().toMap
    // the exact copy matches unconditionally (hamming 0 shares every
    // window); the others follow the banded rule, replayed here from
    // the published simhashes so the expectation IS the contract
    def sims(rows: Seq[(Long, String)]) = rows.toDF("doc_id", "text")
      .select($"doc_id", Dedup.simhash60(
        graft.text.TextFunctions.tokens($"text")).as("s"))
      .as[(Long, Long)].collect().toMap
    val reg = sims(Seq(10L -> long, 11L -> other)).values.toSeq
    def window(s: Long, t: Int) = (s >> (60 - 15 * (t + 1))) & 32767L
    def drops(s: Long) = reg.exists(g =>
      (0 until 2).exists(t => window(s, t) == window(g, t)) &&
        java.lang.Long.bitCount(s ^ g) <= 20)
    val b1Sims = sims(Seq(20L -> long, 21L -> near, 22L -> novel))
    val expected = b1Sims.filterNot { case (_, s) => drops(s) }.keySet
    assert(!k1.contains(20L), "exact copy must drop")
    assert(k1.keySet == expected, s"kept ${k1.keySet} vs $expected")
  }

  test("nearIngest: identical-simhash docs collapse within a batch to the min id") {
    val name = "graft_test_nreg_batch"
    Registry.create(spark, Near(), name,
      s"${System.getProperty("java.io.tmpdir")}/graft_test_nreg/batch", 4)
    val t = (1 to 40).map(i => s"w$i").mkString(" ")
    val b = Seq((5L, t), (3L, t), (9L, "completely different words here " +
      (1 to 40).map(i => s"d$i").mkString(" "))).toDF("doc_id", "text")
    val kept = Registry.ingest(spark, Near(), name, b, "doc_id", "text", 0)
      .as[(Long, Long)].collect().toMap
    assert(kept.keySet == Set(3L, 9L))
  }

  test("vecIngest: exact vector copies drop across batches, distinct vectors survive") {
    val name = "graft_test_vreg"
    Registry.create(spark, Vec(), name,
      s"${System.getProperty("java.io.tmpdir")}/graft_test_vreg/v1", 4)
    val a = Array.tabulate(64)(i => 0.1f * i)
    val b = Array.tabulate(64)(i => 1.0f - 0.02f * i)
    val k0 = Registry.ingest(spark, Vec(), name,
      Seq((10L, a), (11L, b)).toDF("vec_id", "embedding"),
      "vec_id", "embedding", 0)
      .select($"vec_id").as[Long].collect().toSet
    assert(k0 == Set(10L, 11L))
    // batch 1: exact copy of a (drops — identical signature and
    // cosine 1), near-parallel scale of b (cosine 1 after rounding,
    // same signature — drops), and an orthogonal-ish novel vector
    val bScaled = b.map(_ * 3f)
    val novel = Array.tabulate(64)(i => if (i % 2 == 0) 1f else -1f)
    val k1 = Registry.ingest(spark, Vec(), name,
      Seq((20L, a), (21L, bScaled), (22L, novel))
        .toDF("vec_id", "embedding"),
      "vec_id", "embedding", 1)
      .select($"vec_id").as[Long].collect().toSet
    assert(!k1.contains(20L), "exact copy must drop")
    assert(!k1.contains(21L), "parallel rescale must drop (cos 1)")
    assert(k1.contains(22L), "novel vector must survive")
  }

  test("vecIngest: identical embeddings collapse within a batch to the min id") {
    val name = "graft_test_vreg2"
    Registry.create(spark, Vec(), name,
      s"${System.getProperty("java.io.tmpdir")}/graft_test_vreg/v2", 4)
    val v = Array.tabulate(64)(i => 0.5f + 0.01f * i)
    val kept = Registry.ingest(spark, Vec(), name,
      Seq((7L, v), (4L, v)).toDF("vec_id", "embedding"),
      "vec_id", "embedding", 0)
      .select($"vec_id").as[Long].collect().toSet
    assert(kept == Set(4L))
  }

  test("create refuses a non-empty directory it does not own, accepts " +
      "empty dirs and its own prior registries, rejects unsafe names") {
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(
      spark.sparkContext.hadoopConfiguration)
    val base = s"${System.getProperty("java.io.tmpdir")}/graft_test_guard"
    // (a) unrelated data at the path → refused, data intact
    val victim = s"$base/victim"
    fs.mkdirs(new org.apache.hadoop.fs.Path(victim))
    val precious = new org.apache.hadoop.fs.Path(s"$victim/precious.txt")
    fs.create(precious).close()
    val e = intercept[IllegalArgumentException] {
      Registry.create(spark, Exact, "graft_test_guard_reg", victim, 4)
    }
    assert(e.getMessage.contains("refusing to clear"))
    assert(fs.exists(precious), "unrelated data must survive the refusal")
    // (b) empty dir → accepted; re-create over the marker → accepted
    val ok = s"$base/ok"
    fs.mkdirs(new org.apache.hadoop.fs.Path(ok))
    Registry.create(spark, Exact, "graft_test_guard_ok", ok, 4)
    Registry.ingest(spark, Exact, "graft_test_guard_ok",
      Seq((1L, "x")).toDF("doc_id", "text"), "doc_id", "text", 0)
    Registry.create(spark, Near(), "graft_test_guard_ok2", ok, 4)
    assert(spark.table("graft_test_guard_ok2").count() == 0L)
    // (c) a name that would escape the identifier into SQL → rejected
    intercept[IllegalArgumentException] {
      Registry.create(spark, Exact, "bad name; drop", s"$base/badname", 4)
    }
    intercept[IllegalArgumentException] {
      Registry.create(spark, Vec(), "okname", s"$base/it's", 4)
    }
  }

  test("ingest probes read only index columns — history text can never " +
      "enter a plan (O(batch) contract, RegistryScaling measures it)") {
    val (name, _) = freshReg("oschema")
    Registry.ingest(spark, Exact, name,
      (1L to 30L).map(i => (i, s"doc body $i")).toDF("doc_id", "text"),
      "doc_id", "text", 0)
    // the exact registry's scan projects the digest alone
    val plan = Registry.dedupBatch(spark, name,
      (20L to 40L).map(i => (i, s"doc body $i")).toDF("doc_id", "text"),
      "doc_id", "text").queryExecution.executedPlan.toString
    assert(plan.contains("ReadSchema: struct<h:string>"), plan.take(1500))
    // structurally: no registry family stores text at all — the
    // stored state is digests / signatures (+ embeddings for vec)
    assert(spark.table(name).schema.fieldNames.toSet
      == Set("h", "keep_id", "batch_no"))
    Registry.create(spark, Near(), "graft_test_reg_oschema_nr",
      s"${System.getProperty("java.io.tmpdir")}/graft_test_reg/oschema_nr", 4)
    assert(spark.table("graft_test_reg_oschema_nr").schema.fieldNames.toSet
      == Set("w", "bucket", "doc_id", "simhash", "batch_no"))
    Registry.create(spark, Vec(), "graft_test_reg_oschema_vc",
      s"${System.getProperty("java.io.tmpdir")}/graft_test_reg/oschema_vc", 4)
    assert(spark.table("graft_test_reg_oschema_vc").schema.fieldNames.toSet
      == Set("sig", "vec_id", "embedding", "batch_no"))
  }

  private def partFiles(path: String): Int = {
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(
      spark.sparkContext.hadoopConfiguration)
    fs.listStatus(
        Registry.liveDir(fs, new org.apache.hadoop.fs.Path(path)))
      .count(_.getPath.getName.startsWith("part-"))
  }

  /** Rewrites a versioned registry into the PRE-r15 legacy layout
    * (part-files directly in the root, no pointers/version dirs) —
    * the on-disk state old deployments still hold; specs use it to
    * pin that legacy registries keep attaching/ingesting and that
    * compact migrates them.
    */
  private def legacyize(name: String, path: String): Unit = {
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(
      spark.sparkContext.hadoopConfiguration)
    val root = new org.apache.hadoop.fs.Path(path)
    val live = Registry.liveDir(fs, root)
    assert(live != root, "already legacy")
    fs.listStatus(live).foreach { st =>
      require(fs.rename(st.getPath,
        new org.apache.hadoop.fs.Path(root, st.getPath.getName)))
    }
    fs.delete(live, true)
    fs.listStatus(root).filter(_.getPath.getName.startsWith("_live.v"))
      .foreach(st => fs.delete(st.getPath, false))
  }

  test("compact: one file per bucket afterwards, identical rows, " +
      "identical dedupBatch verdicts, bucketed join layout intact") {
    val name = "graft_test_reg_compact"
    val path =
      s"${System.getProperty("java.io.tmpdir")}/graft_test_reg/compact"
    Registry.create(spark, Exact, name, path, buckets = 4)
    // 5 appends → file count grows with ingest count (the cliff)
    (0 until 5).foreach { b =>
      Registry.ingest(spark, Exact, name,
        (1L to 20L).map(i => (b * 100L + i, s"text ${b * 100L + i}"))
          .toDF("doc_id", "text"),
        "doc_id", "text", b)
    }
    val before = partFiles(path)
    assert(before > 4, s"appends should lay files per ingest: $before")
    val rowsBefore = spark.table(name)
      .as[(String, Long, Int)].collect().toSet
    val probe = (90L to 130L).map(i => (i, s"text $i"))
      .toDF("doc_id", "text")
    val verdictBefore = Registry.dedupBatch(spark, name, probe,
      "doc_id", "text").as[(String, Long)].collect().toSet

    Registry.compact(spark, name)

    assert(partFiles(path) == 4,
      s"expected one file per bucket, got ${partFiles(path)}")
    assert(spark.table(name).as[(String, Long, Int)].collect().toSet
      == rowsBefore, "compaction must not change a single row")
    val after = Registry.dedupBatch(spark, name, probe, "doc_id", "text")
    assert(after.as[(String, Long)].collect().toSet == verdictBefore)
    val plan = after.queryExecution.executedPlan.toString
    assert(plan.contains("Bucketed: true"), plan.take(1500))
    assert(plan.contains("SelectedBucketsCount"), plan.take(1500))
    // and ingest keeps working against the compacted table
    assert(Registry.ingest(spark, Exact, name,
      Seq((999L, "novel text")).toDF("doc_id", "text"),
      "doc_id", "text", 9).count() == 1L)
  }

  test("compact: near and vec registries compact on their bucket keys") {
    val nname = "graft_test_nreg_compact"
    val npath =
      s"${System.getProperty("java.io.tmpdir")}/graft_test_nreg/compact"
    Registry.create(spark, Near(), nname, npath, buckets = 4)
    (0 until 3).foreach { b =>
      Registry.ingest(spark, Near(), nname,
        Seq((b * 10L, (1 to 40).map(i => s"w${b}_$i").mkString(" ")))
          .toDF("doc_id", "text"),
        "doc_id", "text", b)
    }
    val nRows = spark.table(nname).count()
    Registry.compact(spark, nname)
    assert(partFiles(npath) <= 4)
    assert(spark.table(nname).count() == nRows)

    val vname = "graft_test_vreg_compact"
    val vpath =
      s"${System.getProperty("java.io.tmpdir")}/graft_test_vreg/compact"
    Registry.create(spark, Vec(), vname, vpath, buckets = 4)
    (0 until 3).foreach { b =>
      Registry.ingest(spark, Vec(), vname,
        Seq((b * 10L, Array.tabulate(16)(i => (b + 1) * 0.1f + i)))
          .toDF("vec_id", "embedding"),
        "vec_id", "embedding", b)
    }
    val vRows = spark.table(vname).count()
    Registry.compact(spark, vname)
    assert(partFiles(vpath) <= 4)
    assert(spark.table(vname).count() == vRows)
  }

  test("attach re-registers an existing registry across sessions: data " +
      "intact, ingest continues first-seen, bucketed plan preserved; " +
      "non-registry paths refused") {
    val name = "graft_test_reg_attach"
    val path =
      s"${System.getProperty("java.io.tmpdir")}/graft_test_reg/attach"
    Registry.create(spark, Exact, name, path, buckets = 4)
    Registry.ingest(spark, Exact, name,
      Seq((1L, "alpha"), (2L, "beta")).toDF("doc_id", "text"),
      "doc_id", "text", 0)
    // simulate the next day's session: the in-memory catalog forgot
    // the table, the files survive
    spark.sql(s"DROP TABLE $name")
    Registry.attach(spark, Exact, name, path, buckets = 4)
    assert(spark.table(name).count() == 2L)
    // first-seen continues against the attached history
    val kept = Registry.ingest(spark, Exact, name,
      Seq((9L, "alpha"), (10L, "gamma")).toDF("doc_id", "text"),
      "doc_id", "text", 1)
    assert(kept.select($"keep_id").as[Long].collect().toSet == Set(10L))
    val plan = Registry.dedupBatch(spark, name,
      Seq((5L, "beta")).toDF("doc_id", "text"), "doc_id", "text")
      .queryExecution.executedPlan.toString
    assert(plan.contains("Bucketed: true"), plan.take(1200))
    // a directory without the marker is not attachable
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(
      spark.sparkContext.hadoopConfiguration)
    val bare =
      s"${System.getProperty("java.io.tmpdir")}/graft_test_reg/notareg"
    fs.mkdirs(new org.apache.hadoop.fs.Path(bare))
    intercept[IllegalArgumentException] {
      Registry.attach(spark, Exact, "graft_test_reg_attach2", bare, 4)
    }
    assert(Registry.exists(spark, path) && !Registry.exists(spark, bare))
    // the marker stamps (family, buckets): a bucket-count mismatch
    // (would silently break the exchange-free join layout) and a
    // family mismatch (schema corruption) are both refused
    val wrongB = intercept[IllegalArgumentException] {
      Registry.attach(spark, Exact, "graft_test_reg_attach3", path, 8)
    }
    assert(wrongB.getMessage.contains("exact registry with 4 buckets"))
    intercept[IllegalArgumentException] {
      Registry.attach(spark, Near(), "graft_test_reg_attach4", path, 4)
    }
  }

  test("NULL text and NULL embeddings are excluded whole, not " +
      "re-appended forever through join null-semantics") {
    val (name, _) = freshReg("nulls")
    val b = Seq((1L, "real"), (2L, null.asInstanceOf[String]))
      .toDF("doc_id", "text")
    // twice: without the guard the null digest never matches the
    // anti-join and re-appends every batch
    assert(Registry.ingest(spark, Exact, name, b, "doc_id", "text", 0)
      .count() == 1L)
    assert(Registry.ingest(spark, Exact, name, b, "doc_id", "text", 1)
      .count() == 0L)
    assert(spark.table(name).count() == 1L)

    val vname = "graft_test_vreg_nulls"
    Registry.create(spark, Vec(), vname,
      s"${System.getProperty("java.io.tmpdir")}/graft_test_vreg/nulls", 4)
    val vb = Seq((1L, Array(0.1f, 0.2f)), (2L, null.asInstanceOf[Array[Float]]))
      .toDF("vec_id", "embedding")
    assert(Registry.ingest(spark, Vec(), vname, vb, "vec_id", "embedding", 0)
      .count() == 1L)
    assert(Registry.ingest(spark, Vec(), vname, vb, "vec_id", "embedding", 1)
      .count() == 0L)
    assert(spark.table(vname).count() == 1L)
  }

  test("replaying a batch (same batch number) returns its ORIGINAL " +
      "survivors and appends nothing — all three families (the " +
      "at-least-once crash-recovery contract)") {
    val (name, _) = freshReg("replay_same")
    val b0 = Seq((1L, "alpha"), (2L, "beta")).toDF("doc_id", "text")
    val b1 = Seq((10L, "alpha"), (11L, "gamma")).toDF("doc_id", "text")
    Registry.ingest(spark, Exact, name, b0, "doc_id", "text", 0)
    val first = Registry.ingest(spark, Exact, name, b1, "doc_id", "text", 1)
      .as[(String, Long)].collect().toSet
    assert(first.map(_._2) == Set(11L))
    val rows = spark.table(name).as[(String, Long, Int)].collect().toSet
    // the replay: same batch number, same rows — NOT empty survivors
    val replay = Registry.ingest(spark, Exact, name, b1, "doc_id", "text", 1)
      .as[(String, Long)].collect().toSet
    assert(replay == first, "replay must return the original survivors")
    assert(spark.table(name).as[(String, Long, Int)].collect().toSet
      == rows, "replay must append nothing")

    val nname = "graft_test_nreg_replay"
    Registry.create(spark, Near(), nname,
      s"${System.getProperty("java.io.tmpdir")}/graft_test_nreg/replay", 4)
    val long = (1 to 40).map(i => s"rp$i").mkString(" ")
    val other = (1 to 40).map(i => s"qq$i").mkString(" ")
    Registry.ingest(spark, Near(), nname,
      Seq((1L, long)).toDF("doc_id", "text"), "doc_id", "text", 0)
    val nFirst = Registry.ingest(spark, Near(), nname,
      Seq((10L, long), (11L, other)).toDF("doc_id", "text"),
      "doc_id", "text", 1).select($"doc_id").as[Long].collect().toSet
    assert(nFirst == Set(11L))
    val nRows = spark.table(nname).count()
    val nReplay = Registry.ingest(spark, Near(), nname,
      Seq((10L, long), (11L, other)).toDF("doc_id", "text"),
      "doc_id", "text", 1).select($"doc_id").as[Long].collect().toSet
    assert(nReplay == nFirst && spark.table(nname).count() == nRows)

    val vname = "graft_test_vreg_replay"
    Registry.create(spark, Vec(), vname,
      s"${System.getProperty("java.io.tmpdir")}/graft_test_vreg/replay", 4)
    val a = Array.tabulate(16)(i => 0.1f * i - 0.7f)
    val b = Array.tabulate(16)(i => if (i % 2 == 0) 1f else -1f)
    Registry.ingest(spark, Vec(), vname,
      Seq((1L, a)).toDF("vec_id", "embedding"), "vec_id", "embedding", 0)
    val vFirst = Registry.ingest(spark, Vec(), vname,
      Seq((10L, a), (11L, b)).toDF("vec_id", "embedding"),
      "vec_id", "embedding", 1).select($"vec_id").as[Long].collect().toSet
    assert(vFirst == Set(11L))
    val vRows = spark.table(vname).count()
    val vReplay = Registry.ingest(spark, Vec(), vname,
      Seq((10L, a), (11L, b)).toDF("vec_id", "embedding"),
      "vec_id", "embedding", 1).select($"vec_id").as[Long].collect().toSet
    assert(vReplay == vFirst && spark.table(vname).count() == vRows)
  }

  test("a partially-committed append heals on replay: only the missing " +
      "digests land, survivors complete") {
    val (name, _) = freshReg("heal")
    // simulate the crashed first attempt: only HALF the batch's
    // digests were committed before the process died (a mid-append
    // task-commit boundary)
    val half = Seq((1L, "aa"), (2L, "bb")).toDF("doc_id", "text")
    Registry.ingest(spark, Exact, name, half, "doc_id", "text", 7)
    // the retry runs the FULL batch under the same number
    val full = Seq((1L, "aa"), (2L, "bb"), (3L, "cc"), (4L, "dd"))
      .toDF("doc_id", "text")
    val replay = Registry.ingest(spark, Exact, name, full, "doc_id", "text", 7)
      .select($"keep_id").as[Long].collect().toSet
    assert(replay == Set(1L, 2L, 3L, 4L),
      "replay survivors must cover the whole batch")
    assert(spark.table(name).count() == 4L,
      "heal must append exactly the missing digests")
  }

  test("single-writer lease: a second writer fails loudly while held, " +
      "a stale lease is taken over, release is idempotent") {
    val (name, path) = freshReg("lock")
    val b = Seq((1L, "x")).toDF("doc_id", "text")
    val held = Registry.acquireLock(spark, path) // another writer
    val e = intercept[IllegalStateException] {
      Registry.ingest(spark, Exact, name, b, "doc_id", "text", 0)
    }
    assert(e.getMessage.contains("locked by another writer"))
    assert(spark.table(name).count() == 0L, "failed writer must not append")
    Registry.releaseLock(spark, held)
    assert(Registry.ingest(spark, Exact, name, b, "doc_id", "text", 0)
      .count() == 1L, "ingest proceeds once the lease is free")
    // stale lease (crashed writer): backdate the lock file beyond the
    // lease horizon — the next writer takes over instead of wedging
    val crashed = Registry.acquireLock(spark, path)
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(
      spark.sparkContext.hadoopConfiguration)
    val lk = new org.apache.hadoop.fs.Path(
      new org.apache.hadoop.fs.Path(path).getParent,
      new org.apache.hadoop.fs.Path(path).getName + ".lock")
    val old = System.currentTimeMillis() - Registry.DefaultLeaseMs - 60000L
    fs.setTimes(lk, old, old)
    assert(Registry.ingest(spark, Exact, name,
      Seq((2L, "y")).toDF("doc_id", "text"), "doc_id", "text", 1)
      .count() == 1L, "stale lease must be taken over")
    assert(!fs.exists(lk), "takeover ingest must release its lease")
    Registry.releaseLock(spark, crashed) // idempotent on a missing lock
  }

  test("lease fencing: a usurped writer's commit gate ABORTS and its " +
      "release leaves the new holder's lease intact") {
    val (_, path) = freshReg("fence")
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(
      spark.sparkContext.hadoopConfiguration)
    val lk = new org.apache.hadoop.fs.Path(
      new org.apache.hadoop.fs.Path(path).getParent,
      new org.apache.hadoop.fs.Path(path).getName + ".lock")
    // writer A acquires, then stalls past the horizon (a giant GC, an
    // ingest that outgrew the horizon): simulate by backdating A's lock
    val a = Registry.acquireLock(spark, path)
    Registry.validateLease(spark, a) // live and unchallenged — passes
    val old = System.currentTimeMillis() - Registry.DefaultLeaseMs - 60000L
    fs.setTimes(lk, old, old)
    // writer B observes a stale lease and takes over (atomically)
    val bLease = Registry.acquireLock(spark, path)
    // A wakes up at its commit point: the fencing check must ABORT it
    val e = intercept[IllegalStateException] {
      Registry.validateLease(spark, a)
    }
    assert(e.getMessage.contains("usurped"),
      "the usurped writer's pre-commit validation must abort")
    // A's finally-release must NOT delete B's lease (the third-writer
    // hole: an unconditional delete would let writer C in beside B)
    Registry.releaseLock(spark, a)
    assert(fs.exists(lk), "usurped release must leave the holder's lock")
    Registry.validateLease(spark, bLease) // B still holds
    // a third writer is still excluded while B holds
    intercept[IllegalStateException] { Registry.acquireLock(spark, path) }
    Registry.releaseLock(spark, bLease)
    assert(!fs.exists(lk), "owner release removes the lock")
    // breakLock is the manual escape hatch — unconditional
    val c = Registry.acquireLock(spark, path)
    Registry.breakLock(spark, path)
    assert(!fs.exists(lk))
    Registry.releaseLock(spark, c) // no-op: token no longer present
  }

  test("chain fencing: a lane whose lease is usurped between the verdict " +
      "cut and its append fails the batch; the replay lands the verdicts " +
      "of an uninterrupted run, with no duplicate registry row") {
    val base = s"${System.getProperty("java.io.tmpdir")}/graft_test_reg"
    val lanes = Seq("ex" -> Exact, "nr" -> Near(), "mh" -> Minhash(),
      "vc" -> Vec())
    def regs(tag: String) = lanes.map { case (dir, lane) =>
      val name = s"graft_test_reg_chain${tag}_$dir"
      Registry.create(spark, lane, name, s"$base/chain${tag}_$dir", 4)
      name -> lane
    }
    val (cut, clean) = (regs("f"), regs("c"))
    def text(salt: String) = (1 to 30).map(i => s"tk${salt}x$i").mkString(" ")
    def vec(seed: Int) = {
      val r = new scala.util.Random(seed)
      Array.fill(16)(r.nextFloat() - 0.5f)
    }
    val benchText = text("bench")
    val b0 = Seq((1L, text("fa"), vec(1)), (2L, text("fb"), vec(2)))
      .toDF("doc_id", "text", "embedding")
    // exact, near, vec copies of batch 0, a contaminated and a novel doc
    val b1 = Seq((10L, text("fa"), vec(3)),
      (11L, text("fa").split(" ").reverse.mkString(" "), vec(4)),
      (12L, text("fc"), vec(1)), (13L, text("fd") + " " + benchText, vec(5)),
      (14L, text("fe"), vec(6))).toDF("doc_id", "text", "embedding")
    val bench = Seq((0L, benchText)).toDF("doc_id", "text")
    def ingest(chain: Seq[(String, Registry.Lane)], b: Int,
        bch: org.apache.spark.sql.DataFrame) = {
      val r = graft.pipeline.Pipelines.ingestBatch(spark, Seq(b0, b1)(b),
        "doc_id", "text", chain, bch, "text", b, minChars = 100)
      try (r.survivors.select($"doc_id").as[Long].collect().toSet,
        (r.nIn, r.nQuality, r.nExact, r.nNear, r.nMinhash, r.nVec, r.nClean))
      finally graft.ops.Pin.release(r.survivors)
    }
    ingest(clean, 0, bench)
    val expected = ingest(clean, 1, bench)
    ingest(cut, 0, bench)
    // the benchmark is read inside the verdict plan, after every lease
    // is taken and before any append: reading it hands the third
    // lane's lock to another writer
    val mhPath = s"$base/chainf_mh"
    ChainFence.lock = Some(new java.io.File(s"$mhPath.lock").toPath)
    val usurp = udf { (t: String) => ChainFence.usurp(); t }
      .asNondeterministic()
    val e = intercept[IllegalStateException] {
      ingest(cut, 1, bench.withColumn("text", usurp(col("text"))))
    }
    assert(e.getMessage.contains("usurped"), e.getMessage)
    assert(ChainFence.lock.isEmpty, "the lease was never usurped")
    assert(spark.table(cut(2)._1).count() == spark.table(clean(2)._1)
      .filter($"batch_no" === 0).count(), "the fenced lane appended")
    Registry.breakLock(spark, mhPath) // the other writer is done
    assert(ingest(cut, 1, bench) == expected,
      "the replay must land the uninterrupted run's survivors and funnel")
    cut.zip(clean).foreach { case ((f, _), (c, _)) =>
      val rows = spark.table(f).collect().map(_.toString).toSeq
      assert(rows.distinct.size == rows.size, s"$f holds a duplicate row")
      assert(rows.sorted == spark.table(c).collect().map(_.toString)
        .toSeq.sorted, s"$f differs from the uninterrupted $c")
    }
  }

  test("compact crash before the swap leaves the live registry intact " +
      "and serving; the staged version dir is inert until the pointer " +
      "lands; re-running compact completes; vacuum reclaims") {
    val name = "graft_test_reg_crashcompact"
    val path =
      s"${System.getProperty("java.io.tmpdir")}/graft_test_reg/crashcompact"
    Registry.create(spark, Exact, name, path, buckets = 4)
    (0 until 3).foreach { b =>
      Registry.ingest(spark, Exact, name,
        (1L to 20L).map(i => (b * 100L + i, s"cc ${b * 100L + i}"))
          .toDF("doc_id", "text"), "doc_id", "text", b)
    }
    val rowsBefore = spark.table(name)
      .as[(String, Long, Int)].collect().toSet
    val filesBefore = partFiles(path)
    // the crash: process dies after the staged write, before the
    // pointer create (the commit point)
    Registry.compactImpl(spark, name, crashBeforeSwap = true)
    assert(partFiles(path) == filesBefore,
      "live registry files must be untouched by a crashed compact " +
        "(the pointer still names _v0)")
    assert(spark.table(name).as[(String, Long, Int)].collect().toSet
      == rowsBefore, "live rows must be intact")
    // and it still SERVES: dedupBatch + ingest work against it
    assert(Registry.dedupBatch(spark, name,
      Seq((999L, "cc 105")).toDF("doc_id", "text"), "doc_id", "text")
      .count() == 0L, "registered digest must still match")
    // the staged version dir holds a complete copy but NO pointer
    // names it — invisible to attach, inert garbage for vacuum
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(
      spark.sparkContext.hadoopConfiguration)
    val staged = new org.apache.hadoop.fs.Path(path, "_v1")
    assert(fs.exists(staged))
    // explicit leaf files: Spark ignores a hidden (_-prefixed) root dir
    val stagedFiles = fs.listStatus(staged)
      .filter(_.getPath.getName.startsWith("part-"))
      .map(_.getPath.toString)
    assert(spark.read.parquet(stagedFiles.toIndexedSeq: _*).count()
      == rowsBefore.size.toLong)
    Registry.attach(spark, Exact, "graft_test_reg_crashcompact_b", path, 4)
    assert(spark.table("graft_test_reg_crashcompact_b")
      .as[(String, Long, Int)].collect().toSet == rowsBefore,
      "attach after the crash must resolve the OLD (pointed) version")
    // re-running compact to completion: pointer lands, one file per
    // bucket, rows and verdicts unchanged; the superseded _v0 stays
    // on disk (reader grace) until vacuum reclaims it
    Registry.compact(spark, name)
    assert(partFiles(path) == 4)
    assert(spark.table(name).as[(String, Long, Int)].collect().toSet
      == rowsBefore)
    val v0 = new org.apache.hadoop.fs.Path(path, "_v0")
    assert(fs.exists(v0), "superseded version stays for readers")
    val st = Registry.vacuum(spark, path)
    assert(st.versionDirs == 1 && !fs.exists(v0),
      s"vacuum must reclaim the superseded version: $st")
    assert(spark.table(name).as[(String, Long, Int)].collect().toSet
      == rowsBefore, "vacuum must not touch the live version")
    assert(Registry.vacuum(spark, path)
      == Registry.VacuumStats(0, 0, 0, 0), "vacuum is idempotent")
  }

  test("legacy-layout registries (data in the root) attach and ingest " +
      "unchanged; compact MIGRATES them to the versioned layout and " +
      "vacuum reclaims the superseded root files") {
    val name = "graft_test_reg_legacy"
    val path =
      s"${System.getProperty("java.io.tmpdir")}/graft_test_reg/legacy"
    Registry.create(spark, Exact, name, path, buckets = 4)
    Registry.ingest(spark, Exact, name,
      (1L to 20L).map(i => (i, s"lg $i")).toDF("doc_id", "text"),
      "doc_id", "text", 0)
    val rows = spark.table(name).as[(String, Long, Int)].collect().toSet
    legacyize(name, path)
    // attach resolves the root as the live dir (no pointers)
    Registry.attach(spark, Exact, name, path, 4)
    assert(spark.table(name).as[(String, Long, Int)].collect().toSet
      == rows, "legacy layout must serve verbatim")
    assert(Registry.ingest(spark, Exact, name,
      Seq((99L, "lg novel")).toDF("doc_id", "text"),
      "doc_id", "text", 1).count() == 1L, "legacy ingest works")
    val all = spark.table(name).as[(String, Long, Int)].collect().toSet
    // first compact migrates: pointer + _v0, root part-files
    // superseded (kept for attached readers), vacuum reclaims them
    Registry.compact(spark, name)
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(
      spark.sparkContext.hadoopConfiguration)
    val root = new org.apache.hadoop.fs.Path(path)
    assert(Registry.liveDir(fs, root) != root, "must be versioned now")
    assert(spark.table(name).as[(String, Long, Int)].collect().toSet
      == all)
    assert(fs.listStatus(root)
      .exists(_.getPath.getName.startsWith("part-")),
      "superseded legacy files stay for attached readers")
    val st = Registry.vacuum(spark, path)
    assert(st.legacyFiles > 0)
    assert(!fs.listStatus(root)
      .exists(_.getPath.getName.startsWith("part-")))
    assert(spark.table(name).as[(String, Long, Int)].collect().toSet
      == all, "vacuum must not touch the live version")
  }

  test("concurrent readers during compaction see the pre- or post-" +
      "state, never an error, a partial scan, or an EMPTY registry " +
      "(the reader contract of the pointer swap)") {
    val name = "graft_test_reg_reader"
    val path =
      s"${System.getProperty("java.io.tmpdir")}/graft_test_reg/reader"
    Registry.create(spark, Exact, name, path, buckets = 4)
    (0 until 4).foreach { b =>
      Registry.ingest(spark, Exact, name,
        (1L to 25L).map(i => (b * 100L + i, s"rd ${b * 100L + i}"))
          .toDF("doc_id", "text"), "doc_id", "text", b)
    }
    val expectRows = spark.table(name).count()
    // overlaps batch 3's texts (rd 301..325): 16 registered, 25 novel
    val probe = (310L to 350L).map(i => (i, s"rd $i"))
      .toDF("doc_id", "text")
    val expectVerdict = Registry.dedupBatch(spark, name, probe,
      "doc_id", "text").count()
    assert(expectVerdict > 0 && expectVerdict < 41,
      "fixture must mix registered and novel docs")
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    val failure =
      new java.util.concurrent.atomic.AtomicReference[Throwable](null)
    val reads = new java.util.concurrent.atomic.AtomicInteger(0)
    val reader = new Thread(() => {
      try {
        while (!stop.get()) {
          // a full-scan count AND a probe verdict: compaction is
          // layout-only, so BOTH are invariants across every swap
          val n = spark.table(name).count()
          if (n != expectRows)
            throw new IllegalStateException(
              s"reader saw $n rows, expected $expectRows")
          val v = Registry.dedupBatch(spark, name, probe,
            "doc_id", "text").count()
          if (v != expectVerdict)
            throw new IllegalStateException(
              s"reader saw verdict $v, expected $expectVerdict")
          reads.incrementAndGet()
        }
      } catch {
        case t: Throwable => failure.set(t); stop.set(true)
      }
    })
    reader.start()
    try {
      (0 until 4).foreach { _ =>
        Registry.compact(spark, name)
        if (stop.get())
          throw new IllegalStateException("reader died mid-run",
            failure.get())
      }
    } finally {
      stop.set(true)
      reader.join(60000)
    }
    assert(failure.get() == null,
      s"reader must never fail: ${Option(failure.get()).map(_.toString)}")
    assert(reads.get() > 0, "reader must have actually read")
    // the four superseded versions are all still on disk (reader
    // grace), then vacuum reclaims them in one pass
    assert(Registry.vacuum(spark, path).versionDirs == 4)
  }

  test("minhashIngest: exact and shingle-overlap copies drop against " +
      "history, novel docs survive; within-batch identical signatures " +
      "collapse; replay returns original survivors; marker stamps " +
      "(k, bands) and guards attach") {
    val name = "graft_test_mreg"
    val path =
      s"${System.getProperty("java.io.tmpdir")}/graft_test_mreg/basic"
    Registry.create(spark, Minhash(k = 8, bands = 4), name, path, buckets = 4)
    val long = (1 to 60).map(i => s"mk$i").mkString(" ")
    val other = (1 to 60).map(i => s"zz$i").mkString(" ")
    // batch 0: two distinct docs + an exact copy of the first
    // (within-batch identical-signature collapse to the min id)
    val k0 = Registry.ingest(spark, Minhash(), name,
      Seq((11L, long), (10L, long), (12L, other)).toDF("doc_id", "text"),
      "doc_id", "text", 0)
      .select($"doc_id").as[Long].collect().toSet
    assert(k0 == Set(10L, 12L))
    // batch 1: exact copy (8/8 matches — always drops), a local edit
    // (one token changed in 60 → most shingles shared; adjudicated by
    // the deterministic est rule, replayed below from published
    // signatures), and a novel doc
    val near = ((1 to 30).map(i => s"mk$i") ++ Seq("EDIT") ++
      (32 to 60).map(i => s"mk$i")).mkString(" ")
    val novel = (1 to 60).map(i => s"qq$i").mkString(" ")
    val k1 = Registry.ingest(spark, Minhash(), name,
      Seq((20L, long), (21L, near), (22L, novel)).toDF("doc_id", "text"),
      "doc_id", "text", 1)
      .select($"doc_id").as[Long].collect().toSet
    assert(!k1.contains(20L), "exact copy must drop (8/8 positions)")
    assert(k1.contains(22L), "novel doc must survive")
    // the near doc's verdict replayed from the OPERATOR's own rule:
    // shares a band with a registered sig AND >= 6 of 8 positions
    def sig(t: String) = Seq((0L, t)).toDF("doc_id", "text")
      .select(Dedup.minhashSignatureFast(Dedup.shingles($"text", 3), 8))
      .as[Seq[String]].head()
    val (sN, sL, sO) = (sig(near), sig(long), sig(other))
    def bandShared(a: Seq[String], b: Seq[String]) =
      (0 until 4).exists(i => a(2 * i) == b(2 * i) &&
        a(2 * i + 1) == b(2 * i + 1))
    def matches(a: Seq[String], b: Seq[String]) =
      a.zip(b).count { case (x, y) => x == y }
    val nearDrops = Seq(sL, sO).exists(g =>
      bandShared(sN, g) && matches(sN, g) >= 6)
    assert(k1.contains(21L) != nearDrops,
      s"near verdict must follow the band+est rule (drops=$nearDrops)")
    // replay: same batch number returns the ORIGINAL survivors and
    // appends nothing
    val rows = spark.table(name).count()
    val k1r = Registry.ingest(spark, Minhash(), name,
      Seq((20L, long), (21L, near), (22L, novel)).toDF("doc_id", "text"),
      "doc_id", "text", 1)
      .select($"doc_id").as[Long].collect().toSet
    assert(k1r == k1 && spark.table(name).count() == rows)
    // marker: (k, bands) stamped; attach validates family
    Registry.attach(spark, Minhash(), "graft_test_mreg_b", path, 4)
    assert(spark.table("graft_test_mreg_b").count() == rows)
    intercept[IllegalArgumentException] {
      Registry.attach(spark, Near(), "graft_test_mreg_c", path, 4)
    }
    // a probe that no band could even propose is a caller error
    intercept[IllegalArgumentException] {
      Registry.ingest(spark, Minhash(minMatches = 1), name,
        Seq((30L, long)).toDF("doc_id", "text"), "doc_id", "text", 2)
    }
  }

  test("recoverCompact restores a LEGACY registry whose old-style " +
      "compaction died between its two renames; attach auto-invokes " +
      "it; no-ops on an intact registry") {
    val name = "graft_test_reg_recover"
    val path =
      s"${System.getProperty("java.io.tmpdir")}/graft_test_reg/recover"
    Registry.create(spark, Exact, name, path, buckets = 4)
    Registry.ingest(spark, Exact, name,
      (1L to 20L).map(i => (i, s"rc $i")).toDF("doc_id", "text"),
      "doc_id", "text", 0)
    val rows = spark.table(name).as[(String, Long, Int)].collect().toSet
    assert(!Registry.recoverCompact(spark, path), "intact → no-op")
    // construct the PRE-r15 crash state: a legacy-layout registry
    // whose two-rename compact died after its first rename — the
    // root is gone, `.compact-old` holds the original (marker inside)
    legacyize(name, path)
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(
      spark.sparkContext.hadoopConfiguration)
    require(fs.rename(new org.apache.hadoop.fs.Path(path),
      new org.apache.hadoop.fs.Path(s"$path.compact-old")))
    assert(Registry.recoverCompact(spark, path), "restore must happen")
    Registry.attach(spark, Exact, name, path, 4)
    assert(spark.table(name).as[(String, Long, Int)].collect().toSet
      == rows, "restored registry must hold every row")
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$path.compact-old"))
      && !fs.exists(new org.apache.hadoop.fs.Path(s"$path.compact-tmp")),
      "recovery must consume the staging/backup dirs")
    // and it still ingests
    assert(Registry.ingest(spark, Exact, name,
      Seq((99L, "rc novel")).toDF("doc_id", "text"), "doc_id", "text", 1)
      .count() == 1L)
    // attach AUTO-recovers the same crash state (r14 verdict #3) —
    // no manual recoverCompact step
    require(fs.rename(new org.apache.hadoop.fs.Path(path),
      new org.apache.hadoop.fs.Path(s"$path.compact-old")))
    Registry.attach(spark, Exact, "graft_test_reg_recover_b", path, 4)
    assert(spark.table("graft_test_reg_recover_b").count()
      == rows.size.toLong + 1L)
    // a missing path that is NOT a crashed compaction stays a
    // pointed error
    val e = intercept[IllegalStateException] {
      Registry.attach(spark, Exact, "graft_test_reg_recover_c",
        s"$path-nonexistent", 4)
    }
    assert(e.getMessage.contains("not a crashed compaction"))
  }

  test("rekeyVec migrates a vector registry to higher planes: rows " +
      "preserved verbatim, marker restamped, rekey-then-ingest equals " +
      "create-at-new-planes-then-replay on exact-dup fixtures") {
    val tmp = System.getProperty("java.io.tmpdir")
    val a = Array.tabulate(32)(i => 0.3f - 0.01f * i * i % 7)
    val b = Array.tabulate(32)(i => if (i % 3 == 0) 0.9f else -0.2f)
    val c = Array.tabulate(32)(i => 0.05f * ((i * 13) % 11) - 0.25f)
    val b0 = Seq((1L, a), (2L, b)).toDF("vec_id", "embedding")
    val b1 = Seq((10L, a), (11L, c)).toDF("vec_id", "embedding")

    // lane 1: created at 8 planes, outgrown, re-keyed to 16
    Registry.create(spark, Vec(planes = 8), "graft_test_vreg_rk8",
      s"$tmp/graft_test_vreg/rk8", 4)
    Registry.ingest(spark, Vec(), "graft_test_vreg_rk8", b0,
      "vec_id", "embedding", 0)
    Registry.rekeyVec(spark, "graft_test_vreg_rk8",
      "graft_test_vreg_rk16", s"$tmp/graft_test_vreg/rk16", 4,
      newPlanes = 16)
    // historical rows preserved verbatim (ids, embeddings, batch)
    assert(spark.table("graft_test_vreg_rk16")
      .select($"vec_id", $"batch_no").as[(Long, Int)].collect().toSet
      == Set((1L, 0), (2L, 0)))
    val k1 = Registry.ingest(spark, Vec(), "graft_test_vreg_rk16", b1,
      "vec_id", "embedding", 1)
      .select($"vec_id").as[Long].collect().toSet

    // lane 2: created at 16 planes from the start, replayed
    Registry.create(spark, Vec(planes = 16), "graft_test_vreg_rkref",
      s"$tmp/graft_test_vreg/rkref", 4)
    Registry.ingest(spark, Vec(), "graft_test_vreg_rkref", b0,
      "vec_id", "embedding", 0)
    val k1Ref = Registry.ingest(spark, Vec(), "graft_test_vreg_rkref", b1,
      "vec_id", "embedding", 1)
      .select($"vec_id").as[Long].collect().toSet
    assert(k1 == k1Ref, s"rekeyed $k1 vs reference $k1Ref")
    assert(k1 == Set(11L), "exact re-ingested copy must drop at 16 planes")
    // the re-keyed registry's marker stamps the NEW plane count:
    // attach at 16 succeeds
    Registry.attach(spark, Vec(), "graft_test_vreg_rk16b",
      s"$tmp/graft_test_vreg/rk16", 4)
    assert(spark.table("graft_test_vreg_rk16b").count()
      == spark.table("graft_test_vreg_rk16").count())
  }

  test("marker stamps guard the physical contract: legacy near/vec " +
      "dirs (no schema stamp) and foreign hash versions refuse attach; " +
      "stampMarker migrates a legacy exact registry") {
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(
      spark.sparkContext.hadoopConfiguration)
    val tmp = System.getProperty("java.io.tmpdir")
    // (a) legacy near registry: marker without schema=2 → refused
    val legacyNear = s"$tmp/graft_test_nreg/legacy"
    Registry.create(spark, Near(), "graft_test_nreg_legacy", legacyNear, 4)
    val mk = new org.apache.hadoop.fs.Path(legacyNear, "_graft_registry")
    val out = fs.create(mk, true)
    out.write("near 4\n".getBytes("UTF-8")); out.close()
    val e1 = intercept[IllegalArgumentException] {
      Registry.attach(spark, Near(), "graft_test_nreg_legacy2", legacyNear, 4)
    }
    assert(e1.getMessage.contains("legacy"))
    // (b) vec registry signed with a foreign hyperplane hash → refused
    val foreignVec = s"$tmp/graft_test_vreg/foreign"
    Registry.create(spark, Vec(), "graft_test_vreg_foreign", foreignVec, 4)
    val mkv = new org.apache.hadoop.fs.Path(foreignVec, "_graft_registry")
    val outv = fs.create(mkv, true)
    outv.write("vec 4 schema=2 planes=16 hash=other9\n".getBytes("UTF-8"))
    outv.close()
    val e2 = intercept[IllegalArgumentException] {
      Registry.attach(spark, Vec(), "graft_test_vreg_foreign2", foreignVec, 4)
    }
    assert(e2.getMessage.contains("hyperplane-hash"))
    // (c) a legacy EXACT registry that lost its marker (the pre-r14
    // in-place compact destroyed it): stampMarker migrates, attach works
    val lost = s"$tmp/graft_test_reg/lostmarker"
    Registry.create(spark, Exact, "graft_test_reg_lost", lost, 4)
    Registry.ingest(spark, Exact, "graft_test_reg_lost",
      Seq((1L, "legacy row")).toDF("doc_id", "text"), "doc_id", "text", 0)
    legacyize("graft_test_reg_lost", lost)
    fs.delete(new org.apache.hadoop.fs.Path(lost, "_graft_registry"), false)
    intercept[IllegalArgumentException] {
      Registry.attach(spark, Exact, "graft_test_reg_lost2", lost, 4)
    }
    Registry.stampMarker(spark, lost, "exact", 4)
    Registry.attach(spark, Exact, "graft_test_reg_lost2", lost, 4)
    assert(spark.table("graft_test_reg_lost2").count() == 1L)
    // re-stamping an already-marked dir is refused
    intercept[IllegalArgumentException] {
      Registry.stampMarker(spark, lost, "exact", 4)
    }
  }

  test("fileStats reports the compaction trigger: files-per-bucket " +
      "grows one per ingest, compact resets it to one") {
    val (name, _) = freshReg("fstats")
    (0 until 3).foreach { b =>
      Registry.ingest(spark, Exact, name,
        (1L to 30L).map(i => (b * 100L + i, s"fs ${b * 100L + i}"))
          .toDF("doc_id", "text"), "doc_id", "text", b)
    }
    val s = Registry.fileStats(spark, name)
    assert(s.buckets == 4 && s.maxFilesPerBucket == 3 && s.bytes > 0L,
      s.toString)
    assert(s.maxFilesPerBucket < Registry.CompactThreshold)
    Registry.compact(spark, name)
    val after = Registry.fileStats(spark, name)
    assert(after.maxFilesPerBucket == 1 && after.files == 4, after.toString)
  }

  test("survivors returned by ingest are pinned before the append (not vanished)") {
    val (name, _) = freshReg("pin")
    val b = Seq((7L, "seven"), (8L, "eight")).toDF("doc_id", "text")
    val kept = Registry.ingest(spark, Exact, name, b, "doc_id", "text", 0)
    // consuming AFTER the append must still show the survivors
    assert(kept.count() == 2L)
  }

  test("rekeyVec refuses a destination equal to the source (name or " +
      "path) — prepareLocation would destroy the registry it is " +
      "about to read") {
    val tmp = System.getProperty("java.io.tmpdir")
    Registry.create(spark, Vec(planes = 8), "graft_test_vreg_selfrk",
      s"$tmp/graft_test_vreg/selfrk", 4)
    Registry.ingest(spark, Vec(), "graft_test_vreg_selfrk",
      Seq((1L, Array(1f, 2f, 3f, 4f))).toDF("vec_id", "embedding"),
      "vec_id", "embedding", 0)
    intercept[IllegalArgumentException] {
      Registry.rekeyVec(spark, "graft_test_vreg_selfrk",
        "graft_test_vreg_selfrk2", s"$tmp/graft_test_vreg/selfrk", 4,
        newPlanes = 16)
    }
    intercept[IllegalArgumentException] {
      Registry.rekeyVec(spark, "graft_test_vreg_selfrk",
        "graft_test_vreg_selfrk", s"$tmp/graft_test_vreg/selfrk_b", 4,
        newPlanes = 16)
    }
    // the refused rekey must leave the source fully alive
    assert(spark.table("graft_test_vreg_selfrk").count() == 1L)
  }

  test("rekeyVec tombstones the source: later attach and ingest fail " +
      "naming the successor (split-brain across the migration is " +
      "impossible)") {
    val tmp = System.getProperty("java.io.tmpdir")
    val srcPath = s"$tmp/graft_test_vreg/tomb8"
    val dstPath = s"$tmp/graft_test_vreg/tomb16"
    Registry.create(spark, Vec(planes = 8), "graft_test_vreg_tomb8", srcPath, 4)
    Registry.ingest(spark, Vec(), "graft_test_vreg_tomb8",
      Seq((1L, Array(1f, 0f, 2f, 0f))).toDF("vec_id", "embedding"),
      "vec_id", "embedding", 0)
    Registry.rekeyVec(spark, "graft_test_vreg_tomb8",
      "graft_test_vreg_tomb16", dstPath, 4, newPlanes = 16)
    // a stale job config still pointing at the OLD path: attach fails
    // naming the successor
    val e1 = intercept[IllegalStateException] {
      Registry.attach(spark, Vec(), "graft_test_vreg_tomb8_again", srcPath, 4)
    }
    assert(e1.getMessage.contains(dstPath),
      s"attach error must name the successor: ${e1.getMessage}")
    // ... and a session that still holds the old TABLE attached: every
    // mutating call re-reads the marker under the lock and aborts too
    val e2 = intercept[IllegalStateException] {
      Registry.ingest(spark, Vec(), "graft_test_vreg_tomb8",
        Seq((9L, Array(0f, 1f, 0f, 2f))).toDF("vec_id", "embedding"),
        "vec_id", "embedding", 1)
    }
    assert(e2.getMessage.contains(dstPath))
    assert(spark.table("graft_test_vreg_tomb8").count() == 1L,
      "the refused ingest must not have appended")
    // the successor ingests normally
    assert(Registry.ingest(spark, Vec(), "graft_test_vreg_tomb16",
      Seq((9L, Array(0f, 1f, 0f, 2f))).toDF("vec_id", "embedding"),
      "vec_id", "embedding", 1).count() == 1L)
  }

  test("minhashIngest: NULL signatures (null text / empty shingle set) " +
      "are excluded whole — never survivors, never re-appended every " +
      "batch (the join-null-semantics hazard in MinHash form)") {
    val name = "graft_test_mreg_null"
    val path =
      s"${System.getProperty("java.io.tmpdir")}/graft_test_mreg/null"
    Registry.create(spark, Minhash(k = 8, bands = 4), name, path, buckets = 4)
    val real = (1 to 40).map(i => s"nn$i").mkString(" ")
    val b0 = Seq((1L, null: String), (2L, real)).toDF("doc_id", "text")
    val k0 = Registry.ingest(spark, Minhash(), name, b0, "doc_id", "text", 0)
      .select($"doc_id").as[Long].collect().toSet
    assert(k0 == Set(2L), "null-text doc must not survive the lane")
    val rows = spark.table(name).count()
    assert(spark.table(name).filter($"sig".isNull).count() == 0L,
      "no null signature rows may land in the registry")
    // later batches with null docs: no unbounded re-append
    val k1 = Registry.ingest(spark, Minhash(), name,
      Seq((3L, null: String), (4L, real)).toDF("doc_id", "text"),
      "doc_id", "text", 1)
      .select($"doc_id").as[Long].collect().toSet
    assert(k1.isEmpty, "exact copy drops; null doc is excluded")
    assert(spark.table(name).count() == rows,
      "null docs must append NOTHING, batch after batch")
  }

  test("minhash marker stamps the shingle width: signatures are signed " +
      "at the registry's w, not a caller default") {
    val name = "graft_test_mreg_w5"
    val path =
      s"${System.getProperty("java.io.tmpdir")}/graft_test_mreg/w5"
    Registry.create(spark, Minhash(k = 8, bands = 4, shingleW = 5), name,
      path, buckets = 4)
    val p = Registry.resolve(spark, Minhash(), name)
    assert(p == Minhash(8, 4, 5))
    val doc = (1 to 40).map(i => s"wv$i").mkString(" ")
    Registry.ingest(spark, Minhash(), name,
      Seq((1L, doc)).toDF("doc_id", "text"), "doc_id", "text", 0)
    // the STORED signature equals the w=5 signing, not w=3
    def sigAt(w: Int) = Seq((0L, doc)).toDF("doc_id", "text")
      .select(Dedup.minhashSignatureFast(Dedup.shingles($"text", w), 8))
      .as[Seq[String]].head()
    val stored = spark.table(name).select($"sig")
      .as[Seq[String]].head()
    assert(stored == sigAt(5), "registry must sign at the marker's w")
    assert(stored != sigAt(3), "w=5 and w=3 signatures must differ " +
      "on this fixture (otherwise the test proves nothing)")
  }

  // ---- one table-driven spec over every lane ----

  /** A lane with three raw batches: b0 holds 12 distinct items plus a
    * within-batch copy (id 13 = item 1), b1 re-sends items 1-6 (ids
    * 21-26, dropped by history) next to 6 new ones (27-32), b2 re-sends
    * items 7-10 (41-44) next to 4 new ones (45-48). Distinct items are
    * unrelated (disjoint tokens, seeded-PRNG vectors), so every lane's
    * verdicts are exactly the first-seen copies.
    */
  private final case class LaneCase(lane: Registry.Lane, idCol: String,
      srcCol: String, batches: Seq[org.apache.spark.sql.DataFrame])

  private val laneSurvivors =
    Seq((1L to 12L).toSet, (27L to 32L).toSet, (45L to 48L).toSet)

  private def laneBatches[T](item: String => T)(
      toDf: Seq[(Long, T)] => org.apache.spark.sql.DataFrame) = {
    def ids(from: Long, keys: Seq[String]) =
      keys.zipWithIndex.map { case (k, i) => (from + i, item(k)) }
    val a = (1 to 12).map(i => s"a$i")
    Seq(ids(1L, a :+ "a1"),
      ids(21L, a.take(6) ++ (1 to 6).map(i => s"b$i")),
      ids(41L, a.slice(6, 10) ++ (1 to 4).map(i => s"c$i"))).map(toDf)
  }

  private def laneCases: Seq[LaneCase] = {
    val text = laneBatches(k =>
      (1 to 40).map(i => s"${k}x$i").mkString(" "))(_.toDF("doc_id", "text"))
    val vecs = laneBatches { k =>
      val r = new scala.util.Random(k.hashCode)
      Array.fill(16)(r.nextFloat() - 0.5f)
    }(_.toDF("vec_id", "embedding"))
    Seq(LaneCase(Exact, "doc_id", "text", text),
      LaneCase(Near(), "doc_id", "text", text),
      LaneCase(Minhash(), "doc_id", "text", text),
      LaneCase(Vec(), "vec_id", "embedding", vecs))
  }

  for (c <- laneCases) test(s"lane ${c.lane.family}: create → ingest → " +
      "replay → compact → attach → ingest keeps every verdict, and the " +
      "stream twin's survivors equal the direct ingest's") {
    val base = s"${System.getProperty("java.io.tmpdir")}/graft_test_lane/" +
      c.lane.family
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(
      spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(base), true)
    val name = s"graft_test_lane_${c.lane.family}"
    def ingest(reg: String, b: Int): Set[Long] =
      Registry.ingest(spark, c.lane, reg, c.batches(b), c.idCol, c.srcCol, b)
        .select(col(c.lane.idCol)).as[Long].collect().toSet
    def rows(reg: String) = spark.table(reg).collect().toSet

    Registry.create(spark, c.lane, name, s"$base/reg", buckets = 4)
    assert(ingest(name, 0) == laneSurvivors(0))
    assert(ingest(name, 1) == laneSurvivors(1))
    val before = rows(name)
    assert(ingest(name, 1) == laneSurvivors(1),
      "the replay must return the original survivors")
    assert(rows(name) == before && spark.table(name).count() == before.size,
      "the replay must append no rows")

    Registry.compact(spark, name)
    val st = Registry.fileStats(spark, name)
    assert(st.maxFilesPerBucket == 1 && st.files <= 4,
      s"compaction must leave one file per bucket: $st")
    assert(rows(name) == before, "compaction must not change a row")

    Registry.attach(spark, c.lane, s"${name}_b", s"$base/reg", 4)
    assert(rows(s"${name}_b") == before)
    assert(ingest(s"${name}_b", 2) == laneSurvivors(2),
      "the attached table must give the same verdicts")

    // the stream twin over the same three batches, one micro-batch
    // each: every batch lands while no query runs (a file source
    // listing a half-committed write would split it across
    // micro-batches), then a restart from the checkpoint consumes it
    Registry.create(spark, c.lane, s"${name}_s", s"$base/streamed", 4)
    val streamed =
      new java.util.concurrent.ConcurrentHashMap[Long, Set[Long]]()
    c.batches.foreach { b =>
      b.write.mode("append").parquet(s"$base/in")
      val q = graft.streaming.Streams.registryMaintStream(c.lane,
        spark.readStream.schema(b.schema).parquet(s"$base/in"), c.idCol,
        c.srcCol, s"${name}_s", s"$base/chk") { (kept, id) =>
        streamed.put(id,
          kept.select(col(c.lane.idCol)).as[Long].collect().toSet)
        ()
      }
      try q.processAllAvailable() finally q.stop()
    }
    assert((0L to 2L).map(streamed.get) == laneSurvivors)
    // the foreachBatch session's appends need a refresh to be seen here
    spark.sql(s"REFRESH TABLE ${name}_s")
    assert(rows(s"${name}_s") == rows(s"${name}_b"),
      "stream twin and direct ingest must build the same registry")
  }
}

/** The chain-fencing case's other writer: the first [[usurp]] after
  * `lock` is set overwrites that lock file with a foreign token.
  */
object ChainFence {
  @volatile var lock: Option[java.nio.file.Path] = None
  def usurp(): Unit = synchronized {
    lock.foreach { p =>
      java.nio.file.Files.write(p,
        "token=another-writer t=0\n".getBytes("UTF-8"))
      lock = None
    }
  }
}
