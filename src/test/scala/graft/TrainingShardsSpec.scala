package graft

import graft.sink.TrainingShards
import org.scalatest.funsuite.AnyFunSuite

/** The shard-emit last mile: balanced round-robin shards, file order equal
  * to the global shuffle order, byte-level determinism across reruns, and
  * agreement with q125's audited shard assignment (same seed, same
  * kernel — the write path and the audit query must never drift apart). */
class TrainingShardsSpec extends AnyFunSuite with TempDirs {
  import TestSession._

  test("shard write: balanced, deterministic, file-order = shuffle order, matches q125's audit") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val docs = Tables.t(spark, sfDir, "documents")
      .select($"doc_id", $"lang", $"n_chars")
    val dir1 = tempDir("graft_shards1")
    val audit = TrainingShards.write(docs, dir1, "seed42", 8)

    assert(audit.map(_._1).toSeq === (0 until 8), "every shard dir must exist")
    val ns = audit.map(_._2)
    assert(ns.max - ns.min <= 1, s"round-robin shards must balance: ${audit.toSeq}")

    // the write path and q125's audit share one kernel — assert it
    val q125 = SparkEntry.queries("q125_global_shuffle")(spark, sfDir)
      .select($"shard_id", $"n_docs").collect()
      .map(r => (r.getInt(0), r.getLong(1))).sortBy(_._1)
    assert(audit.toSeq === q125.toSeq,
      "written shard sizes must equal q125's audited assignment")

    // rows inside each shard's file(s) are in global-shuffle order, and
    // every rank in shard k is ≡ k (mod 8)
    (0 until 8).foreach { k =>
      val rks = spark.read.parquet(s"$dir1/shard_id=$k")
        .withColumn("ord", monotonically_increasing_id())
        .select($"ord", $"rk").collect()
        .sortBy(_.getLong(0)).map(_.getLong(1))
      assert(rks.nonEmpty, s"shard $k empty")
      assert(rks.sameElements(rks.sorted), s"shard $k file order != shuffle order")
      assert(rks.forall(_ % 8 == k), s"shard $k contains foreign ranks")
    }

    // reruns reproduce the identical document→shard→position mapping
    val dir2 = tempDir("graft_shards2")
    TrainingShards.write(docs, dir2, "seed42", 8)
    def content(d: String) = spark.read.parquet(d)
      .select($"doc_id", $"rk", $"shard_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).sorted.toSeq
    assert(content(dir1) === content(dir2), "shard emit must be deterministic")
  }

  test("maxRecordsPerFile splits shards into ordered, range-disjoint files") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val docs = Tables.t(spark, sfDir, "documents").select($"doc_id")
    val dir = tempDir("graft_shards3")
    TrainingShards.write(docs, dir, "seed42", 4, maxRecordsPerFile = 20L)
    (0 until 4).foreach { k =>
      val files = new java.io.File(s"$dir/shard_id=$k").listFiles()
        .filter(_.getName.endsWith(".parquet")).map(_.toString).sorted
      assert(files.length > 1, s"shard $k: the 20-row cap must split files")
      // each file individually: bounded, sorted; across files: rank
      // ranges must not overlap (a reader orders files by first rank)
      val ranges = files.map { f =>
        val rks = spark.read.parquet(f)
          .withColumn("ord", monotonically_increasing_id())
          .select($"ord", $"rk").collect()
          .sortBy(_.getLong(0)).map(_.getLong(1))
        assert(rks.length <= 20, s"$f exceeds maxRecordsPerFile")
        assert(rks.sameElements(rks.sorted), s"$f rows out of order")
        (rks.head, rks.last)
      }
      val sortedByLo = ranges.sortBy(_._1)
      sortedByLo.sliding(2).foreach {
        case Array((_, hi1), (lo2, _)) =>
          assert(hi1 < lo2, s"shard $k: file rank ranges overlap")
        case _ =>
      }
    }
  }

  test("sortColumns: the sort-on-write knob makes real files zone-map-" +
    "prunable — band probe touches a small fraction of sorted files, " +
    "every insertion-order file") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val o = Tables.t(spark, sfDir, "orders")
      .select($"o_orderkey".as("doc_id"),
        expr("cast(round(o_totalprice * 100) as bigint)").as("v"))
    val root = TempRoots.freshForDir("graft_shardsort_spec", sfDir).toString
    TrainingShards.write(o, s"$root/ins", "seed42", 4,
      maxRecordsPerFile = 100L)
    TrainingShards.write(o, s"$root/srt", "seed42", 4,
      maxRecordsPerFile = 100L, sortColumns = Seq("v"))
    val lo = 25000000L; val hi = 25250000L
    def scanStats(path: String): (Long, Long) = {
      val z = spark.read.parquet(path)
        .select($"v", input_file_name().as("f"))
        .groupBy($"f")
        .agg(min($"v").as("zmin"), max($"v").as("zmax"))
        .agg(count(lit(1)),
          sum(($"zmin" <= hi && $"zmax" >= lo).cast("long")))
        .head()
      (z.getLong(0), z.getLong(1))
    }
    val (nIns, scanIns) = scanStats(s"$root/ins")
    val (nSrt, scanSrt) = scanStats(s"$root/srt")
    assert(nIns == nSrt, "both layouts must produce the same file count")
    assert(scanIns == nIns,
      "insertion-order zone maps must all straddle the band (that is " +
        s"the pathology): scanned $scanIns of $nIns")
    // structural bound: within each shard the band is CONTIGUOUS in the
    // sorted order, so it spans at most ceil(band_rows_in_shard/cap)+1
    // files; with the fixture band ≲ one file per shard, 2 per shard is
    // the loose ceiling (insertion order scans ALL files regardless)
    assert(scanSrt <= 2 * 4,
      s"sorted layout must prune the band probe to ~1 file per shard: " +
        s"scanned $scanSrt of $nSrt")
    assert(scanSrt < scanIns,
      s"sorting must strictly beat insertion order: $scanSrt vs $scanIns")
    // the knob must not change WHAT is stored — same rows both layouts
    def rows(path: String) = spark.read.parquet(path)
      .select($"doc_id", $"v").collect()
      .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    assert(rows(s"$root/ins") === rows(s"$root/srt"))
    // within each sorted file, rows really are in v order (the contract
    // a sequential reader of one file relies on)
    val perFile = spark.read.parquet(s"$root/srt")
      .select($"v", input_file_name().as("f"))
      .withColumn("ord", monotonically_increasing_id())
      .collect().groupBy(_.getString(1))
    perFile.values.foreach { rws =>
      val vs = rws.sortBy(_.getLong(2)).map(_.getLong(0))
      assert(vs.sameElements(vs.sorted), "file rows not in sort order")
    }
  }

  test("versioned snapshots: manifest-gated visibility, pinned reads " +
    "are immutable, a torn commit is invisible and its retry heals") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val o = Tables.t(spark, sfDir, "orders")
      .select($"o_orderkey".as("doc_id"))
    val root = tempDir("graft_snap_spec")
    def keys(df: org.apache.spark.sql.DataFrame): Seq[Long] =
      df.select($"doc_id").as[Long].collect().toSeq.sorted
    val v1Keys = keys(o.filter($"doc_id" % 10 < 7))
    val v2Keys = keys(o.filter($"doc_id" % 10 =!= 3))
    assert(TrainingShards.committedVersions(spark, root).isEmpty)
    val v1 = TrainingShards.writeVersion(
      o.filter($"doc_id" % 10 < 7), root, "s", 4)
    assert(v1 == 1)
    val v2 = TrainingShards.writeVersion(
      o.filter($"doc_id" % 10 =!= 3), root, "s", 4)
    assert(v2 == 2)
    // latest resolves v2; pinned v1 returns v1's exact rows after it
    assert(keys(TrainingShards.readVersion(spark, root)) == v2Keys)
    assert(keys(TrainingShards.readVersion(spark, root, Some(1))) == v1Keys)
    // torn commit: data lands, manifest row does not -> invisible
    TrainingShards.writeVersion(o.filter($"doc_id" % 10 === 0), root,
      "s", 4, commit = false)
    assert(new java.io.File(s"$root/v=3").exists(),
      "the orphan data directory must be on disk for the test to bite")
    assert(TrainingShards.committedVersions(spark, root) == Seq(1, 2))
    assert(keys(TrainingShards.readVersion(spark, root)) == v2Keys,
      "latest must still resolve v2 past the orphan directory")
    intercept[IllegalArgumentException] {
      TrainingShards.readVersion(spark, root, Some(3))
    }
    // the RETRY of the torn commit SKIPS the orphan slot: an orphan is
    // indistinguishable from a concurrent writer's claimed-but-not-yet-
    // committed directory, so the one-winner claim loop advances past
    // it (overwriting it would be exactly the multi-writer data race
    // the claims exist to prevent) — the retry lands at v4 and the
    // orphan stays invisible until expire's vacuum collects it
    val v3Keys = keys(o.filter($"doc_id" % 10 === 0))
    val v4 = TrainingShards.writeVersion(
      o.filter($"doc_id" % 10 === 0), root, "s", 4)
    assert(v4 == 4)
    assert(TrainingShards.committedVersions(spark, root) == Seq(1, 2, 4))
    assert(keys(TrainingShards.readVersion(spark, root)) == v3Keys)
    assert(keys(TrainingShards.readVersion(spark, root, Some(1))) == v1Keys,
      "pinned v1 must survive every later commit")
    // vacuum: the orphan below the newest commit is provably dead and
    // collected; every committed version survives a keep-everything
    // expire untouched
    val removed = TrainingShards.expireVersions(spark, root, keep = 3)
    assert(removed == Seq(3))
    assert(!new java.io.File(s"$root/v=3").exists())
    assert(TrainingShards.committedVersions(spark, root) == Seq(1, 2, 4))
  }

  test("concurrent mint: one-winner claims — racing writers never " +
    "share a version and each reads back its own rows") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val o = Tables.t(spark, sfDir, "orders")
      .select($"o_orderkey".as("doc_id"))
    val root = tempDir("graft_snap_race")
    def keys(df: org.apache.spark.sql.DataFrame): Seq[Long] =
      df.select($"doc_id").as[Long].collect().toSeq.sorted
    val aIn = o.filter($"doc_id" % 2 === 0)
    val bIn = o.filter($"doc_id" % 2 === 1)
    val (aKeys, bKeys) = (keys(aIn), keys(bIn))
    // barrier: both writers stage and resolve the SAME next version
    // before either claims — the worst-case interleave, every run
    val gate = new java.util.concurrent.CountDownLatch(2)
    val hook: () => Unit = () => {
      gate.countDown()
      gate.await(120, java.util.concurrent.TimeUnit.SECONDS): Unit
    }
    val minted = new Array[Int](2)
    val ta = new Thread(() => minted(0) =
      TrainingShards.writeVersion(aIn, root, "s", 2, preClaim = hook))
    val tb = new Thread(() => minted(1) =
      TrainingShards.writeVersion(bIn, root, "s", 2, preClaim = hook))
    ta.start(); tb.start(); ta.join(); tb.join()
    val Array(va, vb) = minted
    assert(va != vb, "two writers shared a version")
    assert(Set(va, vb) == Set(1, 2))
    assert(TrainingShards.committedVersions(spark, root) == Seq(1, 2))
    assert(keys(TrainingShards.readVersion(spark, root, Some(va))) == aKeys)
    assert(keys(TrainingShards.readVersion(spark, root, Some(vb))) == bKeys)
  }

  test("claim storm: eight writers race one root — every version " +
    "distinct, every writer reads back exactly its own rows") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val o = Tables.t(spark, sfDir, "orders")
      .select($"o_orderkey".as("doc_id"))
    val root = tempDir("graft_snap_storm")
    val n = 8
    val gate = new java.util.concurrent.CountDownLatch(n)
    val hook: () => Unit = () => {
      gate.countDown()
      gate.await(180, java.util.concurrent.TimeUnit.SECONDS): Unit
    }
    val minted = new Array[Int](n)
    val counts = (0 until n).map(i =>
      o.filter($"doc_id" % n === i).count()).toArray
    val threads = (0 until n).map { i =>
      new Thread(() => minted(i) = TrainingShards.writeVersion(
        o.filter($"doc_id" % n === i), root, "s", 2, preClaim = hook))
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    assert(minted.distinct.length == n, s"shared versions: ${minted.toSeq}")
    assert(minted.sorted.toSeq == (1 to n),
      s"non-contiguous mint: ${minted.sorted.toSeq}")
    assert(TrainingShards.committedVersions(spark, root) == (1 to n))
    (0 until n).foreach { i =>
      assert(TrainingShards.readVersion(spark, root, Some(minted(i)))
        .count() == counts(i),
        s"writer $i (v=${minted(i)}) lost rows")
    }
  }

  test("expire: manifest-first ordering, pinned survivors byte-stable, " +
    "retired pins rejected") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val o = Tables.t(spark, sfDir, "orders")
      .select($"o_orderkey".as("doc_id"))
    val root = tempDir("graft_snap_expire")
    def keys(df: org.apache.spark.sql.DataFrame): Seq[Long] =
      df.select($"doc_id").as[Long].collect().toSeq.sorted
    (0 to 3).foreach { r =>
      TrainingShards.writeVersion(
        o.filter($"doc_id" % 4 === r), root, "s", 2): Unit
    }
    val v3Keys = keys(TrainingShards.readVersion(spark, root, Some(3)))
    val v4Keys = keys(TrainingShards.readVersion(spark, root, Some(4)))
    // crash window: a retired version's manifest row goes first, so
    // this intermediate state must already hide v1 while its data dir
    // is still on disk (never the reverse — a committed version with
    // missing data would break every resolving reader)
    graft.sink.Fs.delete(spark, s"$root/manifest/c_1")
    assert(TrainingShards.committedVersions(spark, root) == Seq(2, 3, 4))
    assert(new java.io.File(s"$root/v=1").exists())
    val removed = TrainingShards.expireVersions(spark, root, keep = 2)
    assert(removed == Seq(1, 2),
      "expire must retire v2 and vacuum the crashed v1 orphan")
    assert(TrainingShards.committedVersions(spark, root) == Seq(3, 4))
    assert(!new java.io.File(s"$root/v=1").exists())
    assert(!new java.io.File(s"$root/v=2").exists())
    assert(keys(TrainingShards.readVersion(spark, root, Some(3))) == v3Keys)
    assert(keys(TrainingShards.readVersion(spark, root, Some(4))) == v4Keys)
    intercept[IllegalArgumentException] {
      TrainingShards.readVersion(spark, root, Some(2))
    }
  }

  test("cdc merge: update/delete/insert land in the next version; the " +
    "pre-merge pin is untouched") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val o = Tables.t(spark, sfDir, "orders")
      .select($"o_orderkey".as("doc_id"),
        expr("cast(round(o_totalprice * 100) as bigint)").as("cents"))
    val root = tempDir("graft_snap_merge")
    val v1 = TrainingShards.writeVersion(o, root, "s", 2)
    val n1 = o.count()
    val mx = o.agg(max($"doc_id")).head().getLong(0)
    val changes = o.filter($"doc_id" % 10 === 5)
      .select(lit("update").as("op"), $"doc_id", ($"cents" + 7L).as("cents"))
      .unionByName(o.filter($"doc_id" % 10 === 6)
        .select(lit("delete").as("op"), $"doc_id", $"cents"))
      .unionByName(Seq(mx + 1L).toDF("doc_id")
        .select(lit("insert").as("op"), $"doc_id", lit(5L).as("cents")))
    val v2 = TrainingShards.mergeVersion(spark, root, changes,
      "doc_id", "s", 2)
    assert(v2 == v1 + 1)
    val m = TrainingShards.readVersion(spark, root, Some(v2))
    val nDel = o.filter($"doc_id" % 10 === 6).count()
    assert(m.count() == n1 - nDel + 1)
    assert(m.filter($"doc_id" === mx + 1L).select($"cents")
      .head().getLong(0) == 5L)
    // an updated row carries the corrected value; original pin does not
    val probe = o.filter($"doc_id" % 10 === 5)
      .agg(min($"doc_id")).head().getLong(0)
    val was = o.filter($"doc_id" === probe).select($"cents")
      .head().getLong(0)
    assert(m.filter($"doc_id" === probe).select($"cents")
      .head().getLong(0) == was + 7L)
    assert(TrainingShards.readVersion(spark, root, Some(v1))
      .filter($"doc_id" === probe).select($"cents")
      .head().getLong(0) == was)
    assert(TrainingShards.readVersion(spark, root, Some(v1)).count() == n1)
    // gate-forced shuffle anti-join gives the identical result
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select($"doc_id", $"cents").collect()
        .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    val root2 = tempDir("graft_snap_merge2")
    TrainingShards.writeVersion(o, root2, "s", 2)
    val v2b = TrainingShards.mergeVersion(spark, root2, changes,
      "doc_id", "s", 2, broadcastKeyLimit = 0L)
    assert(rows(TrainingShards.readVersion(spark, root2, Some(v2b)))
      == rows(m), "the size-gated shuffle form must match broadcast")
  }

  test("bloom manifest lifecycle: per-batch append bit-equals the " +
    "from-scratch build; rebuilds land as generations and the public " +
    "root resolves a complete manifest at every point") {
    import graft.sink.{BloomManifest, Fs, GenDir}
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val o = Tables.t(spark, sfDir, "orders")
      .select($"o_orderkey".as("doc_id"))
    val root = tempDir("graft_bloom_spec")
    o.filter($"doc_id" % 3 =!= 0).coalesce(2)
      .write.mode("overwrite").parquet(s"$root/d/batch=base")
    val store = s"$root/bloom"
    BloomManifest.rebuild(spark, store, s"$root/d", "doc_id")
    // a new batch arrives: append covers exactly its files
    o.filter($"doc_id" % 3 === 0).coalesce(1)
      .write.mode("overwrite").parquet(s"$root/d/batch=nb")
    BloomManifest.append(spark, store, s"$root/d/batch=nb", "doc_id")
    def fp(p: String): Seq[Any] = BloomManifest.read(spark, p)
      .agg(count(lit(1)),
        sum(xxhash64($"f", $"b1", $"b2").cast("decimal(38,0)")))
      .head().toSeq
    BloomManifest.rebuild(spark, s"$root/scratch", s"$root/d", "doc_id")
    assert(fp(store) == fp(s"$root/scratch"),
      "incremental manifest must bit-equal the from-scratch build")
    // a crashed prior publish's staging leftover never blocks or
    // corrupts the next rebuild, and the store stays resolvable; the
    // sweep is AGE-GATED, so a young staging entry (possibly a live
    // concurrent publisher's) is spared rather than deleted mid-claim
    Fs.touch(spark, s"$store/_staging/deadtok/leftover")
    val before = fp(store)
    BloomManifest.rebuild(spark, store, s"$root/d", "doc_id")
    assert(fp(store) == before,
      "a rebuild over unchanged data must be bit-identical")
    assert(GenDir.resolve(spark, store).isDefined)
    assert(Fs.listDirNames(spark, s"$store/_staging") == Seq("deadtok"),
      "a YOUNG staging entry is spared by the age gate (it may be a " +
        "live concurrent publisher's build)")
    // generations lag by one: the previous rebuild's bytes survive the
    // next publish (a reader that resolved just before keeps reading)
    val gens = Fs.listDirNames(spark, store).filter(_.startsWith("g_"))
    assert(gens.size == 2, s"expected current + previous gen, got $gens")
  }

  test("schema evolution: pinned read keeps the original shape; the " +
    "evolved view conforms to the latest schema with null back-fill") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val o = Tables.t(spark, sfDir, "orders")
      .select($"o_orderkey".as("doc_id"),
        $"o_orderpriority".as("prio"))
    val root = tempDir("graft_snap_evo")
    TrainingShards.writeVersion(
      o.filter($"doc_id" % 2 === 0).select($"doc_id"), root, "s", 2)
    TrainingShards.writeVersion(
      o.filter($"doc_id" % 2 === 1), root, "s", 2)
    val pinned = TrainingShards.readVersion(spark, root, Some(1))
    assert(!pinned.columns.contains("prio"),
      "pinned reads must never grow columns retroactively")
    val evolved = TrainingShards.readVersionEvolved(spark, root, Some(1))
    val latest = TrainingShards.readVersion(spark, root)
    assert(evolved.schema.fields.toSeq.map(f => (f.name, f.dataType)) ==
      latest.schema.fields.toSeq.map(f => (f.name, f.dataType)))
    assert(evolved.count() == pinned.count())
    assert(evolved.filter($"prio".isNotNull).count() == 0,
      "added columns back-fill null for pre-evolution snapshots")
    assert(TrainingShards.readVersionEvolved(spark, root)
      .filter($"prio".isNull).count() == 0)
  }

  test("batch-id-keyed versions: a replayed batch id resolves to its " +
    "committed version and mints nothing; a new id mints the next") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val o = Tables.t(spark, sfDir, "orders")
      .select($"o_orderkey".as("doc_id"))
    val root = tempDir("graft_snap_batch")
    val a = TrainingShards.writeVersion(
      o.filter($"doc_id" % 2 === 0), root, "s", 2,
      batchId = Some("b0"))
    assert(a == 1)
    assert(TrainingShards.committedBatchVersions(spark, root) ==
      Map("b0" -> 1))
    // replay: same id, identical rows -> same version, no new commit
    val a2 = TrainingShards.writeVersion(
      o.filter($"doc_id" % 2 === 0), root, "s", 2,
      batchId = Some("b0"))
    assert(a2 == 1)
    assert(TrainingShards.committedVersions(spark, root) == Seq(1))
    // a new id mints the next version
    val b = TrainingShards.writeVersion(
      o.filter($"doc_id" % 2 === 1), root, "s", 2,
      batchId = Some("b1"))
    assert(b == 2)
    assert(TrainingShards.committedBatchVersions(spark, root) ==
      Map("b0" -> 1, "b1" -> 2))
    // id-less commits coexist on the same root (manifest rows carry a
    // null batch_id and are skipped by the batch lookup)
    val c = TrainingShards.writeVersion(
      o.filter($"doc_id" % 10 === 0), root, "s", 2)
    assert(c == 3)
    assert(TrainingShards.committedBatchVersions(spark, root) ==
      Map("b0" -> 1, "b1" -> 2))
    assert(TrainingShards.committedVersions(spark, root) == Seq(1, 2, 3))
  }
}
