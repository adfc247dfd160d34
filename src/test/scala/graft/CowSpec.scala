package graft

import graft.sink.{CowSnapshots, Fs, GenDir, TrainingShards, VersionLog}
import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

/** The copy-on-write store's contracts below the query corpus's grain:
  * the routing kernel's key-stability (THE property that makes reuse
  * possible), merge-equals-recompute over arbitrary change sets,
  * effect-once replay, and the age-gated orphan vacuum — plus the
  * version-log contracts it shares with the full-rewrite store. */
class CowSpec extends AnyFunSuite with TempDirs {
  import TestSession._

  test("shard routing is key-stable: a key's shard never depends on " +
    "what else is in the frame (the rank-based kernel's failure mode)") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val o = Tables.t(spark, sfDir, "orders")
      .select($"o_orderkey".as("doc_id"))
    def routes(df: org.apache.spark.sql.DataFrame): Map[Long, Int] =
      df.select($"doc_id",
        CowSnapshots.shardOf("s", $"doc_id", 16).as("sh"))
        .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val all = routes(o)
    val half = routes(o.filter($"doc_id" % 2 === 0))
    assert(half.forall { case (k, sh) => all(k) == sh },
      "removing rows must not move any surviving key's shard")
    // and the driver-side twin agrees with the distributed kernel
    all.take(20).foreach { case (k, sh) =>
      assert(CowSnapshots.shardOfKey("s", k, 16) == sh)
    }
  }

  test("driver-local shardOfKey bit-equals the column-form kernel " +
    "across the key domain — negatives, extremes, many seeds and " +
    "shard counts — with ZERO Spark jobs per probe") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val rnd = new scala.util.Random(20260816L)
    val keys = (Seq(0L, 1L, -1L, Long.MaxValue, Long.MinValue,
      Long.MaxValue - 1, 42L, -42L) ++
      Seq.fill(200)(rnd.nextLong())).distinct
    for ((seed, n) <- Seq(("s", 8), ("seed42", 16), ("", 7),
        ("another-seed", 1), ("s", 1024))) {
      val fromCol = keys.toDF("k")
        .select($"k", CowSnapshots.shardOf(seed, $"k", n).as("sh"))
        .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
      keys.foreach { k =>
        assert(CowSnapshots.shardOfKey(seed, k, n) == fromCol(k),
          s"driver/column routing drift for key=$k seed=$seed n=$n")
      }
    }
  }

  /** The verbs both snapshot stores share — the version-log contracts
    * below run against each. */
  private case class Store(
      write: (DataFrame, String, Option[String]) => Int,
      merge: (DataFrame, String) => Int,
      read: (String, Int) => DataFrame,
      expire: String => Seq[Int],
      versions: String => Seq[Int],
      batchVersions: String => Map[String, Int])

  private val cow = Store(
    (df, root, id) => CowSnapshots.writeVersion(df, root, "doc_id", "s", 4,
      batchId = id),
    (ch, root) => CowSnapshots.mergeVersion(spark, root, ch, "doc_id", "s", 4),
    (root, v) => CowSnapshots.readVersion(spark, root, Some(v)),
    CowSnapshots.expireVersions(spark, _, keep = 1),
    CowSnapshots.committedVersions(spark, _),
    CowSnapshots.committedBatchVersions(spark, _))

  private val fullRewrite = Store(
    (df, root, id) => TrainingShards.writeVersion(df, root, "s", 4,
      batchId = id),
    (ch, root) => TrainingShards.mergeVersion(spark, root, ch, "doc_id",
      "s", 4),
    (root, v) => TrainingShards.readVersion(spark, root, Some(v)),
    TrainingShards.expireVersions(spark, _, keep = 1),
    TrainingShards.committedVersions(spark, _),
    TrainingShards.committedBatchVersions(spark, _))

  /** Move `path`'s mtime back past the vacuum's age horizon. */
  private def ageOut(path: String): Unit =
    assert(new java.io.File(path).setLastModified(
      System.currentTimeMillis() - VersionLog.OrphanTtlMs - 60000L))

  private def staleIncarnation(store: Store): Unit = {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val o = Tables.t(spark, sfDir, "orders")
      .select($"o_orderkey".as("doc_id"),
        expr("cast(round(o_totalprice * 100) as bigint)").as("cents"))
    val root = tempDir("graft_cow_stale")
    val v1 = store.write(o, root, Some("old"))
    // populate the cache through a real read
    val n1 = store.read(root, v1).count()
    // ANOTHER DRIVER wipes and rebuilds the same root with different
    // data — simulated by going around this JVM's invalidation hooks:
    // the rebuild is built under a sibling root, then renamed over the
    // wiped root with raw filesystem calls, so it lands on the SAME
    // slot number c_1 without this JVM's commit ever seeing that slot
    Fs.delete(spark, root)
    Thread.sleep(50) // mtime granularity headroom
    val half = o.filter($"doc_id" % 2 === 0)
    val other = s"${root}_other"
    val v1b = store.write(half, other, Some("new"))
    java.nio.file.Files.move(java.nio.file.Paths.get(other),
      java.nio.file.Paths.get(root))
    assert(v1b == v1, "rebuild must land on the reused slot number")
    val n2 = store.read(root, v1b).count()
    assert(n2 == half.count() && n2 != n1,
      s"stale cache: reused slot c_$v1 served the OLD incarnation's " +
        s"manifest ($n1 rows) instead of the new one's ($n2 expected)")
    assert(store.batchVersions(root) == Map("new" -> v1b),
      "the wiped incarnation's batch id must not resolve")
    // expire-then-reclaim inside one incarnation stays fresh too
    val mx = o.agg(max($"doc_id")).head().getLong(0)
    val tiny = CdcFixture.toMerge(CdcFixture.tinyBatch(
      o.withColumn("prio", lit("x")), mx))
    val v2 = store.merge(tiny, root)
    store.expire(root)
    assert(store.versions(root) == Seq(v2))
    val nAfter = store.read(root, v2).count()
    // the store holds the EVEN half: the tiny batch's 2 update keys
    // (%10==5, odd) match nothing and land as new rows, its delete key
    // (%10==6, even) removes one, the 3 inserts add
    assert(nAfter == n2 + 2 - 1 + CdcFixture.nInserts,
      "post-expire read through the cache must stay exact")
  }

  test("slot reuse across store incarnations never serves a stale " +
    "manifest: wipe-and-rebuild (and expire-then-reclaim) of the same " +
    "c_N slot invalidates any cached metadata — the cross-driver case " +
    "the in-process remove() cannot see (cache rows are keyed on the " +
    "slot's mtime, which a new incarnation necessarily changes)") {
    staleIncarnation(cow)
  }

  test("slot reuse across store incarnations never serves a stale " +
    "manifest: the full-rewrite store (TrainingShards)") {
    staleIncarnation(fullRewrite)
  }

  test("age-gated staging vacuum: TrainingShards expire, CowSnapshots " +
    "expire and GenDir.publish spare a fresh _staging entry and collect " +
    "one past the TTL") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val o = Tables.t(spark, sfDir, "orders")
      .select($"o_orderkey".as("doc_id"),
        expr("cast(round(o_totalprice * 100) as bigint)").as("cents"))
    val cases: Seq[(String, String => Unit)] = Seq(
      "TrainingShards.expireVersions" -> { root =>
        fullRewrite.write(o, root, None); fullRewrite.expire(root): Unit },
      "CowSnapshots.expireVersions" -> { root =>
        cow.write(o, root, None); cow.expire(root): Unit },
      "GenDir.publish" -> (GenDir.publish(spark, _, o)))
    cases.foreach { case (verb, run) =>
      val root = tempDir("graft_vacuum")
      Fs.touch(spark, s"$root/_staging/fresh/leftover")
      Fs.touch(spark, s"$root/_staging/aged/leftover")
      ageOut(s"$root/_staging/aged")
      run(root)
      assert(Fs.listDirNames(spark, s"$root/_staging") == Seq("fresh"),
        s"$verb: a young staging entry is spared (it may be a live " +
          "writer's build), an aged one is collected")
    }
  }

  test("lost update aborted: a merge that planned against a parent " +
    "the store has advanced past must abort loudly at commit instead " +
    "of silently reverting the intervening version's changes — the " +
    "multi-writer conflict Delta/Iceberg abort on") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val o = Tables.t(spark, sfDir, "orders")
      .select($"o_orderkey".as("doc_id"),
        expr("cast(round(o_totalprice * 100) as bigint)").as("cents"))
    val root = tempDir("graft_cow_lostupd")
    CowSnapshots.writeVersion(o, root, "doc_id", "s", 8)
    val keys = o.orderBy($"doc_id").limit(2)
      .select($"doc_id").as[Long].collect()
    val Array(kA, kB) = keys
    val mergeA = Seq(("update", kA, 111L)).toDF("op", "doc_id", "cents")
    val mergeB = Seq(("update", kB, 222L)).toDF("op", "doc_id", "cents")
    // merge A plans against v1; between its staged build and its
    // commit, a concurrent writer lands merge B (the preCommit seam
    // models the interleave deterministically)
    val e = intercept[IllegalArgumentException] {
      CowSnapshots.mergeVersion(spark, root, mergeA, "doc_id", "s", 8,
        preCommit = () => {
          CowSnapshots.mergeVersion(spark, root, mergeB,
            "doc_id", "s", 8): Unit
        })
    }
    assert(e.getMessage.contains("lost update"),
      s"wrong abort reason: ${e.getMessage}")
    // the store holds exactly B's effect; A was never half-applied
    val vals = CowSnapshots.readVersion(spark, root, None)
      .filter($"doc_id".isin(kA, kB)).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(vals(kB) == 222L && vals(kA) != 111L,
      s"lost-update abort must leave the interloper's commit intact: $vals")
    assert(CowSnapshots.committedVersions(spark, root) == Seq(1, 2))
    // the aborted merge RE-DERIVES against the new latest and lands
    val v3 = CowSnapshots.mergeVersion(spark, root, mergeA,
      "doc_id", "s", 8)
    val after = CowSnapshots.readVersion(spark, root, Some(v3))
      .filter($"doc_id".isin(kA, kB)).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(after == Map(kA -> 111L, kB -> 222L),
      "the retry against the new latest must preserve BOTH merges")
  }

  test("merge equals recompute: applying a change set through the " +
    "copy-on-write merge matches rebuilding the final state from " +
    "scratch, and pinned history survives") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val o = Tables.t(spark, sfDir, "orders")
      .select($"o_orderkey".as("doc_id"),
        expr("cast(round(o_totalprice * 100) as bigint)").as("cents"))
    val root = tempDir("graft_cow_spec")
    val v1 = CowSnapshots.writeVersion(o, root, "doc_id", "s", 8)
    val mx = o.agg(max($"doc_id")).head().getLong(0)
    // a DENSE change set (every %10 tranche) — worst case for reuse,
    // still correct: all shards rewritten, result exact
    val changes = CdcFixture.toMerge(CdcFixture.singleBatch(
      o.withColumn("prio", lit("x")), mx))
    val v2 = CowSnapshots.mergeVersion(spark, root, changes,
      "doc_id", "s", 8)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select($"doc_id", $"cents").collect()
        .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    val expected = rows(
      o.filter($"doc_id" % 10 =!= 6)
        .select($"doc_id",
          when($"doc_id" % 10 === 5, $"cents" + 7L)
            .otherwise($"cents").as("cents"))
        .unionByName(Seq(mx + 1L, mx + 2L, mx + 3L).toDF("doc_id")
          .select($"doc_id", lit(99999L).as("cents"))))
    assert(rows(CowSnapshots.readVersion(spark, root, Some(v2)))
      == expected)
    assert(rows(CowSnapshots.readVersion(spark, root, Some(v1)))
      == rows(o), "the pinned parent must be untouched")
    // gate-forced shuffle anti-join gives the identical result
    val root2 = tempDir("graft_cow_spec2")
    CowSnapshots.writeVersion(o, root2, "doc_id", "s", 8)
    val v2b = CowSnapshots.mergeVersion(spark, root2, changes,
      "doc_id", "s", 8, broadcastKeyLimit = 0L)
    assert(rows(CowSnapshots.readVersion(spark, root2, Some(v2b)))
      == expected, "the size-gated shuffle form must match broadcast")
  }

  test("merge-on-read resolution: chained deltas resolve latest-wins " +
    "per key, a later copy-on-write merge folds only the chains its " +
    "delta touches, and diff prunes on whole chains") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val o = Tables.t(spark, sfDir, "orders")
      .select($"o_orderkey".as("doc_id"),
        expr("cast(round(o_totalprice * 100) as bigint)").as("cents"))
    val root = tempDir("graft_cow_mor_spec")
    val mx = o.agg(max($"doc_id")).head().getLong(0)
    val keys = o.orderBy($"doc_id").limit(3)
      .select($"doc_id").as[Long].collect()
    val Array(k0, k1, k2) = keys
    CowSnapshots.writeVersion(o, root, "doc_id", "s", 8)
    // delta 1: update k0, delete k1, insert mx+1
    val d1 = Seq(("update", k0, 1L), ("delete", k1, 0L),
      ("insert", mx + 1L, 50L)).toDF("op", "doc_id", "cents")
    val v2 = CowSnapshots.appendDeltas(spark, root, d1, "doc_id", "s", 8)
    // delta 2: update the k0 UPDATED row again, update the INSERTED
    // row, delete k2 — every later-wins shape in one chain
    val d2 = Seq(("update", k0, 2L), ("update", mx + 1L, 60L),
      ("delete", k2, 0L)).toDF("op", "doc_id", "cents")
    val v3 = CowSnapshots.appendDeltas(spark, root, d2, "doc_id", "s", 8)
    def vals(v: Int): Map[Long, Long] =
      CowSnapshots.readVersion(spark, root, Some(v))
        .filter($"doc_id".isin(k0, k1, k2, mx + 1L))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val v2Vals = vals(v2)
    assert(v2Vals(k0) == 1L && !v2Vals.contains(k1) &&
      v2Vals(mx + 1L) == 50L, s"v2 resolution wrong: $v2Vals")
    val v3Vals = vals(v3)
    assert(v3Vals(k0) == 2L && !v3Vals.contains(k1) &&
      !v3Vals.contains(k2) && v3Vals(mx + 1L) == 60L,
      s"v3 latest-wins resolution wrong: $v3Vals")
    // row counts: base n - 2 deletes + 1 insert
    val n0 = o.count()
    assert(CowSnapshots.readVersion(spark, root, Some(v3)).count()
      == n0 - 2 + 1)
    // a copy-on-write merge now touches ONLY k0's shard: its chain
    // folds into the new group; other chains stay
    val d3 = Seq(("update", k0, 3L)).toDF("op", "doc_id", "cents")
    val v4 = CowSnapshots.mergeVersion(spark, root, d3, "doc_id", "s", 8)
    val v4Vals = vals(v4)
    assert(v4Vals(k0) == 3L && !v4Vals.contains(k1) &&
      !v4Vals.contains(k2) && v4Vals(mx + 1L) == 60L)
    val sh0 = CowSnapshots.shardOfKey("s", k0, 8)
    val e4 = CowSnapshots.allEntries(spark, root, v4)
    assert(e4.filter(_._1 == sh0).forall(_._4 == 0),
      "the merged shard's chain must be folded flat")
    // diff across the delta versions recovers the delta's effects
    val (nChanged, nTotal, d) =
      CowSnapshots.diffVersions(spark, root, v2, v3, "doc_id")
    val ops = d.select($"op", $"doc_id").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSet
    assert(ops == Set(("update", k0), ("update", mx + 1L),
      ("delete", k2)), s"diff over delta chains wrong: $ops")
    assert(nChanged <= 3 && nChanged < nTotal,
      "diff must prune to the delta-touched chains")
  }

  test("bloom routing over a delta chain: no false negatives for the " +
    "latest row, and a deleted key's delta-bloom hit is how a point " +
    "reader learns it is gone without scanning the base") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val o = Tables.t(spark, sfDir, "orders")
      .select($"o_orderkey".as("doc_id"),
        expr("cast(round(o_totalprice * 100) as bigint)").as("cents"))
    val root = tempDir("graft_cow_bloomchain")
    val keys = o.orderBy($"doc_id").limit(2)
      .select($"doc_id").as[Long].collect()
    val Array(kUpd, kDel) = keys
    CowSnapshots.writeVersion(o, root, "doc_id", "s", 8)
    val d1 = Seq(("update", kUpd, 123L), ("delete", kDel, 0L))
      .toDF("op", "doc_id", "cents")
    val v2 = CowSnapshots.appendDeltas(spark, root, d1, "doc_id", "s", 8)
    val man = CowSnapshots.bloomRows(spark, root, v2).collect()
      .map(r => (r.getInt(0), r.getString(1),
        java.util.BitSet.valueOf(r.getAs[Array[Byte]]("b1")),
        java.util.BitSet.valueOf(r.getAs[Array[Byte]]("b2"))))
    def passing(k: Long): Seq[String] = {
      val sh = CowSnapshots.shardOfKey("s", k, 8)
      man.filter(_._1 == sh).filter { case (_, _, b1, b2) =>
        b1.get(graft.sink.BloomManifest.h1Long(k)) &&
          b2.get(graft.sink.BloomManifest.h2Long(k)) }.map(_._2).toSeq
    }
    // the delete's key must pass at least one DELTA group file — that
    // hit is the signal; and resolving the passing files' rows must
    // yield 123 for the updated key and NOTHING for the deleted one
    Seq(kUpd, kDel).foreach { k =>
      val files = passing(k)
      assert(files.nonEmpty, s"bloom false negative for key $k")
      val rows = spark.read.option("mergeSchema", "true")
        .parquet(files: _*)
        .filter($"doc_id" === k)
      val resolved = rows
        .withColumn("_op", coalesce($"op", lit("upsert")))
        .withColumn("_seq",
          when($"op".isNotNull, 1).otherwise(0)) // base files lack op
        .orderBy($"_seq".desc).collect()
      assert(resolved.nonEmpty,
        s"passing files must contain key $k's history")
      val latest = resolved.head
      if (k == kUpd) {
        assert(latest.getAs[String]("_op") == "update" &&
          latest.getAs[Long]("cents") == 123L)
      } else {
        assert(latest.getAs[String]("_op") == "delete",
          "the deleted key's LATEST passing row must be the delete " +
            "marker — the reader learns the key is gone from the " +
            "delta files alone")
      }
    }
    // and the resolved read agrees end-to-end
    val vals = CowSnapshots.readVersion(spark, root, Some(v2))
      .filter($"doc_id".isin(kUpd, kDel)).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(vals == Map(kUpd -> 123L))
    // a NEGATIVE probe key structurally cannot be in any file (the
    // bitmap mint rejects negative positions) — the point reader must
    // report absent, never hand BitSet.get a negative index
    val negs = CowSnapshots.pointReadLatest(spark, root, v2,
      Seq(-1L, Long.MinValue, kUpd))
    assert(negs.filter(_.key < 0).forall(pr =>
      pr.rows.isEmpty && pr.filesOpened.isEmpty))
    assert(negs.find(_.key == kUpd).get
      .rows.map(_(1)) == Seq(123L))
  }

  test("exactly-once: a replayed batch id is a pure no-op; the orphan " +
    "vacuum is age-gated and lease-checked") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val o = Tables.t(spark, sfDir, "orders")
      .select($"o_orderkey".as("doc_id"),
        expr("cast(round(o_totalprice * 100) as bigint)").as("cents"))
    val root = tempDir("graft_cow_replay")
    val v1 = CowSnapshots.writeVersion(o, root, "doc_id", "s", 4,
      batchId = Some("b0"))
    val mx = o.agg(max($"doc_id")).head().getLong(0)
    val tiny = CdcFixture.toMerge(CdcFixture.tinyBatch(
      o.withColumn("prio", lit("x")), mx))
    val v2 = CowSnapshots.mergeVersion(spark, root, tiny,
      "doc_id", "s", 4, batchId = Some("b1"))
    def fp(v: Int) = CowSnapshots.readVersion(spark, root, Some(v))
      .agg(count(lit(1)), sum($"cents")).head().toSeq
    val (f1, f2) = (fp(v1), fp(v2))
    // replays: same ids resolve to the same versions, nothing written
    assert(CowSnapshots.writeVersion(o, root, "doc_id", "s", 4,
      batchId = Some("b0")) == v1)
    assert(CowSnapshots.mergeVersion(spark, root, tiny,
      "doc_id", "s", 4, batchId = Some("b1")) == v2)
    assert(CowSnapshots.committedVersions(spark, root) == Seq(v1, v2))
    assert(fp(v1) == f1 && fp(v2) == f2)
    // a crashed writer's never-referenced group: spared while young,
    // collected once past the ttl
    Fs.touch(spark, s"$root/files/deadtok/shard=0/part-junk.parquet")
    CowSnapshots.expireVersions(spark, root, keep = 2)
    assert(Fs.exists(spark, s"$root/files/deadtok"),
      "a young unreferenced group may be an in-flight commit — spared")
    ageOut(s"$root/files/deadtok")
    CowSnapshots.expireVersions(spark, root, keep = 2)
    assert(!Fs.exists(spark, s"$root/files/deadtok"),
      "an aged-out unreferenced group is vacuumed")
    assert(fp(v1) == f1 && fp(v2) == f2,
      "committed versions must survive the vacuum byte-stable")
  }
}
