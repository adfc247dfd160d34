package graft

import graft.operators.Dedup
import org.scalatest.funsuite.AnyFunSuite

/** q119's contract: deduping an arriving batch against the persisted
  * signature index finds EXACTLY the pairs a full-corpus recompute finds
  * among pairs touching a new doc — with history never re-signed and
  * old-old pairs structurally excluded. */
class IncrementalDedupSpec extends AnyFunSuite with TempDirs {
  import TestSession._
  import org.apache.spark.sql.functions._
  import spark.implicits._

  test("incremental == full recompute restricted to pairs touching the batch (fixtures)") {
    val docs = Tables.t(spark, sfDir, "documents")
    val idxPath = tempDir("graft_incr_idx") + "/idx"
    Dedup.writeSignatureIndex(docs.filter($"doc_id" % 10 =!= 0), idxPath)
    val incr = Dedup.incrementalNeardupPairs(spark, idxPath,
      docs.filter($"doc_id" % 10 === 0), 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val full = Dedup.minhashLshPairs(spark, sfDir, 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .filter(p => p._1 % 10 == 0 || p._2 % 10 == 0).toSet
    assert(incr === full)
  }

  test("old-old pairs are excluded; new-old and new-new pairs surface once") {
    // planted corpus: docs 1,2 historical near-dups of each other (must
    // NOT appear); doc 10 arrives near-duplicating historical doc 3
    // (must appear once); docs 20,30 arrive near-duplicating each other
    // (new-new, must appear once); doc 40 arrives unrelated.
    def text(from: Int) = (from until from + 50).map(i => s"w$i").mkString(" ")
    val docs = Seq(
      (1L, text(1)), (2L, text(6)),            // old-old near-dup pair
      (3L, text(100)),                          // old, matched by new 10
      (10L, text(105)),                         // new ~ old 3
      (20L, text(200)), (30L, text(205)),       // new ~ new
      (40L, (900 to 949).map(i => s"z$i").mkString(" "))) // new loner
      .map { case (id, t) => (id, t, "s") }
    val dir = tempDir("graft_incr")
    docs.toDF("doc_id", "text", "source").write.mode("overwrite")
      .parquet(s"$dir/documents.parquet")
    val d = Tables.t(spark, dir, "documents")
    val idxPath = s"$dir/sig_index"
    Dedup.writeSignatureIndex(d.filter($"doc_id" % 10 =!= 0), idxPath)
    val pairs = Dedup.incrementalNeardupPairs(spark, idxPath,
      d.filter($"doc_id" % 10 === 0), 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.toSet === Set((3L, 10L), (20L, 30L)), s"got ${pairs.toSeq}")
    assert(pairs.length === 2, "normalized pairs must be distinct (no dup orders)")
  }

  test("the index round-trip really feeds the join: corrupting it changes the answer") {
    // if incrementalNeardupPairs silently recomputed history from text,
    // an index rewritten WITHOUT doc 3 would still find (3, 10) — assert
    // it does not, proving historical candidates come from the parquet
    // index alone.
    def text(from: Int) = (from until from + 50).map(i => s"w$i").mkString(" ")
    val docs = Seq((3L, text(100), "s"), (10L, text(105), "s"))
    val dir = tempDir("graft_incr2")
    docs.toDF("doc_id", "text", "source").write.mode("overwrite")
      .parquet(s"$dir/documents.parquet")
    val d = Tables.t(spark, dir, "documents")
    val idxPath = s"$dir/sig_index"
    Dedup.writeSignatureIndex(d.filter($"doc_id" === 3), idxPath)
    val withIdx = Dedup.incrementalNeardupPairs(spark, idxPath,
      d.filter($"doc_id" === 10), 0.8).count()
    assert(withIdx === 1L)
    Dedup.writeSignatureIndex(d.filter($"doc_id" === -1), idxPath) // empty index
    val withoutIdx = Dedup.incrementalNeardupPairs(spark, idxPath,
      d.filter($"doc_id" === 10), 0.8).count()
    assert(withoutIdx === 0L,
      "with an empty index no historical pair may surface — history must " +
        "come from the index, not a recompute")
  }

  test("q123 bloom routing: exact result, no false negatives, real pruning") {
    val docs = Tables.t(spark, sfDir, "documents")
    val batch = Dedup.recrawlBatch(docs)
    val (defNew, cand, confNew) = Dedup.bloomRoutedNew(docs, batch)

    // routing is a partition of the batch
    val nBatch = batch.count()
    val nCand = cand.count()
    assert(defNew.count() + nCand === nBatch)

    // exactness: routed union == the plain exact anti-join (q61 shape)
    val direct = batch.join(docs.select($"text"), Seq("text"), "left_anti")
      .select($"doc_id").collect().map(_.getLong(0)).toSet
    val routed = defNew.unionByName(confNew)
      .select($"doc_id").collect().map(_.getLong(0)).toSet
    assert(routed === direct)

    // no false negatives: every true duplicate must be routed to the
    // candidate side (a bloom can only err toward false POSITIVES)
    val trueDups = batch.join(docs.select($"text"), Seq("text"), "left_semi")
      .select($"doc_id").collect().map(_.getLong(0)).toSet
    val candIds = cand.select($"doc_id").collect().map(_.getLong(0)).toSet
    assert(trueDups.subsetOf(candIds))

    // pruning: the join side must be meaningfully smaller than the batch
    // (half the batch is edited ⇒ expected candidates ≈ dups + 1% fp)
    assert(nCand < nBatch,
      s"bloom routed all $nBatch rows to the join — no pruning happened")
    assert(nCand <= trueDups.size + math.max(5L, nBatch / 20),
      s"false-positive rate way above fpp: $nCand candidates for " +
        s"${trueDups.size} true dups in a $nBatch-row batch")
  }

  test("q323 compaction: file count strictly drops, dedup bit-identical " +
    "across the fold, folded replay is a no-op, and a NEW batch key " +
    "still adds") {
    import spark.implicits._
    val docs = Tables.t(spark, sfDir, "documents")
    val root = TempRoots.freshForDir("graft_sigcmp_spec", sfDir).toString
    Dedup.initSignatureIndex(docs.filter($"doc_id" % 10 =!= 0), root)
    Dedup.addSignatureIndexBatch(docs.filter($"doc_id" % 20 === 0),
      root, "day1")
    Dedup.addSignatureIndexBatch(docs.filter($"doc_id" % 20 === 10),
      root, "day2")
    // counts resolve the LIVE generation (GenDir retains the previous
    // generation one cycle as crash insurance — it is not the index)
    def files(): Long = {
      val gen = graft.sink.GenDir.resolve(spark, root).get
      val walk = java.nio.file.Files.walk(
        java.nio.file.Paths.get(gen.stripPrefix("file:")))
      try {
        import scala.jdk.CollectionConverters._
        walk.iterator().asScala
          .count(_.getFileName.toString.endsWith(".parquet")).toLong
      } finally walk.close()
    }
    val probe = docs.filter($"doc_id" % 20 === 10)
    def dedup() = Dedup.incrementalNeardupPairs(spark, root, probe, 0.8)
      .orderBy($"d1", $"d2").collect().toSeq
    val (before, fb) = (dedup(), files())
    val folded = Dedup.compactSignatureIndex(spark, root)
    assert(folded == Seq("day1", "day2"))
    val fa = files()
    assert(fa < fb, s"compaction must strictly drop files: $fb -> $fa")
    assert(dedup() == before, "dedup output changed across the fold")
    // folded replay: no-op (manifest-gated)
    Dedup.addSignatureIndexBatch(docs.filter($"doc_id" % 20 === 0),
      root, "day1")
    assert(files() == fa, "replay of a folded key must write nothing")
    // a NEW key after compaction still adds normally
    val rowsBefore = Dedup.readSignatureIndex(spark, root).count()
    Dedup.addSignatureIndexBatch(docs.filter($"doc_id" % 20 === 5),
      root, "day3")
    assert(Dedup.readSignatureIndex(spark, root).count() > rowsBefore,
      "a new batch key must still extend the index after compaction")
  }

  test("q325 auto-maintenance: compaction really fired mid-stream and " +
    "bounded the subdirectory count") {
    SparkEntry.queries("q325_stream_signature_maintenance")(spark, sfDir)
      .collect()
    val root = TempRoots.forDir("graft_sidx_auto", sfDir).toString
    val gen = graft.sink.GenDir.resolve(spark, root).get
    val subdirs = new java.io.File(gen.stripPrefix("file:")).listFiles()
      .count(f => f.isDirectory && f.getName != "base" &&
        !f.getName.startsWith("_") && !f.getName.startsWith("."))
    // three micro-batches at policy >1: fold after batch 2, batch 3's
    // add stays — at most threshold subdirs survive the stream
    assert(subdirs <= 1,
      s"policy must bound batch subdirectories, found $subdirs")
    assert(Dedup.foldedSignatureKeys(spark, root).nonEmpty,
      "the folded-key manifest must record a mid-stream compaction")
  }

  test("q416 signature delete lifecycle: tombstoned docs stop pairing, " +
    "replay is a no-op, compaction drops them physically and clears " +
    "the set") {
    val docs = Tables.t(spark, sfDir, "documents")
    val root = TempRoots.freshForDir("graft_sigdel_spec", sfDir).toString
    Dedup.initSignatureIndex(docs.filter($"doc_id" % 10 =!= 0), root)
    val probe = docs.filter($"doc_id" % 10 === 0)
    def dedup(): Seq[(Long, Long, Double)] =
      Dedup.incrementalNeardupPairs(spark, root, probe, 0.8)
        .select($"d1", $"d2", $"jac")
        .as[(Long, Long, Double)].collect().toSeq.sorted
    val p0 = dedup()
    // kill the index-side partner of every found pair — observability
    // guaranteed: all pairs touching only killed index docs must vanish
    val kill = p0.flatMap(p => Seq(p._1, p._2))
      .filter(_ % 10 != 0).distinct.toSet
    assume(kill.nonEmpty, "fixture has no new-old pairs to kill")
    Dedup.deleteSignatures(kill.toSeq.sorted.toDF("doc_id"), root)
    val p1 = dedup()
    val expected = p0.filterNot(p =>
      kill.contains(p._1) || kill.contains(p._2))
    assert(p1 == expected,
      "post-delete output must equal pre-delete minus killed-touching " +
        "pairs")
    assert(p1 != p0, "deleting pair partners must change the output")
    // replay before compaction: appended duplicates, same answer
    Dedup.deleteSignatures(kill.toSeq.sorted.toDF("doc_id"), root)
    assert(dedup() == p1)
    val rowsBefore = Dedup.readSignatureIndex(spark, root).count()
    Dedup.compactSignatureIndex(spark, root)
    assert(dedup() == p1,
      "physical drop must be bit-identical to the tombstone filter")
    assert(Dedup.readSignatureIndex(spark, root).count() ==
      rowsBefore - kill.size,
      "compaction must drop exactly the killed signatures")
    assert(Dedup.signatureTombstones(spark, root).count() == 0,
      "compaction must clear applied tombstones")
    // replay after the clear: rows already gone, still a no-op
    Dedup.deleteSignatures(kill.toSeq.sorted.toDF("doc_id"), root)
    assert(dedup() == p1)
  }
}
