package graft

import org.scalatest.funsuite.AnyFunSuite

/** Asserted regression gate for the measured shuffle-byte advantage of
  * the prefix-filtered exact Jaccard plan (q101) over the naive inverted
  * index (q62): the 10x numbers of a since-deleted scale probe (2026-08:
  * 225 MiB vs 1.03 GiB for the identical pair set) are cited as
  * optimization evidence — this pins the ratio on a shrunk copy of the
  * same dense-vocab corpus so the advantage cannot silently erode. */
class ShuffleGateSpec extends AnyFunSuite with TempDirs {
  import TestSession._

  test("q101 prefix plan shuffles <60% of q62's bytes for the identical exact result") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // dense-vocab corpus — the regime where the naive index degenerates
    // (sum(df^2) over shingles): 4k docs x 30 tokens from a 30-word
    // vocab, plus 100 planted near-dups (jac ~0.95)
    val vocab = typedLit(Seq(
      "the", "fast", "key", "order", "sort", "table", "scan", "merge", "part",
      "window", "small", "hash", "join", "spark", "group", "query", "row",
      "data", "slow", "filter", "customer", "line", "batch", "value",
      "stream", "a", "index", "page", "cache", "disk"))
    val base = spark.range(4000).select($"id".as("doc_id"),
      array_join(transform(sequence(lit(0), lit(29)), i =>
        element_at(vocab, ((xxhash64($"id", i) % 30 + 30) % 30 + 1).cast("int"))), " ")
        .as("text"))
    val dups = spark.range(100).select(($"id" + 4000).as("doc_id"),
      array_join(concat(array(lit("dup")), transform(sequence(lit(1), lit(29)), i =>
        element_at(vocab, ((xxhash64($"id", i) % 30 + 30) % 30 + 1).cast("int")))), " ")
        .as("text"))
    val dir = tempDir("graft_shufgate")
    base.union(dups).withColumn("source", lit("s"))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")

    val bytes = new java.util.concurrent.atomic.AtomicLong
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(t: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        if (t.taskMetrics != null)
          bytes.addAndGet(t.taskMetrics.shuffleWriteMetrics.bytesWritten)
    }
    def drain(): Unit = // deterministic counter reads; a timeout here IS a failure
      org.apache.spark.sql.graft.ColumnBridgeImpl.drainListenerBus(
        spark.sparkContext, 60000L)
    spark.sparkContext.addSparkListener(listener)
    try {
      def measure(f: => Long): (Long, Long) = {
        drain(); bytes.set(0L)
        val n = f
        drain()
        (n, bytes.get)
      }
      val (nNaive, bNaive) =
        measure(graft.operators.Dedup.jaccardPairs(spark, dir, 0.8).count())
      val (nPrefix, bPrefix) =
        measure(graft.operators.Dedup.jaccardPrefixPairs(spark, dir, 0.8).count())
      assert(nNaive === nPrefix, "prefix filtering must stay EXACT")
      assert(nNaive >= 100L, s"planted near-dups must qualify (got $nNaive)")
      assert(bNaive > 0L, "naive plan must register shuffle writes")
      val ratio = bPrefix.toDouble / bNaive
      // measured ~0.22 at 10x scale (2026-08, scale probe since
      // deleted) and well below 0.5 here;
      // 0.6 leaves noise headroom while still catching a regression to
      // full-index candidate generation
      assert(ratio < 0.6,
        f"prefix/naive shuffle ratio $ratio%.3f (${bPrefix / 1024} KiB vs ${bNaive / 1024} KiB) — prefix advantage eroded")
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("q162 one-sided prefix plan shuffles <60% of q145's bytes on the size-skew corpus, same exact pairs") {
    // The corpus is the regime containment exists for: 2000 big
    // containers (120 tokens) plus 100 small excerpts, each a CONTIGUOUS
    // 20-token slice of its container — containment 1.0, symmetric
    // Jaccard ~18/118, invisible to q62/q101 at any useful threshold
    // (asserted below). The one-sided filter indexes only contained-side
    // prefixes; the container side stays full, so the win is ~(1-t) on
    // the pair stream, not (1-t)^2 — still the dominant shuffle.
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val vocab = typedLit(Seq(
      "the", "fast", "key", "order", "sort", "table", "scan", "merge", "part",
      "window", "small", "hash", "join", "spark", "group", "query", "row",
      "data", "slow", "filter", "customer", "line", "batch", "value",
      "stream", "a", "index", "page", "cache", "disk"))
    val tok = (i: org.apache.spark.sql.Column) =>
      element_at(vocab, ((xxhash64($"id", i) % 30 + 30) % 30 + 1).cast("int"))
    val containers = spark.range(2000).select($"id".as("doc_id"),
      array_join(transform(sequence(lit(0), lit(119)), tok), " ").as("text"))
    // excerpt 2000+i = tokens 0..19 of container i (same xxhash64($"id", _) draw)
    val excerpts = spark.range(100).select(($"id" + 2000).as("doc_id"),
      array_join(transform(sequence(lit(0), lit(19)), tok), " ").as("text"))
    val dir = tempDir("graft_contgate")
    containers.union(excerpts).withColumn("source", lit("s"))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")

    val bytes = new java.util.concurrent.atomic.AtomicLong
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(t: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        if (t.taskMetrics != null)
          bytes.addAndGet(t.taskMetrics.shuffleWriteMetrics.bytesWritten)
    }
    def drain(): Unit =
      org.apache.spark.sql.graft.ColumnBridgeImpl.drainListenerBus(
        spark.sparkContext, 60000L)
    spark.sparkContext.addSparkListener(listener)
    try {
      def measure(f: => Long): (Long, Long) = {
        drain(); bytes.set(0L)
        val n = f
        drain()
        (n, bytes.get)
      }
      val (nNaive, bNaive) =
        measure(graft.operators.Dedup.containmentPairs(spark, dir, 0.9).count())
      val (nPrefix, bPrefix) =
        measure(graft.operators.Dedup.containmentPrefixPairs(spark, dir, 0.9).count())
      assert(nNaive === nPrefix, "one-sided prefix filtering must stay EXACT")
      assert(nNaive >= 100L, s"planted excerpts must qualify (got $nNaive)")
      assert(bNaive > 0L, "naive plan must register shuffle writes")
      // the skew defeats symmetric Jaccard: no excerpt pair clears 0.8
      val jacHits = graft.operators.Dedup.jaccardPairs(spark, dir, 0.8)
        .filter($"d2" >= 2000L || $"d1" >= 2000L).count()
      assert(jacHits === 0L,
        s"excerpt pairs must be invisible to symmetric Jaccard (got $jacHits)")
      val ratio = bPrefix.toDouble / bNaive
      assert(ratio < 0.6,
        f"prefix/naive shuffle ratio $ratio%.3f (${bPrefix / 1024} KiB vs ${bNaive / 1024} KiB) — one-sided prefix advantage eroded")
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("q68 LSH candidates are <20% of the quadratic pair count at recall >=0.95 on clustered vectors") {
    // The embedding ladder's gated resource is CANDIDATE ROWS SCORED, not
    // shuffle bytes: q65's crossJoin lowers to a broadcast nested-loop
    // join whose task metrics record ~zero shuffle writes while doing the
    // full n(n-1)/2 cosine evaluations — a bytes gate would perversely
    // score the quadratic plan as free. The quadratic term IS the
    // candidate count, so that is what this pins, together with the
    // recall that makes the reduction meaningful. Corpus: the clustered
    // regime LSH serves (30 tight clusters x 100 vectors; ExtensionSpec
    // separately covers the uniform-random adversarial fixtures where
    // only a recall floor is claimable).
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val nClusters = 30; val perCluster = 100; val dim = 64
    val rnd = new scala.util.Random(11L)
    val centers = Array.fill(nClusters, dim)(rnd.nextGaussian())
    val vecs = for {
      c <- 0 until nClusters; i <- 0 until perCluster
    } yield {
      val v = centers(c).map(x => (x + 0.05 * rnd.nextGaussian()).toFloat)
      ((c * perCluster + i).toLong, v.toSeq)
    }
    val e = vecs.toDF("vec_id", "embedding")
    val n = vecs.size.toLong
    val quadratic = n * (n - 1) / 2
    // 8-bit bands: the width a user picks for clustered data (cross-
    // cluster band collision 0.5^8; the fixture query's 4-bit default is
    // tuned for its uniform-random regime where wider bands lose recall)
    val cand = graft.operators.Similarity
      .embeddingLshCandidates(e, bandBits = 8, nTables = 8)
    val nCand = cand.count()
    assert(nCand.toDouble / quadratic < 0.20,
      f"LSH candidates $nCand of $quadratic quadratic pairs (${nCand.toDouble / quadratic}%.3f) — banding advantage eroded")
    // recall vs the exact confirm over ALL pairs, same confirm kernel
    val all = e.select($"vec_id".as("v1")).crossJoin(e.select($"vec_id".as("v2")))
      .filter($"v1" < $"v2")
    val t = 0.8 // within-cluster cos ~0.99, cross-cluster ~0
    val exact = graft.operators.Similarity.confirmCosine(all, e, t)
      .select($"v1", $"v2").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = graft.operators.Similarity.confirmCosine(cand, e, t)
      .select($"v1", $"v2").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(lsh.subsetOf(exact), "confirmed LSH pairs must be a subset of exact")
    assert(exact.size >= nClusters * perCluster * (perCluster - 1) / 2 / 2,
      s"clustered corpus must produce dense within-cluster pairs (got ${exact.size})")
    val recall = (exact intersect lsh).size.toDouble / exact.size
    assert(recall >= 0.95,
      f"clustered-regime recall $recall%.3f below 0.95 — banding lost pairs it must keep")
  }

  test("q132 bounded-aggregator sampling shuffles fewer records than q107's window, same result") {
    // The window form shuffles EVERY stratum row to sort it; the udaf
    // form reduces map-side to <= k rows per stratum per task before the
    // exchange. Records (not bytes) is the gated resource — the row
    // payloads are identical, the reduction is in how many cross the wire.
    val records = new java.util.concurrent.atomic.AtomicLong
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(t: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        if (t.taskMetrics != null)
          records.addAndGet(t.taskMetrics.shuffleWriteMetrics.recordsWritten)
    }
    def drain(): Unit =
      org.apache.spark.sql.graft.ColumnBridgeImpl.drainListenerBus(
        spark.sparkContext, 60000L)
    spark.sparkContext.addSparkListener(listener)
    try {
      def measure(name: String): (Seq[String], Long) = {
        drain(); records.set(0L)
        val rows = SparkEntry.queries(name)(spark, sfDir)
          .collect().map(_.mkString("|")).toSeq
        drain()
        (rows, records.get)
      }
      val (winRows, winRecs) = measure("q107_stratified_sample")
      val (aggRows, aggRecs) = measure("q132_stratified_sample_agg")
      assert(aggRows === winRows, "both plans must produce the identical sample")
      assert(winRecs > 0L, "window plan must register shuffle records")
      val ratio = aggRecs.toDouble / winRecs
      // window shuffles all ~1500 orders rows; the udaf shuffles bounded
      // partials (<= strata x tasks x k) — well under half at any scale
      assert(ratio < 0.8,
        f"agg/window shuffle-record ratio $ratio%.3f ($aggRecs vs $winRecs) — " +
          "bounded-aggregator advantage eroded")
    } finally spark.sparkContext.removeSparkListener(listener)
  }
}
