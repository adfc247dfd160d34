package graft.operators

import graft.catalyst.TextHash
import graft.{Q, QueryModule, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication operators for LLM training-data pipelines (north-star
  * extension, SURVEY.md §2B): exact, content-hash, n-gram Jaccard,
  * MinHash+LSH, SimHash, embedding-cosine near-dup.
  *
  * Scale notes (100 TB):
  *  - Exact/hash dedup is one shuffle on the (64-char) content hash, never
  *    on the document body — at 100 TB you shuffle 5000× less data.
  *  - Jaccard candidates come from a shingle inverted index (explode +
  *    self-equi-join on the shingle), NOT an O(n²) cross join. Its cost is
  *    sum(df²) over shingles, so a dense shingle distribution degenerates
  *    quadratically — measured at 10x bench scale in 2026-08 (the
  *    since-deleted scale probe, 51k docs / 30-word vocab, identical
  *    pair sets): naive exact 62s /
  *    1 GiB shuffle; PPJoin-style prefix filtering (q101, still exact)
  *    12s / 225 MiB; MinHash+LSH 1.9s / ~0. q62 is the ground-truth
  *    baseline, q101 the optimized exact path, q63 the approximate
  *    production path at scale.
  *  - MinHash+LSH reduces the candidate join to band-signature equality —
  *    the standard sub-quadratic near-dup path. Shingle + signature
  *    kernels are native codegen'd expressions (graft.catalyst.VecOps),
  *    deterministic across runs/executors — safe to persist.
  */
object Dedup extends QueryModule {

  /** Distinct hashed 3-token shingles via the native ShingleHashes
    * expression (graft.catalyst.VecOps.shingleHashes): one pass over the
    * text bytes, no intermediate token/shingle strings. The built-in
    * formulation (split → transform → concat_ws → array_distinct) was 5×
    * slower even after materializing tokens, because CollapseProject
    * re-inlines the tokenizer into the per-element lambda. Set semantics
    * match the SQL oracle's string shingles (same per-doc set and
    * intersection sizes) up to 2^-64 hash collisions. */
  def shingles(text: Column): Column = graft.catalyst.VecOps.shingle_hashes(text)

  /** DuckDB rendering of [[shingles]] (1-based list comprehension).
    * Tokenization matches the kernel: empty tokens (whitespace runs)
    * dropped; the separator is chr(31) so tokens containing '_' can't
    * collide with shingle joins; <3 tokens degrade to one whole-doc
    * shingle over the token sequence. */
  val duckShingles: String =
    """list_distinct(CASE WHEN len(t) >= 3
      |  THEN [t[i] || chr(31) || t[i+1] || chr(31) || t[i+2] for i in range(1, len(t) - 1)]
      |  ELSE [array_to_string(t, chr(31))] END)""".stripMargin

  /** DuckDB tokenizer matching the kernel (drops empty tokens). */
  val duckTokens: String =
    "list_filter(string_split(trim(text), ' '), x -> x <> '')"

  /** doc_id + distinct hashed-shingle array. */
  def docShingles(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.t(s, dir, "documents").select($"doc_id", shingles(trim($"text")).as("sh"))
  }

  /** THE decontamination kill list — training docs (doc_id % 10 != 0)
    * sharing ANY shingle with the eval split, the GPT-3/Pile n-gram
    * rule. One definition shared by q177 (the removal ledger) and the
    * index delete lifecycles (q415/q416 use a slice of it as their
    * takedown feed), so "contaminated" can never mean two different
    * sets across the corpus. Same asymmetric 100 TB shape as q120:
    * eval shingles DISTINCT-ed then broadcast, corpus scanned once,
    * only matched doc_ids reach the distinct. */
  def contaminatedTrainDocIds(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val sh = docShingles(s, dir)
    val evalH = sh.filter($"doc_id" % 10 === 0)
      .select(explode($"sh").as("h")).distinct()
    sh.filter($"doc_id" % 10 =!= 0)
      .select($"doc_id", explode($"sh").as("h"))
      .join(broadcast(evalH), Seq("h"))
      .select($"doc_id").distinct()
  }

  /** Exact Jaccard pairs (d1 < d2) with similarity >= threshold, via the
    * shingle inverted index. Both oracle-checked queries reuse this.
    *
    * Shuffle-slimming for scale: the inverted index carries 8-byte hashed
    * shingles (never ~20-byte strings), and doc sizes travel in a small
    * broadcast side table instead of widening every joined row.
    */
  def jaccardPairs(s: SparkSession, dir: String, threshold: Double): DataFrame = {
    import s.implicits._
    val sh = docShingles(s, dir)
    val sizes = sh.select($"doc_id", size($"sh").as("n"))
    val ex = sh.select($"doc_id", explode($"sh").as("h"))
    val a = ex.select($"doc_id".as("d1"), $"h")
    val b = ex.select($"doc_id".as("d2"), $"h")
    a.join(b, Seq("h")).filter($"d1" < $"d2")
      .groupBy($"d1", $"d2")
      .agg(count(lit(1)).as("common"))
      .join(broadcast(sizes.select($"doc_id".as("d1"), $"n".as("n1"))), Seq("d1"))
      .join(broadcast(sizes.select($"doc_id".as("d2"), $"n".as("n2"))), Seq("d2"))
      .withColumn("jac", $"common".cast("double") / ($"n1" + $"n2" - $"common"))
      .filter($"jac" >= threshold)
      .select($"d1", $"d2", round($"jac", 4).as("jac"))
      .orderBy($"d1", $"d2")
  }

  /** Exact-Jaccard confirm on candidate id pairs — the ONE definition of
    * the confirm stage shared by every candidate generator (q63 LSH,
    * q101 prefix filter; q69 applies the same kernel inline on MLlib's
    * candidates): rejoin shingle sets once per pair, keep pairs with
    * native-kernel jaccard >= t. JaccardSim's set semantics are identical
    * to the composed size(array_intersect)/size(array_union) form (and
    * to jaccardOracle) but run as a one-pass primitive loop. */
  def exactConfirm(cand: DataFrame, sh: DataFrame, t: Double): DataFrame = {
    import cand.sparkSession.implicits._
    cand
      .join(sh.select($"doc_id".as("d1"), $"sh".as("sh1")), Seq("d1"))
      .join(sh.select($"doc_id".as("d2"), $"sh".as("sh2")), Seq("d2"))
      .withColumn("jac", graft.catalyst.VecOps.jaccard_sim_col($"sh1", $"sh2"))
      .filter($"jac" >= t)
      .select($"d1", $"d2", round($"jac", 4).as("jac"))
      .orderBy($"d1", $"d2")
  }

  /** EXACT Jaccard pairs via PPJoin-style prefix filtering (public
    * AllPairs/PPJoin technique): under ANY global token order, two docs
    * with jac >= t must share a token among each one's FIRST
    * n - ceil(t*n) + 1 sorted tokens (pigeonhole: their >= t*n common
    * tokens cannot all hide in a suffix of ceil(t*n) - 1), so only
    * prefixes are indexed — candidate cost drops from sum(df^2) over all
    * shingles to the prefix slice (~(1-t)^2 of the pairs), while the
    * result stays EXACT (same oracle as the naive q62 index). A length
    * filter (t*n1 <= n2 and t*n2 <= n1, necessary for jac >= t) prunes
    * further before the distinct. The global order is ascending hash —
    * deterministic, no frequency-statistics pass. */
  def jaccardPrefixPairs(s: SparkSession, dir: String, t: Double): DataFrame = {
    import s.implicits._
    val sh = docShingles(s, dir)
    val pref = sh.select($"doc_id", size($"sh").as("n"),
      slice(array_sort($"sh"), lit(1),
        (size($"sh") - ceil(size($"sh") * t) + 1).cast("int")).as("prefix"))
    val ex = pref.select($"doc_id", $"n", explode($"prefix").as("h"))
    val a = ex.select($"doc_id".as("d1"), $"n".as("n1"), $"h")
    val b = ex.select($"doc_id".as("d2"), $"n".as("n2"), $"h")
    val cand = a.join(b, Seq("h"))
      .filter($"d1" < $"d2")
      .filter($"n2" >= ceil($"n1" * t) && $"n1" >= ceil($"n2" * t))
      .select($"d1", $"d2").distinct()
    exactConfirm(cand, sh, t)
  }

  /** Shared CTE chain producing exact-Jaccard candidate pairs — the ONE
    * SQL definition of pair semantics, embedded by every oracle that
    * consumes pairs (q62/q63/q69 via [[jaccardOracle]], q96's recursive
    * closure) so they cannot silently diverge. Exposes `jpairs(d1, d2,
    * common, n1, n2)`; callers apply the threshold predicate. */
  val jaccardPairsCte: String =
    s"""toks AS (SELECT doc_id, $duckTokens AS t FROM documents),
      shng AS (SELECT doc_id, $duckShingles AS sh FROM toks),
      ex AS (SELECT doc_id, len(sh) AS n, unnest(sh) AS s FROM shng),
      jpairs AS (
        SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS common,
               any_value(a.n) AS n1, any_value(b.n) AS n2
        FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
        GROUP BY 1, 2)"""

  /** Oracle SQL matching [[jaccardPairs]]; `extraWhere` narrows the pair
    * set (q119 restricts to pairs touching an arriving doc). */
  def jaccardOracle(threshold: Double, extraWhere: String = ""): String =
    s"""
      WITH $jaccardPairsCte
      SELECT d1, d2, round(CAST(common AS DOUBLE) / (n1 + n2 - common), 4) AS jac
      FROM jpairs
      WHERE CAST(common AS DOUBLE) / (n1 + n2 - common) >= $threshold
        ${if (extraWhere.isEmpty) "" else s"AND ($extraWhere)"}
      ORDER BY d1, d2"""

  /** Directional CONTAINMENT pairs: C(d1 -> d2) = |sh(d1) ∩ sh(d2)| /
    * |sh(d1)| >= t — the asymmetric cousin of Jaccard that catches
    * PARTIAL copies (a quote, an excerpt, a doc embedded in a larger
    * one), which symmetric Jaccard misses whenever the container is much
    * bigger than the contained doc (jac <= |A|/|B| no matter how perfect
    * the copy). Same inverted-index shape and shuffle-slimming as
    * [[jaccardPairs]] (8-byte hashed shingles, broadcast size table);
    * like q62 it is the exact baseline — at 100 TB, prefix-filter on the
    * contained side's sorted shingles (the q101 pigeonhole argument
    * works one-sided: d1's >= t*n1 common shingles cannot all hide in a
    * suffix of ceil(t*n1) - 1) or LSH-band as in q63. */
  def containmentPairs(s: SparkSession, dir: String, t: Double): DataFrame = {
    import s.implicits._
    val sh = docShingles(s, dir)
    val sizes = sh.select($"doc_id", size($"sh").as("n"))
    val ex = sh.select($"doc_id", explode($"sh").as("h"))
    val a = ex.select($"doc_id".as("d1"), $"h")
    val b = ex.select($"doc_id".as("d2"), $"h")
    a.join(b, Seq("h")).filter($"d1" =!= $"d2")
      .groupBy($"d1", $"d2")
      .agg(count(lit(1)).as("common"))
      .join(broadcast(sizes.select($"doc_id".as("d1"), $"n".as("n1"))), Seq("d1"))
      .withColumn("cont", $"common".cast("double") / $"n1")
      .filter($"cont" >= t)
      .select($"d1", $"d2", round($"cont", 4).as("cont"))
      .orderBy($"d1", $"d2")
  }

  /** Oracle SQL matching [[containmentPairs]] (ordered pairs, <>). */
  def containmentOracle(threshold: Double): String =
    s"""
      WITH toks AS (SELECT doc_id, $duckTokens AS t FROM documents),
      shng AS (SELECT doc_id, $duckShingles AS sh FROM toks),
      ex AS (SELECT doc_id, len(sh) AS n, unnest(sh) AS s FROM shng),
      cpairs AS (
        SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS common,
               any_value(a.n) AS n1
        FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id <> b.doc_id
        GROUP BY 1, 2)
      SELECT d1, d2, round(CAST(common AS DOUBLE) / n1, 4) AS cont
      FROM cpairs
      WHERE CAST(common AS DOUBLE) / n1 >= $threshold
      ORDER BY d1, d2"""

  /** EXACT containment pairs via a ONE-SIDED prefix filter — the scale
    * path for [[containmentPairs]] (its q101 analogue). The pigeonhole
    * argument works one-sided: C(d1 -> d2) >= t means d1 and d2 share
    * >= ceil(t*n1) of d1's n1 shingles, and under any global order those
    * cannot all hide in the suffix of d1's sorted shingles of length
    * ceil(t*n1) - 1 — so at least one common shingle sits in d1's FIRST
    * n1 - ceil(t*n1) + 1 sorted shingles. Only the contained side's
    * prefixes (~(1-t) of its shingles) are indexed; the container side
    * must stay FULL, because containment puts no lower bound on the
    * match's position in d2 (d2 may be arbitrarily larger — exactly the
    * skew that defeats symmetric Jaccard and its two-sided filter).
    * Candidate volume drops from sum(df^2) to ~(1-t)*sum(df^2), and the
    * pre-distinct pair stream — the widest shuffle in the naive plan —
    * shrinks by the same factor; a length filter (common >= t*n1 needs
    * n2 >= ceil(t*n1)) prunes the tiny-container direction before the
    * distinct. Candidates then exact-confirm against the full shingle
    * arrays (array_intersect on the distinct sets), so the output is
    * IDENTICAL to [[containmentPairs]] — same oracle. Gated in
    * ShuffleGateSpec on a container/contained size-skew corpus. */
  def containmentPrefixPairs(s: SparkSession, dir: String, t: Double): DataFrame = {
    import s.implicits._
    val sh = docShingles(s, dir)
    val pref = sh.select($"doc_id", size($"sh").as("n"),
      slice(array_sort($"sh"), lit(1),
        (size($"sh") - ceil(size($"sh") * t) + 1).cast("int")).as("prefix"))
    val a = pref.select($"doc_id".as("d1"), $"n".as("n1"), explode($"prefix").as("h"))
    val b = sh.select($"doc_id".as("d2"), size($"sh").as("n2"), explode($"sh").as("h"))
    val cand = a.join(b, Seq("h"))
      .filter($"d1" =!= $"d2")
      .filter($"n2" >= ceil($"n1" * t))
      .select($"d1", $"d2").distinct()
    cand
      .join(sh.select($"doc_id".as("d1"), $"sh".as("sh1")), Seq("d1"))
      .join(sh.select($"doc_id".as("d2"), $"sh".as("sh2")), Seq("d2"))
      .withColumn("cont",
        size(array_intersect($"sh1", $"sh2")).cast("double") / size($"sh1"))
      .filter($"cont" >= t)
      .select($"d1", $"d2", round($"cont", 4).as("cont"))
      .orderBy($"d1", $"d2")
  }

  /** k deterministic MinHash values via the native one-pass MinHashSig
    * expression (graft.catalyst.VecOps.minhash). */
  def minhashSignature(sh: Column, k: Int): Column =
    graft.catalyst.VecOps.minhash_sig(sh, k)

  /** Per-band keys of a k-component array signature: band b's key is
    * xxhash64 over its `rows` consecutive components. Shared by every
    * array-signature LSH site (q63, bandedSourcePairs) so the banding
    * arithmetic cannot silently diverge between them. */
  def bandKeys(sig: Column, bands: Int, rows: Int): Column =
    transform(sequence(lit(0), lit(bands - 1)), b =>
      xxhash64((0 until rows).map(r => element_at(sig, b * rows + r + 1)): _*))

  /** Group-level MinHash sketches per source (shared by q59 and the
    * banded scale path below): O(k) mergeable state per group. */
  def sourceSketches(s: SparkSession, dir: String, k: Int): DataFrame = {
    import graft.catalyst.MinHashSetAgg.minhash_set_agg
    import s.implicits._
    Tables.t(s, dir, "documents")
      .select($"source", shingles(trim($"text")).as("sh"))
      .groupBy($"source")
      .agg(minhash_set_agg($"sh", k).as("sig"))
  }

  /** Scale path for source-level similarity when sources number 10^4+:
    * band the k-component sketches (rows-per-band components hashed to a
    * band key) and estimate Jaccard ONLY for source pairs sharing a band
    * — the same sub-quadratic LSH argument as q63, applied to group
    * sketches, with the same slim candidate shuffle (id pairs only;
    * sketches rejoin once per candidate). q59's all-pairs crossJoin is
    * the right plan at dozens of sources (its quadratic term is
    * |sources|², independent of document count); this replaces it when
    * the source space itself is large. Band count trades recall for
    * cost: a pair with true estimate j shares a band with probability
    * 1-(1-j^(k/bands))^bands — at the defaults (4 rows × 16 bands) that
    * is 0.64 for a boundary pair at j=0.5, 0.97 at j=0.67, and ~1 above
    * 0.8; widen to 2-row bands for near-total recall at j=0.5 at the
    * price of more candidates from dissimilar pairs. */
  def bandedSourcePairs(s: SparkSession, dir: String, k: Int = 64,
      bands: Int = 16, minEst: Double = 0.5): DataFrame = {
    val p = bandedSketchPairs(sourceSketches(s, dir, k), "source", k, bands, minEst)
    import s.implicits._
    p.select($"g1".as("s1"), $"g2".as("s2"), $"est_jaccard").orderBy($"s1", $"s2")
  }

  /** The banding+estimate core shared by [[bandedSourcePairs]] and q115:
    * given (groupCol, sig) sketches, LSH-band the signatures, equi-join on
    * band keys for candidates (id pairs only through the distinct — the
    * widest shuffle), rejoin sketches once per candidate, and keep pairs
    * whose equal-component estimate clears `minEst`. Output: (g1, g2,
    * est_jaccard), unordered — callers rename/sort. */
  def bandedSketchPairs(sigs: DataFrame, groupCol: String, k: Int,
      bands: Int, minEst: Double): DataFrame = {
    import sigs.sparkSession.implicits._
    val rows = k / bands
    val banded = sigs.select(col(groupCol).as("g"),
      posexplode(bandKeys($"sig", bands, rows)).as(Seq("band_idx", "band_key")))
    val a = banded.select($"g".as("g1"), $"band_idx", $"band_key")
    val b = banded.select($"g".as("g2"), $"band_idx", $"band_key")
    val cand = a.join(b, Seq("band_idx", "band_key")).filter($"g1" < $"g2")
      .select($"g1", $"g2").distinct()
    cand
      .join(sigs.select(col(groupCol).as("g1"), $"sig".as("sig1")), Seq("g1"))
      .join(sigs.select(col(groupCol).as("g2"), $"sig".as("sig2")), Seq("g2"))
      .withColumn("est_jaccard",
        round(size(filter(zip_with($"sig1", $"sig2", (x, y) => x === y), p => p))
          .cast("double") / k, 4))
      .filter($"est_jaccard" >= minEst)
      .select($"g1", $"g2", $"est_jaccard")
  }

  /** Sliding-cohort group sketches (the q115 grouping, shared with its
    * equality spec so both sides provably sketch the same groups): window
    * w covers doc_ids [10w, 10w+20), i.e. each doc feeds windows
    * `id div 10` and `id div 10 - 1` — adjacent windows share half their
    * docs, non-adjacent ones none. */
  def cohortSketches(s: SparkSession, dir: String, k: Int): DataFrame = {
    import graft.catalyst.MinHashSetAgg.minhash_set_agg
    import s.implicits._
    val win = expr("doc_id div 10")
    docShingles(s, dir)
      .select(explode(array(win, win - 1)).as("win"), $"sh")
      .filter($"win" >= 0)
      .groupBy($"win")
      .agg(minhash_set_agg($"sh", k).as("sig"))
  }

  /** MinHash(64)+LSH(16×4) candidate pairs, exact-Jaccard-confirmed at
    * `threshold` (the q63 operator, reusable): band-key equi-join with an
    * id-pair-only candidate shuffle, signatures rejoined once per pair. */
  def minhashLshPairs(s: SparkSession, dir: String, threshold: Double): DataFrame = {
    import s.implicits._
    val k = 64; val bands = 16; val rows = 4
    val sh = docShingles(s, dir)
    val sig = sh.select($"doc_id", minhashSignature($"sh", k).as("mh"))
    val banded = sig.select(
      $"doc_id",
      posexplode(bandKeys($"mh", bands, rows)).as(Seq("band_idx", "band_key")))
    val a = banded.select($"doc_id".as("d1"), $"band_idx", $"band_key")
    val b = banded.select($"doc_id".as("d2"), $"band_idx", $"band_key")
    // Candidate stage carries ONLY 16-byte id pairs through the join +
    // distinct (the widest shuffle of the job at 100 TB); the shingle
    // arrays rejoin once per surviving pair, not once per band match.
    val cand = a.join(b, Seq("band_idx", "band_key"))
      .filter($"d1" < $"d2")
      .select($"d1", $"d2").distinct()
    exactConfirm(cand, sh, threshold)
  }

  /** Preprocessed signature rows for a document frame: (doc_id, sh, mh) —
    * hashed shingle set + k-component MinHash signature, ~8·(1+k+|sh|)
    * bytes per doc. This is the table a growing 100 TB corpus PERSISTS so
    * that daily arriving batches never re-tokenize or re-sign history. */
  def signatureIndex(docs: DataFrame, k: Int = 64): DataFrame = {
    import docs.sparkSession.implicits._
    docs.select($"doc_id", shingles(trim($"text")).as("sh"))
      .withColumn("mh", minhashSignature($"sh", k))
  }

  /** Write the corpus signature index once (overwrite = rebuild) — the
    * plain single-directory form for indexes that never take
    * incremental adds (q119's daily-dedup reference). The batch-index
    * LIFECYCLE (add/compact/delete) uses [[initSignatureIndex]]'s
    * generation-committed layout instead. */
  def writeSignatureIndex(corpus: DataFrame, path: String, k: Int = 64): Unit =
    signatureIndex(corpus, k).write.mode("overwrite").parquet(path)

  /** Initialize a BATCH-lifecycle signature index at `root`: the history
    * corpus's signatures land as subdirectory `base` of generation 1 of
    * a generation-committed directory ([[graft.sink.GenDir]]).
    * [[addSignatureIndexBatch]] writes INTO the current generation;
    * [[compactSignatureIndex]] publishes its folded rewrite as the NEXT
    * generation through one one-winner claim — so readers resolve a
    * complete index at every instant of every maintenance op (the old
    * delete/move/move swap's brief-absence window, and the heal code it
    * required, are structurally gone). */
  def initSignatureIndex(hist: DataFrame, root: String, k: Int = 64): Unit =
    graft.sink.GenDir.publishStaged(hist.sparkSession, root) { staged =>
      signatureIndex(hist, k).write.mode("overwrite")
        .parquet(s"$staged/base")
    }

  /** Resolve an index path argument to the READABLE data location: a
    * generation-committed root (or its legacy `<root>/ *` glob form)
    * resolves to the current generation's subdirectory glob; a plain
    * [[writeSignatureIndex]] directory passes through unchanged. */
  def signatureIndexData(s: SparkSession, indexPath: String): String = {
    val root = indexPath.stripSuffix("/*")
    graft.sink.GenDir.resolve(s, root)
      .map(g => s"$g/*").getOrElse(indexPath)
  }

  /** The batch-lifecycle index's signature rows (current generation). */
  def readSignatureIndex(s: SparkSession, root: String): DataFrame =
    s.read.parquet(signatureIndexData(s, root))

  /** Add a batch's signatures to a multi-directory index as its own
    * OVERWRITTEN subdirectory — the maintenance step that keeps the
    * daily incremental-dedup loop (q119/q128) sustainable (after a
    * batch is deduped against the index, its signatures join it so the
    * NEXT batch sees it as history), shaped for at-least-once callers:
    * foreachBatch may replay a micro-batch after a failure, and a blind
    * `append` would then double the batch's signatures (duplicating
    * every later batch's confirmed pairs) — keying the subdirectory by
    * the caller's batch id and overwriting makes the replay idempotent.
    * Readers pass a glob over the root's subdirectories as the index
    * path. */
  def addSignatureIndexBatch(batch: DataFrame, indexRoot: String,
      batchKey: String, k: Int = 64): Unit = {
    // a key already folded into base by [[compactSignatureIndex]] is a
    // NO-OP: rewriting its subdirectory would duplicate every signature
    // compaction just moved (the replay-of-a-compacted-batch case the
    // IVF index handles identically)
    val s = batch.sparkSession
    if (foldedSignatureKeys(s, indexRoot).contains(batchKey)) return
    def gen(): String = graft.sink.GenDir
      .resolve(s, indexRoot).getOrElse(
        throw new IllegalStateException(
          s"no committed index generation under $indexRoot — " +
            "initSignatureIndex first"))
    // resolve-write-recheck (mirrors addIvfBatch): a concurrent
    // compaction publishing mid-write would strand this batch in the
    // superseded generation — redo into the current one unless the
    // compaction already folded the key
    var attempts = 0
    var done = false
    while (!done) {
      val g = gen()
      signatureIndex(batch, k).write.mode("overwrite")
        .parquet(s"$g/$batchKey")
      done = gen() == g ||
        foldedSignatureKeys(s, indexRoot).contains(batchKey)
      attempts += 1
      require(attempts < 100,
        s"add of $batchKey cannot land under $indexRoot")
    }
  }

  /** Append a kill list (any single-id-column frame) to the signature
    * index's tombstone set — the dedup-family twin of
    * Similarity.deleteIvfVectors (q415), kept in a SIBLING directory
    * (`<root>_tombstones`) so the data glob `<root>/ * ` can never pick
    * it up as signatures. O(|kill|); the index itself is never touched.
    * Idempotent by read-side distinct — replaying a delete appends
    * duplicate rows but changes no dedup result and no compaction
    * outcome (q416's replay_noop cell). */
  def deleteSignatures(kill: DataFrame, indexRoot: String): Unit =
    graft.sink.Tombstones.append(kill, s"${indexRoot}_tombstones",
      "doc_id")

  /** The current tombstone set for a signature index (distinct doc_ids;
    * empty when the index predates the delete lifecycle or was just
    * compacted). Accepts either the index root or the `<root>/ * ` data
    * glob readers pass around. Bounded between compactions — compaction
    * applies and clears it. */
  def signatureTombstones(s: SparkSession, indexPath: String): DataFrame =
    graft.sink.Tombstones.read(s,
      s"${indexPath.stripSuffix("/*")}_tombstones", "doc_id")

  /** Batch keys already folded into `base` — kept in a SIBLING directory
    * (`<root>_folded_batches`) so the data glob `<root>/ * ` can never
    * pick the manifest up as a malformed signature file. Empty until the
    * first compaction. */
  def foldedSignatureKeys(s: SparkSession, indexRoot: String): Set[String] = {
    val p = s"${indexRoot}_folded_batches"
    if (!graft.sink.Fs.exists(s, p)) Set.empty
    // driver-side read (TinyParquet): the ledger is driver-sized
    // metadata — a Spark job per lookup was pure overhead
    else graft.sink.TinyParquet.read(s, p, Seq("batch_key" -> "string"))
      .map(_.head.asInstanceOf[String]).toSet
  }

  /** MAINTENANCE: fold every batch subdirectory of the signature index
    * back into ONE `base` — the q305 compaction applied to the dedup
    * stack's own layout (a year of daily adds is 365 subdirectories of
    * small files, and every `<root>/ * ` glob read pays their listing +
    * footer costs forever). The signature multiset is preserved exactly
    * (incremental-dedup output is bit-identical across the fold); the
    * rewrite is staged privately and published as the index's NEXT
    * generation through one one-winner claim ([[graft.sink.GenDir]]) —
    * the live index is complete at every instant, so there is no
    * between-renames absence window and no heal path (a crash
    * mid-compaction leaves only an invisible staged dir for the
    * age-gated vacuum; the previous generation is retained one publish
    * cycle for in-flight readers). Folded keys are then appended to
    * the manifest so a late REPLAY of a folded batch stays a no-op
    * ([[addSignatureIndexBatch]]) instead of re-duplicating vectors
    * that now live in base. Returns folded keys. */
  def compactSignatureIndex(s: SparkSession, indexRoot: String,
      targetFiles: Int = 1): Seq[String] = {
    import s.implicits._
    val gen = graft.sink.GenDir.resolve(s, indexRoot).getOrElse(
      throw new IllegalStateException(
        s"no committed index generation under $indexRoot"))
    val keys = graft.sink.Fs.listDirNames(s, gen)
      .filter(n => n != "base" && !n.startsWith("_") && !n.startsWith("."))
    // one tombstone read serves both the early-exit gate and the
    // anti-join below (mirrors compactIvfLists)
    val tomb = signatureTombstones(s, indexRoot)
    val nTombstoned = tomb.count()
    if (keys.isEmpty && nTombstoned == 0) return Nil
    // targetFiles sizes the rewrite: 1 at fixture scale, index_bytes /
    // maxPartitionBytes for a real deployment (the q268 sizing rule).
    // Tombstoned signatures are dropped HERE — the physical application
    // of every delete since the last compaction; dedup output cannot
    // change (reads already excluded them), q416 grades the equality.
    graft.sink.GenDir.publishStaged(s, indexRoot) { staged =>
      s.read.parquet(s"$gen/*")
        .join(broadcast(tomb), Seq("doc_id"), "left_anti")
        .repartition(targetFiles)
        .write.mode("overwrite").parquet(s"$staged/base")
    }
    if (keys.nonEmpty)
      graft.sink.TinyParquet.write(s, s"${indexRoot}_folded_batches",
        Seq("batch_key" -> "string"), keys.map(Seq(_)),
        overwrite = false)
    // clear AFTER the publish (the ordering argument lives on
    // Tombstones.clear)
    graft.sink.Tombstones.clear(s, s"${indexRoot}_tombstones", "doc_id")
    keys
  }

  /** Incremental near-dup: dedup an ARRIVING batch against the persisted
    * corpus index without recomputing anything historical — the access
    * pattern production dedup actually runs daily, where a full-corpus
    * recompute (q63) would redo O(corpus) work for an O(batch) question.
    * New docs are signed and banded; candidates are (new × (index ∪
    * new)) band-key collisions only — historical×historical pairs are
    * structurally excluded, and historical shingles/signatures come FROM
    * the index (one parquet scan, zero re-tokenization). Exact-Jaccard
    * confirm uses the same shared kernel as q63/q101, so the result
    * equals a full recompute restricted to pairs touching a new doc
    * (asserted in IncrementalDedupSpec; the deterministic MinHash kernel
    * is what makes index-vs-fresh signatures band-compatible). */
  def incrementalNeardupPairs(s: SparkSession, indexPath: String,
      newDocs: DataFrame, threshold: Double, k: Int = 64,
      bands: Int = 16): DataFrame = {
    import s.implicits._
    val rows = k / bands
    // tombstoned (deleted) index docs drop out BEFORE banding, so a
    // killed doc neither pairs nor occupies candidate slots — the q416
    // lifecycle's logical-exclusion leg (the broadcast set is bounded
    // between compactions, which apply + clear it)
    val idx = s.read // (doc_id, sh, mh) — generation-resolved
      .parquet(signatureIndexData(s, indexPath))
      .join(broadcast(signatureTombstones(s, indexPath)), Seq("doc_id"),
        "left_anti")
    val fresh = signatureIndex(newDocs, k)
    def banded(sigs: DataFrame) = sigs.select($"doc_id",
      posexplode(bandKeys($"mh", bands, rows)).as(Seq("band_idx", "band_key")))
    // new-side bands probe BOTH the index bands and the new bands; pairs
    // are normalized (least, greatest) so a new-new collision found in
    // either order dedups to one candidate. Id pairs only through the
    // distinct — the same slim-shuffle shape as q63's candidate stage.
    val cand = banded(fresh).select($"doc_id".as("dn"), $"band_idx", $"band_key")
      .join(banded(idx.select($"doc_id", $"mh")).union(banded(fresh))
        .select($"doc_id".as("do"), $"band_idx", $"band_key"),
        Seq("band_idx", "band_key"))
      .filter($"dn" =!= $"do")
      .select(least($"dn", $"do").as("d1"), greatest($"dn", $"do").as("d2"))
      .distinct()
    val sh = idx.select($"doc_id", $"sh").union(fresh.select($"doc_id", $"sh"))
    exactConfirm(cand, sh, threshold)
  }

  /** The q123 "re-crawl" batch: every even-id document arrives again
    * under a fresh id — half byte-identical (doc_id ≡ 0 mod 4, true
    * duplicates of the corpus), half edited (≡ 2, genuinely new
    * content). Deterministic derivation from the fixture corpus, same
    * convention as q119's id-split. */
  def recrawlBatch(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    docs.filter($"doc_id" % 2 === 0)
      .select(($"doc_id" + 1000000L).as("doc_id"),
        when($"doc_id" % 4 === 0, $"text")
          .otherwise(concat($"text", lit(" [rev2]"))).as("text"),
        $"source")
  }

  /** Bloom-prefiltered incremental EXACT dedup: route an arriving batch
    * against a Bloom filter of corpus content before the exact anti-join
    * — the cheap first stage of daily corpus maintenance. The filter is
    * built in ONE corpus aggregate pass (`stat.bloomFilter` =
    * treeAggregate: executors fold rows into fixed-size bit arrays, only
    * the bitmaps reach the driver — no shuffle, no row movement), then
    * broadcast; batch rows that MISS are definitely new and skip the
    * join entirely, rows that HIT (true dups + ~fpp false positives) go
    * through the exact hash anti-join for confirmation. The final answer
    * is therefore EXACT — the bloom only routes — which is what lets
    * q123 keep a bit-exact SQL oracle. Returned frames: (definitely-new,
    * candidates, exact-confirmed-new after the join).
    *
    * Sizing honesty for 100 TB: ~9.6 bits/key at fpp=0.01 → ~1.2 GB per
    * 10^9 distinct texts. The single-broadcast regime tops out around
    * 10^9-10^10 keys; past that, shard the filter by hash prefix (each
    * executor holds one shard and the batch routes by the same prefix)
    * or fall back to the plain q61-shape anti-join, which this stage
    * wraps, not replaces. The serialized filter round-trips through
    * `writeTo`/`readFrom`, so a daily pipeline persists it next to
    * q119's signature index instead of rebuilding (exercised in
    * IncrementalDedupSpec). Measured at 10x bench scale (2026-08, scale
    * probe since deleted): a
    * 25.5k-row re-crawl batch against a 51k corpus routes 50.5% of rows
    * to the join (true dups + the configured ~1% false positives) in
    * 1.6 s — the definitely-new half never shuffles. */
  def bloomRoutedNew(corpus: DataFrame, batch: DataFrame,
      fpp: Double = 0.01): (DataFrame, DataFrame, DataFrame) = {
    val s = corpus.sparkSession
    import s.implicits._
    // parquet row-count metadata makes this a cheap bound, and
    // over-sizing only wastes bits, never correctness
    val bf = corpus.stat.bloomFilter("text", math.max(corpus.count(), 1L), fpp)
    // serialize → deserialize ONCE (driver-side) so the broadcast carries
    // exactly what a persisted daily filter would reload; executors then
    // get the ready filter object, probed per row with no per-row work
    // beyond the hash
    val bytes = {
      val bos = new java.io.ByteArrayOutputStream()
      bf.writeTo(bos)
      bos.toByteArray
    }
    val reloaded = org.apache.spark.util.sketch.BloomFilter
      .readFrom(new java.io.ByteArrayInputStream(bytes))
    val bfB = s.sparkContext.broadcast(reloaded)
    // null text is definitely-new: an equi-anti-join never matches a null
    // key, so the exact fallback would keep such rows too — and the probe
    // itself would NPE on null
    val might = udf((t: String) => t != null && bfB.value.mightContainString(t))
    val definiteNew = batch.filter(!might($"text"))
    val candidates = batch.filter(might($"text"))
    val confirmedNew =
      candidates.join(corpus.select($"text"), Seq("text"), "left_anti")
    (definiteNew, candidates, confirmedNew)
  }

  /** Near-dup CLUSTER assignment: connected components over the LSH pair
    * graph by iterative min-label propagation — each pass every node
    * adopts the smallest label among itself and its neighbors, converging
    * in O(component diameter) distributed passes (near-dup components are
    * short chains in practice, so 2-4 passes). Per pass: one shuffle of
    * the (slim, id+label) edge join; lineage truncated with an eager
    * localCheckpoint so the loop's plan does not grow. This is the step
    * production dedup needs beyond pairs: one SURVIVOR per transitive
    * duplicate set (pairs alone under-delete A~B~C sets). */
  /** @param reliable lineage-truncation mode for the propagation loop.
    *   `false` (default): eager `localCheckpoint` — blocks live on
    *   executors, fastest, right for local mode and short interactive
    *   runs; on a real cluster an executor loss mid-loop kills the job
    *   (blocks are not replicated and the truncated lineage cannot
    *   recompute). `true`: eager reliable `checkpoint()` to the
    *   SparkContext checkpoint dir (required to be set — loud error
    *   otherwise), surviving executor loss — the right switch for the
    *   100 TB cluster run, at the price of writing each pass's (slim,
    *   id+label) frame to the checkpoint FS. Superseded per-pass
    *   checkpoint files are reclaimed only by Spark's context cleaner
    *   (`spark.cleaner.referenceTracking.cleanCheckpoints=true`) or by
    *   clearing the checkpoint dir after the job — worst case the dir
    *   holds O(passes) slim id+label dumps, bounded by component
    *   diameter. */
  def neardupClusters(s: SparkSession, dir: String, threshold: Double,
      reliable: Boolean = false): DataFrame = {
    import s.implicits._
    if (reliable) require(s.sparkContext.getCheckpointDir.isDefined,
      "neardupClusters(reliable = true) needs spark.sparkContext.setCheckpointDir " +
        "(a fault-tolerant FS path) before the call")
    // eager in both modes: materialized before the previous frame unpersists
    def snap(df: DataFrame): DataFrame =
      if (reliable) {
        // persist first: an unpersisted reliable checkpoint computes the
        // plan twice (once for the eager count, once when the checkpoint
        // RDD writes its partition files); cache blocks are released as
        // soon as the checkpoint is durable
        val p = df.persist()
        val ck = p.checkpoint(true)
        p.unpersist()
        ck
      } else df.localCheckpoint(true)
    // Materialize the (expensive) confirm stage ONCE; the reversed-edge
    // union reads the checkpoint, not a second copy of the LSH pipeline.
    val pairs = snap(minhashLshPairs(s, dir, threshold).select($"d1", $"d2"))
    val edges = snap(pairs.union(pairs.select($"d2", $"d1")).toDF("a", "b"))
    pairs.unpersist()
    var labels = snap(edges.select($"a".as("node")).distinct()
      .withColumn("label", $"node"))
    var changed = 1L
    while (changed > 0) {
      val neighborMin = edges.join(labels, $"b" === $"node")
        .groupBy($"a").agg(min($"label").as("nb_min"))
      val next = snap(labels.join(neighborMin, $"node" === $"a", "left")
        .select($"node", least($"label", coalesce($"nb_min", $"label")).as("label")))
      changed = next.join(labels.select($"node", $"label".as("old")), "node")
        .filter($"label" < $"old").count()
      labels.unpersist() // superseded checkpoint blocks don't wait for GC
      labels = next
    }
    edges.unpersist()
    // the final labels checkpoint stays persisted — it backs the returned frame
    labels.select($"node".as("doc_id"), $"label".as("cluster_id"))
  }

  override def queries: Seq[Q] = Seq(
    Q(
      "q60_dedup_exact",
      "Exact dedup: group identical texts, keep the smallest doc_id " +
        "(deterministic survivor, unlike bare dropDuplicates).",
      (s, dir) => {
        import s.implicits._
        Tables.t(s, dir, "documents")
          .groupBy($"text")
          .agg(min($"doc_id").as("keep_id"), count(lit(1)).as("n_copies"))
          .select($"keep_id", $"n_copies")
          .orderBy($"keep_id")
      },
      Some("""
        SELECT min(doc_id) AS keep_id, count(*) AS n_copies
        FROM documents GROUP BY text ORDER BY keep_id""")),

    Q(
      "q61_dedup_content_hash",
      "Content-hash dedup: shuffle on sha256(text) instead of the body — " +
        "the form that scales to 100 TB (fixed 64-byte shuffle keys).",
      (s, dir) => {
        import s.implicits._
        Tables.t(s, dir, "documents")
          .select(sha2($"text", 256).as("content_sha"), $"doc_id")
          .groupBy($"content_sha")
          .agg(min($"doc_id").as("keep_id"), count(lit(1)).as("n_copies"))
          .orderBy($"keep_id")
      },
      Some("""
        SELECT sha256(text) AS content_sha, min(doc_id) AS keep_id, count(*) AS n_copies
        FROM documents GROUP BY sha256(text) ORDER BY keep_id""")),

    Q(
      "q62_ngram_jaccard_pairs",
      "Exact near-dup pairs: 3-gram shingle inverted index → self-join → " +
        "Jaccard >= 0.8. The exact ground truth the LSH variant is " +
        "measured against. DO NOT copy this plan to production: its " +
        "candidate cost is sum(df^2) over shingles — measured at 10x " +
        "bench scale (51k docs, dense vocab): 43.6 s / 1.03 GiB shuffle " +
        "here vs 15.8 s / 225 MiB for q101's prefix-filtered plan with " +
        "the IDENTICAL exact result (4.6x fewer shuffle bytes), and " +
        "~2 s / ~0 for q63's LSH path. Use q101 when exactness is " +
        "required, q63 at 100 TB.",
      (s, dir) => jaccardPairs(s, dir, 0.8),
      Some(jaccardOracle(0.8))),

    Q(
      "q101_jaccard_prefix",
      "EXACT near-dup pairs via PPJoin-style prefix filtering — the " +
        "optimized exact path between q62's naive inverted index and " +
        "q63's approximate LSH: only each doc's first n-ceil(0.8n)+1 " +
        "sorted shingle hashes are indexed (any global order works; " +
        "pigeonhole guarantees no missed pair at jac >= 0.8) plus a " +
        "length filter, then exact-Jaccard confirm. Same oracle as q62 " +
        "— identical results, ~(1-t)^2 of the candidate cost.",
      (s, dir) => jaccardPrefixPairs(s, dir, 0.8),
      Some(jaccardOracle(0.8))),

    Q(
      "q63_minhash_lsh_pairs",
      "MinHash(64)+LSH(16 bands × 4 rows) candidates, then exact-Jaccard " +
        "confirm >= 0.8. Sub-quadratic: candidates come from band-key " +
        "equality, not pairwise compare. Banding is sized for the " +
        "threshold, not just the planted pairs: at jac=0.80 (the weakest " +
        "qualifying pair in the fixtures) miss probability is " +
        "(1-0.8^4)^16 ~ 2e-4, at 0.9 ~ 1e-7 — so the result equals the " +
        "exact oracle.",
      (s, dir) => minhashLshPairs(s, dir, 0.8).orderBy("d1", "d2"),
      Some(jaccardOracle(0.8))),

    Q(
      "q119_incremental_dedup",
      "INCREMENTAL near-dup — dedup an arriving batch against a " +
        "PERSISTED corpus signature index, the shape a growing 100 TB " +
        "training corpus runs daily: the historical 90% of documents " +
        "(doc_id % 10 != 0) is signed ONCE into a parquet index " +
        "(doc_id, shingle hashes, MinHash sig — written here so the " +
        "round-trip is real, reread immediately); the arriving 10% is " +
        "signed fresh, LSH-banded, and joined against index+batch " +
        "bands. Historical × historical pairs are structurally " +
        "excluded and history is never re-tokenized — the work is " +
        "O(batch + collisions), not O(corpus). Same banding (16×4) and " +
        "exact-confirm kernel as q63, so the oracle is the exact " +
        "Jaccard pair set restricted to pairs touching an arriving " +
        "doc. IncrementalDedupSpec asserts equality with a full " +
        "recompute and the old-old exclusion on a planted corpus.",
      (s, dir) => {
        import s.implicits._
        val docs = Tables.t(s, dir, "documents")
        val idxPath = graft.TempRoots.forDir("graft_sig_index", dir).toString
        writeSignatureIndex(docs.filter($"doc_id" % 10 =!= 0), idxPath)
        incrementalNeardupPairs(s, idxPath,
          docs.filter($"doc_id" % 10 === 0), 0.8)
      },
      Some(jaccardOracle(0.8, "d1 % 10 = 0 OR d2 % 10 = 0"))),

    Q(
      "q123_bloom_dedup",
      "Bloom-ROUTED incremental exact dedup — the cheap membership stage " +
        "in front of q119's near-dup index: a 're-crawl' batch (every " +
        "even-id doc arrives again under a new id; half byte-identical, " +
        "half edited) is routed by a Bloom filter built from the corpus " +
        "in one shuffle-free treeAggregate pass. Bloom MISSES are " +
        "definitely new and never reach the join; HITS (true dups + " +
        "~1% false positives) go through the exact content anti-join — " +
        "so the kept set is EXACT and bit-exactly oracled, while the " +
        "expensive shuffle only ever sees the candidate sliver. The " +
        "filter round-trips writeTo/readFrom before broadcast, proving " +
        "the persist-daily-reuse path; no-false-negative routing and " +
        "the pruning ratio are asserted in IncrementalDedupSpec.",
      (s, dir) => {
        import s.implicits._
        val docs = Tables.t(s, dir, "documents")
        val (defNew, _, confNew) =
          bloomRoutedNew(docs, recrawlBatch(docs))
        defNew.unionByName(confNew)
          .groupBy($"source")
          .agg(count(lit(1)).as("n_new"),
            min($"doc_id").as("id_min"), max($"doc_id").as("id_max"))
          .orderBy($"source")
      },
      Some("""
        WITH batch AS (
          SELECT doc_id + 1000000 AS doc_id,
                 CASE WHEN doc_id % 4 = 0 THEN text
                      ELSE text || ' [rev2]' END AS text,
                 source
          FROM documents WHERE doc_id % 2 = 0),
        kept AS (
          SELECT b.doc_id, b.source FROM batch b
          WHERE NOT EXISTS (SELECT 1 FROM documents d WHERE d.text = b.text))
        SELECT source, count(*) AS n_new,
               min(doc_id) AS id_min, max(doc_id) AS id_max
        FROM kept GROUP BY source ORDER BY source""")),

    Q(
      "q120_contamination",
      "Train/eval CONTAMINATION check (decontamination) — for every eval " +
        "doc (doc_id % 10 == 0), the fraction of its shingles that " +
        "appear anywhere in the training corpus (the rest): the overlap " +
        "audit run before trusting a benchmark against a trained model. " +
        "Plan is shaped for the real regime (tiny eval set vs 100 TB " +
        "corpus): the corpus side is SCANNED ONCE, never deduplicated " +
        "and never shuffled — eval shingles broadcast into the join, and " +
        "only matched (doc_id, shingle) pairs (bounded by the eval " +
        "shingle count) reach the count-distinct aggregate. Same hashed " +
        "shingle kernel as q62/q63, so the oracle's string shingles " +
        "match up to 2^-64 collisions.",
      (s, dir) => {
        import s.implicits._
        val sh = docShingles(s, dir)
        val evalSh = sh.filter($"doc_id" % 10 === 0)
        val trainEx = sh.filter($"doc_id" % 10 =!= 0).select(explode($"sh").as("h"))
        val hits = trainEx
          .join(broadcast(evalSh.select($"doc_id", explode($"sh").as("h"))), Seq("h"))
          .groupBy($"doc_id")
          // per-doc shingles are a set, so distinct matched h == #matched
          .agg(count_distinct($"h").as("n_hit"))
        evalSh.select($"doc_id", size($"sh").as("n_shingles"))
          .join(hits, Seq("doc_id"), "left")
          .withColumn("n_hit", coalesce($"n_hit", lit(0L)))
          .withColumn("contamination",
            floor($"n_hit" * 10000.0 / $"n_shingles") / 10000.0)
          .orderBy($"doc_id")
      },
      Some(s"""
        WITH toks AS (SELECT doc_id, $duckTokens AS t FROM documents),
        shng AS (SELECT doc_id, $duckShingles AS sh FROM toks),
        tr AS (SELECT DISTINCT unnest(sh) AS h FROM shng WHERE doc_id % 10 <> 0),
        ev AS (SELECT doc_id, len(sh) AS n, unnest(sh) AS h FROM shng
               WHERE doc_id % 10 = 0),
        c AS (SELECT e.doc_id, max(e.n) AS n, count(t.h) AS n_hit
              FROM ev e LEFT JOIN tr t ON e.h = t.h GROUP BY e.doc_id)
        SELECT doc_id,
               CAST(n AS INTEGER)      AS n_shingles,
               CAST(n_hit AS BIGINT)   AS n_hit,
               floor(n_hit * 10000.0 / n) / 10000.0 AS contamination
        FROM c ORDER BY doc_id""")),

    Q(
      "q96_dedup_clusters",
      "Near-dup cluster assignment: connected components over the " +
        "LSH-confirmed pair graph (min-label propagation, O(diameter) " +
        "distributed passes), one row per clustered doc with its " +
        "component-min cluster_id and a survivor flag — the transitive " +
        "step pairwise dedup misses (an A~B~C set keeps only A). Oracle " +
        "= DuckDB WITH RECURSIVE transitive closure over the same exact " +
        "pair set.",
      (s, dir) => {
        import s.implicits._
        neardupClusters(s, dir, 0.8)
          .withColumn("is_survivor", $"doc_id" === $"cluster_id")
          .orderBy($"cluster_id", $"doc_id")
      },
      Some(s"""
        WITH RECURSIVE $jaccardPairsCte,
        pairs AS (
          SELECT d1, d2 FROM jpairs
          WHERE CAST(common AS DOUBLE) / (n1 + n2 - common) >= 0.8),
        edges AS (SELECT d1 AS a, d2 AS b FROM pairs
                  UNION ALL SELECT d2, d1 FROM pairs),
        reach(a, b) AS (
          SELECT a, b FROM edges
          UNION
          SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a),
        comp AS (
          SELECT a AS doc_id, least(a, min(b)) AS cluster_id
          FROM reach GROUP BY a)
        SELECT doc_id, cluster_id, doc_id = cluster_id AS is_survivor
        FROM comp
        ORDER BY cluster_id, doc_id""")),

    Q(
      "q69_mllib_minhash",
      "Near-dup via stock MLlib (SURVEY §2B's named primitive): " +
        "HashingTF over shingles → MinHashLSH(8 tables, fixed seed) → " +
        "approxSimilarityJoin at Jaccard distance <= 0.2, exact-confirmed " +
        "with the native jaccard kernel at the same >= 0.8 threshold as " +
        "q62. Oracled against the SAME exact-pairs SQL: the confirm step " +
        "makes the result equal to the exact baseline whenever MLlib's " +
        "8-table OR-amplified LSH surfaces every qualifying pair (miss " +
        "probability (1-jac)^8 <= 0.2^8 ~ 3e-6 at jac >= 0.8; " +
        "ExtensionSpec asserts the equality explicitly).",
      (s, dir) => {
        import org.apache.spark.ml.feature.{HashingTF, MinHashLSH}
        import s.implicits._
        // MLlib wants string token arrays → reuse the hashed shingles as
        // string features (stable + cheap); one scan serves both the
        // feature build and the exact-confirm join below
        val sh = docShingles(s, dir)
        val docs = sh
          .select($"doc_id", expr("transform(sh, x -> cast(x as string))").as("toks"))
        val tf = new HashingTF().setInputCol("toks").setOutputCol("features")
          .setNumFeatures(1 << 18).setBinary(true)
        val feat = tf.transform(docs)
        val lsh = new MinHashLSH().setInputCol("features").setOutputCol("hashes")
          .setNumHashTables(8).setSeed(42L)
        val model = lsh.fit(feat)
        val joined = model.approxSimilarityJoin(feat, feat, 0.2, "jaccard_dist")
          .select(
            col("datasetA.doc_id").as("d1"),
            col("datasetB.doc_id").as("d2"),
            round(lit(1.0) - col("jaccard_dist"), 4).as("approx_jac"))
          .filter($"d1" < $"d2")
        // exact confirm with the native kernel (same contract as q63:
        // filter the UNROUNDED value, round only for display)
        joined
          .join(sh.select($"doc_id".as("d1"), $"sh".as("sh1")), Seq("d1"))
          .join(sh.select($"doc_id".as("d2"), $"sh".as("sh2")), Seq("d2"))
          .withColumn("jac_exact", graft.catalyst.VecOps.jaccard_sim_col($"sh1", $"sh2"))
          .filter($"jac_exact" >= 0.8)
          .select($"d1", $"d2", round($"jac_exact", 4).as("jac"))
          .orderBy($"d1", $"d2")
      },
      Some(jaccardOracle(0.8))),

    Q(
      "q64_simhash_pairs",
      "SimHash near-dup: 64-bit signatures (native SimHash expression), " +
        "blocked on 4×16-bit bands (pigeonhole: Hamming<=3 pairs always " +
        "share a band), confirmed with bit_count(xor)<=3. Rows-only check " +
        "(bit-level hashing isn't DuckDB-expressible) — and PROVABLY so " +
        "at the semantic level too: a round-9 probe measured hamming<=3 " +
        "against the exact jac>=0.8 pair set and it covers only 15/25 " +
        "at sf0.01 (189/256 at sf0.1), i.e. SimHash proximity and " +
        "set-Jaccard are DIFFERENT similarity criteria (SimHash weights " +
        "token multiplicity and is blind to token order within the set), " +
        "so no exact-confirm rewrite maps this query onto the q62 " +
        "oracle without deleting the operator. ExtensionSpec covers the " +
        "expression + band soundness instead.",
      (s, dir) => {
        import s.implicits._
        val sigs = Tables.t(s, dir, "documents")
          .select($"doc_id", TextHash.sim_hash($"text").as("sig"))
        val banded = sigs.select(
          $"doc_id", $"sig",
          posexplode(expr("transform(sequence(0, 3), b -> (sig >> (b * 16)) & 65535)"))
            .as(Seq("band_idx", "band_key")))
        val a = banded.select($"doc_id".as("d1"), $"sig".as("sig1"), $"band_idx", $"band_key")
        val b = banded.select($"doc_id".as("d2"), $"sig".as("sig2"), $"band_idx", $"band_key")
        a.join(b, Seq("band_idx", "band_key"))
          .filter($"d1" < $"d2")
          .select($"d1", $"d2", $"sig1", $"sig2").distinct()
          .withColumn("hamming", bit_count($"sig1".bitwiseXOR($"sig2")))
          .filter($"hamming" <= 3)
          .select($"d1", $"d2", $"hamming")
          .orderBy($"d1", $"d2")
      },
      None),

    Q(
      "q59_source_similarity",
      "Group-level near-dup: one 64-component MinHash signature PER SOURCE " +
        "via the native TypedImperativeAggregate (MinHashSetAgg — O(k) " +
        "mergeable state per group, order-independent), then pairwise " +
        "estimated Jaccard between sources = fraction of equal components. " +
        "The all-pairs crossJoin is the right plan at the fixture's dozens " +
        "of sources (quadratic in |sources| only, never in documents); at " +
        "10^4+ sources switch to Dedup.bandedSourcePairs — same sketches, " +
        "LSH-banded candidate pairs (spec-verified equal above its " +
        "threshold). Rows-only check (sketch values aren't " +
        "SQL-expressible); ExtensionSpec asserts the estimate tracks exact " +
        "source-level Jaccard and is partitioning-invariant.",
      (s, dir) => {
        import s.implicits._
        val k = 64
        val sigs = sourceSketches(s, dir, k)
        val a = sigs.select($"source".as("s1"), $"sig".as("sig1"))
        val b = sigs.select($"source".as("s2"), $"sig".as("sig2"))
        a.crossJoin(b).filter($"s1" < $"s2")
          .withColumn("est_jaccard",
            round(size(filter(zip_with($"sig1", $"sig2", (x, y) => x === y),
              b => b)).cast("double") / k, 4))
          .select($"s1", $"s2", $"est_jaccard")
          .orderBy($"s1", $"s2")
      },
      None),

    Q(
      "q115_cohort_similarity_banded",
      "LSH-banded GROUP-level similarity — the driver gate for the " +
        "bandedSourcePairs scale path (same bandedSketchPairs core, same " +
        "bandKeys arithmetic): group MinHash sketches are banded and only " +
        "groups sharing a band are estimated, replacing q59's all-pairs " +
        "crossJoin when groups number 10^4+. The fixture's raw sources " +
        "are mutually dissimilar by construction (ExtensionSpec asserts " +
        "the banded candidate stage prunes them to ZERO pairs — the " +
        "sub-quadratic guarantee), so this query builds groups that DO " +
        "overlap: sliding doc_id cohorts (20-doc windows, stride 10 — " +
        "each doc in two windows), where adjacent windows share half " +
        "their docs (union Jaccard ~1/3) and must surface, while " +
        "non-adjacent windows share none and must be pruned. Rows-only " +
        "check (MinHash sketch values are not SQL-expressible); " +
        "ExtensionSpec asserts equality with the exact all-pairs " +
        "estimates over the same cohorts. An exact-confirm oracle " +
        "rewrite was measured and REFUTED in round 9: the banded " +
        "candidate stage deterministically misses 2/49 exact-" +
        "jaccard>=0.25 cohort pairs at sf0.01 (14/487 at sf0.1) — the " +
        "irreducible LSH miss probability at j~1/3 — and driving " +
        "recall to 1 needs 1-row bands whose candidate set approaches " +
        "all-pairs, defeating the operator. The estimate-vs-exact " +
        "tracking spec is the honest gate.",
      (s, dir) => {
        import s.implicits._
        // 2-row bands (32 of them) for ~0.97 per-band-stage recall at the
        // adjacent-window j ~ 1/3
        bandedSketchPairs(cohortSketches(s, dir, 64), "win", 64,
          bands = 32, minEst = 0.2)
          .select($"g1".as("w1"), $"g2".as("w2"), $"est_jaccard")
          .orderBy($"w1", $"w2")
      },
      None),

    Q(
      "q65_embedding_neardup",
      "Embedding-cosine near-dup pairs (cos >= 0.45) — exact pairwise via " +
        "a self cross-join on the (small) embedding table; documented " +
        "scale path is the LSH bucketing of q67. Dot products in double " +
        "via codegen'd zip_with+aggregate.",
      (s, dir) => {
        import graft.catalyst.VecOps.vec_dot
        import s.implicits._
        val e = Tables.t(s, dir, "embeddings")
          .select($"vec_id", $"embedding",
            sqrt(vec_dot($"embedding", $"embedding")).as("norm"))
        val a = e.select($"vec_id".as("v1"), $"embedding".as("e1"), $"norm".as("nm1"))
        val b = e.select($"vec_id".as("v2"), $"embedding".as("e2"), $"norm".as("nm2"))
        a.crossJoin(b).filter($"v1" < $"v2")
          .withColumn("dot", vec_dot($"e1", $"e2"))
          .withColumn("cos", $"dot" / ($"nm1" * $"nm2"))
          .filter($"cos" >= 0.45)
          .select($"v1", $"v2", round($"cos", 4).as("cos"))
          .orderBy($"v1", $"v2")
      },
      Some("""
        SELECT a.vec_id AS v1, b.vec_id AS v2,
               round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                            CAST(b.embedding AS DOUBLE[])), 4) AS cos
        FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
        WHERE list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                     CAST(b.embedding AS DOUBLE[])) >= 0.45
        ORDER BY v1, v2""")),

    Q(
      "q140_duplicate_spans",
      "Cross-document DUPLICATE SPAN coverage — the distributed, " +
        "token-level analogue of ExactSubstr dedup (the suffix-array " +
        "pass of 'Deduplicating Training Data Makes Language Models " +
        "Better'): every 5-token window that occurs in >= 2 DISTINCT " +
        "documents is a duplicate span; every document with nonzero " +
        "coverage reports how many of its token positions at least one " +
        "such span covers — the actionable set a span-removal / " +
        "doc-drop policy acts on. " +
        "Plan: per-doc gram generate is map-side; ONE shuffle groups " +
        "grams (map-side combine collapses repeats before the wire) to " +
        "find cross-doc grams; the coverage join is equi on the gram; " +
        "the position-distinct + count shuffles only (doc_id, int) " +
        "pairs. No suffix array, no sort of the corpus: cost is linear " +
        "in total grams plus the duplicate grams' occurrence lists. At " +
        "100 TB, shuffle xxhash64(gram) instead of the gram text (8-byte " +
        "keys; kept as strings here so the DuckDB oracle is bit-exact).",
      (s, dir) => {
        import s.implicits._
        val K = 5
        val docs = Tables.t(s, dir, "documents")
          .select($"doc_id", split(trim($"text"), " ").as("w"))
        val grams = docs
          .filter(size($"w") >= K)
          .select($"doc_id", posexplode(expr(
            s"transform(sequence(0, size(w) - $K), i -> array_join(slice(w, i + 1, $K), ' '))"))
            .as(Seq("pos", "gram")))
        val dup = grams.groupBy($"gram")
          .agg(countDistinct($"doc_id").as("nd"))
          .filter($"nd" >= 2)
          .select($"gram")
        val covered = grams.join(dup, Seq("gram"))
          .select($"doc_id", explode(sequence($"pos", $"pos" + (K - 1))).as("p"))
          .distinct()
          .groupBy($"doc_id").agg(count(lit(1)).as("dup_tokens"))
        docs.select($"doc_id", size($"w").as("n_tokens"))
          .join(covered, Seq("doc_id"))
          .select($"doc_id", $"n_tokens", $"dup_tokens")
          .orderBy($"doc_id")
      },
      Some("""
        WITH w AS (SELECT doc_id, string_split(trim(text), ' ') AS ws FROM documents),
        g0 AS (SELECT doc_id,
                      unnest([{'pos': i - 1, 'gram': array_to_string(ws[i:i+4], ' ')}
                              for i in range(1, greatest(len(ws) - 3, 1))]) AS u
               FROM w),
        g AS (SELECT doc_id, u.pos AS pos, u.gram AS gram FROM g0),
        d AS (SELECT gram FROM g GROUP BY gram HAVING count(DISTINCT doc_id) >= 2),
        cov0 AS (SELECT doc_id, unnest(range(pos, pos + 5)) AS p
                 FROM g JOIN d USING (gram)),
        cov AS (SELECT DISTINCT doc_id, p FROM cov0),
        c AS (SELECT doc_id, count(*) AS dup_tokens FROM cov GROUP BY doc_id)
        SELECT w.doc_id, CAST(len(ws) AS INTEGER) AS n_tokens,
               CAST(c.dup_tokens AS BIGINT) AS dup_tokens
        FROM w JOIN c USING (doc_id)
        ORDER BY doc_id""")),

    Q(
      "q145_containment_pairs",
      "Directional shingle CONTAINMENT (C(d1->d2) = |∩|/|sh(d1)| >= " +
        "0.9): the asymmetric dedup signal that catches PARTIAL copies " +
        "— an excerpt or quote embedded in a larger document scores " +
        "near-1 containment while its symmetric Jaccard stays below any " +
        "useful threshold (jac <= |A|/|B|). Ordered pairs: d1 is the " +
        "contained doc, d2 the container. Same inverted-index + " +
        "broadcast-size-table shape as q62; exact baseline whose scale " +
        "path is q162 (one-sided prefix filter, same oracle).",
      (s, dir) => containmentPairs(s, dir, 0.9),
      Some(containmentOracle(0.9))),

    Q(
      "q162_containment_prefix",
      "Containment pairs via the ONE-SIDED prefix filter — q145's scale " +
        "path, as q101 is to q62: only the contained side's sorted-" +
        "shingle prefix (~(1-t) of its shingles) is indexed, the " +
        "container side stays full (containment bounds nothing on d2's " +
        "side — exactly the size skew that defeats symmetric Jaccard's " +
        "two-sided filter), candidates exact-confirm against the full " +
        "shingle sets. Bit-identical to q145's naive index (same " +
        "oracle); ShuffleGateSpec pins the shuffle-byte advantage on a " +
        "skewed excerpt-in-container corpus.",
      (s, dir) => containmentPrefixPairs(s, dir, 0.9),
      Some(containmentOracle(0.9))),

    Q(
      "q170_hard_negative_band",
      "HARD-NEGATIVE BAND — exact pairs with LOW-BUT-NONZERO similarity " +
        "(0.02 <= jac < 0.6): q167's ring-offset negatives are easy; " +
        "contrastive training improves on pairs that share real content " +
        "without being duplicates, and this band is that population's " +
        "exact ground truth (the calibration set for any LSH-mined " +
        "approximation — at mining thresholds this low the prefix " +
        "filter honestly degenerates to the full index, prefix length " +
        "~0.98n, so the naive exact index IS the right exact plan and " +
        "LSH banding tuned to the band, q63/q115's machinery, is the " +
        "production tier). Upper bound applied on the rounded " +
        "similarity, same as the oracle.",
      (s, dir) => {
        import s.implicits._
        jaccardPairs(s, dir, 0.02)
          .filter($"jac" < 0.6)
          .orderBy($"d1", $"d2")
      },
      Some(s"""
        WITH $jaccardPairsCte
        SELECT d1, d2,
               round(CAST(common AS DOUBLE) / (n1 + n2 - common), 4) AS jac
        FROM jpairs
        WHERE CAST(common AS DOUBLE) / (n1 + n2 - common) >= 0.02
          AND round(CAST(common AS DOUBLE) / (n1 + n2 - common), 4) < 0.6
        ORDER BY d1, d2""")),

    Q(
      "q176_canonical_keep_best",
      "KEEP-BEST CANONICALIZATION — the selection step after q96's " +
        "clustering: within each near-dup cluster keep the member with " +
        "the most DISTINCT tokens (the least-truncated / least-boilerplate " +
        "copy), tie-broken by smallest doc_id. q60/q90 keep-first is the " +
        "right call for exact copies; for NEAR dups the members differ, " +
        "and production pipelines keep the best one, not the first one. " +
        "Ranking is integer-exact (distinct-token count, never a float " +
        "quality score) so survivor choice is bit-stable across engines " +
        "and partitionings. The window partitions by cluster_id — " +
        "clusters are small by construction (near-dup diameter), so no " +
        "single-partition hazard at 100 TB.",
      (s, dir) => {
        import s.implicits._
        val clusters = neardupClusters(s, dir, 0.8)
        val nd = Tables.t(s, dir, "documents")
          .select($"doc_id",
            expr("size(array_distinct(filter(split(trim(text), ' '), x -> x != '')))")
              .as("n_distinct"))
        val w = Window.partitionBy($"cluster_id")
          .orderBy($"n_distinct".desc, $"doc_id".asc)
        clusters.join(nd, Seq("doc_id"))
          .withColumn("kept", row_number().over(w) === 1)
          .select($"cluster_id", $"doc_id", $"n_distinct", $"kept")
          .orderBy($"cluster_id", $"doc_id")
      },
      Some(s"""
        WITH RECURSIVE $jaccardPairsCte,
        pairs AS (
          SELECT d1, d2 FROM jpairs
          WHERE CAST(common AS DOUBLE) / (n1 + n2 - common) >= 0.8),
        edges AS (SELECT d1 AS a, d2 AS b FROM pairs
                  UNION ALL SELECT d2, d1 FROM pairs),
        reach(a, b) AS (
          SELECT a, b FROM edges
          UNION
          SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a),
        comp AS (
          SELECT a AS doc_id, least(a, min(b)) AS cluster_id
          FROM reach GROUP BY a),
        nd AS (SELECT doc_id,
                      len(list_distinct($duckTokens)) AS n_distinct
               FROM documents),
        rk AS (SELECT c.cluster_id, c.doc_id, nd.n_distinct,
                      row_number() OVER (
                        PARTITION BY c.cluster_id
                        ORDER BY nd.n_distinct DESC, c.doc_id ASC) AS rn
               FROM comp c JOIN nd USING (doc_id))
        SELECT cluster_id, doc_id,
               CAST(n_distinct AS INTEGER) AS n_distinct, rn = 1 AS kept
        FROM rk ORDER BY cluster_id, doc_id""")),

    Q(
      "q177_decontaminate",
      "DECONTAMINATION REMOVAL — the enforcement step after q120's " +
        "audit: DROP every training doc sharing ANY shingle with the " +
        "eval split (doc_id % 10 == 0), the GPT-3/Pile-style n-gram " +
        "decontamination rule, reported as a per-language kept/removed " +
        "token ledger. Same asymmetric plan shape as q120 for the real " +
        "regime (tiny eval vs 100 TB corpus): eval shingles are " +
        "DISTINCT-ed then broadcast; the corpus side is scanned once and " +
        "only matched doc_ids (bounded by eval hits) reach the distinct " +
        "+ anti-join. Counts and token sums are integer-exact.",
      (s, dir) => {
        import s.implicits._
        val contaminated = contaminatedTrainDocIds(s, dir)
        val train = Tables.t(s, dir, "documents")
          .filter($"doc_id" % 10 =!= 0)
          .select($"doc_id", $"lang",
            expr("size(filter(split(trim(text), ' '), x -> x != ''))")
              .cast("long").as("ntok"))
        train
          .join(contaminated.withColumn("c", lit(1)), Seq("doc_id"), "left")
          .groupBy($"lang")
          .agg(
            count(when($"c".isNull, lit(1))).as("n_kept"),
            count($"c").as("n_removed"),
            coalesce(sum(when($"c".isNull, $"ntok")), lit(0L)).as("tokens_kept"))
          .orderBy($"lang")
      },
      Some(s"""
        WITH toks AS (SELECT doc_id, $duckTokens AS t FROM documents),
        shng AS (SELECT doc_id, $duckShingles AS sh FROM toks),
        ev AS (SELECT DISTINCT unnest(sh) AS h FROM shng WHERE doc_id % 10 = 0),
        cont AS (SELECT DISTINCT u.doc_id
                 FROM (SELECT doc_id, unnest(sh) AS h FROM shng
                       WHERE doc_id % 10 <> 0) u
                 JOIN ev ON u.h = ev.h),
        tr AS (SELECT k.doc_id, d.lang, len(k.t) AS ntok
               FROM toks k JOIN documents d USING (doc_id)
               WHERE k.doc_id % 10 <> 0)
        SELECT lang,
               CAST(count(CASE WHEN c.doc_id IS NULL THEN 1 END) AS BIGINT)
                 AS n_kept,
               CAST(count(c.doc_id) AS BIGINT) AS n_removed,
               CAST(coalesce(sum(CASE WHEN c.doc_id IS NULL THEN ntok END), 0)
                 AS BIGINT) AS tokens_kept
        FROM tr LEFT JOIN cont c USING (doc_id)
        GROUP BY lang ORDER BY lang""")),

    Q(
      "q178_line_dedup",
      "LINE-LEVEL GLOBAL DEDUP with document reassembly — the C4/CCNet " +
        "sub-document pass that document-level dedup (q60) cannot do: " +
        "boilerplate lines (nav bars, cookie banners, license headers) " +
        "repeat across MILLIONS of otherwise-unique pages. 'Lines' here " +
        "are 10-token chunks (the fixture text has no newlines); each " +
        "distinct line keeps its FIRST occurrence corpus-wide (ordered " +
        "by doc_id, then position), every later copy is dropped, and " +
        "surviving lines re-concatenate in position order into the " +
        "cleaned document. Per doc: total lines, kept lines, new text. " +
        "Scale: the keep-first window partitions by LINE CONTENT — " +
        "groups are tiny (copies of one line) so no skewed partition, " +
        "and the shuffle carries each line once (same bytes exact dedup " +
        "ships); reassembly is one doc_id shuffle. At 100 TB the line " +
        "text in the window key would be replaced by (xxhash64(line), " +
        "line-verify-on-collision) — same plan shape.",
      (s, dir) => {
        import s.implicits._
        val t = filter(split(trim($"text"), " "), x => x =!= lit(""))
        val lines = Tables.t(s, dir, "documents")
          .select($"doc_id", t.as("t"))
          .filter(size($"t") > 0)
          .select($"doc_id", posexplode(expr(
            "transform(sequence(0, int((size(t) - 1) / 10)), " +
              "i -> array_join(slice(t, i * 10 + 1, 10), ' '))")))
          .toDF("doc_id", "line_no", "line")
        val w = Window.partitionBy($"line").orderBy($"doc_id", $"line_no")
        lines
          .withColumn("rn", row_number().over(w))
          .groupBy($"doc_id")
          .agg(
            count(lit(1)).as("n_lines"),
            sum(when($"rn" === 1, 1L).otherwise(0L)).as("n_kept"),
            array_join(expr(
              "transform(array_sort(collect_list(" +
                "CASE WHEN rn = 1 THEN struct(line_no, line) END)), " +
                "p -> p.line)"), " ").as("new_text"))
          .orderBy($"doc_id")
      },
      Some("""
        WITH toks AS (
          SELECT doc_id,
                 list_filter(string_split(trim(text), ' '), x -> x <> '') AS t
          FROM documents),
        lines AS (
          SELECT doc_id,
                 unnest([{'i': i,
                          'line': array_to_string(
                            t[(i * 10 + 1):least((i + 1) * 10, len(t))], ' ')}
                         for i in range(0, (len(t) - 1) // 10 + 1)]) AS u
          FROM toks WHERE len(t) > 0),
        l AS (SELECT doc_id, u.i AS line_no, u.line AS line FROM lines),
        r AS (SELECT *, row_number() OVER (
                PARTITION BY line ORDER BY doc_id, line_no) AS rn
              FROM l)
        SELECT doc_id,
               CAST(count(*) AS BIGINT) AS n_lines,
               CAST(count(*) FILTER (WHERE rn = 1) AS BIGINT) AS n_kept,
               coalesce(string_agg(line, ' ' ORDER BY line_no)
                          FILTER (WHERE rn = 1), '') AS new_text
        FROM r GROUP BY doc_id ORDER BY doc_id""")),

    Q(
      "q185_dup_flow_matrix",
      "CROSS-SOURCE DUPLICATE FLOW MATRIX — the provenance question " +
        "behind dedup: when a duplicate is dropped, WHICH source was it " +
        "copied from? Duplicate groups key on a content fingerprint — " +
        "here md5 of the first 80 chars (the head fingerprint that " +
        "catches shared-opening copies; the fixtures have no full-text " +
        "dups, and the key is pluggable: md5(text) for exact, the q96 " +
        "cluster id for near). The canonical copy is the lowest doc_id " +
        "(q60's keep-first rule), and every later copy contributes one " +
        "(canonical_source -> dup_source) edge — the matrix that " +
        "reveals mirror sites and scraper-of-scraper chains when " +
        "choosing which sources to keep crawling. Scale: one shuffle " +
        "on the content hash (16-byte keys, never bodies after the " +
        "projection), groups are duplicate multiplicity (tiny); the " +
        "flow aggregate is a source-pair domain with map-side combine.",
      (s, dir) => {
        import s.implicits._
        val d = Tables.t(s, dir, "documents")
          .select($"doc_id", $"source", md5(substring($"text", 1, 80)).as("h"))
        val w = Window.partitionBy($"h").orderBy($"doc_id")
        val r = d.withColumn("rn", row_number().over(w))
        val canon = r.filter($"rn" === 1)
          .select($"h", $"source".as("canon_source"))
        r.filter($"rn" > 1)
          .join(canon, Seq("h"))
          .groupBy($"canon_source", $"source".as("dup_source"))
          .agg(count(lit(1)).as("n_dup_docs"))
          .orderBy($"canon_source", $"dup_source")
      },
      Some("""
        WITH d AS (SELECT doc_id, source, md5(substr(text, 1, 80)) AS h
                   FROM documents),
        r AS (SELECT *, row_number() OVER (
                PARTITION BY h ORDER BY doc_id) AS rn
              FROM d),
        c AS (SELECT h, source AS canon_source FROM r WHERE rn = 1)
        SELECT c.canon_source, r.source AS dup_source,
               CAST(count(*) AS BIGINT) AS n_dup_docs
        FROM r JOIN c USING (h) WHERE r.rn > 1
        GROUP BY 1, 2 ORDER BY 1, 2""")),

    Q(
      "q266_record_linkage",
      "BLOCKED RECORD LINKAGE with Fellegi-Sunter-style additive " +
        "agreement weights — entity resolution ACROSS representations, " +
        "where the dedup family (q60-q63) matches within one: a 'dirty' " +
        "re-keyed customer feed (name case-folded, phone truncated one " +
        "digit, balance rounded to whole dollars — the deterministic " +
        "perturbations a second source system realistically applies) is " +
        "linked back to the master by comparing WITHIN " +
        "(nation, mktsegment) blocks only — the classic blocking move " +
        "that turns an O(n^2) comparison space into " +
        "sum-of-block-sizes^2 (~n^2/125 here; production adds a second " +
        "complementary blocking pass, q63's LSH bands being exactly " +
        "that for text). Field agreements: balance within 51 cents " +
        "(+40, survives dollar rounding), account-number tail — the " +
        "name's last 3 digits, case-insensitive (+35), dollar " +
        "magnitude (+10) and leading dollar digit (+15, both can " +
        "genuinely flip when rounding crosses a power of ten — true " +
        "pairs land at 75-100, not a single spike, which is what makes " +
        "the histogram a threshold-picking curve rather than a " +
        "membership test). Truth per score is known because the dirty " +
        "feed derives from the master (m_id = d_id). Plan: block-keyed " +
        "equi-join (one shuffle on the block key), integer scoring " +
        "inline, aggregate to the bounded score domain.",
      (s, dir) => {
        import s.implicits._
        val cust = Tables.t(s, dir, "customer")
        val master = cust.select(
          $"c_custkey".as("m_id"), $"c_nationkey".as("nk"),
          $"c_mktsegment".as("seg"),
          expr("cast(round(c_acctbal * 100) as bigint)").as("m_cents"),
          expr("substring(c_name, -3, 3)").as("m_tail3"),
          expr("cast(floor(abs(c_acctbal)) as bigint)").as("m_dollars"))
        val dirty = cust.select(
          $"c_custkey".as("d_id"), $"c_nationkey".as("nk"),
          $"c_mktsegment".as("seg"),
          // the feed's perturbations: case fold, balance rounded to
          // whole dollars
          expr("cast(round(c_acctbal) as bigint) * 100").as("d_cents"),
          expr("substring(lower(c_name), -3, 3)").as("d_tail3"),
          expr("abs(cast(round(c_acctbal) as bigint))").as("d_dollars"))
        master.join(dirty, Seq("nk", "seg"))
          .select($"m_id", $"d_id",
            (when(abs($"m_cents" - $"d_cents") <= 51, 40).otherwise(0) +
              when(lower($"m_tail3") === $"d_tail3", 35).otherwise(0) +
              when(length($"m_dollars".cast("string")) ===
                length($"d_dollars".cast("string")), 10).otherwise(0) +
              when(substring($"m_dollars".cast("string"), 1, 1) ===
                substring($"d_dollars".cast("string"), 1, 1), 15)
                .otherwise(0))
              .cast("long").as("score"))
          .groupBy($"score")
          .agg(count(lit(1)).as("n_pairs"),
            sum(($"m_id" === $"d_id").cast("long")).as("n_true"))
          .orderBy($"score")
      },
      Some("""
        WITH master AS (
          SELECT c_custkey AS m_id, c_nationkey AS nk, c_mktsegment AS seg,
                 CAST(round(c_acctbal * 100) AS BIGINT) AS m_cents,
                 substr(c_name, -3, 3) AS m_tail3,
                 CAST(floor(abs(c_acctbal)) AS BIGINT) AS m_dollars
          FROM customer),
        dirty AS (
          SELECT c_custkey AS d_id, c_nationkey AS nk, c_mktsegment AS seg,
                 CAST(round(c_acctbal) AS BIGINT) * 100 AS d_cents,
                 substr(lower(c_name), -3, 3) AS d_tail3,
                 abs(CAST(round(c_acctbal) AS BIGINT)) AS d_dollars
          FROM customer),
        pairs AS (
          SELECT m.m_id, d.d_id,
                 (CASE WHEN abs(m.m_cents - d.d_cents) <= 51
                       THEN 40 ELSE 0 END
                  + CASE WHEN lower(m.m_tail3) = d.d_tail3
                         THEN 35 ELSE 0 END
                  + CASE WHEN length(CAST(m.m_dollars AS VARCHAR))
                             = length(CAST(d.d_dollars AS VARCHAR))
                         THEN 10 ELSE 0 END
                  + CASE WHEN substr(CAST(m.m_dollars AS VARCHAR), 1, 1)
                             = substr(CAST(d.d_dollars AS VARCHAR), 1, 1)
                         THEN 15 ELSE 0 END) AS score
          FROM master m JOIN dirty d ON m.nk = d.nk AND m.seg = d.seg)
        SELECT CAST(score AS BIGINT) AS score,
               CAST(count(*) AS BIGINT) AS n_pairs,
               CAST(sum(CASE WHEN m_id = d_id THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_true
        FROM pairs GROUP BY score ORDER BY score""")),

    Q(
      "q286_max_coverage_selection",
      "GREEDY MAX-COVERAGE DOCUMENT SELECTION (the (1-1/e)-approximate " +
        "budgeted set cover — Nemhauser et al. 1978, public): pick 5 " +
        "documents maximizing cumulative DISTINCT shingle coverage — " +
        "the 'most information for the budget' curation rule, the " +
        "coverage-side complement of q280's MMR (which minimizes " +
        "redundancy against a query; this maximizes novelty against " +
        "the already-picked set). Each of the 5 rounds is one " +
        "DISTRIBUTED anti-join of the exploded (doc, shingle) index " +
        "against the covered-shingle set (rebuilt from the <=5 picked " +
        "docs — never an accumulating state table) + a count-desc " +
        "argmax taken as a bounded limit(1) head (q141's BPE-loop " +
        "shape). Shingles are the SHARED hashed-3-gram kernel " +
        "(injective at corpus scale; counts are representation-" +
        "independent, so the string-shingle oracle agrees). At 100 TB " +
        "the per-round cost is one shuffle of 8-byte hashes keyed by " +
        "shingle — k rounds of the q120-class plan, with k fixed.",
      (s, dir) => {
        import s.implicits._
        val ex = docShingles(s, dir)
          .select($"doc_id", explode($"sh").as("g"))
          .localCheckpoint(true)
        var picked = Vector.empty[(Long, Long, Long, Long)]
        // (step, doc_id, new_shingles, cum_shingles)
        for (step <- 1L to 5L if picked.size == step - 1) {
          val ids = picked.map(_._2)
          val covered = ex.filter($"doc_id".isin(ids: _*))
            .select($"g").distinct()
          val cand = ex.filter(!$"doc_id".isin(ids: _*))
            .join(covered, Seq("g"), "left_anti")
            .groupBy($"doc_id").agg(count(lit(1)).as("new_g"))
            .orderBy($"new_g".desc, $"doc_id").limit(1)
            .head()
          val cum = picked.lastOption.map(_._4).getOrElse(0L) +
            cand.getLong(1)
          picked :+= ((step, cand.getLong(0), cand.getLong(1), cum))
        }
        picked.toDF("step", "doc_id", "new_shingles", "cum_shingles")
          .orderBy($"step")
      },
      Some(s"""
        WITH toks AS (SELECT doc_id, $duckTokens AS t FROM documents),
        shng AS (SELECT doc_id, $duckShingles AS sh FROM toks),
        ex AS (SELECT doc_id, unnest(sh) AS g FROM shng),
        s1 AS (SELECT doc_id, count(*) AS new_g FROM ex
               GROUP BY 1 ORDER BY new_g DESC, doc_id LIMIT 1),
        cov1 AS (SELECT DISTINCT g FROM ex
                 WHERE doc_id IN (SELECT doc_id FROM s1)),
        s2 AS (SELECT doc_id, count(*) AS new_g FROM ex
               WHERE doc_id NOT IN (SELECT doc_id FROM s1)
                 AND g NOT IN (SELECT g FROM cov1)
               GROUP BY 1 ORDER BY new_g DESC, doc_id LIMIT 1),
        p2 AS (SELECT doc_id FROM s1 UNION ALL SELECT doc_id FROM s2),
        cov2 AS (SELECT DISTINCT g FROM ex
                 WHERE doc_id IN (SELECT doc_id FROM p2)),
        s3 AS (SELECT doc_id, count(*) AS new_g FROM ex
               WHERE doc_id NOT IN (SELECT doc_id FROM p2)
                 AND g NOT IN (SELECT g FROM cov2)
               GROUP BY 1 ORDER BY new_g DESC, doc_id LIMIT 1),
        p3 AS (SELECT doc_id FROM p2 UNION ALL SELECT doc_id FROM s3),
        cov3 AS (SELECT DISTINCT g FROM ex
                 WHERE doc_id IN (SELECT doc_id FROM p3)),
        s4 AS (SELECT doc_id, count(*) AS new_g FROM ex
               WHERE doc_id NOT IN (SELECT doc_id FROM p3)
                 AND g NOT IN (SELECT g FROM cov3)
               GROUP BY 1 ORDER BY new_g DESC, doc_id LIMIT 1),
        p4 AS (SELECT doc_id FROM p3 UNION ALL SELECT doc_id FROM s4),
        cov4 AS (SELECT DISTINCT g FROM ex
                 WHERE doc_id IN (SELECT doc_id FROM p4)),
        s5 AS (SELECT doc_id, count(*) AS new_g FROM ex
               WHERE doc_id NOT IN (SELECT doc_id FROM p4)
                 AND g NOT IN (SELECT g FROM cov4)
               GROUP BY 1 ORDER BY new_g DESC, doc_id LIMIT 1),
        steps AS (
          SELECT 1 AS step, doc_id, new_g FROM s1
          UNION ALL SELECT 2, doc_id, new_g FROM s2
          UNION ALL SELECT 3, doc_id, new_g FROM s3
          UNION ALL SELECT 4, doc_id, new_g FROM s4
          UNION ALL SELECT 5, doc_id, new_g FROM s5)
        SELECT CAST(step AS BIGINT) AS step, doc_id,
               CAST(new_g AS BIGINT) AS new_shingles,
               CAST(sum(new_g) OVER (ORDER BY step
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                 AS BIGINT) AS cum_shingles
        FROM steps ORDER BY step""")),

    Q(
      "q307_dedup_tier_audit",
      "DEDUP-TIER AUDIT — the canonicalization ladder measured in one " +
        "table: WHERE in the raw-hash -> normalized-hash (lowercase, " +
        "strip ASCII punctuation, collapse whitespace) -> bag-of-words " +
        "(sorted token multiset) -> shingle-Jaccard>=0.8 ladder does " +
        "this corpus's redundancy first become visible? Every dedup " +
        "pipeline implicitly picks a tier; this audit is the evidence " +
        "for the choice — here the three hash tiers find ZERO pairs " +
        "while the near-dup tier finds the planted families (most " +
        "CROSS-LANGUAGE, which per-language sharded dedup would " +
        "miss — the cross_lang_pairs column is the warning that " +
        "dedup must shuffle on content keys, never language " +
        "partitions). Hash tiers cost one row-scale aggregate each " +
        "over (hash, lang) with map-side partials (equal raw implies " +
        "equal normalized implies equal bag, so the tiers nest); the " +
        "near-dup tier reuses jaccardPairs — the shared q62 inverted-" +
        "index kernel — with two broadcast lang joins. Oracle replays " +
        "all four tiers, the last via the shared jaccardPairsCte.",
      (s, dir) => {
        import s.implicits._
        val docs = Tables.t(s, dir, "documents")
        val toks = filter(split(trim($"text"), " "), x => x =!= lit(""))
        val norm = trim(regexp_replace(
          regexp_replace(lower($"text"), "[.,;:!?'\"()-]", ""),
          "\\s+", " "))
        val keyed = docs.select($"doc_id", $"lang",
          md5($"text").as("raw"),
          md5(norm).as("normalized"),
          md5(array_join(array_sort(toks), "\u001f")).as("bag_of_words"))
        // ONE scan feeds all three hash tiers: each doc explodes to its
        // three (tier, hash) rows — a 3x fan-out of 40-byte rows with
        // map-side combine right behind it, not three document scans
        val hs = keyed.select($"lang", explode(array(
            struct(lit(1).as("tier_id"), lit("raw").as("tier"),
              $"raw".as("h")),
            struct(lit(2).as("tier_id"), lit("normalized").as("tier"),
              $"normalized".as("h")),
            struct(lit(3).as("tier_id"), lit("bag_of_words").as("tier"),
              $"bag_of_words".as("h")))).as("x"))
          .select($"x.tier_id".as("tier_id"), $"x.tier".as("tier"),
            $"x.h".as("h"), $"lang")
        val tiers123 = hs
          .groupBy($"tier_id", $"tier", $"h", $"lang")
          .agg(count(lit(1)).as("nl"))
          .groupBy($"tier_id", $"tier", $"h")
          .agg(sum($"nl").as("n"), expr("sum(nl * (nl - 1) DIV 2)").as("wl"))
          .groupBy($"tier_id", $"tier")
          .agg(
            coalesce(expr("cast(sum(n * (n - 1) DIV 2) as bigint)"),
              lit(0L)).as("dup_pairs"),
            coalesce(sum(when($"n" > 1, $"n").otherwise(0L)), lit(0L))
              .cast("long").as("docs_involved"),
            coalesce(expr("cast(sum(n * (n - 1) DIV 2 - wl) as bigint)"),
              lit(0L)).as("cross_lang_pairs"))
          .select($"tier_id", $"tier", $"dup_pairs", $"docs_involved",
            $"cross_lang_pairs")
        val langs = docs.select($"doc_id", $"lang")
        // the pair set feeds two aggregates below — snap the ~25-row
        // frame so the inverted-index self-join runs ONCE, not twice.
        // The PREFIX-FILTERED exact kernel (q101), not the naive q62
        // baseline: same exact pair set, but candidates come from the
        // pigeonhole prefix slice — measured on the adversarially dense
        // 51k corpus of the since-deleted scale probe (2026-08): 37 s /
        // 1 GiB shuffle naive vs 12.7 s
        // prefix-filtered, and only the latter's candidate count
        // survives 100 TB
        val jl = jaccardPrefixPairs(s, dir, 0.8)
          .join(broadcast(langs.select($"doc_id".as("d1"), $"lang".as("l1"))),
            Seq("d1"))
          .join(broadcast(langs.select($"doc_id".as("d2"), $"lang".as("l2"))),
            Seq("d2"))
          .localCheckpoint(true)
        val t4 = jl.agg(
            count(lit(1)).cast("long").as("dup_pairs"),
            coalesce(sum(when($"l1" =!= $"l2", 1L).otherwise(0L)), lit(0L))
              .cast("long").as("cross_lang_pairs"))
          .crossJoin(broadcast(
            jl.select(explode(array($"d1", $"d2")).as("d"))
              .agg(countDistinct($"d").cast("long").as("docs_involved"))))
          .select(lit(4).as("tier_id"), lit("neardup_jaccard08").as("tier"),
            $"dup_pairs", $"docs_involved", $"cross_lang_pairs")
        tiers123.unionAll(t4).orderBy($"tier_id")
      },
      Some(s"""
        WITH $jaccardPairsCte,
        keyed AS (
          SELECT d.doc_id, d.lang, md5(d.text) AS raw,
                 md5(trim(regexp_replace(regexp_replace(lower(d.text),
                   '[.,;:!?''"()-]', '', 'g'), '\\s+', ' ', 'g'))) AS normalized,
                 md5(array_to_string(list_sort(tk.t), chr(31))) AS bag_of_words
          FROM documents d JOIN toks tk ON d.doc_id = tk.doc_id),
        hs AS (
          SELECT 1 AS tier_id, 'raw' AS tier, raw AS h, lang FROM keyed
          UNION ALL
          SELECT 2, 'normalized', normalized, lang FROM keyed
          UNION ALL
          SELECT 3, 'bag_of_words', bag_of_words, lang FROM keyed),
        g AS (SELECT tier_id, tier, h, lang, count(*) AS nl
              FROM hs GROUP BY 1, 2, 3, 4),
        gh AS (SELECT tier_id, tier, h, sum(nl) AS n,
                      sum(nl * (nl - 1) // 2) AS wl
               FROM g GROUP BY 1, 2, 3),
        tiers123 AS (
          SELECT CAST(tier_id AS INTEGER) AS tier_id, tier,
                 CAST(coalesce(sum(n * (n - 1) // 2), 0) AS BIGINT)
                   AS dup_pairs,
                 CAST(coalesce(sum(CASE WHEN n > 1 THEN n ELSE 0 END), 0)
                   AS BIGINT) AS docs_involved,
                 CAST(coalesce(sum(n * (n - 1) // 2 - wl), 0) AS BIGINT)
                   AS cross_lang_pairs
          FROM gh GROUP BY 1, 2),
        pairs AS (SELECT d1, d2 FROM jpairs
                  WHERE CAST(common AS DOUBLE) / (n1 + n2 - common) >= 0.8),
        pl AS (SELECT p.d1, p.d2, a.lang AS l1, b.lang AS l2
               FROM pairs p
               JOIN documents a ON p.d1 = a.doc_id
               JOIN documents b ON p.d2 = b.doc_id),
        t4 AS (
          SELECT CAST(4 AS INTEGER) AS tier_id,
                 'neardup_jaccard08' AS tier,
                 CAST(count(*) AS BIGINT) AS dup_pairs,
                 CAST((SELECT count(DISTINCT dd) FROM
                        (SELECT d1 AS dd FROM pairs
                         UNION SELECT d2 FROM pairs)) AS BIGINT)
                   AS docs_involved,
                 CAST(coalesce(sum(CASE WHEN l1 <> l2 THEN 1 ELSE 0 END), 0)
                   AS BIGINT) AS cross_lang_pairs
          FROM pl)
        SELECT * FROM tiers123 UNION ALL SELECT * FROM t4
        ORDER BY tier_id"""))
  ,

    Q(
      "q312_lsh_s_curve",
      "LSH PARAMETER PLANNER — the S-curve 1-(1-s^r)^b evaluated for " +
        "BOTH banding configs this repo actually runs (q63's default " +
        "4 rows x 16 bands and q115's 2 x 32) over the Jaccard " +
        "domain s = 0.1..0.9: the collision probability a pair of " +
        "docs at similarity s has of sharing at least one band " +
        "bucket — i.e., of becoming a candidate. This table is the " +
        "evidence behind the config choice (2x32 is near-total " +
        "recall at s=0.5 where 4x16 has already collapsed, at 2x the " +
        "bucket-join fan-in) and the planner a new threshold starts " +
        "from. Numerically it is the repo's no-libm discipline " +
        "applied to pow: every power is an EXPLICIT chain of IEEE " +
        "multiplications in the same order on both engines (s^4 = " +
        "(s^2)^2, (1-s^r)^b by repeated squaring), so the doubles " +
        "are bit-identical and the ppm rounding cannot flake — no " +
        "engine pow()/exp()/ln() ever runs. Pure 18-row domain " +
        "arithmetic: zero data scanned, constant at any scale.",
      (s, dir) => {
        import s.implicits._
        val dom = s.range(1, 10)
          .select($"id".cast("int").as("s_tenths"),
            ($"id".cast("double") / 10.0).as("sj"))
        val ss = dom.withColumn("s2", $"sj" * $"sj")
        // 2 rows x 32 bands: (1 - s^2)^32 via five squarings
        val c32 = ss
          .withColumn("t", lit(1.0) - $"s2")
          .withColumn("t2", $"t" * $"t").withColumn("t4", $"t2" * $"t2")
          .withColumn("t8", $"t4" * $"t4")
          .withColumn("t16", $"t8" * $"t8")
          .withColumn("t32", $"t16" * $"t16")
          .select(lit("r2_b32").as("config"), $"s_tenths",
            round((lit(1.0) - $"t32") * 1e6).cast("long")
              .as("collide_ppm"))
        // 4 rows x 16 bands: (1 - (s^2)^2)^16 via four squarings
        val c16 = ss
          .withColumn("s4", $"s2" * $"s2")
          .withColumn("t", lit(1.0) - $"s4")
          .withColumn("t2", $"t" * $"t").withColumn("t4", $"t2" * $"t2")
          .withColumn("t8", $"t4" * $"t4")
          .withColumn("t16", $"t8" * $"t8")
          .select(lit("r4_b16").as("config"), $"s_tenths",
            round((lit(1.0) - $"t16") * 1e6).cast("long")
              .as("collide_ppm"))
        c16.unionAll(c32)
          .withColumn("candidate_at_half",
            $"collide_ppm" >= 500000L)
          .orderBy($"config", $"s_tenths")
      },
      Some("""
        WITH dom AS (
          SELECT CAST(r AS INTEGER) AS s_tenths,
                 CAST(r AS DOUBLE) / 10.0 AS sj
          FROM range(1, 10) t(r)),
        ss AS (SELECT s_tenths, sj, sj * sj AS s2 FROM dom),
        a32 AS (SELECT s_tenths, 1.0 - s2 AS t FROM ss),
        b32 AS (SELECT s_tenths, t * t AS t2 FROM a32),
        c32a AS (SELECT s_tenths, t2 * t2 AS t4 FROM b32),
        d32 AS (SELECT s_tenths, t4 * t4 AS t8 FROM c32a),
        e32 AS (SELECT s_tenths, t8 * t8 AS t16 FROM d32),
        f32 AS (SELECT s_tenths, t16 * t16 AS t32 FROM e32),
        r2b32 AS (
          SELECT 'r2_b32' AS config, s_tenths,
                 CAST(round((1.0 - t32) * 1e6) AS BIGINT) AS collide_ppm
          FROM f32),
        a16 AS (SELECT s_tenths, 1.0 - (s2 * s2) AS t FROM ss),
        b16 AS (SELECT s_tenths, t * t AS t2 FROM a16),
        c16a AS (SELECT s_tenths, t2 * t2 AS t4 FROM b16),
        d16 AS (SELECT s_tenths, t4 * t4 AS t8 FROM c16a),
        e16 AS (SELECT s_tenths, t8 * t8 AS t16 FROM d16),
        r4b16 AS (
          SELECT 'r4_b16' AS config, s_tenths,
                 CAST(round((1.0 - t16) * 1e6) AS BIGINT) AS collide_ppm
          FROM e16),
        u AS (SELECT * FROM r4b16 UNION ALL SELECT * FROM r2b32)
        SELECT config, s_tenths, collide_ppm,
               collide_ppm >= 500000 AS candidate_at_half
        FROM u ORDER BY config, s_tenths""")),

    Q(
      "q323_signature_index_compaction",
      "SIGNATURE-INDEX COMPACTION — q305's maintenance op applied to " +
        "the dedup stack's own persisted layout, completing the " +
        "build/add/compact lifecycle on BOTH index families: the daily " +
        "loop (q119/q128) leaves one subdirectory per added batch, so " +
        "a year of adds is 365 directories of small files every " +
        "glob-read search pays for; compactSignatureIndex folds them " +
        "into one base (published as the NEXT generation of the " +
        "GenDir-committed index through one one-winner claim — the " +
        "live index is complete at every instant of the fold), " +
        "records the folded keys in a SIBLING " +
        "manifest the data glob can't mistake for signatures, and " +
        "addSignatureIndexBatch turns a late replay of a folded key " +
        "into a NO-OP (a blind rewrite would re-duplicate every " +
        "signature the fold just moved). This query builds history + " +
        "two daily adds, runs the q119 incremental dedup against the " +
        "index BEFORE the fold, compacts, reruns it, replays a folded " +
        "add, and emits the codec-independent audit: folds counted, " +
        "dedup output bit-identical, signature rows conserved, replay " +
        "a no-op — each pinned by a constant-expectation oracle " +
        "(q317's restricted-oracle pattern), so any regression flips " +
        "a boolean and goes driver-red. File-count strict drop (codec-" +
        "specific) is asserted in IncrementalDedupSpec instead.",
      (s, dir) => {
        import s.implicits._
        val docs = Tables.t(s, dir, "documents")
        val root = graft.TempRoots.freshForDir("graft_sigcmp", dir).toString
        initSignatureIndex(docs.filter($"doc_id" % 10 =!= 0), root)
        addSignatureIndexBatch(docs.filter($"doc_id" % 20 === 0),
          root, "day1")
        addSignatureIndexBatch(docs.filter($"doc_id" % 20 === 10),
          root, "day2")
        val probe = docs.filter($"doc_id" % 20 === 10)
        def dedup() = incrementalNeardupPairs(s, root, probe, 0.8)
          .collect().toSeq
        def rows() = readSignatureIndex(s, root).count()
        val (pairsBefore, rowsBefore) = (dedup(), rows())
        val folded = compactSignatureIndex(s, root)
        val (pairsAfter, rowsAfter) = (dedup(), rows())
        addSignatureIndexBatch(docs.filter($"doc_id" % 20 === 0),
          root, "day1") // replay of a folded key — must be a no-op
        val rowsReplay = rows()
        Seq((folded.size.toLong,
          pairsBefore.toSet == pairsAfter.toSet &&
            pairsBefore.size == pairsAfter.size,
          rowsBefore == rowsAfter, rowsReplay == rowsAfter))
          .toDF("batches_folded", "pairs_unchanged", "rows_conserved",
            "replay_noop")
      },
      Some("""
        SELECT CAST(2 AS BIGINT) AS batches_folded,
               true AS pairs_unchanged,
               true AS rows_conserved,
               true AS replay_noop""")),

    Q(
      "q334_prefix_filter_eval",
      "CANDIDATE-STAGE DETECTION EVAL for the prefix filter — q101 " +
        "uses the PPJoin prefix index and proves its END result equals " +
        "q62; this measures the CANDIDATE stage itself, the part the " +
        "end-to-end oracle can't see: candidates = q101's prefix+" +
        "length-filter collisions BEFORE exact confirm, truth = the " +
        "exact Jaccard >= 0.8 pair set. Emits TP / FP / FN with " +
        "precision in ppm and the pruning ratio vs the naive n(n-1)/2 " +
        "— and the FN row is the PIGEONHOLE GUARANTEE measured, not " +
        "assumed: a doc pair at jac >= t shares more shingles than " +
        "can hide outside both prefixes, so fn MUST be 0, and a " +
        "future prefix-length off-by-one flips that cell and goes " +
        "driver-red (the property that separates this exact filter " +
        "from q63's probabilistic LSH, whose misses are a tuned " +
        "rate, not a theorem). Plan: the same inverted-index shapes " +
        "as q101/q62 — id pairs only through the distinct — joined " +
        "full-outer as FLAG tables, then one O(1) rollup beside a " +
        "1-row doc count.",
      (s, dir) => {
        import s.implicits._
        val t = 0.8
        val sh = docShingles(s, dir)
        // The candidate set IS the measurement here, so its definition
        // must be engine-exact where q101's can be engine-loose (exact
        // confirm erases candidate differences there): (1) ceil(n*0.8)
        // becomes the INTEGER (4n+4) div 5; (2) the prefix sorts
        // shingle STRINGS (the one order both engines share — the
        // production path q101 sorts 8-byte hashes, a different but
        // equally valid global order; pigeonhole holds under ANY order,
        // which is exactly what fn = 0 then certifies for this one).
        val toks = filter(split(trim($"text"), " "), x => x =!= lit(""))
        val prefSrc = Tables.t(s, dir, "documents")
          .withColumn("t", toks)
          .select($"doc_id",
            array_distinct(when(size($"t") >= 3,
              expr("transform(sequence(1, size(t) - 2), i -> " +
                "concat(element_at(t, i), char(31), element_at(t, i + 1)," +
                " char(31), element_at(t, i + 2)))"))
              .otherwise(array(array_join($"t", "\u001f")))).as("sh"))
        // materialize the per-doc STRING shingle arrays FIRST (one slim
        // row per doc): the prefix projection below references `sh`
        // three times (size twice for the slice length, the array once
        // for the sort), and higher-order functions are excluded from
        // codegen subexpression elimination — so without this barrier
        // CollapseProject inlines the whole tokenize+transform+concat+
        // distinct pipeline once PER REFERENCE and the candidate leg
        // re-tokenizes the corpus ~4x (measured: the leg drops
        // 9.5 s -> ~2.5 s at sf0.1; round 11's exploded-frame
        // checkpoint below had only deduplicated across the two JOIN
        // SIDES, not across the references inside this projection)
        val shMat = prefSrc.localCheckpoint(true)
        val pref = shMat.select($"doc_id",
          size($"sh").cast("long").as("n"),
          slice(array_sort($"sh"), lit(1),
            (size($"sh") - expr("(size(sh) * 4 + 4) div 5") + 1)
              .cast("int")).as("prefix"))
        // the slim exploded-prefix frame still materializes ONCE — it
        // feeds BOTH sides of the self-join (round 11's fix, kept)
        val ex = pref.select($"doc_id", $"n", explode($"prefix").as("h"))
          .localCheckpoint(true)
        val cand = ex.select($"doc_id".as("d1"), $"n".as("n1"), $"h")
          .join(ex.select($"doc_id".as("d2"), $"n".as("n2"), $"h"),
            Seq("h"))
          .filter($"d1" < $"d2")
          .filter($"n2" >= expr("(n1 * 4 + 4) div 5") &&
            $"n1" >= expr("(n2 * 4 + 4) div 5"))
          .select($"d1", $"d2").distinct()
        val truth = jaccardPairs(s, dir, t).select($"d1", $"d2")
        val flags = truth.withColumn("tr", lit(1L))
          .join(cand.withColumn("cd", lit(1L)), Seq("d1", "d2"),
            "full_outer")
        val nDocs = broadcast(sh.agg(count(lit(1)).as("nd")))
        flags.agg(
            sum(coalesce($"tr", lit(0L))).as("n_true"),
            sum(coalesce($"cd", lit(0L))).as("n_cand"),
            sum(coalesce($"tr", lit(0L)) * coalesce($"cd", lit(0L)))
              .as("tp"))
          .crossJoin(nDocs)
          .select($"n_true", $"n_cand", $"tp",
            ($"n_cand" - $"tp").as("fp"),
            ($"n_true" - $"tp").as("fn"),
            expr("tp * 1000000 div n_cand").as("precision_ppm"),
            expr("(nd * (nd - 1) div 2 - n_cand) * 1000000 div " +
              "(nd * (nd - 1) div 2)").as("pruned_ppm"))
      },
      Some(s"""
        WITH $jaccardPairsCte,
        truth AS (
          SELECT d1, d2 FROM jpairs
          WHERE CAST(common AS DOUBLE) / (n1 + n2 - common) >= 0.8),
        pref AS (
          SELECT doc_id, CAST(len(sh) AS BIGINT) AS n,
                 list_sort(sh)[1 : CAST(len(sh) - (len(sh) * 4 + 4) // 5
                   + 1 AS BIGINT)] AS prefix
          FROM shng),
        pex AS (SELECT doc_id, n, unnest(prefix) AS h FROM pref),
        cand AS (
          SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
          FROM pex a JOIN pex b ON a.h = b.h AND a.doc_id < b.doc_id
          WHERE b.n >= (a.n * 4 + 4) // 5 AND a.n >= (b.n * 4 + 4) // 5),
        flags AS (
          SELECT coalesce(t.d1, c.d1) AS d1, coalesce(t.d2, c.d2) AS d2,
                 CASE WHEN t.d1 IS NOT NULL THEN 1 ELSE 0 END AS tr,
                 CASE WHEN c.d1 IS NOT NULL THEN 1 ELSE 0 END AS cd
          FROM truth t FULL OUTER JOIN cand c
            ON t.d1 = c.d1 AND t.d2 = c.d2),
        nd AS (SELECT CAST(count(*) AS BIGINT) AS nd FROM shng),
        agg AS (
          SELECT CAST(sum(tr) AS BIGINT) AS n_true,
                 CAST(sum(cd) AS BIGINT) AS n_cand,
                 CAST(sum(tr * cd) AS BIGINT) AS tp
          FROM flags)
        SELECT n_true, n_cand, tp,
               CAST(n_cand - tp AS BIGINT) AS fp,
               CAST(n_true - tp AS BIGINT) AS fn,
               CAST(tp * 1000000 // n_cand AS BIGINT) AS precision_ppm,
               CAST((nd * (nd - 1) // 2 - n_cand) * 1000000 //
                 (nd * (nd - 1) // 2) AS BIGINT) AS pruned_ppm
        FROM agg, nd""")),

    Q(
      "q335_cdc_chunk_dedup",
      "CONTENT-DEFINED CHUNK DEDUP — the storage-side dedup rung below " +
        "q60's whole-doc and q140's span dedup: token-anchored content-" +
        "defined chunking (a boundary closes after any token whose " +
        "polynomial hash % 8 == 0, expected chunk ~8 tokens), so " +
        "boundaries move WITH the content — an insertion re-chunks one " +
        "neighborhood instead of shifting every fixed-width block " +
        "downstream of it (the rsync/LBFS anchoring argument applied " +
        "to corpus text). Then chunk-level exact dedup corpus-wide and " +
        "a per-source ledger of chars residing in duplicated chunks. " +
        "The chunker is ONE functions.aggregate fold per doc (O(len), " +
        "narrow, inside codegen — no explode+window round-trip just to " +
        "assign chunk ids), so chunking 100 TB is a map pass; chunk " +
        "frequency is a WINDOW count on the chunk-hash partition (one " +
        "row-scale shuffle, no frequency-frame rejoin and no second " +
        "scan), and the per-source rollup reuses those rows. Hash = " +
        "q54's recurrence at mod 1e9+7 so plain BIGINT arithmetic " +
        "replays it in the oracle — which builds the SAME chunks via " +
        "the explode+window construction; two independent derivations " +
        "agreeing per source is the check.",
      (s, dir) => {
        import s.implicits._
        import org.apache.spark.sql.expressions.Window
        def ph(c: String) =
          s"aggregate(transform(split($c, ''), ch -> ascii(ch)), 0L, " +
            s"(h, b) -> (h * 263 + b) % 1000000007)"
        val chunks = Tables.t(s, dir, "documents")
          .select($"doc_id", $"source", split(trim($"text"), " ").as("t"))
          .select($"doc_id", $"source", expr(
            "filter(aggregate(t, array(cast(array() as array<string>)), " +
              "(acc, tk) -> case when " + ph("tk") + " % 8 = 0 " +
              "then concat(slice(acc, 1, size(acc) - 1), " +
              "array(concat(element_at(acc, -1), array(tk))), " +
              "array(cast(array() as array<string>))) " +
              "else concat(slice(acc, 1, size(acc) - 1), " +
              "array(concat(element_at(acc, -1), array(tk)))) end), " +
              "c -> size(c) > 0)").as("chunks"))
          .select($"source",
            explode(expr("transform(chunks, c -> array_join(c, ' '))"))
              .as("chunk"))
          .select($"source", expr(ph("chunk")).as("chunk_hash"),
            length($"chunk").cast("long").as("chars"))
        chunks
          .withColumn("cfreq",
            count(lit(1)).over(Window.partitionBy($"chunk_hash")))
          .groupBy($"source")
          .agg(count(lit(1)).as("n_chunks"),
            countDistinct($"chunk_hash").as("n_distinct"),
            sum(when($"cfreq" > 1, 1L).otherwise(0L)).as("dup_chunks"),
            sum($"chars").as("total_chars"),
            sum(when($"cfreq" > 1, $"chars").otherwise(0L)).as("dup_chars"))
          .withColumn("dup_ppm",
            expr("dup_chars * 1000000 div total_chars"))
          .orderBy($"source")
      },
      Some("""
        WITH d AS (SELECT doc_id, source,
               string_split(trim(text), ' ') AS ws FROM documents),
        tok AS (SELECT doc_id, source,
                  unnest([{'pos': i, 'token': ws[i]}
                          for i in range(1, len(ws) + 1)]) AS tp
                FROM d),
        hs AS (SELECT doc_id, source, tp.pos AS pos, tp.token AS token,
                 list_reduce(list_prepend(CAST(0 AS BIGINT),
                   [CAST(ascii(c) AS BIGINT)
                    for c in string_split(tp.token, '')]),
                   (h, b) -> (h * 263 + b) % 1000000007) AS th
               FROM tok),
        cid AS (SELECT doc_id, source, pos, token,
                  coalesce(sum(CASE WHEN th % 8 = 0 THEN 1 ELSE 0 END)
                    OVER (PARTITION BY doc_id ORDER BY pos
                      ROWS BETWEEN UNBOUNDED PRECEDING
                      AND 1 PRECEDING), 0) AS chunk_id
                FROM hs),
        ch AS (SELECT doc_id, source, chunk_id,
                 string_agg(token, ' ' ORDER BY pos) AS chunk
               FROM cid GROUP BY 1, 2, 3),
        ci AS (SELECT source,
                 list_reduce(list_prepend(CAST(0 AS BIGINT),
                   [CAST(ascii(c) AS BIGINT)
                    for c in string_split(chunk, '')]),
                   (h, b) -> (h * 263 + b) % 1000000007) AS chunk_hash,
                 CAST(length(chunk) AS BIGINT) AS chars
               FROM ch),
        cw AS (SELECT source, chars,
                 count(*) OVER (PARTITION BY chunk_hash) AS cfreq,
                 chunk_hash
               FROM ci)
        SELECT source,
               CAST(count(*) AS BIGINT) AS n_chunks,
               CAST(count(DISTINCT chunk_hash) AS BIGINT) AS n_distinct,
               CAST(sum(CASE WHEN cfreq > 1 THEN 1 ELSE 0 END)
                 AS BIGINT) AS dup_chunks,
               CAST(sum(chars) AS BIGINT) AS total_chars,
               CAST(sum(CASE WHEN cfreq > 1 THEN chars ELSE 0 END)
                 AS BIGINT) AS dup_chars,
               CAST(sum(CASE WHEN cfreq > 1 THEN chars ELSE 0 END)
                 * 1000000 // sum(chars) AS BIGINT) AS dup_ppm
        FROM cw
        GROUP BY source ORDER BY source""")),

    Q(
      "q339_dup_ngram_coverage",
      "DUPLICATED-SUBSTRING COVERAGE — the exact-substring dedup " +
        "MEASUREMENT from 'Deduplicating Training Data Makes Language " +
        "Models Better' (Lee et al. 2021, public): for every 8-token " +
        "window position in every doc, is that exact 8-gram repeated " +
        "ANYWHERE else in the corpus (cross-doc or within-doc — both " +
        "are memorization fuel)? Per-source ledger: positions, " +
        "duplicated positions, coverage ppm, and the count of docs " +
        "over 50% duplicated coverage (the ExactSubstr drop list). " +
        "Differs from q335 (content-defined chunks dedupe STORAGE; " +
        "overlapping windows measure every repeated span regardless " +
        "of chunk alignment) and from q121 (within-doc repetition " +
        "only). Plan: gram extraction is a narrow transform over " +
        "sequence(1, len-7) inside codegen — grams leave the scan as " +
        "8-byte poly-hashes, never strings (at 100 TB the wire " +
        "carries ids+hashes); frequency is ONE window count on the " +
        "gram-hash partition (no frequency-frame rejoin, no second " +
        "scan); the per-doc and per-source rollups ride the same " +
        "rows. Zipf-head grams skew the window partition — the " +
        "documented salt (q49-family) applies: count per (hash, " +
        "doc_id % K) then re-merge, identical totals. Hash = q54's " +
        "mod-1e9+7 recurrence so the oracle replays it bit-for-bit " +
        "(collisions — ~1e-3 at fixture scale — affect both engines " +
        "identically; a production run widens to 128-bit).",
      (s, dir) => {
        import s.implicits._
        def ph(c: String) =
          s"aggregate(transform(split($c, ''), ch -> ascii(ch)), 0L, " +
            s"(h, b) -> (h * 263 + b) % 1000000007)"
        val grams = Tables.t(s, dir, "documents")
          .select($"doc_id", $"source", split(trim($"text"), " ").as("t"))
          .select($"doc_id", $"source", explode(expr(
            "case when size(t) >= 8 then transform(sequence(1, " +
              "size(t) - 7), i -> array_join(slice(t, i, 8), ' ')) " +
              "else array() end")).as("g"))
          .select($"doc_id", $"source", expr(ph("g")).as("gh"))
        val perDoc = grams
          .withColumn("f", count(lit(1)).over(Window.partitionBy($"gh")))
          .groupBy($"doc_id", $"source")
          .agg(count(lit(1)).as("n_pos"),
            sum(when($"f" > 1, 1L).otherwise(0L)).as("dup_pos"))
        perDoc.groupBy($"source")
          .agg(count(lit(1)).as("n_docs"),
            sum($"n_pos").as("n_pos"),
            sum($"dup_pos").as("dup_pos"),
            sum(when($"dup_pos" * 2 > $"n_pos", 1L).otherwise(0L))
              .as("docs_over_half"))
          .withColumn("dup_ppm", expr("dup_pos * 1000000 div n_pos"))
          .orderBy($"source")
      },
      Some("""
        WITH d AS (SELECT doc_id, source,
               string_split(trim(text), ' ') AS ws FROM documents),
        pos AS (SELECT doc_id, source, ws,
                  unnest(range(1, len(ws) - 6)) AS i
                FROM d WHERE len(ws) >= 8),
        ng AS (SELECT doc_id, source,
                 list_reduce(list_prepend(CAST(0 AS BIGINT),
                   [CAST(ascii(c) AS BIGINT) for c in
                    string_split(array_to_string(ws[i:i+7], ' '), '')]),
                   (h, b) -> (h * 263 + b) % 1000000007) AS gh
               FROM pos),
        fr AS (SELECT doc_id, source,
                 count(*) OVER (PARTITION BY gh) AS f FROM ng),
        pd AS (SELECT doc_id, source,
                 CAST(count(*) AS BIGINT) AS n_pos,
                 CAST(sum(CASE WHEN f > 1 THEN 1 ELSE 0 END) AS BIGINT)
                   AS dup_pos
               FROM fr GROUP BY 1, 2)
        SELECT source,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(n_pos) AS BIGINT) AS n_pos,
               CAST(sum(dup_pos) AS BIGINT) AS dup_pos,
               CAST(sum(CASE WHEN dup_pos * 2 > n_pos THEN 1 ELSE 0 END)
                 AS BIGINT) AS docs_over_half,
               CAST(sum(dup_pos) * 1000000 // sum(n_pos) AS BIGINT)
                 AS dup_ppm
        FROM pd GROUP BY source ORDER BY source""")),

    Q(
      "q371_lsh_candidate_eval",
      "CANDIDATE-STAGE DETECTION EVAL for the MinHash-LSH bands — " +
        "q334's measured-eval row for the PROBABILISTIC leg of the " +
        "dedup ladder (q334 grades the prefix filter, whose fn = 0 is " +
        "a theorem; LSH misses are a TUNED RATE, so this row is where " +
        "that rate gets measured instead of assumed): candidates = " +
        "q63's 16x4 band collisions BEFORE exact confirm, truth = the " +
        "exact Jaccard >= 0.8 pair set. Emits TP/FP/FN, precision and " +
        "recall in ppm, and the pruning ratio vs naive n(n-1)/2 — at " +
        "the fixture's banding the S-curve (q312) puts miss " +
        "probability at (1-0.8^4)^16 ~ 2e-4, so fn is EXPECTED zero " +
        "but, unlike q334, a nonzero cell is a rate excursion to " +
        "read, not a broken theorem. Rows-only: band keys come from " +
        "the engine's xxhash64 MinHash. Plan: both stages carry only " +
        "id pairs through their distincts; the rollup is O(1).",
      (s, dir) => {
        import s.implicits._
        val k = 64; val bands = 16; val rows = 4
        val sh = docShingles(s, dir)
        val sig = sh.select($"doc_id",
          minhashSignature($"sh", k).as("mh"))
        val banded = sig.select($"doc_id",
          posexplode(bandKeys($"mh", bands, rows))
            .as(Seq("band_idx", "band_key")))
        val cand = banded.select($"doc_id".as("d1"), $"band_idx",
            $"band_key")
          .join(banded.select($"doc_id".as("d2"), $"band_idx",
            $"band_key"), Seq("band_idx", "band_key"))
          .filter($"d1" < $"d2")
          .select($"d1", $"d2").distinct()
          .withColumn("cand", lit(1L))
        val truth = jaccardPairs(s, dir, 0.8)
          .select($"d1", $"d2").withColumn("tru", lit(1L))
        val flags = cand.join(truth, Seq("d1", "d2"), "full")
          .select(coalesce($"cand", lit(0L)).as("c"),
            coalesce($"tru", lit(0L)).as("t"))
        val nDocs = broadcast(Tables.t(s, dir, "documents")
          .agg(count(lit(1)).as("n_docs")))
        flags.agg(
            sum(($"c" === 1 && $"t" === 1).cast("long")).as("tp"),
            sum(($"c" === 1 && $"t" === 0).cast("long")).as("fp"),
            sum(($"c" === 0 && $"t" === 1).cast("long")).as("fn"))
          .crossJoin(nDocs)
          .select($"tp", $"fp", $"fn",
            expr("tp * 1000000 div nullif(tp + fp, 0)")
              .as("precision_ppm"),
            expr("tp * 1000000 div nullif(tp + fn, 0)")
              .as("recall_ppm"),
            expr("(tp + fp) * 2000000 div (n_docs * (n_docs - 1))")
              .as("candidate_share_ppm"))
      },
      None),

    Q(
      "q392_winnowing_fingerprints",
      "WINNOWING FINGERPRINT SELECTION (Schleimer-Wilkerson-Aiken 2003 " +
        "— the MOSS algorithm: from every window of w consecutive " +
        "k-gram hashes, keep the minimum, rightmost on ties; the " +
        "selected set is a deterministic ~2/(w+1)-density sketch with " +
        "the GUARANTEE that any match of length >= w+k-1 shares a " +
        "selected fingerprint — the local-selection upgrade of q54's " +
        "whole-doc hash). Engine-portable arithmetic throughout: " +
        "k=8-char-gram hashes by the (h*263 + byte) mod 1e9+7 " +
        "polynomial (a LONG-safe modulus, q54's recurrence), the " +
        "(min-hash, rightmost) argmin packed into ONE integer key " +
        "h*2^21 + (2^21-1-pos) so a plain windowed min() does the " +
        "tie-broken selection on both engines. Output per lang: " +
        "grams, selected count, density ppm (expect ~333333 at w=4), " +
        "worst inter-selection gap, and the theorem's self-audit — " +
        "docs violating gap <= w (provably zero). 100 TB: per-doc " +
        "map-side work + one lang-bounded aggregate; the windows are " +
        "doc-partitioned (PlanSpec's discipline), never global.",
      (s, dir) => {
        import s.implicits._
        val k = 8; val w = 4
        val grams = Tables.t(s, dir, "documents")
          .select($"doc_id", $"lang",
            expr("transform(split(text, ''), ch -> " +
              "cast(ascii(ch) as bigint))").as("cd"))
          .filter(size($"cd") >= k + w - 1)
          .select($"doc_id", $"lang", (size($"cd") - (k - 1)).as("m"),
            posexplode(expr(s"transform(sequence(1, size(cd) - ${k - 1})," +
              s" i -> aggregate(slice(cd, i, $k), 0L, " +
              "(h, b) -> (h * 263 + b) % 1000000007))"))
              .as(Seq("p0", "h")))
          .select($"doc_id", $"lang", $"m", ($"p0" + 1).as("pos"),
            ($"h" * 2097152L + (lit(2097151L) - ($"p0" + 1))).as("key"))
        val wWin = Window.partitionBy($"doc_id").orderBy($"pos")
          .rowsBetween(Window.currentRow, w - 1)
        val sel = grams
          .withColumn("win_min", min($"key").over(wWin))
          .filter($"pos" <= $"m" - (w - 1))
          .select($"doc_id", $"lang", $"m",
            (lit(2097151L) - ($"win_min" % 2097152L)).as("sel_pos"))
          .distinct()
        val perDoc = sel
          .withColumn("gap", $"sel_pos" -
            lag($"sel_pos", 1).over(
              Window.partitionBy($"doc_id").orderBy($"sel_pos")))
          .groupBy($"doc_id", $"lang", $"m")
          .agg(count(lit(1)).as("n_sel"),
            coalesce(max($"gap"), lit(0L)).as("max_gap"))
        perDoc.groupBy($"lang")
          .agg(count(lit(1)).as("n_docs"), sum($"m").as("n_grams"),
            sum($"n_sel").as("n_selected"),
            max($"max_gap").as("worst_gap"),
            sum(($"max_gap" > w).cast("long")).as("guarantee_violations"))
          .withColumn("density_ppm",
            expr("n_selected * 1000000 div n_grams"))
          .orderBy($"lang")
      },
      Some("""
        WITH cd AS (
          SELECT doc_id, lang,
                 [ascii(c) for c in string_split(text, '')] AS cd
          FROM documents),
        gp AS (
          SELECT doc_id, lang, len(cd) - 7 AS m, cd,
                 unnest(generate_series(1, len(cd) - 7)) AS pos
          FROM cd WHERE len(cd) >= 11),
        g AS (
          SELECT doc_id, lang, m, pos,
                 list_reduce(list_prepend(CAST(0 AS BIGINT),
                     cd[pos:pos + 7]),
                   (h, b) -> (h * 263 + b) % 1000000007) AS h
          FROM gp),
        keyed AS (
          SELECT doc_id, lang, m, pos,
                 h * 2097152 + (2097151 - pos) AS key
          FROM g),
        sel AS (
          SELECT DISTINCT doc_id, lang, m,
                 2097151 - (win_min % 2097152) AS sel_pos
          FROM (
            SELECT doc_id, lang, m, pos,
                   min(key) OVER (PARTITION BY doc_id ORDER BY pos
                     ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS win_min
            FROM keyed)
          WHERE pos <= m - 3),
        perdoc AS (
          SELECT doc_id, lang, m,
                 CAST(count(*) AS BIGINT) AS n_sel,
                 coalesce(max(gap), 0) AS max_gap
          FROM (
            SELECT doc_id, lang, m, sel_pos,
                   sel_pos - lag(sel_pos) OVER (PARTITION BY doc_id
                     ORDER BY sel_pos) AS gap
            FROM sel)
          GROUP BY 1, 2, 3)
        SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(m) AS BIGINT) AS n_grams,
               CAST(sum(n_sel) AS BIGINT) AS n_selected,
               CAST(max(max_gap) AS BIGINT) AS worst_gap,
               CAST(sum(CASE WHEN max_gap > 4 THEN 1 ELSE 0 END)
                 AS BIGINT) AS guarantee_violations,
               CAST(sum(n_sel) * 1000000 // sum(m) AS BIGINT)
                 AS density_ppm
        FROM perdoc GROUP BY lang ORDER BY lang""")),

    Q(
      "q393_suffix_array_dedup",
      "SORTED-SUFFIX EXACT-SUBSTRING DEDUP (the Lee et al. 2022 " +
        "'Deduplicating Training Data Makes Language Models Better' " +
        "construction: build the suffix array of the corpus, then " +
        "repeated substrings >= L surface as RANK-ADJACENT suffixes " +
        "with LCP >= L — q140 measured duplicate spans WITHOUT a " +
        "suffix array; this is the real thing). The key insight that " +
        "makes it ONE distributed sort: dedup only needs LCPs up to " +
        "the threshold, so each suffix is represented by its first " +
        "64 chars — the sort key is O(64) bytes regardless of " +
        "document length, suffixes never materialize beyond it, and " +
        "LCPs cap at 64 ('>= 64' is already far past the L=20 " +
        "threshold). Pipeline: explode every (doc, pos) suffix key, " +
        "ONE global range-partitioned sort, window lead() for " +
        "rank-adjacent pairs, LCP as the monotone indicator sum " +
        "sum_g [prefix_g(a) = prefix_g(b)] (exact, no loops). " +
        "Output per lang: suffixes, adjacent pairs at LCP >= 20, " +
        "how many are CROSS-document (the poisonous kind), distinct " +
        "docs implicated, and the max LCP seen. 100 TB: Spark's " +
        "sort is the one exchange; Kasai/induced-sorting builds " +
        "nothing the threshold does not need.",
      (s, dir) => {
        import s.implicits._
        val L = 20; val cap = 64
        val suf = Tables.t(s, dir, "documents")
          .select($"doc_id", $"lang",
            posexplode(expr(s"transform(sequence(1, length(text)), " +
              s"i -> substring(text, i, $cap))")).as(Seq("p0", "sfx")))
          // bucket = 2-char prefix: sorting by sfx keeps buckets
          // contiguous, so GLOBAL rank-adjacency = within-bucket
          // adjacency + one boundary pair per bucket — the windows
          // below partition by bucket (no global single-partition
          // window; a skewed prefix would salt on a 3rd char)
          .select($"doc_id", $"lang", ($"p0" + 1).as("pos"), $"sfx",
            substring($"sfx", 1, 2).as("bkt"))
        val wB = Window.partitionBy($"bkt")
          .orderBy($"sfx", $"doc_id", $"pos")
        val within = suf
          .withColumn("nxt", lead($"sfx", 1).over(wB))
          .withColumn("nxt_doc", lead($"doc_id", 1).over(wB))
          .filter($"nxt".isNotNull)
          .select($"lang", $"doc_id", $"sfx", $"nxt", $"nxt_doc")
        // boundary pairs: each bucket's lexicographically LAST suffix
        // meets the NEXT bucket's FIRST — computed on the bounded
        // bucket domain (<= alphabet^2 rows), where an unpartitioned
        // window is fine
        val edges = suf.groupBy($"bkt")
          .agg(max(struct($"sfx", $"doc_id", $"pos", $"lang")).as("lastr"),
            min(struct($"sfx", $"doc_id", $"pos")).as("firstr"))
        val wE = Window.orderBy($"bkt")
        val boundary = edges
          .withColumn("nf", lead($"firstr", 1).over(wE))
          .filter($"nf".isNotNull)
          .select($"lastr.lang".as("lang"),
            $"lastr.doc_id".as("doc_id"), $"lastr.sfx".as("sfx"),
            $"nf.sfx".as("nxt"), $"nf.doc_id".as("nxt_doc"))
        // LCP as an O(cap) char-at-g chain (a cumulative AND carried in
        // the fold state), not O(cap^2) prefix slices — equal VALUES,
        // 64x less work per pair; the DuckDB oracle keeps the slice
        // form, which only needs to be right, not fast
        val pairs = within.unionByName(boundary)
          .withColumn("lcp", expr(s"aggregate(sequence(1, $cap), " +
            "named_struct('eq', true, 'n', 0L), (acc, g) -> " +
            "named_struct('eq', acc.eq and length(sfx) >= g and " +
            "substring(sfx, g, 1) = substring(nxt, g, 1), " +
            "'n', acc.n + if(acc.eq and length(sfx) >= g and " +
            "substring(sfx, g, 1) = substring(nxt, g, 1), 1L, 0L)), " +
            "acc -> acc.n)"))
        pairs.groupBy($"lang")
          .agg(count(lit(1)).as("n_pairs"),
            sum(($"lcp" >= L).cast("long")).as("n_dup_pairs"),
            sum(($"lcp" >= L && $"doc_id" =!= $"nxt_doc").cast("long"))
              .as("n_cross_doc"),
            countDistinct(when($"lcp" >= L, $"doc_id"))
              .as("docs_implicated"),
            max($"lcp").as("max_lcp"))
          .orderBy($"lang")
      },
      Some("""
        WITH sp AS (
          SELECT doc_id, lang, text,
                 unnest(generate_series(1, len(text))) AS pos
          FROM documents),
        suf AS (
          SELECT doc_id, lang, pos, text[pos:pos + 63] AS sfx
          FROM sp),
        ranked AS (
          SELECT doc_id, lang, sfx,
                 lead(sfx) OVER (ORDER BY sfx, doc_id, pos) AS nxt,
                 lead(doc_id) OVER (ORDER BY sfx, doc_id, pos)
                   AS nxt_doc
          FROM suf),
        pairs AS (
          SELECT doc_id, lang, nxt_doc,
                 list_sum([CASE WHEN sfx[1:g] = nxt[1:g]
                                 AND len(sfx) >= g
                            THEN 1 ELSE 0 END
                           for g in generate_series(1, 64)]) AS lcp
          FROM ranked WHERE nxt IS NOT NULL)
        SELECT lang, CAST(count(*) AS BIGINT) AS n_pairs,
               CAST(sum(CASE WHEN lcp >= 20 THEN 1 ELSE 0 END)
                 AS BIGINT) AS n_dup_pairs,
               CAST(sum(CASE WHEN lcp >= 20 AND doc_id <> nxt_doc
                 THEN 1 ELSE 0 END) AS BIGINT) AS n_cross_doc,
               CAST(count(DISTINCT CASE WHEN lcp >= 20 THEN doc_id END)
                 AS BIGINT) AS docs_implicated,
               CAST(max(lcp) AS BIGINT) AS max_lcp
        FROM pairs GROUP BY lang ORDER BY lang""")),

    Q(
      "q412_bcubed_cluster_eval",
      "B-CUBED CLUSTERING EVALUATION (Bagga-Baldwin 1998; Amigo 2009 " +
        "showed it the only common clustering metric satisfying all " +
        "four formal constraints) grading CHEAP DEDUP KEYS against " +
        "the exact content-hash truth — the question every pipeline " +
        "faces before paying for full-content hashing: how wrong is " +
        "keying on a 40-char prefix, or on the first 8 tokens? " +
        "Per element, precision = |cand cluster ∩ truth cluster| / " +
        "|cand cluster| and recall the mirror — both exact rationals " +
        "computed per (truth, cand) CELL (a cell's a elements each " +
        "contribute a*1e6 div size, one truncating division " +
        "identical in both engines), averaged by one final div N. " +
        "Pair-level over/under-merge counts come from group sizes " +
        "alone (sum n*(n-1)/2 — no pair frame is ever materialized). " +
        "Every candidate key is a FUNCTION of the full text, so " +
        "truth-equal docs can never split across candidate clusters: " +
        "recall = 1e6 and under_merge = 0 STRUCTURALLY (the in-row " +
        "self-audit — it holds at sf0.1 where 8 exact-dup docs exist, " +
        "not just on singleton truth) while precision prices each " +
        "key's over-merging. 100 TB: three size aggregates on (key) " +
        "grains plus one cell aggregate; nothing quadratic anywhere.",
      (s, dir) => {
        import s.implicits._
        val docs = Tables.t(s, dir, "documents")
          .select($"doc_id", sha2($"text", 256).as("t"),
            substring($"text", 1, 40).as("c_prefix"),
            concat_ws(" ", slice(split($"text", " "), 1, 8))
              .as("c_tokens"))
          .localCheckpoint(true)
        def grade(method: String, cCol: String) = {
          val base = docs.select($"doc_id", $"t", col(cCol).as("c"))
          val nt = base.groupBy($"t").agg(count(lit(1)).as("nt"))
          val nc = base.groupBy($"c").agg(count(lit(1)).as("nc"))
          val cells = base.groupBy($"t", $"c")
            .agg(count(lit(1)).as("a"))
            .join(nt, Seq("t")).join(nc, Seq("c"))
          cells.agg(
              sum($"a").as("n_docs"),
              sum($"a" * expr("a * 1000000 div nc")).as("psum"),
              sum($"a" * expr("a * 1000000 div nt")).as("rsum"),
              sum(expr("a * (a - 1) div 2")).as("p_tc"))
            .crossJoin(broadcast(nt.agg(
              count(lit(1)).as("n_truth_clusters"),
              sum(expr("nt * (nt - 1) div 2")).as("p_t"))))
            .crossJoin(broadcast(nc.agg(
              count(lit(1)).as("n_cand_clusters"),
              sum(expr("nc * (nc - 1) div 2")).as("p_c"))))
            .select(lit(method).as("method"), $"n_docs",
              $"n_truth_clusters", $"n_cand_clusters",
              expr("psum div n_docs").as("precision_ppm"),
              expr("rsum div n_docs").as("recall_ppm"),
              expr("case when psum div n_docs + rsum div n_docs = 0 " +
                "then 0 else 2 * (psum div n_docs) * (rsum div n_docs)" +
                " div (psum div n_docs + rsum div n_docs) end")
                .as("f1_ppm"),
              ($"p_c" - $"p_tc").as("over_merge_pairs"),
              ($"p_t" - $"p_tc").as("under_merge_pairs"))
        }
        grade("prefix40", "c_prefix")
          .unionByName(grade("tokens8", "c_tokens"))
          .orderBy($"method")
      },
      Some("""
        WITH docs AS (
          SELECT doc_id, sha256(text) AS t,
                 substr(text, 1, 40) AS c_prefix,
                 array_to_string(list_slice(string_split(text, ' '),
                   1, 8), ' ') AS c_tokens
          FROM documents),
        m AS (
          SELECT 'prefix40' AS method, doc_id, t, c_prefix AS c
          FROM docs
          UNION ALL
          SELECT 'tokens8', doc_id, t, c_tokens FROM docs),
        nt AS (SELECT method, t, count(*) AS nt
               FROM m GROUP BY 1, 2),
        nc AS (SELECT method, c, count(*) AS nc
               FROM m GROUP BY 1, 2),
        cells AS (
          SELECT m.method, m.t, m.c, count(*) AS a
          FROM m GROUP BY 1, 2, 3),
        j AS (
          SELECT cells.method, a, nt.nt, nc.nc
          FROM cells
          JOIN nt ON cells.method = nt.method AND cells.t = nt.t
          JOIN nc ON cells.method = nc.method AND cells.c = nc.c),
        agg AS (
          SELECT method,
                 CAST(sum(a) AS BIGINT) AS n_docs,
                 CAST(sum(a * (a * 1000000 // nc)) AS BIGINT) AS psum,
                 CAST(sum(a * (a * 1000000 // nt)) AS BIGINT) AS rsum,
                 CAST(sum(a * (a - 1) // 2) AS BIGINT) AS p_tc
          FROM j GROUP BY 1),
        tt AS (
          SELECT method, CAST(count(*) AS BIGINT) AS n_truth_clusters,
                 CAST(sum(nt * (nt - 1) // 2) AS BIGINT) AS p_t
          FROM nt GROUP BY 1),
        cc AS (
          SELECT method, CAST(count(*) AS BIGINT) AS n_cand_clusters,
                 CAST(sum(nc * (nc - 1) // 2) AS BIGINT) AS p_c
          FROM nc GROUP BY 1)
        SELECT agg.method, n_docs, n_truth_clusters, n_cand_clusters,
               CAST(psum // n_docs AS BIGINT) AS precision_ppm,
               CAST(rsum // n_docs AS BIGINT) AS recall_ppm,
               CAST(CASE WHEN psum // n_docs + rsum // n_docs = 0
                 THEN 0 ELSE 2 * (psum // n_docs) * (rsum // n_docs)
                 // (psum // n_docs + rsum // n_docs) END AS BIGINT)
                 AS f1_ppm,
               CAST(p_c - p_tc AS BIGINT) AS over_merge_pairs,
               CAST(p_t - p_tc AS BIGINT) AS under_merge_pairs
        FROM agg
        JOIN tt ON agg.method = tt.method
        JOIN cc ON agg.method = cc.method
        ORDER BY agg.method""")),

    Q(
      "q414_ari_purity_eval",
      "ADJUSTED RAND INDEX + PURITY for the same cheap-dedup-key " +
        "clusterings (Hubert-Arabie 1985's chance-corrected " +
        "pair-counting index and the classic majority-overlap purity " +
        "pair — the two standard clustering-eval lenses BESIDE " +
        "q412's element-centric B-cubed, each sensitive to a " +
        "different failure: ARI punishes chance-level agreement, " +
        "purity ignores fragmentation, B-cubed penalizes both): all " +
        "four statistics reduce to the same three group-size " +
        "aggregates q412 computes (cell sizes a, truth sizes nt, " +
        "candidate sizes nc — no pair frame ever materializes), and " +
        "ARI's rational ((T*2*P_tc - 2*P_t*P_c) / (T*(P_t+P_c) - " +
        "2*P_t*P_c) with T = C(n,2)) is emitted as one sign-" +
        "extracted cross-multiplied ppm division — exact integers " +
        "end to end, with the quadratic products (T is O(n^2), so " +
        "T*(P_t+P_c) is O(n^4) in doc count) carried in " +
        "DECIMAL(38,0) / HUGEINT per the q407/q352 convention and " +
        "the C(n,2) halving folded algebraically into the rational " +
        "(b2 = n(n-1); num and den both doubled) so no intermediate " +
        "ever narrows back to BIGINT. Purity = sum over candidate " +
        "clusters of their majority-truth overlap div N; inverse " +
        "purity mirrors from " +
        "the truth side, and since candidate keys only COARSEN the " +
        "text-equal truth here, inverse purity = 1e6 structurally " +
        "(the self-audit, same argument as q412's recall). 100 TB: " +
        "identical shape to q412 — key-grain aggregates only.",
      (s, dir) => {
        import s.implicits._
        val docs = Tables.t(s, dir, "documents")
          .select($"doc_id", sha2($"text", 256).as("t"),
            substring($"text", 1, 40).as("c_prefix"),
            concat_ws(" ", slice(split($"text", " "), 1, 8))
              .as("c_tokens"))
          .localCheckpoint(true)
        def grade(method: String, cCol: String) = {
          val base = docs.select($"doc_id", $"t", col(cCol).as("c"))
          val cells = base.groupBy($"t", $"c")
            .agg(count(lit(1)).as("a"))
          val perC = cells.groupBy($"c")
            .agg(sum($"a").as("nc"), max($"a").as("maj_c"))
          val perT = cells.groupBy($"t")
            .agg(sum($"a").as("nt"), max($"a").as("maj_t"))
          cells.agg(sum(expr("a * (a - 1) div 2")).as("p_tc"))
            .crossJoin(broadcast(perC.agg(
              sum($"nc").as("n"),
              sum(expr("nc * (nc - 1) div 2")).as("p_c"),
              sum($"maj_c").as("maj_c_sum"))))
            .crossJoin(broadcast(perT.agg(
              sum(expr("nt * (nt - 1) div 2")).as("p_t"),
              sum($"maj_t").as("maj_t_sum"))))
            .select(lit(method).as("method"), $"n",
              // DECIMAL(38,0) (HUGEINT in the oracle) for the ARI
              // rational, the q407/q352 convention: big_t = n(n-1)/2 is
              // quadratic in doc count, so big_t*(p_t+p_c) overflows
              // int64 near n ~ millions of docs — Spark (non-ANSI)
              // would wrap silently while DuckDB raises. The /2 in
              // big_t is folded algebraically (b2 = n(n-1) = 2*big_t;
              // multiply num and den by 2) so no integral `div` — which
              // always returns BIGINT in Spark — sits mid-chain.
              expr("cast(n as decimal(38,0)) * (n - 1)").as("b2"),
              $"p_tc", $"p_t", $"p_c", $"maj_c_sum", $"maj_t_sum")
            .withColumn("ari_num",
              expr("b2 * 2 * p_tc - " +
                "4 * cast(p_t as decimal(38,0)) * p_c"))
            .withColumn("ari_den",
              expr("b2 * (p_t + p_c) - " +
                "4 * cast(p_t as decimal(38,0)) * p_c"))
            .select($"method", $"n", $"p_tc", $"p_t", $"p_c",
              expr("case when ari_den = 0 then 1000000 else " +
                "(case when ari_num >= 0 then 1 else -1 end) * " +
                "(abs(ari_num) * 1000000 div ari_den) end")
                .as("ari_ppm"),
              expr("maj_c_sum * 1000000 div n").as("purity_ppm"),
              expr("maj_t_sum * 1000000 div n")
                .as("inverse_purity_ppm"))
        }
        grade("prefix40", "c_prefix")
          .unionByName(grade("tokens8", "c_tokens"))
          .orderBy($"method")
      },
      Some("""
        WITH docs AS (
          SELECT doc_id, sha256(text) AS t,
                 substr(text, 1, 40) AS c_prefix,
                 array_to_string(list_slice(string_split(text, ' '),
                   1, 8), ' ') AS c_tokens
          FROM documents),
        m AS (
          SELECT 'prefix40' AS method, doc_id, t, c_prefix AS c
          FROM docs
          UNION ALL
          SELECT 'tokens8', doc_id, t, c_tokens FROM docs),
        cells AS (
          SELECT method, t, c, CAST(count(*) AS BIGINT) AS a
          FROM m GROUP BY 1, 2, 3),
        pc AS (
          SELECT method, CAST(sum(nc) AS BIGINT) AS n,
                 CAST(sum(nc * (nc - 1) // 2) AS BIGINT) AS p_c,
                 CAST(sum(maj_c) AS BIGINT) AS maj_c_sum
          FROM (SELECT method, c, sum(a) AS nc, max(a) AS maj_c
                FROM cells GROUP BY 1, 2) GROUP BY 1),
        pt AS (
          SELECT method,
                 CAST(sum(nt * (nt - 1) // 2) AS BIGINT) AS p_t,
                 CAST(sum(maj_t) AS BIGINT) AS maj_t_sum
          FROM (SELECT method, t, sum(a) AS nt, max(a) AS maj_t
                FROM cells GROUP BY 1, 2) GROUP BY 1),
        ag AS (
          SELECT method,
                 CAST(sum(a * (a - 1) // 2) AS BIGINT) AS p_tc
          FROM cells GROUP BY 1),
        j AS (
          SELECT ag.method, n, p_tc, p_t, p_c, maj_c_sum, maj_t_sum,
                 CAST(n AS HUGEINT) * (n - 1) AS b2
          FROM ag JOIN pc ON ag.method = pc.method
          JOIN pt ON ag.method = pt.method),
        r AS (
          SELECT method, n, p_tc, p_t, p_c, maj_c_sum, maj_t_sum,
                 b2 * 2 * p_tc
                   - 4 * CAST(p_t AS HUGEINT) * p_c AS ari_num,
                 b2 * (p_t + p_c)
                   - 4 * CAST(p_t AS HUGEINT) * p_c AS ari_den
          FROM j)
        SELECT method, n, p_tc, p_t, p_c,
               CAST(CASE WHEN ari_den = 0 THEN 1000000 ELSE
                 (CASE WHEN ari_num >= 0 THEN 1 ELSE -1 END) *
                 (abs(ari_num) * 1000000 // ari_den) END
                 AS BIGINT) AS ari_ppm,
               CAST(maj_c_sum * 1000000 // n AS BIGINT) AS purity_ppm,
               CAST(maj_t_sum * 1000000 // n AS BIGINT)
                 AS inverse_purity_ppm
        FROM r ORDER BY method""")),

    Q(
      "q416_signature_tombstone_delete",
      "SIGNATURE-INDEX DELETE/TOMBSTONE LIFECYCLE — q415's takedown " +
        "verb applied to the dedup stack's own persisted index " +
        "(write q119 → add q128 → compact q323 → DELETE, closing the " +
        "maintenance alphabet on the second index family): " +
        "deleteSignatures appends the kill list (a % 7 slice of the " +
        "q177 decontamination output — every such doc is a train doc, " +
        "hence in the index) as an O(|kill|) sibling-directory write; " +
        "incrementalNeardupPairs anti-joins tombstoned docs out " +
        "BEFORE banding, so a killed doc neither pairs nor generates " +
        "candidates; compactSignatureIndex physically drops the " +
        "tombstoned signatures and clears the set (and now runs on a " +
        "tombstones-only index — no batch subdirectories needed). " +
        "The graded cells are STRONGER than constant booleans where " +
        "the oracle can reach: n_killed, n_pairs_before, and " +
        "n_pairs_removed are all recomputed independently in SQL " +
        "(the exact Jaccard pair set restricted to pairs touching an " +
        "arriving doc — q119's proven premise — split by whether the " +
        "partner is killed); the lifecycle equalities (post-delete " +
        "output == pre-delete output minus killed-touching pairs, " +
        "post-compaction bit-identical, physical drop exactly " +
        "|kill|, tombstones cleared, replay a no-op) are q323-style " +
        "booleans. 100 TB: delete is the kill-list write; the dedup " +
        "overhead is one broadcast anti-join bounded between " +
        "compactions; the drop piggybacks on the compaction rewrite.",
      (s, dir) => {
        import s.implicits._
        val docs = Tables.t(s, dir, "documents")
        val root = graft.TempRoots.freshForDir("graft_sigdel", dir).toString
        initSignatureIndex(docs.filter($"doc_id" % 10 =!= 0), root)
        val probe = docs.filter($"doc_id" % 10 === 0)
        def dedup(): Seq[(Long, Long, Double)] =
          incrementalNeardupPairs(s, root, probe, 0.8)
            .select($"d1", $"d2", $"jac")
            .as[(Long, Long, Double)].collect().toSeq.sorted
        val p0 = dedup()
        val killedIds = contaminatedTrainDocIds(s, dir)
          .filter($"doc_id" % 7 === 3)
          .as[Long].collect().toSet
        val rowsBefore = readSignatureIndex(s, root).count()
        deleteSignatures(
          killedIds.toSeq.sorted.toDF("doc_id"), root)
        val p1 = dedup()
        val expectedP1 = p0.filterNot { case (d1, d2, _) =>
          killedIds.contains(d1) || killedIds.contains(d2) }
        compactSignatureIndex(s, root)
        val tombstonesCleared = signatureTombstones(s, root).count() == 0L
        val p2 = dedup()
        val rowsAfter = readSignatureIndex(s, root).count()
        deleteSignatures(
          killedIds.toSeq.sorted.toDF("doc_id"), root) // replay
        val p3 = dedup()
        Seq((killedIds.size.toLong,
          p0.size.toLong,
          (p0.size - expectedP1.size).toLong,
          p1 == expectedP1,
          p2 == p1,
          rowsBefore - rowsAfter == killedIds.size.toLong,
          tombstonesCleared,
          p3 == p2))
          .toDF("n_killed", "n_pairs_before", "n_pairs_removed",
            "delete_matches_filter", "compaction_bitexact",
            "rows_dropped_exact", "tombstones_cleared", "replay_noop")
      },
      Some(s"""
        WITH $jaccardPairsCte,
        jp AS (
          SELECT d1, d2 FROM jpairs
          WHERE CAST(common AS DOUBLE) / (n1 + n2 - common) >= 0.8),
        touching AS (
          SELECT d1, d2 FROM jp WHERE d1 % 10 = 0 OR d2 % 10 = 0),
        evh AS (SELECT DISTINCT unnest(sh) AS h FROM shng
                WHERE doc_id % 10 = 0),
        cont AS (SELECT DISTINCT u.doc_id
                 FROM (SELECT doc_id, unnest(sh) AS h FROM shng
                       WHERE doc_id % 10 <> 0) u
                 JOIN evh ON u.h = evh.h),
        kill AS (SELECT doc_id FROM cont WHERE doc_id % 7 = 3)
        SELECT (SELECT CAST(count(*) AS BIGINT) FROM kill) AS n_killed,
               (SELECT CAST(count(*) AS BIGINT) FROM touching)
                 AS n_pairs_before,
               (SELECT CAST(count(*) AS BIGINT) FROM touching
                WHERE d1 IN (SELECT doc_id FROM kill)
                   OR d2 IN (SELECT doc_id FROM kill))
                 AS n_pairs_removed,
               true AS delete_matches_filter,
               true AS compaction_bitexact,
               true AS rows_dropped_exact,
               true AS tombstones_cleared,
               true AS replay_noop"""))
  )
}
