package graft.operators

import graft.{Q, QueryModule, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over the embedding column (north-star extension,
  * SURVEY.md §2B): brute-force cosine top-k as the exact baseline, and a
  * random-hyperplane LSH bucketed variant as the scale path.
  *
  * Scale notes (100 TB): brute force is probe-broadcast × corpus-scan —
  * linear in the corpus, embarrassingly parallel, and exact; it is the
  * right plan whenever probes are few. The LSH variant buckets corpus and
  * probes by signature so each probe only scans candidate buckets
  * (probe-side multi-probe = same bucket ∪ 1-bit flips); recall/latency is
  * tuned by nBits/nProbes. Hyperplanes are derived deterministically from
  * a seeded generator, so signatures are stable across runs and can be
  * precomputed + persisted as a column (the IVF-file analogue).
  */
object Similarity extends QueryModule {

  val Dim = 64

  /** Deterministic pseudo-random hyperplanes (unit-free; sign only). */
  def hyperplanes(nBits: Int, seed: Long = 42L): Array[Array[Double]] = {
    val rnd = new scala.util.Random(seed)
    Array.fill(nBits, Dim)(rnd.nextGaussian())
  }

  /** Dot product of an ArrayType(Float) column with a constant plane —
    * the composed HOF formulation, kept as the spec reference for the
    * native kernel (allocates an intermediate array per plane per row). */
  def dotConstComposed(v: Column, plane: Array[Double]): Column =
    aggregate(zip_with(v, typedLit(plane.toSeq), (x, w) => x.cast("double") * w),
      lit(0.0d), (acc, x) => acc + x)

  /** Composed HOF signature (spec reference only). */
  def lshSignatureComposed(v: Column, planes: Array[Array[Double]]): Column =
    planes.zipWithIndex.map { case (p, i) =>
      when(dotConstComposed(v, p) >= 0.0, lit(1L << i)).otherwise(lit(0L))
    }.reduce(_ + _)

  /** LSH bit-signature of an embedding column: all plane dots in one
    * native codegen'd pass (graft.catalyst.HyperplaneSig). Bit-identical
    * to [[lshSignatureComposed]] for non-null full-dimension vectors
    * (sequential double accumulation — asserted in ExtensionSpec);
    * degenerate inputs diverge by design: the kernel treats missing /
    * null components as 0 contribution, while the composed HOF form
    * yields a NULL dot (bit 0) for them. */
  def lshSignature(v: Column, planes: Array[Array[Double]]): Column =
    graft.catalyst.VecOps.hyperplane_sig(v, planes)

  /** Exact cosine similarity between two ArrayType(Float) columns, via the
    * native FloatVecDot kernel (primitive loop in codegen — no per-row
    * intermediate arrays, unlike zip_with+aggregate). */
  def cosine(a: Column, b: Column): Column = {
    import graft.catalyst.VecOps.vec_dot
    vec_dot(a, b) / (sqrt(vec_dot(a, a)) * sqrt(vec_dot(b, b)))
  }

  /** Exact candidate scoring shared by every ANN/knn query: drop
    * self-matches, round(cos, 6) (6-dp so ranking is engine-
    * independent). One definition so the rounding / self-match
    * convention cannot diverge across queries (q66/q67/q97 take the
    * window tail below; q56 feeds the same scores to its bounded
    * Aggregator instead). Input needs (probe_id, vec_id, embedding,
    * probe_vec) columns. */
  def scoredCandidates(candidates: DataFrame): DataFrame = {
    import candidates.sparkSession.implicits._
    candidates
      .filter($"vec_id" =!= $"probe_id")
      .withColumn("cos", round(cosine($"embedding", $"probe_vec"), 6))
      .select($"probe_id", $"vec_id", $"cos")
  }

  /** [[scoredCandidates]] + the per-probe top-k window tail (row_number
    * with vec_id tiebreak). */
  def rerankTopK(candidates: DataFrame, k: Int): DataFrame = {
    import candidates.sparkSession.implicits._
    val w = Window.partitionBy($"probe_id").orderBy($"cos".desc, $"vec_id")
    scoredCandidates(candidates)
      .withColumn("rank", row_number().over(w))
      .filter($"rank" <= k)
      .orderBy($"probe_id", $"rank")
  }

  /** Banded-LSH candidate pairs over an embedding frame — the q68
    * candidate stage, exposed so its sub-quadratic cost can be gated
    * (ShuffleGateSpec) the way the text ladder's shuffle bytes are:
    * candidates only from (v1 < v2) pairs sharing one of `nTables`
    * independent `bandBits`-bit hyperplane signatures; only id pairs
    * flow through the join + distinct. Input needs (vec_id, embedding). */
  def embeddingLshCandidates(e: DataFrame, bandBits: Int = 4,
      nTables: Int = 8, seed: Long = 7L): DataFrame = {
    import e.sparkSession.implicits._
    val planes = hyperplanes(bandBits * nTables, seed)
    val sigs = e.withColumn("sig", lshSignature($"embedding", planes))
    val banded = sigs.select(
      $"vec_id",
      posexplode(expr(
        s"transform(sequence(0, ${nTables - 1}), t -> (sig >> (t * $bandBits)) & ${(1 << bandBits) - 1})"))
        .as(Seq("table_idx", "band_key")))
    val a = banded.select($"vec_id".as("v1"), $"table_idx", $"band_key")
    val b = banded.select($"vec_id".as("v2"), $"table_idx", $"band_key")
    // Candidate stage shuffles ONLY id pairs (the dominant shuffle at
    // scale); embeddings + norms rejoin once per surviving pair.
    a.join(b, Seq("table_idx", "band_key"))
      .filter($"v1" < $"v2")
      .select($"v1", $"v2").distinct()
  }

  /** Exact-cosine confirm on candidate (v1, v2) pairs — rejoin embeddings
    * once per pair, keep cos >= threshold. Shared by q68 and the gate
    * spec so the confirm semantics cannot diverge. */
  def confirmCosine(cand: DataFrame, e: DataFrame, threshold: Double): DataFrame = {
    import graft.catalyst.VecOps.vec_dot
    import e.sparkSession.implicits._
    val withNorm = e.select($"vec_id", $"embedding",
      sqrt(vec_dot($"embedding", $"embedding")).as("norm"))
    cand
      .join(withNorm.select($"vec_id".as("v1"), $"embedding".as("e1"), $"norm".as("nm1")), Seq("v1"))
      .join(withNorm.select($"vec_id".as("v2"), $"embedding".as("e2"), $"norm".as("nm2")), Seq("v2"))
      .withColumn("cos", vec_dot($"e1", $"e2") / ($"nm1" * $"nm2"))
      .filter($"cos" >= threshold)
      .select($"v1", $"v2", round($"cos", 4).as("cos"))
  }

  /** Brute-force top-k: broadcast probes × corpus scan → windowed top-k. */
  def knnBrute(s: SparkSession, dir: String, k: Int, nProbes: Int): DataFrame = {
    import s.implicits._
    val e = Tables.t(s, dir, "embeddings")
    val probes = e.filter($"vec_id" < nProbes)
      .select($"vec_id".as("probe_id"), $"embedding".as("probe_vec"))
    rerankTopK(e.crossJoin(broadcast(probes)), k)
  }

  /** IVF coarse codebook: the first `nlist` corpus vectors, collected as
    * a driver-side constant matrix (codebooks ARE small driver artifacts
    * — same class as the LSH plane matrix; a trained k-means codebook
    * would arrive the same way). The 16×64-double collect is bounded by
    * nlist, never by corpus size. */
  def ivfCodebook(e: DataFrame, nlist: Int): Array[Array[Double]] = {
    import e.sparkSession.implicits._
    // first nlist by id ORDER, not `vec_id < nlist`: on the full fixture
    // corpus (dense ids from 0) the two agree, but a filtered sub-corpus
    // (q233 trains on history only) has id gaps and would silently seed
    // a SMALLER codebook
    e.orderBy($"vec_id").limit(nlist)
      .select($"embedding").collect()
      .map(_.getSeq[Float](0).map(_.toDouble).toArray)
  }

  /** K-means codebook by Lloyd iterations, built from Spark aggregates:
    * assignment is the narrow codegen'd TopCentroids projection (no
    * centroid crossJoin); the update step aggregates per-(cluster, dim)
    * means — k×Dim partial sums with map-side combine, so the shuffle is
    * bounded by k×Dim regardless of corpus size — and collects only the
    * k×Dim mean matrix per iteration (the same driver-artifact class as
    * [[ivfCodebook]]). Means are computed from SCALED-INTEGER sums
    * (round(x·10⁶) per component, summed as longs): long addition is
    * exactly order-independent, so the trained codebook is bit-stable
    * across partitionings and thread counts — a rounded float avg would
    * still flake when a mean lands within ULPs of a rounding boundary,
    * because partial-sum merge order varies run to run. The 10⁻⁶
    * component granularity is far below any centroid-assignment margin.
    * Empty clusters keep their previous centroid. Seeds =
    * [[ivfCodebook]] (first k vectors) — deterministic, no RNG. */
  def kmeansCodebook(e: DataFrame, k: Int, iters: Int): Array[Array[Double]] = {
    import graft.catalyst.VecOps.top_centroids
    import e.sparkSession.implicits._
    var cb = ivfCodebook(e, k)
    for (_ <- 1 to iters) {
      val meanRows = e.select(
          element_at(top_centroids($"embedding", cb, 1), 1).cast("int").as("cid"),
          posexplode($"embedding").as(Seq("pos", "x")))
        .groupBy($"cid", $"pos")
        .agg((sum(round($"x".cast("double") * 1e6).cast("long"))
          .cast("double") / count(lit(1)) / 1e6).as("m"))
        .groupBy($"cid")
        .agg(sort_array(collect_list(struct($"pos", $"m"))).as("ms"))
        .collect()
      val next = cb.map(_.clone())
      meanRows.foreach { r =>
        val cid = r.getInt(0)
        val ms = r.getSeq[org.apache.spark.sql.Row](1)
        next(cid) = ms.map(_.getDouble(1)).toArray
      }
      cb = next
    }
    cb
  }

  /** IVF-Flat ANN: corpus vectors bucketed by nearest-of-nlist coarse
    * centroid (narrow codegen'd TopCentroids projection), probes scan
    * their nprobe nearest inverted lists, exact cosine re-ranks. The
    * q97 operator at its fixture parameters; in 2026-08 the since-deleted
    * scale probe drove it at 100× corpus / 32× probes to measure the
    * sub-linear candidate scan. */
  def knnIvf(s: SparkSession, dir: String, k: Int, nProbes: Int,
      nlist: Int, nprobe: Int): DataFrame = {
    import graft.catalyst.VecOps.top_centroids
    import s.implicits._
    val e = Tables.t(s, dir, "embeddings")
    val cb = ivfCodebook(e, nlist)
    val indexed = e.select($"vec_id", $"embedding",
      element_at(top_centroids($"embedding", cb, 1), 1).as("list_id"))
    val probes = e.filter($"vec_id" < nProbes)
      .select($"vec_id".as("probe_id"), $"embedding".as("probe_vec"),
        explode(top_centroids($"embedding", cb, nprobe)).as("list_id"))
    // each corpus vector lives in exactly one list, so a (probe, vec)
    // candidate appears at most once — no dedup needed before re-rank
    rerankTopK(indexed.join(broadcast(probes), Seq("list_id")), k)
  }

  override def queries: Seq[Q] = Seq(
    Q(
      "q66_knn_brute_force",
      "Exact cosine top-5 neighbors for 8 probe vectors: probes broadcast " +
        "against one corpus scan, per-probe top-k via window (no global " +
        "sort). Ties broken by vec_id on the 6-dp-rounded similarity so " +
        "ranking is engine-independent.",
      (s, dir) => knnBrute(s, dir, k = 5, nProbes = 8),
      Some("""
        WITH probes AS (SELECT vec_id AS probe_id, embedding AS probe_vec
                        FROM embeddings WHERE vec_id < 8),
        sims AS (
          SELECT probe_id, e.vec_id,
                 round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
                                              CAST(probe_vec AS DOUBLE[])), 6) AS cos
          FROM embeddings e CROSS JOIN probes WHERE e.vec_id <> probe_id),
        ranked AS (
          SELECT probe_id, vec_id, cos,
                 CAST(row_number() OVER (PARTITION BY probe_id
                   ORDER BY cos DESC, vec_id) AS INTEGER) AS rank
          FROM sims)
        SELECT probe_id, vec_id, cos, rank FROM ranked WHERE rank <= 5
        ORDER BY probe_id, rank""")),

    Q(
      "q56_knn_topk_agg",
      "Exact top-5 neighbors via the custom bounded TopKCosine Aggregator " +
        "(udaf): O(k) aggregation state per probe with map-side partials, " +
        "vs q66's window sort that shuffles every candidate. Same DuckDB " +
        "oracle as q66 — identical results, different (more scalable) " +
        "physical shape.",
      (s, dir) => {
        import graft.functions.{TopHit, TopKCosine}
        import s.implicits._
        val topk = udaf(new TopKCosine(5))
        val e = Tables.t(s, dir, "embeddings")
        val probes = e.filter($"vec_id" < 8)
          .select($"vec_id".as("probe_id"), $"embedding".as("probe_vec"))
        scoredCandidates(e.crossJoin(broadcast(probes)))
          .groupBy($"probe_id")
          .agg(topk($"vec_id", $"cos").as("top"))
          .select($"probe_id", posexplode($"top").as(Seq("pos", "hit")))
          .select($"probe_id", $"hit.vec_id".as("vec_id"), $"hit.cos".as("cos"),
            ($"pos" + 1).cast("int").as("rank"))
          .orderBy($"probe_id", $"rank")
      },
      Some("""
        WITH probes AS (SELECT vec_id AS probe_id, embedding AS probe_vec
                        FROM embeddings WHERE vec_id < 8),
        sims AS (
          SELECT probe_id, e.vec_id,
                 round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
                                              CAST(probe_vec AS DOUBLE[])), 6) AS cos
          FROM embeddings e CROSS JOIN probes WHERE e.vec_id <> probe_id),
        ranked AS (
          SELECT probe_id, vec_id, cos,
                 CAST(row_number() OVER (PARTITION BY probe_id
                   ORDER BY cos DESC, vec_id) AS INTEGER) AS rank
          FROM sims)
        SELECT probe_id, vec_id, cos, rank FROM ranked WHERE rank <= 5
        ORDER BY probe_id, rank""")),

    Q(
      "q68_embedding_neardup_lsh",
      "LSH-bucketed embedding near-dup pairs — the scale path for q65's " +
        "exact cross-join: candidates only from pairs sharing one of L=8 " +
        "independent 4-bit hyperplane signatures (expected candidate rate " +
        "~L/2^b of the quadratic), exact cosine confirms >= 0.45. " +
        "Deliberately rows-only, NOT oracled against q65's exact SQL: the " +
        "fixture embeddings are uniform random (LSH's adversarial case — " +
        "threshold pairs sit at cos~0.45 where a hyperplane agrees with " +
        "p~0.65, so 4-bit×8-table recall is ~0.8, measured 11/14 at " +
        "sf0.01), and driving recall to 1.0 on such data needs 1-2-bit " +
        "bands whose candidate stage exceeds the exact cross-join — " +
        "defeating the operator. On clustered real-world embeddings the " +
        "same settings approach recall 1. ExtensionSpec asserts " +
        "subset-of-exact + recall floor.",
      (s, dir) => {
        import s.implicits._
        val e = Tables.t(s, dir, "embeddings").select($"vec_id", $"embedding")
        confirmCosine(embeddingLshCandidates(e), e, 0.45)
          .orderBy($"v1", $"v2")
      },
      None),

    Q(
      "q97_knn_ivf",
      "IVF-bucketed ANN (the brief's other scale path next to q67's " +
        "LSH): every corpus vector gets its nearest-of-16 coarse " +
        "centroid as a NARROW codegen'd projection (native TopCentroids " +
        "— no centroid crossJoin, no window shuffle; at 100 TB the " +
        "assignment is a persisted column); each probe scans its " +
        "nprobe=2 nearest inverted lists (~1/8 of the corpus), exact " +
        "cosine re-ranks — classic IVF-Flat. Rows-only check (list " +
        "assignment is quantizer-defined); ExtensionSpec asserts recall " +
        "vs exact q66 + candidate reduction.",
      (s, dir) => knnIvf(s, dir, k = 5, nProbes = 8, nlist = 16, nprobe = 2),
      None),

    Q(
      "q67_knn_lsh",
      "LSH-bucketed ANN: 8-bit random-hyperplane signatures bucket the " +
        "corpus; each probe scans its bucket plus all <=2-bit flips " +
        "(multi-probe, 37/256 of signature space), then exact cosine " +
        "re-ranks. Sub-linear per probe at scale. Rows-only check " +
        "(bucketing is hash-defined); recall + candidate-reduction vs the " +
        "exact baseline are asserted in ExtensionSpec. NOTE: the fixture " +
        "embeddings are uniform random (max pairwise cos ~0.51) — LSH's " +
        "adversarial case; on clustered real-world embeddings recall " +
        "approaches 1 at the same settings.",
      (s, dir) => {
        import s.implicits._
        val nBits = 8
        val planes = hyperplanes(nBits)
        // multi-probe masks: own bucket + all 1-bit and 2-bit flips
        val masks: Seq[Long] = Seq(0L) ++
          (0 until nBits).map(i => 1L << i) ++
          (for (i <- 0 until nBits; j <- i + 1 until nBits) yield (1L << i) | (1L << j))
        val e = Tables.t(s, dir, "embeddings")
          .withColumn("sig", lshSignature($"embedding", planes))
        val probes = e.filter($"vec_id" < 8)
          .select($"vec_id".as("probe_id"), $"embedding".as("probe_vec"), $"sig".as("psig"))
          .withColumn("probe_sig",
            explode(transform(typedLit(masks), m => $"psig".bitwiseXOR(m))))
        // the 37 probe masks are pairwise-distinct XORs of one signature,
        // so a corpus vector's single sig matches at most one of them —
        // (probe, vec) candidates are already unique, no dedup needed
        rerankTopK(e.join(broadcast(probes), $"sig" === $"probe_sig"), 5)
      },
      None),

    Q(
      "q126_semantic_dedup",
      "SemDeDup-style SEMANTIC dedup: a k=8 k-means codebook is trained " +
        "by 3 Lloyd iterations of pure Spark aggregates (narrow native " +
        "assignment, k×dim-bounded mean shuffle, scaled-integer sums " +
        "for exact order-independence), every vector is assigned its " +
        "cluster, and " +
        "near-dup pairs (cos >= 0.45, same exact-confirm kernel as q68) " +
        "are searched ONLY within clusters — sum(m_i^2) candidate work " +
        "instead of q65's n^2, the shape that makes embedding dedup " +
        "feasible at 100 TB (clusters partition the corpus, so each is " +
        "a local problem; duplicate vectors always co-cluster because " +
        "identical points share a nearest centroid). Per-cluster audit: " +
        "members, confirmed dup pairs, dropped docs (keep-smallest-id " +
        "survivor rule). Rows-only (cluster geometry is quantizer-" +
        "defined); SemanticDedupSpec asserts member conservation, " +
        "subset-of-exact-pairs, and that a planted identical pair is " +
        "always caught. Measured (2026-08, scale probe since " +
        "deleted; 20k vectors, k=16): 12.5M " +
        "cluster-local candidate pairs vs 200M brute — 16.0x, exactly " +
        "n^2/k on uniform data — in 2.5 s including codebook training.",
      (s, dir) => {
        import graft.catalyst.VecOps.top_centroids
        import s.implicits._
        val e = Tables.t(s, dir, "embeddings").select($"vec_id", $"embedding")
        val cb = kmeansCodebook(e, 8, 3)
        val assigned = e.withColumn("cid",
          element_at(top_centroids($"embedding", cb, 1), 1).cast("int"))
        val ids = assigned.select($"cid", $"vec_id")
        val cand = ids.select($"cid", $"vec_id".as("v1"))
          .join(ids.select($"cid", $"vec_id".as("v2")), Seq("cid"))
          .filter($"v1" < $"v2")
        val pairs = confirmCosine(cand.select($"v1", $"v2"), e, 0.45)
          .join(ids.select($"cid", $"vec_id".as("v1")), Seq("v1"))
        val dropped = pairs.select($"cid", $"v2".as("vec_id")).distinct()
        assigned.groupBy($"cid").agg(count(lit(1)).as("n_members"))
          .join(pairs.groupBy($"cid").agg(count(lit(1)).as("n_dup_pairs")),
            Seq("cid"), "left")
          .join(dropped.groupBy($"cid").agg(count(lit(1)).as("n_dropped")),
            Seq("cid"), "left")
          .na.fill(0L, Seq("n_dup_pairs", "n_dropped"))
          .orderBy($"cid")
      },
      None),

    Q(
      "q130_embedding_quantize",
      "Symmetric int8 QUANTIZATION of the embedding store — the 4x " +
        "compression a 100 TB vector corpus applies before anything " +
        "else: per-vector scale = max|x|/127, codes = round(x/scale) " +
        "(|codes| <= 127 by construction, no clamp needed), and the " +
        "audit measures what quantization costs — the cosine between " +
        "each vector and its dequantized self. Pure per-row projection " +
        "(zero shuffle, linear at any scale); the scale and self-cosine " +
        "are bit-exact against DuckDB computing the same IEEE ops " +
        "(division, away-from-zero round, sequential dot) at 6 dp.",
      (s, dir) => {
        import s.implicits._
        def dot(a: Column, b: Column): Column =
          aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0d), (acc, x) => acc + x)
        val e = Tables.t(s, dir, "embeddings")
          .select($"vec_id",
            transform($"embedding", x => x.cast("double")).as("e"))
          .withColumn("scale",
            aggregate(transform($"e", x => abs(x)), lit(0.0d),
              (acc, x) => greatest(acc, x)) / 127.0)
          .withColumn("dq",
            transform($"e", x => round(x / $"scale", 0) * $"scale"))
        e.select($"vec_id",
            round($"scale", 6).as("scale"),
            round(dot($"e", $"dq") /
              (sqrt(dot($"e", $"e")) * sqrt(dot($"dq", $"dq"))), 6).as("self_cos"))
          .orderBy($"vec_id")
      },
      Some("""
        WITH q AS (
          SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e,
                 list_max(list_transform(CAST(embedding AS DOUBLE[]),
                   x -> abs(x))) / 127.0 AS scale
          FROM embeddings),
        d AS (
          SELECT vec_id, e, scale,
                 list_transform(e, x -> round(x / scale, 0) * scale) AS dq
          FROM q)
        SELECT vec_id, round(scale, 6) AS scale,
               round(list_cosine_similarity(e, dq), 6) AS self_cos
        FROM d
        ORDER BY vec_id""")),

    Q(
      "q184_centroid_confusion",
      "EMBEDDING-SPACE HEALTH AUDIT: per-label centroids (nearest-class-" +
        "mean classification), reported as the label-vs-assigned " +
        "CONFUSION MATRIX — the 'are my labels separable in embedding " +
        "space' check run before training a classifier head or trusting " +
        "labels for semantic dedup. Everything is EXACT INTEGER " +
        "arithmetic so assignment is bit-stable across engines and " +
        "partitionings: embeddings quantize to int micros " +
        "(floor(x*1e6+0.5) — the deterministic-rounding recipe), " +
        "centroids are the micro-sums rounded via floor(s/n + 0.5) on " +
        "exact-integer-valued doubles (s < 2^53, division IEEE-" +
        "identical), distances are integer squared-L2, argmin " +
        "tie-breaks on label asc. Scale: the centroid aggregate is one " +
        "(label, dim) shuffle with map-side combine; the k-row centroid " +
        "table BROADCASTS onto one scan (k*dim bounded, the q97/q126 " +
        "codebook argument); the per-vector argmin window partitions by " +
        "vec_id (k rows each, never skewed).",
      (s, dir) => {
        import s.implicits._
        val q = Tables.t(s, dir, "embeddings")
          .select($"vec_id", $"label",
            transform($"embedding",
              x => floor(x.cast("double") * 1000000 + 0.5).cast("long"))
              .as("xq"))
        val cent = q.select($"label", posexplode($"xq"))
          .toDF("label", "i", "v")
          .groupBy($"label", $"i")
          .agg(sum($"v").as("s"), count(lit(1)).as("n"))
          .select($"label", $"i",
            floor($"s".cast("double") / $"n" + 0.5).cast("long").as("c"))
          .groupBy($"label")
          .agg(expr("transform(array_sort(collect_list(struct(i, c))), p -> p.c)")
            .as("cvec"))
          .withColumnRenamed("label", "cand")
        val dist = q.crossJoin(broadcast(cent))
          .withColumn("dist",
            aggregate(zip_with($"xq", $"cvec", (a, b) => (a - b) * (a - b)),
              lit(0L), (acc, x) => acc + x))
        val w = Window.partitionBy($"vec_id").orderBy($"dist", $"cand")
        dist.withColumn("rn", row_number().over(w)).filter($"rn" === 1)
          .groupBy($"label".as("true_label"), $"cand".as("assigned_label"))
          .agg(count(lit(1)).as("n_vecs"))
          .orderBy($"true_label", $"assigned_label")
      },
      Some("""
        WITH q AS (
          SELECT vec_id, label,
                 list_transform(CAST(embedding AS DOUBLE[]),
                   x -> CAST(floor(x * 1000000 + 0.5) AS BIGINT)) AS xq
          FROM embeddings),
        pd AS (
          SELECT label, i,
                 CAST(floor(CAST(sum(xq[i]) AS DOUBLE) / count(*) + 0.5)
                   AS BIGINT) AS c
          FROM q CROSS JOIN (SELECT unnest(range(1, 65)) AS i) d
          GROUP BY label, i),
        cent AS (
          SELECT label AS cand, list(c ORDER BY i) AS cvec
          FROM pd GROUP BY label),
        dist AS (
          SELECT q.vec_id, q.label, c.cand,
                 CAST(list_sum([(q.xq[i] - c.cvec[i]) * (q.xq[i] - c.cvec[i])
                                for i in range(1, 65)]) AS BIGINT) AS dist
          FROM q CROSS JOIN cent c),
        a AS (
          SELECT vec_id, label, cand,
                 row_number() OVER (PARTITION BY vec_id
                                    ORDER BY dist, cand) AS rn
          FROM dist)
        SELECT label AS true_label, cand AS assigned_label,
               CAST(count(*) AS BIGINT) AS n_vecs
        FROM a WHERE rn = 1
        GROUP BY label, cand
        ORDER BY true_label, assigned_label""")),

    Q(
      "q195_cross_label_nn",
      "CROSS-CORPUS NEAREST-NEIGHBOR MINING: for every unordered label " +
        "pair, the top-3 most-similar cross-label embedding pairs — the " +
        "bitext/alignment-mining primitive (CCMatrix-style margin " +
        "candidates, cross-domain leakage audit) where each label plays " +
        "the role of a corpus. Determinism is q184's integer recipe " +
        "end-to-end: embeddings quantize to int micros (floor(x*1e6+0.5)), " +
        "the similarity score is the exact INTEGER dot of quantized " +
        "vectors (unit-norm fixtures make it rank like cosine; |score| " +
        "<= 64*1e12 << 2^63), ranking ties break on (v1, v2). Plan: the " +
        "pair space is enumerated by a label-partitioned cross join but " +
        "NEVER materialized — the bounded TopKPairs Aggregator (udaf, " +
        "map-side partials) collapses each map task's pairs into a <=3-" +
        "element buffer per label pair, so the one shuffle carries " +
        "O(k * |label pairs|) rows regardless of corpus size. That is " +
        "the q56-vs-q66 argument applied to pair mining: the window " +
        "formulation would shuffle every scored pair. The enumeration " +
        "itself is the exact-baseline cost (documents' q62/q101 ladder " +
        "analogue); at 100 TB route candidate generation through the " +
        "IVF lists (q97) or LSH bands (q68) per label and keep THIS " +
        "aggregation shape for the re-rank.",
      (s, dir) => {
        import graft.catalyst.VecOps.vec_dot
        import graft.functions.{PairHit, TopKPairs}
        import s.implicits._
        val topk = udaf(new TopKPairs(3))
        // quantized components stay <= ~1e6, exactly representable as
        // FLOAT (< 2^24); vec_dot multiplies+accumulates in DOUBLE, and
        // 64 products of <= 1e12 sum to < 2^53 — so the codegen'd float
        // loop computes the EXACT integer the oracle's BIGINT sum does,
        // ~10x faster than the aggregate(zip_with(...)) HOF form, which
        // allocated a 64-element array per pair (measured: 10.8 s vs
        // ~1 s at 1.8M pairs)
        val q = Tables.t(s, dir, "embeddings")
          .select($"vec_id", $"label",
            transform($"embedding",
              x => floor(x.cast("double") * 1000000 + 0.5).cast("float"))
              .as("xq"))
        val a = q.select($"label".as("la"), $"vec_id".as("v1"), $"xq".as("x1"))
        val b = q.select($"label".as("lb"), $"vec_id".as("v2"), $"xq".as("x2"))
        a.join(b, $"la" < $"lb")
          .withColumn("score", vec_dot($"x1", $"x2").cast("long"))
          .groupBy($"la", $"lb")
          .agg(topk($"v1", $"v2", $"score").as("top"))
          .select($"la", $"lb", posexplode($"top").as(Seq("pos", "hit")))
          .select($"la", $"lb", ($"pos" + 1).cast("int").as("rnk"),
            $"hit.v1".as("v1"), $"hit.v2".as("v2"), $"hit.score".as("score"))
          .orderBy($"la", $"lb", $"rnk")
      },
      Some("""
        WITH q AS (
          SELECT vec_id, label,
                 list_transform(CAST(embedding AS DOUBLE[]),
                   x -> CAST(floor(x * 1000000 + 0.5) AS BIGINT)) AS xq
          FROM embeddings),
        p AS (
          SELECT a.label AS la, b.label AS lb, a.vec_id AS v1, b.vec_id AS v2,
                 CAST(list_sum([a.xq[i] * b.xq[i]
                                for i in range(1, 65)]) AS BIGINT) AS score
          FROM q a JOIN q b ON a.label < b.label),
        r AS (
          SELECT la, lb, v1, v2, score,
                 row_number() OVER (PARTITION BY la, lb
                                    ORDER BY score DESC, v1, v2) AS rnk
          FROM p)
        SELECT la, lb, CAST(rnk AS INTEGER) AS rnk, v1, v2, score
        FROM r WHERE rnk <= 3
        ORDER BY la, lb, rnk""")),

    Q(
      "q227_embedding_drift",
      "EMBEDDING DISTRIBUTION DRIFT MONITOR — did the embedding space " +
        "move between two corpus snapshots? The vector-space analogue " +
        "of q136's scalar source drift: snapshots split by vec_id " +
        "parity (stand-ins for last week's vs this week's index), " +
        "per-label per-dimension INTEGER-MICROS centroids (q184's " +
        "quantization: round(x*1e6) summed as longs, mean by " +
        "truncating div — exact on both engines even for negative " +
        "components since Spark div and DuckDB // both truncate toward " +
        "zero), then the L1 shift between centroids summed over all 64 " +
        "dims plus the single worst dimension. ONE pass: both " +
        "snapshots' sums ride the same (label, dim) aggregate as " +
        "conditional sums — never two scans, never a join; the " +
        "(label x 64)-row domain then collapses map-side. At 100 TB " +
        "the wire carries |labels| x 64 x four longs.",
      (s, dir) => {
        import s.implicits._
        val byDim = Tables.t(s, dir, "embeddings")
          .select($"vec_id", $"label",
            posexplode($"embedding").as(Seq("pos", "x")))
          // floor(x*1e6 + 0.5) on BOTH engines (q184/q195's recipe):
          // Spark round() is HALF_UP away from zero, which diverges
          // from the oracle's floor(+0.5) on negative exact halves
          .withColumn("m",
            floor($"x".cast("double") * 1e6 + 0.5).cast("long"))
          .groupBy($"label", $"pos")
          .agg(
            sum(when($"vec_id" % 2 === 0, $"m").otherwise(0L)).as("sa"),
            sum(when($"vec_id" % 2 === 0, 1L).otherwise(0L)).as("na"),
            sum(when($"vec_id" % 2 === 1, $"m").otherwise(0L)).as("sb"),
            sum(when($"vec_id" % 2 === 1, 1L).otherwise(0L)).as("nb"))
          .withColumn("shift",
            abs(expr("sa div na") - expr("sb div nb")))
        byDim.groupBy($"label")
          .agg(first($"na").as("n_a"), first($"nb").as("n_b"),
            sum($"shift").as("l1_shift_micros"),
            max($"shift").as("max_dim_shift_micros"))
          .orderBy($"label")
      },
      Some("""
        WITH p AS (SELECT unnest(range(64)) AS pos),
        d AS (
          SELECT label, vec_id, pos,
                 CAST(floor(CAST(embedding[CAST(pos AS INTEGER) + 1]
                   AS DOUBLE) * 1000000 + 0.5) AS BIGINT) AS m
          FROM embeddings, p),
        c AS (
          SELECT label, pos,
                 CAST(sum(CASE WHEN vec_id % 2 = 0 THEN m ELSE 0 END)
                   AS BIGINT) AS sa,
                 CAST(sum(CASE WHEN vec_id % 2 = 0 THEN 1 ELSE 0 END)
                   AS BIGINT) AS na,
                 CAST(sum(CASE WHEN vec_id % 2 = 1 THEN m ELSE 0 END)
                   AS BIGINT) AS sb,
                 CAST(sum(CASE WHEN vec_id % 2 = 1 THEN 1 ELSE 0 END)
                   AS BIGINT) AS nb
          FROM d GROUP BY 1, 2),
        sh AS (
          SELECT label, na, nb, abs(sa // na - sb // nb) AS shift
          FROM c)
        SELECT label, CAST(min(na) AS BIGINT) AS n_a,
               CAST(min(nb) AS BIGINT) AS n_b,
               CAST(sum(shift) AS BIGINT) AS l1_shift_micros,
               CAST(max(shift) AS BIGINT) AS max_dim_shift_micros
        FROM sh GROUP BY label ORDER BY label""")),

    Q(
      "q222_pq_codes",
      "PRODUCT-QUANTIZATION CODES (spherical PQ — the compressed " +
        "vector-index representation that completes the ANN storage " +
        "ladder: q130 scalar int8 = 64 B/vec, this = m=4 codebook " +
        "bytes/vec, a 16x further squeeze for billion-vector IVF-PQ " +
        "indexes): the 64-dim embedding splits into 4 x 16-dim " +
        "subspaces, each with its own k=16 codebook trained by TWO " +
        "integer-micros Lloyd iterations (q126's bit-stable kernel, " +
        "spherical because the repo's retrieval metric is cosine " +
        "throughout), and each vector stores only its per-subspace " +
        "nearest-centroid ids plus the cosine residual it pays, in " +
        "1e-6 fixed point. Training shuffles k x subdim partial sums " +
        "per iteration (driver codebooks, the q97/q126 argument); " +
        "CODING is one narrow codegen'd projection — four broadcast " +
        "constant matrices, no join, no shuffle before the ORDER BY — " +
        "so indexing 100 TB of vectors is a single map pass. No SQL " +
        "oracle (codebooks are trainer-defined); PqSpec pins code " +
        "bounds, determinism, agreement with an independent " +
        "SQL-expressed argmax (cross-validating the native " +
        "TopCentroids kernel), and the Lloyd improvement over seed " +
        "codebooks.",
      (s, dir) => pqCode(Tables.t(s, dir, "embeddings"),
        pqCodebooks(Tables.t(s, dir, "embeddings"), iters = 2)),
      None),

    Q(
      "q233_ivf_persisted_knn",
      "PERSISTED IVF INDEX with INCREMENTAL ADD — the piece that turns " +
        "q97's per-query IVF into an index a continuous-ingest corpus " +
        "can actually maintain (the ANN twin of q119's persisted " +
        "signature index): the historical 90% of vectors trains a " +
        "k=16 integer-micros Lloyd codebook ONCE and persists it next " +
        "to partitionBy(list_id) inverted lists; the arriving 10% is " +
        "then assigned against the RELOADED codebook — one narrow " +
        "codegen'd projection over the batch, no retrain, no history " +
        "scan (IvfIndexSpec asserts the add plan's file scans exclude " +
        "the base lists) — and dynamic-partition-overwritten into its " +
        "own batch=<key> partitions (replay-idempotent, q128's " +
        "convention enforced by table layout). The standard " +
        "8 probes then search base ∪ batch at nprobe=2: list_id is a " +
        "PARTITION column, so the probed lists prune at scan time. " +
        "Rows-only (list geometry is quantizer-defined); IvfIndexSpec " +
        "asserts merged-index recall >= the q97 gate vs brute force " +
        "over the SAME corpus, incremental assignment == full-rebuild " +
        "assignment, and replay idempotence. Measured (2026-08, scale " +
        "probe since deleted; 200k vectors): build 180k history 5.0 s; " +
        "incremental add of a 20k batch 1.6 s with ZERO shuffle bytes " +
        "and zero history reads — the add is O(batch) however large the " +
        "index has grown.",
      (s, dir) => {
        import s.implicits._
        val e = Tables.t(s, dir, "embeddings")
          .select($"vec_id", $"embedding")
        val root = graft.TempRoots.freshForDir("graft_ivf_index", dir).toString
        writeIvfIndex(e.filter($"vec_id" % 10 =!= 0), root,
          nlist = 16, iters = 2)
        addIvfBatch(e.filter($"vec_id" % 10 === 0), root, "b0")
        knnIvfPersisted(s, root, e.filter($"vec_id" < 8), k = 5, nprobe = 2)
      },
      None),

    Q(
      "q250_ivf_pq_adc",
      "IVF-PQ SEARCH WITH ASYMMETRIC DISTANCE (ADC) AGAINST THE " +
        "PERSISTED INDEX — the billion-vector shape end to end: q233's " +
        "artifact now persists the PQ codebooks beside the coarse one " +
        "and every list row carries its m=4 code bytes, so search " +
        "TRAINS NOTHING — both codebooks reload as driver artifacts " +
        "(k + m*k rows), history (90%) built the index once, the " +
        "arriving 10% was added incrementally (codes assigned in the " +
        "same narrow batch-only projection as the list ids), and the " +
        "8 probes hit the merged index at nprobe=4. Candidates are " +
        "scored WITHOUT touching raw vectors — the ADC scan is " +
        "column-pruned to ids + codes (IvfIndexSpec asserts the " +
        "embedding column never reaches that scan's read schema), " +
        "approximating dot(probe, v) as sum_j dot(probe_j, " +
        "centroid[code_j]) — then the ADC top-50 re-join their raw " +
        "vectors (broadcast id set, partition-pruned to the probed " +
        "lists) and re-rank EXACTLY. At 100 TB the scored scan reads " +
        "4 bytes + an id per candidate instead of 256 — the " +
        "difference between an index that fits in memory and one " +
        "that doesn't. Rows-only (quantizer-defined); IvfIndexSpec " +
        "gates recall vs exact q66 on the merged index and asserts " +
        "determinism and the zero-training search path.",
      (s, dir) => {
        import s.implicits._
        val e = Tables.t(s, dir, "embeddings").select($"vec_id", $"embedding")
        val root = graft.TempRoots.freshForDir("graft_ivfpq", dir).toString
        writeIvfIndex(e.filter($"vec_id" % 10 =!= 0), root,
          nlist = 16, iters = 2)
        addIvfBatch(e.filter($"vec_id" % 10 === 0), root, "b0")
        adcSearchPersisted(s, root, e.filter($"vec_id" < 8),
          k = 5, nprobe = 4)
      },
      None),

    Q(
      "q305_ivf_compaction",
      "IVF INDEX COMPACTION — the maintenance op that keeps q233's " +
        "continuous-ingest story viable: every incremental add leaves " +
        "one batch=<key> directory per touched list, so a year of " +
        "daily adds is 365*nlist directories of tiny files (the exact " +
        "small-file pathology q268's planner diagnoses for data " +
        "tables, here on the index's own layout). compactIvfLists " +
        "folds every batch partition back into base at one file per " +
        "inverted list (repartition(nlist, list_id) before the write), " +
        "swaps the rewrite in by directory rename so the old lists " +
        "survive a crash mid-compaction, and records the folded keys " +
        "in a manifest that turns a late REPLAY of a folded batch " +
        "into a no-op (a blind rewrite would re-materialize vectors " +
        "that now live in base — the duplication the batch layout " +
        "exists to prevent). This query builds history + two daily " +
        "adds, compacts, and emits the audit: file counts (strictly " +
        "drops), row counts (conserved exactly), and whether the " +
        "standard 8-probe search is bit-identical across the fold " +
        "(it must be — compaction moves bytes, never rows). " +
        "Rows-only (file counts are codec/engine-specific); " +
        "IvfIndexSpec additionally proves replay-after-compaction " +
        "idempotence on a fresh index.",
      (s, dir) => {
        import s.implicits._
        val e = Tables.t(s, dir, "embeddings").select($"vec_id", $"embedding")
        val root = graft.TempRoots.freshForDir("graft_ivfcmp", dir).toString
        writeIvfIndex(e.filter($"vec_id" % 10 =!= 0), root,
          nlist = 16, iters = 2)
        addIvfBatch(e.filter($"vec_id" % 20 === 0), root, "day1")
        addIvfBatch(e.filter($"vec_id" % 20 === 10), root, "day2")
        // counts resolve the CURRENT committed generation — the live
        // table (the retained previous generation is lifecycle
        // insurance, not part of the index)
        def files(): Long = graft.sink.Fs.countFiles(s,
          ivfListsPath(s, root), ".parquet")
        def search(): Seq[org.apache.spark.sql.Row] =
          knnIvfPersisted(s, root, e.filter($"vec_id" < 8),
            k = 5, nprobe = 2).collect().toSeq
        val before = search(); val fb = files()
        val rb = s.read.parquet(ivfListsPath(s, root)).count()
        val folded = compactIvfLists(s, root)
        val after = search(); val fa = files()
        val ra = s.read.parquet(ivfListsPath(s, root)).count()
        Seq((fb, fa, folded.size.toLong, before == after, rb, ra))
          .toDF("files_before", "files_after", "batches_folded",
            "search_unchanged", "rows_before", "rows_after")
      },
      None),

    Q(
      "q306_binary_hamming_knn",
      "1-BIT BINARIZED EMBEDDINGS + HAMMING TOP-10 — the missing rung " +
        "of the ANN storage ladder (float32 256 B -> int8 64 B q130 -> " +
        "binary 8 B here -> PQ 4 B q222): sign-binarize each 64-dim " +
        "vector into two 32-bit words packed as longs (bit i = dim i " +
        "> 0 — a DETERMINISTIC quantizer, which is why this rung gets " +
        "a bit-exact SQL oracle while the trained PQ/IVF rungs are " +
        "rows-only), then rank the corpus per probe by " +
        "bit_count(xor(words)) — XOR+popcount, the cheapest similarity " +
        "kernel that exists. At 100 TB the binarized corpus is 1/32 " +
        "the bytes of the floats; a brute scan over codes is " +
        "SIMD-speed and often beats maintaining an index, and the " +
        "top-M hamming survivors feed the exact re-rank exactly like " +
        "q250's ADC shortlist. Packing is one codegen'd aggregate-HOF " +
        "projection (zero shuffle); the probe side broadcasts; the " +
        "only wide op is the per-probe top-10 window. Ties break by " +
        "vec_id on the integer distance — engine-independent. " +
        "ExtensionSpec measures recall vs exact q66 on these " +
        "worst-case uniform-random fixtures.",
      (s, dir) => {
        import s.implicits._
        def word(base: Int) = expr(
          s"aggregate(sequence(0, 31), 0L, (acc, i) -> acc + " +
            s"CASE WHEN element_at(embedding, i + $base) > 0.0 " +
            s"THEN shiftleft(1L, i) ELSE 0L END)")
        val codes = Tables.t(s, dir, "embeddings")
          .select($"vec_id", word(1).as("w0"), word(33).as("w1"))
        val probes = codes.filter($"vec_id" < 8)
          .select($"vec_id".as("probe_id"), $"w0".as("p0"), $"w1".as("p1"))
        codes.crossJoin(broadcast(probes))
          .filter($"vec_id" =!= $"probe_id")
          .withColumn("hamming",
            (bit_count($"w0".bitwiseXOR($"p0")) +
              bit_count($"w1".bitwiseXOR($"p1"))).cast("int"))
          .withColumn("rank", row_number().over(
            Window.partitionBy($"probe_id")
              .orderBy($"hamming".asc, $"vec_id")))
          .filter($"rank" <= 10)
          .select($"probe_id", $"vec_id", $"hamming",
            $"rank".cast("int").as("rank"))
          .orderBy($"probe_id", $"rank")
      },
      Some("""
        WITH codes AS (
          SELECT vec_id,
            CAST(list_sum([CASE WHEN embedding[i + 1] > 0.0
                           THEN (1::BIGINT << i) ELSE 0 END
                           for i in range(0, 32)]) AS BIGINT) AS w0,
            CAST(list_sum([CASE WHEN embedding[i + 33] > 0.0
                           THEN (1::BIGINT << i) ELSE 0 END
                           for i in range(0, 32)]) AS BIGINT) AS w1
          FROM embeddings),
        probes AS (
          SELECT vec_id AS probe_id, w0 AS p0, w1 AS p1
          FROM codes WHERE vec_id < 8),
        scored AS (
          SELECT probe_id, c.vec_id,
                 CAST(bit_count(xor(c.w0, p0)) + bit_count(xor(c.w1, p1))
                      AS INTEGER) AS hamming
          FROM codes c CROSS JOIN probes WHERE c.vec_id <> probe_id),
        ranked AS (
          SELECT probe_id, vec_id, hamming,
                 CAST(row_number() OVER (PARTITION BY probe_id
                   ORDER BY hamming, vec_id) AS INTEGER) AS rank
          FROM scored)
        SELECT probe_id, vec_id, hamming, rank
        FROM ranked WHERE rank <= 10
        ORDER BY probe_id, rank""")),

    Q(
      "q278_matryoshka_recall",
      "DIMENSION-TRUNCATION RECALL SWEEP (the Matryoshka/MRL question: " +
        "how much of the 64-dim neighborhood survives if queries use " +
        "only the first 8/16/32 dims? — the knob that cuts ANN memory " +
        "and ADC cost 2-8x, q250's speed lever applied to the " +
        "embedding itself): per prefix width, rank the corpus for 8 " +
        "probes by prefix-cosine (q66's rounding/tiebreak convention " +
        "via the shared cosine kernel over slice()) and count how many " +
        "of the full-width top-10 survive; emit mean/min/max recall " +
        "per width, with the 64-dim row a structural 10000 bp control. " +
        "The candidates frame (corpus x 8 broadcast probes) is " +
        "materialized ONCE and the four widths rank slices of it — " +
        "not four cross-join replays. Fixture embeddings are uniform " +
        "random, the WORST case for truncation (no MRL training " +
        "concentrates mass in the prefix), so the measured recall " +
        "floor is the honest lower bound a trained embedding improves " +
        "on. Oracle: DuckDB replays the sweep with list slicing + " +
        "list_cosine_similarity at the same 6-dp rounding.",
      (s, dir) => {
        import s.implicits._
        val e = Tables.t(s, dir, "embeddings")
        val probes = e.filter($"vec_id" < 8)
          .select($"vec_id".as("probe_id"), $"embedding".as("probe_vec"))
        val cand = e.crossJoin(broadcast(probes))
          .filter($"vec_id" =!= $"probe_id")
          .localCheckpoint(true)
        def top10(d: Int) = cand
          .withColumn("cos", round(cosine(
            slice($"embedding", 1, d), slice($"probe_vec", 1, d)), 6))
          .withColumn("rank", row_number().over(
            Window.partitionBy($"probe_id").orderBy($"cos".desc, $"vec_id")))
          .filter($"rank" <= 10)
          .select($"probe_id", $"vec_id")
        val truth = top10(64)
        Seq(8, 16, 32, 64).map { d =>
          val overlap = top10(d)
            .join(truth, Seq("probe_id", "vec_id"), "left_semi")
            .groupBy($"probe_id").agg(count(lit(1)).as("hits"))
          // left-join from the probe list: a probe with ZERO surviving
          // neighbors must count as 0, not vanish from the mean
          probes.select($"probe_id")
            .join(overlap, Seq("probe_id"), "left")
            .na.fill(0L, Seq("hits"))
            .agg(
              expr("(sum(hits) * 10000) div (count(1) * 10)")
                .as("mean_recall_bp"),
              min($"hits").as("min_recall"), max($"hits").as("max_recall"))
            .select(lit(d.toLong).as("dims"), $"mean_recall_bp",
              $"min_recall", $"max_recall")
        }.reduce(_ unionAll _).orderBy($"dims")
      },
      Some("""
        WITH probes AS (
          SELECT vec_id AS probe_id, embedding AS probe_vec
          FROM embeddings WHERE vec_id < 8),
        cand AS (
          SELECT probe_id, e.vec_id, e.embedding, probe_vec
          FROM embeddings e CROSS JOIN probes
          WHERE e.vec_id <> probe_id),
        widths AS (SELECT unnest([8, 16, 32, 64]) AS dims),
        ranked AS (
          SELECT w.dims, c.probe_id, c.vec_id,
                 row_number() OVER (
                   PARTITION BY w.dims, c.probe_id
                   ORDER BY round(list_cosine_similarity(
                     CAST(c.embedding[1:w.dims] AS DOUBLE[]),
                     CAST(c.probe_vec[1:w.dims] AS DOUBLE[])), 6) DESC,
                   c.vec_id) AS rank
          FROM cand c CROSS JOIN widths w),
        top10 AS (
          SELECT dims, probe_id, vec_id FROM ranked WHERE rank <= 10),
        truth AS (
          SELECT probe_id, vec_id FROM top10 WHERE dims = 64),
        overlap AS (
          SELECT t.dims, t.probe_id, count(*) AS o
          FROM top10 t JOIN truth u
            ON t.probe_id = u.probe_id AND t.vec_id = u.vec_id
          GROUP BY 1, 2),
        hits AS (
          SELECT w.dims, p.probe_id, coalesce(o.o, 0) AS hits
          FROM widths w CROSS JOIN probes p
          LEFT JOIN overlap o
            ON o.dims = w.dims AND o.probe_id = p.probe_id)
        SELECT CAST(dims AS BIGINT) AS dims,
               CAST((sum(hits) * 10000) // (count(*) * 10) AS BIGINT)
                 AS mean_recall_bp,
               CAST(min(hits) AS BIGINT) AS min_recall,
               CAST(max(hits) AS BIGINT) AS max_recall
        FROM hits GROUP BY dims ORDER BY dims""")),

    Q(
      "q280_mmr_diversify",
      "MAXIMAL MARGINAL RELEVANCE diversified top-5 (Carbonell & " +
        "Goldstein 1998 — public; the standard redundancy filter on a " +
        "retrieval shortlist before it becomes RAG context or training " +
        "examples): shortlist = top-20 by cosine to the fixture query " +
        "embedding (vec_id=0, the shared rounding/tiebreak convention), " +
        "then 5 greedy rounds of argmax over " +
        "mmr = 0.7*rel - 0.3*max_sim_to_selected (each factor a " +
        "6-dp-rounded double, products/difference single IEEE ops — " +
        "engine-stable, re-rounded to 6 dp). The greedy recurrence is " +
        "inherently serial in k, but k=5 and each round's argmax is a " +
        "bounded limit(1) head over the PRECOMPUTED 20x19 pair-sim " +
        "frame (one localCheckpoint, scored once) — the same " +
        "driver-argmax shape as the BPE loop (q141's ledger entry). At " +
        "100 TB the corpus-scale work is the shortlist scan, which is " +
        "exactly q66/q97's gated retrieval plan; MMR itself never " +
        "touches more than k*|shortlist| precomputed rows. Oracle: the " +
        "5 rounds unrolled as chained CTEs, same argmax tiebreak.",
      (s, dir) => {
        import s.implicits._
        val e = Tables.t(s, dir, "embeddings")
        val probe = e.filter($"vec_id" === 0)
          .select($"embedding".as("probe_vec"))
        val cands = e.filter($"vec_id" =!= 0)
          .crossJoin(broadcast(probe))
          .withColumn("rel", round(cosine($"embedding", $"probe_vec"), 6))
          .orderBy($"rel".desc, $"vec_id").limit(20)
          .select($"vec_id", $"embedding", $"rel")
          .localCheckpoint(true)
        val pairs = cands
          .crossJoin(cands.select($"vec_id".as("other_id"),
            $"embedding".as("other_vec")))
          .filter($"vec_id" =!= $"other_id")
          .withColumn("sim", round(cosine($"embedding", $"other_vec"), 6))
          .select($"vec_id", $"rel", $"other_id", $"sim")
          .localCheckpoint(true)
        var selected = Vector.empty[(Long, Long, Double)] // (step, id, mmr)
        for (step <- 1L to 5L) {
          val sel = selected.map(_._2)
          // bounded argmax: limit(1) over a <=20-row candidate frame
          val next =
            if (sel.isEmpty)
              cands.withColumn("mmr", round($"rel" * lit(0.7), 6))
                .orderBy($"mmr".desc, $"vec_id").limit(1)
                .select($"vec_id", $"mmr").head()
            else
              pairs.filter(!$"vec_id".isin(sel: _*) &&
                  $"other_id".isin(sel: _*))
                .groupBy($"vec_id", $"rel").agg(max($"sim").as("maxsim"))
                .withColumn("mmr",
                  round($"rel" * lit(0.7) - $"maxsim" * lit(0.3), 6))
                .orderBy($"mmr".desc, $"vec_id").limit(1)
                .select($"vec_id", $"mmr").head()
          selected :+= ((step, next.getLong(0), next.getDouble(1)))
        }
        selected.toDF("step", "vec_id", "mmr").orderBy($"step")
      },
      Some("""
        WITH probe AS (SELECT embedding AS probe_vec FROM embeddings
                       WHERE vec_id = 0),
        cand AS (SELECT vec_id, embedding,
                        round(list_cosine_similarity(
                          CAST(embedding AS DOUBLE[]),
                          CAST(probe_vec AS DOUBLE[])), 6) AS rel
                 FROM embeddings CROSS JOIN probe
                 WHERE vec_id <> 0
                 ORDER BY rel DESC, vec_id LIMIT 20),
        pairs AS (SELECT a.vec_id, a.rel, b.vec_id AS other_id,
                         round(list_cosine_similarity(
                           CAST(a.embedding AS DOUBLE[]),
                           CAST(b.embedding AS DOUBLE[])), 6) AS sim
                  FROM cand a JOIN cand b ON a.vec_id <> b.vec_id),
        s1 AS (SELECT vec_id, round(rel * 0.7, 6) AS mmr
               FROM cand ORDER BY mmr DESC, vec_id LIMIT 1),
        sel1 AS (SELECT vec_id FROM s1),
        s2 AS (SELECT p.vec_id,
                      round(p.rel * 0.7 - max(p.sim) * 0.3, 6) AS mmr
               FROM pairs p
               WHERE p.other_id IN (SELECT vec_id FROM sel1)
                 AND p.vec_id NOT IN (SELECT vec_id FROM sel1)
               GROUP BY p.vec_id, p.rel
               ORDER BY mmr DESC, p.vec_id LIMIT 1),
        sel2 AS (SELECT vec_id FROM sel1 UNION ALL SELECT vec_id FROM s2),
        s3 AS (SELECT p.vec_id,
                      round(p.rel * 0.7 - max(p.sim) * 0.3, 6) AS mmr
               FROM pairs p
               WHERE p.other_id IN (SELECT vec_id FROM sel2)
                 AND p.vec_id NOT IN (SELECT vec_id FROM sel2)
               GROUP BY p.vec_id, p.rel
               ORDER BY mmr DESC, p.vec_id LIMIT 1),
        sel3 AS (SELECT vec_id FROM sel2 UNION ALL SELECT vec_id FROM s3),
        s4 AS (SELECT p.vec_id,
                      round(p.rel * 0.7 - max(p.sim) * 0.3, 6) AS mmr
               FROM pairs p
               WHERE p.other_id IN (SELECT vec_id FROM sel3)
                 AND p.vec_id NOT IN (SELECT vec_id FROM sel3)
               GROUP BY p.vec_id, p.rel
               ORDER BY mmr DESC, p.vec_id LIMIT 1),
        sel4 AS (SELECT vec_id FROM sel3 UNION ALL SELECT vec_id FROM s4),
        s5 AS (SELECT p.vec_id,
                      round(p.rel * 0.7 - max(p.sim) * 0.3, 6) AS mmr
               FROM pairs p
               WHERE p.other_id IN (SELECT vec_id FROM sel4)
                 AND p.vec_id NOT IN (SELECT vec_id FROM sel4)
               GROUP BY p.vec_id, p.rel
               ORDER BY mmr DESC, p.vec_id LIMIT 1),
        steps AS (
          SELECT 1 AS step, vec_id, mmr FROM s1
          UNION ALL SELECT 2, vec_id, mmr FROM s2
          UNION ALL SELECT 3, vec_id, mmr FROM s3
          UNION ALL SELECT 4, vec_id, mmr FROM s4
          UNION ALL SELECT 5, vec_id, mmr FROM s5)
        SELECT CAST(step AS BIGINT) AS step, vec_id, mmr
        FROM steps ORDER BY step""")),

    Q(
      "q355_cluster_validity",
      "CLUSTER-VALIDITY METRICS over the embedding corpus grouped by its " +
        "label column (10 clusters of ~50): per-cluster SIMPLIFIED " +
        "SILHOUETTE (Hruschka et al. 2004 — a(i)/b(i) measured to " +
        "CENTROIDS, the O(n*k) form that scales where Rousseeuw's exact " +
        "O(n^2) silhouette cannot) and the per-cluster DAVIES-BOULDIN " +
        "component max_j (S_k+S_j)/d(c_k,c_j) (Davies-Bouldin 1979), " +
        "plus each cluster's nearest other cluster. Centroids are " +
        "(label, dim)-aggregated means ROUNDED TO 6DP before any " +
        "distance touches them, every distance is rounded to 6dp, and " +
        "per-cluster means are rounded at output — the corpus-wide " +
        "recipe that makes IEEE summation-order drift unobservable, so " +
        "the DuckDB oracle is exact. Plan: ONE row-scale pass computes " +
        "all n*k centroid distances against the 10-row broadcast " +
        "centroid frame (zip_with + aggregate, codegen'd, no explode at " +
        "row scale); everything after (DB ratios, nearest-cluster " +
        "argmin) lives on the 10x10 centroid-pair domain. 100 TB: the " +
        "(label, dim) centroid aggregate is the only shuffle; the " +
        "validity report costs one broadcast join more than reading " +
        "the data.",
      (s, dir) => {
        import s.implicits._
        val e = Tables.t(s, dir, "embeddings")
          .select($"vec_id", $"label",
            $"embedding".cast("array<double>").as("v"))
        val cent = e
          .select($"label", posexplode($"v").as(Seq("pos", "x")))
          .groupBy($"label", $"pos").agg(avg($"x").as("cx"))
          .groupBy($"label")
          .agg(expr("transform(array_sort(collect_list(struct(pos, " +
            "cx))), s -> round(s.cx, 6))").as("cvec"))
        val dd = e.crossJoin(broadcast(
            cent.select($"label".as("clabel"), $"cvec")))
          .select($"vec_id", $"label", $"clabel",
            round(sqrt(expr("aggregate(zip_with(v, cvec, " +
              "(x, c) -> (x - c) * (x - c)), 0D, " +
              "(acc, z) -> acc + z)")), 6).as("d"))
        val sil = dd.groupBy($"vec_id", $"label")
          .agg(max(when($"label" === $"clabel", $"d")).as("a"),
            min(when($"label" =!= $"clabel", $"d")).as("b"))
          .withColumn("sc", when(greatest($"a", $"b") === 0.0, 0.0)
            .otherwise(($"b" - $"a") / greatest($"a", $"b")))
          .groupBy($"label")
          .agg(count(lit(1)).as("n_vecs"),
            round(avg($"sc"), 6).as("silhouette"),
            round(avg($"a"), 6).as("scatter"))
        val cd = cent.select($"label".as("la"), $"cvec".as("va"))
          .crossJoin(cent.select($"label".as("lb"), $"cvec".as("vb")))
          .filter($"la" =!= $"lb")
          .select($"la", $"lb",
            round(sqrt(expr("aggregate(zip_with(va, vb, " +
              "(x, c) -> (x - c) * (x - c)), 0D, " +
              "(acc, z) -> acc + z)")), 6).as("cdist"))
        val db = cd
          .join(sil.select($"label".as("la"), $"scatter".as("sa")),
            Seq("la"))
          .join(sil.select($"label".as("lb"), $"scatter".as("sb")),
            Seq("lb"))
          .groupBy($"la")
          .agg(round(max(($"sa" + $"sb") / $"cdist"), 6)
              .as("db_component"),
            min(struct($"cdist", $"lb")).as("nr"))
          .select($"la".as("label"), $"db_component",
            $"nr.lb".as("nearest_label"))
        sil.join(db, Seq("label"))
          .select($"label".cast("long").as("label"), $"n_vecs",
            $"silhouette", $"scatter", $"db_component",
            $"nearest_label".cast("long").as("nearest_label"))
          .orderBy($"label")
      },
      Some("""
        WITH ev AS (
          SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v
          FROM embeddings),
        dims AS (
          SELECT label, r.range AS pos, v[r.range] AS x
          FROM ev CROSS JOIN range(1, 65) r),
        cent AS (
          SELECT label, list(round(cx, 6) ORDER BY pos) AS cvec
          FROM (SELECT label, pos, avg(x) AS cx FROM dims GROUP BY 1, 2)
          GROUP BY label),
        dd AS (
          SELECT e.vec_id, e.label, c.label AS clabel,
                 round(sqrt(list_sum(list_transform(e.v,
                   (x, i) -> (x - c.cvec[i]) * (x - c.cvec[i])))), 6)
                   AS d
          FROM ev e CROSS JOIN cent c),
        ab AS (
          SELECT vec_id, label,
                 max(CASE WHEN label = clabel THEN d END) AS a,
                 min(CASE WHEN label <> clabel THEN d END) AS b
          FROM dd GROUP BY 1, 2),
        sil AS (
          SELECT label, CAST(count(*) AS BIGINT) AS n_vecs,
                 round(avg(CASE WHEN greatest(a, b) = 0.0 THEN 0.0
                   ELSE (b - a) / greatest(a, b) END), 6) AS silhouette,
                 round(avg(a), 6) AS scatter
          FROM ab GROUP BY label),
        cd AS (
          SELECT a.label AS la, b.label AS lb,
                 round(sqrt(list_sum(list_transform(a.cvec,
                   (x, i) -> (x - b.cvec[i]) * (x - b.cvec[i])))), 6)
                   AS cdist
          FROM cent a JOIN cent b ON a.label <> b.label),
        db AS (
          SELECT la AS label,
                 round(max((sa.scatter + sb.scatter) / cd.cdist), 6)
                   AS db_component,
                 min(struct_pack(cdist := cd.cdist, lb := cd.lb)).lb
                   AS nearest_label
          FROM cd
          JOIN sil sa ON sa.label = cd.la
          JOIN sil sb ON sb.label = cd.lb
          GROUP BY la)
        SELECT CAST(sil.label AS BIGINT) AS label, n_vecs, silhouette,
               scatter, db_component,
               CAST(nearest_label AS BIGINT) AS nearest_label
        FROM sil JOIN db ON sil.label = db.label
        ORDER BY label""")),

    Q(
      "q364_ivf_nprobe_sweep",
      "IVF NPROBE RECALL/COST SWEEP — the tuning curve every vector-" +
        "index deployment reads before fixing its latency budget " +
        "(q278's Matryoshka sweep applied to q97's probe knob): " +
        "recall@10 vs exact brute-force truth and candidate-scan cost " +
        "for nprobe in {1,2,4,8} against the 16-list IVF, measured " +
        "from ONE materialized frame. Each corpus vector lives in " +
        "exactly one list; each probe ranks its 8 nearest lists ONCE " +
        "(posexplode of one TopCentroids projection), every candidate " +
        "is cosine-scored ONCE (the shared round-6 convention), and " +
        "the four sweep points materialize by a broadcast theta-join " +
        "on list rank <= nprobe — scoring work does NOT multiply by " +
        "sweep size, only the bounded top-k windows do. Rows-only: " +
        "IVF assignment depends on the trained codebook, outside " +
        "SQL's reach (q97's rationale); the spec pins recall " +
        "monotonicity in nprobe, the candidate-count staircase, and " +
        "the full-sweep recall floor. 100 TB: the sweep reads the " +
        "index once — this is the audit you run BEFORE buying the " +
        "cluster, not after.",
      (s, dir) => {
        import graft.catalyst.VecOps.top_centroids
        import s.implicits._
        val e = Tables.t(s, dir, "embeddings")
        val cb = ivfCodebook(e, 16)
        val indexed = e.select($"vec_id", $"embedding",
          element_at(top_centroids($"embedding", cb, 1), 1)
            .as("list_id"))
        val probes = e.filter($"vec_id" < 8)
          .select($"vec_id".as("probe_id"),
            $"embedding".as("probe_vec"),
            posexplode(top_centroids($"embedding", cb, 8))
              .as(Seq("p0", "list_id")))
          .select($"probe_id", $"probe_vec", $"list_id",
            ($"p0" + 1).as("prank"))
        val scored = indexed.join(broadcast(probes), Seq("list_id"))
          .filter($"vec_id" =!= $"probe_id")
          .withColumn("cos",
            round(cosine($"embedding", $"probe_vec"), 6))
          .select($"probe_id", $"vec_id", $"cos", $"prank")
        val sweep = broadcast(Seq(1, 2, 4, 8).toDF("nprobe"))
        val byNp = scored.join(sweep, $"prank" <= $"nprobe")
        val wTop = Window.partitionBy($"nprobe", $"probe_id")
          .orderBy($"cos".desc, $"vec_id")
        val top10 = byNp
          .withColumn("rk", row_number().over(wTop))
          .filter($"rk" <= 10)
        val truth = knnBrute(s, dir, k = 10, nProbes = 8)
          .select($"probe_id", $"vec_id")
        val hits = top10.join(truth, Seq("probe_id", "vec_id"),
            "left_semi")
          .groupBy($"nprobe").agg(count(lit(1)).as("hits10"))
        val cost = byNp.groupBy($"nprobe")
          .agg(count(lit(1)).as("n_candidates"))
        // recall denominator DERIVED from the truth frame (1-row
        // broadcast), not hardcoded to nProbes*k — a changed probe
        // count or a fixture too small to yield k neighbors per probe
        // shows up as a different denominator, not a silently wrong ppm
        val nTruth = broadcast(truth.agg(count(lit(1)).as("n_truth")))
        cost.join(hits, Seq("nprobe"), "left").crossJoin(nTruth)
          .select($"nprobe".cast("long").as("nprobe"),
            $"n_candidates",
            coalesce($"hits10", lit(0L)).as("hits10"),
            expr("coalesce(hits10, 0) * 1000000 div nullif(n_truth, 0)")
              .as("recall_ppm"))
          .orderBy($"nprobe")
      },
      None),

    Q(
      "q369_power_iteration_pc1",
      "TOP PRINCIPAL COMPONENT BY MATRIX-FREE POWER ITERATION (the " +
        "von Mises iteration — how you do PCA when X is 100 TB and " +
        "the covariance matrix must NEVER materialize): 8 iterations " +
        "of v <- normalize(X'(Xv)) over the centered embedding corpus, " +
        "each iteration TWO row-scale passes — a codegen'd per-row dot " +
        "s = (x-mu).v against the broadcast literal v, then one " +
        "(dim)-grouped aggregate of s*(x_d-mu_d) (64 groups, map-side " +
        "combine — the shuffle carries 64 cells regardless of corpus " +
        "size). Every aggregate is SCALED-INTEGER (micros summed as " +
        "longs/decimals — kmeansCodebook's bit-stability trick, " +
        "order-independent under any partitioning); normalization is " +
        "a 64-value driver artifact in BigInt. Output: per-iteration " +
        "Rayleigh quotient (micro) and its share of total variance " +
        "(ppm) — the convergence curve a platform monitors to stop " +
        "early. PROMOTED round 12 from rows-only to a GENERATED " +
        "oracle (q363/q378's discipline — the q352-style argument " +
        "that a fixed-depth deterministic iteration chain IS " +
        "SQL-expressible): every step is exact-integer (long dots, " +
        "DECIMAL/HUGEINT per-dim sums, truncating divisions with " +
        "signs extracted, BigInteger floor-sqrt normalization — " +
        "replayed in SQL as correctly-rounded double sqrt plus a +-2 " +
        "integer clamp, exact because the double's relative error at " +
        "these magnitudes is under one ulp of the root), so the " +
        "oracle replays all 8 iterations as chained CTEs over the " +
        "exploded (vec_id, pos) frame and the 64-row evolving v " +
        "tables. The spec still pins monotone convergence and the " +
        "EVR bracket [1/64, 1].",
      (s, dir) => {
        import s.implicits._
        val xm = Tables.t(s, dir, "embeddings")
          .select($"vec_id", expr("transform(embedding, " +
            "x -> cast(round(cast(x as double) * 1000000) as bigint))")
            .as("xm"))
          .localCheckpoint(true)
        val n = xm.count()
        // integer-micro mean per dim: floor(sum/n) — a 64-long artifact
        val mu = xm.select(posexplode($"xm").as(Seq("pos", "x")))
          .groupBy($"pos").agg((sum($"x") / n).cast("long").as("m"))
          .orderBy($"pos").collect().map(_.getLong(1))
        val centered = xm
          .select($"vec_id", expr("zip_with(xm, " +
            s"${mu.mkString("array(", "L, ", "L)")}, " +
            "(x, m) -> x - m)").as("c"))
          .localCheckpoint(true)
        // trace*n in micro^2: sum over rows/dims of (x-mu)^2
        val traceN = centered
          .select(expr("aggregate(transform(c, x -> cast(x as " +
            "decimal(38,0)) * x), cast(0 as decimal(38,0)), " +
            "(a, b) -> a + b)").as("sq"))
          .agg(sum($"sq")).head().getDecimal(0).toBigInteger
        var v: Array[Long] = Array.fill(64)(125000L) // 64*0.125^2 = 1
        val iters = (1 to 8).map { it =>
          // ONE pass: per-dim X'(Xv) sums; the Rayleigh numerator
          // (sum sv^2) rides the pos=0 group so no second scan runs
          val rows = centered.select(
              // s scaled down to micro-ish units so the per-dim
              // products below stay in range at any corpus size
              expr(s"aggregate(zip_with(c, " +
                s"${v.mkString("array(", "L, ", "L)")}, " +
                "(x, w) -> x * w), 0L, (a, b) -> a + b) div 10000000")
                .as("sv"), $"c")
            .select($"sv", posexplode($"c").as(Seq("pos", "x")))
            .groupBy($"pos")
            .agg(sum(expr("cast(sv as decimal(38,0)) * x")).as("w"),
              sum(when($"pos" === 0,
                expr("cast(sv as decimal(38,0)) * sv"))).as("r2"))
            .orderBy($"pos").collect()
          val w = rows.map(r => BigInt(r.getDecimal(1).toBigInteger))
          val rnum = BigInt(rows.head.getDecimal(2).toBigInteger)
          val rayleighMicro = (rnum * 100 / (BigInt(n) * 1000000L))
            .toLong
          val evrPpm = (rnum * 100000000L / BigInt(traceN)).toLong
          // normalize w to micro norm 1e6 in exact BigInt
          val norm = BigInt(
            w.map(x => x * x).sum.bigInteger.sqrt()) max BigInt(1)
          v = w.map(x => (x * 1000000L / norm).toLong).toArray
          (it.toLong, rayleighMicro, evrPpm)
        }
        iters.toDF("iteration", "rayleigh_micro", "evr_ppm")
          .orderBy($"iteration")
      },
      Some(powerIterationOracleSql(8))),

    Q(
      "q378_kmeans_elbow",
      "K-MEANS ELBOW SWEEP — the cluster-count selection curve " +
        "(Thorndike 1953) over the shared integer-micros Lloyd " +
        "trainer: inertia (mean squared distance to the assigned " +
        "centroid, micro^2 units) for k in {2,4,8,16} after 2 Lloyd " +
        "iterations each, every leg exact — centroids come from " +
        "kmeansCodebook's order-independent scaled-integer means, " +
        "assignment is the codegen'd TopCentroids projection, and " +
        "the distance sum is LONG/DECIMAL arithmetic on micro " +
        "coordinates, so the curve is bit-stable at any thread " +
        "count. Rows-only: the codebooks are trained driver " +
        "artifacts (q97's rationale); the spec pins the defining " +
        "property — inertia is NON-INCREASING in k — and the " +
        "uniform fixture's shallow elbow. 100 TB: each k costs 2 " +
        "(cluster, dim)-bounded aggregate shuffles + one narrow " +
        "assignment pass; the sweep is embarrassingly sequential " +
        "but each leg is linear.",
      (s, dir) => {
        import graft.catalyst.VecOps.top_centroids
        import s.implicits._
        val e = Tables.t(s, dir, "embeddings")
        val n = e.count()
        val rows = Seq(2, 4, 8, 16).map { k =>
          val cb = kmeansCodebook(e, k, iters = 2)
          val cbm = cb.map(_.map(x => math.round(x * 1e6)))
          val cblit = typedLit(cbm.map(_.toSeq).toSeq)
          val inertiaN = e.select(
              element_at(cblit,
                element_at(top_centroids($"embedding", cb, 1), 1)
                  .cast("int") + 1).as("cm"),
              expr("transform(embedding, x -> cast(round(cast(x as " +
                "double) * 1000000) as bigint))").as("xm"))
            .select(expr("aggregate(zip_with(xm, cm, (x, c) -> " +
              "cast((x - c) as decimal(38,0)) * (x - c)), " +
              "cast(0 as decimal(38,0)), (a, b) -> a + b)").as("d2"))
            .agg(sum($"d2")).head().getDecimal(0).toBigInteger
          (k.toLong, n,
            (BigInt(inertiaN) / BigInt(n)).toLong)
        }
        rows.toDF("k", "n_vecs", "avg_inertia_micro2")
          .orderBy($"k")
      },
      Some(elbowOracleSql)),

    Q(
      "q394_jl_projection_audit",
      "JOHNSON-LINDENSTRAUSS PROJECTION DISTANCE-PRESERVATION AUDIT " +
        "(Achlioptas 2003's database-friendly RADEMACHER projection — " +
        "the +-1 matrix that replaces Gaussian JL at zero multiply " +
        "cost): project the 64-dim embeddings to 16 dims through a " +
        "DETERMINISTIC +-1 matrix (sign = parity of the q361 Knuth " +
        "mixer on the cell index, so BOTH engines build the identical " +
        "matrix from arithmetic alone), then grade E[d_proj^2] = " +
        "m * d_orig^2 on the probe x candidate pair grid: per probe, " +
        "min/max/mean squared-distance ratio in exact cross-multiplied " +
        "ppm — the audit a platform runs before swapping an index to " +
        "projected vectors. Everything is integer: micro coordinates, " +
        "exact long projections (|y| <= 64e6), DECIMAL(38,0)/HUGEINT " +
        "cross-multiplication for the ratio. 100 TB: the projection " +
        "is a narrow map pass (the matrix is 1 KB of arithmetic); the " +
        "audit grid is bounded probes x sample.",
      (s, dir) => {
        import s.implicits._
        val sgn = "((((dd * 16 + j) * 2654435761 + 12345) % 4093) " +
          "% 2 * 2 - 1)"
        val base = Tables.t(s, dir, "embeddings")
          .filter($"vec_id" < 208)
          .select($"vec_id",
            expr("transform(embedding, x -> cast(round(cast(x as " +
              "double) * 1000000) as bigint))").as("xm"))
          .select($"vec_id", $"xm",
            expr(s"transform(sequence(0, 15), j -> " +
              s"aggregate(sequence(0, 63), 0L, (acc, dd) -> " +
              s"acc + element_at(xm, dd + 1) * $sgn))").as("ym"))
        val probes = broadcast(base.filter($"vec_id" < 8)
          .select($"vec_id".as("probe_id"), $"xm".as("pxm"),
            $"ym".as("pym")))
        base.join(probes, $"vec_id" =!= $"probe_id")
          .select($"probe_id", $"vec_id",
            expr("aggregate(zip_with(xm, pxm, (a, b) -> (a - b) * " +
              "(a - b)), 0L, (s, v) -> s + v)").as("d_orig2"),
            expr("aggregate(zip_with(ym, pym, (a, b) -> (a - b) * " +
              "(a - b)), 0L, (s, v) -> s + v)").as("d_proj2"))
          .withColumn("ratio_ppm",
            expr("cast(cast(d_proj2 as decimal(38,0)) * 1000000 div " +
              "nullif(cast(d_orig2 as decimal(38,0)) * 16, 0) " +
              "as bigint)"))
          .groupBy($"probe_id")
          .agg(count(lit(1)).as("n_pairs"),
            min($"ratio_ppm").as("min_ratio_ppm"),
            max($"ratio_ppm").as("max_ratio_ppm"),
            expr("sum(ratio_ppm) div count(1)").as("mean_ratio_ppm"))
          .orderBy($"probe_id")
      },
      Some("""
        WITH base AS (
          SELECT vec_id,
                 [CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT)
                  for x in embedding] AS xm
          FROM embeddings WHERE vec_id < 208),
        proj AS (
          SELECT vec_id, xm,
                 [list_sum([xm[dd + 1] *
                    ((((dd * 16 + j) * 2654435761 + 12345) % 4093)
                      % 2 * 2 - 1)
                    for dd in range(0, 64)])
                  for j in range(0, 16)] AS ym
          FROM base),
        pairs AS (
          SELECT p.vec_id AS probe_id, c.vec_id,
                 list_sum([(c.xm[i] - p.xm[i]) * (c.xm[i] - p.xm[i])
                           for i in range(1, 65)]) AS d_orig2,
                 list_sum([(c.ym[i] - p.ym[i]) * (c.ym[i] - p.ym[i])
                           for i in range(1, 17)]) AS d_proj2
          FROM proj c JOIN proj p ON p.vec_id < 8
            AND c.vec_id <> p.vec_id),
        r AS (
          SELECT probe_id, vec_id,
                 CAST(CAST(d_proj2 AS HUGEINT) * 1000000
                   // nullif(CAST(d_orig2 AS HUGEINT) * 16, 0)
                   AS BIGINT) AS ratio_ppm
          FROM pairs)
        SELECT probe_id, CAST(count(*) AS BIGINT) AS n_pairs,
               min(ratio_ppm) AS min_ratio_ppm,
               max(ratio_ppm) AS max_ratio_ppm,
               CAST(sum(ratio_ppm) // count(*) AS BIGINT)
                 AS mean_ratio_ppm
        FROM r GROUP BY probe_id ORDER BY probe_id""")
    ),

    Q(
      "q415_ivf_tombstone_delete",
      "ANN INDEX DELETE/TOMBSTONE LIFECYCLE — the missing maintenance " +
        "verb after build (q233) → add (q234) → compact (q305): a " +
        "real corpus loop REMOVES vectors (takedowns; the engine's " +
        "own q177 decontamination emits exactly such a kill list, " +
        "and a slice of that list is the takedown feed here), and " +
        "without tombstones one deletion forces a full rebuild. " +
        "Lifecycle: deleteIvfVectors appends the kill list as an " +
        "O(|kill|) metadata write (LSM/Lucene-style — lists never " +
        "touched); every persisted search anti-joins the tombstone " +
        "set out BEFORE ADC scoring, so a deleted vector neither " +
        "appears nor occupies a shortlist slot a live runner-up " +
        "should get; compactIvfLists then drops the tombstoned CODES " +
        "PHYSICALLY and clears the set (crash between swap and clear " +
        "leaves only a harmless no-op filter). The audit runs the " +
        "full cycle — search, delete, search, compact, search, " +
        "REPLAY the delete, search — and grades q323's constant-" +
        "expectation booleans: killed ids absent post-delete, post-" +
        "delete and post-compaction searches BIT-IDENTICAL (logical " +
        "exclusion == physical absence, the contract that makes the " +
        "tombstone filter trustworthy), physical rows dropped " +
        "EXACTLY |kill list|, tombstone set empty after compaction, " +
        "replay of an applied delete a no-op. n_killed itself is " +
        "computed independently by the oracle (the decontamination " +
        "slice joined to the embedding domain in SQL). 100 TB: " +
        "delete cost is the kill-list write; search overhead is one " +
        "broadcast anti-join bounded between compactions; the " +
        "physical drop piggybacks on the compaction rewrite the " +
        "index already owes.",
      (s, dir) => {
        import s.implicits._
        val emb = Tables.t(s, dir, "embeddings")
          .select($"vec_id", $"embedding")
        val root = graft.TempRoots.freshForDir("graft_ivfdel", dir).toString
        writeIvfIndex(emb, root, nlist = 16, iters = 2)
        val probes = emb.filter($"vec_id" % 50 === 7)
        // one physical search per index STATE — result strings and the
        // returned-id set both read the same collected rows (the
        // earlier shape ran the identical deterministic search twice
        // just to project ids)
        def searchRows(): Array[org.apache.spark.sql.Row] =
          adcSearchPersisted(s, root, probes, k = 5, nprobe = 4).collect()
        def strs(rows: Array[org.apache.spark.sql.Row]): Seq[String] =
          rows.toSeq.map(_.toString).sorted
        def search(): Seq[String] = strs(searchRows())
        val r0 = search()
        // takedown feed: the q177 decontamination kill list, sliced
        // (% 7 == 3, ~1/7 of contaminated docs — a realistic takedown
        // batch, not a corpus wipe) and intersected with the ids the
        // index actually holds
        val kill = graft.operators.Dedup.contaminatedTrainDocIds(s, dir)
          .filter($"doc_id" % 7 === 3)
          .join(emb.select($"vec_id"), $"doc_id" === $"vec_id", "left_semi")
          .select($"doc_id".as("vec_id"))
        val killedIds = kill.as[Long].collect().toSet
        val rowsBefore = s.read.parquet(ivfListsPath(s, root)).count()
        deleteIvfVectors(kill, root)
        val r1Rows = searchRows()
        val r1 = strs(r1Rows)
        val killedAbsent =
          !r1Rows.exists(r => killedIds.contains(r.getAs[Long]("vec_id")))
        compactIvfLists(s, root)
        val tombstonesCleared = ivfTombstones(s, root).count() == 0L
        val r2 = search()
        val rowsAfter = s.read.parquet(ivfListsPath(s, root)).count()
        deleteIvfVectors(kill, root) // replay of an already-applied delete
        val r3 = search()
        Seq((killedIds.size.toLong,
          r0 != r1, // the delete visibly changed results
          killedAbsent,
          r1 == r2,
          rowsBefore - rowsAfter == killedIds.size.toLong,
          tombstonesCleared,
          r3 == r2))
          .toDF("n_killed", "delete_observable", "killed_absent",
            "compaction_bitexact", "rows_dropped_exact",
            "tombstones_cleared", "replay_noop")
      },
      Some(s"""
        WITH toks AS (SELECT doc_id,
               ${graft.operators.Dedup.duckTokens} AS t FROM documents),
        shng AS (SELECT doc_id,
               ${graft.operators.Dedup.duckShingles} AS sh FROM toks),
        ev AS (SELECT DISTINCT unnest(sh) AS h FROM shng
               WHERE doc_id % 10 = 0),
        cont AS (SELECT DISTINCT u.doc_id
                 FROM (SELECT doc_id, unnest(sh) AS h FROM shng
                       WHERE doc_id % 10 <> 0) u
                 JOIN ev ON u.h = ev.h),
        kill AS (SELECT c.doc_id FROM cont c
                 JOIN embeddings e ON c.doc_id = e.vec_id
                 WHERE c.doc_id % 7 = 3)
        SELECT CAST(count(*) AS BIGINT) AS n_killed,
               true AS delete_observable,
               true AS killed_absent,
               true AS compaction_bitexact,
               true AS rows_dropped_exact,
               true AS tombstones_cleared,
               true AS replay_noop
        FROM kill"""))
  )

  /** GENERATED DuckDB oracle for q369 — the full 8-iteration power
    * iteration replayed as chained CTEs over the exploded (vec_id, pos)
    * frame (q363/q378's generated-oracle discipline). Bit-safety, leg
    * by leg against the Scala driver loop:
    *  - micro coords / centering: CAST(round(x*1e6) AS BIGINT) then an
    *    integer subtraction of the truncated mean — Spark's
    *    (sum/n).cast(long) is a DOUBLE division then truncation, and
    *    the sums here (<= 2^31-ish micros) are exactly representable,
    *    so trunc(sum::DOUBLE / n) replays it bit-for-bit;
    *  - per-row dot sv: exact BIGINT sum, then `// 1e7` — DuckDB's //
    *    truncates toward zero exactly like Spark's div (verified on
    *    negative operands);
    *  - per-dim X'(Xv) and the Rayleigh numerator: HUGEINT, the
    *    oracle-side DECIMAL(38,0);
    *  - normalization: BigInteger.sqrt is floor-sqrt; the replay takes
    *    floor(sqrt(x::DOUBLE)) — correctly rounded, so off by at most
    *    ~sqrt(x)*2^-52 < 1 at the ~1e31 magnitudes here — and clamps
    *    with a +-2 integer search (max r with r^2 <= x), making the
    *    result EXACT, not approximately right;
    *  - the v update divides |w|*1e6 by the norm with the sign pulled
    *    out (both engines truncate toward zero on non-negatives). */
  private def powerIterationOracleSql(nIters: Int): String = {
    def it(i: Int): String = s"""
      svd$i AS MATERIALIZED (
        SELECT ce.vec_id,
               CAST(sum(ce.c * v.v) AS BIGINT) // 10000000 AS sv
        FROM ce JOIN v${i - 1} v USING (pos) GROUP BY ce.vec_id),
      w$i AS MATERIALIZED (
        SELECT ce.pos,
               CAST(sum(CAST(s.sv AS HUGEINT) * ce.c) AS HUGEINT) AS w
        FROM ce JOIN svd$i s USING (vec_id) GROUP BY ce.pos),
      r$i AS (SELECT CAST(sum(CAST(sv AS HUGEINT) * sv) AS HUGEINT)
                AS rnum FROM svd$i),
      nsq$i AS (SELECT CAST(sum(w * w) AS HUGEINT) AS x FROM w$i),
      n0$i AS (SELECT x, CAST(floor(sqrt(CAST(x AS DOUBLE))) AS HUGEINT)
                 AS r0 FROM nsq$i),
      nrm$i AS (
        SELECT greatest(CAST(1 AS HUGEINT),
          (SELECT max(r0 + d.d)
           FROM n0$i, (VALUES (-2),(-1),(0),(1),(2)) d(d)
           WHERE r0 + d.d >= 0 AND (r0 + d.d) * (r0 + d.d) <= x)) AS norm
        FROM n0$i),
      v$i AS MATERIALIZED (
        SELECT pos,
               CAST((CASE WHEN w >= 0 THEN 1 ELSE -1 END) *
                    ((abs(w) * 1000000) // (SELECT norm FROM nrm$i))
                 AS BIGINT) AS v
        FROM w$i),
      out$i AS (
        SELECT CAST($i AS BIGINT) AS iteration,
               CAST(rnum * 100 // (CAST((SELECT n FROM nn) AS HUGEINT)
                 * 1000000) AS BIGINT) AS rayleigh_micro,
               CAST(rnum * 100000000 // (SELECT t FROM tr) AS BIGINT)
                 AS evr_ppm
        FROM r$i)"""
    s"""
      WITH xe AS MATERIALIZED (
        SELECT vec_id, g.pos,
               CAST(round(CAST(embedding[g.pos + 1] AS DOUBLE) * 1000000)
                 AS BIGINT) AS x
        FROM embeddings, generate_series(0, 63) g(pos)),
      nn AS (SELECT CAST(count(DISTINCT vec_id) AS BIGINT) AS n FROM xe),
      mu AS MATERIALIZED (
        SELECT pos, CAST(trunc(CAST(sum(x) AS DOUBLE) / (SELECT n FROM nn))
          AS BIGINT) AS m
        FROM xe GROUP BY pos),
      ce AS MATERIALIZED (
        SELECT xe.vec_id, xe.pos, xe.x - mu.m AS c
        FROM xe JOIN mu USING (pos)),
      tr AS (SELECT CAST(sum(CAST(c AS HUGEINT) * c) AS HUGEINT) AS t
             FROM ce),
      v0 AS MATERIALIZED (
        SELECT g.pos, CAST(125000 AS BIGINT) AS v
        FROM generate_series(0, 63) g(pos)),
      ${(1 to nIters).map(it).mkString(",")}
      SELECT * FROM (${(1 to nIters).map(i => s"SELECT * FROM out$i")
        .mkString(" UNION ALL ")})
      ORDER BY iteration"""
  }

  /** GENERATED DuckDB oracle for q378 — the FULL k-means pipeline (seed →
    * 2 Lloyd iterations → assignment → inertia) replayed in SQL, per
    * sweep point (q363/q373's generated-oracle discipline). Why this is
    * bit-safe where "trained state isn't SQL-expressible" usually holds:
    *  - assignments only need the same ARGMAX, not the same cosine bits —
    *    the measured min top-2 cosine margin on the fixture is 3.4e-4
    *    (k=4 after 2 Lloyd iterations, the tightest sweep point), ~10 orders
    *    above any double-summation reorder error, so both engines pick
    *    identical centroids for every vector;
    *  - every other step IS exact: seed = first-k float vectors, mean =
    *    (exact long micro-sum as double)/count/1e6 — the identical IEEE
    *    division sequence on both engines — and inertia is pure integer
    *    (micro diffs squared in HUGEINT vs DECIMAL(38,0));
    *  - empty clusters keep their previous centroid (COALESCE over a
    *    LEFT JOIN = kmeansCodebook's clone-then-overwrite);
    *  - cm uses floor(c*1e6 + 0.5), Scala math.round's exact semantics
    *    (DuckDB round() differs on negative halves);
    *  - tie-break = row_number over (cos DESC, cid ASC), TopCentroids'
    *    strict-> scan order.
    * vp/vn and every centroid table are AS MATERIALIZED — vp is
    * referenced 13 times and an inlined chain blows up DuckDB planning
    * (the q363 lesson). */
  private def elbowOracleSql: String = {
    def sweep(k: Int): String = {
      def assign(it: Int, cents: String): String = s"""
        dot${k}_$it AS MATERIALIZED (
          SELECT vp.vec_id, c.cid, sum(vp.x * c.c) AS dot
          FROM vp JOIN $cents c ON vp.pos = c.pos GROUP BY 1, 2),
        cn${k}_$it AS (SELECT cid, sqrt(sum(c * c)) AS cnorm
                       FROM $cents GROUP BY 1),
        a${k}_$it AS MATERIALIZED (
          SELECT vec_id, cid FROM (
            SELECT d.vec_id, d.cid,
                   row_number() OVER (PARTITION BY d.vec_id ORDER BY
                     (CASE WHEN vn.vnorm = 0 OR cn.cnorm = 0 THEN 0
                           ELSE d.dot / (vn.vnorm * cn.cnorm) END) DESC,
                     d.cid) AS rk
            FROM dot${k}_$it d
            JOIN vn ON d.vec_id = vn.vec_id
            JOIN cn${k}_$it cn ON d.cid = cn.cid)
          WHERE rk = 1)"""
      def mean(it: Int, prev: String): String = s"""
        m${k}_$it AS (
          SELECT a.cid, vp.pos,
                 CAST(sum(CAST(round(vp.x * 1000000) AS BIGINT)) AS DOUBLE)
                   / count(*) / 1000000.0 AS c
          FROM vp JOIN a${k}_$it a ON vp.vec_id = a.vec_id GROUP BY 1, 2),
        c${k}_$it AS MATERIALIZED (
          SELECT p.cid, p.pos, COALESCE(m.c, p.c) AS c
          FROM $prev p
          LEFT JOIN m${k}_$it m ON p.cid = m.cid AND p.pos = m.pos)"""
      s"""
        seed$k AS MATERIALIZED (
          SELECT vec_id AS cid, pos, CAST(embedding[pos] AS DOUBLE) AS c
          FROM embeddings, generate_series(1, 64) g(pos)
          WHERE vec_id < $k),
        ${assign(1, s"seed$k")},
        ${mean(1, s"seed$k")},
        ${assign(2, s"c${k}_1")},
        ${mean(2, s"c${k}_1")},
        ${assign(3, s"c${k}_2")},
        cm$k AS (SELECT cid, pos,
                        CAST(floor(c * 1000000 + 0.5) AS BIGINT) AS cm
                 FROM c${k}_2),
        ine$k AS (
          SELECT CAST($k AS BIGINT) AS k,
                 (SELECT CAST(count(*) AS BIGINT) FROM embeddings)
                   AS n_vecs,
                 CAST(sum(CAST(CAST(round(vp.x * 1000000) AS BIGINT)
                            - cm.cm AS HUGEINT)
                        * (CAST(round(vp.x * 1000000) AS BIGINT) - cm.cm))
                      // (SELECT count(*) FROM embeddings) AS BIGINT)
                   AS avg_inertia_micro2
          FROM vp
          JOIN a${k}_3 a ON vp.vec_id = a.vec_id
          JOIN cm$k cm ON a.cid = cm.cid AND vp.pos = cm.pos)"""
    }
    val ks = Seq(2, 4, 8, 16)
    s"""
      WITH vp AS MATERIALIZED (
        SELECT vec_id, pos, CAST(embedding[pos] AS DOUBLE) AS x
        FROM embeddings, generate_series(1, 64) g(pos)),
      vn AS MATERIALIZED (
        SELECT vec_id, sqrt(sum(x * x)) AS vnorm FROM vp GROUP BY 1),
      ${ks.map(sweep).mkString(",")}
      SELECT * FROM (${ks.map(k => s"SELECT * FROM ine$k")
        .mkString(" UNION ALL ")})
      ORDER BY k"""
  }

  /** Per-subspace spherical codebooks for [[pqCode]]: subspace j is the
    * 16-dim slice [j*16, (j+1)*16) of the embedding, trained by
    * [[kmeansCodebook]]'s integer-micros Lloyd on that slice (iters = 0
    * gives the deterministic seed codebooks — the spec's baseline). */
  def pqCodebooks(e: DataFrame, m: Int = 4, sub: Int = 16, k: Int = 16,
      iters: Int = 2): Seq[Array[Array[Double]]] = {
    import e.sparkSession.implicits._
    (0 until m).map { j =>
      kmeansCodebook(
        e.select($"vec_id",
          slice($"embedding", j * sub + 1, sub).as("embedding")),
        k, iters)
    }
  }

  /** Assign PQ codes + cosine residuals against the given per-subspace
    * codebooks: one narrow projection (native TopCentroids argmax per
    * subspace + FloatVecDot residual against the chosen centroid), no
    * shuffle. resid_e6 = sum over subspaces of round((1-cos)*1e6). */
  def pqCode(e: DataFrame, cbs: Seq[Array[Array[Double]]],
      sub: Int = 16): DataFrame = {
    import e.sparkSession.implicits._
    import graft.catalyst.VecOps.top_centroids
    val m = cbs.size
    val coded = (0 until m).foldLeft(e.select($"vec_id", $"embedding")) {
      case (df, j) =>
        val sl = slice($"embedding", j * sub + 1, sub)
        val cblit = typedLit(cbs(j).map(_.toSeq).toSeq)
        val code = element_at(top_centroids(sl, cbs(j), 1), 1)
        df.withColumn(s"code$j", code)
          .withColumn(s"r$j",
            lit(1.0) - cosine(sl,
              element_at(cblit, col(s"code$j") + 1).cast("array<float>")))
    }
    coded.select(
      $"vec_id" +: (0 until m).map(j => col(s"code$j")) :+
        (0 until m).map(j => round(col(s"r$j") * 1e6).cast("long"))
          .reduce(_ + _).as("resid_e6"): _*)
      .orderBy($"vec_id")
  }

  // ——— Persisted IVF index with incremental add (q233/q234) ———
  //
  // The embedding-side twin of the dedup stack's persisted signature
  // index (Dedup.writeSignatureIndex / addSignatureIndexBatch): q97's
  // IVF re-trains its codebook per query, which a continuous-ingest
  // corpus (the reference's whole premise — a poll loop appending
  // forever) cannot afford. Here the codebook is trained ONCE, persisted
  // next to the inverted lists, and arriving batches are assigned
  // against the PERSISTED codebook — one narrow codegen'd projection
  // over the batch, zero history reads, zero retraining.

  /** Assign each vector its nearest-centroid inverted list — the narrow
    * TopCentroids projection (no join, no shuffle); the whole cost of
    * indexing a batch at 100 TB is this one map pass. */
  def ivfAssign(e: DataFrame, cb: Array[Array[Double]]): DataFrame = {
    import e.sparkSession.implicits._
    import graft.catalyst.VecOps.top_centroids
    e.select($"vec_id", $"embedding",
      element_at(top_centroids($"embedding", cb, 1), 1).cast("int")
        .as("list_id"))
  }

  /** [[ivfAssign]] + PQ codes in the SAME narrow projection: each row
    * gains its inverted-list id and, per subspace j, the nearest-centroid
    * code against pqs(j) (the [[pqCode]] convention, minus the residual
    * column the index doesn't store). Still no join, no shuffle — coding
    * a batch at 100 TB remains one map pass whatever m is. */
  def ivfPqAssign(e: DataFrame, cb: Array[Array[Double]],
      pqs: Seq[Array[Array[Double]]]): DataFrame = {
    import e.sparkSession.implicits._
    import graft.catalyst.VecOps.top_centroids
    val sub = pqs.head.head.length
    pqs.indices.foldLeft(ivfAssign(e, cb)) { (df, j) =>
      df.withColumn(s"code$j",
        element_at(
          top_centroids(slice($"embedding", j * sub + 1, sub), pqs(j), 1), 1)
          .cast("int"))
    }
  }

  /** Train the coarse codebook AND all m PQ subspace codebooks in ONE
    * Lloyd loop — one corpus scan per iteration instead of 1 + m
    * separate loops (the naive form costs (1+m)×(iters+1) corpus
    * passes; an index build over 100 TB of vectors pays that
    * multiplier on its dominant job). Bit-identical to running
    * [[kmeansCodebook]] then [[pqCodebooks]] sequentially: seeds are
    * the same first-max(nlist,k) vectors (collected once, sliced per
    * subspace), and each iteration aggregates the same
    * round(x·10⁶)-scaled long sums per (codebook, centroid, dim)
    * group — long addition is order-independent, so fusing the
    * aggregations cannot move a mean by even an ULP (PqSpec asserts
    * the equality outright). Per exploded component the row
    * contributes to exactly two groups — the coarse book (spec −1,
    * dim = pos) and its subspace's book (spec = pos/sub,
    * dim = pos%sub) — so the shuffle stays bounded by
    * (1+m)·k·Dim whatever the corpus size. */
  def trainIvfPqCodebooks(e: DataFrame, nlist: Int = 16, m: Int = 4,
      sub: Int = 16, k: Int = 16, iters: Int = 2)
      : (Array[Array[Double]], Seq[Array[Array[Double]]]) = {
    import graft.catalyst.VecOps.top_centroids
    import e.sparkSession.implicits._
    val seeds = e.orderBy($"vec_id").limit(math.max(nlist, k))
      .select($"embedding").collect()
      .map(_.getSeq[Float](0).map(_.toDouble).toArray)
    var coarse = seeds.take(nlist)
    var pqs = (0 until m).map(j =>
      seeds.take(k).map(_.slice(j * sub, (j + 1) * sub)))
    for (_ <- 1 to iters) {
      val assigned = e.select(
        $"embedding" +:
          element_at(top_centroids($"embedding", coarse, 1), 1)
            .cast("int").as("cid_c") +:
          (0 until m).map(j => element_at(
            top_centroids(slice($"embedding", j * sub + 1, sub), pqs(j), 1),
            1).cast("int").as(s"cid$j")): _*)
      val meanRows = assigned
        .select(posexplode($"embedding").as(Seq("pos", "x")),
          $"cid_c", array((0 until m).map(j => col(s"cid$j")): _*).as("scids"))
        .select(explode(array(
          struct(lit(-1).as("spec"), $"cid_c".as("cid"),
            $"pos".as("dim"), $"x"),
          struct(($"pos" / sub).cast("int").as("spec"),
            element_at($"scids", ($"pos" / sub).cast("int") + 1).as("cid"),
            ($"pos" % sub).as("dim"), $"x"))).as("c"))
        .groupBy($"c.spec", $"c.cid", $"c.dim")
        .agg((sum(round($"c.x".cast("double") * 1e6).cast("long"))
          .cast("double") / count(lit(1)) / 1e6).as("mval"))
        .groupBy($"spec", $"cid")
        .agg(sort_array(collect_list(struct($"dim", $"mval"))).as("ms"))
        .collect()
      val nextCoarse = coarse.map(_.clone())
      val nextPqs = pqs.map(_.map(_.clone()))
      meanRows.foreach { r =>
        val spec = r.getInt(0); val cid = r.getInt(1)
        val ms = r.getSeq[org.apache.spark.sql.Row](2)
          .map(_.getDouble(1)).toArray
        if (spec == -1) nextCoarse(cid) = ms else nextPqs(spec)(cid) = ms
      }
      coarse = nextCoarse; pqs = nextPqs
    }
    (coarse, pqs)
  }

  /** Train (integer-micros Lloyd — bit-stable, [[kmeansCodebook]]) and
    * persist an IVF-PQ index artifact — the billion-vector layout:
    * `path/codebook` = the k×Dim coarse centroid table (one tiny parquet
    * — the driver-artifact that incremental adds RELOAD instead of
    * retrain);
    * `path/pq_codebooks` = the m×k per-subspace product-quantization
    * centroids ([[pqCodebooks]]), persisted for the same reason — ADC
    * search must train NOTHING;
    * `path/lists` = ONE partitioned table `batch=<key>/list_id=<n>` —
    * the inverted lists (the parquet analogue of an IVF file's posting
    * lists, one physical directory per list so probed lists prune at
    * scan time), sub-partitioned by the ingest batch that wrote them so
    * an add (or a replay of one) only ever touches its own
    * subdirectories. Each list row carries the vector's m PQ code bytes
    * (`code0..code{m-1}`), so [[adcSearchPersisted]] can score
    * candidates column-pruned to codes + id — never reading embeddings
    * until the exact re-rank of the ≤shortlist survivors.
    * `path/compacted_batches` = the (initially empty) manifest of batch
    * keys [[compactIvfLists]] has folded into base — the record that
    * keeps a replayed add of a folded batch a no-op instead of a
    * duplication. The lists table lives inside a GENERATION-committed
    * directory ([[graft.sink.GenDir]]): the initial build publishes
    * generation 1, adds write INTO the current generation, and
    * compaction publishes the folded rewrite as the NEXT generation
    * through one one-winner claim — readers always resolve a complete
    * table at every instant of every maintenance op (the old
    * delete/move/move swap's brief-absence window, and the heal code
    * it required, are structurally gone). */
  def writeIvfIndex(corpus: DataFrame, path: String, nlist: Int = 16,
      iters: Int = 2, copyCodebooksFrom: Option[String] = None): Unit = {
    val s = corpus.sparkSession
    import s.implicits._
    // fused trainer: one corpus scan per Lloyd iteration trains the
    // coarse book and all m PQ books (bit-identical to the sequential
    // kmeansCodebook + pqCodebooks — PqSpec asserts it).
    // copyCodebooksFrom reuses another index's persisted books instead
    // of retraining: the trainer is deterministic, so for the SAME
    // training slice the copied books are bit-identical to a fresh
    // train (IvfIndexSpec pins it) — a reference-index build against
    // an existing index's books skips its Lloyd scans entirely.
    val (cb, pqs) = copyCodebooksFrom match {
      case Some(src) => (readIvfCodebook(s, src), readPqCodebooks(s, src))
      case None => trainIvfPqCodebooks(corpus, nlist = nlist, iters = iters)
    }
    // codebooks are driver arrays on BOTH ends of the I/O — written
    // and read through TinyParquet (Spark-readable LIST encoding), so
    // an index build/reload no longer pays a Spark job per artifact
    graft.sink.TinyParquet.write(s, s"$path/codebook",
      Seq("cid" -> "int", "centroid" -> "array<double>"),
      cb.zipWithIndex.map { case (c, i) => Seq(i, c.toSeq) }.toSeq,
      overwrite = true)
    graft.sink.TinyParquet.write(s, s"$path/pq_codebooks",
      Seq("subspace" -> "int", "cid" -> "int",
        "centroid" -> "array<double>"),
      pqs.zipWithIndex.flatMap { case (pk, j) =>
        pk.zipWithIndex.map { case (c, i) => Seq(j, i, c.toSeq) }
      }.toSeq, overwrite = true)
    // driver-side mint (TinyParquet): the ledger is driver-sized
    // metadata — a Spark write job per index build was pure overhead
    graft.sink.TinyParquet.write(s, s"$path/compacted_batches",
      Seq("batch_key" -> "string"), Nil, overwrite = true)
    // the (initially empty) tombstone set — deletes append here,
    // searches anti-join it, compaction applies + clears it
    graft.sink.Tombstones.clear(s, s"$path/tombstones", "vec_id")
    // one writer task per list -> ONE file per inverted list (the
    // posting-list ideal; 32 shuffle partitions x nlist dirs would
    // otherwise scatter ~500 small files every search pays to open);
    // published as generation 1 of the generation-committed lists dir
    graft.sink.GenDir.publishStaged(s, s"$path/lists") { staged =>
      ivfPqAssign(corpus, cb, pqs).withColumn("batch", lit("base"))
        .repartition(nlist, col("list_id"))
        .write.partitionBy("batch", "list_id")
        .mode("overwrite").parquet(staged)
    }
  }

  /** The lists table's CURRENT committed generation — the one path every
    * reader and writer resolves ([[graft.sink.GenDir]] resolution: the
    * highest committed `g_N`). Partition discovery, pruning, and the
    * `batch=`/`list_id=` layout are untouched — the generation dir IS
    * the table root. */
  def ivfListsPath(s: SparkSession, path: String): String =
    graft.sink.GenDir.resolve(s, s"$path/lists").getOrElse(
      throw new IllegalStateException(
        s"no committed lists generation under $path — writeIvfIndex first"))

  /** Driver-artifact cache for the tiny per-index metadata tables the
    * verbs reload constantly — codebooks (immutable once minted),
    * PQ codebooks, and the compacted-batches ledger (append-only).
    * Keyed by (dir, INCARNATION = sorted part-file listing): every
    * rewrite/append mints fresh UUID part names, so a changed table is
    * a NEW cache key and a stale row is unreachable — the same
    * discipline as the snapshot stores' manifest caches, applied to
    * the index family. Each lookup costs one metadata listing; the
    * previous shape paid a small Spark job per call — an add + search
    * lifecycle pays it ~6-10 times per index. */
  private val artifactCache = new java.util.concurrent
    .ConcurrentHashMap[(String, String), AnyRef]()

  private def cachedArtifact[T <: AnyRef](s: SparkSession, dir: String)(
      load: => T): T = {
    val inc = graft.sink.Fs.listNames(s, dir)
      .filter(_.endsWith(".parquet")).mkString(",")
    artifactCache.keySet.removeIf(k => k._1 == dir && k._2 != inc)
    artifactCache.computeIfAbsent((dir, inc), _ => load).asInstanceOf[T]
  }

  /** Reload the persisted coarse codebook (k rows — a driver artifact,
    * same class as the LSH plane matrix). */
  def readIvfCodebook(s: SparkSession, path: String): Array[Array[Double]] =
    cachedArtifact(s, s"$path/codebook") {
      graft.sink.TinyParquet.read(s, s"$path/codebook",
          Seq("cid" -> "int", "centroid" -> "array<double>"))
        .sortBy(_.head.asInstanceOf[Int])
        .map(_(1).asInstanceOf[Seq[Double]].toArray).toArray
    }

  /** Reload the persisted per-subspace PQ codebooks (m×k rows — the same
    * driver-artifact class as the coarse codebook). */
  def readPqCodebooks(s: SparkSession, path: String): Seq[Array[Array[Double]]] =
    cachedArtifact(s, s"$path/pq_codebooks") {
      graft.sink.TinyParquet.read(s, s"$path/pq_codebooks",
          Seq("subspace" -> "int", "cid" -> "int",
            "centroid" -> "array<double>"))
        .groupBy(_.head.asInstanceOf[Int]).toSeq.sortBy(_._1)
        .map(_._2.sortBy(_(1).asInstanceOf[Int])
          .map(_(2).asInstanceOf[Seq[Double]].toArray).toArray)
    }

  /** Batch keys [[compactIvfLists]] has folded into base — empty until
    * the first compaction. */
  def compactedBatchKeys(s: SparkSession, path: String): Set[String] =
    cachedArtifact(s, s"$path/compacted_batches") {
      graft.sink.TinyParquet.read(s, s"$path/compacted_batches",
        Seq("batch_key" -> "string"))
        .map(_.head.asInstanceOf[String]).toSet
    }

  // ——— Tombstone / delete lifecycle (q415) ———
  //
  // A real corpus loop REMOVES vectors — takedowns, and the engine's own
  // q177 decontamination produces exactly such a kill list. Without
  // tombstones a single deletion forces a full index rebuild (retraining
  // the codebook, rewriting every list). The lifecycle here is the
  // classic LSM/Lucene delete: deletes are O(|kill list|) metadata
  // appends; every search anti-joins the (tiny, bounded-between-
  // compactions) tombstone set out of the candidate stage BEFORE any
  // scoring; the next [[compactIvfLists]] applies them PHYSICALLY
  // (drops the coded rows) and clears the list. Bit-exactness contract:
  // a tombstone-filtered search and a post-compaction search return
  // IDENTICAL rows (the filter runs before the shortlist, so physical
  // absence and logical exclusion admit the same runner-up candidates) —
  // q415 grades that equality, replay-safety, and exact physical drop
  // counts every round.

  /** Append a kill list (any single-id-column frame) to the index's
    * tombstone set. Idempotent by READ-side distinct: replaying a delete
    * appends duplicate rows but changes no search result and no
    * compaction outcome (q415's replay_noop cell). O(|kill|) — never
    * touches the lists. */
  def deleteIvfVectors(kill: DataFrame, path: String): Unit =
    graft.sink.Tombstones.append(kill, s"$path/tombstones", "vec_id")

  /** The current tombstone set (distinct vec_ids; empty frame when the
    * index predates the delete lifecycle or was just compacted).
    * Bounded between compactions — compaction applies and clears it —
    * so broadcasting it into the search anti-join stays cheap; an
    * operator letting millions of deletes pile up should compact, not
    * widen this join. */
  def ivfTombstones(s: SparkSession, path: String): DataFrame =
    graft.sink.Tombstones.read(s, s"$path/tombstones", "vec_id")

  /** Candidate rows minus tombstoned ids — applied BEFORE shortlist /
    * scoring in every persisted-index search, so a logically-deleted
    * vector can neither appear in results nor occupy a shortlist slot
    * a live runner-up should get (that slot-freeing is what makes
    * post-delete and post-compaction searches bit-identical). */
  private def dropTombstoned(lists: DataFrame, s: SparkSession,
      path: String): DataFrame =
    lists.join(broadcast(ivfTombstones(s, path)), Seq("vec_id"),
      "left_anti")

  /** Add an arriving batch to the persisted index WITHOUT retraining and
    * WITHOUT touching history: reload the codebook (k rows), assign the
    * batch in one narrow projection, and DYNAMIC-partition-overwrite the
    * batch's own `batch=<key>` partitions — an at-least-once replay
    * rewrites exactly the same partitions (same batch + same persisted
    * codebook → deterministically the same lists), so it is idempotent
    * where a blind append would double a replayed batch's vectors in
    * every later search (the q128 signature-index convention, enforced
    * here by the table layout instead of by a subdirectory glob). A key
    * already folded into base by [[compactIvfLists]] is a NO-OP — the
    * replay-of-a-compacted-batch case, where rewriting `batch=<key>`
    * would duplicate every vector compaction just moved. IvfIndexSpec
    * asserts the plan scans ONLY the batch + codebooks — history
    * embeddings never re-read. */
  def addIvfBatch(batch: DataFrame, path: String, batchKey: String): Unit = {
    val s = batch.sparkSession
    if (compactedBatchKeys(s, path).contains(batchKey)) return
    val cb = readIvfCodebook(s, path)
    val pqs = readPqCodebooks(s, path)
    // resolve-write-recheck: if a concurrent compaction published a
    // NEW generation mid-write, this add landed in the superseded one
    // and would silently vanish with its lagging GC — redo into the
    // current generation (idempotent: same batch + same books =>
    // identical partitions), unless the compaction already FOLDED this
    // key (then base holds the rows and the redo must stay a no-op).
    // Index maintenance is single-consumer by contract; this guard
    // turns the one dangerous interleave into eventual landing.
    var attempts = 0
    var done = false
    while (!done) {
      val gen = ivfListsPath(s, path)
      graft.Confs.withConf(s, "spark.sql.sources.partitionOverwriteMode",
        "dynamic") {
        ivfPqAssign(batch, cb, pqs).withColumn("batch", lit(batchKey))
          .write.partitionBy("batch", "list_id")
          .mode("overwrite").parquet(gen)
      }
      done = ivfListsPath(s, path) == gen ||
        compactedBatchKeys(s, path).contains(batchKey)
      attempts += 1
      require(attempts < 100, s"add of $batchKey cannot land under $path")
    }
  }

  /** MAINTENANCE: fold every `batch=<key>` partition back into
    * `batch=base`, one file per inverted list — the small-file problem
    * q268 plans for, applied to the index's own layout: a year of daily
    * adds is 365×nlist directories of tiny files, and every search pays
    * their open/footer costs forever. Row multiset is preserved exactly
    * (search results are bit-identical before/after); the folded keys
    * are appended to `path/compacted_batches` so a late replay of a
    * folded batch stays a no-op ([[addIvfBatch]]) instead of
    * re-materializing vectors that now live in base. The rewrite is
    * staged privately and published as the lists dir's NEXT
    * generation through one one-winner claim ([[graft.sink.GenDir]]):
    * the live table is complete at every instant — there is no
    * between-renames absence window anymore, hence no heal path (the
    * previous generation is retained one publish cycle, so a reader
    * that resolved it mid-compaction still reads complete bytes; a
    * crash mid-compaction leaves only an invisible staged dir for the
    * age-gated vacuum). Returns the folded keys. */
  def compactIvfLists(s: SparkSession, path: String): Seq[String] = {
    import s.implicits._
    val lists = s.read.parquet(ivfListsPath(s, path))
    val folded = lists.select($"batch").distinct()
      .as[String].collect().filter(_ != "base").sorted.toSeq
    // one tombstone read serves both the early-exit gate and the
    // anti-join below (the two-scan shape paid a redundant job per
    // maintenance call, including the common no-tombstone case)
    val tomb = ivfTombstones(s, path)
    val nTombstoned = tomb.count()
    if (folded.isEmpty && nTombstoned == 0) return Nil
    // nlist from the cached driver artifact — zero jobs (was a Spark
    // count over the codebook file per maintenance call)
    val nlist = readIvfCodebook(s, path).length
    // one shuffle bounded by the index size; repartition(nlist, list_id)
    // → at most one writer task per list → one file per list directory.
    // Tombstoned rows are dropped HERE — the physical application of
    // every delete since the last compaction; because searches already
    // excluded them before the shortlist, this rewrite cannot change
    // any search result (q415's compaction_bitexact cell).
    graft.sink.GenDir.publishStaged(s, s"$path/lists") { staged =>
      lists.join(broadcast(tomb), Seq("vec_id"), "left_anti")
        .withColumn("batch", lit("base"))
        .repartition(nlist, $"list_id")
        .write.partitionBy("batch", "list_id")
        .mode("overwrite").parquet(staged)
    }
    if (folded.nonEmpty)
      graft.sink.TinyParquet.write(s, s"$path/compacted_batches",
        Seq("batch_key" -> "string"), folded.map(Seq(_)),
        overwrite = false)
    // tombstones are now physically applied — clear the set AFTER the
    // lists swap (the ordering argument lives on Tombstones.clear). A
    // vector re-ADDED after this clear is new data and searches
    // normally (the delete was applied, not eternal).
    graft.sink.Tombstones.clear(s, s"$path/tombstones", "vec_id")
    folded
  }

  /** ANN top-k against the PERSISTED index (base lists ∪ every added
    * batch): probes compute their nprobe nearest centroids from the
    * reloaded codebook and join the lists on list_id — the list_id is a
    * PARTITION column, so the broadcast probe side dynamically prunes
    * the scan to the probed lists (nprobe/nlist of the corpus touched,
    * the IVF contract, enforced in-plan rather than by bookkeeping).
    * Exact cosine re-ranks — identical scoring/tie conventions to
    * q66/q97 ([[rerankTopK]]). */
  def knnIvfPersisted(s: SparkSession, path: String, probes: DataFrame,
      k: Int, nprobe: Int): DataFrame = {
    import graft.catalyst.VecOps.top_centroids
    import s.implicits._
    val cb = readIvfCodebook(s, path)
    val lists = dropTombstoned(
      s.read.parquet(ivfListsPath(s, path)), s, path)
    val p = probes
      .select($"vec_id".as("probe_id"), $"embedding".as("probe_vec"),
        explode(top_centroids($"embedding", cb, nprobe)).as("lid"))
      .select($"probe_id", $"probe_vec", $"lid".cast("int").as("list_id"))
    rerankTopK(lists.join(broadcast(p), Seq("list_id")), k)
  }

  /** IVF-PQ ADC search against the PERSISTED artifact — search trains
    * NOTHING: both codebooks are reloaded driver artifacts (k + m×k
    * rows) and the candidate stage reads ONLY (ids + m code columns)
    * from the probed lists — Catalyst column-prunes the embedding out
    * of the ADC scan because nothing references it, so at 100 TB the
    * scored scan touches m + 8 bytes per candidate instead of the
    * 256-byte vector. ADC approximates dot(probe, v) as
    * Σ_j dot(probe_j, pq_centroid_j[code_j]) (probe side exact,
    * candidate side its codes); the per-probe ADC top-`shortlist`
    * survivors then re-join their RAW vectors — a broadcast of the
    * ≤ probes×shortlist id set against the lists, partition-pruned to
    * the probed `list_id` directories — and re-rank exactly with
    * q66/q97's scoring/tie conventions ([[rerankTopK]]). */
  def adcSearchPersisted(s: SparkSession, path: String, probes: DataFrame,
      k: Int, nprobe: Int, shortlist: Int = 50): DataFrame = {
    import graft.catalyst.VecOps.{top_centroids, vec_dot}
    import s.implicits._
    val cb = readIvfCodebook(s, path)
    val pqs = readPqCodebooks(s, path)
    // subspace width comes FROM the persisted artifact — a pqCodebooks
    // retune cannot silently desync the probe-side slicing
    val sub = pqs.head.head.length
    // tombstones drop out BEFORE the ADC scoring / shortlist, so a
    // deleted vector frees its shortlist slot for the live runner-up
    val lists = dropTombstoned(
      s.read.parquet(ivfListsPath(s, path)), s, path)
    val p = probes
      .select($"vec_id".as("probe_id"), $"embedding".as("probe_vec"),
        explode(top_centroids($"embedding", cb, nprobe)).as("lid"))
      .select($"probe_id", $"probe_vec", $"lid".cast("int").as("list_id"))
    val adc = pqs.indices.map { j =>
      val cblit = typedLit(pqs(j).map(_.toSeq).toSeq)
      vec_dot(slice($"probe_vec", j * sub + 1, sub),
        element_at(cblit, col(s"code$j") + 1).cast("array<float>"))
    }.reduce(_ + _)
    val short = lists.join(broadcast(p), Seq("list_id"))
      .filter($"vec_id" =!= $"probe_id")
      .withColumn("adc", adc)
      .withColumn("srank", row_number().over(
        Window.partitionBy($"probe_id").orderBy($"adc".desc, $"vec_id")))
      .filter($"srank" <= shortlist)
      .select($"probe_id", $"probe_vec", $"list_id", $"vec_id")
    rerankTopK(
      lists.select($"list_id", $"vec_id", $"embedding")
        .join(broadcast(short), Seq("list_id", "vec_id")), k)
  }
}
