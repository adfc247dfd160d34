package graft.tools

import graft._
import org.apache.spark.sql.functions._

/** Scale probe: generates 10x-bench-scale synthetic data in /tmp
  * (51k documents with planted near-dups over a deliberately DENSE
  * 30-word vocabulary + 6M lineitem rows) and times the heavy operators.
  *
  * Measured (local[32], round 1): q01 aggregate over 6M rows 2.3s
  * (linear); exact inverted-index Jaccard 67s — the dense vocabulary
  * makes every shingle frequent (df~110), so the self-join degenerates
  * quadratically, which is precisely the adversarial case the SURVEY
  * flags; MinHash+LSH finds the SAME 1000 planted pairs in 2.2s. This is
  * the empirical basis for the Dedup scaladoc's guidance: q62 is the
  * exact baseline/ground-truth, q63 is the path that survives 100 TB.
  */
object Stress {
  def main(args: Array[String]): Unit = {
    val s = GraftSession.create()
    import s.implicits._
    // SPARK_GRAFT_STRESS_MULT scales the ROW-based fixtures (lineitem,
    // events) beyond the default 10x-bench scale — e.g. 10 gives 60M rows
    // (100x bench) to extend the scaling curve. Document probes stay at
    // 51k (the naive exact baseline is deliberately quadratic-ish; its
    // 10x number is the documented evidence already).
    val mult = sys.env.getOrElse("SPARK_GRAFT_STRESS_MULT", "1").toInt
    val out = if (mult == 1) "/tmp/graft_stress" else s"/tmp/graft_stress_x$mult"
    val vocab = Seq("the","fast","key","order","sort","table","scan","merge","part","window",
      "small","hash","join","spark","group","query","row","data","slow","filter","customer",
      "line","batch","value","stream","a","index","page","cache","disk")
    val vlit = typedLit(vocab)
    // 50k docs, ~60 tokens each; 2% near-dup pairs (copy with one token changed)
    val langlit = typedLit(Seq("en", "de", "fr", "es", "zh"))
    val base = s.range(50000).select($"id".as("doc_id"),
      array_join(transform(sequence(lit(0), lit(59)), i =>
        element_at(vlit, ((xxhash64($"id", i) % 30 + 30) % 30 + 1).cast("int"))), " ").as("text"),
      // two source arms (4-char vs 5-char name) so the matched-control
      // probe (q211) has non-empty treatment/control strata, mirroring
      // the fixtures' src0-9 vs src10-19 split
      when($"id" % 2 === 0, "src1").otherwise("src15").as("source"),
      element_at(langlit, ($"id" % 5 + 1).cast("int")).as("lang"))
    val dups = s.range(1000).select(($"id" + 50000).as("doc_id"),
      array_join(concat(array(lit("dup")), transform(sequence(lit(1), lit(59)), i =>
        element_at(vlit, ((xxhash64($"id", i) % 30 + 30) % 30 + 1).cast("int")))), " ").as("text"),
      when($"id" % 2 === 0, "src1").otherwise("src15").as("source"),
      element_at(langlit, ($"id" % 5 + 1).cast("int")).as("lang"))
    // dups share tokens 1..59 with base doc id -> jaccard ~0.95
    base.union(dups).withColumn("n_chars", length($"text"))
      .write.mode("overwrite").parquet(s"$out/documents.parquet")
    // 6M lineitem-ish rows
    s.range(6000000L * mult).select(
      ($"id" / 4).cast("long").as("l_orderkey"),
      (xxhash64($"id") % 20000 + 20000) % 20000 as "l_partkey",
      (xxhash64($"id", lit(1)) % 1000 + 1000) % 1000 as "l_suppkey",
      ($"id" % 7 + 1).cast("int").as("l_linenumber"),
      (abs(xxhash64($"id", lit(2)) % 50) + 1).cast("double").as("l_quantity"),
      (abs(xxhash64($"id", lit(3)) % 10000000) / 100.0 + 1.0).as("l_extendedprice"),
      (abs(xxhash64($"id", lit(4)) % 11) / 100.0).as("l_discount"),
      (abs(xxhash64($"id", lit(5)) % 9) / 100.0).as("l_tax"),
      element_at(typedLit(Seq("A","N","R")), ($"id" % 3 + 1).cast("int")).as("l_returnflag"),
      element_at(typedLit(Seq("O","F")), ($"id" % 2 + 1).cast("int")).as("l_linestatus"),
      timestamp_seconds(lit(800000000L) + ($"id" % 200000000)).cast("timestamp_ntz").as("l_shipdate"))
      .write.mode("overwrite").parquet(s"$out/lineitem.parquet")
    // 6M events (ts stored as NANOS longs, matching the fixture layout the
    // Tables loader normalizes): 10k users, skewed type mix, ~2 years span
    s.range(6000000L * mult).select(
      $"id".as("event_id"),
      (lit(1700000000000000000L) + ($"id" % 60000000L) * 1000000000L).as("ts"),
      ((xxhash64($"id", lit(7)) % 10000 + 10000) % 10000).as("user_id"),
      element_at(typedLit(Seq("click", "view", "purchase", "signup", "error")),
        ((xxhash64($"id", lit(8)) % 5 + 5) % 5 + 1).cast("int")).as("event_type"),
      (abs(xxhash64($"id", lit(9)) % 100000) / 100.0).as("value"),
      // real {"k": 0..99} payloads so the attribution probe (q210)
      // exercises the JSON channel extraction, matching the fixture shape
      concat(lit("{\"k\": "),
        ((xxhash64($"id", lit(10)) % 100 + 100) % 100).cast("string"),
        lit("}")).as("props"))
      .write.mode("overwrite").parquet(s"$out/events.parquet")
    // 1.5M orders keyed to the lineitem l_orderkey domain (id/4), 30k
    // customers — the bipartite graph for the PageRank probe
    s.range(1500000L * mult).select(
      $"id".as("o_orderkey"),
      ((xxhash64($"id", lit(11)) % 30000 + 30000) % 30000).as("o_custkey"),
      element_at(typedLit(Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")),
        ($"id" % 5 + 1).cast("int")).as("o_orderpriority"),
      (abs(xxhash64($"id", lit(12)) % 50000000) / 100.0).as("o_totalprice"),
      // order dates over the same ~2-year span as lineitem shipdates —
      // the q302/q304 probes need the calendar axis
      timestamp_seconds(lit(800000000L) + (xxhash64($"id", lit(13))
        % 60000000 + 60000000) % 60000000).cast("timestamp_ntz")
        .as("o_orderdate"))
      .write.mode("overwrite").parquet(s"$out/orders.parquet")
    // 30k customers / 20k parts — the dimension tables the governance,
    // clustering and basket probes read (q283/q292/q294/q302/q304)
    s.range(30000).select(
      $"id".as("c_custkey"),
      ($"id" % 25).cast("int").as("c_nationkey"),
      (abs(xxhash64($"id", lit(14)) % 1000000) / 100.0).as("c_acctbal"),
      element_at(typedLit(Seq("AUTOMOBILE", "BUILDING", "FURNITURE",
        "HOUSEHOLD", "MACHINERY")), ($"id" % 5 + 1).cast("int"))
        .as("c_mktsegment"))
      .write.mode("overwrite").parquet(s"$out/customer.parquet")
    s.range(20000).select(
      $"id".as("p_partkey"),
      concat(lit("Brand#"), (($"id" % 5) + 1).cast("string"),
        ((xxhash64($"id", lit(15)) % 5 + 5) % 5 + 1).cast("string"))
        .as("p_brand"))
      .write.mode("overwrite").parquet(s"$out/part.parquet")
    // nation/supplier dims for the round-10 probes (q358 region ranks,
    // q357-family supplier joins): 25 nations over 5 regions, 1000
    // suppliers matching the lineitem l_suppkey domain
    s.range(25).select(
      $"id".as("n_nationkey"),
      concat(lit("NATION"), $"id".cast("string")).as("n_name"),
      ($"id" % 5).as("n_regionkey"))
      .write.mode("overwrite").parquet(s"$out/nation.parquet")
    s.range(1000).select(
      $"id".as("s_suppkey"),
      concat(lit("Supplier#"), $"id".cast("string")).as("s_name"),
      ($"id" % 25).as("s_nationkey"),
      lit(0.0).as("s_acctbal"))
      .write.mode("overwrite").parquet(s"$out/supplier.parquet")
    // 200k embeddings (100x the sf0.1 fixture), 64-dim float, uniform in
    // [-1, 1] — the ANN ladder's corpus
    s.range(200000).select(
      $"id".as("vec_id"),
      transform(sequence(lit(0), lit(63)), i =>
        (((xxhash64($"id", i) % 2001 + 2001) % 2001 - 1000) / 1000.0)
          .cast("float")).as("embedding"),
      ($"id" % 10).cast("int").as("label"))
      .write.mode("overwrite").parquet(s"$out/embeddings.parquet")
    println("generated")

    // Shuffle-write bytes of each timed block are evidence for the
    // candidate-stage slimming (id-pair-only distinct). A drain timeout
    // must not abort the run: the measurement is already in hand, only the
    // shuffle counter may be short.
    def time(label: String)(f: => Any): Unit = {
      val r = Profile.record(s)(f)
      if (r.drainTimedOut)
        System.err.println(s"STRESS $label: listener bus drain timed out;" +
          " shuffle MiB may undercount")
      println(f"STRESS $label%-28s ${r.wallMs / 1000}%8.2f s  shuffle ${r.shuffleWriteBytes / 1048576.0}%9.1f MiB  (${r.result})")
    }
    // heavy operators at 10x
    time(s"q01 agg ${6 * mult}M rows") {
      SparkEntry.queries("q01_pricing_summary")(s, out).count()
    }
    time("jaccard 51k docs") {
      graft.operators.Dedup.jaccardPairs(s, out, 0.8).count()
    }
    time("jaccard prefix 51k docs") {
      graft.operators.Dedup.jaccardPrefixPairs(s, out, 0.8).count()
    }
    time("minhash lsh 51k docs") {
      SparkEntry.queries("q63_minhash_lsh_pairs")(s, out).count()
    }
    time("neardup clusters 51k docs") {
      graft.operators.Dedup.neardupClusters(s, out, 0.8).count()
    }
    // The daily incremental regime: one index build amortized over many
    // arriving batches — the per-batch cost is what the pipeline pays
    // daily, and it must be O(batch + collisions), not O(corpus) (the
    // full 51k recompute is the `minhash lsh` line above).
    time("sig index build 50k docs") {
      graft.operators.Dedup.writeSignatureIndex(
        Tables.t(s, out, "documents").filter($"doc_id" < 50000), s"$out/sig_index")
      "written"
    }
    time("incremental dedup 1k batch") {
      graft.operators.Dedup.incrementalNeardupPairs(s, s"$out/sig_index",
        Tables.t(s, out, "documents").filter($"doc_id" >= 50000), 0.8).count()
    }
    // Bloom routing: the exact anti-join only sees batch rows the corpus
    // filter cannot rule out — the printed "routed" fraction is the join
    // input reduction a 100 TB corpus multiplies.
    time("bloom routed dedup 25k batch") {
      val docs = Tables.t(s, out, "documents")
      val batch = graft.operators.Dedup.recrawlBatch(docs)
      val (dn, cand, cn) = graft.operators.Dedup.bloomRoutedNew(docs, batch)
      val kept = dn.unionByName(cn).count()
      s"$kept kept; ${cand.count()} of ${batch.count()} routed to the join"
    }
    // Semantic-dedup candidate stage at 20k vectors: cluster-local pairs
    // vs the n^2/2 cross product — the sum(m_i^2) reduction is the whole
    // point of the SemDeDup shape (q126).
    time("semantic cluster 20k embeddings") {
      val e = Tables.t(s, out, "embeddings").filter($"vec_id" < 20000)
        .select($"vec_id", $"embedding")
      val cb = graft.operators.Similarity.kmeansCodebook(e, 16, 2)
      val ids = e.select($"vec_id", element_at(
        graft.catalyst.VecOps.top_centroids($"embedding", cb, 1), 1)
        .cast("int").as("cid"))
      val candPairs = ids.select($"cid", $"vec_id".as("v1"))
        .join(ids.select($"cid", $"vec_id".as("v2")), Seq("cid"))
        .filter($"v1" < $"v2").count()
      val n2 = 20000L * 19999 / 2
      f"$candPairs cand pairs vs n2/2=$n2 (${n2.toDouble / candPairs}%.1f x fewer)"
    }
    time(s"asof native ${6 * mult}M events") {
      SparkEntry.queries("q19_asof_join_native")(s, out).count()
    }
    // Duplicate-span coverage (q140): linear in total grams + the
    // duplicate grams' occurrence lists — the no-suffix-array ExactSubstr
    // analogue; the planted 1000 near-dup docs dominate the dup set.
    // Summing the coverage (not count()) forces the gram pipeline:
    // count over the left join would let Catalyst ELIMINATE the entire
    // dup-gram computation (unique join keys + outer join ⇒ row-count
    // identity) and time an empty plan.
    time("dup spans 51k docs") {
      SparkEntry.queries("q140_duplicate_spans")(s, out)
        .agg(sum($"dup_tokens")).head().getLong(0)
    }
    // Containment (q145) shares q62's sum(df^2) inverted-index cost — the
    // exact-baseline tier of the same ladder (prefix filter / LSH are the
    // production tiers); expect the q62-class number, not the q63 one.
    time("containment 51k docs") {
      graft.operators.Dedup.containmentPairs(s, out, 0.9).count()
    }
    // The one-sided prefix tier (q162): identical pair set, candidate
    // stream cut to ~(1-t) of the naive index's (only contained-side
    // prefixes are indexed; the container side must stay full).
    time("containment prefix 51k docs") {
      graft.operators.Dedup.containmentPrefixPairs(s, out, 0.9).count()
    }
    // Positional-posting phrase search (q149): linear posting build, slim
    // (doc, pos) adjacency join.
    time(s"phrase search 51k docs") {
      SparkEntry.queries("q149_phrase_search")(s, out).count()
    }
    // BM25 ranked retrieval (q165): two doc-keyed aggregates + broadcast
    // idf/corpus stats — the ranked tier over the same postings.
    time("bm25 topk 51k docs") {
      SparkEntry.queries("q165_bm25_topk")(s, out).count()
    }
    // BPE trainer cost flatness: 3 merges should cost ~3x one merge
    // (per-iteration localCheckpoint keeps every kernel run one merge
    // deep — BpeSpec pins the plan shape; this pins the wall clock).
    time("bpe 1 merge 51k docs") {
      graft.functions.TextAnalysis.bpeTrain(s, out, 1).last._4
    }
    time("bpe 3 merges 51k docs") {
      graft.functions.TextAnalysis.bpeTrain(s, out, 3).last._4
    }
    // Gaps-and-islands at row scale: one shuffle on the partition key,
    // per-key sorts only (q143 user sessions; q144 supplier intervals).
    time(s"sessionize ${6 * mult}M events") {
      SparkEntry.queries("q143_sessionize_batch")(s, out).count()
    }
    time(s"interval merge ${6 * mult}M rows") {
      SparkEntry.queries("q144_interval_merge")(s, out).count()
    }
    // Two integer PageRank iterations over the 1.5M-order bipartite graph
    // (~31k nodes, ~1M+ distinct edges after symmetrization): per
    // iteration one slim rank-vs-edges join + aggregate.
    time(s"pagerank ${mult}x1.5M-order graph") {
      SparkEntry.queries("q150_pagerank_int")(s, out).count()
    }
    // Triangle counting (q197): the Apriori support>=2 filter is what
    // bounds the wedge stage — the raw co-occurrence edge set here is
    // orders of magnitude larger than the pruned one, and wedge work is
    // quadratic in degree, so only the pruned graph is enumerable at
    // probe time. Both edge counts print as the pruning evidence.
    // Base scale only: the generator's part domain is FIXED at 20k, so
    // at 100x the expected per-pair co-occurrence count approaches 1 and
    // an absolute support threshold stops pruning (avg degree ~1500 →
    // O(10^10) wedges). A real corpus grows the item domain with the
    // data; on a fixed domain the threshold must scale with the expected
    // pair count (support as a FRACTION, the standard Apriori form) —
    // the documented knob, not a bigger probe.
    if (mult == 1) time(s"triangles ${6 * mult}M items") {
      val items = Tables.t(s, out, "lineitem")
        .select($"l_orderkey".as("ok"), $"l_partkey".as("p")).distinct()
      val pairs = items.join(items.select($"ok", $"p".as("p2")), Seq("ok"))
        .filter($"p" < $"p2")
        .groupBy($"p", $"p2").agg(count(lit(1)).as("c"))
      val raw = pairs.count()
      val pruned = pairs.filter($"c" >= 2).count()
      val rows = SparkEntry.queries("q197_triangle_count")(s, out).count()
      s"$rows vertex rows; edges raw=$raw pruned=$pruned"
    }
    // Skyline (q199): windows keyed by chars bucket — the cost is one
    // doc-scan + keyed sorts, never the oracle's O(n^2) dominance scan.
    time("pareto frontier 51k docs") {
      SparkEntry.queries("q199_pareto_frontier")(s, out).count()
    }
    // Rolling active users (q203): raw events dedup to (user, day) ONCE,
    // then the x7 window fan-out runs on the deduped pairs — the row
    // multiplier applies to |users|x|days|, not event volume.
    time(s"rolling active ${6 * mult}M events") {
      SparkEntry.queries("q203_rolling_active_users")(s, out).count()
    }
    // MAD outliers (q206): two counting-CDF passes — both shuffles carry
    // the cents DOMAIN (map-side combined), rows only cross the wire for
    // the per-row |dev| derivation.
    time(s"mad outliers ${6 * mult}M events") {
      SparkEntry.queries("q206_mad_outliers")(s, out).count()
    }
    // A/B test (q208): one (arm, user, day) aggregate with map-side
    // partials is the only row-scale shuffle; the decimal z^2 algebra
    // runs on a single row regardless of event volume.
    time(s"ab test ${6 * mult}M events") {
      SparkEntry.queries("q208_ab_test")(s, out).count()
    }
    // Attribution (q210): one user_id exchange, both carries in one
    // window, then map-side-combined channel totals — linear per-user
    // scan at any event volume.
    time(s"last-touch attribution ${6 * mult}M events") {
      SparkEntry.queries("q210_last_touch_attribution")(s, out).count()
    }
    // Matched controls (q211): keyed stratum windows + a co-partitioned
    // rank equi-join — no global sort, no cross product at 51k docs or
    // 51B. (q209's chi-square shares q201's two-level aggregate shape;
    // its cell-domain windows are size-bounded by |sources|x|langs|.)
    time("matched controls 51k docs") {
      SparkEntry.queries("q211_matched_controls")(s, out).count()
    }
    // Sequence assembly (q216): the rank window caps the carry at 8 of
    // each user's ~600 events before the collect — the probe's point is
    // that the collect stage never sees raw history.
    time(s"user sequences ${6 * mult}M events") {
      SparkEntry.queries("q216_user_sequences")(s, out).count()
    }
    // CUSUM (q217): one daily aggregate with map-side partials; both
    // windows then run on the ~694-row day domain regardless of volume.
    time(s"cusum changepoint ${6 * mult}M events") {
      SparkEntry.queries("q217_cusum_changepoint")(s, out).count()
    }
    // Rolling HLL WAU (q218): the rolling stage fans out ~694 day
    // sketches x7 (kilobytes), never the 10k-user universe — compare
    // its wall against the exact q203 probe above at 10x/100x.
    time(s"rolling wau hll ${6 * mult}M events") {
      SparkEntry.queries("q218_rolling_wau_hll")(s, out).count()
    }
    // Time-to-convert (q219): two map-side min(struct) argmins keyed by
    // user, then the CDF over the (channel, seconds) domain.
    time(s"time to convert ${6 * mult}M events") {
      SparkEntry.queries("q219_time_to_convert")(s, out).count()
    }
    // Data contract (q220): six constraints in ONE aggregate pass —
    // the wall should track the scan, not the constraint count.
    time(s"data contract ${6 * mult}M events") {
      SparkEntry.queries("q220_data_contract")(s, out).count()
    }
    // Recs train/eval (q224): one basket distinct (localCheckpointed
    // for its four join consumers), |types|^2-bounded pair domain,
    // broadcast rec table.
    time(s"recs train/eval ${6 * mult}M events") {
      SparkEntry.queries("q224_cooccurrence_recs_eval")(s, out).count()
    }
    // Point-in-time features (q225): daily aggregate -> x7 snapshot
    // fan-out -> banded user-keyed equi-join; the fan-out carries
    // (user, day) aggregates, never raw purchases.
    time(s"point-in-time features ${6 * mult}M events") {
      SparkEntry.queries("q225_point_in_time_features")(s, out).count()
    }
    // Embedding drift (q227): one (label, dim) conditional-sum pass
    // over 200k x 64 components; the wire carries labels x 64 rows.
    time("embedding drift 200k embeddings") {
      SparkEntry.queries("q227_embedding_drift")(s, out).count()
    }
    // Calibration (q228): user-keyed click x purchase semi join with
    // the 24 h residual band, then a 10-row band rollup.
    time(s"conversion calibration ${6 * mult}M events") {
      SparkEntry.queries("q228_conversion_calibration")(s, out).count()
    }
    // Weighted sampling (q200): the explode is O(total corpus tokens)
    // (~3M replicas here), the min collapses map-side, the bottom-25 is
    // a TakeOrdered — the wire carries one key per doc.
    time("weighted sample ~3M replicas") {
      SparkEntry.queries("q200_weighted_sample")(s, out).count()
    }
    // ANN ladder at 100x corpus / 32x probes: brute force scores every
    // (probe, vector) pair — 51.2M cosine evals; IVF (nlist=64, nprobe=4)
    // scans ~nprobe/nlist of the corpus per probe. Same top-k surface,
    // sub-linear candidate count — the contrast that justifies q97 as the
    // production path once probes x corpus outgrows the brute product.
    time("knn brute 200k x 256 probes") {
      graft.operators.Similarity.knnBrute(s, out, k = 5, nProbes = 256).count()
    }
    time("knn ivf 200k x 256 probes") {
      graft.operators.Similarity.knnIvf(s, out, k = 5, nProbes = 256,
        nlist = 64, nprobe = 4).count()
    }
    // Hybrid RRF (q279): two independent retrieval legs — the BM25
    // postings aggregate over 51k docs and the broadcast-probe cosine
    // scan over 200k embeddings — fused on two 30-row lists; the wall
    // is the legs, the fusion is free.
    time("rrf hybrid 51k docs + 200k embeddings") {
      SparkEntry.queries("q279_rrf_hybrid")(s, out).count()
    }
    // Theil-Sen (q281): row-scale daily rollup with map-side partials,
    // then the pair join runs on the ~694-row day domain (~240k pairs
    // per type) — domain-quadratic, row-linear.
    time(s"theil-sen slope ${6 * mult}M events") {
      SparkEntry.queries("q281_theil_sen_slope")(s, out).count()
    }
    // Time-decay attribution (q284): q213's exact plan shape — one
    // user-keyed join, one pid window exchange shared by rank/weights/
    // remainder — with the weight CASE riding the same projection.
    time(s"time-decay attribution ${6 * mult}M events") {
      SparkEntry.queries("q284_time_decay_attribution")(s, out).count()
    }
    // Isotonic calibration (q285): the row-scale work is q228's banded
    // conversions; the PAV minimax adds only band-domain joins.
    time(s"isotonic calibration ${6 * mult}M events") {
      SparkEntry.queries("q285_isotonic_calibration")(s, out).count()
    }
    // Max-coverage selection (q286): 5 rounds x (anti-join + count) over
    // the ~3M-row (doc, shingle-hash) index — each round shuffles 8-byte
    // hashes, k is fixed, so the wall is 5 bounded passes.
    time("max-coverage selection 51k docs") {
      SparkEntry.queries("q286_max_coverage_selection")(s, out).count()
    }
    // FDR grid (q289): one (ch, arm, user, day) distinct + aggregate;
    // the BH step-up is a 4-row window.
    time(s"fdr bh grid ${6 * mult}M events") {
      SparkEntry.queries("q289_fdr_bh")(s, out).count()
    }
    // Grid clustering (q292): the pointer-doubled component rounds are
    // O(log diameter) — the probe pins that the 30k-customer grid pays
    // the same handful of rounds the fixture does.
    time("grid density clusters 30k customers") {
      SparkEntry.queries("q292_grid_density_clusters")(s, out).count()
    }
    // Association rules (q294): one (order, brand) distinct, then
    // order-keyed pair fan-out bounded by brands-per-basket squared.
    time(s"association rules ${15 * mult / 10}M orders") {
      SparkEntry.queries("q294_association_rules")(s, out).count()
    }
    // CMH stratified test (q298): q208's unit aggregate + a 700-row
    // stratum frame; the statistics are O(1).
    time(s"cmh stratified ${6 * mult}M events") {
      SparkEntry.queries("q298_cmh_stratified")(s, out).count()
    }
    // Cross-table DQ rules (q302): one orderkey join + two aggregates
    // for five rules — the wall tracks the join, not the rule count.
    time(s"cross-table dq rules ${6 * mult}M lineitem") {
      SparkEntry.queries("q302_cross_table_dq_rules")(s, out).count()
    }
    // Round-10 second wave: the new row-scale shapes. q319 is the
    // representative calibration-family probe (one click-conversion
    // semi-join + a 10-bin reduce); q321 rides one orders-customer
    // equi-join to a 50-cell domain; q327 one user_id aggregate + the
    // cohort-partitioned bounded window; q328's widest shuffle is the
    // text-keyed dup self-aggregate; q320's rank window partitions by
    // the 10 balanced length bands.
    time(s"brier decomposition ${6 * mult}M events") {
      SparkEntry.queries("q319_brier_decomposition")(s, out).count()
    }
    time(s"synthetic control ${15 * mult / 10}M orders") {
      SparkEntry.queries("q321_synthetic_control")(s, out).count()
    }
    time(s"cohort ltv ${6 * mult}M events") {
      SparkEntry.queries("q327_cohort_ltv")(s, out).count()
    }
    time("dataset card + length resample 51k docs") {
      SparkEntry.queries("q328_dataset_card")(s, out).count()
      SparkEntry.queries("q320_length_match_resample")(s, out).count()
    }
    // Index-lifecycle maintenance at 100x: build + 2 adds + fold + the
    // manifest-gated replay — the wall is the rewrite, bounded by index
    // bytes, never by history reads.
    time("signature index compaction 51k docs") {
      SparkEntry.queries("q323_signature_index_compaction")(s, out).count()
    }
    // Round-10 third wave. q355: the n*k centroid-distance pass over
    // 200k x 10 broadcast centroids — one (label, dim) shuffle, then
    // 10x10 domain algebra. q358: the counting-CDF midrank frame over
    // the distinct-cents domain (the KW statistic's only row-scale
    // cost). q362: two 64-row digest aggregates + a drill bounded by
    // diverging buckets. q363: two journey window passes to a <=30-row
    // count table, the chain solve is driver-side O(1). q364: ONE
    // scored candidate frame reused by all four sweep points.
    // Measured at this scale (local[32], quiet window): q355 2.16 s /
    // 0 MiB shuffle (the distance pass is map-only against broadcast
    // centroids), q358 2.09 s / 16 MiB, q362 2.53 s / 33 MiB,
    // q363 6.10 s / 150 MiB (the two pid/user-day window exchanges),
    // q364 0.94 s / 0 MiB — every probe linear in rows, none
    // quadratic, none centroid- or sweep-multiplied.
    time("cluster validity 200k embeddings") {
      SparkEntry.queries("q355_cluster_validity")(s, out).count()
    }
    time(s"kruskal-wallis ${15 * mult / 10}M orders") {
      SparkEntry.queries("q358_kruskal_wallis")(s, out).count()
    }
    time(s"merkle reconcile ${15 * mult / 10}M orders") {
      SparkEntry.queries("q362_merkle_reconcile")(s, out).count()
    }
    time(s"markov attribution ${6 * mult}M events") {
      SparkEntry.queries("q363_markov_attribution")(s, out).count()
    }
    time("ivf nprobe sweep 200k embeddings") {
      SparkEntry.queries("q364_ivf_nprobe_sweep")(s, out).count()
    }
    // Ingest throughput vs the reference's operational envelope
    // (BASELINE.md: 60s poll interval, O(10^5) rows/min implied; a real
    // OpenSky snapshot is ~10-20k states): five poll ticks of 20k state
    // vectors each through the full fetch -> parse -> explode -> project
    // -> fan-out-to-2-targets pipeline, no inter-tick sleep.
    time("ingest 5x20k states x2 sinks") {
      import graft.config.{DatabasesConfig, IngestConfig, PluginSpec}
      import graft.streaming.{PollingIngest, SyntheticOpenSkySource}
      val tmp = java.nio.file.Files.createTempDirectory("graft_stress_ingest").toString
      val cfg = IngestConfig(
        plugin = PluginSpec(intervalSec = 1),
        databases = DatabasesConfig(prefix = "sb", copies = 2, extra = Map.empty),
        runForSec = 0)
      // no-sleep between ticks, but bound total attempts: the loop's
      // warn-and-continue policy would otherwise busy-spin forever on a
      // persistent failure (sleepFn is also the backoff hook, so a
      // throwing sleeper aborts the probe after bounded retries)
      var backoffs = 0
      val h = PollingIngest.run(s, new SyntheticOpenSkySource(20000), cfg,
        new graft.sink.ParquetSink(tmp), maxTicks = 5,
        sleepFn = _ => {
          backoffs += 1
          if (backoffs > 50) sys.error("ingest probe: persistent tick failure")
        })
      s"${h.rowsIngested} rows x ${cfg.targets("flights").size} targets"
    }
    // The composed form materializes every (left, candidate-right) pair
    // before the window discards all but one — at 60M events that is
    // O(10^9) intermediate rows, which is precisely why the native
    // operator exists; probe the contrast at base scale only.
    if (mult == 1) time(s"asof composed ${6 * mult}M events") {
      SparkEntry.queries("q18_asof_join")(s, out).count()
    }
    // Streaming throughput at 10x: tumbling-window agg over the 6M-row
    // events dir as a file-source stream (full query lifecycle included).
    time(s"stream tumbling ${6 * mult}M events") {
      import org.apache.spark.sql.functions.{window => fwindow}
      // this dir is Stress's own output, written in the legacy nanos-long
      // layout above — declare that schema and normalize through the same
      // adaptive branch as the fixture loaders (Long → ns→µs here)
      val stream = graft.Tables.normalizeEventsTs(
        s.readStream
          .schema(graft.streaming.StreamingOps.eventsLegacyNanosSchema)
          .parquet(s"$out/events.parquet"))
        .withColumn("ts", expr("cast(ts as timestamp)"))
      val agg = stream.groupBy(fwindow($"ts", "1 hour"), $"event_type")
        .agg(count(lit(1)).as("n"))
      val q = agg.writeStream.outputMode("complete")
        .format("memory").queryName("stress_stream").start()
      try q.processAllAvailable() finally q.stop()
      s"${s.table("stress_stream").count()} windows from ${6 * mult}M input rows"
    }
    // Line-level dedup (q178): the explode multiplies rows by ~6 lines/doc
    // and the keep-first window shuffles line content once — the probe
    // pins that the content-keyed window stays linear (groups are copy
    // multiplicity, the planted 1000 dups).
    time("line dedup 51k docs") {
      SparkEntry.queries("q178_line_dedup")(s, out)
        .agg(sum($"n_kept")).head().getLong(0)
    }
    // KN trigram tables (q187): 51k x 58 trigrams explode map-side into a
    // 30^3-bounded domain — the Zipf-head collapse is the whole cost story.
    time("kn trigrams 51k docs") {
      SparkEntry.queries("q187_kneser_ney_counts")(s, out).count()
    }
    // Exact-p99 anomaly monitor (q181) at row scale: the CDF shuffle
    // carries the cent domain, not rows.
    time(s"anomaly monitor ${6 * mult}M events") {
      SparkEntry.queries("q181_anomaly_monitor")(s, out).count()
    }
    // Centroid confusion (q184) at 100x embeddings: one (label, dim)
    // aggregate + a broadcast 10x64 centroid table over one scan.
    time("centroid confusion 200k embeddings") {
      SparkEntry.queries("q184_centroid_confusion")(s, out).count()
    }
    // Preference-pair mining (q186): per-stratum rank at 51k docs (the
    // 100 TB form swaps the full sort for q132's bounded head/tail).
    time("preference pairs 51k docs") {
      SparkEntry.queries("q186_preference_pairs")(s, out).count()
    }
    // Market-basket co-occurrence (q193) at row scale: sessionize once
    // (checkpointed), distinct (session, type), self-join bounded by the
    // 5-type domain per session — pair count stays domain², not rows².
    // Needs SPARK_DRIVER_MEM=24g at x10: the shared session frame's
    // localCheckpoint unrolls ~50M distinct (sid, type) rows across 32
    // concurrent tasks, which OOMs the 8g default heap (measured; a
    // real executor fleet has GBs per task slot — the 8g/32-thread
    // local box is the artificially starved configuration here).
    // 29.0 s / 2.4 GB shuffle at 60M events with 24g.
    time(s"session cooccurrence ${6 * mult}M events") {
      SparkEntry.queries("q193_session_cooccurrence")(s, out).count()
    }
    // Persisted IVF index (q233's kernel) at 100x embeddings: the build
    // trains + assigns 180k history vectors; the incremental add then
    // indexes a 20k arriving batch against the RELOADED codebook — the
    // number that matters is the add being a small fraction of the
    // build (it reads zero history), which is the whole point of
    // persisting the index for a continuous-ingest corpus.
    locally {
      import graft.operators.Similarity
      val root = graft.TempRoots.freshForDir("graft_ivf_stress", out).toString
      val e = Tables.t(s, out, "embeddings").select($"vec_id", $"embedding")
      time("IVF index build 180k history vectors") {
        Similarity.writeIvfIndex(e.filter($"vec_id" % 10 =!= 0), root,
          nlist = 16, iters = 2)
      }
      time("IVF incremental add 20k batch (no history reads)") {
        Similarity.addIvfBatch(e.filter($"vec_id" % 10 === 0), root, "b0")
      }
      time("IVF persisted search 8 probes over 200k") {
        Similarity.knnIvfPersisted(s, root,
          e.filter($"vec_id" < 8), k = 5, nprobe = 2).count()
      }
    }
    // Ranked recs eval (q235) at row scale: the pair mining is bounded
    // by the 100-item domain per user; the rec list broadcasts.
    time(s"MRR recs eval ${6 * mult}M events") {
      SparkEntry.queries("q235_mrr_eval")(s, out).count()
    }
    // KS drift (q240) at row scale: one (bucket) aggregate, then the
    // ECDF sweep on the ~1000-row dollar-bucket domain.
    time(s"KS drift ${6 * mult}M events") {
      SparkEntry.queries("q240_ks_drift")(s, out).count()
    }
    // Benford audit (q238) at row scale: one aggregate onto 9 digits.
    time(s"benford audit ${6 * mult}M lineitem") {
      SparkEntry.queries("q238_benford_audit")(s, out).count()
    }
    // Equal-frequency binning (q236) over the order domain: counting-CDF
    // on $100 buckets, never an ntile sort of the rows.
    time(s"feature binning ${1.5 * mult}M orders") {
      SparkEntry.queries("q236_feature_binning")(s, out).count()
    }
    // Round-9 closing set at row scale — each is ONE row-scale stage
    // (aggregate / equi-join / projection) + bounded-domain algebra, so
    // these timings are the linearity evidence for the family:
    // z-order audit = per-row Morton expression + two bounded aggs;
    // vocab growth = one token-keyed min-agg; zipf = token count +
    // top-1000 merge; IPS/AUC/bandit = user-keyed semi-joins + windows
    // on the channel/day grids.
    time(s"zorder audit ${6 * mult}M lineitem") {
      SparkEntry.queries("q261_zorder_layout")(s, out).count()
    }
    time("vocab growth 51k docs") {
      SparkEntry.queries("q262_vocab_growth")(s, out).count()
    }
    time("zipf fit 51k docs") {
      SparkEntry.queries("q263_zipf_fit")(s, out).count()
    }
    time(s"IPS policy eval ${6 * mult}M events") {
      SparkEntry.queries("q265_ips_policy_eval")(s, out).count()
    }
    time(s"group AUC ${6 * mult}M events") {
      SparkEntry.queries("q267_group_auc")(s, out).count()
    }
    time(s"bandit replay ${6 * mult}M events") {
      SparkEntry.queries("q269_bandit_replay")(s, out).count()
    }
    // Streaming SpaceSaving at row scale: the memory sink only ever
    // holds the 8 x 64-entry summaries per emission — the state and the
    // sink stay O(1) while the stream scans every event row.
    time(s"stream heavy hitters ${6 * mult}M events") {
      SparkEntry.queries("q264_stream_heavy_hitters")(s, out).count()
    }
    // Timer sessionization (q182's processor) as a full streaming
    // lifecycle at 10x: 10k users' ListState buffers + one timer each.
    // Driven through foreachBatch with a distributed count — the corpus
    // query's memory sink would funnel all ~5M emitted sessions through
    // the driver and time THAT, not the operator — and with the state
    // ops at the session's 32 partitions (the corpus query pins 8,
    // sized for the fixture key space, q70 scaladoc).
    // Gated to base scale like the composed as-of: at 60M buffered rows
    // RocksDB's per-append list MERGE measures ~11k appends/s/task on
    // this box (jstack'd mid-run) — a >90-min wall, which is the real
    // 100 TB lesson: an event-buffering sessionizer must BOUND its
    // buffer (emit-and-evict incrementally, or pre-aggregate per
    // micro-batch) rather than accumulate every raw row into ListState.
    if (mult == 1) time(s"timer sessions ${6 * mult}M events") {
      import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
      val emitted = new java.util.concurrent.atomic.AtomicLong
      // eventsStream handles the raw-ns→timestamp normalization and the
      // directory-shaped stress table (flattened symlink farm) — one
      // recipe shared with the corpus query, not a re-implementation
      val ev = graft.streaming.StreamingOps.eventsStream(s, out)
        .select($"user_id", $"ts", $"value")
        .withWatermark("ts", "30 minutes")
        .as[(Long, java.sql.Timestamp, Double)]
      val sess = ev.groupByKey(_._1)
        .transformWithState(
          new graft.streaming.StreamingOps.TimerSessionProcessor,
          TimeMode.EventTime(), OutputMode.Append())
      val prev = s.conf.getOption("spark.sql.streaming.stateStore.providerClass")
      s.conf.set("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      val q =
        try sess.toDF("user_id", "sess_start", "sess_end", "n_events", "sum_value")
          .writeStream.outputMode("append")
          .foreachBatch {
            (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
              emitted.addAndGet(b.count()): Unit
          }
          .start()
        finally prev match {
          case Some(v) =>
            s.conf.set("spark.sql.streaming.stateStore.providerClass", v)
          case None =>
            s.conf.unset("spark.sql.streaming.stateStore.providerClass")
        }
      try q.processAllAvailable() finally q.stop()
      s"${emitted.get()} sessions emitted"
    }
    // ——— Round-10 probes ———
    // IVF-PQ persisted artifact at 100x embeddings: the build now also
    // trains + persists PQ codebooks and codes every list row; the ADC
    // search must stay cheap because its candidate scan reads codes,
    // never vectors; compaction folds the accumulated batch partitions
    // at one file per list and must not change search output.
    locally {
      import graft.operators.Similarity
      val root = graft.TempRoots.freshForDir("graft_ivfpq_stress", out).toString
      val e = Tables.t(s, out, "embeddings").select($"vec_id", $"embedding")
      time("IVF-PQ index build 180k history (coarse + PQ artifacts)") {
        Similarity.writeIvfIndex(e.filter($"vec_id" % 10 =!= 0), root,
          nlist = 16, iters = 2)
      }
      time("IVF-PQ incremental adds 2 x 10k batches (codes included)") {
        Similarity.addIvfBatch(e.filter($"vec_id" % 20 === 0), root, "d1")
        Similarity.addIvfBatch(e.filter($"vec_id" % 20 === 10), root, "d2")
      }
      time("ADC persisted search 8 probes over 200k (zero training)") {
        Similarity.adcSearchPersisted(s, root,
          e.filter($"vec_id" < 8), k = 5, nprobe = 4).count()
      }
      def files(): Long = {
        val walk = java.nio.file.Files.walk(java.nio.file.Paths.get(
          graft.operators.Similarity.ivfListsPath(s, root)
            .stripPrefix("file:")))
        try {
          import scala.jdk.CollectionConverters._
          walk.iterator().asScala
            .count(_.getFileName.toString.endsWith(".parquet")).toLong
        } finally walk.close()
      }
      val before = files()
      time(s"IVF compaction fold 2 batches ($before files pre)") {
        Similarity.compactIvfLists(s, root)
      }
      println(s"STRESS_NOTE compaction files $before -> ${files()}")
    }
    // Binary Hamming kNN (q306) at 200k embeddings: packing is a
    // projection; the scored scan is 16 bytes/vector of codes.
    time("binary hamming top-10, 8 probes x 200k") {
      SparkEntry.queries("q306_binary_hamming_knn")(s, out).count()
    }
    // Dedup-tier audit (q307) on the dense 51k corpus: three hash tiers
    // ride one scan; the wall is the near-dup pair leg (the q63-class
    // inverted index on the adversarially dense vocabulary).
    time("dedup tier audit 51k docs") {
      SparkEntry.queries("q307_dedup_tier_audit")(s, out).count()
    }
    // Repetition runs (q309): one doc-keyed exchange, two windows, one
    // aggregate — linearity evidence for the gaps-and-islands family.
    time("repetition runs 51k docs") {
      SparkEntry.queries("q309_repetition_runs")(s, out).count()
    }
    // Packing sweep (q311) + fertility (q310) + mixture planner (q308):
    // each ONE scan-shaped pass over documents with bounded-domain math.
    time("packing sweep + fertility + mixture planner 51k docs") {
      SparkEntry.queries("q311_packing_sweep")(s, out).count()
      SparkEntry.queries("q310_tokenizer_fertility")(s, out).count()
      SparkEntry.queries("q308_temperature_mixture")(s, out).count()
    }
    // Skew/salt planner (q316) over the 6M-row fact table: one
    // count-by-key with map-side combine per relation.
    time(s"skew salt planner ${6 * mult}M lineitem") {
      SparkEntry.queries("q316_skew_salt_planner")(s, out).count()
    }
    // Chi-square grid (q314) + Spearman (q315): row-scale aggregates
    // onto bounded domains; statistics are O(1).
    time("chi2 independence + spearman 51k docs / 1.5M orders") {
      SparkEntry.queries("q314_chi2_independence")(s, out).count()
      SparkEntry.queries("q315_spearman_rank_corr")(s, out).count()
    }
    // Duplicated 8-gram coverage (q339): ~2.7M gram rows from 51k docs,
    // one window count on the gram-hash partition. The 2% planted
    // near-dups shift whole docs over the 50% coverage line — the
    // ExactSubstr drop list the measurement exists to produce.
    time("dup 8-gram coverage 51k docs (~2.7M gram rows)") {
      SparkEntry.queries("q339_dup_ngram_coverage")(s, out).count()
    }
    // RAG chunker (q340) + DSIR selection (q337) + KL matrix (q341):
    // each one corpus scan; q337/q341 collapse to vocab-scale frames
    // (30-word stress vocabulary — the Zipf-head worst case for the
    // map-side combine) before any join.
    time("rag chunker + dsir + kl matrix 51k docs") {
      SparkEntry.queries("q340_rag_chunker")(s, out).count()
      SparkEntry.queries("q337_dsir_selection")(s, out).count()
      SparkEntry.queries("q341_lang_kl_matrix")(s, out).count()
    }
    // Small-quantity revenue (q342) over the 6M-row lineitem: the
    // brand filter prunes via broadcast, then ONE partkey window.
    time(s"tpch q17 shape ${6 * mult}M lineitem") {
      SparkEntry.queries("q342_small_qty_revenue")(s, out).count()
    }
    // Round-11 wave. q393: ~18M bounded-key suffixes (51k docs x ~350
    // chars) through ONE range sort + bucket-partitioned adjacency +
    // the O(64) char-chain LCP — the Lee-et-al dedup construction's
    // scale shape (everything linear in suffixes; no global window).
    // q392: winnowing is map-side gram hashing + doc-partitioned
    // windows. q395: the co-purchase graph peel over the 6M-row
    // lineitem (20k parts; bulk rounds, each one degree aggregate).
    // q400: the 100-permutation explode into a 400-cell aggregate —
    // the probe pins that map-side combine absorbs the constant 100x
    // row fan-out before the wire.
    // Measured at this scale (local[32], quiet window): q393 9.7 s /
    // 569 MiB shuffle (the one suffix-key sort — linear in corpus
    // bytes x 64), q392 6.8 s / 0 MiB (pure map + doc-partitioned
    // windows, nothing reaches the wire), q400 1.1 s / 0.1 MiB (the
    // 100x explode collapses map-side; the wire carries 400 cells),
    // q395 27.7 s / 355 MiB under FIXED-16 rounds — most of that wall
    // was post-convergence no-op rounds, since replaced by the
    // fixpoint early-exit below (identical result by idempotence).
    time("suffix-array dedup 51k docs (~18M suffixes)") {
      SparkEntry.queries("q393_suffix_array_dedup")(s, out).count()
    }
    time("winnowing fingerprints 51k docs") {
      SparkEntry.queries("q392_winnowing_fingerprints")(s, out).count()
    }
    time(s"k-core peel ${6 * mult}M lineitem co-purchase") {
      SparkEntry.queries("q395_kcore_decomposition")(s, out).count()
    }
    // round 12: the size-gated general-graph form — threshold 0 forces
    // every peel round onto SHUFFLE semi joins (the path a graph whose
    // survivor set outgrows the broadcast envelope takes); the fixpoint
    // must be BIT-EQUAL to the broadcast form's (peel order and
    // physical plan can change cost, never a k-core). Measured here so
    // the q395 docstring's flip-cost claim is a number.
    time(s"k-core SHUFFLE-form peel ${6 * mult}M co-purchase (gate check)") {
      import graft.operators.GraphSelection
      val li = s.read.parquet(s"$out/lineitem.parquet")
        .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
      val pairs = li.as("a").join(li.as("b"),
          col("a.ok") === col("b.ok") && col("a.pk") < col("b.pk"))
        .groupBy(col("a.pk").as("pa"), col("b.pk").as("pb"))
        .agg(countDistinct(col("a.ok")).as("sup"))
        .filter(col("sup") >= 2)
        .select(col("pa"), col("pb"))
      val edges = pairs
        .unionByName(pairs.select(col("pb").as("pa"), col("pa").as("pb")))
        .repartition(col("pa"))
        .localCheckpoint(true)
      val bc = GraphSelection.kcoreStats(edges, Seq(2, 3, 4))
      val sh = GraphSelection.kcoreStats(edges, Seq(2, 3, 4),
        broadcastThreshold = 0L)
      require(bc == sh, s"k-core gate changed the answer: $bc vs $sh")
      println(s"  broadcast==shuffle fixpoint: $bc")
    }
    time(s"did permutation x100 ${6 * mult}M events") {
      SparkEntry.queries("q400_did_permutation_test")(s, out).count()
    }
    // Round-11 second wave. q409: the join-size sketch is two per-key
    // count aggregates (lineitem partkey, events user) — pure map-side
    // combine, the synopsis filter on the count table; the probe pins
    // linearity in fact rows. q407: one (user, half) aggregate over the
    // 6M events then rank algebra on the bounded |d| domain. q406: the
    // deliberate non-scale path is the global ntile window (the audit
    // SIMULATES a writer's file assignment; a real writer gets file
    // stats from metadata) — the probe measures that window's cost at
    // 1.5M orders so the docstring's "audit-scale only" claim is a
    // number, not a vibe.
    // Measured at this scale (local[32], quiet window): join-size
    // sketch 0.43 s / 0.0 MiB shuffle over 12M fact rows (the wire
    // carries only the two count-table aggregates), wilcoxon 0.98 s /
    // 3.9 MiB (one user-grain exchange), zone-map audit 0.14 s (the
    // window runs over a column-pruned 2-column frame), KLL build
    // 0.53 s / 0.5 MiB (sketches on the wire, never values). k-core
    // at this scale dropped 27.7 s / 355 MiB (round-10 fixed-16
    // rounds) -> 5.5 s / 144 MiB after the fixpoint early-exit PLUS
    // round-11's broadcast-survivor + pre-partitioned-edge rework.
    time(s"join-size sketch ${6 * mult}M lineitem + ${6 * mult}M events") {
      SparkEntry.queries("q409_correlated_sample_join_size")(s, out).count()
    }
    time(s"wilcoxon signed-rank ${6 * mult}M events") {
      SparkEntry.queries("q407_wilcoxon_signed_rank")(s, out).count()
    }
    time(s"zone-map audit ${1.5 * mult}M orders (global ntile)") {
      SparkEntry.queries("q406_zonemap_scan_audit")(s, out).count()
    }
    // KLL sketch build over the full lineitem price column — the
    // map-side-combine linearity probe for the quantile kernel: one
    // sketch, 32 partial sketches merged, certificate checked in-row
    // by the q410 query body (orders) and here at 4x the rows.
    time(s"kll sketch build ${6 * mult}M lineitem prices") {
      import graft.catalyst.QuantileSketch
      val blob = s.read.parquet(s"$out/lineitem.parquet")
        .select(expr("cast(round(l_extendedprice * 100) as bigint)")
          .as("v"))
        .agg(QuantileSketch.kll_sketch_agg(col("v"), 1024).as("sk"))
        .head().getAs[Array[Byte]](0)
      val sk = QuantileSketch.deserialize(blob)
      println(s"  kll n=${sk.n} retained=${sk.retained} " +
        s"errBound=${sk.errBound} (${sk.errBound * 1000000 / sk.n} ppm)")
    }
    // Bloom manifest at 10x: 1.5M orders through the shard writer's
    // 250-row file cap = ~6000 physical files, so this measures the
    // shape that matters at scale — manifest build is one group-by
    // producing ~512 B per FILE (3 MB total for 6000 files, the
    // broadcast-a-million-files story), and the probe loop is
    // per-(probe, file) metadata work, never data reads. The write of
    // 6000 small files dominates the wall; the manifest+probe legs are
    // the point. Measured (local[32], quiet window): 37.9 s / 76.9 MiB
    // shuffle for the FULL lifecycle (write + manifest + 123 probes) —
    // vs the q417 zone-map probe's 64-file write at bench scale, the
    // wall here is ~6000 parquet file creations, i.e. the known
    // small-file tax the q268 compaction planner exists to pay down;
    // the manifest group-by and the 123x6000 bit tests are sub-second.
    time(s"bloom manifest ${1.5 * mult}M orders -> ~${6 * mult}k files") {
      SparkEntry.queries("q423_bloom_manifest_skipping")(s, out).count()
    }
    // Snapshot time travel at 10x: two committed versions (~1.05M and
    // ~1.35M rows) + the torn third — commit cost is the data write
    // plus ONE manifest row; resolution stays a metadata read at any
    // version count. Measured (local[32], quiet window): 7.7 s /
    // 152.3 MiB shuffle — three full shard writes (the two-phase rank
    // exchange each) plus two snapshot reads; the manifest legs never
    // show up in the profile, which is the design claim.
    time(s"snapshot time travel ${1.5 * mult}M orders x2 versions") {
      SparkEntry.queries("q424_snapshot_time_travel")(s, out).count()
    }
    // Round-13 storage/eval families at 10x.
    // Concurrent mint: two ~750k-row writers racing through the barrier
    // interleave — the claim legs are metadata renames, so the wall is
    // the two staged shard writes (both writers build concurrently).
    // Measured (local[32], quiet window): 7.0 s / 90.0 MiB shuffle.
    time(s"snapshot concurrent mint ${1.5 * mult}M orders, 2 writers") {
      SparkEntry.queries("q427_snapshot_concurrent_mint")(s, out).count()
    }
    // CDC merge: full 1.5M-row base version + a ~300k-row change set —
    // the anti-join rides the republish shuffle; cost == two snapshot
    // writes, which is the design claim (merge adds no extra exchange).
    // Measured: 10.1 s / 177.0 MiB shuffle (two full shard writes).
    time(s"snapshot cdc merge ${1.5 * mult}M orders") {
      SparkEntry.queries("q432_snapshot_cdc_merge")(s, out).count()
    }
    // Streaming bloom maintenance over the 200k-embedding IVF loop: three
    // add batches + one mid-stream fold; per-batch manifest upkeep scans
    // only that batch's files (the incremental claim measured against the
    // from-scratch rebuild the query itself performs at drain).
    // Measured: 13.8 s / 94.4 MiB (index build + 3-batch drain + fold + 2
    // manifest rebuilds; dominated by the IVF add/compact writes).
    time("stream bloom maintenance 200k embeddings") {
      SparkEntry.queries("q430_stream_bloom_maintenance")(s, out).count()
    }
    // Dawid-Skene: two EM rounds over 1.5M tri-annotated items — four
    // row-scale passes (2 M-step aggregates to 8 sums, 2 E-step
    // projections folded into downstream scans), driver holds 14 scalars.
    // Measured: 1.3 s / 0.0 MiB shuffle (pure scan+combine, no exchange).
    time(s"dawid-skene EM ${1.5 * mult}M items x3 raters") {
      SparkEntry.queries("q431_dawid_skene")(s, out).count()
    }
    // Bloom skipping read over the ~6000-file shard store: the probe set
    // resolves via ~3 MB of driver bitmaps and the skipping scan opens
    // only passing files (vs the 6000-file fleet) — the write of 6000
    // small files dominates, as in the q423 probe above.
    // Measured: 53.0 s / 95.0 MiB shuffle — the 6000-small-file write
    // plus the manifest build; the probe resolution and the skipping
    // scan itself are the sub-second tail (the point).
    time(s"bloom skipping read ${1.5 * mult}M orders -> ~${6 * mult}k files") {
      SparkEntry.queries("q434_bloom_skipping_read")(s, out).count()
    }
    // Round-14: the copy-on-write claim measured — a FULL publish pays
    // the corpus write; a tiny merge (6 keys over 64 shards) must pay
    // only its touched shards' rewrite + a manifest claim. The two
    // numbers side by side ARE the scale argument (the full-rewrite
    // store pays the first cost on EVERY merge by design).
    // Measured (local[32], quiet window, post-manifest-cache): FULL
    // publish of 1.5M rows 2.95 s / 16.2 MiB shuffle; tiny merge
    // 2.03 s / 1.5 MiB — the WIRE is delta-proportional (10.8x less
    // shuffle); the residual wall is fixture-scale job overhead (the
    // staged write + bounded shard-set collect), which amortizes at
    // real scale where the write dominates. Dense ~300k-key merge:
    // broadcast gate 4.40 s / 18.1 MiB vs forced shuffle gate 4.70 s
    // / 35.9 MiB, results identical in count AND sum — at this delta
    // size the forms tie, and the gate exists for the driver-memory
    // cliff, not the wall.
    locally {
      import graft.sink.CowSnapshots
      val o = s.read.parquet(s"$out/orders.parquet")
        .select(col("o_orderkey").as("doc_id"),
          expr("cast(round(o_totalprice * 100) as bigint)").as("cents"))
      val root = "/tmp/graft_stress_cow"
      graft.sink.Fs.delete(s, root)
      time(s"cow FULL publish ${1.5 * mult}M orders, 64 shards") {
        CowSnapshots.writeVersion(o, root, "doc_id", "s", 64)
      }
      val of = o.withColumn("prio", lit("x"))
      val mx = graft.CdcFixture.maxKey(of)
      time("cow tiny merge (6-key delta) over the same store") {
        CowSnapshots.mergeVersion(s, root,
          graft.CdcFixture.toMerge(graft.CdcFixture.tinyBatch(of, mx)),
          "doc_id", "s", 64)
      }
      // the size gate: broadcast and shuffle anti-join forms of the
      // SAME dense merge must agree (fingerprints compared in-run)
      val dense = graft.CdcFixture.toMerge(
        graft.CdcFixture.singleBatch(of, mx + 10))
      def fp(v: Int): Seq[Any] =
        CowSnapshots.readVersion(s, root, Some(v))
          .agg(count(lit(1)), sum(col("cents"))).head().toSeq
      var vb = 0
      time(s"cow dense merge, broadcast gate (~${300 * mult}k keys)") {
        vb = CowSnapshots.mergeVersion(s, root, dense, "doc_id", "s", 64)
      }
      val fpB = fp(vb)
      val root2 = "/tmp/graft_stress_cow2"
      graft.sink.Fs.delete(s, root2)
      CowSnapshots.writeVersion(o, root2, "doc_id", "s", 64)
      CowSnapshots.mergeVersion(s, root2,
        graft.CdcFixture.toMerge(graft.CdcFixture.tinyBatch(of, mx)),
        "doc_id", "s", 64)
      var vs = 0
      time("cow dense merge, shuffle gate (broadcastKeyLimit=0)") {
        vs = CowSnapshots.mergeVersion(s, root2, dense, "doc_id", "s",
          64, broadcastKeyLimit = 0L)
      }
      val fpS = CowSnapshots.readVersion(s, root2, Some(vs))
        .agg(count(lit(1)), sum(col("cents"))).head().toSeq
      // cardinality AND sum: a dropped zero-cents row or an offsetting
      // duplicate must not pass as "agreement"
      require(fpB == fpS,
        s"size-gate changed the merge result: $fpB vs $fpS")
      println(s"  gate forms agree: $fpB")
    }
    s.stop()
  }
}
