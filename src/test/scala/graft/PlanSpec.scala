package graft

import org.scalatest.funsuite.AnyFunSuite

/** Physical-plan quality gates: the properties that decide whether a query
  * survives a 100x scale-up, asserted on the actual optimized plans.
  * A green corpus with a wrong plan is a latent scale bug — these tests
  * make plan regressions loud.
  */
class PlanSpec extends AnyFunSuite {
  import TestSession._

  private def planOf(name: String): String = {
    val df = SparkEntry.queries(name)(spark, sfDir)
    df.collect() // materialize THIS plan so AQE finalizes + codegen spans show
    // FINAL plan only: AdaptiveSparkPlan.toString appends the pre-AQE
    // "== Initial Plan ==" section, whose repeated operator text lets
    // position-based gates (indexOf-after-Generate etc.) pass against
    // the stale copy — the q199/q204 gate-doesn't-detect class
    df.queryExecution.executedPlan.toString.split("== Initial Plan ==").head
  }

  test("q63/q68: candidate distinct dedups only id pairs, never arrays") {
    import org.apache.spark.sql.catalyst.plans.logical.Aggregate
    import org.apache.spark.sql.types.ArrayType
    // the widest shuffle of an LSH job is the candidate-pair distinct; a
    // regression that pulls signature/embedding arrays back through it
    // multiplies shuffle bytes by the array width at 100 TB
    Seq("q63_minhash_lsh_pairs", "q68_embedding_neardup_lsh").foreach { name =>
      val lp = SparkEntry.queries(name)(spark, sfDir).queryExecution.optimizedPlan
      val aggs = lp.collect { case a: Aggregate => a }
      assert(aggs.nonEmpty, s"$name should contain the candidate distinct")
      aggs.foreach { a =>
        assert(a.output.forall(o => !o.dataType.isInstanceOf[ArrayType]),
          s"$name: aggregate output carries arrays: ${a.output.map(_.dataType)}")
      }
    }
  }

  test("ingest parse: no from_json or explode in a local tick") {
    import graft.sources.OpenSky
    import org.apache.spark.sql.catalyst.expressions.JsonToStructs
    import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
    import org.apache.spark.sql.execution.GenerateExec
    val docs = Seq(OpenSky.sampleResponse(5))
    def parses(df: org.apache.spark.sql.DataFrame) =
      df.queryExecution.optimizedPlan.flatMap(_.expressions.flatMap(_.collect {
        case j: JsonToStructs => j
      }))
    // a poll tick or a micro-batch: the body is decoded on the driver into
    // a LocalRelation, so planning has no parse to fold or run
    val local = OpenSky.parseJson(spark, docs).toDF()
    assert(local.queryExecution.optimizedPlan.isInstanceOf[LocalRelation],
      local.queryExecution.optimizedPlan.toString)
    assert(parses(local).isEmpty)
    assert(local.queryExecution.executedPlan.collect { case g: GenerateExec => g }.isEmpty)
    assert(local.count() === 5L)
  }

  test("q02: filters and projection are pushed into the parquet scan") {
    val plan = planOf("q02_filter_project")
    assert(plan.contains("PushedFilters: ["), plan.take(800))
    assert(plan.contains("l_shipdate"), "shipdate filter should be pushed")
    // pruned read schema — none of the unprojected columns appear in ReadSchema
    val readSchema = plan.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(!readSchema.contains("l_returnflag") && !readSchema.contains("l_tax"),
      s"scan should prune unused columns: $readSchema")
  }

  test("q102: variant extraction prunes the events scan to the two used columns") {
    val plan = planOf("q102_variant_json")
    val readSchema = plan.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(readSchema.contains("props") && readSchema.contains("event_type"),
      s"scan must read the parsed columns: $readSchema")
    assert(!readSchema.contains("user_id") && !readSchema.contains("value"),
      s"scan should prune unused event columns: $readSchema")
  }

  test("q105: bigram counting is two-phase (map-side partial before the shuffle)") {
    val plan = planOf("q105_ngram_topk")
    assert(plan.contains("partial_count"), "bigram counts must combine map-side " +
      "(the Zipf head collapses before the wire): " + plan.take(600))
  }

  test("q10: dimension join is broadcast, not shuffled") {
    val plan = planOf("q10_join_inner_topn")
    assert(plan.contains("BroadcastHashJoin"), "customer dim should broadcast")
  }

  test("q17: six-table join contains no cartesian product and broadcasts dims") {
    val plan = planOf("q17_multiway_join")
    assert(!plan.contains("CartesianProduct"))
    assert(plan.contains("BroadcastHashJoin"))
  }

  test("q30: global sort+limit compiles to TakeOrderedAndProject") {
    val plan = planOf("q30_sort_limit")
    assert(plan.contains("TakeOrderedAndProject"), plan.take(400))
  }

  test("q01: aggregation is two-phase (partial then final)") {
    val plan = planOf("q01_pricing_summary")
    assert(plan.contains("partial_"), "map-side partial aggregation expected")
    assert(plan.contains("HashAggregate"))
  }

  test("q01: plan stays inside whole-stage codegen") {
    // "*(n)" is the whole-stage-codegen marker in plan strings
    val plan = planOf("q01_pricing_summary")
    assert(plan.contains("*("), plan.take(400))
  }

  test("q16: constant-size band table joins via broadcast nested loop") {
    val plan = planOf("q16_join_range_theta")
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastHashJoin"))
    assert(!plan.contains("CartesianProduct"))
  }

  test("q66: probe side of knn is broadcast (corpus scans once, no shuffle)") {
    val plan = planOf("q66_knn_brute_force")
    assert(plan.contains("BroadcastNestedLoopJoin"), "probes should broadcast")
  }

  test("native expressions appear in codegen'd projections") {
    val plan = planOf("q54_fingerprint")
    assert(plan.contains("rolling_hash"))
    assert(plan.linesIterator.exists(l => l.contains("*(") && l.contains("rolling_hash")),
      "native expressions must sit inside a codegen stage")
    // sim_hash moved out of q54 when it gained its bit-exact oracle;
    // the kernel stays on the hot path through q64's banding
    assert(planOf("q64_simhash_pairs").contains("sim_hash"))
  }

  test("q62: jaccard inverted index shuffles 8-byte keys, sizes broadcast") {
    val plan = planOf("q62_ngram_jaccard_pairs")
    assert(plan.contains("shingle_hashes"), "native shingle kernel expected")
    assert(plan.contains("BroadcastHashJoin"), "doc-size lookup should broadcast")
  }

  test("q133: the bucketed interval join stays an equi-join, never a nested loop") {
    // the whole point of the bucket probe is turning the time-range theta
    // join into a hash-partitionable equi-join; a regression that drops
    // the bucket keys falls back to BroadcastNestedLoopJoin, which cannot
    // scale past a broadcastable side
    val plan = planOf("q133_bucketed_interval_join")
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      "interval join degenerated to a non-equi physical join")
    assert(plan.contains("SortMergeJoin") || plan.contains("BroadcastHashJoin") ||
      plan.contains("ShuffledHashJoin"),
      "expected an equi-join on (user_id, bucket)")
  }

  test("q137: the composed pipeline dedups with ONE exchange before the audit") {
    // keep-first via window = one shuffle keyed by text; a regression to
    // the groupBy+semi-join form adds a second exchange on doc_id
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val df = SparkEntry.queries("q137_corpus_pipeline")(spark, sfDir)
    df.collect()
    val plan = df.queryExecution.executedPlan
    def countExchanges(p: org.apache.spark.sql.execution.SparkPlan): Int = {
      val self = p match {
        case _: ShuffleExchangeExec => 1
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          return countExchanges(a.executedPlan)
        case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
          return countExchanges(q.plan)
        case _ => 0
      }
      self + p.children.map(countExchanges).sum
    }
    val n = countExchanges(plan)
    // window-on-text (1) + the audit's countDistinct two-phase agg (2)
    // + output sort (1) = 4; the groupBy+semi-join dedup form adds a 5th
    assert(n <= 4, s"composed pipeline grew to $n exchanges — dedup stage regressed")
  }

  test("q146: both SCD2 windows share one user_id exchange") {
    // change-detect and range-close are windows over the SAME
    // (partition, order); a regression that re-partitions between them
    // (e.g. reordering the orderBy columns) doubles the shuffle
    val df = SparkEntry.queries("q146_scd2_build")(spark, sfDir)
    df.collect()
    // AdaptiveSparkPlan.toString appends the pre-AQE "Initial Plan"
    // section — count only the final plan or every exchange doubles
    val plan = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(exchanges == 1,
      s"expected ONE hash exchange feeding both windows, got $exchanges:\n${plan.take(800)}")
  }

  test("q148/q149/q150: retrieval and pagerank never degenerate to cartesian plans") {
    Seq("q148_boolean_retrieval", "q149_phrase_search", "q150_pagerank_int")
      .foreach { name =>
        val plan = planOf(name)
        assert(!plan.contains("CartesianProduct") &&
          !plan.contains("BroadcastNestedLoopJoin"),
          s"$name: non-equi join appeared\n${plan.take(600)}")
      }
  }

  test("q140: duplicate-gram discovery aggregates map-side before the shuffle") {
    val plan = planOf("q140_duplicate_spans")
    assert(plan.contains("partial_"), "gram counting must combine map-side " +
      "(per-doc repeats collapse before the wire): " + plan.take(600))
  }

  test("q165: idf and corpus stats ride broadcasts; the score agg is two-phase") {
    // the corpus-stat crossJoin is a 1-row broadcast and the 3-row idf a
    // broadcast hash join — a shuffled exchange on either would put the
    // whole postings volume through the wire at 100 TB for a 4-row dim
    val plan = planOf("q165_bm25_topk")
    assert(plan.contains("BroadcastHashJoin"),
      "idf dim must broadcast: " + plan.take(600))
    assert(!plan.contains("CartesianProduct"),
      "1-row corpus stats must broadcast, not cartesian: " + plan.take(600))
    assert(plan.contains("partial_"),
      "tf/len/score aggregates must combine map-side: " + plan.take(600))
  }

  test("q167: the dup-exclusion anti-join is hash/merge equi, never a nested loop") {
    // the only nested-loop allowed is the deliberate 1-row n_docs
    // crossJoin; the anti-join against the (potentially large) near-dup
    // pair set must join equi on the precomputed (lo, hi) pair key
    val plan = planOf("q167_negative_sampling")
    val finalSection = plan.split("== Initial Plan ==")(0)
    val antiLines = finalSection.linesIterator
      .filter(_.contains("LeftAnti")).toSeq
    assert(antiLines.nonEmpty, "expected an anti-join in the plan")
    assert(antiLines.forall(l =>
      l.contains("BroadcastHashJoin") || l.contains("SortMergeJoin") ||
        l.contains("ShuffledHashJoin")),
      s"anti-join degenerated to a nested loop: $antiLines")
  }

  test("q166: the offset table is broadcast and no window spans the corpus") {
    val plan = planOf("q166_token_budget_selection")
    assert(plan.contains("BroadcastHashJoin"),
      "<=101-row offset table must broadcast: " + plan.take(600))
    // the only sort-based windows allowed are per-score (partitioned) and
    // the <=101-row offset cumsum; a global single-partition corpus window
    // would show as Window over Exchange SinglePartition feeding doc rows.
    // AQE's toString appends an "== Initial Plan ==" copy — count only the
    // final section or every operator double-counts.
    val finalSection = plan.split("== Initial Plan ==")(0)
    val single = finalSection.linesIterator
      .filter(_.contains("SinglePartition")).toSeq
    assert(single.size <= 1,
      s"expected at most the 101-row offset window on a single partition: $single")
  }

  test("q179: the 100-token vocab is broadcast and top-k never globally sorts") {
    val plan = planOf("q179_vocab_oov")
    assert(plan.contains("BroadcastHashJoin"),
      "100-row vocab must broadcast onto the token scan: " + plan.take(600))
    assert(plan.contains("TakeOrderedAndProject"),
      "vocab top-k must be a distributed heap, not a global sort: " +
        plan.take(600))
  }

  test("q181: the per-type threshold table is broadcast onto the flag scan") {
    val plan = planOf("q181_anomaly_monitor")
    assert(plan.contains("BroadcastHashJoin"),
      "5-row threshold table must broadcast: " + plan.take(600))
    assert(plan.contains("partial_"),
      "the cent-domain CDF counts must combine map-side: " + plan.take(600))
  }

  test("q184: the centroid table is broadcast; no corpus-side cartesian") {
    // the crossJoin against the k-row centroid table must become a
    // broadcast nested loop (k*dim driver-bounded), and the per-vector
    // argmin window partitions by vec_id, never a single partition
    val plan = planOf("q184_centroid_confusion")
    assert(plan.contains("BroadcastNestedLoopJoin"),
      "k-row centroid table must broadcast: " + plan.take(600))
    val finalSection = plan.split("== Initial Plan ==")(0)
    assert(!finalSection.contains("CartesianProduct"),
      "centroid join degenerated to a cartesian: " + plan.take(600))
  }

  test("q191: the offset table is broadcast and no window spans the corpus") {
    // same contract as q117/q166: the only single-partition window is the
    // buckets-sized offset cumsum, never the doc corpus
    val plan = planOf("q191_token_balanced_shards")
    assert(plan.contains("BroadcastHashJoin"),
      "the P-row offset table must broadcast: " + plan.take(600))
    // the allowed single-partition exchanges all carry bounded artifacts:
    // the one-row (lo, hi, total) bounds aggregate (which feeds two plan
    // branches) and the P-row bucket-offset window — never doc rows. A
    // corpus-wide window would add a SinglePartition exchange ABOVE the
    // doc-scale scan, pushing the count past this bound.
    val finalSection = plan.split("== Initial Plan ==")(0)
    val single = finalSection.linesIterator
      .filter(_.contains("SinglePartition")).toSeq
    assert(single.size <= 3,
      s"expected only bounded-artifact single-partition exchanges: $single")
  }

  test("q193: session frame is materialized once; count tables broadcast") {
    val plan = planOf("q193_session_cooccurrence")
    val finalSection = plan.split("== Initial Plan ==")(0)
    // the sessionize+distinct subtree is localCheckpoint'ed: every
    // consumer branch must read the materialized RDD scan, not replay
    // the user_id shuffle + two windows per branch
    assert(finalSection.contains("Scan ExistingRDD"),
      "session frame must come from the checkpoint: " + plan.take(600))
    assert(!finalSection.contains("WindowExec") &&
      !finalSection.linesIterator.exists(l =>
        l.contains("Window") && l.contains("user_id")),
      "sessionize windows must not replay downstream of the checkpoint: " +
        plan.take(800))
    assert(plan.contains("BroadcastHashJoin"),
      "per-type count tables must broadcast: " + plan.take(600))
  }

  test("q178: the keep-first window partitions by line content, never globally") {
    val plan = planOf("q178_line_dedup")
    val finalSection = plan.split("== Initial Plan ==")(0)
    assert(!finalSection.contains("SinglePartition"),
      "line dedup must not collapse to a single partition: " +
        finalSection.linesIterator.filter(_.contains("SinglePartition"))
          .mkString("; "))
    assert(finalSection.contains("hashpartitioning(line"),
      "keep-first window must shuffle by line content: " + plan.take(800))
  }

  test("q195: pair mining aggregates partial top-k map-side, never a pair window") {
    // the whole point of the TopKPairs form: the quadratic pair
    // enumeration must collapse into bounded partial-aggregation buffers
    // BEFORE the shuffle (q56-vs-q66 argument). A regression to the
    // window-rank form would show a Window over the pair stream and
    // shuffle every scored pair.
    val plan = planOf("q195_cross_label_nn")
    assert(plan.contains("partial_topkpairs"),
      "top-k pair mining must run as a partial+final aggregate: " +
        plan.take(800))
    assert(!plan.contains("Window ["),
      "pair ranking regressed to a window sort over materialized pairs: " +
        plan.take(800))
  }

  test("q194: sessionize and in-session lead share one user_id exchange") {
    // both windows order within user partitions; a second exchange means
    // the lead window re-partitioned (the q146 class of regression)
    val df = SparkEntry.queries("q194_session_transitions")(spark, sfDir)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    val userExchanges = "hashpartitioning\\(user_id".r.findAllIn(plan).size
    assert(userExchanges == 1,
      s"expected ONE user_id exchange feeding both windows, got $userExchanges:\n" +
        plan.take(800))
  }

  test("q196: the percentile CDF aggregates map-side (domain, not rows, on the wire)") {
    val plan = planOf("q196_gap_percentiles")
    assert(plan.contains("partial_count") || plan.contains("partial_"),
      "gap counting must combine map-side before the shuffle: " + plan.take(600))
  }

  test("q197: triangle closure is an equi semi-join; no nested-loop anywhere") {
    // degree orientation + canonical id-ordered wedge legs exist so the
    // closure check is a keyed LeftSemi equi-join. A regression to a
    // theta-shaped closure (or an unkeyed wedge join) shows up as a
    // nested-loop/cartesian operator — the plan that cannot survive a
    // web-scale graph.
    val plan = planOf("q197_triangle_count")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      "triangle counting must stay equi-join-only: " + plan.take(800))
    assert(plan.contains("LeftSemi"),
      "closure must be a semi-join against the edge set: " + plan.take(800))
  }

  test("q198: one event_type exchange; the min-day frame is broadcast") {
    val df = SparkEntry.queries("q198_trend_slope")(spark, sfDir)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    assert(plan.contains("BroadcastNestedLoopJoin") ||
      plan.contains("BroadcastExchange"),
      "the 1-row min-day frame must broadcast, never shuffle the fact side: " +
        plan.take(600))
    val typeExchanges =
      "hashpartitioning\\(event_type".r.findAllIn(plan).size
    assert(typeExchanges == 1,
      s"expected ONE event_type exchange for the five-sum aggregate, " +
        s"got $typeExchanges:\n" + plan.take(800))
  }

  test("q199: only the bucket-domain window is unpartitioned; row windows are keyed") {
    // the skyline's scalable form: the prefix-max over char buckets runs
    // on the (chars DIV 256) DOMAIN — the only unpartitioned window
    // allowed; the row-scale running-max and equal-chars windows must
    // partition (by bucket / by chars). A regression that sorts the whole
    // corpus in one partition is the q166 class of scale bug. Checked on
    // the LOGICAL plan's Window nodes (partitionSpec is a typed field
    // there; the physical string renders an empty spec invisibly).
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
    val df = SparkEntry.queries("q199_pareto_frontier")(spark, sfDir)
    val wins = df.queryExecution.optimizedPlan.collect { case w: LWindow => w }
    assert(wins.size == 3, s"expected 3 windows, got ${wins.size}")
    val unpart = wins.filter(_.partitionSpec.isEmpty)
    assert(unpart.size == 1 &&
      unpart.head.orderSpec.exists(_.child.toString.contains("cb")),
      "exactly ONE unpartitioned window is allowed and it must be the " +
        s"bucket-domain prefix (orders by cb): ${wins.map(w =>
          (w.partitionSpec.map(_.toString), w.orderSpec.map(_.toString)))}")
    wins.filterNot(_.partitionSpec.isEmpty).foreach { w =>
      assert(w.partitionSpec.exists(e =>
        e.toString.contains("cb") || e.toString.contains("n_chars")),
        s"row-scale window must key by bucket or chars: ${w.partitionSpec}")
    }
    val plan = planOf("q199_pareto_frontier")
    assert(!plan.contains("CartesianProduct"),
      "the skyline must never fall back to the oracle's O(n^2) form: " +
        plan.take(600))
  }

  test("q200: bottom-k sampling is a TakeOrdered top-k with map-side min") {
    val plan = planOf("q200_weighted_sample")
    assert(plan.contains("TakeOrderedAndProject"),
      "the bottom-25 must be a top-k, never a global sort: " + plan.take(600))
    assert(plan.contains("partial_min"),
      "per-doc key mins must combine map-side before the shuffle: " +
        plan.take(600))
  }

  test("q203: the x7 window fan-out explodes deduped (user, day) pairs, not raw events") {
    // windowed COUNT DISTINCT doesn't decompose into a running window —
    // the scalable form dedups first, then fans out slim pairs. A
    // regression that explodes before the dedup multiplies raw event
    // volume by 7; one that ranks via a window sorts the corpus.
    val df = SparkEntry.queries("q203_rolling_active_users")(spark, sfDir)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    assert(plan.contains("Generate explode"),
      "the window fan-out must be a generator: " + plan.take(600))
    assert(!plan.contains("Window"),
      "rolling distinct must not regress to a window rank: " + plan.take(600))
    // plan strings print sink-first: an operator LATER in the string is
    // UPSTREAM — the (user, day) dedup aggregate must sit below the
    // generator, i.e. the explode consumes already-deduped pairs
    val gen = plan.indexOf("Generate explode")
    assert(plan.indexOf("HashAggregate", gen) > gen,
      "the explode must consume the deduped (user, day) pairs: " +
        plan.take(800))
  }

  test("q204: both argmaxes collapse in ONE doc_id aggregate pass") {
    // before (s<8, masked keys) and after argmaxes are two
    // max(struct(k, shard)) aggregates in the same groupBy — one doc_id
    // exchange total. The committed query checkpoints the downstream
    // combo frame (truncating ITS plan), so the gate probes the exposed
    // doc-scale pass directly — the frame where a window-rank or
    // per-argmax-join regression would multiply doc-scale exchanges.
    val df = graft.operators.GraphSelection.reshardAssignments(spark, sfDir)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    val docExchanges = "hashpartitioning\\(doc_id".r.findAllIn(plan).size
    assert(docExchanges <= 1,
      s"expected at most ONE doc_id exchange for both argmaxes, " +
        s"got $docExchanges:\n" + plan.take(800))
    assert(plan.contains("max(struct"),
      "both argmaxes must be struct-max aggregates in the groupBy: " +
        plan.take(800))
    assert(!plan.contains("Window ") && !plan.contains("CartesianProduct"),
      "argmax must stay an aggregate, never a window rank: " +
        plan.take(600))
  }

  test("q206: both CDF windows run on the event_type-keyed cents domain") {
    // two counting-sort passes (values, then |dev|): every window must
    // partition by event_type and sit above a domain-collapsing
    // aggregate — an unpartitioned CDF or a row-scale rank would be the
    // q166 single-partition class of regression
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
    val df = SparkEntry.queries("q206_mad_outliers")(spark, sfDir)
    val wins = df.queryExecution.optimizedPlan.collect { case w: LWindow => w }
    assert(wins.nonEmpty, "expected the two CDF windows in the plan")
    wins.foreach { w =>
      assert(w.partitionSpec.exists(_.toString.contains("event_type")),
        s"CDF window must partition by event_type: ${w.partitionSpec}")
    }
    val plan = planOf("q206_mad_outliers")
    assert(plan.contains("partial_count"),
      "domain counts must combine map-side before the CDF shuffle: " +
        plan.take(600))
  }

  test("q201: two-level count/sum aggregate, no window, no join") {
    val plan = planOf("q201_gini_balance")
    assert(plan.contains("partial_count") && plan.contains("partial_sum"),
      "both aggregate levels must combine map-side: " + plan.take(600))
    assert(!plan.contains("Window") && !plan.contains("Join"),
      "Gini impurity is a pure polynomial in counts — no window or join: " +
        plan.take(600))
  }

  test("q208: two-level aggregate with map-side partials; the z^2 algebra " +
    "rides on one row — no window, no join") {
    val plan = planOf("q208_ab_test")
    assert(plan.contains("partial_max"),
      "per-(arm,user,day) conversion flags must combine map-side: " +
        plan.take(600))
    assert(plan.contains("partial_sum"),
      "the four-scalar arm totals must combine map-side: " + plan.take(600))
    assert(!plan.contains("Window") && !plan.contains("Join"),
      "the test statistic is pure aggregate algebra — a window or join " +
        "here is a regression: " + plan.take(600))
  }

  test("q209: every chi-square window runs on the collapsed cell domain, " +
    "never on rows") {
    // plan strings print sink-first, so UPSTREAM operators appear LATER:
    // the row-scale (source, lang) count aggregate must sit below (after)
    // the LAST window — i.e. all three marginal windows consume the
    // <=|sources|x|langs| cell frame, and only that frame
    val plan = planOf("q209_chi_square_drift")
    val lastWin = plan.lastIndexOf("Window")
    assert(lastWin >= 0, "expected the three marginal windows")
    assert(plan.indexOf("HashAggregate", lastWin) > lastWin,
      "the cell-collapsing aggregate must be upstream of every window — " +
        "an unpartitioned window over RAW rows is the q166 " +
        "single-partition regression: " + plan.take(800))
    assert(plan.contains("partial_count"),
      "cell counts must combine map-side before the only row-scale " +
        "shuffle: " + plan.take(600))
  }

  test("q210: both attribution carries share ONE user-keyed window; " +
    "channel totals combine map-side") {
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
    val df = SparkEntry.queries("q210_last_touch_attribution")(spark, sfDir)
    val wins = df.queryExecution.optimizedPlan.collect { case w: LWindow => w }
    assert(wins.size == 1,
      s"click_us and click_ch share a WindowSpec and must collapse into " +
        s"ONE window operator (got ${wins.size}) — two operators means " +
        "two per-user sorts at 100 TB")
    assert(wins.head.partitionSpec.exists(_.toString.contains("user_id")),
      s"the carry must key by user_id: ${wins.head.partitionSpec}")
    val plan = planOf("q210_last_touch_attribution")
    assert(plan.contains("partial_count") && plan.contains("partial_sum"),
      "channel conversion/revenue totals must combine map-side: " +
        plan.take(600))
  }

  test("q211: stratum ranking is a keyed window and the pair join is " +
    "equi on the stratum keys") {
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
    val df = SparkEntry.queries("q211_matched_controls")(spark, sfDir)
    val wins = df.queryExecution.optimizedPlan.collect { case w: LWindow => w }
    assert(wins.nonEmpty && wins.forall(_.partitionSpec.nonEmpty),
      "row_number must partition by (lang, bucket, treat) — a global " +
        s"rank sorts the corpus: ${wins.map(_.partitionSpec)}")
    wins.foreach { w =>
      assert(w.partitionSpec.exists(_.toString.contains("lang")),
        s"stratum window must key by lang: ${w.partitionSpec}")
    }
    val plan = planOf("q211_matched_controls")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      "rank matching must stay an equi-join on (lang, bucket, rk): " +
        plan.take(600))
  }

  test("q216: rank filter and collect share ONE user_id exchange; the " +
    "carry is capped before any collect_list") {
    val df = SparkEntry.queries("q216_user_sequences")(spark, sfDir)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(exchanges == 1,
      s"the window's user_id partitioning must feed the aggregate " +
        s"directly — got $exchanges hash exchanges:\n${plan.take(800)}")
    // plan prints sink-first: the rank Filter must sit BETWEEN the
    // collect aggregate (earlier) and the window (later) — i.e. the
    // aggregate only ever sees <=K rows per user
    val agg = plan.indexOf("collect_list")
    val win = plan.indexOf("row_number")
    assert(agg >= 0 && win >= 0 && agg < win,
      "collect_list must consume the rank-filtered frame, not raw " +
        "history — unbounded per-user arrays OOM at 100 TB: " +
        plan.take(800))
  }

  test("q217: both CUSUM windows run on the collapsed day domain after " +
    "a map-side-combined daily aggregate") {
    val plan = planOf("q217_cusum_changepoint")
    val lastWin = plan.lastIndexOf("Window")
    assert(lastWin >= 0, "expected the cumsum/running-min windows")
    assert(plan.indexOf("HashAggregate", lastWin) > lastWin,
      "the day-collapsing aggregate must be upstream of every window — " +
        "an unpartitioned window over raw purchases is the q166 " +
        "single-partition regression: " + plan.take(800))
    assert(plan.contains("partial_sum"),
      "daily cents must combine map-side: " + plan.take(600))
  }

  test("q218: the rolling fan-out explodes day SKETCHES, not events — " +
    "both sketch aggregates combine partially") {
    val plan = planOf("q218_rolling_wau_hll")
    assert(plan.contains("hll_sketch_agg") && plan.contains("hll_union_agg"),
      "expected DataSketches build + union aggregates: " + plan.take(600))
    // sink-first: the per-day sketch aggregate (upstream) must appear
    // AFTER the Generate — the x7 fan-out consumes one sketch row per
    // day, never raw (user, day) rows (that would be q203, the exact
    // path, not this one)
    val gen = plan.indexOf("Generate")
    assert(gen >= 0, "expected the x7 explode")
    assert(plan.indexOf("hll_sketch_agg", gen) > gen,
      "the explode must sit ABOVE the day-sketch aggregate — fanning " +
        "out raw events forfeits the kilobytes-per-day scale story: " +
        plan.take(800))
  }

  test("q219: first-touch argmins are map-side min(struct) aggregates — " +
    "no ranking window before the user join") {
    val plan = planOf("q219_time_to_convert")
    assert(plan.contains("partial_min"),
      "first click/purchase must combine map-side as min(struct): " +
        plan.take(600))
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
    val df = SparkEntry.queries("q219_time_to_convert")(spark, sfDir)
    val wins = df.queryExecution.optimizedPlan.collect { case w: LWindow => w }
    assert(wins.forall(_.partitionSpec.nonEmpty),
      s"the only windows are the channel-keyed CDF cumsums: " +
        s"${wins.map(_.partitionSpec)}")
  }

  test("q220: all six contract constraints share ONE aggregate pass over " +
    "the scan") {
    val df = SparkEntry.queries("q220_data_contract")(spark, sfDir)
    df.collect()
    // the distinct-count expand keeps this two-phase; what must NOT
    // appear is a second scan (six separate audits) or a join. Count
    // actual leaf scan NODES of the executed plan — a string proxy
    // ("parquet" substring / operator-text matches) could let a two-scan
    // regression slip whenever either proxy happened to hold
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
    def leaves(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => leaves(a.executedPlan)
      // AQE materializes the tree as leaf-like stage wrappers; a reused
      // exchange is NOT a second scan — count its subtree zero times
      case q: QueryStageExec => leaves(q.plan)
      case _: ReusedExchangeExec => Seq.empty
      case other if other.children.isEmpty => Seq(other)
      case other => other.children.flatMap(leaves) ++
        other.subqueries.flatMap(leaves)
    }
    val scanLeaves = leaves(df.queryExecution.executedPlan)
      .count(_.isInstanceOf[FileSourceScanExec])
    assert(scanLeaves == 1,
      s"contract must cost exactly one file scan, found $scanLeaves")
    val plan = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    assert(plan.contains("partial_sum") || plan.contains("partial_count"),
      "constraint counters must combine map-side: " + plan.take(600))
    assert(!plan.contains("Join"),
      "six constraints, one pass — a join means the suite split: " +
        plan.take(600))
  }

  test("q221: distortion never shuffles payloads — only three int64s per " +
    "doc leave the map") {
    val plan = planOf("q221_augment_distortion")
    assert(!plan.contains("Exchange hashpartitioning"),
      "no hash shuffle belongs in a pure per-doc projection: " +
        plan.take(600))
    assert(plan.contains("TakeOrdered") || plan.contains("Sort"),
      "only the bounded output sort remains: " + plan.take(400))
  }

  test("q222: PQ coding is one narrow projection — no join, no hash " +
    "shuffle before the output sort") {
    val plan = planOf("q222_pq_codes")
    assert(!plan.contains("Join"),
      "codebooks are broadcast constants inside the projection, never " +
        "a joined table: " + plan.take(600))
    assert(!plan.contains("Exchange hashpartitioning"),
      "coding 100 TB of vectors must stay a map pass: " + plan.take(600))
  }

  test("q235: rec list broadcasts onto the eval join; the final metric " +
    "aggregate combines map-side to one row") {
    val plan = planOf("q235_mrr_eval")
    assert(plan.contains("BroadcastHashJoin"),
      "the <=300-row rec list must broadcast: " + plan.take(600))
    assert(!plan.contains("CartesianProduct"),
      "pair mining and eval are equi-joins: " + plan.take(600))
    assert(plan.contains("partial_count") || plan.contains("partial_sum"),
      "case metrics must combine map-side: " + plan.take(400))
  }

  test("q258: the WAU fan-out explodes day BITMAPS, not user rows — " +
    "both bitmap aggregates combine partially") {
    val plan = planOf("q258_bitmap_rolling_wau")
    assert(plan.contains("bitmap_set_agg") &&
      plan.contains("bitmap_or_card_agg"),
      "expected the native bitmap build + union aggregates: " +
        plan.take(600))
    // same sink-first shape as q218's sketch gate: the x7 explode must
    // sit ABOVE the per-day bitmap aggregate — fanning out raw (user,
    // day) rows forfeits the bytes-per-day scale story
    val gen = plan.indexOf("Generate")
    assert(gen >= 0, "expected the x7 explode")
    assert(plan.indexOf("bitmap_set_agg", gen) > gen,
      "the explode must consume one bitmap row per day, never raw rows: " +
        plan.take(800))
  }

  test("q257: the fitted model broadcasts onto the stream side — the " +
    "monitor never shuffles the model") {
    import org.apache.spark.sql.catalyst.plans.logical.{BROADCAST, ResolvedHint}
    // the query itself returns the DRAINED memory-sink result (a
    // LocalTableScan) — the stream-static join only exists in the
    // pre-drain streaming plan, so gate the shared builder's plan
    val (streamDf, _) =
      graft.streaming.StreamingOps.conformalMonitorStream(spark, sfDir)
    val hints = streamDf.queryExecution.analyzed.collect {
      case h: ResolvedHint if h.hints.strategy.contains(BROADCAST) => h
    }
    assert(hints.nonEmpty,
      "the <=4-row channel model must carry the broadcast hint into the " +
        "stream-static join: " +
        streamDf.queryExecution.analyzed.toString.take(800))
  }

  test("q236/q240/q256: the domain windows sit ABOVE a row-scale " +
    "aggregate — rows never enter an unpartitioned sort") {
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Window => LWindow}
    Seq("q236_feature_binning", "q240_ks_drift",
      "q256_gini_split").foreach { name =>
      val lp = SparkEntry.queries(name)(spark, sfDir)
        .queryExecution.optimizedPlan
      val wins = lp.collect { case w: LWindow => w }
      assert(wins.nonEmpty, s"$name: expected the domain cumsum windows")
      wins.foreach { w =>
        // every window input must be the bucket-domain aggregate, i.e.
        // an Aggregate appears strictly BELOW it in the tree — an
        // unpartitioned window directly over the scan is the 100 TB
        // sort this corpus bans
        assert(w.collect { case a: Aggregate => a }.nonEmpty,
          s"$name: window consumes raw rows, not the bucket domain")
      }
    }
  }

  test("q237: the global prior is a 1-row broadcast, never a shuffle") {
    val plan = planOf("q237_target_encoding")
    assert(plan.contains("BroadcastNestedLoopJoin") ||
      plan.contains("BroadcastHashJoin"),
      "the prior crossJoin must broadcast its single row: " + plan.take(600))
    assert(!plan.contains("CartesianProduct"), plan.take(400))
  }

  test("q239: the calendar lag is a self-join of the DAY aggregate — " +
    "two day-domain sides, zero row-scale joins") {
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Join}
    val lp = SparkEntry.queries("q239_seasonal_baseline")(spark, sfDir)
      .queryExecution.optimizedPlan
    val joins = lp.collect { case j: Join => j }
    assert(joins.nonEmpty, "expected the d = pd + 7 self-join")
    joins.foreach { j =>
      assert(j.left.collect { case a: Aggregate => a }.nonEmpty &&
        j.right.collect { case a: Aggregate => a }.nonEmpty,
        "both join sides must already be daily aggregates — joining raw " +
          "events on date would shuffle row-scale data twice")
    }
  }

  test("q224: the rec table broadcasts onto the eval scan; no cartesian " +
    "anywhere in the train/eval loop") {
    val plan = planOf("q224_cooccurrence_recs_eval")
    assert(plan.contains("BroadcastHashJoin"),
      "the <=|types|-row rec table must broadcast: " + plan.take(600))
    assert(!plan.contains("CartesianProduct"),
      "basket self-join and eval hit-join are equi-joins: " +
        plan.take(600))
  }

  test("q225: the snapshot fan-out explodes DAILY AGGREGATES, never raw " +
    "purchases; latest-before pick is a label-keyed window") {
    val plan = planOf("q225_point_in_time_features")
    // sink-first: the daily (user, day) aggregate sits upstream of
    // (later in the string than) the x7 Generate
    val gen = plan.indexOf("Generate")
    assert(gen >= 0, "expected the x7 snapshot explode")
    assert(plan.indexOf("HashAggregate", gen) > gen,
      "fanning out raw purchase events multiplies the row-scale x7 — " +
        "the explode must consume the daily aggregate: " + plan.take(800))
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
    val df = SparkEntry.queries("q225_point_in_time_features")(spark, sfDir)
    val wins = df.queryExecution.optimizedPlan.collect { case w: LWindow => w }
    assert(wins.nonEmpty && wins.forall(
      _.partitionSpec.exists(_.toString.contains("event_id"))),
      s"latest-before must rank per label, never globally: " +
        s"${wins.map(_.partitionSpec)}")
  }

  test("q230/q231: each sessionizer costs ONE user-keyed hash exchange") {
    Seq("q230_dynamic_gap_sessions", "q231_capped_sessions").foreach { n =>
      val df = SparkEntry.queries(n)(spark, sfDir)
      df.collect()
      val plan = df.queryExecution.executedPlan.toString
        .split("== Initial Plan ==").head
      val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).size
      assert(exchanges == 1,
        s"$n: expected one user_id exchange, got $exchanges:\n" +
          plan.take(800))
    }
  }

  test("q227: both snapshots' centroids ride ONE (label, dim) aggregate " +
    "— no join, no second scan") {
    val plan = planOf("q227_embedding_drift")
    assert(!plan.contains("Join"),
      "snapshot comparison is conditional sums in one pass — a join " +
        "means two scans of the embedding table: " + plan.take(600))
    assert(plan.contains("partial_sum"),
      "the (label, dim) sums must combine map-side: " + plan.take(600))
  }

  test("q228: the forward-conversion probe is a user-keyed semi/hash " +
    "join, never a cartesian or a raw-purchase window") {
    val plan = planOf("q228_conversion_calibration")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      "click x purchase must stay user-keyed: " + plan.take(600))
    assert(!plan.contains("Window"),
      "exists-within-24h is a semi join, not a ranking window: " +
        plan.take(400))
  }

  test("q261: the z-order audit sorts nothing and windows nothing — " +
    "file assignment is closed-form") {
    val plan = planOf("q261_zorder_layout")
    // the whole point: NO global z sort in the audit (a writer would
    // repartitionByRange; the audit's equal-width buckets are pure
    // projection) — the only Sort allowed is the final 2-row orderBy
    assert(!plan.contains("Window"),
      "no window may appear — file ids are arithmetic: " + plan.take(600))
    val finalSection = plan
    val sorts = finalSection.linesIterator.count(_.trim.startsWith("+- Sort"))
    assert(sorts <= 1, s"only the 2-row output orderBy may sort: $plan")
    assert(plan.contains("z_interleave16"),
      "the native Morton expression must be in the plan: " + plan.take(400))
  }

  test("q265/q267: conversion labels come from user-keyed semi joins; " +
    "q267's score join broadcasts the 4-row rate table") {
    Seq("q265_ips_policy_eval", "q267_group_auc").foreach { n =>
      val plan = planOf(n)
      assert(!plan.contains("CartesianProduct") &&
        !plan.contains("BroadcastNestedLoopJoin"),
        s"$n: click x purchase must stay user-keyed: " + plan.take(600))
    }
    val p267 = planOf("q267_group_auc")
    assert(p267.contains("BroadcastHashJoin"),
      "the per-channel score table must broadcast: " + p267.take(600))
  }

  test("q270: the spatial join is a cell-keyed equi-join — Catalyst " +
    "never sees a theta join") {
    val plan = planOf("q270_spatial_grid_join")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      "distance predicate must ride an equi-join on (cx, cy): " +
        plan.take(600))
    assert(plan.contains("HashJoin") || plan.contains("SortMergeJoin"),
      "expected a hash/sort-merge equi-join on the cell keys: " +
        plan.take(600))
  }

  test("q279: the semantic leg broadcasts the 1-row probe onto the " +
    "corpus scan; every rank window runs below a 30-row limit") {
    val plan = planOf("q279_rrf_hybrid")
    assert(plan.contains("BroadcastNestedLoopJoin") ||
      plan.contains("BroadcastHashJoin"),
      "the probe must broadcast, never shuffle the corpus against it: " +
        plan.take(600))
    // the empty-partition rank windows are legal ONLY because each
    // consumes a LIMIT 30 list — a corpus-wide global window here would
    // be the classic single-partition scale killer
    import org.apache.spark.sql.catalyst.plans.logical.{GlobalLimit, Window => LWindow}
    val df = SparkEntry.queries("q279_rrf_hybrid")(spark, sfDir)
    val wins = df.queryExecution.optimizedPlan.collect { case w: LWindow => w }
    assert(wins.nonEmpty && wins.forall(w =>
      w.collect { case l: GlobalLimit => l }.nonEmpty),
      "every unpartitioned rank window must sit above a limit")
  }

  test("q284: time-decay credit reuses ONE pid exchange for rank, " +
    "weight sum and remainder") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val df = SparkEntry.queries("q284_time_decay_attribution")(spark, sfDir)
    df.collect()
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.SparkPlan
    def all(p: SparkPlan): Seq[SparkPlan] = p +: (p.children ++
      (p match {
        case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
        case q: QueryStageExec => Seq(q.plan)
        case _ => Seq.empty
      })).flatMap(all)
    val pidEx = all(df.queryExecution.executedPlan).collect {
      case e: ShuffleExchangeExec
          if e.outputPartitioning.toString.contains("pid") => e
    }
    // budget: 1 for the credited chain (rank + weight-sum + remainder
    // windows all share it) + 2 for the organic anti-join's two sides
    // (the q213-family shape). A per-window exchange regression would
    // show 5+.
    assert(pidEx.size <= 3,
      s"the credited windows must share one exchange (3 = shared + " +
        s"anti-join pair), found ${pidEx.size}: " +
        s"${pidEx.map(_.outputPartitioning)}")
  }

  test("q288: the audit never materializes the joins it sizes — " +
    "4 scan leaves, joins only on count tables") {
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
    val df = SparkEntry.queries("q288_join_size_estimate")(spark, sfDir)
    df.collect()
    def leaves(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => leaves(a.executedPlan)
      case q: QueryStageExec => leaves(q.plan)
      case _: ReusedExchangeExec => Seq.empty
      case other if other.children.isEmpty => Seq(other)
      case other => other.children.flatMap(leaves) ++
        other.subqueries.flatMap(leaves)
    }
    val scans = leaves(df.queryExecution.executedPlan)
      .count(_.isInstanceOf[FileSourceScanExec])
    assert(scans <= 4,
      s"two edges need at most 4 base-table scans, found $scans — " +
        "a materialized row-table join would add more")
  }

  // shared AQE-aware plan walker for the round-10 single-scan gates:
  // descends into adaptive roots and materialized query stages, skips
  // reused exchanges (a reuse is NOT a second scan)
  private def aqeNodes(name: String)
      : Seq[org.apache.spark.sql.execution.SparkPlan] = {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
    val df = SparkEntry.queries(name)(spark, sfDir)
    df.collect()
    def walk(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case q: QueryStageExec => q +: walk(q.plan)
      case _: ReusedExchangeExec => Seq.empty
      case other => other +: (other.children.flatMap(walk) ++
        other.subqueries.flatMap(walk))
    }
    walk(df.queryExecution.executedPlan)
  }

  private def scanLeafCount(name: String): Int = {
    import org.apache.spark.sql.execution.FileSourceScanExec
    aqeNodes(name).count(_.isInstanceOf[FileSourceScanExec])
  }

  test("q309: the runs pipeline is ONE document scan (window-derived " +
    "per-doc max, not a join against a re-derived aggregate) and every " +
    "window is doc-partitioned") {
    import org.apache.spark.sql.execution.window.WindowExec
    assert(scanLeafCount("q309_repetition_runs") == 1,
      "the join form re-runs the explode+window pipeline — two scans")
    val wins = aqeNodes("q309_repetition_runs").collect {
      case w: WindowExec => w }
    assert(wins.nonEmpty && wins.forall(_.partitionSpec.nonEmpty),
      "row-scale windows must be partitioned by doc_id")
  }

  test("q311: the packing sweep costs ONE document scan — the window " +
    "grid fans out slim (doc, len) pairs, not documents") {
    assert(scanLeafCount("q311_packing_sweep") == 1,
      "per-window branches must not re-scan the corpus")
  }

  test("q316: all four key audits ride TWO fact scans (lineitem once " +
    "via key explode, orders once)") {
    assert(scanLeafCount("q316_skew_salt_planner") == 2,
      "one scan per relation — a per-key audit form scans lineitem 3x")
  }

  test("q310: fertility is one scan-shaped pass") {
    assert(scanLeafCount("q310_tokenizer_fertility") == 1)
  }

  test("q342/q343: the decorrelated TPC-H shapes stay at their minimal " +
    "scan counts — the window form, not the agg-and-rejoin form") {
    assert(scanLeafCount("q342_small_qty_revenue") == 2,
      "part + lineitem exactly once each; a third scan means the " +
        "per-part average went back to the broadcast-rejoin form")
    assert(scanLeafCount("q343_waiting_supplier") == 3,
      "lineitem + orders + supplier exactly once each; 5 scans means " +
        "the per-order stats went back to the self-join form")
  }

  test("q339/q340: gram and chunk pipelines are one document scan") {
    assert(scanLeafCount("q339_dup_ngram_coverage") == 1)
    assert(scanLeafCount("q340_rag_chunker") == 1)
  }

  test("q361: the bloom probe is ALL broadcast — the fact side must " +
    "never shuffle-join against the bit table") {
    import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, SortMergeJoinExec, ShuffledHashJoinExec}
    val nodes = aqeNodes("q361_bloom_semi_reduction")
    assert(nodes.exists(_.isInstanceOf[BroadcastHashJoinExec]),
      "bit-table probes must be broadcast semi-joins")
    assert(!nodes.exists(n => n.isInstanceOf[SortMergeJoinExec] ||
      n.isInstanceOf[ShuffledHashJoinExec]),
      "a shuffled join defeats the bloom's purpose — the filter " +
        "exists so orders is reduced WITHOUT a shuffle")
  }

  test("q384/q385/q390: the round-11 decorrelated TPC-H shapes stay at " +
    "their minimal scan counts — window/one-aggregate forms, not " +
    "agg-and-rejoin") {
    assert(scanLeafCount("q384_min_cost_supplier") == 5,
      "lineitem + supplier + nation + region + part once each; a 6th " +
        "scan means the per-part min went back to the rejoin form")
    assert(scanLeafCount("q385_large_volume_customers") == 3,
      "lineitem + orders + customer exactly once each; the IN-subquery " +
        "form would scan lineitem twice")
    assert(scanLeafCount("q390_dominant_supplier") == 2,
      "lineitem + supplier once each; the correlated half-sum must be " +
        "a window over the partkey partition, not a re-aggregated join")
  }

  test("q386: the EXISTS plans as ONE semi join keyed on orderkey with " +
    "the date comparison as residual — never a theta join") {
    import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, SortMergeJoinExec, ShuffledHashJoinExec, BroadcastNestedLoopJoinExec, CartesianProductExec}
    val nodes = aqeNodes("q386_priority_late_orders")
    assert(!nodes.exists(n => n.isInstanceOf[BroadcastNestedLoopJoinExec] ||
      n.isInstanceOf[CartesianProductExec]),
      "the correlated date conjunct must ride the equi-join as a " +
        "residual, not degrade the plan to a nested loop")
    val semis = nodes.collect {
      case j: BroadcastHashJoinExec if j.joinType.sql == "LEFT SEMI" => j
      case j: SortMergeJoinExec if j.joinType.sql == "LEFT SEMI" => j
      case j: ShuffledHashJoinExec if j.joinType.sql == "LEFT SEMI" => j
    }
    assert(semis.size == 1, s"expected exactly one semi join, " +
      s"found ${semis.size}")
  }

  test("q387: the Q8 star broadcasts both dim sides ahead of the one " +
    "fact-fact exchange") {
    import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, SortMergeJoinExec, ShuffledHashJoinExec}
    val nodes = aqeNodes("q387_market_share")
    assert(nodes.count(_.isInstanceOf[BroadcastHashJoinExec]) >= 2,
      "customer-region and supplier-nation sides must broadcast")
    assert(nodes.count(n => n.isInstanceOf[SortMergeJoinExec] ||
      n.isInstanceOf[ShuffledHashJoinExec]) <= 1,
      "only lineitem-orders may pair as a shuffle join")
  }

  test("q367: the Q7 star keeps every dim broadcast; at most the one " +
    "lineitem-orders exchange pairs as a non-broadcast join") {
    import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, SortMergeJoinExec, ShuffledHashJoinExec}
    val nodes = aqeNodes("q367_volume_shipping")
    val bc = nodes.count(_.isInstanceOf[BroadcastHashJoinExec])
    val shuffled = nodes.count(n => n.isInstanceOf[SortMergeJoinExec] ||
      n.isInstanceOf[ShuffledHashJoinExec])
    assert(bc >= 3,
      s"supplier/nation/customer sides must broadcast, saw $bc")
    assert(shuffled <= 1,
      s"only lineitem-orders may pair as a shuffle join, saw $shuffled")
  }

  test("q404: the Q6 scan-side query pushes all three predicates and " +
    "prunes the read schema to the filter + measure columns") {
    val plan = planOf("q404_forecast_revenue_change")
    assert(plan.contains("PushedFilters: ["), plan.take(800))
    val pushed = plan.linesIterator
      .find(_.contains("PushedFilters")).getOrElse("")
    assert(pushed.contains("l_shipdate") && pushed.contains("l_discount")
      && pushed.contains("l_quantity"),
      s"all three Q6 predicates must reach the parquet scan: $pushed")
    val readSchema = plan.linesIterator
      .find(_.contains("ReadSchema")).getOrElse("")
    assert(!readSchema.contains("l_orderkey")
      && !readSchema.contains("l_returnflag")
      && !readSchema.contains("l_tax"),
      s"Q6 must not read columns it never touches: $readSchema")
  }

  test("q405: the Q9 join tree broadcasts part and supplier-nation; " +
    "only lineitem-orders may pair as a shuffle join") {
    import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, SortMergeJoinExec, ShuffledHashJoinExec}
    val nodes = aqeNodes("q405_product_type_profit")
    val bc = nodes.count(_.isInstanceOf[BroadcastHashJoinExec])
    val shuffled = nodes.count(n => n.isInstanceOf[SortMergeJoinExec] ||
      n.isInstanceOf[ShuffledHashJoinExec])
    assert(bc >= 2,
      s"part and supplier-nation sides must broadcast, saw $bc")
    assert(shuffled <= 1,
      s"only lineitem-orders may pair as a shuffle join, saw $shuffled")
  }

  test("q409: the join-size estimators never materialize the join — " +
    "one scan per fact table, zero join operators anywhere") {
    import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, SortMergeJoinExec, ShuffledHashJoinExec, BroadcastNestedLoopJoinExec}
    assert(scanLeafCount("q409_correlated_sample_join_size") == 2,
      "lineitem + events exactly once each")
    val joins = aqeNodes("q409_correlated_sample_join_size").count(n =>
      n.isInstanceOf[BroadcastHashJoinExec] ||
        n.isInstanceOf[SortMergeJoinExec] ||
        n.isInstanceOf[ShuffledHashJoinExec] ||
        n.isInstanceOf[BroadcastNestedLoopJoinExec])
    assert(joins == 0,
      s"the estimate must come from per-key count tables, not from " +
        s"executing the join it sizes — found $joins join node(s)")
  }

  test("kll_sketch_agg combines MAP-SIDE: the aggregate plans as a " +
    "partial/final ObjectHashAggregate pair, so the wire carries " +
    "sketches, never values") {
    import org.apache.spark.sql.execution.aggregate.ObjectHashAggregateExec
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    val df = spark.read
      .parquet(s"$sfDir/orders.parquet")
      .select(expr("cast(round(o_totalprice * 100) as bigint)").as("v"))
      .agg(graft.catalyst.QuantileSketch.kll_sketch_agg(col("v"), 256))
    df.collect()
    val plan = df.queryExecution.executedPlan
      .toString.split("== Initial Plan ==").head
    def walk(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case q: QueryStageExec => q +: walk(q.plan)
      case other => other +: other.children.flatMap(walk)
    }
    val aggs = walk(df.queryExecution.executedPlan).collect {
      case a: ObjectHashAggregateExec => a }
    assert(aggs.size >= 2,
      s"expected partial+final ObjectHashAggregate, plan:\n" +
        plan.take(1200))
    assert(aggs.exists(_.aggregateExpressions.exists(
      _.mode.toString.contains("Partial"))),
      "a Partial-mode aggregate must run before the exchange")
  }

  test("the shard kernel's only UNPARTITIONED window runs on the " +
    "16-row bucket-offset domain, never on row-scale data (the " +
    "WindowExec single-partition warnings every publish emits are " +
    "this bounded window, pinned)") {
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Window => LWindow}
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val o = Tables.t(spark, sfDir, "orders")
      .select($"o_orderkey".as("doc_id"))
    val df = graft.sink.TrainingShards.withShardIds(o, "s", 4)
    val unpart = df.queryExecution.optimizedPlan.collect {
      case w: LWindow if w.partitionSpec.isEmpty => w
    }
    assert(unpart.nonEmpty, "the offset window should be unpartitioned")
    unpart.foreach { w =>
      // the window's subtree must aggregate BY THE BUCKET before the
      // window sees a row — the domain is conv(1 hex char) = 16 values
      val aggBelow = w.child.collect {
        case a: Aggregate if a.groupingExpressions.size == 1 => a
      }
      assert(aggBelow.nonEmpty,
        s"unpartitioned window must sit above the bucket aggregate:\n$w")
    }
    // and the domain really is <= 16 rows regardless of corpus size
    val nBuckets = o
      .withColumn("h", md5(concat(lit("s:"), $"doc_id".cast("string"))))
      .select(conv(substring($"h", 1, 1), 16, 10).cast("int").as("b"))
      .distinct().count()
    assert(nBuckets <= 16L)
  }
}
