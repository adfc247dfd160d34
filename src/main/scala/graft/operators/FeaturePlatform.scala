package graft.operators

import graft.{Q, QueryModule, Tables}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** ML-platform loop operators: offline recommender train/eval,
  * point-in-time feature joins, and compression-aware storage layout —
  * the pieces that turn the engine's analytics (q193's co-occurrence,
  * q18's as-of, q63's MinHash) into the feeding/eval/storage loop an ML
  * platform actually runs. The reference daemon lands events so
  * downstream SQL can do exactly this (mysql_public_data_ingestor
  * README "analyze with plain SQL"); here the loop is native.
  */
object FeaturePlatform extends QueryModule {

  /** q252's fitted artifacts, shared with the streaming coverage monitor
    * (q257) so batch test and standing monitor can never disagree on the
    * model or the radius: per-channel exact integer mean purchase cents
    * from TRAIN days 1-10, and the exact counting-CDF p90 of the
    * CALIBRATION days' (11-20) absolute residuals — both bounded-domain
    * frames a caller broadcasts. */
  def conformalParts(s: org.apache.spark.sql.SparkSession, dir: String)
      : (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame) = {
    import org.apache.spark.sql.expressions.Window
    import s.implicits._
    val p = Tables.t(s, dir, "events")
      .filter($"event_type" === "purchase")
      .select(to_date($"ts").as("d"),
        expr("cast(get_json_object(props, '$.k') as bigint) div 25")
          .as("ch"),
        expr("cast(round(value * 100) as bigint)").as("y"))
    val c1 = lit("2024-01-11").cast("date")
    val c2 = lit("2024-01-21").cast("date")
    val model = p.filter($"d" < c1)
      .groupBy($"ch").agg(expr("sum(y) div count(1)").as("pred"))
    val cdf = p.filter($"d" >= c1 && $"d" < c2)
      .join(broadcast(model), Seq("ch"))
      .select(abs($"y" - $"pred").as("r"))
      .groupBy($"r").agg(count(lit(1)).as("cn"))
      .withColumn("cum", sum($"cn").over(
        Window.orderBy($"r")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("tt", sum($"cn").over(Window.partitionBy()))
    val q90 = cdf.agg(min(when($"cum" * 10 >= $"tt" * 9, $"r")).as("q90"))
    (model, q90)
  }

  /** q226's write-twice-and-measure body: the corpus lands in parquet in
    * q125's reproducible-shuffle order AND clustered by MinHash-prefix,
    * and the REAL file sizes + read-back doc counts come back as one
    * 2-row frame (layout, total_bytes, n_docs). The sizes are
    * codec-specific, so q226's oracle row only carries the comparison
    * verdict; FeaturePlatformSpec reads this frame directly for the
    * bp-margin evidence. n_docs is READ BACK per layout (not the source
    * count) so a dropped/duplicated row is visible. */
  def compressionLayoutSizes(s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame = {
    import s.implicits._
    import graft.catalyst.VecOps.{minhash_sig, shingle_hashes}
    val out = graft.TempRoots.freshForDir("graft_layout", dir).toString
    val docs = Tables.t(s, dir, "documents")
      .select($"doc_id", $"text", $"lang", $"source", $"n_chars")
    val shuffled = docs.withColumn("k",
      md5(concat(lit("shuf42:"), $"doc_id".cast("string"))))
    shuffled.repartitionByRange(8, $"k").sortWithinPartitions($"k")
      .drop("k").write.mode("overwrite").parquet(s"$out/shuffled")
    val clustered = docs.withColumn("k",
      element_at(minhash_sig(shingle_hashes($"text", 3), 4), 1))
    clustered.repartitionByRange(8, $"k", $"doc_id")
      .sortWithinPartitions($"k", $"doc_id")
      .drop("k").write.mode("overwrite").parquet(s"$out/clustered")
    def bytes(p: String): Long = {
      val dir0 = new java.io.File(p)
      dir0.listFiles().filter(_.getName.endsWith(".parquet"))
        .map(_.length()).sum
    }
    Seq(
      ("clustered", bytes(s"$out/clustered"),
        s.read.parquet(s"$out/clustered").count()),
      ("shuffled", bytes(s"$out/shuffled"),
        s.read.parquet(s"$out/shuffled").count()))
      .toDF("layout", "total_bytes", "n_docs")
      .orderBy($"layout")
  }

  override def queries: Seq[Q] = Seq(
    Q(
      "q224_cooccurrence_recs_eval",
      "OFFLINE RECOMMENDER TRAIN/EVAL — the complete co-occurrence loop " +
        "with a temporal holdout (q193 mines the association, this " +
        "GRADES it): TRAIN on days 1-15, (user, day) baskets of " +
        "distinct event types, rec(a) = the type most often co-present " +
        "with a (count desc, type asc tie-break — bit-stable); EVAL on " +
        "days 16-30, a basket containing a scores a hit if rec(a) is " +
        "also present; output per type: its rec, eval-basket count, " +
        "hits, hit rate in cross-multiplied basis points. The temporal " +
        "split is the q183 leakage rule applied to recsys eval — " +
        "training pairs never see eval days. Plan: baskets from ONE " +
        "(user, day, type) distinct; train co-counts bounded by " +
        "|types|^2 per basket (q193's domain argument); the rec table " +
        "is a <=5-row broadcast onto the eval join; hits aggregate " +
        "map-side. Every stage is user/day-keyed or domain-bounded — " +
        "nothing scales worse than the basket scan at 100 TB.",
      (s, dir) => {
        import s.implicits._
        val cut = lit("2024-01-16").cast("date")
        // materialized ONCE: the deduped basket frame feeds FOUR
        // consumers (both sides of the train self-join, both sides of
        // the eval hit-join) — unchecked, each re-scans and re-dedups
        // the raw events table (q193/q197's measured recompute
        // argument)
        val ud = Tables.t(s, dir, "events")
          .select($"user_id", to_date($"ts").as("d"), $"event_type")
          .distinct()
          .localCheckpoint(true)
        val train = ud.filter($"d" < cut)
        val pairs = train.as("a")
          .join(train.as("b"), Seq("user_id", "d"))
          .filter($"a.event_type" =!= $"b.event_type")
          .groupBy($"a.event_type".as("t"), $"b.event_type".as("c"))
          .agg(count(lit(1)).as("n"))
        val recs = pairs
          .withColumn("rk", row_number().over(
            Window.partitionBy($"t").orderBy($"n".desc, $"c")))
          .filter($"rk" === 1)
          .select($"t", $"c".as("rec"), $"n".as("train_support"))
        val evalB = ud.filter($"d" >= cut)
        val hits = evalB.as("e")
          .join(broadcast(recs), $"e.event_type" === $"t")
          .join(evalB.as("r"),
            $"e.user_id" === $"r.user_id" && $"e.d" === $"r.d" &&
              $"rec" === $"r.event_type", "left")
          .groupBy($"t", $"rec", $"train_support")
          .agg(count(lit(1)).as("n_eval"),
            sum(when($"r.event_type".isNotNull, 1L).otherwise(0L))
              .as("n_hits"))
        hits.select($"t".as("event_type"), $"rec", $"train_support",
          $"n_eval", $"n_hits",
          expr("(n_hits * 10000) DIV n_eval").as("hit_bp"))
          .orderBy($"event_type")
      },
      Some("""
        WITH ud AS (
          SELECT DISTINCT user_id, CAST(ts AS DATE) AS d, event_type
          FROM events),
        train AS (SELECT * FROM ud WHERE d < DATE '2024-01-16'),
        pairs AS (
          SELECT a.event_type AS t, b.event_type AS c, count(*) AS n
          FROM train a JOIN train b
            ON a.user_id = b.user_id AND a.d = b.d
           AND a.event_type <> b.event_type
          GROUP BY 1, 2),
        recs AS (
          SELECT t, c AS rec, n AS train_support FROM (
            SELECT *, row_number() OVER (PARTITION BY t
                                         ORDER BY n DESC, c) AS rk
            FROM pairs) WHERE rk = 1),
        ev AS (SELECT * FROM ud WHERE d >= DATE '2024-01-16'),
        h AS (
          SELECT recs.t, recs.rec, recs.train_support,
                 count(*) AS n_eval,
                 sum(CASE WHEN r.event_type IS NOT NULL
                          THEN 1 ELSE 0 END) AS n_hits
          FROM ev e JOIN recs ON e.event_type = recs.t
          LEFT JOIN ev r ON e.user_id = r.user_id AND e.d = r.d
                        AND recs.rec = r.event_type
          GROUP BY 1, 2, 3)
        SELECT t AS event_type, rec, CAST(train_support AS BIGINT)
                 AS train_support,
               CAST(n_eval AS BIGINT) AS n_eval,
               CAST(n_hits AS BIGINT) AS n_hits,
               CAST((n_hits * 10000) // n_eval AS BIGINT) AS hit_bp
        FROM h ORDER BY event_type""")),

    Q(
      "q225_point_in_time_features",
      "POINT-IN-TIME FEATURE JOIN (the feature-store primitive that " +
        "makes training sets leakage-safe): each signup label joins the " +
        "user's LATEST trailing-7-day revenue snapshot dated STRICTLY " +
        "BEFORE the label day — never same-day or later, the " +
        "target-leak q183 audits for. Snapshots come from the q203 " +
        "fan-out (daily purchase cents x7 into the days they remain " +
        "visible), which also BOUNDS staleness: a snapshot expires " +
        "after 7 days, so the as-of collapses to a user-keyed equi-join " +
        "with a [1, 7]-day residual band (the q189 equi-ization of what " +
        "would otherwise need q19's native as-of operator — use that " +
        "form when features don't expire), and the latest-before pick " +
        "is one (label, snapshot) row_number window. Output is the " +
        "audit a platform actually checks in: label count, cold-start " +
        "count, matched-feature revenue mass, and the leak counter " +
        "that MUST be zero by construction of the band.",
      (s, dir) => {
        import s.implicits._
        val ev = Tables.t(s, dir, "events")
        val daily = ev.filter($"event_type" === "purchase")
          .groupBy($"user_id", to_date($"ts").as("d"))
          .agg(sum(expr("cast(round(value * 100) as bigint)")).as("cents"))
        val snap = daily
          .select($"user_id", explode(sequence(lit(0), lit(6))).as("x"),
            $"d", $"cents")
          .select($"user_id", date_add($"d", $"x").as("snap_d"), $"cents")
          .groupBy($"user_id", $"snap_d")
          .agg(sum($"cents").as("f7_cents"))
        val labels = ev.filter($"event_type" === "signup")
          .select($"user_id", $"event_id", to_date($"ts").as("l_d"))
        val joined = labels
          .join(snap,
            labels("user_id") === snap("user_id") &&
              $"snap_d" < $"l_d" && $"snap_d" >= date_sub($"l_d", 7),
            "left")
          .drop(snap("user_id"))
          .withColumn("rk", row_number().over(
            Window.partitionBy($"event_id").orderBy($"snap_d".desc_nulls_last)))
          .filter($"rk" === 1)
        joined.agg(
          count(lit(1)).as("n_labels"),
          sum(when($"snap_d".isNull, 1L).otherwise(0L)).as("n_cold_start"),
          sum(when($"snap_d".isNotNull, 1L).otherwise(0L)).as("n_matched"),
          sum(when($"snap_d".isNotNull, $"f7_cents").otherwise(0L))
            .as("matched_f7_cents"),
          sum(when($"snap_d" >= $"l_d", 1L).otherwise(0L)).as("n_leaky"))
      },
      Some("""
        WITH daily AS (
          SELECT user_id, CAST(ts AS DATE) AS d,
                 CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
                   AS cents
          FROM events WHERE event_type = 'purchase' GROUP BY 1, 2),
        snap AS (
          SELECT user_id, d + CAST(x AS INTEGER) AS snap_d,
                 CAST(sum(cents) AS BIGINT) AS f7_cents
          FROM daily, (SELECT unnest(generate_series(0, 6)) AS x)
          GROUP BY 1, 2),
        labels AS (
          SELECT user_id, event_id, CAST(ts AS DATE) AS l_d
          FROM events WHERE event_type = 'signup'),
        j AS (
          SELECT l.event_id, s.snap_d, s.f7_cents, l.l_d,
                 row_number() OVER (PARTITION BY l.event_id
                                    ORDER BY s.snap_d DESC NULLS LAST) AS rk
          FROM labels l LEFT JOIN snap s
            ON l.user_id = s.user_id
           AND s.snap_d < l.l_d AND s.snap_d >= l.l_d - 7)
        SELECT CAST(count(*) AS BIGINT) AS n_labels,
               CAST(sum(CASE WHEN snap_d IS NULL THEN 1 ELSE 0 END)
                 AS BIGINT) AS n_cold_start,
               CAST(sum(CASE WHEN snap_d IS NOT NULL THEN 1 ELSE 0 END)
                 AS BIGINT) AS n_matched,
               CAST(sum(CASE WHEN snap_d IS NOT NULL THEN f7_cents
                             ELSE 0 END) AS BIGINT) AS matched_f7_cents,
               CAST(sum(CASE WHEN snap_d >= l_d THEN 1 ELSE 0 END)
                 AS BIGINT) AS n_leaky
        FROM j WHERE rk = 1""")),

    Q(
      "q228_conversion_calibration",
      "CONVERSION CALIBRATION TABLE (the reliability diagram's exact " +
        "backbone): click events banded by value (cents div 10000 — " +
        "ten equal-width bands over the fixture's [0, 1000) value " +
        "domain; quantile banding is the same table composed over " +
        "q168's CDF thresholds), each click scored CONVERTED if the " +
        "same user purchases within the FORWARD 24 h window — the " +
        "mirror of q210's backward attribution — and per band: click " +
        "count, conversions, rate in cross-multiplied basis points. " +
        "How a propensity model's score bands get their ground truth. " +
        "The forward-exists probe is a user-keyed LEFT SEMI join with " +
        "the 24 h residual band (never a window over raw purchases, " +
        "never a cross product); the band rollup collapses the 10-row " +
        "domain map-side.",
      (s, dir) => {
        import s.implicits._
        bandedConversions(s, dir)
          .withColumn("conv_bp", expr("(n_converted * 10000) DIV n_clicks"))
          .orderBy($"band")
      },
      Some("""
        WITH e AS (
          SELECT user_id, event_type, event_id,
                 epoch_us(CAST(ts AS TIMESTAMP)) AS us,
                 CAST(round(value * 100) AS BIGINT) AS cents
          FROM events),
        c AS (SELECT user_id, event_id, us, cents
              FROM e WHERE event_type = 'click'),
        conv AS (
          SELECT DISTINCT c.event_id FROM c
          JOIN e p ON p.user_id = c.user_id AND p.event_type = 'purchase'
                  AND p.us > c.us AND p.us - c.us <= 86400000000),
        f AS (
          SELECT cents // 10000 AS band,
                 CASE WHEN conv.event_id IS NOT NULL THEN 1 ELSE 0 END
                   AS cv
          FROM c LEFT JOIN conv ON c.event_id = conv.event_id)
        SELECT CAST(band AS BIGINT) AS band,
               CAST(count(*) AS BIGINT) AS n_clicks,
               CAST(sum(cv) AS BIGINT) AS n_converted,
               CAST((sum(cv) * 10000) // count(*) AS BIGINT) AS conv_bp
        FROM f GROUP BY band ORDER BY band""")),

    Q(
      "q229_partition_overwrite",
      "INCREMENTAL PARTITION MAINTENANCE via DYNAMIC partition " +
        "overwrite — the warehouse pattern that makes late data cheap: " +
        "day-partitioned daily aggregates are built once; when " +
        "corrections arrive for ONE day (here 2024-01-10's rows " +
        "restated at +1 cent each), the job rewrites ONLY that day's " +
        "partition (partitionOverwriteMode=dynamic: mode-overwrite " +
        "replaces exactly the partitions present in the incoming " +
        "frame, not the table) and every other partition's files are " +
        "untouched — FeaturePlatformSpec asserts file-level identity. " +
        "The read-back of the maintained table must equal a full " +
        "recompute with the correction applied, which is exactly what " +
        "the oracle computes. At 100 TB this is the difference between " +
        "rewriting 30 TB of history and rewriting one day.",
      (s, dir) => {
        import s.implicits._
        val out = graft.TempRoots.freshForDir("graft_partover", dir).toString
        val daily = Tables.t(s, dir, "events")
          .groupBy(to_date($"ts").as("d"), $"event_type")
          .agg(count(lit(1)).as("n"),
            sum(expr("cast(round(value * 100) as bigint)")).as("cents"))
        daily.write.partitionBy("d").mode("overwrite")
          .parquet(s"$out/table")
        val fixDay = lit("2024-01-10").cast("date")
        val corrected = Tables.t(s, dir, "events")
          .filter(to_date($"ts") === fixDay)
          .groupBy(to_date($"ts").as("d"), $"event_type")
          .agg(count(lit(1)).as("n"),
            sum(expr("cast(round(value * 100) as bigint) + 1")).as("cents"))
        graft.Confs.withConf(s,
          "spark.sql.sources.partitionOverwriteMode", "dynamic") {
          corrected.select($"event_type", $"n", $"cents", $"d")
            .write.partitionBy("d").mode("overwrite").parquet(s"$out/table")
        }
        s.read.parquet(s"$out/table")
          .select($"d", $"event_type", $"n", $"cents")
          .orderBy($"d", $"event_type")
      },
      Some("""
        SELECT CAST(ts AS DATE) AS d, event_type,
               CAST(count(*) AS BIGINT) AS n,
               CAST(sum(CAST(round(value * 100) AS BIGINT)
                 + CASE WHEN CAST(ts AS DATE) = DATE '2024-01-10'
                        THEN 1 ELSE 0 END) AS BIGINT) AS cents
        FROM events
        GROUP BY 1, 2 ORDER BY d, event_type""")),

    Q(
      "q226_compression_layout",
      "COMPRESSION-AWARE STORAGE LAYOUT — similar docs adjacent before " +
        "the write: the same corpus lands in parquet twice, once in " +
        "q125's reproducible-shuffle order (the training-shard default) " +
        "and once clustered by MinHash signature prefix then doc_id " +
        "(near-dups and same-template docs become NEIGHBORS, so " +
        "parquet's per-page compression sees their redundancy). At " +
        "100 TB this is repartitionByRange(cluster_key) + " +
        "sortWithinPartitions before the write — zero query-side " +
        "change, the bytes just shrink. The raw byte sizes are " +
        "codec/engine-specific, so the ORACLE-CHECKED row carries the " +
        "codec-independent audit: both layouts' read-back doc counts " +
        "(each must equal the source corpus — a dropped or doubled row " +
        "fails the count columns) and the MEASURED comparison verdict " +
        "clustered_not_larger, which DuckDB pins to TRUE — a layout " +
        "regression that makes clustering lose flips the bit and the " +
        "driver goes red (the round-9 verdict's restricted-oracle " +
        "promotion; FeaturePlatformSpec still reads the real sizes via " +
        "compressionLayoutSizes and reports the bp margin). The " +
        "cluster key reuses q63's MinHashSig expression — the dedup " +
        "signature doing double duty as a storage key.",
      (s, dir) => {
        import s.implicits._
        val sz = compressionLayoutSizes(s, dir)
          .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2)))
          .toMap
        val (cb, cn) = sz("clustered")
        val (sb, sn) = sz("shuffled")
        Seq((cn, sn, cb <= sb))
          .toDF("clustered_docs", "shuffled_docs", "clustered_not_larger")
      },
      Some("""
        SELECT CAST(count(*) AS BIGINT) AS clustered_docs,
               CAST(count(*) AS BIGINT) AS shuffled_docs,
               TRUE AS clustered_not_larger
        FROM documents""")),

    Q(
      "q235_mrr_eval",
      "RANKED-LIST RECOMMENDER EVAL (MRR + hit@k) — q224 grades a top-1 " +
        "rec with a hit rate; this grades a RANKED top-3 list with mean " +
        "reciprocal rank, the metric that distinguishes 'right item " +
        "first' from 'right item buried': items are the 100 props.k " +
        "click values, train = days 1-15 (user, item) distinct baskets, " +
        "rec list per item = top-3 co-clicked items (count desc, item " +
        "asc — bit-stable), eval = days 16-30; each (user, test-item) " +
        "case contributes 1e6 div r for the best rank r whose rec is in " +
        "the user's test basket, else 0 — reciprocal rank in EXACT ppm " +
        "(integer div), so MRR never depends on float summation order. " +
        "Plan: baskets from one (user, phase, item) distinct, reused by " +
        "all four consumers via localCheckpoint; per-user train pair " +
        "fan-out bounded by the item domain squared (q193's argument); " +
        "the <=300-row rec list BROADCASTS onto the eval join; the case " +
        "aggregate combines map-side to a single row.",
      (s, dir) => {
        import s.implicits._
        val cut = lit("2024-01-16").cast("date")
        val ui = Tables.t(s, dir, "events")
          .filter($"event_type" === "click")
          .select($"user_id",
            when(to_date($"ts") < cut, 0).otherwise(1).as("phase"),
            expr("cast(get_json_object(props, '$.k') as bigint)").as("item"))
          .distinct()
          .localCheckpoint(true)
        val train = ui.filter($"phase" === 0)
        val recs = train.as("a").join(train.as("b"), Seq("user_id"))
          .filter($"a.item" =!= $"b.item")
          .groupBy($"a.item".as("i"), $"b.item".as("j"))
          .agg(count(lit(1)).as("n"))
          .withColumn("rk", row_number().over(
            Window.partitionBy($"i").orderBy($"n".desc, $"j")))
          .filter($"rk" <= 3)
          .select($"i", $"j", $"rk")
        val test = ui.filter($"phase" === 1)
        val cases = test.select($"user_id", $"item".as("i"))
        val best = cases.join(broadcast(recs), Seq("i"))
          .join(test.select($"user_id", $"item".as("j")), Seq("user_id", "j"))
          .groupBy($"user_id", $"i").agg(min($"rk").as("r"))
        cases.join(best, Seq("user_id", "i"), "left")
          .agg(count(lit(1)).as("n_cases"),
            sum(when($"r" === 1, 1L).otherwise(0L)).as("hits_at_1"),
            sum(when($"r".isNotNull, 1L).otherwise(0L)).as("hits_at_3"),
            sum(coalesce(expr("1000000 div r"), lit(0L))).as("rr_sum_ppm"))
          .select($"n_cases", $"hits_at_1", $"hits_at_3",
            expr("rr_sum_ppm div n_cases").as("mrr_ppm"))
      },
      Some("""
        WITH ui AS (
          SELECT DISTINCT user_id,
                 CASE WHEN CAST(ts AS DATE) < DATE '2024-01-16'
                      THEN 0 ELSE 1 END AS phase,
                 CAST(json_extract(props, 'k') AS BIGINT) AS item
          FROM events WHERE event_type = 'click'),
        train AS (SELECT * FROM ui WHERE phase = 0),
        pairs AS (
          SELECT a.item AS i, b.item AS j, count(*) AS n
          FROM train a JOIN train b
            ON a.user_id = b.user_id AND a.item <> b.item
          GROUP BY 1, 2),
        recs AS (
          SELECT i, j, rk FROM (
            SELECT i, j, row_number() OVER (PARTITION BY i
                                            ORDER BY n DESC, j) AS rk
            FROM pairs) WHERE rk <= 3),
        test AS (SELECT * FROM ui WHERE phase = 1),
        cases AS (SELECT user_id, item AS i FROM test),
        best AS (
          SELECT c.user_id, c.i, min(r.rk) AS r
          FROM cases c
          JOIN recs r ON r.i = c.i
          JOIN test t ON t.user_id = c.user_id AND t.item = r.j
          GROUP BY 1, 2)
        SELECT CAST(count(*) AS BIGINT) AS n_cases,
               CAST(sum(CASE WHEN b.r = 1 THEN 1 ELSE 0 END) AS BIGINT) AS hits_at_1,
               CAST(sum(CASE WHEN b.r IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS hits_at_3,
               CAST(sum(COALESCE(1000000 // b.r, 0)) // count(*) AS BIGINT) AS mrr_ppm
        FROM cases c LEFT JOIN best b
          ON b.user_id = c.user_id AND b.i = c.i""")),

    Q(
      "q236_feature_binning",
      "EQUAL-FREQUENCY FEATURE BINNING (decile bucketizer) — the " +
        "fit+transform a feature pipeline runs before any tree/monotonic " +
        "model: order totals bin into 10 equal-mass bins at $100-bucket " +
        "granularity. NOT an ntile window over rows (that is a " +
        "single-partition sort of the corpus — the one shape this repo " +
        "bans): q168's counting-CDF recipe instead — one map-side-" +
        "combined aggregate to the bounded $100-bucket DOMAIN, a running " +
        "sum over that domain, then bin = (10 * cum_before) div total " +
        "per bucket, which every row inherits map-side. Bin boundaries " +
        "land on bucket edges (the documented granularity contract — at " +
        "100 TB you tighten buckets, never sort rows). Output per bin: " +
        "order count, bucket range — all exact integers.",
      (s, dir) => {
        import s.implicits._
        val b = Tables.t(s, dir, "orders")
          .select(expr("cast(round(o_totalprice * 100) as bigint) div 10000")
            .as("bucket"))
          .groupBy($"bucket").agg(count(lit(1)).as("n"))
        val w = Window.orderBy($"bucket")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        b.withColumn("cum", sum($"n").over(w))
          .withColumn("total", sum($"n").over(
            Window.partitionBy())) // bucket DOMAIN only — bounded
          .withColumn("bin", expr("((cum - n) * 10) div total"))
          .groupBy($"bin")
          .agg(sum($"n").as("n_orders"),
            min($"bucket").as("lo_bucket"), max($"bucket").as("hi_bucket"))
          .orderBy($"bin")
      },
      Some("""
        WITH b AS (
          SELECT CAST(round(o_totalprice * 100) AS BIGINT) // 10000 AS bucket,
                 count(*) AS n
          FROM orders GROUP BY 1),
        c AS (
          SELECT bucket, n,
                 sum(n) OVER (ORDER BY bucket
                              ROWS BETWEEN UNBOUNDED PRECEDING
                              AND CURRENT ROW) AS cum,
                 sum(n) OVER () AS total
          FROM b)
        SELECT CAST(((cum - n) * 10) // total AS BIGINT) AS bin,
               CAST(sum(n) AS BIGINT) AS n_orders,
               min(bucket) AS lo_bucket, max(bucket) AS hi_bucket
        FROM c GROUP BY 1 ORDER BY bin""")),

    Q(
      "q237_target_encoding",
      "SMOOTHED TARGET ENCODING — the categorical-feature workhorse " +
        "(CatBoost-style mean encoding with additive smoothing): " +
        "category = props.k div 10 (10 slots), target = the event is a " +
        "purchase, enc(c) = (S_c + m*prior)/(n_c + m) with m = 100 " +
        "pseudo-observations at the global prior S/N. Carried EXACTLY " +
        "via cross-multiplication: enc_bp = (S_c*N + m*S)*10^4 div " +
        "((n_c + m)*N) — no float division anywhere, so the encoding is " +
        "bit-stable under any partitioning (int64-safe through sf0.1 " +
        "with ~100x headroom; at web scale carry the two products as " +
        "decimals INTERNALLY and emit the bp int, q208's recipe). Plan: " +
        "one row-scale (cat) aggregate with map-side partials; the " +
        "global prior is a 1-row broadcast crossJoin (q198's min-day " +
        "pattern); everything after is O(|cats|).",
      (s, dir) => {
        import s.implicits._
        val g = Tables.t(s, dir, "events")
          .select(
            expr("cast(get_json_object(props, '$.k') as bigint) div 10")
              .as("cat"),
            when($"event_type" === "purchase", 1L).otherwise(0L).as("y"))
          .groupBy($"cat")
          .agg(count(lit(1)).as("n_c"), sum($"y").as("s_c"))
        g.crossJoin(broadcast(
            g.agg(sum($"n_c").as("n"), sum($"s_c").as("s"))))
          .select($"cat", $"n_c", $"s_c",
            expr("(s_c * 10000) div n_c").as("raw_bp"),
            expr("((s_c * n + 100 * s) * 10000) div ((n_c + 100) * n)")
              .as("enc_bp"))
          .orderBy($"cat")
      },
      Some("""
        WITH g AS (
          SELECT CAST(json_extract(props, 'k') AS BIGINT) // 10 AS cat,
                 CAST(count(*) AS BIGINT) AS n_c,
                 CAST(sum(CASE WHEN event_type = 'purchase'
                               THEN 1 ELSE 0 END) AS BIGINT) AS s_c
          FROM events GROUP BY 1),
        t AS (SELECT CAST(sum(n_c) AS BIGINT) AS n,
                     CAST(sum(s_c) AS BIGINT) AS s FROM g)
        SELECT cat, n_c, s_c,
               CAST((s_c * 10000) // n_c AS BIGINT) AS raw_bp,
               CAST(((s_c * n + 100 * s) * 10000) // ((n_c + 100) * n)
                 AS BIGINT) AS enc_bp
        FROM g, t ORDER BY cat""")),

    Q(
      "q245_quantile_normalization",
      "QUANTILE NORMALIZATION transform — map every order total to its " +
        "exact percentile rank in ppm (the rank-gaussianization first " +
        "step, and the scale-free feature a heterogeneous-source model " +
        "wants): pct_ppm = (rows strictly below my $100 bucket) * 1e6 " +
        "div total. This is q46's percent_rank AS A 100 TB PLAN — " +
        "percent_rank is an unpartitioned row-scale window sort, while " +
        "here one map-side-combined aggregate builds the bounded " +
        "bucket-domain CDF, which BROADCASTS back onto the scan: the " +
        "transform itself is a map-side hash lookup, zero row shuffles. " +
        "Bucket granularity is the documented contract (q236's rule).",
      (s, dir) => {
        import s.implicits._
        val o = Tables.t(s, dir, "orders")
          .select($"o_orderkey",
            expr("cast(round(o_totalprice * 100) as bigint) div 10000")
              .as("bucket"))
        val cdf = o.groupBy($"bucket").agg(count(lit(1)).as("cn"))
          .withColumn("cb", coalesce(sum($"cn").over(
            Window.orderBy($"bucket")
              .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
          .withColumn("tt", sum($"cn").over(Window.partitionBy()))
        o.join(broadcast(cdf.select($"bucket",
            expr("(cb * 1000000) div tt").as("pct_ppm"))), Seq("bucket"))
          .select($"o_orderkey", $"bucket", $"pct_ppm")
          .orderBy($"o_orderkey")
      },
      Some("""
        WITH o AS (
          SELECT o_orderkey,
                 CAST(round(o_totalprice * 100) AS BIGINT) // 10000 AS bucket
          FROM orders),
        cdf AS (
          SELECT bucket, count(*) AS cn FROM o GROUP BY 1),
        c2 AS (
          SELECT bucket,
                 COALESCE(sum(cn) OVER (ORDER BY bucket
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   AS cb,
                 sum(cn) OVER () AS tt
          FROM cdf)
        SELECT o.o_orderkey, o.bucket,
               CAST((c2.cb * 1000000) // c2.tt AS BIGINT) AS pct_ppm
        FROM o JOIN c2 USING (bucket)
        ORDER BY o_orderkey""")),

    Q(
      "q246_winsorize",
      "WINSORIZATION at exact global p01/p99 — the outlier-clipping " +
        "preprocessing step, with thresholds from q168's counting-CDF " +
        "inverse (min value whose cumulative count clears the " +
        "percentile — exact, never a sketch) broadcast as two scalars " +
        "onto one scan. Output per return flag: rows clipped at each " +
        "tail, the winsorized sum in exact cents, and the thresholds — " +
        "the audit a feature pipeline stores next to the transform so " +
        "training/serving skew is detectable. Plan: one (cents) " +
        "domain aggregate for the CDF, one broadcast, one map pass + " +
        "map-side-combined flag aggregate; no row ever shuffles.",
      (s, dir) => {
        import s.implicits._
        val li = Tables.t(s, dir, "lineitem")
          .select($"l_returnflag",
            expr("cast(round(l_extendedprice * 100) as bigint)").as("cents"))
        val cdf = li.groupBy($"cents").agg(count(lit(1)).as("cn"))
          .withColumn("cum", sum($"cn").over(
            Window.orderBy($"cents")
              .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
          .withColumn("tt", sum($"cn").over(Window.partitionBy()))
        val thr = broadcast(cdf.agg(
          min(when($"cum" * 100 >= $"tt", $"cents")).as("p01"),
          min(when($"cum" * 100 >= $"tt" * 99, $"cents")).as("p99")))
        li.crossJoin(thr)
          .select($"l_returnflag",
            when($"cents" < $"p01", $"p01")
              .when($"cents" > $"p99", $"p99")
              .otherwise($"cents").as("w"),
            ($"cents" < $"p01").cast("long").as("lo"),
            ($"cents" > $"p99").cast("long").as("hi"),
            $"p01", $"p99")
          .groupBy($"l_returnflag")
          .agg(count(lit(1)).as("n"),
            sum($"lo").as("n_clipped_lo"), sum($"hi").as("n_clipped_hi"),
            sum($"w").as("winsorized_sum_cents"),
            min($"p01").as("p01_cents"), min($"p99").as("p99_cents"))
          .orderBy($"l_returnflag")
      },
      Some("""
        WITH li AS (
          SELECT l_returnflag,
                 CAST(round(l_extendedprice * 100) AS BIGINT) AS cents
          FROM lineitem),
        cdf AS (SELECT cents, count(*) AS cn FROM li GROUP BY 1),
        c2 AS (
          SELECT cents,
                 sum(cn) OVER (ORDER BY cents
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
                 sum(cn) OVER () AS tt
          FROM cdf),
        thr AS (
          SELECT min(CASE WHEN cum * 100 >= tt THEN cents END) AS p01,
                 min(CASE WHEN cum * 100 >= tt * 99 THEN cents END) AS p99
          FROM c2)
        SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n,
               CAST(sum(CASE WHEN cents < p01 THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_clipped_lo,
               CAST(sum(CASE WHEN cents > p99 THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_clipped_hi,
               CAST(sum(CASE WHEN cents < p01 THEN p01
                             WHEN cents > p99 THEN p99
                             ELSE cents END) AS BIGINT)
                 AS winsorized_sum_cents,
               min(p01) AS p01_cents, min(p99) AS p99_cents
        FROM li, thr GROUP BY l_returnflag
        ORDER BY l_returnflag""")),

    Q(
      "q247_rfm_segmentation",
      "RFM SEGMENTATION — the classic customer-value cube (Recency / " +
        "Frequency / Monetary), each dimension cut into equal-frequency " +
        "tertiles by q236's bucket-domain CDF rule (R on the <=31-day " +
        "domain, F on the purchase-count domain, M on $10 buckets — " +
        "never a row-scale ntile sort), segment = 'R<r>F<f>M<m>'. " +
        "Output per segment: users and exact total cents — the table a " +
        "CRM targets campaigns from. Bin convention: bin index rises " +
        "with the RAW value (R0 = most recent... R2 = dormant is " +
        "reversed in consumer naming — documented, not hidden). Plan: " +
        "one (user) row-scale aggregate; three bounded-domain CDFs " +
        "broadcast back; the segment histogram is <=27 rows.",
      (s, dir) => {
        import s.implicits._
        val ev = Tables.t(s, dir, "events")
        // materialized ONCE: four consumers (the join base + three CDF
        // builders) would otherwise each re-scan events and re-run the
        // user aggregate (q235's multi-consumer checkpoint rule)
        val u = ev.filter($"event_type" === "purchase")
          .groupBy($"user_id")
          .agg(max(to_date($"ts")).as("lastp"),
            count(lit(1)).as("f"),
            sum(expr("cast(round(value * 100) as bigint)")).as("m"))
          .crossJoin(broadcast(ev.agg(max(to_date($"ts")).as("h"))))
          .select($"user_id", datediff($"h", $"lastp").cast("long").as("r"),
            $"f", $"m", expr("m div 1000").as("mb"))
          .localCheckpoint(true)
        def terts(c: String, out: String) = {
          val cdf = u.groupBy(col(c)).agg(count(lit(1)).as("cn"))
            .withColumn("cb", coalesce(sum($"cn").over(
              Window.orderBy(col(c))
                .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
            .withColumn("tt", sum($"cn").over(Window.partitionBy()))
          broadcast(cdf.select(col(c), expr("(cb * 3) div tt").as(out)))
        }
        u.join(terts("r", "r_bin"), Seq("r"))
          .join(terts("f", "f_bin"), Seq("f"))
          .join(terts("mb", "m_bin"), Seq("mb"))
          .select(concat(lit("R"), $"r_bin", lit("F"), $"f_bin",
            lit("M"), $"m_bin").as("segment"), $"m")
          .groupBy($"segment")
          .agg(count(lit(1)).as("n_users"), sum($"m").as("total_cents"))
          .orderBy($"segment")
      },
      Some("""
        WITH ev AS (
          SELECT user_id, CAST(ts AS DATE) AS d, event_type,
                 CAST(round(value * 100) AS BIGINT) AS cents
          FROM events),
        hz AS (SELECT max(d) AS h FROM ev),
        u AS (
          SELECT user_id,
                 CAST(hz.h - max(d) AS BIGINT) AS r,
                 CAST(count(*) AS BIGINT) AS f,
                 CAST(sum(cents) AS BIGINT) AS m,
                 CAST(sum(cents) AS BIGINT) // 1000 AS mb
          FROM ev, hz WHERE event_type = 'purchase'
          GROUP BY user_id, hz.h),
        rc AS (SELECT r, count(*) AS cn FROM u GROUP BY 1),
        rb AS (SELECT r, (COALESCE(sum(cn) OVER (ORDER BY r
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) * 3)
                 // (sum(cn) OVER ()) AS r_bin FROM rc),
        fc AS (SELECT f, count(*) AS cn FROM u GROUP BY 1),
        fb AS (SELECT f, (COALESCE(sum(cn) OVER (ORDER BY f
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) * 3)
                 // (sum(cn) OVER ()) AS f_bin FROM fc),
        mc AS (SELECT mb, count(*) AS cn FROM u GROUP BY 1),
        mbb AS (SELECT mb, (COALESCE(sum(cn) OVER (ORDER BY mb
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) * 3)
                 // (sum(cn) OVER ()) AS m_bin FROM mc)
        SELECT 'R' || CAST(rb.r_bin AS VARCHAR) ||
               'F' || CAST(fb.f_bin AS VARCHAR) ||
               'M' || CAST(mbb.m_bin AS VARCHAR) AS segment,
               CAST(count(*) AS BIGINT) AS n_users,
               CAST(sum(u.m) AS BIGINT) AS total_cents
        FROM u JOIN rb USING (r) JOIN fb USING (f) JOIN mbb USING (mb)
        GROUP BY 1 ORDER BY 1""")),

    Q(
      "q252_conformal_interval",
      "SPLIT-CONFORMAL PREDICTION INTERVALS with a coverage audit — " +
        "distribution-free uncertainty for any point model, here the " +
        "per-channel mean purchase amount: TRAIN days 1-10 fits " +
        "pred(ch) = exact integer mean cents; CALIBRATION days 11-20 " +
        "yields |y - pred| residuals whose p90 comes from q168's " +
        "counting-CDF inverse (exact, never a sketch); TEST days 21-30 " +
        "reports per-channel empirical coverage of pred +/- q90 in " +
        "cross-multiplied basis points — the number that certifies (or " +
        "indicts) the interval, and by conformal theory should sit " +
        "near 9000 bp regardless of the amount distribution. Every " +
        "stage is exact integer arithmetic on bounded domains: the " +
        "model is |channels| rows, the residual CDF lives on the cents " +
        "domain, coverage flags combine map-side.",
      (s, dir) => {
        import s.implicits._
        val p = Tables.t(s, dir, "events")
          .filter($"event_type" === "purchase")
          .select(to_date($"ts").as("d"),
            expr("cast(get_json_object(props, '$.k') as bigint) div 25")
              .as("ch"),
            expr("cast(round(value * 100) as bigint)").as("y"))
        val (modelDf, q90Df) = conformalParts(s, dir)
        val model = broadcast(modelDf)
        val q90 = broadcast(q90Df)
        p.filter($"d" >= lit("2024-01-21").cast("date"))
          .join(model, Seq("ch")).crossJoin(q90)
          .select($"ch", $"q90",
            (abs($"y" - $"pred") <= $"q90").cast("long").as("cov"))
          .groupBy($"ch", $"q90")
          .agg(count(lit(1)).as("n_test"), sum($"cov").as("n_covered"))
          .select($"ch", $"n_test", $"n_covered",
            expr("(n_covered * 10000) div n_test").as("coverage_bp"),
            $"q90".as("q90_cents"))
          .orderBy($"ch")
      },
      Some("""
        WITH p AS (
          SELECT CAST(ts AS DATE) AS d,
                 CAST(json_extract(props, 'k') AS BIGINT) // 25 AS ch,
                 CAST(round(value * 100) AS BIGINT) AS y
          FROM events WHERE event_type = 'purchase'),
        model AS (
          SELECT ch, CAST(sum(y) // count(*) AS BIGINT) AS pred
          FROM p WHERE d < DATE '2024-01-11' GROUP BY 1),
        resid AS (
          SELECT abs(p.y - m.pred) AS r
          FROM p JOIN model m USING (ch)
          WHERE p.d >= DATE '2024-01-11' AND p.d < DATE '2024-01-21'),
        cdf AS (
          SELECT r, sum(count(*)) OVER (ORDER BY r
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
                 sum(count(*)) OVER () AS tt
          FROM resid GROUP BY r),
        q90 AS (
          SELECT CAST(min(CASE WHEN cum * 10 >= tt * 9 THEN r END)
            AS BIGINT) AS q90 FROM cdf)
        SELECT p.ch, CAST(count(*) AS BIGINT) AS n_test,
               CAST(sum(CASE WHEN abs(p.y - m.pred) <= q90.q90
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_covered,
               CAST((sum(CASE WHEN abs(p.y - m.pred) <= q90.q90
                              THEN 1 ELSE 0 END) * 10000) // count(*)
                 AS BIGINT) AS coverage_bp,
               q90.q90 AS q90_cents
        FROM p JOIN model m USING (ch), q90
        WHERE p.d >= DATE '2024-01-21'
        GROUP BY p.ch, q90.q90 ORDER BY p.ch""")),

    Q(
      "q261_zorder_layout",
      "Z-ORDER (MORTON) LAYOUT PRUNING AUDIT — completes the storage-" +
        "layout family (q226 compresses better, q229 overwrites " +
        "surgically, q204 reshards minimally; THIS one is why a 100 TB " +
        "table is scannable on two filter columns at once): lineitem " +
        "rows get 16-bit z = interleave(l_partkey mod 256, l_suppkey " +
        "mod 256) via the native codegen'd ZInterleave16 expression " +
        "(four branchless shift/mask pairs per coordinate, inlined in " +
        "whole-stage codegen), files are the 64 EQUAL-WIDTH z ranges " +
        "(z div 1024) — the closed-form stand-in for a writer's " +
        "range-partitioned z sort: NO global sort anywhere in this " +
        "plan, and at 100 TB the same bucketing is " +
        "repartitionByRange(z) at write time. For each probe (a " +
        "quarter-width range on partkey alone, then on suppkey alone) " +
        "the query counts files touched under the z layout vs a " +
        "partkey-linear layout (file = px div 4): linear serves its " +
        "own sort dimension (16/64 files) but the suppkey probe " +
        "touches ALL 64; z serves BOTH probes partially (a quarter " +
        "range fixes two of each coordinate's file-index bits, <= " +
        "16/64 files per dimension — at sf0.01 even fewer on the " +
        "partkey probe because only 100 suppliers exist, so sy's high " +
        "bit never sets) — the multi-dimension pruning trade a " +
        "lakehouse OPTIMIZE ZORDER buys. Plan: one projection + two " +
        "bounded aggregates over the (file, probe) domain; row-scale " +
        "work is the z expression itself.",
      (s, dir) => {
        import s.implicits._
        val rows = Tables.t(s, dir, "lineitem")
          .select(($"l_partkey" % 256).as("px"), ($"l_suppkey" % 256).as("sy"))
          .withColumn("z",
            graft.catalyst.ZOrder.z_interleave16($"px", $"sy"))
          .withColumn("file_z", expr("z div 1024"))
          .withColumn("file_lin", expr("px div 4"))
        val probes = Seq(
          ("partkey_quarter", $"px" < 64),
          ("suppkey_quarter", $"sy" < 64))
        probes.map { case (nameP, pred) =>
          rows.filter(pred)
            .groupBy(lit(nameP).as("probe"))
            .agg(
              countDistinct($"file_z").as("files_z"),
              countDistinct($"file_lin").as("files_linear"),
              count(lit(1)).as("rows_selected"))
            .select($"probe", $"files_z", $"files_linear",
              lit(64L).as("n_files"), $"rows_selected")
        }.reduce(_ unionAll _).orderBy($"probe")
      },
      Some("""
        WITH base AS (
          SELECT l_partkey % 256 AS px, l_suppkey % 256 AS sy
          FROM lineitem),
        s1 AS (SELECT px, sy,
                      (px | (px << 8)) & 16711935 AS ax,
                      (sy | (sy << 8)) & 16711935 AS bx
               FROM base),
        s2 AS (SELECT px, sy,
                      (ax | (ax << 4)) & 252645135 AS ax,
                      (bx | (bx << 4)) & 252645135 AS bx
               FROM s1),
        s3 AS (SELECT px, sy,
                      (ax | (ax << 2)) & 858993459 AS ax,
                      (bx | (bx << 2)) & 858993459 AS bx
               FROM s2),
        s4 AS (SELECT px, sy,
                      (ax | (ax << 1)) & 1431655765 AS ax,
                      (bx | (bx << 1)) & 1431655765 AS bx
               FROM s3),
        z AS (SELECT px, sy,
                     (ax | (bx << 1)) // 1024 AS file_z,
                     px // 4 AS file_lin
              FROM s4),
        probes AS (
          SELECT 'partkey_quarter' AS probe, file_z, file_lin
          FROM z WHERE px < 64
          UNION ALL
          SELECT 'suppkey_quarter' AS probe, file_z, file_lin
          FROM z WHERE sy < 64)
        SELECT probe,
               CAST(count(DISTINCT file_z) AS BIGINT) AS files_z,
               CAST(count(DISTINCT file_lin) AS BIGINT) AS files_linear,
               CAST(64 AS BIGINT) AS n_files,
               CAST(count(*) AS BIGINT) AS rows_selected
        FROM probes GROUP BY probe ORDER BY probe""")),

    Q(
      "q373_hilbert_layout",
      "HILBERT vs MORTON LAYOUT SHOOTOUT — q261's pruning audit run " +
        "over BOTH space-filling curves on the same 64-file budget: " +
        "rows get a 16-bit Hilbert index from the native codegen'd " +
        "HilbertIndex expression (the xy2d walk as a fixed 8-step " +
        "loop inlined in whole-stage codegen — no call, no branch " +
        "mispredict surface beyond the walk itself) beside q261's " +
        "Morton z, files are the equal-width index ranges (div 1024), " +
        "and each quarter-range probe counts files touched under " +
        "hilbert / morton / partkey-linear. Hilbert's defining " +
        "adjacency (consecutive indexes are grid neighbors — " +
        "KernelPropertySpec proves it exhaustively at bits=4) buys " +
        "contiguous index regions where Morton takes diagonal jumps, " +
        "so its files-touched is <= Morton's on at least one probe — " +
        "measured, not asserted (the q334 discipline applied to " +
        "layout planning). The ORACLE replays the same 8-step walk " +
        "as generated chained CTEs, so the curve itself is " +
        "bit-verified cross-engine. 100 TB: the index is a per-row " +
        "projection; the layout decision this audit informs is " +
        "repartitionByRange(hilbert_d) at write time.",
      (s, dir) => {
        import s.implicits._
        val rows = Tables.t(s, dir, "lineitem")
          .select(($"l_partkey" % 256).as("px"),
            ($"l_suppkey" % 256).as("sy"))
          .withColumn("hd",
            graft.catalyst.Hilbert.hilbert_index(8, $"px", $"sy"))
          .withColumn("z",
            graft.catalyst.ZOrder.z_interleave16($"px", $"sy"))
          .withColumn("file_h", expr("hd div 1024"))
          .withColumn("file_z", expr("z div 1024"))
          .withColumn("file_lin", expr("px div 4"))
        val probes = Seq(
          ("partkey_quarter", $"px" < 64),
          // unaligned band: crosses the top-level quadrant split,
          // where Morton's diagonal jumps fragment the index range
          // and Hilbert's adjacency does not
          ("partkey_mid_band", $"px" >= 32 && $"px" < 96),
          ("suppkey_quarter", $"sy" < 64))
        probes.map { case (nameP, pred) =>
          rows.filter(pred)
            .groupBy(lit(nameP).as("probe"))
            .agg(
              countDistinct($"file_h").as("files_hilbert"),
              countDistinct($"file_z").as("files_z"),
              countDistinct($"file_lin").as("files_linear"),
              count(lit(1)).as("rows_selected"))
            .select($"probe", $"files_hilbert", $"files_z",
              $"files_linear", lit(64L).as("n_files"),
              $"rows_selected")
        }.reduce(_ unionAll _).orderBy($"probe")
      },
      Some(hilbertOracleSql)),

    Q(
      "q267_group_auc",
      "EXACT ROC-AUC of the channel-rate conversion model by the " +
        "tie-corrected Mann-Whitney rank-sum — the ranking complement " +
        "of q228's calibration table (calibration says the scores are " +
        "honest; AUC says they ORDER the population): fit per-channel " +
        "conversion rates on TRAIN clicks (before 2024-01-16, q215's " +
        "split), score EVAL clicks by their channel's train rate, " +
        "label = converts within forward 24 h (q228's rule). With only " +
        "4 distinct scores the data is almost all ties, where the " +
        "naive concordant-pair count silently loses the half-credit " +
        "mass — midranks carried as DOUBLED integers fix that " +
        "exactly: a tie group occupying ranks a+1..a+c has 2*midrank " +
        "= 2a + c + 1, so sum_pos R2 = sum_g pos_g*(2*cum_before_g + " +
        "cnt_g + 1) and AUC = (sum R2 - n_pos*(n_pos+1)) / " +
        "(2*n_pos*n_neg) — an exact integer rational, emitted with " +
        "auc_bp = num*10^4 div den. Plan: two user-keyed semi-joins " +
        "decide train/eval labels (the row-scale shuffles), score " +
        "join is a broadcast of 4 rows, and the rank algebra runs " +
        "entirely on the <=4-row score-group domain.",
      (s, dir) => {
        import s.implicits._
        val ev = Tables.t(s, dir, "events")
          .select($"user_id", $"event_type", $"event_id", $"ts",
            unix_micros($"ts".cast("timestamp")).as("us"),
            expr("cast(get_json_object(props, '$.k') as bigint) div 25")
              .as("ch"))
        val clicks = ev.filter($"event_type" === "click")
        val purch = ev.filter($"event_type" === "purchase")
          .select($"user_id".as("p_user"), $"us".as("p_us"))
        def labeled(cl: org.apache.spark.sql.DataFrame) = {
          val conv = cl.join(purch,
            $"user_id" === $"p_user" && $"p_us" > $"us" &&
              $"p_us" - $"us" <= 86400000000L, "left_semi")
          cl.join(conv.select($"event_id".as("cid")),
              $"event_id" === $"cid", "left")
            .select($"ch", when($"cid".isNotNull, 1L).otherwise(0L).as("y"))
        }
        val split = "timestamp'2024-01-16 00:00:00'"
        val rates = labeled(clicks.filter(expr(s"ts < $split")))
          .groupBy($"ch")
          .agg(expr("(sum(y) * 1000000) div count(1)").as("score_ppm"))
        val eval0 = labeled(clicks.filter(expr(s"ts >= $split")))
          .join(broadcast(rates), Seq("ch"))
          .groupBy($"score_ppm")
          .agg(sum($"y").as("pos"), sum(lit(1L) - $"y").as("neg"),
            count(lit(1)).as("cnt"))
        val w = Window.orderBy($"score_ppm") // <=4-row score domain
        eval0
          .withColumn("cum_before",
            coalesce(sum($"cnt").over(w.rowsBetween(
              Window.unboundedPreceding, -1)), lit(0L)))
          .agg(
            sum($"pos").as("n_pos"), sum($"neg").as("n_neg"),
            sum($"pos" * (lit(2) * $"cum_before" + $"cnt" + 1)).as("sum_r2"))
          .select($"n_pos", $"n_neg",
            ($"sum_r2" - $"n_pos" * ($"n_pos" + 1)).as("auc_num"),
            (lit(2L) * $"n_pos" * $"n_neg").as("auc_den"))
          .withColumn("auc_bp", expr("(auc_num * 10000) div auc_den"))
      },
      Some("""
        WITH e AS (
          SELECT user_id, event_type, event_id, ts,
                 epoch_us(CAST(ts AS TIMESTAMP)) AS us,
                 CAST(json_extract(props, 'k') AS BIGINT) // 25 AS ch
          FROM events),
        p AS (SELECT user_id, us FROM e WHERE event_type = 'purchase'),
        lab AS (
          SELECT c.ts, c.ch,
                 CASE WHEN EXISTS (SELECT 1 FROM p
                                   WHERE p.user_id = c.user_id
                                     AND p.us > c.us
                                     AND p.us - c.us <= 86400000000)
                      THEN 1 ELSE 0 END AS y
          FROM e c WHERE c.event_type = 'click'),
        rates AS (
          SELECT ch, (sum(y) * 1000000) // count(*) AS score_ppm
          FROM lab WHERE ts < TIMESTAMP '2024-01-16 00:00:00' GROUP BY ch),
        ev AS (
          SELECT r.score_ppm,
                 CAST(sum(y) AS BIGINT) AS pos,
                 CAST(sum(1 - y) AS BIGINT) AS neg,
                 CAST(count(*) AS BIGINT) AS cnt
          FROM lab l JOIN rates r USING (ch)
          WHERE l.ts >= TIMESTAMP '2024-01-16 00:00:00'
          GROUP BY r.score_ppm),
        ranked AS (
          SELECT pos, neg, cnt,
                 coalesce(sum(cnt) OVER (ORDER BY score_ppm
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   AS cum_before
          FROM ev),
        a AS (
          SELECT CAST(sum(pos) AS BIGINT) AS n_pos,
                 CAST(sum(neg) AS BIGINT) AS n_neg,
                 CAST(sum(pos * (2 * cum_before + cnt + 1)) AS BIGINT)
                   AS sum_r2
          FROM ranked)
        SELECT n_pos, n_neg,
               sum_r2 - n_pos * (n_pos + 1) AS auc_num,
               2 * n_pos * n_neg AS auc_den,
               ((sum_r2 - n_pos * (n_pos + 1)) * 10000)
                 // (2 * n_pos * n_neg) AS auc_bp
        FROM a""")),

    Q(
      "q268_compaction_planner",
      "SMALL-FILE COMPACTION PLANNER — the maintenance pass that keeps " +
        "a 100 TB table's file count sane (the q261 z-layout decides " +
        "WHERE rows go; this decides which too-small files to REWRITE " +
        "together): per-(source, doc_id-century) 'file' sizes roll up " +
        "from document metadata, files sort size-DESC, and the " +
        "cumulative-sum rule bin = floor(preceding_total / target) " +
        "packs them into compaction groups — the deterministic " +
        "one-window equivalent of first-fit-decreasing (FFD needs a " +
        "serial replay; the cumsum rule gives the same near-target " +
        "fills because size-desc order puts every bin's big rocks " +
        "first, and overshoot is bounded by one file). Target adapts " +
        "to the fixture (total div 8), standing in for the fixed 128 MB " +
        "a production run pins. Per bin: file count, bytes, largest " +
        "member, fill_bp vs target. The window runs over FILE METADATA " +
        "(one row per file — millions at 100 TB, not data rows), the " +
        "one place a single-partition window is the honest plan; the " +
        "row-scale work is only the metadata rollup.",
      (s, dir) => {
        import s.implicits._
        val files = Tables.t(s, dir, "documents")
          .groupBy($"source", expr("doc_id div 100").as("century"))
          .agg(sum($"n_chars").as("bytes"))
          .select(concat($"source", lit("_"), $"century").as("file_id"),
            $"bytes")
        val target = broadcast(files.agg(
          greatest(lit(1L), expr("sum(bytes) div 8")).as("target")))
        val w = Window.orderBy($"bytes".desc, $"file_id")
        files.crossJoin(target)
          .withColumn("cum_before",
            coalesce(sum($"bytes").over(w.rowsBetween(
              Window.unboundedPreceding, -1)), lit(0L)))
          .withColumn("bin", expr("cum_before div target"))
          .groupBy($"bin")
          .agg(count(lit(1)).as("n_files"), sum($"bytes").as("bytes"),
            max($"bytes").as("largest_file"),
            min($"target").as("target"))
          .withColumn("fill_bp", expr("(bytes * 10000) div target"))
          .orderBy($"bin")
      },
      Some("""
        WITH files AS (
          SELECT source || '_' || CAST(doc_id // 100 AS VARCHAR) AS file_id,
                 CAST(sum(n_chars) AS BIGINT) AS bytes
          FROM documents GROUP BY source, doc_id // 100),
        t AS (SELECT greatest(1, CAST(sum(bytes) AS BIGINT) // 8) AS target
              FROM files),
        packed AS (
          SELECT f.file_id, f.bytes, t.target,
                 coalesce(sum(f.bytes) OVER (ORDER BY f.bytes DESC, f.file_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   AS cum_before
          FROM files f, t)
        SELECT CAST(cum_before // target AS BIGINT) AS bin,
               CAST(count(*) AS BIGINT) AS n_files,
               CAST(sum(bytes) AS BIGINT) AS bytes,
               CAST(max(bytes) AS BIGINT) AS largest_file,
               CAST(min(target) AS BIGINT) AS target,
               CAST((sum(bytes) * 10000) // min(target) AS BIGINT) AS fill_bp
        FROM packed GROUP BY cum_before // target ORDER BY bin""")),

    Q(
      "q276_ndcg_eval",
      "EXACT nDCG@10 for the revenue-rank part recommender, per nation — " +
        "the GRADED-relevance ranking metric completing the eval " +
        "family (q235 MRR = first-hit position, q267 AUC = pairwise " +
        "order, THIS = position-discounted graded gain, the metric " +
        "search/reco teams actually report): the model ranks each " +
        "nation's parts by 1995-97 revenue; relevance is the 1998+ " +
        "order count capped at grade 3. The log2 discounts enter as " +
        "ten FIXED micro-scaled integer LITERALS (1/log2(i+1) — " +
        "q238's Benford rule: constants computed once by a human, " +
        "never by two engines' libm), gains are the CASE-mapped " +
        "2^rel - 1 in {0,1,3,7}, so DCG, ideal DCG, and ndcg_bp = " +
        "dcg*10^4 div idcg are all exact integers. Plan: the " +
        "train/test rollups are the row-scale work (fact-fact join on " +
        "orderkey, dims broadcast); rankings are nation-PARTITIONED " +
        "windows over the per-nation part domain; the discount table " +
        "is a 10-row broadcast.",
      (s, dir) => {
        import s.implicits._
        val facts = Tables.t(s, dir, "lineitem")
          .join(Tables.t(s, dir, "orders"),
            $"l_orderkey" === $"o_orderkey")
          .join(broadcast(Tables.t(s, dir, "customer")
            .select($"c_custkey", $"c_nationkey".as("nk"))),
            $"o_custkey" === $"c_custkey")
          .select($"nk", $"l_partkey".as("pk"), year($"o_orderdate").as("yr"),
            expr("cast(round(l_extendedprice * 100) as bigint)").as("cents"))
        val train = facts.filter($"yr" < 1998)
          .groupBy($"nk", $"pk").agg(sum($"cents").as("rev"))
        val rel = facts.filter($"yr" >= 1998)
          .groupBy($"nk", $"pk")
          .agg(least(count(lit(1)), lit(3L)).as("rel"))
        val disc = broadcast(Seq(
          (1, 1000000L), (2, 630930L), (3, 500000L), (4, 430677L),
          (5, 386853L), (6, 356207L), (7, 333333L), (8, 315465L),
          (9, 301030L), (10, 289065L)).toDF("pos", "disc"))
        def gain = expr("case rel when 0 then 0 when 1 then 1 " +
          "when 2 then 3 else 7 end")
        val ranked = train
          .withColumn("pos", row_number().over(
            Window.partitionBy($"nk").orderBy($"rev".desc, $"pk")))
          .filter($"pos" <= 10)
          .join(rel, Seq("nk", "pk"), "left").na.fill(0L, Seq("rel"))
          .join(disc, Seq("pos"))
          .groupBy($"nk").agg(sum(gain * $"disc").as("dcg_micro"))
        val ideal = rel
          .withColumn("pos", row_number().over(
            Window.partitionBy($"nk").orderBy($"rel".desc, $"pk")))
          .filter($"pos" <= 10)
          .join(disc, Seq("pos"))
          .groupBy($"nk").agg(sum(gain * $"disc").as("idcg_micro"))
        ranked.join(ideal, Seq("nk"), "left")
          .na.fill(0L, Seq("idcg_micro"))
          .select($"nk".cast("long").as("nationkey"),
            $"dcg_micro", $"idcg_micro",
            expr("case when idcg_micro > 0 " +
              "then (dcg_micro * 10000) div idcg_micro end").as("ndcg_bp"))
          .orderBy($"nationkey")
      },
      Some("""
        WITH facts AS (
          SELECT c.c_nationkey AS nk, l.l_partkey AS pk,
                 year(o.o_orderdate) AS yr,
                 CAST(round(l.l_extendedprice * 100) AS BIGINT) AS cents
          FROM lineitem l
          JOIN orders o ON l.l_orderkey = o.o_orderkey
          JOIN customer c ON o.o_custkey = c.c_custkey),
        train AS (
          SELECT nk, pk, sum(cents) AS rev FROM facts
          WHERE yr < 1998 GROUP BY 1, 2),
        rel AS (
          SELECT nk, pk, least(count(*), 3) AS rel FROM facts
          WHERE yr >= 1998 GROUP BY 1, 2),
        disc AS (
          SELECT * FROM (VALUES (1, 1000000), (2, 630930), (3, 500000),
            (4, 430677), (5, 386853), (6, 356207), (7, 333333),
            (8, 315465), (9, 301030), (10, 289065)) AS v(pos, disc)),
        ranked AS (
          SELECT t.nk,
                 sum((CASE coalesce(r.rel, 0) WHEN 0 THEN 0 WHEN 1 THEN 1
                      WHEN 2 THEN 3 ELSE 7 END) * d.disc) AS dcg_micro
          FROM (SELECT nk, pk, row_number() OVER (PARTITION BY nk
                  ORDER BY rev DESC, pk) AS pos FROM train) t
          LEFT JOIN rel r ON r.nk = t.nk AND r.pk = t.pk
          JOIN disc d ON d.pos = t.pos
          WHERE t.pos <= 10 GROUP BY t.nk),
        ideal AS (
          SELECT i.nk,
                 sum((CASE i.rel WHEN 0 THEN 0 WHEN 1 THEN 1
                      WHEN 2 THEN 3 ELSE 7 END) * d.disc) AS idcg_micro
          FROM (SELECT nk, rel, row_number() OVER (PARTITION BY nk
                  ORDER BY rel DESC, pk) AS pos FROM rel) i
          JOIN disc d ON d.pos = i.pos
          WHERE i.pos <= 10 GROUP BY i.nk)
        SELECT CAST(rk.nk AS BIGINT) AS nationkey,
               CAST(rk.dcg_micro AS BIGINT) AS dcg_micro,
               CAST(coalesce(id.idcg_micro, 0) AS BIGINT) AS idcg_micro,
               CASE WHEN coalesce(id.idcg_micro, 0) > 0
                    THEN CAST((rk.dcg_micro * 10000)
                              // id.idcg_micro AS BIGINT) END AS ndcg_bp
        FROM ranked rk LEFT JOIN ideal id ON rk.nk = id.nk
        ORDER BY nationkey""")),

    Q(
      "q285_isotonic_calibration",
      "ISOTONIC (PAV) CALIBRATION of the q228 reliability table — the " +
        "principled upgrade of the raw band rates: the best " +
        "MONOTONE-NONDECREASING fit to the per-band conversion rates, " +
        "computed NOT by the serial pool-adjacent-violators sweep but " +
        "by its minimax CLOSED FORM iso_i = max_{j<=i} min_{k>=i} " +
        "mean(j..k) (Ayer et al. 1955 — public), which is pure joins " +
        "on the BOUNDED band domain: interval means m(j,k) for all 55 " +
        "intervals of the 10-band domain as cross-multiplied basis " +
        "points (the same integer-div on both engines makes the " +
        "min/max selections identical even where true rationals tie), " +
        "then a (band, j) min over k and a band max over j. Every join " +
        "is domain x domain (10x55 rows) AFTER the one row-scale " +
        "aggregate (the shared bandedConversions — q228's exact " +
        "ground-truth table, one definition so calibration and its " +
        "isotonic fit can never band differently). The output is " +
        "provably monotone in band — the property q228's raw rates " +
        "lack and a downstream bidder/ranker needs.",
      (s, dir) => {
        import s.implicits._
        val bands = bandedConversions(s, dir)
          .localCheckpoint(true) // 10-row domain, reused by three joins
        val iv = bands.select($"band".as("j"))
          .join(bands.select($"band".as("k")), $"j" <= $"k")
          .join(bands, $"band".between($"j", $"k"))
          .groupBy($"j", $"k")
          .agg(sum($"n_clicks").as("n"), sum($"n_converted").as("c"))
          .withColumn("m_bp", expr("(c * 10000) div n"))
        val iso = bands.select($"band")
          .join(iv, $"j" <= $"band" && $"band" <= $"k")
          .groupBy($"band", $"j").agg(min($"m_bp").as("minm"))
          .groupBy($"band").agg(max($"minm").as("iso_bp"))
        bands.join(iso, Seq("band"))
          .withColumn("raw_bp", expr("(n_converted * 10000) div n_clicks"))
          .select($"band", $"n_clicks", $"n_converted", $"raw_bp", $"iso_bp")
          .orderBy($"band")
      },
      Some("""
        WITH e AS (
          SELECT user_id, event_type, event_id,
                 epoch_us(CAST(ts AS TIMESTAMP)) AS us,
                 CAST(round(value * 100) AS BIGINT) AS cents
          FROM events),
        c AS (SELECT user_id, event_id, us, cents
              FROM e WHERE event_type = 'click'),
        conv AS (
          SELECT DISTINCT c.event_id FROM c
          JOIN e p ON p.user_id = c.user_id AND p.event_type = 'purchase'
                  AND p.us > c.us AND p.us - c.us <= 86400000000),
        f AS (
          SELECT cents // 10000 AS band,
                 CASE WHEN conv.event_id IS NOT NULL THEN 1 ELSE 0 END AS cv
          FROM c LEFT JOIN conv ON c.event_id = conv.event_id),
        bands AS (
          SELECT CAST(band AS BIGINT) AS band,
                 CAST(count(*) AS BIGINT) AS n_clicks,
                 CAST(sum(cv) AS BIGINT) AS n_converted
          FROM f GROUP BY band),
        iv AS (
          SELECT a.band AS j, b.band AS k,
                 CAST(sum(t.n_clicks) AS BIGINT) AS n,
                 CAST(sum(t.n_converted) AS BIGINT) AS c
          FROM bands a JOIN bands b ON a.band <= b.band
          JOIN bands t ON t.band BETWEEN a.band AND b.band
          GROUP BY 1, 2),
        m AS (SELECT j, k, (c * 10000) // n AS m_bp FROM iv),
        mn AS (SELECT i.band, m.j, min(m.m_bp) AS minm
               FROM bands i JOIN m ON m.j <= i.band AND i.band <= m.k
               GROUP BY 1, 2),
        iso AS (SELECT band, CAST(max(minm) AS BIGINT) AS iso_bp
                FROM mn GROUP BY band)
        SELECT b.band, b.n_clicks, b.n_converted,
               (b.n_converted * 10000) // b.n_clicks AS raw_bp,
               iso.iso_bp
        FROM bands b JOIN iso USING (band)
        ORDER BY b.band""")),

    Q(
      "q287_group_kfold_audit",
      "GROUPED K-FOLD LEAKAGE AUDIT — the cross-validation integrity " +
        "check q225's point-in-time leak counter makes for time, made " +
        "for GROUPS: assign events to 5 folds two ways — BY USER " +
        "(fold = multiplicative-hash(user_id) % 5, q274's 48271 mixer; " +
        "every event of a user lands in one fold by construction) and " +
        "BY ROW (fold = event_id % 5, the naive split) — and per " +
        "scheme count users whose events SPAN >1 fold. The user " +
        "scheme's count is structurally zero (fold is a function of " +
        "the group key); the row scheme's count is the leak: a user in " +
        "train AND validation lets the model memorize the user, not " +
        "learn the pattern. Also per scheme: min/max fold share in bp " +
        "of events (the balance cost group-hashing pays). One " +
        "(scheme, user) aggregate — map-side combined — then a " +
        "10-cell fold rollup; nothing row-scale survives the first " +
        "shuffle.",
      (s, dir) => {
        import s.implicits._
        val ev = Tables.t(s, dir, "events")
        def audit(scheme: String, fold: org.apache.spark.sql.Column) = {
          val f = ev.select(lit(scheme).as("scheme"), $"user_id",
            fold.as("fold"))
          val byUser = f.groupBy($"scheme", $"user_id")
            .agg(countDistinct($"fold").as("nf"), count(lit(1)).as("ne"))
          val split = byUser.groupBy($"scheme").agg(
            count(lit(1)).as("n_users"),
            sum(when($"nf" > 1, 1L).otherwise(0L)).as("n_split_users"),
            sum($"ne").as("n_events"))
          val shares = f.groupBy($"scheme", $"fold")
            .agg(count(lit(1)).as("fe"))
            .groupBy($"scheme")
            .agg(min($"fe").as("min_fe"), max($"fe").as("max_fe"))
          split.join(shares, Seq("scheme"))
            .select($"scheme", $"n_users", $"n_split_users",
              expr("(n_split_users * 10000) div n_users").as("split_bp"),
              expr("(min_fe * 10000) div n_events").as("min_share_bp"),
              expr("(max_fe * 10000) div n_events").as("max_share_bp"))
        }
        audit("by_user",
            expr("((user_id * 48271) % 2147483647) % 5"))
          .unionByName(audit("by_row", $"event_id" % 5))
          .orderBy($"scheme")
      },
      Some("""
        WITH f AS (
          SELECT 'by_user' AS scheme, user_id,
                 ((user_id * 48271) % 2147483647) % 5 AS fold
          FROM events
          UNION ALL
          SELECT 'by_row', user_id, event_id % 5 FROM events),
        bu AS (
          SELECT scheme, user_id, count(DISTINCT fold) AS nf,
                 count(*) AS ne
          FROM f GROUP BY 1, 2),
        sp AS (
          SELECT scheme, count(*) AS n_users,
                 CAST(sum(CASE WHEN nf > 1 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_split_users,
                 CAST(sum(ne) AS BIGINT) AS n_events
          FROM bu GROUP BY 1),
        fs AS (
          SELECT scheme, fold, count(*) AS fe FROM f GROUP BY 1, 2),
        sh AS (
          SELECT scheme, CAST(min(fe) AS BIGINT) AS min_fe,
                 CAST(max(fe) AS BIGINT) AS max_fe
          FROM fs GROUP BY 1)
        SELECT sp.scheme, sp.n_users, sp.n_split_users,
               (sp.n_split_users * 10000) // sp.n_users AS split_bp,
               (sh.min_fe * 10000) // sp.n_events AS min_share_bp,
               (sh.max_fe * 10000) // sp.n_events AS max_share_bp
        FROM sp JOIN sh USING (scheme)
        ORDER BY sp.scheme""")),

    Q(
      "q294_association_rules",
      "ASSOCIATION RULE MINING (Agrawal-Srikant support/confidence/" +
        "lift — the explainable complement of q224's co-occurrence " +
        "recs: a RULE 'brand A -> brand B' ships with its evidence): " +
        "baskets are orders, items the 25-value brand domain, and " +
        "every directed pair co-occurring in >= 50 baskets scores " +
        "support = n_ab/N, confidence = n_ab/n_a, lift = " +
        "n_ab*N/(n_a*n_b) — all exact cross-multiplied ppm/milli " +
        "integers, so a lift_milli > 1000 test IS the independence " +
        "test. Top-15 by (lift desc, pair). Plan: one distinct to " +
        "(order, brand) — the only row-scale shuffle; the pair join " +
        "is order-keyed with per-basket fan-out bounded by " +
        "(brands-per-order)^2, pair counts combine map-side onto the " +
        "<= 600-row directed-pair domain; item counts and N broadcast " +
        "back. The same plan mines billions of baskets because " +
        "everything after the distinct lives on the item-pair domain.",
      (s, dir) => {
        import s.implicits._
        val li = Tables.t(s, dir, "lineitem")
          .join(Tables.t(s, dir, "part"),
            $"l_partkey" === $"p_partkey")
          .select($"l_orderkey".as("oid"), $"p_brand".as("item"))
          .distinct()
        val n = li.agg(countDistinct($"oid").as("n_baskets"))
        val ia = li.groupBy($"item").agg(count(lit(1)).as("n_item"))
        val pairs = li.as("a")
          .join(li.as("b"), $"a.oid" === $"b.oid" &&
            $"a.item" =!= $"b.item")
          .groupBy($"a.item".as("ant"), $"b.item".as("cons"))
          .agg(count(lit(1)).as("n_ab"))
          .filter($"n_ab" >= 50)
        pairs
          .join(broadcast(ia.select($"item".as("ant"),
            $"n_item".as("n_a"))), Seq("ant"))
          .join(broadcast(ia.select($"item".as("cons"),
            $"n_item".as("n_b"))), Seq("cons"))
          .crossJoin(broadcast(n))
          .select($"ant", $"cons", $"n_a", $"n_b", $"n_ab",
            expr("(n_ab * 1000000) div n_baskets").as("support_ppm"),
            expr("(n_ab * 1000000) div n_a").as("conf_ppm"),
            expr("(n_ab * n_baskets * 1000) div (n_a * n_b)")
              .as("lift_milli"))
          .orderBy($"lift_milli".desc, $"ant", $"cons")
          .limit(15)
      },
      Some("""
        WITH li AS (
          SELECT DISTINCT l.l_orderkey AS oid, p.p_brand AS item
          FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey),
        n AS (SELECT count(DISTINCT oid) AS n_baskets FROM li),
        ia AS (SELECT item, count(*) AS n_item FROM li GROUP BY 1),
        pr AS (
          SELECT a.item AS ant, b.item AS cons, count(*) AS n_ab
          FROM li a JOIN li b ON a.oid = b.oid AND a.item <> b.item
          GROUP BY 1, 2 HAVING count(*) >= 50)
        SELECT pr.ant, pr.cons,
               CAST(x.n_item AS BIGINT) AS n_a,
               CAST(y.n_item AS BIGINT) AS n_b,
               CAST(pr.n_ab AS BIGINT) AS n_ab,
               (pr.n_ab * 1000000) // n.n_baskets AS support_ppm,
               (pr.n_ab * 1000000) // x.n_item AS conf_ppm,
               (pr.n_ab * n.n_baskets * 1000) // (x.n_item * y.n_item)
                 AS lift_milli
        FROM pr JOIN ia x ON pr.ant = x.item
                JOIN ia y ON pr.cons = y.item
        CROSS JOIN n
        ORDER BY lift_milli DESC, pr.ant, pr.cons
        LIMIT 15""")),

    Q(
      "q299_rec_exposure_audit",
      "RECOMMENDER EXPOSURE AUDIT — popularity-bias measurement for " +
        "the q294/q224 rec family (the fairness question an accuracy " +
        "metric like q235's MRR never asks: WHO gets recommended?): " +
        "serve each basket item's top-3 co-occurrence recs (n_ab " +
        "desc, item tiebreak — q294's pair table re-ranked), count " +
        "each catalog item's IMPRESSIONS (sum over antecedents of " +
        "antecedent basket count), and report catalog coverage " +
        "(items ever recommended / 25), the top item's impression " +
        "share, and the exact exposure GINI over the FULL catalog — " +
        "zeros included, because concentration hidden by dropping " +
        "never-recommended items is exactly the bias being measured. " +
        "Gini is q201's sorted-index identity sum((2i-n-1)x_i) / " +
        "(n*sum x) on the 25-item domain (the only sort is 25 rows). " +
        "Plan: q294's one row-scale distinct, then pure item-domain " +
        "arithmetic.",
      (s, dir) => {
        import s.implicits._
        val li = Tables.t(s, dir, "lineitem")
          .join(Tables.t(s, dir, "part"),
            $"l_partkey" === $"p_partkey")
          .select($"l_orderkey".as("oid"), $"p_brand".as("item"))
          .distinct()
        val ia = li.groupBy($"item").agg(count(lit(1)).as("n_item"))
        val recs = li.as("a")
          .join(li.as("b"), $"a.oid" === $"b.oid" &&
            $"a.item" =!= $"b.item")
          .groupBy($"a.item".as("ant"), $"b.item".as("cons"))
          .agg(count(lit(1)).as("n_ab"))
          .withColumn("rk", row_number().over(
            Window.partitionBy($"ant").orderBy($"n_ab".desc, $"cons")))
          .filter($"rk" <= 3)
        val exposure = recs
          .join(broadcast(ia.select($"item".as("ant"),
            $"n_item".as("n_a"))), Seq("ant"))
          .groupBy($"cons").agg(sum($"n_a").as("x"))
        val full = Tables.t(s, dir, "part")
          .select($"p_brand").distinct()
          .join(exposure, $"p_brand" === $"cons", "left")
          .select($"p_brand", coalesce($"x", lit(0L)).as("x"))
          // 25-row catalog domain: the rank below sorts 25 rows, never data
          .withColumn("i", row_number().over(
            Window.orderBy($"x", $"p_brand")).cast("long"))
          .withColumn("n", count(lit(1)).over(Window.partitionBy()))
        full.agg(
            count(lit(1)).as("catalog_n"),
            sum(when($"x" > 0, 1L).otherwise(0L)).as("n_exposed"),
            sum($"x").as("total_x"), max($"x").as("max_x"),
            sum((lit(2L) * $"i" - $"n" - 1) * $"x").as("g_num"))
          .select($"catalog_n", $"n_exposed",
            expr("(n_exposed * 10000) div catalog_n").as("coverage_bp"),
            expr("(max_x * 10000) div total_x").as("top_share_bp"),
            expr("(g_num * 10000) div (catalog_n * total_x)").as("gini_bp"))
      },
      Some("""
        WITH li AS (
          SELECT DISTINCT l.l_orderkey AS oid, p.p_brand AS item
          FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey),
        ia AS (SELECT item, count(*) AS n_item FROM li GROUP BY 1),
        pr AS (
          SELECT a.item AS ant, b.item AS cons, count(*) AS n_ab
          FROM li a JOIN li b ON a.oid = b.oid AND a.item <> b.item
          GROUP BY 1, 2),
        recs AS (
          SELECT ant, cons FROM (
            SELECT ant, cons,
                   row_number() OVER (PARTITION BY ant
                                      ORDER BY n_ab DESC, cons) AS rk
            FROM pr) r WHERE rk <= 3),
        expo AS (
          SELECT r.cons, CAST(sum(ia.n_item) AS BIGINT) AS x
          FROM recs r JOIN ia ON r.ant = ia.item GROUP BY 1),
        cat AS (SELECT DISTINCT p_brand FROM part),
        fl AS (
          SELECT c.p_brand, coalesce(e.x, 0) AS x,
                 row_number() OVER (ORDER BY coalesce(e.x, 0), c.p_brand)
                   AS i,
                 count(*) OVER () AS n
          FROM cat c LEFT JOIN expo e ON c.p_brand = e.cons),
        a AS (
          SELECT count(*) AS catalog_n,
                 CAST(sum(CASE WHEN x > 0 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_exposed,
                 CAST(sum(x) AS BIGINT) AS total_x,
                 CAST(max(x) AS BIGINT) AS max_x,
                 CAST(sum((2 * i - n - 1) * x) AS BIGINT) AS g_num
          FROM fl)
        SELECT catalog_n, n_exposed,
               (n_exposed * 10000) // catalog_n AS coverage_bp,
               (max_x * 10000) // total_x AS top_share_bp,
               (g_num * 10000) // (catalog_n * total_x) AS gini_bp
        FROM a""")),

    Q(
      "q304_sequential_rules",
      "SEQUENTIAL ASSOCIATION RULES (next-basket: brand A in one order " +
        "-> brand B in the SAME customer's NEXT order) — the temporal " +
        "complement of q294's same-basket rules and the statistical " +
        "core of next-purchase prediction: q294 asks what sells " +
        "together, this asks what sells AFTER. Orders rank per " +
        "customer by (date, orderkey); the pair join matches rank k " +
        "items to rank k+1 items customer-locally (fan-out bounded by " +
        "brands-per-order squared, never cross-customer); confidence " +
        "= n_ab / occurrences of A in NON-LAST baskets (the honest " +
        "denominator — an A in a customer's final order has no next " +
        "basket to predict). Top-10 by confidence among rules with " +
        ">= 20 observations, exact cross-multiplied ppm. Plan: one " +
        "custkey window for ranks, one custkey-keyed adjacent-rank " +
        "join, map-side-combined pair counts on the <= 625-pair " +
        "domain.",
      (s, dir) => {
        import s.implicits._
        val ranked = Tables.t(s, dir, "orders")
          .select($"o_orderkey", $"o_custkey",
            row_number().over(Window.partitionBy($"o_custkey")
              .orderBy($"o_orderdate", $"o_orderkey")).as("rk"))
        val maxRk = ranked.groupBy($"o_custkey")
          .agg(max($"rk").as("max_rk"))
        val items = Tables.t(s, dir, "lineitem")
          .join(Tables.t(s, dir, "part"), $"l_partkey" === $"p_partkey")
          .select($"l_orderkey", $"p_brand").distinct()
          .join(ranked, $"l_orderkey" === $"o_orderkey")
          .select($"o_custkey".as("cust"), $"rk", $"p_brand".as("item"))
        val nA = items.join(maxRk, $"cust" === $"o_custkey")
          .filter($"rk" < $"max_rk")
          .groupBy($"item".as("ant")).agg(count(lit(1)).as("n_a"))
        val pairs = items.as("a")
          .join(items.as("b"),
            $"a.cust" === $"b.cust" && $"b.rk" === $"a.rk" + 1)
          .groupBy($"a.item".as("ant"), $"b.item".as("cons"))
          .agg(count(lit(1)).as("n_ab"))
          .filter($"n_ab" >= 20)
        pairs.join(broadcast(nA), Seq("ant"))
          .select($"ant", $"cons", $"n_a", $"n_ab",
            expr("(n_ab * 1000000) div n_a").as("conf_ppm"))
          .orderBy($"conf_ppm".desc, $"ant", $"cons")
          .limit(10)
      },
      Some("""
        WITH ranked AS (
          SELECT o_orderkey, o_custkey,
                 row_number() OVER (PARTITION BY o_custkey
                                    ORDER BY o_orderdate, o_orderkey) AS rk
          FROM orders),
        mr AS (SELECT o_custkey, max(rk) AS max_rk
               FROM ranked GROUP BY 1),
        it AS (
          SELECT r.o_custkey AS cust, r.rk, x.p_brand AS item
          FROM (SELECT DISTINCT l.l_orderkey, p.p_brand
                FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey) x
          JOIN ranked r ON x.l_orderkey = r.o_orderkey),
        na AS (
          SELECT i.item AS ant, count(*) AS n_a
          FROM it i JOIN mr ON i.cust = mr.o_custkey
          WHERE i.rk < mr.max_rk GROUP BY 1),
        pr AS (
          SELECT a.item AS ant, b.item AS cons, count(*) AS n_ab
          FROM it a JOIN it b ON a.cust = b.cust AND b.rk = a.rk + 1
          GROUP BY 1, 2 HAVING count(*) >= 20)
        SELECT pr.ant, pr.cons,
               CAST(na.n_a AS BIGINT) AS n_a,
               CAST(pr.n_ab AS BIGINT) AS n_ab,
               (pr.n_ab * 1000000) // na.n_a AS conf_ppm
        FROM pr JOIN na ON pr.ant = na.ant
        ORDER BY conf_ppm DESC, pr.ant, pr.cons
        LIMIT 10""")),

    Q(
      "q318_cohen_kappa",
      "INTER-ANNOTATOR AGREEMENT (Cohen's kappa) — the labeled-data QA " +
        "gate every supervised pipeline needs before it trusts its " +
        "labels: two deterministic 'raters' label each document good/bad " +
        "(rater A: n_chars >= 306, the fixture median length; rater B: " +
        "distinct-token richness >= 40% — integer cross-multiplied, no " +
        "division), and kappa corrects their raw agreement for chance: " +
        "kappa = (po - pe)/(1 - pe) computed EXACTLY as the integer " +
        "rational (N*agree - (a1*b1 + a0*b0)) / (N^2 - (a1*b1 + a0*b0)) " +
        "— numerator and denominator are plain products of the four " +
        "confusion cells, so the ppm rendering needs only the one " +
        "sign-extracted floor div (the fixture raters ANTI-correlate: " +
        "kappa ~ -0.68, so the negative-division path is exercised, not " +
        "just compiled). Plan: one row-scale projection computes both " +
        "labels in the same pass (richness via array_distinct size — " +
        "codegen'd, no explode), one aggregate to the 4-cell confusion " +
        "domain with map-side partials, O(1) arithmetic after. At " +
        "100 TB: a billion labeled docs reduce to four counters.",
      (s, dir) => {
        import s.implicits._
        val t = filter(split(trim($"text"), " "), x => x =!= lit(""))
        Tables.t(s, dir, "documents")
          .select(
            when($"n_chars" >= 306, 1L).otherwise(0L).as("a"),
            when(size(array_distinct(t)) * 10 >= size(t) * 4, 1L)
              .otherwise(0L).as("b"))
          .agg(
            count(when($"a" === 0 && $"b" === 0, 1)).as("n00"),
            count(when($"a" === 0 && $"b" === 1, 1)).as("n01"),
            count(when($"a" === 1 && $"b" === 0, 1)).as("n10"),
            count(when($"a" === 1 && $"b" === 1, 1)).as("n11"))
          .select($"n00", $"n01", $"n10", $"n11",
            expr("(n00 + n01 + n10 + n11)").as("n"),
            expr("((n00 + n11) * 1000000) div (n00 + n01 + n10 + n11)")
              .as("po_ppm"),
            expr("(((n10 + n11) * (n01 + n11) + (n00 + n01) * (n00 + n10))" +
              " * 1000000) div ((n00 + n01 + n10 + n11) * " +
              "(n00 + n01 + n10 + n11))").as("pe_ppm"),
            expr("CASE WHEN (n00+n01+n10+n11)*(n00+n11) - " +
              "((n10+n11)*(n01+n11) + (n00+n01)*(n00+n10)) >= 0 THEN 1 " +
              "ELSE -1 END * (abs((n00+n01+n10+n11)*(n00+n11) - " +
              "((n10+n11)*(n01+n11) + (n00+n01)*(n00+n10))) * 1000000 " +
              "div ((n00+n01+n10+n11)*(n00+n01+n10+n11) - " +
              "((n10+n11)*(n01+n11) + (n00+n01)*(n00+n10))))")
              .as("kappa_ppm"))
      },
      Some("""
        WITH r AS (
          SELECT CASE WHEN n_chars >= 306 THEN 1 ELSE 0 END AS a,
                 CASE WHEN len(list_distinct(list_filter(
                        string_split(trim(text), ' '), x -> x <> ''))) * 10
                      >= len(list_filter(string_split(trim(text), ' '),
                        x -> x <> '')) * 4
                      THEN 1 ELSE 0 END AS b
          FROM documents),
        c AS (
          SELECT count(*) FILTER (a = 0 AND b = 0) AS n00,
                 count(*) FILTER (a = 0 AND b = 1) AS n01,
                 count(*) FILTER (a = 1 AND b = 0) AS n10,
                 count(*) FILTER (a = 1 AND b = 1) AS n11
          FROM r)
        SELECT CAST(n00 AS BIGINT) AS n00, CAST(n01 AS BIGINT) AS n01,
               CAST(n10 AS BIGINT) AS n10, CAST(n11 AS BIGINT) AS n11,
               CAST(n00 + n01 + n10 + n11 AS BIGINT) AS n,
               CAST(((n00 + n11) * 1000000) // (n00 + n01 + n10 + n11)
                 AS BIGINT) AS po_ppm,
               CAST((((n10 + n11) * (n01 + n11) + (n00 + n01) * (n00 + n10))
                 * 1000000) // ((n00 + n01 + n10 + n11) *
                 (n00 + n01 + n10 + n11)) AS BIGINT) AS pe_ppm,
               CAST((CASE WHEN (n00+n01+n10+n11)*(n00+n11) -
                 ((n10+n11)*(n01+n11) + (n00+n01)*(n00+n10)) >= 0 THEN 1
                 ELSE -1 END) * (abs((n00+n01+n10+n11)*(n00+n11) -
                 ((n10+n11)*(n01+n11) + (n00+n01)*(n00+n10))) * 1000000
                 // ((n00+n01+n10+n11)*(n00+n01+n10+n11) -
                 ((n10+n11)*(n01+n11) + (n00+n01)*(n00+n10))))
                 AS BIGINT) AS kappa_ppm
        FROM c""")),

    Q(
      "q319_brier_decomposition",
      "BRIER SCORE with MURPHY DECOMPOSITION (reliability - resolution " +
        "+ uncertainty) — the single-number probabilistic-forecast audit " +
        "q228's reliability diagram feeds: each click carries a " +
        "deterministic forecast p = (cents mod 10000) basis points, its " +
        "outcome is q228's forward-24h conversion flag (the shared " +
        "clickConversions leg — one definition of 'converted' across " +
        "the calibration family), forecasts bin by decile. Brier " +
        "expands to (Σp² - 2Σpo + Σo)/N over INTEGER basis-point sums; " +
        "REL and RES expand to per-bin integer numerators " +
        "((Σp_k - 10^4·conv_k)² / n_k and (conv_k·N - n_k·conv)² / n_k " +
        "— exact bigint differences squared as IEEE doubles, correctly " +
        "rounded identically on both engines), UNC = conv(N-conv)/N². " +
        "The murphy_check column re-derives Brier from the three " +
        "components (round-6 of the double gap): a drifting " +
        "implementation flips it nonzero and goes driver-red. Plan: one " +
        "row-scale pass to 10 bins with map-side partials, O(1) after; " +
        "the conversion flag rides the same user-keyed semi join as " +
        "q228 — no new shuffle shape. 100 TB: ten counters per " +
        "executor, a 10-row reduce.",
      (s, dir) => {
        import s.implicits._
        val scored = clickConversions(s, dir)
          .select((($"cents" % 10000L + 10000L) % 10000L).as("p_bp"),
            $"conv")
        val bins = scored
          .groupBy(expr("p_bp div 1000").as("bin"))
          .agg(count(lit(1)).as("n_k"), sum($"p_bp").as("sp_k"),
            sum($"p_bp" * $"p_bp").as("spp_k"),
            sum($"p_bp" * $"conv").as("spo_k"), sum($"conv").as("c_k"))
          .localCheckpoint(true) // 10-row frame feeds two consumers
        // squares written as products, never pow(x, 2): IEEE multiply is
        // correctly rounded and identical on both engines; pow may not be
        val relTerm = ($"sp_k" / 10000.0 - $"c_k") *
          ($"sp_k" / 10000.0 - $"c_k") / $"n_k"
        val resAgg = "aggregate(cells, cast(0.0 as double), (acc, x) -> " +
          "acc + cast(x.c_k * n - x.n_k * c as double) * " +
          "cast(x.c_k * n - x.n_k * c as double) / x.n_k) / " +
          "(cast(n as double) * n * n)"
        bins
          .agg(sum($"n_k").as("n"), sum($"sp_k").as("sp"),
            sum($"spp_k").as("spp"), sum($"spo_k").as("spo"),
            sum($"c_k").as("c"), sum(relTerm).as("rel_n"))
          .crossJoin(broadcast(bins
            .agg(collect_list(struct($"n_k", $"c_k")).as("cells"))))
          .select($"n", $"c",
            round(($"spp" / 1e8 - lit(2) * $"spo" / 1e4 + $"c") / $"n", 6)
              .as("brier"),
            round($"rel_n" / $"n", 6).as("reliability"),
            round(expr(resAgg), 6).as("resolution"),
            round($"c" * ($"n" - $"c") / ($"n" * $"n".cast("double")), 6)
              .as("uncertainty"),
            round(abs(
              ($"rel_n" / $"n" - expr(resAgg)
                + $"c" * ($"n" - $"c") / ($"n" * $"n".cast("double")))
                - ($"spp" / 1e8 - lit(2) * $"spo" / 1e4 + $"c") / $"n"), 6)
              .as("murphy_check"))
      },
      Some("""
        WITH e AS (
          SELECT user_id, event_type, event_id,
                 epoch_us(CAST(ts AS TIMESTAMP)) AS us,
                 CAST(round(value * 100) AS BIGINT) AS cents
          FROM events),
        c AS (SELECT user_id, event_id, us, cents
              FROM e WHERE event_type = 'click'),
        conv AS (
          SELECT DISTINCT c.event_id FROM c
          JOIN e p ON p.user_id = c.user_id AND p.event_type = 'purchase'
                  AND p.us > c.us AND p.us - c.us <= 86400000000),
        s AS (
          SELECT ((cents % 10000) + 10000) % 10000 AS p_bp,
                 CASE WHEN conv.event_id IS NOT NULL THEN 1 ELSE 0 END AS o
          FROM c LEFT JOIN conv ON c.event_id = conv.event_id),
        bins AS (
          SELECT p_bp // 1000 AS bin, count(*) AS n_k,
                 sum(p_bp) AS sp_k, sum(p_bp * p_bp) AS spp_k,
                 sum(p_bp * o) AS spo_k, sum(o) AS c_k
          FROM s GROUP BY 1),
        tot AS (
          SELECT sum(n_k) AS n, sum(spp_k) AS spp, sum(spo_k) AS spo,
                 sum(c_k) AS c,
                 sum((sp_k / 10000.0 - c_k) * (sp_k / 10000.0 - c_k)
                   / n_k) AS rel_n
          FROM bins),
        res AS (
          SELECT sum(CAST(b.c_k * t.n - b.n_k * t.c AS DOUBLE) *
                     CAST(b.c_k * t.n - b.n_k * t.c AS DOUBLE)
                     / b.n_k) AS res_n
          FROM bins b CROSS JOIN tot t)
        SELECT CAST(t.n AS BIGINT) AS n, CAST(t.c AS BIGINT) AS c,
               round((t.spp / 1e8 - 2 * t.spo / 1e4 + t.c) / t.n, 6)
                 AS brier,
               round(t.rel_n / t.n, 6) AS reliability,
               round(r.res_n / (CAST(t.n AS DOUBLE) * t.n * t.n), 6)
                 AS resolution,
               round(t.c * (t.n - t.c) / (CAST(t.n AS DOUBLE) * t.n), 6)
                 AS uncertainty,
               round(abs((t.rel_n / t.n
                 - r.res_n / (CAST(t.n AS DOUBLE) * t.n * t.n)
                 + t.c * (t.n - t.c) / (CAST(t.n AS DOUBLE) * t.n))
                 - (t.spp / 1e8 - 2 * t.spo / 1e4 + t.c) / t.n), 6)
                 AS murphy_check
        FROM tot t CROSS JOIN res r""")),

    Q(
      "q322_loo_target_encoding",
      "LEAVE-ONE-OUT TARGET ENCODING — the leakage-free variant of " +
        "q237: a row's own label must not leak into its own feature " +
        "(q237's enc(c) includes row i in S_c, so the feature 'knows' " +
        "y_i — the classic target-leak that inflates offline metrics " +
        "and dies in production; q183's temporal-split argument applied " +
        "to a FEATURE). LOO drops self: enc_i(c) = (S_c - y_i + " +
        "m*prior)/(n_c - 1 + m). The key plan insight: within a " +
        "category the LOO encoding takes exactly TWO values (one per " +
        "label), so the full row-scale feature reduces without loss to " +
        "the (cat, y) domain — emitted per cell: row count, the exact " +
        "cross-multiplied loo_bp (the q237 rendering), q237's leaky " +
        "enc_bp beside it, and leak_gap_bp = enc - loo per label (the " +
        "gap's SIGN flips between y=0 and y=1 rows — the signature of " +
        "self-leak). Plan: identical shape to q237 (one cat aggregate, " +
        "1-row broadcast prior), then the 2x|cats| cell expansion — " +
        "O(1) arithmetic after; a billion rows reduce to 20 cells.",
      (s, dir) => {
        import s.implicits._
        val g = Tables.t(s, dir, "events")
          .select(
            expr("cast(get_json_object(props, '$.k') as bigint) div 10")
              .as("cat"),
            when($"event_type" === "purchase", 1L).otherwise(0L).as("y"))
          .groupBy($"cat")
          .agg(count(lit(1)).as("n_c"), sum($"y").as("s_c"))
        g.crossJoin(broadcast(
            g.agg(sum($"n_c").as("n"), sum($"s_c").as("s"))))
          .select($"cat", explode(array(lit(0L), lit(1L))).as("y"),
            $"n_c", $"s_c", $"n", $"s")
          .filter(when($"y" === 1, $"s_c" > 0)
            .otherwise($"n_c" - $"s_c" > 0))
          .select($"cat", $"y",
            when($"y" === 1, $"s_c").otherwise($"n_c" - $"s_c")
              .as("n_rows"),
            expr("((s_c * n + 100 * s) * 10000) div ((n_c + 100) * n)")
              .as("enc_bp"),
            expr("(((s_c - y) * n + 100 * s) * 10000) div " +
              "((n_c - 1 + 100) * n)").as("loo_bp"))
          .withColumn("leak_gap_bp", $"enc_bp" - $"loo_bp")
          .orderBy($"cat", $"y")
      },
      Some("""
        WITH g AS (
          SELECT CAST(json_extract_string(props, '$.k') AS BIGINT) // 10
                   AS cat,
                 CAST(count(*) AS BIGINT) AS n_c,
                 CAST(sum(CASE WHEN event_type = 'purchase'
                               THEN 1 ELSE 0 END) AS BIGINT) AS s_c
          FROM events GROUP BY 1),
        t AS (SELECT CAST(sum(n_c) AS BIGINT) AS n,
                     CAST(sum(s_c) AS BIGINT) AS s FROM g),
        cells AS (
          SELECT cat, y, n_c, s_c, n, s
          FROM g, t, (SELECT unnest([0, 1]) AS y)
          WHERE CASE WHEN y = 1 THEN s_c > 0 ELSE n_c - s_c > 0 END)
        SELECT cat, CAST(y AS BIGINT) AS y,
               CAST(CASE WHEN y = 1 THEN s_c ELSE n_c - s_c END AS BIGINT)
                 AS n_rows,
               CAST(((s_c * n + 100 * s) * 10000) // ((n_c + 100) * n)
                 AS BIGINT) AS enc_bp,
               CAST((((s_c - y) * n + 100 * s) * 10000) //
                 ((n_c - 1 + 100) * n) AS BIGINT) AS loo_bp,
               CAST(((s_c * n + 100 * s) * 10000) // ((n_c + 100) * n)
                 - (((s_c - y) * n + 100 * s) * 10000) //
                   ((n_c - 1 + 100) * n) AS BIGINT) AS leak_gap_bp
        FROM cells ORDER BY cat, y""")),

    Q(
      "q330_precision_recall_at_k",
      "PRECISION@5 / RECALL@5 — completing the ranking-eval quartet " +
        "(q224 hit rate, q235 MRR, q276 nDCG measure one rec list per " +
        "ITEM; this grades one ranked list per USER, the form an " +
        "online serving system actually emits): each user's top-5 " +
        "recommendations score candidate items by SUMMED co-click " +
        "counts over the user's train basket (q235's day-1-15 train / " +
        "16-30 eval split and count-desc-item-asc determinism), train " +
        "items excluded from their own recs; relevant = the user's " +
        "test basket. Per-user P@5 = hits*1e6 div 5 and R@5 = " +
        "hits*1e6 div |test| in exact ppm, averaged over the eval " +
        "population (users with BOTH baskets) by a second exact div — " +
        "the two-level floor composes deterministically on both " +
        "engines. Plan: baskets from one (user, phase, item) distinct; " +
        "candidate scoring is a user-keyed join bounded by the 100-" +
        "item domain; the top-5 window partitions BY USER; the eval " +
        "semi-join and rollup combine map-side. No step exceeds " +
        "O(users x items-per-user x 3).",
      (s, dir) => {
        import s.implicits._
        val cut = lit("2024-01-16").cast("date")
        val ui = Tables.t(s, dir, "events")
          .filter($"event_type" === "click")
          .select($"user_id",
            when(to_date($"ts") < cut, 0).otherwise(1).as("phase"),
            expr("cast(get_json_object(props, '$.k') as bigint)").as("item"))
          .distinct()
          .localCheckpoint(true)
        val train = ui.filter($"phase" === 0).drop("phase")
        val test = ui.filter($"phase" === 1).drop("phase")
        val co = train.as("a").join(train.as("b"), Seq("user_id"))
          .filter($"a.item" =!= $"b.item")
          .groupBy($"a.item".as("i"), $"b.item".as("j"))
          .agg(count(lit(1)).as("n"))
        val scored = train.join(broadcast(co), $"item" === $"i")
          .groupBy($"user_id", $"j").agg(sum($"n").as("score"))
          .join(train.select($"user_id", $"item".as("j")),
            Seq("user_id", "j"), "left_anti")
        val rec5 = scored
          .withColumn("rk", row_number().over(
            Window.partitionBy($"user_id").orderBy($"score".desc, $"j")))
          .filter($"rk" <= 5)
        val hits = rec5
          .join(test.select($"user_id", $"item".as("j")),
            Seq("user_id", "j"), "left_semi")
          .groupBy($"user_id").agg(count(lit(1)).as("h"))
        val testSz = test.groupBy($"user_id").agg(count(lit(1)).as("nt"))
        // eval population: users with a train basket (rec5 nonempty)
        // AND a test basket
        rec5.select($"user_id").distinct()
          .join(testSz, Seq("user_id"))
          .join(hits, Seq("user_id"), "left")
          .na.fill(0L, Seq("h"))
          .select($"user_id", $"h", $"nt",
            expr("h * 1000000 div 5").as("p_ppm"),
            expr("h * 1000000 div nt").as("r_ppm"))
          .agg(count(lit(1)).as("n_users"), sum($"h").as("total_hits"),
            expr("sum(p_ppm) div count(1)").as("mean_p5_ppm"),
            expr("sum(r_ppm) div count(1)").as("mean_r5_ppm"))
      },
      Some("""
        WITH ui AS (
          SELECT DISTINCT user_id,
                 CASE WHEN CAST(ts AS DATE) < DATE '2024-01-16'
                      THEN 0 ELSE 1 END AS phase,
                 CAST(json_extract_string(props, '$.k') AS BIGINT) AS item
          FROM events WHERE event_type = 'click'),
        train AS (SELECT user_id, item FROM ui WHERE phase = 0),
        test AS (SELECT user_id, item FROM ui WHERE phase = 1),
        co AS (
          SELECT a.item AS i, b.item AS j, CAST(count(*) AS BIGINT) AS n
          FROM train a JOIN train b USING (user_id)
          WHERE a.item <> b.item GROUP BY 1, 2),
        scored AS (
          SELECT t.user_id, c.j, CAST(sum(c.n) AS BIGINT) AS score
          FROM train t JOIN co c ON t.item = c.i
          GROUP BY 1, 2),
        cand AS (
          SELECT s.* FROM scored s
          WHERE NOT EXISTS (SELECT 1 FROM train t
            WHERE t.user_id = s.user_id AND t.item = s.j)),
        rec5 AS (
          SELECT * FROM (
            SELECT user_id, j,
                   row_number() OVER (PARTITION BY user_id
                     ORDER BY score DESC, j) AS rk
            FROM cand) WHERE rk <= 5),
        hits AS (
          SELECT r.user_id, CAST(count(*) AS BIGINT) AS h
          FROM rec5 r
          WHERE EXISTS (SELECT 1 FROM test t
            WHERE t.user_id = r.user_id AND t.item = r.j)
          GROUP BY 1),
        test_sz AS (SELECT user_id, CAST(count(*) AS BIGINT) AS nt
                    FROM test GROUP BY 1),
        pop AS (
          SELECT u.user_id, coalesce(h.h, 0) AS h, s.nt
          FROM (SELECT DISTINCT user_id FROM rec5) u
          JOIN test_sz s USING (user_id)
          LEFT JOIN hits h ON h.user_id = u.user_id)
        SELECT count(*) AS n_users,
               CAST(sum(h) AS BIGINT) AS total_hits,
               CAST(sum(h * 1000000 // 5) // count(*) AS BIGINT)
                 AS mean_p5_ppm,
               CAST(sum(h * 1000000 // nt) // count(*) AS BIGINT)
                 AS mean_r5_ppm
        FROM pop""")),

    Q(
      "q356_cumulative_gains",
      "CUMULATIVE GAINS / LIFT TABLE (the model-targeting report behind " +
        "every uplift campaign; Berry-Linoff's decile analysis): users " +
        "scored by a click-count propensity proxy, bucketed into DECILES " +
        "WITH TIES KEPT TOGETHER via the counting-CDF — decile(s) = " +
        "(#users strictly above score s) * 10 div N + 1, computed on " +
        "the bounded SCORE DOMAIN (a window over distinct click counts, " +
        "never a row sort — q303's counting-CDF discipline), label = " +
        "user purchased. Per decile: users, positives, and the " +
        "cumulative capture curve — cum_gain_ppm (share of all " +
        "positives captured down to this decile) and cum_lift_ppm " +
        "(capture rate vs the random-targeting baseline, exact " +
        "cross-multiplied integers). Ties can make deciles uneven or " +
        "absent; the emitted n_users IS the audit of that. 100 TB: one " +
        "user-keyed aggregate, then every window runs on the <=23-value " +
        "score domain.",
      (s, dir) => {
        import s.implicits._
        val u = Tables.t(s, dir, "events")
          .groupBy($"user_id")
          .agg(sum(($"event_type" === "click").cast("long"))
              .as("score"),
            max(($"event_type" === "purchase").cast("long")).as("pos"))
        val sd = u.groupBy($"score")
          .agg(count(lit(1)).as("cnt"), sum($"pos").as("npos"))
        val wAbove = Window.orderBy($"score".desc)
          .rowsBetween(Window.unboundedPreceding, -1)
        val wTot = Window.partitionBy(lit(1))
        val wCum = Window.orderBy($"decile")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        sd
          .withColumn("above",
            coalesce(sum($"cnt").over(wAbove), lit(0L)))
          .withColumn("n_total", sum($"cnt").over(wTot))
          .withColumn("pos_total", sum($"npos").over(wTot))
          .withColumn("decile",
            expr("above * 10 div n_total + 1"))
          .groupBy($"decile")
          .agg(sum($"cnt").as("n_users"), sum($"npos").as("n_pos"),
            max($"n_total").as("n_total"),
            max($"pos_total").as("pos_total"))
          .withColumn("cum_users", sum($"n_users").over(wCum))
          .withColumn("cum_pos", sum($"n_pos").over(wCum))
          .select($"decile", $"n_users", $"n_pos", $"cum_users",
            $"cum_pos",
            expr("cum_pos * 1000000 div pos_total").as("cum_gain_ppm"),
            expr("cum_pos * n_total * 1000000 div " +
              "(cum_users * pos_total)").as("cum_lift_ppm"))
          .orderBy($"decile")
      },
      Some("""
        WITH u AS (
          SELECT user_id,
                 sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
                   AS score,
                 max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0
                   END) AS pos
          FROM events GROUP BY user_id),
        sd AS (
          SELECT score, CAST(count(*) AS BIGINT) AS cnt,
                 CAST(sum(pos) AS BIGINT) AS npos
          FROM u GROUP BY score),
        d AS (
          SELECT score, cnt, npos,
                 coalesce(sum(cnt) OVER (ORDER BY score DESC
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                   0) AS above,
                 sum(cnt) OVER () AS n_total,
                 sum(npos) OVER () AS pos_total
          FROM sd),
        dec AS (
          SELECT above * 10 // n_total + 1 AS decile,
                 cnt, npos, n_total, pos_total
          FROM d),
        g AS (
          SELECT decile, sum(cnt) AS n_users, sum(npos) AS n_pos,
                 max(n_total) AS n_total, max(pos_total) AS pos_total
          FROM dec GROUP BY decile),
        c AS (
          SELECT decile, n_users, n_pos,
                 sum(n_users) OVER (ORDER BY decile) AS cum_users,
                 sum(n_pos) OVER (ORDER BY decile) AS cum_pos,
                 n_total, pos_total
          FROM g)
        SELECT CAST(decile AS BIGINT) AS decile,
               CAST(n_users AS BIGINT) AS n_users,
               CAST(n_pos AS BIGINT) AS n_pos,
               CAST(cum_users AS BIGINT) AS cum_users,
               CAST(cum_pos AS BIGINT) AS cum_pos,
               CAST(cum_pos * 1000000 // pos_total AS BIGINT)
                 AS cum_gain_ppm,
               CAST(cum_pos * n_total * 1000000
                 // (cum_users * pos_total) AS BIGINT) AS cum_lift_ppm
        FROM c ORDER BY decile""")),

    Q(
      "q396_expected_calibration_error",
      "EXPECTED CALIBRATION ERROR (Naeini et al. 2015's ECE — the one " +
        "number the reliability diagram q228 fans out; q319's Brier " +
        "decomposes error, ECE grades the CALIBRATION component " +
        "alone, on held-out data): the 'model' is the classic " +
        "holdout-banded predictor — each value band's conversion " +
        "rate fitted on TRAIN users (even user_id) becomes the " +
        "band's predicted confidence, graded against TEST users " +
        "(odd): ECE = sum_b n_b * |acc_b - conf_b| / N, all in " +
        "exact integer ppm (each rate is one floor div; the " +
        "weighted sum is a second). Shares q228's clickConversions " +
        "ground truth so 'converted' cannot drift across the " +
        "calibration family. Plan: ONE click-grain pass, one " +
        "10-band aggregate per split joined on the band domain, " +
        "O(1) arithmetic after; the ECE total rides every row as a " +
        "bounded-domain window. 100 TB: a billion clicks reduce to " +
        "20 band counters.",
      (s, dir) => {
        import s.implicits._
        val base = clickConversions(s, dir)
          .select(expr("cents div 10000").as("band"), $"conv",
            ($"user_id" % 2 === 1).as("is_test"))
        val train = base.filter(!$"is_test")
          .groupBy($"band")
          .agg(count(lit(1)).as("n_train"), sum($"conv").as("cv_train"))
          .withColumn("conf_ppm",
            expr("cv_train * 1000000 div n_train"))
        val test = base.filter($"is_test")
          .groupBy($"band")
          .agg(count(lit(1)).as("n_test"), sum($"conv").as("cv_test"))
          .withColumn("acc_ppm", expr("cv_test * 1000000 div n_test"))
        test.join(train, Seq("band"))
          .withColumn("abs_gap_ppm", abs($"acc_ppm" - $"conf_ppm"))
          .withColumn("ece_ppm",
            expr("sum(n_test * abs_gap_ppm) over () div " +
              "sum(n_test) over ()"))
          .select($"band".cast("long").as("band"), $"n_train",
            $"conf_ppm", $"n_test", $"acc_ppm", $"abs_gap_ppm",
            $"ece_ppm")
          .orderBy($"band")
      },
      Some("""
        WITH e AS (
          SELECT user_id, event_type, event_id,
                 epoch_us(CAST(ts AS TIMESTAMP)) AS us,
                 CAST(round(value * 100) AS BIGINT) AS cents
          FROM events),
        c AS (SELECT user_id, event_id, us, cents
              FROM e WHERE event_type = 'click'),
        conv AS (
          SELECT DISTINCT c.event_id FROM c
          JOIN e p ON p.user_id = c.user_id
                  AND p.event_type = 'purchase'
                  AND p.us > c.us AND p.us - c.us <= 86400000000),
        base AS (
          SELECT cents // 10000 AS band,
                 CASE WHEN conv.event_id IS NOT NULL THEN 1 ELSE 0 END
                   AS cv,
                 c.user_id % 2 = 1 AS is_test
          FROM c LEFT JOIN conv ON c.event_id = conv.event_id),
        tr AS (
          SELECT band, CAST(count(*) AS BIGINT) AS n_train,
                 CAST(sum(cv) * 1000000 // count(*) AS BIGINT)
                   AS conf_ppm
          FROM base WHERE NOT is_test GROUP BY band),
        te AS (
          SELECT band, CAST(count(*) AS BIGINT) AS n_test,
                 CAST(sum(cv) * 1000000 // count(*) AS BIGINT)
                   AS acc_ppm
          FROM base WHERE is_test GROUP BY band)
        SELECT CAST(band AS BIGINT) AS band, n_train, conf_ppm,
               n_test, acc_ppm,
               abs(acc_ppm - conf_ppm) AS abs_gap_ppm,
               CAST(sum(n_test * abs(acc_ppm - conf_ppm)) OVER ()
                 // sum(n_test) OVER () AS BIGINT) AS ece_ppm
        FROM te JOIN tr USING (band)
        ORDER BY band""")),

    Q(
      "q397_krippendorff_alpha",
      "KRIPPENDORFF'S ALPHA, nominal, THREE raters (Krippendorff 1970 " +
        "— the agreement coefficient that generalizes q318's two-" +
        "rater kappa to any rater count via coincidence counting): " +
        "raters are three deterministic binary rules on each " +
        "document (length >= 306 chars; distinct-token richness >= " +
        "40% — q318's pair — plus token count >= 56), and alpha = " +
        "1 - Do/De where Do counts disagreeing ordered pairs WITHIN " +
        "units (a unit with k ones among 3 ratings contributes " +
        "2*k*(3-k)) and De the chance rate from the pooled margins " +
        "(2*n1*n0/(n*(n-1)), n = 3N). The whole statistic is one " +
        "integer rational — alpha_ppm = (Do_den*De_num - " +
        "Do_num*De_den)*1e6 / (Do_den*De_num) with q318's sign-" +
        "extracted floor div, DECIMAL(38,0)-cleared so no product " +
        "can wrap. Plan: one row-scale projection computes all " +
        "three labels in the same pass, one global 3-counter " +
        "reduce, O(1) after. 100 TB: any rater count reduces to " +
        "per-unit ones-histograms.",
      (s, dir) => {
        import s.implicits._
        val t = filter(split(trim($"text"), " "), x => x =!= lit(""))
        Tables.t(s, dir, "documents")
          .select(
            (when($"n_chars" >= 306, 1L).otherwise(0L) +
              when(size(array_distinct(t)) * 10 >= size(t) * 4, 1L)
                .otherwise(0L) +
              when(size(t) >= 56, 1L).otherwise(0L)).as("ones"))
          .agg(count(lit(1)).as("n_units"),
            sum($"ones").as("n1"),
            sum($"ones" * (lit(3L) - $"ones") * 2L).as("do_num"))
          .select($"n_units", $"n1",
            ($"n_units" * 6L).as("do_den"),
            $"do_num",
            ($"n1" * ($"n_units" * 3L - $"n1") * 2L).as("de_num"),
            ($"n_units" * 3L * ($"n_units" * 3L - 1L)).as("de_den"))
          .select($"n_units", $"n1", $"do_num", $"do_den", $"de_num",
            $"de_den",
            expr("do_num * 1000000 div do_den").as("do_ppm"),
            expr("de_num * 1000000 div de_den").as("de_ppm"),
            expr("cast(CASE WHEN cast(do_den as decimal(38,0)) * de_num" +
              " - cast(do_num as decimal(38,0)) * de_den >= 0 THEN 1 " +
              "ELSE -1 END * (abs(cast(do_den as decimal(38,0)) * " +
              "de_num - cast(do_num as decimal(38,0)) * de_den) * " +
              "1000000 div (cast(do_den as decimal(38,0)) * de_num)) " +
              "as bigint)").as("alpha_ppm"))
      },
      Some("""
        WITH r AS (
          SELECT (CASE WHEN n_chars >= 306 THEN 1 ELSE 0 END)
               + (CASE WHEN len(list_distinct(list_filter(
                     string_split(trim(text), ' '), x -> x <> ''))) * 10
                   >= len(list_filter(string_split(trim(text), ' '),
                     x -> x <> '')) * 4 THEN 1 ELSE 0 END)
               + (CASE WHEN len(list_filter(string_split(trim(text),
                     ' '), x -> x <> '')) >= 56 THEN 1 ELSE 0 END)
                 AS ones
          FROM documents),
        agg AS (
          SELECT CAST(count(*) AS BIGINT) AS n_units,
                 CAST(sum(ones) AS BIGINT) AS n1,
                 CAST(sum(ones * (3 - ones) * 2) AS BIGINT) AS do_num
          FROM r),
        t AS (
          SELECT n_units, n1, do_num,
                 n_units * 6 AS do_den,
                 n1 * (n_units * 3 - n1) * 2 AS de_num,
                 n_units * 3 * (n_units * 3 - 1) AS de_den
          FROM agg)
        SELECT n_units, n1, do_num, do_den, de_num, de_den,
               CAST(do_num * 1000000 // do_den AS BIGINT) AS do_ppm,
               CAST(de_num * 1000000 // de_den AS BIGINT) AS de_ppm,
               CAST((CASE WHEN CAST(do_den AS HUGEINT) * de_num
                   - CAST(do_num AS HUGEINT) * de_den >= 0
                 THEN 1 ELSE -1 END)
                 * (abs(CAST(do_den AS HUGEINT) * de_num
                     - CAST(do_num AS HUGEINT) * de_den) * 1000000
                   // (CAST(do_den AS HUGEINT) * de_num)) AS BIGINT)
                 AS alpha_ppm
        FROM t""")),

    Q(
      "q406_zonemap_scan_audit",
      "MIN/MAX ZONE-MAP SCAN AUDIT — q261/q373 count the files that " +
        "CONTAIN matches (ideal pruning); this one models what the " +
        "reader's min/max statistics ACTUALLY decide and measures " +
        "their false positives, the gap every lakehouse design doc " +
        "hand-waves: per layout (insertion order by orderkey vs " +
        "sorted by totalprice), orders split into 64 equal-count " +
        "files (ntile over a unique total order — deterministic " +
        "cross-engine), each file's zone map = [min, max] of " +
        "totalprice cents, and a narrow price-band probe counts " +
        "files whose zone map INTERSECTS the band (what a scanner " +
        "reads) beside files that truly contain matching rows. On " +
        "the sorted layout the two counts collapse to the 1-2 files " +
        "the band spans; on insertion order every zone map straddles " +
        "the band — 64 files read for ~0.5% of rows, false_scan ~62 " +
        "— the measured argument for q268's compaction + sort. " +
        "100 TB: the audit is one ntile window + a 64-row zone-map " +
        "aggregate per layout; the decision it informs is " +
        "repartitionByRange at write time, exactly like q373.",
      (s, dir) => {
        import s.implicits._
        val o = Tables.t(s, dir, "orders")
          .select($"o_orderkey",
            expr("cast(round(o_totalprice * 100) as bigint)").as("v"))
        val lo = 25000000L; val hi = 25250000L
        def audit(layout: String, fileCol: org.apache.spark.sql.Column) = {
          val files = o.withColumn("f", fileCol)
          val zones = files.groupBy($"f")
            .agg(min($"v").as("zmin"), max($"v").as("zmax"),
              sum(($"v".between(lo, hi)).cast("long")).as("n_match"))
          zones.agg(
            count(lit(1)).as("n_files"),
            sum(($"zmin" <= hi && $"zmax" >= lo).cast("long"))
              .as("files_zonemap_scan"),
            sum(($"n_match" > 0L).cast("long")).as("files_matching"),
            sum($"n_match").as("rows_selected"))
            .select(lit(layout).as("layout"), $"n_files",
              $"files_zonemap_scan", $"files_matching",
              ($"files_zonemap_scan" - $"files_matching")
                .as("false_scan"), $"rows_selected")
        }
        audit("insertion_order",
            ntile(64).over(Window.orderBy($"o_orderkey")).cast("long"))
          .unionAll(audit("sorted_by_price",
            ntile(64).over(Window.orderBy($"v", $"o_orderkey"))
              .cast("long")))
          .orderBy($"layout")
      },
      Some("""
        WITH o AS (
          SELECT o_orderkey,
                 CAST(round(o_totalprice * 100) AS BIGINT) AS v
          FROM orders),
        f AS (
          SELECT v,
                 ntile(64) OVER (ORDER BY o_orderkey) AS f_ins,
                 ntile(64) OVER (ORDER BY v, o_orderkey) AS f_srt
          FROM o),
        zi AS (
          SELECT f_ins, min(v) AS zmin, max(v) AS zmax,
                 sum(CASE WHEN v BETWEEN 25000000 AND 25250000
                   THEN 1 ELSE 0 END) AS n_match
          FROM f GROUP BY 1),
        zs AS (
          SELECT f_srt, min(v) AS zmin, max(v) AS zmax,
                 sum(CASE WHEN v BETWEEN 25000000 AND 25250000
                   THEN 1 ELSE 0 END) AS n_match
          FROM f GROUP BY 1),
        a AS (
          SELECT 'insertion_order' AS layout,
                 CAST(count(*) AS BIGINT) AS n_files,
                 CAST(sum(CASE WHEN zmin <= 25250000
                     AND zmax >= 25000000 THEN 1 ELSE 0 END) AS BIGINT)
                   AS files_zonemap_scan,
                 CAST(sum(CASE WHEN n_match > 0 THEN 1 ELSE 0 END)
                   AS BIGINT) AS files_matching,
                 CAST(sum(n_match) AS BIGINT) AS rows_selected
          FROM zi
          UNION ALL
          SELECT 'sorted_by_price', CAST(count(*) AS BIGINT),
                 CAST(sum(CASE WHEN zmin <= 25250000
                     AND zmax >= 25000000 THEN 1 ELSE 0 END) AS BIGINT),
                 CAST(sum(CASE WHEN n_match > 0 THEN 1 ELSE 0 END)
                   AS BIGINT),
                 CAST(sum(n_match) AS BIGINT)
          FROM zs)
        SELECT layout, n_files, files_zonemap_scan, files_matching,
               CAST(files_zonemap_scan - files_matching AS BIGINT)
                 AS false_scan, rows_selected
        FROM a ORDER BY layout""")),

    Q(
      "q407_wilcoxon_signed_rank",
      "WILCOXON SIGNED-RANK TEST (Wilcoxon 1945 — the paired " +
        "continuous-outcome test completing the family: q398 McNemar " +
        "is paired-binary, q358 Kruskal-Wallis is independent-groups; " +
        "THIS is 'did the same users' spend change period-over-" +
        "period', the standard launch-review question when diffs are " +
        "non-normal): per user, event value summed as exact micros " +
        "in each half of the observation window (per-ROW rounding " +
        "before the sum, so no float summation order anywhere), " +
        "d = second - first over users active in BOTH halves, zeros " +
        "dropped per the classic procedure, |d| ranked with midrank " +
        "ties carried as DOUBLED integers (q267's discipline: a tie " +
        "group over ranks a+1..a+c has 2*midrank = 2a+c+1), " +
        "W2 = sum of doubled ranks of positive diffs (= 2*W+). The " +
        "normal-approximation statistic is emitted as an EXACT " +
        "rational: z^2 = (W+ - n(n+1)/4)^2 / Var with the tie-" +
        "corrected Var = [n(n+1)(2n+1) - sum(c^3-c)/2]/24 collapses " +
        "to z2_ppm = (2*W2 - n(n+1))^2 * 3 * 10^6 div (2 * V24) — " +
        "numerator squared AND the 2*V24 divisor both in " +
        "DECIMAL(38,0) (HUGEINT in the oracle): 2n^3 overflows int64 " +
        "near n ~ 1.6M paired users, so the divisor is computed " +
        "natively wide as 2n(n+1)(2n+1) - tie3 (the tie3/2 halving " +
        "folded into the doubling; tie3 = sum c^3-c is always even), " +
        "never a float and never a narrow intermediate. 100 TB: one " +
        "(user, half) aggregate is the " +
        "only row-scale shuffle; the rank algebra runs on the " +
        "bounded |d|-domain frame.",
      (s, dir) => {
        import s.implicits._
        val ev = Tables.t(s, dir, "events")
          .select($"user_id",
            (unix_micros($"ts".cast("timestamp")) >=
              unix_micros(lit("2024-01-16 00:00:00").cast("timestamp")))
              .cast("long").as("half"),
            expr("cast(round(value * 1000000) as bigint)").as("vm"))
        val per = ev.groupBy($"user_id")
          .agg(sum(when($"half" === 0L, $"vm")).as("a"),
            sum(when($"half" === 1L, $"vm")).as("b"))
          .filter($"a".isNotNull && $"b".isNotNull)
          .select(($"b" - $"a").as("d"))
          .filter($"d" =!= 0L)
        val dom = per.groupBy(abs($"d").as("ad"))
          .agg(count(lit(1)).as("cnt"),
            sum(($"d" > 0L).cast("long")).as("pos"))
        val wCum = Window.orderBy($"ad")
          .rowsBetween(Window.unboundedPreceding, -1)
        val ranked = dom.withColumn("cumb",
          coalesce(sum($"cnt").over(wCum), lit(0L)))
        ranked.agg(
            sum($"cnt").as("n"),
            sum($"pos" * (lit(2L) * $"cumb" + $"cnt" + 1L)).as("w2_pos"),
            sum(expr("cast(cnt as decimal(38,0)) * cnt * cnt - cnt"))
              .as("tie3"))
          .select($"n", $"w2_pos",
            ($"n" * ($"n" + 1L) - $"w2_pos").as("w2_neg"),
            ($"tie3" / 2L).cast("long").as("tie_correction"),
            // the 2*V24 divisor computed NATIVELY in DECIMAL(38,0) —
            // the previous form built n(n+1)(2n+1) in BIGINT first
            // (wraps near n ~ 1.6M) and only widened afterwards
            expr("cast(2 as decimal(38,0)) * n * (n + 1) * (2 * n + 1)" +
              " - tie3").as("v24x2"),
            expr("case when 2 * w2_pos >= n * (n + 1) then 1 " +
              "else -1 end").as("z_sign"),
            expr("cast(2 * w2_pos - n * (n + 1) as decimal(38,0))")
              .as("num"))
          .select($"n", $"w2_pos", $"w2_neg", $"tie_correction",
            $"z_sign",
            expr("cast(num * num * 3000000 div v24x2 as bigint)")
              .as("z2_ppm"))
      },
      Some("""
        WITH ev AS (
          SELECT user_id,
                 CASE WHEN ts >= TIMESTAMP '2024-01-16 00:00:00'
                   THEN 1 ELSE 0 END AS half,
                 CAST(round(value * 1000000) AS BIGINT) AS vm
          FROM events),
        per AS (
          SELECT sum(CASE WHEN half = 1 THEN vm END)
               - sum(CASE WHEN half = 0 THEN vm END) AS d
          FROM ev GROUP BY user_id
          HAVING sum(CASE WHEN half = 0 THEN vm END) IS NOT NULL
             AND sum(CASE WHEN half = 1 THEN vm END) IS NOT NULL
             AND sum(CASE WHEN half = 1 THEN vm END)
               <> sum(CASE WHEN half = 0 THEN vm END)),
        dom AS (
          SELECT abs(d) AS ad, CAST(count(*) AS BIGINT) AS cnt,
                 CAST(sum(CASE WHEN d > 0 THEN 1 ELSE 0 END) AS BIGINT)
                   AS pos
          FROM per GROUP BY 1),
        ranked AS (
          SELECT ad, cnt, pos,
                 coalesce(sum(cnt) OVER (ORDER BY ad
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                   0) AS cumb
          FROM dom),
        agg AS (
          SELECT CAST(sum(cnt) AS BIGINT) AS n,
                 CAST(sum(pos * (2 * cumb + cnt + 1)) AS BIGINT)
                   AS w2_pos,
                 CAST(sum(CAST(cnt AS HUGEINT) * cnt * cnt - cnt)
                   AS HUGEINT) AS tie3
          FROM ranked)
        SELECT n, w2_pos,
               CAST(n * (n + 1) - w2_pos AS BIGINT) AS w2_neg,
               CAST(tie3 // 2 AS BIGINT) AS tie_correction,
               CAST(CASE WHEN 2 * w2_pos >= n * (n + 1) THEN 1
                 ELSE -1 END AS INTEGER) AS z_sign,
               CAST(CAST(2 * w2_pos - n * (n + 1) AS HUGEINT)
                 * (2 * w2_pos - n * (n + 1)) * 3000000
                 // (CAST(2 AS HUGEINT) * n * (n + 1) * (2 * n + 1)
                    - tie3)
                 AS BIGINT) AS z2_ppm
        FROM agg""")),

    Q(
      "q417_shard_sort_zonemap",
      "SORT-ON-WRITE GATED BY THE ENGINE'S OWN FILES — q406 modeled " +
        "zone maps on ntile'd row groups and argued for a sort-on-" +
        "write knob the shard writer didn't have; this round the knob " +
        "exists (TrainingShards.write(sortColumns=...)) and the audit " +
        "re-runs against REAL parquet files the engine itself wrote: " +
        "orders sharded twice through the SAME writer (4 shards, " +
        "250-row file cap) — once in reproducible-shuffle order, once " +
        "sorted by price cents within each shard — then every " +
        "physical file's min/max/match-count is measured via " +
        "input_file_name() and the q406 statistics recomputed per " +
        "layout. The ORACLE replays the writer's whole layout " +
        "CONTRACT in SQL: the md5-seeded two-phase global rank " +
        "(q125's proven replay), shard = rk mod 4, within-shard " +
        "order (rk, or price-with-rk-tie-break), and the 250-row " +
        "file split as rank-div-250 groups — so a writer regression " +
        "(split boundaries, sort not honored, shard drift) flips " +
        "REAL file counts against the modeled ones and goes driver-" +
        "red. 100 TB: the writer is the same one-pass " +
        "repartitionByRange; the audit is one input_file_name " +
        "group-by per layout.",
      (s, dir) => {
        import s.implicits._
        val o = Tables.t(s, dir, "orders")
          .select($"o_orderkey".as("doc_id"),
            expr("cast(round(o_totalprice * 100) as bigint)").as("v"))
        val root = graft.TempRoots.freshForDir("graft_shardsort", dir)
          .toString
        graft.sink.TrainingShards.write(o, s"$root/ins", "seed42", 4,
          maxRecordsPerFile = 250L)
        // the sorted layout derives from the FIRST layout's persisted
        // (rk, shard_id) columns — one rank-kernel run feeds both
        // writes (bit-identical files to a direct sorted write;
        // TrainingShardsSpec pins it)
        graft.sink.TrainingShards.resortLayout(s, s"$root/ins",
          s"$root/srt", 4, maxRecordsPerFile = 250L,
          sortColumns = Seq("v"))
        val lo = 25000000L; val hi = 25250000L
        def audit(layout: String, path: String) =
          s.read.parquet(path)
            .select($"v", input_file_name().as("f"))
            .groupBy($"f")
            .agg(min($"v").as("zmin"), max($"v").as("zmax"),
              sum($"v".between(lo, hi).cast("long")).as("n_match"))
            .agg(count(lit(1)).as("n_files"),
              sum(($"zmin" <= hi && $"zmax" >= lo).cast("long"))
                .as("files_zonemap_scan"),
              sum(($"n_match" > 0L).cast("long")).as("files_matching"),
              sum($"n_match").as("rows_selected"))
            .select(lit(layout).as("layout"), $"n_files",
              $"files_zonemap_scan", $"files_matching",
              ($"files_zonemap_scan" - $"files_matching").as("false_scan"),
              $"rows_selected")
        audit("insertion_rk", s"$root/ins")
          .unionAll(audit("sorted_by_price", s"$root/srt"))
          .orderBy($"layout")
      },
      Some("""
        WITH r AS (
          SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS v,
                 row_number() OVER (ORDER BY
                   md5('seed42:' || CAST(o_orderkey AS VARCHAR)),
                   o_orderkey) - 1 AS rk
          FROM orders),
        sh AS (SELECT v, rk, CAST(rk % 4 AS INTEGER) AS shard FROM r),
        fi AS (
          SELECT v, shard,
                 (row_number() OVER (PARTITION BY shard ORDER BY rk) - 1)
                   // 250 AS fidx
          FROM sh),
        fs AS (
          SELECT v, shard,
                 (row_number() OVER (PARTITION BY shard ORDER BY v, rk)
                   - 1) // 250 AS fidx
          FROM sh),
        zi AS (
          SELECT shard, fidx, min(v) AS zmin, max(v) AS zmax,
                 sum(CASE WHEN v BETWEEN 25000000 AND 25250000
                   THEN 1 ELSE 0 END) AS n_match
          FROM fi GROUP BY 1, 2),
        zs AS (
          SELECT shard, fidx, min(v) AS zmin, max(v) AS zmax,
                 sum(CASE WHEN v BETWEEN 25000000 AND 25250000
                   THEN 1 ELSE 0 END) AS n_match
          FROM fs GROUP BY 1, 2),
        a AS (
          SELECT 'insertion_rk' AS layout,
                 CAST(count(*) AS BIGINT) AS n_files,
                 CAST(sum(CASE WHEN zmin <= 25250000
                     AND zmax >= 25000000 THEN 1 ELSE 0 END) AS BIGINT)
                   AS files_zonemap_scan,
                 CAST(sum(CASE WHEN n_match > 0 THEN 1 ELSE 0 END)
                   AS BIGINT) AS files_matching,
                 CAST(sum(n_match) AS BIGINT) AS rows_selected
          FROM zi
          UNION ALL
          SELECT 'sorted_by_price', CAST(count(*) AS BIGINT),
                 CAST(sum(CASE WHEN zmin <= 25250000
                     AND zmax >= 25000000 THEN 1 ELSE 0 END) AS BIGINT),
                 CAST(sum(CASE WHEN n_match > 0 THEN 1 ELSE 0 END)
                   AS BIGINT),
                 CAST(sum(n_match) AS BIGINT)
          FROM zs)
        SELECT layout, n_files, files_zonemap_scan, files_matching,
               CAST(files_zonemap_scan - files_matching AS BIGINT)
                 AS false_scan, rows_selected
        FROM a ORDER BY layout""")),

    Q(
      "q419_pass_at_k",
      "UNBIASED pass@k (Chen et al. 2021, 'Evaluating Large Language " +
        "Models Trained on Code' — the standard code-eval metric): " +
        "each order is a 'problem', its lineitems are the n sampled " +
        "'completions', a sample passes when l_returnflag = 'R', and " +
        "pass@k per problem is the exact combinatorial estimator " +
        "1 - C(n-c,k)/C(n,k) — NOT the biased empirical fraction of " +
        "k-subsets actually drawn. All arithmetic is exact integers: " +
        "binomials via factorial() (both engines compute n<=20 " +
        "factorials as exact integers; n is the per-problem sample " +
        "budget, bounded by GENERATION design in a real eval — 10 or " +
        "100 — never data-scale, and the n<=20 guard makes the bound " +
        "explicit), the per-problem rate floored to ppm AFTER the " +
        "exactly-dividing binomial ratio, and the per-priority mean " +
        "as one integer div. Problems need n >= 5 so k=5 is always " +
        "defined. Plan: ONE lineitem aggregate to problem grain " +
        "(map-side combinable), a row-scale join to the problem's " +
        "priority, the k in {1,3,5} fan-out on the aggregated frame, " +
        "then a bounded (k x priority) aggregate. 100 TB: a billion " +
        "eval samples reduce to per-problem (n, c) counters in one " +
        "pass; the combinatorics never touch row-scale data again.",
      (s, dir) => {
        import s.implicits._
        val t = Tables.t(s, dir, "lineitem")
          .groupBy($"l_orderkey")
          .agg(count(lit(1)).as("n"),
            sum(($"l_returnflag" === "R").cast("long")).as("c"))
          .filter($"n" >= 5L && $"n" <= 20L)
        val pri = Tables.t(s, dir, "orders")
          .select($"o_orderkey", $"o_orderpriority".as("priority"))
        t.join(pri, $"l_orderkey" === $"o_orderkey")
          .select($"priority", explode(typedLit(Seq(1L, 3L, 5L))).as("k"),
            $"n", $"c")
          .withColumn("ppm", expr(
            "CASE WHEN n - c >= k THEN " +
              "((factorial(cast(n as int)) div " +
              "(factorial(cast(k as int)) * " +
              "factorial(cast(n - k as int)))) - " +
              "(factorial(cast(n - c as int)) div " +
              "(factorial(cast(k as int)) * " +
              "factorial(cast(n - c - k as int))))) * 1000000 div " +
              "(factorial(cast(n as int)) div " +
              "(factorial(cast(k as int)) * " +
              "factorial(cast(n - k as int)))) " +
              "ELSE 1000000 END"))
          .groupBy($"k", $"priority")
          .agg(count(lit(1)).as("n_problems"),
            expr("sum(ppm) div count(1)").as("mean_pass_ppm"))
          .orderBy($"k", $"priority")
      },
      Some("""
        WITH t AS (
          SELECT l_orderkey, count(*) AS n,
                 sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS c
          FROM lineitem GROUP BY 1),
        tk AS (
          SELECT o.o_orderpriority AS priority, k.k, t.n, t.c
          FROM t JOIN orders o ON t.l_orderkey = o.o_orderkey
          CROSS JOIN (SELECT unnest([1, 3, 5]) AS k) k
          WHERE t.n >= 5 AND t.n <= 20),
        pp AS (
          SELECT priority, k,
                 CASE WHEN n - c >= k THEN
                   ((factorial(CAST(n AS INTEGER)) //
                     (factorial(CAST(k AS INTEGER)) *
                      factorial(CAST(n - k AS INTEGER)))) -
                    (factorial(CAST(n - c AS INTEGER)) //
                     (factorial(CAST(k AS INTEGER)) *
                      factorial(CAST(n - c - k AS INTEGER))))) * 1000000
                   // (factorial(CAST(n AS INTEGER)) //
                       (factorial(CAST(k AS INTEGER)) *
                        factorial(CAST(n - k AS INTEGER))))
                 ELSE 1000000 END AS ppm
          FROM tk)
        SELECT CAST(k AS BIGINT) AS k, priority,
               CAST(count(*) AS BIGINT) AS n_problems,
               CAST(sum(ppm) // count(*) AS BIGINT) AS mean_pass_ppm
        FROM pp GROUP BY k, priority ORDER BY k, priority""")),

    Q(
      "q420_bradley_terry",
      "BRADLEY-TERRY STRENGTH RANKING from pairwise preferences " +
        "(Bradley & Terry 1952; the chatbot-arena / RLHF-preference " +
        "aggregation model, fit by the Hunter 2004 MM algorithm): " +
        "every order that contains >= 2 brands is a pairwise " +
        "'battle' per brand pair — the brand with the higher " +
        "integer-cents revenue inside that order wins (tie -> the " +
        "lexicographically lower brand, deterministic) — and the MM " +
        "fixed point p_i = W_i / sum_j n_ij/(p_i+p_j) runs EIGHT " +
        "iterations entirely in integer fixed point: ratings in ppm, " +
        "each pair term n_ij*10^12 div (p_i+p_j), re-normalized to " +
        "mean 10^6 per round — sums of integers are order-" +
        "independent, so unlike a float MM the fit is bit-stable on " +
        "any cluster and REPLAYABLE in SQL (the oracle unrolls all 8 " +
        "rounds as chained CTEs in HUGEINT; q369's promoted-" +
        "deterministic-iteration discipline). A +1-win-per-direction " +
        "Laplace prior on every OBSERVED pair keeps the comparison " +
        "graph's MM update defined (a zero-win brand would otherwise " +
        "hit 0/0 — the standard regularization). Plan: one broadcast " +
        "dim join + one (order, brand) aggregate are the only row-" +
        "scale shuffles; the within-order pair fan-out is bounded by " +
        "order width (<= C(7,2) rows per order), the win matrix by " +
        "the 25-brand domain (<= 300 cells, map-side combinable), " +
        "and the MM loop runs on the driver over that bounded " +
        "matrix (the k-means-centroid argument: collected state is " +
        "domain-bounded, never row-scale). 100 TB: a billion " +
        "preference battles reduce to the same 300 counters.",
      (s, dir) => {
        import s.implicits._
        val pt = Tables.t(s, dir, "part")
          .select($"p_partkey", $"p_brand")
        val ob = Tables.t(s, dir, "lineitem")
          .select($"l_orderkey", $"l_partkey",
            expr("cast(round(l_extendedprice * 100) as bigint)").as("c"))
          .join(broadcast(pt), $"l_partkey" === $"p_partkey")
          .groupBy($"l_orderkey", $"p_brand")
          .agg(sum($"c").as("cents"))
        val a = ob.select($"l_orderkey", $"p_brand".as("ba"),
          $"cents".as("ca"))
        val b = ob.select($"l_orderkey", $"p_brand".as("bb"),
          $"cents".as("cb"))
        val mat = a.join(b, Seq("l_orderkey")).filter($"ba" < $"bb")
          .select($"ba", $"bb",
            when($"ca" >= $"cb", 1L).otherwise(0L).as("wa"))
          .groupBy($"ba", $"bb")
          .agg((count(lit(1)) + 2L).as("n"), (sum($"wa") + 1L).as("w"))
          .collect()
          .map(r => (r.getString(0), r.getString(1),
            r.getLong(2), r.getLong(3)))
        // symmetric view: one row per (brand, opponent); w carries the
        // +1 prior per direction, n the +2
        val sym = mat.flatMap { case (i, j, n, w) =>
          Seq((i, j, n, w), (j, i, n, n - w)) }
        val brands = sym.map(_._1).distinct.sorted.toSeq
        val byI = sym.groupBy(_._1)
        val bigW = byI.view.mapValues(rs =>
          BigInt(rs.map(_._4).sum)).toMap
        val wins = byI.view.mapValues(rs =>
          rs.map(_._4).sum - rs.length.toLong).toMap
        val games = byI.view.mapValues(rs =>
          rs.map(_._3 - 2L).sum).toMap
        val T = BigInt("1000000000000")
        val nb = BigInt(brands.size)
        var p: Map[String, BigInt] =
          brands.map(_ -> BigInt(1000000)).toMap
        for (_ <- 1 to 8) {
          val praw = brands.map { i =>
            val si = byI(i).map { case (_, j, n, _) =>
              (BigInt(n) * T) / (p(i) + p(j)) }.sum
            i -> (bigW(i) * T) / si
          }.toMap
          val tot = praw.values.sum
          p = brands.map(i =>
            i -> (praw(i) * nb * BigInt(1000000)) / tot).toMap
        }
        brands.map(i =>
            (i, p(i).toLong, wins(i), games(i)))
          .toDF("brand", "rating_ppm", "wins", "games")
          .orderBy($"rating_ppm".desc, $"brand")
      },
      Some("""
        WITH ob AS MATERIALIZED (
          SELECT l_orderkey AS o, p_brand AS b,
                 sum(CAST(round(l_extendedprice * 100) AS BIGINT))
                   AS cents
          FROM lineitem JOIN part ON l_partkey = p_partkey
          GROUP BY 1, 2),
        pr AS MATERIALIZED (
          SELECT a.b AS ba, c.b AS bb,
                 CASE WHEN a.cents >= c.cents THEN 1 ELSE 0 END AS wa
          FROM ob a JOIN ob c ON a.o = c.o AND a.b < c.b),
        m AS MATERIALIZED (
          SELECT ba, bb, count(*) + 2 AS n, sum(wa) + 1 AS w
          FROM pr GROUP BY 1, 2),
        sym AS MATERIALIZED (
          SELECT ba AS i, bb AS j, n, w FROM m
          UNION ALL
          SELECT bb AS i, ba AS j, n, n - w AS w FROM m),
        wt AS MATERIALIZED (
          SELECT i, CAST(sum(w) AS HUGEINT) AS wi,
                 CAST(sum(w) - count(*) AS BIGINT) AS wins,
                 CAST(sum(n - 2) AS BIGINT) AS games
          FROM sym GROUP BY 1),
        cn AS (SELECT CAST(count(*) AS HUGEINT) AS nb FROM wt),
        p0 AS (SELECT i, CAST(1000000 AS HUGEINT) AS p FROM wt),
        r1 AS MATERIALIZED (
          SELECT sym.i, wt.wi * 1000000000000 //
                 sum(CAST(sym.n AS HUGEINT) * 1000000000000 //
                     (pi.p + pj.p)) AS praw
          FROM sym JOIN p0 pi ON sym.i = pi.i
          JOIN p0 pj ON sym.j = pj.i
          JOIN wt ON wt.i = sym.i
          GROUP BY sym.i, wt.wi),
        p1 AS MATERIALIZED (SELECT i, praw * (SELECT nb FROM cn) * 1000000 //
                      (SELECT sum(praw) FROM r1) AS p FROM r1),
        r2 AS MATERIALIZED (
          SELECT sym.i, wt.wi * 1000000000000 //
                 sum(CAST(sym.n AS HUGEINT) * 1000000000000 //
                     (pi.p + pj.p)) AS praw
          FROM sym JOIN p1 pi ON sym.i = pi.i
          JOIN p1 pj ON sym.j = pj.i
          JOIN wt ON wt.i = sym.i
          GROUP BY sym.i, wt.wi),
        p2 AS MATERIALIZED (SELECT i, praw * (SELECT nb FROM cn) * 1000000 //
                      (SELECT sum(praw) FROM r2) AS p FROM r2),
        r3 AS MATERIALIZED (
          SELECT sym.i, wt.wi * 1000000000000 //
                 sum(CAST(sym.n AS HUGEINT) * 1000000000000 //
                     (pi.p + pj.p)) AS praw
          FROM sym JOIN p2 pi ON sym.i = pi.i
          JOIN p2 pj ON sym.j = pj.i
          JOIN wt ON wt.i = sym.i
          GROUP BY sym.i, wt.wi),
        p3 AS MATERIALIZED (SELECT i, praw * (SELECT nb FROM cn) * 1000000 //
                      (SELECT sum(praw) FROM r3) AS p FROM r3),
        r4 AS MATERIALIZED (
          SELECT sym.i, wt.wi * 1000000000000 //
                 sum(CAST(sym.n AS HUGEINT) * 1000000000000 //
                     (pi.p + pj.p)) AS praw
          FROM sym JOIN p3 pi ON sym.i = pi.i
          JOIN p3 pj ON sym.j = pj.i
          JOIN wt ON wt.i = sym.i
          GROUP BY sym.i, wt.wi),
        p4 AS MATERIALIZED (SELECT i, praw * (SELECT nb FROM cn) * 1000000 //
                      (SELECT sum(praw) FROM r4) AS p FROM r4),
        r5 AS MATERIALIZED (
          SELECT sym.i, wt.wi * 1000000000000 //
                 sum(CAST(sym.n AS HUGEINT) * 1000000000000 //
                     (pi.p + pj.p)) AS praw
          FROM sym JOIN p4 pi ON sym.i = pi.i
          JOIN p4 pj ON sym.j = pj.i
          JOIN wt ON wt.i = sym.i
          GROUP BY sym.i, wt.wi),
        p5 AS MATERIALIZED (SELECT i, praw * (SELECT nb FROM cn) * 1000000 //
                      (SELECT sum(praw) FROM r5) AS p FROM r5),
        r6 AS MATERIALIZED (
          SELECT sym.i, wt.wi * 1000000000000 //
                 sum(CAST(sym.n AS HUGEINT) * 1000000000000 //
                     (pi.p + pj.p)) AS praw
          FROM sym JOIN p5 pi ON sym.i = pi.i
          JOIN p5 pj ON sym.j = pj.i
          JOIN wt ON wt.i = sym.i
          GROUP BY sym.i, wt.wi),
        p6 AS MATERIALIZED (SELECT i, praw * (SELECT nb FROM cn) * 1000000 //
                      (SELECT sum(praw) FROM r6) AS p FROM r6),
        r7 AS MATERIALIZED (
          SELECT sym.i, wt.wi * 1000000000000 //
                 sum(CAST(sym.n AS HUGEINT) * 1000000000000 //
                     (pi.p + pj.p)) AS praw
          FROM sym JOIN p6 pi ON sym.i = pi.i
          JOIN p6 pj ON sym.j = pj.i
          JOIN wt ON wt.i = sym.i
          GROUP BY sym.i, wt.wi),
        p7 AS MATERIALIZED (SELECT i, praw * (SELECT nb FROM cn) * 1000000 //
                      (SELECT sum(praw) FROM r7) AS p FROM r7),
        r8 AS MATERIALIZED (
          SELECT sym.i, wt.wi * 1000000000000 //
                 sum(CAST(sym.n AS HUGEINT) * 1000000000000 //
                     (pi.p + pj.p)) AS praw
          FROM sym JOIN p7 pi ON sym.i = pi.i
          JOIN p7 pj ON sym.j = pj.i
          JOIN wt ON wt.i = sym.i
          GROUP BY sym.i, wt.wi),
        p8 AS MATERIALIZED (SELECT i, praw * (SELECT nb FROM cn) * 1000000 //
                      (SELECT sum(praw) FROM r8) AS p FROM r8)
        SELECT wt.i AS brand, CAST(p8.p AS BIGINT) AS rating_ppm,
               wt.wins, wt.games
        FROM p8 JOIN wt ON p8.i = wt.i
        ORDER BY rating_ppm DESC, brand""")),

    Q(
      "q421_fleiss_kappa",
      "FLEISS' KAPPA (Fleiss 1971) — multi-rater chance-corrected " +
        "agreement, completing the annotator-QA ladder: q318 Cohen is " +
        "exactly-2-raters, q397 Krippendorff handles missing labels; " +
        "Fleiss is the fixed-panel m-raters form every labeling " +
        "campaign with 3+ annotators reports. Three deterministic " +
        "raters each assign one of 3 categories to every document " +
        "(rater A: n_chars bands at the corpus tertiles 216/372; " +
        "rater B: whitespace-token-count bands at 39/68; rater C: " +
        "mean-token-length deci-chars bands at 54/56 — integer div, " +
        "no floats). Per item the category histogram (n0,n1,n2) with " +
        "n0+n1+n2 = m = 3; P_i = (sum n_j^2 - m)/(m(m-1)); " +
        "kappa = (P - Pe)/(1 - Pe) cleared of every division into " +
        "ONE sign-extracted integer div: num = (SS - N*m)*(N*m)^2 - " +
        "N*m*(m-1)*sum(C_j^2), den = N*m*(m-1)*((N*m)^2 - " +
        "sum(C_j^2)), both in DECIMAL(38,0)/HUGEINT (SS*(Nm)^2 " +
        "passes int64 near N ~ 10^5 — wide from the start, the " +
        "q407 lesson). Plan: one row-scale projection computes all " +
        "three labels in the same codegen'd pass (no explode — " +
        "token count via size(filter(split))), one aggregate to six " +
        "counters, O(1) arithmetic after. 100 TB: a billion labeled " +
        "docs reduce to (N, SS, C0, C1, C2).",
      (s, dir) => {
        import s.implicits._
        val tk = size(filter(split(trim($"text"), " "),
          x => x =!= lit("")))
        val labeled = Tables.t(s, dir, "documents")
          .select($"n_chars", tk.cast("long").as("tk"))
          .select(
            when($"n_chars" < 216, 0L).when($"n_chars" < 372, 1L)
              .otherwise(2L).as("ra"),
            when($"tk" < 39L, 0L).when($"tk" < 68L, 1L).otherwise(2L)
              .as("rb"),
            expr("(n_chars * 10) div greatest(tk, 1)").as("avl"))
          .withColumn("rc",
            when($"avl" < 54L, 0L).when($"avl" < 56L, 1L).otherwise(2L))
        val perItem = labeled.select(
          (($"ra" === 0L).cast("long") + ($"rb" === 0L).cast("long") +
            ($"rc" === 0L).cast("long")).as("n0"),
          (($"ra" === 1L).cast("long") + ($"rb" === 1L).cast("long") +
            ($"rc" === 1L).cast("long")).as("n1"),
          (($"ra" === 2L).cast("long") + ($"rb" === 2L).cast("long") +
            ($"rc" === 2L).cast("long")).as("n2"))
        perItem.agg(
            count(lit(1)).as("n_items"),
            sum($"n0" * $"n0" + $"n1" * $"n1" + $"n2" * $"n2").as("ss"),
            sum($"n0").as("c0"), sum($"n1").as("c1"), sum($"n2").as("c2"))
          .select($"n_items", $"ss", $"c0", $"c1", $"c2",
            expr("(ss - n_items * 3) * 1000000 div (n_items * 6)")
              .as("pbar_ppm"),
            expr("cast((cast(c0 as decimal(38,0))*c0 + " +
              "cast(c1 as decimal(38,0))*c1 + " +
              "cast(c2 as decimal(38,0))*c2) * 1000000 div " +
              "(cast(n_items as decimal(38,0)) * 3 * n_items * 3) " +
              "as bigint)").as("pe_ppm"),
            expr("CASE WHEN (cast(ss - n_items * 3 as decimal(38,0))) * " +
              "(n_items * 3) * (n_items * 3) - " +
              "cast(n_items as decimal(38,0)) * 6 * " +
              "(cast(c0 as decimal(38,0))*c0 + cast(c1 as decimal(38,0))*c1 + cast(c2 as decimal(38,0))*c2) >= 0 THEN 1 ELSE -1 END * " +
              "cast(abs((cast(ss - n_items * 3 as decimal(38,0))) * " +
              "(n_items * 3) * (n_items * 3) - " +
              "cast(n_items as decimal(38,0)) * 6 * " +
              "(cast(c0 as decimal(38,0))*c0 + cast(c1 as decimal(38,0))*c1 + cast(c2 as decimal(38,0))*c2)) * 1000000 div " +
              "(cast(n_items as decimal(38,0)) * 6 * " +
              "(cast(n_items as decimal(38,0)) * 3 * n_items * 3 - " +
              "(cast(c0 as decimal(38,0))*c0 + cast(c1 as decimal(38,0))*c1 + cast(c2 as decimal(38,0))*c2))) as bigint)").as("kappa_ppm"))
      },
      Some("""
        WITH lab AS (
          SELECT CASE WHEN n_chars < 216 THEN 0
                      WHEN n_chars < 372 THEN 1 ELSE 2 END AS ra,
                 CASE WHEN tk < 39 THEN 0
                      WHEN tk < 68 THEN 1 ELSE 2 END AS rb,
                 CASE WHEN (n_chars * 10) // greatest(tk, 1) < 54 THEN 0
                      WHEN (n_chars * 10) // greatest(tk, 1) < 56 THEN 1
                      ELSE 2 END AS rc
          FROM (SELECT n_chars,
                  len(list_filter(string_split(trim(text), ' '),
                    x -> x <> '')) AS tk
                FROM documents)),
        pi AS (
          SELECT (CASE WHEN ra = 0 THEN 1 ELSE 0 END +
                  CASE WHEN rb = 0 THEN 1 ELSE 0 END +
                  CASE WHEN rc = 0 THEN 1 ELSE 0 END) AS n0,
                 (CASE WHEN ra = 1 THEN 1 ELSE 0 END +
                  CASE WHEN rb = 1 THEN 1 ELSE 0 END +
                  CASE WHEN rc = 1 THEN 1 ELSE 0 END) AS n1,
                 (CASE WHEN ra = 2 THEN 1 ELSE 0 END +
                  CASE WHEN rb = 2 THEN 1 ELSE 0 END +
                  CASE WHEN rc = 2 THEN 1 ELSE 0 END) AS n2
          FROM lab),
        agg AS (
          SELECT count(*) AS n_items,
                 sum(n0*n0 + n1*n1 + n2*n2) AS ss,
                 sum(n0) AS c0, sum(n1) AS c1, sum(n2) AS c2
          FROM pi)
        SELECT CAST(n_items AS BIGINT) AS n_items,
               CAST(ss AS BIGINT) AS ss,
               CAST(c0 AS BIGINT) AS c0, CAST(c1 AS BIGINT) AS c1,
               CAST(c2 AS BIGINT) AS c2,
               CAST((ss - n_items * 3) * 1000000 // (n_items * 6)
                 AS BIGINT) AS pbar_ppm,
               CAST((CAST(c0 AS HUGEINT)*c0 + CAST(c1 AS HUGEINT)*c1 +
                 CAST(c2 AS HUGEINT)*c2) * 1000000 //
                 (CAST(n_items AS HUGEINT) * 3 * n_items * 3)
                 AS BIGINT) AS pe_ppm,
               CAST((CASE WHEN CAST(ss - n_items * 3 AS HUGEINT) *
                 (n_items * 3) * (n_items * 3) -
                 CAST(n_items AS HUGEINT) * 6 *
                 (CAST(c0 AS HUGEINT)*c0 + CAST(c1 AS HUGEINT)*c1 + CAST(c2 AS HUGEINT)*c2) >= 0 THEN 1 ELSE -1 END) *
                 (abs(CAST(ss - n_items * 3 AS HUGEINT) *
                 (n_items * 3) * (n_items * 3) -
                 CAST(n_items AS HUGEINT) * 6 *
                 (CAST(c0 AS HUGEINT)*c0 + CAST(c1 AS HUGEINT)*c1 + CAST(c2 AS HUGEINT)*c2)) * 1000000 //
                 (CAST(n_items AS HUGEINT) * 6 *
                 (CAST(n_items AS HUGEINT) * 3 * n_items * 3 -
                 (CAST(c0 AS HUGEINT)*c0 + CAST(c1 AS HUGEINT)*c1 + CAST(c2 AS HUGEINT)*c2)))) AS BIGINT) AS kappa_ppm
        FROM agg""")),

    Q(
      "q422_delong_auc_variance",
      "DeLONG AUC VARIANCE + SIGNIFICANCE (DeLong, DeLong & " +
        "Clarke-Pearson 1988) — q267 emits the exact tie-corrected " +
        "AUC point estimate; a metrics platform also owes the ERROR " +
        "BAR, and DeLong's placement-value variance is the standard " +
        "one. The trick that keeps it exact: per score group the " +
        "doubled placements v2 = 2*cum_neg_below + neg_eq (positives " +
        "vs negatives) and u2 = 2*cum_pos_below + pos_eq share " +
        "denominators with AUC = W/(2mn), so in z^2 = " +
        "(AUC - 1/2)^2 / (S10/m + S01/n) EVERY (2mn)^2 CANCELS and " +
        "z^2 = (W - mn)^2 * m(m-1)n(n-1) / (SP*n(n-1) + SN*m(m-1)) " +
        "with SP = sum_g pos_g*(v2_g*m - W)^2, SN = sum_g " +
        "neg_g*(u2_g*n - W)^2 — a PURE INTEGER rational, emitted as " +
        "one DECIMAL(38,0)-cleared floor at milli scale plus the " +
        "exact cross-multiplied 5%% decision vs 3.841459 (the q401 " +
        "discipline; a float DeLong drifts with summation order). " +
        "The fixture's independence makes this the negative control: " +
        "AUC ~ chance and the test must NOT reject. var_e12 is the " +
        "variance itself at e-12 scale, decimal-internal. Plan: " +
        "identical row-scale legs to q267 (two user-keyed semi-joins, " +
        "4-row broadcast score join); ALL DeLong algebra runs on the " +
        "<=4-row score-group domain. 100 TB: a billion eval rows " +
        "reduce to (pos, neg) per score group; the variance costs " +
        "nothing after.",
      (s, dir) => {
        import s.implicits._
        val ev = Tables.t(s, dir, "events")
          .select($"user_id", $"event_type", $"event_id", $"ts",
            unix_micros($"ts".cast("timestamp")).as("us"),
            expr("cast(get_json_object(props, '$.k') as bigint) div 25")
              .as("ch"))
        val clicks = ev.filter($"event_type" === "click")
        val purch = ev.filter($"event_type" === "purchase")
          .select($"user_id".as("p_user"), $"us".as("p_us"))
        def labeled(cl: org.apache.spark.sql.DataFrame) = {
          val conv = cl.join(purch,
            $"user_id" === $"p_user" && $"p_us" > $"us" &&
              $"p_us" - $"us" <= 86400000000L, "left_semi")
          cl.join(conv.select($"event_id".as("cid")),
              $"event_id" === $"cid", "left")
            .select($"ch", when($"cid".isNotNull, 1L).otherwise(0L).as("y"))
        }
        val split = "timestamp'2024-01-16 00:00:00'"
        val rates = labeled(clicks.filter(expr(s"ts < $split")))
          .groupBy($"ch")
          .agg(expr("(sum(y) * 1000000) div count(1)").as("score_ppm"))
        val eval0 = labeled(clicks.filter(expr(s"ts >= $split")))
          .join(broadcast(rates), Seq("ch"))
          .groupBy($"score_ppm")
          .agg(sum($"y").as("pos"), sum(lit(1L) - $"y").as("neg"))
        val w = Window.orderBy($"score_ppm") // <=4-row score domain
        val g = eval0
          .withColumn("cnb", coalesce(sum($"neg").over(
            w.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
          .withColumn("cpb", coalesce(sum($"pos").over(
            w.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
          .withColumn("v2", lit(2L) * $"cnb" + $"neg")
          .withColumn("u2", lit(2L) * $"cpb" + $"pos")
        val tot = g.agg(sum($"pos").as("m"), sum($"neg").as("n"),
          sum($"pos" * $"v2").as("wd"))
        g.crossJoin(broadcast(tot))
          .agg(
            first($"m").as("n_pos"), first($"n").as("n_neg"),
            first($"wd").as("auc_num"),
            sum(expr("cast(pos as decimal(38,0)) * " +
              "(cast(v2 as decimal(38,0)) * m - wd) * " +
              "(cast(v2 as decimal(38,0)) * m - wd)")).as("sp"),
            sum(expr("cast(neg as decimal(38,0)) * " +
              "(cast(u2 as decimal(38,0)) * n - wd) * " +
              "(cast(u2 as decimal(38,0)) * n - wd)")).as("sn"))
          .select($"n_pos", $"n_neg", $"auc_num",
            (lit(2L) * $"n_pos" * $"n_neg").as("auc_den"),
            expr("cast(cast(auc_num as decimal(38,0)) * 10000 div " +
              "(cast(2 as decimal(38,0)) * n_pos * n_neg) as bigint)")
              .as("auc_bp"),
            $"sp", $"sn")
          .select($"n_pos", $"n_neg", $"auc_num", $"auc_den", $"auc_bp",
            // var split as sp/(4m^3(m-1)n^2) + sn/(4m^2n^3(n-1)) — the
            // single-fraction form's numerator grows ~m^3*n^4*10^12 and
            // bursts DECIMAL(38,0)/HUGEINT once per-class counts reach
            // a few thousand; cancelling the cross factor before the
            // scale keeps each numerator at ~m^3*n^2*10^12, safe to
            // ~1e5 rows per class (the two floors differ from the
            // joint floor by at most 1e-12 — both engines replay the
            // same split)
            expr("cast(sp * 1000000000000 div " +
              "(cast(4 as decimal(38,0)) * n_pos * n_pos * n_pos * " +
              "(n_pos - 1) * n_neg * n_neg) + " +
              "sn * 1000000000000 div " +
              "(cast(4 as decimal(38,0)) * n_pos * n_pos * n_neg * " +
              "n_neg * n_neg * (n_neg - 1)) as bigint)").as("var_e12"),
            expr("cast(case when sp * n_neg * (n_neg - 1) + " +
              "sn * n_pos * (n_pos - 1) = 0 then null else " +
              "(cast(auc_num as decimal(38,0)) - n_pos * n_neg) * " +
              "(cast(auc_num as decimal(38,0)) - n_pos * n_neg) * " +
              "n_pos * (n_pos - 1) * n_neg * (n_neg - 1) * 1000 div " +
              "(sp * n_neg * (n_neg - 1) + sn * n_pos * (n_pos - 1)) " +
              "end as bigint)").as("z2_milli"),
            expr("cast(case when sp * n_neg * (n_neg - 1) + " +
              "sn * n_pos * (n_pos - 1) = 0 then 0 when " +
              "(cast(auc_num as decimal(38,0)) - n_pos * n_neg) * " +
              "(cast(auc_num as decimal(38,0)) - n_pos * n_neg) * " +
              "n_pos * (n_pos - 1) * n_neg * (n_neg - 1) * 1000000 > " +
              "3841459 * (sp * n_neg * (n_neg - 1) + " +
              "sn * n_pos * (n_pos - 1)) then 1 else 0 end as bigint)")
              .as("significant_5pct"))
      },
      Some("""
        WITH e AS (
          SELECT user_id, event_type, event_id, ts,
                 epoch_us(CAST(ts AS TIMESTAMP)) AS us,
                 CAST(json_extract(props, 'k') AS BIGINT) // 25 AS ch
          FROM events),
        p AS (SELECT user_id, us FROM e WHERE event_type = 'purchase'),
        lab AS (
          SELECT c.ts, c.ch,
                 CASE WHEN EXISTS (SELECT 1 FROM p
                                   WHERE p.user_id = c.user_id
                                     AND p.us > c.us
                                     AND p.us - c.us <= 86400000000)
                      THEN 1 ELSE 0 END AS y
          FROM e c WHERE c.event_type = 'click'),
        rates AS (
          SELECT ch, (sum(y) * 1000000) // count(*) AS score_ppm
          FROM lab WHERE ts < TIMESTAMP '2024-01-16 00:00:00' GROUP BY ch),
        ev AS (
          SELECT r.score_ppm,
                 CAST(sum(y) AS BIGINT) AS pos,
                 CAST(sum(1 - y) AS BIGINT) AS neg
          FROM lab l JOIN rates r USING (ch)
          WHERE l.ts >= TIMESTAMP '2024-01-16 00:00:00'
          GROUP BY r.score_ppm),
        ranked AS (
          SELECT pos, neg,
                 coalesce(sum(neg) OVER (ORDER BY score_ppm
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   AS cnb,
                 coalesce(sum(pos) OVER (ORDER BY score_ppm
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   AS cpb
          FROM ev),
        gg AS (
          SELECT pos, neg, 2 * cnb + neg AS v2, 2 * cpb + pos AS u2
          FROM ranked),
        tot AS (
          SELECT CAST(sum(pos) AS BIGINT) AS m,
                 CAST(sum(neg) AS BIGINT) AS n,
                 CAST(sum(pos * (2 * cnb + neg)) AS BIGINT) AS wd
          FROM ranked),
        comp AS (
          SELECT max(m) AS m, max(n) AS n, max(wd) AS wd,
                 sum(CAST(pos AS HUGEINT) *
                     (CAST(v2 AS HUGEINT) * m - wd) *
                     (CAST(v2 AS HUGEINT) * m - wd)) AS sp,
                 sum(CAST(neg AS HUGEINT) *
                     (CAST(u2 AS HUGEINT) * n - wd) *
                     (CAST(u2 AS HUGEINT) * n - wd)) AS sn
          FROM gg CROSS JOIN tot)
        SELECT m AS n_pos, n AS n_neg, wd AS auc_num,
               2 * m * n AS auc_den,
               CAST(CAST(wd AS HUGEINT) * 10000 //
                 (CAST(2 AS HUGEINT) * m * n) AS BIGINT) AS auc_bp,
               CAST(sp * 1000000000000
                 // (CAST(4 AS HUGEINT) * m * m * m * (m - 1) * n * n)
                 + sn * 1000000000000
                 // (CAST(4 AS HUGEINT) * m * m * n * n * n * (n - 1))
                 AS BIGINT) AS var_e12,
               CAST(CASE WHEN sp * n * (n - 1) + sn * m * (m - 1) = 0
                 THEN NULL ELSE
                 (CAST(wd AS HUGEINT) - m * n) *
                 (CAST(wd AS HUGEINT) - m * n) *
                 m * (m - 1) * n * (n - 1) * 1000
                 // (sp * n * (n - 1) + sn * m * (m - 1))
                 END AS BIGINT) AS z2_milli,
               CAST(CASE WHEN sp * n * (n - 1) + sn * m * (m - 1) = 0
                 THEN 0 WHEN
                 (CAST(wd AS HUGEINT) - m * n) *
                 (CAST(wd AS HUGEINT) - m * n) *
                 m * (m - 1) * n * (n - 1) * 1000000 >
                 3841459 * (sp * n * (n - 1) + sn * m * (m - 1))
                 THEN 1 ELSE 0 END AS BIGINT) AS significant_5pct
        FROM comp""")),

    Q(
      "q423_bloom_manifest_skipping",
      "PER-FILE BLOOM-FILTER MANIFEST for POINT LOOKUPS — the hash " +
        "complement of the q417 zone-map story: min/max statistics " +
        "prune RANGE probes on sorted layouts, but a point lookup on " +
        "an UNSORTED high-cardinality key (every file's min/max " +
        "spans the domain) reads every file without a hash index — " +
        "exactly why Parquet added column bloom filters. The engine " +
        "shards the order-key corpus through its own writer " +
        "(TrainingShards, q417's layout contract), then builds a " +
        "CONSTANT-SIZE manifest: per physical file, two 4093-bit " +
        "bitmaps (the native bitmap_set_agg) over two independent " +
        "integer mixers of the key — k=2, m=4093, ~512 B per file " +
        "REGARDLESS of row count. A probe reads a file only if BOTH " +
        "its bit positions are set; present keys are found in " +
        "exactly their one home file, absent keys are rejected by " +
        "the manifest alone with the measured false-positive files " +
        "counted per probe. The ORACLE replays the decision " +
        "procedure end to end in SQL (writer rank contract + the " +
        "same mixers + bit-membership as h-set semi-joins — a " +
        "bitmap of distinct h values passes iff h(probe) is in the " +
        "file's h-set), so a writer, mixer, or bitmap regression " +
        "flips real file counts driver-red. Plan: manifest build is " +
        "ONE input_file_name group-by (map-side partials into " +
        "512-byte bitmaps); the probe check runs on FILE-METADATA " +
        "grain (a row per file, the q268 class). 100 TB: the " +
        "manifest for a million files is ~1 GB — a broadcast — and " +
        "a takedown/point-audit touches only passing files instead " +
        "of the fleet.",
      (s, dir) => {
        import s.implicits._
        import graft.catalyst.BitmapAgg.bitmap_agg
        val keys = Tables.t(s, dir, "orders")
          .select($"o_orderkey".as("doc_id"))
        val root = graft.TempRoots
          .freshForDir("graft_bloomman", dir).toString
        graft.sink.TrainingShards.write(keys, root, "seed42", 4,
          maxRecordsPerFile = 250L)
        val files = s.read.parquet(root)
          .select($"doc_id".as("key"), input_file_name().as("f"))
        // the mixers are THE shared constants (BloomManifest.h1/h2) —
        // q430's incremental store must bit-equal this one-shot build,
        // so there is exactly one definition to retune
        import graft.sink.BloomManifest.{h1, h2}
        // one row per physical file: two 512-byte bloom bitmaps
        val man = files.groupBy($"f")
          .agg(bitmap_agg(h1($"key")).as("b1"),
            bitmap_agg(h2($"key")).as("b2"))
          .collect()
          .map(r => (java.util.BitSet.valueOf(r.getAs[Array[Byte]]("b1")),
            java.util.BitSet.valueOf(r.getAs[Array[Byte]]("b2"))))
        val maxKey = keys.agg(max($"doc_id")).head().getLong(0)
        val present = keys.filter($"doc_id" % 12500L === 7L)
          .select($"doc_id").as[Long].collect().sorted
        val probes = present.map((_, 1L)) ++
          Seq(maxKey + 1L, maxKey + 2L, maxKey + 3L).map((_, 0L))
        // true containment per probe, computed distributed
        val probeDf = probes.map(_._1).toSeq.toDF("key")
        val containing = files.join(broadcast(probeDf), Seq("key"))
          .groupBy($"key").agg(countDistinct($"f").as("nc"))
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        val nFiles = man.length.toLong
        probes.toSeq.map { case (k, pres) =>
          val i1 = graft.sink.BloomManifest.h1Long(k)
          val i2 = graft.sink.BloomManifest.h2Long(k)
          val pass = man.count { case (b1, b2) =>
            b1.get(i1) && b2.get(i2) }.toLong
          val cont = containing.getOrElse(k, 0L)
          (k, pres, nFiles, pass, cont, pass - cont)
        }.toDF("key", "present", "n_files", "files_bloom_pass",
            "files_containing", "false_pos")
          .orderBy($"key")
      },
      Some("""
        WITH r AS (
          SELECT o_orderkey AS key,
                 row_number() OVER (ORDER BY
                   md5('seed42:' || CAST(o_orderkey AS VARCHAR)),
                   o_orderkey) - 1 AS rk
          FROM orders),
        fi AS MATERIALIZED (
          SELECT key, CAST(rk % 4 AS INTEGER) AS shard,
                 (row_number() OVER (PARTITION BY rk % 4 ORDER BY rk)
                   - 1) // 250 AS fidx,
                 (CAST(key AS HUGEINT) * 2654435761) % 4093 AS h1,
                 (CAST(key AS HUGEINT) * 1327217885) % 4093 AS h2
          FROM r),
        nf AS (SELECT CAST(count(*) AS BIGINT) AS n_files
               FROM (SELECT DISTINCT shard, fidx FROM fi)),
        probes AS (
          SELECT key, CAST(1 AS BIGINT) AS present FROM fi
          WHERE key % 12500 = 7
          UNION ALL
          SELECT mx + i, CAST(0 AS BIGINT)
          FROM (SELECT max(key) AS mx FROM fi)
          CROSS JOIN (SELECT unnest([1, 2, 3]) AS i)),
        ph AS (
          SELECT key, present,
                 (CAST(key AS HUGEINT) * 2654435761) % 4093 AS h1,
                 (CAST(key AS HUGEINT) * 1327217885) % 4093 AS h2
          FROM probes),
        f1 AS (SELECT DISTINCT shard, fidx, h1 FROM fi),
        f2 AS (SELECT DISTINCT shard, fidx, h2 FROM fi),
        pass AS (
          SELECT ph.key, a.shard, a.fidx
          FROM ph JOIN f1 a ON a.h1 = ph.h1
          JOIN f2 b ON b.shard = a.shard AND b.fidx = a.fidx
            AND b.h2 = ph.h2
          GROUP BY 1, 2, 3),
        pc AS (
          SELECT ph.key, CAST(count(pass.shard) AS BIGINT) AS np
          FROM ph LEFT JOIN pass ON pass.key = ph.key
          GROUP BY ph.key),
        ct AS (
          SELECT ph.key, CAST(count(*) AS BIGINT) AS nc
          FROM ph JOIN fi ON fi.key = ph.key
          GROUP BY ph.key)
        SELECT ph.key, ph.present, nf.n_files,
               pc.np AS files_bloom_pass,
               coalesce(ct.nc, 0) AS files_containing,
               pc.np - coalesce(ct.nc, 0) AS false_pos
        FROM ph CROSS JOIN nf
        JOIN pc ON pc.key = ph.key
        LEFT JOIN ct ON ct.key = ph.key
        ORDER BY ph.key""")),

    Q(
      "q424_snapshot_time_travel",
      "SNAPSHOT TIME TRAVEL on the shard store — the lakehouse commit " +
        "protocol in its smallest honest form (data first, ONE " +
        "manifest row second; readers resolve snapshots from the " +
        "manifest ALONE), the provenance property a training pipeline " +
        "actually needs: re-run an eval against the EXACT corpus a " +
        "model saw, after later snapshots rewrote it. The engine " +
        "commits v1 (the 70%% slice), then v2 (a correction: the " +
        "%%10=3 tranche RETRACTED, the late %%10>=7 tranche added), " +
        "then simulates the crash window by writing v3's DATA without " +
        "its manifest row. Graded: the latest-resolved read returns " +
        "v2 (the orphan is invisible — version resolution is manifest-" +
        "gated, not directory-listing-gated), and the PINNED v1 read " +
        "still returns v1's exact rows after both later writes — " +
        "n_rows and integer-cents totals of both snapshots recomputed " +
        "independently by the oracle from the slice definitions. " +
        "orphan_data_exists vs latest_version is the crash-safety " +
        "pair: the directory IS on disk, no reader can see it. " +
        "100 TB: a snapshot commit is one manifest-row append; " +
        "resolution is a metadata read (rows per VERSION, not per " +
        "file); pinning costs nothing because old data is immutable.",
      (s, dir) => {
        import s.implicits._
        val o = Tables.t(s, dir, "orders")
          .select($"o_orderkey".as("doc_id"),
            expr("cast(round(o_totalprice * 100) as bigint)").as("cents"))
        val root = graft.TempRoots
          .freshForDir("graft_snapshots", dir).toString
        val v1 = graft.sink.TrainingShards.writeVersion(
          o.filter($"doc_id" % 10 < 7), root, "seed42", 4)
        val v2 = graft.sink.TrainingShards.writeVersion(
          o.filter($"doc_id" % 10 =!= 3), root, "seed42", 4)
        // the crash window: v3's data lands, its manifest row does not
        graft.sink.TrainingShards.writeVersion(
          o.filter($"doc_id" % 10 === 0), root, "seed42", 4,
          commit = false)
        val orphanOnDisk = graft.sink.Fs.exists(s, s"$root/v=3")
        val latest = graft.sink.TrainingShards.readVersion(s, root)
        val pinned = graft.sink.TrainingShards
          .readVersion(s, root, Some(v1))
        def stats(df: org.apache.spark.sql.DataFrame, label: String,
            version: Int) =
          df.agg(count(lit(1)).as("n_rows"), sum($"cents").as("sum_cents"))
            .select(lit(label).as("snapshot"),
              lit(version.toLong).as("version"),
              $"n_rows", $"sum_cents",
              lit(orphanOnDisk).as("orphan_data_exists"),
              lit(graft.sink.TrainingShards
                .committedVersions(s, root).last == v2)
                .as("orphan_invisible"))
        stats(latest, "latest_after_crash", v2)
          .unionAll(stats(pinned, "pinned_v1", v1))
          .orderBy($"snapshot")
      },
      Some("""
        WITH o AS (
          SELECT o_orderkey AS k,
                 CAST(round(o_totalprice * 100) AS BIGINT) AS c
          FROM orders),
        v2 AS (
          SELECT CAST(count(*) AS BIGINT) AS n,
                 CAST(sum(c) AS BIGINT) AS sc
          FROM o WHERE k % 10 <> 3),
        v1 AS (
          SELECT CAST(count(*) AS BIGINT) AS n,
                 CAST(sum(c) AS BIGINT) AS sc
          FROM o WHERE k % 10 < 7)
        SELECT 'latest_after_crash' AS snapshot,
               CAST(2 AS BIGINT) AS version, n AS n_rows,
               sc AS sum_cents, true AS orphan_data_exists,
               true AS orphan_invisible
        FROM v2
        UNION ALL
        SELECT 'pinned_v1', CAST(1 AS BIGINT), n, sc, true, true
        FROM v1
        ORDER BY snapshot""")),

    Q(
      "q427_snapshot_concurrent_mint",
      "CONCURRENT SNAPSHOT MINT — the multi-writer edge q424's " +
        "single-writer protocol left sharp: two writers that read the " +
        "same manifest state both resolve 'next version = N' and, " +
        "under a read-then-append mint, overwrite each other's data " +
        "and interleave duplicate manifest rows. The hardened mint " +
        "makes BOTH slots one-winner rename claims (Fs.claim): each " +
        "writer stages its shards privately, then claims v=N by " +
        "rename-if-absent; the loser advances to v=N+1 by renaming " +
        "the SAME staged bytes — no rewrite, no torn directory, and " +
        "the commit row claim after a won data claim cannot lose. The " +
        "query RACES two real writer threads through the worst-case " +
        "interleave (a barrier between each thread's staged build and " +
        "its first claim attempt guarantees both resolve the same " +
        "next version before either claims) and grades: no shared " +
        "version, manifest = exactly {1,2,3}, each writer's returned " +
        "version holds exactly its own rows (count + cents total + " +
        "order-independent hash fingerprint), and the base snapshot " +
        "is untouched — per-slice rows and totals recomputed " +
        "independently by the oracle; which THREAD got which version " +
        "is scheduling-dependent and deliberately absent from the " +
        "output. 100 TB: a claim is one metadata rename regardless of " +
        "snapshot size, so writer concurrency costs nothing data-" +
        "proportional; on HDFS the rename is NameNode-atomic (object " +
        "stores need their own committer, as every lakehouse " +
        "documents).",
      (s, dir) => {
        import graft.sink.TrainingShards
        import s.implicits._
        val o = Tables.t(s, dir, "orders")
          .select($"o_orderkey".as("doc_id"),
            expr("cast(round(o_totalprice * 100) as bigint)").as("cents"))
        val root = graft.TempRoots
          .freshForDir("graft_snapmint", dir).toString
        val base = o.filter($"doc_id" % 10 === 0)
        val a = o.filter($"doc_id" % 2 === 0 && $"doc_id" % 10 =!= 0)
        val b = o.filter($"doc_id" % 2 === 1)
        def fp(df: org.apache.spark.sql.DataFrame): Seq[Any] = df
          .agg(count(lit(1)), sum($"cents"),
            sum(xxhash64($"doc_id", $"cents").cast("decimal(38,0)")))
          .head().toSeq
        val (fpBase, fpA, fpB) = (fp(base), fp(a), fp(b))
        TrainingShards.writeVersion(base, root, "seed42", 2)
        // the worst-case interleave: BOTH writers finish their staged
        // builds and resolve the same next version before either
        // claims (the timed fallback only loosens the barrier if a
        // writer died — grading still holds, the race is just softer)
        val gate = new java.util.concurrent.CountDownLatch(2)
        val hook: () => Unit = () => {
          gate.countDown()
          gate.await(120, java.util.concurrent.TimeUnit.SECONDS): Unit
        }
        val minted = new Array[Int](2)
        val ta = new Thread(() => minted(0) = TrainingShards
          .writeVersion(a, root, "seed42", 2, preClaim = hook))
        val tb = new Thread(() => minted(1) = TrainingShards
          .writeVersion(b, root, "seed42", 2, preClaim = hook))
        ta.start(); tb.start(); ta.join(); tb.join()
        val Array(va, vb) = minted
        def snap(v: Int) = TrainingShards.readVersion(s, root, Some(v))
        val noShared = va != vb
        val mintedSet = Set(va, vb) == Set(2, 3) &&
          TrainingShards.committedVersions(s, root) == Seq(1, 2, 3)
        val ownBytes = fp(snap(va)) == fpA && fp(snap(vb)) == fpB &&
          fp(snap(1)) == fpBase
        def stats(df: org.apache.spark.sql.DataFrame, label: String) =
          df.agg(count(lit(1)).as("n_rows"), sum($"cents").as("sum_cents"))
            .select(lit(label).as("writer"), $"n_rows", $"sum_cents",
              lit(noShared).as("no_shared_version"),
              lit(mintedSet).as("minted_exactly_2_and_3"),
              lit(ownBytes).as("each_writer_reads_own_rows"))
        stats(snap(1), "base")
          .unionAll(stats(snap(va), "writer_a"))
          .unionAll(stats(snap(vb), "writer_b"))
          .orderBy($"writer")
      },
      Some("""
        WITH o AS (
          SELECT o_orderkey AS k,
                 CAST(round(o_totalprice * 100) AS BIGINT) AS c
          FROM orders)
        SELECT 'base' AS writer, CAST(count(*) AS BIGINT) AS n_rows,
               CAST(sum(c) AS BIGINT) AS sum_cents,
               true AS no_shared_version,
               true AS minted_exactly_2_and_3,
               true AS each_writer_reads_own_rows
        FROM o WHERE k % 10 = 0
        UNION ALL
        SELECT 'writer_a', CAST(count(*) AS BIGINT),
               CAST(sum(c) AS BIGINT), true, true, true
        FROM o WHERE k % 2 = 0 AND k % 10 <> 0
        UNION ALL
        SELECT 'writer_b', CAST(count(*) AS BIGINT),
               CAST(sum(c) AS BIGINT), true, true, true
        FROM o WHERE k % 2 = 1
        ORDER BY writer""")),

    Q(
      "q428_snapshot_retention_gc",
      "SNAPSHOT RETENTION + ORPHAN VACUUM — the half of the lakehouse " +
        "contract q424 deferred: without expiry, versions accumulate " +
        "forever and a crashed writer's claimed-but-uncommitted " +
        "directory leaks unbounded. expireVersions(keep=N) retires " +
        "all but the newest N committed versions — per version the " +
        "MANIFEST row is deleted FIRST, then the data directory, so a " +
        "crash mid-expire can leave an invisible orphan (healed by " +
        "the next vacuum) but NEVER a committed version whose bytes " +
        "are gone — then vacuums orphan data dirs BELOW the newest " +
        "commit (a claim below the newest commit can never commit " +
        "again, so it is provably garbage; an orphan above it may be " +
        "an in-flight writer between its two claims and is spared). " +
        "The query builds the full degraded state: v1,v2 committed, a " +
        "crashed writer's orphan occupying v=3, v4 minted OVER the " +
        "orphan (the claim loop skips it — a dead writer never blocks " +
        "the store), v5 committed, then a simulated expire crash " +
        "(v1's manifest row deleted, data left) before a real " +
        "expire(keep=2). Graded: the crashed state already hides v1, " +
        "the expire removes exactly {1,2,3}, survivors' bytes are " +
        "fingerprint-identical across the expire (the pinned-reader " +
        "guarantee), retired directories are physically gone, and a " +
        "pin of a retired version is rejected — surviving-slice rows " +
        "and totals recomputed independently by the oracle. 100 TB: " +
        "expiry is O(retired) metadata deletes + data-dir removals of " +
        "exactly the retired bytes; nothing surviving is read, " +
        "copied, or rewritten.",
      (s, dir) => {
        import graft.sink.{Fs, TrainingShards}
        import s.implicits._
        val o = Tables.t(s, dir, "orders")
          .select($"o_orderkey".as("doc_id"),
            expr("cast(round(o_totalprice * 100) as bigint)").as("cents"))
        def slice(r: Int) = o.filter($"doc_id" % 5 === r)
        val root = graft.TempRoots
          .freshForDir("graft_snapgc", dir).toString
        def fp(df: org.apache.spark.sql.DataFrame): Seq[Any] = df
          .agg(count(lit(1)), sum($"cents"),
            sum(xxhash64($"doc_id", $"cents").cast("decimal(38,0)")))
          .head().toSeq
        TrainingShards.writeVersion(slice(0), root, "seed42", 2)
        TrainingShards.writeVersion(slice(1), root, "seed42", 2)
        // a crashed writer: data claimed at v=3, commit row never lands
        TrainingShards.writeVersion(slice(2), root, "seed42", 2,
          commit = false)
        val v4 = TrainingShards.writeVersion(slice(3), root, "seed42", 2)
        val v5 = TrainingShards.writeVersion(slice(4), root, "seed42", 2)
        val orphanSkipped = v4 == 4 && v5 == 5
        def snap(v: Int) = TrainingShards.readVersion(s, root, Some(v))
        val (fp4, fp5) = (fp(snap(4)), fp(snap(5)))
        // the expire crash window: v1's commit row retired, data not
        // yet — the version must ALREADY be invisible in this state
        Fs.delete(s, s"$root/manifest/c_1")
        val crashHidesV1 =
          TrainingShards.committedVersions(s, root) == Seq(2, 4, 5) &&
            Fs.exists(s, s"$root/v=1")
        val removed = TrainingShards.expireVersions(s, root, keep = 2)
        val removedExact = removed == Seq(1, 2, 3)
        val survivorsIntact = fp(snap(4)) == fp4 && fp(snap(5)) == fp5 &&
          TrainingShards.committedVersions(s, root) == Seq(4, 5)
        val dirsGone = !Fs.exists(s, s"$root/v=1") &&
          !Fs.exists(s, s"$root/v=2") && !Fs.exists(s, s"$root/v=3")
        val pinRejected = scala.util.Try(
          TrainingShards.readVersion(s, root, Some(2))).isFailure
        def stats(df: org.apache.spark.sql.DataFrame, label: String) =
          df.agg(count(lit(1)).as("n_rows"), sum($"cents").as("sum_cents"))
            .select(lit(label).as("snapshot"), $"n_rows", $"sum_cents",
              lit(orphanSkipped).as("mint_skips_dead_claim"),
              lit(crashHidesV1).as("expire_crash_hides_first"),
              lit(removedExact).as("removed_exactly_1_2_3"),
              lit(survivorsIntact).as("survivor_bytes_unchanged"),
              lit(dirsGone).as("retired_dirs_gone"),
              lit(pinRejected).as("pin_of_retired_rejected"))
        stats(snap(4), "v4_survivor")
          .unionAll(stats(snap(5), "v5_survivor"))
          .orderBy($"snapshot")
      },
      Some("""
        WITH o AS (
          SELECT o_orderkey AS k,
                 CAST(round(o_totalprice * 100) AS BIGINT) AS c
          FROM orders)
        SELECT 'v4_survivor' AS snapshot,
               CAST(count(*) AS BIGINT) AS n_rows,
               CAST(sum(c) AS BIGINT) AS sum_cents,
               true AS mint_skips_dead_claim,
               true AS expire_crash_hides_first,
               true AS removed_exactly_1_2_3,
               true AS survivor_bytes_unchanged,
               true AS retired_dirs_gone,
               true AS pin_of_retired_rejected
        FROM o WHERE k % 5 = 3
        UNION ALL
        SELECT 'v5_survivor', CAST(count(*) AS BIGINT),
               CAST(sum(c) AS BIGINT), true, true, true, true, true, true
        FROM o WHERE k % 5 = 4
        ORDER BY snapshot""")),

    Q(
      "q429_snapshot_schema_evolution",
      "SNAPSHOT SCHEMA EVOLUTION — the first schema change a real " +
        "corpus build makes (a column added between v=N and v=N+1) " +
        "meets the versioned store: the PINNED read must return v=N's " +
        "original schema forever (immutable bytes, immutable shape — " +
        "provenance reads cannot grow columns retroactively), while a " +
        "consumer unioning across versions wants every snapshot " +
        "CONFORMED to the latest schema with added columns back-" +
        "filled null — q131's mergeSchema discipline applied through " +
        "the manifest as a READ-SIDE view (readVersionEvolved), never " +
        "a rewrite. v1 commits (doc_id, cents); v2 adds the order-" +
        "priority column; the query grades the pinned v1 schema " +
        "(exactly its original columns), the evolved v1 schema " +
        "(exactly the latest's, order and types), and reads BOTH " +
        "versions through the evolved view — per-version rows, cents " +
        "totals, and the count of populated priority values (0 for " +
        "the back-filled v1, every row for v2) recomputed " +
        "independently by the oracle. Dropped columns are the same " +
        "projection in reverse (absent from the latest schema, they " +
        "vanish from the view); widened types cast up. 100 TB: " +
        "conformance is a projection pushed to the parquet scan — " +
        "null literals cost nothing, no snapshot is ever rewritten " +
        "for a schema change.",
      (s, dir) => {
        import graft.sink.TrainingShards
        import s.implicits._
        val o = Tables.t(s, dir, "orders")
          .select($"o_orderkey".as("doc_id"),
            expr("cast(round(o_totalprice * 100) as bigint)").as("cents"),
            $"o_orderpriority".as("prio"))
        val root = graft.TempRoots
          .freshForDir("graft_snapevo", dir).toString
        val v1 = TrainingShards.writeVersion(
          o.filter($"doc_id" % 2 === 0).select($"doc_id", $"cents"),
          root, "seed42", 2)
        TrainingShards.writeVersion(
          o.filter($"doc_id" % 2 === 1), root, "seed42", 2)
        val latest = TrainingShards.readVersion(s, root)
        val pinned = TrainingShards.readVersion(s, root, Some(v1))
        val pinnedOriginal = pinned.columns.sorted.toSeq ==
          Seq("cents", "doc_id", "rk", "shard_id")
        val evolved1 = TrainingShards.readVersionEvolved(s, root, Some(v1))
        def shape(df: org.apache.spark.sql.DataFrame) =
          df.schema.fields.toSeq.map(f => (f.name, f.dataType))
        val evolvedMatchesLatest = shape(evolved1) == shape(latest)
        def stats(df: org.apache.spark.sql.DataFrame, label: String) =
          df.agg(count(lit(1)).as("n_rows"), sum($"cents").as("sum_cents"),
            count($"prio").as("n_prio_set"))
            .select(lit(label).as("snapshot"), $"n_rows", $"sum_cents",
              $"n_prio_set",
              lit(pinnedOriginal).as("pinned_schema_original"),
              lit(evolvedMatchesLatest).as("evolved_schema_matches_latest"))
        stats(evolved1, "v1_evolved")
          .unionAll(stats(
            TrainingShards.readVersionEvolved(s, root), "v2_latest"))
          .orderBy($"snapshot")
      },
      Some("""
        WITH o AS (
          SELECT o_orderkey AS k,
                 CAST(round(o_totalprice * 100) AS BIGINT) AS c
          FROM orders)
        SELECT 'v1_evolved' AS snapshot,
               CAST(count(*) AS BIGINT) AS n_rows,
               CAST(sum(c) AS BIGINT) AS sum_cents,
               CAST(0 AS BIGINT) AS n_prio_set,
               true AS pinned_schema_original,
               true AS evolved_schema_matches_latest
        FROM o WHERE k % 2 = 0
        UNION ALL
        SELECT 'v2_latest', CAST(count(*) AS BIGINT),
               CAST(sum(c) AS BIGINT), CAST(count(*) AS BIGINT),
               true, true
        FROM o WHERE k % 2 = 1
        ORDER BY snapshot""")),

    Q(
      "q431_dawid_skene",
      "DAWID-SKENE ANNOTATOR MODEL (Dawid & Skene 1979 — the " +
        "label-aggregation EM every crowd/LLM-judge pipeline " +
        "rediscovers; capstone of the q419-q421 annotator-eval tier): " +
        "three deterministic raters with DIFFERENT error rates label " +
        "every order's latent binary class through arithmetic noise " +
        "mixers, and two full EM rounds jointly recover per-annotator " +
        "CONFUSION MATRICES, class priors, and posterior labels — " +
        "majority vote weights all raters equally; Dawid-Skene learns " +
        "whom to trust. ENTIRELY in ppm integer fixed point (q420's " +
        "discipline): posteriors init as vote fractions, each M-step " +
        "is ONE row-scale aggregate to 8 bounded sums (class masses + " +
        "per-annotator label-1 masses, Laplace +1-item smoothing " +
        "keeps every cell positive), each E-step a per-row chain of " +
        "three ppm multiplies per class with ONE truncating " +
        "normalization div — sums of integers are order-independent, " +
        "so the fit is bit-stable on any cluster and the oracle " +
        "REPLAYS both rounds as materialized CTE chains (majority " +
        "init -> M1 -> E1 -> M2 -> E2). Output: the 12-cell " +
        "confusion tensor in ppm, the learned prior, and argmax-" +
        "posterior accuracy against the latent class — all BIGINT-" +
        "exact cross-engine. Plan: M-steps are map-side-combinable " +
        "aggregates to a 1-row frame; E-steps are codegen'd per-row " +
        "projections with the 14 model scalars inlined as literals " +
        "(the k-means-centroid argument: collected state is " +
        "domain-bounded, never row-scale). 100 TB: a billion " +
        "annotations stream through the same 8 counters per round; " +
        "the driver holds 14 numbers.",
      (s, dir) => {
        import s.implicits._
        val M = 1000000L
        val it = Tables.t(s, dir, "orders")
          .select($"o_orderkey".as("k"))
          .select($"k", when($"k" % 7 < 3, 1L).otherwise(0L).as("c"))
          .select($"k", $"c",
            when(($"k" * 13L + 1L) % 100L < 10L, lit(1L) - $"c")
              .otherwise($"c").as("l0"),
            when(($"k" * 29L + 5L) % 100L < 25L, lit(1L) - $"c")
              .otherwise($"c").as("l1"),
            when(($"k" * 37L + 11L) % 100L < 40L, lit(1L) - $"c")
              .otherwise($"c").as("l2"))
        val t0 = it.withColumn("t1",
          expr("(l0 + l1 + l2) * 1000000 div 3"))
        // M-step: one aggregate -> (s1, s0, per-annotator label-1
        // masses under each class); pi/priors in ppm with Laplace
        // +1-item smoothing, truncating div (all positive)
        def mstep(t: org.apache.spark.sql.DataFrame)
            : (Long, Long, Array[Array[Array[Long]]]) = {
          val aggs = Seq(sum($"t1"), sum(lit(M) - $"t1")) ++
            (0 to 2).flatMap { a =>
              Seq(sum(when(col(s"l$a") === 1, $"t1").otherwise(0L)),
                sum(when(col(s"l$a") === 1, lit(M) - $"t1")
                  .otherwise(0L)))
            }
          val r = t.agg(aggs.head, aggs.tail: _*).head()
          // driver scaling in BigInt: s1*10^6 bursts Long at ~9.2e12
          // total posterior mass (~9M tri-rated items) and a wrapped
          // prior would silently corrupt every pi cell where the
          // HUGEINT oracle errors loudly — a 10x run of the since-deleted
          // scale probe (2026-08) already sat within 1.5x of that ceiling
          val Mb = BigInt(M)
          val s1 = BigInt(r.getLong(0)); val s0 = BigInt(r.getLong(1))
          val p1 = (s1 * Mb / (s1 + s0)).toLong
          val p0 = (s0 * Mb / (s1 + s0)).toLong
          val pi = Array.ofDim[Long](3, 2, 2)
          for (a <- 0 to 2) {
            val nc1 = BigInt(r.getLong(2 + 2 * a))
            val nc0 = BigInt(r.getLong(3 + 2 * a))
            pi(a)(1)(1) = ((nc1 + Mb) * Mb / (s1 + 2 * Mb)).toLong
            pi(a)(1)(0) = ((s1 - nc1 + Mb) * Mb / (s1 + 2 * Mb)).toLong
            pi(a)(0)(1) = ((nc0 + Mb) * Mb / (s0 + 2 * Mb)).toLong
            pi(a)(0)(0) = ((s0 - nc0 + Mb) * Mb / (s0 + 2 * Mb)).toLong
          }
          (p1, p0, pi)
        }
        // E-step: per-row ppm product chain, model scalars inlined
        def estep(t: org.apache.spark.sql.DataFrame, p1: Long,
            p0: Long, pi: Array[Array[Array[Long]]])
            : org.apache.spark.sql.DataFrame = {
          // inlined model scalars carry the L suffix: a bare 7-digit
          // ppm literal parses as INT32 and the u-product would
          // overflow it under ANSI
          def pick(a: Int, cls: Int) =
            s"(case when l$a = 1 then ${pi(a)(cls)(1)}L " +
              s"else ${pi(a)(cls)(0)}L end)"
          def u(cls: Int, pr: Long) =
            s"((((${pr}L * ${pick(0, cls)}) div 1000000) * " +
              s"${pick(1, cls)} div 1000000) * ${pick(2, cls)}) " +
              "div 1000000"
          t.withColumn("u1", expr(u(1, p1)))
            .withColumn("u0", expr(u(0, p0)))
            .withColumn("t1", expr("case when u1 + u0 = 0 then 500000 " +
              "else (u1 * 1000000) div (u1 + u0) end"))
            .drop("u1", "u0")
        }
        val (p1a, p0a, piA) = mstep(t0)
        val e1 = estep(t0, p1a, p0a, piA)
        val (p1b, p0b, piB) = mstep(e1)
        val e2 = estep(e1, p1b, p0b, piB)
        val acc = e2.agg(
          sum(when(when($"t1" > 500000L, 1L).otherwise(0L) === $"c",
            1L).otherwise(0L)).as("nc"),
          count(lit(1)).as("ni")).head()
        val rows = for { a <- 0 to 2; cls <- 0 to 1; l <- 0 to 1 }
          yield (a.toLong, cls.toLong, l.toLong, piB(a)(cls)(l),
            p1b, acc.getLong(0), acc.getLong(1))
        rows.toDF("annotator", "true_class", "obs_label", "pi_ppm",
            "prior1_ppm", "n_argmax_correct", "n_items")
          .orderBy($"annotator", $"true_class", $"obs_label")
      },
      Some(dawidSkeneOracleSql)),

    Q(
      "q432_snapshot_cdc_merge",
      "CDC MERGE INTO THE SNAPSHOT STORE — the upsert verb that makes " +
        "the versioned store a usable table, done the lakehouse way: " +
        "READ the latest snapshot, APPLY the change set, ATOMICALLY " +
        "PUBLISH the result as the next version through the one-winner " +
        "claims (q427's mint) — never an in-place mutation of " +
        "immutable snapshot bytes, so time travel to the pre-merge " +
        "version keeps returning its exact rows (the audit-trail " +
        "property a mutable table can't give). The change set carries " +
        "op in {insert, update, delete}: the %%10==5 tranche gets a " +
        "+7-cent correction, the %%10==6 tranche is retracted, three " +
        "fresh rows insert above the key domain. Graded: v2's rows and " +
        "integer-cents total recomputed independently by the oracle " +
        "from the change-set algebra, v1 fingerprint-identical across " +
        "the merge, version advanced exactly once. Plan: ONE left-anti " +
        "join of the snapshot against the broadcast change-KEY set + " +
        "one unionByName, then the shard write every published " +
        "version pays anyway — the merge itself adds no second " +
        "row-scale exchange. 100 TB: change sets are deltas " +
        "(broadcastable); the republish cost is the write, and a " +
        "pinned reader mid-merge sees either v1 or v2, never a " +
        "half-applied state.",
      (s, dir) => {
        import graft.sink.TrainingShards
        import graft.CdcFixture
        import s.implicits._
        val of = CdcFixture.orders(s, dir)
        val o = of.drop("prio")
        val root = graft.TempRoots
          .freshForDir("graft_snapmerge", dir).toString
        val v1 = TrainingShards.writeVersion(o, root, "seed42", 2)
        def fp(df: org.apache.spark.sql.DataFrame): Seq[Any] = df
          .agg(count(lit(1)), sum($"cents"),
            sum(xxhash64($"doc_id", $"cents").cast("decimal(38,0)")))
          .head().toSeq
        def snap(v: Int) = TrainingShards.readVersion(s, root, Some(v))
        val v1Before = fp(snap(v1))
        val changes = CdcFixture.toMerge(
          CdcFixture.singleBatch(of, CdcFixture.maxKey(of)))
        val v2 = TrainingShards.mergeVersion(s, root, changes,
          "doc_id", "seed42", 2)
        val v1Unchanged = fp(snap(v1)) == v1Before
        val advancedOnce = v2 == v1 + 1 &&
          TrainingShards.committedVersions(s, root) == Seq(v1, v2)
        def stats(v: Int, label: String) = snap(v)
          .agg(count(lit(1)).as("n_rows"), sum($"cents").as("sum_cents"))
          .select(lit(label).as("snapshot"), $"n_rows", $"sum_cents",
            lit(v1Unchanged).as("premerge_pin_unchanged"),
            lit(advancedOnce).as("version_advanced_once"))
        stats(v1, "v1_premerge").unionAll(stats(v2, "v2_merged"))
          .orderBy($"snapshot")
      },
      Some(s"""
        WITH o AS (
          SELECT o_orderkey AS k,
                 CAST(round(o_totalprice * 100) AS BIGINT) AS c
          FROM orders)${graft.CdcFixture.oracleStateCte("fin",
            b1 = false, withInserts = true, prio = false)}
        SELECT 'v1_premerge' AS snapshot,
               CAST(count(*) AS BIGINT) AS n_rows,
               CAST(sum(c) AS BIGINT) AS sum_cents,
               true AS premerge_pin_unchanged,
               true AS version_advanced_once
        FROM o
        UNION ALL
        SELECT 'v2_merged',
               CAST(count(*) AS BIGINT),
               CAST(sum(c) AS BIGINT),
               true, true
        FROM fin
        ORDER BY snapshot""")),

    Q(
      "q433_krippendorff_interval",
      "KRIPPENDORFF'S ALPHA, INTERVAL metric (Krippendorff 1970/2004) " +
        "— the ordinal-severity completion of the agreement family " +
        "(q318 Cohen 2-rater nominal, q397 Krippendorff nominal, q421 " +
        "Fleiss fixed-panel): three deterministic raters score each " +
        "order's latent 0-3 severity through clamped +-1 arithmetic " +
        "noise, and the interval metric weights every disagreement by " +
        "its SQUARED DISTANCE — confusing 0 with 3 is nine times the " +
        "sin of 0 with 1, which nominal alpha cannot see. Coincidence " +
        "algebra with m=3 raters stays fully integer: observed " +
        "disagreement is the per-item sum of squared ordered-pair " +
        "differences (6 pairs/item, computed CLOSED-FORM per row — no " +
        "pair explode), expected disagreement from the four value-" +
        "count marginals; alpha = 1 - (n-1)*Do/De emitted as ONE " +
        "sign-extracted DECIMAL(38,0) rational in ppm (the q318 " +
        "discipline — (n-1)*Do*1e6 reaches ~3.6e18 at sf0.1 and the " +
        "decimal cast keeps the seam open to sf10). Plan: ONE " +
        "row-scale aggregate to five integer sums (Do + four " +
        "marginals), map-side combinable; the alpha arithmetic runs " +
        "on a 1-row frame. 100 TB: a billion triple-rated items are " +
        "five counters on the wire.",
      (s, dir) => {
        import s.implicits._
        def clamp(c: org.apache.spark.sql.Column) =
          least(lit(3L), greatest(lit(0L), c))
        val it = Tables.t(s, dir, "orders")
          .select($"o_orderkey".as("k"))
          .select($"k", ($"k" % 4).as("v"))
          .select($"k",
            clamp($"v" + ($"k" * 13L + 1L) % 3L - 1L).as("r0"),
            clamp($"v" + ($"k" * 29L + 5L) % 3L - 1L).as("r1"),
            clamp($"v" + ($"k" * 37L + 11L) % 3L - 1L).as("r2"))
        def sq(a: org.apache.spark.sql.Column,
            b: org.apache.spark.sql.Column) = (a - b) * (a - b)
        def nv(c: Int) = sum(($"r0" === c.toLong).cast("long") +
          ($"r1" === c.toLong).cast("long") +
          ($"r2" === c.toLong).cast("long")).as(s"n$c")
        val agg = it.agg(
          count(lit(1)).as("n_items"),
          sum(lit(2L) * (sq($"r0", $"r1") + sq($"r0", $"r2") +
            sq($"r1", $"r2"))).as("do_sum"),
          nv(0), nv(1), nv(2), nv(3))
        // De doubled to match do_sum's ordered-pair doubling:
        // alpha = 1 - (n-1) * do_sum / (2 * sum_ck n_c n_k (c-k)^2)
        agg.select($"n_items", $"do_sum",
          ($"n0" + $"n1" + $"n2" + $"n3").as("n_ratings"),
          (lit(2L) * (($"n0" * $"n1" + $"n1" * $"n2" + $"n2" * $"n3") +
            lit(4L) * ($"n0" * $"n2" + $"n1" * $"n3") +
            lit(9L) * ($"n0" * $"n3"))).as("de2_half"))
          .select($"n_items", $"n_ratings", $"do_sum",
            (lit(2L) * $"de2_half").as("de_weighted"),
            // q318's sign-extracted integer div: Spark div truncates
            // toward zero, DuckDB // floors — they differ on
            // negatives, so the sign leaves first
            expr("""cast(
              (case when cast(de_weighted as decimal(38,0))
                    - (n_ratings - 1) * do_sum >= 0
                    then 1 else -1 end) *
              (abs(cast(de_weighted as decimal(38,0))
                   - (n_ratings - 1) * do_sum) * 1000000
               div cast(de_weighted as decimal(38,0)))
              as bigint)""").as("alpha_ppm"))
      },
      Some("""
        WITH it AS (
          SELECT k, least(3, greatest(0, v + (k * 13 + 1) % 3 - 1)) AS r0,
                 least(3, greatest(0, v + (k * 29 + 5) % 3 - 1)) AS r1,
                 least(3, greatest(0, v + (k * 37 + 11) % 3 - 1)) AS r2
          FROM (SELECT o_orderkey AS k, o_orderkey % 4 AS v FROM orders)),
        agg AS (
          SELECT CAST(count(*) AS BIGINT) AS n_items,
                 CAST(sum(2 * ((r0 - r1) * (r0 - r1) +
                   (r0 - r2) * (r0 - r2) + (r1 - r2) * (r1 - r2)))
                   AS BIGINT) AS do_sum,
                 CAST(sum((CASE WHEN r0 = 0 THEN 1 ELSE 0 END) +
                   (CASE WHEN r1 = 0 THEN 1 ELSE 0 END) +
                   (CASE WHEN r2 = 0 THEN 1 ELSE 0 END)) AS BIGINT) AS n0,
                 CAST(sum((CASE WHEN r0 = 1 THEN 1 ELSE 0 END) +
                   (CASE WHEN r1 = 1 THEN 1 ELSE 0 END) +
                   (CASE WHEN r2 = 1 THEN 1 ELSE 0 END)) AS BIGINT) AS n1,
                 CAST(sum((CASE WHEN r0 = 2 THEN 1 ELSE 0 END) +
                   (CASE WHEN r1 = 2 THEN 1 ELSE 0 END) +
                   (CASE WHEN r2 = 2 THEN 1 ELSE 0 END)) AS BIGINT) AS n2,
                 CAST(sum((CASE WHEN r0 = 3 THEN 1 ELSE 0 END) +
                   (CASE WHEN r1 = 3 THEN 1 ELSE 0 END) +
                   (CASE WHEN r2 = 3 THEN 1 ELSE 0 END)) AS BIGINT) AS n3
          FROM it),
        d AS (
          SELECT n_items, do_sum, n0 + n1 + n2 + n3 AS n_ratings,
                 2 * (2 * ((n0 * n1 + n1 * n2 + n2 * n3) +
                   4 * (n0 * n2 + n1 * n3) + 9 * (n0 * n3)))
                   AS de_weighted
          FROM agg)
        SELECT n_items, n_ratings, do_sum,
               CAST(de_weighted AS BIGINT) AS de_weighted,
               CAST((CASE WHEN CAST(de_weighted AS HUGEINT)
                          - (n_ratings - 1) * do_sum >= 0
                          THEN 1 ELSE -1 END) *
                 (abs(CAST(de_weighted AS HUGEINT)
                      - (n_ratings - 1) * do_sum) * 1000000
                  // CAST(de_weighted AS HUGEINT))
                 AS BIGINT) AS alpha_ppm
        FROM d""")),

    Q(
      "q434_bloom_skipping_read",
      "POINT LOOKUP THROUGH THE BLOOM MANIFEST — the payoff leg that " +
        "closes the manifest loop (q423 builds it, q430 maintains it, " +
        "this query READS through it): a takedown-style point audit " +
        "resolves its probe keys against the per-file bitmaps and " +
        "opens ONLY the passing files — the scan's input is the " +
        "manifest's verdict, not the directory listing. Graded on the " +
        "RETRIEVED DATA, not the mechanism: per probe, the rows found " +
        "and their integer-cents values recomputed independently by " +
        "the oracle straight from the source table (a manifest false " +
        "NEGATIVE — the one failure a bloom filter must never have — " +
        "would lose a row and flip the driver red), plus the " +
        "skipping-read-equals-full-scan fingerprint and the measured " +
        "claim that every probe opened under half the fleet (with " +
        "k=2/m=4093 bitmaps the expected false-positive files per " +
        "probe are single digits against hundreds of files). 100 TB: " +
        "a point audit touches O(1) files via ~512 B/file of " +
        "broadcastable metadata; without the manifest it reads every " +
        "file of an unsorted corpus (the q406/q417 zone-map story " +
        "only rescues SORTED layouts).",
      (s, dir) => {
        import graft.sink.{BloomManifest, TrainingShards}
        import s.implicits._
        val o = Tables.t(s, dir, "orders")
          .select($"o_orderkey".as("doc_id"),
            expr("cast(round(o_totalprice * 100) as bigint)").as("cents"))
        val root = graft.TempRoots
          .freshForDir("graft_bloomread", dir).toString
        TrainingShards.write(o, root, "seed42", 4,
          maxRecordsPerFile = 250L)
        val store = s"${root}_bloom"
        BloomManifest.rebuild(s, store, root, "doc_id")
        val man = BloomManifest.read(s, store).collect()
          .map(r => r.getAs[String]("f") ->
            (java.util.BitSet.valueOf(r.getAs[Array[Byte]]("b1")),
              java.util.BitSet.valueOf(r.getAs[Array[Byte]]("b2"))))
        val mx = o.agg(max($"doc_id")).head().getLong(0)
        val present = o.filter($"doc_id" % 12500L === 7L)
          .select($"doc_id").as[Long].collect().sorted
        val probes = present.map((_, 1L)) ++
          Seq(mx + 1L, mx + 2L, mx + 3L).map((_, 0L))
        val nFiles = man.length.toLong
        val passing = probes.map { case (k, _) =>
          k -> man.filter { case (_, (b1, b2)) =>
            b1.get(BloomManifest.h1Long(k)) &&
              b2.get(BloomManifest.h2Long(k)) }.map(_._1).toSeq
        }.toMap
        val everyProbeSkips = passing.values
          .forall(p => p.size * 2 < nFiles)
        val probeKeys = probes.map(_._1).toSeq.toDF("doc_id")
        // THE skipping read: the union of passing files is the scan's
        // entire input — files the manifest rejected are never opened
        val passFiles = passing.values.flatten.toSeq.distinct.sorted
        val got = (if (passFiles.isEmpty)
            s.read.parquet(root).limit(0)
          else s.read.parquet(passFiles: _*))
          .select($"doc_id", $"cents")
          .join(broadcast(probeKeys), Seq("doc_id"))
        def fp(df: org.apache.spark.sql.DataFrame): Seq[Any] = df
          .agg(count(lit(1)), sum($"cents"),
            sum(xxhash64($"doc_id", $"cents").cast("decimal(38,0)")))
          .head().toSeq
        val full = s.read.parquet(root).select($"doc_id", $"cents")
          .join(broadcast(probeKeys), Seq("doc_id"))
        val equalsFull = fp(got) == fp(full)
        val found = got.groupBy($"doc_id")
          .agg(count(lit(1)).as("nf"), sum($"cents").as("sc"))
          .collect().map(r =>
            r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
        probes.toSeq.map { case (k, pres) =>
          val (nf, sc) = found.getOrElse(k, (0L, 0L))
          (k, pres, nf, sc, everyProbeSkips, equalsFull)
        }.toDF("key", "present", "n_found", "cents_found",
            "every_probe_skips_files", "skipping_read_equals_full_scan")
          .orderBy($"key")
      },
      Some("""
        WITH o AS (
          SELECT o_orderkey AS k,
                 CAST(round(o_totalprice * 100) AS BIGINT) AS c
          FROM orders),
        p AS (
          SELECT k, CAST(1 AS BIGINT) AS present FROM o
          WHERE k % 12500 = 7
          UNION ALL
          SELECT mx + i, CAST(0 AS BIGINT)
          FROM (SELECT max(k) AS mx FROM o)
          CROSS JOIN (SELECT unnest([1, 2, 3]) AS i))
        SELECT p.k AS key, p.present,
               CAST(count(o.k) AS BIGINT) AS n_found,
               CAST(coalesce(sum(o.c), 0) AS BIGINT) AS cents_found,
               true AS every_probe_skips_files,
               true AS skipping_read_equals_full_scan
        FROM p LEFT JOIN o ON o.k = p.k
        GROUP BY p.k, p.present
        ORDER BY key""")),

    Q(
      "q436_incremental_view_maintenance",
      "INCREMENTAL VIEW MAINTENANCE with retractions — the classic " +
        "materialized-view delta algebra (Blakeley 1986; what every " +
        "warehouse MV and streaming upsert sink reimplements): a " +
        "per-priority (count, cents-total) view over the snapshot " +
        "store is kept current from CDC deltas ALONE — inserts " +
        "contribute (+1, +new), deletes retract (-1, -old), updates " +
        "contribute (0, new-old) via before/after images — while the " +
        "base table itself advances through q432's mergeVersion, so " +
        "the maintained view and the store stay two independent " +
        "consumers of one change feed. Two change batches apply in " +
        "sequence (the q435 algebra: +7 on %%10==5, retract %%10==6, " +
        "+11 on %%10==7, three inserts into the 1-URGENT group); the " +
        "maintained state is then AUDITED against a full recompute " +
        "over the store's latest snapshot — bit-equal, which is the " +
        "theorem: delta application commutes with aggregation. " +
        "Per-group rows and totals recomputed independently by the " +
        "oracle from the change algebra. Plan: each delta aggregates " +
        "map-side onto the bounded priority domain before touching " +
        "the 5-row state (a full-outer join on the domain); the base " +
        "is NEVER rescanned by maintenance — the recompute here is " +
        "the audit, not the mechanism. 100 TB: view upkeep costs " +
        "O(|delta| + |domain|) per batch against a billion-row base; " +
        "the alternative is a corpus scan per refresh.",
      (s, dir) => {
        import graft.sink.TrainingShards
        import graft.CdcFixture
        import s.implicits._
        val o = CdcFixture.orders(s, dir)
        val root = graft.TempRoots
          .freshForDir("graft_ivm", dir).toString
        val v1 = TrainingShards.writeVersion(o, root, "seed42", 2)
        def viewOf(df: org.apache.spark.sql.DataFrame) = df
          .groupBy($"prio")
          .agg(count(lit(1)).as("n_rows"), sum($"cents").as("sum_cents"))
        val state0 = viewOf(TrainingShards.readVersion(s, root, Some(v1)))
        // CDC rows carry before/after images — what the delta algebra
        // (and any real CDC source: Debezium, binlog) actually needs;
        // the change algebra itself lives ONCE in CdcFixture
        val b0 = CdcFixture.batch0(o)
        val b1 = CdcFixture.batch1(o, CdcFixture.maxKey(o))
        def applyDelta(state: org.apache.spark.sql.DataFrame,
            changes: org.apache.spark.sql.DataFrame) = {
          val d = changes.groupBy($"prio").agg(
            sum(when($"op" === "insert", 1L)
              .when($"op" === "delete", -1L).otherwise(0L)).as("dn"),
            sum(coalesce($"new_cents", lit(0L)) -
              coalesce($"old_cents", lit(0L))).as("dc"))
          state.join(d, Seq("prio"), "full_outer")
            .select($"prio",
              (coalesce($"n_rows", lit(0L)) + coalesce($"dn", lit(0L)))
                .as("n_rows"),
              (coalesce($"sum_cents", lit(0L)) + coalesce($"dc", lit(0L)))
                .as("sum_cents"))
            .filter($"n_rows" > 0)
        }
        val state2 = applyDelta(applyDelta(state0, b0), b1)
        // the store advances through the SAME feed (the other consumer)
        TrainingShards.mergeVersion(s, root,
          CdcFixture.toMerge(b0, withPrio = true), "doc_id", "seed42", 2)
        val v3 = TrainingShards.mergeVersion(s, root,
          CdcFixture.toMerge(b1, withPrio = true), "doc_id", "seed42", 2)
        val recompute = viewOf(TrainingShards.readVersion(s, root))
        def rows(df: org.apache.spark.sql.DataFrame) = df
          .collect().map(r => (r.getString(0), r.getLong(1),
            r.getLong(2))).sortBy(_._1).toSeq
        val maintained = rows(state2)
        val matches = maintained == rows(recompute)
        val versions = v3 == 3 &&
          TrainingShards.committedVersions(s, root) == Seq(1, 2, 3)
        maintained.map { case (p, n, sc) =>
          (p, n, sc, matches, versions)
        }.toDF("prio", "n_rows", "sum_cents",
            "maintained_equals_recompute", "store_versions_1_2_3")
          .orderBy($"prio")
      },
      Some(s"""
        WITH o AS (
          SELECT o_orderkey AS k,
                 CAST(round(o_totalprice * 100) AS BIGINT) AS c,
                 o_orderpriority AS p
          FROM orders)${graft.CdcFixture.oracleStateCte("fin",
            b1 = true, withInserts = true, prio = true)}
        SELECT p AS prio, CAST(count(*) AS BIGINT) AS n_rows,
               CAST(sum(c) AS BIGINT) AS sum_cents,
               true AS maintained_equals_recompute,
               true AS store_versions_1_2_3
        FROM fin GROUP BY p ORDER BY prio""")),

    Q(
      "q438_snapshot_diff",
      "SNAPSHOT DIFF — the provenance inverse of q432's merge: given " +
        "two committed versions, recover WHAT CHANGED (insert/update/" +
        "delete per key with before/after images) from the immutable " +
        "snapshots alone — the question every training-data audit " +
        "asks ('what differs between the corpus the model saw and " +
        "today's?'), answered without any change log. The graded " +
        "theorem is the ROUND TRIP: diff(v1, merge(v1, changes)) " +
        "recovers EXACTLY the change set that produced v2 — compared " +
        "as an order-independent fingerprint over (op, key, effective " +
        "cents) between the original change frame and the diff " +
        "(update/insert carry the after image, delete the before) — " +
        "plus per-op key counts and before/after cents totals " +
        "recomputed independently by the oracle from the change " +
        "algebra. Plan: ONE full-outer join on the key with unchanged " +
        "keys dropped inside it — the honest cost of a diff; both " +
        "versions come from the same deterministic shard kernel, so a " +
        "deployment that registers them as bucketed tables co-locates " +
        "the join and pays no shuffle at all. 100 TB: the diff's " +
        "output is the CHANGE volume, never the corpus.",
      (s, dir) => {
        import graft.sink.TrainingShards
        import graft.CdcFixture
        import s.implicits._
        val of = CdcFixture.orders(s, dir)
        val o = of.drop("prio")
        val root = graft.TempRoots
          .freshForDir("graft_snapdiff", dir).toString
        val v1 = TrainingShards.writeVersion(o, root, "seed42", 2)
        val changes = CdcFixture.toMerge(
          CdcFixture.singleBatch(of, CdcFixture.maxKey(of)))
        val v2 = TrainingShards.mergeVersion(s, root, changes,
          "doc_id", "seed42", 2)
        val d = TrainingShards.diffVersions(s, root, v1, v2, "doc_id")
        // the round trip: normalize both sides to (op, key, effective
        // cents) and compare as a distributed fingerprint
        def fp(df: org.apache.spark.sql.DataFrame): Seq[Any] = df
          .agg(count(lit(1)),
            sum(xxhash64($"op", $"doc_id", $"c").cast("decimal(38,0)")))
          .head().toSeq
        val diffNorm = d.select($"op", $"doc_id",
          when($"op" === "delete", $"before.cents")
            .otherwise($"after.cents").as("c"))
        val recovers = fp(diffNorm) ==
          fp(changes.select($"op", $"doc_id", $"cents".as("c")))
        d.groupBy($"op")
          .agg(count(lit(1)).as("n_keys"),
            sum(coalesce($"before.cents", lit(0L)))
              .as("sum_before_cents"),
            sum(coalesce($"after.cents", lit(0L)))
              .as("sum_after_cents"))
          .select($"op", $"n_keys", $"sum_before_cents",
            $"sum_after_cents",
            lit(recovers).as("diff_recovers_changeset"))
          .orderBy($"op")
      },
      Some({
        import graft.CdcFixture._
        s"""
        WITH o AS (
          SELECT o_orderkey AS k,
                 CAST(round(o_totalprice * 100) AS BIGINT) AS c
          FROM orders)
        SELECT 'delete' AS op, CAST(count(*) AS BIGINT) AS n_keys,
               CAST(sum(c) AS BIGINT) AS sum_before_cents,
               CAST(0 AS BIGINT) AS sum_after_cents,
               true AS diff_recovers_changeset
        FROM o WHERE k % 10 = $delTranche
        UNION ALL
        SELECT 'insert', CAST($nInserts AS BIGINT), CAST(0 AS BIGINT),
               CAST($nInserts * $insertCents AS BIGINT), true
        UNION ALL
        SELECT 'update', CAST(count(*) AS BIGINT),
               CAST(sum(c) AS BIGINT),
               CAST(sum(c) + $updLow * count(*) AS BIGINT), true
        FROM o WHERE k % 10 = $updLowTranche
        ORDER BY op"""})),

    Q(
      "q439_snapshot_point_history",
      "TIME-TRAVELING POINT LOOKUP — q434's bloom-manifest skipping " +
        "read composed with q424's version pinning: each committed " +
        "snapshot carries its own per-file bloom manifest MINTED AT " +
        "COMMIT (writeVersion/mergeVersion's bloomKeyCol embeds " +
        "`v=N/_bloom` between the data claim and the commit claim, so " +
        "no visible version lacks its manifest and this audit never " +
        "rebuilds metadata whose purpose is avoiding corpus scans — " +
        "the q430 maintenance discipline applied to snapshots), and a " +
        "point audit asks 'what did THIS key hold at version N?' by " +
        "resolving the probe against version N's bitmaps and opening " +
        "only that version's passing files — the provenance query a " +
        "takedown/right-to-be-forgotten audit runs against history " +
        "(did the retracted record exist in the corpus the model " +
        "trained on?). Probes cover every transition class of the " +
        "q432 change algebra: an updated key (old cents at v1, +7 at " +
        "v2), a deleted key (present at v1, GONE at v2), an unchanged " +
        "key, an inserted key (absent at v1, present at v2), and a " +
        "never-existing key — per (key, version) found-counts and " +
        "cents recomputed independently by the oracle (a bloom false " +
        "negative at either version loses a row and flips the driver " +
        "red), plus skipping-equals-full-scan fingerprints per " +
        "version. 100 TB: history audits touch O(1) files per (key, " +
        "version) via ~512 B/file of metadata; without the per-" +
        "version manifest, every historical audit rescans a frozen " +
        "corpus end to end.",
      (s, dir) => {
        import graft.sink.{BloomManifest, TrainingShards}
        import graft.CdcFixture
        import s.implicits._
        val of = CdcFixture.orders(s, dir)
        val o = of.drop("prio")
        val root = graft.TempRoots
          .freshForDir("graft_snaphist", dir).toString
        // 1000-row files: enough physical files for the skipping claim
        // (~150 per version at sf0.1) without q423's deliberate
        // small-file tax — this query pays the write twice
        val v1 = TrainingShards.writeVersion(o, root, "seed42", 4,
          maxRecordsPerFile = 1000L, bloomKeyCol = Some("doc_id"))
        val mx = CdcFixture.maxKey(o)
        val changes = CdcFixture.toMerge(CdcFixture.singleBatch(of, mx))
        val v2 = TrainingShards.mergeVersion(s, root, changes,
          "doc_id", "seed42", 4, maxRecordsPerFile = 1000L,
          bloomKeyCol = Some("doc_id"))
        val probeIds = (o.filter($"doc_id" % 12500 isin (5L, 6L, 7L))
          .select($"doc_id").as[Long].collect().sorted
          :+ (mx + 1L) :+ (mx + 9L)).toSeq
        val probeDf = probeIds.toDF("doc_id")
        def lookup(v: Int, label: String) = {
          // the COMMITTED manifest — minted inside the version's own
          // claim, never rebuilt by the audit
          val man = s.read.parquet(s"$root/v=$v/_bloom").collect()
            .map(r => r.getAs[String]("f") ->
              (java.util.BitSet.valueOf(r.getAs[Array[Byte]]("b1")),
                java.util.BitSet.valueOf(r.getAs[Array[Byte]]("b2"))))
          val passFiles = probeIds.flatMap { k =>
            man.filter { case (_, (b1, b2)) =>
              b1.get(BloomManifest.h1Long(k)) &&
                b2.get(BloomManifest.h2Long(k)) }.map(_._1)
          }.distinct.sorted
          val got = (if (passFiles.isEmpty)
              TrainingShards.readVersion(s, root, Some(v)).limit(0)
            else s.read.parquet(passFiles: _*))
            .select($"doc_id", $"cents")
            .join(broadcast(probeDf), Seq("doc_id"))
          def fp(df: org.apache.spark.sql.DataFrame): Seq[Any] = df
            .agg(count(lit(1)), sum($"cents"),
              sum(xxhash64($"doc_id", $"cents").cast("decimal(38,0)")))
            .head().toSeq
          val full = TrainingShards.readVersion(s, root, Some(v))
            .select($"doc_id", $"cents")
            .join(broadcast(probeDf), Seq("doc_id"))
          val equalsFull = fp(got) == fp(full)
          val found = got.groupBy($"doc_id")
            .agg(count(lit(1)).as("nf"), sum($"cents").as("sc"))
            .collect().map(r =>
              r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
          probeIds.map { k =>
            val (nf, sc) = found.getOrElse(k, (0L, 0L))
            (k, label, nf, sc, equalsFull)
          }
        }
        val rows = lookup(v1, "v1_premerge") ++ lookup(v2, "v2_merged")
        val allEqual = rows.forall(_._5)
        rows.map { case (k, l, nf, sc, _) => (k, l, nf, sc, allEqual) }
          .toDF("key", "snapshot", "n_found", "cents_found",
            "skipping_read_equals_full_scan")
          .orderBy($"key", $"snapshot")
      },
      Some(s"""
        WITH o AS (
          SELECT o_orderkey AS k,
                 CAST(round(o_totalprice * 100) AS BIGINT) AS c
          FROM orders)${graft.CdcFixture.oracleStateCte("v2",
            b1 = false, withInserts = true, prio = false)},
        p AS (
          SELECT k FROM o WHERE k % 12500 IN (5, 6, 7)
          UNION ALL SELECT mx + 1 FROM mxx
          UNION ALL SELECT mx + 9 FROM mxx)
        SELECT p.k AS key, 'v1_premerge' AS snapshot,
               CAST(count(o.k) AS BIGINT) AS n_found,
               CAST(coalesce(sum(o.c), 0) AS BIGINT) AS cents_found,
               true AS skipping_read_equals_full_scan
        FROM p LEFT JOIN o ON o.k = p.k GROUP BY p.k
        UNION ALL
        SELECT p.k, 'v2_merged',
               CAST(count(v2.k) AS BIGINT),
               CAST(coalesce(sum(v2.c), 0) AS BIGINT), true
        FROM p LEFT JOIN v2 ON v2.k = p.k GROUP BY p.k
        ORDER BY key, snapshot""")),

    Q(
      "q440_cow_merge_file_reuse",
      "COPY-ON-WRITE SNAPSHOT MERGE — the storage economics the " +
        "full-rewrite store concedes (its own mergeVersion docstring: " +
        "'the dominant cost is the new version's shard write, which " +
        "every published snapshot pays'): CowSnapshots' manifests " +
        "list FILE GROUPS per shard, shard routing is KEY-STABLE " +
        "(pmod(xxhash64(seed,key), n) — an untouched key keeps " +
        "hashing into an untouched group, the property the rank-based " +
        "round-robin kernel structurally lacks), and a CDC merge " +
        "rewrites ONLY the shard groups the delta's 6 keys route to, " +
        "RE-LISTING the parent's entries for every other shard — " +
        "physical bytes shared across versions, exactly how " +
        "Delta/Iceberg manifests work, rebuilt here on the one-winner " +
        "claim idiom. Graded: v2's rows and cents recomputed " +
        "independently by the oracle from the tiny-batch algebra, v1 " +
        "pin fingerprint-identical, REUSE measured structurally — " +
        "every untouched shard's v2 manifest entry is byte-for-byte " +
        "the parent's (same group dir), a majority of shards reused, " +
        "and the rows physically rewritten for v2 are under half the " +
        "corpus. 100 TB: merge cost scales with |delta| (one bounded " +
        "shard-set read + one small group write + a manifest claim), " +
        "never with the corpus; storage is O(history of changes).",
      (s, dir) => {
        import graft.sink.CowSnapshots
        import graft.CdcFixture
        import s.implicits._
        val of = CdcFixture.orders(s, dir)
        val o = of.drop("prio")
        val root = graft.TempRoots
          .freshForDir("graft_cow_merge", dir).toString
        val nSh = 16
        val v1 = CowSnapshots.writeVersion(o, root, "doc_id",
          "seed42", nSh)
        def fp(df: org.apache.spark.sql.DataFrame): Seq[Any] = df
          .agg(count(lit(1)), sum($"cents"),
            sum(xxhash64($"doc_id", $"cents").cast("decimal(38,0)")))
          .head().toSeq
        def snap(v: Int) = CowSnapshots.readVersion(s, root, Some(v))
        val v1Before = fp(snap(v1))
        val changes = CdcFixture.toMerge(
          CdcFixture.tinyBatch(of, CdcFixture.maxKey(of)))
        val v2 = CowSnapshots.mergeVersion(s, root, changes,
          "doc_id", "seed42", nSh)
        // reuse is exact: an entry is reused iff its shard is
        // untouched, a majority of shards are reused, and the parent
        // group physically backs them (same dir strings = same bytes)
        // — the shared predicate all three COW queries grade with
        val reuseExact = CowSnapshots.reusesParentEntries(s, root,
          v1, v2, changes, "doc_id", "seed42", nSh)
        val parentOf = CowSnapshots.entries(s, root, v1)
          .map(e => e._1 -> e._2).toMap
        val e2 = CowSnapshots.entries(s, root, v2)
        val rewrittenRows = e2.filterNot { case (sh, d, _) =>
          parentOf.get(sh).contains(d) }.map(_._3).sum
        val totalRows = e2.map(_._3).sum
        val rewriteBounded = rewrittenRows * 2 < totalRows
        val v1Unchanged = fp(snap(v1)) == v1Before
        val advancedOnce = v2 == v1 + 1 &&
          CowSnapshots.committedVersions(s, root) == Seq(v1, v2)
        def stats(v: Int, label: String) = snap(v)
          .agg(count(lit(1)).as("n_rows"), sum($"cents").as("sum_cents"))
          .select(lit(label).as("snapshot"), $"n_rows", $"sum_cents",
            lit(reuseExact).as("untouched_shards_reuse_parent_files"),
            lit(rewriteBounded).as("rewrite_bounded_by_delta"),
            lit(v1Unchanged).as("premerge_pin_unchanged"),
            lit(advancedOnce).as("version_advanced_once"))
        stats(v1, "v1_premerge").unionAll(stats(v2, "v2_merged"))
          .orderBy($"snapshot")
      },
      Some(s"""
        WITH o AS (
          SELECT o_orderkey AS k,
                 CAST(round(o_totalprice * 100) AS BIGINT) AS c
          FROM orders)${graft.CdcFixture.oracleTinyStateCte("fin",
            withSecond = false)}
        SELECT 'v1_premerge' AS snapshot,
               CAST(count(*) AS BIGINT) AS n_rows,
               CAST(sum(c) AS BIGINT) AS sum_cents,
               true AS untouched_shards_reuse_parent_files,
               true AS rewrite_bounded_by_delta,
               true AS premerge_pin_unchanged,
               true AS version_advanced_once
        FROM o
        UNION ALL
        SELECT 'v2_merged', CAST(count(*) AS BIGINT),
               CAST(sum(c) AS BIGINT), true, true, true, true
        FROM fin
        ORDER BY snapshot""")),

    Q(
      "q441_cow_expire_refcount",
      "REF-COUNTED SNAPSHOT EXPIRY — what retention must mean once " +
        "versions SHARE files: q428's expire deletes a retired " +
        "version's whole directory, but a copy-on-write store cannot " +
        "(the parent's groups back newer versions), so expiry becomes " +
        "reference-counted file GC — a group dies exactly when its " +
        "LAST referencing version retires. The query builds the full " +
        "sharing topology: v1 (group t0, all shards), v2 = tiny merge " +
        "(t0 reused + new group t1), v3 = second merge over the SAME " +
        "key set (t0 reused + new t2 — t1 now referenced by v2 " +
        "alone). expire(keep=1) retires v1+v2 and must collect " +
        "EXACTLY t1: t0 outlives BOTH its original versions because " +
        "v3 still references it (the copy-on-write point), t2 lives, " +
        "v3's bytes are fingerprint-identical across the expire, and " +
        "retired pins are rejected. v3's rows and cents recomputed " +
        "independently by the oracle from the two-batch algebra. " +
        "100 TB: expiry deletes |history of retired changes|, not " +
        "O(versions x corpus); the ref count is a manifest-only " +
        "set-difference, no data reads.",
      (s, dir) => {
        import graft.sink.{CowSnapshots, Fs}
        import graft.CdcFixture
        import s.implicits._
        val of = CdcFixture.orders(s, dir)
        val o = of.drop("prio")
        val root = graft.TempRoots
          .freshForDir("graft_cow_gc", dir).toString
        val nSh = 16
        val mx = CdcFixture.maxKey(of)
        val v1 = CowSnapshots.writeVersion(o, root, "doc_id",
          "seed42", nSh)
        val v2 = CowSnapshots.mergeVersion(s, root,
          CdcFixture.toMerge(CdcFixture.tinyBatch(of, mx)),
          "doc_id", "seed42", nSh)
        val v3 = CowSnapshots.mergeVersion(s, root,
          CdcFixture.toMerge(CdcFixture.tinyBatch2(of, mx)),
          "doc_id", "seed42", nSh)
        def dirs(v: Int) =
          CowSnapshots.entries(s, root, v).map(_._2).toSet
        val (d1, d2, d3) = (dirs(v1), dirs(v2), dirs(v3))
        val t0 = d1.head // v1 is one group
        val t1 = (d2 -- d1).head // v2's delta group
        val t2 = (d3 -- d2 -- d1).head // v3's delta group
        // the topology the GC is graded against: v3 reuses t0 but not
        // t1 (same key set twice -> second merge rewrites exactly the
        // first's shards)
        val topology = d1 == Set(t0) && d2 == Set(t0, t1) &&
          d3 == Set(t0, t2)
        def fp(df: org.apache.spark.sql.DataFrame): Seq[Any] = df
          .agg(count(lit(1)), sum($"cents"),
            sum(xxhash64($"doc_id", $"cents").cast("decimal(38,0)")))
          .head().toSeq
        val fp3 = fp(CowSnapshots.readVersion(s, root, Some(v3)))
        val removed = CowSnapshots.expireVersions(s, root, keep = 1)
        val live = Fs.listDirNames(s, s"$root/files").toSet
        val gcExact = removed == Seq(v1, v2) &&
          live.contains(t0) && live.contains(t2) && !live.contains(t1)
        val survivorIntact =
          fp(CowSnapshots.readVersion(s, root, Some(v3))) == fp3 &&
            CowSnapshots.committedVersions(s, root) == Seq(v3)
        val pinRejected = scala.util.Try(
          CowSnapshots.readVersion(s, root, Some(v1))).isFailure
        CowSnapshots.readVersion(s, root, Some(v3))
          .agg(count(lit(1)).as("n_rows"), sum($"cents").as("sum_cents"))
          .select(lit("v3_survivor").as("snapshot"), $"n_rows",
            $"sum_cents",
            lit(topology).as("sharing_topology_as_designed"),
            lit(gcExact).as("gc_collects_exactly_unreferenced"),
            lit(survivorIntact).as("survivor_bytes_unchanged"),
            lit(pinRejected).as("pin_of_retired_rejected"))
      },
      Some(s"""
        WITH o AS (
          SELECT o_orderkey AS k,
                 CAST(round(o_totalprice * 100) AS BIGINT) AS c
          FROM orders)${graft.CdcFixture.oracleTinyStateCte("fin",
            withSecond = true)}
        SELECT 'v3_survivor' AS snapshot,
               CAST(count(*) AS BIGINT) AS n_rows,
               CAST(sum(c) AS BIGINT) AS sum_cents,
               true AS sharing_topology_as_designed,
               true AS gc_collects_exactly_unreferenced,
               true AS survivor_bytes_unchanged,
               true AS pin_of_retired_rejected
        FROM fin""")),

    Q(
      "q442_cow_point_history",
      "SHARD-ROUTED TIME-TRAVELING POINT LOOKUP — q439's history " +
        "audit on the copy-on-write store, where the metadata story " +
        "compounds: every file group carries its per-file bloom " +
        "manifest FROM BIRTH (minted with the group's own staged " +
        "bytes, before the group is visible — never rebuilt, never " +
        "absent), and the KEY-STABLE shard kernel routes each probe " +
        "to ONE shard before a single bloom row is consulted, so a " +
        "point audit at version N touches: one manifest read, one " +
        "shard's bloom rows, the passing files of that one shard — " +
        "O(1) metadata + O(1) data files out of the whole fleet, at " +
        "ANY historical version, with versions sharing both bytes AND " +
        "bloom rows for untouched shards. Probes cover updated, " +
        "deleted, unchanged, inserted, and never-existing keys; " +
        "per-(key,version) found-counts and cents recomputed " +
        "independently by the oracle (a bloom false negative or a " +
        "mis-routed shard loses a row and flips the driver red), plus " +
        "skipping-equals-full-scan fingerprints and the structural " +
        "claim that every probe read stayed inside its routed shard. " +
        "100 TB: the full-rewrite store's history audit pays " +
        "per-version manifests over ALL files; here it pays one " +
        "shard's slice of one version's manifest.",
      (s, dir) => {
        import graft.sink.CowSnapshots
        import graft.CdcFixture
        import s.implicits._
        val of = CdcFixture.orders(s, dir)
        val o = of.drop("prio")
        val root = graft.TempRoots
          .freshForDir("graft_cow_hist", dir).toString
        val nSh = 16
        val mx = CdcFixture.maxKey(of)
        val v1 = CowSnapshots.writeVersion(o, root, "doc_id",
          "seed42", nSh, maxRecordsPerFile = 500L)
        val v2 = CowSnapshots.mergeVersion(s, root,
          CdcFixture.toMerge(CdcFixture.tinyBatch(of, mx)),
          "doc_id", "seed42", nSh, maxRecordsPerFile = 500L)
        // probe set mirrors the oracle: the 2 updated keys, the
        // retracted key, the lowest %10==1 (unchanged) key, one
        // inserted key, one never-existing key
        val updKeys = o.filter($"doc_id" % 10 === 5)
          .orderBy($"doc_id").limit(2).select($"doc_id")
          .as[Long].collect().toSeq
        val delKey = o.filter($"doc_id" % 10 === 6)
          .orderBy($"doc_id").limit(1).select($"doc_id")
          .as[Long].head()
        val uncKey = o.filter($"doc_id" % 10 === 1)
          .orderBy($"doc_id").limit(1).select($"doc_id")
          .as[Long].head()
        val probeIds =
          (updKeys ++ Seq(delKey, uncKey, mx + 1L, mx + 9L)).sorted
        val probeDf = probeIds.toDF("doc_id")
        // one routing job for ALL probes (not one per probe) — the
        // driver-side map both versions' lookups share
        val routedShard: Map[Long, Int] = probeIds.toDF("k")
          .select($"k", CowSnapshots.shardOf("seed42", $"k", nSh)
            .as("sh"))
          .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
        def lookup(v: Int, label: String) = {
          // one version's bloom rows, keyed by shard (bounded: one row
          // per physical file)
          val man = CowSnapshots.bloomRows(s, root, v).collect()
            .map(r => (r.getInt(0), r.getString(1),
              java.util.BitSet.valueOf(r.getAs[Array[Byte]]("b1")),
              java.util.BitSet.valueOf(r.getAs[Array[Byte]]("b2"))))
          val byShard = man.groupBy(_._1)
          val nFilesTotal = man.length
          val routed = probeIds.map(k => k -> routedShard(k))
          val passFiles = routed.flatMap { case (k, sh) =>
            byShard.getOrElse(sh, Array.empty).filter { case (_, _, b1, b2) =>
              b1.get(graft.sink.BloomManifest.h1Long(k)) &&
                b2.get(graft.sink.BloomManifest.h2Long(k)) }.map(_._2)
          }.distinct.sorted
          val singleShardBound = routed.forall { case (k, sh) =>
            val opened = byShard.getOrElse(sh, Array.empty).count {
              case (_, _, b1, b2) =>
                b1.get(graft.sink.BloomManifest.h1Long(k)) &&
                  b2.get(graft.sink.BloomManifest.h2Long(k)) }
            opened <= byShard.get(sh).map(_.length).getOrElse(0) &&
              opened < nFilesTotal
          }
          val got = (if (passFiles.isEmpty)
              CowSnapshots.readVersion(s, root, Some(v)).limit(0)
            else s.read.parquet(passFiles: _*))
            .select($"doc_id", $"cents")
            .join(broadcast(probeDf), Seq("doc_id"))
          def fp(df: org.apache.spark.sql.DataFrame): Seq[Any] = df
            .agg(count(lit(1)), sum($"cents"),
              sum(xxhash64($"doc_id", $"cents").cast("decimal(38,0)")))
            .head().toSeq
          val full = CowSnapshots.readVersion(s, root, Some(v))
            .select($"doc_id", $"cents")
            .join(broadcast(probeDf), Seq("doc_id"))
          val equalsFull = fp(got) == fp(full)
          val found = got.groupBy($"doc_id")
            .agg(count(lit(1)).as("nf"), sum($"cents").as("sc"))
            .collect().map(r =>
              r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
          probeIds.map { k =>
            val (nf, sc) = found.getOrElse(k, (0L, 0L))
            (k, label, nf, sc, equalsFull && singleShardBound)
          }
        }
        val rows = lookup(v1, "v1_premerge") ++ lookup(v2, "v2_merged")
        val allOk = rows.forall(_._5)
        rows.map { case (k, l, nf, sc, _) => (k, l, nf, sc, allOk) }
          .toDF("key", "snapshot", "n_found", "cents_found",
            "skipping_within_routed_shard_equals_full_scan")
          .orderBy($"key", $"snapshot")
      },
      Some(s"""
        WITH o AS (
          SELECT o_orderkey AS k,
                 CAST(round(o_totalprice * 100) AS BIGINT) AS c
          FROM orders)${graft.CdcFixture.oracleTinyStateCte("fin",
            withSecond = false)},
        p AS (
          SELECT k FROM fin_uk
          UNION ALL SELECT k FROM fin_dk
          UNION ALL
          (SELECT k FROM o WHERE k % 10 = 1 ORDER BY k LIMIT 1)
          UNION ALL SELECT mx + 1 FROM fin_mx
          UNION ALL SELECT mx + 9 FROM fin_mx)
        SELECT p.k AS key, 'v1_premerge' AS snapshot,
               CAST(count(o.k) AS BIGINT) AS n_found,
               CAST(coalesce(sum(o.c), 0) AS BIGINT) AS cents_found,
               true AS skipping_within_routed_shard_equals_full_scan
        FROM p LEFT JOIN o ON o.k = p.k GROUP BY p.k
        UNION ALL
        SELECT p.k, 'v2_merged',
               CAST(count(fin.k) AS BIGINT),
               CAST(coalesce(sum(fin.c), 0) AS BIGINT), true
        FROM p LEFT JOIN fin ON fin.k = p.k GROUP BY p.k
        ORDER BY key, snapshot""")),

    Q(
      "q444_cow_schema_evolution",
      "SCHEMA EVOLUTION ON THE COPY-ON-WRITE STORE — where the " +
        "file-granular design pays a second dividend: q429's " +
        "evolution needed an explicit read-side conform view over " +
        "whole-corpus snapshots; here the change feed's schema IS the " +
        "new version's schema, the merge writes the added column only " +
        "into the shard groups it rewrites anyway, untouched groups " +
        "null-fill it lazily through the mergeSchema read, and a " +
        "version pinned BEFORE the evolution contains only " +
        "pre-evolution groups — its schema stays its own with NO " +
        "conform logic at all, because the manifest's file list is " +
        "the schema boundary. The tiny delta adds a provenance column " +
        "src ('corrected' on its updates, 'ingested' on its inserts, " +
        "null everywhere else — including kept rows inside rewritten " +
        "shards, conformed with null back-fill). Graded: v2's " +
        "per-src-class rows and cents recomputed independently by the " +
        "oracle from the tiny algebra, the pinned v1 read has NO src " +
        "column, and the evolved version still REUSES the parent's " +
        "untouched file groups — a schema change costs |delta| bytes, " +
        "not a corpus rewrite (the exact thing ALTER TABLE + rewrite " +
        "pipelines pay). 100 TB: adding a column to a 100 TB corpus " +
        "costs the next merge's normal delta write, nothing else.",
      (s, dir) => {
        import graft.sink.CowSnapshots
        import graft.CdcFixture
        import s.implicits._
        val of = CdcFixture.orders(s, dir)
        val o = of.drop("prio")
        val root = graft.TempRoots
          .freshForDir("graft_cow_evo", dir).toString
        val nSh = 16
        val mx = CdcFixture.maxKey(of)
        val v1 = CowSnapshots.writeVersion(o, root, "doc_id",
          "seed42", nSh)
        // the change feed carries a NEW column — that alone evolves
        // the schema of every version published from here on
        val changes = CdcFixture.toMerge(CdcFixture.tinyBatch(of, mx))
          .withColumn("src",
            when($"op" === "update", "corrected")
              .when($"op" === "insert", "ingested"))
        val v2 = CowSnapshots.mergeVersion(s, root, changes,
          "doc_id", "seed42", nSh)
        val pinned = CowSnapshots.readVersion(s, root, Some(v1))
        val pinnedKeepsShape = !pinned.columns.contains("src")
        val evolutionSharesFiles = CowSnapshots.reusesParentEntries(s,
          root, v1, v2, changes, "doc_id", "seed42", nSh)
        CowSnapshots.readVersion(s, root, Some(v2))
          .groupBy(coalesce($"src", lit("none")).as("src_class"))
          .agg(count(lit(1)).as("n_rows"), sum($"cents").as("sum_cents"))
          .select($"src_class", $"n_rows", $"sum_cents",
            lit(pinnedKeepsShape).as("pinned_read_keeps_shape"),
            lit(evolutionSharesFiles).as("evolution_shares_parent_files"))
          .orderBy($"src_class")
      },
      Some(s"""
        WITH o AS (
          SELECT o_orderkey AS k,
                 CAST(round(o_totalprice * 100) AS BIGINT) AS c
          FROM orders)${graft.CdcFixture.oracleTinyStateCte("fin",
            withSecond = false)}
        SELECT CASE WHEN k IN (SELECT k FROM fin_uk) THEN 'corrected'
                    WHEN k > (SELECT mx FROM fin_mx) THEN 'ingested'
                    ELSE 'none' END AS src_class,
               CAST(count(*) AS BIGINT) AS n_rows,
               CAST(sum(c) AS BIGINT) AS sum_cents,
               true AS pinned_read_keeps_shape,
               true AS evolution_shares_parent_files
        FROM fin GROUP BY 1 ORDER BY src_class""")),

    Q(
      "q445_cow_manifest_pruned_diff",
      "MANIFEST-PRUNED SNAPSHOT DIFF — the copy-on-write manifest's " +
        "third dividend (after write amplification q440 and metadata " +
        "sharing q442): two versions that SHARE a shard's file group " +
        "share it by dir-name identity in their manifests, and " +
        "immutable groups mean an identical entry is a PROOF of " +
        "equality — so the diff reads only the shards whose entries " +
        "differ, decided from manifest rows alone with ZERO data " +
        "reads for the pruning decision. q438's full-rewrite diff " +
        "pays an honest corpus-wide full-outer join because its " +
        "rank-based kernel rewrites every shard every version; here " +
        "a tiny CDC merge's diff touches a handful of shard " +
        "directories out of the corpus. Graded: the diff of " +
        "merge(v1, tiny changes) recovers EXACTLY the change set " +
        "(the q438 round-trip theorem, order-independent " +
        "fingerprint over (op, key, effective cents)), per-op key " +
        "counts and before/after cents totals recomputed " +
        "independently by the oracle from the tiny algebra, and the " +
        "structural pruning claims: changed shards under half the " +
        "fleet, and diff(v, v) reads ZERO shards. 100 TB: 'what " +
        "changed between yesterday's corpus and today's' costs the " +
        "CHANGED shards' read — on a CDC cadence, megabytes, not " +
        "100 TB twice.",
      (s, dir) => {
        import graft.sink.CowSnapshots
        import graft.CdcFixture
        import s.implicits._
        val of = CdcFixture.orders(s, dir)
        val o = of.drop("prio")
        val root = graft.TempRoots
          .freshForDir("graft_cow_diff", dir).toString
        val nSh = 16
        val mx = CdcFixture.maxKey(of)
        val v1 = CowSnapshots.writeVersion(o, root, "doc_id",
          "seed42", nSh)
        val changes = CdcFixture.toMerge(CdcFixture.tinyBatch(of, mx))
        val v2 = CowSnapshots.mergeVersion(s, root, changes,
          "doc_id", "seed42", nSh)
        val (nChanged, nTotal, d) =
          CowSnapshots.diffVersions(s, root, v1, v2, "doc_id")
        val pruned = nChanged * 2 < nTotal
        val (selfChanged, _, selfDiff) =
          CowSnapshots.diffVersions(s, root, v2, v2, "doc_id")
        val selfEmpty = selfChanged == 0 && selfDiff.isEmpty
        // the round trip: the diff, normalized to (op, key, effective
        // cents), fingerprints identically to the change set itself
        def fp(df: org.apache.spark.sql.DataFrame): Seq[Any] = df
          .agg(count(lit(1)),
            sum(xxhash64($"op", $"doc_id", $"c").cast("decimal(38,0)")))
          .head().toSeq
        val diffNorm = d.select($"op", $"doc_id",
          when($"op" === "delete", $"before.cents")
            .otherwise($"after.cents").as("c"))
        val recovers = fp(diffNorm) ==
          fp(changes.select($"op", $"doc_id", $"cents".as("c")))
        d.groupBy($"op")
          .agg(count(lit(1)).as("n_keys"),
            sum(coalesce($"before.cents", lit(0L)))
              .as("sum_before_cents"),
            sum(coalesce($"after.cents", lit(0L)))
              .as("sum_after_cents"))
          .select($"op", $"n_keys", $"sum_before_cents",
            $"sum_after_cents",
            lit(recovers).as("diff_recovers_changeset"),
            lit(pruned).as("diff_reads_minority_of_shards"),
            lit(selfEmpty).as("self_diff_reads_zero_shards"))
          .orderBy($"op")
      },
      Some(s"""
        WITH o AS (
          SELECT o_orderkey AS k,
                 CAST(round(o_totalprice * 100) AS BIGINT) AS c
          FROM orders)${graft.CdcFixture.oracleTinyStateCte("fin",
            withSecond = false)}
        SELECT 'delete' AS op, CAST(count(*) AS BIGINT) AS n_keys,
               CAST(sum(c) AS BIGINT) AS sum_before_cents,
               CAST(0 AS BIGINT) AS sum_after_cents,
               true AS diff_recovers_changeset,
               true AS diff_reads_minority_of_shards,
               true AS self_diff_reads_zero_shards
        FROM o WHERE k IN (SELECT k FROM fin_dk)
        UNION ALL
        SELECT 'insert', CAST(${graft.CdcFixture.nInserts} AS BIGINT),
               CAST(0 AS BIGINT),
               CAST(${graft.CdcFixture.nInserts} *
                 ${graft.CdcFixture.insertCents} AS BIGINT),
               true, true, true
        UNION ALL
        SELECT 'update', CAST(count(*) AS BIGINT),
               CAST(sum(c) AS BIGINT),
               CAST(sum(c) + ${graft.CdcFixture.updLow} * count(*)
                 AS BIGINT), true, true, true
        FROM o WHERE k IN (SELECT k FROM fin_uk)
        ORDER BY op""")),

    Q(
      "q446_cow_delta_merge",
      "MERGE-ON-READ DELTAS — the other half of the lakehouse " +
        "write/read trade, beside q440's copy-on-write: a COW merge " +
        "rewrites every TOUCHED SHARD in full, so a 6-key correction " +
        "against 100 TB still rewrites whole-shard gigabytes; " +
        "appendDeltas publishes the op-tagged change rows themselves " +
        "as shard-routed DELTA GROUPS appended to the manifest — " +
        "O(|delta|) bytes written, every parent entry (base AND " +
        "chain) re-listed verbatim, nothing rewritten at all. Reads " +
        "of delta-bearing shards pay a bounded latest-wins merge " +
        "(highest manifest seq per key wins; a delete row erases); " +
        "flat shards stream untouched. The GRADED THEOREM is " +
        "semantic equivalence: the same two change batches applied " +
        "through appendDeltas and through mergeVersion on a sibling " +
        "store produce BIT-IDENTICAL states at every version " +
        "(fingerprint-compared in-engine), with each version's rows " +
        "and cents also recomputed independently by the oracle; " +
        "structurally, each delta publish adds exactly the batch's " +
        "row count in new manifest entries and rewrites zero parent " +
        "groups, and replay of a committed batch id is a pure no-op. " +
        "100 TB: the write-optimized verb for hot CDC streams — " +
        "write cost is the change feed's own bytes; the read-side " +
        "merge is the rent, paid only on delta-bearing shards and " +
        "only until compaction (q447).",
      (s, dir) => {
        import graft.sink.CowSnapshots
        import graft.CdcFixture
        import s.implicits._
        val of = CdcFixture.orders(s, dir)
        val o = of.drop("prio")
        val nSh = 32
        val mx = CdcFixture.maxKey(of)
        val root = graft.TempRoots
          .freshForDir("graft_cow_mor", dir).toString
        val twin = graft.TempRoots
          .freshForDir("graft_cow_mor_twin", dir).toString
        val b0 = CdcFixture.toMerge(CdcFixture.tinyBatch(of, mx))
        val b1 = CdcFixture.toMerge(CdcFixture.tinyBatch2(of, mx))
        val v1 = CowSnapshots.writeVersion(o, root, "doc_id",
          "seed42", nSh)
        val v2 = CowSnapshots.appendDeltas(s, root, b0, "doc_id",
          "seed42", nSh, batchId = Some("b0"))
        val v3 = CowSnapshots.appendDeltas(s, root, b1, "doc_id",
          "seed42", nSh, batchId = Some("b1"))
        // the copy-on-write twin: same feed, rewrite verb. The twins'
        // v1 bases are writeVersion over the SAME frame (identical by
        // construction), so equivalence is graded on the two MERGED
        // versions; every (store, version) is read exactly ONCE — one
        // aggregate serves fingerprint and output stats both
        CowSnapshots.writeVersion(o, twin, "doc_id", "seed42", nSh)
        CowSnapshots.mergeVersion(s, twin, b0, "doc_id", "seed42", nSh)
        CowSnapshots.mergeVersion(s, twin, b1, "doc_id", "seed42", nSh)
        def fp(root0: String, v: Int): Seq[Any] =
          CowSnapshots.readVersion(s, root0, Some(v))
            .agg(count(lit(1)), sum($"cents"),
              sum(xxhash64($"doc_id", $"cents").cast("decimal(38,0)")))
            .head().toSeq
        val fps = Map(v1 -> fp(root, v1), v2 -> fp(root, v2),
          v3 -> fp(root, v3))
        val equivalent = Seq(v2, v3)
          .forall(v => fps(v) == fp(twin, v))
        // structural: each delta publish re-lists EVERY parent entry
        // and adds exactly the batch's rows as new entries
        def es(v: Int) = CowSnapshots.allEntries(s, root, v).toSet
        val (e1, e2, e3) = (es(v1), es(v2), es(v3))
        val nothingRewritten = e1.subsetOf(e2) && e2.subsetOf(e3)
        val deltaBounded =
          (e2 -- e1).toSeq.map(_._3).sum == b0.count() &&
            (e3 -- e2).toSeq.map(_._3).sum == b1.count()
        // effect-once: replaying b0's committed id post-publication
        val replayV = CowSnapshots.appendDeltas(s, root, b0, "doc_id",
          "seed42", nSh, batchId = Some("b0"))
        val replayNoop = replayV == v2 &&
          CowSnapshots.committedVersions(s, root) == Seq(1, 2, 3) &&
          fp(root, v3) == fps(v3)
        val labels = Map(v1 -> "v1_base", v2 -> "v2_after_b0",
          v3 -> "v3_after_b1")
        labels.toSeq.map { case (v, label) =>
          (label, fps(v)(0).asInstanceOf[Long],
            fps(v)(1).asInstanceOf[Long], equivalent,
            nothingRewritten, deltaBounded, replayNoop)
        }.toDF("snapshot", "n_rows", "sum_cents",
            "delta_equals_cow_bitexact",
            "delta_publish_rewrites_nothing",
            "new_entries_bounded_by_batch", "replay_pure_noop")
          .orderBy($"snapshot")
      },
      Some(s"""
        WITH o AS (
          SELECT o_orderkey AS k,
                 CAST(round(o_totalprice * 100) AS BIGINT) AS c
          FROM orders)${graft.CdcFixture.oracleTinyStateCte("fin0",
            withSecond = false)}${graft.CdcFixture.oracleTinyStateCte(
            "fin1", withSecond = true)}
        SELECT 'v1_base' AS snapshot,
               CAST(count(*) AS BIGINT) AS n_rows,
               CAST(sum(c) AS BIGINT) AS sum_cents,
               true AS delta_equals_cow_bitexact,
               true AS delta_publish_rewrites_nothing,
               true AS new_entries_bounded_by_batch,
               true AS replay_pure_noop
        FROM o
        UNION ALL
        SELECT 'v2_after_b0', CAST(count(*) AS BIGINT),
               CAST(sum(c) AS BIGINT), true, true, true, true
        FROM fin0
        UNION ALL
        SELECT 'v3_after_b1', CAST(count(*) AS BIGINT),
               CAST(sum(c) AS BIGINT), true, true, true, true
        FROM fin1
        ORDER BY snapshot""")),

    Q(
      "q447_cow_delta_compaction",
      "DELTA-CHAIN COMPACTION — the maintenance verb that converts " +
        "q446's merge-on-read debt back into free reads: " +
        "compactDeltas folds every delta-bearing shard's resolved " +
        "state into ONE new flat seq-0 group (routing reproduced " +
        "from the manifest's RECORDED table properties — seed, shard " +
        "count, key column ride in the commit rows, the Delta-log " +
        "discipline, so maintenance cannot be mis-parameterized by a " +
        "caller) and RE-LISTS every flat shard verbatim — compaction " +
        "cost scales with the accumulated delta volume's shards, " +
        "never the corpus, and the never-touched majority of the " +
        "ORIGINAL base group is still shared three versions and one " +
        "compaction later. Graded: the compacted version BIT-EQUALS " +
        "the pre-compaction read (fingerprint in-engine, rows and " +
        "cents recomputed independently by the oracle), the " +
        "compacted manifest carries no delta entries, the original " +
        "base group still backs every untouched shard, and a " +
        "post-compaction expire(keep=1) collects the folded chain's " +
        "groups while the still-shared base survives — the " +
        "ref-counted GC composing with merge-on-read. 100 TB: the " +
        "compaction cadence IS the read/write knob — hot tables " +
        "compact nightly at delta cost, cold ones never pay it.",
      (s, dir) => {
        import graft.sink.{CowSnapshots, Fs}
        import graft.CdcFixture
        import s.implicits._
        val of = CdcFixture.orders(s, dir)
        val o = of.drop("prio")
        val nSh = 32
        val mx = CdcFixture.maxKey(of)
        val root = graft.TempRoots
          .freshForDir("graft_cow_compact", dir).toString
        val v1 = CowSnapshots.writeVersion(o, root, "doc_id",
          "seed42", nSh)
        CowSnapshots.appendDeltas(s, root,
          CdcFixture.toMerge(CdcFixture.tinyBatch(of, mx)),
          "doc_id", "seed42", nSh)
        val v3 = CowSnapshots.appendDeltas(s, root,
          CdcFixture.toMerge(CdcFixture.tinyBatch2(of, mx)),
          "doc_id", "seed42", nSh)
        def fp(v: Int): Seq[Any] =
          CowSnapshots.readVersion(s, root, Some(v))
            .agg(count(lit(1)), sum($"cents"),
              sum(xxhash64($"doc_id", $"cents").cast("decimal(38,0)")))
            .head().toSeq
        val fpBefore = fp(v3)
        val v4 = CowSnapshots.compactDeltas(s, root)
        val bitexact = fp(v4) == fpBefore
        val e4 = CowSnapshots.allEntries(s, root, v4)
        val flatAgain = e4.forall(_._4 == 0)
        val e1 = CowSnapshots.allEntries(s, root, v1)
        val baseTok = e1.head._2
        val deltaToks = CowSnapshots.allEntries(s, root, v3)
          .filter(_._4 > 0).map(_._2).distinct
        val baseStillShared = e4.count(_._2 == baseTok) ==
          e1.count { case (sh, _, _, _) =>
            e4.exists(e => e._1 == sh && e._2 == baseTok) } &&
            e4.exists(_._2 == baseTok)
        // retention composes: only v4 survives; the folded delta
        // chain's groups lose their last referrer and die, the base
        // group lives on under v4
        CowSnapshots.expireVersions(s, root, keep = 1)
        val live = Fs.listDirNames(s, s"$root/files").toSet
        val gcComposes = deltaToks.forall(!live.contains(_)) &&
          live.contains(baseTok) &&
          CowSnapshots.committedVersions(s, root) == Seq(v4) &&
          fp(v4) == fpBefore
        CowSnapshots.readVersion(s, root, Some(v4))
          .agg(count(lit(1)).as("n_rows"), sum($"cents").as("sum_cents"))
          .select(lit("v4_compacted").as("snapshot"), $"n_rows",
            $"sum_cents",
            lit(bitexact).as("compaction_bitexact"),
            lit(flatAgain).as("no_delta_entries_remain"),
            lit(baseStillShared).as("untouched_base_group_still_shared"),
            lit(gcComposes).as("expire_collects_folded_chain_only"))
      },
      Some(s"""
        WITH o AS (
          SELECT o_orderkey AS k,
                 CAST(round(o_totalprice * 100) AS BIGINT) AS c
          FROM orders)${graft.CdcFixture.oracleTinyStateCte("fin",
            withSecond = true)}
        SELECT 'v4_compacted' AS snapshot,
               CAST(count(*) AS BIGINT) AS n_rows,
               CAST(sum(c) AS BIGINT) AS sum_cents,
               true AS compaction_bitexact,
               true AS no_delta_entries_remain,
               true AS untouched_base_group_still_shared,
               true AS expire_collects_folded_chain_only
        FROM fin""")),

    Q(
      "q448_cow_chain_point_reads",
      "CHAIN-RESOLVING BLOOM-ROUTED POINT READS — q442's audit over " +
        "versions that CARRY merge-on-read delta chains, the case its " +
        "flat-store form conceded: pointReadLatest routes each probe " +
        "to its one shard DRIVER-SIDE (zero Spark jobs — the XXH64 " +
        "twin the property spec pins to the column kernel), takes the " +
        "version's commit-minted bloom rows for that shard alone, and " +
        "probes the passing files HIGHEST-SEQ-FIRST with early stop, " +
        "so a DELETED key's lookup ends at its delta file's delete " +
        "marker — the base group, which genuinely holds the key's " +
        "pre-delete row and passes its bloom as a true positive, is " +
        "NEVER OPENED (the reader learns the key is gone from " +
        "O(|delta|) bytes), and an updated key's latest value is read " +
        "from the delta files alone. Probes cover updated, deleted, " +
        "unchanged, inserted, and never-existing keys at the flat " +
        "base version AND both delta-bearing versions; per-(key," +
        "version) found-counts and cents recomputed independently by " +
        "the oracle from the two-tiny-batch algebra, the same " +
        "verdicts cross-checked in-engine against the full resolved " +
        "scan, plus the structural claims: every probe's opened files " +
        "stay inside its routed shard and under the version's file " +
        "count, and every delta-decided verdict (updates, deletes, " +
        "inserts at v2/v3) opened NO base file. 100 TB: a point " +
        "lookup between compactions costs one manifest read, one " +
        "shard's bloom rows, and the winning seq level's files.",
      (s, dir) => {
        import graft.sink.CowSnapshots
        import graft.CdcFixture
        import s.implicits._
        val of = CdcFixture.orders(s, dir)
        val o = of.drop("prio")
        val root = graft.TempRoots
          .freshForDir("graft_cow_chainpt", dir).toString
        val nSh = 16
        val mx = CdcFixture.maxKey(of)
        val v1 = CowSnapshots.writeVersion(o, root, "doc_id",
          "seed42", nSh, maxRecordsPerFile = 500L)
        val v2 = CowSnapshots.appendDeltas(s, root,
          CdcFixture.toMerge(CdcFixture.tinyBatch(of, mx)),
          "doc_id", "seed42", nSh)
        val v3 = CowSnapshots.appendDeltas(s, root,
          CdcFixture.toMerge(CdcFixture.tinyBatch2(of, mx)),
          "doc_id", "seed42", nSh)
        val updKeys = o.filter($"doc_id" % 10 === 5)
          .orderBy($"doc_id").limit(2).select($"doc_id")
          .as[Long].collect().toSeq
        val delKey = o.filter($"doc_id" % 10 === 6)
          .orderBy($"doc_id").limit(1).select($"doc_id")
          .as[Long].head()
        val uncKey = o.filter($"doc_id" % 10 === 1)
          .orderBy($"doc_id").limit(1).select($"doc_id")
          .as[Long].head()
        val probeIds =
          (updKeys ++ Seq(delKey, uncKey, mx + 1L, mx + 9L)).sorted
        // the keys whose verdict at a delta-bearing version MUST be
        // decided by delta files alone: everything the chain touched
        val deltaDecided = (updKeys ++ Seq(delKey, mx + 1L)).toSet
        def lookup(v: Int, label: String, chained: Boolean) = {
          val nFilesTotal = CowSnapshots.bloomRows(s, root, v).count()
          val reads = CowSnapshots.pointReadLatest(s, root, v, probeIds)
          // cross-check against the full resolved scan, one job
          val scan = CowSnapshots.readVersion(s, root, Some(v))
            .filter($"doc_id".isin(probeIds: _*))
            .groupBy($"doc_id")
            .agg(count(lit(1)).as("n"), sum($"cents").as("sc"))
            .collect().map(r =>
              r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
          reads.map { pr =>
            val sh = CowSnapshots.shardOfKey("seed42", pr.key, nSh)
            val bounded = pr.filesOpened.size < nFilesTotal &&
              pr.filesOpened.forall(_.contains(s"/shard=$sh/"))
            val skipsBase = !chained ||
              !deltaDecided.contains(pr.key) || pr.resolvedFromDeltaAlone
            val n = pr.rows.size.toLong
            val cents = pr.rows.map(_(1).asInstanceOf[Long]).sum
            val agrees = scan.getOrElse(pr.key, (0L, 0L)) ==
              ((n, if (n == 0) 0L else cents))
            (pr.key, label, n, cents, bounded, skipsBase, agrees)
          }
        }
        val rows = lookup(v1, "v1_base", chained = false) ++
          lookup(v2, "v2_after_b0", chained = true) ++
          lookup(v3, "v3_after_b1", chained = true)
        val allBounded = rows.forall(_._5)
        val allSkip = rows.forall(_._6)
        val allAgree = rows.forall(_._7)
        rows.map { case (k, l, n, c, _, _, _) =>
          (k, l, n, c, allBounded, allSkip, allAgree) }
          .toDF("key", "snapshot", "n_found", "cents_found",
            "reads_bounded_to_routed_shard",
            "delta_verdicts_never_open_base",
            "equals_resolved_scan")
          .orderBy($"key", $"snapshot")
      },
      Some(s"""
        WITH o AS (
          SELECT o_orderkey AS k,
                 CAST(round(o_totalprice * 100) AS BIGINT) AS c
          FROM orders)${graft.CdcFixture.oracleTinyStateCte("fin0",
            withSecond = false)}${graft.CdcFixture.oracleTinyStateCte(
            "fin1", withSecond = true)},
        p AS (
          SELECT k FROM fin0_uk
          UNION ALL SELECT k FROM fin0_dk
          UNION ALL
          (SELECT k FROM o WHERE k % 10 = 1 ORDER BY k LIMIT 1)
          UNION ALL SELECT mx + 1 FROM fin0_mx
          UNION ALL SELECT mx + 9 FROM fin0_mx)
        SELECT p.k AS key, 'v1_base' AS snapshot,
               CAST(count(o.k) AS BIGINT) AS n_found,
               CAST(coalesce(sum(o.c), 0) AS BIGINT) AS cents_found,
               true AS reads_bounded_to_routed_shard,
               true AS delta_verdicts_never_open_base,
               true AS equals_resolved_scan
        FROM p LEFT JOIN o ON o.k = p.k GROUP BY p.k
        UNION ALL
        SELECT p.k, 'v2_after_b0',
               CAST(count(fin0.k) AS BIGINT),
               CAST(coalesce(sum(fin0.c), 0) AS BIGINT),
               true, true, true
        FROM p LEFT JOIN fin0 ON fin0.k = p.k GROUP BY p.k
        UNION ALL
        SELECT p.k, 'v3_after_b1',
               CAST(count(fin1.k) AS BIGINT),
               CAST(coalesce(sum(fin1.c), 0) AS BIGINT),
               true, true, true
        FROM p LEFT JOIN fin1 ON fin1.k = p.k GROUP BY p.k
        ORDER BY key, snapshot""")),

    Q(
      "q450_cow_zone_map_skipping",
      "MANIFEST-CARRIED ZONE MAPS — the third skipping regime the " +
        "commit-minted metadata buys (after q442's point blooms and " +
        "q445's manifest-pruned diff): buildGroup mints per-file " +
        "MIN/MAX for every integral column INTO the same `_bloom` " +
        "manifest rows as the bitmaps — one aggregate, one write, at " +
        "publish — so a RANGE predicate decides its file list from " +
        "manifest rows alone, zero data reads and zero parquet-footer " +
        "opens for the decision (q417's sort-on-write zone maps live " +
        "in footers, which planning must open per file; Delta/Iceberg " +
        "carry min/max in the manifest for exactly this reason). The " +
        "store is published with sortColumns=cents, so each capped " +
        "file covers a narrow cents range and a ~2%% band prunes to " +
        "the 1-2 overlapping files per shard. Graded: the band's " +
        "rows and cents recomputed independently by the oracle, the " +
        "pruned read fingerprint-equal to the full-scan filter, the " +
        "band opening a MINORITY of the version's files, and a " +
        "below-domain band opening ZERO files. 100 TB: a range probe " +
        "costs the overlapping files' bytes; the decision costs one " +
        "manifest read.",
      (s, dir) => {
        import graft.sink.CowSnapshots
        import graft.CdcFixture
        import s.implicits._
        val o = CdcFixture.orders(s, dir).drop("prio")
        val root = graft.TempRoots
          .freshForDir("graft_cow_zone", dir).toString
        // file cap scales with the input so the fleet stays ~40 files
        // at EVERY sf (a fixed cap writes 1000 tiny files at sf0.1 —
        // the q268 small-file pathology — while the pruning audit only
        // needs each file to cover a narrow cents range)
        val cap = math.max(150L, o.count() / 40L)
        val v1 = CowSnapshots.writeVersion(o, root, "doc_id",
          "seed42", 2, maxRecordsPerFile = cap,
          sortColumns = Seq("cents"))
        val (lo, hi) = (20000000L, 21000000L)
        val (opened, total, band) =
          CowSnapshots.readVersionRanged(s, root, v1, "cents", lo, hi)
        def fp(df: org.apache.spark.sql.DataFrame): Seq[Any] = df
          .agg(count(lit(1)), sum($"cents"),
            sum(xxhash64($"doc_id", $"cents").cast("decimal(38,0)")))
          .head().toSeq
        val full = CowSnapshots.readVersion(s, root, Some(v1))
          .where($"cents".between(lo, hi))
        val equalsFull = fp(band) == fp(full)
        val pruned = opened * 2 < total && opened > 0
        val (openedEmpty, _, emptyBand) =
          CowSnapshots.readVersionRanged(s, root, v1, "cents", 1L, 99000L)
        val emptySkips = openedEmpty == 0 && emptyBand.isEmpty
        band.agg(count(lit(1)).as("n_rows"),
            sum($"cents").as("sum_cents"))
          .select($"n_rows", $"sum_cents",
            lit(equalsFull).as("skipping_equals_full_scan"),
            lit(pruned).as("band_opens_minority_of_files"),
            lit(emptySkips).as("below_domain_band_opens_zero_files"))
      },
      Some(s"""
        WITH o AS (
          SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS c
          FROM orders)
        SELECT CAST(count(*) AS BIGINT) AS n_rows,
               CAST(sum(c) AS BIGINT) AS sum_cents,
               true AS skipping_equals_full_scan,
               true AS band_opens_minority_of_files,
               true AS below_domain_band_opens_zero_files
        FROM o WHERE c BETWEEN 20000000 AND 21000000""")),

    Q(
      "q451_cow_diff_driven_view",
      "DIFF-DRIVEN VIEW MAINTENANCE — q436's incremental view algebra " +
        "with the delta feed REPLACED by the store's own " +
        "manifest-pruned diff: the maintained per-priority (count, " +
        "cents) view consumes diffVersions(v1, v2) — whose before/" +
        "after images carry exactly the retraction algebra IVM needs " +
        "— so view upkeep requires NO access to the original change " +
        "feed at all, and its input cost is O(changed shards) decided " +
        "from manifest rows alone (q436's full-rewrite store pays a " +
        "corpus-wide full-outer join to derive the same delta). " +
        "Inserts contribute (+1, +after), deletes retract (-1, " +
        "-before), updates both legs; the maintained state is audited " +
        "bit-equal against a full recompute over v2 (the delta-" +
        "application-commutes-with-aggregation theorem), per-group " +
        "rows and totals recomputed independently by the oracle from " +
        "the tiny algebra, and the diff's pruning graded " +
        "structurally: changed shards a minority of the fleet. " +
        "100 TB: view refresh = changed shards' read + domain-sized " +
        "state update, with provenance (the diff) and maintenance " +
        "(the view) sharing one mechanism.",
      (s, dir) => {
        import graft.sink.CowSnapshots
        import graft.CdcFixture
        import s.implicits._
        val of = CdcFixture.orders(s, dir)
        val root = graft.TempRoots
          .freshForDir("graft_cow_ivm", dir).toString
        val nSh = 16
        val mx = CdcFixture.maxKey(of)
        val v1 = CowSnapshots.writeVersion(of, root, "doc_id",
          "seed42", nSh)
        def viewOf(df: org.apache.spark.sql.DataFrame) = df
          .groupBy($"prio")
          .agg(count(lit(1)).as("n_rows"),
            sum($"cents").as("sum_cents"))
        val state0 = viewOf(CowSnapshots.readVersion(s, root, Some(v1)))
        val changes = CdcFixture.toMerge(
          CdcFixture.tinyBatch(of, mx), withPrio = true)
        val v2 = CowSnapshots.mergeVersion(s, root, changes,
          "doc_id", "seed42", nSh)
        val (nChanged, nTotal, d) =
          CowSnapshots.diffVersions(s, root, v1, v2, "doc_id")
        // the IVM legs, straight off the diff's images: a retraction
        // per before, a contribution per after (an update with an
        // unchanged prio nets 0 rows and the cents delta)
        val contrib = d.select(explode(array(
            struct($"before.prio".as("prio"), lit(-1L).as("dn"),
              (-$"before.cents").as("dc")),
            struct($"after.prio".as("prio"), lit(1L).as("dn"),
              $"after.cents".as("dc")))).as("e"))
          .select($"e.prio", $"e.dn", $"e.dc")
          .where($"prio".isNotNull)
          .groupBy($"prio")
          .agg(sum($"dn").as("dn"), sum($"dc").as("dc"))
        val maintained = state0.join(contrib, Seq("prio"), "full_outer")
          .select($"prio",
            (coalesce($"n_rows", lit(0L)) + coalesce($"dn", lit(0L)))
              .as("n_rows"),
            (coalesce($"sum_cents", lit(0L)) + coalesce($"dc", lit(0L)))
              .as("sum_cents"))
          .filter($"n_rows" > 0)
        def rows(df: org.apache.spark.sql.DataFrame) = df
          .collect().map(r => (r.getString(0), r.getLong(1),
            r.getLong(2))).sortBy(_._1).toSeq
        val got = rows(maintained)
        val matches =
          got == rows(viewOf(CowSnapshots.readVersion(s, root, Some(v2))))
        val prunedDiff = nChanged * 2 < nTotal
        got.map { case (p, n, sc) => (p, n, sc, matches, prunedDiff) }
          .toDF("prio", "n_rows", "sum_cents",
            "maintained_equals_recompute",
            "diff_reads_minority_of_shards")
          .orderBy($"prio")
      },
      Some(s"""
        WITH o AS (
          SELECT o_orderkey AS k,
                 CAST(round(o_totalprice * 100) AS BIGINT) AS c,
                 o_orderpriority AS p
          FROM orders)${graft.CdcFixture.oracleTinyStateCte("fin",
            withSecond = false)},
        finp AS (
          SELECT p, k,
                 CASE WHEN k IN (SELECT k FROM fin_uk)
                      THEN c + ${graft.CdcFixture.updLow} ELSE c END AS c
          FROM o WHERE k NOT IN (SELECT k FROM fin_dk)
          UNION ALL
          SELECT '${graft.CdcFixture.insertPrio}', mx + i,
                 ${graft.CdcFixture.insertCents}
          FROM fin_mx
          CROSS JOIN (SELECT unnest([${(1 to graft.CdcFixture.nInserts)
            .mkString(", ")}]) AS i))
        SELECT p AS prio, CAST(count(*) AS BIGINT) AS n_rows,
               CAST(sum(c) AS BIGINT) AS sum_cents,
               true AS maintained_equals_recompute,
               true AS diff_reads_minority_of_shards
        FROM finp GROUP BY p ORDER BY prio""")),

    Q(
      "q455_cow_chain_ranged_read",
      "CHAIN-AWARE RANGE READ — q450's zone-map skipping completed " +
        "for the version state q450's contract excludes: a version " +
        "that CARRIES merge-on-read delta chains. Per-file skipping " +
        "is unsound on a delta-bearing shard (a chain row can move a " +
        "key INTO or OUT of the band, and a delete's absence is " +
        "invisible to any base file's min/max), so " +
        "readVersionRangedResolved splits the fleet by the manifest " +
        "alone: flat shards prune their file lists from the " +
        "commit-minted zone maps exactly as q450's read does — zero " +
        "data reads for the decision — while the delta-bearing " +
        "shards resolve latest-wins over their full chains first and " +
        "range-filter after. Between compactions the range tax is " +
        "band-overlapping flat files + the touched shards' chains, " +
        "BOTH minorities of the fleet on a CDC cadence — and both " +
        "asserted structurally here: band rows and cents recomputed " +
        "independently by the oracle from the post-delta algebra " +
        "(the updated keys' +7-cent shift and the retracted key's " +
        "absence are IN the graded numbers), the ranged read " +
        "fingerprint-equal to the full resolved scan's band filter, " +
        "flat opens a minority of flat files, and delta-bearing " +
        "shards a minority of the 16-shard fleet. 100 TB: a range " +
        "probe on a live CDC table costs the overlapping flat files " +
        "plus O(touched chains) — never a corpus scan, and never a " +
        "wrong answer bought from a stale zone map.",
      (s, dir) => {
        import graft.sink.CowSnapshots
        import graft.CdcFixture
        import s.implicits._
        val of = CdcFixture.orders(s, dir)
        val o = of.drop("prio")
        val root = graft.TempRoots
          .freshForDir("graft_cow_chainrange", dir).toString
        val nSh = 16
        val mx = CdcFixture.maxKey(of)
        // ~6-10 sorted files per shard at every sf, so each file
        // covers a narrow cents range and the band prunes hard
        val cap = math.max(16L, o.count() / 160L)
        val v1 = CowSnapshots.writeVersion(o, root, "doc_id",
          "seed42", nSh, maxRecordsPerFile = cap,
          sortColumns = Seq("cents"))
        val v2 = CowSnapshots.appendDeltas(s, root,
          CdcFixture.toMerge(CdcFixture.tinyBatch(of, mx)),
          "doc_id", "seed42", nSh)
        val (lo, hi) = (20000000L, 21000000L)
        val rr = CowSnapshots
          .readVersionRangedResolved(s, root, v2, "cents", lo, hi)
        def fp(df: org.apache.spark.sql.DataFrame): Seq[Any] = df
          .agg(count(lit(1)), sum($"cents"),
            sum(xxhash64($"doc_id", $"cents").cast("decimal(38,0)")))
          .head().toSeq
        val full = CowSnapshots.readVersion(s, root, Some(v2))
          .where($"cents".between(lo, hi))
        val equalsFull = fp(rr.df) == fp(full)
        val flatPruned =
          rr.flatFilesOpened * 2 < rr.flatFilesTotal &&
            rr.flatFilesOpened > 0
        val deltaMinority =
          rr.deltaShards > 0 && rr.deltaShards * 2 < rr.nShards
        rr.df.agg(count(lit(1)).as("n_rows"),
            sum($"cents").as("sum_cents"))
          .select($"n_rows", $"sum_cents",
            lit(equalsFull).as("equals_full_resolved_scan"),
            lit(flatPruned).as("flat_band_opens_minority"),
            lit(deltaMinority).as("delta_shards_minority_of_fleet"))
      },
      Some(s"""
        WITH o AS (
          SELECT o_orderkey AS k,
                 CAST(round(o_totalprice * 100) AS BIGINT) AS c
          FROM orders)${graft.CdcFixture.oracleTinyStateCte("fin",
            withSecond = false)}
        SELECT CAST(count(*) AS BIGINT) AS n_rows,
               CAST(sum(c) AS BIGINT) AS sum_cents,
               true AS equals_full_resolved_scan,
               true AS flat_band_opens_minority,
               true AS delta_shards_minority_of_fleet
        FROM fin WHERE c BETWEEN 20000000 AND 21000000"""))
  )

  /** q431's oracle: both EM rounds unrolled as materialized CTE chains
    * (majority init -> M1 -> E1 -> M2 -> E2), generated so the M/E
    * algebra exists ONCE per step shape — the q420/q369 deterministic-
    * iteration discipline. MATERIALIZED is load-bearing: e2 references
    * e1 through m2 AND pi2, and a non-materialized chain re-expands the
    * whole lineage per reference. */
  private def dawidSkeneOracleSql: String = {
    def m(i: Int, in: String): String = {
      // HUGEINT masses: the pi arithmetic multiplies them by 10^6,
      // which bursts BIGINT at ~9e12 mass (the engine's driver math is
      // BigInt for the same reason)
      val masses = (0 to 2).map { a =>
        s"CAST(sum(CASE WHEN l$a = 1 THEN t1 ELSE 0 END) AS HUGEINT) " +
          s"AS a${a}c1, " +
          s"CAST(sum(CASE WHEN l$a = 1 THEN 1000000 - t1 ELSE 0 END) " +
          s"AS HUGEINT) AS a${a}c0"
      }.mkString(", ")
      val cells = (0 to 2).map { a =>
        s"(a${a}c1 + 1000000) * 1000000 // (s1 + 2000000) AS pi${a}_1_1, " +
          s"(s1 - a${a}c1 + 1000000) * 1000000 // (s1 + 2000000) AS pi${a}_1_0, " +
          s"(a${a}c0 + 1000000) * 1000000 // (s0 + 2000000) AS pi${a}_0_1, " +
          s"(s0 - a${a}c0 + 1000000) * 1000000 // (s0 + 2000000) AS pi${a}_0_0"
      }.mkString(", ")
      s"""m$i AS MATERIALIZED (
        SELECT CAST(sum(t1) AS HUGEINT) AS s1,
               CAST(sum(1000000 - t1) AS HUGEINT) AS s0, $masses
        FROM $in),
      pi$i AS MATERIALIZED (
        SELECT s1 * 1000000 // (s1 + s0) AS p1,
               s0 * 1000000 // (s1 + s0) AS p0, $cells
        FROM m$i)"""
    }
    def e(i: Int, in: String): String = {
      def pick(a: Int, cls: Int) =
        s"(CASE WHEN l$a = 1 THEN pi${a}_${cls}_1 ELSE pi${a}_${cls}_0 END)"
      def u(cls: Int, pr: String) =
        s"(((($pr * ${pick(0, cls)}) // 1000000) * ${pick(1, cls)} " +
          s"// 1000000) * ${pick(2, cls)}) // 1000000"
      s"""e$i AS MATERIALIZED (
        SELECT k, c, l0, l1, l2,
               CASE WHEN u1 + u0 = 0 THEN 500000
                    ELSE (u1 * 1000000) // (u1 + u0) END AS t1
        FROM (SELECT k, c, l0, l1, l2,
                     ${u(1, "p1")} AS u1,
                     ${u(0, "p0")} AS u0
              FROM $in CROSS JOIN pi$i))"""
    }
    val finalRows = (for { a <- 0 to 2; cls <- 0 to 1; l <- 0 to 1 }
      yield s"SELECT CAST($a AS BIGINT) AS annotator, " +
        s"CAST($cls AS BIGINT) AS true_class, " +
        s"CAST($l AS BIGINT) AS obs_label, " +
        s"CAST(pi${a}_${cls}_$l AS BIGINT) AS pi_ppm, " +
        s"CAST(p1 AS BIGINT) AS prior1_ppm, " +
        "acc.nc AS n_argmax_correct, acc.ni AS n_items " +
        "FROM pi2 CROSS JOIN acc").mkString(" UNION ALL ")
    s"""
      WITH lb AS MATERIALIZED (
        SELECT k, c,
          CASE WHEN (k * 13 + 1) % 100 < 10 THEN 1 - c ELSE c END AS l0,
          CASE WHEN (k * 29 + 5) % 100 < 25 THEN 1 - c ELSE c END AS l1,
          CASE WHEN (k * 37 + 11) % 100 < 40 THEN 1 - c ELSE c END AS l2
        FROM (SELECT o_orderkey AS k,
                CASE WHEN o_orderkey % 7 < 3 THEN 1 ELSE 0 END AS c
              FROM orders)),
      t0 AS MATERIALIZED (
        SELECT k, c, l0, l1, l2,
               CAST((l0 + l1 + l2) * 1000000 // 3 AS BIGINT) AS t1
        FROM lb),
      ${m(1, "t0")},
      ${e(1, "t0")},
      ${m(2, "e1")},
      ${e(2, "e1")},
      acc AS (
        SELECT CAST(sum(CASE WHEN (CASE WHEN t1 > 500000 THEN 1 ELSE 0
                 END) = c THEN 1 ELSE 0 END) AS BIGINT) AS nc,
               CAST(count(*) AS BIGINT) AS ni
        FROM e2)
      $finalRows
      ORDER BY annotator, true_class, obs_label"""
  }

  /** The calibration ground-truth table shared by q228 (reliability
    * diagram) and q285 (isotonic fit): clicks banded by value
    * (cents div 10000), converted iff the same user purchases within
    * the FORWARD 24 h window — (band, n_clicks, n_converted). One
    * definition so the fit can never band differently from the raw
    * table it smooths. The forward-exists probe is a user-keyed LEFT
    * SEMI join with the 24 h residual band; the band rollup collapses
    * the 10-row domain map-side. */
  def bandedConversions(s: org.apache.spark.sql.SparkSession, dir: String)
      : org.apache.spark.sql.DataFrame = {
    import s.implicits._
    clickConversions(s, dir)
      .select(expr("cents div 10000").as("band"), $"conv")
      .groupBy($"band")
      .agg(count(lit(1)).as("n_clicks"), sum($"conv").as("n_converted"))
  }

  /** The per-click conversion ground truth under the banded rollup:
    * every click with its value cents and a 0/1 `conv` flag — converted
    * iff the same user purchases within the FORWARD 24 h window (a
    * user-keyed LEFT SEMI join with the 24 h residual band). Shared by
    * [[bandedConversions]] (q228/q285's band rollup) and q319's Brier
    * decomposition so 'converted' has exactly one definition across the
    * calibration family. */
  def clickConversions(s: org.apache.spark.sql.SparkSession, dir: String)
      : org.apache.spark.sql.DataFrame = {
    import s.implicits._
    val ev = Tables.t(s, dir, "events")
      .select($"user_id", $"event_type", $"event_id",
        unix_micros($"ts".cast("timestamp")).as("us"),
        expr("cast(round(value * 100) as bigint)").as("cents"))
    val clicks = ev.filter($"event_type" === "click")
      .select($"user_id", $"event_id", $"us", $"cents")
    val purch = ev.filter($"event_type" === "purchase")
      .select($"user_id", $"us".as("pus"))
    val converted = clicks.join(purch,
      clicks("user_id") === purch("user_id") &&
        $"pus" > $"us" && $"pus" - $"us" <= 86400000000L,
      "left_semi")
    clicks
      .join(converted.select($"event_id".as("cid")),
        $"event_id" === $"cid", "left")
      .select($"event_id", $"user_id", $"cents",
        when($"cid".isNotNull, 1L).otherwise(0L).as("conv"))
  }


  /** q373's oracle: the Morton spread (q261's CTE shapes) plus the SAME
    * 8-step Hilbert xy2d walk the native expression runs, unrolled as
    * generated chained CTEs — the curve is bit-verified cross-engine. */
  private def hilbertOracleSql: String = {
    val steps = (0 until 8).map { i =>
      val s = 128 >> i
      s"""h${i + 1} AS (
        SELECT px, sy, file_z, file_lin,
               d + $s * $s * (rx * (3 - ry) + (1 - rx) * ry) AS d,
               CASE WHEN ry = 0 THEN (CASE WHEN rx = 1
                 THEN 255 - y ELSE y END) ELSE x END AS x,
               CASE WHEN ry = 0 THEN (CASE WHEN rx = 1
                 THEN 255 - x ELSE x END) ELSE y END AS y
        FROM (SELECT px, sy, file_z, file_lin, x, y, d,
                     (x // $s) % 2 AS rx, (y // $s) % 2 AS ry
              FROM h$i))"""
    }.mkString(",\n")
    s"""
      WITH base AS (
        SELECT l_partkey % 256 AS px, l_suppkey % 256 AS sy
        FROM lineitem),
      s1 AS (SELECT px, sy,
                    (px | (px << 8)) & 16711935 AS ax,
                    (sy | (sy << 8)) & 16711935 AS bx
             FROM base),
      s2 AS (SELECT px, sy,
                    (ax | (ax << 4)) & 252645135 AS ax,
                    (bx | (bx << 4)) & 252645135 AS bx
             FROM s1),
      s3 AS (SELECT px, sy,
                    (ax | (ax << 2)) & 858993459 AS ax,
                    (bx | (bx << 2)) & 858993459 AS bx
             FROM s2),
      s4 AS (SELECT px, sy,
                    (ax | (ax << 1)) & 1431655765 AS ax,
                    (bx | (bx << 1)) & 1431655765 AS bx
             FROM s3),
      h0 AS (SELECT px, sy,
                    (ax | (bx << 1)) // 1024 AS file_z,
                    px // 4 AS file_lin,
                    px AS x, sy AS y, CAST(0 AS BIGINT) AS d
             FROM s4),
      $steps,
      hz AS (SELECT px, sy, d // 1024 AS file_h, file_z, file_lin
             FROM h8),
      probes AS (
        SELECT 'partkey_quarter' AS probe, file_h, file_z, file_lin
        FROM hz WHERE px < 64
        UNION ALL
        SELECT 'partkey_mid_band', file_h, file_z, file_lin
        FROM hz WHERE px >= 32 AND px < 96
        UNION ALL
        SELECT 'suppkey_quarter' AS probe, file_h, file_z, file_lin
        FROM hz WHERE sy < 64)
      SELECT probe,
             CAST(count(DISTINCT file_h) AS BIGINT) AS files_hilbert,
             CAST(count(DISTINCT file_z) AS BIGINT) AS files_z,
             CAST(count(DISTINCT file_lin) AS BIGINT) AS files_linear,
             CAST(64 AS BIGINT) AS n_files,
             CAST(count(*) AS BIGINT) AS rows_selected
      FROM probes GROUP BY probe ORDER BY probe"""
  }
}
