package graft.operators

import graft.{Q, QueryModule, Tables}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Sequential / longitudinal analytics: per-user history assembly for
  * behavioral-model training, CUSUM change-point detection, the
  * mergeable-sketch scale twin of q203's rolling distinct, and
  * time-to-convert percentiles. The longitudinal layer over the events
  * stream the reference's ingest daemon exists to land (its MySQL sink
  * feeds "analyze with plain SQL" — mysql_public_data_ingestor README);
  * here each one is shaped so the scan-scale work is ONE keyed pass and
  * everything after it runs on a bounded domain.
  */
object SequentialOps extends QueryModule {

  override def queries: Seq[Q] = Seq(
    Q(
      "q216_user_sequences",
      "USER-HISTORY SEQUENCE ASSEMBLY (the behavioral-training-example " +
        "builder: each user's last up-to-8 events as one ordered row — " +
        "what a sequence-model or recsys pipeline feeds as input " +
        "context): per user, the trailing-8 event types joined " +
        "oldest-to-newest with '>', plus span endpoints in epoch-µs. " +
        "The bounded-state shape: a user-keyed row_number DESC window " +
        "caps the carry at K=8 rows per user BEFORE any collect — " +
        "collect_list over raw history is the unbounded-array OOM a " +
        "power user triggers at 100 TB; rank-then-filter never holds " +
        "more than K. The aggregate reuses the window's user_id " +
        "hash partitioning, so ONE row-scale exchange total " +
        "(PlanSpec-gated) — and Catalyst's WindowGroupLimit pushes the " +
        "rank<=8 cap MAP-SIDE, so even that exchange carries at most " +
        "8 rows per (user x input partition): measured shuffle is an " +
        "identical 34.6 MiB at 6M AND at 60M events (2026-08, scale " +
        "probe since deleted; 1.1 s -> " +
        "4.5 s wall) — the carry is bounded by users, not history. " +
        "Ordering is bit-stable on both engines: " +
        "event_id breaks ts ties in the rank AND in the array_sort " +
        "key (us, event_id), and the '>'-joined string compares " +
        "engine-neutrally where array equality hashing would not.",
      (s, dir) => {
        import s.implicits._
        val w = Window.partitionBy($"user_id")
          .orderBy($"us".desc, $"event_id".desc)
        Tables.t(s, dir, "events")
          .select($"user_id", $"event_id", $"event_type",
            unix_micros($"ts".cast("timestamp")).as("us"))
          .withColumn("rn", row_number().over(w))
          .filter($"rn" <= 8)
          .groupBy($"user_id")
          .agg(
            count(lit(1)).as("n_recent"),
            array_join(
              transform(
                array_sort(collect_list(struct($"us", $"event_id",
                  $"event_type"))),
                x => x.getField("event_type")),
              ">").as("seq"),
            min($"us").as("first_us"),
            max($"us").as("last_us"))
          .orderBy($"user_id")
      },
      Some("""
        WITH e AS (
          SELECT user_id, event_id, event_type,
                 epoch_us(CAST(ts AS TIMESTAMP)) AS us,
                 row_number() OVER (PARTITION BY user_id
                                    ORDER BY ts DESC, event_id DESC) AS rn
          FROM events)
        SELECT user_id, CAST(count(*) AS BIGINT) AS n_recent,
               string_agg(event_type, '>' ORDER BY us, event_id) AS seq,
               CAST(min(us) AS BIGINT) AS first_us,
               CAST(max(us) AS BIGINT) AS last_us
        FROM e WHERE rn <= 8
        GROUP BY user_id ORDER BY user_id""")),

    Q(
      "q217_cusum_changepoint",
      "CUSUM CHANGE-POINT DETECTION over daily purchase revenue — the " +
        "sequential drift monitor that catches a persistent small shift " +
        "q206's per-row MAD fence never will (CUSUM accumulates " +
        "evidence across days). The one-sided recurrence S_t = " +
        "max(0, S_{t-1} + x_t - k) looks inherently serial, but " +
        "algebraically S_t = P_t - min(0, min_{j<=t} P_j) where P is " +
        "the running sum of (x_t - k) — so the engine computes it as " +
        "TWO stacked windows (cumsum, then running min) over the " +
        "<=31-row day DOMAIN, after one row-scale (day) aggregate with " +
        "map-side partials (PlanSpec gates that ordering, q209's " +
        "argument). Drift k = mean daily cents (total div n_days, " +
        "exact integer), alarm threshold h = k (one average day's " +
        "revenue of accumulated excess); everything is integer cents " +
        "so the alarm day is bit-stable on any cluster or engine — a " +
        "float CUSUM drifts with summation order precisely when S_t " +
        "hovers at the threshold.",
      (s, dir) => {
        import s.implicits._
        val daily = Tables.t(s, dir, "events")
          .filter($"event_type" === "purchase")
          .groupBy(to_date($"ts").as("d"))
          .agg(sum(expr("cast(round(value * 100) as bigint)")).as("cents"))
        val tot = daily.agg(sum($"cents").as("total"),
          count(lit(1)).as("nd"))
        val wp = Window.orderBy($"d")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        daily.crossJoin(broadcast(tot))
          .withColumn("k", expr("total div nd"))
          .withColumn("p", sum($"cents" - $"k").over(wp))
          .withColumn("m", min($"p").over(wp))
          .select($"d", $"cents", $"k",
            ($"p" - least(lit(0L), $"m")).as("cusum_cents"))
          .withColumn("alarm", $"cusum_cents" > $"k")
          .orderBy($"d")
      },
      Some("""
        WITH daily AS (
          SELECT CAST(ts AS DATE) AS d,
                 CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents
          FROM events WHERE event_type = 'purchase' GROUP BY 1),
        t AS (SELECT CAST(sum(cents) AS BIGINT) AS total,
                     CAST(count(*) AS BIGINT) AS nd FROM daily),
        p AS (
          SELECT d, cents, total // nd AS k,
                 sum(cents - total // nd) OVER (ORDER BY d
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS p
          FROM daily CROSS JOIN t),
        m AS (
          SELECT d, cents, k, p,
                 min(p) OVER (ORDER BY d
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS m
          FROM p)
        SELECT d, cents, k,
               CAST(p - least(0, m) AS BIGINT) AS cusum_cents,
               (p - least(0, m) > k) AS alarm
        FROM m ORDER BY d""")),

    Q(
      "q218_rolling_wau_hll",
      "ROLLING 7-DAY DISTINCT USERS via MERGEABLE HLL SKETCHES — the " +
        "scale path twin of q203's exact dedup-then-x7-fan-out: q203 " +
        "ships |distinct (user, day)| x 7 slim pairs through the " +
        "rolling shuffle; this builds ONE DataSketches HLL per day " +
        "(lgK=12, ~4 KB) in a single raw-event pass with map-side " +
        "sketch merge, fans out only the 31 day-sketches x7, and " +
        "unions <=7 sketches per window end — at 100 TB the rolling " +
        "stage moves kilobytes per day instead of the deduped user " +
        "universe (measured at 60M events: 0.1 MiB total shuffle vs " +
        "the exact q203's 38.8 MiB — ~400x less on the wire — at " +
        "1.75 s vs 2.85 s wall), and per-day sketches persist so " +
        "tomorrow's WAU " +
        "merges in without rescanning history (q152's MV argument " +
        "applied to a sliding window). Window ends land on observed " +
        "active days (same inner join as q203), so the two queries are " +
        "row-aligned and SequentialSpec holds every estimate within " +
        "HLL error of q203's exact count. No SQL oracle: sketch " +
        "internals are engine-specific.",
      (s, dir) => {
        import s.implicits._
        val ev = Tables.t(s, dir, "events")
          .select($"user_id", to_date($"ts").as("d"))
        val daySk = ev.groupBy($"d")
          .agg(expr("hll_sketch_agg(user_id, 12)").as("sk"))
        val act = ev.select($"d").distinct()
        daySk
          .select($"sk", explode(sequence(lit(0), lit(6))).as("x"), $"d")
          .select($"sk", date_add($"d", $"x").as("d"))
          .join(act, Seq("d"))
          .groupBy($"d")
          .agg(expr("hll_sketch_estimate(hll_union_agg(sk))").as("est_wau"),
            count(lit(1)).as("n_days_merged"))
          .orderBy($"d")
      },
      None),

    Q(
      "q219_time_to_convert",
      "TIME-TO-CONVERT PERCENTILES by acquisition channel (exact " +
        "p50/p90/p99 seconds from a user's FIRST click to their FIRST " +
        "subsequent purchase, keyed by the first click's channel — " +
        "q210/q213 say which channel gets credit; this says how LONG " +
        "conversion takes, the latency profile behind attribution- " +
        "window and retargeting choices): first touch per user as " +
        "min(struct(us, event_id, ch)) — the argmin with a bit-stable " +
        "event_id tie-break, computed map-side in ONE aggregate, never " +
        "a sort — inner-joined user-to-user with first purchase, " +
        "strict p_us > c_us, then q168's counting-sort inverse CDF " +
        "over the derived (channel, ttc-seconds) domain with " +
        "cross-multiplied integer thresholds (100*cum >= pct*n). Both " +
        "shuffles are user/channel-keyed; the CDF stage carries " +
        "distinct gap values per channel, not converting users.",
      (s, dir) => {
        import s.implicits._
        val ev = Tables.t(s, dir, "events")
          .select($"user_id", $"event_type", $"event_id",
            unix_micros($"ts".cast("timestamp")).as("us"),
            expr("cast(get_json_object(props, '$.k') as bigint) div 25")
              .as("ch"))
        val fc = ev.filter($"event_type" === "click")
          .groupBy($"user_id")
          .agg(min(struct($"us", $"event_id", $"ch")).as("f"))
          .select($"user_id", $"f.us".as("c_us"), $"f.ch".as("ch"))
        val fp = ev.filter($"event_type" === "purchase")
          .groupBy($"user_id")
          .agg(min(struct($"us", $"event_id")).as("g"))
          .select($"user_id", $"g.us".as("p_us"))
        val ttc = fc.join(fp, Seq("user_id"))
          .filter($"p_us" > $"c_us")
          .select(concat(lit("ch"), $"ch").as("channel"),
            expr("(p_us - c_us) DIV 1000000").as("ttc_s"))
        val counts = ttc.groupBy($"channel", $"ttc_s")
          .agg(count(lit(1)).as("c"))
        val cum = counts.withColumn("cum",
          sum($"c").over(Window.partitionBy($"channel").orderBy($"ttc_s")))
        val tot = counts.groupBy($"channel").agg(sum($"c").as("n"))
        val ps = Seq(("p50", 50), ("p90", 90), ("p99", 99)).toDF("lbl", "pct")
        cum.join(broadcast(tot), Seq("channel"))
          .crossJoin(broadcast(ps))
          .filter($"cum" * 100 >= $"pct" * $"n")
          .groupBy($"channel", $"lbl")
          .agg(min($"ttc_s").as("ttc_s"), first($"n").as("n_converted"))
          .orderBy($"channel", $"lbl")
      },
      Some("""
        WITH e AS (
          SELECT user_id, event_type, event_id,
                 epoch_us(CAST(ts AS TIMESTAMP)) AS us,
                 CAST(json_extract(props, 'k') AS BIGINT) // 25 AS ch
          FROM events),
        fc AS (
          SELECT user_id, us AS c_us, ch FROM (
            SELECT user_id, us, ch,
                   row_number() OVER (PARTITION BY user_id
                                      ORDER BY us, event_id) AS rn
            FROM e WHERE event_type = 'click') WHERE rn = 1),
        fp AS (
          SELECT user_id, us AS p_us FROM (
            SELECT user_id, us,
                   row_number() OVER (PARTITION BY user_id
                                      ORDER BY us, event_id) AS rn
            FROM e WHERE event_type = 'purchase') WHERE rn = 1),
        ttc AS (
          SELECT 'ch' || CAST(ch AS VARCHAR) AS channel,
                 (p_us - c_us) // 1000000 AS ttc_s
          FROM fc JOIN fp USING (user_id) WHERE p_us > c_us),
        c AS (SELECT channel, ttc_s, count(*) AS c FROM ttc GROUP BY 1, 2),
        cum AS (SELECT channel, ttc_s, c,
                       sum(c) OVER (PARTITION BY channel
                                    ORDER BY ttc_s) AS cum
                FROM c),
        t AS (SELECT channel, CAST(sum(c) AS BIGINT) AS n
              FROM c GROUP BY channel),
        p(lbl, pct) AS (VALUES ('p50', 50), ('p90', 90), ('p99', 99))
        SELECT cum.channel, p.lbl, CAST(min(ttc_s) AS BIGINT) AS ttc_s,
               CAST(t.n AS BIGINT) AS n_converted
        FROM cum JOIN t USING (channel) CROSS JOIN p
        WHERE cum * 100 >= p.pct * t.n
        GROUP BY cum.channel, p.lbl, t.n
        ORDER BY channel, lbl""")),

    Q(
      "q239_seasonal_baseline",
      "SEASONAL-NAIVE FORECAST BASELINE — the sanity floor every " +
        "forecasting effort is graded against (M-competition rule: beat " +
        "seasonal-naive or ship nothing): predict each day's purchase " +
        "revenue by the SAME WEEKDAY last week, report per-weekday MAE " +
        "in exact integer cents. The lag is a CALENDAR self-join " +
        "(t.day = p.day + 7) rather than lag(7) over row order — a " +
        "missing day would silently shift a row-offset lag onto the " +
        "wrong weekday, while the calendar join degrades to fewer " +
        "scored days (loud in n_days). Weekday is ISO (Mon=1..Sun=7) " +
        "on both engines: Spark weekday()+1 == DuckDB isodow(). Plan: " +
        "one row-scale (day) aggregate with map-side partials collapses " +
        "events to the <=31-row day domain; the self-join and MAE " +
        "aggregate run on that domain — at 100 TB the wire carries two " +
        "longs per day.",
      (s, dir) => {
        import s.implicits._
        val daily = Tables.t(s, dir, "events")
          .filter($"event_type" === "purchase")
          .groupBy(to_date($"ts").as("d"))
          .agg(sum(expr("cast(round(value * 100) as bigint)")).as("cents"))
        daily.as("t")
          .join(daily.select($"d".as("pd"), $"cents".as("pred")),
            $"d" === date_add($"pd", 7))
          .select((weekday($"d") + 1).as("dow"),
            abs($"cents" - $"pred").as("abs_err"))
          .groupBy($"dow")
          .agg(count(lit(1)).as("n_days"), sum($"abs_err").as("sum_abs_err"))
          .select($"dow", $"n_days", $"sum_abs_err",
            expr("sum_abs_err div n_days").as("mae_cents"))
          .orderBy($"dow")
      },
      Some("""
        WITH daily AS (
          SELECT CAST(ts AS DATE) AS d,
                 CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
                   AS cents
          FROM events WHERE event_type = 'purchase' GROUP BY 1),
        e AS (
          SELECT CAST(isodow(t.d) AS INTEGER) AS dow,
                 abs(t.cents - p.cents) AS abs_err
          FROM daily t JOIN daily p ON t.d = p.d + INTERVAL 7 DAY)
        SELECT dow, CAST(count(*) AS BIGINT) AS n_days,
               CAST(sum(abs_err) AS BIGINT) AS sum_abs_err,
               CAST(sum(abs_err) // count(*) AS BIGINT) AS mae_cents
        FROM e GROUP BY dow ORDER BY dow""")),

    Q(
      "q241_survival_curve",
      "KAPLAN-MEIER CHURN SURVIVAL CURVE with right-censoring — the " +
        "product-limit estimator retention analysis actually needs " +
        "(q91's cohort rate is one point; this is the whole curve, " +
        "censoring-corrected so users still active at the horizon " +
        "don't count as churned): entry = first signup day, duration " +
        "t = days to last activity, censored = last activity within " +
        "3 days of the horizon, S(t) = prod over i<=t of " +
        "(n_i - d_i)/n_i. The sequential product is carried in EXACT " +
        "integer ppm with a per-step floor — S_ppm(t) = " +
        "(S_ppm(t-1) * (n_i - d_i)) div n_i — replayed identically by " +
        "Spark's aggregate() HOF over the collected day-domain array " +
        "and DuckDB's recursive CTE, so the curve is bit-stable where " +
        "a float product would drift with evaluation order. Plan: two " +
        "row-scale (user) aggregates (entry, last) merged in one " +
        "shuffle, the horizon as a 1-row broadcast, then EVERYTHING " +
        "runs on the <=31-row duration domain (reverse-cumsum risk " +
        "set, quadratic-in-31 fold) — at 100 TB the wire carries one " +
        "row per user, the curve costs nothing.",
      (s, dir) => {
        import s.implicits._
        val ev = Tables.t(s, dir, "events")
          .select($"user_id", to_date($"ts").as("d"), $"event_type")
        val entry = ev.filter($"event_type" === "signup")
          .groupBy($"user_id").agg(min($"d").as("e"))
        val lastd = ev.groupBy($"user_id").agg(max($"d").as("l"))
        val byT = entry.join(lastd, Seq("user_id"))
          .crossJoin(broadcast(ev.agg(max($"d").as("h"))))
          .select(datediff($"l", $"e").cast("long").as("t"),
            (datediff($"h", $"l") < 3).as("censored"))
          .groupBy($"t")
          .agg(count(lit(1)).as("m"),
            sum(when(!$"censored", 1L).otherwise(0L)).as("dd"))
        val wRev = Window.orderBy($"t")
          .rowsBetween(Window.currentRow, Window.unboundedFollowing)
        byT.withColumn("n", sum($"m").over(wRev)) // at-risk: duration >= t
          .select(struct($"t", $"n", $"dd").as("r"))
          .agg(sort_array(collect_list($"r")).as("a"))
          .select(expr("""
            inline(transform(sequence(1, size(a)), k -> struct(
              a[k-1].t AS t,
              a[k-1].n AS n_at_risk,
              a[k-1].dd AS n_deaths,
              aggregate(slice(a, 1, k), 1000000L,
                (acc, x) -> (acc * (x.n - x.dd)) div x.n) AS surv_ppm)))"""))
          .orderBy($"t")
      },
      Some("""
        WITH RECURSIVE ev AS (
          SELECT user_id, CAST(ts AS DATE) AS d, event_type FROM events),
        entry AS (SELECT user_id, min(d) AS e FROM ev
                  WHERE event_type = 'signup' GROUP BY 1),
        lastd AS (SELECT user_id, max(d) AS l FROM ev GROUP BY 1),
        hz AS (SELECT max(d) AS h FROM ev),
        u AS (
          SELECT CAST(lastd.l - entry.e AS BIGINT) AS t,
                 (hz.h - lastd.l < 3) AS censored
          FROM entry JOIN lastd USING (user_id) CROSS JOIN hz),
        byt AS (
          SELECT t, CAST(count(*) AS BIGINT) AS m,
                 CAST(sum(CASE WHEN censored THEN 0 ELSE 1 END) AS BIGINT)
                   AS dd
          FROM u GROUP BY 1),
        km AS (
          SELECT t, m, dd,
                 CAST(sum(m) OVER (ORDER BY t ROWS BETWEEN CURRENT ROW
                   AND UNBOUNDED FOLLOWING) AS BIGINT) AS n,
                 CAST(row_number() OVER (ORDER BY t) AS BIGINT) AS rk
          FROM byt),
        s(rk, t, n, dd, surv) AS (
          SELECT rk, t, n, dd, (1000000 * (n - dd)) // n
          FROM km WHERE rk = 1
          UNION ALL
          SELECT k.rk, k.t, k.n, k.dd, (s.surv * (k.n - k.dd)) // k.n
          FROM s JOIN km k ON k.rk = s.rk + 1)
        SELECT t, n AS n_at_risk, dd AS n_deaths,
               CAST(surv AS BIGINT) AS surv_ppm
        FROM s ORDER BY t""")),

    Q(
      "q249_autocorrelation",
      "EXACT AUTOCORRELATION of daily revenue at lags 1 and 7 — the " +
        "seasonality detector that justifies (or refutes) q239's weekly " +
        "baseline: acf_k = sum(u_t * u_{t+k}) / sum(u_t^2) with " +
        "mean-clearing done WITHOUT division — u_t = n*c_t - S (every " +
        "u is an exact integer; the float 'subtract the mean' version " +
        "smears with accumulation order). Lag pairing is the q239 " +
        "CALENDAR join (t+k must exist as a date), never a row offset. " +
        "The e6 view divides through DECIMAL internally (num*1e6 " +
        "crosses int64 at sf0.1) and emits only bigints, q208's " +
        "rendering rule; negative correlations truncate toward zero " +
        "identically on both engines (IntegralDivide == //). Plan: one " +
        "row-scale (day) aggregate; the lag join, variance, and both " +
        "numerators live on the <=31-row day domain crossed with the " +
        "2-row lag table.",
      (s, dir) => {
        import s.implicits._
        val daily = Tables.t(s, dir, "events")
          .filter($"event_type" === "purchase")
          .groupBy(to_date($"ts").as("d"))
          .agg(sum(expr("cast(round(value * 100) as bigint)")).as("c"))
        val tot = broadcast(daily.agg(count(lit(1)).as("n"),
          sum($"c").as("ss")))
        val u = daily.crossJoin(tot)
          .select($"d", ($"n" * $"c" - $"ss").as("u"))
        val den = broadcast(u.agg(sum($"u" * $"u").as("den")))
        val lags = Seq(1, 7).toDF("lag")
        u.crossJoin(broadcast(lags))
          .join(u.select($"d".as("pd"), $"u".as("pu")),
            expr("d = date_add(pd, lag)"))
          .groupBy($"lag")
          .agg(count(lit(1)).as("n_pairs"), sum($"pu" * $"u").as("num"))
          .crossJoin(den)
          .select($"lag", $"n_pairs",
            expr("cast((cast(num as decimal(38,0)) * 1000000) div den as bigint)")
              .as("acf_e6"))
          .orderBy($"lag")
      },
      Some("""
        WITH daily AS (
          SELECT CAST(ts AS DATE) AS d,
                 CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS c
          FROM events WHERE event_type = 'purchase' GROUP BY 1),
        t AS (SELECT CAST(count(*) AS BIGINT) AS n,
                     CAST(sum(c) AS BIGINT) AS ss FROM daily),
        u AS (SELECT d, n * c - ss AS u FROM daily, t),
        den AS (SELECT CAST(sum(u * u) AS BIGINT) AS den FROM u),
        l(lag) AS (VALUES (1), (7)),
        p AS (
          SELECT l.lag, a.u AS pu, b.u AS u
          FROM u a JOIN l ON TRUE
          JOIN u b ON b.d = a.d + CAST(l.lag AS INTEGER))
        SELECT CAST(lag AS INTEGER) AS lag,
               CAST(count(*) AS BIGINT) AS n_pairs,
               CAST((CAST(sum(pu * u) AS HUGEINT) * 1000000) // den.den
                 AS BIGINT) AS acf_e6
        FROM p, den GROUP BY lag, den.den ORDER BY lag""")),

    Q(
      "q255_seasonal_indices",
      "MULTIPLICATIVE SEASONAL INDICES by ISO weekday — the classical " +
        "decomposition step between q249 (detects weekly structure) and " +
        "q239 (exploits it): index(w) = mean daily revenue on weekday w " +
        "over the overall daily mean, in cross-multiplied basis points " +
        "— (S_w * n * 10^4) div (n_w * S), every term an exact integer " +
        "so the indices are order-independent (a float mean-of-means " +
        "drifts) and they average to ~10000 by construction (the spec's " +
        "telescoping check). Plan: one row-scale (day) aggregate; the " +
        "weekday collapse and the cross-multiplication run on the " +
        "7-row domain against a 1-row broadcast total.",
      (s, dir) => {
        import s.implicits._
        val daily = Tables.t(s, dir, "events")
          .filter($"event_type" === "purchase")
          .groupBy(to_date($"ts").as("d"))
          .agg(sum(expr("cast(round(value * 100) as bigint)")).as("c"))
        daily.select((weekday($"d") + 1).as("dow"), $"c")
          .groupBy($"dow")
          .agg(count(lit(1)).as("n_days"), sum($"c").as("cents"))
          .crossJoin(broadcast(daily.agg(count(lit(1)).as("n"),
            sum($"c").as("tot"))))
          .select($"dow", $"n_days", $"cents",
            expr("(cents * n * 10000) div (n_days * tot)").as("index_bp"))
          .orderBy($"dow")
      },
      Some("""
        WITH daily AS (
          SELECT CAST(ts AS DATE) AS d,
                 CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS c
          FROM events WHERE event_type = 'purchase' GROUP BY 1),
        t AS (SELECT CAST(count(*) AS BIGINT) AS n,
                     CAST(sum(c) AS BIGINT) AS tot FROM daily),
        w AS (
          SELECT CAST(isodow(d) AS INTEGER) AS dow,
                 CAST(count(*) AS BIGINT) AS n_days,
                 CAST(sum(c) AS BIGINT) AS cents
          FROM daily GROUP BY 1)
        SELECT dow, n_days, cents,
               CAST((cents * n * 10000) // (n_days * tot) AS BIGINT)
                 AS index_bp
        FROM w, t ORDER BY dow""")),

    Q(
      "q258_bitmap_rolling_wau",
      "EXACT ROLLING WAU via native MERGEABLE BITMAPS — the third " +
        "physical strategy for windowed COUNT DISTINCT, completing the " +
        "ladder: q203 explodes deduped pairs and re-distincts (exact, " +
        "shuffles user rows), q218 unions HLL sketches (kilobytes, " +
        "~2% error), THIS unions per-day BITMAPS (one bit per user — " +
        "exact AND constant-size: merging 7 days costs O(maxId/8) " +
        "bytes, not a row shuffle). Per-day sets build in ONE " +
        "BitmapSetAgg pass straight off raw events (set semantics — " +
        "no pre-distinct needed, duplicates are idempotent bit-sets " +
        "with map-side combine); the x7 fan-out then carries ~190-byte " +
        "day bitmaps, and the window union is a bitwise-OR aggregate. " +
        "SAME ORACLE AS q203 — a brand-new native aggregate proven " +
        "bit-exact against the relational strategy. Dense-id contract " +
        "stated in BitmapAgg (O(maxId) bits/group; Roaring or q218 for " +
        "sparse domains; loud guard on out-of-range ids).",
      (s, dir) => {
        import graft.catalyst.BitmapAgg.{bitmap_agg, bitmap_card, bitmap_or_card_agg}
        import s.implicits._
        val dayBm = Tables.t(s, dir, "events")
          .select($"user_id", to_date($"ts").as("d"))
          .groupBy($"d").agg(bitmap_agg($"user_id").as("bm"))
        val dau = dayBm.select($"d", bitmap_card($"bm").as("n_dau"))
        val wau = dayBm
          .select(explode(sequence(lit(0), lit(6))).as("x"), $"d", $"bm")
          .select(date_add($"d", $"x").as("d"), $"bm")
          .groupBy($"d").agg(bitmap_or_card_agg($"bm").as("n_wau"))
        dau.join(wau, Seq("d"))
          .select($"d", $"n_dau", $"n_wau",
            expr("(n_dau * 10000) DIV n_wau").as("stickiness_bp"))
          .orderBy($"d")
      },
      Some("""
        WITH ud AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events),
        dau AS (SELECT d, count(*) AS n_dau FROM ud GROUP BY d),
        ex AS (SELECT user_id, d + CAST(x AS INTEGER) AS d
               FROM ud, (SELECT unnest(generate_series(0, 6)) AS x)),
        wau AS (SELECT d, count(DISTINCT user_id) AS n_wau FROM ex GROUP BY d)
        SELECT dau.d, n_dau, n_wau,
               CAST((n_dau * 10000) // n_wau AS BIGINT) AS stickiness_bp
        FROM dau JOIN wau ON dau.d = wau.d
        ORDER BY dau.d""")),

    Q(
      "q297_ewma_forecast",
      "EWMA FORECAST with a DYADIC decay — the smoothing tier between " +
        "q239's seasonal-naive floor and a real model, made EXACT by " +
        "picking alpha = 1/2: the one-step forecast " +
        "f(d) = sum_{k=1..10} y(d-k) * 2^(10-k) / 1023 is a windowed " +
        "weighted sum whose weights are powers of two, so the whole " +
        "recurrence collapses to integer arithmetic (no serial state, " +
        "no float accumulation — the EWMA identity S_t = aY + (1-a)S " +
        "unrolled to a 10-day horizon; the 2^-10 tail is the " +
        "documented truncation). Forecasts join actuals on the " +
        "calendar (q239's missing-day-proof join) and per-weekday MAE " +
        "in cents lands beside the seasonal-naive's for a direct " +
        "which-baseline-wins read. Plan: one row-scale day aggregate, " +
        "then a 10-way calendar self-join ON THE DAY DOMAIN (<= 310 " +
        "joined rows at any data scale) — the wire carries two longs " +
        "per day.",
      (s, dir) => {
        import s.implicits._
        val daily = Tables.t(s, dir, "events")
          .filter($"event_type" === "purchase")
          .groupBy(to_date($"ts").as("d"))
          .agg(sum(expr("cast(round(value * 100) as bigint)")).as("cents"))
          .localCheckpoint(true) // <=31-row day domain, three consumers
        val lags = daily.as("t")
          .crossJoin(Seq.range(1, 11).toDF("k"))
          .select(date_add($"d", $"k").as("d"),
            // weight 2^(10-k): most recent day (k=1) weighs 512
            expr("cast(shiftleft(1, 10 - k) as bigint) * cents")
              .as("w_cents"),
            expr("cast(shiftleft(1, 10 - k) as bigint)").as("w"))
        val fc = lags.groupBy($"d")
          .agg(sum($"w_cents").as("num"), sum($"w").as("den"))
          // a full 10-day history sums den to 1023; partial histories
          // (the first days) renormalize by their own den — loud in den
          .filter($"den" === 1023)
          .select($"d", expr("num div den").as("forecast_cents"))
        daily.join(fc, Seq("d"))
          .select((weekday($"d") + 1).as("dow"),
            abs($"cents" - $"forecast_cents").as("abs_err"))
          .groupBy($"dow")
          .agg(count(lit(1)).as("n_days"), sum($"abs_err").as("sum_abs_err"),
            expr("sum(abs_err) div count(1)").as("mae_cents"))
          .orderBy($"dow")
      },
      Some("""
        WITH daily AS (
          SELECT CAST(ts AS DATE) AS d,
                 CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
                   AS cents
          FROM events WHERE event_type = 'purchase' GROUP BY 1),
        lags AS (
          SELECT d + CAST(k.k AS INTEGER) AS d,
                 (1 << (10 - k.k)) * cents AS w_cents,
                 (1 << (10 - k.k)) AS w
          FROM daily, (SELECT unnest(range(1, 11)) AS k) k),
        fc AS (
          SELECT d, CAST(sum(w_cents) AS BIGINT) AS num,
                 CAST(sum(w) AS BIGINT) AS den
          FROM lags GROUP BY d HAVING CAST(sum(w) AS BIGINT) = 1023),
        j AS (
          SELECT isodow(daily.d) AS dow,
                 abs(daily.cents - (fc.num // fc.den)) AS abs_err
          FROM daily JOIN fc ON daily.d = fc.d)
        SELECT CAST(dow AS INTEGER) AS dow,
               count(*) AS n_days,
               CAST(sum(abs_err) AS BIGINT) AS sum_abs_err,
               CAST(sum(abs_err) // count(*) AS BIGINT) AS mae_cents
        FROM j GROUP BY dow ORDER BY dow""")),

    Q(
      "q324_brown_trend_forecast",
      "BROWN'S DOUBLE-EXPONENTIAL TREND FORECAST — the trend-aware " +
        "rung above q297's flat EWMA (which lags every ramp by " +
        "construction): smooth the daily series twice with q297's " +
        "dyadic alpha=1/2 kernel (S1 over actuals, S2 over S1 — both " +
        "the SAME 10-day power-of-two unroll, truncation documented " +
        "there) and forecast f = 2*S1 - S2 + (S1 - S2) = 3*S1 - 2*S2 " +
        "(the level-plus-trend identity at alpha=1/2). Carried EXACTLY " +
        "as integer rationals over the fixed denominators 1023 and " +
        "1023^2 — f's numerator 3*1023*num1 - 2*num2 is the ONE signed " +
        "quantity (a sharp decline makes the trend extrapolate below " +
        "zero), so its div pulls the sign out (the cross-engine " +
        "truncate-vs-floor rule). Per-weekday MAE in cents lands " +
        "beside q297's and q239's for the three-way which-baseline-" +
        "wins read. Plan: one row-scale day aggregate, then TWO chained " +
        "10-way calendar self-joins on the <=31-row day domain — " +
        "bounded work at any data scale.",
      (s, dir) => {
        import s.implicits._
        val daily = Tables.t(s, dir, "events")
          .filter($"event_type" === "purchase")
          .groupBy(to_date($"ts").as("d"))
          .agg(sum(expr("cast(round(value * 100) as bigint)")).as("cents"))
          .localCheckpoint(true) // <=31-row day domain, three consumers
        val ks = Seq.range(1, 11).toDF("k")
        def smooth(src: org.apache.spark.sql.DataFrame, in: String,
            out: String) = src
          .crossJoin(ks)
          .select(date_add($"d", $"k").as("d"),
            (expr("cast(shiftleft(1, 10 - k) as bigint)") * col(in))
              .as("w_num"),
            expr("cast(shiftleft(1, 10 - k) as bigint)").as("w"))
          .groupBy($"d")
          .agg(sum($"w_num").as(out), sum($"w").as("den"))
          .filter($"den" === 1023).drop("den")
        val s1 = smooth(daily, "cents", "num1").localCheckpoint(true)
        val s2 = smooth(s1, "num1", "num2")
        val fc = s1.join(s2, Seq("d"))
          .select($"d",
            expr("CASE WHEN 3 * 1023 * num1 - 2 * num2 >= 0 THEN 1 " +
              "ELSE -1 END * (abs(3 * 1023 * num1 - 2 * num2) div " +
              "1046529)").as("forecast_cents"))
        daily.join(fc, Seq("d"))
          .select((weekday($"d") + 1).as("dow"),
            abs($"cents" - $"forecast_cents").as("abs_err"))
          .groupBy($"dow")
          .agg(count(lit(1)).as("n_days"), sum($"abs_err").as("sum_abs_err"),
            expr("sum(abs_err) div count(1)").as("mae_cents"))
          .orderBy($"dow")
      },
      Some("""
        WITH daily AS (
          SELECT CAST(ts AS DATE) AS d,
                 CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
                   AS cents
          FROM events WHERE event_type = 'purchase' GROUP BY 1),
        ks AS (SELECT unnest(range(1, 11)) AS k),
        s1 AS (
          SELECT d + CAST(k AS INTEGER) AS d,
                 CAST(sum((1 << (10 - k)) * cents) AS BIGINT) AS num1
          FROM daily, ks GROUP BY 1
          HAVING CAST(sum(1 << (10 - k)) AS BIGINT) = 1023),
        s2 AS (
          SELECT d + CAST(k AS INTEGER) AS d,
                 CAST(sum((1 << (10 - k)) * num1) AS BIGINT) AS num2
          FROM s1, ks GROUP BY 1
          HAVING CAST(sum(1 << (10 - k)) AS BIGINT) = 1023),
        fc AS (
          SELECT s1.d,
                 (CASE WHEN 3 * 1023 * num1 - 2 * num2 >= 0 THEN 1
                   ELSE -1 END)
                 * (abs(3 * 1023 * num1 - 2 * num2) // 1046529)
                   AS forecast_cents
          FROM s1 JOIN s2 ON s1.d = s2.d),
        j AS (
          SELECT isodow(daily.d) AS dow,
                 abs(daily.cents - fc.forecast_cents) AS abs_err
          FROM daily JOIN fc ON daily.d = fc.d)
        SELECT CAST(dow AS INTEGER) AS dow,
               count(*) AS n_days,
               CAST(sum(abs_err) AS BIGINT) AS sum_abs_err,
               CAST(sum(abs_err) // count(*) AS BIGINT) AS mae_cents
        FROM j GROUP BY dow ORDER BY dow""")),

    Q(
      "q331_pinball_loss",
      "PINBALL (QUANTILE) LOSS LEADERBOARD — MAE (q297/q324's metric) " +
        "prices over- and under-forecast equally, which no capacity " +
        "planner believes; pinball loss at tau grades a forecast as " +
        "the tau-quantile estimate it implicitly is: L = max(tau*(y-f)," +
        " (tau-1)*(y-f)), carried exactly in DECI-CENTS (tau in tenths " +
        "{1, 5, 9}, both branches integer products, max of two " +
        "bigints). Two forecasters from this module's own family — " +
        "naive-yesterday (the floor every forecast must beat) and " +
        "q297's 10-day dyadic EWMA — against the same actuals, a " +
        "(forecaster x tau) 6-row leaderboard with exact mean loss " +
        "(sum div n). The read: tau=1 punishes over-forecast 9:1, so " +
        "a smoother that lags ramps (EWMA) wins there and loses at " +
        "tau=9 — visible in one table. Plan: one row-scale day " +
        "aggregate; both forecasts are calendar self-joins on the " +
        "<=31-row day domain; the loss rollup is O(1).",
      (s, dir) => {
        import s.implicits._
        val daily = Tables.t(s, dir, "events")
          .filter($"event_type" === "purchase")
          .groupBy(to_date($"ts").as("d"))
          .agg(sum(expr("cast(round(value * 100) as bigint)")).as("cents"))
          .localCheckpoint(true)
        val naive = daily.select(date_add($"d", 1).as("d"),
          $"cents".as("f"), lit("naive_yesterday").as("forecaster"))
        val ewma = daily
          .crossJoin(Seq.range(1, 11).toDF("k"))
          .select(date_add($"d", $"k").as("d"),
            (expr("cast(shiftleft(1, 10 - k) as bigint)") * $"cents")
              .as("w_cents"),
            expr("cast(shiftleft(1, 10 - k) as bigint)").as("w"))
          .groupBy($"d")
          .agg(sum($"w_cents").as("num"), sum($"w").as("den"))
          .filter($"den" === 1023)
          .select($"d", expr("num div den").as("f"),
            lit("ewma_dyadic").as("forecaster"))
        daily.join(naive.unionByName(ewma), Seq("d"))
          .crossJoin(Seq(1L, 5L, 9L).toDF("tau_tenths"))
          .select($"forecaster", $"tau_tenths",
            greatest($"tau_tenths" * ($"cents" - $"f"),
              ($"tau_tenths" - 10) * ($"cents" - $"f"))
              .as("loss_deci"))
          .groupBy($"forecaster", $"tau_tenths")
          .agg(count(lit(1)).as("n_days"),
            sum($"loss_deci").as("total_loss_deci"),
            expr("sum(loss_deci) div count(1)").as("mean_loss_deci"))
          .orderBy($"forecaster", $"tau_tenths")
      },
      Some("""
        WITH daily AS (
          SELECT CAST(ts AS DATE) AS d,
                 CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
                   AS cents
          FROM events WHERE event_type = 'purchase' GROUP BY 1),
        naive AS (
          SELECT d + 1 AS d, cents AS f, 'naive_yesterday' AS forecaster
          FROM daily),
        ewma AS (
          SELECT d + CAST(k AS INTEGER) AS d,
                 CAST(sum((1 << (10 - k)) * cents) AS BIGINT) AS num,
                 CAST(sum(1 << (10 - k)) AS BIGINT) AS den
          FROM daily, (SELECT unnest(range(1, 11)) AS k) ks
          GROUP BY 1 HAVING CAST(sum(1 << (10 - k)) AS BIGINT) = 1023),
        fc AS (
          SELECT d, f, forecaster FROM naive
          UNION ALL
          SELECT d, num // den AS f, 'ewma_dyadic' FROM ewma),
        l AS (
          SELECT fc.forecaster, t.tau_tenths,
                 greatest(t.tau_tenths * (daily.cents - fc.f),
                          (t.tau_tenths - 10) * (daily.cents - fc.f))
                   AS loss_deci
          FROM daily JOIN fc USING (d)
          CROSS JOIN (SELECT unnest([1, 5, 9]) AS tau_tenths) t)
        SELECT forecaster, CAST(tau_tenths AS BIGINT) AS tau_tenths,
               count(*) AS n_days,
               CAST(sum(loss_deci) AS BIGINT) AS total_loss_deci,
               CAST(sum(loss_deci) // count(*) AS BIGINT)
                 AS mean_loss_deci
        FROM l GROUP BY 1, 2 ORDER BY forecaster, tau_tenths""")),

    Q(
      "q332_watermark_lateness_audit",
      "WATERMARK-LATENESS AUDIT FOR A BACKFILL REPLAY — the batch " +
        "measurement that says what a withWatermark() threshold WOULD " +
        "drop (q73 silently drops; this counts first) in the replay " +
        "scenario where watermarks actually bite: live ingest is " +
        "nearly event-time-ordered (measured here: the fixture's " +
        "event_id sequence has ZERO cross-bucket lateness), but a " +
        "BACKFILL replays per-user-compacted storage user by user, so " +
        "event time interleaves across the whole retention window and " +
        "a streaming job's watermark sees almost everything as late — " +
        "the classic reason backfills must re-sort or disable " +
        "watermarking. Arrival unit = user (the replay's file grain); " +
        "the watermark before user u = max event time over users " +
        "< u, computed as a per-user max (map-side) + prefix-max over " +
        "the user domain — the two-phase shape, never a row-scale " +
        "unpartitioned window — broadcast back onto the scan. Output: " +
        "capped lateness-DAYS histogram with per-bin drop verdicts at " +
        "a 1-day watermark, plus the zero-lateness live-order control " +
        "row (late_days = -1) proving the ingest sequence itself is " +
        "watermark-safe. Plan: one scan + one user-domain aggregate + " +
        "a broadcast join — no row-scale shuffle beyond user_id.",
      (s, dir) => {
        import s.implicits._
        val ev = Tables.t(s, dir, "events")
          .select($"event_id", $"user_id",
            unix_micros($"ts".cast("timestamp")).as("us"))
          .localCheckpoint(true) // feeds the replay audit + the control
        val userMax = ev.groupBy($"user_id").agg(max($"us").as("mx"))
          .withColumn("wm_prev", max($"mx").over(
            // prefix max over the USER domain, exclusive — the
            // watermark when user u's replay file starts
            Window.orderBy($"user_id")
              .rowsBetween(Window.unboundedPreceding, -1)))
          .select($"user_id", $"wm_prev")
        val replay = ev.join(broadcast(userMax), Seq("user_id"))
          .select(least(
            expr("greatest(coalesce(wm_prev - us, 0), 0) div 86400000000"),
            lit(31L)).as("late_days"))
          .groupBy($"late_days")
          .agg(count(lit(1)).as("n_events"))
          .withColumn("dropped_at_1day", $"late_days" > 1)
        // control: live arrival order (event_id, 1000-event buckets)
        // measures zero lateness — emitted as the late_days = -1 row
        val bkts = ev.select($"us", expr("event_id div 1000").as("bkt"))
        val bktMax = bkts.groupBy($"bkt").agg(max($"us").as("mx"))
          .withColumn("wm_prev", max($"mx").over(
            Window.orderBy($"bkt")
              .rowsBetween(Window.unboundedPreceding, -1)))
          .select($"bkt", $"wm_prev")
        val control = bkts.join(broadcast(bktMax), Seq("bkt"))
          .agg(sum(when(coalesce($"wm_prev" - $"us", lit(0L)) > 0, 1L)
            .otherwise(0L)).as("n_events"))
          .select(lit(-1L).as("late_days"), $"n_events",
            lit(false).as("dropped_at_1day"))
        control.unionByName(replay).orderBy($"late_days")
      },
      Some("""
        WITH ev AS (
          SELECT event_id, user_id,
                 epoch_us(CAST(ts AS TIMESTAMP)) AS us
          FROM events),
        user_max AS (
          SELECT user_id, max(us) AS mx FROM ev GROUP BY user_id),
        wm AS (
          SELECT user_id, max(mx) OVER (ORDER BY user_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                 AS wm_prev
          FROM user_max),
        replay AS (
          SELECT CAST(least(greatest(coalesce(wm.wm_prev - ev.us, 0), 0)
                   // 86400000000, 31) AS BIGINT) AS late_days,
                 count(*) AS n_events
          FROM ev JOIN wm USING (user_id)
          GROUP BY 1),
        bkts AS (SELECT us, event_id // 1000 AS bkt FROM ev),
        bkt_max AS (SELECT bkt, max(us) AS mx FROM bkts GROUP BY bkt),
        bwm AS (
          SELECT bkt, max(mx) OVER (ORDER BY bkt
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                 AS wm_prev
          FROM bkt_max),
        control AS (
          SELECT CAST(-1 AS BIGINT) AS late_days,
                 sum(CASE WHEN coalesce(bwm.wm_prev - b.us, 0) > 0
                     THEN 1 ELSE 0 END) AS n_events
          FROM bkts b JOIN bwm USING (bkt))
        SELECT late_days, CAST(n_events AS BIGINT) AS n_events,
               late_days > 1 AS dropped_at_1day
        FROM (SELECT * FROM control UNION ALL
              SELECT late_days, n_events FROM replay)
        ORDER BY late_days""")),

    Q(
      "q366_trending_decay",
      "TRENDING ITEMS BY EXPONENTIAL TIME DECAY (the Hacker-News/" +
        "Reddit-style recency score, exact): per-brand shipment counts " +
        "over the corpus's last 10 ship days, each day's count scaled " +
        "by the DYADIC half-life weight 1024 div 2^gap (q297's " +
        "power-of-two decay discipline — integer-exact, no float pow), " +
        "ranked beside the same window's RAW counts; rank_shift is " +
        "the finding — the brands recency surfaces that volume hides. " +
        "Plan: one date-pruned lineitem scan joined to the broadcast " +
        "part dim, one (brand, day) aggregate (<= 250 cells), and " +
        "every window runs on the 25-brand domain. The anchor day is " +
        "a 1-row broadcast max. 100 TB: the 10-day predicate prunes " +
        "at the scan; everything downstream is domain-bounded.",
      (s, dir) => {
        import s.implicits._
        val li = Tables.t(s, dir, "lineitem")
          .select($"l_partkey", $"l_shipdate".cast("date").as("d"))
        val anchor = broadcast(li.agg(max($"d").as("dmax")))
        val counts = li.crossJoin(anchor)
          .withColumn("gap", datediff($"dmax", $"d"))
          .filter($"gap" >= 0 && $"gap" <= 9)
          .join(broadcast(Tables.t(s, dir, "part")),
            $"l_partkey" === $"p_partkey")
          .groupBy($"p_brand", $"gap")
          .agg(count(lit(1)).as("cnt"))
        val scored = counts.groupBy($"p_brand")
          .agg(sum($"cnt").as("raw_cnt"),
            sum(expr("cnt * (1024 div shiftleft(1, gap))"))
              .as("score_x1024"))
        val wT = Window.orderBy($"score_x1024".desc, $"p_brand")
        val wR = Window.orderBy($"raw_cnt".desc, $"p_brand")
        scored
          .withColumn("rank_trend", row_number().over(wT).cast("long"))
          .withColumn("rank_raw", row_number().over(wR).cast("long"))
          .filter($"rank_trend" <= 10)
          .select($"rank_trend", $"p_brand", $"raw_cnt",
            $"score_x1024", $"rank_raw",
            ($"rank_raw" - $"rank_trend").as("rank_shift"))
          .orderBy($"rank_trend")
      },
      Some("""
        WITH li AS (
          SELECT l_partkey, CAST(l_shipdate AS DATE) AS d
          FROM lineitem),
        anchor AS (SELECT max(d) AS dmax FROM li),
        counts AS (
          SELECT p.p_brand, datediff('day', d, dmax) AS gap,
                 CAST(count(*) AS BIGINT) AS cnt
          FROM li CROSS JOIN anchor
          JOIN part p ON li.l_partkey = p.p_partkey
          WHERE datediff('day', d, dmax) BETWEEN 0 AND 9
          GROUP BY 1, 2),
        scored AS (
          SELECT p_brand, CAST(sum(cnt) AS BIGINT) AS raw_cnt,
                 CAST(sum(cnt * (1024 // (1 << gap))) AS BIGINT)
                   AS score_x1024
          FROM counts GROUP BY 1),
        ranked AS (
          SELECT p_brand, raw_cnt, score_x1024,
                 CAST(row_number() OVER (ORDER BY score_x1024 DESC,
                   p_brand) AS BIGINT) AS rank_trend,
                 CAST(row_number() OVER (ORDER BY raw_cnt DESC,
                   p_brand) AS BIGINT) AS rank_raw
          FROM scored)
        SELECT rank_trend, p_brand, raw_cnt, score_x1024, rank_raw,
               rank_raw - rank_trend AS rank_shift
        FROM ranked WHERE rank_trend <= 10
        ORDER BY rank_trend""")),

    Q(
      "q383_growth_accounting",
      "GROWTH ACCOUNTING — the new/retained/resurrected/churned user " +
        "waterfall (the Reforge/a16z MAU decomposition; the ledger " +
        "behind every 'active users' chart, completing q91's " +
        "retention triangle and q203's rolling actives with the " +
        "IDENTITY that makes actives auditable: actives_t = new_t + " +
        "retained_t + resurrected_t, and actives_t - actives_{t-1} = " +
        "new_t + resurrected_t - churned_t): per user-week, classify " +
        "by first-ever week (new), active-previous-week (retained), " +
        "else resurrected; churned_t = actives_{t-1} - retained_t. " +
        "Weeks are epoch-day div 7 (integer, engine-portable — no " +
        "locale week-of-year). Plan: ONE distinct to (user, week) " +
        "grain, first weeks + previous-week flags ride one user " +
        "window exchange, then everything lives on the week domain " +
        "(lag for churn is a domain window). 100 TB: one user-keyed " +
        "shuffle, map-side-combined distinct.",
      (s, dir) => {
        import s.implicits._
        val uw = Tables.t(s, dir, "events")
          .select($"user_id",
            expr("unix_micros(cast(ts as timestamp)) div " +
              "604800000000").as("wk"))
          .distinct()
        val wU = Window.partitionBy($"user_id").orderBy($"wk")
        val flags = uw
          .withColumn("first_wk", min($"wk").over(
            wU.rowsBetween(Window.unboundedPreceding,
              Window.currentRow)))
          .withColumn("prev_wk", lag($"wk", 1).over(wU))
          .select($"wk",
            ($"wk" === $"first_wk").cast("long").as("is_new"),
            (coalesce($"prev_wk", lit(Long.MinValue)) === $"wk" - 1)
              .cast("long").as("is_retained"))
          .withColumn("is_resurrected",
            (lit(1L) - greatest($"is_new", $"is_retained")))
        val byWk = flags.groupBy($"wk")
          .agg(count(lit(1)).as("actives"),
            sum($"is_new").as("new_users"),
            sum($"is_retained").as("retained"),
            sum($"is_resurrected").as("resurrected"))
        val wD = Window.orderBy($"wk")
        byWk
          .withColumn("prev_actives",
            coalesce(lag($"actives", 1).over(wD), lit(0L)))
          .select($"wk", $"actives", $"new_users", $"retained",
            $"resurrected",
            ($"prev_actives" - $"retained").as("churned"))
          .orderBy($"wk")
      },
      Some("""
        WITH uw AS (
          SELECT DISTINCT user_id,
                 epoch_us(CAST(ts AS TIMESTAMP)) // 604800000000 AS wk
          FROM events),
        flags AS (
          SELECT wk,
                 CASE WHEN wk = min(wk) OVER (PARTITION BY user_id)
                   THEN 1 ELSE 0 END AS is_new,
                 CASE WHEN coalesce(lag(wk) OVER (PARTITION BY user_id
                   ORDER BY wk), -9223372036854775808) = wk - 1
                   THEN 1 ELSE 0 END AS is_retained
          FROM uw),
        f2 AS (
          SELECT wk, is_new, is_retained,
                 1 - greatest(is_new, is_retained) AS is_resurrected
          FROM flags),
        bywk AS (
          SELECT wk, CAST(count(*) AS BIGINT) AS actives,
                 CAST(sum(is_new) AS BIGINT) AS new_users,
                 CAST(sum(is_retained) AS BIGINT) AS retained,
                 CAST(sum(is_resurrected) AS BIGINT) AS resurrected
          FROM f2 GROUP BY wk)
        SELECT wk, actives, new_users, retained, resurrected,
               CAST(coalesce(lag(actives) OVER (ORDER BY wk), 0)
                 - retained AS BIGINT) AS churned
        FROM bywk ORDER BY wk""")),

    Q(
      "q401_logrank_test",
      "LOG-RANK TEST (Mantel 1966 — the two-group survival " +
        "comparison that belongs beside q241's Kaplan-Meier curve): " +
        "time-to-first-purchase from signup, administratively " +
        "CENSORED at tau = 5 days (the fixture's users all purchase " +
        "eventually and stay active to the horizon, so q241's " +
        "churn-style endpoint has zero deaths — conversion latency " +
        "under a fixed observation window is where this fixture has " +
        "real survival structure; pre-signup purchases clamp to " +
        "instant conversion, documented). Do even- and odd-id users " +
        "convert at the same rate? At each distinct duration t, " +
        "the hypergeometric expectation E1_t = d_t*n1_t/n_t and " +
        "variance V_t = d_t*(n1_t/n_t)*(n0_t/n_t)*(n_t-d_t)/(n_t-1) " +
        "accumulate against the observed group-1 deaths; chi2 = " +
        "(O1-E1)^2/V vs chi2(1)=3.841. Every division is ONE " +
        "truncating floor at micro scale with DECIMAL(38,0)/HUGEINT " +
        "numerators (the q241 fixed-point discipline — both engines " +
        "replay the identical integer chain, where float " +
        "hypergeometrics would drift). Risk sets are reverse " +
        "cumsums per group over the <=31-row duration domain; the " +
        "row-scale work is the same two user-grain aggregates as " +
        "q241. 100 TB: the wire carries one row per user, the test " +
        "costs nothing after.",
      (s, dir) => {
        import s.implicits._
        val ev = Tables.t(s, dir, "events")
          .select($"user_id", to_date($"ts").as("d"), $"event_type")
        val entry = ev.filter($"event_type" === "signup")
          .groupBy($"user_id").agg(min($"d").as("e"))
        val firstp = ev.filter($"event_type" === "purchase")
          .groupBy($"user_id").agg(min($"d").as("p"))
        val tau = 5L
        // null gap (user never purchases) propagates to the +inf
        // sentinel = censored at tau; Spark's greatest() skips nulls,
        // so the null branch is explicit (q425's seam, aligned here)
        val byT = entry.join(firstp, Seq("user_id"), "left")
          .select(($"user_id" % 2).as("g"),
            when(datediff($"p", $"e").isNull, Long.MaxValue)
              .otherwise(greatest(datediff($"p", $"e").cast("long"),
                lit(0L))).as("gap"))
          .select($"g", least($"gap", lit(tau)).as("t"),
            ($"gap" > tau).as("censored"))
          .groupBy($"t")
          .agg(count(lit(1)).as("m"),
            sum(when($"g" === 1, 1L).otherwise(0L)).as("m1"),
            sum(when(!$"censored", 1L).otherwise(0L)).as("dd"),
            sum(when(!$"censored" && $"g" === 1, 1L).otherwise(0L))
              .as("d1"))
        val wRev = Window.orderBy($"t")
          .rowsBetween(Window.currentRow, Window.unboundedFollowing)
        val terms = byT
          .withColumn("n", sum($"m").over(wRev))
          .withColumn("n1", sum($"m1").over(wRev))
          .filter($"dd" > 0)
          .select($"d1",
            expr("cast(cast(dd as decimal(38,0)) * n1 * 1000000 " +
              "div n as bigint)").as("e1_micros"),
            expr("cast(cast(dd as decimal(38,0)) * n1 * (n - n1) * " +
              "(n - dd) * 1000000 div (cast(n as decimal(38,0)) * n " +
              "* nullif(n - 1, 0)) as bigint)").as("v_micros"))
        terms.agg(sum($"d1").as("o1"),
            sum($"e1_micros").as("e1_micros"),
            sum($"v_micros").as("v_micros"),
            count(lit(1)).as("n_death_times"))
          .select($"n_death_times", $"o1", $"e1_micros", $"v_micros",
            ($"o1" * 1000000L - $"e1_micros").as("diff_micros"))
          .withColumn("chi2_milli",
            expr("cast(cast(diff_micros as decimal(38,0)) * " +
              "diff_micros * 1000 div (cast(v_micros as decimal(38,0))" +
              " * 1000000) as bigint)"))
          .withColumn("significant_5pct",
            expr("cast(cast(diff_micros as decimal(38,0)) * " +
              "diff_micros * 1000 > 3841 * " +
              "cast(v_micros as decimal(38,0)) * 1000000 as long)"))
      },
      Some("""
        WITH ev AS (
          SELECT user_id, CAST(ts AS DATE) AS d, event_type
          FROM events),
        entry AS (SELECT user_id, min(d) AS e FROM ev
                  WHERE event_type = 'signup' GROUP BY 1),
        fp AS (SELECT user_id, min(d) AS p FROM ev
               WHERE event_type = 'purchase' GROUP BY 1),
        u0 AS (
          SELECT entry.user_id % 2 AS g,
                 coalesce(CASE WHEN datediff('day', e, p) < 0 THEN 0
                               ELSE datediff('day', e, p) END,
                   9223372036854775807) AS gap
          FROM entry LEFT JOIN fp ON entry.user_id = fp.user_id),
        u AS (
          SELECT g, least(gap, 5) AS t, gap > 5 AS censored
          FROM u0),
        byt AS (
          SELECT t, CAST(count(*) AS BIGINT) AS m,
                 CAST(sum(CASE WHEN g = 1 THEN 1 ELSE 0 END)
                   AS BIGINT) AS m1,
                 CAST(sum(CASE WHEN NOT censored THEN 1 ELSE 0 END)
                   AS BIGINT) AS dd,
                 CAST(sum(CASE WHEN NOT censored AND g = 1
                   THEN 1 ELSE 0 END) AS BIGINT) AS d1
          FROM u GROUP BY t),
        risk AS (
          SELECT t, dd, d1,
                 sum(m) OVER (ORDER BY t ROWS BETWEEN CURRENT ROW
                   AND UNBOUNDED FOLLOWING) AS n,
                 sum(m1) OVER (ORDER BY t ROWS BETWEEN CURRENT ROW
                   AND UNBOUNDED FOLLOWING) AS n1
          FROM byt),
        terms AS (
          SELECT d1,
                 CAST(CAST(dd AS HUGEINT) * n1 * 1000000 // n
                   AS BIGINT) AS e1_micros,
                 CAST(CAST(dd AS HUGEINT) * n1 * (n - n1) * (n - dd)
                     * 1000000
                   // (CAST(n AS HUGEINT) * n * nullif(n - 1, 0))
                   AS BIGINT) AS v_micros
          FROM risk WHERE dd > 0),
        agg AS (
          SELECT CAST(count(*) AS BIGINT) AS n_death_times,
                 CAST(sum(d1) AS BIGINT) AS o1,
                 CAST(sum(e1_micros) AS BIGINT) AS e1_micros,
                 CAST(sum(v_micros) AS BIGINT) AS v_micros
          FROM terms)
        SELECT n_death_times, o1, e1_micros, v_micros,
               o1 * 1000000 - e1_micros AS diff_micros,
               CAST(CAST(o1 * 1000000 - e1_micros AS HUGEINT)
                   * (o1 * 1000000 - e1_micros) * 1000
                 // (CAST(v_micros AS HUGEINT) * 1000000) AS BIGINT)
                 AS chi2_milli,
               CAST(CAST(o1 * 1000000 - e1_micros AS HUGEINT)
                   * (o1 * 1000000 - e1_micros) * 1000
                 > 3841 * CAST(v_micros AS HUGEINT) * 1000000
                 AS BIGINT) AS significant_5pct
        FROM agg""")),

    Q(
      "q425_nelson_aalen",
      "NELSON-AALEN CUMULATIVE HAZARD with the Aalen variance " +
        "(Nelson 1972, Aalen 1978) — the survival family's third leg: " +
        "q241's Kaplan-Meier is the product-limit SURVIVAL curve, " +
        "q401's log-rank COMPARES two groups; this is the hazard-sum " +
        "estimator H(t) = sum_{t_i <= t} d_i/n_i with variance " +
        "sum d_i/n_i^2 — the curve reliability engineering and churn " +
        "modeling actually plot, and unlike the KM product it needs NO " +
        "sequential recurrence: both cumulatives are WINDOW SUMS of " +
        "per-step integer floors (d*10^6 div n and d*10^12 div n^2 — " +
        "n >= d >= 1 makes every denominator nonzero, no guards), so " +
        "the whole estimator replays as two cumsum windows over the " +
        "bounded duration domain on both engines. Same endpoint as " +
        "q401: time-to-first-purchase from signup, administratively " +
        "censored at tau = 5 days (censored users leave the risk set " +
        "without contributing a death — the correction that makes " +
        "this estimator honest where a naive conversion-rate-by-day " +
        "curve overstates late hazard). 100 TB: one user-grain " +
        "aggregate is the row-scale work; the curve is arithmetic on " +
        "the <=6-row duration domain.",
      (s, dir) => {
        import s.implicits._
        val ev = Tables.t(s, dir, "events")
          .select($"user_id", to_date($"ts").as("d"), $"event_type")
        val entry = ev.filter($"event_type" === "signup")
          .groupBy($"user_id").agg(min($"d").as("e"))
        val firstp = ev.filter($"event_type" === "purchase")
          .groupBy($"user_id").agg(min($"d").as("p"))
        val tau = 5L
        // null gap (user never purchases) must PROPAGATE to the +inf
        // sentinel — Spark's greatest() SKIPS nulls (greatest(NULL,0)=0
        // would count a signup-only user as a death at t=0), so the
        // null branch is taken explicitly before the clamp
        val byT = entry.join(firstp, Seq("user_id"), "left")
          .select(when(datediff($"p", $"e").isNull, Long.MaxValue)
            .otherwise(greatest(datediff($"p", $"e").cast("long"),
              lit(0L))).as("gap"))
          .select(least($"gap", lit(tau)).as("t"),
            ($"gap" > tau).as("censored"))
          .groupBy($"t")
          .agg(count(lit(1)).as("m"),
            sum(when(!$"censored", 1L).otherwise(0L)).as("dd"))
        val wRev = Window.orderBy($"t")
          .rowsBetween(Window.currentRow, Window.unboundedFollowing)
        val wCum = Window.orderBy($"t")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        byT.withColumn("n", sum($"m").over(wRev))
          .filter($"dd" > 0)
          .select($"t", $"n".as("n_risk"), $"dd".as("n_events"),
            expr("dd * 1000000 div n").as("hazard_step_e6"),
            expr("cast(cast(dd as decimal(38,0)) * 1000000000000 div " +
              "(cast(n as decimal(38,0)) * n) as bigint)")
              .as("var_step_e12"))
          .withColumn("cum_hazard_e6",
            sum($"hazard_step_e6").over(wCum))
          .withColumn("aalen_var_e12",
            sum($"var_step_e12").over(wCum))
          .drop("hazard_step_e6", "var_step_e12")
          .orderBy($"t")
      },
      Some("""
        WITH e AS (
          SELECT user_id, CAST(ts AS DATE) AS d, event_type FROM events),
        en AS (SELECT user_id, min(d) AS e FROM e
               WHERE event_type = 'signup' GROUP BY user_id),
        fp AS (SELECT user_id, min(d) AS p FROM e
               WHERE event_type = 'purchase' GROUP BY user_id),
        u AS (
          SELECT CASE WHEN gap > 5 THEN 5 ELSE gap END AS t,
                 gap > 5 AS censored
          FROM (SELECT coalesce(
                  CASE WHEN date_diff('day', en.e, fp.p) < 0 THEN 0
                       ELSE date_diff('day', en.e, fp.p) END,
                  9223372036854775807) AS gap
                FROM en LEFT JOIN fp USING (user_id))),
        byt AS (
          SELECT t, CAST(count(*) AS BIGINT) AS m,
                 CAST(sum(CASE WHEN NOT censored THEN 1 ELSE 0 END)
                   AS BIGINT) AS dd
          FROM u GROUP BY t),
        risk AS (
          SELECT t, dd,
                 sum(m) OVER (ORDER BY t ROWS BETWEEN CURRENT ROW
                   AND UNBOUNDED FOLLOWING) AS n
          FROM byt),
        steps AS (
          SELECT t, n, dd,
                 dd * 1000000 // n AS h6,
                 CAST(CAST(dd AS HUGEINT) * 1000000000000 //
                   (CAST(n AS HUGEINT) * n) AS BIGINT) AS v12
          FROM risk WHERE dd > 0)
        SELECT t, CAST(n AS BIGINT) AS n_risk, dd AS n_events,
               CAST(sum(h6) OVER (ORDER BY t ROWS BETWEEN UNBOUNDED
                 PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_hazard_e6,
               CAST(sum(v12) OVER (ORDER BY t ROWS BETWEEN UNBOUNDED
                 PRECEDING AND CURRENT ROW) AS BIGINT) AS aalen_var_e12
        FROM steps ORDER BY t"""))
  )
}
