package graft.operators

import graft.{Q, QueryModule, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Graph-analytics and data-selection operators beyond the q150/q96
  * PageRank/connected-components pair: triangle counting with degree
  * orientation, exact-rational trend detection, Pareto-frontier (skyline)
  * selection, weighted sampling without replacement, and class-balance
  * auditing. Everything stays integer-exact (cross-multiplied rationals,
  * LCG keys) so the DuckDB oracle is bit-for-bit — the repo-wide recipe
  * from q168/q194.
  */
object GraphSelection extends QueryModule {

  /** q53's whitespace token count — the one formula both engines agree on
    * (`len(string_split(trim(text), ' '))`).
    */
  private def wsTokens(c: org.apache.spark.sql.Column) =
    size(split(trim(c), " ")).cast("long")

  /** q204's doc-scale pass: per doc, the rendezvous shard before (8
    * shards) and after (9) as ONE groupBy with two max(struct(key,
    * shard)) argmaxes (shard-desc tiebreak via struct comparison; the
    * before case masks shard 8's key to -1). Exposed separately because
    * the query checkpoints the downstream combo frame, which truncates
    * the committed plan — PlanSpec gates THIS frame's plan, where the
    * doc-scale work actually is. */
  private[graft] def reshardAssignments(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val M = 2147483647L
    Tables.t(s, dir, "documents")
      .select($"doc_id", explode(sequence(lit(0L), lit(8L))).as("shard"))
      .withColumn("seed", ($"doc_id" * 131L + $"shard") % M)
      .withColumn("h1", ($"seed" * $"seed" + $"seed" * 48271L) % M)
      .withColumn("k", ($"h1" * $"h1" + $"h1" * 48271L) % M)
      .groupBy($"doc_id")
      .agg(
        max(struct($"k", $"shard")).as("a"),
        max(struct(when($"shard" < 8, $"k").otherwise(-1L).as("k"),
          $"shard")).as("b"))
      .select($"b.shard".as("s_before"), $"a.shard".as("s_after"))
  }

  override def queries: Seq[Q] = Seq(
    Q(
      "q197_triangle_count",
      "TRIANGLE COUNTING on the part co-occurrence graph (parts are " +
        "linked when they are co-ordered in >= 2 DISTINCT orders — the " +
        "market-basket graph q193 builds for sessions, with the Apriori " +
        "SUPPORT threshold that makes frequent-itemset graphs tractable: " +
        "TPC-H's uniform part assignment makes the support-1 graph " +
        "dense, avg degree growing linearly with sf, so unpruned wedge " +
        "work grows QUADRATICALLY — measured 16 s at sf0.1 vs ~1 s " +
        "pruned; at 100 TB the threshold is what stands between this " +
        "query and a wedge explosion, same argument as q101's prefix " +
        "filter), top-20 vertices by triangle participation: the " +
        "local-clustering signal behind community detection and " +
        "link-spam audits. Edge candidates come from a per-order " +
        "self-join (bounded by order size, <=7 items in TPC-H — never a " +
        "corpus-wide cross), support-counted ONCE into (u<v) canonical " +
        "pairs. " +
        "The counting uses DEGREE ORIENTATION: each undirected edge is " +
        "directed from its lower-(degree, id) endpoint, so every " +
        "triangle has exactly one wedge at its minimum-rank apex and " +
        "out-degrees are bounded by O(sqrt(m)) regardless of hub skew — " +
        "the reason this survives a 100x scale-up where the naive " +
        "wedge-at-every-vertex join explodes on the hottest part. " +
        "Wedge enumeration is one equi-join of the oriented edge list " +
        "with itself on the apex, closure is a LEFT SEMI equi-join " +
        "against the canonical edge set (id-ordered wedge legs make the " +
        "closure key canonical with no least/greatest recompute). The " +
        "oracle counts the same triangles with id-ordering (a<b<c " +
        "triple join) — orientation changes the plan, never the set.",
      (s, dir) => {
        import s.implicits._
        val items = Tables.t(s, dir, "lineitem")
          .select($"l_orderkey".as("ok"), $"l_partkey".as("p")).distinct()
        // the canonical edge list feeds THREE consumers (degrees,
        // orientation, closure) — materialize the per-order self-join +
        // distinct once (q193's measured recompute argument; a reliable-
        // checkpoint variant would follow q150's `reliable` flag on a
        // real cluster)
        val edges = items
          .join(items.select($"ok", $"p".as("p2")), Seq("ok"))
          .filter($"p" < $"p2")
          .groupBy($"p".as("u"), $"p2".as("v"))
          .agg(count(lit(1)).as("support"))
          .filter($"support" >= 2)
          .select($"u", $"v")
          .localCheckpoint(true)
        val deg = edges.select($"u".as("x"))
          .unionAll(edges.select($"v".as("x")))
          .groupBy($"x").agg(count(lit(1)).as("d"))
        // the degree joins stay keyed equi-joins (|V| is NOT broadcast-
        // bounded on a web-scale graph — AQE may still broadcast when it
        // fits); materialize the oriented list once for the wedge
        // self-join's two sides
        val oriented = edges
          .join(deg.select($"x".as("u"), $"d".as("du")), Seq("u"))
          .join(deg.select($"x".as("v"), $"d".as("dv")), Seq("v"))
          .select(
            when($"du" < $"dv" || ($"du" === $"dv" && $"u" < $"v"), $"u")
              .otherwise($"v").as("s"),
            when($"du" < $"dv" || ($"du" === $"dv" && $"u" < $"v"), $"v")
              .otherwise($"u").as("t"))
          .localCheckpoint(true)
        val wedges = oriented.select($"s", $"t".as("t1"))
          .join(oriented.select($"s", $"t".as("t2")), Seq("s"))
          .filter($"t1" < $"t2")
        val tris = wedges.join(
          edges.select($"u".as("t1"), $"v".as("t2")),
          Seq("t1", "t2"), "left_semi")
        tris.select(explode(array($"s", $"t1", $"t2")).as("vertex"))
          .groupBy($"vertex").agg(count(lit(1)).as("n_triangles"))
          .orderBy($"n_triangles".desc, $"vertex")
          .limit(20)
      },
      Some("""
        WITH it AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS p FROM lineitem),
        e AS (SELECT i1.p AS u, i2.p AS v
              FROM it i1 JOIN it i2 ON i1.ok = i2.ok AND i1.p < i2.p
              GROUP BY 1, 2 HAVING count(*) >= 2),
        tri AS (SELECT e1.u AS a, e1.v AS b, e2.v AS c
                FROM e e1 JOIN e e2 ON e1.v = e2.u
                          JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v),
        verts AS (SELECT a AS vertex FROM tri
                  UNION ALL SELECT b FROM tri
                  UNION ALL SELECT c FROM tri)
        SELECT vertex, count(*) AS n_triangles
        FROM verts GROUP BY vertex
        ORDER BY n_triangles DESC, vertex
        LIMIT 20""")),

    Q(
      "q198_trend_slope",
      "PER-GROUP OLS TREND SLOPE in exact rational arithmetic — drift " +
        "DETECTION where q136 is drift MEASUREMENT: for each event " +
        "type, the least-squares slope of value (in cents) against " +
        "event day, reported as the exact integer numerator/denominator " +
        "pair n*Sxy - Sx*Sy over n*Sxx - Sx^2 (sign and magnitude " +
        "compare exactly; no engine ever divides). x is the day offset " +
        "from the corpus min day — a 1-row broadcast, and the " +
        "centering that keeps every sum within int64 at fixture scale " +
        "(at 100 TB row counts the products need DECIMAL(38) " +
        "accumulators or per-partition Welford — the shape is the same " +
        "single groupBy). ONE shuffle on the 5-value event_type domain, " +
        "all five sums partial-aggregated map-side; floor(value*100) " +
        "is IEEE-identical on both engines (the q154 double-rendering " +
        "lesson: never ship an unquantized double to the oracle).",
      (s, dir) => {
        import s.implicits._
        val ev = Tables.t(s, dir, "events").filter($"value".isNotNull)
        val d0 = ev.agg(min(to_date($"ts")).as("d0"))
        ev.crossJoin(broadcast(d0))
          .select($"event_type",
            datediff(to_date($"ts"), $"d0").cast("long").as("x"),
            floor($"value" * 100).cast("long").as("y"))
          .groupBy($"event_type")
          .agg(count(lit(1)).as("n"),
            sum($"x").as("sx"), sum($"y").as("sy"),
            sum($"x" * $"x").as("sxx"), sum($"x" * $"y").as("sxy"))
          .select($"event_type", $"n",
            ($"n" * $"sxy" - $"sx" * $"sy").as("slope_num"),
            ($"n" * $"sxx" - $"sx" * $"sx").as("slope_den"))
          .orderBy($"event_type")
      },
      Some("""
        WITH d0 AS (SELECT min(CAST(ts AS DATE)) AS d0 FROM events WHERE value IS NOT NULL),
        v AS (SELECT event_type,
                     CAST(datediff('day', d0.d0, CAST(ts AS DATE)) AS BIGINT) AS x,
                     CAST(floor(value * 100) AS BIGINT) AS y
              FROM events, d0 WHERE value IS NOT NULL),
        g AS (SELECT event_type, count(*) AS n,
                     CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
                     CAST(sum(x * x) AS BIGINT) AS sxx,
                     CAST(sum(x * y) AS BIGINT) AS sxy
              FROM v GROUP BY event_type)
        SELECT event_type, n,
               n * sxy - sx * sy AS slope_num,
               n * sxx - sx * sx AS slope_den
        FROM g ORDER BY event_type""")),

    Q(
      "q199_pareto_frontier",
      "PARETO FRONTIER (2-D skyline) over documents — the " +
        "multi-objective data-selection primitive q166's single-score " +
        "budget can't express: keep every document no other document " +
        "dominates (fewer-or-equal chars AND more-or-equal whitespace " +
        "tokens, strict somewhere) — 'most signal for the bytes'. The " +
        "oracle is the O(n^2) NOT EXISTS; the engine is the sorted " +
        "running-max form, SCALABLY: chars are bucketed (DIV 256), " +
        "per-bucket maxes make a domain-sized frame whose prefix-max " +
        "runs on the BUCKET DOMAIN (the only unpartitioned window — " +
        "bounded by the chars domain, not rows, q166's two-phase cumsum " +
        "recipe), broadcast back; the row-scale windows (strictly-" +
        "shorter running max via a RANGE frame to -1, and the " +
        "equal-chars max) partition by bucket and by chars — no " +
        "row-scale SinglePartition anywhere, dominance resolves in one " +
        "pass. Ties on both dims survive together (dominance needs one " +
        "strict inequality) — the same keep-both-twins rule as q176.",
      (s, dir) => {
        import s.implicits._
        val d = Tables.t(s, dir, "documents")
          .select($"doc_id", $"n_chars", wsTokens($"text").as("n_tokens"))
          .withColumn("cb", expr("n_chars DIV 256"))
        val bm = d.groupBy($"cb").agg(max($"n_tokens").as("bmax"))
        val pref = bm.withColumn("plow",
          max($"bmax").over(
            Window.orderBy($"cb").rowsBetween(Window.unboundedPreceding, -1)))
        val win = Window.partitionBy($"cb").orderBy($"n_chars")
          .rangeBetween(Window.unboundedPreceding, -1)
        d.join(broadcast(pref.select($"cb", $"plow")), Seq("cb"))
          .withColumn("inlow", max($"n_tokens").over(win))
          .withColumn("meq",
            max($"n_tokens").over(Window.partitionBy($"n_chars")))
          .filter(!(coalesce(greatest($"plow", $"inlow") >= $"n_tokens",
            lit(false)) || $"meq" > $"n_tokens"))
          .select($"doc_id", $"n_chars", $"n_tokens")
          .orderBy($"n_chars", $"doc_id")
      },
      Some("""
        WITH d AS (SELECT doc_id, n_chars,
                          CAST(len(string_split(trim(text), ' ')) AS BIGINT) AS n_tokens
                   FROM documents)
        SELECT doc_id, n_chars, n_tokens FROM d a
        WHERE NOT EXISTS (SELECT 1 FROM d b
          WHERE (b.n_chars < a.n_chars AND b.n_tokens >= a.n_tokens)
             OR (b.n_chars = a.n_chars AND b.n_tokens > a.n_tokens))
        ORDER BY n_chars, doc_id""")),

    Q(
      "q200_weighted_sample",
      "TOKEN-WEIGHTED SAMPLING WITHOUT REPLACEMENT, deterministic: " +
        "draw 25 documents with inclusion odds proportional to token " +
        "count — the corpus-subsetting step where q107's stratified " +
        "sample is per-group uniform. Exact bottom-k weighted sampling " +
        "(Efraimidis-Spirakis) without float pow/ln (which no oracle " +
        "could bit-match): each doc takes the MIN of w independent " +
        "integer hash keys — P(min_i < min_j) = w_i/(w_i+w_j), the " +
        "exact weighted-ordering property under uniform keys — where " +
        "the keys are two QUADRATIC mixing rounds mod the Mersenne " +
        "prime 2^31-1 (x -> x^2 + 48271x; a LINEAR map like a chained " +
        "Lehmer LCG collapses to one multiplication mod M, making " +
        "consecutive seeds' keys an arithmetic progression whose " +
        "extremes are badly biased — caught empirically by q204's " +
        "skewed shards; the squared term breaks the progression, and " +
        "h^2 + 48271h for h < 2^31 stays under 2^63 so both engines " +
        "compute it overflow-free; measured: a weight-2x doc beats a " +
        "weight-x doc at the expected 2/3 rate). The explode is " +
        "sequence(1..w): O(total corpus tokens) rows, the same order " +
        "of work as tokenizing the corpus once; the min collapses " +
        "map-side, and the final bottom-25 is a TakeOrdered top-k, " +
        "never a global sort. At 100 TB the per-replica explode drops " +
        "to one Gumbel key per doc (floats, approximate) or bucketed " +
        "w-capping; the exact integer form is what the oracle can " +
        "check bit-for-bit.",
      (s, dir) => {
        import s.implicits._
        Tables.t(s, dir, "documents")
          .select($"doc_id", wsTokens($"text").as("w"))
          .select($"doc_id", $"w",
            explode(sequence(lit(1L), $"w")).as("r"))
          .withColumn("seed", ($"doc_id" * 1000003L + $"r") % 2147483647L)
          .withColumn("h1",
            ($"seed" * $"seed" + $"seed" * 48271L) % 2147483647L)
          .withColumn("h2",
            ($"h1" * $"h1" + $"h1" * 48271L) % 2147483647L)
          .groupBy($"doc_id", $"w").agg(min($"h2").as("skey"))
          .orderBy($"skey", $"doc_id")
          .limit(25)
      },
      Some("""
        WITH d AS (SELECT doc_id,
                          CAST(len(string_split(trim(text), ' ')) AS BIGINT) AS w
                   FROM documents),
        e AS (SELECT doc_id, w, unnest(generate_series(1, w)) AS r FROM d),
        s AS (SELECT doc_id, w,
                     (doc_id * 1000003 + r) % 2147483647 AS seed
              FROM e),
        h AS (SELECT doc_id, w,
                     (seed * seed + seed * 48271) % 2147483647 AS h1
              FROM s),
        k AS (SELECT doc_id, w,
                     min((h1 * h1 + h1 * 48271) % 2147483647) AS skey
              FROM h GROUP BY doc_id, w)
        SELECT doc_id, w, skey FROM k ORDER BY skey, doc_id LIMIT 25""")),

    Q(
      "q201_gini_balance",
      "CLASS-BALANCE AUDIT via exact Gini impurity: per source, the " +
        "impurity of its language distribution as the exact rational " +
        "(n^2 - sum(c^2)) / n^2 plus basis points — the " +
        "imbalance monitor a mixture pipeline (q124/q175) gates on, " +
        "with NO logs (entropy) and NO doubles: Gini is a polynomial " +
        "in counts, so it oracles bit-exactly where entropy never " +
        "would. Two-level aggregate: rows collapse into the " +
        "(source, lang) count domain map-side (the wire carries the " +
        "domain), then per-source sums of c and c^2. Positive " +
        "operands make DIV == floor-division on both engines (q194's " +
        "basis-point recipe); at 100 TB row counts n^2 needs " +
        "DECIMAL(38) — noted, same plan.",
      (s, dir) => {
        import s.implicits._
        Tables.t(s, dir, "documents")
          .groupBy($"source", $"lang").agg(count(lit(1)).as("c"))
          .groupBy($"source")
          .agg(sum($"c").as("n"), sum($"c" * $"c").as("ss"))
          .select($"source", $"n",
            ($"n" * $"n" - $"ss").as("gini_num"),
            ($"n" * $"n").as("gini_den"),
            expr("((n * n - ss) * 10000) DIV (n * n)").as("gini_bp"))
          .orderBy($"source")
      },
      Some("""
        WITH c AS (SELECT source, lang, count(*) AS c
                   FROM documents GROUP BY source, lang),
        g AS (SELECT source, CAST(sum(c) AS BIGINT) AS n,
                     CAST(sum(c * c) AS BIGINT) AS ss
              FROM c GROUP BY source)
        SELECT source, n, n * n - ss AS gini_num, n * n AS gini_den,
               CAST(((n * n - ss) * 10000) // (n * n) AS BIGINT) AS gini_bp
        FROM g ORDER BY source""")),

    Q(
      "q203_rolling_active_users",
      "ROLLING ACTIVE USERS (DAU / trailing-7-day WAU / stickiness): " +
        "per day, the distinct active users that day, the distinct " +
        "users active in the trailing 7-day window ending that day, and " +
        "DAU/WAU 'stickiness' in cross-multiplied integer basis points " +
        "— the engagement dashboard q91's fixed-cohort retention " +
        "doesn't give. The scalable shape for windowed COUNT DISTINCT " +
        "(which no running-sum window can compute — distinct doesn't " +
        "decompose): dedup to (user, day) once, EXPLODE each active " +
        "day into the <=7 window-end days it contributes to (a " +
        "constant x7 fan-out of already-deduped slim pairs — never raw " +
        "events), then one distinct per (window_end, user) keyed by " +
        "day. Both shuffles are day/user-keyed; nothing is " +
        "single-partition; raw-event volume touches only the first " +
        "dedup. Window ends land on observed ACTIVE days via the DAU " +
        "inner join — identical partial-window semantics on both " +
        "engines at the corpus edges.",
      (s, dir) => {
        import s.implicits._
        val ud = Tables.t(s, dir, "events")
          .select($"user_id", to_date($"ts").as("d")).distinct()
        val dau = ud.groupBy($"d").agg(count(lit(1)).as("n_dau"))
        val wau = ud
          .select($"user_id",
            explode(sequence(lit(0), lit(6))).as("x"), $"d")
          .select($"user_id", date_add($"d", $"x").as("d"))
          .groupBy($"d").agg(countDistinct($"user_id").as("n_wau"))
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
      "q204_rendezvous_resharding",
      "ELASTIC RESHARDING via rendezvous (highest-random-weight) " +
        "hashing: every doc goes to the shard whose (doc, shard) hash " +
        "key is highest; growing the fleet 8 -> 9 moves ONLY the docs " +
        "whose new shard's key beats their old maximum — ~1/9 of the " +
        "corpus, every move INTO the new shard. The output rows carry " +
        "per-shard (n_before, n_after, n_arrived), so n_arrived = 0 for " +
        "shards 0-7 IS the HRW minimal-disruption invariant, " +
        "oracle-checked — vs mod-N sharding where N -> N+1 relocates " +
        "~8/9 of everything (the full-rewrite q125/q191's static " +
        "assignments would pay on every scale-out). Keys are q200's " +
        "two QUADRATIC mixing rounds mod 2^31-1 — this query is what " +
        "CAUGHT the chained-LCG bias: a linear map makes per-doc keys " +
        "an arithmetic progression whose argmax piles onto one shard " +
        "(measured 204/500 on shard 7, 163 moves); the quadratic form " +
        "rebalances to 48-72 per shard with 57 moves ~ n/9. Rare " +
        "quadratic key collisions break deterministically by shard id " +
        "in both engines. Plan: one x9 explode of bare doc ids, then " +
        "BOTH argmaxes collapse in a single doc_id aggregate — " +
        "max(struct(key, shard)) is the argmax with the shard-desc " +
        "tiebreak, computed map-side for the before (s<8 keys masked " +
        "to -1) and after cases in one pass (PlanSpec pins the single " +
        "exchange); the per-shard rollup then aggregates the <=72-row " +
        "(s_before, s_after) combo DOMAIN, so after the one doc-keyed " +
        "shuffle nothing row-scale moves again. At 100 TB the explode " +
        "is 9 slim rows per doc — resharding cost is one linear pass, " +
        "which is the point.",
      (s, dir) => {
        import s.implicits._
        val perDoc = reshardAssignments(s, dir)
        // <=72 rows; materialized once so its three rollup consumers
        // don't re-run the doc-scale pass (q193's recompute argument)
        val combos = perDoc.groupBy($"s_before", $"s_after")
          .agg(count(lit(1)).as("n"))
          .localCheckpoint(true)
        val nb = combos.groupBy($"s_before".as("shard"))
          .agg(sum($"n").as("nb"))
        val na = combos.groupBy($"s_after".as("shard"))
          .agg(sum($"n").as("na"))
        val mv = combos.filter($"s_before" =!= $"s_after")
          .groupBy($"s_after".as("shard")).agg(sum($"n").as("nm"))
        s.range(9).select($"id".as("shard"))
          .join(nb, Seq("shard"), "left")
          .join(na, Seq("shard"), "left")
          .join(mv, Seq("shard"), "left")
          .select($"shard",
            coalesce($"nb", lit(0L)).as("n_before"),
            coalesce($"na", lit(0L)).as("n_after"),
            coalesce($"nm", lit(0L)).as("n_arrived"))
          .orderBy($"shard")
      },
      Some("""
        WITH sd AS (
          SELECT doc_id, x AS shard,
                 (doc_id * 131 + x) % 2147483647 AS seed
          FROM documents, (SELECT unnest(generate_series(0, 8)) AS x)),
        h AS (SELECT doc_id, shard,
                     (seed * seed + seed * 48271) % 2147483647 AS h1
              FROM sd),
        ex AS (SELECT doc_id, shard,
                      (h1 * h1 + h1 * 48271) % 2147483647 AS k
               FROM h),
        a AS (SELECT doc_id, shard AS s_after,
                     row_number() OVER (PARTITION BY doc_id
                                        ORDER BY k DESC, shard DESC) AS rn
              FROM ex),
        b AS (SELECT doc_id, shard AS s_before,
                     row_number() OVER (PARTITION BY doc_id
                                        ORDER BY k DESC, shard DESC) AS rn
              FROM ex WHERE shard < 8),
        j AS (SELECT a.doc_id, b.s_before, a.s_after
              FROM a JOIN b USING (doc_id) WHERE a.rn = 1 AND b.rn = 1),
        sp AS (SELECT unnest(generate_series(0, 8)) AS shard),
        nb AS (SELECT s_before AS shard, count(*) AS nb FROM j GROUP BY 1),
        na AS (SELECT s_after AS shard, count(*) AS na FROM j GROUP BY 1),
        mv AS (SELECT s_after AS shard, count(*) AS nm FROM j
               WHERE s_before <> s_after GROUP BY 1)
        SELECT sp.shard,
               CAST(coalesce(nb.nb, 0) AS BIGINT) AS n_before,
               CAST(coalesce(na.na, 0) AS BIGINT) AS n_after,
               CAST(coalesce(mv.nm, 0) AS BIGINT) AS n_arrived
        FROM sp LEFT JOIN nb ON sp.shard = nb.shard
                LEFT JOIN na ON sp.shard = na.shard
                LEFT JOIN mv ON sp.shard = mv.shard
        ORDER BY sp.shard""")),

    Q(
      "q206_mad_outliers",
      "ROBUST OUTLIER DETECTION via exact MAD (median absolute " +
        "deviation): per event type, the exact lower median of cents, " +
        "the exact median of |cents - median|, and the count beyond the " +
        "3-MAD fence — the data-cleaning tier where q181's p99 monitor " +
        "is the alerting tier: mean/stddev fences move with the very " +
        "outliers they hunt (one corrupt 1e9 shifts the mean fence past " +
        "everything), the MAD fence doesn't budge until half the data " +
        "is corrupt. Two rounds of q168's counting-sort inverse CDF — " +
        "the value pass, then the DERIVED |dev| domain pass after a " +
        "5-row median broadcast — every CDF shuffle carries the cents " +
        "DOMAIN with map-side combine, never rows; medians are min v " +
        "with 2*cum >= n, cross-multiplied so no engine computes n/2. " +
        "Integer absolute deviations make the second domain exactly as " +
        "bounded as the first.",
      (s, dir) => {
        import s.implicits._
        val v = Tables.t(s, dir, "events").filter($"value".isNotNull)
          .select($"event_type", floor($"value" * 100).cast("long").as("c"))
        val tot = v.groupBy($"event_type").agg(count(lit(1)).as("n"))
        def lowerMedian(vals: DataFrame, col: String, out: String) = {
          val counts = vals.groupBy($"event_type", vals(col))
            .agg(count(lit(1)).as("cnt"))
          val cum = counts.withColumn("cum", sum($"cnt").over(
            Window.partitionBy($"event_type").orderBy(counts(col))))
          cum.join(broadcast(tot), Seq("event_type"))
            .filter($"cum" * 2 >= $"n")
            .groupBy($"event_type").agg(min(counts(col)).as(out))
        }
        val med = lowerMedian(v, "c", "med_cents")
        val dev = v.join(broadcast(med), Seq("event_type"))
          .select($"event_type", abs($"c" - $"med_cents").as("dev"))
        val mad = lowerMedian(dev, "dev", "mad_cents")
        val outliers = dev.join(broadcast(mad), Seq("event_type"))
          .filter($"dev" > $"mad_cents" * 3)
          .groupBy($"event_type").agg(count(lit(1)).as("n_outliers"))
        tot.join(med, Seq("event_type")).join(mad, Seq("event_type"))
          .join(outliers, Seq("event_type"), "left")
          .select($"event_type", $"n", $"med_cents", $"mad_cents",
            coalesce($"n_outliers", lit(0L)).as("n_outliers"))
          .orderBy($"event_type")
      },
      Some("""
        WITH v AS (SELECT event_type, CAST(floor(value * 100) AS BIGINT) AS c
                   FROM events WHERE value IS NOT NULL),
        t AS (SELECT event_type, count(*) AS n FROM v GROUP BY 1),
        cc AS (SELECT event_type, c, count(*) AS cnt FROM v GROUP BY 1, 2),
        cum AS (SELECT event_type, c,
                       sum(cnt) OVER (PARTITION BY event_type ORDER BY c) AS cum
                FROM cc),
        med AS (SELECT cum.event_type, min(c) AS med_cents
                FROM cum JOIN t USING (event_type)
                WHERE cum * 2 >= n GROUP BY 1),
        d AS (SELECT v.event_type, abs(v.c - med.med_cents) AS dev
              FROM v JOIN med USING (event_type)),
        dc AS (SELECT event_type, dev, count(*) AS cnt FROM d GROUP BY 1, 2),
        dcum AS (SELECT event_type, dev,
                        sum(cnt) OVER (PARTITION BY event_type
                                       ORDER BY dev) AS cum
                 FROM dc),
        mad AS (SELECT dcum.event_type, min(dev) AS mad_cents
                FROM dcum JOIN t USING (event_type)
                WHERE cum * 2 >= n GROUP BY 1),
        o AS (SELECT d.event_type, count(*) AS n_outliers
              FROM d JOIN mad USING (event_type)
              WHERE d.dev > mad.mad_cents * 3 GROUP BY 1)
        SELECT t.event_type, t.n, med.med_cents, mad.mad_cents,
               CAST(coalesce(o.n_outliers, 0) AS BIGINT) AS n_outliers
        FROM t JOIN med USING (event_type) JOIN mad USING (event_type)
               LEFT JOIN o USING (event_type)
        ORDER BY t.event_type""")),

    Q(
      "q238_benford_audit",
      "BENFORD FIRST-DIGIT AUDIT — the classic fabricated-or-truncated-" +
        "data screen for financial columns (line-item prices here): the " +
        "distribution of first significant digits vs Benford's law " +
        "P(d) = log10(1 + 1/d). The irrational log10 constants enter as " +
        "FIXED integer ppm literals (301030, 176091, ... — they sum to " +
        "exactly 1e6), identical on both engines, so observed ppm, " +
        "expected ppm, and deviation are all exact integer arithmetic — " +
        "no engine log() in the plan (the q127 no-ln rule). First digit " +
        "comes from the CENTS integer's decimal string (round(x*100) — " +
        "the q154 double-rendering lesson; never from formatting a " +
        "double). Plan: one map-side-combined aggregate onto the 9-digit " +
        "domain; the Benford table is a 9-row literal joined broadcast; " +
        "windows run on the digit domain only. A left join from the " +
        "literal digits keeps absent digits visible as 0-count rows " +
        "(an audit that silently drops the anomalous digit is broken).",
      (s, dir) => {
        import s.implicits._
        val obs = Tables.t(s, dir, "lineitem")
          .select(expr("cast(round(l_extendedprice * 100) as bigint)")
            .as("cents"))
          .filter($"cents" > 0)
          .select(substring($"cents".cast("string"), 1, 1).cast("int")
            .as("digit"))
          .groupBy($"digit").agg(count(lit(1)).as("n_obs"))
        val benford = Seq(
          (1, 301030L), (2, 176091L), (3, 124939L), (4, 96910L),
          (5, 79181L), (6, 66947L), (7, 57992L), (8, 51153L), (9, 45757L))
          .toDF("digit", "benford_ppm")
        benford.join(obs, Seq("digit"), "left")
          .withColumn("n_obs", coalesce($"n_obs", lit(0L)))
          .withColumn("total", sum($"n_obs").over(
            Window.partitionBy())) // 9-row domain
          .select($"digit", $"n_obs",
            expr("(n_obs * 1000000) div total").as("obs_ppm"),
            $"benford_ppm",
            abs(expr("(n_obs * 1000000) div total") - $"benford_ppm")
              .as("dev_ppm"))
          .orderBy($"digit")
      },
      Some("""
        WITH obs AS (
          SELECT CAST(substr(CAST(CAST(round(l_extendedprice * 100) AS BIGINT)
                   AS VARCHAR), 1, 1) AS INTEGER) AS digit,
                 count(*) AS n_obs
          FROM lineitem
          WHERE CAST(round(l_extendedprice * 100) AS BIGINT) > 0
          GROUP BY 1),
        b(digit, benford_ppm) AS (VALUES
          (1, 301030), (2, 176091), (3, 124939), (4, 96910), (5, 79181),
          (6, 66947), (7, 57992), (8, 51153), (9, 45757)),
        j AS (
          SELECT b.digit, COALESCE(obs.n_obs, 0) AS n_obs,
                 CAST(b.benford_ppm AS BIGINT) AS benford_ppm
          FROM b LEFT JOIN obs ON obs.digit = b.digit),
        t AS (SELECT j.*, sum(n_obs) OVER () AS total FROM j)
        SELECT digit, CAST(n_obs AS BIGINT) AS n_obs,
               CAST((n_obs * 1000000) // total AS BIGINT) AS obs_ppm,
               benford_ppm,
               CAST(abs((n_obs * 1000000) // total - benford_ppm) AS BIGINT)
                 AS dev_ppm
        FROM t ORDER BY digit""")),

    Q(
      "q256_gini_split",
      "EXACT DECISION-TREE SPLIT SEARCH — the CART inner loop as one " +
        "relational pass: over all 99 candidate thresholds on the " +
        "props.k feature, find the split minimizing Gini-weighted " +
        "impurity for the is-it-a-purchase label. Impurity of a side " +
        "is 2*pos*neg/n_side; the weighted score drops the constant " +
        "2/n, so score(t) = pos_l*neg_l*1e6 div n_l + pos_r*neg_r*1e6 " +
        "div n_r — two independent integer floors, deterministic on " +
        "both engines, argmin tie-broken on the threshold. Candidate " +
        "stats come FREE from two cumulative sums over the 100-value " +
        "feature DOMAIN (one row-scale aggregate feeds them) — the " +
        "histogram-based split finder every distributed GBDT " +
        "(XGBoost/LightGBM-style) uses, here with zero approximation. " +
        "Output: the best split with both sides' ledgers and the " +
        "parent impurity it improves on.",
      (s, dir) => {
        import s.implicits._
        val g = Tables.t(s, dir, "events")
          .select(expr("cast(get_json_object(props, '$.k') as bigint)")
            .as("x"),
            when($"event_type" === "purchase", 1L).otherwise(0L).as("y"))
          .groupBy($"x")
          .agg(count(lit(1)).as("cn"), sum($"y").as("pos"))
        val w = Window.orderBy($"x")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val cum = g.select($"x",
            sum($"cn").over(w).as("nl"), sum($"pos").over(w).as("pl"),
            sum($"cn").over(Window.partitionBy()).as("n"),
            sum($"pos").over(Window.partitionBy()).as("p"))
          .filter($"nl" < $"n") // a split must leave the right side non-empty
          .select($"x".as("split"), $"nl", $"pl",
            ($"n" - $"nl").as("nr"), ($"p" - $"pl").as("pr"), $"n", $"p")
          .withColumn("score_e6",
            expr("(pl * (nl - pl) * 1000000) div nl + " +
              "(pr * (nr - pr) * 1000000) div nr"))
        val best = cum.withColumn("m", min($"score_e6").over(
            Window.partitionBy()))
          .filter($"score_e6" === $"m")
          .withColumn("rk", row_number().over(
            Window.orderBy($"split"))) // deterministic tie-break
          .filter($"rk" === 1)
        best.select($"split", $"nl".as("n_left"), $"pl".as("pos_left"),
          $"nr".as("n_right"), $"pr".as("pos_right"), $"score_e6",
          expr("(2 * p * (n - p) * 1000000) div (n * n)")
            .as("parent_gini_e6"))
      },
      Some("""
        WITH e AS (
          SELECT CAST(json_extract(props, 'k') AS BIGINT) AS x,
                 CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
          FROM events),
        g AS (SELECT x, CAST(count(*) AS BIGINT) AS cn,
                     CAST(sum(y) AS BIGINT) AS pos
              FROM e GROUP BY 1),
        cum AS (
          SELECT x AS split,
                 sum(cn) OVER (ORDER BY x ROWS BETWEEN UNBOUNDED PRECEDING
                               AND CURRENT ROW) AS nl,
                 sum(pos) OVER (ORDER BY x ROWS BETWEEN UNBOUNDED PRECEDING
                               AND CURRENT ROW) AS pl,
                 sum(cn) OVER () AS n, sum(pos) OVER () AS p
          FROM g),
        scored AS (
          SELECT split, nl, pl, n - nl AS nr, p - pl AS pr, n, p,
                 (pl * (nl - pl) * 1000000) // nl
                   + ((p - pl) * ((n - nl) - (p - pl)) * 1000000) // (n - nl)
                   AS score_e6
          FROM cum WHERE nl < n)
        SELECT split, CAST(nl AS BIGINT) AS n_left,
               CAST(pl AS BIGINT) AS pos_left,
               CAST(nr AS BIGINT) AS n_right,
               CAST(pr AS BIGINT) AS pos_right,
               CAST(score_e6 AS BIGINT) AS score_e6,
               CAST((2 * p * (n - p) * 1000000) // (n * n) AS BIGINT)
                 AS parent_gini_e6
        FROM scored
        ORDER BY score_e6, split LIMIT 1""")),

    Q(
      "q274_horvitz_thompson",
      "HORVITZ-THOMPSON TOTAL ESTIMATION under user-CLUSTER sampling — " +
        "the estimator behind every 'run it on a 7% sample first' " +
        "workflow (and the sampling-theory sibling of q265's IPS: both " +
        "divide observed mass by its inclusion probability): users " +
        "enter the sample iff their LCG-mixed key lands below 7/100 " +
        "(q99's hash-sampling rule — deterministic, reproducible, and " +
        "CLUSTERED at the user level so per-user analytics stay intact " +
        "inside the sample, unlike row-Bernoulli which shreds " +
        "sessions), and the purchase-revenue total extrapolates as " +
        "sampled_sum * 100 div 7 — exact integer HT. Emitted: true " +
        "total, sampled share, the estimate, and the signed error in " +
        "basis points — the row that tells you whether the sampling " +
        "frame is biased before you trust the sample for tuning. " +
        "Plan: one conditional aggregate over purchases (the sample " +
        "flag is arithmetic, no join); the estimator is O(1) algebra " +
        "on two sums.",
      (s, dir) => {
        import s.implicits._
        val M = 2147483647L
        Tables.t(s, dir, "events")
          .filter($"event_type" === "purchase")
          .select(expr("cast(round(value * 100) as bigint)").as("cents"),
            ((($"user_id" * 48271L) % M) % 100 < 7).as("in_sample"))
          .agg(
            sum($"cents").as("true_total_cents"),
            count(lit(1)).as("n_purchases"),
            sum(when($"in_sample", $"cents").otherwise(0L))
              .as("sampled_cents"),
            sum(when($"in_sample", 1L).otherwise(0L)).as("n_sampled"))
          .select(
            $"true_total_cents", $"n_purchases", $"n_sampled",
            expr("(sampled_cents * 100) div 7").as("ht_estimate_cents"))
          .withColumn("err_bp",
            // sign pulled out of the floor division (q263's rule: Spark
            // div truncates toward zero, DuckDB // floors — they differ
            // on the negative error side)
            expr("(case when ht_estimate_cents < true_total_cents then -1 " +
              "else 1 end) * ((abs(ht_estimate_cents - true_total_cents) " +
              "* 10000) div true_total_cents)"))
      },
      Some("""
        WITH p AS (
          SELECT CAST(round(value * 100) AS BIGINT) AS cents,
                 ((user_id * 48271) % 2147483647) % 100 < 7 AS in_sample
          FROM events WHERE event_type = 'purchase'),
        a AS (
          SELECT CAST(sum(cents) AS BIGINT) AS true_total_cents,
                 CAST(count(*) AS BIGINT) AS n_purchases,
                 CAST(sum(CASE WHEN in_sample THEN cents ELSE 0 END)
                   AS BIGINT) AS sampled_cents,
                 CAST(sum(CASE WHEN in_sample THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_sampled
          FROM p)
        SELECT true_total_cents, n_purchases, n_sampled,
               (sampled_cents * 100) // 7 AS ht_estimate_cents,
               (CASE WHEN (sampled_cents * 100) // 7 < true_total_cents
                     THEN -1 ELSE 1 END)
                 * ((abs((sampled_cents * 100) // 7 - true_total_cents)
                     * 10000) // true_total_cents) AS err_bp
        FROM a""")),

    Q(
      "q281_theil_sen_slope",
      "THEIL-SEN ROBUST TREND SLOPE — the median-of-pairwise-slopes " +
        "twin of q198's OLS (29.3% breakdown point vs OLS's zero: one " +
        "corrupt day drags the least-squares line, the pairwise median " +
        "doesn't budge): per event type, daily cents totals (q198's " +
        "floor(value*100) convention, same day-offset x axis), then " +
        "every x1<x2 day pair's slope as exact integer micros with the " +
        "sign pulled OUT of the floor division (q263's rule: Spark div " +
        "truncates toward zero, DuckDB // floors — they differ on " +
        "negative numerators), and the lower median selected by q206's " +
        "counting-CDF (min slope with 2*cum >= n — no engine computes " +
        "n/2, no global row sort). The pair join is QUADRATIC ON THE " +
        "DAY DOMAIN only (C(31,2) per type after the row-scale daily " +
        "rollup, which is the single row-scale shuffle) — at 100 TB " +
        "the pair count is unchanged because the calendar is.",
      (s, dir) => {
        import s.implicits._
        val ev = Tables.t(s, dir, "events").filter($"value".isNotNull)
        val d0 = ev.agg(min(to_date($"ts")).as("d0"))
        val daily = ev.crossJoin(broadcast(d0))
          .select($"event_type",
            datediff(to_date($"ts"), $"d0").cast("long").as("x"),
            floor($"value" * 100).cast("long").as("c"))
          .groupBy($"event_type", $"x").agg(sum($"c").as("y"))
        val pairs = daily.as("a")
          .join(daily.as("b"),
            $"a.event_type" === $"b.event_type" && $"a.x" < $"b.x")
          .select($"a.event_type".as("event_type"),
            ($"b.y" - $"a.y").as("dy"), ($"b.x" - $"a.x").as("dx"))
          .withColumn("slope_micro",
            expr("(case when dy < 0 then -1 else 1 end) " +
              "* ((abs(dy) * 1000000) div dx)"))
        val t = pairs.groupBy($"event_type").agg(count(lit(1)).as("n_pairs"))
        val sc = pairs.groupBy($"event_type", $"slope_micro")
          .agg(count(lit(1)).as("cnt"))
        val cum = sc.withColumn("cum", sum($"cnt").over(
          Window.partitionBy($"event_type").orderBy($"slope_micro")))
        val med = cum.join(broadcast(t), Seq("event_type"))
          .filter($"cum" * 2 >= $"n_pairs")
          .groupBy($"event_type").agg(min($"slope_micro").as("ts_slope_micro"))
        t.join(med, Seq("event_type"))
          .select($"event_type", $"n_pairs", $"ts_slope_micro")
          .orderBy($"event_type")
      },
      Some("""
        WITH d0 AS (SELECT min(CAST(ts AS DATE)) AS d0 FROM events
                    WHERE value IS NOT NULL),
        v AS (SELECT event_type,
                     CAST(datediff('day', d0.d0, CAST(ts AS DATE)) AS BIGINT)
                       AS x,
                     CAST(floor(value * 100) AS BIGINT) AS c
              FROM events, d0 WHERE value IS NOT NULL),
        daily AS (SELECT event_type, x, CAST(sum(c) AS BIGINT) AS y
                  FROM v GROUP BY 1, 2),
        pairs AS (SELECT a.event_type,
                         (CASE WHEN b.y - a.y < 0 THEN -1 ELSE 1 END)
                           * ((abs(b.y - a.y) * 1000000) // (b.x - a.x))
                           AS slope_micro
                  FROM daily a JOIN daily b
                    ON a.event_type = b.event_type AND a.x < b.x),
        t AS (SELECT event_type, count(*) AS n_pairs FROM pairs GROUP BY 1),
        sc AS (SELECT event_type, slope_micro, count(*) AS cnt
               FROM pairs GROUP BY 1, 2),
        cum AS (SELECT event_type, slope_micro,
                       sum(cnt) OVER (PARTITION BY event_type
                                      ORDER BY slope_micro) AS cum
                FROM sc),
        med AS (SELECT cum.event_type, min(slope_micro) AS ts_slope_micro
                FROM cum JOIN t USING (event_type)
                WHERE cum * 2 >= n_pairs GROUP BY 1)
        SELECT t.event_type, t.n_pairs, med.ts_slope_micro
        FROM t JOIN med USING (event_type) ORDER BY event_type""")),

    Q(
      "q290_mann_kendall",
      "MANN-KENDALL TREND TEST — the significance companion to q281's " +
        "Theil-Sen magnitude (the pair every monitoring textbook " +
        "ships together: MK says WHETHER the trend is real, Theil-Sen " +
        "says HOW STEEP): per event type over the same daily-cents " +
        "series, S = #(concordant) - #(discordant) day pairs — a " +
        "distribution-free statistic that is EXACTLY integer — and the " +
        "tie-corrected variance as the integer " +
        "V = n(n-1)(2n+5) - sum_t t(t-1)(2t+5) (= 18*Var(S)); the 95% " +
        "call compares 18*S^2*10^6 >= 3841459*V — cross-multiplied, no " +
        "sqrt, no continuity correction (documented variant). Same " +
        "day-domain-quadratic pair join as q281 (C(31,2) per type at " +
        "any row scale); the tie table is one extra rollup on the " +
        "bounded (type, cents) value domain.",
      (s, dir) => {
        import s.implicits._
        val ev = Tables.t(s, dir, "events").filter($"value".isNotNull)
        val d0 = ev.agg(min(to_date($"ts")).as("d0"))
        val daily = ev.crossJoin(broadcast(d0))
          .select($"event_type",
            datediff(to_date($"ts"), $"d0").cast("long").as("x"),
            floor($"value" * 100).cast("long").as("c"))
          .groupBy($"event_type", $"x").agg(sum($"c").as("y"))
          .localCheckpoint(true) // day-domain frame, reused by 3 consumers
        val sStat = daily.as("a")
          .join(daily.as("b"),
            $"a.event_type" === $"b.event_type" && $"a.x" < $"b.x")
          .select($"a.event_type".as("event_type"),
            signum($"b.y" - $"a.y").cast("long").as("sg"))
          .groupBy($"event_type").agg(sum($"sg").as("s_stat"))
        val n = daily.groupBy($"event_type").agg(count(lit(1)).as("n_days"))
        val ties = daily.groupBy($"event_type", $"y")
          .agg(count(lit(1)).as("t"))
          .groupBy($"event_type")
          .agg(sum($"t" * ($"t" - 1) * (lit(2) * $"t" + 5)).as("tie_sum"))
        n.join(sStat, Seq("event_type")).join(ties, Seq("event_type"))
          .select($"event_type", $"n_days", $"s_stat",
            ($"n_days" * ($"n_days" - 1) * (lit(2) * $"n_days" + 5)
              - $"tie_sum").as("var18"))
          .withColumn("trending_95",
            lit(18L) * $"s_stat" * $"s_stat" * 1000000L >=
              lit(3841459L) * $"var18")
          .withColumn("direction", signum($"s_stat").cast("long"))
          .orderBy($"event_type")
      },
      Some("""
        WITH d0 AS (SELECT min(CAST(ts AS DATE)) AS d0 FROM events
                    WHERE value IS NOT NULL),
        v AS (SELECT event_type,
                     CAST(datediff('day', d0.d0, CAST(ts AS DATE)) AS BIGINT)
                       AS x,
                     CAST(floor(value * 100) AS BIGINT) AS c
              FROM events, d0 WHERE value IS NOT NULL),
        daily AS (SELECT event_type, x, CAST(sum(c) AS BIGINT) AS y
                  FROM v GROUP BY 1, 2),
        s AS (SELECT a.event_type,
                     CAST(sum(sign(b.y - a.y)) AS BIGINT) AS s_stat
              FROM daily a JOIN daily b
                ON a.event_type = b.event_type AND a.x < b.x
              GROUP BY 1),
        n AS (SELECT event_type, count(*) AS n_days
              FROM daily GROUP BY 1),
        ties AS (SELECT event_type,
                        CAST(sum(t * (t - 1) * (2 * t + 5)) AS BIGINT)
                          AS tie_sum
                 FROM (SELECT event_type, y, count(*) AS t
                       FROM daily GROUP BY 1, 2)
                 GROUP BY 1)
        SELECT n.event_type, n.n_days, s.s_stat,
               n.n_days * (n.n_days - 1) * (2 * n.n_days + 5)
                 - ties.tie_sum AS var18,
               18 * s.s_stat * s.s_stat * 1000000 >= 3841459
                 * (n.n_days * (n.n_days - 1) * (2 * n.n_days + 5)
                    - ties.tie_sum) AS trending_95,
               CAST(sign(s.s_stat) AS BIGINT) AS direction
        FROM n JOIN s USING (event_type) JOIN ties USING (event_type)
        ORDER BY n.event_type""")),

    Q(
      "q292_grid_density_clusters",
      "GRID-DENSITY CLUSTERING (the cell-level DBSCAN: dense cells + " +
        "8-neighbor connected components — how planet-scale point sets " +
        "actually get density-clustered, since point-level DBSCAN's " +
        "eps-graph is quadratic): q270's synthetic 200x200 plane and " +
        "10-unit cells, a cell is DENSE at >= 6 points, clusters are " +
        "min-label connected components over dense-cell adjacency " +
        "(min-label propagation PLUS a pointer-doubling shortcut each " +
        "round — label := min(neighbor labels, label OF the label " +
        "cell) — so rounds are O(log diameter), not O(diameter): at " +
        "sf0.1 every cell is dense and one 40-cell-wide component " +
        "forms, where plain propagation measured 39.6 s of " +
        "40-iteration job overhead and the doubled form converges in " +
        "~6; every frame localCheckpointed at domain size), " +
        "sparse-cell points " +
        "reported as the noise row (cluster_id = -1). The row-scale " +
        "work is ONE (cell) count aggregate; everything after runs on " +
        "the cell domain, so the same plan holds when the points are " +
        "10^12 and the grid is S2 level-12. Oracle: WITH RECURSIVE " +
        "min-label closure over the same adjacency.",
      (s, dir) => {
        import s.implicits._
        val M = 2147483647L
        val cells = Tables.t(s, dir, "customer")
          .select((($"c_custkey" * 48271L) % M % 200).as("ax"),
            (($"c_custkey" * 16807L) % M % 200).as("ay"))
          .groupBy(expr("ax div 10").as("cx"), expr("ay div 10").as("cy"))
          .agg(count(lit(1)).as("n_pts"))
          .localCheckpoint(true)
        val dense = cells.filter($"n_pts" >= 6)
          .withColumn("label", $"cx" * 20 + $"cy")
          .localCheckpoint(true)
        var cur = dense.select($"cx", $"cy", $"label")
        // labels only ever DECREASE (min-propagation), so the label sum
        // is a complete convergence certificate: any change strictly
        // lowers it — one 1-row aggregate per round instead of the
        // old equality join-and-count (a join job per round on a
        // 40-job iterative query was measurable overhead)
        var curSum = cur.agg(coalesce(sum($"label"), lit(0L)))
          .head().getLong(0)
        var changed = 1L
        while (changed > 0) {
          val prop = cur
            .withColumn("dx", explode(expr("sequence(-1, 1)")))
            .withColumn("dy", explode(expr("sequence(-1, 1)")))
            .select(($"cx" + $"dx").as("cx"), ($"cy" + $"dy").as("cy"),
              $"label".as("nl"))
          // inner join discards propagations into sparse/empty cells
          val viaNbr = cur.select($"cx", $"cy")
            .join(prop, Seq("cx", "cy"))
            .groupBy($"cx", $"cy").agg(min($"nl").as("label"))
          // pointer doubling: also adopt the label OF the label cell
          // (labels are cell ids, so (div 20, % 20) addresses them) —
          // turns O(diameter) rounds into O(log diameter)
          val next = viaNbr
            .join(viaNbr.select(($"cx" * 20 + $"cy").as("label"),
              $"label".as("ll")), Seq("label"), "left")
            .select($"cx", $"cy",
              least($"label", coalesce($"ll", $"label")).as("label"))
            .localCheckpoint(true)
          val nextSum = next.agg(coalesce(sum($"label"), lit(0L)))
            .head().getLong(0)
          changed = if (nextSum == curSum) 0L else 1L
          curSum = nextSum
          cur = next
        }
        val clusters = dense.select($"cx", $"cy", $"n_pts")
          .join(cur, Seq("cx", "cy"))
          .groupBy($"label".as("cluster_id"))
          .agg(count(lit(1)).as("n_cells"), sum($"n_pts").as("n_points"))
        val noise = cells.filter($"n_pts" < 6)
          .agg(count(lit(1)).as("n_cells"),
            coalesce(sum($"n_pts"), lit(0L)).as("n_points"))
          .select(lit(-1L).as("cluster_id"), $"n_cells", $"n_points")
        clusters.unionByName(noise).orderBy($"cluster_id")
      },
      Some("""
        WITH RECURSIVE pts AS (
          SELECT (c_custkey * 48271) % 2147483647 % 200 AS ax,
                 (c_custkey * 16807) % 2147483647 % 200 AS ay
          FROM customer),
        cells AS (
          SELECT ax // 10 AS cx, ay // 10 AS cy, count(*) AS n_pts
          FROM pts GROUP BY 1, 2),
        dense AS (
          SELECT cx, cy, cx * 20 + cy AS id, n_pts
          FROM cells WHERE n_pts >= 6),
        adj AS (
          SELECT a.id AS ida, b.id AS idb
          FROM dense a JOIN dense b
            ON abs(a.cx - b.cx) <= 1 AND abs(a.cy - b.cy) <= 1),
        reach(id, lbl) AS (
          SELECT id, id FROM dense
          UNION
          SELECT a.idb, r.lbl FROM reach r JOIN adj a ON a.ida = r.id),
        lab AS (SELECT id, min(lbl) AS cluster_id FROM reach GROUP BY 1),
        cl AS (
          SELECT l.cluster_id, count(*) AS n_cells,
                 CAST(sum(d.n_pts) AS BIGINT) AS n_points
          FROM dense d JOIN lab l ON d.id = l.id GROUP BY 1),
        noise AS (
          SELECT CAST(-1 AS BIGINT) AS cluster_id,
                 count(*) AS n_cells,
                 CAST(coalesce(sum(n_pts), 0) AS BIGINT) AS n_points
          FROM cells WHERE n_pts < 6)
        SELECT cluster_id, n_cells, n_points
        FROM (SELECT * FROM cl UNION ALL SELECT * FROM noise)
        ORDER BY cluster_id""")),

    Q(
      "q303_slo_nested_percentiles",
      "SLO REPORT via NESTED EXACT PERCENTILES — the latency-ops " +
        "reporting shape q168's flat percentiles can't express: the " +
        "per-DAY p95 of event value (the daily SLO reading), then the " +
        "DISTRIBUTION of those 30 daily readings (median day, worst-" +
        "5%-of-days, extremes) — 'p95 of p95s', which is NOT the " +
        "global p95 (a fact this query makes auditable: averaging or " +
        "globally pooling tail latencies hides bad days, the classic " +
        "SLO reporting mistake). Both levels are q168's counting-CDF " +
        "inverse (smallest v with cum*100 >= q*n — cross-multiplied, " +
        "never a row sort): level 1 runs per-day on the cents domain " +
        "with map-side combine, level 2 on the 30-row daily frame. " +
        "The global p95 lands in the same row for the pooled-vs-daily " +
        "contrast.",
      (s, dir) => {
        import s.implicits._
        val v = Tables.t(s, dir, "events").filter($"value".isNotNull)
          .select(to_date($"ts").as("d"),
            expr("cast(round(value * 100) as bigint)").as("c"))
        val dayCounts = v.groupBy($"d", $"c").agg(count(lit(1)).as("cnt"))
          .localCheckpoint(true) // (day, cents) domain, reused twice
        val dayN = dayCounts.groupBy($"d").agg(sum($"cnt").as("n"))
        val dayP95 = dayCounts
          .withColumn("cum", sum($"cnt").over(
            Window.partitionBy($"d").orderBy($"c")))
          .join(broadcast(dayN), Seq("d"))
          .filter($"cum" * 100 >= $"n" * 95)
          .groupBy($"d").agg(min($"c").as("p95"))
        val lvl2 = dayP95.groupBy($"p95").agg(count(lit(1)).as("cnt"))
          .withColumn("cum", sum($"cnt").over(Window.orderBy($"p95")))
        val nDays = dayP95.agg(count(lit(1)).as("nd"))
        val p50of = lvl2.crossJoin(broadcast(nDays))
          .filter($"cum" * 100 >= $"nd" * 50)
          .agg(min($"p95").as("p95_p50"))
        val p95of = lvl2.crossJoin(broadcast(nDays))
          .filter($"cum" * 100 >= $"nd" * 95)
          .agg(min($"p95").as("p95_p95"))
        val ext = dayP95.agg(count(lit(1)).as("n_days"),
          min($"p95").as("p95_min"), max($"p95").as("p95_max"))
        val globalN = dayCounts.agg(sum($"cnt").as("gn"))
        val globalP95 = dayCounts.groupBy($"c").agg(sum($"cnt").as("cnt"))
          .withColumn("cum", sum($"cnt").over(Window.orderBy($"c")))
          .crossJoin(broadcast(globalN))
          .filter($"cum" * 100 >= $"gn" * 95)
          .agg(min($"c").as("global_p95"))
        ext.crossJoin(p50of).crossJoin(p95of).crossJoin(globalP95)
          .select($"n_days", $"p95_min", $"p95_p50", $"p95_p95",
            $"p95_max", $"global_p95")
      },
      Some("""
        WITH v AS (
          SELECT CAST(ts AS DATE) AS d,
                 CAST(round(value * 100) AS BIGINT) AS c
          FROM events WHERE value IS NOT NULL),
        dc AS (SELECT d, c, count(*) AS cnt FROM v GROUP BY 1, 2),
        dn AS (SELECT d, CAST(sum(cnt) AS BIGINT) AS n FROM dc GROUP BY 1),
        cum AS (SELECT dc.d, dc.c,
                       sum(dc.cnt) OVER (PARTITION BY dc.d ORDER BY dc.c)
                         AS cum,
                       dn.n
                FROM dc JOIN dn ON dc.d = dn.d),
        dp AS (SELECT d, min(c) AS p95 FROM cum
               WHERE cum * 100 >= n * 95 GROUP BY 1),
        nd AS (SELECT count(*) AS nd FROM dp),
        l2 AS (SELECT p95, count(*) AS cnt FROM dp GROUP BY 1),
        l2c AS (SELECT p95, sum(cnt) OVER (ORDER BY p95) AS cum FROM l2),
        p50 AS (SELECT min(p95) AS p95_p50 FROM l2c, nd
                WHERE cum * 100 >= nd.nd * 50),
        p95o AS (SELECT min(p95) AS p95_p95 FROM l2c, nd
                 WHERE cum * 100 >= nd.nd * 95),
        ext AS (SELECT count(*) AS n_days, CAST(min(p95) AS BIGINT)
                  AS p95_min, CAST(max(p95) AS BIGINT) AS p95_max
                FROM dp),
        gn AS (SELECT CAST(sum(cnt) AS BIGINT) AS gn FROM dc),
        gc AS (SELECT c, sum(cnt) AS cnt FROM dc GROUP BY 1),
        gcc AS (SELECT c, sum(cnt) OVER (ORDER BY c) AS cum FROM gc),
        gp AS (SELECT CAST(min(c) AS BIGINT) AS global_p95 FROM gcc, gn
               WHERE cum * 100 >= gn.gn * 95)
        SELECT ext.n_days, ext.p95_min,
               CAST(p50.p95_p50 AS BIGINT) AS p95_p50,
               CAST(p95o.p95_p95 AS BIGINT) AS p95_p95,
               ext.p95_max, gp.global_p95
        FROM ext, p50, p95o, gp""")),

    Q(
      "q381_degree_assortativity",
      "DEGREE ASSORTATIVITY of the supplier-customer interaction graph " +
        "(Newman 2002 — do high-degree suppliers trade with high-degree " +
        "customers? The mixing statistic beside q150's PageRank and " +
        "q197's triangles): Pearson correlation of endpoint degrees " +
        "over the distinct edge set, EXACT — r's square and sign are " +
        "emitted as cross-multiplied integer rationals (r itself needs " +
        "a sqrt; r^2 = num^2/(varx*vary) does not — q315's " +
        "avoid-the-sqrt discipline), from five BIGINT/DECIMAL moment " +
        "sums over the edge frame. Degrees are computed ONCE per side " +
        "on the distinct (suppkey, custkey) edges (one orderkey join " +
        "to build edges, two bounded degree aggregates joined back by " +
        "broadcast at fixture dims / shuffle at scale). The fixture's " +
        "hash-uniform pairing should mix neutrally — near-zero r is " +
        "the negative control (q293's discipline). 100 TB: edges " +
        "shuffle once on each endpoint for degrees; the correlation " +
        "is a 1-row reduce.",
      (s, dir) => {
        import s.implicits._
        val edges = Tables.t(s, dir, "lineitem")
          .join(Tables.t(s, dir, "orders"),
            $"l_orderkey" === $"o_orderkey")
          .select($"l_suppkey".as("sk"), $"o_custkey".as("ck"))
          .distinct()
        val ds = edges.groupBy($"sk").agg(count(lit(1)).as("dx"))
        val dc = edges.groupBy($"ck").agg(count(lit(1)).as("dy"))
        edges.join(ds, Seq("sk")).join(dc, Seq("ck"))
          .agg(count(lit(1)).as("m"), sum($"dx").as("sx"),
            sum($"dy").as("sy"),
            sum(expr("cast(dx as decimal(38,0)) * dy")).as("sxy"),
            sum(expr("cast(dx as decimal(38,0)) * dx")).as("sxx"),
            sum(expr("cast(dy as decimal(38,0)) * dy")).as("syy"))
          .select($"m",
            expr("cast(cast(m as decimal(38,0)) * sxy - " +
              "cast(sx as decimal(38,0)) * sy as decimal(38,0))")
              .as("num"),
            expr("cast(m as decimal(38,0)) * sxx - " +
              "cast(sx as decimal(38,0)) * sx").as("varx"),
            expr("cast(m as decimal(38,0)) * syy - " +
              "cast(sy as decimal(38,0)) * sy").as("vary"))
          .select($"m", expr("cast(num as bigint)").as("num"),
            expr("cast(varx as bigint)").as("varx"),
            expr("cast(vary as bigint)").as("vary"),
            expr("cast(case when num >= 0 then 1 else -1 end " +
              "as bigint)").as("r_sign"),
            // nullif: a degenerate all-equal-degree graph has zero
            // variance on a side — emit NULL, not a divide error.
            // Precision envelope: num^2 * 1e6 must fit DECIMAL(38,0),
            // i.e. |num| <= ~5.6e15 — Cauchy-Schwarz bounds |num| by
            // sqrt(varx*vary), so this holds while the centered degree
            // second moments stay below ~3e31; past that Spark yields
            // NULL (loud) rather than a wrapped integer.
            expr("cast(num * num * 1000000 div " +
              "nullif(varx * vary, 0) as bigint)").as("r2_ppm"))
      },
      Some("""
        WITH edges AS (
          SELECT DISTINCT l_suppkey AS sk, o_custkey AS ck
          FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
        ds AS (SELECT sk, CAST(count(*) AS BIGINT) AS dx
               FROM edges GROUP BY 1),
        dc AS (SELECT ck, CAST(count(*) AS BIGINT) AS dy
               FROM edges GROUP BY 1),
        mom AS (
          SELECT CAST(count(*) AS BIGINT) AS m,
                 CAST(sum(dx) AS BIGINT) AS sx,
                 CAST(sum(dy) AS BIGINT) AS sy,
                 sum(CAST(dx AS HUGEINT) * dy) AS sxy,
                 sum(CAST(dx AS HUGEINT) * dx) AS sxx,
                 sum(CAST(dy AS HUGEINT) * dy) AS syy
          FROM edges JOIN ds USING (sk) JOIN dc USING (ck)),
        r AS (
          SELECT m,
                 CAST(m AS HUGEINT) * sxy
                   - CAST(sx AS HUGEINT) * sy AS num,
                 CAST(m AS HUGEINT) * sxx
                   - CAST(sx AS HUGEINT) * sx AS varx,
                 CAST(m AS HUGEINT) * syy
                   - CAST(sy AS HUGEINT) * sy AS vary
          FROM mom)
        SELECT m, CAST(num AS BIGINT) AS num,
               CAST(varx AS BIGINT) AS varx,
               CAST(vary AS BIGINT) AS vary,
               CAST(CASE WHEN num >= 0 THEN 1 ELSE -1 END AS BIGINT)
                 AS r_sign,
               CAST(num * num * 1000000 // nullif(varx * vary, 0)
                 AS BIGINT) AS r2_ppm
        FROM r""")),

    Q(
      "q395_kcore_decomposition",
      "K-CORE DECOMPOSITION of the co-purchase graph (Seidman 1983 — " +
        "the standard dense-subgraph peel beside q150's PageRank and " +
        "q197's triangles: repeatedly drop nodes with degree < k " +
        "until none remain; the fixpoint is UNIQUE regardless of " +
        "peel order, which is what makes a distributed bulk peel and " +
        "a sequential textbook peel agree bit-for-bit). Graph: parts " +
        "co-purchased in >= 2 distinct orders (q197's support " +
        "pruning). Spark-first: each round is ONE degree aggregate " +
        "over the survivor-filtered edge list (two broadcast-able " +
        "semi joins + a partkey-grain count), localCheckpoint " +
        "holding plan depth flat; the loop runs a FIXED 16 rounds — " +
        "peeling is idempotent at the fixpoint, so fixed-unroll " +
        "equals run-to-convergence and the DuckDB oracle replays " +
        "the same 16 rounds as generated CTEs. Output per k in " +
        "{2,3,4}: core size, edge count, min in-core degree (>= k " +
        "when non-empty — the definitional self-audit). 100 TB: " +
        "rounds are degree aggregates with map-side combine; the " +
        "edge list shuffles once per round on node id.",
      (s, dir) => {
        import s.implicits._
        val li = Tables.t(s, dir, "lineitem")
          .select($"l_orderkey".as("ok"), $"l_partkey".as("pk"))
        val pairs = li.as("a").join(li.as("b"),
            $"a.ok" === $"b.ok" && $"a.pk" < $"b.pk")
          .groupBy($"a.pk".as("pa"), $"b.pk".as("pb"))
          .agg(countDistinct($"a.ok").as("sup"))
          .filter($"sup" >= 2)
          .select($"pa", $"pb")
        // edges pre-partitioned ONCE by pa; the per-round physical form
        // is size-GATED inside kcoreStats: survivor lists under the
        // broadcast threshold (this fixture's case — the node list is
        // the part dim by construction) ride broadcast semi joins and
        // each round runs EXCHANGE-FREE; a general graph whose survivor
        // set outgrows the threshold flips to shuffle semi joins with
        // the same bit-exact fixpoint (GraphPathSpec runs BOTH forms and
        // asserts equality; the since-deleted 10x scale probe repeated it
        // on 6M rows in 2026-08).
        val edges = pairs
          .unionByName(pairs.select($"pb".as("pa"), $"pa".as("pb")))
          .repartition($"pa")
          .localCheckpoint(true)
        kcoreStats(edges, Seq(2, 3, 4))
          .toDF("k", "n_core_nodes", "n_core_edges",
            "min_core_degree").orderBy($"k")
      },
      Some(kcoreOracleSql))
  )

  /** K-core peel statistics over a prepared SYMMETRIC edge frame
    * (pa, pb) — both directions present, ideally pre-partitioned by pa
    * and checkpointed (q395 does both). Returns per k:
    * (k, core nodes, core edges, min in-core degree).
    *
    * The physical form of a peel round is SIZE-GATED, which is what
    * makes the operator a general-graph citizen instead of a fixture
    * trick: while the survivor list has at most `broadcastThreshold`
    * nodes it is BROADCAST into the two semi joins — they preserve the
    * edge frame's pa-partitioning, so the round's degree aggregate
    * runs exchange-free (measured 10.9 s -> 2.5 s for q395's 3-k
    * sweep at sf0.1). Past the threshold the same logical round runs
    * as shuffle semi joins — more exchanges, same unique fixpoint
    * (peel order never changes a k-core, so the two forms agree
    * BIT-EXACTLY; GraphPathSpec asserts it on the fixture graph, and
    * in 2026-08 the since-deleted 10x scale probe measured the 6M-row
    * co-purchase graph:
    * broadcast form 6.9 s / 144.5 MiB shuffle, forced shuffle form
    * 8.3 s / 167.1 MiB, fixpoints identical). The
    * default threshold (1M nodes ~ 8 MB of longs) is the classic
    * broadcast-join envelope; a billion-node graph starts on the
    * shuffle form and — because peeling only shrinks the survivor
    * set — HOPS DOWN to the broadcast form the moment the core
    * fits, exactly like AQE's runtime broadcast demotion. */
  def kcoreStats(edges: org.apache.spark.sql.DataFrame, ks: Seq[Int],
      broadcastThreshold: Long = 1000000L): Seq[(Long, Long, Long, Long)] = {
    val s = edges.sparkSession
    import s.implicits._
    def survivors(kept: org.apache.spark.sql.DataFrame,
        nKept: Long) = {
      val (k1, k2) =
        if (nKept <= broadcastThreshold)
          (broadcast(kept), broadcast(kept.select($"n".as("n2"))))
        else (kept, kept.select($"n".as("n2")))
      edges
        .join(k1, $"pa" === $"n", "left_semi")
        .join(k2, $"pb" === $"n2", "left_semi")
        .groupBy($"pa").agg(count(lit(1)).as("d"))
    }
    // For ASCENDING ks, each k-core is CONTAINED in the previous one
    // (Seidman: the k-core is a subgraph of the (k-1)-core), and the
    // peel's unique fixpoint is reached from ANY seed that is a
    // superset of the core — so each peel starts from the previous
    // k's converged core instead of the full node set, skipping the
    // early rounds that would just re-peel what the previous k
    // already removed. Bit-identical by the same order-independence
    // argument the oracle's fixed unroll relies on (GraphPathSpec
    // asserts the stats against the from-scratch form). A
    // non-ascending k falls back to the full seed.
    var prevSeed: Option[(org.apache.spark.sql.DataFrame, Long, Int)] =
      None
    ks.map { k =>
      var (kept, prev) = prevSeed match {
        case Some((core, n, pk)) if k >= pk => (core, n)
        case _ =>
          val full = edges.select($"pa".as("n")).distinct()
            .localCheckpoint(true)
          (full, full.count())
      }
      var round = 0
      var converged = false
      while (round < 16 && !converged) {
        kept = survivors(kept, prev)
          .filter($"d" >= k)
          .select($"pa".as("n")).localCheckpoint(true)
        val cur = kept.count()
        converged = cur == prev
        prev = cur
        round += 1
      }
      prevSeed = Some((kept, prev, k))
      val st = survivors(kept, prev)
        .agg(count(lit(1)).as("nn"),
          coalesce(sum($"d"), lit(0L)).as("dd"),
          coalesce(min($"d"), lit(0L)).as("md"))
        .head()
      (k.toLong, st.getLong(0), st.getLong(1) / 2, st.getLong(2))
    }
  }

  /** GENERATED DuckDB oracle for q395 — 16 unrolled peel rounds per k " +
    * (the q378/q363 generated-oracle discipline). Fixed-unroll is safe
    * because peeling is idempotent at the fixpoint: if round j reaches
    * it, rounds j+1..16 are no-ops in BOTH engines, and if 16 rounds do
    * not converge both engines stop at the identical 16-round state —
    * bit-equality holds either way. */
  private def kcoreOracleSql: String = {
    def sweep(k: Int): String = {
      val rounds = (1 to 16).map { i =>
        s"""r${k}_$i AS MATERIALIZED (
          SELECT pa AS n FROM edges
          WHERE pa IN (SELECT n FROM r${k}_${i - 1})
            AND pb IN (SELECT n FROM r${k}_${i - 1})
          GROUP BY pa HAVING count(*) >= $k)"""
      }.mkString(",\n")
      s"""r${k}_0 AS MATERIALIZED (SELECT DISTINCT pa AS n FROM edges),
        $rounds,
        core$k AS (
          SELECT CAST($k AS BIGINT) AS k,
                 CAST(count(*) AS BIGINT) AS n_core_nodes,
                 CAST(coalesce(sum(d), 0) // 2 AS BIGINT)
                   AS n_core_edges,
                 CAST(coalesce(min(d), 0) AS BIGINT)
                   AS min_core_degree
          FROM (
            SELECT pa, count(*) AS d FROM edges
            WHERE pa IN (SELECT n FROM r${k}_16)
              AND pb IN (SELECT n FROM r${k}_16)
            GROUP BY pa))"""
    }
    s"""
      WITH pp AS (
        SELECT a.l_orderkey AS ok, a.l_partkey AS pa, b.l_partkey AS pb
        FROM lineitem a JOIN lineitem b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
      half AS (
        SELECT pa, pb FROM pp GROUP BY pa, pb
        HAVING count(DISTINCT ok) >= 2),
      edges AS MATERIALIZED (
        SELECT pa, pb FROM half
        UNION ALL SELECT pb AS pa, pa AS pb FROM half),
      ${Seq(2, 3, 4).map(sweep).mkString(",\n")}
      SELECT * FROM (SELECT * FROM core2 UNION ALL
        SELECT * FROM core3 UNION ALL SELECT * FROM core4)
      ORDER BY k"""
  }
}
