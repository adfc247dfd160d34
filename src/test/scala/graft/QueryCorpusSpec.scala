package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared session for all suites (one JVM-wide session, local[4]). */
object TestSession {
  lazy val spark: SparkSession = {
    val s = GraftSession.builder("4")
      // the session outlives every suite, so its warehouse lives in a
      // pid-scoped root that the JVM deletes at exit
      .config("spark.sql.warehouse.dir", TempRoots.root("graft_wh").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
  val sfDir = "/root/testdata/sf0.001"
}

/** Smoke-level corpus check on sf0.001: every declared query plans and
  * executes; structural invariants of the driver contract hold. DuckDB
  * value-parity is the driver's gate (tools/check.py locally). */
class QueryCorpusSpec extends AnyFunSuite {
  import TestSession._

  test("entry() returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("query names are unique and oracle keys are a subset") {
    val names = SparkEntry.allQueries.map(_.name)
    assert(names.distinct.size == names.size)
    assert(SparkEntry.oracleSql.keySet.subsetOf(SparkEntry.queries.keySet))
  }

  test("oracle SQL is single-line (driver JSON safety)") {
    SparkEntry.oracleSql.values.foreach { sql =>
      assert(!sql.contains("\n") && !sql.contains("\t"))
    }
  }

  test("q04 approx_count_distinct is within HLL++ error of exact") {
    import org.apache.spark.sql.functions._
    val approx = SparkEntry.queries("q04_approx_distinct")(spark, sfDir)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    val li = Tables.t(spark, sfDir, "lineitem")
    val exact = li.groupBy("l_returnflag")
      .agg(countDistinct("l_partkey").as("p"), countDistinct("l_orderkey").as("o"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    exact.foreach { case (k, (p, o)) =>
      val (ap, ao) = approx(k)
      assert(math.abs(ap - p).toDouble / p <= 0.1, s"$k parts: $ap vs $p")
      assert(math.abs(ao - o).toDouble / o <= 0.1, s"$k orders: $ao vs $o")
    }
  }

  test("q113 approx_percentile is within rank error of exact percentile_cont") {
    import org.apache.spark.sql.functions._
    val approx = SparkEntry.queries("q113_approx_percentile")(spark, sfDir)
      .collect().map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    val li = Tables.t(spark, sfDir, "lineitem")
    // GK accuracy 10000 ⇒ rank error ≤ n/10000; translate to a value box
    // by checking the approx value's true rank stays within that band
    val eps = 1.0 / 10000
    approx.foreach { case (k, (p50, p95)) =>
      val vals = li.filter(col("l_returnflag") === k)
        .select("l_extendedprice").collect().map(_.getDouble(0)).sorted
      def rankOf(v: Double): Double =
        vals.count(_ <= v).toDouble / vals.length
      assert(math.abs(rankOf(p50) - 0.5) <= eps + 1.0 / vals.length,
        s"$k p50=$p50 rank=${rankOf(p50)}")
      assert(math.abs(rankOf(p95) - 0.95) <= eps + 1.0 / vals.length,
        s"$k p95=$p95 rank=${rankOf(p95)}")
    }
  }

  test("q117 two-phase packing equals the naive single-window formulation") {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // the naive form (global running sum in ONE window partition — the
    // formulation q117 deliberately avoids) is the semantic reference
    val naive = Tables.t(spark, sfDir, "documents")
      .select($"doc_id", size(split(trim($"text"), " ")).cast("long").as("n_tok"))
      .filter($"n_tok" > 0)
      .withColumn("start_tok", coalesce(sum($"n_tok").over(
        Window.orderBy($"doc_id").rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .withColumn("chunk_id", explode(sequence(expr("start_tok div 512"),
        expr("(start_tok + n_tok - 1) div 512"))))
      .groupBy($"chunk_id")
      .agg(count(lit(1)).as("n_docs"), min($"doc_id").as("d_first"),
        max($"doc_id").as("d_last"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    val packed = SparkEntry.queries("q117_sequence_packing")(spark, sfDir)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(packed === naive)
    // tape conservation: chunk ids are contiguous from 0
    assert(packed.keySet === (0L until packed.size.toLong).toSet)
  }

  test("q125 two-phase shard rank equals the naive single-window formulation") {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // semantic reference: one global row_number window (the single-
    // partition formulation q125 deliberately avoids)
    val naive = Tables.t(spark, sfDir, "documents")
      .select($"doc_id", $"lang", $"n_chars",
        md5(concat(lit("seed42:"), $"doc_id".cast("string"))).as("h"))
      .withColumn("rk", row_number().over(Window.orderBy($"h", $"doc_id")))
      .withColumn("shard_id", (($"rk" - 1) % 8).cast("int"))
      .groupBy($"shard_id")
      .agg(count(lit(1)).as("n_docs"), countDistinct($"lang").as("n_langs"),
        sum($"n_chars").as("chars"))
      .collect().map(r => r.getInt(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    val sharded = SparkEntry.queries("q125_global_shuffle")(spark, sfDir)
      .collect().map(r => r.getInt(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(sharded === naive)
  }

  test("q116 split is a partition of the corpus with ~80/10/10 fractions") {
    val rows = SparkEntry.queries("q116_train_split")(spark, sfDir).collect()
    val bySplit = rows.groupBy(_.getString(1)).view.mapValues(_.map(_.getLong(2)).sum).toMap
    val total = bySplit.values.sum
    assert(total === Tables.t(spark, sfDir, "documents").count())
    assert(bySplit.keySet === Set("train", "val", "test"))
    // md5 is uniform; at 50 docs the tolerance must stay loose
    assert(bySplit("train").toDouble / total > 0.6, s"got $bySplit")
    assert(bySplit("test").toDouble / total < 0.3, s"got $bySplit")
  }

  test("q140 duplicate-span coverage is bounded and hits the planted near-dups") {
    val rows = SparkEntry.queries("q140_duplicate_spans")(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    // only covered docs are reported; coverage is positive, never exceeds
    // the doc's length, and needs at least one full 5-gram
    rows.foreach { case (id, n, dup) =>
      assert(dup >= 1 && dup <= n, s"doc $id: dup_tokens $dup out of (0, $n]")
      assert(n >= 5, s"doc $id: $n tokens cannot hold a 5-gram")
    }
    // the fixture corpus plants near-duplicate pairs (q62 finds them at
    // jac >= 0.8), which share long runs of shingles — the report must be
    // non-empty
    assert(rows.nonEmpty, "no duplicate spans found in a corpus with planted near-dups")
  }

  test("q143 sessions partition the events and respect the 30-min gap") {
    import org.apache.spark.sql.functions._
    val sess = SparkEntry.queries("q143_sessionize_batch")(spark, sfDir)
    val total = Tables.t(spark, sfDir, "events").count()
    assert(sess.agg(sum("n_events")).head.getLong(0) == total,
      "sessions must partition the event set")
    // within a user, consecutive sessions are separated by MORE than the
    // 30-minute inactivity gap (otherwise they would have merged)
    val s2 = sess.selectExpr("user_id", "sess_no", "sess_start", "sess_end")
    val viol = s2.as("a").join(s2.as("b"),
        expr("a.user_id = b.user_id AND b.sess_no = a.sess_no + 1"))
      .filter(expr("b.sess_start <= a.sess_end + INTERVAL 30 MINUTES"))
      .count()
    assert(viol == 0, s"$viol adjacent sessions violate the gap")
  }

  test("q144 merged intervals are disjoint and conserve shipments") {
    import org.apache.spark.sql.functions._
    val iv = SparkEntry.queries("q144_interval_merge")(spark, sfDir)
    val total = Tables.t(spark, sfDir, "lineitem").count()
    assert(iv.agg(sum("n_shipments")).head.getLong(0) == total,
      "islands must partition the shipment set")
    val i2 = iv.selectExpr("l_suppkey", "island", "iv_start", "iv_end")
    val viol = i2.as("a").join(i2.as("b"),
        expr("a.l_suppkey = b.l_suppkey AND b.island = a.island + 1"))
      .filter(expr("b.iv_start <= a.iv_end"))
      .count()
    assert(viol == 0, s"$viol adjacent islands overlap")
  }

  test("q145 containment dominates Jaccard and catches a partial copy Jaccard misses") {
    import graft.operators.Dedup
    // containment >= jaccard in both directions (common/n1 >= common/(n1+n2-common)),
    // so every symmetric near-dup pair must appear in both orientations
    val jac = Dedup.jaccardPairs(spark, sfDir, 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val cont = Dedup.containmentPairs(spark, sfDir, 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    jac.foreach { case (a, b) =>
      assert(cont.contains((a, b)) && cont.contains((b, a)),
        s"jaccard pair ($a,$b) missing from containment at the same threshold")
    }
    // a planted PARTIAL copy: the excerpt's shingles are a strict subset of
    // the container's, so containment(excerpt -> container) = 1.0 while
    // jaccard stays under any useful threshold
    val base = (1 to 40).map(i => s"tok$i").mkString(" ")
    val filler = (100 to 400).map(i => s"tok$i").mkString(" ")
    import spark.implicits._
    // docShingles reads <dir>/documents.parquet via Tables.t — mirror that
    // layout; TempRoots scratch so a dead JVM's leftovers get swept
    val d2 = graft.TempRoots.freshForDir("graft_cont", sfDir).toString
    Seq((1L, base), (2L, s"$base $filler"))
      .toDF("doc_id", "text").coalesce(1).write.parquet(s"$d2/documents.parquet")
    val found = Dedup.containmentPairs(spark, d2, 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(found.exists { case (a, b, c) => a == 1L && b == 2L && c >= 0.99 },
      s"excerpt-in-container not detected: ${found.mkString(",")}")
    val jacMissed = Dedup.jaccardPairs(spark, d2, 0.8).count()
    assert(jacMissed == 0, "symmetric jaccard should miss the partial copy at 0.8")
  }

  test("q146 SCD2 ranges chain per user with exactly one current row") {
    val rows = SparkEntry.queries("q146_scd2_build")(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getString(1),
        r.getAs[java.time.LocalDateTime](2),
        Option(r.getAs[java.time.LocalDateTime](3)), r.getBoolean(4)))
    rows.groupBy(_._1).foreach { case (u, rs) =>
      val sorted = rs.sortBy(_._3)(Ordering.fromLessThan(_ isBefore _))
      assert(sorted.count(_._5) == 1, s"user $u: != 1 current row")
      assert(sorted.last._4.isEmpty && sorted.last._5, s"user $u: last row must be current")
      sorted.sliding(2).foreach {
        case Array(a, b) =>
          assert(a._4.contains(b._3), s"user $u: valid_to must equal next valid_from")
          assert(a._2 != b._2, s"user $u: consecutive equal values not collapsed")
        case _ =>
      }
    }
  }

  test("q148/q149 retrieval answers match direct text scans") {
    import org.apache.spark.sql.functions._
    val docs = Tables.t(spark, sfDir, "documents")
      .select(col("doc_id"), col("text")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val bool = SparkEntry.queries("q148_boolean_retrieval")(spark, sfDir)
      .collect().map(_.getLong(0)).toSet
    val expectBool = docs.collect { case (id, t)
      if Seq("query", "window", "scan").forall(t.trim.split(" ").contains) => id }.toSet
    assert(bool == expectBool, "boolean retrieval != direct scan")
    val phrase = SparkEntry.queries("q149_phrase_search")(spark, sfDir)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val expectPhrase = docs.map { case (id, t) =>
      val w = t.trim.split(" ")
      id -> w.indices.dropRight(1).count(i => w(i) == "sort" && w(i + 1) == "merge").toLong
    }.filter(_._2 > 0)
    assert(phrase == expectPhrase, "phrase search != direct scan")
  }

  test("q150 integer PageRank is partitioning-invariant (bit-identical reruns)") {
    val a = SparkEntry.queries("q150_pagerank_int")(spark, sfDir)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    // different shuffle layout must not change a single scaled rank — the
    // integer fixed-point claim (float PageRank fails this)
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "7")
    try {
      val b = SparkEntry.queries("q150_pagerank_int")(spark, sfDir)
        .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
      assert(a == b, "rank drifted under a different partitioning")
    } finally spark.conf.set("spark.sql.shuffle.partitions", prev)
    assert(a.forall(_._2 >= 150000L), "rank below the teleport floor")
    assert(a.map(_._2) == a.map(_._2).sorted(Ordering[Long].reverse), "not rank-sorted")
  }

  test("q152 merged HLL sketches estimate within error of exact distinct counts") {
    import org.apache.spark.sql.functions._
    val est = SparkEntry.queries("q152_hll_sketch_merge")(spark, sfDir)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val exact = Tables.t(spark, sfDir, "documents")
      .select(col("lang"), explode(split(trim(col("text")), " ")).as("w"))
      .filter(col("w") =!= "")
      .groupBy("lang").agg(countDistinct("w").as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(est.keySet == exact.keySet)
    exact.foreach { case (lang, n) =>
      val e = est(lang)
      // lgK=12 → relative standard error ~1.6%; 5% is > 3 sigma
      assert(math.abs(e - n).toDouble / n <= 0.05, s"$lang: est $e vs exact $n")
    }
  }

  test("q153 gap-filled series is contiguous per user with conserved totals") {
    import org.apache.spark.sql.functions._
    val rows = SparkEntry.queries("q153_gapfill_timeseries")(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getDate(1).toLocalDate, r.getLong(2)))
    assert(rows.map(_._3).sum == Tables.t(spark, sfDir, "events").count(),
      "gap rows must be zeros — totals conserved")
    rows.groupBy(_._1).foreach { case (u, rs) =>
      val days = rs.map(_._2).sortBy(_.toEpochDay)
      days.sliding(2).foreach {
        case Array(a, b) =>
          assert(b.toEpochDay == a.toEpochDay + 1, s"user $u: gap between $a and $b survived")
        case _ =>
      }
    }
  }

  test("q155 trigram blocking matches every corrupted probe exactly once") {
    val rows = SparkEntry.queries("q155_fuzzy_join")(spark, sfDir)
      .collect().map(r => (r.getString(0), r.getString(1)))
    val nNations = Tables.t(spark, sfDir, "nation").count()
    assert(rows.length.toLong == nNations, s"expected one match per probe: ${rows.length}")
    rows.foreach { case (probe, name) =>
      assert(name.substring(1) == probe, s"'$probe' matched wrong nation '$name'")
    }
  }

  test("q156 sequences are strictly ordered and match a direct event scan") {
    import org.apache.spark.sql.functions._
    val got = SparkEntry.queries("q156_event_sequence")(spark, sfDir)
      .collect().map(r => (r.getLong(0),
        r.getAs[java.time.LocalDateTime](1),
        r.getAs[java.time.LocalDateTime](2),
        r.getAs[java.time.LocalDateTime](3)))
    got.foreach { case (u, t1, t2, t3) =>
      assert(t1.isBefore(t2) && t2.isBefore(t3), s"user $u: sequence not strictly ordered")
    }
    // driver-side reference: earliest click, earliest view after it,
    // earliest purchase after that
    val ev = Tables.t(spark, sfDir, "events")
      .select(col("user_id"), col("event_type"),
        col("ts").cast("timestamp_ntz").as("ts"))
      .collect()
      .map(r => (r.getLong(0), r.getString(1),
        r.getAs[java.time.LocalDateTime](2)))
      .groupBy(_._1)
    implicit val ldtOrd: Ordering[java.time.LocalDateTime] =
      Ordering.fromLessThan(_ isBefore _)
    val expect = ev.flatMap { case (u, rows) =>
      val byType = (t: String) => rows.filter(_._2 == t).map(_._3).sorted
      for {
        t1 <- byType("click").headOption
        t2 <- byType("view").find(_.isAfter(t1))
        t3 <- byType("purchase").find(_.isAfter(t2))
      } yield u -> ((t1, t2, t3))
    }
    assert(got.map(_._1).toSet == expect.keySet, "sequence-complete user sets differ")
  }

  SparkEntry.allQueries.foreach { q =>
    test(s"${q.name} executes on sf0.001") {
      val df = q.run(spark, sfDir)
      assert(df.columns.nonEmpty)
      // Execute the full plan; empty results are legal for some filters at
      // tiny SF, so only executability is asserted here.
      df.count()
    }
  }
}
