package graft

import org.scalatest.funsuite.AnyFunSuite

/** Bucketing — the co-location strategy for repeated fact-fact joins at
  * scale: both tables pre-bucketed on the join key join WITHOUT any
  * Exchange (at 100 TB that shuffle is the dominant cost; bucketed layout
  * pays it once at write time instead of per query).
  */
class BucketingSpec extends AnyFunSuite with TempDirs {
  import TestSession._

  test("bucketed fact-fact join runs with zero exchanges") {
    // warehouse dir is a temp dir set at session build (TestSession)
    val prevBroadcast = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      Tables.t(spark, sfDir, "lineitem")
        .write.mode("overwrite")
        .bucketBy(8, "l_orderkey").sortBy("l_orderkey")
        .saveAsTable("lineitem_b")
      Tables.t(spark, sfDir, "orders")
        .write.mode("overwrite")
        .bucketBy(8, "o_orderkey").sortBy("o_orderkey")
        .saveAsTable("orders_b")

      val joined = spark.table("lineitem_b")
        .join(spark.table("orders_b"),
          spark.table("lineitem_b")("l_orderkey") === spark.table("orders_b")("o_orderkey"))
        .groupBy("o_orderpriority").count()
      joined.collect()
      val plan = joined.queryExecution.executedPlan.toString

      assert(plan.contains("SortMergeJoin"), plan.take(600))
      assert(plan.contains("SelectedBucketsCount"), "scans should be bucket-aware")
      // the join itself must not shuffle either side; the only exchange
      // allowed is the one feeding the final small aggregation
      val joinSection = plan.substring(0, plan.indexOf("SortMergeJoin"))
      assert(!joinSection.contains("Exchange hashpartitioning(l_orderkey") &&
        !plan.contains("Exchange hashpartitioning(o_orderkey"),
        "bucketed join sides must not re-shuffle")

      // correctness unchanged vs the unbucketed join
      val unbucketed = Tables.t(spark, sfDir, "lineitem")
        .join(Tables.t(spark, sfDir, "orders"),
          Tables.t(spark, sfDir, "lineitem")("l_orderkey") ===
            Tables.t(spark, sfDir, "orders")("o_orderkey"))
        .groupBy("o_orderpriority").count()
        .collect().map(r => (r.getString(0), r.getLong(1))).toMap
      val bucketed = joined.collect().map(r => (r.getString(0), r.getLong(1))).toMap
      assert(bucketed === unbucketed)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevBroadcast)
      spark.sql("DROP TABLE IF EXISTS lineitem_b")
      spark.sql("DROP TABLE IF EXISTS orders_b")
    }
  }

  test("snapshot diff over bucket-registered versions joins with zero " +
    "exchanges — the q438 docstring's co-location claim, proven in-plan") {
    import graft.sink.TrainingShards
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val prevBroadcast = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val o = Tables.t(spark, sfDir, "orders")
        .select($"o_orderkey".as("doc_id"),
          expr("cast(round(o_totalprice * 100) as bigint)").as("cents"))
      val root = tempDir("graft_diff_bucket")
      val v1 = TrainingShards.writeVersion(o, root, "s", 2)
      val mx = o.agg(max($"doc_id")).head().getLong(0)
      val v2 = TrainingShards.mergeVersion(spark, root,
        CdcFixture.toMerge(CdcFixture.singleBatch(
          o.withColumn("prio", lit("x")), mx)),
        "doc_id", "s", 2)
      // a deployment registers both versions as bucketed tables on the
      // diff key; the diff's full-outer join then co-locates
      def register(v: Int, name: String): Unit =
        TrainingShards.readVersion(spark, root, Some(v))
          .drop("rk", "shard_id")
          .write.mode("overwrite")
          .bucketBy(8, "doc_id").sortBy("doc_id").saveAsTable(name)
      register(v1, "snap_v1_b"); register(v2, "snap_v2_b")
      val a = spark.table("snap_v1_b")
        .select($"doc_id", struct($"cents").as("before"))
      val b = spark.table("snap_v2_b")
        .select($"doc_id", struct($"cents").as("after"))
      val diff = a.join(b, Seq("doc_id"), "full_outer")
        .select($"doc_id",
          when($"before".isNull, "insert")
            .when($"after".isNull, "delete")
            .when($"before" =!= $"after", "update").as("op"))
        .where($"op".isNotNull)
      val n = diff.count()
      val plan = diff.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin"), plan.take(600))
      assert(plan.contains("SelectedBucketsCount"),
        "diff scans must be bucket-aware")
      assert(!plan.contains("Exchange hashpartitioning(doc_id"),
        "bucketed diff join sides must not re-shuffle")
      // and the co-located diff finds exactly the change set's keys
      val expected = o.filter($"doc_id" % 10 === 5).count() +
        o.filter($"doc_id" % 10 === 6).count() + 3
      assert(n == expected, s"diff rows $n vs change-set keys $expected")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevBroadcast)
      spark.sql("DROP TABLE IF EXISTS snap_v1_b")
      spark.sql("DROP TABLE IF EXISTS snap_v2_b")
    }
  }
}
