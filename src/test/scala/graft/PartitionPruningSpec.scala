package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Partition-layout pruning: a predicate on the partition column must be
  * answered from directory listing alone (PartitionFilters), reading only
  * the matching partitions — at 100 TB the difference between scanning
  * 1/N of the lake and all of it.
  */
class PartitionPruningSpec extends AnyFunSuite with TempDirs {
  import TestSession._

  test("range-clustered layout: min-max stats skip row groups a random layout scans") {
    import spark.implicits._
    val base = tempDir("graft_layout")
    // sf0.1: 100k events — big enough that the reader's 1000-row metric
    // checkpointing can't mask the contrast the smaller fixtures would
    val events = Tables.t(spark, "/root/testdata/sf0.1", "events")
      .select($"event_id", $"ts", $"value")
    // clustered: each of the 8 files covers a disjoint event_id range, so
    // its parquet row-group min/max answers a narrow id predicate without
    // decoding rows; random: every file spans the full range, stats prune
    // nothing. Same bytes, same query — layout is the only variable.
    // (Cluster key is BIGINT deliberately: TIMESTAMP_NTZ predicates are
    // NOT pushed into parquet stats filtering — measured recordsRead
    // stays 100k however the data is laid out — so an event-time layout
    // key must be stored as epoch micros or TIMESTAMP_LTZ to skip.)
    events.repartitionByRange(8, $"event_id").sortWithinPartitions($"event_id")
      .write.mode("overwrite").parquet(s"$base/clustered")
    // genuinely scrambled: repartition alone PRESERVES within-partition
    // order and the fixture arrives ordered — sort by a hash to interleave
    events.repartition(8)
      .sortWithinPartitions(md5($"ts".cast("string")))
      .write.mode("overwrite").parquet(s"$base/random")
    // the scan node's numOutputRows is post-pushed-filter on both layouts;
    // what row-group skipping changes is how many rows the reader DECODES —
    // task-level input records, observed via a listener
    val decoded = new java.util.concurrent.atomic.AtomicLong
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(t: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        if (t.taskMetrics != null)
          decoded.addAndGet(t.taskMetrics.inputMetrics.recordsRead)
    }
    spark.sparkContext.addSparkListener(listener)
    def scannedRows(path: String): Long = {
      decoded.set(0L)
      val matched = spark.read.parquet(path)
        .filter($"event_id" < 10000L).collect().length
      assert(matched === 10000)
      org.apache.spark.sql.graft.ColumnBridgeImpl.drainListenerBus(
        spark.sparkContext, 30000L)
      decoded.get()
    }
    // unregister before any assertion can throw: the shared session
    // outlives this suite and a leaked listener would keep accumulating
    // (and skewing) `decoded` for every later test
    val (clustered, random) =
      try (scannedRows(s"$base/clustered"), scannedRows(s"$base/random"))
      finally spark.sparkContext.removeSparkListener(listener)
    assert(clustered * 4 <= random,
      s"clustered layout should decode far fewer rows: $clustered vs $random — " +
        "at 100 TB this is the sort-on-write knob that turns a full scan into " +
        "a single-file read")
  }

  test("z-order layout: a 2D box predicate decodes fewer rows than a 1D sort") {
    import spark.implicits._
    val base = tempDir("graft_zorder")
    // two query dimensions: user and event time, both normalized to a
    // 10-bit grid; z interleaves the bits so files/row-groups cluster in
    // BOTH dims at once — the multi-dim generalization of the 1D
    // sort-on-write test above (a 1D sort answers its own dim and leaves
    // the other scattered through every row group)
    val ev0 = Tables.t(spark, "/root/testdata/sf0.1", "events")
      .select($"event_id", $"user_id",
        org.apache.spark.sql.functions.unix_micros($"ts".cast("timestamp")).as("ep"))
    val b = ev0.agg(min($"user_id"), max($"user_id"), min($"ep"), max($"ep")).head()
    val (uLo, uHi, tLo, tHi) = (b.getLong(0), b.getLong(1), b.getLong(2), b.getLong(3))
    val zExpr = (0 until 10).map(i =>
      s"(((ux >> $i) & 1) << ${2 * i}) + (((ty >> $i) & 1) << ${2 * i + 1})")
      .mkString(" + ")
    val prepared = ev0
      .withColumn("ux", expr(s"cast((user_id - $uLo) * 1024 div ${uHi - uLo + 1} as int)"))
      .withColumn("ty", expr(s"cast((ep - ${tLo}L) * 1024 div ${tHi - tLo + 1}L as int)"))
      .withColumn("z", expr(zExpr))
    // small row groups (default 128 MB would make each file ONE group,
    // reducing skipping to file granularity and hiding the contrast this
    // test is about — at real scale files have many groups naturally).
    // File boundaries are DETERMINISTIC value ranges (partitionBy on a
    // computed file id), not repartitionByRange's sampled ones, so the
    // decoded-row counts are stable run to run.
    val rg = (64 * 1024).toString
    prepared.withColumn("fid", expr("z div 131072"))
      .repartition(1).sortWithinPartitions($"fid", $"z")
      .write.partitionBy("fid").option("parquet.block.size", rg)
      .mode("overwrite").parquet(s"$base/zorder")
    prepared.withColumn("fid", expr("ux div 128"))
      .repartition(1).sortWithinPartitions($"fid", $"ux", $"ty")
      .write.partitionBy("fid").option("parquet.block.size", rg)
      .mode("overwrite").parquet(s"$base/linear")
    val decoded = new java.util.concurrent.atomic.AtomicLong
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(t: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        if (t.taskMetrics != null)
          decoded.addAndGet(t.taskMetrics.inputMetrics.recordsRead)
    }
    spark.sparkContext.addSparkListener(listener)
    def scan(path: String): (Long, Long) = {
      decoded.set(0L)
      val matched = spark.read.parquet(path)
        .filter($"ux" >= 256 && $"ux" < 384 && $"ty" >= 256 && $"ty" < 384)
        .count()
      org.apache.spark.sql.graft.ColumnBridgeImpl.drainListenerBus(
        spark.sparkContext, 30000L)
      (matched, decoded.get())
    }
    val ((mz, dz), (ml, dl)) =
      try (scan(s"$base/zorder"), scan(s"$base/linear"))
      finally spark.sparkContext.removeSparkListener(listener)
    assert(mz === ml, "layout must never change the answer")
    assert(mz > 0, "the 2D box must be non-empty for the contrast to mean anything")
    assert(dz * 2 <= dl,
      s"z-order should decode <=half the rows of the 1D layout for a 2D box: " +
        s"$dz vs $dl — at 100 TB this is the layout knob for multi-dim scans")
  }

  test("hive-style partitioned write + partition-pruned read") {
    import spark.implicits._
    val root = tempDir("graft_part") + "/events"
    Tables.t(spark, sfDir, "events")
      .write.partitionBy("event_type").mode("overwrite").parquet(root)

    val pruned = spark.read.parquet(root)
      .filter($"event_type" === "error")
      .agg(count(lit(1)).as("n"))
    val n = pruned.collect()(0).getLong(0)
    val expected = Tables.t(spark, sfDir, "events")
      .filter($"event_type" === "error").count()
    assert(n === expected)

    val plan = pruned.queryExecution.executedPlan.toString
    val scanLine = plan.linesIterator.find(_.contains("FileScan")).getOrElse("")
    assert(scanLine.contains("PartitionFilters") && scanLine.contains("event_type"),
      scanLine)
    // the data filter must NOT appear as a row-level filter — pruning
    // answered it entirely from the directory layout
    assert(!plan.contains("Filter (isnotnull(event_type"), "expected no row-level filter")
  }

  test("dynamic partition pruning: a dim filter prunes fact partitions at runtime") {
    import spark.implicits._
    val root = tempDir("graft_dpp") + "/events"
    Tables.t(spark, sfDir, "events")
      .write.partitionBy("event_type").mode("overwrite").parquet(root)
    val fact = spark.read.parquet(root)
    // the selective predicate lives on the DIM side only — static pruning
    // can't see it; DPP must push a runtime subquery into the fact scan.
    // The dim is parquet-backed: over a local Seq, ConvertToLocalRelation
    // folds the filter away and DPP sees no selective predicate.
    val dimPath = tempDir("graft_dpp_dim")
    Seq(("error", 1), ("click", 0), ("view", 0), ("purchase", 0), ("signup", 0))
      .toDF("etype", "flag").write.mode("overwrite").parquet(dimPath)
    val dim = spark.read.parquet(dimPath).filter($"flag" === 1)
    val j = fact.join(dim, $"event_type" === $"etype")
      .agg(count(lit(1)).as("n"))
    val n = j.collect()(0).getLong(0)
    assert(n === Tables.t(spark, sfDir, "events")
      .filter($"event_type" === "error").count())
    val plan = j.queryExecution.executedPlan.toString
    assert(plan.contains("dynamicpruning"),
      s"expected a dynamicpruning runtime filter in the fact scan:\n${plan.take(1500)}")
  }

  test("runtime bloom filter prunes the big side of a selective shuffle join") {
    import spark.implicits._
    // thresholds sized for the fixture scale: the feature is gated on
    // multi-GB scans in production (where it pays off); the PLAN SHAPE —
    // bloom built on the filtered small side, might_contain applied
    // before the big side's shuffle — is what this asserts
    // none of these four confs is set by GraftSession/TestSession, so true
    // restoration is unconditional UNSET — snapshotting via getOption would
    // pin registered defaults as explicit values, detaching e.g. the
    // adaptive threshold from its fallback to autoBroadcastJoinThreshold
    val toUnset = Seq(
      "spark.sql.optimizer.runtime.bloomFilter.enabled",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
      "spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
      spark.conf.set("spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "0")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
      val o = Tables.t(spark, sfDir, "orders")
        .filter($"o_orderpriority" === "1-URGENT")
      val l = Tables.t(spark, sfDir, "lineitem")
      val j = l.join(o, $"l_orderkey" === $"o_orderkey")
        .agg(count(lit(1)).as("n"))
      val plan = j.queryExecution.optimizedPlan.toString
      assert(plan.contains("bloom_filter_agg") || plan.contains("might_contain"),
        s"expected a runtime bloom filter:\n${plan.take(1500)}")
      assert(j.collect()(0).getLong(0) > 0)
    } finally toUnset.foreach(spark.conf.unset)
  }
}
