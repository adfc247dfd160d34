package graft

import graft.sink.Fs
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** The cross-driver contracts exercised with a REAL second JVM
  * (graft.tools.CrossDriverProbe) — the case FsSpec's lock-free thread
  * races can only model: two processes share no JVM claim lock, no
  * FileSystem object, no metadata cache; the filesystem (kernel
  * rename(2) locally, the NameNode on HDFS) is the only arbiter.
  *
  * The probe JVM is spawned with this (forked) test JVM's own
  * classpath and --add-opens flags; a ready/go marker barrier lines
  * both drivers up before the contended loop, so the probe's
  * SparkSession startup cannot quietly de-contend the test. */
class CrossDriverSpec extends AnyFunSuite with TempDirs {
  import TestSession._

  private def spawnProbe(mode: String, root: String, id: String,
      iters: Int, staleMs: Long): Process = {
    val javaBin = ProcessHandle.current().info().command()
      .orElse("java")
    val addOpens = java.lang.management.ManagementFactory
      .getRuntimeMXBean.getInputArguments.asScala
      .filter(a => a == "--add-opens" || a.endsWith("=ALL-UNNAMED"))
      .toSeq
    val cmd = Seq(javaBin) ++ addOpens ++ Seq(
      "-Xmx2g", "-Dspark.ui.enabled=false",
      "-cp", System.getProperty("java.class.path"),
      "graft.tools.CrossDriverProbe",
      mode, root, id, iters.toString, staleMs.toString)
    new ProcessBuilder(cmd.asJava)
      .redirectErrorStream(true)
      .redirectOutput(new java.io.File(s"$root/probe_$id.out"))
      .start()
  }

  private def awaitReadyThenGo(root: String, id: String): Unit = {
    val deadline = System.currentTimeMillis() + 120000L
    while (!Fs.exists(spark, s"$root/_ready_$id")) {
      assert(System.currentTimeMillis() < deadline,
        s"probe $id never came up; see $root/probe_$id.out")
      Thread.sleep(50)
    }
    Fs.touch(spark, s"$root/_go")
  }

  test("TWO real JVMs contending the lease: critical sections never " +
    "overlap across processes, and both drivers complete") {
    val root = tempDir("graft_xdrv_lease")
    val iters = 12
    val p = spawnProbe("lease", root, "b", iters, staleMs = 60000L)
    try {
      awaitReadyThenGo(root, "b")
      val out = new java.io.PrintWriter(s"$root/intervals_a.log")
      (1 to iters).foreach { _ =>
        Fs.withLease(spark, s"$root/_lease", staleMs = 60000L) {
          val t0 = System.currentTimeMillis()
          Thread.sleep(15)
          out.println(s"$t0 ${System.currentTimeMillis()}")
        }
      }
      out.close()
      assert(p.waitFor(180, java.util.concurrent.TimeUnit.SECONDS),
        "probe JVM did not finish")
      assert(p.exitValue() == 0,
        s"probe failed; tail of probe_b.out:\n" + scala.util.Try(
          scala.io.Source.fromFile(s"$root/probe_b.out").getLines()
            .toSeq.takeRight(20).mkString("\n")).getOrElse("?"))
      val iv = Seq("a", "b").flatMap { id =>
        val src = scala.io.Source.fromFile(s"$root/intervals_$id.log")
        try src.getLines().map { l =>
          val Array(x, y) = l.split(" "); (x.toLong, y.toLong)
        }.toList finally src.close()
      }.sortBy(_._1)
      assert(iv.size == 2 * iters)
      iv.sliding(2).foreach {
        case Seq((s1, e1), (s2, e2)) =>
          assert(s2 >= e1,
            s"cross-JVM lease overlap: [$s1,$e1] vs [$s2,$e2]")
        case _ => ()
      }
      assert(!Fs.exists(spark, s"$root/_lease"),
        "final release must leave no lease behind")
    } finally p.destroyForcibly(): Unit
  }

  test("TWO real JVMs racing one-winner claims: every slot has exactly " +
    "one winner and carries exactly the winner's bytes") {
    val root = tempDir("graft_xdrv_claim")
    val slots = 25
    val p = spawnProbe("claim", root, "b", slots, staleMs = 60000L)
    try {
      awaitReadyThenGo(root, "b")
      val mine = (1 to slots).map { i =>
        val staged = s"$root/_staging_a_$i"
        Fs.touch(spark, s"$staged/owner_a")
        i -> Fs.claim(spark, staged, s"$root/slot_$i")
      }.toMap
      assert(p.waitFor(180, java.util.concurrent.TimeUnit.SECONDS),
        "probe JVM did not finish")
      assert(p.exitValue() == 0,
        s"probe failed; tail of probe_b.out:\n" + scala.util.Try(
          scala.io.Source.fromFile(s"$root/probe_b.out").getLines()
            .toSeq.takeRight(20).mkString("\n")).getOrElse("?"))
      val theirs = {
        val src = scala.io.Source.fromFile(s"$root/claims_b.log")
        try src.getLines().map { l =>
          val Array(i, w) = l.split(" "); i.toInt -> w.toBoolean
        }.toMap finally src.close()
      }
      (1 to slots).foreach { i =>
        val winners = Seq("a" -> mine(i), "b" -> theirs(i))
          .collect { case (id, true) => id }
        assert(winners.size == 1,
          s"slot $i winners: $winners — the claim must be one-winner " +
            "ACROSS PROCESSES")
        val contents = Fs.listNames(spark, s"$root/slot_$i")
        assert(contents == Seq(s"owner_${winners.head}"),
          s"slot $i holds $contents but ${winners.head} won — a " +
            "loser's bytes must never reach (or nest inside) the slot")
      }
    } finally p.destroyForcibly(): Unit
  }

  test("TWO real JVMs as optimistic CDC writers on ONE copy-on-write " +
    "store: the lost-update abort + retry loop converges with every " +
    "merge applied exactly once and a linear version history") {
    import graft.sink.CowSnapshots
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val root = tempDir("graft_xdrv_merge")
    val store = s"$root/store"
    val baseKeys = (1L to 50L).toSeq
    CowSnapshots.writeVersion(
      baseKeys.map(k => (k, k * 10L)).toDF("doc_id", "cents"),
      store, "doc_id", "s", 4)
    val n = 4
    val p = spawnProbe("merge", root, "b", n, staleMs = 60000L)
    try {
      awaitReadyThenGo(root, "b")
      (1 to n).foreach { i =>
        val ch = Seq(("insert", 1000000L + i, 1000000L + i))
          .toDF("op", "doc_id", "cents")
        var v = -1
        while (v < 0) {
          try v = CowSnapshots.mergeVersion(
            spark, store, ch, "doc_id", "s", 4)
          catch {
            case e: IllegalArgumentException
              if e.getMessage.contains("lost update") => ()
          }
        }
      }
      assert(p.waitFor(240, java.util.concurrent.TimeUnit.SECONDS),
        "probe JVM did not finish")
      assert(p.exitValue() == 0,
        s"probe failed; tail of probe_b.out:\n" + scala.util.Try(
          scala.io.Source.fromFile(s"$root/probe_b.out").getLines()
            .toSeq.takeRight(20).mkString("\n")).getOrElse("?"))
      // linear history: base + exactly one committed version per merge
      assert(CowSnapshots.committedVersions(spark, store) ==
        (1 to 2 * n + 1).toSeq,
        "every surviving commit slot must be a distinct linear version")
      // zero lost updates: the final state holds the base AND all
      // 2n inserts from BOTH drivers, each exactly once
      val fin = CowSnapshots.readVersion(spark, store, None)
        .select($"doc_id").as[Long].collect().sorted.toSeq
      val want = (baseKeys ++ (1 to n).map(1000000L + _) ++
        (1 to n).map(2000000L + _)).sorted
      assert(fin == want,
        "a merge was lost or doubled across the two drivers")
    } finally p.destroyForcibly(): Unit
  }
}
