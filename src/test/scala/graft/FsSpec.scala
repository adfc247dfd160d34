package graft

import graft.sink.{Fs, GenDir}
import org.scalatest.funsuite.AnyFunSuite

/** The storage seam's atomicity contracts, exercised at the level the
  * guarantees are actually made:
  *
  *  - [[Fs.claimRaw]] is the CROSS-DRIVER one-winner primitive — two
  *    threads sharing NO lock model two drivers (the JVM claim lock in
  *    [[Fs.claim]] cannot help across processes, so the filesystem
  *    alone must arbitrate). The old exists+FileSystem.rename claim
  *    failed exactly here: rename into an existing directory follows
  *    mv semantics (moves src INTO dst, reports success), so both
  *    drivers "won" and one writer's data nested inside the other's
  *    version directory. FileContext's no-overwrite rename refuses an
  *    existing destination — asserted directly, then raced.
  *  - [[Fs.withLease]] is the cross-driver mutual exclusion for
  *    commit-vs-vacuum (atomic create(overwrite=false)); overlap is
  *    detected with an atomic in-critical-section counter.
  *  - [[GenDir]] must resolve a COMPLETE artifact at the public root
  *    at every crash point of a publish — each intermediate state is
  *    constructed on disk and read back.
  */
class FsSpec extends AnyFunSuite with TempDirs {
  import TestSession._

  private def mkDirWithFile(path: String, name: String): Unit = {
    Fs.touch(spark, s"$path/$name")
  }

  test("claim refuses an existing destination instead of nesting " +
    "(the FileSystem.rename mv-semantics bug)") {
    val root = tempDir("graft_fs_claim")
    mkDirWithFile(s"$root/src_a", "a")
    mkDirWithFile(s"$root/dst", "owner")
    assert(!Fs.claim(spark, s"$root/src_a", s"$root/dst"),
      "claim of an owned slot must lose")
    // the loser's payload is intact at its source — never nested into
    // the winner's directory
    assert(Fs.exists(spark, s"$root/src_a/a"), "loser src must survive")
    assert(Fs.listNames(spark, s"$root/dst") == Seq("owner"),
      "the owned slot must be untouched (no src_a nested inside)")
  }

  test("claimRaw race: two lock-free claimants (two 'drivers'), one " +
    "destination — exactly one winner, loser's bytes intact") {
    (1 to 5).foreach { round =>
      val root = tempDir(s"graft_fs_race$round")
      mkDirWithFile(s"$root/src_a", "payload_a")
      mkDirWithFile(s"$root/src_b", "payload_b")
      val gate = new java.util.concurrent.CountDownLatch(2)
      val won = new Array[Boolean](2)
      def racer(i: Int, src: String) = new Thread(() => {
        gate.countDown()
        gate.await(30, java.util.concurrent.TimeUnit.SECONDS)
        won(i) = Fs.claimRaw(spark, src, s"$root/dst")
      })
      val (ta, tb) = (racer(0, s"$root/src_a"), racer(1, s"$root/src_b"))
      ta.start(); tb.start(); ta.join(); tb.join()
      assert(won.count(identity) == 1,
        s"round $round: expected exactly one winner, got ${won.toSeq}")
      val winnerPayload = if (won(0)) "payload_a" else "payload_b"
      val loserSrc = if (won(0)) s"$root/src_b" else s"$root/src_a"
      assert(Fs.listNames(spark, s"$root/dst") == Seq(winnerPayload),
        "destination must hold exactly the winner's payload")
      assert(Fs.listNames(spark, loserSrc).size == 1,
        "loser's staged bytes must remain claimable at their source")
    }
  }

  test("withLease: cross-driver critical sections never overlap, and " +
    "a stale (crashed-holder) lease is broken") {
    val root = tempDir("graft_fs_lease")
    val lease = s"$root/_lease"
    val inside = new java.util.concurrent.atomic.AtomicInteger(0)
    val maxSeen = new java.util.concurrent.atomic.AtomicInteger(0)
    val gate = new java.util.concurrent.CountDownLatch(4)
    val threads = (0 until 4).map { _ =>
      new Thread(() => {
        gate.countDown()
        gate.await(30, java.util.concurrent.TimeUnit.SECONDS)
        (0 until 3).foreach { _ =>
          Fs.withLease(spark, lease) {
            val now = inside.incrementAndGet()
            maxSeen.updateAndGet(m => math.max(m, now))
            Thread.sleep(5)
            inside.decrementAndGet()
          }
        }
      })
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    assert(maxSeen.get() == 1,
      s"lease must serialize holders; saw ${maxSeen.get()} inside at once")
    assert(!Fs.exists(spark, lease), "lease must be released")
    // a crashed holder's lease: stale after staleMs, broken by the
    // next acquirer rather than deadlocking it
    Fs.touch(spark, lease)
    Thread.sleep(20)
    var ran = false
    Fs.withLease(spark, lease, staleMs = 10L) { ran = true }
    assert(ran, "stale lease must be broken, not waited on forever")
    assert(!Fs.exists(spark, lease))
  }

  test("withLease ownership tokens: an overstayed holder whose lease a " +
    "breaker legitimately took over must NOT release the successor's " +
    "live lease — the third-holder admission an unconditional release " +
    "delete allowed") {
    val root = tempDir("graft_fs_lease_tok")
    val lease = s"$root/_lease"
    val aDone = new java.util.concurrent.CountDownLatch(1)
    val bHolds = new java.util.concurrent.CountDownLatch(1)
    @volatile var bSawLiveLease = false
    val a = new Thread(() => {
      Fs.withLease(spark, lease, staleMs = 150L) {
        Thread.sleep(700) // overstays staleMs — a breaker takes over
      }
      aDone.countDown()
    })
    a.start()
    Thread.sleep(250) // let A acquire and go stale
    val b = new Thread(() => {
      Fs.withLease(spark, lease, staleMs = 150L) {
        bHolds.countDown()
        // hold ACROSS A's release path: A must find its token gone
        // and delete nothing
        aDone.await(10, java.util.concurrent.TimeUnit.SECONDS): Unit
        Thread.sleep(50)
        bSawLiveLease = Fs.exists(spark, lease)
      }
    })
    b.start()
    assert(bHolds.await(10, java.util.concurrent.TimeUnit.SECONDS),
      "the breaker must take over a stale lease")
    a.join(15000); b.join(15000)
    assert(bSawLiveLease,
      "the overstayed holder deleted its successor's live lease")
    assert(!Fs.exists(spark, lease),
      "the successor must still release its own lease cleanly")
  }

  test("GenDir: every crash point of a publish leaves a complete, " +
    "resolvable artifact at the public root") {
    import spark.implicits._
    val root = tempDir("graft_fs_gendir") + "/store"
    def gen1Rows = Seq((1L, "a")).toDF("k", "v")
    def gen2Rows = Seq((2L, "b"), (3L, "c")).toDF("k", "v")
    GenDir.publish(spark, root, gen1Rows)
    val r1 = GenDir.read(spark, root).collect().map(_.getLong(0)).sorted
    assert(r1.toSeq == Seq(1L))

    // crash state A: next publish died BEFORE its claim (staged bytes
    // under _staging only) — the public root still resolves gen 1
    gen2Rows.coalesce(1).write.mode("overwrite")
      .parquet(s"$root/_staging/crashtok")
    assert(GenDir.read(spark, root).collect().map(_.getLong(0)).sorted
      .toSeq == Seq(1L), "a staged-only crash must not change the view")

    // crash state B: claim landed, GC did not run (both generations
    // present) — readers resolve the NEWEST committed generation
    assert(Fs.claim(spark, s"$root/_staging/crashtok", s"$root/g_2"))
    assert(GenDir.read(spark, root).collect().map(_.getLong(0)).sorted
      .toSeq == Seq(2L, 3L), "resolution must pick the newest generation")
    // the previous generation's bytes survive until the NEXT publish
    // (a reader that resolved g_1 just before the claim keeps reading)
    assert(Fs.exists(spark, s"$root/g_1"))

    // a third publish: GC now drops g_1 but retains g_2 (lag of one)
    GenDir.publish(spark, root, Seq((9L, "z")).toDF("k", "v"))
    assert(GenDir.read(spark, root).collect().map(_.getLong(0)).sorted
      .toSeq == Seq(9L))
    assert(!Fs.exists(spark, s"$root/g_1"), "lagging GC must drop gen 1")
    assert(Fs.exists(spark, s"$root/g_2"), "previous gen retained")

    // markers commit in the SAME rename as the state
    GenDir.publish(spark, root, gen1Rows, markers = Seq("_applied_b7"))
    assert(GenDir.listCurrent(spark, root).contains("_applied_b7"))
  }
}
