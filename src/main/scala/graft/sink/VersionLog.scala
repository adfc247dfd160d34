package graft.sink

import org.apache.spark.sql.SparkSession

/** The VERSION LOG both snapshot stores commit through
  * ([[TrainingShards]] full-rewrite versions, [[CowSnapshots]]
  * copy-on-write versions) — the lakehouse commit protocol in its
  * smallest honest form, written once. Each store keeps only its data
  * layout, its commit-row schema and its GC policy.
  *
  * Layout under a store `root`:
  *   - `manifest/c_N/` — version N's commit: a driver-written
  *     [[TinyParquet]] directory of commit rows in the store's schema
  *     (every row carries `version` = N and a nullable `batch_id`) —
  *     transaction metadata is driver I/O, never a Spark job (the
  *     Delta-log discipline).
  *     The SLOT NAME is the version, so resolving the committed set is
  *     one metadata listing and zero Spark jobs; gating on the slot
  *     listing (not the bare `manifest/` directory) means a crash
  *     between a first claim's mkdirs and its rename still reads as
  *     "no versions", never as an unreadable store.
  *   - `manifest/_lease` — the cross-driver lease ([[Fs.withLease]])
  *     every commit claim and every GC delete of data a commit could
  *     reference takes.
  *   - `_staging/<tok>` — private, not-yet-claimed builds: data
  *     directories and `c_<tok>` commit rows.
  *
  * Protocol:
  *   - COMMIT: rows are staged under `_staging/c_<tok>`, then claimed
  *     into `manifest/c_N` by a one-winner rename ([[Fs.claim]]) while
  *     holding the lease. Inside the lease the optional expected-parent
  *     check (the latest committed version must still be the one a
  *     derived publish planned against — else a blind slot bump would
  *     silently revert the intervening version: the lost update
  *     Delta/Iceberg abort on) and the optional `_SUCCESS` guards (the
  *     referenced data must still exist — checked under [[Fs.locked]]
  *     with the rename, so a vacuumed slot can never gain a commit row
  *     from this driver or, through the lease, any other) both run
  *     before the claim. A version exists exactly when its claim
  *     landed; a crash anywhere earlier leaves only invisible staging
  *     or data the stores' GC collects.
  *   - SLOTS: numbered slots (`v=N`, `c_N`, `g_N`) are taken by
  *     [[claimNext]] — rename-if-absent from the first candidate
  *     upward, so concurrent writers never share a slot, a loser
  *     re-renames the SAME staged bytes (no rewrite, no tear), and a
  *     crashed writer's orphan is skipped, never overwritten.
  *   - CACHE: a claimed `c_N` is immutable (retirement deletes it
  *     wholesale), so decoded rows are cached per (root, N, SLOT
  *     INCARNATION) — the slot's sorted part-file listing. Every
  *     manifest write mints fresh UUID part names, so a recycled slot
  *     number (a wipe-and-rebuild or expire-then-reclaim, by this
  *     driver or another) is a NEW key and can never serve a stale row
  *     — unlike an mtime key, which collapses under coarse timestamp
  *     granularity. A commit pre-populates its own slot, so replay
  *     lookups cost a listing and zero jobs.
  *   - BATCH IDS: `batch_id -> version` over the committed slots makes
  *     every publish effect-once per producer batch.
  *   - RETIRE: the commit slot goes FIRST, data after (the stores'
  *     business) — a crash mid-expire leaves an invisible orphan, never
  *     a committed version with missing data.
  *   - VACUUM: a `_staging` entry is collected only when no live build
  *     in this driver owns it AND its mtime is [[OrphanTtlMs]] old — a
  *     live cross-driver writer's in-flight build is spared, not
  *     destroyed mid-write. One horizon for every store.
  *
  * `M` is the store's per-version metadata, `decode`d from a slot's
  * rows; `batchIdOf` extracts the commit's batch id from it. */
final class VersionLog[M](schema: TinyParquet.Schema,
    batchIdOf: M => Option[String], decode: Seq[Seq[Any]] => M) {
  import VersionLog._

  private val cache = new java.util.concurrent
    .ConcurrentHashMap[(String, Int, String), M]()

  private def incarnation(s: SparkSession, root: String, v: Int): String =
    Fs.listNames(s, slot(root, v)).filter(_.endsWith(".parquet"))
      .mkString(",")

  /** Version `v`'s decoded commit rows (cached per incarnation; rows of
    * a superseded incarnation are evicted on the next lookup). */
  def meta(s: SparkSession, root: String, v: Int): M = {
    val inc = incarnation(s, root, v)
    cache.keySet.removeIf(k => k._1 == root && k._2 == v && k._3 != inc)
    cache.computeIfAbsent((root, v, inc),
      _ => decode(TinyParquet.read(s, slot(root, v), schema)))
  }

  /** batch_id -> version for every committed version carrying an id. */
  def batchVersions(s: SparkSession, root: String): Map[String, Int] =
    versions(s, root).flatMap(v => batchIdOf(meta(s, root, v)).map(_ -> v))
      .toMap

  /** Commit `rows(N)` as version N and return N. `at = Some(n)` claims
    * exactly `c_n` and fails loudly if it is taken (the caller already
    * owns slot n through a data claim); `at = None` takes the first free
    * slot after the latest committed version. */
  def commit(s: SparkSession, root: String, at: Option[Int],
      guards: Seq[String] = Nil, expectedParent: Option[Int] = None)
      (rows: Int => Seq[Seq[Any]]): Int = stage(root, "c_") { ctok =>
    def claim(n: Int): Boolean = {
      TinyParquet.write(s, ctok, schema, rows(n), overwrite = true)
      Fs.locked {
        guards.foreach(g => require(Fs.exists(s, g),
          s"commit guard $g vanished (vacuumed mid-commit?) — aborting; " +
            "retry against the new latest"))
        Fs.claim(s, ctok, slot(root, n))
      }
    }
    val v = withLease(s, root) {
      lazy val latest = versions(s, root).lastOption.getOrElse(0)
      expectedParent.foreach { p =>
        require(latest == p,
          s"store advanced to v$latest while this publish was derived " +
            s"against v$p — committing would silently revert " +
            s"v${p + 1}..v$latest (lost update); re-derive against " +
            "the new latest and retry")
      }
      at match {
        case Some(n) =>
          require(claim(n), s"commit slot c_$n already owned — data " +
            "claim was not exclusive")
          n
        case None => claimNext(root, "version", latest + 1)(claim)
      }
    }
    cache.keySet.removeIf(k => k._1 == root && k._2 == v)
    cache.put((root, v, incarnation(s, root, v)), decode(rows(v)))
    v
  }

  /** Delete version `v`'s commit slot (the version stops existing) and
    * evict it from the cache. */
  def retire(s: SparkSession, root: String, v: Int): Unit = {
    Fs.delete(s, slot(root, v))
    cache.keySet.removeIf(k => k._1 == root && k._2 == v): Unit
  }
}

object VersionLog {

  /** Age past which an unclaimed `_staging` entry, or an unreferenced
    * data directory that may belong to an in-flight writer, is taken
    * to be a crashed writer's leftover. */
  val OrphanTtlMs: Long = 3600000L

  private def manifestDir(root: String): String = s"$root/manifest"

  /** Version `v`'s commit slot. */
  def slot(root: String, v: Int): String = s"${manifestDir(root)}/c_$v"

  /** Committed versions, ascending (empty for a fresh root) — from the
    * slot listing through [[Fs]], never a caught failed read (which
    * would log a PATH_NOT_FOUND stack on every fresh root). */
  def versions(s: SparkSession, root: String): Seq[Int] =
    Fs.listDirNames(s, manifestDir(root)).filter(_.startsWith("c_"))
      .map(_.stripPrefix("c_").toInt).sorted

  /** Run `f` holding the root's cross-driver manifest lease. */
  def withLease[T](s: SparkSession, root: String)(f: => T): T =
    Fs.withLease(s, s"${manifestDir(root)}/_lease")(f)

  /** Claim the first free numbered slot at or after `first`:
    * `tryClaim(n)` attempts slot n and reports whether it won. */
  def claimNext(root: String, what: String, first: Int)
      (tryClaim: Int => Boolean): Int = {
    var n = first
    var attempts = 0
    while (!tryClaim(n)) {
      n += 1
      attempts += 1
      require(attempts < 10000, s"could not claim a $what under $root")
    }
    n
  }

  /** Live builds' staging paths in THIS driver — the vacuum never
    * touches them, whatever their age. */
  private val live = java.util.concurrent.ConcurrentHashMap
    .newKeySet[String]()

  /** Run `f` on a fresh private path `root/_staging/<prefix><tok>`,
    * registered as live for the duration. */
  def stage[T](root: String, prefix: String = "")(f: String => T): T = {
    val p = s"$root/_staging/$prefix" +
      java.util.UUID.randomUUID().toString.take(12)
    live.add(p)
    try f(p) finally live.remove(p)
  }

  /** True when `path` is at least [[OrphanTtlMs]] old (or absent). */
  def aged(s: SparkSession, path: String, now: Long): Boolean =
    now - Fs.modTime(s, path) >= OrphanTtlMs

  /** The age-gated `_staging` vacuum: delete what no live build in this
    * driver owns and whose mtime is past [[OrphanTtlMs]]. */
  def vacuumStaging(s: SparkSession, root: String): Unit = {
    val now = System.currentTimeMillis()
    Fs.listDirNames(s, s"$root/_staging").map(n => s"$root/_staging/$n")
      .filterNot(live.contains).filter(aged(s, _, now))
      .foreach(Fs.delete(s, _))
  }
}
