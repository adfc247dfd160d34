package graft.sink

import org.apache.spark.sql.{DataFrame, SparkSession}

/** GENERATION-COMMITTED directory — the snapshot store's own
  * versioned-dirs-plus-pointer discipline packaged for every small
  * maintained artifact that previously republished via the
  * delete-old → move(live, preswap) → move(staged, live) double
  * rename (the bloom manifest, q437's materialized-view state). That
  * swap had a crash window between the two moves where the PUBLIC
  * path is absent and the only copy sits at `*_preswap` — readable
  * bytes, unreadable path. Here there is no such window at any step:
  *
  *   - data for generation N is built privately under
  *     `root/_staging/<tok>` and lands as `root/g_<N>` through ONE
  *     one-winner rename ([[Fs.claim]] — complete the instant it
  *     lands);
  *   - readers resolve the HIGHEST committed generation; the previous
  *     generation is deleted only AFTER the new one exists, so every
  *     intermediate crash state (staged-only, both-gens, partial
  *     delete of the old) still resolves to a complete artifact at
  *     the public root;
  *   - the previous generation is retained until the NEXT publish
  *     (delete lags one cycle), so a reader that resolved generation
  *     N just before N+1 landed still has its bytes.
  *
  * Appends between publishes write INTO the current generation
  * (parquet append — additive, never destructive). At 100 TB these
  * artifacts are metadata-sized (a bloom manifest is ~512 B/file, a
  * view state is domain-sized); the generation dirs cost one rename
  * and one lagging delete per refresh. */
object GenDir {

  private def genNo(name: String): Int =
    name.stripPrefix("g_").toInt

  private def gens(s: SparkSession, root: String): Seq[Int] =
    Fs.listDirNames(s, root).filter(_.startsWith("g_")).map(genNo).sorted

  /** Path of the newest committed generation (None on a fresh root). */
  def resolve(s: SparkSession, root: String): Option[String] =
    gens(s, root).lastOption.map(n => s"$root/g_$n")

  /** Publish the frame as the next generation: staged write, one
    * claim, then the lagging delete of generations older than the
    * PREVIOUS one. Single-writer per root (the maintenance loops that
    * own these artifacts are single-consumer); a concurrent publish
    * would still never tear — claims are one-winner — the loser's
    * generation simply lands next. */
  def publish(s: SparkSession, root: String, df: DataFrame,
      files: Int = 1, markers: Seq[String] = Nil): Unit =
    publishStaged(s, root, markers) { staged =>
      df.coalesce(files).write.mode("overwrite").parquet(staged)
    }

  /** [[publish]] with the staged bytes written by the CALLER — for
    * generations that are not one flat frame (a `partitionBy` table
    * like the IVF index's lists, a directory of batch subdirectories
    * like the signature index). `write` receives the private staging
    * path; everything it leaves there lands as the next generation
    * through the same one claim. */
  def publishStaged(s: SparkSession, root: String,
      markers: Seq[String] = Nil)(write: String => Unit): Unit = {
    VersionLog.stage(root) { staged =>
      write(staged)
      // markers (e.g. the applied-batch ledger) ride INSIDE the staged
      // generation, so state and ledger commit in the SAME rename
      markers.foreach(m => Fs.touch(s, s"$staged/$m"))
      VersionLog.claimNext(root, "generation",
        gens(s, root).lastOption.getOrElse(0) + 1)(
        n => Fs.claim(s, staged, s"$root/g_$n"))
    }
    // lagging GC: keep N and N-1 (a reader that resolved just before
    // this publish still reads complete bytes); drop everything older
    gens(s, root).dropRight(2).foreach(o => Fs.delete(s, s"$root/g_$o"))
    // crashed publishes' staging leftovers: age-gated, so a concurrent
    // publisher's staged, not-yet-claimed generation lands next
    VersionLog.vacuumStaging(s, root)
  }

  /** Append rows INTO the current generation (parquet append —
    * additive). Requires a committed generation. */
  def append(s: SparkSession, root: String, df: DataFrame,
      files: Int = 1): Unit = {
    val cur = resolve(s, root).getOrElse(
      throw new IllegalStateException(s"no committed generation under $root"))
    df.coalesce(files).write.mode("append").parquet(cur)
  }

  /** Read the newest committed generation. */
  def read(s: SparkSession, root: String): DataFrame = {
    val cur = resolve(s, root).getOrElse(
      throw new IllegalStateException(s"no committed generation under $root"))
    s.read.parquet(cur)
  }

  /** Names of ALL children of the current generation (markers
    * included) — how the applied-batch ledger is enumerated. Empty on
    * a fresh root. */
  def listCurrent(s: SparkSession, root: String): Seq[String] =
    resolve(s, root).map(Fs.listNames(s, _)).getOrElse(Nil)
}
