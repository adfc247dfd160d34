package graft.sink

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.graft.ColumnBridgeImpl
import org.slf4j.LoggerFactory

/** Append sink abstraction + multi-target fan-out (SURVEY §2A rows A5,
  * A8-A11).
  *
  * The reference fans each batch out to every (db, table) over per-table
  * goroutines with racy channel teardown (main.go:149-155, SURVEY §1.3-4)
  * and row-at-a-time INSERTs inside a broken per-record-commit tx
  * (main.go:181-210, §1.3-3). Spark-first replacement: decode the batch
  * on the driver once (a poll tick and a streaming micro-batch are both
  * one document), then write it to every target at once — one writer
  * thread per target, all joined before the batch (poll tick /
  * micro-batch) ends — with batched appends inside each write.
  * Delivery is at-least-once per micro-batch (same guarantee class as the
  * reference, better granularity).
  */
trait AppendSink {
  /** Append a batch to `db`.`table`; errors must not kill the stream. */
  def append(df: DataFrame, db: String, table: String): Unit
  /** Batch-aware append: `batchId` is the batch's unique id (poll tick /
    * streaming micro-batch id). Idempotent sinks key their writes on it;
    * plain append sinks inherit this delegation and ignore it. The id is
    * a per-call parameter — never shared sink state — so one sink
    * instance can serve concurrent queries without cross-writing. */
  def append(df: DataFrame, db: String, table: String, batchId: Long): Unit =
    append(df, db, table)
  /** DDL bootstrap (A9/A10): ensure db + table exist. */
  def ensure(db: String, table: String, ddl: String): Unit = ()
}

/** Local parquet layout `<root>/<db>/<table>/` — the test stand-in wired
  * through the same trait a JDBC sink implements. */
final class ParquetSink(root: String) extends AppendSink {
  override def append(df: DataFrame, db: String, table: String): Unit =
    df.write.mode(SaveMode.Append).parquet(s"$root/$db/$table")
}

/** Idempotent parquet sink: each batch lands in its own `batch=<id>`
  * partition dir with overwrite, so a REPLAYED batch (worker retry,
  * post-crash foreachBatch re-delivery) replaces rather than duplicates
  * itself. Combined with fail-on-partial-fan-out (StreamingIngest) this
  * yields effectively-once per (batch, target); the id arrives as an
  * append() parameter, so a single sink instance serving two concurrent
  * queries can never interleave ids across batches.
  * Readers just scan `<root>/<db>/<table>` (hive partition discovery).
  *
  * Encode once per fan-out: [[Fanout.writeBatch]] hands every target the
  * same frame object, so only the first append of a (frame, batch id)
  * runs the parquet write. Every other append of that frame and id waits
  * for it and copies its files (data and `_SUCCESS`) into a `_`-prefixed
  * temp dir under its own table — hidden from partition discovery — then
  * renames that in as its `batch=<id>`. The copy goes through the driver;
  * it is the encoded batch, about 0.3× the poll body the driver already
  * holds. Failure stays per target: if the first append fails, or a copy
  * cannot be made, that append encodes its own target as before; an
  * append that finds the encoded dir gone encodes anew for the others.
  * Only the last key is remembered, and its frame only weakly, so the
  * batch's plan is never pinned.
  */
final class IdempotentParquetSink(root: String) extends AppendSink {
  import IdempotentParquetSink.Encoding

  private var last: Encoding = _ // guarded by this

  override def append(df: DataFrame, db: String, table: String): Unit =
    append(df, db, table, 0L)
  override def append(df: DataFrame, db: String, table: String, batchId: Long): Unit = {
    val dir = s"$root/$db/$table/batch=$batchId"
    val (enc, first) = synchronized {
      if (last != null && last.of(df, batchId) && !last.lost(df.sparkSession)) (last, false)
      else { last = new Encoding(df, batchId, dir); (last, true) }
    }
    if (first) {
      var ok = false
      try { write(df, dir); ok = true } finally enc.written.complete(ok)
    } else if (!enc.written.join()) write(df, dir)
    else if (enc.dir != dir) // else the same target again, which holds it
      try copyIn(df.sparkSession, enc.dir, dir)
      catch {
        case e: java.io.IOException =>
          IdempotentParquetSink.log.warn(
            s"copy of ${enc.dir} to $dir failed (${e.getMessage}); encoding it")
          write(df, dir)
      }
  }

  private def write(df: DataFrame, dir: String): Unit =
    df.write.mode(SaveMode.Overwrite).parquet(dir)

  /** Copy `src` into a temp dir beside `dir`, then swap it in as `dir`
    * by rename, as Spark's overwrite would leave it. */
  private def copyIn(spark: SparkSession, src: String, dir: String): Unit = {
    import org.apache.hadoop.fs.{FileUtil, Path}
    val conf = spark.sparkContext.hadoopConfiguration
    val from = new Path(src)
    val fs = from.getFileSystem(conf)
    val tmp = new Path(new Path(dir).getParent, s"_copy-${java.util.UUID.randomUUID()}")
    try {
      // `_SUCCESS` is written last, so a copy that holds it is whole
      if (!FileUtil.copy(fs, from, fs, tmp, false, conf) ||
          !fs.exists(new Path(tmp, "_SUCCESS")))
        throw new java.io.IOException(s"copy $src -> $tmp failed")
      Fs.delete(spark, dir)
      // lost only to a concurrent append of this same frame and id to
      // this same target: the batch it landed is the one copied here
      Fs.claim(spark, tmp.toString, dir): Unit
    } finally fs.delete(tmp, true): Unit
    spark.catalog.refreshByPath(dir)
  }
}

object IdempotentParquetSink {
  private val log = LoggerFactory.getLogger(getClass)

  /** One append's parquet write of `frame` (held weakly) for `batchId`
    * into `dir`; `written` completes with whether it succeeded. */
  private final class Encoding(frame: DataFrame, batchId: Long, val dir: String) {
    private val ref = new java.lang.ref.WeakReference(frame)
    val written = new java.util.concurrent.CompletableFuture[Boolean]
    def of(df: DataFrame, id: Long): Boolean = id == batchId && (ref.get eq df)
    /** Written, but its batch dir has since lost its `_SUCCESS`. */
    def lost(spark: SparkSession): Boolean =
      written.getNow(false) && !Fs.exists(spark, s"$dir/_SUCCESS")
  }
}

/** JDBC append sink (A8): Spark's JDBC writer does batched INSERTs with
  * one connection per partition — the scalable form of the reference's
  * 1-connection-per-table workers. Pool sizes become numPartitions hints.
  *
  * Semi-structured columns (the `sensors JSON` column,
  * opensky_plugin.go:49) stay native ArrayType inside the engine and are
  * serialized with to_json only here, at the JDBC boundary (FIXTURES.md
  * §2 note).
  *
  * @param ddlFor dialect hook: statements that make `db`.`table` exist.
  *               Default is the reference's MySQL dialect
  *               (db_manager.go:141-161); tests swap in Derby.
  */
class JdbcSink(url: String, props: java.util.Properties,
    numPartitions: Int,
    ddlFor: (String, String, String) => Seq[String] = JdbcSink.mysqlDdl)
    extends AppendSink {

  /** Array columns serialized to JSON text at the JDBC boundary. */
  protected final def flattened(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.to_json
    import org.apache.spark.sql.types.ArrayType
    df.schema.fields.foldLeft(df) { (d, f) =>
      f.dataType match {
        case _: ArrayType => d.withColumn(f.name, to_json(d(f.name)))
        case _ => d
      }
    }
  }

  /** Batched append of an already-flattened frame to a qualified table. */
  protected final def writeRows(flat: DataFrame, target: String): Unit = {
    val sized = if (numPartitions > 0 && flat.rdd.getNumPartitions > numPartitions)
      flat.coalesce(numPartitions) else flat
    sized.write.mode(SaveMode.Append).jdbc(url, target, props)
  }

  override def append(df: DataFrame, db: String, table: String): Unit = {
    JdbcSink.requireSafeIdent(db); JdbcSink.requireSafeIdent(table)
    writeRows(flattened(df), s"$db.$table")
  }

  /** Hook between the dialect DDL and execution: subclasses may rewrite
    * the emitted statements (e.g. append required columns). Applied to
    * the ddlFor OUTPUT so it survives dialect hooks that regenerate the
    * DDL rather than pass the input through. */
  protected def bootstrapStatements(db: String, table: String, ddl: String): Seq[String] =
    ddlFor(db, table, ddl)

  override def ensure(db: String, table: String, ddl: String): Unit = {
    JdbcSink.requireSafeIdent(db); JdbcSink.requireSafeIdent(table)
    val conn = java.sql.DriverManager.getConnection(url, props)
    try {
      val st = conn.createStatement()
      bootstrapStatements(db, table, ddl).foreach { sql =>
        try st.execute(sql)
        catch { case e: java.sql.SQLException if JdbcSink.alreadyExists(e) => () }
      }
      st.close()
    } finally conn.close()
  }
}

/** Replay-safe JDBC sink — the JDBC analogue of IdempotentParquetSink:
  * rows land tagged with a `batch_id` column and a REPLAYED batch
  * (post-crash foreachBatch re-delivery) replaces rather than duplicates
  * itself.
  *
  * Mechanics: the batch is first appended to an ATTEMPT-UNIQUE staging
  * table (distributed Spark write, no target mutation), then swapped in
  * on one driver connection inside ONE transaction: DELETE the batch's
  * old rows + INSERT..SELECT from staging, commit, drop staging. The
  * target therefore always holds either the previous delivery of the
  * batch or the new one, never a partial state — a crash between delete
  * and insert rolls back. Zombie writers from a failed attempt target
  * that attempt's own staging table, which is never swapped in, so they
  * can no longer duplicate rows in the target; a process crash can at
  * worst leak an orphaned staging table (inert, re-created fresh on
  * replay). Combined with fail-on-partial-fan-out (StreamingIngest) this
  * yields effectively-once per (batch, target).
  *
  * Identifiers: db/table names are validated against a strict
  * [A-Za-z_][A-Za-z0-9_]* charset rather than dialect-quoted — quoting
  * would change case-folding semantics per dialect (unquoted names fold
  * differently in MySQL vs Derby), and a validated charset makes quoting
  * semantically a no-op while rejecting injection-carrying names loudly.
  *
  * Batch ids MUST be durable across process restarts (streaming
  * checkpoint-derived ids, or PollingIngest's run-unique ids): an id
  * sequence that restarts from scratch would make the sweep DELETE a
  * previous run's unrelated rows.
  *
  * `ensure()` transparently appends the required `batch_id BIGINT`
  * column to every CREATE TABLE statement the dialect hook emits (the
  * rewrite runs on the ddlFor OUTPUT, so hooks that regenerate DDL from
  * scratch — like the Derby test dialect — are covered too), so the
  * existing ingest stack needs no schema changes to adopt this sink.
  */
class IdempotentJdbcSink(url: String, props: java.util.Properties,
    numPartitions: Int,
    ddlFor: (String, String, String) => Seq[String] = JdbcSink.mysqlDdl)
    extends JdbcSink(url, props, numPartitions, ddlFor) {

  override protected def bootstrapStatements(db: String, table: String,
      ddl: String): Seq[String] =
    super.bootstrapStatements(db, table, ddl).map { sql =>
      if (sql.trim.toUpperCase.startsWith("CREATE TABLE"))
        IdempotentJdbcSink.withBatchColumn(sql)
      else sql
    }

  override def append(df: DataFrame, db: String, table: String): Unit =
    append(df, db, table, 0L)

  override def append(df: DataFrame, db: String, table: String, batchId: Long): Unit = {
    JdbcSink.requireSafeIdent(db); JdbcSink.requireSafeIdent(table)
    val stage = table + "_stg_" + java.lang.Long.toHexString(batchId) + "_" +
      Integer.toHexString(java.util.concurrent.ThreadLocalRandom.current().nextInt())
    val flat = flattened(
      df.withColumn("batch_id", org.apache.spark.sql.functions.lit(batchId)))
    val conn = java.sql.DriverManager.getConnection(url, props)
    try {
      // Target column ORDER from live metadata: the staging frame is
      // reordered to match, so the swap INSERT is positional and immune
      // to the case-folding differences between the DDL-created target
      // (unquoted, dialect-folded) and the Spark-created staging table
      // (exact-case quoted).
      val targetCols = {
        val st = conn.createStatement()
        try {
          val md = st.executeQuery(s"SELECT * FROM $db.$table WHERE 1=0").getMetaData
          (1 to md.getColumnCount).map(md.getColumnName)
        } finally st.close()
      }
      val byLower = flat.columns.map(c => c.toLowerCase -> c).toMap
      val ordered = flat.select(targetCols.map { tc =>
        flat(byLower.getOrElse(tc.toLowerCase,
          throw new IllegalArgumentException(
            s"target column $tc missing from batch schema ${flat.columns.mkString(",")}")))
      }: _*)
      try {
        writeRows(ordered, s"$db.$stage") // distributed write, target untouched
        conn.setAutoCommit(false)
        try {
          val del = conn.prepareStatement(s"DELETE FROM $db.$table WHERE batch_id = ?")
          try { del.setLong(1, batchId); del.executeUpdate(); () } finally del.close()
          val ins = conn.createStatement()
          try ins.executeUpdate(s"INSERT INTO $db.$table SELECT * FROM $db.$stage")
          finally ins.close()
          conn.commit() // atomic swap: old batch rows -> new batch rows
        } catch {
          // MUST roll back before auto-commit is restored: JDBC specifies
          // that enabling auto-commit mid-transaction COMMITS it, which
          // would persist the DELETE of the previous delivery alone
          case e: Throwable =>
            try conn.rollback() catch { case _: java.sql.SQLException => () }
            throw e
        }
      } finally {
        try {
          conn.setAutoCommit(true)
          val drop = conn.createStatement()
          try drop.execute(s"DROP TABLE $db.$stage") finally drop.close()
        } catch { case _: java.sql.SQLException => () } // best-effort cleanup
      }
    } finally conn.close()
  }
}

object IdempotentJdbcSink {
  /** Splice `batch_id BIGINT` into a CREATE TABLE statement's column
    * list — the paren group opened by the FIRST '(' (depth-matched, so
    * types like VARCHAR(20) and trailing option clauses with their own
    * parens are handled). No-op only on a word-boundary `batch_id`
    * match, so a column named e.g. rebatch_id doesn't suppress it. */
  def withBatchColumn(ddl: String): String =
    if ("""(?i)\bbatch_id\b""".r.findFirstIn(ddl).isDefined) ddl
    else {
      val open = ddl.indexOf('(')
      require(open >= 0, s"not a CREATE TABLE ddl: $ddl")
      var depth = 0
      var i = open
      var close = -1
      while (i < ddl.length && close < 0) {
        ddl.charAt(i) match {
          case '(' => depth += 1
          case ')' => depth -= 1; if (depth == 0) close = i
          case _ =>
        }
        i += 1
      }
      require(close >= 0, s"unbalanced parens in ddl: $ddl")
      ddl.substring(0, close) + ", batch_id BIGINT" + ddl.substring(close)
    }
}

object JdbcSink {
  /** MySQL bootstrap statements (db_manager.go:141-161 semantics). */
  def mysqlDdl(db: String, table: String, ddl: String): Seq[String] =
    Seq(s"CREATE DATABASE IF NOT EXISTS $db", s"USE $db", ddl)

  /** "object already exists" SQLSTATEs (Derby X0Y32/X0Y68 et al.). */
  def alreadyExists(e: java.sql.SQLException): Boolean =
    Option(e.getSQLState).exists(s => s.startsWith("X0Y") || s == "42710")

  private val SafeIdent = "^[A-Za-z_][A-Za-z0-9_]*$".r
  /** Longest suffix IdempotentJdbcSink appends for its staging table:
    * "_stg_" + up to 16 hex chars (batch id) + "_" + up to 8 hex chars
    * (attempt nonce). Bounded up front so a table name that validates
    * can never overflow a dialect's identifier limit only at
    * staging-table CREATE time. */
  private val StagingSuffixMax = "_stg_".length + 16 + 1 + 8
  /** MySQL's identifier limit is 64 (Derby's is 128 — the tighter bound
    * wins), minus headroom for the staging suffix. */
  private val MaxIdentLen = 64 - StagingSuffixMax
  /** Loud rejection of identifiers that could splice SQL: db/table names
    * reach DDL/DML statement text (the reference interpolates them the
    * same way, db_manager.go:142-156, but silently). */
  def requireSafeIdent(name: String): Unit = {
    require(SafeIdent.matches(name),
      s"unsafe SQL identifier '$name' (allowed: [A-Za-z_][A-Za-z0-9_]*)")
    require(name.length <= MaxIdentLen,
      s"identifier '$name' is ${name.length} chars; max $MaxIdentLen so the " +
        s"idempotent staging suffix (up to $StagingSuffixMax chars) stays " +
        "within MySQL's 64-char identifier limit")
  }
}

object Fanout {
  private val log = LoggerFactory.getLogger(getClass)

  /** Write one batch to every target: append to all targets
    * concurrently, one writer thread per target (the reference's
    * per-table goroutines, main.go:149-155); warn-and-continue per target
    * (the reference's error policy, main.go:198-203).
    *
    * The batch is a driver-decoded tick (a `LocalRelation`, as
    * `OpenSky.parseJson` gives a poll tick and a streaming micro-batch
    * alike): its row count comes from the relation, and every target gets
    * it as one partition — a local scan would otherwise split it into
    * `defaultParallelism` files per target. Any other frame is rejected
    * before an append starts.
    *
    * A tick is one JSON document, so its batch is one partition and
    * each append is a one-task job: run in turn, the appends would leave
    * all task slots but one idle. The writers are started on the calling
    * thread for this call only, so they inherit its Spark local
    * properties — inside `foreachBatch` the streaming query's job group,
    * which `StreamingQuery.stop` cancels. Returns only after every
    * started append has returned, also on failure or interrupt (the
    * interrupt status is restored, not passed on to the writers), so a
    * replayed batch never overlaps a writer of the failed attempt, and
    * per-target order across batches is the call order. An append's
    * `Exception` is logged and counts as a failed target; any other
    * `Throwable` is rethrown once all appends have returned.
    *
    * Every target's append gets the same frame object, so a sink can
    * tell the appends of one batch apart from a new batch by identity:
    * [[IdempotentParquetSink]] encodes the batch's parquet once and copies
    * the files to the other targets.
    *
    * @param batchId unique id of this batch (poll tick / micro-batch id),
    *                forwarded per append call
    * @return (targets written successfully, rows in the batch) */
  def writeBatch(df: DataFrame, targets: Seq[(String, String)],
      sink: AppendSink, batchId: Long = 0L): (Int, Long) = {
    val rows = ColumnBridgeImpl.localRows(df).getOrElse(throw new IllegalArgumentException(
      "Fanout.writeBatch takes a batch decoded on the driver by OpenSky.parseJson " +
        s"(a LocalRelation); got ${df.queryExecution.logical.nodeName}"))
    (appendAll(df.coalesce(1), targets, sink, batchId), rows)
  }

  /** One thread per target, started here and joined before returning;
    * the number of targets whose append returned normally. */
  private def appendAll(df: DataFrame, targets: Seq[(String, String)],
      sink: AppendSink, batchId: Long): Int = {
    val failures = new Array[Throwable](targets.size) // null: written
    val writers = scala.collection.mutable.ArrayBuffer.empty[Thread]
    try {
      targets.zipWithIndex.foreach { case ((db, table), i) =>
        val w = new Thread(() =>
          try sink.append(df, db, table, batchId)
          catch { case t: Throwable => failures(i) = t },
          s"fanout-$batchId-$db.$table")
        w.start()
        writers += w
      }
    } finally {
      var interrupted = false
      writers.foreach { w =>
        while (w.isAlive)
          try w.join() catch { case _: InterruptedException => interrupted = true }
      }
      if (interrupted) Thread.currentThread().interrupt()
    }
    val ok = targets.zip(failures).count {
      case (_, null) => true
      case ((db, table), e: Exception) =>
        log.warn(s"fanout: append to $db.$table failed: ${e.getMessage}")
        false
      case _ => false
    }
    failures.filter(f => f != null && !f.isInstanceOf[Exception]).toList match {
      case fatal :: more => more.foreach(fatal.addSuppressed); throw fatal
      case Nil => ok
    }
  }
}
