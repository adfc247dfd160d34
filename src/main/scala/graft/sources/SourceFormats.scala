package graft.sources

import graft.{Q, QueryModule, Tables, TempRoots}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Batch source/sink format coverage (SURVEY §2B "Scans/sources": parquet
  * is the fixture default; CSV and JSON are exercised as write→read
  * round-trips so both the writer and the schema-explicit reader run).
  * Oracles aggregate the same parquet table — equality proves the
  * round-trip is lossless for the projected columns.
  */
object SourceFormats extends QueryModule {

  private val subsetSchema = StructType(Seq(
    StructField("event_id", LongType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType)))

  /** A new dir per run, so an earlier run's lazy result stays readable;
    * TempRoots deletes the lot at JVM exit. */
  private def scratch(fmt: String): String =
    java.nio.file.Files.createTempDirectory(TempRoots.root(s"graft_$fmt"), fmt)
      .toString

  private def roundTrip(fmt: String)(s: org.apache.spark.sql.SparkSession, dir: String) = {
    import s.implicits._
    val path = scratch(fmt) + "/events"
    Tables.t(s, dir, "events")
      .select($"event_id", $"user_id", $"event_type", $"value")
      .write.format(fmt).option("header", "true").mode("overwrite").save(path)
    s.read.format(fmt).option("header", "true").schema(subsetSchema).load(path)
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n"), round(sum($"value"), 2).as("sum_value"),
        countDistinct($"user_id").as("n_users"))
      .orderBy($"event_type")
  }

  private val oracle = """
    SELECT event_type, count(*) AS n, round(sum(value), 2) AS sum_value,
           count(DISTINCT user_id) AS n_users
    FROM events
    GROUP BY event_type
    ORDER BY event_type"""

  override def queries: Seq[Q] = Seq(
    Q("q85_csv_roundtrip",
      "CSV sink + schema-explicit CSV source round-trip, aggregated; " +
        "oracle on the parquet original proves losslessness.",
      (s, dir) => roundTrip("csv")(s, dir), Some(oracle)),
    Q("q86_json_roundtrip",
      "JSON-lines sink + schema-explicit JSON source round-trip (schema " +
        "given, never inferred — inference at 100 TB is a full extra scan).",
      (s, dir) => roundTrip("json")(s, dir), Some(oracle)),
    Q("q98_orc_roundtrip",
      "ORC sink + source round-trip — the second columnar format Spark " +
        "ships natively (predicate pushdown + column pruning apply as " +
        "with parquet); oracle on the parquet original proves " +
        "losslessness.",
      (s, dir) => roundTrip("orc")(s, dir), Some(oracle)),

    Q("q111_xml_roundtrip",
      "XML sink + schema-explicit XML source round-trip (the XML data " +
        "source is core in Spark 4) — row tag per event, same aggregate " +
        "and oracle as the other format round-trips.",
      (s, dir) => {
        import s.implicits._
        val path = scratch("xml") + "/events"
        Tables.t(s, dir, "events")
          .select($"event_id", $"user_id", $"event_type", $"value")
          .write.format("xml").option("rowTag", "event").mode("overwrite").save(path)
        s.read.format("xml").option("rowTag", "event").schema(subsetSchema).load(path)
          .groupBy($"event_type")
          .agg(count(lit(1)).as("n"), round(sum($"value"), 2).as("sum_value"),
            countDistinct($"user_id").as("n_users"))
          .orderBy($"event_type")
      }, Some(oracle)),

    Q("q112_from_xml",
      "Scalar XML parsing: from_xml over a per-row XML payload " +
        "(assembled from customer fields, the fixtures carry no XML) " +
        "with an explicit schema, fields extracted back out — the " +
        "shred-on-read path for XML-bearing columns; the oracle computes " +
        "the same fields relationally, proving parse-extract identity.",
      (s, dir) => {
        import s.implicits._
        val xmlSchema = StructType(Seq(
          StructField("key", LongType),
          StructField("seg", StringType),
          StructField("bal", DoubleType)))
        Tables.t(s, dir, "customer")
          .select($"c_custkey",
            concat(lit("<c><key>"), $"c_custkey",
              lit("</key><seg>"), $"c_mktsegment",
              lit("</seg><bal>"), $"c_acctbal",
              lit("</bal></c>")).as("payload"))
          .select($"c_custkey", from_xml($"payload", xmlSchema).as("x"))
          .select($"c_custkey", $"x.key".as("key"), $"x.seg".as("seg"),
            round($"x.bal", 2).as("bal"))
          .orderBy($"c_custkey")
      },
      Some("""
        SELECT c_custkey, c_custkey AS key, c_mktsegment AS seg,
               round(c_acctbal, 2) AS bal
        FROM customer
        ORDER BY c_custkey""")),

    Q("q131_schema_drift",
      "SCHEMA EVOLUTION read — the daily reality of a long-lived corpus " +
        "directory: an early batch was written without a column that a " +
        "later pipeline version added (here: orders pre-1995 without " +
        "o_orderpriority, 1995+ with it); `mergeSchema` unifies the " +
        "footers at read time and back-fills NULL for the missing " +
        "column, so old data never needs rewriting. The aggregate " +
        "groups by the drifted column with coalesce('unknown') — " +
        "exactly how a consumer handles pre-evolution rows. Oracle " +
        "reconstructs the same null-injection relationally. NOTE " +
        "mergeSchema costs a footer read per file — at 100 TB pin the " +
        "unified schema in a catalog/read schema instead; the option " +
        "is the migration tool, not the steady state (and that is why " +
        "it is opt-in in Spark).",
      (s, dir) => {
        import s.implicits._
        // pid-scoped stable scratch (exit-hook cleaned, dead-pid swept);
        // both batches are mode-overwrite, so reruns rewrite in place
        val path = graft.TempRoots.forDir("graft_drift", dir).toString + "/orders"
        val o = Tables.t(s, dir, "orders")
        val old = o.filter(year($"o_orderdate") < 1995)
          .select($"o_orderkey", $"o_totalprice", $"o_orderdate")
        val newer = o.filter(year($"o_orderdate") >= 1995)
          .select($"o_orderkey", $"o_totalprice", $"o_orderdate",
            $"o_orderpriority")
        old.write.mode("overwrite").parquet(s"$path/batch=old")
        newer.write.mode("overwrite").parquet(s"$path/batch=new")
        s.read.option("mergeSchema", "true").parquet(path)
          .groupBy(coalesce($"o_orderpriority", lit("unknown")).as("priority"))
          .agg(count(lit(1)).as("n"),
            round(sum($"o_totalprice"), 2).as("revenue"))
          .orderBy($"priority")
      },
      Some("""
        WITH unified AS (
          SELECT CASE WHEN year(CAST(o_orderdate AS TIMESTAMP)) >= 1995
                      THEN o_orderpriority END AS o_orderpriority,
                 o_totalprice
          FROM orders)
        SELECT coalesce(o_orderpriority, 'unknown') AS priority,
               count(*) AS n, round(sum(o_totalprice), 2) AS revenue
        FROM unified
        GROUP BY 1
        ORDER BY priority""")),

    Q("q171_corrupt_quarantine",
      "MALFORMED-RECORD QUARANTINE — the ingest pattern that keeps one " +
        "bad producer from poisoning or aborting a feed: JSON lines " +
        "(every 7th deterministically truncated mid-record) parsed in " +
        "PERMISSIVE mode with a _corrupt_record column, good rows " +
        "aggregated, bad rows COUNTED instead of crashing the job " +
        "(FAILFAST) or silently vanishing (DROPMALFORMED). The parse is " +
        "per-row map work (from_json, no shuffle); only the final " +
        "1-row aggregate exchanges. Oracle reconstructs the same " +
        "good/bad split relationally from the corruption rule — " +
        "equality proves the PERMISSIVE routing classified every line " +
        "correctly.",
      (s, dir) => {
        import s.implicits._
        val lines = Tables.t(s, dir, "documents")
          .select($"doc_id".as("id"),
            to_json(struct($"doc_id", $"lang", $"n_chars")).as("line"))
          .select(when($"id" % 7 === 0,
            expr("substring(line, 1, length(line) - 3)"))
            .otherwise($"line").as("line"))
        val schema = StructType(Seq(
          StructField("doc_id", LongType),
          StructField("lang", StringType),
          StructField("n_chars", IntegerType),
          StructField("_bad", StringType)))
        lines
          .select(from_json($"line", schema,
            Map("mode" -> "PERMISSIVE",
              "columnNameOfCorruptRecord" -> "_bad")).as("r"))
          .select($"r.doc_id", $"r.n_chars", $"r._bad")
          .groupBy()
          .agg(
            count(when($"_bad".isNull, 1)).as("n_good"),
            count($"_bad").as("n_quarantined"),
            sum(when($"_bad".isNull, $"n_chars").otherwise(0))
              .cast("long").as("chars_good"))
      },
      Some("""
        SELECT CAST(sum(CASE WHEN doc_id % 7 <> 0 THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_good,
               CAST(sum(CASE WHEN doc_id % 7 = 0 THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_quarantined,
               CAST(sum(CASE WHEN doc_id % 7 <> 0 THEN n_chars ELSE 0 END) AS BIGINT)
                 AS chars_good
        FROM documents"""))
  ,

    Q(
      "q317_file_ingest_formats",
      "TEXT + BINARYFILE SOURCE ROUND-TRIP — the two Spark sources the " +
        "format matrix (parquet/json/csv/orc/xml/jdbc) didn't yet " +
        "cover, and exactly the two a training-data pipeline ingests " +
        "raw corpora with: spark.read.text for line-oriented dumps " +
        "(one doc per line here, tab-separated id) and " +
        "spark.read.format(binaryFile) for opaque media blobs (64 " +
        "REAL PNG payloads from the Multimodal codec, one file each " +
        "— the object-store ingest path for the binary-column " +
        "multimodal model SURVEY 2B prescribes). The audit row per " +
        "format carries read-back counts and a full-fidelity verdict " +
        "(text: every line re-parses and matches its source doc " +
        "byte-for-byte via an id join; binary: every file is " +
        "non-empty, carries the PNG magic, and round-trips " +
        "bit-identically to a re-encode of its id). The oracle pins " +
        "the expected counts + verdicts (restricted oracle, q226's " +
        "pattern — the measurement is Spark-side, a regression flips " +
        "a bit and goes driver-red). At 100 TB the text read is " +
        "splittable line-parallel scan; binaryFile is one row per " +
        "object with pushed path filters — both partition by files.",
      (s, dir) => {
        import graft.operators.Multimodal
        import s.implicits._
        val root = graft.TempRoots.freshForDir("graft_fileingest", dir)
        val docs = Tables.t(s, dir, "documents").select($"doc_id", $"text")
        docs.select(concat($"doc_id", lit("\t"), $"text").as("value"))
          .coalesce(4).write.mode("overwrite").text(s"$root/txt")
        val textBack = s.read.text(s"$root/txt")
          .select(split($"value", "\t", 2).as("p"))
          .select($"p".getItem(0).cast("long").as("doc_id"),
            $"p".getItem(1).as("rt"))
        val textAudit = textBack.join(docs, Seq("doc_id"), "full_outer")
          .agg(count(lit(1)).cast("long").as("n_records"),
            sum(when($"rt" === $"text", 1L).otherwise(0L))
              .cast("long").as("n_verified"))
        // 64 real PNG blobs, one object per file (the bounded-artifact
        // driver loop: 64 x ~200 B)
        val pngDir = root.resolve("png")
        java.nio.file.Files.createDirectories(pngDir)
        (0L until 64L).foreach { id =>
          java.nio.file.Files.write(pngDir.resolve(f"img_$id%03d.png"),
            Multimodal.encodePng(id))
        }
        val magic = Array[Byte](0x89.toByte, 'P', 'N', 'G')
        val binAudit = s.read.format("binaryFile")
          .load(s"$pngDir/*.png")
          .select($"path", $"content")
          .as[(String, Array[Byte])]
          .map { case (path, bytes) =>
            val id = path.replaceAll(".*img_(\\d+)\\.png$", "$1").toLong
            val ok = bytes.length > 4 &&
              bytes.take(4).sameElements(magic) &&
              bytes.sameElements(Multimodal.encodePng(id))
            (1L, if (ok) 1L else 0L)
          }.toDF("one", "ok")
          .agg(sum($"one").cast("long").as("n_records"),
            sum($"ok").cast("long").as("n_verified"))
        textAudit.select(lit("text").as("source_format"),
            $"n_records", $"n_verified",
            ($"n_records" === $"n_verified").as("full_fidelity"))
          .unionAll(binAudit.select(lit("binaryFile").as("source_format"),
            $"n_records", $"n_verified",
            ($"n_records" === $"n_verified").as("full_fidelity")))
          .orderBy($"source_format")
      },
      Some("""
        SELECT 'binaryFile' AS source_format,
               CAST(64 AS BIGINT) AS n_records,
               CAST(64 AS BIGINT) AS n_verified,
               TRUE AS full_fidelity
        UNION ALL
        SELECT 'text', CAST(count(*) AS BIGINT),
               CAST(count(*) AS BIGINT), TRUE
        FROM documents
        ORDER BY source_format"""))
  )
}
