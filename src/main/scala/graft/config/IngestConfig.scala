package graft.config

/** Typed ingest configuration, semantics per the reference's config.go.
  *
  * Defaults mirror config.go:54-60 (pool 25/25/3600); zero/absent values
  * fall back to defaults exactly like the reference's reflection-based
  * ValidateConnectionPool (config.go:69-88) — expressed here as plain
  * constructor defaults + max, no reflection.
  */
final case class PoolConfig(
    maxOpenConns: Int = 25,
    maxIdleConns: Int = 25,
    connMaxLifetimeSec: Int = 3600) {
  /** Zero-valued fields mean "use default" (config.go:69-88). */
  def withDefaults: PoolConfig = PoolConfig(
    if (maxOpenConns <= 0) 25 else maxOpenConns,
    if (maxIdleConns <= 0) 25 else maxIdleConns,
    if (connMaxLifetimeSec <= 0) 3600 else connMaxLifetimeSec)
}

/** tls: section (config.go:34-44 / db_manager.go:60-113): pure
  * pass-through to JDBC/driver properties — channel config, not engine
  * logic (SURVEY §2A A13). */
final case class TlsConfig(
    enabled: Boolean = false,
    caCertPath: String = "",
    clientCertPath: String = "",
    clientKeyPath: String = "",
    minVersion: String = "TLSv1.2") {

  /** MySQL Connector/J-style SSL properties for the JDBC sink. */
  def toJdbcProps: Map[String, String] =
    if (!enabled) Map("useSSL" -> "false")
    else Map(
      "useSSL" -> "true",
      "requireSSL" -> "true",
      "tlsVersions" -> minVersion) ++
      (if (caCertPath.nonEmpty) Map("serverSslCert" -> caCertPath) else Map.empty) ++
      (if (clientCertPath.nonEmpty) Map("clientSslCert" -> clientCertPath) else Map.empty) ++
      (if (clientKeyPath.nonEmpty) Map("clientSslKey" -> clientKeyPath) else Map.empty)
}

/** databases: section (config.go:14-21 / config.yaml:10-16). */
final case class DatabasesConfig(
    prefix: String = "auto_",
    copies: Int = 3,
    extra: Map[String, Int] = Map.empty, // extra name -> #tables (tables_j)
    /** Honored (unlike in the reference, where config.yaml:16 is never
      * read and the writer goroutine count is #db×#table): applied in
      * Fanout.writeBatch as the partition cap during per-target appends,
      * i.e. the bound on concurrent writer tasks / JDBC connections per
      * append. The appends to all targets run at once, so a batch has at
      * most #targets × write_workers writer tasks in flight — the
      * reference's #db×#table workers, each up to write_workers wide. */
    writeWorkers: Int = 5)

/** plugin_spec: section (config.go:24-27). */
final case class PluginSpec(
    name: String = "opensky",
    intervalSec: Int = 60,
    /** Accepted for config parity, intentionally unused: the reference
      * never reads its own fetch_workers (config.yaml:8 is dead — the
      * fetch loop in main.go is single-flight per tick), and the poll
      * source here is single-flight per tick for the same reason. Parsed
      * rather than rejected so existing reference configs load unchanged. */
    fetchWorkers: Int = 1)

final case class IngestConfig(
    plugin: PluginSpec = PluginSpec(),
    databases: DatabasesConfig = DatabasesConfig(),
    pool: PoolConfig = PoolConfig(),
    tls: TlsConfig = TlsConfig(),
    /** Bounded run (main.go:49-52 hard-codes 60s); <=0 means run forever. */
    runForSec: Int = 60,
    /** Fetch-error backoff (main.go:113-115 hard-codes 5s). */
    backoffSec: Int = 5) {

  require(plugin.intervalSec > 0, "interval must be positive")

  /** Fan-out targets: (database, table) list — exact expansion semantics of
    * db_manager.go:115-139: `prefix{i}` (i=1..copies) each with one `<tp>`
    * table (db_manager.go:120-126), plus `prefix_<name>` holding
    * `<tp>_{j}` for j=1..tables (db_manager.go:129-137:
    * `fmt.Sprintf("%s_%d", tablePrefix, j)`).
    */
  def targets(tablePrefix: String): Seq[(String, String)] = {
    val copies = (1 to databases.copies)
      .map(i => (s"${databases.prefix}$i", tablePrefix))
    val extras = databases.extra.toSeq.sortBy(_._1).flatMap { case (name, n) =>
      (1 to n).map(j => (s"${databases.prefix}_$name", s"${tablePrefix}_$j"))
    }
    copies ++ extras
  }
}

/** Minimal YAML-subset loader for the ingest config — two-level keys with
  * scalar values, comments, and an `extra:` block of `name: n` pairs. No
  * external dependency (offline build); intentionally not a general YAML
  * parser.
  */
object IngestConfig {

  def parse(yaml: String): IngestConfig = {
    val lines = yaml.linesIterator
      .map(_.replaceAll("#.*$", ""))
      .filter(_.trim.nonEmpty).toSeq

    // (indent, key, value) triples
    val entries = lines.map { l =>
      val indent = l.takeWhile(_ == ' ').length
      val trimmed = l.trim
      val idx = trimmed.indexOf(':')
      require(idx > 0, s"bad config line: '$l'")
      (indent, trimmed.take(idx).trim, trimmed.drop(idx + 1).trim.stripPrefix("\"").stripSuffix("\""))
    }

    // resolve each entry to a dotted path using an indent stack
    var stack = List.empty[(Int, String)]
    val kv = scala.collection.mutable.LinkedHashMap.empty[String, String]
    entries.foreach { case (indent, key, value) =>
      stack = stack.dropWhile(_._1 >= indent)
      val path = (stack.map(_._2).reverse :+ key).mkString(".")
      if (value.isEmpty) stack = (indent, key) :: stack
      else kv(path) = value
    }

    def i(path: String, dflt: Int): Int = kv.get(path).map(_.toInt).getOrElse(dflt)
    def s(path: String, dflt: String): String = kv.getOrElse(path, dflt)
    // The reference nests connection_pool/tls_config under `mysql:`
    // (config.go:23-31); accept that canonical location first, with the
    // flat form as a convenience fallback.
    def i2(nested: String, flat: String, dflt: Int): Int =
      kv.get(nested).orElse(kv.get(flat)).map(_.toInt).getOrElse(dflt)
    def s2(nested: String, flat: String, dflt: String): String =
      kv.get(nested).orElse(kv.get(flat)).getOrElse(dflt)

    val extra = kv.collect {
      case (p, v) if p.startsWith("databases.extra.") && p.endsWith(".tables") =>
        p.stripPrefix("databases.extra.").stripSuffix(".tables") -> v.toInt
    }.toMap

    IngestConfig(
      plugin = PluginSpec(
        name = s("plugin_spec.name", "opensky"),
        intervalSec = i("plugin_spec.config.interval", 60),
        fetchWorkers = i("plugin_spec.config.fetch_workers", 1)),
      databases = DatabasesConfig(
        prefix = s("databases.prefix", "auto_"),
        copies = i("databases.copies", 3),
        extra = extra,
        writeWorkers = i("databases.write_workers", 5)),
      pool = PoolConfig(
        maxOpenConns = i2("mysql.connection_pool.max_open_conns",
          "connection_pool.max_open_conns", 25),
        maxIdleConns = i2("mysql.connection_pool.max_idle_conns",
          "connection_pool.max_idle_conns", 25),
        connMaxLifetimeSec = i2("mysql.connection_pool.conn_max_lifetime",
          "connection_pool.conn_max_lifetime", 3600)).withDefaults,
      tls = TlsConfig(
        enabled = kv.get("mysql.tls_config.enabled").orElse(kv.get("tls.enabled"))
          .exists(_.toBoolean),
        caCertPath = s2("mysql.tls_config.ca_file", "tls.ca_cert", ""),
        clientCertPath = s2("mysql.tls_config.cert_file", "tls.client_cert", ""),
        clientKeyPath = s2("mysql.tls_config.key_file", "tls.client_key", ""),
        minVersion = s2("mysql.tls_config.min_version", "tls.min_version", "TLSv1.2")),
      runForSec = i("run_for", 60),
      backoffSec = i("backoff", 5))
  }

  def load(path: String): IngestConfig =
    parse(new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path)), "UTF-8"))
}
