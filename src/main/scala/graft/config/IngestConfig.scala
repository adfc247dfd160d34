package graft.config

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

/** databases: section (config.go:14-21 / config.yaml:10-16): the fan-out
  * topology. The reference's `write_workers` (config.yaml:16, never read
  * there either) is not a field: a batch is decoded on the driver and
  * written to each target as one partition, so there is no writer
  * parallelism to cap. */
final case class DatabasesConfig(
    prefix: String = "auto_",
    copies: Int = 3,
    extra: Map[String, Int] = Map.empty) // extra name -> #tables (tables_j)

/** plugin_spec: section (config.go:24-27). The reference's
  * `fetch_workers` (config.yaml:8, dead there too: its fetch loop is
  * single-flight per tick, as the poll here is) is not a field. */
final case class PluginSpec(
    name: String = "opensky",
    intervalSec: Int = 60)

/** Typed ingest configuration, semantics per the reference's config.go.
  * [[IngestConfig.parse]] ignores the keys no field here reads, so
  * reference configs load unchanged: `write_workers`, `fetch_workers`
  * and `mysql.connection_pool` (Spark's JDBC writer opens its own
  * connection per partition, SURVEY §2A A12). */
final case class IngestConfig(
    plugin: PluginSpec = PluginSpec(),
    databases: DatabasesConfig = DatabasesConfig(),
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
    // The reference nests tls_config under `mysql:` (config.go:23-31);
    // accept that canonical location first, with the flat form as a
    // convenience fallback.
    def s2(nested: String, flat: String, dflt: String): String =
      kv.get(nested).orElse(kv.get(flat)).getOrElse(dflt)

    val extra = kv.collect {
      case (p, v) if p.startsWith("databases.extra.") && p.endsWith(".tables") =>
        p.stripPrefix("databases.extra.").stripSuffix(".tables") -> v.toInt
    }.toMap

    IngestConfig(
      plugin = PluginSpec(
        name = s("plugin_spec.name", "opensky"),
        intervalSec = i("plugin_spec.config.interval", 60)),
      databases = DatabasesConfig(
        prefix = s("databases.prefix", "auto_"),
        copies = i("databases.copies", 3),
        extra = extra),
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
