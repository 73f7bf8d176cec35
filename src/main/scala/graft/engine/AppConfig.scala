package graft.engine

/**
 * Engine configuration — mirrors the reference's Settings tree
 * (reference: src/iceberg_explorer/config.py:20-149), with env-var
 * overrides under the same ICEBERG_EXPLORER_* names where they apply.
 */
final case class QueryConfig(
    maxRows: Int = 10000,        // reference declares but never enforces; we enforce
    defaultTimeout: Int = 300,   // seconds
    minTimeout: Int = 10,
    maxTimeout: Int = 3600) {
  // the executor fetches maxRows + 1 rows to detect truncation
  require(maxRows >= 0 && maxRows < Int.MaxValue,
    s"max_rows must be in [0, ${Int.MaxValue}), got $maxRows")

  /** Timeout clamp — operator A3
    * (reference: src/iceberg_explorer/query/executor.py:142-154). */
  def clampTimeout(requested: Option[Int]): Int =
    requested.fold(defaultTimeout)(t => math.max(minTimeout, math.min(t, maxTimeout)))
}

final case class EngineConfig(
    memoryLimit: String = "4g",  // reference DuckDB memory_limit default 4GB
    threads: Int = 4)            // reference DuckDB threads default 4

final case class ExportConfig(maxSizeBytes: Long = 1073741824L) // 1 GiB

/** S3-compatible storage credentials for the Iceberg FileIO
  * (reference: config.py S3Config, env prefix
  * ICEBERG_EXPLORER_CATALOG__S3__). */
final case class S3Config(
    endpoint: Option[String] = None,
    accessKeyId: Option[String] = None,
    secretAccessKey: Option[String] = None,
    region: Option[String] = None)

/** Catalog connection settings (reference: config.py CatalogConfig —
  * same fields, same defaults: type "rest", uri localhost:8181). */
final case class CatalogConfig(
    name: String = "default",
    warehouse: String = "",
    catalogType: String = "rest",
    uri: String = "http://localhost:8181",
    credential: Option[String] = None,
    token: Option[String] = None,
    s3: S3Config = S3Config())

/** OpenTelemetry settings (reference: config.py:117-131 OTelConfig —
  * same fields, same defaults: disabled, localhost:4317, service name
  * "iceberg-explorer", insecure transport). */
final case class OtelConfig(
    enabled: Boolean = false,
    endpoint: String = "http://localhost:4317",
    serviceName: String = "iceberg-explorer",
    insecure: Boolean = true)

final case class AppConfig(
    query: QueryConfig = QueryConfig(),
    engine: EngineConfig = EngineConfig(),
    `export`: ExportConfig = ExportConfig(),
    catalog: CatalogConfig = CatalogConfig(),
    otel: OtelConfig = OtelConfig())

object AppConfig {
  /** Defaults + environment overrides (subset actually used by the engine). */
  def fromEnv(env: Map[String, String] = sys.env): AppConfig = {
    def intEnv(k: String, dflt: Int) = env.get(k).flatMap(_.toIntOption).getOrElse(dflt)
    def longEnv(k: String, dflt: Long) = env.get(k).flatMap(_.toLongOption).getOrElse(dflt)
    // pydantic bool parsing (the reference's settings layer accepts
    // true/false/1/0/yes/no/on/off, case-insensitive; anything else is
    // a config error there — here it falls back to the default)
    def boolEnv(k: String, dflt: Boolean) = env.get(k).map(_.toLowerCase)
      .flatMap {
        case "1" | "true" | "yes" | "on" | "t" | "y" => Some(true)
        case "0" | "false" | "no" | "off" | "f" | "n" => Some(false)
        case _ => None
      }.getOrElse(dflt)
    AppConfig(
      query = QueryConfig(
        maxRows = intEnv("ICEBERG_EXPLORER_QUERY__MAX_ROWS", 10000),
        defaultTimeout = intEnv("ICEBERG_EXPLORER_QUERY__DEFAULT_TIMEOUT", 300),
        minTimeout = intEnv("ICEBERG_EXPLORER_QUERY__MIN_TIMEOUT", 10),
        maxTimeout = intEnv("ICEBERG_EXPLORER_QUERY__MAX_TIMEOUT", 3600)),
      engine = EngineConfig(
        memoryLimit = env.getOrElse("ICEBERG_EXPLORER_DUCKDB__MEMORY_LIMIT", "4g"),
        threads = intEnv("ICEBERG_EXPLORER_DUCKDB__THREADS", 4)),
      `export` = ExportConfig(
        maxSizeBytes = longEnv("ICEBERG_EXPLORER_EXPORT__MAX_SIZE_BYTES", 1073741824L)),
      catalog = CatalogConfig(
        name = env.getOrElse("ICEBERG_EXPLORER_CATALOG__NAME", "default"),
        warehouse = env.getOrElse("ICEBERG_EXPLORER_CATALOG__WAREHOUSE", ""),
        catalogType = env.getOrElse("ICEBERG_EXPLORER_CATALOG__TYPE", "rest"),
        uri = env.getOrElse("ICEBERG_EXPLORER_CATALOG__URI",
          "http://localhost:8181"),
        credential = env.get("ICEBERG_EXPLORER_CATALOG__CREDENTIAL"),
        token = env.get("ICEBERG_EXPLORER_CATALOG__TOKEN"),
        s3 = S3Config(
          endpoint = env.get("ICEBERG_EXPLORER_CATALOG__S3__ENDPOINT"),
          accessKeyId = env.get("ICEBERG_EXPLORER_CATALOG__S3__ACCESS_KEY_ID"),
          secretAccessKey =
            env.get("ICEBERG_EXPLORER_CATALOG__S3__SECRET_ACCESS_KEY"),
          region = env.get("ICEBERG_EXPLORER_CATALOG__S3__REGION"))),
      otel = OtelConfig(
        enabled = boolEnv("ICEBERG_EXPLORER_OTEL__ENABLED", false),
        endpoint = env.getOrElse("ICEBERG_EXPLORER_OTEL__ENDPOINT",
          "http://localhost:4317"),
        serviceName = env.getOrElse("ICEBERG_EXPLORER_OTEL__SERVICE_NAME",
          "iceberg-explorer"),
        insecure = boolEnv("ICEBERG_EXPLORER_OTEL__INSECURE", true)))
  }
}
