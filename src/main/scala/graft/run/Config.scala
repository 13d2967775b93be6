package graft.run

import graft.io.{JdbcConfig, SqlDialect}

/** Engine configuration mirroring the reference's env surface (O6 —
  * dags/mssql_to_postgresql_orders_daily.py:61-119,
  * csv_to_mssqldb.py:79-106): identical keys and defaults, so a user of
  * the reference can point the same `.env` at this engine.
  *
  * Sandbox additions (clearly marked GRAFT_*): JDBC target and source
  * URL overrides, each with a dialect name, so the demo/test
  * environment can run against embedded Derby.
  */
final case class Config(
    // MSSQL source (DB_* keys, orders_daily.py:80-88)
    dbServer: String,
    dbDatabase: String,
    dbUsername: String,
    dbPassword: String,
    mssqlTimeout: Int,
    // PG target (PG_* keys, orders_daily.py:90-97)
    pgDbName: String,
    pgUser: String,
    pgPassword: String,
    pgHost: String,
    pgPort: Int,
    pgTimeout: Int,
    // tables + keys (orders_daily.py:100-113; csv_to_mssqldb.py:86-89)
    sourceTable: String,
    targetTable: String,
    targetIncompleteTable: String,
    stagingTable: String,
    uniqueKeyColumns: Seq[String],
    // performance (orders_daily.py:118-119; csv_to_mssqldb.py:88)
    pgPageSize: Int,
    extractChunkSize: Int,
    stagingLoadChunkSize: Int,
    // CSV seed (csv_to_mssqldb.py:81)
    csvFilePath: Option[String],
    // GRAFT sandbox overrides
    targetUrlOverride: Option[String],
    targetDialectName: String,
    sourceUrlOverride: Option[String] = None,
    sourceDialectName: String = "sqlserver") {

  /** JDBC config for the PG target — or the override URL (Derby in the
    * sandbox demo). Batch size maps PG_PAGE_SIZE (the reference's
    * execute_values page). */
  def targetJdbc: JdbcConfig = targetUrlOverride match {
    case Some(url) => JdbcConfig(url, batchSize = pgPageSize)
    case None => JdbcConfig(
      s"jdbc:postgresql://$pgHost:$pgPort/$pgDbName",
      Map("user" -> pgUser, "password" -> pgPassword,
        "connectTimeout" -> pgTimeout.toString),
      batchSize = pgPageSize)
  }

  /** JDBC config for the MSSQL source/seed target — or the override
    * URL (Derby in the sandbox demo). */
  def sourceJdbc: JdbcConfig = sourceUrlOverride match {
    case Some(url) => JdbcConfig(url, batchSize = stagingLoadChunkSize)
    case None => JdbcConfig(
      s"jdbc:sqlserver://$dbServer;databaseName=$dbDatabase",
      Map("user" -> dbUsername, "password" -> dbPassword,
        "loginTimeout" -> mssqlTimeout.toString),
      batchSize = stagingLoadChunkSize)
  }

  def sourceDialect: SqlDialect = Config.dialectNamed(sourceDialectName)
  def sourceSchemaName: String = Config.schemaOf(sourceDialect)
  def targetDialect: SqlDialect = Config.dialectNamed(targetDialectName)
  def targetSchemaName: String = Config.schemaOf(targetDialect)
}

object Config {

  /** The dialect a `GRAFT_*_DIALECT` name selects, for source and
    * target alike; an unknown name fails. */
  def dialectNamed(name: String): SqlDialect = name.toLowerCase match {
    case "postgres" | "postgresql" => SqlDialect.Postgres
    case "sqlserver" | "mssql"     => SqlDialect.SqlServer
    case "derby"                   => SqlDialect.Derby
    case other =>
      throw new IllegalArgumentException(s"unknown dialect: $other")
  }

  /** Schema name per dialect (public for PG, dbo for MSSQL, APP for
    * Derby) — the reference hard-codes public./dbo. the same way. */
  def schemaOf(d: SqlDialect): String = d match {
    case SqlDialect.Postgres  => "public"
    case SqlDialect.SqlServer => "dbo"
    case SqlDialect.Derby     => "APP"
  }

  def fromEnv(env: Map[String, String] = sys.env): Config = {
    def get(k: String, d: String) = env.getOrElse(k, d)
    val keys = get("UNIQUE_KEY_COLUMNS", "order_id")
      .split(',').map(_.trim).filter(_.nonEmpty).toSeq
    require(keys.nonEmpty, "UNIQUE_KEY_COLUMNS cannot be empty")
    Config(
      dbServer = get("DB_SERVER", "mssql,1433"),
      dbDatabase = get("DB_DATABASE", "source_db"),
      dbUsername = get("DB_USERNAME", "sa"),
      dbPassword = get("DB_PASSWORD", "MyPass123"),
      mssqlTimeout = get("MSSQL_TIMEOUT", "120").toInt,
      pgDbName = get("PG_DBNAME", "airflow"),
      pgUser = get("PG_USER", "airflow"),
      pgPassword = get("PG_PASSWORD", "airflow"),
      pgHost = get("PG_HOST", "postgresql"),
      pgPort = get("PG_PORT", "5432").toInt,
      pgTimeout = get("PG_TIMEOUT", "60").toInt,
      sourceTable = get("SOURCE_TABLE_NAME", "orders"),
      targetTable = get("TARGET_TABLE_NAME", "orders"),
      targetIncompleteTable =
        get("TARGET_INCOMPLETE_TABLE_NAME", "incomplete_orders"),
      stagingTable = get("STAGING_TABLE_NAME", "orders_staging"),
      uniqueKeyColumns = keys,
      pgPageSize = get("PG_PAGE_SIZE", "100").toInt,
      extractChunkSize = get("MSSQL_EXTRACT_CHUNKSIZE", "5000").toInt,
      stagingLoadChunkSize = get("STAGING_LOAD_CHUNKSIZE", "5000").toInt,
      csvFilePath = env.get("CSV_FILE_PATH"),
      targetUrlOverride = env.get("GRAFT_TARGET_URL"),
      targetDialectName = get("GRAFT_TARGET_DIALECT",
        if (env.contains("GRAFT_TARGET_URL")) "derby" else "postgres"),
      sourceUrlOverride = env.get("GRAFT_SOURCE_URL"),
      sourceDialectName = get("GRAFT_SOURCE_DIALECT",
        if (env.contains("GRAFT_SOURCE_URL")) "derby" else "sqlserver"))
  }
}
