package graft.io

import java.sql.{Connection, DriverManager, PreparedStatement, Types}
import java.util.Properties

import org.apache.spark.sql.types._
import org.apache.spark.sql.{DataFrame, Row}

/** Connection settings for a JDBC sink/source. `props` carries
  * user/password/driver exactly like Spark's own JDBC options; all
  * fields are plain serializable values so the config can ship inside
  * the `foreachPartition` closure to every executor.
  */
final case class JdbcConfig(
    url: String,
    props: Map[String, String] = Map.empty,
    batchSize: Int = JdbcWrite.DefaultBatchSize) {
  def properties: Properties = {
    val p = new Properties()
    props.foreach { case (k, v) => p.setProperty(k, v) }
    p
  }
}

/** Low-level batched JDBC writing used by every sink.
  *
  * Execution model (SURVEY.md §7.4 risk 1): each Spark partition opens
  * one connection, binds rows into one PreparedStatement with
  * `addBatch`/`executeBatch` every `batchSize` rows, and commits once
  * at partition end — per-partition transactions, rollback on error.
  * Global exactly-once is NOT provided (Spark may retry a task after a
  * partial commit elsewhere); safety under retry comes from the upsert
  * statements being idempotent, mirroring the reference's contract
  * (dags/mssql_to_postgresql_orders_daily.py:28-29,321-342).
  *
  * At 100 TB the knobs that matter are `batchSize` (statement round
  * trips; the reference pages at 100 via PG_PAGE_SIZE
  * (:118) — far too small for bulk loads, default here is 1000 and
  * configurable) and the DataFrame's partition count (= concurrent
  * connections against the target; `df.coalesce(n)` bounds it).
  */
object JdbcWrite {

  val DefaultBatchSize = 1000

  def connect(cfg: JdbcConfig): Connection = {
    cfg.props.get("driver").foreach(Class.forName)
    DriverManager.getConnection(cfg.url, cfg.properties)
  }

  /** JDBC SQL type for a Spark type — used for `setNull`. */
  def jdbcType(dt: DataType): Int = dt match {
    case LongType        => Types.BIGINT
    case IntegerType     => Types.INTEGER
    case ShortType       => Types.SMALLINT
    case ByteType        => Types.TINYINT
    case DoubleType      => Types.DOUBLE
    case FloatType       => Types.REAL
    case BooleanType     => Types.BOOLEAN
    case TimestampType   => Types.TIMESTAMP
    case DateType        => Types.DATE
    case _: DecimalType  => Types.DECIMAL
    case StringType      => Types.VARCHAR
    case BinaryType      => Types.BINARY
    case other =>
      throw new IllegalArgumentException(s"no JDBC type for $other")
  }

  /** Bind one Row into a PreparedStatement (positions 1..n following
    * `schema` order) — the JVM replacement for the reference's per-row
    * python-native re-boxing (C8,
    * dags/mssql_to_postgresql_orders_daily.py:277-290). */
  private def bind(ps: PreparedStatement, schema: StructType, row: Row): Unit = {
    var i = 0
    while (i < schema.length) {
      val pos = i + 1
      if (row.isNullAt(i)) ps.setNull(pos, jdbcType(schema(i).dataType))
      else schema(i).dataType match {
        case LongType       => ps.setLong(pos, row.getLong(i))
        case IntegerType    => ps.setInt(pos, row.getInt(i))
        case ShortType      => ps.setShort(pos, row.getShort(i))
        case ByteType       => ps.setByte(pos, row.getByte(i))
        case DoubleType     => ps.setDouble(pos, row.getDouble(i))
        case FloatType      => ps.setFloat(pos, row.getFloat(i))
        case BooleanType    => ps.setBoolean(pos, row.getBoolean(i))
        case TimestampType  => ps.setTimestamp(pos, row.getTimestamp(i))
        case DateType       => ps.setDate(pos, row.getDate(i))
        case _: DecimalType => ps.setBigDecimal(pos, row.getDecimal(i))
        case StringType     => ps.setString(pos, row.getString(i))
        case BinaryType     => ps.setBytes(pos, row.getAs[Array[Byte]](i))
        case other =>
          throw new IllegalArgumentException(s"cannot bind $other")
      }
      i += 1
    }
  }

  /** Execute `sql` once per row of the partition, batched, in one
    * transaction. Returns the rows written (committed); errors roll
    * back and rethrow so Spark fails (and may retry) the task. */
  def writePartition(
      cfg: JdbcConfig,
      sql: String,
      schema: StructType,
      rows: Iterator[Row]): Long = {
    if (rows.isEmpty) return 0L
    val conn = connect(cfg)
    try {
      conn.setAutoCommit(false)
      val ps = conn.prepareStatement(sql)
      try {
        var n = 0L
        var pending = 0
        rows.foreach { row =>
          bind(ps, schema, row)
          ps.addBatch()
          pending += 1; n += 1
          if (pending >= cfg.batchSize) { ps.executeBatch(); pending = 0 }
        }
        if (pending > 0) ps.executeBatch()
        conn.commit()
        n
      } catch {
        case e: Throwable =>
          try conn.rollback()
          catch { case _: Throwable => () }
          throw e
      } finally ps.close()
    } finally conn.close()
  }

  /** Distributed write: every partition runs [[writePartition]] with
    * the same statement text. Returns the number of rows written, counted
    * inside this one pass: each partition adds its committed count to a
    * [[Tally]], which merges only successful task attempts, so a retried
    * task's failed attempt is not counted. No separate `count()` scan of
    * `df` is needed. */
  def run(df: DataFrame, cfg: JdbcConfig, sql: String): Long = {
    val schema = df.schema
    val written = Tally(df.sparkSession, "rows written")
    df.foreachPartition { rows: Iterator[Row] =>
      written.add("rows", writePartition(cfg, sql, schema, rows))
    }
    written("rows")
  }

  /** True if `name` exists in `schema` per JDBC metadata. */
  def tableExists(cfg: JdbcConfig, schema: String, name: String): Boolean = {
    val conn = connect(cfg)
    try {
      val rs = conn.getMetaData.getTables(null, schema, name, null)
      try rs.next() finally rs.close()
    } finally conn.close()
  }

  /** Create `name` from the Spark schema when absent — stands in for
    * the reference's init DDL scripts (mssql_init/mssql_init.sql,
    * postgres_init/init.sql) so entry points can bootstrap a fresh
    * target. */
  def ensureTable(
      cfg: JdbcConfig,
      dialect: SqlDialect,
      schemaName: String,
      name: String,
      schema: org.apache.spark.sql.types.StructType): Unit =
    if (!tableExists(cfg, schemaName, name))
      execute(cfg,
        SqlGen.createTable(dialect, dialect.table(schemaName, name), schema))

  /** Run one or more statements on a single connection in one
    * transaction (driver-side control statements: TRUNCATE, MERGE). */
  def execute(cfg: JdbcConfig, sqls: String*): Unit = {
    val conn = connect(cfg)
    try {
      conn.setAutoCommit(false)
      try {
        val st = conn.createStatement()
        try sqls.foreach(st.execute)
        finally st.close()
        conn.commit()
      } catch {
        case e: Throwable =>
          try conn.rollback()
          catch { case _: Throwable => () }
          throw e
      }
    } finally conn.close()
  }
}
