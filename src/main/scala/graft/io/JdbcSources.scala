package graft.io

import org.apache.spark.sql.{DataFrame, SparkSession}

/** JDBC source reads (S1–S3, S11): the reference's chunked
  * `pd.read_sql` extracts re-expressed as Spark JDBC scans with
  * predicate pushdown.
  *
  * Design decisions vs the reference:
  *  - The date slice `CAST(OrderCreatedAt AS DATE) = ds`
  *    (dags/mssql_to_postgresql_orders_daily.py:199) is rewritten as
  *    the half-open range `ts >= d AND ts < d+1day` — semantically
  *    identical for DATETIME values, but sargable: it pushes through
  *    every JDBC dialect and uses the source's index instead of
  *    defeating it with a per-row CAST (SURVEY.md §7.4 risk 2).
  *  - pandas' single-cursor `chunksize=5000` streaming (:203,119)
  *    becomes `fetchsize` (cursor batching) on one cursor per slice: a
  *    slice is one Spark partition. A range-split read would need
  *    `partitionColumn` with `lowerBound`/`upperBound` (Spark's
  *    `JDBCOptions` takes all or none of them).
  */
object JdbcSources {

  /** Half-open timestamp range [start, endExclusive) pushed into the
    * source DB: the day slice (S1, one day wide) and the backfill
    * extract (O3). Bounds use the JDBC `{ts '...'}` escape, so the same
    * predicate text runs on PG, SQL Server, and Derby. */
  def rangeSlice(
      spark: SparkSession,
      cfg: JdbcConfig,
      table: String,
      tsCol: String,
      start: String,
      endExclusive: String,
      fetchSize: Int = 5000): DataFrame =
    slice(spark, cfg, table,
      s"$tsCol >= {ts '$start 00:00:00'} AND " +
        s"$tsCol < {ts '$endExclusive 00:00:00'}", fetchSize)

  /** Full-table NULL-predicate scan (S2):
    * `WHERE tsCol IS NULL` (mssql_to_postgresql_orders_daily.py:373). */
  def nullSlice(
      spark: SparkSession,
      cfg: JdbcConfig,
      table: String,
      tsCol: String,
      fetchSize: Int = 5000): DataFrame =
    slice(spark, cfg, table, s"$tsCol IS NULL", fetchSize)

  private def slice(
      spark: SparkSession,
      cfg: JdbcConfig,
      table: String,
      predicate: String,
      fetchSize: Int): DataFrame = {
    // dbtable-as-subquery pins the predicate source-side regardless of
    // dialect pushdown support — the Spark equivalent of the
    // reference's literal `WHERE` inside the extract SQL string.
    val sub = s"(SELECT * FROM $table WHERE $predicate) AS graft_slice"
    var r = spark.read
      .format("jdbc")
      .option("url", cfg.url)
      .option("dbtable", sub)
      .option("fetchsize", fetchSize)
    cfg.props.foreach { case (k, v) => r = r.option(k, v) }
    r.load()
  }

  /** Validation count-back (S11): COUNT pushed to the DB
    * (dags/mssql_to_postgresql_orders_daily.py:561-566). A control-plane
    * scalar, so it runs on one driver-side connection — no Spark job. */
  def countWhere(cfg: JdbcConfig, table: String, predicate: String): Long = {
    val conn = JdbcWrite.connect(cfg)
    try {
      val st = conn.createStatement()
      try {
        val rs = st.executeQuery(
          s"SELECT COUNT(*) FROM $table WHERE $predicate")
        rs.next()
        rs.getLong(1)
      } finally st.close()
    } finally conn.close()
  }

  /** Per-date count-back (S11 for a backfill window): rows of `table`
    * in [start, endExclusive) grouped by the calendar date of `tsCol`,
    * as one statement on a driver-side connection —
    * `SELECT d, COUNT(*) FROM (SELECT CAST(ts AS DATE) AS d FROM t
    * WHERE <bounds>) x GROUP BY d`, with [[rangeSlice]]'s `{ts}` bounds.
    * Dates without rows are absent from the result. */
  def countByDate(
      cfg: JdbcConfig,
      table: String,
      tsCol: String,
      start: String,
      endExclusive: String): Map[String, Long] = {
    val conn = JdbcWrite.connect(cfg)
    try {
      val st = conn.createStatement()
      try {
        val rs = st.executeQuery(
          s"SELECT d, COUNT(*) FROM (SELECT CAST($tsCol AS DATE) AS d " +
            s"FROM $table WHERE $tsCol >= {ts '$start 00:00:00'} AND " +
            s"$tsCol < {ts '$endExclusive 00:00:00'}) x GROUP BY d")
        Iterator.continually(rs).takeWhile(_.next())
          .map(r => r.getDate(1).toLocalDate.toString -> r.getLong(2)).toMap
      } finally st.close()
    } finally conn.close()
  }

  /** Whole-table read (used by tests and the seed path's read-back). */
  def readTable(
      spark: SparkSession,
      cfg: JdbcConfig,
      table: String): DataFrame = {
    var r = spark.read.format("jdbc")
      .option("url", cfg.url).option("dbtable", table)
    cfg.props.foreach { case (k, v) => r = r.option(k, v) }
    r.load()
  }
}
