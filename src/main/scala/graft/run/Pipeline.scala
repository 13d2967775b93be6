package graft.run

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.core.{Conversions, Entities, Entity, Tables}
import graft.io._

/** Shared extract/load/validate stages for the entry points (O2: the
  * reference's task DAG collapsed into stage functions; each load is one
  * Spark pass over its extract and returns the rows it wrote).
  *
  * One path for every [[Entity]] (SURVEY §2.5: the reference clones its
  * DAG body per table; here the entity is a parameter). Each stage takes
  * the entity last, defaulting to orders:
  *  - the extract picks the source in one place (a JDBC slice when
  *    `GRAFT_SOURCE_URL` is set, else the parquet stand-in, which only
  *    orders have) and returns target-shaped rows, so one load serves
  *    every entity;
  *  - [[entityConfig]] names the entity's tables and resolves its
  *    conflict keys;
  *  - the NULL-timestamp side table exists only for an entity that
  *    routes NULLs (`Entity.routesNulls`: orders, not transactions).
  */
object Pipeline {

  /** The orders source entity. In a deployed sync this is the MSSQL
    * JDBC scan (JdbcSources.rangeSlice); in the sandbox the driver
    * parquet `orders` table stands in, with the reference's NULL-bearing
    * incremental timestamp derived (status 'P' rows model incomplete
    * orders — the same stand-in the query catalog uses).
    * Output columns are lowercased (F5) target-entity names. */
  def ordersSource(spark: SparkSession, sfDir: String): DataFrame =
    Tables.orders(spark, sfDir)
      .withColumn("created_at",
        when(col("o_orderstatus") === "P", lit(null).cast(TimestampType))
          .otherwise(col("o_orderdate")))
      .select(
        col("o_orderkey").as("order_id"),
        col("o_custkey").as("user_id"),
        col("created_at").as("order_created_at"),
        col("o_totalprice").cast(DecimalType(18, 4)).as("amount"),
        col("o_orderpriority").as("product"))

  /** Half-open day predicate [date, date+1) — SURVEY §7.4 risk 2. */
  def daySlice(c: org.apache.spark.sql.Column, date: String) =
    c >= lit(date).cast(TimestampType) &&
      c < date_add(lit(date).cast(DateType), 1).cast(TimestampType)

  /** The entity's rows whose incremental timestamp lies in the half-open
    * [start, endExclusive), or, for `None`, is NULL. With a JDBC source
    * (GRAFT_SOURCE_URL) the predicate pushes into the source database
    * (S1-S3); otherwise the orders parquet stand-in is filtered by
    * Catalyst, and any other entity fails: it has no stand-in. The
    * rows come back lowercased (F5) and aligned to the target schema
    * (F6). */
  private def extract(
      spark: SparkSession,
      cfg: Config,
      sfDir: String,
      e: Entity,
      range: Option[(String, String)]): DataFrame = {
    val rows = cfg.sourceUrlOverride match {
      case Some(_) =>
        val d = cfg.sourceDialect
        val table = d.table(cfg.sourceSchemaName, cfg.sourceTable)
        val ts = d.quote(e.incrementalColumn)
        range match {
          case Some((start, end)) => JdbcSources.rangeSlice(spark,
            cfg.sourceJdbc, table, ts, start, end,
            fetchSize = cfg.extractChunkSize)
          case None => JdbcSources.nullSlice(spark, cfg.sourceJdbc, table,
            ts, fetchSize = cfg.extractChunkSize)
        }
      case None =>
        require(e == Entities.orders, s"--entity ${e.name} syncs " +
          "DB-to-DB: pass --source-url (or GRAFT_SOURCE_URL)")
        val ts = col(e.incrementalColumn)
        ordersSource(spark, sfDir).filter(range.fold(ts.isNull) {
          case (start, end) => ts >= lit(start).cast(TimestampType) &&
            ts < lit(end).cast(TimestampType)
        })
    }
    Conversions.alignToSchema(Conversions.lowercaseColumns(rows),
      e.targetSchema)
  }

  private def nextDay(date: String): String =
    java.time.LocalDate.parse(date).plusDays(1).toString

  /** The two extract branches for one logical day: the day's rows, and
    * the rows with a NULL incremental timestamp (the side table's, read
    * only for an entity that routes NULLs). */
  def extractForDay(
      spark: SparkSession,
      cfg: Config,
      sfDir: String,
      date: String,
      e: Entity = Entities.orders): (DataFrame, DataFrame) =
    (extract(spark, cfg, sfDir, e, Some(date -> nextDay(date))),
      extract(spark, cfg, sfDir, e, None))

  /** Range extract [start, end] (inclusive dates): one pushed scan, where
    * the reference's `_historical` pyc fans out one task per date (O3). */
  def extractForRange(
      spark: SparkSession,
      cfg: Config,
      sfDir: String,
      start: String,
      end: String,
      e: Entity = Entities.orders): DataFrame =
    extract(spark, cfg, sfDir, e, Some(start -> nextDay(end)))

  /** Bootstrap the target and staging tables, and the side table for an
    * entity that routes NULLs (stands in for postgres_init/init.sql +
    * mssql_init DDL). */
  def ensureTargetTables(cfg: Config, e: Entity = Entities.orders): Unit = {
    val tables = Seq(cfg.targetTable, cfg.stagingTable) ++
      (if (e.routesNulls) Seq(cfg.targetIncompleteTable) else Nil)
    for (t <- tables)
      JdbcWrite.ensureTable(cfg.targetJdbc, cfg.targetDialect,
        cfg.targetSchemaName, t, e.targetSchema)
  }

  /** Upsert a target-shaped batch on `cfg.uniqueKeyColumns`.
    * Dialect-routed: PG takes the row-streamed `ON CONFLICT` sink (S7's
    * conditional form for LWW entities), SQL Server and Derby take the
    * stage+MERGE sink (MERGE is their native upsert; Derby has no ON
    * CONFLICT). Returns the rows written, counted in the writing pass. */
  def upsertBatch(cfg: Config, batch: DataFrame,
      mode: graft.operators.Upsert.Mode): Long = {
    val d = cfg.targetDialect
    val target = d.table(cfg.targetSchemaName, cfg.targetTable)
    d match {
      case SqlDialect.Postgres =>
        UpsertSink.write(batch, cfg.targetJdbc, d, target, cfg.targetTable,
          cfg.uniqueKeyColumns, mode)
      case _ =>
        val staging = d.table(cfg.targetSchemaName, cfg.stagingTable)
        MergeSink.write(batch, cfg.targetJdbc, d, target, staging,
          cfg.uniqueKeyColumns, mode,
          withByTarget = d == SqlDialect.SqlServer)
    }
  }

  /** Count-back validation (S11/A1): rows in the target for one day on
    * the entity's lowercased incremental column, pushed to the DB as a
    * COUNT subquery. `{ts '...'}` is the JDBC escape — portable across
    * PG/MSSQL/Derby. */
  def countLoadedForDay(cfg: Config, date: String,
      e: Entity = Entities.orders): Long = {
    val d = cfg.targetDialect
    val c = d.quote(e.targetIncrementalColumn)
    val next = nextDay(date)
    JdbcSources.countWhere(
      cfg.targetJdbc,
      d.table(cfg.targetSchemaName, cfg.targetTable),
      s"$c >= {ts '$date 00:00:00'} AND $c < {ts '$next 00:00:00'}")
  }

  /** Env defaults name the orders tables; an entity run that wasn't
    * given explicit names substitutes the entity's own. The conflict
    * keys are the configured UNIQUE_KEY_COLUMNS if all of them exist on
    * the entity's target schema, else the entity's own key. An identity
    * for orders under the default env. */
  def entityConfig(base: Config, name: String): Config = {
    val e = Entities.named(name)
    def own(table: String, default: String, mine: String) =
      if (table == default) mine else table
    base.copy(
      sourceTable = own(base.sourceTable, "orders", e.name),
      targetTable = own(base.targetTable, "orders", e.name),
      stagingTable = own(base.stagingTable, "orders_staging",
        s"${e.name}_staging"),
      uniqueKeyColumns =
        if (base.uniqueKeyColumns.forall(e.targetSchema.fieldNames.contains))
          base.uniqueKeyColumns
        else e.targetKey)
  }

  /** Per-date count-back over [start, end] (inclusive dates) on the
    * target's `tsCol` — the backfill's S11/A1, one grouped COUNT pushed
    * to the DB on a driver-side connection. Dates without rows are
    * absent from the map. */
  def countLoadedByDate(cfg: Config, tsCol: String, start: String,
      end: String): Map[String, Long] = {
    val d = cfg.targetDialect
    JdbcSources.countByDate(
      cfg.targetJdbc,
      d.table(cfg.targetSchemaName, cfg.targetTable),
      d.quote(tsCol), start, nextDay(end))
  }

  /** Whole target table back into Spark (validation joins). */
  def readTarget(spark: SparkSession, cfg: Config, table: String): DataFrame =
    JdbcSources.readTable(spark, cfg.targetJdbc,
      cfg.targetDialect.table(cfg.targetSchemaName, table))

  /** A2/A1 reconciliation line, log-only on mismatch exactly like the
    * reference (orders_daily.py:580-584). Returns match.
    *
    * `extracted` is the number of rows handed to the sink in the pass
    * that wrote them (the sinks' return value), not a separate
    * `count()` of the extract, so on a live source it cannot see a
    * different snapshot than the write did. `loaded` is the target's
    * own count-back. */
  def reconcile(label: String, extracted: Long, loaded: Long): Boolean = {
    val ok = extracted == loaded
    val mark = if (ok) "OK" else "MISMATCH"
    println(s"[validate] $label: extracted=$extracted loaded=$loaded $mark")
    ok
  }
}
