package graft.run

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.core.{Conversions, Entity, Tables}
import graft.io._

/** Shared extract/load/validate stages for the entry points (O2: the
  * reference's task DAG collapsed into stage functions; each load is one
  * Spark pass over its extract and returns the rows it wrote).
  */
object Pipeline {

  /** The orders source entity. In a deployed sync this is the MSSQL
    * JDBC scan (JdbcSources.dateSlice); in the sandbox the driver
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

  val targetSchema: StructType = graft.core.Entities.orders.targetSchema

  /** Half-open day predicate [date, date+1) — SURVEY §7.4 risk 2. */
  def daySlice(c: org.apache.spark.sql.Column, date: String) =
    c >= lit(date).cast(TimestampType) &&
      c < date_add(lit(date).cast(DateType), 1).cast(TimestampType)

  /** The two extract branches for one logical day. With a JDBC source
    * configured (GRAFT_SOURCE_URL, or the MSSQL DB_* keys in a real
    * deployment) both predicates push into the source database (S1/S2);
    * otherwise the parquet stand-in is sliced by Catalyst pushdown. */
  def extractForDay(
      spark: SparkSession,
      cfg: Config,
      sfDir: String,
      date: String): (DataFrame, DataFrame) =
    cfg.sourceUrlOverride match {
      case Some(_) =>
        val d = cfg.sourceDialect
        val table = d.table(cfg.sourceSchemaName, cfg.sourceTable)
        val tsCol = d.quote("order_created_at")
        val complete = JdbcSources.dateSlice(
          spark, cfg.sourceJdbc, table, tsCol, date,
          fetchSize = cfg.extractChunkSize)
        val incomplete = JdbcSources.nullSlice(
          spark, cfg.sourceJdbc, table, tsCol,
          fetchSize = cfg.extractChunkSize)
        (complete, incomplete)
      case None =>
        val src = ordersSource(spark, sfDir)
        (src.filter(daySlice(col("order_created_at"), date)),
          src.filter(col("order_created_at").isNull))
    }

  /** Range extract [start, end] (inclusive dates) — one pushed scan
    * whether the source is JDBC or parquet (O3's single-scan shape). */
  def extractForRange(
      spark: SparkSession,
      cfg: Config,
      sfDir: String,
      start: String,
      end: String): DataFrame = {
    val endNext = java.time.LocalDate.parse(end).plusDays(1)
    cfg.sourceUrlOverride match {
      case Some(_) =>
        val d = cfg.sourceDialect
        val tsCol = d.quote("order_created_at")
        JdbcSources.rangeSlice(
          spark, cfg.sourceJdbc,
          d.table(cfg.sourceSchemaName, cfg.sourceTable),
          tsCol, start, endNext.toString,
          fetchSize = cfg.extractChunkSize)
      case None =>
        ordersSource(spark, sfDir).filter(
          col("order_created_at") >= lit(start).cast(TimestampType) &&
            col("order_created_at") <
              lit(endNext.toString).cast(TimestampType))
    }
  }

  /** Bootstrap the three target tables (stands in for
    * postgres_init/init.sql + mssql_init DDL). */
  def ensureTargetTables(cfg: Config): Unit = {
    val jdbc = cfg.targetJdbc; val d = cfg.targetDialect
    JdbcWrite.ensureTable(jdbc, d, cfg.targetSchemaName, cfg.targetTable,
      targetSchema)
    JdbcWrite.ensureTable(jdbc, d, cfg.targetSchemaName,
      cfg.targetIncompleteTable, targetSchema)
    JdbcWrite.ensureTable(jdbc, d, cfg.targetSchemaName, cfg.stagingTable,
      targetSchema)
  }

  /** Upsert a batch into the target. Dialect-routed: PG takes the
    * row-streamed `ON CONFLICT` sink, SQL Server and Derby take the
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

  /** Count-back validation (S11/A1): rows in the target for one day,
    * pushed to the DB as a COUNT subquery. `{ts '...'}` is the JDBC
    * escape — portable across PG/MSSQL/Derby. */
  def countLoadedForDay(cfg: Config, date: String): Long = {
    val d = cfg.targetDialect
    val c = d.quote("order_created_at")
    val next = java.time.LocalDate.parse(date).plusDays(1)
    JdbcSources.countWhere(
      cfg.targetJdbc,
      d.table(cfg.targetSchemaName, cfg.targetTable),
      s"$c >= {ts '$date 00:00:00'} AND $c < {ts '$next 00:00:00'}")
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
      d.quote(tsCol), start,
      java.time.LocalDate.parse(end).plusDays(1).toString)
  }

  /** Whole target table back into Spark (validation joins). */
  def readTarget(spark: SparkSession, cfg: Config, table: String): DataFrame =
    JdbcSources.readTable(spark, cfg.targetJdbc,
      cfg.targetDialect.table(cfg.targetSchemaName, table))

  // ===================================================================
  // Entity-parametric stages: the same extract → lowercase → upsert →
  // count-back flow for ANY declared [[Entity]] (the reference clones
  // its DAG body per table; here the entity is a parameter). The
  // orders-specific functions above remain for orders' extra
  // complete/incomplete NULL-routing flow; the transactions sync
  // (mssql_to_postgres_sync / mssql_to_postgresql_daily pycs) runs
  // entirely on these.
  // ===================================================================

  /** Bootstrap the entity's target + staging tables with the
    * lowercased target schema. */
  def ensureEntityTables(cfg: Config, e: Entity): Unit = {
    val jdbc = cfg.targetJdbc; val d = cfg.targetDialect
    JdbcWrite.ensureTable(jdbc, d, cfg.targetSchemaName, cfg.targetTable,
      e.targetSchema)
    JdbcWrite.ensureTable(jdbc, d, cfg.targetSchemaName, cfg.stagingTable,
      e.targetSchema)
  }

  /** S3: one day's slice of the entity from the JDBC source, pushed
    * down on the entity's incremental column (the pyc's
    * `WHERE CAST(CreatedDateUtc AS DATE) = ?` in sargable half-open
    * form). Source-edge casing. */
  def extractEntityForDay(
      spark: SparkSession,
      cfg: Config,
      e: Entity,
      date: String): DataFrame = {
    val d = cfg.sourceDialect
    JdbcSources.dateSlice(
      spark, cfg.sourceJdbc,
      d.table(cfg.sourceSchemaName, cfg.sourceTable),
      d.quote(e.incrementalColumn), date,
      fetchSize = cfg.extractChunkSize)
  }

  /** Lowercase-rename (F5), align to the target schema (F6), then
    * upsert with the entity's mode and composite key — dialect-routed
    * like [[upsertBatch]]: PG takes the row-streamed `ON CONFLICT`
    * sink (S7's conditional form for LWW entities), everything else
    * the stage+MERGE sink. Returns the rows written, counted in the
    * writing pass. */
  def loadEntityBatch(cfg: Config, e: Entity, batch: DataFrame): Long = {
    val aligned = Conversions.alignToSchema(
      Conversions.lowercaseColumns(batch), e.targetSchema)
    val d = cfg.targetDialect
    val target = d.table(cfg.targetSchemaName, cfg.targetTable)
    d match {
      case SqlDialect.Postgres =>
        UpsertSink.write(aligned, cfg.targetJdbc, d, target,
          cfg.targetTable, e.targetKey, e.mode)
      case _ =>
        MergeSink.write(aligned, cfg.targetJdbc, d, target,
          d.table(cfg.targetSchemaName, cfg.stagingTable),
          e.targetKey, e.mode,
          withByTarget = d == SqlDialect.SqlServer)
    }
  }

  /** Env defaults name the orders tables; an entity run that wasn't
    * given explicit names substitutes the entity's own. Shared by the
    * DailySync and RangeSync entity branches. */
  def entityConfig(base: Config, e: Entity): Config = base.copy(
    sourceTable =
      if (base.sourceTable == "orders") e.name else base.sourceTable,
    targetTable =
      if (base.targetTable == "orders") e.name else base.targetTable,
    stagingTable = if (base.stagingTable == "orders_staging")
      s"${e.name}_staging" else base.stagingTable)

  /** O3 for any entity: one pushed range scan [start, end] (inclusive
    * dates) on the entity's incremental column — the `_historical`
    * pyc's backfill workload as a SINGLE scan + upsert, where the
    * reference fans out one Airflow task per date. Source casing. */
  def extractEntityForRange(
      spark: SparkSession,
      cfg: Config,
      e: Entity,
      start: String,
      end: String): DataFrame = {
    val endNext = java.time.LocalDate.parse(end).plusDays(1)
    val d = cfg.sourceDialect
    JdbcSources.rangeSlice(
      spark, cfg.sourceJdbc,
      d.table(cfg.sourceSchemaName, cfg.sourceTable),
      d.quote(e.incrementalColumn), start, endNext.toString,
      fetchSize = cfg.extractChunkSize)
  }

  /** S11 for the entity: count-back on the lowercased incremental
    * column (the `_historical` pyc's
    * `WHERE CAST(createddateutc AS DATE) = %s`). */
  def countEntityLoadedForDay(cfg: Config, e: Entity, date: String): Long = {
    val d = cfg.targetDialect
    val c = d.quote(e.targetIncrementalColumn)
    val next = java.time.LocalDate.parse(date).plusDays(1)
    JdbcSources.countWhere(
      cfg.targetJdbc,
      d.table(cfg.targetSchemaName, cfg.targetTable),
      s"$c >= {ts '$date 00:00:00'} AND $c < {ts '$next 00:00:00'}")
  }

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
