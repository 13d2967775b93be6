package graft.io

import org.apache.spark.sql.DataFrame

import graft.operators.Upsert

/** The reference's three write paths as Spark sinks (SURVEY.md §2.5,
  * §7.3 — "the only genuinely custom component"; Spark's built-in JDBC
  * writer has only append/overwrite, no upsert). Each `write` returns
  * the rows it handed to the database, counted in the writing pass
  * ([[JdbcWrite.run]]).
  */

/** Row-streamed upsert: every executor partition issues batched
  * `INSERT ... ON CONFLICT` statements (S6 unconditional, S7
  * last-write-wins, S10's insert-only clause shape) inside a
  * per-partition transaction.
  *
  * Scale note: this is the right sink when the daily batch is small
  * relative to the target table — the DB resolves conflicts via its PK
  * index and Spark never reads the target. Concurrent connections =
  * DataFrame partitions; statements are idempotent so task retries are
  * safe (see [[JdbcWrite]]).
  *
  * Reference: dags/mssql_to_postgresql_orders_daily.py:296-342;
  * LWW variant dags/__pycache__/mssql_to_postgres_sync.cpython-38.pyc.
  */
object UpsertSink {
  def write(
      df: DataFrame,
      cfg: JdbcConfig,
      dialect: SqlDialect,
      table: String,
      tableName: String,
      keys: Seq[String],
      mode: Upsert.Mode = Upsert.Unconditional): Long = {
    val sql = SqlGen.upsert(
      dialect, table, tableName, df.columns.toSeq, keys, mode)
    JdbcWrite.run(df, cfg, sql)
  }
}

/** Stage-then-MERGE upsert (S9+S10): TRUNCATE staging → batched append
  * into staging from all partitions → one set-based MERGE on the DB,
  * with truncate+merge bracketing the load in driver-side transactions.
  *
  * The reference does all three steps inside ONE DB transaction
  * (csv_to_mssqldb.py:447-468); with distributed executors the load
  * step commits per partition, so the bracket here is: truncate txn →
  * parallel load (per-partition txns) → merge txn. The staging table is
  * private to the pipeline, so the weaker bracket changes nothing
  * observable on the target — MERGE still applies atomically.
  *
  * Scale note: this is the right sink for LARGE batches — the per-row
  * conflict path of [[UpsertSink]] becomes one indexed join inside the
  * DB, and the staging load is a plain bulk append (the fastest JDBC
  * write path). Mirrors the reference's own choice for the 1,000-row
  * CSV seed vs the 100-row page upsert of the daily sync.
  */
object MergeSink {
  def write(
      df: DataFrame,
      cfg: JdbcConfig,
      dialect: SqlDialect,
      target: String,
      staging: String,
      keys: Seq[String],
      mode: Upsert.Mode = Upsert.Unconditional,
      withByTarget: Boolean = true): Long = {
    val cols = df.columns.toSeq
    JdbcWrite.execute(cfg, SqlGen.truncate(dialect, staging))
    val staged = JdbcWrite.run(df, cfg, SqlGen.insert(dialect, staging, cols))
    JdbcWrite.execute(
      cfg, SqlGen.merge(dialect, target, staging, cols, keys, mode, withByTarget))
    staged
  }
}

/** Full refresh (S8): TRUNCATE target, then plain batched INSERT — the
  * reference's side-table flow for incomplete orders
  * (dags/mssql_to_postgresql_orders_daily.py:494-505). Idempotent by
  * construction (re-running a day rebuilds the same state).
  */
object RefreshSink {
  def write(
      df: DataFrame,
      cfg: JdbcConfig,
      dialect: SqlDialect,
      table: String): Long = {
    JdbcWrite.execute(cfg, SqlGen.truncate(dialect, table))
    JdbcWrite.run(df, cfg, SqlGen.insert(dialect, table, df.columns.toSeq))
  }
}
