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

/** Exactly-once APPEND sink for targets WITHOUT a natural key (raw
  * event/fact feeds, where the reference's upsert-idempotency trick
  * has nothing to conflict on). Unit of atomicity: (batch_id,
  * partition_id). Every partition commits its rows AND its ledger row
  * in ONE transaction; a retried or speculative task finds the ledger
  * row (or loses the ledger PK race) and skips, so re-running a batch
  * — task retry, stage retry, whole-job re-run — never duplicates a
  * row. This upgrades the engine's JDBC append path from
  * per-partition-atomic (SURVEY §7.4 risk 1) to exactly-once.
  *
  * CONTRACT: a re-run of a batch id must present the SAME partitioning
  * (same row→partition assignment and count — i.e. the same
  * deterministic input and plan). Spark's own task/stage retries
  * always satisfy this; a manual re-submission under a different
  * `spark.sql.shuffle.partitions` would not, and needs a fresh batch
  * id against an idempotent (upsert) sink instead.
  */
object LedgerSink {

  /** Composite-PK ledger DDL (portable: plain VARCHAR/INT/BIGINT). The
    * PRIMARY KEY is load-bearing — two concurrent attempts for one
    * partition both pass the existence check, but only one can commit
    * the ledger row; the loser's data rows roll back with it. */
  private def ledgerDdl(d: SqlDialect, ledger: String): String =
    s"""CREATE TABLE $ledger (
       |  ${d.quote("batch_id")} VARCHAR(128) NOT NULL,
       |  ${d.quote("partition_id")} INT NOT NULL,
       |  ${d.quote("n_rows")} BIGINT,
       |  PRIMARY KEY (${d.quote("batch_id")}, ${d.quote("partition_id")})
       |)""".stripMargin

  def ensureLedger(
      cfg: JdbcConfig,
      d: SqlDialect,
      schemaName: String,
      ledgerName: String): Unit =
    if (!JdbcWrite.tableExists(cfg, schemaName, ledgerName))
      JdbcWrite.execute(cfg, ledgerDdl(d, d.table(schemaName, ledgerName)))

  def write(
      df: DataFrame,
      cfg: JdbcConfig,
      d: SqlDialect,
      table: String,
      ledger: String,
      batchId: String): Unit = {
    val insertSql = SqlGen.insert(d, table, df.columns.toSeq)
    val checkSql =
      s"""SELECT 1 FROM $ledger WHERE ${d.quote("batch_id")} = ?
         | AND ${d.quote("partition_id")} = ?""".stripMargin
    val markSql =
      s"""INSERT INTO $ledger (${d.quote("batch_id")},
         | ${d.quote("partition_id")}, ${d.quote("n_rows")})
         | VALUES (?, ?, ?)""".stripMargin
    val schema = df.schema
    df.foreachPartition { rows: Iterator[org.apache.spark.sql.Row] =>
      val pid = org.apache.spark.TaskContext.getPartitionId()
      val conn = JdbcWrite.connect(cfg)
      try {
        conn.setAutoCommit(false)
        val check = conn.prepareStatement(checkSql)
        val done =
          try {
            check.setString(1, batchId); check.setInt(2, pid)
            val rs = check.executeQuery()
            try rs.next() finally rs.close()
          } finally check.close()
        if (!done) {
          var n = 0L
          val ps = conn.prepareStatement(insertSql)
          try {
            var pending = 0
            rows.foreach { row =>
              JdbcWrite.bind(ps, schema, row)
              ps.addBatch()
              pending += 1; n += 1
              if (pending >= cfg.batchSize) { ps.executeBatch(); pending = 0 }
            }
            if (pending > 0) ps.executeBatch()
          } finally ps.close()
          val mark = conn.prepareStatement(markSql)
          try {
            mark.setString(1, batchId); mark.setInt(2, pid)
            mark.setLong(3, n)
            mark.executeUpdate()
          } finally mark.close()
          // rows + ledger row commit or roll back TOGETHER
          conn.commit()
        } else {
          // the existence SELECT opened a txn; release it before close
          conn.rollback()
        }
      } catch {
        case e: Throwable =>
          try conn.rollback()
          catch { case _: Throwable => () }
          throw e
      } finally conn.close()
    }
  }
}
