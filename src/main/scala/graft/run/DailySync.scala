package graft.run

import org.apache.spark.sql.SparkSession

import graft.core.{Entities, Entity, Sessions}

/** Entry point 1 (O1/O2, SURVEY §3.1): sync one logical day, or a
  * catch-up, of one entity — extract the window's rows, upsert them,
  * count back and reconcile per day; for an entity that routes NULLs
  * (orders), also fully refresh the side table of rows with a NULL
  * incremental timestamp.
  *
  * Usage:
  *   sbt "runMain graft.run.DailySync --run-date 1996-03-15 \
  *        [--sf-dir /root/testdata/sf0.001] [--target-url jdbc:...] \
  *        [--catchup-from 1996-03-13] [--entity orders|transactions] \
  *        [--source-url jdbc:...]"
  *
  * Every entity runs the same stages ([[Pipeline]]); `--entity` (default
  * orders) only picks the [[graft.core.Entity]]. `--entity transactions`
  * is the mssql_to_postgres_sync / mssql_to_postgresql_daily pyc DAGs:
  * the wide 57-column entity, composite-key last-write-wins. The source
  * is the JDBC `--source-url` (or GRAFT_SOURCE_URL) when given; without
  * one, orders read the parquet stand-in under `--sf-dir` and any other
  * entity fails, as it has no stand-in.
  *
  * `--catchup-from` covers each day from that date up to --run-date —
  * the reference's `catchup=True` + `depends_on_past` replay
  * (orders_daily.py:129-135), one DagRun per logical date. Here the
  * days are one window: [[RangeSync.window]], the backfill's body, runs
  * one extract and one upsert over [catchup-from, run-date] and
  * reconciles each day from the counts the write took per date and one
  * grouped count-back (SURVEY §3.2). A single-day run is a 1-day
  * window. Each day still gets its `[validate] complete <date>` line
  * (`<entity> <date>` for an entity without a side table) and its
  * mismatch alert.
  *
  * Failure and resume. A failure anywhere in the window fails the whole
  * catch-up write: no day of it is reported reconciled, and the side
  * table is not refreshed.
  *  - On the stage+MERGE path (Derby, SQL Server) the window is staged,
  *    then applied by one MERGE statement, so the target gets the whole
  *    window or none of it.
  *  - On PG's row-streamed `ON CONFLICT` path each partition commits on
  *    its own, so a failed window can leave part of it written.
  * A resume re-runs the window; the upsert is idempotent (O5), so the
  * re-run lands the same target as one clean pass. Precondition, as for
  * any range: the source holds one row per conflict key in the window,
  * because the MERGE does not dedup staging rows ([[graft.io.SqlGen]]).
  *
  * The side table is refreshed once per invocation, after the window's
  * write and labelled with --run-date: its `IS NULL` extract does not
  * depend on the logical date. The reference's extract ≫ load ≫
  * validate task DAG with CSV/XCom handoffs collapses into lazy
  * DataFrame branches (SURVEY §2.1 S5 — the handoff layer is
  * unnecessary in Spark's lazy DAG). Each branch's `extracted` count
  * comes from the write that lands it, so no branch is scanned twice;
  * `loaded` is a pushed COUNT on the target over a driver-side
  * connection, not a Spark job. A run is two Spark jobs, the window's
  * upsert and the side refresh, for any number of days.
  */
object DailySync {

  def main(args: Array[String]): Unit = {
    val opts = Args.parse(args)
    val runDate = opts.required("run-date")
    val from = opts.get("catchup-from").getOrElse(runDate)
    Args.dateRange(from, runDate) // fails on from > run-date before a session
    val e = Entities.named(opts.get("entity").getOrElse("orders"))
    Sessions.withLocal("graft-daily-sync")(sync(_, e, opts, from, runDate))
  }

  /** Sync [from, runDate] as one window, then refresh the side table if
    * `e` routes NULLs. An entity that routes NULLs labels its day lines
    * by branch (`complete <date>`, beside `incomplete (full refresh)`);
    * any other entity has one branch and labels them with its name. */
  private[run] def sync(
      spark: SparkSession,
      e: Entity,
      opts: Args,
      from: String,
      runDate: String): Unit = {
    var allOk = RangeSync.window(spark, e, opts, from, runDate,
      if (e.routesNulls) "complete" else e.name)

    // NULL-timestamp rows (full-table IS NULL scan) → full refresh of
    // the side table (S2+F2, S8)
    if (e.routesNulls) {
      val cfg = Pipeline.entityConfig(opts.config, e.name)
      val hook = Alerts.fromEnv(opts.alertEnv)
      Alerts.onFailure(hook, e.name, runDate, "refresh") {
        val (_, nulls) =
          Pipeline.extractForDay(spark, cfg, opts.sfDir, runDate, e)
        val side = cfg.targetDialect.table(cfg.targetSchemaName,
          cfg.targetIncompleteTable)
        val extracted = graft.io.RefreshSink.write(nulls,
          cfg.targetJdbc, cfg.targetDialect, side)
        val loaded =
          graft.io.JdbcSources.countWhere(cfg.targetJdbc, side, "1=1")
        val ok = Pipeline.reconcile("incomplete (full refresh)", extracted,
          loaded)
        if (!ok) Alerts.onMismatch(hook, s"incomplete_${e.name}", runDate,
          extracted, loaded)
        allOk &= ok
      }
    }
    println(s"[daily-sync] done: $from..$runDate, " +
      RangeSync.verdict(allOk))
  }
}

/** Minimal `--key value` CLI parsing shared by the entry points. */
private[run] final case class Args(kv: Map[String, String]) {
  def get(k: String): Option[String] = kv.get(k)
  def required(k: String): String =
    kv.getOrElse(k, sys.error(s"missing required --$k"))
  def sfDir: String = kv.getOrElse("sf-dir",
    sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001"))
  /** Env view for [[Alerts.fromEnv]] with CLI overrides applied. */
  def alertEnv: Map[String, String] = sys.env ++
    kv.get("alert-recipients").map("ALERT_EMAIL_RECIPIENTS" -> _) ++
    kv.get("alert-sink").map("GRAFT_ALERT_SINK" -> _)
  def config: Config = {
    val env = sys.env ++
      kv.get("target-url").map("GRAFT_TARGET_URL" -> _) ++
      kv.get("target-dialect").map("GRAFT_TARGET_DIALECT" -> _) ++
      kv.get("source-url").map("GRAFT_SOURCE_URL" -> _) ++
      kv.get("source-table").map("SOURCE_TABLE_NAME" -> _) ++
      kv.get("target-table").map("TARGET_TABLE_NAME" -> _) ++
      kv.get("staging-table").map("STAGING_TABLE_NAME" -> _)
    Config.fromEnv(env)
  }
}

private[run] object Args {
  def parse(args: Array[String]): Args = {
    val kv = args.sliding(2, 2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    Args(kv)
  }
  def dateRange(start: String, end: String): Seq[String] = {
    val s = java.time.LocalDate.parse(start)
    val e = java.time.LocalDate.parse(end)
    require(!s.isAfter(e), s"start $start after end $end")
    Iterator.iterate(s)(_.plusDays(1)).takeWhile(!_.isAfter(e))
      .map(_.toString).toSeq
  }
}
