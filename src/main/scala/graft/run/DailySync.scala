package graft.run

import org.apache.spark.sql.SparkSession

import graft.core.{Entities, Entity, Sessions}

/** Entry point 1 (O1/O2, SURVEY §3.1): sync one logical day, or a
  * catch-up, of one entity — extract the day slice, upsert it, count
  * back and reconcile; for an entity that routes NULLs (orders), also
  * fully refresh the side table of rows with a NULL incremental
  * timestamp.
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
  * `--catchup-from` replays each day from that date up to --run-date in
  * order — the reference's `catchup=True` + `depends_on_past` driver
  * loop (orders_daily.py:129-135). Idempotent upsert makes replays
  * safe (O5).
  *
  * Each day is one Spark pass, its upsert. The side table is refreshed
  * once per invocation, after the last day and labelled with
  * --run-date: its `IS NULL` extract does not depend on the logical
  * date, so a catch-up would only overwrite the earlier days'
  * refreshes. A failing day aborts the invocation before the refresh;
  * the resumed run refreshes. The reference's extract ≫ load ≫
  * validate task DAG with CSV/XCom handoffs collapses into lazy
  * DataFrame branches (SURVEY §2.1 S5 — the handoff layer is
  * unnecessary in Spark's lazy DAG). Each branch's `extracted` count
  * comes from the write that lands it, so no branch is scanned twice;
  * `loaded` is a pushed COUNT on the target over a driver-side
  * connection, not a Spark job.
  */
object DailySync {

  def main(args: Array[String]): Unit = {
    val opts = Args.parse(args)
    val runDate = opts.required("run-date")
    val e = Entities.named(opts.get("entity").getOrElse("orders"))
    val dates = opts.get("catchup-from") match {
      case Some(from) => Args.dateRange(from, runDate)
      case None       => Seq(runDate)
    }
    Sessions.withLocal("graft-daily-sync")(sync(_, e, opts, dates))
  }

  /** Sync `dates` in order, then refresh the side table once if `e`
    * routes NULLs. An entity that routes NULLs labels its day lines by
    * branch (`complete <date>`, beside `incomplete (full refresh)`); any
    * other entity has one branch and labels them with its name. */
  private[run] def sync(
      spark: SparkSession,
      e: Entity,
      opts: Args,
      dates: Seq[String]): Unit = {
    val cfg = Pipeline.entityConfig(opts.config, e.name)
    val hook = Alerts.fromEnv(opts.alertEnv)
    val branch = if (e.routesNulls) "complete" else e.name
    Alerts.onFailure(hook, e.name, dates.head, "ensure-tables") {
      Pipeline.ensureTargetTables(cfg, e)
    }
    var allOk = true
    for (date <- dates) {
      println(s"[daily-sync] === ${e.name} logical date $date ===")
      Alerts.onFailure(hook, e.name, date, "daily-sync") {
        // the day's rows, a one-day range → upsert (S1/S3+F1+F2, S6/S7)
        val day =
          Pipeline.extractForRange(spark, cfg, opts.sfDir, date, date, e)
        val extracted = Pipeline.upsertBatch(cfg, day, e.mode)
        val loaded = Pipeline.countLoadedForDay(cfg, date, e)
        // Validation is log-only, like the reference (:580-584) — but
        // an armed alert hook hears about a mismatch
        val ok = Pipeline.reconcile(s"$branch $date", extracted, loaded)
        if (!ok) Alerts.onMismatch(hook, e.name, date, extracted, loaded)
        allOk &= ok
      }
    }

    // NULL-timestamp rows (full-table IS NULL scan) → full refresh of
    // the side table (S2+F2, S8), once: the extract does not depend on
    // the logical date, so a per-day refresh would only be overwritten
    // by the next day's
    val runDate = dates.last
    if (e.routesNulls) Alerts.onFailure(hook, e.name, runDate, "daily-sync") {
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
    println(s"[daily-sync] done: ${dates.size} day(s), " +
      (if (allOk) "all counts reconciled" else "MISMATCHES logged above"))
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
