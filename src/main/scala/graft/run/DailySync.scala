package graft.run

import org.apache.spark.sql.functions._

import graft.core.Sessions
import graft.operators.Upsert

/** Entry point 1 (O1/O2, SURVEY §3.1): run the orders sync for one
  * logical day or a catch-up — extract the day slice, route
  * complete/incomplete on the NULL incremental timestamp, upsert the
  * complete branch, fully refresh the incomplete side table, and
  * reconcile counts.
  *
  * Usage:
  *   sbt "runMain graft.run.DailySync --run-date 1996-03-15 \
  *        [--sf-dir /root/testdata/sf0.001] [--target-url jdbc:...] \
  *        [--catchup-from 1996-03-13] [--entity transactions \
  *        --source-url jdbc:...]"
  *
  * `--entity transactions` runs the generic entity sync for the wide
  * 57-column entity instead (composite-key LWW — the
  * mssql_to_postgres_sync pyc DAG); it requires a JDBC `--source-url`.
  *
  * `--catchup-from` replays each day from that date up to --run-date in
  * order — the reference's `catchup=True` + `depends_on_past` driver
  * loop (orders_daily.py:129-135). Idempotent upsert makes replays
  * safe (O5).
  *
  * Each day is one Spark pass, its complete-branch upsert (one per day
  * for an entity too). The incomplete side table is refreshed once per
  * invocation, after the last day and labelled with --run-date: its
  * `IS NULL` extract does not depend on the logical date, so a catch-up
  * would only overwrite the earlier days' refreshes. A failing day
  * aborts the invocation before the refresh; the resumed run refreshes.
  * The reference's extract ≫ load ≫ validate task DAG with CSV/XCom
  * handoffs collapses into lazy DataFrame branches (SURVEY §2.1 S5 —
  * the handoff layer is unnecessary in Spark's lazy DAG). Each
  * branch's `extracted` count comes from the write that lands it, so no
  * branch is scanned twice; `loaded` is a pushed COUNT on the target
  * over a driver-side connection, not a Spark job.
  */
object DailySync {

  def main(args: Array[String]): Unit = {
    val opts = Args.parse(args)
    val runDate = opts.required("run-date")
    val sfDir = opts.sfDir
    val spark = Sessions.local("graft-daily-sync")
    val dates = opts.get("catchup-from") match {
      case Some(from) => Args.dateRange(from, runDate)
      case None       => Seq(runDate)
    }
    opts.get("entity").getOrElse("orders") match {
      case "orders"       => ordersSync(spark, opts, sfDir, dates)
      case "transactions" => entitySync(
        spark, graft.core.Entities.transactions, opts, dates)
      case other => sys.error(s"unknown --entity $other " +
        "(orders | transactions)")
    }
    Sessions.stop(spark)
  }

  /** The generic entity sync (`--entity transactions`): the
    * mssql_to_postgres_sync / mssql_to_postgresql_daily pyc DAGs —
    * extract the day slice on the entity's incremental column from a
    * JDBC source, lowercase-align, LWW-upsert on the composite key,
    * count-back validate. DB-to-DB only: there is no parquet stand-in
    * for the wide entity, so `--source-url` is required. */
  private def entitySync(
      spark: org.apache.spark.sql.SparkSession,
      e: graft.core.Entity,
      opts: Args,
      dates: Seq[String]): Unit = {
    val base = opts.config
    require(base.sourceUrlOverride.nonEmpty,
      s"--entity ${e.name} syncs DB-to-DB: pass --source-url " +
        "(or GRAFT_SOURCE_URL)")
    val cfg = Pipeline.entityConfig(base, e)
    val hook = Alerts.fromEnv(opts.alertEnv)
    Alerts.onFailure(hook, e.name, dates.head, "ensure-tables") {
      Pipeline.ensureEntityTables(cfg, e)
    }
    var allOk = true
    for (date <- dates) {
      println(s"[daily-sync] === ${e.name} logical date $date ===")
      Alerts.onFailure(hook, e.name, date, "daily-sync") {
        val slice = Pipeline.extractEntityForDay(spark, cfg, e, date)
        val extracted = Pipeline.loadEntityBatch(cfg, e, slice)
        val loaded = Pipeline.countEntityLoadedForDay(cfg, e, date)
        val ok = Pipeline.reconcile(s"${e.name} $date", extracted, loaded)
        if (!ok) Alerts.onMismatch(hook, e.name, date, extracted, loaded)
        allOk &= ok
      }
    }
    println(s"[daily-sync] done: ${dates.size} day(s), " +
      (if (allOk) "all counts reconciled" else "MISMATCHES logged above"))
  }

  private[run] def ordersSync(
      spark: org.apache.spark.sql.SparkSession,
      opts: Args,
      sfDir: String,
      dates: Seq[String]): Unit = {
    val cfg = opts.config
    val hook = Alerts.fromEnv(opts.alertEnv)
    Alerts.onFailure(hook, "orders", dates.head, "ensure-tables") {
      Pipeline.ensureTargetTables(cfg)
    }
    var allOk = true
    for (date <- dates) {
      println(s"[daily-sync] === logical date $date ===")
      Alerts.onFailure(hook, "orders", date, "daily-sync") {
        // Flow 1: complete orders for the day → upsert (S1+F1+F2, S6)
        val (complete, _) = Pipeline.extractForDay(spark, cfg, sfDir, date)
        val extracted =
          Pipeline.upsertBatch(cfg, complete, Upsert.Unconditional)
        val loaded = Pipeline.countLoadedForDay(cfg, date)
        // Validation is log-only, like the reference (:580-584) — but
        // an armed alert hook hears about a mismatch
        val ok = Pipeline.reconcile(s"complete $date", extracted, loaded)
        if (!ok) Alerts.onMismatch(hook, "orders", date, extracted, loaded)
        allOk &= ok
      }
    }

    // Flow 2: incomplete orders (full-table IS NULL scan) → full refresh
    // of the side table (S2+F2, S8), once: the extract does not depend
    // on the logical date, so a per-day refresh would only be
    // overwritten by the next day's
    val runDate = dates.last
    Alerts.onFailure(hook, "orders", runDate, "daily-sync") {
      val (_, incomplete) = Pipeline.extractForDay(spark, cfg, sfDir, runDate)
      val side = cfg.targetDialect.table(cfg.targetSchemaName,
        cfg.targetIncompleteTable)
      val extracted = graft.io.RefreshSink.write(incomplete,
        cfg.targetJdbc, cfg.targetDialect, side)
      val loaded =
        graft.io.JdbcSources.countWhere(cfg.targetJdbc, side, "1=1")
      val ok = Pipeline.reconcile("incomplete (full refresh)", extracted,
        loaded)
      if (!ok) Alerts.onMismatch(hook, "incomplete_orders", runDate,
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
