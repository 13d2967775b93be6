package graft.run

import org.apache.spark.sql.functions._

import graft.core.Sessions
import graft.operators.Upsert

/** Entry point 2 (O3, SURVEY §3.2): historical/backfill range sync.
  *
  * Usage:
  *   sbt "runMain graft.run.RangeSync --start-date 1996-03-01 \
  *        --end-date 1996-03-07 [--sf-dir ...] [--target-url jdbc:...] \
  *        [--entity transactions --source-url jdbc:...]"
  *
  * Where the reference fans out one Airflow task per date (Dynamic Task
  * Mapping, `_historical` pyc), this is ONE scan + ONE upsert over the
  * whole range — Spark's task parallelism replaces the per-date task
  * fan-out and beats it (one pass instead of N) — with the per-date
  * validation recovered by one grouped count on each side (SURVEY
  * §3.2): a `groupBy(to_date(ts)).count()` over the cached extract,
  * which the upsert then reads, and one grouped COUNT pushed to the
  * target over a driver-side connection
  * ([[graft.io.JdbcSources.countByDate]]).
  *
  * `--entity transactions` backfills the wide 57-column entity instead
  * (the `_historical` pyc's actual workload): same single-scan range
  * extract on `CreatedDateUtc`, lowercase-align, composite-key LWW
  * upsert, per-date count reconciliation. DB-to-DB only — requires
  * `--source-url`.
  */
object RangeSync {

  def main(args: Array[String]): Unit = {
    val opts = Args.parse(args)
    val start = opts.required("start-date")
    val end = opts.required("end-date")
    val dates = Args.dateRange(start, end) // validates start <= end
    val spark = Sessions.local("graft-range-sync")
    opts.get("entity").getOrElse("orders") match {
      case "orders" => ordersRange(spark, opts, start, end, dates)
      case "transactions" => entityRange(
        spark, graft.core.Entities.transactions, opts, start, end, dates)
      case other => sys.error(s"unknown --entity $other " +
        "(orders | transactions)")
    }
    spark.stop()
  }

  /** Entity-generic range backfill: one pushed range scan, one LWW
    * upsert, per-date validation from one grouped count on each side. */
  private def entityRange(
      spark: org.apache.spark.sql.SparkSession,
      e: graft.core.Entity,
      opts: Args,
      start: String,
      end: String,
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

    val slice =
      Pipeline.extractEntityForRange(spark, cfg, e, start, end).cache()
    // the wrap sits on the ACTION (collect) — the extract plan itself
    // is lazy and only fails here
    val extracted = Alerts.onFailure(hook, e.name, s"$start..$end",
      "range-extract") {
      slice
        .groupBy(to_date(col(e.incrementalColumn)).as("d"))
        .agg(count(lit(1)).as("n"))
        .collect().map(r => r.getDate(0).toString -> r.getLong(1)).toMap
    }

    Alerts.onFailure(hook, e.name, s"$start..$end", "range-load") {
      Pipeline.loadEntityBatch(cfg, e, slice)
    }
    slice.unpersist()

    val loaded = Alerts.onFailure(hook, e.name, s"$start..$end",
      "range-validate") {
      Pipeline.countLoadedByDate(cfg, e.targetIncrementalColumn, start, end)
    }

    var allOk = true
    for (d <- dates) {
      val (x, l) = (extracted.getOrElse(d, 0L), loaded.getOrElse(d, 0L))
      val ok = Pipeline.reconcile(s"${e.name} range $d", x, l)
      if (!ok) Alerts.onMismatch(hook, e.name, d, x, l)
      allOk &= ok
    }
    println(s"[range-sync] done: ${dates.size} day(s), " +
      (if (allOk) "all counts reconciled" else "MISMATCHES logged above"))
  }

  private[run] def ordersRange(
      spark: org.apache.spark.sql.SparkSession,
      opts: Args,
      start: String,
      end: String,
      dates: Seq[String]): Unit = {
    val cfg = opts.config
    val hook = Alerts.fromEnv(opts.alertEnv)

    Alerts.onFailure(hook, "orders", dates.head, "ensure-tables") {
      Pipeline.ensureTargetTables(cfg)
    }
    val slice = Pipeline
      .extractForRange(spark, cfg, opts.sfDir, start, end)
      .cache()

    // per-date extracted counts, one aggregation (A2); the alert wrap
    // sits on the ACTION — the extract plan is lazy and fails here
    val extracted = Alerts.onFailure(hook, "orders", s"$start..$end",
      "range-extract") {
      slice
        .groupBy(to_date(col("order_created_at")).as("d"))
        .agg(count(lit(1)).as("n"))
        .collect().map(r => r.getDate(0).toString -> r.getLong(1)).toMap
    }

    Alerts.onFailure(hook, "orders", s"$start..$end", "range-load") {
      Pipeline.upsertBatch(cfg, slice, Upsert.Unconditional)
    }
    slice.unpersist()

    // per-date loaded counts from the target, one pushed COUNT (S11/A1)
    val loaded = Alerts.onFailure(hook, "orders", s"$start..$end",
      "range-validate") {
      Pipeline.countLoadedByDate(cfg, "order_created_at", start, end)
    }

    var allOk = true
    for (d <- dates) {
      val (x, l) = (extracted.getOrElse(d, 0L), loaded.getOrElse(d, 0L))
      val ok = Pipeline.reconcile(s"range $d", x, l)
      if (!ok) Alerts.onMismatch(hook, "orders", d, x, l)
      allOk &= ok
    }
    println(s"[range-sync] done: ${dates.size} day(s), " +
      (if (allOk) "all counts reconciled" else "MISMATCHES logged above"))
  }
}
