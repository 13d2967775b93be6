package graft.run

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.{Entities, Entity, Sessions}
import graft.io.Tally

/** Entry point 2 (O3, SURVEY §3.2): historical/backfill range sync of
  * one entity.
  *
  * Usage:
  *   sbt "runMain graft.run.RangeSync --start-date 1996-03-01 \
  *        --end-date 1996-03-07 [--sf-dir ...] [--target-url jdbc:...] \
  *        [--entity orders|transactions] [--source-url jdbc:...]"
  *
  * Where the reference fans out one Airflow task per date (Dynamic Task
  * Mapping, `_historical` pyc), this is ONE scan + ONE upsert over the
  * whole range — Spark's task parallelism replaces the per-date task
  * fan-out and beats it (one pass instead of N) — with the per-date
  * validation recovered on each side (SURVEY §3.2): the extract's rows
  * are counted per date as they stream into the sink, inside that one
  * write ([[writeCountingByDate]]), and the target's by one grouped
  * COUNT pushed over a driver-side connection
  * ([[graft.io.JdbcSources.countByDate]]). The backfill runs one Spark
  * job, with no shuffle and no cache. [[window]] is that body, and a
  * [[DailySync]] catch-up runs it too.
  *
  * Every entity runs the same stages as [[DailySync]], with the same
  * `--entity` and source rules; `--entity transactions` is the
  * `_historical` pyc's own workload (range scan on `CreatedDateUtc`,
  * composite-key LWW upsert). A backfill reads no NULL-timestamp rows.
  */
object RangeSync {

  def main(args: Array[String]): Unit = {
    val opts = Args.parse(args)
    val start = opts.required("start-date")
    val end = opts.required("end-date")
    Args.dateRange(start, end) // fails on start > end before a session
    val e = Entities.named(opts.get("entity").getOrElse("orders"))
    Sessions.withLocal("graft-range-sync")(range(_, e, opts, start, end))
  }

  /** Backfill [start, end]. An entity that routes NULLs labels its lines
    * `range <date>`; any other entity leads them with its name. */
  private[run] def range(
      spark: SparkSession,
      e: Entity,
      opts: Args,
      start: String,
      end: String): Unit = {
    val ok = window(spark, e, opts, start, end,
      if (e.routesNulls) "range" else s"${e.name} range")
    println(s"[range-sync] done: $start..$end, " + verdict(ok))
  }

  /** The one sync body of both entry points: upsert the entity's rows
    * dated [start, end] (inclusive dates) and reconcile them per date.
    * One pushed range extract, one write that counts its rows per date
    * (A2), one grouped count-back on the target (S11/A1), then one
    * `[validate] <label> <date>` line per date, with a mismatch alert
    * for each date that does not reconcile. The write fails or lands as
    * a whole window (see [[DailySync]] for what that means per sink).
    * Returns whether every date reconciled. */
  private[run] def window(
      spark: SparkSession,
      e: Entity,
      opts: Args,
      start: String,
      end: String,
      label: String): Boolean = {
    val dates = Args.dateRange(start, end)
    val cfg = Pipeline.entityConfig(opts.config, e.name)
    val hook = Alerts.fromEnv(opts.alertEnv)
    val runDate = if (start == end) start else s"$start..$end"
    Alerts.onFailure(hook, e.name, runDate, "ensure-tables") {
      Pipeline.ensureTargetTables(cfg, e)
    }
    val extracted = Alerts.onFailure(hook, e.name, runDate, "load") {
      val slice =
        Pipeline.extractForRange(spark, cfg, opts.sfDir, start, end, e)
      writeCountingByDate(slice, e.targetIncrementalColumn)(
        Pipeline.upsertBatch(cfg, _, e.mode))
    }
    val loaded = Alerts.onFailure(hook, e.name, runDate, "count-back") {
      Pipeline.countLoadedByDate(cfg, e.targetIncrementalColumn, start, end)
    }
    dates.map { d =>
      val (x, l) = (extracted.getOrElse(d, 0L), loaded.getOrElse(d, 0L))
      // log-only, like the reference (:580-584), but an armed alert
      // hook hears about a mismatch
      val ok = Pipeline.reconcile(s"$label $d", x, l)
      if (!ok) Alerts.onMismatch(hook, e.name, d, x, l)
      ok
    }.forall(identity)
  }

  /** The closing line's verdict. */
  private[run] def verdict(ok: Boolean): String =
    if (ok) "all counts reconciled" else "MISMATCHES logged above"

  /** Run `write` over `slice` and return the rows it handed to the sink
    * per ISO date of `tsCol` (`to_date` in the session time zone),
    * counted by a [[graft.io.Tally]] pass-through in the write's one
    * result stage; like the rows a sink returns
    * ([[graft.io.JdbcWrite.run]]), only successful task attempts are
    * merged. Dates without rows are absent from the map. */
  private[run] def writeCountingByDate(slice: DataFrame, tsCol: String)(
      write: DataFrame => Long): Map[String, Long] = {
    val days = Tally(slice.sparkSession, "rows per date")
    write(Tally.counting(slice, days, to_date(col(tsCol)).cast("string")))
    days.value
  }
}
