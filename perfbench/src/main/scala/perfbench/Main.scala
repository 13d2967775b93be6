package perfbench

import java.io.{ByteArrayOutputStream, PrintStream}
import java.nio.file.{Files, Paths}
import java.sql.{DriverManager, SQLException, Types}
import java.time.LocalDate

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.SparkEntry
import graft.core.Sessions
import graft.io.{JdbcSources, JdbcWrite, MergeSink, RefreshSink, SqlDialect}
import graft.operators.Upsert
import graft.run.{Config, CsvSeed, DailySync, Pipeline, RangeSync}

/** JVM side of the benchmark: one workload per process, one client in a
  * closed loop (each operation starts when the previous one returned).
  *
  * Phases, in order:
  *  1. set-up, repeated `--setup-reps` times: build a graft session and
  *     bootstrap a fresh Derby target; then the workload's warm-up (the
  *     catalog's untimed pass; none for sync, which is timed cold);
  *  2. the timed window: operations until `--seconds` have passed (at
  *     least one). With `--trace 1` four operations run and the third is
  *     the traced replica, which calls the layers' public functions in
  *     the entry point's own order inside spans, with Spark listeners
  *     attached;
  *  3. after the window: target tables are dumped for the output checks.
  *
  * Everything measured is written to `<work>/result.json`; the caller
  * derives the metrics and runs the checks. */
object Main {

  final class Opts(argv: Array[String]) {
    private val kv = argv.sliding(2, 2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    def apply(k: String): String = kv.getOrElse(k, sys.error(s"missing --$k"))
    def int(k: String): Int = apply(k).toInt
    def list(k: String): Seq[String] = apply(k).split(',').filter(_.nonEmpty).toSeq
  }

  /** One timed call (an entry point, or one query). */
  final case class Call(name: String, wallS: Double, cpuS: Double,
      rows: Long, mismatches: Int, error: Option[String]) {
    def toJson: Map[String, Any] = Map("name" -> name, "wall_s" -> wallS,
      "cpu_s" -> cpuS, "rows" -> rows, "mismatches" -> mismatches,
      "error" -> error)
  }

  def secondsOf[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  private val os = java.lang.management.ManagementFactory
    .getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  /** CPU seconds this process spent (all threads: driver, tasks, JIT,
    * GC) while `body` ran. */
  def cpuSecondsOf[T](body: => T): (T, Double) = {
    val c0 = os.getProcessCpuTime
    val r = body
    (r, (os.getProcessCpuTime - c0) / 1e9)
  }

  def message(e: Throwable): String =
    s"${e.getClass.getName}: ${Option(e.getMessage).getOrElse("")}".take(500)

  private val Validate =
    """\[validate\] (.*): extracted=(\d+) loaded=(\d+) (OK|MISMATCH)""".r
  private val SeedTotal = """\[csv-seed\] batch=(\d+) targetTotal=(\d+)""".r

  /** Run `body` with Scala's stdout captured (and echoed to the log),
    * then read the entry point's own reconcile lines: rows landed are the
    * `loaded` counts, or the seed's batch size. */
  def call(name: String)(body: => Unit): Call = {
    val buf = new ByteArrayOutputStream
    val ps = new PrintStream(buf, true, "UTF-8")
    val ((err, wall), cpu) = cpuSecondsOf(secondsOf {
      try { Console.withOut(ps)(body); None }
      catch { case e: Throwable => Some(message(e)) }
    })
    val lines = buf.toString("UTF-8").linesIterator.toSeq
    lines.foreach(println)
    val checks = lines.collect { case Validate(l, _, y, v) => (l, y.toLong, v) }
    val seeded = lines.collect { case SeedTotal(b, _) => b.toLong }
    val rows =
      if (seeded.nonEmpty) seeded.sum
      else checks.filterNot(_._1.startsWith("csv-seed")).map(_._2).sum
    Call(name, wall, cpu, rows, checks.count(_._3 == "MISMATCH"), err)
  }

  def dropDb(url: String): Unit =
    try DriverManager.getConnection(s"$url;drop=true").close()
    catch { case _: SQLException => () } // Derby reports a drop as 08006

  /** Dump one Derby table as typed, canonical text for the reference
    * compare: a header of `name:TYPE` and one tab-separated line per
    * row, in the table's own order. */
  def dump(url: String, table: String, path: String): Map[String, Any] = {
    val c = DriverManager.getConnection(url)
    try {
      val rs = c.createStatement().executeQuery(
        s"SELECT * FROM ${SqlDialect.Derby.table("APP", table)}")
      val md = rs.getMetaData
      val n = md.getColumnCount
      val cols = (1 to n).map { i =>
        val t = md.getColumnTypeName(i)
        val typ = if (md.getColumnType(i) == Types.DECIMAL)
          s"$t(${md.getPrecision(i)},${md.getScale(i)})" else t
        s"${md.getColumnName(i)}:$typ"
      }
      val fmt = java.time.format.DateTimeFormatter
        .ofPattern("yyyy-MM-dd HH:mm:ss")
      val out = new java.io.PrintWriter(path, "UTF-8")
      var rows = 0L
      try {
        out.println(cols.mkString("\t"))
        while (rs.next()) {
          rows += 1
          out.println((1 to n).map { i =>
            val v: String = md.getColumnType(i) match {
              case Types.TIMESTAMP => Option(rs.getTimestamp(i)).map { t =>
                val l = t.toLocalDateTime
                val us = l.getNano / 1000
                l.format(fmt) + (if (us != 0) f".$us%06d" else "")
              }.orNull
              case Types.DECIMAL | Types.NUMERIC =>
                Option(rs.getBigDecimal(i)).map(_.toPlainString).orNull
              case Types.BOOLEAN =>
                val b = rs.getBoolean(i); if (rs.wasNull) null else b.toString
              case Types.BIGINT | Types.INTEGER | Types.SMALLINT =>
                val x = rs.getLong(i); if (rs.wasNull) null else x.toString
              case _ => Option(rs.getString(i)).map(
                _.replace("\\", "\\\\").replace("\t", "\\t")
                  .replace("\n", "\\n")).orNull
            }
            if (v == null) "\\N" else v
          }.mkString("\t"))
        }
      } finally out.close()
      Map("table" -> table, "path" -> path, "rows" -> rows)
    } finally c.close()
  }

  def dateRange(from: LocalDate, to: LocalDate): Seq[String] =
    Iterator.iterate(from)(_.plusDays(1)).takeWhile(!_.isAfter(to))
      .map(_.toString).toSeq

  /** A workload: set-up, warm-up, operations, and what is left to check. */
  trait Workload {
    /** One set-up repetition; the last one (`keep`) leaves its state for
      * the timed window. */
    def setup(rep: Int, keep: Boolean): Unit
    def warmUp(): Seq[Call]
    def op(k: Int, traced: Boolean): Seq[Call]
    def finish(): Map[String, Any]
  }

  def targetCfg(url: String): Config =
    Config.fromEnv(sys.env ++ Map("GRAFT_TARGET_URL" -> url))

  /** Traced replica scaffolding: a session with the listeners attached,
    * stopped (after draining the listener bus) when the body returns. */
  def tracedSession[T](app: String)(body: SparkSession => T): T = {
    val spark = Tracer.span("run.session") {
      val s = Sessions.local(app); Tracer.attach(s); s
    }
    try body(spark)
    finally Tracer.span("run.session") { Tracer.detach(spark); spark.stop() }
  }

  // ---------------------------------------------------------------------
  // sync: the three sync entry points, in deployment order, per operation:
  //  1. CsvSeed — the FakeOrders CSV staged and MERGEd into a fresh
  //     Derby DB;
  //  2. DailySync — a catch-up over the next few days into the run's one
  //     target DB (a daily job that keeps falling behind): extract, NULL
  //     routing, upsert, side-table refresh, count reconcile per day;
  //  3. RangeSync — a backfill window as one scan + one MERGE into a
  //     fresh Derby DB.
  // ---------------------------------------------------------------------
  final class Sync(o: Opts, run: String) extends Workload {
    private val sfDir = o("sf-dir")
    private val csv = o("csv")
    private val start = LocalDate.parse(o("start"))
    private val n = o.int("days-per-op")
    private val (rangeStart, rangeEnd) = (o("range-start"), o("range-end"))
    private val url = db("daily")
    private val targets = ArrayBuffer.empty[(String, String, String)]
    private var dailyOps = 0

    private def db(name: String) = s"jdbc:derby:memory:${run}_$name;create=true"
    private def base(u: String) = u.stripSuffix(";create=true")

    def setup(rep: Int, keep: Boolean): Unit = {
      val (a, b) = (db(s"setup${rep}a"), if (keep) url else db(s"setup${rep}b"))
      val spark = Sessions.local("perfbench-setup")
      val se = CsvSeed.entities("orders")
      val cfg = targetCfg(a)
      for (t <- Seq(cfg.targetTable, cfg.stagingTable))
        JdbcWrite.ensureTable(cfg.targetJdbc, cfg.targetDialect,
          cfg.targetSchemaName, t, se.schema)
      Pipeline.ensureTargetTables(targetCfg(b))
      spark.stop()
      dropDb(base(a))
      if (!keep) dropDb(base(b))
    }

    private def daysOf(k: Int): (String, String) = {
      val first = start.plusDays(k.toLong * n)
      (first.toString, first.plusDays(n - 1L).toString)
    }

    /** Sync is timed cold, the way a daily job runs: no warm-up call. */
    def warmUp(): Seq[Call] = Seq.empty

    private def seedCall(u: String): Call = call("CsvSeed") {
      CsvSeed.main(Array("--csv", csv, "--target-url", u))
    }

    private def dailyCall(from: String, to: String, u: String): Call =
      call("DailySync") {
        DailySync.main(Array("--run-date", to, "--catchup-from", from,
          "--sf-dir", sfDir, "--target-url", u))
      }

    private def rangeCall(u: String): Call = call("RangeSync") {
      RangeSync.main(Array("--start-date", rangeStart, "--end-date", rangeEnd,
        "--sf-dir", sfDir, "--target-url", u))
    }

    def op(k: Int, traced: Boolean): Seq[Call] = {
      val (a, b) = (db(s"seed$k"), db(s"range$k"))
      targets += ((base(a), "seed", s"seed$k"))
      targets += ((base(b), "range", s"range$k"))
      dailyOps = k + 1
      val (from, to) = daysOf(k)
      if (!traced) Seq(seedCall(a), dailyCall(from, to, url), rangeCall(b))
      else Seq(
        call("CsvSeed") { Tracer.span("op.csv_seed") { tracedSeed(a) } },
        call("DailySync") { Tracer.span("op.daily_sync") {
          tracedDaily(dateRange(LocalDate.parse(from), LocalDate.parse(to)))
        }},
        call("RangeSync") { Tracer.span("op.range_sync") { tracedRange(b) } })
    }

    /** CsvSeed.main + CsvSeed.seed for the orders entity, step by step. */
    private def tracedSeed(u: String): Unit = {
      val se = CsvSeed.entities("orders")
      val cfg = targetCfg(u)
      tracedSession("graft-csv-seed") { spark =>
        val keys = CsvSeed.resolveKeys(se, cfg.uniqueKeyColumns)
        val (batch, _, _) = Tracer.span("core.csv_transform") {
          CsvSeed.readAndTransform(spark, csv, keys, None, se.schema,
            se.dateCol)
        }
        val d = cfg.targetDialect
        val jdbc = cfg.targetJdbc.copy(batchSize = cfg.stagingLoadChunkSize)
        val target = d.table(cfg.targetSchemaName, cfg.targetTable)
        val staging = d.table(cfg.targetSchemaName, cfg.stagingTable)
        Tracer.span("run.ensure_tables") {
          for (t <- Seq(cfg.targetTable, cfg.stagingTable))
            JdbcWrite.ensureTable(jdbc, d, cfg.targetSchemaName, t, se.schema)
        }
        Tracer.span("io.merge") {
          MergeSink.write(batch, jdbc, d, target, staging, keys, se.mode,
            withByTarget = d == SqlDialect.SqlServer)
        }
        val loaded = Tracer.span("io.count_back") {
          JdbcSources.countWhere(jdbc, target, "1=1")
        }
        val staged = Tracer.span("run.extract") { batch.count() }
        Tracer.lastNamed("io.merge").foreach(_.attrs("rows") = staged)
        Pipeline.reconcile("csv-seed (target total ≥ batch)", staged,
          math.min(staged, loaded))
        println(s"[csv-seed] batch=$staged targetTotal=$loaded")
      }
    }

    /** DailySync's orders path, step by step (DailySync.ordersSync). */
    private def tracedDaily(dates: Seq[String]): Unit = {
      val cfg = targetCfg(url)
      tracedSession("graft-daily-sync") { spark =>
        Tracer.span("run.ensure_tables") { Pipeline.ensureTargetTables(cfg) }
        val side = cfg.targetDialect.table(cfg.targetSchemaName,
          cfg.targetIncompleteTable)
        for (date <- dates) Tracer.span("run.day") {
          val (complete, incomplete) = Tracer.span("run.extract") {
            Pipeline.extractForDay(spark, cfg, sfDir, date)
          }
          val extracted = Tracer.span("run.extract") { complete.count() }
          Tracer.span("io.merge", "rows" -> extracted.toDouble) {
            Pipeline.upsertBatch(cfg, complete, Upsert.Unconditional)
          }
          val loaded = Tracer.span("io.count_back") {
            Pipeline.countLoadedForDay(cfg, date)
          }
          val extractedNull = Tracer.span("run.extract") { incomplete.count() }
          Tracer.span("io.refresh", "rows" -> extractedNull.toDouble) {
            RefreshSink.write(incomplete, cfg.targetJdbc, cfg.targetDialect,
              side)
          }
          val loadedNull = Tracer.span("io.count_back") {
            JdbcSources.countWhere(cfg.targetJdbc, side, "1=1")
          }
          Pipeline.reconcile(s"complete $date", extracted, loaded)
          Pipeline.reconcile("incomplete (full refresh)", extractedNull,
            loadedNull)
        }
      }
    }

    /** RangeSync's orders path, step by step (RangeSync.ordersRange). */
    private def tracedRange(u: String): Unit = {
      val cfg = targetCfg(u)
      tracedSession("graft-range-sync") { spark =>
        Tracer.span("run.ensure_tables") { Pipeline.ensureTargetTables(cfg) }
        val perDay = (df: org.apache.spark.sql.DataFrame) =>
          df.groupBy(to_date(col("order_created_at")).as("d"))
            .agg(count(lit(1)).as("n"))
            .collect().map(r => r.getDate(0).toString -> r.getLong(1)).toMap
        val slice = Tracer.span("run.extract") {
          Pipeline.extractForRange(spark, cfg, sfDir, rangeStart, rangeEnd)
            .cache()
        }
        val extracted = Tracer.span("run.extract") { perDay(slice) }
        Tracer.span("io.merge", "rows" -> extracted.values.sum.toDouble) {
          Pipeline.upsertBatch(cfg, slice, Upsert.Unconditional)
        }
        slice.unpersist()
        val loaded = Tracer.span("io.count_back") {
          perDay(Pipeline.readTarget(spark, cfg, cfg.targetTable).filter(
            col("order_created_at") >= lit(rangeStart).cast("timestamp") &&
              col("order_created_at") <
                date_add(lit(rangeEnd).cast("date"), 1).cast("timestamp")))
        }
        for (d <- dateRange(LocalDate.parse(rangeStart),
            LocalDate.parse(rangeEnd)))
          Pipeline.reconcile(s"range $d", extracted.getOrElse(d, 0L),
            loaded.getOrElse(d, 0L))
      }
    }

    def finish(): Map[String, Any] = {
      val work = o("work")
      val daily = Seq("orders", "incomplete_orders").map(t =>
        dump(base(url), t, s"$work/dump_daily_$t.tsv") ++ Map("kind" -> t))
      dropDb(base(url))
      val others = targets.map { case (u, kind, tag) =>
        val d = dump(u, "orders", s"$work/dump_$tag.tsv") ++ Map("kind" -> kind)
        dropDb(u)
        d
      }
      Map("dumps" -> (daily ++ others), "daily_from" -> start.toString,
        "daily_to" -> daysOf(dailyOps - 1)._2)
    }
  }
  // ---------------------------------------------------------------------
  // catalog: a pinned slice of SparkEntry.queries, each built and written
  // once per pass; every pass reads its own copy of the input tables, so
  // the per-(session, dir) memos start cold in each pass.
  // ---------------------------------------------------------------------
  final class Catalog(o: Opts) extends Workload {
    private val names = o.list("queries")
    private val dirs = o.list("dirs")
    private var spark: SparkSession = _

    def setup(rep: Int, keep: Boolean): Unit = {
      spark = Sessions.local("perfbench-catalog")
      if (!keep) spark.stop()
    }

    /** One pass over the slice; traced passes wrap each query in a span
      * with the builder call and the write as children. */
    private def pass(tag: String, dir: String, traced: Boolean): Seq[Call] =
      names.map { q =>
        def step[T](name: String)(body: => T): T =
          if (traced) Tracer.span(name)(body) else body
        val out = s"${o("work")}/out/$tag/$q"
        val ((err, wall), cpu) = cpuSecondsOf(secondsOf(step(s"query.$q") {
          try {
            val df = step("catalog.build") { SparkEntry.queries(q)(spark, dir) }
            step("catalog.execute") { df.write.mode("overwrite").parquet(out) }
            None
          } catch { case e: Throwable => Some(message(e)) }
        }))
        Call(q, wall, cpu, 0L, 0, err)
      }

    /** One untimed pass over the slice on its own copy of the inputs:
      * it fills the JIT and codegen caches, but not the memos, which are
      * keyed on (session, dir). */
    def warmUp(): Seq[Call] = pass("warm", dirs.head, traced = false)

    def op(k: Int, traced: Boolean): Seq[Call] = {
      val dir = dirs(1 + k % (dirs.size - 1))
      if (!traced) pass(s"p$k", dir, traced = false)
      else {
        Tracer.attach(spark)
        try Tracer.span("op.catalog_pass") { pass(s"p$k", dir, traced = true) }
        finally Tracer.detach(spark)
      }
    }

    def finish(): Map[String, Any] = {
      val oracles = names.flatMap(q => SparkEntry.oracleSql.get(q).map(q -> _))
      Files.writeString(Paths.get(s"${o("work")}/oracle_sql.json"),
        Json.write(oracles.toMap))
      spark.stop()
      Map("dirs" -> dirs)
    }
  }

  def main(argv: Array[String]): Unit = {
    val o = new Opts(argv)
    val traced = o("trace") == "1"
    val run = o("run-id")
    val w: Workload = o("workload") match {
      case "sync" => new Sync(o, run)
      case "catalog" => new Catalog(o)
      case other => sys.error(s"unknown workload $other")
    }
    val result = mutable.LinkedHashMap[String, Any]()
    val reps = o.int("setup-reps")
    val setups = (1 to reps).map(i =>
      cpuSecondsOf(secondsOf(w.setup(i, i == reps))))
    result("setup_reps_s") = setups.map(_._1._2)
    result("setup_reps_cpu_s") = setups.map(_._2)
    val ((warm, warmS), warmCpu) = cpuSecondsOf(secondsOf(w.warmUp()))
    result("warmup_s") = warmS
    result("warmup_cpu_s") = warmCpu
    result("warmup_calls") = warm.map(_.toJson)

    val ops = ArrayBuffer.empty[Map[String, Any]]
    val h0 = Host.jiffies()
    val t0 = System.nanoTime()
    val deadline = t0 + (o("seconds").toDouble * 1e9).toLong
    // a traced run makes four operations and traces the third: the two
    // untraced ones around it give the overhead, and JIT warm-up drifts
    // the same way on both sides of it
    val minOps = if (traced) 4 else 1
    var k = 0
    while (k < minOps || (!traced && System.nanoTime() < deadline)) {
      val tracedOp = traced && k == 2
      val gc0 = Tracer.gcSeconds()
      val ((calls, wall), cpu) = cpuSecondsOf(secondsOf(w.op(k, tracedOp)))
      if (tracedOp) Tracer.add("jvm.gc_s", Tracer.gcSeconds() - gc0)
      ops += Map("index" -> k, "traced" -> tracedOp, "wall_s" -> wall,
        "cpu_s" -> cpu, "calls" -> calls.map(_.toJson))
      k += 1
    }
    val windowS = (System.nanoTime() - t0) / 1e9
    val (busy, steal) = Host.shares(h0, Host.jiffies())
    result("ops") = ops.toSeq
    result("window_s") = windowS
    // what the process still holds once the window is over: sessions,
    // memos, caches and the Derby targets, after a full collection
    System.gc()
    result("live_heap_mb") = java.lang.management.ManagementFactory
      .getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    result("host") = Map("busy_ratio" -> busy, "steal_ratio" -> steal,
      "nproc" -> Runtime.getRuntime.availableProcessors,
      "task_threads" -> sys.env.getOrElse("SPARK_GRAFT_CPUS", ""),
      "heap_max_mb" -> Runtime.getRuntime.maxMemory / 1048576.0)
    result ++= w.finish()
    result("peak_rss_mb") = Host.peakRssMb()
    if (traced) result("trace") = Tracer.toJson(run)
    Files.writeString(Paths.get(s"${o("work")}/result.json"),
      Json.write(result))
  }
}
