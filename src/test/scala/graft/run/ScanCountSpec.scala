package graft.run

import java.nio.file.Files
import java.sql.Date

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.ListenerBusDrain
import org.apache.spark.sql.Row
import org.apache.spark.sql.execution.{FileSourceScanExec,
  RowDataSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.QueryExecutionListener

import graft.SparkSpecBase
import graft.core.Entities
import graft.io.{JdbcConfig, JdbcWrite, RefreshSink, SqlDialect}

/** Guards the sync path's single-pass shape: every Spark action an
  * entry point runs is recorded with the source scans its executed plan
  * holds, so a stray `count()` (an extra action re-reading the source)
  * fails here, and with whether that plan shuffles or reads a cached
  * relation: no sync action may do either. */
class ScanCountSpec extends SparkSpecBase with AdaptiveSparkPlanHelper {

  /** One execution: its action name, its source scans (of which `jdbc`
    * are JDBC scans), and whether its executed plan holds a shuffle or
    * an in-memory (cached) scan. */
  private case class Action(name: String, scans: Int, jdbc: Int,
      shuffleOrCache: Boolean)

  /** Every execution while `body` ran. */
  private def actionsOf(body: => Unit): Seq[Action] = {
    val seen = ArrayBuffer.empty[Action]
    def action(fn: String, p: SparkPlan): Action = Action(fn,
      collectWithSubqueries(p) {
        case _: FileSourceScanExec | _: RowDataSourceScanExec |
            _: BatchScanExec => 1
      }.sum,
      collectWithSubqueries(p) { case _: RowDataSourceScanExec => 1 }.sum,
      collectWithSubqueries(p) {
        case s @ (_: ShuffleExchangeExec | _: InMemoryTableScanExec) => s
      }.nonEmpty)
    val listener = new QueryExecutionListener {
      private def record(fn: String, qe: QueryExecution): Unit =
        seen.synchronized { seen += action(fn, qe.executedPlan) }
      override def onSuccess(fn: String, qe: QueryExecution, ns: Long): Unit =
        record(fn, qe)
      override def onFailure(fn: String, qe: QueryExecution,
          e: Exception): Unit = record(fn, qe)
    }
    ListenerBusDrain(spark.sparkContext)
    spark.listenerManager.register(listener)
    try { body; ListenerBusDrain(spark.sparkContext) }
    finally spark.listenerManager.unregister(listener)
    seen.synchronized(seen.toList)
  }

  private val ordersSchema = StructType(Seq(
    StructField("o_orderkey", LongType),
    StructField("o_custkey", LongType),
    StructField("o_orderstatus", StringType),
    StructField("o_orderdate", DateType),
    StructField("o_totalprice", DoubleType),
    StructField("o_orderpriority", StringType)))

  /** A parquet `orders` table for the sync entry points: two complete
    * orders on each of 1996-03-01/02, and two 'P' (incomplete) orders. */
  private lazy val sfDir: String = {
    val dir = Files.createTempDirectory("graft_scan_guard").toString
    val rows = Seq(
      Row(1L, 10L, "F", Date.valueOf("1996-03-01"), 10.5, "1-URGENT"),
      Row(2L, 20L, "O", Date.valueOf("1996-03-01"), 20.0, "2-HIGH"),
      Row(3L, 30L, "F", Date.valueOf("1996-03-02"), 30.0, "3-MEDIUM"),
      Row(4L, 40L, "O", Date.valueOf("1996-03-02"), 40.0, "4-NOT SPECIFIED"),
      Row(5L, 50L, "P", Date.valueOf("1996-03-01"), 50.0, "5-LOW"),
      Row(6L, 60L, "P", Date.valueOf("1996-03-02"), 60.0, "1-URGENT"))
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 2),
      ordersSchema).write.parquet(s"$dir/orders.parquet")
    dir
  }

  /** Entry-point options: a fresh Derby target, the parquet source
    * (written here, before any action is recorded). */
  private def target(name: String) = Args(Map(
    "target-url" -> s"jdbc:derby:memory:$name;create=true",
    "sf-dir" -> sfDir))

  test("DailySync: one source scan per sink write, no other action") {
    val opts = target("scan_guard_daily")
    val out = new java.io.ByteArrayOutputStream
    val actions = actionsOf {
      Console.withOut(out)(DailySync.sync(spark, Entities.orders, opts,
        "1996-03-01", "1996-03-03"))
    }
    // one upsert for the whole 3-day window, then one side-table refresh
    assert(actions.map(_.name) == Seq.fill(2)("foreachPartition"),
      s"actions: $actions")
    assert(actions.forall(_.scans == 1), s"scans per write: $actions")
    assert(!actions.exists(_.shuffleOrCache), s"shuffle or cache: $actions")
    // and the counts taken from those writes still reconcile
    val log = out.toString("UTF-8")
    for ((d, n) <- Seq("1996-03-01" -> 2, "1996-03-03" -> 0))
      assert(log.contains(
        s"[validate] complete $d: extracted=$n loaded=$n OK"), log)
    assert(log.contains(
      "[validate] incomplete (full refresh): extracted=2 loaded=2 OK"), log)
  }

  test("CsvSeed.seed: one CSV scan, the write carries the audit") {
    val csv = Files.createTempDirectory("graft_scan_guard_csv").toString
    FakeOrders.csvFrame(spark, 200L).coalesce(1).write
      .option("header", "true").mode("overwrite").csv(csv)
    val cfg = target("scan_guard_seed").config
    var result = (0L, 0L)
    val actions = actionsOf {
      Console.withOut(new java.io.ByteArrayOutputStream) {
        result = CsvSeed.seed(spark, cfg, CsvSeed.entities("orders"), csv,
          None)
      }
    }
    assert(actions.map(a => (a.name, a.scans)) ==
      Seq(("foreachPartition", 1)), s"actions: $actions")
    assert(!actions.exists(_.shuffleOrCache), s"shuffle or cache: $actions")
    assert(result == ((200L, 200L)))
  }

  test("RangeSync: one source scan for the one write, count-back pushed " +
    "to the target") {
    val opts = target("scan_guard_range")
    val out = new java.io.ByteArrayOutputStream
    val actions = actionsOf {
      Console.withOut(out)(RangeSync.range(spark, Entities.orders, opts,
        "1996-03-01", "1996-03-03"))
    }
    // the per-date extract counts ride the write; no JDBC read-back of
    // the target
    assert(actions.map(a => (a.name, a.scans)) ==
      Seq(("foreachPartition", 1)), s"actions: $actions")
    assert(!actions.exists(_.shuffleOrCache), s"shuffle or cache: $actions")
    val log = out.toString("UTF-8")
    assert(log.contains(
      "[validate] range 1996-03-01: extracted=2 loaded=2 OK"), log)
    assert(log.contains(
      "[validate] range 1996-03-03: extracted=0 loaded=0 OK"), log)
  }

  /** The parquet orders, loaded into an in-memory Derby source table
    * (target-cased, as in the DB-to-DB topology) before any action is
    * recorded: the JDBC URL to pass as `--source-url`. */
  private lazy val derbySource: String = {
    val src = JdbcConfig("jdbc:derby:memory:scan_guard_src;create=true")
    val d = SqlDialect.Derby
    JdbcWrite.ensureTable(src, d, "APP", "orders", Entities.orders.schema)
    RefreshSink.write(Pipeline.ordersSource(spark, sfDir), src, d,
      d.table("APP", "orders"))
    src.url
  }

  /** Sorted rows of the target table `table` names. */
  private def rows(opts: Args, table: Config => String): Seq[String] = {
    val cfg = opts.config
    Pipeline.readTarget(spark, cfg, table(cfg)).collect()
      .map(_.toString).sorted.toSeq
  }

  test("DailySync from a Derby source: one JDBC scan per sink write, " +
    "targets equal the parquet path's") {
    val (from, to) = ("1996-03-01", "1996-03-02")
    val fromDb = Args(target("scan_guard_db").kv +
      ("source-url" -> derbySource))
    val fromParquet = target("scan_guard_pq")

    val out = new java.io.ByteArrayOutputStream
    val actions = actionsOf {
      Console.withOut(out)(DailySync.sync(spark, Entities.orders, fromDb,
        from, to))
    }
    // one upsert for the window, then one side-table refresh, each
    // reading the source through exactly one JDBC scan
    assert(actions.map(_.name) == Seq.fill(2)("foreachPartition"),
      s"actions: $actions")
    assert(actions.forall(a => a.scans == 1 && a.jdbc == 1),
      s"scans per write: $actions")
    assert(!actions.exists(_.shuffleOrCache), s"shuffle or cache: $actions")
    val log = out.toString("UTF-8")
    assert(log.contains(
      "[validate] complete 1996-03-01: extracted=2 loaded=2 OK"), log)
    assert(log.contains(
      "[validate] incomplete (full refresh): extracted=2 loaded=2 OK"), log)

    Console.withOut(new java.io.ByteArrayOutputStream)(
      DailySync.sync(spark, Entities.orders, fromParquet, from, to))
    // 4 complete orders upserted, 2 incomplete in the side table
    for ((table, n) <- Seq[(Config => String, Int)](
        (_.targetTable, 4), (_.targetIncompleteTable, 2))) {
      val viaDb = rows(fromDb, table)
      assert(viaDb.size == n, viaDb)
      assert(viaDb == rows(fromParquet, table))
    }
  }

  test("RangeSync from a Derby source: one JDBC scan for the one write, " +
    "target equals the parquet path's") {
    // a window ending the day before the source's last date, so a
    // source slice wider than the window shows in the target
    val (start, end) = ("1996-02-29", "1996-03-01")
    val fromDb = Args(target("scan_guard_range_db").kv +
      ("source-url" -> derbySource))
    val fromParquet = target("scan_guard_range_pq")

    val out = new java.io.ByteArrayOutputStream
    val actions = actionsOf {
      Console.withOut(out)(RangeSync.range(spark, Entities.orders, fromDb,
        start, end))
    }
    assert(actions.map(a => (a.name, a.scans, a.jdbc)) ==
      Seq(("foreachPartition", 1, 1)), s"actions: $actions")
    assert(!actions.exists(_.shuffleOrCache), s"shuffle or cache: $actions")
    val log = out.toString("UTF-8")
    assert(log.contains(
      "[validate] range 1996-02-29: extracted=0 loaded=0 OK"), log)
    assert(log.contains(
      "[validate] range 1996-03-01: extracted=2 loaded=2 OK"), log)

    Console.withOut(new java.io.ByteArrayOutputStream)(
      RangeSync.range(spark, Entities.orders, fromParquet, start, end))
    val viaDb = rows(fromDb, _.targetTable)
    assert(viaDb.size == 2, viaDb)
    assert(viaDb == rows(fromParquet, _.targetTable))
  }
}
