package graft.run

import java.io.ByteArrayOutputStream
import java.nio.file.Files
import java.sql.{Date, Timestamp}

import scala.concurrent.duration._
import scala.concurrent.{Await, Future}
import scala.concurrent.ExecutionContext.Implicits.global
import scala.jdk.CollectionConverters._

import org.apache.spark.TaskContext
import org.apache.spark.sql.functions.{col, udf}
import org.apache.spark.sql.types._
import org.apache.spark.sql.{DataFrame, Row}

import graft.SparkSpecBase
import graft.core.{Entities, Schemas}
import graft.io.{JdbcConfig, JdbcWrite, MergeSink, SqlDialect}
import graft.operators.Upsert

/** The counts that ride a sync write: a catch-up's one window (equal
  * to day-by-day runs and the `Upsert.apply` oracle, with the side table
  * refreshed once, and landing nothing when its write fails), the CSV
  * seed's audit tallied by its staging load, and the backfill's
  * per-date tally. Each must equal what a fault-free, separately
  * counted run reports — also when a task's first attempt dies
  * mid-partition and `local[N,2]` retries it. */
class WriteCountsSpec extends SparkSpecBase {
  import WriteCountsSpec._

  private val ordersSchema = StructType(Seq(
    StructField("o_orderkey", LongType),
    StructField("o_custkey", LongType),
    StructField("o_orderstatus", StringType),
    StructField("o_orderdate", DateType),
    StructField("o_totalprice", DoubleType),
    StructField("o_orderpriority", StringType)))

  /** A parquet `orders` table: complete orders on 1996-03-01..03 and
    * three 'P' (incomplete) orders. */
  private lazy val sfDir: String = {
    val dir = Files.createTempDirectory("graft_write_counts").toString
    val rows = Seq(
      Row(1L, 10L, "F", Date.valueOf("1996-03-01"), 10.5, "1-URGENT"),
      Row(2L, 20L, "O", Date.valueOf("1996-03-02"), 20.0, "2-HIGH"),
      Row(3L, 30L, "F", Date.valueOf("1996-03-02"), 30.0, "3-MEDIUM"),
      Row(4L, 40L, "O", Date.valueOf("1996-03-03"), 40.0, "4-NOT SPECIFIED"),
      Row(5L, 50L, "P", Date.valueOf("1996-03-01"), 50.0, "5-LOW"),
      Row(6L, 60L, "P", Date.valueOf("1996-03-02"), 60.0, "1-URGENT"),
      Row(7L, 70L, "P", Date.valueOf("1996-03-04"), 70.0, "2-HIGH"))
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 2),
      ordersSchema).write.parquet(s"$dir/orders.parquet")
    dir
  }

  private def sorted(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  private val orders = Entities.orders

  /** Entry-point options for a fresh in-memory Derby target `db`. */
  private def target(db: String, extra: (String, String)*) = Args(Map(
    "target-url" -> s"jdbc:derby:memory:$db;create=true",
    "sf-dir" -> sfDir) ++ extra)

  /** One `DailySync.sync` over [from, to]: its log. */
  private def sync(opts: Args, from: String, to: String): String = {
    val out = new ByteArrayOutputStream
    Console.withOut(out)(DailySync.sync(spark, orders, opts, from, to))
    out.toString("UTF-8")
  }

  /** `df` cast to the column types of `like`, as sorted row strings. */
  private def sortedAs(df: DataFrame, like: DataFrame): Seq[String] =
    sorted(df.select(like.schema.map(f => col(f.name).cast(f.dataType)): _*))

  /** The (target, side table) rows `opts`' target holds. */
  private def tables(opts: Args): (DataFrame, DataFrame) = {
    val cfg = opts.config
    (Pipeline.readTarget(spark, cfg, cfg.targetTable),
      Pipeline.readTarget(spark, cfg, cfg.targetIncompleteTable))
  }

  // the catch-up's target and side table also equal 3 single-day runs
  // (the last of them a single-day run of the last date) and the
  // Upsert.apply fold over the days
  test("a 3-day catch-up refreshes the side table once, to the rows a " +
    "single-day run of the last date leaves") {
    val dates = Seq("1996-03-01", "1996-03-02", "1996-03-03")
    val catchUp = target("write_counts_catchup")
    val log = sync(catchUp, dates.head, dates.last)
    val byDay = target("write_counts_by_day")
    for (d <- dates) sync(byDay, d, d)

    // the oracle: each day's extract folded onto an empty target, and
    // the side table's full refresh of the NULL-timestamp rows
    val cfg = catchUp.config
    val empty = spark.createDataFrame(spark.sparkContext.emptyRDD[Row],
      orders.targetSchema)
    val folded = dates.foldLeft(empty) { (t, d) =>
      Upsert(t, Pipeline.extractForRange(spark, cfg, sfDir, d, d),
        cfg.uniqueKeyColumns, orders.mode)
    }
    val nulls = Pipeline.extractForDay(spark, cfg, sfDir, dates.last)._2

    val (tgt, side) = tables(catchUp)
    val (tgtByDay, sideByDay) = tables(byDay)
    assert(sorted(tgt).size == 4 && sorted(side).size == 3)
    assert(sorted(tgt) == sorted(tgtByDay))
    assert(sorted(tgt) == sortedAs(folded, tgt))
    assert(sorted(side) == sorted(sideByDay))
    assert(sorted(side) == sortedAs(nulls, side))
    assert(log.linesIterator.count(
      _.contains("incomplete (full refresh)")) == 1, log)
    assert(log.contains(
      "[validate] incomplete (full refresh): extracted=3 loaded=3 OK"), log)
    // every day still reconciles its complete branch
    for ((d, n) <- dates.zip(Seq(1, 2, 1)))
      assert(log.contains(
        s"[validate] complete $d: extracted=$n loaded=$n OK"), log)
  }

  test("a catch-up whose MERGE fails on a day-2 row lands none of the " +
    "window; the resume reconciles every day and equals a clean run") {
    val (from, to) = ("1996-03-01", "1996-03-02")
    val spool = Files.createTempDirectory("graft_failed_window")
      .resolve("alerts.jsonl")
    val opts = target("write_counts_failed_window",
      "alert-recipients" -> "ops@example.com",
      "alert-sink" -> spool.toString)
    val cfg = opts.config
    val table = cfg.targetDialect.table(cfg.targetSchemaName,
      cfg.targetTable)
    // order 3 (1996-03-02) breaks a constraint on the target
    Pipeline.ensureTargetTables(cfg, orders)
    JdbcWrite.execute(cfg.targetJdbc, s"ALTER TABLE $table ADD CONSTRAINT " +
      "no_order_3 CHECK (\"order_id\" <> 3)")

    intercept[java.sql.SQLException](sync(opts, from, to))
    val alerts = Files.readAllLines(spool).asScala
    assert(alerts.size == 1, alerts)
    assert(alerts.head.contains("\"stage\":\"load\""), alerts)
    val (tgt, side) = tables(opts)
    assert(tgt.count() == 0L, "a failed window must land none of its days")
    assert(side.count() == 0L, "a failed window must not refresh the side")

    JdbcWrite.execute(cfg.targetJdbc,
      s"ALTER TABLE $table DROP CONSTRAINT no_order_3")
    val log = sync(opts, from, to)
    for ((d, n) <- Seq(from -> 1, to -> 2))
      assert(log.contains(
        s"[validate] complete $d: extracted=$n loaded=$n OK"), log)
    assert(log.contains(
      "[validate] incomplete (full refresh): extracted=3 loaded=3 OK"), log)

    val clean = target("write_counts_clean_window")
    sync(clean, from, to)
    val (resumed, cleanRun) = (tables(opts), tables(clean))
    assert(sorted(resumed._1).size == 3)
    assert(sorted(resumed._1) == sorted(cleanRun._1))
    assert(sorted(resumed._2) == sorted(cleanRun._2))
  }

  test("an empty CSV seeds nothing and audits zero, without blocking") {
    val dir = Files.createTempDirectory("graft_empty_csv")
    val headerOnly = Files.writeString(dir.resolve("header_only.csv"),
      Schemas.orders.fieldNames.mkString(",") + "\n").toString
    val zeroBytes = Files.writeString(dir.resolve("zero_bytes.csv"), "")
      .toString
    val typedCols = Schemas.orders.fields.filter(_.dataType != StringType)
      .map(_.name)
    for ((csv, i) <- Seq(headerOnly, zeroBytes).zipWithIndex) {
      val cfg = Args(Map(
        "target-url" -> s"jdbc:derby:memory:write_counts_empty$i;create=true"))
        .config
      val out = new ByteArrayOutputStream
      val seeded = Future(Console.withOut(out)(
        CsvSeed.seed(spark, cfg, CsvSeed.entities("orders"), csv, None)))
      assert(Await.result(seeded, 2.minutes) == ((0L, 0L)), csv)
      val log = out.toString("UTF-8")
      assert(log.contains("[csv-seed] rows dropped for NULL key: 0"), log)
      assert(!log.contains("coercion losses"), log)

      val (kept, audit, dropped) =
        CsvSeed.readAndTransform(spark, csv, Seq("OrderID"))
      assert(kept.count() == 0L)
      assert(Await.result(Future((audit(), dropped())), 1.minute) ==
        ((typedCols.map(_ -> 0L).toMap, 0L)), csv)
    }
  }

  test("an induced first-attempt failure leaves the seed audit at its " +
    "fault-free values") {
    val dir = Files.createTempDirectory("graft_retry_csv")
    // the NULL-key row and both coercion losses come first, so the
    // failed attempt has tallied them before it dies at OrderID 3
    val csv = Files.writeString(dir.resolve("orders.csv"), Seq(
      Schemas.orders.fieldNames.mkString(","),
      ",1001,4/20/2025 4:11,4/20/2025 4:30,10.5,Laptop,True",
      "1,abc,4/20/2025 4:11,,12.0,Tablet,False",
      "2,1002,4/21/2025 5:00,4/21/2025 5:10,xyz,Monitor,True",
      "3,1003,4/22/2025 6:00,4/22/2025 6:10,30.0,Keyboard,False",
      "4,1004,4/23/2025 7:00,,40.0,Laptop,True").mkString("\n") + "\n")
      .toString
    def seedOnce(db: String, failAt: Option[Long])
        : (Long, Map[String, Long], Long) = {
      val (kept, audit, dropped) =
        CsvSeed.readAndTransform(spark, csv, Seq("OrderID"))
      val jdbc = JdbcConfig(s"jdbc:derby:memory:$db;create=true")
      val d = SqlDialect.Derby
      Seq("orders", "orders_staging").foreach(t =>
        JdbcWrite.ensureTable(jdbc, d, "APP", t, Schemas.orders))
      val batch =
        failAt.fold(kept)(k => kept.filter(failFirstAttemptAt(k)(col("OrderID"))))
      val written = MergeSink.write(batch, jdbc, d, d.table("APP", "orders"),
        d.table("APP", "orders_staging"), Seq("OrderID"),
        Upsert.InsertOnly(Seq("OrderCreatedAt")), withByTarget = false)
      (written, audit(), dropped())
    }
    val clean = seedOnce("write_counts_audit_clean", None)
    assert(clean._1 == 4L)
    assert(clean._2.filter(_._2 > 0) == Map("UserID" -> 1L, "Amount" -> 1L))
    assert(clean._3 == 1L)
    induced.set(0)
    val retried = seedOnce("write_counts_audit_retry", Some(3L))
    assert(induced.get() >= 1, "the fault never fired — the test proved nothing")
    assert(retried == clean)
  }

  test("an induced first-attempt failure leaves the per-date tally at its " +
    "fault-free values") {
    val schema = StructType(Seq(
      StructField("k", LongType), StructField("ts", TimestampType)))
    val rows = Seq(
      Row(1L, Timestamp.valueOf("2025-03-01 08:00:00")),
      Row(2L, Timestamp.valueOf("2025-03-01 23:59:59")),
      Row(3L, Timestamp.valueOf("2025-03-02 00:00:00")),
      Row(4L, Timestamp.valueOf("2025-03-02 10:00:00")),
      Row(5L, Timestamp.valueOf("2025-03-03 12:00:00")))
    // one partition: the failed attempt has tallied keys 1-4 when it dies
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 1), schema)
    val jdbc = JdbcConfig("jdbc:derby:memory:write_counts_tally;create=true")
    val d = SqlDialect.Derby
    Seq("tally", "tally_staging").foreach(t =>
      JdbcWrite.ensureTable(jdbc, d, "APP", t, schema))
    def load(failAt: Option[Long]): Map[String, Long] =
      RangeSync.writeCountingByDate(df, "ts") { s =>
        MergeSink.write(
          failAt.fold(s)(k => s.filter(failFirstAttemptAt(k)(col("k")))),
          jdbc, d, d.table("APP", "tally"), d.table("APP", "tally_staging"),
          Seq("k"), Upsert.Unconditional, withByTarget = false)
      }
    val clean = load(None)
    assert(clean == Map(
      "2025-03-01" -> 2L, "2025-03-02" -> 2L, "2025-03-03" -> 1L))
    induced.set(0)
    val retried = load(Some(4L))
    assert(induced.get() >= 1, "the fault never fired — the test proved nothing")
    assert(retried == clean)
  }
}

object WriteCountsSpec {
  /** Fault counter, static so the (local mode, same-JVM) executor task
    * and the test assertion share it. */
  val induced = new java.util.concurrent.atomic.AtomicInteger(0)

  /** A filter that passes every row, except that a task's first attempt
    * dies at the row whose key is `at`. */
  def failFirstAttemptAt(at: Long) = udf { (k: Long) =>
    if (k == at && TaskContext.get().attemptNumber() == 0) {
      induced.incrementAndGet()
      throw new RuntimeException("induced first-attempt failure")
    }
    true
  }.asNondeterministic()
}
