package graft.run

import java.io.ByteArrayOutputStream
import java.nio.file.Files
import java.sql.{Date, Timestamp}

import scala.concurrent.duration._
import scala.concurrent.{Await, Future}
import scala.concurrent.ExecutionContext.Implicits.global

import org.apache.spark.TaskContext
import org.apache.spark.sql.functions.{col, udf}
import org.apache.spark.sql.types._
import org.apache.spark.sql.{DataFrame, Row}

import graft.SparkSpecBase
import graft.core.{Entities, Schemas}
import graft.io.{JdbcConfig, JdbcWrite, MergeSink, SqlDialect}
import graft.operators.Upsert

/** The counts that ride a sync write: the side-table refresh a catch-up
  * runs once, the CSV seed's audit tallied by its staging load, and
  * the backfill's per-date tally. Each must equal what a fault-free,
  * separately counted run reports — also when a task's first attempt
  * dies mid-partition and `local[N,2]` retries it. */
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

  test("a 3-day catch-up refreshes the side table once, to the rows a " +
    "single-day run of the last date leaves") {
    val dates = Seq("1996-03-01", "1996-03-02", "1996-03-03")
    def run(db: String, days: Seq[String]): (String, Seq[String]) = {
      val opts = Args(Map(
        "target-url" -> s"jdbc:derby:memory:$db;create=true",
        "sf-dir" -> sfDir))
      val out = new ByteArrayOutputStream
      Console.withOut(out)(DailySync.sync(spark, Entities.orders, opts, days))
      val cfg = opts.config
      (out.toString("UTF-8"),
        sorted(Pipeline.readTarget(spark, cfg, cfg.targetIncompleteTable)))
    }
    val (log, catchUp) = run("write_counts_catchup", dates)
    val (_, single) = run("write_counts_single", dates.takeRight(1))
    assert(catchUp.size == 3, catchUp)
    assert(catchUp == single)
    assert(log.linesIterator.count(
      _.contains("incomplete (full refresh)")) == 1, log)
    assert(log.contains(
      "[validate] incomplete (full refresh): extracted=3 loaded=3 OK"), log)
    // every day still upserts and reconciles its complete branch
    for ((d, n) <- dates.zip(Seq(1, 2, 1)))
      assert(log.contains(
        s"[validate] complete $d: extracted=$n loaded=$n OK"), log)
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
