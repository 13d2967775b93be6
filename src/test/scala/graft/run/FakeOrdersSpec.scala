package graft.run

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.SparkSpecBase

/** The synthetic fixture generator round-trips through the seed
  * loader's read-and-transform stage with zero losses — i.e. our
  * fake_data_producer counterpart produces data the pipeline accepts
  * exactly like the shipped orders.csv (fake_data_producer.py:8-37).
  */
class FakeOrdersSpec extends SparkSpecBase {

  test("generated fixture: complete/incomplete split, 5..180min delta, " +
    "deterministic") {
    val f = FakeOrders.frame(spark, 1000L)
    assert(f.count() == 1000L)
    val incomplete = f.filter(col("OrderCreatedAt").isNull)
    val nInc = incomplete.count()
    // hash-derived 70/30 split: not exactly 300, but close and PINNED
    // (determinism means this count can never drift)
    assert(nInc > 250 && nInc < 350, s"incomplete=$nInc")
    assert(incomplete.filter(col("IsDelivered")).count() == 0L)
    // complete rows: created - cart in [5, 180] minutes
    val bad = f.filter(col("OrderCreatedAt").isNotNull)
      .withColumn("d",
        unix_timestamp(col("OrderCreatedAt")) -
          unix_timestamp(col("AddedToCartAt")))
      .filter(col("d") < 5 * 60 || col("d") > 180 * 60)
    assert(bad.count() == 0L)
    // amounts in [100, 2000]; users in [1000, 9999]
    assert(f.filter(col("Amount") < 100.0 || col("Amount") > 2000.0)
      .count() == 0L)
    assert(f.filter(col("UserID") < 1000 || col("UserID") > 9999)
      .count() == 0L)
    // determinism: a second generation is row-identical
    assert(FakeOrders.frame(spark, 1000L).exceptAll(f).count() == 0L)
  }

  test("CSV round-trip through CsvSeed.readAndTransform: zero coercion " +
    "losses, zero key drops") {
    val dir = Files.createTempDirectory("graft_fake_orders").toString
    FakeOrders.csvFrame(spark, 400L).coalesce(1).write
      .option("header", "true").mode("overwrite").csv(dir)
    val (kept, audit, dropped) =
      CsvSeed.readAndTransform(spark, dir, Seq("OrderID"))
    assert(kept.count() == 400L)
    // the audit was tallied by the count above
    assert(dropped() == 0L)
    assert(audit().values.forall(_ == 0L),
      s"coercion losses: ${audit().filter(_._2 > 0)}")
    // the typed round-trip equals the source frame at minute precision
    // (the CSV format drops seconds; generated timestamps are :00 only
    // when the hash lands there, so compare at the truncated grain)
    val src = FakeOrders.frame(spark, 400L)
      .withColumn("AddedToCartAt", date_trunc("minute", col("AddedToCartAt")))
      .withColumn("OrderCreatedAt", date_trunc("minute", col("OrderCreatedAt")))
    val got = kept
      .withColumn("Amount", col("Amount").cast("double"))
      .select(src.columns.map(col).toIndexedSeq: _*)
    assert(got.exceptAll(src).count() == 0L)
    assert(src.exceptAll(got).count() == 0L)
  }
}
