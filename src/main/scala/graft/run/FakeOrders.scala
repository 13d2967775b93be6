package graft.run

import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.core.Sessions

/** Synthetic orders-fixture generator — the engine's counterpart of the
  * reference's fake_data_producer.py (fake_data_producer.py:8-37):
  * `numOrders` rows, 70% "complete" (OrderCreatedAt = AddedToCartAt +
  * 5..180 minutes, IsDelivered coin-flip) and 30% "incomplete" (empty
  * OrderCreatedAt, IsDelivered=False), AddedToCartAt uniform over
  * 2025-01-01..2025-06-30.
  *
  * Two deliberate deviations from the reference, both Spark-first:
  *  - deterministic: every column derives from xxhash64(OrderID, salt)
  *    instead of an unseeded RNG, so the fixture is reproducible and
  *    generation is embarrassingly parallel — `spark.range(n)` scales
  *    the same way at 1e3 or 1e9 rows (no driver-side loop, no state);
  *  - timestamps are emitted in the shipped fixture's actual format
  *    `M/d/yyyy H:mm` (single-digit month/hour — orders.csv:2) rather
  *    than the generator's ISO format, so the output exercises the
  *    strict-first branch of the multi-format parse (C4) exactly like
  *    the checked-in orders.csv does.
  */
object FakeOrders {

  /** 2025-01-01T00:00:00Z. */
  private val BaseEpoch = 1735689600L
  /** 180 days, the 2025-01-01..2025-06-30 span. */
  private val RangeSeconds = 180L * 86400L

  private val Products =
    Seq("Laptop", "Tablet", "Smartphone", "Headphones", "Monitor", "Keyboard")

  /** Uniform long in [0, m) derived from (OrderID, salt). */
  private def h(salt: String, m: Long) =
    pmod(xxhash64(col("OrderID"), lit(salt)), lit(m))

  /** The typed fixture frame: one row per OrderID in [1, numOrders]. */
  def frame(spark: SparkSession, numOrders: Long): DataFrame = {
    val cartTs = timestamp_seconds(lit(BaseEpoch) + h("cart", RangeSeconds))
    // minutes in [5, 180], like random.randint(5, 180)
    val createdTs = timestamp_seconds(
      lit(BaseEpoch) + h("cart", RangeSeconds) + (h("mins", 176L) + 5L) * 60L)
    val complete = h("complete", 100L) < 70L
    spark.range(1, numOrders + 1)
      .select(col("id").as("OrderID"))
      .select(
        col("OrderID"),
        (h("user", 9000L) + 1000L).as("UserID"),
        cartTs.as("AddedToCartAt"),
        when(complete, createdTs).as("OrderCreatedAt"),
        // uniform in [100.00, 2000.00], two decimals exact
        (round((h("amt", 190001L) + 10000L) / 100.0, 2)).as("Amount"),
        element_at(
          array(Products.map(lit): _*),
          (h("prod", Products.size.toLong) + 1L).cast("int")).as("Product"),
        when(complete, h("deliv", 2L) === 0L).otherwise(lit(false))
          .as("IsDelivered"))
  }

  /** Fixture frame serialized the way the shipped orders.csv is:
    * `M/d/yyyy H:mm` timestamps, empty string for the incomplete
    * OrderCreatedAt, python-style True/False booleans. */
  def csvFrame(spark: SparkSession, numOrders: Long): DataFrame = {
    val f = frame(spark, numOrders)
    f.select(
      col("OrderID"),
      col("UserID"),
      date_format(col("AddedToCartAt"), "M/d/yyyy H:mm").as("AddedToCartAt"),
      coalesce(date_format(col("OrderCreatedAt"), "M/d/yyyy H:mm"), lit(""))
        .as("OrderCreatedAt"),
      // double→string cast prints the minimal repr ("100.0", "337.69")
      // — the same serialization python's csv writer gives floats
      col("Amount").cast("string").as("Amount"),
      col("Product"),
      when(col("IsDelivered"), "True").otherwise("False").as("IsDelivered"))
  }

  def main(args: Array[String]): Unit = {
    val opts = Args.parse(args)
    val out = opts.get("out").getOrElse("tmp/fake_orders_csv")
    val n = opts.get("num-orders").map(_.toLong).getOrElse(1000L)
    Sessions.withLocal("graft-fake-orders") { spark =>
      // single CSV part at fixture scale; drop the coalesce to fan out
      csvFrame(spark, n).coalesce(1).write
        .option("header", "true")
        .mode("overwrite")
        .csv(out)
    }
    println(s"[fake-orders] wrote $n rows to $out")
  }
}
