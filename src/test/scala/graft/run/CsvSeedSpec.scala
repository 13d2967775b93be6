package graft.run

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpecBase

/** Pins the CSV seed path's observable behavior on the reference's own
  * 1,000-row fixture (SURVEY §5 item 5, §7.4 risk 5): 320 empty
  * `OrderCreatedAt` → NULL, ZERO coercion losses on every typed column,
  * zero rows dropped for NULL keys. Skipped when the fixture isn't
  * present.
  */
class CsvSeedSpec extends SparkSpecBase {

  private val fixture = "/root/reference/orders.csv"

  test("reference orders.csv: 1000 rows, 320 NULL OrderCreatedAt, " +
    "zero coercion losses, zero key drops") {
    assume(new java.io.File(fixture).exists(), s"fixture $fixture absent")
    val (kept, audit, dropped) =
      CsvSeed.readAndTransform(spark, fixture, Seq("OrderID"))
    val total = kept.count()
    assert(total == 1000L)
    // the audit was tallied by the count above
    assert(dropped() == 0L)
    assert(audit().values.forall(_ == 0L),
      s"unexpected coercion losses: ${audit().filter(_._2 > 0)}")
    val nullCreated = kept.filter(kept("OrderCreatedAt").isNull).count()
    assert(nullCreated == 320L)
    // spot-check a parsed row: single-digit M/d/yyyy H:mm
    val r1 = kept.filter(kept("OrderID") === 1L).collect()(0)
    assert(r1.getAs[java.sql.Timestamp]("AddedToCartAt")
      == java.sql.Timestamp.valueOf("2025-04-20 04:11:00"))
    assert(r1.getAs[java.math.BigDecimal]("Amount")
      == new java.math.BigDecimal("337.6900"))
    assert(!r1.getAs[Boolean]("IsDelivered"))
  }

  test("--run-date filters to one logical day of OrderCreatedAt (F7)") {
    assume(new java.io.File(fixture).exists(), s"fixture $fixture absent")
    // 2025-05-11 holds exactly 10 fixture rows (independently counted
    // from the CSV text); NULL timestamps drop out of a dated run.
    val (kept, _, dropped) = CsvSeed.readAndTransform(
      spark, fixture, Seq("OrderID"), runDate = Some("2025-05-11"))
    assert(kept.count() == 10L)
    assert(dropped() == 0L)
    assert(kept.filter(kept("OrderCreatedAt").isNull).count() == 0L)
    // half-open bound: a row on the next day is excluded
    val next = CsvSeed.readAndTransform(
      spark, fixture, Seq("OrderID"), runDate = Some("2025-05-12"))._1
    assert(next.filter(next("OrderCreatedAt") <
      org.apache.spark.sql.functions.lit("2025-05-12")
        .cast(org.apache.spark.sql.types.TimestampType)).count() == 0L)
  }
}
