package graft.io

import scala.collection.mutable

import org.apache.spark.sql.functions.{array, udf}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.util.AccumulatorV2

/** Counts per key, summed over the successful task attempts of an
  * action: the one in-write tally behind every count the sync path
  * reports (the rows a sink wrote, a backfill's rows per date, the
  * seed's coercion losses and NULL-key drops). Spark merges a user
  * accumulator's update once per successful task, so a failed attempt's
  * updates never reach it and a retried task counts once. An absent key
  * reads as 0. */
final class Tally extends AccumulatorV2[String, Map[String, Long]] {
  private val counts = mutable.HashMap.empty[String, Long]
  def isZero: Boolean = counts.isEmpty
  def copy(): Tally = { val c = new Tally; c.counts ++= counts; c }
  def reset(): Unit = counts.clear()
  def add(key: String): Unit = add(key, 1L)
  def add(key: String, n: Long): Unit =
    counts(key) = counts.getOrElse(key, 0L) + n
  def merge(other: AccumulatorV2[String, Map[String, Long]]): Unit =
    other.value.foreach { case (k, n) => add(k, n) }
  def value: Map[String, Long] = counts.toMap
  def apply(key: String): Long = counts.getOrElse(key, 0L)
}

object Tally {

  /** A fresh tally registered with `spark`'s context under `name`. */
  def apply(spark: SparkSession, name: String): Tally = {
    val t = new Tally
    spark.sparkContext.register(t, name)
    t
  }

  /** `df` unchanged, with a pass-through filter that adds each row's
    * non-NULL `keys` (string columns, NULL where the row counts under no
    * key) to `tally` as the sink pulls the row, so the counts cost no
    * action of their own.
    *
    * The counts are exact when the filter runs in the write's result
    * stage (no exchange above it: Spark applies a result task's update
    * once, but may re-run a map stage and add its updates again) and
    * the frame runs one action (a second action adds its rows again).
    * Every sync write meets this: one `foreachPartition` over a plan
    * with no shuffle or cache, which `ScanCountSpec` pins. The filter
    * is nondeterministic, so the optimizer neither moves a predicate
    * below it nor merges it with one: it counts every row `df` yields. */
  def counting(df: DataFrame, tally: Tally, keys: Column*): DataFrame = {
    val count = udf { (ks: Seq[String]) =>
      ks.foreach(k => if (k != null) tally.add(k))
      true
    }.asNondeterministic()
    df.filter(count(array(keys: _*)))
  }
}
