package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpecBase

class GuardsSpec extends SparkSpecBase {

  test("boundedSeries is a pass-through under the bound and keeps a " +
    "single exchange in the plan") {
    import spark.implicits._
    val df = (1 to 50).map(i => (i.toLong, i * 2.0)).toDF("i", "v")
    val guarded = Guards.boundedSeries(df, "test", maxRows = 100)
      .withColumn("rn",
        row_number().over(Guards.seriesWindow(col("i").asc)))
    val rows = guarded.collect()
    assert(rows.length == 50)
    assert(rows.map(_.getAs[Long]("i")).toSet == (1 to 50).map(_.toLong).toSet)
    // the guard's count window must NOT add a second exchange: both
    // windows require SinglePartition and share one shuffle (count
    // only the FINAL plan — AQE's toString repeats the initial plan)
    val plan = guarded.queryExecution.executedPlan.toString
      .split("== Initial Plan ==")(0)
    val exchanges = "Exchange".r.findAllIn(plan).length
    assert(exchanges <= 1, s"guard added an exchange:\n$plan")
  }

  test("parallelized widens a single-partition frame, is a no-op on " +
    "an already-parallel or exchange-bearing one, and rejects streams") {
    import spark.implicits._
    val par = spark.sparkContext.defaultParallelism
    // single partition -> widened to defaultParallelism
    val narrow = (1 to 1000).map(i => (i.toLong, i * 2.0))
      .toDF("i", "v").coalesce(1)
    val widened = Guards.parallelized(narrow)
    assert(widened.rdd.getNumPartitions == par,
      s"expected $par partitions, got ${widened.rdd.getNumPartitions}")
    assert(widened.collect().map(_.getLong(0)).sorted.toSeq ==
      (1 to 1000).map(_.toLong))
    // already parallel -> the SAME frame, no exchange added
    val wide = (1 to 1000).map(i => (i.toLong, i * 2.0))
      .toDF("i", "v").repartition(par + 1)
    assert(Guards.parallelized(wide) eq wide)
    // exchange-bearing plan -> returned unchanged (the probe must not
    // build an executed plan that would run the upstream stages)
    val agg = narrow.groupBy(col("i")).agg(sum(col("v")).as("s"))
    assert(Guards.parallelized(agg) eq agg)
    // a leaf outside the probed set (a one-partition JDBC scan, whose
    // RDD may contact its source) -> returned unchanged, not widened
    val url = "jdbc:derby:memory:guards_probe;create=true"
    val conn = java.sql.DriverManager.getConnection(url)
    try conn.createStatement().execute("CREATE TABLE t (i BIGINT)")
    finally conn.close()
    val jdbc = spark.read.jdbc(url, "t", new java.util.Properties)
    assert(Guards.parallelized(jdbc) eq jdbc)
    // streaming frames have no partition count to probe -> loud
    val stream = spark.readStream.format("rate").load()
    val e = intercept[IllegalArgumentException] {
      Guards.parallelized(stream)
    }
    assert(e.getMessage.contains("batch frames only"))
  }

  test("boundedSeries fails loudly when the frame exceeds the bound") {
    import spark.implicits._
    val df = (1 to 50).map(i => (i.toLong, i * 2.0)).toDF("i", "v")
    val guarded = Guards.boundedSeries(df, "corpusCaller", maxRows = 10)
      .withColumn("rn",
        row_number().over(Guards.seriesWindow(col("i").asc)))
    val e = intercept[Exception] { guarded.collect() }
    def messages(t: Throwable): Seq[String] =
      if (t == null) Nil
      else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(messages(e).exists(m => m.contains("corpusCaller") &&
      m.contains("control-plane bound")),
      s"guard must name the caller: ${messages(e).mkString(" | ")}")
  }

  test("emitDouble: exact at the declared scale, NULL-transparent, " +
    "and LOUD on fractional digits beyond it (ADVICE r13)") {
    import spark.implicits._
    import org.apache.spark.sql.types.DecimalType
    // scale-2 decimals through a scale-2 emit: exact round trip
    val ok = Seq("1.25", "-3.10", "0.00").toDF("s")
      .select(col("s").cast(DecimalType(10, 2)).as("v"))
      .select(Guards.emitDouble(col("v"), 2, "t").as("d"))
      .collect().map(_.getDouble(0)).toSeq
    assert(ok == Seq(1.25, -3.10, 0.0), s"got $ok")
    // NULL passes through as NULL
    val nul = Seq("1.25").toDF("s")
      .select(lit(null).cast(DecimalType(10, 2)).as("v"))
      .select(Guards.emitDouble(col("v"), 2, "t").as("d"))
      .collect()(0)
    assert(nul.isNullAt(0), s"got $nul")
    // DOUBLE inputs that ARE in-scale as decimals must pass even when
    // c·10^s lands just under the integer in double space (8.7·100 =
    // 869.99…; the r13 floor-guard raised spuriously here, ADVICE r14)
    val dok = Seq(8.7, -0.07, 2.55).toDF("v")
      .select(Guards.emitDouble(col("v"), 2, "t").as("d"))
      .collect().map(_.getDouble(0)).toSeq
    assert(dok == Seq(8.7, -0.07, 2.55), s"got $dok")
    // and a genuinely out-of-scale DOUBLE still raises
    val dex = intercept[Exception] {
      Seq(1.2345).toDF("v")
        .select(Guards.emitDouble(col("v"), 2, "t").as("d"))
        .collect()
    }
    assert(dex.getMessage != null &&
      (dex.getMessage.contains("fractional digits") ||
        Option(dex.getCause).exists(
          _.getMessage.contains("fractional digits"))),
      s"wrong failure: $dex")
    // scale-4 value through a scale-2 emit: the old silent truncation
    // must now raise in-plan
    val ex = intercept[Exception] {
      Seq("1.2345").toDF("s")
        .select(col("s").cast(DecimalType(10, 4)).as("v"))
        .select(Guards.emitDouble(col("v"), 2, "t").as("d"))
        .collect()
    }
    assert(ex.getMessage != null &&
      (ex.getMessage.contains("fractional digits") ||
        Option(ex.getCause).exists(
          _.getMessage.contains("fractional digits"))),
      s"wrong failure: $ex")
  }

  test("source lint: no raw unpartitioned Window.orderBy in main " +
    "source outside Guards — seriesWindow is the only sanctioned route") {
    import scala.jdk.CollectionConverters._
    val root = java.nio.file.Paths.get("src/main/scala")
    assert(java.nio.file.Files.exists(root), s"run from the repo root")
    val offenders = java.nio.file.Files.walk(root).iterator().asScala
      .filter(p => p.toString.endsWith(".scala") &&
        !p.getFileName.toString.equals("Guards.scala"))
      .flatMap { p =>
        val lines = java.nio.file.Files.readAllLines(p).asScala
        lines.zipWithIndex.collect {
          case (l, i) if l.contains("Window.orderBy") => s"$p:${i + 1}: $l"
        }
      }.toSeq
    assert(offenders.isEmpty,
      "raw Window.orderBy outside Guards.scala (route it through " +
        s"Guards.seriesWindow + boundedSeries):\n${offenders.mkString("\n")}")
  }
}
