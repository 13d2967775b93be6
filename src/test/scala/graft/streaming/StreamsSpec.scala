package graft.streaming

import org.apache.spark.sql.functions._

import graft.SparkSpecBase
import graft.core.Tables

/** Streaming results must equal their batch twins: the file-source
  * replay with Trigger.AvailableNow is the catchup loop, so one drain
  * over the testdata must reproduce exactly what the batch engine
  * computes from the same files. */
class StreamsSpec extends SparkSpecBase {

  private val dir = "/root/testdata/sf0.001"

  test("windowed streaming aggregation equals the batch aggregation") {
    val streamed = Streams.runAvailableNow(
      Streams.windowedCounts(Streams.eventsStream(spark, dir)),
      "win_counts")
    val batch = Tables.events(spark, dir)
      .groupBy(window(col("ts"), "5 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast(org.apache.spark.sql.types.DecimalType(18, 4)))
          .as("value_sum"))
      .select(
        date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss")
          .as("window_start"),
        col("event_type"), col("n"),
        round(col("value_sum")
          .cast(org.apache.spark.sql.types.DoubleType), 4).as("value_sum"))
    val s = streamed.collect().map(_.toSeq).toSet
    val b = batch.collect().map(_.toSeq).toSet
    assert(s.nonEmpty)
    assert(s == b)
  }

  test("a second drain of q_stream_windows compiles no generated code") {
    import org.apache.spark.metrics.source.CodegenMetrics
    // each drain runs on a cloned session; the codegen cache must still
    // serve the code the first drain compiled
    def compiles(): Long = {
      val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      graft.Queries.queries("q_stream_windows")(spark, dir).collect()
      CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
    }
    val first = compiles()
    val second = compiles()
    assert(second == 0L,
      s"second drain compiled $second classes (first: $first)")
  }

  test("observed-metrics contracts on a STREAM: per-micro-batch " +
      "violation counts sum to the batch validator's totals") {
    import graft.operators.Expectations
    // the same expectation expressions as the batch validator, attached
    // via observe(name, ...) and read from each progress event
    val checks = Seq(
      Expectations.Expect("value_nonneg", col("value") >= 0),
      Expectations.Expect("known_type",
        col("event_type").isin("click", "view", "purchase", "error")))
    val aggs = count(lit(1)).as("n_rows") +: checks.map { e =>
      coalesce(sum(when(coalesce(e.pred, lit(false)), 0L).otherwise(1L)),
        lit(0L)).as(s"v_${e.name}")
    }
    val observed = Streams.eventsStream(spark, dir)
      .observe("contracts", aggs.head, aggs.tail: _*)
    val q = observed.writeStream
      .format("noop")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val perBatch = q.recentProgress.toSeq
      .flatMap(p => Option(p.observedMetrics.get("contracts")))
    assert(perBatch.nonEmpty, "no observed metrics surfaced")
    val totals = perBatch.map(r => (r.getAs[Long]("n_rows"),
      r.getAs[Long]("v_value_nonneg"), r.getAs[Long]("v_known_type")))
      .reduce((a, b) => (a._1 + b._1, a._2 + b._2, a._3 + b._3))
    val batch = Expectations.validate(Tables.events(spark, dir), checks)
      .collect().map(r => r.getString(0) -> r.getLong(2)).toMap
    val nRows = Tables.events(spark, dir).count()
    assert(totals == ((nRows, batch("value_nonneg"), batch("known_type"))))
  }

  test("streaming dedup survivors equal the batch distinct key set") {
    val deduped = Streams.runAvailableNow(
      Streams.dedupWithinWatermark(
        Streams.eventsStream(spark, dir), Seq("user_id", "event_type")),
      "dedup_drain")
      .select("user_id", "event_type")
    val batch = Tables.events(spark, dir)
      .select("user_id", "event_type").distinct()
    assert(deduped.exceptAll(batch).count() == 0)
    assert(batch.exceptAll(deduped).count() == 0)
    assert(deduped.count() == deduped.distinct().count()) // no dup survives
  }

  test("state-based streaming sessionization equals the batch " +
    "session_window assignment") {
    val streamed = Streams.runAvailableNow(
      Streams.sessionCountsState(Streams.eventsStream(spark, dir)).toDF,
      "sess_drain")
      // latest extent per (user, session start) supersedes re-emissions
      .groupBy(col("user_id"), col("session_start_us"))
      .agg(max(col("n")).as("n"))
      .groupBy(col("user_id")).agg(
        count(lit(1)).as("n_sessions"),
        sum(col("n")).as("n_events"))
    val batch = Tables.events(spark, dir)
      .groupBy(session_window(col("ts"), "10 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n"))
      .groupBy(col("user_id")).agg(
        count(lit(1)).as("n_sessions"),
        sum(col("n")).as("n_events"))
    assert(streamed.exceptAll(batch).count() == 0)
    assert(batch.exceptAll(streamed).count() == 0)
    assert(streamed.count() > 0)
  }

  private val min = 60L * 1000 * 1000 * 1000 // ns

  /** One parquet file of (event_id, ts_ns, user_id) click events —
    * building block for multi-batch drains (one file = one batch
    * under maxFilesPerTrigger=1; modTime orders the batches). */
  private def writeEventsFile(
      dir: java.io.File,
      name: String,
      events: Seq[(Long, Long)], // (tsNs, userId)
      modTime: Long): Unit = {
    import spark.implicits._
    val stage = new java.io.File(dir, s"__stage_$name")
    events.zipWithIndex
      .map { case ((t, u), i) => (i.toLong, t, u, "click", 1.0, "{}") }
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      // testdata layout: ts is parquet TIMESTAMP(MICROS) NTZ (all
      // fixture nanos are micro-divisible, so ts_ns round-trips exact)
      .withColumn("ts",
        timestamp_micros(org.apache.spark.sql.functions.expr("ts div 1000"))
          .cast(org.apache.spark.sql.types.TimestampNTZType))
      .coalesce(1).write.mode("overwrite").parquet(stage.getPath)
    val part = stage.listFiles().find(_.getName.endsWith(".parquet")).get
    val dst = new java.io.File(dir, name)
    java.nio.file.Files.move(part.toPath, dst.toPath)
    dst.setLastModified(modTime)
    org.apache.commons.io.FileUtils.deleteDirectory(stage)
  }

  test("a session spanning two micro-batches is ONE session " +
    "(carried OpenSession state merges across the batch boundary)") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("sess_mb").toFile
    // batch 1: events at 0min, 1min — open session carried in state;
    // batch 2: 2min continues it (gap 1min < 10min), 20min breaks it
    val t0 = System.currentTimeMillis()
    writeEventsFile(tmp, "a.parquet",
      Seq((0L * min, 7L), (1L * min, 7L)), t0 - 60000)
    writeEventsFile(tmp, "b.parquet",
      Seq((2L * min, 7L), (20L * min, 7L)), t0)
    val raw = Streams.runAvailableNow(
      Streams.sessionCountsState(Streams.eventsStream(
        spark, tmp.getPath, glob = "*.parquet", maxFilesPerTrigger = 1)).toDF,
      "sess_multibatch")
    // the drain really split into ≥2 micro-batches: the spanning
    // session was emitted more than once under its key (n=2 then n=3)
    assert(raw.filter(col("session_start_us") === 0L).count() >= 2,
      s"expected re-emission across batches:\n${raw.collect().mkString("\n")}")
    val finalSessions = raw
      .groupBy(col("session_start_us")).agg(max(col("n")).as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // ONE merged session of 3 events + one singleton — NOT (2,1,1)
    assert(finalSessions == Map(0L -> 3L, 20L * min / 1000 -> 1L),
      s"got $finalSessions")
    org.apache.commons.io.FileUtils.deleteDirectory(tmp)
  }

  test("topKPerKeyState: the leaderboard merges across micro-batches " +
      "— a batch-2 value displaces a batch-1 entry, ties break on id") {
    import spark.implicits._
    val t0 = System.currentTimeMillis()
    // one key ("click"); batch 1: values 5,3,1; batch 2: 4 displaces
    // 1, and a tie on 5 resolves to the lower event_id. The shared
    // writeEventsFile helper pins value = 1.0, so this fixture writes
    // its own files with per-event values.
    val dir2 = java.nio.file.Files.createTempDirectory("topk_mb2").toFile
    def file(name: String, rows: Seq[(Long, Double)], mt: Long): Unit = {
      val stage = new java.io.File(dir2, s"__stage_$name")
      rows.map { case (id, v) =>
        (id, 1000L * 60 * id, 7L, "click", v, "{}") }
        .toDF("event_id", "ts", "user_id", "event_type", "value",
          "props")
        .withColumn("ts", timestamp_micros(expr("ts div 1000")).cast(
          org.apache.spark.sql.types.TimestampNTZType))
        .coalesce(1).write.mode("overwrite").parquet(stage.getPath)
      val part = stage.listFiles()
        .find(_.getName.endsWith(".parquet")).get
      val dst = new java.io.File(dir2, name)
      java.nio.file.Files.move(part.toPath, dst.toPath)
      dst.setLastModified(mt)
      org.apache.commons.io.FileUtils.deleteDirectory(stage)
    }
    file("a.parquet", Seq((10L, 5.0), (11L, 3.0), (12L, 1.0)),
      t0 - 60000)
    file("b.parquet", Seq((13L, 4.0), (9L, 5.0)), t0)
    val drained = Streams.runAvailableNow(
      Streams.topKPerKeyState(Streams.eventsStream(
        spark, dir2.getPath, glob = "*.parquet",
        maxFilesPerTrigger = 1), k = 3).toDF(),
      "topk_multibatch")
    // the drain split into >= 2 batches: the key emitted under
    // updates = 1 and updates = 2
    assert(drained.select("updates").distinct().count() >= 2)
    val wl = org.apache.spark.sql.expressions.Window
      .partitionBy(col("g"))
    val top = drained
      .withColumn("__mx", max(col("updates")).over(wl))
      .filter(col("updates") === col("__mx"))
      .orderBy(col("rank"))
      .collect().map(r => (r.getAs[Int]("rank"),
        r.getAs[Double]("value"), r.getAs[Long]("event_id"))).toSeq
    // final: 5.0@9 (tie on 5 → lower id first), 5.0@10, 4.0@13 —
    // batch-1's 3.0 and 1.0 are displaced
    assert(top == Seq((1, 5.0, 9L), (2, 5.0, 10L), (3, 4.0, 13L)),
      s"got $top")
    org.apache.commons.io.FileUtils.deleteDirectory(dir2)
  }

  test("runningMomentsState: exact integer state makes a two-file " +
      "drain equal the batch moments bit-for-bit") {
    import spark.implicits._
    val t0 = System.currentTimeMillis()
    val dir2 = java.nio.file.Files.createTempDirectory("mom_mb").toFile
    def file(name: String, rows: Seq[(Long, Double)], mt: Long): Unit = {
      val stage = new java.io.File(dir2, s"__stage_$name")
      rows.map { case (id, v) =>
        (id, 1000L * 60 * id, 7L, "click", v, "{}") }
        .toDF("event_id", "ts", "user_id", "event_type", "value",
          "props")
        .withColumn("ts", timestamp_micros(expr("ts div 1000")).cast(
          org.apache.spark.sql.types.TimestampNTZType))
        .coalesce(1).write.mode("overwrite").parquet(stage.getPath)
      val part = stage.listFiles()
        .find(_.getName.endsWith(".parquet")).get
      val dst = new java.io.File(dir2, name)
      java.nio.file.Files.move(part.toPath, dst.toPath)
      dst.setLastModified(mt)
      org.apache.commons.io.FileUtils.deleteDirectory(stage)
    }
    // values with a 4-dp tail so quantization is exercised
    file("a.parquet", Seq((1L, 1.2345), (2L, 2.5), (3L, 100.0001)),
      t0 - 60000)
    file("b.parquet", Seq((4L, 7.75), (5L, 0.0002)), t0)
    val drained = Streams.runAvailableNow(
      Streams.runningMomentsState(Streams.eventsStream(
        spark, dir2.getPath, glob = "*.parquet",
        maxFilesPerTrigger = 1)), "mom_multibatch")
    assert(drained.select("updates").distinct().count() >= 2,
      "drain must have split into >= 2 batches")
    val last = drained.orderBy(col("updates").desc).collect()(0)
    // batch truth from the same quantization
    val ts = Seq(1.2345, 2.5, 100.0001, 7.75, 0.0002)
      .map(v => math.floor(v * 10000 + 0.5).toLong)
    val sqs = ts.map(t => t * t)
    assert(last.getAs[Long]("n") == 5L)
    assert(last.getAs[Long]("s") == ts.sum)
    assert(last.getAs[Long]("hi") == sqs.map(_ / 1000000000L).sum)
    assert(last.getAs[Long]("lo") == sqs.map(_ % 1000000000L).sum)
    org.apache.commons.io.FileUtils.deleteDirectory(dir2)
  }

  test("runningMomentsState: a NULL value counts in n and adds 0 to " +
      "the sums") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("mom_null").toFile
    Seq(("a", Some(12.3456)), ("a", None), ("b", None))
      .toDF("event_type", "value").coalesce(1).write
      .parquet(tmp.getAbsolutePath + "/f1")
    val src = spark.readStream.schema("event_type STRING, value DOUBLE")
      .parquet(tmp.getAbsolutePath + "/f1")
    val got = Streams.latest(Streams.runAvailableNow(
        Streams.runningMomentsState(src), "mom_null"), "g")
      .collect().map(r => r.getAs[String]("g") ->
        ((r.getAs[Long]("n"), r.getAs[Long]("s"), r.getAs[Long]("hi"),
          r.getAs[Long]("lo")))).toMap
    // t = 123456, t² = 15241383936 = 15·10⁹ + 241383936
    assert(got == Map("a" -> ((2L, 123456L, 15L, 241383936L)),
      "b" -> ((1L, 0L, 0L, 0L))), s"got $got")
    org.apache.commons.io.FileUtils.deleteDirectory(tmp)
  }

  test("runAvailableNow puts the session conf back after a drain, also " +
      "when the stream throws") {
    val keys = Seq("spark.sql.shuffle.partitions",
      "spark.sql.streaming.checkpoint.fileChecksum.enabled",
      "spark.sql.streaming.noDataMicroBatches.enabled")
    def conf() = keys.map(k => k -> spark.conf.getOption(k))
    val saved = conf()
    try {
      // values no drain runs on, so a leak of the drain conf shows
      spark.conf.set("spark.sql.shuffle.partitions", "3")
      keys.tail.foreach(spark.conf.set(_, "true"))
      val before = conf()
      assert(Streams.runAvailableNow(
        Streams.eventsStream(spark, dir).select(col("event_id")),
        "conf_ok").count() > 0)
      assert(conf() == before)
      val e = intercept[Exception] {
        Streams.runAvailableNow(
          Streams.eventsStream(spark, dir).select(
            when(col("event_id").isNotNull, raise_error(lit("drain boom")))
              .otherwise(lit(0L)).as("x")),
          "conf_boom")
      }
      assert(e.getMessage.contains("drain boom"), e.getMessage)
      assert(conf() == before)
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("runAvailableNow: two drains under one label each return only " +
      "their own rows") {
    val t0 = System.currentTimeMillis()
    val (a, b) = (java.nio.file.Files.createTempDirectory("drain_a").toFile,
      java.nio.file.Files.createTempDirectory("drain_b").toFile)
    writeDocsFile(a, "a.parquet", Seq((1L, "one")), t0)
    writeDocsFile(b, "b.parquet", Seq((2L, "two"), (3L, "three")), t0)
    def drain(d: java.io.File) = Streams.runAvailableNow(
      Streams.docsStream(spark, d.getPath, glob = "*.parquet")
        .select(col("doc_id")), "same_label")
    def ids(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.getLong(0)).toSet
    val first = drain(a)
    val second = drain(b)
    assert(ids(first) == Set(1L))
    assert(ids(second) == Set(2L, 3L))
    Seq(a, b).foreach(org.apache.commons.io.FileUtils.deleteDirectory)
  }

  test("cdcLatestState: LWW with tombstones across micro-batches — a " +
      "LATE delete loses to the newer upsert, a newer delete wins") {
    import spark.implicits._
    val t0 = System.currentTimeMillis()
    val dir2 = java.nio.file.Files.createTempDirectory("cdc_mb").toFile
    def file(name: String,
        rows: Seq[(Long, Long, Long, String, Double)], mt: Long): Unit = {
      val stage = new java.io.File(dir2, s"__stage_$name")
      rows.map { case (id, tsMin, user, tpe, v) =>
        (id, 1000L * 60 * tsMin, user, tpe, v, "{}") }
        .toDF("event_id", "ts", "user_id", "event_type", "value",
          "props")
        .withColumn("ts", timestamp_micros(expr("ts div 1000")).cast(
          org.apache.spark.sql.types.TimestampNTZType))
        .coalesce(1).write.mode("overwrite").parquet(stage.getPath)
      val part = stage.listFiles()
        .find(_.getName.endsWith(".parquet")).get
      val dst = new java.io.File(dir2, name)
      java.nio.file.Files.move(part.toPath, dst.toPath)
      dst.setLastModified(mt)
      org.apache.commons.io.FileUtils.deleteDirectory(stage)
    }
    // batch 1: both users upsert at ts 100
    file("a.parquet", Seq(
      (10L, 100L, 7L, "click", 5.0),
      (11L, 100L, 8L, "click", 2.0)), t0 - 60000)
    // batch 2: user 7 gets a LATE tombstone (ts 50 < 100 — must
    // lose), user 8 a newer tombstone (ts 200 — must win)
    file("b.parquet", Seq(
      (12L, 50L, 7L, "error", 0.0),
      (13L, 200L, 8L, "error", 0.0)), t0)
    val changes = Streams.eventsStream(spark, dir2.getPath,
        glob = "*.parquet", maxFilesPerTrigger = 1)
      .withColumn("op",
        when(col("event_type") === "error", "D").otherwise("U"))
      .select(col("user_id"), col("ts_ns"), col("event_id"),
        col("op"), col("value"))
    val drained = Streams.runAvailableNow(
      Streams.cdcLatestState(changes).toDF(), "cdc_multibatch")
    // both keys were touched in both batches → updates reaches 2
    assert(drained.select("updates").distinct().count() >= 2)
    val wl = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id"))
    val fin = drained
      .withColumn("__mx", max(col("updates")).over(wl))
      .filter(col("updates") === col("__mx"))
      .select("user_id", "op", "event_id", "value")
      .collect().map(r => r.getAs[Long]("user_id") ->
        ((r.getAs[String]("op"), r.getAs[Long]("event_id"),
          r.getAs[Double]("value")))).toMap
    assert(fin(7L) == (("U", 10L, 5.0)),
      s"late tombstone must lose to the newer upsert: $fin")
    assert(fin(8L) == (("D", 13L, 0.0)),
      s"newer tombstone must win: $fin")
    org.apache.commons.io.FileUtils.deleteDirectory(dir2)
  }

  test("asofEnrichAvailableNow: a two-file drain equals the batch " +
      "as-of join of the union — batch boundaries don't matter for a " +
      "stream-static as-of (VERDICT r8 stretch 7)") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("asof_mb").toFile
    val t0 = System.currentTimeMillis()
    // clicks split across two micro-batches; user 9 has no purchase
    writeEventsFile(tmp, "a.parquet",
      Seq((5L * min, 7L), (12L * min, 7L)), t0 - 60000)
    writeEventsFile(tmp, "b.parquet",
      Seq((45L * min, 7L), (5L * min, 9L)), t0)
    // static purchase history: user 7 at 4min (v=10) and 10min (v=20)
    val dim = Seq((7L, 4L * min, 10.0), (7L, 10L * min, 20.0))
      .toDF("user_id", "purchase_ts", "purchase_value")
      .withColumn("purchase_ts",
        timestamp_micros(expr("purchase_ts div 1000")))
    val base = java.nio.file.Files.createTempDirectory("asof_mb_out")
    val clicks = Streams.eventsStream(
      spark, tmp.getPath, glob = "*.parquet", maxFilesPerTrigger = 1)
      .select(col("user_id"), col("ts").as("click_ts"),
        col("value").as("click_value"))
    val tol = Some(30L * 60 * 1000 * 1000) // 30 min in micros
    val streamed = Streams.asofEnrichAvailableNow(
      clicks, dim, Seq("user_id"), "click_ts", "purchase_ts", tol,
      outDir = s"$base/out", checkpoint = s"$base/ckpt",
      label = "asof_mb")
      .select(col("user_id"), col("click_ts"), col("purchase_value"))
    val got = streamed.collect()
      .map(r => (r.getLong(0), r.getTimestamp(1).getTime / 60000,
        Option(r.get(2)).map(_.asInstanceOf[Double]))).sorted
    // click@5 → purchase@4 (v=10); click@12 → purchase@10 (v=20);
    // click@45 → purchase@10 is 35min stale (> 30min tol) → NULL;
    // user 9 → no purchase → NULL
    assert(got.toSeq == Seq(
      (7L, 5L, Some(10.0)), (7L, 12L, Some(20.0)), (7L, 45L, None),
      (9L, 5L, None)), s"got ${got.mkString(",")}")
    // and it equals the one-shot batch join of the SAME rows
    val batchClicks = spark.read.parquet(tmp.getPath)
      .withColumn("ts", col("ts").cast(
        org.apache.spark.sql.types.TimestampType))
      .select(col("user_id"), col("ts").as("click_ts"),
        col("value").as("click_value"))
    val batch = graft.operators.Joins.asofJoin(batchClicks, dim,
      Seq("user_id"), "click_ts", "purchase_ts", tol)
      .select(col("user_id"), col("click_ts"), col("purchase_value"))
    assert(streamed.exceptAll(batch).count() == 0 &&
      batch.exceptAll(streamed).count() == 0)
    org.apache.commons.io.FileUtils.deleteDirectory(tmp)
    org.apache.commons.io.FileUtils.deleteDirectory(base.toFile)
  }

  /** [[writeEventsFile]] with per-event type and id — the transition
    * fixtures need both. */
  private def writeTypedEventsFile(
      dir: java.io.File,
      name: String,
      events: Seq[(Long, Long, String, Long)], // (tsNs, userId, type, id)
      modTime: Long): Unit = {
    import spark.implicits._
    val stage = new java.io.File(dir, s"__stage_$name")
    events
      .map { case (t, u, tp, id) => (id, t, u, tp, 1.0, "{}") }
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .withColumn("ts",
        timestamp_micros(org.apache.spark.sql.functions.expr("ts div 1000"))
          .cast(org.apache.spark.sql.types.TimestampNTZType))
      .coalesce(1).write.mode("overwrite").parquet(stage.getPath)
    val part = stage.listFiles().find(_.getName.endsWith(".parquet")).get
    val dst = new java.io.File(dir, name)
    java.nio.file.Files.move(part.toPath, dst.toPath)
    dst.setLastModified(modTime)
    org.apache.commons.io.FileUtils.deleteDirectory(stage)
  }

  test("a transition spanning two micro-batches counts exactly once " +
      "(carried LastEvent state links the batch boundary)") {
    val tmp = java.nio.file.Files.createTempDirectory("trans_mb").toFile
    // batch 1: user 1 a->b (and a lone user-2 event: no transition);
    // batch 2: user 1 c — the b->c link exists ONLY via carried state
    writeTypedEventsFile(tmp, "b1.parquet",
      Seq((0L, 1L, "a", 1L), (min, 1L, "b", 2L), (0L, 2L, "d", 3L)),
      modTime = 1000L)
    writeTypedEventsFile(tmp, "b2.parquet",
      Seq((2 * min, 1L, "c", 4L)), modTime = 2000L)
    val raw = Streams.runAvailableNow(
      Streams.ngramCountsState(Streams.eventsStream(
        spark, tmp.getPath, glob = "*.parquet", maxFilesPerTrigger = 1), 2)
        .toDF(),
      "trans_multibatch")
    val got = raw.groupBy(col("gram")(0), col("gram")(1))
      .agg(sum(col("n_inc")).as("n")).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(got == Map(("a", "b") -> 1L, ("b", "c") -> 1L), s"got $got")
    org.apache.commons.io.FileUtils.deleteDirectory(tmp)
  }

  test("a length-3 path straddling the batch boundary counts exactly " +
      "once (carried LastTwo state spans two micro-batches)") {
    val tmp = java.nio.file.Files.createTempDirectory("paths_mb").toFile
    // batch 1: user 1 sees a, b — no length-3 path yet;
    // batch 2: user 1 sees c, d — a>b>c exists ONLY via the carried
    // two-event state, b>c>d via one carried event
    writeTypedEventsFile(tmp, "b1.parquet",
      Seq((0L, 1L, "a", 1L), (min, 1L, "b", 2L)), modTime = 1000L)
    writeTypedEventsFile(tmp, "b2.parquet",
      Seq((2 * min, 1L, "c", 3L), (3 * min, 1L, "d", 4L)),
      modTime = 2000L)
    val raw = Streams.runAvailableNow(
      Streams.ngramCountsState(Streams.eventsStream(
        spark, tmp.getPath, glob = "*.parquet", maxFilesPerTrigger = 1), 3)
        .toDF(),
      "paths_multibatch")
    val got = raw.groupBy(array_join(col("gram"), ">"))
      .agg(sum(col("n_inc")).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got == Map("a>b>c" -> 1L, "b>c>d" -> 1L), s"got $got")
    org.apache.commons.io.FileUtils.deleteDirectory(tmp)
  }

  test("a NULL event_type across the batch boundary: the drained " +
      "n-gram sums equal the batch transition matrix and path census") {
    val tmp = java.nio.file.Files.createTempDirectory("ngram_null").toFile
    val one = java.nio.file.Files.createTempDirectory("ngram_null1").toFile
    // user 1: a, b | NULL, c, a, b — the NULL is the last type of a
    // path (a>b>NULL), the first of a transition (NULL→c) and the
    // middle of a path, each straddling the boundary; user 2: c | a, b
    val b1 = Seq((0L, 1L, "a", 1L), (min, 1L, "b", 2L), (0L, 2L, "c", 3L))
    val b2 = Seq((2 * min, 1L, null, 4L), (3 * min, 1L, "c", 5L),
      (4 * min, 1L, "a", 6L), (5 * min, 1L, "b", 7L),
      (min, 2L, "a", 8L), (2 * min, 2L, "b", 9L))
    writeTypedEventsFile(tmp, "b1.parquet", b1, modTime = 1000L)
    writeTypedEventsFile(tmp, "b2.parquet", b2, modTime = 2000L)
    def drain(n: Int) = Streams.runAvailableNow(
      Streams.ngramCountsState(Streams.eventsStream(
        spark, tmp.getPath, glob = "*.parquet", maxFilesPerTrigger = 1), n)
        .toDF(), s"ngram_null_$n")
    // each consumer's NULL rule, as q_stream_transitions and
    // q_stream_paths apply it
    val trans = drain(2).filter(col("gram")(0).isNotNull)
      .groupBy(col("gram")(0), col("gram")(1))
      .agg(sum(col("n_inc"))).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    val paths = drain(3).filter(!exists(col("gram"), _.isNull))
      .groupBy(array_join(col("gram"), ">"))
      .agg(sum(col("n_inc"))).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val batchEvents = spark.read.parquet(tmp.getPath)
    val batchTrans = graft.operators.Stats.transitionMatrix(batchEvents,
      col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        r.getAs[Long]("n_trans")).toMap
    val batchPaths = graft.operators.Stats.pathMining(batchEvents,
      col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .collect().map(r => r.getString(0) -> r.getAs[Long]("n")).toMap
    assert(trans == batchTrans && trans.contains(("b", null)),
      s"drained $trans vs batch $batchTrans")
    assert(paths == batchPaths && paths == Map("c>a>b" -> 2L),
      s"drained $paths vs batch $batchPaths")
    // the catalog twins apply the same rules: over one file holding
    // both batches, each streaming query equals its batch query
    writeTypedEventsFile(one, "events.parquet", b1 ++ b2, modTime = 1000L)
    Seq("q_stream_transitions" -> "q_event_transitions",
        "q_stream_paths" -> "q_event_paths").foreach { case (sq, bq) =>
      def rows(q: String) = graft.Queries.queries(q)(spark, one.getPath)
        .collect().map(_.toSeq).toSet
      assert(rows(sq) == rows(bq), s"$sq vs $bq")
    }
    org.apache.commons.io.FileUtils.deleteDirectory(tmp)
    org.apache.commons.io.FileUtils.deleteDirectory(one)
  }

  test("basket set-state census: an item re-seen in a later batch " +
      "adds nothing; a cross-batch new item pairs against carried " +
      "items exactly once") {
    val tmp = java.nio.file.Files.createTempDirectory("assoc_mb").toFile
    // batch 1: user 1 {a, b}, user 2 {a}; batch 2: user 1 sees b
    // AGAIN (no-op) then c — c must pair with carried {a, b} only
    writeTypedEventsFile(tmp, "b1.parquet",
      Seq((0L, 1L, "a", 1L), (min, 1L, "b", 2L), (0L, 2L, "a", 3L)),
      modTime = 1000L)
    writeTypedEventsFile(tmp, "b2.parquet",
      Seq((2 * min, 1L, "b", 4L), (3 * min, 1L, "c", 5L)),
      modTime = 2000L)
    val raw = Streams.runAvailableNow(
      Streams.assocSetState(Streams.eventsStream(
        spark, tmp.getPath, glob = "*.parquet", maxFilesPerTrigger = 1))
        .toDF(),
      "assoc_multibatch")
    val sums = raw.groupBy(col("kind"), col("a"), col("b"))
      .agg(sum(col("n_inc")).as("n")).collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2)) ->
        r.getLong(3)).toMap
    assert(sums(("user", "", "")) == 2L)
    assert(sums(("item", "a", "")) == 2L) // users 1 and 2
    assert(sums(("item", "b", "")) == 1L) // the re-seen b adds nothing
    assert(sums(("item", "c", "")) == 1L)
    // user 1's pairs: all ordered pairs of {a,b,c}, each exactly once
    val pairs = sums.collect { case (("pair", x, y), n) => (x, y) -> n }
    assert(pairs.toMap == Map(("a", "b") -> 1L, ("b", "a") -> 1L,
      ("c", "a") -> 1L, ("a", "c") -> 1L, ("c", "b") -> 1L,
      ("b", "c") -> 1L), s"got $pairs")
    org.apache.commons.io.FileUtils.deleteDirectory(tmp)
  }

  /** One parquet file of documents rows — building block for
    * multi-batch near-dup drains. */
  private def writeDocsFile(
      dir: java.io.File,
      name: String,
      docs: Seq[(Long, String)],
      modTime: Long): Unit = {
    import spark.implicits._
    val stage = new java.io.File(dir, s"__stage_$name")
    docs.map { case (id, t) => (id, t, "en", "test", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(stage.getPath)
    val part = stage.listFiles().find(_.getName.endsWith(".parquet")).get
    val dst = new java.io.File(dir, name)
    java.nio.file.Files.move(part.toPath, dst.toPath)
    dst.setLastModified(modTime)
    org.apache.commons.io.FileUtils.deleteDirectory(stage)
  }

  test("near-dup flag against a PREVIOUS micro-batch's band state " +
    "(single-batch would give the opposite verdict)") {
    val tmp = java.nio.file.Files.createTempDirectory("neardup_mb").toFile
    val t0 = System.currentTimeMillis()
    val base = "the quick brown fox jumps over the lazy dog again and again"
    // The probe DELIBERATELY breaks the doc_id-ordered-files replay
    // contract: doc 5 (batch 1) and doc 3 (batch 2) share a text. A
    // merged single batch sorts by doc_id and would flag doc 5 (3 is
    // "earlier"); the two-batch drain must flag doc 3 against the
    // CARRIED state instead — so the asserted verdict is impossible
    // without both the batch split and the cross-batch state.
    writeDocsFile(tmp, "a.parquet", Seq(
      (5L, base),
      (2L, "completely different words entirely unrelated content here")),
      t0 - 60000)
    writeDocsFile(tmp, "b.parquet", Seq(
      (3L, base),
      (11L, "yet another unique document with its own vocabulary")), t0)
    val raw = Streams.runAvailableNow(
      Streams.nearDupFlags(Streams.docsStream(
        spark, tmp.getPath, glob = "*.parquet", maxFilesPerTrigger = 1))
        .toDF(), "neardup_multibatch")
    val verdict = raw.groupBy(col("doc_id"))
      .agg(max(when(col("dup"), 1).otherwise(0)).as("d"))
      .collect().map(r => r.getLong(0) -> (r.getInt(1) == 1)).toMap
    assert(verdict ==
      Map(5L -> false, 2L -> false, 3L -> true, 11L -> false),
      s"got $verdict")
    org.apache.commons.io.FileUtils.deleteDirectory(tmp)
  }

  test("cumulative histogram state accumulates ACROSS micro-batches " +
    "(cell re-emitted with a growing monotone total)") {
    val tmp = java.nio.file.Files.createTempDirectory("hist_mb").toFile
    val t0 = System.currentTimeMillis()
    // n_chars = text.length here; bin width 60 over [0, 600):
    // batch 1 lands two docs in bin 0 (len < 60); batch 2 adds one
    // more in bin 0 and one in bin 1 (len in [60, 120))
    val short = "x" * 10
    val mid = "y" * 70
    writeDocsFile(tmp, "a.parquet", Seq((1L, short), (2L, short)),
      t0 - 60000)
    writeDocsFile(tmp, "b.parquet", Seq((3L, short), (4L, mid)), t0)
    val raw = Streams.runAvailableNow(
      Streams.histogramCountsState(
        Streams.docsStream(spark, tmp.getPath, glob = "*.parquet",
          maxFilesPerTrigger = 1),
        "n_chars", "source", lo = 0.0, hi = 600.0, nBins = 10).toDF(),
      "hist_multibatch")
    // bin 0 was emitted once per batch: 2 then 3 — the carried state
    // is what turns batch 2's single arrival into a total of 3
    val bin0 = raw.filter(col("bin") === 0).select(col("n"))
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(bin0 == Seq(2L, 3L), s"got $bin0")
    val latest = raw.groupBy(col("bin")).agg(max(col("n")).as("n"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(latest == Map(0 -> 3L, 1 -> 1L), s"got $latest")
    org.apache.commons.io.FileUtils.deleteDirectory(tmp)
  }

  test("tokenCountsState carries per-(half, token) counts ACROSS " +
    "micro-batches (the trending monitor's state backbone)") {
    val tmp = java.nio.file.Files.createTempDirectory("trend_mb").toFile
    val t0 = System.currentTimeMillis()
    // late = doc_id >= 8. batch 1: early doc says "apple apple";
    // batch 2: early doc adds one more "apple" (carry → 3) and a late
    // doc introduces "apple" on the late side (independent cell)
    writeDocsFile(tmp, "a.parquet", Seq((1L, "apple apple")),
      t0 - 60000)
    writeDocsFile(tmp, "b.parquet", Seq((2L, "apple banana"),
      (9L, "apple")), t0)
    val raw = Streams.runAvailableNow(
      Streams.tokenCountsState(
        Streams.docsStream(spark, tmp.getPath, glob = "*.parquet",
          maxFilesPerTrigger = 1),
        col("doc_id") >= 8, col("text")).toDF(), "trend_multibatch")
    // (early, apple) was emitted once per batch: 2 then 3 — the
    // carried state turns batch 2's single arrival into a total of 3
    val earlyApple = raw
      .filter(!col("late") && col("w") === "apple").select(col("n"))
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(earlyApple == Seq(2L, 3L), s"got $earlyApple")
    val latest = raw.groupBy(col("late"), col("w"))
      .agg(max(col("n")).as("n")).collect()
      .map(r => (r.getBoolean(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(latest == Map((false, "apple") -> 3L,
      (false, "banana") -> 1L, (true, "apple") -> 1L), s"got $latest")
    org.apache.commons.io.FileUtils.deleteDirectory(tmp)
  }

  test("dailySuccessState carries per-period (n, s) ACROSS " +
    "micro-batches (the streaming SPRT backbone)") {
    val tmp = java.nio.file.Files.createTempDirectory("sprt_mb").toFile
    val t0 = System.currentTimeMillis()
    // one period key: batch 1 lands (n=2, s=1); batch 2 adds one
    // success -> the carried state re-emits (3, 2), not (1, 1)
    writeDocsFile(tmp, "a.parquet", Seq((1L, "long text"), (2L, "no")),
      t0 - 60000)
    writeDocsFile(tmp, "b.parquet", Seq((3L, "also long")), t0)
    val raw = Streams.runAvailableNow(
      Streams.cumulativeState(
        Streams.docsStream(spark, tmp.getPath, glob = "*.parquet",
          maxFilesPerTrigger = 1),
        Seq(lit("D").as("d")),
        Seq(lit(1L).as("n"), (length(col("text")) > 3).as("s"))),
      "sprt_multibatch")
    val emissions = raw.collect()
      .map(r => (r.getAs[Long]("n"), r.getAs[Long]("s"))).sorted.toSeq
    assert(emissions == Seq((2L, 1L), (3L, 2L)), s"got $emissions")
    org.apache.commons.io.FileUtils.deleteDirectory(tmp)
  }

  test("dailySumState carries per-period scaled-integer sums ACROSS " +
    "micro-batches (the streaming EWMA feeder)") {
    val tmp = java.nio.file.Files.createTempDirectory("dsum_mb").toFile
    val t0 = System.currentTimeMillis()
    // one period key: batch 1 lands lengths 9+2 (s4=110000, n=2);
    // batch 2 adds length 9 -> the carried state re-emits the
    // cumulative (updates=2, n=3, s4=200000), not a fresh (1, 90000)
    writeDocsFile(tmp, "a.parquet", Seq((1L, "long text"), (2L, "no")),
      t0 - 60000)
    writeDocsFile(tmp, "b.parquet", Seq((3L, "also long")), t0)
    val raw = Streams.runAvailableNow(
      Streams.dailySumState(
        Streams.docsStream(spark, tmp.getPath, glob = "*.parquet",
          maxFilesPerTrigger = 1),
        lit("D"), length(col("text")).cast("double")).toDF(),
      "dsum_multibatch")
    val emissions = raw.collect()
      .map(r => (r.getAs[Long]("updates"), r.getAs[Long]("n"),
        r.getAs[Long]("s4"))).sorted.toSeq
    assert(emissions == Seq((1L, 2L, 110000L), (2L, 3L, 200000L)),
      s"got $emissions")
    org.apache.commons.io.FileUtils.deleteDirectory(tmp)
  }

  test("funnelStageState links the chain ACROSS micro-batches and " +
    "ignores out-of-order pre-anchor steps") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("funnel_mb").toFile
    val t0 = System.currentTimeMillis()
    def write(name: String, rows: Seq[(Long, Long, Long, String)],
        mod: Long): Unit = {
      val stage = new java.io.File(tmp, s"__stage_$name")
      rows.map { case (id, t, u, tp) => (id, t, u, tp, 1.0, "{}") }
        .toDF("event_id", "ts", "user_id", "event_type", "value",
          "props")
        .withColumn("ts", timestamp_micros(expr("ts div 1000"))
          .cast(org.apache.spark.sql.types.TimestampNTZType))
        .coalesce(1).write.mode("overwrite").parquet(stage.getPath)
      val part = stage.listFiles().find(_.getName.endsWith(".parquet")).get
      val dst = new java.io.File(tmp, name)
      java.nio.file.Files.move(part.toPath, dst.toPath)
      dst.setLastModified(mod)
      org.apache.commons.io.FileUtils.deleteDirectory(stage)
    }
    // batch 1: user 1 clicks BEFORE its first view (never a step-2),
    // then views; batch 2 delivers click+purchase — the carried t1
    // must link them. user 2 purchases with no prior chain: stuck.
    write("a.parquet", Seq(
      (1L, 500000000L, 1L, "click"), (2L, 1000000000L, 1L, "view")),
      t0 - 60000)
    write("b.parquet", Seq(
      (3L, 2000000000L, 1L, "click"), (4L, 3000000000L, 1L, "purchase"),
      (5L, 1000000000L, 2L, "purchase")), t0)
    val raw = Streams.runAvailableNow(
      Streams.funnelStageState(
        Streams.eventsStream(spark, tmp.getPath, glob = "*.parquet",
          maxFilesPerTrigger = 1),
        Seq("view", "click", "purchase")).toDF(), "funnel_multibatch")
    val latest = raw.collect()
      .groupBy(_.getAs[Long]("user_id"))
      .map { case (u, rs) =>
        val r = rs.maxBy(_.getAs[Long]("updates"))
        u -> (r.getAs[Long]("t1"), r.getAs[Long]("t2"),
          r.getAs[Long]("t3"))
      }
    assert(latest(1L) == ((1000000L, 2000000L, 3000000L)),
      s"got ${latest(1L)}")
    assert(latest(2L) == ((-1L, -1L, -1L)), s"got ${latest(2L)}")
    org.apache.commons.io.FileUtils.deleteDirectory(tmp)
  }

  test("funnelStageState: a user idle for batches keeps the carried " +
    "anchor, so a returning click advances the chain") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("funnel_idle").toFile
    val t0 = System.currentTimeMillis()
    def write(name: String, rows: Seq[(Long, Long, Long, String)],
        mod: Long): Unit = {
      val stage = new java.io.File(tmp, s"__stage_$name")
      rows.map { case (id, t, u, tp) => (id, t, u, tp, 1.0, "{}") }
        .toDF("event_id", "ts", "user_id", "event_type", "value",
          "props")
        .withColumn("ts", timestamp_micros(expr("ts div 1000"))
          .cast(org.apache.spark.sql.types.TimestampNTZType))
        .coalesce(1).write.mode("overwrite").parquet(stage.getPath)
      val part = stage.listFiles().find(_.getName.endsWith(".parquet")).get
      val dst = new java.io.File(tmp, name)
      java.nio.file.Files.move(part.toPath, dst.toPath)
      dst.setLastModified(mod)
      org.apache.commons.io.FileUtils.deleteDirectory(stage)
    }
    val h = 3600L * 1000 * 1000 * 1000 // 1 hour in ns
    val s = 1000L * 1000 * 1000 // 1 second in ns
    // batch 1: users 1 & 2 view at 1h
    write("a.parquet",
      Seq((1L, h, 1L, "view"), (2L, h, 2L, "view")), t0 - 90000)
    // batches 2 and 3: user 1 gets no data for three event-time hours
    write("b.parquet", Seq((3L, 4 * h, 2L, "click")), t0 - 60000)
    write("c.parquet", Seq((4L, 4 * h + s, 3L, "view")), t0 - 30000)
    // batch 4: user 1 returns with a click; user 2 completes the funnel
    write("d.parquet", Seq((5L, 4 * h + 2 * s, 1L, "click"),
      (6L, 4 * h + 2 * s, 2L, "purchase")), t0)
    val rows = Streams.runAvailableNow(
      Streams.funnelStageState(
        Streams.eventsStream(spark, tmp.getPath, glob = "*.parquet",
          maxFilesPerTrigger = 1),
        Seq("view", "click", "purchase")).toDF(), "funnel_idle")
      .collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("updates"),
        r.getAs[Long]("t1"), r.getAs[Long]("t2"), r.getAs[Long]("t3")))
    val hUs = h / 1000
    // user 1's emissions: the batch-1 anchor, then the return, whose
    // click advances the carried chain; the counter is the plain
    // per-key sequence
    val u1 = rows.filter(_._1 == 1L).map(t => (t._2, t._3, t._4, t._5))
      .sortBy(_._1).toSeq
    assert(u1 == Seq((1L, hUs, -1L, -1L),
      (2L, hUs, 4 * hUs + 2 * s / 1000, -1L)), s"user 1 history: $u1")
    val u1Plain = rows.filter(_._1 == 1L).maxBy(_._2)
    assert((u1Plain._3, u1Plain._4) == ((hUs, 4 * hUs + 2 * s / 1000)),
      s"user 1: $u1Plain")
    // user 2 completes the full chain
    val u2Latest = rows.filter(_._1 == 2L).maxBy(_._2)
    assert((u2Latest._3, u2Latest._4, u2Latest._5) ==
      ((hUs, 4 * hUs, 4 * hUs + 2 * s / 1000)), s"user 2: $u2Latest")
    org.apache.commons.io.FileUtils.deleteDirectory(tmp)
  }

  test("amsSumsState: signed sums accumulate ACROSS micro-batches " +
    "and the drained state equals the batch AMS sketch sums") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("ams_mb").toFile
    val t0 = System.currentTimeMillis()
    def mkFile(name: String, types: Seq[String], mod: Long): Unit = {
      val stage = new java.io.File(tmp, s"__stage_$name")
      types.zipWithIndex.map { case (tp, i) =>
        (i.toLong, 1000000000L * (i + 1), 1L, tp, 1.0, "{}")
      }.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
        .withColumn("ts", timestamp_micros(expr("ts div 1000"))
          .cast(org.apache.spark.sql.types.TimestampNTZType))
        .coalesce(1).write.mode("overwrite").parquet(stage.getPath)
      val part = stage.listFiles().find(_.getName.endsWith(".parquet")).get
      java.nio.file.Files.move(part.toPath,
        new java.io.File(tmp, name).toPath)
      new java.io.File(tmp, name).setLastModified(mod)
      org.apache.commons.io.FileUtils.deleteDirectory(stage)
    }
    mkFile("a.parquet", Seq("x", "x", "y"), t0 - 60000)
    mkFile("b.parquet", Seq("y", "z", "x"), t0)
    val drained = Streams.runAvailableNow(
      Streams.amsSumsState(
        Streams.eventsStream(spark, tmp.getPath, glob = "*.parquet",
          maxFilesPerTrigger = 1),
        col("event_type"), depth = 3).toDF(), "ams_multibatch")
    // every depth row was re-emitted per batch (updates 1 then 2)
    assert(drained.filter(col("updates") === 2L).count() == 3L,
      s"expected 3 second-batch emissions:\n" +
        drained.collect().mkString("\n"))
    val latest = drained.groupBy(col("j"))
      .agg(max(struct(col("updates"), col("n"), col("s"))).as("x"))
      .select(col("j"), col("x.n"), col("x.s"))
      .collect().map(r => r.getInt(0) -> (r.getLong(1), r.getLong(2)))
      .toMap
    // the batch sums over the union must match exactly
    val batch = spark.read.parquet(tmp.getPath)
      .agg(count(lit(1)).as("n"),
        (0 until 3).map(j => sum(graft.operators.Stats
          .amsSigma(col("event_type"), j)).as(s"s$j")): _*)
      .collect()(0)
    (0 until 3).foreach { j =>
      assert(latest(j) == ((batch.getLong(0), batch.getLong(j + 1))),
        s"depth $j: drained ${latest(j)} vs batch $batch")
    }
    org.apache.commons.io.FileUtils.deleteDirectory(tmp)
  }

  test("quantileSketchCellsState: cell counts accumulate ACROSS " +
    "micro-batches and the drained histogram equals the batch sketch") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("qsk_mb").toFile
    val t0 = System.currentTimeMillis()
    // one group; values 1..6 split across two files — the drained
    // cells must equal the batch histogram over the union
    def mkFile(name: String, vals: Seq[Double], mod: Long): Unit = {
      val stage = new java.io.File(tmp, s"__stage_$name")
      vals.zipWithIndex.map { case (v, i) =>
        (i.toLong, 1000000000L * (i + 1), 1L, "click", v, "{}")
      }.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
        .withColumn("ts", timestamp_micros(expr("ts div 1000"))
          .cast(org.apache.spark.sql.types.TimestampNTZType))
        .coalesce(1).write.mode("overwrite").parquet(stage.getPath)
      val part = stage.listFiles().find(_.getName.endsWith(".parquet")).get
      java.nio.file.Files.move(part.toPath,
        new java.io.File(tmp, name).toPath)
      new java.io.File(tmp, name).setLastModified(mod)
      org.apache.commons.io.FileUtils.deleteDirectory(stage)
    }
    mkFile("a.parquet", Seq(1.0, 2.0, 2.0), t0 - 60000)
    mkFile("b.parquet", Seq(2.0, 5.0, 6.0), t0)
    def e4(df: org.apache.spark.sql.DataFrame) = df
      .select(col("event_type").as("__g"),
        (col("value").cast(org.apache.spark.sql.types.DecimalType(18, 4))
          * 10000).cast("long").as("__e4"))
      .filter(col("__e4").isNotNull)
    val batchRows = e4(spark.read.parquet(tmp.getPath))
    // `min` here is the spec's ns constant — qualify the aggregate
    val bounds = batchRows.groupBy(col("__g"))
      .agg(org.apache.spark.sql.functions.min(col("__e4")).as("__min"),
        max(col("__e4")).as("__max"))
    def toCells(df: org.apache.spark.sql.DataFrame) = df
      .join(broadcast(bounds), Seq("__g"))
      .select(col("__g"), col("__min"),
        expr("(__max - __min) div 256 + 1").as("__w"),
        expr("(__e4 - __min) div ((__max - __min) div 256 + 1)")
          .as("__idx"))
    val drained = Streams.runAvailableNow(
      Streams.cumulativeState(toCells(e4(
        Streams.eventsStream(spark, tmp.getPath, glob = "*.parquet",
          maxFilesPerTrigger = 1))),
        Seq(col("__g").as("g"), col("__min").as("mn"), col("__w").as("w"),
          col("__idx").as("idx")),
        Seq(lit(1L).as("n"))), "qsk_multibatch")
    // cross-batch accumulation really happened: the value-2 cell was
    // emitted at n=2 (batch 1) then n=3 (batch 2 extended the STATE)
    val cell2 = drained.filter(col("n") === 3L).count()
    assert(cell2 == 1L, s"expected the shared cell to reach n=3:\n" +
      drained.collect().mkString("\n"))
    val latest = drained.groupBy(col("g"), col("mn"), col("w"),
        col("idx")).agg(max(col("n")).as("cnt"))
      .collect().map(r => (r.getLong(3), r.getLong(4))).toMap
    val batchCells = graft.operators.Stats.quantileSketchState(
        batchRows.select(col("__g"), col("__e4").as("v")),
        Seq("__g"), col("v") / 10000.0)
      .collect().map(r => (r.getAs[Long]("__idx"), r.getAs[Long]("__cnt")))
      .toMap
    assert(latest == batchCells, s"drained $latest vs batch $batchCells")
    org.apache.commons.io.FileUtils.deleteDirectory(tmp)
  }

  test("kmvCellsState carries k-minima ACROSS micro-batches and the " +
    "drained sketch equals the batch aggregator's") {
    val tmp = java.nio.file.Files.createTempDirectory("kmv_mb").toFile
    val t0 = System.currentTimeMillis()
    writeDocsFile(tmp, "a.parquet",
      (1L to 5L).map(i => (i, s"doc number $i")), t0 - 60000)
    writeDocsFile(tmp, "b.parquet",
      (6L to 9L).map(i => (i, s"doc number $i")), t0)
    def hashOf(c: org.apache.spark.sql.Column) =
      graft.functions.KmvSketch.uniformize(
        graft.operators.TextAnalysis.fingerprintRolling(c))
    val raw = Streams.runAvailableNow(
      Streams.kmvCellsState(
        Streams.docsStream(spark, tmp.getPath, glob = "*.parquet",
          maxFilesPerTrigger = 1)
          .select(lit("S").as("k"), hashOf(col("text")).as("h")),
        col("k"), col("h"), k = 3).toDF(), "kmv_multibatch")
    val byUpd = raw.collect()
      .map(r => r.getAs[Long]("updates") ->
        (r.getAs[Long]("n"), r.getAs[Long]("kth"))).toMap
    // batch 1 fills the sketch (5 distinct > k=3); batch 2's state
    // must extend batch 1's, not restart
    assert(byUpd(1L)._1 == 3L)
    val batch = spark.read.parquet(tmp.getPath)
      .agg(graft.functions.KmvSketch.kmvAgg(hashOf(col("text")), 3)
        .as("kmv"))
      .select(col("kmv.n"), col("kmv.kth")).collect()(0)
    assert(byUpd(2L) == ((batch.getLong(0), batch.getLong(1))),
      s"drained ${byUpd(2L)} vs batch $batch")
    // the k-th minimum can only shrink as data arrives
    assert(byUpd(2L)._2 <= byUpd(1L)._2)
    org.apache.commons.io.FileUtils.deleteDirectory(tmp)
  }

  test("cmsCellsState carries cell counts ACROSS micro-batches (the " +
    "streaming count-min backbone)") {
    val tmp = java.nio.file.Files.createTempDirectory("cms_mb").toFile
    val t0 = System.currentTimeMillis()
    // one token: its 4 cells (one per depth row) each emit 2 after
    // batch 1 and 3 after batch 2 — the carried state turns batch
    // 2's single arrival into a cumulative 3
    writeDocsFile(tmp, "a.parquet", Seq((1L, "apple apple")),
      t0 - 60000)
    writeDocsFile(tmp, "b.parquet", Seq((2L, "apple")), t0)
    val raw = Streams.runAvailableNow(
      Streams.cmsCellsState(
        Streams.docsStream(spark, tmp.getPath, glob = "*.parquet",
          maxFilesPerTrigger = 1)
          .select(explode(graft.operators.TextAnalysis.tokens(
            lower(col("text")))).as("token")),
        col("token")).toDF(), "cms_multibatch")
    val perCell = raw.collect()
      .groupBy(r => (r.getAs[Int]("depth"), r.getAs[Long]("bucket")))
      .map { case (k, rs) => k -> rs.map(_.getAs[Long]("n")).sorted.toSeq }
    assert(perCell.size == 4, s"got ${perCell.keySet}")
    perCell.foreach { case (cell, ns) =>
      assert(ns == Seq(2L, 3L), s"cell $cell emitted $ns")
    }
    org.apache.commons.io.FileUtils.deleteDirectory(tmp)
  }

  test("budget admission carries spent quota ACROSS micro-batches " +
    "(a merged batch could not distinguish the carry)") {
    val tmp = java.nio.file.Files.createTempDirectory("budget_mb").toFile
    val t0 = System.currentTimeMillis()
    // budget 10 tokens: batch 1's doc 1 spends 6; batch 2's doc 2
    // costs 5 — admitted ONLY if batch 1's spend was forgotten. The
    // doc_id order matches the file order, so the batch replay gives
    // the same verdict; what the split pins is that the carried state
    // (not batch-local recount) made the decision: doc 3's cum must
    // start from 11, not 5.
    writeDocsFile(tmp, "a.parquet", Seq((1L, "a b c d e f")),
      t0 - 60000)
    writeDocsFile(tmp, "b.parquet", Seq((2L, "g h i j k"),
      (3L, "l m")), t0)
    val raw = Streams.runAvailableNow(
      Streams.tokenBudgetAdmission(
        Streams.docsStream(spark, tmp.getPath, glob = "*.parquet",
          maxFilesPerTrigger = 1),
        graft.operators.TextAnalysis.tokenCount(col("text")),
        "source", budget = 10L).toDF(), "budget_multibatch")
    val got = raw.collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("cum"), r.getAs[Boolean]("admitted"))).toMap
    assert(got == Map(1L -> (6L, true), 2L -> (11L, false),
      3L -> (13L, false)), s"got $got")
    org.apache.commons.io.FileUtils.deleteDirectory(tmp)
  }

  test("streaming transition drain equals the batch transition matrix") {
    val streamed = Streams.runAvailableNow(
      Streams.ngramCountsState(Streams.eventsStream(spark, dir), 2)
        .toDF(), "trans_drain")
      .filter(col("gram")(0).isNotNull)
      .groupBy(col("gram")(0), col("gram")(1))
      .agg(sum(col("n_inc")).as("n")).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    val batch = graft.operators.Stats.transitionMatrix(
      Tables.events(spark, dir), col("user_id"), col("ts"),
      col("event_id"), col("event_type")).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        r.getAs[Long]("n_trans")).toMap
    assert(streamed == batch)
  }

  test("histogramCountsState: a cell idle for batches keeps its count " +
    "and resumes cumulatively") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("hist_idle").toFile
    val t0 = System.currentTimeMillis()
    def write(name: String, rows: Seq[(Long, Long, String)],
        mod: Long): Unit = {
      val stage = new java.io.File(tmp, s"__stage_$name")
      rows.map { case (id, t, tp) => (id, t, 1L, tp, 10.0, "{}") }
        .toDF("event_id", "ts", "user_id", "event_type", "value",
          "props")
        .withColumn("ts", timestamp_micros(expr("ts div 1000"))
          .cast(org.apache.spark.sql.types.TimestampNTZType))
        .coalesce(1).write.mode("overwrite").parquet(stage.getPath)
      val part = stage.listFiles().find(_.getName.endsWith(".parquet")).get
      val dst = new java.io.File(tmp, name)
      java.nio.file.Files.move(part.toPath, dst.toPath)
      dst.setLastModified(mod)
      org.apache.commons.io.FileUtils.deleteDirectory(stage)
    }
    val h = 3600L * 1000 * 1000 * 1000
    val s = 1000L * 1000 * 1000
    // group "a" lands two values at 1h then goes idle; "b" stays live
    write("a.parquet", Seq((1L, h, "a"), (2L, h, "a"), (3L, h, "b")),
      t0 - 90000)
    write("b.parquet", Seq((4L, 4 * h, "b")), t0 - 60000)
    write("c.parquet", Seq((5L, 4 * h + s, "b")), t0 - 30000)
    // "a" returns: its cell carries on from the held count
    write("d.parquet", Seq((6L, 4 * h + 2 * s, "a")), t0)
    val rows = Streams.runAvailableNow(
      Streams.histogramCountsState(
        Streams.eventsStream(spark, tmp.getPath, glob = "*.parquet",
          maxFilesPerTrigger = 1),
        "value", "event_type", lo = 0.0, hi = 100.0, nBins = 10).toDF(),
      "hist_idle")
      .collect().map(r => (r.getAs[String]("g"), r.getAs[Int]("bin"),
        r.getAs[Long]("updates"), r.getAs[Long]("n")))
    // cell (a, 1) in counter order: 2 after batch 1, 3 after the return
    assert(rows.filter(t => t._1 == "a" && t._2 == 1)
      .map(t => (t._3, t._4)).sorted.toSeq == Seq((1L, 2L), (2L, 3L)))
    org.apache.commons.io.FileUtils.deleteDirectory(tmp)
  }

  test("dsirBucketCountsState: (raw, target) bucket counters " +
    "accumulate ACROSS micro-batches and the drained state equals " +
    "the batch gram counts") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("dsir_mb").toFile
    val t0 = System.currentTimeMillis()
    def writeDocs(name: String, docs: Seq[(Long, String, String)],
        mod: Long): Unit = {
      val stage = new java.io.File(tmp, s"__stage_$name")
      docs.map { case (id, lang, t) => (id, t, lang, "s", t.length.toLong) }
        .toDF("doc_id", "text", "lang", "source", "n_chars")
        .coalesce(1).write.mode("overwrite").parquet(stage.getPath)
      val part = stage.listFiles().find(_.getName.endsWith(".parquet")).get
      val dst = new java.io.File(tmp, name)
      java.nio.file.Files.move(part.toPath, dst.toPath)
      dst.setLastModified(mod)
      org.apache.commons.io.FileUtils.deleteDirectory(stage)
    }
    // the shared bigram 'clean prose' lands in one bucket from BOTH
    // batches and both languages — the carried state must merge them
    writeDocs("a.parquet", Seq((1L, "en", "clean prose here"),
      (2L, "de", "clean prose there")), t0 - 60000)
    writeDocs("b.parquet", Seq((3L, "en", "clean prose again")), t0)
    val drained = Streams.runAvailableNow(
      Streams.dsirBucketCountsState(
        Streams.docsStream(spark, tmp.getPath, glob = "*.parquet",
          maxFilesPerTrigger = 1),
        col("lang") === "en", col("text"), buckets = 64).toDF(),
      "dsir_mb").collect()
      .map(r => (r.getAs[Long]("b"), r.getAs[Long]("cr"),
        r.getAs[Long]("ct")))
    val latest = drained.groupBy(_._1).map { case (b, rs) =>
      b -> ((rs.map(_._2).max, rs.map(_._3).max)) }
    val batch = graft.operators.TextAnalysis.dsirGrams(
      spark.read.parquet(tmp.getPath), "doc_id", col("text"),
      col("lang") === "en", 64)
      .groupBy(col("__b"))
      .agg(count(lit(1)).as("cr"),
        sum(when(col("__t"), 1L).otherwise(0L)).as("ct"))
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2))))
      .toMap
    assert(latest == batch,
      s"drained $latest must equal batch $batch")
    // the 'clean prose' bucket was touched by both batches: some
    // bucket must have been re-emitted with a GROWN count
    assert(drained.groupBy(_._1).exists(_._2.map(_._2).distinct.size > 1),
      "no bucket accumulated across batches — state not carried")
    org.apache.commons.io.FileUtils.deleteDirectory(tmp)
  }

  test("hllRegistersState: drained per-register maxes equal the batch " +
    "register frame whatever the file-to-batch split") {
    val tmp = java.nio.file.Files.createTempDirectory("hll_mb").toFile
    val t0 = System.currentTimeMillis()
    writeDocsFile(tmp, "a.parquet",
      (1L to 40L).map(i => (i, s"doc number $i")), t0 - 60000)
    writeDocsFile(tmp, "b.parquet",
      (30L to 70L).map(i => (i, s"doc number $i")), t0)
    def hashOf(c: org.apache.spark.sql.Column) =
      graft.functions.KmvSketch.uniformize(
        graft.operators.TextAnalysis.fingerprintRolling(c))
    val raw = Streams.runAvailableNow(
      Streams.hllRegistersState(
        Streams.docsStream(spark, tmp.getPath, glob = "*.parquet",
          maxFilesPerTrigger = 1)
          .select(lit("S").as("g0"), hashOf(col("text")).as("h")),
        col("g0"), col("h")), "hll_multibatch")
    val latest = raw.groupBy(col("g"), col("j"))
      .agg(max(struct(col("updates"), col("m"))).as("x"))
      .select(col("j"), col("x.m"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val batch = graft.functions.HllSketch.registers(
        spark.read.parquet(tmp.getPath), lit("S"), hashOf(col("text")))
      .select(col("j"), col("m"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(latest == batch, s"drained $latest vs batch $batch")
    // the overlap rows (30–40) re-touch batch-1 registers: at least
    // one cell must show a second update with an UNCHANGED max —
    // idempotence across replayed keys, HLL's signature property
    val reEmits = raw.filter(col("updates") >= 2L).count()
    assert(reEmits >= 1L, "no register updated across batches")
    org.apache.commons.io.FileUtils.deleteDirectory(tmp)
  }

  test("topKPerKeyState and runningMomentsState carry an idle key's " +
    "state to its return") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("idle_keys").toFile
    val t0 = System.currentTimeMillis()
    def write(name: String,
        rows: Seq[(Long, Long, Long, String, Double)],
        mod: Long): Unit = {
      val stage = new java.io.File(tmp, s"__stage_$name")
      rows.map { case (id, t, u, tp, v) => (id, t, u, tp, v, "{}") }
        .toDF("event_id", "ts", "user_id", "event_type", "value",
          "props")
        .withColumn("ts", timestamp_micros(expr("ts div 1000"))
          .cast(org.apache.spark.sql.types.TimestampNTZType))
        .coalesce(1).write.mode("overwrite").parquet(stage.getPath)
      val part = stage.listFiles().find(_.getName.endsWith(".parquet")).get
      val dst = new java.io.File(tmp, name)
      java.nio.file.Files.move(part.toPath, dst.toPath)
      dst.setLastModified(mod)
      org.apache.commons.io.FileUtils.deleteDirectory(stage)
    }
    val h = 3600L * 1000 * 1000 * 1000 // 1h in ns
    val s1 = 1000L * 1000 * 1000 // 1s in ns
    // key "alpha"/user 1 lands at 1h, "beta" keeps the stream moving
    // for two batches, batch 4 is alpha's return
    write("a.parquet", Seq((1L, h, 1L, "alpha", 5.0),
      (2L, h, 2L, "beta", 3.0)), t0 - 90000)
    write("b.parquet", Seq((3L, 4 * h, 2L, "beta", 7.0)), t0 - 60000)
    write("c.parquet", Seq((4L, 4 * h + s1, 3L, "beta", 1.0)),
      t0 - 30000)
    write("d.parquet", Seq((5L, 4 * h + 2 * s1, 1L, "alpha", 9.0)), t0)
    def src = Streams.eventsStream(spark, tmp.getPath,
      glob = "*.parquet", maxFilesPerTrigger = 1)
    // topKPerKeyState: alpha's board after the return holds both events
    val topk = Streams.runAvailableNow(
      Streams.topKPerKeyState(src, k = 2).toDF(), "idle_topk").collect()
      .map(r => (r.getAs[String]("g"), r.getAs[Long]("updates"),
        r.getAs[Int]("rank"), r.getAs[Double]("value"),
        r.getAs[Long]("event_id")))
    val aBoard = topk.filter(t => t._1 == "alpha" && t._2 == 2L)
      .map(t => (t._3, t._4, t._5)).toSeq.sorted
    assert(aBoard == Seq((1, 9.0, 5L), (2, 5.0, 1L)),
      s"board must carry the first event: $aBoard")
    // runningMomentsState: alpha's second state sums both values
    val mom = Streams.runAvailableNow(
      Streams.runningMomentsState(src), "idle_mom").collect()
      .map(r => (r.getAs[String]("g"), r.getAs[Long]("updates"),
        r.getAs[Long]("n"), r.getAs[Long]("s")))
    val mRow = mom.filter(m => m._1 == "alpha").maxBy(_._2)
    assert(mRow == (("alpha", 2L, 2L, 140000L)),
      s"moments must carry the first value: $mRow")
    org.apache.commons.io.FileUtils.deleteDirectory(tmp)
  }

  test("cumulativeState: hi/lo split sums accumulate ACROSS " +
      "micro-batches and reconstruct the exact signed sum, negatives " +
      "included") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("splitsum").toFile
    // two files = two micro-batches with maxFilesPerTrigger = 1
    Seq(("a", 1500000L), ("a", -2500001L), ("b", 999999L))
      .toDF("g", "p").coalesce(1).write
      .parquet(tmp.getAbsolutePath + "/f1")
    Seq(("a", 7L), ("b", -1000001L))
      .toDF("g", "p").coalesce(1).write
      .parquet(tmp.getAbsolutePath + "/f2")
    val src = spark.readStream
      .schema("g STRING, p BIGINT")
      .option("maxFilesPerTrigger", 1)
      .parquet(tmp.getAbsolutePath + "/f*")
    // truncating div / % on Long follow the dividend's sign — the same
    // pair as Scala's / and % and DuckDB's // and %
    val out = Streams.runAvailableNow(
      Streams.cumulativeState(src, Seq(col("g")),
        Seq(lit(1L).as("n"), expr("p div 1000000").as("sh"),
          (col("p") % 1000000L).as("sl"))),
      "splitsum_drain")
    val last = Streams.latest(out, "g").collect()
      .map(r => r.getAs[String]("g") ->
        ((r.getAs[Long]("n"), r.getAs[Long]("sh"), r.getAs[Long]("sl"))))
      .toMap
    // a: 1500000 → (1, 500000); −2500001 → (−2, −500001); 7 → (0, 7)
    //    totals (Σhi, Σlo) = (−1, 6); reconstruct sh·10⁶ + sl =
    //    −1000000 + 6 = −999994 = 1500000 − 2500001 + 7 ✓
    def recon(t: (Long, Long, Long)) = t._2 * 1000000L + t._3
    assert(last("a")._1 == 3L &&
      recon(last("a")) == 1500000L - 2500001L + 7L, s"got $last")
    assert(last("b")._1 == 2L &&
      recon(last("b")) == 999999L - 1000001L, s"got $last")
    org.apache.commons.io.FileUtils.deleteDirectory(tmp)
  }

  test("cumulativeState entry points keep their case-class encoder " +
      "shapes: names, types and order") {
    import org.apache.spark.sql.types._
    val docs = Streams.docsStream(spark, dir)
    val events = Streams.eventsStream(spark, dir)
    def shape(df: org.apache.spark.sql.DataFrame) =
      df.schema.map(f => f.name -> f.dataType)
    val counted = Seq("updates" -> LongType, "n" -> LongType)
    val pins = Seq(
      "histogramCountsState" -> (Streams.histogramCountsState(docs,
        "n_chars", "source", lo = 0.0, hi = 600.0, nBins = 10),
        Seq("g" -> StringType, "bin" -> IntegerType) ++ counted),
      "tokenCountsState" -> (Streams.tokenCountsState(docs,
        col("doc_id") % 8 >= 4, col("text")),
        Seq("late" -> BooleanType, "w" -> StringType) ++ counted),
      "dsirBucketCountsState" -> (Streams.dsirBucketCountsState(docs,
        col("lang") === "en", col("text")),
        Seq("b" -> LongType, "updates" -> LongType, "cr" -> LongType,
          "ct" -> LongType)),
      "cmsCellsState" -> (Streams.cmsCellsState(
        docs.select(col("text").as("token")), col("token"), 4, 16),
        Seq("depth" -> IntegerType, "bucket" -> LongType) ++ counted),
      "amsSumsState" -> (Streams.amsSumsState(events,
        col("event_type")),
        Seq("j" -> IntegerType) ++ counted :+ ("s" -> LongType)),
      "dailySumState" -> (Streams.dailySumState(events,
        date_format(col("ts"), "yyyy-MM-dd"), col("value")),
        Seq("d" -> StringType) ++ counted :+ ("s4" -> LongType)),
      // q_stream_profile reads (g, updates, n, s, hi, lo)
      "runningMomentsState" -> (Streams.runningMomentsState(events),
        Seq("g" -> StringType) ++ counted ++
          Seq("s", "hi", "lo").map(_ -> LongType)),
      // q_stream_sprt's direct call: the old per-period (n, s) shape,
      // now with the drain counter
      "per-period successes" -> (Streams.cumulativeState(events,
        Seq(date_format(col("ts"), "yyyy-MM-dd").as("d")),
        Seq(lit(1L).as("n"), (col("value") >= 100).as("s"))),
        Seq("d" -> StringType) ++ counted :+ ("s" -> LongType)),
      // q_stream_quantile_group's direct call
      "quantile-sketch cells" -> (Streams.cumulativeState(
        events.select(col("event_type").as("__g"),
          col("event_id").as("__min"), col("event_id").as("__w"),
          col("event_id").as("__idx")),
        Seq(col("__g").as("g"), col("__min").as("mn"),
          col("__w").as("w"), col("__idx").as("idx")),
        Seq(lit(1L).as("n"))),
        Seq("g" -> StringType, "mn" -> LongType, "w" -> LongType,
          "idx" -> LongType) ++ counted),
      // q_stream_hll reads (g, j, updates, m); m is the max fold
      "hllRegistersState" -> (Streams.hllRegistersState(events,
        col("event_type"), col("event_id")),
        Seq("g" -> StringType, "j" -> LongType, "updates" -> LongType,
          "m" -> LongType)),
      // the ordered-replay instances
      "sessionCountsState" -> (Streams.sessionCountsState(events).toDF(),
        Seq("user_id" -> LongType, "session_start_us" -> LongType,
          "n" -> LongType)),
      "ngramCountsState" -> (Streams.ngramCountsState(events, 3).toDF(),
        Seq("gram" -> ArrayType(StringType), "n_inc" -> LongType)),
      "funnelStageState" -> (Streams.funnelStageState(events,
        Seq("view", "click", "purchase")).toDF(),
        Seq("user_id", "updates", "t1", "t2", "t3").map(_ -> LongType)),
      "tokenBudgetAdmission" -> (Streams.tokenBudgetAdmission(docs,
        col("n_chars"), "source", 1000L).toDF(),
        Seq("doc_id" -> LongType, "g" -> StringType, "cost" -> LongType,
          "cum" -> LongType, "admitted" -> BooleanType)),
      "nearDupFlags" -> (Streams.nearDupFlags(docs).toDF(),
        Seq("doc_id" -> LongType, "dup" -> BooleanType)))
    pins.foreach { case (what, (df, want)) =>
      assert(shape(df) == want, s"$what: ${shape(df)}")
    }
  }

  test("cumulativeState SQL NULLs: a NULL sum input adds 0 and the row " +
      "still counts (dailySumState over a NULL value)") {
    val tmp = java.nio.file.Files.createTempDirectory("dsum_null").toFile
    writeDocsFile(tmp, "a.parquet", Seq((1L, "long text"), (2L, "no")),
      System.currentTimeMillis())
    val raw = Streams.runAvailableNow(
      Streams.dailySumState(
        Streams.docsStream(spark, tmp.getPath, glob = "*.parquet"),
        lit("D"),
        when(col("doc_id") === 1L, length(col("text")).cast("double"))),
      "dsum_null")
    val emissions = raw.collect()
      .map(r => (r.getAs[Long]("updates"), r.getAs[Long]("n"),
        r.getAs[Long]("s4"))).toSeq
    assert(emissions == Seq((1L, 2L, 90000L)), s"got $emissions")
    // a max fold across two batches: batch 2's NULL and its value
    // below the carried max both leave the max at 5
    val mx = java.nio.file.Files.createTempDirectory("max_null").toFile
    val t0 = System.currentTimeMillis()
    writeDocsFile(mx, "a.parquet", Seq((5L, "five")), t0 - 60000)
    writeDocsFile(mx, "b.parquet", Seq((3L, "three"), (4L, "null")), t0)
    val maxes = Streams.runAvailableNow(
      Streams.cumulativeState(
        Streams.docsStream(spark, mx.getPath, glob = "*.parquet",
          maxFilesPerTrigger = 1),
        Seq(lit("D").as("d")), Seq(lit(1L).as("n")),
        Seq(when(col("doc_id") =!= 4L, col("doc_id")).as("m"))),
      "max_null")
      .collect().map(r => (r.getAs[Long]("updates"), r.getAs[Long]("n"),
        r.getAs[Long]("m"))).sortBy(_._1).toSeq
    assert(maxes == Seq((1L, 1L, 5L), (2L, 3L, 5L)), s"got $maxes")
    org.apache.commons.io.FileUtils.deleteDirectory(tmp)
    org.apache.commons.io.FileUtils.deleteDirectory(mx)
  }

  test("cumulativeState SQL NULLs: a NULL key is its own group " +
      "(tokenCountsState over a NULL late flag)") {
    val tmp = java.nio.file.Files.createTempDirectory("trend_null").toFile
    writeDocsFile(tmp, "a.parquet", Seq((1L, "apple apple"), (9L, "apple")),
      System.currentTimeMillis())
    // late = true for doc_id >= 8, NULL otherwise
    val raw = Streams.runAvailableNow(
      Streams.tokenCountsState(
        Streams.docsStream(spark, tmp.getPath, glob = "*.parquet"),
        when(col("doc_id") >= 8, true), col("text")),
      "trend_null")
    val cells = raw.collect()
      .map(r => (Option(r.getAs[java.lang.Boolean]("late")).map(_.booleanValue),
        r.getAs[String]("w")) -> r.getAs[Long]("n")).toMap
    assert(cells == Map((None, "apple") -> 2L, (Some(true), "apple") -> 1L),
      s"got $cells")
    org.apache.commons.io.FileUtils.deleteDirectory(tmp)
  }

  test("streaming MMD drain equals the batch poly-2 MMD row for row") {
    def rows(q: String) =
      graft.SparkEntry.queries(q)(spark, dir).collect()
        .map(r => (r.get(0).toString, r.getLong(1), r.getLong(2),
          r.getDouble(3))).sortBy(_._1).toSeq
    val streamed = rows("q_stream_mmd")
    val batch = rows("q_embedding_mmd")
    assert(streamed.nonEmpty && streamed == batch,
      s"stream $streamed vs batch $batch")
  }

  test("streaming isotonic drain equals the batch PAV calibration " +
      "row for row (the drift-family batch/stream-pair rule)") {
    // the gated pair end-to-end: the drained per-bin (n, k) state fed
    // through isotonicFromCells must reproduce the batch lookup table
    // EXACTLY — same bins, counts, rates, iso_rates
    def rows(q: String) =
      graft.SparkEntry.queries(q)(spark, dir).collect()
        .map(r => (r.getInt(0), r.getLong(1), r.getLong(2),
          r.getDouble(3), r.getDouble(4))).sortBy(_._1).toSeq
    val streamed = rows("q_stream_isotonic")
    val batch = rows("q_quality_isotonic")
    assert(streamed.nonEmpty && streamed == batch,
      s"stream $streamed vs batch $batch")
  }
}
