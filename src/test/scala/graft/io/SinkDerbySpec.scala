package graft.io

import java.sql.Timestamp

import org.apache.spark.sql.types._
import org.apache.spark.sql.{DataFrame, Row}

import graft.SparkSpecBase
import graft.operators.Upsert

/** End-to-end sink tests against embedded Derby (the JDBC database that
  * ships with Spark) — a real multi-connection JDBC target inside the
  * test JVM. Exercises the full distributed write path: DataFrame
  * partitions → per-partition connections/transactions → batched
  * prepared statements → set-based MERGE → JDBC read-back.
  *
  * Derby has no `ON CONFLICT`, so [[UpsertSink]]'s PG statement is
  * pinned textually in [[SqlGenSpec]]; the shared machinery it runs on
  * ([[JdbcWrite.run]]) and all three upsert-mode semantics are proven
  * here through [[MergeSink]]/[[RefreshSink]] against the
  * [[Upsert.apply]] oracle.
  */
class SinkDerbySpec extends SparkSpecBase {

  private val dialect = SqlDialect.Derby
  private val cfg = JdbcConfig("jdbc:derby:memory:graftdb;create=true",
    batchSize = 2) // tiny batch: force multiple executeBatch flushes

  private val schema = StructType(Seq(
    StructField("orderid", LongType),
    StructField("userid", LongType),
    StructField("ordercreatedat", TimestampType),
    StructField("amount", DecimalType(18, 4)),
    StructField("product", StringType),
    StructField("isdelivered", BooleanType)))

  private def ts(s: String): Timestamp = Timestamp.valueOf(s)
  private def dec(s: String): java.math.BigDecimal =
    new java.math.BigDecimal(s).setScale(4)

  private def df(rows: Row*): DataFrame =
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows.toSeq, numSlices = 3), schema)

  // Target snapshot: 4 keys, one with NULL timestamp.
  private def targetRows = Seq(
    Row(1L, 10L, ts("2025-01-01 10:00:00"), dec("5.0000"), "a", true),
    Row(2L, 20L, ts("2025-01-02 10:00:00"), dec("6.0000"), "b", false),
    Row(3L, 30L, null, dec("7.0000"), "c", false),
    Row(4L, 40L, ts("2025-01-04 10:00:00"), dec("8.0000"), "d", true))

  // Batch: updates keys 1 (newer ts), 2 (older ts), 3 (ts onto NULL),
  // inserts key 5, carries a NULL data column.
  private def batchRows = Seq(
    Row(1L, 11L, ts("2025-02-01 10:00:00"), dec("50.0000"), "a2", false),
    Row(2L, 22L, ts("2024-12-01 10:00:00"), dec("60.0000"), null, true),
    Row(3L, 33L, ts("2025-02-03 10:00:00"), dec("70.0000"), "c2", true),
    Row(5L, 55L, ts("2025-02-05 10:00:00"), dec("90.0000"), "e", false))

  private val tbl = dialect.table("APP", "orders")
  private val stg = dialect.table("APP", "orders_staging")

  private def ensureTables(): Unit = {
    val conn = JdbcWrite.connect(cfg)
    try {
      val st = conn.createStatement()
      val existing = {
        val rs = conn.getMetaData.getTables(null, "APP", "%", null)
        Iterator.continually(rs).takeWhile(_.next()).map(_.getString(3)).toSet
      }
      if (!existing.contains("orders"))
        st.execute(SqlGen.createTable(dialect, tbl, schema))
      if (!existing.contains("orders_staging"))
        st.execute(SqlGen.createTable(dialect, stg, schema))
      st.close()
    } finally conn.close()
  }

  private def sortedRows(d: DataFrame): Seq[Row] =
    d.select(schema.fieldNames.map(org.apache.spark.sql.functions.col).toIndexedSeq: _*)
      .collect().toSeq.sortBy(_.getLong(0))

  private def checkMode(mode: Upsert.Mode): Unit = {
    ensureTables()
    val target = df(targetRows: _*)
    val batch = df(batchRows: _*)
    RefreshSink.write(target, cfg, dialect, tbl) // seed target state
    MergeSink.write(batch, cfg, dialect, tbl, stg, Seq("orderid"), mode,
      withByTarget = false)
    val got = sortedRows(JdbcSources.readTable(spark, cfg, tbl))
    val want = sortedRows(Upsert(target, batch, Seq("orderid"), mode))
    assert(got == want, s"mode $mode: JDBC state diverges from Upsert oracle")
  }

  test("RefreshSink truncate+insert rebuilds exact state (S8)") {
    ensureTables()
    RefreshSink.write(df(targetRows: _*), cfg, dialect, tbl)
    // overwrite with the batch; previous state must be gone
    RefreshSink.write(df(batchRows: _*), cfg, dialect, tbl)
    val got = sortedRows(JdbcSources.readTable(spark, cfg, tbl))
    assert(got == sortedRows(df(batchRows: _*)))
  }

  test("MergeSink unconditional mode matches Upsert oracle (S9+S10/S6)") {
    checkMode(Upsert.Unconditional)
  }

  test("MergeSink last-write-wins mode matches Upsert oracle (S7)") {
    checkMode(Upsert.LastWriteWins("ordercreatedat"))
  }

  test("MergeSink insert-only mode freezes ordercreatedat (S10)") {
    checkMode(Upsert.InsertOnly(Seq("ordercreatedat")))
  }

  test("MergeSink is idempotent: re-running a batch changes nothing (O5)") {
    ensureTables()
    val target = df(targetRows: _*)
    val batch = df(batchRows: _*)
    RefreshSink.write(target, cfg, dialect, tbl)
    MergeSink.write(batch, cfg, dialect, tbl, stg, Seq("orderid"),
      Upsert.Unconditional, withByTarget = false)
    val once = sortedRows(JdbcSources.readTable(spark, cfg, tbl))
    MergeSink.write(batch, cfg, dialect, tbl, stg, Seq("orderid"),
      Upsert.Unconditional, withByTarget = false)
    val twice = sortedRows(JdbcSources.readTable(spark, cfg, tbl))
    assert(once == twice)
  }

  test("induced task retry: a first-attempt failure mid-partition " +
    "converges to the oracle state exactly (SURVEY §7.4 risk 1)") {
    ensureTables()
    SinkDerbySpec.induced.set(0)
    val target = df(targetRows: _*)
    val batch = df(batchRows: _*)
    RefreshSink.write(target, cfg, dialect, tbl)
    // Partition 2 (the 2-row slice) dies after serving ONE row to the
    // sink on its FIRST attempt only — local[N,2] retries the task;
    // the first attempt's partial, uncommitted JDBC work must roll
    // back and the retry must land the partition exactly once. A
    // static counter (local mode: executor == this JVM) proves the
    // failure really happened — without it a green assert could mean
    // the fault never fired.
    val flakyRdd = batch.rdd.mapPartitions { it =>
      val tc = org.apache.spark.TaskContext.get()
      if (tc != null && tc.partitionId() == 2 && tc.attemptNumber() == 0)
        new Iterator[Row] {
          private var served = 0
          def hasNext: Boolean = it.hasNext
          def next(): Row = {
            if (served >= 1) {
              SinkDerbySpec.induced.incrementAndGet()
              throw new RuntimeException("induced first-attempt failure")
            }
            served += 1; it.next()
          }
        }
      else it
    }
    val flaky = spark.createDataFrame(flakyRdd, schema)
    val written = MergeSink.write(flaky, cfg, dialect, tbl, stg,
      Seq("orderid"), Upsert.Unconditional, withByTarget = false)
    assert(SinkDerbySpec.induced.get() >= 1,
      "the fault never fired — the test proved nothing")
    // the failed attempt had already served a row to the sink; only the
    // successful attempt's count may reach the returned total
    assert(written == batchRows.size.toLong,
      s"sink reported $written rows for a ${batchRows.size}-row batch")
    val got = sortedRows(JdbcSources.readTable(spark, cfg, tbl))
    val want = sortedRows(
      Upsert(target, batch, Seq("orderid"), Upsert.Unconditional))
    assert(got == want,
      "post-retry JDBC state diverges from the Upsert oracle")
  }

  test("every sink returns the rows it wrote, 0 on empty input") {
    ensureTables()
    assert(RefreshSink.write(df(targetRows: _*), cfg, dialect, tbl) ==
      targetRows.size.toLong)
    assert(MergeSink.write(df(batchRows: _*), cfg, dialect, tbl, stg,
      Seq("orderid"), Upsert.Unconditional, withByTarget = false) ==
      batchRows.size.toLong)
    // empty input: no partition opens a connection, so even the PG-only
    // ON CONFLICT statement of UpsertSink never reaches Derby
    assert(UpsertSink.write(df(), cfg, dialect, tbl, "orders",
      Seq("orderid")) == 0L)
    assert(MergeSink.write(df(), cfg, dialect, tbl, stg, Seq("orderid"),
      Upsert.Unconditional, withByTarget = false) == 0L)
    assert(RefreshSink.write(df(), cfg, dialect, stg) == 0L)
    // the empty MERGE left the target as the non-empty one made it
    assert(sortedRows(JdbcSources.readTable(spark, cfg, tbl)) ==
      sortedRows(Upsert(df(targetRows: _*), df(batchRows: _*),
        Seq("orderid"), Upsert.Unconditional)))
  }

  test("mid-batch failure rolls back the whole partition transaction") {
    val ck = dialect.table("APP", "orders_ck")
    val conn = JdbcWrite.connect(cfg)
    try {
      val st = conn.createStatement()
      try st.execute("DROP TABLE \"APP\".\"orders_ck\"")
      catch { case _: Exception => () }
      st.execute(SqlGen.createTable(dialect, ck, schema)
        + "" /* base table */)
      st.execute(
        """ALTER TABLE "APP"."orders_ck" ADD CONSTRAINT uid_small CHECK ("userid" < 50)""")
      st.close()
    } finally conn.close()
    // single partition, batchSize=2: rows (1,2) flush fine, the flush
    // containing userid=55 violates the CHECK → the earlier,
    // already-executed-but-uncommitted batch must roll back too.
    val data = df(batchRows: _*).coalesce(1)
    intercept[Exception] {
      JdbcWrite.run(data, cfg,
        SqlGen.insert(dialect, ck, schema.fieldNames.toSeq))
    }
    assert(sortedRows(JdbcSources.readTable(spark, cfg, ck)).isEmpty)
  }

  test("JdbcSources.rangeSlice over one day pushes a portable half-open " +
      "predicate (S1)") {
    ensureTables()
    RefreshSink.write(df(targetRows: _*), cfg, dialect, tbl)
    val got = JdbcSources.rangeSlice(spark, cfg, tbl,
      "\"ordercreatedat\"", "2025-01-02", "2025-01-03")
    assert(got.collect().map(_.getAs[Long]("orderid")).toSeq == Seq(2L))
    // NULL scan (S2) — complement of the slice family
    val nulls = JdbcSources.nullSlice(spark, cfg, tbl, "\"ordercreatedat\"")
    assert(nulls.collect().map(_.getAs[Long]("orderid")).toSeq == Seq(3L))
  }

  test("JdbcSources.countWhere pushes the aggregate to the DB (S11)") {
    ensureTables()
    RefreshSink.write(df(targetRows: _*), cfg, dialect, tbl)
    val n = JdbcSources.countWhere(cfg, tbl,
      """"ordercreatedat" IS NOT NULL""")
    assert(n == 3L)
  }

  // --- LWW NULL-ordering property (SURVEY §7.4 risk 4, pinned at the
  // executed-SQL level). The MERGE's matched-clause disjunct
  // `t.ts IS NULL OR s.ts > t.ts` must resolve every NULL combination
  // exactly like the reference's ON CONFLICT ... WHERE clause:
  //   target NULL  → source wins (even a NULL source ts overwrites);
  //   source NULL  → target keeps (NULL compares to nothing);
  //   both present → strictly-greater wins, ties keep the target.
  // Randomized sides with NULLs on BOTH sides run through the real
  // Derby MERGE and are checked against an independent Map model —
  // deliberately NOT the Upsert DataFrame oracle, so a flaw shared by
  // both implementations can't hide.

  private val lwwSchema = StructType(Seq(
    StructField("k", LongType),
    StructField("ts", TimestampType),
    StructField("v", StringType)))

  private case class LR(k: Long, ts: Option[Long], v: String) {
    def row: Row = Row(k, ts.map(t => new Timestamp(t * 1000L)).orNull, v)
  }

  private def lwwModel(target: Seq[LR], batch: Seq[LR]): Set[(Long, Option[Long], String)] = {
    val merged = batch.foldLeft(target.map(r => r.k -> r).toMap) { (acc, s) =>
      acc.get(s.k) match {
        case None => acc + (s.k -> s)
        case Some(old) =>
          val wins = old.ts.isEmpty || (s.ts.nonEmpty && s.ts.get > old.ts.get)
          acc + (s.k -> (if (wins) s else old))
      }
    }
    merged.values.map(r => (r.k, r.ts, r.v)).toSet
  }

  test("MERGE LWW disjunct matches the NULL-ordering model (property)") {
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    val genRow: Gen[LR] = for {
      k <- Gen.choose(0L, 6L)              // small key space forces matches
      ts <- Gen.option(Gen.choose(0L, 4L)) // small ts space forces ties
      v <- Gen.alphaStr.map(_.take(4))
    } yield LR(k, ts, v)
    val genSide: Gen[Seq[LR]] =
      Gen.nonEmptyListOf(genRow).map(_.groupBy(_.k).map(_._2.head).toSeq)
    def sample(seed: Long): Seq[LR] =
      genSide.apply(Gen.Parameters.default, Seed(seed))
        .getOrElse(sys.error("generator failed"))

    val ltbl = dialect.table("APP", "lww_prop")
    val lstg = dialect.table("APP", "lww_prop_staging")
    val conn = JdbcWrite.connect(cfg)
    try {
      val st = conn.createStatement()
      val existing = {
        val rs = conn.getMetaData.getTables(null, "APP", "LWW%", null)
        Iterator.continually(rs).takeWhile(_.next()).map(_.getString(3)).toSet
      }
      if (!existing.contains("lww_prop"))
        st.execute(SqlGen.createTable(dialect, ltbl, lwwSchema))
      if (!existing.contains("lww_prop_staging"))
        st.execute(SqlGen.createTable(dialect, lstg, lwwSchema))
      st.close()
    } finally conn.close()

    def ldf(rows: Seq[LR]): DataFrame =
      spark.createDataFrame(
        spark.sparkContext.parallelize(rows.map(_.row), 2), lwwSchema)

    for (seed <- 1L to 8L) {
      val target = sample(seed)
      val batch = sample(seed + 500)
      RefreshSink.write(ldf(target), cfg, dialect, ltbl)
      MergeSink.write(ldf(batch), cfg, dialect, ltbl, lstg, Seq("k"),
        Upsert.LastWriteWins("ts"), withByTarget = false)
      val got = JdbcSources.readTable(spark, cfg, ltbl).collect().toSet
        .map { r: Row =>
          (r.getLong(0),
            Option(r.getTimestamp(1)).map(_.getTime / 1000L),
            r.getString(2))
        }
      assert(got == lwwModel(target, batch),
        s"seed=$seed target=$target batch=$batch")
    }
  }
}

/** Fault counter for the induced-retry test — static so the (local
  * mode, same-JVM) executor task and the test assertion share it. */
object SinkDerbySpec {
  val induced = new java.util.concurrent.atomic.AtomicInteger(0)
}
