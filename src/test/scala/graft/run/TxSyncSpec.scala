package graft.run

import java.io.ByteArrayOutputStream
import java.sql.Timestamp

import org.apache.spark.ListenerBusDrain
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.util.QueryExecutionListener

import graft.SparkSpecBase
import graft.core.{Entities, Schemas}
import graft.io.{JdbcSources, JdbcWrite, RefreshSink, SqlDialect, SqlGen}
import graft.operators.Upsert

/** End-to-end transactions sync against embedded Derby, source AND
  * target (the DB-to-DB topology of
  * dags/__pycache__/mssql_to_postgres_sync.cpython-38.pyc /
  * mssql_to_postgresql_daily.cpython-38.pyc): the wide 57-column
  * entity, day-sliced on `CreatedDateUtc` (S3), lowercased (F5),
  * MERGE-upserted on the 4-column composite key with last-write-wins
  * on `updateddateutc` (S7), then count-back validated (S11).
  *
  * The source table keeps MSSQL casing; the target gets the lowercased
  * rename — both edges of the reference's casing contract are live in
  * one test. The syncs run through the shipped CLI bodies,
  * `DailySync.sync` and `RangeSync.range`, and read their counts from
  * the `[validate]` lines those print; a two-day catch-up is one write
  * whose target equals the day-by-day runs and the `Upsert.apply` fold.
  */
class TxSyncSpec extends SparkSpecBase {

  private val e = Entities.transactions

  private val srcCfg = graft.io.JdbcConfig(
    "jdbc:derby:memory:txsrc;create=true", batchSize = 7)

  // CLI options for a Derby source + Derby target; DailySync derives
  // the transactions table names and keys (cfg, as it builds it)
  private val opts = Args(Map(
    "source-url" -> srcCfg.url,
    "target-url" -> "jdbc:derby:memory:txdst;create=true"))
  private val cfg = Pipeline.entityConfig(opts.config, e.name)

  private val srcTable = SqlDialect.Derby.table("APP", "transactions")

  private def ts(s: String): Timestamp = Timestamp.valueOf(s)
  private def dec(s: String): java.math.BigDecimal =
    new java.math.BigDecimal(s).setScale(4)

  /** A full 57-column row with the listed fields set, rest NULL. */
  private def txRow(cid: String, tenant: Long, created: String,
      updated: String, amount: String, json: String): Row = {
    val vals = Map[String, Any](
      "TxCorrelationId" -> cid,
      "TenantId" -> tenant,
      "TxGroupCorrelationId" -> s"g-$cid",
      "TxRefCorrelationId" -> s"r-$cid",
      "WalletId" -> (tenant * 100),
      "FromAccountTypeId" -> 3,
      "TxBaseAmount" -> dec(amount),
      "CreatedDateUtc" -> ts(created),
      "UpdatedDateUtc" -> ts(updated),
      "IsHidden" -> false,
      "CurrencyCode" -> "TRY",
      "TxAdditionalDataJson" -> json)
    Row(Schemas.transactions.fields.map(f => vals.get(f.name).orNull): _*)
  }

  private def txDf(rows: Row*): DataFrame =
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows.toSeq, 3), Schemas.transactions)

  // Day 1 has keys A and B; day 2 has key C.
  private def seedRows = Seq(
    txRow("A", 1, "2025-03-01 08:00:00", "2025-03-01 08:00:00", "10.0",
      """{"ch":"web","score":7}"""),
    txRow("B", 1, "2025-03-01 09:00:00", "2025-03-01 09:00:00", "20.0",
      """{"ch":"app","score":3}"""),
    txRow("C", 2, "2025-03-02 10:00:00", "2025-03-02 10:00:00", "30.0",
      """{"ch":"pos","score":9}"""))

  private def ensureSource(): Unit = {
    if (!JdbcWrite.tableExists(srcCfg, "APP", "transactions"))
      JdbcWrite.execute(srcCfg,
        SqlGen.createTable(SqlDialect.Derby, srcTable, Schemas.transactions))
  }

  /** (extracted, loaded) of every `[validate]` line in `log` whose
    * label is `prefix` followed by a date, keyed by that date. */
  private def validated(log: String, prefix: String)
      : Map[String, (Long, Long)] = {
    val line = (s"\\[validate\\] ${java.util.regex.Pattern.quote(prefix)}" +
      """(\d{4}-\d\d-\d\d): extracted=(\d+) loaded=(\d+) \w+""").r
    log.linesIterator.collect { case line(d, x, l) =>
      d -> ((x.toLong, l.toLong)) }.toMap
  }

  /** One `DailySync` run for `date`: its (extracted, loaded). */
  private def syncDay(date: String): (Long, Long) = {
    val out = new ByteArrayOutputStream
    Console.withOut(out)(DailySync.sync(spark, e, opts, date, date))
    validated(out.toString("UTF-8"), "transactions ")(date)
  }

  private def targetState(): Map[String, (String, Timestamp, String)] =
    JdbcSources.readTable(spark, cfg.targetJdbc,
      cfg.targetDialect.table(cfg.targetSchemaName, cfg.targetTable))
      .collect().map { r =>
        r.getAs[String]("txcorrelationid") ->
          ((r.getAs[java.math.BigDecimal]("txbaseamount").toPlainString,
            r.getAs[Timestamp]("updateddateutc"),
            r.getAs[String]("txadditionaldatajson")))
      }.toMap

  test("two-day sync, LWW conflict resolution, idempotent replay (S3/S7)") {
    ensureSource()
    RefreshSink.write(txDf(seedRows: _*), srcCfg, SqlDialect.Derby, srcTable)

    // Day 1: A, B. Day 2: C. Counts reconcile via target count-back.
    assert(syncDay("2025-03-01") == ((2L, 2L)))
    assert(syncDay("2025-03-02") == ((1L, 1L)))
    val afterInitial = targetState()
    assert(afterInitial.keySet == Set("A", "B", "C"))
    assert(afterInitial("A")._1 == "10.0000")

    // Source mutates: A gets a genuinely newer update; B's updateddateutc
    // moves BACKWARD (an out-of-order replica write) — LWW must apply A
    // and reject B on the replay of day 1.
    JdbcWrite.execute(srcCfg,
      s"""UPDATE $srcTable SET "TxBaseAmount" = 11.5, """ +
        """"UpdatedDateUtc" = {ts '2025-03-05 00:00:00'}, """ +
        """"TxAdditionalDataJson" = '{"ch":"pos","score":8}' """ +
        """WHERE "TxCorrelationId" = 'A'""",
      s"""UPDATE $srcTable SET "TxBaseAmount" = 99.0, """ +
        """"UpdatedDateUtc" = {ts '2025-02-01 00:00:00'} """ +
        """WHERE "TxCorrelationId" = 'B'""")

    // Replay day 1 (the reference's catchup rerun): extract still finds
    // both rows (CreatedDateUtc unchanged), the MERGE applies LWW.
    assert(syncDay("2025-03-01") == ((2L, 2L)))
    val afterReplay = targetState()
    assert(afterReplay("A") ==
      (("11.5000", ts("2025-03-05 00:00:00"), """{"ch":"pos","score":8}""")))
    assert(afterReplay("B") ==
      (("20.0000", ts("2025-03-01 09:00:00"), """{"ch":"app","score":3}""")),
      "stale source update must lose LWW")
    assert(afterReplay("C") == afterInitial("C"))

    // Idempotency (O5): replaying the same day again changes nothing.
    assert(syncDay("2025-03-01") == ((2L, 2L)))
    assert(targetState() == afterReplay)
  }

  test("range backfill (O3): single-scan 3-day extract, per-date " +
    "reconciliation, idempotent replay") {
    // isolated DBs so earlier tests' LWW mutations can't leak in
    val src2 = graft.io.JdbcConfig(
      "jdbc:derby:memory:txsrc_range;create=true", batchSize = 7)
    val opts2 = Args(Map(
      "source-url" -> src2.url,
      "target-url" -> "jdbc:derby:memory:txdst_range;create=true"))
    val cfg2 = Pipeline.entityConfig(opts2.config, e.name)
    assert(cfg2.sourceTable == "transactions" &&
      cfg2.stagingTable == "transactions_staging")
    // the env default key (order_id) is not a transactions column
    assert(cfg2.uniqueKeyColumns == e.targetKey)
    JdbcWrite.execute(src2,
      SqlGen.createTable(SqlDialect.Derby, srcTable, Schemas.transactions))
    // day 1: A, B; day 2: C; day 3: D — plus an out-of-range day 4 row
    // that the half-open range scan must NOT pick up
    RefreshSink.write(txDf(seedRows ++ Seq(
      txRow("D", 3, "2025-03-03 11:00:00", "2025-03-03 11:00:00", "40.0",
        """{"ch":"web","score":1}"""),
      txRow("E", 3, "2025-03-04 00:00:00", "2025-03-04 00:00:00", "50.0",
        """{"ch":"app","score":2}""")): _*),
      src2, SqlDialect.Derby, srcTable)

    // the shipped backfill: one write that counts its rows per date;
    // the extracted counts of its [validate] lines
    def runRange(): Map[String, Long] = {
      val out = new ByteArrayOutputStream
      Console.withOut(out)(RangeSync.range(spark, e, opts2, "2025-03-01",
        "2025-03-03"))
      validated(out.toString("UTF-8"), "transactions range ")
        .map { case (d, (x, _)) => d -> x }
    }

    val extracted = runRange()
    assert(extracted == Map(
      "2025-03-01" -> 2L, "2025-03-02" -> 1L, "2025-03-03" -> 1L))
    // count-back per date reconciles; day 4 never crossed
    for ((d, n) <- extracted)
      assert(Pipeline.countLoadedForDay(cfg2, d, e) == n)
    assert(Pipeline.countLoadedByDate(cfg2, e.targetIncrementalColumn,
      "2025-03-01", "2025-03-03") == extracted)
    assert(Pipeline.countLoadedForDay(cfg2, "2025-03-04", e) == 0L)

    // idempotency (O5): replaying the whole range is a no-op
    val before = JdbcSources.readTable(spark, cfg2.targetJdbc,
      cfg2.targetDialect.table(cfg2.targetSchemaName, cfg2.targetTable))
      .collect().map(_.toString).sorted.toSeq
    assert(runRange() == extracted)
    val after = JdbcSources.readTable(spark, cfg2.targetJdbc,
      cfg2.targetDialect.table(cfg2.targetSchemaName, cfg2.targetTable))
      .collect().map(_.toString).sorted.toSeq
    assert(after == before)
    assert(after.size == 4)
  }

  test("two-day catch-up: one write, equal to the day-by-day runs and " +
    "the Upsert.apply fold") {
    val src3 = graft.io.JdbcConfig(
      "jdbc:derby:memory:txsrc_catchup;create=true", batchSize = 7)
    JdbcWrite.execute(src3,
      SqlGen.createTable(SqlDialect.Derby, srcTable, Schemas.transactions))
    // days 1-2 as in the other cases, plus a day-3 row outside the window
    RefreshSink.write(txDf(seedRows :+ txRow("D", 3, "2025-03-03 11:00:00",
      "2025-03-03 11:00:00", "40.0", """{"ch":"web","score":1}"""): _*),
      src3, SqlDialect.Derby, srcTable)
    def target(db: String) = Args(Map("source-url" -> src3.url,
      "target-url" -> s"jdbc:derby:memory:$db;create=true"))
    def rows(o: Args): DataFrame = {
      val c = Pipeline.entityConfig(o.config, e.name)
      JdbcSources.readTable(spark, c.targetJdbc,
        c.targetDialect.table(c.targetSchemaName, c.targetTable))
    }
    def sorted(df: DataFrame) = df.collect().map(_.toString).sorted.toSeq
    val days = Seq("2025-03-01", "2025-03-02")

    val catchUp = target("txdst_catchup")
    val out = new ByteArrayOutputStream
    val actions = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new QueryExecutionListener {
      override def onSuccess(fn: String, qe: QueryExecution, ns: Long): Unit =
        actions.incrementAndGet()
      override def onFailure(fn: String, qe: QueryExecution,
          ex: Exception): Unit = actions.incrementAndGet()
    }
    ListenerBusDrain(spark.sparkContext)
    spark.listenerManager.register(listener)
    try {
      Console.withOut(out)(DailySync.sync(spark, e, catchUp, days.head,
        days.last))
      ListenerBusDrain(spark.sparkContext)
    } finally spark.listenerManager.unregister(listener)
    assert(actions.get == 1, "a catch-up is one write for any number of days")
    assert(validated(out.toString("UTF-8"), "transactions ") ==
      Map(days.head -> ((2L, 2L)), days.last -> ((1L, 1L))))

    val byDay = target("txdst_by_day")
    for (d <- days)
      Console.withOut(new ByteArrayOutputStream)(
        DailySync.sync(spark, e, byDay, d, d))
    val c = Pipeline.entityConfig(catchUp.config, e.name)
    val empty = spark.createDataFrame(spark.sparkContext.emptyRDD[Row],
      e.targetSchema)
    val folded = days.foldLeft(empty) { (t, d) =>
      Upsert(t, Pipeline.extractForRange(spark, c, "", d, d, e),
        c.uniqueKeyColumns, e.mode)
    }
    val got = rows(catchUp)
    assert(sorted(got).size == 3)
    assert(sorted(got) == sorted(rows(byDay)))
    assert(sorted(got) == sorted(folded.select(
      got.schema.map(f => col(f.name).cast(f.dataType)): _*)))
  }

  test("target edge is fully lowercased, all 57 columns present (F5/F6)") {
    ensureSource()
    Pipeline.ensureTargetTables(cfg, e)
    // transactions route no NULLs: no side table
    assert(!JdbcWrite.tableExists(cfg.targetJdbc, cfg.targetSchemaName,
      cfg.targetIncompleteTable))
    val tgt = JdbcSources.readTable(spark, cfg.targetJdbc,
      cfg.targetDialect.table(cfg.targetSchemaName, cfg.targetTable))
    assert(tgt.columns.length == 57)
    assert(tgt.columns.forall(c => c == c.toLowerCase))
    assert(tgt.columns.toSeq ==
      Schemas.transactions.fieldNames.map(_.toLowerCase).toSeq)
  }

  test("an entity without a parquet stand-in needs --source-url") {
    val noSource = Args(Map(
      "target-url" -> "jdbc:derby:memory:txdst_nosrc;create=true"))
    val msg = "--entity transactions syncs DB-to-DB: pass --source-url " +
      "(or GRAFT_SOURCE_URL)"
    val out = new ByteArrayOutputStream
    val daily = intercept[IllegalArgumentException] {
      Console.withOut(out)(DailySync.sync(spark, e, noSource,
        "2025-03-01", "2025-03-01"))
    }
    assert(daily.getMessage.contains(msg), daily.getMessage)
    val range = intercept[IllegalArgumentException] {
      Console.withOut(out)(RangeSync.range(spark, e, noSource, "2025-03-01",
        "2025-03-02"))
    }
    assert(range.getMessage.contains(msg), range.getMessage)
  }
}
