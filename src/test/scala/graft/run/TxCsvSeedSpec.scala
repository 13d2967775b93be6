package graft.run

import java.nio.file.{Files, Path}
import java.sql.Timestamp

import graft.SparkSpecBase
import graft.core.Schemas
import graft.io.JdbcSources

/** End-to-end CSV → staging → MERGE seed for the wide transactions
  * entity against embedded Derby — the `deneme_3_case` pyc workload
  * (SURVEY §3.3 for the 57-column entity): declared all-string schema,
  * typed coercion suite with loss audit, per-logical-date filter on
  * `CreatedDateUtc` ("Filtering data for CreatedDateUtc =="), NULL
  * composite-key drop, staging append + 4-column composite-key MERGE
  * with `CreatedDateUtc` insert-only (csv_to_mssqldb.py:410-443 flow,
  * transactions_staging naming).
  */
class TxCsvSeedSpec extends SparkSpecBase {

  private val se = CsvSeed.entities("transactions")

  // Env defaults deliberately carry the ORDERS key (order_id) so the
  // resolveKeys fallback to the entity's composite key is exercised.
  private val cfg = Config.fromEnv(Map(
    "GRAFT_TARGET_URL" -> "jdbc:derby:memory:txseed;create=true",
    "TARGET_TABLE_NAME" -> "transactions",
    "STAGING_TABLE_NAME" -> "transactions_staging"))

  private def ts(s: String): Timestamp = Timestamp.valueOf(s)

  /** Minimal CSV writer: quote any field containing a comma or quote
    * (inner quotes doubled), matching the reader's quote='"'. */
  private def csvLine(fields: Seq[String]): String =
    fields.map { f =>
      if (f.contains(",") || f.contains("\"") || f.contains("\n"))
        "\"" + f.replace("\"", "\"\"") + "\""
      else f
    }.mkString(",")

  /** One 57-column CSV row with the listed fields set, rest empty. */
  private def txCsvRow(vals: Map[String, String]): String =
    csvLine(Schemas.transactions.fieldNames.toSeq
      .map(n => vals.getOrElse(n, "")))

  private def baseRow(cid: String, tenant: String, created: String,
      amount: String, extra: Map[String, String] = Map.empty) =
    Map(
      "TxCorrelationId" -> cid,
      "TenantId" -> tenant,
      "TxGroupCorrelationId" -> s"g-$cid",
      "TxRefCorrelationId" -> s"r-$cid",
      "WalletId" -> "1001",
      "TxBaseAmount" -> amount,
      "CreatedDateUtc" -> created,
      "UpdatedDateUtc" -> created,
      "IsHidden" -> "True",
      "CurrencyCode" -> "TRY",
      "TxAdditionalDataJson" -> """{"ch":"web","score":7}""") ++ extra

  private def writeCsv(dir: Path, name: String,
      rows: Seq[Map[String, String]]): String = {
    val lines = csvLine(Schemas.transactions.fieldNames.toSeq) +:
      rows.map(txCsvRow)
    val p = dir.resolve(name)
    Files.writeString(p, lines.mkString("\n") + "\n")
    p.toString
  }

  // Day 1: K1, K2 (+ a NULL-key row and a coercion-loss row); day 2: K3.
  private def fixtureRows = Seq(
    baseRow("K1", "1", "2025-03-01 08:00:00", "10.5"),
    baseRow("K2", "1", "2025-03-01 09:00:00", "20.0",
      Map("WalletId" -> "abc")), // WalletId coercion loss, row kept
    baseRow("K3", "2", "2025-03-02 10:00:00", "30.0"),
    baseRow("", "9", "2025-03-01 11:00:00", "40.0")) // NULL key → dropped

  test("read+transform: coercion audit, NULL-key drop, day filter") {
    val dir = Files.createTempDirectory("txcsv")
    val path = writeCsv(dir, "tx.csv", fixtureRows)
    val keys = CsvSeed.resolveKeys(se, cfg.uniqueKeyColumns)
    assert(keys == Schemas.transactionsKey) // order_id fell back

    val (kept, audit, dropped) = CsvSeed.readAndTransform(
      spark, path, keys, None, se.schema, se.dateCol)
    assert(kept.count() == 3L)
    // the audit was tallied by the count above
    assert(dropped() == 1L)
    assert(audit()("WalletId") == 1L,
      s"expected 1 WalletId coercion loss: ${audit().filter(_._2 > 0)}")
    assert((audit() - "WalletId").values.forall(_ == 0L))
    val k1 = kept.filter(kept("TxCorrelationId") === "K1").collect()(0)
    assert(k1.getAs[Timestamp]("CreatedDateUtc") == ts("2025-03-01 08:00:00"))
    assert(k1.getAs[java.math.BigDecimal]("TxBaseAmount")
      == new java.math.BigDecimal("10.5000"))
    assert(k1.getAs[Boolean]("IsHidden"))

    // per-logical-date filter: day 1 keeps K1+K2 only (half-open bound)
    val (day1, _, d1drop) = CsvSeed.readAndTransform(
      spark, path, keys, Some("2025-03-01"), se.schema, se.dateCol)
    assert(day1.select("TxCorrelationId").collect().map(_.getString(0))
      .toSet == Set("K1", "K2"))
    assert(d1drop() == 1L)
  }

  test("two-day seed: MERGE upsert, CreatedDateUtc insert-only, " +
    "idempotent replay") {
    val dir = Files.createTempDirectory("txcsv2")
    val v1 = writeCsv(dir, "v1.csv", fixtureRows)

    // Day 1 → K1, K2. Day 2 → K3 (cumulative target).
    assert(CsvSeed.seed(spark, cfg, se, v1, Some("2025-03-01")) == ((2L, 2L)))
    assert(CsvSeed.seed(spark, cfg, se, v1, Some("2025-03-02")) == ((1L, 3L)))

    def state(): Map[String, (String, Timestamp, String)] =
      JdbcSources.readTable(spark, cfg.targetJdbc,
        cfg.targetDialect.table(cfg.targetSchemaName, cfg.targetTable))
        .collect().map { r =>
          r.getAs[String]("TxCorrelationId") ->
            ((r.getAs[java.math.BigDecimal]("TxBaseAmount").toPlainString,
              r.getAs[Timestamp]("CreatedDateUtc"),
              r.getAs[String]("TxAdditionalDataJson")))
        }.toMap
    val initial = state()
    assert(initial.keySet == Set("K1", "K2", "K3"))
    assert(initial("K1") == (("10.5000", ts("2025-03-01 08:00:00"),
      """{"ch":"web","score":7}""")))

    // v2: K1 re-delivered same logical day with a LATER CreatedDateUtc
    // and changed payload — MERGE must update the payload but keep the
    // original CreatedDateUtc (set-once, csv_to_mssqldb.py:417-422).
    val v2 = writeCsv(dir, "v2.csv", Seq(
      baseRow("K1", "1", "2025-03-01 23:59:00", "99.9",
        Map("TxAdditionalDataJson" -> """{"ch":"pos","score":8}"""))))
    assert(CsvSeed.seed(spark, cfg, se, v2, Some("2025-03-01")) == ((1L, 3L)))
    val afterV2 = state()
    assert(afterV2("K1") == (("99.9000", ts("2025-03-01 08:00:00"),
      """{"ch":"pos","score":8}""")),
      "payload updates; CreatedDateUtc is insert-only")
    assert(afterV2("K2") == initial("K2"))
    assert(afterV2("K3") == initial("K3"))

    // Idempotency (O5): replaying v2 changes nothing.
    assert(CsvSeed.seed(spark, cfg, se, v2, Some("2025-03-01")) == ((1L, 3L)))
    assert(state() == afterV2)
  }

  test("seed: the audit is read after the MERGE and keeps its values") {
    val dir = Files.createTempDirectory("txcsv3")
    val path = writeCsv(dir, "tx.csv", fixtureRows)
    val auditCfg = Config.fromEnv(Map(
      "GRAFT_TARGET_URL" -> "jdbc:derby:memory:txseed_audit;create=true",
      "TARGET_TABLE_NAME" -> "transactions",
      "STAGING_TABLE_NAME" -> "transactions_staging"))
    val out = new java.io.ByteArrayOutputStream
    val result =
      Console.withOut(out)(CsvSeed.seed(spark, auditCfg, se, path, None))
    assert(result == ((3L, 3L)))
    val lines = out.toString("UTF-8").linesIterator.toSeq
    val audit = lines.filter(l =>
      l.startsWith("[csv-seed] coercion losses") ||
        l.startsWith("[csv-seed] rows dropped"))
    assert(audit == Seq("[csv-seed] coercion losses in WalletId: 1",
      "[csv-seed] rows dropped for NULL key: 1"), lines.mkString("\n"))
    // printed once the write is done: right before the reconcile line
    assert(lines.indexOf(audit.last) + 1 ==
      lines.indexWhere(_.startsWith("[validate] csv-seed")),
      lines.mkString("\n"))
  }
}
