package graft.run

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}

import graft.core.{Conversions, Schemas, Sessions}
import graft.io._
import graft.operators.Upsert

/** Entry point 3 (SURVEY §3.3): CSV → staging → MERGE seed loader, the
  * Spark re-expression of csv_to_mssqldb.py — entity-generic, covering
  * both the 7-column orders seed and the wide ~57-column transactions
  * seed of the `deneme_3_case` pyc DAG (same flow, different entity:
  * "Filtering data for CreatedDateUtc ==", transactions_staging,
  * composite conflict key).
  *
  * Usage:
  *   sbt "runMain graft.run.CsvSeed --csv /path/orders.csv \
  *        [--entity orders|transactions] [--target-url jdbc:...] \
  *        [--target-dialect derby] [--run-date 2025-05-11]"
  *
  * Stages (each mirrors a reference step; line cites are
  * csv_to_mssqldb.py — the deneme_3_case pyc replays the same
  * function bodies for transactions):
  *  1. read CSV with the DECLARED all-string schema — no inference
  *     (:210; schema inference is the source of the reference's type
  *     hacks, SURVEY §1.3);
  *  2. align/pad to the expected column list (F6, :226-234);
  *  3. typed coercion per column with per-column loss audit
  *     (C1-C5, :242-327 and :251-256);
  *  4. drop rows with NULL in any upsert-key column (F3, :337-362);
  *  5. stage + set-based MERGE with the entity's creation timestamp
  *     insert-only (S9+S10, :410-466).
  */
object CsvSeed {

  /** What a CSV-seedable entity needs beyond its schema: the
    * logical-date filter column (the reference filters the
    * transactions CSV on `CreatedDateUtc`, the orders CSV on
    * `OrderCreatedAt`), the default conflict key, and the MERGE mode
    * (creation timestamp set-once in both DAGs —
    * csv_to_mssqldb.py:417-422). Casing is the CSV/MSSQL edge
    * (PascalCase), because the seed target IS the source database of
    * the daily sync. */
  final case class SeedEntity(
      name: String,
      schema: StructType,
      dateCol: String,
      defaultKeys: Seq[String],
      mode: Upsert.Mode)

  val entities: Map[String, SeedEntity] = Map(
    "orders" -> SeedEntity("orders", Schemas.orders, "OrderCreatedAt",
      Schemas.ordersKey, Upsert.InsertOnly(Seq("OrderCreatedAt"))),
    "transactions" -> SeedEntity("transactions", Schemas.transactions,
      "CreatedDateUtc", Schemas.transactionsKey,
      Upsert.InsertOnly(Seq("CreatedDateUtc"))))

  /** Coerce one raw string column to its declared type (C1-C5). */
  private def coerce(c: Column, dt: DataType): Column = dt match {
    case LongType          => Conversions.tryToLong(c)
    case IntegerType       => Conversions.tryToInt(c)
    case d: DecimalType    => Conversions.tryToDecimal(c, d.precision, d.scale)
    case TimestampType     => Conversions.parseTimestampMulti(c)
    case BooleanType       => Conversions.parseBoolean(c)
    case StringType        => c
    case other             => c.try_cast(other)
  }

  /** The full read-and-transform stage (csv_to_mssqldb.py:183-370),
    * returned with its audit so tests can pin the fixture behavior:
    * (typed rows to load, per-column coercion losses, rows dropped for
    * a NULL key).
    *
    * `runDate` (F7): keep only rows whose parsed `dateCol` falls on
    * that logical date — the per-logical-date CSV filter of
    * deneme_3_case.pyc ("Filtering data for CreatedDateUtc =="),
    * applied AFTER coercion so the filter sees typed timestamps, in
    * the sargable half-open form. NULL timestamps drop out of a dated
    * run, like the reference's equality filter.
    *
    * The audit rides the frame's write: a [[graft.io.Tally]]
    * pass-through below the run/key filter counts, per typed column,
    * the rows whose non-NULL raw value coerced to NULL (A3), and the
    * in-run rows dropped for a NULL key (F3), so the sink's write parses
    * the CSV once, coerces each value once and counts on the way. Only
    * successful task attempts reach the counts. Read the two audit
    * thunks once the frame's one action has run (a second action adds
    * its rows again); before it they read 0. */
  def readAndTransform(
      spark: SparkSession,
      path: String,
      keys: Seq[String],
      runDate: Option[String] = None,
      schema: StructType = Schemas.orders,
      dateCol: String = "OrderCreatedAt")
      : (DataFrame, () => Map[String, Long], () => Long) = {
    val rawSchema =
      StructType(schema.fields.map(f => StructField(f.name, StringType)))
    val raw = spark.read
      .option("header", "true")
      .option("quote", "\"")
      // RFC-4180 doubled-quote escaping, the csv module/pandas default
      // the reference reads with (JSON-in-string columns of the
      // transactions CSV carry embedded quotes); Spark's default
      // escape is backslash
      .option("escape", "\"")
      .schema(rawSchema)
      .csv(path)
    // C1-C5: each column coerced to its declared type, next to the raw
    // string of each typed column for the loss count
    val lossCols = schema.fields.filter(_.dataType != StringType).map(_.name)
    def rawOf(c: String) = s"raw $c"
    val typed = Conversions.alignToSchema(raw, rawSchema).select(
      (schema.fields.map(f => coerce(col(f.name), f.dataType).as(f.name)) ++
        lossCols.map(c => col(c).as(rawOf(c)))).toIndexedSeq: _*)
    // the F7 day filter and the F3 key check (NULL, or NaN like `na.drop`)
    val inRun = runDate.fold(lit(true))(Pipeline.daySlice(col(dateCol), _))
    val keyMissing = keys.map { k =>
      schema(k).dataType match {
        case DoubleType | FloatType => col(k).isNull || isnan(col(k))
        case _ => col(k).isNull
      }
    }.foldLeft(lit(false))(_ || _)

    val audit = Tally(spark, "csv seed audit")
    val counted = Tally.counting(typed, audit,
      when(inRun && keyMissing, DroppedKeys) +:
        lossCols.map(c => when(col(rawOf(c)).isNotNull && col(c).isNull, c))
        .toIndexedSeq: _*)
    val kept = counted.filter(inRun && !keyMissing)
      .select(schema.fieldNames.map(col).toIndexedSeq: _*)
    (kept, () => lossCols.map(c => c -> audit(c)).toMap,
      () => audit(DroppedKeys))
  }

  /** The tally key of the NULL-key drop count; the CSV columns are
    * PascalCase, so it cannot shadow a loss count. */
  private val DroppedKeys = "dropped_for_null_key"

  /** Resolve configured key names (lowercase/underscored at the env
    * edge, e.g. `order_id`, `txcorrelationid`) against the entity's
    * CSV-edge casing; names that resolve for a DIFFERENT entity (the
    * env default `order_id` during a transactions seed) fall back to
    * the entity's own conflict key. */
  def resolveKeys(se: SeedEntity, configured: Seq[String]): Seq[String] = {
    val resolved = configured.map { k =>
      se.schema.fieldNames
        .find(_.equalsIgnoreCase(k.replace("_", ""))) // order_id ≙ OrderID
        .orElse(se.schema.fieldNames.find(_.equalsIgnoreCase(k)))
        .getOrElse(k)
    }
    if (resolved.forall(se.schema.fieldNames.contains)) resolved
    else {
      println(s"[csv-seed] configured keys ${configured.mkString(",")} " +
        s"don't all exist on ${se.name}; using entity key " +
        se.defaultKeys.mkString(","))
      se.defaultKeys
    }
  }

  /** One seed run, callable from tests: read+transform the CSV, stage
    * + MERGE into the target, count back. Returns (staged, loaded). */
  def seed(
      spark: SparkSession,
      cfg: Config,
      se: SeedEntity,
      path: String,
      runDate: Option[String]): (Long, Long) = {
    val keys = resolveKeys(se, cfg.uniqueKeyColumns)
    runDate.foreach(d =>
      println(s"[csv-seed] filtering data for ${se.dateCol} == $d"))
    val (batch, audit, droppedKeys) =
      readAndTransform(spark, path, keys, runDate, se.schema, se.dateCol)

    val d = cfg.targetDialect
    val jdbc = cfg.targetJdbc.copy(batchSize = cfg.stagingLoadChunkSize)
    val target = d.table(cfg.targetSchemaName, cfg.targetTable)
    val staging = d.table(cfg.targetSchemaName, cfg.stagingTable)
    JdbcWrite.ensureTable(jdbc, d, cfg.targetSchemaName, cfg.targetTable,
      se.schema)
    JdbcWrite.ensureTable(jdbc, d, cfg.targetSchemaName, cfg.stagingTable,
      se.schema)
    val staged = MergeSink.write(batch, jdbc, d, target, staging, keys,
      se.mode, withByTarget = d == SqlDialect.SqlServer)
    // the audit was tallied by the staging load above
    audit().toSeq.sortBy(_._1).foreach { case (c, n) =>
      if (n > 0) println(s"[csv-seed] coercion losses in $c: $n")
    }
    println(s"[csv-seed] rows dropped for NULL key: ${droppedKeys()}")

    val loaded = JdbcSources.countWhere(jdbc, target, "1=1")
    Pipeline.reconcile("csv-seed (target total ≥ batch)", staged,
      math.min(staged, loaded)) // target may hold prior rows; batch ⊆ target
    println(s"[csv-seed] batch=$staged targetTotal=$loaded")
    (staged, loaded)
  }

  def main(args: Array[String]): Unit = {
    val opts = Args.parse(args)
    val entityName = opts.get("entity").getOrElse("orders")
    // env defaults name the orders tables; a transactions seed that
    // wasn't given explicit names substitutes transactions /
    // transactions_staging (the reference's STAGING_TABLE_NAME)
    val cfg = Pipeline.entityConfig(opts.config, entityName)
    val se = entities(entityName)
    val path = opts.get("csv")
      .orElse(cfg.csvFilePath)
      .getOrElse(sys.error("missing --csv (or CSV_FILE_PATH)"))
    Sessions.withLocal("graft-csv-seed")(
      seed(_, cfg, se, path, opts.get("run-date")))
  }
}
