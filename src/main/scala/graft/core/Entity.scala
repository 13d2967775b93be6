package graft.core

import org.apache.spark.sql.types._

import graft.operators.Upsert

/** One synced entity: everything the pipeline needs to run the
  * reference's extract → transform → upsert → validate flow for a
  * table, independent of WHICH table (SURVEY.md §2.5 — the reference
  * repeats the same DAG body per entity; here the entity is data).
  *
  * Casing contract: `schema`/`key`/`incrementalColumn` carry the
  * source-edge (MSSQL) column casing; the target edge is always the
  * lowercased rename of the same names (F5,
  * dags/mssql_to_postgresql_orders_daily.py:216), derived here so the
  * two edges can never drift apart. `mode` speaks target casing because
  * the upsert SQL runs against the target (the reference's conflict
  * clause writes `transactions.updateddateutc`).
  *
  * `routesNulls`: rows whose incremental timestamp is NULL go to the
  * side table (`TARGET_INCOMPLETE_TABLE_NAME`), fully refreshed once
  * per sync run. Orders route them (the reference's incomplete-orders
  * flow); transactions do not, as in their pyc DAGs, where a NULL
  * `CreatedDateUtc` is in no day slice.
  *
  * Every entity runs the one sync path of [[graft.run.Pipeline]].
  */
final case class Entity(
    name: String,
    schema: StructType,
    key: Seq[String],
    incrementalColumn: String,
    mode: Upsert.Mode,
    routesNulls: Boolean = false) {
  require(key.nonEmpty, s"entity $name needs at least one key column")
  require(key.forall(schema.fieldNames.contains),
    s"entity $name key ${key.mkString(",")} not all in schema")
  require(schema.fieldNames.contains(incrementalColumn),
    s"entity $name incremental column $incrementalColumn not in schema")

  /** Target-edge schema: every column renamed to lowercase. */
  val targetSchema: StructType =
    StructType(schema.fields.map(f => f.copy(name = f.name.toLowerCase)))

  val targetKey: Seq[String] = key.map(_.toLowerCase)

  val targetIncrementalColumn: String = incrementalColumn.toLowerCase
}

object Entities {

  /** The orders entity in its DB-to-DB topology: in that flow the
    * source table already carries the target-cased names (the sandbox
    * stand-in [[graft.run.Pipeline.ordersSource]] produces the same
    * shape), so source and target edges coincide.
    * Uses the unconditional upsert of
    * dags/mssql_to_postgresql_orders_daily.py:296-308. */
  val orders: Entity = Entity(
    name = "orders",
    schema = StructType(Seq(
      StructField("order_id", LongType),
      StructField("user_id", LongType),
      StructField("order_created_at", TimestampType),
      StructField("amount", DecimalType(18, 4)),
      StructField("product", StringType))),
    key = Seq("order_id"),
    incrementalColumn = "order_created_at",
    mode = Upsert.Unconditional,
    routesNulls = true)

  /** The wide transactions entity
    * (dags/__pycache__/mssql_to_postgres_sync.cpython-38.pyc /
    * mssql_to_postgresql_daily.cpython-38.pyc): 57 columns, 4-column
    * composite conflict key, day slices on `CreatedDateUtc` (S3), and
    * last-write-wins on `updateddateutc` (S7's
    * `WHERE transactions.updateddateutc IS NULL OR
    * EXCLUDED.updateddateutc > transactions.updateddateutc`). */
  val transactions: Entity = Entity(
    name = "transactions",
    schema = Schemas.transactions,
    key = Schemas.transactionsKey,
    incrementalColumn = "CreatedDateUtc",
    mode = Upsert.LastWriteWins("updateddateutc"))

  val all: Seq[Entity] = Seq(orders, transactions)

  /** The entity called `name`, as the entry points' `--entity` takes it. */
  def named(name: String): Entity = all.find(_.name == name).getOrElse(
    sys.error(s"unknown --entity $name (${all.map(_.name).mkString(" | ")})"))
}
