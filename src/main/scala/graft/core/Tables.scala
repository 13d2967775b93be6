package graft.core

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Parquet table loaders for the driver-generated testdata layout
  * (`TESTDATA.md`): one parquet file per table under an sf dir.
  *
  * At 100 TB these would be partitioned lakehouse tables; the loader is
  * the single seam where partition pruning / bucketing options attach,
  * so nothing else in the engine hard-codes paths.
  */
object Tables {
  /** LRU bound of the per-session memos (reader plans here, footer
    * probes in `Streams`): one catalog pass reads the layout's 10
    * tables of one data dir, and the bench's warm-up and timed passes
    * read two dirs in one session. 20 holds both without an eviction;
    * below 10, a pass cycling through its tables would miss on every
    * lookup. */
  private[graft] val MemoEntries = 2 * 10

  /** Per-session memo of the RESOLVED reader plan for each (dir,
    * table): `spark.read.parquet` pays DataSource resolution — file
    * listing plus a parquet-footer schema read — on every call, and a
    * full catalog run issues it ~400× per pass for the same immutable
    * files. Memoizing the lazy DataFrame is a catalog lookup (exactly
    * what `spark.table` does for a registered table): NO data or
    * results are cached — the plan is an unexecuted scan, and every
    * query still computes from the parquet inputs. Keyed by session
    * so tests with fresh sessions never see a stale plan; a stopped
    * session's plans are dropped with it ([[SessionMemo]]).
    *
    * ASSUMPTION (documented per VERDICT r16 item 6): the files under
    * `dir/name.parquet` are immutable for the lifetime of a session —
    * the driver's testdata contract and the lakehouse-table norm. A
    * caller that regenerates files in place within one JVM must use a
    * fresh session. */
  private val readers = new SessionMemo[DataFrame](MemoEntries)

  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    readers.getOrElseUpdate(spark, path, spark.read.parquet(path))
  }

  def region(s: SparkSession, d: String): DataFrame   = load(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame   = load(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame     = load(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame   = load(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame = load(s, d, "lineitem")

  /** Session conf every graft session needs, applied once at build time
    * (a loader mutating session conf mid-query would silently change the
    * behavior of later reads): UTC wall-clock discipline (C7), and —
    * when the generator emits parquet TIMESTAMP(NANOS), which Spark's
    * vectorized reader rejects — nanos surfaced as a raw long. */
  val RequiredConf: Map[String, String] = Map(
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    "spark.sql.session.timeZone" -> "UTC")

  /** Canonical events frame: exact epoch-nanos `ts_ns` for ordering +
    * a TimestampType `ts` for date math/formatting, whichever way the
    * generator wrote the column. Two physical layouts exist across
    * driver rounds — parquet TIMESTAMP(NANOS) (surfaced as a raw long
    * via [[RequiredConf]]) and TIMESTAMP(MICROS) (surfaced as
    * TIMESTAMP_NTZ) — so dispatch on the loaded type; both branches
    * emit the identical (name, type, order) shape. */
  def events(s: SparkSession, d: String): DataFrame = {
    require(
      s.conf.getOption("spark.sql.session.timeZone").contains("UTC"),
      "set graft.core.Tables.RequiredConf on the SparkSession builder")
    import org.apache.spark.sql.functions._
    val raw = explainNanos(s"$d/events.parquet")(load(s, d, "events"))
    val shaped = raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumnRenamed("ts", "ts_ns")
          .withColumn("ts", timestamp_micros(expr("ts_ns div 1000")))
      case _ =>
        // NTZ→session-TZ cast is lossless under the pinned UTC zone;
        // micros data makes unix_micros·1000 the exact nano value
        raw.withColumn("ts",
            col("ts").cast(org.apache.spark.sql.types.TimestampType))
          .withColumn("ts_ns", unix_micros(col("ts")) * 1000L)
    }
    shaped.select("event_id", "ts_ns", "user_id", "event_type",
      "value", "props", "ts")
  }

  /** On the legacy TIMESTAMP(NANOS) layout a session built without
    * [[RequiredConf]] fails inside parquet schema conversion with an
    * "Illegal Parquet type: INT64 (TIMESTAMP(NANOS,...))": rethrow
    * that as the actionable message (the UTC require in [[events]]
    * can't see this: nanosAsLong only matters for one of the two
    * layouts). */
  private[graft] def explainNanos[T](path: String)(read: => T): T =
    try read
    catch {
      case e: Throwable
          if Option(e.getMessage).exists(_.contains("NANOS")) =>
        throw new IllegalStateException(
          s"$path uses the legacy TIMESTAMP(NANOS) layout; build the " +
            "session with graft.core.Tables.RequiredConf " +
            "(spark.sql.legacy.parquet.nanosAsLong=true)", e)
    }

  def documents(s: SparkSession, d: String): DataFrame =
    load(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame =
    load(s, d, "embeddings")
}
