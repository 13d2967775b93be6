package graft.core

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The reference's "expression library" — its per-column pandas coercion
  * suite re-expressed as pure `Column` helpers (SURVEY.md §2.3, C1–C9).
  *
  * All of these compose built-in, codegen'd functions; no UDFs. They are
  * written for ANSI mode (Spark 4 default): every coercion uses the
  * `try_*` family so unparseable input yields NULL instead of failing the
  * job — exactly the reference's `errors='coerce'` semantics
  * (csv_to_mssqldb.py:242-327).
  */
object Conversions {

  /** Exactly the strings an ANSI string→integral cast accepts
    * (pinned empirically, `ConversionsSpec`): leading/trailing chars
    * in `[\x00-\x20\x7F]` are trimmed (`UTF8String.trimAll`; NEL,
    * NBSP, and Unicode spaces are NOT), then one optional sign and
    * ASCII digits only — no decimal point, exponent, or radix prefix.
    * Overflow is the one accept-then-fail case, left to `try_cast`. */
  private val IntegralShape =
    "^[\\x00-\\x20\\x7F]*[+-]?[0-9]+[\\x00-\\x20\\x7F]*$"

  /** TRY-mode string casts reach NULL by throwing and catching a
    * per-row NumberFormatException (~20µs/row) — on a column where
    * most values are unparseable (exactly the coercion-audit shape)
    * that exception path dominated the whole profile aggregate at
    * 10× rows. The codegen'd rlike prefilter routes shape-failing
    * rows straight to NULL; shape-passing rows defer to `try_cast`
    * so overflow semantics are untouched. Bit-identical to a bare
    * `try_cast` on STRING input (these helpers coerce text — the
    * reference's `errors='coerce'` runs on CSV/JSON fields). */
  private def integralGuard(c: Column, t: DataType): Column = {
    val s = c.cast(StringType)
    when(s.rlike(IntegralShape), s.try_cast(t))
  }

  /** C1: to-bigint with coercion — unparseable → NULL
    * (csv_to_mssqldb.py:259-264). */
  def tryToLong(c: Column): Column = integralGuard(c, LongType)

  /** C2: to-int with coercion (csv_to_mssqldb.py:321-326). */
  def tryToInt(c: Column): Column = integralGuard(c, IntegerType)

  /** C3: to-decimal with coercion; keeps DECIMAL(18,4) source precision
    * rather than the reference's lossy float64 hop
    * (csv_to_mssqldb.py:266-271; mssql_init/mssql_init.sql:29). */
  def tryToDecimal(c: Column, precision: Int = 18, scale: Int = 4): Column =
    c.try_cast(DecimalType(precision, scale))

  /** The formats [[parseTimestampMulti]] tries, in order. */
  private val TimestampFormats = Seq("M/d/yyyy H:mm", "yyyy-MM-dd HH:mm:ss")

  /** C4: multi-format timestamp parse with ordered fallback — try each
    * of [[TimestampFormats]] in order, then a plain cast; all failures →
    * NULL (csv_to_mssqldb.py:273-297: strict `%m/%d/%Y %H:%M`, then
    * pandas auto-inference, then all-NaT). */
  def parseTimestampMulti(c: Column): Column =
    coalesce(
      (TimestampFormats.map(f => try_to_timestamp(c, lit(f))) :+
        c.try_cast(TimestampType)): _*)

  private val TrueTokens  = Seq("TRUE", "1", "YES", "T", "Y")
  private val FalseTokens = Seq("FALSE", "0", "NO", "F", "N")

  /** Whole-string, case-insensitive match of one token list. `(?iu)`
    * folds case per code point, which on these tokens accepts exactly
    * the strings whose `upper()` is a token: the one non-ASCII code
    * point that upper-cases to a token letter is `ſ` (U+017F → S), and
    * `(?iu)` matches it to `S` too; the multi-letter upper-casings
    * (`ß` → SS, the `ﬀ`/`ﬁ`/`ﬂ`/`ﬅ` ligatures) spell no token part.
    * `\z`, not `$`, so a trailing newline is not accepted. */
  private def tokenPattern(tokens: Seq[String]): String =
    tokens.mkString("(?iu)\\A(?:", "|", ")\\z")
  private val TruePattern = tokenPattern(TrueTokens)
  private val FalsePattern = tokenPattern(FalseTokens)

  /** C5: permissive boolean parse — TRUE/1/YES/T/Y → true,
    * FALSE/0/NO/F/N → false, anything else → NULL
    * (csv_to_mssqldb.py:299-319).
    *
    * Bit-identical to `upper(trim(c)).isin(tokens)` (pinned against it
    * in `ConversionsSpec`), without `upper()`: Spark's `upper` goes
    * through ICU case mapping, and its first use in a JVM builds a
    * table over every code point — the largest single cost of a cold
    * CSV seed. */
  def parseBoolean(c: Column): Column = {
    val t = trim(c)
    when(t.rlike(TruePattern), lit(true))
      .when(t.rlike(FalsePattern), lit(false))
      .otherwise(lit(null).cast(BooleanType))
  }

  /** F5: rename-to-lowercase before target load
    * (dags/mssql_to_postgresql_orders_daily.py:216). */
  def lowercaseColumns(df: DataFrame): DataFrame =
    df.toDF(df.columns.toIndexedSeq.map(_.toLowerCase): _*)

  /** F6: column alignment/padding — keep expected columns in target
    * order, add missing ones as typed NULLs
    * (csv_to_mssqldb.py:226-234). Any column outside `schema` drops,
    * which covers F4's auto-increment `id` drop
    * (dags/mssql_to_postgresql_orders_daily.py:217). */
  def alignToSchema(df: DataFrame, schema: StructType): DataFrame = {
    val present = df.columns.map(_.toLowerCase).toSet
    df.select(schema.fields.map { f =>
      if (present(f.name.toLowerCase)) col(f.name).cast(f.dataType).as(f.name)
      else lit(null).cast(f.dataType).as(f.name)
    }.toIndexedSeq: _*)
  }

  /** Coercion-audit metric (csv_to_mssqldb.py:251-256): count of values
    * that a coercion nulled out (non-null in, null out). */
  def coercionLossCount(raw: Column, coerced: Column): Column =
    sum(when(raw.isNotNull && coerced.isNull, 1L).otherwise(0L))

  /** A3: per-column NULL counts (csv_to_mssqldb.py:252-261;
    * column_check.py:5) — one aggregate row, a `<col>_nulls` per column. */
  def nullCounts(df: DataFrame): DataFrame =
    df.agg(
      sum(when(col(df.columns.head).isNull, 1L).otherwise(0L))
        .as(s"${df.columns.head}_nulls"),
      df.columns.tail.map(c =>
        sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"${c}_nulls")).toIndexedSeq: _*)
}
