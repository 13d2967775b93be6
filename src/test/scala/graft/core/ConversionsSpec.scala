package graft.core

import java.sql.Timestamp

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkSpecBase

/** Pins the reference's coercion semantics (SURVEY.md §2.3 C1–C5,
  * §2.2 F3–F6) on the edge cases called out in §5/§7.4: single-digit
  * `M/d/yyyy H:mm` fields, the boolean token table
  * (csv_to_mssqldb.py:304-316), align/pad, coercion-loss audits.
  */
class ConversionsSpec extends SparkSpecBase {
  import Conversions._

  private def one(colv: org.apache.spark.sql.Column, rows: Seq[String]): Seq[Any] = {
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(rows.map(Row(_)), 2),
      StructType(Seq(StructField("raw", StringType))))
    df.select(colv.as("v")).collect().toSeq.map(r => r.get(0))
  }

  test("C1 tryToLong coerces unparseable to NULL (csv_to_mssqldb.py:259)") {
    assert(one(tryToLong(col("raw")), Seq("42", "-7", "x42", "", "9.5"))
      == Seq(42L, -7L, null, null, null))
  }

  test("C1/C2 shape prefilter is bit-identical to a bare try_cast") {
    // The guarded coercions skip TRY-mode's thrown-exception NULL path
    // via an rlike prefilter; this battery pins equivalence on every
    // acceptance-boundary case observed from the ANSI cast itself:
    // trimAll's exact character set, sign/digit shapes, overflow, and
    // the lookalikes the cast rejects (Unicode spaces/digits, NEL,
    // decimals, exponents, radix prefixes, interior controls).
    val trimmed = Seq(0x00, 0x09, 0x0a, 0x0b, 0x0c, 0x0d, 0x1f, 0x20,
      0x7f).map(cp => cp.toChar + "1" + cp.toChar)
    val untrimmed = Seq(0x85, 0x9f, 0xa0, 0x1680, 0x2000, 0x2028,
      0x202f, 0x3000).map(cp => new String(Character.toChars(cp)) + "1")
    val battery = Seq("1", "+1", "-1", " 12 ", "007", "1.0", "1.", ".5",
      "1e2", "0x1F", "", " ", "++1", "+-1", "+ 1", "1 2", "abc", "1a",
      "a1", "NaN", "-", "+", "1_000", "１２", "٣",
      "2147483647", "2147483648", "-2147483648", "-2147483649",
      "9223372036854775807", "9223372036854775808",
      "-9223372036854775808", "-9223372036854775809",
      "99999999999999999999999") ++ trimmed ++ untrimmed
    assert(one(tryToInt(col("raw")), battery)
      == one(col("raw").try_cast(IntegerType), battery))
    assert(one(tryToLong(col("raw")), battery)
      == one(col("raw").try_cast(LongType), battery))
  }

  test("C3 tryToDecimal keeps DECIMAL(18,4), coerces junk to NULL") {
    val got = one(tryToDecimal(col("raw")), Seq("12.3456", "1e2", "abc"))
    assert(got(0) == new java.math.BigDecimal("12.3456"))
    assert(got(1) == new java.math.BigDecimal("100.0000"))
    assert(got(2) == null)
  }

  test("C4 multi-format timestamp: single-digit M/d/yyyy H:mm first, " +
    "ISO fallback, junk → NULL (csv_to_mssqldb.py:273-297)") {
    val got = one(parseTimestampMulti(col("raw")), Seq(
      "3/5/2025 7:45",            // single-digit month/day/hour (strict fmt)
      "12/31/2024 23:59",         // double-digit same fmt
      "2025-01-02 10:20:30",      // fallback ISO format
      "2025-01-02T10:20:30",      // plain cast fallback
      "31/12/2024 10:00",         // invalid in M/d (month 31) → NULL
      "garbage"))
    assert(got == Seq(
      Timestamp.valueOf("2025-03-05 07:45:00"),
      Timestamp.valueOf("2024-12-31 23:59:00"),
      Timestamp.valueOf("2025-01-02 10:20:30"),
      Timestamp.valueOf("2025-01-02 10:20:30"),
      null, null))
  }

  test("C5 boolean token table matches csv_to_mssqldb.py:304-316") {
    val tokens = Seq(
      "TRUE", "true", " True ", "1", "YES", "T", "Y",
      "FALSE", "false", "0", "NO", "F", "N",
      "2", "maybe", "")
    val got = one(parseBoolean(col("raw")), tokens)
    assert(got == Seq(
      true, true, true, true, true, true, true,
      false, false, false, false, false, false,
      null, null, null))
  }

  test("C5 parseBoolean is bit-identical to upper(trim(c)).isin(tokens)") {
    // the pre-regex expression, inlined as the reference
    def reference(c: org.apache.spark.sql.Column) = {
      val u = upper(trim(c))
      when(u.isin("TRUE", "1", "YES", "T", "Y"), lit(true))
        .when(u.isin("FALSE", "0", "NO", "F", "N"), lit(false))
        .otherwise(lit(null).cast(BooleanType))
    }
    val tokens = Seq("TRUE", "1", "YES", "T", "Y",
      "FALSE", "0", "NO", "F", "N")
    val corpus = tokens ++ tokens.map(_.toLowerCase) ++ Seq(
      "True", "tRuE", "Yes", "yEs", "fAlSe", "No", "nO", "t", "y", "f", "n",
      " TRUE", "true ", "  no  ", "\tTRUE", "TRUE\t", "true\n", "\nfalse",
      "\u00a0TRUE", "TRUE\u00a0", "\u3000yes",
      "ye\u017f", "YE\u017f", "fal\u017fe", "FAL\u017fE", // ſ → S
      "ye\u00df", "YE\u00df", "fal\u00dfe",                 // ß → SS
      "\u0131", "tru\u0131", "\u0130",                      // ı → I, İ
      "\uff34\uff32\uff35\uff25", "\uff59\uff45\uff53", // fullwidth
      "\uff11", "\uff10",
      "\ufb00alse", "\ufb05", "\u212a",                     // ligatures, K
      "TRUEX", "XTRUE", "TRU", "YESNO", "1 ", "01", "10", "+1", "-0",
      "T R U E", "", " ", "  ", null)
    assert(one(parseBoolean(col("raw")), corpus) ==
      one(reference(col("raw")), corpus))
    // the corpus really reaches both non-NULL outcomes on the edge cases
    assert(one(parseBoolean(col("raw")),
      Seq("ye\u017f", "fal\u017fe", "ye\u00df", "true\n", null)) ==
      Seq(true, false, null, null, null))
  }

  test("F5/F6 lowercase + align pads missing columns as typed NULLs") {
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(Row(1L, "x")), 1),
      StructType(Seq(
        StructField("OrderID", LongType), StructField("Product", StringType))))
    val target = StructType(Seq(
      StructField("orderid", LongType),
      StructField("product", StringType),
      StructField("amount", DecimalType(18, 4))))
    val aligned = alignToSchema(lowercaseColumns(df), target)
    assert(aligned.schema.fieldNames.toSeq == Seq("orderid", "product", "amount"))
    assert(aligned.schema("amount").dataType == DecimalType(18, 4))
    assert(aligned.collect().toSeq == Seq(Row(1L, "x", null)))
  }

  test("F4 alignToSchema drops an id column outside the target schema") {
    val df = spark.range(3).withColumnRenamed("id", "orderid")
    assert(alignToSchema(df, df.schema).columns.toSeq == Seq("orderid"))
    val withId = spark.range(3).withColumn("v", lit(1))
    val target = StructType(Seq(StructField("v", IntegerType)))
    assert(alignToSchema(withId, target).columns.toSeq == Seq("v"))
  }

  test("coercionLossCount counts only non-null→null transitions") {
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(
        Seq(Row("1"), Row("x"), Row(null), Row("2")), 2),
      StructType(Seq(StructField("raw", StringType))))
    val got = df.agg(
      coercionLossCount(col("raw"), tryToLong(col("raw"))).as("lost"))
      .collect()(0).getLong(0)
    assert(got == 1L)
  }

  test("nullCounts audits every column (A3)") {
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(
        Seq(Row("a", null), Row(null, null)), 1),
      StructType(Seq(
        StructField("x", StringType), StructField("y", StringType))))
    assert(nullCounts(df).collect()(0) == Row(1L, 2L))
  }
}
