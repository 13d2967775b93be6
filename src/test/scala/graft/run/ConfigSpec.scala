package graft.run

import org.scalatest.funsuite.AnyFunSuite

import graft.io.SqlDialect

/** Source and target read their dialect names by one rule: a named
  * dialect is honoured on either side, a URL override without a name
  * means Derby, and an unknown name fails. */
class ConfigSpec extends AnyFunSuite {

  private val srcUrl = "GRAFT_SOURCE_URL" -> "jdbc:postgresql://db/src"

  test("a source URL with GRAFT_SOURCE_DIALECT=postgres reads as " +
      "PostgreSQL in schema public") {
    val cfg = Config.fromEnv(Map(srcUrl, "GRAFT_SOURCE_DIALECT" -> "postgres"))
    assert(cfg.sourceDialect == SqlDialect.Postgres)
    assert(cfg.sourceSchemaName == "public")
    assert(cfg.sourceDialect.table(cfg.sourceSchemaName, "orders") ==
      SqlDialect.Postgres.table("public", "orders"))
  }

  test("a source URL without a dialect name stays Derby in schema APP") {
    val cfg = Config.fromEnv(Map(srcUrl))
    assert(cfg.sourceDialect == SqlDialect.Derby)
    assert(cfg.sourceSchemaName == "APP")
    // no source URL: the reference's SQL Server source
    assert(Config.fromEnv(Map.empty).sourceDialect == SqlDialect.SqlServer)
  }

  test("an unknown dialect name fails on the source side as on the target") {
    val src = intercept[IllegalArgumentException] {
      Config.fromEnv(Map(srcUrl, "GRAFT_SOURCE_DIALECT" -> "oracle"))
        .sourceDialect
    }
    assert(src.getMessage.contains("oracle"))
    intercept[IllegalArgumentException] {
      Config.fromEnv(Map("GRAFT_TARGET_DIALECT" -> "oracle")).targetDialect
    }
  }
}
