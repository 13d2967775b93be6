package graft.run

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, expr}

import graft.core.{Sessions, Tables}
import graft.operators.Curation

/** Declarative curation recipe — the config-driven surface of
  * [[graft.operators.Curation.standardPipeline]], mirroring how the
  * reference drives its pipelines from a flat env/CLI config
  * (dags/mssql_to_postgresql_orders_daily.py:61-119) rather than code:
  * a curation run is a small `key=value` file a data engineer reviews
  * and versions, not a Scala change.
  *
  * Format: one `key=value` per line; `#` starts a comment; blank lines
  * ignored. `text`, `quality`, and the optional `dsir_target` are
  * Spark SQL EXPRESSIONS over the input columns (e.g.
  * `quality=ln(1 + n_chars)`, `dsir_target=lang = 'en'`), so a
  * recipe can derive its gate metric — and name its DSIR target
  * slice — without a code hook; `dsir_keep_permille` arms the
  * distribution-matching selection stage between dedup and the
  * rebalance. Unknown keys are REJECTED (a typo must not silently
  * fall back to a default).
  */
final case class CurationRecipe(
    strata: Seq[String],
    idCol: String,
    textExpr: String,
    qualityExpr: String,
    dropPermille: Int,
    totalTarget: Long,
    nShards: Int,
    sampleSeed: Int,
    shardSeed: Int,
    dsirTargetExpr: Option[String],
    dsirKeepPermille: Int) {

  /** Compile against `docs`: pure composition of the individually
    * gated stages — identical semantics to calling
    * [[Curation.standardPipeline]] with these values (pinned by
    * CurateSpec). */
  def run(docs: DataFrame): DataFrame =
    Curation.standardPipeline(
      docs, strata, idCol, expr(textExpr), expr(qualityExpr),
      dropPermille, totalTarget, nShards, sampleSeed, shardSeed,
      dsirTargetExpr.map(expr), dsirKeepPermille)

  /** The restartable form: stages materialize under `stageDir` and a
    * re-run resumes from the last completed stage — same result
    * (see [[Curation.standardPipelineStaged]]). */
  def runStaged(docs: DataFrame, stageDir: String): DataFrame =
    Curation.standardPipelineStaged(
      docs, strata, idCol, expr(textExpr), expr(qualityExpr),
      dropPermille, totalTarget, nShards, stageDir, sampleSeed,
      shardSeed, dsirTargetExpr.map(expr), dsirKeepPermille)
}

object CurationRecipe {

  private val Required =
    Seq("strata", "id", "text", "quality", "drop_permille",
      "total_target", "n_shards")
  private val Optional = Seq("sample_seed", "shard_seed",
    "dsir_target", "dsir_keep_permille")

  /** Parse and VALIDATE a recipe; every failure names the key. */
  def parse(content: String): CurationRecipe = {
    val kv = content.linesIterator
      .map(_.trim)
      .filter(l => l.nonEmpty && !l.startsWith("#"))
      .map { l =>
        val i = l.indexOf('=')
        require(i > 0, s"recipe line is not key=value: '$l'")
        (l.take(i).trim, l.drop(i + 1).trim)
      }
      .toSeq
    val dup = kv.groupBy(_._1).collect { case (k, vs) if vs.size > 1 => k }
    require(dup.isEmpty, s"duplicate recipe keys: ${dup.mkString(",")}")
    val m = kv.toMap
    val unknown = m.keySet -- Required -- Optional
    require(unknown.isEmpty,
      s"unknown recipe keys: ${unknown.mkString(",")} " +
        s"(known: ${(Required ++ Optional).mkString(",")})")
    val missing = Required.filterNot(m.contains)
    require(missing.isEmpty,
      s"missing recipe keys: ${missing.mkString(",")}")
    def intKey(k: String): Int =
      try m(k).toInt
      catch { case _: NumberFormatException =>
        throw new IllegalArgumentException(
          s"recipe key $k is not an integer: '${m(k)}'")
      }
    val drop = intKey("drop_permille")
    require(drop >= 0 && drop < 1000,
      s"drop_permille must be in [0, 1000): $drop")
    val target = try m("total_target").toLong
      catch { case _: NumberFormatException =>
        throw new IllegalArgumentException(
          s"recipe key total_target is not an integer: " +
            s"'${m("total_target")}'")
      }
    require(target > 0, s"total_target must be positive: $target")
    val shards = intKey("n_shards")
    require(shards > 0, s"n_shards must be positive: $shards")
    CurationRecipe(
      strata = m("strata").split(",").map(_.trim).filter(_.nonEmpty).toSeq,
      idCol = m("id"),
      textExpr = m("text"),
      qualityExpr = m("quality"),
      dropPermille = drop,
      totalTarget = target,
      nShards = shards,
      sampleSeed = m.get("sample_seed").map(_.toInt).getOrElse(19),
      shardSeed = m.get("shard_seed").map(_.toInt).getOrElse(23),
      dsirTargetExpr = m.get("dsir_target"),
      dsirKeepPermille = {
        val p = m.get("dsir_keep_permille").map(_ =>
          intKey("dsir_keep_permille")).getOrElse(1000)
        require(p >= 1 && p <= 1000,
          s"dsir_keep_permille must be in [1, 1000]: $p")
        require(p == 1000 || m.contains("dsir_target"),
          "dsir_keep_permille needs a dsir_target expression")
        p
      })
  }
}

/** CLI: run a recipe file over the documents table and write the
  * sharded corpus.
  *
  * {{{
  * sbt 'runMain graft.run.Curate --recipe my.recipe \
  *      --sf-dir /root/testdata/sf0.001 --out /tmp/curated'
  * }}}
  *
  * Output is partitioned by `shard` (one directory per shard — the
  * layout trainers consume) and the run prints a per-shard row-count
  * audit before exiting.
  */
object Curate {
  def main(args: Array[String]): Unit = {
    def arg(name: String): Option[String] = {
      val i = args.indexOf(s"--$name")
      if (i >= 0 && i + 1 < args.length) Some(args(i + 1)) else None
    }
    val recipePath = arg("recipe").getOrElse(
      sys.error("--recipe <file> is required"))
    val sfDir = arg("sf-dir").getOrElse("/root/testdata/sf0.001")
    val out = arg("out").getOrElse(sys.error("--out <dir> is required"))
    val recipe = CurationRecipe.parse(
      new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(recipePath)), "UTF-8"))
    Sessions.withLocal("graft-curate") { spark =>
      // --staged <dir>: materialize stages and resume across re-runs
      // (preemption-safe; same result as the in-memory composition)
      val result = arg("staged") match {
        case Some(stageDir) =>
          recipe.runStaged(Tables.documents(spark, sfDir), stageDir)
        case None => recipe.run(Tables.documents(spark, sfDir))
      }
      result.write.mode("overwrite").partitionBy("shard").parquet(out)
      result.groupBy(col("shard")).count().orderBy(col("shard"))
        .collect()
        .foreach(r =>
          println(s"[curate] shard=${r.get(0)} rows=${r.get(1)}"))
      println(s"[curate] total=${result.count()} -> $out")
      result.unpersist(false)
    }
  }
}
