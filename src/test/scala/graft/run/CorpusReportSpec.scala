package graft.run

import graft.{SparkEntry, SparkSpecBase}

/** `q_corpus_report` stages its fused per-source aggregate once for two
  * consumers; building the query must not leave that stage (or anything
  * else) persisted in the session. Reads the entry points' default
  * `--sf-dir` tables. */
class CorpusReportSpec extends SparkSpecBase {

  test("q_corpus_report: a build and collect pins no RDD in the session") {
    val dir = Args(Map.empty).sfDir
    assume(new java.io.File(dir).isDirectory, s"testdata missing: $dir")
    val build = SparkEntry.queries("q_corpus_report")
    // the first build fills the session's shared LSH component memo
    val first = build(spark, dir).collect().map(_.toString).sorted.toSeq
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val again = build(spark, dir).collect().map(_.toString).sorted.toSeq
    val pinned = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(pinned.isEmpty, s"RDDs left persisted by a build: $pinned")
    assert(again.nonEmpty && again == first)
  }
}
