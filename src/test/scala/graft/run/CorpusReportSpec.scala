package graft.run

import graft.{SparkEntry, SparkSpecBase}

/** Builders that stage a bounded frame for several consumers
  * (`q_corpus_report`'s fused per-source aggregate, `q_stream_funnel`'s
  * per-user chains, `q_stream_hll`'s registers) collect it into a local
  * frame; building the query must not leave that stage (or anything
  * else) persisted in the session. Reads the entry points' default
  * `--sf-dir` tables. */
class CorpusReportSpec extends SparkSpecBase {

  Seq("q_corpus_report", "q_stream_funnel", "q_stream_hll").foreach { q =>
    test(s"$q: a build and collect pins no RDD in the session") {
      val dir = Args(Map.empty).sfDir
      assume(new java.io.File(dir).isDirectory, s"testdata missing: $dir")
      val build = SparkEntry.queries(q)
      // the first build fills the session's shared memos (LSH
      // components, reader plans, footer probes)
      val first = build(spark, dir).collect().map(_.toString).sorted.toSeq
      val before = spark.sparkContext.getPersistentRDDs.keySet
      val again = build(spark, dir).collect().map(_.toString).sorted.toSeq
      val pinned = spark.sparkContext.getPersistentRDDs.keySet -- before
      assert(pinned.isEmpty, s"RDDs left persisted by a build: $pinned")
      assert(again.nonEmpty && again == first)
    }
  }
}
