package graft.core

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.{ChildJvm, SparkSpecBase}
import graft.streaming.Streams

/** Scope of the per-session memos (`Tables.load` reader plans,
  * `Streams` footer probes): one pass over a data dir resolves each
  * table once, a new session resolves and probes for itself, and a
  * stopped session is not kept reachable by what it memoized. */
class TablesSpec extends SparkSpecBase {
  import TablesSpec._

  test("reader plans: a second pass over all 10 tables reuses every " +
    "plan of the first (the memo bound holds one pass)") {
    val dir = layout(spark)
    val first = Names.map(Tables.load(spark, dir, _))
    val second = Names.map(Tables.load(spark, dir, _))
    Names.indices.foreach(i =>
      assert(first(i) eq second(i), s"${Names(i)} was resolved twice"))
  }

  test("a new session gets its own reader plans and its own footer " +
    "probes") {
    val dir = layout(spark)
    val child = spark.newSession()
    Names.foreach(t =>
      assert(!(Tables.load(child, dir, t) eq Tables.load(spark, dir, t)),
        s"$t: the child session got the parent's reader plan"))
    // the same (dir, glob) probed by two sessions, with the files'
    // schema changed in between: the first session keeps its probe,
    // the second probes the footers itself
    val docs = Files.createTempDirectory("tables_probe").toString
    def writeDocs(extra: String*): Unit =
      spark.range(2).selectExpr(Seq("id AS doc_id", "'a' AS text") ++
        extra: _*).coalesce(1).write.mode("overwrite").parquet(docs)
    def probed(s: SparkSession): Seq[String] =
      Streams.docsStream(s, docs, glob = "*.parquet").schema.fieldNames
        .toSeq
    writeDocs()
    assert(probed(spark) == Seq("doc_id", "text"))
    writeDocs("'en' AS lang")
    assert(probed(spark) == Seq("doc_id", "text"),
      "one footer probe per (session, dir, glob)")
    assert(probed(child) == Seq("doc_id", "text", "lang"),
      "the child session was answered by the parent's footer probe")
  }

  test("a stopped session is collectable after Tables.load and " +
    "eventsStream") {
    // a child JVM: stopping the suite's shared session is not an option
    val (freed, out) = ChildJvm.run(StoppedSessionProbe, layout(spark))
    assert(freed, s"the stopped session stayed reachable:\n${out.takeRight(4000)}")
  }
}

object TablesSpec {
  /** The data-dir layout: one single-file parquet table per name. */
  val Names: Seq[String] = Seq("region", "nation", "customer", "supplier",
    "part", "orders", "lineitem", "events", "documents", "embeddings")

  /** A fresh data dir holding every table of the layout (a few rows;
    * `events` carries the TIMESTAMP_NTZ `ts` that `eventsStream` probes). */
  def layout(spark: SparkSession): String = {
    val dir = Files.createTempDirectory("tables_layout")
    Names.foreach { name =>
      val df: DataFrame =
        if (name == "events")
          spark.sql("SELECT id AS event_id, " +
            "TIMESTAMP_NTZ'2024-01-01 00:00:00' AS ts FROM range(3)")
        else spark.range(3).toDF(s"${name}_id")
      val out = dir.resolve(s"_$name")
      df.coalesce(1).write.parquet(out.toString)
      val part = Files.list(out).iterator.asScala
        .find(_.getFileName.toString.endsWith(".parquet")).get
      Files.move(part, dir.resolve(s"$name.parquet"))
    }
    dir.toString
  }
}

/** Child-JVM body of the leak test: build a session, memoize a reader
  * plan and a footer probe, stop the session, drop every reference,
  * and exit 0 once a weak reference to the session has cleared.
  *
  * The body runs twice and only the second session is watched: a few
  * JVM-lifetime daemon threads (Hadoop's FileSystem statistics
  * cleaner) start on first use and inherit the session active at that
  * moment through `SparkSession`'s inheritable thread-local, pinning
  * the JVM's first session whatever the memos do. */
object StoppedSessionProbe {
  def main(args: Array[String]): Unit = {
    useAndStop(args(0))
    val ref = useAndStop(args(0))
    val deadline = System.nanoTime() + 60L * 1000000000L
    while (ref.get != null && System.nanoTime() < deadline) {
      System.gc()
      Thread.sleep(100)
    }
    val freed = ref.get == null
    println(s"stopped session freed: $freed")
    System.exit(if (freed) 0 else 1)
  }

  private def useAndStop(dir: String)
      : java.lang.ref.WeakReference[SparkSession] = {
    val s = Sessions.local("stopped-session-probe")
    Tables.load(s, dir, "orders")
    Streams.eventsStream(s, dir)
    Sessions.stop(s)
    new java.lang.ref.WeakReference(s)
  }
}
