package graft.run

import org.apache.spark.sql.streaming.{OutputMode, Trigger}

import graft.core.Sessions
import graft.streaming.Streams

/** Streaming entry point: drain the events directory once
  * (Trigger.AvailableNow — the streaming form of the catchup run, O1)
  * through the watermarked windowed aggregation, appending to a parquet
  * sink with an exactly-once checkpoint.
  *
  * Usage:
  *   sbt "runMain graft.run.StreamSync [--sf-dir DIR] --out OUTDIR"
  *
  * Re-running with the same checkpoint processes only NEW files — the
  * idempotent-replay contract (O5) falls out of the source/checkpoint
  * protocol instead of upsert statements.
  */
object StreamSync {

  def main(args: Array[String]): Unit = {
    val opts = Args.parse(args)
    val out = opts.required("out")
    Sessions.withLocal("graft-stream-sync") { spark =>
      val agg = Streams.windowedCounts(
        Streams.eventsStream(spark, opts.sfDir))
      val q = agg.writeStream
        .format("parquet")
        .option("path", s"$out/data")
        .option("checkpointLocation", s"$out/checkpoint")
        // parquet sink requires Append; watermark closes windows
        .outputMode(OutputMode.Append())
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      val n = spark.read.parquet(s"$out/data").count()
      println(s"[stream-sync] windows appended so far: $n")
    }
  }
}
