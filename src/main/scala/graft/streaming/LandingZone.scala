package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.Trigger

/** The landing-zone harness behind every `*IngestStreamed`-style
  * operator: a parquet file source watches `streamDir` (schema read
  * from the files already landed), `maxFilesPerTrigger = 1` hands each
  * landed file to `step` as its own micro-batch in (modification-time,
  * path) order — arrival order decides which copy of a duplicate is
  * "first", exactly like a batch chain — and Trigger.AvailableNow
  * blocks until the backlog drains. `checkpointDir` makes the
  * processed-file log durable across restarts, so a rerun skips every
  * file a finished run already ingested. */
private[graft] object LandingZone {
  def drain(spark: SparkSession, streamDir: String,
      checkpointDir: Option[String])(step: DataFrame => Unit): Unit = {
    val writer = spark.readStream
      .schema(spark.read.parquet(streamDir).schema)
      .option("maxFilesPerTrigger", "1")
      .option("latestFirst", "false")
      .parquet(streamDir)
      .writeStream
      .foreachBatch((batch: DataFrame, _: Long) => step(batch))
      .trigger(Trigger.AvailableNow())
    checkpointDir.fold(writer)(d => writer.option("checkpointLocation", d))
      .start()
      .awaitTermination()
  }
}
