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

  /** `path` as a file-stream source directory: a directory passes
    * through, a single parquet file is staged into a scratch directory
    * of its own (the file stream source requires a directory). */
  def stageDir(path: String, tag: String): String = {
    val src = java.nio.file.Paths.get(path)
    if (java.nio.file.Files.isDirectory(src)) return path
    val dir = java.nio.file.Paths.get(
      graft.Scratch.path(s"${tag}_${math.abs(path.hashCode)}"))
    java.nio.file.Files.createDirectories(dir)
    java.nio.file.Files.copy(src, dir.resolve(src.getFileName),
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    dir.toString
  }

  /** Run the streaming frame `query` builds as an available-now query
    * into a memory sink and return the sink's rows as a frame of
    * `spark`. The query runs on a child session (`newSession`: the
    * same SparkContext, its own SQL conf) that carries `spark`'s
    * settings plus 8 shuffle partitions — stateful operators allocate
    * one state store per shuffle partition per stateful op (a
    * stream-stream join has four), and at these input sizes the
    * per-store setup dominates; on a real cluster the knob is sized to
    * the key cardinality instead. `spark`'s own conf is never touched,
    * so other users of the session never see the setting. */
  def toMemory(spark: SparkSession, outputMode: String)(
      query: SparkSession => DataFrame): DataFrame = {
    val child = spark.newSession()
    spark.conf.getAll.foreach { case (k, v) =>
      if (child.conf.isModifiable(k)) child.conf.set(k, v)
    }
    child.conf.set("spark.sql.shuffle.partitions", "8")
    val q = query(child).writeStream.outputMode(outputMode)
      .format("memory").queryName("graft_stream")
      .trigger(Trigger.AvailableNow())
      .start()
    try q.awaitTermination() finally q.stop()
    val sink = child.table("graft_stream")
    spark.createDataFrame(java.util.Arrays.asList(sink.collect(): _*),
      sink.schema)
  }
}
