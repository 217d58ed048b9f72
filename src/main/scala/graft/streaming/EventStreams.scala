package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types._

/** Structured Streaming over the `events` table shape (beyond-reference
  * extension — SURVEY.md §2.10): windowed aggregation with watermarks,
  * and stateful gap-based sessionization via flatMapGroupsWithState.
  * Each streaming operator has a batch twin (same column contract) so
  * the DuckDB oracle can check the semantics on bounded input.
  */
object EventStreams {

  val eventSchema: StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", TimestampType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType)))

  /** Batch read of an events parquet whose `ts` may be nanosecond
    * precision (Spark's parquet reader rejects NANOS by default —
    * read them as long and floor-divide to microseconds). */
  def readEvents(spark: SparkSession, path: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = spark.read.parquet(path)
    if (raw.schema("ts").dataType == LongType)
      raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
    else raw
  }

  /** File-source stream over a directory of event parquet. */
  def readEventStream(spark: SparkSession, path: String): DataFrame =
    spark.readStream.schema(eventSchema).parquet(path)

  /** Run a streaming transform as a REAL streaming query over an events
    * parquet (file source → available-now trigger → complete-mode
    * memory sink) and return the materialized result. On bounded input,
    * complete mode recomputes every window, so the result equals the
    * batch twin exactly — which is what lets the driver's DuckDB oracle
    * check a Structured Streaming execution path. */
  private def runStreamed(spark: SparkSession, path: String,
      outputMode: String = "complete")(
      transform: DataFrame => DataFrame): DataFrame =
    LandingZone.toMemory(spark, outputMode) { s =>
      // nanosecond `ts` reads as long on the query's own session only
      s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      val batchSchema = s.read.parquet(path).schema
      val raw = s.readStream.schema(batchSchema)
        .parquet(LandingZone.stageDir(path, "stream"))
      transform(
        if (batchSchema("ts").dataType == LongType)
          raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
        else raw)
    }

  /** [[hourlyTypeCounts]] executed as a real streaming query. */
  def hourlyTypeCountsStreamed(spark: SparkSession, path: String): DataFrame =
    runStreamed(spark, path)(hourlyTypeCounts)

  /** [[slidingTypeCounts]] executed as a real streaming query. */
  def slidingTypeCountsStreamed(spark: SparkSession, path: String): DataFrame =
    runStreamed(spark, path)(slidingTypeCounts(_))

  /** Sliding-window counts: 1-hour windows advancing every 30 minutes —
    * each event lands in exactly two windows (window assignment is a
    * per-row explode inside codegen; the shuffle key is the window, so
    * sliding costs `window/slide ×` the tumbling shuffle, the textbook
    * trade-off). 2-hour watermark bounds state like [[hourlyTypeCounts]].
    * Works identically over batch input (the batch twin for the oracle). */
  def slidingTypeCounts(events: DataFrame,
                        winDur: String = "1 hour",
                        slide: String = "30 minutes"): DataFrame = {
    val base = if (events.isStreaming) events.withWatermark("ts", "2 hours") else events
    base
      .groupBy(window(col("ts"), winDur, slide), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast(DecimalType(18, 2))).cast("double").as("total_value"))
      .select(
        date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss").as("window_start"),
        col("event_type"), col("n"), col("total_value"))
  }

  /** Stream-stream join: attribute each purchase to the clicks the same
    * user made in the preceding `windowSec` seconds. On streams, both
    * sides carry watermarks and the join condition carries the time
    * bound, so Spark keeps only `windowSec + watermark` of each side in
    * state — bounded memory at any throughput; the shuffle key is
    * `user_id`, so matching is local after one co-partitioning of each
    * side. Inner joins emit matches immediately → on bounded input the
    * result equals the batch twin (same code path, batch inputs). */
  def clickPurchaseJoin(events: DataFrame, windowSec: Long = 1800): DataFrame = {
    val streaming = events.isStreaming
    def side(tpe: String, pfx: String) = {
      val base = if (streaming) events.withWatermark("ts", "2 hours") else events
      base.filter(col("event_type") === tpe).select(
        col("event_id").as(s"${pfx}_id"), col("ts").as(s"${pfx}_ts"),
        col("user_id").as(s"${pfx}_user"), col("value").as(s"${pfx}_value"))
    }
    side("click", "c").join(side("purchase", "p"),
        col("c_user") === col("p_user") &&
          col("c_ts") >= col("p_ts") - expr(s"INTERVAL $windowSec SECONDS") &&
          col("c_ts") <= col("p_ts"))
      .select(col("c_user").as("user_id"), col("c_id").as("click_id"),
        col("p_id").as("purchase_id"),
        unix_timestamp(col("p_ts")).minus(unix_timestamp(col("c_ts")))
          .as("lag_sec"),
        col("p_value").cast(DecimalType(18, 2)).cast("double").as("purchase_value"))
  }

  /** [[clickPurchaseJoin]] executed as a real stream-stream join
    * (append mode — the only mode stream-stream inner joins support). */
  def clickPurchaseJoinStreamed(spark: SparkSession, path: String): DataFrame =
    runStreamed(spark, path, outputMode = "append")(
      clickPurchaseJoin(_))

  /** Stream-static join: enrich each event with a (small) static
    * dimension — the dim side is broadcast, so the stream never
    * shuffles and no state store is needed; the static side is
    * re-planned per micro-batch (picking up dim updates between
    * batches). Identical code path works for batch input (the twin). */
  def enrichWithDim(events: DataFrame, dim: DataFrame,
                    eventKey: String, dimKey: String): DataFrame =
    events.join(broadcast(dim), events(eventKey) === dim(dimKey), "left")

  /** [[enrichWithDim]] executed as a real streaming query. */
  def enrichWithDimStreamed(spark: SparkSession, path: String, dim: DataFrame,
                            eventKey: String, dimKey: String,
                            project: DataFrame => DataFrame): DataFrame =
    runStreamed(spark, path, outputMode = "append")(ev =>
      project(enrichWithDim(ev, dim, eventKey, dimKey)))

  /** Streaming hourly tumbling-window counts with a 2-hour watermark
    * (late data beyond the watermark is dropped). */
  def hourlyTypeCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast(DecimalType(18, 2))).cast("double").as("total_value"))
      .select(
        date_format(col("window.start"), "yyyy-MM-dd HH:00:00").as("hour"),
        col("event_type"), col("n"), col("total_value"))

  /** Batch twin of [[hourlyTypeCounts]] (same output contract). */
  def hourlyTypeCountsBatch(events: DataFrame): DataFrame =
    events
      .groupBy(date_format(date_trunc("hour", col("ts")), "yyyy-MM-dd HH:00:00").as("hour"),
        col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast(DecimalType(18, 2))).cast("double").as("total_value"))

  /** Streaming exactly-once dedup: drop re-deliveries of the same
    * event id arriving within the watermark horizon (state is evicted
    * once the watermark passes — bounded memory, unlike a plain
    * streaming dropDuplicates). The at-scale answer to at-least-once
    * ingestion feeding a training pipeline. */
  def dedupStream(events: DataFrame, keyCol: String,
                  watermark: String = "1 hour",
                  tsCol: String = "ts"): DataFrame =
    events.withWatermark(tsCol, watermark).dropDuplicatesWithinWatermark(keyCol)

  /** Exactly-once projection shared by the streamed dedup and its batch
    * twin (ts formatted, value decimal-normalized — the driver-contract
    * surface types). */
  private def dedupProjection(df: DataFrame): DataFrame =
    df.select(col("event_id"),
      date_format(col("ts"), "yyyy-MM-dd HH:mm:ss").as("ts"),
      col("user_id"), col("event_type"),
      col("value").cast(DecimalType(18, 2)).cast("double").as("value"))

  /** [[dedupStream]] executed as a REAL streaming query over a
    * REDELIVERED input: the events file is staged twice into the stream
    * directory (the at-least-once ingestion failure mode — a source
    * re-delivers a whole file), and the query must emit every event
    * exactly once. Whether the copies land in one micro-batch (state
    * dedups inside the batch) or two (the second copy is either matched
    * in state or dropped as sub-watermark late data), the emitted set
    * is the distinct events — which is what lets the batch twin / the
    * DuckDB oracle check a stateful streaming path. */
  def dedupStreamed(spark: SparkSession, path: String): DataFrame = {
    val src = java.nio.file.Paths.get(path)
    val dir = java.nio.file.Paths.get(
      graft.Scratch.path(s"dedup_redelivery_${math.abs(path.hashCode)}"))
    java.nio.file.Files.createDirectories(dir)
    // the source may be a single parquet file (driver testdata) or a
    // parquet DIRECTORY (replica datasets): stage each delivery as a
    // single file either way — a naive Files.copy of a directory
    // copies an empty dir and the stream source then has no schema
    val partFile =
      if (!java.nio.file.Files.isDirectory(src)) src
      else {
        val walk = java.nio.file.Files.list(src)
        val parts =
          try walk.filter(_.getFileName.toString.endsWith(".parquet"))
            .toArray.toSeq.map(_.asInstanceOf[java.nio.file.Path])
          finally walk.close()
        require(parts.size == 1,
          s"dedupStreamed stages the source as one file per delivery; " +
            s"$path is a directory with ${parts.size} part files — " +
            s"compact it to one part first")
        parts.head
      }
    Seq("redelivery_1.parquet", "redelivery_2.parquet").foreach { n =>
      java.nio.file.Files.copy(partFile, dir.resolve(n),
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    }
    runStreamed(spark, dir.toString, outputMode = "append")(ev =>
      dedupProjection(dedupStream(ev, "event_id")))
  }

  /** Batch twin of [[dedupStreamed]]: the same doubled delivery
    * (union with itself), deduplicated by key. Rows of a redelivered
    * event are byte-identical, so any survivor is THE row — the result
    * is engine-exact without an ordering tie-break. */
  def dedupBatch(events: DataFrame): DataFrame =
    dedupProjection(events.union(events).dropDuplicates("event_id"))

  final case class Ev(event_id: Long, ts: java.sql.Timestamp,
                      user_id: Long, value: Double)
  final case class SessionAcc(start: Long, last: Long, n: Long, sum: Double)
  final case class Session(user_id: Long, session_start: Long,
                           n_events: Long, duration_sec: Long, total_value: Double)

  /** Streaming gap-based sessionization: a session closes when a user
    * is silent for `gapSec` (event-time). State = one open session per
    * user; closed sessions are emitted on timeout. */
  def sessionizeStream(events: DataFrame, gapSec: Long): Dataset[Session] = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      .withWatermark("ts", "1 hour")
      .select(col("event_id"), col("ts"), col("user_id"), col("value"))
      .as[Ev]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionAcc, Session](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (userId: Long, rows: Iterator[Ev], state: GroupState[SessionAcc]) =>
          if (rows.isEmpty && state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator.single(Session(userId, s.start, s.n, s.last - s.start, s.sum))
          } else {
            val sorted = rows.toSeq.sortBy(e => (e.ts.getTime, e.event_id))
            var acc = state.getOption.orNull
            val closed = Seq.newBuilder[Session]
            sorted.foreach { e =>
              val sec = e.ts.getTime / 1000
              if (acc == null) acc = SessionAcc(sec, sec, 1, e.value)
              else if (sec - acc.last > gapSec) {
                closed += Session(userId, acc.start, acc.n, acc.last - acc.start, acc.sum)
                acc = SessionAcc(sec, sec, 1, e.value)
              } else acc = acc.copy(last = sec, n = acc.n + 1, sum = acc.sum + e.value)
            }
            state.update(acc)
            state.setTimeoutTimestamp(acc.last * 1000 + gapSec * 1000)
            closed.result().iterator
          }
      }
  }

  /** Batch twin of sessionization via window functions (lag → gap flag
    * → running session id → per-session aggregate). Integer epoch-second
    * arithmetic throughout: engine-exact, oracle-friendly. */
  def sessionizeBatch(events: DataFrame, gapSec: Long): DataFrame = {
    val byUser = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val sec = unix_timestamp(col("ts"))
    val newSession = when(
      sec - lag(sec, 1).over(byUser) > gapSec || lag(sec, 1).over(byUser).isNull, 1
    ).otherwise(0)
    events
      .withColumn("sec", sec)
      .withColumn("new_s", newSession)
      .withColumn("session_no", sum(col("new_s")).over(
        byUser.rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)))
      .groupBy(col("user_id"), col("session_no"))
      .agg(
        min(col("sec")).as("session_start"),
        count(lit(1)).as("n_events"),
        (max(col("sec")) - min(col("sec"))).as("duration_sec"),
        sum(col("value").cast(DecimalType(18, 2))).cast("double").as("total_value"))
      .select(col("user_id"), col("session_start"), col("n_events"),
        col("duration_sec"), col("total_value"))
  }

  /** Streaming half of the histogram drift monitor: the per-(group,
    * bin, side) counts of Stats.histDriftCounts maintained by a REAL
    * streaming aggregation (state = one row per occupied (group, bin)
    * — bounded by groups × nBins regardless of stream length), then
    * finalized into the per-group χ² from the materialized state. The
    * production shape for continuous drift dashboards: counts update
    * per micro-batch, the vocabulary-sized finalize runs on read.
    * Available-now + complete mode on bounded input ≡ the batch
    * operator, which is the driver-oracle contract. */
  def histDriftStreamed(
      spark: SparkSession, parquetPath: String,
      groupCol: String, valueCol: String, sideCol: org.apache.spark.sql.Column,
      lo: Double, hi: Double, nBins: Int): DataFrame = {
    val schema = spark.read.parquet(parquetPath).schema
    val counts = LandingZone.toMemory(spark, "complete") { s =>
      graft.operators.Stats.histDriftCounts(
        s.readStream.schema(schema)
          .parquet(LandingZone.stageDir(parquetPath, "histdrift")),
        groupCol, valueCol, sideCol, lo, hi, nBins)
    }
    graft.operators.Stats.finalizeHistDrift(counts)
      .select(col("grp").as(groupCol), col("n_a"), col("n_b"),
        col("n_bins_hit"), col("chi2"))
  }
}
