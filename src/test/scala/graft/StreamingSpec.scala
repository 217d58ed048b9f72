package graft

import graft.streaming.EventStreams

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** Structured Streaming operators driven synchronously through a
  * MemoryStream + memory sink; the streaming results are checked
  * against the batch twins on identical data (same column contract). */
class StreamingSpec extends GraftSpec {

  import spark.implicits._

  private def ts(minute: Int): java.sql.Timestamp =
    java.sql.Timestamp.valueOf(f"2024-01-01 ${minute / 60}%02d:${minute % 60}%02d:00")

  private lazy val eventRows = Seq(
    // user 1: two sessions separated by > 30 min
    (0L, ts(0), 1L, "click", 1.0, """{"k":1}"""),
    (1L, ts(10), 1L, "view", 2.0, """{"k":2}"""),
    (2L, ts(70), 1L, "click", 3.0, """{"k":3}"""),
    // user 2: one session
    (3L, ts(5), 2L, "purchase", 10.0, """{"k":4}"""),
    (4L, ts(20), 2L, "click", 0.5, """{"k":5}"""),
    // user 3: single event
    (5L, ts(90), 3L, "error", 7.0, """{"k":6}""")
  )

  private def eventsDf = eventRows.toDF(
    "event_id", "ts", "user_id", "event_type", "value", "props")

  test("streaming hourly window agg matches the batch twin") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, java.sql.Timestamp, Long, String, Double, String)]
    val stream = mem.toDF().toDF(
      "event_id", "ts", "user_id", "event_type", "value", "props")
    val q = EventStreams.hourlyTypeCounts(stream)
      .writeStream.outputMode("append").format("memory").queryName("hourly").start()
    try {
      mem.addData(eventRows)
      q.processAllAvailable()
      // append mode only emits closed windows; push the watermark past all data
      mem.addData(Seq((99L, ts(600), 9L, "view", 0.0, "{}")))
      q.processAllAvailable()
      val got = spark.table("hourly")
        .select("hour", "event_type", "n", "total_value")
        .collect().map(_.toSeq).toSet
      val want = EventStreams.hourlyTypeCountsBatch(eventsDf)
        .collect().map(_.toSeq).toSet
      assert(want.subsetOf(got), s"streaming $got missing batch rows $want")
    } finally q.stop()
  }

  test("a streamed query leaves the caller's session conf alone while it runs") {
    // a second user of the session reads the shuffle partition count
    // throughout the streamed query; it must only ever see its own value
    val path = java.nio.file.Files.createTempDirectory("graft_conf_")
      .resolve("events").toString
    eventsDf.coalesce(1).write.parquet(path)
    spark.conf.unset("spark.sql.legacy.parquet.nanosAsLong")
    val nanos = spark.conf.getOption("spark.sql.legacy.parquet.nanosAsLong")
    val own = spark.conf.get("spark.sql.shuffle.partitions")
    val seen = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    @volatile var running = true
    val reader = new Thread(() =>
      while (running) seen.add(spark.conf.get("spark.sql.shuffle.partitions")))
    reader.start()
    val got =
      try EventStreams.hourlyTypeCountsStreamed(spark, path)
        .select("hour", "event_type", "n", "total_value")
        .collect().map(_.toSeq).toSet
      finally { running = false; reader.join() }
    assert(seen.toArray.toSet == Set(own),
      s"the caller's session saw shuffle partitions ${seen.toArray.toSet}, " +
        s"not only its own $own")
    assert(spark.conf.getOption("spark.sql.legacy.parquet.nanosAsLong") == nanos,
      "the streamed query changed the caller's nanosAsLong setting")
    val want = EventStreams.hourlyTypeCountsBatch(eventsDf)
      .select("hour", "event_type", "n", "total_value")
      .collect().map(_.toSeq).toSet
    assert(got == want, s"streamed $got != batch $want")
  }

  test("streaming sessionization matches the batch twin on closed sessions") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, java.sql.Timestamp, Long, String, Double, String)]
    val stream = mem.toDF().toDF(
      "event_id", "ts", "user_id", "event_type", "value", "props")
    val q = EventStreams.sessionizeStream(stream, gapSec = 1800)
      .writeStream.outputMode("append").format("memory").queryName("sessions").start()
    try {
      mem.addData(eventRows)
      q.processAllAvailable()
      mem.addData(Seq((99L, ts(600), 9L, "view", 0.0, "{}"))) // advance watermark
      q.processAllAvailable()
      val got = spark.table("sessions")
        .select("user_id", "session_start", "n_events", "duration_sec", "total_value")
        .collect().map(_.toSeq).toSet
      val want = EventStreams.sessionizeBatch(eventsDf, gapSec = 1800)
        .collect().map(_.toSeq).toSet
      // the last session of each user may still be open in the stream;
      // every CLOSED streaming session must match a batch session.
      assert(got.nonEmpty)
      assert(got.subsetOf(want), s"streaming sessions $got not within batch $want")
      // user 1's first session (2 events, 600s, 3.0) must have closed
      assert(got.exists(s => s.head == 1L && s(2) == 2L))
    } finally q.stop()
  }

  test("streaming dedup drops re-delivered events within the watermark") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, java.sql.Timestamp, Long, String, Double, String)]
    val stream = mem.toDF().toDF(
      "event_id", "ts", "user_id", "event_type", "value", "props")
    val q = EventStreams.dedupStream(stream, "event_id")
      .writeStream.outputMode("append").format("memory").queryName("deduped").start()
    try {
      mem.addData(eventRows ++ eventRows) // every event delivered twice
      q.processAllAvailable()
      mem.addData(eventRows.take(1))      // and a third time for one
      q.processAllAvailable()
      val got = spark.table("deduped").select("event_id")
        .collect().map(_.getLong(0)).sorted.toSeq
      assert(got == eventRows.map(_._1).sorted)
    } finally q.stop()
  }

  test("streaming sliding-window agg matches the batch twin") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, java.sql.Timestamp, Long, String, Double, String)]
    val stream = mem.toDF().toDF(
      "event_id", "ts", "user_id", "event_type", "value", "props")
    val q = EventStreams.slidingTypeCounts(stream)
      .writeStream.outputMode("complete").format("memory").queryName("sliding").start()
    try {
      mem.addData(eventRows)
      q.processAllAvailable()
      val got = spark.table("sliding")
        .select("window_start", "event_type", "n", "total_value")
        .collect().map(_.toSeq).toSet
      val want = EventStreams.slidingTypeCounts(eventsDf)
        .collect().map(_.toSeq).toSet
      assert(got == want, s"streaming $got != batch $want")
      // each event lands in exactly two windows
      val nTotal = spark.table("sliding").agg(sum("n")).head().getLong(0)
      assert(nTotal == 2L * eventRows.size)
    } finally q.stop()
  }

  test("watermark drops data later than the horizon") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, java.sql.Timestamp, Long, String, Double, String)]
    val stream = mem.toDF().toDF(
      "event_id", "ts", "user_id", "event_type", "value", "props")
    // append mode: finalized windows are emitted once the watermark
    // (max event time − 2h) passes the window end
    val q = EventStreams.hourlyTypeCounts(stream)
      .writeStream.outputMode("append").format("memory").queryName("late").start()
    try {
      mem.addData(Seq((0L, ts(0), 1L, "click", 1.0, "{}")))
      q.processAllAvailable()
      // advance watermark far past hour 0 (t=600min ⇒ wm=8:00)
      mem.addData(Seq((1L, ts(600), 1L, "view", 1.0, "{}")))
      q.processAllAvailable()
      // a straggler inside the already-finalized hour-0 window: must be
      // DROPPED, not re-emitted and not counted
      mem.addData(Seq((2L, ts(1), 1L, "click", 1.0, "{}")))
      q.processAllAvailable()
      val hour0 = spark.table("late")
        .filter(col("hour") === "2024-01-01 00:00:00" && col("event_type") === "click")
        .collect()
      assert(hour0.length == 1 && hour0.head.getAs[Long]("n") == 1L,
        s"late event must not change the finalized window: ${hour0.toSeq}")
    } finally q.stop()
  }

  test("stream-stream click→purchase join matches the batch twin") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, java.sql.Timestamp, Long, String, Double, String)]
    val stream = mem.toDF().toDF(
      "event_id", "ts", "user_id", "event_type", "value", "props")
    val q = EventStreams.clickPurchaseJoin(stream)
      .writeStream.outputMode("append").format("memory").queryName("cpj").start()
    try {
      // user 2's click at t=20 is AFTER its purchase at t=5 → no match;
      // add a purchase for user 1 at t=25 (clicks at 0 within 30 min)
      // and one at t=95 (clicks at 0,70: only the one at 70 is within 30 min)
      mem.addData(eventRows ++ Seq(
        (6L, ts(25), 1L, "purchase", 5.0, "{}"),
        (7L, ts(95), 1L, "purchase", 6.0, "{}")))
      q.processAllAvailable()
      val got = spark.table("cpj").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
      // (user, click, purchase, lag): click 0 @0→purchase 6 @25 lag 1500;
      // click 2 @70→purchase 7 @95 lag 1500
      assert(got == Set((1L, 0L, 6L, 1500L), (1L, 2L, 7L, 1500L)))
      val batch = EventStreams.clickPurchaseJoin(
        (eventRows ++ Seq(
          (6L, ts(25), 1L, "purchase", 5.0, "{}"),
          (7L, ts(95), 1L, "purchase", 6.0, "{}")))
          .toDF("event_id", "ts", "user_id", "event_type", "value", "props"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
      assert(batch == got)
    } finally q.stop()
  }

  test("file sink + checkpoint: exactly-once across restarts, incremental on new input") {
    val base = java.nio.file.Files.createTempDirectory("graft_chk").toString
    val (src, out, chk) = (s"$base/src", s"$base/out", s"$base/chk")
    eventsDf.coalesce(1).write.mode("append").parquet(src)

    def runOnce(): Unit = {
      val q = spark.readStream.schema(eventsDf.schema).parquet(src)
        .filter(col("event_type") === "click")
        .select("event_id", "user_id", "value")
        .writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", chk)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      try q.awaitTermination() finally q.stop()
    }

    val nClicks = eventRows.count(_._4 == "click")
    runOnce()
    assert(spark.read.parquet(out).count() == nClicks)
    // restart with the same checkpoint and no new input: nothing re-emitted
    runOnce()
    assert(spark.read.parquet(out).count() == nClicks,
      "restart must not reprocess already-committed input")
    // new input file: only the delta is processed
    Seq((100L, ts(200), 5L, "click", 2.5, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .coalesce(1).write.mode("append").parquet(src)
    runOnce()
    val finalRows = spark.read.parquet(out)
    assert(finalRows.count() == nClicks + 1)
    assert(finalRows.filter(col("event_id") === 100L).count() == 1)
  }

  test("foreachBatch sink: custom logic runs once per micro-batch over all data") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, java.sql.Timestamp, Long, String, Double, String)]
    val stream = mem.toDF().toDF(
      "event_id", "ts", "user_id", "event_type", "value", "props")
    val seen = scala.collection.concurrent.TrieMap.empty[Long, Seq[Long]]
    val q = stream.writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, id: Long) =>
        // arbitrary sink logic with full batch-DataFrame power
        seen(id) = batch.filter(col("value") > 1.0)
          .collect().map(_.getAs[Long]("event_id")).toSeq.sorted
      }
      .start()
    try {
      mem.addData(eventRows.take(3)); q.processAllAvailable()
      mem.addData(eventRows.drop(3)); q.processAllAvailable()
      val all = seen.values.flatten.toSeq.sorted
      val want = eventRows.filter(_._5 > 1.0).map(_._1).sorted
      assert(all == want, s"$seen")
      assert(seen.size == 2, "one invocation per non-empty micro-batch")
    } finally q.stop()
  }

  test("batch sessionization ground truth") {
    val sessions = EventStreams.sessionizeBatch(eventsDf, gapSec = 1800)
      .collect().map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("n_events"),
        r.getAs[Long]("duration_sec"), r.getAs[Double]("total_value"))).toSet
    assert(sessions == Set(
      (1L, 2L, 600L, 3.0),   // events 0,1
      (1L, 1L, 0L, 3.0),     // event 2 (new session after 60 min gap)
      (2L, 2L, 900L, 10.5),  // events 3,4
      (3L, 1L, 0L, 7.0)))    // event 5
  }

  test("streamed fuzzy decontamination flags exactly the batch operator's removals") {
    val bench = Seq(
      "what is the capital of france the answer is paris of course today").toDF("text")
    val corpus = Seq(
      (0L, "what is the capital of france the answer is paris of course tonight"),
      (1L, "a completely different document about apples bananas oranges pears and plums"),
      (2L, "what is the capital of france the answer is paris of course today"),
      (3L, "   ")
    ).toDF("doc_id", "text")
    val staged = graft.Scratch.path("fuzzdecon_stream_spec")
    corpus.write.mode("overwrite").parquet(staged)
    val flagged = graft.operators.Dedup.decontaminateFuzzyStreamed(
      spark, staged, "doc_id", "text", bench, "text",
      shingleLen = 3, numPerm = 64, bands = 32, threshold = 0.8)
      .select("id").distinct().collect().map(_.getLong(0)).toSet
    // batch survivors were {1, 3} (TextDedupSpec) — the stream flags
    // the complement of the signature-bearing rows
    assert(flagged == Set(0L, 2L), s"flagged $flagged")
  }

  test("streamed fuzzy decontamination releases its cached benchmark side") {
    // a benchmark no other test uses, so no earlier call cached its plan
    val bench = Seq(
      "which river runs through the old town of prague on its way north").toDF("text")
    val staged = graft.Scratch.path("fuzzdecon_leak_spec")
    Seq((0L, "which river runs through the old town of prague on its way north today"))
      .toDF("doc_id", "text").write.mode("overwrite").parquet(staged)
    val sc = spark.sparkContext
    val before = sc.getRDDStorageInfo.length
    (1 to 2).foreach { _ =>
      graft.operators.Dedup.decontaminateFuzzyStreamed(
        spark, staged, "doc_id", "text", bench, "text").collect()
    }
    assert(sc.getRDDStorageInfo.length == before,
      s"cached frames grew from $before to ${sc.getRDDStorageInfo.length}")
  }

  test("streamed LM scoring equals the batch operator bit-for-bit") {
    val ref = Seq((1L, "a b"), (2L, "a b"), (3L, "a b c")).toDF("id", "text")
    val docs = Seq(
      (10L, "a b c"), (11L, "c a"), (12L, "z"), (13L, "a q"),
      (14L, null.asInstanceOf[String])).toDF("id", "text")
    val batch = graft.operators.Corpus.lmScore(ref, docs, "id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1),
        r.getDouble(2), r.getDouble(3))).toSet
    val base = graft.Scratch.path("lm_stream_spec")
    graft.Scratch.remove("lm_stream_spec")
    docs.repartition(2).write.mode("overwrite").parquet(s"$base/landing")
    graft.operators.Corpus.lmScoreStreamed(spark, ref, s"$base/landing",
      "id", "text", outPath = s"$base/out")
    val streamed = spark.read.parquet(s"$base/out")
      .collect().map(r => (r.getLong(0), r.getLong(1),
        r.getDouble(2), r.getDouble(3))).toSet
    assert(streamed == batch, s"stream $streamed vs batch $batch")
  }
}
