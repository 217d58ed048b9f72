package graft

import graft.operators.{BucketStore, Dedup, LinkOrRenameStoreCommit, Store, StoreCommit}

import org.apache.hadoop.fs.{FileSystem, Path}

import org.apache.spark.Success
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart,
  SparkListenerTaskEnd}
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The signature-table probe has two paths: the batch-sized algebra on
  * the driver, and the distributed algebra for batches above the
  * driver bound. Each case runs both on the same table and batch (the
  * distributed one forced with a driver bound of 0) and asserts the
  * same surviving rows, plus the survivors the case was built for, so
  * a case that stopped exercising its shape would fail. The ingest
  * cases check the appended `sigs` and `buckets` rows too: the same
  * rows and files on both paths, the bucket cap's headroom admission,
  * and the recount when the bucket relation moved under the append. */
class IncrementalProbeSpec extends GraftSpec {

  import spark.implicits._

  private val Threshold = 0.7

  /** A 40-word text of family `f`: no word is shared across families. */
  private def doc(f: Int): String = (0 until 40).map(j => s"f${f}w$j").mkString(" ")

  /** `text` with word `pos` replaced: a near-copy (about 0.85 Jaccard). */
  private def edit(text: String, pos: Int): String = {
    val w = text.split(' ')
    w(pos) = s"${w(pos)}e"
    w.mkString(" ")
  }

  /** Each edit at a new position: a chain whose ends are not near. */
  private def chain(text: String, n: Int): Seq[String] =
    (1 until n).scanLeft(text)((t, i) => edit(t, i * 9))

  private val Schema = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType)))

  /** (doc_id, text) rows; an id may be null. */
  private def docs(rows: (Any, String)*): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(rows.map { case (i, t) => Row(i, t) }: _*),
      Schema)

  private def corpus: DataFrame = docs((1 to 10).map(i => (i.toLong, doc(i))): _*)

  private def table(name: String, corpus: DataFrame = corpus,
      maxBucketSize: Int = 1000, multiProbe: Boolean = false): String = {
    Scratch.remove(name)
    val path = Scratch.path(name)
    Dedup.writeSignatureTable(corpus, "doc_id", "text", path,
      maxBucketSize = maxBucketSize, multiProbe = multiProbe)
    path
  }

  /** One default-corpus table for the cases that only probe it. */
  private lazy val shared: String = table("ip_shared")

  /** A survivor frame from the distributed path reads its checkpointed
    * candidates; the driver path's reads `incoming` and local rows only. */
  private def onDriver(df: DataFrame): Boolean =
    !df.queryExecution.analyzed.exists(_.isInstanceOf[LogicalRDD])

  private def rows(df: DataFrame): Seq[String] = df.collect().map(_.toString).toSeq.sorted

  /** Both paths' surviving rows on one table and batch, asserted equal
    * and returned: the driver bound `bound` (the driver path, unless
    * `driver` is false: the batch or its stored rows exceed it) against
    * a bound of 0. */
  private def parity(path: String, batch: DataFrame,
      pick: Seq[Column] = Nil, bound: Int = BucketStore.MaxProbeKeys,
      driver: Boolean = true): Seq[String] = {
    val h = Dedup.openSignatureTable(spark, path)
    val local = Dedup.nearDedupIncremental(h, batch, "doc_id", "text", Threshold, pick, bound)
    val reference = Dedup.nearDedupIncremental(h, batch, "doc_id", "text", Threshold, pick, 0)
    assert(onDriver(local) == driver && !onDriver(reference), "each path ran as asked")
    val got = rows(local)
    assert(got == rows(reference), "the driver path keeps the distributed path's rows")
    got
  }

  private def ids(got: Seq[String]): Set[String] =
    got.map(_.stripPrefix("[").takeWhile(_ != ',')).toSet

  test("an in-batch chain with one member near the corpus is rejected whole") {
    val c = chain(edit(doc(1), 2), 4)
    val batch = docs(c.zipWithIndex.map { case (t, i) => (101L + i, t) } :+
      (105L, doc(50)): _*)
    assert(ids(parity(shared, batch)) == Set("105"))
  }

  test("a batch-only chain keeps its smallest id") {
    val c = chain(doc(60), 3)
    val batch = docs(c.zipWithIndex.map { case (t, i) => (203L - i, t) } :+
      (204L, doc(61)): _*)
    assert(ids(parity(shared, batch)) == Set("201", "204"))
  }

  test("a batch bucket over maxBucketSize proposes no pair") {
    // three copies of one text fill each of its keys past the cap of 2
    // and all survive; two copies of another fit and keep one; a copy
    // of a stored text alone in its keys is rejected
    val batch = docs((301L, doc(70)), (302L, doc(70)), (303L, doc(70)),
      (304L, doc(71)), (305L, doc(71)), (306L, doc(1)))
    assert(ids(parity(table("ip_cap", maxBucketSize = 2), batch)) ==
      Set("301", "302", "303", "304"))
  }

  test("a multi-probe table") {
    val c = chain(edit(doc(2), 3), 3)
    val batch = docs((401L, c(0)), (402L, c(1)), (403L, c(2)),
      (404L, doc(62)), (405L, edit(doc(62), 20)), (406L, doc(63)))
    assert(ids(parity(table("ip_mp", multiProbe = true), batch)) == Set("404", "406"))
  }

  test("string ids order as Spark orders them") {
    val strCorpus = corpus.select(concat(lit("c"), col("doc_id")).as("doc_id"), col("text"))
    val batch = Seq(("b9", doc(64)), ("b10", edit(doc(64), 7)),
      ("b5", edit(doc(3), 11)), ("b7", doc(65))).toDF("doc_id", "text")
    // "b10" < "b9" as strings: the batch-only pair keeps "b10"
    assert(ids(parity(table("ip_str", strCorpus), batch)) == Set("b10", "b7"))
  }

  test("a custom pick chooses each batch-only cluster's survivor") {
    val batch = docs((601L, doc(66)), (602L, doc(66) + " tail words here"),
      (603L, edit(doc(4), 30)), (604L, doc(67)))
    val longest = Seq(length(col("text")).desc, col("doc_id").asc)
    assert(ids(parity(shared, batch, longest)) == Set("602", "604"))
  }

  test("token-less and empty texts pass through") {
    val batch = docs((701L, ""), (702L, "   "), (703L, null), (704L, "two words"),
      (705L, doc(5)))
    assert(ids(parity(shared, batch)) == Set("701", "702", "703", "704"))
  }

  test("a null id is kept, whatever its text matches") {
    val batch = docs((null, doc(6)), (null, doc(68)), (801L, doc(7)),
      (802L, doc(68)))
    assert(ids(parity(shared, batch)) == Set("null", "802"))
  }

  test("an empty batch keeps nothing") {
    assert(parity(shared, docs()).isEmpty)
  }

  test("an empty, unprunable store dedups the batch among itself") {
    val batch = docs((901L, doc(69)), (902L, edit(doc(69), 4)), (903L, doc(8)))
    assert(ids(parity(table("ip_empty_store", docs()), batch)) == Set("901", "903"))
  }

  test("stored rows over the bound send a fitting batch to the distributed path") {
    // three stored copies of one text: a copy of it and a fresh doc
    // have 32 keys, within a bound of 40; the 48 stored rows of the
    // copy's 16 keys are not
    val copies = docs((1L, doc(9)), (2L, doc(9)), (3L, doc(9)), (4L, doc(10)))
    val path = table("ip_stored_over", copies)
    val batch = docs((1101L, doc(9)), (1102L, doc(77)))
    assert(ids(parity(path, batch, bound = 40, driver = false)) == Set("1102"))
    assert(ids(parity(path, batch, bound = 48)) == Set("1102"))
  }

  test("a multi-partition batch read from files, within and over the bound") {
    val c = chain(edit(doc(1), 2), 3)
    val dir = Scratch.path("ip_files_batch")
    Scratch.remove("ip_files_batch")
    docs((1201L, c(0)), (1202L, c(1)), (1203L, c(2)), (1204L, doc(78)),
      (1205L, edit(doc(78), 8)), (1206L, doc(79)))
      .repartition(3).write.parquet(dir)
    val batch = spark.read.parquet(dir)
    assert(batch.queryExecution.optimizedPlan.maxRows.isEmpty &&
      batch.rdd.getNumPartitions > 1, "a file batch of unknown size, in several partitions")
    // 6 docs × 16 band ids: 96 keys
    assert(ids(parity(shared, batch)) == Set("1204", "1206"))
    assert(ids(parity(shared, batch, bound = 95, driver = false)) == Set("1204", "1206"))
  }

  test("a local batch over the bound is sent to the distributed path") {
    val batch = docs((1301L, doc(80)), (1302L, edit(doc(80), 5)), (1303L, doc(81)))
    assert(ids(parity(shared, batch, bound = 47, driver = false)) == Set("1301", "1303"))
    assert(ids(parity(shared, batch, bound = 48)) == Set("1301", "1303"))
  }

  test("collectAtMost returns collect's rows, or None over its bound") {
    // an RDD's plan does not bound its rows: the one-job path
    val df = spark.sparkContext.parallelize(0L until 50L, 4).toDF("n")
    assert(df.queryExecution.optimizedPlan.maxRows.isEmpty)
    assert(BucketStore.collectAtMost(df, 50).map(_.toSeq) == Some(df.collect().toSeq))
    assert(BucketStore.collectAtMost(df, 49).isEmpty)
    assert(BucketStore.collectAtMost(df.filter(col("n") < 0), 0).exists(_.isEmpty))
    // a local relation of at most n rows is collected as it is
    val local = (0L until 5L).toDF("n")
    assert(BucketStore.collectAtMost(local, 5).map(_.toSeq) == Some(local.collect().toSeq))
  }

  test("collectAtMost over its bound cancels its one job") {
    // 400 partitions of 500 rows against a bound of 1,000: the third
    // task's rows pass it, and the tasks not yet run never start
    val df = spark.range(0L, 200000L, 1L, 400).toDF("n")
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val ended = new java.util.concurrent.atomic.AtomicInteger()
    val succeeded = new java.util.concurrent.atomic.AtomicInteger()
    val stages = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.stageInfos.map(_.numTasks).sum == 400) {
          jobs.incrementAndGet()
          e.stageIds.foreach(stages.add)
        }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = ended.incrementAndGet()
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        if (stages.contains(e.stageId) && e.reason == Success) succeeded.incrementAndGet()
    }
    sc.addSparkListener(listener)
    try {
      assert(BucketStore.collectAtMost(df, 1000).isEmpty)
      // one listener sees its events in order: once it has seen a later
      // job end, it has seen every task end of the collect
      sc.parallelize(Seq(1), 1).count()
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (ended.get < 2 && System.nanoTime() < deadline) Thread.sleep(10)
    } finally sc.removeSparkListener(listener)
    assert(jobs.get == 1, "one job")
    assert(succeeded.get < 200, s"${succeeded.get} of 400 tasks ran to completion")
  }

  test("the ingest chain appends the same rows on both paths") {
    val batch1 = docs((1001L, edit(doc(1), 5)), (1002L, doc(72)),
      (1003L, edit(doc(72), 12)), (1004L, doc(73)), (null, doc(74)),
      (1005L, ""))
    val batch2 = docs((2001L, edit(doc(73), 20)), (2002L, doc(75)),
      (2003L, doc(75) + " and a longer tail"), (2004L, doc(76)))
    val longest = Seq(length(col("text")).desc, col("doc_id").asc)
    def ingest(name: String, bound: Int): (Seq[String], Seq[String], Seq[String], Seq[String]) = {
      val path = table(name)
      val s1 = rows(Dedup.nearDedupIngest(spark, path, batch1, "doc_id", "text",
        Threshold, Nil, bound))
      val s2 = rows(Dedup.nearDedupIngest(spark, path, batch2, "doc_id", "text",
        Threshold, longest, bound))
      (s1, s2, rows(Store.read(spark, s"$path/sigs")),
        rows(Store.read(spark, s"$path/buckets").select("id", "band", "bucket")))
    }
    val local = ingest("ip_ingest_driver", BucketStore.MaxProbeKeys)
    val reference = ingest("ip_ingest_reference", 0)
    assert(local == reference)
    assert(ids(local._1) == Set("1002", "1004", "null", "1005"))
    assert(ids(local._2) == Set("2003", "2004"))
    assert(local._3.size == 10 + 2 + 2, "the token-ful survivors with an id are appended")
  }

  private type Key = (Int, Long)

  /** The ids in each (band, bucket) of a table's bucket relation, sorted. */
  private def buckets(path: String): Map[Key, Seq[Long]] =
    Store.read(spark, s"$path/buckets").select("id", "band", "bucket").collect()
      .groupBy(r => (r.getInt(1), r.getLong(2)))
      .map { case (k, rs) => k -> rs.map(_.getLong(0)).toSeq.sorted }

  /** A threshold-1.0 ingest of `batch` (near-copies survive it) into a
    * table of `stored` docs capped at 2, on the driver path and
    * forced-distributed: both keep every doc and append the same rows,
    * and each bucket the batch touches admits its smallest ids up to
    * its headroom. Returns each touched key's stored and batch ids. */
  private def headroom(name: String, stored: DataFrame,
      batch: DataFrame): Seq[(Seq[Long], Seq[Long])] = {
    val before = buckets(table(s"${name}_before", stored, maxBucketSize = 2))
    val offered = buckets(table(s"${name}_keys", batch))
    def ingest(bound: Int): (Seq[String], Map[Key, Seq[Long]]) = {
      val path = table(s"${name}_$bound", stored, maxBucketSize = 2)
      (rows(Dedup.nearDedupIngest(spark, path, batch, "doc_id", "text", 1.0, Nil, bound)),
        buckets(path))
    }
    val local = ingest(BucketStore.MaxProbeKeys)
    assert(local == ingest(0), "both paths keep and append the same rows")
    assert(ids(local._1) == ids(rows(batch)), "every near-copy survives")
    offered.toSeq.map { case (k, batchIds) =>
      val was = before.getOrElse(k, Nil)
      val admitted = local._2.getOrElse(k, Nil).filterNot(was.contains)
      assert(admitted == batchIds.take(math.max(0, 2 - was.size)),
        s"bucket $k held $was and was offered $batchIds")
      (was, batchIds)
    }
  }

  test("a full bucket admits nothing and one free slot admits the smallest id") {
    // doc 1 stored twice fills its buckets; doc 2 stored once leaves one slot
    val touched = headroom("ip_headroom",
      docs((1L, doc(1)), (2L, doc(1)), (3L, doc(2))),
      docs((1501L, edit(doc(1), 5)), (1502L, edit(doc(1), 25)),
        (1503L, edit(doc(2), 5)), (1504L, edit(doc(2), 25))))
    assert(touched.exists { case (was, offered) => was.size == 2 && offered.nonEmpty },
      "a full bucket is offered a row")
    assert(touched.exists { case (was, offered) => was.size == 1 && offered.size >= 2 },
      "a bucket with one free slot is offered two rows")
  }

  test("a batch key over maxBucketSize is admitted against its stored rows") {
    // three near-copies of a doc stored once: the keys they share hold
    // more batch rows than the cap of 2, and one stored row
    val touched = headroom("ip_overcap", docs((1L, doc(1)), (2L, doc(2))),
      docs((1601L, edit(doc(1), 5)), (1602L, edit(doc(1), 20)), (1603L, edit(doc(1), 35))))
    assert(touched.exists { case (was, offered) => was.nonEmpty && offered.size > 2 },
      "an over-cap batch key with a stored row")
  }

  test("both paths write each appended file with the same rows and footer range") {
    val batch = docs((1 to 20).map(i => (1700L + i, if (i % 4 == 0) edit(doc(i / 4), 9)
      else doc(100 + i))): _*)
    val slot = """(band=\d+/)?part-\d+""".r
    // per relation, band and slot: the file's sorted rows and footer stats
    def written(bound: Int): Map[String, (Seq[String], Map[String, (Long, Long)])] = {
      val path = table(s"ip_files_$bound")
      val rels = Seq("sigs", "buckets")
      val before = rels.map(r => Store.snapshot(spark, s"$path/$r").files.map(_.rel).toSet)
      Dedup.nearDedupIngest(spark, path, batch, "doc_id", "text", Threshold, Nil, bound)
      val files = rels.zip(before).flatMap { case (r, old) =>
        val snap = Store.snapshot(spark, s"$path/$r")
        snap.files.filterNot(f => old(f.rel)).map { f =>
          s"$r/${slot.findFirstIn(f.rel).get}" ->
            (rows(spark.read.parquet(s"${snap.gen.dataPath}/${f.rel}")), f.stats)
        }
      }
      assert(files.map(_._1).distinct.size == files.size, "one file per slot")
      files.toMap
    }
    val local = written(BucketStore.MaxProbeKeys)
    assert(local == written(0))
    assert(local.keys.count(_.startsWith("sigs/")) == BucketStore.AppendFiles,
      "the survivors fill every sigs slot")
    assert(local.keys.filter(_.startsWith("buckets/")).map(_.takeRight(5)).size ==
      BucketStore.AppendFiles, "and every buckets slot")
  }

  test("a bucket commit between the probe and the append is recounted") {
    // once the ingest's sigs marker publishes, two stored copies of the
    // batch doc's text are committed to the buckets: its buckets are
    // full, which the probe's occupancy does not know
    val text = doc(95)
    val path = table("ip_fence", maxBucketSize = 2)
    val copies = Store.read(spark,
      s"${table("ip_fence_copies", docs((9001L, text), (9002L, text)))}/buckets")
    val committed = new java.util.concurrent.atomic.AtomicBoolean()
    Store.setCommitService(new StoreCommit {
      def createExclusive(fs: FileSystem, p: Path): Boolean =
        LinkOrRenameStoreCommit.createExclusive(fs, p)
      def publishExclusive(fs: FileSystem, p: Path, content: String): Boolean = {
        val won = LinkOrRenameStoreCommit.publishExclusive(fs, p, content)
        if (won && p.getName.startsWith("a-") && p.getParent.getParent.getName == "sigs" &&
          !committed.getAndSet(true))
          Store.append(spark, s"$path/buckets")(copies.write.partitionBy("band").parquet(_))
        won
      }
    })
    try {
      val kept = Dedup.nearDedupIngest(spark, path, docs((1801L, text)), "doc_id", "text",
        Threshold)
      assert(onDriver(kept) && ids(rows(kept)) == Set("1801"))
    } finally Store.setCommitService(LinkOrRenameStoreCommit)
    assert(committed.get, "the extra batch committed")
    val after = buckets(path)
    assert(after.values.forall(_.size <= 2), "no bucket over its cap")
    assert(after.values.count(_ == Seq(9001L, 9002L)) == 16, "the copies' buckets are full")
    assert(Store.read(spark, s"$path/sigs").filter(col("id") === 1801L).count() == 1)
  }
}
