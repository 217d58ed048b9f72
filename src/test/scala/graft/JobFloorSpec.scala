package graft

import graft.operators.Dedup

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue, CountDownLatch, TimeUnit}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobEnd,
  SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** The Spark-job floor of one signature-table probe and of one ingest
  * into each banded or hashed store: a small batch's signature-table
  * algebra runs on the driver, so the job count is its few collects and
  * appends. Counted by job group with a listener; a change that adds
  * jobs to any of these calls fails here, naming each job's SQL
  * execution so the phase that added one shows. */
class JobFloorSpec extends GraftSpec {

  import spark.implicits._

  /** Jobs run by an 8-doc probe plus the caller's collect. */
  private val ProbeFloor = 4
  /** Jobs run by an 8-doc ingest, as measured when the floor was set. */
  private val IngestFloor = 6
  /** Jobs run by an 8-row Hamming ingest, as measured when the floor was set. */
  private val HammingIngestFloor = 22
  /** Jobs run by an 8-doc paragraph ingest, as measured when the floor was set. */
  private val ParagraphIngestFloor = 12

  private def doc(f: Int): String = (0 until 40).map(j => s"f${f}w$j").mkString(" ")

  /** Half near-copies of stored docs, half fresh. */
  private def batch(base: Long, fresh: Int): DataFrame =
    (0 until 8).map { j =>
      (base + j, if (j % 2 == 0) doc(j + 1) + " tail" else doc(fresh + j))
    }.toDF("doc_id", "text")

  private def table(name: String): String = {
    Scratch.remove(name)
    val path = Scratch.path(name)
    Dedup.writeSignatureTable((1 to 64).map(i => (i.toLong, doc(i))).toDF("doc_id", "text"),
      "doc_id", "text", path)
    path
  }

  /** The jobs `f` runs, by job group: one line per job, its id and its
    * SQL execution's description and its first stage's name. Listener events arrive asynchronously but in order,
    * so a marker job is run after `f`: once its end is seen, every
    * earlier job's start is too. */
  private def jobs(f: => Unit): Seq[String] = {
    val sc = spark.sparkContext
    val group = s"job-floor-${java.util.UUID.randomUUID}"
    val marker = s"$group-marker"
    val executions = new ConcurrentHashMap[Long, String]()
    val started = new ConcurrentLinkedQueue[(Int, Option[Long], String)]()
    val markerEnded = new CountDownLatch(1)
    val markerJobs = ConcurrentHashMap.newKeySet[Int]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull match {
          case `group` => started.add((e.jobId,
            Option(e.properties.getProperty("spark.sql.execution.id")).map(_.toLong),
            e.stageInfos.headOption.fold("")(_.name)))
          case `marker` => markerJobs.add(e.jobId)
          case _ =>
        }
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        if (markerJobs.contains(e.jobId)) markerEnded.countDown()
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart => executions.put(s.executionId, s.description)
        case _ =>
      }
    }
    // no group description: it would stand in for each execution's own
    def inGroup(g: String)(body: => Unit): Unit = {
      sc.setJobGroup(g, null)
      try body finally sc.clearJobGroup()
    }
    sc.addSparkListener(listener)
    try {
      inGroup(group)(f)
      inGroup(marker)(sc.parallelize(Seq(1), 1).count())
      assert(markerEnded.await(30, TimeUnit.SECONDS), "the marker job's end was seen")
    } finally sc.removeSparkListener(listener)
    started.asScala.toSeq.sortBy(_._1).map { case (id, exec, stage) =>
      val sql = exec.flatMap(x => Option(executions.get(x))).fold("no SQL execution")(d => s"SQL: $d")
      s"job $id: $sql; first stage: $stage"
    }
  }

  private def report(what: String, js: Seq[String]): String =
    s"the $what ran ${js.size} jobs:\n${js.mkString("\n")}"

  test(s"an 8-doc probe and its collect run at most $ProbeFloor jobs") {
    val path = table("jf_probe")
    val probe = batch(1000L, 100)
    var kept = Set.empty[Long]
    val js = jobs {
      kept = Dedup.nearDedupIncremental(spark, path, probe, "doc_id", "text", 0.7)
        .select("doc_id").as[Long].collect().toSet
    }
    assert(kept == Set(1001L, 1003L, 1005L, 1007L))
    assert(js.size <= ProbeFloor, report("probe", js))
  }

  test(s"an 8-doc ingest runs at most $IngestFloor jobs") {
    val path = table("jf_ingest")
    val js = jobs { Dedup.nearDedupIngest(spark, path, batch(2000L, 200), "doc_id", "text", 0.7) }
    assert(js.size <= IngestFloor, report("ingest", js))
  }

  test(s"an 8-row Hamming ingest runs at most $HammingIngestFloor jobs") {
    Scratch.remove("jf_ham")
    val path = Scratch.path("jf_ham")
    def sig(i: Long): Long = i * 0x9E3779B97F4A7C15L
    Dedup.writeHammingTable((1L to 64L).map(i => (i, sig(i))).toDF("doc_id", "sig"),
      "doc_id", "sig", path)
    // half one bit off a stored signature, half fresh
    val rows = (0 until 8).map { j =>
      (3000L + j, if (j % 2 == 0) sig(j + 1L) ^ 1L else sig(500L + j))
    }.toDF("doc_id", "sig")
    var kept: DataFrame = null
    val js = jobs { kept = Dedup.hammingIngest(spark, path, rows, "doc_id", "sig") }
    assert(kept.select("doc_id").as[Long].collect().toSet == Set(3001L, 3003L, 3005L, 3007L))
    assert(js.size <= HammingIngestFloor, report("Hamming ingest", js))
  }

  test(s"an 8-doc paragraph ingest runs at most $ParagraphIngestFloor jobs") {
    Scratch.remove("jf_para")
    val path = Scratch.path("jf_para")
    def para(f: Int): String = doc(f).grouped(60).mkString("\n")
    Dedup.writeParagraphTable((1 to 64).map(i => (i.toLong, para(i))).toDF("doc_id", "text"),
      "doc_id", "text", path)
    // half copies of stored docs, which lose every paragraph, half fresh
    val docs = (0 until 8).map(j =>
      (4000L + j, para(if (j % 2 == 0) j + 1 else 400 + j))).toDF("doc_id", "text")
    var kept: DataFrame = null
    val js = jobs { kept = Dedup.paragraphIngest(spark, path, docs, "doc_id", "text") }
    assert(kept.select("doc_id").as[Long].collect().toSet == Set(4001L, 4003L, 4005L, 4007L))
    assert(js.size <= ParagraphIngestFloor, report("paragraph ingest", js))
  }
}
