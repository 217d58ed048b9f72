package graft

import graft.operators.Dedup

import org.apache.spark.JobExecutionStatus
import org.apache.spark.sql.DataFrame

/** The Spark-job floor of one signature-table probe and one ingest: a
  * small batch's batch-sized algebra runs on the driver, so the job
  * count is its few collects and appends. Counted with a job group
  * through the status tracker; a change that adds jobs to either call
  * fails here. */
class JobFloorSpec extends GraftSpec {

  import spark.implicits._

  /** Jobs run by an 8-doc probe plus the caller's collect. */
  private val ProbeFloor = 6
  /** Jobs run by an 8-doc ingest, as measured when the floor was set. */
  private val IngestFloor = 13

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

  /** The jobs `f` runs, by job group. The status store is fed
    * asynchronously, so a marker job is run after `f`: once its end is
    * visible, every earlier job's start is too. */
  private def jobs(f: => Unit): Int = {
    val sc = spark.sparkContext
    val group = s"job-floor-${java.util.UUID.randomUUID}"
    def inGroup(g: String)(body: => Unit): Unit = {
      sc.setJobGroup(g, g)
      try body finally sc.clearJobGroup()
    }
    inGroup(group)(f)
    inGroup(s"$group-marker")(sc.parallelize(Seq(1), 1).count())
    val tracker = sc.statusTracker
    val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
    while (!tracker.getJobIdsForGroup(s"$group-marker").exists(id =>
      tracker.getJobInfo(id).exists(_.status == JobExecutionStatus.SUCCEEDED)) &&
      System.nanoTime() < deadline) Thread.sleep(10)
    tracker.getJobIdsForGroup(group).length
  }

  test(s"an 8-doc probe and its collect run at most $ProbeFloor jobs") {
    val path = table("jf_probe")
    val probe = batch(1000L, 100)
    var kept = Set.empty[Long]
    val n = jobs {
      kept = Dedup.nearDedupIncremental(spark, path, probe, "doc_id", "text", 0.7)
        .select("doc_id").as[Long].collect().toSet
    }
    assert(kept == Set(1001L, 1003L, 1005L, 1007L))
    assert(n <= ProbeFloor, s"the probe ran $n jobs")
  }

  test(s"an 8-doc ingest runs at most $IngestFloor jobs") {
    val path = table("jf_ingest")
    val n = jobs { Dedup.nearDedupIngest(spark, path, batch(2000L, 200), "doc_id", "text", 0.7) }
    assert(n <= IngestFloor, s"the ingest ran $n jobs")
  }
}
