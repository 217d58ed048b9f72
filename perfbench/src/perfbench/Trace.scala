package perfbench

import java.util.concurrent.{CountDownLatch, TimeUnit}

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.BroadcastExchangeExec
import org.apache.spark.sql.util.QueryExecutionListener

/** One traced call: a public API call (or a whole request) of the
  * program, timed from the benchmark's side of the boundary. Spans of
  * one request share `req`; `parent` is the enclosing span. Times are
  * epoch milliseconds so they line up with Spark's job event times. */
final class Span(val id: Long, val parent: Long, val req: Long,
                 val name: String, val t0: Double) {
  var t1: Double = t0
  val attrs: mutable.LinkedHashMap[String, Double] = mutable.LinkedHashMap()
}

/** Span recorder plus a SparkListener and a QueryExecutionListener that
  * attribute jobs, stages, task metrics and plan metrics to spans.
  *
  * Jobs find their span through a thread-local job property set on
  * entry to each span; stages and tasks inherit the job's span. Query
  * executions carry no properties, so they are attributed by time in
  * the analysis step (the loop has one client, so spans never overlap
  * except by nesting). All records stay in memory until [[dump]].
  * A disabled tracer registers nothing and runs span bodies bare. */
final class Tracer(spark: SparkSession, val enabled: Boolean) {
  import Tracer._

  private val sc = spark.sparkContext
  private val baseNs = System.nanoTime()
  private val baseMs = System.currentTimeMillis().toDouble
  private def nowMs: Double = baseMs + (System.nanoTime() - baseNs) / 1e6

  private var nextId = 1L
  private var req = 0L
  private val stack = mutable.ArrayBuffer[Span]()
  private val spans = mutable.ArrayBuffer[Span]()

  /** When false, spans run their body unrecorded: the traced run
    * alternates recorded and unrecorded requests to measure its own
    * overhead. */
  var recording: Boolean = enabled

  private val lock = new Object
  private val jobs = mutable.LinkedHashMap[Int, Array[Double]]()     // id -> span, t0, t1
  private val stageSpan = mutable.HashMap[Int, Long]()
  private val stages = mutable.LinkedHashMap[(Int, Int), StageAgg]()
  private val queries = mutable.ArrayBuffer[Map[String, Double]]()
  private val marker = new CountDownLatch(1)

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val p = Option(e.properties).flatMap(x => Option(x.getProperty(SpanKey)))
      p.foreach { s =>
        if (s == MarkerSpan) markerJob = e.jobId
        else lock.synchronized {
          jobs(e.jobId) = Array(s.toDouble, e.time.toDouble, e.time.toDouble)
          e.stageIds.foreach(st => stageSpan(st) = s.toLong)
        }
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = lock.synchronized {
      jobs.get(e.jobId) match {
        case Some(j) => j(2) = e.time.toDouble
        case None => if (e.jobId == markerJob) marker.countDown()
      }
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      lock.synchronized {
        val si = e.stageInfo
        stageSpan.get(si.stageId).foreach { s =>
          stages.getOrElseUpdate((si.stageId, si.attemptNumber()), new StageAgg(s, scans(si)))
        }
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = lock.synchronized {
      val m = e.taskMetrics
      if (m != null) stages.get((e.stageId, e.stageAttemptId)).foreach { a =>
        val info = e.taskInfo
        val gettingResult =
          if (info.gettingResultTime > 0) info.finishTime - info.gettingResultTime else 0L
        a.tasks += 1
        a.runMs += m.executorRunTime
        a.cpuNs += m.executorCpuTime
        a.gcMs += m.jvmGCTime
        a.delayMs += math.max(0L, info.duration - m.executorRunTime -
          m.executorDeserializeTime - m.resultSerializationTime - gettingResult)
        a.inBytes += m.inputMetrics.bytesRead
        a.inRecords += m.inputMetrics.recordsRead
        a.shReadBytes += m.shuffleReadMetrics.totalBytesRead
        a.shWriteBytes += m.shuffleWriteMetrics.bytesWritten
        a.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }

  @volatile private var markerJob = -1

  /** Whether a stage reads files. Its lineage names every RDD below it,
    * so a stage that reads a cached frame also lists the file scan that
    * once filled the cache; such a stage reads files only while the
    * cache is not yet full. */
  private def scans(si: StageInfo): Boolean =
    si.rddInfos.exists(r => FileRdds(r.name)) && {
      val persisted = si.rddInfos.filter(_.storageLevel.isValid).map(_.id).toSet
      persisted.isEmpty || !sc.getRDDStorageInfo.exists(r =>
        persisted(r.id) && r.numCachedPartitions == r.numPartitions)
    }

  private val qListener = new QueryExecutionListener with AdaptiveSparkPlanHelper {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val phases = qe.tracker.phases.values
      if (phases.nonEmpty) {
        var bcastMs = 0L
        var memRows = 0L
        foreach(qe.executedPlan) {
          case b: BroadcastExchangeExec => bcastMs += metric(b, "buildTime")
          case m: InMemoryTableScanExec => memRows += metric(m, "numOutputRows")
          case _ => ()
        }
        val rec = Map(
          "t_ms" -> phases.map(_.endTimeMs).max.toDouble,
          "plan_ms" -> phases.map(_.durationMs).sum.toDouble,
          "broadcast_build_ms" -> bcastMs.toDouble,
          "mem_scan_rows" -> memRows.toDouble)
        lock.synchronized { queries += rec }
      }
    }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  private def metric(p: SparkPlan, name: String): Long =
    p.metrics.get(name).map(_.value).getOrElse(0L)

  if (enabled) {
    sc.addSparkListener(listener)
    spark.listenerManager.register(qListener)
  }

  /** Start a new request: the spans opened until the next call share
    * its id. */
  def request(): Unit = req += 1

  def span[T](name: String)(body: => T): T =
    if (!enabled || !recording) body
    else {
      val parent = stack.lastOption
      val s = new Span(nextId, parent.map(_.id).getOrElse(0L), req, name, nowMs)
      nextId += 1
      stack += s
      sc.setLocalProperty(SpanKey, s.id.toString)
      try body
      finally {
        s.t1 = nowMs
        stack.remove(stack.length - 1)
        sc.setLocalProperty(SpanKey, parent.map(_.id.toString).orNull)
        spans += s
      }
    }

  /** Add `v` to attribute `k` of the innermost open span. */
  def note(k: String, v: Double): Unit =
    if (enabled && recording && stack.nonEmpty) {
      val a = stack.last.attrs
      a(k) = a.getOrElse(k, 0.0) + v
    }

  /** Run a marker job and wait for the listener to see it end: the
    * listener bus delivers events in order, so every earlier job,
    * stage, task and query event has been delivered by then. */
  def drain(): Unit = if (enabled) {
    sc.setLocalProperty(SpanKey, MarkerSpan)
    sc.parallelize(Seq(1), 1).count()
    sc.setLocalProperty(SpanKey, null)
    if (!marker.await(30, TimeUnit.SECONDS))
      System.err.println("[perfbench] listener bus did not drain in 30 s")
  }

  def dump(): Map[String, Any] = lock.synchronized {
    Map(
      "spans" -> spans.map { s =>
        Map("id" -> s.id, "parent" -> s.parent, "req" -> s.req, "name" -> s.name,
          "t0" -> s.t0, "t1" -> s.t1, "attrs" -> s.attrs.toMap)
      }.toSeq,
      "jobs" -> jobs.toSeq.map { case (id, j) =>
        Map("id" -> id, "span" -> j(0).toLong, "t0" -> j(1), "t1" -> j(2))
      },
      "stages" -> stages.toSeq.map { case ((id, att), a) => a.toMap(id, att) },
      "queries" -> queries.toSeq)
  }
}

object Tracer {
  val SpanKey = "perfbench.span"
  val MarkerSpan = "perfbench.marker"
  /** The RDD of Spark SQL file scans (not the `textFile` read of
    * CsvSource's header check). */
  val FileRdds = Set("FileScanRDD")

  final class StageAgg(val span: Long, val scan: Boolean) {
    var tasks, runMs, cpuNs, gcMs, delayMs, inBytes, inRecords,
        shReadBytes, shWriteBytes, spillBytes = 0L
    def toMap(id: Int, attempt: Int): Map[String, Any] = Map(
      "id" -> id, "attempt" -> attempt, "span" -> span, "scan" -> scan, "tasks" -> tasks,
      "run_ms" -> runMs, "cpu_ns" -> cpuNs, "gc_ms" -> gcMs,
      "delay_ms" -> delayMs, "in_bytes" -> inBytes, "in_records" -> inRecords,
      "sh_read_bytes" -> shReadBytes, "sh_write_bytes" -> shWriteBytes,
      "spill_bytes" -> spillBytes)
  }
}
