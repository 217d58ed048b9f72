package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Runs one workload in one JVM and writes everything it observed as
  * JSON to `--out`; `run.py` turns that into the reported metrics.
  *
  * Usage: Main --workload etl|lookup|store --seed N --seconds S
  *             --trace 0|1 --work DIR --out FILE
  */
object Main {
  /** Set-ups per run; `setup_s` is their median. */
  val SetupReps = 3

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = a("workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val trace = a("trace") == "1"
    val work = a("work")
    val cores = Runtime.getRuntime.availableProcessors

    val confs = Seq(
      "spark.sql.shuffle.partitions" -> (2 * cores).toString,
      "spark.sql.extensions" -> "graft.plans.GraftExtensions",
      "spark.sql.session.timeZone" -> "UTC",
      "spark.ui.enabled" -> "false",
      // the status store keeps jobs, stages and SQL executions even with
      // the UI off; a small cap keeps its share of the live heap the same
      // whatever the number of requests a run managed
      "spark.ui.retainedJobs" -> "50",
      "spark.ui.retainedStages" -> "50",
      "spark.sql.ui.retainedExecutions" -> "50",
      "spark.local.dir" -> s"$work/spark-local",
      "spark.sql.warehouse.dir" -> s"$work/warehouse")
    val (spark, sessionS) = Timed.secs {
      confs.foldLeft(SparkSession.builder().master(s"local[$cores]").appName("perfbench")) {
        case (b, (k, v)) => b.config(k, v)
      }.getOrCreate()
    }
    spark.sparkContext.setLogLevel("WARN")

    val run = new Run
    val tr = new Tracer(spark, trace)
    val w = Workload(workload, spark, s"$work/data", seed, tr, run)
    val setups = (1 to SetupReps).map { rep =>
      // a traced run records the last set-up, where indices and tables
      // are built
      tr.recording = trace && rep == SetupReps
      Timed.secs(w.setup())._2
    }
    tr.recording = false
    w.expect()
    val warmS = Timed.secs((1 to w.warmRequests).foreach(_ => w.step()))._2
    val calib = Seq.newBuilder[Double]
    calib += calibrate(spark, cores)

    // closed loop, one client; a traced run records every other pair of
    // requests and leaves the rest bare to measure its own overhead (pairs,
    // so that work done every second request is recorded too)
    run.timing = true
    val t0 = System.nanoTime()
    val deadline = t0 + (seconds * 1e9).toLong
    var requests = 0
    while (requests < w.minRequests || System.nanoTime() < deadline) {
      run.recorded = trace && requests / 2 % 2 == 0
      tr.recording = run.recorded
      w.step()
      requests += 1
    }
    val loopS = (System.nanoTime() - t0) / 1e9
    val liveHeap = liveHeapMb()
    run.timing = false
    run.recorded = false
    tr.recording = false
    w.finish()
    tr.drain()
    calib += calibrate(spark, cores)

    val result = Map(
      "workload" -> workload, "seed" -> seed, "seconds" -> seconds,
      "settings" -> Map(
        "master" -> s"local[$cores]",
        "confs" -> confs.toMap,
        "spark" -> spark.version,
        "scala" -> scala.util.Properties.versionNumberString,
        "java" -> System.getProperty("java.version"),
        "jvm_args" -> ManagementFactory.getRuntimeMXBean
          .getInputArguments.asScala.toSeq),
      "session_start_s" -> sessionS,
      "setup_s" -> setups,
      "warmup_s" -> warmS,
      "loop_s" -> loopS,
      "requests" -> requests,
      "calib_s" -> calib.result(),
      "peak_rss_kb" -> peakRssKb(),
      "live_heap_mb" -> liveHeap,
      "attempted" -> run.attempted, "failed" -> run.failed, "wrong" -> run.wrong,
      "errors" -> run.errors.toSeq,
      "samples" -> run.samples.map { case (k, v) => k -> v.toSeq }.toMap,
      "traced_samples" -> run.traced.map { case (k, v) => k -> v.toSeq }.toMap,
      "counters" -> run.counters.toMap,
      "info" -> run.info.toMap,
      "trace" -> (if (trace) tr.dump() else Map.empty))
    val json = new ObjectMapper().registerModule(DefaultScalaModule).writeValueAsString(result)
    Files.write(Paths.get(a("out")), json.getBytes(UTF_8))
    spark.stop()
  }

  /** Fixed pure-CPU host probe (codegen'd xxhash64 + sum over an
    * in-memory range, no IO, no data-dependent shuffle): a diagnostic of
    * host speed, timed before and after the loop, never a gated metric.
    * The probe runs twice and the second run is timed, so code
    * generation and JIT are not in the figure. */
  private def calibrate(spark: SparkSession, cores: Int): Double = {
    def probe(): Unit = spark.range(0L, 64L << 20, 1L, 2 * cores)
      .select(sum(xxhash64(col("id")).bitwiseAND(lit(0xFFFFL))))
      .write.mode("overwrite").format("noop").save()
    probe()
    Timed.secs(probe())._2
  }

  /** Heap in use after a full collection, in MiB: what the program (and
    * the harness's own inputs) still hold once the loop ends, cached
    * index batches included. Under G1, System.gc() is a full,
    * stop-the-world collection. Blocks of frames that became unreachable
    * are freed by Spark's cleaner thread only after a collection has
    * found them, so collect, give the cleaner time, and collect again. */
  private def liveHeapMb(): Double = {
    (1 to 2).foreach { _ => System.gc(); Thread.sleep(300) }
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  /** Peak resident set of this process (VmHWM), in KiB. */
  private def peakRssKb(): Long =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toLong).getOrElse(-1L)
}
