package perfbench

import scala.collection.mutable

import graft.operators.{Dedup, Index, Pipe}
import graft.sources.CsvSource

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}

/** What a run observed: op latencies (seconds) by op name, counters,
  * and the op outcome tally. Latencies are kept only while `timing` is
  * on (off during set-up and warm-up); in a traced run the ops of
  * recorded requests go to `traced` so the untraced ones stay clean. */
final class Run {
  val samples: mutable.LinkedHashMap[String, mutable.ArrayBuffer[Double]] = mutable.LinkedHashMap()
  val traced: mutable.LinkedHashMap[String, mutable.ArrayBuffer[Double]] = mutable.LinkedHashMap()
  val counters: mutable.LinkedHashMap[String, Double] = mutable.LinkedHashMap()
  val info: mutable.LinkedHashMap[String, Any] = mutable.LinkedHashMap()
  val errors: mutable.ArrayBuffer[String] = mutable.ArrayBuffer()
  var attempted = 0L
  var failed = 0L
  var wrong = 0L
  var timing = false
  var recorded = false

  def sample(op: String, secs: Double): Unit = if (timing) {
    val into = if (recorded) traced else samples
    into.getOrElseUpdate(op, mutable.ArrayBuffer()) += secs
  }

  def count(k: String, v: Double): Unit =
    if (timing) counters(k) = counters.getOrElse(k, 0.0) + v

  /** Run one checked op: `check` gets the op's result and returns an
    * error message for a wrong answer. */
  def op[T](name: String)(body: => T)(check: T => Option[String]): Unit = {
    attempted += 1
    val t0 = System.nanoTime()
    val r = try Right(body) catch { case e: Exception => Left(e) }
    val secs = (System.nanoTime() - t0) / 1e9
    r match {
      case Left(e) =>
        failed += 1
        note(s"$name failed: $e")
      case Right(v) =>
        sample(name, secs)
        check(v).foreach { msg => wrong += 1; note(s"$name wrong: $msg") }
    }
  }

  private def note(msg: String): Unit = {
    System.err.println(s"[perfbench] $msg")
    if (errors.length < 20) errors += msg
  }
}

object Timed {
  def secs[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }
}

/** A closed-loop workload with one client: `step` issues one request
  * and returns only after every call in it has returned. */
trait Workload {
  /** One full set-up: inputs from the seed, the program-side build
    * (index, table) and expected answers. Replaces whatever an earlier
    * set-up left. */
  def setup(): Unit
  /** Expected answers for the output checks, computed once after the
    * timed set-ups. */
  def expect(): Unit = ()
  def step(): Unit
  /** Untimed requests between set-up and the measured loop. */
  def warmRequests: Int = 1
  /** Requests the loop makes even when they outlast `--seconds`, so a
    * median always has a middle sample. */
  def minRequests: Int = 1
  /** End-of-run checks and footprint figures. */
  def finish(): Unit = ()
}

object Workload {
  def apply(name: String, spark: SparkSession, dir: String, seed: Long,
            tr: Tracer, run: Run): Workload = name match {
    case "etl"    => new Etl(spark, dir, seed, tr, run)
    case "lookup" => new Lookup(spark, dir, seed, tr, run)
    case "store"  => new StoreLoop(spark, dir, seed, tr, run)
    case other    => throw new IllegalArgumentException(s"unknown workload $other")
  }

  /** Order-independent digest of a frame: row count and two sums of the
    * 32-bit halves of a per-row hash (no overflow below 2^31 rows). */
  def digest(df: DataFrame, cols: Seq[String]): Seq[Long] = {
    val h = xxhash64(concat_ws("\u0001", cols.map(col): _*))
    val r = df.agg(count(lit(1)), sum(h.bitwiseAND(lit(0xFFFFFFFFL))),
      sum(shiftrightunsigned(h, 32))).head()
    (0 until 3).map(i => if (r.isNullAt(i)) 0L else r.getLong(i))
  }
}

/** `etl`: the csvplus pipeline — CSV read with a checked header,
  * filter, derived columns, a broadcast unique-index join, a shuffle
  * 1:N index join, an anti-join and a CSV sink — re-run from the files
  * each request, indices rebuilt each time, nothing cached. CSV scan,
  * shuffle and sink do most of the work. The line items (2.5 per order)
  * are sized above Spark's 10 MB broadcast threshold, so their join
  * stays a shuffle join. */
final class Etl(spark: SparkSession, dir: String, seed: Long,
                tr: Tracer, run: Run) extends Workload {
  import Etl._

  private val orders = s"$dir/in/orders.csv"
  private val customers = s"$dir/in/customers.csv"
  private val lines = s"$dir/in/lineitems.csv"
  private val blocked = s"$dir/in/blocked.csv"
  private var expected: Seq[Long] = Nil
  private var n = 0

  def setup(): Unit = {
    val rng = new Gen.Rng(seed)
    val statuses = Vector("open", "shipped", "shipped", "returned", "cancelled")
    val channels = Vector("web", "store", "phone")
    var bytes = Gen.writeCsv(customers, Seq("cust_id", "name", "segment", "country"),
      Iterator.tabulate(Customers)(i => Seq(Gen.custId(i), "n" + rng.word(5, 9),
        "S" + rng.int(5), "K" + rng.int(20))))
    val lineRows = mutable.ArrayBuffer[Seq[String]]()
    bytes += Gen.writeCsv(orders,
      Seq("order_id", "cust_id", "status", "amount", "order_date", "channel", "note"),
      Iterator.tabulate(Orders) { i =>
        (1 to 1 + rng.int(4)).foreach { ln =>
          lineRows += Seq(Gen.orderId(i), ln.toString, "K" + rng.int(50000),
            (1 + rng.int(9)).toString, Gen.money(rng.int(50000)))
        }
        Seq(Gen.orderId(i), Gen.custId(rng.int(Customers)), rng.pick(statuses),
          Gen.money(rng.int(100000)),
          Gen.date(2020 + rng.int(5), 1 + rng.int(12), 1 + rng.int(28)),
          rng.pick(channels), rng.word(6, 12))
      })
    bytes += Gen.writeCsv(lines, Seq("order_id", "line_no", "sku", "qty", "price"),
      lineRows.iterator)
    bytes += Gen.writeCsv(blocked, Seq("cust_id", "reason"),
      Iterator.tabulate(Customers / 20)(i => Seq(Gen.custId(i * 20 + 7), "r" + rng.int(9))))
    run.info("inputs") = Map("stream_rows" -> Orders, "customer_rows" -> Customers,
      "lineitem_rows" -> lineRows.length, "blocked_rows" -> Customers / 20,
      "bytes" -> bytes, "distinct_cust_keys" -> Customers)
    run.info("input_bytes") = bytes
  }

  /** The same pipeline in plain DataFrame joins. */
  override def expect(): Unit = expected = {
    def csv(p: String) = spark.read.option("header", "true").csv(p)
    val o = csv(orders).filter(col("status") =!= "cancelled")
      .withColumn("amount_band", amountBand).withColumn("year", year)
    val out = o.join(csv(customers), Seq("cust_id"))
      .join(csv(lines), Seq("order_id"))
      .join(csv(blocked), Seq("cust_id"), "left_anti")
    Workload.digest(out, OutCols)
  }

  def step(): Unit = {
    n += 1
    val out = s"$dir/out/$n"
    var prepS = 0.0
    tr.request()
    run.op("main") {
      tr.span("etl.pipeline") {
        val (pipe, prep) = Timed.secs {
          val o = tr.span("sources.CsvSource.read") {
            CsvSource.fromFile(orders).expectHeader(OrderHeader).read(spark)
          }
          val c = tr.span("sources.CsvSource.read") { CsvSource.fromFile(customers).read(spark) }
          val l = tr.span("sources.CsvSource.read") { CsvSource.fromFile(lines).read(spark) }
          val b = tr.span("sources.CsvSource.read") { CsvSource.fromFile(blocked).read(spark) }
          val custIdx = tr.span("operators.Index.build") { Index.uniqueIndexOn(c, "cust_id") }
          val lineIdx = tr.span("operators.Index.build") {
            Index.build(l, Seq("order_id"), unique = false, broadcastHint = false)
          }
          val blockIdx = tr.span("operators.Index.build") { Index.indexOn(b, "cust_id") }
          tr.span("operators.Pipe.join") {
            Pipe(o).filter(col("status") =!= "cancelled")
              .mapColumns("amount_band" -> amountBand, "year" -> year)
              .join(custIdx, "cust_id")
              .join(lineIdx, "order_id")
              .except(blockIdx, "cust_id")
          }
        }
        prepS = prep
        tr.span("operators.Pipe.sink") { pipe.toCsv(out, OutCols) }
      }
    } { _ =>
      run.sample("aux", prepS)
      val fp = Footprint.of(out)
      run.count("sink_calls", 1)
      run.count("sink_bytes", fp.bytes.toDouble)
      val got = Workload.digest(spark.read.option("header", "true").csv(out), OutCols)
      run.count("out_rows", got.head.toDouble)
      Footprint.delete(out)
      if (got == expected) None else Some(s"digest $got, expected $expected")
    }
  }
}

object Etl {
  val Customers = 20000
  val Orders = 160000
  val OrderHeader: Map[String, Int] = Map("order_id" -> 0, "cust_id" -> 1,
    "status" -> -1, "amount" -> -1, "order_date" -> -1, "channel" -> -1)
  val OutCols: Seq[String] = Seq("order_id", "cust_id", "status", "amount",
    "order_date", "channel", "amount_band", "year", "name", "segment",
    "country", "line_no", "sku", "qty", "price")
  def amountBand = when(col("amount").cast("double") >= 500.0, "high").otherwise("low")
  def year = substring(col("order_date"), 1, 4)
}

/** `lookup`: point lookups and, every tenth request, a 64-key probe join
  * against a cached index, keys drawn from a Zipf distribution. Each call returns a few
  * rows, so planning, job and stage scheduling and the cached-batch
  * scan dominate; CSV parsing, shuffle bytes and the store are absent. */
final class Lookup(spark: SparkSession, dir: String, seed: Long,
                   tr: Tracer, run: Run) extends Workload {
  import Lookup._

  private val table = s"$dir/in/orders.csv"
  private var perKey: Array[Int] = Array.emptyIntArray
  private var index: Index = _
  private var zipf: Gen.Zipf = _
  private var requests = 0
  private val probeSchema = StructType(Seq(StructField("cust_key", StringType)))

  def setup(): Unit = {
    val g = new Gen.Rng(seed)
    perKey = Array.fill(Customers)(1 + g.int(MaxPerKey))
    val owners = g.shuffle(perKey.indices.flatMap(k => Seq.fill(perKey(k))(k)).toArray)
    val bytes = Gen.writeCsv(table,
      Seq("cust_key", "order_key", "status", "total", "order_date", "priority", "clerk"),
      owners.iterator.zipWithIndex.map { case (k, i) =>
        Seq(Gen.custId(k), Gen.orderId(i), "S" + g.int(3),
          Gen.money(g.int(1000000)), Gen.date(2024, 1 + g.int(12), 1 + g.int(28)),
          "P" + g.int(5), "clerk" + g.int(1000))
      })
    if (index != null) index.df.unpersist(blocking = true)
    index = tr.span("operators.Index.build") {
      val df = tr.span("sources.CsvSource.read") { CsvSource.fromFile(table).read(spark) }
      val idx = Index.build(df, Seq("cust_key", "order_key"), unique = true,
        broadcastHint = false).cached()
      idx.df.count()
      idx
    }
    val sc = spark.sparkContext
    run.info("inputs") = Map("rows" -> owners.length, "bytes" -> bytes,
      "distinct_keys" -> Customers, "zipf_s" -> ZipfS, "probe_keys" -> ProbeKeys,
      "probe_every" -> ProbeEvery)
    run.info("input_bytes") = bytes
    run.info("index_rows") = owners.length
    run.info("index_cache_bytes") = sc.getRDDStorageInfo.map(_.memSize).sum
    run.info("storage_memory_bytes") = sc.getExecutorMemoryStatus.values.map(_._1).sum
    zipf = new Gen.Zipf(Customers, ZipfS, new Gen.Rng(seed ^ 0x5eedL))
  }

  // find latency keeps falling for the first ~20 requests after 10
  override def warmRequests: Int = 30

  /** Every `ProbeEvery`-th request is a probe join, the first measured
    * one included (warm-up takes `warmRequests` = 30 requests). */
  def step(): Unit = {
    tr.request()
    requests += 1
    if (requests % ProbeEvery == 1) probe() else find()
  }

  private def find(): Unit = {
    val k = zipf.next()
    val key = Gen.custId(k)
    run.op("main") {
      tr.span("operators.Index.find") {
        val rows = index.find(key).collect()
        tr.note("rows", rows.length)
        rows
      }
    } { rows =>
      if (rows.length == perKey(k) && rows.forall(_.getAs[String]("cust_key") == key)) None
      else Some(s"find($key) returned ${rows.length} rows, expected ${perKey(k)}")
    }
  }

  private def probe(): Unit = {
    val keys = Seq.fill(ProbeKeys)(zipf.next())
    val want = keys.map(perKey(_)).sum
    run.op("aux") {
      tr.span("operators.Pipe.join") {
        Pipe.takeRows(spark, keys.map(k => Row(Gen.custId(k))), probeSchema)
          .join(index, "cust_key").toRows()
      }
    } { rows =>
      if (rows.length == want) None else Some(s"probe join returned ${rows.length}, expected $want")
    }
  }
}

object Lookup {
  val Customers = 40000
  val MaxPerKey = 11
  val ZipfS = 1.1
  val ProbeKeys = 64
  val ProbeEvery = 10
}

/** `store`: ingest beside reads on one persisted signature table. Each
  * request ingests one micro-batch that lands as a CSV file (a planted
  * share of near-copies of earlier documents, the rest fresh) and writes
  * its survivors out as CSV, then runs one fixed small probe; every
  * `CompactEvery` batches the table is compacted and its stats read.
  * Commit, manifest and compaction work appear only here. */
final class StoreLoop(spark: SparkSession, dir: String, seed: Long,
                      tr: Tracer, run: Run) extends Workload {
  import StoreLoop._

  private val table = s"$dir/sigtable"
  private var vocab: IndexedSeq[String] = IndexedSeq.empty
  private var rng: Gen.Rng = _
  private val pool = mutable.ArrayBuffer[String]()
  private var admitted = 0L
  private var batchNo = 0
  private var probeDf: DataFrame = _
  private var probeWant: Set[Long] = Set.empty

  private def doc(): Array[String] =
    Array.fill(MinWords + rng.int(MaxWords - MinWords + 1))(rng.pick(vocab))

  /** A near-copy: one word in the middle replaced. */
  private def nearCopy(text: String): String = {
    val w = text.split(' ')
    w(1 + rng.int(w.length - 2)) = rng.pick(vocab) + "x"
    w.mkString(" ")
  }

  /** `n` distinct indices below `bound`: planted copies of one batch
    * never share a source, so no batch holds a near-duplicate pair of
    * its own and every ingest takes the same path (a shared source adds
    * label propagation, about 27 more jobs, to a random few batches). */
  private def sourcesOf(n: Int, bound: Int): IndexedSeq[Int] = {
    val picked = mutable.LinkedHashSet[Int]()
    while (picked.size < n) picked += rng.int(bound)
    picked.toIndexedSeq
  }

  // a request takes 5-10 s, so a run of 15 s can end after two
  override def minRequests: Int = 3

  private def readDocs(path: String): DataFrame =
    tr.span("sources.CsvSource.read") {
      CsvSource.fromFile(path).expectHeader(DocHeader).read(spark)
    }.select(col("id").cast("long").as("id"), col("text"))

  def setup(): Unit = {
    rng = new Gen.Rng(seed)
    vocab = IndexedSeq.fill(Vocab)(rng.word(3, 9))
    pool.clear(); admitted = 0; batchNo = 0
    (0 until Corpus).foreach(_ => pool += doc().mkString(" "))
    val corpusPath = s"$dir/in/corpus.csv"
    val bytes = Gen.writeCsv(corpusPath, Seq("id", "text"),
      pool.iterator.zipWithIndex.map { case (t, i) => Seq((i + 1).toString, t) })
    val sources = sourcesOf(ProbeDocs / 2, Corpus).iterator
    val probeRows = (0 until ProbeDocs).map { j =>
      val id = ProbeBase + j
      if (j % 2 == 0) (id, nearCopy(pool(sources.next()))) else (id, doc().mkString(" "))
    }
    val probePath = s"$dir/in/probe.csv"
    Gen.writeCsv(probePath, Seq("id", "text"),
      probeRows.iterator.map { case (id, t) => Seq(id.toString, t) })
    probeWant = probeRows.collect { case (id, _) if (id - ProbeBase) % 2 == 1 => id }.toSet
    Footprint.delete(table)
    val corpus = readDocs(corpusPath)
    tr.span("operators.Dedup.write") {
      Dedup.writeSignatureTable(corpus, "id", "text", table)
    }
    probeDf = readDocs(probePath)
    run.info("inputs") = Map("corpus_docs" -> Corpus, "corpus_bytes" -> bytes,
      "batch_docs" -> BatchDocs, "planted_fraction" -> PlantedFraction,
      "vocab" -> Vocab, "compact_every" -> CompactEvery, "threshold" -> Threshold)
    run.info("input_bytes") = bytes
  }


  private def probe(): Unit = {
    val before = Footprint.of(table)
    run.op("aux") {
      tr.span("operators.Dedup.probe") {
        Dedup.nearDedupIncremental(spark, table, probeDf, "id", "text", Threshold)
          .select("id").collect().map(_.getLong(0)).toSet
      }
    } { got =>
      footprint("probe", before)
      if (got == probeWant) None else Some(s"probe kept $got, expected $probeWant")
    }
  }

  def step(): Unit = {
    tr.request()
    batchNo += 1
    val planted = (BatchDocs * PlantedFraction).toInt
    val sources = sourcesOf(planted, pool.length)
    val base = BatchBase + batchNo.toLong * 10000L
    val rows = (0 until BatchDocs).map { j =>
      if (j < planted) (base + j, nearCopy(pool(sources(j))), false)
      else (base + j, doc().mkString(" "), true)
    }
    val fresh = rows.filter(_._3)
    val path = s"$dir/in/batch-$batchNo.csv"
    Gen.writeCsv(path, Seq("id", "text"),
      rng.shuffle(rows.toArray).iterator.map { case (id, t, _) => Seq(id.toString, t) })
    val out = s"$dir/out/batch-$batchNo"
    val before = Footprint.of(table)
    var ingestS = 0.0
    run.op("main") {
      val batch = readDocs(path)
      val (kept, secs) = Timed.secs {
        tr.span("operators.Dedup.ingest") {
          Dedup.nearDedupIngest(spark, table, batch, "id", "text", Threshold)
        }
      }
      ingestS = secs
      tr.span("operators.Pipe.sink") { Pipe(kept).toCsv(out, Seq("id", "text")) }
    } { _ =>
      run.sample("ingest", ingestS)
      footprint("ingest", before)
      run.count("sink_calls", 1)
      run.count("sink_bytes", Footprint.of(out).bytes.toDouble)
      val got = spark.read.option("header", "true").csv(out).select(col("id").cast("long"))
        .collect().map(_.getLong(0)).toSet
      Footprint.delete(out)
      run.count("ingested_docs", BatchDocs)
      run.count("ingested_bytes", rows.map { case (id, t, _) =>
        id.toString.getBytes("UTF-8").length + t.getBytes("UTF-8").length }.sum.toDouble)
      val want = fresh.map(_._1).toSet
      if (got == want) None
      else Some(s"batch $batchNo kept ${got.size} (${(got -- want).size} unexpected), " +
        s"expected ${want.size} (${(want -- got).size} missing)")
    }
    admitted += fresh.length
    pool ++= fresh.map(_._2)
    probe()
    // compact after batches 1, 1 + k, ...: the warm-up request runs
    // every op once
    if ((batchNo - 1) % CompactEvery == 0) {
      val before = Footprint.of(table)
      run.op("compact") {
        tr.span("operators.Dedup.compact") { Dedup.compactSignatureTable(spark, table, CompactFiles) }
      } { _ => footprint("compact", before); None }
      stats()
    }
  }

  private def footprint(op: String, before: Footprint): Unit = {
    val (files, bytes) = Footprint.of(table).addedSince(before)
    run.count(s"${op}_calls", 1)
    run.count(s"${op}_files_added", files.toDouble)
    run.count(s"${op}_bytes_added", bytes.toDouble)
  }

  private def stats(): Unit = {
    val before = Footprint.of(table)
    run.op("stats") {
      tr.span("operators.Dedup.stats") {
        Dedup.signatureTableStats(spark, table).select("n_docs").head().getLong(0)
      }
    } { n =>
      footprint("stats", before)
      val want = Corpus + admitted
      if (n == want) None else Some(s"stats n_docs $n, expected $want")
    }
  }

  override def finish(): Unit = {
    stats()
    val fp = Footprint.of(table)
    run.info("store_files_live") = fp.files.size
    run.info("store_bytes_live") = fp.bytes
    run.info("store_docs_live") = Corpus + admitted
  }
}

object StoreLoop {
  val DocHeader: Map[String, Int] = Map("id" -> 0, "text" -> 1)
  val Corpus = 6000
  val Vocab = 20000
  val MinWords = 40
  val MaxWords = 60
  val BatchDocs = 200
  val PlantedFraction = 0.2
  val CompactEvery = 2
  val CompactFiles = 2
  val Threshold = 0.7
  val BatchBase = 1000000L
  val ProbeBase = 9000000L
  val ProbeDocs = 8
}
