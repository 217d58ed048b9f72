package graft.operators

import scala.collection.mutable

import graft.streaming.LandingZone

import org.apache.spark.sql.{DataFrame, Encoders, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multi-pattern substring matching over documents via a broadcast
  * Aho–Corasick automaton — the corpus-scale form of a blocklist /
  * badwords filter (C4-style curation drops or masks documents that
  * hit a term list), and the multi-pattern scale-out of the
  * reference's single-pattern `Like` predicate (csvplus.go:1240,
  * `strings.Contains` inside a row closure).
  *
  * Why an automaton and not P `contains()` columns: a per-pattern
  * scan is O(P · len) per document — at 10⁵ blocked terms over 100 TB
  * that multiplier is the whole job. Aho–Corasick (Aho & Corasick,
  * CACM 1975) matches ALL patterns in ONE left-to-right pass:
  * O(len + matches) per document, independent of P. The automaton is
  * built once on the driver from the (bounded, loudly guarded)
  * pattern table and broadcast; every scan form below is then a
  * shuffle-free `mapPartitions` — no join, no exchange, perfectly
  * parallel over document partitions. That is the 100 TB shape:
  * pattern-table size rides the broadcast (like a codebook or a
  * k-means centroid set), corpus size rides the scan.
  *
  * Match semantics (shared by every form and by the DuckDB oracles):
  * a match is EVERY start position where a pattern occurs, overlaps
  * included — "aa" occurs 3× in "aaaa"-style runs, and a pattern that
  * is a substring of another is reported independently. Matching is
  * case-sensitive over Java chars (UTF-16 code units); callers wanting
  * case-folded or normalized matching apply `lower()` / NFC upstream
  * (composable, and keeps the automaton byte-exact).
  */
object Blocklist {

  /** Immutable serializable Aho–Corasick automaton. Per-state
    * transitions are sorted parallel arrays probed by binary search —
    * compact, allocation-free at scan time, and cheap to broadcast
    * (two int/char arrays per state; no per-state hash tables to
    * serialize). Outputs are merged through fail links at build time,
    * so a scan emits every pattern ending at each position without
    * walking suffix links. */
  final class Automaton private[Blocklist] (
      private val transChars: Array[Array[Char]],
      private val transNext: Array[Array[Int]],
      private val fail: Array[Int],
      private val outPats: Array[Array[Int]],
      val patterns: Array[String]) extends Serializable {

    @inline private def step(state: Int, c: Char): Int = {
      var s = state
      while (true) {
        val idx = java.util.Arrays.binarySearch(transChars(s), c)
        if (idx >= 0) return transNext(s)(idx)
        if (s == 0) return 0
        s = fail(s)
      }
      0 // unreachable
    }

    /** Per-pattern occurrence counts (every start position, overlaps
      * included). Sparse: only patterns with ≥ 1 match appear. */
    def countAll(text: String): mutable.LongMap[Long] = {
      val counts = new mutable.LongMap[Long]
      var s = 0
      var i = 0
      val n = text.length
      while (i < n) {
        s = step(s, text.charAt(i))
        val out = outPats(s)
        var j = 0
        while (j < out.length) {
          val k = out(j).toLong
          counts.update(k, counts.getOrElse(k, 0L) + 1L)
          j += 1
        }
        i += 1
      }
      counts
    }

    /** Every occurrence as (pattern index, 0-based END position) in
      * scan order — the span-evidence form behind `matchPositions`. */
    def matchEnds(text: String): Seq[(Int, Int)] = {
      val out = Seq.newBuilder[(Int, Int)]
      var s = 0
      var i = 0
      val n = text.length
      while (i < n) {
        s = step(s, text.charAt(i))
        val o = outPats(s)
        var j = 0
        while (j < o.length) { out += ((o(j), i)); j += 1 }
        i += 1
      }
      out.result()
    }

    /** True iff ANY pattern occurs — early-exits at the first match,
      * so clean-corpus filtering pays only the scan prefix. */
    def containsAny(text: String): Boolean = {
      var s = 0
      var i = 0
      val n = text.length
      while (i < n) {
        s = step(s, text.charAt(i))
        if (outPats(s).nonEmpty) return true
        i += 1
      }
      false
    }

    /** Mask-cover redaction: every character covered by ANY occurrence
      * of ANY pattern becomes `maskChar` (length-preserving — the
      * union of match intervals, like PII masking). Returns (masked
      * text, number of masked characters). Interval union via a
      * difference array: O(len + matches), never O(matches × patLen). */
    def maskCovered(text: String, maskChar: Char = '*'): (String, Long) = {
      val n = text.length
      val diff = new Array[Int](n + 1)
      var s = 0
      var i = 0
      var any = false
      while (i < n) {
        s = step(s, text.charAt(i))
        val out = outPats(s)
        var j = 0
        while (j < out.length) {
          val start = i - patterns(out(j)).length + 1
          diff(start) += 1
          diff(i + 1) -= 1
          any = true
          j += 1
        }
        i += 1
      }
      if (!any) return (text, 0L)
      val sb = new java.lang.StringBuilder(n)
      var cover = 0
      var masked = 0L
      i = 0
      while (i < n) {
        cover += diff(i)
        if (cover > 0) { sb.append(maskChar); masked += 1L }
        else sb.append(text.charAt(i))
        i += 1
      }
      (sb.toString, masked)
    }
  }

  /** Build the automaton from a bounded pattern list. Patterns must be
    * non-null and non-empty; duplicates are collapsed (a duplicate
    * would double-count every occurrence — silently wrong, so it is
    * removed, not errored: blocklists are routinely unioned). */
  def compile(patterns: Seq[String]): Automaton = {
    require(patterns.nonEmpty, "compile: empty pattern list")
    patterns.foreach(p => require(p != null && p.nonEmpty,
      "compile: null or empty pattern — an empty pattern would match " +
        "at every position"))
    val pats = patterns.distinct.toArray
    // trie
    val trans = mutable.ArrayBuffer(mutable.SortedMap.empty[Char, Int])
    val ends = mutable.ArrayBuffer(List.empty[Int])
    for (pi <- pats.indices) {
      var s = 0
      val p = pats(pi)
      var i = 0
      while (i < p.length) {
        val c = p.charAt(i)
        s = trans(s).getOrElse(c, {
          trans += mutable.SortedMap.empty[Char, Int]
          ends += Nil
          val ns = trans.size - 1
          trans(s) += (c -> ns)
          ns
        })
        i += 1
      }
      ends(s) = pi :: ends(s)
    }
    val nStates = trans.size
    val fail = new Array[Int](nStates)
    val outs = Array.tabulate(nStates)(s => mutable.ArrayBuffer(ends(s): _*))
    // BFS fail links; outputs inherit through the fail chain so scans
    // need no suffix-link walk
    val queue = mutable.Queue.empty[Int]
    for ((_, ns) <- trans(0)) { fail(ns) = 0; queue += ns }
    while (queue.nonEmpty) {
      val s = queue.dequeue()
      for ((c, ns) <- trans(s)) {
        var f = fail(s)
        while (f != 0 && !trans(f).contains(c)) f = fail(f)
        fail(ns) = trans(f).get(c).filter(_ != ns).getOrElse(0)
        outs(ns) ++= outs(fail(ns))
        queue += ns
      }
    }
    new Automaton(
      trans.map(_.keysIterator.toArray).toArray,
      trans.map(_.valuesIterator.toArray).toArray,
      fail, outs.map(_.toArray), pats)
  }

  /** Collect + validate the pattern column with loud bounds — the
    * automaton is driver-built and broadcast, so the pattern table
    * must be codebook-sized (same regime as k-means centroids / PQ
    * codebooks), never corpus-sized. */
  private def collectPatterns(
      patterns: DataFrame, patternCol: String,
      maxPatterns: Int, maxPatternChars: Long): Seq[String] = {
    val n = patterns.count()
    require(n <= maxPatterns,
      s"blocklist: $n patterns exceed maxPatterns = $maxPatterns — the " +
        "automaton is broadcast to every task; a corpus-sized pattern " +
        "table needs a join-based matcher, not a blocklist")
    val pats = patterns.select(col(patternCol).cast("string"))
      .na.drop().distinct().collect().map(_.getString(0)).toSeq
    require(pats.nonEmpty,
      "blocklist: pattern table has no non-null patterns")
    val totalChars = pats.iterator.map(_.length.toLong).sum
    require(totalChars <= maxPatternChars,
      s"blocklist: pattern table totals $totalChars chars " +
        s"(> maxPatternChars = $maxPatternChars) — too large to broadcast")
    pats
  }

  /** (id, pattern, n_matches) for every (document, pattern) with ≥ 1
    * occurrence — every start position counted, overlaps included.
    * NULL-text rows match nothing. One shuffle-free pass. */
  def matchCounts(
      df: DataFrame, idCol: String, textCol: String,
      patterns: DataFrame, patternCol: String = "pattern",
      maxPatterns: Int = 1 << 16,
      maxPatternChars: Long = 1L << 24): DataFrame = {
    val pats = collectPatterns(patterns, patternCol, maxPatterns, maxPatternChars)
    val spark = df.sparkSession
    val bc = spark.sparkContext.broadcast(compile(pats))
    val pre = df.select(col(idCol).cast("long").as("id"), col(textCol).cast("string").as("text"))
    val outSchema = StructType(Seq(
      StructField("id", LongType), StructField("pattern", StringType),
      StructField("n_matches", LongType)))
    pre.as(Encoders.row(pre.schema)).mapPartitions { it =>
      val ac = bc.value
      it.flatMap { r =>
        val text = r.getAs[String]("text")
        if (text == null) Iterator.empty
        else {
          val id = if (r.isNullAt(0)) null else java.lang.Long.valueOf(r.getLong(0))
          ac.countAll(text).iterator.map { case (pi, n) =>
            Row(id, ac.patterns(pi.toInt), n)
          }
        }
      }
    }(Encoders.row(outSchema)).toDF("id", "pattern", "n_matches")
      .withColumnRenamed("id", idCol)
  }

  /** (id, pattern, start) for EVERY occurrence — 1-based start
    * positions, overlaps included — the audit form: span-level match
    * evidence for redaction review, where [[matchCounts]] only says
    * how many. Same single shuffle-free pass. */
  def matchPositions(
      df: DataFrame, idCol: String, textCol: String,
      patterns: DataFrame, patternCol: String = "pattern",
      maxPatterns: Int = 1 << 16,
      maxPatternChars: Long = 1L << 24): DataFrame = {
    val pats = collectPatterns(patterns, patternCol, maxPatterns, maxPatternChars)
    val spark = df.sparkSession
    val bc = spark.sparkContext.broadcast(compile(pats))
    val pre = df.select(col(idCol).cast("long").as("id"),
      col(textCol).cast("string").as("text"))
    val outSchema = StructType(Seq(
      StructField("id", LongType), StructField("pattern", StringType),
      StructField("start", IntegerType, nullable = false)))
    pre.as(Encoders.row(pre.schema)).mapPartitions { it =>
      val ac = bc.value
      it.flatMap { r =>
        val text = r.getAs[String]("text")
        if (text == null) Iterator.empty
        else {
          val id = if (r.isNullAt(0)) null else java.lang.Long.valueOf(r.getLong(0))
          ac.matchEnds(text).iterator.map { case (pi, end) =>
            Row(id, ac.patterns(pi), end - ac.patterns(pi).length + 2)
          }
        }
      }
    }(Encoders.row(outSchema)).toDF("id", "pattern", "start")
      .withColumnRenamed("id", idCol)
  }

  /** All input columns plus `n_blocked` (total occurrences across all
    * patterns; 0 for NULL text) and `n_blocked_patterns` (distinct
    * patterns hit) — the annotate form for downstream quality scoring. */
  def annotate(
      df: DataFrame, textCol: String,
      patterns: DataFrame, patternCol: String = "pattern",
      maxPatterns: Int = 1 << 16,
      maxPatternChars: Long = 1L << 24): DataFrame = {
    val pats = collectPatterns(patterns, patternCol, maxPatterns, maxPatternChars)
    val bc = df.sparkSession.sparkContext.broadcast(compile(pats))
    annotateWith(df, textCol, bc)
  }

  private def annotateWith(
      df: DataFrame, textCol: String,
      bc: org.apache.spark.broadcast.Broadcast[Automaton]): DataFrame = {
    val ti = df.schema.fieldIndex(textCol)
    val outSchema = df.schema
      .add("n_blocked", LongType, nullable = false)
      .add("n_blocked_patterns", IntegerType, nullable = false)
    df.as(Encoders.row(df.schema)).map { r =>
      val text = if (r.isNullAt(ti)) null else r.getString(ti)
      if (text == null) Row.fromSeq(r.toSeq :+ 0L :+ 0)
      else {
        val counts = bc.value.countAll(text)
        var total = 0L
        counts.foreachValue(total += _)
        Row.fromSeq(r.toSeq :+ total :+ counts.size)
      }
    }(Encoders.row(outSchema))
  }

  /** Rows whose text contains NO blocked pattern (NULL text passes —
    * nothing to match). Early-exit scan: a hit abandons the document
    * at the first match rather than counting the rest. */
  def filterClean(
      df: DataFrame, textCol: String,
      patterns: DataFrame, patternCol: String = "pattern",
      maxPatterns: Int = 1 << 16,
      maxPatternChars: Long = 1L << 24): DataFrame = {
    val pats = collectPatterns(patterns, patternCol, maxPatterns, maxPatternChars)
    val bc = df.sparkSession.sparkContext.broadcast(compile(pats))
    val ti = df.schema.fieldIndex(textCol)
    df.as(Encoders.row(df.schema)).filter { r =>
      r.isNullAt(ti) || !bc.value.containsAny(r.getString(ti))
    }.toDF(df.columns: _*)
  }

  /** (id, masked, n_masked): length-preserving redaction — every
    * character covered by any occurrence of any pattern becomes
    * `maskChar`; `n_masked` counts them. NULL text stays NULL with
    * n_masked = 0. */
  def maskCovered(
      df: DataFrame, idCol: String, textCol: String,
      patterns: DataFrame, patternCol: String = "pattern",
      maskChar: Char = '*',
      maxPatterns: Int = 1 << 16,
      maxPatternChars: Long = 1L << 24): DataFrame = {
    val pats = collectPatterns(patterns, patternCol, maxPatterns, maxPatternChars)
    val bc = df.sparkSession.sparkContext.broadcast(compile(pats))
    val pre = df.select(col(idCol).cast("long").as("id"), col(textCol).cast("string").as("text"))
    val outSchema = StructType(Seq(
      StructField("id", LongType), StructField("masked", StringType),
      StructField("n_masked", LongType, nullable = false)))
    pre.as(Encoders.row(pre.schema)).map { r =>
      val id = if (r.isNullAt(0)) null else java.lang.Long.valueOf(r.getLong(0))
      val text = r.getAs[String]("text")
      if (text == null) Row(id, null, 0L)
      else {
        val (masked, n) = bc.value.maskCovered(text, maskChar)
        Row(id, masked, n)
      }
    }(Encoders.row(outSchema)).toDF("id", "masked", "n_masked")
      .withColumnRenamed("id", idCol)
  }

  /** Streaming twin of [[annotate]]: drain `streamDir` one file per
    * micro-batch and append annotated rows to `outPath`. The automaton
    * compiles and broadcasts ONCE (not per micro-batch — the pattern
    * table is reference data, like the streamed LM's trained model);
    * the per-batch scan is stateless, so stream ≡ batch row-for-row —
    * the q_blocklist_stream contract. */
  def annotateStreamed(
      spark: org.apache.spark.sql.SparkSession, streamDir: String,
      textCol: String, outPath: String,
      patterns: DataFrame, patternCol: String = "pattern",
      checkpointDir: Option[String] = None,
      maxPatterns: Int = 1 << 16,
      maxPatternChars: Long = 1L << 24): Unit = {
    val pats = collectPatterns(patterns, patternCol, maxPatterns, maxPatternChars)
    val bc = spark.sparkContext.broadcast(compile(pats))
    LandingZone.drain(spark, streamDir, checkpointDir) { batch =>
      annotateWith(batch, textCol, bc)
        .write.mode("append").parquet(outPath)
    }
  }
}
