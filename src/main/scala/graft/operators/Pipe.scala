package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Encoders, Row, SaveMode}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Fluent, lazy pipeline mirroring the reference `DataSource` chain
  * (/root/reference/csvplus.go:207-608) over a Catalyst logical plan.
  *
  * The reference's laziness (closure composition, executed on the
  * terminal call) maps 1:1 onto DataFrame laziness: every method here
  * only grows the logical plan; actions (`toRows`, `toCsv`, …) execute
  * it. Where the reference is order-dependent (Top/Drop/TakeWhile/
  * DropWhile rely on single-threaded file order), a Pipe carries an
  * EXPLICIT ordering spec (`order`): Spark gives no global row order
  * for free, and faking one (single-partition windows) would not
  * survive scale, so order-dependent operators require `orderBy` first
  * and are implemented with distributed plans (TakeOrderedAndProject,
  * scalar-subquery cutoffs) rather than a global window.
  */
final case class Pipe(df: DataFrame, order: Seq[Column] = Nil) {

  private def ordered: Seq[Column] = {
    require(order.nonEmpty,
      "this operator is order-dependent: call .orderBy(cols…) first " +
        "(the reference relies on file order; Spark needs it declared)")
    order
  }

  /** Declare the stream order used by top/drop/takeWhile/dropWhile. */
  def orderBy(cols: Column*): Pipe = copy(order = cols)

  // ─── projections ──────────────────────────────────────────────────

  /** Reference `SelectColumns` (csvplus.go:509-525): keep exactly these
    * columns; missing column is an error (analyzer raises), empty list
    * rejected (panic parity). */
  def selectColumns(columns: String*): Pipe = {
    if (columns.isEmpty)
      throw new IllegalArgumentException("no columns specified in SelectColumns()")
    val have = df.columns.toSet
    val missing = columns.filterNot(have)
    if (missing.nonEmpty)
      throw new IllegalArgumentException(s"""missing column "${missing.head}"""")
    copy(df = df.select(columns.map(col): _*))
  }

  /** Reference `DropColumns` (csvplus.go:492-507): remove listed
    * columns, NO error if absent; empty list rejected. */
  def dropColumns(columns: String*): Pipe = {
    if (columns.isEmpty)
      throw new IllegalArgumentException("no columns specified in DropColumns()")
    copy(df = df.drop(columns: _*))
  }

  // ─── filters / transforms ─────────────────────────────────────────

  /** Reference `Filter` (csvplus.go:274-286) — declarative predicate
    * (pushed down by Catalyst; the preferred path). */
  def filter(pred: Column): Pipe = copy(df = df.filter(pred))

  /** Arbitrary-Scala predicate (the reference's `func(Row) bool`).
    * Escape hatch: blocks pushdown/codegen — prefer [[filter]]. */
  def filterRows(pred: Row => Boolean): Pipe = {
    implicit val enc = Encoders.row(df.schema)
    copy(df = df.as[Row].filter(pred).toDF(df.columns: _*))
  }

  /** Declarative 1→1 transform: add/replace columns (the expressible
    * subset of reference `Map`, csvplus.go:288-296). */
  def mapColumns(exprs: (String, Column)*): Pipe =
    copy(df = exprs.foldLeft(df) { case (d, (name, e)) => d.withColumn(name, e) })

  /** Arbitrary-Scala 1→1 transform with a possibly new schema
    * (reference `Map`'s full generality). */
  def mapRows(schema: StructType)(f: Row => Row): Pipe = {
    val outEnc = Encoders.row(schema)
    copy(df = df.as(Encoders.row(df.schema)).map(f)(outEnc).toDF(schema.fieldNames: _*))
  }

  /** Reference `Transform` (csvplus.go:258-272): filter+map fused,
    * 0-or-1 rows out per row in; errors thrown inside the task abort
    * the job (FAILFAST parity). */
  def transformRows(schema: StructType)(f: Row => Option[Row]): Pipe = {
    val outEnc = Encoders.row(schema)
    copy(df = df.as(Encoders.row(df.schema))
      .flatMap(r => f(r).iterator)(outEnc).toDF(schema.fieldNames: _*))
  }

  /** Reference `Validate` (csvplus.go:298-310): assert per row, first
    * failure aborts the run. Declarative: stays in codegen, `check`
    * violation raises `msg`. */
  def validate(check: Column, msg: Column): Pipe =
    copy(df = df.filter(check || raise_error(msg).cast("boolean")))

  /** Arbitrary-Scala validation (reference `func(Row) error`). */
  def validateRows(vf: Row => Unit): Pipe = {
    implicit val enc = Encoders.row(df.schema)
    copy(df = df.as[Row].map { r => vf(r); r }(enc).toDF(df.columns: _*))
  }

  /** Attach named runtime metrics (Spark `Observation`): the aggregates
    * are computed DURING the next action on this pipe — no second pass
    * over the data — and read from `obs.get` afterwards. The pipeline
    * row-accounting primitive (rows kept, value totals) at any scale. */
  def observe(obs: org.apache.spark.sql.Observation,
              metric: Column, metrics: Column*): Pipe =
    copy(df = df.observe(obs, metric, metrics: _*))

  // ─── order-dependent prefix ops (require .orderBy) ────────────────

  /** Reference `Top(n)` (csvplus.go:312-326): first n rows in stream
    * order. Catalyst plans `TakeOrderedAndProject` — the distributed
    * analogue of the reference's io.EOF early-stop. */
  def top(n: Int): Pipe = copy(df = df.orderBy(ordered: _*).limit(n))

  /** Reference `Drop(n)` (csvplus.go:328-342): skip first n rows. */
  def drop(n: Int): Pipe = copy(df = df.orderBy(ordered: _*).offset(n))

  /** Reference `TakeWhile(pred)` (csvplus.go:344-358): emit the prefix
    * while pred holds; latches off at the first violation.
    *
    * Distributed plan: cutoff = min(order-key where !pred) — a 1-row
    * aggregate broadcast back as a scalar — then keep key < cutoff.
    * Two scans, zero global sort, no single-partition window: survives
    * any scale. */
  def takeWhile(pred: Column): Pipe = prefixSplit(pred, keepPrefix = true)

  /** Reference `DropWhile(pred)` (csvplus.go:360-374): drop the prefix
    * while pred holds, then emit everything from the first violation. */
  def dropWhile(pred: Column): Pipe = prefixSplit(pred, keepPrefix = false)

  /** One declared sort key, normalized: a plain column is ascending
    * nulls-first (Spark's `orderBy` default); `col.desc`/`asc_nulls_last`
    * specs keep their direction and null ordering. */
  private case class OrderSpec(key: Column, asc: Boolean, nullsFirst: Boolean)

  private def orderSpecs: Seq[OrderSpec] = ordered.map { c =>
    org.apache.spark.sql.classic.GraftShim.sortSpec(c) match {
      case Some((key, asc, nullsFirst)) => OrderSpec(key, asc, nullsFirst)
      case None => OrderSpec(c, asc = true, nullsFirst = true)
    }
  }

  private def prefixSplit(pred: Column, keepPrefix: Boolean): Pipe = {
    val specs = orderSpecs
    val cutCols = specs.indices.map(i => s"__cut$i")
    (cutCols :+ "__cuthas").foreach { n =>
      require(!df.columns.contains(n), s"input already has a column named $n")
    }
    // Cutoff = the FIRST violating row in the DECLARED order (honors
    // descending / null-ordering specs, which a min-over-struct would
    // not): TakeOrderedAndProject down to one row, aggregated so the
    // broadcast side always has exactly one row even with no violation.
    val firstViol = df.filter(!pred).orderBy(ordered: _*).limit(1)
      .select(specs.zipWithIndex.map { case (s, i) => s.key.as(s"__cut$i") }: _*)
    val cut = firstViol.agg(
      count(lit(1)).as("__cuthas"),
      cutCols.map(n => first(col(n)).as(n)): _*)
    val joined = df.crossJoin(broadcast(cut))
    // row strictly-before cutoff under the declared sort spec, with
    // Spark's sort null semantics made explicit (never evaluates null)
    def strictlyBefore(s: OrderSpec, i: Int): Column = {
      val k = s.key; val c = col(s"__cut$i")
      val base = if (s.asc) k < c else k > c
      val nullBefore = if (s.nullsFirst) k.isNull && c.isNotNull
                       else c.isNull && k.isNotNull
      nullBefore || (base && k.isNotNull && c.isNotNull)
    }
    val before = specs.zipWithIndex.foldRight(lit(false)) {
      case ((s, i), rest) =>
        strictlyBefore(s, i) || ((s.key <=> col(s"__cut$i")) && rest)
    }
    val noViolation = col("__cuthas") === 0
    val kept = if (keepPrefix) joined.filter(noViolation || before)
               else joined.filter(!noViolation && !before)
    copy(df = kept.drop("__cuthas").drop(cutCols: _*))
  }

  // ─── set ops / joins ──────────────────────────────────────────────

  /** Capability-parity union (the reference achieves it by iterating
    * two sources into one sink — SURVEY.md §2.6). */
  def union(other: Pipe): Pipe = copy(df = df.unionByName(other.df))

  /** Reference `DataSource.Join(index, columns…)` (csvplus.go:539-569):
    * inner equi-join of this stream against an Index on a prefix of its
    * key; empty `probeCols` = natural join on the index's key names;
    * 1:N matches preserved; column collisions resolved PROBE-WINS
    * (mergeRows, csvplus.go:571-583).
    *
    * Physical: broadcast hash join when the index is broadcastable
    * (the exact moral equivalent of the reference's in-memory probe),
    * shuffle join otherwise — Catalyst/AQE decides the rest. A local
    * probe (`takeRows`) plans no join: `LocalProbeJoin` turns it into
    * the index scan filtered by the probe keys, generating the probe
    * rows per match.
    */
  def join(index: Index, probeCols: String*): Pipe =
    copy(df = joinImpl(index, probeCols, anti = false))

  /** Skew-resistant variant of [[join]]: the index side is replicated
    * `saltFactor` times with a salt column and the probe side gets a
    * deterministic per-row salt, so a hot join key's probe rows spread
    * over `saltFactor` reducers instead of one. Results are identical
    * to [[join]]; use when a shuffle join has a dominant key (the
    * 100 TB answer to "one key holds 10% of the fact table"). AQE's
    * skew-join split handles moderate skew automatically — salting is
    * for the pathological tail. */
  def joinSalted(index: Index, saltFactor: Int, probeCols: String*): Pipe = {
    require(saltFactor > 1, "saltFactor must be > 1")
    require(!df.columns.contains("__salt") && !index.df.columns.contains("__salt"),
      "input already has a column named __salt")
    val pairs = index.probeKeyPairs(probeCols, "Join")
    val salted = index.df.withColumn("__salt",
      explode(sequence(lit(0), lit(saltFactor - 1))))
    val saltedIdx = new Index(salted,
      index.keyCols.take(pairs.length) :+ "__salt", broadcastHint = false)
    // per-ROW salt (hash of the whole probe row): a hot key's rows get
    // spread across saltFactor partitions — hashing just the key would
    // send them all to the same reducer again
    val probeSalt = pmod(
      xxhash64(df.columns.map(col): _*), lit(saltFactor.toLong)).cast("int")
    val out = copy(df = df.withColumn("__salt", probeSalt))
      .join(saltedIdx, pairs.map(_._1) :+ "__salt": _*)
    out.copy(df = out.df.drop("__salt"))
  }

  /** Reference `DataSource.Except(index, columns…)` (csvplus.go:585-608):
    * anti-join — emit probe rows whose key prefix is absent from the
    * index; probe rows pass through unchanged. */
  def except(index: Index, probeCols: String*): Pipe =
    copy(df = joinImpl(index, probeCols, anti = true))

  private def joinImpl(index: Index, probeCols: Seq[String], anti: Boolean): DataFrame = {
    val pairs = index.probeKeyPairs(probeCols, if (anti) "Except" else "Join")
    pairs.foreach { case (p, _) =>
      if (!df.columns.contains(p))
        throw new IllegalArgumentException(s"""missing column "$p"""")
    }
    val probe = df.alias("__p")
    val build = index.buildSide.alias("__i")
    val cond = pairs
      .map { case (pc, ic) => col(s"__p.$pc") === col(s"__i.$ic") }
      .reduce(_ && _)
    if (anti) {
      probe.join(build, cond, "left_anti")
        .select(df.columns.map(c => col(s"__p.$c").as(c)): _*)
    } else {
      // merged row = index ∪ probe columns, probe wins on name collision
      val probeCols0 = df.columns
      val collide = probeCols0.toSet
      val idxKeep = index.df.columns.filterNot(collide)
      probe.join(build, cond, "inner").select(
        probeCols0.map(c => col(s"__p.$c").as(c)) ++
          idxKeep.map(c => col(s"__i.$c").as(c)): _*)
    }
  }

  // ─── index builders ───────────────────────────────────────────────

  /** Reference `IndexOn` (csvplus.go:527-531). */
  def indexOn(columns: String*): Index = Index.indexOn(df, columns: _*)

  /** Reference `UniqueIndexOn` (csvplus.go:533-537). */
  def uniqueIndexOn(columns: String*): Index = Index.uniqueIndexOn(df, columns: _*)

  // ─── sinks (terminal = actions) ───────────────────────────────────

  /** Reference `ToCsv`/`ToCsvFile` (csvplus.go:376-443): canonical CSV
    * with header, explicit non-empty column list required (panic
    * parity), missing column aborts (analyzer).
    * `singleFile` coalesces to one part for small-output parity with
    * the reference; leave false for large writes. */
  def toCsv(path: String, columns: Seq[String], singleFile: Boolean = false): Unit = {
    if (columns.isEmpty)
      throw new IllegalArgumentException("empty column list in ToCsv() function")
    val out = df.select(columns.map(col): _*)
    val sized = if (singleFile) out.coalesce(1) else out
    sized.write.mode(SaveMode.Overwrite)
      .option("header", "true").option("emptyValue", "")
      // RFC-4180 quote doubling (Go csv.Writer dialect), matching
      // CsvSource's read side — not Spark's backslash default
      .option("escape", "\"")
      .csv(path)
  }

  /** Scalable JSON sink: JSONL (one object per line), the Spark-native
    * form of reference `ToJSON` (csvplus.go:445-480). */
  def toJsonl(path: String): Unit =
    df.write.mode(SaveMode.Overwrite).json(path)

  /** Small-output parity sink: a single JSON array of objects, exactly
    * the reference's output shape. Streams through the driver
    * (toLocalIterator) — only for reference-sized outputs. */
  def toJsonArrayFile(path: String): Unit = {
    val it = df.toJSON.toLocalIterator()
    val w = java.nio.file.Files.newBufferedWriter(
      java.nio.file.Paths.get(path), java.nio.charset.StandardCharsets.UTF_8)
    try {
      w.write("[")
      var first = true
      while (it.hasNext) {
        if (!first) w.write(",")
        w.write(it.next()); first = false
      }
      w.write("]")
    } finally w.close()
  }

  /** Reference `ToRows` (csvplus.go:482-490). */
  def toRows(): Array[Row] = df.collect()
}

object Pipe {
  /** Reference `Take` (csvplus.go:251-256). */
  def apply(df: DataFrame): Pipe = new Pipe(df, Nil)

  /** Reference `TakeRows` (csvplus.go:217-222): in-memory rows as a
    * source. */
  def takeRows(spark: org.apache.spark.sql.SparkSession,
               rows: Seq[Row], schema: StructType): Pipe =
    Pipe(spark.createDataFrame(
      new java.util.ArrayList[Row](scala.jdk.CollectionConverters.SeqHasAsJava(rows).asJava),
      schema))
}
