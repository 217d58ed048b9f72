package graft.sources

import graft.DataSourceException

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.util.QuotingUtils.quoteIdentifier
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}

/** Header handling modes of the reference reader (SURVEY.md §2.1). */
sealed trait HeaderMode
/** Default: column names taken from the first line (csvplus.go:1160-1168). */
case object HeaderFromFirstRow extends HeaderMode
/** Headerless file; caller supplies name → position (csvplus.go:995-1012). */
final case class AssumeHeader(spec: Map[String, Int]) extends HeaderMode
/** Header row verified against expected positions; -1 = find by name
  * (csvplus.go:1014-1033, check at 1170-1183). */
final case class ExpectHeader(spec: Map[String, Int]) extends HeaderMode

/** Per-row field-count strictness (csvplus.go:1058-1076). */
sealed trait FieldCountMode
/** Count fixed by the first row (Go encoding/csv default). */
case object NumFieldsAuto extends FieldCountMode
/** Exactly n fields per row. */
final case class NumFields(n: Int) extends FieldCountMode
/** Ragged rows allowed; short rows right-padded with "" (csvplus.go:1121-1124). */
case object NumFieldsAny extends FieldCountMode

/** CSV source builder mirroring the reference `Reader`
  * (/root/reference/csvplus.go:922-1206) as a thin declarative layer
  * over Spark's csv datasource.
  *
  * Design (SURVEY.md §1.4): columns are ALWAYS `StringType` — the
  * reference never infers types (`Row = map[string]string`,
  * csvplus.go:59) and its observable sort order is lexicographic.
  * Projection (`selectColumns`) is declared here and pushed into the
  * `FileScan csv` by Catalyst's column pruning, reproducing the
  * reference's parse-time projection (csvplus.go:1118-1131) at scale.
  *
  * Immutable builder: every setter returns a copy, like the reference's
  * fluent `*Reader` chain.
  */
final case class CsvSource(
    path: String,
    delim: Char = ',',
    comment: Option[Char] = None,
    lazyQuotesOn: Boolean = false,
    trimLeadingSpaceOn: Boolean = false,
    headerMode: HeaderMode = HeaderFromFirstRow,
    selected: Seq[String] = Nil,
    fieldMode: FieldCountMode = NumFieldsAuto,
    multiLineOn: Boolean = false
) {

  /** csvplus.go:970-974 */
  def delimiter(c: Char): CsvSource = copy(delim = c)

  /** csvplus.go:976-980 */
  def commentChar(c: Char): CsvSource = copy(comment = Some(c))

  /** csvplus.go:982-987 — tolerate stray quotes (closest Spark analogue
    * is univocity's STOP_AT_CLOSING_QUOTE handling). */
  def lazyQuotes(): CsvSource = copy(lazyQuotesOn = true)

  /** csvplus.go:989-993 */
  def trimLeadingSpace(): CsvSource = copy(trimLeadingSpaceOn = true)

  /** Opt-in RFC-4180 quoted-embedded-newline records — the one place
    * Go's record-oriented `encoding/csv` (which the reference delegates
    * to, csvplus.go:1078-1146) accepts input the default newline-split
    * scan cannot: `"a\nb"` as a single field. The COST is explicit and
    * why it is not the default: a multi-line file cannot be split at
    * arbitrary byte offsets, so Spark reads each FILE as one task —
    * parallelism becomes #files, not #splits. Use for the (typically
    * small, many-file) inputs that actually contain quoted newlines;
    * leave off for the 100 TB scan path. */
  def multiLine(): CsvSource = copy(multiLineOn = true)

  /** csvplus.go:995-1012 — headerless input, caller-specified layout. */
  def assumeHeader(spec: Map[String, Int]): CsvSource = {
    checkHeaderSpec(spec, allowNegative = false)
    copy(headerMode = AssumeHeader(spec))
  }

  /** csvplus.go:1014-1033 — header verified against expected positions;
    * a position of -1 means "find by name". */
  def expectHeader(spec: Map[String, Int]): CsvSource = {
    checkHeaderSpec(spec, allowNegative = true)
    copy(headerMode = ExpectHeader(spec))
  }

  /** csvplus.go:1035-1056 — projection pushed into the scan. */
  def selectColumns(columns: String*): CsvSource = {
    if (columns.isEmpty) throw new IllegalArgumentException("empty header spec")
    val dups = columns.groupBy(identity).collect { case (n, g) if g.size > 1 => n }
    if (dups.nonEmpty)
      throw new IllegalArgumentException(
        "header spec: duplicate column name: " + dups.head)
    copy(selected = columns)
  }

  /** csvplus.go:1058-1063 — strict per-row field count. */
  def numFields(n: Int): CsvSource = copy(fieldMode = NumFields(n))

  /** csvplus.go:1065-1070 — field count fixed by first row. */
  def numFieldsAuto(): CsvSource = copy(fieldMode = NumFieldsAuto)

  /** csvplus.go:1072-1076 — ragged rows allowed, short rows padded "". */
  def numFieldsAny(): CsvSource = copy(fieldMode = NumFieldsAny)

  private def checkHeaderSpec(spec: Map[String, Int], allowNegative: Boolean): Unit = {
    if (spec.isEmpty) throw new IllegalArgumentException("empty header spec")
    if (!allowNegative)
      spec.foreach { case (name, i) =>
        if (i < 0)
          throw new IllegalArgumentException(
            "header spec: negative index for column " + name)
      }
  }

  private def baseOptions: Map[String, String] = Map(
    "sep" -> delim.toString,
    // RFC-4180 / Go encoding/csv dialect: a quote inside a quoted field
    // is escaped by DOUBLING it (""), not by backslash (Spark's
    // default). The reference reader/writer both speak this dialect
    // (csvplus.go:1078-1146 delegate to encoding/csv), as does
    // Pipe.toCsv on the write side.
    "escape" -> "\"",
    "inferSchema" -> "false",
    "enforceSchema" -> "false",
    "ignoreLeadingWhiteSpace" -> trimLeadingSpaceOn.toString,
    "ignoreTrailingWhiteSpace" -> "false",
    "emptyValue" -> "", // quoted "" stays "", not null
    "mode" -> (fieldMode match {
      case NumFieldsAny => "PERMISSIVE"
      case _            => "FAILFAST"
    })
  ) ++ comment.map(c => "comment" -> c.toString) ++
    (if (lazyQuotesOn)
       Map("unescapedQuoteHandling" -> "STOP_AT_CLOSING_QUOTE")
     else Map.empty) ++
    (if (multiLineOn) Map("multiLine" -> "true") else Map.empty)

  /** Read the raw first line's fields (driver-side pre-flight, used for
    * header resolution/verification — one tiny bounded read, never the
    * whole file).
    *
    * Single-line records are an invariant of the DEFAULT mode:
    * without [[multiLine]], `baseOptions` never sets `multiLine`,
    * `lineSep` or `encoding`, so the data path splits records on raw
    * newlines exactly as the text scan here does — a quoted newline
    * inside a header field is malformed input to BOTH paths, never a
    * silent divergence between them. Newline-split records are what
    * make the scan splittable across executors at scale; the reference
    * parity gap (Go's `encoding/csv` accepts quoted embedded newlines,
    * csvplus.go:1078-1146) is closed by the opt-in [[multiLine]] mode,
    * whose header pre-flight below instead takes the first RECORD as
    * parsed by the csv datasource itself (same dialect options), so a
    * header field may itself contain a quoted newline. */
  private def firstLineFields(spark: SparkSession): Seq[String] = {
    if (multiLineOn) {
      val head = spark.read.options(baseOptions)
        .option("header", "false").option("mode", "PERMISSIVE")
        .csv(path).limit(1).collect()
      if (head.isEmpty) throw new DataSourceException(1, "empty header")
      return head.head.toSeq.map(v => if (v == null) "" else v.toString)
    }
    // Deterministic "line 1": a text scan streamed partition-by-partition
    // in file order (only the first partition is ever computed), NOT
    // `.csv(path).limit(1)` — limit without ordering may surface an
    // arbitrary row of an arbitrary part-file on multi-part directories.
    // Comment/blank-line skipping matches Spark's non-multiline csv
    // reader (CSVUtils.filterCommentAndEmpty): lines that are empty
    // after trimming are skipped, comment detection is on the raw line.
    val lines = spark.sparkContext.textFile(path).toLocalIterator
    val firstLine = lines.find { l =>
      l.trim.nonEmpty && comment.forall(c => !l.startsWith(c.toString))
    }.getOrElse(throw new DataSourceException(1, "empty header"))
    lineFields(spark, firstLine)
  }

  /** One raw line's fields in this dialect. */
  private def lineFields(spark: SparkSession, line: String): Seq[String] = {
    import spark.implicits._
    val head = spark.read
      .options(baseOptions)
      .option("header", "false")
      .option("mode", "PERMISSIVE")
      .csv(spark.createDataset(Seq(line)))
      .collect()
    if (head.isEmpty) throw new DataSourceException(1, "empty header")
    head.head.toSeq.map(v => if (v == null) "" else v.toString)
  }

  /** Build the DataFrame. All columns StringType; schema per header
    * mode; projection applied (pruned into the scan by Catalyst). */
  def read(spark: SparkSession): DataFrame = {
    // NumFields(n): strict per-row width. The RAW first-line width (not
    // the projected width) must equal n — the reference checks every
    // physical record (csvplus.go:1058-1063); per-row enforcement comes
    // from FAILFAST against the n-column schema.
    fieldMode match {
      case NumFields(n) =>
        val raw = firstLineFields(spark)
        if (raw.length != n)
          throw new DataSourceException(
            1, s"record on line 1: wrong number of fields")
      case _ => ()
    }
    val df: DataFrame = headerMode match {
      case HeaderFromFirstRow =>
        val names = firstLineFields(spark)
        if (names.isEmpty || names.forall(_.isEmpty))
          throw new DataSourceException(1, "empty header")
        val schema = StructType(names.map(StructField(_, StringType, nullable = true)))
        spark.read.options(baseOptions).option("header", "true").schema(schema).csv(path)

      case AssumeHeader(spec) =>
        // headerless: read positionally then select/rename.
        val width = spec.values.max + 1
        val schema = StructType((0 until width).map(i =>
          StructField(s"_c$i", StringType, nullable = true)))
        val raw = spark.read.options(baseOptions).option("header", "false")
          .schema(schema).csv(path)
        raw.select(spec.toSeq.sortBy(_._2).map { case (name, i) =>
          col(s"_c$i").as(name)
        }: _*)

      case ExpectHeader(spec) =>
        val actual = firstLineFields(spark)
        val pos = actual.zipWithIndex.toMap
        // verify: -1 = locate by name; otherwise exact position match
        val resolved = spec.toSeq.map { case (name, want) =>
          pos.get(name) match {
            case None =>
              throw new DataSourceException(1, s"""column not found: "$name"""")
            case Some(found) if want >= 0 && want != found =>
              throw new DataSourceException(
                1,
                s"""misplaced column "$name": expected at pos. $want, but found at pos. $found""")
            case Some(found) => name -> found
          }
        }
        val schema = StructType(actual.map(StructField(_, StringType, nullable = true)))
        val raw = spark.read.options(baseOptions).option("header", "true")
          .schema(schema).csv(path)
        raw.select(resolved.sortBy(_._2).map { case (name, _) => col(quoteIdentifier(name)) }: _*)
    }

    val projected =
      if (selected.isEmpty) df
      else {
        val have = df.columns.toSet
        val missing = selected.filterNot(have)
        if (missing.nonEmpty)
          throw new DataSourceException(
            1,
            if (missing.size == 1) s"""column not found: "${missing.head}""""
            else "columns not found: " + missing.map(m => s""""$m"""").mkString(", "))
        df.select(selected.map(c => col(quoteIdentifier(c))): _*)
      }

    projected.select(projected.columns.map(c => CsvSource.nonNull(col(quoteIdentifier(c)), c)): _*)
  }
}

object CsvSource {
  /** Reference `FromFile` (csvplus.go:949-960). */
  def fromFile(name: String): CsvSource = CsvSource(name)

  /** Read a CSV with an exact, 1-based physical line number column
    * (`_lineno`) — the reference's error/ordering currency
    * (DataSourceError.Line counts physical lines, header = line 1;
    * csvplus.go:1102-1137). This realizes SURVEY §7.4's `_rowpos` plan:
    * a text scan + `zipWithIndex` (one extra distributed pass, indices
    * follow file order), then per-line `from_csv` parsing — so
    * order-dependent Pipe ops (`orderBy(col("_lineno"))`) reproduce the
    * reference's single-threaded file order exactly, and per-row
    * validation errors can carry `row N:` line numbers.
    * Single-path scope: no header modes/projection here — compose with
    * the main builder when those are needed. */
  def readNumbered(spark: SparkSession, path: String,
                   delimiter: Char = ','): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.LongType
    val dialect = fromFile(path).delimiter(delimiter)
    val numbered = spark.sparkContext.textFile(path)
      .zipWithIndex()
      .map { case (line, i) => Row(line, i + 1L) } // 1-based, header = 1
    val linesDf = spark.createDataFrame(numbered, StructType(Seq(
      StructField("_line", StringType), StructField("_lineno", LongType))))
    val names = {
      val head = linesDf.filter(col("_lineno") === 1L).collect()
      if (head.isEmpty) throw new DataSourceException(1, "empty header")
      dialect.lineFields(spark, head.head.getString(0))
    }
    if (names.isEmpty || names.forall(_.trim.isEmpty))
      throw new DataSourceException(1, "empty header")
    val schema = StructType(names.map(StructField(_, StringType, nullable = true)))
    // blank lines are skipped, as the csv datasource does
    val parsed = linesDf
      .filter(col("_lineno") > 1L && trim(col("_line")) =!= "")
      .select(from_csv(col("_line"), schema, dialect.baseOptions).as("_parsed"),
        col("_lineno"))
    parsed.select(
      names.map(n => nonNull(col("_parsed").getField(n), n)) :+ col("_lineno"): _*)
  }

  /** Reference `FromReader`/`FromReadCloser` (csvplus.go:935-947): CSV
    * from an already-in-memory byte stream. Spark-native form: parse a
    * `Dataset[String]` of lines with the csv datasource. Header = first
    * line; all columns StringType; the default [[fromFile]] dialect with
    * the given delimiter — use [[fromFile]] for the full builder. */
  def fromLines(spark: SparkSession,
                lines: org.apache.spark.sql.Dataset[String],
                delimiter: Char = ','): DataFrame = {
    val header = lines.limit(1).collect()
    if (header.isEmpty || header.head.trim.isEmpty)
      throw new graft.DataSourceException(1, "empty header")
    val df = spark.read.options(fromFile("").delimiter(delimiter).baseOptions)
      .option("header", "true").csv(lines)
    df.select(df.columns.map(c => nonNull(col(quoteIdentifier(c)), c)): _*)
  }

  def fromStrings(spark: SparkSession, csv: String, delimiter: Char): DataFrame = {
    import spark.implicits._
    fromLines(spark, spark.createDataset(csv.split("\n").toIndexedSeq), delimiter)
  }

  /** The reference's Row values are never null: unquoted empty fields
    * parse to null in univocity (no option changes that), and short
    * rows under PERMISSIVE yield nulls (csvplus right-pads with "",
    * csvplus.go:1121-1124). In the FAILFAST modes short rows abort, so
    * a null can only ever mean an empty field → coalesce to "" is
    * exact in every mode. */
  private def nonNull(field: Column, name: String): Column =
    coalesce(field, lit("")).as(name)
}
