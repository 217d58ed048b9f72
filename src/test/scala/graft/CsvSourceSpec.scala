package graft

import graft.operators.Pipe
import graft.sources.CsvSource

import java.nio.file.{Files, Path}

/** CSV dialect / header modes / round-trips —
  * csvplus_test.go:172-196, 808-909, and SURVEY §2.1. */
class CsvSourceSpec extends GraftSpec {

  private def tmpCsv(content: String): String = {
    val p: Path = Files.createTempFile("graft_csv", ".csv")
    Files.writeString(p, content)
    p.toString
  }

  test("default mode: header from first row, all columns StringType") {
    val f = tmpCsv("id,name\n1,Ann\n2,Bob\n")
    val df = CsvSource.fromFile(f).read(spark)
    assert(df.columns.toSeq == Seq("id", "name"))
    assert(df.schema.fields.forall(_.dataType.typeName == "string"))
    assert(df.count() == 2)
  }

  test("delimiter and comment-line configuration") {
    val f = tmpCsv("id;name\n# a comment line\n1;Ann\n2;Bob\n")
    val df = CsvSource.fromFile(f).delimiter(';').commentChar('#').read(spark)
    assert(df.count() == 2)
    assert(df.collect().map(_.getString(1)).toSet == Set("Ann", "Bob"))
  }

  test("trimLeadingSpace strips per-field leading whitespace") {
    val f = tmpCsv("id,name\n1,  Ann\n")
    val df = CsvSource.fromFile(f).trimLeadingSpace().read(spark)
    assert(df.collect().head.getString(1) == "Ann")
  }

  test("assumeHeader: headerless file with caller layout; negative index panics") {
    val f = tmpCsv("1,Ann,x\n2,Bob,y\n")
    val df = CsvSource.fromFile(f)
      .assumeHeader(Map("id" -> 0, "name" -> 1)).read(spark)
    assert(df.columns.toSeq == Seq("id", "name"))
    assert(df.count() == 2)
    val e = intercept[IllegalArgumentException] {
      CsvSource.fromFile(f).assumeHeader(Map("id" -> -1))
    }
    assert(e.getMessage == "header spec: negative index for column id")
  }

  test("expectHeader verifies positions; misplaced column error text parity") {
    val f = tmpCsv("id,name\n1,Ann\n")
    // -1 = find by name
    val ok = CsvSource.fromFile(f)
      .expectHeader(Map("name" -> -1, "id" -> 0)).read(spark)
    assert(ok.count() == 1)
    val e = intercept[DataSourceException] {
      CsvSource.fromFile(f).expectHeader(Map("name" -> 0)).read(spark)
    }
    assert(e.getMessage ==
      """row 1: misplaced column "name": expected at pos. 0, but found at pos. 1""")
    val e2 = intercept[DataSourceException] {
      CsvSource.fromFile(f).expectHeader(Map("ghost" -> -1)).read(spark)
    }
    assert(e2.getMessage == """row 1: column not found: "ghost"""")
  }

  test("selectColumns pushes projection; missing name errors; duplicate panics") {
    val f = tmpCsv("id,name,born\n1,Ann,1990\n")
    val df = CsvSource.fromFile(f).selectColumns("born", "id").read(spark)
    assert(df.columns.toSeq == Seq("born", "id"))
    val e = intercept[DataSourceException] {
      CsvSource.fromFile(f).selectColumns("nope").read(spark)
    }
    assert(e.getMessage == """row 1: column not found: "nope"""")
    val e2 = intercept[IllegalArgumentException] {
      CsvSource.fromFile(f).selectColumns("id", "id")
    }
    assert(e2.getMessage == "header spec: duplicate column name: id")
  }

  test("dotted header names are column names, not struct access") {
    import org.apache.spark.sql.Row
    val f = tmpCsv("id,a.b\n1,x\n")
    assert(CsvSource.fromFile(f).selectColumns("id", "a.b").read(spark).collect().toSeq ==
      Seq(Row("1", "x")))
    assert(CsvSource.fromFile(f).expectHeader(Map("id" -> 0, "a.b" -> 1))
      .read(spark).collect().toSeq == Seq(Row("1", "x")))
  }

  test("numFieldsAny right-pads short rows with empty strings (csvplus.go:1121-1124)") {
    val f = tmpCsv("a,b,c\n1,2,3\n4,5\n6\n")
    val df = CsvSource.fromFile(f).numFieldsAny().read(spark)
    val rows = df.collect().map(_.toSeq)
    assert(rows.contains(Seq("4", "5", "")))
    assert(rows.contains(Seq("6", "", "")))
  }

  test("unquoted empty fields stay \"\" — never null (all-strings contract)") {
    val f = tmpCsv("a,b\n1,\n,2\n")
    val rows = CsvSource.fromFile(f).read(spark).collect().map(_.toSeq)
    assert(rows.contains(Seq("1", "")))
    assert(rows.contains(Seq("", "2")))
  }

  test("numFields validates the RAW field count, independent of projection") {
    val f = tmpCsv("a,b,c\n1,2,3\n")
    // projecting one column of a 3-field file with numFields(3) is valid
    val ok = CsvSource.fromFile(f).selectColumns("a").numFields(3).read(spark)
    assert(ok.columns.toSeq == Seq("a") && ok.count() == 1)
    val e = intercept[DataSourceException] {
      CsvSource.fromFile(f).numFields(2).read(spark)
    }
    assert(e.getMessage.contains("wrong number of fields"))
  }

  test("empty input file yields the reference 'empty header' error") {
    val f = tmpCsv("")
    val e = intercept[DataSourceException] { CsvSource.fromFile(f).read(spark) }
    assert(e.getMessage == "row 1: empty header")
    assert(e.line == 1)
  }

  test("readNumbered: exact 1-based physical line numbers, file order reproducible") {
    val f = tmpCsv("id,name\nr2,Ann\nr3,Bob\nr4,Cey\n")
    val df = CsvSource.readNumbered(spark, f)
    assert(df.columns.toSeq == Seq("id", "name", "_lineno"))
    val rows = df.collect().map(r => r.getString(0) -> r.getLong(2)).toMap
    assert(rows == Map("r2" -> 2L, "r3" -> 3L, "r4" -> 4L)) // header = line 1
    // order-dependent ops over true file order via _lineno
    val prefix = graft.operators.Pipe(df)
      .orderBy(org.apache.spark.sql.functions.col("_lineno"))
      .takeWhile(org.apache.spark.sql.functions.col("id") =!= "r4")
      .df.collect().map(_.getString(0)).toSeq
    assert(prefix == Seq("r2", "r3"))
    // per-row validation can carry reference-style row numbers
    val e = intercept[Exception] {
      graft.operators.Pipe(df)
        .validate(org.apache.spark.sql.functions.col("id") =!= "r3",
          org.apache.spark.sql.functions.format_string(
            "row %s: forbidden id", org.apache.spark.sql.functions.col("_lineno")))
        .df.count()
    }
    assert(e.getMessage.contains("row 3: forbidden id"))
  }

  test("readNumbered handles regex-special delimiters") {
    val f = tmpCsv("id|name\n1|Ann\n")
    val df = CsvSource.readNumbered(spark, f, delimiter = '|')
    assert(df.columns.toSeq == Seq("id", "name", "_lineno"))
    assert(df.collect().head.toSeq == Seq("1", "Ann", 2L))
  }

  test("CSV write → read round-trip preserves all values (csvplus_test.go:172-196)") {
    val dir = Files.createTempDirectory("graft_rt").toString + "/out"
    Pipe(people).toCsv(dir, Seq("id", "name", "surname", "born"), singleFile = true)
    val back = CsvSource.fromFile(dir).read(spark)
    val a = people.collect().map(_.toSeq).toSet
    val b = back.collect().map(_.toSeq).toSet
    assert(a == b)
  }

  test("fromLines parses an in-memory CSV buffer (reference FromReader)") {
    val df = CsvSource.fromStrings(spark, "id,name\n1,Ann\n2,Bob", ',')
    assert(df.columns.toSeq == Seq("id", "name"))
    assert(df.collect().map(_.toSeq).toSet == Set(Seq("1", "Ann"), Seq("2", "Bob")))
    val e = intercept[DataSourceException] {
      CsvSource.fromStrings(spark, "", ',')
    }
    assert(e.getMessage == "row 1: empty header")
  }

  test("the three readers parse the same bytes alike (quotes, empty fields, ragged rows)") {
    val bytes = "id,\"a,b\",c.d\n1,\"x\"\"y\",\n\n2,,z\n" // a blank line is skipped
    val want = Set(Seq("1", "x\"y", ""), Seq("2", "", "z"))
    val f = tmpCsv(bytes)
    val read = CsvSource.fromFile(f).read(spark)
    val numbered = CsvSource.readNumbered(spark, f)
    val lines = CsvSource.fromStrings(spark, bytes.stripSuffix("\n"), ',')
    assert(read.columns.toSeq == Seq("id", "a,b", "c.d"))
    assert(numbered.columns.toSeq == Seq("id", "a,b", "c.d", "_lineno"))
    assert(lines.columns.toSeq == Seq("id", "a,b", "c.d"))
    assert(read.collect().map(_.toSeq).toSet == want)
    assert(numbered.collect().map(_.toSeq.take(3)).toSet == want)
    assert(lines.collect().map(_.toSeq).toSet == want)
    // a row wider than the header fails FAILFAST in every reader
    val ragged = "a,b\n1,2,3"
    intercept[Exception] { CsvSource.fromFile(tmpCsv(ragged)).read(spark).collect() }
    intercept[Exception] { CsvSource.readNumbered(spark, tmpCsv(ragged)).collect() }
    intercept[Exception] { CsvSource.fromStrings(spark, ragged, ',').collect() }
  }

  test("toCsv with empty column list panics (reference parity)") {
    val e = intercept[IllegalArgumentException] {
      Pipe(people).toCsv("/tmp/never", Seq.empty)
    }
    assert(e.getMessage == "empty column list in ToCsv() function")
  }

  test("multi-part directory: header verification reads the real first line") {
    // two part files, shared header — ExpectHeader/NumFields pre-flight
    // must see a header line deterministically, never a data row of an
    // arbitrary part (the old .limit(1) could surface either)
    val dir = Files.createTempDirectory("graft_csv_parts")
    Files.writeString(dir.resolve("part-00000.csv"), "id,name\n1,Ann\n")
    Files.writeString(dir.resolve("part-00001.csv"), "id,name\n2,Bob\n")
    val rows = CsvSource.fromFile(dir.toString)
      .expectHeader(Map("id" -> 0, "name" -> 1))
      .numFields(2)
      .read(spark).collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    assert(rows == Set("1" -> "Ann", "2" -> "Bob"))
  }

  test("header detection skips comment and blank lines like the parser") {
    val f = tmpCsv("# leading comment\n\nid,name\n1,Ann\n")
    val got = CsvSource.fromFile(f).commentChar('#')
      .expectHeader(Map("id" -> 0, "name" -> -1))
      .read(spark).collect()
    assert(got.length == 1 && got.head.getString(1) == "Ann")
  }

  test("multiLine parses quoted embedded newlines as one record (Go encoding/csv parity)") {
    // Go's record-oriented reader accepts "line one\nline two" as ONE
    // field (reference csvplus.go:1078-1146 delegates to it); default
    // newline-split mode cannot. multiLine() closes the gap, opt-in.
    val f = tmpCsv("id,text\n1,\"line one\nline two\"\n2,plain\n")
    val df = CsvSource.fromFile(f).multiLine().read(spark)
    assert(df.columns.toSeq == Seq("id", "text"))
    val rows = df.collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(rows.size == 2)
    assert(rows("1") == "line one\nline two")
    assert(rows("2") == "plain")
  }

  test("multiLine handles doubled-quote escapes inside multi-line fields") {
    val f = tmpCsv("id,text\n1,\"say \"\"hi\"\"\nbye\"\n")
    val row = CsvSource.fromFile(f).multiLine().read(spark).collect().head
    assert(row.getString(1) == "say \"hi\"\nbye")
  }

  test("multiLine composes with header modes and projection") {
    val f = tmpCsv("id,text,extra\n1,\"a\nb\",x\n")
    val df = CsvSource.fromFile(f).multiLine()
      .expectHeader(Map("id" -> 0, "text" -> -1))
      .selectColumns("text")
      .read(spark)
    assert(df.columns.toSeq == Seq("text"))
    assert(df.collect().head.getString(0) == "a\nb")
  }

  test("lazyQuotes divergence pins (Go LazyQuotes vs STOP_AT_CLOSING_QUOTE)") {
    // The approximation is a TESTED contract, not a comment: these
    // inputs pin exactly where univocity's STOP_AT_CLOSING_QUOTE
    // agrees with or diverges from Go encoding/csv LazyQuotes
    // (reference csvplus.go:982-987).
    // (a) stray quote in an UNQUOTED field — Go: literal `b"c`.
    val fa = tmpCsv("id,v\n1,b\"c\n")
    val va = CsvSource.fromFile(fa).lazyQuotes().read(spark)
      .collect().head.getString(1)
    assert(va == "b\"c") // agrees with Go
    // (b) bare quote INSIDE a quoted field — Go keeps it literally and
    // ends the field at the quote before EOL: `b"c`.
    val fb = tmpCsv("id,v\n1,\"b\"c\"\n")
    val vb = CsvSource.fromFile(fb).lazyQuotes().read(spark)
      .collect().head.getString(1)
    assert(vb == "b\"c") // agrees with Go
    // (c) bare quote mid-field then a delimiter — both engines treat
    // the bare quote as literal and STAY in quoted mode, so the
    // delimiter is field content and the unterminated quote at EOL is
    // tolerated: the whole tail is one field, `b"x,2`.
    val fc = tmpCsv("id,v\n1,\"b\"x,2\n")
    val vc = CsvSource.fromFile(fc).lazyQuotes().read(spark)
      .collect().head
    assert(vc.getString(1) == "b\"x,2") // agrees with Go
    // No divergence on any of these pinned inputs — the approximation
    // contract is "agrees with Go on (a)/(b)/(c); inputs beyond these
    // patterns are unspecified" (SURVEY flags no exact twin exists).
  }

  test("lazyQuotes matches the canonical Go encoding/csv LazyQuotes corpus") {
    // The LazyQuotes cases from Go's public encoding/csv reader tests
    // (the semantics csvplus.go:982-987 delegates to), pinned one by
    // one: expected values below are what `encoding/csv` with
    // LazyQuotes=true documents for each input. As of this round the
    // STOP_AT_CLOSING_QUOTE approximation agrees on the ENTIRE corpus —
    // any future univocity behavior change breaks this table loudly.
    val corpus = Seq(
      // input row         → (field1, field2)            Go rationale
      ("a \"word\",x",       "a \"word\"", "x"), // quotes in unquoted field are literal
      ("\"1\"2\",x",         "1\"2",       "x"), // bare quote inside quoted field is literal
      ("a\",x",              "a\"",        "x"), // trailing bare quote, unquoted field
      ("\"a\"\"b\",x",       "a\"b",       "x"), // RFC doubled quote still un-escapes
      ("b\"c,d",             "b\"c",       "d")  // bare quote does not open quoted mode
    )
    corpus.foreach { case (row, f1, f2) =>
      val got = CsvSource.fromFile(tmpCsv(s"c1,c2\n$row\n"))
        .lazyQuotes().read(spark).collect().head
      assert(got.getString(0) == f1 && got.getString(1) == f2,
        s"input [$row]: got [${got.getString(0)}|${got.getString(1)}], " +
          s"Go gives [$f1|$f2]")
    }
  }

  test("JSON array sink writes a single parseable array of objects") {
    val f = Files.createTempFile("graft_json", ".json").toString
    Pipe(stock).toJsonArrayFile(f)
    val content = Files.readString(java.nio.file.Paths.get(f))
    assert(content.startsWith("[") && content.endsWith("]"))
    assert(content.split("\\{").length - 1 == 8) // 8 stock objects
    assert(content.contains("\"product\":\"iPhone\""))
  }
}
