package graft

import graft.operators.{Index, Pipe}
import graft.plans.LocalProbeJoin

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.expressions.InSet
import org.apache.spark.sql.catalyst.plans.logical.{Filter, Generate, Join, LogicalPlan}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** `LocalProbeJoin` changes plans, never answers: every case runs with
  * the rule and again with it in Spark's own
  * `spark.sql.optimizer.excludedRules`, and the sorted rows must agree.
  * Each case also pins which plan the rule left behind. */
class LocalProbeJoinSpec extends GraftSpec {

  private val ExcludedRules = "spark.sql.optimizer.excludedRules"

  private def withoutRule[T](body: => T): T = {
    val prev = spark.conf.getOption(ExcludedRules)
    spark.conf.set(ExcludedRules, LocalProbeJoin.ruleName)
    try body finally prev.fold(spark.conf.unset(ExcludedRules))(spark.conf.set(ExcludedRules, _))
  }

  private def sortedRows(df: DataFrame): Seq[String] =
    df.collect().map(_.toSeq.map(String.valueOf).mkString("|")).toSeq.sorted

  private sealed trait Shape
  private case object Generated extends Shape // join gone: Generate over an InSet filter
  private case object Prefiltered extends Shape // join kept, InSet on its right side
  private case object Untouched extends Shape

  private def shapeOf(p: LogicalPlan): Shape = {
    val inSet = p.exists {
      case Filter(c, _) => c.exists(_.isInstanceOf[InSet])
      case _ => false
    }
    if (p.exists(_.isInstanceOf[Generate]) && !p.exists(_.isInstanceOf[Join])) Generated
    else if (inSet) Prefiltered
    else Untouched
  }

  /** Rows with the rule equal rows without it; `q` is re-planned each
    * time. Returns the row count. */
  private def same(want: Shape)(q: => DataFrame): Int = {
    val on = q
    assert(shapeOf(on.queryExecution.optimizedPlan) == want,
      on.queryExecution.optimizedPlan.toString)
    val got = sortedRows(on)
    val ref = withoutRule {
      val off = q
      assert(shapeOf(off.queryExecution.optimizedPlan) == Untouched)
      sortedRows(off)
    }
    assert(got == ref)
    got.length
  }

  // 3,000 rows over 300 keys, 10 rows a key; (k, j) unique
  private lazy val rows: DataFrame = spark.range(0, 3000).select(
    concat(lit("c"), (col("id") % 300).cast("string")).as("k"),
    (col("id") / 300).cast("int").as("j"),
    col("id").as("v"),
    (col("id") % 7).cast("double").as("d"))
  private lazy val cachedIdx = Index.build(rows, Seq("k", "j"), unique = true,
    broadcastHint = false).cached()
  private lazy val bcastIdx = Index.indexOn(rows, "k", "j")

  private val keySchema = StructType(Seq(StructField("k", StringType)))
  private def probe(keys: String*): Pipe =
    Pipe.takeRows(spark, keys.map(Row(_)), keySchema)

  test("null, duplicate and absent probe keys: inner join becomes a generate") {
    Seq(cachedIdx, bcastIdx).foreach { idx =>
      val n = same(Generated) {
        probe("c1", null, "c2", "c2", "nope", "c299").join(idx, "k").df
      }
      assert(n == 40) // c1, c2 twice, c299; the null and "nope" match nothing
    }
  }

  test("an empty probe and an all-null probe return nothing") {
    // both fold to an empty relation before any join is planned
    assert(same(Untouched)(probe().join(cachedIdx, "k").df) == 0)
    assert(same(Untouched)(probe(null, null).join(cachedIdx, "k").df) == 0)
  }

  test("two-column prefix join looks up a struct key") {
    val schema = StructType(Seq(StructField("k", StringType), StructField("j", IntegerType)))
    val n = same(Generated) {
      Pipe.takeRows(spark, Seq(Row("c1", 0), Row("c1", 3), Row("c5", 0),
        Row("c5", null), Row("c1", 3), Row("zz", 1)), schema)
        .join(cachedIdx, "k", "j").df
    }
    assert(n == 4)
  }

  test("probe columns that collide with index columns win") {
    val schema = StructType(Seq(StructField("k", StringType), StructField("v", LongType)))
    def q = Pipe.takeRows(spark, Seq(Row("c7", -1L), Row("c8", null)), schema)
      .join(bcastIdx, "k").df
    assert(same(Generated)(q) == 20)
    assert(q.filter(col("k") === "c7").select("v").distinct().collect().toSeq == Seq(Row(-1L)))
  }

  test("except keeps the anti join and prefilters the index by the probe keys") {
    Seq(cachedIdx, bcastIdx).foreach { idx =>
      val n = same(Prefiltered) {
        probe("c1", null, "nope", "nope", "c3").except(idx, "k").df
      }
      assert(n == 3) // null and both "nope"
    }
  }

  test("SQL VALUES inner join with a non-equi condition") {
    rows.createOrReplaceTempView("lpj_rows")
    val n = same(Generated) {
      spark.sql(
        """SELECT * FROM VALUES ('c1', 5L), ('c2', 1000L), ('c2', 1000L), (NULL, 9L)
          |AS p(pk, lim) JOIN lpj_rows r ON p.pk = r.k AND r.v < p.lim""".stripMargin)
    }
    assert(n == 1 + 2 * 4) // c1: v=1; c2: v in {2, 302, 602, 902}, twice
  }

  test("a probe above the key cap keeps its join, unfiltered") {
    val many = (0 until LocalProbeJoin.MaxMapKeys + 1).map(i => s"c$i")
    assert(same(Untouched)(probe(many: _*).join(cachedIdx, "k").df) == 3000)
    assert(same(Untouched)(probe(many: _*).except(cachedIdx, "k").df) == 725)
  }

  test("a double-typed key is not rewritten") {
    val schema = StructType(Seq(StructField("d", DoubleType)))
    val idx = Index.build(rows, Seq("d"), unique = false, broadcastHint = false)
    val n = same(Untouched) {
      Pipe.takeRows(spark, Seq(Row(1.0), Row(-0.0), Row(Double.NaN)), schema).join(idx, "d").df
    }
    assert(n == 2 * 429) // -0.0 matches the 429 rows of d = 0; 1.0 the 429 of d = 1
  }
}
