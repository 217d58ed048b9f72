package graft

import graft.plans.native

import org.apache.spark.sql.{Column, Row}
import org.apache.spark.sql.execution.{ExplainMode, WholeStageCodegenExec}
import org.apache.spark.sql.execution.debug.codegenString
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The one Catalyst boundary into [[graft.plans.VectorKernels]]: every
  * `native.*` kernel gives the same rows through generated code and
  * through interpreted `eval`, the generated code calls the kernels
  * directly, and plan constants render short. */
class NativeCallSpec extends GraftSpec {

  // an RDD-backed frame (not a LocalRelation, whose projections the
  // optimizer would fold interpreted) with a null row and both vector
  // element types
  private def frame = spark.createDataFrame(spark.sparkContext.parallelize(Seq(
    Row(1L, "the cat sat on the mat", Seq("the", "cat"), Seq(1f, 0f, 2f, 1f),
      Seq(0.5, 1.0, 0.0, 2.0), Seq(1L, 2L, 3L)),
    Row(2L, "ab ba abab ba", Seq("ab"), Seq(0f, 1f, 0f, 1f),
      Seq(1.0, 1.0, 1.0, 1.0), Seq(3L, 2L, 1L)),
    Row(null, null, null, null, null, null)), 1),
    StructType(Seq(
      StructField("id", LongType), StructField("text", StringType),
      StructField("toks", ArrayType(StringType)), StructField("f", ArrayType(FloatType)),
      StructField("d", ArrayType(DoubleType)), StructField("h", ArrayType(LongType)))))

  private val cents = Array(1.0, 0.0, 0.0, 0.0, 0.0, 1.0, 0.0, 0.0)

  private def everyKernel: Seq[Column] = {
    val (id, text, toks, f, d, h) =
      (col("id"), col("text"), col("toks"), col("f"), col("d"), col("h"))
    val bits = Array.tabulate[Byte](64)(i => (i * 37).toByte)
    Seq(
      native.shingleHashes(text, 2),
      native.shingleHashesWeighted(text, 2),
      native.langId(toks),
      native.minhashSig(native.shingleHashes(text, 2), 8),
      native.simhash64(toks),
      native.repetitionStats(text, 2),
      native.wordNgrams(text, 2),
      native.sigEqCount(h, reverse(h)),
      native.log2Fix(id + 1, id + 2),
      native.cosineSim(f, d),
      native.hyperplaneSig(f, 8, 1L),
      native.bloomMightContain(id, bits, 3),
      native.nearestCentroid(d, cents, 2),
      native.nearestCentroids(f, cents, 2, 2),
      native.l2Normalize(f),
      native.pqEncode(d, cents, 2, 2),
      native.pqAdc(native.pqEncode(d, cents, 2, 2), f, cents, 2, 2),
      native.pqEncodePacked(d, cents, 2, 2),
      native.pqAdcPacked(native.pqEncodePacked(d, cents, 2, 2), f, cents, 2, 2),
      native.unicodeNormalize(text, "NFKC"),
      native.zValue(h, 8),
      native.deflateRatio(text),
      native.hashedBigramBuckets(text, 16),
      native.signProject(d, 4, 7L),
      native.charNgramsByWord(text, 2, 3),
      native.bpeInitSymbols(text),
      native.bpeMergeStep(native.bpeInitSymbols(text), "a", "b"),
      native.bpeApply(text, Array("a", "b")),
      native.wordDropout(id, text, 1L << 62, 3L),
      native.spanCorrupt(id, text, 2, 1L << 62, 3L),
      native.greedySubTokens(text, Array("ca", "t", "sat")),
      native.winnow(text, 3, 2),
      native.deletionVariants(text, 1)
    ).zipWithIndex.map { case (c, i) => c.as(s"k$i") }
  }

  private def withConf[T](kv: (String, String)*)(body: => T): T = {
    val before = kv.map { case (k, _) => k -> spark.conf.getOption(k) }
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally before.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }

  test("every native kernel gives the same rows codegen'd and interpreted") {
    val q = frame.select(col("id") +: everyKernel: _*)
    val generated = q.collect().sortBy(r => Option(r.get(0)).map(_.toString).getOrElse(""))
    val interpreted = withConf(
        "spark.sql.codegen.wholeStage" -> "false",
        "spark.sql.codegen.factoryMode" -> "NO_CODEGEN") {
      val qi = frame.select(col("id") +: everyKernel: _*)
      assert(!qi.queryExecution.executedPlan.exists(_.isInstanceOf[WholeStageCodegenExec]))
      qi.collect().sortBy(r => Option(r.get(0)).map(_.toString).getOrElse(""))
    }
    assert(generated.length == 3)
    assert(generated.exists(_.toSeq.forall(_ == null)), "the null row stays null")
    generated.zip(interpreted).foreach { case (g, i) =>
      g.toSeq.zip(i.toSeq).zipWithIndex.foreach { case ((a, b), k) =>
        assert(a == b, s"column $k differs: codegen $a, interpreted $b")
      }
    }
  }

  test("whole-stage generated code calls the kernels directly") {
    val q = frame
      .select(native.minhashSig(native.shingleHashes(col("text"), 2), 8).as("sig"))
      .select(native.sigEqCount(col("sig"), col("sig")).as("eq"))
    val code = codegenString(q.queryExecution.executedPlan)
    Seq("shingleHashes", "minhash", "eqCount").foreach { k =>
      assert(code.contains(s"graft.plans.VectorKernels.$k("), s"no direct $k call:\n$code")
    }
    assert(q.collect().map(r => Option(r.get(0))).toSet == Set(Some(8), None))
  }

  test("a 1 MiB bloom bitset renders a short plan") {
    val bits = new Array[Byte](1 << 20)
    val q = frame.where(native.bloomMightContain(xxhash64(col("text")), bits, 3))
    val plan = q.queryExecution.explainString(ExplainMode.fromString("formatted"))
    assert(plan.contains("bloomMightContain("), plan)
    assert(plan.length < 2048, s"${plan.length} chars:\n${plan.take(4096)}")
  }
}
