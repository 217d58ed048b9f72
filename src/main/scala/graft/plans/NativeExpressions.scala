package graft.plans

import java.lang.reflect.InvocationTargetException

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.classic.GraftShim
import org.apache.spark.sql.types._

/** The one boundary between Catalyst and the native kernels
  * (SURVEY.md §7.3 "optional later" — promoted to required once the
  * bench showed interpreted higher-order functions dominating the
  * dedup/similarity queries).
  *
  * A [[NativeCall]] is a null-safe call of one [[VectorKernels]] method:
  * `doGenCode` emits a single static invocation, so the call lives
  * inside whole-stage codegen like any built-in, and the per-element
  * loops run as monomorphic JVM code instead of interpreted lambda
  * dispatch. Each kernel is one line in [[native]]; adding a kernel
  * needs no new expression class.
  */

/** `graft.plans.VectorKernels.<kernel>(args)`; null when any child is
  * null. `args` lists the method's parameters in declared order: the
  * children's values in order, `isFloat` flags read from a child's
  * resolved type, and plan constants — ints and longs are inlined,
  * `String`s and `double[]`/`byte[]`/`String[]` matrices, bitsets and
  * vocabularies ride the plan as reference objects (broadcast once with
  * the serialized plan, so code size stays independent of their
  * length). Renders as `kernel(children…, constants…)`. */
case class NativeCall(
    kernel: String,
    dataType: DataType,
    children: Seq[Expression],
    args: Seq[NativeCall.Arg]) extends Expression {
  import NativeCall._

  override def prettyName: String = kernel
  override def foldable: Boolean = children.forall(_.foldable)
  override def nullable: Boolean = children.exists(_.nullable)
  override protected def stringArgs: Iterator[Any] =
    children.iterator ++ args.iterator.collect { case Const(v) => v }

  private def isFloat(i: Int): Boolean = children(i).dataType match {
    case ArrayType(FloatType, _) => true
    case _                       => false
  }

  /** Kernel names are not overloaded, so the name picks the method. */
  @transient private lazy val method = VectorKernels.getClass.getMethods
    .find(_.getName == kernel)
    .getOrElse(throw new IllegalArgumentException(s"no kernel VectorKernels.$kernel"))

  override def eval(input: InternalRow): Any = {
    val values = children.map(_.eval(input))
    if (values.contains(null)) return null
    val next = values.iterator
    val params = args.map {
      case Col        => next.next()
      case IsFloat(i) => isFloat(i)
      case Const(v)   => v
    }
    try method.invoke(VectorKernels, params.map(_.asInstanceOf[AnyRef]): _*)
    catch { case e: InvocationTargetException => throw e.getCause }
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    // constants are registered before the children generate, keeping
    // reference and variable numbering stable
    val fixed: Seq[Option[String]] = args.map {
      case Col             => None
      case IsFloat(i)      => Some(isFloat(i).toString)
      case Const(v: Int)   => Some(v.toString)
      case Const(v: Long)  => Some(s"${v}L")
      case Const(v)        => Some(ctx.addReferenceObj(kernel, v, v.getClass.getCanonicalName))
    }
    val gens = children.map(_.genCode(ctx))
    val values = gens.iterator.map(_.value.toString)
    val call = s"${ev.value} = graft.plans.VectorKernels.$kernel(" +
      fixed.map(_.getOrElse(values.next())).mkString(", ") + ");"
    val decl = s"${CodeGenerator.javaType(dataType)} ${ev.value} = " +
      s"${CodeGenerator.defaultValue(dataType)};"
    if (!nullable) {
      ev.copy(code = code"""
        ${gens.map(_.code.toString).mkString("\n")}
        $decl
        $call""", isNull = FalseLiteral)
    } else if (gens.length == 1) {
      // the null-safe layout of Spark's UnaryExpression
      val g = gens.head
      ev.copy(code = code"""
        ${g.code}
        boolean ${ev.isNull} = ${g.isNull};
        $decl
        ${ctx.nullSafeExec(children.head.nullable, g.isNull)(call)}
      """)
    } else {
      // the null-safe layout of Spark's BinaryExpression: each child
      // is evaluated only once the ones before it are non-null
      val body = children.zip(gens).foldRight(
        s"\n${ev.isNull} = false; // resultCode could change nullability.\n$call\n") {
        case ((c, g), inner) => s"${g.code}" + ctx.nullSafeExec(c.nullable, g.isNull)(inner)
      }
      ev.copy(code = code"""
        boolean ${ev.isNull} = true;
        $decl
        $body
      """)
    }
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): NativeCall = copy(children = newChildren)
}

object NativeCall {
  /** One kernel parameter. */
  sealed trait Arg
  /** The next child's value. */
  case object Col extends Arg
  /** `true` when child `i` resolves to `array<float>` (else double). */
  final case class IsFloat(i: Int) extends Arg
  /** A plan constant: Int, Long, String, Array[Double], Array[Byte] or
    * Array[String]. */
  final case class Const(v: Any) extends Arg
}

/** Column-API entry points for the native kernels. Each checks its
  * plan constants and builds one [[NativeCall]]. */
object native {
  private final case class FloatOf(col: Column)

  /** `VectorKernels.<kernel>(params)`: a Column param is a child, an
    * `isFloat(c)` param that child's element-type flag, any other a
    * plan constant. */
  private def call(kernel: String, dataType: DataType, params: Any*): Column = {
    val cols = params.collect { case c: Column => c }
    val args = params.map {
      case _: Column  => NativeCall.Col
      case FloatOf(c) => NativeCall.IsFloat(cols.indexWhere(_ eq c))
      case v          => NativeCall.Const(v)
    }
    GraftShim.column(NativeCall(kernel, dataType, cols.map(GraftShim.expression), args))
  }
  private def isFloat(c: Column) = FloatOf(c)

  private def arrayOf(t: DataType) = ArrayType(t, containsNull = false)
  private val Longs = arrayOf(LongType)
  private val Ints = arrayOf(IntegerType)
  private val Doubles = arrayOf(DoubleType)
  private val Strings = arrayOf(StringType)

  private def requireTiles(fn: String, cents: Array[Double], rows: Int, what: String): Unit =
    require(cents.nonEmpty && cents.length % rows == 0,
      s"$fn: ${cents.length} values do not tile $what")
  private def requirePacked(fn: String, m: Int, k: Int): Unit =
    require(m > 0 && m <= 16 && k > 0 && k <= 16,
      s"$fn: packed codes need 1 <= m,k <= 16, got m=$m k=$k")

  /** string text → array<long> distinct word n-gram shingle hashes. */
  def shingleHashes(text: Column, n: Int): Column = {
    require(n > 0, s"shingleHashes: n must be positive, got $n")
    call("shingleHashes", Longs, text, n)
  }
  /** string text → array<long> occurrence-expanded shingle hashes (the
    * k-th occurrence of a gram hashes distinctly, so set Jaccard over
    * them is weighted multiset Jaccard). */
  def shingleHashesWeighted(text: Column, n: Int): Column = {
    require(n > 0, s"shingleHashesWeighted: n must be positive, got $n")
    call("shingleHashesWeighted", Longs, text, n)
  }
  /** array<string> lower-cased tokens → string language code. */
  def langId(tokens: Column): Column = call("langId", StringType, tokens)
  /** array<long> shingle hashes → array<long> MinHash signature. */
  def minhashSig(shingleHashes: Column, numPerm: Int): Column = {
    require(numPerm > 0, s"minhashSig: numPerm must be positive, got $numPerm")
    call("minhash", Longs, shingleHashes, numPerm)
  }
  /** array<string> tokens → long SimHash. */
  def simhash64(tokens: Column): Column = call("simhash", LongType, tokens)
  /** string text → array<long> [nTokens, totalGrams, distinctGrams]. */
  def repetitionStats(text: Column, n: Int): Column = {
    require(n > 0, s"repetitionStats: n must be positive, got $n")
    call("repetitionStats", Longs, text, n)
  }
  /** string text → array<string> word n-grams (single-space joined). */
  def wordNgrams(text: Column, n: Int): Column = {
    require(n > 0, s"wordNgrams: n must be positive, got $n")
    call("wordNgramStrings", Strings, text, n)
  }
  /** (array<long>, array<long>) → int count of agreeing positions. */
  def sigEqCount(a: Column, b: Column): Column = call("eqCount", IntegerType, a, b)
  /** (long num, long den) → long fixed-point log2(num/den) in units of
    * 2⁻³⁰, bit-reproducible on any engine. */
  def log2Fix(num: Column, den: Column): Column = call("log2Fix", LongType, num, den)
  /** (array<float|double>, array<float|double>) → double cosine; each
    * side is read by its own element type, dimension mismatch throws. */
  def cosineSim(a: Column, b: Column): Column =
    call("cosine", DoubleType, a, isFloat(a), b, isFloat(b))
  /** array<float|double> → long hyperplane-LSH signature; `seed` picks
    * an independent plane set (0 = the original planes). */
  def hyperplaneSig(v: Column, bits: Int, seed: Long = 0L): Column =
    call("hyperplaneSig", LongType, v, bits, isFloat(v), seed)
  /** long key-hash → boolean bloom membership against a plan-carried
    * bitset. */
  def bloomMightContain(keyHash: Column, bits: Array[Byte], k: Int): Column = {
    require(bits.nonEmpty && (bits.length & (bits.length - 1)) == 0,
      s"bloomMightContain: bitset length must be a power of two, got ${bits.length}")
    require(k > 0, s"bloomMightContain: k must be positive, got $k")
    call("bloomMightContain", BooleanType, bits, keyHash, k)
  }
  /** array<float|double> → int 1-based id of its max-cosine centroid
    * (ties → smallest id) in a row-major k × dim matrix. */
  def nearestCentroid(v: Column, cents: Array[Double], k: Int): Column = {
    require(k > 0, s"nearestCentroid: k must be positive, got $k")
    requireTiles("nearestCentroid", cents, k, s"k=$k rows")
    call("nearestCentroid", IntegerType, cents, k, v, isFloat(v))
  }
  /** array<float|double> → array<int> its `nprobe` nearest centroid
    * ids, best first. */
  def nearestCentroids(v: Column, cents: Array[Double], k: Int, nprobe: Int): Column = {
    require(k > 0, s"nearestCentroids: k must be positive, got $k")
    require(nprobe > 0, s"nearestCentroids: nprobe must be positive, got $nprobe")
    requireTiles("nearestCentroids", cents, k, s"k=$k rows")
    call("nearestCentroids", Ints, cents, k, nprobe, v, isFloat(v))
  }
  /** array<float|double> → array<double> unit-normalized (zero vectors
    * pass through). */
  def l2Normalize(v: Column): Column = call("l2Normalize", Doubles, v, isFloat(v))
  /** array<float|double> → array<int> of m 1-based PQ codes. */
  def pqEncode(v: Column, cents: Array[Double], m: Int, k: Int): Column = {
    require(m > 0 && k > 0, s"pqEncode: m and k must be positive, got m=$m k=$k")
    requireTiles("pqEncode", cents, m * k, s"m=$m × k=$k rows")
    call("pqEncode", Ints, cents, m, k, v, isFloat(v))
  }
  /** (array<int> PQ codes, array<float|double> probe) → double ADC dot. */
  def pqAdc(codes: Column, probe: Column, cents: Array[Double], m: Int, k: Int): Column = {
    require(m > 0 && k > 0, s"pqAdc: m and k must be positive, got m=$m k=$k")
    requireTiles("pqAdc", cents, m * k, s"m=$m × k=$k rows")
    call("pqAdc", DoubleType, cents, m, k, codes, probe, isFloat(probe))
  }
  /** array<float|double> → long: all m 4-bit PQ codes in one word. */
  def pqEncodePacked(v: Column, cents: Array[Double], m: Int, k: Int): Column = {
    requirePacked("pqEncodePacked", m, k)
    requireTiles("pqEncodePacked", cents, m * k, s"m=$m × k=$k rows")
    call("pqEncodePacked", LongType, cents, m, k, v, isFloat(v))
  }
  /** (long packed codes, array<float|double> probe) → double ADC dot. */
  def pqAdcPacked(packed: Column, probe: Column, cents: Array[Double], m: Int, k: Int): Column = {
    requirePacked("pqAdcPacked", m, k)
    requireTiles("pqAdcPacked", cents, m * k, s"m=$m × k=$k rows")
    call("pqAdcPacked", DoubleType, cents, m, k, packed, probe, isFloat(probe))
  }
  /** string → Unicode-normalized string, `form` NFC | NFD | NFKC | NFKD. */
  def unicodeNormalize(text: Column, form: String): Column = {
    val code = Seq("NFC", "NFD", "NFKC", "NFKD").indexOf(form)
    require(code >= 0, s"unicodeNormalize: form must be NFC|NFD|NFKC|NFKD, got '$form'")
    call("normalize", StringType, text, code)
  }
  /** array<long> non-negative values → long Z-order interleave of the
    * low `bits` bits of each. */
  def zValue(vals: Column, bits: Int): Column = {
    require(bits > 0 && bits <= 63, s"zValue: bits must be in 1..63, got $bits")
    call("zValue", LongType, vals, bits)
  }
  /** string text → double deflate ratio (compressed/raw; empty → 1.0). */
  def deflateRatio(text: Column): Column = call("deflateRatio", DoubleType, text)
  /** string → array<int> hashed adjacent-token bigram buckets (DSIR). */
  def hashedBigramBuckets(text: Column, buckets: Int): Column = {
    require(buckets > 0, s"hashedBigramBuckets: buckets must be positive, got $buckets")
    call("hashedBigramBuckets", Ints, text, buckets)
  }
  /** array<float|double> → array<double> sign random projection. */
  def signProject(v: Column, outDim: Int, seed: Long = 0L): Column = {
    require(outDim > 0, s"signProject: outDim must be positive, got $outDim")
    call("signProject", Doubles, v, outDim, seed, isFloat(v))
  }
  /** string → array<string> all char n-grams of each whitespace word. */
  def charNgramsByWord(text: Column, minLen: Int, maxLen: Int): Column = {
    require(1 <= minLen && minLen <= maxLen,
      s"charNgramsByWord: need 1 <= minLen <= maxLen, got [$minLen, $maxLen]")
    call("charNgramsByWord", Strings, text, minLen, maxLen)
  }
  /** string word → -joined per-code-point BPE symbol state. */
  def bpeInitSymbols(word: Column): Column = call("bpeInitSymbols", StringType, word)
  /** One leftmost-greedy BPE merge round (a, b) → a||b. */
  def bpeMergeStep(state: Column, a: String, b: String): Column = {
    require(a.nonEmpty && b.nonEmpty, "BPE merge pair symbols must be non-empty")
    call("bpeMergeStep", StringType, state, a, b)
  }
  /** string text → array<string> BPE subtokens under a trained merge
    * list of flattened (a, b) pairs. */
  def bpeApply(text: Column, mergePairs: Array[String]): Column = {
    require(mergePairs.length % 2 == 0,
      s"mergePairs must be flattened (a, b) pairs; got ${mergePairs.length} entries")
    call("bpeApplyAll", Strings, text, mergePairs)
  }
  /** (long id, string text) → text with deterministically dropped words. */
  def wordDropout(id: Column, text: Column, threshold: Long, seed: Long): Column =
    call("wordDropout", StringType, id, text, threshold, seed)
  /** (long id, string text) → block-deterministic span-corrupted text. */
  def spanCorrupt(id: Column, text: Column, blockLen: Int,
      threshold: Long, seed: Long): Column = {
    require(blockLen >= 1, s"spanCorrupt: blockLen must be >= 1, got $blockLen")
    call("spanCorrupt", StringType, id, text, blockLen, threshold, seed)
  }
  /** string → array<string> greedy longest-match subword tokens. */
  def greedySubTokens(text: Column, vocab: Array[String]): Column =
    call("greedySubTokens", Strings, text, vocab)
  /** string text → array<long> winnowing fingerprints (pos·2^31 + hash). */
  def winnow(text: Column, k: Int, w: Int): Column = {
    require(k > 0, s"winnow: k must be positive, got $k")
    require(w > 0, s"winnow: w must be positive, got $w")
    call("winnow", Longs, text, k, w)
  }
  /** string → array<string> FastSS deletion neighborhood (≤ maxDist
    * code-point deletions, incl. the string itself, distinct). */
  def deletionVariants(text: Column, maxDist: Int): Column = {
    require(maxDist >= 0, s"deletionVariants: maxDist must be >= 0, got $maxDist")
    call("deletionVariants", Strings, text, maxDist)
  }
}
