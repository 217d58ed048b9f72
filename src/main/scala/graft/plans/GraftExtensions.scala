package graft.plans

import org.apache.spark.sql.{Column, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.optimizer.ConvertToLocalRelation
import org.apache.spark.sql.catalyst.plans.{Inner, LeftAnti, LeftSemi}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, Generate, Join, LocalRelation, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.util.{ArrayBasedMapData, GenericArrayData}
import org.apache.spark.sql.classic.GraftShim
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Catalyst extension point (`spark.sql.extensions=graft.plans.
  * GraftExtensions`): two optimizer rules plus SQL registration of the
  * native kernels, wired the way a production library ships them —
  * nothing here changes query semantics, only plans.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectOptimizerRule(_ => LevenshteinBandPrefilter)
    ext.injectPreCBORule(_ => LocalProbeJoin)
    GraftSqlFunctions.all.foreach(ext.injectFunction)
  }
}

/** Rewrite `levenshtein(col, 'lit') <= k` filters to evaluate a cheap
  * length-band first: `|length(col) - length('lit')| <= k` is a lower
  * bound on edit distance, costs O(1) per row against the O(n·m)
  * dynamic program, and — referencing a single attribute — can be
  * pushed through joins independently by the existing pushdown rules.
  * The band is only ADDED (conjunction), so semantics are unchanged;
  * idempotent under the fixpoint optimizer via a semantic-equality
  * guard. */
object LevenshteinBandPrefilter extends Rule[LogicalPlan] with PredicateHelper {

  private def bandFor(conjunct: Expression): Option[Expression] = {
    def mk(lev: Levenshtein, k: Expression): Option[Expression] = {
      // the 3-arg levenshtein(a, b, threshold) form returns -1 when the
      // distance exceeds the threshold — `-1 <= k` keeps rows the band
      // would drop, so the rewrite is only sound for the 2-arg form
      if (lev.threshold.isDefined) return None
      val (strLit, other) = (lev.left, lev.right) match {
        case (l @ Literal(_: UTF8String, StringType), o) => (l, o)
        case (o, l @ Literal(_: UTF8String, StringType)) => (l, o)
        case _ => return None
      }
      Some(LessThanOrEqual(Abs(Subtract(Length(other), Length(strLit))), k))
    }
    conjunct match {
      case LessThanOrEqual(lev: Levenshtein, k @ Literal(_, IntegerType)) => mk(lev, k)
      case LessThan(lev: Levenshtein, k @ Literal(_, IntegerType))        => mk(lev, k)
      case GreaterThanOrEqual(k @ Literal(_, IntegerType), lev: Levenshtein) => mk(lev, k)
      case GreaterThan(k @ Literal(_, IntegerType), lev: Levenshtein)        => mk(lev, k)
      case _ => None
    }
  }

  override def apply(plan: LogicalPlan): LogicalPlan = plan transform {
    case f @ Filter(cond, child) =>
      val conjuncts = splitConjunctivePredicates(cond)
      val bands = conjuncts.flatMap(bandFor)
        .filterNot(b => conjuncts.exists(_.semanticEquals(b)))
      if (bands.isEmpty) f
      else Filter((bands ++ conjuncts).reduce(And), child)
  }
}

/** Equi-joins whose left side, the probe, is a [[LocalRelation]]: its
  * rows are known at plan time, so the other side is first filtered by
  * the probe's keys (`InSet`, which reaches the scan: the in-memory
  * scan of a cached index, a parquet source's pushed filters). An inner
  * join is then no join at all: each surviving row looks its key up in
  * a map literal of the probe rows and `inline`s them —
  * {{{
  * Project(left ++ right, Generate(Inline(GetMapValue(map, rKey)),
  *   generatorOutput = left, Filter(InSet(rKey, keys), right)))
  * }}}
  * — so the probe costs a filtered scan, with no broadcast stage. This
  * is the reference's per-probe-row lookup (csvplus.go:539-569).
  * Semi and anti joins keep the join and gain only the filter. A probe
  * of more than [[MaxMapKeys]] distinct keys is left alone.
  *
  * Fires only on bare-attribute `EqualTo` keys of a type whose
  * equality is its binary value (UTF8_BINARY strings, integrals,
  * dates, timestamps; not floats, whose joins normalise NaN and -0.0,
  * nor collated strings). Null probe keys never match and are dropped;
  * duplicate probe rows each generate their own row; non-equi
  * conjuncts filter the generated rows; a multi-column key looks up a
  * struct-keyed map, prefiltered by one `InSet` per column. Runs once,
  * before cost-based reordering, after the predicates have settled. */
object LocalProbeJoin extends Rule[LogicalPlan] with PredicateHelper {

  /** `GetMapValue` scans the map keys linearly, so the generate costs
    * keys × matched rows, and the `InSet` filter's planning cost grows
    * with its keys too. Against a 240k-row cached index on local[4]
    * the generate beat the hash join up to 1,024 probe keys and lost
    * from 1,536; a filter-only inner join already lost at 1,024. Above
    * the cap the plan is left as it is. */
  private[graft] val MaxMapKeys = 1024

  private def binaryEquality(dt: DataType): Boolean = dt match {
    case StringType => true // equal only to the UTF8_BINARY collation
    case ByteType | ShortType | IntegerType | LongType |
         DateType | TimestampType | TimestampNTZType => true
    case _ => false
  }

  /** The probe's rows, folding the filters and projections that the
    * optimizer has stacked on a local relation (`isnotnull` on the join
    * keys, pruned columns) the way Spark's own later batch would. */
  private object LocalProbe {
    def unapply(p: LogicalPlan): Option[LocalRelation] = ConvertToLocalRelation(p) match {
      case l: LocalRelation if l.data.nonEmpty => Some(l)
      case _ => None
    }
  }

  override def apply(plan: LogicalPlan): LogicalPlan = plan transformUp {
    case j @ Join(LocalProbe(local), right, jt @ (Inner | LeftSemi | LeftAnti), Some(cond), _)
        if !j.isStreaming =>
      def on(e: Expression, side: LogicalPlan) =
        e.references.nonEmpty && e.references.subsetOf(side.outputSet)
      val (keyConds, rest) = splitConjunctivePredicates(cond).partition {
        case e @ (_: EqualTo | _: EqualNullSafe) =>
          val Seq(a, b) = e.children
          (on(a, local) && on(b, right)) || (on(a, right) && on(b, local))
        case _ => false
      }
      val pairs = keyConds.collect {
        case EqualTo(l: Attribute, r: Attribute) if local.outputSet.contains(l) => (l, r)
        case EqualTo(r: Attribute, l: Attribute) if local.outputSet.contains(l) => (l, r)
      }.filter { case (l, r) => l.dataType == r.dataType && binaryEquality(l.dataType) }
      if (pairs.isEmpty || pairs.length != keyConds.length) j
      else rewrite(j, local, right, jt == Inner, pairs, rest)
  }

  private def rewrite(j: Join, local: LocalRelation, right: LogicalPlan, inner: Boolean,
                      pairs: Seq[(Attribute, Attribute)], rest: Seq[Expression]): LogicalPlan = {
    val ords = pairs.map { case (l, _) => local.output.indexWhere(_.exprId == l.exprId) }
    val keyed = local.data.map(_.copy()).flatMap { row =>
      val key = pairs.zip(ords).map { case ((l, _), o) => row.get(o, l.dataType) }
      if (key.contains(null)) None else Some(key -> row)
    }
    val rowsOf = keyed.groupMap(_._1)(_._2)
    val byKey = keyed.map(_._1).distinct.map(k => k -> rowsOf(k))
    if (byKey.length > MaxMapKeys) return j
    val inSets = pairs.indices.map { i =>
      InSet(pairs(i)._2, byKey.map(_._1(i)).toSet)
    }
    val filtered = right match {
      case Filter(c, _) if inSets.forall(s =>
          splitConjunctivePredicates(c).exists(_.semanticEquals(s))) => right
      case _ => Filter(inSets.reduce(And), right)
    }
    if (!inner) return j.copy(left = local, right = filtered)

    val lookupKey = pairs match {
      case Seq((_, r)) => r
      case _ => CreateStruct(pairs.map(_._2))
    }
    val rowType = StructType(local.output.map(a =>
      StructField(a.name, a.dataType, a.nullable)))
    val mapType = MapType(lookupKey.dataType,
      ArrayType(rowType, containsNull = false), valueContainsNull = false)
    val mapKeys = byKey.map { case (k, _) =>
      if (pairs.length == 1) k.head else InternalRow.fromSeq(k)
    }
    val mapLit = Literal(new ArrayBasedMapData(new GenericArrayData(mapKeys),
      new GenericArrayData(byKey.map { case (_, rows) => new GenericArrayData(rows) })),
      mapType)
    val generated = Generate(Inline(GetMapValue(mapLit, lookupKey)),
      unrequiredChildIndex = Nil, outer = false, qualifier = None,
      generatorOutput = local.output, child = filtered)
    val checked = if (rest.isEmpty) generated else Filter(rest.reduce(And), generated)
    Project(local.output ++ right.output, checked)
  }
}

/** The native kernels as SQL functions, so `spark.sql` users get the
  * same codegen'd one-pass implementations as the Column API. Each is
  * built through [[native]], which checks the constants. */
object GraftSqlFunctions {

  private type FB = Seq[Expression] => Expression

  private def intLit(e: Expression, fn: String, arg: String): Int = e match {
    case Literal(i: Int, IntegerType) => i
    case other => throw new IllegalArgumentException(
      s"$fn: $arg must be an integer literal, got $other")
  }

  private def strLit(e: Expression, fn: String, arg: String): String = e match {
    case Literal(s: org.apache.spark.unsafe.types.UTF8String, StringType) if s != null =>
      s.toString
    case other => throw new IllegalArgumentException(
      s"$fn: $arg must be a string literal, got $other")
  }

  private def c(e: Expression): Column = GraftShim.column(e)

  private def f(name: String, usage: String, arity: Int)(b: Seq[Expression] => Column) = (
    FunctionIdentifier(name),
    new ExpressionInfo("graft.plans.GraftSqlFunctions", null, name, usage, ""),
    (args: Seq[Expression]) => {
      require(args.length == arity,
        s"$name expects $arity arguments, got ${args.length}")
      GraftShim.expression(b(args))
    })

  val all: Seq[(FunctionIdentifier, ExpressionInfo, FB)] = Seq(
    f("graft_word_ngrams",
      "graft_word_ngrams(text, n) - word n-grams as strings", arity = 2) { args =>
      native.wordNgrams(c(args(0)), intLit(args(1), "graft_word_ngrams", "n"))
    },
    f("graft_repetition_stats",
      "graft_repetition_stats(text, n) - [nTokens, totalGrams, distinctGrams]", arity = 2) { args =>
      native.repetitionStats(c(args(0)), intLit(args(1), "graft_repetition_stats", "n"))
    },
    f("graft_shingle_hashes",
      "graft_shingle_hashes(text, n) - distinct xxh64 word-n-gram hashes", arity = 2) { args =>
      native.shingleHashes(c(args(0)), intLit(args(1), "graft_shingle_hashes", "n"))
    },
    f("graft_minhash",
      "graft_minhash(shingleHashes, numPerm) - MinHash signature", arity = 2) { args =>
      native.minhashSig(c(args(0)), intLit(args(1), "graft_minhash", "numPerm"))
    },
    f("graft_simhash",
      "graft_simhash(tokens) - 64-bit SimHash of a token array", arity = 1) { args =>
      native.simhash64(c(args(0)))
    },
    f("graft_cosine",
      "graft_cosine(a, b) - cosine similarity of two float/double arrays", arity = 2) { args =>
      native.cosineSim(c(args(0)), c(args(1)))
    },
    f("graft_normalize",
      "graft_normalize(text, form) - Unicode normalization, form in NFC|NFD|NFKC|NFKD",
      arity = 2) { args =>
      native.unicodeNormalize(c(args(0)), strLit(args(1), "graft_normalize", "form"))
    })
}
