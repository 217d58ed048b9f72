package graft.plans

import org.apache.spark.sql.{Column, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.classic.GraftShim
import org.apache.spark.sql.types.{IntegerType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Catalyst extension point (`spark.sql.extensions=graft.plans.
  * GraftExtensions`): one genuine optimizer rule plus SQL registration
  * of the native kernels, wired the way a production library ships
  * them — nothing here changes query semantics, only plans.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectOptimizerRule(_ => LevenshteinBandPrefilter)
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
