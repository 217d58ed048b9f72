package graft.sources

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
import org.apache.spark.sql.catalyst.expressions.{And, AttributeReference, BoundReference, EqualNullSafe, EqualTo, Expression, GreaterThan, GreaterThanOrEqual, In, InSet, LessThan, LessThanOrEqual, Literal, Or, Predicate}
import org.apache.spark.sql.execution.datasources.{FileIndex, PartitionDirectory}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

object ManifestFileIndex {
  /** One committed file of a store generation: its path relative to
    * the generation directory, its size, and optional per-column
    * `[min, max]` bounds over the file's NON-NULL values, read from
    * the parquet footer at commit time by `graft.operators.Store` —
    * `stats` for top-level INT32/INT64 columns (exact bounds),
    * `strStats` for top-level STRING columns (INCLUSIVE bounds under
    * UTF-8 binary order, truncated Iceberg-style: the lower bound is
    * the min truncated to a code-point prefix, the upper bound the
    * max truncated then incremented at its last code point — both
    * remain valid inclusive bounds for every value in the file). */
  final case class FileEntry(
      rel: String, size: Long, stats: Map[String, (Long, Long)],
      strStats: Map[String, (String, String)] = Map.empty,
      rows: Long = -1L)
}

/** A [[FileIndex]] served entirely from an already-loaded manifest —
  * the O(1)-open half of the `graft.operators.Store` generation layer
  * (the same shape every manifest-pointer table format uses: the
  * commit records the generation's file list, so opening the relation
  * costs one manifest read instead of a recursive directory walk —
  * at nlist ~10⁵ partition directories on an object store, discovery
  * is a LIST storm per cold open; this is a constant).
  *
  * `files` are recorded at commit time, relative to `basePath`.
  * Partition values are parsed from the `k=v` path segments (Spark's
  * own layout, written by `partitionBy`) against the recorded
  * `partitionSchema` — no footer reads, no directory listings, no
  * `getFileStatus` calls: the scan's first filesystem touch is the
  * executor-side read of a file that survived pruning.
  *
  * Two prunes happen in [[listFiles]]:
  *  - static PARTITION filters drop whole partition directories (the
  *    scan trusts `listFiles`); dynamic-partition-pruning filters are
  *    evaluated by `FileSourceScanExec` itself over the returned
  *    partitions, so DPP (the IVF-PQ probed-list prune) works
  *    unchanged;
  *  - static DATA filters on stats-covered integral columns drop
  *    individual FILES whose recorded `[min, max]` cannot satisfy the
  *    predicate — Iceberg-style file skipping. Evaluation is
  *    conservative interval logic: a file is dropped only when the
  *    predicate is provably false for every value in range; a file
  *    without a stat for the column (footer statistics missing,
  *    non-integral columns) always survives. Null semantics are safe
  *    by construction: the bounds cover non-null values and every
  *    supported comparison is null-insensitive (NULL never satisfies
  *    `=`, `<`, `IN`).
  */
final class ManifestFileIndex(
    spark: SparkSession,
    basePath: Path,
    files: Seq[ManifestFileIndex.FileEntry],
    override val partitionSchema: StructType) extends FileIndex {

  private val hasAnyStats =
    files.exists(f => f.stats.nonEmpty || f.strStats.nonEmpty)

  /** A file's bounds in evaluation form: string bounds converted to
    * [[UTF8String]] ONCE at construction — [[listFiles]] runs per
    * query plan over every (file × predicate) pair, and re-encoding
    * immutable bounds there would be pure allocation. */
  private final case class EvalEntry(
      stats: Map[String, (Long, Long)],
      strStats: Map[String, (UTF8String, UTF8String)]) {
    def isEmpty: Boolean = stats.isEmpty && strStats.isEmpty
  }

  private val partitions
      : Seq[(InternalRow, Seq[(FileStatus, EvalEntry)])] = {
    files
      .map { f =>
        (partitionValuesOf(f.rel),
          (new FileStatus(
            f.size, false, 1, 134217728L, 0L, new Path(basePath, f.rel)),
            EvalEntry(f.stats, f.strStats.map { case (c, (mn, mx)) =>
              (c, (UTF8String.fromString(mn), UTF8String.fromString(mx)))
            })))
      }
      .groupBy(_._1)
      .toSeq
      .map { case (values, fs) =>
        (InternalRow.fromSeq(values), fs.map(_._2))
      }
  }

  private def partitionValuesOf(relPath: String): Seq[Any] = {
    if (partitionSchema.isEmpty) return Nil
    val kv = relPath.split('/').dropRight(1)
      .flatMap { seg =>
        val i = seg.indexOf('=')
        if (i <= 0) None
        else Some(ExternalCatalogUtils.unescapePathName(seg.take(i)) ->
          ExternalCatalogUtils.unescapePathName(seg.drop(i + 1)))
      }.toMap
    partitionSchema.fields.toSeq.map { f =>
      val raw = kv.getOrElse(f.name, kv.collectFirst {
        case (k, v) if k.equalsIgnoreCase(f.name) => v
      }.getOrElse(throw new IllegalStateException(
        s"manifest file '$relPath' carries no '${f.name}=' partition " +
          s"segment — the manifest and its partition schema disagree")))
      if (raw == ExternalCatalogUtils.DEFAULT_PARTITION_NAME) null
      else castPartitionValue(raw, f.dataType, relPath)
    }
  }

  private def castPartitionValue(
      raw: String, dt: DataType, relPath: String): Any = dt match {
    case IntegerType => raw.toInt
    case LongType => raw.toLong
    case ShortType => raw.toShort
    case ByteType => raw.toByte
    case BooleanType => raw.toBoolean
    case FloatType => raw.toFloat
    case DoubleType => raw.toDouble
    case StringType => UTF8String.fromString(raw)
    case _ => throw new IllegalArgumentException(
      s"unsupported partition column type $dt (file '$relPath') — the " +
        s"store layer partitions on integral/string keys only")
  }

  override def rootPaths: Seq[Path] = Seq(basePath)

  // ── static data-filter evaluation against per-file [min,max] stats ──

  private def litLong(e: Expression): Option[Long] = e match {
    case Literal(v: Int, _) => Some(v.toLong)
    case Literal(v: Long, _) => Some(v)
    case Literal(v: Short, _) => Some(v.toLong)
    case Literal(v: Byte, _) => Some(v.toLong)
    case _ => None
  }

  private def litStr(e: Expression): Option[UTF8String] = e match {
    case Literal(v: UTF8String, StringType) => Some(v)
    case _ => None
  }

  private def lookIC[V](name: String, m: Map[String, V]): Option[V] =
    m.get(name).orElse(m.collectFirst {
      case (k, v) if k.equalsIgnoreCase(name) => v
    })

  private def statsOf(
      name: String,
      stats: Map[String, (Long, Long)]): Option[(Long, Long)] =
    lookIC(name, stats)

  private type Entry = EvalEntry

  /** Conservative "may the predicate hold for some row of this file"
    * — `true` whenever the expression shape or the file's stats can't
    * prove otherwise. Integral columns compare against exact [min,max]
    * bounds; string columns against the manifest's truncation-safe
    * INCLUSIVE bounds under UTF-8 binary order ([[UTF8String]]'s
    * comparator — Spark's own string ordering and the order parquet
    * binary stats are computed in; `java.lang.String` comparison is
    * UTF-16 code-unit order and diverges on supplementary characters,
    * so it is never used here). The check shapes are IDENTICAL across
    * the two type families: only the ordering differs, and truncation
    * only ever WIDENS the string interval, which keeps every decision
    * conservative. */
  private def mayMatch(e: Expression, f: Entry): Boolean = e match {
    case And(l, r) => mayMatch(l, f) && mayMatch(r, f)
    case Or(l, r) => mayMatch(l, f) || mayMatch(r, f)
    case EqualTo(a: AttributeReference, v) =>
      cmp(a, f, v)((mnx, mxx) => mnx <= 0 && mxx >= 0)
    case EqualTo(v, a: AttributeReference) =>
      cmp(a, f, v)((mnx, mxx) => mnx <= 0 && mxx >= 0)
    case EqualNullSafe(a: AttributeReference, v) =>
      cmp(a, f, v)((mnx, mxx) => mnx <= 0 && mxx >= 0)
    case EqualNullSafe(v, a: AttributeReference) =>
      cmp(a, f, v)((mnx, mxx) => mnx <= 0 && mxx >= 0)
    case GreaterThan(a: AttributeReference, v) =>
      cmp(a, f, v)((_, mxx) => mxx > 0)
    case GreaterThan(v, a: AttributeReference) =>
      cmp(a, f, v)((mnx, _) => mnx < 0)
    case GreaterThanOrEqual(a: AttributeReference, v) =>
      cmp(a, f, v)((_, mxx) => mxx >= 0)
    case GreaterThanOrEqual(v, a: AttributeReference) =>
      cmp(a, f, v)((mnx, _) => mnx <= 0)
    case LessThan(a: AttributeReference, v) =>
      cmp(a, f, v)((mnx, _) => mnx < 0)
    case LessThan(v, a: AttributeReference) =>
      cmp(a, f, v)((_, mxx) => mxx > 0)
    case LessThanOrEqual(a: AttributeReference, v) =>
      cmp(a, f, v)((mnx, _) => mnx <= 0)
    case LessThanOrEqual(v, a: AttributeReference) =>
      cmp(a, f, v)((_, mxx) => mxx >= 0)
    case In(a: AttributeReference, vs) =>
      val longs = vs.map(litLong)
      if (longs.forall(_.nonEmpty)) statsOf(a.name, f.stats) match {
        case Some((mn, mx)) => longs.flatten.exists(x => mn <= x && x <= mx)
        case None => true
      } else {
        val strs = vs.map(litStr)
        if (strs.forall(_.nonEmpty)) strBounds(a.name, f) match {
          case Some((mn, mx)) =>
            strs.flatten.exists(x => mn.compareTo(x) <= 0 && x.compareTo(mx) <= 0)
          case None => true
        } else true
      }
    case InSet(a: AttributeReference, vs) =>
      val intStats = statsOf(a.name, f.stats)
      val strStats = strBounds(a.name, f)
      if (intStats.isEmpty && strStats.isEmpty) true
      else vs.exists { v =>
        val asLong: Option[Long] = v match {
          case x: java.lang.Integer => Some(x.longValue)
          case x: java.lang.Long => Some(x.longValue)
          case x: java.lang.Short => Some(x.longValue)
          case x: java.lang.Byte => Some(x.longValue)
          case _ => None
        }
        (asLong, v) match {
          case (Some(x), _) => intStats match {
            case Some((mn, mx)) => mn <= x && x <= mx
            case None => true
          }
          case (None, s: UTF8String) => strStats match {
            case Some((mn, mx)) =>
              mn.compareTo(s) <= 0 && s.compareTo(mx) <= 0
            case None => true
          }
          case _ => true
        }
      }
    case _ => true
  }

  private def strBounds(
      name: String, f: Entry): Option[(UTF8String, UTF8String)] =
    lookIC(name, f.strStats)

  /** Dispatch one comparison shape to the column's stat family —
    * exact long bounds or truncation-safe string bounds — and hand the
    * check the SIGNS of compare(min, lit) and compare(max, lit), so
    * the interval logic is written once for both orderings. Unknown
    * column / literal / type combination ⇒ keep the file. */
  private def cmp(a: AttributeReference, f: Entry, v: Expression)(
      check: (Int, Int) => Boolean): Boolean =
    (statsOf(a.name, f.stats), litLong(v)) match {
      case (Some((mn, mx)), Some(x)) =>
        check(java.lang.Long.compare(mn, x), java.lang.Long.compare(mx, x))
      case _ =>
        (strBounds(a.name, f), litStr(v)) match {
          case (Some((mn, mx)), Some(x)) =>
            check(mn.compareTo(x), mx.compareTo(x))
          case _ => true
        }
    }

  override def listFiles(
      partitionFilters: Seq[Expression],
      dataFilters: Seq[Expression]): Seq[PartitionDirectory] = {
    val usable = partitionFilters.filter(
      _.references.forall(a =>
        partitionSchema.fields.exists(_.name.equalsIgnoreCase(a.name))))
    val afterPart =
      if (usable.isEmpty || partitionSchema.isEmpty) partitions
      else {
        val bound = Predicate.create(usable.reduce(And).transform {
          case a: AttributeReference =>
            val i = partitionSchema.fields
              .indexWhere(_.name.equalsIgnoreCase(a.name))
            BoundReference(i, partitionSchema.fields(i).dataType,
              nullable = true)
        })
        bound.initialize(0)
        partitions.filter(p => bound.eval(p._1))
      }
    val afterStats =
      if (dataFilters.isEmpty || !hasAnyStats) afterPart
      else afterPart
        .map { case (values, fs) =>
          (values, fs.filter { case (_, entry) =>
            entry.isEmpty || dataFilters.forall(f => mayMatch(f, entry))
          })
        }
        .filter(_._2.nonEmpty)
    afterStats.map { case (values, fs) =>
      PartitionDirectory(values, fs.map(_._1).toArray)
    }
  }

  override def inputFiles: Array[String] =
    files.map(f => new Path(basePath, f.rel).toString).toArray

  override def refresh(): Unit = ()

  override val sizeInBytes: Long = files.map(_.size).sum
}
