package graft.operators

import scala.concurrent.Await
import scala.concurrent.duration.Duration

import org.apache.spark.FutureAction
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructType}

/** The one store layer under the five persisted stores: the MinHash
  * signature, Hamming and paragraph tables ([[Dedup]]) and the PQ and
  * IVF-PQ indexes ([[Similarity]]). Each relation's layout is declared
  * once ([[Relation]]) and create, append shaping, retire and compact
  * all read that declaration; the banded-bucket append, the touched-key
  * probe prune, retire and compact are each written once here.
  *
  * The pruning scheme is REPOSE's (ICDE 2021): one per-partition
  * summary — a file's recorded key range — prunes every store's probe
  * the same way ([[KeyScheme]]), so a batch touching K keys reads O(K)
  * files however large the store grows. */
private[graft] object BucketStore {

  type KeepFn = (Map[String, String], Map[String, (Long, Long)]) => Boolean

  /** The files one shaped append of a signature or Hamming table
    * relation writes per partition directory: its slot count. */
  val AppendFiles: Int = 4

  /** One persisted relation of a store, at `<store path>/<dir>`: its
    * partition columns, cluster keys and sampling-free range placement
    * (`splits(None)` at create, `splits(Some(snap))` on a rewrite of
    * `snap`), `shape`, the batch-sized placement an append's rows take
    * before they are written, and `slot`, the per-row file slot `shape`
    * places them by when that is a row expression (a banded
    * relation's slot arithmetic). */
  final case class Relation(
      dir: String,
      partitionCols: Seq[String] = Nil,
      clusterBy: Seq[String] = Nil,
      splits: Option[Store.Snap] => Option[Store.RangeSplits] = _ => None,
      shape: DataFrame => DataFrame = identity,
      slot: Option[Column] = None) {
    def root(path: String): String = s"$path/$dir"

    /** The live snapshot, refused when the relation's manifest is not
      * laid out as declared — an append would otherwise fail at its
      * schema fence only after a sibling relation's batch committed. */
    def snapshot(spark: SparkSession, path: String): Store.Snap = {
      val snap = Store.snapshot(spark, root(path))
      val laid = snap.partitionSchema.fieldNames.map(_.toLowerCase).toSeq
      if (laid != partitionCols.map(_.toLowerCase))
        throw new IllegalStateException(
          s"store relation ${root(path)} is partitioned by " +
            s"${laid.mkString("[", ", ", "]")}, not its declared " +
            s"${partitionCols.mkString("[", ", ", "]")} — compact the store " +
            s"to re-lay it in the declared layout, or rebuild it")
      snap
    }
    def read(spark: SparkSession, path: String): DataFrame =
      Store.read(spark, root(path))
    def create(df: DataFrame, path: String): Unit =
      Store.create(df, root(path), partitionCols, clusterBy,
        splits = splits(None))

    /** Append `rows` under the [[Store.append]] fence, shaped and
      * partitioned by the declared layout. */
    def append(spark: SparkSession, path: String)(rows: => DataFrame): Unit =
      appendPlaced(spark, path)(shape(rows))

    /** Append rows already placed as `shape` would place them (one
      * partition per file slot), under the same fence, partitioned by
      * the declared layout. */
    def appendPlaced(spark: SparkSession, path: String)(placed: => DataFrame): Unit =
      Store.append(spark, root(path)) { dir =>
        val w = placed.write.mode("append")
        (if (partitionCols.isEmpty) w else w.partitionBy(partitionCols: _*))
          .parquet(dir)
      }

    /** Bounded-replay rewrite into the declared layout (so a relation
      * laid out otherwise is re-laid here). */
    def rewrite(spark: SparkSession, path: String, numFiles: Int)(
        out: Store.Snap => DataFrame): Unit =
      Store.rewriteWithRetry(spark, root(path), numFiles, partitionCols,
        clusterBy, splits = s => splits(Some(s)))(out)
  }

  /** A banded (id, …, band, bucket) relation: partitioned by band and
    * range-clustered by bucket, so DPP prunes band directories and the
    * per-file bucket ranges prune files inside them. An append is
    * placed into [[AppendFiles]] files by `slot(band, bucket, slots)`,
    * a monotone partition index over the (band, bucket) order computed
    * by arithmetic — a range partitioner's sample would run the
    * occupancy window and store probe a second time per append. */
  def banded(slot: (Column, Column, Int) => Column)(
      splits: Option[Store.Snap] => Option[Store.RangeSplits]): Relation = {
    val pid = slot(col("band"), col("bucket"), AppendFiles)
    Relation("buckets", Seq("band"), Seq("bucket"), splits,
      Store.placeByPid(_, pid, AppendFiles, Seq(col("band"), col("bucket")))
        .sortWithinPartitions(col("band"), col("bucket")),
      Some(pid))
  }

  /** A store's write-once `meta` relation: one row of the construction
    * parameters every probe and append reads back. */
  private def metaDir(path: String): String = s"$path/meta"

  def writeMeta(spark: SparkSession, path: String, cols: Column*): Unit =
    spark.range(1).select(cols: _*).write.mode("overwrite")
      .parquet(metaDir(path))

  /** The meta row, read on the driver (no Spark job). */
  def readMeta(spark: SparkSession, path: String): Row =
    Store.readMetaRow(spark, metaDir(path))

  /** The meta row as a frame, for the stats queries. */
  def metaFrame(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(metaDir(path))

  /** A relation's row count as a one-row frame of column `name`, for
    * the stats queries: the manifest's recorded count, or a count
    * aggregate where the manifest records none (an empty relation). */
  def rowCount(snap: Store.Snap, name: String): DataFrame =
    snap.manifestRowCount.fold(snap.df.agg(count(lit(1)).as(name)))(n =>
      snap.df.sparkSession.range(1).select(lit(n).as(name)))

  /** Drop every row of a (band, bucket) relation whose bucket holds
    * more than `maxBucketSize` rows — the skew guard of every banded
    * match and store write. `Int.MaxValue` keeps every row, with no
    * window. */
  def capBuckets(buckets: DataFrame, maxBucketSize: Int): DataFrame =
    if (maxBucketSize == Int.MaxValue) buckets
    else buckets
      .withColumn("__graft_bsz",
        count(lit(1)).over(org.apache.spark.sql.expressions.Window
          .partitionBy(col("band"), col("bucket"))))
      .filter(col("__graft_bsz") <= maxBucketSize)
      .drop("__graft_bsz")

  // ───────── probe-side dynamic file pruning ─────────

  /** The bound of every driver collect under a store probe: a probe
    * whose keys number more than this skips the driver-side file prune
    * and falls back to the full manifest scan + broadcast semi-join,
    * which a batch of that size amortizes anyway, and the signature
    * table's driver probe takes its distributed path above it. Each
    * collect goes through [[collectAtMost]], so the driver never holds
    * more than this + 1 rows of one. */
  val MaxProbeKeys: Int = 1 << 20

  /** The collected key rows of one probe — gathered ONCE on the driver
    * and reused by every phase of an ingest batch (the driver-side file
    * prune, the exact local-relation semi-join, and a distributed
    * append's occupancy count), so the touched-key plan never
    * re-executes per phase. An append from rows the driver already
    * holds ([[appendBandedCollected]]) takes the stored occupancy
    * itself instead. */
  final case class ProbeKeys(rows: Array[Row], schema: StructType)

  /** The rows of `df` (in partition order, as `collect` gives them), or
    * None when there are more than `n`: the one bounded driver collect.
    * One job over every partition, with no `limit` job chain: each task
    * sends at most n + 1 rows, and once the running total passes `n`
    * the driver drops what it holds and cancels the job, so no task
    * starts after the cancel lands. Over the bound any failure of the job —
    * the cancel, or a `spark.driver.maxResultSize` abort of the results
    * already in flight — means None. A plan that bounds its own rows by
    * `n` (a local relation, which Spark collects without a job) is
    * collected as it is. */
  def collectAtMost(df: DataFrame, n: Int): Option[Array[Row]] = {
    require(n >= 0 && n < Int.MaxValue, s"row bound $n")
    val qe = df.queryExecution
    if (qe.optimizedPlan.maxRows.exists(_ <= n)) return Some(df.collect())
    val parts = SQLExecution.withNewExecutionId(qe, Some("collectAtMost")) {
      val rdd = qe.toRdd
      val parts = new Array[Array[InternalRow]](rdd.partitions.length)
      var total = 0L
      // the handler runs on the scheduler's event thread, maybe before
      // `job` is set: whichever of it and this thread sees the other's
      // write cancels (a cancel only posts an event, never blocks)
      @volatile var over = false
      @volatile var job: FutureAction[Unit] = null
      job = df.sparkSession.sparkContext.submitJob(rdd,
        (it: Iterator[InternalRow]) => it.take(n + 1).map(_.copy()).toArray,
        rdd.partitions.indices,
        (i: Int, rows: Array[InternalRow]) =>
          if (total <= n) {
            total += rows.length
            if (total > n) {
              java.util.Arrays.fill(parts.asInstanceOf[Array[AnyRef]], null)
              over = true
              if (job != null) job.cancel()
            } else parts(i) = rows
          },
        ())
      if (over) job.cancel()
      Await.ready(job, Duration.Inf)
      if (total > n) None else { job.value.get.get; Some(parts) }
    }
    val toRow = ExpressionEncoder(df.schema).resolveAndBind().createDeserializer()
    parts.map(_.flatMap(_.map(toRow)))
  }

  /** How a probe's key rows prune a relation: the key columns, the
    * per-file keep decision built from the collected rows, and an
    * optional predicate restated on the probe side. */
  final case class KeyScheme(
      cols: Seq[String], keep: Array[Row] => KeepFn,
      guard: Option[Column] = None)

  /** (band, bucket) keys of a banded relation. `band >= 0` is a
    * construction invariant of every banding scheme — restating it on
    * the probe side is what makes Catalyst plan the dynamic partition
    * prune: the touched relation is usually a projection over a CACHED
    * batch, whose internal filters an InMemoryRelation hides from
    * PartitionPruning's selectivity check; without a visible selective
    * predicate the rule never inserts the band subquery (PlanSpec pins
    * the resulting PartitionFilters). */
  val BandBucket: KeyScheme = KeyScheme(Seq("band", "bucket"),
    rows => bucketKeepFn(rows.filter(r => !r.isNullAt(0) && !r.isNullAt(1))
      .map(r => (r.getInt(0), r.getLong(1)))),
    Some(col("band") >= 0))

  /** One integral key of a relation range-clustered on it (paragraph
    * hashes, signature ids). The manifest records int and long stats
    * alike as longs, so an int key prunes the same way; a key of any
    * other type has no stats to prune by and keeps every file. */
  def longKey(key: String): KeyScheme = KeyScheme(Seq(key),
    rows => longKeepFn(key,
      rows.map(_.get(0)).collect { case n: java.lang.Number => n.longValue }.sorted))

  /** Any key of the sorted array inside `[mn, mx]`? (binary search —
    * the per-file test of the driver-side prune). */
  private def anyKeyInRange(sorted: Array[Long], mn: Long, mx: Long): Boolean = {
    var i = java.util.Arrays.binarySearch(sorted, mn)
    if (i < 0) i = -i - 1
    i < sorted.length && sorted(i) <= mx
  }

  /** The per-file keep decision for a banded bucket relation probed
    * with `(band, bucket)` keys: the file's band comes from its
    * partition path, its bucket range from the recorded stats;
    * anything unknown (no band segment, no bucket stats) keeps the
    * file against every probed band (conservative superset). */
  private def bucketKeepFn(keys: Array[(Int, Long)]): KeepFn = {
    val byBand: Map[Int, Array[Long]] =
      keys.groupBy(_._1).map { case (b, ks) => b -> ks.map(_._2).sorted }
    (pv, stats) => {
      val bands: Iterable[Int] =
        pv.collectFirst { case (k, v) if k.equalsIgnoreCase("band") => v }
          .flatMap(v => scala.util.Try(v.toInt).toOption)
          .fold[Iterable[Int]](byBand.keys)(Seq(_))
      bands.exists(b => byBand.get(b).exists(arr =>
        stats.get("bucket") match {
          case Some((mn, mx)) => anyKeyInRange(arr, mn, mx)
          case None => true
        }))
    }
  }

  /** The per-file keep decision for a relation range-clustered on one
    * long key: keep the file if its recorded `[min, max]` for `keyCol`
    * holds a probe key; a file without stats is kept. */
  private def longKeepFn(keyCol: String, sorted: Array[Long]): KeepFn =
    (_, stats) => stats.get(keyCol) match {
      case Some((mn, mx)) => anyKeyInRange(sorted, mn, mx)
      case None => true
    }

  private def unprunable(snap: Store.Snap): Boolean = snap.files.isEmpty

  /** The snapshot's scan restricted to the files that can hold a
    * collected key — a conservative SUPERSET (files without stats
    * survive), so it prunes BYTES, never rows. */
  def prunedScan(snap: Store.Snap, scheme: KeyScheme,
      keys: Array[Row]): DataFrame =
    if (unprunable(snap)) snap.df
    else Store.pruneFiles(snap)(scheme.keep(keys))

  /** [[probe]] over keys a caller ALREADY collected — pruned scan +
    * local-relation broadcast semi-join, zero additional driver
    * actions. */
  def probeCollected(spark: SparkSession, snap: Store.Snap,
      scheme: KeyScheme, keys: ProbeKeys): DataFrame = {
    val local = spark
      .createDataFrame(java.util.Arrays.asList(keys.rows: _*), keys.schema)
    prunedScan(snap, scheme, keys.rows).join(
      broadcast(scheme.guard.fold(local)(local.filter)), scheme.cols,
      "left_semi")
  }

  /** The stored rows matching the distinct `scheme` keys of `touched`
    * (the serving-path scan bound), and the keys the probe collected.
    * The keys are collected ONCE ([[collectAtMost]]) and drive both the
    * driver-side file prune and (as a local relation) the exact
    * semi-join — re-evaluating the distributed key plan for the
    * broadcast would repeat its shuffle on every probe. They are
    * collected from `superset` when given (a superset of `touched`'s
    * keys, e.g. a batch's before its bucket cap), so the same batch's
    * append can reuse them for its occupancy count. A probe with more
    * than [[MaxProbeKeys]] keys (or of an empty relation) collects
    * nothing more: it falls back to the distributed broadcast of
    * `touched`'s keys, where the scan-side bound comes from DPP alone.
    * On a banded relation Catalyst's DPP prunes the band partitions
    * through the semi-join; the file prune covers the
    * file-in-partition granularity DPP cannot reach on V1 sources.
    * PlanSpec pins the REAL serving plan — the semi-join must reach a
    * banded scan as a `dynamicpruningexpression` partition filter on
    * `band`. */
  def probe(snap: Store.Snap, scheme: KeyScheme, touched: DataFrame,
      superset: Option[DataFrame] = None): (DataFrame, Option[ProbeKeys]) = {
    def keysOf(df: DataFrame) = scheme.guard.fold(df)(df.filter)
      .select(scheme.cols.map(col): _*).distinct()
    val keys = keysOf(touched)
    val collected =
      if (unprunable(snap)) None
      else {
        val from = superset.fold(keys)(keysOf)
        collectAtMost(from, MaxProbeKeys).map(ProbeKeys(_, from.schema))
      }
    val stored = collected.fold(
      snap.df.join(broadcast(keys), scheme.cols, "left_semi"))(
      probeCollected(touched.sparkSession, snap, scheme, _))
    (stored, collected)
  }

  /** A probe-time result reused at append time only while the relation
    * has committed nothing since `snap` — one directory listing, no
    * Spark job. A concurrent commit between a batch's probe and append
    * (a violated single-ingest-loop contract) would make the reused
    * result stale — an occupancy undercount or duplicate rows — so it
    * is recomputed against a fresh snapshot instead. */
  def fenced[T](spark: SparkSession, snap: Store.Snap)(reuse: => T)(fresh: => T): T =
    if (!Store.changedSince(spark, snap)) reuse else fresh

  /** The measured file-skipping arithmetic of one probe, WITHOUT running
    * it: collect the batch's distinct `touched` keys and return
    * `(keptFiles, keptBytes, totalFiles, totalBytes)` of the pruned
    * scan. A batch touching more than [[MaxProbeKeys]] keys is refused:
    * the real probe skips the prune there, so there is no pruned scan
    * to measure. */
  def footprint(snap: Store.Snap, scheme: KeyScheme,
      touched: DataFrame): (Long, Long, Long, Long) = {
    val keys = collectAtMost(touched, MaxProbeKeys)
    require(keys.isDefined,
      s"probe footprint measures the pruned path, and this batch " +
        s"touches > $MaxProbeKeys keys, where the probe falls back to " +
        s"the full scan; measure a smaller batch")
    val p = Store.prunedScan(snap)(scheme.keep(keys.get))
    (p.keptFiles, p.keptBytes, p.totalFiles, p.totalBytes)
  }

  // ───────── the banded append, retire and compact ─────────

  /** Append a batch's banded `rows` (id, payload…, band, bucket) with
    * occupancy-headroom admission, keeping the write-time invariant "no
    * stored bucket exceeds `maxBucketSize`": the stored occupancy of
    * the touched buckets is counted (pruned scan + broadcast semi-join
    * — cost ∝ batch, not corpus) and batch rows enter a bucket only up
    * to its remaining headroom, smallest id first. A bucket already at
    * the cap accepts nothing — the same documented recall loss as
    * write-time capping, never a quadratic blow-up. `snap` is the
    * snapshot occupancy is counted against and `touched` optionally
    * carries a probe's already-collected key superset (the fused ingest
    * path — no new driver action, under the [[fenced]] check). This is
    * the distributed form, and the parity reference and stale-occupancy
    * fallback of [[appendBandedCollected]], which appends rows whose
    * occupancy the driver already holds. */
  def appendBanded(spark: SparkSession, path: String, rel: Relation,
      rows: DataFrame, maxBucketSize: Int, snap: Store.Snap,
      touched: Option[ProbeKeys]): Unit = {
    val storedRows = touched match {
      case Some(k) => fenced(spark, snap)(
        probeCollected(spark, snap, BandBucket, k))(
        probe(rel.snapshot(spark, path), BandBucket, rows)._1)
      case None => probe(snap, BandBucket, rows)._1
    }
    val stored = storedRows
      .groupBy(col("band"), col("bucket")).agg(count(lit(1)).as("__stored"))
    rel.append(spark, path) {
      rows
        .withColumn("__rn",
          row_number().over(org.apache.spark.sql.expressions.Window
            .partitionBy(col("band"), col("bucket")).orderBy(col("id"))))
        .join(stored, Seq("band", "bucket"), "left")
        .filter(coalesce(col("__stored"), lit(0L)) + col("__rn") <= maxBucketSize)
        .select(rows.columns.map(col): _*)
    }
  }

  // ───────── appends of rows the driver already holds ─────────

  /** Write `slots(i)`, rows of `schema` on the driver, as the relation's
    * file slot i: one Spark job over one partition per slot, no
    * exchange, each file sorted by the declared partition and cluster
    * keys as `shape` sorts it. The rows travel in the job's tasks. */
  private def appendSlots(spark: SparkSession, path: String, rel: Relation,
      schema: StructType, slots: Seq[Seq[Row]]): Unit =
    rel.appendPlaced(spark, path) {
      val rdd = spark.sparkContext.parallelize(slots, slots.length).flatMap(identity)
      spark.createDataFrame(rdd, schema)
        .sortWithinPartitions((rel.partitionCols ++ rel.clusterBy).map(col): _*)
    }

  /** Append `rows` of a relation shaped by [[Store.placeBatchByKey]] on
    * its one cluster key, placed on the driver as that shape places
    * them: the ntile([[AppendFiles]]) slot of each row in key `order`
    * (the first `n % files` slots hold one row more). Keys are non-null. */
  def appendCollectedByKey(spark: SparkSession, path: String, rel: Relation,
      schema: StructType, rows: Seq[Row], order: Ordering[Any]): Unit = {
    val key = schema.fieldIndex(rel.clusterBy.head)
    val sorted = rows.sortBy(_.get(key))(order)
    val (size, padded) = (sorted.length / AppendFiles, sorted.length % AppendFiles)
    val ends = (0 until AppendFiles).scanLeft(0)((e, i) => e + size + (if (i < padded) 1 else 0))
    appendSlots(spark, path, rel, schema,
      ends.sliding(2).map { case Seq(a, b) => sorted.slice(a, b) }.toSeq)
  }

  /** [[appendBanded]] over banded `rows` of `schema` the driver already
    * holds, with the stored `occupancy` of every (band, bucket) key they
    * touch, read from `snap`: the headroom admission runs here (within
    * a bucket, rank by (non-null) id in `order` + stored ≤
    * `maxBucketSize`), each row goes to the slot the relation's `shape`
    * would give it (its `slot` evaluated on a local projection of the
    * keys, which Spark folds without a job) and the relation is written
    * in one job. When
    * the relation has committed since `snap`, the occupancy is stale and
    * [[appendBanded]] recounts it against a fresh snapshot instead. */
  def appendBandedCollected(spark: SparkSession, path: String, rel: Relation,
      schema: StructType, rows: Seq[Row], order: Ordering[Any], maxBucketSize: Int,
      snap: Store.Snap, occupancy: collection.Map[(Int, Long), Long]): Unit = {
    val Seq(id, band, bucket) = Seq("id", "band", "bucket").map(schema.fieldIndex)
    fenced(spark, snap) {
      val admitted = rows.groupBy(r => (r.getInt(band), r.getLong(bucket))).toSeq.map {
        case (k, rs) =>
          val room = maxBucketSize.toLong - occupancy.getOrElse(k, 0L)
          k -> rs.sortBy(_.get(id))(order).take(math.max(0L, room).min(rs.length).toInt)
      }
      val keys = spark.createDataFrame(
        java.util.Arrays.asList(admitted.map { case ((b, k), _) => Row(b, k) }: _*),
        StructType(Seq(schema(band), schema(bucket))))
      val slotOf = keys.select(col("band"), col("bucket"), rel.slot.get).collect()
        .map(r => (r.getInt(0), r.getLong(1)) -> r.getInt(2)).toMap
      val slots = Seq.fill(AppendFiles)(Seq.newBuilder[Row])
      admitted.foreach { case (k, rs) => slots(slotOf(k)) ++= rs }
      appendSlots(spark, path, rel, schema, slots.map(_.result()))
    } {
      appendBanded(spark, path, rel,
        spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema),
        maxBucketSize, rel.snapshot(spark, path), None)
    }
  }

  /** Remove the rows whose `key` is retired from a store's relations,
    * each rewritten in `rels` order through its layout-preserving
    * [[Relation.rewrite]] (new generation + atomic manifest flip, with
    * bounded replay: a retire racing a stream of appends re-derives
    * from a fresh snapshot and converges). The retirement keys are
    * resolved against the first relation's OWN key type and a lossy
    * cast fails loudly ([[Store.retireIds]]) — a takedown must never
    * silently no-op — unless the caller passes them resolved as `ids`.
    *
    * The removed count is taken from the first relation inside the
    * replay loop, so it reflects the snapshot the commit applied to
    * (distinct keys when `countDistinct`). On a relation clustered by a
    * long `key` the count scans only the files whose recorded range
    * holds a retired key: the rewrite is inherently full-scan, a second
    * full scan just to report a count is not. Cost ∝ store,
    * independent of the list size (which broadcasts); `numFiles > 0`
    * compacts in passing. */
  def retire(spark: SparkSession, path: String, rels: Seq[Relation],
      key: String, retired: DataFrame, idCol: String, numFiles: Int,
      ids: Option[DataFrame] = None, countDistinct: Boolean = false): Long = {
    val counted = rels.head
    val stored = counted.read(spark, path)
    val gone = ids.getOrElse {
      val resolved = Store.retireIds(stored, key, retired, idCol)
      if (key == "id") resolved else resolved.select(col("id").as(key))
    }
    val keys =
      if (counted.clusterBy == Seq(key) &&
        stored.schema(key).dataType == LongType) collectAtMost(gone, MaxProbeKeys)
      else None
    def drop(snap: Store.Snap) =
      snap.df.join(broadcast(gone), Seq(key), "left_anti")
    var removed = 0L
    counted.rewrite(spark, path, numFiles) { snap =>
      val hit = keys.fold(snap.df)(prunedScan(snap, longKey(key), _))
        .join(broadcast(gone), Seq(key), "left_semi")
      removed =
        (if (countDistinct) hit.select(col(key)).distinct() else hit).count()
      drop(snap)
    }
    rels.tail.foreach(_.rewrite(spark, path, numFiles)(drop))
    removed
  }

  /** Compact a store's relations to `numFiles` files each, in `rels`
    * order — the periodic cleanup after many append generations (a
    * year of hourly batches is ~9 000 generations of small files, and
    * open cost, not bytes, comes to dominate the per-batch probe). The
    * last relation's rewrite runs `sweep` (default: keep every row). */
  def compact(spark: SparkSession, path: String, numFiles: Int,
      rels: Seq[Relation],
      sweep: Store.Snap => DataFrame = _.df): Unit = {
    require(numFiles > 0, s"numFiles must be > 0, got $numFiles")
    rels.init.foreach(_.rewrite(spark, path, numFiles)(_.df))
    rels.last.rewrite(spark, path, numFiles)(sweep)
  }
}
