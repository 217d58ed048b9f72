package graft.operators

import graft.functions.RowFunctions

import org.apache.spark.sql.{Column, DataFrame, Encoders, Row}
import org.apache.spark.sql.functions._

/** Spark-native analogue of the reference `Index`
  * (/root/reference/csvplus.go:610-920): an eagerly-validated,
  * key-sorted, reusable collection of rows supporting point/prefix
  * lookup, sub-indexing, duplicate resolution, persistence, and service
  * as the build side of equi-joins.
  *
  * Scale design (this is where we diverge HARD from the reference —
  * SURVEY.md §4.2): the reference materializes the whole dataset in
  * driver RAM and binary-searches it. Here the "index" is a cached
  * DataFrame; lookups are Catalyst filters, and joins hash-probe it —
  * broadcast when small, shuffle-hash/sort-merge when not — except for
  * a probe that is a local relation (`Pipe.takeRows`): there the
  * `LocalProbeJoin` optimizer rule filters the index by the probe's
  * keys, and an inner join becomes that filtered scan generating the
  * matching probe rows, with no join at all. What stands
  * in for the binary search depends on where the rows live: a
  * [[cached]] index is held key-sorted, so the in-memory scan's
  * per-batch min/max stats skip every batch that cannot hold the key;
  * an index over parquet (e.g. [[Index.load]]) prunes row groups by
  * their footer min/max stats; an uncached index over any other source
  * scans it in full. Nothing ever funnels through the driver, so the
  * same code runs at 100 TB where the reference caps out at RAM.
  *
  * @param df       index contents: key-sorted (and cached) for an index
  *                 returned by [[cached]], otherwise in source order
  *                 ([[sortedDf]] is always sorted)
  * @param keyCols  index key columns, major → minor
  * @param broadcastHint  hint that the index is small enough to
  *                 broadcast to every executor (the moral equivalent of
  *                 the reference's whole-index-in-memory model). Joins
  *                 against a non-broadcast index become shuffle joins.
  */
final class Index private[operators] (
    val df: DataFrame,
    val keyCols: Seq[String],
    val broadcastHint: Boolean
) extends Serializable {

  private def keyColumns: Seq[Column] = keyCols.map(col)

  /** Sorted view — the reference's defining property (csvplus.go:736).
    * Range-partitioned global sort: scales out, unlike a driver sort. */
  lazy val sortedDf: DataFrame = df.orderBy(keyColumns: _*)

  /** A new index over the cached key-sorted view, for reuse across
    * queries (reference indices are always materialized and sorted;
    * here it's opt-in). The cached relation keeps the range
    * partitioning and ordering of [[sortedDf]], so `find` and `iterate`
    * on the returned index plan no shuffle and no sort, and its batch
    * stats prune `find` to the batches that can hold the key. The
    * receiver's `df` stays uncached; the storage is held until the
    * caller releases it with `.df.unpersist()` on the returned index.
    */
  def cached(): Index = new Index(sortedDf.cache(), keyCols, broadcastHint)

  /** Reference `Index.Iterate` (csvplus.go:616-620): sorted scan. */
  def iterate: DataFrame = sortedDf

  /** Reference `Index.Find(values…)` (csvplus.go:622-627, 869-891):
    * point / prefix-range lookup on the leading key columns. Catalyst
    * pushes the conjunction to the scan, whose min/max stats stand in
    * for the binary search: in-memory batch stats on a [[cached]]
    * index, row-group stats on a parquet-backed one. Any other uncached
    * index is scanned in full, then its hits are sorted.
    */
  def find(values: Any*): DataFrame = {
    if (values.length > keyCols.length)
      throw new IllegalArgumentException("too many columns in Index.find()")
    if (values.isEmpty) sortedDf
    else df.filter(prefixPred(values)).orderBy(keyColumns: _*)
  }

  private def prefixPred(values: Seq[Any]): Column =
    keyCols.zip(values).map { case (c, v) => col(c) === lit(v) }.reduce(_ && _)

  /** Reference `Index.SubIndex(values…)` (csvplus.go:629-641): narrow to
    * the equal range; remaining key columns become the new index key.
    * Requires strictly fewer values than key columns (panic parity).
    */
  def subIndex(values: Any*): Index = {
    if (values.length >= keyCols.length)
      throw new IllegalArgumentException("too many values in SubIndex()")
    new Index(df.filter(prefixPred(values)), keyCols.drop(values.length), broadcastHint)
  }

  /** Reference `Index.ResolveDuplicates` (csvplus.go:643-653, 809-867):
    * the resolver sees each duplicate group (size ≥ 2) in full and
    * returns Some(row) to keep one row, or None to drop the whole
    * group; singleton groups bypass the resolver entirely (observable —
    * csvplus_test.go:731-737 counts calls).
    *
    * Distributed contract: one shuffle on the key, arbitrary Scala
    * resolver per group via `flatMapGroups`. For resolvers expressible
    * as an ordering, prefer [[resolveDuplicatesBy]] — it stays inside
    * whole-stage codegen.
    */
  def resolveDuplicates(resolve: Seq[Row] => Option[Row]): Index = {
    val schema = df.schema
    val keys = keyCols
    implicit val rowEnc = Encoders.row(schema)
    val resolved = df
      .groupByKey { r: Row =>
        // injective key encoding: length-prefix each part so separator
        // characters inside values can't merge distinct keys, and null
        // stays distinct from the string "null"
        keys.map { c =>
          val v = r.getAs[Any](c)
          if (v == null) "N" else { val s = v.toString; s"S${s.length}:$s" }
        }.mkString("|")
      }(Encoders.STRING)
      .flatMapGroups { (_: String, it: Iterator[Row]) =>
        val first = it.next()
        if (!it.hasNext) Iterator.single(first) // singleton bypasses resolver
        else resolve(first +: it.toSeq) match {
          case Some(r) => Iterator.single(r)
          case None    => Iterator.empty
        }
      }(rowEnc)
    new Index(resolved.toDF(df.columns: _*), keyCols, broadcastHint)
  }

  /** Declarative duplicate resolution: keep the first row per key under
    * `order` (codegen-friendly window path; use when the resolver is an
    * ordering, which covers "keep newest / max-priority" etc.).
    */
  def resolveDuplicatesBy(order: Column*): Index = {
    require(!df.columns.contains("__rn"),
      "input already has a column named __rn")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(keyColumns: _*).orderBy(order: _*)
    val resolved = df
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn")
    new Index(resolved, keyCols, broadcastHint)
  }

  /** Persist the index as parquet (replaces the reference's gob
    * serialization, csvplus.go:655-705; parquet keeps min/max stats so
    * reloaded indices still prune on `find`).
    */
  def writeTo(path: String): Unit =
    sortedDf.write.mode("overwrite").parquet(path)

  /** Persist as a BUCKETED + sorted table: the physical analogue of
    * the reference's "sorted index on disk". Two tables bucketed on
    * their respective join keys with the same bucket count join with
    * NO shuffle on either side — the 100 TB pattern for repeatedly
    * joined fact/dim tables (write the partitioning once, reuse it in
    * every query). */
  def writeBucketedTable(tableName: String, buckets: Int): Unit =
    df.write.mode("overwrite").format("parquet")
      .bucketBy(buckets, keyCols.head, keyCols.tail: _*)
      .sortBy(keyCols.head, keyCols.tail: _*)
      .saveAsTable(tableName)

  /** Build side of a join, with the broadcast hint applied. A join
    * that `LocalProbeJoin` rewrites to a generate drops the hint with
    * the join; `except` and larger local probes keep both. */
  private[operators] def buildSide: DataFrame =
    if (broadcastHint) broadcast(df) else df

  /** Resolve which index key prefix a probe joins on.
    * Reference rules (csvplus.go:539-569): `probeCols` may name fewer
    * columns than the index key (prefix join); empty probeCols = natural
    * join on the index's own key names; more columns than the key is an
    * error ("too many source columns").
    */
  private[operators] def probeKeyPairs(
      probeCols: Seq[String], opName: String): Seq[(String, String)] = {
    val probes = if (probeCols.isEmpty) keyCols else probeCols
    if (probes.length > keyCols.length)
      throw new IllegalArgumentException(s"too many source columns in $opName()")
    probes.zip(keyCols)
  }
}

object Index {

  /** Reference `IndexOn` → `createIndex` (csvplus.go:527-531, 707-738):
    * validates the key columns exist (error parity: `missing column %q
    * while creating an index`), rejects empty/duplicate key lists
    * (panic parity), and produces the sorted, joinable Index.
    */
  def indexOn(df: DataFrame, columns: String*): Index =
    build(df, columns, unique = false, broadcastHint = true)

  /** Reference `UniqueIndexOn` (csvplus.go:533-537, 740-756): same, plus
    * an eager duplicate-key check; the error carries the offending key
    * rendered canonically like the reference's `Row.String`.
    */
  def uniqueIndexOn(df: DataFrame, columns: String*): Index =
    build(df, columns, unique = true, broadcastHint = true)

  def build(df: DataFrame, columns: Seq[String], unique: Boolean,
            broadcastHint: Boolean): Index = {
    if (columns.isEmpty)
      throw new IllegalArgumentException("empty column list in CreateIndex()")
    if (columns.distinct.length != columns.length)
      throw new IllegalArgumentException("duplicate column name(s) in CreateIndex()")
    val have = df.columns.toSet
    columns.foreach { c =>
      if (!have(c))
        throw new IllegalArgumentException(
          s"""missing column "$c" while creating an index""")
    }
    // reference: every row must HAVE the key columns (csvplus.go:725);
    // Spark analogue: null key = missing column value.
    val keyNotNull = columns.map(c => col(c).isNotNull).reduce(_ && _)
    val checked = df.filter(
      keyNotNull || raise_error(
        format_string(
          "missing column while creating an index: " +
            columns.map(c => s"$c=%s").mkString(", "),
          columns.map(col): _*)).cast("boolean"))

    if (unique) {
      // distributed duplicate detection: shuffle-count, take one offender
      val dup = df.groupBy(columns.map(col): _*).count()
        .filter(col("count") > 1).limit(1)
        .collect()
      if (dup.nonEmpty) {
        throw new IllegalStateException(
          "duplicate value while creating unique index: " +
            RowFunctions.renderRow(dup.head, columns))
      }
    }
    new Index(checked, columns, broadcastHint)
  }

  /** Reload a persisted index (parquet ↔ reference `LoadIndex`,
    * csvplus.go:683-705). */
  def load(spark: org.apache.spark.sql.SparkSession, path: String,
           columns: String*): Index =
    indexOn(spark.read.parquet(path), columns: _*)

  /** Reload a bucketed index table (keeps the bucket metadata → joins
    * against other same-bucketed tables skip the shuffle). */
  def fromTable(spark: org.apache.spark.sql.SparkSession, tableName: String,
                columns: String*): Index =
    indexOn(spark.table(tableName), columns: _*)
}
