package graft

import graft.operators.Dedup

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Scale shape of the three persisted probe stores: the signature
  * table, the Hamming table and the paragraph table. A fixed batch's
  * probe must read about the same files and bytes when the store grows
  * 8×. Each store is built from N and from 8N documents with the file
  * size pinned to [[RowsPerFile]] rows, so growth adds files of
  * constant size, as in a large store, where file size is a constant
  * and the file count follows the corpus. The per-file prune then keeps
  * at most one file per touched key at either scale. This is
  * the REPOSE property (per-partition summaries prune a similarity
  * search so its work follows the result, not the corpus), asserted as
  * file and byte counts rather than time.
  *
  * Slack: at 8N the kept files and kept bytes may each be up to
  * [[Slack]]× their value at N. Two touched keys can share a file at N
  * and land in separate files at 8N, and file sizes vary around the
  * pinned row count. A prune that kept a share of the corpus instead
  * would keep 8× the files at 8N. */
class ScaleShapeSpec extends GraftSpec {

  import ScaleShapeSpec.Footprint
  import spark.implicits._

  /** Documents in the smaller store; the larger one holds 8N. */
  private val N = 256L
  private val RowsPerFile = 64L
  private val Slack = 2L
  private val Paragraphs = 4

  /** The probe batch is one doc: a copy of corpus doc [[Planted]] (in
    * both stores) under a fresh id. The exactness batch adds a doc
    * whose text no store holds, which must survive. */
  private val Planted = 7L
  private val CopyId = 1000000000L
  private val FreshId = CopyId + 1

  /** Doc `id`'s text: [[Paragraphs]] lines, each unique to the doc. */
  private def docText(id: Column): Column =
    concat_ws("\n", (0 until Paragraphs).map { j =>
      concat_ws(" ", (Seq(concat(lit("d"), id.cast("string")), lit(s"p$j")) ++
        (0 until 6).map(k => concat(lit("w"),
          pmod(xxhash64(id, lit(j), lit(k)), lit(5000L)).cast("string")))): _*)
    }: _*)

  private def corpus(n: Long): DataFrame =
    spark.range(n).select(col("id").as("doc_id"), docText(col("id")).as("text"))

  private def docs(idAndSrc: (Long, Long)*): DataFrame =
    idAndSrc.toDF("doc_id", "src")
      .select(col("doc_id"), docText(col("src")).as("text"))

  private def probe: DataFrame = docs((CopyId, Planted))
  private def batch: DataFrame = docs((CopyId, Planted), (FreshId, FreshId))

  private def hamSigs(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), xxhash64(col("text")).as("sig"))

  /** Build with `spark.sql.shuffle.partitions` = totalRows / RowsPerFile
    * and AQE coalescing off, so the file count follows the corpus and
    * the file size does not. */
  private def pinnedBuild(totalRows: Long)(build: => Unit): Unit = {
    val prevParts = spark.conf.get("spark.sql.shuffle.partitions")
    val prevCoal = spark.conf.get(
      "spark.sql.adaptive.coalescePartitions.enabled", "true")
    try {
      spark.conf.set("spark.sql.shuffle.partitions",
        (totalRows / RowsPerFile).toString)
      spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
      build
    } finally {
      spark.conf.set("spark.sql.shuffle.partitions", prevParts)
      spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", prevCoal)
    }
  }

  /** Build the store at N and 8N docs (`rowsPerDoc` stored rows each),
    * measure the probe's footprint on both, assert the shape, and
    * return the 8N store's path. */
  private def assertFlat(store: String, rowsPerDoc: Long)(
      build: (DataFrame, String) => Unit)(
      footprint: String => (Long, Long, Long, Long)): String = {
    val dir = java.nio.file.Files.createTempDirectory(s"graft_shape_$store").toString
    val Seq(small, big) = Seq(N, 8 * N).map { n =>
      val path = s"$dir/n$n"
      pinnedBuild(n * rowsPerDoc)(build(corpus(n), path))
      (Footprint.apply _).tupled(footprint(path))
    }
    val shape = s"$store: N $small, 8N $big"
    info(shape)
    assert(big.totalFiles >= 6 * small.totalFiles,
      s"the 8N store must really hold more files; $shape")
    assert(small.keptFiles > 0 && 2 * small.keptFiles < small.totalFiles,
      s"the probe at N must skip most files; $shape")
    assert(big.keptFiles <= Slack * small.keptFiles,
      s"kept files must stay flat as the store grows 8x; $shape")
    assert(big.keptBytes <= Slack * small.keptBytes,
      s"kept bytes must stay flat as the store grows 8x; $shape")
    s"$dir/n${8 * N}"
  }

  test("signature table probe reads flat files and bytes as the store grows 8x") {
    val big = assertFlat("signature", rowsPerDoc = 16L)(
      Dedup.writeSignatureTable(_, "doc_id", "text", _))(p =>
      Dedup.probeFileFootprint(Dedup.openSignatureTable(spark, p), probe,
        "doc_id", "text"))
    val survivors = Dedup.nearDedupIncremental(spark, big, batch,
      "doc_id", "text", threshold = 0.7).select("doc_id").as[Long].collect()
    assert(survivors.toSet == Set(FreshId),
      "the pruned probe must still reject the planted copy")
  }

  test("Hamming table probe reads flat files and bytes as the store grows 8x") {
    val big = assertFlat("hamming", rowsPerDoc = 4L)((docs, p) =>
      Dedup.writeHammingTable(hamSigs(docs), "doc_id", "sig", p))(p =>
      Dedup.hammingProbeFootprint(Dedup.openHammingTable(spark, p),
        hamSigs(probe), "sig"))
    val matches = Dedup.hammingNearDupsIncremental(spark, big, hamSigs(batch),
      "doc_id", "sig").select("id_in", "corpus_id").as[(Long, Long)].collect()
    assert(matches.toSet == Set((CopyId, Planted)),
      "the pruned probe must still match the planted copy")
  }

  test("paragraph table probe reads flat files and bytes as the store grows 8x") {
    val big = assertFlat("paragraph", rowsPerDoc = Paragraphs.toLong)(
      Dedup.writeParagraphTable(_, "doc_id", "text", _))(p =>
      Dedup.paragraphProbeFootprint(spark, p, probe, "text"))
    val survivors = Dedup.paragraphDedupIncremental(spark, big, batch,
      "doc_id", "text").select("doc_id").as[Long].collect()
    assert(survivors.toSet == Set(FreshId),
      "the pruned probe must still drop every paragraph of the planted copy")
  }
}

object ScaleShapeSpec {
  private final case class Footprint(
      keptFiles: Long, keptBytes: Long, totalFiles: Long, totalBytes: Long)
}
