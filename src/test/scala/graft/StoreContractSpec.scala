package graft

import graft.operators.{Dedup, Similarity}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The maintenance contract every persisted store keeps, run over each
  * store kind: the signature, Hamming and paragraph tables and the PQ
  * and IVF-PQ indexes. A probe batch carries a planted copy of one
  * stored item and one item the store has no near-copy of.
  *
  *  - retiring an absent id removes nothing and changes no answer;
  *  - retiring the planted copy's source flips exactly the planted
  *    copy's answer;
  *  - compacting to 1 and then 2 files changes no answer;
  *  - the stats row count drops by exactly the retired rows. */
class StoreContractSpec extends GraftSpec {

  import spark.implicits._

  /** The stored item the batch carries a copy of, and a second one. */
  private val Planted = 3L
  private val Other = 5L
  /** Batch ids: the planted copy, and the other probe. */
  private val CopyId = 1000L
  private val OtherId = 1001L
  private val Absent = 999999L

  /** Doc `src`'s text: three paragraphs of words no other doc uses. */
  private def text(src: Long): String =
    (0 until 3).map(j => s"d$src p$j " +
      (0 until 6).map(k => s"t${src}x${j}x$k").mkString(" ")).mkString("\n")

  private def textDocs(idAndSrc: (Long, Long)*): DataFrame =
    idAndSrc.map { case (id, src) => (id, text(src)) }.toDF("doc_id", "text")

  private def corpus = textDocs((0L until 24L).map(i => (i, i)): _*)
  /** The text stores' batch: a copy of [[Planted]] and a fresh doc. */
  private def batch = textDocs((CopyId, Planted), (OtherId, OtherId))

  private def hamSigs(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), xxhash64(col("text")).as("sig"))

  /** Near-axis vectors: i and i + 8 share an axis, so the nearest
    * neighbour of a copy of i is i, and i + 8 once i is retired. */
  private def axis(i: Long): Seq[Float] =
    Seq.tabulate(8)(j => if (j == i % 8) 1f else 0.01f * ((i + j) % 3))

  private def vecs = (0L until 16L).map(i => (i, axis(i))).toDF("vec_id", "embedding")
  /** The vector stores' batch: copies of [[Planted]] and [[Other]]. */
  private def probes =
    Seq((CopyId, axis(Planted)), (OtherId, axis(Other))).toDF("probe_id", "pv")

  private def survivors(kept: DataFrame): Map[Long, Any] = {
    val ids = kept.select("doc_id").as[Long].collect().toSet
    Seq(CopyId, OtherId).map(i => i -> ids(i)).toMap
  }

  private def top1(found: DataFrame): Map[Long, Any] =
    found.filter(col("rank") === 1)
      .select("probe_id", "neighbor_id").as[(Long, Long)].collect().toMap

  private final case class Kind(
      name: String,
      build: String => Unit,
      answers: String => Map[Long, Any],
      expected: Map[Long, Any],
      retire: (String, DataFrame) => Long,
      compact: (String, Int) => Unit,
      storedRows: String => Long,
      absent: DataFrame,
      source: DataFrame)

  private def kinds = Seq(
    Kind("signature table",
      Dedup.writeSignatureTable(corpus, "doc_id", "text", _),
      p => survivors(Dedup.nearDedupIncremental(spark, p, batch,
        "doc_id", "text", threshold = 0.7)),
      Map(CopyId -> false, OtherId -> true),
      Dedup.retireFromSignatureTable(spark, _, _, "id"),
      Dedup.compactSignatureTable(spark, _, _),
      p => Dedup.signatureTableStats(spark, p).select("n_docs").as[Long].head(),
      Seq(Absent).toDF("id"), Seq(Planted).toDF("id")),
    Kind("Hamming table",
      p => Dedup.writeHammingTable(hamSigs(corpus), "doc_id", "sig", p),
      p => {
        val m = Dedup.hammingNearDupsIncremental(spark, p, hamSigs(batch),
          "doc_id", "sig").select("id_in", "corpus_id").as[(Long, Long)].collect()
        Seq(CopyId, OtherId).map(i => i -> m.filter(_._1 == i).map(_._2).toSet).toMap
      },
      Map(CopyId -> Set(Planted), OtherId -> Set.empty[Long]),
      Dedup.retireFromHammingTable(spark, _, _, "id"),
      Dedup.compactHammingTable(spark, _, _),
      p => Dedup.hammingTableStats(spark, p).select("n_docs").as[Long].head(),
      Seq(Absent).toDF("id"), Seq(Planted).toDF("id")),
    Kind("paragraph table",
      Dedup.writeParagraphTable(corpus, "doc_id", "text", _),
      p => survivors(Dedup.paragraphDedupIncremental(spark, p, batch,
        "doc_id", "text")),
      Map(CopyId -> false, OtherId -> true),
      Dedup.retireFromParagraphTable(spark, _, _, "text"),
      Dedup.compactParagraphTable(spark, _, _),
      p => Dedup.paragraphTableStats(spark, p).select("n_paragraphs").as[Long].head(),
      Seq("a paragraph no document holds").toDF("text"),
      text(Planted).split("\n").toSeq.toDF("text")),
    Kind("PQ index",
      Similarity.writePqIndex(vecs, "vec_id", "embedding", _, m = 4, k = 4, iters = 2),
      p => top1(Similarity.searchPqIndex(spark, p, vecs, "vec_id", "embedding",
        probes, "probe_id", "pv", k = 1, shortlist = 16)),
      Map(CopyId -> Planted, OtherId -> Other),
      Similarity.retireFromPqIndex(spark, _, _, "id"),
      Similarity.compactPqIndex(spark, _, _),
      p => Similarity.pqIndexStats(spark, p).select("n_vectors").as[Long].head(),
      Seq(Absent).toDF("id"), Seq(Planted).toDF("id")),
    Kind("IVF-PQ index",
      Similarity.writeIvfPqIndex(vecs, "vec_id", "embedding", _,
        nlist = 4, m = 4, k = 4, iters = 2),
      p => top1(Similarity.searchIvfPqIndex(spark, p, vecs, "vec_id", "embedding",
        probes, "probe_id", "pv", k = 1, nprobe = 4, shortlist = 16)),
      Map(CopyId -> Planted, OtherId -> Other),
      Similarity.retireFromIvfPqIndex(spark, _, _, "id"),
      Similarity.compactIvfPqIndex(spark, _, _),
      p => Similarity.ivfPqIndexStats(spark, p).select("n_vectors").as[Long].head(),
      Seq(Absent).toDF("id"), Seq(Planted).toDF("id")))

  kinds.foreach { k =>
    test(s"${k.name}: retire and compact keep the answers and the stored-row count") {
      val path = java.nio.file.Files.createTempDirectory("graft_contract_").toString
      k.build(path)
      val base = k.answers(path)
      assert(base == k.expected, s"the probe must match the planted copy only")
      val n0 = k.storedRows(path)

      assert(k.retire(path, k.absent) == 0L, "an absent id retires nothing")
      assert(k.answers(path) == base, "retiring an absent id changes no answer")
      assert(k.storedRows(path) == n0)

      val removed = k.retire(path, k.source)
      assert(removed > 0L)
      val after = k.answers(path)
      assert(after(CopyId) != base(CopyId),
        s"retiring the planted copy's source must flip its answer: $after")
      assert(after - CopyId == base - CopyId, s"and no other answer: $after")
      assert(k.storedRows(path) == n0 - removed,
        "the stats row count drops by exactly the retired rows")

      Seq(1, 2).foreach { n =>
        k.compact(path, n)
        assert(k.answers(path) == after, s"compacting to $n files changes no answer")
        assert(k.storedRows(path) == n0 - removed)
      }
    }
  }

  /** Each text store's stats row, the stat that reads each relation's
    * manifest count, an append of [[batch]], and a retire of the
    * planted source and of a row the append added. */
  private final case class Counted(
      stats: String => DataFrame, counts: Seq[(String, String)],
      append: String => Unit, retire: String => Unit)

  private def counted = Map(
    "signature table" -> Counted(Dedup.signatureTableStats(spark, _),
      Seq("sigs" -> "n_docs", "buckets" -> "n_bucket_rows"),
      Dedup.appendToSignatureTable(spark, _, batch, "doc_id", "text"),
      Dedup.retireFromSignatureTable(spark, _, Seq(Planted, CopyId).toDF("id"), "id")),
    "Hamming table" -> Counted(Dedup.hammingTableStats(spark, _),
      Seq("buckets" -> "n_bucket_rows"),
      Dedup.appendToHammingTable(spark, _, hamSigs(batch), "doc_id", "sig"),
      Dedup.retireFromHammingTable(spark, _, Seq(Planted, CopyId).toDF("id"), "id")),
    "paragraph table" -> Counted(Dedup.paragraphTableStats(spark, _),
      Seq("hashes" -> "n_paragraphs"),
      Dedup.appendToParagraphTable(spark, _, batch, "doc_id", "text"),
      Dedup.retireFromParagraphTable(spark, _,
        (text(Planted) + "\n" + text(OtherId)).split("\n").toSeq.toDF("text"), "text")))

  kinds.filter(k => counted.contains(k.name)).foreach { k =>
    test(s"${k.name} stats read counts equal to a scan after each commit") {
      val c = counted(k.name)
      val path = java.nio.file.Files.createTempDirectory("graft_contract_").toString
      def check(step: String): Unit = {
        val st = c.stats(path).head()
        c.counts.foreach { case (rel, stat) =>
          val snap = graft.operators.Store.snapshot(spark, s"$path/$rel")
          assert(snap.manifestRowCount.isDefined, s"$step: $rel has manifest counts")
          assert(st.getAs[Long](stat) == snap.df.count(), s"$step: $stat")
        }
      }
      k.build(path)
      check("create")
      c.append(path)
      check("append")
      c.retire(path)
      check("retire")
      k.compact(path, 1)
      check("compact")
    }
  }

  test("a signature table keyed by int ids answers like the reference form") {
    // the candidate sig fetch prunes files by the collected int ids
    val path = java.nio.file.Files.createTempDirectory("graft_contract_").toString
    val intIds = (d: DataFrame) => d.select(col("doc_id").cast("int").as("doc_id"), col("text"))
    Dedup.writeSignatureTable(intIds(corpus), "doc_id", "text", path)
    val kept = Dedup.nearDedupIncremental(spark, path, intIds(batch),
      "doc_id", "text", threshold = 0.7).select("doc_id").as[Int].collect().toSet
    val reference = Dedup.nearDedupIncremental(intIds(corpus), intIds(batch),
      "doc_id", "text", threshold = 0.7).select("doc_id").as[Int].collect().toSet
    assert(kept == reference && kept == Set(OtherId.toInt))
  }
}
