package graft

import graft.operators.{BloomJoin, Corpus, Dedup, Multimodal, Stats}

import org.apache.spark.sql.functions._

/** Round-3 operators: connected components / cluster resolution,
  * corpus statistics, bloom-pruned join, skew histogram, winsorize,
  * frame sampling. */
class ClusterStatsSpec extends GraftSpec {

  import spark.implicits._

  // ── connected components ──

  test("connectedComponents labels chains, cliques and separate components") {
    // component {1,2,3,4} (a chain), component {10,11} and self-loop 20
    val edges = Seq(
      (2L, 1L), (2L, 3L), (3L, 4L), // chain 1-2-3-4
      (10L, 11L),
      (20L, 20L), // self-loop: dropped, node vanishes (no real edge)
      (5L, 6L), (6L, 5L) // duplicate edge both directions
    ).toDF("src", "dst")
    val comps = Dedup.connectedComponents(edges, "src", "dst")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(comps(1L) == 1L && comps(2L) == 1L && comps(3L) == 1L && comps(4L) == 1L)
    assert(comps(10L) == 10L && comps(11L) == 10L)
    assert(comps(5L) == 5L && comps(6L) == 5L)
    assert(!comps.contains(20L), "self-loop-only node must not appear")
  }

  test("connectedComponents converges on a long chain (diameter > a few hops)") {
    val n = 40
    val edges = (1 until n).map(i => (i.toLong, (i + 1).toLong)).toDF("src", "dst")
    val comps = Dedup.connectedComponents(edges, "src", "dst", maxIter = 50)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(comps.size == n)
    assert(comps.values.forall(_ == 1L), "whole chain is one component labelled 1")
  }

  test("keepCanonical keeps the best row per cluster and all singletons") {
    val docs = Seq(
      (1L, "aa", 10L), (2L, "bb", 30L), (3L, "cc", 30L), // cluster {1,2,3}
      (7L, "dd", 5L) // singleton
    ).toDF("id", "body", "len")
    val comps = Seq((1L, 1L), (2L, 1L), (3L, 1L)).toDF("id", "component")
    val kept = Dedup.keepCanonical(docs, "id", comps,
      pick = Seq(col("len").desc, col("id").asc))
      .select("id").as[Long].collect().toSet
    // len tie between 2 and 3 → smaller id 2 wins; singleton 7 stays
    assert(kept == Set(2L, 7L))
  }

  test("materializeComponents round-trips through parquet via fromMaterialized") {
    val edges = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("src", "dst")
    val path = graft.Scratch.path("test_mat_comps")
    val comps = Dedup.materializeComponents(edges, "src", "dst", path)
    val m = comps.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(m == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L))
    val again = Dedup.fromMaterialized(spark, path)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(again == m, "a later reader sees the same materialized clusters")
  }

  test("nearDedupMaterialized matches nearDedup and exposes the components") {
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta " * 4),
      (2L, "alpha beta gamma delta epsilon zeta eta theta " * 4 + "tail"),
      (3L, "totally different words live in this document here")
    ).toDF("doc_id", "text")
    val path = graft.Scratch.path("test_nd_mat")
    val (comps, surv) =
      Dedup.nearDedupMaterialized(docs, "doc_id", "text", path, threshold = 0.5)
    val kept = surv.select("doc_id").as[Long].collect().toSet
    val expected = Dedup.nearDedup(docs, "doc_id", "text", threshold = 0.5)
      .select("doc_id").as[Long].collect().toSet
    assert(kept == expected)
    // cluster {1,2} is visible to downstream consumers, from parquet
    assert(comps.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap ==
      Map(1L -> 1L, 2L -> 1L))
  }

  test("nearDedupIncremental keeps fresh incoming docs, drops dups of existing") {
    val base = "the quick brown fox jumps over the lazy dog again and again " * 3
    val existing = Seq(
      (1L, base + "tail"),
      (2L, "unrelated words entirely in this one here")
    ).toDF("doc_id", "text")
    val incoming = Seq(
      (10L, base + "tail"), // exact dup of existing 1 → dropped
      (11L, base + "other ending"), // near-dup of existing 1 → dropped
      (12L, "completely fresh content about catalyst physical planning"),
      (13L, "completely fresh content about catalyst physical planning")
    ).toDF("doc_id", "text") // 12/13 duplicate each other → 12 survives
    val kept = Dedup.nearDedupIncremental(existing, incoming,
      "doc_id", "text", threshold = 0.6)
      .select("doc_id").as[Long].collect().toSet
    assert(kept == Set(12L), s"got $kept")
  }

  test("signature-table incremental dedup matches the corpus-recomputing reference form") {
    val base = "the quick brown fox jumps over the lazy dog again and again " * 3
    val existing = Seq(
      (1L, base + "tail"),
      (2L, "unrelated words entirely in this one here")
    ).toDF("doc_id", "text")
    val incoming = Seq(
      (10L, base + "tail"), // exact dup of existing 1 → dropped
      (11L, base + "other ending"), // near-dup of existing 1 → dropped
      (12L, "completely fresh content about catalyst physical planning"),
      (13L, "completely fresh content about catalyst physical planning")
    ).toDF("doc_id", "text") // 12/13 duplicate each other → 12 survives
    val sigPath = graft.Scratch.path("test_sig_table")
    Dedup.writeSignatureTable(existing, "doc_id", "text", sigPath)
    // round-trip: the persisted relations carry what the write declared
    val meta = spark.read.parquet(s"$sigPath/meta").head()
    assert(meta.getAs[Int]("shingle_len") == 3 &&
      meta.getAs[Int]("num_perm") == 64 && meta.getAs[Int]("bands") == 16)
    val sigs = graft.operators.Store.read(spark, s"$sigPath/sigs")
    assert(sigs.count() == 2 &&
      sigs.select(size(col("sig"))).as[Int].collect().forall(_ == 64))
    assert(graft.operators.Store.read(spark, s"$sigPath/buckets").count() == 2 * 16)
    // the production path must produce the reference form's survivors
    val viaTable = Dedup.nearDedupIncremental(spark, sigPath, incoming,
      "doc_id", "text", threshold = 0.6)
      .select("doc_id").as[Long].collect().toSet
    val reference = Dedup.nearDedupIncremental(existing, incoming,
      "doc_id", "text", threshold = 0.6)
      .select("doc_id").as[Long].collect().toSet
    assert(viaTable == reference && viaTable == Set(12L), s"got $viaTable")
    // a batch with no corpus overlap at all dedups among itself only
    val freshOnly = Seq(
      (20L, "twenty one two three four five six seven eight"),
      (21L, "twenty one two three four five six seven eight"))
      .toDF("doc_id", "text")
    val keptFresh = Dedup.nearDedupIncremental(spark, sigPath, freshOnly,
      "doc_id", "text", threshold = 0.6)
      .select("doc_id").as[Long].collect().toSet
    assert(keptFresh == Set(20L), s"got $keptFresh")
  }

  test("nearDedupIngest appends survivors so later batches dedup against them") {
    val existing = Seq(
      (1L, "the quick brown fox jumps over the lazy dog again " * 3))
      .toDF("doc_id", "text")
    val sigPath = graft.Scratch.path("test_sig_ingest")
    graft.Scratch.remove("test_sig_ingest")
    Dedup.writeSignatureTable(existing, "doc_id", "text", sigPath)
    val batch1 = Seq(
      (10L, "completely fresh content about catalyst physical planning today"),
      (11L, "the quick brown fox jumps over the lazy dog again " * 3)) // dup of 1
      .toDF("doc_id", "text")
    val surv1 = Dedup.nearDedupIngest(spark, sigPath, batch1,
      "doc_id", "text", threshold = 0.6)
      .select("doc_id").as[Long].collect().toSet
    assert(surv1 == Set(10L), s"got $surv1")
    // batch 2: a copy of batch 1's SURVIVOR must now be rejected — that
    // is the append contract; a fresh doc still survives
    val batch2 = Seq(
      (20L, "completely fresh content about catalyst physical planning today"),
      (21L, "another new document entirely its own words throughout here"))
      .toDF("doc_id", "text")
    val surv2 = Dedup.nearDedupIngest(spark, sigPath, batch2,
      "doc_id", "text", threshold = 0.6)
      .select("doc_id").as[Long].collect().toSet
    assert(surv2 == Set(21L), s"got $surv2")
    // the table grew by exactly the survivors (1 + 1 rows of sigs)
    assert(graft.operators.Store.read(spark, s"$sigPath/sigs").count() == 3)
    // appended buckets respect the stored cap headroom: no (band,
    // bucket) exceeds max_bucket_size
    val over = graft.operators.Store.read(spark, s"$sigPath/buckets")
      .groupBy(col("band"), col("bucket")).count()
      .filter(col("count") > 1000).count()
    assert(over == 0)
  }

  /** A signature table holding one doc, plus a landing dir with two
    * one-file batches: batch 1 is a fresh doc (10) and a copy of the
    * stored doc (11); batch 2 copies 10 (20) and adds a fresh doc (21). */
  private def streamIngestFixture(name: String): (String, String) = {
    val existing = Seq(
      (1L, "the quick brown fox jumps over the lazy dog again " * 3))
      .toDF("doc_id", "text")
    val base = graft.Scratch.path(name)
    graft.Scratch.remove(name)
    Dedup.writeSignatureTable(existing, "doc_id", "text", s"$base/sig")
    val landing = java.nio.file.Paths.get(s"$base/landing")
    java.nio.file.Files.createDirectories(landing)
    val batches = Seq(
      Seq((10L, "completely fresh content about catalyst physical planning today"),
          (11L, "the quick brown fox jumps over the lazy dog again " * 3)),
      Seq((20L, "completely fresh content about catalyst physical planning today"),
          (21L, "another new document entirely its own words throughout here")))
    batches.zipWithIndex.foreach { case (rows, i) =>
      val stage = s"$base/stage_$i"
      rows.toDF("doc_id", "text").coalesce(1)
        .write.mode("overwrite").parquet(stage)
      val part = {
        val walk = java.nio.file.Files.list(java.nio.file.Paths.get(stage))
        try walk.filter(p => p.getFileName.toString.endsWith(".parquet"))
          .findFirst().get()
        finally walk.close()
      }
      val target = landing.resolve(f"0000$i.parquet")
      java.nio.file.Files.move(part, target)
      java.nio.file.Files.setLastModifiedTime(target,
        java.nio.file.attribute.FileTime.fromMillis(1000000000000L + i * 2000L))
    }
    (base, landing.toString)
  }

  test("nearDedupIngestStreamed drains a landing directory one micro-batch per file") {
    val (base, landing) = streamIngestFixture("test_stream_ingest")
    Dedup.nearDedupIngestStreamed(spark, s"$base/sig", landing,
      "doc_id", "text", threshold = 0.6, outPath = s"$base/out",
      checkpointDir = Some(s"$base/ckpt"))
    // batch 1: 11 duplicates the corpus -> only 10 survives; batch 2:
    // 20 duplicates batch 1's APPENDED survivor -> only 21 survives
    val out = spark.read.parquet(s"$base/out")
      .select("doc_id").as[Long].collect().toSet
    assert(out == Set(10L, 21L), s"got $out")
    // survivors' signatures were appended micro-batch by micro-batch
    assert(graft.operators.Store.read(spark, s"$base/sig/sigs").count() == 3)
  }

  test("nearDedupIngestStreamed rerun on the same checkpoint ingests nothing twice") {
    val (base, landing) = streamIngestFixture("test_stream_ingest_rerun")
    def ingest(): Unit =
      Dedup.nearDedupIngestStreamed(spark, s"$base/sig", landing,
        "doc_id", "text", threshold = 0.6, outPath = s"$base/out",
        checkpointDir = Some(s"$base/ckpt"))
    def outRows = spark.read.parquet(s"$base/out").count()
    def sigRows = graft.operators.Store.read(spark, s"$base/sig/sigs").count()
    def commits = Option(new java.io.File(s"$base/ckpt/commits").list())
      .fold(0)(_.count(!_.startsWith(".")))
    ingest()
    assert((outRows, sigRows, commits) == (2L, 3L, 2))
    // no new landing files: the offset log says both are done, so the
    // rerun runs no micro-batch and appends nothing anywhere
    ingest()
    assert((outRows, sigRows, commits) == (2L, 3L, 2))
  }

  test("appendToSignatureTable admits rows only up to a bucket's remaining headroom") {
    // cap 2: table starts with ONE doc in every bucket it owns; a
    // 3-copy batch of the same text can add at most 1 more per bucket
    val text = "identical content for every row here now " * 2
    val sigPath = graft.Scratch.path("test_sig_headroom")
    graft.Scratch.remove("test_sig_headroom")
    Dedup.writeSignatureTable(Seq((1L, text)).toDF("doc_id", "text"),
      "doc_id", "text", sigPath, maxBucketSize = 2)
    Dedup.appendToSignatureTable(spark,
      sigPath, Seq((2L, text), (3L, text), (4L, text)).toDF("doc_id", "text"),
      "doc_id", "text")
    val occ = graft.operators.Store.read(spark, s"$sigPath/buckets")
      .groupBy(col("band"), col("bucket")).count()
      .select(max(col("count"))).head().getLong(0)
    assert(occ == 2, s"max occupancy $occ must honor the stored cap")
    // deterministic admission: smallest id first → doc 2 got the slots
    val ids = graft.operators.Store.read(spark, s"$sigPath/buckets")
      .select("id").distinct().as[Long].collect().toSet
    assert(ids == Set(1L, 2L), s"got $ids")
  }

  test("exactNgramJaccard hot-gram guard fails loudly, or truncates on request") {
    // five docs sharing one bigram ("shared gram"); everything else unique
    val docs = (1 to 5).map(i =>
      (i.toLong, s"shared gram unique$i tail$i")).toDF("doc_id", "text")
    // uncapped: each pair shares exactly 1 of its 3+3 distinct bigrams
    val uncapped = Dedup.exactNgramJaccard(docs, "doc_id", "text",
      n = 2, threshold = 0.15, maxDocsPerGram = Int.MaxValue)
    assert(uncapped.count() == 10, "5 choose 2 pairs at jaccard 1/5")
    // default mode: a gram over the cap FAILS THE JOB with a diagnostic
    val e = intercept[Throwable] {
      Dedup.exactNgramJaccard(docs, "doc_id", "text",
        n = 2, threshold = 0.15, maxDocsPerGram = 3).count()
    }
    def messages(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(messages(e).exists(_.contains("maxDocsPerGram")),
      s"diagnostic must name the guard, got: ${messages(e)}")
    // dropHotGrams: the hot gram leaves the gram space entirely → the
    // surviving gram sets are disjoint → no pair reaches any threshold
    val dropped = Dedup.exactNgramJaccard(docs, "doc_id", "text",
      n = 2, threshold = 0.15, maxDocsPerGram = 3, dropHotGrams = true)
    assert(dropped.count() == 0)
    intercept[IllegalArgumentException] {
      Dedup.exactNgramJaccard(docs, "doc_id", "text", maxDocsPerGram = 0)
    }
  }

  test("memoized scratch relations go stale-safe when the input is regenerated") {
    // the memo key carries a content-version (row count + max id), so
    // REGENERATING a documents table at the same path within one JVM
    // must produce fresh clusters, not the first run's memo (r8 verdict
    // item #7)
    val dir = java.nio.file.Files.createTempDirectory("graft_stale_").toString
    def writeDocs(rows: Seq[(Long, String, Long, String)]): Unit =
      rows.toDF("doc_id", "text", "n_chars", "source")
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val shared = "eight shared tokens make one shared eight gram here today"
    writeDocs(Seq(
      (1L, shared, 10L, "a"), (2L, shared + " tail", 11L, "a"),
      (3L, "completely different text with no overlap at all whatsoever", 9L, "b")))
    val first = SparkEntry.queries("q_dup_clusters")(spark, dir)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(first(1L) == 1L && first(2L) == 1L && first(3L) == 3L)
    // regenerate: doc 2 no longer duplicates doc 1, and a new doc 4 does
    writeDocs(Seq(
      (1L, shared, 10L, "a"),
      (2L, "entirely new second document body with fresh words only", 11L, "a"),
      (3L, "completely different text with no overlap at all whatsoever", 9L, "b"),
      (4L, shared + " coda", 12L, "a")))
    val second = SparkEntry.queries("q_dup_clusters")(spark, dir)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(second(4L) == 1L && second(2L) == 2L,
      s"regenerated input must re-cluster, got $second")
    // Scratch.clear() empties the scratch space and drops the memos;
    // the next call rebuilds from live input and still answers correctly
    graft.Scratch.clear()
    val third = SparkEntry.queries("q_dup_clusters")(spark, dir)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(third == second)
  }

  test("tokenless documents cluster to min(doc_id) with no pair enumeration") {
    // ≥3 tokenless docs: whitespace-only texts share the single empty
    // 8-gram, so they are one cluster labelled min id (2); the null-text
    // doc and the token-ful singleton stay their own clusters
    val dir = java.nio.file.Files.createTempDirectory("graft_tokenless_").toString
    Seq(
      (1L, "the quick brown fox jumps over the lazy dog again", 49L, "a"),
      (2L, "   ", 3L, "b"),
      (5L, "\t\t", 2L, "c"),
      (9L, " ", 1L, "d"),
      (11L, null.asInstanceOf[String], 0L, "e")
    ).toDF("doc_id", "text", "n_chars", "source")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val clusters = SparkEntry.queries("q_dup_clusters")(spark, dir)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(clusters(2L) == 2L && clusters(5L) == 2L && clusters(9L) == 2L,
      s"tokenless docs must share cluster 2, got $clusters")
    assert(clusters(1L) == 1L && clusters(11L) == 11L)
    // resolution keeps exactly one tokenless survivor (longest = doc 2)
    val kept = SparkEntry.queries("q_cluster_resolve")(spark, dir)
      .collect().map(_.getLong(0)).toSet
    assert(kept == Set(1L, 2L, 11L), s"got $kept")
  }

  // ── corpus statistics ──

  private lazy val corpus = Seq(
    (1L, "the cat sat"),
    (2L, "the dog sat"),
    (3L, "THE the the unique")
  ).toDF("doc_id", "text")

  test("invertedIndex emits (term, df, doc_id) postings with correct df") {
    val idx = Corpus.invertedIndex(corpus, "doc_id", "text")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val byTerm = idx.groupBy(_._1)
    assert(byTerm("the").map(_._3).toSet == Set(1L, 2L, 3L))
    assert(byTerm("the").forall(_._2 == 3L), "df(the) = 3 docs")
    // doc 3 contributes 'the' ONCE (distinct per doc) despite 3 copies
    assert(byTerm("the").length == 3)
    assert(byTerm("sat").forall(_._2 == 2L))
    assert(byTerm("unique").map(_._3).toSet == Set(3L))
  }

  test("topTermsByRarity ranks rare terms first, ties by term asc") {
    val top = Corpus.topTermsByRarity(corpus, "doc_id", "text", k = 2)
      .collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("term"),
        r.getAs[Long]("tf"), r.getAs[Long]("df"), r.getAs[Int]("rnk")))
    val doc1 = top.filter(_._1 == 1L).sortBy(_._5)
    // doc 1: cat (df=1) beats sat (df=2) beats the (df=3)
    assert(doc1.map(_._2).toSeq == Seq("cat", "sat"))
    val doc3 = top.filter(_._1 == 3L).sortBy(_._5)
    // doc 3: tf(the)=3, df=3 → score 1.0; unique 1/1 → 1.0; tie → term asc
    assert(doc3.map(_._2).toSeq == Seq("the", "unique"))
  }

  test("topTermsByRarity log idf is a valid alternative scoring") {
    val top = Corpus.topTermsByRarity(corpus, "doc_id", "text", k = 1, idf = "log")
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("term")).toMap
    assert(top(1L) == "cat") // rarest term still wins under log idf
    intercept[IllegalArgumentException] {
      Corpus.topTermsByRarity(corpus, "doc_id", "text", k = 1, idf = "sqrt")
    }
  }

  test("ngramCounts counts corpus bigrams with minCount") {
    val counts = Corpus.ngramCounts(corpus, "text", n = 2)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(counts("the cat") == 1L)
    // 'the the' occurs twice in doc 3 ("THE the the" keeps case: 'THE the', 'the the')
    assert(counts("the the") == 1L)
    assert(counts("THE the") == 1L)
    val minTwo = Corpus.ngramCounts(corpus, "text", n = 2, minCount = 2L)
      .collect()
    assert(minTwo.isEmpty, "no bigram repeats across this corpus")
  }

  test("vocabCoverage: deterministic top-V cut, exact OOV counts") {
    // term counts: a×4, b×3, c×2, z×1 — topV=2 keeps {a, b}
    val docs = Seq(
      (1L, "a a b c"),
      (2L, "a b z"),
      (3L, "a b c")
    ).toDF("doc_id", "text")
    val out = Corpus.vocabCoverage(docs, "doc_id", "text", topV = 2)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(out(1L) == ((4L, 1L, 0.25)), "doc 1: c is OOV")
    assert(out(2L) == ((3L, 1L, 1.0 / 3.0)), "doc 2: z is OOV")
    assert(out(3L) == ((3L, 1L, 1.0 / 3.0)), "doc 3: c is OOV")
    // the boundary tie (c×2 vs a hypothetical d×2) breaks by term asc:
    // with topV=3 the vocabulary is {a, b, c} and z stays the only OOV
    val three = Corpus.vocabCoverage(
      docs.union(Seq((4L, "d d")).toDF("doc_id", "text")),
      "doc_id", "text", topV = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(three(1L) == 0L && three(2L) == 1L && three(4L) == 2L,
      "c (term asc) wins the c/d count tie at the V boundary")
    // empty-token docs are absent, not divide-by-zero
    val empty = Corpus.vocabCoverage(
      Seq((9L, "   ")).toDF("doc_id", "text"), "doc_id", "text", topV = 1)
    assert(empty.count() == 0L)
    intercept[IllegalArgumentException](
      Corpus.vocabCoverage(docs, "doc_id", "text", topV = 0))
  }

  test("canonicalUrl: scheme/host case, default ports, utm params, fragment") {
    import graft.functions.TextFunctions.canonicalUrl
    val cases = Seq(
      ("HTTP://WWW.Ex.COM:80/A/b?utm_source=x&id=1#frag",
        "http://www.ex.com/A/b?id=1"),
      ("https://Ex.COM:443/", "https://ex.com/"),
      ("https://ex.com:80/p", "https://ex.com:80/p"), // :80 not https default
      ("http://ex.com:8080/p?a=1&utm_b=2&c=3", "http://ex.com:8080/p?a=1&c=3"),
      ("http://EX.com", "http://ex.com/"),             // empty path → "/"
      ("http://ex.com/p?utm_only=1", "http://ex.com/p") // all params dropped
    ).toDF("url", "want")
    val bad = cases
      .withColumn("got", canonicalUrl(col("url")))
      .filter(col("got") =!= col("want"))
      .collect()
    assert(bad.isEmpty,
      bad.map(r => s"${r.getString(0)}: got ${r.getString(2)}").mkString("; "))
  }

  // ── bloom-pruned join ──

  test("bloom parameters: power-of-two sizing, sane k") {
    val (mBytes, k) = BloomJoin.parameters(1000L, 0.01)
    assert((mBytes & (mBytes - 1)) == 0 && mBytes * 8L >= 9585)
    assert(k >= 1 && k <= 30)
    intercept[IllegalArgumentException](BloomJoin.parameters(0L, 0.01))
    intercept[IllegalArgumentException](BloomJoin.parameters(10L, 1.5))
  }

  test("bloom semiJoin equals the exact semi join") {
    val fact = (1L to 2000L).map(i => (i, s"f$i")).toDF("k", "payload")
    val dim = (1L to 2000L by 7).map(i => (i, "d")).toDF("dk", "tag")
    val got = BloomJoin.semiJoin(fact, dim, "k", "dk")
      .select("k").as[Long].collect().toSet
    val want = fact.join(dim, fact("k") === dim("dk"), "left_semi")
      .select("k").as[Long].collect().toSet
    assert(got == want)
  }

  test("bloom membership has no false negatives and prunes most non-members") {
    val keys = (1L to 1000L by 3).toArray
    val (mBytes, k) = BloomJoin.parameters(keys.length.toLong, 0.01)
    val bits = new Array[Byte](mBytes)
    def h(x: Long): Long = {
      // same keying as the operator: xxhash64 via a tiny DF round-trip
      // is overkill here — exercise the kernel directly
      x * 0x9E3779B97F4A7C15L
    }
    keys.foreach(x => graft.plans.VectorKernels.bloomSet(bits, h(x), k))
    assert(keys.forall(x =>
      graft.plans.VectorKernels.bloomMightContain(bits, h(x), k)),
      "a bloom filter must never reject an inserted key")
    val nonMembers = (2L to 1000L by 3).toArray
    val fpRate = nonMembers.count(x =>
      graft.plans.VectorKernels.bloomMightContain(bits, h(x), k)).toDouble /
      nonMembers.length
    assert(fpRate < 0.05, s"false-positive rate $fpRate far above target 0.01")
  }

  // ── skew histogram / winsorize ──

  test("keyHistogram ranks heavy keys with exact shares") {
    val rows = (Seq.fill(6)("hot") ++ Seq.fill(3)("warm") ++ Seq("cold"))
      .toDF("k")
    val h = Stats.keyHistogram(rows, Seq("k"), topN = 2)
      .collect().map(r => (r.getAs[String]("k"), r.getAs[Long]("n"),
        r.getAs[Double]("share"), r.getAs[Int]("rnk")))
    assert(h.toSeq.sortBy(_._4) == Seq(
      ("hot", 6L, 0.6, 1), ("warm", 3L, 0.3, 2)))
  }

  test("winsorize clips to discrete per-group percentile bounds") {
    // group g: values 1..10; p10 → rank ceil(0.1*10)=1 → lo=1;
    // p80 → rank 8 → hi=8
    val df = (1 to 10).map(v => ("g", v.toLong)).toDF("grp", "v")
    val out = Stats.winsorize(df, "grp", "v", 0.1, 0.8)
      .select("v", "lo", "hi", "clipped")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(out.forall { case (_, lo, hi, _) => lo == 1L && hi == 8L })
    assert(out.find(_._1 == 9L).get._4 == 8L, "9 clips down to hi")
    assert(out.find(_._1 == 5L).get._4 == 5L, "interior value unchanged")
    intercept[IllegalArgumentException](Stats.winsorize(df, "grp", "v", 0.9, 0.1))
  }

  test("winsorize clips rows whose group key is NULL (null-safe bounds join)") {
    val df = ((1 to 10).map(v => (Option.empty[String], v.toLong)) ++
      Seq((Some("g"), 100L))).toDF("grp", "v")
    val out = Stats.winsorize(df, "grp", "v", 0.1, 0.8)
      .filter(col("grp").isNull)
      .select("v", "lo", "hi", "clipped")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(out.length == 10)
    assert(out.forall { case (_, lo, hi, _) => lo == 1L && hi == 8L },
      "NULL-group rows must receive their own group's bounds, not pass through")
    assert(out.find(_._1 == 10L).get._4 == 8L, "NULL-group outlier clips down")
  }

  // ── Misra-Gries top-k sketch ──

  test("topkSketch is exact (and equal to groupBy) below the counter budget") {
    val rows = (Seq.fill(7)("a") ++ Seq.fill(4)("b") ++ Seq.fill(2)("c")).toDF("v")
    val got = rows.agg(graft.functions.Udafs.topkSketch(16)(col("v")))
      .head().getSeq[org.apache.spark.sql.Row](0)
      .map(r => r.getString(0) -> r.getLong(1))
    assert(got == Seq("a" -> 7L, "b" -> 4L, "c" -> 2L))
  }

  test("topkSketch guarantees heavy hitters above n/(k+1) in the approximate regime") {
    // 1000 rows: "hot" occurs 400 times (40%), rest are near-unique noise.
    // With k=9, any item above n/(k+1) = 10% MUST be reported.
    val data = (Seq.fill(400)("hot") ++ (1 to 600).map(i => s"noise$i"))
    val df = spark.sparkContext.parallelize(data, 8).toDF("v")
    val got = df.agg(graft.functions.Udafs.topkSketch(9)(col("v")))
      .head().getSeq[org.apache.spark.sql.Row](0)
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got.contains("hot"), s"guaranteed heavy hitter missing: $got")
    assert(got("hot") <= 400L, "MG counts are lower bounds")
    assert(got("hot") >= 400L - 1000L / 10, "undercount bounded by n/(k+1)")
    assert(got.size <= 9, "at most k counters survive")
  }

  // ── upsert / SCD-2 ──

  test("upsert replaces matched keys, appends new ones, passes the rest through") {
    val target = Seq((1L, "a", 10.0), (2L, "b", 20.0), (3L, "c", 30.0))
      .toDF("k", "name", "bal")
    val updates = Seq((2L, "b2", 99.0), (9L, "new", 1.0))
      .toDF("k", "name", "bal")
    val out = graft.operators.Merge.upsert(target, updates, Seq("k"))
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.getDouble(2))).toMap
    assert(out == Map(
      1L -> ("a", 10.0), 2L -> ("b2", 99.0), 3L -> ("c", 30.0), 9L -> ("new", 1.0)))
    intercept[IllegalArgumentException] {
      graft.operators.Merge.upsert(target, updates.select("name", "k", "bal"), Seq("k"))
    }
  }

  test("diff classifies added/removed/changed/unchanged with null-safe compares") {
    val prev = Seq((1L, Some("a")), (2L, Some("b")), (3L, Option.empty[String]),
      (4L, Some("gone"))).toDF("k", "v")
    val next = Seq((1L, Some("a")), (2L, Some("B")), (3L, Option.empty[String]),
      (9L, Some("new"))).toDF("k", "v")
    val out = graft.operators.Merge.diff(prev, next, Seq("k"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out == Map(
      1L -> "unchanged", 2L -> "changed",
      3L -> "unchanged", // NULL attr equals NULL attr (null-safe)
      4L -> "removed", 9L -> "added"))
  }

  test("scd2Intervals: per-key validity chain, NULL valid_to on current row") {
    val changes = Seq(
      ("u1", 1L, 100L, "x"), ("u1", 2L, 200L, "y"), ("u1", 3L, 200L, "z"),
      ("u2", 4L, 50L, "only")
    ).toDF("k", "eid", "ts", "v")
    val out = graft.operators.Merge.scd2Intervals(changes, "k", "ts", Seq("eid"))
      .collect().map(r => r.getAs[Long]("eid") ->
        (r.getAs[Long]("valid_from"), Option(r.getAs[java.lang.Long]("valid_to")))).toMap
    assert(out(1L) == ((100L, Some(200L))))
    // same-ts tie broken by eid: 2 precedes 3
    assert(out(2L) == ((200L, Some(200L))))
    assert(out(3L) == ((200L, None)), "latest change stays open")
    assert(out(4L) == ((50L, None)), "single change is current")
  }

  // ── deterministic split / unicode normalization ──

  test("splitByHash: total partition, deterministic, roughly weighted") {
    val docs = (1L to 2000L).toDF("id")
    val out = graft.operators.Sampling.splitByHash(docs, "id",
      Seq(("train", 8.0), ("val", 1.0), ("test", 1.0)))
    val counts = out.groupBy("split").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(counts.values.sum == 2000L, "every row gets exactly one label")
    assert(counts("train") > 1400 && counts("train") < 1800,
      s"~80% train, got ${counts("train")}")
    // deterministic: a second evaluation assigns identically
    val again = graft.operators.Sampling.splitByHash(docs, "id",
      Seq(("train", 8.0), ("val", 1.0), ("test", 1.0)))
    assert(out.exceptAll(again).isEmpty && again.exceptAll(out).isEmpty)
    intercept[IllegalArgumentException] {
      graft.operators.Sampling.splitByHash(docs, "id",
        Seq(("a", 1.0), ("a", 2.0)))
    }
    // a null id must get a NULL label, never silently land in a split
    val withNull = Seq(Some(1L), None).toDF("id")
    val labels = graft.operators.Sampling.splitByHash(withNull, "id",
      Seq(("train", 1.0), ("test", 1.0)))
      .collect().map(r => Option(r.get(0)) -> r.getString(1)).toMap
    assert(labels(None) == null && labels(Some(1L)) != null)
  }

  test("unicode normalization composes/decomposes; SQL surface registered") {
    val dec = "e" + 0x0301.toChar          // decomposed: e + combining acute
    val composed = 0x00E9.toChar.toString  // precomposed é
    val df = Seq((1L, dec), (2L, composed), (3L, null.asInstanceOf[String]))
      .toDF("id", "s")
    val out = df.select(col("id"),
      length(col("s")).as("raw"),
      length(graft.functions.TextFunctions.normalize(col("s"), "NFC")).as("nfc"),
      length(graft.functions.TextFunctions.normalize(col("s"), "NFD")).as("nfd"))
      .collect().map(r => r.getLong(0) ->
        (r.get(1), r.get(2), r.get(3))).toMap
    assert(out(1L) == ((2, 1, 2)), "decomposed: raw 2, NFC 1, NFD 2")
    assert(out(2L) == ((1, 1, 2)), "precomposed: raw 1, NFC 1, NFD 2")
    assert(out(3L) == ((null, null, null)), "null propagates")
    // NFKC folds compatibility characters (e.g. fullwidth digits)
    val wide = 0xFF11.toChar.toString // fullwidth '1'
    val k = Seq(Tuple1(wide)).toDF("s")
      .select(graft.functions.TextFunctions.normalize(col("s"), "NFKC"))
      .head().getString(0)
    assert(k == "1")
    intercept[IllegalArgumentException] {
      graft.functions.TextFunctions.normalize(col("s"), "NFX")
    }
    // SQL registration with literal-form validation
    val viaSql = spark.sql(
      s"SELECT length(graft_normalize('$dec', 'NFC')) AS n").head().getInt(0)
    assert(viaSql == 1)
  }

  // ── end-to-end near-dedup ──

  test("nearDedup collapses a planted near-dup cluster to its best survivor") {
    val base = "the quick brown fox jumps over the lazy dog again and again " * 5
    val docs = Seq(
      (1L, base + "tail one", 10L),
      (2L, base + "tail two longer", 99L), // same cluster, longest
      (3L, base + "tail three", 10L),
      (50L, "completely unrelated content about spark physical plans", 5L),
      (60L, "another disjoint document with its own words entirely", 5L)
    ).toDF("doc_id", "text", "n_chars")
    val kept = Dedup.nearDedup(docs, "doc_id", "text", threshold = 0.6,
      pick = Seq(col("n_chars").desc, col("doc_id").asc))
      .select("doc_id").as[Long].collect().toSet
    assert(kept == Set(2L, 50L, 60L),
      s"cluster {1,2,3} must collapse to 2 (longest); got $kept")
  }

  test("nearDedup leaves no signature cache behind (scoped unpersist)") {
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta " * 4),
      (2L, "alpha beta gamma delta epsilon zeta eta theta " * 4 + "tail"),
      (3L, "totally different words live in this document here")
    ).toDF("doc_id", "text")
    val before = spark.sparkContext.getPersistentRDDs.keySet
    Dedup.nearDedup(docs, "doc_id", "text", threshold = 0.5).collect()
    // unpersist is non-blocking; block removal is async
    val deadline = System.nanoTime() + 10_000_000_000L
    def leaked = spark.sparkContext.getPersistentRDDs
      .filter { case (id, rdd) =>
        // new non-checkpoint persistent RDDs = leaked operator caches;
        // the final labels localCheckpoint may legitimately remain
        // (the returned frame reads it) — everything else must be gone
        !before.contains(id) && !rdd.isCheckpointed
      }
    while (leaked.nonEmpty && System.nanoTime() < deadline)
      Thread.sleep(100)
    assert(leaked.isEmpty,
      s"signature/sym caches left persisted: ${leaked.keys.toSeq.sorted}")
  }

  // ── multimodal frame sampling ──

  test("withFeatures attaches unit-norm deterministic embeddings consumable by ANN") {
    val df = Seq(
      (1L, "hello world".getBytes("UTF-8")),
      (2L, "hello world".getBytes("UTF-8")), // identical payload
      (3L, "something else entirely".getBytes("UTF-8")),
      (4L, null.asInstanceOf[Array[Byte]])
    ).toDF("id", "payload")
    val feats = Multimodal.withFeatures(df, "payload", dim = 16)
    val rows = feats.collect().map(r =>
      r.getLong(0) -> Option(r.getAs[scala.collection.Seq[Float]]("features"))
        .map(_.toList)).toMap
    assert(rows(4L).isEmpty, "null payload → null features")
    assert(rows(1L).get == rows(2L).get, "deterministic encoder")
    val norm = math.sqrt(rows(1L).get.map(x => x.toDouble * x).sum)
    assert(math.abs(norm - 1.0) < 1e-5, s"unit norm, got $norm")
    assert(rows(1L).get.length == 16)
    // identical payloads are each other's nearest neighbour at cosine 1
    val nn = graft.operators.Similarity.bruteForceTopK(
      feats.filter(col("payload").isNotNull), "id", "features",
      feats.filter(col("id") === 1L)
        .select(col("id").as("pid"), col("features").as("pv")),
      "pid", "pv", k = 1)
      .head()
    assert(nn.getAs[Long]("neighbor_id") == 2L &&
      math.abs(nn.getAs[Double]("cosine") - 1.0) < 1e-9)
  }

  test("frameSampled explodes every stride-th 256-byte frame with original index") {
    val payload = Array.fill[Byte](256 * 9 + 10)(7) // 10 frames, last short
    val df = Seq((1L, payload), (2L, null.asInstanceOf[Array[Byte]]))
      .toDF("id", "payload")
    val frames = Multimodal.frameSampled(df, "payload", stride = 4)
      .select(col("id"), col("frame_no"), length(col("frame")).as("flen"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    // kept original frame indices: 0, 4, 8 — null payload emits nothing
    assert(frames.toSeq.sortBy(_._2) == Seq((1L, 0L, 256), (1L, 4L, 256), (1L, 8L, 256)))
    // frame 9 (the short one) is NOT sampled at stride 4; stride 1 keeps it
    val all = Multimodal.frameSampled(df, "payload", stride = 1)
      .select(col("frame_no"), length(col("frame")).as("flen"))
      .collect().map(r => (r.getLong(0), r.getInt(1)))
    assert(all.length == 10 && all.find(_._1 == 9L).get._2 == 10)
  }

  test("dsirWeights == scala log-likelihood-ratio reference") {
    import spark.implicits._
    val raw = Seq(
      (1L, "the cat sat on the mat"),
      (2L, "stock prices rose sharply today"),
      (3L, "the dog sat on the rug"),
      (4L, "one"), // < 2 tokens: zero features, weight 0
      (5L, "the cat sat still")
    ).toDF("doc_id", "text")
    val target = raw.filter(col("doc_id").isin(1L, 3L)) // pet-ish docs
    val buckets = 64

    // plain-scala reference: hashed bigram multinomials with +1 smoothing
    def poly(s: String): Int = {
      var h = 0L
      s.foreach(c => h = (h * 31L + c.toInt) % 2147483648L)
      (h % buckets).toInt
    }
    def feats(text: String): Seq[Int] = {
      val t = text.toLowerCase.split("\\s+").toSeq.filter(_.nonEmpty)
      t.zip(t.drop(1)).map { case (a, b) => poly(a + " " + b) }
    }
    val rawDocs = Seq(
      1L -> "the cat sat on the mat", 2L -> "stock prices rose sharply today",
      3L -> "the dog sat on the rug", 4L -> "one", 5L -> "the cat sat still")
    val ct = rawDocs.filter(d => Set(1L, 3L)(d._1)).flatMap(d => feats(d._2))
      .groupBy(identity).view.mapValues(_.size.toLong).toMap
    val cr = rawDocs.flatMap(d => feats(d._2))
      .groupBy(identity).view.mapValues(_.size.toLong).toMap
    val t = ct.values.sum
    val r = cr.values.sum
    val want = rawDocs.map { case (id, text) =>
      id -> feats(text).map { b =>
        math.log((ct.getOrElse(b, 0L) + 1L).toDouble / (t + buckets).toDouble) -
          math.log((cr.getOrElse(b, 0L) + 1L).toDouble / (r + buckets).toDouble)
      }.sum
    }.toMap

    val got = Corpus.dsirWeights(raw, target, "doc_id", "text", buckets)
      .collect().map(row => row.getLong(0) -> row.getDouble(2)).toMap
    assert(got.keySet == want.keySet)
    want.foreach { case (id, w) =>
      assert(math.abs(got(id) - w) < 1e-9, s"doc $id: got ${got(id)} want $w")
    }
    // target docs must outrank the out-of-domain doc
    assert(got(1L) > got(2L) && got(3L) > got(2L),
      "in-target docs should carry higher importance weight")
    // the featureless doc scores exactly 0
    assert(got(4L) == 0.0)
  }

  test("dsirAffinity: exact integers, featureless docs zero, select deterministic") {
    import spark.implicits._
    val raw = Seq(
      (1L, "a b a b"), (2L, "x y"), (3L, "a b"), (4L, "solo")
    ).toDF("doc_id", "text")
    val target = raw.filter(col("doc_id") === 1L)
    // 97 buckets, NOT a power of two: poly-31 of swapped single-char
    // tokens differs by 31²−1 = 960, so "a b" / "b a" COLLIDE at any
    // bucket count dividing 960 (16, 32, 64…); at 97 the three bigrams
    // hash apart (23, 13, 33 — computed by the reference hash)
    val aff = Corpus.dsirAffinity(raw, target, "doc_id", "text", buckets = 97)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getDecimal(2).longValueExact(),
          r.getDecimal(3).longValueExact(), r.getDecimal(4).longValueExact())))
      .toMap
    // target doc 1 "a b a b": bigrams ab, ba, ab → features {ab:2, ba:1}
    // raw adds doc 2 {xy:1}, doc 3 {ab:1}; doc 4 featureless
    // T = 3, R = 5; ct(ab)=2 ct(ba)=1; cr(ab)=3 cr(ba)=1 cr(xy)=1
    val (n1, t1, r1, s1) = aff(1L)
    assert(n1 == 3L && t1 == 2 * 2 + 1 * 1 && r1 == 2 * 3 + 1 * 1)
    assert(s1 == (2L * (2 * 5 - 3 * 3) + 1L * (1 * 5 - 1 * 3)))
    val (n4, t4, r4, s4) = aff(4L)
    assert(n4 == 0L && t4 == 0L && r4 == 0L && s4 == 0L)
    // selection: top-2 by exact score, tie-break doc_id asc, stable
    val sel = Corpus.dsirSelect(raw, target, "doc_id", "text",
      buckets = 97, keepN = 2).collect().map(_.getLong(0)).toSeq
    assert(sel.head == 1L, "the target doc itself must score highest")
    assert(sel == Corpus.dsirSelect(raw, target, "doc_id", "text",
      buckets = 97, keepN = 2).collect().map(_.getLong(0)).toSeq)
  }

  test("trainBpeMerges: hand-verified merge sequence, final state, token frequencies") {
    import spark.implicits._
    // word counts banana×3, bandana×2, band×4, nab×1 — the merge
    // sequence is hand-computable: pair counts round 1 have (a,n)=9
    // (2 per banana, 2 per bandana... weighted) as the winner, then
    // (b,an), (ban,d), (an,a), (ban,ana)
    val docs = Seq(
      (1L, "banana banana banana"),
      (2L, "bandana bandana"),
      (3L, "band band band band nab")
    ).toDF("doc_id", "text")
    val model = Corpus.trainBpeMerges(docs, "text", nMerges = 5)
    assert(model.merges == Seq(
      ("a", "n"), ("b", "an"), ("ban", "d"), ("an", "a"), ("ban", "ana")))
    val st = model.state.collect()
      .map(r => r.getString(0) -> r.getString(2).split('\u0001').toSeq).toMap
    assert(st("banana") == Seq("banana"))
    assert(st("bandana") == Seq("band", "ana"))
    assert(st("band") == Seq("band"))
    assert(st("nab") == Seq("n", "a", "b"))
    val freqs = model.tokenFrequencies.collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(freqs == Map(
      "banana" -> 3L, "band" -> 6L, "ana" -> 2L,
      "n" -> 1L, "a" -> 1L, "b" -> 1L), s"got $freqs")
    // merge exhaustion: asking for more merges than pairs exist stops
    val tiny = Corpus.trainBpeMerges(
      Seq((1L, "ab ab")).toDF("doc_id", "text"), "text", nMerges = 50)
    assert(tiny.merges == Seq(("a", "b")),
      "after (a,b) every word is one symbol — no pairs remain")
  }

  test("trainSubwordVocab: frequency order, gram-asc ties, greedy tokenize round-trip") {
    import spark.implicits._
    val docs = Seq(
      (1L, "banana banana band"),
      (2L, "bandana banana")
    ).toDF("doc_id", "text")
    val vocab = Corpus.trainSubwordVocab(docs, "text", size = 5,
      minLen = 2, maxLen = 3)
      .collect().map(r => (r.getString(0), r.getLong(1)))
    // "an" appears 2× in each banana (×3), 1× in band, 2× in bandana = 9
    assert(vocab.head._1 == "an" && vocab.head._2 == 9L,
      s"most frequent gram should be 'an' ×9, got ${vocab.toSeq}")
    // counts are strictly ordered; equal counts break gram-ascending
    assert(vocab.sliding(2).forall { case Array((ga, ca), (gb, cb)) =>
      ca > cb || (ca == cb && ga < gb) }, s"order violated: ${vocab.toSeq}")

    // greedy application: longest match wins, unknowns pass through
    val toks = Corpus.subwordTokenize(
      Seq((1L, "banana xq")).toDF("doc_id", "text"), "text",
      vocab = Seq("ban", "ana", "na", "an"))
      .select(col("sub_tokens")).collect().head.getSeq[String](0)
    assert(toks == Seq("ban", "ana", "x", "q"), s"got $toks")

    // corpus frequencies: concatenation is lossless, counts exact
    val freqs = Corpus.subwordFrequencies(docs, "text", Seq("ban", "ana"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // banana → ban+ana (×3), band → ban+d, bandana → ban+d+ana
    assert(freqs == Map("ban" -> 5L, "ana" -> 4L, "d" -> 2L), s"got $freqs")
  }

  test("lmScore: hand-computed add-one bigram LM; fluent beats garbage; short-doc convention") {
    // reference: "a b" ×2, "a b c". V = {a,b,c} = 3.
    // c2: (a b)=3, (b c)=1. c1: a=3, b=1.
    val ref = Seq((1L, "a b"), (2L, "a b"), (3L, "a b c")).toDF("id", "text")
    val scored = Seq(
      (10L, "a b c"),  // p(b|a)=(3+1)/(3+3)=2/3; p(c|b)=(1+1)/(1+3)=1/2
      (11L, "c a"),    // p(a|c)=(0+1)/(0+3)=1/3 (unseen context)
      (12L, "z"),      // < 2 tokens → zeros
      (13L, "a q")     // p(q|a)=(0+1)/(3+3)=1/6 (unseen bigram, seen context)
    ).toDF("id", "text")
    val got = graft.operators.Corpus.lmScore(ref, scored, "id", "text")
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getDouble(2), r.getDouble(3))).toMap
    assert(got(10L)._1 == 2L)
    assert(math.abs(got(10L)._2 - (2.0 / 3 + 0.5) / 2) < 1e-15)
    assert(math.abs(got(10L)._3 -
      (math.log(2.0 / 3) + math.log(0.5)) / 2) < 1e-12)
    assert(got(11L) == ((1L, 1.0 / 3, math.log(1.0 / 3))))
    assert(got(12L) == ((0L, 0.0, 0.0)))
    assert(math.abs(got(13L)._2 - 1.0 / 6) < 1e-15)
    // the signal: reference-like text outscores both unseen shapes
    assert(got(10L)._2 > got(11L)._2 && got(11L)._2 > got(13L)._2)
  }

  test("multiProbe signature table catches r-1 band agreement the plain table misses") {
    import spark.implicits._
    // Search (deterministically — the hash functions are fixed) for a
    // candidate that agrees with the original on >= 36 of 64 minhash
    // rows (est >= 0.5625) with NO band of 4 fully agreeing (plain
    // banding blind) and >= 1 band agreeing on exactly 3 rows (a
    // leave-one-out sub-bucket collides). Appending unique tokens
    // flips exactly the rows where a new shingle's hash becomes the
    // minimum, so agreement decays controllably with k.
    val orig = (1 to 40).map(i => s"base$i").mkString(" ")
    val cands = (1 to 150).map(k =>
      (k.toLong, orig + " " + (1 to k).map(j => s"xtr${j}q").mkString(" ")))
    val sigRows = (Seq((0L, orig)) ++ cands).toDF("doc_id", "text")
      .select(col("doc_id"),
        Dedup.minhashSignature(
          Dedup.shingleHashes(col("text"), 3), 64).as("sig"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    val origSig = sigRows(0L)
    val chosen = cands.find { case (k, _) =>
      val sig = sigRows(k)
      val bandAgree = (0 until 16).map(b =>
        (0 until 4).count(j => sig(b * 4 + j) == origSig(b * 4 + j)))
      bandAgree.sum >= 36 && !bandAgree.contains(4) && bandAgree.contains(3)
    }
    assert(chosen.nonEmpty,
      "no candidate with r-1-but-never-r band agreement in 150 tries")
    val (_, nearText) = chosen.get
    val batch = Seq((100L, nearText)).toDF("doc_id", "text")
    val plainPath = graft.Scratch.path("test_mp_plain")
    graft.Scratch.remove("test_mp_plain")
    Dedup.writeSignatureTable(Seq((1L, orig)).toDF("doc_id", "text"),
      "doc_id", "text", plainPath)
    assert(Dedup.nearDedupIncremental(spark, plainPath, batch,
      "doc_id", "text", threshold = 0.55).count() == 1L,
      "plain banding must MISS the r-1-agreeing near-dup (it is admitted)")
    val mpPath = graft.Scratch.path("test_mp_loo")
    graft.Scratch.remove("test_mp_loo")
    Dedup.writeSignatureTable(Seq((1L, orig)).toDF("doc_id", "text"),
      "doc_id", "text", mpPath, multiProbe = true)
    assert(Dedup.nearDedupIncremental(spark, mpPath, batch,
      "doc_id", "text", threshold = 0.55).count() == 0L,
      "the leave-one-out store must CATCH the same near-dup (rejected)")
  }

  test("paragraph table: batches drop stored and earlier-batch paragraphs transitively") {
    import spark.implicits._
    val path = graft.Scratch.path("test_para_ingest")
    graft.Scratch.remove("test_para_ingest")
    Dedup.writeParagraphTable(
      Seq((1L, "alpha\nbeta")).toDF("doc_id", "text"),
      "doc_id", "text", path)
    // stored "beta" drops; the within-doc "gamma" repeat collapses to
    // its first position (the paragraphDedup first-occurrence rule)
    val surv1 = Dedup.paragraphIngest(spark, path,
      Seq((10L, "beta\ngamma\ngamma\ndelta")).toDF("doc_id", "text"),
      "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(surv1 == Map(10L -> "gamma\ndelta"), s"got $surv1")
    // batch 2: "gamma" was APPENDED by batch 1 → dropped (transitive);
    // a doc whose every line is stored drops entirely; within-batch
    // first occurrence goes to the smaller (doc, pos)
    val surv2 = Dedup.paragraphIngest(spark, path,
      Seq((20L, "gamma\nepsilon"),
          (21L, "alpha\ndelta"),
          (22L, "epsilon\nzeta")).toDF("doc_id", "text"),
      "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(surv2 == Map(20L -> "epsilon", 22L -> "zeta"), s"got $surv2")
    // a third batch re-offering batch-2 survivors gets nothing through
    val surv3 = Dedup.paragraphDedupIncremental(spark, path,
      Seq((30L, "epsilon\nzeta")).toDF("doc_id", "text"),
      "doc_id", "text")
    assert(surv3.isEmpty)
  }
}
