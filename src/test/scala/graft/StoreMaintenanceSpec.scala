package graft

import graft.operators.{Dedup, Similarity, Store}

import org.apache.spark.sql.functions._

/** Persisted-store maintenance: retirement (takedown) and compaction
  * of the MinHash signature table and the Hamming table, plus the
  * generation/manifest contract of the shared [[Store]] layer. */
class StoreMaintenanceSpec extends GraftSpec {

  import spark.implicits._

  private def freshDocs(ids: Seq[Long], offset: Long) =
    ids.map(i => (i + offset,
      s"fresh document u$i payload p$i q$i extra e$i")).toDF("doc_id", "text")

  private def parquetFiles(p: String): Long = Store.partFileCount(spark, p)

  test("retireFromSignatureTable flips exactly the retired docs' copies") {
    val dir = java.nio.file.Files.createTempDirectory("graft_retire_").toString
    val ids = (1L to 20L)
    Dedup.writeSignatureTable(freshDocs(ids, 0L), "doc_id", "text",
      s"$dir/sig", shingleLen = 3, numPerm = 64, bands = 16)
    val copies = freshDocs(ids, 1000L)
    val before = Dedup.nearDedupIncremental(spark, s"$dir/sig", copies,
      "doc_id", "text", threshold = 0.7)
      .select("doc_id").as[Long].collect().toSet
    assert(before.isEmpty, "every copy rejected by its stored original")
    val retired = ids.filter(_ % 2 == 0).toDF("doc_id")
    val removed = Dedup.retireFromSignatureTable(spark, s"$dir/sig",
      retired, "doc_id")
    assert(removed == 10L)
    val after = Dedup.nearDedupIncremental(spark, s"$dir/sig", copies,
      "doc_id", "text", threshold = 0.7)
      .select("doc_id").as[Long].collect().toSet
    assert(after == ids.filter(_ % 2 == 0).map(_ + 1000L).toSet,
      "exactly the retired originals' copies are admitted")
  }

  test("retire of an absent id removes nothing and changes nothing") {
    val dir = java.nio.file.Files.createTempDirectory("graft_retire_").toString
    Dedup.writeSignatureTable(freshDocs(1L to 5L, 0L), "doc_id", "text",
      s"$dir/sig")
    val removed = Dedup.retireFromSignatureTable(spark, s"$dir/sig",
      Seq(999L).toDF("doc_id"), "doc_id")
    assert(removed == 0L)
    val after = Dedup.nearDedupIncremental(spark, s"$dir/sig",
      freshDocs(1L to 5L, 1000L), "doc_id", "text", threshold = 0.7)
      .count()
    assert(after == 0L, "store intact: all copies still rejected")
  }

  test("retired bucket headroom is reusable by a later append") {
    val dir = java.nio.file.Files.createTempDirectory("graft_retire_").toString
    Dedup.writeSignatureTable(freshDocs(1L to 8L, 0L), "doc_id", "text",
      s"$dir/sig")
    Dedup.retireFromSignatureTable(spark, s"$dir/sig",
      Seq(3L).toDF("doc_id"), "doc_id")
    // re-admit a near-copy of the retired doc: with the original gone
    // it survives and appends; its OWN later copy is then rejected
    val readmit = freshDocs(Seq(3L), 2000L)
    val s1 = Dedup.nearDedupIngest(spark, s"$dir/sig", readmit,
      "doc_id", "text", threshold = 0.7)
    assert(s1.count() == 1L)
    val again = Dedup.nearDedupIncremental(spark, s"$dir/sig",
      freshDocs(Seq(3L), 3000L), "doc_id", "text", threshold = 0.7)
    assert(again.count() == 0L, "the re-admitted doc now rejects its copy")
  }

  test("compactSignatureTable bounds files and preserves results") {
    val dir = java.nio.file.Files.createTempDirectory("graft_compact_").toString
    Dedup.writeSignatureTable(freshDocs(1L to 10L, 0L), "doc_id", "text",
      s"$dir/sig")
    // three append generations → many small files
    Dedup.appendToSignatureTable(spark, s"$dir/sig",
      freshDocs(11L to 14L, 0L), "doc_id", "text")
    Dedup.appendToSignatureTable(spark, s"$dir/sig",
      freshDocs(15L to 18L, 0L), "doc_id", "text")
    val filesBefore = parquetFiles(s"$dir/sig/sigs")
    val copies = freshDocs(1L to 18L, 1000L)
    val before = Dedup.nearDedupIncremental(spark, s"$dir/sig", copies,
      "doc_id", "text", threshold = 0.7)
      .select("doc_id").as[Long].collect().toSet
    Dedup.compactSignatureTable(spark, s"$dir/sig", numFiles = 1)
    assert(parquetFiles(s"$dir/sig/sigs") == 1L)
    // the bucket relation is PARTITIONED BY band (16 bands) — a
    // partitioned relation cannot compact below one file per non-empty
    // band dir, and each of the numFiles range tasks writes one file
    // per band it covers: total ≤ numFiles + bands − 1
    assert(parquetFiles(s"$dir/sig/buckets") <= 16L,
      s"bucket files ${parquetFiles(s"$dir/sig/buckets")} exceed the " +
        s"one-per-band floor of the partitioned layout")
    assert(parquetFiles(s"$dir/sig/sigs") < filesBefore,
      "compaction actually reduced the file count")
    val after = Dedup.nearDedupIncremental(spark, s"$dir/sig", copies,
      "doc_id", "text", threshold = 0.7)
      .select("doc_id").as[Long].collect().toSet
    assert(after == before, "compaction is a pure rewrite")
    assert(before.isEmpty, "all 18 copies rejected by the appended store")
  }

  test("retireFromHammingTable removes matches; compactHammingTable is pure") {
    val dir = java.nio.file.Files.createTempDirectory("graft_hamret_").toString
    val sigs = Seq((1L, 0x1111L), (2L, 0x2222L), (3L, 0x4444L))
      .toDF("doc_id", "sig")
    Dedup.writeHammingTable(sigs, "doc_id", "sig", s"$dir/ham",
      maxHamming = 3, maxBucketSize = 100)
    val batch = Seq((101L, 0x1111L), (102L, 0x2222L), (103L, 0x4444L))
      .toDF("doc_id", "sig")
    def matches() = Dedup.hammingNearDupsIncremental(spark, s"$dir/ham",
      batch, "doc_id", "sig")
      .select("id_in").as[Long].collect().toSet
    assert(matches() == Set(101L, 102L, 103L))
    val removed = Dedup.retireFromHammingTable(spark, s"$dir/ham",
      Seq(2L).toDF("doc_id"), "doc_id")
    assert(removed == 1L)
    assert(matches() == Set(101L, 103L),
      "the retired signature no longer matches")
    Dedup.compactHammingTable(spark, s"$dir/ham", numFiles = 1)
    // band-partitioned layout: one file per non-empty band dir is the
    // compaction floor (maxHamming = 3 → 4 bands)
    assert(parquetFiles(s"$dir/ham/buckets") <= 4L)
    assert(matches() == Set(101L, 103L), "compaction is a pure rewrite")
  }

  test("retireFromPqIndex stops serving retired vectors; compact is pure") {
    val dir = java.nio.file.Files.createTempDirectory("graft_pqret_").toString
    // axis-aligned vectors: each probe's nearest is its exact twin
    def axis(i: Int, dim: Int): Seq[Float] =
      Seq.tabulate(dim)(j => if (j == i % dim) 1f else 0.01f * ((i + j) % 3))
    val corpus = (0 until 12).map(i => (i.toLong, axis(i, 8)))
      .toDF("vec_id", "embedding")
    Similarity.writePqIndex(corpus, "vec_id", "embedding", s"$dir/pq",
      m = 4, k = 4, iters = 2)
    val twins = (0 until 12).map(i => (i + 100L, axis(i, 8)))
      .toDF("vec_id", "embedding")
    Similarity.appendToPqIndex(spark, s"$dir/pq", twins,
      "vec_id", "embedding")
    val store = corpus.unionByName(twins)
    val probes = corpus.limit(3)
      .select(col("vec_id").as("probe_id"), col("embedding").as("pv"))
    def top1() = Similarity.searchPqIndex(spark, s"$dir/pq", store,
      "vec_id", "embedding", probes, "probe_id", "pv", k = 1, shortlist = 20)
      .filter(col("rank") === 1)
      .select("probe_id", "neighbor_id").as[(Long, Long)].collect().toMap
    assert(top1() == Map(0L -> 100L, 1L -> 101L, 2L -> 102L),
      "each probe's exact twin is served at rank 1")
    val removed = Similarity.retireFromPqIndex(spark, s"$dir/pq",
      twins.select(col("vec_id")), "vec_id")
    assert(removed == 12L)
    val after = top1()
    assert(after.values.forall(_ < 100L),
      s"no retired id may be served after the takedown: $after")
    Similarity.compactPqIndex(spark, s"$dir/pq", numFiles = 1)
    assert(parquetFiles(s"$dir/pq/codes") == 1L)
    assert(top1() == after, "compaction is a pure rewrite")
  }

  test("persisted IVF-PQ index: append, partition-pruned search, retire") {
    val dir = java.nio.file.Files.createTempDirectory("graft_ivfpq_").toString
    def axis(i: Int, dim: Int): Seq[Float] =
      Seq.tabulate(dim)(j => if (j == i % dim) 1f else 0.01f * ((i + j) % 3))
    val corpus = (0 until 16).map(i => (i.toLong, axis(i, 8)))
      .toDF("vec_id", "embedding")
    Similarity.writeIvfPqIndex(corpus, "vec_id", "embedding", s"$dir/ivfpq",
      nlist = 4, m = 4, k = 4, iters = 2)
    // the code table is physically partitioned by list (inside the
    // live generation directory)
    val genData = Store.currentGen(spark, s"$dir/ivfpq/codes").dataPath
    val dirs = {
      val walk = java.nio.file.Files.list(java.nio.file.Paths.get(genData))
      try walk.filter(_.getFileName.toString.startsWith("centroid_id="))
        .count()
      finally walk.close()
    }
    assert(dirs >= 2, s"expected >=2 list partitions, got $dirs")
    val twins = (0 until 16).map(i => (i + 100L, axis(i, 8)))
      .toDF("vec_id", "embedding")
    Similarity.appendToIvfPqIndex(spark, s"$dir/ivfpq", twins,
      "vec_id", "embedding")
    val store = corpus.unionByName(twins)
    val probes = corpus.limit(3)
      .select(col("vec_id").as("probe_id"), col("embedding").as("pv"))
    def top1() = Similarity.searchIvfPqIndex(spark, s"$dir/ivfpq", store,
      "vec_id", "embedding", probes, "probe_id", "pv",
      k = 1, nprobe = 2, shortlist = 16)
      .filter(col("rank") === 1)
      .select("probe_id", "neighbor_id").as[(Long, Long)].collect().toMap
    assert(top1() == Map(0L -> 100L, 1L -> 101L, 2L -> 102L),
      "each probe's exact twin rides its own list and is served at rank 1")
    val removed = Similarity.retireFromIvfPqIndex(spark, s"$dir/ivfpq",
      twins.select(col("vec_id")), "vec_id")
    assert(removed == 16L)
    val after = top1()
    assert(after.values.forall(_ < 100L),
      s"no retired id may be served: $after")
    Similarity.compactIvfPqIndex(spark, s"$dir/ivfpq", numFiles = 4)
    assert(top1() == after, "compaction is a pure rewrite")
  }

  test("store stats report counts, parameters, occupancy and files") {
    val dir = java.nio.file.Files.createTempDirectory("graft_stats_").toString
    Dedup.writeSignatureTable(freshDocs(1L to 12L, 0L), "doc_id", "text",
      s"$dir/sig", shingleLen = 3, numPerm = 64, bands = 16,
      maxBucketSize = 500)
    val st = Dedup.signatureTableStats(spark, s"$dir/sig").head()
    assert(st.getAs[Int]("shingle_len") == 3)
    assert(st.getAs[Int]("num_perm") == 64)
    assert(st.getAs[Int]("bands") == 16)
    assert(st.getAs[Int]("max_bucket_size") == 500)
    assert(st.getAs[Long]("n_docs") == 12L)
    assert(st.getAs[Long]("n_bucket_rows") == 12L * 16)
    assert(st.getAs[Long]("max_bucket_occupancy") >= 1L)
    assert(st.getAs[Long]("n_sig_files") >= 1L)
    // retire shrinks the counts the stats report
    Dedup.retireFromSignatureTable(spark, s"$dir/sig",
      Seq(1L, 2L).toDF("doc_id"), "doc_id")
    val st2 = Dedup.signatureTableStats(spark, s"$dir/sig").head()
    assert(st2.getAs[Long]("n_docs") == 10L)
    assert(st2.getAs[Long]("n_bucket_rows") == 10L * 16)

    val hsigs = Seq((1L, 7L), (2L, 8L)).toDF("doc_id", "sig")
    Dedup.writeHammingTable(hsigs, "doc_id", "sig", s"$dir/ham",
      maxHamming = 3, maxBucketSize = 100)
    val hs = Dedup.hammingTableStats(spark, s"$dir/ham").head()
    assert(hs.getAs[Int]("max_hamming") == 3)
    assert(hs.getAs[Long]("n_docs") == 2L)
    assert(hs.getAs[Long]("n_bucket_rows") == 2L * 4)

    val vecs = (0 until 8).map(i =>
      (i.toLong, Seq.tabulate(8)(j => (i * j % 5).toFloat)))
      .toDF("vec_id", "embedding")
    Similarity.writePqIndex(vecs, "vec_id", "embedding", s"$dir/pq",
      m = 4, k = 4, iters = 1)
    val ps = Similarity.pqIndexStats(spark, s"$dir/pq").head()
    assert(ps.getAs[Int]("m") == 4)
    assert(ps.getAs[Int]("k") == 4)
    assert(ps.getAs[Int]("dim") == 8)
    assert(ps.getAs[Long]("n_vectors") == 8L)
    assert(ps.getAs[Long]("n_code_files") >= 1L)

    Similarity.writeIvfPqIndex(vecs, "vec_id", "embedding", s"$dir/ivfpq2",
      nlist = 2, m = 4, k = 4, iters = 1)
    val is = Similarity.ivfPqIndexStats(spark, s"$dir/ivfpq2").head()
    assert(is.getAs[Long]("n_lists") == 2L)
    assert(is.getAs[Long]("n_vectors") == 8L)
    assert(is.getAs[Long]("max_list_size") >= is.getAs[Long]("min_list_size"))
    assert(is.getAs[Long]("n_empty_lists") ==
      2L - Store.read(spark, s"$dir/ivfpq2/codes")
        .select(col("centroid_id")).distinct().count())
    assert(is.getAs[Long]("n_code_files") >= 1L)
  }

  // ───────── the Store generation/manifest contract itself ─────────

  test("manifest row counts: snapshot reports the exact count, free") {
    val dir = java.nio.file.Files.createTempDirectory("graft_store_").toString
    val rel = s"$dir/rel"
    Store.create((1L to 137L).map(i => (i, s"v$i")).toDF("id", "v"), rel,
      numFiles = 3)
    val snap = Store.snapshot(spark, rel)
    assert(snap.manifestRowCount.contains(137L),
      "per-file footer counts recorded at commit time sum to the " +
        "relation's exact row count without a Spark job")
    // appends extend the count (markers carry the same stat entry)
    Store.append(spark, rel) { d =>
      Seq((200L, "x"), (201L, "y")).toDF("id", "v")
        .coalesce(1).write.mode("append").parquet(d)
    }
    assert(Store.snapshot(spark, rel).manifestRowCount.contains(139L))
    // a rewrite re-records counts for the new generation
    val s2 = Store.snapshot(spark, rel)
    Store.rewrite(s2, s2.df.filter(col("id") <= 100L), numFiles = 1)
    assert(Store.snapshot(spark, rel).manifestRowCount.contains(100L))
  }

  test("readMetaRow equals the Spark-read meta row without a job") {
    val dir = java.nio.file.Files.createTempDirectory("graft_meta_").toString
    Dedup.writeSignatureTable(freshDocs(1L to 5L, 0L), "doc_id", "text",
      s"$dir/sig", shingleLen = 3, numPerm = 64, bands = 16)
    val directOpt = Store.readMetaRowDirect(spark, s"$dir/sig/meta")
    assert(directOpt.isDefined,
      "the driver-direct reader must handle the store's own meta shape " +
        "(a None here silently re-instates one Spark job per ingest batch)")
    val direct = directOpt.get
    val viaSpark = spark.read.parquet(s"$dir/sig/meta").head()
    assert(direct.schema.fieldNames.sorted.sameElements(
      viaSpark.schema.fieldNames.sorted))
    viaSpark.schema.fieldNames.foreach { f =>
      assert(direct.getAs[Any](f) == viaSpark.getAs[Any](f),
        s"meta field $f must read identically on the driver path")
    }
  }

  test("changedSince: false on a quiet relation, true after a commit") {
    val dir = java.nio.file.Files.createTempDirectory("graft_fence_").toString
    val rel = s"$dir/rel"
    Store.create(Seq((1L, "a")).toDF("id", "v"), rel)
    val snap = Store.snapshot(spark, rel)
    assert(!Store.changedSince(spark, snap),
      "no commit since the snapshot — the fused ingest path may reuse " +
        "its probe-time occupancy")
    Store.append(spark, rel) { d =>
      Seq((2L, "b")).toDF("id", "v")
        .coalesce(1).write.mode("append").parquet(d)
    }
    assert(Store.changedSince(spark, snap),
      "an append published a marker — probe-time reuse must re-resolve")
    val fresh = Store.snapshot(spark, rel)
    assert(!Store.changedSince(spark, fresh))
    Store.rewrite(fresh, fresh.df, numFiles = 1)
    assert(Store.changedSince(spark, fresh),
      "a rewrite bumped the generation — stale snapshot detected")
  }

  test("rewrite flips the manifest; a reader sees old or new, never none") {
    val dir = java.nio.file.Files.createTempDirectory("graft_store_").toString
    val rel = s"$dir/rel"
    Store.create(Seq((1L, "a"), (2L, "b")).toDF("id", "v"), rel)
    val g1 = Store.currentGen(spark, rel)
    assert(g1.n == 1L)
    val s1 = Store.snapshot(spark, rel)
    Store.rewrite(s1, s1.df.filter(col("id") === 1L), numFiles = 1)
    val g2 = Store.currentGen(spark, rel)
    assert(g2.n == 2L)
    // the superseded generation is RETAINED one cycle: a reader that
    // resolved the pointer just before the commit can finish its scan
    assert(java.nio.file.Files.isDirectory(
      java.nio.file.Paths.get(g1.dataPath)),
      "superseded generation must survive one maintenance cycle")
    assert(Store.read(spark, rel).count() == 1L)
    // the NEXT rewrite retires generation 1
    val s2 = Store.snapshot(spark, rel)
    Store.rewrite(s2, s2.df, numFiles = 1)
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(g1.dataPath)),
      "generations older than the superseded one are swept")
    assert(Store.read(spark, rel).count() == 1L)
  }

  test("a stale append fails loudly when a rewrite committed underneath") {
    val dir = java.nio.file.Files.createTempDirectory("graft_store_").toString
    val rel = s"$dir/rel"
    Store.create(Seq((1L, "a")).toDF("id", "v"), rel)
    val ex = intercept[IllegalStateException] {
      Store.append(spark, rel) { genDir =>
        // the ingest-vs-maintenance race: a compaction commits while
        // the batch is writing into the old generation
        val s = Store.snapshot(spark, rel)
        Store.rewrite(s, s.df, numFiles = 1)
        Seq((2L, "b")).toDF("id", "v").write.mode("append").parquet(genDir)
      }
    }
    assert(ex.getMessage.contains("rewrite"),
      s"fence message should name the cause: ${ex.getMessage}")
    // the lost append's rows are NOT in the live generation
    assert(Store.read(spark, rel).count() == 1L)
  }

  test("an empty rewrite is refused (rebuild, not an unreadable store)") {
    val dir = java.nio.file.Files.createTempDirectory("graft_store_").toString
    Dedup.writeSignatureTable(freshDocs(1L to 3L, 0L), "doc_id", "text",
      s"$dir/sig")
    val ex = intercept[IllegalStateException] {
      Dedup.retireFromSignatureTable(spark, s"$dir/sig",
        (1L to 3L).toDF("doc_id"), "doc_id")
    }
    assert(ex.getMessage.toLowerCase.contains("empty"))
    // the store survives the refused takedown intact
    assert(Store.read(spark, s"$dir/sig/sigs").count() == 3L)
  }

  test("retire joins on the store's native id type; a lossy cast is loud") {
    val dir = java.nio.file.Files.createTempDirectory("graft_store_").toString
    // a STRING-id Hamming store: ids that a long cast would null out
    val sigs = Seq(("img-a", 0x1111L), ("img-b", 0x2222L), ("img-c", 0x4444L))
      .toDF("doc_id", "sig")
    Dedup.writeHammingTable(sigs, "doc_id", "sig", s"$dir/ham",
      maxHamming = 3, maxBucketSize = 100)
    // native-typed takedown works…
    val removed = Dedup.retireFromHammingTable(spark, s"$dir/ham",
      Seq("img-b").toDF("doc_id"), "doc_id")
    assert(removed == 1L, "a string-id store must retire string ids")
    // …and a retirement list that cannot round-trip through the
    // store's id type fails loudly instead of silently removing nothing
    val longStore = s"$dir/ham2"
    Dedup.writeHammingTable(
      Seq((1L, 0x1111L), (2L, 0x2222L)).toDF("doc_id", "sig"),
      "doc_id", "sig", longStore, maxHamming = 3, maxBucketSize = 100)
    val ex = intercept[IllegalArgumentException] {
      Dedup.retireFromHammingTable(spark, longStore,
        Seq("img-a").toDF("doc_id"), "doc_id")
    }
    assert(ex.getMessage.contains("round-trip"))
  }

  test("hamming multi-probe completeness fuzz: every pair within 2*nBands-1 is found") {
    // maxHamming 3 → 4 bands of 16 bits; one-bit probes are complete
    // for radius ≤ 7. Seeded fuzz: 200 random stored sigs, one query
    // per stored sig at a random distance d ∈ [0, 7] (d random bit
    // positions flipped) — EVERY query must surface its source pair,
    // whatever the bit placement (including the adversarial
    // one-per-band spread the planted gate uses).
    val dir = java.nio.file.Files.createTempDirectory("graft_hmpfuzz_").toString
    val rnd = new scala.util.Random(20260815L)
    val stored = (0 until 200).map(i => (i.toLong, rnd.nextLong()))
    Dedup.writeHammingTable(stored.toDF("doc_id", "sig"), "doc_id", "sig",
      s"$dir/ham", maxHamming = 3, maxBucketSize = 100000)
    val queries = stored.map { case (i, s) =>
      val d = rnd.nextInt(8)
      val bits = rnd.shuffle((0 until 64).toList).take(d)
      (i + 1000L, bits.foldLeft(s)((acc, b) => acc ^ (1L << b)), d.toLong)
    }
    val got = Dedup.hammingNearDupsIncremental(spark, s"$dir/ham",
      queries.map(q => (q._1, q._2)).toDF("doc_id", "sig"), "doc_id", "sig",
      multiProbe = true, radius = Some(7))
      .select("id_in", "corpus_id").as[(Long, Long)].collect().toSet
    queries.foreach { case (qid, _, d) =>
      assert(got.contains((qid, qid - 1000L)),
        s"query $qid at distance $d missed its source — probe set incomplete")
    }
    // and the radius guard: plain banding refuses a radius past its
    // completeness bound instead of silently under-recalling
    val ex = intercept[IllegalArgumentException] {
      Dedup.hammingNearDupsIncremental(spark, s"$dir/ham",
        queries.map(q => (q._1, q._2)).toDF("doc_id", "sig"),
        "doc_id", "sig", multiProbe = false, radius = Some(7))
    }
    assert(ex.getMessage.contains("multiProbe"))
  }

  test("a rewrite fails loudly when an append landed after its snapshot") {
    // the r11 silent ordering: the append completes ENTIRELY inside
    // the rewrite's snapshot→commit window and used to report success
    // while the rewrite committed without its rows (they then died
    // with the superseded generation). Now the rewrite's pre-commit
    // marker re-check aborts it, and the appended rows stay served.
    val dir = java.nio.file.Files.createTempDirectory("graft_store_").toString
    val rel = s"$dir/rel"
    Store.create(Seq((1L, "a")).toDF("id", "v"), rel)
    val snap = Store.snapshot(spark, rel)
    // append completes fully — and succeeds: no rewrite has committed
    // or declared intent yet
    Store.append(spark, rel) { d =>
      Seq((2L, "b")).toDF("id", "v").write.mode("append").parquet(d)
    }
    assert(Store.read(spark, rel).count() == 2L,
      "the appended row is served as soon as its marker lands")
    val ex = intercept[IllegalStateException] {
      Store.rewrite(snap, snap.df, numFiles = 1)
    }
    assert(ex.getMessage.contains("marker set changed") &&
      ex.getMessage.contains("added: a-"),
      s"the rewrite must name the late append's marker: ${ex.getMessage}")
    // nothing was lost and nothing committed: still generation 1,
    // with both rows
    assert(Store.currentGen(spark, rel).n == 1L)
    assert(Store.read(spark, rel).count() == 2L)
    // a rewrite from a FRESH snapshot (which includes the appended
    // rows) goes through
    val snap2 = Store.snapshot(spark, rel)
    Store.rewrite(snap2, snap2.df, numFiles = 1)
    assert(Store.currentGen(spark, rel).n == 2L)
    assert(Store.read(spark, rel).count() == 2L,
      "the committed generation carries the appended row")
  }

  test("an append during a live rewrite fails loudly at the intent") {
    // mirror ordering of the fence: the rewrite declared intent (it
    // is mid-write); an append arriving now must fail BEFORE
    // publishing a marker, so the rewrite is not spuriously aborted
    // and the caller replays against the committed generation.
    val dir = java.nio.file.Files.createTempDirectory("graft_store_").toString
    val rel = s"$dir/rel"
    Store.create(Seq((1L, "a")).toDF("id", "v"), rel)
    // simulate the in-flight rewrite by planting its intent file
    val intent = java.nio.file.Paths.get(s"$rel/_manifests/r-000000002")
    java.nio.file.Files.createFile(intent)
    val ex = intercept[IllegalStateException] {
      Store.append(spark, rel) { d =>
        Seq((2L, "b")).toDF("id", "v").write.mode("append").parquet(d)
      }
    }
    assert(ex.getMessage.contains("rewrite is in flight"),
      s"append must name the live rewrite: ${ex.getMessage}")
    // a stale intent (crashed rewrite) blocks loudly until the janitor
    // call clears it
    Store.clearStaleIntent(spark, rel)
    Store.append(spark, rel) { d =>
      Seq((2L, "b")).toDF("id", "v").write.mode("append").parquet(d)
    }
    assert(Store.read(spark, rel).count() == 2L)
  }

  test("raced rewrites: exactly one commits, loser is loud, data intact") {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val dir = java.nio.file.Files.createTempDirectory("graft_store_").toString
    val rel = s"$dir/rel"
    Store.create((1L to 20L).map(i => (i, s"v$i")).toDF("id", "v"), rel)
    val snapA = Store.snapshot(spark, rel)
    val snapB = Store.snapshot(spark, rel)
    val gate = new java.util.concurrent.CountDownLatch(2)
    def race(snap: Store.Snap, keepBelow: Long): Future[Option[Throwable]] =
      Future {
        gate.countDown(); gate.await()
        try { Store.rewrite(snap, snap.df.filter(col("id") <= keepBelow),
          numFiles = 1); None }
        catch { case t: IllegalStateException => Some(t) }
      }
    val (ra, rb) = (race(snapA, 10L), race(snapB, 15L))
    val outcomes = Seq(Await.result(ra, 120.seconds),
      Await.result(rb, 120.seconds))
    assert(outcomes.count(_.isEmpty) == 1,
      s"exactly one rewrite must win, got $outcomes")
    assert(outcomes.flatten.forall(_.getMessage.contains("rewrite")),
      "the loser's error must name the race")
    // the winner's generation is fully intact
    val n = Store.read(spark, rel).count()
    assert(Store.currentGen(spark, rel).n == 2L)
    assert(n == 10L || n == 15L, s"live generation must be one winner's " +
      s"complete output, got $n rows")
  }

  test("raced append vs rewrite: an append that reports success is served") {
    // property form of the fence proof: whatever the interleaving,
    // an append that RETURNED WITHOUT ERROR must have its rows in the
    // live generation afterwards (the silent-loss ordering of r11 can
    // no longer report success).
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val dir = java.nio.file.Files.createTempDirectory("graft_store_").toString
    (1 to 5).foreach { round =>
      val rel = s"$dir/rel$round"
      Store.create(Seq((1L, "base")).toDF("id", "v"), rel)
      val snap = Store.snapshot(spark, rel)
      val gate = new java.util.concurrent.CountDownLatch(2)
      val append = Future {
        gate.countDown(); gate.await()
        try { Store.append(spark, rel) { d =>
          Seq((100L + round, "app")).toDF("id", "v")
            .write.mode("append").parquet(d) }; true }
        catch { case _: IllegalStateException => false }
      }
      val rewrite = Future {
        gate.countDown(); gate.await()
        try { Store.rewrite(snap, snap.df, numFiles = 1); true }
        catch { case _: IllegalStateException => false }
      }
      val appendOk = Await.result(append, 120.seconds)
      Await.result(rewrite, 120.seconds)
      val served = Store.read(spark, rel)
        .filter(col("id") === (100L + round)).count() == 1L
      if (appendOk) assert(served,
        s"round $round: append reported success but its row is not served")
    }
  }

  test("manifest read serves partition values and prunes static filters") {
    val dir = java.nio.file.Files.createTempDirectory("graft_mfi_").toString
    val rel = s"$dir/rel"
    Store.create(
      Seq((1L, "a", 1), (2L, "b", 1), (3L, "c", 2), (4L, "d", 3))
        .toDF("id", "v", "p"),
      rel, partitionCols = Seq("p"))
    val df = Store.read(spark, rel)
    assert(df.columns.toSet == Set("id", "v", "p"),
      "partition column restored from the manifest's partition schema")
    assert(df.filter(col("p") === 2).select("id").as[Long].collect()
      .toSeq == Seq(3L),
      "partition values parse from the recorded paths")
    // static pruning happens in the file index itself: the scan only
    // sees p = 2's partition
    val plan = df.filter(col("p") === 2).queryExecution.executedPlan
    val scans = plan.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }
    assert(scans.nonEmpty, s"expected a file scan in:\n$plan")
    assert(scans.head.selectedPartitions.partitionCount == 1,
      "exactly one partition survives the static filter")
    // appended files join the manifest view, partition segments intact
    Store.append(spark, rel) { d =>
      Seq((5L, "e", 2)).toDF("id", "v", "p")
        .write.mode("append").partitionBy("p").parquet(d)
    }
    assert(Store.read(spark, rel).filter(col("p") === 2)
      .select("id").as[Long].collect().toSet == Set(3L, 5L))
  }

  test("open-once handles serve a stable snapshot until re-open") {
    val dir = java.nio.file.Files.createTempDirectory("graft_handle_").toString
    Dedup.writeSignatureTable(freshDocs(1L to 8L, 0L), "doc_id", "text",
      s"$dir/sig")
    val h = Dedup.openSignatureTable(spark, s"$dir/sig")
    val copy9 = freshDocs(Seq(9L), 1000L)
    assert(Dedup.nearDedupIncremental(h, copy9, "doc_id", "text",
      threshold = 0.7, pick = Nil).count() == 1L,
      "doc 9 is not stored yet — its copy is admitted")
    Dedup.appendToSignatureTable(spark, s"$dir/sig",
      freshDocs(Seq(9L), 0L), "doc_id", "text")
    assert(Dedup.nearDedupIncremental(h, copy9, "doc_id", "text",
      threshold = 0.7, pick = Nil).count() == 1L,
      "the open handle is a snapshot: the append is invisible to it")
    val h2 = Dedup.openSignatureTable(spark, s"$dir/sig")
    assert(Dedup.nearDedupIncremental(h2, copy9, "doc_id", "text",
      threshold = 0.7, pick = Nil).count() == 0L,
      "a re-open sees the appended signature and rejects the copy")

    // the Hamming twin
    Dedup.writeHammingTable(Seq((1L, 0x1111L)).toDF("doc_id", "sig"),
      "doc_id", "sig", s"$dir/ham", maxHamming = 3, maxBucketSize = 100)
    val hh = Dedup.openHammingTable(spark, s"$dir/ham")
    val probe = Seq((101L, 0x2222L)).toDF("doc_id", "sig")
    assert(Dedup.hammingNearDupsIncremental(hh, probe, "doc_id", "sig",
      multiProbe = false, radius = None).count() == 0L)
    Dedup.appendToHammingTable(spark, s"$dir/ham",
      Seq((2L, 0x2222L)).toDF("doc_id", "sig"), "doc_id", "sig")
    assert(Dedup.hammingNearDupsIncremental(hh, probe, "doc_id", "sig",
      multiProbe = false, radius = None).count() == 0L,
      "snapshot: the appended signature is invisible to the open handle")
    val hh2 = Dedup.openHammingTable(spark, s"$dir/ham")
    assert(Dedup.hammingNearDupsIncremental(hh2, probe, "doc_id", "sig",
      multiProbe = false, radius = None).count() == 1L)
  }

  test("compaction self-heals bucket rows orphaned by a partial retire") {
    val dir = java.nio.file.Files.createTempDirectory("graft_store_").toString
    Dedup.writeSignatureTable(freshDocs(1L to 6L, 0L), "doc_id", "text",
      s"$dir/sig")
    // simulate the crash window between retire's two swaps: rewrite
    // SIGS without doc 2, leaving its bucket rows orphaned
    val sigsRel = s"$dir/sig/sigs"
    val sigSnap = Store.snapshot(spark, sigsRel)
    Store.rewrite(sigSnap,
      sigSnap.df.filter(col("id") =!= 2L), numFiles = 1)
    val orphaned = Store.read(spark, s"$dir/sig/buckets")
      .filter(col("id") === 2L).count()
    assert(orphaned > 0L, "the simulated crash left orphaned bucket rows")
    // the in-between state ANSWERS as-if-retired: doc 2's orphaned
    // bucket rows still propose candidates, but the estimate's inner
    // join against sigs drops them, so a fresh copy of doc 2 is
    // ADMITTED — exactly what a completed retirement would do
    assert(Dedup.nearDedupIncremental(spark, s"$dir/sig",
      freshDocs(Seq(2L), 1000L), "doc_id", "text", threshold = 0.7)
      .count() == 1L,
      "queries in the crash window behave as if the retire completed")
    // and the health signal reports the window instead of hiding it
    assert(Dedup.signatureTableStats(spark, s"$dir/sig")
      .select("orphaned_bucket_rows").head().getLong(0) == orphaned,
      "signatureTableStats reports the orphaned-bucket count")
    Dedup.compactSignatureTable(spark, s"$dir/sig", numFiles = 1)
    assert(Store.read(spark, s"$dir/sig/buckets")
      .filter(col("id") === 2L).count() == 0L,
      "compaction sweeps bucket rows whose id left the sig relation")
    assert(Dedup.signatureTableStats(spark, s"$dir/sig")
      .select("orphaned_bucket_rows").head().getLong(0) == 0L,
      "the signal returns to zero once the sweep heals the window")
  }

  test("clustered relation: a static key-range scan touches a bounded file subset") {
    // the Iceberg-style file-skipping contract of the manifest stats:
    // the relation is range-clustered by id into 16 files, so a
    // 500-wide id range can physically live in at most 2 of them —
    // and the scan's file index must prove it from the recorded
    // per-file [min,max], without touching the other 14.
    val dir = java.nio.file.Files.createTempDirectory("graft_stats_").toString
    val rel = s"$dir/rel"
    Store.create((0L until 10000L).map(i => (i, i % 7)).toDF("id", "v"),
      rel, clusterBy = Seq("id"), numFiles = 16)
    assert(parquetFiles(rel) == 16L)
    val q = Store.read(spark, rel)
      .filter(col("id") >= 1000L && col("id") < 1500L)
    val scans = q.queryExecution.executedPlan.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }
    assert(scans.nonEmpty)
    val touched = scans.head.selectedPartitions.totalNumberOfFiles
    assert(touched <= 2L,
      s"a 500-wide range over 625-wide clustered files must touch at " +
        s"most 2 files, scanned $touched of 16")
    assert(q.count() == 500L, "pruning must not drop matching rows")
    // point lookup: exactly one file
    val q1 = Store.read(spark, rel).filter(col("id") === 4242L)
    val s1 = q1.queryExecution.executedPlan.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }.head.selectedPartitions.totalNumberOfFiles
    assert(s1 == 1L, s"a point lookup must touch exactly 1 file, got $s1")
    assert(q1.count() == 1L)
  }

  test("string-clustered relation: a url-prefix range scan touches a " +
    "bounded file subset") {
    // the first string-clustered layout a user writes (url/domain) must
    // get the same Iceberg-style file skipping the integral keys get:
    // bounds are stored UTF-8-truncated (lower = 16-cp prefix of min,
    // upper = truncated max incremented), so long urls stay prunable.
    val dir = java.nio.file.Files.createTempDirectory("graft_sstats_").toString
    val rel = s"$dir/rel"
    val rows = (0 until 10000).map { i =>
      // 16 domains; every url is LONGER than the 16-code-point
      // truncation, so this exercises the truncated-bound path
      (f"https://${i / 625}%04d.example.com/page/$i", i.toLong)
    }.toDF("url", "id")
    Store.create(rows, rel, clusterBy = Seq("url"), numFiles = 16)
    assert(parquetFiles(rel) == 16L)
    val q = Store.read(spark, rel)
      .filter(col("url") >= "https://0004" && col("url") < "https://0005")
    val touched = q.queryExecution.executedPlan.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }.head.selectedPartitions.totalNumberOfFiles
    assert(touched <= 3L,
      s"one domain's url range over 16 range-clustered files must touch " +
        s"a bounded subset, scanned $touched of 16")
    assert(q.count() == 625L, "string pruning must not drop matching rows")
    // exact-url point lookup: every url of one domain shares the same
    // 16-code-point truncated prefix, so the bounds cannot discriminate
    // WITHIN the domain — the guarantee is "every file holding (or
    // bordering) the domain", i.e. the domain's ~1/16 of the relation
    // plus range-boundary neighbours, never the corpus (the exact
    // count wobbles with the range sampler's boundaries)
    val q1 = Store.read(spark, rel)
      .filter(col("url") === "https://0007.example.com/page/4500")
    val s1 = q1.queryExecution.executedPlan.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }.head.selectedPartitions.totalNumberOfFiles
    assert(s1 <= 4L,
      s"a url point lookup must touch only the domain's files, got $s1 of 16")
    assert(q1.count() == 1L)
  }

  test("manifest string-stat skipping is exact under 80 seeded random " +
    "predicates (plain-parquet oracle)") {
    // the string sibling of the integral property test: NULLs, empty
    // strings, supplementary characters, and keys that only differ
    // PAST the 16-code-point truncation (where pruning must widen,
    // never drop). Unsupported shapes (startsWith, !=, isNull,
    // length()) must fall back to keep-all rather than mis-prune.
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_sprune_").toString
    val longPfx = "zz-" + ("x" * 20)
    def mk(i: Int): Option[String] = i % 19 match {
      case 0 => None
      case 1 => Some("")
      case 2 => Some(s"$longPfx-${i % 7}") // differs past truncation
      case 3 => Some(s"émoji😀${i % 50}") // non-ASCII + supplementary
      case _ => Some(f"k${(i * 37) % 401}%04d")
    }
    val rows = (0 until 4000).map(i => (mk(i), i.toLong)).toDF("k", "id")
    Store.create(rows, s"$dir/rel", clusterBy = Seq("k"), numFiles = 16)
    rows.write.parquet(s"$dir/plain")
    val stored = Store.read(spark, s"$dir/rel")
    val plain = spark.read.parquet(s"$dir/plain")
    val rnd = new scala.util.Random(20260815L)
    def c(): String = rnd.nextInt(6) match {
      case 0 => s"$longPfx-${rnd.nextInt(9)}"
      case 1 => s"émoji😀${rnd.nextInt(60)}"
      case 2 => ""
      case _ => f"k${rnd.nextInt(500)}%04d"
    }
    (1 to 80).foreach { i =>
      val p = rnd.nextInt(11) match {
        case 0 => col("k") === c()
        case 1 => col("k") > c()
        case 2 => col("k") < c()
        case 3 => col("k") >= c()
        case 4 => col("k") <= c()
        case 5 => col("k").isin(c(), c(), c())
        case 6 => val a = c(); col("k") > a && col("k") <= a + "zz"
        case 7 => col("k") < c() || col("k") > c()
        case 8 => col("k") =!= c()
        case 9 => col("k").isNull
        case _ => col("k").startsWith("k01")
      }
      val got = stored.filter(p).count()
      val want = plain.filter(p).count()
      assert(got == want,
        s"string predicate #$i ($p): pruned store answered $got, oracle $want")
    }
  }

  test("bucket-store probe keeps O(touched keys) files, not the corpus") {
    // the serving-path bytes bound: a 1-doc probe of a signature table
    // spread over many bucket files must READ only the files whose
    // band partition + bucket range can hold one of its 16 keys.
    val dir = java.nio.file.Files.createTempDirectory("graft_probe_").toString
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    val prevCoalesce =
      spark.conf.get("spark.sql.adaptive.coalescePartitions.enabled", "true")
    try {
      // widen the build parallelism so the bucket relation lands in
      // ~4 range files per band dir — enough spread for the per-band
      // bucket ranges to discriminate (AQE would coalesce this tiny
      // fixture to a handful of files, which is the right production
      // layout but defeats the spread this spec needs)
      spark.conf.set("spark.sql.shuffle.partitions", "64")
      spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
      Dedup.writeSignatureTable(freshDocs(1L to 800L, 0L), "doc_id",
        "text", s"$dir/sig")
    } finally {
      spark.conf.set("spark.sql.shuffle.partitions", prev)
      spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled",
        prevCoalesce)
    }
    val total = parquetFiles(s"$dir/sig/buckets")
    assert(total >= 48L, s"fixture needs file spread, got $total files")
    val h = Dedup.openSignatureTable(spark, s"$dir/sig")
    val (kept, keptBytes, totalF, totalBytes) =
      Dedup.probeFileFootprint(h, freshDocs(Seq(5L), 1000L),
        "doc_id", "text")
    assert(totalF == total)
    // 16 touched keys (one per band): at most one in-range file per
    // band plus range-boundary neighbours — far below the corpus scan
    assert(kept <= 32L && kept < totalF / 2,
      s"a 1-doc probe must skip most bucket files: kept $kept of $totalF")
    assert(keptBytes < totalBytes)
    // and the pruned probe is still exact: the copy of doc 5 is caught
    assert(Dedup.nearDedupIncremental(h, freshDocs(Seq(5L), 1000L),
      "doc_id", "text", threshold = 0.7, pick = Nil).count() == 0L,
      "file pruning must never lose a real match")
  }

  test("append schema drift fails loudly before the marker publishes") {
    val dir = java.nio.file.Files.createTempDirectory("graft_drift_").toString
    val rel = s"$dir/rel"
    Store.create(Seq((1L, "a")).toDF("id", "v"), rel)
    val ex = intercept[IllegalStateException] {
      Store.append(spark, rel) { d =>
        Seq((2L, 3L)).toDF("id", "w").write.mode("append").parquet(d)
      }
    }
    assert(ex.getMessage.contains("pinned data schema"),
      s"drifted append must name the schema fence: ${ex.getMessage}")
    assert(Store.read(spark, rel).count() == 1L,
      "the rejected batch is not served")
    // count files ON DISK (not via the manifest, which never listed
    // the batch): the rejected batch's directory must be gone
    val onDisk = {
      val root = new java.io.File(rel)
      def walk(f: java.io.File): Long =
        if (f.isDirectory) f.listFiles().map(walk).sum
        else if (f.getName.endsWith(".parquet")) 1L else 0L
      walk(root)
    }
    assert(onDisk == Store.partFileCount(spark, rel),
      s"the rejected batch's files were removed ($onDisk on disk)")
    // a conforming append then lands normally
    Store.append(spark, rel) { d =>
      Seq((2L, "b")).toDF("id", "v").write.mode("append").parquet(d)
    }
    assert(Store.read(spark, rel).count() == 2L)
    // partitioned relation: a batch written WITHOUT the partition
    // layout is rejected with the partitionBy guidance
    val rel2 = s"$dir/rel2"
    Store.create(Seq((1L, "a", 1)).toDF("id", "v", "p"), rel2,
      partitionCols = Seq("p"))
    val ex2 = intercept[IllegalStateException] {
      Store.append(spark, rel2) { d =>
        Seq((2L, "b", 2)).toDF("id", "v", "p")
          .write.mode("append").parquet(d)
      }
    }
    assert(ex2.getMessage.contains("partitionBy") ||
      ex2.getMessage.contains("pinned data schema"),
      s"flat append into a partitioned relation must be rejected: " +
        s"${ex2.getMessage}")
  }

  test("a corrupt v2 manifest fails loudly, naming the file") {
    val dir = java.nio.file.Files.createTempDirectory("graft_corrupt_").toString
    val rel = s"$dir/rel"
    Store.create(Seq((1L, "a")).toDF("id", "v"), rel)
    val mf = java.nio.file.Paths.get(s"$rel/_manifests/m-000000001")
    java.nio.file.Files.write(mf,
      "graft-store-v2\n".getBytes(java.nio.charset.StandardCharsets.UTF_8))
    // the write above bypassed Hadoop's local checksum shadow file —
    // drop it so the read surfaces the CONTENT corruption, not the crc
    java.nio.file.Files.deleteIfExists(
      java.nio.file.Paths.get(s"$rel/_manifests/.m-000000001.crc"))
    val ex = intercept[IllegalStateException] {
      Store.read(spark, rel)
    }
    assert(ex.getMessage.contains("corrupt store manifest") &&
      ex.getMessage.contains("m-000000001"),
      s"expected a loud corrupt-manifest error, got: ${ex.getMessage}")
  }

  test("a zero-byte manifest fails loudly at every entry point, naming the file") {
    val dir = java.nio.file.Files.createTempDirectory("graft_blank_").toString
    val rel = s"$dir/rel"
    Store.create(Seq((1L, "a")).toDF("id", "v"), rel)
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$rel/_manifests/m-000000001"), Array.emptyByteArray)
    java.nio.file.Files.deleteIfExists(
      java.nio.file.Paths.get(s"$rel/_manifests/.m-000000001.crc"))
    val calls: Seq[(String, () => Any)] = Seq(
      "read" -> (() => Store.read(spark, rel)),
      "snapshot" -> (() => Store.snapshot(spark, rel)),
      "currentGen" -> (() => Store.currentGen(spark, rel)),
      "partFileCount" -> (() => Store.partFileCount(spark, rel)),
      "append" -> (() => Store.append(spark, rel) { d =>
        Seq((2L, "b")).toDF("id", "v").write.mode("append").parquet(d)
      }))
    calls.foreach { case (name, call) =>
      val ex = intercept[IllegalStateException](call())
      assert(ex.getMessage.contains("corrupt store manifest") &&
        ex.getMessage.contains("m-000000001"),
        s"$name: expected a loud corrupt-manifest error, got: ${ex.getMessage}")
    }
  }

  test("a bucket relation laid out flat is refused at open until compaction re-lays it") {
    val sig = java.nio.file.Files.createTempDirectory("graft_flat_").toString + "/sig"
    Dedup.writeSignatureTable(freshDocs(1L to 12L, 0L), "doc_id", "text", sig,
      shingleLen = 3, numPerm = 64, bands = 16)
    val batch = freshDocs(Seq(1L, 2L, 3L), 1000L)
      .union(freshDocs(Seq(50L, 51L), 0L))
    def ids(df: org.apache.spark.sql.DataFrame) =
      df.select("doc_id").as[Long].collect().toSet
    // the survivors of the same batch against the table as written
    val untouched = ids(Dedup.nearDedupIncremental(spark, sig, batch,
      "doc_id", "text", threshold = 0.7))
    val buckets = s"$sig/buckets"
    val stored = Store.read(spark, buckets)
    Store.create(spark.createDataFrame(
      java.util.Arrays.asList(stored.collect(): _*), stored.schema), buckets)
    def counts = Seq("sigs", "buckets")
      .map(r => Store.snapshot(spark, s"$sig/$r").manifestRowCount)
    val before = counts
    def ingest() = ids(Dedup.nearDedupIngest(spark, sig, batch,
      "doc_id", "text", threshold = 0.7))
    Seq[() => Any](() => Dedup.openSignatureTable(spark, sig), () => ingest())
      .foreach { call =>
        val ex = intercept[IllegalStateException](call())
        assert(ex.getMessage.contains(buckets) && ex.getMessage.contains("compact"),
          s"expected the flat-layout refusal, got: ${ex.getMessage}")
      }
    assert(counts == before && before.forall(_.isDefined),
      s"a refused ingest must commit nothing: $before -> $counts")
    Dedup.compactSignatureTable(spark, sig, numFiles = 2)
    val got = ingest()
    assert(got == untouched && got == Set(50L, 51L), s"survivors $got")
  }

  test("rewriteWithRetry racing a stream of appends commits with all rows accounted") {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val dir = java.nio.file.Files.createTempDirectory("graft_retry_").toString
    val rel = s"$dir/rel"
    Store.create(Seq((0L, "base")).toDF("id", "v"), rel)
    // ingest side: 10 batches, each replayed on fence conflicts (the
    // documented ingest contract — a failed append is fully withdrawn,
    // so a replay can never double-apply)
    val appender = Future {
      (1L to 10L).foreach { i =>
        var done = false
        var tries = 0
        while (!done) {
          try {
            Store.append(spark, rel) { d =>
              Seq((i, s"v$i")).toDF("id", "v")
                .write.mode("append").parquet(d)
            }
            done = true
          } catch {
            case _: Store.RetryableConflictException =>
              tries += 1
              assert(tries < 100, s"append $i starved")
              Thread.sleep(20)
          }
        }
      }
    }
    // maintenance side: compactions racing the ingest stream, each
    // a pure rewrite that must not lose any committed append
    (1 to 3).foreach { _ =>
      Store.rewriteWithRetry(spark, rel, numFiles = 1,
        maxAttempts = 50)(snap => snap.df)
      Thread.sleep(10)
    }
    Await.result(appender, 300.seconds)
    // one final compaction after the stream drains
    Store.rewriteWithRetry(spark, rel, numFiles = 1,
      maxAttempts = 50)(snap => snap.df)
    val served = Store.read(spark, rel).select("id")
      .as[Long].collect().toSet
    assert(served == (0L to 10L).toSet,
      s"every successfully-appended row must survive the maintenance " +
        s"races, got $served")
  }

  test("retire/compact racing an append stream converge with no " +
    "caller-visible conflict and every row accounted") {
    // takedown runs at PRODUCTION cadence, not in a maintenance window
    // — the maintenance entry points route through rewriteWithRetry,
    // so a retire racing continuous ingest must replay internally and
    // never surface RetryableConflictException to the operator. The
    // ingest side keeps the documented replay-on-conflict contract.
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val dir = java.nio.file.Files.createTempDirectory("graft_ret_race_").toString
    Dedup.writeSignatureTable(freshDocs(1L to 12L, 0L), "doc_id", "text",
      s"$dir/sig", shingleLen = 3, numPerm = 64, bands = 16)
    val appender = Future {
      (1 to 5).foreach { i =>
        var done = false
        var tries = 0
        while (!done) {
          try {
            Dedup.appendToSignatureTable(spark, s"$dir/sig",
              freshDocs(Seq(100L + i), 0L), "doc_id", "text")
            done = true
          } catch {
            case _: Store.RetryableConflictException =>
              tries += 1
              assert(tries < 100, s"append $i starved")
              Thread.sleep(20)
          }
        }
      }
    }
    // maintenance side on the main thread: any fence conflict with the
    // live stream replays inside rewriteWithRetry — an exception here
    // fails the test, which IS the assertion
    val removed = Dedup.retireFromSignatureTable(spark, s"$dir/sig",
      Seq(2L, 4L).toDF("doc_id"), "doc_id")
    assert(removed == 2L)
    Dedup.compactSignatureTable(spark, s"$dir/sig", numFiles = 2)
    Await.result(appender, 600.seconds)
    // every successfully-appended doc present, every retired doc gone
    // (set compare: an ingest-side replay whose first half landed may
    // legally leave a duplicate sig row — harmless per the append
    // contract, restored to unique by the next compaction's sweep)
    val sigIds = Store.read(spark, s"$dir/sig/sigs")
      .select("id").as[Long].collect().toSet
    val expect = ((1L to 12L).toSet -- Set(2L, 4L)) ++
      (1 to 5).map(i => 100L + i)
    assert(sigIds == expect,
      s"store must hold exactly the survivors + appends, got $sigIds")
  }

  test("large commits stat their footers through the distributed path " +
    "with the same bounds as the driver pool") {
    // ≥64 files crosses into the executor-side footer pass — a 10k-file
    // generation must not serialize footer opens on the driver. The
    // recorded bounds must be exactly what the driver pool records
    // (same readFooterInfo), pinned here by exact range pruning.
    val dir = java.nio.file.Files.createTempDirectory("graft_dstat_").toString
    val rel = s"$dir/rel"
    Store.create(
      (0L until 80000L).map(i => (i, f"key-$i%07d", i % 9)).toDF("id", "k", "v"),
      rel, clusterBy = Seq("id"), numFiles = 80)
    val snap = Store.snapshot(spark, rel)
    assert(snap.files.size == 80L, s"fixture wants 80 files, got ${snap.files.size}")
    assert(snap.files.forall(f => f.stats.contains("id")),
      "every distributed-statted file records its int bounds")
    assert(snap.files.forall(f => f.strStats.contains("k")),
      "every distributed-statted file records its string bounds")
    val q = snap.df.filter(col("id") >= 40000L && col("id") < 41000L)
    val touched = q.queryExecution.executedPlan.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }.head.selectedPartitions.totalNumberOfFiles
    assert(touched <= 2L, s"1000-wide range over 1000-wide files: $touched")
    assert(q.count() == 1000L)
    val qs = snap.df.filter(col("k") === "key-0055555")
    assert(qs.count() == 1L, "string bounds from the distributed path prune exactly")
  }

  test("hashKeySplits writes files with DISJOINT bucket ranges inside " +
    "every band (random longs incl. extremes)") {
    // the property pruning rests on: placement monotone in the SIGNED
    // key order the files are sorted and footer-statted in — an
    // ordering mismatch would not corrupt results (stats are real) but
    // would silently widen per-file ranges until probes stop skipping
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val rows = (Seq.fill(20000)((rnd.nextInt(4), rnd.nextLong())) ++
      Seq((0, Long.MinValue), (0, Long.MaxValue), (3, -1L), (3, 0L)))
      .toDF("band", "bucket")
    val dir = java.nio.file.Files.createTempDirectory("graft_disj_").toString
    val rel = s"$dir/rel"
    Store.create(rows, rel, partitionCols = Seq("band"),
      clusterBy = Seq("bucket"), numFiles = 16,
      splits = Some(Store.hashKeySplits(col("bucket"),
        Some((col("band"), 4)))))
    val snap = Store.snapshot(spark, rel)
    val byBand = snap.files.groupBy(
      _.rel.split('/').find(_.startsWith("band=")).getOrElse("?"))
    assert(byBand.size == 4)
    byBand.foreach { case (band, fs) =>
      val iv = fs.flatMap(_.stats.get("bucket")).sortBy(_._1)
      assert(iv.size == fs.size, s"$band: every file carries bucket stats")
      iv.sliding(2).foreach {
        case Seq((_, aMax), (bMin, _)) =>
          assert(aMax < bMin,
            s"$band: file ranges overlap ([..,$aMax] vs [$bMin,..])")
        case _ => ()
      }
    }
    assert(Store.read(spark, rel).count() == rows.count(),
      "placement never drops rows")
  }

  test("statsSplits survives files spanning the full 64-bit key range " +
    "(no Long-wrap degenerate layout)") {
    // (mx - mn) wraps negative in Long when one file covers more than
    // half the signed domain (hash-valued keys coalesced into few
    // files) — the interpolation must run in double or the rewrite
    // silently collapses to one giant partition
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    val rows = Seq.fill(8000)((rnd.nextLong(), 1)).toDF("id", "v")
    val dir = java.nio.file.Files.createTempDirectory("graft_wide_").toString
    val rel = s"$dir/rel"
    Store.create(rows, rel, clusterBy = Seq("id"), numFiles = 1)
    Store.rewriteWithRetry(spark, rel, numFiles = 8, clusterBy = Seq("id"),
      splits = s => Store.statsSplits(s, "id"))(_.df)
    val snap = Store.snapshot(spark, rel)
    assert(snap.files.size == 8,
      s"full-range compaction must spread over 8 files, got ${snap.files.size}")
    val iv = snap.files.flatMap(_.stats.get("id")).sortBy(_._1)
    iv.sliding(2).foreach {
      case Seq((_, aMax), (bMin, _)) =>
        assert(aMax < bMin, "stat-derived splits keep files disjoint")
      case _ => ()
    }
    assert(Store.read(spark, rel).count() == 8000L)
  }

  test("multi-probe signature build places without sampling even when " +
    "the band domain exceeds the shuffle target") {
    // numPerm = 64 band blocks vs 32 shuffle partitions: the placed
    // write must pin the count (one file per band dir — the
    // partitioned floor) rather than silently falling back to the
    // sampling pass the declared placement exists to avoid
    val dir = java.nio.file.Files.createTempDirectory("graft_mp_").toString
    Dedup.writeSignatureTable(freshDocs(1L to 60L, 0L), "doc_id", "text",
      s"$dir/sig", shingleLen = 3, numPerm = 64, bands = 16,
      multiProbe = true)
    val snap = Store.snapshot(spark, s"$dir/sig/buckets")
    val bands = snap.files.flatMap(
      _.rel.split('/').find(_.startsWith("band="))).distinct
    assert(bands.size == 64, s"64 LOO band dirs expected, got ${bands.size}")
    assert(snap.files.size == 64,
      s"one placed file per band dir, got ${snap.files.size}")
    // and the store still serves: a copy of a stored doc is rejected
    assert(Dedup.nearDedupIncremental(spark, s"$dir/sig",
      freshDocs(Seq(7L), 1000L), "doc_id", "text", threshold = 0.7)
      .count() == 0L)
  }

  test("placeByPid lands pid p in shuffle partition p exactly " +
    "(hash-slot remap pin)") {
    // the zero-sampling range-clustering primitive rests on Spark's
    // hash partitioning being pmod(murmur3(v, 42), n) — this pins it:
    // if the partitioner ever changes, placement (not correctness of
    // results, only file-range tightness) would silently degrade, and
    // this spec is the alarm.
    val df = spark.range(0, 10000)
      .select((col("id") % 7).cast("int").as("pid"), col("id"))
    val placed = Store.placeByPid(df, col("pid"), 7, Seq(col("pid")))
    val bad = placed.select(spark_partition_id().as("part"), col("pid"))
      .filter(col("part") =!= col("pid")).count()
    assert(bad == 0L, "every row must land in the partition named by its pid")
    assert(placed.rdd.getNumPartitions == 7)
  }

  // the executable form of the StoreCommit trait's contract,
  // PARAMETERIZED over every implementation: the default link/rename
  // one and the in-memory conditional-PUT reference for the
  // object-store class — a real S3/GCS/ABFS implementation must pass
  // this same block verbatim. Every Store race spec in this file
  // additionally exercises the seam end-to-end through append/rewrite.
  for ((implName, mkSvc) <- Seq[(String, () => graft.operators.StoreCommit)](
    ("LinkOrRename (default)", () => graft.operators.LinkOrRenameStoreCommit),
    ("InMemoryConditionalPut (object-store reference)",
      () => new graft.operators.InMemoryConditionalPutStoreCommit)))
  test(s"StoreCommit contract [$implName]: exactly one racing publisher " +
    "wins; readers never see a partial object; tokens are single-create") {
    val svc: graft.operators.StoreCommit = mkSvc()
    val dir = java.nio.file.Files.createTempDirectory("graft_commit_").toString
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // (2b) N concurrent publishers of one path: exactly one true
    (1 to 20).foreach { round =>
      val p = new org.apache.hadoop.fs.Path(dir, s"m-$round")
      val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
      val gate = new java.util.concurrent.CountDownLatch(1)
      val wins = (0 until 8).map { w =>
        pool.submit(new java.util.concurrent.Callable[Boolean] {
          override def call(): Boolean = {
            gate.await()
            svc.publishExclusive(fs, p, s"content-of-writer-$w\n" * 50)
          }
        })
      }
      gate.countDown()
      val results = wins.map(_.get())
      pool.shutdown()
      assert(results.count(identity) == 1,
        s"round $round: ${results.count(identity)} publishers won")
      // (2a) the committed object is the winner's COMPLETE content
      val winner = results.indexWhere(identity)
      val in = fs.open(p)
      val content = try scala.io.Source.fromInputStream(in).mkString
      finally in.close()
      assert(content == s"content-of-writer-$winner\n" * 50,
        s"round $round: committed content is torn or not the winner's")
    }
    // (1) exclusion tokens: two creates, one winner
    val tok = new org.apache.hadoop.fs.Path(dir, "r-1")
    assert(svc.createExclusive(fs, tok))
    assert(!svc.createExclusive(fs, tok), "second create must lose")
    // a DELETED object accepts a new exclusive create: the protocol
    // clears intents / withdraws markers via fs.delete out-of-band, so
    // a cleared rewrite intent must not block the replayed rewrite's
    // re-create of the SAME name (the generation-precondition reset)
    assert(fs.delete(tok, false))
    assert(svc.createExclusive(fs, tok),
      "create after out-of-band delete must win again")
    val m = new org.apache.hadoop.fs.Path(dir, "m-redo")
    assert(svc.publishExclusive(fs, m, "gen-1"))
    assert(!svc.publishExclusive(fs, m, "imposter"))
    assert(fs.delete(m, false))
    assert(svc.publishExclusive(fs, m, "gen-1-replayed"),
      "publish after out-of-band delete must win again")
  }

  test("a manifest stat entry of unrecognized shape is SKIPPED (column " +
    "unbounded, file kept), never a raw parse crash (mixed-version rule)") {
    // the FormatTag mixed-version constraint, executable: a NEWER
    // writer may add stat kinds within v2; this reader must keep
    // reading the manifest — with that one stat ignored — instead of
    // dying in NumberFormatException mid-listing (ADVICE r14).
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_mixver_").toString
    val rel = s"$dir/rel"
    Store.create((0L until 40L).map(i => (i, s"v$i")).toDF("id", "v"),
      rel, clusterBy = Seq("id"), numFiles = 2)
    val mdir = new java.io.File(s"$rel/_manifests")
    val mf = mdir.listFiles().filter(_.getName.startsWith("m-")).head
    val edited = scala.io.Source.fromFile(mf).getLines().map { l =>
      if (l.startsWith("f\t"))
        // one future 5-field shape, one damaged numeric entry — both
        // must be skipped while the REST of the line's stats survive
        l + ";future%20col:z:a:b:c;bad:1:notanumber"
      else l
    }.mkString("", "\n", "\n")
    java.nio.file.Files.write(mf.toPath,
      edited.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    // the in-place edit invalidates the local checksum sibling; drop it
    // (object stores and HDFS have no such sibling)
    new java.io.File(mdir, s".${mf.getName}.crc").delete()
    val snap = Store.snapshot(spark, rel)
    assert(snap.df.filter(col("id") < 10L).count() == 10L)
    assert(snap.files.forall(_.stats.contains("id")),
      "the recognized int stat on each file must survive the skip")
    // the skipped stats cost nothing: still prunable on the good column
    // (keep only the file holding the global minimum — with two files
    // of disjoint ranges that always drops the other one)
    val pruned = Store.pruneFiles(snap)((_, st) =>
      st.get("id").exists { case (mn, _) => mn == 0L })
    assert(pruned.count() < 40L, "pruning on the surviving stat still works")
  }

  test("the full Store protocol runs end-to-end over the conditional-PUT " +
    "commit service (second-substrate proof)") {
    // the seam's point: the generation/fence protocol is substrate-
    // agnostic — swap the commit primitive and every create/append/
    // rewrite/retention behavior must hold unchanged. try/finally
    // restores the default for the rest of the suite run.
    import spark.implicits._
    Store.setCommitService(new graft.operators.InMemoryConditionalPutStoreCommit)
    try {
      val dir = java.nio.file.Files.createTempDirectory("graft_cput_").toString
      val rel = s"$dir/rel"
      Store.create((0L until 100L).map(i => (i, s"v$i")).toDF("id", "v"),
        rel, clusterBy = Seq("id"), numFiles = 4)
      Store.append(spark, rel) { d =>
        (100L until 120L).map(i => (i, s"v$i")).toDF("id", "v")
          .write.mode("append").parquet(d)
      }
      assert(Store.read(spark, rel).count() == 120L)
      // rewrite (with its intent create/clear cycle), then a SECOND
      // rewrite toward the next generation — proves a cleared intent
      // name never wedges the conditional-put ledger
      Store.rewriteWithRetry(spark, rel, numFiles = 2,
        clusterBy = Seq("id"))(s => s.df.filter(col("id") < 110L))
      assert(Store.read(spark, rel).count() == 110L)
      Store.rewriteWithRetry(spark, rel, numFiles = 2,
        clusterBy = Seq("id"))(s => s.df.filter(col("id") < 105L))
      assert(Store.read(spark, rel).count() == 105L)
      // racing creates of one relation still end with exactly one loud
      // loser through the new substrate
      val rel2 = s"$dir/rel2"
      Store.create(Seq((1L, "a")).toDF("id", "v"), rel2)
      assert(Store.read(spark, rel2).count() == 1L)
    } finally Store.setCommitService(graft.operators.LinkOrRenameStoreCommit)
  }

  test("manifest-stat file skipping is exact under 80 seeded random " +
    "predicates (plain-parquet oracle)") {
    // the conservative-superset contract: pruning may only DROP files
    // the predicate provably cannot match — so every query must return
    // exactly what the same data answers without any manifest stats.
    // Data includes negatives, duplicates and NULLs; predicates cover
    // supported shapes (=, <, <=, >, >=, isin, AND, OR) and
    // deliberately unsupported ones (!=, isNull, arithmetic) that must
    // fall back to keep-all rather than mis-prune.
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_prune_").toString
    val rows = (0 until 4000).map { i =>
      (if (i % 17 == 0) None else Some((i * 37 % 401) - 200L),
        i.toLong)
    }.toDF("k", "id")
    Store.create(rows, s"$dir/rel", clusterBy = Seq("k"), numFiles = 16)
    rows.write.parquet(s"$dir/plain")
    val stored = Store.read(spark, s"$dir/rel")
    val plain = spark.read.parquet(s"$dir/plain")
    val rnd = new scala.util.Random(20260815L)
    def c(): Long = rnd.nextInt(500) - 250L
    (1 to 80).foreach { i =>
      val p = rnd.nextInt(11) match {
        case 0 => col("k") === c()
        case 1 => col("k") > c()
        case 2 => col("k") < c()
        case 3 => col("k") >= c()
        case 4 => col("k") <= c()
        case 5 => col("k").isin(c(), c(), c())
        case 6 => val a = c(); col("k") > a && col("k") <= a + rnd.nextInt(60)
        case 7 => col("k") < c() || col("k") > c()
        case 8 => col("k") =!= c()
        case 9 => col("k").isNull
        case _ => col("k") + 1 === c()
      }
      val got = stored.filter(p).count()
      val want = plain.filter(p).count()
      assert(got == want,
        s"predicate #$i ($p): pruned store answered $got, oracle $want")
    }
  }

  test("rewrite aborts when a fence marker was WITHDRAWN after the " +
    "snapshot (double-apply guard)") {
    // the other direction of the fence: an append published its
    // marker, this rewrite snapshotted it (rows in the fold), then the
    // append's gate-2 saw the intent, withdrew and reported failure —
    // its caller WILL replay the batch. Committing the fold would
    // serve the withdrawn rows AND their replay. The commit-time
    // marker set must therefore equal the snapshot's exactly.
    val dir = java.nio.file.Files.createTempDirectory("graft_wdrw_").toString
    val rel = s"$dir/rel"
    Store.create(Seq((0L, "base")).toDF("id", "v"), rel)
    Store.append(spark, rel) { d =>
      Seq((1L, "v1")).toDF("id", "v").write.mode("append").parquet(d)
    }
    val snap = Store.snapshot(spark, rel)
    assert(snap.fence.size == 1, "fixture: one marker in the fence")
    // simulate the withdrawal landing between snapshot and commit
    val mdir = new java.io.File(s"$rel/_manifests")
    val marker = mdir.listFiles().filter(_.getName.startsWith("a-")).head
    assert(marker.delete())
    val ex = intercept[Store.RetryableConflictException] {
      Store.rewrite(snap, snap.df, numFiles = 1)
    }
    assert(ex.getMessage.contains("withdrawn"),
      s"must name the withdrawn marker: ${ex.getMessage}")
    // the replayed batch + a fresh rewrite then converge normally
    Store.append(spark, rel) { d =>
      Seq((1L, "v1")).toDF("id", "v").write.mode("append").parquet(d)
    }
    Store.rewriteWithRetry(spark, rel, numFiles = 1)(s => s.df)
    assert(Store.read(spark, rel).as[(Long, String)].collect().toSet ==
      Set((0L, "base"), (1L, "v1")))
  }

  test("concurrent appenders: every batch lands, none clobbered") {
    // appends are designed to be mutually concurrent (unique batch
    // dirs + unique marker names; only REWRITES serialize) — N threads
    // appending disjoint batches must all succeed with every row
    // served, exercising the marker-publish path under real contention
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val dir = java.nio.file.Files.createTempDirectory("graft_conc_").toString
    val rel = s"$dir/rel"
    Store.create(Seq((0L, "base")).toDF("id", "v"), rel)
    val writers = (1 to 4).map { w =>
      Future {
        (1L to 10L).foreach { i =>
          val id = w * 100L + i
          Store.append(spark, rel) { d =>
            Seq((id, s"v$id")).toDF("id", "v")
              .write.mode("append").parquet(d)
          }
        }
      }
    }
    writers.foreach(Await.result(_, 300.seconds))
    val served = Store.read(spark, rel).select("id").as[Long].collect().toSet
    val expect = (for (w <- 1 to 4; i <- 1L to 10L) yield w * 100L + i)
      .toSet + 0L
    assert(served == expect,
      s"missing: ${expect -- served}, extra: ${served -- expect}")
  }

  test("marker publication is atomic: a racing reader never sees a " +
    "committed append's rows partially") {
    // The torn-publication race: create-then-write marker files left a
    // window where a reader listed a marker NAME but read ZERO file
    // entries — a snapshot (or a rewrite's fold) then served the
    // generation without the batch's rows while the marker sat in the
    // fence set, i.e. a silent committed loss. With rename-published
    // markers a snapshot taken at any instant serves EVERY append that
    // completed before the snapshot started (no rewrites here, so
    // nothing ever withdraws).
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val dir = java.nio.file.Files.createTempDirectory("graft_atomic_").toString
    val rel = s"$dir/rel"
    Store.create(Seq((0L, "base")).toDF("id", "v"), rel)
    @volatile var completed = 0L
    @volatile var stop = false
    val reader = Future {
      // partFileCount resolves the same manifest+marker view a
      // snapshot serves, without a Spark job — the tight loop is what
      // gives this reader enough samples to land inside a
      // microsecond-scale publication window
      var worst: Option[(Long, Long)] = None
      while (!stop) {
        val floor = completed // appends completed BEFORE this resolve
        val n = Store.partFileCount(spark, rel)
        // base file + one batch file per completed append
        if (n < floor + 1) worst = Some((floor, n))
      }
      worst
    }
    (1L to 200L).foreach { i =>
      Store.append(spark, rel) { d =>
        Seq((i, s"v$i")).toDF("id", "v")
          .write.mode("append").parquet(d)
      }
      completed = i
    }
    stop = true
    Await.result(reader, 300.seconds).foreach { case (floor, n) =>
      fail(s"a view resolved after $floor appends completed carried " +
        s"only $n files — a published marker was read back torn")
    }
    assert(Store.read(spark, rel).count() == 201L)
  }
}
