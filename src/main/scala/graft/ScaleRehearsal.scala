package graft

import graft.operators.{Corpus, Dedup, Graph, Sampling, Similarity, Stats}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Scale rehearsal (r8 verdict #2): measure the dedup/CC/ANN stack at
  * sf1-equivalent volume — 10× the sf0.1 rows — and record per-query
  * sf0.1 → sf1 scaling factors, turning "bucketed by design" into a
  * measured curve. The driver ships no sf1 testdata, so the scaled
  * input is DERIVED from sf0.1 (never written into /root/testdata):
  *
  *  - documents ×10: replica k keeps the base corpus's duplicate
  *    STRUCTURE but lives in a disjoint token universe (every token
  *    suffixed `_rk`), so corpus-wide dup density stays realistic —
  *    naive replication would instead put every doc in a 10-clique of
  *    exact copies, a different (and easier-to-bucket) problem;
  *  - embeddings ×10: replica k rotates each vector by 6k dimensions —
  *    norm-preserving, and a rotation of a random direction is
  *    near-orthogonal to it, so replicas act as fresh vectors rather
  *    than exact cosine-duplicates.
  *
  * Perf-only tooling: correctness stays with Verify/check_oracle; this
  * main prints one JSON line per (query, scale) and a final summary of
  * scaled/base ratios. A ratio ≫ 10 on a 10× input is a super-linear
  * red flag (modulo fixed per-query setup time, which dominates some
  * sub-second base runs — compare against the absolute times too). */
object ScaleRehearsal {
  def main(args: Array[String]): Unit = {
    val baseDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val reps = sys.env.get("SPARK_GRAFT_REPS").flatMap(_.toIntOption).getOrElse(10)
    val scaledDir = s"/tmp/graft_scale_${reps}x"
    val spark = GraftSession(GraftSession.envCores(32), 32)
    import java.nio.file.{Files, Paths}

    // ── build the scaled tables once (idempotent per reps) ──
    if (!Files.exists(Paths.get(s"$scaledDir/documents.parquet"))) {
      val docs = spark.read.parquet(s"$baseDir/documents.parquet")
      (0 until reps).map { k =>
        docs.select(
          (col("doc_id") + lit(k * 1000000L)).as("doc_id"),
          (if (k == 0) col("text")
           else regexp_replace(col("text"), "(\\S+)", s"$$1_r$k")).as("text"),
          col("lang"), col("source"), col("n_chars"))
      }.reduce(_ unionByName _)
        .repartition(32)
        .write.mode("overwrite").parquet(s"$scaledDir/documents.parquet")
      val emb = spark.read.parquet(s"$baseDir/embeddings.parquet")
      val dim = emb.select(size(col("embedding"))).head().getInt(0)
      (0 until reps).map { k =>
        val rot = (k * 6) % dim
        val rotated =
          if (rot == 0) col("embedding")
          else concat(slice(col("embedding"), rot + 1, dim - rot),
            slice(col("embedding"), 1, rot))
        emb.select((col("vec_id") + lit(k * 1000000L)).as("vec_id"),
          rotated.as("embedding"), col("label"))
      }.reduce(_ unionByName _)
        .repartition(32)
        .write.mode("overwrite").parquet(s"$scaledDir/embeddings.parquet")
      System.err.println(s"[scale] built $scaledDir (${reps}x $baseDir)")
    }

    def force(df: DataFrame): Unit =
      df.write.mode("overwrite").format("noop").save()
    val results = scala.collection.mutable.LinkedHashMap[
      (String, String), Double]()
    // optional comma-separated subset (local iteration on one curve)
    val only = sys.env.get("SPARK_GRAFT_SCALE_ONLY").map(_.split(",").toSet)
    def time(scale: String, name: String)(body: => Unit): Unit = {
      if (only.forall(_.contains(name))) {
        val t0 = System.nanoTime()
        body
        val s = (System.nanoTime() - t0) / 1e9
        results((name, scale)) = s
        println(f"""{"query":"$name","scale":"$scale","sec":$s%.2f}""")
        spark.catalog.clearCache()
      }
    }

    // the rehearsal calls LIBRARY operators directly (not the SparkEntry
    // gates): planted-oracle gates assert doc_id < 100000, which the
    // replica offsets intentionally violate, and the gates' plumbing
    // (plant construction, memoization) is not what scales
    def suite(scale: String, dir: String): Unit = {
      val docs = spark.read.parquet(s"$dir/documents.parquet")
      val emb = spark.read.parquet(s"$dir/embeddings.parquet")

      time(scale, "minhash_pairs") {
        force(Dedup.minHashNearDups(docs, "doc_id", "text",
          shingleLen = 3, numPerm = 64, bands = 16, threshold = 0.5))
      }
      time(scale, "ngram_verify_pairs") {
        force(Dedup.ngramJaccardNearDups(docs, "doc_id", "text",
          shingleLen = 3, threshold = 0.8))
      }
      time(scale, "simhash_pairs") {
        force(Dedup.simhashNearDups(docs, "doc_id", "text", maxHamming = 3))
      }
      time(scale, "cc_8gram_exact") {
        // the uncapped 8-gram-hash posting join + CC — the shape the r8
        // verdict flagged as the candidate hidden quadratic
        val hashes = docs.select(col("doc_id"),
          explode(Dedup.shingleHashes(col("text"), 8)).as("gh"))
        val edges = hashes.select(col("gh"), col("doc_id").as("src"))
          .join(hashes.select(col("gh"), col("doc_id").as("dst")), "gh")
          .filter(col("src") < col("dst"))
          .select("src", "dst").dropDuplicates("src", "dst")
        force(Dedup.connectedComponents(edges, "src", "dst"))
      }
      time(scale, "near_dedup_e2e") {
        val p = s"/tmp/graft_scale_comps_${scale.replace('.', '_')}"
        val (_, surv) = Dedup.nearDedupMaterialized(docs, "doc_id", "text",
          p, threshold = 0.7,
          pick = Seq(col("n_chars").desc_nulls_last, col("doc_id").asc))
        force(surv)
      }
      val sigPath = s"/tmp/graft_scale_sig_${scale.replace('.', '_')}"
      time(scale, "incr_sig_write") {
        Dedup.writeSignatureTable(docs, "doc_id", "text", sigPath)
      }
      time(scale, "incr_batch_dedup") {
        // one base-corpus-sized batch (fresh token universe) against
        // the persisted signature table: the per-batch production op
        val batch = spark.read.parquet(s"$baseDir/documents.parquet")
          .select((col("doc_id") + lit(50000000L)).as("doc_id"),
            regexp_replace(col("text"), "(\\S+)", "$1_rb").as("text"))
        force(Dedup.nearDedupIncremental(spark, sigPath, batch,
          "doc_id", "text", threshold = 0.7))
      }
      // store maintenance: retire is a full-store rewrite, so its cost
      // must track the STORE (∝ scale) and be INDEPENDENT of the
      // takedown list's size — the 100-id and 10k-id entries at one
      // scale should be ~equal, and each should scale ~linearly with
      // the corpus. compact is the same rewrite shape. These mutate
      // sigPath, so they run after its last query consumer.
      // takedown lists are STRICT SUBSETS of the store (the mod-2
      // slice caps the big list at half the corpus): retiring the
      // whole store is now refused loudly by design (the Store
      // empty-rewrite guard), as a full wipe should be a rebuild
      time(scale, "sig_retire_100") {
        Dedup.retireFromSignatureTable(spark, sigPath,
          docs.select(col("doc_id")).limit(100), "doc_id")
      }
      time(scale, "sig_retire_10k") {
        Dedup.retireFromSignatureTable(spark, sigPath,
          docs.filter(col("doc_id") % 2 === 0)
            .select(col("doc_id")).limit(10000), "doc_id")
      }
      time(scale, "sig_compact") {
        Dedup.compactSignatureTable(spark, sigPath, numFiles = 32)
      }
      // chained ingest: 3 constant-size batches through nearDedupIngest
      // against a THROWAWAY signature table (appends are stateful). The
      // property under measurement is per-batch cost STABILITY as the
      // table absorbs each batch's survivors — the production contract
      // behind the signature-table design. Table build is outside the
      // timed region (it is incr_sig_write's number).
      if (only.forall(o => o.exists(_.startsWith("incr_chain")))) {
        val chainPath = s"/tmp/graft_scale_chain_${scale.replace('.', '_')}"
        Dedup.writeSignatureTable(docs, "doc_id", "text", chainPath)
        (1 to 3).foreach { k =>
          val batch = spark.read.parquet(s"$baseDir/documents.parquet")
            .select((col("doc_id") + lit(60000000L + k * 1000000L)).as("doc_id"),
              regexp_replace(col("text"), "(\\S+)", s"$$1_cb$k").as("text"))
          time(scale, s"incr_chain_b$k") {
            force(Dedup.nearDedupIngest(spark, chainPath, batch,
              "doc_id", "text", threshold = 0.7))
          }
        }
      }
      // probe-only flatness (r12 verdict #1 + #3's done-criterion):
      // against a PRE-BUILT store with production-sized files (file
      // SIZE pinned ~250 docs of bucket rows, file COUNT ∝ corpus —
      // exactly the 100 TB layout, where file size is a constant and
      // growth adds files), a FIXED 8-doc batch's probe must read
      // ≈ the same BYTES at 1× and 10× corpus: the driver-side prune
      // keeps ≈ one file per touched (band, bucket-range), bounded by
      // the touched-key count, independent of corpus size. The store
      // build is untimed (a nightly artifact); the probe wall is timed
      // against an already-open handle, and the footprint line records
      // the prune's exact file/byte arithmetic.
      // pinned-layout store build: file SIZE held constant (~`rows`
      // rows per file) so corpus growth adds FILES of constant size —
      // only then is "kept bytes ≈ touched keys × file size" a
      // corpus-independent bound the two scales can exhibit. AQE
      // partition coalescing is disabled for the build (production
      // writes WANT it; this rehearsal needs the pinned spread).
      def pinnedBuild(totalRows: Long, rows: Long)(build: => Unit): Unit = {
        val prevParts = spark.conf.get("spark.sql.shuffle.partitions")
        val prevCoal = spark.conf.get(
          "spark.sql.adaptive.coalescePartitions.enabled", "true")
        try {
          spark.conf.set("spark.sql.shuffle.partitions",
            math.max(32L, totalRows / rows).toString)
          spark.conf.set(
            "spark.sql.adaptive.coalescePartitions.enabled", "false")
          build
        } finally {
          spark.conf.set("spark.sql.shuffle.partitions", prevParts)
          spark.conf.set(
            "spark.sql.adaptive.coalescePartitions.enabled", prevCoal)
        }
      }
      if (only.forall(o => o.exists(_.startsWith("probe_flat")))) {
        val n = docs.count()
        val p = s"/tmp/graft_scale_probeflat_${scale.replace('.', '_')}"
        // ~625 bucket rows (16·n total) per file
        pinnedBuild(n * 16L, 625L) {
          Dedup.writeSignatureTable(docs, "doc_id", "text", p)
        }
        val h = Dedup.openSignatureTable(spark, p)
        // 4 docs → 64 touched keys: the byte bound (keys × file size)
        // sits BELOW the base corpus, so both scales read ≈ the bound
        val batch = spark.read.parquet(s"$baseDir/documents.parquet")
          .orderBy(col("doc_id")).limit(4)
          .select((col("doc_id") + lit(70000000L)).as("doc_id"),
            regexp_replace(col("text"), "(\\S+)", "$1_pf").as("text"))
          .localCheckpoint(true)
        val (kept, keptBytes, totF, totBytes) =
          Dedup.probeFileFootprint(h, batch, "doc_id", "text")
        println(s"""{"query":"probe_flat_files","scale":"$scale",""" +
          s""""kept_files":$kept,"kept_bytes":$keptBytes,""" +
          s""""total_files":$totF,"total_bytes":$totBytes}""")
        time(scale, "probe_flat_wall") {
          force(Dedup.nearDedupIncremental(h, batch, "doc_id", "text",
            threshold = 0.7, pick = Nil))
        }
      }

      // the same bytes-∝-batch measurement for the HAMMING (media)
      // store: 64-bit signatures derived deterministically from text
      // (the store only sees longs), 4 bands, fixed 8-signature batch
      if (only.forall(o => o.exists(_.startsWith("hamming_probe_flat")))) {
        val sigs = docs.select(col("doc_id"),
          xxhash64(col("text")).as("sig"))
        val n = docs.count()
        val p = s"/tmp/graft_scale_hamflat_${scale.replace('.', '_')}"
        pinnedBuild(n * 4L, 625L) {
          Dedup.writeHammingTable(sigs, "doc_id", "sig", p)
        }
        val h = Dedup.openHammingTable(spark, p)
        val batch = spark.read.parquet(s"$baseDir/documents.parquet")
          .orderBy(col("doc_id")).limit(8)
          .select((col("doc_id") + lit(70000000L)).as("doc_id"),
            xxhash64(col("text"), lit(7L)).as("sig"))
          .localCheckpoint(true)
        val (kept, keptBytes, totF, totBytes) =
          Dedup.hammingProbeFootprint(h, batch, "sig")
        println(s"""{"query":"hamming_probe_flat_files","scale":"$scale",""" +
          s""""kept_files":$kept,"kept_bytes":$keptBytes,""" +
          s""""total_files":$totF,"total_bytes":$totBytes}""")
        time(scale, "hamming_probe_flat_wall") {
          force(Dedup.hammingNearDupsIncremental(h, batch, "doc_id",
            "sig", multiProbe = false, radius = None))
        }
      }

      // and for the PARAGRAPH store: the hash relation is h-clustered
      // (hash space uniform), a fixed 4-doc batch touches O(its own
      // paragraphs) hash-range files however many the corpus adds
      if (only.forall(o => o.exists(_.startsWith("para_probe_flat")))) {
        val n = docs.count()
        val p = s"/tmp/graft_scale_paraflat_${scale.replace('.', '_')}"
        // ~8 paragraphs per doc at the corpus's construction; ~625
        // hash rows per file
        pinnedBuild(n * 8L, 625L) {
          Dedup.writeParagraphTable(docs, "doc_id", "text", p)
        }
        val batch = spark.read.parquet(s"$baseDir/documents.parquet")
          .orderBy(col("doc_id")).limit(4)
          .select((col("doc_id") + lit(70000000L)).as("doc_id"),
            regexp_replace(col("text"), "(\\S+)", "$1_ppf").as("text"))
          .localCheckpoint(true)
        val (kept, keptBytes, totF, totBytes) =
          Dedup.paragraphProbeFootprint(spark, p, batch, "text")
        println(s"""{"query":"para_probe_flat_files","scale":"$scale",""" +
          s""""kept_files":$kept,"kept_bytes":$keptBytes,""" +
          s""""total_files":$totF,"total_bytes":$totBytes}""")
        time(scale, "para_probe_flat_wall") {
          force(Dedup.paragraphDedupIncremental(spark, p, batch,
            "doc_id", "text"))
        }
      }

      // persisted IVF-PQ search: the index builds UNTIMED (a nightly
      // artifact), nlist grows ~√N (standard sizing), and the measured
      // claim is the partition-pruned query cost: probed bytes per
      // query ∝ nprobe·N/nlist, so search should scale ~√N per probe
      // batch, far below the corpus growth
      if (only.forall(_.contains("ivfpq_search"))) {
        val emb = spark.read.parquet(s"$dir/embeddings.parquet")
        val n = emb.count()
        val nlist = math.max(8, (math.sqrt(n.toDouble) / 2).toInt)
        val path = s"/tmp/graft_ivfpq_${reps}x_${scale.replace('.', '_')}"
        Similarity.writeIvfPqIndex(emb, "vec_id", "embedding", path,
          nlist = nlist)
        val probes = emb.orderBy(col("vec_id")).limit(100)
          .select(col("vec_id").as("probe_id"), col("embedding").as("pv"))
          .localCheckpoint(true)
        time(scale, "ivfpq_search") {
          force(Similarity.searchIvfPqIndex(spark, path,
            emb.select(col("vec_id"), col("embedding")),
            "vec_id", "embedding", probes, "probe_id", "pv",
            k = 10, nprobe = 4, shortlist = 50))
        }
      }
      time(scale, "exact_dedup") {
        force(Dedup.exact(docs, "doc_id", "text"))
      }
      time(scale, "span_dedup") {
        force(Dedup.duplicatedSpans(docs, "doc_id", "text", k = 8))
      }
      time(scale, "span_remove") {
        force(Dedup.removeDuplicatedSpans(docs, "doc_id", "text", k = 8))
      }
      time(scale, "decontaminate") {
        val bench = spark.read.parquet(s"$baseDir/documents.parquet")
          .limit(200).select(col("text"))
        force(Dedup.decontaminate(docs, "doc_id", "text", bench, "text"))
      }
      time(scale, "decontaminate_fuzzy") {
        // constant-size benchmark vs the growing corpus: cost must
        // track the corpus signature pass, not corpus × bench
        val bench = spark.read.parquet(s"$baseDir/documents.parquet")
          .limit(200).select(col("text"))
        force(Dedup.decontaminateFuzzy(docs, "doc_id", "text", bench, "text"))
      }
      time(scale, "minhash_pairs_weighted") {
        force(Dedup.minHashNearDupsWeighted(docs, "doc_id", "text",
          shingleLen = 3, numPerm = 64, bands = 16, threshold = 0.5))
      }
      time(scale, "contamination_score") {
        val bench = spark.read.parquet(s"$baseDir/documents.parquet")
          .limit(200).select(col("text"))
        force(Dedup.contaminationScore(docs, "doc_id", "text", bench, "text"))
      }
      time(scale, "paragraph_dedup") {
        force(Dedup.paragraphDedup(docs, "doc_id", "text"))
      }
      time(scale, "ann_bruteforce") {
        val probes = emb.orderBy(col("vec_id")).limit(5)
          .select(col("vec_id").as("probe_id"), col("embedding").as("probe_vec"))
        force(Similarity.bruteForceTopK(emb, "vec_id", "embedding",
          probes, "probe_id", "probe_vec", k = 10))
      }
      time(scale, "ann_ivf") {
        val probes = emb.orderBy(col("vec_id")).limit(5)
          .select(col("vec_id").as("probe_id"), col("embedding").as("probe_vec"))
        val (assign, cents) = Similarity.ivfIndex(emb, "vec_id", "embedding",
          nCentroids = 16, iters = 2)
        force(Similarity.ivfSearch(assign, cents, probes,
          "probe_id", "probe_vec", k = 10, nprobe = 4))
      }
      time(scale, "ann_pq") {
        // train + encode + ADC shortlist + exact rerank, end to end:
        // the scan side carries 8-int codes; only |probes|·shortlist
        // full vectors are fetched for the rerank
        val normed = emb.select(col("vec_id"),
          Similarity.l2Normalize(col("embedding")).as("nv"))
        val probes = normed.orderBy(col("vec_id")).limit(5)
          .select(col("vec_id").as("probe_id"), col("nv").as("probe_vec"))
        val cb = Similarity.pqTrain(normed, "vec_id", "nv",
          m = 8, k = 16, iters = 2)
        val codes = Similarity.pqEncode(normed, "nv", cb)
          .select(col("vec_id"), col("pq_codes"))
        force(Similarity.pqSearchRerank(codes, "vec_id", "pq_codes",
          normed, "vec_id", "nv", probes, "probe_id", "probe_vec",
          cb, k = 10, shortlist = 50))
      }
      time(scale, "ann_ivfpq") {
        // the combined layout: coarse lists prune the code scan to
        // nprobe/nCentroids of the corpus before ADC even runs
        val normed = emb.select(col("vec_id"),
          Similarity.l2Normalize(col("embedding")).as("nv"))
        val probes = normed.orderBy(col("vec_id")).limit(5)
          .select(col("vec_id").as("probe_id"), col("nv").as("probe_vec"))
        val (assign, cents) = Similarity.ivfIndex(normed, "vec_id", "nv",
          nCentroids = 16, iters = 2)
        val cb = Similarity.pqTrain(normed, "vec_id", "nv",
          m = 8, k = 16, iters = 2)
        val coded = Similarity.pqEncode(assign, "v", cb)
          .select(col("id"), col("centroid_id"), col("pq_codes"))
        force(Similarity.ivfPqSearch(coded, "id", "pq_codes", cents,
          normed, "vec_id", "nv", probes, "probe_id", "probe_vec",
          cb, k = 10, nprobe = 4, shortlist = 50))
      }
      time(scale, "token_budget_mix") {
        val toks = docs.withColumn("n_tokens",
          graft.functions.TextFunctions.tokenCount(col("text")).cast("long"))
        force(Sampling.tokenBudgetMix(toks, "source", "doc_id", "n_tokens",
          budgets = Map("src0" -> 2000L, "src1" -> 5000L),
          defaultBudget = 1000L))
      }
      time(scale, "interleave") {
        force(Sampling.interleaveByDomain(docs, "source", "doc_id"))
      }
      time(scale, "knn_graph") {
        // list count ∝ corpus pins per-list candidate work (the
        // operator's documented sizing rule), same as semantic_dedup
        val n = emb.count()
        force(Similarity.knnGraph(emb, "vec_id", "embedding",
          k = 5, nCentroids = math.max(8, (n / 250).toInt), nprobe = 2))
      }
      time(scale, "embedding_near_dup") {
        // corpus-sized layout: bandBits ∝ log2(N) keeps candidates (and
        // so cost) LINEAR in N. The r9 rehearsal measured the fixed-
        // layout alternatives first: 16 TOTAL bits (16 buckets/band) →
        // 7.6× on 10× rows; 12 bits/band (4096 buckets/band) → 95× on
        // 100× rows — any FIXED bucket space is N²/constant. Auto-
        // sizing is the production shape (see cosineNearDupsAuto).
        force(Similarity.cosineNearDupsAuto(emb, "vec_id", "embedding",
          threshold = 0.95))
      }
      time(scale, "semantic_dedup") {
        // cluster count ∝ corpus so per-cluster pairwise work stays
        // pinned (the operator's documented sizing rule)
        val n = emb.count()
        force(Similarity.semanticDedup(emb, "vec_id", "embedding",
          nClusters = math.max(8, (n / 250).toInt), threshold = 0.95))
      }
      time(scale, "inverted_index") {
        force(Corpus.invertedIndex(docs, "doc_id", "text"))
      }
      time(scale, "bm25") {
        force(Corpus.bm25PerTerm(docs, "doc_id", "text",
          Seq("spark", "join", "vector"), k1 = 1.5, b = 0.75))
      }
      time(scale, "boilerplate_removal") {
        // same "batch" → newline trick as the q_boilerplate gate; in
        // replica universes the surrounding tokens carry _rk suffixes,
        // so line content stays replica-disjoint (dup DENSITY realistic)
        force(Dedup.removeBoilerplateLines(
          docs.select(col("doc_id"),
            regexp_replace(col("text"), "batch", "\n").as("text")),
          "doc_id", "text", minDocs = 3))
      }
      time(scale, "vocab_coverage") {
        force(Corpus.vocabCoverage(docs, "doc_id", "text", topV = 500))
      }
      time(scale, "shard_assign") {
        force(Sampling.shardAssign(docs.select(col("doc_id")), "doc_id",
          nShards = 64))
      }
      time(scale, "dsir_select") {
        // hashed-bigram importance scoring against the English slice
        force(Corpus.dsirSelect(docs, docs.filter(col("lang") === "en"),
          "doc_id", "text", buckets = 4096, keepN = 1000))
      }
      time(scale, "lm_score") {
        // bigram-LM fluency: LM counts from the English slice, whole
        // corpus scored — two count groupBys + posting-volume joins
        force(Corpus.lmScore(docs.filter(col("lang") === "en"), docs,
          "doc_id", "text"))
      }
      if (only.forall(_.contains("lm_score_batch"))) {
        // the ingest decomposition: one-time model build (∝ corpus)
        // vs scoring a CONSTANT 500-doc batch against it (∝ batch —
        // the lmScoreStreamed per-trigger cost)
        var model: Corpus.LmModel = null
        time(scale, "lm_train") {
          model = Corpus.lmTrain(docs.filter(col("lang") === "en"),
            "doc_id", "text")
        }
        val batch = spark.read.parquet(s"$baseDir/documents.parquet")
          .orderBy(col("doc_id")).limit(500)
        time(scale, "lm_score_batch") {
          force(Corpus.lmScoreWith(model, batch, "doc_id", "text"))
        }
      }
      time(scale, "subword_vocab_apply") {
        // train the top-2000 char-n-gram vocab, then tokenize the
        // whole corpus with it (both halves in one timing: the train
        // collect is vocabulary-sized, the apply is a kernel scan)
        val vocab = Corpus.trainSubwordVocab(docs, "text", size = 2000)
          .collect().map(_.getString(0)).toSeq
        force(Corpus.subwordFrequencies(docs, "text", vocab))
      }
      time(scale, "embedding_rp") {
        force(emb.select(col("vec_id"),
          Similarity.randomProject(col("embedding"), outDim = 16, seed = 7L)
            .as("p")))
      }
      time(scale, "pagerank_5it") {
        // per-source doc chains, both directions: E ≈ 2N edges whose
        // volume grows linearly with the corpus
        val w = Window.partitionBy(col("source")).orderBy(col("doc_id"))
        val chain = docs.select(col("doc_id"), col("source"))
          .withColumn("nxt", lead(col("doc_id"), 1).over(w))
          .filter(col("nxt").isNotNull)
        val edges = chain
          .select(col("doc_id").as("src"), col("nxt").as("dst"))
          .unionByName(chain.select(col("nxt").as("src"),
            col("doc_id").as("dst")))
        force(Graph.pageRankFixedPoint(edges, "src", "dst", iters = 5))
      }
      time(scale, "label_prop_4it") {
        // same linear chain graph, stored once per undirected edge;
        // per round: one N-row label join + one partial-agg vote
        val w = Window.partitionBy(col("source")).orderBy(col("doc_id"))
        val chain = docs.select(col("doc_id"), col("source"))
          .withColumn("nxt", lead(col("doc_id"), 1).over(w))
          .filter(col("nxt").isNotNull)
        force(Graph.labelPropagation(
          chain.select(col("doc_id").as("src"), col("nxt").as("dst")),
          "src", "dst", iters = 4))
      }
      time(scale, "ppr_5it") {
        // personalized variant on the same chain graph, mod-1000 seeds
        val w = Window.partitionBy(col("source")).orderBy(col("doc_id"))
        val chain = docs.select(col("doc_id"), col("source"))
          .withColumn("nxt", lead(col("doc_id"), 1).over(w))
          .filter(col("nxt").isNotNull)
        val edges = chain
          .select(col("doc_id").as("src"), col("nxt").as("dst"))
          .unionByName(chain.select(col("nxt").as("src"),
            col("doc_id").as("dst")))
        force(Graph.personalizedPageRank(edges, "src", "dst",
          docs.filter(col("doc_id") % 1000 === 0).select(col("doc_id")),
          iters = 5))
      }
      time(scale, "triangles") {
        // LINEAR edge synthesizer (the gate's crossJoin form is fine
        // over a small node set; here E must track corpus size): each
        // doc offers 40 forward offsets, a PRF keeps ~25% → bounded
        // degree, locally dense enough for rich triangle structure;
        // overhangs past the id space drop via the node semi-join
        val nodes = docs.select(col("doc_id").as("n"))
        val edges = nodes
          .select(col("n").as("u"),
            explode(sequence(lit(1), lit(40))).as("d"))
          // inner mod keeps the product under 2^63 at replica id
          // magnitudes (u ≤ 10⁸ here, vs ≤ 1500 in the gate)
          .filter(((col("u") * 100003L + col("d")) % 2147483647L) *
            2654435761L % 2147483647L < lit(536870911L))
          .select(col("u"), (col("u") + col("d")).as("v"))
          .join(nodes.select(col("n").as("v")), Seq("v"), "left_semi")
        force(Graph.triangleCounts(edges, "u", "v"))
      }
      time(scale, "kcore") {
        // same linear PRF graph; peel to the 6-core fixed point
        val nodes = docs.select(col("doc_id").as("n"))
        val edges = nodes
          .select(col("n").as("u"),
            explode(sequence(lit(1), lit(40))).as("d"))
          .filter(((col("u") * 100003L + col("d")) % 2147483647L) *
            2654435761L % 2147483647L < lit(536870911L))
          .select(col("u"), (col("u") + col("d")).as("v"))
          .join(nodes.select(col("n").as("v")), Seq("v"), "left_semi")
        force(Graph.kCore(edges, "u", "v", k = 6, maxRounds = 50))
      }
      time(scale, "ks_drift") {
        force(Stats.ksDrift(
          docs.select(col("lang"), col("n_chars"), col("doc_id")),
          "lang", "n_chars", col("doc_id") % 2 === 1))
      }
      time(scale, "hist_drift") {
        force(Stats.histDrift(
          docs.select(col("lang"), col("n_chars"), col("doc_id")),
          "lang", "n_chars", col("doc_id") % 2 === 1,
          lo = 0.0, hi = 4000.0, nBins = 40))
      }
      time(scale, "bpe_train10") {
        force(Corpus.trainBpeMerges(docs, "text", nMerges = 10).state)
      }
      time(scale, "temperature_mix") {
        force(Sampling.temperatureMix(
          docs.select(col("doc_id"), col("lang")),
          "lang", "doc_id", total = 1000L, sqrtTimes = 2))
      }
      time(scale, "perceptron_train6") {
        // 6 batch-perceptron rounds over the corpus feature table:
        // cost should be rounds × (scan + one-row partial agg)
        val feats = docs.filter(col("text").isNotNull)
          .select(
            when(col("lang") === "en", 1L).otherwise(-1L).as("y"),
            lit(1L).as("x_bias"),
            graft.functions.TextFunctions.tokenCount(col("text"))
              .cast("long").as("x_tokens"),
            graft.functions.TextFunctions.stopwordCount(col("text"))
              .cast("long").as("x_stop"),
            (length(col("text")) -
              length(regexp_replace(col("text"), "[0-9]", ""))).cast("long")
              .as("x_digits")).cache()
        graft.operators.Classifier.trainPerceptron(feats, "y",
          Seq("x_bias", "x_tokens", "x_stop", "x_digits"), rounds = 6)
        feats.unpersist()
      }
      time(scale, "fuzzy_join") {
        // constant 500-row dirty batch resolved against the growing
        // corpus of source names: candidates must track the batch's
        // variant keys, never corpus × batch
        val names = docs.select(col("doc_id"),
          concat(col("source"), lit("_"),
            col("doc_id").cast("string")).as("nm"))
        val dirty = spark.read.parquet(s"$baseDir/documents.parquet")
          .orderBy(col("doc_id")).limit(500)
          .select((col("doc_id") + lit(70000000L)).as("doc_id"),
            concat(col("source"), lit("~"),
              (col("doc_id") % 1000000L).cast("string")).as("nm"))
        force(graft.operators.FuzzyJoin.fuzzyJoin(
          names, "doc_id", "nm", dirty, "doc_id", "nm",
          maxDist = 1, maxBucketSize = 100000))
      }
      time(scale, "allpairs_jaccard") {
        // prefix-filtered exact all-pairs: only the |d|−⌈t·|d|⌉+1
        // rarest grams of each doc enter the join, so the replica
        // universes (disjoint tokens) grow candidates within-replica
        // only — the curve should track corpus size, not its square
        force(Dedup.allPairsJaccard(docs, "doc_id", "text",
          n = 3, threshold = 0.8))
      }
      time(scale, "sorted_neighborhood") {
        // merge/purge rank-window pairs: bucketed distributed rank +
        // block equi-join with per-block fan-out ≤ 2·window by
        // construction — the no-skew candidate scheme
        val names = docs.select(col("doc_id"),
          concat(col("source"), lit("_"),
            col("doc_id").cast("string")).as("nm"))
        force(graft.operators.FuzzyJoin.sortedNeighborhood(
          names, "doc_id", "nm", window = 10, maxDist = 2,
          bucketChars = 4))
      }
      time(scale, "sorted_neighborhood_mp") {
        // the multi-pass form (forward + reversed sort keys): cost
        // should be ≈ #passes × the single-pass curve — each pass is
        // its own bucketed rank + window join, deduped by pair
        val names = docs.select(col("doc_id"),
          concat(col("source"), lit("_"),
            col("doc_id").cast("string")).as("nm"))
        force(graft.operators.FuzzyJoin.sortedNeighborhoodMultiPass(
          names, "doc_id", "nm",
          passKeys = Seq(col("nm"), reverse(col("nm"))),
          window = 10, maxDist = 2, bucketChars = 4))
      }
      time(scale, "winnow_pairs") {
        // local-fingerprint overlap pairs: kernel scan + posting join
        // on selected hashes (~2/(w+1) of the gram space). The
        // PRODUCTION capped form: winnowing's rightmost-MIN selection
        // concentrates fingerprints on low-hash common grams, so hot
        // fingerprints are the norm, not the exception — measured
        // uncapped at 10×: max occupancy 3855 (≈77% of the corpus in
        // ONE posting list), Σd² = 1.35B candidate pairs, 173 s
        // (ratio 37, quadratic by construction). The cap bounds the
        // join at a documented recall cost on boilerplate grams.
        // cap is the LINEARITY CONSTANT (candidates ≤ cap · postings):
        // overridable to measure the cost/recall knob at scale
        val cap = sys.env.get("SPARK_GRAFT_WINNOW_CAP")
          .flatMap(_.toIntOption).getOrElse(500)
        force(Dedup.winnowNearDups(docs, "doc_id", "text",
          k = 12, w = 16, minShared = 3,
          maxDocsPerGram = cap, dropHotGrams = true))
      }
      time(scale, "winnow_pairs_lsh") {
        // the corpus-scale form: banded MinHash over fingerprint SETS
        // proposes, exact array_intersect disposes — no posting join,
        // so no Σd² and no cap/recall knob to tune
        force(Dedup.winnowNearDupsLsh(docs, "doc_id", "text",
          k = 12, w = 16, minShared = 3))
      }
      time(scale, "doc_search") {
        // constant query batch against the growing corpus — retrieval
        // cost should track the queries' posting volume, not corpus size
        val queryDocs = spark.read.parquet(s"$baseDir/documents.parquet")
          .orderBy(col("doc_id")).limit(50)
          .select((col("doc_id") + lit(90000000L)).as("doc_id"), col("text"))
        force(Dedup.jaccardTopK(docs, "doc_id", "text",
          queryDocs, "doc_id", "text", n = 3, k = 10,
          dropHotGrams = true))
      }
      time(scale, "blocklist_match") {
        // constant pattern table (broadcast automaton), growing corpus:
        // the scan is O(len + matches) per doc independent of pattern
        // count — cost must track corpus size, never corpus × patterns.
        // Patterns are drawn from the BASE vocabulary, so replica docs
        // (disjoint `_rk` token universes) still scan but rarely match
        // — the realistic blocklist hit-rate regime.
        import spark.implicits._
        val pats = (Seq("table table", "scan", "scan scan", "value table",
          "fast key", "agg join", "a a") ++
          (1 to 200).map(i => s"blocked$i phrase")).toDF("pattern")
        force(graft.operators.Blocklist.matchCounts(
          docs, "doc_id", "text", pats))
      }
      time(scale, "blocklist_mask") {
        import spark.implicits._
        val pats = Seq("table table", "scan", "value table", "fast key",
          "agg join", "a a").toDF("pattern")
        force(graft.operators.Blocklist.maskCovered(
          docs, "doc_id", "text", pats))
      }
      time(scale, "blocklist_p5000") {
        // the O(len + matches)-independent-of-P claim, measured: 24×
        // the pattern count of blocklist_match at the same corpus —
        // wall time should track blocklist_match, not 24×
        import spark.implicits._
        val pats = (1 to 5000).map(i => s"blocked$i phrase").toDF("pattern")
        force(graft.operators.Blocklist.matchCounts(
          docs, "doc_id", "text", pats))
      }
      time(scale, "html_extract") {
        force(docs.filter(col("text").isNotNull).select(col("doc_id"),
          graft.functions.TextFunctions.htmlToText(concat(
            lit("<html><body><script>var x = 1 < 2;</script><p>"),
            regexp_replace(col("text"), "batch", "</p><p>"),
            lit("</p></body></html>"))).as("t")))
      }
      time(scale, "image_neardup") {
        // per-row BMP synth + real decode + pool + banded Hamming join
        import spark.implicits._
        val withBin = docs.select(col("doc_id")).as[Long]
          .map(id => (id, graft.operators.Multimodal.gridBmp(id)))
          .toDF("doc_id", "payload")
        val sigs = graft.operators.Multimodal
          .withDHash(withBin, "payload")
          .select(col("doc_id"), col("dhash"))
        force(Dedup.hammingNearDups(sigs, "doc_id", "dhash",
          maxHamming = 3, maxBucketSize = 10000))
      }
      time(scale, "audio_neardup") {
        import spark.implicits._
        val withBin = docs.select(col("doc_id")).as[Long]
          .map(id => (id, graft.operators.Multimodal.toneWav(id)))
          .toDF("doc_id", "payload")
        val sigs = graft.operators.Multimodal
          .withAudioEnergyHash(withBin, "payload")
          .select(col("doc_id"), col("ahash"))
        force(Dedup.hammingNearDups(sigs, "doc_id", "ahash",
          maxHamming = 3, maxBucketSize = 10000))
      }
      if (only.forall(o => o.contains("image_dedup_incr") ||
          o.contains("ham_retire_100"))) {
        // CONSTANT 500-image batch against a GROWING persisted Hamming
        // table — the incremental claim: per-batch cost must track the
        // batch, never the corpus (the r9 incr_batch_dedup protocol).
        // The corpus-proportional table BUILD runs UNTIMED; only the
        // batch query is measured.
        import spark.implicits._
        val path = s"/tmp/graft_hamtab_${reps}x_$scale"
        val corpusSigs = graft.operators.Multimodal.withDHash(
          docs.select(col("doc_id")).as[Long]
            .map(id => (id, graft.operators.Multimodal.gridBmp(id)))
            .toDF("doc_id", "payload"), "payload")
          .select(col("doc_id"), col("dhash"))
        Dedup.writeHammingTable(corpusSigs, "doc_id", "dhash", path,
          maxHamming = 3, maxBucketSize = 10000)
        val batch = spark.range(500).select(
            (col("id") + 900000000L).as("doc_id"))
          .as[Long].map(id => (id, graft.operators.Multimodal.gridBmp(id)))
          .toDF("doc_id", "payload")
        val batchSigs = graft.operators.Multimodal
          .withDHash(batch, "payload").select(col("doc_id"), col("dhash"))
        time(scale, "image_dedup_incr") {
          force(Dedup.hammingNearDupsIncremental(
            spark, path, batchSigs, "doc_id", "dhash"))
        }
        // media-store takedown: same full-rewrite shape as the text
        // store — cost ∝ store, not the list
        time(scale, "ham_retire_100") {
          Dedup.retireFromHammingTable(spark, path,
            docs.select(col("doc_id")).limit(100), "doc_id")
        }
      }
      time(scale, "scene_cuts") {
        import spark.implicits._
        val withBin = docs.select(col("doc_id")).as[Long]
          .map(id => (id, graft.operators.Multimodal.gridGif(id, 6, 2)))
          .toDF("doc_id", "payload")
        force(graft.operators.Multimodal.sceneCuts(
          withBin, "doc_id", "payload", maxHamming = 0))
      }
    }

    // warmup pass on the tiny SF so JIT/codegen don't land in the base
    // numbers, then base, then scaled
    suite("warmup", "/root/testdata/sf0.001")
    results.clear()
    suite("base", baseDir)
    suite(s"${reps}x", scaledDir)

    // DPP at nlist 10⁴ (r10 verdict item #4's done-criterion): the
    // probed-list prune is a dynamic-pruning subquery over a broadcast
    // semi-join, so PLAN size and catalog-pruning cost are constant in
    // nlist — search wall at nlist 10⁴ must track the nlist-100 run on
    // the same corpus and probe batch (probed bytes ∝ nprobe lists
    // either way; the per-list row count shrinks with nlist, so the
    // big-nlist run may even be cheaper). The literal-In form this
    // replaced would instead pay 10⁴ literals in every plan. Index
    // builds run UNTIMED (nightly artifacts).
    if (only.forall(o => o.exists(_.startsWith("ivfpq_dpp_")))) {
      val emb = spark.read.parquet(s"$scaledDir/embeddings.parquet")
      val probes = emb.orderBy(col("vec_id")).limit(100)
        .select(col("vec_id").as("pb_id"), col("embedding").as("pv"))
        .localCheckpoint(true)
      Seq(100, 10000).foreach { nlist =>
        val path = s"/tmp/graft_ivfpq_dpp_${reps}x_$nlist"
        // reuse only an index in the CURRENT store layout that actually
        // resolves — a stale /tmp artifact from an earlier round (no
        // _manifests, or a pre-file-list empty manifest) rebuilds
        // instead of failing later in Store.read
        val reusable = Files.exists(Paths.get(s"$path/codebook")) &&
          scala.util.Try {
            graft.operators.Store.snapshot(spark, s"$path/codes")
          }.toOption.exists(!_.legacy)
        if (!reusable) {
          val root = Paths.get(path)
          if (Files.exists(root)) {
            val walk = Files.walk(root)
            try walk.sorted(java.util.Comparator.reverseOrder())
              .forEach(p => Files.delete(p))
            finally walk.close()
          }
          Similarity.writeIvfPqIndex(emb, "vec_id", "embedding", path,
            nlist = nlist)
        }
        // the O(1)-open point (r11 verdict item #2's done-criterion):
        // resolving the code relation is a manifest read, never a
        // partition-directory walk, so open cost must be FLAT in nlist
        // (10⁴ lists ≈ 10² lists). Timed as resolution + file-index
        // construction only — no data scan.
        time(s"${reps}x", s"ivfpq_open_nlist$nlist") {
          graft.operators.Store.read(spark, s"$path/codes")
        }
        time(s"${reps}x", s"ivfpq_dpp_nlist$nlist") {
          force(Similarity.searchIvfPqIndex(spark, path,
            emb.select(col("vec_id"), col("embedding")),
            "vec_id", "embedding", probes, "pb_id", "pv",
            k = 10, nprobe = 4, shortlist = 50))
        }
        // decomposition: the two nlist-PROPORTIONAL index constants —
        // coarse scoring (probes × centroids) and the full partitioned
        // relation's discovery+scan — vs the PRUNED scan the DPP join
        // actually pays. The claim under test is that the pruned scan
        // stays flat in nlist (probed lists ∝ nprobe·probes), while
        // any wall growth comes from the constants that vanish
        // relative to list scans at real corpus scale.
        time(s"${reps}x", s"ivfpq_dpp_coarse_nlist$nlist") {
          val cents = spark.read.parquet(s"$path/centroids")
          val pc = probes.crossJoin(broadcast(cents))
            .withColumn("ccos", Similarity.cosine(
              transform(col("pv"), x => x.cast("double")), col("cvec")))
          val wc = Window.partitionBy(col("pb_id"))
            .orderBy(col("ccos").desc, col("centroid_id").asc)
          force(pc.withColumn("crn", row_number().over(wc))
            .filter(col("crn") <= 4).select(col("centroid_id")).distinct())
        }
        time(s"${reps}x", s"ivfpq_dpp_scan_all_nlist$nlist") {
          force(graft.operators.Store.read(spark, s"$path/codes"))
        }
        time(s"${reps}x", s"ivfpq_dpp_scan_pruned_nlist$nlist") {
          val cents = spark.read.parquet(s"$path/centroids")
          val pc = probes.crossJoin(broadcast(cents))
            .withColumn("ccos", Similarity.cosine(
              transform(col("pv"), x => x.cast("double")), col("cvec")))
          val wc = Window.partitionBy(col("pb_id"))
            .orderBy(col("ccos").desc, col("centroid_id").asc)
          val probed = pc.withColumn("crn", row_number().over(wc))
            .filter(col("crn") <= 4).select(col("centroid_id")).distinct()
          force(graft.operators.Store.read(spark, s"$path/codes")
            .join(broadcast(probed), Seq("centroid_id"), "left_semi"))
          // the probed-BYTES claim, as row counts: code rows the
          // pruned scan feeds downstream vs the whole relation
          System.err.println(s"[scale] nlist=$nlist probed_lists=" +
            probed.count() + " probed_rows=" +
            graft.operators.Store.read(spark, s"$path/codes")
              .join(broadcast(probed), Seq("centroid_id"), "left_semi")
              .count() + " total_rows=" +
            graft.operators.Store.read(spark, s"$path/codes").count())
        }
      }
    }

    val names = results.keys.map(_._1).toSeq.distinct
    def cell(v: Double) = if (v.isNaN) "null" else f"$v%.2f"
    val summary = names.map { n =>
      val b = results.getOrElse((n, "base"), Double.NaN)
      val s = results.getOrElse((n, s"${reps}x"), Double.NaN)
      val ratio = if (b.isNaN || s.isNaN) "null" else f"${s / b}%.2f"
      s""""$n":{"base":${cell(b)},"scaled":${cell(s)},"ratio":$ratio}"""
    }.mkString("{", ",", "}")
    println(s"""{"metric":"scale_rehearsal","reps":$reps,"queries":$summary}""")
    spark.stop()
  }
}
