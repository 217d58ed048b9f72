package graft.operators

import graft.functions.TextFunctions
import graft.streaming.LandingZone

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Corpus-level text statistics for training-data pipelines: inverted
  * index (posting lists), document-frequency term scoring, and n-gram
  * language-model counts.
  *
  * Scale shape: every operator is one explode + one hash-aggregation
  * keyed by term/gram — map-side partial aggregation bounds the shuffle
  * by the number of DISTINCT terms per partition, not the token count.
  * Nothing here collects to the driver.
  */
object Corpus {

  /** Whitespace tokens, lower-cased — the indexing normalization shared
    * by [[invertedIndex]] and [[topTermsByRarity]]. */
  private def terms(textCol: Column): Column =
    TextFunctions.tokens(lower(textCol))

  /** Inverted index as posting ROWS: one row per (term, doc) pair with
    * the term's document frequency attached.
    *
    * Emitting rows rather than `collect_list` posting arrays keeps the
    * operator scalable: a degenerate term appearing in every document
    * ("the") becomes many small rows spread across partitions instead
    * of one array that must fit in a single task's memory. Downstream
    * consumers re-assemble arrays per term only after their own
    * filtering (e.g. `df <= cap`).
    *
    * Document frequency is a map-side-combined `groupBy(term).count`
    * joined back onto the postings — NOT `count().over(Window.partitionBy
    * (term))`, which has no partial aggregation and would funnel every
    * posting row of a stop-word term through one window task. With the
    * groupBy, a degenerate term costs one combined count per partition;
    * the join back is skew-splittable by AQE (and the df relation is
    * vocabulary-sized, so AQE typically broadcasts it outright).
    *
    * @return (term, df, doc_id) — df = number of distinct documents
    *         containing the term
    */
  def invertedIndex(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val postings = df
      .select(col(idCol).as("doc_id"),
        explode(array_distinct(terms(col(textCol)))).as("term"))
    val dfreq = postings.groupBy(col("term")).agg(count(lit(1)).as("df"))
    postings.join(dfreq, "term")
      .select(col("term"), col("df"), col("doc_id"))
  }

  /** Top-k terms per document, scored by term frequency × rarity.
    *
    * `idf = "inv"` (default) scores tf · (1/df) — a monotone rarity
    * weight computed with a single correctly-rounded IEEE division, so
    * the score is bit-identical on ANY engine (the property the
    * correctness gate hashes on). `idf = "log"` scores the classic
    * tf · (ln(N/df) + 1); ln is NOT correctly rounded and differs
    * between libm implementations by ulps, so use it for real ranking
    * but don't hash-compare it across engines.
    *
    * Ties are broken by term ascending — fully deterministic output.
    *
    * Two shuffles: one keyed by (doc, term) for tf, one keyed by term
    * for df; the final top-k window re-uses the doc partitioning.
    *
    * @return (doc_id, term, tf, df, score, rnk) with rnk ≤ k
    */
  def topTermsByRarity(
      df: DataFrame, idCol: String, textCol: String, k: Int,
      idf: String = "inv"): DataFrame = {
    require(k > 0, "k must be > 0")
    require(idf == "inv" || idf == "log", s"idf must be 'inv' or 'log', got '$idf'")
    // corpus size is only needed for the log idf — don't pay the count
    // job on the default path
    lazy val nDocs = df.filter(col(textCol).isNotNull).count()
    val tf = df
      .select(col(idCol).as("doc_id"), explode(terms(col(textCol))).as("term"))
      .groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy(col("term"))
      .agg(count(lit(1)).as("df"))
    val scored = tf.join(dfreq, "term")
      .withColumn("score",
        if (idf == "inv")
          col("tf").cast("double") / col("df").cast("double")
        else
          col("tf").cast("double") *
            (log(lit(nDocs.toDouble) / col("df").cast("double")) + lit(1.0)))
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("score").desc, col("term").asc)
    scored
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("doc_id"), col("term"), col("tf"), col("df"),
        col("score"), col("rnk"))
  }

  /** Corpus n-gram counts (language-model statistics): every word
    * n-gram of every document, counted across the corpus, kept when
    * seen at least `minCount` times.
    *
    * The n-gram explode runs inside whole-stage codegen (native
    * wordNgrams kernel); counting is one hash-aggregate keyed by gram
    * with map-side partials, so shuffle volume is bounded by distinct
    * grams — at 100 TB add a power-of-two `minCount` pre-filter per
    * partition (count-min style) before the exact pass if distinct
    * grams outgrow the cluster.
    *
    * Case is preserved (same token semantics as [[Dedup.decontaminate]]).
    *
    * @return (gram, n) with n ≥ minCount
    */
  def ngramCounts(
      df: DataFrame, textCol: String, n: Int, minCount: Long = 1L): DataFrame = {
    require(n > 0, "n must be > 0")
    require(minCount >= 1, "minCount must be >= 1")
    df.select(explode(TextFunctions.wordNgrams(col(textCol), n)).as("gram"))
      .groupBy(col("gram"))
      .agg(count(lit(1)).as("n"))
      .filter(col("n") >= minCount)
  }

  /** Per-document fluency under an add-one-smoothed bigram LM trained
    * on `reference` — the CCNet/KenLM perplexity-filter signal (score
    * each candidate document against a trusted corpus's language
    * model; low scores flag gibberish, template spam, and wrong-
    * language text).
    *
    * Per bigram occurrence (x, y): `p(y|x) = (c2(x,y)+1) / (c1(x)+V)`
    * where c2 = reference count of the bigram, c1 = reference count of
    * x as a context (bigrams starting with x), V = reference distinct-
    * token vocabulary; unseen bigrams and contexts smooth through the
    * same formula via zero counts. Two scores per document:
    *
    *  - `mean_prob` = Σ p / n with the sum folded IN TOKEN ORDER: all
    *    inputs are exact integers below 2⁵³, every division and
    *    addition is correctly-rounded IEEE in a pinned order, so the
    *    value is bit-reproducible on any engine — the hash-oracled
    *    contract (same stance as BM25's rational idf and the χ² bin
    *    fold);
    *  - `log_prob` = Σ ln p / n — the published (log-perplexity) form;
    *    like [[dsirWeights]]' log_w it cannot be hash-oracled (ln
    *    differs in the last ulp between libms), so it rides along
    *    unoracled for production ranking;
    *  - `sum_lp2_fp` = Σ log2Fix(c2+1, c1+V) — the SAME log-domain
    *    signal in exact fixed-point integer arithmetic
    *    ([[graft.plans.VectorKernels.log2Fix]]; units of 2⁻³⁰), a
    *    plain order-independent Long sum and therefore fully
    *    hash-oracled (q_lm_score_log). Monotone-equivalent to
    *    log_prob for ranking up to the shared quantization:
    *    log_prob ≈ sum_lp2_fp · ln2 / (n · 2³⁰).
    *
    * Scale shape: the LM is two map-side-combined groupBys over the
    * reference bigram explode; scoring LEFT-joins the documents'
    * bigram postings against those tables on the same keys (the only
    * shuffles are the posting volumes themselves), V is a 1-row
    * broadcast scalar, and the per-document ordered fold is bounded by
    * document length. Documents with < 2 tokens score (0, 0.0, 0.0)
    * by convention, mirroring DSIR's featureless-doc rule.
    *
    * @return (doc_id, n_bigrams, mean_prob, log_prob, sum_lp2_fp)
    */
  def lmScore(
      reference: DataFrame, docs: DataFrame,
      idCol: String, textCol: String): DataFrame = {
    val m = lmTrain(reference, idCol, textCol, materialize = false)
    lmScoreWith(m, docs, idCol, textCol)
  }

  /** The trained bigram-LM tables behind [[lmScore]]: bigram counts,
    * context counts, and the 1-row vocabulary size. */
  final case class LmModel(c2: DataFrame, c1: DataFrame, vocab: DataFrame)

  private def lmBigrams(
      df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.filter(col(textCol).isNotNull &&
        size(TextFunctions.tokens(col(textCol))) >= 2)
      .select(col(idCol).as("doc_id"),
        posexplode(TextFunctions.wordNgrams(col(textCol), 2))
          .as(Seq("pos", "gram")))

  /** Train the [[lmScore]] model once. With `materialize = true` the
    * three tables are computed eagerly and lineage-truncated
    * (localCheckpoint), so repeated scoring — the per-batch ingest
    * loop — reuses them instead of re-aggregating the reference every
    * batch: the same build-once contract as the dedup signature table
    * (write them to parquet for cross-job reuse). */
  def lmTrain(
      reference: DataFrame, idCol: String, textCol: String,
      materialize: Boolean = true): LmModel = {
    val refGrams = lmBigrams(reference, idCol, textCol)
    val c2 = refGrams.groupBy(col("gram")).agg(count(lit(1)).as("c2"))
    val c1 = refGrams
      .groupBy(substring_index(col("gram"), " ", 1).as("x"))
      .agg(count(lit(1)).as("c1"))
    val vocab = reference.filter(col(textCol).isNotNull)
      .select(explode(TextFunctions.tokens(col(textCol))).as("t"))
      .filter(length(col("t")) > 0)
      .agg(count_distinct(col("t")).as("v"))
    if (materialize)
      LmModel(c2.localCheckpoint(), c1.localCheckpoint(),
        vocab.localCheckpoint())
    else LmModel(c2, c1, vocab)
  }

  /** Score `docs` under an already-trained model — see [[lmScore]]
    * for the scoring contract. */
  def lmScoreWith(
      model: LmModel, docs: DataFrame,
      idCol: String, textCol: String): DataFrame = {
    val c2 = model.c2
    val c1 = model.c1
    val vocab = model.vocab
    val scored = lmBigrams(docs, idCol, textCol)
      .join(c2, Seq("gram"), "left")
      .withColumn("x", substring_index(col("gram"), " ", 1))
      .join(c1, Seq("x"), "left")
      .crossJoin(broadcast(vocab))
      .withColumn("p",
        (coalesce(col("c2"), lit(0L)) + 1L).cast("double") /
          (coalesce(col("c1"), lit(0L)) + col("v")).cast("double"))
      // hash-oracle-able log domain: fixed-point log2 of the SAME
      // rational (num = c2+1, den = c1+V) in exact integer arithmetic
      // (VectorKernels.log2Fix) — plain Long sum, order-independent,
      // so no token-ordered fold is needed for this column
      .withColumn("lp2",
        graft.plans.native.log2Fix(
          coalesce(col("c2"), lit(0L)) + 1L,
          coalesce(col("c1"), lit(0L)) + col("v")))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"),
        aggregate(sort_array(collect_list(struct(col("pos"), col("p")))),
          lit(0d), (acc, s) => acc + s.getField("p")).as("sum_p"),
        aggregate(sort_array(collect_list(struct(col("pos"), col("p")))),
          lit(0d), (acc, s) => acc + log(s.getField("p"))).as("sum_lp"),
        sum(col("lp2")).as("sum_lp2_fp"))
      .select(col("doc_id"), col("n_bigrams"),
        (col("sum_p") / col("n_bigrams").cast("double")).as("mean_prob"),
        (col("sum_lp") / col("n_bigrams").cast("double")).as("log_prob"),
        col("sum_lp2_fp"))
    docs.filter(col(textCol).isNotNull)
      .select(col(idCol).as("doc_id"))
      .join(scored, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        coalesce(col("mean_prob"), lit(0d)).as("mean_prob"),
        coalesce(col("log_prob"), lit(0d)).as("log_prob"),
        coalesce(col("sum_lp2_fp"), lit(0L)).as("sum_lp2_fp"))
  }

  /** [[lmScore]] at ingest: documents stream from a parquet landing
    * zone and each micro-batch is scored against the STATIC reference
    * LM, appending (doc_id, n_bigrams, mean_prob, log_prob) to
    * `outPath`. The model is trained ONCE up front ([[lmTrain]],
    * materialized) so per-batch cost is proportional to the batch —
    * never the reference (the incremental-dedup contract); foreachBatch
    * runs the exact batch operator per trigger, so stream ≡ batch
    * row-for-row, and the only streaming state is the file-source
    * offset log (same ingest shape as Dedup.nearDedupIngestStreamed). */
  def lmScoreStreamed(
      spark: org.apache.spark.sql.SparkSession,
      reference: DataFrame, streamDir: String,
      idCol: String, textCol: String, outPath: String,
      checkpointDir: Option[String] = None): Unit = {
    val model = lmTrain(reference, idCol, textCol)
    LandingZone.drain(spark, streamDir, checkpointDir) { batch =>
      lmScoreWith(model, batch, idCol, textCol)
        .write.mode("append").parquet(outPath)
    }
  }

  /** Per-(document, query-term) BM25 contributions — the retrieval
    * scoring function behind search-based corpus curation (select the
    * documents most relevant to a probe query before expensive
    * processing).
    *
    * `score_t = idf(t) · tf·(k1+1) / (tf + k1·(1 − b + b·dl/avgdl))`.
    *
    * `idf = "rational"` (default) uses the Robertson–Spärck-Jones ratio
    * WITHOUT the log: `(N − df + 0.5)/(df + 0.5)` — one IEEE division,
    * correctly rounded, so scores are bit-identical on any engine (the
    * property the correctness gate hashes on; same contract as
    * [[topTermsByRarity]]'s "inv"). `idf = "log"` is classic BM25
    * (`ln` of the same ratio + 1) — use it for real ranking, don't
    * hash-compare it across engines. Both are monotone in rarity, so
    * per-term rankings are identical.
    *
    * Scale shape: the term filter lands INSIDE the explode (only query
    * terms survive into the aggregation, so shuffle volume is
    * docs × |query|, not docs × tokens); `dl` rides along into the
    * same hash-aggregate (`max(dl)` — constant per doc) instead of a
    * second join; `df` and the corpus stats (N, Σdl) are ≤|query|-row
    * and 1-row relations broadcast back. One real shuffle total.
    *
    * @param queryTerms query as a bag of lower-cased terms
    * @return (doc_id, term, tf, df_t, dl, score_t) — one row per doc ×
    *         query term with tf > 0
    */
  def bm25PerTerm(
      df: DataFrame, idCol: String, textCol: String,
      queryTerms: Seq[String], k1: Double = 1.2, b: Double = 0.75,
      idf: String = "rational"): DataFrame = {
    require(queryTerms.nonEmpty, "queryTerms must not be empty")
    require(idf == "rational" || idf == "log",
      s"idf must be 'rational' or 'log', got '$idf'")
    val docs = df.filter(col(textCol).isNotNull)
      .select(col(idCol).as("doc_id"), terms(col(textCol)).as("__terms"))
    // 1-row corpus stats, broadcast: N and Σdl are exact integers, so
    // avgdl = Σdl/N is ONE correctly-rounded division on every engine
    val stats = docs
      .agg(count(lit(1)).as("n_docs"), sum(size(col("__terms"))).as("sum_dl"))
    val tf = docs
      .select(col("doc_id"), size(col("__terms")).as("dl"),
        explode(col("__terms")).as("term"))
      .filter(col("term").isin(queryTerms: _*))
      .groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("tf"), max(col("dl")).as("dl"))
    val dfreq = tf.groupBy(col("term")).agg(count(lit(1)).as("df_t"))
    val joined = tf
      .join(broadcast(dfreq), "term")
      .crossJoin(broadcast(stats))
    val avgdl = col("sum_dl").cast("double") / col("n_docs").cast("double")
    val ratio = (col("n_docs").cast("double") - col("df_t").cast("double") + lit(0.5)) /
      (col("df_t").cast("double") + lit(0.5))
    val idfCol = if (idf == "rational") ratio else log(ratio) + lit(1.0)
    val norm = lit(1.0) - lit(b) + lit(b) * (col("dl").cast("double") / avgdl)
    val sat = col("tf").cast("double") * lit(k1 + 1.0) /
      (col("tf").cast("double") + lit(k1) * norm)
    joined
      .select(col("doc_id"), col("term"), col("tf"), col("df_t"), col("dl"),
        (idfCol * sat).as("score_t"))
  }

  /** Total BM25 score per document for a term query: per-term
    * contributions summed in SORTED TERM ORDER via an explicit
    * array-fold, so the double summation order — normally
    * partitioning-dependent under `sum()` — is deterministic and
    * engine-exact. Global ranking plans as TakeOrderedAndProject when
    * followed by `.orderBy(...).limit(k)` (never a full sort). */
  def bm25(df: DataFrame, idCol: String, textCol: String,
           queryTerms: Seq[String], k1: Double = 1.2, b: Double = 0.75,
           idf: String = "rational"): DataFrame =
    bm25PerTerm(df, idCol, textCol, queryTerms, k1, b, idf)
      .groupBy(col("doc_id"))
      .agg(aggregate(
        array_sort(collect_list(struct(col("term"), col("score_t")))),
        lit(0.0),
        (acc, x) => acc + x.getField("score_t")).as("score"))

  /** Adjacent-token co-occurrence strength (collocation mining):
    * for every bigram `x y` seen at least `minCount` times, the PMI
    * lift `P(x,y) / (P(x)·P(y))` — >1 means the pair co-occurs more
    * than independence predicts ("new york", "machine learning").
    *
    * Emits the RATIO, not `log(ratio)` (true PMI): `ln` is not
    * correctly rounded and differs between libm implementations by
    * ulps, while the ratio is a fixed dag of exact integer counts and
    * correctly-rounded IEEE divisions — bit-identical on any engine,
    * and monotone to PMI so rankings agree.
    *
    * Scale shape: two explode→hash-aggregate passes (pairs, unigrams),
    * both map-side combined, so shuffle volume is bounded by DISTINCT
    * grams; the unigram relation joins back keyed by term (AQE
    * broadcasts it when the vocabulary is small); totals are a 1-row
    * broadcast. The `minCount` filter lands on the aggregated pair
    * counts BEFORE the joins, so rare-pair noise never reaches them.
    *
    * @return (x, y, n_xy, n_x, n_y, lift)
    */
  def bigramLift(
      df: DataFrame, textCol: String, minCount: Long = 2L): DataFrame = {
    require(minCount >= 1, "minCount must be >= 1")
    val toks = df.filter(col(textCol).isNotNull)
      .select(terms(col(textCol)).as("__terms"))
    // word bigrams only — wordNgrams yields a partial gram for 1-token
    // docs, which a `contains space` filter on the gram would misparse;
    // slicing here keeps x/y as clean columns. The size≥2 filter is
    // load-bearing: Spark's sequence(0, size−2) DESCENDS to [0, −1]
    // when size < 2 instead of being empty.
    val pairs = toks
      .filter(size(col("__terms")) >= 2)
      .select(explode(expr(
        "transform(sequence(0, size(__terms) - 2), " +
          "i -> struct(__terms[i] AS x, __terms[i+1] AS y))")).as("p"))
      .select(col("p.x").as("x"), col("p.y").as("y"))
      .groupBy(col("x"), col("y")).agg(count(lit(1)).as("n_xy"))
      .filter(col("n_xy") >= minCount)
    val uni = toks.select(explode(col("__terms")).as("t"))
      .groupBy(col("t")).agg(count(lit(1)).as("n_t"))
    val totals = uni.agg(sum(col("n_t")).as("n_tok"))
    // total pair count must include sub-minCount pairs: Σ per-doc
    // max(len − 1, 0), NOT the sum of surviving n_xy
    val nPairTotal = toks
      .agg(sum(greatest(size(col("__terms")) - 1, lit(0))).as("n_pair"))
    pairs
      .join(uni.withColumnRenamed("t", "x").withColumnRenamed("n_t", "n_x"), "x")
      .join(uni.withColumnRenamed("t", "y").withColumnRenamed("n_t", "n_y"), "y")
      .crossJoin(broadcast(nPairTotal))
      .crossJoin(broadcast(totals))
      .select(col("x"), col("y"), col("n_xy"), col("n_x"), col("n_y"),
        ((col("n_xy").cast("double") / col("n_pair").cast("double")) /
          ((col("n_x").cast("double") / col("n_tok").cast("double")) *
            (col("n_y").cast("double") / col("n_tok").cast("double")))).as("lift"))
  }

  /** Per-document vocabulary coverage against the corpus top-`topV`
    * vocabulary — the Gopher-style "fraction of tokens outside a
    * reference vocabulary" quality signal. A high out-of-vocabulary rate
    * flags gibberish, the wrong language, or encoding damage.
    *
    * The vocabulary is the `topV` most frequent terms (whitespace
    * tokens, lower-cased) with ties broken by term ascending — fully
    * deterministic, so the output is engine-exact: counts are integers
    * and `oov_rate` is a single correctly-rounded IEEE division.
    *
    * Scale shape: term counts are one map-side-combined groupBy; the
    * top-V cut is a `TakeOrderedAndProject` (per-partition top-V, then
    * a V-row merge — never a global sort of the vocabulary); the V-row
    * vocabulary is explicitly broadcast into the per-token probe, so
    * the only corpus-sized shuffles are the two groupBys keyed by term
    * and doc. Documents with zero tokens have no rows to group and are
    * absent from the output.
    *
    * @return (doc_id, n_tokens, n_oov, oov_rate)
    */
  /** Pairwise VOCABULARY OVERLAP between domains — the mixture
    * diagnostic behind "are src3 and src7 the same crawl?": distinct
    * token sets per domain, exact Jaccard for every domain pair that
    * shares at least one token. The posting join is keyed by token
    * with at most nDomains rows per side per token, so the join output
    * is bounded by |vocab| · nDomains² — domains are few by
    * construction (a mixture has tens of sources, not millions);
    * output is ≤ nDomains² rows. Same Σ-shared / sizes arithmetic as
    * [[Dedup.exactNgramJaccard]], over (domain, token) instead of
    * (doc, gram).
    *
    * @return (dom_a, dom_b, n_shared, jaccard) with dom_a < dom_b
    */
  def domainVocabOverlap(
      df: DataFrame, domainCol: String, textCol: String): DataFrame = {
    val vocab = df.filter(col(textCol).isNotNull && col(domainCol).isNotNull)
      .select(col(domainCol).as("dom"), explode(terms(col(textCol))).as("term"))
      .distinct()
    val sizes = vocab.groupBy(col("dom")).agg(count(lit(1)).as("v"))
    val shared = vocab.select(col("term"), col("dom").as("dom_a"))
      .join(vocab.select(col("term"), col("dom").as("dom_b")), "term")
      .filter(col("dom_a") < col("dom_b"))
      .groupBy(col("dom_a"), col("dom_b")).agg(count(lit(1)).as("n_shared"))
    shared
      .join(sizes.select(col("dom").as("dom_a"), col("v").as("v_a")), "dom_a")
      .join(sizes.select(col("dom").as("dom_b"), col("v").as("v_b")), "dom_b")
      .select(col("dom_a"), col("dom_b"), col("n_shared"),
        (col("n_shared").cast("double") /
          (col("v_a") + col("v_b") - col("n_shared")).cast("double"))
          .as("jaccard"))
  }

  def vocabCoverage(
      df: DataFrame, idCol: String, textCol: String, topV: Int): DataFrame = {
    require(topV >= 1, s"topV must be >= 1, got $topV")
    val toks = df.filter(col(textCol).isNotNull)
      .select(col(idCol).as("doc_id"),
        explode(terms(col(textCol))).as("term"))
    val vocab = toks
      .groupBy(col("term")).agg(count(lit(1)).as("n_t"))
      .orderBy(col("n_t").desc, col("term").asc)
      .limit(topV)
      .select(col("term"), lit(1).as("__in_vocab"))
    toks.join(broadcast(vocab), Seq("term"), "left")
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_tokens"),
        sum(when(col("__in_vocab").isNull, 1L).otherwise(0L)).as("n_oov"))
      .select(col("doc_id"), col("n_tokens"), col("n_oov"),
        (col("n_oov").cast("double") / col("n_tokens").cast("double"))
          .as("oov_rate"))
  }

  // ---------------------------------------------------------------------
  // DSIR — Data Selection via Importance Resampling (Xie et al. 2023)
  // ---------------------------------------------------------------------

  /** Per-document hashed adjacent-token bigram feature counts — the
    * DSIR feature map. One row per (doc, bucket) with the occurrence
    * count; docs with < 2 tokens produce no rows (callers left-join).
    *
    * Scale shape: one codegen'd kernel pass per doc
    * ([[graft.plans.native.hashedBigramBuckets]]) → explode → map-side-
    * combined `groupBy(doc, bucket)`. The shuffle carries at most
    * min(bigrams, buckets) rows per doc; the bucket space is uniform by
    * hash, so no key skew.
    *
    * @return (doc_id, bucket, n)
    */
  def dsirFeatures(
      df: DataFrame, idCol: String, textCol: String, buckets: Int): DataFrame = {
    require(buckets >= 2, s"buckets must be >= 2, got $buckets")
    df.filter(col(textCol).isNotNull)
      .select(col(idCol).as("doc_id"),
        explode(graft.plans.native.hashedBigramBuckets(
          lower(col(textCol)), buckets)).as("bucket"))
      .groupBy(col("doc_id"), col("bucket"))
      .agg(count(lit(1)).as("n"))
  }

  /** Bucket count table of a corpus under the DSIR feature map — the
    * "fit a hashed multinomial" half, persisted-friendly (bucket-sized:
    * at most `buckets` rows regardless of corpus size).
    *
    * @return (bucket, c) with every occupied bucket's occurrence count
    */
  def dsirCountTable(
      df: DataFrame, idCol: String, textCol: String, buckets: Int): DataFrame =
    dsirFeatures(df, idCol, textCol, buckets)
      .groupBy(col("bucket")).agg(sum(col("n")).as("c"))

  /** EXACT-arithmetic DSIR affinity scores: for every raw doc, the
    * integer dot products of its hashed-bigram counts with the target
    * and raw corpus count tables, plus the cross-multiplied linear
    * score `Σ_b n[b]·(ct[b]·R − cr[b]·T)` (T, R = total target / raw
    * feature mass). A doc whose features concentrate where the TARGET
    * corpus is denser than the raw corpus scores positive — the
    * transcendental-free surrogate for the log-likelihood-ratio weight
    * ([[dsirWeights]]), kept in DECIMAL(38,0) so it is reproducible
    * bit-for-bit on any engine (the production log form cannot be: ln
    * differs in the last ulp between libm and the JVM — measured).
    *
    * Scale shape: both count tables are bucket-sized → broadcast joins
    * onto the per-doc feature rows; the totals are 1-row aggregates
    * broadcast as scalars; the per-doc reduction is a map-side-combined
    * groupBy. Nothing shuffles more than the feature rows themselves.
    *
    * @return (doc_id, n_feats, tgt_aff, raw_aff, score) — score is
    *         DECIMAL(38,0); overflow (corpus mass beyond ~10^19ish per
    *         term) surfaces as a loud Spark overflow error under ANSI
    *         or null, never silent wraparound
    */
  def dsirAffinity(
      raw: DataFrame, target: DataFrame, idCol: String, textCol: String,
      buckets: Int): DataFrame = {
    val feats = dsirFeatures(raw, idCol, textCol, buckets)
    val ct = dsirCountTable(target, idCol, textCol, buckets)
      .select(col("bucket"), col("c").as("ct"))
    val cr = dsirCountTable(raw, idCol, textCol, buckets)
      .select(col("bucket"), col("c").as("cr"))
    val totT = ct.agg(coalesce(sum(col("ct")), lit(0L)).as("t")).select(col("t"))
    val totR = cr.agg(coalesce(sum(col("cr")), lit(0L)).as("r")).select(col("r"))
    val dec = "decimal(38,0)"
    val scored = feats
      .join(broadcast(ct), Seq("bucket"), "left")
      .join(broadcast(cr), Seq("bucket"), "left")
      .crossJoin(broadcast(totT))
      .crossJoin(broadcast(totR))
      .select(col("doc_id"), col("n"),
        coalesce(col("ct"), lit(0L)).as("ct"),
        coalesce(col("cr"), lit(0L)).as("cr"),
        col("t"), col("r"))
      .groupBy(col("doc_id"))
      .agg(
        sum(col("n")).as("n_feats"),
        sum(col("n").cast(dec) * col("ct").cast(dec)).as("tgt_aff"),
        sum(col("n").cast(dec) * col("cr").cast(dec)).as("raw_aff"),
        sum(col("n").cast(dec) *
          (col("ct").cast(dec) * col("r").cast(dec) -
            col("cr").cast(dec) * col("t").cast(dec))).as("score"))
    // docs with < 2 tokens have no features: affinity 0 by definition
    raw.filter(col(textCol).isNotNull)
      .select(col(idCol).as("doc_id"))
      .join(scored, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_feats"), lit(0L)).as("n_feats"),
        coalesce(col("tgt_aff"), lit(0L).cast(dec)).as("tgt_aff"),
        coalesce(col("raw_aff"), lit(0L).cast(dec)).as("raw_aff"),
        coalesce(col("score"), lit(0L).cast(dec)).as("score"))
  }

  /** Production DSIR importance weights: per-doc log-likelihood ratio
    * `log w = Σ_b n[b]·(ln λt[b] − ln λr[b])` under add-one-smoothed
    * hashed multinomials (λx[b] = (cx[b]+1)/(X+buckets)). Ranking by
    * this weight is the published selection rule; use [[dsirAffinity]]
    * when a bit-reproducible (engine-independent) ordering is required.
    *
    * `log_w2_fp` is the same ratio in EXACT fixed-point integer
    * arithmetic — Σ_b n[b]·(log2Fix(ct+1, T+B) − log2Fix(cr+1, R+B)),
    * units of 2⁻³⁰ ([[graft.plans.VectorKernels.log2Fix]]) — an
    * order-independent Long sum, hash-oracled (q_dsir_log) where the
    * libm form cannot be; monotone-equivalent to log_w for selection
    * up to the shared quantization.
    *
    * @return (doc_id, n_feats, log_w, log_w2_fp)
    */
  def dsirWeights(
      raw: DataFrame, target: DataFrame, idCol: String, textCol: String,
      buckets: Int): DataFrame = {
    val feats = dsirFeatures(raw, idCol, textCol, buckets)
    val ct = dsirCountTable(target, idCol, textCol, buckets)
      .select(col("bucket"), col("c").as("ct"))
    val cr = dsirCountTable(raw, idCol, textCol, buckets)
      .select(col("bucket"), col("c").as("cr"))
    val totT = ct.agg(coalesce(sum(col("ct")), lit(0L)).as("t"))
    val totR = cr.agg(coalesce(sum(col("cr")), lit(0L)).as("r"))
    val scored = feats
      .join(broadcast(ct), Seq("bucket"), "left")
      .join(broadcast(cr), Seq("bucket"), "left")
      .crossJoin(broadcast(totT))
      .crossJoin(broadcast(totR))
      .groupBy(col("doc_id"))
      .agg(
        sum(col("n")).as("n_feats"),
        sum(col("n").cast("double") *
          (log((coalesce(col("ct"), lit(0L)) + 1L).cast("double") /
            (col("t") + buckets.toLong).cast("double")) -
            log((coalesce(col("cr"), lit(0L)) + 1L).cast("double") /
              (col("r") + buckets.toLong).cast("double")))).as("log_w"),
        sum(col("n") *
          (graft.plans.native.log2Fix(
            coalesce(col("ct"), lit(0L)) + 1L, col("t") + buckets.toLong) -
            graft.plans.native.log2Fix(
              coalesce(col("cr"), lit(0L)) + 1L,
              col("r") + buckets.toLong))).as("log_w2_fp"))
    raw.filter(col(textCol).isNotNull)
      .select(col(idCol).as("doc_id"))
      .join(scored, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_feats"), lit(0L)).as("n_feats"),
        coalesce(col("log_w"), lit(0d)).as("log_w"),
        coalesce(col("log_w2_fp"), lit(0L)).as("log_w2_fp"))
  }

  // ---------------------------------------------------------------------
  // Subword tokenization — frequency-trained vocab + greedy matching
  // ---------------------------------------------------------------------

  /** Train a subword vocabulary: the `size` most frequent character
    * n-grams (lengths [minLen, maxLen], code points) across all
    * whitespace words, ties broken gram-ascending — fully
    * deterministic. The cut is a `TakeOrderedAndProject` (per-partition
    * top-N), never a global sort; the candidate stream aggregates
    * map-side before the vocabulary-sized heads merge.
    *
    * @return (gram, cnt), exactly min(size, distinct grams) rows
    */
  def trainSubwordVocab(
      df: DataFrame, textCol: String, size: Int,
      minLen: Int = 2, maxLen: Int = 6): DataFrame = {
    require(size >= 1, s"size must be >= 1, got $size")
    df.filter(col(textCol).isNotNull)
      .select(explode(graft.plans.native.charNgramsByWord(
        lower(col(textCol)), minLen, maxLen)).as("gram"))
      .groupBy(col("gram")).agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("gram").asc)
      .limit(size)
  }

  /** Greedy longest-match subword tokens per document against a fixed
    * (driver-held, plan-shipped) vocabulary — the application half of
    * [[trainSubwordVocab]]. Unknown characters pass through as
    * themselves, so the tokenization is total. Appends `sub_tokens`.
    *
    * Scale shape: one codegen'd kernel pass, shuffle-free; the
    * vocabulary rides the plan as a reference object (a 50k-entry
    * vocab is ~1 MB — the standard broadcast regime). */
  def subwordTokenize(
      df: DataFrame, textCol: String, vocab: Seq[String]): DataFrame =
    df.withColumn("sub_tokens",
      graft.plans.native.greedySubTokens(lower(col(textCol)), vocab.toArray))

  /** Corpus-wide subword frequencies under a fixed vocabulary.
    *
    * @return (token, n) — one row per distinct emitted subword
    */
  def subwordFrequencies(
      df: DataFrame, textCol: String, vocab: Seq[String]): DataFrame =
    subwordTokenize(df.filter(col(textCol).isNotNull), textCol, vocab)
      .select(explode(col("sub_tokens")).as("token"))
      .groupBy(col("token")).agg(count(lit(1)).as("n"))

  // ---------------------------------------------------------------------
  // BPE merge training — byte-pair encoding over the word-count table
  // ---------------------------------------------------------------------

  /** The trained BPE artifact: the ordered merge list plus the final
    * per-word symbol state (word, nw, -joined symbols). */
  final case class BpeModel(
      merges: Seq[(String, String)], state: DataFrame) {
    /** Corpus subtoken frequencies under the trained merges — the
      * training state IS the tokenization of the training corpus, so
      * no second pass is needed.
      * @return (token, n) */
    def tokenFrequencies: DataFrame = state
      .select(explode(split(col("s"), "\u0001")).as("token"), col("nw"))
      .groupBy(col("token")).agg(sum(col("nw")).as("n"))

    /** Tokenize NEW text under the trained merges — the train-once /
      * apply-everywhere production path. The merge list rides the plan
      * as a reference object; the apply is one shuffle-free codegen'd
      * kernel scan replaying every merge in training order per word.
      * Appends `sub_tokens`. */
    def tokenize(df: DataFrame, textCol: String): DataFrame =
      df.withColumn("sub_tokens", graft.plans.native.bpeApply(
        lower(col(textCol)),
        merges.flatMap { case (a, b) => Seq(a, b) }.toArray))
  }

  /** Train `nMerges` byte-pair-encoding merges (Sennrich et al. 2016)
    * over the corpus word counts: each round counts adjacent symbol
    * pairs weighted by word frequency, picks the most frequent pair
    * (count desc, pair asc — fully deterministic), and rewrites every
    * leftmost-greedy occurrence into the merged symbol.
    *
    * Scale shape: the state is the DISTINCT-WORD table (vocabulary-
    * sized — millions of rows at web scale, not corpus-sized), each
    * round is one map-side-combined pair count plus one codegen'd
    * merge scan, and only the single argmax row crosses to the driver
    * per round (BPE is inherently sequential in the merge list — the
    * per-round driver step is the algorithm, not an accident).
    * `localCheckpoint` per round keeps the plan flat across rounds.
    */
  def trainBpeMerges(
      df: DataFrame, textCol: String, nMerges: Int): BpeModel = {
    require(nMerges >= 1 && nMerges <= 10000,
      s"nMerges must be in [1, 10000], got $nMerges")
    var state = df.filter(col(textCol).isNotNull)
      .select(explode(terms(col(textCol))).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("nw"))
      .select(col("w"), col("nw"),
        graft.plans.native.bpeInitSymbols(col("w")).as("s"))
      .localCheckpoint(true)
    val merges = scala.collection.mutable.ArrayBuffer[(String, String)]()
    var exhausted = false
    var k = 0
    while (k < nMerges && !exhausted) {
      val sy = split(col("s"), "\u0001")
      val best = state
        .select(col("nw"), sy.as("sy"))
        .filter(size(col("sy")) >= 2)
        .select(col("nw"), explode(transform(
          sequence(lit(0), size(col("sy")) - 2),
          i => struct(element_at(col("sy"), i + 1).as("a"),
            element_at(col("sy"), i + 2).as("b")))).as("p"))
        .groupBy(col("p.a").as("a"), col("p.b").as("b"))
        .agg(sum(col("nw")).as("cnt"))
        .orderBy(col("cnt").desc, col("a").asc, col("b").asc)
        .limit(1)
        .collect() // exactly one row per round — the argmax IS the algorithm
      if (best.isEmpty) exhausted = true
      else {
        val (a, b) = (best.head.getString(0), best.head.getString(1))
        merges += ((a, b))
        state = state
          .withColumn("s", graft.plans.native.bpeMergeStep(col("s"), a, b))
          .localCheckpoint(true)
        k += 1
      }
    }
    BpeModel(merges.toSeq, state)
  }

  /** Top-`keepN` DSIR selection by the exact-arithmetic score
    * (score desc, doc_id asc tie-break — fully deterministic). The cut
    * is a `TakeOrderedAndProject` (per-partition top-N + driver merge
    * of N-row heads), never a global sort.
    *
    * @return the selected (doc_id, score) rows
    */
  def dsirSelect(
      raw: DataFrame, target: DataFrame, idCol: String, textCol: String,
      buckets: Int, keepN: Int): DataFrame = {
    require(keepN >= 1, s"keepN must be >= 1, got $keepN")
    dsirAffinity(raw, target, idCol, textCol, buckets)
      .orderBy(col("score").desc, col("doc_id").asc)
      .limit(keepN)
      .select(col("doc_id"), col("score"))
  }
}
