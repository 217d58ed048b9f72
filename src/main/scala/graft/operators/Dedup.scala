package graft.operators

import graft.functions.TextFunctions
import graft.streaming.LandingZone

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Deduplication operators for training-data pipelines: exact,
  * MinHash+LSH, SimHash, and n-gram-Jaccard-verified near-dup.
  *
  * Scale design: every method is shuffle-bounded by design —
  *  - exact dedup: one hash-groupBy (map-side partial agg);
  *  - MinHash/SimHash: signatures are computed per-row inside codegen
  *    (higher-order functions, no UDF), candidates come from a
  *    self-join on (band, bucket) — the shuffle key is the bucket, so
  *    only colliding docs ever meet, never the full cross product;
  *  - oversized buckets (degenerate content) are capped to keep any
  *    single key from dominating a partition (skew guard).
  *
  * Caching note: the SINGLE-operator near-dup entry points
  * ([[minHashNearDups]]/[[simhashNearDups]]) `persist()` their
  * signature intermediates (consumed by several plan branches) and do
  * NOT unpersist — their return value still reads the cache lazily, so
  * the caller owns the lifecycle (clearCache between batches; at
  * warehouse scale, a materialized signature table). The COMPOSED
  * pipeline [[nearDedup]] scopes it instead: its downstream consumer
  * materializes eagerly, so it unpersists the signature cache before
  * returning.
  */
object Dedup {

  /** Exact dedup by content hash: one row per distinct text, keeping
    * the smallest id as canonical and counting copies. */
  def exact(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.groupBy(md5(col(textCol)).as("text_hash"))
      .agg(min(col(idCol)).as(idCol), count(lit(1)).as("n_copies"))

  /** Distinct hashes of word n-gram shingles — native one-pass kernel
    * ([[graft.plans.native.shingleHashes]]). */
  def shingleHashes(text: Column, n: Int): Column =
    graft.plans.native.shingleHashes(text, n)

  /** Occurrence-expanded shingle hashes for WEIGHTED (multiset)
    * Jaccard: the k-th occurrence of a gram hashes distinctly, so the
    * plain SET Jaccard of two expanded sets equals the weighted
    * Jaccard Σ min(cₐ,c_b) / Σ max(cₐ,c_b) of the gram bags exactly
    * (integer weights) — MinHash/LSH over these hashes estimates
    * weighted Jaccard with unchanged machinery. Distinct-set Jaccard
    * is blind to repetition (a doc and the same doc with its content
    * repeated 50× share the same gram SET, Jaccard 1); the weighted
    * form is the standard fix for boilerplate- and spam-heavy corpora.
    * Native one-pass kernel ([[graft.plans.native.shingleHashesWeighted]]). */
  def shingleHashesWeighted(text: Column, n: Int): Column =
    graft.plans.native.shingleHashesWeighted(text, n)

  /** MinHash signature: for each of `numPerm` hash functions
    * h_i(x) = XXH64(x, seed=i), the min over the shingle-hash set.
    * Native codegen'd expression ([[graft.plans.native.minhashSig]]) — the same
    * math as nested `transform`/`array_min` HOFs ran ~100× slower
    * interpreted (260 s for 5k docs at sf0.1). */
  def minhashSignature(shingles: Column, numPerm: Int): Column =
    graft.plans.native.minhashSig(shingles, numPerm)

  /** LSH band buckets: signature split into `bands` bands of
    * `rowsPerBand` values, each hashed to one bucket id. */
  def bandBuckets(sig: Column, bands: Int, rowsPerBand: Int): Column =
    transform(
      sequence(lit(0), lit(bands - 1)),
      b => struct(b.as("band"),
        xxhash64(slice(sig, b * rowsPerBand + 1, lit(rowsPerBand))).as("bucket")))

  /** Multi-probe band buckets: for each band, `rowsPerBand`
    * LEAVE-ONE-OUT sub-buckets — sub-bucket j hashes the band's rows
    * with row j omitted, tagged by (band, j) so only same-omission
    * keys meet. Two signatures agreeing on ≥ rowsPerBand−1 rows of a
    * band collide on at least one sub-key, lifting per-band recall
    * from p^r to p^r + r·p^(r−1)(1−p) — the MinHash analogue of the
    * cosine family's one-bit-flip probes (Lv et al. 2007), except the
    * omission tag must ride the key because minhash values (unlike
    * sign bits) have no enumerable neighbours. The band key is
    * composite (band · rowsPerBand + j), so the downstream
    * (band, bucket) join machinery is unchanged. */
  def bandBucketsMultiProbe(sig: Column, bands: Int, rowsPerBand: Int): Column =
    flatten(transform(
      sequence(lit(0), lit(bands - 1)),
      b => transform(
        sequence(lit(0), lit(rowsPerBand - 1)),
        j => {
          val bandArr = slice(sig, b * rowsPerBand + 1, lit(rowsPerBand))
          val loo = concat(
            slice(bandArr, lit(1), j),
            slice(bandArr, j + 2, lit(rowsPerBand - 1) - j))
          struct((b * rowsPerBand + j).as("band"),
            xxhash64(loo).as("bucket"))
        })))

  /** MinHash+LSH near-duplicate candidate pairs with estimated Jaccard.
    *
    * @param threshold     keep pairs with estimated Jaccard ≥ threshold
    * @param maxBucketSize skew guard: buckets larger than this are
    *                      dropped (degenerate shingle sets — e.g. empty
    *                      or boilerplate docs — would otherwise blow up
    *                      the candidate join quadratically)
    * @param multiProbe    probe leave-one-out sub-buckets
    *                      ([[bandBucketsMultiProbe]]): recall bought
    *                      with probes instead of permutations — the
    *                      signature table (the persisted 100 TB asset)
    *                      keeps its numPerm width, while matching the
    *                      recall lift with plain banding would need
    *                      ~r·(1−p)/p more bands AND the permutations
    *                      to fill them. Candidates only GROW (the
    *                      est_jaccard verify is unchanged), so results
    *                      are a superset at equal threshold.
    * @return (id_a, id_b, est_jaccard) with id_a < id_b
    */
  def minHashNearDups(
      df: DataFrame, idCol: String, textCol: String,
      shingleLen: Int = 3, numPerm: Int = 64, bands: Int = 16,
      threshold: Double = 0.5, maxBucketSize: Int = 1000,
      multiProbe: Boolean = false): DataFrame =
    minHashNearDupsCached(df, idCol, textCol, shingleLen, numPerm, bands,
      threshold, maxBucketSize, multiProbe = multiProbe)._1

  /** [[minHashNearDups]] on WEIGHTED (multiset) Jaccard: identical
    * LSH pipeline over [[shingleHashesWeighted]]'s occurrence-expanded
    * hashes, so `est_jaccard` estimates Σ min / Σ max of the gram
    * bags. Same skew guard, same scale shape — the expanded set is at
    * most total-grams large (vs distinct-grams), a constant-factor
    * cost for repetition-aware dedup. */
  def minHashNearDupsWeighted(
      df: DataFrame, idCol: String, textCol: String,
      shingleLen: Int = 3, numPerm: Int = 64, bands: Int = 16,
      threshold: Double = 0.5, maxBucketSize: Int = 1000): DataFrame =
    minHashNearDupsCached(df, idCol, textCol, shingleLen, numPerm, bands,
      threshold, maxBucketSize, weighted = true)._1

  /** [[minHashNearDups]] + the persisted signature intermediate, so a
    * COMPOSING pipeline ([[nearDedup]]) can unpersist it as soon as the
    * downstream consumer has materialized — the public single-operator
    * form stays caller-owned (see the object scaladoc). */
  private def minHashNearDupsCached(
      df: DataFrame, idCol: String, textCol: String,
      shingleLen: Int, numPerm: Int, bands: Int,
      threshold: Double, maxBucketSize: Int,
      weighted: Boolean = false,
      multiProbe: Boolean = false): (DataFrame, DataFrame) = {
    val rowsPerBand = numPerm / bands
    require(bands * rowsPerBand == numPerm, "bands must divide numPerm")
    require(!multiProbe || rowsPerBand >= 2,
      "multiProbe needs rowsPerBand >= 2: omitting the only row of a " +
        "1-row band would bucket every document together")
    def shingleCol(t: Column): Column =
      if (weighted) shingleHashesWeighted(t, shingleLen)
      else shingleHashes(t, shingleLen)

    // materialize signatures once: they feed the band explode, both
    // sides of the self-join, and the estimate — recomputing the
    // shingle+signature expression at each consumer is the single
    // biggest cost at scale (at 100 TB this would be a persisted
    // signature table, bucketed by doc id).
    val docs = df
      .select(col(idCol).as("id"),
        shingleCol(col(textCol)).as("sh"))
      .filter(size(col("sh")) > 0)
      .withColumn("sig", minhashSignature(col("sh"), numPerm))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

    // candidate generation over (id, band, bucket) ONLY — the 64-long
    // signature stays out of the band explode and bucket self-join
    // (shuffling it per-band would multiply the shuffle volume by
    // `bands`); it is fetched back once per surviving candidate.
    val bucketFn =
      if (multiProbe) bandBucketsMultiProbe(col("sig"), bands, rowsPerBand)
      else bandBuckets(col("sig"), bands, rowsPerBand)
    val buckets = docs
      .select(col("id"), explode(bucketFn).as("bb"))
      .select(col("id"), col("bb.band").as("band"), col("bb.bucket").as("bucket"))

    // skew guard: drop degenerate buckets before the self-join
    val sized = BucketStore.capBuckets(buckets, maxBucketSize)

    val a = sized.select(col("band"), col("bucket"), col("id").as("id_a"))
    val b = sized.select(col("band"), col("bucket"), col("id").as("id_b"))
    val candidates = a.join(b, Seq("band", "bucket"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"))
      .dropDuplicates("id_a", "id_b")

    val sigs = docs.select(col("id"), col("sig"))
    val pairs = candidates
      .join(sigs.select(col("id").as("id_a"), col("sig").as("sig_a")), "id_a")
      .join(sigs.select(col("id").as("id_b"), col("sig").as("sig_b")), "id_b")
      .withColumn("est_jaccard",
        graft.plans.native.sigEqCount(col("sig_a"), col("sig_b"))
          .cast("double") / lit(numPerm.toDouble))
      .filter(col("est_jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("est_jaccard"))
    (pairs, docs)
  }

  /** Exact n-gram Jaccard over LSH candidates: MinHash proposes,
    * the true shingle-set Jaccard disposes. The expensive exact
    * computation only runs on the (tiny) candidate set. */
  def ngramJaccardNearDups(
      df: DataFrame, idCol: String, textCol: String,
      shingleLen: Int = 3, threshold: Double = 0.8,
      numPerm: Int = 64, bands: Int = 16): DataFrame = {
    // candidate recall: est threshold well below the exact one
    val candidates = minHashNearDups(df, idCol, textCol, shingleLen,
      numPerm, bands, threshold = math.max(0.1, threshold - 0.3))
    val sh = df.select(col(idCol).as("id"),
      shingleHashes(col(textCol), shingleLen).as("sh"))
    candidates
      .join(sh.select(col("id").as("id_a"), col("sh").as("sh_a")), "id_a")
      .join(sh.select(col("id").as("id_b"), col("sh").as("sh_b")), "id_b")
      .withColumn("jaccard",
        size(array_intersect(col("sh_a"), col("sh_b"))).cast("double") /
          size(array_union(col("sh_a"), col("sh_b"))).cast("double"))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("jaccard"))
  }

  /** Exact all-pairs n-gram Jaccard in the posting-join form: pairs
    * are enumerated by joining on shared gram strings (only pairs with
    * a non-empty intersection ever materialize — a pair sharing zero
    * grams has Jaccard 0 and can't pass any positive threshold), the
    * intersection size is a per-pair count, and the union size is
    * |A| + |B| − |A∩B| from per-doc gram counts joined back. No
    * crossJoin anywhere; every aggregation is map-side partial.
    *
    * This is the SQL-expressible exact baseline for the LSH stack
    * ([[ngramJaccardNearDups]] must agree with it above the threshold
    * wherever LSH recall holds). The string-keyed gram join is
    * inherently hot-gram quadratic: one gram shared by k documents
    * materializes k² candidate pairs, so at 100 TB use the LSH path
    * and keep this as the audit gate over bounded slices.
    *
    * `maxDocsPerGram` is the loud guard on that blow-up (the posting
    * analogue of [[minHashNearDups]]'s `maxBucketSize`): by default a
    * gram shared by more documents FAILS THE JOB with a diagnostic
    * (evaluated distributed, at execution time — no extra driver
    * action), so a 100 TB user cannot hit the quadratic silently.
    * `dropHotGrams = true` opts into truncation instead: hot grams are
    * removed from the gram space entirely (both intersections and the
    * per-doc sizes), i.e. Jaccard is computed exactly over the reduced
    * space — a documented approximation, never a silent one. Exact-
    * oracle callers that require the true relation on a bounded slice
    * pass `maxDocsPerGram = Int.MaxValue` explicitly.
    *
    * `threshold` must be positive: a pair sharing zero grams never
    * materializes in the posting join, so a non-positive threshold
    * could not return the (Jaccard-0) pairs it promises. */
  def exactNgramJaccard(
      df: DataFrame, idCol: String, textCol: String,
      n: Int = 3, threshold: Double = 0.5,
      maxDocsPerGram: Int = 10000, dropHotGrams: Boolean = false): DataFrame = {
    require(n > 0, "n must be > 0")
    require(threshold > 0,
      "threshold must be > 0: zero-overlap pairs never materialize in " +
        "the posting join, so threshold <= 0 would silently omit them")
    require(maxDocsPerGram > 0, "maxDocsPerGram must be > 0")
    val raw = df.filter(col(textCol).isNotNull)
      .select(col(idCol).as("id"),
        explode(array_distinct(TextFunctions.wordNgrams(col(textCol), n)))
          .as("gram"))
    val grams = guardHotGrams(raw, maxDocsPerGram, dropHotGrams,
      "exactNgramJaccard")
    val sizes = grams.groupBy(col("id")).agg(count(lit(1)).as("n_g"))
    val shared = grams.select(col("gram"), col("id").as("id_a"))
      .join(grams.select(col("gram"), col("id").as("id_b")), "gram")
      .filter(col("id_a") < col("id_b"))
      .groupBy(col("id_a"), col("id_b")).agg(count(lit(1)).as("shared"))
    shared
      .join(sizes.select(col("id").as("id_a"), col("n_g").as("n_a")), "id_a")
      .join(sizes.select(col("id").as("id_b"), col("n_g").as("n_b")), "id_b")
      .withColumn("jaccard", col("shared").cast("double") /
        (col("n_a") + col("n_b") - col("shared")).cast("double"))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("jaccard"))
  }

  /** Exact all-pairs WEIGHTED (multiset) n-gram Jaccard,
    * Σ min(cₐ,c_b) / Σ max(cₐ,c_b) over gram occurrence counts — the
    * repetition-aware counterpart of [[exactNgramJaccard]] (which a
    * doc can game by repeating its own content: same gram SET, set
    * Jaccard 1). Same posting-join shape: the gram HISTOGRAM
    * (id, gram, count) replaces the gram set, pairs materialize only
    * on shared grams, Σ min is a per-pair sum of `least(cₐ,c_b)`, and
    * Σ max = totₐ + tot_b − Σ min from per-doc totals joined back.
    * Every aggregation is map-side partial; the same loud
    * `maxDocsPerGram` guard applies (the histogram groupBy bounds a
    * gram's posting length by its DOCUMENT frequency, same as the
    * set form). */
  def exactWeightedJaccard(
      df: DataFrame, idCol: String, textCol: String,
      n: Int = 3, threshold: Double = 0.5,
      maxDocsPerGram: Int = 10000, dropHotGrams: Boolean = false): DataFrame = {
    require(n > 0, "n must be > 0")
    require(threshold > 0,
      "threshold must be > 0: zero-overlap pairs never materialize in " +
        "the posting join, so threshold <= 0 would silently omit them")
    require(maxDocsPerGram > 0, "maxDocsPerGram must be > 0")
    val hist = df.filter(col(textCol).isNotNull)
      .select(col(idCol).as("id"),
        explode(TextFunctions.wordNgrams(col(textCol), n)).as("gram"))
      .groupBy(col("id"), col("gram")).agg(count(lit(1)).as("c"))
    val grams = guardHotGrams(hist, maxDocsPerGram, dropHotGrams,
      "exactWeightedJaccard")
    val totals = grams.groupBy(col("id")).agg(sum(col("c")).as("tot"))
    val shared = grams.select(col("gram"), col("id").as("id_a"), col("c").as("c_a"))
      .join(grams.select(col("gram"), col("id").as("id_b"), col("c").as("c_b")),
        "gram")
      .filter(col("id_a") < col("id_b"))
      .groupBy(col("id_a"), col("id_b"))
      .agg(sum(least(col("c_a"), col("c_b"))).as("smin"))
    shared
      .join(totals.select(col("id").as("id_a"), col("tot").as("t_a")), "id_a")
      .join(totals.select(col("id").as("id_b"), col("tot").as("t_b")), "id_b")
      .withColumn("wjaccard", col("smin").cast("double") /
        (col("t_a") + col("t_b") - col("smin")).cast("double"))
      .filter(col("wjaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("wjaccard"))
  }

  /** Exact all-pairs n-gram Jaccard via PREFIX FILTERING (the
    * AllPairs/PPJoin family: Bayardo et al. WWW'07, Xiao et al.
    * WWW'08) — the same relation as [[exactNgramJaccard]], computed
    * without joining on every shared gram. The scale problem with the
    * full posting join is the hot gram: one gram in k documents
    * materializes k² candidates, and the only defenses are a loud cap
    * or documented truncation. Prefix filtering removes the problem
    * structurally instead of capping it:
    *
    *  - every document's gram set is sorted in ONE corpus-wide
    *    canonical order — document frequency ascending, gram string
    *    ascending (deterministic for a given corpus) — so the
    *    rarest grams come first;
    *  - a pair with Jaccard ≥ t over sizes |a|,|b| has overlap
    *    ≥ ⌈t/(1+t)·(|a|+|b|)⌉, so it MUST collide inside the first
    *    |d| − ⌈t·|d|⌉ + 1 grams of each side (miss the whole prefix
    *    and the ≤ ⌈t·|d|⌉ − 1 remaining grams can't reach the
    *    required overlap). Only PREFIX postings are joined — at
    *    t = 0.8 that is ~20% of the gram stream, and it is the RARE
    *    20%: stopword-class hot grams sort to the suffix and never
    *    enter the join at all;
    *  - candidates are then pruned by the size filter
    *    (t·|a| ≤ |b| ≤ |a|/t, both directions since id order is not
    *    size order) and the PPJoin positional filter: with both docs
    *    in the same global order, every common gram beyond the last
    *    prefix match sits strictly after it on BOTH sides, so
    *    overlap ≤ prefixHits + min(suffix_a, suffix_b) — pairs whose
    *    bound misses ⌈t/(1+t)·(|a|+|b|)⌉ are dropped before
    *    verification;
    *  - survivors are verified exactly on the full sorted gram
    *    arrays (one array_intersect per candidate, no second posting
    *    join).
    *
    * All integer bounds derived from the double `threshold` are
    * widened by EPS in the SAFE direction (longer prefix, wider size
    * window, smaller overlap floor): float rounding can only ADD
    * candidates, never drop a true pair — the verify step makes the
    * final relation exact either way. Output is engine-exact and
    * identical to [[exactNgramJaccard]] at the same threshold:
    * integer sizes, one correctly-rounded IEEE division.
    *
    * The hot-gram guard still exists (`maxDocsPerGram`, same loud
    * contract) but now measures PREFIX document frequency — the
    * pathological case is no longer "a stopword bigram" but "one
    * text duplicated k times" (identical sets share their rare
    * prefix), which is exactly the k² a correct answer must emit.
    * `dropHotGrams = true` here trims CANDIDATE GENERATION only
    * (pairs reachable solely through a hot prefix gram are missed —
    * documented recall loss); unlike [[exactNgramJaccard]] it does
    * NOT shrink the gram space, so every returned jaccard is still
    * the true full-space value. At 100 TB this is the exact-relation
    * form to prefer over [[exactNgramJaccard]]; the LSH path remains
    * the approximate fallback when even true-duplicate clusters are
    * too hot. */
  def allPairsJaccard(
      df: DataFrame, idCol: String, textCol: String,
      n: Int = 3, threshold: Double = 0.5,
      maxDocsPerGram: Int = 10000, dropHotGrams: Boolean = false): DataFrame =
    allPairsJaccardWithGrams(df, idCol, textCol, n, threshold,
      maxDocsPerGram, dropHotGrams)._1

  /** [[allPairsJaccard]] + the persisted per-doc sorted-gram
    * intermediate `(id, tk, sz)`, so a COMPOSING pipeline can
    * `unpersist` it once the pair relation has materialized — the same
    * caller-owned-lifecycle contract as minHashNearDups' signature
    * cache (without this handle only `spark.catalog.clearCache` could
    * free it). The plain form keeps the intermediate alive for the
    * session, which is right for the single-operator call. */
  def allPairsJaccardWithGrams(
      df: DataFrame, idCol: String, textCol: String,
      n: Int = 3, threshold: Double = 0.5,
      maxDocsPerGram: Int = 10000,
      dropHotGrams: Boolean = false): (DataFrame, DataFrame) = {
    require(n > 0, "n must be > 0")
    require(threshold > 0 && threshold <= 1,
      "threshold must be in (0, 1]: zero-overlap pairs never collide " +
        "on any prefix gram, so threshold <= 0 would silently omit them")
    require(maxDocsPerGram > 0, "maxDocsPerGram must be > 0")
    val EPS = 1e-9

    val postings = df.filter(col(textCol).isNotNull)
      .select(col(idCol).as("id"),
        explode(array_distinct(TextFunctions.wordNgrams(col(textCol), n)))
          .as("gram"))

    val gramDf = postings.groupBy(col("gram")).agg(count(lit(1)).as("df"))

    // per-doc gram array in the canonical (df asc, gram asc) order;
    // sort_array over struct sorts field-lexicographically.
    // (MEASURED dead end, r16: replacing the df groupBy+join with a
    // count-over-window on the gram key — to stop the ngram Generate
    // planning twice, once per join subtree — was 0.74× at sf0.1 but
    // 1.86× at sf1 (74 s → 138 s, same host back-to-back): the window
    // funnels every posting row WITH its gram string through one
    // Exchange+Sort, while this form's second Generate is a linear
    // codegen'd re-scan and the df aggregate ships only partial
    // counts. Two cheap passes beat one pass plus a corpus-wide
    // posting sort — reverted, same discipline as the r15 span-lambda
    // attempt.)
    // Persisted: it feeds the prefix stream AND both verify joins —
    // recomputing the df-join + per-doc sort at each consumer tripled
    // the measured gate cost (same caller-owned-lifecycle contract as
    // minHashNearDups; at 100 TB this is the materialized sorted-gram
    // table next to the signature table).
    val sorted = postings.join(gramDf, "gram")
      .groupBy(col("id"))
      .agg(sort_array(collect_list(struct(col("df"), col("gram")))).as("ord"))
      .select(col("id"),
        transform(col("ord"), e => e.getField("gram")).as("tk"),
        size(col("ord")).as("sz"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

    // prefix = first |d| − ⌈t·|d|⌉ + 1 grams; 0-based positions kept
    // for the positional filter
    val prefixLen = greatest(
      (col("sz") - ceil(col("sz") * threshold - EPS) + 1).cast("int"), lit(1))
    val prefix = sorted
      .select(col("id"), col("sz"),
        posexplode(slice(col("tk"), lit(1), prefixLen)))
      .select(col("id"), col("sz"), col("pos").as("p"), col("col").as("gram"))
    val guarded = guardHotGrams(prefix, maxDocsPerGram, dropHotGrams,
      "allPairsJaccard")

    val minOverlap =
      ceil((col("sz_a") + col("sz_b")) * (threshold / (1.0 + threshold)) - EPS)
    val candidates = guarded
      .select(col("gram"), col("id").as("id_a"), col("p").as("p_a"),
        col("sz").as("sz_a"))
      .join(guarded.select(col("gram"), col("id").as("id_b"),
        col("p").as("p_b"), col("sz").as("sz_b")), "gram")
      .filter(col("id_a") < col("id_b"))
      .filter(col("sz_b") >= ceil(col("sz_a") * threshold - EPS) &&
        col("sz_a") >= ceil(col("sz_b") * threshold - EPS))
      .groupBy(col("id_a"), col("id_b"), col("sz_a"), col("sz_b"))
      .agg(count(lit(1)).as("hits"),
        max(col("p_a")).as("la"), max(col("p_b")).as("lb"))
      // positional bound: common grams past the LAST prefix match lie
      // after it on both sides (shared total order), earlier common
      // grams are all prefix hits already counted
      .filter(col("hits") +
        least(col("sz_a") - col("la") - 1, col("sz_b") - col("lb") - 1) >=
        minOverlap)
      .select(col("id_a"), col("id_b"))

    val pairs = candidates
      .join(sorted.select(col("id").as("id_a"), col("tk").as("tk_a")), "id_a")
      .join(sorted.select(col("id").as("id_b"), col("tk").as("tk_b")), "id_b")
      .withColumn("shared", size(array_intersect(col("tk_a"), col("tk_b"))))
      .withColumn("jaccard", col("shared").cast("double") /
        (size(col("tk_a")) + size(col("tk_b")) - col("shared")).cast("double"))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("jaccard"))
    (pairs, sorted)
  }

  /** Document pairs sharing ≥ `minShared` winnowing fingerprint hashes
    * (TextFunctions.winnowFingerprints — the MOSS local-fingerprint
    * scheme): overlap detection that, unlike whole-document hashing,
    * survives partial edits, and unlike n-gram Jaccard, stores only
    * ~2/(w+1) of the gram space per document. Candidates come from the
    * fingerprint-hash posting join (positions are masked off — matching
    * is content-based, positions localize matches downstream), so the
    * same hot-key contract as [[exactNgramJaccard]] applies: a
    * fingerprint shared by d documents contributes O(d²) pairs,
    * `maxDocsPerGram` fails loudly by default, `dropHotGrams` opts
    * into documented truncation. Exact-oracle callers on bounded
    * slices pass `maxDocsPerGram = Int.MaxValue`.
    *
    * Unlike plain gram postings, hot fingerprints here are the NORM:
    * winnowing's rightmost-min selection is biased toward LOW hash
    * values, so the same common k-grams win their windows corpus-wide
    * (measured at 50k sf-derived docs: one fingerprint in 77% of all
    * documents, Σd² = 1.35B candidate pairs — quadratic in corpus size
    * with the guard off). Production callers should treat
    * `dropHotGrams = true` with a few-hundred cap as the default
    * posture: a fingerprint shared by thousands of documents carries
    * no overlap signal (it IS boilerplate), and `minShared` still
    * requires the surviving rarer fingerprints to agree. */
  def winnowNearDups(
      df: DataFrame, idCol: String, textCol: String,
      k: Int = 6, w: Int = 8, minShared: Int = 3,
      maxDocsPerGram: Int = 10000, dropHotGrams: Boolean = false): DataFrame = {
    require(minShared > 0, "minShared must be > 0")
    require(maxDocsPerGram > 0, "maxDocsPerGram must be > 0")
    val raw = df.filter(col(textCol).isNotNull)
      .select(col(idCol).as("id"),
        explode(array_distinct(transform(
          TextFunctions.winnowFingerprints(col(textCol), k, w),
          fp => fp % lit(2147483648L)))).as("gram"))
    // pair generation from each fingerprint's grouped posting LIST, not
    // a posting self-join: the join form planned the fingerprint kernel
    // scan TWICE (one subtree per join side — broadcast at small scale,
    // Exchange+Sort both sides at large), while one groupBy computes
    // the kernel once and shuffles each posting row once. The guard
    // contract is unchanged and cheaper: a fingerprint's document
    // frequency IS its list size (within-doc fingerprints are distinct
    // by construction), so the former count-over-window sort
    // disappears. Pairs = ordered (i < j) element pairs of the sorted
    // list — exactly the join's id_a < id_b relation; with the guard
    // active the list length is bounded by maxDocsPerGram, so the
    // collected row stays small at any corpus size (the uncapped
    // audit form is quadratic by construction either way — see the
    // scaladoc's 100 TB posture). MEASURED r16, same host
    // back-to-back: capped 0.64× at sf0.1; uncapped 0.92× at sf0.1
    // and 3.96× FASTER at sf1 (1163 s → 294 s) — the join form's
    // second kernel scan plus its d-per-probe-row emission loses to
    // emitting each hot list once, even though a hot list's d² pairs
    // explode inside one task (the partial aggregation on (id_a,
    // id_b) runs in the same stage, so emitted pairs never all
    // materialize).
    val lists = raw.groupBy(col("gram"))
      .agg(sort_array(collect_list(col("id"))).as("ids"))
    val guarded =
      if (maxDocsPerGram == Int.MaxValue) lists
      else if (dropHotGrams) lists.filter(size(col("ids")) <= maxDocsPerGram)
      else lists.filter(assert_true(size(col("ids")) <= maxDocsPerGram,
        concat(lit("winnowNearDups: a gram is shared by "), size(col("ids")),
          lit(s" documents (> maxDocsPerGram = $maxDocsPerGram) — the " +
            "pair generation would be quadratic in that count; raise " +
            "maxDocsPerGram, set dropHotGrams = true, or use the LSH " +
            "path (winnowNearDupsLsh)"))).isNull)
    guarded.filter(size(col("ids")) >= 2)
      .select(col("ids"), posexplode(col("ids")))
      .select(col("col").as("id_a"),
        explode(slice(col("ids"), col("pos") + lit(2),
          size(col("ids")))).as("id_b"))
      .groupBy(col("id_a"), col("id_b")).agg(count(lit(1)).as("shared"))
      .filter(col("shared") >= minShared)
  }

  /** [[winnowNearDups]] at corpus scale: MinHash+LSH over each
    * document's fingerprint-hash SET proposes candidate pairs (banded
    * bucket self-join — candidates ∝ corpus × bands, never the posting
    * join's Σd²), then the EXACT shared-fingerprint count disposes on
    * the candidate set only (per-candidate `array_intersect` on the
    * fetched sets). Output columns match [[winnowNearDups]] and
    * `shared` is exact for every surfaced pair; what changes is
    * RECALL, which follows LSH band recall on fingerprint-set Jaccard
    * — a pair sharing `minShared` fingerprints out of otherwise large
    * disjoint sets has low Jaccard and will usually not be proposed.
    * This is the overlap form for near-duplicate documents, while the
    * posting-join form is the exhaustive (plagiarism-grade) relation
    * on bounded corpora.
    *
    * The posting form's hot-fingerprint problem disappears
    * STRUCTURALLY here: candidates never come from posting lists, so a
    * boilerplate fingerprint shared by half the corpus inflates
    * nothing (it just contributes one more equal signature position to
    * pairs that already overlap). The `maxBucketSize` guard bounds the
    * one remaining skew source — identical-set clusters collapsing
    * into one bucket per band. Measured curves: PERF_NOTES_r9. */
  def winnowNearDupsLsh(
      df: DataFrame, idCol: String, textCol: String,
      k: Int = 12, w: Int = 16, minShared: Int = 3,
      numPerm: Int = 64, bands: Int = 16,
      maxBucketSize: Int = 1000): DataFrame = {
    require(minShared > 0, "minShared must be > 0")
    val rowsPerBand = numPerm / bands
    require(bands * rowsPerBand == numPerm, "bands must divide numPerm")
    val docs = df.filter(col(textCol).isNotNull)
      .select(col(idCol).as("id"),
        array_distinct(transform(
          TextFunctions.winnowFingerprints(col(textCol), k, w),
          fp => fp % lit(2147483648L))).as("fps"))
      .filter(size(col("fps")) > 0)
      .withColumn("sig", minhashSignature(col("fps"), numPerm))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // candidates over (id, band, bucket) only — sets and signatures
    // stay out of the banded shuffle (same transport rule as
    // minHashNearDups)
    val buckets = docs
      .select(col("id"),
        explode(bandBuckets(col("sig"), bands, rowsPerBand)).as("bb"))
      .select(col("id"), col("bb.band").as("band"), col("bb.bucket").as("bucket"))
    val sized = BucketStore.capBuckets(buckets, maxBucketSize)
    val candidates = sized.select(col("band"), col("bucket"), col("id").as("id_a"))
      .join(sized.select(col("band"), col("bucket"), col("id").as("id_b")),
        Seq("band", "bucket"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"))
      .dropDuplicates("id_a", "id_b")
    val fps = docs.select(col("id"), col("fps"))
    candidates
      .join(fps.select(col("id").as("id_a"), col("fps").as("fps_a")), "id_a")
      .join(fps.select(col("id").as("id_b"), col("fps").as("fps_b")), "id_b")
      .withColumn("shared",
        size(array_intersect(col("fps_a"), col("fps_b"))).cast("long"))
      .filter(col("shared") >= minShared)
      .select(col("id_a"), col("id_b"), col("shared"))
  }

  /** Posting-list length guard shared by the exact-gram operators: a
    * gram appearing in d documents contributes O(d²) (self-join) or
    * O(d · q) (search join) candidate pairs, so one boilerplate gram
    * makes the join quadratic. Default is FAIL-LOUD (`assert_true`
    * raises with the offending count); `dropHotGrams = true` opts into
    * truncation instead. The count runs as a window over the same key
    * the posting join shuffles on — no extra shuffle.
    *
    * `assert_true` stays inside a `filter` (its null result passes
    * every row) so column pruning cannot elide the check. */
  private def guardHotGrams(
      raw: DataFrame, maxDocsPerGram: Int, dropHotGrams: Boolean,
      caller: String): DataFrame = {
    if (maxDocsPerGram == Int.MaxValue) raw
    else {
      val sized = raw.withColumn("__df",
        count(lit(1)).over(org.apache.spark.sql.expressions.Window
          .partitionBy(col("gram"))))
      if (dropHotGrams) sized.filter(col("__df") <= maxDocsPerGram).drop("__df")
      else sized.filter(assert_true(col("__df") <= maxDocsPerGram,
        concat(lit(s"$caller: a gram is shared by "), col("__df"),
          lit(s" documents (> maxDocsPerGram = $maxDocsPerGram) — the " +
            "posting join would be quadratic in that count; raise " +
            "maxDocsPerGram, set dropHotGrams = true, or use the LSH " +
            "path (ngramJaccardNearDups)"))).isNull)
        .drop("__df")
    }
  }

  /** Top-k most similar CORPUS documents for each QUERY document by
    * exact word-n-gram Jaccard — the retrieval form of the dedup stack
    * (dedup triage, attribution, provenance: "which existing documents
    * is this one closest to?"). Nothing is approximated: candidates
    * are exactly the pairs sharing ≥1 gram — a pair sharing none has
    * Jaccard 0 and is correctly absent, so a query with fewer than k
    * overlapping documents returns fewer than k rows.
    *
    * Engine-exact output: integer gram counts, one correctly-rounded
    * IEEE division, ranking ties broken (jaccard desc, doc id asc).
    *
    * Scale shape — the retrieval contract is cost ∝ QUERY posting
    * volume plus one linear corpus pass, never a corpus-sized shuffle:
    *
    *  - the corpus gram stream is semi-joined against the (broadcast)
    *    query gram set FIRST, so everything downstream — the hot-gram
    *    accounting, the posting join, the candidate ranking — runs on
    *    the touched slice only (a gram no query contains costs
    *    nothing, which is also why the `maxDocsPerGram` guard here
    *    covers query-present grams only; corpus-vs-corpus hot grams
    *    are [[exactNgramJaccard]]'s concern);
    *  - per-document gram-set sizes are a map-side-combined groupBy
    *    over the corpus stream — linear scan, one row per document in
    *    the shuffle;
    *  - ranking is a window partitioned by query id: one task per
    *    query's candidate list, never a global sort.
    *
    * With `dropHotGrams = true` a hot gram leaves the gram space
    * entirely (matching AND both denominators), consistent with
    * [[exactNgramJaccard]]; the default fails the job loudly with the
    * offending count. Query batches are assumed much smaller than the
    * corpus; for corpus-vs-corpus pairs use [[exactNgramJaccard]] /
    * [[ngramJaccardNearDups]].
    *
    * @return (q_id, doc_id, shared, jaccard, rnk) with rnk ≤ k
    */
  def jaccardTopK(
      corpus: DataFrame, idCol: String, textCol: String,
      queries: DataFrame, qidCol: String, qtextCol: String,
      n: Int = 3, k: Int = 10,
      maxDocsPerGram: Int = 10000, dropHotGrams: Boolean = false): DataFrame = {
    require(n > 0, "n must be > 0")
    require(k > 0, "k must be > 0")
    require(maxDocsPerGram > 0, "maxDocsPerGram must be > 0")
    def explodedGrams(df: DataFrame, id: String, text: String,
        as: String): DataFrame =
      df.filter(col(text).isNotNull)
        .select(col(id).as(as),
          explode(array_distinct(TextFunctions.wordNgrams(col(text), n)))
            .as("gram"))
    val qg0 = explodedGrams(queries, qidCol, qtextCol, "q_id")
    val cg0 = explodedGrams(corpus, idCol, textCol, "doc_id")
    val qGramSet = qg0.select(col("gram")).distinct()
    val touched = cg0.join(qGramSet, Seq("gram"), "left_semi")
    // combined document frequency of every query-present gram — the
    // blow-up per gram is qDf × cDf, so the UNION count is what the
    // cap bounds; this relation is query-sized, not corpus-sized
    val hot = touched.select(col("gram"))
      .unionByName(qg0.select(col("gram")))
      .groupBy(col("gram")).agg(count(lit(1)).as("__df"))
      .filter(col("__df") > maxDocsPerGram)
    def guard(df: DataFrame): DataFrame = {
      if (maxDocsPerGram == Int.MaxValue) df
      else {
        val joined = df.join(hot, Seq("gram"), "left")
        val kept =
          if (dropHotGrams) joined.filter(col("__df").isNull)
          // assert_true inside a filter (its null result passes every
          // row) so column pruning cannot elide the check
          else joined.filter(assert_true(col("__df").isNull,
            concat(lit("jaccardTopK: a gram is shared by "), col("__df"),
              lit(s" documents (> maxDocsPerGram = $maxDocsPerGram) — " +
                "the posting join would be quadratic in that count; " +
                "raise maxDocsPerGram, set dropHotGrams = true, or use " +
                "the LSH path (ngramJaccardNearDups)"))).isNull)
        kept.drop("__df")
      }
    }
    val cg = guard(touched)
    val qg = guard(qg0)
    // full gram-set sizes as a PURE PROJECTION (size ∘ array_distinct ∘
    // wordNgrams — no explode, no shuffle; jaccard's denominator counts
    // every gram, matched or not) minus, in drop mode, each document's
    // hot-gram count. The corpus-side adjustment reads the TOUCHED
    // slice, not the corpus stream: hot grams are query-present by
    // construction, so every corpus occurrence of one lies in `touched`.
    def gramSetSize(df: DataFrame, id: String, text: String,
        idName: String): DataFrame =
      df.filter(col(text).isNotNull)
        .select(col(id).as(idName),
          size(array_distinct(TextFunctions.wordNgrams(col(text), n)))
            .cast("long").as("__all"))
    def sizes(base: DataFrame, grams: DataFrame, idName: String,
        out: String): DataFrame = {
      if (dropHotGrams && maxDocsPerGram != Int.MaxValue) {
        val drop = grams.join(hot, Seq("gram"), "left_semi")
          .groupBy(col(idName)).agg(count(lit(1)).as("__hot"))
        base.join(drop, Seq(idName), "left")
          .select(col(idName),
            (col("__all") - coalesce(col("__hot"), lit(0L))).as(out))
      } else base.select(col(idName), col("__all").as(out))
    }
    val cSizes = sizes(gramSetSize(corpus, idCol, textCol, "doc_id"),
      touched, "doc_id", "n_d")
    val qSizes = sizes(gramSetSize(queries, qidCol, qtextCol, "q_id"),
      qg0, "q_id", "n_q")
    val shared = qg.join(cg, "gram")
      .groupBy(col("q_id"), col("doc_id")).agg(count(lit(1)).as("shared"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("q_id"))
      .orderBy(col("jaccard").desc, col("doc_id").asc)
    shared
      .join(qSizes, "q_id")
      .join(cSizes, "doc_id")
      .withColumn("jaccard", col("shared").cast("double") /
        (col("n_q") + col("n_d") - col("shared")).cast("double"))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("q_id"), col("doc_id"), col("shared"), col("jaccard"),
        col("rnk"))
  }

  /** Benchmark decontamination: remove documents sharing ANY word
    * n-gram with a benchmark corpus (the standard eval-leakage guard for
    * training data). Two exact passes, shaped for 100 TB:
    *
    *  1. PREFILTER — both sides' grams reduced to xxhash64 longs; a
    *     semi-join on the 8-byte hash finds candidate documents. The
    *     corpus-sized shuffle moves only (id, hash) — never gram
    *     strings.
    *  2. VERIFY — only the (tiny) candidate set re-explodes its gram
    *     STRINGS and joins the benchmark grams on string equality, so
    *     hash collisions cannot false-positively drop a document.
    *
    * Result is byte-for-byte the single-pass string join, at a fraction
    * of the shuffle volume. */
  def decontaminate(
      df: DataFrame, idCol: String, textCol: String,
      benchmark: DataFrame, benchTextCol: String, n: Int = 8): DataFrame = {
    require(n > 0, "n must be > 0")
    // pass 1: hash-only candidate detection (shingleHashes = distinct
    // xxhash64 of exactly the wordNgrams strings' token sequences)
    val benchHashes = benchmark
      .select(explode(shingleHashes(col(benchTextCol), n)).as("__gh"))
      .distinct()
    val hashCandidates = df
      .select(col(idCol), explode(shingleHashes(col(textCol), n)).as("__gh"))
      .join(benchHashes, Seq("__gh"), "left_semi")
      .select(col(idCol)).distinct()
    // token-free text has NO shingle hashes but DOES have the single
    // empty gram in string semantics — send those straight to verify.
    // \S is java-regex non-whitespace, the same class the tokenizer
    // splits on; O(len) scan, no kernel pass.
    val tokenless = df.filter(
      col(textCol).isNotNull && !col(textCol).rlike("\\S"))
      .select(col(idCol))
    val candidates = hashCandidates.union(tokenless).distinct()

    // pass 2: exact string verification, candidates only
    val benchGrams = benchmark
      .select(explode(TextFunctions.wordNgrams(col(benchTextCol), n)).as("__gram"))
      .distinct()
    val candGrams = df.join(candidates, Seq(idCol), "left_semi")
      .select(col(idCol), explode(TextFunctions.wordNgrams(col(textCol), n)).as("__gram"))
    val contaminated = candGrams.join(benchGrams, Seq("__gram"), "left_semi")
      .select(col(idCol)).distinct()
    df.join(contaminated, Seq(idCol), "left_anti")
  }

  /** FUZZY benchmark decontamination: removes corpus documents
    * NEAR-DUPLICATE to any benchmark document — the paraphrase-level
    * leak [[decontaminate]] cannot see (exact 8-gram overlap misses a
    * reworded or lightly-edited benchmark item; near-dup matching is
    * the standard second line of defense for eval-set leakage).
    *
    * Shape: a BIPARTITE MinHash/LSH match — corpus and benchmark sides
    * each compute signatures once, band buckets join corpus × bench
    * (never corpus × corpus), and candidates are verified with the
    * EXACT shingle-set Jaccard (array_intersect over the hash sets) so
    * LSH optimism cannot remove a good document; a hash collision
    * perturbs Jaccard by at most one gram in ~2⁶⁴. Per-side
    * `maxBucketSize` caps mirror [[minHashNearDups]]'s skew guard: a
    * degenerate bucket on either side would otherwise make the
    * bipartite join a per-bucket cross product. Work ∝ corpus grams +
    * bench grams + (matched buckets) — never corpus × bench.
    *
    * Token-free documents carry no signature and cannot fuzzy-match;
    * route exact leakage concerns through [[decontaminate]], which
    * handles the empty-gram case (the two are complementary filters
    * and compose by chaining).
    *
    * @return the surviving rows of `df` (contaminated documents
    *         removed), like [[decontaminate]] */
  def decontaminateFuzzy(
      df: DataFrame, idCol: String, textCol: String,
      benchmark: DataFrame, benchTextCol: String,
      shingleLen: Int = 3, numPerm: Int = 64, bands: Int = 16,
      threshold: Double = 0.8, maxBucketSize: Int = 1000): DataFrame = {
    val rowsPerBand = numPerm / bands
    require(bands * rowsPerBand == numPerm, "bands must divide numPerm")
    require(threshold > 0 && threshold <= 1,
      s"threshold must be in (0, 1], got $threshold")
    require(maxBucketSize > 0, "maxBucketSize must be > 0")
    def sigSide(src: DataFrame, id: Column, text: Column): DataFrame =
      src.select(id.as("id"), shingleHashes(text, shingleLen).as("sh"))
        .filter(size(col("sh")) > 0)
        .withColumn("sig", minhashSignature(col("sh"), numPerm))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    def bucketSide(sigs: DataFrame): DataFrame = BucketStore.capBuckets(
      sigs.select(col("id"),
        explode(bandBuckets(col("sig"), bands, rowsPerBand)).as("bb"))
        .select(col("id"), col("bb.band").as("band"), col("bb.bucket").as("bucket")),
      maxBucketSize)
    val corpus = sigSide(df, col(idCol), col(textCol))
    // identical benchmark texts collapse to one id (xxhash64 of the
    // text) — the match relation only needs SOME bench witness
    val bench = sigSide(
      benchmark.filter(col(benchTextCol).isNotNull)
        .select(col(benchTextCol).as("__btext")).distinct(),
      xxhash64(col("__btext")), col("__btext"))
    val candidates = bucketSide(corpus)
      .join(bucketSide(bench).select(col("band"), col("bucket"),
        col("id").as("bench_id")), Seq("band", "bucket"))
      .select(col("id"), col("bench_id"))
      .dropDuplicates("id", "bench_id")
    val contaminated = candidates
      .join(corpus.select(col("id"), col("sh").as("sh_c")), "id")
      .join(bench.select(col("id").as("bench_id"), col("sh").as("sh_b")),
        "bench_id")
      .filter(
        size(array_intersect(col("sh_c"), col("sh_b"))).cast("double") /
          size(array_union(col("sh_c"), col("sh_b"))).cast("double")
          >= threshold)
      .select(col("id")).distinct()
    df.join(contaminated, col(idCol) === col("id"), "left_anti")
  }

  /** Duplicate-cluster SIZE HISTOGRAM — the reporting form of the CC
    * relation ("how much of the corpus sits in 2-clusters vs
    * 100-clusters?" is the first question any dedup audit asks).
    * Documents absent from `components` are singletons (cluster of
    * size 1), matching the min-label convention. Two map-side-combined
    * groupBys; output is |distinct sizes| rows. */
  def clusterSizeHistogram(
      df: DataFrame, idCol: String, components: DataFrame): DataFrame =
    df.select(col(idCol))
      .join(components.withColumnRenamed("id", idCol), Seq(idCol), "left")
      .select(coalesce(col("component"), col(idCol)).as("cluster_id"))
      .groupBy(col("cluster_id")).agg(count(lit(1)).as("cluster_size"))
      .groupBy(col("cluster_size")).agg(count(lit(1)).as("n_clusters"))

  /** [[decontaminateFuzzy]]'s match detection as a REAL streaming
    * query: documents stream from a parquet directory (file source,
    * available-now trigger), the benchmark side is STATIC
    * (signatures + capped band buckets precomputed once and
    * broadcast-joined per micro-batch), and every operator on the
    * stream is STATELESS — per-row signature, bucket explode,
    * stream-static joins, exact shingle-set-Jaccard filter — so state
    * stores hold nothing and throughput is pure projection cost.
    *
    * Returns the CONTAMINATED ids materialized from the stream (may
    * contain duplicates — one per matching bench bucket pair;
    * `.distinct()` them). A stream cannot anti-join "documents that
    * never matched" without end-of-stream knowledge; the production
    * pattern is flag-and-filter downstream, and the batch operator
    * remains the remove form. */
  def decontaminateFuzzyStreamed(
      spark: org.apache.spark.sql.SparkSession, docsPath: String,
      idCol: String, textCol: String,
      benchmark: DataFrame, benchTextCol: String,
      shingleLen: Int = 3, numPerm: Int = 64, bands: Int = 16,
      threshold: Double = 0.8, maxBucketSize: Int = 1000): DataFrame = {
    val rowsPerBand = numPerm / bands
    require(bands * rowsPerBand == numPerm, "bands must divide numPerm")
    require(threshold > 0 && threshold <= 1,
      s"threshold must be in (0, 1], got $threshold")
    val bench = benchmark.filter(col(benchTextCol).isNotNull)
      .select(col(benchTextCol).as("__btext")).distinct()
      .select(xxhash64(col("__btext")).as("bench_id"),
        shingleHashes(col("__btext"), shingleLen).as("sh_b"))
      .filter(size(col("sh_b")) > 0)
      .withColumn("sig", minhashSignature(col("sh_b"), numPerm))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val benchBuckets = BucketStore.capBuckets(bench
      .select(col("bench_id"),
        explode(bandBuckets(col("sig"), bands, rowsPerBand)).as("bb"))
      .select(col("bench_id"), col("bb.band").as("band"), col("bb.bucket").as("bucket")),
      maxBucketSize)
    val benchSh = bench.select(col("bench_id"), col("sh_b"))
    val schema = spark.read.parquet(docsPath).schema
    // the returned rows are collected, so nothing reads `bench` after
    try LandingZone.toMemory(spark, "append") { s =>
      s.readStream.schema(schema).parquet(docsPath)
        .select(col(idCol).as("id"),
          shingleHashes(col(textCol), shingleLen).as("sh"))
        .filter(size(col("sh")) > 0)
        .withColumn("sig", minhashSignature(col("sh"), numPerm))
        .select(col("id"), col("sh"),
          explode(bandBuckets(col("sig"), bands, rowsPerBand)).as("bb"))
        .select(col("id"), col("sh"),
          col("bb.band").as("band"), col("bb.bucket").as("bucket"))
        .join(broadcast(benchBuckets), Seq("band", "bucket"))
        .join(broadcast(benchSh), Seq("bench_id"))
        .filter(
          size(array_intersect(col("sh"), col("sh_b"))).cast("double") /
            size(array_union(col("sh"), col("sh_b"))).cast("double")
            >= threshold)
        .select(col("id"))
    } finally bench.unpersist(blocking = false)
  }

  /** Per-document benchmark-contamination REPORT: the fraction of each
    * document's DISTINCT word n-grams (the same gram set
    * [[decontaminate]] tests — partial gram for shorter-than-n docs,
    * the empty gram for token-free text) that appear in the benchmark.
    * [[decontaminate]] is the remove form (any shared gram → drop);
    * audit pipelines need the score itself to threshold, rank, or
    * report leakage instead of hard-dropping.
    *
    * Same two-pass scale shape as [[decontaminate]]: the corpus-wide
    * pass moves only (id, 8-byte hash); only candidate documents —
    * those sharing at least one hash with the benchmark — re-explode
    * their gram STRINGS for the exact per-document count, so hash
    * collisions cannot inflate a score. The denominator needs no
    * shuffle at all: `size(array_distinct(wordNgrams(text)))` is a
    * per-row projection. Non-candidates score 0 via the left join.
    *
    * @return (idCol, n_grams, n_contaminated, contamination) — one row
    *         per non-null-text document; contamination = IEEE double
    *         division of the two exact counts
    */
  def contaminationScore(
      df: DataFrame, idCol: String, textCol: String,
      benchmark: DataFrame, benchTextCol: String, n: Int = 8): DataFrame = {
    require(n > 0, "n must be > 0")
    val totals = df.filter(col(textCol).isNotNull)
      .select(col(idCol),
        size(array_distinct(TextFunctions.wordNgrams(col(textCol), n)))
          .cast("long").as("n_grams"))
    val benchHashes = benchmark
      .select(explode(shingleHashes(col(benchTextCol), n)).as("__gh"))
      .distinct()
    val hashCandidates = df
      .select(col(idCol), explode(shingleHashes(col(textCol), n)).as("__gh"))
      .join(benchHashes, Seq("__gh"), "left_semi")
      .select(col(idCol)).distinct()
    // token-free text has no shingle hashes but does carry the single
    // empty gram in string semantics — route straight to verify, same
    // as decontaminate
    val tokenless = df.filter(
      col(textCol).isNotNull && !col(textCol).rlike("\\S"))
      .select(col(idCol))
    val candidates = hashCandidates.union(tokenless).distinct()
    val benchGrams = benchmark
      .select(explode(TextFunctions.wordNgrams(col(benchTextCol), n))
        .as("__gram"))
      .distinct()
    val hits = df.join(candidates, Seq(idCol), "left_semi")
      .select(col(idCol),
        explode(array_distinct(TextFunctions.wordNgrams(col(textCol), n)))
          .as("__gram"))
      .join(benchGrams, Seq("__gram"), "left_semi")
      .groupBy(col(idCol)).agg(count(lit(1)).as("n_contaminated"))
    totals.join(hits, Seq(idCol), "left")
      .select(col(idCol), col("n_grams"),
        coalesce(col("n_contaminated"), lit(0L)).as("n_contaminated"),
        (coalesce(col("n_contaminated"), lit(0L)).cast("double") /
          col("n_grams").cast("double")).as("contamination"))
  }

  /** LAZILY localCheckpoint `df` and return BOTH the checkpointed
    * frame and an explicit handle to its backing RDD, captured from the
    * checkpoint RESULT (whose plan is by construction a single
    * `LogicalRDD` leaf) — never by pattern-matching an arbitrary
    * caller plan, which could free blocks the caller still owns if an
    * RDD-backed DataFrame ever entered the loop. The handle lets the
    * propagation loop free the PREVIOUS round's blocks the moment its
    * successor is materialized, instead of letting checkpoints pile up
    * until the ContextCleaner GCs them.
    *
    * Lazy (eager = false) on purpose: the propagation loop's next
    * driver action is always a full-scan count over the checkpointed
    * frame, which materializes every partition anyway — an eager
    * checkpoint paid a SECOND whole job per round just to materialize
    * what the count was about to compute (r15 verdict #6: two driver
    * actions per CC round were the measured fixed cost on tiny
    * graphs). The caller must run such a full-scan action before
    * building the next round's plan on top — every call site in this
    * file does (count / filter+count). */
  private def lazyCheckpoint(
      df: DataFrame): (DataFrame, org.apache.spark.rdd.RDD[_]) = {
    val cp = df.localCheckpoint(eager = false)
    val rdds = cp.queryExecution.analyzed.collect {
      case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd
    }
    assert(rdds.size == 1,
      s"localCheckpoint plan should be one LogicalRDD leaf, got ${rdds.size}")
    (cp, rdds.head)
  }

  /** Connected components over an undirected edge list — the step that
    * turns near-dup PAIRS (from [[minHashNearDups]] / [[simhashNearDups]]
    * / [[ngramJaccardNearDups]]) into duplicate CLUSTERS, so "drop all
    * but one copy" is well-defined even when A~B and B~C but A!~C.
    *
    * Algorithm: iterative min-label propagation. Every node starts
    * labelled with its own id; each round every node takes the min of
    * its own label and its neighbours' labels; fixpoint = every node
    * labelled with the min id of its component. Rounds needed = graph
    * diameter — near-dup clusters are dense (LSH buckets produce
    * near-cliques), so 2-4 rounds in practice; `maxIter` bounds
    * adversarial chains. (For graphs with genuinely large diameters at
    * scale, the alternating large-star/small-star algorithm [Kiveris et
    * al., "Connected Components in MapReduce and Beyond", SoCC'14]
    * converges in O(log^2 n) rounds with the same join-shape per round —
    * same skeleton, different propagation rule.)
    *
    * Scale shape per round: one shuffle-join (labels onto edge sources,
    * keyed by node id), one partial-aggregated groupBy (min over
    * neighbour labels, keyed by node id), one join back. No driver-side
    * data; the only driver action is a scalar convergence count.
    * Lineage is truncated each round with a `localCheckpoint`
    * materialized by that same count (plan analysis would otherwise
    * grow without bound); on a
    * multi-executor cluster with flaky nodes, switch to a reliable
    * `checkpoint` directory — localCheckpoint blocks die with their
    * executor.
    *
    * Nulls and self-loops are dropped. Nodes not present in any edge do
    * not appear in the output (callers left-join + coalesce to keep
    * singletons).
    *
    * @return (`idCol`, component) — component is the min node id of the
    *         connected component
    */
  def connectedComponents(
      edges: DataFrame, srcCol: String, dstCol: String,
      maxIter: Int = 25): DataFrame = {
    require(maxIter > 0, "maxIter must be > 0")
    val e = edges
      .filter(col(srcCol).isNotNull && col(dstCol).isNotNull &&
        col(srcCol) =!= col(dstCol))
      .select(col(srcCol).as("__s"), col(dstCol).as("__d"))
    // undirected: propagate both ways
    val sym = e.union(e.select(col("__d").as("__s"), col("__s").as("__d")))
      .dropDuplicates("__s", "__d")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

    var (labels, labelsRdd) = lazyCheckpoint(
      sym.select(col("__s").as("__id")).distinct()
        .withColumn("__comp", col("__id")))
    // exact node count — ONE job that both materializes the lazy
    // checkpoint (full-scan count) and gates the per-round broadcast
    // hints: the N-row label table sits behind a checkpoint whose size
    // estimate is unknown, so without the hint the planner shuffles
    // (or worse, broadcasts) the E-row edge side every round (the
    // Graph.broadcastIfSmall rationale)
    val nNodes = labels.count()
    var iter = 0
    var changed = 1L
    while (changed > 0 && iter < maxIter) {
      // min label among neighbours (partial agg → tiny shuffle)
      val lb = Graph.broadcastIfSmall(
        labels.select(col("__id").as("__s"), col("__comp").as("__sc")), nNodes)
      val nbrMin = sym
        .join(lb, "__s")
        .groupBy(col("__d").as("__id"))
        .agg(min(col("__sc")).as("__nbr"))
      val (stepped, steppedRdd) = lazyCheckpoint(labels
        .join(Graph.broadcastIfSmall(nbrMin, nNodes), Seq("__id"), "left")
        .select(col("__id"),
          least(col("__comp"), coalesce(col("__nbr"), col("__comp"))).as("__comp"),
          col("__comp").as("__prev")))
      // ONE action per round: the convergence count is a full scan of
      // the lazily-checkpointed frame, so it materializes (and
      // truncates) the round in the same job it counts
      changed = stepped.filter(col("__comp") < col("__prev")).count()
      // the new checkpoint is materialized (by the count above), so
      // the previous round's blocks are dead — free exactly that
      // tracked RDD now (non-blocking; its successor no longer reads it)
      labelsRdd.unpersist(blocking = false)
      labels = stepped.drop("__prev")
      labelsRdd = steppedRdd
      iter += 1
    }
    sym.unpersist()
    // silently-split components are worse than an error: downstream
    // dedup would keep several "canonical" copies of one cluster and
    // an exact oracle (true transitive closure) would diverge with no
    // hint of the cause
    if (changed > 0)
      throw new IllegalStateException(
        s"connectedComponents did not converge in $maxIter iterations " +
          s"($changed labels still changing) — the graph has a component " +
          "with diameter > maxIter; raise maxIter or switch to " +
          "large-star/small-star propagation for chain-like graphs")
    labels.select(col("__id").as("id"), col("__comp").as("component"))
  }

  /** Compute [[connectedComponents]] over `edges` and MATERIALIZE the
    * result to `path` (parquet), returning a frame that READS the
    * materialized table. This is the production 100 TB shape: the
    * components relation is consumed by every downstream dedup step
    * (canonical pick, cluster stats, audit gates), so it lands in a
    * table once and each consumer pays a scan, never a recompute of
    * the iterative propagation. The write doubles as lineage
    * truncation — downstream plans start from a parquet leaf, not the
    * propagation loop's checkpoint chain.
    *
    * Overwrites `path`. Read it back later (other session, other
    * query) with [[fromMaterialized]]. */
  def materializeComponents(
      edges: DataFrame, srcCol: String, dstCol: String,
      path: String, maxIter: Int = 25): DataFrame = {
    connectedComponents(edges, srcCol, dstCol, maxIter)
      .write.mode("overwrite").parquet(path)
    fromMaterialized(edges.sparkSession, path)
  }

  /** Read a components relation previously written by
    * [[materializeComponents]]: (id, component). */
  def fromMaterialized(
      spark: org.apache.spark.sql.SparkSession, path: String): DataFrame =
    spark.read.parquet(path)

  /** Full near-dedup pipeline with a MATERIALIZED components relation:
    * MinHash+LSH candidate pairs → [[materializeComponents]] at
    * `compsPath` → canonical survivors, returning (components,
    * survivors) — both lazily readable any number of times without
    * re-running the pipeline (the components read straight from the
    * parquet; the survivors recompute only the cheap broadcast-window
    * pick over it). Use this instead of [[nearDedup]] when downstream
    * steps (cluster statistics, invariant audits, incremental reruns)
    * need the SAME clusters the survivor pick used — recomputing the
    * LSH+propagation per consumer is the duplicate-work pattern this
    * exists to kill.
    *
    * The signature cache is scoped exactly as in [[nearDedup]]: freed
    * once the components write has consumed it. */
  def nearDedupMaterialized(
      df: DataFrame, idCol: String, textCol: String,
      compsPath: String,
      shingleLen: Int = 3, numPerm: Int = 64, bands: Int = 16,
      threshold: Double = 0.8, pick: Seq[Column] = Nil): (DataFrame, DataFrame) = {
    val (pairs, sigCache) = minHashNearDupsCached(df, idCol, textCol,
      shingleLen, numPerm, bands, threshold, maxBucketSize = 1000)
    // materializeComponents writes eagerly, so the signature cache is
    // dead the moment it returns — free it here (scoped)
    val comps = materializeComponents(pairs, "id_a", "id_b", compsPath)
    sigCache.unpersist(blocking = false)
    val ordering = if (pick.nonEmpty) pick else Seq(col(idCol).asc)
    (comps, keepCanonical(df, idCol, comps, ordering))
  }

  /** Keep one canonical document per duplicate cluster: attach
    * `components` (from [[connectedComponents]]), pick the best row of
    * each cluster by `pick` ordering (ties MUST be broken by a unique
    * column — append the id), keep unclustered rows as-is.
    *
    * Scale shape: the components side is near-dup output — tiny next
    * to the corpus — so the attach is a broadcast join, and the
    * cluster window runs ONLY over the clustered rows (also tiny);
    * the unclustered bulk of the corpus passes through untouched with
    * no shuffle at all. */
  def keepCanonical(
      df: DataFrame, idCol: String, components: DataFrame,
      pick: Seq[Column]): DataFrame = {
    require(pick.nonEmpty, "pick ordering must not be empty")
    Seq("component", "__rn").foreach { n =>
      require(!df.columns.contains(n),
        s"input already has a column named $n")
    }
    val comp = broadcast(
      components.select(col("id").as(idCol), col("component")))
    val untouched = df.join(comp, Seq(idCol), "left_anti")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("component")).orderBy(pick: _*)
    val winners = df.join(comp, Seq(idCol))
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn", "component")
    untouched.unionByName(winners)
  }

  /** End-to-end near-deduplication: MinHash+LSH candidate pairs →
    * connected components → one canonical survivor per cluster. The
    * full production pipeline as one call — [[minHashNearDups]] finds
    * the pairs (shuffle keyed by LSH bucket), [[connectedComponents]]
    * closes them transitively (A~B, B~C ⇒ {A,B,C} is ONE cluster even
    * when A≁C), [[keepCanonical]] picks the survivor.
    *
    * @param pick canonical-pick ordering within a cluster (ties MUST
    *             end with a unique column); default: smallest id
    */
  def nearDedup(
      df: DataFrame, idCol: String, textCol: String,
      shingleLen: Int = 3, numPerm: Int = 64, bands: Int = 16,
      threshold: Double = 0.8, pick: Seq[Column] = Nil): DataFrame = {
    val (pairs, sigCache) = minHashNearDupsCached(df, idCol, textCol,
      shingleLen, numPerm, bands, threshold, maxBucketSize = 1000)
    // connectedComponents materializes eagerly (checkpoint + count per
    // round) and returns a projection over its own checkpoint, so the
    // signature cache is dead the moment it returns — free it HERE
    // (scoped), instead of leaking it for the session
    val comps = connectedComponents(pairs, "id_a", "id_b")
    sigCache.unpersist(blocking = false)
    val ordering = if (pick.nonEmpty) pick else Seq(col(idCol).asc)
    keepCanonical(df, idCol, comps, ordering)
  }

  /** Incremental near-deduplication: dedup an INCOMING batch against
    * an EXISTING corpus, returning only the incoming documents that
    * survive — the standard shape for a training pipeline that ingests
    * batches into an already-deduplicated corpus. The existing corpus
    * is never re-deduplicated and never loses a document: the
    * canonical pick orders existing rows strictly before incoming
    * ones, so an incoming near-duplicate of ANY existing document
    * always loses, and incoming documents deduplicate among
    * themselves by `pick` (default: smallest id).
    *
    * Caller contract: id spaces of the two frames must be disjoint
    * (a shared id would alias two different documents in the combined
    * pair graph).
    *
    * Scale shape: identical to [[nearDedup]] over existing ∪ incoming
    * — bucketed LSH self-join, never all-pairs. This entry point
    * recomputes the existing side's signatures per batch — it is the
    * SEMANTIC REFERENCE; the production form is the signature-table
    * overload ([[writeSignatureTable]] once, then
    * `nearDedupIncremental(spark, sigTablePath, batch, …)` per batch),
    * whose per-batch cost is proportional to the batch, not the corpus.
    *
    * @return the surviving rows of `incoming` (original columns)
    */
  def nearDedupIncremental(
      existing: DataFrame, incoming: DataFrame,
      idCol: String, textCol: String,
      shingleLen: Int = 3, numPerm: Int = 64, bands: Int = 16,
      threshold: Double = 0.8, pick: Seq[Column] = Nil): DataFrame = {
    require(!incoming.columns.contains("__graft_new"),
      "incoming already has a column named __graft_new")
    val tagged = existing.select(col(idCol), col(textCol))
      .withColumn("__graft_new", lit(0))
      .unionByName(incoming.select(col(idCol), col(textCol))
        .withColumn("__graft_new", lit(1)))
    val (pairs, sigCache) = minHashNearDupsCached(tagged, idCol, textCol,
      shingleLen, numPerm, bands, threshold, maxBucketSize = 1000)
    val comps = connectedComponents(pairs, "id_a", "id_b")
    sigCache.unpersist(blocking = false)
    val ordering = col("__graft_new").asc +:
      (if (pick.nonEmpty) pick else Seq(col(idCol).asc))
    val survivors = keepCanonical(tagged, idCol, comps, ordering)
      .filter(col("__graft_new") === 1)
      .select(col(idCol))
    incoming.join(survivors, Seq(idCol), "left_semi")
  }

  // ───────── persisted MinHash signature table ─────────

  /** The signature table's `sigs` relation (id, sig), range-clustered
    * by id so the candidate sig fetch reads only the files whose id
    * range holds a candidate; a rewrite takes its id split points from
    * the snapshot's own manifest stats. An append is RANGE-shaped into
    * 4 files with tight, disjoint id ranges in their footer stats
    * (sortWithinPartitions alone would leave every file spanning the
    * whole batch range on a hash-partitioned input), placed by an
    * in-plan ntile pid — a range partitioner's sampling pass would
    * execute the batch plan once more per append. */
  private val SigIds = BucketStore.Relation("sigs", clusterBy = Seq("id"),
    splits = _.flatMap(Store.statsSplits(_, "id")),
    shape = Store.placeBatchByKey(_, "id", BucketStore.AppendFiles).sortWithinPartitions("id"))

  private val SigIdKey = BucketStore.longKey("id")

  /** The signature table's `buckets` relation (id, band, bucket) for
    * `bandCount` band ids. `bucket` is xxhash64 — uniform by
    * construction — so the create places it by hash arithmetic with
    * ZERO sampling (the occupancy-cap window executes exactly once); a
    * rewrite blocks by the band ids its snapshot holds. */
  private def sigBuckets(bandCount: Int): BucketStore.Relation =
    BucketStore.banded(bandBucketSlot(_, _, bandCount, _))(s =>
      s.fold(Option(bandCount))(Store.partitionBlockCount(_, "band"))
        .map(c => Store.hashKeySplits(col("bucket"), Some((col("band"), c)))))

  /** Both relations of the table at `path`, sigs first. */
  private def sigRelations(spark: org.apache.spark.sql.SparkSession,
      path: String): Seq[BucketStore.Relation] =
    Seq(SigIds, SigParams(BucketStore.readMeta(spark, path)).buckets)

  /** A signature table's construction parameters and the two
    * derivations that read them: a document's signature and its
    * banding. */
  private final case class SigParams(
      shingleLen: Int, numPerm: Int, bands: Int, maxBucketSize: Int,
      multiProbe: Boolean) {
    /** Band ids: one per band, or one per (band, omitted row) with
      * multi-probe. */
    def bandCount: Int = if (multiProbe) numPerm else bands
    def buckets: BucketStore.Relation = sigBuckets(bandCount)

    /** (id, sig) for every token-ful document of `df`. */
    def sigs(df: DataFrame, idCol: String, textCol: String): DataFrame = df
      .select(col(idCol).as("id"),
        shingleHashes(col(textCol), shingleLen).as("sh"))
      .filter(size(col("sh")) > 0)
      .select(col("id"), minhashSignature(col("sh"), numPerm).as("sig"))

    /** The array of (band, bucket) keys of a `sig` column. */
    def bandKeys: Column = {
      val rowsPerBand = numPerm / bands
      if (multiProbe) bandBucketsMultiProbe(col("sig"), bands, rowsPerBand)
      else bandBuckets(col("sig"), bands, rowsPerBand)
    }

    /** (id, band, bucket) for every band key of the (id, sig) rows. */
    def banded(sigs: DataFrame): DataFrame =
      sigs.select(col("id"), explode(bandKeys).as("bb"))
        .select(col("id"), col("bb.band").as("band"), col("bb.bucket").as("bucket"))
  }

  private object SigParams {
    /** The parameters pinned in a table's meta. */
    def apply(meta: org.apache.spark.sql.Row): SigParams = SigParams(
      meta.getAs[Int]("shingle_len"), meta.getAs[Int]("num_perm"),
      meta.getAs[Int]("bands"), meta.getAs[Int]("max_bucket_size"),
      meta.getAs[Boolean]("multi_probe"))
  }

  /** Materialize the MinHash signature/bucket relations for a corpus —
    * the "build the expensive structure once, reuse it" contract of the
    * reference's Index persist/reload (csvplus.go:655-705), applied to
    * the dedup stack. Three parquet relations under `path`:
    *
    *  - `sigs`:    (id, sig array<long>[numPerm]) — one row per
    *               token-ful document;
    *  - `buckets`: (id, band, bucket) — the exploded LSH band buckets,
    *               with the same `maxBucketSize` skew guard
    *               [[minHashNearDups]] applies (a degenerate-boilerplate
    *               bucket is dropped at WRITE time, once, instead of on
    *               every batch);
    *  - `meta`:    one row of the construction parameters, validated on
    *               read so a batch can never silently join signatures
    *               built with different shingle/permutation settings.
    *
    * Layout is the 100 TB serving shape: `buckets` is PARTITIONED BY
    * `band` and range-clustered by `bucket`, `sigs` range-clustered by
    * `id`, and the [[Store]] manifest records each file's key range —
    * so a probe touching K `(band, bucket)` keys reads O(K) bucket
    * files (Catalyst DPP prunes band partitions through the semi-join;
    * [[BucketStore.probe]] prunes files inside them), and the candidate
    * sig fetch reads only the files whose id range holds a candidate.
    * Per-batch probe BYTES are ∝ batch, never corpus. Both mutable
    * relations live under the [[Store]] generation/manifest layout
    * (append fencing, atomic maintenance swaps); `meta` is write-once
    * plain parquet. Overwrites `path`.
    *
    * `multiProbe` stores LEAVE-ONE-OUT sub-buckets
    * ([[bandBucketsMultiProbe]]) instead of full-band buckets: recall
    * bought with probe keys, the SIGNATURE relation (the heavy 100 TB
    * asset — numPerm longs per document) unchanged, while the bucket
    * relation grows ×rowsPerBand. Every query and append against the
    * table reads the choice from `meta`, so the two sides can never
    * band differently. (Unlike the Hamming table, minhash multi-probe
    * cannot be query-side-only: a full-band bucket hash has no
    * enumerable neighbours, so the omission-tagged sub-keys must exist
    * on BOTH sides of the join — Lv et al. 2007, adapted.) */
  def writeSignatureTable(
      df: DataFrame, idCol: String, textCol: String, path: String,
      shingleLen: Int = 3, numPerm: Int = 64, bands: Int = 16,
      maxBucketSize: Int = 1000, multiProbe: Boolean = false): Unit = {
    val rowsPerBand = numPerm / bands
    require(bands * rowsPerBand == numPerm, "bands must divide numPerm")
    require(!multiProbe || rowsPerBand >= 2,
      "multiProbe needs rowsPerBand >= 2: omitting the only row of a " +
        "1-row band would bucket every document together")
    val p = SigParams(shingleLen, numPerm, bands, maxBucketSize, multiProbe)
    val sigs = p.sigs(df, idCol, textCol)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    SigIds.create(sigs, path)
    p.buckets.create(BucketStore.capBuckets(p.banded(sigs), maxBucketSize), path)
    sigs.unpersist(blocking = false)
    BucketStore.writeMeta(df.sparkSession, path,
      lit(shingleLen).as("shingle_len"), lit(numPerm).as("num_perm"),
      lit(bands).as("bands"), lit(maxBucketSize).as("max_bucket_size"),
      lit(multiProbe).as("multi_probe"))
  }

  /** Monotone partition index over the composite (band, hash-bucket)
    * order for a batch append's few-file range shaping: global
    * fraction = (band + bucket-as-unsigned-fraction) / bandCount,
    * zero sampling (the bucket is xxhash64-uniform, the band domain is
    * known) — where `repartitionByRange` would EXECUTE the batch plan
    * (occupancy window + store probe join included) a second time just
    * to sample it. Long arithmetic exact: g ≤ bands·2³², slots small. */
  private def bandBucketSlot(
      band: Column, bucket: Column, bandCount: Int, slots: Int): Column = {
    val g = band.cast("long") * lit(4294967296L) +
      Store.signedTopFraction(bucket)
    floor(g * lit(slots.toLong) / (lit(bandCount.toDouble) * 4294967296.0))
      .cast("int")
  }

  /** PRODUCTION incremental near-dedup: dedup an incoming batch against
    * a corpus whose signature table was persisted once by
    * [[writeSignatureTable]] — per-batch cost is proportional to the
    * BATCH, never the corpus. Same survivor semantics as the
    * corpus-recomputing reference form ([[nearDedupIncremental]]): the
    * corpus never loses a document, an incoming near-duplicate of any
    * corpus document (transitively, through any batch/corpus chain)
    * is rejected, and batch-only clusters keep their smallest id (the
    * [[SigTableHandle]] form takes a `pick`).
    *
    * Why the restricted edge set suffices: the rejected set depends only
    * on "does this batch doc's component contain a corpus doc", and the
    * first corpus node on any batch→corpus path is reached via a
    * batch–corpus edge, which this form materializes; paths continuing
    * through corpus–corpus edges only connect components that are each
    * already rejected. Batch-only components see the identical edge set.
    * (The one semantic delta from the reference form: bucket-size
    * capping is corpus-at-write + batch-at-read, not joint — a bucket
    * that only crosses `maxBucketSize` when the two sides are combined
    * is not dropped here.)
    *
    * Scale shape: signatures are computed for the batch only; the
    * stored bucket relation is FILE-PRUNED to the batch's touched
    * (band, bucket) keys before the scan is planned ([[BucketStore.probe]]
    * — bytes read ∝ batch on the partitioned/clustered layout) and
    * reduced with a broadcast semi-join — no corpus-wide shuffle, no
    * corpus signature recompute; corpus signatures are fetched only
    * from the id-range files holding matched candidate ids. Label
    * propagation runs over the BATCH-BATCH edge slice only: corpus
    * flags reduce to one semi-join (no corpus-corpus edges exist, so
    * "my component touches the corpus" is a per-member edge fact, not
    * a propagation result) — the usually corpus-heavy edge majority
    * never enters CC.
    *
    * Caller contract: id spaces disjoint (as in the reference form) and
    * the batch small enough to broadcast its bucket keys.
    *
    * Two paths, one answer. A batch with integral or string ids whose
    * band keys (docs × band ids), and the stored bucket rows those keys
    * touch, each number at most [[BucketStore.MaxProbeKeys]] runs its
    * batch-sized algebra on the driver (`driverProbe`); any other batch
    * runs the distributed algebra (`distributedProbe`), which is also
    * the reference IncrementalProbeSpec holds the driver path to. Each
    * driver collect stops holding rows once it passes the bound
    * ([[BucketStore.collectAtMost]]), so the driver keeps at most
    * bound + 1 rows of each.
    *
    * EAGER: this call RUNS Spark jobs before returning, and the store
    * view is frozen at the call, not at the first action on the result.
    * On the driver path the jobs are three collects, one job each (none
    * for a local batch) plus a broadcast job for each store fetch — the
    * batch's (id, sig, band keys), the stored (id, band, bucket) rows
    * of every touched key (skipped when there is none), and the (id,
    * sig) rows of the candidate corpus ids (skipped when there is
    * none) — and the returned frame is `incoming` minus a literal
    * rejected-id set (with a `pick`, the canonical pick over the
    * batch-only clusters as a local relation): it reads no store
    * relation. On the distributed
    * path they are the touched-key collect (none when the driver path
    * handed over the keys it already holds) and the candidate-id
    * collect, one [[BucketStore.collectAtMost]] job each, a checkpoint
    * of the candidate edges materialized by the batch-edge count, and
    * label propagation when batch edges exist; the returned frame reads
    * the checkpoint. Same eagerness for [[hammingNearDupsIncremental]]
    * and the appendTo* family.
    *
    * @return the surviving rows of `incoming` (original columns) */
  def nearDedupIncremental(
      spark: org.apache.spark.sql.SparkSession, sigTablePath: String,
      incoming: DataFrame, idCol: String, textCol: String,
      threshold: Double): DataFrame =
    nearDedupIncremental(openSignatureTable(spark, sigTablePath),
      incoming, idCol, textCol, threshold, Nil)

  /** A RESOLVED handle on a persisted signature table — the serving-
    * side open-once contract (the IVF-PQ handle's rationale,
    * Similarity.IvfPqIndexHandle): meta and both relations resolve
    * their manifests exactly once, so a serving loop probing many
    * batches pays per-batch work only. The handle is a SNAPSHOT of the
    * generation it resolved: appends/rewrites committed later are not
    * visible until re-open (the Store retention contract gives an open
    * handle one maintenance cycle). The batch-cadence ingest chains
    * keep re-resolving per batch by design — each append must see the
    * previous batch's rows. */
  final case class SigTableHandle(
      meta: org.apache.spark.sql.Row,
      sigsSnap: Store.Snap, bucketsSnap: Store.Snap) {
    def sigs: DataFrame = sigsSnap.df
    def buckets: DataFrame = bucketsSnap.df
  }

  /** Open a persisted signature table once for repeated probes. */
  def openSignatureTable(
      spark: org.apache.spark.sql.SparkSession,
      path: String): SigTableHandle = {
    val meta = BucketStore.readMeta(spark, path)
    SigTableHandle(meta, SigIds.snapshot(spark, path),
      SigParams(meta).buckets.snapshot(spark, path))
  }

  /** The probe-side file-skipping arithmetic for one batch against an
    * open signature table, WITHOUT running the dedup: derives the
    * batch's touched (band, bucket) keys exactly as
    * [[nearDedupIncremental]] does (minus the bucket-size cap, which
    * can only SHRINK the touched set) and returns
    * [[BucketStore.footprint]]'s `(keptFiles, keptBytes, totalFiles,
    * totalBytes)` of the bucket-relation scan after the probe's
    * file-prune decision. ScaleShapeSpec asserts the kept side stays
    * flat as the corpus grows 8× with the batch fixed. */
  private[graft] def probeFileFootprint(
      h: SigTableHandle, incoming: DataFrame,
      idCol: String, textCol: String): (Long, Long, Long, Long) = {
    val p = SigParams(h.meta)
    BucketStore.footprint(h.bucketsSnap, BucketStore.BandBucket,
      p.banded(p.sigs(incoming, idCol, textCol))
        .select(col("band"), col("bucket")).distinct())
  }

  /** One probe, and the SAME batch's append built from what it
    * computed: `append(path, survivors)` appends the (materialized)
    * survivors' signatures to the table at `path` without re-shingling
    * them. On the driver path it writes the survivors' collected rows
    * and reads the stored occupancy the probe fetched; on the
    * distributed path it is [[BucketStore.appendBanded]] over a
    * semi-join of the batch signatures, whose occupancy count reuses the
    * probe's collected touched keys. `onDriver`: the survivor plan reads
    * only `incoming` and driver-side values, so the append needs no
    * checkpoint before it. `release` frees what the probe cached. */
  private final case class IncrementalProbe(
      survivors: DataFrame, onDriver: Boolean,
      append: (String, DataFrame) => Unit, release: () => Unit)

  /** [[nearDedupIncremental]] against an already-open [[SigTableHandle]]. */
  def nearDedupIncremental(
      h: SigTableHandle,
      incoming: DataFrame, idCol: String, textCol: String,
      threshold: Double, pick: Seq[Column]): DataFrame =
    nearDedupIncremental(h, incoming, idCol, textCol, threshold, pick,
      BucketStore.MaxProbeKeys)

  /** [[nearDedupIncremental]] with the driver path's bound: a batch
    * whose band keys, or the stored rows they touch, number more than
    * `driverBound` takes the distributed algebra, and 0 forces it (the
    * reference the parity spec compares the driver path against). */
  private[graft] def nearDedupIncremental(
      h: SigTableHandle,
      incoming: DataFrame, idCol: String, textCol: String,
      threshold: Double, pick: Seq[Column], driverBound: Int): DataFrame = {
    val r = nearDedupIncrementalCore(h, incoming, idCol, textCol,
      threshold, pick, driverBound)
    r.release()
    r.survivors
  }

  /** One probe: on the driver when the batch and the stored rows it
    * touches fit `driverBound` ([[driverProbe]]), the distributed
    * algebra otherwise. The batch's (id, sig, band keys) are collected
    * by [[BucketStore.collectAtMost]], at most `driverBound / bandCount`
    * docs, and no fallback computes a signature twice: when `incoming`'s
    * plan bounds its rows (a local relation), a batch above that is
    * sent to the distributed path before any signature is computed;
    * otherwise the signatures are persisted by the collect's own job
    * and the distributed path reads them when the collect is over the
    * bound. A batch that fits but whose stored rows do not hands its
    * collected signatures to the distributed path as a local relation,
    * and its collected touched keys, so that path collects no key. */
  private def nearDedupIncrementalCore(
      h: SigTableHandle,
      incoming: DataFrame, idCol: String, textCol: String,
      threshold: Double, pick: Seq[Column],
      driverBound: Int): IncrementalProbe = {
    val p = SigParams(h.meta)
    val batch = p.sigs(incoming, idCol, textCol)
    def distributed(sigs: DataFrame, touched: Option[BucketStore.ProbeKeys]) =
      distributedProbe(h, p, sigs, touched, incoming, idCol, threshold, pick)
    val maxDocs = driverBound / p.bandCount
    val order = driverIdOrder(incoming.schema(idCol).dataType)
    val maxRows = incoming.queryExecution.optimizedPlan.maxRows
    if (driverBound <= 0 || order.isEmpty || maxRows.exists(_ > maxDocs))
      return distributed(batch, None)
    val source =
      if (maxRows.isDefined) batch
      else batch.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val frame = source.select(col("id"), col("sig"), p.bandKeys.as("keys"))
    BucketStore.collectAtMost(frame, maxDocs).fold(distributed(source, None)) { docs =>
      if (maxRows.isEmpty) source.unpersist(blocking = false)
      driverProbe(h, p, frame, docs, order.get, incoming, idCol, threshold, pick,
        driverBound).fold(k => distributed(localSigs(frame, docs), Some(k)), identity)
    }
  }

  /** Spark's ascending order on an id type whose collected values
    * compare and hash by value: integral types and binary-collated
    * strings (UTF-8 byte order). None for any other id type, which
    * takes the distributed path. */
  private def driverIdOrder(t: DataType): Option[Ordering[Any]] = t match {
    case ByteType | ShortType | IntegerType | LongType =>
      Some(Ordering.by[Any, Long](_.asInstanceOf[Number].longValue))
    case StringType =>
      Some(Ordering.by[Any, UTF8String](v => UTF8String.fromString(v.asInstanceOf[String])))
    case _ => None
  }

  /** The (id, sig) rows of collected `frame` rows as a local relation. */
  private def localSigs(frame: DataFrame, rows: Seq[Row]): DataFrame =
    frame.sparkSession.createDataFrame(
      java.util.Arrays.asList(rows.map(r => Row(r.get(0), r.get(1))): _*),
      StructType(Seq(frame.schema("id"), frame.schema("sig"))))

  /** The probe with its batch-sized algebra on the driver, over the
    * batch's collected (id, sig, band keys) `docs` (rows of `frame`).
    * Two more collects ([[BucketStore.collectAtMost]] of a
    * [[BucketStore.probeCollected]] fetch: file prune + semi-join), no
    * shuffle, no checkpoint:
    *  1. the stored (id, band, bucket) rows of every key the batch
    *     touches — the pairs read only the keys that pass the
    *     batch-side bucket cap, the append's occupancy all of them (an
    *     over-cap key adds at most `max_bucket_size` stored rows, by the
    *     write invariant);
    *  2. the (id, sig) rows of the candidate corpus ids.
    * The batch-side bucket cap, the batch×batch and batch×corpus pairs,
    * the Jaccard estimate (the `sigEqCount` kernel) and union-find over
    * the batch edges run here, with the distributed algebra's rules
    * (null ids make no pair and are kept; a component is labelled by
    * its min id in `order`). Driver memory is linear in the batch's
    * keys and the stored rows: pairs are walked, not gathered. When
    * either fetch holds more than `bound` rows (the candidate ids are
    * at most the stored rows), the batch's touched keys instead, for
    * the distributed path. The returned append writes the survivors'
    * collected rows ([[appendCollected]]); with a `pick` and batch-only
    * clusters it first collects the picked ids, one bounded collect. */
  private def driverProbe(
      h: SigTableHandle, p: SigParams, frame: DataFrame, docs: Array[Row],
      order: Ordering[Any], incoming: DataFrame, idCol: String,
      threshold: Double, pick: Seq[Column],
      bound: Int): Either[BucketStore.ProbeKeys, IncrementalProbe] = {
    val spark = incoming.sparkSession
    type Key = (Int, Long)
    def sigOf(r: Row): ArrayData = ArrayData.toArrayData(r.getSeq[Long](1).toArray)
    // non-null batch ids → dense index; rows per key count every row
    // (the capBuckets window), members only the rows that can pair
    val index = mutable.HashMap[Any, Int]()
    val ids = ArrayBuffer[Any]()
    val sigs = ArrayBuffer[ArrayBuffer[ArrayData]]()
    val rowsPer = mutable.HashMap[Key, Int]().withDefaultValue(0)
    val members = mutable.HashMap[Key, ArrayBuffer[Int]]()
    docs.foreach { r =>
      val keys = r.getSeq[Row](2).map(k => (k.getInt(0), k.getLong(1)))
      keys.foreach(k => rowsPer(k) += 1)
      if (!r.isNullAt(0)) {
        val i = index.getOrElseUpdate(r.get(0), {
          ids += r.get(0); sigs += ArrayBuffer(); ids.length - 1 })
        sigs(i) += sigOf(r)
        keys.foreach(k => members.getOrElseUpdate(k, ArrayBuffer()) += i)
      }
    }
    val capped = members.filter { case (k, _) => rowsPer(k) <= p.maxBucketSize }
    val keySchema = frame.schema("keys").dataType.asInstanceOf[ArrayType]
      .elementType.asInstanceOf[StructType]
    def keyRows(ks: Iterable[Key]) =
      BucketStore.ProbeKeys(ks.map { case (b, k) => Row(b, k) }.toArray, keySchema)
    // one fetch of every touched key: only the capped keys pair, and
    // the append's occupancy counts every stored row, null ids included
    val touched = keyRows(rowsPer.keys)
    val fetched =
      if (rowsPer.isEmpty) Some(Array.empty[Row])
      else BucketStore.collectAtMost(BucketStore.probeCollected(spark, h.bucketsSnap,
          BucketStore.BandBucket, touched)
        .select(col("id"), col("band"), col("bucket")), bound)
    if (fetched.isEmpty) return Left(touched)
    val corpusIn = mutable.HashMap[Key, ArrayBuffer[Any]]()
    val occupancy = mutable.HashMap[Key, Long]().withDefaultValue(0L)
    fetched.get.foreach { r =>
      val k = (r.getInt(1), r.getLong(2))
      occupancy(k) += 1
      if (!r.isNullAt(0) && capped.contains(k))
        corpusIn.getOrElseUpdate(k, ArrayBuffer()) += r.get(0)
    }
    val wanted = corpusIn.valuesIterator.flatten.toSet
    val corpusRows =
      if (wanted.isEmpty) Some(Array.empty[Row])
      else BucketStore.collectAtMost(BucketStore.probeCollected(spark, h.sigsSnap, SigIdKey,
          BucketStore.ProbeKeys(wanted.toArray.map(Row(_)),
            StructType(Seq(h.bucketsSnap.df.schema("id")))))
        .select(col("id"), col("sig")), bound)
    if (corpusRows.isEmpty) return Left(touched)
    val corpusSigs: Map[Any, Seq[ArrayData]] =
      corpusRows.get.groupBy(_.get(0)).map { case (id, rs) => id -> rs.toSeq.map(sigOf) }

    def near(a: collection.Seq[ArrayData], b: collection.Seq[ArrayData]): Boolean =
      a.exists(x => b.exists(y => graft.plans.VectorKernels.eqCount(x, y)
        .toDouble / p.numPerm.toDouble >= threshold))
    // batch docs near a corpus doc sharing a capped key: each row's
    // candidates are gathered once, so a pair sharing several keys is
    // verified once
    val direct = new Array[Boolean](ids.length)
    val candidates = mutable.HashSet[Any]()
    docs.foreach { r =>
      if (!r.isNullAt(0) && !direct(index(r.get(0)))) {
        val i = index(r.get(0))
        candidates.clear()
        r.getSeq[Row](2).foreach(k =>
          corpusIn.get((k.getInt(0), k.getLong(1))).foreach(candidates ++= _))
        direct(i) = candidates.exists(c => corpusSigs.get(c).exists(near(sigs(i), _)))
      }
    }

    // union-find over the verified batch×batch edges; a pair already in
    // one component adds nothing, so it is not verified
    val parent = Array.tabulate(ids.length)(identity)
    def root(i: Int): Int = {
      var r = i
      while (parent(r) != r) r = parent(r)
      var j = i
      while (parent(j) != r) { val n = parent(j); parent(j) = r; j = n }
      r
    }
    val inEdge = new Array[Boolean](ids.length)
    capped.valuesIterator.foreach { ms =>
      for (x <- ms.indices; y <- x + 1 until ms.length) {
        val (a, b) = (ms(x), ms(y))
        if (root(a) != root(b) && near(sigs(a), sigs(b))) {
          inEdge(a) = true; inEdge(b) = true
          parent(root(a)) = root(b)
        }
      }
    }
    val comps = ids.indices.filter(inEdge).groupBy(root)
    val rejectedRoots = ids.indices.filter(i => direct(i) && inEdge(i)).map(root).toSet
    val rejected: Set[Any] =
      (ids.indices.filter(direct) ++ rejectedRoots.flatMap(comps)).map(ids).toSet
    val batchOnly = comps.collect { case (r, ms) if !rejectedRoots(r) =>
      val label = ms.map(ids).min(order)
      ms.map(i => Row(ids(i), label))
    }.flatten.toSeq

    def without(drop: Set[Any]): DataFrame =
      if (drop.isEmpty) incoming
      else incoming.filter(col(idCol).isNull || !col(idCol).isin(drop.toSeq: _*))
    // the survivors' collected rows, for the append
    def append(keep: Any => Boolean)(path: String): Unit =
      appendCollected(spark, path, h, p, frame.schema,
        docs.filter(r => !r.isNullAt(0) && keep(r.get(0))).toSeq, order, occupancy)
    val (survivors, appendTo) =
      if (pick.isEmpty) {
        val dropped = rejected ++ batchOnly.collect { case Row(id, l) if id != l => id }
        (without(dropped), append(id => !dropped(id)) _)
      } else if (batchOnly.isEmpty) (without(rejected), append(id => !rejected(id)) _)
      else {
        val idType = incoming.schema(idCol).dataType
        val compsDf = spark.createDataFrame(java.util.Arrays.asList(batchOnly: _*),
          StructType(Seq(StructField("id", idType), StructField("component", idType))))
        val kept = keepCanonical(without(rejected), idCol, compsDf, pick)
        val members = batchOnly.map(_.get(0)).toSet
        // keepCanonical keeps one row per cluster: the collect is bounded
        // by the cluster count
        (kept, (path: String) => {
          val picked = BucketStore.collectAtMost(kept.select(col(idCol))
              .filter(col(idCol).isin(members.toSeq: _*)), batchOnly.map(_.get(1)).distinct.size)
            .get.map(_.get(0)).toSet
          append(id => !rejected(id) && (!members(id) || picked(id)))(path)
        })
      }
    Right(IncrementalProbe(survivors, onDriver = true, (path, _) => appendTo(path), () => ()))
  }

  /** The driver path's append of the survivors' collected (id, sig,
    * band keys) `rows` (of `schema`): `sigs` in the ntile-by-id files
    * its shape gives them, `buckets` admitted against the `occupancy`
    * the probe read from the handle's snapshot
    * ([[BucketStore.appendBandedCollected]], which recounts it when the
    * relation has committed since). One Spark job each, no exchange. */
  private def appendCollected(spark: org.apache.spark.sql.SparkSession, path: String,
      h: SigTableHandle, p: SigParams, schema: StructType, rows: Seq[Row],
      order: Ordering[Any], occupancy: collection.Map[(Int, Long), Long]): Unit = {
    BucketStore.appendCollectedByKey(spark, path, SigIds,
      StructType(Seq(schema("id"), schema("sig"))), rows.map(r => Row(r.get(0), r.get(1))),
      order)
    val keys = schema("keys").dataType.asInstanceOf[ArrayType].elementType.asInstanceOf[StructType]
    BucketStore.appendBandedCollected(spark, path, p.buckets,
      StructType(schema("id") +: keys.fields),
      rows.flatMap(r => r.getSeq[Row](2).map(k => Row(r.get(0), k.get(0), k.get(1)))),
      order, p.maxBucketSize, h.bucketsSnap, occupancy)
  }

  /** The probe as a distributed plan over the batch's (id, sig) rows
    * `batchSigs` (persisted here unless they are already): for batches
    * above the driver bound, and the reference the driver path is
    * checked against. `touched` is the batch's (band, bucket) keys
    * when the driver path already collected them. */
  private def distributedProbe(
      h: SigTableHandle, p: SigParams, batchSigs: DataFrame,
      touched: Option[BucketStore.ProbeKeys], incoming: DataFrame, idCol: String,
      threshold: Double, pick: Seq[Column]): IncrementalProbe = {
    val batch =
      if (batchSigs.storageLevel.isValid) batchSigs
      else batchSigs.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val batchBucketsRaw = p.banded(batch)
    val batchBuckets = BucketStore.capBuckets(batchBucketsRaw, p.maxBucketSize)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

    // corpus rows in buckets the batch touches: file-pruned scan +
    // broadcast semi-join — the corpus side is never shuffled, and with
    // the band-partitioned range-clustered layout the scan READS only
    // the files whose key range can hold a touched bucket (DPP prunes
    // the band partitions; the key prune drops files inside them).
    // Keys are collected from the UNCAPPED bucket set: a superset of
    // the capped probe keys (pruning stays conservative-correct) AND of
    // the append's survivor keys, so the fused ingest path reuses ONE
    // collect for every phase — an over-cap batch bucket must still
    // see its true stored occupancy at append time. The driver path's
    // keys are that same uncapped set.
    val (corpusMatch, touchedKeys) = touched match {
      case Some(k) => (BucketStore.probeCollected(incoming.sparkSession,
        h.bucketsSnap, BucketStore.BandBucket, k), touched)
      case None => BucketStore.probe(h.bucketsSnap, BucketStore.BandBucket,
        batchBuckets, Some(batchBucketsRaw))
    }

    // candidates: batch×batch (self-join) ∪ batch×corpus — id spaces
    // are disjoint, so the two relations cannot share a pair, and they
    // are kept SEPARATE through verification: batch-corpus edges never
    // enter label propagation (see below)
    val a = batchBuckets.select(col("band"), col("bucket"), col("id").as("id_a"))
    val b = batchBuckets.select(col("band"), col("bucket"), col("id").as("id_b"))
    val batchPairs = a.join(b, Seq("band", "bucket"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"))
      .dropDuplicates("id_a", "id_b")
    val crossPairs = batchBuckets
      .select(col("band"), col("bucket"), col("id").as("id_a"))
      .join(corpusMatch.select(col("band"), col("bucket"), col("id").as("id_b")),
        Seq("band", "bucket"))
      .select(col("id_a"), col("id_b"))
      .dropDuplicates("id_a", "id_b")

    // estimate Jaccard from signatures: batch sigs are cached; corpus
    // sigs are fetched for the (candidate-sized) matched id set only
    def estimate(pairs: DataFrame, sigsB: DataFrame): DataFrame = pairs
      .join(batch.select(col("id").as("id_a"), col("sig").as("sig_a")), "id_a")
      .join(sigsB, "id_b")
      .withColumn("est_jaccard",
        graft.plans.native.sigEqCount(col("sig_a"), col("sig_b"))
          .cast("double") / lit(p.numPerm.toDouble))
      .filter(col("est_jaccard") >= threshold)
      .select(col("id_a"), col("id_b"))
    // the candidate corpus-id set drives the sig relation's driver-side
    // file prune AND its exact semi-join: collected once, it re-enters
    // the plan as a local relation
    val corpusSigs = BucketStore.probe(h.sigsSnap, SigIdKey,
      crossPairs.select(col("id_b").as("id")))._1
    val edgesBatch = estimate(batchPairs,
      batch.select(col("id").as("id_b"), col("sig").as("sig_b")))
    // batch docs with a confirmed corpus near-dup: the corpus flag
    // needs NO label propagation — the graph has no corpus-corpus
    // edges, so transitivity through a corpus node reduces to "some
    // member of my batch component touches the corpus directly".
    // Keeping the (usually corpus-heavy) edge majority out of CC is
    // the difference between propagation rounds over the whole
    // candidate graph and CC over the batch-batch slice only.
    // The direct-rejection ids and the batch-batch edge slice (both
    // tiny: candidate-scale) materialize in ONE tagged checkpoint —
    // they are independent, so splitting them over two eager actions
    // paid a whole extra job per probe; the batch caches can still be
    // freed before the survivor query runs. The checkpoint is LAZY and
    // materialized by the batch-edge count below, which doubles as the
    // CC-skip probe: eager + a separate isEmpty was two driver actions
    // where one full-scan count does both (r16, the
    // Dedup.connectedComponents lazy-checkpoint rationale).
    val idType = incoming.schema(idCol).dataType
    val fusedCand = edgesBatch
      .select(lit(0).as("__t"), col("id_a"), col("id_b"))
      .unionByName(estimate(crossPairs,
          corpusSigs.select(col("id").as("id_b"), col("sig").as("sig_b")))
        .select(col("id_a").as("id")).distinct()
        .select(lit(1).as("__t"), col("id").as("id_a"),
          lit(null).cast(idType).as("id_b")))
      .localCheckpoint(false)
    val directRejected = fusedCand.filter(col("__t") === 1)
      .select(col("id_a").as("id"))
    // the batch-batch edge slice: in the common ingest shape — batches
    // mostly duplicate the CORPUS, not themselves — it is empty and
    // label propagation is skipped entirely (CC over zero edges is
    // still several fixed-cost jobs). The count's full scan (filter
    // prunes no partitions) materializes the whole lazy checkpoint in
    // the same job — isEmpty's limit-1 would not.
    val edgesB = fusedCand.filter(col("__t") === 0)
      .select(col("id_a"), col("id_b"))
    val nBatchEdges = fusedCand.filter(col("__t") === 0).count()
    val comps =
      if (nBatchEdges == 0L)
        edgesB.select(col("id_a").as("id"), col("id_b").as("component")).limit(0)
      else connectedComponents(edgesB, "id_a", "id_b")
    // a batch component with ≥1 directly-rejected member is rejected
    // wholesale (the corpus-side canonical always wins); the remaining
    // batch-only components keep one survivor by `pick`
    val rejComps = comps.join(directRejected, Seq("id"), "left_semi")
      .select(col("component")).distinct()
    val rejectedIds = comps.join(rejComps, Seq("component"), "left_semi")
      .select(col("id"))
      .union(directRejected)
      .distinct()
      .select(col("id").as(idCol))
    val batchOnlyComps = comps.join(rejComps, Seq("component"), "left_anti")
      .select(col("id"), col("component"))
    val ordering = if (pick.nonEmpty) pick else Seq(col(idCol).asc)
    IncrementalProbe(
      keepCanonical(incoming.join(rejectedIds, Seq(idCol), "left_anti"),
        idCol, batchOnlyComps, ordering),
      onDriver = false,
      (path, s) => appendSigsAndBuckets(incoming.sparkSession, path, p,
        batch.join(s.select(col(idCol).as("id")), Seq("id"), "left_semi"),
        h.bucketsSnap, touchedKeys),
      () => {
        batch.unpersist(blocking = false)
        batchBuckets.unpersist(blocking = false)
      })
  }

  /** Append a batch's MinHash signatures to a persisted signature table
    * — the maintenance half of the incremental-ingest loop: after a
    * batch's survivors are admitted to the corpus, appending their
    * signatures makes every LATER batch dedup against them too.
    * Signatures are computed with the TABLE'S OWN construction
    * parameters (read from `meta`), so a table can never hold mixed
    * shingle/permutation settings.
    *
    * The write-time invariant "no stored bucket exceeds
    * `max_bucket_size`" is maintained incrementally by headroom-capped
    * admission ([[BucketStore.appendBanded]]): batch rows enter a
    * bucket only up to its remaining headroom, smallest id first.
    *
    * Caller contract: ids disjoint from everything already in the
    * table (a re-appended id would double its rows in both relations),
    * and `batch` must not itself read from `path` (materialize first —
    * [[nearDedupIngest]] does). Both relation appends run under the
    * [[Store.append]] fence: overlapping a retire/compact rewrite
    * fails loudly and the batch must replay (a fence failure between
    * the two appends can leave sig rows without bucket rows — harmless
    * for matching, since candidates only come from buckets, and the
    * replayed batch restores them). */
  def appendToSignatureTable(
      spark: org.apache.spark.sql.SparkSession, path: String,
      batch: DataFrame, idCol: String, textCol: String): Unit = {
    val p = SigParams(BucketStore.readMeta(spark, path))
    val sigs = p.sigs(batch, idCol, textCol)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    appendSigsAndBuckets(spark, path, p, sigs,
      p.buckets.snapshot(spark, path), touched = None)
    sigs.unpersist(blocking = false)
  }

  /** The shared distributed write half of a signature-table append:
    * `sigs` must be the batch's (id, sig) rows computed with the table's
    * parameters `p`. `bktSnap` is the bucket-relation snapshot occupancy
    * is counted against, and `touched` optionally carries a probe's
    * already-collected key superset so no new driver action runs here
    * (the fused ingest path); both appends still commit under the
    * [[Store.append]] fence, which re-lists and re-validates. */
  private def appendSigsAndBuckets(
      spark: org.apache.spark.sql.SparkSession, path: String,
      p: SigParams, sigs: DataFrame,
      bktSnap: Store.Snap, touched: Option[BucketStore.ProbeKeys]): Unit = {
    SigIds.append(spark, path)(sigs)
    BucketStore.appendBanded(spark, path, p.buckets, p.banded(sigs),
      p.maxBucketSize, bktSnap, touched)
  }

  /** The full production ingest step: dedup `incoming` against the
    * signature table ([[nearDedupIncremental]]), then append the
    * SURVIVORS' signatures so the next batch also dedups against them —
    * chained batches see corpus ∪ all earlier survivors, which is the
    * transitive-ingest contract a training pipeline needs (a document
    * admitted in batch N must reject its near-copy arriving in batch
    * N+1). Returns the survivors.
    *
    * EAGER, with the probe's two paths ([[nearDedupIncremental]]). On
    * the driver path the jobs are the probe's collects plus one write
    * job per relation, with no exchange: the appended rows of both
    * relations are computed on the driver from the rows the probe
    * collected — the survivors' (id, sig, band keys) and the stored
    * occupancy of every touched key — with
    * [[BucketStore.appendBanded]]'s headroom admission, and placed into
    * the files each relation's append shape would give them
    * ([[BucketStore.appendCollectedByKey]],
    * [[BucketStore.appendBandedCollected]]). With a `pick` and
    * batch-only clusters one more bounded collect learns the picked
    * ids. The survivors are `incoming` minus a literal id set, so
    * nothing is persisted or checkpointed and the returned frame reads
    * no store relation. If the bucket relation committed between the
    * probe and the append, its occupancy is recounted against a fresh
    * snapshot by [[BucketStore.appendBanded]]. On the distributed path
    * the survivors are materialized (localCheckpoint) BEFORE the
    * append, so the returned frame is stable however late it is
    * consumed, and the append is [[BucketStore.appendBanded]] over a
    * semi-join of the batch signatures: its occupancy count reuses the
    * touched keys the probe collected (the driver path's, when it
    * handed the batch over), so it collects none of its own unless
    * they were over the bound. Per-batch cost stays ∝ batch. */
  def nearDedupIngest(
      spark: org.apache.spark.sql.SparkSession, sigTablePath: String,
      incoming: DataFrame, idCol: String, textCol: String,
      threshold: Double, pick: Seq[Column] = Nil): DataFrame =
    nearDedupIngest(spark, sigTablePath, incoming, idCol, textCol,
      threshold, pick, BucketStore.MaxProbeKeys)

  /** [[nearDedupIngest]] with the driver path's bound (0 forces the
    * distributed algebra). */
  private[graft] def nearDedupIngest(
      spark: org.apache.spark.sql.SparkSession, sigTablePath: String,
      incoming: DataFrame, idCol: String, textCol: String,
      threshold: Double, pick: Seq[Column], driverBound: Int): DataFrame = {
    // one handle open, shared across BOTH phases of the batch: the
    // append reuses the probe's meta read, bucket-relation snapshot,
    // and what it collected (the driver path's survivor rows and
    // occupancy, the distributed path's touched keys) and batch
    // signatures, never re-shingled. The fence is NOT weakened:
    // [[Store.append]] re-lists and re-validates at commit time, and
    // the occupancy read at the probe is recounted when the bucket
    // relation committed between the phases of one batch.
    val h = openSignatureTable(spark, sigTablePath)
    val r = nearDedupIncrementalCore(h, incoming, idCol, textCol,
      threshold, pick, driverBound)
    val survivors =
      if (r.onDriver) r.survivors else r.survivors.localCheckpoint(true)
    r.append(sigTablePath, survivors)
    r.release()
    survivors
  }

  /** CONTINUOUS-ingest form of [[nearDedupIngest]]: a Structured
    * Streaming file source watches `streamDir` for document batches and
    * every micro-batch is deduped against the signature table, its
    * survivors appended to both the table and the `outPath` parquet —
    * the standing dedup-at-the-door query a training pipeline runs on
    * its landing zone. foreachBatch is the right harness (not a
    * stateful streaming operator): the dedup state IS the persisted
    * signature table, shared with the batch API, already
    * restart-durable, and unbounded state a watermark could never
    * bound — dropDuplicatesWithinWatermark dedups a FEED against
    * itself in event-time; this dedups each batch against an
    * EVER-GROWING CORPUS.
    *
    * `maxFilesPerTrigger = 1` processes landing files one micro-batch
    * each, in (modification-time, path) order — the arrival order
    * defines which copy of a near-dup pair is "first" and survives,
    * exactly like the batch chain. Runs with Trigger.AvailableNow and
    * blocks until the backlog drains; pass `checkpointDir` to make the
    * processed-file log durable across restarts (exactly-once ingest —
    * the reference's persist/reload contract, csvplus.go:655-705,
    * extended to the stream). */
  def nearDedupIngestStreamed(
      spark: org.apache.spark.sql.SparkSession, sigTablePath: String,
      streamDir: String, idCol: String, textCol: String,
      threshold: Double, outPath: String,
      checkpointDir: Option[String] = None,
      pick: Seq[Column] = Nil): Unit = {
    LandingZone.drain(spark, streamDir, checkpointDir) { batch =>
      nearDedupIngest(spark, sigTablePath, batch, idCol, textCol,
        threshold, pick)
        .write.mode("append").parquet(outPath)
    }
  }

  /** 64-bit SimHash over whitespace tokens: bit i of the hash is the
    * sign of Σ_tokens (±1 depending on bit i of XXH64(token)).
    * Native codegen'd expression (graft.plans.SimHash64). */
  def simhash(text: Column): Column =
    graft.plans.native.simhash64(TextFunctions.tokens(lower(text)))

  /** SimHash near-dup pairs with Hamming distance ≤ maxHamming, found
    * via band collision over `maxHamming + 1` bit-bands: a pair within
    * Hamming ≤ maxHamming differs in at most maxHamming bands, so by
    * pigeonhole it must agree exactly on at least one — candidate
    * generation is complete for the requested radius (the default 3 →
    * the classic 4×16-bit split). maxHamming ≤ 15 keeps every band
    * ≥ 4 bits; beyond that the buckets degenerate and the candidate
    * join stops pruning.
    *
    * `maxBucketSize` is the [[minHashNearDups]] skew guard: a bucket of
    * k docs proposes k² candidates, and a boilerplate spike (identical
    * texts → identical SimHashes → ONE bucket in every band) would make
    * the self-join quadratic in the spike — at that density the PAIR
    * form itself is the wrong tool (k² true pairs; use [[exact]] or the
    * cluster form), so over-cap buckets are dropped from candidate
    * generation. Dropping costs pigeonhole COMPLETENESS only inside the
    * dropped buckets — a documented recall loss, never a silent
    * blow-up. Pass Int.MaxValue for the exact completeness contract. */
  def simhashNearDups(
      df: DataFrame, idCol: String, textCol: String,
      maxHamming: Int = 3, maxBucketSize: Int = 1000): DataFrame =
    hammingNearDups(
      df.select(col(idCol), simhash(col(textCol)).as("__simhash_sig")),
      idCol, "__simhash_sig", maxHamming, maxBucketSize)

  /** The banding engine behind [[simhashNearDups]], over PRECOMPUTED
    * 64-bit signatures from ANY modality — SimHash of text, dHash of
    * images (`Multimodal.withDHash`), or any other 64-bit locality
    * fingerprint. Same contract: complete for Hamming ≤ maxHamming by
    * the pigeonhole band split (modulo the documented `maxBucketSize`
    * skew cap), output (id_a, id_b, hamming). NULL signatures
    * (e.g. undecodable images) are dropped — they have no distance. */
  def hammingNearDups(
      sigs: DataFrame, idCol: String, sigCol: String,
      maxHamming: Int = 3, maxBucketSize: Int = 1000): DataFrame = {
    require(maxHamming >= 0 && maxHamming <= 15,
      s"maxHamming must be in [0, 15], got $maxHamming")
    require(maxBucketSize > 0, "maxBucketSize must be > 0")
    val nBands = maxHamming + 1
    val withSig = sigs
      .select(col(idCol).as("id"), col(sigCol).cast("long").as("sig"))
      .filter(col("sig").isNotNull)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val banded = withSig.select(col("id"), col("sig"),
      explode(hammingBands(col("sig"), nBands)).as("bb"))
      .select(col("id"), col("sig"), col("bb.band").as("band"), col("bb.bucket").as("bucket"))
    val capped = BucketStore.capBuckets(banded, maxBucketSize)
    val a = capped.select(col("band"), col("bucket"), col("id").as("id_a"), col("sig").as("sig_a"))
    val b = capped.select(col("band"), col("bucket"), col("id").as("id_b"), col("sig").as("sig_b"))
    a.join(b, Seq("band", "bucket"))
      .filter(col("id_a") < col("id_b"))
      .dropDuplicates("id_a", "id_b")
      .withColumn("hamming", bit_count(col("sig_a").bitwiseXOR(col("sig_b"))))
      .filter(col("hamming") <= maxHamming)
      .select(col("id_a"), col("id_b"), col("hamming"))
  }

  /** The pigeonhole band split shared by [[hammingNearDups]] and the
    * persisted-table forms: `nBands` contiguous bit ranges of a 64-bit
    * signature as (band, bucket) structs. */
  private def hammingBands(sig: Column, nBands: Int): Column =
    array((0 until nBands).map { b =>
      val lo = b * 64 / nBands
      val width = (b + 1) * 64 / nBands - lo
      val mask = if (width == 64) -1L else (1L << width) - 1L
      struct(lit(b).as("band"),
        shiftrightunsigned(sig, lo).bitwiseAND(lit(mask)).as("bucket"))
    }: _*)

  /** [[bandBucketSlot]] for Hamming buckets, whose domain is the
    * band's BIT WIDTH (not the full long range): the bucket is scaled
    * to a 32-bit fraction of its own 2^width domain per band, then
    * blocked by band — zero-sampling monotone placement over the
    * (band, bucket) order. Hash-like media signatures spread the bit
    * patterns; a skewed corpus only skews FILE SIZES (ranges stay
    * tight and disjoint, which is what probes prune on). */
  private def hammingSlot(
      band: Column, bucket: Column, nBands: Int, slots: Int): Column = {
    val top = (0 until nBands).foldLeft(lit(0L)) { (acc, b) =>
      val lo = b * 64 / nBands
      val width = (b + 1) * 64 / nBands - lo
      // width 64 (nBands = 1) keeps the sign bit: the shared
      // signed-order fraction handles the flip so placement stays
      // monotone in the order the files are sorted in
      val frac =
        if (width == 64) Store.signedTopFraction(bucket)
        else shiftrightunsigned(shiftleft(bucket, 64 - width), 32)
      when(band === b, frac).otherwise(acc)
    }
    val g = band.cast("long") * lit(4294967296L) + top
    floor(g * lit(slots.toLong) / (lit(nBands.toDouble) * 4294967296.0))
      .cast("int")
  }

  /** The Hamming table's one relation: banded (id, sig, band, bucket)
    * rows, placed by [[hammingSlot]] over the table's `nBands` at
    * create, append and rewrite alike. */
  private def hamBuckets(nBands: Int): BucketStore.Relation =
    BucketStore.banded(hammingSlot(_, _, nBands, _))(_ => Some(
      Store.RangeSplits(n =>
        (hammingSlot(col("band"), col("bucket"), nBands, n), n))))

  private def hamBuckets(
      spark: org.apache.spark.sql.SparkSession,
      path: String): BucketStore.Relation =
    hamBuckets(hamBands(BucketStore.readMeta(spark, path)))

  /** The table's band count, from its meta. */
  private def hamBands(meta: org.apache.spark.sql.Row): Int =
    meta.getAs[Int]("max_hamming") + 1

  /** (id, sig, band, bucket): the non-null 64-bit signatures of
    * `sigCol`, one row per (band, bucket) key `bandsFn` gives them. */
  private def hamBanded(df: DataFrame, idCol: String, sigCol: String,
      bandsFn: Column => Column): DataFrame =
    df.select(col(idCol).as("id"), col(sigCol).cast("long").as("sig"))
      .filter(col("sig").isNotNull)
      .select(col("id"), col("sig"), explode(bandsFn(col("sig"))).as("bb"))
      .select(col("id"), col("sig"),
        col("bb.band").as("band"), col("bb.bucket").as("bucket"))

  /** Persist a Hamming signature table for PRECOMPUTED 64-bit
    * signatures (image dHash, audio energy hash, SimHash) — the media
    * analogue of [[writeSignatureTable]]: banded (band, bucket, id,
    * sig) rows (sig denormalized into the bucket relation — it is ONE
    * long, so storing it beside the bucket erases the second join the
    * text table needs) plus a meta relation pinning the construction
    * parameters. Buckets over `maxBucketSize` are dropped at write
    * time (the documented recall loss, never a blow-up). Band-
    * partitioned and bucket-clustered, so incremental probes read
    * O(touched keys) files; the placement is arithmetic, so the plan
    * (window cap included) executes exactly once. */
  def writeHammingTable(
      sigs: DataFrame, idCol: String, sigCol: String, path: String,
      maxHamming: Int = 3, maxBucketSize: Int = 1000): Unit = {
    require(maxHamming >= 0 && maxHamming <= 15,
      s"maxHamming must be in [0, 15], got $maxHamming")
    require(maxBucketSize > 0, "maxBucketSize must be > 0")
    val nBands = maxHamming + 1
    hamBuckets(nBands).create(BucketStore.capBuckets(
      hamBanded(sigs, idCol, sigCol, hammingBands(_, nBands)),
      maxBucketSize), path)
    BucketStore.writeMeta(sigs.sparkSession, path,
      lit(maxHamming).as("max_hamming"),
      lit(maxBucketSize).as("max_bucket_size"))
  }

  /** Incremental media near-dup: an incoming batch of 64-bit
    * signatures against a corpus whose Hamming table was persisted
    * once — per-batch cost ∝ BATCH (the batch's bucket keys broadcast
    * as a semi-join prune on the stored relation), never corpus.
    * Table parameters come from the table's own meta, so a query can
    * never band differently than the store. Output: (id_in,
    * corpus_id, hamming) for every batch signature within `radius`
    * (default: the table's maxHamming) of a stored one —
    * completeness inherits the pigeonhole guarantee modulo the
    * write-time bucket cap. Caller contract: batch ids disjoint from
    * stored ids.
    *
    * `multiProbe` buys SEARCH RADIUS with probes, the store
    * unchanged: each query band probes its exact bucket plus every
    * one-bit-flip neighbour (enumerable for Hamming buckets, unlike
    * minhash values), matching any stored row whose band differs in
    * ≤ 1 bit. If every band differed in ≥ 2 bits the pair would be
    * ≥ 2·nBands apart, so the probes are COMPLETE for radius ≤
    * 2·nBands − 1 — beyond the plain banding's nBands − 1 guarantee —
    * at ~(64/nBands + 1)× the probe keys and the store not a byte
    * bigger. A radius past the plain guarantee without multiProbe
    * fails loudly rather than returning silently-incomplete matches.
    *
    * EAGER ([[nearDedupIncremental]]'s contract): the touched-key
    * collect runs at call time, so the result is not a reusable lazy
    * plan and the store view freezes when the function is called. */
  def hammingNearDupsIncremental(
      spark: org.apache.spark.sql.SparkSession, path: String,
      incoming: DataFrame, idCol: String, sigCol: String,
      multiProbe: Boolean = false, radius: Option[Int] = None): DataFrame =
    hammingNearDupsIncremental(openHammingTable(spark, path),
      incoming, idCol, sigCol, multiProbe, radius)

  /** A RESOLVED handle on a persisted Hamming table — the
    * [[SigTableHandle]] contract for the media-signature store. */
  final case class HamTableHandle(
      meta: org.apache.spark.sql.Row, bucketsSnap: Store.Snap) {
    def buckets: DataFrame = bucketsSnap.df
  }

  /** Open a persisted Hamming table once for repeated probes. */
  def openHammingTable(
      spark: org.apache.spark.sql.SparkSession,
      path: String): HamTableHandle = {
    val meta = BucketStore.readMeta(spark, path)
    HamTableHandle(meta, hamBuckets(hamBands(meta)).snapshot(spark, path))
  }

  /** [[probeFileFootprint]] for a persisted Hamming table: the batch's
    * touched (band, bucket) keys against the stored bucket relation's
    * file layout. */
  private[graft] def hammingProbeFootprint(
      h: HamTableHandle, incoming: DataFrame,
      sigCol: String): (Long, Long, Long, Long) = {
    val nBands = hamBands(h.meta)
    // the id column is not read: the footprint only needs the keys
    BucketStore.footprint(h.bucketsSnap, BucketStore.BandBucket,
      hamBanded(incoming, sigCol, sigCol, hammingBands(_, nBands))
        .select(col("band"), col("bucket")).distinct())
  }

  /** [[hammingNearDupsIncremental]] against an already-open
    * [[HamTableHandle]]. */
  def hammingNearDupsIncremental(
      h: HamTableHandle,
      incoming: DataFrame, idCol: String, sigCol: String,
      multiProbe: Boolean, radius: Option[Int]): DataFrame =
    hammingNearDupsIncrementalCore(h, incoming, idCol, sigCol,
      multiProbe, radius)._1

  /** The probe plan plus its collected touched keys — the fused ingest
    * path hands the keys to the append's occupancy prune (survivor
    * bands ⊆ batch bands, so the superset property holds). */
  private def hammingNearDupsIncrementalCore(
      h: HamTableHandle,
      incoming: DataFrame, idCol: String, sigCol: String,
      multiProbe: Boolean, radius: Option[Int])
      : (DataFrame, Option[BucketStore.ProbeKeys]) = {
    val maxHamming = h.meta.getAs[Int]("max_hamming")
    val nBands = maxHamming + 1
    val r = radius.getOrElse(maxHamming)
    val complete = if (multiProbe) 2 * nBands - 1 else nBands - 1
    require(r >= 0 && r <= complete,
      s"radius $r exceeds the completeness bound $complete of this " +
        s"table's banding (max_hamming = $maxHamming, nBands = $nBands" +
        (if (multiProbe) ", one-bit probes)"
         else ") — enable multiProbe for radii up to " +
           s"${2 * nBands - 1}"))
    val incB = hamBanded(incoming, idCol, sigCol,
      if (multiProbe) hammingBandsMultiProbe(_, nBands)
      else hammingBands(_, nBands))
    val (stored, touchedKeys) = BucketStore.probe(h.bucketsSnap, BucketStore.BandBucket, incB)
    val matches = incB.join(stored.select(col("band"), col("bucket"),
        col("id").as("corpus_id"), col("sig").as("corpus_sig")),
        Seq("band", "bucket"))
      .dropDuplicates("id", "corpus_id")
      .withColumn("hamming",
        bit_count(col("sig").bitwiseXOR(col("corpus_sig"))))
      .filter(col("hamming") <= r)
      .select(col("id").as("id_in"), col("corpus_id"), col("hamming"))
    (matches, touchedKeys)
  }

  /** [[hammingBands]] plus, per band, every ONE-BIT-FLIP neighbour
    * bucket — the query-side multi-probe key set: a stored band
    * differing from the query band in exactly one bit collides with
    * the matching flip probe. (64/nBands + 1) keys per band. */
  private def hammingBandsMultiProbe(sig: Column, nBands: Int): Column =
    array((0 until nBands).flatMap { b =>
      val lo = b * 64 / nBands
      val width = (b + 1) * 64 / nBands - lo
      val mask = if (width == 64) -1L else (1L << width) - 1L
      val exact = shiftrightunsigned(sig, lo).bitwiseAND(lit(mask))
      struct(lit(b).as("band"), exact.as("bucket")) +:
        (0 until width).map { j =>
          struct(lit(b).as("band"),
            exact.bitwiseXOR(lit(1L << j)).as("bucket"))
        }
    }: _*)

  /** Append a batch's signatures to a persisted Hamming table — the
    * maintenance half of the incremental media-ingest loop, with the
    * same headroom-capped bucket admission as
    * [[appendToSignatureTable]] ([[BucketStore.appendBanded]]).
    * Caller contract: ids disjoint from the table, and batch must not
    * itself read from `path`. */
  def appendToHammingTable(
      spark: org.apache.spark.sql.SparkSession, path: String,
      batch: DataFrame, idCol: String, sigCol: String): Unit = {
    val meta = BucketStore.readMeta(spark, path)
    appendHammingBuckets(spark, path, batch, idCol, sigCol, meta,
      hamBuckets(hamBands(meta)).snapshot(spark, path), touched = None)
  }

  /** The write half of a Hamming-table append: `bktSnap` is the
    * snapshot occupancy counts against and `touched` optionally reuses
    * a probe's already-collected key superset (the fused ingest path). */
  private def appendHammingBuckets(
      spark: org.apache.spark.sql.SparkSession, path: String,
      batch: DataFrame, idCol: String, sigCol: String,
      meta: org.apache.spark.sql.Row,
      bktSnap: Store.Snap, touched: Option[BucketStore.ProbeKeys]): Unit = {
    val nBands = hamBands(meta)
    BucketStore.appendBanded(spark, path, hamBuckets(nBands),
      hamBanded(batch, idCol, sigCol, hammingBands(_, nBands)),
      meta.getAs[Int]("max_bucket_size"), bktSnap, touched)
  }

  /** Media-ingest step over a persisted Hamming table — the 64-bit-
    * signature twin of [[nearDedupIngest]]: a batch signature is
    * REJECTED if it is within the table's maxHamming of a stored one
    * (transitively: of anything any earlier batch admitted), and
    * within-batch near-dup clusters collapse to their smallest id —
    * with the whole cluster rejected when ANY member matches the store
    * (the member's match makes every clustered twin a transitive
    * near-dup, the [[nearDedupIncremental]] rule). Survivors append to
    * the table and return. Per-batch cost ∝ batch on the store side
    * (bucket-key broadcast prune); the within-batch pair join is the
    * usual banded self-join over batch-sized input. Caller contract:
    * ids disjoint from the table and from earlier batches. */
  def hammingIngest(
      spark: org.apache.spark.sql.SparkSession, path: String,
      incoming: DataFrame, idCol: String, sigCol: String): DataFrame = {
    // one handle open per batch, shared across BOTH phases: the append
    // reuses the probe's meta read, bucket snapshot and collected
    // touched keys (zero new driver actions for its occupancy prune —
    // survivor bands ⊆ batch bands, so the key superset holds;
    // [[Store.append]] still re-lists and fences the commit)
    val h = openHammingTable(spark, path)
    val meta = h.meta
    val maxHamming = meta.getAs[Int]("max_hamming")
    // `inc` stays an EAGER checkpoint on purpose: it feeds BOTH sides
    // of the within-batch banded self-join below, and with a lazy
    // checkpoint the two subtrees race to compute each partition
    // before the cache fills — the batch's upstream plan (image
    // decode + pHash in the media pipeline) executes ~twice inside
    // the one job (MEASURED r16: q_image_ingest 9.0 → 14.2 s when
    // this was made lazy; reverted). The PAIR checkpoint has no such
    // shared-subtree hazard (its inputs are the cached inc blocks),
    // so it is lazy and materialized by the count that doubles as the
    // CC-skip probe — one driver action where checkpoint + isEmpty
    // were two. The common micro-batch shape — no within-batch twins
    // — skips connectedComponents entirely, whose fixed per-round job
    // cascade dwarfs a zero-edge input.
    val inc = incoming
      .select(col(idCol).cast("long").as("id"), col(sigCol).cast("long").as("sig"))
      .filter(col("sig").isNotNull)
      .localCheckpoint(true)
    val batchPairs = hammingNearDups(inc, "id", "sig",
      maxHamming, Int.MaxValue).localCheckpoint(false)
    val nPairs = batchPairs.count()
    val comps =
      if (nPairs == 0L)
        batchPairs.select(col("id_a").as("id"), col("id_b").as("component"))
          .limit(0)
      else connectedComponents(batchPairs, "id_a", "id_b")
    val withComp = inc
      .join(comps.select(col("id"), col("component")), Seq("id"), "left")
      .select(col("id"), col("sig"),
        coalesce(col("component"), col("id")).as("__comp"))
    val (storeMatches, touched) = hammingNearDupsIncrementalCore(h, inc,
      "id", "sig", multiProbe = false, radius = None)
    val rejectedComps = withComp
      .join(storeMatches.select(col("id_in").as("id")).distinct(),
        Seq("id"), "left_semi")
      .select(col("__comp")).distinct()
    val survivors = withComp
      .filter(col("id") === col("__comp"))
      .join(rejectedComps, Seq("__comp"), "left_anti")
      .select(col("id").as(idCol), col("sig").as(sigCol))
      .localCheckpoint(true)
    appendHammingBuckets(spark, path, survivors, idCol, sigCol, meta,
      h.bucketsSnap, touched)
    survivors
  }

  /** CONTINUOUS form of [[hammingIngest]] — the media landing-zone
    * twin of [[nearDedupIngestStreamed]]: a file source watches
    * `streamDir` for signature batches (one micro-batch per file, in
    * (modification-time, path) order — arrival order decides which
    * copy survives), every batch ingests against the persisted Hamming
    * table, survivors append to the table AND to `outPath`. Same
    * foreachBatch rationale: the dedup state IS the shared,
    * restart-durable table, not watermark-boundable stream state. */
  def hammingIngestStreamed(
      spark: org.apache.spark.sql.SparkSession, path: String,
      streamDir: String, idCol: String, sigCol: String,
      outPath: String, checkpointDir: Option[String] = None): Unit = {
    LandingZone.drain(spark, streamDir, checkpointDir) { batch =>
      hammingIngest(spark, path, batch, idCol, sigCol)
        .write.mode("append").parquet(outPath)
    }
  }

  // ───────────── persisted-store maintenance (retire / compact) ─────────────

  /** Remove documents from a persisted MinHash signature table — the
    * takedown/right-to-be-forgotten half of store maintenance (the
    * reference's Index has no delete: csvplus.go:655 persists a frozen
    * lookup; a standing ingest store additionally needs retirement).
    * Every `sigs` and `buckets` row whose id is in `retired` is
    * dropped and both relations rewrite through [[BucketStore.retire]]
    * (new generation + atomic manifest flip — no rename, no headless
    * window — with bounded replay: a retire racing a stream of
    * appends re-derives from a fresh snapshot and converges instead
    * of surfacing the fence conflict to the operator; takedown runs
    * on production cadence, so the safe path is the default path);
    * later batches no longer dedup against the retired
    * documents, and the freed bucket headroom is reusable by later
    * appends (the occupancy count in [[appendToSignatureTable]] reads
    * live rows). The retirement ids are resolved against the store's
    * OWN id type and a lossy cast fails loudly ([[Store.retireIds]]) —
    * a takedown must never silently no-op.
    *
    * Scale shape: cost ∝ STORE (a full-scan rewrite of both
    * relations), independent of the retirement list's size — run it at
    * takedown-batch cadence, never per ingest batch. The list itself
    * broadcasts (caller contract: takedown lists ≪ store; for
    * corpus-scale removal rebuild with [[writeSignatureTable]]).
    * `numFiles > 0` additionally compacts the rewrite (the post-append
    * small-file cleanup rides along for free).
    *
    * CROSS-RELATION INVARIANT (the two relations swap as two
    * independent commits, sigs FIRST): a crash — or a reader — between
    * the commits sees bucket rows whose id has already left sigs.
    * That state is benign BY CONSTRUCTION, not by luck: every query
    * path reaches documents through the candidate estimate's INNER
    * join against sigs ([[nearDedupIncremental]]'s `corpusSigs`
    * fetch), so an orphaned bucket row can propose a candidate but
    * never produce a match — the store answers AS IF the retirement
    * had fully applied. The orphans cost only probe work and bucket
    * headroom until the next [[compactSignatureTable]] sweeps them;
    * [[signatureTableStats]] reports the live orphan count as the
    * health signal for this window (TextDedupSpec plants the
    * in-between state and pins both facts). The sigs-first ORDER is
    * what makes the argument one-directional and safe: committing
    * buckets first could leave a retired id matchable through its
    * still-live signatures.
    *
    * @return number of stored documents removed */
  def retireFromSignatureTable(
      spark: org.apache.spark.sql.SparkSession, path: String,
      retired: DataFrame, idCol: String, numFiles: Int = 0): Long =
    BucketStore.retire(spark, path, sigRelations(spark, path), "id",
      retired, idCol, numFiles)

  /** Compact a signature table's relations to `numFiles` files each —
    * the periodic cleanup after many [[appendToSignatureTable]]
    * generations. The bucket relation is additionally swept against
    * the live sig ids — orphaned bucket rows left by a crash between
    * [[retireFromSignatureTable]]'s two swaps self-heal here, freeing
    * the headroom they were consuming. On a healthy store the sweep
    * keeps every row, so query results are byte-identical before and
    * after (the gate pins this). */
  def compactSignatureTable(
      spark: org.apache.spark.sql.SparkSession, path: String,
      numFiles: Int): Unit =
    // the live-sig read happens INSIDE the replay loop, so each attempt
    // sweeps against the sig generation current at that point
    BucketStore.compact(spark, path, numFiles, sigRelations(spark, path),
      snap => snap.df.join(liveSigIds(SigIds.snapshot(spark, path)),
        Seq("id"), "left_semi"))

  /** The live signature ids, broadcast when the manifest's recorded row
    * count says they fit: the planner's estimate for
    * this side is the sig relation's FILE bytes — dominated by the
    * 64-long signature arrays the id join never reads — so it
    * sort-merge-joined full store × live ids even when the id side was
    * a few MB. The exact count is free (manifest scalar, no job);
    * stores without counts (pre-r16 manifests) keep the planner's
    * choice. */
  private def liveSigIds(sigSnap: Store.Snap): DataFrame = {
    val ids = sigSnap.df.select(col("id"))
    sigSnap.manifestRowCount.fold(ids)(n => Graph.broadcastIfSmall(ids, n))
  }

  /** [[retireFromSignatureTable]] for a persisted Hamming table (one
    * banded relation, sig denormalized beside its bucket).
    * @return number of stored documents removed */
  def retireFromHammingTable(
      spark: org.apache.spark.sql.SparkSession, path: String,
      retired: DataFrame, idCol: String, numFiles: Int = 0): Long =
    BucketStore.retire(spark, path, Seq(hamBuckets(spark, path)), "id",
      retired, idCol, numFiles, countDistinct = true)

  /** [[compactSignatureTable]] for a persisted Hamming table. */
  def compactHammingTable(
      spark: org.apache.spark.sql.SparkSession, path: String,
      numFiles: Int): Unit =
    BucketStore.compact(spark, path, numFiles, Seq(hamBuckets(spark, path)))

  /** One-row operational summary of a persisted signature table — the
    * observability face of store maintenance: the construction
    * parameters (from meta — what every batch silently joins under),
    * document and bucket-row counts, the worst live bucket occupancy
    * (distance to the skew cap: a store whose hottest bucket sits AT
    * `max_bucket_size` is silently dropping appends there), and per-
    * relation part-file counts (the [[compactSignatureTable]] signal
    * after many append generations).
    *
    * Scale shape: `n_docs` and `n_bucket_rows` are the manifests'
    * recorded row counts (a count aggregate only for a relation whose
    * manifest has none, such as an empty one), plus one groupBy-max
    * over bucket keys — partial aggs; the 1-row joins are
    * broadcast-scalar crossJoins (the Stats.scala pattern). */
  def signatureTableStats(
      spark: org.apache.spark.sql.SparkSession, path: String): DataFrame = {
    val Seq(sigRel, bucketRel) = sigRelations(spark, path)
    val sigsSnap = sigRel.snapshot(spark, path)
    val bucketsSnap = Store.snapshot(spark, bucketRel.root(path))
    val buckets = bucketsSnap.df
    BucketStore.metaFrame(spark, path)
      .crossJoin(BucketStore.rowCount(sigsSnap, "n_docs"))
      .crossJoin(BucketStore.rowCount(bucketsSnap, "n_bucket_rows"))
      .crossJoin(maxOccupancy(buckets))
      // bucket rows whose id has left sigs — the reconciliation signal
      // for retireFromSignatureTable's documented two-commit window
      // (nonzero = a retire crashed between its swaps; answers stay
      // as-if-retired, the next compaction sweeps). A corpus-sized
      // id join — the audit-cadence cost of the health check
      .crossJoin(buckets.join(liveSigIds(sigsSnap), Seq("id"), "left_anti")
        .agg(count(lit(1)).as("orphaned_bucket_rows")))
      .withColumn("n_sig_files",
        lit(Store.partFileCount(spark, sigRel.root(path))))
      .withColumn("n_bucket_files",
        lit(Store.partFileCount(spark, bucketRel.root(path))))
  }

  /** The hottest bucket's row count (0 for an empty relation). */
  private def maxOccupancy(buckets: DataFrame): DataFrame =
    buckets
      .groupBy(col("band"), col("bucket")).agg(count(lit(1)).as("__occ"))
      .agg(coalesce(max(col("__occ")), lit(0L)).as("max_bucket_occupancy"))

  /** [[signatureTableStats]] for a persisted Hamming table (n_docs is
    * the distinct stored id count — the banded relation holds
    * `max_hamming + 1` rows per document minus write-cap drops;
    * n_bucket_rows is the manifest's recorded count). */
  def hammingTableStats(
      spark: org.apache.spark.sql.SparkSession, path: String): DataFrame = {
    val rel = hamBuckets(spark, path)
    val snap = Store.snapshot(spark, rel.root(path))
    val buckets = snap.df
    BucketStore.metaFrame(spark, path)
      .crossJoin(buckets.agg(count_distinct(col("id")).as("n_docs")))
      .crossJoin(BucketStore.rowCount(snap, "n_bucket_rows"))
      .crossJoin(maxOccupancy(buckets))
      .withColumn("n_bucket_files",
        lit(Store.partFileCount(spark, rel.root(path))))
  }

  // ─────────────── span-level exact substring dedup ───────────────

  /** One row per k-token window of each document:
    * `(doc_id, pos, gram)`, `pos` 1-based. Windows are built inside a
    * single codegen'd projection (sequence → transform → slice →
    * array_join), so the only cost before the first shuffle is the
    * document scan itself. (MEASURED dead end, r15: moving the
    * prefilter hash inside the transform lambda to skip the
    * `array_join` string build made both span gates 1.2-1.35× SLOWER
    * — higher-order-function lambdas evaluate interpreted, so an
    * in-lambda xxhash64-over-slice costs more than building the string
    * here and hashing it in the codegen'd aggregate outside.) */
  private def tokenWindows(
      df: DataFrame, idCol: String, textCol: String, k: Int): DataFrame = {
    val toks = split(col(textCol), " ")
    df.filter(col(textCol).isNotNull && size(toks) >= k)
      .select(col(idCol).as("doc_id"),
        explode(transform(sequence(lit(1), size(toks) - k + 1),
          i => struct(i.cast("long").as("pos"),
            array_join(slice(toks, i, lit(k)), " ").as("gram")))).as("w"))
      .select(col("doc_id"), col("w.pos").as("pos"), col("w.gram").as("gram"))
  }

  /** Windows whose gram occurs ≥ minOccurrences times corpus-wide,
    * with the gram group's first occurrence attached:
    * `(doc_id, pos, gram, first{doc_id, pos})`.
    *
    * Scale shape: an 8-byte xxhash64 prefilter (decontaminate's trick)
    * keeps singleton windows — the overwhelming majority of any real
    * corpus — out of the shuffle-by-gram entirely; only hash-colliding
    * windows carry their gram strings into the exact groupBy. The
    * first-occurrence pick is `min(struct(doc, pos))` — map-side
    * partial agg, so a boilerplate gram repeated a billion times costs
    * one candidate per partition, never a sorted hot-key window. The
    * two consumers of the survivor set exchange it by the same key, so
    * Catalyst's ReuseExchange shares the shuffle. */
  private def rankedDuplicateWindows(
      df: DataFrame, idCol: String, textCol: String,
      k: Int, minOccurrences: Int): DataFrame = {
    // Persisted (r16, VERDICT #8 measured): `windows` is consumed
    // THREE times inside the one consumer plan (the hot aggregate, the
    // survivor semi-join's probe side, and survivors again under
    // stats), and the k-token window expansion — tokenize + slice +
    // array_join string build per window — was the most expensive
    // subtree in both span gates, planned twice. Caching it computes
    // it once per action: q_span_dedup 5.3→3.1 s / q_span_remove
    // 5.6→3.4 s at sf0.1, and both gates 104→51 s at sf1 (0.48×, same
    // host back-to-back) — recomputation loses to one k×-corpus
    // MEMORY_AND_DISK pass at both measured scales. Same caller-owned
    // lifecycle contract as allPairsJaccard's `sorted`; at 100 TB this
    // is the materialized duplicate-window table next to the corpus,
    // and the cache spills rather than OOMs.
    val windows = tokenWindows(df, idCol, textCol, k)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val hot = windows
      .groupBy(xxhash64(col("gram")).as("wh"))
      .agg(count(lit(1)).as("c"))
      .filter(col("c") >= minOccurrences)
      .select(col("wh"))
    val survivors = windows
      .join(hot, xxhash64(col("gram")) === col("wh"), "left_semi")
    val stats = survivors
      .groupBy(col("gram"))
      .agg(count(lit(1)).as("c"),
        min(struct(col("doc_id"), col("pos"))).as("first"))
      .filter(col("c") >= minOccurrences)
      .select(col("gram"), col("first"))
    survivors.join(stats, Seq("gram"))
  }

  /** Maximal duplicated token spans: every run of ≥ k consecutive
    * tokens whose k-token windows all occur at least minOccurrences
    * times corpus-wide (within-document repeats count). The span-level
    * analogue of [[exact]]: exact substring dedup in the sense of
    * "Deduplicating Training Data Makes Language Models Better"
    * (Lee et al., 2022), with whitespace tokens standing in for BPE
    * ids. Reference-analogue: csvplus dedups whole rows via
    * UniqueIndexOn (csvplus.go:740); a training corpus needs the same
    * contract at sub-document granularity.
    *
    * Overlapping and adjacent duplicated windows merge into one
    * maximal span (gaps-and-islands over a per-document window — each
    * partition is bounded by one document's length, never corpus-
    * sized).
    *
    * @return (doc_id, span_start, span_end, n_tokens) — token
    *         positions 1-based inclusive, one row per maximal span
    */
  def duplicatedSpans(
      df: DataFrame, idCol: String, textCol: String,
      k: Int, minOccurrences: Int = 2): DataFrame = {
    require(k >= 2, s"window size k must be >= 2, got $k")
    require(minOccurrences >= 2,
      s"minOccurrences must be >= 2, got $minOccurrences")
    val dup = rankedDuplicateWindows(df, idCol, textCol, k, minOccurrences)
      .select(col("doc_id"), col("pos"), (col("pos") + (k - 1)).as("e"))
    val byDoc = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("pos"))
    val prevMax = max(col("e"))
      .over(byDoc.rowsBetween(
        org.apache.spark.sql.expressions.Window.unboundedPreceding, -1))
    val islands = dup
      .withColumn("brk",
        when(prevMax.isNull || col("pos") > prevMax + 1, 1).otherwise(0))
      .withColumn("island", sum(col("brk")).over(byDoc))
    islands
      .groupBy(col("doc_id"), col("island"))
      .agg(min(col("pos")).as("span_start"), max(col("e")).as("span_end"))
      .select(col("doc_id"), col("span_start"), col("span_end"),
        (col("span_end") - col("span_start") + 1).as("n_tokens"))
  }

  /** Remove duplicated spans, keeping each duplicated window's first
    * corpus occurrence (min (doc_id, pos)) intact: every token covered
    * by a NON-first duplicated window is dropped, and the remaining
    * tokens are re-joined in order. Documents with nothing to remove
    * pass through untouched (the rebuild path is proportional to the
    * AFFECTED documents, not the corpus); a document whose every token
    * is covered comes back as the empty string, not a dropped row.
    *
    * @return (doc_id, text) — same cardinality as the non-null input
    */
  def removeDuplicatedSpans(
      df: DataFrame, idCol: String, textCol: String,
      k: Int, minOccurrences: Int = 2): DataFrame = {
    require(k >= 2, s"window size k must be >= 2, got $k")
    val base = df.filter(col(textCol).isNotNull)
      .select(col(idCol).as("doc_id"), col(textCol).as("text"))
    val covered = rankedDuplicateWindows(df, idCol, textCol, k, minOccurrences)
      .filter(struct(col("doc_id"), col("pos")) =!= col("first"))
      .select(col("doc_id"),
        explode(sequence(col("pos"), col("pos") + (k - 1))).as("cpos"))
      .distinct()
    val affected = covered.select(col("doc_id")).distinct()
    val toks = base.join(affected, Seq("doc_id"), "left_semi")
      .select(col("doc_id"),
        posexplode(split(col("text"), " ")).as(Seq("p0", "tok")))
      .select(col("doc_id"), (col("p0") + 1).cast("long").as("pos"),
        col("tok"))
    val kept = toks.join(covered,
      toks("doc_id") === covered("doc_id") && col("pos") === col("cpos"),
      "left_anti")
    val rebuilt = kept
      .groupBy(col("doc_id"))
      .agg(array_join(
        transform(array_sort(collect_list(struct(col("pos"), col("tok")))),
          x => x.getField("tok")),
        " ").as("rebuilt_text"))
    base
      .join(affected.withColumn("affected", lit(true)), Seq("doc_id"), "left")
      .join(rebuilt, Seq("doc_id"), "left")
      .select(col("doc_id"),
        when(col("affected"), coalesce(col("rebuilt_text"), lit("")))
          .otherwise(col("text")).as("text"))
  }

  /** Paragraph-level (line-level) deduplication across the corpus, the
    * CCNet/Gopher preprocessing step: split every document on `sep`,
    * keep only the FIRST occurrence of each distinct paragraph corpus-
    * wide (first = smallest (doc id, position) — deterministic), and
    * re-assemble each document from its surviving paragraphs in
    * original order. Boilerplate that repeats across pages (nav bars,
    * cookie banners, license headers) collapses to its single first
    * occurrence. Documents left with no surviving paragraph are
    * dropped.
    *
    * Scale shape: the first-occurrence pick is `groupBy(paragraph).agg
    * (min(struct(doc, pos)))` — map-side partial aggregation, so a
    * paragraph repeated on a billion pages costs one candidate per
    * partition, never a hot-key window. Reassembly groups by doc id
    * (each group only as big as one document). Two shuffles total.
    *
    * Exact-duplicate paragraphs WITHIN one document also collapse to
    * their first position, by the same rule.
    *
    * @param sep literal (non-regex) paragraph separator, default "\n"
    * @return (doc_id, text) — only documents with ≥1 surviving paragraph
    */
  def paragraphDedup(
      df: DataFrame, idCol: String, textCol: String,
      sep: String = "\n"): DataFrame = {
    require(sep.nonEmpty, "sep must not be empty")
    firstOccurrences(paragraphLines(df, idCol, textCol, sep))
      .groupBy(col("doc_id")).agg(joinedLines(sep).as("text"))
  }

  /** `text` split into paragraphs on the literal `sep`. */
  private def paragraphs(text: Column, sep: String): Column =
    split(text, java.util.regex.Pattern.quote(sep))

  /** (doc_id, pos, line): every paragraph of `df`'s non-null `textCol`. */
  private def paragraphLines(
      df: DataFrame, idCol: String, textCol: String, sep: String): DataFrame =
    df.filter(col(textCol).isNotNull)
      .select(col(idCol).as("doc_id"),
        posexplode(paragraphs(col(textCol), sep)).as(Seq("pos", "line")))

  /** Each distinct line of (doc_id, pos, line) rows at its first
    * occurrence, min (doc_id, pos). */
  private def firstOccurrences(lines: DataFrame): DataFrame =
    lines
      .groupBy(col("line"))
      .agg(min(struct(col("doc_id"), col("pos"))).as("__first"))
      .select(col("__first.doc_id").as("doc_id"),
        col("__first.pos").as("pos"), col("line"))

  /** The aggregate re-assembling a document's (pos, line) rows in
    * position order, joined by `sep`. */
  private def joinedLines(sep: String): Column =
    array_join(
      transform(array_sort(collect_list(struct(col("pos"), col("line")))),
        x => x.getField("line")),
      sep)

  // ───────── persisted paragraph-hash table (incremental CCNet dedup) ─────────

  /** The paragraph table's one relation: distinct paragraph hashes `h`
    * (xxhash64 of the line), range-clustered by hash so a batch probe
    * touching K distinct paragraphs reads O(K) files. `h` is
    * xxhash64-uniform, so placement is arithmetic — no sampling pass.
    * An append lands as one sorted file: a tight hash range in its
    * footer stats, so later probes keep skipping appended files. */
  private val ParaHashes = BucketStore.Relation("hashes", clusterBy = Seq("h"),
    splits = _ => Some(Store.hashKeySplits(col("h"))),
    shape = _.repartitionByRange(1, col("h")).sortWithinPartitions("h"))

  private val ParaKey = BucketStore.longKey("h")

  /** The separator pinned in the table's meta. */
  private def paraSep(
      spark: org.apache.spark.sql.SparkSession, path: String): String =
    BucketStore.readMeta(spark, path).getAs[String]("sep")

  /** The distinct paragraph hashes of `df`'s non-null `textCol`. */
  private def paraHashes(df: DataFrame, textCol: String, sep: String): DataFrame =
    df.filter(col(textCol).isNotNull)
      .select(explode(paragraphs(col(textCol), sep)).as("line"))
      .select(xxhash64(col("line")).as("h"))
      .distinct()

  /** Persist the paragraph-hash table of a corpus — the incremental
    * face of [[paragraphDedup]]: one row per DISTINCT paragraph
    * (xxhash64 of the line), so later batches drop every paragraph the
    * corpus (or any earlier batch) already contains. Exact hashes, no
    * banding — paragraph dedup is an exact-match problem, which makes
    * the store a single distinct-hash relation (8 bytes per distinct
    * paragraph; the CCNet posture — the table stores hashes, never
    * text, an xxhash64 collision costs one dropped paragraph and is
    * the documented trade at corpus scale). The separator is pinned in
    * `meta` so a batch can never split differently than the store.
    * Overwrites `path`. */
  def writeParagraphTable(
      df: DataFrame, idCol: String, textCol: String, path: String,
      sep: String = "\n"): Unit = {
    require(sep.nonEmpty, "sep must not be empty")
    ParaHashes.create(paraHashes(df, textCol, sep), path)
    BucketStore.writeMeta(df.sparkSession, path, lit(sep).as("sep"))
  }

  /** Incremental paragraph dedup of a batch against the persisted
    * table: every paragraph whose hash is stored is dropped, the
    * remaining paragraphs keep their corpus-wide FIRST occurrence
    * within the batch (min (doc id, position) — the [[paragraphDedup]]
    * rule, including within-document repeats), and each document
    * re-assembles from its survivors in original order. Documents left
    * with no surviving paragraph are dropped (the [[paragraphDedup]]
    * contract).
    *
    * Scale shape: the stored relation is scanned once and reduced with
    * a broadcast semi-join on the batch's distinct hashes — cost ∝
    * batch, never corpus; the first-occurrence pick is a map-side
    * partial agg over batch lines only. */
  def paragraphDedupIncremental(
      spark: org.apache.spark.sql.SparkSession, path: String,
      incoming: DataFrame, idCol: String, textCol: String): DataFrame =
    paragraphProbePlan(ParaHashes.snapshot(spark, path), incoming, idCol,
      textCol, paraSep(spark, path))._1

  /** The shared probe construction: the survivor plan plus the
    * storedHit relation it anti-joins (the fused ingest's append
    * reuses BOTH — same snapshot, same collected keys, zero additional
    * driver actions). The batch's distinct hashes are collected ONCE
    * and drive the file prune AND the exact semi-join as a local
    * relation ([[BucketStore.probe]]). */
  private def paragraphProbePlan(
      snap: Store.Snap, incoming: DataFrame, idCol: String, textCol: String,
      sep: String): (DataFrame, DataFrame) = {
    val lines = paragraphLines(incoming, idCol, textCol, sep)
      .withColumn("h", xxhash64(col("line")))
    val storedHit = BucketStore.probe(snap, ParaKey, lines)._1
    val survivors = firstOccurrences(lines.join(storedHit, Seq("h"), "left_anti"))
      .groupBy(col("doc_id")).agg(joinedLines(sep).as("text"))
      .select(col("doc_id").as(idCol), col("text"))
    (survivors, storedHit)
  }

  /** [[probeFileFootprint]] for a persisted paragraph table: the
    * batch's distinct paragraph hashes against the hash relation's
    * file layout. */
  private[graft] def paragraphProbeFootprint(
      spark: org.apache.spark.sql.SparkSession, path: String,
      incoming: DataFrame, textCol: String): (Long, Long, Long, Long) =
    BucketStore.footprint(ParaHashes.snapshot(spark, path), ParaKey,
      paraHashes(incoming, textCol, paraSep(spark, path)))

  /** Append a batch's paragraph hashes to the persisted table (the
    * maintenance half of [[paragraphIngest]]): the batch's distinct
    * hashes anti-join the stored relation — reduced first by the same
    * pruned semi-join probe, cost ∝ batch — and only genuinely new
    * hashes append (the store stays distinct), under the
    * [[Store.append]] maintenance fence. */
  def appendToParagraphTable(
      spark: org.apache.spark.sql.SparkSession, path: String,
      batch: DataFrame, idCol: String, textCol: String): Unit = {
    val hashes = paraHashes(batch, textCol, paraSep(spark, path))
    val storedHit =
      BucketStore.probe(ParaHashes.snapshot(spark, path), ParaKey, hashes)._1
    ParaHashes.append(spark, path)(hashes.join(storedHit, Seq("h"), "left_anti"))
  }

  /** The paragraph-level ingest step — [[nearDedupIngest]]'s contract
    * at sub-document granularity: dedup the batch's paragraphs against
    * the table, append the SURVIVING paragraphs' hashes so every later
    * batch drops them too (a paragraph admitted in batch N rejects its
    * copy arriving in batch N+1 — transitive first-occurrence across a
    * landing zone), and return the surviving (id, text) rows.
    * Survivors are materialized before the append for the same
    * reason as [[nearDedupIngest]] (their plan reads the relation the
    * append mutates). */
  def paragraphIngest(
      spark: org.apache.spark.sql.SparkSession, path: String,
      incoming: DataFrame, idCol: String, textCol: String): DataFrame = {
    // one meta read, one snapshot resolve and one hash-key collect per
    // batch, shared by the probe and the append: the appended hash set
    // (survivor-text hashes minus stored) is by construction exactly
    // the batch's fresh distinct hashes, so the append re-uses the
    // probe's storedHit relation (fenced: re-probed against a fresh
    // snapshot if anything committed in between) instead of
    // re-resolving and re-collecting
    val sep = paraSep(spark, path)
    val snap = ParaHashes.snapshot(spark, path)
    val (survPlan, storedHit) =
      paragraphProbePlan(snap, incoming, idCol, textCol, sep)
    val survivors = survPlan.localCheckpoint(true)
    ParaHashes.append(spark, path) {
      val hashes = paraHashes(survivors, "text", sep)
      hashes.join(BucketStore.fenced(spark, snap)(storedHit)(
        BucketStore.probe(ParaHashes.snapshot(spark, path), ParaKey, hashes)._1),
        Seq("h"), "left_anti")
    }
    survivors
  }

  /** CONTINUOUS form of [[paragraphIngest]] — the landing-zone twin of
    * [[nearDedupIngestStreamed]] at paragraph granularity: one
    * micro-batch per landed file in (modification-time, path) order
    * (arrival order decides which copy of a paragraph is "first"),
    * survivors append to the table AND to `outPath`. Same foreachBatch
    * rationale: the dedup state IS the shared, restart-durable
    * paragraph table. */
  def paragraphIngestStreamed(
      spark: org.apache.spark.sql.SparkSession, path: String,
      streamDir: String, idCol: String, textCol: String,
      outPath: String, checkpointDir: Option[String] = None): Unit = {
    LandingZone.drain(spark, streamDir, checkpointDir) { batch =>
      paragraphIngest(spark, path, batch, idCol, textCol)
        .write.mode("append").parquet(outPath)
    }
  }

  /** Remove paragraphs from a persisted paragraph-hash table — the
    * takedown contract ([[retireFromSignatureTable]]) at SPAN
    * granularity: a right-to-be-forgotten request that names offending
    * paragraphs (not whole documents) must stop the table from
    * suppressing future copies of them, exactly as retiring a document
    * re-admits its later near-copies.
    *
    * `retired` is either the paragraph TEXTS themselves (a string
    * column — hashed with the store's own xxhash64, so the takedown
    * list never needs to know the storage encoding) or raw stored
    * hashes (any integral column — resolved against the store's id
    * type via [[Store.retireIds]], lossy casts loud). A text entry
    * that CONTAINS the table's separator could never match a stored
    * single-line hash, so it fails loudly instead of silently
    * retiring nothing (the [[Store.retireIds]] rationale).
    *
    * Scale shape: cost ∝ store (a full-scan rewrite of the hash
    * relation), independent of the list size; the list broadcasts.
    * `numFiles > 0` compacts the rewrite in passing.
    * @return number of stored paragraph hashes removed */
  def retireFromParagraphTable(
      spark: org.apache.spark.sql.SparkSession, path: String,
      retired: DataFrame, colName: String, numFiles: Int = 0): Long = {
    val textHashes = retired.schema(colName).dataType match {
      case org.apache.spark.sql.types.StringType =>
        val sep = paraSep(spark, path)
        val bad = retired
          .filter(col(colName).isNotNull && col(colName).contains(sep))
          .limit(1).collect()
        if (bad.nonEmpty) throw new IllegalArgumentException(
          s"retirement text ${bad.head.get(0)} contains the table's " +
            s"paragraph separator — the store hashes single paragraphs, " +
            s"so a multi-paragraph entry could never match; split it and " +
            s"retire each paragraph")
        Some(retired.filter(col(colName).isNotNull)
          .select(xxhash64(col(colName)).as("h")).distinct()
          .localCheckpoint(true))
      case _ => None
    }
    BucketStore.retire(spark, path, Seq(ParaHashes), "h", retired, colName,
      numFiles, ids = textHashes)
  }

  /** Compact a paragraph table's hash relation to `numFiles` files —
    * the periodic small-file cleanup after many
    * [[appendToParagraphTable]] generations (the
    * [[compactSignatureTable]] rationale: at landing-zone cadence the
    * per-batch semi-join scan becomes open-cost-bound long before it
    * is byte-bound). The rewrite re-asserts distinctness, which also
    * self-heals the one double-apply window the append fence
    * documents (a replayed batch whose failed marker could not be
    * withdrawn). A pure rewrite otherwise — the gate pins identical
    * dedup results before and after. */
  def compactParagraphTable(
      spark: org.apache.spark.sql.SparkSession, path: String,
      numFiles: Int): Unit =
    BucketStore.compact(spark, path, numFiles, Seq(ParaHashes), _.df.distinct())

  /** One-row operational summary of a persisted paragraph table (the
    * [[signatureTableStats]] shape): the pinned separator (what every
    * batch silently splits under), the distinct-paragraph count (8
    * bytes each — the table's working-set arithmetic at corpus scale;
    * the manifest's recorded count), and the hash relation's part-file
    * count (the [[compactParagraphTable]] signal). */
  def paragraphTableStats(
      spark: org.apache.spark.sql.SparkSession, path: String): DataFrame =
    BucketStore.metaFrame(spark, path)
      .crossJoin(BucketStore.rowCount(
        Store.snapshot(spark, ParaHashes.root(path)), "n_paragraphs"))
      .withColumn("n_hash_files",
        lit(Store.partFileCount(spark, ParaHashes.root(path))))

  /** Boilerplate-line removal: drop every line whose exact text appears
    * in at least `minDocs` DISTINCT documents, rebuild each document's
    * text in original line order.
    *
    * This is the document-frequency half of CCNet-style line filtering:
    * where [[paragraphDedup]] keeps the corpus-wide FIRST occurrence of
    * a repeated line, this operator treats high-df lines (navigation
    * chrome, cookie banners, boilerplate headers/footers) as noise and
    * drops EVERY occurrence, including the first. Documents whose every
    * line is boilerplate come back as `""` — cardinality is preserved
    * (same contract as [[removeDuplicatedSpans]]).
    *
    * Scale shape: one line-level explode, a `distinct` + map-side-
    * combined `groupBy(line).count` for the document frequency (each
    * doc counts once however many times it repeats a line internally),
    * and a left-anti join of the posting rows against the boilerplate
    * set. The boilerplate relation is df-filtered and therefore tiny
    * relative to the corpus — AQE typically broadcasts it. No windows,
    * no driver-side state.
    */
  def removeBoilerplateLines(
      df: DataFrame, idCol: String, textCol: String,
      minDocs: Int, sep: String = "\n"): DataFrame = {
    require(minDocs >= 2, s"minDocs must be >= 2, got $minDocs")
    require(sep.nonEmpty, "sep must not be empty")
    val base = df.filter(col(textCol).isNotNull)
      .select(col(idCol).as("doc_id"), col(textCol).as("text"))
    val lines = base
      .select(col("doc_id"),
        posexplode(paragraphs(col("text"), sep)).as(Seq("pos", "line")))
    val boiler = lines
      .select(col("doc_id"), col("line")).distinct()
      .groupBy(col("line")).agg(count(lit(1)).as("line_df"))
      .filter(col("line_df") >= minDocs)
      .select(col("line"))
    val rebuilt = lines
      .join(boiler, Seq("line"), "left_anti")
      .groupBy(col("doc_id")).agg(joinedLines(sep).as("__kept"))
    base.select(col("doc_id"))
      .join(rebuilt, Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("__kept"), lit("")).as("text"))
  }
}
