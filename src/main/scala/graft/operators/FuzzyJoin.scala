package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Approximate-string (edit-distance) equi-join — entity resolution /
  * record linkage over dirty keys, the fuzzy counterpart of the
  * reference's exact-key `Join` (csvplus.go:539).
  *
  * Candidate generation is the FastSS / SymSpell deletion-neighborhood
  * scheme (public algorithm): every string expands to the set of
  * variants reachable by deleting ≤ `maxDist` characters, and two
  * strings within Levenshtein distance d ≤ maxDist always share at
  * least one variant (each edit is covered by deleting the touched
  * position on one or both sides). Candidates therefore come from an
  * EQUI-join on the variant key — never a cartesian — and the exact
  * `levenshtein` verify runs only on candidate pairs.
  *
  * Scale shape:
  *  - neighborhood size is O(|s|^maxDist) per row (|s|+1 for d=1),
  *    generated inside the row by one native codegen'd kernel
  *    ([[deletionVariants]]) — no UDF;
  *  - the only shuffle is the variant-key equi-join; a hot key
  *    (shared boilerplate values) makes it quadratic in that key's
  *    occupancy, so the same loud `maxBucketSize` contract as the LSH
  *    dedup family applies: default FAILS the job with the offending
  *    count, `dropHotKeys = true` opts into documented truncation;
  *  - verify + pair-dedup group by the candidate pair, map-side
  *    partial.
  *
  * `maxDist` ≤ 2 is the practical envelope (d=2 on a 20-char string is
  * ~200 variants/row); beyond that use the n-gram/LSH similarity
  * stack instead.
  */
object FuzzyJoin {

  /** All strings reachable from `s` by deleting up to `maxDist`
    * characters (including `s` itself), distinct. Native one-pass
    * kernel (graft.plans) — an interpreted higher-order-function form
    * (|s| boxed lambda calls per row per level) was the measured cost
    * center of the candidate stage in the 10× rehearsal. */
  private[operators] def deletionVariants(s: Column, maxDist: Int): Column = {
    require(maxDist >= 0, "maxDist must be >= 0")
    graft.plans.native.deletionVariants(s, maxDist)
  }

  /** Fuzzy inner join of `left` and `right` on Levenshtein distance
    * ≤ `maxDist` between `leftStr` and `rightStr`. Output: one row per
    * matching (id, id) pair — `l_id`, `r_id`, `l_str`, `r_str`,
    * `dist`. NULL or empty strings never match (a NULL key matches
    * nothing, as in the exact join).
    *
    * `maxBucketSize` bounds a single variant key's occupancy per side;
    * see the object doc for the loud-failure contract. */
  def fuzzyJoin(
      left: DataFrame, leftId: String, leftStr: String,
      right: DataFrame, rightId: String, rightStr: String,
      maxDist: Int = 1, maxBucketSize: Int = 10000,
      dropHotKeys: Boolean = false): DataFrame = {
    require(maxDist >= 1, "maxDist must be >= 1 (use an exact join for 0)")
    require(maxDist <= 3, s"maxDist = $maxDist: the deletion neighborhood " +
      "is O(|s|^maxDist) per row — beyond 3 the variant explode is a " +
      "per-row combinatorial blow-up; use the n-gram/LSH similarity stack " +
      "for coarser matching")
    require(maxBucketSize > 0, "maxBucketSize must be > 0")

    def side(df: DataFrame, id: String, str: String, tag: String): DataFrame = {
      val vs = df.filter(col(str).isNotNull && length(col(str)) > 0)
        .select(col(id).as(s"${tag}_id"), col(str).as(s"${tag}_str"),
          explode(deletionVariants(col(str), maxDist)).as("variant"))
      guardHotVariants(vs, maxBucketSize, dropHotKeys)
    }

    val lv = side(left, leftId, leftStr, "l")
    val rv = side(right, rightId, rightStr, "r")

    // verify IN-STAGE, before the pair-dedup shuffle: candidate
    // density on digit-embedded key formats grows with the corpus by
    // construction (depth-2 deletion collisions between lev-3/4 pairs
    // are genuine — PERF_NOTES_r11 §4 — and any equi-band that would
    // split same-variant candidates provably loses lev-2 recall, e.g.
    // "aXbc"/"abcY" whose only depth-1 witnesses delete DIFFERENT
    // positions), so the scalable shape is to make a far candidate
    // cost a map-side early-exit O(maxDist·|s|) threshold-levenshtein
    // instead of a row in the distinct's shuffle. The second exchange
    // then carries true matches (× their witness multiplicity), not
    // the candidate set.
    lv.join(rv, "variant")
      .withColumn("dist", levenshtein(col("l_str"), col("r_str"), maxDist))
      .filter(col("dist") >= 0) // threshold form: -1 = beyond maxDist
      .select(col("l_id"), col("r_id"), col("l_str"), col("r_str"),
        col("dist"))
      .distinct()
  }

  /** [[fuzzyJoin]] as a REAL streaming query — entity resolution on an
    * ingest stream: dirty records stream from a parquet directory
    * (file source, available-now trigger) and resolve against a STATIC
    * reference table whose deletion variants are precomputed,
    * hot-key-guarded (the batch-side window guard bounds the broadcast
    * bucket — a hot STREAM variant meets at most `maxBucketSize`
    * reference rows, so per-batch output stays bounded), and
    * broadcast. Every stream operator is STATELESS — variant explode,
    * stream-static broadcast join, exact `levenshtein` verify — so
    * state stores hold nothing and throughput is projection cost.
    *
    * Output orientation matches [[fuzzyJoin]](reference, dirty): `l_*`
    * is the reference side, `r_*` the streamed side. May contain
    * duplicates (one per shared variant) — `.distinct()` after
    * materializing; a bounded stream cannot dedup without end-of-
    * stream knowledge unless it holds pair state. */
  def fuzzyJoinStreamed(
      spark: org.apache.spark.sql.SparkSession,
      dirtyPath: String, dirtyId: String, dirtyStr: String,
      reference: DataFrame, refId: String, refStr: String,
      maxDist: Int = 1, maxBucketSize: Int = 10000,
      dropHotKeys: Boolean = false): DataFrame = {
    require(maxDist >= 1, "maxDist must be >= 1 (use an exact join for 0)")
    require(maxDist <= 3, s"maxDist = $maxDist: the deletion neighborhood " +
      "is O(|s|^maxDist) per row — same bound as the batch form")
    require(maxBucketSize > 0, "maxBucketSize must be > 0")
    val rv = guardHotVariants(
      reference.filter(col(refStr).isNotNull && length(col(refStr)) > 0)
        .select(col(refId).as("l_id"), col(refStr).as("l_str"),
          explode(deletionVariants(col(refStr), maxDist)).as("variant")),
      maxBucketSize, dropHotKeys)
    val schema = spark.read.parquet(dirtyPath).schema
    graft.streaming.LandingZone.toMemory(spark, "append") { s =>
      s.readStream.schema(schema).parquet(dirtyPath)
        .filter(col(dirtyStr).isNotNull && length(col(dirtyStr)) > 0)
        .select(col(dirtyId).as("r_id"), col(dirtyStr).as("r_str"),
          explode(deletionVariants(col(dirtyStr), maxDist)).as("variant"))
        .join(broadcast(rv), "variant")
        .withColumn("dist", levenshtein(col("l_str"), col("r_str"), maxDist))
        .filter(col("dist") >= 0) // threshold form: -1 = beyond maxDist
        .select(col("l_id"), col("r_id"), col("l_str"), col("r_str"), col("dist"))
    }
  }

  /** Sorted-neighborhood blocking (Hernández & Stolfo's merge/purge,
    * SIGMOD'95) — the classic entity-resolution alternative to the
    * deletion-variant scheme: sort the corpus once by a blocking key,
    * slide a window of `window` consecutive records over the sorted
    * order, and verify every in-window pair with exact `levenshtein`.
    * Complementary recall to [[fuzzyJoin]]: FastSS finds any pair
    * within `maxDist` edits regardless of where the edit falls but
    * pays O(|s|^maxDist) variants per row; sorted-neighborhood pays
    * O(window) comparisons per row at ANY maxDist but only finds pairs
    * that sort near each other (a first-character typo escapes the
    * window — run a second pass on a rotated or reversed key for the
    * standard multi-pass mitigation).
    *
    * Scale shape — every step is shuffle-bounded with NO hot-key
    * hazard at all (a contract even the LSH family can't make):
    *  - the global sort rank is never a single global window: rows are
    *    range-bucketed by the first `bucketChars` characters of the
    *    key (a string prefix, so (bucket, key) order IS key order),
    *    ranked per-bucket by a distributed window, and shifted by
    *    cumulative bucket offsets — the only single-partition window
    *    runs over the per-bucket AGGREGATE (≤ |alphabet|^bucketChars
    *    rows), the Sampling.ntileBuckets pattern;
    *  - candidate pairing is an equi-join on the rank block
    *    ⌊(rank−1)/window⌋, with the right side duplicated into its
    *    predecessor block so cross-boundary windows meet: every block
    *    holds EXACTLY `window` rows (the last, fewer), so per-key join
    *    fan-out is ≤ 2·window by construction — skew cannot exist;
    *  - exact verify on candidates only: ≤ (window−1) comparisons per
    *    row, each an integer `levenshtein`.
    *
    * One bucket holding a huge fraction of keys (all names sharing a
    * 2-char prefix) makes that bucket's rank window one big sorted
    * partition — raise `bucketChars` to split it; correctness is
    * unaffected either way.
    *
    * Output: (id_a, id_b, key_a, key_b, dist), `a` the lower-RANK side
    * ((key, id) lexicographic), integer distance ≤ `maxDist`. NULL and
    * empty keys never pair (same contract as [[fuzzyJoin]]). Engine-
    * exact: ranks and distances are integers; no floats anywhere. */
  def sortedNeighborhood(
      df: DataFrame, idCol: String, keyCol: String,
      window: Int = 10, maxDist: Int = 2,
      bucketChars: Int = 2): DataFrame = {
    require(maxDist >= 0, "maxDist must be >= 0")
    rankWindowPairs(df, idCol, col(keyCol), window, bucketChars)
      .withColumn("dist", levenshtein(col("key_a"), col("key_b"), maxDist))
      .filter(col("dist") >= 0) // threshold form: early-exit verify
      .select(col("id_a"), col("id_b"), col("key_a"), col("key_b"),
        col("dist"))
  }

  /** Rank-window candidate pairs over one blocking key: (id_a, id_b,
    * key_a, key_b) with `a` the lower (key, id) rank. See
    * [[sortedNeighborhood]] for the scale contract. */
  private def rankWindowPairs(
      df: DataFrame, idCol: String, blockKey: Column,
      window: Int, bucketChars: Int): DataFrame = {
    require(window >= 2, "window must be >= 2 (a 1-window has no pairs)")
    require(bucketChars >= 1, "bucketChars must be >= 1")
    import org.apache.spark.sql.expressions.{Window => W}
    val rows = df
      .select(col(idCol).as("id"), blockKey.as("key"))
      .filter(col("key").isNotNull && length(col("key")) > 0)
      .withColumn("__bkt", substring(col("key"), 1, bucketChars))
    val counts = rows.groupBy(col("__bkt")).agg(count(lit(1)).as("__c"))
    val offsets = counts
      .withColumn("__off", coalesce(sum(col("__c")).over(
        W.orderBy(col("__bkt").asc)
          .rowsBetween(W.unboundedPreceding, -1)), lit(0L)))
      .select(col("__bkt"), col("__off"))
    val ranked = rows
      .withColumn("__rn", row_number().over(
        W.partitionBy(col("__bkt"))
          .orderBy(col("key").asc, col("id").asc)).cast("long"))
      .join(broadcast(offsets), "__bkt")
      .select(col("id"), col("key"),
        (col("__off") + col("__rn")).as("__rank"))
      // integer block id (`div`, not `/` — Spark's `/` is fractional)
      .withColumn("__blk", expr(s"(__rank - 1L) div ${window}L"))
    val left = ranked.select(col("__blk"), col("id").as("id_a"),
      col("key").as("key_a"), col("__rank").as("__ra"))
    val right = ranked.select(col("__blk"), col("id").as("id_b"),
      col("key").as("key_b"), col("__rank").as("__rb"))
    // each right row also visits its PREDECESSOR block, so a window
    // straddling a block boundary still meets; every candidate pair
    // materializes exactly once (the left row only sits in its home
    // block)
    val rightBoth = right.unionByName(
      right.withColumn("__blk", col("__blk") - 1))
    left.join(rightBoth, "__blk")
      .filter(col("__rb") > col("__ra") &&
        col("__rb") - col("__ra") <= window - 1)
      .select(col("id_a"), col("id_b"), col("key_a"), col("key_b"))
  }

  /** Multi-pass sorted-neighborhood — the standard mitigation for the
    * single-pass recall gap (a typo in the sort prefix pushes a true
    * match out of the window): run the rank-window candidate pass once
    * per BLOCKING key (e.g. the key itself, its reverse, a phonetic
    * code), union the candidates, and verify every distinct pair once
    * with exact `levenshtein` on the ORIGINAL key. Each pass costs one
    * sort + one block join (same no-hot-key contract as the single
    * pass); the union dedups on the id pair, so a match found by three
    * passes is verified and emitted once.
    *
    * Pair orientation is id-normalized (`id_a < id_b`) — rank order
    * differs between passes, so rank orientation has no cross-pass
    * meaning (the single-pass form keeps its lower-rank-first
    * contract).
    *
    * @param passKeys blocking-key expressions over `df`'s columns, one
    *                 per pass; rows whose pass key is NULL or empty
    *                 sit out that pass only
    */
  def sortedNeighborhoodMultiPass(
      df: DataFrame, idCol: String, keyCol: String,
      passKeys: Seq[Column], window: Int = 10, maxDist: Int = 2,
      bucketChars: Int = 2): DataFrame = {
    require(passKeys.nonEmpty, "need at least one blocking pass")
    require(maxDist >= 0, "maxDist must be >= 0")
    val base = df.filter(col(keyCol).isNotNull && length(col(keyCol)) > 0)
    val keys = base.select(col(idCol).as("id"), col(keyCol).as("key"))
    val cands = passKeys.map { pk =>
      rankWindowPairs(base, idCol, pk, window, bucketChars)
        .select(least(col("id_a"), col("id_b")).as("id_a"),
          greatest(col("id_a"), col("id_b")).as("id_b"))
    }.reduce(_ unionByName _).dropDuplicates("id_a", "id_b")
    cands
      .join(keys.select(col("id").as("id_a"), col("key").as("key_a")), "id_a")
      .join(keys.select(col("id").as("id_b"), col("key").as("key_b")), "id_b")
      .withColumn("dist", levenshtein(col("key_a"), col("key_b"), maxDist))
      .filter(col("dist") >= 0) // threshold form: early-exit verify
      .select(col("id_a"), col("id_b"), col("key_a"), col("key_b"),
        col("dist"))
  }

  /** Same hot-key contract as Dedup.guardHotGrams: the occupancy count
    * runs as a window over the join key (no extra shuffle beyond the
    * one the join pays anyway), and `assert_true` stays inside a
    * `filter` so pruning cannot elide it. */
  private def guardHotVariants(
      vs: DataFrame, maxBucketSize: Int, dropHotKeys: Boolean): DataFrame = {
    if (maxBucketSize == Int.MaxValue) vs
    else {
      val sized = vs.withColumn("__n",
        count(lit(1)).over(org.apache.spark.sql.expressions.Window
          .partitionBy(col("variant"))))
      if (dropHotKeys) sized.filter(col("__n") <= maxBucketSize).drop("__n")
      else sized.filter(assert_true(col("__n") <= maxBucketSize,
        concat(lit("fuzzyJoin: a deletion variant is shared by "), col("__n"),
          lit(s" rows (> maxBucketSize = $maxBucketSize) — the candidate " +
            "join would be quadratic in that count; raise maxBucketSize, " +
            "set dropHotKeys = true, or pre-dedup the join keys"))).isNull)
        .drop("__n")
    }
  }
}
