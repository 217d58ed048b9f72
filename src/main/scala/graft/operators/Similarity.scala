package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over an embedding column (`array<float>`):
  * brute-force cosine top-k as the exact baseline, hyperplane-LSH
  * near-dup pairs, and an IVF (inverted-file) index as the scale path.
  *
  * All vector math is `zip_with`/`aggregate` column algebra — codegen'd,
  * no UDFs, no driver-side loops. Probes and centroids are the only
  * broadcast-small sides; the big embedding table is never collected.
  */
object Similarity {

  def norm(v: Column): Column =
    sqrt(aggregate(v, lit(0d), (s, x) => s + x.cast("double") * x.cast("double")))

  /** Cosine similarity — native codegen'd expression (one fused pass
    * over both arrays, [[graft.plans.native.cosineSim]]). */
  def cosine(a: Column, b: Column): Column =
    graft.plans.native.cosineSim(a, b)

  /** L2-normalize a vector to unit length (zero vectors pass through
    * unchanged). After normalization, cosine reduces to a dot product —
    * normalize once at ingest, search many times. Native codegen'd
    * kernel: the declarative aggregate+transform HOF pair it replaces
    * ran interpreted at ~125 µs/row (dim 64) and dominated every PQ
    * stage that touched it. */
  def l2Normalize(v: Column): Column = graft.plans.native.l2Normalize(v)

  /** Symmetric int8 quantization for embedding storage: scale by
    * 127/max|x| and round — an 8× storage/shuffle reduction with the
    * scale kept alongside for dequantization. Returns
    * struct(codes: array<int> in [-127,127], scale: double). */
  def quantizeInt8(v: Column): Column = {
    val maxAbs = aggregate(v, lit(0d), (m, x) => greatest(m, abs(x.cast("double"))))
    val scale = when(maxAbs > 0d, maxAbs / lit(127d)).otherwise(lit(1d))
    struct(
      transform(v, x => round(x.cast("double") / scale).cast("int")).as("codes"),
      scale.as("scale"))
  }

  /** Dequantize int8 codes back to doubles. */
  def dequantizeInt8(q: Column): Column =
    transform(q.getField("codes"), c => c.cast("double") * q.getField("scale"))

  /** Sign random projection (Johnson–Lindenstrauss): compress
    * `dim`-dimensional embeddings to `outDim` dimensions with a ±1
    * projection matrix drawn from a seeded integer hash — no matrix is
    * materialized or broadcast, the kernel regenerates signs on the
    * fly, and the result is BIT-REPRODUCIBLE on any engine (the sum
    * order and the hash are part of the contract — see
    * [[graft.plans.VectorKernels.signProject]]). Distances are
    * preserved within the JL bound in expectation; use as the cheap
    * front of an ANN pipeline (project → index → shortlist → exact
    * rerank in the ORIGINAL space).
    *
    * Scale shape: a shuffle-free codegen'd projection — output rows
    * carry outDim doubles instead of dim floats, shrinking every
    * downstream shuffle by dim/(2·outDim)×. */
  def randomProject(vec: Column, outDim: Int, seed: Long = 0L): Column =
    graft.plans.native.signProject(vec, outDim, seed)

  /** Exact brute-force top-k: every probe against every vector, ranked
    * by cosine (desc, id asc tie-break). Probes must be small (they are
    * broadcast); the data side streams. O(N·P·dim) — the correctness
    * baseline the approximate paths are judged against.
    *
    * @param data   (idCol, vecCol)
    * @param probes (probeIdCol, probeVecCol), small
    */
  def bruteForceTopK(
      data: DataFrame, idCol: String, vecCol: String,
      probes: DataFrame, probeIdCol: String, probeVecCol: String,
      k: Int): DataFrame = {
    // the map side of the N·P score-and-shuffle must run at full
    // parallelism: the data relation is often a SMALL file (a few
    // row groups → a few scan splits), but each of its rows fans out
    // ×P — measured at the 10× replica, 4 scan splits serialized the
    // whole 10⁸-row window shuffle through 4 threads (155 s; 32-way
    // spread + slim rows: 11 s). An exchange of N rows buys
    // parallelism for N·P work — always worth it when splits are few.
    val par = data.sparkSession.sparkContext.defaultParallelism
    val spread =
      if (data.rdd.getNumPartitions < par) data.repartition(par) else data
    // shed the vector payloads BEFORE the rank shuffle: cosine is the
    // last consumer of either vector, and carrying two dim-sized
    // arrays per scored row through the window exchange multiplies
    // the shuffle bytes by ~7× at dim 16
    val scored = spread.crossJoin(broadcast(probes))
      .withColumn("cosine", cosine(col(vecCol), col(probeVecCol)))
      .filter(col(probeIdCol) =!= col(idCol))
      .select(col(probeIdCol), col(idCol), col("cosine"))
    val w = Window.partitionBy(col(probeIdCol))
      .orderBy(col("cosine").desc, col(idCol).asc)
    scored
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col(probeIdCol).as("probe_id"), col(idCol).as("neighbor_id"),
        col("rank"), col("cosine"))
  }

  /** Deterministic pseudo-random hyperplanes: component j of plane p is
    * a symmetric ±{1..} value derived from xxhash64 — no RNG, so plans
    * are reproducible and resumable (no Math.random in a distributed
    * plan). Returns `bits` sign-bits packed as a long; `seed` selects an
    * independent plane set (seed 0 = the original planes). */
  def hyperplaneSignature(vec: Column, bits: Int, seed: Long = 0L): Column =
    graft.plans.native.hyperplaneSig(vec, bits, seed)

  /** Embedding near-duplicate pairs: hyperplane-LSH buckets propose,
    * exact cosine disposes. Each band's bucket is an INDEPENDENT
    * `bits/bands`-bit signature (its own hyperplane set, seeded by the
    * band index), so the per-band bucket space is 2^(bits/bands) and
    * the TOTAL bit budget is not capped by one 64-bit word — at 10⁹
    * vectors, 4 bands × 30 bits is a valid configuration. Size the
    * bucket space to the corpus: 2^(bits/bands) must comfortably exceed
    * N / maxBucketSize, or buckets saturate and candidate generation
    * degrades toward all-pairs (the 10× scale rehearsal measured
    * exactly that with the old fixed-16-bucket layout). A true
    * near-duplicate pair flips each plane's sign with probability
    * θ/π ≈ acos(threshold)/π, so per-band recall is (1-θ/π)^(bits/bands)
    * and more bands buy recall back.
    *
    * `maxBucketSize` is the same skew guard [[Dedup.minHashNearDups]]
    * applies: a degenerate bucket (e.g. a spike of zero or constant
    * vectors hashing identically) would otherwise make the self-join
    * quadratic in its occupancy; buckets over the cap are dropped from
    * candidate generation (documented recall loss, never a silent
    * blow-up). Pass Int.MaxValue to disable (exact-audit callers).
    *
    * Candidate generation runs over (id, bucket) ONLY — the wide
    * vectors stay out of the bucket self-join and are fetched once per
    * surviving candidate pair (at 100 TB the vectors are the payload;
    * shuffling them per-band would multiply the shuffle by `bands`).
    *
    * `multiProbe` additionally probes every ONE-BIT-FLIP neighbour of
    * each bucket on one side of the self-join (Lv et al. 2007,
    * "Multi-probe LSH"): a pair whose band signatures differ in
    * exactly one plane still meets, lifting per-band recall from
    * p^b to p^b + b(1−p)p^(b−1) at the cost of a (bandBits+1)× larger
    * probe stream — recall bought with probes instead of bands, so
    * the SIGNATURE storage and the per-band shuffle of the indexed
    * side stay unchanged (the knob to reach for when the index is
    * the expensive side, e.g. a persisted bucket table). */
  def cosineNearDups(
      data: DataFrame, idCol: String, vecCol: String,
      threshold: Double = 0.95, bits: Int = 96, bands: Int = 8,
      maxBucketSize: Int = 1000, multiProbe: Boolean = false): DataFrame = {
    require(bands > 0 && bits % bands == 0, "bands must divide bits")
    val bandBits = bits / bands
    require(bandBits <= 64, s"bits/bands must be <= 64, got $bandBits")
    require(maxBucketSize > 0, "maxBucketSize must be > 0")
    val sigd = data.select(col(idCol).as("id"), col(vecCol).as("v"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val banded = sigd.select(col("id"),
      posexplode(array((0 until bands).map { b =>
        hyperplaneSignature(col("v"), bandBits, seed = b.toLong)
      }: _*)).as(Seq("band", "bucket")))
    val capped = BucketStore.capBuckets(banded, maxBucketSize)
    // multi-probe expands the PROBE side only (flips after the cap:
    // cap semantics stay defined on true bucket occupancy, and a probe
    // into a capped-out hot bucket finds its rows already gone)
    val probeSide =
      if (!multiProbe) capped
      else capped.select(col("id"), col("band"),
        explode(array(col("bucket") +: (0 until bandBits).map { j =>
          col("bucket").bitwiseXOR(lit(1L << j))
        }: _*)).as("bucket"))
    val candidates = probeSide.alias("a")
      .join(capped.alias("b"), Seq("band", "bucket"))
      .filter(col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .dropDuplicates("id_a", "id_b")
    val vecs = sigd.select(col("id"), col("v"))
    candidates
      .join(vecs.select(col("id").as("id_a"), col("v").as("v_a")), "id_a")
      .join(vecs.select(col("id").as("id_b"), col("v").as("v_b")), "id_b")
      .withColumn("cosine", cosine(col("v_a"), col("v_b")))
      .filter(col("cosine") >= threshold)
      .select(col("id_a"), col("id_b"), col("cosine"))
  }

  /** [[cosineNearDups]] with CORPUS-SIZED LSH parameters. A fixed band
    * width keeps the bucket space constant, so candidate count grows
    * ∝ N²/2^(bits/bands) — quadratic in N however wide the bands (the
    * 100× scale rehearsal measured it directly: 95× cost on 100× rows
    * with 12-bit bands). Tying the band width to the corpus instead —
    *
    *   bandBits = ⌈log₂(N / targetOccupancy)⌉
    *
    * — pins EXPECTED bucket occupancy at `targetOccupancy`, making the
    * candidate count ≈ N · targetOccupancy · bands / 2: LINEAR in N by
    * construction. The band count is then solved from the threshold:
    * a pair exactly at `threshold` collides in one band with
    * p₁ = (1 − acos(threshold)/π)^bandBits, and `recall` needs
    * bands = ⌈ln(1−recall) / ln(1−p₁)⌉.
    *
    * One `count()` of the corpus picks the layout (an O(1)-row action —
    * at 100 TB this is a metadata read). The bands cap (32) bounds the
    * shuffle multiplier; hitting it means the threshold is too LOW for
    * hyperplane LSH to prune effectively (acos(0.5)/π ≈ ⅓ of bits
    * disagree per plane) — at that density use [[bruteForceTopK]] /
    * [[ivfSearch]], which bound work per PROBE instead of per pair. */
  def cosineNearDupsAuto(
      data: DataFrame, idCol: String, vecCol: String,
      threshold: Double = 0.95, targetOccupancy: Int = 16,
      recall: Double = 0.9, maxBucketSize: Int = 1000): DataFrame = {
    require(threshold > 0.0 && threshold < 1.0,
      s"threshold must be in (0, 1), got $threshold")
    require(targetOccupancy > 0, "targetOccupancy must be > 0")
    require(recall > 0.0 && recall < 1.0,
      s"recall must be in (0, 1), got $recall")
    val n = math.max(1L, data.count())
    val bandBits = math.max(4, math.min(62,
      math.ceil(math.log(n.toDouble / targetOccupancy) / math.log(2.0)).toInt))
    val p1 = math.pow(1.0 - math.acos(threshold) / math.Pi, bandBits)
    val bands = math.max(1, math.min(32,
      math.ceil(math.log1p(-recall) / math.log1p(-p1)).toInt))
    cosineNearDups(data, idCol, vecCol, threshold,
      bits = bandBits * bands, bands = bands, maxBucketSize = maxBucketSize)
  }

  /** SemDeDup-style semantic deduplication (Abbas et al., 2023,
    * "SemDeDup: Data-efficient learning at web-scale through semantic
    * deduplication"): k-means clusters bound the pairwise comparison —
    * near-duplicate pairs are sought only WITHIN a cluster, pairs
    * at/above `threshold` connect into duplicate groups, and each group
    * keeps its lowest-id member. Complements [[cosineNearDupsAuto]]:
    * LSH buckets by random direction and needs high thresholds to
    * prune; clustering buckets by learned structure and stays usable
    * at the ~0.9 "semantic duplicate" band where hyperplane collision
    * probabilities are too flat.
    *
    * Scale shape: with k clusters of ~N/k vectors the all-pairs N²
    * becomes N²/k — pick nClusters ∝ N / targetClusterSize to pin
    * per-cluster work (the same sizing rule cosineNearDupsAuto applies
    * to its bucket space). The vectors shuffle ONCE by centroid id for
    * the within-cluster self-join; centroids themselves stay k × dim
    * driver-side scalars (see [[ivfIndex]]). `maxClusterSize` guards a
    * degenerate cluster the way `maxBucketSize` guards an LSH bucket:
    * over-cap clusters are excluded from pair generation — documented
    * recall loss, never a silent quadratic blow-up; pass Int.MaxValue
    * to disable (exact-audit callers). Cross-cluster near-duplicates
    * are invisible by construction — the SemDeDup trade-off; buy
    * recall with more `iters`, not a lower threshold.
    *
    * Reference-analogue: csvplus resolves duplicate groups to one
    * survivor via ResolveDuplicates (csvplus.go:809); this is the same
    * contract with "same key" generalized to "same semantic cluster
    * and cosine ≥ threshold" and `keep` standing in for the
    * user-supplied resolver.
    *
    * `keep` picks the group survivor: `"minId"` (deterministic default),
    * `"leastCentral"` (lowest cosine to its centroid — the SemDeDup
    * paper's rule: of a group of semantic duplicates, the most atypical
    * member preserves the most diversity), or `"mostCentral"` (the
    * cleanest exemplar — the prototype-selection variant). Centrality
    * ties fall back to the smaller id, so exact-copy groups stay
    * deterministic under every policy.
    *
    * @return survivors `(id, centroid_id)` — every input vector that
    *         is its duplicate-group's survivor or has no
    *         within-cluster duplicate
    */
  def semanticDedup(
      data: DataFrame, idCol: String, vecCol: String,
      nClusters: Int, threshold: Double = 0.95, iters: Int = 2,
      maxClusterSize: Int = 10000, keep: String = "minId"): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0,
      s"threshold must be in (0, 1], got $threshold")
    require(maxClusterSize > 1, s"maxClusterSize must be > 1, got $maxClusterSize")
    require(Set("minId", "leastCentral", "mostCentral")(keep),
      s"keep must be minId | leastCentral | mostCentral, got '$keep'")
    val (assign, cents) = ivfIndex(data, idCol, vecCol, nClusters, iters)
    val inPlay =
      if (maxClusterSize == Int.MaxValue) assign
      else assign
        .withColumn("__csz",
          count(lit(1)).over(Window.partitionBy(col("centroid_id"))))
        .filter(col("__csz") <= maxClusterSize)
        .drop("__csz")
    val edges = inPlay
      .select(col("centroid_id"), col("id").as("id_a"), col("v").as("v_a"))
      .join(inPlay.select(col("centroid_id"), col("id").as("id_b"),
        col("v").as("v_b")), "centroid_id")
      .filter(col("id_a") < col("id_b"))
      .filter(cosine(col("v_a"), col("v_b")) >= threshold)
      .select(col("id_a"), col("id_b"))
    val comps = Dedup.connectedComponents(edges, "id_a", "id_b")
    if (keep == "minId") {
      val losers = comps.filter(col("id") =!= col("component")).select(col("id"))
      assign.join(losers, Seq("id"), "left_anti")
        .select(col("id"), col("centroid_id"))
    } else {
      // centrality = cosine to the OWN cluster's centroid; the k-row
      // centroid table broadcasts. One winner per component by
      // (policy-signed centrality, id) — map-side-combined min_by, so a
      // huge duplicate group costs one candidate per partition
      val sign = if (keep == "leastCentral") lit(1d) else lit(-1d)
      val grouped = comps
        .join(assign, Seq("id"))
        .join(broadcast(cents), Seq("centroid_id"))
        .withColumn("__key",
          struct((sign * cosine(col("v"), col("cvec"))).as("c"),
            col("id").as("id")))
      val winners = grouped
        .groupBy(col("component"))
        .agg(min_by(col("id"), col("__key")).as("id"))
        .select(col("id"))
      val singletons = assign
        .join(comps.select(col("id")), Seq("id"), "left_anti")
      singletons.select(col("id"), col("centroid_id")).unionByName(
        assign.join(winners, Seq("id"), "left_semi")
          .select(col("id"), col("centroid_id")))
    }
  }

  /** IVF index: k-means-lite centroids (deterministic init = lowest
    * ids, `iters` Lloyd rounds), every vector assigned to its nearest
    * centroid. At scale the assignment table would be written bucketed
    * by centroid id so probes only read their shortlist partitions.
    *
    * Centroids live on the DRIVER between rounds (k × dim doubles —
    * tiny by construction, the standard k-means layout, same as Spark
    * MLlib): each Lloyd round is then ONE distributed pass where the
    * nearest-centroid argmax is a broadcast-literal codegen'd
    * expression over the vectors — no per-round shuffle of the (wide)
    * vector table, no lineage growth across rounds. Only the k × dim
    * per-dimension means ever travel to the driver.
    *
    * @return (assignments: id, vec, centroid_id; centroids: centroid_id, cvec)
    */
  def ivfIndex(
      data: DataFrame, idCol: String, vecCol: String,
      nCentroids: Int, iters: Int = 2): (DataFrame, DataFrame) = {
    require(nCentroids >= 2, "nCentroids must be >= 2")
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{ArrayType, DoubleType, IntegerType, StructField, StructType}
    val spark = data.sparkSession
    val d = data.select(col(idCol).as("id"),
      transform(col(vecCol), x => x.cast("double")).as("v"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

    // deterministic seed: the nCentroids lowest-id vectors
    var centroids: IndexedSeq[(Int, Seq[Double])] =
      d.orderBy(col("id")).limit(nCentroids).collect().toIndexedSeq
        .zipWithIndex.map { case (r, i) => (i + 1, r.getSeq[Double](1)) }

    // nearest centroid id: max cosine, ties → smallest id, evaluated as
    // ONE codegen'd call against the flattened L2-normalized centroid
    // matrix (a plan reference object — see native.nearestCentroid). A
    // greatest()-of-k expression tree was quadratic in practice: at
    // k=800 the generated method blew past JIT limits and the 100×
    // rehearsal measured 44 s for the assignment-dominated pass; the
    // fused kernel keeps code size k-independent
    def nearest(cents: IndexedSeq[(Int, Seq[Double])]): Column = {
      // centroid ids are 1..k consecutive by construction, so the
      // kernel's (row position + 1) IS the centroid id
      require(cents.map(_._1) == (1 to cents.size),
        "ivfIndex: centroid ids must be consecutive from 1")
      val flat = cents.flatMap { case (_, cv) =>
        val n = math.sqrt(cv.map(x => x * x).sum)
        if (n > 0) cv.map(_ / n) else cv
      }.toArray
      graft.plans.native.nearestCentroid(col("v"), flat, cents.size)
    }
    def assign(cents: IndexedSeq[(Int, Seq[Double])]): DataFrame =
      // empty input → no seed centroids; emit the (empty) frame with
      // the contract schema instead of calling nearest() on no args
      if (cents.isEmpty) d.withColumn("centroid_id", lit(0))
      else d.withColumn("centroid_id", nearest(cents))

    for (_ <- 0 until iters) {
      // mean update as ONE vector-sum aggregate per centroid
      // (graft.functions.Udafs.vecSum): each partition contributes a
      // single dim-length buffer per centroid and k rows return to the
      // driver — the posexplode → groupBy(cid, pos) form it replaces
      // multiplied the input by dim rows before the partial agg could
      // reduce anything. Empty centroids keep their previous position
      // (standard k-means edge case)
      val means = assign(centroids)
        .filter(col("centroid_id").isNotNull)
        .groupBy(col("centroid_id"))
        .agg(graft.functions.Udafs.vecSum(col("v")).as("s"),
          count(col("v")).as("n"))
        .collect()
      val byCentroid = means.flatMap { r =>
        val n = r.getAs[Long]("n")
        val s = r.getSeq[Double](r.fieldIndex("s"))
        if (n == 0 || s == null) None
        else Some(r.getAs[Int]("centroid_id") -> s.map(_ / n))
      }.toMap
      centroids = centroids.map { case (cid, old) =>
        (cid, byCentroid.getOrElse(cid, old))
      }
    }
    val centDf = spark.createDataFrame(
      java.util.Arrays.asList(centroids.map { case (cid, cv) => Row(cid, cv) }: _*),
      StructType(Seq(StructField("centroid_id", IntegerType, nullable = false),
        StructField("cvec", ArrayType(DoubleType, containsNull = false), nullable = false))))
    (assign(centroids), centDf)
  }

  /** A trained product-quantization codebook: `m` contiguous subspaces
    * of `subDim` dims, `k` sub-centroids each. `flat` layout is
    * `((mi*k + code-1)*subDim + j)` — the transport format the native
    * kernels consume directly. m·k·subDim doubles (e.g. 8×256×16 =
    * 32 768) — driver/broadcast-sized by construction, the same
    * contract as [[ivfIndex]]'s centroid matrix. */
  final case class PqCodebook(m: Int, k: Int, subDim: Int, flat: Array[Double]) {
    require(flat.length == m * k * subDim,
      s"PqCodebook: ${flat.length} values do not tile $m×$k×$subDim")
    def dim: Int = m * subDim

    /** One row per (subspace, code) with its sub-centroid — the
      * persistence form ([[Similarity.pqCodebookFromDF]] reloads it;
      * same build-once/reuse contract as Index.WriteTo, csvplus.go:655). */
    def toDF(spark: org.apache.spark.sql.SparkSession): DataFrame = {
      import org.apache.spark.sql.Row
      import org.apache.spark.sql.types.{ArrayType, DoubleType, IntegerType, StructField, StructType}
      val rows = for (mi <- 0 until m; c <- 0 until k) yield {
        val off = (mi * k + c) * subDim
        Row(mi, c + 1, (0 until subDim).map(j => flat(off + j)))
      }
      spark.createDataFrame(
        java.util.Arrays.asList(rows: _*),
        StructType(Seq(
          StructField("subspace", IntegerType, nullable = false),
          StructField("code", IntegerType, nullable = false),
          StructField("cvec", ArrayType(DoubleType, containsNull = false), nullable = false))))
    }
  }

  /** Reload a codebook persisted via [[PqCodebook.toDF]]. The frame is
    * m·k rows — a driver-sized collect by construction. */
  def pqCodebookFromDF(df: DataFrame): PqCodebook = {
    val rows = df.select(col("subspace"), col("code"), col("cvec")).collect()
    require(rows.nonEmpty, "pqCodebookFromDF: empty codebook frame")
    val m = rows.iterator.map(_.getInt(0)).max + 1
    val k = rows.iterator.map(_.getInt(1)).max
    val subDim = rows.head.getSeq[Double](2).size
    require(rows.length == m * k,
      s"pqCodebookFromDF: ${rows.length} rows do not tile m=$m × k=$k")
    val flat = new Array[Double](m * k * subDim)
    rows.foreach { r =>
      val off = (r.getInt(0) * k + r.getInt(1) - 1) * subDim
      val cv = r.getSeq[Double](2)
      require(cv.size == subDim, "pqCodebookFromDF: ragged sub-centroid")
      var j = 0; while (j < subDim) { flat(off + j) = cv(j); j += 1 }
    }
    PqCodebook(m, k, subDim, flat)
  }

  /** Train a product-quantization codebook: per-subspace k-means-lite
    * (deterministic init = the k lowest-id vectors' subvectors, `iters`
    * Lloyd rounds, true squared-L2 assignment). Mirrors [[ivfIndex]]'s
    * layout — centroids live on the driver between rounds; each round
    * is ONE distributed pass where the m-way assignment is a single
    * codegen'd [[graft.plans.native.pqEncode]] call, followed by a
    * (subspace, code) vector-sum aggregate whose result is m·k rows.
    * The posexplode multiplies rows by m (≤ 16, a constant), not dim.
    *
    * For cosine search semantics, [[l2Normalize]] the vectors BEFORE
    * training/encoding — then the ADC dot product ranks identically to
    * cosine ([[pqSearch]] documents the contract).
    *
    * If the corpus has fewer than k vectors the trailing centroids
    * repeat the last available seed (harmless: argmin picks the lowest
    * code among duplicates, and empty codes keep their position —
    * standard k-means edge case). */
  def pqTrain(
      data: DataFrame, idCol: String, vecCol: String,
      m: Int, k: Int = 16, iters: Int = 2): PqCodebook = {
    require(m > 0 && k > 0, s"pqTrain: m and k must be positive, got m=$m k=$k")
    val d = data.select(col(idCol).as("id"),
      transform(col(vecCol), x => x.cast("double")).as("v"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val seeds = d.orderBy(col("id")).limit(k).collect()
      .map(_.getSeq[Double](1))
    require(seeds.nonEmpty, "pqTrain: empty input")
    val dim = seeds.head.size
    require(dim % m == 0, s"pqTrain: m=$m must divide dim=$dim")
    val subDim = dim / m
    val flat = new Array[Double](m * k * subDim)
    for (mi <- 0 until m; c <- 0 until k) {
      val sv = seeds(math.min(c, seeds.length - 1))
      val off = (mi * k + c) * subDim
      var j = 0; while (j < subDim) { flat(off + j) = sv(mi * subDim + j); j += 1 }
    }
    var cb = PqCodebook(m, k, subDim, flat)
    for (_ <- 0 until iters) {
      val means = d
        .select(posexplode(graft.plans.native.pqEncode(col("v"), cb.flat, m, k))
          .as(Seq("subspace", "code")),
          col("v"))
        .withColumn("sv", slice(col("v"),
          col("subspace") * subDim + 1, lit(subDim)))
        .groupBy(col("subspace"), col("code"))
        .agg(graft.functions.Udafs.vecSum(col("sv")).as("s"),
          count(lit(1)).as("n"))
        .collect()
      val next = cb.flat.clone()
      means.foreach { r =>
        val n = r.getAs[Long]("n")
        val s = r.getSeq[Double](r.fieldIndex("s"))
        if (n > 0 && s != null && s.size == subDim) {
          val off = (r.getInt(0) * k + r.getInt(1) - 1) * subDim
          var j = 0; while (j < subDim) { next(off + j) = s(j) / n; j += 1 }
        }
      }
      cb = PqCodebook(m, k, subDim, next)
    }
    cb
  }

  /** Encode vectors to PQ codes: adds `codesCol` (array<int>, length m,
    * values 1..k). At 100 TB this is the ingest-side write: the code
    * table is dim·4/m× smaller than the float vectors (64-dim float →
    * 8 ints: the payload the search scan reads shrinks 32× before any
    * varint/byte packing), and encode itself is one codegen'd
    * projection — no shuffle, no UDF. */
  def pqEncode(data: DataFrame, vecCol: String, cb: PqCodebook,
      codesCol: String = "pq_codes"): DataFrame =
    data.withColumn(codesCol,
      graft.plans.native.pqEncode(col(vecCol), cb.flat, cb.m, cb.k))

  /** [[pqEncode]] with all m codes PACKED into one 8-byte long (4 bits
    * per subspace; requires k ≤ 16, m ≤ 16 — the default config).
    * An array<int> code column still pays ~20 bytes of array header
    * per row; the packed word is the format a 100 TB code table
    * should scan and shuffle. [[pqSearch]]/[[pqSearchRerank]] accept
    * either format (dispatch on the column type). */
  def pqEncodePacked(data: DataFrame, vecCol: String, cb: PqCodebook,
      codesCol: String = "pq_code"): DataFrame =
    data.withColumn(codesCol,
      graft.plans.native.pqEncodePacked(col(vecCol), cb.flat, cb.m, cb.k))

  /** PQ top-k search by asymmetric distance: every probe scored against
    * every CODE row (the corpus side carries m ints, never the
    * vectors), ranked by ADC dot (desc, id asc tie-break). Probes are
    * broadcast; the code table streams — the same shape as
    * [[bruteForceTopK]] but the scan payload is the quantized codes.
    *
    * RANKING CONTRACT: ADC approximates ⟨probe, vector⟩. Per probe the
    * probe's own norm is constant, so dot-ranking equals cosine-ranking
    * iff the corpus vectors were L2-NORMALIZED before
    * [[pqTrain]]/[[pqEncode]] — do that at ingest (one projection).
    * For exact final ordering wrap with [[pqSearchRerank]]. */
  def pqSearch(
      codes: DataFrame, idCol: String, codesCol: String,
      probes: DataFrame, probeIdCol: String, probeVecCol: String,
      cb: PqCodebook, k: Int): DataFrame = {
    val p = probes.select(col(probeIdCol).as("probe_id"),
      transform(col(probeVecCol), x => x.cast("double")).as("pv"))
    val packed = codes.schema(codesCol).dataType == org.apache.spark.sql.types.LongType
    def adc(codesC: Column, probeC: Column): Column =
      if (packed) graft.plans.native.pqAdcPacked(codesC, probeC, cb.flat, cb.m, cb.k)
      else graft.plans.native.pqAdc(codesC, probeC, cb.flat, cb.m, cb.k)
    val scored = codes.select(col(idCol).as("id"), col(codesCol).as("codes"))
      .crossJoin(broadcast(p))
      .filter(col("probe_id") =!= col("id"))
      .withColumn("adc_dot", adc(col("codes"), col("pv")))
    val w = Window.partitionBy(col("probe_id"))
      .orderBy(col("adc_dot").desc, col("id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("probe_id"), col("id").as("neighbor_id"),
        col("rank"), col("adc_dot"))
  }

  /** Production PQ retrieval: ADC proposes a `shortlist` per probe from
    * the code table, exact cosine over the FETCHED shortlist vectors
    * disposes — the scan streams m-int codes, and only
    * |probes|·shortlist full vectors are ever joined in (at 100 TB the
    * vectors are the payload; this bounds their movement by the
    * shortlist, not the corpus). Output matches [[bruteForceTopK]]:
    * (probe_id, neighbor_id, rank, cosine). */
  def pqSearchRerank(
      codes: DataFrame, idCol: String, codesCol: String,
      vectors: DataFrame, vecIdCol: String, vecCol: String,
      probes: DataFrame, probeIdCol: String, probeVecCol: String,
      cb: PqCodebook, k: Int, shortlist: Int): DataFrame = {
    require(shortlist >= k, s"pqSearchRerank: shortlist=$shortlist < k=$k")
    val cand = pqSearch(codes, idCol, codesCol, probes, probeIdCol,
      probeVecCol, cb, shortlist)
      .select(col("probe_id"), col("neighbor_id"))
    val p = probes.select(col(probeIdCol).as("probe_id"),
      col(probeVecCol).as("pv"))
    val rescored = cand
      .join(vectors.select(col(vecIdCol).as("neighbor_id"), col(vecCol).as("nv")),
        "neighbor_id")
      .join(broadcast(p), "probe_id")
      .withColumn("cosine", cosine(col("pv"), col("nv")))
    val w = Window.partitionBy(col("probe_id"))
      .orderBy(col("cosine").desc, col("neighbor_id").asc)
    rescored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("probe_id"), col("neighbor_id"), col("rank"), col("cosine"))
  }

  /** Approximate k-NN GRAPH: every vector's `k` nearest neighbours by
    * exact cosine, with candidate generation bounded by IVF
    * multi-assignment — each vector posts to its `nprobe` nearest
    * centroid lists (one codegen'd [[graft.plans.native.nearestCentroids]]
    * call), and only vectors sharing a list are ever compared, so a
    * near-boundary pair still meets in SOME common list with high
    * probability while the all-pairs N² never materializes. The graph
    * is the backbone structure of modern corpus curation (graph
    * clustering, density/outlier estimation, label propagation);
    * [[semanticDedup]] is its thresholded special case.
    *
    * Scale shape — the INVERSE of the [[cosineNearDups]] transport
    * rule, deliberately: near-dup pairs are sparse (fetch vectors per
    * surviving candidate), but a k-NN graph generates listSize
    * candidates PER NODE — orders of magnitude more candidate rows
    * than vector rows — so here the vectors ride the list shuffle
    * (nprobe × N rows, one exchange) and scoring + per-list top-k run
    * WHERE THE JOIN LEFT THEM: the (list_id, src) window is satisfied
    * by the join's list_id hash partitioning, so the full candidate
    * stream never crosses the network again (the first cut fetched
    * vectors per candidate — 100M-row joins at the 100× rehearsal —
    * and memory-thrashed). Per-list top-k loses nothing: a pair
    * outside the top-k of EVERY shared list is dominated by ≥ k
    * closer candidates in each, so it cannot enter the merged top-k.
    * Pick nCentroids ∝ N / targetListSize to pin per-list work;
    * `maxListSize` caps a degenerate list the way `maxBucketSize`
    * caps an LSH bucket — documented recall loss, never a silent
    * quadratic.
    *
    * @return directed edges (id, neighbor_id, rank, cosine) — up to k
    *         per source vector, rank 1 = nearest
    */
  def knnGraph(
      data: DataFrame, idCol: String, vecCol: String,
      k: Int, nCentroids: Int, iters: Int = 2, nprobe: Int = 2,
      maxListSize: Int = 10000): DataFrame = {
    require(k > 0, s"knnGraph: k must be positive, got $k")
    require(nprobe > 0, s"knnGraph: nprobe must be positive, got $nprobe")
    require(maxListSize > 1, s"knnGraph: maxListSize must be > 1")
    val (assign, centsDf) = ivfIndex(data, idCol, vecCol, nCentroids, iters)
    // k × dim doubles — driver-sized by the ivfIndex contract
    val cents = centsDf.collect()
      .map(r => (r.getInt(0), r.getSeq[Double](1))).sortBy(_._1)
    val flat = cents.flatMap { case (_, cv) =>
      val n = math.sqrt(cv.map(x => x * x).sum)
      if (n > 0) cv.map(_ / n) else cv
    }
    val lists = assign.select(col("id"), col("v"),
      explode(graft.plans.native.nearestCentroids(
        col("v"), flat, cents.length, nprobe)).as("list_id"))
    val capped = lists
      .withColumn("__lsz",
        count(lit(1)).over(Window.partitionBy(col("list_id"))))
      .filter(col("__lsz") <= maxListSize)
      .drop("__lsz")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // score inside the list join: the (list_id, src) window is
    // satisfied by the join's list_id partitioning, so the candidate
    // stream reduces to ≤ k rows per (list, src) without another
    // exchange. A pair sharing several lists is scored once per
    // shared list (identical deterministic cosine) and deduped in the
    // small merged stream
    val perList = capped.alias("a")
      .join(capped.alias("b"), Seq("list_id"))
      .filter(col("a.id") =!= col("b.id"))
      .select(col("list_id"), col("a.id").as("src"), col("b.id").as("dst"),
        cosine(col("a.v"), col("b.v")).as("cosine"))
      .withColumn("__lrn", row_number().over(
        Window.partitionBy(col("list_id"), col("src"))
          .orderBy(col("cosine").desc, col("dst").asc)))
      .filter(col("__lrn") <= k)
      .select(col("src"), col("dst"), col("cosine"))
      .dropDuplicates("src", "dst")
    val w = Window.partitionBy(col("src"))
      .orderBy(col("cosine").desc, col("dst").asc)
    perList.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("src").as("id"), col("dst").as("neighbor_id"),
        col("rank"), col("cosine"))
  }

  /** Hard-negative mining for embedding/contrastive training data:
    * for each query, the `n` corpus items MOST similar to it that are
    * NOT its labeled positives — the negatives that actually move a
    * contrastive loss (random negatives are trivially separable;
    * "hard" ones sit near the decision boundary). Standard recipe in
    * dense-retrieval training (DPR, ANCE): mine with an ANN index,
    * drop the positives, keep the top of what remains.
    *
    * Shape: one [[bruteForceTopK]]/[[pqSearchRerank]]-style scored
    * scan (queries broadcast), positives removed by a broadcast
    * anti-join on (query, item) — the positives table is the small
    * side by construction — then the per-query top-n window. Mining
    * depth `k` must exceed `n` by at least the max positives per
    * query or the window runs short (the require guards the common
    * misconfiguration).
    *
    * @param queries   (queryIdCol, queryVecCol) — small, broadcast
    * @param positives (queryIdCol, posIdCol) labeled positive pairs
    * @return (query_id, neighbor_id, rank, cosine) — up to n hard
    *         negatives per query, rank 1 = hardest
    */
  def mineHardNegatives(
      corpus: DataFrame, idCol: String, vecCol: String,
      queries: DataFrame, queryIdCol: String, queryVecCol: String,
      positives: DataFrame, posQueryCol: String, posIdCol: String,
      n: Int, k: Int): DataFrame = {
    require(n > 0, s"mineHardNegatives: n must be positive, got $n")
    require(k >= n, s"mineHardNegatives: mining depth k=$k < n=$n — " +
      "mine deeper than the answer you keep")
    val mined = bruteForceTopK(corpus, idCol, vecCol,
      queries, queryIdCol, queryVecCol, k)
    val pos = positives.select(col(posQueryCol).as("probe_id"),
      col(posIdCol).as("neighbor_id"))
    val negatives = mined.join(broadcast(pos),
      Seq("probe_id", "neighbor_id"), "left_anti")
    val w = Window.partitionBy(col("probe_id"))
      .orderBy(col("cosine").desc, col("neighbor_id").asc)
    negatives
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= n)
      .select(col("probe_id").as("query_id"), col("neighbor_id"),
        col("rank"), col("cosine"))
  }

  /** Persist a searchable PQ index: the codebook (m·k rows) and the
    * packed-code table land as parquet under `path`. The build-once/
    * reuse-many contract of csvplus's Index.WriteTo (csvplus.go:655)
    * applied to the ANN stack — the expensive part (codebook training
    * + corpus encode) happens once; every later search or ingest
    * batch reads the artifact. Returns the trained codebook. */
  def writePqIndex(
      data: DataFrame, idCol: String, vecCol: String, path: String,
      m: Int = 8, k: Int = 16, iters: Int = 2): PqCodebook = {
    val spark = data.sparkSession
    val normed = data.select(col(idCol).as("id"), l2Normalize(col(vecCol)).as("nv"))
    val cb = pqTrain(normed, "id", "nv", m, k, iters)
    cb.toDF(spark).write.mode("overwrite").parquet(s"$path/codebook")
    PqCodes.create(
      pqEncodePacked(normed, "nv", cb).select(col("id"), col("pq_code")), path)
    cb
  }

  /** The PQ index's code relation (id, pq_code): 8 bytes a vector,
    * unclustered — a search scans it whole. */
  private val PqCodes = BucketStore.Relation("codes")

  /** The IVF-PQ index's code relation (id, pq_code, centroid_id),
    * PARTITIONED BY list id so a search's probed lists prune the scan. */
  private val IvfCodes =
    BucketStore.Relation("codes", partitionCols = Seq("centroid_id"))

  /** Append a batch to a persisted PQ index: the batch is encoded with
    * the EXISTING codebook (codebooks are stable artifacts — retrain
    * is a rebuild, not an append, exactly like the dedup signature
    * table's contract in Dedup.nearDedupIngest) and its codes are
    * appended to the code table. Cost ∝ batch, never corpus. Batch
    * ids must be fresh; the caller owns id discipline (same contract
    * as the reference's unique index, csvplus.go:740). */
  def appendToPqIndex(
      spark: org.apache.spark.sql.SparkSession, path: String,
      batch: DataFrame, idCol: String, vecCol: String): PqCodebook = {
    val cb = pqCodebookFromDF(spark.read.parquet(s"$path/codebook"))
    PqCodes.append(spark, path) {
      pqEncodePacked(
        batch.select(col(idCol).as("id"), l2Normalize(col(vecCol)).as("nv")),
        "nv", cb)
        .select(col("id"), col("pq_code"))
    }
    cb
  }

  /** Remove vectors from a persisted PQ index — the ANN side of the
    * takedown contract ([[Dedup.retireFromSignatureTable]]): every
    * `codes` row whose id is in `retired` drops and the relation
    * rewrites via the shared generation swap, so a retired vector can
    * never again be proposed by ADC (and therefore never served —
    * the rerank join only sees shortlisted ids). The codebook is
    * untouched: it holds k·m centroids, no per-document data. Cost ∝
    * code table (a full rewrite, 8 bytes/vector), independent of the
    * retirement list; `numFiles > 0` compacts the rewrite in passing.
    * @return number of indexed vectors removed */
  def retireFromPqIndex(
      spark: org.apache.spark.sql.SparkSession, path: String,
      retired: DataFrame, idCol: String, numFiles: Int = 0): Long =
    BucketStore.retire(spark, path, Seq(PqCodes), "id", retired, idCol,
      numFiles)

  /** Compact a persisted PQ index's code table to `numFiles` files —
    * the small-file cleanup after many [[appendToPqIndex]] generations
    * ([[Dedup.compactSignatureTable]]'s rationale; a pure rewrite). */
  def compactPqIndex(
      spark: org.apache.spark.sql.SparkSession, path: String,
      numFiles: Int): Unit =
    BucketStore.compact(spark, path, numFiles, Seq(PqCodes))

  // ───────── persisted IVF-PQ index (partition-pruned inverted lists) ─────────

  /** Persist a COMPLETE IVF-PQ retrieval index under `path` — the
    * 100 TB ANN layout (Jégou et al. 2011) made storage-real:
    *
    *  - `centroids/`: the coarse quantizer (nlist rows);
    *  - `codebook/`:  the PQ codebook relation;
    *  - `codes/`:     (id, pq_code) PARTITIONED BY `centroid_id` —
    *    "untouched lists are never scanned" enforced by FILE PRUNING:
    *    a search's probed list ids become partition filters at the
    *    scan ([[searchIvfPqIndex]]), so the bytes read per query are
    *    the probed lists' code files, not the corpus.
    *
    * The in-memory composition ([[ivfIndex]] → [[pqEncodePacked]] →
    * [[ivfPqSearch]]) stays the per-session form; this artifact is
    * the nightly-build/online-serve shape, with the same append /
    * retire / compact maintenance as the other stores. */
  def writeIvfPqIndex(
      data: DataFrame, idCol: String, vecCol: String, path: String,
      nlist: Int, m: Int = 8, k: Int = 16, iters: Int = 2): Unit = {
    val spark = data.sparkSession
    val normed = data
      .select(col(idCol).as("id"), l2Normalize(col(vecCol)).as("nv"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val (assigned, centroids) = ivfIndex(normed, "id", "nv", nlist, iters)
    centroids.write.mode("overwrite").parquet(s"$path/centroids")
    val cb = pqTrain(normed, "id", "nv", m, k, iters)
    cb.toDF(spark).write.mode("overwrite").parquet(s"$path/codebook")
    IvfCodes.create(
      pqEncodePacked(assigned, "v", cb)
        .select(col("id"), col("pq_code"), col("centroid_id")), path)
    normed.unpersist(blocking = false)
  }

  /** Append a batch to a persisted IVF-PQ index: vectors assign to
    * their nearest STORED centroid (the build's fused kernel — max
    * cosine, ties → smallest id) and encode with the STORED codebook;
    * the new code rows append into their lists' partition dirs. Both
    * quantizers are stable artifacts (retrain = rebuild, the
    * [[appendToPqIndex]] contract); cost ∝ batch. */
  def appendToIvfPqIndex(
      spark: org.apache.spark.sql.SparkSession, path: String,
      batch: DataFrame, idCol: String, vecCol: String): Unit = {
    val cb = pqCodebookFromDF(spark.read.parquet(s"$path/codebook"))
    val cents = spark.read.parquet(s"$path/centroids")
      .orderBy(col("centroid_id")).collect()
      .map(r => (r.getInt(0), r.getSeq[Double](1)))
    require(cents.map(_._1).toSeq == (1 to cents.length),
      "appendToIvfPqIndex: stored centroid ids must be consecutive from 1")
    val flat = cents.flatMap { case (_, cv) =>
      val n = math.sqrt(cv.map(x => x * x).sum)
      if (n > 0) cv.map(_ / n) else cv
    }.toArray
    val assigned = batch
      .select(col(idCol).as("id"), l2Normalize(col(vecCol)).as("nv"))
      .withColumn("v", transform(col("nv"), x => x.cast("double")))
      .withColumn("centroid_id",
        graft.plans.native.nearestCentroid(col("v"), flat, cents.length))
    IvfCodes.append(spark, path) {
      pqEncodePacked(assigned, "v", cb)
        .select(col("id"), col("pq_code"), col("centroid_id"))
    }
  }

  /** A RESOLVED handle on a persisted IVF-PQ index — the serving-side
    * open-once contract: the codebook collects, and the centroid/code
    * relations resolve their file listings, exactly once; every
    * [[searchIvfPqIndex]] against the handle then pays only probed-
    * list work. The distinction is measured (PERF_NOTES_r11 §5): at
    * nlist 10⁴ a FRESH open lists 10⁴ partition directories (~25 s on
    * a local FS) while the probed scan itself feeds ~10² rows — a
    * per-open constant that must not be paid per query. The handle is
    * a SNAPSHOT of the generation it resolved: appends/rewrites
    * committed later are not visible until re-open (the Store
    * retention contract gives an open handle one maintenance cycle). */
  final case class IvfPqIndexHandle(
      cb: PqCodebook, centroids: DataFrame, codes: DataFrame)

  /** Open a persisted IVF-PQ index once for repeated searches. */
  def openIvfPqIndex(
      spark: org.apache.spark.sql.SparkSession,
      path: String): IvfPqIndexHandle =
    IvfPqIndexHandle(
      pqCodebookFromDF(spark.read.parquet(s"$path/codebook")),
      spark.read.parquet(s"$path/centroids"),
      IvfCodes.read(spark, path))

  /** Search a persisted IVF-PQ index. The coarse stage's probed list
    * ids prune the code scan via DYNAMIC PARTITION PRUNING: the probed
    * set stays a (tiny, nlist-bounded) relation that broadcast-semi-
    * joins the partitioned code table on `centroid_id`, and Catalyst
    * turns the reused broadcast into a partition filter at the scan
    * (file skipping, pinned by PlanSpec). Nothing is collected and no
    * literal id list enters the plan — at nlist ~10⁵ (the √N layout at
    * 10¹⁰ vectors) an In-filter of that arity would be a plan-size and
    * catalog-pruning cost, while the DPP subquery is constant-size.
    * [[ivfPqSearch]] then runs ADC + exact rerank over what remains. */
  def searchIvfPqIndex(
      h: IvfPqIndexHandle,
      vectors: DataFrame, vecIdCol: String, vecCol: String,
      probes: DataFrame, probeIdCol: String, probeVecCol: String,
      k: Int, nprobe: Int, shortlist: Int): DataFrame = {
    val p = probes.select(col(probeIdCol).as("probe_id"),
      transform(col(probeVecCol), x => x.cast("double")).as("pv"))
    val pc = p.crossJoin(broadcast(h.centroids))
      .withColumn("ccos", cosine(col("pv"), col("cvec")))
    val wc = Window.partitionBy(col("probe_id"))
      .orderBy(col("ccos").desc, col("centroid_id").asc)
    val probed = pc.withColumn("crn", row_number().over(wc))
      .filter(col("crn") <= nprobe)
      .select(col("centroid_id")).distinct()
    val codes = h.codes
      .join(broadcast(probed), Seq("centroid_id"), "left_semi")
    ivfPqSearch(codes, "id", "pq_code", h.centroids,
      vectors, vecIdCol, vecCol, probes, probeIdCol, probeVecCol,
      h.cb, k, nprobe, shortlist)
  }

  /** [[searchIvfPqIndex]] with a one-shot open (ad-hoc queries; a
    * serving loop should [[openIvfPqIndex]] once instead). */
  def searchIvfPqIndex(
      spark: org.apache.spark.sql.SparkSession, path: String,
      vectors: DataFrame, vecIdCol: String, vecCol: String,
      probes: DataFrame, probeIdCol: String, probeVecCol: String,
      k: Int, nprobe: Int, shortlist: Int): DataFrame =
    searchIvfPqIndex(openIvfPqIndex(spark, path),
      vectors, vecIdCol, vecCol, probes, probeIdCol, probeVecCol,
      k, nprobe, shortlist)

  /** [[retireFromPqIndex]] for a persisted IVF-PQ index — the
    * partitioned code relation rewrites partitioned, so pruning
    * survives the takedown. @return number of indexed vectors removed */
  def retireFromIvfPqIndex(
      spark: org.apache.spark.sql.SparkSession, path: String,
      retired: DataFrame, idCol: String, numFiles: Int = 0): Long =
    BucketStore.retire(spark, path, Seq(IvfCodes), "id", retired, idCol,
      numFiles)

  /** [[compactPqIndex]] for a persisted IVF-PQ index: one file per
    * list partition (the repartition-on-partition-columns rewrite). */
  def compactIvfPqIndex(
      spark: org.apache.spark.sql.SparkSession, path: String,
      numFiles: Int): Unit =
    BucketStore.compact(spark, path, numFiles, Seq(IvfCodes))

  /** One-row operational summary of a persisted PQ index
    * ([[Dedup.signatureTableStats]]'s shape): quantizer geometry from
    * the codebook relation, indexed-vector count, and the code-table
    * part-file count (the [[compactPqIndex]] signal). */
  def pqIndexStats(
      spark: org.apache.spark.sql.SparkSession, path: String): DataFrame = {
    spark.read.parquet(s"$path/codebook")
      .agg((max(col("subspace")) + 1).as("m"), max(col("code")).as("k"),
        ((max(col("subspace")) + 1) * max(size(col("cvec")))).as("dim"))
      .crossJoin(PqCodes.read(spark, path)
        .agg(count(lit(1)).as("n_vectors")))
      .withColumn("n_code_files",
        lit(Store.partFileCount(spark, PqCodes.root(path))))
  }

  /** [[pqIndexStats]] for a persisted IVF-PQ index: adds the list
    * count and per-list occupancy extremes (a hot list is a probe-cost
    * outlier) plus `n_empty_lists` — centroids with NO code rows (each
    * wastes a partition and signals a stale coarse quantizer). Empty
    * lists contribute no occupancy row, so `min_list_size` is the
    * smallest NON-EMPTY list; emptiness is reported by count, not by a
    * zero minimum. Code files count across the list partition dirs. */
  def ivfPqIndexStats(
      spark: org.apache.spark.sql.SparkSession, path: String): DataFrame = {
    val codes = IvfCodes.read(spark, path)
    val occ = codes.groupBy(col("centroid_id"))
      .agg(count(lit(1)).as("__occ"))
    spark.read.parquet(s"$path/codebook")
      .agg((max(col("subspace")) + 1).as("m"), max(col("code")).as("k"),
        ((max(col("subspace")) + 1) * max(size(col("cvec")))).as("dim"))
      .crossJoin(spark.read.parquet(s"$path/centroids")
        .agg(count(lit(1)).as("n_lists")))
      .crossJoin(codes.agg(count(lit(1)).as("n_vectors")))
      .crossJoin(occ.agg(
        coalesce(max(col("__occ")), lit(0L)).as("max_list_size"),
        coalesce(min(col("__occ")), lit(0L)).as("min_list_size"),
        count(lit(1)).as("__n_used")))
      .withColumn("n_empty_lists", col("n_lists") - col("__n_used"))
      .drop("__n_used")
      .withColumn("n_code_files",
        lit(Store.partFileCount(spark, IvfCodes.root(path))))
  }

  /** Search a persisted PQ index: ADC over the stored packed codes
    * proposes a `shortlist`, exact cosine over `vectors` (the
    * full-precision store, fetched for the shortlist only) disposes.
    * The scan side is the 8-byte code column — the index artifact is
    * dim·4/m× smaller than the vectors it indexes. */
  def searchPqIndex(
      spark: org.apache.spark.sql.SparkSession, path: String,
      vectors: DataFrame, vecIdCol: String, vecCol: String,
      probes: DataFrame, probeIdCol: String, probeVecCol: String,
      k: Int, shortlist: Int): DataFrame = {
    val cb = pqCodebookFromDF(spark.read.parquet(s"$path/codebook"))
    val codes = PqCodes.read(spark, path)
    pqSearchRerank(codes, "id", "pq_code",
      vectors, vecIdCol, vecCol, probes, probeIdCol, probeVecCol,
      cb, k, shortlist)
  }

  /** IVF-PQ retrieval — the canonical 100 TB ANN layout (Jégou et al.
    * 2011, "Product quantization for nearest neighbor search"): the
    * coarse quantizer ([[ivfIndex]]) prunes the scan to `nprobe`
    * inverted lists, ADC over the m-int PQ codes proposes a
    * `shortlist` per probe WITHIN those lists, and exact cosine over
    * the fetched shortlist vectors disposes. Work per probe ∝
    * (probed-list rows × m ints) + (shortlist × dim floats); neither
    * the full-precision vectors nor the untouched lists are ever
    * scanned. At scale the coded assignments would be written bucketed
    * by `centroid_id` so the probe join prunes partitions.
    *
    * @param codedAssignments (idCol, "centroid_id", codesCol) — the
    *   [[ivfIndex]] assignment table after [[pqEncode]]
    * @param centroids [[ivfIndex]]'s (centroid_id, cvec) — broadcast
    * @param vectors (vecIdCol, vecCol) full-precision vectors, joined
    *   only for the shortlist rerank
    */
  def ivfPqSearch(
      codedAssignments: DataFrame, idCol: String, codesCol: String,
      centroids: DataFrame,
      vectors: DataFrame, vecIdCol: String, vecCol: String,
      probes: DataFrame, probeIdCol: String, probeVecCol: String,
      cb: PqCodebook, k: Int, nprobe: Int, shortlist: Int): DataFrame = {
    require(shortlist >= k, s"ivfPqSearch: shortlist=$shortlist < k=$k")
    val p = probes.select(col(probeIdCol).as("probe_id"),
      transform(col(probeVecCol), x => x.cast("double")).as("pv"))
    val pc = p.crossJoin(broadcast(centroids))
      .withColumn("ccos", cosine(col("pv"), col("cvec")))
    val wc = Window.partitionBy(col("probe_id"))
      .orderBy(col("ccos").desc, col("centroid_id").asc)
    val lists = pc.withColumn("crn", row_number().over(wc))
      .filter(col("crn") <= nprobe)
      .select(col("probe_id"), col("pv"), col("centroid_id"))
    val packed = codedAssignments.schema(codesCol).dataType ==
      org.apache.spark.sql.types.LongType
    val cand = lists
      .join(codedAssignments.select(col(idCol).as("id"),
        col("centroid_id"), col(codesCol).as("codes")), "centroid_id")
      .filter(col("probe_id") =!= col("id"))
      .withColumn("adc_dot",
        if (packed)
          graft.plans.native.pqAdcPacked(col("codes"), col("pv"), cb.flat, cb.m, cb.k)
        else
          graft.plans.native.pqAdc(col("codes"), col("pv"), cb.flat, cb.m, cb.k))
    val ws = Window.partitionBy(col("probe_id"))
      .orderBy(col("adc_dot").desc, col("id").asc)
    val short = cand.withColumn("srn", row_number().over(ws))
      .filter(col("srn") <= shortlist)
      .select(col("probe_id"), col("pv"), col("id").as("neighbor_id"))
    val rescored = short
      .join(vectors.select(col(vecIdCol).as("neighbor_id"), col(vecCol).as("nv")),
        "neighbor_id")
      .withColumn("cosine", cosine(col("pv"), col("nv")))
    val w = Window.partitionBy(col("probe_id"))
      .orderBy(col("cosine").desc, col("neighbor_id").asc)
    rescored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("probe_id"), col("neighbor_id"), col("rank"), col("cosine"))
  }

  /** IVF search: probe → `nprobe` nearest centroids → exact cosine only
    * within those inverted lists → top-k. The 100 TB path: work is
    * proportional to the probed lists, not the corpus. */
  def ivfSearch(
      assignments: DataFrame, centroids: DataFrame,
      probes: DataFrame, probeIdCol: String, probeVecCol: String,
      k: Int, nprobe: Int): DataFrame = {
    val p = probes.select(col(probeIdCol).as("probe_id"),
      transform(col(probeVecCol), x => x.cast("double")).as("pv"))
    val pc = p.crossJoin(broadcast(centroids))
      .withColumn("ccos", cosine(col("pv"), col("cvec")))
    val wc = Window.partitionBy(col("probe_id")).orderBy(col("ccos").desc, col("centroid_id").asc)
    val shortlist = pc.withColumn("crn", row_number().over(wc))
      .filter(col("crn") <= nprobe)
      .select(col("probe_id"), col("pv"), col("centroid_id"))
    val scored = shortlist.join(assignments, "centroid_id")
      .filter(col("probe_id") =!= col("id"))
      .withColumn("cosine", cosine(col("pv"), col("v")))
    val w = Window.partitionBy(col("probe_id")).orderBy(col("cosine").desc, col("id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("probe_id"), col("id").as("neighbor_id"), col("rank"), col("cosine"))
  }
}
