package graft

import org.apache.spark.sql.execution.ExplainMode

/** Physical-plan regression guards: the properties that make these
  * queries survive a 100×–1000× scale-up (broadcasts on dimension
  * sides, predicate pushdown into the parquet scan, column pruning,
  * map-side partial aggregation, no cartesian products). A correct
  * result with the wrong plan is a latent outage at 100 TB — these
  * tests pin the plan shape, not just the answer. */
class PlanSpec extends GraftSpec {

  private val dir = "/root/testdata/sf0.001"

  private def formatted(name: String): String =
    SparkEntry.queries(name)(spark, dir)
      .queryExecution.explainString(ExplainMode.fromString("formatted"))

  test("TPC-H Q3/Q5/Q10: dims broadcast, no cartesian product") {
    Seq("q_tpch_q3", "q_tpch_q5", "q_tpch_q10").foreach { q =>
      val p = formatted(q)
      assert(p.contains("BroadcastHashJoin"), s"$q must broadcast its dim side:\n$p")
      assert(!p.contains("CartesianProduct"), s"$q must not plan a cartesian:\n$p")
    }
  }

  test("TPC-H Q6: scan-only plan — filters pushed, partial+final agg, no join") {
    val p = formatted("q_tpch_q6")
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate)"),
      s"the shipdate range must reach the scan:\n$p")
    assert(!p.contains("Join"), s"Q6 must not plan any join:\n$p")
    assert("HashAggregate".r.findAllIn(p).size >= 2,
      s"expected partial+final aggregation:\n$p")
  }

  test("TPC-H Q14: part dim broadcasts, no cartesian") {
    val p = formatted("q_tpch_q14")
    assert(p.contains("BroadcastHashJoin"), s"part must broadcast:\n$p")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("TPC-H Q3: date filters pushed into the parquet scans") {
    val p = formatted("q_tpch_q3")
    assert(p.contains("PushedFilters: [IsNotNull(o_orderdate), LessThan(o_orderdate"),
      s"orders scan must push the date predicate:\n$p")
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate), GreaterThan(l_shipdate"),
      s"lineitem scan must push the shipdate predicate:\n$p")
  }

  test("column pruning reaches the scan (projection-only query)") {
    val p = formatted("q_select_columns")
    val readSchemas = p.linesIterator.filter(_.contains("ReadSchema")).mkString("\n")
    assert(!readSchemas.contains("l_comment") && !readSchemas.contains("l_tax"),
      s"unused columns must not be read:\n$readSchemas")
  }

  test("aggregations run map-side partials (two HashAggregate stages)") {
    val p = formatted("q_agg_pricing")
    assert("HashAggregate".r.findAllIn(p).size >= 2,
      s"expected partial+final aggregation:\n$p")
  }

  test("range join stays a broadcast nested-loop (ranges side tiny), not a cartesian") {
    val p = formatted("q_range_join")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      s"ranges side must be broadcast:\n$p")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("flagship entry: unique-index join broadcasts the index side") {
    val p = SparkEntry.entry(spark)
      .queryExecution.explainString(ExplainMode.fromString("formatted"))
    assert(p.contains("BroadcastHashJoin"), s"index join must broadcast:\n$p")
  }

  test("LevenshteinBandPrefilter injects the O(1) length band before the O(n·m) filter") {
    val df = SparkEntry.queries("q_edit_distance")(spark, dir)
    val opt = df.queryExecution.optimizedPlan.toString
    assert(opt.contains("abs((length(") || opt.contains("abs(length("),
      s"length band must be added by the injected rule:\n$opt")
    // and it must not change results: band is implied by the filter
    val n = df.count()
    val raw = spark.read.parquet(s"$dir/customer.parquet")
      .where("levenshtein(c_name, 'Customer#000000999') <= 3").count()
    assert(n == raw)
  }

  test("native kernels are callable from SQL (injectFunction)") {
    val r = spark.sql(
      "SELECT graft_simhash(array('a','b')) = graft_simhash(array('a','b')) AS eq, " +
      "size(graft_word_ngrams('a b c', 2)) AS n").head()
    assert(r.getBoolean(0) && r.getInt(1) == 2)
  }

  test("native text kernels stay inside whole-stage codegen") {
    val p = formatted("q_repetition")
    // formatted mode marks whole-stage-codegen'd operators with
    // "[codegen id : N]" (and a leading `*`)
    assert(p.contains("codegen id"), p)
    // the kernel is a codegen'd expression, not an interpreted HOF node
    assert(!p.toLowerCase.contains("lambdafunction"),
      s"no interpreted lambda nodes expected:\n$p")
  }

  test("bloom semi join: codegen'd probe filters the fact side before the exact semi join") {
    val p = formatted("q_bloom_join")
    assert(p.toLowerCase.contains("bloommightcontain"),
      s"bloom probe must appear in the physical plan:\n$p")
    assert(p.contains("LeftSemi"), s"exact semi join must close the result:\n$p")
    assert(!p.contains("CartesianProduct"), p)
    // the probe sits in a plain Filter directly on the scan output
    // (AQE's formatted explain of an unexecuted plan shows no codegen
    // ids, so assert the operator shape, not the codegen marker)
    assert(p.contains("Filter"), p)
  }

  test("skew histogram: partial aggregation on the input; global ranking is a top-K, not a full sort") {
    val p = formatted("q_skew_histogram")
    assert("HashAggregate".r.findAllIn(p).size >= 2,
      s"expected partial+final aggregation over the input:\n$p")
    // the rnk <= topN filter over row_number must be optimized into a
    // window group limit: the global ordering is a TakeOrderedAndProject
    // over the (small) counts relation, never a whole-relation Sort
    assert(p.contains("TakeOrderedAndProject"),
      s"global ranking must plan as a top-K group limit:\n$p")
  }

  test("cluster resolution: canonical pick broadcasts the components side") {
    val p = formatted("q_cluster_resolve")
    assert(p.contains("BroadcastHashJoin"),
      s"components attach must broadcast (tiny vs corpus):\n$p")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("hash split and unicode normalization are shuffle-free scan projections") {
    Seq("q_split_assign", "q_unicode_norm").foreach { q =>
      val p = formatted(q)
      assert(!p.contains("Exchange"),
        s"$q must be a pure per-row projection (scan-speed at 100 TB):\n$p")
    }
  }

  test("length buckets: per-row ranking distributes by value — no global ntile window") {
    val p = formatted("q_length_buckets")
    // the only per-ROW window must be partitioned by the token count
    // (hash exchange), never a single-partition ntile over the corpus
    assert(p.contains("hashpartitioning(n_tokens"),
      s"within-value rank must shuffle by n_tokens:\n$p")
    assert(!p.contains("ntile("),
      s"global ntile window must not appear (single-partition at 100 TB):\n$p")
    // the offsets side is the aggregated per-value table (partial+final
    // HashAggregate) — its tiny single-partition prefix-sum is fine
    assert("HashAggregate".r.findAllIn(p).size >= 2,
      s"per-value counts must aggregate map-side:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"offsets must broadcast back onto the corpus:\n$p")
  }

  test("upsert: broadcast anti join, target side never sort-merge shuffled") {
    val p = formatted("q_upsert")
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftAnti"),
      s"upsert must anti-join against broadcast update keys:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"the target must not be shuffled for the merge:\n$p")
  }

  test("exact embedding pairs: broadcast nested-loop (bounded audit slice), never a shuffled cartesian") {
    val p = formatted("q_embedding_pairs_exact")
    assert(p.contains("BroadcastNestedLoopJoin"),
      s"the O(n²) exact baseline must broadcast its build side:\n$p")
    assert(!p.contains("CartesianProduct"),
      s"a shuffled cartesian would not survive any scale-up:\n$p")
  }

  test("PQ retrieval: probes broadcast against the code scan, never a shuffled cartesian") {
    val p = formatted("q_ann_pq")
    assert(p.contains("BroadcastNestedLoopJoin"),
      s"ADC scoring must broadcast the probe side over the code table:\n$p")
    assert(!p.contains("CartesianProduct"),
      s"a shuffled cartesian would not survive any scale-up:\n$p")
  }

  test("IVF-PQ retrieval: list pruning joins stay broadcast/hash, no cartesian") {
    val p = formatted("q_ann_ivfpq")
    assert(!p.contains("CartesianProduct"),
      s"a shuffled cartesian would not survive any scale-up:\n$p")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      s"probe→centroid and shortlist joins must broadcast the probe side:\n$p")
  }

  test("persisted IVF-PQ: probed lists prune the code scan as partition filters") {
    val p = formatted("q_ivfpq_index")
    // the code-table scan must carry a centroid_id partition filter —
    // file skipping, not a post-scan filter, is what bounds the bytes
    // read per query at 100 TB. The filter must be the DYNAMIC pruning
    // subquery (the probed ids as a reused broadcast), not a literal In
    // list — a literal list is plan-size ∝ nlist·nprobe and stops
    // being viable at the √N list counts the 100 TB layout needs.
    val pf = p.linesIterator.filter(_.contains("PartitionFilters")).toSeq
    assert(pf.exists(l => l.contains("centroid_id") &&
        l.contains("dynamicpruningexpression")),
      s"probed list ids must reach the scan as a dynamic partition-" +
        s"pruning filter; saw: $pf\n$p")
    assert(!p.contains("CartesianProduct"),
      s"a shuffled cartesian would not survive any scale-up:\n$p")
  }

  test("persisted bucket store: the probe plan evaluates the touched " +
    "keys ONCE and scans only driver-pruned files") {
    // the serving-path plan of every incremental dedup probe
    // (BucketStore.probe — nearDedupIncremental, the Hamming
    // probe and both append occupancy counts all share it): the
    // batch's touched (band, bucket) keys are collected once; they
    // prune the scan to O(touched keys) FILES driver-side (stronger
    // than DPP's partition granularity) and replay as a LOCAL relation
    // for the exact broadcast semi-join — the distributed touched plan
    // must not be evaluated a second time for the broadcast, and the
    // scan must carry only the kept files.
    import graft.operators.{BucketStore, Dedup}
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft_dpp_").toString
    val docs = (1L to 40L)
      .map(i => (i, s"fresh document u$i payload p$i q$i extra e$i"))
      .toDF("doc_id", "text")
    Dedup.writeSignatureTable(docs, "doc_id", "text", s"$tmp/sig")
    val h = Dedup.openSignatureTable(spark, s"$tmp/sig")
    val touched = (1L to 3L)
      .map(i => (i.toInt % 16, i * 7919L)).toDF("band", "bucket")
      .persist()
      .distinct()
    val probe = BucketStore.probe(h.bucketsSnap, BucketStore.BandBucket, touched)._1
    val p = probe.queryExecution
      .explainString(ExplainMode.fromString("formatted"))
    assert(p.contains("LocalTableScan"),
      s"the collected keys must replay as a local relation (one " +
        s"evaluation of the touched plan), not re-run distributed:\n$p")
    assert(!p.contains("CartesianProduct"), p)
    val plan0 = probe.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.initialPlan
      case other => other
    }
    val scanned = plan0.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec =>
        s.selectedPartitions.totalNumberOfFiles
    }
    val total = h.bucketsSnap.files.size.toLong
    assert(scanned.nonEmpty && scanned.head < total,
      s"the probe scan must carry only driver-pruned files " +
        s"(${scanned.headOption} of $total)")
  }

  test("persisted bucket store: the over-budget fallback keeps the " +
    "dynamic band-partition prune") {
    // probes touching more keys than MaxProbeKeys skip the driver-side
    // collect — there the scan-side bound is Catalyst's DPP on the
    // band partition column, planned through the broadcast semi-join's
    // restated band-invariant filter (never a post-scan filter, never
    // a literal In list)
    import graft.operators.{BucketStore, Dedup}
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft_dppf_").toString
    val docs = (1L to 40L)
      .map(i => (i, s"fresh document u$i payload p$i q$i extra e$i"))
      .toDF("doc_id", "text")
    Dedup.writeSignatureTable(docs, "doc_id", "text", s"$tmp/sig")
    val h = Dedup.openSignatureTable(spark, s"$tmp/sig")
    import org.apache.spark.sql.functions.col
    val touched = spark.range(BucketStore.MaxProbeKeys + 64L)
      .select((col("id") % 16).cast("int").as("band"),
        (col("id") * 7919L).as("bucket"))
      .persist()
      .distinct()
    val p = BucketStore.probe(h.bucketsSnap, BucketStore.BandBucket, touched)._1
      .queryExecution.explainString(ExplainMode.fromString("formatted"))
    touched.unpersist(blocking = false)
    val pf = p.linesIterator.filter(_.contains("PartitionFilters")).toSeq
    assert(pf.exists(l => l.contains("band") &&
        l.contains("dynamicpruningexpression")),
      s"over-budget probes must still reach the bucket scan as a " +
        s"dynamic partition-pruning filter on band; saw: $pf\n$p")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("pixel gates: one shuffle-free MapPartitions over the synthesized payloads") {
    Seq("q_media_pixels_png", "q_media_pixels_gif", "q_media_pixels_jpeg",
      "q_media_pixels_jpeg_prog", "q_media_pixels_png_gray",
      "q_media_pixels_png_adam7", "q_media_pixels_gif_i",
      "q_frame_sample_gif", "q_frame_sample_avi",
      "q_audio_meta_ulaw", "q_audio_meta_alaw", "q_media_headers_avi")
      .foreach { q =>
        val p = formatted(q)
        assert(p.contains("MapPartitions"), s"$q must decode in mapPartitions:\n$p")
        assert(!p.contains("Exchange"),
          s"$q is a pure per-row decode — no shuffle belongs in the plan:\n$p")
      }
  }

  test("simhash planted gate: bucket joins broadcast or hash, no cartesian") {
    val p = formatted("q_dedup_simhash")
    assert(!p.contains("CartesianProduct"), p)
    assert("HashAggregate".r.findAllIn(p).size >= 2,
      s"pair dedup must partial-aggregate map-side:\n$p")
  }

  test("auto-sized embedding LSH gate: banded hash joins, no cartesian") {
    val p = formatted("q_dedup_embedding_auto")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"),
      s"bucket candidates must come from equi-joins, never a nested loop:\n$p")
  }

  test("contamination score: shuffle-free denominator, hash-prefiltered hits") {
    val p = formatted("q_contamination_score")
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("array_distinct"),
      s"the n_grams denominator must stay a per-row projection:\n$p")
    // the corpus-wide candidate pass joins on the 8-byte shingle hash
    assert(p.contains("shingle_hashes") || p.contains("ShingleHashes") ||
      p.contains("__gh"),
      s"the hash prefilter must reach the plan:\n$p")
  }

  test("span dedup: hash-prefiltered window groupBys, no cartesian") {
    val p = formatted("q_span_dedup")
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("xxhash64"),
      s"the 8-byte window prefilter must reach the plan (singleton " +
        s"windows stay out of the gram shuffle):\n$p")
    // hot-hash count + gram stats both partial-aggregate map-side
    assert("HashAggregate".r.findAllIn(p).size >= 4,
      s"window counting must run map-side partials:\n$p")
  }

  test("vocab coverage: top-V cut is a top-K, vocabulary broadcasts onto the probe") {
    val p = formatted("q_oov_rate")
    // the vocabulary cut must never globally sort the term counts
    assert(p.contains("TakeOrderedAndProject"),
      s"top-V must plan as a top-K over the counts, not a full Sort:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"the V-row vocabulary must broadcast into the token probe:\n$p")
    assert("HashAggregate".r.findAllIn(p).size >= 4,
      s"term counts and per-doc counts must both run map-side partials:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"the corpus-sized probe side must never shuffle for the join:\n$p")
  }

  test("shard assign: one exchange on shard, per-shard window, no global sort") {
    val p = formatted("q_shard_assign")
    assert(p.contains("hashpartitioning(shard"),
      s"ranking must distribute by shard (one task per shard):\n$p")
    // a single-partition global window would appear as an
    // Exchange SinglePartition feeding the Window — forbid it
    assert(!p.contains("SinglePartition"),
      s"no single-partition stage (global window/sort) may appear:\n$p")
  }

  test("boilerplate removal: df filter joins back without cartesian; line df aggregates map-side") {
    val p = formatted("q_boilerplate")
    assert(!p.contains("CartesianProduct"), p)
    // distinct (doc, line) + per-line df + rebuild = ≥4 HashAggregates
    // with partial aggregation
    assert("HashAggregate".r.findAllIn(p).size >= 4,
      s"line df must aggregate map-side:\n$p")
  }

  test("canonical url: shuffle-free scan projection") {
    val p = formatted("q_url_canon")
    assert(!p.contains("Exchange"),
      s"canonicalization must be a pure per-row projection:\n$p")
  }

  test("doc search: posting hash join, per-query window, no cartesian") {
    val p = formatted("q_doc_search")
    assert(!p.contains("CartesianProduct"),
      s"the search join must key on gram, never all-pairs:\n$p")
    assert(p.contains("hashpartitioning(q_id"),
      s"ranking must distribute by query id (one task per candidate " +
        s"list, no global sort):\n$p")
    assert("HashAggregate".r.findAllIn(p).size >= 4,
      s"gram sizes and shared counts must run map-side partials:\n$p")
  }

  test("dsir: bucket tables broadcast onto features, no shuffled cartesian, top-N cut") {
    val p = formatted("q_dsir")
    assert(!p.contains("CartesianProduct"),
      s"only the 1-row total scalars may nest-loop (broadcast):\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"the bucket-sized count tables must broadcast onto the feature rows:\n$p")
    assert("HashAggregate".r.findAllIn(p).size >= 6,
      s"feature counts / count tables / per-doc reduction must all run " +
        s"map-side partials:\n$p")
    val sel = formatted("q_dsir_select")
    assert(sel.contains("TakeOrderedAndProject"),
      s"the keepN cut must be a top-N, never a global sort:\n$sel")
  }

  test("subword frequencies: join-free kernel scan with map-side partial aggs") {
    val p = formatted("q_subword")
    assert(!p.contains("Join") && !p.contains("CartesianProduct"),
      s"the vocab ships inside the expression — no join may appear:\n$p")
    assert("HashAggregate".r.findAllIn(p).size >= 2,
      s"token counting must partial-aggregate before the shuffle:\n$p")
  }

  test("augmentation gates: shuffle-free kernel projections") {
    Seq("q_word_dropout", "q_span_corrupt").foreach { q =>
      val p = formatted(q)
      assert(!p.contains("Exchange"),
        s"$q must be a pure scan+project — augmentation at 100 TB is " +
          s"scan-speed or it is the bottleneck:\n$p")
      assert(p.contains("[codegen id :"),
        s"$q's kernel must run inside whole-stage codegen:\n$p")
    }
  }

  test("perceptron apply: trained weights ride the plan — shuffle-free codegen'd projection") {
    val p = formatted("q_perceptron_apply")
    assert(!p.contains("Exchange"),
      s"scoring must be a pure scan+project (weights are literals):\n$p")
    assert(!p.contains("Join"),
      s"no join may appear — the model is broadcast by value:\n$p")
    assert(p.contains("[codegen id :"),
      s"the margin must run inside whole-stage codegen:\n$p")
  }

  test("fuzzy join: variant-key equi-join, never a cartesian") {
    val p = formatted("q_fuzzy_join")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
      s"candidates must come from the deletion-variant equi-join:\n$p")
    assert(p.contains("Join"), s"expected the variant-key join:\n$p")
  }

  test("winnow gates: codegen'd kernel scan; pair join is a hash posting join") {
    val p = formatted("q_winnow")
    assert(!p.contains("Exchange") && !p.contains("Join"),
      s"fingerprinting must be a pure scan+explode:\n$p")
    val pp = formatted("q_winnow_pairs")
    assert(!pp.contains("CartesianProduct") && !pp.contains("BroadcastNestedLoop"),
      s"pairs must come from the fingerprint posting join:\n$pp")
    assert("HashAggregate".r.findAllIn(pp).size >= 2,
      s"shared-count must partial-aggregate:\n$pp")
    // the corpus-scale form must NOT posting-join: candidates come
    // from the (band, bucket) self-join, sets fetched per candidate
    val pl = formatted("q_winnow_pairs_lsh")
    assert(!pl.contains("CartesianProduct") && !pl.contains("BroadcastNestedLoop"),
      s"LSH candidates must be an equi-join:\n$pl")
    assert(pl.contains("band"),
      s"candidates must join on the banded buckets:\n$pl")
  }

  test("ks drift: windows partition by group (no global sort), one value shuffle") {
    val p = formatted("q_drift_ks")
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("hashpartitioning(grp"),
      s"the cumulative windows must distribute by group:\n$p")
    assert(!p.contains("SinglePartition"),
      s"nothing may funnel through one partition:\n$p")
    assert("HashAggregate".r.findAllIn(p).size >= 4,
      s"per-value tie collapse and the final max must run map-side partials:\n$p")
  }

  test("blocklist gates: shuffle-free broadcast-automaton scans") {
    // match/mask/filter are one MapPartitions pass each — the pattern
    // table rides the broadcast, never a join
    Seq("q_blocklist_match", "q_blocklist_mask", "q_blocklist_filter")
      .foreach { q =>
        val p = formatted(q)
        assert(!p.contains("Exchange"),
          s"$q must be a shuffle-free scan (automaton is broadcast):\n$p")
        assert(!p.contains("CartesianProduct") && !p.contains("Join"),
          s"$q must not join docs against patterns:\n$p")
      }
  }

  test("html extraction: shuffle-free codegen'd regex projection") {
    val p = formatted("q_html_extract")
    assert(!p.contains("Exchange"),
      s"extraction must be a pure per-row projection:\n$p")
    assert(!p.contains("BatchEvalPython") && !p.contains("MapPartitions"),
      s"extraction must stay a builtin expression chain (codegen), " +
        s"not a UDF/mapPartitions escape:\n$p")
  }

  test("term normalization: dictionary rides the plan — shuffle-free projection") {
    val p = formatted("q_term_normalize")
    assert(!p.contains("Exchange") && !p.contains("Join"),
      s"the map literal must not become a join or broadcast exchange:\n$p")
  }

  test("pipeline ingest: extraction + blocklist compose without joins; one groupBy shuffle") {
    val p = formatted("q_pipeline_ingest")
    assert(!p.contains("CartesianProduct") && !p.contains("Join"),
      s"no stage may join docs against patterns:\n$p")
    assert("\\(\\d+\\) Exchange".r.findAllIn(p).size == 1 &&
      p.contains("hashpartitioning(lang"),
      s"the ONLY shuffle is the final per-language aggregate:\n$p")
  }

  test("media near-dup gates: banded hash joins over signatures, no cartesian") {
    Seq("q_image_neardup", "q_audio_neardup").foreach { q =>
      val p = formatted(q)
      assert(!p.contains("CartesianProduct") &&
        !p.contains("BroadcastNestedLoopJoin"),
        s"$q pair generation must key on (band, bucket), never all-pairs:\n$p")
      assert(p.contains("hashpartitioning(band"),
        s"$q candidate join must distribute by band bucket:\n$p")
    }
  }

  test("local-probe join on a cached index: a filtered scan, no broadcast and no join") {
    import graft.operators.{Index, Pipe}
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.functions.{col, concat, lit}
    import org.apache.spark.sql.types.{StringType, StructField, StructType}
    val idx = Index.build(spark.range(0, 2000).select(
        concat(lit("c"), (col("id") % 200).cast("string")).as("k"), col("id").as("v")),
      Seq("k", "v"), unique = true, broadcastHint = false).cached()
    val probe = Pipe.takeRows(spark, Seq(Row("c1"), Row("c3"), Row("c3")),
      StructType(Seq(StructField("k", StringType))))
    def physical(df: org.apache.spark.sql.DataFrame) =
      df.queryExecution.explainString(ExplainMode.fromString("formatted"))
    val joined = physical(probe.join(idx, "k").df)
    assert(!joined.contains("BroadcastExchange") && !joined.contains("Join"),
      s"a local probe must plan a generate over the filtered scan:\n$joined")
    assert(joined.contains("Generate") && joined.contains("InMemoryTableScan"), joined)
    val anti = physical(probe.except(idx, "k").df)
    val scan = anti.split("\n\n").find(_.matches("(?s)\\(\\d+\\) InMemoryTableScan.*"))
    assert(scan.exists(_.contains("INSET")),
      s"except must filter the cached scan by the probe keys:\n$anti")
    idx.df.unpersist()
  }
}
