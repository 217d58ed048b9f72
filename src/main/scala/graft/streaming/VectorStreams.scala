package graft.streaming

import graft.operators.Similarity

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Streaming ANN: probe vectors arrive as a stream and are scored
  * against a STATIC PQ code table (a stream-static join — the
  * production shape for online retrieval over a nightly-built index:
  * the code table is the persisted artifact, probes are the live
  * traffic). Assignment is stateless per probe except the final
  * per-probe aggregate, so state is one row per probe key and the
  * static side never re-shuffles per micro-batch.
  *
  * Reference-analogue: csvplus's Index is built once and probed many
  * times (csvplus.go:655, 869); this is the same contract with the
  * probe side lifted to a stream.
  */
object VectorStreams {

  /** Top-1 ADC neighbour for every probe in `probes` against the
    * packed-code table: ties broken toward the smaller neighbour id,
    * self-matches excluded. Works identically over batch and
    * streaming probe frames (the batch twin IS the streaming
    * semantics — used by the stream≡batch gate). */
  def nearestByAdc(
      probes: DataFrame, probeIdCol: String, probeVecCol: String,
      codes: DataFrame, idCol: String, codesCol: String,
      cb: Similarity.PqCodebook): DataFrame = {
    val p = probes.select(col(probeIdCol).as("probe_id"),
      transform(col(probeVecCol), x => x.cast("double")).as("pv"))
      .withColumn("__k", lit(1))
    val c = codes.select(col(idCol).as("nb_id"), col(codesCol).as("codes"))
      .withColumn("__k", lit(1))
    val packed = codes.schema(codesCol).dataType ==
      org.apache.spark.sql.types.LongType
    def adc(codesC: Column, probeC: Column): Column =
      if (packed)
        graft.plans.native.pqAdcPacked(codesC, probeC, cb.flat, cb.m, cb.k)
      else graft.plans.native.pqAdc(codesC, probeC, cb.flat, cb.m, cb.k)
    // equi-join on a constant key: a stream-static CROSS product is not
    // a supported streaming join, the single-key hash join is — and the
    // static side broadcasts (codes are m ints/8 bytes per row)
    p.join(broadcast(c), "__k")
      .filter(col("probe_id") =!= col("nb_id"))
      .withColumn("adc_dot", adc(col("codes"), col("pv")))
      .groupBy(col("probe_id"))
      .agg(max_by(col("nb_id"),
        struct(col("adc_dot").as("d"), (-col("nb_id")).as("t"))).as("neighbor_id"),
        count(lit(1)).as("n_scored"))
  }

  /** Per-source corpus statistics over a DOCUMENT stream (landing-zone
    * monitoring: how many docs / tokens has each source delivered?):
    * a streaming aggregation whose state is one row per source.
    * Available-now + complete mode on bounded input equals the batch
    * aggregate exactly, so the driver's SQL oracle checks a real
    * Structured Streaming execution — same contract as
    * EventStreams.hourlyTypeCountsStreamed. */
  def corpusStatsStreamed(
      spark: SparkSession, docsParquet: String,
      sourceCol: String, textCol: String): DataFrame = {
    val schema = spark.read.parquet(docsParquet).schema
    LandingZone.toMemory(spark, "complete") { s =>
      s.readStream.schema(schema)
        .parquet(LandingZone.stageDir(docsParquet, "corpstats"))
        .groupBy(col(sourceCol).as("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(graft.functions.TextFunctions.tokenCount(col(textCol)).cast("long"))
            .as("n_tokens"),
          sum(length(col(textCol)).cast("long")).as("n_chars"))
    }
  }

  /** [[nearestByAdc]] executed as a REAL streaming query: the probe
    * parquet is read as a file-source stream (available-now trigger,
    * complete-mode memory sink — the same harness contract as
    * EventStreams.runStreamed), scored against the static code table,
    * and the materialized result is returned for the stream≡batch
    * compare. */
  def nearestByAdcStreamed(
      spark: SparkSession, probeParquet: String,
      probeIdCol: String, probeVecCol: String,
      codes: DataFrame, idCol: String, codesCol: String,
      cb: Similarity.PqCodebook): DataFrame = {
    val schema = spark.read.parquet(probeParquet).schema
    LandingZone.toMemory(spark, "complete") { s =>
      nearestByAdc(s.readStream.schema(schema)
          .parquet(LandingZone.stageDir(probeParquet, "annstream")),
        probeIdCol, probeVecCol, codes, idCol, codesCol, cb)
    }
  }

  /** CONTINUOUS ANN ingest — the vector landing-zone twin of
    * [[graft.operators.Dedup.hammingIngestStreamed]]: a file source
    * watches `streamDir` for vector batches (one micro-batch per
    * file, (modification-time, path) order), and every batch encodes
    * against the STORED coarse centroids + codebook and appends into
    * its lists' partition dirs
    * ([[Similarity.appendToIvfPqIndex]] — cost ∝ batch). Same
    * foreachBatch rationale as the dedup chains: the growing index IS
    * the shared, restart-durable state, not something a watermark can
    * bound. Searches running between batches see every vector landed
    * so far — the standing build half of online retrieval
    * ([[nearestByAdcStreamed]] being the serve half).
    *
    * foreachBatch is at-least-once: a restart between the append and
    * the checkpoint commit REPLAYS the micro-batch, and an index
    * append (unlike the dedup ingest, whose store-side match masks
    * replays) would serve the duplicated id twice in ADC shortlists.
    * The append is therefore made idempotent per batch: ids already
    * in the code table are anti-joined away first — the probe is a
    * broadcast semi-join of the batch ids against the scanned id
    * column (never a corpus shuffle), so a replayed batch appends
    * nothing. */
  def ivfPqIngestStreamed(
      spark: SparkSession, indexPath: String, streamDir: String,
      idCol: String, vecCol: String,
      checkpointDir: Option[String] = None): Unit = {
    LandingZone.drain(spark, streamDir, checkpointDir) { batch =>
      val already = graft.operators.Store
        .read(spark, s"$indexPath/codes")
        .select(col("id").as(idCol))
        .join(broadcast(batch.select(col(idCol)).distinct()),
          Seq(idCol), "left_semi")
        .localCheckpoint(true)
      val fresh = batch.join(broadcast(already), Seq(idCol), "left_anti")
      Similarity.appendToIvfPqIndex(spark, indexPath, fresh, idCol, vecCol)
    }
  }
}
