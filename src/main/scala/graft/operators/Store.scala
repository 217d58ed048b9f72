package graft.operators

import graft.sources.ManifestFileIndex
import graft.sources.ManifestFileIndex.FileEntry

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
import org.apache.spark.sql.execution.datasources.HadoopFsRelation
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, StructType}

/** Versioned-generation storage shared by every persisted store (the
  * MinHash signature table, the Hamming table, the PQ / IVF-PQ code
  * tables, the paragraph-hash table) — the operational layer under
  * retire / compact / append.
  *
  * Layout of one RELATION (a store is a few relations under one root):
  *
  * {{{
  *   <relRoot>/g-000000001-9c41ab02/   parquet data of generation 1
  *   <relRoot>/g-000000002-4f2a91c0/   generation 2 (unique dir per write
  *                                     attempt, so raced writers can never
  *                                     clobber each other's files)
  *   <relRoot>/g-NNN.../a-<uuid>/      one subdirectory per APPEND batch
  *   <relRoot>/_manifests/m-000000002  the pointer: highest m-N wins; its
  *                                     content records the generation's
  *                                     directory name, schema, FILE LIST and
  *                                     per-file column [min,max] stats
  *   <relRoot>/_manifests/a-000000002-<uuid>  append marker: the batch's
  *                                     file list (+ stats), relative to the
  *                                     generation dir
  *   <relRoot>/_manifests/r-000000003  rewrite INTENT (exists only while a
  *                                     rewrite is in flight toward gen 3)
  * }}}
  *
  * Why a manifest pointer instead of renaming directories into place:
  * on object stores (the 100 TB posture) a directory rename is a
  * non-atomic O(bytes) copy, and even on HDFS a rename-aside /
  * rename-into-place swap leaves a headless window in which a reader
  * finds no relation at all. Here a rewrite (a) writes the new
  * generation to its own immutable directory, (b) commits by CREATING
  * one small manifest file — a single-object create, atomic on HDFS
  * and a single PUT on object stores — and (c) only then retires old
  * generations. A reader always resolves EITHER the old or the new
  * generation, never none.
  *
  * Why the manifest records the FILE LIST (with sizes, the data
  * schema, and per-file column stats): opening the relation then costs
  * one directory listing of `_manifests` plus one small-file read per
  * manifest/marker — never a recursive walk of the data directories
  * ([[ManifestFileIndex]] serves the scan's file index with zero
  * filesystem calls, and partition pruning / DPP work unchanged). The
  * per-file [min,max] stats (top-level int/long columns exact, string
  * columns UTF-8-truncated Iceberg-style — both read from the parquet
  * footers the writer just produced) buy Iceberg-style FILE
  * SKIPPING on top: a static key-range filter prunes files inside
  * [[ManifestFileIndex.listFiles]], and a runtime key set (an
  * incremental-dedup batch's touched bucket keys) prunes files through
  * [[pruneFiles]] before the scan is even planned. Combined with
  * range-clustered writes (`clusterBy`), a probe of K keys reads
  * O(K) files however large the relation grows — the property that
  * keeps per-batch probe cost ∝ batch at the 100 TB posture.
  *
  * Concurrency contract (checked in BOTH orderings, not assumed):
  *  - two concurrent REWRITES race on the same intent name; the
  *    exclusive create makes the loser fail loudly before it writes a
  *    byte of data, and unique generation directories mean even a
  *    pathological loser cannot clobber the winner's files;
  *  - an APPEND writes its batch into a fresh subdirectory of the live
  *    generation, then publishes it with a marker file. It fails
  *    loudly — before reporting success — if a rewrite INTENT exists
  *    or the generation pointer moved ([[append]]), telling the caller
  *    to replay the batch against the new generation;
  *  - a REWRITE declares its intent first (blocking new appends),
  *    re-checks the marker set immediately before its commit, and
  *    fails loudly if an append published a marker after the
  *    rewrite's input snapshot was taken ([[rewrite]] takes the
  *    [[Snap]] the caller read, so the check is against the files the
  *    output plan actually saw). The two sides close both orderings:
  *    a marker published before the intent is seen by the pre-commit
  *    re-check (the rewrite aborts); an append that starts after the
  *    intent sees the intent and fails (the rewrite proceeds). Either
  *    way no appended row is ever silently absent from a committed
  *    generation. Fence-loser failures are
  *    [[RetryableConflictException]]s — a replay against a fresh
  *    snapshot is expected to succeed ([[rewriteWithRetry]] automates
  *    the maintenance side);
  *  - a rewrite retains the immediately superseded generation (and
  *    deletes older ones), so a reader that resolved the pointer just
  *    before a commit can finish its scan; readers are expected to
  *    complete within one maintenance cycle (the snapshot-expiry
  *    grace every table format with time travel documents);
  *  - a rewrite that CRASHES between intent and commit leaves its
  *    intent file behind, which blocks appends and rewrites loudly
  *    (never silently) until [[clearStaleIntent]] — the janitor call
  *    every table format documents for abandoned transactions;
  *  - a PURE READER that lists a marker which a raced append then
  *    withdraws (the append lost its gate-2 check) re-resolves from a
  *    fresh listing instead of surfacing the raw missing-file error —
  *    the withdrawn batch's rows were never committed, so skipping to
  *    a consistent re-list is the correct view;
  *  - [[create]] is NOT safe against a concurrent create of the SAME
  *    relation (it clears the root first — two racing creators can
  *    destroy each other's data directories); the exclusive manifest
  *    create plus unique generation directories make the race END
  *    loudly with one winner whose manifest lists only its own files,
  *    but racing creates is a caller bug, not a supported protocol.
  *
  * Every manifest carries the `graft-store-v2` header. A manifest
  * without it (zero bytes, truncated, or written before the file-list
  * manifest existed) fails loudly as corrupt: such a store must be
  * rebuilt.
  *
  * Single-relation metadata that never changes after the build (the
  * `meta` / `codebook` / `centroids` relations) stays a plain
  * write-once parquet directory — immutability needs no generations.
  */
object Store {

  final case class Gen(n: Long, dataPath: String)

  /** A fence-loser outcome: the operation conflicted with a concurrent
    * append/rewrite and failed LOUDLY with nothing half-committed — a
    * replay against a fresh snapshot is expected to succeed. Typed so
    * retry harnesses ([[rewriteWithRetry]], ingest loops) can
    * distinguish "replay me" from genuine corruption; still an
    * IllegalStateException so untyped callers keep their contract. */
  final class RetryableConflictException(msg: String)
      extends IllegalStateException(msg)

  /** A resolved read snapshot of one relation: the generation it
    * bound, the fence state observed when the file list was read (the
    * set of append-marker names), the committed file list with its
    * per-file stats, the partition/data schema split, and the
    * DataFrame over exactly those files. [[rewrite]] REQUIRES the
    * snapshot its output was derived from — that is what makes the
    * ingest-vs-maintenance fence sound in the ordering where the
    * append lands between the caller's read and the rewrite's commit. */
  final case class Snap(
      relRoot: String, gen: Gen, fence: Set[String],
      df: DataFrame, files: Seq[FileEntry],
      partitionSchema: StructType, dataSchema: StructType) {
    /** The snapshot's EXACT row count from the manifest's per-file
      * counts (recorded from parquet footers at commit time) — a
      * free scalar where a `count()` is a whole job. None when any
      * file predates the r16 count entry: callers gating a broadcast
      * on it must then leave the planner's choice standing (the
      * conservative direction). */
    def manifestRowCount: Option[Long] =
      if (files.isEmpty || files.exists(_.rows < 0)) None
      else Some(files.map(_.rows).sum)
  }

  private def manifestsDir(relRoot: String) = s"$relRoot/_manifests"
  private def manifestName(n: Long) = f"m-$n%09d"
  private def intentName(n: Long) = f"r-$n%09d"
  private def markerPrefix(n: Long) = f"a-$n%09d-"
  private def uuid8 = java.util.UUID.randomUUID.toString.take(8)

  private def fileSystem(spark: SparkSession, p: Path): FileSystem =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def enc(s: String) =
    java.net.URLEncoder.encode(s, "UTF-8")
  private def dec(s: String) =
    java.net.URLDecoder.decode(s, "UTF-8")

  /** Mixed-version constraint: the v2 tag pins the manifest's LINE
    * structure (d/p/s/f lines), not the set of per-file STAT entry
    * shapes, which may grow within v2 (string bounds were added in
    * r14). Readers therefore SKIP stat entries whose shape they do not
    * recognize ([[parseStats]]) — the skipped column is merely
    * unbounded, so every file it might have pruned is kept (the
    * conservative direction). Readers OLDER than that rule (pre-r15)
    * fail on unknown shapes with a raw parse error — roll readers
    * forward before writers when upgrading a fleet. */
  private val FormatTag = "graft-store-v2"

  /** Parsed manifest content. */
  private final case class Manifest(
      dirName: String, partitionSchema: StructType, dataSchema: StructType,
      files: Seq[FileEntry])

  /** Stat entries: integral columns as `enc(col):min:max` (3 fields),
    * string columns as `enc(col):s:enc(min):enc(max)` (4 fields, `s`
    * tag), the file's exact ROW COUNT as `n:r:<rows>` (3 fields, `r`
    * tag — added r16 within v2's grow-the-entry-set rule: an r15
    * reader's 3-field branch throws NumberFormatException on the tag
    * and skips the entry, losing only the count) — URL-encoding
    * removes `:`/`;` from names and values, so the shapes parse
    * unambiguously and int-only (pre-r14) manifests read unchanged. */
  private def renderStats(
      stats: Map[String, (Long, Long)],
      strStats: Map[String, (String, String)],
      rows: Long): String = {
    val ints = stats.toSeq.sortBy(_._1)
      .map { case (c, (mn, mx)) => s"${enc(c)}:$mn:$mx" }
    val strs = strStats.toSeq.sortBy(_._1)
      .map { case (c, (mn, mx)) => s"${enc(c)}:s:${enc(mn)}:${enc(mx)}" }
    val cnt = if (rows >= 0) Seq(s"n:r:$rows") else Nil
    (ints ++ strs ++ cnt).mkString(";")
  }

  private def parseStats(s: String)
      : (Map[String, (Long, Long)], Map[String, (String, String)], Long) = {
    val ints = Map.newBuilder[String, (Long, Long)]
    val strs = Map.newBuilder[String, (String, String)]
    var rows = -1L
    s.split(';').iterator.filter(_.nonEmpty).foreach { part =>
      // limit -1 keeps trailing empty fields (an empty-string bound)
      val ps = part.split(":", -1)
      // recognized shapes only; anything else — a stat kind a NEWER
      // writer added within v2, or a damaged entry — is SKIPPED, never
      // a raw parse crash: a skipped stat leaves its column unbounded,
      // so every file it might have pruned is kept (conservative; see
      // the FormatTag mixed-version note)
      try {
        if (ps.length == 4 && ps(1) == "s")
          strs += ((dec(ps(0)), (dec(ps(2)), dec(ps(3)))))
        else if (ps.length == 3 && ps(1) == "r")
          rows = ps(2).toLong
        else if (ps.length == 3)
          ints += ((dec(ps(0)), (ps(1).toLong, ps(2).toLong)))
      } catch {
        case _: NumberFormatException | _: IllegalArgumentException => ()
      }
    }
    (ints.result(), strs.result(), rows)
  }

  private def renderFileLine(f: FileEntry): String = {
    val base = s"f\t${enc(f.rel)}\t${f.size}"
    if (f.stats.isEmpty && f.strStats.isEmpty && f.rows < 0) base
    else s"$base\t${renderStats(f.stats, f.strStats, f.rows)}"
  }

  private def renderManifest(
      dirName: String, partitionSchema: StructType, dataSchema: StructType,
      files: Seq[FileEntry]): String = {
    val sb = new StringBuilder
    sb.append(FormatTag).append('\n')
    sb.append("d\t").append(enc(dirName)).append('\n')
    sb.append("p\t").append(enc(partitionSchema.json)).append('\n')
    sb.append("s\t").append(enc(dataSchema.json)).append('\n')
    files.foreach(f => sb.append(renderFileLine(f)).append('\n'))
    sb.result()
  }

  private def renderMarker(files: Seq[FileEntry]): String =
    files.map(renderFileLine).mkString("", "\n", "\n")

  private def readSmallFile(fs: FileSystem, p: Path): String = {
    val in = fs.open(p)
    try {
      val out = new java.io.ByteArrayOutputStream()
      val buf = new Array[Byte](65536)
      var n = in.read(buf)
      while (n >= 0) { out.write(buf, 0, n); n = in.read(buf) }
      new String(out.toByteArray, java.nio.charset.StandardCharsets.UTF_8)
    } finally in.close()
  }

  private def parseFileLines(content: String): Seq[FileEntry] =
    content.linesIterator.filter(_.startsWith("f\t")).map { l =>
      val parts = l.split('\t')
      val (ints, strs, rows) =
        if (parts.length > 3) parseStats(parts(3))
        else (Map.empty[String, (Long, Long)],
          Map.empty[String, (String, String)], -1L)
      FileEntry(dec(parts(1)), parts(2).toLong, ints, strs, rows)
    }.toSeq

  /** `where` names the manifest file in the corrupt-manifest error: a
    * manifest without the v2 header, or missing its directory/schema
    * lines, is damage (zero-byte or truncated write, manual edit) or a
    * store from before the file-list manifest, never a legal state —
    * failing loudly here beats a `<relRoot>/null` path or an NPE
    * downstream. */
  private def parseManifest(content: String, where: String): Manifest = {
    if (!content.startsWith(FormatTag))
      throw new IllegalStateException(
        s"corrupt store manifest $where: the $FormatTag header is missing " +
          s"(a zero-byte or truncated manifest, or a store written before " +
          s"$FormatTag) — this store cannot be read; rebuild it")
    var dirName: String = null
    var pSchema: StructType = null
    var dSchema: StructType = null
    content.linesIterator.foreach { l =>
      if (l.startsWith("d\t")) dirName = dec(l.drop(2))
      else if (l.startsWith("p\t"))
        pSchema = DataType.fromJson(dec(l.drop(2))).asInstanceOf[StructType]
      else if (l.startsWith("s\t"))
        dSchema = DataType.fromJson(dec(l.drop(2))).asInstanceOf[StructType]
    }
    if (dirName == null || pSchema == null || dSchema == null)
      throw new IllegalStateException(
        s"corrupt store manifest $where: the $FormatTag header is present " +
          s"but the directory/partition-schema/data-schema lines are " +
          s"incomplete (truncated or hand-edited manifest) — restore the " +
          s"manifest or roll back to the previous generation's pointer")
    Manifest(dirName, pSchema, dSchema, parseFileLines(content))
  }

  /** The pluggable commit primitive ([[StoreCommit]]): rename-based by
    * default (HDFS / checksummed local FS); an object-store deployment
    * installs a conditional-PUT or catalog-backed implementation here
    * ONCE at startup. Process-wide because relations have no
    * per-relation configuration surface — the substrate is a property
    * of the filesystem, not of a store. */
  @volatile private var commitService: StoreCommit = LinkOrRenameStoreCommit

  def setCommitService(c: StoreCommit): Unit = {
    require(c != null, "commit service must not be null")
    commitService = c
  }

  private def writeExclusive(
      fs: FileSystem, p: Path, content: String)(onRace: => Nothing): Unit = {
    require(content.isEmpty,
      "writeExclusive publishes name-only exclusion tokens (intents); " +
        "content-bearing metadata must go through publishExclusive")
    if (!commitService.createExclusive(fs, p)) onRace
  }

  /** Atomically publish a small metadata file whose CONTENT readers
    * act on (manifests, append markers): write the full content to a
    * `t-<uuid>` sibling, close, then rename into place. Readers can
    * never observe a partial file — the create-then-write publication
    * this replaces had a window between `create` (name instantly
    * visible, zero bytes) and `close` where a racing [[snapshot]]
    * read a just-published marker back EMPTY: the marker's NAME then
    * sat in the rewrite fence (so the rewrite did not abort) while its
    * rows were absent from the fold — a committed silent loss the
    * raced StoreMaintenanceSpec reproduced under full-suite load.
    * The filesystem requirements and the object-store contract live on
    * the [[StoreCommit]] seam; [[LinkOrRenameStoreCommit]] is the default.
    * Intent files stay on [[writeExclusive]]: they are empty and
    * name-only, no torn-content window exists for them. */
  private def publishExclusive(
      fs: FileSystem, p: Path, content: String)(onRace: => Nothing): Unit =
    if (!commitService.publishExclusive(fs, p, content)) onRace

  /** One `_manifests` listing, shared by every resolution step: the
    * live generation number, its marker names, and any pending rewrite
    * intents (targets above the live generation). */
  private final case class State(
      n: Long, markers: Set[String], intents: Set[String])

  private def listState(spark: SparkSession, relRoot: String): State = {
    val dir = new Path(manifestsDir(relRoot))
    val fs = fileSystem(spark, dir)
    val names =
      try fs.listStatus(dir).map(_.getPath.getName)
      catch {
        case _: java.io.FileNotFoundException =>
          throw new IllegalStateException(
            s"no store relation at $relRoot: missing ${manifestsDir(relRoot)}")
      }
    val gens = names.filter(_.startsWith("m-")).map(_.drop(2).toLong)
    if (gens.isEmpty) throw new IllegalStateException(
      s"no store relation at $relRoot: ${manifestsDir(relRoot)} holds no manifest")
    val n = gens.max
    State(n,
      names.filter(_.startsWith(markerPrefix(n))).toSet,
      names.filter(nm => nm.startsWith("r-") && nm.drop(2).toLong > n).toSet)
  }

  private def loadManifest(
      spark: SparkSession, relRoot: String, n: Long): Manifest = {
    val mf = new Path(manifestsDir(relRoot), manifestName(n))
    val fs = fileSystem(spark, mf)
    parseManifest(readSmallFile(fs, mf), mf.toString)
  }

  /** Read `view` off a fresh listing, re-listing when a listed
    * manifest/marker file vanishes between the listing and its read —
    * the reader-vs-maintenance race: a raced append WITHDRAWS its
    * marker (its rows were never committed) and a committed rewrite
    * sweeps superseded manifests/markers; both are resolved by
    * re-listing, not by surfacing a raw missing-file error to a pure
    * reader. */
  private def relisting[T](spark: SparkSession, relRoot: String)(
      view: State => T): T = {
    var attempts = 0
    var lastMiss: java.io.FileNotFoundException = null
    while (attempts < 4) {
      attempts += 1
      val st = listState(spark, relRoot)
      try return view(st)
      catch {
        case e: java.io.FileNotFoundException => lastMiss = e
      }
    }
    throw new IllegalStateException(
      s"store resolution at $relRoot kept racing concurrent maintenance: a " +
        s"listed manifest/marker file vanished on $attempts consecutive " +
        s"attempts — if no writer is active, the manifest directory is " +
        s"damaged", lastMiss)
  }

  /** A fully-resolved view of the relation's live generation: the
    * listing, the parsed manifest, and every append marker's file
    * entries (with the `a-<uuid>/` batch prefix applied). */
  private final case class Resolved(
      st: State, manifest: Manifest, markerFiles: Seq[FileEntry])

  /** Resolve listing + manifest + markers as ONE consistent view. */
  private def resolve(spark: SparkSession, relRoot: String): Resolved = {
    val mdir = new Path(manifestsDir(relRoot))
    val fs = fileSystem(spark, mdir)
    relisting(spark, relRoot) { st =>
      val manifest = loadManifest(spark, relRoot, st.n)
      val markerFiles = st.markers.toSeq.sorted.flatMap { name =>
        parseFileLines(readSmallFile(fs, new Path(mdir, name)))
      }
      Resolved(st, manifest, markerFiles)
    }
  }

  /** Resolve the live generation of one relation: the highest-numbered
    * manifest file wins. Fails loudly when the relation does not exist
    * (no manifest directory or no manifest file). Reads the listing
    * plus ONE manifest file — never the append markers' contents
    * (which only [[snapshot]]/[[partFileCount]] consume); on an object
    * store that is one GET however many batches have landed. */
  def currentGen(spark: SparkSession, relRoot: String): Gen =
    relisting(spark, relRoot) { st =>
      Gen(st.n, s"$relRoot/${loadManifest(spark, relRoot, st.n).dirName}")
    }

  /** Resolve a read snapshot: the generation, its fence state, and a
    * DataFrame over exactly the files the manifest plus the current
    * append markers record — the file index is built from the manifest
    * ([[ManifestFileIndex]]), so no data directory is ever listed.
    *
    * Visibility note: a batch's rows become visible when its marker
    * is published, which happens BEFORE the append's final fence
    * validation — a snapshot taken inside that window can serve rows
    * of an append that then fails, withdraws, and is replayed, so the
    * rows transiently appear, vanish, and reappear under a (possibly
    * different) batch directory. This is inherent to publish-then-
    * validate; serving-side callers that cannot tolerate it should
    * re-resolve after the ingest loop quiesces. Rows of a batch whose
    * append REPORTED SUCCESS are stable. */
  def snapshot(spark: SparkSession, relRoot: String): Snap = {
    val r = resolve(spark, relRoot)
    val m = r.manifest
    val dataPath = s"$relRoot/${m.dirName}"
    val files = m.files ++ r.markerFiles
    Snap(relRoot, Gen(r.st.n, dataPath), r.st.markers,
      manifestDf(spark, dataPath, files, m.partitionSchema, m.dataSchema),
      files, m.partitionSchema, m.dataSchema)
  }

  /** Read the live generation of one relation. */
  def read(spark: SparkSession, relRoot: String): DataFrame =
    snapshot(spark, relRoot).df

  /** Cheap driver-side staleness check for a probe-time snapshot: has
    * the relation committed ANYTHING since `snap` was resolved — an
    * append (publishes a marker) or a rewrite (bumps the generation)?
    * One directory listing, no Spark job, no manifest read. The fused
    * ingest paths reuse their probe's snapshot/collected keys at append
    * time under a single-ingest-loop caller contract; this check turns
    * a silent violation of that contract (occupancy undercount,
    * duplicate hash rows) into a detected one the caller can heal by
    * re-resolving (ADVICE r15). */
  private[graft] def changedSince(spark: SparkSession, snap: Snap): Boolean = {
    val st = listState(spark, snap.relRoot)
    st.n != snap.gen.n || st.markers != snap.fence
  }

  /** Read a store's ONE-ROW `meta` sidecar relation on the DRIVER —
    * no Spark job. Every ingest batch re-reads its table's meta row
    * (`openSignatureTable`, `paragraphIngest`, the Hamming twins), and
    * `spark.read.parquet(...).head()` schedules a whole single-task
    * job for a row of a few primitive constants; at landing-zone
    * cadence that job is pure fixed driver cost (guide §5: the driver
    * should do almost no data work — r15 verdict #3). The direct path
    * handles exactly the shape the stores write (one part file, one
    * row, primitive columns); ANYTHING else falls back to the Spark
    * scan, so this is an execution shortcut, never a semantic change.
    * The returned row carries a schema, so `getAs[T]("name")` works
    * exactly as on a Spark-read row. */
  def readMetaRow(spark: SparkSession, dir: String): org.apache.spark.sql.Row =
    readMetaRowDirect(spark, dir).getOrElse(
      spark.read.parquet(dir).head())

  /** Thrown (and caught locally) when the meta relation is not the
    * one-file/one-row/primitive-columns shape the direct read handles —
    * the caller falls back to the Spark scan. A named control exception
    * instead of non-local `return`s: those crash scalac's backend when
    * they cross the nested try/finally below. */
  private final class MetaShapeUnsupported extends Exception {
    override def fillInStackTrace(): Throwable = this
  }

  private[graft] def readMetaRowDirect(
      spark: SparkSession, dir: String): Option[org.apache.spark.sql.Row] = try {
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
    import org.apache.spark.sql.types._
    def unsupported(): Nothing = throw new MetaShapeUnsupported
    val base = new Path(dir)
    val fs = fileSystem(spark, base)
    // every .parquet part is scanned (a parallel one-row write leaves
    // empty sibling parts next to the one real row); the ONE-ROW shape
    // is enforced across the whole directory
    val parts = fs.listStatus(base).filter(st => st.isFile &&
      st.getPath.getName.endsWith(".parquet") &&
      !st.getPath.getName.startsWith("."))
    if (parts.isEmpty || parts.length > 8) unsupported()
    var row: Option[org.apache.spark.sql.Row] = None
    parts.foreach { part =>
      val reader = org.apache.parquet.hadoop.ParquetReader
        .builder(new org.apache.parquet.hadoop.example.GroupReadSupport(),
          part.getPath)
        .withConf(spark.sparkContext.hadoopConfiguration)
        .build()
      try {
        var g = reader.read()
        while (g != null) {
          if (row.isDefined) unsupported() // more than 1 row in the relation
          val typ = g.getType
          val n = typ.getFieldCount
          val fields = new Array[StructField](n)
          val values = new Array[Any](n)
          var i = 0
          while (i < n) {
            val f = typ.getType(i)
            if (!f.isPrimitive) unsupported()
            val prim = f.asPrimitiveType()
            val ann = prim.getLogicalTypeAnnotation
            val isString = ann != null && ann.isInstanceOf[
              org.apache.parquet.schema.LogicalTypeAnnotation.StringLogicalTypeAnnotation]
            // a plain signed int annotation (intType(32/64, true)) is
            // how newer writers spell an unannotated INT32/INT64
            def plainInt(bits: Int): Boolean = ann == null || (ann match {
              case it: org.apache.parquet.schema.LogicalTypeAnnotation.IntLogicalTypeAnnotation =>
                it.getBitWidth == bits && it.isSigned
              case _ => false
            })
            val dt: DataType = prim.getPrimitiveTypeName match {
              case INT32 if plainInt(32) => IntegerType
              case INT64 if plainInt(64) => LongType
              case BOOLEAN => BooleanType
              case DOUBLE => DoubleType
              case FLOAT => FloatType
              case BINARY if isString => StringType
              case _ => unsupported() // decimals/timestamps/etc: Spark path
            }
            val absent = g.getFieldRepetitionCount(i) == 0
            values(i) =
              if (absent) null
              else dt match {
                case IntegerType => g.getInteger(i, 0)
                case LongType => g.getLong(i, 0)
                case BooleanType => g.getBoolean(i, 0)
                case DoubleType => g.getDouble(i, 0)
                case FloatType => g.getFloat(i, 0)
                case StringType => g.getString(i, 0)
                case _ => unsupported()
              }
            fields(i) = StructField(f.getName, dt, nullable = true)
            i += 1
          }
          row = Some(
            new org.apache.spark.sql.catalyst.expressions.GenericRowWithSchema(
              values, StructType(fields)))
          g = reader.read()
        }
      } finally reader.close()
    }
    if (row.isEmpty) unsupported()
    row
  } catch { case scala.util.control.NonFatal(_) => None }

  private def manifestDf(
      spark: SparkSession, dataPath: String, files: Seq[FileEntry],
      partitionSchema: StructType, dataSchema: StructType): DataFrame = {
    val base = new Path(dataPath)
    val qualified = fileSystem(spark, base).makeQualified(base)
    val index = new ManifestFileIndex(spark, qualified, files, partitionSchema)
    val classic = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    classic.baseRelationToDataFrame(HadoopFsRelation(
      index, partitionSchema, dataSchema, None, new ParquetFileFormat,
      Map.empty[String, String])(classic))
  }

  /** The `k=v` partition-path segments of one committed file, decoded
    * — the partition identity [[pruneFiles]] callbacks match against. */
  private def partitionValuesOf(rel: String): Map[String, String] =
    rel.split('/').dropRight(1).flatMap { seg =>
      val i = seg.indexOf('=')
      if (i <= 0) None
      else Some(ExternalCatalogUtils.unescapePathName(seg.take(i)) ->
        ExternalCatalogUtils.unescapePathName(seg.drop(i + 1)))
    }.toMap

  /** A file-pruned scan plus its pruning arithmetic: the kept and the
    * total file counts and bytes. */
  private[graft] final case class PrunedScan(
      df: DataFrame, keptFiles: Long, keptBytes: Long,
      totalFiles: Long, totalBytes: Long)

  /** DRIVER-SIDE dynamic file skipping: restrict a snapshot's scan to
    * the files whose partition values and recorded per-file column
    * stats survive `keep` — the probe-path complement of Catalyst's
    * dynamic partition pruning. DPP prunes partition DIRECTORIES
    * through the plan's own runtime subquery; this prunes FILES inside
    * them using a key set the caller has already computed (an
    * incremental batch's touched bucket keys), which Catalyst cannot
    * express because V1 file sources only accept dynamic filters on
    * partition columns. On a range-clustered relation (`clusterBy`) a
    * probe of K keys keeps O(K) files however large the relation is —
    * the bytes-∝-batch property of the serving path.
    *
    * `keep` receives the file's partition values (raw `k=v` path
    * strings) and its recorded stats (`col -> (min, max)` over the
    * file's NON-NULL values; sound for the null-insensitive key
    * lookups probes perform). CONSERVATIVE by construction: files
    * without stats are kept, so the pruned scan is always a superset
    * of the matching rows — callers keep their exact semi-joins
    * downstream. */
  def pruneFiles(snap: Snap)(
      keep: (Map[String, String], Map[String, (Long, Long)]) => Boolean)
      : DataFrame =
    prunedScan(snap)(keep).df

  private[graft] def prunedScan(snap: Snap)(
      keep: (Map[String, String], Map[String, (Long, Long)]) => Boolean)
      : PrunedScan = {
    val kept = snap.files.filter(f => keep(partitionValuesOf(f.rel), f.stats))
    val df = manifestDf(snap.df.sparkSession, snap.gen.dataPath, kept,
      snap.partitionSchema, snap.dataSchema)
    PrunedScan(df, kept.size.toLong, kept.map(_.size).sum,
      snap.files.size.toLong, snap.files.map(_.size).sum)
  }

  /** Recursive `.parquet` listing of a directory the CALLER just wrote
    * — O(own output), the only data-directory walk left in the layer. */
  private def listWritten(
      fs: FileSystem, dir: Path): Seq[(String, Long)] = {
    val base = fs.makeQualified(dir).toString
    val it = fs.listFiles(dir, true)
    val b = Seq.newBuilder[(String, Long)]
    while (it.hasNext) {
      val f = it.next()
      if (f.getPath.getName.endsWith(".parquet")) {
        val full = f.getPath.toString
        require(full.startsWith(base + "/"),
          s"listed file $full escapes $base")
        b += ((full.drop(base.length + 1), f.getLen))
      }
    }
    b.result()
  }

  /** One file's footer summary: per-column [min,max] over its non-null
    * values (top-level INT32/INT64 columns exact; top-level STRING
    * columns as truncation-safe inclusive bounds — see
    * [[truncLowerBound]]/[[truncUpperBound]]) plus the footer's
    * top-level field names (the append-time schema-drift check). A
    * column whose statistics are MISSING in any row group is omitted
    * entirely (unknown values may hide there); a row group that is
    * merely all-null for the column contributes no non-null values and
    * cannot widen the bound. */
  private final case class FooterInfo(
      stats: Map[String, (Long, Long)],
      strStats: Map[String, (String, String)],
      fieldNames: Seq[String],
      rows: Long)

  /** Manifest string bounds are truncated to this many code points —
    * Iceberg's default; long url/document keys stay prunable without
    * bloating the manifest. */
  private val StrBoundLen = 16

  /** Lower bound: the min's first [[StrBoundLen]]-code-point prefix —
    * a prefix is ≤ the original in UTF-8 binary order, so the bound
    * stays valid (inclusive) for every value in the file. */
  private def truncLowerBound(s: String): String =
    if (s.codePointCount(0, s.length) <= StrBoundLen) s
    else s.substring(0, s.offsetByCodePoints(0, StrBoundLen))

  /** Upper bound: the max's prefix with its LAST code point
    * incremented (skipping the unencodable surrogate gap) — every
    * string sharing the prefix is strictly below the incremented form,
    * so it is a valid inclusive upper bound. Positions that cannot
    * increment (U+10FFFF) retreat left; a prefix of all-U+10FFFF
    * yields None and the column is left unbounded (file kept). */
  private def truncUpperBound(s: String): Option[String] = {
    if (s.codePointCount(0, s.length) <= StrBoundLen) return Some(s)
    var prefix = s.substring(0, s.offsetByCodePoints(0, StrBoundLen))
    while (prefix.nonEmpty) {
      val last = prefix.codePointBefore(prefix.length)
      val cut = prefix.length - Character.charCount(last)
      if (last < Character.MAX_CODE_POINT) {
        val next =
          if (last + 1 >= Character.MIN_SURROGATE.toInt &&
            last + 1 <= Character.MAX_SURROGATE.toInt) 0xE000
          else last + 1
        return Some(prefix.substring(0, cut) +
          new String(Character.toChars(next)))
      }
      prefix = prefix.substring(0, cut)
    }
    None
  }

  /** UTF-8 binary order over raw stat bytes — Spark's own string
    * ordering (and the order parquet computes binary stats in);
    * `String.compareTo` is UTF-16 code-unit order and diverges on
    * supplementary characters. */
  private def utf8Compare(a: Array[Byte], b: Array[Byte]): Int =
    org.apache.spark.unsafe.types.UTF8String.fromBytes(a)
      .compareTo(org.apache.spark.unsafe.types.UTF8String.fromBytes(b))

  private def readFooterInfo(
      conf: org.apache.hadoop.conf.Configuration, file: Path): FooterInfo = {
    import scala.jdk.CollectionConverters._
    val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(file, conf))
    try {
      val footer = reader.getFooter
      val schema = footer.getFileMetaData.getSchema
      val names = schema.getFields.asScala.map(_.getName).toSeq
      val acc = scala.collection.mutable.Map[String, (Long, Long)]()
      val strAcc =
        scala.collection.mutable.Map[String, (Array[Byte], Array[Byte])]()
      val unknown = scala.collection.mutable.Set[String]()
      footer.getBlocks.asScala.foreach { block =>
        block.getColumns.asScala.foreach { chunk =>
          val path = chunk.getPath.toArray
          if (path.length == 1) {
            val name = path(0)
            val ptype = chunk.getPrimitiveType
            val isString = ptype.getPrimitiveTypeName ==
              org.apache.parquet.schema.PrimitiveType
                .PrimitiveTypeName.BINARY &&
              ptype.getLogicalTypeAnnotation.isInstanceOf[
                org.apache.parquet.schema.LogicalTypeAnnotation
                  .StringLogicalTypeAnnotation]
            val s = chunk.getStatistics
            val bound: Option[(Long, Long)] = s match {
              case null => unknown += name; None
              case ls: org.apache.parquet.column.statistics.LongStatistics
                  if !ls.isEmpty =>
                if (ls.hasNonNullValue) Some((ls.getMin, ls.getMax)) else None
              case is: org.apache.parquet.column.statistics.IntStatistics
                  if !is.isEmpty =>
                if (is.hasNonNullValue)
                  Some((is.getMin.toLong, is.getMax.toLong))
                else None
              case bs: org.apache.parquet.column.statistics.BinaryStatistics
                  if !bs.isEmpty && isString =>
                if (bs.hasNonNullValue) {
                  val (mn, mx) = (bs.getMinBytes, bs.getMaxBytes)
                  strAcc(name) = strAcc.get(name) match {
                    case Some((cmn, cmx)) =>
                      (if (utf8Compare(mn, cmn) < 0) mn else cmn,
                        if (utf8Compare(mx, cmx) > 0) mx else cmx)
                    case None => (mn, mx)
                  }
                }
                None
              case other
                  if other.isEmpty &&
                    (chunk.getPrimitiveType.getPrimitiveTypeName ==
                      org.apache.parquet.schema.PrimitiveType
                        .PrimitiveTypeName.INT64 ||
                      chunk.getPrimitiveType.getPrimitiveTypeName ==
                        org.apache.parquet.schema.PrimitiveType
                          .PrimitiveTypeName.INT32 ||
                      isString) =>
                unknown += name; None
              case _ => None
            }
            bound.foreach { case (mn, mx) =>
              val cur = acc.get(name)
              acc(name) = cur match {
                case Some((cmn, cmx)) => (math.min(cmn, mn), math.max(cmx, mx))
                case None => (mn, mx)
              }
            }
          }
        }
      }
      unknown.foreach { n => acc.remove(n); strAcc.remove(n) }
      val utf8 = java.nio.charset.StandardCharsets.UTF_8
      val strStats = strAcc.iterator.flatMap { case (name, (mnB, mxB)) =>
        val mn = new String(mnB, utf8)
        val mx = new String(mxB, utf8)
        // round-trip check: non-UTF-8 bytes masquerading as a string
        // would corrupt the bound through replacement characters —
        // omit the column (file kept) instead of mis-pruning
        if (!java.util.Arrays.equals(mn.getBytes(utf8), mnB) ||
          !java.util.Arrays.equals(mx.getBytes(utf8), mxB)) None
        else truncUpperBound(mx).map(u => name -> (truncLowerBound(mn), u))
      }.toMap
      val rows = footer.getBlocks.asScala.map(_.getRowCount).sum
      FooterInfo(acc.toMap, strStats, names, rows)
    } finally reader.close()
  }

  /** Footer reads of a commit move off the driver once the file count
    * crosses this: below, a thread pool amortizes in microseconds;
    * above, the O(files) footer pass is the kind of driver-side loop a
    * 10k-file generation must not serialize (an executor pass returns
    * only the per-file stat summaries). */
  private val DistributedStatThreshold = 64

  /** List + footer-summarize a just-written directory — the cost every
    * stats-bearing table format pays at commit. Small commits use a
    * driver-side thread pool over the writer's own output; large ones
    * (≥ [[DistributedStatThreshold]] files) fan the footer reads out
    * as one Spark job, so commit cost scales with executors, not with
    * the driver's ability to open files. */
  private def statWritten(
      spark: SparkSession, fs: FileSystem, dir: Path)
      : Seq[(FileEntry, Seq[String])] = {
    val raw = listWritten(fs, dir)
    if (raw.isEmpty) return Nil
    val conf = spark.sparkContext.hadoopConfiguration
    if (raw.size >= DistributedStatThreshold) {
      val base = fs.makeQualified(dir).toString
      val bc = spark.sparkContext.broadcast(
        new org.apache.spark.SerializableWritable(conf))
      try {
        val parts = math.min(raw.size, spark.sparkContext.defaultParallelism)
        return spark.sparkContext.parallelize(raw, parts)
          .map { case (rel, size) =>
            // per-task Configuration copy: the broadcast instance is
            // shared executor-wide and Configuration reads are not
            // safely concurrent with its lazy initialization
            val taskConf = new org.apache.hadoop.conf.Configuration(bc.value.value)
            val info = readFooterInfo(taskConf, new Path(s"$base/$rel"))
            (rel, size, info.stats, info.strStats, info.fieldNames, info.rows)
          }
          .collect()
          .toSeq
          .map { case (rel, size, stats, strStats, names, rows) =>
            (FileEntry(rel, size, stats, strStats, rows), names)
          }
      } finally bc.destroy() // one broadcast per large commit otherwise
        // accumulates on a continuously-ingesting driver
    }
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.min(8, raw.size))
    try {
      val futures = raw.map { case (rel, size) =>
        pool.submit(new java.util.concurrent.Callable[(FileEntry, Seq[String])] {
          override def call(): (FileEntry, Seq[String]) = {
            val info = readFooterInfo(conf, new Path(dir, rel))
            (FileEntry(rel, size, info.stats, info.strStats, info.rows),
              info.fieldNames)
          }
        })
      }
      futures.map { f =>
        try f.get()
        catch {
          case e: java.util.concurrent.ExecutionException => throw e.getCause
        }
      }
    } finally pool.shutdown()
  }

  private def splitSchema(
      schema: StructType, partitionCols: Seq[String]): (StructType, StructType) = {
    val pFields = partitionCols.map(c =>
      schema.fields.find(_.name.equalsIgnoreCase(c)).getOrElse(
        throw new IllegalArgumentException(
          s"partition column $c absent from schema ${schema.simpleString}")))
    val dFields = schema.fields.filterNot(f =>
      partitionCols.exists(_.equalsIgnoreCase(f.name)))
    // top-level nullable: parquet discovery reads the same way, and a
    // later append may legitimately carry nulls where the first write
    // happened not to
    (StructType(pFields.map(_.copy(nullable = true)).toArray),
      StructType(dFields.map(_.copy(nullable = true))))
  }

  /** Create (or overwrite) a relation as generation 1.
    *
    * `clusterBy` RANGE-CLUSTERS the data: rows are range-partitioned
    * and sorted on `partitionCols ++ clusterBy`, so each written file
    * covers a contiguous key range and the recorded per-file stats
    * make key probes touch O(keys) files ([[pruneFiles]]) — the
    * layout every probe-serving store should use. Range placement is
    * SAMPLING-FREE whenever the distribution is knowable: pass
    * `splits` ([[hashKeySplits]] for hash-valued keys,
    * [[statsSplits]] on rewrites), or let a single-numeric-key write
    * derive quantiles from one column-pruned aggregate; only the
    * generic multi-column/string case falls back to Spark's range
    * partitioner, whose sample pass EXECUTES the input plan once more
    * (persist expensive inputs first on that path). `numFiles` (> 0)
    * sets the target file count; 0 lets the planner choose for
    * clustered writes (AQE coalesces by advisory partition size, so
    * small relations land in few files and large ones in many) and
    * leaves unclustered data unshaped. */
  def create(df: DataFrame, relRoot: String,
             partitionCols: Seq[String] = Nil,
             clusterBy: Seq[String] = Nil,
             numFiles: Int = 0,
             splits: Option[RangeSplits] = None): Unit = {
    val spark = df.sparkSession
    val root = new Path(relRoot)
    val fs = fileSystem(spark, root)
    fs.delete(root, true)
    val dirName = f"g-${1L}%09d-$uuid8"
    val dataPath = new Path(root, dirName)
    writeData(df, dataPath.toString, partitionCols, clusterBy, numFiles, splits)
    val (pSchema, dSchema) = splitSchema(df.schema, partitionCols)
    val files = statWritten(spark, fs, dataPath).map(_._1)
    fs.mkdirs(new Path(manifestsDir(relRoot)))
    publishExclusive(fs, new Path(manifestsDir(relRoot), manifestName(1L)),
      renderManifest(dirName, pSchema, dSchema, files)) {
      fs.delete(dataPath, true)
      throw new IllegalStateException(
        s"store create race on $relRoot: another writer committed " +
          s"generation 1 first (racing creates of one relation is a " +
          s"caller bug — the loser's data directory was removed)")
    }
  }

  /** Append to the live generation with the ingest-vs-maintenance
    * fence. The batch lands in its own fresh subdirectory of the live
    * generation (`write` receives that path), is published by an
    * append MARKER, and the append reports success only if, after the
    * marker is visible, the generation pointer is unchanged and no
    * rewrite intent exists. In every interleaving with a concurrent
    * [[rewrite]] at least one side fails loudly: rows can never be
    * silently absent from a committed generation. On failure the
    * caller must replay the batch against the new generation (the
    * marker is withdrawn; the orphaned files die with their generation
    * directory one retention cycle later).
    *
    * Visibility: readers see the rows once the marker exists — there
    * is no PARTIAL-batch visibility, but there IS a transient window
    * for a FAILED append: the marker publishes before the final fence
    * validation, so a reader snapshotting between publish and a
    * losing validation serves rows that then vanish (marker withdrawn)
    * and reappear when the batch replays. Inherent to publish-then-
    * validate; see [[snapshot]] for the serving-side contract.
    *
    * The batch's files are footer-checked against the manifest's data
    * schema before the marker publishes: a drifted batch (missing /
    * renamed / extra column) fails loudly HERE instead of surfacing
    * as silent nulls under the manifest's pinned read schema. */
  def append(spark: SparkSession, relRoot: String)(
      write: String => Unit): Unit = {
    val st0 = listState(spark, relRoot)
    failIfIntent(relRoot, st0, "append")
    val m = loadManifest(spark, relRoot, st0.n)
    val mdir = new Path(manifestsDir(relRoot))
    val fs = fileSystem(spark, mdir)
    val sub = s"a-$uuid8"
    val subPath = new Path(s"$relRoot/${m.dirName}/$sub")
    write(subPath.toString)
    val statted = statWritten(spark, fs, subPath)
    if (statted.isEmpty) return
    checkAppendSchema(relRoot, m, statted, fs, subPath)
    val written = statted.map { case (f, _) =>
      f.copy(rel = s"$sub/${f.rel}")
    }
    // publish gate 1: don't even publish under a live rewrite
    val st1 = listState(spark, relRoot)
    failIfIntent(relRoot, st1, "append")
    failIfMoved(relRoot, st0.n, st1.n)
    val markerName = markerPrefix(st0.n) + uuid8
    val marker = new Path(mdir, markerName)
    publishExclusive(fs, marker, renderMarker(written)) {
      throw new RetryableConflictException(
        s"append marker collision on $relRoot — retry the batch")
    }
    // publish gate 2: a rewrite intent that raced the marker means
    // the rewrite may not have seen it — withdraw and replay
    val st2 = listState(spark, relRoot)
    if (st2.intents.nonEmpty || st2.n != st0.n) {
      if (!fs.delete(marker, false))
        throw new IllegalStateException(
          s"append to $relRoot lost a race with a concurrent rewrite " +
            s"AND could not withdraw its marker $markerName — remove it " +
            s"manually before replaying, or the batch may double-apply")
      failIfIntent(relRoot, st2, "append")
      failIfMoved(relRoot, st0.n, st2.n)
    }
  }

  /** The append-time schema fence: every written file's footer must
    * carry exactly the manifest's data columns, and its path must
    * carry every partition column as a `k=v` segment — otherwise the
    * batch is removed and the append fails loudly (a drifted batch
    * read under the pinned manifest schema would otherwise surface as
    * silent nulls). */
  private def checkAppendSchema(
      relRoot: String, m: Manifest,
      statted: Seq[(FileEntry, Seq[String])],
      fs: FileSystem, subPath: Path): Unit = {
    // case-insensitive, matching Spark's default resolution (and every
    // other name comparison in this layer): a batch whose column is
    // merely cased differently reads fine under the pinned schema
    val expect = m.dataSchema.fields.map(_.name.toLowerCase).toSet
    val pCols = m.partitionSchema.fields.map(_.name).toSeq
    statted.foreach { case (f, names) =>
      val got = names.map(_.toLowerCase).toSet
      if (got != expect) {
        fs.delete(subPath, true)
        throw new IllegalStateException(
          s"append to $relRoot rejected: batch file ${f.rel} carries " +
            s"columns ${names.sorted.mkString("[", ", ", "]")} but the " +
            s"relation's pinned data schema is " +
            s"${m.dataSchema.fields.map(_.name).sorted.mkString("[", ", ", "]")}" +
            s" — a drifted batch would be read as silent nulls; fix the " +
            s"writer's schema")
      }
      val pv = partitionValuesOf(f.rel)
      val missing = pCols.filterNot(c =>
        pv.keys.exists(_.equalsIgnoreCase(c)))
      if (missing.nonEmpty) {
        fs.delete(subPath, true)
        throw new IllegalStateException(
          s"append to $relRoot rejected: batch file ${f.rel} lacks the " +
            s"partition segment(s) ${missing.mkString(", ")} — write the " +
            s"batch with .partitionBy(${pCols.mkString(", ")}) to match " +
            s"the relation's layout")
      }
    }
  }

  private def failIfIntent(
      relRoot: String, st: State, op: String): Unit =
    if (st.intents.nonEmpty) throw new RetryableConflictException(
      s"$op to $relRoot blocked: a rewrite is in flight " +
        s"(intent ${st.intents.toSeq.sorted.mkString(", ")} present) — " +
        s"replay once it completes; if the intent is stale (a crashed " +
        s"rewrite), clear it with Store.clearStaleIntent")

  private def failIfMoved(relRoot: String, was: Long, now: Long): Unit =
    if (now != was) throw new RetryableConflictException(
      s"append to $relRoot lost a race with a concurrent rewrite " +
        s"(generation $was was superseded by $now while the batch " +
        s"was writing) — replay the batch against the new generation")

  /** Replace the relation's content with `out` as a new generation.
    * `snap` MUST be the snapshot `out` was derived from — the fence
    * compares the marker set at commit time against the marker set the
    * output plan actually read, so an append landing anywhere between
    * the caller's [[snapshot]] and this commit aborts the rewrite
    * loudly instead of silently losing the appended rows.
    *
    * Protocol: declare intent (exclusive create — a racing rewrite
    * loses HERE, before writing data; new appends fail from this point
    * on), verify the pointer still matches the snapshot, write the new
    * generation to its own unique directory, re-check the fence, commit
    * the manifest (atomic single-file create), withdraw the intent,
    * then delete every generation OLDER than the one just superseded
    * (which is retained one cycle for in-flight readers).
    *
    * `partitionCols`/`clusterBy`/`numFiles` shape the new generation
    * exactly as [[create]] — layout-preserving maintenance passes the
    * same layout the relation was built with (the retire/compact call
    * sites pass their table's layout literally — deliberately, since
    * compaction re-lays ANY relation into its declared layout, where
    * discovering the old layout would preserve a drifted one instead
    * of fixing it).
    * Fence-loser outcomes throw [[RetryableConflictException]]
    * ([[rewriteWithRetry]] is the bounded-replay harness).
    *
    * Availability note: the intent blocks ALL appends for the
    * rewrite's whole duration. At continuous-ingest cadence, schedule
    * long rewrites (full compactions) into an ingest pause, or let the
    * ingest side replay on [[RetryableConflictException]] — the
    * recommended protocol when both run unattended is exactly
    * [[rewriteWithRetry]] on the maintenance side plus replay-on-
    * conflict on the ingest side: every interleaving then converges
    * with all rows accounted for (StoreMaintenanceSpec pins one).
    *
    * Refuses an EMPTY rewrite — a takedown that empties a store should
    * be a rebuild decision, not an accident (and the check is free:
    * one `limit(1)` probe of the output plan). */
  def rewrite(snap: Snap, out: DataFrame, numFiles: Int,
              partitionCols: Seq[String] = Nil,
              clusterBy: Seq[String] = Nil,
              splits: Option[RangeSplits] = None): Unit = {
    val spark = out.sparkSession
    val relRoot = snap.relRoot
    if (out.isEmpty) throw new IllegalStateException(
      s"rewrite of $relRoot would leave the relation EMPTY — if the " +
        s"intent is to drop the whole store, delete and rebuild it instead")
    val n1 = snap.gen.n + 1
    val mdir = new Path(manifestsDir(relRoot))
    val fs = fileSystem(spark, mdir)
    val intent = new Path(mdir, intentName(n1))
    writeExclusive(fs, intent, "") {
      throw new RetryableConflictException(
        s"store rewrite race on $relRoot toward generation $n1: another " +
          s"rewrite is in flight (or crashed leaving a stale intent — " +
          s"clear it with Store.clearStaleIntent) — replay this " +
          s"maintenance run against the live generation")
    }
    var committed = false
    var dataPath: Path = null
    try {
      val stNow = listState(spark, relRoot)
      if (stNow.n != snap.gen.n) throw new RetryableConflictException(
        s"rewrite of $relRoot is based on a superseded snapshot " +
          s"(generation ${snap.gen.n}, live is ${stNow.n}) — re-read and " +
          s"replay the maintenance run")
      val dirName = f"g-$n1%09d-$uuid8"
      dataPath = new Path(relRoot, dirName)
      writeData(out, dataPath.toString, partitionCols, clusterBy, numFiles,
        splits)
      // The fence, rewrite side: the marker set at commit must EQUAL
      // the snapshot's. A marker ADDED since the snapshot is an append
      // whose rows the fold never saw (committing would silently drop
      // them). A marker REMOVED since the snapshot is an append that
      // WITHDREW after its gate-2 saw this rewrite's intent and
      // reported failure to its caller — but its rows sat in the
      // snapshot, so committing the fold would serve rows of a batch
      // whose contract says "replay me": the replay would then
      // double-apply. Both directions abort loudly and retryably;
      // while this rewrite's intent exists no OTHER maintenance can
      // commit, so a vanished fence marker can only mean withdrawal,
      // never a concurrent sweep.
      val fenceNow = listState(spark, relRoot).markers
      if (fenceNow != snap.fence) throw new RetryableConflictException(
        s"rewrite of $relRoot aborted: the append-marker set changed " +
          s"after this rewrite's input snapshot was taken (added: " +
          s"${(fenceNow -- snap.fence).toSeq.sorted.mkString(", ")}; " +
          s"withdrawn: " +
          s"${(snap.fence -- fenceNow).toSeq.sorted.mkString(", ")}) — " +
          s"committing would silently drop a landed batch or double-apply " +
          s"a withdrawn one; replay the maintenance run against the live " +
          s"generation")
      val (pSchema, dSchema) = splitSchema(out.schema, partitionCols)
      val files = statWritten(spark, fs, dataPath).map(_._1)
      publishExclusive(fs, new Path(mdir, manifestName(n1)),
        renderManifest(dirName, pSchema, dSchema, files)) {
        throw new RetryableConflictException(
          s"store commit race on $relRoot generation $n1: another writer " +
            s"committed first — replay this maintenance run against the " +
            s"new generation")
      }
      committed = true
    } finally {
      if (!committed && dataPath != null) fs.delete(dataPath, true)
      fs.delete(intent, false)
    }
    dropGenerationsBelow(spark, relRoot, snap.gen.n)
  }

  /** Bounded-replay rewrite: snapshot, derive the output with `out`,
    * [[rewrite]] — and on a fence-loser outcome (a late append, a
    * superseded snapshot, a raced commit, a rewrite already in flight)
    * re-snapshot and replay, up to `maxAttempts`. This is the
    * maintenance loop a continuously-ingesting store runs unattended:
    * a compaction racing a stream of appends eventually commits with
    * every appended row accounted for, because each replay derives its
    * output from a FRESH snapshot that includes everything the
    * previous attempt's abort protected. A STALE intent (crashed
    * rewrite) never clears on its own — after `maxAttempts` the last
    * conflict surfaces with the [[clearStaleIntent]] guidance. */
  def rewriteWithRetry(
      spark: SparkSession, relRoot: String, numFiles: Int = 0,
      partitionCols: Seq[String] = Nil, clusterBy: Seq[String] = Nil,
      maxAttempts: Int = 5,
      splits: Snap => Option[RangeSplits] = _ => None)(
      out: Snap => DataFrame): Unit = {
    require(maxAttempts >= 1, s"maxAttempts must be >= 1, got $maxAttempts")
    var attempt = 0
    while (true) {
      attempt += 1
      val snap = snapshot(spark, relRoot)
      try {
        rewrite(snap, out(snap), numFiles, partitionCols, clusterBy,
          splits(snap))
        return
      } catch {
        case e: RetryableConflictException =>
          if (attempt >= maxAttempts) throw new IllegalStateException(
            s"rewrite of $relRoot did not commit after $maxAttempts " +
              s"attempts — if the ingest side is quiescent, a stale " +
              s"intent from a crashed rewrite may be blocking " +
              s"(Store.clearStaleIntent); otherwise pause ingest for the " +
              s"maintenance window and retry", e)
          Thread.sleep(50L * attempt)
      }
    }
  }

  /** Remove a stale rewrite intent left by a crashed rewrite — the
    * janitor call. Only safe when no rewrite is actually in flight
    * (the caller's operational judgment, as with every table format's
    * abandoned-transaction cleanup). */
  def clearStaleIntent(spark: SparkSession, relRoot: String): Unit = {
    val st = listState(spark, relRoot)
    val mdir = new Path(manifestsDir(relRoot))
    val fs = fileSystem(spark, mdir)
    st.intents.foreach(name => fs.delete(new Path(mdir, name), false))
  }

  // ───────────── sampling-free range-clustered writes ─────────────

  /** Sampling-free range placement for one clustered write: given the
    * write's target partition count `n`, produce `(pid, m)` — a column
    * evaluating to a partition index in `[0, m)` that is MONOTONE in
    * the cluster-key order (m ≤ n; a blocked layout may round). The
    * write layer then places pid p in shuffle partition p EXACTLY (the
    * hash-slot remap below), so files inherit tight, disjoint key
    * ranges WITHOUT the range partitioner's sampling pass — a full
    * extra read of the input that Spark's `repartitionByRange` pays on
    * every clustered create/rewrite. The caller asserts it KNOWS the
    * key distribution instead of sampling it: hash-valued keys are
    * uniform by construction ([[hashKeySplits]]), a rewrite's input
    * distribution is already recorded in its own manifest stats
    * ([[statsSplits]]). */
  final case class RangeSplits(pid: Int => (Column, Int))

  /** [[RangeSplits]] for a HASH-VALUED long cluster key (xxhash64
    * bucket keys, paragraph hashes): uniform on the full 64-bit range
    * by construction, so equi-width slots are correct at every scale
    * with zero sampling. `partitionCol` (value domain `0 until count`,
    * e.g. LSH band ids) blocks pids per partition value, so each range
    * task writes exactly one file into its partition directory. */
  def hashKeySplits(
      hashKey: Column,
      partitionCol: Option[(Column, Int)] = None): RangeSplits =
    RangeSplits { n =>
      partitionCol match {
        case None => (equiWidthSlot(hashKey, math.max(1, n)), math.max(1, n))
        case Some((p, count)) =>
          val slots = math.max(1, n / math.max(1, count))
          ((p.cast("int") * slots + equiWidthSlot(hashKey, slots))
            .cast("int"), count * slots)
      }
    }

  /** The key's position in the signed long order as a 32-bit fraction
    * (top 32 bits of the sign-flipped value, in [0, 2³²)) — the shared
    * monotone-fraction kernel under [[equiWidthSlot]] and the Dedup
    * batch-placement slots. */
  private[operators] def signedTopFraction(h: Column): Column =
    shiftrightunsigned(h.cast("long").bitwiseXOR(lit(Long.MinValue)), 32)

  /** slot = floor(unsigned(h XOR sign bit) / 2⁶⁴ · slots), computed on
    * the key's top 32 bits — monotone in SIGNED long order, uniform
    * for hash-valued keys, null-first like a range sort. */
  private def equiWidthSlot(h: Column, slots: Int): Column =
    coalesce(
      shiftright(signedTopFraction(h) * lit(slots.toLong), 32).cast("int"),
      lit(0))

  /** [[RangeSplits]] from explicit ASCENDING split points: pid = the
    * insertion index of the key among the points (nulls first) — a
    * driver-side binary search per row, microseconds against the
    * shuffle it shapes. */
  def pointSplits(key: Column, points: Array[Long]): RangeSplits =
    RangeSplits { _ =>
      val pts = points
      val search = udf { (k: java.lang.Long) =>
        if (k == null) 0
        else {
          val i = java.util.Arrays.binarySearch(pts, k.longValue)
          if (i >= 0) i + 1 else -(i + 1)
        }
      }
      (search(key.cast("long")), pts.length + 1)
    }

  /** Derive split points for an int/long `key` from a snapshot's OWN
    * manifest stats — size-weighted quantiles assuming uniform keys
    * within each file's recorded [min,max]: exactly right for a
    * relation this layer range-clustered in the first place, and a
    * sampling pass over the whole store avoided on every maintenance
    * rewrite. None when any file lacks the stat — the caller falls
    * back to sampling. */
  def statsSplits(snap: Snap, key: String): Option[RangeSplits] = {
    if (snap.files.isEmpty) return None
    val ranged = snap.files.map { f =>
      f.stats.get(key).orElse(f.stats.collectFirst {
        case (k, v) if k.equalsIgnoreCase(key) => v
      }).map { case (mn, mx) => (mn, mx, math.max(f.size, 1L)) }
    }
    if (ranged.exists(_.isEmpty)) return None
    val files = ranged.flatten.sortBy(_._1)
    val total = files.map(_._3.toDouble).sum
    Some(RangeSplits { n =>
      if (n <= 1) (lit(0), 1)
      else {
        val pts = Array.newBuilder[Long]
        var cum = 0.0
        var q = 1
        files.foreach { case (mn, mx, w) =>
          while (q < n && q * total / n <= cum + w) {
            val frac = (q * total / n - cum) / w
            // double interpolation: (mx - mn) in LONG wraps negative
            // when one file's range spans more than half the 64-bit
            // domain (hash-valued keys coalesced into few files) —
            // the ~2^10-ulp double imprecision is irrelevant for a
            // split point, a wrapped sign is a degenerate layout
            val p = mn + (mx.toDouble - mn.toDouble) * frac
            pts += math.max(mn, math.min(mx,
              math.round(math.max(Long.MinValue.toDouble,
                math.min(Long.MaxValue.toDouble, p)))))
            q += 1
          }
          cum += w
        }
        val distinct = pts.result().distinct.sorted
        if (distinct.isEmpty) (lit(0), 1)
        else pointSplits(col(key), distinct).pid(n)
      }
    })
  }

  /** Percentile-derived splits for a single un-partitioned int/long
    * cluster key with no better mechanism: ONE narrow aggregate over
    * just the key column (column-pruned from parquet and cached data
    * both) replaces the range partitioner's full-width sample pass. */
  private def autoSplits(
      df: DataFrame, partitionCols: Seq[String],
      clusterBy: Seq[String]): Option[RangeSplits] = {
    if (partitionCols.nonEmpty || clusterBy.size != 1) return None
    val key = clusterBy.head
    val integral = df.schema.fields.find(_.name.equalsIgnoreCase(key))
      .exists(f => f.dataType == org.apache.spark.sql.types.LongType ||
        f.dataType == org.apache.spark.sql.types.IntegerType)
    if (!integral) return None
    Some(RangeSplits { n =>
      if (n <= 1) (lit(0), 1)
      else {
        val ps = (1 until n).map(_.toDouble / n).toArray
        val row = df
          .select(percentile_approx(col(key).cast("long"),
            lit(ps), lit(10000)).as("q"))
          .head()
        if (row.isNullAt(0)) (lit(0), 1)
        else {
          val pts = row.getSeq[Long](0).distinct.sorted.toArray
          if (pts.isEmpty) (lit(0), 1) else pointSplits(col(key), pts).pid(n)
        }
      }
    })
  }

  /** For each pid p < m, the smallest non-negative int whose Spark
    * shuffle hash (`pmod(murmur3(v, 42), n)`) IS p — the remap that
    * makes `repartition` place pid p in shuffle partition p exactly,
    * so monotone pids become monotone partition indexes (and AQE's
    * coalescing of ADJACENT partitions merges adjacent key ranges,
    * preserving tight per-file bounds). Solved driver-side in ~n·ln n
    * probes; None above the cap (a pathological file count falls back
    * to sampling rather than a megabyte plan literal). */
  private def remapToHashSlots(m: Int, n: Int): Option[Array[Int]] = {
    if (m <= 0 || m > 65536 || n < m) return None
    val remap = new Array[Int](m)
    val found = new Array[Boolean](m)
    var need = m
    var v = 0
    while (need > 0 && v >= 0) {
      val h = org.apache.spark.unsafe.hash.Murmur3_x86_32.hashInt(v, 42)
      val slot = ((h % n) + n) % n
      if (slot < m && !found(slot)) {
        found(slot) = true; remap(slot) = v; need -= 1
      }
      v += 1
    }
    if (need > 0) None else Some(remap)
  }

  /** Shuffle `df` into exactly `m` partitions with partition index ==
    * `pid` (a column in [0, m)) — the zero-sampling placement primitive
    * under [[RangeSplits]], public for batch-shaping call sites (an
    * append's 4-file range shaping would otherwise re-execute the
    * batch plan a second time for the range partitioner's sample).
    * Falls back to range partitioning on `fallbackKeys` above the
    * remap cap. */
  def placeByPid(df: DataFrame, pid: Column, m: Int,
                 fallbackKeys: Seq[Column]): DataFrame =
    remapToHashSlots(m, m).map { remap =>
      df.repartition(m, element_at(typedLit(remap.toSeq),
        coalesce(pid.cast("int"), lit(0)) + 1))
    }.getOrElse(df.repartitionByRange(m, fallbackKeys: _*))

  /** BATCH-append placement: shape a batch into `files` output files
    * with tight, disjoint per-file ranges of `key` (the footer-stat
    * shape later probes prune on) WITHOUT the range partitioner's
    * sampling pass — `repartitionByRange(files, key)` executes the
    * input plan once more per append just to learn boundaries an
    * ntile pid computes in-plan. The global ntile window funnels the
    * batch through one task, which is the append contract (batch-scale
    * input, ∝ batch by definition), never a corpus operation; rows
    * land in partition index == pid via [[placeByPid]], so the files
    * are range-ordered exactly as the sampler would have placed them
    * (boundaries fall on equal-count ntile edges instead of sampled
    * quantiles — same disjointness, same pruning power).
    *
    * package-private (ADVICE r15): the single-task funnel is the
    * APPEND contract, enforced by visibility — an external caller
    * handing it corpus-scale input would get a silent one-task
    * sort/OOM instead of the sampled-but-distributed
    * repartitionByRange. */
  private[graft] def placeBatchByKey(
      batch: DataFrame, key: String, files: Int): DataFrame = {
    require(files > 0, s"files must be > 0, got $files")
    if (files == 1) return batch.repartition(1)
    val pid = (ntile(files).over(org.apache.spark.sql.expressions.Window
      .orderBy(col(key).asc_nulls_first)) - 1).cast("int")
    placeByPid(batch.withColumn("__graft_pid", pid),
      col("__graft_pid"), files, Seq(col(key)))
      .drop("__graft_pid")
  }

  /** Highest value of an int partition column recorded in the
    * snapshot's file paths, plus one — the block count a maintenance
    * rewrite hands [[hashKeySplits]] for a 0-based partition domain
    * (LSH band ids). None when any file lacks the segment. */
  def partitionBlockCount(snap: Snap, colName: String): Option[Int] = {
    if (snap.files.isEmpty) return None
    val vals = snap.files.flatMap(f =>
      partitionValuesOf(f.rel).collectFirst {
        case (k, v) if k.equalsIgnoreCase(colName) => v.toInt
      })
    if (vals.size != snap.files.size) None else Some(vals.max + 1)
  }

  private def writeData(df: DataFrame, dataPath: String,
                        partitionCols: Seq[String],
                        clusterBy: Seq[String],
                        numFiles: Int,
                        splits: Option[RangeSplits] = None): Unit = {
    val shaped =
      if (clusterBy.nonEmpty) {
        val keys = (partitionCols ++ clusterBy).map(col)
        // numFiles == 0 leaves the partition count to the planner: AQE
        // coalesces a tiny relation to a handful of files (a fixed
        // count would scatter 5k rows over 32 near-empty files) and
        // sizes a 100 TB one by advisory partition bytes — both better
        // file layouts than any constant. The sampling-free path keeps
        // that: pid p lands in partition p, so AQE's adjacent-partition
        // coalescing merges ADJACENT KEY RANGES.
        val n =
          if (numFiles > 0) numFiles
          else {
            // the modulus an implicit `repartition(col)` shuffle will
            // actually use: AQE's initialPartitionNum (when coalescing
            // is on and it is set) overrides spark.sql.shuffle.partitions
            val conf = df.sparkSession.sessionState.conf
            val aqeCoalesce = conf.adaptiveExecutionEnabled &&
              conf.coalesceShufflePartitionsEnabled
            df.sparkSession.conf
              .getOption("spark.sql.adaptive.coalescePartitions.initialPartitionNum")
              .filter(_ => aqeCoalesce).map(_.toInt)
              .getOrElse(conf.numShufflePartitions)
          }
        val spec = splits.orElse(autoSplits(df, partitionCols, clusterBy))
        val placed = spec.flatMap { rs =>
          val (pid, m) = rs.pid(n)
          // m > n (a band domain wider than the shuffle target, e.g.
          // multi-probe's numPerm blocks vs 32 partitions) pins the
          // count explicitly: AQE coalescing is lost but the pid
          // count IS the partitioned-write floor (one file per band
          // dir), and a silent sampling fallback here would execute
          // the input plan twice uncached
          val explicitCount = numFiles > 0 || m > n
          remapToHashSlots(m, if (explicitCount) m else n).map { remap =>
            val slot = element_at(typedLit(remap.toSeq),
              coalesce(pid.cast("int"), lit(0)) + 1)
            if (explicitCount) df.repartition(m, slot)
            else df.repartition(slot) // REPARTITION_BY_COL: AQE-coalescable
          }
        }
        if (spec.nonEmpty && placed.isEmpty)
          System.err.println(
            s"[graft.Store] declared range placement for $dataPath " +
              s"exceeded the 65536-pid remap cap — falling back to the " +
              s"range partitioner's sampling pass (input plan executes " +
              s"twice; persist it first if it is expensive)")
        val ranged = placed.getOrElse {
          if (numFiles > 0) df.repartitionByRange(numFiles, keys: _*)
          else df.repartitionByRange(keys: _*)
        }
        ranged.sortWithinPartitions(keys: _*)
      } else if (partitionCols.nonEmpty) {
        if (numFiles > 0) df.repartition(numFiles, partitionCols.map(col): _*)
        else df
      } else if (numFiles > 0) df.coalesce(numFiles)
      else df
    val w = shaped.write.mode("overwrite")
    (if (partitionCols.isEmpty) w else w.partitionBy(partitionCols: _*))
      .parquet(dataPath)
  }

  private def genNumberOf(dirName: String): Option[Long] = {
    if (!dirName.startsWith("g-")) return None
    val digits = dirName.drop(2).takeWhile(_.isDigit)
    if (digits.nonEmpty && dirName.drop(2 + digits.length).startsWith("-"))
      Some(digits.toLong)
    else None
  }

  /** Delete generation directories (and their manifests, markers and
    * stale intents) strictly below `keep` — the retention sweep after
    * a commit (the superseded generation itself survives one cycle for
    * in-flight readers). Also sweeps data directories of ABORTED
    * rewrites (a `g-N-*` directory with no manifest and N below the
    * live generation can only be a loser's leftovers). */
  private def dropGenerationsBelow(
      spark: SparkSession, relRoot: String, keep: Long): Unit = {
    val root = new Path(relRoot)
    val fs = fileSystem(spark, root)
    fs.listStatus(root).foreach { st =>
      genNumberOf(st.getPath.getName).foreach { n =>
        if (n < keep) fs.delete(st.getPath, true)
      }
    }
    val mdir = new Path(manifestsDir(relRoot))
    val now = System.currentTimeMillis()
    fs.listStatus(mdir).foreach { st =>
      val name = st.getPath.getName
      val stale =
        (name.startsWith("m-") && name.drop(2).toLong < keep) ||
          (name.startsWith("a-") &&
            name.drop(2).takeWhile(_.isDigit).toLong < keep) ||
          (name.startsWith("r-") && name.drop(2).toLong <= keep) ||
          // a publish temp a crashed writer abandoned; age-gated so a
          // LIVE publish's temp (written and renamed within ms) is
          // never swept out from under it — a raced deletion would
          // only fail that publish's rename, a loud replayable
          // conflict, but there is no reason to cause one
          (name.startsWith("t-") &&
            now - st.getModificationTime > 10 * 60 * 1000L)
      if (stale) fs.delete(st.getPath, false)
    }
  }

  /** Parquet part-file count of the relation's LIVE generation: a
    * line count over the manifest and its markers (no filesystem
    * walk). The compaction signal every store's stats query reports. */
  def partFileCount(spark: SparkSession, relRoot: String): Long = {
    val r = resolve(spark, relRoot)
    r.manifest.files.size.toLong + r.markerFiles.size.toLong
  }

  /** Resolve a retirement list against the STORE'S OWN id type — the
    * takedown-safety check: a retirement id that does not survive a
    * round-trip through the store's id type (a string against a long
    * store, an overflowing long against an int store) can never match
    * a stored row, so instead of silently retiring nothing the call
    * fails loudly. Returns the distinct, store-typed id relation,
    * materialized (tiny by the takedown-list contract). */
  private[operators] def retireIds(
      store: DataFrame, storeIdCol: String,
      retired: DataFrame, idCol: String): DataFrame = {
    val dt = store.schema(storeIdCol).dataType
    val origType = retired.schema(idCol).dataType
    // try_cast, not cast: ANSI mode turns a malformed cast into a
    // runtime error mid-takedown; here a failed conversion must
    // surface as THIS check's loud, actionable message instead
    val cast = retired.select(col(idCol).as("__orig")).distinct()
      .withColumn("id", col("__orig").try_cast(dt))
      .localCheckpoint(true)
    val lossy = cast
      .filter(col("__orig").isNotNull &&
        !(col("id").try_cast(origType) <=> col("__orig")))
      .limit(1).collect()
    if (lossy.nonEmpty) throw new IllegalArgumentException(
      s"retirement id ${lossy.head.get(0)} (type $origType) does not " +
        s"round-trip through the store's id type $dt — it could never " +
        s"match a stored row; pass ids of the store's own type")
    cast.select(col("id")).filter(col("id").isNotNull)
  }
}
