package graft.streaming

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.streaming.{DataStreamWriter, Trigger}
import org.apache.spark.sql.types.{LongType, StructField, StructType}

import graft.datax.Dedup
import graft.util.AtomicSwap

/** The STREAMING face of the incremental-dedup loop: each micro-batch of
  * new documents is deduplicated against the standing corpus INDEX, and
  * the accepted survivors are appended to it. Combined with
  * [[graft.datax.Dedup.dedupIncrement]]'s contract this maintains the
  * corpus invariant "no two near-duplicate documents" forever without
  * ever re-pairing corpus × corpus — the continuous-ingest shape a
  * 100 TB crawl pipeline actually runs.
  *
  * The index is THREE tables under one root, each partitioned by
  * micro-batch id (`batch=N` dirs):
  *   - `docs`  — the surviving documents themselves;
  *   - `bands` — the (id, band, bsig, params) table
  *     ([[Dedup.bandSignatures]]), so steady-state batches never
  *     recompute corpus-side MinHash signatures: the batch's bands join
  *     the STORED table, and corpus shingles are rebuilt only for the
  *     candidate-sized slice of colliding docs;
  *   - `fps`   — the (id, fp) fingerprint table, the exact-duplicate
  *     lookup (16 bytes/doc; sub-k docs have no bands, so exact
  *     collisions need their own side).
  *
  * EXACTLY-ONCE-IN-EFFECT without a transaction log: each batch
  * OVERWRITES its own `batch=N` partition in all three tables, and the
  * index is read EXCLUDING the current batch's partitions. A crash
  * between the three writes followed by Structured Streaming's replay
  * of the same batch therefore REWRITES the partial partitions instead
  * of double-appending (plain appends would duplicate docs) or
  * self-deduping against its own partial previous attempt (which would
  * silently drop the whole batch). At-least-once delivery × idempotent
  * per-batch overwrite = the ST2 contract, file-level. Redelivered ROWS
  * inside later batches are additionally dropped by the operator's own
  * rules (fingerprint/near-dup against the index) — pinned in
  * StreamingSpec. On a lakehouse the three writes become one
  * transaction and the partition dance is unnecessary but harmless.
  *
  * RETENTION: continuous ingest accumulates one `batch=N` partition per
  * micro-batch per table — thousands of small files at steady state.
  * [[compactIndex]] consolidates old batches without breaking the
  * replay contract (see its doc for the epoch/marker commit protocol),
  * and [[expireIndex]] drops the consolidated generation — together
  * the retention policy of a long-running deployment.
  */
object DedupStream {

  /** Wire a streaming DataFrame of documents into the index loop. The
    * caller starts the returned writer (choosing trigger/checkpoint). */
  def writer(incoming: DataFrame, indexRoot: String, idCol: String,
             textCol: String, k: Int = 4, numHashes: Int = 16,
             bands: Int = 8, threshold: Double = 0.5,
             maxBucketLoad: Option[Long] = Some(1L << 20),
             onMalformed: Option[String] = None,
             quarantineDir: Option[String] = None): DataStreamWriter[Row] =
    incoming.writeStream
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        processBatch(batch, batchId, indexRoot, idCol, textCol, k,
          numHashes, bands, threshold, maxBucketLoad, onMalformed,
          quarantineDir)
      }

  /** One micro-batch of the loop — public so the crash-replay contract
    * is directly testable: calling it again with the SAME batchId (the
    * replay case, including after a crash that left only some of the
    * three partitions written) rewrites that batch's partitions and
    * leaves the index exactly as a single clean run would.
    *
    * `onMalformed` (round 16): the [[graft.datax.TextStats.validDocuments]]
    * entry contract ON the ingest loop — continuous ingest is the one
    * place the ST3 dead-letter posture must be an option on the drive,
    * not compose-in-front caller discipline (no human watches a
    * micro-batch). `None` (default) keeps the historical behavior:
    * null/whitespace docs flow into the dedup rules, which handle them
    * silently (null-safe fingerprints group them; sub-k docs are
    * invisible to MinHash) — they may enter the index. `Some("fail"/
    * "drop"/"dropWarn"/"quarantine")` applies validDocuments to each
    * micro-batch FIRST, over the persisted batch frame (so quarantine's
    * extra pass reads the cache, not the source twice). Quarantine
    * replay caveat: the dead-letter write is a plain append, so a
    * Structured Streaming replay of a crashed batch can append its
    * malformed rows twice — dedup the quarantine output by id
    * downstream (the validDocuments scaladoc's standing rule); the
    * INDEX stays exactly-once via the partition-overwrite protocol
    * regardless.
    *
    * ONE POLICY across the two ingest twins (round 17, stated once):
    * validation is loud exactly where malformedness is UNDEFINED
    * inside the operator, silent where it is well-defined. The vector
    * loop ([[EmbedStream]]) defaults to validate-and-fail because a
    * null/ragged vector inside the hyperplane LSH has no meaning — any
    * row that reaches the signatures is already a bug. THIS loop
    * defaults to pass-through because every dedup rule it runs is
    * total on degenerate text: null/whitespace docs fingerprint-group
    * with their exact twins, and sub-k docs are invisible to MinHash —
    * a "malformed" doc is just a very short document, and whether such
    * docs belong in the corpus is an upstream curation question
    * (compose [[graft.datax.TextStats.validDocuments]], or set
    * `onMalformed`, when the answer is no), not an ingest invariant. */
  def processBatch(batch: DataFrame, batchId: Long, indexRoot: String,
                   idCol: String, textCol: String, k: Int = 4,
                   numHashes: Int = 16, bands: Int = 8,
                   threshold: Double = 0.5,
                   maxBucketLoad: Option[Long] = Some(1L << 20),
                   onMalformed: Option[String] = None,
                   quarantineDir: Option[String] = None): Unit = {
    val spark = batch.sparkSession
    val (docsDir, bandsDir, fpsDir) =
      (s"$indexRoot/docs", s"$indexRoot/bands", s"$indexRoot/fps")
    // the batch frame re-executes its source per action; the dedup
    // pipeline reads it several times
    val raw = batch.persist()
    try {
      val b = onMalformed match {
        case Some(mode) => graft.datax.TextStats.validDocuments(
          raw, textCol, mode, quarantineDir)
        case None => raw
      }
      // the SHARED form hands back the batch's cached band signatures
      // so the sidecar write below reuses them (round 21, guide §1.2:
      // the write used to re-tokenize + re-aggregate the survivors from
      // raw text — a third signature derivation per batch); on the
      // first batch there is no index and it runs the within pass alone.
      // The three index tables open with the schemas this loop writes
      // them with: the batch's, and the sidecar faces' own output
      // schemas (analysis only, no job)
      val (survivors, batchBands, release) = Dedup.dedupIncrementShared(b,
        priorRows(spark, docsDir, batch.schema, batchId)
          .map(_.select(batch.columns.map(col): _*)),
        idCol, textCol, k, numHashes, bands, threshold,
        indexBands = priorRows(spark, bandsDir,
          Dedup.bandSignatures(b, idCol, textCol, k, numHashes, bands).schema,
          batchId),
        indexFps = priorRows(spark, fpsDir,
          Dedup.fingerprintTable(b, idCol, textCol).schema, batchId),
        maxBucketLoad = maxBucketLoad)
      try {
        // STAGE-THEN-RENAME batch commit (round 21, guide §2.4/§6; the
        // r20 whole-build-commit pattern applied per batch). The r20
        // shape was persist + count (materialize before any partition
        // overwrite) + THREE concurrent partition writes; writing the
        // survivors to a STAGING dir first makes the write itself the
        // materialization point — no index partition is touched while
        // the plan still reads the index — and the bands/fps sides
        // derive from the staged parquet + the shared band cache in ONE
        // tagged write, so a batch commits in TWO actions instead of
        // four. The `_`-prefixed staging dir is invisible to every
        // parquet reader and to the batch-dir listing; the renames are
        // driver metadata ops. Crash windows are unchanged: a crash
        // mid-staging leaves every index partition intact (replay
        // deletes the stage and rewrites), a crash between renames is
        // the old between-writes window (replay overwrites all three).
        val (fs, _) = AtomicSwap.resolve(spark, indexRoot)
        val stage = new org.apache.hadoop.fs.Path(
          s"$indexRoot/${StageDirPrefix}$batchId")
        fs.delete(stage, true) // stale attempt of this batch
        survivors.write.parquet(s"$stage/docs")
        // re-read the staged docs (schema given: a zero-survivor batch
        // writes no part files); fingerprints re-derive from the staged
        // text bit-identically (16 bytes/doc), bands filter the shared
        // cache (per-doc signatures are independent of other docs)
        val staged = spark.read.schema(org.apache.spark.sql.types.StructType(
            survivors.schema.fields)).parquet(s"$stage/docs")
        val bandsOut = batchBands.join(
          staged.select(col(idCol).as("id")), Seq("id"), "left_semi")
        val fpsOut = Dedup.fingerprintTable(staged, idCol, textCol)
        bandsOut.withColumn("side", lit("bands"))
          .unionByName(fpsOut.withColumn("side", lit("fps")),
            allowMissingColumns = true)
          .write.partitionBy("side").parquet(s"$stage/sides")
        commitStagedDir(fs, s"$stage/docs", s"$docsDir/batch=$batchId")
        commitStagedDir(fs, s"$stage/sides/side=bands", s"$bandsDir/batch=$batchId")
        commitStagedDir(fs, s"$stage/sides/side=fps", s"$fpsDir/batch=$batchId")
        fs.delete(stage, true)
        ()
      } finally { release(); () }
    } finally { raw.unpersist(); () }
    ()
  }

  /** Staging-dir prefix of the per-batch commit: `_`-prefixed, so
    * parquet readers and [[batchDirs]]' `batch=` listing never see it. */
  private[streaming] val StageDirPrefix = "_stage_batch="

  /** Flip one staged side into its batch partition: delete any previous
    * attempt's partition, then rename the staged dir in. A side the
    * tagged write produced NO rows for (partitionBy writes no dir)
    * commits as an EMPTY partition dir — the shape the per-table
    * overwrite always produced. */
  private[streaming] def commitStagedDir(fs: org.apache.hadoop.fs.FileSystem,
      src: String, target: String): Unit = {
    val s = new org.apache.hadoop.fs.Path(src)
    val t = new org.apache.hadoop.fs.Path(target)
    fs.delete(t, true)
    fs.mkdirs(t.getParent)
    if (fs.exists(s)) { fs.rename(s, t); () }
    else { fs.mkdirs(t); () }
  }

  /** One-shot convenience: drain everything available, then stop.
    * `onProgress` receives the query's FULL progress trace after the
    * drain — batch-count / input-row regression guards (StreamingSpec);
    * default no-op. Listener-collected
    * ([[StreamOps.driveCollectingProgress]]), not `recentProgress`,
    * which caps at 100 entries and would truncate a backfill of >100
    * micro-batches. */
  def runAvailableNow(incoming: DataFrame, indexRoot: String, idCol: String,
                      textCol: String, checkpointDir: String, k: Int = 4,
                      numHashes: Int = 16, bands: Int = 8,
                      threshold: Double = 0.5,
                      onProgress: Seq[org.apache.spark.sql.streaming.StreamingQueryProgress] => Unit =
                        _ => (),
                      maxBucketLoad: Option[Long] = Some(1L << 20),
                      onMalformed: Option[String] = None,
                      quarantineDir: Option[String] = None): Unit = {
    val trace = StreamOps.driveCollectingProgress(
      incoming.sparkSession.streams,
      writer(incoming, indexRoot, idCol, textCol, k, numHashes, bands,
          threshold, maxBucketLoad, onMalformed, quarantineDir)
        .option("checkpointLocation", checkpointDir)
        .trigger(Trigger.AvailableNow())
        .start())
    onProgress(trace)
  }

  /** BATCH-DRIVE face (bench/verify entry d52_streaming_ingest +
    * one-shot backfills; StreamingSpec pins the multi-file output ==
    * the sequential processBatch composition): stream the
    * parquet files under `sourceDir` through the index loop —
    * `maxFilesPerTrigger` files per micro-batch under AvailableNow, so a
    * multi-file table exercises the REAL cross-batch incremental path
    * (batch N dedups against the index batches 0..N-1 built, stored
    * band signatures and all), not just the first-batch dedupCorpus
    * case — and return the surviving index docs with lineage CUT
    * (localCheckpoint), so the caller may delete `indexRoot` and
    * `checkpointDir` the moment this returns.
    *
    * Parallelism sizing: this loop keeps NO engine state (foreachBatch
    * + its own parquet index), so unlike the stateful as-of drive's
    * `statePartitions` nothing is pinned in the checkpoint — size
    * `spark.sql.shuffle.partitions` on the driving session per run as
    * batch volume changes. (Measured at fixture scale: the per-batch
    * floor here is job-count machinery, not shuffle width — SCALE.md
    * "state-partition sizing".) */
  def ingestAvailableNow(spark: SparkSession, sourceDir: String,
                         indexRoot: String, checkpointDir: String,
                         idCol: String, textCol: String, k: Int = 4,
                         numHashes: Int = 16, bands: Int = 8,
                         threshold: Double = 0.5,
                         maxFilesPerTrigger: Int = 1,
                         onProgress: Seq[org.apache.spark.sql.streaming.StreamingQueryProgress] => Unit =
                           _ => (),
                         maxBucketLoad: Option[Long] = Some(1L << 20),
                         onMalformed: Option[String] = None,
                         quarantineDir: Option[String] = None): DataFrame = {
    val schema = spark.read.parquet(sourceDir).schema
    val incoming = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .parquet(sourceDir)
    runAvailableNow(incoming, indexRoot, idCol, textCol, checkpointDir,
      k, numHashes, bands, threshold, onProgress, maxBucketLoad,
      onMalformed, quarantineDir)
    visibleIndex(spark, s"$indexRoot/docs")
      .select(schema.fieldNames.map(col).toIndexedSeq: _*)
      .localCheckpoint(eager = true)
  }

  // ---- index retention / compaction ----------------------------------
  //
  // Epoch/marker protocol (a file-level stand-in for a lakehouse
  // snapshot commit, like AtomicSwap is for OPTIMIZE): batches
  // 0..cutoff consolidate into ONE partition dir named
  // `batch=-(cutoff+2)` (negative = never collides with a real batch
  // id; +2 keeps cutoff 0 away from -1 and reserves -1), and a tiny
  // `_compact_upto` marker file holds the committed cutoff. Readers
  // resolve visibility FROM THE MARKER: batch == -(cutoff+2) OR
  // batch > cutoff. The marker flip (an atomic rename) is the ONLY
  // commit point, which closes every crash window without parking:
  //   - crash while writing the consolidated dir: it is not yet
  //     visible (old marker), old partitions intact — re-run rewrites;
  //   - crash after the flip, before garbage collection: the old
  //     batch dirs and any previous epoch dir still exist but are
  //     INVISIBLE to readers — no duplicate rows (duplicates would
  //     corrupt the verify pass's shingle counts), no loss; the next
  //     compaction (or gcIndexTable) deletes them.
  // The replay contract survives because compaction never touches the
  // `keepLastBatches` highest batches: the only batch Structured
  // Streaming can replay is the in-flight (highest) one, whose
  // partition remains its own dir, and `batch =!= batchId` keeps
  // excluding it. Single-writer maintenance: run it from the ingest
  // loop between batches, never concurrently with one.

  private[graft] val MarkerName = "_compact_upto" // "_" prefix: invisible to parquet reads

  // ALL maintenance I/O goes through the Hadoop FileSystem resolved from
  // the path (AtomicSwap.resolve, as the parquet reads/writes already
  // do): on a non-local indexRoot (hdfs://, s3a://) java.nio would
  // silently see nothing — compactedUpTo would return None and
  // visibleIndex's `batch >= 0` filter would hide a committed epoch
  // partition, re-admitting near-dups with no error.

  /** Committed compaction cutoff of one index table, if any. */
  def compactedUpTo(spark: SparkSession, dir: String): Option[Long] = {
    val (fs, root) = AtomicSwap.resolve(spark, dir)
    val m = new org.apache.hadoop.fs.Path(root, MarkerName)
    if (!fs.exists(m)) None
    else {
      val in = fs.open(m)
      try {
        val out = new java.io.ByteArrayOutputStream()
        val buf = new Array[Byte](256)
        var n = in.read(buf)
        while (n > 0) { out.write(buf, 0, n); n = in.read(buf) }
        Some(new String(out.toByteArray, "UTF-8").trim.toLong)
      } finally in.close()
    }
  }

  /** THE batch-visibility rule, value form: with a committed cutoff
    * `c`, the epoch dir `-(c+2)` plus every batch above `c`; without a
    * marker, plain batches only. [[visibleIndex]]'s Column filter and
    * every driver-side dir walk over a batch table
    * ([[graft.datax.Similarity.ivfIndexSkew]]'s increment listing)
    * must agree with this ONE predicate — a hand-copied variant that
    * drifts would silently desynchronize a maintenance view from the
    * read face during compaction windows. */
  private[graft] def visibleBatch(cutoff: Option[Long], b: Long): Boolean =
    cutoff match {
      case Some(c) => b == -(c + 2) || b > c
      case None    => b >= 0
    }

  /** The committed row set of one index table: the consolidated epoch
    * partition plus every batch past the cutoff ([[visibleBatch]] in
    * Column form). Without a marker, plain batch partitions only
    * (negative dirs from an uncommitted compaction attempt stay
    * invisible). Public: this is the read face downstream consumers of
    * the index should use — a raw `read.parquet(dir)` sees invisible
    * dirs during the (crash-safe) compaction windows. */
  def visibleIndex(spark: SparkSession, dir: String): DataFrame =
    visibleRows(spark, dir, spark.read.parquet(dir))

  /** [[visibleIndex]] over `df`, an already-opened read of `dir`: a
    * caller that knows the table's schema opens it with that schema and
    * skips the inference job. */
  private[graft] def visibleRows(spark: SparkSession, dir: String,
                                 df: DataFrame): DataFrame =
    compactedUpTo(spark, dir) match {
      case Some(c) => df.filter(col("batch") === lit(-(c + 2)) || col("batch") > c)
      case None    => df.filter(col("batch") >= 0)
    }

  /** The index table at `dir` as a micro-batch of BOTH loops reads it:
    * the visible rows ([[visibleRows]]) minus batch `batchId`'s
    * partition — a partition possibly half-written by a crashed attempt
    * of THIS batch must not count as index (the batch would dedup
    * against its own rows and vanish). None while the table holds no
    * data file. The table is opened with `schema`, the columns the
    * loop writes it with, plus the `batch` partition column: no
    * schema-inference job (one per table per batch before). `schema`
    * is narrowed to the columns one stored data file carries (its
    * footer, read on the driver), so a table stored without a column —
    * a sidecar whose `params` column was lost — still reads without it
    * and fails the sidecar contract's schema rule, instead of reading
    * the column as nulls. */
  private[streaming] def priorRows(spark: SparkSession, dir: String,
                                   schema: StructType,
                                   batchId: Long): Option[DataFrame] =
    firstDataFile(spark, dir).map { file =>
      val stored = footerColumns(spark, file)
      val read = StructType(schema.filter(f => stored(f.name)) :+
        StructField("batch", LongType))
      visibleRows(spark, dir, spark.read.schema(read).parquet(dir))
        .filter(col("batch") =!= batchId)
    }

  /** Column names in the footer of one parquet file — a driver-side
    * read of the file's metadata, no Spark job. */
  private def footerColumns(spark: SparkSession,
                            file: org.apache.hadoop.fs.FileStatus): Set[String] = {
    val in = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromStatus(file,
        spark.sessionState.newHadoopConf()))
    try in.getFileMetaData.getSchema.getFields.asScala.map(_.getName).toSet
    finally in.close()
  }

  /** Consolidate all three index tables up to (highest batch −
    * `keepLastBatches`): per table, rewrite the visible rows at or
    * below the cutoff into one `coalesce`d epoch partition (ceil(current
    * bytes / `targetBytes`) files), commit via the marker
    * flip, then GC the now-invisible dirs. Idempotent; crash-safe at
    * every step (protocol above); a no-op when nothing is old enough.
    * Returns the new cutoff, or None when nothing was compacted. */
  def compactIndex(spark: SparkSession, indexRoot: String,
                   keepLastBatches: Int = 1,
                   targetBytes: Long = 128L * 1024 * 1024): Option[Long] =
    compactIndexTables(spark, indexRoot, Seq("docs", "bands", "fps"),
      keepLastBatches, targetBytes)

  /** [[compactIndex]] over an explicit table list — the protocol is
    * table-agnostic; [[EmbedStream]] runs it over (vecs, bands). */
  private[streaming] def compactIndexTables(spark: SparkSession,
      indexRoot: String, tables: Seq[String], keepLastBatches: Int,
      targetBytes: Long): Option[Long] = {
    require(keepLastBatches >= 1,
      s"keepLastBatches=$keepLastBatches: the in-flight batch is replayable and must stay")
    tables.flatMap { t =>
      compactIndexTable(spark, s"$indexRoot/$t", keepLastBatches, targetBytes)
    }.headOption
  }

  /** RETENTION (round 6): FORGET the consolidated generation — delete
    * each table's committed epoch partition (every row at or below the
    * compaction cutoff), keeping all plain batches above it. Composed
    * with [[compactIndex]] this is the generational policy a 100 TB
    * deployment runs: `compactIndex(keepLastBatches = N)` folds
    * everything older than the newest N batches into one epoch, and
    * `expireIndex` drops that epoch — net effect "retain only the last
    * N ingest batches", without ever touching a replayable partition
    * (compaction already refuses to fold the in-flight batch).
    *
    * Forgetting is the SEMANTICS, not a defect: a future document that
    * near-duplicates only expired corpus rows is admitted (the corpus
    * chose to stop remembering them); the no-near-dup invariant
    * continues to hold among the RETAINED docs, because expiry removes
    * whole (doc, bands, fps) generations together, never one side of a
    * surviving doc's index entries.
    *
    * Crash-safety needs NO new protocol state: the marker stays at the
    * cutoff `c`, and [[visibleIndex]]'s `batch == -(c+2) OR batch > c`
    * reads identically through every intermediate state — epoch present
    * (pre-expiry), partially deleted (transiently fewer old rows — a
    * delete is the one operation where that is acceptable), or absent
    * (post-expiry). The delete IS the commit; re-running after a crash
    * that expired only some of the three tables finishes the job
    * (idempotent), and the transient doc/bands asymmetry can only
    * affect pairs involving rows already chosen for deletion.
    *
    * Returns the expired cutoff (from the docs table), or None when
    * there is no committed epoch to drop. */
  def expireIndex(spark: SparkSession, indexRoot: String): Option[Long] =
    expireIndexTables(spark, indexRoot, Seq("docs", "bands", "fps"))

  /** [[expireIndex]] over an explicit table list ([[EmbedStream]]'s
    * (vecs, bands)). */
  private[streaming] def expireIndexTables(spark: SparkSession,
      indexRoot: String, tables: Seq[String]): Option[Long] =
    tables.flatMap { t =>
      val dir = s"$indexRoot/$t"
      gcIndexTable(spark, dir) // heal any crashed compaction first
      compactedUpTo(spark, dir).flatMap { c =>
        val (fs, root) = AtomicSwap.resolve(spark, dir)
        val epoch = new org.apache.hadoop.fs.Path(root, s"batch=${-(c + 2)}")
        if (fs.exists(epoch)) { fs.delete(epoch, true); Some(c) } else None
      }
    }.headOption

  private def batchDirs(spark: SparkSession, dir: String)
      : Seq[(org.apache.hadoop.fs.Path, Long)] = {
    val (fs, root) = AtomicSwap.resolve(spark, dir)
    if (!fs.exists(root) || !fs.getFileStatus(root).isDirectory) return Seq.empty
    fs.listStatus(root).toSeq.flatMap { st =>
      val n = st.getPath.getName
      if (n.startsWith("batch="))
        scala.util.Try(n.stripPrefix("batch=").toLong).toOption.map(st.getPath -> _)
      else None
    }
  }

  /** Delete dirs made invisible by the committed marker (old batches at
    * or below the cutoff; stale epoch dirs from superseded or
    * uncommitted compactions). Safe any time: only invisible data —
    * "invisible" BY [[visibleBatch]], the one predicate, negated (the
    * round-17 review caught this as the last hand-coded complement of
    * that rule). */
  private[graft] def gcIndexTable(spark: SparkSession, dir: String): Unit = {
    val (fs, _) = AtomicSwap.resolve(spark, dir)
    val cutoff = compactedUpTo(spark, dir)
    batchDirs(spark, dir).foreach { case (p, b) =>
      if (!visibleBatch(cutoff, b)) { fs.delete(p, true); () }
    }
  }

  /** COMMIT a new marker value: write to a `.tmp` sibling, then an
    * atomic overwrite-rename via FileContext (plain FileSystem.rename
    * does not overwrite, and delete-then-rename would open a window
    * where readers see NO marker and hide the committed epoch). */
  private def commitMarker(spark: SparkSession, dir: String, cutoff: Long): Unit = {
    val (fs, root) = AtomicSwap.resolve(spark, dir)
    val mtmp = new org.apache.hadoop.fs.Path(root, MarkerName + ".tmp")
    val out = fs.create(mtmp, true)
    try out.write(cutoff.toString.getBytes("UTF-8")) finally out.close()
    val fc = org.apache.hadoop.fs.FileContext.getFileContext(
      root.toUri, spark.sessionState.newHadoopConf())
    fc.rename(mtmp, new org.apache.hadoop.fs.Path(root, MarkerName),
      org.apache.hadoop.fs.Options.Rename.OVERWRITE)
  }

  /** [[compactIndexTable]] for a batch table whose batch dirs hold a
    * NESTED partition column (the serving-index increment table,
    * `batch=N/centroid_id=K/...` —
    * [[graft.datax.Similarity.ivfIndexConsolidate]]): the identical
    * epoch/marker protocol, but the epoch dir is written
    * `partitionBy(nestedCol)` so downstream directory pruning on that
    * column survives consolidation, and the rewrite is hash-routed on
    * the nested column (each bucket's rows land in exactly one task →
    * ONE file per nested partition in the epoch, the compacted serving
    * shape). Same single-writer contract; `keepLastBatches >= 1` keeps
    * every replayable batch its own dir. */
  private[graft] def compactIndexTableNested(spark: SparkSession, dir: String,
      nestedCol: String, keepLastBatches: Int,
      targetBytes: Long): Option[Long] = {
    require(keepLastBatches >= 1,
      s"keepLastBatches=$keepLastBatches: the in-flight batch is replayable and must stay")
    gcIndexTable(spark, dir)
    val (fs, root) = AtomicSwap.resolve(spark, dir)
    val prev = compactedUpTo(spark, dir)
    val real = batchDirs(spark, dir).map(_._2).filter(_ >= 0)
    if (real.isEmpty) return None
    val cutoff = real.max - keepLastBatches
    val toFold = real.filter(_ <= cutoff)
    if (toFold.isEmpty) return None
    val folded = visibleIndex(spark, dir).filter(col("batch") <= cutoff)
      .drop("batch")
    val bytes = toFold.map(b => dirBytes(spark, s"$dir/batch=$b")).sum +
      prev.map(c => dirBytes(spark, s"$dir/batch=${-(c + 2)}")).getOrElse(0L)
    val nTasks = math.max(1, math.ceil(bytes.toDouble / targetBytes).toInt)
    val tmp = new org.apache.hadoop.fs.Path(root, "_compact_tmp")
    fs.delete(tmp, true)
    folded.repartition(nTasks, col(nestedCol))
      .write.partitionBy(nestedCol).parquet(tmp.toString)
    val epoch = new org.apache.hadoop.fs.Path(root, s"batch=${-(cutoff + 2)}")
    fs.delete(epoch, true)
    fs.rename(tmp, epoch)
    commitMarker(spark, dir, cutoff)
    gcIndexTable(spark, dir)
    Some(cutoff)
  }

  private def compactIndexTable(spark: SparkSession, dir: String,
                                keepLastBatches: Int,
                                targetBytes: Long): Option[Long] = {
    gcIndexTable(spark, dir) // heal leftovers from any crashed prior run
    val (fs, root) = AtomicSwap.resolve(spark, dir)
    val prev = compactedUpTo(spark, dir)
    val real = batchDirs(spark, dir).map(_._2).filter(_ >= 0)
    if (real.isEmpty) return None
    val cutoff = real.max - keepLastBatches
    val toFold = real.filter(_ <= cutoff)
    if (toFold.isEmpty) return None // nothing old enough
    // visible rows at or below the cutoff = previous epoch + old batches
    val folded = visibleIndex(spark, dir).filter(col("batch") <= cutoff)
      .drop("batch") // partition value lives in the dir name, not the files
    val bytes = toFold.map(b => dirBytes(spark, s"$dir/batch=$b")).sum +
      prev.map(c => dirBytes(spark, s"$dir/batch=${-(c + 2)}")).getOrElse(0L)
    val nFiles = math.max(1, math.ceil(bytes.toDouble / targetBytes).toInt)
    val tmp = new org.apache.hadoop.fs.Path(root, "_compact_tmp") // "_": invisible
    fs.delete(tmp, true) // stale rewrite from a crashed run
    folded.coalesce(nFiles).write.parquet(tmp.toString)
    val epoch = new org.apache.hadoop.fs.Path(root, s"batch=${-(cutoff + 2)}")
    fs.delete(epoch, true) // uncommitted partial attempt
    fs.rename(tmp, epoch)
    // COMMIT: atomic marker flip — readers switch epochs here
    commitMarker(spark, dir, cutoff)
    gcIndexTable(spark, dir) // old batches + superseded epoch now invisible
    Some(cutoff)
  }

  private def dirBytes(spark: SparkSession, dir: String): Long = {
    val (fs, p) = AtomicSwap.resolve(spark, dir)
    if (!fs.exists(p)) 0L else fs.getContentSummary(p).getLength
  }

  /** One parquet file of a committed partition of the table at `dir`,
    * if any — None also means a bare `spark.read.parquet` of the dir
    * cannot infer a schema. Epoch dirs (batch=-K) count — after heavy
    * compaction the whole index may live in one. */
  private def firstDataFile(spark: SparkSession,
                            dir: String): Option[org.apache.hadoop.fs.FileStatus] = {
    val root = new org.apache.hadoop.fs.Path(dir)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(root)) None
    else Option(fs.globStatus(
        new org.apache.hadoop.fs.Path(dir, "batch=*/*.parquet")))
      .flatMap(_.headOption)
  }
}
