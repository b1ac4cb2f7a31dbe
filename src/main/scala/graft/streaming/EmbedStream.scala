package graft.streaming

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, Trigger}

import graft.datax.{Dedup, Similarity}
import graft.util.AtomicSwap

/** The VECTOR twin of [[DedupStream]] — the continuous-ingest dedup loop
  * for an embedding corpus: each micro-batch of new vectors is
  * deduplicated within itself and against the standing corpus INDEX
  * (banded hyperplane LSH + exact-cosine verify, the d10 family), and
  * the accepted survivors are appended to it. The corpus invariant "no
  * two vectors at cosine >= threshold where the later id survives" is
  * maintained forever without re-pairing corpus x corpus — the
  * embedding-shard shape of the 100 TB ingest pipeline (text twin:
  * [[DedupStream]], same index protocol).
  *
  * The index is TWO tables under one root, each partitioned by
  * micro-batch id (`batch=N` dirs — [[DedupStream]]'s exactly-once
  * protocol, verbatim: per-batch partition OVERWRITE + read-excluding
  * the current batch + the compaction epoch/marker commit):
  *   - `vecs`  — the surviving (id, vector) rows themselves;
  *   - `bands` — the (id, tbl, bucket, params) sidecar
  *     ([[Dedup.embeddingBandSignatures]]), so steady-state batches
  *     never recompute corpus-side signatures: the batch's bands join
  *     the STORED table ([[Dedup.embeddingNearDupsIncremental]] with
  *     `indexBands` — corpus VECTORS re-enter only for the
  *     candidate-sized colliding slice), and the params column fails
  *     fast on (L, r, dim) drift.
  *
  * Dedup rule (the vector family's standing one, [[Similarity.semanticDedup]]'s):
  * of each near-dup pair the LARGER id drops — within the batch first
  * (pairs over the full batch), then any batch survivor pairing an
  * index survivor drops. No fingerprint side: an exact duplicate IS
  * cosine 1 and always shares every bucket with its twin.
  *
  * The SERVING index ([[Similarity.ivfIndexWrite]] / `pqIndexWrite`
  * layouts) can ride the same loop (round 17 — previously the one
  * crash seam left in the pipeline): pass `servingDir` and each
  * batch's survivors are appended to it via
  * [[Similarity.ivfIndexAppendBatch]] — the shard lands in a
  * batch-SCOPED partition of the serving index's increment sibling
  * table under partition OVERWRITE, so a crash anywhere between the
  * dedup-index writes and the serving append is healed by Structured
  * Streaming's replay of the batch (every write in the batch, dedup
  * AND serving, rewrites its own batch partitions — spec drives
  * exactly that window). The serving index must already exist with
  * geometry sized for the eventual corpus (same stance as the LSH
  * geometry below); between rebuilds run
  * [[Similarity.ivfIndexConsolidate]] on the same cadence as
  * [[compactIndex]] (it folds old increment batches into one epoch
  * partition under the identical marker protocol), and re-quantize on
  * the [[Similarity.ivfIndexStaleness]] / `ivfIndexSkew` triggers — a
  * rebuild folds the increment rows into the new base and clears the
  * sibling. Without `servingDir` the loop behaves as before: feed
  * survivors downstream under your own discipline (the plain,
  * layout-aware [[Similarity.ivfIndexAppend]] remains the at-most-once
  * path, on both layouts).
  *
  * (tables, planesPerTable) have NO default (round-16 review finding):
  * LSH geometry must be sized for the EVENTUAL index, not a fixture —
  * derive it once via [[Dedup.bandsFor]](expected corpus size,
  * threshold) before wiring the stream (a too-small fixed geometry is
  * the d10a-class quadratic trap, and the first batch pins it into the
  * bands sidecar: later corrections fail the params check and need an
  * index rebuild). The `maxBucketLoad` tripwire converts the mistake
  * into a fail-fast on BOTH passes: the cross batch x index join is
  * guarded by the load bound directly, and the within-batch pass
  * derives its per-bucket occupancy bound as sqrt(maxBucketLoad) —
  * the occupancy whose in-bucket pair expansion equals that load
  * (round 17; previously the within-batch pass was unguarded and the
  * scaladoc overclaimed). For dup-HEAVY batches — where the
  * within-batch candidate load IS the answer's size, not a parameter
  * bug — `withinOccupancy = Some(None)` unguards the within pass
  * alone, keeping the cross guard (see [[processBatch]]).
  *
  * MIGRATION (round 17 -> 18 ADVICE): the within-batch guard default
  * CHANGED from unguarded to the derived sqrt(maxBucketLoad) bound. A
  * deployment that was legitimately ingesting dup-heavy batches under
  * the earlier behavior will, on upgrade, raise deterministically on
  * the first such batch — and Structured Streaming's replay re-raises
  * forever (a wedged stream, not data loss: the guard trips in the
  * candidate pass, failing the job before its batch partitions
  * commit — and a replayed batch rewrites them regardless). The raise message
  * itself now names the escape (`withinOccupancy = Some(None)`); set
  * it if and only if wide within-batch buckets are the workload's
  * real shape rather than a mis-sized (tables, planesPerTable)
  * geometry.
  */
object EmbedStream {

  /** Wire a streaming DataFrame of vectors into the index loop; the
    * caller starts the returned writer (trigger/checkpoint theirs). */
  def writer(incoming: DataFrame, indexRoot: String, idCol: String,
             vecCol: String, tables: Int, planesPerTable: Int,
             threshold: Double = 0.9,
             maxBucketLoad: Option[Long] = Some(1L << 20),
             validateDim: Option[Int] = None,
             onMalformed: String = "fail",
             quarantineDir: Option[String] = None,
             servingDir: Option[String] = None,
             withinOccupancy: Option[Option[Int]] = None): DataStreamWriter[Row] =
    incoming.writeStream
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        processBatch(batch, batchId, indexRoot, idCol, vecCol, tables,
          planesPerTable, threshold, maxBucketLoad, validateDim,
          onMalformed, quarantineDir, servingDir, withinOccupancy)
      }

  /** One micro-batch of the loop — public so the crash-replay contract
    * is directly testable (same contract as
    * [[DedupStream.processBatch]]: replaying a batchId rewrites its
    * partitions, never double-appends or self-dedups).
    *
    * `validateDim` (the [[Similarity.validEmbeddings]] entry contract
    * ON the drive, like [[DedupStream.processBatch]]'s `onMalformed`):
    * `Some(dim)` validates each batch first under `onMalformed`
    * ("fail" default — the vector family's loud posture; "quarantine"
    * dead-letters to `quarantineDir` with reasons, same replay caveat
    * as the text loop: the dead-letter append is at-least-once, dedup
    * it by id downstream); `None` skips validation — ONLY for callers
    * whose upstream already enforces the vector-space contract (a
    * null/ragged vector inside the LSH is undefined behavior, which is
    * why the default here is to validate loudly, not to pass through
    * silently like the null-safe text loop can afford).
    *
    * `servingDir` (round 17): when set, the batch's survivors are also
    * appended to the serving ANN index at that path via
    * [[Similarity.ivfIndexAppendBatch]] — batch-scoped, replay-
    * idempotent (see the object doc). The append runs AFTER the dedup
    * index writes, inside the same batch scope: a crash between them
    * leaves the serving index one batch behind until the replay
    * rewrites both.
    *
    * READ-YOUR-WRITES during an in-flight batch (round 18, pinned):
    * the serving append lands a visible `batch=N` increment partition
    * the moment its write completes — so probes
    * ([[Similarity.ivfPqTopK]] / `ivfTopKIndexed`) see the running
    * batch's survivors BEFORE the batch as a whole commits. For ANN
    * serving this is the desired freshness (a vector is searchable
    * the instant it is indexed), and it is SAFE under crash replay:
    * a replayed batch OVERWRITES its own partition, so the
    * transiently-visible rows are replaced by the replay's (identical
    * — the shard per batchId is deterministic), never doubled. What a
    * reader must NOT assume is dedup-index/serving-index atomicity:
    * between the two writes a crash leaves the serving side one batch
    * ahead of or behind the dedup side until the replay realigns
    * them.
    *
    * The commit path computes each intermediate ONCE per batch: one
    * dimension probe; the within-batch drop list, stored (lineage-cut —
    * its occupancy guard fires in that job); the cross candidate pairs
    * against the stored sidecar, cached for their two consumers and
    * released before the call returns; the survivors write to a
    * staging dir (the one action that runs the dedup plan); the bands
    * sidecar derived from the staged survivors; the rename of both
    * into their `batch=N` partitions; then the serving append, encoded
    * against the serving index's build geometry as cached per
    * committed build. Both guards fire before any `batch=N` partition
    * is touched.
    *
    * `withinOccupancy` (round-17 review): the WITHIN-batch pass's
    * occupancy bound. `None` (default) derives sqrt(maxBucketLoad) —
    * the bound whose in-bucket pair expansion equals the cross-join
    * load guard. Pass `Some(Some(x))` for an explicit bound, or
    * `Some(None)` to run the within-batch pass UNGUARDED while
    * keeping the cross guard — the dup-heavy escape: a batch holding
    * more than the bound's worth of MUTUAL near-duplicates (thousands
    * of copies of one boilerplate page's embedding, say) is the
    * workload this loop exists for, its candidate load IS the
    * answer's size, and under the derived guard its deterministic
    * raise would wedge the stream (every replay re-raises). */
  def processBatch(batch: DataFrame, batchId: Long, indexRoot: String,
                   idCol: String, vecCol: String, tables: Int,
                   planesPerTable: Int, threshold: Double = 0.9,
                   maxBucketLoad: Option[Long] = Some(1L << 20),
                   validateDim: Option[Int] = None,
                   onMalformed: String = "fail",
                   quarantineDir: Option[String] = None,
                   servingDir: Option[String] = None,
                   withinOccupancy: Option[Option[Int]] = None): Unit = {
    val spark = batch.sparkSession
    val (vecsDir, bandsDir) = (s"$indexRoot/vecs", s"$indexRoot/bands")
    val raw = batch.persist()
    // the cross pass's cached candidate pairs, released with the batch
    var releaseCross: () => Unit = () => ()
    try {
      val b = validateDim match {
        case Some(dim) => Similarity.validEmbeddings(raw, vecCol, dim,
          onMalformed, quarantineDir)
        case None => raw
      }
      // ONE dimension probe per micro-batch (round 21, guide §1.2):
      // the two LSH passes and the sidecar write each ran their own
      // probe collect for the same number
      val dim = Dedup.probeDim(b, vecCol)
      // WITHIN-batch: pairs over the full batch, larger id of each
      // pair drops (the semanticDedup rule; pairs are (id_a < id_b)).
      // Default occupancy bound derived from maxBucketLoad: in-bucket
      // pair expansion at occupancy w costs ~w^2/2 pairs, so
      // sqrt(load) trips at the same candidate volume as the
      // cross-join guard (ADVICE r16: this pass was unguarded while
      // the doc claimed otherwise — a too-small fixed geometry on a
      // large FIRST batch hit the quadratic blowup before any cross
      // join existed). Overridable per the scaladoc's dup-heavy escape.
      val withinBound = withinOccupancy.getOrElse(
        maxBucketLoad.map(m =>
          math.min(Int.MaxValue.toDouble,
            math.max(2.0, math.sqrt(m.toDouble))).toInt)) // guard floor: 2
      // the drop list is MATERIALIZED here, once (its guard fires in
      // this job, before anything is staged): `withinSurvivors` feeds
      // the cross pass's signatures, its verify side and the final
      // anti join, and each of those used to re-run the whole pair
      // expansion and verify of the within pass
      val withinDrop = Dedup.cutLineage(
        Dedup.embeddingNearDupsBanded(b, idCol, vecCol,
          tables, planesPerTable, threshold, maxOccupancy = withinBound,
          metricSuffix = "ingest_within",
          guardHint = "This is EmbedStream's WITHIN-batch pass (guard " +
            "derived as sqrt(maxBucketLoad) since round 17 — previously " +
            "unguarded): for dup-HEAVY batches whose candidate load IS " +
            "the answer's size, pass withinOccupancy = Some(None) to " +
            "unguard this pass alone (the cross batch x index guard " +
            "stays); replaying the batch without it re-raises " +
            "deterministically.",
          dim = dim)
        .select(col("id_b").as(idCol)).distinct())
      val withinSurvivors = b.join(withinDrop, Seq(idCol), "left_anti")
      // CROSS batch x index: survivors pairing any index row drop.
      // Steady-state: batch bands join the STORED sidecar (params
      // checked on the DATA PATH — the eager per-batch full-sidecar
      // distinct+collect is the public form's posture, not the loop's);
      // index vectors re-enter only for the candidate-sized colliding
      // slice. Both index tables open with the schemas this loop writes
      // them with ([[DedupStream.priorRows]], no inference job). A bands
      // table missing by manual surgery falls back to the direct form.
      val survivors =
        DedupStream.priorRows(spark, vecsDir, batch.schema, batchId) match {
          case Some(indexVecs) =>
            val (pairs, release) = Dedup.embeddingIncrementPairs(
                withinSurvivors, indexVecs.select(batch.columns.map(col): _*),
                DedupStream.priorRows(spark, bandsDir,
                  Dedup.embeddingBandSignatures(b, idCol, vecCol, tables,
                    planesPerTable, dim = dim).schema, batchId),
                idCol, vecCol, tables, planesPerTable, threshold,
                maxBucketLoad, metricSuffix = "ingest_cross", dim = dim,
                ingest = true)
            releaseCross = release
            withinSurvivors.join(
              pairs.select(col("id_a").as(idCol)).distinct(),
              Seq(idCol), "left_anti")
          case None => withinSurvivors // first batch: no index yet
        }
      // STAGE-THEN-RENAME batch commit ([[DedupStream.processBatch]]'s
      // round-21 pattern, for the two vector tables): the staged vecs
      // write IS the materialization point — no index partition is
      // touched while the dedup plan still reads the index — and the
      // bands sidecar derives from the staged parquet (the native
      // BandSignatures projection over a tiny re-read; the old shape
      // paid persist + count + two concurrent partition overwrites plus
      // a THIRD dimension probe inside the write face). Crash windows
      // unchanged: mid-staging leaves the index intact, between renames
      // is the old between-writes window — the replay overwrites both.
      val (fs, _) = AtomicSwap.resolve(spark, indexRoot)
      val stage = new org.apache.hadoop.fs.Path(
        s"$indexRoot/${DedupStream.StageDirPrefix}$batchId")
      fs.delete(stage, true) // stale attempt of this batch
      survivors.write.parquet(s"$stage/vecs")
      val staged = spark.read.schema(org.apache.spark.sql.types.StructType(
          survivors.schema.fields)).parquet(s"$stage/vecs")
      Dedup.embeddingBandSignatures(staged, idCol, vecCol,
          tables, planesPerTable, dim = dim)
        .write.parquet(s"$stage/bands")
      DedupStream.commitStagedDir(fs, s"$stage/vecs", s"$vecsDir/batch=$batchId")
      DedupStream.commitStagedDir(fs, s"$stage/bands", s"$bandsDir/batch=$batchId")
      fs.delete(stage, true)
      // SERVING increment, same batch scope (round 17): also an
      // overwrite of its own batch partition, so the crash window
      // between the dedup writes above and this append closes on
      // replay — both sides rewrite, neither double-appends. Reads the
      // committed batch partition (the survivors, already on disk) and
      // encodes against the serving index's cached build geometry.
      servingDir.foreach { sd =>
        Similarity.ivfIndexAppendBatch(spark, sd,
          spark.read.schema(org.apache.spark.sql.types.StructType(
              survivors.schema.fields))
            .parquet(s"$vecsDir/batch=$batchId")
            .select(batch.columns.map(col).toIndexedSeq: _*),
          batchId, idCol, vecCol)
      }
      ()
    } finally { releaseCross(); raw.unpersist(); () }
    ()
  }

  /** One-shot drain (the [[DedupStream.runAvailableNow]] face). */
  def runAvailableNow(incoming: DataFrame, indexRoot: String, idCol: String,
                      vecCol: String, checkpointDir: String,
                      tables: Int, planesPerTable: Int,
                      threshold: Double = 0.9,
                      maxBucketLoad: Option[Long] = Some(1L << 20),
                      validateDim: Option[Int] = None,
                      onMalformed: String = "fail",
                      quarantineDir: Option[String] = None,
                      servingDir: Option[String] = None,
                      withinOccupancy: Option[Option[Int]] = None,
                      onProgress: Seq[org.apache.spark.sql.streaming.StreamingQueryProgress] => Unit =
                        _ => ()): Unit = {
    val trace = StreamOps.driveCollectingProgress(
      incoming.sparkSession.streams,
      writer(incoming, indexRoot, idCol, vecCol, tables, planesPerTable,
          threshold, maxBucketLoad, validateDim, onMalformed, quarantineDir,
          servingDir, withinOccupancy)
        .option("checkpointLocation", checkpointDir)
        .trigger(Trigger.AvailableNow())
        .start())
    onProgress(trace)
  }

  /** Batch-drive face (bench/verify entry + one-shot backfills): stream
    * the parquet files under `sourceDir` through the loop,
    * `maxFilesPerTrigger` per micro-batch, return the surviving index
    * vectors lineage-cut — the caller may delete `indexRoot` and
    * `checkpointDir` on return ([[DedupStream.ingestAvailableNow]]'s
    * contract, for vectors). */
  def ingestAvailableNow(spark: SparkSession, sourceDir: String,
                         indexRoot: String, checkpointDir: String,
                         idCol: String, vecCol: String,
                         tables: Int, planesPerTable: Int,
                         threshold: Double = 0.9,
                         maxFilesPerTrigger: Int = 1,
                         maxBucketLoad: Option[Long] = Some(1L << 20),
                         validateDim: Option[Int] = None,
                         onMalformed: String = "fail",
                         quarantineDir: Option[String] = None,
                         servingDir: Option[String] = None,
                         withinOccupancy: Option[Option[Int]] = None): DataFrame = {
    val schema = spark.read.parquet(sourceDir).schema
    val incoming = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .parquet(sourceDir)
    runAvailableNow(incoming, indexRoot, idCol, vecCol, checkpointDir,
      tables, planesPerTable, threshold, maxBucketLoad, validateDim,
      onMalformed, quarantineDir, servingDir, withinOccupancy)
    DedupStream.visibleIndex(spark, s"$indexRoot/vecs")
      .select(schema.fieldNames.map(col).toIndexedSeq: _*)
      .localCheckpoint(eager = true)
  }

  /** Retention: [[DedupStream.compactIndex]]'s epoch/marker protocol
    * over this loop's two tables. Same single-writer contract. */
  def compactIndex(spark: SparkSession, indexRoot: String,
                   keepLastBatches: Int = 1,
                   targetBytes: Long = 128L * 1024 * 1024): Option[Long] =
    DedupStream.compactIndexTables(spark, indexRoot, Seq("vecs", "bands"),
      keepLastBatches, targetBytes)

  /** Retention: drop the consolidated generation ([[DedupStream.expireIndex]]
    * over (vecs, bands)). */
  def expireIndex(spark: SparkSession, indexRoot: String): Option[Long] =
    DedupStream.expireIndexTables(spark, indexRoot, Seq("vecs", "bands"))
}
