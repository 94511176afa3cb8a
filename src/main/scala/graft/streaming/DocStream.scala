package graft.streaming

import graft.functions.TextFunctions
import graft.operators.Dedup
import org.apache.spark.sql.{DataFrame, Dataset, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** Streaming document ingest — the streaming face of the batch ingest gate
  * (`Dedup.dropDupesAgainst`): documents arrive continuously, exact
  * duplicates of the historical corpus AND re-sends within the stream are
  * dropped before the sink.
  *
  * Scale design: the corpus side collapses to DISTINCT 64-bit text
  * fingerprints (8 bytes per historical doc — persist/bucket this table
  * between ingests) and the membership probe is a STATELESS stream-static
  * join evaluated per micro-batch; only the within-stream dedup keeps
  * state, keyed by fingerprint and bounded by the watermark horizon, so
  * state is O(docs-in-horizon), independent of corpus size and stream
  * length.
  */
object DocStream {

  /** Every this-many triggers, [[selfMaintainingNearDedupedIngest]]'s
    * prior-survivor cache collapses its lazy per-partition union into one
    * whole-sink scan, bounding plan growth on long streams.
    */
  private val PriorRelistEvery = 16

  /** `df` computed once, its rows held on the driver as a local relation:
    * later plans reuse the rows instead of recomputing them, and the
    * planner sizes them exactly (a foreachBatch micro-batch otherwise
    * plans at `spark.sql.defaultSizeInBytes`). For batch-bounded frames
    * only.
    */
  private def localized(df: DataFrame): DataFrame = {
    val rows = df.collect()
    df.sparkSession.createDataFrame(java.util.Arrays.asList(rows: _*), df.schema)
  }

  /** Per-stream trigger tuning for the foreachBatch gates (r19): a gate
    * trigger's plan is BATCH-BOUNDED — the corpus side is a bucket-local
    * table read with no exchange, so every Exchange in the plan carries at
    * most one micro-batch of rows — and AQE's per-stage runtime
    * re-optimization turns each of those exchanges into a separate
    * stage-materialization JOB, re-planning KB-scale shuffles whose join
    * strategy cannot change (measured r19: q6c 42 → 15 jobs, q6p 26 → 13
    * jobs per 2-trigger replay with AQE off; −12%/−21% warm wall). The
    * conf is set on the STREAM'S OWN session: foreachBatch hands each
    * micro-batch a session CLONED per stream at start, so the mutation
    * cannot race concurrent batch queries on the parent session
    * (spec-pinned in DocStreamSpec).
    */
  private def tuneTriggerSession(spark: org.apache.spark.sql.SparkSession): Unit =
    spark.conf.set("spark.sql.adaptive.enabled", "false")

  /** `docs` is a STREAMING DataFrame with `tsCol` event time and `textCol`;
    * `corpus` is a static DataFrame of already-ingested documents. Emits
    * the surviving stream rows (original columns).
    *
    * The corpus probe is a left-outer join + null filter rather than a
    * left-anti join: stream-static anti joins are not in Structured
    * Streaming's supported-join matrix, the outer+filter form is
    * ("stateless per micro-batch"), and the two are row-equivalent here
    * because the corpus side is distinct fingerprints (no duplication on
    * match).
    */
  def dedupedIngest(docs: DataFrame, corpus: DataFrame,
                    textCol: String = "text", tsCol: String = "ts",
                    watermark: String = "10 minutes"): DataFrame = {
    val fps = corpus
      .select(TextFunctions.fingerprint64(col(textCol)).as("__fp"))
      .distinct()
      .withColumn("__seen", lit(1))
    docs
      .withColumn("__fp", TextFunctions.fingerprint64(col(textCol)))
      .withWatermark(tsCol, watermark)
      .join(fps, Seq("__fp"), "left_outer")
      .filter(col("__seen").isNull)
      .dropDuplicatesWithinWatermark("__fp")
      .drop("__fp", "__seen")
  }

  /** Streaming NEAR-dup ingest gate — the LSH face of [[dedupedIngest]]:
    * documents arrive continuously and are dropped when they are a
    * near-duplicate (shingle-Jaccard ≥ threshold) of the historical
    * corpus.
    *
    * Shape: `foreachBatch`. The LSH probe is a multi-stage plan
    * (band-key blocking join → candidate distinct → verify-kernel
    * aggregate → anti-join) that Structured Streaming's incremental
    * planner cannot express in append mode, so each micro-batch runs the
    * BATCH probe against the PERSISTED bucketed band table
    * ([[graft.operators.Dedup.nearDupesAgainstTable]]): only the
    * micro-batch is scanned and banded, the corpus side is a bucket-local
    * parquet read with no exchange and NO streaming state — state is the
    * band table, not the state store, so the gate's memory is independent
    * of stream length and corpus size.
    *
    * Recovery: each micro-batch overwrites its own `batch=<id>`
    * partition directory under `sinkPath`, so a batch replayed after a
    * crash rewrites the same files instead of appending duplicates —
    * idempotent exactly-once without sink transactions. Read the gate's
    * output with `spark.read.parquet(sinkPath)` (partition discovery
    * strips the batch= level into a column).
    *
    * `corpus` supplies candidate text for the verify stage only (prune
    * it to (id, text), with the SAME `id`/`textCol` column names as the
    * stream — the verify join reads both sides by name); `bandTable`
    * must have been written by
    * [[graft.operators.Dedup.writeBandTable]] with the SAME
    * bands/rowsPerBand/shingleN (enforced via its table properties).
    */
  def nearDedupedIngest(docs: DataFrame, corpus: DataFrame,
                        bandTable: String, id: String, textCol: String,
                        sinkPath: String, checkpointDir: String,
                        threshold: Double = 0.8, bands: Int = 8,
                        rowsPerBand: Int = 4,
                        shingleN: Int = 3): StreamingQuery = {
    // geometry guard ONCE at stream start (a mismatched band table refuses
    // here, before any batch commits); micro-batches then probe without
    // re-reading the catalog per trigger
    Dedup.checkBandGeometry(docs.sparkSession, bandTable,
      bands, rowsPerBand, shingleN)
    docs.writeStream
      .foreachBatch { (batch: Dataset[Row], batchId: Long) =>
        tuneTriggerSession(batch.sparkSession)
        val b = batch.toDF()
        val dupes = Dedup.nearDupesAgainstTableUnchecked(b, corpus, bandTable,
            id, textCol, threshold, bands, rowsPerBand, shingleN)
          // no distinct: the anti-join ignores duplicate matches, so
          // deduping the dupe-id list would be a pure extra exchange
          .select(col("doc_a").as(id))
        b.join(dupes, Seq(id), "left_anti")
          .write.mode("overwrite").parquet(s"$sinkPath/batch=$batchId")
        ()
      }
      .option("checkpointLocation", checkpointDir)
      .start()
  }

  /** SELF-MAINTAINING variant of [[nearDedupedIngest]]: each micro-batch
    * gates against the historical corpus PLUS every earlier stream batch's
    * survivors, then appends its own survivors' band rows to the table —
    * the steady-state production loop where the stream IS the corpus's
    * growth. Mechanics per batch:
    *
    *   1. verify-text side = `corpus` ∪ the sink's previously written
    *      survivor partitions (the sink doubles as the appended corpus);
    *      the band table already carries their band rows from step 3.
    *   2. the LSH probe excludes pairs whose corpus-side doc is in the
    *      CURRENT micro-batch — a batch compares against strictly PRIOR
    *      state, which also makes crash-replay exact: a replayed batch
    *      whose bands were already appended would otherwise match itself.
    *   3. the batch's band rows are computed once and the probe runs
    *      once, each collected to the driver: `bands` rows per
    *      micro-batch row, and the distinct non-null dupe ids, at most
    *      one per row — batch-bounded, never corpus- or pair-sized (size
    *      micro-batches with the source's per-trigger limit). Survivors
    *      (the batch anti-joined with those ids) overwrite their own
    *      `batch=<id>` partition (idempotent sink) and, concurrently,
    *      append their band rows ([[graft.operators.Dedup.appendBandTable]]
    *      is doc-level idempotent, so a replayed append is a no-op). No
    *      frame is persisted: a cached survivors relation would make the
    *      append wait on its builder's monitor while the sink write fills
    *      it, so the two writes would not overlap.
    *
    * Within-batch near-dups still pass (same contract as the static gate);
    * split batches at the granularity you want deduped. NOTE: the band
    * table grows with the stream — unlike [[nearDedupedIngest]] it is
    * state, but storage-resident and bucket-local, never state-store state.
    *
    * Long-stream scale note: within a run, prior survivors are carried as
    * a lazy union of single-partition sink reads (one new directory per
    * trigger — no O(N-batches) re-listing); the FULL sink read happens only
    * on crash restart. The union plan still grows by one scan per batch,
    * so at production stream lengths periodically compact the sink
    * (rewrite the accumulated partitions into one corpus increment and
    * swap it into `corpus`) — the gate's correctness only needs
    * "corpus ∪ prior survivors", not the partitioned layout. The
    * band-table side has no such growth cost (appends are bucket-local
    * files behind one catalog table).
    */
  def selfMaintainingNearDedupedIngest(docs: DataFrame, corpus: DataFrame,
                                       bandTable: String, id: String,
                                       textCol: String, sinkPath: String,
                                       checkpointDir: String,
                                       threshold: Double = 0.8, bands: Int = 8,
                                       rowsPerBand: Int = 4,
                                       shingleN: Int = 3): StreamingQuery = {
    Dedup.checkBandGeometry(docs.sparkSession, bandTable,
      bands, rowsPerBand, shingleN)
    // prior survivors, carried across triggers as a lazy union of
    // single-partition sink reads instead of re-listing and re-reading the
    // sink's O(N-batches) partitions every trigger. Lineage is parquet
    // scans only (never a previous micro-batch's source plan, which would
    // not be legal to hold across triggers), and after a crash the cache
    // is empty and the full sink read rebuilds it — exactly the recovery
    // contract.
    var priorCache: Option[DataFrame] = None
    docs.writeStream
      .foreachBatch { (batch: Dataset[Row], batchId: Long) =>
        val spark = batch.sparkSession
        tuneTriggerSession(spark)
        val b = batch.toDF()
        val prior = priorCache.getOrElse {
          try spark.read.parquet(sinkPath).select(col(id), col(textCol))
          catch { case _: Exception => // first batch: no sink yet
            corpus.select(col(id), col(textCol)).limit(0) }
        }
        val corpusNow = corpus.select(col(id), col(textCol)).unionByName(prior)
        // the batch's band rows, computed once for both the probe and
        // the append and held as a local relation: sized exactly, the
        // probe takes its micro-batch branch (broadcast these bands,
        // stream the state table) and the strictly-prior exclusion
        // broadcasts too; the bands carry every batch id (`bands` rows
        // each, nulls included), so their docs ARE the batch's ids
        val bBands = localized(Dedup.bandedBatchKeys(b, id, textCol,
          bands, rowsPerBand, shingleN))
        // the probe runs ONCE: its distinct non-null dupe ids, collected
        val dupeIds = localized(Dedup.probeBandTable(bBands, b, corpusNow,
            bandTable, id, textCol, threshold, shingleN,
            // strictly-prior comparison: candidate pairs whose corpus-side
            // doc is in THIS batch never reach the verify kernel (see
            // scaladoc point 2)
            excludeCorpusDocs = Some(bBands.select(col("doc").as(id))))
          .select(col("doc_a").as(id)).where(col(id).isNotNull).distinct())
        // sink write ∥ band append as CONCURRENT driver actions (guide
        // §2.6, r19): given `dupeIds`, the two are independent, and their
        // ORDER is not load-bearing for crash replay — the strictly-prior
        // exclusion (scaladoc point 2) makes a replayed batch exact
        // whichever side committed first (its own already-appended bands
        // are excluded before the verify stage, and the sink partition
        // overwrite is idempotent). Neither reads a persisted frame: a
        // cached survivors relation would serialize them, since the
        // append's optimizer asks it for stats under the cache builder's
        // monitor, which the sink action holds while it runs the probe.
        // The anti-joins keep a null-id row as a survivor; its band rows
        // are filtered out (no probe can ever match a null doc). The
        // spawned thread inherits this trigger's job group/pool (Spark
        // local properties are InheritableThreadLocal).
        @volatile var sinkErr: Throwable = null
        val sinkT = new Thread(() => {
          try b.join(dupeIds, Seq(id), "left_anti")
            .write.mode("overwrite").parquet(s"$sinkPath/batch=$batchId")
          catch { case e: Throwable => sinkErr = e }
        }, s"graft-selfm-sink-b$batchId")
        sinkT.start()
        // one write task, so each trigger adds one file per bucket (not
        // tasks × buckets) to the state that every later probe and
        // idempotency anti-join lists and opens
        try Dedup.appendBandRows(
          bBands.coalesce(1).where(col("doc").isNotNull)
            .join(dupeIds.select(col(id).as("doc")), Seq("doc"), "left_anti"),
          bandTable)
        finally sinkT.join()
        if (sinkErr != null) throw sinkErr
        // carry forward THIS batch's survivors as the one new partition
        // just written — a lazy single-directory read with the gate's
        // known (id, text) schema, so no schema-inference job runs per
        // trigger; evaluated (if at all) by the next trigger's verify
        // stage. Two growth/robustness guards (ADVICE r8): a zero-survivor
        // batch may emit NO parquet file (overwrite of an all-empty
        // frame), which reads empty, and a missing directory fails the
        // read and falls back to the previous prior — both exactly
        // correct, since nothing survived; and every PriorRelistEvery
        // triggers the accumulated per-partition union collapses into ONE
        // whole-sink scan, so the analysis plan stays O(K) scans instead
        // of O(N-batches) (the sink re-list cost is paid once per K
        // triggers, not per trigger).
        priorCache = Some(
          if ((batchId + 1) % PriorRelistEvery == 0)
            spark.read.parquet(sinkPath).select(col(id), col(textCol))
          else
            try prior.unionByName(
              spark.read.schema(b.select(col(id), col(textCol)).schema)
                .parquet(s"$sinkPath/batch=$batchId"))
            catch { case _: Exception => prior })
        ()
      }
      .option("checkpointLocation", checkpointDir)
      .start()
  }

  /** SELF-MAINTAINING streaming EXACT-dup gate — the growing-state
    * discipline (q6c near-dup, q6p semantic) on the exact axis, with
    * UNBOUNDED horizon and ZERO state-store state: [[dedupedIngest]]'s
    * within-stream dedup is bounded by its watermark horizon, while this
    * gate's state is the persisted bucketed fingerprint table — a batch
    * drops exact dupes of the corpus AND of every earlier batch's
    * survivors (plus within-batch re-sends, keep-lowest-id — the
    * [[graft.operators.Dedup.dropDupesAgainstTable]] contract), then
    * appends its survivors' fingerprints
    * ([[graft.operators.Dedup.appendFingerprintTable]] — doc-level
    * idempotent). Steady-state per-batch cost: one bucket-local fp-table
    * probe + O(new fps) append, independent of corpus and stream length.
    *
    * Crash-replay exactness WITHOUT provenance: unlike band rows (doc
    * ids, q6c's strictly-prior exclusion) and cell segments (seg names,
    * q6p's own-segment exclusion), fingerprints carry nothing to exclude
    * by — a replayed batch re-probing after its own append would match
    * ITSELF and drop every survivor. The sink partition is therefore the
    * exactly-once anchor: survivors commit to `batch=<id>` (with
    * _SUCCESS) strictly BEFORE the fp append, and a batch whose sink
    * partition already committed skips the probe, trusts the sink (it
    * was computed against strictly-prior state), and redoes only the
    * idempotent append. Every crash window replays exactly: before the
    * sink commit → clean re-probe (no fps appended yet); after it → the
    * committed survivors are re-appended as a no-op.
    */
  def selfMaintainingDedupedIngest(docs: DataFrame, fpTable: String,
                                   id: String, textCol: String,
                                   sinkPath: String,
                                   checkpointDir: String): StreamingQuery =
    docs.writeStream
      .foreachBatch { (batch: Dataset[Row], batchId: Long) =>
        val spark = batch.sparkSession
        tuneTriggerSession(spark)
        val part = s"$sinkPath/batch=$batchId"
        val ok = new org.apache.hadoop.fs.Path(part, "_SUCCESS")
        val fs = ok.getFileSystem(spark.sparkContext.hadoopConfiguration)
        if (fs.exists(ok)) {
          Dedup.appendFingerprintTable(
            spark.read.parquet(part).select(col(textCol)), textCol, fpTable)
        } else {
          // persist: the sink write and the fp append share ONE probe
          val surv = Dedup.dropDupesAgainstTable(batch.toDF(), fpTable,
              id, textCol)
            .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
          try {
            surv.write.mode("overwrite").parquet(part)
            Dedup.appendFingerprintTable(surv, textCol, fpTable)
          } finally { surv.unpersist(); () }
        }
        ()
      }
      .option("checkpointLocation", checkpointDir)
      .start()

  /** Bounded replay of [[selfMaintainingDedupedIngest]] — the
    * [[replayGate]] harness shape, EXCEPT the sink is NOT cleared
    * between replays: committed `batch=<id>` partitions are the gate's
    * exactly-once anchors (see the gate's scaladoc), so a re-replay over
    * the grown fp table reads them back instead of re-probing (which
    * would self-match) — the result is bit-stable across repeat replays
    * in a session (spec-pinned). Only the checkpoint is cleared (a new
    * MemoryStream cannot resume a stale one's offsets).
    */
  def replaySelfMaintainingExactIngest(docs: DataFrame, fpTable: String,
                                       id: String, textCol: String,
                                       workDir: String,
                                       nBatches: Int = 2): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    require(nBatches >= 1, s"need at least one batch, got $nBatches")
    val rows = docs
      .select(col(id).cast("long").as("gate_doc_id"),
        col(textCol).as("gate_text"))
      .as[GateDoc].collect() // bounded input only, by construction
    def clear(p: java.nio.file.Path): Unit =
      if (java.nio.file.Files.exists(p))
        java.nio.file.Files.walk(p).sorted(java.util.Comparator.reverseOrder())
          .forEach(f => { java.nio.file.Files.delete(f); () })
    clear(java.nio.file.Paths.get(s"$workDir/ckpt"))
    if (rows.isEmpty)
      return spark.emptyDataset[GateDoc].toDF()
        .select(col("gate_doc_id").as(id), col("gate_text").as(textCol))
    val in = MemoryStream[GateDoc]
    val q = selfMaintainingDedupedIngest(in.toDF(), fpTable,
      "gate_doc_id", "gate_text", s"$workDir/out", s"$workDir/ckpt")
    try {
      (0 until nBatches).foreach { b =>
        val batch = rows.filter(r =>
          math.floorMod(r.gate_doc_id, nBatches.toLong) == b.toLong)
        if (batch.nonEmpty) { in.addData(batch.toSeq: _*); q.processAllAvailable() }
      }
    } finally q.stop()
    spark.read.parquet(s"$workDir/out")
      .select(col("gate_doc_id").as(id), col("gate_text").as(textCol))
  }

  /** SELF-MAINTAINING streaming SemDeDup gate — the q6c growing-state
    * discipline on the SEMANTIC axis: each micro-batch drops documents
    * whose embedding reaches the cosine threshold against the historical
    * corpus PLUS every earlier batch's survivors, then appends its own
    * survivors to the state. State is the persisted CELL-PARTITIONED
    * table rooted at `cellRoot` ([[graft.operators.Similarity
    * .writeSemCellSegment]] — write the base corpus as `seg=corpus`
    * before starting the stream); each batch:
    *
    *   1. collects its DISTINCT cells (a bounded driver read — at most
    *      nClusters values by construction) and reads the state pruned to
    *      those cell directories, EXCLUDING its own `seg=b<batchId>`
    *      segment — a batch compares against strictly prior state, which
    *      makes crash replay exact (a replayed batch whose survivors were
    *      already appended would otherwise match itself);
    *   2. drops batch docs with any state row in their cell at
    *      round(cos, 6) >= threshold ([[graft.operators.Similarity
    *      .semDupIdsAgainstCells]]); zero-norm docs pass and never block;
    *      wrong-geometry embeddings (null cell) are dropped — they cannot
    *      be gated or blocked;
    *   3. survivors overwrite their own sink `batch=<id>` partition and
    *      their own state segment `seg=b<id>` (both idempotent on replay).
    *
    * Within-batch semantic dups still pass (same contract as the q6c
    * gate); split batches at the granularity you want deduped. At scale
    * the per-batch cost is |batch| × (state rows in the batch's cells) —
    * never state², and the state read is partition-pruned parquet with no
    * exchange beyond the cell join. Like the band table, the cell table
    * grows with the stream: storage-resident state, never state-store
    * state. Compact segments periodically on long streams — correctness
    * needs only "corpus ∪ prior survivors", not the segment layout.
    */
  def selfMaintainingSemGatedIngest(docs: DataFrame, cellRoot: String,
                                    id: String,
                                    centroids: Seq[Seq[Double]],
                                    threshold: Double, sinkPath: String,
                                    checkpointDir: String): StreamingQuery =
    docs.writeStream
      .foreachBatch { (batch: Dataset[Row], batchId: Long) =>
        val spark = batch.sparkSession
        tuneTriggerSession(spark)
        import graft.operators.Similarity
        val b = batch.toDF()
          .filter(graft.expressions.PqEncode(col("embedding"),
            Seq(centroids)).getItem(0).isNotNull)
        // bounded driver read: <= nClusters distinct cells — becomes the
        // state read's partition-pruning filter
        val cells = b.select(graft.expressions.PqEncode(col("embedding"),
              Seq(centroids)).getItem(0).as("__cell"))
          .distinct().collect().map(_.getInt(0)).toSeq
        val state = spark.read.parquet(cellRoot)
          .filter(col("seg") =!= s"b$batchId")
          .filter(col("cell").isin(cells: _*))
        val dups = Similarity.semDupIdsAgainstCells(
          b, id, state, threshold, centroids)
        // persist so the sink write and the state append share ONE gate
        // execution (released before the trigger returns)
        val surv = b.join(dups, Seq(id), "left_anti")
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        try {
          // sink write ∥ segment write as CONCURRENT driver actions
          // (guide §2.6, r19) — same argument as the near-dup gate: the
          // own-segment exclusion (step 1 reads state with
          // seg =!= b<batchId>) makes replay exact whichever side
          // committed first, and both sides are idempotent overwrites of
          // their own directory, so the serial barrier between them was
          // pure latency.
          @volatile var sinkErr: Throwable = null
          val sinkT = new Thread(() => {
            try surv.write.mode("overwrite").parquet(s"$sinkPath/batch=$batchId")
            catch { case e: Throwable => sinkErr = e }
          }, s"graft-semgate-sink-b$batchId")
          sinkT.start()
          try Similarity.writeSemCellSegment(surv, id, centroids, cellRoot,
            s"b$batchId")
          finally sinkT.join()
          if (sinkErr != null) throw sinkErr
        } finally { surv.unpersist(); () }
        ()
      }
      .option("checkpointLocation", checkpointDir)
      .start()

  // NOT private: a private case class makes the generated encoder
  // projection fail Janino compilation ("Private member cannot be
  // accessed") and silently fall back to interpreted mode on every replay
  case class GateDoc(gate_doc_id: Long, gate_text: String)

  // see GateDoc's visibility note
  case class GateVec(gate_doc_id: Long, gate_emb: Array[Float])

  /** Bounded replay of [[selfMaintainingSemGatedIngest]] for verification
    * (the [[replayGate]] harness shape with an embedding payload): splits
    * `docs` into `nBatches` micro-batches by id hash, clears the sink /
    * checkpoint AND any prior replay's survivor segments under `cellRoot`
    * (`seg=b*` — the base `seg=corpus` segment stays, built once), streams
    * the batches through the gate, and returns the surviving (id,
    * embedding) rows read back from the sink. Because each batch gates
    * against corpus ∪ earlier batches' survivors, the result equals two
    * chained batch gate rounds — exactly what the q6p oracle replays.
    */
  def replaySemGatedIngest(docs: DataFrame, cellRoot: String, id: String,
                           centroids: Seq[Seq[Double]], threshold: Double,
                           workDir: String, nBatches: Int = 2): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    require(nBatches >= 1, s"need at least one batch, got $nBatches")
    val rows = docs
      .select(col(id).cast("long").as("gate_doc_id"),
        col("embedding").cast("array<float>").as("gate_emb"))
      .as[GateVec].collect() // bounded input only, by construction
    def clear(p: java.nio.file.Path): Unit =
      if (java.nio.file.Files.exists(p))
        java.nio.file.Files.walk(p).sorted(java.util.Comparator.reverseOrder())
          .forEach(f => { java.nio.file.Files.delete(f); () })
    clear(java.nio.file.Paths.get(workDir))
    val rootF = new java.io.File(cellRoot)
    val segs = rootF.listFiles()
    if (segs != null) segs.filter(_.getName.startsWith("seg=b"))
      .foreach(f => clear(f.toPath))
    if (rows.isEmpty)
      return spark.emptyDataset[GateVec].toDF()
        .select(col("gate_doc_id").as(id), col("gate_emb").as("embedding"))
    val in = MemoryStream[GateVec]
    val q = selfMaintainingSemGatedIngest(
      in.toDF().select(col("gate_doc_id"), col("gate_emb").as("embedding")),
      cellRoot, "gate_doc_id", centroids, threshold,
      s"$workDir/out", s"$workDir/ckpt")
    try {
      (0 until nBatches).foreach { b =>
        val batch = rows.filter(r =>
          math.floorMod(r.gate_doc_id, nBatches.toLong) == b.toLong)
        if (batch.nonEmpty) { in.addData(batch.toSeq: _*); q.processAllAvailable() }
      }
    } finally q.stop()
    spark.read.parquet(s"$workDir/out")
      .select(col("gate_doc_id").as(id), col("embedding"))
  }

  /** Bounded replay of [[nearDedupedIngest]] for verification: collects
    * `docs` (BOUNDED input only by construction — MemoryStream takes local
    * data; the production path is the same transform over `readStream`
    * with no collect), splits it into `nBatches` micro-batches by id hash,
    * streams them through the gate, and returns the surviving rows read
    * back from the sink. Each micro-batch is independently probed against
    * the static band table (the gate holds no cross-batch state), so the
    * result equals the batch gate over all rows regardless of batching —
    * which is exactly the property an oracle can pin.
    *
    * `workDir` is reused deterministically (sink + checkpoint overwritten
    * per replay, never accumulated).
    */
  def replayNearDedupedIngest(docs: DataFrame, corpus: DataFrame,
                              bandTable: String, id: String, textCol: String,
                              workDir: String, nBatches: Int = 2,
                              threshold: Double = 0.8, bands: Int = 8,
                              rowsPerBand: Int = 4,
                              shingleN: Int = 3): DataFrame =
    replayGate(docs, corpus, id, textCol, workDir, nBatches) {
      (in, gateCorpus, sink, ckpt) =>
        nearDedupedIngest(in, gateCorpus, bandTable,
          "gate_doc_id", "gate_text", sink, ckpt,
          threshold, bands, rowsPerBand, shingleN)
    }

  /** Bounded replay of [[selfMaintainingNearDedupedIngest]] — same harness
    * as [[replayNearDedupedIngest]]; the caller provides a band table that
    * this replay will APPEND survivor bands to (pass a per-replay rebuilt
    * table, not a shared fixture).
    */
  def replaySelfMaintainingIngest(docs: DataFrame, corpus: DataFrame,
                                  bandTable: String, id: String,
                                  textCol: String, workDir: String,
                                  nBatches: Int = 2, threshold: Double = 0.8,
                                  bands: Int = 8, rowsPerBand: Int = 4,
                                  shingleN: Int = 3): DataFrame =
    replayGate(docs, corpus, id, textCol, workDir, nBatches) {
      (in, gateCorpus, sink, ckpt) =>
        selfMaintainingNearDedupedIngest(in, gateCorpus, bandTable,
          "gate_doc_id", "gate_text", sink, ckpt,
          threshold, bands, rowsPerBand, shingleN)
    }

  /** Streaming perplexity gate — the CCNet quality filter
    * ([[graft.ml.NgramLm.pplGate]]) as a STATELESS streaming transform:
    * the fused BigramLmGate boolean kernel rides the stream's filter, so
    * the gate runs at scan speed with ZERO state-store state, zero joins,
    * and no foreachBatch — the incremental planner handles a pure filter
    * natively in append mode. Because the decision is per-row, batch
    * boundaries cannot change the kept set: the union of survivors across
    * any micro-batching equals the batch gate on the union (the q6d
    * oracle replays exactly q5o's score + threshold SQL).
    */
  def pplGatedIngest(docs: DataFrame, model: graft.ml.NgramLm.BigramLm,
                     textCol: String, maxPpl: Double,
                     sinkPath: String, ckptPath: String): StreamingQuery =
    docs.filter(graft.expressions.BigramLmGate(col(textCol), model.uniArr,
        model.biArr, model.uniCap.toLong, maxPpl, model.order))
      .writeStream.format("parquet")
      .option("path", sinkPath).option("checkpointLocation", ckptPath)
      .outputMode("append").start()

  /** Bounded replay of [[pplGatedIngest]] — the [[replayGate]] harness
    * with the model gate (the corpus side is unused: the gate is
    * stateless by construction).
    */
  def replayPplGatedIngest(docs: DataFrame, model: graft.ml.NgramLm.BigramLm,
                           id: String, textCol: String, workDir: String,
                           nBatches: Int = 2,
                           maxPpl: Double = 40.0): DataFrame =
    replayGate(docs, docs.limit(0), id, textCol, workDir, nBatches) {
      (in, _, sink, ckpt) =>
        pplGatedIngest(in, model, "gate_text", maxPpl, sink, ckpt)
    }

  /** Streaming DSIR selection gate ([[graft.ml.Dsir]]): keep a stream
    * document iff its importance weight (integer micro-nats, the fitted
    * delta table riding the expression as literals) reaches the bar —
    * the same STATELESS shape as [[pplGatedIngest]]: a pure filter in
    * append mode, zero state-store state, zero joins, batch boundaries
    * invisible by construction (per-row integer decision). This is the
    * DSIR deployment loop: fit once offline, gate every ingest batch
    * forever ([[graft.ml.Dsir.save]]/`load`).
    */
  def dsirGatedIngest(docs: DataFrame, model: graft.ml.Dsir.DsirModel,
                      textCol: String, minLogwMicro: Long,
                      sinkPath: String, ckptPath: String): StreamingQuery =
    docs.filter(graft.ml.Dsir.logwMicroCol(col(textCol), model)
        >= minLogwMicro)
      .writeStream.format("parquet")
      .option("path", sinkPath).option("checkpointLocation", ckptPath)
      .outputMode("append").start()

  /** Streaming QUALITY gate — the learned corpus-filter classifier
    * ([[graft.ml.TextClassifier]]) riding an ingest stream: keep a
    * document iff its decision margin reaches the bar. The same
    * STATELESS shape as [[pplGatedIngest]]/[[dsirGatedIngest]]: the
    * fused [[graft.expressions.LinearTextGate]] boolean kernel (the
    * fitted `LinearTextModel` rides as literals) is a pure filter in
    * append mode — zero joins, zero state-store state, batch
    * boundaries invisible by construction (per-row decision). This
    * completes the gate family's quality axis: fit once offline
    * ([[graft.ml.TextClassifier.fit]]/`save`), gate every ingest batch
    * forever with the loaded model, refit when
    * [[graft.ml.TextClassifier.driftStats]] says the margin
    * distribution moved.
    */
  def qualityGatedIngest(docs: DataFrame,
                         model: graft.ml.TextClassifier.LinearTextModel,
                         textCol: String, minMargin: Double,
                         sinkPath: String, ckptPath: String): StreamingQuery =
    docs.filter(graft.ml.TextClassifier.gateCol(model, col(textCol), minMargin))
      .writeStream.format("parquet")
      .option("path", sinkPath).option("checkpointLocation", ckptPath)
      .outputMode("append").start()

  /** Bounded replay of [[qualityGatedIngest]] — the [[replayGate]]
    * harness with the margin gate (corpus side unused: stateless).
    */
  def replayQualityGatedIngest(docs: DataFrame,
                               model: graft.ml.TextClassifier.LinearTextModel,
                               id: String, textCol: String, workDir: String,
                               nBatches: Int = 2,
                               minMargin: Double = 0.0): DataFrame =
    replayGate(docs, docs.limit(0), id, textCol, workDir, nBatches) {
      (in, _, sink, ckpt) =>
        qualityGatedIngest(in, model, "gate_text", minMargin, sink, ckpt)
    }

  /** Bounded replay of [[dsirGatedIngest]] — the [[replayGate]] harness
    * with the importance gate (corpus side unused: stateless).
    */
  def replayDsirGatedIngest(docs: DataFrame,
                            model: graft.ml.Dsir.DsirModel,
                            id: String, textCol: String, workDir: String,
                            nBatches: Int = 2,
                            minLogwMicro: Long = 0L): DataFrame =
    replayGate(docs, docs.limit(0), id, textCol, workDir, nBatches) {
      (in, _, sink, ckpt) =>
        dsirGatedIngest(in, model, "gate_text", minLogwMicro, sink, ckpt)
    }

  /** The shared bounded-replay harness behind the two gate replays. */
  private def replayGate(docs: DataFrame, corpus: DataFrame, id: String,
                         textCol: String, workDir: String, nBatches: Int)(
      start: (DataFrame, DataFrame, String, String) => StreamingQuery): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    require(nBatches >= 1, s"need at least one batch, got $nBatches")
    val rows = docs
      .select(col(id).cast("long").as("gate_doc_id"),
        col(textCol).as("gate_text"))
      .as[GateDoc].collect()
    if (rows.isEmpty) // no batch ever writes the sink — don't read a void path
      return spark.emptyDataset[GateDoc].toDF()
        .select(col("gate_doc_id").as(id), col("gate_text").as(textCol))
    val root = java.nio.file.Paths.get(workDir)
    // fresh sink + checkpoint per replay: a stale checkpoint would try to
    // resume offsets that this new MemoryStream never had
    def clear(p: java.nio.file.Path): Unit =
      if (java.nio.file.Files.exists(p))
        java.nio.file.Files.walk(p).sorted(java.util.Comparator.reverseOrder())
          .forEach(f => { java.nio.file.Files.delete(f); () })
    clear(root)
    val in = MemoryStream[GateDoc]
    // the probe's verify stage reads batch and corpus by the SAME column
    // names (as [[nearDedupedIngest]] requires of its caller)
    val gateCorpus = corpus.select(col(id).as("gate_doc_id"),
      col(textCol).as("gate_text"))
    val q = start(in.toDF(), gateCorpus, s"$workDir/out", s"$workDir/ckpt")
    try {
      (0 until nBatches).foreach { b =>
        val batch = rows.filter(r =>
          math.floorMod(r.gate_doc_id, nBatches.toLong) == b.toLong)
        if (batch.nonEmpty) { in.addData(batch.toSeq: _*); q.processAllAvailable() }
      }
    } finally q.stop()
    spark.read.parquet(s"$workDir/out")
      .select(col("gate_doc_id").as(id), col("gate_text").as(textCol))
  }
}
