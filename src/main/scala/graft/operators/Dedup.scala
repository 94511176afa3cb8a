package graft.operators

import graft.functions.TextFunctions
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication operators for training-data pipelines, in increasing
  * fuzziness: exact (hash groupBy), MinHash+LSH banding (Jaccard near-dup),
  * SimHash (Hamming near-dup), and verified n-gram Jaccard.
  *
  * Scale design: every variant is blocking-based — candidates come from an
  * equi-join on a bucket key (band hash / simhash prefix), never an O(n²)
  * cross join. All hashing is `xxhash64` (codegen'd Catalyst expression,
  * deterministic across runs/partitions — no RNG in the data plane).
  */
object Dedup {

  /** Exact dedup: one keeper (minimum id) per distinct text; n_copies for
    * audit. Hash-groupBy shape: map-side partial agg, shuffle on a 64-bit
    * fingerprint rather than the full text.
    */
  def exact(df: DataFrame, id: Column, text: Column): DataFrame =
    df.groupBy(TextFunctions.fingerprint64(text).as("text_hash"))
      .agg(min(id).as("keeper_id"), count(lit(1)).as("n_copies"))

  /** Rows of `df` minus exact duplicates (keeps the min-id row per text).
    *
    * Contract: emits EXACTLY ONE row per distinct text — the row whose
    * `id` is minimal within its fingerprint group, a null id ranking after
    * every non-null one: a null-id row is kept when no non-null-id row
    * shares its text. Deterministic when ids are unique per row (the
    * normal case); with duplicate ids (or several null ids) inside one
    * text group, `min_by` keeps an arbitrary row among the id-ties. (The
    * pre-r8 keeper-id semi-join formulation instead kept EVERY row sharing
    * the keeper id — one-row-per-fingerprint is the intended dedup
    * semantics and is what the q44/q5i oracles pin.) Requires distinct
    * column names (the row is rebuilt via struct field access by name).
    *
    * One-pass shape: `min_by(struct(row), struct(id IS NULL, id))` per
    * text fingerprint — a single scan and a single shuffle, with map-side
    * partial min_by reducing each partition to at most one candidate row
    * per distinct text before the exchange. The ordering is a struct
    * because `min_by` skips null orderings: ordered by the bare id, a
    * group whose rows all have null ids yields a null row. The earlier
    * keeper-id formulation (fingerprint agg + semi-join back on id)
    * scanned the input twice and paid a second full-row shuffle for the
    * id join; measured at the 100× probe this halves the operator
    * (2.52 → ~1.3 s).
    */
  def dropExactDupes(df: DataFrame, id: String, text: String): DataFrame = {
    val cols = df.columns
    require(cols.distinct.length == cols.length,
      s"dropExactDupes needs distinct column names, got ${cols.mkString(",")}")
    // internal names uniquified against the input so a user column that
    // happens to be named __fp/__r can't collide with the rebuild
    def fresh(base: String): String = Iterator.from(0)
      .map(i => if (i == 0) base else base + i)
      .find(n => !cols.contains(n)).get
    val fp = fresh("__fp")
    val r = fresh("__r")
    df.groupBy(TextFunctions.fingerprint64(col(text)).as(fp))
      .agg(min_by(struct(cols.map(col): _*),
        struct(col(id).isNull, col(id))).as(r))
      .select(cols.map(c => col(r).getField(c).as(c)): _*)
  }

  /** Incremental exact dedup: drop rows of `batch` whose text already
    * exists in `corpus` (the previously-ingested data), then exact-dedup
    * within the batch itself — the shape of every production ingest loop,
    * where re-deduplicating the full corpus per increment would be O(total)
    * instead of O(batch).
    *
    * Scale shape: the corpus side collapses to DISTINCT 64-bit fingerprints
    * before the join — 8 bytes per distinct historical document, no text
    * shuffled — and the membership test is a left-anti equi-join. At 100 TB
    * the fingerprint set is what you'd persist between ingests (bucketed by
    * `__fp` so successive increments join shuffle-free against it).
    */
  def dropDupesAgainst(batch: DataFrame, corpus: DataFrame,
                       id: String, text: String): DataFrame = {
    val seen = corpus
      .select(TextFunctions.fingerprint64(col(text)).as("__fp"))
      .distinct()
    val fresh = batch
      .withColumn("__fp", TextFunctions.fingerprint64(col(text)))
      .join(seen, Seq("__fp"), "left_anti")
      .drop("__fp")
    dropExactDupes(fresh, id, text)
  }

  /** C4-style repeated-line removal: a line whose exact text occurs in at
    * least `minRepeats` DISTINCT documents is boilerplate (navigation,
    * cookie banners, license footers) and is dropped from every document;
    * documents left with no lines disappear. Returns `(id, text)` with each
    * surviving document's lines rejoined in original order.
    *
    * Scale shape: lines explode once, the hot-line table is built by a
    * hash-aggregate over 64-bit line fingerprints (the line text itself
    * never shuffles for counting), membership is a left-anti join, and the
    * reassembly is one hash-aggregate with an in-group sort of each doc's
    * surviving lines (`array_sort` on (pos, line) structs — no window).
    */
  def dropRepeatedLines(df: DataFrame, id: String, text: String,
                        minRepeats: Int = 3): DataFrame = {
    val lines = Par.spread(df.select(col(id), col(text)))
      .select(col(id), posexplode(split(col(text), "\n")).as(Seq("__pos", "__line")))
      .withColumn("__fp", TextFunctions.fingerprint64(col("__line")))
    val hot = lines.groupBy(col("__fp"))
      .agg(countDistinct(col(id)).as("__n"))
      .filter(col("__n") >= minRepeats)
      .select(col("__fp"))
    lines.join(hot, Seq("__fp"), "left_anti")
      .groupBy(col(id))
      .agg(concat_ws("\n",
        transform(array_sort(collect_list(struct(col("__pos"), col("__line")))),
          x => x.getField("__line"))).as(text))
  }

  /** Benchmark decontamination (the GPT-3-style n-gram overlap rule): drop
    * every corpus document that shares ANY word `n`-gram with the
    * evaluation set. Returns the surviving corpus rows.
    *
    * Scale shape: the eval set is small by construction, so its distinct
    * n-gram FINGERPRINTS (8 bytes each, not the gram text) form a
    * broadcast-able table; the corpus side explodes its grams once and
    * semi-joins the broadcast to find contaminated ids, which anti-join
    * back. The corpus is scanned twice (gram explode + final anti-join) —
    * both pruned scans; no corpus-side shuffle of gram text ever happens.
    */
  def decontaminate(corpus: DataFrame, id: String, text: String,
                    eval_ : DataFrame, evalText: String,
                    n: Int = 8): DataFrame = {
    import graft.expressions.WordShingles
    val evalFps = eval_
      .select(explode(WordShingles.ngrams(col(evalText), n)).as("__g"))
      .select(xxhash64(col("__g")).as("__fp")).distinct()
    val contaminated = Par.spread(corpus.select(col(id), col(text)))
      .select(col(id), explode(WordShingles.ngrams(col(text), n)).as("__g"))
      .select(col(id), xxhash64(col("__g")).as("__fp"))
      .join(broadcast(evalFps), Seq("__fp"), "left_semi")
      .select(col(id)).distinct()
    corpus.join(contaminated, Seq(id), "left_anti")
  }

  /** Per-document contamination REPORT — the audit that precedes (or
    * replaces) the [[decontaminate]] drop when the pipeline wants
    * thresholds or human review instead of a hard gate: for every corpus
    * document, its n-gram occurrence count, how many of those occurrences
    * appear anywhere in the eval/benchmark set, and the overlap as exact
    * parts-per-million (`(n_hit·10^6) div n_grams` — integer arithmetic,
    * so the q5r oracle replays it bit-for-bit; no float rounding at the
    * report boundary).
    *
    * Scale shape, same as [[decontaminate]]: eval grams reduce to DISTINCT
    * 64-bit fingerprints and broadcast (benchmark sets are tiny next to
    * the corpus); the corpus side is scan → generate → fingerprint →
    * broadcast left join → one hash aggregation on the document id. No
    * corpus-side exchange before the final per-doc aggregate.
    */
  def contaminationReport(corpus: DataFrame, id: String, text: String,
                          eval_ : DataFrame, evalText: String,
                          n: Int = 8): DataFrame = {
    import graft.expressions.WordShingles
    val evalFps = eval_
      .select(explode(WordShingles.ngrams(col(evalText), n)).as("__g"))
      .select(xxhash64(col("__g")).as("__fp")).distinct()
      .withColumn("__hit", lit(1L))
    val num = col("n_hit") * lit(1000000L)
    Par.spread(corpus.select(col(id), col(text)))
      .select(col(id), explode(WordShingles.ngrams(col(text), n)).as("__g"))
      .select(col(id), xxhash64(col("__g")).as("__fp"))
      .join(broadcast(evalFps), Seq("__fp"), "left")
      .groupBy(col(id))
      .agg(count(lit(1)).as("n_grams"),
        sum(coalesce(col("__hit"), lit(0L))).as("n_hit"))
      .withColumn("overlap_ppm",
        ((num - pmod(num, col("n_grams"))) / col("n_grams")).cast("long"))
  }

  /** MinHash signature: `numHashes` permutation-min values over the word
    * `shingleN`-gram set. Expression-level (`transform` + `array_min`) —
    * convenient for single-column use, but lambda functions evaluate
    * interpreted (no codegen) and the shingle expression is re-evaluated per
    * hash function; use [[minhashSignatures]] for the bulk path.
    */
  def minhashSignature(text: Column, numHashes: Int, shingleN: Int): Column = {
    val sh = TextFunctions.shingles(text, shingleN)
    array((0 until numHashes).map { i =>
      array_min(transform(sh, s => xxhash64(s, lit(i))))
    }: _*)
  }

  /** Bulk MinHash signatures, one row per doc, via the native codegen'd
    * [[graft.expressions.MinHashSignature]] kernel: each shingle is hashed
    * ONCE and folded through all hash functions with cheap `hashLong`s,
    * entirely inside whole-stage codegen — sketching at scan speed, zero
    * shuffle. Bit-identical to [[minhashSignature]] (pinned by DedupSpec).
    */
  def minhashSignatures(df: DataFrame, id: String, text: String,
                        numHashes: Int, shingleN: Int): DataFrame =
    Par.spread(df.select(col(id).as("doc"), col(text).as("__t")))
      .select(col("doc"),
        graft.expressions.HashSketchExpressions.minhashSig(
          TextFunctions.shingles(col("__t"), shingleN), numHashes).as("sig"))

  /** (doc, band, band-hash) keys — the LSH bucket table for one corpus.
    * The streaming gate derives a micro-batch's band rows here once and
    * feeds the same frame to [[probeBandTable]] and [[appendBandRows]].
    */
  private[graft] def bandedKeys(df: DataFrame, id: String, text: String,
                                bands: Int, rowsPerBand: Int,
                                shingleN: Int): DataFrame = {
    val sig = minhashSignatures(df, id, text, bands * rowsPerBand, shingleN)
    sig.select(col("doc"),
        explode(array((0 until bands).map { b =>
          struct(lit(b).as("band"),
            xxhash64(concat_ws(",",
              slice(col("sig"), b * rowsPerBand + 1, rowsPerBand))).as("bh"))
        }: _*)).as("bk"))
      .select(col("doc"), col("bk.band"), col("bk.bh"))
  }

  /** MinHash-LSH candidate pairs: band the signature (`bands` ×
    * `rowsPerBand` = numHashes), bucket-join on (band index, band hash),
    * emit (id_a < id_b) pairs. Probability a pair with Jaccard j collides:
    * 1-(1-j^r)^b — tune r,b for the target threshold (~(1/b)^(1/r)). No
    * distinct: [[minhashNearDupes]] folds the dedup into its AQE-exempt
    * verify spread, one exchange doing both jobs.
    */
  private def minhashCandidatesRaw(df: DataFrame, id: String, text: String,
                                   bands: Int, rowsPerBand: Int,
                                   shingleN: Int): DataFrame = {
    val banded = bandedKeys(df, id, text, bands, rowsPerBand, shingleN)
    val a = banded.as("a"); val b = banded.as("b")
    a.join(b, col("a.band") === col("b.band") && col("a.bh") === col("b.bh")
        && col("a.doc") < col("b.doc"))
      .select(col("a.doc").as("doc_a"), col("b.doc").as("doc_b"))
  }

  /** Exact shingle Jaccard of candidate pairs, the verify stage after LSH
    * blocking: `doc_a` resolves against `docsA`, `doc_b` against `docsB`.
    * The candidate table is joined to the docs once per pair side, so
    * candidates appear exactly once in the DAG (no diamond, nothing to
    * persist); the pair metric is the fused
    * [[graft.expressions.ShingleJaccard]] kernel, one pass over both
    * texts.
    *
    * The threshold is applied INSIDE the verify projection: the keep
    * rides a Generate
    * ([[graft.functions.KernelOps.explodeKept]]), so the jaccard kernel
    * runs exactly once per candidate pair AND no barrier is needed —
    * the previous shape (verify → no-op min() aggregate → filter) paid
    * ONE FULL EXCHANGE of the pair table purely to stop the optimizer
    * folding the threshold into the verify join's condition (which
    * re-ran the kernel per copied site). Same output multiset: callers
    * dedup candidates before the verify, so the min() was always a
    * no-op, and a Generate-dropped null jaccard equals the filter's
    * null-drop.
    */
  private def verifyJaccardKept(candidates: DataFrame, docsA: DataFrame,
                                docsB: DataFrame, id: String, text: String,
                                shingleN: Int,
                                threshold: Double): DataFrame =
    candidates
      .join(docsA.select(col(id).as("doc_a"), col(text).as("__ta")), Seq("doc_a"))
      .join(docsB.select(col(id).as("doc_b"), col(text).as("__tb")), Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        graft.functions.KernelOps.explodeKept(
          graft.expressions.WordShingles.shingleJaccard(
            col("__ta"), col("__tb"), shingleN),
          _ >= threshold).as("jaccard"))

  /** Full MinHash-LSH near-dup pipeline: block with banding, verify with
    * exact Jaccard, keep pairs at or above `threshold`.
    *
    * Fully lazy — the verify consumes the candidate pipeline exactly
    * once, so there is no persist and no eager materialization here (and
    * therefore no cache to leak and no localCheckpoint to lose blocks under
    * dynamic-allocation executor loss). Multi-consumer callers
    * ([[nearDupClusters]] via [[dropNearDupes]]) persist the returned pair
    * list themselves.
    */
  def minhashNearDupes(df: DataFrame, id: String, text: String,
                       threshold: Double = 0.8, bands: Int = 8,
                       rowsPerBand: Int = 4, shingleN: Int = 3): DataFrame =
    verifyJaccardKept(
        // ONE keyed exchange does candidate dedup AND the verify spread:
        // dropDuplicates lands on the already-(doc_a,doc_b)-partitioned
        // child (no exchange of its own), and a user repartition is exempt
        // from AQE's byte-based coalescing, which would otherwise funnel
        // the per-pair-CPU verify stage into one or two tasks. (The
        // earlier distinct().repartition(n) shape paid two exchanges of
        // the pair table for the same result.) The threshold keep lives
        // INSIDE the verify projection (verifyJaccardKept's Generate) —
        // this used to be a verify → no-op min() aggregate → filter
        // chain whose only purpose was a pushdown barrier, at the price
        // of one more exchange of the pair table.
        minhashCandidatesRaw(df, id, text, bands, rowsPerBand, shingleN)
          .repartition(df.sparkSession.sessionState.conf.numShufflePartitions,
            col("doc_a"), col("doc_b"))
          .dropDuplicates("doc_a", "doc_b"),
        df, df, id, text, shingleN, threshold)

  /** Cross-corpus near-dup pairs: batch docs vs an already-ingested corpus
    * — the near-dup sibling of [[dropDupesAgainst]], and the incremental
    * form of [[minhashNearDupes]]. Both sides are banded with the SAME LSH
    * keys and candidates come from the batch×corpus band equi-join, so the
    * pair work is |batch| bucket probes against the corpus, never a
    * re-block of the whole corpus per ingest (at scale you'd persist the
    * corpus band table, bucketed by (band, bh), and each increment joins
    * against it shuffle-free). Returns verified `(doc_a ∈ batch,
    * doc_b ∈ corpus, jaccard ≥ threshold)` pairs.
    */
  def nearDupesAgainst(batch: DataFrame, corpus: DataFrame, id: String,
                       text: String, threshold: Double = 0.8,
                       bands: Int = 8, rowsPerBand: Int = 4,
                       shingleN: Int = 3): DataFrame = {
    val a = bandedKeys(batch, id, text, bands, rowsPerBand, shingleN).as("a")
    val b = bandedKeys(corpus, id, text, bands, rowsPerBand, shingleN).as("b")
    val cands = a.join(b,
        col("a.band") === col("b.band") && col("a.bh") === col("b.bh"))
      .select(col("a.doc").as("doc_a"), col("b.doc").as("doc_b"))
      // ONE keyed exchange does double duty: dropDuplicates lands on an
      // already-(doc_a,doc_b)-hash-partitioned child so the dedup aggregate
      // adds no exchange of its own, and a user repartition is exempt from
      // AQE coalescing, keeping the per-pair-CPU verify stage spread (the
      // earlier distinct().repartition(n) shape paid two exchanges for the
      // same result)
      .repartition(batch.sparkSession.sessionState.conf.numShufflePartitions,
        col("doc_a"), col("doc_b"))
      .dropDuplicates("doc_a", "doc_b")
    // threshold keep inside the verify projection (verifyJaccardKept):
    // kernel once per pair, no barrier exchange (see minhashNearDupes)
    verifyJaccardKept(cands, batch, corpus, id, text, shingleN, threshold)
  }

  /** Persist a corpus's LSH band table as a BUCKETED catalog table — the
    * amortization step for repeated incremental ingests. Banding the
    * corpus costs one full scan; every subsequent [[nearDupesAgainstTable]]
    * probe then joins against it with NO exchange on the corpus side
    * (bucket-pruned parquet read straight into the join). After appending
    * a batch to the corpus, [[appendBandTable]] bands just the batch into
    * the same table — steady-state ingest never re-bands the corpus.
    */
  def writeBandTable(corpus: DataFrame, id: String, text: String,
                     table: String, buckets: Int = 32, bands: Int = 8,
                     rowsPerBand: Int = 4, shingleN: Int = 3,
                     path: Option[String] = None): Unit = {
    // `path` makes the table EXTERNAL at that location — use it when the
    // catalog is in-memory but the filesystem persists across sessions
    // (a stale managed-table directory would otherwise refuse recreation)
    val w0 = bandedKeys(corpus, id, text, bands, rowsPerBand, shingleN)
      .write.mode("overwrite")
      .bucketBy(buckets, "bh")
      .sortBy("bh")
      .format("parquet")
    path.fold(w0)(w0.option("path", _)).saveAsTable(table)
    // record the LSH geometry the band rows were built with — a probe with
    // different (bands, rowsPerBand, shingleN) computes different band keys
    // and the equi-join would just return fewer matches with no error, so
    // [[nearDupesAgainstTable]] requires these to match before probing
    corpus.sparkSession.sql(
      s"ALTER TABLE $table SET TBLPROPERTIES (" +
        s"'graft.bands'='$bands','graft.rowsPerBand'='$rowsPerBand'," +
        s"'graft.shingleN'='$shingleN')")
  }

  /** Persist a corpus's DISTINCT text fingerprints as a BUCKETED catalog
    * table — the exact-dup sibling of [[writeBandTable]], and the
    * materialized form of the fingerprint set [[dropDupesAgainst]] derives
    * per call. 8 bytes per distinct historical document, bucketed+sorted by
    * `__fp`, so every subsequent [[dropDupesAgainstTable]] probe anti-joins
    * against it with NO exchange on the corpus side, and each
    * [[appendFingerprintTable]] increment writes only the batch's new
    * fingerprints.
    */
  def writeFingerprintTable(corpus: DataFrame, text: String, table: String,
                            buckets: Int = 32,
                            path: Option[String] = None): Unit = {
    val w0 = corpus
      .select(TextFunctions.fingerprint64(col(text)).as("__fp"))
      .distinct()
      .write.mode("overwrite")
      .bucketBy(buckets, "__fp")
      .sortBy("__fp")
      .format("parquet")
    path.fold(w0)(w0.option("path", _)).saveAsTable(table)
  }

  /** Append a batch's NEW fingerprints to a persisted fingerprint table:
    * the batch's distinct fps anti-join the table first (bucket-local read,
    * no corpus-side exchange), so the table stays duplicate-free and each
    * increment writes O(new docs), never a corpus rewrite. `insertInto`
    * honors the table's bucket spec.
    */
  def appendFingerprintTable(batch: DataFrame, text: String,
                             table: String): Unit =
    newFingerprints(batch, text, table).write.mode("append").insertInto(table)

  /** The rows [[appendFingerprintTable]] writes: the batch's distinct
    * fingerprints that the table does not hold yet. The streaming exact
    * gate writes them with one task, one file per bucket per trigger.
    */
  private[graft] def newFingerprints(batch: DataFrame, text: String,
                                     table: String): DataFrame =
    batch.select(TextFunctions.fingerprint64(col(text)).as("__fp"))
      .distinct()
      .join(batch.sparkSession.table(table), Seq("__fp"), "left_anti")

  /** [[dropDupesAgainst]] probing a PERSISTED fingerprint table instead of
    * re-fingerprinting the corpus: drop batch rows whose text fingerprint
    * already exists in the table, then exact-dedup within the batch. The
    * corpus side is a bucketed 8-byte-column read straight into the
    * anti-join — per-ingest cost is O(batch), independent of corpus size.
    */
  def dropDupesAgainstTable(batch: DataFrame, fpTable: String,
                            id: String, text: String): DataFrame = {
    val fresh = batch
      .withColumn("__fp", TextFunctions.fingerprint64(col(text)))
      .join(batch.sparkSession.table(fpTable), Seq("__fp"), "left_anti")
      .drop("__fp")
    dropExactDupes(fresh, id, text)
  }

  /** Incremental corpus append for a persisted band table: band ONLY the
    * new batch (with the geometry recorded in the table's properties — a
    * table without them refuses, the silent-miss rule) and append its band
    * rows to the bucketed table, so steady-state ingest never re-bands the
    * historical corpus. `insertInto` honors the table's bucket spec
    * (rows hash into the same `bh` buckets the original write used), so
    * subsequent [[nearDupesAgainstTable]] probes stay bucket-local and
    * exchange-free on the corpus side. Equal to a from-scratch
    * [[writeBandTable]] over the unioned corpus (pinned by DedupSpec).
    */
  def appendBandTable(batch: DataFrame, id: String, text: String,
                      table: String): Unit = {
    val spark = batch.sparkSession
    val props = spark.sql(s"SHOW TBLPROPERTIES $table").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    def geom(key: String): Int = props.get("graft." + key) match {
      case Some(v) => v.toInt
      case None => throw new IllegalArgumentException(
        s"band table $table has no 'graft.$key' property — cannot append " +
          "with an unknown LSH geometry (mismatched band keys silently miss " +
          "near-dups). Re-band the corpus with writeBandTable, which records " +
          "the geometry.")
    }
    val (bands, rowsPerBand, shingleN) =
      (geom("bands"), geom("rowsPerBand"), geom("shingleN"))
    appendBandRows(
      bandedKeys(batch, id, text, bands, rowsPerBand, shingleN), table)
  }

  /** The write half of [[appendBandTable]], for callers that already hold
    * the batch's band rows with the table's verified geometry (the
    * streaming gate checks geometry once per stream and bands each batch
    * once for both the probe and the append — re-deriving either per
    * micro-batch would pay a catalog read plus a second shingle+minhash
    * pass per trigger).
    */
  private[graft] def appendBandRows(bandRows: DataFrame, table: String): Unit = {
    val spark = bandRows.sparkSession
    // doc-level anti-join makes the append IDEMPOTENT: a crash-replayed
    // ingest batch re-appends nothing (the streaming gate depends on this),
    // and re-appending an already-banded corpus is a no-op. ONE action
    // (r19): the previous shape persisted the anti-join and ran a count()
    // job to skip the write when empty — but the bucketed writer already
    // opens output files LAZILY per bucket on first row, so an empty
    // insert commits NO files (file-level no-op, spec-pinned in
    // DedupSpec) and the count gate only added a persist + an extra job
    // to every streaming trigger. No distinct on the table side:
    // anti-join semantics ignore duplicate matches, so deduping the
    // probe side is a pure extra shuffle.
    bandRows
      .join(spark.table(table).select(col("doc")), Seq("doc"), "left_anti")
      .write.mode("append").insertInto(table)
  }

  /** COMPACT a bucketed gate-state table (the fingerprint table of
    * [[writeFingerprintTable]] or the band table of [[writeBandTable]]) —
    * the [[graft.operators.Similarity.compactSemCellTable]] discipline
    * applied to the two remaining unboundedly-growing state stores: a
    * long-running ingest stream appends one parquet file per bucket per
    * batch ([[appendFingerprintTable]] / [[appendBandTable]]), and after
    * thousands of triggers the probe pays file-listing and
    * per-file-footer costs for state that fits in a handful of files.
    * Compaction rewrites today's rows into ≤ numBuckets files (one task
    * per bucket: the rewrite repartitions by the bucket column with the
    * bucket hash, so bucket assignment is preserved by construction and
    * each bucket lands in exactly one file).
    *
    * The swap is FILE-LEVEL, so the catalog entry — including the LSH
    * geometry TBLPROPERTIES the append/probe guards read — is never
    * touched: the combined segment is staged as an external table
    * BESIDE the data directory, its part files are renamed in, and only
    * then are the old files (listed BEFORE the rewrite read, and read
    * explicitly BY THAT LIST) deleted. Crash tolerance comes from GATE
    * SEMANTICS rather than atomicity (the compactSemCellTable argument):
    * a reader in any crash window sees the old files, old + combined
    * (duplicated state rows — which cannot change a gate decision:
    * fingerprint anti-joins and band-candidate joins are
    * duplication-insensitive), or the compacted set; rows are never
    * absent. A concurrent append between the listing and the delete is
    * also safe: its files are not in the delete list and survive
    * untouched. Re-running after any crash completes the compaction.
    *
    * The fold applies a whole-row distinct: state rows are membership
    * facts (both appenders anti-join before writing, so a healthy table
    * is duplicate-free already), and the only duplicates that can exist
    * — a compaction crash after rename-in, re-compacted over old +
    * combined — are exactly what the distinct heals. On a healthy table
    * the row multiset is therefore preserved verbatim (spec-pinned).
    * COROLLARY: only compact tables whose rows ARE membership facts —
    * a table of additive deltas (e.g. per-batch df increments) would
    * lose equal rows to the distinct; rebuild such tables whole instead.
    */
  def compactBucketedTable(spark: org.apache.spark.sql.SparkSession,
                           table: String): Unit = {
    val cat = spark.sessionState.catalog.getTableMetadata(
      org.apache.spark.sql.catalyst.TableIdentifier(table))
    val spec = cat.bucketSpec.getOrElse(throw new IllegalArgumentException(
      s"$table is not bucketed — compactBucketedTable preserves bucket " +
        "layout and refuses tables without one"))
    val loc = new org.apache.hadoop.fs.Path(cat.location)
    val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val oldFiles = fs.listStatus(loc)
      .filter(f => f.isFile && { val n = f.getPath.getName
        !n.startsWith("_") && !n.startsWith(".") })
      .map(_.getPath)
    // already-compact fast path. Note one nuance: a crash window's
    // duplicate rows persist through this no-op if old + combined
    // happened to fit in <= numBuckets files (tiny tables only — any
    // real table's pre-crash files already exceed the bucket count);
    // they are gate-safe regardless and fold away at the next genuine
    // compaction.
    if (oldFiles.length <= spec.numBuckets) return
    val stagingTable = table + "__compact_tmp"
    val stagingDir = new org.apache.hadoop.fs.Path(loc.toString + ".compact_tmp")
    spark.sql(s"DROP TABLE IF EXISTS $stagingTable")
    fs.delete(stagingDir, true)
    // read the listed files EXPLICITLY (not the catalog table), so the
    // folded set and the delete set are the same files even if a batch
    // appends concurrently; repartition on the bucket hash so each
    // bucket's rows land in one task -> one file per bucket
    val bucketCols = spec.bucketColumnNames.map(col)
    val w0 = spark.read.schema(cat.dataSchema)
      .parquet(oldFiles.map(_.toString): _*)
      .dropDuplicates() // heals crash-window folds; no-op on a healthy table
      .repartition(spec.numBuckets, bucketCols: _*)
      .write.mode("overwrite")
      .bucketBy(spec.numBuckets, spec.bucketColumnNames.head,
        spec.bucketColumnNames.tail: _*)
    val w1 = if (spec.sortColumnNames.isEmpty) w0
      else w0.sortBy(spec.sortColumnNames.head, spec.sortColumnNames.tail: _*)
    w1.format("parquet").option("path", stagingDir.toString)
      .saveAsTable(stagingTable)
    // the combined rows are fully materialized on disk: rename them in
    // (names carry a fresh write-job UUID — no collision with old files),
    // THEN delete the old files
    val staged = fs.listStatus(stagingDir)
      .filter(f => f.isFile && f.getPath.getName.startsWith("part-"))
      .map(_.getPath)
    staged.foreach(p => require(
      fs.rename(p, new org.apache.hadoop.fs.Path(loc, p.getName)),
      s"rename of compacted file $p into $loc failed"))
    oldFiles.foreach(p => fs.delete(p, false))
    spark.sql(s"DROP TABLE IF EXISTS $stagingTable")
    fs.delete(stagingDir, true)
    spark.catalog.refreshTable(table)
  }

  /** Refuse to probe `bandTable` with a different LSH geometry than it was
    * written with (recorded by [[writeBandTable]] as table properties):
    * mismatched keys silently miss near-dups, they don't error. Called once
    * per probe by [[nearDupesAgainstTable]] — or once per STREAM by
    * [[graft.streaming.DocStream]], which then probes each micro-batch
    * without re-reading the catalog.
    */
  private[graft] def checkBandGeometry(spark: org.apache.spark.sql.SparkSession,
                                       bandTable: String, bands: Int,
                                       rowsPerBand: Int, shingleN: Int): Unit = {
    val props = spark.sql(s"SHOW TBLPROPERTIES $bandTable").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    def requireMatch(key: String, passed: Int): Unit =
      props.get("graft." + key) match {
        case Some(written) =>
          require(written == passed.toString,
            s"band table $bandTable was written with $key=$written but probed " +
              s"with $key=$passed — band keys would not match and near-dups " +
              "would be silently missed; re-band the corpus or pass the " +
              "written parameters")
        case None =>
          // a table without the geometry properties (written before they
          // existed, or by other tooling) is probed on faith — exactly the
          // silent-miss failure mode the guard exists to catch. Warn loudly
          // instead of trusting it silently; rebanding records the props.
          org.slf4j.LoggerFactory.getLogger(getClass)
            .warn(s"band table $bandTable has no 'graft.$key' table property" +
              s" — cannot verify it was banded with $key=$passed; near-dups" +
              " are silently missed if the geometry differs. Re-band the" +
              " corpus with writeBandTable to record the geometry.")
      }
    requireMatch("bands", bands)
    requireMatch("rowsPerBand", rowsPerBand)
    requireMatch("shingleN", shingleN)
  }

  /** [[nearDupesAgainst]] probing a PERSISTED band table (from
    * [[writeBandTable]]) instead of re-banding the corpus: only the batch
    * is scanned and banded per ingest; the corpus side is a bucketed read
    * with no shuffle. `corpus` supplies doc text for the verify stage
    * only (joined by candidate id — prune it to (id, text)).
    */
  def nearDupesAgainstTable(batch: DataFrame, corpus: DataFrame,
                            bandTable: String, id: String, text: String,
                            threshold: Double = 0.8, bands: Int = 8,
                            rowsPerBand: Int = 4,
                            shingleN: Int = 3): DataFrame = {
    checkBandGeometry(batch.sparkSession, bandTable, bands, rowsPerBand, shingleN)
    nearDupesAgainstTableUnchecked(batch, corpus, bandTable, id, text,
      threshold, bands, rowsPerBand, shingleN)
  }

  /** [[nearDupesAgainstTable]] minus the geometry check — for callers that
    * have already run [[checkBandGeometry]] once for many probes (the
    * streaming gate checks once at stream start, not per micro-batch).
    */
  private[graft] def nearDupesAgainstTableUnchecked(
      batch: DataFrame, corpus: DataFrame,
      bandTable: String, id: String, text: String,
      threshold: Double, bands: Int,
      rowsPerBand: Int, shingleN: Int): DataFrame =
    probeBandTable(bandedKeys(batch, id, text, bands, rowsPerBand, shingleN),
      batch, corpus, bandTable, id, text, threshold, shingleN)

  /** [[nearDupesAgainstTableUnchecked]] with the batch's band rows supplied
    * by the caller — the streaming gate bands each micro-batch once and
    * feeds the same rows to this probe and to [[appendBandRows]].
    *
    * `excludeCorpusDocs`: drop candidate pairs whose corpus-side doc is in
    * the given frame BEFORE the verify stage — the self-maintaining gate's
    * strictly-prior rule. Filtering at the candidate level (not on the
    * verified pairs) keeps the jaccard kernel off pairs that are discarded
    * anyway; on a crash replay, where the batch's own bands are already in
    * the table, that is every self-match.
    */
  private[graft] def probeBandTable(
      batchBands: DataFrame, batch: DataFrame, corpus: DataFrame,
      bandTable: String, id: String, text: String,
      threshold: Double, shingleN: Int,
      excludeCorpusDocs: Option[DataFrame] = None): DataFrame =
    verifyJaccardKept(
      joinBandCandidates(batchBands, bandTable, id, excludeCorpusDocs),
      batch, corpus, id, text, shingleN, threshold)

  /** The candidate stage of [[probeBandTable]] — everything except the
    * jaccard verify — in two JOIN shapes, picked by the planner's own
    * broadcast test; both emit the same candidate set (spec-pinned in
    * DedupSpec).
    */
  private[graft] def joinBandCandidates(
      batchBands: DataFrame, bandTable: String, id: String,
      excludeCorpusDocs: Option[DataFrame]): DataFrame = {
    val spark = batchBands.sparkSession
    // (1) MICRO-BATCH (band rows under the broadcast threshold — the
    // steady-state ingest/gate case): the batch's bands broadcast and
    // the state table STREAMS through the probe side (bucketed read, no
    // exchange, no sort — plan-pinned by DedupSpec), so the
    // per-batch cost is one hash probe per state row. Probe on ONE
    // fused BIGINT key instead of the composite (band, bh): a
    // single-long join key builds a LongHashedRelation where the
    // composite key falls back to the row-based relation — measured 23%
    // off the whole candidate stage at 1000x (40M state rows,
    // 4.76 -> 3.66 s, identical candidate set). The exact (band, bh)
    // equality stays as a post-join filter, so a 64-bit fuse collision
    // can only add a candidate pair that the exact-jaccard verify then
    // judges on its real similarity — semantics unchanged.
    //
    // (2) LARGE BATCH (a backfill through nearDupesAgainstTable): a
    // fused-key join would DEFEAT the state table's bucketing — the
    // table is bucketed by hash(bh), not by the derived __bk, so Spark
    // would exchange the corpus-sized state per probe. Join on the
    // BUCKET column `bh` ALONE, with band equality as a post-join
    // filter (the same trick as the fused branch's exact-equality
    // filter): a composite (band, bh) join key does NOT co-partition
    // with the table's hash(bh) bucketing either — Spark requires the
    // full join key set to equal the clustering keys, and the planner
    // both disabled the bucketed scan and exchanged the state table
    // when this branch joined on (band, bh) (plan-pinned by DedupSpec).
    // On the single bh key the state side stays exchange-free and only
    // the batch shuffles, which is the right trade when the batch is
    // itself corpus-scale. bh is a 64-bit hash of the band's signature
    // slice, so cross-band bh collisions are vanishing; the filter
    // keeps the candidate set exact. The eligibility test mirrors the
    // planner's (optimized-plan size vs autoBroadcastJoinThreshold), so
    // the fused shape is used exactly when the broadcast would happen.
    val bandsKeyed = batchBands
      .withColumn("__bk", xxhash64(col("band"), col("bh")))
    val smallBatch = try {
      val thr = spark.sessionState.conf.autoBroadcastJoinThreshold
      thr > 0 &&
        bandsKeyed.queryExecution.optimizedPlan.stats.sizeInBytes <= thr
    } catch { case _: Throwable => false }
    val raw = if (smallBatch) {
      // explicit broadcast hint (ADVICE r17): the eligibility test above
      // mirrors the planner's, but stat drift near the threshold / AQE /
      // a conf change between the probe and the join could make the
      // planner decline — and a declined broadcast on the derived __bk
      // key would force a full exchange of the corpus-sized state table,
      // the exact regression branch (2) exists to avoid. The hint pins
      // the tested condition to the executed plan.
      val a = broadcast(bandsKeyed).as("a")
      val b = spark.table(bandTable)
        .withColumn("__bk", xxhash64(col("band"), col("bh"))).as("b")
      a.join(b, col("a.__bk") === col("b.__bk"))
        .filter(col("a.band") === col("b.band") && col("a.bh") === col("b.bh"))
        .select(col("a.doc").as("doc_a"), col("b.doc").as("doc_b"))
    } else {
      val a = batchBands.as("a")
      val b = spark.table(bandTable).as("b")
      // band equality spelled `a.band - b.band = 0` ON PURPOSE: a plain
      // `a.band === b.band` — even as a filter ABOVE the join — is folded
      // into the join condition and re-extracted as an equi-join KEY,
      // putting the plan right back on the composite (band, bh) keys
      // this branch exists to avoid. The subtraction references both
      // sides in one expression, so ExtractEquiJoinKeys must leave it as
      // a post-join condition; Int wraparound preserves `a-b=0 ⟺ a=b`.
      a.join(b, col("a.bh") === col("b.bh") &&
          col("a.band") - col("b.band") === lit(0))
        .select(col("a.doc").as("doc_a"), col("b.doc").as("doc_b"))
    }
    excludeCorpusDocs
      .fold(raw)(ex => raw.join(ex.select(col(id).as("doc_b")),
        Seq("doc_b"), "left_anti"))
      // one keyed exchange for dedup + AQE-exempt spread (see
      // [[nearDupesAgainst]])
      .repartition(spark.sessionState.conf.numShufflePartitions,
        col("doc_a"), col("doc_b"))
      .dropDuplicates("doc_a", "doc_b")
      // stable (doc_a, doc_b) column ORDER: the USING-column anti-join
      // above moves doc_b to the front of the schema, so without this
      // projection the output order depends on whether an exclusion
      // frame was passed — positional consumers would silently read
      // swapped pairs
      .select(col("doc_a"), col("doc_b"))
  }

  /** Rows of `batch` with no near-dup in `corpus`: the incremental-ingest
    * gate (within-batch near-dups are a separate concern — compose with
    * [[dropNearDupes]] on the survivors when the batch itself may repeat).
    */
  def dropNearDupesAgainst(batch: DataFrame, corpus: DataFrame, id: String,
                           text: String, threshold: Double = 0.8,
                           bands: Int = 8, rowsPerBand: Int = 4,
                           shingleN: Int = 3): DataFrame = {
    val dupes = nearDupesAgainst(batch, corpus, id, text, threshold,
        bands, rowsPerBand, shingleN)
      // no distinct: the anti-join ignores duplicate matches, so deduping
      // the dupe-id list would be a pure extra exchange (the streaming
      // gates' discipline)
      .select(col("doc_a").as(id))
    batch.join(dupes, Seq(id), "left_anti")
  }

  /** 64-bit SimHash over tokens: bit j of the result is the sign of
    * Σ_tokens (bit j of xxhash64(token) ? +1 : -1). Expression-level (per-bit
    * vote via `aggregate` lambdas — interpreted, re-hashes tokens per bit).
    * The native [[graft.expressions.SimHash64]] kernel behind the SQL
    * function `simhash64` is pinned to it by DedupSpec.
    */
  def simhash64(text: Column): Column = {
    val toks = TextFunctions.tokens(text)
    val hashes = transform(toks, t => xxhash64(t))
    (0 until 64).map { j =>
      val votes = aggregate(hashes, lit(0L),
        (acc, h) => acc + when(shiftright(h, j).bitwiseAND(1L) === 1L, 1L).otherwise(-1L))
      when(votes > 0, shiftleft(lit(1L), j)).otherwise(lit(0L))
    }.reduce(_.bitwiseOR(_))
  }

  /** 60-bit SimHash over tokens with an ENGINE-PORTABLE token hash: the
    * token's 64-bit value is the first 15 hex chars of its MD5 parsed as an
    * integer, so any engine with `md5` (DuckDB:
    * `CAST('0x' || substr(md5(t),1,15) AS BIGINT)`) reproduces the
    * signature bit-for-bit — which makes simhash near-dup results
    * cross-engine verifiable, unlike the xxhash64-seeded [[simhash64]]
    * (Spark-internal hash). 15 hex chars = 60 bits
    * keeps the value inside a signed long in both engines.
    *
    * Plan shape: explode tokens, then ONE hash-aggregate per doc carrying
    * 60 partial-aggregated bit-vote sums (all built-in codegen'd
    * expressions; map-side combine collapses each partition to one row per
    * doc before the shuffle) — scan-bound at scale, no window, no
    * quadratic stage.
    */
  def simhashMd5Signatures(df: DataFrame, id: String, text: String,
                           bits: Int = 60): DataFrame =
    Par.spread(df.select(col(id).as("doc"), col(text).as("__t")))
      .select(col("doc"),
        graft.expressions.HashSketchExpressions.md5Simhash(
          TextFunctions.tokens(col("__t")), bits).as("sh"))

  /** The composable reference form of [[simhashMd5Signatures]] (explode →
    * md5/conv → per-bit vote aggregation): shuffles every token hash and
    * costs Janino a 60-aggregate compile, so the kernel is the production
    * path — this form exists for the DedupSpec bit-equality pin (it IS the
    * SQL the oracle runs, expressed in DataFrame ops).
    */
  private[graft] def simhashMd5SignaturesViaAgg(df: DataFrame, id: String,
                                                text: String,
                                                bits: Int = 60): DataFrame = {
    require(bits >= 1 && bits <= 60, s"bits must be in [1,60], got $bits")
    val toks = Par.spread(df.select(col(id).as("doc"), col(text).as("__t")))
      .select(col("doc"), explode(TextFunctions.tokens(col("__t"))).as("__tok"))
      .select(col("doc"),
        conv(substring(md5(col("__tok")), 1, 15), 16, 10).cast("long").as("__h"))
    val votes = (0 until bits).map { j =>
      sum(shiftright(col("__h"), j).bitwiseAND(1L) * 2L - 1L).as(s"__v$j")
    }
    toks.groupBy(col("doc"))
      .agg(votes.head, votes.tail: _*)
      .select(col("doc"),
        (0 until bits).map { j =>
          when(col(s"__v$j") > 0, shiftleft(lit(1L), j)).otherwise(lit(0L))
        }.reduce(_.bitwiseOR(_)).as("sh"))
  }

  /** Near-dup clusters from a pair list: connected components by iterative
    * min-label propagation (each doc's label converges to the smallest doc
    * id reachable through near-dup edges). Converges in O(component
    * diameter) rounds — near-dup components are shallow (dupes of dupes),
    * so a handful of rounds suffices; lineage is truncated per round with
    * an eager checkpoint so the plan doesn't grow unboundedly at scale.
    * Returns `(doc, cluster)` for every doc appearing in a pair.
    *
    * Fault tolerance: when the session has a checkpoint dir configured
    * (`spark.sparkContext.setCheckpointDir`), rounds checkpoint RELIABLY
    * to it — executor loss mid-propagation (dynamic allocation, spot
    * kills) costs one recompute from storage, not the job. Without one,
    * rounds fall back to `localCheckpoint` (executor-local blocks,
    * eager): fine on a static cluster / local mode, but losing an
    * executor loses its label blocks mid-iteration — on preemptible
    * fleets, set a checkpoint dir. Reliable checkpoints leave one
    * snapshot per round on storage until context shutdown; long-lived
    * services calling this repeatedly should start the context with
    * `spark.cleaner.referenceTracking.cleanCheckpoints=true` so the
    * ContextCleaner deletes each round's files once its RDD is dropped
    * (references are released every round below).
    */
  def nearDupClusters(pairs: DataFrame, maxIters: Int = 10): DataFrame = {
    val reliable = pairs.sparkSession.sparkContext.getCheckpointDir.isDefined
    // lineage truncation for one propagation round: reliable when possible
    def truncate(df: DataFrame): DataFrame =
      if (reliable) df.checkpoint(true) else df.localCheckpoint(true)
    // pairs is consumed once per edge direction and once per propagation
    // round - persist the (tiny) pair list so its producing pipeline (often
    // a full LSH block+verify) runs exactly once
    val p = pairs.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val edges = p.select(col("doc_a").as("src"), col("doc_b").as("dst"))
      .unionByName(p.select(col("doc_b").as("src"), col("doc_a").as("dst")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // round 1 is FUSED into the first materialization: cluster(doc) after
    // one propagation round is least(doc, min neighbor), computable directly
    // from the edge list with one hash-aggregate — the job that materializes
    // the persisted pair list IS round 1, instead of an identity-label
    // distinct pass followed by a separate join round. (Every doc in a pair
    // appears as a dst because edges hold both directions.)
    var labels = edges.groupBy(col("dst"))
      .agg(min(col("src")).as("__nmin"))
      .select(col("dst").as("doc"),
        least(col("dst"), col("__nmin")).as("cluster"))
    labels = truncate(labels)
    var changed = 1L
    var iter = 1
    while (changed > 0 && iter < maxIters) {
      val neighborMin = edges
        .join(labels.select(col("doc").as("src"), col("cluster").as("c")), "src")
        .groupBy(col("dst").as("doc"))
        .agg(min(col("c")).as("nmin"))
      // change detection rides along as a 0/1 column computed in the SAME
      // pass that materializes the round (the checkpoint is eager), so the
      // convergence check is a sum over the just-materialized tiny label
      // table — not a second labels×edges join job per round
      val next = truncate(labels.join(neighborMin, Seq("doc"), "left")
        .select(col("doc"),
          least(col("cluster"), coalesce(col("nmin"), col("cluster"))).as("cluster"),
          when(col("nmin") < col("cluster"), 1L).otherwise(0L).as("__chg")))
      changed = next.agg(coalesce(sum(col("__chg")), lit(0L))).first().getLong(0)
      labels = next.drop("__chg")
      iter += 1
    }
    edges.unpersist()
    p.unpersist()
    labels
  }

  /** The corpus with near-duplicates removed: one keeper (the min-id member)
    * per near-dup cluster; docs in no cluster pass through.
    */
  def dropNearDupes(df: DataFrame, id: String, text: String,
                    threshold: Double = 0.8): DataFrame = {
    val clusters = nearDupClusters(minhashNearDupes(df, id, text, threshold))
    df.join(clusters.withColumnRenamed("doc", id), Seq(id), "left")
      .filter(col("cluster").isNull || col("cluster") === col(id))
      .drop("cluster")
  }

  /** MinHash-union sketch aggregate: elementwise min of signatures across a
    * group — the group's own MinHash signature (union semantics: the
    * signature of a union of shingle sets is the elementwise min of the
    * per-doc signatures). Lets corpus-level dedup roll up to any grouping
    * (per domain, per crawl, per day) in one hash-aggregate, and estimate
    * cross-group Jaccard from the aggregated sketches without touching the
    * text again. Registered for DataFrames via `minhashUnionUdaf`.
    */
  class MinHashUnion(numHashes: Int)
      extends org.apache.spark.sql.expressions.Aggregator[Seq[Long], Array[Long], Seq[Long]] {
    override def zero: Array[Long] = Array.fill(numHashes)(Long.MaxValue)
    override def reduce(b: Array[Long], sig: Seq[Long]): Array[Long] = {
      if (sig != null) {
        var i = 0
        while (i < numHashes && i < sig.length) {
          if (sig(i) < b(i)) b(i) = sig(i); i += 1
        }
      }
      b
    }
    override def merge(a: Array[Long], b: Array[Long]): Array[Long] = {
      var i = 0
      while (i < numHashes) { if (b(i) < a(i)) a(i) = b(i); i += 1 }
      a
    }
    override def finish(b: Array[Long]): Seq[Long] = b.toSeq
    override def bufferEncoder: org.apache.spark.sql.Encoder[Array[Long]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[Long]]()
    override def outputEncoder: org.apache.spark.sql.Encoder[Seq[Long]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[Long]]()
  }

  /** DataFrame-usable MinHash-union aggregate column. */
  def minhashUnion(sig: Column, numHashes: Int): Column =
    udaf(new MinHashUnion(numHashes)).apply(sig)

  /** Estimated Jaccard between two aggregated signatures: fraction of
    * agreeing components.
    */
  def sketchJaccard(sigA: Column, sigB: Column): Column =
    when(size(sigA) > 0,
      size(filter(zip_with(sigA, sigB, (a, b) => a === b), x => x))
        .cast("double") / size(sigA))

  /** Hamming distance between two 64-bit simhashes. */
  def hamming(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /** SimHash near-dup candidates with multi-band blocking over precomputed
    * signatures (`doc`, `sh: long`): split the 64-bit signature into
    * `bands` equal bit-blocks; a pair is a candidate if it agrees exactly
    * on ANY band (pigeonhole: a pair with Hamming distance d < bands must
    * share at least one clean band, so recall is EXACT for d <= maxHamming
    * whenever bands > maxHamming). Candidates then filter on exact Hamming
    * distance. Any 64-bit-or-narrower SimHash works
    * (narrower sigs just leave the top band bits constant-zero, which
    * preserves the pigeonhole recall argument: Hamming over the 64-bit
    * representation equals Hamming over the sig's live bits).
    */
  def simhashNearDupesFromSigs(sh: DataFrame, maxHamming: Int = 3,
                               bands: Int = 8): DataFrame = {
    require(bands > maxHamming,
      s"bands ($bands) must exceed maxHamming ($maxHamming) for exact recall")
    require(64 % bands == 0, s"bands ($bands) must divide 64")
    val width = 64 / bands
    val mask = if (width == 64) -1L else (1L << width) - 1
    val banded = sh.select(col("doc"), col("sh"),
      explode(array((0 until bands).map { i =>
        struct(lit(i).as("band"),
          shiftrightunsigned(col("sh"), i * width).bitwiseAND(mask).as("bits"))
      }: _*)).as("bk"))
      .select(col("doc"), col("sh"), col("bk.band"), col("bk.bits"))
    val a = banded.as("a"); val b = banded.as("b")
    a.join(b, col("a.band") === col("b.band") && col("a.bits") === col("b.bits")
        && col("a.doc") < col("b.doc"))
      .select(col("a.doc").as("doc_a"), col("b.doc").as("doc_b"),
        col("a.sh").as("sh_a"), col("b.sh").as("sh_b"))
      .distinct()
      .withColumn("hamming", hamming(col("sh_a"), col("sh_b")))
      .filter(col("hamming") <= maxHamming)
      .select(col("doc_a"), col("doc_b"), col("hamming"))
  }

  // --------------------------------------------------------------------
  // Substring-level exact dedup (ExactSubstr, Lee et al. 2021 "Dedupli-
  // cating Training Data Makes Language Models Better"): remove token
  // SPANS duplicated across documents, the axis doc-level (exact),
  // line-level (dedupLines), and near-dup (MinHash/SimHash) all miss.
  // Lee et al. build a corpus suffix array; the Spark-native shape is
  // the decontamination machinery turned corpus×corpus — every k-token
  // window fingerprints to 8 bytes, a window is DUPLICATED when its
  // fingerprint occurs in >= minDocs distinct documents, and runs of
  // duplicated windows merge into maximal spans. Within-document
  // repetition is deliberately NOT this operator's axis (repetitionStats
  // covers it): minDocs counts distinct documents.
  // --------------------------------------------------------------------

  /** Duplicated k-token windows: (id, __pos, __fp) for every window whose
    * fingerprint occurs in >= `minDocs` distinct documents.
    *
    * Scale shape: windows reduce to (id, pos, 64-bit fp) before any
    * exchange — the gram text never shuffles. The hot-fingerprint table
    * comes from one hash aggregation on fp (map-side partial distinct),
    * and membership is a fp equi-join (shuffle-hash/sort-merge — the hot
    * side is corpus-sized in the worst case, so it is NOT broadcast).
    * The corpus is scanned twice (window explode feeds both sides), the
    * [[decontaminate]] trade: recomputing a pruned scan beats
    * materializing a corpus-sized window table.
    */
  private def duplicatedWindows(corpus: DataFrame, id: String, text: String,
                                k: Int, minDocs: Int): DataFrame = {
    import graft.expressions.WordShingles
    // null-id rows carry no document identity and are excluded from BOTH
    // sides (countDistinct ignored them implicitly; the row-count hot
    // side below must not let them vote)
    val docs = Par.spread(
      corpus.select(col(id), col(text)).where(col(id).isNotNull))
    val w = docs
      .select(col(id),
        posexplode(WordShingles.ngrams(col(text), k)).as(Seq("__pos", "__g")))
      .select(col(id), col("__pos").cast("long").as("__pos"),
        xxhash64(col("__g")).as("__fp"))
    // hot side: the DISTINCT-shingle kernel dedups grams per document
    // locally, so "documents containing fp" is a plain row count — ONE
    // fp exchange. The equivalent countDistinct(id) over the window
    // rows plans as a (fp, id) dedup exchange FOLLOWED by the fp count
    // exchange; the first carries the whole corpus's window volume
    // (measured +3 s of the operator's 100x cost). Row count == distinct
    // documents under the family's standing input contract (ONE row per
    // document id — every gate/dedup operator here assumes it); a
    // duplicate-id corpus would inflate the count where countDistinct
    // shrugged, so the contract is stated rather than silently absorbed.
    val hot = docs
      .select(explode(WordShingles.shingles(col(text), k)).as("__g"))
      .select(xxhash64(col("__g")).as("__fp"))
      .groupBy(col("__fp")).agg(count(lit(1)).as("__nd"))
      .filter(col("__nd") >= minDocs)
      .select(col("__fp"))
    // both sides already reduce to longs; hash semi-join without the
    // sort-merge sort of every window row (the hot side is the smaller
    // build side by construction)
    w.join(hot.hint("shuffle_hash"), Seq("__fp"), "left_semi")
  }

  /** Shared island-merge + clamp behind the two span reports: flagged
    * windows (id, __pos) aggregate to ONE sorted position array per
    * document (a single exchange on the document id — the only exchange
    * the report needs beyond the fingerprint join), and the
    * [[graft.expressions.SpanIslands]] kernel merges each document's
    * islands in one local pass. The per-doc length join stays a
    * corpus-pruned two-column scan for the short-doc clamp. Replaces the
    * composed lag/sum window functions + (id, island) re-aggregation
    * (kept below as [[spansFromFlaggedWindowsComposed]], the spec's
    * bit-equality pin) — at 100× the window-function chain held this
    * family at 1.3–1.6× vs the DuckDB twin (r13–r15 watch).
    */
  private def spansFromFlaggedWindows(windows: DataFrame, corpus: DataFrame,
                                      id: String, text: String,
                                      k: Int): DataFrame = {
    // NOTE: the per-doc token count joins from a second corpus-pruned
    // two-column scan. Carrying it through the window explode instead
    // looks cheaper but is not: ExtractGenerator hoists the alias ABOVE
    // the Generate, re-tokenizing per WINDOW row (measured +9 s at 100x).
    val perDoc = windows.groupBy(col(id))
      .agg(sort_array(collect_list(col("__pos"))).as("__ps"))
    val nw = corpus.select(col(id), spanTokens(col(text)))
    perDoc.join(nw, Seq(id))
      .select(col(id), explode(
        graft.expressions.SpanExpressions.spanIslands(
          col("__ps"), col("__nw"), k)).as("__sp"))
      .select(col(id), col("__sp.span_start").as("span_start"),
        col("__sp.span_end").as("span_end"),
        col("__sp.span_tokens").as("span_tokens"),
        col("__sp.n_windows").as("n_windows"))
  }

  /** The composed-builtins island merge — [[spansFromFlaggedWindows]]'s
    * semantic specification (lag/sum window functions over the flagged
    * windows, (id, island) aggregation, `least` clamp), kept for the
    * spec's bit-equality pin.
    */
  private[graft] def spansFromFlaggedWindowsComposed(
      windows: DataFrame, corpus: DataFrame,
      id: String, text: String, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byDoc = Window.partitionBy(col(id)).orderBy(col("__pos"))
    val runW = byDoc.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // token count from the SAME tokenization the windows use (WordShingles:
    // trim + split on \s+) — a plain split-on-space would mis-clamp spans on
    // documents with leading/repeated whitespace or embedded newlines
    val nw = corpus.select(col(id), spanTokens(col(text)))
    val end = least(col("__endRaw"), col("__nw") - 1)
    windows
      .withColumn("__new",
        when(col("__pos") - lag(col("__pos"), 1).over(byDoc) > k, 1)
          .otherwise(0))
      .withColumn("__isl", sum(col("__new")).over(runW))
      .groupBy(col(id), col("__isl"))
      .agg(min(col("__pos")).as("span_start"),
        (max(col("__pos")) + lit(k - 1).cast("long")).as("__endRaw"),
        count(lit(1)).as("n_windows"))
      .join(nw, Seq(id))
      .select(col(id), col("span_start"), end.as("span_end"),
        (end - col("span_start") + 1).as("span_tokens"), col("n_windows"))
  }

  /** Per-document duplicated-span REPORT: one row per maximal run of
    * duplicated k-token windows — (id, span_start, span_end, span_tokens,
    * n_windows), token positions 0-based inclusive. Windows at positions
    * p < p' belong to one span when p' − p <= k (their covered ranges
    * overlap or touch — a contiguous duplicated region). Documents
    * shorter than k tokens collapse to a single whole-document window
    * ([[graft.expressions.WordShingles]] short-text rule), so span_end
    * clamps to the document's last token.
    *
    * INPUT CONTRACT (shared by the whole ExactSubstr family —
    * [[contaminatedSpans]], [[removeDuplicatedSpans]],
    * [[removeContaminatedSpans]]): ONE row per document `id`. The hot-
    * fingerprint count treats per-document-distinct window rows as
    * distinct documents, so a corpus with repeated ids silently inflates
    * the duplicate vote (effectively lowering `minDocs`) rather than
    * erroring. Rows with a NULL `id` carry no document identity and are
    * EXCLUDED from the report and from duplicate voting (they previously
    * lumped into one all-nulls group; since r16 they simply drop, the
    * [[mixtureCounts]] null discipline).
    *
    * Scale shape: after [[duplicatedWindows]], one exchange on the
    * document id serves both the island merge and the span aggregate;
    * the per-doc length join adds a second corpus-pruned two-column scan.
    */
  def duplicatedSpans(corpus: DataFrame, id: String, text: String,
                      k: Int = 8, minDocs: Int = 2): DataFrame = {
    require(k >= 2 && minDocs >= 2,
      s"bad ExactSubstr geometry: k=$k minDocs=$minDocs")
    spansFromFlaggedWindows(
      duplicatedWindows(corpus, id, text, k, minDocs), corpus, id, text, k)
  }

  /** Per-document CONTAMINATED-span report: maximal runs of k-token
    * windows that occur anywhere in the eval/benchmark set — the
    * [[duplicatedSpans]] machinery with the [[decontaminate]] membership
    * rule (the eval set's distinct 8-byte fingerprints broadcast; the
    * corpus side never shuffles gram text). The surgical counterpart of
    * the document-level [[decontaminate]] drop. Input contract: one row
    * per document `id` (see [[duplicatedSpans]]); membership flagging
    * itself is per-row, so only the span report's per-id grouping cares.
    */
  def contaminatedSpans(corpus: DataFrame, id: String, text: String,
                        eval_ : DataFrame, evalText: String,
                        k: Int = 8): DataFrame =
    spansFromFlaggedWindows(
      contaminatedWindows(corpus, id, text, eval_, evalText, k),
      corpus, id, text, k)

  /** The eval-membership window flagging behind [[contaminatedSpans]] and
    * [[removeContaminatedSpans]]: every k-token corpus window whose
    * fingerprint occurs anywhere in the eval set (the [[decontaminate]]
    * membership rule — eval fingerprints broadcast, corpus gram text
    * never shuffles).
    */
  private def contaminatedWindows(corpus: DataFrame, id: String,
                                  text: String, eval_ : DataFrame,
                                  evalText: String, k: Int): DataFrame = {
    import graft.expressions.WordShingles
    require(k >= 2, s"bad span-decontamination geometry: k=$k")
    val evalFps = eval_
      .select(explode(WordShingles.ngrams(col(evalText), k)).as("__g"))
      .select(xxhash64(col("__g")).as("__fp")).distinct()
    Par.spread(corpus.select(col(id), col(text)))
      .select(col(id),
        posexplode(WordShingles.ngrams(col(text), k)).as(Seq("__pos", "__g")))
      .select(col(id), col("__pos").cast("long").as("__pos"),
        xxhash64(col("__g")).as("__fp"))
      .join(broadcast(evalFps), Seq("__fp"), "left_semi")
  }

  /** Shared span-removal rebuild: every token covered by a flagged
    * window drops from its document, survivors rejoin in order; one row
    * per input document — fully-covered docs survive as empty text.
    * Fused shape: the flagged windows aggregate to one sorted position
    * array per document (the SAME aggregate the span report uses — the
    * island merge is implicit in the cover union, since windows whose
    * positions differ by <= k cover a contiguous range), the corpus
    * joins it once on the id, and [[graft.expressions.SpanKeep]]
    * rebuilds each document in one local pass. The corpus text crosses
    * the wire ONCE; the composed form (kept below as
    * [[removeSpanCoverComposed]], the spec's bit-equality pin) instead
    * posexploded every token of the corpus through an (id, pos)
    * anti-join and re-collected them — two corpus-token-sized exchanges
    * this shape deletes.
    */
  private def removeFlaggedCover(corpus: DataFrame, id: String, text: String,
                                 windows: DataFrame, k: Int): DataFrame = {
    val perDoc = windows.groupBy(col(id))
      .agg(sort_array(collect_list(col("__pos"))).as("__ps"))
    corpus.select(col(id), col(text))
      .join(perDoc, Seq(id), "left")
      .select(col(id),
        graft.expressions.SpanExpressions.spanKeep(col(text),
          coalesce(col("__ps"), lit(Array.emptyLongArray)), k).as("__r"))
      .select(col(id), coalesce(col("__r.kept"), lit("")).as(text),
        (col("__r.nw") - col("__r.n_kept")).as("n_removed"))
  }

  /** The composed-builtins span removal — [[removeFlaggedCover]]'s
    * semantic specification (cover posexplode, (id, pos) anti-join,
    * sort-rejoin aggregate), kept for the spec's bit-equality pin. Takes
    * the SPAN table (the report's output), where the fused form consumes
    * the flagged windows directly.
    */
  private[graft] def removeSpanCoverComposed(
      corpus: DataFrame, id: String, text: String,
      spans: DataFrame): DataFrame = {
    val cover = spans.select(col(id),
      explode(sequence(col("span_start"), col("span_end"))).as("__pos"))
    val kept = corpus
      // positions MUST come from the windows' tokenization (WordShingles:
      // trim + split on \s+) or the anti-join would excise the wrong tokens
      // on any document with irregular whitespace
      .select(col(id),
        posexplode(spanTokenArr(col(text))).as(Seq("__pos", "__w")))
      .select(col(id), col("__pos").cast("long").as("__pos"), col("__w"))
      .join(cover, Seq(id, "__pos"), "left_anti")
      .groupBy(col(id))
      .agg(concat_ws(" ",
          transform(array_sort(collect_list(struct(col("__pos"), col("__w")))),
            x => x.getField("__w"))).as("__kept"),
        count(lit(1)).as("__nKept"))
    corpus
      .select(col(id), spanTokens(col(text)))
      .join(kept, Seq(id), "left")
      .select(col(id), coalesce(col("__kept"), lit("")).as(text),
        (col("__nw") - coalesce(col("__nKept"), lit(0L))).as("n_removed"))
  }

  /** The ExactSubstr family's ONE tokenization, byte-identical to
    * [[graft.expressions.WordShinglesKernel.tokenize]] (which backs the
    * window grams): trim, then split on runs of whitespace. Every position
    * and token count in the span report/removal derives from this — mixing
    * it with a plain split-on-space misaligns positions on multi-line or
    * multi-space documents.
    */
  private def spanTokenArr(text: Column): Column =
    split(trim(text), "\\s+")

  private def spanTokens(text: Column): Column =
    size(spanTokenArr(text)).cast("long").as("__nw")

  /** ExactSubstr span REMOVAL: every token covered by a duplicated span is
    * dropped from every document (the [[dedupLines]] hot-content
    * semantics applied at substring granularity; surviving tokens rejoin
    * in order). Returns one row per input document — (id, text,
    * n_removed) — fully-duplicated documents survive as empty text with
    * n_removed = their token count.
    *
    * Input contract: one row per document `id`; NULL-id rows pass through
    * unmodified (they cannot be flagged — see [[duplicatedSpans]] for the
    * family's id discipline and the duplicate-id caveat).
    *
    * Scale shape: the flagged windows aggregate to one position array per
    * document, the corpus text crosses the wire once, and the
    * [[graft.expressions.SpanKeep]] kernel rebuilds each document in one
    * local pass. No global sort, no window without a partition, nothing
    * driver-side.
    */
  def removeDuplicatedSpans(corpus: DataFrame, id: String, text: String,
                            k: Int = 8, minDocs: Int = 2): DataFrame = {
    require(k >= 2 && minDocs >= 2,
      s"bad ExactSubstr geometry: k=$k minDocs=$minDocs")
    removeFlaggedCover(corpus, id, text,
      duplicatedWindows(corpus, id, text, k, minDocs), k)
  }

  /** Composed-builtins [[duplicatedSpans]] / [[removeDuplicatedSpans]] —
    * the fused kernels' semantic specification, spec-pinned bit-equal.
    */
  private[graft] def duplicatedSpansComposed(corpus: DataFrame, id: String,
                                             text: String, k: Int,
                                             minDocs: Int): DataFrame =
    spansFromFlaggedWindowsComposed(
      duplicatedWindows(corpus, id, text, k, minDocs), corpus, id, text, k)

  private[graft] def removeDuplicatedSpansComposed(
      corpus: DataFrame, id: String, text: String,
      k: Int, minDocs: Int): DataFrame =
    removeSpanCoverComposed(corpus, id, text,
      duplicatedSpansComposed(corpus, id, text, k, minDocs))

  /** SURGICAL decontamination: remove the eval-overlapping spans but keep
    * the documents ([[decontaminate]] drops whole docs; this excises the
    * k-token-window runs [[contaminatedSpans]] reports and rebuilds the
    * text). Returns one row per input document — (id, text, n_removed).
    * Input contract: one row per document `id` (see [[duplicatedSpans]]).
    */
  def removeContaminatedSpans(corpus: DataFrame, id: String, text: String,
                              eval_ : DataFrame, evalText: String,
                              k: Int = 8): DataFrame =
    removeFlaggedCover(corpus, id, text,
      contaminatedWindows(corpus, id, text, eval_, evalText, k), k)

  private[graft] def removeContaminatedSpansComposed(
      corpus: DataFrame, id: String, text: String,
      eval_ : DataFrame, evalText: String, k: Int): DataFrame =
    removeSpanCoverComposed(corpus, id, text,
      spansFromFlaggedWindowsComposed(
        contaminatedWindows(corpus, id, text, eval_, evalText, k),
        corpus, id, text, k))
}
