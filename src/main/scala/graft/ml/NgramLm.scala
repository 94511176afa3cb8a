package graft.ml

import graft.expressions.{BackoffLmScore, BigramLmScore, WordShingles}
import graft.functions.TextFunctions
import graft.plans.GroupedTopK
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Corpus n-gram language model for LM-based quality filtering — the
  * CCNet/RedPajama recipe: fit a small n-gram LM, score every document's
  * per-token log-likelihood, and filter/bucket by perplexity. (The
  * reference's quality signals are heuristic-only; this is the learned
  * counterpart used by every modern pretraining-data pipeline.)
  *
  * Design for 100 TB:
  *   - FIT is ONE corpus scan: the fused [[WordShingles.multiGramCounts]]
  *     kernel emits unigram and bigram counts from a single tokenize pass
  *     per document (one shuffled row per DISTINCT (n, gram) per document),
  *     one (n, gram) hash aggregation reduces them, and the bounded-heap
  *     [[GroupedTopK]] physical operator takes the per-n top-V in the same
  *     job (map-side partial heaps — no full sort of the gram table, no
  *     second corpus read). The deterministic count-desc/gram-asc order
  *     caps the model regardless of corpus size.
  *   - The fitted model is MATERIALIZED at fit time. Caps that fit the
  *     scoring kernel's embed bound ([[KernelModelMaxRows]]) collect to
  *     bounded driver arrays ([[BigramLm]]); caps beyond it NEVER touch the
  *     driver — the trimmed count tables persist as cluster-resident
  *     DataFrames ([[DistributedLm]], scored through the shuffled-hash
  *     join path), so a tens-of-millions-of-grams CCNet-scale fit cannot
  *     OOM the driver. Either way there are no lazy-lineage refits.
  *   - SCORE is the fused [[BigramLmScore]] kernel by default: the whole
  *     per-document readout (gram count, OOV count, integer score) is ONE
  *     codegen'd projection with ZERO shuffle — no explode, no joins, no
  *     aggregation. The bounded model rides the expression (its caps are
  *     what make that sound); [[scoreDocsJoined]] keeps the join
  *     formulation for models too large to embed (broadcast for bounded
  *     driver-array models, shuffled-hash for [[DistributedLm]]), and the
  *     two paths are spec-pinned row-equal.
  *   - EXACTNESS: each per-bigram log-probability is scaled to micro-nats
  *     and rounded to a LONG **before** summation, so the per-document
  *     score is an integer sum — order-independent, retry-stable, and
  *     replayable bit-for-bit by any ANSI engine (the q5k oracle).
  *   - PERSISTENCE ([[save]]/[[load]]): the CCNet deployment shape is
  *     fit-once-on-a-clean-reference-corpus, gate-every-ingest-batch — the
  *     count tables round-trip parquet exactly (integer counts, lossless
  *     strings), so a loaded model gates identically to the fitted one
  *     (q5p pins the round-trip through a DuckDB oracle).
  *
  * Model: add-one-smoothed n-gram conditional with a fixed add-V
  * denominator: p(w_n|ctx) = (c(ctx w_n) + 1) / (c(ctx) + V) where ctx is
  * the (order-1)-gram context and V = the context-table cap (for the
  * default order 2: p(w2|w1) with V = uniCap, the vocabulary cap).
  * [[fitOrder]] generalizes beyond bigrams (order 3 → trigram model) with
  * the SAME single-scan fit, kernels, persistence, and gate — the q5s
  * oracle replays the trigram readout end-to-end. Out-of-model grams fall
  * back to count 0, so unseen text scores low — exactly the
  * junk-detection behavior the filter wants.
  *
  * [[fitBackoff]]/[[scoreDocsBackoff]] add the production CCNet shape —
  * stupid-backoff scoring (Brants et al. 2007) over ALL orders 1..n from
  * the same single fit scan: score each position against the longest
  * in-model gram, falling back ×α per order dropped (the q5t oracle).
  */
object NgramLm {

  /** A fitted conditional n-gram model: a capped (order−1)-gram context
    * count table and a capped order-gram count table, materialized at fit
    * time. Two representations — [[BigramLm]] (driver arrays, kernel-
    * embeddable) under [[KernelModelMaxRows]], [[DistributedLm]]
    * (cluster-resident persisted frames, join-path scoring) above it.
    */
  sealed trait LmModel {
    def order: Int
    /** Cap of the context ((order−1)-gram) table = the add-V constant. */
    def ctxCap: Int
    /** Cap of the order-gram table. */
    def gramCap: Int
    /** The context count table as a frame, columns (w, c). */
    def uniDF(spark: SparkSession): DataFrame
    /** The gram count table as a frame, columns (b, c). */
    def biDF(spark: SparkSession): DataFrame
  }

  /** Kernel-embeddable model: bounded context/gram count arrays
    * (count desc, gram asc — the fit's deterministic truncation order) +
    * the geometry they were fitted with. Bounded by `uniCap`/`biCap` rows
    * (≤ [[KernelModelMaxRows]] when produced by [[fitOrder]]), so driver
    * residency and broadcast are sound by construction.
    */
  final case class BigramLm(uniArr: Array[(String, Long)],
                            biArr: Array[(String, Long)],
                            uniCap: Int, biCap: Int,
                            order: Int = 2) extends LmModel {
    override def ctxCap: Int = uniCap
    override def gramCap: Int = biCap
    /** The context (unigram at order 2) table as a frame. */
    def uniDF(spark: SparkSession): DataFrame =
      spark.createDataFrame(uniArr.toIndexedSeq).toDF("w", "c")
    /** The gram (bigram at order 2) table as a frame. */
    def biDF(spark: SparkSession): DataFrame =
      spark.createDataFrame(biArr.toIndexedSeq).toDF("b", "c")
  }

  /** Cluster-resident model for caps beyond [[KernelModelMaxRows]]: the
    * trimmed count tables are PERSISTED (memory-and-disk) DataFrames,
    * materialized eagerly at fit — the model never lands on the driver,
    * so a CCNet-scale fit (tens of millions of grams) stays sound where
    * driver arrays would OOM. Scoring always takes the join path, routed
    * as a SHUFFLED hash join — a broadcast would rebuild the model on the
    * driver (BroadcastExchange collects the build side), exactly what
    * this representation exists to avoid.
    */
  final case class DistributedLm(uni: DataFrame, bi: DataFrame,
                                 ctxCap: Int, gramCap: Int,
                                 order: Int) extends LmModel {
    def uniDF(spark: SparkSession): DataFrame = uni
    def biDF(spark: SparkSession): DataFrame = bi
  }

  /** Caps up to this total embed the model in the fused scoring kernel
    * AND materialize as driver arrays; larger models stay distributed
    * ([[DistributedLm]]) and score through the shuffled-hash join path. Sized
    * so the serialized expression stays a few tens of MB at worst.
    */
  val KernelModelMaxRows: Int = 1 << 20

  /** Fit the bounded bigram LM over `corpus(text)` in ONE corpus scan (see
    * the object doc). Ties at the cap break deterministically (count desc,
    * gram asc) so refits — and the oracle's SQL replay — always select the
    * identical model. Runs the fit job eagerly and returns the
    * materialized model ([[BigramLm]] under [[KernelModelMaxRows]],
    * [[DistributedLm]] above it).
    */
  def fit(corpus: DataFrame, text: Column, uniCap: Int = 65536,
          biCap: Int = 1 << 20): LmModel =
    fitOrder(corpus, text, 2, uniCap, biCap)

  /** Order-n generalization of [[fit]] (order=3 → trigram model): the
    * context table holds (order-1)-gram counts and the gram table
    * order-gram counts, from the same single corpus scan (the fused
    * kernel emits exactly orders n−1 and n per document — emitting the
    * sub-context orders just to filter them was a third of the fit's
    * row churn at order 3). The
    * add-V smoothing constant is `ctxCap` — at order 2 this is exactly
    * the vocabulary-cap convention the bigram model always had.
    */
  def fitOrder(corpus: DataFrame, text: Column, order: Int,
               ctxCap: Int, gramCap: Int): LmModel = {
    require(order >= 2, s"order must be >= 2, got $order")
    require(ctxCap > 0 && gramCap > 0, s"caps must be positive: $ctxCap/$gramCap")
    val agg = gramCounts(corpus, text, order - 1, order)
    // per-n top-V with the bounded-heap operator: map-side partial heaps
    // keep ≤ k rows per (partition, n) below the exchange, so neither the
    // full gram table nor a per-n sort ever materializes. k is the larger
    // cap; the exact per-n trim happens over the ≤ 2k surviving rows.
    val k = math.max(ctxCap, gramCap)
    val top = GroupedTopK.perGroup(agg, Seq(col("n")),
      struct((-col("c")).as("nc"), col("g").as("gg")), k)
    if (ctxCap.toLong + gramCap.toLong <= KernelModelMaxRows) {
      val rows = top.collect()
      def takeTop(n: Int, cap: Int): Array[(String, Long)] = rows.iterator
        .filter(_.getInt(0) == n)
        .map(r => (r.getString(1), r.getLong(2)))
        .toArray
        .sortBy { case (g, c) => (-c, g) }
        .take(cap)
      BigramLm(takeTop(order - 1, ctxCap), takeTop(order, gramCap),
        ctxCap, gramCap, order)
    } else {
      // caps beyond the kernel-embed bound: the exact per-n trim replays
      // the same (count desc, gram asc) top-k over the ≤ 2k GroupedTopK
      // survivors (never the raw gram table), and the model persists
      // cluster-side.
      // The survivors are PERSISTED for the two trims — without this, each
      // distTable call re-runs the full corpus aggregation off the lazy
      // GroupedTopK lineage and the "ONE scan" fit silently becomes two
      // (r11 ADVICE). The bounded (≤ 2k rows) frame is released once both
      // trimmed tables have materialized.
      val survivors = top.persist()
      try
        DistributedLm(
          distTable(survivors, order - 1, ctxCap, "w"),
          distTable(survivors, order, gramCap, "b"),
          ctxCap, gramCap, order)
      finally survivors.unpersist()
    }
  }

  /** The (n, gram) → count table both fits aggregate over: the
    * multi-order kernel's per-document distinct-gram rows through one
    * hash aggregation. The per-document map inside the kernel IS the
    * pre-aggregation that matters (per-doc distinct grams cross into
    * the partial aggregate, never per-occurrence rows); a per-TASK
    * imperative pre-aggregate was prototyped and measured SLOWER at
    * 100× (+0.3 s — the Dataset round-trip and lost codegen outweigh
    * re-probing rows the kernel already deduped), so the declarative
    * form stands.
    */
  private[ml] def gramCounts(corpus: DataFrame, text: Column,
                             minN: Int, maxN: Int): DataFrame =
    corpus
      .select(explode(WordShingles.multiGramCounts(text, minN, maxN)).as("__g"))
      .groupBy(col("__g.n").as("n"), col("__g.gram").as("g"))
      .agg(sum(col("__g.cnt")).as("c"))

  /** One trimmed, persisted, eagerly materialized count table of the
    * distributed-model fit (see [[fitOrder]]'s large-caps branch).
    */
  private def distTable(top: DataFrame, n: Int, cap: Int,
                        gramCol: String): DataFrame = {
    val t = GroupedTopK.perGroup(top.where(col("n") === n), Seq(col("n")),
        struct((-col("c")).as("nc"), col("g").as("gg")), cap)
      .select(col("g").as(gramCol), col("c"))
      .persist()
    t.count() // materialize now: no lazy-lineage refits (r9 advisory)
    t
  }

  /** Persist a fitted model — the artifact-store discipline of the RF
    * classifier (q39) applied to the CCNet fit-once/gate-forever
    * deployment shape. ONE write job: both count tables in a single
    * parquet table tagged `n` = the TRUE gram order of each row (context
    * rows `order−1`, gram rows `order` — so a trigram model's bigram
    * contexts are stored as n=2), plus a job-free sidecar `meta.json`
    * recording caps and order (written through the path's Hadoop
    * FileSystem, so it lands wherever the parquet does). Kernel-sized
    * models coalesce to one file; distributed models keep their
    * partitioning (a single file would bottleneck both ends).
    */
  def save(spark: SparkSession, model: LmModel, path: String): Unit = {
    val union = model.uniDF(spark)
      .select(lit(model.order - 1).as("n"), col("w").as("gram"), col("c"))
      .unionByName(model.biDF(spark)
        .select(lit(model.order).as("n"), col("b").as("gram"), col("c")))
    val table = model match {
      case _: BigramLm => union.coalesce(1)
      case _: DistributedLm => union
    }
    table.write.mode("overwrite").parquet(s"$path/counts")
    val p = new org.apache.hadoop.fs.Path(s"$path/meta.json")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(p, true)
    try out.write(
      (s"""{"fmt": 2, "ctxCap": ${model.ctxCap}, """ +
        s""""gramCap": ${model.gramCap}, "order": ${model.order}}""")
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
  }

  /** Load a model written by [[save]] (one read job + the sidecar).
    * Kernel-sized caps re-collect to arrays, re-sorted into the canonical
    * (count desc, gram asc) order, so the loaded model is bit-identical
    * to the fitted one regardless of parquet row order; larger caps load
    * as a [[DistributedLm]] over the parquet itself (disk-backed — the
    * write already materialized it; no driver arrays, no re-trim).
    */
  def load(spark: SparkSession, path: String): LmModel = {
    val p = new org.apache.hadoop.fs.Path(s"$path/meta.json")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val metaTxt = new String(
      org.apache.commons.io.IOUtils.toByteArray(fs.open(p)),
      java.nio.charset.StandardCharsets.UTF_8)
    def metaOpt(k: String): Option[Int] =
      s""""$k"\\s*:\\s*(\\d+)""".r.findFirstMatchIn(metaTxt).map(_.group(1).toInt)
    def meta(k: String): Int = metaOpt(k)
      .getOrElse(throw new IllegalArgumentException(
        s"malformed LM meta at $p: $metaTxt"))
    // format v2 writes ctxCap/gramCap and tags rows n = order−1 / order;
    // the v1 (pre-r11) artifacts wrote uniCap/biCap and FIXED tags 1/2
    // regardless of order — accept both so old saved models keep loading
    // (r11 ADVICE: no silent misread, no "malformed meta" on a valid v1
    // artifact). Anything else is a genuinely foreign file.
    val v2 = metaOpt("fmt").contains(2) || metaOpt("ctxCap").isDefined
    val (ctxCap, gramCap, order) =
      if (v2) (meta("ctxCap"), meta("gramCap"), meta("order"))
      else (meta("uniCap"), meta("biCap"), metaOpt("order").getOrElse(2))
    val (ctxTag, gramTag) = if (v2) (order - 1, order) else (1, 2)
    val table = spark.read.parquet(s"$path/counts")
    if (ctxCap.toLong + gramCap.toLong <= KernelModelMaxRows) {
      val rows = table.collect()
      def counts(n: Int): Array[(String, Long)] = rows.iterator
        .filter(_.getInt(0) == n)
        .map(r => (r.getString(1), r.getLong(2)))
        .toArray
        .sortBy { case (g, c) => (-c, g) }
      BigramLm(counts(ctxTag), counts(gramTag), ctxCap, gramCap, order)
    } else
      DistributedLm(
        table.where(col("n") === ctxTag).select(col("gram").as("w"), col("c")),
        table.where(col("n") === gramTag).select(col("gram").as("b"), col("c")),
        ctxCap, gramCap, order)
  }

  /** Write the DRIFT BASELINE sidecar for a persisted LM — the q6s/q6z/
    * q72 contract on the perplexity axis: the count tables are frozen at
    * fit time, and this records the fit corpus's (scored doc count,
    * scored gram count, Σ lm_score micro-nats) as `_drift.json` beside
    * the model artifact. A later batch whose mean per-gram score pulls
    * DOWN from the baseline (equivalently: mean ppl rising) is drifting
    * away from the distribution the gate's threshold was calibrated on.
    * One corpus scan + a bounded agg, paid once at save time.
    */
  def writeDriftSidecar(spark: SparkSession, path: String,
                        corpus: DataFrame, id: Column,
                        text: Column): Unit = {
    val model = load(spark, path)
    val st = scoreDocs(corpus, id, text, model)
      .agg(count(lit(1)).as("n"), sum(col("n_bigrams")).as("g"),
        sum(col("lm_score")).as("s"))
      .collect().head
    val (n, g, s) =
      if (st.getLong(0) == 0L) (0L, 0L, 0L)
      else (st.getLong(0), st.getLong(1), st.getLong(2))
    graft.sources.JsonSidecar.write(spark, s"$path/_drift.json",
      s"""{"fmt": 1, "statN": $n, "statGrams": $g, "statSumMicro": $s}""")
  }

  /** REFIT-AND-SWAP for a SERVED LM — the drift contract's ACTION on
    * the perplexity axis ([[driftStats]] says WHEN; this is HOW), the
    * [[graft.ml.TextClassifier.refitAndSwap]] lifecycle step: the
    * freshly fitted model ([[fit]]/[[fitOrder]], the caller's choice of
    * reference slice and caps) stages COMPLETELY beside the live path —
    * count tables, meta, and a NEW `_drift.json` baseline over
    * `fitCorpus` (the refit reference corpus), so the swapped-in gate's
    * drift clock restarts at its own fit distribution — then two atomic
    * directory renames swap it under the serving path
    * ([[graft.sources.ArtifactSwap]]: readers in any crash window load
    * old, new, or fail loudly; the baseline is the completeness
    * witness). Also the ATOMIC first-time publish.
    */
  def refitAndSwap(spark: SparkSession, model: LmModel,
                   fitCorpus: DataFrame, id: Column, text: Column,
                   path: String): Unit =
    graft.sources.ArtifactSwap.refresh(spark, path,
        witness = "_drift.json") { tmp =>
      save(spark, model, tmp)
      writeDriftSidecar(spark, tmp, fitCorpus, id, text)
    }

  /** DRIFT stats for a persisted LM — (src, n_docs, n_grams,
    * sum_score_micro) with `build` read from the `_drift.json` sidecar
    * ([[writeDriftSidecar]]) and `batch` scored live (the fused kernel
    * for kernel-sized models). All-integer — lm_score is the exact
    * micro-nat sum — so the oracle recomputes BOTH rows from raw tables
    * and a corrupted stored stat breaks the hash. Docs with < 2 tokens
    * score no grams and are excluded on both sides (the scoreDocs
    * contract). Batch cost: one scan + a bounded agg.
    */
  def driftStats(spark: SparkSession, path: String, batch: DataFrame,
                 id: Column, text: Column): DataFrame = {
    import spark.implicits._
    val metaTxt = graft.sources.JsonSidecar
      .readOpt(spark, s"$path/_drift.json")
      .getOrElse(throw new IllegalArgumentException(
        s"LM at $path predates drift stats: no _drift.json — write the " +
          "baseline with writeDriftSidecar at save time"))
    def metaLong(k: String): Long =
      graft.sources.JsonSidecar.longField(metaTxt, k)
        .getOrElse(throw new IllegalArgumentException(
          s"malformed drift sidecar at $path/_drift.json: $metaTxt"))
    val model = load(spark, path)
    val st = scoreDocs(batch, id, text, model)
      .agg(count(lit(1)).as("n"), sum(col("n_bigrams")).as("g"),
        sum(col("lm_score")).as("s"))
      .collect().head
    val (bn, bg, bs) =
      if (st.getLong(0) == 0L) (0L, 0L, 0L)
      else (st.getLong(0), st.getLong(1), st.getLong(2))
    Seq(("batch", bn, bg, bs),
      ("build", metaLong("statN"), metaLong("statGrams"),
        metaLong("statSumMicro")))
      .toDF("src", "n_docs", "n_grams", "sum_score_micro")
  }

  /** Score `docs(id, text)` against a fitted model. Output (the id column
    * is emitted as `doc_id` regardless of its input name), one row per
    * document with at least one bigram (≥ 2 tokens):
    *   - `n_bigrams`   — scored gram count
    *   - `oov_bigrams` — grams absent from the bigram table
    *   - `lm_score`    — Σ round(1e6 · ln p(w2|w1)), an exact LONG
    *   - `ppl`         — exp(−lm_score / (1e6 · n_bigrams)), the usual
    *                     perplexity readout (rounded to 6 dp)
    *
    * Picks the fused kernel when the caps bound the model small enough to
    * embed; the join path otherwise. Both produce identical rows.
    */
  def scoreDocs(docs: DataFrame, id: Column, text: Column,
                model: LmModel): DataFrame = model match {
    case m: BigramLm
        if m.uniCap.toLong + m.biCap.toLong <= KernelModelMaxRows =>
      scoreDocsKernel(docs, id, text, m)
    case m => scoreDocsJoined(docs, id, text, m)
  }

  /** Fused-kernel scoring: one zero-shuffle projection per document. The
    * materialized model rides the expression to every task.
    */
  def scoreDocsKernel(docs: DataFrame, id: Column, text: Column,
                      model: BigramLm): DataFrame =
    withPpl(docs
      .select(id.as("doc_id"),
        BigramLmScore(text, model.uniArr, model.biArr,
          model.uniCap.toLong, model.order).as("__s"))
      .select(col("doc_id"),
        col("__s.n_bigrams").as("n_bigrams"),
        col("__s.oov_bigrams").as("oov_bigrams"),
        col("__s.lm_score").as("lm_score"))
      .filter(col("n_bigrams") > 0))

  /** Broadcast-join scoring — the formulation for models beyond the
    * kernel-embed bound: lazy `zip_with` bigram generate, two broadcast
    * model joins, one per-document partial aggregation.
    */
  def scoreDocsJoined(docs: DataFrame, id: Column, text: Column,
                      model: LmModel): DataFrame = {
    val spark = docs.sparkSession
    val toks = docs.select(id.as("__id"), TextFunctions.tokens(text).as("__t"))
    val grams = toks
      .select(col("__id"),
        explode(gramArray(col("__t"), model.order)).as("b"))
      .withColumn("w1",
        if (model.order == 2) split(col("b"), " ").getItem(0)
        else array_join(
          slice(split(col("b"), " "), 1, model.order - 1), " "))
    // join-strategy routing: a kernel-overflow BigramLm is still a bounded
    // driver-array model — broadcast is right. A DistributedLm exists
    // precisely because the model must NOT land on the driver, and
    // BroadcastExchange builds its hashed relation driver-side — so the
    // distributed model routes through a shuffled hash join instead (the
    // model side is the build side; the 8 GB broadcast limit and driver
    // heap never see it). r11 ADVICE: the previous unconditional
    // broadcast() quietly violated the "never lands on the driver" claim.
    def routed(df: DataFrame): DataFrame = model match {
      case _: BigramLm => broadcast(df)
      case _: DistributedLm => df.hint("shuffle_hash")
    }
    val uni = routed(model.uniDF(spark).withColumnRenamed("c", "__c1"))
    val bi = routed(model.biDF(spark).withColumnRenamed("c", "__c2"))
    val joined = grams
      .join(uni, grams("w1") === uni("w"), "left")
      .join(bi, grams("b") === bi("b"), "left")
    val c1 = coalesce(col("__c1"), lit(0L))
    val c2 = coalesce(col("__c2"), lit(0L))
    // micro-nat log-probability, rounded per term BEFORE the sum: the
    // argument of ln is an IEEE division of exact integers, identical in
    // every engine, so the rounded term — and therefore the integer sum —
    // replays exactly.
    val term = round(lit(1e6) *
      log((c2 + lit(1L)).cast("double") /
          (c1 + lit(model.ctxCap.toLong)).cast("double"))).cast("long")
    withPpl(joined
      .groupBy(col("__id").as("doc_id"))
      .agg(
        count(lit(1)).as("n_bigrams"),
        sum(when(col("__c2").isNull, 1L).otherwise(0L)).as("oov_bigrams"),
        sum(term).as("lm_score")))
  }

  /** Order-gram strings (`"w1 w2"`, `"w1 w2 w3"`, …) of a token array,
    * as a lazy collection projection — no explode, no shuffle, reusable
    * under any downstream generate. Order 2 keeps the zip_with form;
    * higher orders window via transform-over-sequence (interpreted
    * lambdas — acceptable on the oversized-model fallback path only).
    */
  private def gramArray(toks: Column, order: Int): Column =
    if (order == 2)
      zip_with(
        slice(toks, lit(1), greatest(size(toks) - 1, lit(0))),
        slice(toks, lit(2), greatest(size(toks) - 1, lit(0))),
        (a, b) => concat_ws(" ", a, b))
    else
      when(size(toks) >= order,
        transform(sequence(lit(1), size(toks) - (order - 1)),
          i => concat_ws(" ", slice(toks, i, lit(order)))))
        .otherwise(array().cast("array<string>"))

  /** The shared perplexity readout — ONE arithmetic shape for both scoring
    * paths and the SQL oracle.
    */
  private def withPpl(scored: DataFrame): DataFrame =
    scored.withColumn("ppl",
      round(exp(-col("lm_score").cast("double") /
        (lit(1e6) * col("n_bigrams").cast("double"))), 6))

  /** Perplexity gate — the CCNet filter itself: keep documents whose
    * perplexity against `model` (typically fitted on a clean reference
    * corpus) is at most `maxPpl`. Documents with fewer than two tokens
    * have no defined perplexity and are dropped.
    *
    * With an embeddable model this is a ZERO-shuffle scan filter: the
    * fused kernel evaluates inline in the gate predicate, so the whole
    * filter runs at scan speed with no joins and no aggregation — the
    * shape a 100 TB quality pass needs. Oversized models gate through
    * [[scoreDocsJoined]] + a bare-id semi-join. The threshold compares
    * the same 6-dp-rounded `ppl` that [[scoreDocs]] emits, so the kept
    * set is exactly `scoreDocs(...).filter(ppl <= maxPpl)` on every path
    * and in the SQL oracle.
    */
  def pplGate(docs: DataFrame, id: Column, text: Column, model: LmModel,
              maxPpl: Double): DataFrame = model match {
    case m: BigramLm
        if m.uniCap.toLong + m.biCap.toLong <= KernelModelMaxRows =>
      // the fused boolean kernel, NOT per-field getField over the score
      // struct: a filter condition re-evaluates a struct expression per
      // field reference (no CSE across FilterExec conjuncts — measured 3
      // kernel instances in the optimized plan), this evaluates once
      docs.filter(graft.expressions.BigramLmGate(
        text, m.uniArr, m.biArr, m.uniCap.toLong, maxPpl, m.order))
    case m =>
      val keep = scoreDocsJoined(docs, id, text, m)
        .filter(col("ppl") <= maxPpl)
        .select(col("doc_id").as("__keep_id"))
      docs.join(keep, id === col("__keep_id"), "left_semi")
  }

  // --------------------------------------------------------------------
  // Stupid-backoff scoring over all orders (Brants et al. 2007) — the
  // production CCNet/KenLM-shaped variant of the perplexity filter.
  // --------------------------------------------------------------------

  /** A backoff model: one capped count table PER ORDER 1..order from the
    * same single fit scan, materialized as bounded driver arrays
    * (`tables(i)` = order-(i+1) counts, each in the canonical count desc /
    * gram asc order), plus the backoff discount α. `uniTotal` — the sum
    * of the capped unigram counts — is the unigram denominator, computed
    * once from the same table both engines select.
    */
  final case class BackoffLm(tables: Array[Array[(String, Long)]],
                             caps: Array[Int], alpha: Double) {
    def order: Int = tables.length
    lazy val uniTotal: Long = tables(0).iterator.map(_._2).sum
  }

  /** Fit a [[BackoffLm]]: ONE corpus scan (the same fused multi-order
    * kernel as [[fitOrder]], keeping ALL orders 1..order this time), one
    * (n, gram) hash aggregation, per-n top-cap via the bounded-heap
    * [[GroupedTopK]]. `caps(i)` caps the order-(i+1) table. The collected
    * model is bounded by Σ caps; the backoff kernel embeds it whole, so
    * Σ caps must stay ≤ [[KernelModelMaxRows]] — a hard ceiling (the
    * add-V model's [[DistributedLm]] escape hatch does not exist here;
    * [[scoreDocsBackoffJoined]] is the formulation to generalize if a
    * larger backoff model is ever needed).
    */
  def fitBackoff(corpus: DataFrame, text: Column, order: Int,
                 caps: Seq[Int], alpha: Double = 0.4): BackoffLm = {
    require(order >= 2, s"order must be >= 2, got $order")
    require(caps.length == order, s"need one cap per order 1..$order")
    require(caps.forall(_ > 0), s"caps must be positive: $caps")
    require(caps.map(_.toLong).sum <= KernelModelMaxRows,
      s"backoff model caps ${caps.sum} exceed the embed ceiling " +
        s"$KernelModelMaxRows")
    require(alpha > 0 && alpha < 1, s"alpha must be in (0,1), got $alpha")
    val agg = gramCounts(corpus, text, 1, order)
    val k = caps.max
    val top = GroupedTopK.perGroup(agg, Seq(col("n")),
      struct((-col("c")).as("nc"), col("g").as("gg")), k).collect()
    val tables = Array.tabulate(order) { i =>
      top.iterator
        .filter(_.getInt(0) == i + 1)
        .map(r => (r.getString(1), r.getLong(2)))
        .toArray
        .sortBy { case (g, c) => (-c, g) }
        .take(caps(i))
    }
    BackoffLm(tables, caps.toArray, alpha)
  }

  /** Stupid-backoff scoring of `docs(id, text)`: one row per document with
    * at least `order` tokens —
    *   - `n_grams`  — scored window count (len − order + 1)
    *   - `backoffs` — windows that fell below the full order
    *   - `lm_score` — Σ round(1e6 · ln S), an exact LONG
    *   - `ppl`      — the usual 6-dp readout
    * where, for the window's longest in-model level j (gram AND its
    * within-window context both present; the capped tables make either
    * able to miss independently):
    *   S = α^(order−j) · c_j(gram) / c_{j−1}(ctx)   (j ≥ 2)
    *   S = α^(order−1) · c_1(w) / T                 (j = 1)
    *   S = α^(order−1) · 1 / T                      (w itself OOV)
    * with T = Σ capped unigram counts. Non-normalized, as Brants defines
    * it — the filter only needs a monotone quality score. α powers are
    * precomputed doubles embedded as exact literals in the SQL oracle, so
    * every per-term double chain (α·c then /d, ln, round to micro-nats)
    * replays bit-for-bit cross-engine (the q5t oracle).
    *
    * Kernel path (zero-shuffle fused projection) whenever the model fits
    * the embed bound — which [[fitBackoff]] guarantees; the generic
    * broadcast-join formulation ([[scoreDocsBackoffJoined]]) is spec-
    * pinned row-equal.
    */
  def scoreDocsBackoff(docs: DataFrame, id: Column, text: Column,
                       model: BackoffLm): DataFrame =
    withPplOn(docs
      .select(id.as("doc_id"),
        BackoffLmScore(text, model.tables, model.alpha).as("__s"))
      .select(col("doc_id"),
        col("__s.n_grams").as("n_grams"),
        col("__s.backoffs").as("backoffs"),
        col("__s.lm_score").as("lm_score"))
      .filter(col("n_grams") > 0), "n_grams")

  /** The broadcast-join formulation of [[scoreDocsBackoff]] — one explode
    * of order-gram windows, then per backoff level j one join on the
    * window's last-j-words gram and one on that gram's (j−1)-word
    * context (2·order−1 broadcast joins total), then the CASE readout.
    * Row-equal to the kernel (spec-pinned); exists as the generalization
    * seam for models beyond the kernel-embed ceiling.
    */
  def scoreDocsBackoffJoined(docs: DataFrame, id: Column, text: Column,
                             model: BackoffLm): DataFrame = {
    val spark = docs.sparkSession
    val n = model.order
    val toks = docs.select(id.as("__id"), TextFunctions.tokens(text).as("__t"))
    val wins = toks
      .select(col("__id"), explode(gramArray(col("__t"), n)).as("g"))
      .withColumn("__p", split(col("g"), " "))
    // per level j: gram_j = last j words of the window, ctx_j = gram_j
    // minus its final word (slice indices: last j starts at n-j+1)
    def lastWords(j: Int): Column = array_join(slice(col("__p"), n - j + 1, j), " ")
    def ctxWords(j: Int): Column =
      array_join(slice(col("__p"), n - j + 1, j - 1), " ")
    var cur = wins
    for (j <- n to 2 by -1) {
      val gt = broadcast(spark.createDataFrame(model.tables(j - 1).toIndexedSeq)
        .toDF("__gk" + j, "__gc" + j))
      val ct = broadcast(spark.createDataFrame(model.tables(j - 2).toIndexedSeq)
        .toDF("__ck" + j, "__cc" + j))
      cur = cur
        .join(gt, lastWords(j) === col("__gk" + j), "left")
        .join(ct, ctxWords(j) === col("__ck" + j), "left")
    }
    val uniT = broadcast(
      spark.createDataFrame(model.tables(0).toIndexedSeq).toDF("__uk", "__uc"))
    cur = cur.join(uniT, element_at(col("__p"), n) === col("__uk"), "left")
    val tTot = lit(model.uniTotal)
    // the per-level α power as the SAME precomputed double the kernel and
    // the SQL oracle use (repeated multiplication, not Math.pow)
    val ap = BackoffLmScore.alphaPowers(model.alpha, n)
    def lnTerm(s: Column): Column = round(lit(1e6) * log(s)).cast("long")
    val levels: Seq[(Column, Column)] =
      (n to 2 by -1).map { j =>
        (col("__gc" + j).isNotNull && col("__cc" + j).isNotNull,
          lnTerm(lit(ap(n - j)) * col("__gc" + j) / col("__cc" + j)))
      } :+ (
        (col("__uc").isNotNull, lnTerm(lit(ap(n - 1)) * col("__uc") / tTot)))
    val fallback = lnTerm(lit(ap(n - 1)) / tTot)
    val term = levels.foldRight(fallback) { case ((cond, v), e) =>
      when(cond, v).otherwise(e)
    }
    val isBackoff =
      when(col("__gc" + n).isNotNull && col("__cc" + n).isNotNull, 0L)
        .otherwise(1L)
    withPplOn(cur
      .groupBy(col("__id").as("doc_id"))
      .agg(
        count(lit(1)).as("n_grams"),
        sum(isBackoff).as("backoffs"),
        sum(term).as("lm_score")), "n_grams")
  }

  // --------------------------------------------------------------------
  // Interpolated Kneser-Ney smoothing (Kneser & Ney 1995) — the KenLM
  // smoother, over the SAME capped count tables the add-V model fits.
  // --------------------------------------------------------------------

  /** A Kneser-Ney view over a fitted [[BigramLm]]: the same capped
    * unigram/bigram count tables plus the absolute discount D. ALL KN
    * statistics (N1+(v·), N1+(·w), N1+(··)) derive deterministically from
    * the capped bigram table inside the scoring kernel, so the model
    * artifact is unchanged — one fit serves both smoothers, and a model
    * [[save]]d for add-V scoring loads straight into KN scoring.
    * Kernel-embeddable by the [[BigramLm]] bound; the broadcast-join
    * formulation ([[scoreDocsKnJoined]]) is the beyond-bound seam.
    */
  final case class KnLm(base: BigramLm, discount: Double = 0.75) {
    require(base.order == 2,
      s"KN smoothing is defined over the bigram model, got order ${base.order}")
    require(discount > 0 && discount < 1,
      s"discount must be in (0,1), got $discount")
  }

  /** Interpolated-KN scoring of `docs(id, text)` — [[scoreDocs]]'s output
    * shape (n_bigrams / oov_bigrams / lm_score / ppl, one row per document
    * with ≥ 2 tokens) with the KN readout: per bigram (v, w),
    *   P = (c2−D)/c1 + (D·(N1+(v·)+1)/c1) · Pc(w)   (bigram in model)
    *   P =            (D·(N1+(v·)+1)/c1) · Pc(w)    (v in model, bigram absent)
    *   P = Pc(w)                                     (v out of model)
    * with Pc(w) = (N1+(·w)+1)/(M+V) — add-one-smoothed continuation
    * probability (M = capped bigram rows, V = uniCap), which keeps every
    * branch strictly positive where textbook KN would hit ln(0) on
    * never-continued words. Zero-shuffle fused projection; each per-gram
    * term rounds to micro-nat longs before the sum (the q5v oracle).
    */
  def scoreDocsKn(docs: DataFrame, id: Column, text: Column,
                  model: KnLm): DataFrame =
    withPpl(docs
      .select(id.as("doc_id"),
        graft.expressions.KnLmScore(text, model.base.uniArr, model.base.biArr,
          model.base.uniCap.toLong, model.discount).as("__s"))
      .select(col("doc_id"),
        col("__s.n_bigrams").as("n_bigrams"),
        col("__s.oov_bigrams").as("oov_bigrams"),
        col("__s.lm_score").as("lm_score"))
      .filter(col("n_bigrams") > 0))

  /** The broadcast-join formulation of [[scoreDocsKn]] — bigram generate,
    * four broadcast model joins (counts, N1+(v·), N1+(·w)), the CASE
    * readout. Row-equal to the kernel (spec-pinned); the generalization
    * seam for models beyond the kernel-embed bound, where the continuation
    * tables would be derived with two more aggregations instead of on the
    * driver.
    */
  def scoreDocsKnJoined(docs: DataFrame, id: Column, text: Column,
                        model: KnLm): DataFrame = {
    val spark = docs.sparkSession
    val base = model.base
    // continuation tables from the capped bigram array — bounded driver
    // derivation of the same stats the kernel builds per task
    def splitCounts(part: String => String): Seq[(String, Long)] =
      base.biArr.toIndexedSeq.groupBy { case (g, _) => part(g) }
        .view.mapValues(_.size.toLong).toSeq
    val nf = broadcast(spark.createDataFrame(
      splitCounts(g => g.substring(0, g.indexOf(' ')))).toDF("__nfv", "__nfk"))
    val nb = broadcast(spark.createDataFrame(
      splitCounts(g => g.substring(g.indexOf(' ') + 1))).toDF("__nbw", "__nbk"))
    val toks = docs.select(id.as("__id"), TextFunctions.tokens(text).as("__t"))
    val grams = toks
      .select(col("__id"), explode(gramArray(col("__t"), 2)).as("b"))
      .withColumn("w1", split(col("b"), " ").getItem(0))
      .withColumn("w2", split(col("b"), " ").getItem(1))
    val uni = broadcast(base.uniDF(spark).withColumnRenamed("c", "__c1"))
    val bi = broadcast(base.biDF(spark)
      .withColumnRenamed("b", "__b").withColumnRenamed("c", "__c2"))
    val joined = grams
      .join(uni, grams("w1") === uni("w"), "left")
      .join(bi, grams("b") === col("__b"), "left")
      .join(nf, grams("w1") === col("__nfv"), "left")
      .join(nb, grams("w2") === col("__nbw"), "left")
    val d = lit(model.discount)
    // EXACT op order shared with the kernel and the SQL oracle
    val pc = (coalesce(col("__nbk"), lit(0L)) + lit(1.0)) /
      lit((base.biArr.length + base.uniCap).toLong)
    val t1 = when(col("__c2").isNotNull,
      (col("__c2") - d) / col("__c1")).otherwise(lit(0.0))
    val p = when(col("__c1").isNotNull,
        t1 + d * (coalesce(col("__nfk"), lit(0L)) + lit(1.0)) / col("__c1") * pc)
      .otherwise(pc)
    val term = round(lit(1e6) * log(p)).cast("long")
    withPpl(joined
      .groupBy(col("__id").as("doc_id"))
      .agg(
        count(lit(1)).as("n_bigrams"),
        sum(when(col("__c2").isNull, 1L).otherwise(0L)).as("oov_bigrams"),
        sum(term).as("lm_score")))
  }

  /** An order-3 interpolated-KN view over a fitted [[BackoffLm]] — the
    * full KenLM recursion reuses the backoff model's per-order capped
    * count tables verbatim (ONE multi-order fit scan serves both
    * smoothers), plus the absolute discount D. All continuation
    * statistics derive from the capped tables inside the kernel.
    */
  final case class Kn3Lm(base: BackoffLm, discount: Double = 0.75) {
    require(base.order == 3,
      s"order-3 KN needs a 3-table backoff fit, got order ${base.order}")
    require(discount > 0 && discount < 1,
      s"discount must be in (0,1), got $discount")
  }

  /** Order-3 interpolated-KN scoring — [[scoreDocsKn]]'s recursion one
    * level deeper (see [[graft.expressions.Kn3LmScore]]): per trigram
    * window, discounted trigram mass interpolated with the bigram-KN
    * distribution of the last two words, every branch strictly positive.
    * Output matches q5s's shape (n_trigrams / oov_trigrams / lm_score /
    * ppl, one row per document with ≥ 3 tokens). Zero-shuffle fused
    * projection; the model rides the expression (bounded by
    * [[fitBackoff]]'s Σcaps ceiling). [[scoreDocsKn3Joined]] is the
    * broadcast-join twin and the beyond-ceiling seam.
    */
  def scoreDocsKn3(docs: DataFrame, id: Column, text: Column,
                   model: Kn3Lm): DataFrame =
    withPplOn(docs
      .select(id.as("doc_id"),
        graft.expressions.Kn3LmScore(text, model.base.tables,
          model.base.caps(0).toLong, model.discount).as("__s"))
      .select(col("doc_id"),
        col("__s.n_trigrams").as("n_trigrams"),
        col("__s.oov_trigrams").as("oov_trigrams"),
        col("__s.lm_score").as("lm_score"))
      .filter(col("n_trigrams") > 0), "n_trigrams")

  /** The broadcast-join formulation of [[scoreDocsKn3]]: trigram-window
    * generate, then the staged readout the q5w oracle mirrors — stage 1
    * computes P2 (four broadcast joins: unigram, bigram, N1+(w2·),
    * N1+(·w3)), stage 2 interpolates P3 over it (three more: bigram
    * context, trigram, N1+(w1w2·)). Row-equal to the kernel
    * (spec-pinned).
    */
  def scoreDocsKn3Joined(docs: DataFrame, id: Column, text: Column,
                         model: Kn3Lm): DataFrame = {
    val spark = docs.sparkSession
    val base = model.base
    def counted(pairs: Seq[(String, Long)], kCol: String, cCol: String) =
      broadcast(spark.createDataFrame(pairs.toIndexedSeq).toDF(kCol, cCol))
    def table(i: Int, kCol: String, cCol: String) =
      counted(base.tables(i).toIndexedSeq, kCol, cCol)
    def splitCounts(src: Array[(String, Long)], part: String => String) =
      src.toIndexedSeq.groupBy { case (g, _) => part(g) }
        .view.mapValues(_.size.toLong).toSeq
    val nf2 = counted(splitCounts(base.tables(1),
      g => g.substring(0, g.indexOf(' '))), "__nf2w", "__nf2k")
    val nb2 = counted(splitCounts(base.tables(1),
      g => g.substring(g.indexOf(' ') + 1)), "__nb2w", "__nb2k")
    val nf3 = counted(splitCounts(base.tables(2),
      g => g.substring(0, g.lastIndexOf(' '))), "__nf3g", "__nf3k")
    val toks = docs.select(id.as("__id"), TextFunctions.tokens(text).as("__t"))
    val wins = toks
      .select(col("__id"), explode(gramArray(col("__t"), 3)).as("g"))
      .withColumn("__p", split(col("g"), " "))
      .withColumn("b12", array_join(slice(col("__p"), 1, 2), " "))
      .withColumn("b23", array_join(slice(col("__p"), 2, 2), " "))
      .withColumn("w2", element_at(col("__p"), 2))
      .withColumn("w3", element_at(col("__p"), 3))
    val d = lit(model.discount)
    val denom2 = lit((base.tables(1).length + base.caps(0)).toLong)
    // stage 1: P2 — the q5v readout of (w2, w3), exact op order
    val s1 = wins
      .join(table(0, "__uw", "__c1"), col("w2") === col("__uw"), "left")
      .join(table(1, "__bg23", "__c23"), col("b23") === col("__bg23"), "left")
      .join(nf2, col("w2") === col("__nf2w"), "left")
      .join(nb2, col("w3") === col("__nb2w"), "left")
    val pc = (coalesce(col("__nb2k"), lit(0L)) + lit(1.0)) / denom2
    val t1 = when(col("__c23").isNotNull,
      (col("__c23") - d) / col("__c1")).otherwise(lit(0.0))
    val p2col = when(col("__c1").isNotNull,
        t1 + d * (coalesce(col("__nf2k"), lit(0L)) + lit(1.0)) / col("__c1") * pc)
      .otherwise(pc)
    val staged = s1.withColumn("__p2", p2col)
    // stage 2: P3 interpolates the carried P2
    val s2 = staged
      .join(table(1, "__bg12", "__c12"), col("b12") === col("__bg12"), "left")
      .join(table(2, "__tg", "__c123"), col("g") === col("__tg"), "left")
      .join(nf3, col("b12") === col("__nf3g"), "left")
    val m1 = when(col("__c123").isNotNull,
      (col("__c123") - d) / col("__c12")).otherwise(lit(0.0))
    val p = when(col("__c12").isNotNull,
        m1 + d * (coalesce(col("__nf3k"), lit(0L)) + lit(1.0)) / col("__c12") *
          col("__p2"))
      .otherwise(col("__p2"))
    val term = round(lit(1e6) * log(p)).cast("long")
    withPplOn(s2
      .groupBy(col("__id").as("doc_id"))
      .agg(
        count(lit(1)).as("n_trigrams"),
        sum(when(col("__c123").isNull, 1L).otherwise(0L)).as("oov_trigrams"),
        sum(term).as("lm_score")), "n_trigrams")
  }

  /** The CCNet perplexity gate over a [[BackoffLm]] — [[pplGate]]'s
    * zero-shuffle scan-filter shape with the backoff scorer: the fused
    * [[graft.expressions.BackoffLmGate]] boolean kernel evaluates the
    * whole readout once per row (never per struct-field reference), and
    * the kept set equals `scoreDocsBackoff(...).filter(ppl <= maxPpl)`
    * bit-for-bit (documents with fewer than `order` tokens drop). The
    * model is kernel-embeddable by [[fitBackoff]]'s cap ceiling, so this
    * path always exists.
    */
  def pplGateBackoff(docs: DataFrame, text: Column, model: BackoffLm,
                     maxPpl: Double): DataFrame =
    docs.filter(graft.expressions.BackoffLmGate(
      text, model.tables, model.alpha, maxPpl))

  /** [[withPpl]] generalized to the scored-gram column name. */
  private def withPplOn(scored: DataFrame, nCol: String): DataFrame =
    scored.withColumn("ppl",
      round(exp(-col("lm_score").cast("double") /
        (lit(1e6) * col(nCol).cast("double"))), 6))
}
