package graft.operators

import graft.functions.TextFunctions
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Corpus curation operators: the pretraining-data funnel's audit
  * (quality gate → language gate → token bounds → exact dedup), repetition
  * signals, salient terms, chunking, greedy sequence packing into fixed
  * token budgets, snapshot diffs, domain blocklists and rank buckets.
  * Every operator is a DataFrame transform.
  */
object Curate {

  case class Config(
      minQuality: Double = 0.5,
      lang: String = "en",
      minTokens: Int = 10, maxTokens: Int = 100000)

  /** Per-stage survivor counts — the curation audit table.
    *
    * ONE lazy aggregation pass: each gate is a conditional sum (gates are
    * cumulative, so stage k's predicate is the conjunction of gates 1..k)
    * and the exact-dedup stage is `countDistinct` of the text FINGERPRINT
    * among stage-3 survivors — no cache, no per-stage driver actions, and at 100 TB the
    * corpus is read once (the multi-aggregate plans as a single hash
    * aggregate with an Expand for the distinct, not five scans).
    */
  def funnelAudit(df: DataFrame, id: String, text: String,
                  cfg: Config = Config()): DataFrame = {
    val scored = df
      .withColumn("quality", TextFunctions.qualityScore(col(text)))
      .withColumn("lang", TextFunctions.langId(col(text)))
      .withColumn("n_tokens", TextFunctions.tokenCount(col(text)))
    val qok = col("quality") >= cfg.minQuality
    val lok = qok && col("lang") === cfg.lang
    val tok = lok && col("n_tokens").between(cfg.minTokens, cfg.maxTokens)
    def stage(name: String, c: Column) =
      struct(lit(name).as("stage"), c.as("n_docs"))
    scored
      .agg(
        count(lit(1)).as("c0"),
        // coalesce: sum over ZERO rows is SQL NULL; the audit must read 0
        coalesce(sum(when(qok, 1L).otherwise(0L)), lit(0L)).as("c1"),
        coalesce(sum(when(lok, 1L).otherwise(0L)), lit(0L)).as("c2"),
        coalesce(sum(when(tok, 1L).otherwise(0L)), lit(0L)).as("c3"),
        // distinct on the 64-bit FINGERPRINT, not the raw text: matches
        // the exact-dedup key (Dedup.dropExactDupes) and shuffles 8 bytes
        // per doc instead of full document bodies
        countDistinct(when(tok, TextFunctions.fingerprint64(col(text)))).as("c4"))
      .select(explode(array(
        stage("0_total", col("c0")), stage("1_quality", col("c1")),
        stage("2_lang", col("c2")), stage("3_tokens", col("c3")),
        stage("4_exact_dedup", col("c4")))).as("kv"))
      .select(col("kv.stage").as("stage"), col("kv.n_docs").as("n_docs"))
  }

  /** Gopher-style repetition signals per document: total n-gram occurrences,
    * the fraction of occurrences taken by the single most frequent n-gram
    * (`top_ngram_frac` — high = looped/boilerplate text), and the distinct
    * fraction (`distinct_frac` — low = repetitive).
    *
    * All three signals aggregate strictly WITHIN one document, so the whole
    * computation is a single fused scalar kernel
    * ([[graft.expressions.RepetitionStats]]): one pass per text with a
    * local gram→count map, a pure projection with ZERO shuffle. The
    * earlier explode + two-level hash aggregation (even with grams hashed
    * to 64 bits first) shuffled every gram of the corpus twice for
    * per-document answers.
    */
  def repetitionStats(df: DataFrame, id: String, text: String,
                      n: Int = 3): DataFrame =
    // no Par.spread: as with chunkDocs, a pure projection inherits the
    // scan's parallelism — an exchange would be the plan's ONLY shuffle
    df.select(col(id), col(text))
      .select(col(id),
        graft.expressions.WordShingles.repetitionStats(col(text), n).as("__r"))
      .select(col(id), col("__r.n_grams").as("n_grams"),
        col("__r.top_ngram_frac").as("top_ngram_frac"),
        col("__r.distinct_frac").as("distinct_frac"))

  /** Top-k salient terms per document: rank a document's terms by in-doc
    * frequency (tf), break ties rarest-in-corpus first (ascending document
    * frequency df), then lexically. This is TF-IDF's ranking with a
    * FLOAT-FREE key — within equal tf, ascending df IS descending idf for
    * any monotone idf, and integer keys make the result bit-stable across
    * engines and libm versions (a float tf·idf score can flip top-k
    * membership on a 1-ulp `ln` difference). Emits `(id, term, tf,
    * df_docs)`; callers wanting a score apply any idf(df) downstream.
    *
    * Scale shape: ranking needs term IDENTITY only, so terms hash to
    * 64-bit ids right after the explode and every aggregate, shuffle, and
    * heap runs over fixed-width integer keys — the q4m/q4n fingerprint
    * discipline applied to this operator's own tf/df tables (grouping 64-bit
    * ids keeps the hash-aggregate on the primitive fast path and off the
    * 10⁸-string-key allocation storm the first version exhibited at 100×;
    * an xxhash64 collision between two terms of one document is vanishingly
    * rare and deterministic if it ever occurs). One explode feeds the
    * (doc, term-id) tf aggregate; df derives from tf (count of tf rows per
    * id — no second distinct over the corpus). Term TEXT joins back in two
    * bounded steps: a per-doc kth-rank threshold over integer keys (the
    * bounded-heap [[graft.plans.GroupedTopK]]) admits only the ≤ k +
    * boundary-tie candidate rows, and only THOSE get text restored (vocab
    * semi-joined to candidate ids) before the exact lexical tie-break —
    * O(terms log k) with strings touching ~k rows per doc, no window sort.
    */
  def salientTerms(df: DataFrame, id: String, text: String,
                   k: Int = 3, sizeHint: Option[Long] = None): DataFrame = {
    // row-count-adaptive cutover: the 64-bit-id indirection below pays for
    // itself only when the corpus vocabulary is large enough that string
    // hash-agg keys dominate (measured at the 100x probe: 28.5 -> 8.2 s);
    // under ~SmallCorpusDocs the extra fingerprint/join stages just hit the
    // scheduling floor (sf0.1: 0.5 -> 1.2 s). Dispatch order: the caller's
    // `sizeHint` (no job — the contract for expensive derived/uncached or
    // streaming inputs); Catalyst's optimized-plan row statistics when the
    // plan reports an exact count (no job); else a bounded limit-count
    // probe — at most SmallCorpusDocs+1 rows, a scalar dispatch read,
    // never a corpus census, but it IS an eager job at composition time,
    // so callers with costly lineage should pass the hint. A wrong hint
    // only costs performance: CurateSpec pins the two paths row-equal.
    val rows: Long = sizeHint.getOrElse {
      df.queryExecution.optimizedPlan.stats.rowCount.map(_.toLong)
        .getOrElse(df.limit(SmallCorpusDocs + 1).count())
    }
    if (rows <= SmallCorpusDocs) salientTermsDirect(df, id, text, k)
    else salientTermsHashed(df, id, text, k)
  }

  /** The corpus-scale salientTerms path (see [[salientTerms]] scaladoc for
    * the id-indirection rationale). Package-visible so the spec can pin
    * path equivalence against [[salientTermsDirect]] on one fixture.
    */
  private[graft] def salientTermsHashed(df: DataFrame, id: String,
                                        text: String, k: Int): DataFrame = {
    // per-doc tf via the fused TermCounts kernel: the tf table is a pure
    // projection+explode (counts computed in a local map per document),
    // where the explode(tokens)+groupBy(doc,term) form shuffled every
    // token INSTANCE of the corpus for per-document counts — the corpus
    // pays its first exchange only at the cross-document df aggregate
    val perDoc = Par.spread(df.select(col(id), col(text)))
      .select(col(id),
        explode(graft.expressions.WordShingles.termCounts(col(text))).as("__tc"))
    val tf = perDoc.select(col(id),
      xxhash64(col("__tc.term")).as("__tid"), col("__tc.tf").as("tf"))
    val dfreq = tf.groupBy(col("__tid")).agg(count(lit(1)).as("df_docs"))
    val ranked = tf.join(dfreq, Seq("__tid"))
    def rankKey = struct((-col("tf")).as("ntf"), col("df_docs"))
    // the kth-best (tf desc, df asc) VALUE per doc — well-defined whatever
    // tied rows the heap kept, because max-of-kept is the kth smallest key
    // counting multiplicity
    val kth = graft.plans.GroupedTopK.perGroup(ranked, Seq(col(id)), rankKey, k)
      .groupBy(col(id)).agg(max(rankKey).as("__kth"))
    // candidates: every row at-or-better than the threshold — k plus
    // boundary ties, so the string-exact tie-break below sees a bounded set
    val cands = ranked.join(kth, Seq(id)).filter(rankKey <= col("__kth"))
    // text restore for candidate term ids only: the semi-join filters the
    // re-exploded terms BEFORE the distinct, so the vocab aggregate holds
    // candidate terms, not the corpus vocabulary
    val vocab = perDoc
      .select(xxhash64(col("__tc.term")).as("__tid"), col("__tc.term").as("term"))
      .join(broadcast(cands.select(col("__tid")).distinct()),
        Seq("__tid"), "left_semi")
      .distinct()
    graft.plans.GroupedTopK.perGroup(
        cands.join(vocab, Seq("__tid")), Seq(col(id)),
        struct((-col("tf")).as("ntf"), col("df_docs"), col("term")), k)
      .select(col(id), col("term"), col("tf"), col("df_docs"))
  }

  /** Corpora below this row count take [[salientTermsDirect]]. */
  private val SmallCorpusDocs = 50000

  /** The small-corpus salientTerms path: identical ranking (tf desc, df
    * asc, term asc — the bounded heap's struct order IS the full
    * tie-break), directly over term strings in one tf pass + one df pass +
    * one heap. Exactly the plan the id path reduces to when the vocabulary
    * is too small for string keys to matter.
    */
  private[graft] def salientTermsDirect(df: DataFrame, id: String, text: String,
                                        k: Int): DataFrame = {
    // same fused per-doc tf kernel as the hashed path (no (doc, term)
    // counting exchange), minus the id indirection
    val tf = Par.spread(df.select(col(id), col(text)))
      .select(col(id),
        explode(graft.expressions.WordShingles.termCounts(col(text))).as("__tc"))
      .select(col(id), col("__tc.term").as("term"), col("__tc.tf").as("tf"))
    val dfreq = tf.groupBy(col("term")).agg(count(lit(1)).as("df_docs"))
    graft.plans.GroupedTopK.perGroup(
        tf.join(dfreq, Seq("term")), Seq(col(id)),
        struct((-col("tf")).as("ntf"), col("df_docs"), col("term")), k)
      .select(col(id), col("term"), col("tf"), col("df_docs"))
  }

  /** Fixed-budget overlapping document chunking: split each document's
    * token stream into windows of `chunkTokens` tokens advancing by
    * `chunkTokens - overlap` (the context-window preparation step every
    * training/embedding pipeline runs before packing or indexing). Returns
    * one row per chunk: `(id, chunk_id, chunk, n_tokens)` with `chunk_id`
    * dense from 0 in document order and `chunk` the space-rejoined token
    * window.
    *
    * Chunk count: 1 when the doc fits the budget, else
    * `ceil((n - chunkTokens) / stride) + 1` — the final chunk may be
    * shorter than the budget but every token is covered and consecutive
    * chunks share exactly `overlap` tokens (except possibly the last).
    *
    * Scale shape: pure per-row generate — tokenize once, `sequence` +
    * `explode` over the chunk index, `slice` per chunk. No shuffle, no
    * window; parallelism is the scan's. The token array is materialized
    * once per document and sliced per chunk (Tungsten array reuse), so
    * cost is O(n + chunks × chunkTokens) per doc.
    */
  def chunkDocs(df: DataFrame, id: String, text: String,
                chunkTokens: Int = 64, overlap: Int = 16): DataFrame = {
    require(chunkTokens > 0 && overlap >= 0 && overlap < chunkTokens,
      s"need 0 <= overlap < chunkTokens, got overlap=$overlap chunkTokens=$chunkTokens")
    val stride = chunkTokens - overlap
    val nChunks = when(col("__n") <= chunkTokens, lit(1L))
      .otherwise(ceil((col("__n") - chunkTokens).cast("double") / stride).cast("long") + 1L)
    df.select(col(id), TextFunctions.tokens(col(text)).as("__t"))
      .withColumn("__n", size(col("__t")).cast("long"))
      .filter(col("__n") > 0)
      .select(col(id), col("__t"), col("__n"),
        explode(sequence(lit(0L), nChunks - 1L)).as("chunk_id"))
      .select(col(id), col("chunk_id"),
        concat_ws(" ",
          slice(col("__t"), (col("chunk_id") * stride + 1L).cast("int"),
            lit(chunkTokens))).as("chunk"),
        least(lit(chunkTokens.toLong), col("__n") - col("chunk_id") * stride)
          .as("n_tokens"))
  }

  /** Greedy contiguous sequence packing: in `orderBy` order, assign docs to
    * packs so each pack holds ~`budget` tokens (a doc larger than the budget
    * gets its own pack). Deterministic: pack id = floor(exclusive running
    * token total / budget) — the cumulative-sum phrasing that replays in
    * ANSI SQL.
    *
    * With `shardCol` the running window is per shard (shard by date/source
    * when pack boundaries may legally reset per shard). WITHOUT a shard the
    * global running total is computed by a distributed prefix-sum — bucket
    * by a monotone image of the ORDER KEY VALUE (min/max bounds + affine
    * bucketing, the same discipline as [[Metrics.aurocBy]]'s continuous
    * path), local exclusive cumsum per bucket, plus broadcast per-bucket
    * offsets from the (≤ shuffle.partitions rows) totals table. The result
    * is bit-identical to a global `Window.orderBy` — pack boundaries span
    * buckets exactly — but no task ever sees the whole corpus. (An earlier
    * revision defaulted to the unpartitioned global window: one task held
    * the full corpus, the scale-killer this replaces.)
    *
    * Order keys must be numeric, date/timestamp, or string (strings bucket
    * by the 8 bytes FOLLOWING the corpus-wide common key prefix — computed
    * from the min/max key inside [[PrefixSum]] — so shared-prefix key
    * shapes like URLs ("https://www."…) or ISO timestamps ("2026-08-"…)
    * still spread across buckets); any other type requires an explicit
    * `shardCol`.
    */
  def packSequences(df: DataFrame, tokenCol: String, orderBy: String,
                    budget: Long, shardCol: Option[String] = None): DataFrame = {
    require(budget > 0, s"token budget must be positive, got $budget")
    shardCol match {
      case Some(s) =>
        val w = Window.partitionBy(col(s)).orderBy(col(orderBy))
          .rowsBetween(Window.unboundedPreceding, -1)
        df.withColumn("__cum", coalesce(sum(col(tokenCol)).over(w), lit(0L)))
          .withColumn("pack_id", (col("__cum") / budget).cast("long"))
          .drop("__cum")
      case None => packGlobal(df, tokenCol, orderBy, budget)
    }
  }

  /** The shard-free exact global prefix-sum behind [[packSequences]]. */
  private def packGlobal(df: DataFrame, tokenCol: String, orderBy: String,
                         budget: Long): DataFrame = {
    import org.apache.spark.sql.types._
    // monotone numeric image of the order key: equal keys map to equal
    // images and key order is preserved, so affine bucketing on the image
    // yields ORDER-CONTIGUOUS buckets (ties may share a bucket — harmless)
    val okey: Column = df.schema(orderBy).dataType match {
      case _: NumericType => col(orderBy).cast("double")
      case DateType | TimestampType | TimestampNTZType =>
        col(orderBy).cast("timestamp").cast("double")
      case StringType =>
        // handed to PrefixSum as-is: it strips the corpus-wide common
        // prefix (derived from the min/max key) before bucketing on the
        // next 8 bytes, so URL/timestamp-shaped keys with a long shared
        // head don't all collapse into bucket 0
        col(orderBy)
      case other => throw new IllegalArgumentException(
        s"packSequences without shardCol needs a numeric/date/string order " +
          s"key to shard the running total; `$orderBy` is $other — pass " +
          "shardCol explicitly")
    }
    // inclusive distributed cumsum ([[PrefixSum]] — the same machinery as
    // Metrics.cumOverScores' ungrouped path), then exclusive-at-this-row
    // by subtracting the row's own tokens (exact: long arithmetic)
    val v = coalesce(col(tokenCol), lit(0L))
    PrefixSum.inclusiveCum(df, v, col(orderBy), okey, "__cumInc")
      .withColumn("pack_id",
        ((col("__cumInc") - v) / budget).cast("long"))
      .drop("__cumInc")
  }

  /** Materialized training sequences: run [[packSequences]] then collapse
    * each pack to one row — documents joined in `orderBy` order with the
    * `sep` token between them (the EOS-joined sequence a trainer consumes),
    * plus doc/token counts for auditing. One hash aggregate per pack with
    * an in-group `array_sort` of the pack's (bounded: ≈ budget tokens)
    * member docs — no window over the packed output.
    */
  def materializePacks(df: DataFrame, tokenCol: String, orderBy: String,
                       textCol: String, budget: Long,
                       shardCol: Option[String] = None,
                       sep: String = "<|eos|>"): DataFrame = {
    val packed = packSequences(df, tokenCol, orderBy, budget, shardCol)
    val keys = shardCol.toSeq.map(col) :+ col("pack_id")
    packed.groupBy(keys: _*)
      .agg(
        count(lit(1)).as("n_docs"),
        // coalesce: the running-sum in packSequences also treats null
        // token counts as 0, so the audit stays aligned with placement
        sum(coalesce(col(tokenCol), lit(0L))).as("n_tokens"),
        // null texts become empty strings BEFORE the join: concat_ws would
        // silently skip null elements and desynchronize the sequence from
        // the n_docs/n_tokens audit counts
        concat_ws(sep,
          transform(
            array_sort(collect_list(
              struct(col(orderBy), coalesce(col(textCol), lit("")).as(textCol)))),
            x => x.getField(textCol))).as("text"))
  }

  /** Corpus snapshot diff — dataset-version comparison, the audit every
    * pipeline runs between two crawls/releases: classify each document id
    * as `added` (only in `newDf`), `removed` (only in `oldDf`), or
    * `changed` (present in both with different text); unchanged documents
    * are not emitted.
    *
    * Scale shape: both sides collapse to `(id, 64-bit text fingerprint)`
    * before a single full-outer equi-join on id — 16 bytes per document
    * through the shuffle, never text (the exact-dedup fingerprint
    * discipline; an xxhash64 collision between two REVISIONS of one
    * document would mask that change — vanishingly rare and deterministic).
    * At 100 TB both sides would be bucketed by id on storage, making the
    * join exchange-free.
    */
  def snapshotDiff(oldDf: DataFrame, newDf: DataFrame, id: String,
                   text: String): DataFrame = {
    val a = oldDf.select(col(id),
      TextFunctions.fingerprint64(col(text)).as("__fa"))
    val b = newDf.select(col(id),
      TextFunctions.fingerprint64(col(text)).as("__fb"))
    a.join(b, Seq(id), "full_outer")
      .withColumn("status",
        when(col("__fa").isNull, lit("added"))
          .when(col("__fb").isNull, lit("removed"))
          .when(col("__fa") =!= col("__fb"), lit("changed")))
      .filter(col("status").isNotNull) // unchanged rows drop out
      .select(col(id), col("status"))
  }

  /** URL-domain blocklist filter — the C4-style badlist gate: drop every
    * document that references a blocked domain anywhere in its text.
    * `blocklist`'s FIRST column is the domain (any extra columns — source,
    * category — are ignored). BOTH sides are normalized before matching
    * (lowercase, trailing `:port` stripped, one leading `www.` stripped),
    * so `WWW.Bad.Example:8080` cannot evade a `bad.example` entry — the
    * evasions an exact-string badlist invites.
    *
    * Scale shape: the corpus side is a zero-shuffle scan + generate
    * (domains extracted by the RE2-safe [[TextFunctions.urlDomains]]
    * pattern and normalized by [[TextFunctions.normalizeDomain]] — plain
    * lower/regexp_replace, so the same filter replays in any engine); the
    * blocklist — even a multi-million-entry one is a few hundred MB —
    * broadcasts, so the semi-join adds no corpus exchange; the final
    * anti-join keys are bare document ids. No distinct on the hit list:
    * anti joins ignore duplicate matches, deduping would be a pure extra
    * shuffle.
    */
  def dropBlockedDomains(docs: DataFrame, id: String, text: String,
                         blocklist: DataFrame): DataFrame = {
    val domainCol = blocklist.columns.head
    val hits = docs
      .select(col(id),
        explode(TextFunctions.urlDomains(col(text))).as("__d0"))
      .select(col(id), TextFunctions.normalizeDomain(col("__d0")).as("__domain"))
      .join(broadcast(blocklist.select(
          TextFunctions.normalizeDomain(col(domainCol)).as("__domain"))),
        Seq("__domain"), "left_semi")
      .select(col(id))
    docs.join(hits, Seq(id), "left_anti")
  }

  /** Exact rank-based bucketing — the CCNet corpus-partitioning step
    * (head/middle/tail by per-language perplexity) as a general operator:
    * assign each row `bucket = ((rank-1)·k) div n + 1` where `rank` is
    * the row's 1-based position in the total order `(value, tieBreak)`
    * within its group and `n` the group size. Pure integer arithmetic —
    * deterministic, engine-replayable (the q5q oracle), and equal-width
    * up to the unavoidable ±1 remainder rows.
    *
    * Scale shape: NO row-level sort anywhere. The rank decomposes as
    * `cum(distinct values ≤ v) − n_v + row_number within the (group, v)
    * tie`, so the only windows are (a) a cumulative count over the
    * per-(group, value) DISTINCT table — the [[graft.operators.Metrics]]
    * aurocBy convention; per-group task load is bounded by the group's
    * distinct VALUE count, which the caller controls by rounding the
    * value (CCNet bins perplexity to integers for exactly this reason) —
    * and (b) a row_number inside each (group, value) tie class (bounded
    * by tie size). Group totals broadcast (one row per group). With
    * `groups = Nil` the cumulative count routes through the bucketed
    * [[PrefixSum]] instead, so the ungrouped global case has no
    * single-task stage at all.
    */
  def rankBuckets(df: DataFrame, groups: Seq[String], value: Column,
                  tieBreak: Column, k: Int,
                  out: String = "bucket"): DataFrame = {
    require(k > 0, s"bucket count must be positive, got $k")
    require(!df.columns.contains(out),
      s"output column '$out' already exists in the input")
    val gc = groups.map(col)
    // rows with a null value or null group key have no defined rank and
    // are EXCLUDED from the output, explicitly (they would otherwise fall
    // out of the null-unsafe equi-joins as a silent artifact) — coalesce
    // upstream to keep them (the mixtureCounts null discipline)
    // grouped path: ONE exchange on the group key serves everything —
    // the (group, value) count aggregate, the cumulative window, the
    // tie row_number, and the equi-join back are all satisfied by
    // hash(group) clustering (ClusteredDistribution subsets), and the
    // two consumers of the repartition dedup through ReuseExchange, so
    // only local sorts remain between stages. (The previous phrasing
    // exchanged separately for the count aggregate, each window, and
    // the join — 2.5× the DuckDB twin at 100× on pure exchange count.)
    val base0 = df.withColumn("__rbV", value)
      .where(gc.foldLeft(col("__rbV").isNotNull)(_ && _.isNotNull))
    val base =
      if (groups.nonEmpty) base0.repartition(gc: _*) else base0
    val counts = base.groupBy(gc :+ col("__rbV"): _*)
      .agg(count(lit(1)).as("__rbN"))
    val cum =
      if (groups.nonEmpty) {
        val w = Window.partitionBy(gc: _*).orderBy(col("__rbV"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        counts.withColumn("__rbCum", sum(col("__rbN")).over(w))
      } else
        PrefixSum.inclusiveCum(counts, col("__rbN"), col("__rbV"),
          col("__rbV"), "__rbCum")
    val totals = counts.groupBy(gc: _*).agg(sum(col("__rbN")).as("__rbTot"))
    val wTie = Window.partitionBy(gc :+ col("__rbV"): _*).orderBy(tieBreak)
    val joined =
      if (groups.nonEmpty)
        base.withColumn("__rbRn", row_number().over(wTie))
          .join(cum, groups :+ "__rbV")
          .join(broadcast(totals), groups)
      else
        base.withColumn("__rbRn", row_number().over(wTie))
          .join(cum, Seq("__rbV"))
          .crossJoin(broadcast(totals))
    // rank is 1-based and exact; ((rank-1)*k) DIV tot as a TRUE integral
    // divide (Catalyst IntegralDivide) — exact over the FULL long range,
    // not just below 2^53 as a double `/` of exact-multiple longs would be
    val rank = col("__rbCum") - col("__rbN") + col("__rbRn")
    joined
      .withColumn("__rbNum", (rank - lit(1L)) * lit(k.toLong))
      .withColumn(out, expr("CAST(__rbNum DIV __rbTot AS INT) + 1"))
      .drop("__rbV", "__rbN", "__rbCum", "__rbRn", "__rbTot", "__rbNum")
  }
}
