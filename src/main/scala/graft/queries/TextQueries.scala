package graft.queries

import graft.{Memo, Tables}
import graft.functions.TextFunctions
import graft.operators.{Curate, Dedup, Multimodal}
import org.apache.spark.sql.functions._

/** Text-analysis + dedup + multimodal queries over the documents table —
  * the training-data-pipeline surface (token stats, language-ID heuristic,
  * quality scoring, fingerprinting, exact + n-gram + MinHash + SimHash
  * dedup, multimodal metadata plumbing).
  */
object TextQueries {

  /** The exact all-pairs batch-vs-corpus Jaccard oracle shared VERBATIM by
    * q4w (live banding), q5f (persisted band table) and q6b (streaming
    * gate): all three must gate the same fixture identically, and a
    * fixture edit that reached only one of them would silently pin
    * different query sets. Fixture invariant (q4w note): dup pairs are
    * near-1 Jaccard, comfortably above the r=4,b=8 banding's high-recall
    * region.
    */
  private val nearGateOracleSql: String =
    """WITH corpus AS (SELECT doc_id, text FROM documents),
      |batch AS (
      |  SELECT doc_id + 1000000 AS doc_id, text || ' tail' AS text
      |  FROM documents WHERE doc_id % 25 = 0
      |  UNION ALL
      |  SELECT doc_id + 2000000,
      |    'fresh batch item ' || doc_id || ' entirely novel synthetic content'
      |  FROM documents WHERE doc_id % 40 = 0),
      |shc AS (SELECT DISTINCT doc_id, s FROM (
      |    SELECT doc_id, unnest([t[i+1] || ' ' || t[i+2] || ' ' || t[i+3]
      |                           for i in range(len(t) - 2)]) AS s
      |    FROM (SELECT doc_id, string_split(text, ' ') AS t FROM corpus) x) u),
      |shb AS (SELECT DISTINCT doc_id, s FROM (
      |    SELECT doc_id, unnest([t[i+1] || ' ' || t[i+2] || ' ' || t[i+3]
      |                           for i in range(len(t) - 2)]) AS s
      |    FROM (SELECT doc_id, string_split(text, ' ') AS t FROM batch) x) u),
      |nc AS (SELECT doc_id, count(*) AS n FROM shc GROUP BY doc_id),
      |nb AS (SELECT doc_id, count(*) AS n FROM shb GROUP BY doc_id),
      |inter AS (
      |  SELECT b.doc_id AS doc_b, c.doc_id AS doc_c, count(*) AS i
      |  FROM shb b JOIN shc c ON b.s = c.s
      |  GROUP BY b.doc_id, c.doc_id),
      |dup AS (
      |  SELECT DISTINCT doc_b FROM inter
      |  JOIN nb ON nb.doc_id = doc_b JOIN nc ON nc.doc_id = doc_c
      |  WHERE i / (nb.n + nc.n - i) >= 0.5)
      |SELECT doc_id FROM batch
      |WHERE doc_id NOT IN (SELECT doc_b FROM dup)
      |ORDER BY doc_id""".stripMargin

  /** Memoized per-sf-dir fastText-style classifier fit (lang == 'en' over
    * hashed token buckets): the q57 query AND its dynamic oracle must see
    * the SAME fitted coefficients within a session, exactly like q34's
    * forest cache.
    */
  private val qmodelCache =
    new Memo[String, org.apache.spark.ml.classification.LogisticRegressionModel]
  private val QmBuckets = 64
  private def ensureQualityModel(s: org.apache.spark.sql.SparkSession,
                                 d: String): org.apache.spark.ml.classification.LogisticRegressionModel =
    qmodelCache(d) {
      val train = Tables.documents(s, d)
        .where(col("doc_id") % 10 < 8)
        .select(col("text"),
          (col("lang") === "en").cast("double").as("y"))
      graft.ml.TextClassifier.fit(train, "text", "y", k = QmBuckets)
    }

  /** The classifier margin chain as a WITH prefix ending in CTE
    * `m(doc_id, margin)`, parameterized on the exported model and the doc
    * source — shared by the q57/q70 scoring replays, the q74 gate replay
    * and the q75 drift replay, so no two replays can drift. f_j MUST be
    * DOUBLE: DuckDB parses the coefficient literals as DECIMAL, and
    * DECIMAL * BIGINT stays in decimal arithmetic — only a DOUBLE operand
    * promotes the whole chain to IEEE doubles and makes it bit-identical to
    * the Spark side (measured: 1-ulp margin drift with BIGINT features).
    */
  private def qualityMarginCtes(m: graft.ml.TextClassifier.LinearTextModel,
                                docsFrom: String): String = {
    val feats = (0 until m.k).map(j =>
      s"CAST(sum(CASE WHEN bk = $j THEN 1 ELSE 0 END) AS DOUBLE) AS f$j")
      .mkString(",\n  ")
    s"""WITH hold AS (SELECT doc_id, text FROM $docsFrom),
       |toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM hold),
       |b AS (SELECT doc_id,
       |        CAST('0x' || substr(md5(t), 1, 15) AS BIGINT) % ${m.k} AS bk
       |      FROM toks),
       |f AS (SELECT doc_id, $feats FROM b GROUP BY doc_id),
       |m AS (SELECT doc_id, ${graft.ml.TextClassifier.marginSql(m)} AS margin FROM f)""".stripMargin
  }

  /** The q57/q70 holdout-scoring replay (assembled by concatenation —
    * no outer stripMargin can eat the prefix's pipes).
    */
  def qualityScoreReplaySql(m: graft.ml.TextClassifier.LinearTextModel,
                            docsFrom: String): String =
    qualityMarginCtes(m, docsFrom) +
      "\nSELECT doc_id, CASE WHEN margin >= 0 THEN 1 ELSE 0 END AS pred, margin" +
      "\nFROM m ORDER BY doc_id"

  private def qualityScoreOracleSql(
      m: graft.ml.TextClassifier.LinearTextModel): String =
    qualityScoreReplaySql(m, "documents WHERE doc_id % 10 >= 8")

  /** q74 replay: the gate's kept set = margin >= bar over every doc. */
  private def qualityGateOracleSql(
      m: graft.ml.TextClassifier.LinearTextModel, docsFrom: String): String =
    qualityMarginCtes(m, docsFrom) +
      "\nSELECT doc_id FROM m WHERE margin >= 0 ORDER BY doc_id"

  /** q75 replay: BOTH drift rows recomputed from the raw tables — the
    * margin CTE chain per side, aggregated to (n, Σ round(1e6·margin))
    * with each per-doc term rounded to an integer BEFORE the sum
    * (order-free). Each side's full WITH chain nests inside a
    * parenthesized subquery (the q6u/q72 precedent).
    */
  def qualityDriftReplaySql(m: graft.ml.TextClassifier.LinearTextModel,
                            buildFrom: String, batchFrom: String): String = {
    def side(from: String): String =
      "(" + qualityMarginCtes(m, from) +
        "\nSELECT count(*) AS n, CAST(sum(CAST(round(1e6 * margin) AS " +
        "BIGINT)) AS BIGINT) AS sum_margin_micro FROM m)"
    s"SELECT 'batch' AS src, n, sum_margin_micro FROM ${side(batchFrom)}\n" +
      s"UNION ALL\nSELECT 'build' AS src, n, sum_margin_micro FROM ${side(buildFrom)}\n" +
      "ORDER BY src"
  }

  /** The q70 served model: [[ensureQualityModel]]'s fit exported and
    * round-tripped through save→load once per sf dir (the q6k discipline
    * — the oracle embeds the pre-save coefficients, Spark serves these).
    */
  private val servedQmCache =
    new Memo[String, graft.ml.TextClassifier.LinearTextModel]
  private def ensureServedQualityModel(s: org.apache.spark.sql.SparkSession,
                                       d: String)
      : graft.ml.TextClassifier.LinearTextModel =
    servedQmCache(d) {
      val path = LmQueries.sessionTmp(s, "q70_quality_model", d)
      graft.ml.TextClassifier.save(s,
        graft.ml.TextClassifier.export(ensureQualityModel(s, d)), path)
      graft.ml.TextClassifier.load(s, path)
    }

  /** The q75 fixture: the q70 saved-model path with a `_drift.json`
    * baseline over the FIT corpus (train slice) written once per sf dir
    * — the q72/q73 drift-path discipline on the quality axis.
    */
  private val qmDriftCache = new Memo[String, String]
  private def ensureQualityDriftPath(s: org.apache.spark.sql.SparkSession,
                                     d: String): String =
    qmDriftCache(d) {
      ensureServedQualityModel(s, d) // materializes the artifact
      val path = LmQueries.sessionTmp(s, "q70_quality_model", d)
      graft.ml.TextClassifier.writeDriftSidecar(s, path,
        Tables.documents(s, d).where(col("doc_id") % 10 < 8), "text")
      path
    }

  /** The q7c replay at k=256: the k smallest distinct md5-60-bit token
    * hashes by a global DISTINCT + ORDER BY (exactly the vocabulary-
    * sized work the Spark sketch's bounded aggregate removes) and the
    * HUGEINT floor-division estimate. The q7c oracle.
    */
  def vocabSketchReplaySql(docsFrom: String): String =
    s"""WITH tk AS (SELECT string_split(text, ' ') AS t FROM $docsFrom),
       |toks AS (SELECT unnest([array_to_string(t[i:i+2], ' ')
       |                        for i in range(1, len(t) - 1)]) AS t
       |         FROM tk),
       |h AS (SELECT CAST('0x' || substr(md5(t), 1, 15) AS BIGINT) AS h
       |      FROM toks),
       |mins AS (SELECT DISTINCT h FROM h ORDER BY h LIMIT 256),
       |agg AS (SELECT count(*) AS n_mins, max(h) AS kth FROM mins),
       |tot AS (SELECT count(*) AS n_units FROM h)
       |SELECT n_units, n_mins,
       |  CASE WHEN n_mins < 256 THEN NULL ELSE kth END AS kth_min,
       |  CASE WHEN n_mins < 256 THEN n_mins
       |       ELSE CAST((255::HUGEINT * 1152921504606846976::HUGEINT)
       |                 // kth::HUGEINT AS BIGINT) END AS est_distinct
       |FROM agg, tot""".stripMargin

  /** The q78 refit model: a SECOND deterministic fit over a DIFFERENT
    * training slice (doc_id % 10 < 6) — genuinely different coefficients
    * than [[ensureQualityModel]]'s, so a swap that silently kept the old
    * artifact would produce old-model scores against a new-model oracle.
    */
  private val refitQmCache =
    new Memo[String, graft.ml.TextClassifier.LinearTextModel]
  private def ensureRefitQualityModel(s: org.apache.spark.sql.SparkSession,
                                      d: String)
      : graft.ml.TextClassifier.LinearTextModel =
    refitQmCache(d) {
      val train = Tables.documents(s, d).where(col("doc_id") % 10 < 6)
        .select(col("text"),
          (col("lang") === "en").cast("double").as("y"))
      graft.ml.TextClassifier.export(
        graft.ml.TextClassifier.fit(train, "text", "y", k = QmBuckets))
    }

  /** The q78 artifact: the q70 serving lifecycle (save + drift baseline)
    * on its OWN path — q70/q74/q75 keep serving the original model from
    * theirs — then a refit-and-swap with the fresh model, once per sf
    * dir, so the scoring genuinely serves the post-swap artifact.
    */
  private val refitQmPathCache = new Memo[String, String]
  private def ensureRefitQualityPath(s: org.apache.spark.sql.SparkSession,
                                     d: String): String =
    refitQmPathCache(d) {
      val path = LmQueries.sessionTmp(s, "q78_quality_refit", d)
      graft.ml.TextClassifier.save(s,
        graft.ml.TextClassifier.export(ensureQualityModel(s, d)), path)
      graft.ml.TextClassifier.writeDriftSidecar(s, path,
        Tables.documents(s, d).where(col("doc_id") % 10 < 8), "text")
      // the drift contract fired: refit on the fresh slice, swap atomically
      graft.ml.TextClassifier.refitAndSwap(s, ensureRefitQualityModel(s, d),
        Tables.documents(s, d).where(col("doc_id") % 10 < 6), "text", path)
      path
    }

  /** The planted cross-batch near-dup pair for q6c: 3000000 (even → replay
    * batch 0, novel vs the corpus, survives round 0) and 3000001 (odd →
    * batch 1, a near-dup of 3000000 — ~0.92 shingle Jaccard, deep in the
    * r=4,b=8 high-recall region). The pair discriminates the
    * self-maintaining gate from the static one: only a gate whose state
    * GREW by batch 0's survivors drops 3000001.
    */
  private val plantedX: String =
    "planted quantum chemistry document describing catalytic surface " +
      "reactions at scale with spectroscopic measurements and simulation " +
      "pipelines across many compute nodes for materials discovery work"

  /** One round of the exact all-pairs gate as suffixed CTEs: `surv$tag` =
    * rows of `$batchCte` with no text within shingle-Jaccard >= 0.5 of
    * `$corpusCte` — the [[nearGateOracleSql]] machinery parameterized so
    * q6c can chain TWO rounds (round 1's corpus = corpus ∪ surv0).
    */
  private def gateRoundCtes(tag: String, corpusCte: String,
                            batchCte: String): String =
    s"""sh${tag}c AS (SELECT DISTINCT doc_id, s FROM (
       |    SELECT doc_id, unnest([t[i+1] || ' ' || t[i+2] || ' ' || t[i+3]
       |                           for i in range(len(t) - 2)]) AS s
       |    FROM (SELECT doc_id, string_split(text, ' ') AS t FROM $corpusCte) x) u),
       |sh${tag}b AS (SELECT DISTINCT doc_id, s FROM (
       |    SELECT doc_id, unnest([t[i+1] || ' ' || t[i+2] || ' ' || t[i+3]
       |                           for i in range(len(t) - 2)]) AS s
       |    FROM (SELECT doc_id, string_split(text, ' ') AS t FROM $batchCte) x) u),
       |n${tag}c AS (SELECT doc_id, count(*) AS n FROM sh${tag}c GROUP BY doc_id),
       |n${tag}b AS (SELECT doc_id, count(*) AS n FROM sh${tag}b GROUP BY doc_id),
       |inter$tag AS (
       |  SELECT b.doc_id AS doc_b, c.doc_id AS doc_c, count(*) AS i
       |  FROM sh${tag}b b JOIN sh${tag}c c ON b.s = c.s
       |  GROUP BY b.doc_id, c.doc_id),
       |dup$tag AS (
       |  SELECT DISTINCT doc_b FROM inter$tag
       |  JOIN n${tag}b nb ON nb.doc_id = doc_b
       |  JOIN n${tag}c nc ON nc.doc_id = doc_c
       |  WHERE i / (nb.n + nc.n - i) >= 0.5),
       |surv$tag AS (SELECT doc_id, text FROM $batchCte
       |             WHERE doc_id NOT IN (SELECT doc_b FROM dup$tag))""".stripMargin

  /** Two sequential gate rounds — the exact semantics of the
    * self-maintaining streaming gate's 2-batch replay: batch 0 (even ids)
    * gates against the corpus, batch 1 (odd ids) against corpus ∪ batch
    * 0's survivors.
    */
  private def selfMaintainOracleSql: String =
    s"""WITH corpus AS (SELECT doc_id, text FROM documents WHERE doc_id % 5 = 0),
       |batch AS (
       |  SELECT doc_id + 1000000 AS doc_id, text || ' tail' AS text
       |  FROM documents WHERE doc_id % 25 = 0
       |  UNION ALL
       |  SELECT doc_id + 2000000,
       |    'fresh batch item ' || doc_id || ' entirely novel synthetic content'
       |  FROM documents WHERE doc_id % 40 = 0
       |  UNION ALL SELECT 3000000, '$plantedX'
       |  UNION ALL SELECT 3000001, '$plantedX extra tail'),
       |b0 AS (SELECT * FROM batch WHERE doc_id % 2 = 0),
       |b1 AS (SELECT * FROM batch WHERE doc_id % 2 = 1),
       |${gateRoundCtes("0", "corpus", "b0")},
       |corpus1 AS (SELECT doc_id, text FROM corpus
       |            UNION ALL SELECT doc_id, text FROM surv0),
       |${gateRoundCtes("1", "corpus1", "b1")}
       |SELECT doc_id FROM surv0
       |UNION ALL SELECT doc_id FROM surv1
       |ORDER BY doc_id""".stripMargin

  /** The planted q6v rows: a cross-batch exact pair (4000000 even →
    * replay batch 0, survives as novel; 4000001 odd → batch 1, the SAME
    * text — drops only against grown state) and an in-batch pair
    * (4000002/4000004, both even — keep-lowest-id inside one batch).
    * Texts are synthetic so they match nothing in the corpus.
    */
  private val plantedExactA: String =
    "planted exact gate document about tidal resonance chambers and " +
      "deterministic replay anchors in distributed ingest pipelines"
  private val plantedExactB: String =
    "second planted exact gate document describing bucket local " +
      "fingerprint probes over append only storage"

  /** Two sequential EXACT gate rounds — the q6v replay's semantics:
    * batch 0 (even ids) dedups against the corpus (within-batch
    * keep-lowest-id), batch 1 (odd ids) against corpus ∪ batch 0's
    * survivors. Text equality == fingerprint equality (the q4t/q5i
    * collision-free precedent).
    */
  private def selfMaintainExactOracleSql: String =
    s"""WITH corpus AS (SELECT text FROM documents WHERE doc_id % 3 <> 0),
       |batch AS (
       |  SELECT doc_id, text FROM documents WHERE doc_id % 3 = 0
       |  UNION ALL SELECT 4000000, '$plantedExactA'
       |  UNION ALL SELECT 4000001, '$plantedExactA'
       |  UNION ALL SELECT 4000002, '$plantedExactB'
       |  UNION ALL SELECT 4000004, '$plantedExactB'),
       |b0 AS (SELECT * FROM batch WHERE doc_id % 2 = 0),
       |b1 AS (SELECT * FROM batch WHERE doc_id % 2 = 1),
       |f0 AS (SELECT * FROM b0
       |       WHERE text NOT IN (SELECT text FROM corpus)),
       |s0 AS (SELECT min(doc_id) AS doc_id, text FROM f0 GROUP BY text),
       |st1 AS (SELECT text FROM corpus
       |        UNION ALL SELECT text FROM s0),
       |f1 AS (SELECT * FROM b1
       |       WHERE text NOT IN (SELECT text FROM st1)),
       |s1 AS (SELECT min(doc_id) AS doc_id FROM f1 GROUP BY text)
       |SELECT doc_id FROM s0
       |UNION ALL SELECT doc_id FROM s1
       |ORDER BY doc_id""".stripMargin

  /** One exact-dup ingest-gate oracle, shared by q4t (live corpus probe)
    * and q5i (persisted bucketed fingerprint-table probe): green on both
    * proves the table path computes the identical gate.
    */
  private val exactGateOracleSql =
    """WITH corpus AS (SELECT text FROM documents WHERE doc_id % 3 <> 0),
      |batch AS (SELECT * FROM documents WHERE doc_id % 3 = 0),
      |fresh AS (SELECT * FROM batch b
      |          WHERE NOT EXISTS (SELECT 1 FROM corpus c WHERE c.text = b.text)),
      |keep AS (SELECT min(doc_id) AS doc_id FROM fresh GROUP BY text)
      |SELECT f.doc_id, f.lang, f.n_chars FROM fresh f
      |JOIN keep USING (doc_id) ORDER BY doc_id""".stripMargin

  /** Fingerprint table for the persisted exact-dup gate (q5i): one per sf
    * dir, built at most once per session over the q4t fixture corpus,
    * EXTERNAL at a deterministic tmp path (the [[ensureBandTable]]
    * discipline). Returns the table name.
    */
  private def ensureFpTable(s: org.apache.spark.sql.SparkSession,
                            d: String): String = {
    val tag = "sf" + d.replaceAll("[^0-9]", "").takeRight(8)
    val table = s"graft_fps_$tag"
    if (!s.catalog.tableExists(table))
      Dedup.writeFingerprintTable(
        Tables.documents(s, d).where(col("doc_id") % 3 =!= 0), "text", table,
        // buckets sized for the fixture corpus (thousands of docs): every
        // probe scans all buckets, so task count = bucket count per scan
        buckets = 8,
        path = Some(s"${sys.props("java.io.tmpdir")}/graft_fps_$tag"))
    table
  }

  /** The q6w compacted fingerprint table: the q4t/q5i corpus built as
    * write → append×2 → COMPACT (the full table lifecycle), once per sf
    * dir per session. The q6w probe then shares q4t/q5i's FULL oracle —
    * green proves the compacted table computes the identical gate, i.e.
    * no lifecycle step lost, duplicated-into-divergence, or mis-bucketed
    * a fingerprint.
    */
  private def ensureCompactedFpTable(s: org.apache.spark.sql.SparkSession,
                                     d: String): String = {
    val tag = "sf" + d.replaceAll("[^0-9]", "").takeRight(8)
    val table = s"graft_fps_cmp_$tag"
    if (!s.catalog.tableExists(table)) {
      val corpus = Tables.documents(s, d).where(col("doc_id") % 3 =!= 0)
      Dedup.writeFingerprintTable(corpus.where(col("doc_id") % 2 === 0),
        "text", table, buckets = 8,
        path = Some(s"${sys.props("java.io.tmpdir")}/graft_fps_cmp_$tag"))
      Dedup.appendFingerprintTable(corpus.where(col("doc_id") % 4 === 1),
        "text", table)
      Dedup.appendFingerprintTable(corpus.where(col("doc_id") % 4 === 3),
        "text", table)
      Dedup.compactBucketedTable(s, table)
    }
    table
  }

  /** The q6x compacted band table — [[ensureCompactedFpTable]]'s
    * lifecycle on the near-dup axis, over the q4w/q5f corpus (all
    * documents), sharing their exact all-pairs oracle.
    */
  private def ensureCompactedBandTable(s: org.apache.spark.sql.SparkSession,
                                       d: String): String = {
    val tag = "sf" + d.replaceAll("[^0-9]", "").takeRight(8)
    val table = s"graft_bands_cmp_$tag"
    if (!s.catalog.tableExists(table)) {
      val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
      Dedup.writeBandTable(docs.where(col("doc_id") % 2 === 0),
        "doc_id", "text", table, buckets = 8,
        path = Some(s"${sys.props("java.io.tmpdir")}/graft_bands_cmp_$tag"))
      Dedup.appendBandTable(docs.where(col("doc_id") % 4 === 1),
        "doc_id", "text", table)
      Dedup.appendBandTable(docs.where(col("doc_id") % 4 === 3),
        "doc_id", "text", table)
      Dedup.compactBucketedTable(s, table)
    }
    table
  }

  /** The Spark-side twin of [[nearGateOracleSql]]'s `batch` CTE. */
  private def nearGateBatch(s: org.apache.spark.sql.SparkSession,
                            d: String): org.apache.spark.sql.DataFrame = {
    val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
    val dupes = docs.where(col("doc_id") % 25 === 0)
      .select((col("doc_id") + 1000000).as("doc_id"),
        concat(col("text"), lit(" tail")).as("text"))
    val fresh = docs.where(col("doc_id") % 40 === 0)
      .select((col("doc_id") + 2000000).as("doc_id"),
        concat(lit("fresh batch item "), col("doc_id"),
          lit(" entirely novel synthetic content")).as("text"))
    dupes.unionByName(fresh)
  }

  /** Band table for the persisted-probe queries: one per sf dir, built at
    * most once per session, EXTERNAL at a deterministic tmp path
    * (overwritten, never accumulated — the in-memory catalog forgets
    * tables across JVMs while the filesystem remembers them, and a
    * managed table would refuse recreation over its stale directory).
    * Returns the table name.
    */
  private def ensureBandTable(s: org.apache.spark.sql.SparkSession,
                              d: String): String = {
    val tag = "sf" + d.replaceAll("[^0-9]", "").takeRight(8)
    val table = s"graft_bands_$tag"
    if (!s.catalog.tableExists(table))
      Dedup.writeBandTable(
        Tables.documents(s, d).select(col("doc_id"), col("text")),
        "doc_id", "text", table,
        // fixture-sized bucket count (see ensureFpTable)
        buckets = 8,
        path = Some(s"${sys.props("java.io.tmpdir")}/graft_bands_$tag"))
    table
  }

  val defs: Seq[QueryDef] = Seq(

    // ---- token statistics --------------------------------------------------
    QueryDef.sql("q40_doc_stats",
      """SELECT doc_id,
        |  len(string_split(text, ' ')) AS n_tokens,
        |  len(list_distinct(string_split(text, ' '))) AS n_distinct,
        |  round(len(list_distinct(string_split(text, ' ')))
        |        / len(string_split(text, ' ')), 6) AS ttr,
        |  n_chars
        |FROM documents ORDER BY doc_id""".stripMargin) { (s, d) =>
      Tables.documents(s, d).select(
          col("doc_id"),
          TextFunctions.tokenCount(col("text")).cast("long").as("n_tokens"),
          TextFunctions.distinctTokenCount(col("text")).cast("long").as("n_distinct"),
          round(TextFunctions.typeTokenRatio(col("text")), 6).as("ttr"),
          col("n_chars"))
        .orderBy(col("doc_id"))
    },

    // ---- BPE-ish pre-tokenization counts (RE2-safe alternation, so the
    //      exact same pattern runs in DuckDB) --------------------------------
    QueryDef.sql("q4b_bpeish_tokens",
      """SELECT doc_id,
        |  len(regexp_extract_all(text, '[\p{L}]+|[0-9]+|[^\p{L}0-9\s]')) AS n_bpeish,
        |  len(list_distinct(regexp_extract_all(text, '[\p{L}]+|[0-9]+|[^\p{L}0-9\s]'))) AS n_bpeish_distinct
        |FROM documents ORDER BY doc_id""".stripMargin) { (s, d) =>
      Tables.documents(s, d).select(
          col("doc_id"),
          TextFunctions.bpeishTokenCount(col("text")).cast("long").as("n_bpeish"),
          size(array_distinct(TextFunctions.bpeishTokens(col("text"))))
            .cast("long").as("n_bpeish_distinct"))
        .orderBy(col("doc_id"))
    },

    // ---- language-ID heuristic (stopword coverage argmax) ------------------
    QueryDef.sql("q41_lang_heuristic",
      """WITH sc AS (
        |  SELECT doc_id,
        |    len(list_filter(string_split(text,' '), x -> x IN ('der','die','das','und','ist','ein','eine','zu','nicht','mit')))
        |      / len(string_split(text,' ')) AS s_de,
        |    len(list_filter(string_split(text,' '), x -> x IN ('the','a','of','and','to','in','is','it','that','was')))
        |      / len(string_split(text,' ')) AS s_en,
        |    len(list_filter(string_split(text,' '), x -> x IN ('el','la','los','y','es','un','una','en','que','por')))
        |      / len(string_split(text,' ')) AS s_es,
        |    len(list_filter(string_split(text,' '), x -> x IN ('le','la','les','et','est','un','une','dans','que','pour')))
        |      / len(string_split(text,' ')) AS s_fr
        |  FROM documents)
        |SELECT doc_id, round(s_en, 6) AS en_score,
        |  CASE WHEN greatest(s_de, s_en, s_es, s_fr) < 0.02 THEN 'und'
        |       WHEN s_de = greatest(s_de, s_en, s_es, s_fr) THEN 'de'
        |       WHEN s_en = greatest(s_de, s_en, s_es, s_fr) THEN 'en'
        |       WHEN s_es = greatest(s_de, s_en, s_es, s_fr) THEN 'es'
        |       ELSE 'fr' END AS lang_pred
        |FROM sc ORDER BY doc_id""".stripMargin) { (s, d) =>
      Tables.documents(s, d).select(
          col("doc_id"),
          round(TextFunctions.langScore(col("text"), "en"), 6).as("en_score"),
          TextFunctions.langId(col("text")).as("lang_pred"))
        .orderBy(col("doc_id"))
    },

    // ---- quality scoring ----------------------------------------------------
    QueryDef.sql("q42_quality_score",
      """SELECT doc_id, round(
        |  (CASE WHEN length(text) BETWEEN 50 AND 20000 THEN 1.0 ELSE 0.0 END) * 0.4
        |  + least(len(list_distinct(string_split(text,' ')))
        |          / len(string_split(text,' ')), 1.0) * 0.3
        |  + (length(regexp_replace(text, '[^\p{L}]', '', 'g'))
        |     / greatest(length(text), 1)) * 0.3, 6) AS quality
        |FROM documents ORDER BY doc_id""".stripMargin) { (s, d) =>
      Tables.documents(s, d).select(
          col("doc_id"),
          round(TextFunctions.qualityScore(col("text")), 6).as("quality"))
        .orderBy(col("doc_id"))
    },

    // ---- document fingerprinting --------------------------------------------
    QueryDef.sql("q43_fingerprint",
      """SELECT doc_id, md5(text) AS fp FROM documents ORDER BY doc_id""".stripMargin) { (s, d) =>
      Tables.documents(s, d)
        .select(col("doc_id"), md5(col("text")).as("fp"))
        .orderBy(col("doc_id"))
    },

    // ---- exact dedup ----------------------------------------------------------
    QueryDef.sql("q44_dedup_exact",
      """SELECT min(doc_id) AS keeper_id, count(*) AS n_copies
        |FROM documents GROUP BY text ORDER BY keeper_id""".stripMargin) { (s, d) =>
      Tables.documents(s, d)
        .groupBy(col("text"))
        .agg(min(col("doc_id")).as("keeper_id"), count(lit(1)).as("n_copies"))
        .select(col("keeper_id"), col("n_copies"))
        .orderBy(col("keeper_id"))
    },

    // ---- n-gram Jaccard similarity (top pairs on a deterministic sample) ----
    QueryDef.sql("q45_ngram_jaccard",
      """WITH toks AS (
        |  SELECT doc_id, string_split(text, ' ') AS t FROM documents
        |  WHERE doc_id % 10 = 0),
        |sh AS (
        |  SELECT DISTINCT doc_id, s FROM (
        |    SELECT doc_id,
        |      unnest([t[i+1] || ' ' || t[i+2] || ' ' || t[i+3]
        |              for i in range(len(t) - 2)]) AS s
        |    FROM toks) u),
        |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
        |inter AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
        |  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
        |  GROUP BY a.doc_id, b.doc_id)
        |SELECT doc_a, doc_b,
        |  round(i / (na.n + nb.n - i), 6) AS jaccard
        |FROM inter
        |JOIN sizes na ON na.doc_id = doc_a
        |JOIN sizes nb ON nb.doc_id = doc_b
        |ORDER BY jaccard DESC, doc_a, doc_b
        |LIMIT 20""".stripMargin) { (s, d) =>
      val docs = Tables.documents(s, d).where(col("doc_id") % 10 === 0)
      val sh = docs.select(col("doc_id"),
          explode(TextFunctions.shingles(col("text"), 3)).as("s"))
        .distinct()
      val sizes = sh.groupBy("doc_id").agg(count(lit(1)).as("n"))
      val a = sh.as("a"); val b = sh.as("b")
      val inter = a.join(b, col("a.s") === col("b.s") && col("a.doc_id") < col("b.doc_id"))
        .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
        .agg(count(lit(1)).as("i"))
      inter
        .join(sizes.select(col("doc_id").as("doc_a"), col("n").as("na")), Seq("doc_a"))
        .join(sizes.select(col("doc_id").as("doc_b"), col("n").as("nb")), Seq("doc_b"))
        .select(col("doc_a"), col("doc_b"),
          round(col("i") / (col("na") + col("nb") - col("i")), 6).as("jaccard"))
        .orderBy(col("jaccard").desc, col("doc_a"), col("doc_b"))
        .limit(20)
    },

    // ---- MinHash-LSH near-dup pipeline with a FULL exact-recall oracle -----
    // The oracle computes the COMPLETE true pair set (exact word-3-gram
    // Jaccard >= threshold, q45's shingle-join shape — no hashing), so the
    // hash gate passes iff the LSH pipeline emits exactly that set: zero
    // false positives (verify stage guarantees this analytically) AND zero
    // missed pairs. Recall is probabilistic in general (1-(1-j^r)^b) but
    // DETERMINISTIC for fixed data + fixed xxhash64 banding; measured exact
    // at sf0.001/0.01/0.1 (missed=0, extra=0 at each), so green is stable.
    QueryDef.sql("q46_minhash_lsh",
      """WITH corpus AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 1000000, text || ' tail' FROM documents
        |  WHERE doc_id % 25 = 0),
        |toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM corpus),
        |sh AS (
        |  SELECT DISTINCT doc_id, s FROM (
        |    SELECT doc_id,
        |      unnest([t[i+1] || ' ' || t[i+2] || ' ' || t[i+3]
        |              for i in range(len(t) - 2)]) AS s
        |    FROM toks) u),
        |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
        |inter AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
        |  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
        |  GROUP BY a.doc_id, b.doc_id)
        |SELECT doc_a, doc_b, round(i / (na.n + nb.n - i), 6) AS jaccard
        |FROM inter
        |JOIN sizes na ON na.doc_id = doc_a
        |JOIN sizes nb ON nb.doc_id = doc_b
        |WHERE i / (na.n + nb.n - i) >= 0.5
        |ORDER BY doc_a, doc_b""".stripMargin) { (s, d) =>
      // Self-union with doctored ids guarantees true near-dupes exist, so the
      // LSH pipeline (block -> verify) always has work to do.
      val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
      val dupes = docs.where(col("doc_id") % 25 === 0)
        .select((col("doc_id") + 1000000).as("doc_id"),
          concat(col("text"), lit(" tail")).as("text"))
      Dedup.minhashNearDupes(docs.unionByName(dupes), "doc_id", "text",
          threshold = 0.5)
        .select(col("doc_a"), col("doc_b"), round(col("jaccard"), 6).as("jaccard"))
        .orderBy(col("doc_a"), col("doc_b"))
    },

    // ---- curation funnel audit (quality -> lang -> tokens -> exact dedup) --
    QueryDef.sql("q4g_curate_funnel",
      """WITH sc AS (
        |  SELECT doc_id, text,
        |    (CASE WHEN length(text) BETWEEN 50 AND 20000 THEN 1.0 ELSE 0.0 END) * 0.4
        |    + least(len(list_distinct(string_split(text,' '))) / len(string_split(text,' ')), 1.0) * 0.3
        |    + (length(regexp_replace(text, '[^\p{L}]', '', 'g')) / greatest(length(text), 1)) * 0.3 AS quality,
        |    len(list_filter(string_split(text,' '), x -> x IN ('der','die','das','und','ist','ein','eine','zu','nicht','mit'))) / len(string_split(text,' ')) AS s_de,
        |    len(list_filter(string_split(text,' '), x -> x IN ('the','a','of','and','to','in','is','it','that','was'))) / len(string_split(text,' ')) AS s_en,
        |    len(list_filter(string_split(text,' '), x -> x IN ('el','la','los','y','es','un','una','en','que','por'))) / len(string_split(text,' ')) AS s_es,
        |    len(list_filter(string_split(text,' '), x -> x IN ('le','la','les','et','est','un','une','dans','que','pour'))) / len(string_split(text,' ')) AS s_fr,
        |    len(string_split(text,' ')) AS n_tokens
        |  FROM documents),
        |lg AS (SELECT *, CASE WHEN greatest(s_de,s_en,s_es,s_fr) < 0.02 THEN 'und'
        |         WHEN s_de = greatest(s_de,s_en,s_es,s_fr) THEN 'de'
        |         WHEN s_en = greatest(s_de,s_en,s_es,s_fr) THEN 'en'
        |         WHEN s_es = greatest(s_de,s_en,s_es,s_fr) THEN 'es'
        |         ELSE 'fr' END AS lang FROM sc),
        |q AS (SELECT * FROM lg WHERE quality >= 0.5),
        |l AS (SELECT * FROM q WHERE lang = 'en'),
        |t AS (SELECT * FROM l WHERE n_tokens BETWEEN 10 AND 100000),
        |e AS (SELECT min(doc_id) AS k FROM t GROUP BY text)
        |SELECT '0_total' AS stage, count(*) AS n_docs FROM sc
        |UNION ALL SELECT '1_quality', count(*) FROM q
        |UNION ALL SELECT '2_lang', count(*) FROM l
        |UNION ALL SELECT '3_tokens', count(*) FROM t
        |UNION ALL SELECT '4_exact_dedup', count(*) FROM e
        |ORDER BY stage""".stripMargin) { (s, d) =>
      Curate.funnelAudit(Tables.documents(s, d), "doc_id", "text",
          Curate.Config(minQuality = 0.5, lang = "en",
            minTokens = 10, maxTokens = 100000))
        .orderBy(col("stage"))
    },

    // ---- greedy sequence packing into fixed token budgets ------------------
    QueryDef.sql("q4h_seq_packing",
      """WITH t AS (SELECT doc_id,
        |             CAST(len(string_split(text,' ')) AS BIGINT) AS n FROM documents),
        |c AS (SELECT doc_id, n, coalesce(sum(n) OVER (ORDER BY doc_id
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum FROM t)
        |SELECT doc_id, CAST(floor(cum / 1000.0) AS BIGINT) AS pack_id
        |FROM c ORDER BY doc_id""".stripMargin) { (s, d) =>
      val withTokens = Tables.documents(s, d).select(col("doc_id"),
        TextFunctions.tokenCount(col("text")).cast("long").as("n_tokens"))
      Curate.packSequences(withTokens, "n_tokens", "doc_id", budget = 1000L)
        .select(col("doc_id"), col("pack_id"))
        .orderBy(col("doc_id"))
    },

    // ---- full near-dup removal: LSH pairs -> connected components -> one
    //      keeper per cluster, with a FULL oracle -----------------------------
    // Same exact-recall argument as q46 (the LSH pair set provably/measured-
    // equals the true jaccard>=0.5 set on this data), composed with q4j's
    // recursive-CTE transitive closure: the oracle derives the keeper set
    // (min-id member per component + unpaired docs) with no hashing, so the
    // gate pins blocking, verification, AND the propagation loop end-to-end.
    // `pairs` is MATERIALIZED and the recursion nests over it: under a flat
    // WITH RECURSIVE, DuckDB re-plans the all-pairs shingle join inside the
    // recursive step, which on a 10x copy of sf0.1 spilled past 19 GB.
    QueryDef.sql("q4f_drop_neardupes",
      """WITH
        |corpus AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 1000000, text || ' tail' FROM documents
        |  WHERE doc_id % 25 = 0),
        |toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM corpus),
        |sh AS (
        |  SELECT DISTINCT doc_id, s FROM (
        |    SELECT doc_id,
        |      unnest([t[i+1] || ' ' || t[i+2] || ' ' || t[i+3]
        |              for i in range(len(t) - 2)]) AS s
        |    FROM toks) u),
        |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
        |inter AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
        |  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
        |  GROUP BY a.doc_id, b.doc_id),
        |pairs AS MATERIALIZED (
        |  SELECT doc_a, doc_b FROM inter
        |  JOIN sizes na ON na.doc_id = doc_a
        |  JOIN sizes nb ON nb.doc_id = doc_b
        |  WHERE i / (na.n + nb.n - i) >= 0.5),
        |dropped AS (
        |  WITH RECURSIVE
        |  edges AS (SELECT doc_a AS src, doc_b AS dst FROM pairs
        |            UNION SELECT doc_b, doc_a FROM pairs),
        |  reach AS (
        |    SELECT src, dst FROM edges
        |    UNION
        |    SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src)
        |  SELECT src AS doc FROM reach GROUP BY src HAVING min(dst) < src)
        |SELECT doc_id FROM corpus
        |WHERE doc_id NOT IN (SELECT doc FROM dropped)
        |ORDER BY doc_id""".stripMargin) { (s, d) =>
      val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
      val dupes = docs.where(col("doc_id") % 25 === 0)
        .select((col("doc_id") + 1000000).as("doc_id"),
          concat(col("text"), lit(" tail")).as("text"))
      Dedup.dropNearDupes(docs.unionByName(dupes), "doc_id", "text",
          threshold = 0.5)
        .select(col("doc_id"))
        .orderBy(col("doc_id"))
    },

    // ---- MinHash-union sketch rollup with a FULL oracle ---------------------
    // Per-doc signatures use the engine-portable md5-derived shingle hash
    // (16 hash functions = md5 of shingle + '#i'), rolled up per group
    // through the MinHashUnion AGGREGATOR (elementwise min). The oracle
    // exploits the union semantics themselves: the aggregator's elementwise
    // min over per-doc sigs EQUALS a direct min over the group's pooled
    // shingle hashes — DuckDB computes that directly, so the hash gate pins
    // the aggregator's merge logic, the sketch-Jaccard estimator, and the
    // hash portability in one query. (The xxhash64 signature path stays
    // pinned by DedupSpec.)
    QueryDef.sql("q4e_minhash_union",
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |sh AS (
        |  SELECT doc_id,
        |    unnest([t[i+1] || ' ' || t[i+2] || ' ' || t[i+3]
        |            for i in range(len(t) - 2)]) AS s
        |  FROM toks),
        |h AS (SELECT doc_id % 10 AS grp, j,
        |        CAST('0x' || substr(md5(s || '#' || CAST(j AS VARCHAR)), 1, 15)
        |          AS BIGINT) AS h
        |      FROM sh, range(16) r(j)),
        |gsig AS (SELECT grp, j, min(h) AS m FROM h GROUP BY grp, j)
        |SELECT a.grp AS grp_a, b.grp AS grp_b,
        |  round(avg(CASE WHEN a.m = b.m THEN 1.0 ELSE 0.0 END), 4) AS est_jaccard
        |FROM gsig a JOIN gsig b ON a.j = b.j AND a.grp < b.grp
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin) { (s, d) =>
      val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
      // per-doc portable sigs: explode shingles once, 16 min-aggregates
      // (one per hash function), assembled into the signature array
      val sh = graft.operators.Par.spread(docs)
        .select(col("doc_id"), explode(TextFunctions.shingles(col("text"), 3)).as("s"))
      val mins = (0 until 16).map { j =>
        min(conv(substring(md5(concat(col("s"), lit(s"#$j"))), 1, 15), 16, 10)
          .cast("long")).as(s"__m$j")
      }
      val sigs = sh.groupBy(col("doc_id"))
        .agg(mins.head, mins.tail: _*)
        .select(col("doc_id").as("doc"),
          array((0 until 16).map(j => col(s"__m$j")): _*).as("sig"))
        .withColumn("grp", col("doc") % 10)
      val grouped = sigs.groupBy("grp")
        .agg(Dedup.minhashUnion(col("sig"), 16).as("gsig"))
      val a = grouped.select(col("grp").as("grp_a"), col("gsig").as("sig_a"))
      val b = grouped.select(col("grp").as("grp_b"), col("gsig").as("sig_b"))
      a.join(b, col("grp_a") < col("grp_b"))
        .select(col("grp_a"), col("grp_b"),
          round(Dedup.sketchJaccard(col("sig_a"), col("sig_b")), 4).as("est_jaccard"))
        .orderBy(col("grp_a"), col("grp_b"))
    },

    // ---- SimHash near-dup candidates with a FULL brute-force oracle --------
    // The signature uses the engine-portable md5-derived token hash
    // (Dedup.simhashMd5Signatures), so DuckDB reproduces every signature
    // bit-for-bit and brute-forces all pairs at Hamming <= maxHamming —
    // while Spark goes through the banded-LSH machinery. bands(8) >
    // maxHamming(6) makes banding recall provably exact (pigeonhole), so
    // the two result sets must be identical: the oracle PROVES the blocking
    // structure, not just the hamming arithmetic. (The xxhash64-seeded
    // native SimHash64 kernel path stays pinned by DedupSpec bit-equality.)
    QueryDef.sql("q47_simhash",
      """WITH corpus AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 1000000, text || ' tail' FROM documents
        |  WHERE doc_id % 25 = 0),
        |toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM corpus),
        |h AS (SELECT doc_id,
        |        CAST('0x' || substr(md5(tok), 1, 15) AS BIGINT) AS h FROM toks),
        |votes AS (
        |  SELECT doc_id, j, sum(((h >> j) & 1) * 2 - 1) AS v
        |  FROM h, range(60) r(j) GROUP BY doc_id, j),
        |sig AS (
        |  SELECT doc_id,
        |    CAST(sum(CASE WHEN v > 0 THEN (1::BIGINT << j) ELSE 0 END) AS BIGINT) AS sh
        |  FROM votes GROUP BY doc_id)
        |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |  CAST(bit_count(xor(a.sh, b.sh)) AS INT) AS hamming
        |FROM sig a JOIN sig b ON a.doc_id < b.doc_id
        |WHERE bit_count(xor(a.sh, b.sh)) <= 6
        |ORDER BY doc_a, doc_b""".stripMargin) { (s, d) =>
      val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
      val dupes = docs.where(col("doc_id") % 25 === 0)
        .select((col("doc_id") + 1000000).as("doc_id"),
          concat(col("text"), lit(" tail")).as("text"))
      Dedup.simhashNearDupesFromSigs(
          Dedup.simhashMd5Signatures(docs.unionByName(dupes), "doc_id", "text"),
          maxHamming = 6, bands = 8)
        .select(col("doc_a"), col("doc_b"), col("hamming").cast("int").as("hamming"))
        .orderBy(col("doc_a"), col("doc_b"))
    },

    // ---- multimodal: patch-grid generator fan-out ---------------------------
    // Exercises the real explode-generator path over REAL video headers
    // (synthesizeVideo -> decodeVideo -> patchGrid); the oracle replays the
    // synthesis dimension formulas and the grid cardinality. Dimensions are
    // container-independent: w = 16(id%20+4), h = 16((7id)%15+4), so
    // ceil(w/32) = (id%20+5)//2 and ceil(h/32) = ((7id)%15+5)//2.
    QueryDef.sql("q51_patch_grid",
      """SELECT doc_id AS media_id,
        |  CAST((((doc_id % 20) + 5) // 2) * ((((doc_id * 7) % 15) + 5) // 2) AS BIGINT) AS n_patches,
        |  CAST(((doc_id % 20) + 5) // 2 - 1 AS INT) AS max_px,
        |  CAST((((doc_id * 7) % 15) + 5) // 2 - 1 AS INT) AS max_py
        |FROM documents ORDER BY media_id""".stripMargin) { (s, d) =>
      val media = Multimodal.synthesizeVideo(Tables.documents(s, d), "doc_id")
      Multimodal.patchGrid(Multimodal.decodeVideo(media), patch = 32)
        .groupBy(col("media_id"))
        .agg(count(lit(1)).as("n_patches"),
          max(col("px")).as("max_px"), max(col("py")).as("max_py"))
        .orderBy(col("media_id"))
    },

    // ---- multimodal: REAL image decode round trip ---------------------------
    // PNGs are synthesized executor-side (deterministic size from doc_id),
    // then decoded back with javax.imageio — the decode path is the real
    // codec, and the oracle predicts the decoded dimensions from the id
    // arithmetic alone. Closes SURVEY §2 A4 (reference: PIL Image.open,
    // dataset_classes_v1.py:61).
    QueryDef.sql("q52_image_decode",
      """SELECT doc_id AS media_id,
        |  CAST(1 + doc_id % 16 AS BIGINT) AS width,
        |  CAST(1 + doc_id % 13 AS BIGINT) AS height,
        |  CAST(3 AS BIGINT) AS channels
        |FROM documents WHERE doc_id % 10 = 3 ORDER BY media_id""".stripMargin) { (s, d) =>
      val base = Tables.documents(s, d).where(col("doc_id") % 10 === 3)
        .select(col("doc_id"),
          (lit(1) + col("doc_id") % 16).cast("int").as("w"),
          (lit(1) + col("doc_id") % 13).cast("int").as("h"))
      val media = Multimodal.synthesizePng(base, "doc_id", "w", "h")
      Multimodal.decodeImages(media)
        .select(col("media_id"),
          col("width").cast("long").as("width"),
          col("height").cast("long").as("height"),
          col("channels").cast("long").as("channels"))
        .orderBy(col("media_id"))
    },

    // ---- REAL audio decode (javax.sound WAV/PCM) with a FULL oracle --------
    // synthesizeWav writes real RIFF/PCM16 files whose samples follow an
    // integer formula; decodeAudio parses them back through the JDK's audio
    // stack and emits exact integer statistics. WAV PCM is lossless, so the
    // oracle regenerates every sample with the same arithmetic and the
    // decoded format fields + peak/sum|s|/zero-crossings hash-match.
    // Closes the audio half of SURVEY §2 A4's multimodal claim (video stays
    // a documented stub — no codec in this container).
    QueryDef.sql("q5e_audio_decode",
      """WITH b AS (SELECT doc_id, 50 + doc_id % 100 AS n
        |           FROM documents WHERE doc_id % 10 = 4),
        |s AS (SELECT doc_id, unnest(range(n)) AS k FROM b),
        |v AS (SELECT doc_id, k,
        |        ((doc_id * 31 + k * 17) % 201) - 100 AS v FROM s),
        |z AS (SELECT doc_id, v,
        |        CASE WHEN v * lag(v) OVER (PARTITION BY doc_id ORDER BY k) < 0
        |             THEN 1 ELSE 0 END AS c FROM v),
        |a AS (SELECT doc_id, count(*) AS n_samples, max(abs(v)) AS peak,
        |        sum(abs(v)) AS sum_abs, sum(c) AS zero_crossings
        |      FROM z GROUP BY doc_id)
        |SELECT doc_id AS media_id, CAST(8000 AS BIGINT) AS sample_rate,
        |  CAST(1 AS BIGINT) AS channels, CAST(16 AS BIGINT) AS bits,
        |  CAST(n_samples AS BIGINT) AS n_samples, CAST(peak AS BIGINT) AS peak,
        |  CAST(sum_abs AS BIGINT) AS sum_abs,
        |  CAST(zero_crossings AS BIGINT) AS zero_crossings
        |FROM a ORDER BY media_id""".stripMargin) { (s, d) =>
      val base = Tables.documents(s, d).where(col("doc_id") % 10 === 4)
        .select(col("doc_id"),
          (lit(50) + col("doc_id") % 100).cast("int").as("n"))
      val media = Multimodal.synthesizeWav(base, "doc_id", "n")
      Multimodal.decodeAudio(media)
        .select(col("media_id"),
          col("sample_rate").cast("long").as("sample_rate"),
          col("channels").cast("long").as("channels"),
          col("bits").cast("long").as("bits"),
          col("n_samples").cast("long").as("n_samples"),
          col("peak").cast("long").as("peak"),
          col("sum_abs").cast("long").as("sum_abs"),
          col("zero_crossings").cast("long").as("zero_crossings"))
        .orderBy(col("media_id"))
    },

    // ---- connected-components clustering with an EXACT oracle ---------------
    // The near-dup cluster machinery (min-label propagation) replayed on a
    // pair list DuckDB can reproduce exactly: all-pairs n-gram Jaccard on a
    // deterministic subset (no hashing anywhere), components via a recursive
    // transitive-closure CTE. Chained dupes (A~B~C) force multi-hop
    // propagation, so the oracle pins the iteration, not just single edges.
    QueryDef.sql("q4j_cluster_exact",
      """WITH RECURSIVE
        |corpus AS (
        |  SELECT doc_id, text FROM documents WHERE doc_id % 20 = 0
        |  UNION ALL
        |  SELECT doc_id + 1000000, text || ' tail' FROM documents WHERE doc_id % 20 = 0
        |  UNION ALL
        |  SELECT doc_id + 2000000, text || ' tail extra' FROM documents WHERE doc_id % 20 = 0),
        |toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM corpus),
        |sh AS (
        |  SELECT DISTINCT doc_id, s FROM (
        |    SELECT doc_id,
        |      unnest([t[i+1] || ' ' || t[i+2] || ' ' || t[i+3]
        |              for i in range(len(t) - 2)]) AS s
        |    FROM toks) u),
        |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
        |inter AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
        |  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
        |  GROUP BY a.doc_id, b.doc_id),
        |pairs AS (
        |  SELECT doc_a, doc_b FROM inter
        |  JOIN sizes na ON na.doc_id = doc_a
        |  JOIN sizes nb ON nb.doc_id = doc_b
        |  WHERE i / (na.n + nb.n - i) >= 0.5),
        |edges AS (SELECT doc_a AS src, doc_b AS dst FROM pairs
        |          UNION SELECT doc_b, doc_a FROM pairs),
        |reach AS (
        |  SELECT src, dst FROM edges
        |  UNION
        |  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src)
        |SELECT src AS doc, least(src, min(dst)) AS cluster
        |FROM reach GROUP BY src ORDER BY doc""".stripMargin) { (s, d) =>
      val base = Tables.documents(s, d).where(col("doc_id") % 20 === 0)
        .select(col("doc_id"), col("text"))
      val corpus = base
        .unionByName(base.select((col("doc_id") + 1000000).as("doc_id"),
          concat(col("text"), lit(" tail")).as("text")))
        .unionByName(base.select((col("doc_id") + 2000000).as("doc_id"),
          concat(col("text"), lit(" tail extra")).as("text")))
      // exact all-pairs Jaccard (shingle equi-join — q45's shape), no LSH:
      // the pair list must be engine-reproducible for the oracle
      val sh = corpus.select(col("doc_id"),
          explode(TextFunctions.shingles(col("text"), 3)).as("s"))
        .distinct()
      val sizes = sh.groupBy("doc_id").agg(count(lit(1)).as("n"))
      val a = sh.as("a"); val b = sh.as("b")
      val pairs = a
        .join(b, col("a.s") === col("b.s") && col("a.doc_id") < col("b.doc_id"))
        .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
        .agg(count(lit(1)).as("i"))
        .join(sizes.select(col("doc_id").as("doc_a"), col("n").as("na")), Seq("doc_a"))
        .join(sizes.select(col("doc_id").as("doc_b"), col("n").as("nb")), Seq("doc_b"))
        .filter(col("i") / (col("na") + col("nb") - col("i")) >= 0.5)
        .select(col("doc_a"), col("doc_b"))
      Dedup.nearDupClusters(pairs)
        .select(col("doc"), col("cluster"))
        .orderBy(col("doc"))
    },

    // ---- multimodal: video frame-sampling plan ------------------------------
    // Real video headers through the metadata-driven frame sampler
    // (synthesizeVideo -> decodeVideo -> sampleFrames stride 10); the
    // oracle replays the frame-count formula n_frames = id%240 + 24
    // (container-independent) and the stride arithmetic.
    QueryDef.sql("q50_multimodal_meta",
      """SELECT doc_id AS media_id,
        |  CAST((doc_id % 240) + 24 AS BIGINT) AS n_frames,
        |  CAST(((doc_id % 240) + 23) // 10 + 1 AS BIGINT) AS n_sampled,
        |  CAST((((doc_id % 240) + 23) // 10) * 10 AS BIGINT) AS max_idx
        |FROM documents ORDER BY media_id""".stripMargin) { (s, d) =>
      val media = Multimodal.synthesizeVideo(Tables.documents(s, d), "doc_id")
      val decoded = Multimodal.decodeVideo(media)
      Multimodal.sampleFrames(decoded, col("n_frames"), stride = 10)
        .groupBy(col("media_id"))
        .agg(max(col("n_frames")).as("n_frames"),
          count(lit(1)).as("n_sampled"),
          max(col("frame_idx")).as("max_idx"))
        .orderBy(col("media_id"))
    },

    // ---- multimodal: REAL video container decode round trip -----------------
    // synthesizeVideo writes minimal-but-valid MP4 (even ids) and RIFF/AVI
    // (odd ids) headers; decodeVideo parses them back with the pure-JVM box
    // and chunk walkers. Every decoded field is predicted by the synthesis
    // formulas, so the oracle is FULL-hash (the q5e audio pattern applied
    // to video).
    QueryDef.sql("q5g_video_meta",
      """SELECT doc_id AS media_id,
        |  CASE WHEN doc_id % 2 = 0 THEN 'mp4' ELSE 'avi' END AS container,
        |  CASE WHEN doc_id % 2 = 0 THEN 'avc1' ELSE 'mjpg' END AS codec,
        |  CAST(16 * ((doc_id % 20) + 4) AS INT) AS width,
        |  CAST(16 * (((doc_id * 7) % 15) + 4) AS INT) AS height,
        |  CAST((doc_id % 240) + 24 AS BIGINT) AS n_frames,
        |  CAST(40 * ((doc_id % 240) + 24) AS BIGINT) AS duration_ms
        |FROM documents ORDER BY media_id""".stripMargin) { (s, d) =>
      Multimodal.decodeVideo(
          Multimodal.synthesizeVideo(Tables.documents(s, d), "doc_id"))
        .select(col("media_id"), col("container"), col("codec"),
          col("width"), col("height"), col("n_frames"), col("duration_ms"))
        .orderBy(col("media_id"))
    },

    // ---- C4-style repeated-line removal ------------------------------------
    // Lines planted to repeat across many docs (a shared footer in every doc,
    // a per-(doc_id%7) header in ~1/7 of docs) must be dropped from every
    // document; each doc's unique body line survives with order preserved.
    // Counting groups on 64-bit line fingerprints internally; the oracle
    // groups on the raw line text — same equivalence classes.
    QueryDef.sql("q4m_line_dedup",
      """WITH d AS (SELECT doc_id,
        |    'header-' || CAST(doc_id % 7 AS VARCHAR) || chr(10) || text
        |      || chr(10) || 'shared footer line' AS text
        |  FROM documents),
        |sp AS (SELECT doc_id, string_split(text, chr(10)) AS ls FROM d),
        |l AS (SELECT doc_id, z[1]::BIGINT AS pos, z[2]::VARCHAR AS line
        |      FROM (SELECT doc_id, unnest(list_zip(range(1, len(ls) + 1), ls)) AS z
        |            FROM sp)),
        |hot AS (SELECT line FROM l GROUP BY line HAVING count(DISTINCT doc_id) >= 10),
        |keep AS (SELECT * FROM l WHERE line NOT IN (SELECT line FROM hot))
        |SELECT doc_id, string_agg(line, chr(10) ORDER BY pos) AS text
        |FROM keep GROUP BY doc_id ORDER BY doc_id""".stripMargin) { (s, d) =>
      val docs2 = Tables.documents(s, d).select(col("doc_id"),
        concat(lit("header-"), (col("doc_id") % 7).cast("string"), lit("\n"),
          col("text"), lit("\nshared footer line")).as("text"))
      Dedup.dropRepeatedLines(docs2, "doc_id", "text", minRepeats = 10)
        .orderBy(col("doc_id"))
    },

    // ---- Gopher-style repetition signals -----------------------------------
    QueryDef.sql("q4n_repetition",
      """WITH sp AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |g AS (SELECT doc_id,
        |        CASE WHEN len(t) < 3 THEN [array_to_string(t, ' ')]
        |             ELSE list_transform(range(1, len(t) - 1),
        |                    i -> t[i] || ' ' || t[i + 1] || ' ' || t[i + 2]) END AS gs
        |      FROM sp),
        |u AS (SELECT doc_id, unnest(gs) AS gram FROM g),
        |c AS (SELECT doc_id, gram, count(*) AS n FROM u GROUP BY 1, 2)
        |SELECT doc_id, CAST(sum(n) AS BIGINT) AS n_grams,
        |  round(max(n)::DOUBLE / sum(n), 6) AS top_ngram_frac,
        |  round(count(*)::DOUBLE / sum(n), 6) AS distinct_frac
        |FROM c GROUP BY doc_id ORDER BY doc_id""".stripMargin) { (s, d) =>
      graft.operators.Curate.repetitionStats(
          Tables.documents(s, d), "doc_id", "text", n = 3)
        .select(col("doc_id"), col("n_grams"),
          round(col("top_ngram_frac"), 6).as("top_ngram_frac"),
          round(col("distinct_frac"), 6).as("distinct_frac"))
        .orderBy(col("doc_id"))
    },

    // ---- PII scrubbing (emails + phone-shaped digit runs) ------------------
    // PII is planted deterministically per doc, then redacted; the oracle
    // shares the RE2-safe patterns verbatim (DuckDB regexp_replace needs
    // the explicit 'g' flag to match Spark's replace-all).
    QueryDef.sql("q4o_pii_redact",
      """SELECT doc_id,
        |  regexp_replace(
        |    regexp_replace(
        |      text || ' contact user' || CAST(doc_id AS VARCHAR)
        |        || '@example.com or +49 30 '
        |        || CAST(doc_id * 7 % 10000 + 1000 AS VARCHAR) || '9',
        |      '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |    '\+?[0-9]([()\-\s]{0,2}[0-9]){8,14}', '<PHONE>', 'g') AS text
        |FROM documents ORDER BY doc_id""".stripMargin) { (s, d) =>
      val planted = Tables.documents(s, d).select(col("doc_id"),
        concat(col("text"), lit(" contact user"), col("doc_id").cast("string"),
          lit("@example.com or +49 30 "),
          (col("doc_id") * 7 % 10000 + 1000).cast("string"), lit("9")).as("text"))
      planted
        .select(col("doc_id"),
          TextFunctions.redactPii(col("text")).as("text"))
        .orderBy(col("doc_id"))
    },

    // ---- deterministic weighted mixture sampling ---------------------------
    // Source-weighting over a derived 3-way source split; the selection hash
    // (Knuth multiplicative mod prime) replays exactly in ANSI SQL, so the
    // sampled ROW SET itself is oracle-checked, not just its size.
    QueryDef.sql("q4p_mixture_sample",
      """WITH d AS (SELECT doc_id, CAST(doc_id % 3 AS VARCHAR) AS src FROM documents)
        |SELECT doc_id, src FROM d
        |WHERE (doc_id * 2654435761) % 1000000007 <
        |  (CASE src WHEN '0' THEN 1.0 WHEN '1' THEN 0.5 ELSE 0.1 END) * 1000000007
        |ORDER BY doc_id""".stripMargin) { (s, d) =>
      val docs = Tables.documents(s, d).select(col("doc_id"),
        (col("doc_id") % 3).cast("string").as("src"))
      graft.operators.Sampling.sampleMixture(docs, col("src"), col("doc_id"),
          Map("0" -> 1.0, "1" -> 0.5, "2" -> 0.1))
        .orderBy(col("doc_id"))
    },

    // ---- materialized training sequences (q4h packing -> EOS-joined text) --
    QueryDef.sql("q4q_pack_materialize",
      """WITH t AS (SELECT doc_id, text,
        |             CAST(len(string_split(text,' ')) AS BIGINT) AS n FROM documents),
        |c AS (SELECT doc_id, text, n, coalesce(sum(n) OVER (ORDER BY doc_id
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum FROM t),
        |p AS (SELECT doc_id, text, n,
        |        CAST(floor(cum / 1000.0) AS BIGINT) AS pack_id FROM c)
        |SELECT pack_id, count(*) AS n_docs, CAST(sum(n) AS BIGINT) AS n_tokens,
        |  string_agg(text, '<|eos|>' ORDER BY doc_id) AS text
        |FROM p GROUP BY pack_id ORDER BY pack_id""".stripMargin) { (s, d) =>
      val withTokens = Tables.documents(s, d).select(col("doc_id"), col("text"),
        TextFunctions.tokenCount(col("text")).cast("long").as("n_tokens"))
      graft.operators.Curate.materializePacks(withTokens, "n_tokens", "doc_id",
          "text", budget = 1000L)
        .select(col("pack_id"), col("n_docs"), col("n_tokens"), col("text"))
        .orderBy(col("pack_id"))
    },

    // ---- benchmark decontamination (GPT-3-style 8-gram overlap rule) -------
    // Eval set = every 31st doc's text; any corpus doc sharing ANY 8-gram
    // with it (the eval docs themselves + any exact/overlapping copies) is
    // removed. Spark matches on gram fingerprints, the oracle on raw grams
    // - same equivalence classes.
    QueryDef.sql("q4s_decontaminate",
      """WITH sp AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |g AS (SELECT doc_id,
        |        CASE WHEN len(t) < 8 THEN [array_to_string(t, ' ')]
        |             ELSE list_transform(range(1, len(t) - 6),
        |                    i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' || t[i+3]
        |                      || ' ' || t[i+4] || ' ' || t[i+5] || ' ' || t[i+6] || ' ' || t[i+7]) END AS gs
        |      FROM sp),
        |u AS (SELECT doc_id, unnest(gs) AS gram FROM g),
        |e AS (SELECT DISTINCT gram FROM u WHERE doc_id % 31 = 0),
        |c AS (SELECT DISTINCT doc_id FROM u WHERE gram IN (SELECT gram FROM e))
        |SELECT doc_id FROM documents
        |WHERE doc_id NOT IN (SELECT doc_id FROM c)
        |ORDER BY doc_id""".stripMargin) { (s, d) =>
      val docs = Tables.documents(s, d)
      Dedup.decontaminate(docs, "doc_id", "text",
          docs.where(col("doc_id") % 31 === 0).select(col("text")), "text", n = 8)
        .select(col("doc_id"))
        .orderBy(col("doc_id"))
    },

    // ---- the contamination REPORT over the same q4s fixture: per doc,
    //      n-gram occurrences, eval-set hits, and exact integer ppm overlap
    //      (the audit a pipeline runs before choosing a drop threshold).
    //      Self-contaminated eval docs read 1000000 ppm; partial overlaps
    //      spread below — a real distribution at every SF -----------------
    QueryDef.sql("q5r_contamination_report",
      contaminationOracleSql("documents")) { (s, d) =>
      val docs = Tables.documents(s, d)
      Dedup.contaminationReport(docs, "doc_id", "text",
        docs.where(col("doc_id") % 31 === 0).select(col("text")), "text", n = 8)
        .orderBy(col("doc_id"))
    },

    // ---- JSONL interchange round-trip (contract oracle, q39-style): the
    //      corpus is written to newline-delimited JSON and re-read with the
    //      declared schema; every row must survive with every column intact,
    //      so the oracle emits count(*) three times and the hash gate fails
    //      iff the JSONL writer or reader loses or mangles anything --------
    QueryDef.sql("q4r_jsonl_roundtrip",
      """SELECT count(*) AS n_rows, count(*) AS n_text_agree,
        |  count(*) AS n_meta_agree
        |FROM documents""".stripMargin) { (s, d) =>
      val docs = Tables.documents(s, d)
      // deterministic per-sf path, overwritten on every run (writeJsonl is
      // mode=overwrite) — a fresh createTempDirectory per plan construction
      // leaked a full corpus copy into /tmp on every warmup/bench/verify
      val dir = java.nio.file.Paths.get(
        sys.props.getOrElse("java.io.tmpdir", "/tmp"),
        "graft_jsonl_roundtrip_" + d.replaceAll("[^A-Za-z0-9.]", "_")).toString
      graft.sources.Sources.writeJsonl(docs, dir)
      val back = graft.sources.Sources.readJsonl(s, dir, docs.schema)
      val a = docs.select(col("doc_id"), col("text").as("t0"),
        col("lang").as("l0"), col("source").as("s0"), col("n_chars").as("c0"))
      val b = back.select(col("doc_id"), col("text").as("t1"),
        col("lang").as("l1"), col("source").as("s1"), col("n_chars").as("c1"))
      a.join(b, Seq("doc_id"))
        .agg(count(lit(1)).as("n_rows"),
          count(when(col("t0") === col("t1"), 1)).as("n_text_agree"),
          count(when(col("l0") === col("l1") && col("s0") === col("s1") &&
            col("c0") === col("c1"), 1)).as("n_meta_agree"))
    },

    // ---- incremental ingest dedup: new batch vs the already-ingested
    //      corpus (cross-corpus anti-join on fingerprints) then within-batch
    //      exact dedup — full oracle replays both stages on raw text -------
    QueryDef.sql("q4t_incremental_dedup", exactGateOracleSql) { (s, d) =>
      val docs = Tables.documents(s, d)
      Dedup.dropDupesAgainst(
          docs.where(col("doc_id") % 3 === 0),
          docs.where(col("doc_id") % 3 =!= 0), "doc_id", "text")
        .select(col("doc_id"), col("lang"), col("n_chars"))
        .orderBy(col("doc_id"))
    },

    // ---- the SAME exact-dup gate probing the PERSISTED bucketed
    //      fingerprint table (the q5f pattern applied to exact dedup):
    //      only the batch is fingerprinted per ingest; the corpus side is
    //      a bucketed 8-byte-column read with no exchange. Shares q4t's
    //      oracle — green proves table probe == live corpus probe. --------
    QueryDef.sql("q5i_fptable_dedup", exactGateOracleSql) { (s, d) =>
      val docs = Tables.documents(s, d)
      Dedup.dropDupesAgainstTable(
          docs.where(col("doc_id") % 3 === 0), ensureFpTable(s, d),
          "doc_id", "text")
        .select(col("doc_id"), col("lang"), col("n_chars"))
        .orderBy(col("doc_id"))
    },

    // ---- compression-ratio quality signal (native DeflateRatio kernel).
    //      DuckDB has no deflate, so this is a q15-style contract oracle:
    //      every ratio must land in (0, 2] — except documents under 8 chars,
    //      where deflate's fixed per-stream overhead (~3 bytes of block
    //      header + EOB even for a 1-char input) legitimately pushes the
    //      ratio to 1.5–3.0, so the upper bound is gated on n_chars >= 8
    //      (mirroring how the < 1 check is gated on n_chars >= 200) — and
    //      every document of >= 200 chars must actually compress (ratio < 1).
    //      The hash gate fails if the kernel emits an out-of-contract value --
    QueryDef.sql("q4u_compress_ratio",
      """SELECT lang, count(*) AS n, count(*) AS n_in_bounds,
        |  count(CASE WHEN n_chars >= 200 THEN 1 END) AS n_long,
        |  count(CASE WHEN n_chars >= 200 THEN 1 END) AS n_long_compressed
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin) { (s, d) =>
      Tables.documents(s, d)
        .withColumn("r",
          graft.expressions.TextSignalExpressions.deflateRatio(col("text")))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n"),
          count(when(col("r") > 0 &&
            (col("n_chars") < 8 || col("r") <= 2), 1)).as("n_in_bounds"),
          count(when(col("n_chars") >= 200, 1)).as("n_long"),
          count(when(col("n_chars") >= 200 && col("r") < 1, 1))
            .as("n_long_compressed"))
        .orderBy(col("lang"))
    },

    // ---- cross-corpus near-dup gate (incremental ingest): batch docs with
    //      a near-dup already in the corpus are dropped, genuinely fresh
    //      docs survive. Full oracle — DuckDB brute-forces exact jaccard
    //      between batch and corpus via the shared-shingle equi-join; the
    //      fixture construction mirrors q46, where banded recall is
    //      measured exact at every sf, so green proves the LSH gate equals
    //      the exact gate.
    //      FIXTURE INVARIANT: the dup pairs this fixture constructs
    //      (corpus doc + ' tail') have Jaccard near 1, where the 8-band ×
    //      4-row collision probability is ~1. A pair whose true Jaccard sat
    //      just above the 0.5 threshold would collide with only ~40%
    //      probability — the exact-equality oracle holds BECAUSE the
    //      fixture keeps dup pairs deep in the banding's high-recall
    //      region. If you edit the fixture, keep constructed dup pairs at
    //      Jaccard >= 0.8 or the gate can fail with no code bug. ------------
    QueryDef.sql("q4w_neardup_against", nearGateOracleSql) { (s, d) =>
      val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
      Dedup.dropNearDupesAgainst(nearGateBatch(s, d), docs,
          "doc_id", "text", threshold = 0.5)
        .select(col("doc_id"))
        .orderBy(col("doc_id"))
    },

    // ---- q4w's incremental gate through the PERSISTED band table --------
    // The production amortization shape: the corpus is banded ONCE into a
    // bucketed catalog table (writeBandTable — done lazily here, once per
    // (session, sf), outside the steady-state path); every subsequent
    // ingest probe joins the batch's band keys against the bucketed read
    // with NO exchange on the corpus side (plan-pinned in DedupSpec).
    // Same fixture and exact all-pairs oracle as q4w — the persisted probe
    // must find exactly the dups the live banding finds. (Shares q4w's
    // fixture invariant: dup pairs are near-1 Jaccard, comfortably above
    // the r=4,b=8 banding's high-recall region.)
    QueryDef.sql("q5f_bandtable_probe", nearGateOracleSql) { (s, d) =>
      val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
      val table = ensureBandTable(s, d)
      val batch = nearGateBatch(s, d)
      val dupIds = Dedup.nearDupesAgainstTable(batch, docs, table,
          "doc_id", "text", threshold = 0.5)
        .select(col("doc_a").as("doc_id")).distinct()
      batch.join(dupIds, Seq("doc_id"), "left_anti")
        .select(col("doc_id"))
        .orderBy(col("doc_id"))
    },

    // ---- the STREAMING near-dup gate, oracle-pinned (q6a pattern) -------
    // The q4w/q5f batch fixture replayed through DocStream's foreachBatch
    // LSH gate in 2 micro-batches against the same persisted band table:
    // each micro-batch is independently probed (no cross-batch state), so
    // the union of survivors must equal the batch gate — the SAME exact
    // all-pairs Jaccard oracle hash-checks the streaming path.
    QueryDef.sql("q6b_stream_neardup", nearGateOracleSql) { (s, d) =>
      val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
      val table = ensureBandTable(s, d)
      val tag = "sf" + d.replaceAll("[^0-9]", "").takeRight(8)
      graft.streaming.DocStream.replayNearDedupedIngest(
          nearGateBatch(s, d), docs, table, "doc_id", "text",
          s"${sys.props("java.io.tmpdir")}/graft_neargate_$tag",
          nBatches = 2, threshold = 0.5)
        .select(col("doc_id"))
        .orderBy(col("doc_id"))
    },

    // ---- the SELF-MAINTAINING streaming gate (q6b's production sibling):
    // each micro-batch's survivors extend the gate's state, so batch 1
    // near-dups of batch 0 SURVIVORS drop too — pinned by the planted
    // 3000000/3000001 pair, which only a state-growing gate separates.
    // The oracle chains two exact all-pairs gate rounds (round 1's corpus
    // includes round 0's survivors). The band table is REBUILT per run
    // because the replay appends to it.
    QueryDef.sql("q6c_stream_selfmaintain", selfMaintainOracleSql) { (s, d) =>
      import s.implicits._
      // a 1/5 corpus slice keeps this two-probe streaming replay off the
      // suite wall's critical path; the dupe-class batch ids (doc_id % 25)
      // stay inside the slice (25 is a multiple of 5), so the fixture's
      // gate semantics are unchanged
      val docs = Tables.documents(s, d)
        .where(col("doc_id") % 5 === 0).select(col("doc_id"), col("text"))
      val tag = "sf" + d.replaceAll("[^0-9]", "").takeRight(8)
      // built ONCE per session (ensureBandTable discipline): the replay
      // appends survivor bands, and replaying the same batch over the
      // GROWN table is exact — the gate compares against strictly prior
      // state, so the batch's own earlier appends are excluded
      // (DocStreamSpec pins this replay-over-grown-state equality)
      val table = s"graft_bands_selfm_$tag"
      if (!s.catalog.tableExists(table))
        Dedup.writeBandTable(docs, "doc_id", "text", table,
          // fixture-sized bucket count (see ensureFpTable)
          buckets = 8,
          path = Some(s"${sys.props("java.io.tmpdir")}/graft_bands_selfm_$tag"))
      val batch = nearGateBatch(s, d).unionByName(
        Seq((3000000L, plantedX), (3000001L, plantedX + " extra tail"))
          .toDF("doc_id", "text"))
      graft.streaming.DocStream.replaySelfMaintainingIngest(
          batch, docs, table, "doc_id", "text",
          s"${sys.props("java.io.tmpdir")}/graft_selfm_$tag",
          nBatches = 2, threshold = 0.5)
        .select(col("doc_id"))
        .orderBy(col("doc_id"))
    },

    // ---- SELF-MAINTAINING streaming EXACT gate (q6v): the q6c/q6p
    // growing-state discipline on the exact axis — batch survivors'
    // fingerprints append to the persisted fp table, so batch-1 exact
    // copies of batch-0 SURVIVORS drop with UNBOUNDED horizon and zero
    // state-store state. Pinned by the planted 4000000/4000001 pair
    // (same novel text split across batches — only a state-growing gate
    // separates it; a per-batch-independent probe passes both) and the
    // 4000002/4000004 in-batch pair (keep-lowest-id). The oracle chains
    // two exact text-equality rounds (round 1's state = corpus ∪ round
    // 0's survivors). The fp table is built once per session; repeat
    // replays are bit-stable via the sink-anchor rule (DocStreamSpec).
    QueryDef.sql("q6v_stream_selfmaintain_exact", selfMaintainExactOracleSql) {
      (s, d) =>
        import s.implicits._
        val tag = "sf" + d.replaceAll("[^0-9]", "").takeRight(8)
        val table = s"graft_fps_selfm_$tag"
        if (!s.catalog.tableExists(table))
          Dedup.writeFingerprintTable(
            Tables.documents(s, d).where(col("doc_id") % 3 =!= 0), "text",
            table, buckets = 8,
            path = Some(s"${sys.props("java.io.tmpdir")}/graft_fps_selfm_$tag"))
        val batch = Tables.documents(s, d).where(col("doc_id") % 3 === 0)
          .select(col("doc_id"), col("text"))
          .unionByName(Seq(
            (4000000L, plantedExactA), (4000001L, plantedExactA),
            (4000002L, plantedExactB), (4000004L, plantedExactB))
            .toDF("doc_id", "text"))
        graft.streaming.DocStream.replaySelfMaintainingExactIngest(
            batch, table, "doc_id", "text",
            LmQueries.sessionTmp(s, "q6v_exactgate", d), nBatches = 2)
          .select(col("doc_id")).orderBy(col("doc_id"))
    },

    // ---- COMPACTED fingerprint-table gate (q6w): the q5i probe served
    // from a table that lived the full lifecycle — write one corpus half,
    // append the rest in two batches, COMPACT to <= numBuckets files
    // (compactBucketedTable: the q6t stage-rename-delete discipline at
    // the file level, catalog entry untouched). The oracle is EXACTLY
    // q4t/q5i's live-gate replay over the full corpus: a compaction that
    // loses, duplicates-into-divergence, or mis-buckets a fingerprint
    // breaks the hash. Closes the last unboundedly-growing state store
    // (DedupSpec pins multiset preservation + crash windows).
    QueryDef.sql("q6w_fptable_compacted", exactGateOracleSql) { (s, d) =>
      Dedup.dropDupesAgainstTable(
          Tables.documents(s, d).where(col("doc_id") % 3 === 0),
          ensureCompactedFpTable(s, d), "doc_id", "text")
        .select(col("doc_id"), col("lang"), col("n_chars"))
        .orderBy(col("doc_id"))
    },

    // ---- COMPACTED band-table gate (q6x): q6w's lifecycle on the
    // near-dup axis — write/append×2/compact, then the q5f probe over the
    // compacted table, against q4w's exact all-pairs Jaccard oracle.
    // Geometry TBLPROPERTIES survive the compaction by construction
    // (file-level swap), so the probe's silent-miss guard still engages.
    QueryDef.sql("q6x_bandtable_compacted", nearGateOracleSql) { (s, d) =>
      val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
      val batch = nearGateBatch(s, d)
      val dupIds = Dedup.nearDupesAgainstTable(batch, docs,
          ensureCompactedBandTable(s, d), "doc_id", "text", threshold = 0.5)
        .select(col("doc_a").as("doc_id")).distinct()
      batch.join(dupIds, Seq("doc_id"), "left_anti")
        .select(col("doc_id"))
        .orderBy(col("doc_id"))
    },

    // ---- learned corpus-filter classifier (fastText-style: logistic
    // regression over hashed bag-of-tokens buckets — the public linear
    // architecture behind trained language/quality filters). Fit is
    // Spark ML (train slice, doc_id%10 < 8); SCORING of the holdout is
    // replayed EXACTLY by the dynamic oracle: engine-portable md5 token
    // buckets (the q47 hash discipline) + the fitted coefficients as the
    // identical left-associative chain — the q34 export pattern applied
    // to a linear text model. pred = margin >= 0 (exact sigmoid>=0.5). ---
    QueryDef.dynamicSql("q57_quality_classifier") { (s, d) =>
      qualityScoreOracleSql(
        graft.ml.TextClassifier.export(ensureQualityModel(s, d)))
    } { (s, d) =>
      val model = ensureQualityModel(s, d)
      graft.ml.TextClassifier.score(model,
          Tables.documents(s, d).where(col("doc_id") % 10 >= 8),
          "text", k = QmBuckets)
        .select(col("doc_id"), col("pred"), col("margin"))
        .orderBy(col("doc_id"))
    },

    // ---- SERVED corpus-filter classifier (q70): q57's scoring through
    // the fit→export→save→load round trip — the BpeTokenizer/NgramLm/DSIR
    // artifact discipline applied to the quality filter (fit once, gate
    // every future batch). The oracle embeds the PRE-SAVE exported model
    // while Spark serves the LOADED one, so a torn write, a row-order
    // permutation, or any load-time coefficient drift breaks the hash
    // (the q6k served-model discipline).
    QueryDef.dynamicSql("q70_quality_served") { (s, d) =>
      qualityScoreOracleSql(
        graft.ml.TextClassifier.export(ensureQualityModel(s, d)))
    } { (s, d) =>
      val served = ensureServedQualityModel(s, d)
      graft.ml.TextClassifier.score(served,
          Tables.documents(s, d).where(col("doc_id") % 10 >= 8), "text")
        .select(col("doc_id"), col("pred"), col("margin"))
        .orderBy(col("doc_id"))
    },

    // ---- STREAMING quality gate (q74): the served corpus-filter
    // classifier riding an ingest stream — the q6d/q6k stateless-filter
    // discipline on the quality axis, completing the gate family's
    // stream symmetry (exact q6v, near-dup q6c, semantic q6p, ppl q6d,
    // DSIR q6k). The fused LinearTextGate kernel carries the LOADED
    // model (save→load round trip, the q6k served-model discipline), so
    // the oracle — the same margin CTE chain as q57 under the threshold,
    // embedding the PRE-SAVE coefficients — breaks the hash on artifact
    // corruption, load drift, OR any streaming-vs-batch divergence
    // (per-row decision makes batch boundaries invisible).
    QueryDef.dynamicSql("q74_stream_quality_gate") { (s, d) =>
      qualityGateOracleSql(
        graft.ml.TextClassifier.export(ensureQualityModel(s, d)), "documents")
    } { (s, d) =>
      val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
      graft.streaming.DocStream.replayQualityGatedIngest(docs,
          ensureServedQualityModel(s, d), "doc_id", "text",
          LmQueries.sessionTmp(s, "q74_qualgate", d), nBatches = 2,
          minMargin = 0.0)
        .select(col("doc_id")).orderBy(col("doc_id"))
    },

    // ---- quality-filter drift contract (q75): the q6s/q6z/q72/q73
    // refit signal on the margin distribution — build row frozen in the
    // `_drift.json` sidecar at save time (fit corpus), batch row scored
    // live through the same fused-feature margin chain, both in integer
    // micro-units rounded per doc BEFORE the sum (order-free). The
    // oracle recomputes BOTH rows from the raw tables, so a corrupted
    // or stale stored baseline breaks the hash. Closes the last gate
    // axis without stream+drift symmetry.
    QueryDef.dynamicSql("q75_quality_drift") { (s, d) =>
      qualityDriftReplaySql(
        graft.ml.TextClassifier.export(ensureQualityModel(s, d)),
        "documents WHERE doc_id % 10 < 8", "documents WHERE doc_id % 10 >= 8")
    } { (s, d) =>
      graft.ml.TextClassifier.driftStats(s, ensureQualityDriftPath(s, d),
          Tables.documents(s, d).where(col("doc_id") % 10 >= 8), "text")
        .orderBy(col("src"))
    },

    // ---- quality-classifier refit-and-swap (q78): the drift contract's
    // ACTION on the quality axis — the q6y discipline applied to the
    // artifact-store families: the q70 serving lifecycle on its own
    // path, then a refit on a different training slice staged
    // (coefficients + meta + a FRESH _drift baseline, the witness) and
    // atomically swapped under the serving path; scoring serves the
    // post-swap artifact. The oracle is the q70 holdout replay WITH THE
    // REFIT model's pre-save coefficients: a swap that silently kept the
    // old artifact, tore between the sidecars, or drifted a coefficient
    // on the way through save→load breaks the hash (swap == fresh fit).
    QueryDef.dynamicSql("q78_quality_refit") { (s, d) =>
      qualityScoreOracleSql(ensureRefitQualityModel(s, d))
    } { (s, d) =>
      val served = graft.ml.TextClassifier.load(s, ensureRefitQualityPath(s, d))
      graft.ml.TextClassifier.score(served,
          Tables.documents(s, d).where(col("doc_id") % 10 >= 8), "text")
        .select(col("doc_id"), col("pred"), col("margin"))
        .orderBy(col("doc_id"))
    },

    // ---- corpus snapshot diff (dataset-version audit): added / removed /
    //      changed docs between two derived snapshots of the documents
    //      table. Spark compares 64-bit text fingerprints through one
    //      full-outer join; the oracle compares the texts themselves —
    //      green proves the fingerprint form computes the identical diff --
    // ---- BM25 lexical retrieval (the ranking half of the text toolbox) ----
    // Top-20 documents for a 5-term query. The Spark side fits (N, avgdl,
    // per-term df) in ONE bounded aggregate over the fused Bm25TermStats
    // kernel and scores in a second zero-shuffle kernel scan with the
    // fitted constants embedded; each per-term contribution rounds to
    // integer micro-units before the sum (the LM-score contract), and the
    // oracle spells the identical left-to-right double chain, so scores
    // replay bit-for-bit. k1=1.25 / b=0.75 are exact binary doubles — the
    // SQL literals 2.25/1.25/0.25/0.75 are the same values the operator
    // computes.
    QueryDef.sql("q5x_bm25_topk", bm25OracleSql("documents")) { (s, d) =>
      graft.operators.Retrieval.bm25TopK(Tables.documents(s, d),
        col("doc_id"), col("text"), Bm25Terms, k = 20)
    },

    // ---- BM25 served from the PERSISTED stats table (q71): the
    // writeFingerprintTable amortization applied to retrieval — the
    // whole-vocabulary df table is written once (bucketed by term, df
    // lookups bucket-pruned; N/Σdl ride the table properties), and each
    // query pays ONE corpus kernel scan instead of fit + score. Shares
    // q5x's oracle verbatim: stats-served == live fit, or the hash
    // breaks (the q5i table==live discipline on the retrieval axis).
    QueryDef.sql("q71_bm25_stats_table", bm25OracleSql("documents")) { (s, d) =>
      graft.operators.Retrieval.bm25TopKFromStats(Tables.documents(s, d),
        col("doc_id"), col("text"), ensureBm25StatsTable(s, d),
        Bm25Terms, k = 20)
    },

    // ---- INCREMENTAL BM25 stats maintenance (q76): the table is built
    // over a ~96% corpus slice and the rest arrives as an append batch
    // through mergeBm25StatsTable — the O(batch) keyed merge that
    // replaces the corpus-sized rebuild. Serving the FULL corpus from
    // the merged table shares q5x's oracle verbatim (the q6w/q6x
    // lifecycle-oracle shape): merge == rebuild or the hash breaks.
    // expectedN exercises the staleness guard on its green path.
    QueryDef.sql("q76_bm25_stats_merge", bm25OracleSql("documents")) { (s, d) =>
      val docs = Tables.documents(s, d)
      graft.operators.Retrieval.bm25TopKFromStats(docs,
        col("doc_id"), col("text"), ensureMergedBm25Table(s, d),
        Bm25Terms, k = 20, expectedN = Some(docs.count()))
    },

    QueryDef.sql("q58_snapshot_diff",
      """WITH olds AS (SELECT doc_id, text FROM documents WHERE doc_id % 11 <> 0),
        |news AS (SELECT doc_id,
        |           CASE WHEN doc_id % 17 = 0 THEN text || ' rev2' ELSE text END AS text
        |         FROM documents WHERE doc_id % 13 <> 0)
        |SELECT COALESCE(o.doc_id, n.doc_id) AS doc_id,
        |  CASE WHEN o.doc_id IS NULL THEN 'added'
        |       WHEN n.doc_id IS NULL THEN 'removed'
        |       WHEN o.text <> n.text THEN 'changed' END AS status
        |FROM olds o FULL OUTER JOIN news n ON o.doc_id = n.doc_id
        |WHERE (o.doc_id IS NULL OR n.doc_id IS NULL OR o.text <> n.text)
        |ORDER BY doc_id""".stripMargin) { (s, d) =>
      val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
      val olds = docs.where(col("doc_id") % 11 =!= 0)
      val news = docs.where(col("doc_id") % 13 =!= 0)
        .select(col("doc_id"),
          when(col("doc_id") % 17 === 0, concat(col("text"), lit(" rev2")))
            .otherwise(col("text")).as("text"))
      graft.operators.Curate.snapshotDiff(olds, news, "doc_id", "text")
        .orderBy(col("doc_id"))
    },

    // ---- normalized exact dedup: casefold/punct/whitespace variants
    //      collapse to one keeper (the C4/RefinedWeb normalize-then-
    //      fingerprint step). Fixture plants an UPPER(text)||'!!' variant
    //      per selected doc under a higher id; only normalization-aware
    //      dedup drops them, and min-id keeps the original. Both engines
    //      run the same RE2-safe normalization verbatim. ------------------
    QueryDef.sql("q59_normalized_dedup",
      """WITH b AS (
        |  SELECT doc_id, text FROM documents WHERE doc_id % 31 = 0
        |  UNION ALL
        |  SELECT doc_id + 5000000, upper(text) || '!!'
        |  FROM documents WHERE doc_id % 31 = 0),
        |n AS (SELECT doc_id,
        |        trim(regexp_replace(lower(text), '[^\p{L}0-9]+', ' ', 'g')) AS norm
        |      FROM b),
        |keep AS (SELECT min(doc_id) AS doc_id FROM n GROUP BY norm)
        |SELECT doc_id FROM keep ORDER BY doc_id""".stripMargin) { (s, d) =>
      val base = Tables.documents(s, d)
        .where(col("doc_id") % 31 === 0).select(col("doc_id"), col("text"))
      val b = base.unionByName(base.select(
        (col("doc_id") + 5000000L).as("doc_id"),
        concat(upper(col("text")), lit("!!")).as("text")))
      Dedup.dropExactDupes(
          b.withColumn("__norm", TextFunctions.normalizeForDedup(col("text"))),
          "doc_id", "__norm")
        .select(col("doc_id"))
        .orderBy(col("doc_id"))
    },

    // ---- top-k salient terms per doc (float-free TF-IDF ranking: tf desc,
    //      then rarest-in-corpus df asc, then term — integer keys replay
    //      exactly; a float tf*ln(N/df) could flip top-k membership on a
    //      1-ulp libm difference between engines) ------------------------
    QueryDef.sql("q4x_salient_terms",
      """WITH terms AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
        |tf AS (SELECT doc_id, term, count(*) AS tf
        |       FROM terms GROUP BY doc_id, term),
        |dfreq AS (SELECT term, count(DISTINCT doc_id) AS df_docs
        |          FROM terms GROUP BY term),
        |r AS (SELECT doc_id, term, tf, df_docs,
        |        row_number() OVER (PARTITION BY doc_id
        |          ORDER BY tf DESC, df_docs ASC, term ASC) AS rn
        |      FROM tf JOIN dfreq USING (term))
        |SELECT doc_id, term, tf, df_docs FROM r WHERE rn <= 3
        |ORDER BY doc_id, tf DESC, df_docs, term""".stripMargin) { (s, d) =>
      Curate.salientTerms(Tables.documents(s, d), "doc_id", "text", k = 3)
        .orderBy(col("doc_id"), col("tf").desc, col("df_docs"), col("term"))
    },

    // ---- per-domain URL stats (web-curation staple: domain blocklists,
    //      per-domain quality priors). URLs are planted deterministically
    //      so the extraction has real work; the RE2-safe pattern is shared
    //      verbatim with the DuckDB oracle ---------------------------------
    QueryDef.sql("q53_domain_stats",
      """WITH d AS (
        |  SELECT doc_id, text || ' see http://site' || (doc_id % 7) ||
        |    '.example/page-' || (doc_id % 11) || ' now' AS text
        |  FROM documents WHERE doc_id % 3 = 0
        |  UNION ALL
        |  SELECT doc_id, text FROM documents WHERE doc_id % 3 <> 0),
        |u AS (SELECT doc_id,
        |        unnest(regexp_extract_all(text, 'https?://([^/ ]+)', 1)) AS domain
        |      FROM d)
        |SELECT domain, count(*) AS n, count(DISTINCT doc_id) AS n_docs
        |FROM u GROUP BY domain ORDER BY domain""".stripMargin) { (s, d) =>
      val docs = Tables.documents(s, d)
      val planted = docs.where(col("doc_id") % 3 === 0)
        .select(col("doc_id"),
          concat(col("text"), lit(" see http://site"), col("doc_id") % 7,
            lit(".example/page-"), col("doc_id") % 11, lit(" now")).as("text"))
      planted.unionByName(
          docs.where(col("doc_id") % 3 =!= 0).select(col("doc_id"), col("text")))
        .select(col("doc_id"),
          explode(TextFunctions.urlDomains(col("text"))).as("domain"))
        .groupBy(col("domain"))
        .agg(count(lit(1)).as("n"), countDistinct(col("doc_id")).as("n_docs"))
        .orderBy(col("domain"))
    },

    // ---- URL-domain blocklist gate (C4-style badlist) over the same
    //      planted-URL corpus as q53: docs citing a blocked domain drop,
    //      docs with only clean URLs (or none) survive. The plant rotates
    //      case, a `www.` prefix, and a `:port` suffix so the oracle pins
    //      the normalization that stops trivial blocklist evasion --------
    QueryDef.sql("q5n_domain_filter",
      """WITH d AS (
        |  SELECT doc_id, text || ' see http://' ||
        |    (CASE WHEN doc_id % 2 = 0 THEN 'WWW.Site' ELSE 'site' END) ||
        |    (doc_id % 7) || '.Example' ||
        |    (CASE WHEN doc_id % 5 = 0 THEN ':8080' ELSE '' END) ||
        |    '/page-' || (doc_id % 11) || ' now' AS text
        |  FROM documents WHERE doc_id % 3 = 0
        |  UNION ALL
        |  SELECT doc_id, text FROM documents WHERE doc_id % 3 <> 0),
        |bad AS (SELECT doc_id FROM (
        |    SELECT doc_id,
        |      unnest(regexp_extract_all(text, 'https?://([^/ ]+)', 1)) AS domain
        |    FROM d) u
        |  WHERE regexp_replace(regexp_replace(lower(domain), ':[0-9]+$', ''),
        |                       '^www\.', '')
        |        IN ('site0.example', 'site3.example'))
        |SELECT doc_id FROM d
        |WHERE doc_id NOT IN (SELECT doc_id FROM bad)
        |ORDER BY doc_id""".stripMargin) { (s, d) =>
      import s.implicits._
      val docs = Tables.documents(s, d)
      val planted = docs.where(col("doc_id") % 3 === 0)
        .select(col("doc_id"),
          concat(col("text"), lit(" see http://"),
            when(col("doc_id") % 2 === 0, "WWW.Site").otherwise("site"),
            col("doc_id") % 7, lit(".Example"),
            when(col("doc_id") % 5 === 0, ":8080").otherwise(""),
            lit("/page-"), col("doc_id") % 11, lit(" now")).as("text"))
        .unionByName(
          docs.where(col("doc_id") % 3 =!= 0).select(col("doc_id"), col("text")))
      Curate.dropBlockedDomains(planted, "doc_id", "text",
          Seq("site0.example", "site3.example").toDF("domain"))
        .select(col("doc_id"))
        .orderBy(col("doc_id"))
    },

    // ---- corpus heavy hitters via the Misra-Gries sketch. The oracle is
    //      EXACT because k exceeds the test vocabulary (below capacity the
    //      sketch never decrements and merge never trims — counts equal a
    //      full GROUP BY, which DuckDB replays); HeavyHittersSpec pins the
    //      approximation guarantees above capacity ------------------------
    QueryDef.sql("q55_heavy_hitters",
      """WITH t AS (SELECT unnest(string_split(text, ' ')) AS term
        |           FROM documents),
        |c AS (SELECT term, count(*) AS n FROM t GROUP BY term)
        |SELECT term, n FROM c ORDER BY n DESC, term LIMIT 25""".stripMargin) { (s, d) =>
      import s.implicits._
      Tables.documents(s, d)
        .select(explode(TextFunctions.tokens(col("text"))).as("term"))
        .agg(graft.functions.HeavyHitters.misraGries(col("term"), k = 1000000)
          .as("hh"))
        .select(explode(col("hh")).as(Seq("term", "n")))
        .orderBy(col("n").desc, col("term"))
        .limit(25)
    },

    // ---- KMV distinct sketch (q7c): corpus distinct-cardinality
    // estimation WITHOUT the cardinality-sized distinct shuffle — the k
    // smallest md5-60-bit hashes of adjacent 3-grams (mergeable bounded
    // aggregate, <= k longs per partition cross the wire; 3-grams
    // because the synthetic unigram vocabulary is 31 — too small to
    // saturate the estimator) and the exact-integer KMV estimate
    // floor((k-1)*2^60 / h_k). Deterministic function of the input SET
    // (the engine-portable hash + integer floor division), so unlike an
    // HLL this sketch gets the house FULL oracle: DuckDB recomputes the
    // k smallest distinct hashes and the HUGEINT estimate, and the hash
    // compare pins sketch values AND estimate bit-for-bit.
    QueryDef.sql("q7c_vocab_sketch", vocabSketchReplaySql("documents")) {
      (s, d) =>
        graft.operators.Profile.vocabSketch(Tables.documents(s, d), "text",
          k = 256, shingleN = 3)
    },

    // ---- overlapping context-window chunking (full oracle: DuckDB replays
    //      the window arithmetic and slicing over the same token arrays) ----
    QueryDef.sql("q4v_doc_chunks",
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS tok,
        |             len(string_split(text, ' ')) AS n FROM documents),
        |k AS (SELECT doc_id, tok, n,
        |        unnest(range(CASE WHEN n <= 64 THEN 1
        |          ELSE CAST(ceil((n - 64) / 48.0) AS BIGINT) + 1 END)) AS chunk_id
        |      FROM t WHERE n > 0)
        |SELECT doc_id, chunk_id,
        |  array_to_string(tok[(chunk_id*48 + 1):(chunk_id*48 + 64)], ' ') AS chunk,
        |  least(64, n - chunk_id*48) AS n_tokens
        |FROM k ORDER BY doc_id, chunk_id""".stripMargin) { (s, d) =>
      Curate.chunkDocs(Tables.documents(s, d), "doc_id", "text",
          chunkTokens = 64, overlap = 16)
        .orderBy(col("doc_id"), col("chunk_id"))
    },

    // ---- substring-level exact dedup (ExactSubstr, Lee et al. 2021) --------
    // The dedup axis doc/line/near-dup all miss: token SPANS duplicated
    // across >= 2 documents. q6f reports every maximal duplicated span
    // (island-merged runs of duplicated 8-token windows, short-doc clamp
    // included); q6g removes the covered tokens from every document and
    // rebuilds the text. The oracle replays windows by gram TEXT (fp
    // equality == gram equality), the island merge as the identical
    // partitioned lag/running-sum pair, and the rebuild as the q4m
    // ordered string_agg.
    QueryDef.sql("q6f_dup_spans", exactSubstrSpansOracleSql("documents")) {
      (s, d) =>
        Dedup.duplicatedSpans(Tables.documents(s, d), "doc_id", "text",
            k = 8, minDocs = 2)
          .orderBy(col("doc_id"), col("span_start"))
    },
    QueryDef.sql("q6g_substr_dedup", exactSubstrRemoveOracleSql("documents")) {
      (s, d) =>
        Dedup.removeDuplicatedSpans(Tables.documents(s, d), "doc_id", "text",
            k = 8, minDocs = 2)
          .orderBy(col("doc_id"))
    },

    // ---- surgical decontamination (q6l report / q6m removal): the
    // ExactSubstr span machinery with the q4s/q5r membership rule — spans
    // whose 8-token windows occur ANYWHERE in the eval set (every 31st
    // doc, the q5r convention) are reported and excised while the
    // documents survive. decontaminate() drops whole docs; this is the
    // span-level counterpart a training pipeline runs when the corpus is
    // too valuable to drop.
    QueryDef.sql("q6l_contam_spans",
      contamSpansOracleSql("documents WHERE doc_id % 31 <> 0",
        "documents WHERE doc_id % 31 = 0")) { (s, d) =>
      val docs = Tables.documents(s, d)
      Dedup.contaminatedSpans(docs.where(col("doc_id") % 31 =!= 0),
          "doc_id", "text",
          docs.where(col("doc_id") % 31 === 0), "text", k = 8)
        .orderBy(col("doc_id"), col("span_start"))
    },
    QueryDef.sql("q6m_contam_removal",
      contamRemoveOracleSql("documents WHERE doc_id % 31 <> 0",
        "documents WHERE doc_id % 31 = 0")) { (s, d) =>
      val docs = Tables.documents(s, d)
      Dedup.removeContaminatedSpans(docs.where(col("doc_id") % 31 =!= 0),
          "doc_id", "text",
          docs.where(col("doc_id") % 31 === 0), "text", k = 8)
        .orderBy(col("doc_id"))
    },

    // ---- DSIR data selection (Xie et al. 2023: importance resampling on
    // hashed n-grams). Fit = two bounded bucket aggregations (target =
    // every 7th doc, raw = the rest); the ln happens ONCE driver-side and
    // rides into BOTH engines as the same micro-nat integer literals, so
    // scoring (Σ delta[bucket]) and the rank-based top-50 selection are
    // pure integer arithmetic — the md5-60-bit bucket is the q47/q57
    // engine-portable hash. The Gumbel sampling variant stays engine-side
    // (transcendental at the compare boundary — the fusion-tail class).
    QueryDef.dynamicSql("q6j_dsir_select") { (s, d) =>
      dsirReplaySql(ensureDsirModel(s, d),
        "documents WHERE doc_id % 7 <> 0", k = 50)
    } { (s, d) =>
      graft.ml.Dsir.select(
        Tables.documents(s, d).where(col("doc_id") % 7 =!= 0),
        "doc_id", "text", ensureDsirModel(s, d), k = 50)
    },

    // ---- Gumbel-sampled DSIR selection (q6r): the paper's importance-
    // RESAMPLING variant. Noise = −ln(−ln(u)) over the hash-derived
    // uniform (the D6 seeded discipline — no engine RNG), rounded to
    // integer micro-nats and added to the q6j weights; top-k of the
    // noisy key is a weighted sample without replacement (Gumbel-max).
    // Fully oracle-replayed: both engines compute the identical chain
    // from the same integer inputs.
    QueryDef.dynamicSql("q6r_dsir_gumbel") { (s, d) =>
      dsirGumbelReplaySql(ensureDsirModel(s, d),
        "documents WHERE doc_id % 7 <> 0", k = 50, seed = 17L)
    } { (s, d) =>
      graft.ml.Dsir.selectGumbel(
        Tables.documents(s, d).where(col("doc_id") % 7 =!= 0),
        "doc_id", "text", ensureDsirModel(s, d), k = 50, seed = 17L)
    },

    // ---- DSIR drift contract (q72): the q6s/q6z refit signal on the
    // selection axis — the deltas are frozen at fit time, and this emits
    // (src, n, sum_logw_micro) for the RAW fit corpus (from the model
    // artifact's _drift.json sidecar, written at save) vs a live batch.
    // Fixture: the batch is the TARGET slice, whose mean logw must read
    // ABOVE the raw baseline — the discriminating direction. All-integer
    // (the q6j scoring CTE summed per side), both rows recomputed from
    // raw tables — a corrupted sidecar breaks the hash. Completes the
    // drift symmetry across all three frozen-model families (IVF-PQ
    // q6s, SemDeDup q6z, DSIR q72).
    QueryDef.dynamicSql("q72_dsir_drift") { (s, d) =>
      dsirDriftReplaySql(ensureDsirModel(s, d),
        "documents WHERE doc_id % 7 <> 0",
        "documents WHERE doc_id % 7 = 0")
    } { (s, d) =>
      val docs = Tables.documents(s, d)
      graft.ml.Dsir.driftStats(s, ensureDsirDriftPath(s, d),
          docs.where(col("doc_id") % 7 === 0), "text")
        .orderBy(col("src"))
    },

    // ---- DSIR refit-and-swap (q79): the drift contract's ACTION on the
    // selection axis — the q78 discipline on the DSIR artifact: the q72
    // serving lifecycle on its own path, then a refit with a DIFFERENT
    // target slice (genuinely different deltas) staged (delta table +
    // meta + a FRESH _drift baseline over the refit raw corpus, the
    // witness) and atomically swapped under the serving path; selection
    // then serves the post-swap artifact. The oracle is the q6j rank-cut
    // replay WITH THE REFIT model's pre-save deltas: a swap that kept
    // the old artifact or tore between the sidecars breaks the hash
    // (the scores in the output embed the delta table — swap == fresh
    // fit).
    QueryDef.dynamicSql("q79_dsir_refit") { (s, d) =>
      dsirReplaySql(ensureRefitDsirModel(s, d),
        "documents WHERE doc_id % 7 <> 0", k = 50)
    } { (s, d) =>
      val path = ensureRefitDsirPath(s, d)
      graft.ml.Dsir.select(
        Tables.documents(s, d).where(col("doc_id") % 7 =!= 0),
        "doc_id", "text", graft.ml.Dsir.load(s, path), k = 50)
    },

    // ---- streaming DSIR gate (q6k): the fitted importance filter riding
    // an ingest stream — stateless per-row integer decision (the q6d
    // discipline), replayed in 2 micro-batches through the MemoryStream
    // harness. The SERVED model is a save→load round trip, putting DSIR
    // persistence inside the correctness gate (the q6e pattern); the
    // oracle is the same scoring CTE as q6j under the threshold instead
    // of the rank cut — streaming vs batch divergence breaks the hash.
    QueryDef.dynamicSql("q6k_stream_dsir_gate") { (s, d) =>
      // the ORACLE embeds the PRE-SAVE deltas while the Spark side serves
      // the save->load round trip: artifact corruption breaks the hash
      dsirGateReplaySql(ensureDsirModel(s, d),
        "documents WHERE doc_id % 7 <> 0", minLogwMicro = 0L)
    } { (s, d) =>
      val docs = Tables.documents(s, d).where(col("doc_id") % 7 =!= 0)
        .select(col("doc_id"), col("text"))
      graft.streaming.DocStream.replayDsirGatedIngest(docs,
          ensureDsirLoaded(s, d), "doc_id", "text",
          LmQueries.sessionTmp(s, "q6k_dsirgate", d), nBatches = 2,
          minLogwMicro = 0L)
        .select(col("doc_id")).orderBy(col("doc_id"))
    }
  )

  /** The DSIR scoring CTE chain (delta list literal → feature unnest →
    * md5-60-bit bucket → integer logw sum, ending in a CTE named `s`) —
    * shared by the q6j/q79 rank-cut, q6r Gumbel, q6k threshold-gate and
    * q72 drift replays, so no two replays can drift.
    */
  private def dsirScoreCte(m: graft.ml.Dsir.DsirModel,
                           corpusFrom: String): String =
    s"""WITH dl AS (SELECT [${m.deltaMicro.mkString(", ")}]::BIGINT[] AS d),
       |r AS (SELECT doc_id, text FROM $corpusFrom),
       |sp AS (SELECT doc_id, string_split(text, ' ') AS t FROM r),
       |f AS (SELECT doc_id,
       |        unnest(t || [t[i] || ' ' || t[i+1]
       |                     for i in range(1, len(t))]) AS f
       |      FROM sp),
       |s AS (SELECT doc_id,
       |        CAST(sum(dl.d[(CAST('0x' || substr(md5(f), 1, 15) AS BIGINT)
       |                       % ${m.buckets}) + 1]) AS BIGINT) AS logw_micro
       |      FROM f CROSS JOIN dl GROUP BY doc_id)""".stripMargin

  /** q72 replay: BOTH drift rows recomputed from the raw tables — the
    * q6j scoring CTE per side, aggregated to (n, Σ logw_micro). Each
    * side's full WITH chain nests inside a parenthesized subquery
    * (DuckDB 1.0 allows this — the q6u precedent); assembled by plain
    * concatenation, so no stripMargin can eat the inner pipes.
    */
  def dsirDriftReplaySql(m: graft.ml.Dsir.DsirModel, buildFrom: String,
                         batchFrom: String): String = {
    def side(from: String): String =
      "(SELECT count(*) AS n, " +
        "CAST(coalesce(sum(logw_micro), 0) AS BIGINT) AS sum_logw_micro " +
        "FROM (" + dsirScoreCte(m, from) + "\nSELECT logw_micro FROM s))"
    "SELECT 'batch' AS src, n, sum_logw_micro FROM " + side(batchFrom) +
      "\nUNION ALL\nSELECT 'build', n, sum_logw_micro FROM " +
      side(buildFrom) + "\nORDER BY src"
  }

  /** q6j/q79 replay: top-k selection with the id tie-break. */
  def dsirReplaySql(m: graft.ml.Dsir.DsirModel, corpusFrom: String,
                    k: Int): String =
    dsirScoreCte(m, corpusFrom) + ",\n" +
      s"""rk AS (SELECT doc_id, logw_micro,
         |         row_number() OVER (ORDER BY logw_micro DESC, doc_id) AS rn
         |       FROM s)
         |SELECT doc_id, logw_micro FROM rk WHERE rn <= $k
         |ORDER BY logw_micro DESC, doc_id""".stripMargin

  /** q6r replay: the Gumbel-perturbed selection — the q6j scoring CTE
    * plus the identical hash-uniform → −ln(−ln(u)) noise chain rounded
    * onto the micro-nat grid. The hash uses the engine's OVERFLOW-SAFE
    * pmod-first form verbatim (((k mod M)·C) mod M == (k·C) mod M, but
    * the naive product overflows BIGINT past ~3.5e9 ids — the 100×
    * probe twin hit exactly that); u is an exact integer ratio, so ln
    * is the only float surface.
    */
  def dsirGumbelReplaySql(m: graft.ml.Dsir.DsirModel, corpusFrom: String,
                          k: Int, seed: Long): String =
    dsirScoreCte(m, corpusFrom) + ",\n" +
      s"""gk AS (SELECT doc_id, logw_micro +
         |         CAST(round(1e6 * (-ln(-ln(
         |           CAST((((doc_id + $seed) % 1000000007) * 2654435761)
         |                  % 1000000007 + 1
         |                AS DOUBLE)
         |             / CAST(1000000008 AS DOUBLE))))) AS BIGINT) AS key_micro
         |       FROM s),
         |rk AS (SELECT doc_id, key_micro,
         |         row_number() OVER (ORDER BY key_micro DESC, doc_id) AS rn
         |       FROM gk)
         |SELECT doc_id, key_micro FROM rk WHERE rn <= $k
         |ORDER BY key_micro DESC, doc_id""".stripMargin

  /** q6k replay: the streaming gate's kept set — per-row integer
    * threshold, so the streaming/batch distinction cannot exist in the
    * oracle (any divergence breaks the hash).
    */
  def dsirGateReplaySql(m: graft.ml.Dsir.DsirModel, corpusFrom: String,
                        minLogwMicro: Long): String =
    dsirScoreCte(m, corpusFrom) + "\n" +
      s"""SELECT doc_id FROM s WHERE logw_micro >= $minLogwMicro
         |ORDER BY doc_id""".stripMargin

  /** Memoized per-sf-dir DSIR fit (target = every 7th doc) — the query
    * and its dynamic oracle must embed the identical delta table.
    */
  private val dsirCache = new Memo[String, graft.ml.Dsir.DsirModel]
  private def ensureDsirModel(s: org.apache.spark.sql.SparkSession,
                              d: String): graft.ml.Dsir.DsirModel =
    dsirCache(d) {
      val docs = Tables.documents(s, d)
      graft.ml.Dsir.fit(
        docs.where(col("doc_id") % 7 === 0),
        docs.where(col("doc_id") % 7 =!= 0), "text", buckets = 256)
    }

  /** The q6k served model: [[ensureDsirModel]] round-tripped through
    * save→load once per sf dir, so persistence sits inside the
    * correctness gate (load is spec-pinned bit-identical, hence the
    * oracle may embed the pre-save deltas).
    */
  private val dsirLoadedCache = new Memo[String, graft.ml.Dsir.DsirModel]
  private def ensureDsirLoaded(s: org.apache.spark.sql.SparkSession,
                               d: String): graft.ml.Dsir.DsirModel =
    dsirLoadedCache(d) {
      val path = LmQueries.sessionTmp(s, "q6k_dsir_model", d)
      graft.ml.Dsir.save(s, ensureDsirModel(s, d), path)
      graft.ml.Dsir.load(s, path)
    }

  /** The q72 model artifact with its drift sidecar: q6k's save→load path
    * discipline plus `writeDriftSidecar` over the RAW fit corpus — once
    * per sf dir (the sidecar survives, the oracle recomputes it).
    */
  private val dsirDriftCache = new Memo[String, String]
  private def ensureDsirDriftPath(s: org.apache.spark.sql.SparkSession,
                                  d: String): String =
    dsirDriftCache(d) {
      val path = LmQueries.sessionTmp(s, "q72_dsir_drift", d)
      graft.ml.Dsir.save(s, ensureDsirModel(s, d), path)
      graft.ml.Dsir.writeDriftSidecar(s, path,
        Tables.documents(s, d).where(col("doc_id") % 7 =!= 0), "text")
      path
    }

  /** The q79 refit model: a SECOND deterministic fit with a DIFFERENT
    * target slice (every 5th doc) — genuinely different deltas than
    * [[ensureDsirModel]]'s, so a swap that silently kept the old
    * artifact would produce old-delta scores against a new-delta oracle.
    */
  private val refitDsirCache = new Memo[String, graft.ml.Dsir.DsirModel]
  private def ensureRefitDsirModel(s: org.apache.spark.sql.SparkSession,
                                   d: String): graft.ml.Dsir.DsirModel =
    refitDsirCache(d) {
      val docs = Tables.documents(s, d)
      graft.ml.Dsir.fit(
        docs.where(col("doc_id") % 5 === 0),
        docs.where(col("doc_id") % 5 =!= 0), "text", buckets = 256)
    }

  /** The q79 artifact: the q72 serving lifecycle (save + drift baseline)
    * on its OWN path — q72/q6k keep serving the original model from
    * theirs — then a refit-and-swap with the fresh model, once per sf
    * dir, so the selection genuinely serves the post-swap artifact.
    */
  private val refitDsirPathCache = new Memo[String, String]
  private def ensureRefitDsirPath(s: org.apache.spark.sql.SparkSession,
                                  d: String): String =
    refitDsirPathCache(d) {
      val path = LmQueries.sessionTmp(s, "q79_dsir_refit", d)
      val docs = Tables.documents(s, d)
      graft.ml.Dsir.save(s, ensureDsirModel(s, d), path)
      graft.ml.Dsir.writeDriftSidecar(s, path,
        docs.where(col("doc_id") % 7 =!= 0), "text")
      // the drift contract fired: refit on the fresh slices, swap atomically
      graft.ml.Dsir.refitAndSwap(s, ensureRefitDsirModel(s, d),
        docs.where(col("doc_id") % 5 =!= 0), "text", path)
      path
    }

  /** Shared windows→islands CTE chain for the ExactSubstr oracles (k=8,
    * minDocs=2): per-doc 0-based window positions by zipped unnest, hot
    * grams by distinct-doc count, islands by the identical partitioned
    * lag/running-sum the Spark side uses.
    */
  /** The 8-token window expansion over a split-token column `t` (short
    * docs collapse to one whole-doc window — the WordShingles rule),
    * shared by every substring-span oracle.
    */
  // NOTE: interpolated into stripMargin templates — no line here may start
  // with '|' (the outer stripMargin would eat it), so the || operators sit
  // at line ends
  private lazy val substrWindowsGs: String =
    """CASE WHEN len(t) < 8 THEN [array_to_string(t, ' ')]
      |             ELSE list_transform(range(1, len(t) - 6),
      |                    i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' || t[i+3] ||
      |                         ' ' || t[i+4] || ' ' || t[i+5] || ' ' || t[i+6] || ' ' || t[i+7]) END""".stripMargin

  /** The island-merge + span tail (dw → brk → isl → spans), shared by the
    * self-dup and contaminated-span oracles — `dw` must exist upstream as
    * (doc_id, nw, pos).
    */
  private lazy val substrSpanTail: String =
    """brk AS (SELECT doc_id, nw, pos,
      |          CASE WHEN pos - lag(pos) OVER
      |                 (PARTITION BY doc_id ORDER BY pos) > 8
      |               THEN 1 ELSE 0 END AS brk
      |        FROM dw),
      |isl AS (SELECT doc_id, nw, pos,
      |          sum(brk) OVER (PARTITION BY doc_id ORDER BY pos
      |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS isl
      |        FROM brk),
      |spans AS (SELECT doc_id, min(pos) AS span_start,
      |            least(max(pos) + 7, any_value(nw) - 1) AS span_end,
      |            count(*) AS n_windows
      |          FROM isl GROUP BY doc_id, isl)""".stripMargin

  // token column `t` replays WordShingles' tokenization exactly (trim +
  // split on \s+) — the span positions, token counts, AND window grams all
  // derive from it, mirroring the Spark side's single spanTokenArr source
  private def exactSubstrIslandsCte(table: String): String =
    s"""WITH sp AS (SELECT doc_id,
       |              regexp_split_to_array(trim(text), '\\s+') AS t
       |            FROM $table),
       |g AS (SELECT doc_id, len(t) AS nw,
       |        $substrWindowsGs AS gs
       |      FROM sp),
       |u AS (SELECT doc_id, nw, unnest(gs) AS gram,
       |        unnest(range(len(gs))) AS pos
       |      FROM g),
       |hot AS (SELECT gram FROM u GROUP BY gram
       |        HAVING count(DISTINCT doc_id) >= 2),
       |dw AS (SELECT doc_id, nw, pos FROM u
       |       WHERE gram IN (SELECT gram FROM hot)),
       |""".stripMargin + substrSpanTail

  /** The q6l/q6m windows→islands chain: hot = grams occurring ANYWHERE in
    * the eval set ([[graft.operators.Dedup.contaminatedSpans]]'s
    * membership rule — fp equality == gram equality, so the oracle
    * replays by gram text). Shared by both contamination-span oracles.
    */
  private def contamSpanIslandsCte(corpusFrom: String,
                                   evalFrom: String): String =
    s"""WITH sp AS (SELECT doc_id,
       |              regexp_split_to_array(trim(text), '\\s+') AS t
       |            FROM $corpusFrom),
       |g AS (SELECT doc_id, len(t) AS nw,
       |        $substrWindowsGs AS gs
       |      FROM sp),
       |u AS (SELECT doc_id, nw, unnest(gs) AS gram,
       |        unnest(range(len(gs))) AS pos
       |      FROM g),
       |esp AS (SELECT regexp_split_to_array(trim(text), '\\s+') AS t
       |        FROM $evalFrom),
       |eg AS (SELECT $substrWindowsGs AS gs FROM esp),
       |hot AS (SELECT DISTINCT unnest(gs) AS gram FROM eg),
       |dw AS (SELECT doc_id, nw, pos FROM u
       |       WHERE gram IN (SELECT gram FROM hot)),
       |""".stripMargin + substrSpanTail

  /** The span-report finisher (over the `spans` CTE). */
  private lazy val substrSpansSelect: String =
    """SELECT doc_id, span_start, span_end,
      |  span_end - span_start + 1 AS span_tokens, n_windows
      |FROM spans ORDER BY doc_id, span_start""".stripMargin

  /** The span-removal + per-doc rebuild finisher (over `spans` + `sp`). */
  private lazy val substrRemoveTail: String =
    """cover AS (SELECT doc_id, unnest(range(span_start, span_end + 1)) AS pos
      |          FROM spans),
      |w AS (SELECT doc_id, unnest(t) AS word, unnest(range(len(t))) AS pos
      |      FROM sp),
      |kept AS (SELECT w.doc_id, w.pos, w.word FROM w
      |         LEFT JOIN cover c ON w.doc_id = c.doc_id AND w.pos = c.pos
      |         WHERE c.pos IS NULL),
      |agg AS (SELECT doc_id, string_agg(word, ' ' ORDER BY pos) AS text,
      |          count(*) AS n_kept
      |        FROM kept GROUP BY doc_id)
      |SELECT sp.doc_id, coalesce(agg.text, '') AS text,
      |  len(sp.t) - coalesce(agg.n_kept, 0) AS n_removed
      |FROM sp LEFT JOIN agg USING (doc_id) ORDER BY sp.doc_id""".stripMargin

  /** q6f oracle: the maximal-span report. (Parts stripMargin separately
    * and concatenate — re-stripping the embedded CTE would eat one pipe
    * of its `||` continuation lines.)
    */
  def exactSubstrSpansOracleSql(table: String): String =
    exactSubstrIslandsCte(table) + "\n" + substrSpansSelect

  /** q6g oracle: span removal + per-doc text rebuild. */
  def exactSubstrRemoveOracleSql(table: String): String =
    exactSubstrIslandsCte(table) + ",\n" + substrRemoveTail

  /** q6l oracle: the contaminated-span report. */
  def contamSpansOracleSql(corpusFrom: String, evalFrom: String): String =
    contamSpanIslandsCte(corpusFrom, evalFrom) + "\n" + substrSpansSelect

  /** q6m oracle: surgical decontamination — contaminated-span removal +
    * per-doc rebuild.
    */
  def contamRemoveOracleSql(corpusFrom: String, evalFrom: String): String =
    contamSpanIslandsCte(corpusFrom, evalFrom) + ",\n" + substrRemoveTail

  /** The q5r oracle as a function of the documents table/view name (eval
    * set = every 31st doc).
    */
  def contaminationOracleSql(table: String): String =
    s"""WITH sp AS (SELECT doc_id, string_split(text, ' ') AS t FROM $table),
       |g AS (SELECT doc_id,
       |        CASE WHEN len(t) < 8 THEN [array_to_string(t, ' ')]
       |             ELSE list_transform(range(1, len(t) - 6),
       |                    i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' || t[i+3]
       |                      || ' ' || t[i+4] || ' ' || t[i+5] || ' ' || t[i+6] || ' ' || t[i+7]) END AS gs
       |      FROM sp),
       |u AS (SELECT doc_id, unnest(gs) AS gram FROM g),
       |e AS (SELECT DISTINCT gram FROM u WHERE doc_id % 31 = 0),
       |h AS (SELECT u.doc_id, count(*) AS n_grams,
       |        sum(CASE WHEN u.gram IN (SELECT gram FROM e)
       |            THEN 1 ELSE 0 END) AS n_hit
       |      FROM u GROUP BY u.doc_id)
       |SELECT doc_id, n_grams, CAST(n_hit AS BIGINT) AS n_hit,
       |  CAST(n_hit * 1000000 // n_grams AS BIGINT) AS overlap_ppm
       |FROM h ORDER BY doc_id""".stripMargin

  /** The q5x query terms — present with high tf variance at every SF.
    * (def, not val: `defs` above initializes first and would read null.)
    */
  private def Bm25Terms = Seq("merge", "query", "spark", "stream", "window")

  /** The q71 persisted BM25 stats table: whole-vocabulary df + (N, Σdl)
    * properties, written once per sf dir per session (the ensureFpTable
    * discipline — EXTERNAL at a deterministic tmp path).
    */
  private def ensureBm25StatsTable(s: org.apache.spark.sql.SparkSession,
                                   d: String): String = {
    val tag = "sf" + d.replaceAll("[^0-9]", "").takeRight(8)
    val table = s"graft_bm25_$tag"
    if (!s.catalog.tableExists(table))
      graft.operators.Retrieval.writeBm25StatsTable(Tables.documents(s, d),
        col("doc_id"), col("text"), table, buckets = 8,
        path = Some(s"${sys.props("java.io.tmpdir")}/graft_bm25_$tag"))
    table
  }

  /** The q76 fixture: a stats table built over ~96% of the corpus
    * (doc_id % 23 <> 0), then [[graft.operators.Retrieval
    * .mergeBm25StatsTable]]d with the remaining slice — so serving the
    * FULL corpus from it replays q5x's oracle verbatim iff the keyed
    * merge produced exactly the whole-corpus statistics (the q6w/q6x
    * compaction-oracle shape on the retrieval axis: a df row the merge
    * missed, double-counted, or mis-bucketed shifts idf and breaks the
    * hash).
    */
  private def ensureMergedBm25Table(s: org.apache.spark.sql.SparkSession,
                                    d: String): String = {
    val tag = "sf" + d.replaceAll("[^0-9]", "").takeRight(8)
    val table = s"graft_bm25m_$tag"
    if (!s.catalog.tableExists(table)) {
      val docs = Tables.documents(s, d)
      graft.operators.Retrieval.writeBm25StatsTable(
        docs.where(col("doc_id") % 23 =!= 0),
        col("doc_id"), col("text"), table, buckets = 8,
        path = Some(s"${sys.props("java.io.tmpdir")}/graft_bm25m_$tag"))
      graft.operators.Retrieval.mergeBm25StatsTable(
        docs.where(col("doc_id") % 23 === 0), col("text"), table, "append1")
    }
    table
  }

  /** The q5x/q71/q76 oracle as a function of the documents table name.
    * See the Retrieval scaladoc for the exact
    * double-chain contract (integer micro-unit contributions, exact-binary
    * k1=1.25 / b=0.75 literals).
    */
  def bm25OracleSql(table: String): String = {
    val in = Bm25Terms.map(t => s"'$t'").mkString(", ")
    s"""WITH tok AS (SELECT doc_id, string_split(text, ' ') AS t FROM $table),
       |dl AS (SELECT doc_id, len(t) AS dl FROM tok),
       |stats AS (SELECT count(*) AS n,
       |            CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl FROM dl),
       |w AS (SELECT doc_id, unnest(t) AS w FROM tok),
       |tf AS (SELECT doc_id, w AS term, count(*) AS tf FROM w
       |       WHERE w IN ($in)
       |       GROUP BY doc_id, w),
       |df AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
       |contrib AS (
       |  SELECT tf.doc_id,
       |    CAST(round(1e6 * (
       |      ln((stats.n - df.df + CAST(0.5 AS DOUBLE))
       |         / (df.df + CAST(0.5 AS DOUBLE)) + CAST(1.0 AS DOUBLE))
       |      * (tf.tf * CAST(2.25 AS DOUBLE))
       |      / (tf.tf + CAST(1.25 AS DOUBLE)
       |         * (CAST(0.25 AS DOUBLE)
       |            + CAST(0.75 AS DOUBLE) * dl.dl / stats.avgdl))
       |    )) AS BIGINT) AS c
       |  FROM tf JOIN df USING (term) JOIN dl USING (doc_id)
       |  CROSS JOIN stats),
       |s AS (SELECT doc_id, count(*) AS matched,
       |        CAST(sum(c) AS BIGINT) AS score
       |      FROM contrib GROUP BY doc_id)
       |SELECT doc_id, matched, score FROM s
       |ORDER BY score DESC, doc_id LIMIT 20""".stripMargin
  }
}
