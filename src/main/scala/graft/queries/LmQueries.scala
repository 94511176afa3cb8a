package graft.queries

import graft.{Memo, Tables}
import graft.ml.NgramLm
import graft.operators.Sampling
import org.apache.spark.sql.functions._

/** Corpus-construction queries: n-gram LM quality scoring (the CCNet
  * perplexity-filter recipe), temperature-weighted source mixing (the
  * mT5/LLaMA mixing rule), and the deterministic training-shard sink —
  * the corpus-shaping steps that sit between the heuristic text signals
  * (q40–q43) and training consumption.
  */
object LmQueries {

  /** Caps sized to BIND on the fixture corpus (vocab > 25, bigrams > 600 at
    * every SF), so the deterministic top-V truncation — the part that makes
    * the model bounded at 100 TB — is itself oracle-verified, OOV fallback
    * included.
    */
  private val UniCap = 25
  private val BiCap = 600

  /** q5s trigram caps — bind at every SF (see the q5s comment). */
  private val TriCtxCap = 300
  private val TriGramCap = 900

  /** q5t stupid-backoff caps (orders 1/2/3) and discount — every cap BINDS
    * at every SF (vocab 31 > 20, distinct bigrams > 916, trigrams > 16k at
    * sf0.001), so all four backoff branches — full trigram hit, bigram
    * backoff, unigram backoff, OOV floor — carry oracle-checked rows.
    */
  private val BoUniCap = 20
  private val BoBiCap = 300
  private val BoTriCap = 900
  private val BoAlpha = 0.4

  /** q5u gate threshold — splits the q5t perplexity distribution for real
    * at every SF (kept 217/500 at sf0.001, 231/500 at sf0.01, 464/5000 at
    * sf0.1), so both branches of the gate carry oracle-checked rows.
    */
  private val BoGatePpl = 400.0
  /** The exact per-level α-power double literals the kernel, the joined
    * path, and the DuckDB oracle all share (repeated multiplication —
    * [[graft.expressions.BackoffLmScore.alphaPowers]]).
    */
  private val BoAp = graft.expressions.BackoffLmScore.alphaPowers(BoAlpha, 3)
    .map(java.lang.Double.toString)

  /** The q5k oracle as a function of the documents table/view name. */
  def lmScoreOracleSql(table: String): String =
    lmScoreOracleSqlOn(table, table)

  /** The self-fit model's two count tables as standalone SELECTs — the
    * SAME capped fit the q5k CTE inlines, factored out so the bench can
    * materialize them ONCE per session (the Spark side's ensureSelfModel
    * amortization, given to the oracle too — see [[benchFixtures]]).
    */
  private def lmFitUniSql(fitFrom: String): String =
    s"""SELECT w, count(*) AS c
       |FROM (SELECT unnest(string_split(text, ' ')) AS w FROM $fitFrom)
       |GROUP BY w ORDER BY c DESC, w LIMIT $UniCap""".stripMargin

  private def lmFitBiSql(fitFrom: String): String =
    s"""SELECT b, count(*) AS c
       |FROM (SELECT unnest([t[i+1] || ' ' || t[i+2]
       |                     for i in range(len(t) - 1)]) AS b
       |      FROM (SELECT string_split(text, ' ') AS t FROM $fitFrom))
       |GROUP BY b ORDER BY c DESC, b LIMIT $BiCap""".stripMargin

  /** The scoring half of the q5k replay — a CTE chain body (no leading
    * WITH) reading the model from `uniT`/`biT`, which may be the inlined
    * fit CTEs or pre-materialized fixture tables. ONE text of the scoring
    * arithmetic, so the canonical oracle and the bench's amortized
    * variant can never drift apart.
    */
  private def lmScoreBodySql(uniT: String, biT: String,
                             scoreFrom: String): String =
    s"""t AS (SELECT doc_id, string_split(text, ' ') AS t FROM $scoreFrom),
       |bg AS (SELECT doc_id, unnest([t[i+1] || ' ' || t[i+2]
       |                              for i in range(len(t) - 1)]) AS b FROM t),
       |bgw AS (SELECT doc_id, b, string_split(b, ' ')[1] AS w1 FROM bg),
       |terms AS (
       |  SELECT g.doc_id,
       |    CAST(round(1e6 * ln((coalesce(bic.c, 0) + 1.0)
       |                        / (coalesce(uni.c, 0) + $UniCap.0))) AS BIGINT) AS term,
       |    CASE WHEN bic.c IS NULL THEN 1 ELSE 0 END AS oov
       |  FROM bgw g
       |  LEFT JOIN $uniT uni ON uni.w = g.w1
       |  LEFT JOIN $biT bic ON bic.b = g.b)
       |SELECT doc_id, count(*) AS n_bigrams,
       |  CAST(sum(oov) AS BIGINT) AS oov_bigrams,
       |  CAST(sum(term) AS BIGINT) AS lm_score,
       |  round(exp(-(CAST(sum(term) AS DOUBLE) / (1e6 * count(*)))), 6) AS ppl
       |FROM terms GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** The general cross-corpus form (q5p): the model's count tables come
    * from `fitFrom` (any table name or parenthesized subquery) while
    * scoring runs over `scoreFrom` — the CCNet deployment shape, fit on a
    * clean reference corpus and gate a different one.
    */
  def lmScoreOracleSqlOn(fitFrom: String, scoreFrom: String): String =
    s"""WITH uni AS (${lmFitUniSql(fitFrom)}),
       |bic AS (${lmFitBiSql(fitFrom)}),
       |${lmScoreBodySql("uni", "bic", scoreFrom)}""".stripMargin

  /** The q5k scoring replay against PRE-MATERIALIZED model tables. */
  private def lmScoreFixtureSql(scoreFrom: String): String =
    s"WITH ${lmScoreBodySql(FixUni, FixBi, scoreFrom)}"

  private val FixUni = "graft_lm_uni"
  private val FixBi = "graft_lm_bi"

  /** One-time DuckDB setup for the BENCH baseline: the q5k/q5o/q5q self-
    * fit model materialized once per session (`CREATE TEMP TABLE name AS
    * sql`). This mirrors the Spark side's [[ensureSelfModel]] — ONE fit
    * serves all three queries there, so charging the oracle a fresh fit
    * per query padded the denominator (r10 verdict). The bench runs these
    * untimed but REPORTS the setup seconds (`_fixture_setup`), and only
    * swaps a query to its fixture variant after an in-run equivalence
    * check against the canonical oracle SQL (tools/duckdb_bench.py).
    * Correctness runs (Verify/driver) never see these — they replay the
    * full self-contained SQL.
    */
  def benchFixtures: Map[String, String] = Map(
    FixUni -> lmFitUniSql("documents"),
    FixBi -> lmFitBiSql("documents"),
    FixBoUni -> boFitUniSql("documents"),
    FixBoBi -> boFitBiSql("documents"),
    FixBoTri -> boFitTriSql("documents"))

  /** Bench-only oracle variants scoring against [[benchFixtures]] tables —
    * semantically identical to the canonical oracles (same scoring body
    * text), minus the per-query refit.
    */
  def benchOverrides: Map[String, String] = Map(
    "q5k_lm_score" -> lmScoreFixtureSql("documents"),
    "q5o_ppl_gate" ->
      s"""WITH p AS (${lmScoreFixtureSql("documents")})
         |SELECT doc_id FROM p WHERE ppl <= 40.0
         |ORDER BY doc_id""".stripMargin,
    "q5q_ppl_buckets" ->
      s"""WITH p AS (${lmScoreFixtureSql("documents")}),
         |j AS (SELECT d.lang AS lang, p.doc_id AS doc_id, p.ppl AS ppl
         |      FROM p JOIN documents d ON d.doc_id = p.doc_id),
         |r AS (SELECT lang, doc_id,
         |        row_number() OVER (PARTITION BY lang
         |                           ORDER BY ppl, doc_id) AS rn,
         |        count(*) OVER (PARTITION BY lang) AS n
         |      FROM j)
         |SELECT doc_id, lang, CAST((rn - 1) * 3 // n + 1 AS INT) AS bucket
         |FROM r ORDER BY doc_id""".stripMargin,
    "q5t_backoff_lm" -> backoffFixtureSql("documents"),
    "q5u_backoff_gate" ->
      s"""WITH p AS (${backoffFixtureSql("documents")})
         |SELECT doc_id FROM p WHERE ppl <= $BoGatePpl
         |ORDER BY doc_id""".stripMargin,
    "q5v_kn_lm" ->
      s"WITH ${knScoreBodySql(FixUni, FixBi, "documents")}",
    "q5w_kn3_lm" ->
      s"WITH ${kn3ScoreBodySql(FixBoUni, FixBoBi, FixBoTri, "documents")}",
    "q6d_stream_ppl_gate" ->
      s"""WITH p AS (${lmScoreFixtureSql("documents")})
         |SELECT doc_id FROM p WHERE ppl <= 40.0
         |ORDER BY doc_id""".stripMargin)

  /** q73 replay: BOTH drift rows recomputed from the raw tables — the
    * q5k scoring chain per side (re-fit inline from `fitFrom`),
    * aggregated to (n_docs, n_grams, Σ lm_score). Each side's full WITH
    * chain nests inside a parenthesized subquery (the q6u/q72
    * precedent); assembled by plain concatenation so no stripMargin can
    * eat the inner pipes.
    */
  def lmDriftReplaySql(fitFrom: String, buildFrom: String,
                       batchFrom: String): String = {
    def side(scoreFrom: String): String =
      "(SELECT count(*) AS n_docs, " +
        "CAST(coalesce(sum(n_bigrams), 0) AS BIGINT) AS n_grams, " +
        "CAST(coalesce(sum(lm_score), 0) AS BIGINT) AS sum_score_micro " +
        "FROM (" + lmScoreOracleSqlOn(fitFrom, scoreFrom) + "))"
    "SELECT 'batch' AS src, n_docs, n_grams, sum_score_micro FROM " +
      side(batchFrom) +
      "\nUNION ALL\nSELECT 'build', n_docs, n_grams, sum_score_micro FROM " +
      side(buildFrom) + "\nORDER BY src"
  }

  /** The q73 model artifact with its drift sidecar: the q5k self-fit
    * saved once per sf dir, baseline stat over the SAME fit corpus.
    */
  private val lmDriftCache = new Memo[String, String]
  private def ensureLmDriftPath(s: org.apache.spark.sql.SparkSession,
                                d: String): String =
    lmDriftCache(d) {
      val path = sessionTmp(s, "q73_lm_drift", d)
      NgramLm.save(s, ensureSelfModel(s, d), path)
      NgramLm.writeDriftSidecar(s, path, Tables.documents(s, d),
        col("doc_id"), col("text"))
      path
    }

  /** The q7a artifact: the q73 serving lifecycle (self-fit save + drift
    * baseline) on its OWN path — q73 keeps serving the original model
    * from its — then a refit-and-swap with a model fit on the %3=2
    * reference slice, once per sf dir, so the scoring genuinely serves
    * the post-swap artifact.
    */
  private val refitLmCache = new Memo[String, String]
  private def ensureRefitLmPath(s: org.apache.spark.sql.SparkSession,
                                d: String): String =
    refitLmCache(d) {
      val path = sessionTmp(s, "q7a_lm_refit", d)
      val docs = Tables.documents(s, d)
      NgramLm.save(s, ensureSelfModel(s, d), path)
      NgramLm.writeDriftSidecar(s, path, docs, col("doc_id"), col("text"))
      // the drift contract fired: refit on the reference slice, swap
      val slice = docs.where(col("doc_id") % 3 === 2)
      val refit = NgramLm.fit(slice, col("text"), UniCap, BiCap)
      NgramLm.refitAndSwap(s, refit, slice, col("doc_id"), col("text"), path)
      path
    }

  /** The corpus self-fit at the fixture caps, memoized per sf dir —
    * q5k/q5o/q5q all fit the IDENTICAL model (same corpus, same caps,
    * deterministic truncation), so within a session one fit job serves
    * all three (the ensureQualityModel discipline; correctness-neutral
    * because refitting reproduces the same model bit-for-bit, which
    * NgramLmSpec pins).
    */
  private val fitCache = new Memo[String, NgramLm.LmModel]
  private def ensureSelfModel(s: org.apache.spark.sql.SparkSession,
                              d: String): NgramLm.LmModel =
    fitCache(d)(
      NgramLm.fit(Tables.documents(s, d), col("text"), UniCap, BiCap))

  /** The backoff self-fit at the q5t caps, memoized per sf dir — q5t and
    * q5u fit the IDENTICAL model, so one fit job serves both (the
    * [[ensureSelfModel]] discipline; the bench gives the oracle the same
    * amortization via [[benchFixtures]], keeping the ratio symmetric).
    */
  private val boFitCache = new Memo[String, NgramLm.BackoffLm]
  private def ensureBackoffModel(s: org.apache.spark.sql.SparkSession,
                                 d: String): NgramLm.BackoffLm =
    boFitCache(d)(
      NgramLm.fitBackoff(Tables.documents(s, d), col("text"), order = 3,
        caps = Seq(BoUniCap, BoBiCap, BoTriCap), alpha = BoAlpha))

  /** q5z BPE geometry: vocab cap binds (corpus vocab ≈ 31 > 25 words at
    * every SF) so the truncation is oracle-verified; 12 merges give a
    * real multi-character subword alphabet on the synthetic vocabulary.
    */
  private val BpeVocabCap = 25
  private val BpeNMerges = 12
  /** q6e pack budget, in BPE tokens — larger than q4h's whitespace budget
    * because subword segmentation multiplies the per-doc token count.
    */
  private val BpePackBudget = 4000L
  /** The SERVED tokenizer is the fit→save→load round trip (the CCNet
    * fit-once/segment-forever deployment shape, ml/BpeTokenizer.scala
    * save/load): q5z and q6e both consume the loaded artifact, so the
    * correctness gate exercises persistence end-to-end on every run
    * (BpeSpec additionally pins loaded == fitted bit-for-bit). One fit
    * job per sf dir serves both queries.
    */
  private val bpeCache = new Memo[String, graft.ml.BpeTokenizer.BpeModel]
  private def ensureBpeModel(s: org.apache.spark.sql.SparkSession,
                             d: String): graft.ml.BpeTokenizer.BpeModel =
    bpeCache(d) {
      val fitted = graft.ml.BpeTokenizer.fitModel(Tables.documents(s, d),
        col("text"), vocabCap = BpeVocabCap, nMerges = BpeNMerges)
      val path = sessionTmp(s, "bpe_model", d)
      graft.ml.BpeTokenizer.save(s, fitted, path)
      graft.ml.BpeTokenizer.load(s, path)
    }
  private def ensureBpeMerges(s: org.apache.spark.sql.SparkSession,
                              d: String): Seq[(String, String)] =
    ensureBpeModel(s, d).merges

  /** The q5z BPE-segmentation replay as ONE SQL text parameterized on the
    * learned merges and the documents table. See the q5z comment for the
    * bracketed-replace equivalence.
    */
  def bpeOracleSql(merges: Seq[(String, String)], table: String): String = {
    val base = """regexp_replace(word, '(.)', '[\1]', 'g')"""
    val seg = merges.foldLeft(base) { case (acc, (l, r)) =>
      s"replace($acc, '[$l][$r]', '[$l$r]')"
    }
    s"""WITH w AS (SELECT doc_id, unnest(string_split(text, ' ')) AS word
       |           FROM $table),
       |seg AS (SELECT doc_id,
       |          $seg AS s
       |        FROM w),
       |cnt AS (SELECT doc_id,
       |          length(s) - length(replace(s, '[', '')) AS n FROM seg)
       |SELECT doc_id, count(*) AS n_words, CAST(sum(n) AS BIGINT) AS n_tokens
       |FROM cnt GROUP BY doc_id ORDER BY doc_id""".stripMargin
  }

  /** The q6e BPE-ids + sequence-packing replay as ONE SQL text parameterized
    * on the fitted model and table. Extends the q5z bracketed-replace
    * segmentation replay three steps: (1) split each word's replayed
    * bracketed form back into symbols, (2) map each symbol to its token id
    * through the model's BOUNDED vocab embedded as a literal VALUES table
    * (alphabet then merge products — BpeModel.vocabIds verbatim; unseen
    * symbols → −1), (3) re-run the q4q pack replay over the resulting per-doc
    * id sequences. Exact integers end to end.
    */
  def bpePackOracleSql(model: graft.ml.BpeTokenizer.BpeModel,
                       table: String, budget: Long): String = {
    def q(s: String) = s.replace("'", "''")
    val base = """regexp_replace(word, '(.)', '[\1]', 'g')"""
    val seg = model.merges.foldLeft(base) { case (acc, (l, r)) =>
      s"replace($acc, '[${q(l)}][${q(r)}]', '[${q(l)}${q(r)}]')"
    }
    val vocabRows = model.vocabIds.toSeq.sortBy(_._2)
      .map { case (s, i) => s"('${q(s)}', $i)" }.mkString(", ")
    s"""WITH w AS (SELECT doc_id, unnest(t) AS word,
       |             unnest(range(len(t))) AS wp
       |           FROM (SELECT doc_id, string_split(text, ' ') AS t
       |                 FROM $table)),
       |seg AS (SELECT doc_id, wp, $seg AS s FROM w),
       |sym AS (SELECT doc_id, wp,
       |          unnest(string_split(substr(s, 2, length(s) - 2), '][')) AS sym,
       |          unnest(range(len(string_split(substr(s, 2, length(s) - 2),
       |            '][')))) AS sp
       |        FROM seg),
       |vocab(sym, id) AS (VALUES $vocabRows),
       |tok AS (SELECT t.doc_id, t.wp, t.sp, coalesce(v.id, -1) AS id
       |        FROM sym t LEFT JOIN vocab v USING (sym)),
       |docseq AS (SELECT doc_id, count(*) AS n,
       |             string_agg(CAST(id AS VARCHAR), ' ' ORDER BY wp, sp)
       |               AS ids_text
       |           FROM tok GROUP BY doc_id),
       |c AS (SELECT doc_id, n, ids_text,
       |        coalesce(sum(n) OVER (ORDER BY doc_id
       |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum
       |      FROM docseq)
       |SELECT CAST(floor(cum / $budget.0) AS BIGINT) AS pack_id,
       |  count(*) AS n_docs, CAST(sum(n) AS BIGINT) AS n_tokens,
       |  string_agg(ids_text, '<|eos|>' ORDER BY doc_id) AS text
       |FROM c GROUP BY 1 ORDER BY pack_id""".stripMargin
  }

  /** One session-scoped tmp root per Spark application, deleted
    * recursively by a single JVM shutdown hook — q5m/q5p write fixture
    * directories here, so a bench/verify session no longer leaks one
    * per-applicationId tree per run on the host (r10 ADVICE).
    */
  private[queries] def sessionTmp(s: org.apache.spark.sql.SparkSession, tag: String,
                         d: String): String = {
    val root = new java.io.File(sys.props("java.io.tmpdir"),
      s"graft_session_${s.sparkContext.applicationId}")
    if (root.mkdirs()) { // exactly one creator registers the cleanup
      def rm(f: java.io.File): Unit = {
        val kids = f.listFiles()
        if (kids != null) kids.foreach(rm)
        f.delete(); ()
      }
      Runtime.getRuntime.addShutdownHook(new Thread(() => rm(root)))
    }
    new java.io.File(root, s"${tag}_${new java.io.File(d).getName}").getPath
  }

  /** The backoff model's three capped count tables as standalone SELECTs
    * — the SAME fit the q5t/q5u oracles inline, factored out so the bench
    * can materialize them once per session ([[benchFixtures]], the q5k
    * leveling given to the backoff trio too).
    */
  private def boFitUniSql(fitFrom: String): String =
    s"""SELECT w, count(*) AS c
       |FROM (SELECT unnest(string_split(text, ' ')) AS w FROM $fitFrom)
       |GROUP BY w ORDER BY c DESC, w LIMIT $BoUniCap""".stripMargin

  private def boFitBiSql(fitFrom: String): String =
    s"""SELECT g, count(*) AS c
       |FROM (SELECT unnest([t[i+1] || ' ' || t[i+2]
       |                     for i in range(len(t) - 1)]) AS g
       |      FROM (SELECT string_split(text, ' ') AS t FROM $fitFrom))
       |GROUP BY g ORDER BY c DESC, g LIMIT $BoBiCap""".stripMargin

  private def boFitTriSql(fitFrom: String): String =
    s"""SELECT g, count(*) AS c
       |FROM (SELECT unnest([t[i+1] || ' ' || t[i+2] || ' ' || t[i+3]
       |                     for i in range(len(t) - 2)]) AS g
       |      FROM (SELECT string_split(text, ' ') AS t FROM $fitFrom))
       |GROUP BY g ORDER BY c DESC, g LIMIT $BoTriCap""".stripMargin

  /** The scoring half of the q5t replay — a CTE chain body (no leading
    * WITH) reading the model from `uniT`/`biT`/`triT`, which may be the
    * inlined fit CTEs or pre-materialized fixture tables; `tot` derives
    * from `uniT` either way. ONE text of the 5-way CASE arithmetic shared
    * by the canonical oracle, the gate oracle, and the bench's amortized
    * variants.
    */
  private def backoffScoreBodySql(uniT: String, biT: String, triT: String,
                                  scoreFrom: String): String =
      s"""t AS (SELECT doc_id, string_split(text, ' ') AS t FROM $scoreFrom),
         |tot AS (SELECT CAST(sum(c) AS BIGINT) AS tc FROM $uniT),
         |s AS (SELECT doc_id, unnest([t[i+1] || ' ' || t[i+2] || ' ' || t[i+3]
         |                             for i in range(len(t) - 2)]) AS g FROM t),
         |sk AS (SELECT doc_id, g,
         |         array_to_string(string_split(g, ' ')[1:2], ' ') AS b12,
         |         array_to_string(string_split(g, ' ')[2:3], ' ') AS b23,
         |         string_split(g, ' ')[2] AS w2,
         |         string_split(g, ' ')[3] AS w3 FROM s),
         |terms AS (
         |  SELECT sk.doc_id,
         |    CASE
         |      WHEN tg.c IS NOT NULL AND bc.c IS NOT NULL
         |        THEN CAST(round(1e6 * ln(CAST(${BoAp(0)} AS DOUBLE) * tg.c / bc.c)) AS BIGINT)
         |      WHEN bg.c IS NOT NULL AND u2.c IS NOT NULL
         |        THEN CAST(round(1e6 * ln(CAST(${BoAp(1)} AS DOUBLE) * bg.c / u2.c)) AS BIGINT)
         |      WHEN u3.c IS NOT NULL
         |        THEN CAST(round(1e6 * ln(CAST(${BoAp(2)} AS DOUBLE) * u3.c / tot.tc)) AS BIGINT)
         |      ELSE CAST(round(1e6 * ln(CAST(${BoAp(2)} AS DOUBLE) / tot.tc)) AS BIGINT)
         |    END AS term,
         |    CASE WHEN tg.c IS NOT NULL AND bc.c IS NOT NULL
         |         THEN 0 ELSE 1 END AS bo
         |  FROM sk
         |  LEFT JOIN $triT tg ON tg.g = sk.g
         |  LEFT JOIN $biT bc ON bc.g = sk.b12
         |  LEFT JOIN $biT bg ON bg.g = sk.b23
         |  LEFT JOIN $uniT u2 ON u2.w = sk.w2
         |  LEFT JOIN $uniT u3 ON u3.w = sk.w3
         |  CROSS JOIN tot)
         |SELECT doc_id, count(*) AS n_grams, CAST(sum(bo) AS BIGINT) AS backoffs,
         |  CAST(sum(term) AS BIGINT) AS lm_score,
         |  round(exp(-(CAST(sum(term) AS DOUBLE) / (1e6 * count(*)))), 6) AS ppl
         |FROM terms GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** q5v Kneser-Ney absolute discount, embedded identically as a double
    * literal in the oracle SQL and passed to the kernel.
    */
  private val KnD = 0.75

  /** The scoring half of the q5v Kneser-Ney replay — a CTE chain body (no
    * leading WITH) reading the model from `uniT`/`biT` (inlined fit CTEs
    * or the SAME pre-materialized graft_lm_* fixture tables q5k uses: one
    * fit, two smoothers). The KN statistics N1+(v·)/N1+(·w)/N1+(··) are
    * derived from the capped bigram table by plain aggregation — exactly
    * what the kernel builds per task — and the CASE spells the exact
    * left-to-right double op order the kernel and joined path execute.
    */
  private def knScoreBodySql(uniT: String, biT: String,
                             scoreFrom: String): String =
    s"""nf AS (SELECT string_split(b, ' ')[1] AS v, count(*) AS k
       |       FROM $biT GROUP BY v),
       |nb AS (SELECT string_split(b, ' ')[2] AS w, count(*) AS k
       |       FROM $biT GROUP BY w),
       |n12 AS (SELECT count(*) AS m FROM $biT),
       |t AS (SELECT doc_id, string_split(text, ' ') AS t FROM $scoreFrom),
       |bg AS (SELECT doc_id, unnest([t[i+1] || ' ' || t[i+2]
       |                              for i in range(len(t) - 1)]) AS b FROM t),
       |bgw AS (SELECT doc_id, b, string_split(b, ' ')[1] AS w1,
       |               string_split(b, ' ')[2] AS w2 FROM bg),
       |terms AS (
       |  SELECT g.doc_id,
       |    CAST(round(1e6 * ln(
       |      CASE WHEN uni.c IS NOT NULL THEN
       |        (CASE WHEN bic.c IS NOT NULL
       |              THEN (bic.c - CAST($KnD AS DOUBLE)) / uni.c
       |              ELSE CAST(0.0 AS DOUBLE) END)
       |        + CAST($KnD AS DOUBLE) * (coalesce(nf.k, 0) + CAST(1.0 AS DOUBLE))
       |          / uni.c
       |          * ((coalesce(nb.k, 0) + CAST(1.0 AS DOUBLE)) / (n12.m + $UniCap))
       |      ELSE (coalesce(nb.k, 0) + CAST(1.0 AS DOUBLE)) / (n12.m + $UniCap)
       |      END)) AS BIGINT) AS term,
       |    CASE WHEN bic.c IS NULL THEN 1 ELSE 0 END AS oov
       |  FROM bgw g
       |  LEFT JOIN $uniT uni ON uni.w = g.w1
       |  LEFT JOIN $biT bic ON bic.b = g.b
       |  LEFT JOIN nf ON nf.v = g.w1
       |  LEFT JOIN nb ON nb.w = g.w2
       |  CROSS JOIN n12)
       |SELECT doc_id, count(*) AS n_bigrams,
       |  CAST(sum(oov) AS BIGINT) AS oov_bigrams,
       |  CAST(sum(term) AS BIGINT) AS lm_score,
       |  round(exp(-(CAST(sum(term) AS DOUBLE) / (1e6 * count(*)))), 6) AS ppl
       |FROM terms GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** The q5v oracle as a function of the documents table name. */
  def knOracleSql(table: String): String =
    s"""WITH uni0 AS (${lmFitUniSql(table)}),
       |bi0 AS (${lmFitBiSql(table)}),
       |${knScoreBodySql("uni0", "bi0", table)}""".stripMargin

  /** The scoring half of the q5w order-3 interpolated-KN replay — a CTE
    * chain body reading the model from the SAME three per-order tables
    * the stupid-backoff oracle fits (one multi-order fit, two smoothers).
    * Stage `p2t` computes the bigram-KN distribution P2(w3|w2) exactly as
    * q5v spells it; stage `terms` interpolates the discounted trigram
    * mass over the carried P2 — the same staged evaluation the kernel
    * and joined path execute, so the double chains replay bit-for-bit.
    */
  private def kn3ScoreBodySql(uniT: String, biT: String, triT: String,
                              scoreFrom: String): String =
    s"""nf2 AS (SELECT string_split(g, ' ')[1] AS w, count(*) AS k
       |        FROM $biT GROUP BY w),
       |nb2 AS (SELECT string_split(g, ' ')[2] AS w, count(*) AS k
       |        FROM $biT GROUP BY w),
       |nf3 AS (SELECT array_to_string(string_split(g, ' ')[1:2], ' ') AS k2,
       |               count(*) AS k
       |        FROM $triT GROUP BY k2),
       |m2 AS (SELECT count(*) AS m FROM $biT),
       |t AS (SELECT doc_id, string_split(text, ' ') AS t FROM $scoreFrom),
       |s AS (SELECT doc_id, unnest([t[i+1] || ' ' || t[i+2] || ' ' || t[i+3]
       |                             for i in range(len(t) - 2)]) AS g FROM t),
       |sk AS (SELECT doc_id, g,
       |         array_to_string(string_split(g, ' ')[1:2], ' ') AS b12,
       |         array_to_string(string_split(g, ' ')[2:3], ' ') AS b23,
       |         string_split(g, ' ')[2] AS w2,
       |         string_split(g, ' ')[3] AS w3 FROM s),
       |p2t AS (
       |  SELECT sk.doc_id, sk.g, sk.b12,
       |    CASE WHEN u2.c IS NOT NULL THEN
       |      (CASE WHEN bg.c IS NOT NULL
       |            THEN (bg.c - CAST($KnD AS DOUBLE)) / u2.c
       |            ELSE CAST(0.0 AS DOUBLE) END)
       |      + CAST($KnD AS DOUBLE) * (coalesce(nf2.k, 0) + CAST(1.0 AS DOUBLE))
       |        / u2.c
       |        * ((coalesce(nb2.k, 0) + CAST(1.0 AS DOUBLE)) / (m2.m + $BoUniCap))
       |    ELSE (coalesce(nb2.k, 0) + CAST(1.0 AS DOUBLE)) / (m2.m + $BoUniCap)
       |    END AS p2
       |  FROM sk
       |  LEFT JOIN $uniT u2 ON u2.w = sk.w2
       |  LEFT JOIN $biT bg ON bg.g = sk.b23
       |  LEFT JOIN nf2 ON nf2.w = sk.w2
       |  LEFT JOIN nb2 ON nb2.w = sk.w3
       |  CROSS JOIN m2),
       |terms AS (
       |  SELECT p2t.doc_id,
       |    CAST(round(1e6 * ln(
       |      CASE WHEN bc.c IS NOT NULL THEN
       |        (CASE WHEN tg.c IS NOT NULL
       |              THEN (tg.c - CAST($KnD AS DOUBLE)) / bc.c
       |              ELSE CAST(0.0 AS DOUBLE) END)
       |        + CAST($KnD AS DOUBLE) * (coalesce(nf3.k, 0) + CAST(1.0 AS DOUBLE))
       |          / bc.c * p2t.p2
       |      ELSE p2t.p2 END)) AS BIGINT) AS term,
       |    CASE WHEN tg.c IS NULL THEN 1 ELSE 0 END AS oov
       |  FROM p2t
       |  LEFT JOIN $biT bc ON bc.g = p2t.b12
       |  LEFT JOIN $triT tg ON tg.g = p2t.g
       |  LEFT JOIN nf3 ON nf3.k2 = p2t.b12)
       |SELECT doc_id, count(*) AS n_trigrams,
       |  CAST(sum(oov) AS BIGINT) AS oov_trigrams,
       |  CAST(sum(term) AS BIGINT) AS lm_score,
       |  round(exp(-(CAST(sum(term) AS DOUBLE) / (1e6 * count(*)))), 6) AS ppl
       |FROM terms GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** The q5w oracle as a function of the documents table name. */
  def kn3OracleSql(table: String): String =
    s"""WITH uni AS (${boFitUniSql(table)}),
       |bi AS (${boFitBiSql(table)}),
       |tri AS (${boFitTriSql(table)}),
       |${kn3ScoreBodySql("uni", "bi", "tri", table)}""".stripMargin

  /** The q5t oracle as a function of the documents table name. */
  def backoffOracleSql(table: String): String =
    s"""WITH uni AS (${boFitUniSql(table)}),
       |bi AS (${boFitBiSql(table)}),
       |tri AS (${boFitTriSql(table)}),
       |${backoffScoreBodySql("uni", "bi", "tri", table)}""".stripMargin

  /** The q5t/q5u scoring replay against PRE-MATERIALIZED model tables. */
  private def backoffFixtureSql(scoreFrom: String): String =
    s"WITH ${backoffScoreBodySql(FixBoUni, FixBoBi, FixBoTri, scoreFrom)}"

  private val FixBoUni = "graft_bo_uni"
  private val FixBoBi = "graft_bo_bi"
  private val FixBoTri = "graft_bo_tri"

  val defs: Seq[QueryDef] = Seq(

    // ---- bigram-LM perplexity scoring (CCNet-style quality signal) -------
    // Self-scored corpus LM: fit bounded unigram/bigram tables, score each
    // document's add-one-smoothed bigram log-likelihood. Every per-gram
    // log-probability is rounded to micro-nats BEFORE summation, so
    // lm_score is an exact integer both engines agree on bit-for-bit.
    QueryDef.sql("q5k_lm_score", lmScoreOracleSql("documents")) { (s, d) =>
      val docs = Tables.documents(s, d)
      NgramLm.scoreDocs(docs, col("doc_id"), col("text"), ensureSelfModel(s, d))
        .orderBy(col("doc_id"))
    },

    // ---- temperature-weighted source mixing ------------------------------
    // Skewed 60/30/10 source split; alpha=0.5 flattening at a 0.3 corpus
    // budget upweights the small sources. The rates derive from per-source
    // counts on the driver (bounded: one row per source); the oracle
    // embeds the fitted rates as exact literals (q34's dynamic-oracle
    // pattern) and replays the keyed threshold filter row-for-row.
    QueryDef.dynamicSql("q5l_temperature_sample") { (s, d) =>
      val fr = Sampling.temperatureFractions(
        Sampling.mixtureCounts(srcSplit(s, d), col("src")),
        alpha = 0.5, targetFraction = 0.3)
      // CAST: a bare 17-digit literal parses as DECIMAL(18,17) in DuckDB
      // and overflows the *1e9 threshold multiply; the cast re-binds it to
      // the exact binary double the Spark side filters with
      val cases = fr.toSeq.sortBy(_._1)
        .map { case (g, f) =>
          s"WHEN '$g' THEN CAST(${java.lang.Double.toString(f)} AS DOUBLE)" }
        .mkString(" ")
      s"""WITH d AS (SELECT doc_id, $srcCaseSql AS src FROM documents)
         |SELECT doc_id, src FROM d
         |WHERE (doc_id * 2654435761) % 1000000007 <
         |  (CASE src $cases ELSE 0.0 END) * 1000000007
         |ORDER BY doc_id""".stripMargin
    } { (s, d) =>
      Sampling.sampleTemperature(srcSplit(s, d), col("src"), col("doc_id"),
          alpha = 0.5, targetFraction = 0.3)
        .orderBy(col("doc_id"))
    },

    // ---- perplexity gate (the CCNet filter itself) -----------------------
    // Keep documents at or under ppl 40 against the self-fitted model —
    // a real split at every SF (median ppl 39–67). The Spark side runs
    // the fused single-pass boolean kernel (zero shuffle, zero joins);
    // the oracle replays score + threshold over the shared q5k CTE.
    QueryDef.sql("q5o_ppl_gate",
      s"""WITH p AS (${lmScoreOracleSql("documents")})
         |SELECT doc_id FROM p WHERE ppl <= 40.0
         |ORDER BY doc_id""".stripMargin) { (s, d) =>
      val docs = Tables.documents(s, d)
      val m = ensureSelfModel(s, d)
      NgramLm.pplGate(docs, col("doc_id"), col("text"), m, maxPpl = 40.0)
        .select(col("doc_id")).orderBy(col("doc_id"))
    },

    // ---- LM-gate drift contract (q73): the q6s/q6z/q72 refit signal on
    // the perplexity axis — the model's count tables are frozen at fit
    // time, and this emits (src, n_docs, n_grams, sum_score_micro) for
    // the fit corpus (from the saved model's _drift.json sidecar) vs a
    // live batch. Fixture: the batch is an OOV-suffixed slice, whose
    // mean per-gram score must pull BELOW the baseline (ppl rising —
    // the re-calibrate signal). lm_score is the exact micro-nat sum,
    // so the oracle recomputes BOTH rows from raw tables via the q5k
    // scoring CTE — a corrupted sidecar breaks the hash. Completes the
    // drift symmetry across every frozen gate model (IVF-PQ q6s,
    // SemDeDup q6z, DSIR q72, perplexity q73).
    QueryDef.sql("q73_lm_drift", lmDriftReplaySql("documents",
      "documents",
      "(SELECT doc_id, text || ' zq zzq qqz' AS text FROM documents " +
        "WHERE doc_id % 9 = 0) drifted")) { (s, d) =>
      val batch = Tables.documents(s, d).where(col("doc_id") % 9 === 0)
        .select(col("doc_id"),
          concat(col("text"), lit(" zq zzq qqz")).as("text"))
      NgramLm.driftStats(s, ensureLmDriftPath(s, d), batch,
          col("doc_id"), col("text"))
        .orderBy(col("src"))
    },

    // ---- LM refit-and-swap (q7a): the drift contract's ACTION on the
    // perplexity axis — the q78/q79 discipline on the LM artifact: the
    // q73 serving lifecycle (self-fit saved + drift baseline) on its own
    // path, then a refit on the %3=2 reference slice (genuinely
    // different count tables) staged (counts + meta + a FRESH _drift
    // baseline, the witness) and atomically swapped under the serving
    // path; scoring then serves the post-swap artifact. The oracle
    // refits the SAME slice-model inline in SQL (the q5p cross-corpus
    // form) and replays the full score surface: a swap that kept the
    // old artifact, tore between the sidecars, or lost a count in the
    // round trip shifts lm_score and breaks the hash (swap == fresh
    // fit).
    QueryDef.sql("q7a_lm_refit",
      lmScoreOracleSqlOn(
        "(SELECT * FROM documents WHERE doc_id % 3 = 2)", "documents")) {
      (s, d) =>
        NgramLm.scoreDocs(Tables.documents(s, d), col("doc_id"),
            col("text"), NgramLm.load(s, ensureRefitLmPath(s, d)))
          .orderBy(col("doc_id"))
    },

    // ---- order-3 LM: the trigram generalization, oracle-pinned ------------
    // fitOrder(3): context table = capped bigram counts, gram table =
    // capped trigram counts, SAME single-scan fit / fused kernel /
    // micro-nat integer contract as the bigram model. Caps (300/900) BIND
    // at every SF (distinct bigrams > 916, trigrams > 16k at sf0.001), so
    // the truncation + OOV fallback are oracle-verified at order 3 too.
    QueryDef.sql("q5s_trigram_lm",
      s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
         |fb AS (SELECT unnest([t[i+1] || ' ' || t[i+2]
         |                      for i in range(len(t) - 1)]) AS g FROM t),
         |ctx AS (SELECT g, count(*) AS c FROM fb GROUP BY g
         |        ORDER BY c DESC, g LIMIT $TriCtxCap),
         |ft AS (SELECT unnest([t[i+1] || ' ' || t[i+2] || ' ' || t[i+3]
         |                      for i in range(len(t) - 2)]) AS g FROM t),
         |tg AS (SELECT g, count(*) AS c FROM ft GROUP BY g
         |       ORDER BY c DESC, g LIMIT $TriGramCap),
         |s AS (SELECT doc_id, unnest([t[i+1] || ' ' || t[i+2] || ' ' || t[i+3]
         |                             for i in range(len(t) - 2)]) AS g FROM t),
         |sw AS (SELECT doc_id, g,
         |         array_to_string(string_split(g, ' ')[1:2], ' ') AS c2 FROM s),
         |terms AS (
         |  SELECT sw.doc_id,
         |    CAST(round(1e6 * ln((coalesce(tg.c, 0) + 1.0)
         |                        / (coalesce(ctx.c, 0) + $TriCtxCap.0))) AS BIGINT) AS term,
         |    CASE WHEN tg.c IS NULL THEN 1 ELSE 0 END AS oov
         |  FROM sw LEFT JOIN ctx ON ctx.g = sw.c2 LEFT JOIN tg ON tg.g = sw.g)
         |SELECT doc_id, count(*) AS n_trigrams,
         |  CAST(sum(oov) AS BIGINT) AS oov_trigrams,
         |  CAST(sum(term) AS BIGINT) AS lm_score,
         |  round(exp(-(CAST(sum(term) AS DOUBLE) / (1e6 * count(*)))), 6) AS ppl
         |FROM terms GROUP BY doc_id ORDER BY doc_id""".stripMargin) { (s, d) =>
      val docs = Tables.documents(s, d)
      val m = NgramLm.fitOrder(docs, col("text"), order = 3,
        ctxCap = TriCtxCap, gramCap = TriGramCap)
      NgramLm.scoreDocs(docs, col("doc_id"), col("text"), m)
        .withColumnRenamed("n_bigrams", "n_trigrams")
        .withColumnRenamed("oov_bigrams", "oov_trigrams")
        .orderBy(col("doc_id"))
    },

    // ---- stupid-backoff LM (the production CCNet/KenLM shape) ------------
    // Score each trigram position against the LONGEST in-model gram,
    // falling back ×α per order dropped (Brants et al. 2007): trigram hit
    // c3/c2, bigram backoff α·c2/c1, unigram backoff α²·c1/T, OOV floor
    // α²/T. All three capped tables come from ONE fused multi-order fit
    // scan; α-powers are embedded as exact double literals on every path,
    // and each term rounds to micro-nat longs before the sum — the same
    // integer-exactness contract as q5k/q5s, now over a 5-way CASE the
    // oracle replays join-for-join.
    QueryDef.sql("q5t_backoff_lm", backoffOracleSql("documents")) { (s, d) =>
      val docs = Tables.documents(s, d)
      NgramLm.scoreDocsBackoff(docs, col("doc_id"), col("text"),
          ensureBackoffModel(s, d))
        .orderBy(col("doc_id"))
    },

    // ---- interpolated Kneser-Ney LM (the KenLM smoother) -----------------
    // The SAME capped count tables as q5k (one fit — ensureSelfModel's
    // session cache and the graft_lm_* bench fixtures serve both), scored
    // with interpolated KN: discounted bigram mass + continuation-count
    // backoff weight. All KN statistics derive from the capped bigram
    // table, so the oracle replays them with three extra aggregations and
    // the identical left-to-right double CASE; micro-nat integer terms as
    // everywhere.
    QueryDef.sql("q5v_kn_lm", knOracleSql("documents")) { (s, d) =>
      val docs = Tables.documents(s, d)
      val base = ensureSelfModel(s, d).asInstanceOf[NgramLm.BigramLm]
      NgramLm.scoreDocsKn(docs, col("doc_id"), col("text"),
          NgramLm.KnLm(base, KnD))
        .orderBy(col("doc_id"))
    },

    // ---- order-3 interpolated Kneser-Ney (the full KenLM recursion) ------
    // The q5v smoother one level deeper, over the SAME three per-order
    // capped tables the stupid-backoff model fits (ensureBackoffModel's
    // session cache and the graft_bo_* fixtures serve q5t/q5u/q5w alike):
    // discounted trigram mass interpolated with the bigram-KN
    // distribution of the last two words. The oracle stages P2 in its own
    // CTE and interpolates over the carried value — the exact evaluation
    // order of the kernel.
    QueryDef.sql("q5w_kn3_lm", kn3OracleSql("documents")) { (s, d) =>
      val docs = Tables.documents(s, d)
      NgramLm.scoreDocsKn3(docs, col("doc_id"), col("text"),
          NgramLm.Kn3Lm(ensureBackoffModel(s, d), KnD))
        .orderBy(col("doc_id"))
    },

    // ---- backoff perplexity gate (the production CCNet filter) -----------
    // The q5o gate with the stupid-backoff scorer: keep documents at or
    // under ppl 400 against the shared q5t self-fit — a real split at
    // every SF (43%/46%/9% kept). The Spark side is the fused
    // BackoffLmGate boolean kernel: the whole 5-way backoff readout
    // evaluates ONCE per row inside a zero-shuffle scan filter; the
    // oracle replays score + threshold over the shared q5t CTE.
    QueryDef.sql("q5u_backoff_gate",
      s"""WITH p AS (${backoffOracleSql("documents")})
         |SELECT doc_id FROM p WHERE ppl <= $BoGatePpl
         |ORDER BY doc_id""".stripMargin) { (s, d) =>
      val docs = Tables.documents(s, d)
      NgramLm.pplGateBackoff(docs, col("text"),
          ensureBackoffModel(s, d), maxPpl = BoGatePpl)
        .select(col("doc_id")).orderBy(col("doc_id"))
    },

    // ---- CCNet head/middle/tail perplexity bucketing ---------------------
    // The corpus-partitioning step that follows the perplexity score in
    // the CCNet pipeline: split each language's documents into k=3 tiers
    // by exact perplexity rank. Buckets come from pure integer rank
    // arithmetic over the (ppl, doc_id) total order, so the oracle
    // replays the assignment row-for-row with window functions.
    QueryDef.sql("q5q_ppl_buckets",
      s"""WITH p AS (${lmScoreOracleSql("documents")}),
         |j AS (SELECT d.lang AS lang, p.doc_id AS doc_id, p.ppl AS ppl
         |      FROM p JOIN documents d ON d.doc_id = p.doc_id),
         |r AS (SELECT lang, doc_id,
         |        row_number() OVER (PARTITION BY lang
         |                           ORDER BY ppl, doc_id) AS rn,
         |        count(*) OVER (PARTITION BY lang) AS n
         |      FROM j)
         |SELECT doc_id, lang, CAST((rn - 1) * 3 // n + 1 AS INT) AS bucket
         |FROM r ORDER BY doc_id""".stripMargin) { (s, d) =>
      val docs = Tables.documents(s, d)
      val scored = NgramLm.scoreDocs(docs, col("doc_id"), col("text"),
        ensureSelfModel(s, d)).select(col("doc_id"), col("ppl"))
      val j = scored.join(docs.select(col("doc_id"), col("lang")), Seq("doc_id"))
      graft.operators.Curate.rankBuckets(j, Seq("lang"), col("ppl"),
          col("doc_id"), k = 3)
        .select(col("doc_id"), col("lang"), col("bucket"))
        .orderBy(col("doc_id"))
    },

    // ---- LM persistence round-trip + cross-corpus gate -------------------
    // The CCNet deployment shape end-to-end: fit the LM on a CLEAN
    // reference slice (doc_id % 3 = 1 — a 1/3 slice keeps the double fit,
    // Spark's and the oracle's, off the suite wall), SAVE it to disk,
    // LOAD it back, and gate the FULL corpus with the loaded model. The
    // oracle refits the same slice-model in SQL and replays score +
    // threshold — any loss in the save/load round-trip (count, gram, cap,
    // or truncation order) shifts scores and breaks the match.
    QueryDef.sql("q5p_lm_roundtrip_gate",
      s"""WITH p AS (${lmScoreOracleSqlOn(
        "(SELECT * FROM documents WHERE doc_id % 3 = 1)", "documents")})
         |SELECT doc_id FROM p WHERE ppl <= 40.0
         |ORDER BY doc_id""".stripMargin) { (s, d) =>
      val docs = Tables.documents(s, d)
      val clean = docs.where(col("doc_id") % 3 === 1)
      val fitted = NgramLm.fit(clean, col("text"), UniCap, BiCap)
      val path = sessionTmp(s, "q5p_lm", d)
      NgramLm.save(s, fitted, path)
      val m = NgramLm.load(s, path)
      NgramLm.pplGate(docs, col("doc_id"), col("text"), m, maxPpl = 40.0)
        .select(col("doc_id")).orderBy(col("doc_id"))
    },

    // ---- BPE tokenizer fit + corpus segmentation stats -------------------
    // Sennrich BPE trained on the CAPPED word vocabulary (the original
    // algorithm's shape: one bounded word-count job, then a driver-local
    // merge loop — the q5l bounded-fit discipline), applied corpus-wide by
    // the fused BpeStats kernel. The oracle embeds the learned merges as
    // literals and replays segmentation verbatim: the kernel's leftmost
    // non-overlapping merge pass equals SQL replace() on the bracketed
    // symbol form [a][b][c] (brackets anchor matches to whole symbols and
    // stop adjacent matches sharing a delimiter), and tokens count as
    // length(s) - length(replace(s, '[', '')). Any drift in merge order,
    // tie-breaks, or application semantics breaks the hash.
    QueryDef.dynamicSql("q5z_bpe_tokens") { (s, d) =>
      bpeOracleSql(ensureBpeMerges(s, d), "documents")
    } { (s, d) =>
      graft.ml.BpeTokenizer.tokenStats(Tables.documents(s, d),
          col("doc_id"), col("text"), ensureBpeMerges(s, d))
        .orderBy(col("doc_id"))
    },

    // ---- BPE end-to-end: fit -> save -> load -> token-id segmentation ->
    //      sequence packing (the r11 verdict's "finish the tokenizer
    //      story") ----------------------------------------------------------
    // The served model is the fit->save->load ROUND TRIP (ensureBpeModel),
    // segmentation emits the real subword id sequences (BpeTokenIds
    // kernel), and packing runs on the REAL token counts — where q4h/q4q
    // packed whitespace-token counts, this packs what a trainer actually
    // consumes. The oracle replays segmentation (q5z's bracketed-replace
    // chain), maps symbols to ids through the embedded vocab, and re-runs
    // the q4q pack replay over the id sequences — merge list, id
    // assignment, UNK handling, pack boundaries, and the EOS-joined pack
    // text all hash-pinned at once.
    QueryDef.dynamicSql("q6e_bpe_pack") { (s, d) =>
      bpePackOracleSql(ensureBpeModel(s, d), "documents", BpePackBudget)
    } { (s, d) =>
      val seg = graft.ml.BpeTokenizer.segmentIds(
          Tables.documents(s, d).select(col("doc_id"), col("text")),
          col("doc_id"), col("text"), ensureBpeModel(s, d))
        .select(col("doc_id"),
          size(col("token_ids")).cast("long").as("n_tokens"),
          concat_ws(" ", col("token_ids").cast("array<string>")).as("ids_text"))
      graft.operators.Curate.materializePacks(seg, "n_tokens", "doc_id",
          "ids_text", BpePackBudget)
        .select(col("pack_id"), col("n_docs"), col("n_tokens"), col("text"))
        .orderBy(col("pack_id"))
    },

    // ---- STREAMING perplexity gate (the CCNet filter on an ingest stream) -
    // q5o's gate as a stateless streaming filter: the fused kernel rides
    // the stream, zero state-store state, no foreachBatch. Replayed in 2
    // micro-batches through the MemoryStream harness; per-row gating makes
    // batch boundaries irrelevant, so the oracle is EXACTLY q5o's score +
    // threshold replay — any divergence between the streaming and batch
    // paths breaks the hash.
    QueryDef.sql("q6d_stream_ppl_gate",
      s"""WITH p AS (${lmScoreOracleSql("documents")})
         |SELECT doc_id FROM p WHERE ppl <= 40.0
         |ORDER BY doc_id""".stripMargin) { (s, d) =>
      val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
      val m = ensureSelfModel(s, d).asInstanceOf[NgramLm.BigramLm]
      graft.streaming.DocStream.replayPplGatedIngest(docs, m, "doc_id",
          "text", sessionTmp(s, "q6d_pplgate", d), nBatches = 2,
          maxPpl = 40.0)
        .select(col("doc_id")).orderBy(col("doc_id"))
    },

    // ---- deterministic training-shard sink (global shuffle + shard) ------
    // The REAL sink round-trips: write 16 hash-assigned shard directories,
    // read them back, audit per shard. The oracle recomputes the shard
    // assignment arithmetically — a lost/dup/misrouted row anywhere in the
    // write→partition→read path breaks counts, token sums, or id bounds.
    QueryDef.sql("q5m_shard_audit",
      """WITH a AS (SELECT doc_id, (doc_id * 2654435761) % 1000000007 % 16 AS shard,
        |             len(string_split(text, ' ')) AS n FROM documents)
        |SELECT shard, count(*) AS n_docs, CAST(sum(n) AS BIGINT) AS n_tokens,
        |  min(doc_id) AS min_doc, max(doc_id) AS max_doc
        |FROM a GROUP BY shard ORDER BY shard""".stripMargin) { (s, d) =>
      val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
      // session-unique root: concurrent harness runs on one host must not
      // overwrite each other's shard round-trip directories, and the
      // shutdown hook reclaims the tree when the session ends
      val path = sessionTmp(s, "q5m_shards", d)
      graft.sources.Sources.writeTrainingShards(docs, col("doc_id"), 16, path)
      s.read.parquet(path)
        .groupBy(col("shard").cast("long").as("shard"))
        .agg(count(lit(1)).as("n_docs"),
          sum(graft.functions.TextFunctions.tokenCount(col("text")).cast("long"))
            .as("n_tokens"),
          min(col("doc_id")).as("min_doc"), max(col("doc_id")).as("max_doc"))
        .orderBy(col("shard"))
    }
  )

  /** Deterministic skewed source label (60% web / 30% books / 10% code) —
    * same arithmetic in [[srcCaseSql]] for the oracle.
    */
  private def srcSplit(s: org.apache.spark.sql.SparkSession, d: String) =
    Tables.documents(s, d).select(col("doc_id"),
      when(col("doc_id") % 10 < 6, "web")
        .when(col("doc_id") % 10 < 9, "books")
        .otherwise("code").as("src"))

  private val srcCaseSql =
    "(CASE WHEN doc_id % 10 < 6 THEN 'web' " +
      "WHEN doc_id % 10 < 9 THEN 'books' ELSE 'code' END)"
}
