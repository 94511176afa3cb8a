package graft.queries

import graft.Tables
import graft.operators._
import org.apache.spark.sql.functions._

/** The reference's domain operators (SURVEY.md §2 D/E/F/H) replayed on the
  * driver tables: imputation, encodings, stratified folds, grouped sampling,
  * slide roll-up, metrics, and decision fusion. Each query synthesizes the
  * reference's implicit schemas (labels, scores, folds) deterministically
  * from the TPC-H-ish columns so a DuckDB oracle can replay it exactly:
  * all derived randomness is integer arithmetic, never engine RNG.
  */
object PdiQueries {

  /** Metadata-table stand-in with deterministic nulls: age-like continuous
    * column (nulls every 7th key) and categorical column (nulls every 11th).
    * Mirrors FIXTURES.md §1.1 on the customer table.
    */
  private def meta(s: org.apache.spark.sql.SparkSession, d: String) =
    Tables.customer(s, d).select(
      col("c_custkey"),
      when(col("c_custkey") % 7 === 0, lit(null)).otherwise(col("c_acctbal")).as("age"),
      when(col("c_custkey") % 11 === 0, lit(null)).otherwise(col("c_nationkey") % 5).as("cat"),
      col("c_mktsegment").as("stratum"))

  private val metaSql =
    """SELECT c_custkey,
      |  CASE WHEN c_custkey % 7 = 0 THEN NULL ELSE c_acctbal END AS age,
      |  CASE WHEN c_custkey % 11 = 0 THEN NULL ELSE c_nationkey % 5 END AS cat,
      |  c_mktsegment AS stratum
      |FROM customer""".stripMargin

  val defs: Seq[QueryDef] = Seq(

    // ---- E1/E3: mean imputation (functions_v2.py:35-39) -------------------
    QueryDef.sql("q20_impute_mean",
      s"""WITH b AS ($metaSql), m AS (SELECT avg(age) AS mv FROM b)
         |SELECT c_custkey, round(coalesce(age, mv), 2) AS age_imputed
         |FROM b, m ORDER BY c_custkey""".stripMargin) { (s, d) =>
      Impute.meanImpute(meta(s, d), Seq("age"))
        .select(col("c_custkey"), round(col("age"), 2).as("age_imputed"))
        .orderBy(col("c_custkey"))
    },

    // ---- E2/E3: mode imputation, lowest-value tie-break -------------------
    QueryDef.sql("q21_impute_mode",
      s"""WITH b AS ($metaSql),
         |m AS (SELECT cat FROM b WHERE cat IS NOT NULL
         |      GROUP BY cat ORDER BY count(*) DESC, cat LIMIT 1)
         |SELECT b.c_custkey, coalesce(b.cat, m.cat) AS cat_imputed
         |FROM b, m ORDER BY b.c_custkey""".stripMargin) { (s, d) =>
      Impute.modeImpute(meta(s, d), Seq("cat"))
        .select(col("c_custkey"), col("cat").as("cat_imputed"))
        .orderBy(col("c_custkey"))
    },

    // ---- F1: min-max scaling (functions_v2.py:154-163) --------------------
    QueryDef.sql("q22_minmax_scale",
      """WITH m AS (SELECT min(c_acctbal) AS mn, max(c_acctbal) AS mx FROM customer)
        |SELECT c_custkey, round((c_acctbal - mn) / (mx - mn), 6) AS bal_scaled
        |FROM customer, m ORDER BY c_custkey""".stripMargin) { (s, d) =>
      Encode.scale01(Tables.customer(s, d), "c_acctbal", "bal_scaled")
        .select(col("c_custkey"), round(col("bal_scaled"), 6).as("bal_scaled"))
        .orderBy(col("c_custkey"))
    },

    // ---- F2: one-hot encoding (functions_v2.py:165-193) -------------------
    QueryDef.sql("q23_onehot",
      """SELECT c_custkey,
        |  CASE WHEN c_nationkey % 3 = 0 THEN 1 ELSE 0 END AS loc_0,
        |  CASE WHEN c_nationkey % 3 = 1 THEN 1 ELSE 0 END AS loc_1,
        |  CASE WHEN c_nationkey % 3 = 2 THEN 1 ELSE 0 END AS loc_2
        |FROM customer ORDER BY c_custkey""".stripMargin) { (s, d) =>
      val base = Tables.customer(s, d)
        .withColumn("loc", col("c_nationkey") % 3)
      Encode.oneHotCols(base, "loc", Seq(0, 1, 2), "loc")
        .select(col("c_custkey"), col("loc_0"), col("loc_1"), col("loc_2"))
        .orderBy(col("c_custkey"))
    },

    // ---- F3: right-inclusive bucketize (functions_v2.py:198-218) ----------
    // Same <=30 / <=60 / >60 boundary semantics, on acctbal/100.
    QueryDef.sql("q24_bucketize",
      """SELECT c_custkey,
        |  CASE WHEN c_acctbal / 100 <= 30 THEN 0
        |       WHEN c_acctbal / 100 <= 60 THEN 1 ELSE 2 END AS age_class
        |FROM customer ORDER BY c_custkey""".stripMargin) { (s, d) =>
      val base = Tables.customer(s, d).withColumn("age100", col("c_acctbal") / 100)
      Encode.bucketize(base, "age100", Seq(30.0, 60.0), "age_class")
        .select(col("c_custkey"), col("age_class"))
        .orderBy(col("c_custkey"))
    },

    // ---- D1/D2: stratified k-fold + set assignment ------------------------
    QueryDef.sql("q25_stratified_folds",
      """SELECT c_custkey,
        |  (row_number() OVER (PARTITION BY c_mktsegment ORDER BY c_custkey) - 1) % 5 AS fold,
        |  CASE WHEN (row_number() OVER (PARTITION BY c_mktsegment ORDER BY c_custkey) - 1) % 5 < 1 THEN 'val'
        |       WHEN (row_number() OVER (PARTITION BY c_mktsegment ORDER BY c_custkey) - 1) % 5 < 3 THEN 'test'
        |       ELSE 'train' END AS "set"
        |FROM customer ORDER BY c_custkey""".stripMargin) { (s, d) =>
      val folds = StratifiedFolds.assignRoundRobin(
        Tables.customer(s, d), Seq(col("c_mktsegment")), 5, col("c_custkey"))
      StratifiedFolds.assignSets(folds, nVal = 1, nTest = 2)
        .select(col("c_custkey"), col("fold").cast("long").as("fold"), col("set"))
        .orderBy(col("c_custkey"))
    },

    // ---- E6: fold-balance audit (functions_v2.py:83-96) -------------------
    QueryDef.sql("q26_fold_audit",
      """WITH f AS (
        |  SELECT c_custkey, c_acctbal, c_mktsegment,
        |    (row_number() OVER (PARTITION BY c_mktsegment ORDER BY c_custkey) - 1) % 5 AS fold
        |  FROM customer)
        |SELECT fold, count(*) AS n,
        |  CAST(sum(CASE WHEN c_mktsegment = 'BUILDING' THEN 1 ELSE 0 END) AS BIGINT) AS n_building,
        |  round(avg(c_acctbal), 2) AS mean_bal
        |FROM f GROUP BY fold ORDER BY fold""".stripMargin) { (s, d) =>
      // audit's output is ordered by fold; the projection keeps that order
      StratifiedFolds.audit(
          StratifiedFolds.assignRoundRobin(
            Tables.customer(s, d), Seq(col("c_mktsegment")), 5, col("c_custkey")),
          Map("c_mktsegment" -> Seq("BUILDING")), Seq("c_acctbal"))
        .select(col("fold").cast("long").as("fold"), col("n"),
          col("n_c_mktsegment_BUILDING").as("n_building"),
          round(col("mean_c_acctbal"), 2).as("mean_bal"))
    },

    // ---- D1 variant: order-1 iterative stratification (functions_v2.py:78-81)
    // The public Sechidis greedy for disjoint strata with deterministic
    // tie-breaks collapses to a closed form (see
    // StratifiedFolds.assignIterative's proof sketch): order strata
    // rarest-first (ties by key), samples by id within stratum; the i-th
    // unit overall lands in fold i mod k. The oracle replays exactly that
    // via the same triangular-offset construction in SQL — a FULL hash
    // oracle over the greedy's assignment, not just its invariants.
    QueryDef.sql("q56_iterative_strat",
      """WITH sz AS (
        |  SELECT c_mktsegment, count(*) AS m FROM customer GROUP BY 1),
        |off AS (
        |  SELECT x.c_mktsegment, coalesce(sum(y.m), 0) AS off
        |  FROM sz x LEFT JOIN sz y
        |    ON y.m < x.m OR (y.m = x.m AND y.c_mktsegment < x.c_mktsegment)
        |  GROUP BY x.c_mktsegment),
        |r AS (
        |  SELECT c_custkey, c_mktsegment,
        |    row_number() OVER (PARTITION BY c_mktsegment ORDER BY c_custkey) - 1 AS rk
        |  FROM customer)
        |SELECT r.c_custkey, CAST((off + rk) % 5 AS INT) AS fold
        |FROM r JOIN off ON r.c_mktsegment = off.c_mktsegment
        |ORDER BY r.c_custkey""".stripMargin) { (s, d) =>
      StratifiedFolds.assignIterative(
          Tables.customer(s, d), Seq(col("c_mktsegment")), 5, col("c_custkey"))
        .select(col("c_custkey"), col("fold"))
        .orderBy(col("c_custkey"))
    },

    // ---- D3: seeded per-group sampling (dataset_classes_v1.py:44-51) ------
    // Engine-independent pseudo-random order (Knuth multiplicative hash) so
    // the oracle reproduces the sample exactly.
    QueryDef.sql("q27_group_sample",
      """SELECT c_mktsegment, c_custkey FROM (
        |  SELECT c_mktsegment, c_custkey,
        |    row_number() OVER (PARTITION BY c_mktsegment
        |      ORDER BY (c_custkey * 2654435761) % 1000000007, c_custkey) AS rn
        |  FROM customer) t
        |WHERE rn <= 10
        |ORDER BY c_mktsegment, c_custkey""".stripMargin) { (s, d) =>
      Sampling.takePerGroup(Tables.customer(s, d), Seq(col("c_mktsegment")), 10,
          struct(Sampling.pseudoRand(col("c_custkey")), col("c_custkey")))
        .select(col("c_mktsegment"), col("c_custkey"))
        .orderBy(col("c_mktsegment"), col("c_custkey"))
    },

    // ---- E4/F8: per-slide score roll-up (functions_v2.py:515-563) ---------
    // orders ≙ slides, lineitems ≙ tiles; scores derived from exact integer
    // arithmetic so both engines agree bit-for-bit before rounding.
    // Scores enter the roll-up as INTEGER-VALUED doubles (raw 0-99
    // residues) and are scaled to 0-1 only in the output projection: the
    // per-group sums are then exact, so avg — and crucially the
    // pred = score1 > score0 comparison, which TIES exactly for many
    // groups — is bit-identical across engines. Feeding pre-divided
    // (inexact) scores flipped pred on ulp noise at sf0.1 (68 tied
    // groups), invisible at the sf0.01 gate.
    QueryDef.sql("q28_slide_rollup",
      """SELECT l_orderkey AS group_id,
        |  round(avg(l_partkey % 100) / 100.0, 6) AS score0,
        |  round(avg(l_suppkey % 100) / 100.0, 6) AS score1,
        |  max(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS label,
        |  CASE WHEN avg(l_suppkey % 100) > avg(l_partkey % 100)
        |       THEN 1 ELSE 0 END AS pred
        |FROM lineitem GROUP BY l_orderkey ORDER BY group_id""".stripMargin) { (s, d) =>
      val tiles = Tables.lineitem(s, d).select(
        col("l_orderkey"),
        (col("l_partkey") % 100).cast("double").as("s0"),
        (col("l_suppkey") % 100).cast("double").as("s1"),
        when(col("l_returnflag") === "R", 1).otherwise(0).as("y"))
      SlideRollup.rollup2(tiles, col("l_orderkey"), col("s0"), col("s1"), col("y"))
        .select(col("group_id"),
          round(col("score0") / 100.0, 6).as("score0"),
          round(col("score1") / 100.0, 6).as("score1"),
          col("label"), col("pred"))
        .orderBy(col("group_id"))
    },

    // ---- E5: balanced accuracy (sklearn semantics) -------------------------
    QueryDef.sql("q29_balanced_accuracy",
      """WITH t AS (SELECT CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS y,
        |                  CASE WHEN l_discount > 0.05 THEN 1 ELSE 0 END AS p
        |           FROM lineitem),
        |r AS (SELECT y, avg(CASE WHEN p = y THEN 1.0 ELSE 0.0 END) AS rec
        |      FROM t GROUP BY y)
        |SELECT round(avg(rec), 6) AS balanced_accuracy FROM r""".stripMargin) { (s, d) =>
      Metrics.balancedAccuracy(Tables.lineitem(s, d),
          when(col("l_returnflag") === "R", 1).otherwise(0),
          when(col("l_discount") > 0.05, 1).otherwise(0))
        .select(round(col("balanced_accuracy"), 6).as("balanced_accuracy"))
    },

    // ---- E7: AUROC with sklearn average-rank ties --------------------------
    // Integer-valued scores (sum of quantities) make ties common —
    // deliberately exercising the average-rank path deterministically.
    QueryDef.sql("q30_auroc",
      """WITH s AS (
        |  SELECT o.o_orderkey, CASE WHEN o.o_orderstatus = 'F' THEN 1 ELSE 0 END AS y,
        |         sum(l.l_quantity) AS sc
        |  FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        |  GROUP BY o.o_orderkey, o.o_orderstatus),
        |g AS (SELECT sc, CAST(sum(y) AS BIGINT) AS pos, count(*) AS n
        |      FROM s GROUP BY sc),
        |r AS (SELECT pos, n,
        |        (2 * sum(n) OVER (ORDER BY sc ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |         - n + 1) / 2.0 AS avg_rank
        |      FROM g)
        |SELECT round((sum(pos * avg_rank) - sum(pos) * (sum(pos) + 1) / 2.0)
        |       / (sum(pos) * (sum(n) - sum(pos))), 6) AS auroc
        |FROM r""".stripMargin) { (s, d) =>
      // l_quantity is integer-valued (TPC-H quantities), so the summed score
      // is exactly representable as long — cast to opt into Metrics' simple
      // integer-score cumsum path (the distinct-score table is tiny); the
      // oracle keeps the double and groups/ranks identically.
      val slide = Tables.orders(s, d)
        .join(Tables.lineitem(s, d), col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderkey"), col("o_orderstatus"))
        .agg(sum(col("l_quantity")).cast("long").as("sc"))
        .select(when(col("o_orderstatus") === "F", 1).otherwise(0).as("y"), col("sc"))
      Metrics.auroc(slide, col("y"), col("sc"))
        .select(round(col("auroc"), 6).as("auroc"))
    },

    // ---- H3: naive decision fusion (ipynb:1485-1530) -----------------------
    // cnn-side score from lineitem roll-up, rf-side from customer metadata;
    // override pred AND score when confidence <= 0.7 (inclusive).
    QueryDef.sql("q31_fusion_naive",
      """WITH cnn AS (
        |  SELECT l_orderkey AS k,
        |    (CAST(sum(l_quantity) AS BIGINT) % 100) / 100.0 AS cnn_score1
        |  FROM lineitem GROUP BY l_orderkey),
        |c2 AS (SELECT k, cnn_score1,
        |         CASE WHEN cnn_score1 >= 0.5 THEN 1 ELSE 0 END AS cnn_pred,
        |         CASE WHEN cnn_score1 >= 0.5 THEN cnn_score1 ELSE 1.0 - cnn_score1 END AS cnn_conf
        |       FROM cnn),
        |rf AS (SELECT o_orderkey AS k,
        |         CAST(o_custkey % 2 AS INT) AS rf_pred,
        |         (o_custkey % 10) / 10.0 AS rf_score1
        |       FROM orders)
        |SELECT c2.k AS group_id, c2.cnn_pred, rf.rf_pred,
        |  CASE WHEN c2.cnn_conf <= 0.7 THEN rf.rf_pred ELSE c2.cnn_pred END AS fused_pred,
        |  round(CASE WHEN c2.cnn_conf <= 0.7 THEN rf.rf_score1 ELSE c2.cnn_score1 END, 4) AS fused_score1
        |FROM c2 JOIN rf ON c2.k = rf.k
        |ORDER BY group_id""".stripMargin) { (s, d) =>
      val cnn = Tables.lineitem(s, d)
        .groupBy(col("l_orderkey").as("k"))
        .agg(((sum(col("l_quantity")).cast("long") % 100) / 100.0).as("cnn_score1"))
        .withColumn("cnn_pred", when(col("cnn_score1") >= 0.5, 1).otherwise(0))
        .withColumn("cnn_conf", SlideRollup.confidence(col("cnn_score1"), col("cnn_pred")))
      val rf = Tables.orders(s, d).select(
        col("o_orderkey").as("k"),
        (col("o_custkey") % 2).cast("int").as("rf_pred"),
        ((col("o_custkey") % 10) / 10.0).as("rf_score1"))
      Fusion.naive(cnn, rf, "k", v = 0.7)
        .select(col("k").as("group_id"), col("cnn_pred"), col("rf_pred"),
          col("fused_pred"), round(col("fused_score1"), 4).as("fused_score1"))
        .orderBy(col("group_id"))
    },

    // ---- H2: threshold sweep (ipynb:1277-1392) ------------------------------
    QueryDef.sql("q32_threshold_sweep",
      """WITH cnn AS (
        |  SELECT l_orderkey AS k,
        |    (CAST(sum(l_quantity) AS BIGINT) % 100) / 100.0 AS cnn_score1
        |  FROM lineitem GROUP BY l_orderkey),
        |c2 AS (SELECT k, cnn_score1,
        |         CASE WHEN cnn_score1 >= 0.5 THEN 1 ELSE 0 END AS cnn_pred,
        |         CASE WHEN cnn_score1 >= 0.5 THEN cnn_score1 ELSE 1.0 - cnn_score1 END AS cnn_conf
        |       FROM cnn),
        |j AS (SELECT c2.*, CAST(o.o_custkey % 2 AS INT) AS rf_pred,
        |             CASE WHEN o.o_orderstatus = 'F' THEN 1 ELSE 0 END AS y
        |      FROM c2 JOIN orders o ON o.o_orderkey = c2.k)
        |SELECT v, CAST(sum(CASE WHEN cnn_conf <= v THEN 1 ELSE 0 END) AS BIGINT) AS n_uncertain,
        |  round(avg(CASE WHEN (CASE WHEN cnn_conf <= v THEN rf_pred ELSE cnn_pred END) = y
        |                 THEN 1.0 ELSE 0.0 END), 6) AS fused_acc
        |FROM j, (VALUES (0.6), (0.65), (0.7), (0.75), (0.8), (0.85), (0.9), (0.95), (1.0)) t(v)
        |GROUP BY v ORDER BY v""".stripMargin) { (s, d) =>
      val cnn = Tables.lineitem(s, d)
        .groupBy(col("l_orderkey").as("k"))
        .agg(((sum(col("l_quantity")).cast("long") % 100) / 100.0).as("cnn_score1"))
        .withColumn("cnn_pred", when(col("cnn_score1") >= 0.5, 1).otherwise(0))
        .withColumn("cnn_conf", SlideRollup.confidence(col("cnn_score1"), col("cnn_pred")))
      val j = cnn.join(Tables.orders(s, d), col("k") === col("o_orderkey"))
        .withColumn("rf_pred", (col("o_custkey") % 2).cast("int"))
        .withColumn("y", when(col("o_orderstatus") === "F", 1).otherwise(0))
      Fusion.thresholdSweep(j, Seq(0.6, 0.65, 0.7, 0.75, 0.8, 0.85, 0.9, 0.95, 1.0), col("y"))
        .select(col("v"), col("n_uncertain"),
          round(col("fused_acc"), 6).as("fused_acc"))
        .orderBy(col("v"))
    },

    // ---- H4: uncertain-subset fusion comparison (ipynb:1563-1601) ----------
    QueryDef.sql("q38_uncertain_subset",
      """WITH cnn AS (
        |  SELECT l_orderkey AS k,
        |    (CAST(sum(l_quantity) AS BIGINT) % 100) / 100.0 AS cnn_score1
        |  FROM lineitem GROUP BY l_orderkey),
        |c2 AS (SELECT k, cnn_score1,
        |         CASE WHEN cnn_score1 >= 0.5 THEN cnn_score1
        |              ELSE 1.0 - cnn_score1 END AS cnn_conf
        |       FROM cnn),
        |j AS (SELECT c2.*, CAST(o.o_custkey % 2 AS INT) AS rf_pred,
        |             CAST((o.o_custkey % 3) % 2 AS INT) AS se_pred,
        |             CASE WHEN o.o_orderstatus = 'F' THEN 1 ELSE 0 END AS y
        |      FROM c2 JOIN orders o ON o.o_orderkey = c2.k),
        |m AS (SELECT 'rf' AS model, rf_pred AS pred, y, cnn_conf FROM j
        |      UNION ALL SELECT 'se', se_pred, y, cnn_conf FROM j),
        |e AS (SELECT v, model, pred, y FROM m,
        |        (VALUES (0.6), (0.65), (0.7)) t(v)
        |      WHERE cnn_conf <= v),
        |r AS (SELECT v, model, y,
        |        avg(CASE WHEN pred = y THEN 1.0 ELSE 0.0 END) AS rec
        |      FROM e GROUP BY v, model, y),
        |ba AS (SELECT v, model, round(avg(rec), 6) AS balanced_accuracy
        |       FROM r GROUP BY v, model),
        |n AS (SELECT v, model, count(*) AS n_uncertain FROM e GROUP BY v, model)
        |SELECT ba.v, ba.model, ba.balanced_accuracy, n.n_uncertain
        |FROM ba JOIN n ON ba.v = n.v AND ba.model = n.model
        |ORDER BY ba.v, ba.model""".stripMargin) { (s, d) =>
      val cnn = Tables.lineitem(s, d)
        .groupBy(col("l_orderkey").as("k"))
        .agg(((sum(col("l_quantity")).cast("long") % 100) / 100.0).as("cnn_score1"))
        .withColumn("cnn_pred", when(col("cnn_score1") >= 0.5, 1).otherwise(0))
        .withColumn("cnn_conf", SlideRollup.confidence(col("cnn_score1"), col("cnn_pred")))
      val j = cnn.join(Tables.orders(s, d), col("k") === col("o_orderkey"))
        .withColumn("rf_pred", (col("o_custkey") % 2).cast("int"))
        .withColumn("se_pred", ((col("o_custkey") % 3) % 2).cast("int"))
        .withColumn("y", when(col("o_orderstatus") === "F", 1).otherwise(0))
      Fusion.uncertainSubsetBA(j, col("cnn_conf"), col("y"),
          Seq("rf" -> col("rf_pred"), "se" -> col("se_pred")),
          Seq(0.6, 0.65, 0.7))
        .select(col("v"), col("model"),
          round(col("balanced_accuracy"), 6).as("balanced_accuracy"),
          col("n_uncertain"))
        .orderBy(col("v"), col("model"))
    },

    // ---- H1: multi-model × fold grouped evaluation (ipynb cells 12/13) ----
    // The reference's 4-model × 5-fold evaluation loop as ONE query: melt
    // injected per-model scores (the scoring-boundary contract — models run
    // outside the engine, their scores arrive as columns), then grouped
    // balanced accuracy + grouped AUROC over (model, fold) in two hash
    // aggregations — no per-(model, fold) driver loop anywhere. Scores are
    // integer-valued so the rank arithmetic is exact across engines.
    QueryDef.sql("q37_multimodel_eval",
      """WITH cnn AS (
        |  SELECT l_orderkey AS k, CAST(sum(l_quantity) AS BIGINT) % 100 AS cnn_sc
        |  FROM lineitem GROUP BY l_orderkey),
        |base AS (
        |  SELECT o.o_orderkey % 5 AS fold,
        |    CASE WHEN o.o_orderstatus = 'F' THEN 1 ELSE 0 END AS y,
        |    cnn.cnn_sc, o.o_custkey % 100 AS rf_sc,
        |    (o.o_custkey * 7 + 13) % 100 AS cat_sc,
        |    (o.o_custkey + o.o_orderkey) % 100 AS se_sc
        |  FROM cnn JOIN orders o ON o.o_orderkey = cnn.k),
        |m AS (
        |  SELECT 'cnn' AS model, fold, y, cnn_sc AS sc FROM base
        |  UNION ALL SELECT 'rf', fold, y, rf_sc FROM base
        |  UNION ALL SELECT 'cat', fold, y, cat_sc FROM base
        |  UNION ALL SELECT 'se', fold, y, se_sc FROM base),
        |r AS (SELECT model, fold, y,
        |        avg(CASE WHEN (CASE WHEN sc >= 50 THEN 1 ELSE 0 END) = y
        |            THEN 1.0 ELSE 0.0 END) AS rec
        |      FROM m GROUP BY model, fold, y),
        |ba AS (SELECT model, fold, avg(rec) AS balanced_accuracy
        |       FROM r GROUP BY model, fold),
        |g AS (SELECT model, fold, sc, CAST(sum(y) AS BIGINT) AS pos, count(*) AS n
        |      FROM m GROUP BY model, fold, sc),
        |rk AS (SELECT model, fold, pos, n,
        |        (2 * sum(n) OVER (PARTITION BY model, fold ORDER BY sc
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n + 1) / 2.0 AS avg_rank
        |       FROM g),
        |au AS (SELECT model, fold,
        |        (sum(pos * avg_rank) - sum(pos) * (sum(pos) + 1) / 2.0)
        |          / (sum(pos) * (sum(n) - sum(pos))) AS auroc
        |       FROM rk GROUP BY model, fold)
        |SELECT ba.model, ba.fold,
        |  round(ba.balanced_accuracy, 6) AS balanced_accuracy,
        |  round(au.auroc, 6) AS auroc
        |FROM ba JOIN au ON ba.model = au.model AND ba.fold = au.fold
        |ORDER BY ba.model, ba.fold""".stripMargin) { (s, d) =>
      val cnn = Tables.lineitem(s, d)
        .groupBy(col("l_orderkey").as("k"))
        .agg((sum(col("l_quantity")).cast("long") % 100).as("cnn_sc"))
      val base = cnn.join(Tables.orders(s, d), col("k") === col("o_orderkey"))
        .select(
          (col("o_orderkey") % 5).as("fold"),
          when(col("o_orderstatus") === "F", 1).otherwise(0).as("y"),
          col("cnn_sc"),
          (col("o_custkey") % 100).as("rf_sc"),
          ((col("o_custkey") * 7 + 13) % 100).as("cat_sc"),
          ((col("o_custkey") + col("o_orderkey")) % 100).as("se_sc"))
      val melted = base.selectExpr("fold", "y",
        "stack(4, 'cnn', cnn_sc, 'rf', rf_sc, 'cat', cat_sc, 'se', se_sc) AS (model, sc)")
      // ONE pass: BA + AUROC from the joint (model, fold, sc, y)
      // distribution — separate balancedAccuracyBy + aurocBy calls would
      // run the lineitem-agg + orders-join subtree once per metric
      Metrics.evalSuite(melted, col("y"), col("sc"), threshold = 50.0,
          groups = Seq("model", "fold"))
        .select(col("model"), col("fold"),
          round(col("balanced_accuracy"), 6).as("balanced_accuracy"),
          round(col("auroc"), 6).as("auroc"))
        .orderBy(col("model"), col("fold"))
    },

    // ---- E8: mean ± population std across folds (np.std ddof=0) -----------
    QueryDef.sql("q33_mean_std_folds",
      """WITH f AS (SELECT o_orderkey % 5 AS fold, avg(o_totalprice) AS m
        |           FROM orders GROUP BY o_orderkey % 5)
        |SELECT round(avg(m), 4) AS mean_metric, round(stddev_pop(m), 4) AS std_metric
        |FROM f""".stripMargin) { (s, d) =>
      val perFold = Tables.orders(s, d)
        .groupBy((col("o_orderkey") % 5).as("fold"))
        .agg(avg(col("o_totalprice")).as("m"))
      Metrics.meanStd(perFold, col("m"))
        .select(round(col("mean"), 4).as("mean_metric"),
          round(col("std"), 4).as("std_metric"))
    }
  )
}
