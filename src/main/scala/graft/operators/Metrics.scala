package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Evaluation metrics matching sklearn semantics — the reference's
  * `balanced_accuracy_score` (functions_v2.py:358,536,561; notebook cell 13)
  * and `roc_auc_score` (patient_data_integration.ipynb:1252,1523), plus the
  * mean ± population-std fold summary (`np.std` is ddof=0 —
  * ipynb:1256-1259).
  *
  * Both metrics are compositions of built-in hash aggregations (no UDAF,
  * SURVEY.md §2 I): map-side partial aggregation applies, and AUROC avoids a
  * global row sort by first collapsing to distinct score values (usually
  * orders of magnitude smaller than the row count) before ranking.
  */
object Metrics {

  /** Balanced accuracy = unweighted mean of per-class recall
    * (sklearn.metrics.balanced_accuracy_score). Classes absent from the
    * label column simply don't contribute (sklearn's "adjusted" warning
    * path). Returns a 1-row DataFrame `(balanced_accuracy DOUBLE)`.
    */
  def balancedAccuracy(df: DataFrame, label: Column, pred: Column): DataFrame =
    balancedAccuracyBy(df, label, pred, Nil)

  /** Grouped balanced accuracy: one row per group combination — collapses
    * the reference's per-(mode, fold) Python loops (ipynb:1185-1259) into a
    * single two-level hash aggregation. `groups` are column names on `df`;
    * output keeps them.
    */
  def balancedAccuracyBy(df: DataFrame, label: Column, pred: Column,
                         groups: Seq[String]): DataFrame = {
    val gc = groups.map(col)
    val perClass = df.select(gc :+ label.as("__y") :+ pred.as("__p"): _*)
      .groupBy(gc :+ col("__y"): _*)
      .agg(avg(when(col("__p") === col("__y"), 1.0).otherwise(0.0)).as("__recall"))
    // ungrouped: the per-class table (one row per class) on one task, so
    // the global avg plans no exchange of its own
    if (gc.isEmpty) Par.oneTask(perClass).agg(avg(col("__recall")).as("balanced_accuracy"))
    else perClass.groupBy(gc: _*).agg(avg(col("__recall")).as("balanced_accuracy"))
  }

  /** Per-class recall table (the intermediate the reference prints in its
    * fold audits): `(class, recall, support)`.
    */
  def recallByClass(df: DataFrame, label: Column, pred: Column): DataFrame =
    df.select(label.as("class"), pred.as("__p"))
      .groupBy(col("class"))
      .agg(avg(when(col("__p") === col("class"), 1.0).otherwise(0.0)).as("recall"),
           count(lit(1)).as("support"))
      .orderBy(col("class"))

  /** AUROC via the Mann-Whitney U statistic with sklearn's average-rank tie
    * handling. `label` must be 0/1.
    *
    * Plan shape: groupBy(score) → distributed prefix-sum over the
    * distinct-score table (range partition + local cumsum + broadcast
    * per-partition offsets; no single-partition stage even for continuous
    * scores) → one final agg. Returns a 1-row DataFrame `(auroc DOUBLE)`.
    */
  def auroc(df: DataFrame, label: Column, score: Column): DataFrame =
    aurocBy(df, label, score, Nil)

  /** Grouped AUROC: one row per group combination (e.g. per (fold, set)).
    * The ranking window partitions by the groups, so each group ranks
    * independently and in parallel — no global sort anywhere when grouped.
    */
  def aurocBy(df: DataFrame, label: Column, score: Column,
              groups: Seq[String]): DataFrame = {
    val gc = groups.map(col)
    val byScore = df.select(gc :+ score.as("__s") :+ label.cast("long").as("__y"): _*)
      .groupBy(gc :+ col("__s"): _*)
      .agg(sum(col("__y")).as("__pos"), count(lit(1)).as("__n"))
    aurocFromCum(cumOverScores(byScore, gc), gc)
  }

  /** Inclusive cumulative count over the per-(groups, score) table, in
    * score order — the shared ranking step of [[aurocBy]] and
    * [[evalSuite]].
    *
    * Grouped: the window partitions by the groups, so each group ranks
    * independently and in parallel — already scale-safe.
    *
    * Ungrouped: an unpartitioned `Window.orderBy(__s)` would funnel the
    * whole distinct-score table (= |rows| when scores are all-distinct)
    * through ONE task — a scale-killer, and the accidental-global-window
    * shape PlanSpec forbids suite-wide. Instead the classic distributed
    * prefix-sum: bucket by score VALUE (min/max bounds + affine bucketing —
    * monotone in `__s`, so bucket order = score order), local cumulative
    * sums per bucket, plus per-bucket prefix offsets. The bucket id is
    * DERIVED FROM THE DATA, not `spark_partition_id()`, so every branch
    * that consumes it computes identical ids even if exchange reuse is
    * disabled or the planner stops deduplicating the repartition subtree.
    * The offsets come from a TRIANGULAR self-join of the (≤
    * shuffle.partitions rows) bucket-totals table — window-free, so no
    * single-partition stage exists anywhere in the plan (pinned by
    * MetricsSpec and the suite-wide PlanSpec window pin).
    */
  private[graft] def cumOverScores(byScore: DataFrame,
                                   gc: Seq[Column]): DataFrame =
    if (gc.nonEmpty) {
      val w = Window.partitionBy(gc: _*).orderBy(col("__s"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      byScore.withColumn("__cum", sum(col("__n")).over(w))
    } else {
      PrefixSum.inclusiveCum(byScore, col("__n"), col("__s"), col("__s"), "__cum")
    }

  /** The rank→U-statistic tail shared by [[aurocBy]] and [[evalSuite]]:
    * takes the per-(groups, score) table with its cumulative count and
    * produces one AUROC row per group.
    */
  private def aurocFromCum(cummed: DataFrame, gc: Seq[Column]): DataFrame = {
    val ranked = cummed
      // average rank of a tie group of size n ending at cumulative count c:
      // (c - n + 1 + c) / 2
      .withColumn("__avgRank", (col("__cum") * 2 - col("__n") + 1) / 2.0)
    // single-class groups (all-positive or all-negative labels) have an
    // undefined AUROC: emit NULL for that group instead of letting the
    // ANSI divide-by-zero kill the whole job (sklearn raises per call; a
    // grouped engine must degrade per group)
    val denom = sum(col("__pos")) * (sum(col("__n")) - sum(col("__pos")))
    val aurocExpr =
      when(denom > 0,
        (sum(col("__pos") * col("__avgRank"))
          - sum(col("__pos")) * (sum(col("__pos")) + 1) / 2.0) / denom)
        .as("auroc")
    if (gc.isEmpty) ranked.agg(aurocExpr)
    else ranked.groupBy(gc: _*).agg(aurocExpr)
  }

  /** Balanced accuracy AND AUROC per group from ONE pass over the data.
    *
    * Calling [[balancedAccuracyBy]] + [[aurocBy]] separately re-executes
    * the input DAG once per metric (two shuffles of the full row set, and
    * — when the input is an unpersisted join/melt pipeline — two runs of
    * everything upstream; only the leaf exchanges dedupe via reuse). This
    * collapses the row set ONCE into its joint (groups, score, label)
    * distribution — a single map-side-combined hash aggregation, after
    * which both metrics are arithmetic over a table bounded by
    * |groups| × |distinct scores| × |classes|. At 100× sf0.1 (60 M scored
    * rows) this took the 4-model evaluation from 7.2 s to the cost of the
    * upstream join alone.
    *
    * The chain is linear: joint aggregate → per-score aggregate → ranking
    * window → one final aggregate computing both metrics. On a
    * hash-partitioned input each step re-groups and plans its own
    * exchange (three); on a single-partition input (Experiment.evaluate's
    * slide table, `Par.oneTask`) it plans none.
    *
    * BA's prediction is `score >= threshold → 1 else 0` (the roll-up
    * convention, SlideRollup.rollup1); labels must be 0/1. Returns
    * (groups…, balanced_accuracy, auroc) — bit-identical to the separate
    * operators (pinned by MetricsSpec).
    */
  def evalSuite(df: DataFrame, label: Column, score: Column,
                threshold: Double, groups: Seq[String]): DataFrame = {
    val gc = groups.map(col)
    val joint = df
      .select(gc :+ score.as("__s") :+ label.cast("long").as("__y"): _*)
      .groupBy(gc :+ col("__s") :+ col("__y"): _*)
      .agg(count(lit(1)).as("__jn"))
    // one linear chain, no BA/AUROC branch join: a branched shape plans
    // the whole upstream pipeline twice and leaves it to AQE's stage reuse
    // whether it also RUNS twice; a chain cannot re-execute upstream
    val byScore = joint.groupBy(gc :+ col("__s"): _*)
      .agg(sum(when(col("__y") === 1L, col("__jn")).otherwise(0L)).as("__pos"),
        sum(col("__jn")).as("__n"))
    // same ranking machinery as aurocBy: grouped → per-group window;
    // ungrouped → value-bucketed distributed prefix-sum (no global window)
    val ranked = cumOverScores(byScore, gc)
      .withColumn("__avgRank", (col("__cum") * 2 - col("__n") + 1) / 2.0)
    // BA terms from the same rows: recall1 = positives predicted 1
    // (score >= t) over all positives; recall0 symmetric. Exact integer
    // sums, one division each — bit-identical to balancedAccuracyBy's
    // per-class avg (pinned by MetricsSpec/MetricsGoldenSpec); groups
    // where a class is absent average over the present classes only.
    val posTot = sum(col("__pos"))
    val negTot = sum(col("__n") - col("__pos"))
    val posGe = sum(when(col("__s") >= threshold, col("__pos")).otherwise(0L))
    // negatives counted correct are those NOT predicted 1 — phrased as the
    // negation of the posGe predicate (not `__s < t`) so a NULL score falls
    // through to predicted-0, matching balancedAccuracyBy's
    // `when(s >= t, 1).otherwise(0)` on NULL scores
    val negLt = sum(when(col("__s") >= threshold, 0L)
      .otherwise(col("__n") - col("__pos")))
    val r1 = when(posTot > 0, posGe.cast("double") / posTot)
    val r0 = when(negTot > 0, negLt.cast("double") / negTot)
    val baExpr = ((coalesce(r1, lit(0.0)) + coalesce(r0, lit(0.0))) /
      (when(posTot > 0, 1).otherwise(0) + when(negTot > 0, 1).otherwise(0)))
      .as("balanced_accuracy")
    // same AUROC expression aurocFromCum builds, inlined into this
    // aggregate; single-class groups emit NULL instead of dividing by zero
    val denom = posTot * (sum(col("__n")) - posTot)
    val aurocExpr = when(denom > 0,
      (sum(col("__pos") * col("__avgRank")) - posTot * (posTot + 1) / 2.0)
        / denom).as("auroc")
    if (gc.isEmpty) ranked.agg(baExpr, aurocExpr)
    else ranked.groupBy(gc: _*).agg(baExpr, aurocExpr)
  }

  /** mean ± std over folds/runs — `np.std` is population std (ddof=0), so
    * Spark's sample `stddev` would be wrong; `stddev_pop` matches
    * (SURVEY.md §2 E8). Returns `(mean_<v>, std_<v>)` per group of
    * `groupCols` (or one global row when `groupCols` is empty).
    */
  def meanStd(df: DataFrame, value: Column, groupCols: Seq[Column] = Nil): DataFrame = {
    val aggs = Seq(avg(value).as("mean"), stddev_pop(value).as("std"))
    if (groupCols.isEmpty) df.agg(aggs.head, aggs.tail: _*)
    else df.groupBy(groupCols: _*).agg(aggs.head, aggs.tail: _*)
  }
}
