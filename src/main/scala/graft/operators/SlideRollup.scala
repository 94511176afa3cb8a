package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Per-slide score roll-up — the reference's `calculate_slide_acc[_v1]`
  * (PDI_classes_and_functions/functions_v2.py:515-563): group tile scores by
  * slide, mean the score vector, carry the label, derive the slide
  * prediction by threshold (1-score case, `output >= 0.5` → 1,
  * functions_v2.py:525) or argmax (2-score case, functions_v2.py:534).
  *
  * One hash aggregation with map-side combine; at cluster scale the shuffle
  * key is the slide id (high cardinality → even spread).
  */
object SlideRollup {

  /** Two-score (softmax) roll-up: mean each score column per group, pred =
    * argmax, label = max (labels are constant within a group; max is a
    * cheap, associative way to carry one).
    */
  def rollup2(df: DataFrame, group: Column, s0: Column, s1: Column,
              label: Column): DataFrame =
    df.groupBy(group.as("group_id"))
      .agg(avg(s0).as("score0"), avg(s1).as("score1"), max(label).as("label"))
      .withColumn("pred", when(col("score1") > col("score0"), 1).otherwise(0))

  /** One-score (sigmoid) roll-up: pred = mean score >= threshold
    * (functions_v2.py:525: `preds = 1*(output >= 0.5)`). `carry` are
    * group-constant columns (fold, set, ...) carried through via max.
    */
  def rollup1(df: DataFrame, group: Column, score: Column, label: Column,
              threshold: Double = 0.5, carry: Seq[String] = Nil): DataFrame =
    df.groupBy(group.as("group_id"))
      .agg(avg(score).as("score"),
        (max(label).as("label") +: carry.map(c => max(col(c)).as(c))): _*)
      .withColumn("pred", when(col("score") >= lit(threshold), 1).otherwise(0))

  /** Confidence of the predicted class — the reference's `so[sp]` pick
    * (ipynb:1315,1503): P(pred) = score if pred==1 else 1-score. The map is
    * its own inverse, so applied to a confidence it is also the signed-score
    * normalization for AUROC (ipynb:1251,1519): back to P(class 1).
    */
  def confidence(score: Column, pred: Column): Column =
    when(pred === 1, score).otherwise(lit(1.0) - score)
}
