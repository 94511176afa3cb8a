package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deterministic stratified k-fold splitting — the reference's
  * `IterativeStratification(n_splits, order=1)` pipeline
  * (PDI_classes_and_functions/functions_v2.py:64-140). The contract is the
  * balance invariant the reference itself audits (functions_v2.py:83-96):
  * every fold carries a proportional share of every stratum, and assignment
  * is deterministic for a fixed seed/order.
  *
  * Both assignments rank rows within a window partitioned by the stratum:
  * [[assignRoundRobin]] (exact per-stratum round-robin, fold sizes differ by
  * at most 1 within each stratum) and [[assignIterative]] (the order-1
  * greedy's closed form). Correct at any size, but strata are few, so the
  * shuffle is skewed — intended for metadata-sized tables (the reference's
  * 431 slides; fine to ~10^8 rows per stratum).
  */
object StratifiedFolds {

  /** Exact round-robin within each stratum, ordered by `orderBy` (use a
    * stable key for engine-independent determinism, or a seeded rand for
    * the reference's shuffled behavior, functions_v2.py:78).
    */
  def assignRoundRobin(df: DataFrame, strata: Seq[Column], k: Int,
                       orderBy: Column): DataFrame = {
    val w = Window.partitionBy(strata: _*).orderBy(orderBy)
    df.withColumn("fold", (row_number().over(w) - 1) % k)
  }

  /** Order-1 iterative stratification (Sechidis et al. 2011, the public
    * scikit-multilearn greedy the reference calls at functions_v2.py:78-81)
    * for DISJOINT strata — the single-label case the reference's data has.
    *
    * The published greedy: process labels rarest-first; deal each label's
    * samples one at a time to the fold with the greatest remaining desired
    * count for that label, breaking ties by greatest total remaining
    * capacity, then randomly. With disjoint strata, equal fold ratios, and
    * the random tie pinned to LOWEST FOLD ID (determinism the reference
    * can't offer — its tie-break is RNG-dependent, so bit-exact fold
    * reproduction is impossible by construction; SURVEY §7.4-1), the greedy
    * COLLAPSES TO A CLOSED FORM: global fold totals always have the
    * canonical shape floor(N/k)+[j < N mod k] after N units, every stratum
    * starts its deal at fold N mod k and cycles, so the i-th unit overall
    * (strata ordered rarest-first then by key, samples ordered by `orderBy`
    * within stratum) lands in fold i mod k. That closed form is what this
    * computes — distributed, and exactly replayable in ANSI SQL (the q56
    * oracle), while satisfying every invariant the greedy guarantees:
    * per-stratum fold counts within 1, global fold sizes within 1.
    *
    * Scale shape: one tiny per-stratum size aggregate turned into exclusive
    * offsets via a triangular self-join (O(strata²) pairs — strata are few
    * by definition; NO unpartitioned window), broadcast back, plus the same
    * per-stratum rank window as [[assignRoundRobin]] (metadata-sized
    * tables).
    */
  def assignIterative(df: DataFrame, strata: Seq[Column], k: Int,
                      orderBy: Column): DataFrame = {
    require(k > 0, s"need k > 0 folds, got $k")
    // canonical string key: joinable + totally ordered for the equal-size
    // tie (to_json of a named struct; null stratum values serialize stably)
    val skey = to_json(struct(strata.zipWithIndex.map {
      case (c, i) => c.as(s"s$i")
    }: _*))
    val sizes = df.groupBy(skey.as("__skey")).agg(count(lit(1)).as("__m"))
    val x = sizes.as("x"); val y = sizes.as("y")
    val before = (col("y.__m") < col("x.__m")) ||
      (col("y.__m") === col("x.__m") && col("y.__skey") < col("x.__skey"))
    val offsets = x.join(y, before, "left")
      .groupBy(col("x.__skey").as("__skey"))
      .agg(coalesce(sum(col("y.__m")), lit(0L)).as("__off"))
    val w = Window.partitionBy(col("__skey")).orderBy(orderBy)
    df.withColumn("__skey", skey)
      .withColumn("__rank", row_number().over(w).cast("long") - 1L)
      .join(broadcast(offsets), Seq("__skey"))
      .withColumn("fold", ((col("__off") + col("__rank")) % k).cast("int"))
      .drop("__skey", "__rank", "__off")
  }

  /** Fold → set assignment (functions_v2.py:104-117): the first `nVal` folds
    * are validation, the next `nTest` are test, the rest train.
    */
  def assignSets(df: DataFrame, nVal: Int, nTest: Int): DataFrame =
    df.withColumn("set", setCol(col("fold"), nVal, nTest))

  /** The fold→set expression behind [[assignSets]], exposed so consumers
    * that carry `fold` through an aggregation can REDERIVE `set` instead
    * of carrying the string: `set` is a pure function of `fold`, and a
    * `max(string)` aggregate forces the whole aggregation into a
    * SortAggregate (string buffers aren't mutable), while int-only
    * buffers keep it a hash aggregate (Experiment.evaluate, r19).
    */
  def setCol(fold: Column, nVal: Int, nTest: Int): Column =
    when(fold < nVal, "val")
      .when(fold < nVal + nTest, "test")
      .otherwise("train")

  /** Balance audit (functions_v2.py:83-96): per fold, row count, per-class
    * counts for each categorical stratum column, and mean of each continuous
    * column — the "Checkpoint: Equally distributed?" report as a DataFrame.
    */
  def audit(df: DataFrame, classCounts: Map[String, Seq[Any]],
            meanCols: Seq[String]): DataFrame = {
    val countAggs = classCounts.toSeq.sortBy(_._1).flatMap { case (c, vs) =>
      vs.map(v => sum(when(col(c) === lit(v), 1L).otherwise(0L)).as(s"n_${c}_$v"))
    }
    val meanAggs = meanCols.map(c => avg(col(c)).as(s"mean_$c"))
    val aggs = (count(lit(1)).as("n") +: (countAggs ++ meanAggs))
    df.groupBy(col("fold")).agg(aggs.head, aggs.tail: _*).orderBy(col("fold"))
  }
}
