package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Grouped/seeded sampling — the reference's per-slide tile subsampling
  * (PDI_classes_and_functions/dataset_classes_v1.py:44-51:
  * `random.sample(tiles_of_slide, min(len, nr_tiles))` with a fixed seed)
  * and the DataLoader shuffle (training_scripts/ExperimentSetup_v2.py:173).
  *
  * Scale: per-group sampling clusters by the group key (slides/documents —
  * high cardinality), so the shuffle is well spread; each group keeps a
  * bounded heap of k rows, and nothing sorts the whole table.
  */
object Sampling {

  /** Keep at most `k` rows per group: those with the smallest `order`
    * value (nulls first), through [[graft.plans.GroupedTopK]]. `k <= 0`
    * keeps all rows (the reference's `nr_tiles = 0`,
    * dataset_classes_v1.py:47). Pass a total order when the sample must
    * be reproducible: ties at the k boundary are unspecified.
    */
  def takePerGroup(df: DataFrame, groupCols: Seq[Column], k: Int,
                   order: Column): DataFrame =
    if (k <= 0) df
    else graft.plans.GroupedTopK.perGroup(df, groupCols, order, k)

  /** Engine-independent pseudo-random order key from an integer column —
    * a Knuth multiplicative hash kept in Long range so the same expression
    * is reproducible in any ANSI SQL engine (used by the DuckDB oracle).
    *
    * The key is reduced mod the prime BEFORE the multiply: ((k mod M)·C)
    * mod M = (k·C) mod M, so values are identical to the naive form, but
    * the product stays under 2^63 for EVERY long key — the naive form
    * overflows (an ANSI-mode error) for keys above ~3.5e9, i.e. at
    * billions-of-rows id ranges.
    */
  def pseudoRand(key: Column): Column =
    pmod(pmod(key.cast("long"), lit(1000000007L)) * lit(2654435761L),
      lit(1000000007L))

  /** Spark-native seeded order key: `xxhash64(stableKey, seed)`, a pure
    * function of the row's key, so the order is the same under any
    * partitioning or rerun (unlike `rand(seed)`, which depends on each
    * row's position in its partition, SURVEY.md §7.4 risk 4).
    */
  def seededOrder(stableKey: Column, seed: Long): Column =
    xxhash64(stableKey, lit(seed))

  private val M = 1000000007L

  /** Deterministic weighted mixture sampling — the source-weighting step of
    * a pretraining data mixture: keep a row of group g iff
    * `pseudoRand(key) < fraction(g) * M`. Groups absent from `fractions`
    * keep nothing by default (`defaultFraction`).
    *
    * Properties a mixture step needs and RNG-based `sampleBy` lacks: the
    * decision is a pure function of the row key (reproducible across runs,
    * partitionings, engines — the same arithmetic replays in ANSI SQL, so
    * it is ORACLE-verifiable), upweighting a source later keeps all
    * previously selected rows (nested samples), and no shuffle is
    * introduced — it is a scan-level filter.
    */
  def sampleMixture(df: DataFrame, groupCol: Column, key: Column,
                    fractions: Map[String, Double],
                    defaultFraction: Double = 0.0): DataFrame = {
    require(fractions.values.forall(f => f >= 0.0 && f <= 1.0),
      s"fractions must be in [0,1]: $fractions")
    require(defaultFraction >= 0.0 && defaultFraction <= 1.0,
      s"defaultFraction must be in [0,1]: $defaultFraction")
    val frac = fractions.foldLeft(lit(defaultFraction)) {
      case (acc, (g, f)) => when(groupCol === g, f).otherwise(acc)
    }
    df.filter(pseudoRand(key).cast("double") < frac * M)
  }

  /** Temperature-flattened mixture rates — the mT5/LLaMA data-mixing rule:
    * sample source g with probability ∝ n_g^alpha (alpha < 1 upweights
    * small sources), scaled so the expected kept-row total is
    * `targetFraction · N` and clamped to keep-all per source.
    *
    * Pure driver-side arithmetic over the (bounded) per-source counts;
    * the Σ n^alpha normalizer is summed in sorted-source order so the
    * same inputs always yield bit-identical rates (the q5l oracle embeds
    * them as literals).
    */
  def temperatureFractions(counts: Map[String, Long], alpha: Double,
                           targetFraction: Double): Map[String, Double] = {
    require(counts.nonEmpty, "need at least one source")
    require(counts.values.forall(_ > 0), s"counts must be positive: $counts")
    require(alpha >= 0.0 && alpha <= 1.0, s"alpha must be in [0,1]: $alpha")
    require(targetFraction > 0.0 && targetFraction <= 1.0,
      s"targetFraction must be in (0,1]: $targetFraction")
    val ordered = counts.toSeq.sortBy(_._1)
    val weights = ordered.map { case (g, n) => g -> math.pow(n.toDouble, alpha) }
    val z = weights.map(_._2).sum
    val nTot = counts.values.sum.toDouble
    weights.map { case (g, w) =>
      g -> math.min(1.0, targetFraction * nTot * (w / z) / counts(g).toDouble)
    }.toMap
  }

  /** Temperature-weighted mixture sampling over a source/domain column:
    * counts each source, derives [[temperatureFractions]], and applies the
    * same engine-replayable keyed filter as [[sampleMixture]]. Rows whose
    * source was absent from the counting pass (impossible when counting
    * `df` itself) keep nothing.
    *
    * API contract: without `counts`, composition runs ONE eager counting
    * job over `df` (the collect is bounded by the number of distinct
    * sources, which a mixture by definition keeps small). Callers with
    * expensive/uncached lineage — or a catalog that already knows the
    * per-source sizes — pass `counts` and no job runs until the sampled
    * frame itself is consumed.
    */
  def sampleTemperature(df: DataFrame, groupCol: Column, key: Column,
                        alpha: Double, targetFraction: Double,
                        counts: Option[Map[String, Long]] = None): DataFrame =
    sampleMixture(df, groupCol, key,
      temperatureFractions(counts.getOrElse(mixtureCounts(df, groupCol)),
        alpha, targetFraction))

  /** Per-source row counts as a driver map (bounded: one row per source).
    * Null-source rows are excluded — downstream they take
    * `defaultFraction` (0.0 in [[sampleTemperature]]), so an unlabeled
    * row keeps nothing rather than crashing the rate fit.
    */
  def mixtureCounts(df: DataFrame, groupCol: Column): Map[String, Long] =
    df.groupBy(groupCol.cast("string").as("__g"))
      .agg(count(lit(1)).as("__n"))
      .where(col("__g").isNotNull)
      .collect()
      .map(r => r.getString(0) -> r.getLong(1))
      .toMap
}
