package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, xxhash64}

/** Parallelism repair for CPU-bound expression stages.
  *
  * Parquet can only split at row-group boundaries, so a small input (or one
  * written with giant row groups) arrives as fewer partitions than cores and
  * pins per-row CPU work (shingling, hashing, vector math) to one thread.
  * [[spread]] repartitions ONLY in that case: on a 100 TB input with normal
  * row-group sizing the scan already has >= cores splits and this is a
  * no-op — no extra shuffle is ever introduced at scale. [[oneTask]] is
  * the converse, for tables whose size the data volume does not set.
  */
object Par {
  /** Puts a table bounded by the slide count on ONE partition: per-slide
    * metadata, the rolled-up slide table, the per-class recall table (rows
    * = slides or classes: 4,500 slides in pdi_scale, 45k at 10×, a few
    * thousand in the paper). `coalesce(1)` is a narrow dependency, so it
    * adds no shuffle; its stage (from the nearest exchange or scan below)
    * runs as one task. `SinglePartition` satisfies every distribution an
    * operator above it requires (grouped, windowed, ordered, global), so
    * the whole slide-level tail plans no exchange, no AQE stage and no
    * job of its own, where each operator paid for all three. Only apply it
    * above the tile-volume exchange, never to a tile-volume input.
    *
    * Results are bit-identical to the partitioned plan: the tile scores
    * are integer-valued, so the roll-up's sums are exact; the AUROC terms
    * (positives × average rank) are half-integers, so their sums are
    * exact in any order; BA divides exact integer counts once; and a
    * binary label's two per-class recalls add commutatively.
    */
  private[graft] def oneTask(df: DataFrame): DataFrame = df.coalesce(1)

  def spread(df: DataFrame): DataFrame = {
    val target = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions < target)
      // HASH repartition on the row's own columns, not round-robin
      // `repartition(n)` (r19). Round-robin costs a LOCAL BINARY SORT of
      // every input partition first (spark.sql.execution.sortBeforeRepartition,
      // on by default since SPARK-23207 so retried map tasks reproduce
      // their row->partition assignment) — and the inputs spread exists
      // for are by definition FEWER partitions than cores, so that sort
      // runs almost single-threaded over the whole table before any
      // parallelism appears. Hashing the row content removes the sort,
      // is deterministic per row under task retries by construction
      // (guide §2.5 — no RNG, no position dependence), and spreads
      // near-uniformly: every call site feeds near-unique rows (doc ids,
      // key tuples), and xxhash64's 2^64 values hash-mod evenly into
      // `target` partitions. Row content is untouched; downstream
      // consumers are aggregations/joins, indifferent to layout.
      df.repartition(target, xxhash64(df.columns.map(col): _*))
    else df
  }
}
