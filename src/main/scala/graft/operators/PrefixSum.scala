package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{BinaryType, StringType}

/** Distributed prefix sum with NO single-partition stage — the shared
  * machinery behind [[Metrics.cumOverScores]]'s ungrouped path (AUROC rank
  * accumulation) and [[Curate.packSequences]]'s shard-free packing, which
  * previously each carried their own copy of it.
  *
  * Discipline: bucket rows by an AFFINE image of a monotone order-key
  * expression (equal keys share a bucket, key order is preserved, so
  * buckets are order-contiguous), run the cumulative window LOCALLY per
  * bucket, and add broadcast per-bucket exclusive offsets computed from
  * the ≤ shuffle.partitions-row totals table via a TRIANGULAR self-join
  * (O(p²) pairs, hash-aggregated in parallel — cheaper than any
  * single-partition window stage). The result is bit-identical to a
  * global `Window.orderBy` cumulative sum over long values, but no task
  * ever sees more than its bucket.
  */
private[graft] object PrefixSum {

  /** Adds `outCol` = the INCLUSIVE running sum of `valueCol` in
    * `orderCol` order. `orderImage` must be a monotone numeric image of
    * the order key (often the key itself); null keys bucket first, like
    * Spark's default null-first ordering. Exclusive variants subtract
    * `valueCol` from the result (exact for long values).
    *
    * PRECONDITION — distinct order keys (or: any total preorder where the
    * caller is indifferent to tie order): the per-bucket window uses
    * `rowsBetween(unboundedPreceding, currentRow)` framing, so rows with
    * EQUAL order keys accumulate in an engine-chosen, run-to-run
    * nondeterministic order — both here and in the global
    * `Window.orderBy` this replaces. Results over duplicate keys are a
    * valid tie order but not a reproducible one; pass a tie-broken key
    * (e.g. `struct(key, id)`'s image or a unique synthetic ordinal — the
    * [[Curate]] q4h discipline) when determinism across ties matters.
    *
    * String/binary order keys are supported natively: rows bucket by the
    * 8 bytes FOLLOWING the corpus-wide common key prefix. The common
    * prefix is computed from the min/max key (every key between two
    * strings shares their common prefix, capped at 64 bytes), so key
    * shapes that share a long literal head — URLs ("https://www."…), ISO
    * timestamps ("2026-08-"…) — still spread across all buckets instead
    * of degenerating into one. Keys identical through prefix+8 bytes
    * share a bucket (ties — harmless for order-contiguity).
    */
  def inclusiveCum(df: DataFrame, valueCol: Column, orderCol: Column,
                   orderImage: Column, outCol: String): DataFrame = {
    // The bucketed input is referenced from the totals aggregate, the
    // offsets join and the window pass, so its subtree executes several
    // times. On an idle cluster the copies run concurrently on spare
    // cores; persisting the frame instead measured slower (q30
    // 1.22/1.60 → 2.07/2.35 s), so the shape stays lazy.
    val parted = bucketed(df, orderImage)
    val totals = parted.groupBy(col("__psBkt")).agg(sum(valueCol).as("__psT"))
    val offsets = totals.select(col("__psBkt"))
      .join(totals.select(col("__psBkt").as("__psQ"), col("__psT")),
        col("__psQ") < col("__psBkt"), "left")
      .groupBy(col("__psBkt"))
      .agg(coalesce(sum(col("__psT")), lit(0L)).as("__psOff"))
    val wLoc = Window.partitionBy(col("__psBkt")).orderBy(orderCol)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    parted.withColumn("__psLoc", sum(valueCol).over(wLoc))
      .join(broadcast(offsets), Seq("__psBkt"))
      .withColumn(outCol, col("__psLoc") + col("__psOff"))
      .drop("__psBkt", "__psLoc", "__psOff")
  }

  /** `df` plus the order-contiguous `__psBkt` bucket column — the affine
    * (for strings: common-prefix-stripped) bucketing behind
    * [[inclusiveCum]], exposed for spec assertions on bucket spread.
    */
  private[graft] def bucketed(df: DataFrame, orderImage: Column): DataFrame = {
    val p = df.sparkSession.sessionState.conf.numShufflePartitions
    val imgType = df.select(orderImage.as("__psI")).schema.head.dataType
    // (bounds row to broadcast, per-row double image — may reference the
    // broadcast bounds columns, extra bounds columns to drop afterwards)
    val (bounds, rowImg, extra) = imgType match {
      case StringType | BinaryType =>
        val bin = orderImage.cast("binary")
        val loB = col("__psLoB"); val hiB = col("__psHiB")
        // common-prefix length of the min/max keys, in BYTES (Spark string
        // order is byte order of the UTF-8 encoding), capped at 64
        val n = least(length(loB), length(hiB), lit(64))
        val firstDiff = array_min(filter(
          sequence(lit(1), greatest(n, lit(1))),
          i => loB.substr(i, lit(1)) =!= hiB.substr(i, lit(1))))
        val cpLen = when(!(n > 0), lit(0))
          .otherwise(coalesce(firstDiff - 1, n))
        // big-endian unsigned value of the 8 bytes after the common
        // prefix, zero-padded on the RIGHT (hex-string rpad keeps short
        // tails left-justified, preserving byte order) — monotone in
        // binary key order, ties only beyond prefix+8 bytes
        def img8(b: Column, cp: Column): Column =
          conv(rpad(hex(b.substr(cp + lit(1), lit(8))), 16, "0"), 16, 10)
            .cast("double")
        val b0 = df.agg(min(bin).as("__psLoB"), max(bin).as("__psHiB"))
          .select(cpLen.as("__psCp"),
            img8(loB, cpLen).as("__psLo"), img8(hiB, cpLen).as("__psHi"))
        (b0, img8(bin, col("__psCp")), Seq("__psCp"))
      case _ =>
        (df.agg(min(orderImage).as("__psLo"), max(orderImage).as("__psHi")),
          orderImage.cast("double"), Seq.empty[String])
    }
    val span = col("__psHi").cast("double") - col("__psLo").cast("double")
    df.crossJoin(broadcast(bounds))
      .withColumn("__psBkt",
        when(orderImage.isNull || col("__psLo").isNull || !(span > 0.0), lit(0))
          .otherwise(least(lit(p - 1),
            floor((rowImg - col("__psLo").cast("double"))
              / span * p).cast("int"))))
      .drop("__psLo" +: "__psHi" +: extra: _*)
  }
}
