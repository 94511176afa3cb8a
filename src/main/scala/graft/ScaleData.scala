package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Writes an N× copy of a testdata dir, for scale runs of the query
  * registry:
  *
  * {{{
  * sbt 'runMain graft.ScaleData <srcDir> <copies> <outDir>'
  * sbt 'runMain graft.Verify <outDir> <verifyOut>'
  * python3 tools/check_oracle.py <outDir> <verifyOut>
  * SPARK_GRAFT_SF_DIR=<outDir> sbt 'runMain graft.Bench'
  * }}}
  *
  * The output keeps the testdata layout — `<outDir>/<table>.parquet` for
  * every [[Tables.names]] table, here a directory of part files — so every
  * reader of a scale-factor dir reads it unchanged. `region` and `nation`
  * are copied once. Every other table is `copies` copies of itself, and
  * each of its key and foreign-key columns moves by `copy * IdShift`, so
  * every join keeps its per-copy fan-out. Documents past copy 0 carry a
  * ` copymark<k>` text suffix (and the matching `n_chars`): the copies are
  * near-dups, not exact dups, of their source.
  */
object ScaleData {

  /** Per-copy key shift; every source key must lie in `[0, IdShift)`. */
  val IdShift = 100000000L

  /** The shifted columns of each scaled table; a table not listed is copied
    * once. `c_nationkey`/`s_nationkey` stay: `nation` is not scaled.
    */
  private val keys: Map[String, Seq[String]] = Map(
    "customer" -> Seq("c_custkey"),
    "supplier" -> Seq("s_suppkey"),
    "part" -> Seq("p_partkey"),
    "orders" -> Seq("o_orderkey", "o_custkey"),
    "lineitem" -> Seq("l_orderkey", "l_partkey", "l_suppkey"),
    "events" -> Seq("event_id", "user_id"),
    "documents" -> Seq("doc_id"),
    "embeddings" -> Seq("vec_id"))

  /** Files per scaled table: the testdata tables are one file each, so the
    * copy is spread over this many files (one row group each) for Spark to
    * split, whatever the host's core count.
    */
  private val Parts = 32

  /** `copies` id-shifted copies of `df`. Executor-side fan-out: one scan
    * exploded by a per-row copy index, so the plan is O(1) in `copies` (a
    * `copies`-way union of shifted scans put the scale factor in the plan,
    * and analysing it at 1000× exhausted an 8 GB driver heap). The source
    * is spread before the explode, else the whole fan-out of a one-file
    * table runs in one task.
    */
  private def scaled(df: DataFrame, idCols: Seq[String], copies: Int,
                     text: Option[String]): DataFrame = {
    val fan = df.repartition(Parts)
      .withColumn("__k", explode(sequence(lit(0L), lit(copies - 1L))))
    val shifted = idCols.foldLeft(fan)((d, c) =>
      d.withColumn(c, col(c) + col("__k") * lit(IdShift)))
    val marked = text.fold(shifted) { tc =>
      val m = shifted.withColumn(tc, when(col("__k") > 0,
        concat(col(tc), lit(" copymark"), col("__k").cast("string")))
        .otherwise(col(tc)))
      if (!df.columns.contains("n_chars")) m
      else m.withColumn("n_chars", when(col("__k") > 0,
        length(col(tc)).cast("long")).otherwise(col("n_chars")))
    }
    marked.drop("__k")
  }

  /** Writes the N× copy of every table of `srcDir` to `outDir`. */
  def write(spark: SparkSession, srcDir: String, copies: Int,
            outDir: String): Unit = {
    // copies = 0 would make the fan-out's sequence(0, -1) the DESCENDING
    // array [0, -1]: a silently wrong 2× copy with a negatively shifted half
    require(copies >= 1, s"ScaleData: copies must be >= 1, got $copies")
    Tables.names.foreach { t =>
      val src = spark.read.parquet(s"$srcDir/$t.parquet")
      val out = keys.get(t) match {
        case Some(ids) =>
          // a key outside [0, IdShift) would collide with another copy's
          val bounds = ids.flatMap(c => Seq(min(col(c)), max(col(c))))
          val seen = src.agg(bounds.head, bounds.tail: _*).head().toSeq
            .collect { case v: Long => v }
          require(seen.forall(v => v >= 0 && v < IdShift),
            s"ScaleData: $t keys ${ids.mkString(",")} must lie in " +
              s"[0, $IdShift), saw ${seen.mkString(",")}")
          scaled(src, ids, copies,
            if (t == "documents") Some("text") else None)
        case None => src.coalesce(1)
      }
      out.write.mode("overwrite").parquet(s"$outDir/$t.parquet")
    }
  }

  def main(args: Array[String]): Unit = {
    val Array(srcDir, copies, outDir) = args
    val spark = SparkSession.builder()
      .master("local[*]")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    write(spark, srcDir, copies.toInt, outDir)
    spark.stop()
  }
}
