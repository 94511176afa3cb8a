package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Sources/sinks from SURVEY.md §2 A plus the tile-inventory composition
  * (A3 directory listing + B5 path parsing + C1 broadcast metadata join).
  *
  * The reference enumerates tile image files by walking slide directories
  * (`dataset_classes_v1.py:32-54`), derives `slide_name`/`col`/`row` from
  * the path (`:62,70-71`), and looks up slide metadata per tile with an
  * O(n) pandas scan per row (`:63-67`). Here the listing is a distributed
  * `binaryFile` scan and the lookup is a build-once broadcast hash join.
  */
object Sources {

  /** A1: schema'd CSV metadata scan (reference: `pd.read_csv`,
    * ExperimentSetup_v2.py:57-60 — which infers types; we declare them).
    */
  def readCsv(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.read.option("header", "true").schema(schema).csv(path)

  /** A5: CSV sink with header (reference: `to_csv(index=False)`,
    * functions_v2.py:132-138).
    */
  def writeCsv(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").option("header", "true").csv(path)

  /** JSONL (newline-delimited JSON) scan with a DECLARED schema — the
    * interchange format of LLM training corpora (one document object per
    * line). Schema-first matters doubly here: inference would scan the
    * data once just to guess types (a full extra pass over 100 TB), and
    * JSONL is line-splittable, so a declared schema keeps the read a
    * single distributed pass with per-line parse parallelism.
    * `columnNameOfCorruptRecord` rows surface as nulls rather than killing
    * the scan — bad lines are data, not exceptions.
    */
  def readJsonl(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.read.schema(schema).option("mode", "PERMISSIVE").json(path)

  /** JSONL sink: one JSON object per line, splittable on re-read. */
  def writeJsonl(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").json(path)

  /** A3: recursive tile-file listing as a DataFrame of `(path, length)`.
    * `binaryFile` without selecting `content` reads only file status — no
    * byte I/O — and distributes the listing across executors.
    */
  def listFiles(spark: SparkSession, dir: String, glob: String = "*"): DataFrame =
    spark.read.format("binaryFile")
      .option("recursiveFileLookup", "true")
      .option("pathGlobFilter", glob)
      .load(dir)
      .select(col("path"), col("length"))

  /** B5: parse `<...>/<slide_name>/<slide>_<col>_<row>.jpg` path columns.
    * Tile filename convention from dataset_classes_v1.py:62.
    *
    * Split-based, not regex-based: the earlier shape ran THREE full regex
    * executions per row (slide dir + the `_(\d+)_(\d+)\.jpg$` pattern once
    * per group); at millions of tile paths per experiment the parse is the
    * scan's whole CPU. Now one anchored regexp_replace (extension strip)
    * plus '/'- and '_'-splits, all codegen'd; col/row index from the END
    * of the filename split, so slide stems containing underscores parse
    * identically to the regex (pinned by SourcesSpec).
    */
  def parseTilePath(path: Column): Seq[Column] = {
    val parts = split(
      regexp_replace(substring_index(path, "/", -1), "\\.jpg$", ""), "_")
    Seq(
      substring_index(substring_index(path, "/", -2), "/", 1).as("slide_name"),
      element_at(parts, -2).cast("int").as("col"),
      element_at(parts, -1).cast("int").as("row"))
  }

  /** A stable integer key per metadata row, replacing the pandas row index
    * the reference uses as `slide_id` (dataset_classes_v1.py:63-67): dense
    * row_number over an explicit deterministic order.
    *
    * METADATA-ONLY by contract: the unpartitioned ordering window funnels
    * the whole input through one task — exactly right for a few hundred
    * slide rows (one tiny task beats a zipWithIndex job), a scale trap for
    * anything else. Guarded: refuses inputs past `maxRows` so the trap
    * fails loudly instead of straggling silently; key large tables by a
    * hash of their natural key instead.
    */
  def withSlideId(meta: DataFrame, orderBy: Column,
                  maxRows: Long = 10000000L): DataFrame = {
    val n = meta.count()
    require(n <= maxRows,
      s"withSlideId is a metadata-only operator (single-task ordering " +
        s"window): got $n rows > maxRows=$maxRows — key large tables by " +
        s"xxhash64 of their natural key instead")
    // constant partition key: the deliberate (guarded, metadata-sized)
    // single-partition ordering is explicit in the plan rather than an
    // accidental global window
    meta.withColumn("__c0", lit(0))
      .withColumn("slide_id",
        row_number().over(Window.partitionBy(col("__c0")).orderBy(orderBy)) - 1)
      .drop("__c0")
  }

  /** C1: tile -> metadata lookup as a broadcast hash join (metadata is a
    * few hundred rows; the reference re-scans it per tile per epoch).
    */
  def tileInventory(tilePaths: DataFrame, meta: DataFrame): DataFrame =
    tilePaths
      .select((col("path") +: parseTilePath(col("path"))): _*)
      .join(broadcast(meta), Seq("slide_name"), "inner")

  /** Deterministic shard id for the training-output global shuffle:
    * `pseudoRand(key) mod nShards`. A pure function of the row key — the
    * whole "shuffle and shard" step of corpus prep without a global sort
    * or an engine RNG: re-runs, retries, and other engines (the q5m
    * oracle) assign every row identically, and the assignment is uniform
    * because the multiplicative hash decorrelates adjacent keys.
    */
  def shardId(key: Column, nShards: Int): Column = {
    require(nShards > 0, s"nShards must be positive, got $nShards")
    pmod(graft.operators.Sampling.pseudoRand(key), lit(nShards.toLong))
  }

  /** Training-shard sink: the corpus-prep endgame — rows pseudo-randomly
    * (but deterministically) scattered into `nShards` shard directories,
    * each shard internally ordered by a second independent hash so
    * sequential consumption within a shard is also shuffled. One
    * repartition on the shard id is the only exchange; `partitionBy`
    * makes each shard a directory a training job (or a resume) can claim
    * and prune independently (`shard=K` reads one directory). At 100 TB,
    * nShards is sized to the consumer fleet, not the data — each shard
    * stays splittable parquet inside.
    */
  def writeTrainingShards(df: DataFrame, key: Column, nShards: Int,
                          path: String): Unit = {
    require(!df.columns.contains("shard"),
      "input already has a 'shard' column — the sink would silently " +
        "overwrite it with its own assignment; rename or drop it first")
    df.withColumn("shard", shardId(key, nShards))
      .repartition(col("shard"))
      .sortWithinPartitions(col("shard"),
        graft.operators.Sampling.seededOrder(key, 7L), key)
      .write.mode("overwrite").partitionBy("shard").parquet(path)
  }
}
