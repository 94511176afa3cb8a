package graft.sources

import java.nio.file.{Files, Paths}

import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

class SourcesSpec extends SparkSpec {
  import spark.implicits._

  private def fixtureDir(name: String): String = {
    val d = Paths.get("target", "tmp", name).toAbsolutePath
    Files.createDirectories(d)
    d.toString
  }

  test("CSV sink + schema'd scan round-trip (A5 + A1)") {
    val dir = fixtureDir("csv_roundtrip")
    val df = Seq(("s1", 0, 63.0), ("s2", 1, 48.5)).toDF("slide_name", "label", "age")
    Sources.writeCsv(df, dir)
    val back = Sources.readCsv(spark, dir,
      StructType.fromDDL("slide_name STRING, label INT, age DOUBLE"))
    assert(back.as[(String, Int, Double)].collect().toSet ==
      Set(("s1", 0, 63.0), ("s2", 1, 48.5)))
  }

  test("binaryFile listing + path parse + broadcast metadata join (A3+B5+C1)") {
    val root = fixtureDir("tiles")
    for (slide <- Seq("slideA", "slideB"); c <- 0 to 1; r <- 0 to 2) {
      val d = Paths.get(root, slide)
      Files.createDirectories(d)
      Files.write(d.resolve(s"${slide}_${c}_$r.jpg"), Array[Byte](1, 2, 3))
    }
    val meta = Seq(("slideA", 0), ("slideB", 1)).toDF("slide_name", "label")
    val tiles = Sources.tileInventory(
      Sources.listFiles(spark, root, glob = "*.jpg"),
      Sources.withSlideId(meta, col("slide_name")))
    assert(tiles.count() == 12)
    val parsed = tiles.select("slide_name", "col", "row", "label", "slide_id")
      .as[(String, Int, Int, Int, Int)].collect().toSet
    assert(parsed.contains(("slideA", 1, 2, 0, 0)))
    assert(parsed.contains(("slideB", 0, 0, 1, 1)))
    val plan = tiles.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), s"C1 must broadcast:\n$plan")
  }

  test("JSONL sink + schema'd scan round-trip, including newlines-in-text") {
    val dir = fixtureDir("jsonl_roundtrip")
    val df = Seq(
      (1L, "line one\nline two", "en"),
      (2L, "tabs\tand \"quotes\" survive", "de"),
      (3L, null.asInstanceOf[String], "fr"))
      .toDF("doc_id", "text", "lang")
    Sources.writeJsonl(df, dir)
    val back = Sources.readJsonl(spark, dir,
      StructType.fromDDL("doc_id BIGINT, text STRING, lang STRING"))
    assert(back.as[(Long, Option[String], String)].collect().toSet ==
      Set((1L, Some("line one\nline two"), "en"),
        (2L, Some("tabs\tand \"quotes\" survive"), "de"),
        (3L, None, "fr")))
  }

  test("schema evolution: mergeSchema unions columns across file generations") {
    val dir = fixtureDir("evolving_corpus")
    // generation 1 lacks the lang column added later — the normal life of
    // a long-lived corpus; mergeSchema reads both without a rewrite
    Seq((1L, "first doc")).toDF("doc_id", "text")
      .write.mode("overwrite").parquet(dir + "/gen=1")
    Seq((2L, "second doc", "en")).toDF("doc_id", "text", "lang")
      .write.mode("overwrite").parquet(dir + "/gen=2")
    val merged = spark.read.option("mergeSchema", "true").parquet(dir)
    assert(merged.columns.sorted.toSeq == Seq("doc_id", "gen", "lang", "text"))
    val rows = merged.select("doc_id", "lang")
      .as[(Long, Option[String])].collect().toMap
    assert(rows(1L).isEmpty && rows(2L).contains("en"))
  }

  test("withSlideId is a dense 0-based key in the given order") {
    val meta = Seq("b", "a", "c").toDF("slide_name")
    val ids = Sources.withSlideId(meta, col("slide_name"))
      .as[(String, Int)].collect().toMap
    assert(ids == Map("a" -> 0, "b" -> 1, "c" -> 2))
  }

  test("training shards: lossless, deterministic, balanced, prunable") {
    val dir = fixtureDir("training_shards")
    val df = spark.range(4000).select(col("id").as("doc_id"),
      concat(lit("doc "), col("id")).as("text"))
    Sources.writeTrainingShards(df, col("doc_id"), nShards = 8, dir)
    val back = spark.read.parquet(dir)
    // lossless: every row lands in exactly one shard
    assert(back.count() == 4000)
    assert(back.select(countDistinct(col("doc_id"))).as[Long].head() == 4000)
    // deterministic: the assignment is a pure function of the key (collect
    // everything from the FIRST write before overwriting the directory)
    val a = back.select("doc_id", "shard").as[(Long, Int)].collect().toMap
    val sizes = back.groupBy("shard").count().as[(Int, Long)].collect().toMap
    Sources.writeTrainingShards(df, col("doc_id"), 8, dir)
    val b = spark.read.parquet(dir)
      .select("doc_id", "shard").as[(Long, Int)].collect().toMap
    assert(a == b, "re-runs must assign every row identically")
    // balanced: multiplicative-hash scatter keeps shards near-uniform
    assert(sizes.size == 8)
    assert(sizes.values.forall(n => n > 350 && n < 650), sizes.toString)
    // a shard filter prunes directories at planning time (resume/claim path)
    val one = spark.read.parquet(dir).filter(col("shard") === 3)
    val scan = one.queryExecution.executedPlan.toString
    assert("PartitionFilters: \\[[^\\]]*shard".r.findFirstIn(scan).isDefined,
      s"shard=3 not applied as a partition filter:\n$scan")
    // within-shard order is shuffled (not key order) but reproducible:
    // the per-file row order IS the sortWithinPartitions order
    val files = new java.io.File(dir, "shard=3").listFiles()
      .filter(_.getName.endsWith(".parquet")).map(_.getPath).sorted
    val rows = files.flatMap(f =>
      spark.read.parquet(f).select("doc_id").as[Long].collect())
    assert(rows.length == sizes(3))
    assert(rows.toSeq != rows.sorted.toSeq,
      "within-shard order must be shuffled, not ascending key order")
  }
}
