package graft

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import java.util.concurrent.TimeUnit

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkConf
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.internal.SQLConf

class GraftExtensionsSpec extends SparkSpec {
  import spark.implicits._

  test("native kernels are callable from SQL after registration") {
    GraftExtensions.register(spark)
    Seq((Seq(1.0f, 2.0f), Seq(3.0f, 4.0f), "the quick brown fox the quick"))
      .toDF("a", "b", "text").createOrReplaceTempView("ext_t")

    val dot = spark.sql("SELECT vec_dot(a, b) FROM ext_t").as[Double].head()
    assert(dot == 11.0)

    val sh = spark.sql("SELECT word_shingles(text, 2) FROM ext_t")
      .as[Seq[String]].head()
    assert(sh == Seq("the quick", "quick brown", "brown fox", "fox the"))

    val sig = spark.sql(
      "SELECT minhash_signature(word_shingles(text, 3), 8) FROM ext_t")
      .as[Seq[Long]].head()
    assert(sig.length == 8)

    // SQL simhash64 equals the operator-level result
    val sqlSim = spark.sql("SELECT simhash64(split(trim(text), '\\\\s+')) FROM ext_t")
      .as[Long].head()
    val opSim = Seq((1L, "the quick brown fox the quick")).toDF("id", "text")
      .select(graft.operators.Dedup.simhash64(col("text"))).as[Long].head()
    assert(sqlSim == opSim)

    // fused jaccard: identical texts -> 1.0; equals the Column-level kernel
    val jac = spark.sql("SELECT shingle_jaccard(text, text, 3) FROM ext_t")
      .as[Double].head()
    assert(jac == 1.0)

    // srp_signature equals the Column-level kernel (same planes + seed)
    val sqlSrp = spark.sql("SELECT srp_signature(a, 8, 42) FROM ext_t")
      .as[Long].head()
    val opSrp = Seq((1L, Seq(1.0f, 2.0f))).toDF("id", "embedding")
      .select(graft.operators.Similarity.srpSignature(col("embedding"), 8, 42L))
      .as[Long].head()
    assert(sqlSrp == opSrp)

    // gram_counts: strict-window per-doc gram counts from SQL
    val gc = spark.sql("SELECT gram_counts(text, 2) FROM ext_t")
      .as[Seq[(String, Long)]].head()
    assert(gc.toMap == Map("the quick" -> 2L, "quick brown" -> 1L,
      "brown fox" -> 1L, "fox the" -> 1L))
  }

  test("extensions class registers via SparkSessionExtensions (builder path)") {
    // apply() must wire every builder without throwing; full builder-path
    // coverage would need a fresh JVM session, so assert the injection hook
    val ext = new org.apache.spark.sql.SparkSessionExtensions
    new GraftExtensions().apply(ext)
  }

  test("codegen cache sizing fills a missing key and keeps an explicit one") {
    val key = "spark.sql.codegen.cache.maxEntries"
    val unset = GraftExtensions.sizeCodegenCache(new SparkConf(false))
    assert(unset.get(key) == "4096")
    val explicit = GraftExtensions.sizeCodegenCache(
      new SparkConf(false).set(key, "64"))
    assert(explicit.get(key) == "64")
  }

  test("a session built with the extension recompiles nothing on a second round") {
    // the cache is one per JVM and sized when first used, so only a fresh
    // JVM shows what the session-build path does
    val java = Paths.get(sys.props("java.home"), "bin", "java").toString
    val addOpens = ManagementFactory.getRuntimeMXBean.getInputArguments.asScala
      .filter(_.startsWith("--add-opens")).toSeq
    val log = Files.createTempFile("graft_codegen_probe", ".log")
    val cmd = Seq(java, "-Xmx1g") ++ addOpens ++ Seq(
      "-cp", sys.props("java.class.path"), CodegenCacheProbe.getClass.getName
        .stripSuffix("$"), CodegenCacheProbe.Dir)
    val proc = new ProcessBuilder(cmd: _*)
      .redirectErrorStream(true).redirectOutput(log.toFile).start()
    try assert(proc.waitFor(10, TimeUnit.MINUTES), "probe JVM timed out")
    finally proc.destroyForcibly()
    val out = Files.readAllLines(log).asScala
    Files.delete(log)
    def probe(key: String): Long = out.collectFirst {
      case l if l.startsWith(s"[probe] $key=") => l.split('=')(1).toLong
    }.getOrElse(fail(s"no $key line in:\n${out.takeRight(40).mkString("\n")}"))
    assert(proc.exitValue() == 0, out.takeRight(40).mkString("\n"))
    assert(probe("cache_max_entries") == 4096L)
    assert(probe("first_round_compiles") > 0L)
    assert(probe("second_round_compiles") == 0L)
  }
}

/** Child-JVM main for GraftExtensionsSpec: builds a session with the
  * extension, runs four pipeline queries twice, and prints the cache size
  * the session sees and each round's codegen compile count.
  */
object CodegenCacheProbe {
  val Dir = "/root/testdata/sf0.001"
  private val names = Seq("q28_slide_rollup", "q35_tile_paths",
    "q36_pipeline_e2e", "q5h_fusion_pipeline")

  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder()
      .master("local[2]")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    println(s"[probe] cache_max_entries=${SQLConf.get.codegenCacheMaxEntries}")
    def round(): Long = {
      val n0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      names.foreach(n => SparkEntry.queries(n)(spark, args(0)).collect())
      CodegenMetrics.METRIC_COMPILATION_TIME.getCount - n0
    }
    println(s"[probe] first_round_compiles=${round()}")
    println(s"[probe] second_round_compiles=${round()}")
    spark.stop()
  }
}
