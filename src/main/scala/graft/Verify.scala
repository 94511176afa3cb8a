package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors.toString)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // optional comma-separated name-prefix filter (local iteration only;
    // the driver runs unfiltered) — same contract as Bench
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(',').toSet)
    def attempted(n: String) = only.forall(_.exists(n.startsWith))
    SparkEntry.queries
      .filter { case (n, _) => attempted(n) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // oracles of the attempted queries only: tools/check_oracle.py counts
    // an oracle with no output dir as a failed query
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"),
      JsonDump.oracleSqlJson(spark, sfDir, attempted))
    // debugging surface for the bench-only leveling file (never read by
    // the driver's correctness compare): lets tools/duckdb_bench.py be
    // exercised by hand with the exact fixtures/overrides Bench ships it
    Files.writeString(Paths.get(s"$outDir/bench_aux.json"),
      JsonDump.benchAuxJson)
    spark.stop()
  }
}

/** Minimal JSON emission shared by Verify and Bench (no JSON library on the
  * classpath by design).
  */
object JsonDump {
  /** JSON string escape: backslash, quote, and ALL control chars (<0x20)
    * — a tab or CR in builder-authored SQL would otherwise make the
    * driver's json.load fail and silently zero the round's correctness.
    */
  def q(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  /** The static oracle-SQL map as a JSON object (unit-test surface). */
  def oracleSqlJson: String = toJson(SparkEntry.oracleSql)

  /** Static + data-dir-dependent oracles — what Verify/Bench dump. */
  def oracleSqlJson(spark: SparkSession, dir: String,
                    keep: String => Boolean = _ => true): String =
    toJson(SparkEntry.oracleSqlFor(spark, dir).filter { case (k, _) => keep(k) })

  /** The bench-only fixtures + overrides file (see SparkEntry doc). */
  def benchAuxJson: String =
    s"""{"fixtures": ${toJson(SparkEntry.benchFixtures)}, """ +
      s""""overrides": ${toJson(SparkEntry.benchOverrides)}}"""

  private def toJson(m: Map[String, String]): String =
    m.map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
}
