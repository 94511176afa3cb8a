package graft

import org.apache.spark.sql.execution.ExplainMode

/** Plan-capture main for the optimization rounds: writes each declared
  * query's `.explain("formatted")` output to `<outDir>/<name>_<tag>.txt`
  * so plan-shape claims (Exchange counts, join strategies, PushedFilters)
  * are auditable without running Spark.
  *
  * Usage: runMain graft.Plans <outDir> <tag> [namePrefix,...]
  * Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1),
  *      SPARK_GRAFT_CPUS. The session is [[Bench.session]].
  *
  * NOTE: a query fn may run internal jobs (model fits, streaming
  * replays) before returning its final frame; the captured plan is the
  * plan of the RETURNED frame — for streaming replays that is the sink
  * read-back, and the interesting plans are inside the foreachBatch
  * (captured separately where a probe exists).
  */
object Plans {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: Plans <outDir> <tag> [namePrefix,...]")
    val outDir = java.nio.file.Paths.get(args(0))
    val tag = args(1)
    val only: Option[Set[String]] =
      if (args.length >= 3) Some(args(2).split(',').toSet) else None
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors.toString)
    val spark = Bench.session(cpus)
    spark.sparkContext.setLogLevel("ERROR")
    java.nio.file.Files.createDirectories(outDir)
    val selected = SparkEntry.queries.toSeq.sortBy(_._1).filter { case (n, _) =>
      only.forall(_.exists(n.startsWith))
    }
    // output files key on the name's pre-underscore prefix — two queries
    // sharing a prefix would silently overwrite each other's captured
    // plan (ADVICE r18), so refuse loudly instead
    val prefixes = selected.map(_._1.takeWhile(_ != '_'))
    require(prefixes.distinct.size == prefixes.size,
      "duplicate query-name prefixes would collide in plan filenames: " +
        prefixes.diff(prefixes.distinct).distinct.mkString(","))
    selected.foreach { case (name, fn) =>
      try {
        val df = fn(spark, sfDir)
        val txt = df.queryExecution.explainString(
          ExplainMode.fromString("formatted"))
        java.nio.file.Files.writeString(
          outDir.resolve(s"${name.takeWhile(_ != '_')}_$tag.txt"),
          s"== $name @ $sfDir ==\n" + txt)
        println(s"[plans] $name OK")
      } catch { case e: Throwable =>
        println(s"[plans] $name FAILED: ${e.getMessage}")
      }
    }
    spark.stop()
  }
}
