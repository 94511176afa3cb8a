package graft.queries

import graft.SparkSpec

/** Registry fixtures that write a session tmp path run once per data dir,
  * even when queries that need them start concurrently.
  */
class FixtureMemoSpec extends SparkSpec {
  import spark.implicits._

  test("two threads running q6q on a fresh dir both succeed with identical rows") {
    // a freshly named dir: no fixture of this session has seen it yet
    val dir = java.nio.file.Files.createTempDirectory("graft-memo-q6q").toString
    (0 until 240).map { i =>
      (i.toLong, Array.tabulate(16)(j => math.sin(i * 0.37 + j * 1.3).toFloat))
    }.toDF("vec_id", "embedding")
      .coalesce(1).write.parquet(s"$dir/embeddings.parquet")
    val q6q = graft.SparkEntry.queries("q6q_ivfpq_append")
    val runs = graft.MemoSpec.race(2)(q6q(spark, dir).collect().toSeq)
    assert(runs(0).nonEmpty)
    assert(runs(0) == runs(1), s"${runs(0)} vs ${runs(1)}")
  }
}
