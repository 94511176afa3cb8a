package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

class SlideRollupSpec extends SparkSpec {
  import spark.implicits._

  private def tileScores = Seq(
    // slide, s0, s1, label
    (1, 0.8, 0.2, 0), (1, 0.6, 0.4, 0),   // mean (0.7, 0.3) -> pred 0
    (2, 0.1, 0.9, 1), (2, 0.3, 0.7, 1)    // mean (0.2, 0.8) -> pred 1
  ).toDF("slide", "s0", "s1", "y")

  test("rollup2: per-group mean scores, argmax prediction, label carried") {
    val out = SlideRollup.rollup2(tileScores, col("slide"), col("s0"), col("s1"), col("y"))
      .orderBy("group_id")
      .select("group_id", "score0", "score1", "label", "pred")
      .as[(Int, Double, Double, Int, Int)].collect()
    assert(out(0) == ((1, 0.7, 0.30000000000000004, 0, 0)))
    assert(out(1)._4 == 1 && out(1)._5 == 1)
    assert(math.abs(out(1)._2 - 0.2) < 1e-12)
  }

  test("rollup1: threshold at >= 0.5 (functions_v2.py:525 `1*(output>=0.5)`)") {
    val df = Seq((1, 0.5, 1), (2, 0.499, 0)).toDF("slide", "s", "y")
    val out = SlideRollup.rollup1(df, col("slide"), col("s"), col("y"))
      .orderBy("group_id").select("pred").as[Int].collect()
    assert(out.toSeq == Seq(1, 0)) // exactly 0.5 -> predicted 1 (>= semantics)
  }

  test("confidence is its own inverse through the pred gate") {
    val df = Seq((1, 0.8), (0, 0.3)).toDF("pred", "score1")
      .withColumn("conf", SlideRollup.confidence(col("score1"), col("pred")))
      .withColumn("back", SlideRollup.confidence(col("conf"), col("pred")))
    val rows = df.select("score1", "conf", "back").as[(Double, Double, Double)].collect()
    assert(rows(0) == ((0.8, 0.8, 0.8)))
    assert(math.abs(rows(1)._2 - 0.7) < 1e-12 && math.abs(rows(1)._3 - 0.3) < 1e-12)
  }
}
