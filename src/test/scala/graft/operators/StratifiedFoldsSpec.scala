package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

class StratifiedFoldsSpec extends SparkSpec {
  import spark.implicits._

  private def slides = spark.range(431).select(
    col("id"),
    (col("id") % 2).as("label"),
    concat(lit("seg"), col("id") % 3).as("stratum"))

  test("assignRoundRobin: folds partition the data (disjoint + exhaustive)") {
    val f = StratifiedFolds.assignRoundRobin(slides, Seq(col("stratum"), col("label")), 5, col("id"))
    assert(f.count() == 431)
    assert(f.filter(col("fold") < 0 || col("fold") >= 5).count() == 0)
  }

  test("assignRoundRobin: within every stratum, fold sizes differ by at most 1") {
    val f = StratifiedFolds.assignRoundRobin(slides, Seq(col("stratum"), col("label")), 5, col("id"))
    val spread = f.groupBy("stratum", "label", "fold").count()
      .groupBy("stratum", "label")
      .agg((max("count") - min("count")).as("spread"))
      .agg(max("spread")).as[Long].collect()(0)
    assert(spread <= 1, s"per-stratum fold-size spread was $spread")
  }

  test("assignRoundRobin is deterministic for a fixed order") {
    val a = StratifiedFolds.assignRoundRobin(slides, Seq(col("stratum")), 5, col("id"))
      .orderBy("id").select("fold").as[Int].collect()
    val b = StratifiedFolds.assignRoundRobin(slides, Seq(col("stratum")), 5, col("id"))
      .orderBy("id").select("fold").as[Int].collect()
    assert(a.toSeq == b.toSeq)
  }

  test("assignIterative replays the order-1 greedy: unit-by-unit reference equality") {
    // reference: the published greedy simulated unit-by-unit on the driver —
    // strata rarest-first (ties by key), each unit to the fold with max
    // remaining per-stratum desired count, ties by max global remaining
    // capacity, then lowest fold id
    val k = 5
    val rows = (0 until 431).map(i => (i.toLong, s"seg${i % 3}_${i % 2}"))
    val sizes = rows.groupBy(_._2).view.mapValues(_.size).toMap
    val order = sizes.toSeq.sortBy { case (key, m) => (m, key) }
    val totals = Array.fill(k)(0L)
    val expected = scala.collection.mutable.Map[Long, Int]()
    order.foreach { case (key, _) =>
      val members = rows.filter(_._2 == key).map(_._1).sorted
      val perStratum = Array.fill(k)(0L)
      members.foreach { id =>
        // max remaining desired (= min assigned this stratum), then min
        // global total, then lowest id
        val j = (0 until k).minBy(j => (perStratum(j), totals(j), j))
        perStratum(j) += 1; totals(j) += 1
        expected(id) = j
      }
    }
    val df = rows.toDF("id", "stratum")
    val got = StratifiedFolds.assignIterative(df, Seq(col("stratum")), k, col("id"))
      .select("id", "fold").as[(Long, Int)].collect().toMap
    assert(got == expected.toMap,
      s"first mismatches: ${got.toSeq.filter(p => expected(p._1) != p._2).take(5)}")
  }

  test("assignIterative invariants: per-stratum spread <= 1 AND global fold-size spread <= 1") {
    val f = StratifiedFolds.assignIterative(
      slides, Seq(col("stratum"), col("label")), 5, col("id"))
    val perStratum = f.groupBy("stratum", "label", "fold").count()
      .groupBy("stratum", "label")
      .agg((max("count") - min("count")).as("spread"))
      .agg(max("spread")).as[Long].collect()(0)
    assert(perStratum <= 1, s"per-stratum fold spread was $perStratum")
    // the property assignRoundRobin does NOT guarantee: global balance
    val globalSpread = f.groupBy("fold").count()
      .agg(max("count") - min("count")).as[Long].collect()(0)
    assert(globalSpread <= 1, s"global fold-size spread was $globalSpread")
    assert(f.count() == 431)
  }

  test("assignSets: fold ranges map to val/test/train (functions_v2.py:104-117)") {
    val f = StratifiedFolds.assignRoundRobin(slides, Seq(col("stratum")), 13, col("id"))
    val s = StratifiedFolds.assignSets(f, nVal = 2, nTest = 4)
    val bySet = s.groupBy("set").agg(countDistinct("fold").as("k"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(bySet == Map("val" -> 2L, "test" -> 4L, "train" -> 7L))
  }

  test("audit reports per-fold class counts and means") {
    val f = StratifiedFolds.assignRoundRobin(
      slides.withColumn("age", col("id").cast("double")),
      Seq(col("stratum")), 5, col("id"))
    val a = StratifiedFolds.audit(f, Map("label" -> Seq(0, 1)), Seq("age"))
    assert(a.columns.toSeq == Seq("fold", "n", "n_label_0", "n_label_1", "mean_age"))
    assert(a.count() == 5)
    assert(a.agg(sum("n")).as[Long].collect()(0) == 431)
  }
}
