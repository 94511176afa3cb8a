package graft.plans

import graft.SparkSpec
import org.apache.spark.sql.functions._

class GroupedTopKSpec extends SparkSpec {
  import spark.implicits._

  private def df = (0 until 200).map { i =>
    (s"g${i % 5}", (i * 37 % 101).toDouble, i.toLong)
  }.toDF("g", "score", "id")

  test("perGroup keeps exactly the k smallest per group (vs window rank)") {
    val heap = GroupedTopK.perGroup(df, Seq(col("g")),
        struct(col("score"), col("id")), k = 3)
      .select("g", "id").as[(String, Long)].collect().toSet
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("g")).orderBy(col("score"), col("id"))
    val window = df.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 3).select("g", "id").as[(String, Long)].collect().toSet
    assert(heap == window)
  }

  test("k below 1 is rejected when the frame is built, not inside a task") {
    // an empty heap has no head to compare against (k = 0) and a
    // PriorityQueue cannot be sized below 1 (k < 0): unchecked, both
    // fail only inside a task, at collect()
    Seq(0, -1).foreach { k =>
      val e = intercept[IllegalArgumentException] {
        GroupedTopK.perGroup(df, Seq(col("g")), struct(col("score"), col("id")), k)
      }
      assert(e.getMessage.contains(s"got $k"), e.getMessage)
    }
  }

  test("k larger than group size keeps everything") {
    val out = GroupedTopK.perGroup(df, Seq(col("g")),
      struct(col("score"), col("id")), k = 1000)
    assert(out.count() == 200)
  }

  test("plan contains the custom exec after one clustered exchange, no Sort/Window") {
    val out = GroupedTopK.perGroup(df, Seq(col("g")),
      struct(col("score"), col("id")), k = 3)
    val plan = out.queryExecution.executedPlan.toString
    assert(plan.contains("GroupedTopK"), s"custom exec must plan:\n$plan")
    assert(!plan.contains("Window"), s"no window operator:\n$plan")
    assert(!plan.contains("Sort "), s"no sort operator:\n$plan")
    assert("Exchange hashpartitioning".r.findAllIn(plan).size == 1,
      s"one clustered shuffle:\n$plan")
    // the map-side partial must sit BELOW the exchange (aggregate-style
    // two-phase: shuffle volume is bounded by partition-local groups × k)
    val iPartial = plan.indexOf("GroupedTopKPartial")
    val iExchange = plan.indexOf("Exchange hashpartitioning")
    assert(iPartial >= 0, s"partial phase must plan:\n$plan")
    assert(iPartial > iExchange,
      s"partial must be below the exchange (printed after it):\n$plan")
  }

  test("string order values survive UnsafeRow buffer reuse (copied into the heap)") {
    // order by a STRING expression: the evaluated UTF8String points into the
    // child's reused row buffer, so without a defensive copy the heap's kept
    // keys mutate as the iterator advances
    val sdf = (0 until 300).map { i =>
      (s"g${i % 3}", f"s${(i * 61) % 307}%04d", i.toLong)
    }.toDF("g", "name", "id")
    val heap = GroupedTopK.perGroup(sdf, Seq(col("g")), col("name"), k = 4)
      .select("g", "id").as[(String, Long)].collect().toSet
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("g")).orderBy(col("name"))
    val window = sdf.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 4).select("g", "id").as[(String, Long)].collect().toSet
    assert(heap == window, "string-ordered top-k must match the window phrasing")
  }

  test("composes with downstream operators through the analyzer") {
    val out = GroupedTopK.perGroup(df, Seq(col("g")),
        struct(col("score"), col("id")), k = 2)
      .groupBy("g").agg(count(lit(1)).as("n"))
      .as[(String, Long)].collect().toMap
    assert(out.values.forall(_ == 2L))
  }
}
