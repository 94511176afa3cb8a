package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

class SamplingSpec extends SparkSpec {
  import spark.implicits._

  // 3 slides with 5, 12, 20 tiles (FIXTURES.md §1.2: k < / = / > group size)
  private def tiles = Seq(
    ("s1", 5), ("s2", 12), ("s3", 20)
  ).toDF("slide", "n")
    .withColumn("tile", explode(sequence(lit(1), col("n"))))
    .drop("n")

  test("takePerGroup keeps exactly min(k, group size) rows per group") {
    val out = Sampling.takePerGroup(tiles, Seq(col("slide")), 12,
      Sampling.pseudoRand(col("tile")))
    val counts = out.groupBy("slide").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(counts == Map("s1" -> 5L, "s2" -> 12L, "s3" -> 12L))
  }

  test("k <= 0 keeps everything (reference nr_tiles=0)") {
    assert(Sampling.takePerGroup(tiles, Seq(col("slide")), 0,
      Sampling.pseudoRand(col("tile"))).count() == 37)
  }

  test("sample is deterministic and not simply the first k rows") {
    def sample() = Sampling.takePerGroup(tiles, Seq(col("slide")), 3,
        Sampling.pseudoRand(col("tile")))
      .orderBy("slide", "tile").select("slide", "tile").as[(String, Int)].collect().toSeq
    assert(sample() == sample())
    val s3 = sample().filter(_._1 == "s3").map(_._2)
    assert(s3 != Seq(1, 2, 3), "pseudo-random order should not match insertion order")
  }

  test("sampleMixture: nested in the fraction, reproducible, rate near target") {
    val df = spark.range(10000).select(col("id"),
      (col("id") % 2).cast("string").as("src"))
    def run(fA: Double, fB: Double) =
      Sampling.sampleMixture(df, col("src"), col("id"),
        Map("0" -> fA, "1" -> fB)).select("id").as[Long].collect().toSet
    val half = run(0.5, 0.2)
    val more = run(0.8, 0.2)
    assert(half.subsetOf(more), "upweighting must keep previously selected rows")
    assert(run(0.5, 0.2) == half, "must be reproducible")
    val rateA = half.count(_ % 2 == 0) / 5000.0
    assert(math.abs(rateA - 0.5) < 0.05, s"src 0 rate $rateA")
    val rateB = half.count(_ % 2 == 1) / 5000.0
    assert(math.abs(rateB - 0.2) < 0.05, s"src 1 rate $rateB")
    // unlisted group keeps nothing by default
    assert(Sampling.sampleMixture(df, col("src"), col("id"),
      Map("0" -> 1.0)).filter(col("src") === "1").count() == 0)
  }

  test("pseudoRand is overflow-safe for any long key, value-compatible for small keys") {
    val r = spark.range(1).select(
      Sampling.pseudoRand(lit(Long.MaxValue)).as("big"),
      Sampling.pseudoRand(lit(4000000000L)).as("overOldLimit"),
      Sampling.pseudoRand(lit(-7L)).as("neg"),
      Sampling.pseudoRand(lit(123L)).as("small")).collect()(0)
    // the naive key*C form overflows (ANSI error) past ~3.5e9 — these must
    // just produce in-range values
    Seq(0, 1, 2, 3).foreach(i =>
      assert(r.getLong(i) >= 0 && r.getLong(i) < 1000000007L))
    assert(r.getLong(3) == (123L * 2654435761L) % 1000000007L,
      "mod-first form must equal the naive form where the naive form is defined")
  }

  test("seededOrder varies with seed") {
    val a = tiles.orderBy(Sampling.seededOrder(col("tile"), 1)).select("tile").as[Int].collect()
    val b = tiles.orderBy(Sampling.seededOrder(col("tile"), 2)).select("tile").as[Int].collect()
    assert(a.toSeq != b.toSeq)
  }

  test("temperatureFractions: alpha=1 is proportional (uniform target rate)") {
    val fr = Sampling.temperatureFractions(
      Map("a" -> 9000L, "b" -> 1000L), alpha = 1.0, targetFraction = 0.3)
    // alpha=1: p_g = n_g/N, so every source keeps exactly targetFraction
    assert(fr.values.forall(f => math.abs(f - 0.3) < 1e-12), fr.toString)
  }

  test("temperatureFractions: alpha<1 upweights small sources, clamps at 1") {
    val counts = Map("big" -> 90000L, "small" -> 100L)
    val fr = Sampling.temperatureFractions(counts, alpha = 0.5, targetFraction = 0.3)
    assert(fr("small") > fr("big"), fr.toString)
    // a tiny source under heavy flattening wants more than it has -> clamp
    val fr2 = Sampling.temperatureFractions(
      Map("big" -> 1000000L, "tiny" -> 10L), alpha = 0.0, targetFraction = 0.5)
    assert(fr2("tiny") == 1.0, fr2.toString)
    assert(fr.values.forall(f => f > 0 && f <= 1.0))
  }

  test("temperatureFractions: expected kept total matches the budget (no clamping)") {
    val counts = Map("a" -> 60000L, "b" -> 30000L, "c" -> 10000L)
    val fr = Sampling.temperatureFractions(counts, alpha = 0.5, targetFraction = 0.3)
    val expected = counts.map { case (g, n) => fr(g) * n }.sum
    assert(math.abs(expected - 0.3 * 100000) < 1e-6, s"expected $expected")
  }

  test("temperatureFractions is bit-deterministic regardless of map order") {
    val a = Sampling.temperatureFractions(
      Map("x" -> 123L, "y" -> 456L, "z" -> 789L), 0.5, 0.25)
    val b = Sampling.temperatureFractions(
      Map("z" -> 789L, "x" -> 123L, "y" -> 456L), 0.5, 0.25)
    assert(a == b)
  }

  test("sampleTemperature: per-source rates land near the fitted fractions") {
    val df = spark.range(20000).select(col("id"),
      when(col("id") % 10 < 6, "web").when(col("id") % 10 < 9, "books")
        .otherwise("code").as("src"))
    val fr = Sampling.temperatureFractions(
      Sampling.mixtureCounts(df, col("src")), 0.5, 0.3)
    val kept = Sampling.sampleTemperature(df, col("src"), col("id"), 0.5, 0.3)
      .groupBy("src").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    Seq("web" -> 12000L, "books" -> 6000L, "code" -> 2000L).foreach {
      case (g, n) =>
        val rate = kept(g).toDouble / n
        assert(math.abs(rate - fr(g)) < 0.05, s"$g rate $rate vs ${fr(g)}")
    }
    // flattening: the small source keeps a HIGHER rate than the big one
    assert(kept("code").toDouble / 2000 > kept("web").toDouble / 12000)
  }
}
