package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

class SimilaritySpec extends SparkSpec {
  import spark.implicits._

  private def vecs = Seq(
    (0L, Seq(1.0f, 0.0f, 0.0f)),
    (1L, Seq(1.0f, 0.0f, 0.0f)),   // identical to 0
    (2L, Seq(0.9f, 0.1f, 0.0f)),   // close to 0
    (3L, Seq(0.0f, 1.0f, 0.0f)),   // orthogonal
    (4L, Seq(-1.0f, 0.0f, 0.0f))   // opposite
  ).toDF("vec_id", "embedding")

  /** Candidate-pair count of [[Similarity.cosineNearDupes]]' blocking stage
    * at (planes, bands): Σ_buckets m·(m−1)/2 per band, counted from bucket
    * sizes with no join.
    */
  private def candidateCount(corpus: org.apache.spark.sql.DataFrame,
                             planes: Int, bands: Int): Long = {
    val banded = corpus.select(col("vec_id").as("doc"), col("embedding").as("e"))
      .filter(Similarity.norm(col("e")) > 0)
      .select(col("doc"), explode(array((0 until bands).map { bnd =>
        struct(lit(bnd).as("band"),
          Similarity.srpSignature(col("e"), planes, 42L + 1315423911L * bnd).as("sig"))
      }: _*)).as("bk"))
      .select(col("doc"), col("bk.band"), col("bk.sig"))
    banded.groupBy(col("band"), col("sig")).agg(count(lit(1)).as("m"))
      .agg(coalesce(sum(col("m") * (col("m") - 1)), lit(0L)).as("p"))
      .first().getLong(0) / 2
  }

  test("cosine: identical=1, orthogonal=0, opposite=-1") {
    val a = vecs.as("a"); val b = vecs.as("b")
    val cos = a.join(b, col("a.vec_id") === 0)
      .select(col("b.vec_id"),
        Similarity.cosine(col("a.embedding"), col("b.embedding")).as("c"))
      .as[(Long, Double)].collect().toMap
    assert(math.abs(cos(1L) - 1.0) < 1e-6)
    assert(math.abs(cos(3L)) < 1e-6)
    assert(math.abs(cos(4L) + 1.0) < 1e-6)
  }

  test("bruteForceTopK ranks by cosine, identical vector first") {
    val q = vecs.where(col("vec_id") === 0).select(col("embedding"))
    val top = Similarity.bruteForceTopK(vecs.where(col("vec_id") =!= 0), "vec_id", q, 3)
      .select("vec_id").as[Long].collect()
    assert(top.toSeq == Seq(1L, 2L, 3L))
  }

  test("bruteForceTopK plan has no global sort (TakeOrderedAndProject)") {
    val q = vecs.where(col("vec_id") === 0).select(col("embedding"))
    val plan = Similarity.bruteForceTopK(vecs, "vec_id", q, 3)
      .queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), s"wanted top-k plan, got:\n$plan")
  }

  test("srp signature: identical vectors share a bucket, opposite vectors don't") {
    val sig = vecs.select(col("vec_id"),
        Similarity.srpSignature(col("embedding"), planes = 8).as("s"))
      .as[(Long, Long)].collect().toMap
    assert(sig(0L) == sig(1L))
    assert(sig(0L) != sig(4L), "opposite vector must flip every plane sign")
  }

  test("srpSignature native kernel is bit-identical to the expression form") {
    // mixed-sign pseudo-random floats; several (planes, seed) combos
    val df = (0 until 200).map { i =>
      (i.toLong, Seq.tabulate(16)(j => ((i * 31 + j * 7) % 19 - 9) / 3.0f))
    }.toDF("vec_id", "embedding")
    for (planes <- Seq(1, 6, 8, 64); seed <- Seq(42L, 7L)) {
      val diff = df.select(
          Similarity.srpSignature(col("embedding"), planes, seed).as("a"),
          Similarity.srpSignatureExpr(col("embedding"), planes, seed).as("b"))
        .filter(col("a") =!= col("b")).count()
      assert(diff == 0, s"native != expr at planes=$planes seed=$seed")
    }
  }

  test("srpSignature edge cases match the expression form (empty array, zeros)") {
    val df = Seq(
      (0L, Seq.empty[Float]),
      (1L, Seq(0.0f)),
      (2L, Seq(-1.5f, 2.5f, 0.0f))
    ).toDF("vec_id", "embedding")
    val rows = df.select(col("vec_id"),
        Similarity.srpSignature(col("embedding"), 8).as("a"),
        Similarity.srpSignatureExpr(col("embedding"), 8).as("b"))
      .as[(Long, Long, Long)].collect()
    rows.foreach { case (id, a, b) => assert(a == b, s"vec $id: native=$a expr=$b") }
    assert(rows.find(_._1 == 0L).get._2 == 0L, "empty array must sign to 0")
  }

  test("null embedding: native signature is NULL (row drops from LSH buckets); expr form gives 0") {
    // Intended divergence, pinned so it can't regress silently: the native
    // kernel nulls the signature for a null input array, so null-embedding
    // rows vanish from lshTopK/cosineNearDupes equi-join bucketing (a null
    // vector has no meaningful bucket); the interpreted expression form
    // folds null per-plane projections to bucket 0.
    val df = Seq((0L, Seq(1.0f, 2.0f)), (1L, null.asInstanceOf[Seq[Float]]))
      .toDF("vec_id", "embedding")
    val rows = df.select(col("vec_id"),
        Similarity.srpSignature(col("embedding"), 8).as("a"),
        Similarity.srpSignatureExpr(col("embedding"), 8).as("b"))
      .collect().map(r => r.getLong(0) -> ((Option(r.get(1)), Option(r.get(2))))).toMap
    assert(rows(1L)._1.isEmpty, "native signature of null embedding must be NULL")
    assert(rows(1L)._2.contains(0L), "expr signature of null embedding folds to 0")
    assert(rows(0L)._1 == rows(0L)._2)
    // and the LSH path drops the null row rather than erroring or bucketing it
    val corpus = df
    val queries = Seq((100L, Seq(1.0f, 2.0f))).toDF("query_id", "embedding")
    val hits = Similarity.lshTopK(corpus, "vec_id", queries, "query_id",
        k = 5, planes = 8, probeHamming = 8)
      .select("vec_id").as[Long].collect().toSet
    assert(hits == Set(0L), s"null-embedding row must not surface: $hits")
  }

  test("lshTopK retrieves the identical vector for each query") {
    val corpus = vecs.where(col("vec_id") =!= 0)
    val queries = vecs.where(col("vec_id") === 0)
      .select(col("vec_id").as("query_id"), col("embedding"))
    val got = Similarity.lshTopK(corpus, "vec_id", queries, "query_id", k = 2, planes = 4)
      .select("vec_id").as[Long].collect()
    assert(got.contains(1L), s"identical vector must be in its query's bucket, got ${got.toSeq}")
  }

  test("ivfTopK recalls the identical vector; all-cells probe equals brute force") {
    val corpus = (0 until 60).map { i =>
      (i.toLong, Seq((i % 7).toFloat, (i % 5).toFloat, (i % 3).toFloat, 1.0f))
    }.toDF("vec_id", "embedding")
    val queries = corpus.where(col("vec_id") < 3)
      .select(col("vec_id").as("query_id"), col("embedding"))
    val got = Similarity.ivfTopK(corpus, "vec_id", queries, "query_id",
        k = 1, nCentroids = 4, nProbe = 4)
      .select("query_id", "vec_id").as[(Long, Long)].collect().toMap
    // with nProbe == nCentroids every cell is probed -> exact: the best
    // match for each query is itself (cosine 1)
    (0L until 3L).foreach(q => assert(got(q) == q, s"query $q got ${got.get(q)}"))
  }

  test("zero-norm embeddings (cosine undefined) are excluded from ANN paths, not a crash") {
    // under ANSI mode the unguarded division would RAISE (not NaN) and kill
    // the job on the first degenerate vector; the intended semantics is
    // exclusion of rows whose cosine is undefined
    val corpus = Seq(
      (1L, Seq(1.0f, 0.0f)), (2L, Seq(0.9f, 0.1f)), (3L, Seq(0.0f, 0.0f))
    ).toDF("vec_id", "embedding")
    val queries = Seq((100L, Seq(1.0f, 0.0f))).toDF("query_id", "embedding")
    val lsh = Similarity.lshTopK(corpus, "vec_id", queries, "query_id",
        k = 3, planes = 4, probeHamming = 4)
      .select("vec_id").as[Long].collect().toSet
    assert(lsh == Set(1L, 2L), s"zero-norm row must be excluded: $lsh")
    val bf = Similarity.bruteForceTopK(corpus, "vec_id",
        queries.select(col("embedding")), k = 3)
      .select("vec_id").as[Long].collect().toSet
    assert(bf == Set(1L, 2L), s"brute force must exclude zero-norm rows: $bf")
    val nd = Similarity.cosineNearDupes(corpus, "vec_id", threshold = 0.9, planes = 0)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(nd == Set((1L, 2L)), s"near-dupes must exclude zero-norm rows: $nd")
  }

  test("ANN top-k plans use the bounded-heap operator, not a window sort") {
    val corpus = vecs.where(col("vec_id") =!= 0)
    val queries = vecs.where(col("vec_id") === 0)
      .select(col("vec_id").as("query_id"), col("embedding"))
    for ((name, df) <- Seq(
        "lsh" -> Similarity.lshTopK(corpus, "vec_id", queries, "query_id", k = 2),
        "ivf" -> Similarity.ivfTopK(corpus, "vec_id", queries, "query_id",
          k = 2, nCentroids = 2, nProbe = 2))) {
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.contains("GroupedTopK"), s"$name: no bounded-heap operator:\n$plan")
      assert(!plan.contains("Window"), s"$name: window sort still present:\n$plan")
    }
  }

  test("cosineNearDupes finds the identical pair and not the orthogonal one") {
    val pairs = Similarity.cosineNearDupes(vecs, "vec_id", threshold = 0.99, planes = 4)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((0L, 1L)))
    assert(!pairs.contains((0L, 3L)))
  }

  test("cosineNearDupes auto mode (planes = -1) matches explicit-planes recall on dupes") {
    val pairs = Similarity.cosineNearDupes(vecs, "vec_id", threshold = 0.99)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((0L, 1L)), s"identical pair must survive auto banding: $pairs")
    assert(!pairs.contains((0L, 3L)))
  }

  test("ANN probe joins carry no forced broadcast hint (shuffle path works, same results)") {
    // The r3 defect: broadcast(q) on the probe join OOMs when the query
    // batch is table-sized. The join is now unhinted — under
    // autoBroadcastJoinThreshold = -1 and AQE off the planner MUST pick a
    // shuffle join (a surviving hint would still force broadcast), and
    // results must be identical to the default-config run.
    val corpus = (0 until 200).map { i =>
      (i.toLong, Seq.tabulate(8)(j => ((i * 17 + j * 13) % 23 - 11) / 4.0f))
    }.toDF("vec_id", "embedding")
    val queries = corpus.where(col("vec_id") < 4)
      .select(col("vec_id").as("query_id"), col("embedding"))
    def run() = Similarity.lshTopK(corpus, "vec_id", queries, "query_id",
        k = 3, planes = 6, probeHamming = 6)
      .select("query_id", "vec_id").as[(Long, Long)].collect().toSet
    val expected = run()
    val conf = spark.conf
    val prevThresh = conf.get("spark.sql.autoBroadcastJoinThreshold")
    val prevAqe = conf.get("spark.sql.adaptive.enabled")
    try {
      conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      conf.set("spark.sql.adaptive.enabled", "false")
      val df = Similarity.lshTopK(corpus, "vec_id", queries, "query_id",
        k = 3, planes = 6, probeHamming = 6)
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("BroadcastHashJoin"),
        s"probe join must not force a broadcast:\n$plan")
      val got = df.select("query_id", "vec_id").as[(Long, Long)].collect().toSet
      assert(got == expected, "shuffle-join path must return identical results")
    } finally {
      conf.set("spark.sql.autoBroadcastJoinThreshold", prevThresh)
      conf.set("spark.sql.adaptive.enabled", prevAqe)
    }
  }

  test("autoPlanes sizes the bucket space to the corpus") {
    assert(Similarity.autoPlanes(0L) == 8)
    assert(Similarity.autoPlanes(1000L) == 8)         // floor
    assert(Similarity.autoPlanes(32L * 1024) == 10)   // 1024 buckets of ~32
    assert(Similarity.autoPlanes(32L * (1 << 15)) == 15)
    assert(Similarity.autoPlanes(1L << 40) == 24)     // ceiling
    // monotone non-decreasing
    val vals = Seq(1L, 100L, 10000L, 1000000L, 100000000L).map(Similarity.autoPlanes)
    assert(vals == vals.sorted, s"autoPlanes must be monotone: $vals")
  }

  test("auto-scaled banding keeps candidate pairs ~linear in corpus size") {
    // pseudo-random 16-dim embeddings; 8x the corpus with auto bits must
    // grow blocking candidates FAR slower than the 64x a fixed bucket
    // count would (quadratic); allow 3x slack over perfectly linear.
    def corpus(n: Int) = spark.range(n).select(col("id").as("vec_id"),
      array((0 until 16).map(j =>
        ((pmod(xxhash64(col("id"), lit(j)), lit(1000)) - 500) / 100.0)
          .cast("float")): _*).as("embedding"))
    // both sizes sit in the unclamped regime of autoPlanes (>= 8 bits
    // before the floor), where the ~32-row occupancy target is active
    val small = 32768; val big = 262144
    val pSmall = candidateCount(corpus(small), Similarity.autoPlanes(small), bands = 4)
    val pBig = candidateCount(corpus(big), Similarity.autoPlanes(big), bands = 4)
    assert(pSmall > 0, "probe needs some collisions to be meaningful")
    val ratio = pBig.toDouble / pSmall
    assert(ratio < 3.0 * (big.toDouble / small),
      s"candidate growth must be ~linear under auto planes: " +
        s"$pSmall -> $pBig (ratio $ratio for ${big / small}x data)")
  }

  test("groupCentroids: exact fixed-point sums, centroid = mean, layout-stable") {
    val df = Seq(
      ("a", Seq(1.0f, 0.5f)), ("a", Seq(0.0f, 0.5f)), ("b", Seq(-1.0f, 0.25f)))
      .toDF("label", "embedding")
    val out = Similarity.groupCentroids(df, "label", "embedding")
      .select("grp", "pos", "n", "sum_micro", "centroid")
      .as[(String, Int, Long, Long, Double)].collect().toSet
    assert(out == Set(
      ("a", 0, 2L, 1000000L, 0.5), ("a", 1, 2L, 1000000L, 0.5),
      ("b", 0, 1L, -1000000L, -1.0), ("b", 1, 1L, 250000L, 0.25)), s"got $out")
    // associativity: any partition layout sums to the same integers
    val shuffled = Similarity.groupCentroids(df.repartition(5), "label", "embedding")
      .select("grp", "pos", "n", "sum_micro", "centroid")
      .as[(String, Int, Long, Long, Double)].collect().toSet
    assert(shuffled == out)
  }

  test("nearestCentroid assigns each vector to its max-cosine centroid") {
    val df = Seq(
      (0L, "x", Seq(1.0f, 0.0f)), (1L, "x", Seq(0.9f, 0.1f)),
      (2L, "y", Seq(0.0f, 1.0f)), (3L, "y", Seq(0.1f, 0.9f)),
      (4L, "y", Seq(0.8f, 0.2f))  // labeled y, but sits in x's cluster
    ).toDF("vec_id", "label", "embedding")
    val cents = Similarity.groupCentroids(df, "label", "embedding")
    val assigned = Similarity.nearestCentroid(df, "vec_id", "embedding", cents)
      .select("vec_id", "nearest").as[(Long, String)].collect().toMap
    assert(assigned(0L) == "x" && assigned(1L) == "x")
    assert(assigned(2L) == "y" && assigned(3L) == "y")
    assert(assigned(4L) == "x", s"drifted vector must cross over: $assigned")
    assert(assigned.size == 5, "exactly one assignment per vector")
  }

  test("localLloyd: k > n clamps, identical points collapse, deterministic") {
    // k greater than the sample: effective k = n, every point is a center
    val tiny = Array(Array(0.0, 0.0), Array(10.0, 10.0))
    val c1 = Similarity.localLloyd(tiny, k = 5, seed = 42L, iters = 5)
    assert(c1.length == 2)
    assert(c1.map(_.toSeq).toSet == tiny.map(_.toSeq).toSet)
    // identical points: one cluster takes all, others keep their init
    // position (empty clusters must not NaN out)
    val same = Array.fill(4)(Array(1.0, 2.0))
    val c2 = Similarity.localLloyd(same, k = 2, seed = 7L, iters = 5)
    assert(c2.forall(_.forall(v => !v.isNaN)))
    assert(c2.exists(_.sameElements(Array(1.0, 2.0))))
    // same sample + seed => bit-identical centers (the oracle-replay
    // contract: quantizer output may not drift between Verify reruns)
    val pts = Array.tabulate(50)(i => Array((i % 7).toDouble, (i % 3).toDouble))
    val a = Similarity.localLloyd(pts, k = 4, seed = 42L, iters = 20)
    val b = Similarity.localLloyd(pts, k = 4, seed = 42L, iters = 20)
    assert(a.zip(b).forall { case (x, y) => x.sameElements(y) })
    // two well-separated blobs recover their means
    val blobs = Array.tabulate(20)(i =>
      if (i < 10) Array(0.0 + i * 0.01, 0.0) else Array(100.0 + i * 0.01, 0.0))
    val c3 = Similarity.localLloyd(blobs, k = 2, seed = 1L, iters = 20)
      .sortBy(_.head)
    assert(math.abs(c3(0)(0) - 0.045) < 0.1 && math.abs(c3(1)(0) - 100.145) < 0.2,
      s"blob means off: ${c3.map(_.toSeq).toSeq}")
  }
}
