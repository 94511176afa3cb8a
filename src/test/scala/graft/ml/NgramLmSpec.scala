package graft.ml

import graft.SparkSpec
import org.apache.spark.sql.functions._

class NgramLmSpec extends SparkSpec {
  import spark.implicits._

  import org.apache.spark.sql.{Column, DataFrame}

  /** fit/fitOrder/load return [[NgramLm.LmModel]]; these tests pin the
    * ARRAY representation, so narrow to the kernel-sized type (the caps
    * used here are far below KernelModelMaxRows, so the cast is total).
    */
  private def fitB(df: DataFrame, text: Column, uniCap: Int,
                   biCap: Int): NgramLm.BigramLm =
    NgramLm.fit(df, text, uniCap, biCap).asInstanceOf[NgramLm.BigramLm]
  private def fitOrderB(df: DataFrame, text: Column, order: Int, ctxCap: Int,
                        gramCap: Int): NgramLm.BigramLm =
    NgramLm.fitOrder(df, text, order, ctxCap, gramCap)
      .asInstanceOf[NgramLm.BigramLm]
  private def loadB(s: org.apache.spark.sql.SparkSession,
                    dir: String): NgramLm.BigramLm =
    NgramLm.load(s, dir).asInstanceOf[NgramLm.BigramLm]

  // known counts: uni a=5 b=3; bigrams "a b"=3 "b a"=2 "a a"=1
  private def corpus = Seq(
    (1L, "a b a b"),   // bigrams: (a b) (b a) (a b)
    (2L, "a b a a")    // bigrams: (a b) (b a) (a a)
  ).toDF("doc_id", "text")

  test("fit counts unigrams and bigrams exactly (one corpus pass)") {
    val m = fitB(corpus, col("text"), uniCap = 10, biCap = 10)
    assert(m.uniArr.toMap == Map("a" -> 5L, "b" -> 3L))
    assert(m.biArr.toMap == Map("a b" -> 3L, "b a" -> 2L, "a a" -> 1L))
    // materialized in canonical (count desc, gram asc) order
    assert(m.uniArr.toSeq == Seq("a" -> 5L, "b" -> 3L))
    assert(m.biArr.toSeq == Seq("a b" -> 3L, "b a" -> 2L, "a a" -> 1L))
  }

  test("caps truncate deterministically by (count desc, gram asc)") {
    val m = fitB(corpus, col("text"), uniCap = 1, biCap = 2)
    assert(m.uniArr.toSeq == Seq("a" -> 5L))
    assert(m.biArr.toMap == Map("a b" -> 3L, "b a" -> 2L))
    // tie at the cut: equal counts break by gram ascending
    val tied = Seq((1L, "x y"), (2L, "x z")).toDF("doc_id", "text")
    val mt = fitB(tied, col("text"), uniCap = 10, biCap = 1)
    assert(mt.biArr.toSeq == Seq("x y" -> 1L))
  }

  test("multiGramCounts slices equal per-n gramCounts (fit-kernel parity)") {
    val texts = Seq((1L, "a b a b"), (2L, "x"), (3L, ""), (4L, "  p  q r "))
      .toDF("doc_id", "text")
    val multi = texts.select(col("doc_id"),
      graft.expressions.WordShingles.multiGramCounts(col("text"), 2).as("m"))
      .select(col("doc_id"), explode(col("m")).as("g"))
      .select(col("doc_id"), col("g.n"), col("g.gram"), col("g.cnt"))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2), r.getLong(3)))
    for (n <- 1 to 2) {
      val single = texts.select(col("doc_id"),
        explode(graft.expressions.WordShingles.gramCounts(col("text"), n)).as("g"))
        .select(col("doc_id"), col("g.gram"), col("g.cnt"))
        .collect().map(r => (r.getLong(0), n, r.getString(1), r.getLong(2)))
      assert(multi.filter(_._2 == n).toSeq == single.toSeq,
        s"n=$n slice must match gramCounts($n)")
    }
  }

  test("save/load round-trips the model bit-for-bit") {
    val m = fitB(corpus, col("text"), uniCap = 2, biCap = 2)
    val dir = java.nio.file.Files.createTempDirectory("ngramlm_rt").toString
    NgramLm.save(spark, m, dir)
    val m2 = loadB(spark, dir)
    assert(m2.uniCap == m.uniCap && m2.biCap == m.biCap)
    assert(m2.uniArr.toSeq == m.uniArr.toSeq)
    assert(m2.biArr.toSeq == m.biArr.toSeq)
    // a loaded model gates identically to the fitted one
    val probe = corpus.unionByName(Seq((9L, "z z z")).toDF("doc_id", "text"))
    def kept(mm: NgramLm.LmModel) =
      NgramLm.pplGate(probe, col("doc_id"), col("text"), mm, 8.0)
        .select("doc_id").as[Long].collect().toSet
    assert(kept(m2) == kept(m))
  }

  test("refitAndSwap: served == refit model, drift baseline restarts, mid-swap loud, recovery") {
    val m0 = fitB(corpus, col("text"), uniCap = 4, biCap = 4)
    // the refit: a different corpus — genuinely different count tables
    val corpus2 = Seq((1L, "b a b a"), (2L, "b b a b")).toDF("doc_id", "text")
    val m1 = fitB(corpus2, col("text"), uniCap = 4, biCap = 4)
    assert(m0.uniArr.toSeq != m1.uniArr.toSeq,
      "refit fixture needs a genuinely different model")
    val dir = java.nio.file.Files.createTempDirectory("ngramlm_swap").toString
    val path = s"$dir/lm"
    NgramLm.save(spark, m0, path)
    NgramLm.writeDriftSidecar(spark, path, corpus, col("doc_id"), col("text"))
    NgramLm.refitAndSwap(spark, m1, corpus2, col("doc_id"), col("text"), path)
    val served = loadB(spark, path)
    assert(served.uniArr.toSeq == m1.uniArr.toSeq &&
      served.biArr.toSeq == m1.biArr.toSeq,
      "the refit model must be serving")
    // the drift clock restarted at the refit corpus: baseline == a fresh
    // save + sidecar of m1 over the same corpus
    NgramLm.save(spark, m1, s"$dir/fresh")
    NgramLm.writeDriftSidecar(spark, s"$dir/fresh", corpus2,
      col("doc_id"), col("text"))
    def buildRow(p: String) =
      NgramLm.driftStats(spark, p, corpus, col("doc_id"), col("text"))
        .where(col("src") === "build").collect()
        .map(r => (r.getLong(1), r.getLong(2), r.getLong(3))).head
    assert(buildRow(path) == buildRow(s"$dir/fresh"),
      "swapped drift baseline != fresh baseline")
    // mid-swap window: live path absent between the renames — loud fail,
    // swapped-out dir consistent; a re-run recovers (ArtifactSwap's
    // window coverage is pinned exhaustively in TextClassifierSpec)
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val old = new org.apache.hadoop.fs.Path(s"$path.swap_old")
    assert(fs.rename(root, old))
    intercept[Exception] { NgramLm.load(spark, path) }
    assert(loadB(spark, old.toString).uniArr.toSeq == m1.uniArr.toSeq,
      "the swapped-out artifact must stay internally consistent")
    NgramLm.refitAndSwap(spark, m1, corpus2, col("doc_id"), col("text"), path)
    assert(loadB(spark, path).uniArr.toSeq == m1.uniArr.toSeq,
      "roll-back recovery diverged")
    val stray = new java.io.File(dir).listFiles().map(_.getName)
      .filter(_.startsWith("lm.")).toSeq
    assert(stray.isEmpty, s"recovery left stray swap dirs: $stray")
  }

  test("driftStats: rows equal an independent recomputation, OOV batch pulls below baseline, sidecar-bound, refusals") {
    val m = fitB(corpus, col("text"), uniCap = 4, biCap = 4)
    val dir = java.nio.file.Files.createTempDirectory("ngramlm_drift").toString
    NgramLm.save(spark, m, dir)
    val batch = Seq((10L, "a b zq"), (11L, "zq zzq")).toDF("doc_id", "text")
    val e = intercept[IllegalArgumentException] {
      NgramLm.driftStats(spark, dir, batch, col("doc_id"), col("text"))
    }
    assert(e.getMessage.contains("predates drift stats"), e.getMessage)
    NgramLm.writeDriftSidecar(spark, dir, corpus, col("doc_id"), col("text"))
    val out = NgramLm.driftStats(spark, dir, batch, col("doc_id"), col("text"))
      .orderBy("src").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    // independent recomputation of both sides via scoreDocs
    def stat(df: org.apache.spark.sql.DataFrame): (Long, Long, Long) = {
      val rows = NgramLm.scoreDocs(df, col("doc_id"), col("text"), m)
        .select("n_bigrams", "lm_score").collect()
      (rows.length.toLong, rows.map(_.getLong(0)).sum, rows.map(_.getLong(1)).sum)
    }
    val (bn, bg, bs) = stat(batch)
    val (kn, kg, ks) = stat(corpus)
    assert(out.toSeq == Seq(("batch", bn, bg, bs), ("build", kn, kg, ks)))
    // refit-signal direction: the OOV-heavy batch's mean per-gram score
    // pulls BELOW the in-distribution baseline (ppl rising)
    assert(bs.toDouble / bg < ks.toDouble / kg,
      s"OOV batch must score below baseline: $bs/$bg vs $ks/$kg")
    // the build row comes from the sidecar: a doctored stat surfaces
    val p = new org.apache.hadoop.fs.Path(s"$dir/_drift.json")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val o = fs.create(p, true)
    try o.write(
      """{"fmt": 1, "statN": 2, "statGrams": 6, "statSumMicro": -5}""".getBytes)
    finally o.close()
    val doctored = NgramLm.driftStats(spark, dir, batch,
        col("doc_id"), col("text"))
      .where(col("src") === "build").collect().head.getLong(3)
    assert(doctored == -5L, s"build row must come from the sidecar: $doctored")
    // the sidecar is invisible to the model loader (underscore file)
    val m2 = loadB(spark, dir)
    assert(m2.uniArr.toSeq == m.uniArr.toSeq && m2.biArr.toSeq == m.biArr.toSeq)
  }

  test("load accepts the v1 (pre-r11) artifact format: uniCap/biCap meta, fixed 1/2 tags") {
    // hand-write a v1 artifact: meta keys uniCap/biCap (no fmt, no ctxCap)
    // and parquet n-tags FIXED at 1 (contexts) / 2 (grams) even at order 3
    def writeV1(dir: String, metaJson: String,
                rows: Seq[(Int, String, Long)]): Unit = {
      rows.toDF("n", "gram", "c").coalesce(1)
        .write.mode("overwrite").parquet(s"$dir/counts")
      java.nio.file.Files.write(
        java.nio.file.Paths.get(dir, "meta.json"),
        metaJson.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      ()
    }
    val d2 = java.nio.file.Files.createTempDirectory("ngramlm_v1o2").toString
    writeV1(d2, """{"uniCap": 10, "biCap": 10, "order": 2}""",
      Seq((1, "a", 5L), (1, "b", 3L), (2, "a b", 3L), (2, "b a", 2L)))
    val m2 = loadB(spark, d2)
    assert(m2.uniCap == 10 && m2.biCap == 10 && m2.order == 2)
    assert(m2.uniArr.toSeq == Seq("a" -> 5L, "b" -> 3L))
    assert(m2.biArr.toSeq == Seq("a b" -> 3L, "b a" -> 2L))
    // trigram v1: contexts still tagged 1, grams still tagged 2 — a v2
    // reader keying on order−1/order would misread this as empty
    val d3 = java.nio.file.Files.createTempDirectory("ngramlm_v1o3").toString
    writeV1(d3, """{"uniCap": 10, "biCap": 10, "order": 3}""",
      Seq((1, "a b", 4L), (2, "a b c", 2L)))
    val m3 = loadB(spark, d3)
    assert(m3.order == 3)
    assert(m3.uniArr.toSeq == Seq("a b" -> 4L))
    assert(m3.biArr.toSeq == Seq("a b c" -> 2L))
    // a genuinely foreign meta still fails loudly
    val dBad = java.nio.file.Files.createTempDirectory("ngramlm_bad").toString
    writeV1(dBad, """{"something": 1}""", Seq((1, "a", 1L)))
    intercept[IllegalArgumentException] { NgramLm.load(spark, dBad) }
  }

  test("halfUp matches functions.round HALF_UP semantics on the boundary") {
    import graft.expressions.BigramLmScore.halfUp
    def ref(x: Double): Long =
      java.math.BigDecimal.valueOf(x)
        .setScale(0, java.math.RoundingMode.HALF_UP).longValueExact()
    val probes = Seq(0.0, 0.5, -0.5, 1.5, -1.5, 2.5, -2.5, 0.49999999999999994,
      -0.49999999999999994, 2.4999999999999996, -2.4999999999999996,
      1e12 + 0.5, -(1e12 + 0.5), 123456.789, -123456.789)
    probes.foreach(x => assert(halfUp(x) == ref(x), s"halfUp($x)"))
  }

  test("scoreDocs: exact integer score matches hand computation") {
    val m = fitB(corpus, col("text"), uniCap = 10, biCap = 10)
    val out = NgramLm.scoreDocs(corpus, col("doc_id"), col("text"), m)
      .orderBy("doc_id").collect()
    def term(c2: Long, c1: Long): Long =
      math.round(1e6 * math.log((c2 + 1.0) / (c1 + 10.0)))
    // doc 1: grams (a b, c2=3 c1=5), (b a, c2=2 c1=3), (a b, 3/5)
    val d1 = term(3, 5) * 2 + term(2, 3)
    // doc 2: (a b, 3/5), (b a, 2/3), (a a, 1/5)
    val d2 = term(3, 5) + term(2, 3) + term(1, 5)
    assert(out.map(_.getLong(0)).toSeq == Seq(1L, 2L))
    assert(out.map(r => r.getLong(3)).toSeq == Seq(d1, d2))
    assert(out.map(r => r.getLong(1)).toSeq == Seq(3L, 3L)) // n_bigrams
    assert(out.map(r => r.getLong(2)).toSeq == Seq(0L, 0L)) // oov
    // ppl readout matches the integer score exactly
    val ppl1 = BigDecimal(math.exp(-d1 / (1e6 * 3)))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(out.head.getDouble(4) == ppl1)
  }

  test("OOV bigrams are counted and scored with the count-0 fallback") {
    val m = fitB(corpus, col("text"), uniCap = 10, biCap = 10)
    val novel = Seq((9L, "q r s")).toDF("doc_id", "text") // all grams unseen
    val out = NgramLm.scoreDocs(novel, col("doc_id"), col("text"), m)
      .collect().head
    assert(out.getLong(1) == 2L && out.getLong(2) == 2L)
    val t = math.round(1e6 * math.log(1.0 / 10.0))
    assert(out.getLong(3) == 2 * t)
  }

  test("junk scores worse than in-distribution text (the filter's contract)") {
    val good = corpus
    val m = fitB(good, col("text"), uniCap = 10, biCap = 10)
    val probe = Seq((1L, "a b a b"), (2L, "z q w x")).toDF("doc_id", "text")
    val s = NgramLm.scoreDocs(probe, col("doc_id"), col("text"), m)
      .orderBy("doc_id").select("ppl").as[Double].collect()
    assert(s(0) < s(1), s"in-distribution ppl ${s(0)} must beat junk ${s(1)}")
  }

  test("docs with fewer than two tokens emit no row") {
    val m = fitB(corpus, col("text"), uniCap = 10, biCap = 10)
    val short = Seq((1L, "a"), (2L, ""), (3L, "a b")).toDF("doc_id", "text")
    val ids = NgramLm.scoreDocs(short, col("doc_id"), col("text"), m)
      .select("doc_id").as[Long].collect().toSet
    assert(ids == Set(3L))
  }

  test("kernel and join scoring paths are row-identical") {
    val m = fitB(corpus, col("text"), uniCap = 10, biCap = 10)
    val probe = corpus.unionByName(
      Seq((9L, "q r s"), (10L, "a"), (11L, "b a a b z")).toDF("doc_id", "text"))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("doc_id").collect().map(_.toSeq).toSeq
    val k = rows(NgramLm.scoreDocsKernel(probe, col("doc_id"), col("text"), m))
    val j = rows(NgramLm.scoreDocsJoined(probe, col("doc_id"), col("text"), m))
    assert(k == j, s"kernel\n$k\nvs join\n$j")
  }

  test("kernel scoring is a pure projection: no join, no shuffle") {
    val m = fitB(corpus, col("text"), uniCap = 10, biCap = 10)
    val plan = NgramLm.scoreDocsKernel(corpus, col("doc_id"), col("text"), m)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Join"), plan)
    assert(!plan.contains("Exchange"), plan)
  }

  test("pplGate equals scoreDocs + threshold on both paths; one kernel eval") {
    val m = fitB(corpus, col("text"), uniCap = 10, biCap = 10)
    val probe = corpus.unionByName(
      Seq((9L, "q r s"), (10L, "a"), (11L, "b a a b z")).toDF("doc_id", "text"))
    val expected = NgramLm.scoreDocs(probe, col("doc_id"), col("text"), m)
      .filter(col("ppl") <= 5.0).select("doc_id").as[Long].collect().toSet
    assert(expected.nonEmpty && expected.size < 5, s"threshold must split: $expected")
    val kept = NgramLm.pplGate(probe, col("doc_id"), col("text"), m, 5.0)
    assert(kept.columns.toSeq == Seq("doc_id", "text"), "schema preserved")
    assert(kept.select("doc_id").as[Long].collect().toSet == expected)
    // oversized-model route: same kept set through the join + semi-join
    val big = m.copy(uniCap = NgramLm.KernelModelMaxRows, biCap = 1)
    val keptBig = NgramLm.pplGate(probe, col("doc_id"), col("text"), big, 5.0)
      .select("doc_id").as[Long].collect().toSet
    val expectedBig = NgramLm.scoreDocsJoined(probe, col("doc_id"), col("text"), big)
      .filter(col("ppl") <= 5.0).select("doc_id").as[Long].collect().toSet
    assert(keptBig == expectedBig)
    // the fused gate is ONE kernel instance, zero joins, zero shuffles —
    // pinned over a parquet scan (a local Seq constant-folds the whole
    // filter away at optimization time, hiding the plan shape)
    val dir = java.nio.file.Files
      .createTempDirectory("ngramlm_gate_plan").toString
    probe.write.mode("overwrite").parquet(dir)
    val onScan = NgramLm.pplGate(spark.read.parquet(dir),
      col("doc_id"), col("text"), m, 5.0)
    val plan = onScan.queryExecution.optimizedPlan.toString
    assert("(?i)bigramlmgate".r.findAllIn(plan).length == 1, plan)
    val exec = onScan.queryExecution.executedPlan.toString
    assert(!exec.contains("Join") && !exec.contains("Exchange"), exec)
    assert(onScan.select("doc_id").as[Long].collect().toSet == expected)
  }

  test("join path broadcasts the model; scoreDocs cuts over on the caps") {
    val m = fitB(corpus, col("text"), uniCap = 10, biCap = 10)
    val joined = NgramLm.scoreDocsJoined(corpus, col("doc_id"), col("text"), m)
      .queryExecution.executedPlan.toString
    assert(joined.contains("BroadcastHashJoin"), joined)
    assert(!joined.contains("SortMergeJoin"), joined)
    // small caps -> fused kernel (no join anywhere in the plan)
    val small = NgramLm.scoreDocs(corpus, col("doc_id"), col("text"), m)
      .queryExecution.executedPlan.toString
    assert(!small.contains("Join"), small)
    // caps beyond the embed bound -> the join formulation
    val big = m.copy(uniCap = NgramLm.KernelModelMaxRows, biCap = 1)
    val bigPlan = NgramLm.scoreDocs(corpus, col("doc_id"), col("text"), big)
      .queryExecution.executedPlan.toString
    assert(bigPlan.contains("BroadcastHashJoin"), bigPlan)
  }
  test("fitOrder(3): trigram model counts and context table exactly") {
    // corpus trigrams: doc1 (a b a)(b a b); doc2 (a b a)(b a a)
    // bigram contexts: a b=3, b a=3, a a=1 (but context table = bigram counts)
    val m = fitOrderB(corpus, col("text"), order = 3,
      ctxCap = 10, gramCap = 10)
    assert(m.order == 3)
    assert(m.uniArr.toMap == Map("a b" -> 3L, "b a" -> 2L, "a a" -> 1L))
    assert(m.biArr.toMap ==
      Map("a b a" -> 2L, "b a b" -> 1L, "b a a" -> 1L))
  }

  test("trigram scoring: hand computation, kernel == join, gate parity") {
    val m = fitOrderB(corpus, col("text"), order = 3,
      ctxCap = 10, gramCap = 10)
    def term(c2: Long, c1: Long): Long =
      graft.expressions.BigramLmScore.halfUp(
        1e6 * math.log((c2 + 1.0) / (c1 + 10.0)))
    val out = NgramLm.scoreDocs(corpus, col("doc_id"), col("text"), m)
      .orderBy("doc_id").collect()
    // doc 1 "a b a b": (a b a | a b, c=2/3) (b a b | b a, 1/2)
    val d1 = term(2, 3) + term(1, 2)
    // doc 2 "a b a a": (a b a | a b, 2/3) (b a a | b a, 1/2)
    val d2 = term(2, 3) + term(1, 2)
    assert(out.map(r => r.getLong(3)).toSeq == Seq(d1, d2))
    assert(out.map(r => r.getLong(1)).toSeq == Seq(2L, 2L))
    // kernel and join paths row-identical at order 3 (incl. OOV + short)
    val probe = corpus.unionByName(
      Seq((9L, "q r s t"), (10L, "a b"), (11L, "b a a b z")).toDF("doc_id", "text"))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("doc_id").collect().map(_.toSeq).toSeq
    assert(rows(NgramLm.scoreDocsKernel(probe, col("doc_id"), col("text"), m)) ==
      rows(NgramLm.scoreDocsJoined(probe, col("doc_id"), col("text"), m)))
    // docs with < 3 tokens produce no row
    val ids = NgramLm.scoreDocs(probe, col("doc_id"), col("text"), m)
      .select("doc_id").as[Long].collect().toSet
    assert(!ids.contains(10L) && ids.contains(11L))
    // gate == score + threshold at order 3
    val expected = NgramLm.scoreDocs(probe, col("doc_id"), col("text"), m)
      .filter(col("ppl") <= 8.0).select("doc_id").as[Long].collect().toSet
    val kept = NgramLm.pplGate(probe, col("doc_id"), col("text"), m, 8.0)
      .select("doc_id").as[Long].collect().toSet
    assert(kept == expected)
  }

  test("trigram save/load round-trips the order with the model") {
    val m = fitOrderB(corpus, col("text"), order = 3,
      ctxCap = 2, gramCap = 2)
    val dir = java.nio.file.Files.createTempDirectory("ngramlm_rt3").toString
    NgramLm.save(spark, m, dir)
    val m2 = loadB(spark, dir)
    assert(m2.order == 3)
    assert(m2.uniArr.toSeq == m.uniArr.toSeq)
    assert(m2.biArr.toSeq == m.biArr.toSeq)
  }


  test("large-cap fit stays distributed: no driver arrays, join scoring, save/load") {
    // ctxCap + gramCap above KernelModelMaxRows must NEVER collect to the
    // driver (r10 ADVICE: a CCNet-scale fit would OOM it) — the model is a
    // DistributedLm over persisted frames and scores through the join path
    spark.sharedState.cacheManager.clearCache()
    val big = NgramLm.fitOrder(corpus, col("text"), order = 2,
      ctxCap = NgramLm.KernelModelMaxRows, gramCap = 1)
    val d = big.asInstanceOf[NgramLm.DistributedLm]
    // the fit-scoped GroupedTopK-survivors persist is released by the time
    // fitOrder returns — only the model's own two count tables stay cached
    // (model-lifetime by contract), so repeated fits never accumulate
    // intermediate frames (r11 ADVICE: the double-derive off the lazy
    // lineage is gone, and so is its persist)
    assert(!spark.sharedState.cacheManager.isEmpty)
    d.uni.unpersist(); d.bi.unpersist()
    assert(spark.sharedState.cacheManager.isEmpty,
      "fitOrder left a non-model frame cached")
    // the distributed model scores through a SHUFFLED hash join, never a
    // broadcast — BroadcastExchange would rebuild the model on the driver
    // (r11 ADVICE)
    val distPlan = NgramLm.scoreDocs(corpus, col("doc_id"), col("text"), big)
      .queryExecution.executedPlan.toString
    assert(distPlan.contains("ShuffledHashJoin") &&
      !distPlan.contains("BroadcastHashJoin"), distPlan)
    assert(d.uniDF(spark).collect().map(r => (r.getString(0), r.getLong(1)))
      .sortBy(_._1).toSeq == Seq("a" -> 5L, "b" -> 3L))
    // gramCap = 1 binds through the distributed trim: top-1 by (c desc, g)
    assert(d.biDF(spark).collect().map(r => (r.getString(0), r.getLong(1)))
      .toSeq == Seq("a b" -> 3L))
    // row-equal to the same model expressed as arrays
    val twin = NgramLm.BigramLm(Array("a" -> 5L, "b" -> 3L),
      Array("a b" -> 3L), NgramLm.KernelModelMaxRows, 1)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("doc_id").collect().map(_.toSeq).toSeq
    assert(rows(NgramLm.scoreDocs(corpus, col("doc_id"), col("text"), big)) ==
      rows(NgramLm.scoreDocsJoined(corpus, col("doc_id"), col("text"), twin)))
    // save tags TRUE gram orders and load round-trips distributed
    val dir = java.nio.file.Files.createTempDirectory("ngramlm_dist").toString
    NgramLm.save(spark, big, dir)
    val tags = spark.read.parquet(dir + "/counts").select("n")
      .distinct().collect().map(_.getInt(0)).sorted.toSeq
    assert(tags == Seq(1, 2))
    val back = NgramLm.load(spark, dir)
    assert(back.isInstanceOf[NgramLm.DistributedLm])
    assert(rows(NgramLm.scoreDocs(corpus, col("doc_id"), col("text"), back)) ==
      rows(NgramLm.scoreDocs(corpus, col("doc_id"), col("text"), big)))
  }

  test("save tags context rows with the true order (trigram ctx = n=2)") {
    val m = fitOrderB(corpus, col("text"), order = 3, ctxCap = 10, gramCap = 10)
    val dir = java.nio.file.Files.createTempDirectory("ngramlm_tag").toString
    NgramLm.save(spark, m, dir)
    val byN = spark.read.parquet(dir + "/counts").collect()
      .groupBy(_.getInt(0)).view.mapValues(_.map(_.getString(1)).toSet).toMap
    assert(byN.keySet == Set(2, 3), s"true-order tags, got ${byN.keySet}")
    assert(byN(2) == Set("a b", "b a", "a a"))
    assert(byN(3) == Set("a b a", "b a b", "b a a"))
  }

  test("fitBackoff: all-order tables from one scan; caps and ceiling enforced") {
    val m = NgramLm.fitBackoff(corpus, col("text"), order = 3,
      caps = Seq(10, 10, 10))
    assert(m.order == 3 && m.alpha == 0.4)
    assert(m.tables(0).toMap == Map("a" -> 5L, "b" -> 3L))
    assert(m.tables(1).toMap == Map("a b" -> 3L, "b a" -> 2L, "a a" -> 1L))
    assert(m.tables(2).toMap ==
      Map("a b a" -> 2L, "b a b" -> 1L, "b a a" -> 1L))
    assert(m.uniTotal == 8L)
    // per-order caps truncate deterministically
    val t = NgramLm.fitBackoff(corpus, col("text"), order = 3,
      caps = Seq(1, 2, 1))
    assert(t.tables(0).toSeq == Seq("a" -> 5L))
    assert(t.tables(1).toSeq == Seq("a b" -> 3L, "b a" -> 2L))
    assert(t.tables(2).toSeq == Seq("a b a" -> 2L))
    // the kernel-embed ceiling is a hard require, not a silent collect
    intercept[IllegalArgumentException] {
      NgramLm.fitBackoff(corpus, col("text"), order = 2,
        caps = Seq(NgramLm.KernelModelMaxRows, 1))
    }
  }

  test("stupid-backoff scoring: hand goldens on every branch") {
    import graft.expressions.{BackoffLmScore, BigramLmScore}
    val m = NgramLm.fitBackoff(corpus, col("text"), order = 3,
      caps = Seq(10, 10, 10))
    val ap = BackoffLmScore.alphaPowers(0.4, 3)
    def t(s: Double): Long = BigramLmScore.halfUp(1e6 * math.log(s))
    val probe = corpus.unionByName(Seq(
      (9L, "q r s"),    // full OOV floor:      alpha^2 / T
      (10L, "a a b"),   // bigram backoff:      alpha * c(a b)/c(a)
      (11L, "z z a"),   // unigram backoff:     alpha^2 * c(a)/T
      (12L, "a b")      // < order tokens: no row
    ).toDF("doc_id", "text"))
    val out = NgramLm.scoreDocsBackoff(probe, col("doc_id"), col("text"), m)
      .orderBy("doc_id").collect()
    assert(out.map(_.getLong(0)).toSeq == Seq(1L, 2L, 9L, 10L, 11L))
    // doc1 "a b a b": (a b a | a b) = 2/3, (b a b | b a) = 1/2 — no backoff
    val d1 = t(1.0 * 2 / 3) + t(1.0 * 1 / 2)
    // doc2 "a b a a": (a b a | a b) = 2/3, (b a a | b a) = 1/2
    val d2 = d1
    val d9 = t(ap(2) / 8.0)
    val d10 = t(ap(1) * 3 / 5)
    val d11 = t(ap(2) * 5 / 8.0)
    assert(out.map(_.getLong(3)).toSeq == Seq(d1, d2, d9, d10, d11))
    assert(out.map(_.getLong(1)).toSeq == Seq(2L, 2L, 1L, 1L, 1L)) // n_grams
    assert(out.map(_.getLong(2)).toSeq == Seq(0L, 0L, 1L, 1L, 1L)) // backoffs
    // ppl readout matches the integer score exactly
    val ppl9 = BigDecimal(math.exp(-d9 / 1e6))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(out(2).getDouble(4) == ppl9)
  }

  test("backoff kernel == joined path; kernel is a pure projection") {
    val m = NgramLm.fitBackoff(corpus, col("text"), order = 3,
      caps = Seq(2, 2, 2)) // binding caps force misses at every level
    val probe = corpus.unionByName(Seq(
      (9L, "q r s t"), (10L, "a a b"), (11L, "z z a"), (12L, "a"),
      (13L, "b a a b z a b a")
    ).toDF("doc_id", "text"))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("doc_id").collect().map(_.toSeq).toSeq
    val k = rows(NgramLm.scoreDocsBackoff(probe, col("doc_id"), col("text"), m))
    val j = rows(NgramLm.scoreDocsBackoffJoined(probe, col("doc_id"), col("text"), m))
    assert(k == j, s"kernel\n$k\nvs join\n$j")
    val plan = NgramLm.scoreDocsBackoff(probe, col("doc_id"), col("text"), m)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Join"), plan)
    assert(!plan.contains("Exchange"), plan)
    val joined = NgramLm.scoreDocsBackoffJoined(probe, col("doc_id"), col("text"), m)
      .queryExecution.executedPlan.toString
    assert(joined.contains("BroadcastHashJoin"), joined)
    assert(!joined.contains("SortMergeJoin"), joined)
  }


  test("pplGate routes DistributedLm through the join+semi path, same kept set") {
    val big = NgramLm.fitOrder(corpus, col("text"), order = 2,
      ctxCap = NgramLm.KernelModelMaxRows, gramCap = 1)
    assert(big.isInstanceOf[NgramLm.DistributedLm])
    val probe = corpus.unionByName(
      Seq((9L, "q r s"), (11L, "b a a b z")).toDF("doc_id", "text"))
    // V = ctxCap = 2^20 makes every smoothed probability tiny, so ppl sits
    // in the hundreds of thousands; 5e5 splits in-corpus docs from OOV junk
    val expected = NgramLm.scoreDocs(probe, col("doc_id"), col("text"), big)
      .filter(col("ppl") <= 500000.0).select("doc_id").as[Long].collect().toSet
    val kept = NgramLm.pplGate(probe, col("doc_id"), col("text"), big, 500000.0)
      .select("doc_id").as[Long].collect().toSet
    assert(kept == expected && kept.nonEmpty && kept != probe.count())
    assert(!kept.contains(9L), "all-OOV junk must fall outside the gate")
  }

  test("backoff gate == scoreDocsBackoff + threshold; one kernel, no shuffle") {
    val m = NgramLm.fitBackoff(corpus, col("text"), order = 3,
      caps = Seq(10, 10, 10))
    val probe = corpus.unionByName(Seq(
      (9L, "q r s"), (10L, "a a b"), (11L, "z z a"), (12L, "a b")
    ).toDF("doc_id", "text"))
    val scored = NgramLm.scoreDocsBackoff(probe, col("doc_id"), col("text"), m)
    // pick a threshold that splits the probe set
    val ppls = scored.orderBy("ppl").select("ppl").as[Double].collect()
    val cut = ppls(ppls.length / 2)
    val expected = scored.filter(col("ppl") <= cut)
      .select("doc_id").as[Long].collect().toSet
    assert(expected.nonEmpty && expected.size < ppls.length)
    val kept = NgramLm.pplGateBackoff(probe, col("text"), m, cut)
    assert(kept.columns.toSeq == Seq("doc_id", "text"), "schema preserved")
    assert(kept.select("doc_id").as[Long].collect().toSet == expected)
    // fused gate over a parquet scan: ONE kernel instance, no join/shuffle
    val dir = java.nio.file.Files
      .createTempDirectory("backoff_gate_plan").toString
    probe.write.mode("overwrite").parquet(dir)
    val onScan = NgramLm.pplGateBackoff(spark.read.parquet(dir),
      col("text"), m, cut)
    val plan = onScan.queryExecution.optimizedPlan.toString
    assert("(?i)backofflmgate".r.findAllIn(plan).length == 1, plan)
    val exec = onScan.queryExecution.executedPlan.toString
    assert(!exec.contains("Join") && !exec.contains("Exchange"), exec)
    assert(onScan.select("doc_id").as[Long].collect().toSet == expected)
  }

  test("KN scoring: hand computation on every branch") {
    // capped tables: uni a=5 b=3; bi "a b"=3 "b a"=2 "a a"=1
    // KN stats from the bi table: nf(a)=2 nf(b)=1; nb(a)=2 nb(b)=1; M=3
    val m = NgramLm.KnLm(fitB(corpus, col("text"), uniCap = 10, biCap = 10),
      discount = 0.75)
    val denom = (3 + 10).toDouble // M + V
    // the EXACT kernel/oracle op order
    def pc(nbw: Long): Double = (nbw + 1.0) / denom
    def pFull(c2: Long, c1: Long, nfv: Long, nbw: Long): Double =
      (c2 - 0.75) / c1.toDouble + 0.75 * (nfv + 1.0) / c1.toDouble * pc(nbw)
    def pNoBi(c1: Long, nfv: Long, nbw: Long): Double =
      0.0 + 0.75 * (nfv + 1.0) / c1.toDouble * pc(nbw)
    def t(p: Double): Long =
      graft.expressions.BigramLmScore.halfUp(1e6 * math.log(p))
    val probe = Seq(
      (1L, "a b a b"), // all bigrams in model
      (2L, "b b"),     // v in model, bigram absent (nf(b)=1, nb(b)=1)
      (3L, "z a"),     // v out of model -> continuation-only
      (4L, "z z")      // v out of model, w never continued -> 1/(M+V)
    ).toDF("doc_id", "text")
    val out = NgramLm.scoreDocsKn(probe, col("doc_id"), col("text"), m)
      .orderBy("doc_id").collect()
    val d1 = t(pFull(3, 5, 2, 1)) * 2 + t(pFull(2, 3, 1, 2))
    val d2 = t(pNoBi(3, 1, 1))
    val d3 = t(pc(2))
    val d4 = t(pc(0))
    assert(out.map(_.getLong(0)).toSeq == Seq(1L, 2L, 3L, 4L))
    assert(out.map(_.getLong(3)).toSeq == Seq(d1, d2, d3, d4))
    assert(out.map(_.getLong(1)).toSeq == Seq(3L, 1L, 1L, 1L)) // n_bigrams
    assert(out.map(_.getLong(2)).toSeq == Seq(0L, 1L, 1L, 1L)) // oov
    // ppl readout ties to the integer score exactly
    val ppl1 = BigDecimal(math.exp(-d1 / (1e6 * 3)))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(out.head.getDouble(4) == ppl1)
    // strictly positive probability even when the capped table never
    // continues a word present in uni: biCap=1 leaves only "a b", so
    // "b a" has nf(b)=0 — P = 0.75*1/3 * 1/(1+10), finite and scored
    val m1 = NgramLm.KnLm(fitB(corpus, col("text"), uniCap = 10, biCap = 1))
    val o1 = NgramLm.scoreDocsKn(Seq((9L, "b a")).toDF("doc_id", "text"),
      col("doc_id"), col("text"), m1).collect().head
    assert(o1.getLong(3) ==
      t(0.0 + 0.75 * 1.0 / 3.0 * (1.0 / 11.0)))
  }

  test("KN kernel == joined path; kernel is a pure projection") {
    val m = NgramLm.KnLm(fitB(corpus, col("text"), uniCap = 10, biCap = 10))
    val probe = corpus.unionByName(Seq(
      (9L, "q r s"), (10L, "a a b z"), (11L, "b b"), (12L, "a")
    ).toDF("doc_id", "text"))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("doc_id").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
          r.getDouble(4))).toSeq
    val k = rows(NgramLm.scoreDocsKn(probe, col("doc_id"), col("text"), m))
    val j = rows(NgramLm.scoreDocsKnJoined(probe, col("doc_id"), col("text"), m))
    assert(k == j, s"kernel\n$k\nvs join\n$j")
    // truncated-model parity too (nf/nb derived from the CAPPED table)
    val mt = NgramLm.KnLm(fitB(corpus, col("text"), uniCap = 1, biCap = 2))
    assert(rows(NgramLm.scoreDocsKn(probe, col("doc_id"), col("text"), mt)) ==
      rows(NgramLm.scoreDocsKnJoined(probe, col("doc_id"), col("text"), mt)))
    val plan = NgramLm.scoreDocsKn(corpus, col("doc_id"), col("text"), m)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Join"), plan)
    assert(!plan.contains("Exchange"), plan)
    val joined = NgramLm.scoreDocsKnJoined(probe, col("doc_id"), col("text"), m)
      .queryExecution.executedPlan.toString
    assert(joined.contains("BroadcastHashJoin"), joined)
    assert(!joined.contains("SortMergeJoin"), joined)
  }

  test("order-3 KN: hand computation on every branch") {
    // backoff fit tables: T1 a=5 b=3; T2 "a b"=3 "b a"=2 "a a"=1;
    // T3 "a b a"=2 "b a b"=1 "b a a"=1
    // derived: nf2(a)=2 nf2(b)=1; nb2(a)=2 nb2(b)=1; M2=3;
    //          nf3("a b")=1 nf3("b a")=2 (nf3("a a")=0)
    val m = NgramLm.Kn3Lm(NgramLm.fitBackoff(corpus, col("text"), order = 3,
      caps = Seq(10, 10, 10)), discount = 0.75)
    val denom2 = (3 + 10).toDouble // M2 + V, V = caps(0) = 10
    def pc(nb: Long): Double = (nb + 1.0) / denom2
    def p2(c23: Long, c1: Long, nf2: Long, nb: Long): Double =
      if (c1 == 0) pc(nb)
      else (if (c23 == 0) 0.0 else (c23 - 0.75) / c1.toDouble) +
        0.75 * (nf2 + 1.0) / c1.toDouble * pc(nb)
    def p3(c123: Long, c12: Long, nf3: Long, lower: Double): Double =
      if (c12 == 0) lower
      else (if (c123 == 0) 0.0 else (c123 - 0.75) / c12.toDouble) +
        0.75 * (nf3 + 1.0) / c12.toDouble * lower
    def t(p: Double): Long =
      graft.expressions.BigramLmScore.halfUp(1e6 * math.log(p))
    val probe = Seq(
      (1L, "a b a b"), // both windows fully in model
      (2L, "a a b"),   // trigram absent, bigram ctx "a a" present, nf3=0
      (3L, "b b a"),   // bigram ctx absent -> pure P2 backoff
      (4L, "x y z")    // everything OOV -> continuation floor 1/(M2+V)
    ).toDF("doc_id", "text")
    val out = NgramLm.scoreDocsKn3(probe, col("doc_id"), col("text"), m)
      .orderBy("doc_id").collect()
    val d1 = t(p3(2, 3, 1, p2(2, 3, 1, 2))) + // (a b a): P2 of (b, a)
      t(p3(1, 2, 2, p2(3, 5, 2, 1)))          // (b a b): P2 of (a, b)
    val d2 = t(p3(0, 1, 0, p2(3, 5, 2, 1)))   // (a a b): ctx c("a a")=1
    val d3 = t(p2(2, 3, 1, 2))                // (b b a): P2 of (b, a)
    val d4 = t(pc(0))
    assert(out.map(_.getLong(0)).toSeq == Seq(1L, 2L, 3L, 4L))
    assert(out.map(_.getLong(3)).toSeq == Seq(d1, d2, d3, d4))
    assert(out.map(_.getLong(1)).toSeq == Seq(2L, 1L, 1L, 1L)) // n_trigrams
    assert(out.map(_.getLong(2)).toSeq == Seq(0L, 1L, 1L, 1L)) // oov
    val ppl1 = BigDecimal(math.exp(-d1 / (1e6 * 2)))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(out.head.getDouble(4) == ppl1)
  }

  test("order-3 KN kernel == joined path; kernel is a pure projection") {
    val m = NgramLm.Kn3Lm(NgramLm.fitBackoff(corpus, col("text"), order = 3,
      caps = Seq(10, 10, 10)))
    val probe = corpus.unionByName(Seq(
      (9L, "q r s t"), (10L, "a a b z b a"), (11L, "b b a"), (12L, "a b")
    ).toDF("doc_id", "text"))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("doc_id").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
          r.getDouble(4))).toSeq
    val k = rows(NgramLm.scoreDocsKn3(probe, col("doc_id"), col("text"), m))
    val j = rows(NgramLm.scoreDocsKn3Joined(probe, col("doc_id"), col("text"), m))
    assert(k == j, s"kernel\n$k\nvs join\n$j")
    // truncated tables: stats derive from what SURVIVED the caps
    val mt = NgramLm.Kn3Lm(NgramLm.fitBackoff(corpus, col("text"), order = 3,
      caps = Seq(1, 2, 2)))
    assert(rows(NgramLm.scoreDocsKn3(probe, col("doc_id"), col("text"), mt)) ==
      rows(NgramLm.scoreDocsKn3Joined(probe, col("doc_id"), col("text"), mt)))
    val plan = NgramLm.scoreDocsKn3(corpus, col("doc_id"), col("text"), m)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Join") && !plan.contains("Exchange"), plan)
    val joined = NgramLm.scoreDocsKn3Joined(probe, col("doc_id"), col("text"), m)
      .queryExecution.executedPlan.toString
    assert(joined.contains("BroadcastHashJoin"), joined)
    assert(!joined.contains("SortMergeJoin"), joined)
    // order-2 base fits are rejected — the recursion is defined at 3
    intercept[IllegalArgumentException] {
      NgramLm.Kn3Lm(NgramLm.fitBackoff(corpus, col("text"), order = 2,
        caps = Seq(10, 10)))
    }
  }

  test("KnLm wraps only an in-ceiling bigram fit") {
    // q5v's construction: KnLm(base, D) over a kernel-embeddable BigramLm
    assert(!NgramLm.fit(corpus, col("text"),
      uniCap = NgramLm.KernelModelMaxRows, biCap = 1).isInstanceOf[NgramLm.BigramLm])
    val kn = NgramLm.KnLm(fitB(corpus, col("text"), uniCap = 10, biCap = 10))
    assert(kn.base.uniArr.toMap == Map("a" -> 5L, "b" -> 3L))
    assert(kn.discount == 0.75)
    intercept[IllegalArgumentException](NgramLm.KnLm(kn.base, discount = 1.0))
  }
}
