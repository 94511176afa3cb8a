package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

class CurateSpec extends SparkSpec {
  import spark.implicits._

  private val good = "the quick brown fox jumps over the lazy dog and then " +
    "it runs far away into the woods where it lives happily with other foxes"

  private def docs = Seq(
    (1L, good),                                     // survives
    (2L, good),                                     // exact dup of 1
    (3L, good + " extra trailing tail"),            // near dup of 1
    (4L, "la la la la la la la la la la la la"),    // low quality (repetitive) + not en
    (5L, "word word word")                          // too short
  ).toDF("doc_id", "text")

  test("funnelAudit reports monotone survivor counts per stage") {
    val audit = Curate.funnelAudit(docs, "doc_id", "text",
        Curate.Config(minQuality = 0.5, minTokens = 10))
      .orderBy("stage").as[(String, Long)].collect()
    val counts = audit.map(_._2)
    assert(counts.head == 5)
    assert(counts.zip(counts.tail).forall { case (a, b) => b <= a },
      s"funnel must be monotone: ${audit.toSeq}")
  }

  test("repetitionStats: looped text scores high top-gram fraction, varied text scores 1.0 distinct") {
    val df = Seq(
      (1L, "a b c a b c a b c"),          // 7 trigrams, 'a b c' x3, 3 distinct
      (2L, "one two three four five six") // 4 trigrams, all distinct
    ).toDF("doc_id", "text")
    val r = Curate.repetitionStats(df, "doc_id", "text", n = 3)
      .select("doc_id", "n_grams", "top_ngram_frac", "distinct_frac")
      .as[(Long, Long, Double, Double)].collect()
      .map(t => t._1 -> ((t._2, t._3, t._4))).toMap
    assert(r(1L) == ((7L, 3.0 / 7, 3.0 / 7)), s"looped doc: ${r(1L)}")
    assert(r(2L) == ((4L, 1.0 / 4, 1.0)), s"varied doc: ${r(2L)}")
  }

  test("packSequences fills packs to the token budget in order") {
    val df = Seq((1L, 40L), (2L, 50L), (3L, 30L), (4L, 100L), (5L, 10L))
      .toDF("doc_id", "n_tokens")
    val packs = Curate.packSequences(df, "n_tokens", "doc_id", budget = 100L)
      .select("doc_id", "pack_id").as[(Long, Long)].collect().toMap
    // exclusive cumsum: 0,40,90,120,220 -> packs 0,0,0,1,2
    assert(packs == Map(1L -> 0L, 2L -> 0L, 3L -> 0L, 4L -> 1L, 5L -> 2L),
      s"got $packs")
  }

  test("materializePacks conserves docs and tokens exactly") {
    val df = (1 to 57).map(i =>
      (i.toLong, s"doc$i body", (i * 37 % 400 + 20).toLong))
      .toDF("doc_id", "text", "n_tokens")
    val packs = Curate.materializePacks(df, "n_tokens", "doc_id", "text",
      budget = 700L)
    val (nDocs, nTokens) = packs
      .agg(sum(col("n_docs")), sum(col("n_tokens")))
      .as[(Long, Long)].head()
    assert(nDocs == 57, s"doc count not conserved: $nDocs")
    val expectedTokens = (1 to 57).map(i => i * 37 % 400 + 20).sum
    assert(nTokens == expectedTokens, s"token count not conserved: $nTokens")
    // every doc's text appears in exactly one pack
    val joined = packs.select("text").as[String].collect().mkString("<|eos|>")
    (1 to 57).foreach(i =>
      assert(joined.contains(s"doc$i body"), s"doc$i missing from packs"))
  }

  test("materializePacks joins each pack's docs in order with the separator") {
    val df = Seq(
      (1L, "aaa", 600L), (2L, "bbb", 600L), (3L, "ccc", 300L), (4L, "ddd", 900L)
    ).toDF("doc_id", "text", "n_tokens")
    // cum: 0, 600, 1200, 1500 -> packs 0, 0, 1, 1
    val out = Curate.materializePacks(df, "n_tokens", "doc_id", "text",
        budget = 1000L, sep = "|")
      .select("pack_id", "n_docs", "n_tokens", "text")
      .as[(Long, Long, Long, String)].collect().sortBy(_._1)
    assert(out.toSeq == Seq(
      (0L, 2L, 1200L, "aaa|bbb"),
      (1L, 2L, 1200L, "ccc|ddd")), s"got ${out.toSeq}")
  }

  test("packSequences string keys sharing a long prefix spread buckets and match the global window") {
    // URL- and timestamp-shaped keys share a prefix longer than any fixed
    // byte-prefix image: the adaptive common-prefix strip in PrefixSum must
    // (a) keep packing bit-identical to a global window and (b) NOT
    // degenerate every row into one bucket (the r6 ADVICE failure mode)
    for (keyOf <- Seq(
        (i: Int) => f"https://www.site$i%04d.example/page",
        (i: Int) => f"2026-08-13T07:${i / 60}%02d:${i % 60}%02d")) {
      val df = (1 to 400).map(i => (keyOf(i), (i % 90 + 10).toLong))
        .toDF("k", "n_tokens")
      val packs = Curate.packSequences(df, "n_tokens", "k", budget = 300L)
      val w = org.apache.spark.sql.expressions.Window.orderBy(col("k"))
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
      val ref = df.withColumn("pack_ref",
        (coalesce(sum(col("n_tokens")).over(w), lit(0L)) / 300L).cast("long"))
      val mismatches = packs
        .join(ref.select(col("k"), col("pack_ref")), Seq("k"))
        .filter(col("pack_id") =!= col("pack_ref")).count()
      assert(mismatches == 0, s"${keyOf(1)}: $mismatches rows off the global window")
      val nBuckets = PrefixSum.bucketed(df, col("k"))
        .select(countDistinct(col("__psBkt"))).as[Long].head()
      assert(nBuckets > 1,
        s"${keyOf(1)}-shaped keys degenerated to $nBuckets bucket(s)")
    }
  }

  test("packSequences shards the running window (no global sort when sharded)") {
    val df = Seq((1L, "a", 40L), (2L, "a", 80L), (3L, "b", 40L))
      .toDF("doc_id", "shard", "n_tokens")
    val packs = Curate.packSequences(df, "n_tokens", "doc_id", 100L, Some("shard"))
      .select("doc_id", "pack_id").as[(Long, Long)].collect().toMap
    assert(packs == Map(1L -> 0L, 2L -> 0L, 3L -> 0L))
    val plan = Curate.packSequences(df, "n_tokens", "doc_id", 100L, Some("shard"))
      .queryExecution.executedPlan.toString
    assert(plan.contains("hashpartitioning(shard"),
      s"sharded packing must partition by shard:\n$plan")
  }

  test("chunkDocs: short doc is one whole chunk, long doc covers every token") {
    val words = (1 to 25).map(i => s"w$i")
    val df = Seq((1L, "tiny doc"), (2L, words.mkString(" ")))
      .toDF("doc_id", "text")
    val out = Curate.chunkDocs(df, "doc_id", "text", chunkTokens = 10, overlap = 3)
      .orderBy("doc_id", "chunk_id")
      .select("doc_id", "chunk_id", "chunk", "n_tokens")
      .as[(Long, Long, String, Long)].collect().toSeq
    assert(out.filter(_._1 == 1L) == Seq((1L, 0L, "tiny doc", 2L)))
    val chunks = out.filter(_._1 == 2L)
    // 25 tokens, budget 10, stride 7 -> ceil((25-10)/7)+1 = 4 chunks
    assert(chunks.map(_._2) == Seq(0L, 1L, 2L, 3L))
    // stride coverage: chunk k starts at token k*7, consecutive chunks share
    // exactly `overlap` tokens, and the union is the original token stream
    chunks.foreach { case (_, k, c, n) =>
      val toks = c.split(" ").toSeq
      assert(toks == words.slice((k * 7).toInt, (k * 7).toInt + 10), s"chunk $k")
      assert(n == toks.size)
    }
    assert(chunks.map(_._3.split(" ").toSeq).reduce((a, b) =>
      a ++ b.drop(3)) == words, "de-overlapped concatenation must rebuild the doc")
  }

  test("salientTerms ranks by tf, breaks ties rarest-first then lexically") {
    val df = Seq(
      (1L, "apple apple apple banana banana cherry shared shared"),
      (2L, "shared words only appear here once each time"),
      (3L, "banana cherry shared common common common")).toDF("doc_id", "text")
    val out = Curate.salientTerms(df, "doc_id", "text", k = 2)
      .select("doc_id", "term", "tf", "df_docs")
      .as[(Long, String, Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.sortBy(t => (-t._3, t._4, t._2)).toSeq).toMap
    // doc 1: apple tf=3 (df 1), banana tf=2 before shared tf=2 (df 1 < 3)
    assert(out(1L).map(_._2) == Seq("apple", "banana"), s"got ${out(1L)}")
    // doc 3: common tf=3, then banana/cherry/shared tf=1 — banana (df 2) and
    // cherry (df 2) tie, banana wins lexically
    assert(out(3L).map(_._2) == Seq("common", "banana"), s"got ${out(3L)}")
  }

  test("salientTerms small and corpus-scale paths agree row-for-row") {
    // the adaptive cutover picks the direct string path for small corpora;
    // this pins that the 64-bit-id indirection path computes the identical
    // result (same ranking, same boundary ties) on the same fixture
    val df = Seq(
      (1L, "apple apple apple banana banana cherry shared shared"),
      (2L, "shared words only appear here once each time"),
      (3L, "banana cherry shared common common common"),
      (4L, "tie tie alpha beta"),
      (5L, "tie tie beta alpha")).toDF("doc_id", "text")
    def canon(out: org.apache.spark.sql.DataFrame) =
      out.select("doc_id", "term", "tf", "df_docs")
        .as[(Long, String, Long, Long)].collect().sortBy(identity).toSeq
    assert(canon(Curate.salientTermsDirect(df, "doc_id", "text", 2)) ==
      canon(Curate.salientTermsHashed(df, "doc_id", "text", 2)))
  }

  test("snapshotDiff classifies added/removed/changed and drops unchanged") {
    val olds = Seq((1L, "alpha"), (2L, "beta"), (3L, "gamma")).toDF("doc_id", "text")
    val news = Seq((2L, "beta"), (3L, "gamma v2"), (4L, "delta")).toDF("doc_id", "text")
    val out = Curate.snapshotDiff(olds, news, "doc_id", "text")
      .as[(Long, String)].collect().toSet
    assert(out == Set((1L, "removed"), (3L, "changed"), (4L, "added")))
  }

  test("repetitionStats is a pure projection: no shuffle in the plan") {
    val df = Seq((1L, "a b c a b c")).toDF("doc_id", "text")
    val plan = Curate.repetitionStats(df, "doc_id", "text")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"),
      s"repetition signals are per-document and must not shuffle:\n$plan")
  }

  test("chunkDocs is a pure generate: no shuffle in the plan") {
    val df = Seq((1L, "a b c")).toDF("doc_id", "text")
    val plan = Curate.chunkDocs(df, "doc_id", "text")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"chunking must not shuffle:\n$plan")
  }

  test("dropBlockedDomains normalizes case, port, and www on both sides") {
    val docs = Seq(
      (1L, "see http://WWW.Bad.Example:8080/x now"),
      (2L, "see http://bad.example/y"),
      (3L, "see http://www.ok.example/z"))
      .toDF("doc_id", "text")
    val blocked = Seq("Bad.Example").toDF("domain")
    val kept = Curate.dropBlockedDomains(docs, "doc_id", "text", blocked)
    assert(kept.select("doc_id").as[Long].collect().toSet == Set(3L))
  }

  test("rankBuckets: exact rank terciles per group, ties split by tieBreak") {
    // group g1: values 10,10,20,30,40,50 (n=6, k=3 -> 2 per bucket;
    // the tie at 10 stays inside bucket 1); g2: n=4 with a tie that
    // SPANS the bucket-1/2 boundary -> tieBreak decides membership
    val df = Seq(
      ("g1", 1L, 10.0), ("g1", 2L, 10.0), ("g1", 3L, 20.0),
      ("g1", 4L, 30.0), ("g1", 5L, 40.0), ("g1", 6L, 50.0),
      ("g2", 7L, 5.0), ("g2", 8L, 5.0), ("g2", 9L, 5.0), ("g2", 10L, 9.0))
      .toDF("g", "id", "v")
    val out = Curate.rankBuckets(df, Seq("g"), col("v"), col("id"), k = 3)
      .select(col("id"), col("bucket")).as[(Long, Int)].collect().toMap
    assert(out == Map(
      1L -> 1, 2L -> 1, 3L -> 2, 4L -> 2, 5L -> 3, 6L -> 3,
      // g2 ranks: id7 r1 -> b1, id8 r2 -> b1 ((1*3)/4=0), id9 r3 -> b2,
      // id10 r4 -> b3
      7L -> 1, 8L -> 1, 9L -> 2, 10L -> 3))
  }

  test("rankBuckets grouped plan: one data exchange, reused across both consumers") {
    import spark.implicits._
    val df = (1 to 200).map(i => (i.toLong, i % 4, (i * 7) % 23)).toDF("id", "g", "v")
    val out = Curate.rankBuckets(df, Seq("g"), col("v"), col("id"), k = 3)
    out.collect() // materialize so AQE finalizes stage reuse
    val plan = out.queryExecution.executedPlan.toString
    // every data exchange is the operator's OWN hash(g) repartition
    // (REPARTITION_BY_COL) — the count aggregate, both windows, and the
    // equi-join all run on that clustering with local sorts only, so
    // the planner inserts NO further exchange (ENSURE_REQUIREMENTS).
    // Column pruning legitimately splits the repartition into one wide
    // branch (tie window) and narrow ones (count/total aggregates),
    // which AQE dedups by stage reuse.
    val ensure = plan.linesIterator.count(l =>
      l.contains("Exchange hashpartitioning") && l.contains("ENSURE_REQUIREMENTS"))
    assert(ensure == 0, s"planner-inserted exchange in grouped rankBuckets:\n$plan")
  }

  test("rankBuckets equals the row_number formulation (grouped + global)") {
    import org.apache.spark.sql.expressions.Window
    val rnd = new scala.util.Random(7)
    val df = (1 to 400).map(i =>
      (s"g${i % 3}", i.toLong, (rnd.nextInt(17) * 10).toDouble))
      .toDF("g", "id", "v")
    def viaWindow(groups: Seq[String]): Map[Long, Int] = {
      val w = (if (groups.isEmpty) Window.partitionBy()
               else Window.partitionBy(groups.map(col): _*))
        .orderBy(col("v"), col("id"))
      val wc = if (groups.isEmpty) Window.partitionBy()
               else Window.partitionBy(groups.map(col): _*)
      df.withColumn("rn", row_number().over(w))
        .withColumn("n", count(lit(1)).over(wc))
        .select(col("id"),
          (((col("rn") - 1) * 4 - pmod((col("rn") - 1) * 4, col("n")))
            / col("n")).cast("int") + 1)
        .as[(Long, Int)].collect().toMap
    }
    val grouped = Curate.rankBuckets(df, Seq("g"), col("v"), col("id"), k = 4)
      .select(col("id"), col("bucket")).as[(Long, Int)].collect().toMap
    assert(grouped == viaWindow(Seq("g")))
    val global = Curate.rankBuckets(df, Nil, col("v"), col("id"), k = 4)
      .select(col("id"), col("bucket")).as[(Long, Int)].collect().toMap
    assert(global == viaWindow(Nil))
  }

  test("rankBuckets excludes null values/groups explicitly, ranks the rest") {
    val df = Seq(
      (Some("g1"), 1L, Some(1.0)), (Some("g1"), 2L, Some(2.0)),
      (Some("g1"), 3L, None), (None, 4L, Some(3.0)))
      .toDF("g", "id", "v")
    val out = Curate.rankBuckets(df, Seq("g"), col("v"), col("id"), k = 2)
      .select(col("id"), col("bucket")).as[(Long, Int)].collect().toMap
    assert(out == Map(1L -> 1, 2L -> 2), s"null rows must drop cleanly: $out")
  }

  test("rankBuckets plans no unpartitioned window, grouped or global") {
    import org.apache.spark.sql.catalyst.plans.logical
    val df = (1 to 100).map(i => (s"g${i % 2}", i.toLong, i.toDouble))
      .toDF("g", "id", "v")
    // the global path's cumulative count must route through PrefixSum's
    // bucketed form (the PlanSpec suite-wide pin, asserted locally here):
    // a Window with an empty partition spec funnels everything into one
    // task at scale
    for (groups <- Seq(Seq("g"), Nil)) {
      val plan = Curate.rankBuckets(df, groups, col("v"), col("id"), k = 3)
        .queryExecution.optimizedPlan
      val offenders = plan.collect {
        case w: logical.Window if w.partitionSpec.isEmpty => w
      }
      assert(offenders.isEmpty, s"groups=$groups plans a global window")
    }
  }

  test("dropBlockedDomains: blocked-URL docs drop, clean/no-URL docs survive") {
    val docs = Seq(
      (1L, "plain text, no urls"),
      (2L, "see http://bad.example/x for details"),
      (3L, "links http://ok.example/a and https://bad.example/y"), // mixed -> drop
      (4L, "only https://ok.example/b here"),
      (5L, "bad.example mentioned without a scheme is not a URL reference"))
      .toDF("doc_id", "text")
    val blocked = Seq("bad.example").toDF("domain")
    val kept = Curate.dropBlockedDomains(docs, "doc_id", "text", blocked)
    assert(kept.columns.toSeq == Seq("doc_id", "text"), "schema preserved")
    assert(kept.select("doc_id").as[Long].collect().toSet == Set(1L, 4L, 5L))
    // the blocklist side broadcasts; the corpus side must not shuffle
    // before the gate (the only exchanges are the anti-join's)
    val plan = kept.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan)
  }
}
