package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.functions._

class TextFunctionsSpec extends SparkSpec {
  import spark.implicits._

  test("tokens splits on whitespace runs, no empties") {
    val out = Seq("a  b\tc ").toDF("t")
      .select(TextFunctions.tokens(col("t"))).as[Seq[String]].collect()(0)
    assert(out == Seq("a", "b", "c"))
  }

  test("bpeish tokens split punctuation off words") {
    val out = Seq("don't stop, now!").toDF("t")
      .select(TextFunctions.bpeishTokens(col("t"))).as[Seq[String]].collect()(0)
    assert(out == Seq("don", "'", "t", "stop", ",", "now", "!"))
  }

  test("type-token ratio: distinct/total") {
    val out = Seq("a b a c").toDF("t")
      .select(TextFunctions.typeTokenRatio(col("t"))).as[Double].collect()(0)
    assert(math.abs(out - 0.75) < 1e-12)
  }

  test("langId picks the language with highest stopword coverage") {
    val df = Seq(
      ("the cat sat on the mat and it was good", "en"),
      ("der hund und die katze ist nicht zu haus", "de"),
      ("le chat est dans la maison et les oiseaux", "fr"),
      ("el perro y la casa es un lugar que vemos", "es"),
      ("xyzzy plugh quux", "und")
    ).toDF("t", "expected")
    val out = df.select(TextFunctions.langId(col("t")).as("got"), col("expected"))
      .as[(String, String)].collect()
    out.foreach { case (got, exp) => assert(got == exp, s"got $got expected $exp") }
  }

  test("shingles: word trigrams, distinct; short text collapses to one shingle") {
    val out = Seq("a b c d").toDF("t")
      .select(TextFunctions.shingles(col("t"), 3)).as[Seq[String]].collect()(0)
    assert(out == Seq("a b c", "b c d"))
    val short = Seq("a b").toDF("t")
      .select(TextFunctions.shingles(col("t"), 3)).as[Seq[String]].collect()(0)
    assert(short == Seq("a b"))
  }

  test("native shingles kernel is bit-identical to the composable formulation") {
    val texts = Seq(
      "", " ", "a", "a b", "a b c", "a b c d e f",
      "dup dup dup dup", "  leading  and   inner   spaces  ",
      "the quick brown fox the quick brown fox")
    val df = texts.toDF("t").cache()
    for (n <- Seq(1, 2, 3, 5)) {
      val native = df.select(TextFunctions.shingles(col("t"), n))
        .as[Seq[String]].collect().toSeq
      val composable = df.select(TextFunctions.shinglesComposable(col("t"), n))
        .as[Seq[String]].collect().toSeq
      assert(native == composable, s"n=$n")
    }
    df.unpersist()
  }

  test("byte-level tokenizer matches split(trim(t), \"\\\\s+\", -1) on every edge") {
    // r18: WordShinglesKernel.tokenize scans raw UTF-8 bytes for the six
    // ASCII \s bytes instead of the regex engine. This pin drives the
    // exact Java-split edge semantics the scanner replicates — leading /
    // trailing separator-run empties, interior-run collapse, non-ASCII
    // whitespace NOT splitting (\s without UNICODE_CHARACTER_CLASS),
    // multi-byte text intact — via the public shingles surface vs the
    // composable twin, plus a deterministic pseudo-random fuzz.
    val edges = Seq(
      "\ta", "a\t", "\t", "\t\n\r", "ab", "a\fb", "a\r\nb",
      "café naïve 日本語 😀 ok",
      "a\u00A0b",     // NBSP is NOT \s: must stay one token
      "\u2028x\u2029", // unicode line separators: not \s either
      " \t mixed \n runs \f here  ")
    val rnd = new scala.util.Random(42)
    val alphabet = "ab \t\n\r\f é10"
    val fuzz = (1 to 200).map(_ =>
      (1 to rnd.nextInt(30)).map(_ =>
        alphabet(rnd.nextInt(alphabet.length))).mkString)
    val df = (edges ++ fuzz).toDF("t").cache()
    for (n <- Seq(1, 2, 3)) {
      val native = df.select(TextFunctions.shingles(col("t"), n))
        .as[Seq[String]].collect().toSeq
      val composable = df.select(TextFunctions.shinglesComposable(col("t"), n))
        .as[Seq[String]].collect().toSeq
      assert(native == composable, s"n=$n")
    }
    df.unpersist()
  }

  test("redactPii replaces emails and phone runs, spares dates/ranges/short ids") {
    val out = Seq(
      "write to jane.doe+x@sub.example.org today",
      "call +49 (0)30 123-4567 now",
      "no pii in this sentence at all",
      "released 2026-08-12 unchanged",          // 8 digits: not a phone
      "range 10000 - 20000 unchanged",          // 3-char separator breaks the run
      "order 12345678 unchanged"                // 8 digits: not a phone
    ).toDF("t").select(TextFunctions.redactPii(col("t"))).as[String].collect()
    assert(out(0) == "write to <EMAIL> today")
    assert(out(1) == "call <PHONE> now")
    assert(out(2) == "no pii in this sentence at all")
    assert(out(3) == "released 2026-08-12 unchanged", s"date redacted: ${out(3)}")
    assert(out(4) == "range 10000 - 20000 unchanged", s"range redacted: ${out(4)}")
    assert(out(5) == "order 12345678 unchanged", s"short id redacted: ${out(5)}")
  }

  test("ngrams keeps duplicates in window order; shingles is its distinct form") {
    val df = Seq("a b a b a").toDF("t")
    val all = df.select(graft.expressions.WordShingles.ngrams(col("t"), 2))
      .as[Seq[String]].head()
    assert(all == Seq("a b", "b a", "a b", "b a"))
    val set = df.select(TextFunctions.shingles(col("t"), 2)).as[Seq[String]].head()
    assert(set == all.distinct)
    val short = df.select(graft.expressions.WordShingles.ngrams(col("t"), 9))
      .as[Seq[String]].head()
    assert(short == Seq("a b a b a"), "short text collapses to one gram")
  }

  test("fused shingleJaccard is bit-identical to the composed intersect formula") {
    val texts = Seq(
      "", " ", "a", "a b", "a b c", "a b c d e f",
      "dup dup dup dup", "  leading  and   inner   spaces  ",
      "the quick brown fox the quick brown fox",
      "the quick brown fox jumps over the lazy dog")
    val pairs = for (a <- texts; b <- texts) yield (a, b)
    val df = pairs.toDF("ta", "tb").cache()
    for (n <- Seq(1, 2, 3)) {
      val sa = TextFunctions.shingles(col("ta"), n)
      val sb = TextFunctions.shingles(col("tb"), n)
      val inter = size(array_intersect(sa, sb))
      val composed = df.select(
        (inter.cast("double") / (size(sa) + size(sb) - inter)).as("j"))
        .as[Double].collect().toSeq
      val fused = df.select(
        graft.expressions.WordShingles.shingleJaccard(col("ta"), col("tb"), n))
        .as[Double].collect().toSeq
      assert(fused == composed, s"n=$n")
    }
    df.unpersist()
  }

  test("fingerprint64 is injective on distinct texts, stable on equal texts") {
    val fps = Seq("alpha", "beta", "alpha").toDF("t")
      .select(TextFunctions.fingerprint64(col("t"))).as[Long].collect()
    assert(fps(0) == fps(2) && fps(0) != fps(1))
  }

  test("normalizeForDedup collapses case/punct/whitespace variants only") {
    val out = Seq(
      "Hello,  World!", "hello world", "HELLO--WORLD?!",
      " hello \tworld\n", "hello worlds").toDF("t")
      .select(TextFunctions.normalizeForDedup(col("t"))).as[String].collect()
    assert(out(0) == "hello world" && out.take(4).toSet.size == 1,
      s"variants must normalize identically: ${out.toSeq}")
    assert(out(4) == "hello worlds", "distinct content must stay distinct")
  }

  test("qualityScore rewards normal prose over degenerate text") {
    val df = Seq(
      "The quick brown fox jumps over the lazy dog near the quiet river bank today",
      "aa aa aa aa aa aa aa aa aa aa aa aa aa aa aa aa aa aa aa aa aa aa aa aa aa"
    ).toDF("t")
    val scores = df.select(TextFunctions.qualityScore(col("t"))).as[Double].collect()
    assert(scores(0) > scores(1))
  }

  test("urlDomains extracts every authority, ignores bare words and paths") {
    val out = Seq(
      "see http://a.example/x and https://b.example/y/z plus http://a.example/w",
      "no urls here just example.com words",
      "trailing https://c.example").toDF("t")
      .select(TextFunctions.urlDomains(col("t"))).as[Seq[String]].collect()
    assert(out(0) == Seq("a.example", "b.example", "a.example"))
    assert(out(1) == Seq.empty)
    assert(out(2) == Seq("c.example"))
  }
}
