package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

class DedupSpec extends SparkSpec {
  import spark.implicits._

  private def docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog near the river bank"),
    (2L, "the quick brown fox jumps over the lazy dog near the river bank"), // exact dup of 1
    (3L, "the quick brown fox jumps over the lazy dog near the river bend"), // near dup of 1
    (4L, "completely different text about spark query engines and shuffles"),
    (5L, "unrelated words forming another document entirely separate topic")
  ).toDF("doc_id", "text")

  private def hamming(a: Long, b: Long): Int = java.lang.Long.bitCount(a ^ b)

  private def simhashes(df: org.apache.spark.sql.DataFrame) =
    df.select(col("doc_id").as("doc"), Dedup.simhash64(col("text")).as("sh"))

  test("exact dedup groups identical texts, keeper = min id") {
    val out = Dedup.exact(docs, col("doc_id"), col("text"))
      .orderBy("keeper_id")
      .select("keeper_id", "n_copies").as[(Long, Long)].collect()
    assert(out.toSeq == Seq((1L, 2L), (3L, 1L), (4L, 1L), (5L, 1L)))
  }

  test("dropExactDupes keeps one row per distinct text") {
    val kept = Dedup.dropExactDupes(docs, "doc_id", "text")
      .select("doc_id").as[Long].collect().sorted
    assert(kept.toSeq == Seq(1L, 3L, 4L, 5L))
  }

  test("dropExactDupes keeps a null-id row whose text no non-null id shares") {
    // min_by skips null orderings: ordered by the bare id, the all-null-id
    // group of 'lonely text' came back as a row of nulls
    val df = Seq((None, "lonely text"), (Some(5L), "dup text"), (None, "dup text"))
      .toDF("doc_id", "text")
    val kept = Dedup.dropExactDupes(df, "doc_id", "text")
      .as[(Option[Long], Option[String])].collect().toSeq.sortBy(_.toString)
    assert(kept == Seq((None, Some("lonely text")), (Some(5L), Some("dup text"))),
      s"got $kept")
  }

  test("minhash near-dupes finds the near pair, not unrelated docs") {
    val pairs = Dedup.minhashNearDupes(docs, "doc_id", "text",
        threshold = 0.5, bands = 16, rowsPerBand = 2)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L)), "exact dup must collide")
    assert(pairs.contains((1L, 3L)) || pairs.contains((2L, 3L)),
      s"near dup should collide with 16x2 bands, got $pairs")
    assert(!pairs.exists(p => p._1 == 4L || p._2 == 4L))
  }

  test("decontaminate removes docs sharing any n-gram with the eval set") {
    val corpus = Seq(
      (1L, "alpha beta gamma delta"),         // shares trigram with eval
      (2L, "epsilon zeta eta theta"),         // clean
      (3L, "x y alpha beta gamma"),           // shares "alpha beta gamma"
      (4L, "beta gamma delta unrelated")      // shares "beta gamma delta"
    ).toDF("doc_id", "text")
    val eval_ = Seq("alpha beta gamma delta tail").toDF("text")
    val out = Dedup.decontaminate(corpus, "doc_id", "text", eval_, "text", n = 3)
      .select("doc_id").as[Long].collect().toSet
    assert(out == Set(2L), s"only the clean doc survives: $out")
  }

  test("dropRepeatedLines strips boilerplate lines, preserves order, drops emptied docs") {
    val df = Seq(
      (1L, "unique one\nboilerplate\nunique two"),
      (2L, "boilerplate\nanother body"),
      (3L, "boilerplate"), // all lines hot -> doc disappears
      (4L, "solo text")
    ).toDF("doc_id", "text")
    val out = Dedup.dropRepeatedLines(df, "doc_id", "text", minRepeats = 3)
      .as[(Long, String)].collect().toMap
    assert(out == Map(
      1L -> "unique one\nunique two",
      2L -> "another body",
      4L -> "solo text"), s"got $out")
  }

  test("dropRepeatedLines and decontaminate are idempotent") {
    // removal cannot create new hot lines / new contaminated docs, so a
    // second pass is a no-op — the natural sanity property of both filters
    val corpus = Seq(
      (1L, "unique one\nboilerplate\nunique two"),
      (2L, "boilerplate\nanother body"),
      (3L, "boilerplate\nthird text"),
      (4L, "solo text entirely different")
    ).toDF("doc_id", "text")
    val once = Dedup.dropRepeatedLines(corpus, "doc_id", "text", minRepeats = 3)
    val twice = Dedup.dropRepeatedLines(once, "doc_id", "text", minRepeats = 3)
    assert(twice.as[(Long, String)].collect().toSet ==
      once.as[(Long, String)].collect().toSet)

    val eval_ = Seq("unique one two three").toDF("text")
    val d1 = Dedup.decontaminate(corpus, "doc_id", "text", eval_, "text", n = 2)
    val d2 = Dedup.decontaminate(d1, "doc_id", "text", eval_, "text", n = 2)
    assert(d2.select("doc_id").as[Long].collect().toSet ==
      d1.select("doc_id").as[Long].collect().toSet)
  }

  test("minhashNearDupes plan: jaccard kernel never in a join condition, evaluated at most twice") {
    // Regression pins for the round-3 verify-stage fixes: (a) the threshold
    // must stay ABOVE the barrier aggregate, not folded into the verify
    // join's condition (where it would re-run the kernel per candidate
    // pair); (b) project collapse must not multiply kernel sites.
    val plan = Dedup.minhashNearDupes(docs, "doc_id", "text", 0.5)
      .queryExecution.executedPlan.toString
    plan.split("\n").filter(_.contains("Join")).foreach { l =>
      assert(!l.toLowerCase.contains("shinglejaccard"),
        s"jaccard kernel leaked into a join condition:\n$l")
    }
    val sites = "shinglejaccard".r.findAllIn(plan.toLowerCase).size
    assert(sites >= 1 && sites <= 2, s"expected 1-2 kernel sites, got $sites:\n$plan")
  }

  test("simhash: identical text -> hamming 0; near text -> small; far -> large") {
    val sh = docs.select(col("doc_id"), Dedup.simhash64(col("text")).as("sh"))
      .as[(Long, Long)].collect().toMap
    assert(hamming(sh(1L), sh(2L)) == 0)
    assert(hamming(sh(1L), sh(3L)) <= 12,
      "one-word change should flip few bits")
    assert(hamming(sh(1L), sh(4L)) > 12,
      "unrelated docs should be far apart")
  }

  test("bulk signature paths are bit-identical to expression-level ones") {
    val exprM = docs.select(col("doc_id").as("doc"),
        Dedup.minhashSignature(col("text"), 8, 3).as("sig"))
      .as[(Long, Seq[Long])].collect().toMap
    val bulkM = Dedup.minhashSignatures(docs, "doc_id", "text", 8, 3)
      .as[(Long, Seq[Long])].collect().toMap
    assert(bulkM == exprM)

    // the SimHash64 kernel, reached through its SQL function
    graft.GraftExtensions.register(spark)
    val exprS = simhashes(docs).as[(Long, Long)].collect().toMap
    val bulkS = docs.select(col("doc_id").as("doc"), call_function("simhash64",
        graft.functions.TextFunctions.tokens(col("text"))).as("sh"))
      .as[(Long, Long)].collect().toMap
    assert(bulkS == exprS)
  }

  test("nearDupClusters finds connected components across chained pairs") {
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 6L)).toDF("doc_a", "doc_b")
    val clusters = Dedup.nearDupClusters(pairs)
      .as[(Long, Long)].collect().toMap
    assert(clusters == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 5L -> 5L, 6L -> 5L),
      s"chain 1-2-3 must collapse to one cluster, got $clusters")
  }

  test("nearDupClusters reliable-checkpoint path (checkpoint dir set) matches") {
    // with a checkpoint dir configured, rounds checkpoint reliably to it
    // (executor-loss-safe) instead of localCheckpoint; labels must be
    // identical. The dir stays set for the remainder of the shared-session
    // JVM — semantics are unchanged for any later caller, only durability.
    val ckpt = java.nio.file.Files
      .createTempDirectory("graft-ckpt").toString
    spark.sparkContext.setCheckpointDir(ckpt)
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 6L)).toDF("doc_a", "doc_b")
    val clusters = Dedup.nearDupClusters(pairs)
      .as[(Long, Long)].collect().toMap
    assert(clusters == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 5L -> 5L, 6L -> 5L))
    // the reliable path really wrote round snapshots to the dir
    val wrote = java.nio.file.Files.walk(java.nio.file.Paths.get(ckpt))
      .filter(java.nio.file.Files.isRegularFile(_)).count()
    assert(wrote > 0, "expected reliable checkpoint files under the dir")
  }

  test("dropNearDupes keeps one doc per near-dup cluster plus all singletons") {
    val kept = Dedup.dropNearDupes(docs, "doc_id", "text", threshold = 0.5)
      .select("doc_id").as[Long].collect().sorted.toSeq
    // docs 1,2 exact dupes and 3 near-dupes of them -> one keeper (1);
    // 4 and 5 unrelated singletons pass through
    assert(kept == Seq(1L, 4L, 5L), s"got $kept")
  }

  test("minhashUnion aggregate equals the signature of the concatenated group") {
    val groups = Seq(
      (1L, "g1", "the quick brown fox jumps over the lazy dog"),
      (2L, "g1", "a completely different second document here today"),
      (3L, "g2", "third doc about spark engines and aggregation"))
      .toDF("doc_id", "grp", "text")
    val sigs = Dedup.minhashSignatures(groups, "doc_id", "text", 8, 3)
      .join(groups.select(col("doc_id").as("doc"), col("grp")), "doc")
    val agg = sigs.groupBy("grp")
      .agg(Dedup.minhashUnion(col("sig"), 8).as("gsig"))
      .as[(String, Seq[Long])].collect().toMap
    // union semantics: g1's signature == elementwise min of doc 1 and 2
    val docSigs = Dedup.minhashSignatures(groups, "doc_id", "text", 8, 3)
      .as[(Long, Seq[Long])].collect().toMap
    val expected = docSigs(1L).zip(docSigs(2L)).map { case (a, b) => math.min(a, b) }
    assert(agg("g1") == expected)
    assert(agg("g2") == docSigs(3L))
    // sketch Jaccard of a group with itself is 1
    val j = sigs.groupBy("grp").agg(Dedup.minhashUnion(col("sig"), 8).as("s"))
      .select(Dedup.sketchJaccard(col("s"), col("s"))).as[Double].head()
    assert(j == 1.0)
  }

  test("simhashNearDupesFromSigs blocks + filters by hamming") {
    val pairs = Dedup.simhashNearDupesFromSigs(simhashes(docs),
        maxHamming = 12, bands = 16)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L)))
    assert(!pairs.exists(p => p._1 == 4L || p._2 == 4L))
  }

  test("Md5SimHash kernel == agg/SQL reference form, codegen == interpreted") {
    // kernel vs the explode+vote-aggregation form (the literal DataFrame
    // transcription of the DuckDB oracle SQL) on real docs + edge rows
    val edgy = docs.unionByName(Seq(
      (100L, ""),                      // one empty token after split
      (101L, "x"),                     // single token
      (102L, "a a a a a a a a")        // maximal repetition
    ).toDF("doc_id", "text"))
    val kernel = Dedup.simhashMd5Signatures(edgy, "doc_id", "text")
      .as[(Long, Long)].collect().toMap
    val viaAgg = Dedup.simhashMd5SignaturesViaAgg(edgy, "doc_id", "text")
      .as[(Long, Long)].collect().toMap
    assert(kernel == viaAgg, s"kernel $kernel != agg $viaAgg")
    // interpreted eval parity (the gotcha VecDot hit): evaluate the
    // expression outside codegen on literal token arrays and compare
    val rows = edgy.select(col("doc_id"),
        graft.functions.TextFunctions.tokens(col("text")).as("t")).collect()
    rows.foreach { r =>
      val toks = r.getSeq[String](1)
      val arr = org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(
        toks.map(org.apache.spark.unsafe.types.UTF8String.fromString).toArray)
      val interp = graft.expressions.Md5SimHash(
        org.apache.spark.sql.catalyst.expressions.Literal(arr,
          org.apache.spark.sql.types.ArrayType(
            org.apache.spark.sql.types.StringType)), 60)
        .eval(null).asInstanceOf[Long]
      assert(interp == kernel(r.getLong(0)),
        s"doc ${r.getLong(0)}: interpreted $interp != codegen ${kernel(r.getLong(0))}")
    }
    // null array -> null, empty array -> 0
    val nullOut = edgy.sparkSession.sql("SELECT 1").select(
      graft.expressions.HashSketchExpressions.md5Simhash(
        lit(null).cast("array<string>")).as("s"),
      graft.expressions.HashSketchExpressions.md5Simhash(
        array().cast("array<string>")).as("e")).collect()(0)
    assert(nullOut.isNullAt(0) && nullOut.getLong(1) == 0L)
  }

  test("dropNearDupesAgainst: batch near-dups of corpus docs drop, fresh docs survive") {
    val corpus = docs  // 5 docs incl. near-identical 1/2/3
    val batch = Seq(
      (100L, "the quick brown fox jumps over the lazy dog near the river bank extra"), // near-dup of corpus 1/2
      (101L, "genuinely novel content speaking about entirely unrelated astronomy topics"),
      (102L, "completely different text about spark query engines and shuffles")) // exact dup of corpus 4
      .toDF("doc_id", "text")
    val kept = Dedup.dropNearDupesAgainst(batch, corpus, "doc_id", "text",
        threshold = 0.5, bands = 16, rowsPerBand = 2)
      .select("doc_id").as[Long].collect().sorted
    assert(kept.toSeq == Seq(101L), s"got ${kept.toSeq}")
    val pairs = Dedup.nearDupesAgainst(batch, corpus, "doc_id", "text",
        threshold = 0.5, bands = 16, rowsPerBand = 2)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((102L, 4L)), s"exact cross-dup must verify: $pairs")
    assert(!pairs.exists(_._1 == 101L), s"fresh doc must not pair: $pairs")
  }

  test("persisted band table: same pairs as live banding, no corpus-side exchange") {
    val corpus = docs
    val batch = Seq(
      (100L, "the quick brown fox jumps over the lazy dog near the river bank extra"),
      (101L, "genuinely novel content speaking about entirely unrelated astronomy topics"))
      .toDF("doc_id", "text")
    Dedup.writeBandTable(corpus, "doc_id", "text", "corpus_bands",
      buckets = 4, bands = 16, rowsPerBand = 2)
    try {
      val viaTable = Dedup.nearDupesAgainstTable(batch, corpus, "corpus_bands",
          "doc_id", "text", threshold = 0.5, bands = 16, rowsPerBand = 2)
        .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
      val live = Dedup.nearDupesAgainst(batch, corpus, "doc_id", "text",
          threshold = 0.5, bands = 16, rowsPerBand = 2)
        .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
      assert(viaTable == live, s"table probe diverged: $viaTable vs $live")
      // the corpus side of the candidate join must come straight off the
      // bucketed files: no Exchange above the band-table scan
      val plan = Dedup.nearDupesAgainstTable(batch, corpus, "corpus_bands",
          "doc_id", "text", threshold = 0.5, bands = 16, rowsPerBand = 2)
        .queryExecution.executedPlan.toString
      val scanLine = plan.linesIterator.find(_.contains("corpus_bands")).getOrElse("")
      assert(scanLine.contains("SelectedBucketsCount") || scanLine.contains("Bucketed: true") ||
        plan.contains("Bucketed: true"), s"band table must read bucketed:\n$plan")
    } finally spark.sql("DROP TABLE IF EXISTS corpus_bands")
  }

  test("appendBandTable == rebuild: appended table probes identically, stays bucketed") {
    val corpusA = docs
    val corpusB = Seq(
      (200L, "the quick brown fox jumps over the lazy dog near the river bank appended"),
      (201L, "appended corpus text about deep sea creatures and their luminescence"))
      .toDF("doc_id", "text")
    val batch = Seq(
      (100L, "the quick brown fox jumps over the lazy dog near the river bank extra"),
      (101L, "genuinely novel content speaking about entirely unrelated astronomy topics"))
      .toDF("doc_id", "text")
    Dedup.writeBandTable(corpusA, "doc_id", "text", "bands_inc",
      buckets = 4, bands = 16, rowsPerBand = 2)
    Dedup.writeBandTable(corpusA.unionByName(corpusB), "doc_id", "text",
      "bands_full", buckets = 4, bands = 16, rowsPerBand = 2)
    try {
      Dedup.appendBandTable(corpusB, "doc_id", "text", "bands_inc")
      // identical band ROWS (not just probe results): append == rebuild
      val inc = spark.table("bands_inc")
        .select("doc", "band", "bh").as[(Long, Int, Long)].collect().toSet
      val full = spark.table("bands_full")
        .select("doc", "band", "bh").as[(Long, Int, Long)].collect().toSet
      assert(inc == full, s"appended band rows diverge from rebuild")
      val unioned = corpusA.unionByName(corpusB)
      val viaInc = Dedup.nearDupesAgainstTable(batch, unioned, "bands_inc",
          "doc_id", "text", threshold = 0.5, bands = 16, rowsPerBand = 2)
        .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
      val viaFull = Dedup.nearDupesAgainstTable(batch, unioned, "bands_full",
          "doc_id", "text", threshold = 0.5, bands = 16, rowsPerBand = 2)
        .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
      assert(viaInc == viaFull && viaInc.nonEmpty,
        s"append probe diverged: $viaInc vs $viaFull")
      // the appended table still reads bucketed (bucket-local probes)
      val plan = Dedup.nearDupesAgainstTable(batch, unioned, "bands_inc",
          "doc_id", "text", threshold = 0.5, bands = 16, rowsPerBand = 2)
        .queryExecution.executedPlan.toString
      assert(plan.contains("Bucketed: true") || plan.contains("SelectedBucketsCount"),
        s"appended band table must still read bucketed:\n$plan")
    } finally {
      spark.sql("DROP TABLE IF EXISTS bands_inc")
      spark.sql("DROP TABLE IF EXISTS bands_full")
    }
  }

  test("fingerprint table: probe == live gate, append == rebuild, bucketed read") {
    val corpusA = Seq((10L, "already ingested text one"),
      (11L, "already ingested text two")).toDF("doc_id", "text")
    val corpusB = Seq((12L, "later ingested text three")).toDF("doc_id", "text")
    val batch = Seq(
      (20L, "already ingested text one"),   // dup of corpus A -> dropped
      (21L, "later ingested text three"),   // dup of corpus B -> dropped
      (22L, "brand new text"),
      (23L, "brand new text"),              // within-batch dup of 22 -> dropped
      (24L, "another new text")).toDF("doc_id", "text")
    Dedup.writeFingerprintTable(corpusA, "text", "fps_inc", buckets = 4)
    Dedup.writeFingerprintTable(corpusA.unionByName(corpusB), "text",
      "fps_full", buckets = 4)
    try {
      Dedup.appendFingerprintTable(corpusB, "text", "fps_inc")
      // append == rebuild down to the stored fingerprint set (and appending
      // an already-seen corpus adds NOTHING — the table stays dup-free)
      Dedup.appendFingerprintTable(corpusA, "text", "fps_inc")
      val inc = spark.table("fps_inc").as[Long].collect().sorted.toSeq
      val full = spark.table("fps_full").as[Long].collect().sorted.toSeq
      assert(inc == full, "appended fp table diverges from rebuild")
      val viaTable = Dedup.dropDupesAgainstTable(batch, "fps_inc", "doc_id", "text")
        .select("doc_id").as[Long].collect().sorted.toSeq
      val live = Dedup.dropDupesAgainst(batch,
          corpusA.unionByName(corpusB), "doc_id", "text")
        .select("doc_id").as[Long].collect().sorted.toSeq
      assert(viaTable == live && viaTable == Seq(22L, 24L),
        s"table gate diverged: $viaTable vs $live")
      // the corpus side reads bucketed, straight into the anti-join
      val plan = Dedup.dropDupesAgainstTable(batch, "fps_inc", "doc_id", "text")
        .queryExecution.executedPlan.toString
      assert(plan.contains("Bucketed: true") || plan.contains("SelectedBucketsCount"),
        s"fp table must read bucketed:\n$plan")
    } finally {
      spark.sql("DROP TABLE IF EXISTS fps_inc")
      spark.sql("DROP TABLE IF EXISTS fps_full")
    }
  }

  test("steady-state ingest loop: gate -> append survivors -> re-ingest drops everything") {
    // the production loop the persisted tables exist for: exact gate (fp
    // table) -> near gate (band table) -> append the survivors' state.
    // Ingesting the SAME batch again must then drop every row — its
    // survivors are now corpus members of both tables.
    val corpus = docs
    val batch = Seq(
      (100L, "the quick brown fox jumps over the lazy dog near the river bank"), // exact dup
      (101L, "the quick brown fox jumps over the lazy dog near the river bank side"), // near dup
      (102L, "genuinely novel content about deep sea bioluminescence research"),
      (103L, "another novel document on ancient mediterranean trade routes"))
      .toDF("doc_id", "text")
    Dedup.writeFingerprintTable(corpus, "text", "loop_fps", buckets = 4)
    Dedup.writeBandTable(corpus, "doc_id", "text", "loop_bands",
      buckets = 4, bands = 16, rowsPerBand = 2)
    try {
      def gate(b: org.apache.spark.sql.DataFrame) = {
        val exactFresh = Dedup.dropDupesAgainstTable(b, "loop_fps", "doc_id", "text")
        val nearDups = Dedup.nearDupesAgainstTable(exactFresh, corpus,
            "loop_bands", "doc_id", "text", threshold = 0.5,
            bands = 16, rowsPerBand = 2)
          .select(col("doc_a").as("doc_id")).distinct()
        exactFresh.join(nearDups, Seq("doc_id"), "left_anti")
      }
      val survivors = gate(batch)
      assert(survivors.select("doc_id").as[Long].collect().sorted.toSeq
        == Seq(102L, 103L), "first ingest keeps only the novel docs")
      Dedup.appendFingerprintTable(survivors, "text", "loop_fps")
      Dedup.appendBandTable(survivors, "doc_id", "text", "loop_bands")
      // second ingest of the identical batch: the exact gate now drops the
      // previous survivors too (their fingerprints were appended)
      assert(gate(batch).count() == 0, "re-ingesting the same batch must drop all")
    } finally {
      spark.sql("DROP TABLE IF EXISTS loop_fps")
      spark.sql("DROP TABLE IF EXISTS loop_bands")
    }
  }

  test("compactBucketedTable: write->append->compact preserves rows, probe, geometry; crash windows gate-safe") {
    import org.apache.spark.sql.catalyst.TableIdentifier
    def dataFiles(table: String): Seq[org.apache.hadoop.fs.Path] = {
      val cat = spark.sessionState.catalog.getTableMetadata(TableIdentifier(table))
      val loc = new org.apache.hadoop.fs.Path(cat.location)
      val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.listStatus(loc).filter(f => f.isFile && { val n = f.getPath.getName
        !n.startsWith("_") && !n.startsWith(".") }).map(_.getPath).toSeq
    }
    val corpusA = Seq.tabulate(6)(i => (i.toLong, s"corpus text number $i about topic $i"))
      .toDF("doc_id", "text")
    val corpusB = Seq.tabulate(4)(i => (100L + i, s"appended text batch one item $i"))
      .toDF("doc_id", "text")
    val corpusC = Seq.tabulate(4)(i => (200L + i, s"appended text batch two item $i"))
      .toDF("doc_id", "text")
    val batch = Seq(
      (300L, "corpus text number 3 about topic 3"),    // dup of base
      (301L, "appended text batch one item 2"),        // dup of append 1
      (302L, "appended text batch two item 0"),        // dup of append 2
      (303L, "genuinely novel probe text")).toDF("doc_id", "text")
    // --- fingerprint table ------------------------------------------------
    Dedup.writeFingerprintTable(corpusA, "text", "cmp_fps", buckets = 2)
    // --- band table (same lifecycle, one assertion pass below) ------------
    Dedup.writeBandTable(corpusA, "doc_id", "text", "cmp_bands",
      buckets = 2, bands = 16, rowsPerBand = 2)
    try {
      Dedup.appendFingerprintTable(corpusB, "text", "cmp_fps")
      Dedup.appendFingerprintTable(corpusC, "text", "cmp_fps")
      Dedup.appendBandTable(corpusB, "doc_id", "text", "cmp_bands")
      Dedup.appendBandTable(corpusC, "doc_id", "text", "cmp_bands")
      def fpRows() = spark.table("cmp_fps").as[Long].collect().sorted.toSeq
      def bandRows() = spark.table("cmp_bands")
        .select("doc", "band", "bh").as[(Long, Int, Long)]
        .collect().sorted.toSeq
      def fpGate() = Dedup.dropDupesAgainstTable(batch, "cmp_fps", "doc_id", "text")
        .select("doc_id").as[Long].collect().sorted.toSeq
      def bandGate() = Dedup.nearDupesAgainstTable(batch,
          corpusA.unionByName(corpusB).unionByName(corpusC), "cmp_bands",
          "doc_id", "text", threshold = 0.5, bands = 16, rowsPerBand = 2)
        .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
      val (fpBefore, bandBefore) = (fpRows(), bandRows())
      val (fpGateBefore, bandGateBefore) = (fpGate(), bandGate())
      assert(fpGateBefore == Seq(303L), s"fixture drifted: $fpGateBefore")
      assert(bandGateBefore.nonEmpty)
      val (fpFiles0, bandFiles0) = (dataFiles("cmp_fps").size, dataFiles("cmp_bands").size)
      assert(fpFiles0 > 2 && bandFiles0 > 2,
        s"appends must have fragmented the tables: $fpFiles0 / $bandFiles0 files")
      Dedup.compactBucketedTable(spark, "cmp_fps")
      Dedup.compactBucketedTable(spark, "cmp_bands")
      // healthy-table contract: row multiset, probe results, bucketed plan
      // and geometry properties all unchanged; files collapse to <= buckets
      assert(fpRows() == fpBefore, "fp compaction changed the row multiset")
      assert(bandRows() == bandBefore, "band compaction changed the row multiset")
      assert(fpGate() == fpGateBefore && bandGate() == bandGateBefore,
        "compaction changed a gate decision")
      assert(dataFiles("cmp_fps").size <= 2 && dataFiles("cmp_bands").size <= 2,
        "compaction must leave <= numBuckets files")
      val plan = Dedup.dropDupesAgainstTable(batch, "cmp_fps", "doc_id", "text")
        .queryExecution.executedPlan.toString
      assert(plan.contains("Bucketed: true") || plan.contains("SelectedBucketsCount"),
        s"compacted fp table must still read bucketed:\n$plan")
      // geometry survives (file-level swap never touches the catalog entry)
      val bandFilesPre = dataFiles("cmp_bands").map(_.getName).sorted
      Dedup.appendBandTable(corpusB, "doc_id", "text", "cmp_bands") // no-op re-append
      assert(bandRows() == bandBefore)
      // ... and the re-append is a FILE-level no-op too (r19): the
      // single-action appendBandRows relies on the bucketed writer
      // opening output files lazily per bucket, so an all-duplicate
      // append must commit no files (a replayed streaming trigger's
      // append leaves the table byte-identical)
      assert(dataFiles("cmp_bands").map(_.getName).sorted == bandFilesPre,
        "an all-duplicate append must not write any files")
      // re-run on an already-compact table: no-op (file names unchanged)
      val names = dataFiles("cmp_fps").map(_.getName).sorted
      Dedup.compactBucketedTable(spark, "cmp_fps")
      assert(dataFiles("cmp_fps").map(_.getName).sorted == names,
        "compacting a compact table must be a no-op")
      // --- crash windows ---------------------------------------------------
      // (1) old + combined coexist (crash between rename-in and delete):
      // reproduce by renaming a twin table's part files in WITHOUT deleting
      val cat = spark.sessionState.catalog.getTableMetadata(TableIdentifier("cmp_fps"))
      val loc = new org.apache.hadoop.fs.Path(cat.location)
      val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
      Dedup.writeFingerprintTable(
        corpusA.unionByName(corpusB).unionByName(corpusC), "text",
        "cmp_fps_twin", buckets = 2)
      dataFiles("cmp_fps_twin").foreach(p =>
        assert(fs.rename(p, new org.apache.hadoop.fs.Path(loc, p.getName))))
      spark.catalog.refreshTable("cmp_fps")
      assert(fpRows() == (fpBefore ++ fpBefore).sorted,
        "crash window must show duplicated (never absent) state rows")
      assert(fpGate() == fpGateBefore,
        "duplicated state rows changed the gate decision")
      // (2) re-running compaction heals the duplicates back to the set
      Dedup.compactBucketedTable(spark, "cmp_fps")
      assert(fpRows() == fpBefore, "recovery compaction must heal duplicates")
      assert(fpGate() == fpGateBefore)
      // a non-bucketed table refuses
      Seq((1L, "x")).toDF("doc_id", "text").write.saveAsTable("cmp_plain")
      val e = intercept[IllegalArgumentException] {
        Dedup.compactBucketedTable(spark, "cmp_plain")
      }
      assert(e.getMessage.contains("not bucketed"), e.getMessage)
    } finally {
      Seq("cmp_fps", "cmp_bands", "cmp_fps_twin", "cmp_plain")
        .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    }
  }

  test("appendBandTable refuses a table without recorded geometry") {
    Seq((1L, 7L, 42L)).toDF("doc", "band", "bh")
      .write.mode("overwrite").saveAsTable("bands_nogeom")
    try {
      val e = intercept[IllegalArgumentException] {
        Dedup.appendBandTable(docs, "doc_id", "text", "bands_nogeom")
      }
      assert(e.getMessage.contains("graft.bands"), e.getMessage)
    } finally spark.sql("DROP TABLE IF EXISTS bands_nogeom")
  }

  test("dropDupesAgainst: corpus membership + within-batch dedup, fingerprints only shuffle") {
    val corpus = Seq((10L, "already ingested text one"),
      (11L, "already ingested text two")).toDF("doc_id", "text")
    val batch = Seq(
      (20L, "already ingested text one"),  // cross-corpus dup -> dropped
      (21L, "brand new text"),
      (22L, "brand new text"),             // within-batch dup of 21 -> dropped
      (23L, "another new text")).toDF("doc_id", "text")
    val kept = Dedup.dropDupesAgainst(batch, corpus, "doc_id", "text")
      .select("doc_id").as[Long].collect().sorted
    assert(kept.toSeq == Seq(21L, 23L))
    // scale contract: the corpus side of the anti-join carries only the
    // 8-byte fingerprint column, never the text
    val plan = Dedup.dropDupesAgainst(batch, corpus, "doc_id", "text")
      .queryExecution.optimizedPlan.toString
    assert(plan.contains("LeftAnti"), s"expected anti-join:\n$plan")
  }
  test("contaminationReport: exact per-doc occurrence counts, hits, and ppm") {
    import org.apache.spark.sql.functions._
    // doc 1: grams (a b)(b c)(c d) -> 1 hit (b c); doc 2: short text
    //        collapses to one whole-text gram, no hit; doc 3: all 2 grams hit
    val corpus = Seq(
      (1L, "a b c d"), (2L, "z"), (3L, "x y x y x")).toDF("doc_id", "text")
    val eval_ = Seq("b c", "x y", "y x").toDF("text")
    val out = graft.operators.Dedup
      .contaminationReport(corpus, "doc_id", "text", eval_, "text", n = 2)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(out.toSeq == Seq(
      (1L, 3L, 1L, 333333L),
      (2L, 1L, 0L, 0L),
      (3L, 4L, 4L, 1000000L)))
  }

  // ---- ExactSubstr (substring-level exact dedup) ------------------------

  // k=3 hand corpus: hot 3-grams are "a b c" (docs 1,2,4), "b c d" (1,2),
  // "c d e" (1,2), "f g h" (1,4); docs 5/6 share a whole-doc short window
  private def substrDocs = Seq(
    (1L, "a b c d e f g h"),
    (2L, "x y a b c d e q"),
    (3L, "p q r s t u v w"),
    (4L, "f g h z z a b c"),
    (5L, "a b"),
    (6L, "a b")
  ).toDF("doc_id", "text")

  test("duplicatedSpans: island merge incl. touching windows, gaps split, short-doc clamp") {
    val out = Dedup.duplicatedSpans(substrDocs, "doc_id", "text",
        k = 3, minDocs = 2)
      .orderBy("doc_id", "span_start").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))
    assert(out.toSeq == Seq(
      // doc 1: dup windows at 0,1,2 and 5 — 5−2 = k merges (touching
      // coverage [2..4]/[5..7]), one maximal span over the whole doc
      (1L, 0L, 7L, 8L, 4L),
      // doc 2: run at 2,3,4 -> span [2..6]
      (2L, 2L, 6L, 5L, 3L),
      // doc 4: windows at 0 and 5, gap 5 > k -> TWO spans
      (4L, 0L, 2L, 3L, 1L),
      (4L, 5L, 7L, 3L, 1L),
      // docs 5/6: whole-doc short window, span_end clamps to n_words−1
      (5L, 0L, 1L, 2L, 1L),
      (6L, 0L, 1L, 2L, 1L)))
  }

  test("duplicatedSpans: minDocs raises the duplication bar") {
    // only "a b c" lives in >= 3 docs
    val out = Dedup.duplicatedSpans(substrDocs, "doc_id", "text",
        k = 3, minDocs = 3)
      .orderBy("doc_id", "span_start").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(out.toSeq == Seq((1L, 0L, 2L), (2L, 2L, 4L), (4L, 5L, 7L)))
  }

  test("removeDuplicatedSpans: covered tokens drop everywhere, untouched docs survive intact") {
    val out = Dedup.removeDuplicatedSpans(substrDocs, "doc_id", "text",
        k = 3, minDocs = 2)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    assert(out.toSeq == Seq(
      (1L, "", 8L),                   // fully covered -> empty, row kept
      (2L, "x y q", 5L),
      (3L, "p q r s t u v w", 0L),    // no dup spans -> unchanged
      (4L, "z z", 6L),
      (5L, "", 2L),
      (6L, "", 2L)))
  }

  test("contaminatedSpans/removeContaminatedSpans: eval windows excise surgically") {
    // k=3; eval doc windows: "a b c", "b c d"
    val evalSet = Seq((100L, "a b c d")).toDF("doc_id", "text")
    val corpus = Seq(
      (1L, "x a b c d y"),            // hits at pos 1,2 -> one span [1..4]
      (2L, "a b c q q q q b c d"),    // hits at 0 and 7, gap > k -> two spans
      (3L, "p q r s"),                // clean
      (4L, "a b c"),                  // fully covered -> empty survivor
      (5L, "b c")                     // short-doc window "b c" not in eval
    ).toDF("doc_id", "text")
    val spans = Dedup.contaminatedSpans(corpus, "doc_id", "text",
        evalSet, "text", k = 3)
      .orderBy("doc_id", "span_start").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))
    assert(spans.toSeq == Seq(
      (1L, 1L, 4L, 4L, 2L),
      (2L, 0L, 2L, 3L, 1L), (2L, 7L, 9L, 3L, 1L),
      (4L, 0L, 2L, 3L, 1L)))
    val removed = Dedup.removeContaminatedSpans(corpus, "doc_id", "text",
        evalSet, "text", k = 3)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    assert(removed.toSeq == Seq(
      (1L, "x y", 4L),
      (2L, "q q q q", 6L),
      (3L, "p q r s", 0L),
      (4L, "", 3L),
      (5L, "b c", 0L)))
    // the eval membership is a BROADCAST fp semi-join (eval sets are
    // small by contract — the decontaminate() shape)
    val plan = Dedup.contaminatedSpans(corpus, "doc_id", "text",
      evalSet, "text", k = 3).queryExecution.executedPlan.toString
    assert(plan.contains("Broadcast"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("ExactSubstr: positions and clamps align with the window tokenization on irregular whitespace") {
    // docs 1/2 tokenize to the SAME five tokens (leading/trailing blanks,
    // newline, tab, multi-space all collapse — WordShingles semantics);
    // docs 3/4 are whitespace-variant short-doc twins. A split-on-space
    // position source would mis-clamp doc 1 (nw=8, not 5) and excise the
    // wrong tokens from doc 2 ("b\nc" as one token).
    val messy = Seq(
      (1L, "  a b c d e  "),
      (2L, "a b\nc   d\te"),
      (3L, " x  y "),
      (4L, "x\ty"),
      (5L, "p q r s t")
    ).toDF("doc_id", "text")
    val spans = Dedup.duplicatedSpans(messy, "doc_id", "text",
        k = 3, minDocs = 2)
      .orderBy("doc_id", "span_start").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))
    assert(spans.toSeq == Seq(
      (1L, 0L, 4L, 5L, 3L),
      (2L, 0L, 4L, 5L, 3L),
      (3L, 0L, 1L, 2L, 1L),
      (4L, 0L, 1L, 2L, 1L)))
    val removed = Dedup.removeDuplicatedSpans(messy, "doc_id", "text",
        k = 3, minDocs = 2)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    assert(removed.toSeq == Seq(
      (1L, "", 5L), (2L, "", 5L), (3L, "", 2L), (4L, "", 2L),
      (5L, "p q r s t", 0L)))
  }

  test("ExactSubstr fused kernels == composed builtins, bit for bit") {
    // the fused SpanIslands/SpanKeep path vs the retained composed
    // specification (window functions + posexplode/anti-join/rebuild),
    // over every edge the family owns: island merges at exactly gap k,
    // gap splits, short-doc clamp, full cover, no cover, irregular
    // whitespace, and an empty-after-trim text
    val edge = Seq(
      (1L, "a b c d e f g h"),
      (2L, "x y a b c d e q"),
      (3L, "p q r s t u v w"),
      (4L, "f g h z z a b c"),
      (5L, "a b"), (6L, "a b"),
      (7L, "  a b c d e  "),
      (8L, "a b\nc   d\te"),
      (9L, "")
    ).toDF("doc_id", "text")
      // null text must round-trip identically through both forms (the
      // left-join null discipline: text -> "", n_removed -> NULL)
      .unionByName(Seq(10L).toDF("doc_id")
        .select(col("doc_id"), lit(null).cast("string").as("text")))
    for (minDocs <- Seq(2, 3)) {
      val spansF = Dedup.duplicatedSpans(edge, "doc_id", "text", 3, minDocs)
      val spansC = Dedup.duplicatedSpansComposed(edge, "doc_id", "text", 3, minDocs)
      assert(spansF.exceptAll(spansC).isEmpty && spansC.exceptAll(spansF).isEmpty,
        s"span report diverged at minDocs=$minDocs")
      val remF = Dedup.removeDuplicatedSpans(edge, "doc_id", "text", 3, minDocs)
      val remC = Dedup.removeDuplicatedSpansComposed(edge, "doc_id", "text", 3, minDocs)
      assert(remF.exceptAll(remC).isEmpty && remC.exceptAll(remF).isEmpty,
        s"span removal diverged at minDocs=$minDocs")
    }
    val evalSet = Seq((100L, "a b c d")).toDF("doc_id", "text")
    val rcF = Dedup.removeContaminatedSpans(edge, "doc_id", "text", evalSet, "text", 3)
    val rcC = Dedup.removeContaminatedSpansComposed(edge, "doc_id", "text", evalSet, "text", 3)
    assert(rcF.exceptAll(rcC).isEmpty && rcC.exceptAll(rcF).isEmpty,
      "contaminated-span removal diverged")
  }

  test("ExactSubstr fused removal: corpus text crosses the wire once, no per-token explode") {
    val plan = Dedup.removeDuplicatedSpans(substrDocs, "doc_id", "text", 3, 2)
      .queryExecution.executedPlan.toString
    // the composed shape had a covered-position Generate + (id, pos)
    // anti-join + collect_list rebuild; the fused shape has NO generate
    // on the removal side (the only Generates are the window fingerprint
    // explodes) and no anti-join at all
    assert(!plan.contains("LeftAnti"), plan)
    assert(!plan.contains("collect_list(struct"), plan)
  }

  test("ExactSubstr plans: no cartesian products, every window partitioned") {
    for (df <- Seq(
        Dedup.duplicatedSpans(substrDocs, "doc_id", "text", 3, 2),
        Dedup.removeDuplicatedSpans(substrDocs, "doc_id", "text", 3, 2))) {
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("CartesianProduct") &&
        !plan.contains("BroadcastNestedLoop"), plan)
      assert(!plan.contains("Window [") ||
        plan.linesIterator.filter(_.contains("Window")).forall { l =>
          !l.contains("windowspecdefinition()") }, plan)
    }
    // the duplicated-window membership join carries 8-byte fingerprints,
    // never gram text: the semi-join condition references __fp only
    val spansPlan = Dedup.duplicatedSpans(substrDocs, "doc_id", "text", 3, 2)
      .queryExecution.executedPlan.toString
    val semiLine = spansPlan.linesIterator
      .find(_.contains("LeftSemi")).getOrElse("")
    assert(semiLine.contains("__fp") && !semiLine.contains("__g"), spansPlan)
  }

  test("joinBandCandidates: fused and composite branches emit identical candidates") {
    // the candidate stage has TWO join shapes (fused __bk broadcast for
    // micro-batches, composite (band,bh) for corpus-scale backfills) picked
    // by the planner's broadcast test; the fused branch is oracle-covered
    // (q5f/q6x) but until this spec nothing forced the composite branch and
    // compared — a drift between the shapes would silently change backfill
    // results (r17 verdict #2). Also pinned here: the strictly-prior
    // exclusion and the full table probe against live banding
    val corpus = docs
    val batch = Seq(
      (100L, "the quick brown fox jumps over the lazy dog near the river bank extra"),
      (101L, "genuinely novel content speaking about entirely unrelated astronomy topics"))
      .toDF("doc_id", "text")
    Dedup.writeBandTable(corpus, "doc_id", "text", "branch_bands",
      buckets = 4, bands = 16, rowsPerBand = 2)
    try {
      val bandRows = Dedup.bandedKeys(batch, "doc_id", "text", 16, 2, 3)
      val fused = Dedup.joinBandCandidates(bandRows, "branch_bands",
        "doc_id", None)
      // the small-batch branch now carries an explicit broadcast hint
      // (ADVICE r17): the eligibility probe and the executed plan must
      // not be able to diverge
      assert(fused.queryExecution.executedPlan.toString
          .contains("BroadcastHashJoin"),
        "small-batch branch must broadcast the batch bands")
      val fusedSet = fused.select("doc_a", "doc_b")
        .as[(Long, Long)].collect().toSet
      // excluding a corpus doc removes exactly that doc's pairs, and the
      // exclusion anti-join must not leak its USING-column-first schema
      // (doc_b, doc_a) to positional consumers
      assert(fusedSet.exists(_._2 == 1L) && fusedSet.exists(_._2 != 1L),
        s"candidates must name corpus doc 1 and another: $fusedSet")
      val excluded = Dedup.joinBandCandidates(bandRows, "branch_bands",
        "doc_id", Some(Seq(1L).toDF("doc_id")))
      assert(excluded.columns.toSeq == Seq("doc_a", "doc_b"))
      assert(excluded.as[(Long, Long)].collect().toSet ==
        fusedSet.filterNot(_._2 == 1L))
      // end to end: the full probe through the table equals live banding
      val viaTable = Dedup.nearDupesAgainstTable(batch, corpus, "branch_bands",
          "doc_id", "text", threshold = 0.5, bands = 16, rowsPerBand = 2)
        .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
      val live = Dedup.nearDupesAgainst(batch, corpus, "doc_id", "text",
          threshold = 0.5, bands = 16, rowsPerBand = 2)
        .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
      assert(viaTable.nonEmpty && viaTable == live,
        s"probe diverged: $viaTable vs $live")
      val thr0 = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
      val aqe0 = spark.conf.get("spark.sql.adaptive.enabled")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      // AQE off so the static plan tree (with visible Exchange nodes) is
      // what the exchange-free assertion walks
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      try {
        val comp = Dedup.joinBandCandidates(bandRows, "branch_bands",
          "doc_id", None)
        val plan = comp.queryExecution.executedPlan
        val planStr = plan.toString
        assert(!planStr.contains("BroadcastHashJoin"),
          s"composite branch must not broadcast:\n$planStr")
        val compSet = comp.select("doc_a", "doc_b")
          .as[(Long, Long)].collect().toSet
        assert(fusedSet.nonEmpty && compSet == fusedSet,
          s"branches diverge: fused=$fusedSet composite=$compSet")
        // the state table must stream off its bucketed files with NO
        // exchange between its scan and the join — the entire point of
        // keeping the composite (band,bh) key on this branch
        import org.apache.spark.sql.execution.SparkPlan
        import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
        def hasBandScan(p: SparkPlan): Boolean =
          p.collectLeaves().exists(_.toString.contains("branch_bands"))
        val join = plan.collect {
          case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec => j
          case j: org.apache.spark.sql.execution.joins.ShuffledHashJoinExec => j
        }.find(j => j.children.exists(hasBandScan))
        assert(join.isDefined,
          s"no join with a direct (unshuffled) band-table scan:\n$planStr")
        val stateSide = join.get.children.filter(hasBandScan)
        assert(stateSide.forall(s =>
            s.collect { case e: ShuffleExchangeLike => e }.isEmpty),
          s"state side of the composite join must be exchange-free:\n$planStr")
      } finally {
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thr0)
        spark.conf.set("spark.sql.adaptive.enabled", aqe0)
      }
    } finally spark.sql("DROP TABLE IF EXISTS branch_bands")
  }

}
