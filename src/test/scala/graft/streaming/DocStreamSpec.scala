package graft.streaming

import java.sql.Timestamp

import scala.jdk.CollectionConverters._

import graft.SparkSpec
import graft.operators.Dedup
import org.apache.spark.graft.ListenerBusAccess
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent}
import org.apache.spark.sql.execution.SparkPlanInfo
import org.apache.spark.sql.execution.ui.{SparkListenerSQLAdaptiveExecutionUpdate, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

case class Doc(doc_id: Long, ts: Timestamp, text: String)

class DocStreamSpec extends SparkSpec {
  import spark.implicits._

  private def t(minute: Int): Timestamp =
    Timestamp.valueOf(f"2024-01-01 00:$minute%02d:00")

  test("foreachBatch runs on a per-stream session clone: gate AQE tuning cannot leak") {
    // the r19 trigger tuning (DocStream.tuneTriggerSession) mutates
    // spark.sql.adaptive.enabled on the session foreachBatch hands it —
    // legal ONLY because that session is cloned per stream at start, so a
    // concurrent batch query on the parent session can never observe the
    // flip. This pins the mechanism: a distinct session object whose conf
    // change is invisible to the parent.
    implicit val sqlCtx = spark.sqlContext
    val before = spark.conf.get("spark.sql.adaptive.enabled")
    @volatile var cloned = false
    @volatile var cloneSees: String = null
    val in = MemoryStream[Long]
    val ckpt = java.nio.file.Files
      .createTempDirectory("graft-clone-ckpt").toString
    val q = in.toDF().writeStream
      .foreachBatch {
        (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
          cloned = b.sparkSession ne spark
          b.sparkSession.conf.set("spark.sql.adaptive.enabled", "false")
          cloneSees = b.sparkSession.conf.get("spark.sql.adaptive.enabled")
          ()
      }
      .option("checkpointLocation", ckpt)
      .start()
    in.addData(1L, 2L)
    q.processAllAvailable()
    q.stop()
    assert(cloned, "foreachBatch must hand the micro-batch a cloned session")
    assert(cloneSees == "false", "the clone must see its own conf change")
    assert(spark.conf.get("spark.sql.adaptive.enabled") == before,
      "a trigger-session conf change leaked to the parent session")
  }

  /** Starts a gate with AQE on in the parent session, feeds it, and
    * returns every SQL execution's plan nodes after pinning the shape all
    * three self-maintaining gates share: the trigger shuffled, yet no plan
    * ran with AQE; the parent session kept AQE on; and no execution reads
    * a cached relation (a persisted survivors frame would put an
    * InMemoryTableScan, and the probe below it, into both writes).
    */
  private def triggerExecutions(start: => StreamingQuery)(
      feed: => Unit): Seq[Seq[SparkPlanInfo]] = {
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[SparkPlanInfo]()
    val adaptiveUpdates = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case st: SparkListenerSQLExecutionStart => plans.add(st.sparkPlanInfo)
        case _: SparkListenerSQLAdaptiveExecutionUpdate =>
          adaptiveUpdates.incrementAndGet(); ()
        case _ =>
      }
    }
    val before = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    var parentAfter: String = null
    try {
      val q = start
      spark.sparkContext.addSparkListener(listener)
      try {
        feed
        q.processAllAvailable()
        parentAfter = spark.conf.get("spark.sql.adaptive.enabled")
      } finally {
        q.stop()
        ListenerBusAccess.drain(spark.sparkContext)
        spark.sparkContext.removeSparkListener(listener)
      }
    } finally spark.conf.set("spark.sql.adaptive.enabled", before)
    def nodes(p: SparkPlanInfo): Seq[SparkPlanInfo] = p +: p.children.flatMap(nodes)
    val perExec = plans.asScala.toSeq.map(nodes)
    val names = perExec.flatten.map(_.nodeName)
    assert(names.exists(_.contains("Exchange")), names.distinct.mkString(", "))
    assert(!names.contains("AdaptiveSparkPlan") && adaptiveUpdates.get == 0,
      s"a trigger ran with AQE: ${names.distinct.mkString(", ")}")
    assert(parentAfter == "true", "the gate changed the parent session's AQE")
    assert(!names.contains("InMemoryTableScan"),
      "a trigger execution reads a cached relation")
    perExec
  }

  /** How many executions evaluate a node whose description contains `probe`. */
  private def probing(perExec: Seq[Seq[SparkPlanInfo]], probe: String): Int =
    perExec.count(_.exists(_.simpleString.contains(probe)))

  test("self-maintaining near-dup gate: triggers run with AQE off, parent session keeps AQE") {
    // the tuning above, checked through a real gate: the trigger's batch
    // plans are planned without AQE while the parent session, which has
    // AQE on, is left as it was. The probe's verify runs in exactly one
    // execution, and a null-id row survives to the sink without appending
    // band rows.
    implicit val sqlCtx = spark.sqlContext
    val corpus = Seq(
      (10L, "the quick brown fox jumps over the lazy dog near the river bank today"))
      .toDF("doc_id", "text")
    spark.sql("DROP TABLE IF EXISTS aqe_gate_bands")
    Dedup.writeBandTable(corpus, "doc_id", "text", "aqe_gate_bands",
      buckets = 4, bands = 16, rowsPerBand = 2)
    val work = java.nio.file.Files.createTempDirectory("graft-aqe-gate").toString
    val in = MemoryStream[(Option[Long], String)]
    try {
      val perExec = triggerExecutions(DocStream.selfMaintainingNearDedupedIngest(
          in.toDF().toDF("doc_id", "text"), corpus, "aqe_gate_bands",
          "doc_id", "text", s"$work/out", s"$work/ckpt",
          threshold = 0.5, bands = 16, rowsPerBand = 2)) {
        in.addData(
          (Some(100L), "the quick brown fox jumps over the lazy dog near the river bank today extra"),
          (Some(200L), "a planted novel document describing underwater cave systems"),
          (None, "an id-less document about alpine glaciers and their retreat"))
      }
      val verifying = probing(perExec, "shinglejaccard")
      assert(verifying == 1, s"$verifying executions evaluate the jaccard verify")
      val kept = spark.read.parquet(s"$work/out").select("doc_id")
        .as[Option[Long]].collect().toSeq.sorted
      assert(kept == Seq(None, Some(200L)), s"gate output: $kept")
      // the corpus doc plus the one non-null survivor, one row per band
      // each; the null-id survivor appends nothing, the near-dup 100 is
      // not appended
      val banded = spark.table("aqe_gate_bands").select("doc")
        .as[Option[Long]].collect().toSeq.sorted
      assert(banded == Seq.fill(16)(Some(10L)) ++ Seq.fill(16)(Some(200L)),
        s"band table docs: $banded")
    } finally spark.sql("DROP TABLE IF EXISTS aqe_gate_bands")
  }

  test("self-maintaining near-dup gate: one sink scan per verify, same plan every later trigger") {
    // the verify side is corpus ∪ one scan of the sink's strictly-prior
    // partitions: a scan per earlier partition would grow each trigger's
    // plan, so no trigger could reuse the classes the last one generated
    implicit val sqlCtx = spark.sqlContext
    val corpus = Seq(
      (10L, "the quick brown fox jumps over the lazy dog near the river bank today"))
      .toDF("doc_id", "text")
    val cave = "a planted novel document describing underwater cave systems and " +
      "the slow formation of limestone structures"
    val birds = "an entirely separate report on migratory bird routes across the " +
      "northern hemisphere during the autumn season"
    val water = "quarterly notes on municipal water treatment plants and the " +
      "chemistry of chlorine dosing schedules"
    val ice = "an unrelated account of alpine glaciers and their slow retreat"
    spark.sql("DROP TABLE IF EXISTS scan_gate_bands")
    Dedup.writeBandTable(corpus, "doc_id", "text", "scan_gate_bands",
      buckets = 4, bands = 16, rowsPerBand = 2)
    val work = java.nio.file.Files.createTempDirectory("g-scan").toString
    val in = MemoryStream[(Long, String)]
    var q: StreamingQuery = null
    try {
      val perExec = triggerExecutions {
        q = DocStream.selfMaintainingNearDedupedIngest(
          in.toDF().toDF("doc_id", "text"), corpus, "scan_gate_bands",
          "doc_id", "text", s"$work/out", s"$work/ckpt",
          threshold = 0.5, bands = 16, rowsPerBand = 2)
        q
      } {
        in.addData((200L, cave), (210L, ice + " first"))
        q.processAllAvailable()
        in.addData((201L, cave + " with a tail"), (300L, birds))
        q.processAllAvailable()
        in.addData((301L, birds + " with a tail"), (400L, water))
      }
      val verifying = perExec.filter(_.exists(_.simpleString.contains("shinglejaccard")))
      assert(verifying.size == 3, s"${verifying.size} executions run the verify")
      val sinkScans = verifying.map(_.count(n => n.nodeName.startsWith("Scan parquet") &&
        n.metadata.get("Location").exists(_.contains(s"$work/out"))))
      assert(sinkScans == Seq(1, 1, 1), s"sink scans per trigger: $sinkScans")
      assert(verifying(1).map(_.nodeName) == verifying(2).map(_.nodeName),
        "triggers 2 and 3 planned different verify executions")
      val kept = spark.read.parquet(s"$work/out").select("doc_id")
        .as[Long].collect().toSeq.sorted
      assert(kept == Seq(200L, 210L, 300L, 400L), s"gate output: $kept")
    } finally spark.sql("DROP TABLE IF EXISTS scan_gate_bands")
  }

  test("self-maintaining EXACT gate: one probe per trigger, AQE off, no cache; null ids keep by text") {
    implicit val sqlCtx = spark.sqlContext
    spark.sql("DROP TABLE IF EXISTS aqe_gate_fps")
    Dedup.writeFingerprintTable(Seq((10L, "historical text alpha")).toDF("doc_id", "text"),
      "text", "aqe_gate_fps", buckets = 4)
    val work = java.nio.file.Files.createTempDirectory("graft-aqe-exact").toString
    val in = MemoryStream[(Option[Long], String)]
    try {
      val perExec = triggerExecutions(DocStream.selfMaintainingDedupedIngest(
          in.toDF().toDF("doc_id", "text"), "aqe_gate_fps", "doc_id", "text",
          s"$work/out", s"$work/ckpt")) {
        in.addData(
          (Some(100L), "historical text alpha"), // corpus copy -> drops
          (None, "historical text alpha"),       // corpus copy, null id -> drops
          (None, "lonely id-less text"),         // null id, unique text -> kept
          (Some(200L), "novel text beta"),       // kept over its null-id copy
          (None, "novel text beta"))
      }
      // keep-lowest-id is the probe's min_by; the append has none
      val probes = probing(perExec, "min_by")
      assert(probes == 1, s"$probes executions run the exact probe")
      val kept = spark.read.parquet(s"$work/out").select("doc_id", "text")
        .as[(Option[Long], String)].collect().toSeq.sortBy(_.toString)
      assert(kept == Seq((None, "lonely id-less text"), (Some(200L), "novel text beta")),
        s"gate output: $kept")
      val fps = spark.table("aqe_gate_fps").select("__fp").as[Long].collect().toSeq.sorted
      val expected = Seq("historical text alpha", "lonely id-less text", "novel text beta")
        .toDF("text").select(graft.functions.TextFunctions.fingerprint64(col("text")))
        .as[Long].collect().toSeq.sorted
      assert(fps == expected, s"fingerprint table: $fps")
    } finally spark.sql("DROP TABLE IF EXISTS aqe_gate_fps")
  }

  test("self-maintaining SEMANTIC gate: one probe per trigger, AQE off, no cache; null ids pass") {
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.Similarity
    val cents = Seq(Seq(1.0, 0.0), Seq(0.0, 1.0))
    val work = java.nio.file.Files.createTempDirectory("graft-aqe-sem").toString
    Similarity.writeSemCellSegment(Seq((10L, Seq(1.0f, 0.0f))).toDF("vec_id", "embedding"),
      "vec_id", cents, s"$work/cells", "corpus")
    val in = MemoryStream[(Option[Long], Seq[Float])]
    val perExec = triggerExecutions(DocStream.selfMaintainingSemGatedIngest(
        in.toDF().toDF("vec_id", "embedding"), s"$work/cells", "vec_id", cents,
        threshold = 0.7, s"$work/out", s"$work/ckpt")) {
      in.addData(
        (Some(100L), Seq(0.8f, 0.6f)), // cos 0.8 vs the corpus -> drops
        (Some(200L), Seq(0.0f, 1.0f)), // novel -> kept
        (None, Seq(1.0f, 0.0f)))       // the corpus vector, null id -> passes
    }
    // the probe alone reads the state's embeddings (as __ec)
    val probes = probing(perExec, "__ec")
    assert(probes == 1, s"$probes executions run the semantic probe")
    val kept = spark.read.parquet(s"$work/out").select("vec_id")
      .as[Option[Long]].collect().toSeq.sorted
    assert(kept == Seq(None, Some(200L)), s"gate output: $kept")
    val seg = spark.read.parquet(s"$work/cells").where(col("seg") === "b0")
      .select("vec_id").as[Option[Long]].collect().toSeq.sorted
    assert(seg == Seq(None, Some(200L)), s"appended segment: $seg")
  }

  test("streaming NEAR-dup gate: LSH probe per micro-batch equals the batch gate") {
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft-neargate").toString
    val corpus = Seq(
      (10L, "the quick brown fox jumps over the lazy dog near the river bank today"),
      (11L, "completely different historical document about particle physics and gauge theory"))
      .toDF("doc_id", "text")
    graft.operators.Dedup.writeBandTable(corpus, "doc_id", "text",
      "near_gate_bands", buckets = 4, bands = 16, rowsPerBand = 2,
      path = Some(s"$dir/bands"))
    try {
      val b1 = Seq(
        Doc(20L, t(1), "the quick brown fox jumps over the lazy dog near the river bank today extra"),
        Doc(21L, t(2), "genuinely novel streaming content about astronomy and telescopes"))
      val b2 = Seq(
        Doc(22L, t(3), "completely different historical document about particle physics and gauge theory plus"),
        Doc(23L, t(4), "another genuinely fresh document mentioning entirely new things"))
      val in = MemoryStream[Doc]
      val q = DocStream.nearDedupedIngest(in.toDF(), corpus,
        "near_gate_bands", "doc_id", "text",
        s"$dir/out", s"$dir/ckpt", threshold = 0.5,
        bands = 16, rowsPerBand = 2)
      try {
        in.addData(b1: _*); q.processAllAvailable()
        in.addData(b2: _*); q.processAllAvailable()
      } finally q.stop()
      val streamed = spark.read.parquet(s"$dir/out")
        .select("doc_id").as[Long].collect().sorted.toSeq
      val batched = graft.operators.Dedup.dropNearDupesAgainst(
          (b1 ++ b2).toDF().drop("ts"), corpus, "doc_id", "text",
          threshold = 0.5, bands = 16, rowsPerBand = 2)
        .select("doc_id").as[Long].collect().sorted.toSeq
      assert(streamed == batched,
        s"stream near-gate $streamed != batch near-gate $batched")
      assert(streamed == Seq(21L, 23L), s"near-dups must drop, got $streamed")
    } finally spark.sql("DROP TABLE IF EXISTS near_gate_bands")
  }

  test("self-maintaining gate drops cross-batch near-dups the static gate passes") {
    val nearCorpus = Seq(
      (10L, "the quick brown fox jumps over the lazy dog near the river bank today"))
      .toDF("doc_id", "text")
    val novel = "a planted novel document describing underwater cave systems " +
      "and the slow formation of limestone structures over geological time"
    // even id -> replay batch 0 (novel, survives); odd id -> batch 1
    // (near-dup of the batch-0 SURVIVOR — only a state-growing gate drops it)
    val batch = Seq(
      (100L, "the quick brown fox jumps over the lazy dog near the river bank today extra"),
      (200L, novel),
      (201L, novel + " appended tail"))
      .toDF("doc_id", "text")
    def freshTable(name: String): String = {
      spark.sql(s"DROP TABLE IF EXISTS $name")
      Dedup.writeBandTable(nearCorpus, "doc_id", "text", name,
        buckets = 4, bands = 16, rowsPerBand = 2)
      name
    }
    val work = java.nio.file.Files.createTempDirectory("graft-selfm").toString
    try {
      val static = DocStream.replayNearDedupedIngest(batch, nearCorpus,
          freshTable("selfm_static"), "doc_id", "text", s"$work/static",
          nBatches = 2, threshold = 0.5, bands = 16, rowsPerBand = 2)
        .select("doc_id").as[Long].collect().sorted.toSeq
      assert(static == Seq(200L, 201L),
        s"static gate keeps both planted docs, got $static")
      val selfm = DocStream.replaySelfMaintainingIngest(batch, nearCorpus,
          freshTable("selfm_grow"), "doc_id", "text", s"$work/grow",
          nBatches = 2, threshold = 0.5, bands = 16, rowsPerBand = 2)
        .select("doc_id").as[Long].collect().sorted.toSeq
      assert(selfm == Seq(200L),
        s"self-maintaining gate must drop the cross-batch near-dup, got $selfm")
      // replaying over the ALREADY-GROWN table is exact: the batch
      // compares against strictly prior state, so its own appended bands
      // (same ids) are excluded and the result is unchanged
      val again = DocStream.replaySelfMaintainingIngest(batch, nearCorpus,
          "selfm_grow", "doc_id", "text", s"$work/grow",
          nBatches = 2, threshold = 0.5, bands = 16, rowsPerBand = 2)
        .select("doc_id").as[Long].collect().sorted.toSeq
      assert(again == selfm, s"replay over grown state diverged: $again")
    } finally {
      spark.sql("DROP TABLE IF EXISTS selfm_static")
      spark.sql("DROP TABLE IF EXISTS selfm_grow")
    }
  }

  test("self-maintaining EXACT gate: cross-batch copies drop, sink anchors make replays exact") {
    val corpus = Seq((10L, "historical text alpha")).toDF("doc_id", "text")
    val batch = Seq(
      (100L, "historical text alpha"),     // corpus dup -> drops round 0
      (200L, "novel text beta"),           // even -> batch 0, survives
      (201L, "novel text beta"),           // odd -> batch 1: exact copy of a SURVIVOR
      (202L, "novel text gamma"),          // in-batch pair with 204:
      (204L, "novel text gamma"),          //   keep-lowest-id -> 202 only
      (203L, "novel text delta")           // odd, novel -> survives
    ).toDF("doc_id", "text")
    def freshTable(name: String): String = {
      spark.sql(s"DROP TABLE IF EXISTS $name")
      Dedup.writeFingerprintTable(corpus, "text", name, buckets = 4)
      name
    }
    val work = java.nio.file.Files.createTempDirectory("graft-exsm").toString
    // per-batch-INDEPENDENT probing (no append) passes the cross-batch
    // copy — the discrimination a growing fp table provides
    val independent = batch
      .withColumn("__b", pmod(col("doc_id"), lit(2L)))
    val indKept = Seq(0L, 1L).flatMap { b =>
      Dedup.dropDupesAgainstTable(
          independent.where(col("__b") === b).drop("__b"),
          freshTable("exsm_static"), "doc_id", "text")
        .select("doc_id").as[Long].collect()
    }.sorted
    assert(indKept == Seq(200L, 201L, 202L, 203L), s"got $indKept")
    // the self-maintaining gate drops 201 (a batch-0 survivor's copy)
    val grown = DocStream.replaySelfMaintainingExactIngest(batch,
        freshTable("exsm_grow"), "doc_id", "text", s"$work/grow",
        nBatches = 2)
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(grown == Seq(200L, 202L, 203L), s"got $grown")
    // repeat replay over the GROWN table + intact sink is bit-stable:
    // committed sink partitions anchor the result (re-probing would
    // self-match and drop everything — the exact axis has no provenance
    // to exclude by)
    val again = DocStream.replaySelfMaintainingExactIngest(batch,
        "exsm_grow", "doc_id", "text", s"$work/grow", nBatches = 2)
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(again == grown, s"replay over grown state diverged: $again")
    spark.sql("DROP TABLE IF EXISTS exsm_static")
    spark.sql("DROP TABLE IF EXISTS exsm_grow")
  }

  test("self-maintaining SEMANTIC gate drops cross-batch twins the static gate passes") {
    import graft.operators.Similarity
    val cents = Seq(Seq(1.0, 0.0), Seq(0.0, 1.0))
    val corpus = Seq((10L, Seq(1.0f, 0.0f))).toDF("vec_id", "embedding")
    val batch = Seq(
      (100L, Seq(0.8f, 0.6f)),  // cos 0.8 vs corpus -> drops in round 0
      (200L, Seq(0.0f, 1.0f)),  // even -> replay batch 0; novel, survives
      (201L, Seq(0.0f, 1.0f)),  // odd -> batch 1: a twin of the 200 SURVIVOR
      (202L, Seq(0.0f, 0.0f)),  // zero-norm, batch 0: kept, never blocks
      (203L, Seq(0.0f, 0.0f))   // zero-norm, batch 1: kept though 202 is in state
    ).toDF("vec_id", "embedding")
    // the static gate (q6o semantics): state never grows -> 201 passes
    val static = Similarity.semDedupAgainst(batch, corpus, "vec_id",
        threshold = 0.7, cents)
      .where(col("kept")).select("vec_id").as[Long].collect().sorted.toSeq
    assert(static == Seq(200L, 201L, 202L, 203L), s"got $static")
    val work = java.nio.file.Files.createTempDirectory("graft-semsm").toString
    Similarity.writeSemCellSegment(corpus, "vec_id", cents,
      s"$work/cells", "corpus")
    val grown = DocStream.replaySemGatedIngest(batch, s"$work/cells",
        "vec_id", cents, threshold = 0.7, s"$work/replay", nBatches = 2)
      .select("vec_id").as[Long].collect().sorted.toSeq
    assert(grown == Seq(200L, 202L, 203L),
      s"self-maintaining gate must drop the cross-batch twin, got $grown")
    // a second replay over the SAME cell root is bit-identical: stale
    // survivor segments are cleared and each batch compares against
    // strictly prior state (crash/replay idempotency)
    val again = DocStream.replaySemGatedIngest(batch, s"$work/cells",
        "vec_id", cents, threshold = 0.7, s"$work/replay", nBatches = 2)
      .select("vec_id").as[Long].collect().sorted.toSeq
    assert(again == grown, s"replay over reused cell root diverged: $again")
    // the scale contract behind the state read: the cell-partitioned
    // layout prunes to the probed cells
    val scan = spark.read.parquet(s"$work/cells")
      .filter(col("cell").isin(1)).queryExecution.executedPlan.toString
    assert(scan.contains("PartitionFilters: [") && scan.contains("cell"), scan)
  }

  test("streaming ppl gate == batch pplGate; batch split cannot change it") {
    val fitDocs = Seq(
      (1L, "a b a b"), (2L, "a b a a"), (3L, "a b a b a"), (4L, "z z q")
    ).toDF("doc_id", "text")
    val m = graft.ml.NgramLm.fit(fitDocs, col("text"), 10, 10)
      .asInstanceOf[graft.ml.NgramLm.BigramLm]
    // threshold splits the set: in-model docs pass, junk drops
    val cut = 5.0
    val expected = graft.ml.NgramLm.pplGate(fitDocs, col("doc_id"),
        col("text"), m, cut)
      .select("doc_id").as[Long].collect().toSet
    assert(expected.nonEmpty && expected.size < 4, s"must split: $expected")
    val dir = java.nio.file.Files
      .createTempDirectory("ppl_stream_gate").toString
    def run(nBatches: Int, tag: Int) = DocStream.replayPplGatedIngest(
        fitDocs, m, "doc_id", "text", s"$dir/$tag", nBatches, cut)
      .select("doc_id").as[Long].collect().toSet
    // 1, 2 and 4 micro-batches all reproduce the batch gate exactly —
    // the filter is stateless per-row, so batching is invisible
    assert(run(1, 1) == expected)
    assert(run(2, 2) == expected)
    assert(run(4, 3) == expected)
  }

  test("streaming quality gate == batch margin filter; batch split cannot change it") {
    val train = (Seq("the cat sat on the mat", "a dog ran over the hill",
        "the bird flew above the trees", "cats and dogs play here")
        .zipWithIndex.map { case (t, i) => (i.toLong, t, 1.0) } ++
      Seq("zorp blick frum glorp nix", "blick nix zorp frum wex",
        "glorp wex nix blick zorp", "frum zorp wex glorp blick")
        .zipWithIndex.map { case (t, i) => (100L + i, t, 0.0) })
      .toDF("doc_id", "text", "y")
    val m = graft.ml.TextClassifier.export(
      graft.ml.TextClassifier.fit(train, "text", "y", k = 32))
    val expected = graft.ml.TextClassifier.score(m, train, "text")
      .filter(col("margin") >= 0)
      .select("doc_id").as[Long].collect().toSet
    assert(expected.nonEmpty && expected.size < 8, s"must split: $expected")
    val dir = java.nio.file.Files
      .createTempDirectory("quality_stream_gate").toString
    def run(nBatches: Int, tag: Int) = DocStream.replayQualityGatedIngest(
        train, m, "doc_id", "text", s"$dir/$tag", nBatches,
        minMargin = 0.0)
      .select("doc_id").as[Long].collect().toSet
    assert(run(1, 1) == expected)
    assert(run(2, 2) == expected)
    assert(run(4, 3) == expected)
  }

  test("streaming DSIR gate == batch threshold filter; batch split cannot change it") {
    val target = Seq((100L, "alpha beta alpha"), (101L, "alpha beta"))
      .toDF("doc_id", "text")
    val raw = Seq(
      (1L, "alpha beta alpha"),   // target-like -> passes the 0 bar
      (2L, "delta epsilon zeta"), // raw-like -> negative logw, drops
      (3L, "alpha beta gamma"),
      (4L, "epsilon delta delta")
    ).toDF("doc_id", "text")
    val m = graft.ml.Dsir.fit(target, raw, "text", buckets = 64)
    val expected = graft.ml.Dsir.scores(raw, "doc_id", "text", m)
      .filter(col("logw_micro") >= 0L)
      .select("doc_id").as[Long].collect().toSet
    assert(expected.nonEmpty && expected.size < 4, s"must split: $expected")
    val dir = java.nio.file.Files
      .createTempDirectory("dsir_stream_gate").toString
    def run(nBatches: Int, tag: Int) = DocStream.replayDsirGatedIngest(
        raw, m, "doc_id", "text", s"$dir/$tag", nBatches,
        minLogwMicro = 0L)
      .select("doc_id").as[Long].collect().toSet
    assert(run(1, 1) == expected)
    assert(run(2, 2) == expected)
    assert(run(4, 3) == expected)
  }
}
