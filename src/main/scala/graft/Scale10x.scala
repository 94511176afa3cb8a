package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scale-linearity probe: times the engine's load-bearing operator shapes on
  * a 1× and a 10× copy of the sf0.1 tables (both written multi-row-group to
  * /tmp so partitioning is identical and only DATA VOLUME varies) and writes
  * the per-op times + ratios to BENCH_10x.json — the committed, reproducible
  * form of PERF.md's "every cost curve is linear past the scheduling floor"
  * claim.
  *
  * Usage: `sbt 'runMain graft.Scale10x'` (env SPARK_GRAFT_SF_DIR /
  * SPARK_GRAFT_CPUS as in Bench; output path arg 1, default BENCH_10x.json).
  */
object Scale10x {

  private def time[A](f: => A): (Double, A) = {
    val t0 = System.nanoTime()
    val r = f
    ((System.nanoTime() - t0) / 1e9, r)
  }

  /** Evaluate EVERY column of `df` (count() alone lets Catalyst prune the
    * computed columns — a probe that times nothing) and return the row
    * count: one aggregate over a row hash.
    */
  private def force(df: DataFrame): Long =
    df.agg(count(lit(1)),
        sum(pmod(xxhash64(df.columns.map(col): _*), lit(1000000007L))))
      .collect()(0).getLong(0)

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val copies = sys.env.getOrElse("SPARK_GRAFT_COPIES", "10").toInt
    // probe-name-prefix filter for config experiments (Bench discipline):
    // filtered runs write to /tmp by default so they never clobber the
    // committed full-suite artifact
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(',').toSet)
    val outPath =
      if (args.nonEmpty) args(0)
      else if (only.isDefined) s"/tmp/SCALE_EXP_${copies}x.json"
      else s"BENCH_${copies}x.json"
    // reuse already-written scale copies across experiment iterations (the
    // 100x build writes ~6 GB; rebuilding it per probe run measures the
    // build, not the probe)
    val reuse = sys.env.get("SPARK_GRAFT_REUSE").contains("1")
    val work = "/tmp/graft_scale10x"
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._

    // ---- build 1x and 10x copies (same layout: 32-way multi-row-group) ----
    // 10x: union of 10 id-shifted copies; doc text gets a per-copy suffix so
    // copies are near-dupes (not exact dupes) of each other — the near-dup
    // pipeline sees realistic planted-pair work, like the r1 probe.
    val docs = Tables.documents(spark, sfDir).select(col("doc_id"), col("text"))
    val li = Tables.lineitem(spark, sfDir)
      .select("l_orderkey", "l_partkey", "l_suppkey", "l_quantity", "l_returnflag", "l_linestatus", "l_extendedprice", "l_discount", "l_tax")
    val orders = Tables.orders(spark, sfDir)
      .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")

    def write(df: DataFrame, name: String): String = {
      val p = s"$work/$name"
      if (!(reuse && new java.io.File(s"$p/_SUCCESS").isFile))
        df.repartition(32).write.mode("overwrite").parquet(p)
      p
    }
    // executor-side fan-out: ONE scan exploded by a per-row copy index.
    // The previous shape — a `copies`-way unionByName of id-shifted scans —
    // put the scale factor in the PLAN (1000 scan branches at 1000x), and
    // analysis/codegen of that plan alone OOM'd the default 8g driver heap
    // (r16 verdict #3). Same rows, same copymark texts; plan size is now
    // O(1) in `copies` and the data amplification happens on executors,
    // the same discipline the engine itself is graded on.
    def scaled(df: DataFrame, idCols: Seq[String], copies: Int,
               suffix: Option[String]): DataFrame = {
      // copies=0 would make sequence(0, -1) a DESCENDING [0, -1] array —
      // a silently corrupt 2x build with a negative-shifted copy, where
      // the old unionByName shape threw on the empty reduce
      require(copies >= 1, s"scaled: copies must be >= 1, got $copies")
      // spread the SOURCE before exploding: the 1x tables are a single
      // parquet split, so without this the whole copies-fold fan-out runs
      // in one task (first live run: ~1 busy core writing li1000)
      val fan = df.repartition(cpus.toInt)
        .withColumn("__k",
          explode(sequence(lit(0L), lit((copies - 1).toLong))))
      val shifted = idCols.foldLeft(fan)((d, c) =>
        d.withColumn(c, col(c) + col("__k") * lit(100000000L)))
      val marked = suffix match {
        case Some(tc) => shifted.withColumn(tc,
          when(col("__k") > 0,
            concat(col(tc), lit(" copymark"), col("__k").cast("string")))
            .otherwise(col(tc)))
        case None => shifted
      }
      marked.drop("__k")
    }

    val docs1P = write(docs, "docs1")
    val docs10P = write(scaled(docs, Seq("doc_id"), copies, Some("text")), s"docs$copies")
    val li1P = write(li, "li1")
    val li10P = write(scaled(li, Seq("l_orderkey"), copies, None), s"li$copies")
    val ord1P = write(orders, "ord1")
    val ord10P = write(scaled(orders, Seq("o_orderkey"), copies, None), s"ord$copies")
    // events scale HORIZONTALLY: id-shifted copies add users (per-user event
    // counts and the time range stay constant), so the keyed-window and
    // keyed-join probes below grow in partition COUNT, not partition size —
    // exactly the 100 TB growth mode the operators claim to handle
    val ev = Tables.events(spark, sfDir)
      .select("event_id", "ts_us", "user_id", "event_type", "value")
    val ev1P = write(ev, "ev1")
    val evNP = write(scaled(ev, Seq("event_id", "user_id"), copies, None), s"ev$copies")
    // embeddings scale by id-shifted copies (vectors identical — dot-product
    // work doesn't care, and the scale artifact compares time and row
    // counts, never value hashes); the 20 query vectors come from the 1x
    // copy at BOTH scales so per-query work is constant and only corpus
    // size varies
    val emb = Tables.embeddings(spark, sfDir).select("vec_id", "embedding")
    val emb1P = write(emb, "emb1")
    val embNP = write(scaled(emb, Seq("vec_id"), copies, None), s"emb$copies")
    // the incremental-gate batch: 500 docs derived from the 1x corpus and
    // IDENTICAL at both scales (ids moved to a disjoint range) — half are
    // planted near-dups of corpus docs (one appended token, J >= 0.89 on the
    // shortest 10-token doc, inside the b=8/r=4 banding's high-recall
    // region), half fresh md5-token texts that match nothing. Survivor set
    // is therefore scale-invariant: the fresh half survives, the dup half
    // drops (at Nx its matches multiply — the copymark copies are near-dups
    // of the same source — but dropped is dropped).
    val gateBatchP = write(docs.where(col("doc_id") % 10 === 0).select(
      (col("doc_id") + 900000000L).as("doc_id"),
      when(col("doc_id") % 20 === 0, concat(col("text"), lit(" gateprobetail")))
        .otherwise(concat_ws(" ", (0 until 48).map(i => substring(
          md5(concat(col("doc_id").cast("string"), lit(s"-$i"))), 1, 8)): _*))
        .as("text")), "gatebatch")
    // the re-probe batch: a second disjoint slice for the post-append
    // steady-state measurement (same construction, different ids)
    val gateBatch2P = write(docs.where(col("doc_id") % 10 === 5).select(
      (col("doc_id") + 950000000L).as("doc_id"),
      when(col("doc_id") % 20 === 5, concat(col("text"), lit(" gateprobetail")))
        .otherwise(concat_ws(" ", (0 until 48).map(i => substring(
          md5(concat(col("doc_id").cast("string"), lit(s"+$i"))), 1, 8)): _*))
        .as("text")), "gatebatch2")

    // warmup: session/codegen init so op timings don't absorb cold-start
    spark.range(1000000).selectExpr("sum(id)").collect()
    spark.read.parquet(li1P).count(); spark.read.parquet(docs1P).count()

    // ---- the probed operator shapes ---------------------------------------
    def aggShape(p: String): Long =                       // q01 shape
      force(spark.read.parquet(p)
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(sum(col("l_quantity")).as("sq"), sum(col("l_extendedprice")).as("sp"),
          avg(col("l_discount")).as("ad"), count(lit(1)).as("n")))
    def sigShape(p: String): Long =                       // minhash signatures
      force(graft.operators.Dedup.minhashSignatures(
        spark.read.parquet(p), "doc_id", "text", numHashes = 32, shingleN = 3))
    def exactDedupShape(p: String): Long =
      force(graft.operators.Dedup.dropExactDupes(
        spark.read.parquet(p), "doc_id", "text"))
    def topkShape(p: String): Long =                      // q16 shape
      force(graft.plans.GroupedTopK.perGroup(
        spark.read.parquet(p).select("o_custkey", "o_orderkey", "o_totalprice"),
        Seq(col("o_custkey")),
        struct(col("o_totalprice"), col("o_orderkey")), k = 3))
    def nearDupShape(p: String): Long =                   // LSH block+verify
      force(graft.operators.Dedup.minhashNearDupes(
        spark.read.parquet(p), "doc_id", "text", threshold = 0.5))
    def clusterShape(p: String): Long =                   // q4j scale path
      force(graft.operators.Dedup.nearDupClusters(
        graft.operators.Dedup.minhashNearDupes(
          spark.read.parquet(p), "doc_id", "text", threshold = 0.5)))
    def lineDedupShape(p: String): Long =                 // q4m shape
      force(graft.operators.Dedup.dropRepeatedLines(
        spark.read.parquet(p).select(col("doc_id"),
          concat(lit("hdr-"), (col("doc_id") % 7).cast("string"),
            lit("\n"), col("text")).as("text")),
        "doc_id", "text", minRepeats = 10))
    def repetitionShape(p: String): Long =                // q4n shape
      force(graft.operators.Curate.repetitionStats(
        spark.read.parquet(p), "doc_id", "text", n = 3))
    def chunkShape(p: String): Long =                     // q4v shape
      force(graft.operators.Curate.chunkDocs(
        spark.read.parquet(p), "doc_id", "text", chunkTokens = 64, overlap = 16))
    def salientShape(p: String): Long =                   // q4x shape
      force(graft.operators.Curate.salientTerms(
        spark.read.parquet(p), "doc_id", "text", k = 3))
    def lmShape(p: String): Long =                        // q5k shape
      force(graft.queries.LmQueries.lmScore(spark.read.parquet(p)))
    def lm3FitShape(p: String): Long =                    // q5s fit shape
      graft.queries.LmQueries.trigramFit(spark.read.parquet(p))
    def lmBackoffShape(p: String): Long =                 // q5t shape
      force(graft.queries.LmQueries.backoffScore(spark.read.parquet(p)))
    def lmKnShape(p: String): Long =                      // q5v shape
      force(graft.queries.LmQueries.knScore(spark.read.parquet(p)))
    // BPE merges prefit ONCE on the 1x corpus (the copies repeat the same
    // vocabulary, so the learned merges are scale-invariant); the probe
    // times the steady-state segmentation kernel over the scaled corpus
    lazy val bpeModel = graft.ml.BpeTokenizer.fitModel(
      spark.read.parquet(docs1P), col("text"), vocabCap = 25, nMerges = 12)
    lazy val bpeMerges = bpeModel.merges
    def bpeShape(p: String): Long =                       // q5z shape
      force(graft.queries.LmQueries.bpeTokens(
        spark.read.parquet(p), bpeMerges))
    def bpePackShape(p: String): Long =                   // q6e shape
      force(graft.queries.LmQueries.bpePack(
        spark.read.parquet(p), bpeModel, budget = 4000L))
    def lmKn3Shape(p: String): Long =                     // q5w shape
      force(graft.queries.LmQueries.kn3Score(spark.read.parquet(p)))
    def bm25Shape(p: String): Long =                      // q5x shape
      force(graft.queries.TextQueries.bm25(spark.read.parquet(p)))
    // the q71 serving path: whole-vocab df table written ONCE per scale
    // (the amortized job — lazy init lands in the discarded warm pass);
    // the probe times the cache-free single scoring scan (bm25_topk by
    // contrast caches a corpus-sized (id, dl, tf) frame per query — the
    // 100 TB memory hazard the table removes). Its twin re-derives the
    // stats per query.
    def bm25StatsTable(docsP: String, tag: String): String = {
      val t = s"graft_scale_bm25_$tag"
      spark.sql(s"DROP TABLE IF EXISTS $t")
      graft.operators.Retrieval.writeBm25StatsTable(
        spark.read.parquet(docsP), col("doc_id"), col("text"), t,
        buckets = 32, path = Some(s"$work/bm25_$tag"))
      t
    }
    lazy val bm25T1 = bm25StatsTable(docs1P, "c1")
    lazy val bm25TN = bm25StatsTable(docs10P, s"c$copies")
    def bm25ServeShape(p: String, t: String): Long =      // q71 shape
      force(graft.queries.TextQueries.bm25Served(spark.read.parquet(p), t))
    def contamShape(p: String): Long =                    // q5r shape
      force(graft.queries.TextQueries.contaminationReport(spark.read.parquet(p)))
    def substrShape(p: String): Long =                    // q6f shape
      force(graft.operators.Dedup.duplicatedSpans(
        spark.read.parquet(p), "doc_id", "text", k = 8, minDocs = 2))
    def substrDecontamShape(p: String): Long = {          // q6m shape
      val docs = spark.read.parquet(p)
      force(graft.operators.Dedup.removeContaminatedSpans(
        docs.where(col("doc_id") % 31 =!= 0), "doc_id", "text",
        docs.where(col("doc_id") % 31 === 0), "text", k = 8))
    }
    def rankBucketsShape(p: String): Long =               // q5q operator shape
      force(graft.operators.Curate.rankBuckets(
        spark.read.parquet(p)
          .select(col("doc_id"), pmod(col("doc_id"), lit(64L)).as("g"),
            length(col("text")).as("v")),
        Seq("g"), col("v"), col("doc_id"), k = 3))
    def multiEvalShape(liP: String, ordP: String): Long = { // q37 shape
      val cnn = spark.read.parquet(liP).groupBy(col("l_orderkey").as("k"))
        .agg((sum(col("l_quantity")).cast("long") % 100).as("cnn_sc"))
      val o = spark.read.parquet(ordP)
      val base = cnn.join(o, col("o_orderkey") === col("k"))
        .select((col("o_orderkey") % 5).as("fold"),
          when(col("o_orderstatus") === "F", 1).otherwise(0).as("y"),
          col("cnn_sc"), (col("o_custkey") % 100).as("rf_sc"),
          ((col("o_custkey") * 7 + 13) % 100).as("cat_sc"),
          ((col("o_custkey") + col("o_orderkey")) % 100).as("se_sc"))
      // stack() melt, q37's shape: ONE pass over base — a 4-way union would
      // re-execute the agg+join subtree once per model (measured 14x vs
      // DuckDB at 10x before the fix; the union IS the defect, not the agg)
      val melted = base.selectExpr("fold", "y",
        "stack(4, 'cnn', cnn_sc, 'rf', rf_sc, 'cat', cat_sc, 'se', se_sc) AS (model, sc)")
      force(graft.operators.Metrics.evalSuite(
        melted, col("y"), col("sc"), threshold = 50.0, Seq("model", "fold")))
    }

    def sessionShape(p: String): Long =                   // q62 shape
      force(graft.operators.Events.sessionStats(
        spark.read.parquet(p), gapUs = 1800000000L))
    def asofShape(p: String): Long = {                    // q68 shape
      val e = spark.read.parquet(p)
      val clicks = e.filter(col("event_type") === "click")
        .select(col("user_id"), col("ts_us").as("tus"), col("event_id"), col("value"))
      val views = e.filter(col("event_type") === "view")
        .select(col("user_id"), col("ts_us").as("tus"), col("value").as("view_value"))
      force(graft.operators.Events.asofJoin(clicks, views, "user_id", "tus",
        rightCols = Seq("tus", "view_value")))
    }
    def rangeJoinTwinSql(evv: String): String =
      s"""WITH w AS (SELECT unnest(generate_series(TIMESTAMP '2024-01-01 02:00:00',
         |                  TIMESTAMP '2024-01-30 02:00:00', INTERVAL 1 DAY)) AS ws),
         |iv AS (SELECT epoch_us(ws) AS s_us, epoch_us(ws + INTERVAL 90 MINUTE) AS e_us,
         |       CAST(row_number() OVER (ORDER BY ws) - 1 AS BIGINT) AS win_id FROM w)
         |SELECT iv.win_id, count(*) AS n, count(DISTINCT e.user_id) AS n_users
         |FROM $evv e JOIN iv ON e.ts_us >= iv.s_us AND e.ts_us < iv.e_us
         |GROUP BY iv.win_id""".stripMargin

    def rangeIntervals = spark.range(30).select(
      (unix_micros(to_timestamp(lit("2024-01-01 02:00:00")))
        + col("id") * 86400L * 1000000L).as("s_us"),
      (unix_micros(to_timestamp(lit("2024-01-01 02:00:00")))
        + col("id") * 86400L * 1000000L + 90L * 60 * 1000000L).as("e_us"),
      col("id").as("win_id"))
    def rangeShape(p: String): Long =                     // q7d shape
      force(graft.operators.Events.rangeJoinBroadcast(
          spark.read.parquet(p), "ts_us", rangeIntervals, "s_us", "e_us")
        .groupBy(col("win_id"))
        .agg(count(lit(1)).as("n"), countDistinct(col("user_id")).as("n_users")))
    def rangeBandedShape(p: String): Long =               // q69 shape
      force(graft.operators.Events.rangeJoin(spark.read.parquet(p), "ts_us",
          rangeIntervals, "s_us", "e_us", bucketUs = 90L * 60 * 1000000)
        .groupBy(col("win_id"))
        .agg(count(lit(1)).as("n"), countDistinct(col("user_id")).as("n_users")))

    import graft.operators.Similarity
    def annQueries = spark.read.parquet(emb1P).where(col("vec_id") < 20)
      .select(col("vec_id").as("query_id"), col("embedding").as("qe"),
        Similarity.norm(col("embedding")).as("qn"))
    def annBruteShape(p: String): Long = {                // q4d exact shape
      val c = spark.read.parquet(p).where(col("vec_id") >= 20)
        .select(col("vec_id"), col("embedding"),
          Similarity.norm(col("embedding")).as("bn"))
      val scored = c.crossJoin(broadcast(annQueries))
        .select(col("query_id"), col("vec_id"),
          (Similarity.dot(col("embedding"), col("qe"))
            / (col("bn") * col("qn"))).as("cos"))
      force(graft.plans.GroupedTopK.perGroup(scored, Seq(col("query_id")),
        struct(col("cos"), col("vec_id")), k = 5))
    }
    def annIvfShape(p: String): Long =                    // IVF approximate path
      force(Similarity.ivfTopK(
        spark.read.parquet(p).where(col("vec_id") >= 20), "vec_id",
        annQueries.select(col("query_id"), col("qe").as("embedding")),
        "query_id", k = 5, nCentroids = 64, nProbe = 8))
    // PQ codebooks prefit ONCE on the 1x corpus (codebooks identical at
    // both scales — the copies are the same vectors), so the probe times
    // the steady-state encode + ADC search, not the one-time fit; the
    // twin replays the same codebook via the shared pqReplaySql text
    lazy val pqCbs = Similarity.fitPq(
      spark.read.parquet(emb1P).where(col("vec_id") >= 20))
    def annPqShape(p: String): Long =                     // q5y PQ/ADC path
      force(Similarity.pqTopK(
        spark.read.parquet(p).where(col("vec_id") >= 20), "vec_id",
        annQueries.select(col("query_id"), col("qe").as("embedding")),
        "query_id", k = 5, pqCbs))
    // IVF-PQ fit follows the same prefit-once discipline; the twin
    // replays coarse + codebooks via the shared ivfPqReplaySql text
    lazy val ivfPqFit = Similarity.fitIvfPq(
      spark.read.parquet(emb1P).where(col("vec_id") >= 20))
    // DSIR model prefit once on the 1x corpus (identical deltas at both
    // scales — the copies are the same docs); the probe times the
    // steady-state zero-shuffle scoring + rank cut, not the fit
    lazy val dsirModel = {
      val d1 = spark.read.parquet(docs1P)
      graft.ml.Dsir.fit(d1.where(col("doc_id") % 7 === 0),
        d1.where(col("doc_id") % 7 =!= 0), "text", buckets = 256)
    }
    def dsirShape(p: String): Long =                      // q6j shape
      force(graft.ml.Dsir.select(
        spark.read.parquet(p).where(col("doc_id") % 7 =!= 0),
        "doc_id", "text", dsirModel, k = 50))
    // the q72/q73 drift probes: per-batch cost = one fixed-batch scan +
    // a sidecar read — flat in corpus size (the corpus-sized baseline is
    // paid once at sidecar write, in the lazy init the warm pass
    // discards). Their twins recompute the build row per query — the
    // linear work the sidecar amortizes away.
    def dsirDriftRoot(p: String, tag: String): String = {
      val r = s"$work/dsirdrift_$tag"
      graft.ml.Dsir.save(spark, dsirModel, r)
      graft.ml.Dsir.writeDriftSidecar(spark, r,
        spark.read.parquet(p).where(col("doc_id") % 7 =!= 0), "text")
      r
    }
    lazy val dsirDrift1 = dsirDriftRoot(docs1P, "c1")
    lazy val dsirDriftN = dsirDriftRoot(docs10P, s"c$copies")
    def dsirDriftShape(root: String): Long =              // q72 shape
      force(graft.ml.Dsir.driftStats(spark, root,
        spark.read.parquet(docs1P).where(col("doc_id") % 7 === 0), "text"))
    // the q5k-cap self-fit on the 1x corpus (the dsirModel discipline:
    // identical model at both scales; keep caps in sync with LmQueries)
    lazy val lmDriftModel = graft.ml.NgramLm.fit(
      spark.read.parquet(docs1P), col("text"), 25, 600)
    def lmDriftRoot(p: String, tag: String): String = {
      val r = s"$work/lmdrift_$tag"
      graft.ml.NgramLm.save(spark, lmDriftModel, r)
      graft.ml.NgramLm.writeDriftSidecar(spark, r,
        spark.read.parquet(p), col("doc_id"), col("text"))
      r
    }
    lazy val lmDrift1 = lmDriftRoot(docs1P, "c1")
    lazy val lmDriftN = lmDriftRoot(docs10P, s"c$copies")
    def lmDriftShape(root: String): Long =                // q73 shape
      force(graft.ml.NgramLm.driftStats(spark, root,
        spark.read.parquet(docs1P).where(col("doc_id") % 9 === 0),
        col("doc_id"), col("text")))
    // quality classifier prefit once on the 1x corpus train slice (the
    // dsirModel discipline: identical coefficients at both scales); the
    // probe times the SERVED scoring path — one fused bucket-counts
    // kernel scan + the margin projection, zero shuffles — the q57/q70
    // shape that previously had no BENCH row
    lazy val qualityModel = graft.ml.TextClassifier.export(
      graft.ml.TextClassifier.fit(
        spark.read.parquet(docs1P).where(col("doc_id") % 10 < 8)
          // the copies carry (doc_id, text) only — a deterministic id
          // label stands in for the q57 lang label; scoring cost (what
          // the probe times) is label-independent
          .select(col("text"),
            (col("doc_id") % 3 === 0).cast("double").as("y")),
        "text", "y", k = 64))
    def qualityShape(p: String): Long =                   // q57/q70 shape
      force(graft.ml.TextClassifier.score(qualityModel,
          spark.read.parquet(p).where(col("doc_id") % 10 >= 8), "text")
        .select(col("doc_id"), col("pred"), col("margin")))
    // the q75 drift probe: sidecar read + one fixed-batch scoring pass —
    // flat in corpus size; its twin recomputes the corpus-sized build row
    def qualityDriftRoot(p: String, tag: String): String = {
      val r = s"$work/qualdrift_$tag"
      graft.ml.TextClassifier.save(spark, qualityModel, r)
      graft.ml.TextClassifier.writeDriftSidecar(spark, r,
        spark.read.parquet(p).where(col("doc_id") % 10 < 8), "text")
      r
    }
    lazy val qualityDrift1 = qualityDriftRoot(docs1P, "c1")
    lazy val qualityDriftN = qualityDriftRoot(docs10P, s"c$copies")
    def vocabSketchShape(p: String): Long =               // q7c shape
      force(graft.operators.Profile.vocabSketch(
        spark.read.parquet(p), "text", k = 256, shingleN = 3))
    def qualityDriftShape(root: String): Long =           // q75 shape
      force(graft.ml.TextClassifier.driftStats(spark, root,
        spark.read.parquet(docs1P).where(col("doc_id") % 10 >= 8), "text"))
    def dsirGumbelShape(p: String): Long =                // q6r shape
      force(graft.ml.Dsir.selectGumbel(
        spark.read.parquet(p).where(col("doc_id") % 7 =!= 0),
        "doc_id", "text", dsirModel, k = 50, seed = 17L))
    def annIvfPqShape(p: String): Long =                  // q6h IVFADC path
      force(Similarity.ivfPqTopK(
        spark.read.parquet(p).where(col("vec_id") >= 20), "vec_id",
        annQueries.select(col("query_id"), col("qe").as("embedding")),
        "query_id", k = 5, nProbe = 3, ivfPqFit._1, ivfPqFit._2))
    // the persisted-index search (q6n): the index builds ONCE per scale
    // (the one-time corpus job the disk index amortizes); the probe times
    // the steady-state partition-pruned search only
    lazy val ivfPqIdx1 = {
      val path = s"$work/ivfpq_idx1"
      Similarity.writeIvfPqIndex(
        spark.read.parquet(emb1P).where(col("vec_id") >= 20), "vec_id",
        path, ivfPqFit._1, ivfPqFit._2)
      path
    }
    lazy val ivfPqIdxN = {
      val path = s"$work/ivfpq_idx$copies"
      Similarity.writeIvfPqIndex(
        spark.read.parquet(embNP).where(col("vec_id") >= 20), "vec_id",
        path, ivfPqFit._1, ivfPqFit._2)
      path
    }
    def annIvfPqIdxShape(idx: String): Long =             // q6n search path
      force(Similarity.ivfPqTopKFromIndex(spark, idx,
        annQueries.select(col("query_id"), col("qe").as("embedding")),
        "query_id", k = 5, nProbe = 3))
    def annRecallShape(p: String): Long =                 // q6u quality metric
      force(Similarity.ivfPqRecallAtK(
        spark.read.parquet(p).where(col("vec_id") >= 20), "vec_id",
        annQueries.select(col("query_id"), col("qe").as("embedding")),
        "query_id", k = 5, nProbe = 3, ivfPqFit._1, ivfPqFit._2))

    // ---- the incremental near-dup gate (writeBandTable →
    // nearDupesAgainstTable → appendBandTable), the steady-state ingest
    // centerpiece: band the corpus ONCE into a bucketed table, then each
    // batch probes it bucket-locally (no corpus-side exchange) and appends
    // its survivors' band rows. gate_table_build = the amortized one-time
    // cost; gate_probe = the per-batch steady-state cost (the number that
    // must NOT grow like the corpus); gate_append = the survivor-band
    // append; gate_reprobe = a second batch against the GROWN table.
    // Probes pass excludeCorpusDocs = the batch's own ids, so a re-probe
    // after append is exact (the self-maintaining gate's crash-replay
    // rule) and warm best-of-2 timing is well-defined.
    import graft.operators.Dedup
    def gateTable(docsP: String, name: String): String = {
      val t = s"graft_scale_bands_$name"
      Dedup.writeBandTable(spark.read.parquet(docsP), "doc_id", "text", t,
        buckets = 32, path = Some(s"$work/bands_$name"))
      t
    }
    def gateProbeShape(docsP: String, table: String, batchP: String): Long = {
      val batch = spark.read.parquet(batchP)
      val dupes = Dedup.probeBandTable(
          Dedup.bandedBatchKeys(batch, "doc_id", "text", 8, 4, 3),
          batch, spark.read.parquet(docsP), table, "doc_id", "text",
          threshold = 0.5, shingleN = 3,
          excludeCorpusDocs = Some(batch.select(col("doc_id"))))
        .select(col("doc_a").as("doc_id"))
      force(batch.join(dupes, Seq("doc_id"), "left_anti"))
    }
    def gateAppend(docsP: String, table: String, batchP: String): Unit = {
      val batch = spark.read.parquet(batchP)
      val dupes = Dedup.probeBandTable(
          Dedup.bandedBatchKeys(batch, "doc_id", "text", 8, 4, 3),
          batch, spark.read.parquet(docsP), table, "doc_id", "text",
          threshold = 0.5, shingleN = 3,
          excludeCorpusDocs = Some(batch.select(col("doc_id"))))
        .select(col("doc_a").as("doc_id"))
      Dedup.appendBandTable(batch.join(dupes, Seq("doc_id"), "left_anti"),
        "doc_id", "text", table)
    }
    // the plan contract the whole design rests on: the band-table side of
    // the probe join is a bucketed read with NO exchange above it
    def assertGatePlanBucketed(docsP: String, table: String, batchP: String): Unit = {
      val batch = spark.read.parquet(batchP)
      val p = Dedup.probeBandTable(
        Dedup.bandedBatchKeys(batch, "doc_id", "text", 8, 4, 3),
        batch, spark.read.parquet(docsP), table, "doc_id", "text",
        threshold = 0.5, shingleN = 3,
        excludeCorpusDocs = Some(batch.select(col("doc_id"))))
        .queryExecution.executedPlan.toString
      val scanLine = p.linesIterator.find(_.contains(table)).getOrElse("")
      require(scanLine.nonEmpty && (p.contains("Bucketed: true") ||
          scanLine.contains("SelectedBucketsCount")),
        s"gate probe's corpus side must be a bucketed exchange-free read:\n$p")
    }

    // ---- DuckDB twins: the same RESULT computed by DuckDB over the SAME
    // parquet files — engine-vs-engine in the compute-bound regime, the
    // committed form of the "within 2x of the embedded baseline once
    // compute dominates" criterion. Twins exist for every probe whose
    // semantics DuckDB can express exactly; the near-dup twins compute the
    // identical pair/cluster sets via exact shingle-join (DuckDB's natural
    // algorithm — engine comparisons fix the ANSWER, not the algorithm;
    // q46/q4f's oracles prove the two formulations agree). The
    // xxhash64-kernel signature probe has no exact twin (DuckDB lacks the
    // hash) and reports duck=null.
    val pairSql = (docs: String) =>
      s"""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM $docs),
         |sh AS (SELECT DISTINCT doc_id, s FROM (
         |    SELECT doc_id, unnest([t[i+1] || ' ' || t[i+2] || ' ' || t[i+3]
         |                           for i in range(len(t) - 2)]) AS s FROM toks) u),
         |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
         |inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
         |          FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
         |          GROUP BY 1, 2),
         |pairs AS (SELECT doc_a, doc_b, i / (na.n + nb.n - i) AS jaccard
         |          FROM inter
         |          JOIN sizes na ON na.doc_id = doc_a
         |          JOIN sizes nb ON nb.doc_id = doc_b
         |          WHERE i / (na.n + nb.n - i) >= 0.5)""".stripMargin
    def duckSql(docs: String, li: String, ord: String, evv: String,
                gb: String, embv: String): Map[String, String] = Map(
      // exact multi-query cosine top-5 — queries always from the 1x copy
      // (same fixed 20 at both scales), corpus from the scaled view
      "ann_brute" ->
        s"""WITH q AS (SELECT vec_id AS query_id, embedding AS qe
           |           FROM emb1v WHERE vec_id < 20),
           |p AS (SELECT q.query_id, b.vec_id,
           |        list_cosine_similarity(CAST(b.embedding AS DOUBLE[]),
           |                               CAST(q.qe AS DOUBLE[])) AS c
           |      FROM $embv b, q WHERE b.vec_id >= 20),
           |r AS (SELECT query_id, vec_id, c,
           |        row_number() OVER (PARTITION BY query_id
           |                           ORDER BY c DESC, vec_id) AS rn FROM p)
           |SELECT query_id, vec_id, c FROM r WHERE rn <= 5""".stripMargin,
      "sessionize_stats" ->
        s"""WITH o AS (SELECT user_id, value, ts_us,
           |  CASE WHEN ts_us - lag(ts_us) OVER (PARTITION BY user_id ORDER BY ts_us) > 1800000000
           |       OR lag(ts_us) OVER (PARTITION BY user_id ORDER BY ts_us) IS NULL
           |       THEN 1 ELSE 0 END AS new_s FROM $evv),
           |s AS (SELECT user_id, value, ts_us,
           |        sum(new_s) OVER (PARTITION BY user_id ORDER BY ts_us
           |                         ROWS UNBOUNDED PRECEDING) AS sid FROM o)
           |SELECT user_id, sid, count(*) AS n_events, min(ts_us) AS start_us,
           |  max(ts_us) AS end_us, sum(value) AS total_value
           |FROM s GROUP BY user_id, sid""".stripMargin,
      "asof_join" ->
        s"""WITH c AS (SELECT user_id, ts_us AS tus, event_id, value
           |           FROM $evv WHERE event_type = 'click'),
           |     v AS (SELECT user_id, ts_us AS tus, value AS view_value
           |           FROM $evv WHERE event_type = 'view')
           |SELECT c.event_id, c.user_id, c.tus, v.tus AS view_tus, v.view_value
           |FROM c ASOF LEFT JOIN v ON c.user_id = v.user_id AND c.tus >= v.tus""".stripMargin,
      // ONE containment SQL serves both range-join probes (kernel +
      // banded compute the same result; q69/q7d pin both to this text)
      "range_join_banded" -> rangeJoinTwinSql(evv),
      "range_join" -> rangeJoinTwinSql(evv),
      // same survivors as the Spark gate probe, computed EXACTLY: batch
      // shingles join corpus shingles (DuckDB's natural algorithm — no
      // persisted LSH state to amortize, which is precisely what this twin
      // measures the cost of)
      "gate_probe" ->
        s"""WITH bsh AS (SELECT DISTINCT doc_id, s FROM (
           |    SELECT doc_id, unnest([t[i+1] || ' ' || t[i+2] || ' ' || t[i+3]
           |                           for i in range(len(t) - 2)]) AS s
           |    FROM (SELECT doc_id, string_split(text, ' ') AS t FROM $gb)) u),
           |csh AS (SELECT DISTINCT doc_id, s FROM (
           |    SELECT doc_id, unnest([t[i+1] || ' ' || t[i+2] || ' ' || t[i+3]
           |                           for i in range(len(t) - 2)]) AS s
           |    FROM (SELECT doc_id, string_split(text, ' ') AS t FROM $docs)) u),
           |bs AS (SELECT doc_id, count(*) AS n FROM bsh GROUP BY doc_id),
           |cs AS (SELECT doc_id, count(*) AS n FROM csh GROUP BY doc_id),
           |inter AS (SELECT b.doc_id AS a, c.doc_id AS bd, count(*) AS i
           |          FROM bsh b JOIN csh c ON b.s = c.s GROUP BY 1, 2),
           |dup AS (SELECT DISTINCT a FROM inter
           |        JOIN bs ON bs.doc_id = a JOIN cs ON cs.doc_id = bd
           |        WHERE i / (bs.n + cs.n - i) >= 0.5)
           |SELECT g.* FROM $gb g WHERE g.doc_id NOT IN (SELECT a FROM dup)""".stripMargin,
      "agg_6m_rows" ->
        s"""SELECT l_returnflag, l_linestatus, sum(l_quantity), sum(l_extendedprice),
           |avg(l_discount), count(*) FROM $li GROUP BY 1, 2""".stripMargin,
      "fpgate_probe" ->
        s"""WITH fresh AS (SELECT b.* FROM $gb b
           |  WHERE b.text NOT IN (SELECT text FROM $docs)),
           |keep AS (SELECT min(doc_id) AS doc_id FROM fresh GROUP BY text)
           |SELECT f.* FROM fresh f JOIN keep USING (doc_id)""".stripMargin,
      "exact_dedup" ->
        s"""SELECT d.* FROM $docs d
           |JOIN (SELECT min(doc_id) AS k FROM $docs GROUP BY text) g ON d.doc_id = g.k""".stripMargin,
      "grouped_topk" ->
        s"""SELECT o_custkey, o_orderkey, o_totalprice FROM (
           |  SELECT o_custkey, o_orderkey, o_totalprice,
           |    row_number() OVER (PARTITION BY o_custkey
           |      ORDER BY o_totalprice DESC, o_orderkey DESC) AS rn FROM $ord)
           |WHERE rn <= 3""".stripMargin,
      "line_dedup" ->
        s"""WITH d AS (SELECT doc_id,
           |    'hdr-' || CAST(doc_id % 7 AS VARCHAR) || chr(10) || text AS text FROM $docs),
           |sp AS (SELECT doc_id, string_split(text, chr(10)) AS ls FROM d),
           |l AS (SELECT doc_id, z[1]::BIGINT AS pos, z[2]::VARCHAR AS line
           |      FROM (SELECT doc_id, unnest(list_zip(range(1, len(ls) + 1), ls)) AS z FROM sp)),
           |hot AS (SELECT line FROM l GROUP BY line HAVING count(DISTINCT doc_id) >= 10),
           |keep AS (SELECT * FROM l WHERE line NOT IN (SELECT line FROM hot))
           |SELECT doc_id, string_agg(line, chr(10) ORDER BY pos) AS text
           |FROM keep GROUP BY doc_id""".stripMargin,
      "repetition_stats" ->
        s"""WITH sp AS (SELECT doc_id, string_split(text, ' ') AS t FROM $docs),
           |g AS (SELECT doc_id,
           |        CASE WHEN len(t) < 3 THEN [array_to_string(t, ' ')]
           |             ELSE list_transform(range(1, len(t) - 1),
           |                    i -> t[i] || ' ' || t[i + 1] || ' ' || t[i + 2]) END AS gs
           |      FROM sp),
           |u AS (SELECT doc_id, unnest(gs) AS gram FROM g),
           |c AS (SELECT doc_id, gram, count(*) AS n FROM u GROUP BY 1, 2)
           |SELECT doc_id, CAST(sum(n) AS BIGINT) AS n_grams,
           |  max(n)::DOUBLE / sum(n) AS top_ngram_frac,
           |  count(*)::DOUBLE / sum(n) AS distinct_frac
           |FROM c GROUP BY doc_id""".stripMargin,
      "doc_chunks" ->
        s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS tok,
           |             len(string_split(text, ' ')) AS n FROM $docs),
           |k AS (SELECT doc_id, tok, n,
           |        unnest(range(CASE WHEN n <= 64 THEN 1
           |          ELSE CAST(ceil((n - 64) / 48.0) AS BIGINT) + 1 END)) AS chunk_id
           |      FROM t WHERE n > 0)
           |SELECT doc_id, chunk_id,
           |  array_to_string(tok[(chunk_id*48 + 1):(chunk_id*48 + 64)], ' ') AS chunk,
           |  least(64, n - chunk_id*48) AS n_tokens FROM k""".stripMargin,
      "salient_terms" ->
        s"""WITH terms AS (
           |  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM $docs),
           |tf AS (SELECT doc_id, term, count(*) AS tf
           |       FROM terms GROUP BY doc_id, term),
           |dfreq AS (SELECT term, count(DISTINCT doc_id) AS df_docs
           |          FROM terms GROUP BY term),
           |r AS (SELECT doc_id, term, tf, df_docs,
           |        row_number() OVER (PARTITION BY doc_id
           |          ORDER BY tf DESC, df_docs ASC, term ASC) AS rn
           |      FROM tf JOIN dfreq USING (term))
           |SELECT doc_id, term, tf, df_docs FROM r WHERE rn <= 3""".stripMargin,
      "lm_score" -> graft.queries.LmQueries.lmScoreOracleSql(docs),
      "lm3_fit" -> graft.queries.LmQueries.trigramFitTwinSql(docs),
      "lm_backoff" -> graft.queries.LmQueries.backoffOracleSql(docs),
      "lm_kn" -> graft.queries.LmQueries.knOracleSql(docs),
      "bpe_tokens" -> graft.queries.LmQueries.bpeOracleSql(bpeMerges, docs),
      "bpe_pack" -> graft.queries.LmQueries.bpePackOracleSql(bpeModel, docs, 4000L),
      "lm_kn3" -> graft.queries.LmQueries.kn3OracleSql(docs),
      "bm25_topk" -> graft.queries.TextQueries.bm25OracleSql(docs),
      // the serving twin computes the SAME result but must re-derive the
      // corpus stats per query — the fit pass the persisted table saves
      "bm25_stats_serve" -> graft.queries.TextQueries.bm25OracleSql(docs),
      "contam_report" -> graft.queries.TextQueries.contaminationOracleSql(docs),
      "exact_substr" -> graft.queries.TextQueries.exactSubstrSpansOracleSql(docs),
      "substr_decontam" -> graft.queries.TextQueries.contamRemoveOracleSql(
        s"$docs WHERE doc_id % 31 <> 0", s"$docs WHERE doc_id % 31 = 0"),
      "rank_buckets" ->
        s"""WITH d AS (SELECT doc_id, doc_id % 64 AS g, length(text) AS v
           |           FROM $docs),
           |r AS (SELECT doc_id, g, v,
           |        row_number() OVER (PARTITION BY g ORDER BY v, doc_id) AS rn,
           |        count(*) OVER (PARTITION BY g) AS n
           |      FROM d)
           |SELECT doc_id, g, v, (rn - 1) * 3 // n + 1 AS bucket FROM r""".stripMargin,
      "neardup_lsh_e2e" ->
        s"""${pairSql(docs)}
           |SELECT doc_a, doc_b, jaccard FROM pairs""".stripMargin,
      "neardup_clusters" ->
        s"""WITH RECURSIVE
           |${pairSql(docs).drop(5)},
           |edges AS (SELECT doc_a AS src, doc_b AS dst FROM pairs
           |          UNION SELECT doc_b, doc_a FROM pairs),
           |reach AS (SELECT src, dst FROM edges
           |          UNION SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src)
           |SELECT src AS doc, least(src, min(dst)) AS cluster
           |FROM reach GROUP BY src""".stripMargin,
      "multimodel_eval" ->
        s"""WITH cnn AS (SELECT l_orderkey AS k,
           |        CAST(sum(l_quantity) AS BIGINT) % 100 AS cnn_sc FROM $li GROUP BY 1),
           |base AS (SELECT o_orderkey % 5 AS fold,
           |           CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS y, cnn_sc,
           |           o_custkey % 100 AS rf_sc, (o_custkey * 7 + 13) % 100 AS cat_sc,
           |           (o_custkey + o_orderkey) % 100 AS se_sc
           |         FROM cnn JOIN $ord ON o_orderkey = k),
           |melted AS (SELECT 'cnn' AS model, fold, y, cnn_sc AS sc FROM base
           |  UNION ALL SELECT 'rf', fold, y, rf_sc FROM base
           |  UNION ALL SELECT 'cat', fold, y, cat_sc FROM base
           |  UNION ALL SELECT 'se', fold, y, se_sc FROM base),
           |r AS (SELECT model, fold, y,
           |        avg(CASE WHEN (CASE WHEN sc >= 50 THEN 1 ELSE 0 END) = y
           |            THEN 1.0 ELSE 0.0 END) AS rec
           |      FROM melted GROUP BY 1, 2, 3),
           |ba AS (SELECT model, fold, avg(rec) AS balanced_accuracy
           |       FROM r GROUP BY 1, 2),
           |g AS (SELECT model, fold, sc, sum(y) AS pos, count(*) AS n
           |      FROM melted GROUP BY 1, 2, 3),
           |rk AS (SELECT *, sum(n) OVER (PARTITION BY model, fold ORDER BY sc
           |         ROWS UNBOUNDED PRECEDING) AS cum FROM g),
           |au AS (SELECT model, fold,
           |  (sum(pos * ((2.0 * cum - n + 1) / 2)) - sum(pos) * (sum(pos) + 1) / 2.0)
           |    / (sum(pos) * (sum(n) - sum(pos))) AS auroc
           |FROM rk GROUP BY 1, 2)
           |SELECT ba.model, ba.fold, balanced_accuracy, auroc
           |FROM ba JOIN au ON ba.model = au.model AND ba.fold = au.fold""".stripMargin)

    case class Probe(name: String, run1: () => Long, run10: () => Long)
    // near-dup probes plant `copies` near-identical texts per doc, so their
    // true-pair OUTPUT grows quadratically in the copy factor - meaningful
    // at 10x, pure output-size measurement beyond it. Skip them past 10x.
    // semdedup joins them: the scaled corpus duplicates every vector
    // `copies` times, so within-cell pairs grow quadratically in the copy
    // factor — meaningful at 10x, pure output-size measurement beyond
    lazy val semCents = Similarity.fitSemDedupCentroids(
      spark.read.parquet(emb1P))
    def semDedupShape(p: String): Long =                  // q6i shape
      force(Similarity.semDedup(
        spark.read.parquet(p), "vec_id", threshold = 0.15, semCents))
    def semGateShape(p: String): Long = {                 // q6o shape
      val e = spark.read.parquet(p)
      force(Similarity.semDedupAgainst(
        e.where(col("vec_id") % 11 === 0), e.where(col("vec_id") % 11 =!= 0),
        "vec_id", threshold = 0.15, semCents))
    }
    // the SELF-MAINTAINING semantic gate (q6p): corpus cell table built
    // ONCE per scale (the amortized one-time job — lazy init lands in the
    // discarded warm pass); the probe times the 2-batch stream replay.
    // Batch fixed from the 1x copy at both scales, so per-batch steady
    // state vs corpus size is what varies. Joined to the <=10-copies
    // class: the scaled corpus duplicates every batch vector, so gate
    // matches (and within-cell pair work) grow with the copy factor.
    def semCellTable(p: String, tag: String): String = {
      val r = s"$work/semcell_$tag"
      Similarity.writeSemCellSegment(
        spark.read.parquet(p).where(col("vec_id") % 11 =!= 0),
        "vec_id", semCents, r, "corpus")
      r
    }
    lazy val semCell1 = semCellTable(emb1P, "c1")
    lazy val semCellN = semCellTable(embNP, s"c$copies")
    def semTableShape(root: String): Long = {            // q6t shape
      val e = spark.read.parquet(emb1P)
      // corpus segment ONLY: the root is shared with semgate_sm, whose
      // replay appends survivor segments (seg=b*) — reading them would
      // gate the batch against its own survivors (every row self-matches
      // and drops), diverging from the duck twin's live-gate result and
      // making the timing depend on probe order. The filter is a
      // partition prune, so this also mirrors the serving plan.
      force(Similarity.semDedupAgainstCells(
        e.where(col("vec_id") % 11 === 0), "vec_id",
        spark.read.parquet(root).where(col("seg") === "corpus"),
        threshold = 0.15, semCents))
    }
    def semSmShape(root: String, wd: String): Long =      // q6p shape
      force(graft.streaming.DocStream.replaySemGatedIngest(
        spark.read.parquet(emb1P).where(col("vec_id") % 11 === 0),
        root, "vec_id", semCents, threshold = 0.6,
        s"$work/$wd", nBatches = 2))
    // the q6v steady-state probe component: a fixed batch anti-joins the
    // persisted bucketed fp table (read-only, so warm best-of-2 applies;
    // the streaming replay around it is the accepted q6a-class floor,
    // probed via semgate_sm's twin discipline)
    import graft.operators.Dedup
    def fpTable(docsP: String, name: String): String = {
      val t = s"graft_scale_fps_$name"
      spark.sql(s"DROP TABLE IF EXISTS $t")
      Dedup.writeFingerprintTable(spark.read.parquet(docsP), "text", t,
        buckets = 32, path = Some(s"$work/fps_$name"))
      t
    }
    lazy val fpT1 = fpTable(docs1P, "c1")
    lazy val fpTN = fpTable(docs10P, s"c$copies")
    def fpGateProbeShape(table: String): Long =           // q6v probe path
      force(Dedup.dropDupesAgainstTable(
        spark.read.parquet(gateBatchP), table, "doc_id", "text"))
    // the q6z drift probe: per-batch cost is ONE batch projection + a
    // bounded agg + a sidecar read — flat in corpus size by construction
    // (the corpus-sized baseline was paid once at sidecar write). Batch
    // fixed from the 1x copy at both scales. Its twin recomputes the
    // build row over the corpus — linear work the sidecar amortizes away.
    def semDriftRoot(p: String, tag: String): String = {
      val r = s"$work/semdrift_$tag"
      Similarity.writeSemDriftSidecar(spark, r,
        spark.read.parquet(p).where(col("vec_id") % 11 =!= 0), semCents)
      r
    }
    lazy val semDrift1 = semDriftRoot(emb1P, "c1")
    lazy val semDriftN = semDriftRoot(embNP, s"c$copies")
    def semDriftShape(root: String): Long =               // q6z shape
      force(Similarity.semDriftStats(spark, root,
        spark.read.parquet(emb1P).where(col("vec_id") % 11 === 0), semCents))
    val nearDupProbes = if (copies <= 10) Seq(
      Probe("neardup_lsh_e2e", () => nearDupShape(docs1P), () => nearDupShape(docs10P)),
      Probe("neardup_clusters", () => clusterShape(docs1P), () => clusterShape(docs10P)),
      Probe("semdedup", () => semDedupShape(emb1P), () => semDedupShape(embNP)),
      Probe("semdedup_gate", () => semGateShape(emb1P),
        () => semGateShape(embNP)),
      Probe("semgate_drift", () => semDriftShape(semDrift1),
        () => semDriftShape(semDriftN)),
      Probe("semgate_sm", () => semSmShape(semCell1, "semsm_wd1"),
        () => semSmShape(semCellN, s"semsm_wd$copies")),
      // q6t serving path: the same gate math as semdedup_gate, served
      // from the persisted cell table (read-only, best-of-2) — its twin
      // IS semdedup_gate's oracle text (table-served == live)
      Probe("semgate_table", () => semTableShape(semCell1),
        () => semTableShape(semCellN)))
    else Seq.empty
    val allProbes = Seq(
      Probe("agg_6m_rows", () => aggShape(li1P), () => aggShape(li10P)),
      Probe("minhash_signatures", () => sigShape(docs1P), () => sigShape(docs10P)),
      Probe("exact_dedup", () => exactDedupShape(docs1P), () => exactDedupShape(docs10P)),
      Probe("grouped_topk", () => topkShape(ord1P), () => topkShape(ord10P)),
      Probe("line_dedup", () => lineDedupShape(docs1P), () => lineDedupShape(docs10P)),
      Probe("repetition_stats", () => repetitionShape(docs1P), () => repetitionShape(docs10P)),
      Probe("doc_chunks", () => chunkShape(docs1P), () => chunkShape(docs10P)),
      Probe("salient_terms", () => salientShape(docs1P), () => salientShape(docs10P)),
      Probe("lm_score", () => lmShape(docs1P), () => lmShape(docs10P)),
      Probe("lm3_fit", () => lm3FitShape(docs1P), () => lm3FitShape(docs10P)),
      Probe("lm_backoff", () => lmBackoffShape(docs1P),
        () => lmBackoffShape(docs10P)),
      Probe("lm_kn", () => lmKnShape(docs1P), () => lmKnShape(docs10P)),
      Probe("bpe_tokens", () => bpeShape(docs1P), () => bpeShape(docs10P)),
      Probe("bpe_pack", () => bpePackShape(docs1P), () => bpePackShape(docs10P)),
      Probe("lm_kn3", () => lmKn3Shape(docs1P), () => lmKn3Shape(docs10P)),
      Probe("bm25_topk", () => bm25Shape(docs1P), () => bm25Shape(docs10P)),
      Probe("bm25_stats_serve", () => bm25ServeShape(docs1P, bm25T1),
        () => bm25ServeShape(docs10P, bm25TN)),
      Probe("contam_report", () => contamShape(docs1P),
        () => contamShape(docs10P)),
      Probe("exact_substr", () => substrShape(docs1P),
        () => substrShape(docs10P)),
      Probe("substr_decontam", () => substrDecontamShape(docs1P),
        () => substrDecontamShape(docs10P)),
      Probe("rank_buckets", () => rankBucketsShape(docs1P),
        () => rankBucketsShape(docs10P)),
      Probe("sessionize_stats", () => sessionShape(ev1P), () => sessionShape(evNP)),
      Probe("asof_join", () => asofShape(ev1P), () => asofShape(evNP)),
      Probe("range_join", () => rangeShape(ev1P), () => rangeShape(evNP)),
      Probe("range_join_banded", () => rangeBandedShape(ev1P),
        () => rangeBandedShape(evNP)),
      Probe("ann_brute", () => annBruteShape(emb1P), () => annBruteShape(embNP)),
      Probe("ann_ivf", () => annIvfShape(emb1P), () => annIvfShape(embNP)),
      Probe("ann_pq", () => annPqShape(emb1P), () => annPqShape(embNP)),
      Probe("ann_ivfpq", () => annIvfPqShape(emb1P),
        () => annIvfPqShape(embNP)),
      Probe("ann_ivfpq_idx", () => annIvfPqIdxShape(ivfPqIdx1),
        () => annIvfPqIdxShape(ivfPqIdxN)),
      Probe("ann_recall", () => annRecallShape(emb1P),
        () => annRecallShape(embNP)),
      Probe("fpgate_probe", () => fpGateProbeShape(fpT1),
        () => fpGateProbeShape(fpTN)),
      Probe("dsir", () => dsirShape(docs1P), () => dsirShape(docs10P)),
      Probe("dsir_gumbel", () => dsirGumbelShape(docs1P),
        () => dsirGumbelShape(docs10P)),
      Probe("dsir_drift", () => dsirDriftShape(dsirDrift1),
        () => dsirDriftShape(dsirDriftN)),
      Probe("lm_drift", () => lmDriftShape(lmDrift1),
        () => lmDriftShape(lmDriftN)),
      Probe("vocab_sketch", () => vocabSketchShape(docs1P),
        () => vocabSketchShape(docs10P)),
      Probe("quality_score", () => qualityShape(docs1P),
        () => qualityShape(docs10P)),
      Probe("quality_drift", () => qualityDriftShape(qualityDrift1),
        () => qualityDriftShape(qualityDriftN))) ++
      nearDupProbes :+
      Probe("multimodel_eval", () => multiEvalShape(li1P, ord1P),
        () => multiEvalShape(li10P, ord10P))
    val probes = allProbes.filter(p => only.forall(_.exists(p.name.startsWith)))

    val genericResults = probes.map { p =>
      // warm best-of-2 on BOTH sides, same discipline as the DuckDB twins:
      // a single cold-path time mixes first-run scheduling/codegen noise
      // into the scaled number (measured: the 100x agg probe reads 1.51s
      // one-shot vs 0.88s warm — the difference is floor, not compute)
      val (tw, _) = time(p.run1())
      val (t1, rows1) = time(p.run1())
      val best1 = math.min(tw, t1)
      val (tw10, _) = time(p.run10())
      val (t10r, rows10) = time(p.run10())
      val t10 = math.min(tw10, t10r)
      println(f"[scale10x] ${p.name}%-20s 1x=${best1}%.2fs/${rows1} rows  ${copies}x=${t10}%.2fs/${rows10} rows  time-ratio=${t10 / best1}%.1f")
      (p.name, best1, t10, rows1, rows10)
    }

    // ---- the gate cycle, timed as a unit of four steady-state steps -------
    // (not through the generic Probe harness: build and append MUTATE the
    // band table, so only the excludeCorpusDocs-probed steps are best-of-2)
    val gateNames = Seq("gate_table_build", "gate_probe", "gate_append",
      "gate_reprobe", "gate_compact", "gate_postcompact",
      "gate_decomp_bandscan", "gate_decomp_textscan", "gate_decomp_cands",
      "gate_pointread_cands", "gate_pointread_stream",
      "gate_pointread_auto")
    val gateOn = only.forall(o => gateNames.exists(n => o.exists(n.startsWith)))
    val gateResults: Seq[(String, Double, Double, Long, Long)] =
      if (!gateOn) Seq.empty
      else {
        val bandRows = (docsP: String) =>
          spark.read.parquet(docsP).count() * 8 // 8 bands per doc
        val (tb1, table1) = time(gateTable(docs1P, "c1"))
        val (tbN, tableN) = time(gateTable(docs10P, s"c$copies"))
        // the plan contract behind "per-batch cost independent of corpus
        // size": corpus side is a bucketed read, no exchange above it —
        // hard-fail the artifact if the plan regresses
        assertGatePlanBucketed(docs10P, tableN, gateBatchP)
        def bo2(f: => Long): (Double, Long) = {
          val (tw, _) = time(f); val (t, rows) = time(f)
          (math.min(tw, t), rows)
        }
        val (p1, prows1) = bo2(gateProbeShape(docs1P, table1, gateBatchP))
        val (pN, prowsN) = bo2(gateProbeShape(docs10P, tableN, gateBatchP))
        // ---- decomposition of the probe's growth axis (r16 verdict #2).
        // The probe = batch banding + (band,bh) equi-join against the
        // bucketed state + candidate dedup + jaccard verify (a join that
        // reads corpus TEXT). Three floors isolate where growth lives:
        //   bandscan — reading the state band rows the join consumes
        //     (corpus-sized; reducible only by touching fewer rows);
        //   textscan — reading the corpus (id, text) the verify consumes
        //     (corpus-sized; reducible by pruning to candidate docs);
        //   cands    — everything EXCEPT the verify (banding + state join
        //     + dedup), so probe − cands ≈ the verify's true cost.
        // Measured pre-append, same state the probe itself saw.
        def bandScanShape(table: String): Long = force(spark.table(table))
        def textScanShape(docsP: String): Long =
          force(spark.read.parquet(docsP).select(col("doc_id"), col("text")))
        def candShape(table: String, batchP: String): Long = {
          val batch = spark.read.parquet(batchP)
          force(Dedup.bandTableCandidates(
            Dedup.bandedBatchKeys(batch, "doc_id", "text", 8, 4, 3),
            table, "doc_id", Some(batch.select(col("doc_id")))))
        }
        val (ds1, dsr1) = bo2(bandScanShape(table1))
        val (dsN, dsrN) = bo2(bandScanShape(tableN))
        val (ts1, tsr1) = bo2(textScanShape(docs1P))
        val (tsN, tsrN) = bo2(textScanShape(docs10P))
        val (cd1, cdr1) = bo2(candShape(table1, gateBatchP))
        val (cdN, cdrN) = bo2(candShape(tableN, gateBatchP))
        // ---- the trickle-batch point read (r17 verdict #3), measured
        // HONESTLY in three modes on the SAME 50-doc batch (~400 band
        // keys): "force" = the driver-direct bucket-pruned parquet read
        // unconditionally (its raw cost), "off" = the streaming
        // broadcast probe pinned, "auto" = the production byte-gated
        // pick. The measurement REFUTED the prescription's premise —
        // hash-bucketed files span the full bh range so page pruning
        // never engages, and the driver decode loses to the
        // executor-parallel scan as state grows (11.3 s vs 2.4 s at
        // 1000×) — so the auto row's claim is that the pick logic takes
        // the cheaper side at every scale (point read only under the
        // PointReadMaxStateBytes gate). Candidate-set equality is
        // REQUIRED in-harness. Measured pre-append like the decomp rows.
        val trickleDf = {
          val rows = spark.read.parquet(gateBatchP)
            .orderBy(col("doc_id")).limit(50).collect()
          spark.createDataFrame(
            new java.util.ArrayList[org.apache.spark.sql.Row](
              java.util.Arrays.asList(rows: _*)),
            spark.read.parquet(gateBatchP).schema)
        }
        // mode: "force" = point read unconditionally (its raw cost, even
        // where the byte gate would decline), "off" = streaming shape
        // pinned, "auto" = production pick (byte-gated)
        def trickleCands(table: String, mode: String): DataFrame = {
          val bands = Dedup.bandedBatchKeys(trickleDf, "doc_id", "text", 8, 4, 3)
          val ex = Some(trickleDf.select(col("doc_id")))
          def join = Dedup.joinBandCandidates(bands, table, "doc_id", ex)
          mode match {
            case "force" => Dedup.pointReadBandCandidates(bands, table,
              "doc_id", ex, maxStateBytes = Long.MaxValue).getOrElse(join)
            case "off" => join
            case _ => Dedup.bandTableCandidates(bands, table, "doc_id", ex)
          }
        }
        def trickleCandShape(table: String, mode: String): Long =
          force(trickleCands(table, mode))
        def trickleCandSet(table: String, mode: String): Set[(Long, Long)] =
          trickleCands(table, mode).select(col("doc_a"), col("doc_b"))
            .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
        require(trickleCandSet(tableN, "force") == trickleCandSet(tableN, "off"),
          "point-read candidates diverge from the streaming shape")
        val (tp1, tpr1) = bo2(trickleCandShape(table1, "force"))
        val (tpN, tprN) = bo2(trickleCandShape(tableN, "force"))
        val (ts1b, tsr1b) = bo2(trickleCandShape(table1, "off"))
        val (tsNb, tsrNb) = bo2(trickleCandShape(tableN, "off"))
        val (ta1, tar1) = bo2(trickleCandShape(table1, "auto"))
        val (taN, tarN) = bo2(trickleCandShape(tableN, "auto"))
        val (a1, _) = time(gateAppend(docs1P, table1, gateBatchP))
        val (aN, _) = time(gateAppend(docs10P, tableN, gateBatchP))
        val (r1, rrows1) = bo2(gateProbeShape(docs1P, table1, gateBatch2P))
        val (rN, rrowsN) = bo2(gateProbeShape(docs10P, tableN, gateBatch2P))
        // q6x's lifecycle close: compact the grown table (one-time
        // maintenance job, corpus-sized by design), then re-run the SAME
        // probe — the steady-state claim is gate_postcompact ~= gate_reprobe
        // (compaction collapses file count without changing probe cost or
        // results; the gate equality itself is q6x's oracle)
        val (c1, _) = time(Dedup.compactBucketedTable(spark, table1))
        val (cN, _) = time(Dedup.compactBucketedTable(spark, tableN))
        val (pc1, pcrows1) = bo2(gateProbeShape(docs1P, table1, gateBatch2P))
        val (pcN, pcrowsN) = bo2(gateProbeShape(docs10P, tableN, gateBatch2P))
        require(pcrows1 == rrows1 && pcrowsN == rrowsN,
          s"compaction changed the gate: $rrows1/$rrowsN -> $pcrows1/$pcrowsN")
        val rows = Seq(
          ("gate_table_build", tb1, tbN, bandRows(docs1P), bandRows(docs10P)),
          ("gate_probe", p1, pN, prows1, prowsN),
          ("gate_decomp_bandscan", ds1, dsN, dsr1, dsrN),
          ("gate_decomp_textscan", ts1, tsN, tsr1, tsrN),
          ("gate_decomp_cands", cd1, cdN, cdr1, cdrN),
          ("gate_pointread_cands", tp1, tpN, tpr1, tprN),
          ("gate_pointread_stream", ts1b, tsNb, tsr1b, tsrNb),
          ("gate_pointread_auto", ta1, taN, tar1, tarN),
          ("gate_append", a1, aN, prows1, prowsN),
          ("gate_reprobe", r1, rN, rrows1, rrowsN),
          ("gate_compact", c1, cN, bandRows(docs1P), bandRows(docs10P)),
          ("gate_postcompact", pc1, pcN, pcrows1, pcrowsN))
        rows.foreach { case (n, t1, tN, x1, xN) =>
          println(f"[scale10x] $n%-20s 1x=${t1}%.2fs/${x1} rows  ${copies}x=${tN}%.2fs/${xN} rows  time-ratio=${tN / t1}%.1f")
        }
        rows
      }
    // ---- incremental IVF-PQ index append (q6q): a FIXED batch (1x-derived,
    // ids shifted to a disjoint range) appended to the 1x and the Nx index.
    // Timed once per scale (append MUTATES the index, so no best-of-2);
    // appends go to DEDICATED index copies so the ann_ivfpq_idx twin's
    // encoded view is never polluted. The claim under test: append cost =
    // one batch-sized encode + partitioned write, flat in index size. No
    // DuckDB twin (a write-path op over Spark's index layout).
    // ---- fp-table compaction cycle (q6w): append a second batch's fps to
    // the persisted table (fragmenting it), compact, and re-run the SAME
    // probe — steady-state claim: fpgate_postcompact ~= fpgate_probe (the
    // generic row above), i.e. probe cost flat before/after compaction,
    // with identical gate results (required here; q6w's oracle pins the
    // full lifecycle's correctness).
    val fpcNames = Seq("fpgate_compact", "fpgate_postcompact")
    val fpcOn = only.forall(o => fpcNames.exists(n => o.exists(n.startsWith)))
    val fpcResults: Seq[(String, Double, Double, Long, Long)] =
      if (!fpcOn) Seq.empty
      else {
        def bo2(f: => Long): (Double, Long) = {
          val (tw, _) = time(f); val (t, rows) = time(f)
          (math.min(tw, t), rows)
        }
        val (pre1, preRows1) = bo2(fpGateProbeShape(fpT1))
        val (preN, preRowsN) = bo2(fpGateProbeShape(fpTN))
        // a NOVEL batch (suffixed texts): genuinely appends rows — the
        // fixture batches are corpus subsets whose fps the anti-join
        // would drop — while leaving the probe batch's gate unchanged
        val novel = spark.read.parquet(gateBatch2P)
          .select(col("doc_id"), concat(col("text"),
            lit(" fpcompact novel tail")).as("text"))
        Dedup.appendFingerprintTable(novel, "text", fpT1)
        Dedup.appendFingerprintTable(novel, "text", fpTN)
        val (c1, _) = time(Dedup.compactBucketedTable(spark, fpT1))
        val (cN, _) = time(Dedup.compactBucketedTable(spark, fpTN))
        val (pc1, pcRows1) = bo2(fpGateProbeShape(fpT1))
        val (pcN, pcRowsN) = bo2(fpGateProbeShape(fpTN))
        require(pcRows1 == preRows1 && pcRowsN == preRowsN,
          s"fp compaction changed the gate: $preRows1/$preRowsN -> " +
            s"$pcRows1/$pcRowsN")
        val rows = Seq(
          ("fpgate_compact", c1, cN, preRows1, preRowsN),
          ("fpgate_postcompact", pc1, pcN, pcRows1, pcRowsN))
        rows.foreach { case (n, a, b, x1, xN) =>
          println(f"[scale10x] $n%-20s 1x=${a}%.2fs/$x1 rows  ${copies}x=${b}%.2fs/$xN rows  time-ratio=${b / a}%.1f")
        }
        rows
      }
    val appendNames =
      Seq("ivfpq_append", "ivfpq_drift", "ivfpq_refit", "ivfpq_compact")
    val appendOn = only.forall(o => appendNames.exists(n => o.exists(n.startsWith)))
    val appendResults: Seq[(String, Double, Double, Long, Long)] =
      if (!appendOn) Seq.empty
      else {
        def appIdx(p: String, tag: String): String = {
          val path = s"$work/ivfpq_app_$tag"
          Similarity.writeIvfPqIndex(
            spark.read.parquet(p).where(col("vec_id") >= 20), "vec_id",
            path, ivfPqFit._1, ivfPqFit._2)
          path
        }
        val app1 = appIdx(emb1P, "c1")
        val appN = appIdx(embNP, s"c$copies")
        val batch = spark.read.parquet(emb1P).where(col("vec_id") % 10 === 0)
          .select((col("vec_id") + 900000000L).as("vec_id"), col("embedding"))
        val n = batch.count()
        // drift first (read-only: sidecar stat + one batch projection —
        // best-of-2; the claim is cost flat in index/corpus size), then
        // the mutating appends (timed once each)
        def driftShape(idx: String): Long = force(
          graft.operators.Similarity.ivfPqDriftStats(spark, idx, batch))
        val (dw1, _) = time(driftShape(app1))
        val (d1, _) = time(driftShape(app1))
        val (dwN, _) = time(driftShape(appN))
        val (dN, _) = time(driftShape(appN))
        val drift = ("ivfpq_drift", math.min(dw1, d1), math.min(dwN, dN), 2L, 2L)
        val (t1, _) = time(
          graft.operators.Similarity.appendIvfPqIndex(batch, "vec_id", app1))
        val (tN, _) = time(
          graft.operators.Similarity.appendIvfPqIndex(batch, "vec_id", appN))
        // index compaction (q77): fold the append's small files to one
        // per cell under the directory-swap discipline — the post-append
        // maintenance step, run here in the lifecycle's natural order
        // (append → compact → refit). Index-sized by design (the fold
        // reads and rewrites only the m-int coded rows, never raw
        // embeddings), honestly linear with a constant swap; timed once
        // (mutating). Row-multiset preservation is REQUIRED in-harness
        // (count pre == post; the q77 oracle pins full row equality).
        def encCount(p: String): Long =
          spark.read.parquet(s"$p/encoded").count()
        val (kc1, kcN) = (encCount(app1), encCount(appN))
        val (k1, _) = time(Similarity.compactIvfPqIndex(spark, app1))
        val (kN, _) = time(Similarity.compactIvfPqIndex(spark, appN))
        require(encCount(app1) == kc1 && encCount(appN) == kcN,
          "index compaction changed the encoded row count")
        // refit-and-swap (q6y): rebuild over served corpus (base ∪ the
        // batch just appended) with a fresh model, swap atomically. The
        // honest claim is LINEAR — refit IS the one-time corpus-sized
        // job the drift contract schedules — with the swap itself
        // constant (two renames); timed once (mutates the index).
        val refitFit = Similarity.fitIvfPq(
          spark.read.parquet(emb1P).where(col("vec_id") >= 20), seed = 43L)
        def served(p: String) = spark.read.parquet(p)
          .where(col("vec_id") >= 20).select(col("vec_id"), col("embedding"))
          .unionByName(batch)
        val (f1, _) = time(Similarity.refitIvfPqIndex(
          served(emb1P), "vec_id", app1, refitFit._1, refitFit._2))
        val (fN, _) = time(Similarity.refitIvfPqIndex(
          served(embNP), "vec_id", appN, refitFit._1, refitFit._2))
        val corpusN = spark.read.parquet(embNP)
          .where(col("vec_id") >= 20).count() + n
        val rows = Seq(drift, ("ivfpq_append", t1, tN, n, n),
          ("ivfpq_compact", k1, kN, kc1, kcN),
          ("ivfpq_refit", f1, fN,
            spark.read.parquet(emb1P).where(col("vec_id") >= 20).count() + n,
            corpusN))
        rows.foreach { case (nm, a, b, x1, xN) =>
          println(f"[scale10x] $nm%-20s 1x=${a}%.2fs/$x1 rows  ${copies}x=${b}%.2fs/$xN rows  time-ratio=${b / a}%.1f")
        }
        rows
      }
    // the q76 incremental BM25 stats merge: build one dedicated table
    // per scale (the one-time corpus-sized job, timed as its own row for
    // contrast), then merge a FIXED 1x-sized batch into each — the claim
    // is refresh cost O(batch vocab + touched-bucket rows), never
    // corpus-sized (the copies share one vocabulary, so the honest
    // expectation is FLAT absolutes while the build row scales with the
    // corpus). Mutating (timed once), with merge arithmetic REQUIRED
    // in-harness: post df == pre df + the batch's own per-term df for
    // every probe term, and n' == n + |batch|.
    val mergeNames = Seq("bm25_merge", "bm25_stats_build")
    val mergeOn = only.forall(o => mergeNames.exists(n => o.exists(n.startsWith)))
    val mergeResults: Seq[(String, Double, Double, Long, Long)] =
      if (!mergeOn) Seq.empty
      else {
        val terms = graft.queries.TextQueries.Bm25Terms
        def buildT(docsP: String, tag: String): (String, Double) = {
          val t = s"graft_scale_bm25m_$tag"
          spark.sql(s"DROP TABLE IF EXISTS $t")
          val (bt, _) = time {
            graft.operators.Retrieval.writeBm25StatsTable(
              spark.read.parquet(docsP), col("doc_id"), col("text"), t,
              buckets = 32, path = Some(s"$work/bm25m_$tag"))
            0L
          }
          (t, bt)
        }
        val (mt1, b1) = buildT(docs1P, "c1")
        val (mtN, bN) = buildT(docs10P, s"c$copies")
        val mbatch = spark.read.parquet(docs1P)
          .where(col("doc_id") % 101 === 0)
          .select((col("doc_id") + 900000000L).as("doc_id"), col("text"))
        val mbn = mbatch.count()
        val bdf = mbatch
          .select(explode(array_distinct(
            graft.functions.TextFunctions.tokens(col("text")))).as("term"))
          .filter(col("term").isin(terms: _*))
          .groupBy("term").count()
          .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
        def catOf(t: String) = spark.sessionState.catalog.getTableMetadata(
          org.apache.spark.sql.catalyst.TableIdentifier(t))
        def dfOf(t: String) = graft.operators.Retrieval
          .readStatsDfMap(spark, catOf(t), terms)
        def nOf(t: String) = catOf(t).properties("graft.n").toLong
        def mergeInto(t: String): Double = {
          val (pre, preN) = (dfOf(t), nOf(t))
          val (mt, _) = time {
            graft.operators.Retrieval.mergeBm25StatsTable(
              mbatch, col("text"), t, "mb1")
            0L
          }
          val (post, postN) = (dfOf(t), nOf(t))
          terms.foreach { tm =>
            val want = pre.getOrElse(tm, 0L) + bdf.getOrElse(tm, 0L)
            require(post.getOrElse(tm, 0L) == want,
              s"merge arithmetic broke for '$tm' in $t: ${post.get(tm)} != $want")
          }
          require(postN == preN + mbn, s"merged n wrong in $t: $postN")
          mt
        }
        val m1 = mergeInto(mt1)
        val mN = mergeInto(mtN)
        val vocab1 = spark.table(mt1).count()
        val vocabN = spark.table(mtN).count()
        val rows = Seq(("bm25_stats_build", b1, bN, vocab1, vocabN),
          ("bm25_merge", m1, mN, mbn, mbn))
        rows.foreach { case (nm, a, bb, x1, xN) =>
          println(f"[scale10x] $nm%-20s 1x=${a}%.2fs/$x1 rows  ${copies}x=${bb}%.2fs/$xN rows  time-ratio=${bb / a}%.1f")
        }
        rows
      }
    // the q78 quality-classifier refit-and-swap: stage (save + a FRESH
    // drift baseline over the refit corpus) + two renames — the
    // baseline's corpus-sized zero-shuffle scoring pass dominates, so
    // the honest claim is LINEAR in the fit corpus with a constant swap
    // (the ivfpq_refit class). Mutating (timed once), and runs AFTER
    // every genericResults read of the qualityDrift roots.
    val refitNames =
      Seq("quality_refit", "dsir_refit", "lm_refit", "semgate_refit")
    val refitOn = only.forall(o => refitNames.exists(n => o.exists(n.startsWith)))
    val refitResults: Seq[(String, Double, Double, Long, Long)] =
      if (!refitOn) Seq.empty
      else {
        def fitCorpus(p: String) =
          spark.read.parquet(p).where(col("doc_id") % 10 < 8)
        val (n1, nN) = (fitCorpus(docs1P).count(), fitCorpus(docs10P).count())
        val (r1, _) = time(graft.ml.TextClassifier.refitAndSwap(spark,
          qualityModel, fitCorpus(docs1P), "text", qualityDrift1))
        val (rN, _) = time(graft.ml.TextClassifier.refitAndSwap(spark,
          qualityModel, fitCorpus(docs10P), "text", qualityDriftN))
        // the q79/q7a siblings on the selection and perplexity axes —
        // the same ArtifactSwap class (stage = save + corpus-sized
        // baseline pass, constant swap); mutating, timed once, after
        // every genericResults read of the drift roots
        def dsirRaw(p: String) =
          spark.read.parquet(p).where(col("doc_id") % 7 =!= 0)
        val (dn1, dnN) = (dsirRaw(docs1P).count(), dsirRaw(docs10P).count())
        val (d1, _) = time(graft.ml.Dsir.refitAndSwap(spark,
          dsirModel, dsirRaw(docs1P), "text", dsirDrift1))
        val (dN, _) = time(graft.ml.Dsir.refitAndSwap(spark,
          dsirModel, dsirRaw(docs10P), "text", dsirDriftN))
        val (ln1, lnN) = (spark.read.parquet(docs1P).count(),
          spark.read.parquet(docs10P).count())
        val (l1, _) = time(graft.ml.NgramLm.refitAndSwap(spark,
          lmDriftModel, spark.read.parquet(docs1P),
          col("doc_id"), col("text"), lmDrift1))
        val (lN, _) = time(graft.ml.NgramLm.refitAndSwap(spark,
          lmDriftModel, spark.read.parquet(docs10P),
          col("doc_id"), col("text"), lmDriftN))
        // the q7b sibling on the semantic axis: the refit re-blocks the
        // cell table FROM ITSELF onto fresh centroids — corpus-sized
        // (encode + partitioned rewrite + baseline pass), honestly
        // LINEAR with a constant swap. Dedicated roots: the shared
        // semCell roots feed the streaming probe and must stay unfolded.
        def semRefitRoot(p: String, tag: String): String = {
          val r = s"$work/semrefit_$tag"
          val c = spark.read.parquet(p).where(col("vec_id") % 11 =!= 0)
          Similarity.writeSemCellSegment(c, "vec_id", semCents, r, "corpus")
          Similarity.writeSemDriftSidecar(spark, r, c, semCents)
          r
        }
        val (sr1, srN) = (semRefitRoot(emb1P, "c1"),
          semRefitRoot(embNP, s"c$copies"))
        val refitCents = Similarity.fitSemDedupCentroids(
          spark.read.parquet(emb1P).where(col("vec_id") % 11 =!= 0),
          seed = 43L)
        def semN(p: String): Long = spark.read.parquet(p)
          .where(col("vec_id") % 11 =!= 0).count()
        val (sn1, snN) = (semN(emb1P), semN(embNP))
        val (s1, _) = time(Similarity.refitSemCellTable(spark, sr1, refitCents))
        val (sN, _) = time(Similarity.refitSemCellTable(spark, srN, refitCents))
        val rows = Seq(("quality_refit", r1, rN, n1, nN),
          ("dsir_refit", d1, dN, dn1, dnN),
          ("lm_refit", l1, lN, ln1, lnN),
          ("semgate_refit", s1, sN, sn1, snN))
        rows.foreach { case (nm, a, bb, x1, xN) =>
          println(f"[scale10x] $nm%-20s 1x=${a}%.2fs/$x1 rows  ${copies}x=${bb}%.2fs/$xN rows  time-ratio=${bb / a}%.1f")
        }
        rows
      }
    val results = genericResults ++ gateResults ++ fpcResults ++
      appendResults ++ mergeResults ++ refitResults

    // ---- time the DuckDB twins over the same files ------------------------
    val duck: Map[String, Double] = try {
      def pqTwin(embv: String) = graft.queries.SimilarityQueries.pqReplaySql(
        pqCbs, s"$embv WHERE vec_id >= 20", "emb1v WHERE vec_id < 20", k = 5)
      def ivfPqTwin(embv: String) =
        graft.queries.SimilarityQueries.ivfPqReplaySql(
          ivfPqFit._1, ivfPqFit._2, s"$embv WHERE vec_id >= 20",
          "emb1v WHERE vec_id < 20", k = 5, nProbe = 3)
      // only fit/emit the semdedup twin when its probe actually ran
      // (copies <= 10 — the quadratic-output class above)
      def semTwin(embv: String): Map[String, String] =
        if (copies <= 10)
          Map("semdedup" -> graft.queries.SimilarityQueries
              .semDedupReplaySql(semCents, embv, threshold = "0.15"),
            "semdedup_gate" -> graft.queries.SimilarityQueries
              .semDedupGateReplaySql(semCents,
                s"$embv WHERE vec_id % 11 = 0",
                s"$embv WHERE vec_id % 11 <> 0", threshold = "0.15"),
            // same two-round chained computation as the q6p probe
            // (batch fixed from the 1x copy at both scales)
            "semgate_table" -> graft.queries.SimilarityQueries
              .semDedupGateReplaySql(semCents,
                "emb1v WHERE vec_id % 11 = 0",
                s"$embv WHERE vec_id % 11 <> 0", threshold = "0.15"),
            "semgate_sm" -> graft.queries.SimilarityQueries
              .semSelfMaintainReplaySql(semCents,
                s"$embv WHERE vec_id % 11 <> 0",
                "SELECT vec_id, embedding FROM emb1v WHERE vec_id % 11 = 0",
                threshold = "0.6"),
            // recomputes the build row over the corpus — the linear work
            // the Spark side's sidecar amortizes to a constant-time read
            "semgate_drift" -> graft.queries.SimilarityQueries
              .ivfPqDriftReplaySql(semCents,
                s"$embv WHERE vec_id % 11 <> 0",
                "emb1v WHERE vec_id % 11 = 0"))
        else Map.empty
      def dsirTwin(docsv: String) = graft.queries.TextQueries.dsirReplaySql(
        dsirModel, s"$docsv WHERE doc_id % 7 <> 0", k = 50)
      def dsirGumbelTwin(docsv: String) =
        graft.queries.TextQueries.dsirGumbelReplaySql(
          dsirModel, s"$docsv WHERE doc_id % 7 <> 0", k = 50, seed = 17L)
      // the drift twins recompute the BUILD row over the scaled corpus —
      // the linear work the Spark sidecars amortize to a constant read
      def dsirDriftTwin(docsv: String) =
        graft.queries.TextQueries.dsirDriftReplaySql(dsirModel,
          s"$docsv WHERE doc_id % 7 <> 0", "docs1v WHERE doc_id % 7 = 0")
      def lmDriftTwin(docsv: String) =
        graft.queries.LmQueries.lmDriftReplaySql("docs1v", docsv,
          "docs1v WHERE doc_id % 9 = 0")
      // the index probe's twin serves from the SAME prebuilt encoded
      // parquet (probe ranking + ADC + top-k only) — apples-to-apples
      // index serving vs index serving (r12 ADVICE: the full-replay twin
      // re-derived cell assignment + residual codes, i.e. a rebuild).
      // Only emitted when the probe ran, so filtered runs never force the
      // lazy index build just to build its twin SQL.
      val idxRan = results.exists(_._1 == "ann_ivfpq_idx")
      def idxTwin(encv: String): Map[String, String] =
        if (!idxRan) Map.empty
        else Map("ann_ivfpq_idx" -> graft.queries.SimilarityQueries
          .ivfPqIdxReplaySql(ivfPqFit._1, ivfPqFit._2, encv,
            "emb1v WHERE vec_id < 20", k = 5, nProbe = 3))
      def recallTwin(embv: String) =
        graft.queries.SimilarityQueries.ivfPqRecallReplaySql(
          ivfPqFit._1, ivfPqFit._2, s"$embv WHERE vec_id >= 20",
          "emb1v WHERE vec_id < 20", k = 5, nProbe = 3)
      def qualityTwin(docsv: String) =
        graft.queries.TextQueries.qualityScoreReplaySql(qualityModel,
          s"$docsv WHERE doc_id % 10 >= 8")
      def qualityDriftTwin(docsv: String) =
        graft.queries.TextQueries.qualityDriftReplaySql(qualityModel,
          s"$docsv WHERE doc_id % 10 < 8", "docs1v WHERE doc_id % 10 >= 8")
      val sql1 = duckSql("docs1v", "li1v", "ord1v", "ev1v", "gbv", "emb1v") +
        ("ann_pq" -> pqTwin("emb1v")) + ("ann_ivfpq" -> ivfPqTwin("emb1v")) +
        ("ann_recall" -> recallTwin("emb1v")) +
        ("dsir" -> dsirTwin("docs1v")) +
        ("dsir_gumbel" -> dsirGumbelTwin("docs1v")) +
        ("dsir_drift" -> dsirDriftTwin("docs1v")) +
        ("lm_drift" -> lmDriftTwin("docs1v")) +
        ("quality_score" -> qualityTwin("docs1v")) +
        ("quality_drift" -> qualityDriftTwin("docs1v")) +
        ("vocab_sketch" -> graft.queries.TextQueries
          .vocabSketchReplaySql("docs1v")) ++
        semTwin("emb1v") ++ idxTwin("enc1v")
      val sqlN = duckSql("docsNv", "liNv", "ordNv", "evNv", "gbv", "embNv") +
        ("ann_pq" -> pqTwin("embNv")) + ("ann_ivfpq" -> ivfPqTwin("embNv")) +
        ("ann_recall" -> recallTwin("embNv")) +
        ("dsir" -> dsirTwin("docsNv")) +
        ("dsir_gumbel" -> dsirGumbelTwin("docsNv")) +
        ("dsir_drift" -> dsirDriftTwin("docsNv")) +
        ("lm_drift" -> lmDriftTwin("docsNv")) +
        ("quality_score" -> qualityTwin("docsNv")) +
        ("quality_drift" -> qualityDriftTwin("docsNv")) +
        ("vocab_sketch" -> graft.queries.TextQueries
          .vocabSketchReplaySql("docsNv")) ++
        semTwin("embNv") ++ idxTwin("encNv")
      val views = Map("docs1v" -> docs1P, "docsNv" -> docs10P,
        "li1v" -> li1P, "liNv" -> li10P, "ord1v" -> ord1P, "ordNv" -> ord10P,
        "ev1v" -> ev1P, "evNv" -> evNP, "gbv" -> gateBatchP,
        "emb1v" -> emb1P, "embNv" -> embNP) ++
        (if (idxRan) Map("enc1v" -> s"$ivfPqIdx1/encoded/*/*.parquet",
          "encNv" -> s"$ivfPqIdxN/encoded/*/*.parquet")
        else Map.empty)
      def j(m: Map[String, String]): String = m.toSeq.sortBy(_._1)
        .map { case (k, v) =>
          "\"" + k + "\": \"" + v.replace("\\", "\\\\").replace("\"", "\\\"")
            .replace("\n", " ") + "\"" }
        .mkString("{", ",\n", "}")
      val viewsF = java.nio.file.Files.createTempFile("graft_scale_views", ".json")
      java.nio.file.Files.writeString(viewsF, j(views))
      val sqlsF = java.nio.file.Files.createTempFile("graft_scale_sqls", ".json")
      val timedNames = results.map(_._1).toSet
      val tagged = sql1.filter(s => timedNames(s._1))
        .map { case (k, v) => s"$k@1" -> v } ++
        sqlN.filter(s => timedNames(s._1))
          .map { case (k, v) => s"$k@$copies" -> v }
      java.nio.file.Files.writeString(sqlsF, j(tagged))
      import scala.sys.process._
      val out = Seq("python3", "tools/duckdb_sql_timer.py",
        viewsF.toString, sqlsF.toString, "2").!!.trim
      Bench.parseFlatJson(out)
    } catch { case e: Throwable =>
      println(s"[scale10x] duckdb twins unavailable: ${e.getMessage}")
      Map.empty
    }

    def dk(n: String, scale: String): Option[Double] =
      duck.get(s"$n@$scale").filter(_ >= 0)
    val json = results.map { case (n, t1, t10, r1, r10) =>
      val d1 = dk(n, "1"); val dN = dk(n, copies.toString)
      val duckPart = (d1, dN) match {
        case (Some(a), Some(b)) =>
          f""", "duck1_sec": $a%.3f, "duck${copies}x_sec": $b%.3f, "spark_over_duck_${copies}x": ${t10 / b}%.2f"""
        case _ => """, "duck1_sec": null"""
      }
      f"""  "$n": {"t1_sec": $t1%.3f, "t10_sec": $t10%.3f, "ratio": ${t10 / t1}%.2f, "rows1": $r1, "rows10": $r10$duckPart}"""
    }.mkString(
      s"""{\n  "_meta": {"sf": "$sfDir", "copies": $copies, "layout": "32-way multi-row-group parquet for BOTH scales", "note": "ratio ~<=copies = linear-or-better (sub-linear = the 1x run is scheduling-floor-bound, not compute-bound); the neardup probes (10x artifact only) are OUTPUT-bound - the scaled build plants near-identical copies per doc, so true pairs (rows10) grow quadratically in the duplication factor, and honest scaling is time vs output rows. duck*_sec = DuckDB computing the SAME RESULT over the SAME parquet files (best of 2, all cores); the near-dup twins use DuckDB's natural exact shingle-join algorithm - the q46/q4f oracles prove both formulations emit identical sets. spark_over_duck_${copies}x > 1 means DuckDB is faster at the scaled size. minhash_signatures has no twin (xxhash64 kernel is Spark-internal). gate_* rows = the incremental near-dup ingest gate: gate_table_build is the one-time corpus banding (amortized across every later batch), gate_probe/gate_reprobe the per-batch steady state (probe asserted exchange-free bucketed on the corpus side at ${copies}x before timing), gate_append the survivor band append; gate_probe's twin computes the SAME survivors via DuckDB's exact shingle join, which must re-derive corpus shingles every batch - the amortization the persisted band table buys. gate_decomp_* rows decompose the probe (r17): bandscan = streaming read of ALL state band rows, textscan = read of all corpus (id,text), cands = the probe's own factored candidate stage (banding + broadcast state join + pair dedup, Dedup.bandTableCandidates) - so probe-cands ~= the jaccard verify, and growth is attributable to the streaming broadcast-probe pass, not read volume. gate_pointread_* rows (r18) measure the TRICKLE-batch regime on one 50-doc batch (~400 band keys) in three modes: _cands = the driver-direct bucket-pruned parquet point read FORCED (its raw cost - zero Spark jobs against state, but hash-bucketed files span the full bh range so page pruning never engages and the driver decodes every pruned byte), _stream = the SAME batch pinned to the streaming broadcast probe, _auto = the production byte-gated pick (Dedup.PointReadMaxStateBytes). The force-vs-stream pair is the measured crossover recorded at the knob scaladoc (the point read LOSES once pruned bytes are large - 11.3 s vs 2.4 s at 1000x - refuting the file-prune intuition); the auto row's claim is that the pick takes the cheaper side at every scale. Candidate-set equality required in-harness. events probes (sessionize_stats/asof_join/range_join) scale horizontally: ${copies}x adds USERS, per-user history constant. ann_ivfpq_idx's twin is the SERVING TAIL over the same prebuilt encoded parquet (probe+ADC+top-k, no rebuild - apples-to-apples index serving). semgate_sm (<=10x class) times the 2-trigger self-maintaining semantic-gate stream replay against a two-round chained twin; its floor is the streaming machinery (see PERF.md ledger). ivfpq_append/ivfpq_drift have no twins (write-path / sidecar-read ops); their claim is cost FLAT in index+corpus size, measured by the absolutes. ivfpq_refit (q6y) is the drift contract's ACTION — a corpus-sized rebuild + constant swap, honestly LINEAR, timed once (no twin: write-path). ivfpq_compact (q77) folds the append's per-cell small files to one file per cell under the directory-swap discipline — INDEX-sized (reads/rewrites only the m-int coded rows, never raw embeddings), honestly linear with a constant swap, timed once (mutating; row-count preservation required in-harness, full row equality oracle-pinned by q77). gate_compact/fpgate_compact time the q6x/q6w table compactions (one-time maintenance, corpus-sized); gate_postcompact/fpgate_postcompact re-run the SAME probe over the compacted table — claim: ~= the pre-compact probe (gate_reprobe/fpgate_probe), with gate equality required in-harness and oracle-pinned by q6w/q6x. semgate_drift (q6z, <=10x class) reads the sidecar baseline + one fixed-batch projection (flat); its twin recomputes the corpus-sized build row the sidecar amortizes away. bm25_stats_build/bm25_merge (q76, mutating, timed once, merge arithmetic REQUIRED in-harness): the build is the one-time corpus tokenize scan, the merge the O(batch vocab + touched-bucket rows) keyed refresh that replaces it per append - the synthetic docs vocabulary is tiny (31 terms at 1x), so both rows are scan/floor-bound absolutes and the merge's claim is FLAT across 1x->100x. quality_score/quality_drift = the q57/q70 served classifier scoring scan (fused bucket-counts kernel, no twin gap) and the q75 margin-drift contract (sidecar read + fixed-batch scan, flat; twin recomputes the corpus-sized build row). quality_refit/dsir_refit/lm_refit (q78/q79/q7a) = the drift contract's ACTION on the quality/selection/perplexity axes: stage (save + fresh drift baseline over the refit corpus) + two atomic renames — the baseline's corpus-sized scoring pass dominates, honestly LINEAR with a constant swap (the ivfpq_refit class), timed once (mutating). semgate_refit (q7b) = the action on the semantic axis: the cell table re-blocks FROM ITSELF onto fresh centroids (corpus-sized encode + partitioned rewrite + baseline pass, dedicated roots - the shared semCell roots feed the streaming probe and stay unfolded), honestly LINEAR, constant swap, timed once (mutating). vocab_sketch (q7c) = the KMV distinct sketch: one bounded aggregate (<= k longs per partition cross the shuffle) vs a twin doing the global DISTINCT + ORDER BY the sketch removes - the gap is the point; estimate oracle-pinned exactly (md5-60-bit hash + HUGEINT floor division on both sides)."},\n""",
      ",\n", "\n}\n")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(outPath), json)
    println(s"[scale10x] wrote $outPath")
    spark.stop()
  }
}
