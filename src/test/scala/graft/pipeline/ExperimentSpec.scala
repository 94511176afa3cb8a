package graft.pipeline

import java.util.concurrent.atomic.AtomicInteger

import graft.SparkSpec
import graft.operators.{Encode, Impute, StratifiedFolds}
import org.apache.spark.graft.ListenerBusAccess
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions._

class ExperimentSpec extends SparkSpec {
  import spark.implicits._

  /** Two miniature lab cohorts with nulls to impute; labels balanced. */
  private def cohort(n: Int, offset: Int) = (0 until n).map { i =>
    val id = i + offset
    (s"s$id",
      i % 2,                                        // label
      if (i % 7 == 0) None else Some(30.0 + i % 40), // age with nulls
      if (i % 5 == 0) None else Some(i % 2),         // gender with nulls
      Some(i % 3))                                   // location
  }.toDF("slide_name", "label", "age", "gender", "location")

  /** Injected tile scores: 3 tiles per slide; even-label slides score high.
    * The pipeline should then separate classes almost perfectly.
    */
  private def tileScores(meta: org.apache.spark.sql.DataFrame) =
    meta.select("slide_name", "label")
      .withColumn("t", explode(array(lit(1), lit(2), lit(3))))
      .withColumn("score1",
        when(col("label") === 1, lit(0.8) + col("t") * 0.01)
          .otherwise(lit(0.2) - col("t") * 0.01))
      .select("slide_name", "score1")

  /** The unfused reference: mean fill, per-column mode fills, scale01,
    * bucketize, then folds and sets, each by its own operator.
    */
  private def sequential(meta: org.apache.spark.sql.DataFrame,
                         cfg: Experiment.Config) = {
    val a = cfg.ageCol
    val imputed = Impute.modeImpute(Impute.meanImpute(meta, Seq(a)), cfg.catCols)
    val encoded = Encode.bucketize(Encode.scale01(imputed, a, s"${a}_scaled"),
      a, Seq(30.0, 60.0), s"${a}_class")
    StratifiedFolds.assignSets(StratifiedFolds.assignRoundRobin(encoded,
        Seq(col(cfg.labelCol), col("lab")), cfg.nFolds, col(cfg.slideCol)),
        cfg.nVal, cfg.nTest)
      .select((meta.columns ++ Seq("fold", "set", s"${a}_scaled",
        s"${a}_class")).map(col): _*)
  }

  test("ingest unions cohorts with lab tags (A2/G1)") {
    val m = Experiment.ingest(Seq(cohort(10, 0), cohort(8, 100)))
    assert(m.count() == 18)
    assert(m.groupBy("lab").count().as[(Int, Long)].collect().toMap ==
      Map(0 -> 10L, 1 -> 8L))
  }

  test("prepare leaves no nulls, assigns folds/sets, adds encodings") {
    val prepared = Experiment.prepare(
      Experiment.ingest(Seq(cohort(40, 0), cohort(40, 100))),
      Experiment.Config())
    assert(prepared.filter(col("age").isNull || col("gender").isNull).count() == 0)
    assert(prepared.select("fold").distinct().count() == 5)
    assert(prepared.select("set").distinct().as[String].collect().toSet ==
      Set("train", "val", "test"))
    assert(prepared.columns.contains("age_scaled") && prepared.columns.contains("age_class"))
    // stratification balance: each fold carries both labels
    val perFold = prepared.groupBy("fold", "label").count().count()
    assert(perFold == 10, "5 folds x 2 labels must all be populated")
  }

  test("prepare's fused mode fill: reference tie rule, multi-column, all-null, fallback equality") {
    // ties toward the LOWEST value: g has 'a' and 'b' both at frequency 2
    val meta = Seq(
      ("s0", 0, Some(30.0), None,      Some(9)),
      ("s1", 1, Some(40.0), Some("b"), Some(7)),
      ("s2", 0, Some(50.0), Some("b"), None),
      ("s3", 1, Some(35.0), Some("a"), Some(7)),
      ("s4", 0, Some(45.0), Some("a"), Some(9)),
      ("s5", 1, None,       Some("b"), Some(7))
    ).toDF("slide_name", "label", "age", "g", "h")
    val cfg = Experiment.Config(catCols = Seq("g", "h"), nFolds = 2, nVal = 1, nTest = 0)
    val prepared = Experiment.prepare(Experiment.ingest(Seq(meta)), cfg)
    // g: b appears 3x (s1,s2,s5) vs a 2x -> mode "b";
    // h: 7 appears 3x (s1,s3,s5) vs 9 2x -> mode 7
    assert(prepared.filter(col("g").isNull || col("h").isNull).count() == 0)
    assert(prepared.filter(col("slide_name") === "s0").select("g").as[String].head() == "b")
    assert(prepared.filter(col("slide_name") === "s2").select("h").as[Int].head() == 7)
    // true tie case: two values at equal top frequency -> lowest wins
    val tie = Seq(
      ("t0", 0, Some(30.0), Some("b")), ("t1", 1, Some(40.0), Some("b")),
      ("t2", 0, Some(50.0), Some("a")), ("t3", 1, Some(35.0), Some("a")),
      ("t4", 0, Some(45.0), None),      ("t5", 1, Some(55.0), None)
    ).toDF("slide_name", "label", "age", "g")
    val tieCfg = Experiment.Config(catCols = Seq("g"), nFolds = 2, nVal = 1, nTest = 0)
    val tiePrep = Experiment.prepare(Experiment.ingest(Seq(tie)), tieCfg)
    assert(tiePrep.filter(col("g") === "a").count() == 4,
      "tie between a and b at frequency 2 must fill with the LOWEST value a")
    // an all-null categorical column yields the empty frame (modeImpute's
    // empty-cross-join semantics), even with a later fillable column
    val allNull = Seq(
      ("u0", 0, Some(30.0), Option.empty[String], Some("x")),
      ("u1", 1, Some(40.0), Option.empty[String], None)
    ).toDF("slide_name", "label", "age", "g", "h")
    assert(Experiment.prepare(Experiment.ingest(Seq(allNull)),
      Experiment.Config(catCols = Seq("g", "h"), nFolds = 2, nVal = 1, nTest = 0)).count() == 0)
    // the fused fill must equal the sequential impute→encode→folds
    // composition, including the degenerate configs: a repeated catCol,
    // and a catCol equal to the age column (with and without an all-null
    // age, which empties the frame on both paths)
    val noAge = tie.withColumn("age", lit(null).cast("double"))
    val inputs = Seq(meta -> Seq("g", "h"), tie -> Seq("g"),
      tie -> Seq("g", "g"), meta -> Seq("g", "age", "h"), noAge -> Seq("g", "age"))
    inputs.foreach { case (df, cats) =>
      val c = Experiment.Config(catCols = cats, nFolds = 2, nVal = 1, nTest = 0)
      val m = Experiment.ingest(Seq(df))
      val fused = Experiment.prepare(m, c).orderBy("slide_name").collect().toSeq
      val seq = sequential(m, c).orderBy("slide_name").collect().toSeq
      assert(fused == seq, s"catCols=$cats: fused $fused vs sequential $seq")
      assert(fused.isEmpty == (df eq noAge), s"catCols=$cats")
    }
  }

  test("prepare runs exactly one job: the stats collect plans no exchange") {
    // two cohorts over several input partitions, as the pipeline's
    // metadata arrives; the one job is prepare's eager stats collect
    val meta = Experiment.ingest(Seq(cohort(40, 0), cohort(40, 100)))
    assert(meta.rdd.getNumPartitions > 1)
    val group = "experiment-prepare"
    val jobs = new AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == group))
          jobs.incrementAndGet()
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "Experiment.prepare")
      try Experiment.prepare(meta, Experiment.Config())
      finally sc.clearJobGroup()
      ListenerBusAccess.drain(sc)
    } finally sc.removeSparkListener(listener)
    assert(jobs.get == 1, s"prepare ran ${jobs.get} jobs")
  }

  test("evaluate: separable injected scores give BA and AUROC ~ 1 per (fold,set)") {
    val meta = Experiment.ingest(Seq(cohort(40, 0), cohort(40, 100)))
    val prepared = Experiment.prepare(meta, Experiment.Config())
    val out = Experiment.evaluate(prepared, tileScores(meta), Experiment.Config())
      .select("fold", "set", "balanced_accuracy", "auroc")
      .as[(Int, String, Double, Double)].collect()
    // D2 maps each fold to exactly one set (functions_v2.py:104-117):
    // nVal=1 -> fold 0 val, nTest=2 -> folds 1-2 test, rest train
    assert(out.map(r => (r._1, r._2)).sorted.toSeq ==
      Seq((0, "val"), (1, "test"), (2, "test"), (3, "train"), (4, "train")))
    out.foreach { case (f, st, ba, au) =>
      assert(ba == 1.0 && au == 1.0, s"fold $f $st: ba=$ba auroc=$au")
    }
  }
}
