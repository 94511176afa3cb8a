package graft

import org.apache.spark.sql.DataFrame

/** Physical-plan assertions on the real sf0.001 tables: the plans that must
  * hold at 100 TB — filters pushed into the parquet scan, projections
  * pruned, small sides broadcast, aggregates partial+final, top-k without a
  * global sort — are pinned here so a regression in query shape fails CI,
  * not a cluster run.
  */
class PlanSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  private def plan(name: String): String = {
    val df: DataFrame = SparkEntry.queries(name)(spark, dir)
    df.queryExecution.executedPlan.toString
  }

  test("q03: dimension filter is pushed into the parquet scan") {
    val p = plan("q03_top_revenue")
    assert(p.contains("EqualTo(c_mktsegment,BUILDING)"),
      s"expected mktsegment pushdown:\n$p")
  }

  test("q03: customer joins as broadcast; top-k avoids a global sort") {
    val p = plan("q03_top_revenue")
    assert(p.contains("BroadcastHashJoin"), s"small dim must broadcast:\n$p")
    assert(p.contains("TakeOrderedAndProject"), s"LIMIT+ORDER BY must be top-k:\n$p")
  }

  test("q05: all four dimension tables broadcast (only facts shuffle)") {
    val p = plan("q05_revenue_by_nation")
    // the 4 hinted dims always broadcast; at tiny SF AQE may broadcast the
    // fact join too, hence >= not ==
    val broadcasts = "BroadcastHashJoin".r.findAllIn(p).size
    assert(broadcasts >= 4, s"expected >=4 broadcast joins, got $broadcasts:\n$p")
    val shuffles = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(shuffles <= 2, s"only the fact join + final agg may shuffle, got $shuffles:\n$p")
  }

  test("q02: projection pruning reaches the scan (ReadSchema is minimal)") {
    val p = plan("q02_filter_project")
    val read = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(!read.contains("l_comment") && !read.contains("l_shipinstruct"),
      s"unused wide columns must not be read:\n$read")
  }

  test("q01: aggregation is partial+final with whole-stage codegen") {
    val df = SparkEntry.queries("q01_pricing_summary")(spark, dir)
    val pre = df.queryExecution.executedPlan.toString
    assert(pre.contains("partial_sum"), s"expected map-side partial agg:\n$pre")
    df.collect()  // finalize the adaptive plan, which reveals codegen stages
    val post = df.queryExecution.executedPlan.toString
    // codegen stages print as "*(n) Operator" in the final adaptive plan;
    // scan->filter->project->partial-agg must share one codegen stage
    assert("""\*\(1\) HashAggregate""".r.findFirstIn(post).isDefined &&
      """\*\(1\) Filter""".r.findFirstIn(post).isDefined,
      s"scan-side pipeline must be one codegen stage:\n$post")
  }

  test("q44 exact dedup shuffles the 64-bit fingerprint, not the text") {
    val p = plan("q44_dedup_exact")
    // the exchange's hash key must be the xxhash group key, derived pre-shuffle
    assert(p.contains("Exchange hashpartitioning(text"),
      s"grouping key must drive the exchange:\n$p")
    assert("HashAggregate".r.findAllIn(p).size >= 2,
      s"partial agg must collapse duplicates map-side:\n$p")
  }

  test("q46 minhash: signature computation carries no shuffle before banding") {
    val df = SparkEntry.queries("q46_minhash_lsh")(spark, dir)
    val p = df.queryExecution.executedPlan.toString
    // signatures are per-row expressions; the only exchanges are the
    // band-bucket join, the repartition spread, and the final ordering
    assert(!p.contains("aggregate"), "no aggregate-based signature path")
  }

  test("q61 hourly windows: one shuffle for the windowed aggregation") {
    val p = plan("q61_hourly_windows")
    val shuffles = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(shuffles <= 2, s"window agg + distinct-user count, got $shuffles:\n$p")
  }

  test("q48 ANN top-k: broadcast query side + TakeOrderedAndProject") {
    val p = plan("q48_embedding_topk")
    assert(p.contains("TakeOrderedAndProject"), s"top-k plan required:\n$p")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      s"1-row query side must broadcast:\n$p")
  }

  test("q54 profile: one scan, pruned to exactly the profiled columns") {
    val p = plan("q54_profile")
    assert("FileScan|Scan parquet".r.findAllIn(p).length == 1,
      s"profile must be a single scan:\n$p")
    val read = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(!read.contains("l_comment") && !read.contains("l_shipdate"),
      s"profile must not read unprofiled columns:\n$read")
  }

  test("q4v chunking: zero exchanges — a pure generate over the scan") {
    val p = plan("q4v_doc_chunks")
    // the query's global orderBy adds the final range exchange for the
    // deterministic oracle; the chunking itself must add none on top
    val shuffles = "Exchange".r.findAllIn(p).length
    assert(shuffles <= 1, s"chunking must not shuffle (1 allowed for orderBy):\n$p")
  }

  test("no registered query plans an unpartitioned window") {
    // The scale-killer class this pin forbids: a Window with an EMPTY
    // partition spec funnels its whole input through one task. Every
    // deliberate bounded single-partition pass in the engine (metadata
    // slide ids, ≤shuffle.partitions offset tables, value-bounded metric
    // cumsums) partitions by a constant column instead, so an empty spec
    // can only mean an accidental global window — in ANY registered query.
    import org.apache.spark.sql.catalyst.plans.logical
    val offenders = SparkEntry.queries.toSeq.sortBy(_._1).flatMap {
      case (name, fn) =>
        val plan = fn(spark, dir).queryExecution.optimizedPlan
        plan.collect {
          case w: logical.Window if w.partitionSpec.isEmpty => name
        }
    }
    assert(offenders.isEmpty,
      s"queries with unpartitioned windows: ${offenders.distinct.mkString(", ")}")
  }

  test("q4h packing: running total is the bucketed distributed prefix-sum") {
    val p = plan("q4h_seq_packing")
    assert(p.contains("__psBkt"),
      s"packing must bucket the running total by the order-key value " +
        s"(PrefixSum's bucket column):\n$p")
  }

  test("q5f band-table probe: the corpus side reads bucketed, no exchange above it") {
    val p = plan("q5f_bandtable_probe")
    val scanLine = p.linesIterator.find(_.contains("graft_bands")).getOrElse("")
    assert(scanLine.nonEmpty, s"expected a band-table scan in the plan:\n$p")
    assert(p.contains("Bucketed: true") || scanLine.contains("SelectedBucketsCount"),
      s"the persisted band side must be a bucketed read (no shuffle to join):\n$p")
  }

  Seq("q36_pipeline_e2e", "q5h_fusion_pipeline").foreach { name =>
    test(s"$name: one exchange, the roll-up's; the slide-level tail plans none") {
      val p = plan(name)
      val lines = p.linesIterator.toIndexedSeq
      val hash = lines.indices.filter(i => lines(i).contains("Exchange hashpartitioning"))
      assert(hash.size == 1, s"expected only the roll-up's exchange:\n$p")
      assert(!p.contains("rangepartitioning") && !p.contains("Exchange SinglePartition"),
        s"the slide-level tail must not exchange:\n$p")
      // the exchange's child is the roll-up's partial aggregate, so the
      // tile stage below it stays parallel
      val child = lines(hash.head + 1)
      assert(child.contains("HashAggregate") && child.contains("partial_avg"),
        s"the roll-up's partial aggregate must sit below its exchange:\n$p")
    }
  }

  test("q4t incremental dedup: anti-join probes fingerprints, not text") {
    val p = plan("q4t_incremental_dedup")
    assert(p.contains("LeftAnti"), s"anti-join required:\n$p")
    val anti = p.linesIterator.find(_.contains("LeftAnti")).getOrElse("")
    assert(!anti.contains("text#"),
      s"anti-join keys must be 64-bit fingerprints, not text:\n$anti")
  }
}
