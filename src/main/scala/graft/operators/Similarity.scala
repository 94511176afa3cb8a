package graft.operators

import graft.expressions.VecExpressions.vecDot
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Approximate-nearest-neighbor search over an embedding column
  * (`ARRAY<FLOAT>`): brute-force cosine top-k as the exact baseline, and a
  * sign-random-projection LSH variant as the scale path.
  *
  * Scale design: the corpus is scanned once (brute force) or pre-bucketed
  * on hyperplane-sign keys so each query probes only its bucket (LSH). The
  * bucketed variants leave the probe join UNHINTED: Catalyst broadcasts a
  * small query batch automatically (and AQE re-plans a post-shuffle
  * broadcast at runtime), while a million-row query batch shuffle-joins on
  * the bucket key instead of OOMing the driver — results are identical
  * either way (pinned by SimilaritySpec under autoBroadcastJoinThreshold
  * = -1). Dot products use the native codegen'd
  * [[graft.expressions.VecDot]] kernel (no UDF, no interpreted lambda), and
  * every pairwise path precomputes per-vector norms once so the per-pair
  * work is a single dot product.
  */
object Similarity {

  def dot(a: Column, b: Column): Column = vecDot(a, b)

  def norm(a: Column): Column = sqrt(dot(a, a))

  /** Cosine similarity; NULL (not an ANSI divide error) when either vector
    * has zero norm — cosine is undefined there.
    */
  def cosine(a: Column, b: Column): Column = {
    val denom = norm(a) * norm(b)
    when(denom > 0, dot(a, b) / denom)
  }

  /** Exact top-k by cosine similarity against one query row.
    * `query` must be a 1-row DataFrame with an `embedding` column; it is
    * broadcast, so the corpus-side plan is a single scan + local top-k
    * (TakeOrderedAndProject — no full sort).
    */
  def bruteForceTopK(corpus: DataFrame, id: String, query: DataFrame,
                     k: Int): DataFrame = {
    // zero-norm rows (cosine undefined) are excluded up front: under ANSI
    // mode the division would not yield NaN but RAISE, killing the job
    val q = query.select(col("embedding").as("__q"))
      .filter(norm(col("__q")) > 0)
    corpus.filter(norm(col("embedding")) > 0).crossJoin(broadcast(q))
      .withColumn("cos", cosine(col("embedding"), col("__q")))
      .select(col(id), col("cos"))
      .orderBy(col("cos").desc, col(id))
      .limit(k)
  }

  /** Deterministic pseudo-random hyperplanes: component j of plane p is a
    * hash-derived value in [-0.5, 0.5). Fixed by (seed, p, j) — no RNG, so
    * signatures are reproducible across runs and engines.
    */
  private def planeComponent(p: Int, j: Column, seed: Long): Column =
    (pmod(xxhash64(lit(p), j, lit(seed)), lit(1000000L)).cast("double")
      / 1000000.0) - 0.5

  /** Sign-random-projection signature: bit p = sign(v · plane_p), via the
    * native codegen'd [[graft.expressions.SrpSignature]] kernel (cached
    * plane table + primitive multiply-accumulate inside whole-stage
    * codegen). Bit-identical to [[srpSignatureExpr]] (pinned by
    * SimilaritySpec).
    */
  def srpSignature(v: Column, planes: Int, seed: Long = 42L): Column =
    graft.expressions.SrpExpressions.srpSig(v, planes, seed)

  /** Composable-expression form of [[srpSignature]] (`zip_with` +
    * `aggregate` lambdas — interpreted, O(planes × dim) re-hashing per row).
    * Kept as the executable spec the native kernel is pinned against; not
    * used in any hot path.
    */
  def srpSignatureExpr(v: Column, planes: Int, seed: Long = 42L): Column =
    (0 until planes).map { p =>
      val proj = aggregate(
        zip_with(v, sequence(lit(0), size(v) - 1),
          (x, j) => x.cast("double") * planeComponent(p, j, seed)),
        lit(0.0), (acc, x) => acc + x)
      when(proj >= 0, shiftleft(lit(1L), p)).otherwise(lit(0L))
    }.reduce(_.bitwiseOR(_))

  /** LSH-bucketed ANN: bucket corpus and queries by SRP signature; each
    * query multiprobes every bucket within Hamming distance `probeHamming`
    * of its own signature (0 = exact bucket only). Near neighbors that
    * disagree on one hyperplane sign land one bit away, so probeHamming=1
    * (the default) recovers most of the recall that exact-bucket probing
    * loses, at (planes+1)× query-side fan-out — corpus-side work is still
    * the probed cells only. Returns per-query top-k within probed buckets
    * as an UNORDERED row set (sort on `cos` downstream if rank order
    * matters — the bounded-heap operator does not emit in rank order).
    */
  def lshTopK(corpus: DataFrame, corpusId: String,
              queries: DataFrame, queryId: String,
              k: Int, planes: Int = 8, seed: Long = 42L,
              probeHamming: Int = 1): DataFrame = {
    val c = corpus.select(col(corpusId).as("__cid"), col("embedding").as("__ce"))
      .withColumn("__bucket", srpSignature(col("__ce"), planes, seed))
      .withColumn("__cn", norm(col("__ce")))
      // cosine undefined for zero-norm vectors; ANSI division would raise
      .filter(col("__cn") > 0)
    // XOR masks for all buckets within the probe radius. probeHamming >=
    // planes enumerates ALL 2^planes buckets — exhaustive probing, so
    // results are exactly brute-force top-k (the oracle twin q4k exploits
    // this); radius 2..planes-1 is kept at the radius-2 mask set (beyond
    // that the fan-out outweighs the pruning).
    require(probeHamming < planes || planes <= 16,
      s"exhaustive probe (probeHamming >= planes) needs planes <= 16, got $planes")
    val masks: Seq[Long] = probeHamming match {
      case 0 => Seq(0L)
      case 1 => 0L +: (0 until planes).map(p => 1L << p)
      case h if h >= planes => 0L until (1L << planes)
      case _ => (0L +: (0 until planes).map(p => 1L << p)) ++
        (for (i <- 0 until planes; j <- i + 1 until planes)
          yield (1L << i) | (1L << j))
    }
    val q = queries.select(col(queryId).as("__qid"), col("embedding").as("__qe"))
      .withColumn("__b0", srpSignature(col("__qe"), planes, seed))
      .withColumn("__bucket",
        explode(array(masks.map(m => col("__b0").bitwiseXOR(lit(m))): _*)))
      .drop("__b0")
      .withColumn("__qn", norm(col("__qe")))
      .filter(col("__qn") > 0)
    // per-query top-k via the bounded-heap GroupedTopK physical operator
    // (O(candidates log k) per query, no per-group sort buffer): at scale
    // the probed-candidate set per query is large and a window row_number
    // would sort all of it just to keep k. order = (-cos, cid) gives the
    // same total order as (cos DESC, cid ASC) — cosines are always real
    // here because zero-norm rows were filtered above (pinned by
    // SimilaritySpec).
    //
    // The probe join is deliberately UNHINTED: a forced broadcast(q) would
    // ship every query embedding × (masks.size) fan-out to every executor —
    // a driver/executor OOM when the query batch is itself table-sized.
    // Catalyst broadcasts small batches on its own (stats), AQE converts a
    // post-shuffle small side at runtime, and a genuinely large batch falls
    // back to a shuffle join on __bucket with identical results.
    val scored = c.join(q, Seq("__bucket"))
      .withColumn("cos", dot(col("__ce"), col("__qe")) / (col("__cn") * col("__qn")))
    graft.plans.GroupedTopK.perGroup(scored, Seq(col("__qid")),
        struct(-col("cos"), col("__cid")), k)
      .select(col("__qid").as(queryId), col("__cid").as(corpusId), col("cos"))
  }

  /** IVF (inverted-file) ANN: a KMeans coarse quantizer partitions the
    * corpus into `nCentroids` cells; each query probes only its `nProbe`
    * nearest cells and ranks by exact cosine inside them.
    *
    * The scale path beyond SRP-LSH: cell assignment is one pass, the
    * centroid table is tiny (broadcast), and the probe join fans each query
    * out to nProbe cells — corpus-side work is |corpus|·nProbe/nCentroids
    * per query instead of |corpus|. Recall is tunable via nProbe. Returns
    * an UNORDERED top-k row set (sort on `cos` downstream if rank order
    * matters).
    */
  def ivfTopK(corpus: DataFrame, corpusId: String,
              queries: DataFrame, queryId: String,
              k: Int, nCentroids: Int = 16, nProbe: Int = 4,
              seed: Long = 42L, fitSampleCap: Int = 0): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._

    val c = corpus.select(col(corpusId).as("__cid"), col("embedding").as("__ce"))
    // The coarse quantizer only needs a representative sample: iterating
    // Lloyd over the full corpus is O(iters × |corpus|) — the scale-killer
    // at 100 TB. Instead the bounded sample is COLLECTED (cap rows ≈ 1 MB,
    // a documented bounded read, like FAISS training an IVF quantizer
    // in-process on 30-256 points/centroid) and Lloyd runs DRIVER-LOCAL:
    // the fit costs ONE Spark job (the sample scan) instead of an
    // init + per-iteration job cascade, which dominated this operator's
    // latency (~15 scheduler round-trips for 4000 sample rows). Cell
    // assignment — and therefore search results — is exact for whatever
    // centroids come out; the sample only moves centroid positions
    // (recall is tuned by nProbe, pinned by RecallSpec/SimilaritySpec).
    // cap 0 = auto: ~200 sample points per centroid is ample.
    // Sampling is COUNT-FREE (no extra driver-side scan job): a seeded
    // per-partition RESERVOIR of ceil(cap/numPartitions) rows — one pass
    // over the embedding column, UNBIASED within each partition (a plain
    // first-N take would over-represent the head of sorted/clustered
    // layouts and collapse the centroids onto one data region), spanning
    // all partitions, with a driver-side trim to cap.
    val cap = if (fitSampleCap > 0) fitSampleCap
              else math.max(200 * nCentroids, 4000)
    val sample = reservoirSample(
      c.select(col("__ce").cast("array<double>")), cap, seed)
    if (sample.isEmpty) // empty corpus: empty result with the right schema
      return queries.select(col(queryId)).limit(0)
        .crossJoin(corpus.select(col(corpusId)).limit(0))
        .withColumn("cos", lit(0.0))
    val centers = localLloyd(sample, nCentroids, seed, iters = 20)
    // per-row nearest-centroid assignment as ONE codegen'd expression that
    // loops over the centroid matrix held as a reference object — no
    // per-row UDF, no nCentroids× row blowup, no shuffle, and O(1) code
    // size in the centroid count: cell = argmin_i (|c_i|² − 2·e·c_i),
    // ties to the lowest cell id. (The earlier unrolled form — one
    // VecDot-vs-literal column per centroid + least + a when-chain — blew
    // Janino's 64 KB method limit at 64 centroids × 64 dims and silently
    // dropped the whole stage to interpreted evaluation: measured 2.1 s vs
    // 0.35 s for the same probe at 10×.)
    val assigned = c.select(col("__cid"), col("__ce"),
        graft.expressions.VecExpressions
          .nearestCentroidCell(col("__ce"), centers.map(_.toSeq).toSeq)
          .as("__cell"),
        norm(col("__ce")).as("__cn"))
      .filter(col("__cn") > 0) // cosine undefined; ANSI division would raise

    val centroids = centers.zipWithIndex
      .map { case (v, i) => (i, v) }.toSeq
      .toDF("__cell", "__centroid")

    // probe assignment: rank centroids per query by L2 distance, keep the
    // nProbe nearest — bounded-heap GroupedTopK instead of a window sort
    // (queries can be millions of rows; centroid fan-out is nCentroids×)
    val qWithDist = queries
      .select(col(queryId).as("__qid"), col("embedding").as("__qe"))
      .crossJoin(broadcast(centroids))
      .withColumn("__d2",
        dot(col("__centroid"), col("__centroid"))
          - lit(2.0) * dot(col("__qe"), col("__centroid")))
    val probes = graft.plans.GroupedTopK.perGroup(qWithDist,
        Seq(col("__qid")), struct(col("__d2"), col("__cell")), nProbe)
      .select(col("__qid"), col("__qe"), col("__cell"),
        norm(col("__qe")).as("__qn"))
      .filter(col("__qn") > 0)

    // in-cell ranking: same bounded-heap top-k as lshTopK. Unhinted for the
    // same reason as lshTopK's probe join: `probes` carries nProbe copies of
    // every query embedding — broadcast-sized only when the query batch is;
    // the planner/AQE broadcasts small batches and shuffle-joins large ones.
    val scored = assigned.join(probes, Seq("__cell"))
      .withColumn("cos", dot(col("__ce"), col("__qe")) / (col("__cn") * col("__qn")))
    graft.plans.GroupedTopK.perGroup(scored, Seq(col("__qid")),
        struct(-col("cos"), col("__cid")), k)
      .select(col("__qid").as(queryId), col("__cid").as(corpusId), col("cos"))
  }

  /** Seeded per-partition reservoir over a single ARRAY<DOUBLE> column —
    * the bounded, count-free fit sample shared by the IVF quantizer and
    * the PQ codebook fit (see ivfTopK's sampling comment: one pass,
    * unbiased within each partition, spanning all partitions, driver-side
    * trim to cap). Deterministic for a given (files, partitioning, seed).
    */
  private[graft] def reservoirSample(vecs: DataFrame, cap: Int,
                                     seed: Long): Array[Array[Double]] = {
    val parts = math.max(1, vecs.rdd.getNumPartitions)
    val perPart = ((cap + parts - 1) / parts).toInt
    val seedLocal = seed
    vecs.rdd.mapPartitionsWithIndex { (pid, it) =>
      val rnd = new java.util.Random(seedLocal * 1315423911L + pid)
      val buf = new Array[Array[Double]](perPart)
      var n = 0L
      it.foreach { row =>
        val v = row.getSeq[Double](0).toArray
        if (n < perPart) buf(n.toInt) = v
        else {
          val j = (rnd.nextDouble() * (n + 1)).toLong
          if (j < perPart) buf(j.toInt) = v
        }
        n += 1
      }
      buf.iterator.take(math.min(n, perPart.toLong).toInt)
    }.collect().take(cap)
  }

  /** Fit product-quantization codebooks (Jégou et al. 2011): split the
    * embedding into `m` contiguous subspaces and run the same driver-local
    * Lloyd as the IVF quantizer on each subspace of ONE bounded reservoir
    * sample — one Spark job total, deterministic for a given (corpus,
    * seed). Returns codebooks(m)(codebookSize)(dim/m).
    */
  def fitPq(corpus: DataFrame, m: Int = 4, codebookSize: Int = 16,
            seed: Long = 42L, fitSampleCap: Int = 4000): Seq[Seq[Seq[Double]]] = {
    require(m > 0 && codebookSize > 1, s"bad PQ geometry: m=$m k=$codebookSize")
    val sample = reservoirSample(
      corpus.select(col("embedding").cast("array<double>")),
      fitSampleCap, seed)
    require(sample.nonEmpty, "PQ fit needs a non-empty corpus")
    val dim = sample.head.length
    require(dim % m == 0, s"dim $dim not divisible into $m subspaces")
    val ds = dim / m
    (0 until m).map { j =>
      val sub = sample.map(v => java.util.Arrays.copyOfRange(v, j * ds, (j + 1) * ds))
      localLloyd(sub, codebookSize, seed + j, iters = 20)
        .map(_.toSeq).toSeq
    }
  }

  /** PQ/ADC top-k (the FAISS scale path beyond IVF): the corpus is
    * ENCODED once — m small ints per vector, a ~(m/dim·32)× compression
    * of the scan footprint — by the fused fixed-point argmin kernel, and
    * each (query, candidate) score is the exact integer ADC total (see
    * [[graft.expressions.PqKernel]]). Query batch broadcasts into a
    * nested-loop join (it is tiny by contract — the brute/IVF shape);
    * per-query top-k via the bounded-heap GroupedTopK, ties (dist, then
    * corpus id) — a total order the q5y oracle replays row-for-row.
    * Distances are fixed-point nano-unit squared-L2 sums — integer,
    * order-free, bit-replayable — which is what makes an APPROXIMATE
    * index exactly testable: the approximation lives in the codebook,
    * not in any float nondeterminism.
    */
  def pqTopK(corpus: DataFrame, corpusId: String,
             queries: DataFrame, queryId: String,
             k: Int, codebooks: Seq[Seq[Seq[Double]]]): DataFrame = {
    // null-drops ride Generates (explodeNonNull) so each kernel runs
    // ONCE per row — a Filter here gets pushed below the projection
    // with the kernel inlined into the predicate (2× the encode per
    // corpus row, 2× the ADC distance per scored pair)
    val enc = corpus.select(col(corpusId).as("__cid"),
        graft.functions.KernelOps.explodeNonNull(
          graft.expressions.PqEncode(col("embedding"), codebooks))
          .as("__codes"))
    val q = queries.select(col(queryId).as("__qid"),
      col("embedding").as("__qe"))
    val scored = enc.crossJoin(broadcast(q))
      .select(col("*"), graft.functions.KernelOps.explodeNonNull(
        graft.expressions.PqAdcDist(col("__codes"), col("__qe"), codebooks))
        .as("__dist"))
    graft.plans.GroupedTopK.perGroup(scored, Seq(col("__qid")),
        struct(col("__dist"), col("__cid")), k)
      .select(col("__qid").as(queryId), col("__cid").as(corpusId),
        col("__dist").as("dist"))
  }

  /** Fit an IVF-PQ index (Jégou et al. 2011 §IV — the FAISS IVFADC
    * production shape): ONE bounded reservoir sample feeds both halves —
    * the coarse quantizer is Lloyd on the full vectors, then every
    * sample point is assigned to its coarse cell by the kernel's exact
    * fixed-point argmin ([[graft.expressions.PqKernel.nearestCellLocal]]
    * — fit-time assignment must replay the search-time rule or the
    * codebooks train against a different sample partition than the one
    * search encodes), and per-subspace Lloyd runs on the RESIDUALS
    * (point − its coarse centroid). One Spark job total, deterministic
    * for a given (corpus, seed). Returns (coarse cells, residual
    * codebooks(m)(codebookSize)(dim/m)).
    */
  def fitIvfPq(corpus: DataFrame, nCentroids: Int = 8, m: Int = 4,
               codebookSize: Int = 16, seed: Long = 42L,
               fitSampleCap: Int = 4000)
      : (Seq[Seq[Double]], Seq[Seq[Seq[Double]]]) = {
    require(nCentroids > 1 && m > 0 && codebookSize > 1,
      s"bad IVF-PQ geometry: nCentroids=$nCentroids m=$m k=$codebookSize")
    val sample = reservoirSample(
      corpus.select(col("embedding").cast("array<double>")),
      fitSampleCap, seed)
    require(sample.nonEmpty, "IVF-PQ fit needs a non-empty corpus")
    val dim = sample.head.length
    require(dim % m == 0, s"dim $dim not divisible into $m subspaces")
    val ds = dim / m
    val coarse = localLloyd(sample, nCentroids, seed, iters = 20)
    val residuals = sample.map { v =>
      val cc = coarse(graft.expressions.PqKernel.nearestCellLocal(v, coarse))
      val r = new Array[Double](dim)
      var i = 0
      while (i < dim) { r(i) = v(i) - cc(i); i += 1 }
      r
    }
    val codebooks = (0 until m).map { j =>
      val sub = residuals.map(v =>
        java.util.Arrays.copyOfRange(v, j * ds, (j + 1) * ds))
      localLloyd(sub, codebookSize, seed + 31 + j, iters = 20)
        .map(_.toSeq).toSeq
    }
    (coarse.map(_.toSeq).toSeq, codebooks)
  }

  /** IVF-PQ/ADC top-k (FAISS IVFADC): the corpus is encoded ONCE to a
    * coarse cell + m residual codes by the fused [[graft.expressions
    * .IvfPqEncode]] kernel (the residual folds into each candidate's
    * distance chain — no per-row residual array); queries rank the
    * coarse cells by the same fixed-point grid ([[graft.expressions
    * .FpSqDist]] against the broadcast centroid table) and probe the
    * `nProbe` nearest; scoring joins probes to the encoded corpus on
    * the CELL equi-key — at nProbe < nCentroids the corpus-side scan
    * prunes to the probed cells' rows — with the exact integer residual
    * ADC total, then bounded-heap top-k on (dist, id).
    *
    * Everything — cell assignment ties, probe ranking, ADC sums, top-k
    * order — is integer on the nano-unit grid, so the WHOLE index
    * replays row-for-row in SQL at its APPROXIMATE operating point
    * (q6h embeds the fitted coarse/codebooks as literals): the
    * approximation lives in the codebooks and the probe set, not in
    * any float nondeterminism.
    *
    * Scale shape: encode is a pure projection (5 small ints per
    * vector); the probe side is |queries| × nProbe rows — broadcast by
    * the planner when the batch is small, shuffle-joined on the cell
    * key when it is not; the corpus never shuffles. Returns an
    * UNORDERED row set — sort downstream if rank order matters.
    */
  def ivfPqTopK(corpus: DataFrame, corpusId: String,
                queries: DataFrame, queryId: String,
                k: Int, nProbe: Int,
                coarse: Seq[Seq[Double]],
                codebooks: Seq[Seq[Seq[Double]]]): DataFrame = {
    require(nProbe > 0 && nProbe <= coarse.size,
      s"bad probe count: nProbe=$nProbe of ${coarse.size} cells")
    val spark = corpus.sparkSession
    import spark.implicits._
    // null-drop rides a Generate (explodeNonNull): the corpus-sized
    // encode kernel runs ONCE per row — a Filter here is pushed below
    // the projection with the kernel inlined into the predicate
    val enc0 = corpus.select(col(corpusId).as("__cid"),
        graft.functions.KernelOps.explodeNonNull(
          graft.expressions.IvfPqEncode(col("embedding"), coarse, codebooks))
          .as("__s"))
    val enc = enc0.select(col("__cid"),
      col("__s").getField("cell").as("__cell"),
      col("__s").getField("codes").as("__codes"))
    val centroids = coarse.zipWithIndex
      .map { case (v, i) => (i, v) }.toSeq
      .toDF("__pcell", "__centroid")
    val qd = queries
      .select(col(queryId).as("__qid"), col("embedding").as("__qe"))
      .crossJoin(broadcast(centroids))
      .select(col("*"), graft.functions.KernelOps.explodeNonNull(
        graft.expressions.FpSqDist(col("__qe"), col("__centroid")))
        .as("__d"))
    val probes = graft.plans.GroupedTopK.perGroup(qd,
        Seq(col("__qid")), struct(col("__d"), col("__pcell")), nProbe)
      .select(col("__qid"), col("__qe"), col("__pcell").as("__cell"))
    val scored = enc.join(probes, Seq("__cell"))
      .select(col("*"), graft.functions.KernelOps.explodeNonNull(
        graft.expressions.IvfPqAdcDist(col("__codes"), col("__qe"),
          col("__cell"), coarse, codebooks))
        .as("__dist"))
    graft.plans.GroupedTopK.perGroup(scored, Seq(col("__qid")),
        struct(col("__dist"), col("__cid")), k)
      .select(col("__qid").as(queryId), col("__cid").as(corpusId),
        col("__dist").as("dist"))
  }

  /** Persist an IVF-PQ index (the FAISS index-on-disk shape, and the
    * band-table discipline applied to ANN): the corpus encodes ONCE —
    * (id, codes) PARTITIONED BY CELL, so a search touches only its
    * probed cells' directories — plus a model sidecar (coarse +
    * codebooks as one kind/index-tagged parquet + job-free meta.json).
    * At 100 TB the encode is the one corpus-sized job; every later
    * search reads a few small integer-coded directories.
    */
  def writeIvfPqIndex(corpus: DataFrame, corpusId: String, path: String,
                      coarse: Seq[Seq[Double]],
                      codebooks: Seq[Seq[Seq[Double]]]): Unit = {
    val spark = corpus.sparkSession
    import spark.implicits._
    corpus.select(col(corpusId).as("vec_id"),
        graft.functions.KernelOps.explodeNonNull(
          graft.expressions.IvfPqEncode(col("embedding"), coarse, codebooks))
          .as("__s"))
      .select(col("vec_id"), col("__s").getField("codes").as("codes"),
        col("__s").getField("cell").as("cell"))
      .write.partitionBy("cell").mode("overwrite")
      .parquet(s"$path/encoded")
    // the drift baseline ([[ivfPqDriftStats]]): exact integer sum of each
    // build vector's min coarse distance — a second corpus scan, but a
    // pure zero-shuffle projection + one bounded agg, paid once at build
    val st = corpus
      .select(minCoarseDist(col("embedding"), coarse).as("__d"))
      .agg(count(col("__d")).as("n"), sum(col("__d")).as("s"))
      .collect().head
    val (statN, statSum) =
      (st.getLong(0), if (st.getLong(0) == 0L) 0L else st.getLong(1))
    val rows =
      coarse.zipWithIndex.map { case (v, i) => (0, i, 0, v) } ++
      codebooks.zipWithIndex.flatMap { case (cb, j) =>
        cb.zipWithIndex.map { case (c, i) => (1, j, i, c) } }
    rows.toDF("kind", "i", "j", "v")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/model")
    val p = new org.apache.hadoop.fs.Path(s"$path/meta.json")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(p, true)
    try out.write(
      (s"""{"fmt": 1, "nCentroids": ${coarse.size}, """ +
        s""""m": ${codebooks.size}, "codebookSize": ${codebooks.head.size}, """ +
        s""""statN": $statN, "statSumNano": $statSum}""")
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
  }

  /** Min fixed-point coarse distance of an embedding to the centroid set
    * — a pure projection (the centroid table rides the expression as a
    * literal; no join, no shuffle): min_c Σ_i round(1e9·(e_i − c_i)²).
    * Null on geometry mismatch (every per-centroid term nulls out).
    */
  private def minCoarseDist(emb: Column, coarse: Seq[Seq[Double]]): Column =
    array_min(transform(
      typedlit(coarse.map(_.toIndexedSeq).toIndexedSeq),
      c => graft.expressions.FpSqDist(emb, c)))

  /** DRIFT stats — the refit contract that completes the frozen-model
    * append loop ([[appendIvfPqIndex]]): one row per source,
    * (src, n, sum_dist_nano), where `build` is the INDEXED corpus's stat
    * from the sidecar — written at build time and accumulated by every
    * append, so it describes base ∪ appended batches — and `batch` is
    * computed live
    * over the candidate batch — sum over vectors of the min fixed-point
    * coarse distance (how far the data sits from the frozen cells).
    * All-integer, so the q6s oracle replays BOTH rows from the raw
    * tables: a corrupted sidecar stat breaks the hash. The decision rule
    * is the caller's (e.g. refit when batch mean = sum/n exceeds the
    * build mean by some factor) — these are its exact, replayable
    * inputs. Batch cost is one zero-shuffle projection + a bounded agg,
    * independent of index and corpus size.
    */
  def ivfPqDriftStats(spark: org.apache.spark.sql.SparkSession,
                      path: String, batch: DataFrame): DataFrame = {
    import spark.implicits._
    val (coarse, _) = loadIvfPqModel(spark, path)
    val metaTxt = readIndexMeta(spark, path)
    def metaLong(k: String): Long =
      (s""""$k"\\s*:\\s*(\\d+)""").r.findFirstMatchIn(metaTxt)
        .getOrElse(throw new IllegalArgumentException(
          s"index at $path predates drift stats: no $k in meta")).group(1).toLong
    val st = batch
      .select(minCoarseDist(col("embedding"), coarse).as("__d"))
      // count(col) skips nulls — a .filter(isNotNull) would be pushed
      // below the projection with the distance chain inlined into the
      // predicate, computing it twice per row
      .agg(count(col("__d")).as("n"), sum(col("__d")).as("s"))
      .collect().head
    val (bn, bs) = (st.getLong(0), if (st.getLong(0) == 0L) 0L else st.getLong(1))
    Seq(("batch", bn, bs),
      ("build", metaLong("statN"), metaLong("statSumNano")))
      .toDF("src", "n", "sum_dist_nano")
  }

  /** INCREMENTAL append to a persisted IVF-PQ index — the
    * appendFingerprintTable/appendBandTable steady-state-ingest
    * discipline applied to ANN: encode ONLY the new batch with the SAVED
    * model (the sidecar is loaded first and its geometry enforced, so a
    * torn or foreign index refuses before any write) and append the
    * coded rows to the existing cell partitions. The corpus-sized encode
    * stays the one-time initial build ([[writeIvfPqIndex]]); each later
    * embedding batch costs one batch-sized codegen projection plus a
    * partitioned append, independent of how large the index already is.
    * append == rebuild row-for-row (q6q reuses q6h's from-scratch oracle
    * over a two-batch index; spec pins that existing files are never
    * touched). NOT idempotent under producer replay (parquet append) —
    * wrap in the caller's exactly-once machinery when batches can
    * replay. The model is FROZEN by construction: append while the data
    * distribution holds, rebuild ([[refitIvfPqIndex]]) on drift — recall
    * degradation of new batches against the fixed codebooks is the
    * drift signal.
    *
    * The sidecar's drift baseline (statN/statSumNano) ACCUMULATES the
    * batch's (count, min-coarse-distance sum), so
    * [[ivfPqDriftStats]]' `build` row keeps describing the corpus the
    * index actually serves, not just the initial build — a caller's
    * mean-ratio refit rule stays anchored to the served data. The meta
    * rewrite follows the data append and is ATOMIC
    * ([[graft.sources.JsonSidecar.write]] stages to a temp file and
    * renames over meta.json), so a crash mid-rewrite cannot leave a
    * torn sidecar that every loader refuses on — the worst crash
    * outcome is a baseline stale by exactly one batch; and — the SAME caller
    * contract as the data append itself — an unwrapped replay
    * double-counts (data twice, stat once more): wrap in exactly-once
    * machinery when batches can replay, or repair with
    * [[refitIvfPqIndex]] over the corpus you intend to serve (its
    * count guard will surface the duplicated rows first).
    */
  def appendIvfPqIndex(batch: DataFrame, id: String, path: String): Unit = {
    val spark = batch.sparkSession
    val (coarse, cbs) = loadIvfPqModel(spark, path)
    // read + validate the sidecar stat BEFORE any write, so a pre-stats
    // or torn index refuses with nothing appended
    val metaTxt = readIndexMeta(spark, path)
    def metaLong(k: String): Long =
      graft.sources.JsonSidecar.longField(metaTxt, k)
        .getOrElse(throw new IllegalArgumentException(
          s"index at $path predates drift stats: no $k in meta — rebuild " +
            "with writeIvfPqIndex before appending"))
    val (oldN, oldSum) = (metaLong("statN"), metaLong("statSumNano"))
    // ONE batch scan feeds both the encoded rows and the stat terms
    // (IvfPqEncode and the coarse term null out on the same geometry
    // mismatches, so the stat counts exactly the appended rows)
    val enc = batch.select(col(id).as("vec_id"),
        graft.functions.KernelOps.explodeKept(
          struct(
            graft.expressions.IvfPqEncode(col("embedding"), coarse, cbs)
              .as("s"),
            minCoarseDist(col("embedding"), coarse).as("d")),
          _.getField("s").isNotNull).as("__sd"))
      .select(col("vec_id"), col("__sd").getField("s").as("__s"),
        col("__sd").getField("d").as("__d"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      enc.select(col("vec_id"), col("__s").getField("codes").as("codes"),
          col("__s").getField("cell").as("cell"))
        .write.partitionBy("cell").mode("append")
        .parquet(s"$path/encoded")
      val st = enc.agg(count(lit(1)).as("n"), sum(col("__d")).as("s"))
        .collect().head
      val (bn, bs) = (st.getLong(0), if (st.getLong(0) == 0L) 0L else st.getLong(1))
      // REGENERATE the canonical meta from parsed values — a textual
      // .replace would silently no-op on a differently-spaced (but
      // valid) meta and freeze the stat with no error
      def geom(k: String): Long = graft.sources.JsonSidecar
        .longField(metaTxt, k)
        .getOrElse(throw new IllegalArgumentException(
          s"malformed IVF-PQ meta at $path: $metaTxt"))
      graft.sources.JsonSidecar.write(spark, s"$path/meta.json",
        s"""{"fmt": 1, "nCentroids": ${geom("nCentroids")}, """ +
          s""""m": ${geom("m")}, "codebookSize": ${geom("codebookSize")}, """ +
          s""""statN": ${oldN + bn}, "statSumNano": ${oldSum + bs}}""")
    } finally { enc.unpersist(); () }
  }

  /** REFIT-AND-SWAP — the action half of the drift contract
    * ([[ivfPqDriftStats]] tells the caller WHEN to refit; this is HOW):
    * rebuild the index over the served corpus with a FRESHLY FITTED
    * model, stage the new index completely beside the live root, then
    * swap directory names. Completes the frozen-model lifecycle
    * (build → append while the distribution holds → refit on drift).
    *
    * `corpus` must be the raw rows the live index serves (base build ∪
    * every appended batch — raw embeddings live in the caller's
    * storage; the index holds only codes, which do not decode).
    * Enforced with a count guard: the staged index must encode exactly
    * as many rows as the live one serves, or the refit refuses with
    * the live index untouched — the failure mode being caught is a
    * caller passing a subset/superset corpus, which would silently
    * shrink or grow the served set under a live search path.
    *
    * Swap discipline (the compactSemCellTable stage-rename-delete
    * pattern, directory-atomic form): the staged index is FULLY
    * materialized (encoded + model + sidecar) before the live root is
    * touched; then two directory renames — live→old, staged→live —
    * each atomic, swap it in, and the old index is deleted last. A
    * reader in any crash window therefore loads the OLD index
    * (consistent), the NEW index (consistent), or fails loudly on a
    * missing sidecar during the instant between the renames — never a
    * torn mix, because meta.json, model and encoded move together with
    * their directory (IvfPqSpec pins all three windows). A crash
    * leaves the staging or `.refit_old` directory behind — and, if it
    * hit the instant between the renames, an ABSENT root; re-running
    * the refit recovers every case (the between-renames orphan is
    * rolled forward from the fully-materialized staging, or rolled
    * back from `.refit_old` — whichever survived) and then refits.
    */
  def refitIvfPqIndex(corpus: DataFrame, id: String, path: String,
                      coarse: Seq[Seq[Double]],
                      codebooks: Seq[Seq[Seq[Double]]]): Unit = {
    val spark = corpus.sparkSession
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def hasMeta(p: String): Boolean =
      fs.exists(new org.apache.hadoop.fs.Path(s"$p/meta.json"))
    // crash recovery for the between-renames window (root renamed out,
    // staging not yet renamed in): roll FORWARD from the staged index if
    // it completed (it was fully materialized before any rename — meta
    // is its last write), else roll BACK the old one. Either way a live
    // index exists again before this refit proceeds.
    if (!hasMeta(path)) {
      val staging0 = new org.apache.hadoop.fs.Path(s"$path.refit_tmp")
      val old0 = new org.apache.hadoop.fs.Path(s"$path.refit_old")
      if (hasMeta(staging0.toString)) {
        require(fs.rename(staging0, root),
          s"crash recovery: roll-forward rename of $staging0 failed")
        fs.delete(old0, true)
      } else if (hasMeta(old0.toString)) {
        require(fs.rename(old0, root),
          s"crash recovery: roll-back rename of $old0 failed")
      }
    }
    require(hasMeta(path),
      s"no live index at $path to refit — writeIvfPqIndex does the " +
        "initial build")
    val oldCount = spark.read.parquet(s"$path/encoded").count()
    val staging = new org.apache.hadoop.fs.Path(s"$path.refit_tmp")
    fs.delete(staging, true)
    writeIvfPqIndex(corpus, id, staging.toString, coarse, codebooks)
    val newCount = spark.read.parquet(s"$staging/encoded").count()
    if (newCount != oldCount) {
      // delete the staging BEFORE refusing: a refused staging is fully
      // materialized (complete meta.json), and the crash-recovery path
      // above rolls any meta-complete .refit_tmp FORWARD whenever the
      // root goes missing — leaving it behind could later promote a
      // wrong-corpus index to serve (and leaks a corpus-sized directory)
      fs.delete(staging, true)
      throw new IllegalArgumentException(
        s"refit corpus mismatch: the live index at $path serves $oldCount " +
          s"vectors but the refit corpus encodes $newCount — pass exactly " +
          "the rows the index serves (base build plus every appended " +
          "batch); the live index is untouched")
    }
    val old = new org.apache.hadoop.fs.Path(s"$path.refit_old")
    fs.delete(old, true)
    require(fs.rename(root, old), s"swap-out rename of $path failed")
    require(fs.rename(staging, root), s"swap-in rename into $path failed " +
      s"— the previous index is preserved at $old")
    fs.delete(old, true)
  }

  /** COMPACTION for the persisted IVF-PQ index — the
    * [[graft.operators.Dedup.compactBucketedTable]]/[[compactSemCellTable]]
    * maintenance loop applied to the ANN axis, closing the index
    * lifecycle's last unbounded GROWTH: every [[appendIvfPqIndex]] lands
    * one more part file in each touched cell partition, so a long append
    * stream degrades the probed-cell scan into a many-small-files listing
    * even though the row volume stays bounded by the corpus. Folds the
    * encoded tree to ONE file per cell (each cell's rows hash to one
    * shuffle task); the model and meta.json — geometry and drift baseline
    * — are never touched, so a reader's already-loaded model stays valid
    * across the swap and the [[ivfPqDriftStats]] contract is unaffected.
    *
    * Unlike the GATE-state compactions, index rows are NOT
    * duplication-insensitive (a doubled code row occupies two top-k
    * slots and displaces the true k-th), so the gate tables'
    * old+combined crash window is unacceptable here and the file-level
    * rename-in-then-delete fold is ruled out. Instead the
    * [[refitIvfPqIndex]] directory-swap discipline scoped to the
    * `encoded` subtree: the compacted tree fully materializes BESIDE the
    * live one (`encoded.compact_tmp`; the committer's `_SUCCESS` marker
    * is its completeness witness), then two atomic renames —
    * encoded → encoded.compact_old, tmp → encoded — and a final delete.
    * A reader in any window sees the OLD tree (consistent), the NEW tree
    * (consistent, same row multiset), or fails loudly on the absent path
    * in the instant between the renames — never duplicated and never
    * silently-missing rows. Crash recovery at entry mirrors the refit:
    * an absent encoded root rolls FORWARD from a `_SUCCESS`-complete tmp
    * or BACK from compact_old, whichever survived. A footer-cheap row
    * count guard refuses a staging whose multiset size drifted from the
    * live read (the case it catches in practice: an append landing
    * between the fold's two jobs). SINGLE-MAINTAINER contract — the same
    * one [[refitIvfPqIndex]] states: an append landing between the
    * staging read and the swap would be discarded by the swap, so run
    * compaction from the serialized maintenance loop that owns appends
    * and refits.
    */
  def compactIvfPqIndex(spark: org.apache.spark.sql.SparkSession,
                        path: String): Unit = {
    val enc = new org.apache.hadoop.fs.Path(s"$path/encoded")
    val fs = enc.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val tmp = new org.apache.hadoop.fs.Path(s"$path/encoded.compact_tmp")
    val old = new org.apache.hadoop.fs.Path(s"$path/encoded.compact_old")
    // a torn or foreign index refuses before anything is touched (meta
    // geometry + model section sizes — the appendIvfPqIndex guard)
    loadIvfPqModel(spark, path)
    // crash recovery for the between-renames window (encoded renamed
    // out, tmp not yet renamed in): roll FORWARD from the staged tree if
    // it completed (_SUCCESS is the committer's last write), else roll
    // BACK the old one — a live encoded tree exists again before this
    // compaction proceeds
    if (!fs.exists(enc)) {
      if (fs.exists(new org.apache.hadoop.fs.Path(tmp, "_SUCCESS"))) {
        require(fs.rename(tmp, enc),
          s"crash recovery: roll-forward rename of $tmp failed")
        fs.delete(old, true)
      } else if (fs.exists(old)) {
        require(fs.rename(old, enc),
          s"crash recovery: roll-back rename of $old failed")
        fs.delete(tmp, true)
      }
    }
    require(fs.exists(enc),
      s"no encoded tree at $path — writeIvfPqIndex does the initial build")
    // already-compact fast path: every cell partition holds <= 1 data file
    val cellDirs = fs.listStatus(enc)
      .filter(st => st.isDirectory && st.getPath.getName.startsWith("cell="))
    def nDataFiles(p: org.apache.hadoop.fs.Path): Int =
      fs.listStatus(p).count(f => f.isFile && { val n = f.getPath.getName
        !n.startsWith("_") && !n.startsWith(".") })
    if (cellDirs.forall(cd => nDataFiles(cd.getPath) <= 1)) {
      // a crash after swap-in but before the final deletes can leave a
      // stale compact_old (a full duplicate of the index) — clear the
      // leftovers here too, or a no-op run would carry them forever
      fs.delete(tmp, true)
      fs.delete(old, true)
      return
    }
    fs.delete(tmp, true)
    fs.delete(old, true)
    // partition discovery restores `cell`; repartitioning ON the cell
    // value lands each cell's rows in exactly one task -> one file per
    // cell. Rows pass through verbatim — no dropDuplicates: a duplicated
    // vec_id here is a real double-append, surfaced by the refit count
    // guard, never silently healed into a different served multiset.
    val rows = spark.read.parquet(enc.toString)
    val n0 = rows.count()
    rows.repartition(col("cell"))
      .write.partitionBy("cell").mode("overwrite").parquet(tmp.toString)
    val n1 = spark.read.parquet(tmp.toString).count()
    if (n1 != n0) {
      fs.delete(tmp, true)
      throw new IllegalStateException(
        s"compaction row-count drift at $path: live encoded tree read $n0 " +
          s"rows but the staged fold holds $n1 — an append landed " +
          "mid-compaction (single-maintainer contract) or the fold was " +
          "torn; the live index is untouched")
    }
    require(fs.rename(enc, old), s"swap-out rename of $enc failed")
    require(fs.rename(tmp, enc), s"swap-in rename into $enc failed — the " +
      s"previous encoded tree is preserved at $old")
    fs.delete(old, true)
  }

  /** Load the (coarse, codebooks) sidecar written by [[writeIvfPqIndex]]
    * — rows re-sort to canonical order (bit-identical to the fitted
    * model); the sidecar's section sizes guard torn/foreign artifacts.
    */
  private def readIndexMeta(spark: org.apache.spark.sql.SparkSession,
                            path: String): String = {
    val p = new org.apache.hadoop.fs.Path(s"$path/meta.json")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    new String(org.apache.commons.io.IOUtils.toByteArray(fs.open(p)),
      java.nio.charset.StandardCharsets.UTF_8)
  }

  def loadIvfPqModel(spark: org.apache.spark.sql.SparkSession, path: String)
      : (Seq[Seq[Double]], Seq[Seq[Seq[Double]]]) = {
    val p = new org.apache.hadoop.fs.Path(s"$path/meta.json")
    val metaTxt = readIndexMeta(spark, path)
    def meta(k: String): Int =
      s""""$k"\\s*:\\s*(\\d+)""".r.findFirstMatchIn(metaTxt)
        .getOrElse(throw new IllegalArgumentException(
          s"malformed IVF-PQ meta at $p: $metaTxt")).group(1).toInt
    val (nc, m, cs) = (meta("nCentroids"), meta("m"), meta("codebookSize"))
    val rows = spark.read.parquet(s"$path/model").collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getInt(2),
        r.getSeq[Double](3).toIndexedSeq))
      .sortBy(t => (t._1, t._2, t._3))
    val (cRows, bRows) = rows.partition(_._1 == 0)
    require(cRows.length == nc && bRows.length == m * cs,
      s"torn IVF-PQ artifact at $path: ${cRows.length}/${bRows.length} " +
        s"rows vs meta $nc/${m * cs}")
    val coarse = cRows.map(_._4).toIndexedSeq
    val cbs = (0 until m).map(j =>
      bRows.filter(_._2 == j).sortBy(_._3).map(_._4).toIndexedSeq)
    (coarse, cbs)
  }

  /** IVF-PQ search OVER THE PERSISTED INDEX — result rows are identical
    * to [[ivfPqTopK]] on the same corpus/model (spec-pinned; the q6n
    * oracle replays the from-scratch computation, so index corruption
    * breaks the hash), but the corpus side reads only the PROBED CELLS'
    * partition directories: the probe ranking runs ONCE — its
    * (query, cell) pairs are a small bounded driver read by the serving
    * contract (≤ |queries| × nProbe rows) whose distinct cells become
    * the `isin` partition filter and whose rows re-enter the scored join
    * as a local relation — so the scan prunes to nProbe-ish directories
    * of m-int codes and the steady-state search cost is independent of
    * how many raw embeddings exist. The returned plan carries no coarse
    * distance computation (spec-pinned): FpSqDist lives only in the
    * probe job.
    */
  def ivfPqTopKFromIndex(spark: org.apache.spark.sql.SparkSession,
                         path: String, queries: DataFrame, queryId: String,
                         k: Int, nProbe: Int,
                         maxProbeRows: Int = 1 << 22): DataFrame = {
    import spark.implicits._
    val (coarse, cbs) = loadIvfPqModel(spark, path)
    require(nProbe > 0 && nProbe <= coarse.size,
      s"bad probe count: nProbe=$nProbe of ${coarse.size} cells")
    require(maxProbeRows > 0, s"bad probe-row cap: $maxProbeRows")
    val centroids = coarse.zipWithIndex
      .map { case (v, i) => (i, v) }.toDF("__pcell", "__centroid")
    val qd = queries
      .select(col(queryId).as("__qid"), col("embedding").as("__qe"))
      .crossJoin(broadcast(centroids))
      .select(col("*"), graft.functions.KernelOps.explodeNonNull(
        graft.expressions.FpSqDist(col("__qe"), col("__centroid")))
        .as("__d"))
    // ONE probe job (r12: this GroupedTopK used to run twice — once for
    // the distinct-cell collect, again inside the scored join): the
    // (query, cell) pairs land on the driver — |queries| × nProbe rows,
    // bounded because a serving batch is small by the same contract that
    // already bounded the distinct-cell read; the corpus side is what
    // scales — and serve BOTH the partition-pruning filter and, as a
    // local relation re-joined to the query embeddings, the scored join.
    val probeFrame = graft.plans.GroupedTopK.perGroup(qd,
        Seq(col("__qid")), struct(col("__d"), col("__pcell")), nProbe)
      .select(col("__qid"), col("__pcell").as("__cell"))
    // the "bounded serving batch" contract, ENFORCED: collect at most
    // cap+1 rows (CollectLimit — no extra job) and fail loudly when the
    // query frame exceeds it, instead of silently scaling driver memory
    // with an oversized batch. Callers with a genuinely larger serving
    // batch raise the cap explicitly (each row is ~12 bytes) or split
    // the batch.
    // the +1 sentinel detects overflow of the cap; clamp so a caller
    // raising the cap to Int.MaxValue doesn't wrap limit() negative
    val lim = if (maxProbeRows == Int.MaxValue) Int.MaxValue
      else maxProbeRows + 1
    val probeRows = probeFrame.limit(lim).collect()
    require(probeRows.length <= maxProbeRows,
      s"serving batch too large: > $maxProbeRows (query, cell) probe rows " +
        s"(|queries| × nProbe=$nProbe) would be collected to the driver — " +
        "split the query batch or raise maxProbeRows explicitly")
    val cells = probeRows.map(_.getInt(1)).distinct.toSeq
    val probes = spark.createDataFrame(
        java.util.Arrays.asList(probeRows: _*), probeFrame.schema)
      .join(queries.select(col(queryId).as("__qid"),
        col("embedding").as("__qe")), Seq("__qid"))
    val enc = spark.read.parquet(s"$path/encoded")
      .filter(col("cell").isin(cells: _*))
      .select(col("vec_id").as("__cid"), col("codes").as("__codes"),
        col("cell").cast("int").as("__cell"))
    val scored = enc.join(probes, Seq("__cell"))
      .select(col("*"), graft.functions.KernelOps.explodeNonNull(
        graft.expressions.IvfPqAdcDist(col("__codes"), col("__qe"),
          col("__cell"), coarse, cbs))
        .as("__dist"))
    graft.plans.GroupedTopK.perGroup(scored, Seq(col("__qid")),
        struct(col("__dist"), col("__cid")), k)
      .select(col("__qid").as(queryId), col("__cid").as("vec_id"),
        col("__dist").as("dist"))
  }

  /** ANN quality metric — RECALL@k of the approximate IVF-PQ search
    * against the exact cosine top-k, per query: (query_id, n_hits) with
    * n_hits = |[[ivfPqTopK]](k, nProbe) ∩ exact top-k|. The evaluation
    * loop that pairs with [[ivfPqDriftStats]]: drift says the data moved
    * away from the frozen cells; recall says what that costs the search.
    * Exact side: cosine over the same [[dot]]/[[norm]] kernels, top-k by
    * (cos desc, id asc) through the bounded-heap GroupedTopK (zero-norm
    * rows excluded — cosine undefined); approximate side: the integer-
    * grid IVFADC search. n_hits is an exact integer, so the q6u oracle
    * replays both chains and the intersection row-for-row (the only
    * float surface is the exact side's rank-k cosine boundary — the q4d
    * precedent). Queries with zero norm emit no row.
    */
  def ivfPqRecallAtK(corpus: DataFrame, corpusId: String,
                     queries: DataFrame, queryId: String,
                     k: Int, nProbe: Int,
                     coarse: Seq[Seq[Double]],
                     codebooks: Seq[Seq[Seq[Double]]]): DataFrame = {
    val approx = ivfPqTopK(corpus, corpusId, queries, queryId,
        k, nProbe, coarse, codebooks)
      .select(col(queryId).as("__aqid"), col(corpusId).as("__acid"))
    val q = queries.select(col(queryId).as("__qid"),
        col("embedding").as("__qe"), norm(col("embedding")).as("__qn"))
      .filter(col("__qn") > 0)
    val c = corpus.select(col(corpusId).as("__cid"),
        col("embedding").as("__ce"), norm(col("embedding")).as("__cn"))
      .filter(col("__cn") > 0)
    val scored = c.crossJoin(broadcast(q))
      .select(col("__qid"), col("__cid"),
        (dot(col("__ce"), col("__qe")) / (col("__cn") * col("__qn")))
          .as("__cos"))
    val exact = graft.plans.GroupedTopK.perGroup(scored, Seq(col("__qid")),
      struct((-col("__cos")).as("negcos"), col("__cid")), k)
    val hits = exact.join(approx,
        col("__qid") === col("__aqid") && col("__cid") === col("__acid"),
        "left_semi")
      .groupBy(col("__qid")).agg(count(lit(1)).as("n_hits"))
    q.select(col("__qid")).join(hits, Seq("__qid"), "left")
      .select(col("__qid").as(queryId),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"))
  }

  /** Fit the SemDeDup cluster centroids (Abbas et al. 2023 §3: k-means
    * over the embeddings, dedup WITHIN each cluster) — the same bounded
    * reservoir + driver-local Lloyd as the IVF/PQ fits, deterministic
    * for a given (corpus, seed).
    */
  def fitSemDedupCentroids(corpus: DataFrame, nClusters: Int = 8,
                           seed: Long = 42L, fitSampleCap: Int = 4000)
      : Seq[Seq[Double]] = {
    require(nClusters > 1, s"bad cluster count: $nClusters")
    val sample = reservoirSample(
      corpus.select(col("embedding").cast("array<double>")),
      fitSampleCap, seed)
    require(sample.nonEmpty, "SemDeDup fit needs a non-empty corpus")
    localLloyd(sample, nClusters, seed, iters = 20).map(_.toSeq).toSeq
  }

  /** SemDeDup (Abbas et al. 2023 — the LAION/DataComp semantic-dedup
    * discipline): cluster the embeddings, and within each cluster drop
    * every document whose cosine to a LOWER-ID cluster-mate reaches the
    * threshold (the deterministic keep-one rule; the paper keeps an
    * arbitrary representative per duplicate group). Unlike
    * [[cosineNearDupes]] (SRP-banded, near-identical pairs), SemDeDup
    * targets semantic redundancy at much lower thresholds, with k-means
    * cells as the blocking structure — the published algorithm's shape.
    *
    * Returns one row per input document: (id, cell, kept). Exactness:
    * cell assignment is the fixed-point integer argmin ([[graft
    * .expressions.PqEncode]] with the centroid set as a single
    * full-vector subspace — ties to the lowest cell, the q5y contract),
    * and the pair test compares `round(cos, 6) >= threshold` (the q4z
    * round-before-compare discipline), so the kept set replays
    * row-for-row in SQL from the fitted centroid literals. Zero-norm
    * embeddings (cosine undefined) are always kept and never block
    * others.
    *
    * Scale shape: cell assignment + norm is a pure codegen projection
    * (recomputed per consumer, the [[Dedup.duplicatedWindows]] trade —
    * re-scanning a pruned projection beats materializing a corpus-wide
    * cache); the pair test is a cell EQUI-join (never corpus all-pairs —
    * within-cell quadratic cost is the algorithm's published trade,
    * tuned by nClusters, which the paper scales with the corpus) into a
    * distinct on the dropped id; survivors come from one left join back
    * on the id. No windows, no driver collects.
    */
  /** (id, embedding, cell, norm) with wrong-geometry (null-cell) rows
    * dropped and BOTH kernels evaluated once per row: the null-drop
    * rides a Generate over a packed struct
    * ([[graft.functions.KernelOps.explodeKept]]) — a plain Filter here
    * would be pushed below the projection with the cell kernel inlined
    * into the predicate, running it twice per corpus row (and the
    * downstream `__n > 0` filters would do the same to the norm).
    */
  private def assignCells(df: DataFrame, id: String,
                          centroids: Seq[Seq[Double]]): DataFrame =
    df.select(col(id).as("__id"), col("embedding").as("__e"),
        graft.functions.KernelOps.explodeKept(
          struct(
            graft.expressions.PqEncode(col("embedding"), Seq(centroids))
              .getItem(0).as("c"),
            norm(col("embedding")).as("n")),
          _.getField("c").isNotNull).as("__cn"))
      .select(col("__id"), col("__e"),
        col("__cn").getField("c").as("__cell"),
        col("__cn").getField("n").as("__n"))

  def semDedup(corpus: DataFrame, id: String, threshold: Double,
               centroids: Seq[Seq[Double]]): DataFrame = {
    require(threshold > 0 && threshold <= 1,
      s"bad SemDeDup threshold: $threshold")
    val assigned = assignCells(corpus, id, centroids)
    val a = assigned.filter(col("__n") > 0)
      .select(col("__cell"), col("__id").as("__ida"),
        col("__e").as("__ea"), col("__n").as("__na"))
    val b = assigned.filter(col("__n") > 0)
      .select(col("__cell"), col("__id").as("__idb"),
        col("__e").as("__eb"), col("__n").as("__nb"))
    val dups = a.join(b, Seq("__cell"))
      .filter(col("__ida") < col("__idb"))
      .filter(round(dot(col("__ea"), col("__eb"))
        / (col("__na") * col("__nb")), 6) >= threshold)
      .select(col("__idb").as("__dup")).distinct()
    assigned.join(dups, col("__id") === col("__dup"), "left")
      .select(col("__id").as(id), col("__cell").cast("int").as("cell"),
        col("__dup").isNull.as("kept"))
  }

  /** SemDeDup INGEST GATE — the cross-corpus form of [[semDedup]]
    * (the fingerprint-table / band-table / perplexity / DSIR gate
    * discipline, semantic axis): a batch document drops iff ANY corpus
    * document in its cluster cell reaches the cosine threshold. No
    * batch-internal comparison (run [[semDedup]] on the batch first if
    * in-batch dedup is also wanted), no id ordering — the corpus is
    * prior art. Returns one row per batch document: (id, cell, kept).
    *
    * Scale shape: both sides assign cells by the same fixed-point
    * kernel projection; the pair test joins batch-cells to corpus-cells
    * on the CELL equi-key — per-batch cost is |batch| × (corpus members
    * of the batch's cells), never corpus², and the corpus side is a
    * pruned two-column-plus-embedding scan with no exchange beyond the
    * cell join. Zero-norm batch docs are kept; zero-norm corpus docs
    * never block.
    */
  def semDedupAgainst(batch: DataFrame, corpus: DataFrame, id: String,
                      threshold: Double,
                      centroids: Seq[Seq[Double]]): DataFrame = {
    require(threshold > 0 && threshold <= 1,
      s"bad SemDeDup threshold: $threshold")
    val b = assignCells(batch, id, centroids)
    val c = assignCells(corpus, id, centroids).filter(col("__n") > 0)
      .select(col("__cell"), col("__e").as("__ec"), col("__n").as("__nc"))
    val dups = b.filter(col("__n") > 0).join(c, Seq("__cell"))
      .filter(round(dot(col("__e"), col("__ec"))
        / (col("__n") * col("__nc")), 6) >= threshold)
      .select(col("__id").as("__dup")).distinct()
    b.join(dups, col("__id") === col("__dup"), "left")
      .select(col("__id").as(id), col("__cell").cast("int").as("cell"),
        col("__dup").isNull.as("kept"))
  }

  /** Write one SEGMENT of a persisted cell-blocked corpus table — the
    * SemDeDup ingest gate's GROWING state (the q6n cell-partitioned layout
    * applied to raw embeddings): (vec_id, embedding) PARTITIONED BY CELL
    * under `root/seg=<seg>`, cells assigned by the same fixed-point kernel
    * the gate's pair test uses. Segments make the state appendable AND
    * idempotent: the base corpus writes `seg=corpus` once; each stream
    * batch overwrites its own `seg=b<id>` with its survivors, so a
    * crash-replayed batch rewrites the same directory instead of
    * duplicating state. Readers discover (seg, cell) as partition columns
    * and prune on cell. Rows whose embedding fails the centroid geometry
    * (null cell) are never written — they cannot block anything.
    */
  def writeSemCellSegment(df: DataFrame, id: String,
                          centroids: Seq[Seq[Double]], root: String,
                          seg: String): Unit =
    df.select(col(id).as("vec_id"), col("embedding"),
        graft.functions.KernelOps.explodeNonNull(
          graft.expressions.PqEncode(col("embedding"), Seq(centroids))
            .getItem(0)).as("cell"))
      .write.partitionBy("cell").mode("overwrite")
      .parquet(s"$root/seg=$seg")

  /** Write the DRIFT BASELINE sidecar for a sem cell-table root — the
    * q6s sidecar discipline on the semantic axis: the gate's centroids
    * are frozen at fit time ([[fitSemDedupCentroids]]), and this records
    * the blocking corpus's (count, Σ min fixed-point distance to the
    * nearest centroid) as `_drift.json` under the root (underscore
    * prefix: invisible to the engine's parquet file listing, so segment
    * reads are unaffected). One corpus-sized zero-shuffle projection +
    * a bounded agg, paid once at table build.
    */
  def writeSemDriftSidecar(spark: org.apache.spark.sql.SparkSession,
                           root: String, corpus: DataFrame,
                           centroids: Seq[Seq[Double]]): Unit = {
    val st = corpus
      .select(minCoarseDist(col("embedding"), centroids).as("__d"))
      .agg(count(col("__d")).as("n"), sum(col("__d")).as("s"))
      .collect().head
    val (n, s) = (st.getLong(0), if (st.getLong(0) == 0L) 0L else st.getLong(1))
    graft.sources.JsonSidecar.write(spark, s"$root/_drift.json",
      s"""{"fmt": 1, "statN": $n, "statSumNano": $s}""")
  }

  /** REFIT-AND-SWAP for a sem cell-table root — the drift contract's
    * ACTION on the semantic axis ([[semDriftStats]] says WHEN; this is
    * HOW), completing refit symmetry across every frozen gate model
    * (IVF-PQ [[refitIvfPqIndex]], quality/DSIR/LM artifact swaps).
    * Unlike IVF-PQ codes, the cell table stores the RAW embeddings, so
    * the refit re-blocks the table FROM ITSELF: every segment's rows
    * re-assign to the freshly fitted centroids and rewrite as ONE new
    * segment under a staged sibling root, with a NEW `_drift.json`
    * baseline over exactly the staged rows (the completeness witness,
    * written last — after the count guard, so a refused staging is
    * never promotable); then the [[refitIvfPqIndex]] two-rename swap.
    * A reader in any crash window sees the old root (consistent), the
    * new root (consistent), or fails loudly on the absent path between
    * the renames; entry recovery rolls forward from a witness-complete
    * staging or back from `.refit_old`. The count guard refuses a
    * staging that dropped rows (a geometry-mismatched centroid set
    * nulls out at the encode — loud here, never a silently shrunken
    * gate). QUIESCE the stream first (the [[compactSemCellTable]]
    * `keepLatestBatchSeg` rationale, strengthened: a re-blocked table
    * folds EVERY segment, so an uncommitted batch's crash replay would
    * find its own survivors in the combined state and self-match) — the
    * single-maintainer contract.
    */
  def refitSemCellTable(spark: org.apache.spark.sql.SparkSession,
                        root: String, centroids: Seq[Seq[Double]],
                        into: String = "corpus"): Unit = {
    val rootP = new org.apache.hadoop.fs.Path(root)
    val fs = rootP.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val tmp = new org.apache.hadoop.fs.Path(s"$root.refit_tmp")
    val old = new org.apache.hadoop.fs.Path(s"$root.refit_old")
    def complete(p: org.apache.hadoop.fs.Path): Boolean =
      fs.exists(new org.apache.hadoop.fs.Path(p, "_drift.json"))
    if (!fs.exists(rootP)) {
      if (complete(tmp)) {
        require(fs.rename(tmp, rootP),
          s"crash recovery: roll-forward rename of $tmp failed")
        fs.delete(old, true)
      } else if (complete(old)) {
        require(fs.rename(old, rootP),
          s"crash recovery: roll-back rename of $old failed")
        fs.delete(tmp, true)
      }
    }
    require(fs.exists(rootP),
      s"no cell table at $root to refit — writeSemCellSegment does the " +
        "initial build")
    val rows = spark.read.parquet(root)
      .select(col("vec_id"), col("embedding"))
    val n0 = rows.count()
    fs.delete(tmp, true)
    writeSemCellSegment(rows, "vec_id", centroids, tmp.toString, into)
    // a geometry-mismatched centroid set nulls EVERY row at the encode,
    // leaving a staging parquet with no data files — which the read
    // refuses to infer a schema from; count that as 0 so the guard
    // below fires with the domain error (and deletes the staging)
    val n1 = try spark.read.parquet(tmp.toString).count()
      catch { case _: org.apache.spark.sql.AnalysisException => 0L }
    if (n1 != n0) {
      fs.delete(tmp, true)
      throw new IllegalArgumentException(
        s"refit row-count drift at $root: the live table serves $n0 rows " +
          s"but the re-blocked staging holds $n1 — a geometry-mismatched " +
          "centroid set dropped rows at the encode, or a batch landed " +
          "mid-refit (single-maintainer contract); the live table is " +
          "untouched")
    }
    // baseline over exactly the staged rows; _drift.json is the witness
    writeSemDriftSidecar(spark, tmp.toString,
      spark.read.parquet(tmp.toString).select(col("vec_id"), col("embedding")),
      centroids)
    fs.delete(old, true)
    require(fs.rename(rootP, old), s"swap-out rename of $root failed")
    require(fs.rename(tmp, rootP), s"swap-in rename into $root failed — " +
      s"the previous cell table is preserved at $old")
    fs.delete(old, true)
  }

  /** DRIFT stats for the semantic gate's frozen centroids —
    * [[ivfPqDriftStats]]' exact contract over the cell table's sidecar:
    * (src, n, sum_dist_nano) with `build` read from `_drift.json`
    * ([[writeSemDriftSidecar]]) and `batch` computed live. All-integer,
    * so the oracle recomputes BOTH rows from the raw tables and a
    * corrupted stored stat breaks the hash. The decision rule is the
    * caller's (refit the centroids and rebuild the cell table when the
    * batch mean pulls away from the build mean); batch cost is one
    * zero-shuffle projection + a bounded agg, independent of state size.
    */
  def semDriftStats(spark: org.apache.spark.sql.SparkSession, root: String,
                    batch: DataFrame,
                    centroids: Seq[Seq[Double]]): DataFrame = {
    import spark.implicits._
    val metaTxt = graft.sources.JsonSidecar
      .readOpt(spark, s"$root/_drift.json")
      .getOrElse(throw new IllegalArgumentException(
        s"cell table at $root predates drift stats: no _drift.json — " +
          "write the baseline with writeSemDriftSidecar at table build"))
    def metaLong(k: String): Long =
      graft.sources.JsonSidecar.longField(metaTxt, k)
        .getOrElse(throw new IllegalArgumentException(
          s"malformed drift sidecar at $root/_drift.json: $metaTxt"))
    val st = batch
      .select(minCoarseDist(col("embedding"), centroids).as("__d"))
      .agg(count(col("__d")).as("n"), sum(col("__d")).as("s"))
      .collect().head
    val (bn, bs) = (st.getLong(0), if (st.getLong(0) == 0L) 0L else st.getLong(1))
    Seq(("batch", bn, bs),
      ("build", metaLong("statN"), metaLong("statSumNano")))
      .toDF("src", "n", "sum_dist_nano")
  }

  /** Cell-blocked semantic dup ids of a batch against an ALREADY-ASSIGNED
    * state frame (columns `cell`, `embedding` — e.g. segments of the
    * persisted cell table written by [[writeSemCellSegment]]): batch ids
    * with SOME state row in their cell at round(cos, 6) >= threshold —
    * the [[semDedupAgainst]] pair rule over pre-blocked state. Zero-norm
    * batch rows never match (always kept by the caller's anti-join);
    * zero-norm state rows never block. May emit an id more than once
    * (one per matching state row's shuffle side) — the consuming
    * anti-join ignores duplicates, so no distinct exchange is spent.
    */
  def semDupIdsAgainstCells(batch: DataFrame, id: String, state: DataFrame,
                            threshold: Double,
                            centroids: Seq[Seq[Double]]): DataFrame = {
    require(threshold > 0 && threshold <= 1,
      s"bad SemDeDup threshold: $threshold")
    val b = assignCells(batch, id, centroids)
      .filter(col("__n") > 0)
    val c = state.select(col("cell").cast("int").as("__cell"),
        col("embedding").as("__ec"), norm(col("embedding")).as("__nc"))
      .filter(col("__nc") > 0)
    b.join(c, Seq("__cell"))
      .filter(round(dot(col("__e"), col("__ec"))
        / (col("__n") * col("__nc")), 6) >= threshold)
      .select(col("__id").as(id))
  }

  /** [[semDedupAgainst]] served from PRE-BLOCKED state (`cell`,
    * `embedding` columns — the persisted cell table): one row per batch
    * doc, (id, cell, kept), same contract as the live gate (zero-norm
    * batch docs kept; zero-norm state never blocks; wrong-geometry batch
    * rows excluded). q6t pins table-served == live via the identical
    * q6o oracle text.
    */
  def semDedupAgainstCells(batch: DataFrame, id: String, state: DataFrame,
                           threshold: Double,
                           centroids: Seq[Seq[Double]]): DataFrame = {
    val assigned = batch.select(col(id).as("__id"),
        graft.functions.KernelOps.explodeNonNull(
          graft.expressions.PqEncode(col("embedding"), Seq(centroids))
            .getItem(0)).as("__cell"))
    // distinct IS needed here (unlike the anti-join consumer): the left
    // join below would duplicate a batch row per matching state row
    val dups = semDupIdsAgainstCells(batch, id, state, threshold, centroids)
      .select(col(id).as("__dup")).distinct()
    assigned.join(dups, col("__id") === col("__dup"), "left")
      .select(col("__id").as(id), col("__cell").cast("int").as("cell"),
        col("__dup").isNull.as("kept"))
  }

  /** COMPACT a cell-table root: rewrite every segment's rows into one NEW
    * segment `into`, then delete the old segments. Long streams grow one
    * seg=b<id> directory per trigger ([[graft.streaming.DocStream
    * .selfMaintainingSemGatedIngest]]); compaction collapses the listing
    * cost — the gate's correctness needs only "corpus ∪ prior
    * survivors", never the segment layout.
    *
    * Crash tolerance comes from GATE SEMANTICS rather than atomicity:
    * the combined segment is staged OUTSIDE the root and renamed in
    * BEFORE the old segments are deleted, so a reader in any crash
    * window sees the old layout, old + combined (duplicated state rows —
    * which cannot change a gate decision: "some state row ≥ threshold"
    * is duplication-insensitive), or the compacted layout; rows are
    * never absent. `into` must be fresh and must not enter the stream's
    * `b*` namespace (a segment named like a batch id would be invisible
    * to that batch's own-segment exclusion).
    *
    * LIVE-STREAM safety (`keepLatestBatchSeg`, default true): the
    * highest-numbered `seg=b<id>` segment is LEFT UNFOLDED. Batch N's
    * crash replay excludes `seg=bN` (its own prior write) from the
    * state it gates against — if compaction folded bN into `into`
    * before N's checkpoint committed, the replay would find its own
    * survivors inside the combined segment, self-match, and rewrite
    * its sink with zero survivors. Every LOWER-numbered segment's
    * batch has necessarily committed (triggers are sequential), so
    * folding those is always safe. Pass `keepLatestBatchSeg = false`
    * only when the stream is quiesced (stopped, or verified lagging
    * behind the last appended segment).
    */
  def compactSemCellTable(spark: org.apache.spark.sql.SparkSession,
                          root: String, into: String,
                          keepLatestBatchSeg: Boolean = true): Unit = {
    require(into.nonEmpty && !into.startsWith("b") &&
      into.forall(c => c.isLetterOrDigit || c == '_' || c == '.' || c == '-'),
      s"bad target segment name: '$into' (fresh, not in the b* namespace)")
    val rootPath = new org.apache.hadoop.fs.Path(root)
    val fs = rootPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val allSegs = fs.listStatus(rootPath)
      .filter(_.getPath.getName.startsWith("seg="))
    require(allSegs.nonEmpty, s"no segments under $root")
    require(!allSegs.exists(_.getPath.getName == s"seg=$into"),
      s"target segment seg=$into already exists under $root")
    // the possibly-uncommitted in-flight batch segment (see scaladoc)
    val latestBatch: Option[String] =
      if (!keepLatestBatchSeg) None
      else allSegs.map(_.getPath.getName.stripPrefix("seg="))
        .filter(n => n.startsWith("b") && n.drop(1).nonEmpty &&
          n.drop(1).forall(_.isDigit))
        .sortBy(n => n.drop(1).toLong).lastOption
    val segs = allSegs.filterNot(s =>
      latestBatch.contains(s.getPath.getName.stripPrefix("seg=")))
    if (segs.isEmpty) return
    val staging = new org.apache.hadoop.fs.Path(s"$root.compact_tmp")
    fs.delete(staging, true)
    // materialize the combined rows fully (the write) BEFORE any delete
    val folded = segs.map(s =>
        spark.read.parquet(s.getPath.toString)
          .select(col("vec_id"), col("embedding"), col("cell")))
      .reduce(_ unionByName _)
    folded.write.partitionBy("cell").mode("overwrite").parquet(staging.toString)
    require(fs.rename(staging,
      new org.apache.hadoop.fs.Path(rootPath, s"seg=$into")),
      s"rename of the compacted segment into $root failed")
    segs.foreach(s => fs.delete(s.getPath, true))
  }

  /** Driver-local Lloyd over a bounded in-memory sample: seeded k-means++
    * init, `iters` assignment/update rounds, empty clusters keep their
    * previous center. Fully deterministic for a given (sample, seed) —
    * pure JVM arithmetic, no engine RNG. A coarse quantizer needs
    * boundaries, not convergence; 20 rounds over ≤~4000 points is
    * microseconds-scale next to one Spark job.
    */
  private[graft] def localLloyd(sample: Array[Array[Double]], k: Int,
                                seed: Long, iters: Int): Array[Array[Double]] = {
    val n = sample.length
    val dim = sample(0).length
    val kEff = math.min(k, n)
    val rnd = new java.util.Random(seed)
    def d2(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var j = 0
      while (j < dim) { val t = a(j) - b(j); s += t * t; j += 1 }
      s
    }
    // k-means++ seeding: spread initial centers ~proportional to distance²
    val centers = new Array[Array[Double]](kEff)
    centers(0) = sample(rnd.nextInt(n)).clone()
    val minD = Array.fill(n)(Double.MaxValue)
    var ci = 1
    while (ci < kEff) {
      var i = 0
      while (i < n) {
        val d = d2(sample(i), centers(ci - 1))
        if (d < minD(i)) minD(i) = d
        i += 1
      }
      val total = minD.sum
      var pick = rnd.nextDouble() * total
      var idx = 0
      while (idx < n - 1 && pick > minD(idx)) { pick -= minD(idx); idx += 1 }
      centers(ci) = sample(idx).clone()
      ci += 1
    }
    val assign = new Array[Int](n)
    var it = 0
    while (it < iters) {
      var i = 0
      while (i < n) {
        var bestC = 0; var bestD = Double.MaxValue; var c = 0
        while (c < kEff) {
          val d = d2(sample(i), centers(c))
          if (d < bestD) { bestD = d; bestC = c }
          c += 1
        }
        assign(i) = bestC
        i += 1
      }
      val sums = Array.fill(kEff)(new Array[Double](dim))
      val counts = new Array[Int](kEff)
      i = 0
      while (i < n) {
        val c = assign(i); counts(c) += 1
        var j = 0
        while (j < dim) { sums(c)(j) += sample(i)(j); j += 1 }
        i += 1
      }
      var c = 0
      while (c < kEff) {
        if (counts(c) > 0) {
          var j = 0
          while (j < dim) { sums(c)(j) /= counts(c); j += 1 }
          centers(c) = sums(c)
        } // empty cluster: keep the previous center
        c += 1
      }
      it += 1
    }
    centers
  }

  /** Embedding near-duplicate pairs: banded SRP-LSH blocking + exact cosine
    * verification — the embedding-space analogue of MinHash-LSH dedup.
    * Norms are computed once per vector before the self-join, so the
    * per-pair work is one codegen'd dot product over verified candidates.
    *
    * Blocking: `bands` independent SRP signatures of `planes` bits each
    * (seed offset per band — independent hyperplane sets, the classic LSH
    * band construction); a pair is a candidate iff it agrees exactly on ANY
    * band. Collision probability for a pair at angle θ is
    * 1 − (1 − (1 − θ/π)^planes)^bands — bands buy recall, planes buy
    * selectivity.
    *
    * `planes` controls the bucket count per band (2^planes) and therefore
    * the self-join's quadratic-in-bucket-size cost. The default
    * `planes = -1` AUTO-SCALES bits to the corpus: one cheap count of the
    * (id-only) corpus projection sets planes ≈ log2(n / 32), clamped to
    * [8, 24] — expected bucket occupancy stays ~constant as the corpus
    * grows, so candidate-pair work grows ~linearly with n instead of
    * (n / 2^fixedPlanes)² (pinned by SimilaritySpec's growth probe).
    *
    * `planes = 0` puts every row in one bucket — EXACT all-pairs mode, for
    * filtered subsets and oracle twins (q4l); recall at planes > 0 is pinned
    * by SimilaritySpec.
    */
  /** Bits per band for a corpus of `n` rows: 2^bits buckets per band
    * targeting ~32 rows per bucket (`bits = ceil(log2(n / 32))`, clamped to
    * [8, 24]) — expected within-bucket pair work is then ~16·n per band,
    * linear in the corpus instead of quadratic (pinned by SimilaritySpec).
    */
  def autoPlanes(n: Long): Int =
    math.min(24, math.max(8,
      64 - java.lang.Long.numberOfLeadingZeros(math.max(1L, (n + 31) / 32) - 1)))

  def cosineNearDupes(corpus: DataFrame, id: String, threshold: Double,
                      planes: Int = -1, seed: Long = 42L,
                      bands: Int = 8): DataFrame = {
    require(bands >= 1, s"bands must be >= 1, got $bands")
    val c0 = corpus.select(col(id).as("doc"), col("embedding").as("e"))
      .withColumn("n", norm(col("e")))
      .filter(col("n") > 0) // cosine undefined; ANSI division would raise
    val bits =
      if (planes >= 0) planes
      // one pruned-scan count job sizes the bucket space to the corpus
      else autoPlanes(c0.select(col("doc")).count())
    val verified =
      if (bits == 0) {
        val c = c0.select(col("doc"), col("e"), col("n"))
        val a = c.as("a"); val b = c.as("b")
        a.join(b, col("a.doc") < col("b.doc"))
          .select(col("a.doc").as("doc_a"), col("b.doc").as("doc_b"),
            (dot(col("a.e"), col("b.e")) / (col("a.n") * col("b.n"))).as("cos"))
          // no-op barrier (pairs are unique here): keeps the threshold
          // filter from folding into the join condition, where the dot
          // product would re-evaluate per pair (the minhashNearDupes lesson)
          .groupBy(col("doc_a"), col("doc_b"))
          .agg(min(col("cos")).as("cos"))
      } else {
        // independent hyperplane set per band via a per-band seed offset;
        // signatures are codegen'd kernels, so banding costs bands× scan
        // work, never a shuffle of the embeddings beyond the bucket join
        val banded = c0.select(col("doc"), col("e"), col("n"),
          explode(array((0 until bands).map { bnd =>
            struct(lit(bnd).as("band"),
              srpSignature(col("e"), bits, seed + 1315423911L * bnd).as("sig"))
          }: _*)).as("bk"))
          .select(col("doc"), col("e"), col("n"), col("bk.band"), col("bk.sig"))
        val a = banded.as("a"); val b = banded.as("b")
        a.join(b, col("a.band") === col("b.band") && col("a.sig") === col("b.sig")
            && col("a.doc") < col("b.doc"))
          .select(col("a.doc").as("doc_a"), col("b.doc").as("doc_b"),
            (dot(col("a.e"), col("b.e")) / (col("a.n") * col("b.n"))).as("cos"))
          // a pair colliding in k bands appears k times; one hash-agg
          // dedups before the threshold filter (cos is identical per copy)
          .groupBy(col("doc_a"), col("doc_b"))
          .agg(min(col("cos")).as("cos"))
      }
    verified.filter(col("cos") >= threshold)
      .select(col("doc_a"), col("doc_b"), col("cos"))
  }

  /** Per-group embedding centroids: mean vector per `groupCol` (domain /
    * cluster / label drift analysis over a corpus). One row per (group,
    * dimension): `(group, pos, n, sum_micro, centroid)` where `sum_micro`
    * is the EXACT integer sum of `floor(element × 10⁶)` and `centroid` is
    * the fixed-point mean `sum_micro / n / 10⁶`.
    *
    * Why fixed-point alongside the obvious `avg`: float summation is
    * order-dependent, so a distributed avg is not reproducible across
    * partition layouts or engines — the integer sum is associative,
    * retry-stable, and oracle-replayable (a double holds it exactly up to
    * 2⁵³, i.e. ~9×10⁹ unit-scaled elements per group-dim).
    *
    * Scale shape: posexplode then ONE hash aggregate keyed (group, pos) —
    * map-side partials collapse each partition to groups×dims rows before
    * the shuffle, so shuffle volume is independent of corpus size.
    */
  def groupCentroids(df: DataFrame, groupCol: String,
                     embCol: String): DataFrame =
    df.select(col(groupCol).as("grp"),
        posexplode(col(embCol)).as(Seq("pos", "__e")))
      .groupBy(col("grp"), col("pos"))
      .agg(count(lit(1)).as("n"),
        sum(floor(col("__e").cast("double") * 1000000L).cast("long"))
          .as("sum_micro"))
      .withColumn("centroid",
        col("sum_micro").cast("double") / col("n") / 1000000d)

  /** Assign every vector to its nearest (max-cosine) group centroid —
    * cluster assignment / domain-drift detection (which group does each
    * doc's embedding actually sit closest to?). `centroids` is
    * [[groupCentroids]] output (long format); it is collapsed to one
    * array per group and BROADCAST — the corpus side stays a single scan
    * with a per-row argmax over the (small, bounded) centroid set, zero
    * corpus shuffle before the top-1. For centroid sets too large to
    * broadcast, [[ivfTopK]] is the bucketed path.
    *
    * Cosines are rounded to 6 decimals BEFORE the argmax and ties break
    * on ascending group — the centroid values are exact fixed-point means,
    * so assignment is bit-reproducible across engines (pinned by the q4z
    * oracle).
    */
  def nearestCentroid(df: DataFrame, id: String, embCol: String,
                      centroids: DataFrame): DataFrame = {
    val cent = centroids.groupBy(col("grp"))
      .agg(transform(array_sort(collect_list(struct(col("pos"), col("centroid")))),
        x => x.getField("centroid")).as("cv"))
    val scored = df.select(col(id), col(embCol).as("__e"))
      .filter(norm(col(embCol)) > 0)
      .crossJoin(broadcast(cent))
      .select(col(id), col("grp").as("nearest"),
        round(cosine(col("__e"), col("cv")), 6).as("cos"))
    graft.plans.GroupedTopK.perGroup(scored, Seq(col(id)),
      struct((-col("cos")).as("nc"), col("nearest")), k = 1)
  }
}
