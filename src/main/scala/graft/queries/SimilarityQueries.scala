package graft.queries

import graft.{Memo, Tables}
import graft.operators.Similarity
import org.apache.spark.sql.functions._

/** Similarity search over the embeddings table (`ARRAY<FLOAT>` column):
  * brute-force cosine top-k (exact baseline) and LSH-bucketed variants
  * (scale path). The oracle replays dot products positionally via
  * generate_series, with explicit float->double casts on both sides so the
  * arithmetic agrees to rounding.
  */
object SimilarityQueries {

  val defs: Seq[QueryDef] = Seq(

    // ---- exact ANN baseline: top-10 neighbors of vec_id 0 ------------------
    QueryDef.sql("q48_embedding_topk",
      """WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
        |p AS (
        |  SELECT b.vec_id,
        |    list_cosine_similarity(CAST(b.embedding AS DOUBLE[]),
        |                           CAST(q.qe AS DOUBLE[])) AS c
        |  FROM embeddings b, q
        |  WHERE b.vec_id <> 0)
        |SELECT vec_id, round(c, 4) AS cos
        |FROM p
        |ORDER BY c DESC, vec_id
        |LIMIT 10""".stripMargin) { (s, d) =>
      val emb = Tables.embeddings(s, d)
      val query = emb.where(col("vec_id") === 0).select(col("embedding"))
      Similarity.bruteForceTopK(emb.where(col("vec_id") =!= 0), "vec_id", query, 10)
        .select(col("vec_id"), round(col("cos"), 4).as("cos"))
    },

    // ---- brute-force near-dup pairs on a deterministic sample --------------
    // Ranked on the cosine rounded to 6 places, then ids: pairs of
    // identical vectors (every copy pair of an N× scaled dir) all score
    // 1.0 up to a few ulps, and ulps depend on each engine's summation
    // order, so only the rounded score makes the id tie-break decide.
    QueryDef.sql("q49_embedding_pairs",
      """WITH e AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id % 5 = 0),
        |p AS (
        |  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |    list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
        |                           CAST(b.embedding AS DOUBLE[])) AS c
        |  FROM e a, e b
        |  WHERE a.vec_id < b.vec_id)
        |SELECT id_a, id_b, round(c, 4) AS cos
        |FROM p
        |ORDER BY round(c, 6) DESC, id_a, id_b
        |LIMIT 20""".stripMargin) { (s, d) =>
      // Norms computed once per vector pre-join; per-pair work is one
      // codegen'd VecDot.
      val e = Tables.embeddings(s, d).where(col("vec_id") % 5 === 0)
        .select(col("vec_id"), col("embedding"),
          Similarity.norm(col("embedding")).as("nrm"))
      val a = e.select(col("vec_id").as("id_a"), col("embedding").as("ea"), col("nrm").as("na"))
      val b = e.select(col("vec_id").as("id_b"), col("embedding").as("eb"), col("nrm").as("nb"))
      a.join(b, col("id_a") < col("id_b"))
        .withColumn("cos_raw",
          Similarity.dot(col("ea"), col("eb")) / (col("na") * col("nb")))
        .select(col("id_a"), col("id_b"), col("cos_raw"))
        .orderBy(round(col("cos_raw"), 6).desc, col("id_a"), col("id_b"))
        .limit(20)
        .select(col("id_a"), col("id_b"), round(col("cos_raw"), 4).as("cos"))
    },

    // ---- IVF ANN (KMeans coarse quantizer) ---------------------------------
    // Run at nProbe = nCentroids: the full IVF machinery executes (sampled
    // quantizer fit, cell assignment, centroid-ranked probe join, in-cell
    // ranking) but probing is exhaustive, so results are EXACTLY the
    // brute-force top-k — which DuckDB replays, giving the IVF path a hard
    // oracle instead of a rows-only check. The approximate-probe recall
    // (nProbe < nCentroids) is pinned by RecallSpec/SimilaritySpec.
    QueryDef.sql("q4d_embedding_ivf",
      """WITH q AS (SELECT vec_id AS query_id, embedding AS qe
        |           FROM embeddings WHERE vec_id < 5),
        |p AS (
        |  SELECT q.query_id, b.vec_id,
        |    list_cosine_similarity(CAST(b.embedding AS DOUBLE[]),
        |                           CAST(q.qe AS DOUBLE[])) AS c
        |  FROM embeddings b, q
        |  WHERE b.vec_id >= 5),
        |r AS (SELECT query_id, vec_id, c,
        |        row_number() OVER (PARTITION BY query_id
        |                           ORDER BY c DESC, vec_id) AS rn
        |      FROM p)
        |SELECT query_id, vec_id, round(c, 4) AS cos
        |FROM r WHERE rn <= 5
        |ORDER BY query_id, cos DESC, vec_id""".stripMargin) { (s, d) =>
      val emb = Tables.embeddings(s, d)
      val queries = emb.where(col("vec_id") < 5)
        .select(col("vec_id").as("query_id"), col("embedding"))
      Similarity.ivfTopK(emb.where(col("vec_id") >= 5), "vec_id",
          queries, "query_id", k = 5, nCentroids = 16, nProbe = 16)
        .select(col("query_id"), col("vec_id"), round(col("cos"), 4).as("cos"))
        .orderBy(col("query_id"), col("cos").desc, col("vec_id"))
    },

    // ---- LSH-bucketed ANN at its APPROXIMATE radius, pinned by a q15-style
    // contract against the exhaustive-probe exact twin (the q4k machinery).
    // The bucket membership itself is not SQL-replayable (xxhash64-derived
    // hyperplanes), so the oracle hashes what IS exact — per-query exact
    // top-5 count and best cosine (DuckDB replays both, the q4k trick) —
    // plus literal TRUE per contract bound, failing iff the approximate
    // path leaves its contract:
    //   * n_approx_ok — radius-1 probing returned 1..k candidates per query;
    //   * approx_cos_ok — every approximate result's cosine is bounded by
    //     the exact best (the LSH candidates are a SUBSET of the corpus
    //     scored by the same kernel, so a violation means a scoring bug);
    //   * recall_ok — total exact-top-5 hits across the 5 queries >= 3 of
    //     25. Chance level for 5-of-~500 corpus picks is ~0.06 hits per
    //     query; measured totals on the seed-pinned testdata are 8 (sf0.001),
    //     5 (sf0.01), 8 (sf0.1) — deterministic (hyperplanes are seeded, no
    //     engine RNG), so >= 3 holds at every SF with margin while still
    //     failing any regression that breaks bucket probing.
    // The `_contract` rename marks the workload change from the pre-r9
    // rows-only listing query (r8 walls are not comparable).
    QueryDef.sql("q4a_lsh_recall_contract",
      """WITH q AS (SELECT vec_id AS query_id, embedding AS qe
        |           FROM embeddings WHERE vec_id < 5),
        |p AS (
        |  SELECT q.query_id, b.vec_id,
        |    list_cosine_similarity(CAST(b.embedding AS DOUBLE[]),
        |                           CAST(q.qe AS DOUBLE[])) AS c
        |  FROM embeddings b, q
        |  WHERE b.vec_id >= 5),
        |r AS (SELECT query_id, vec_id, c,
        |        row_number() OVER (PARTITION BY query_id
        |                           ORDER BY c DESC, vec_id) AS rn
        |      FROM p)
        |SELECT query_id, count(*) AS n_exact, round(max(c), 4) AS best_cos,
        |  true AS n_approx_ok, true AS approx_cos_ok, true AS recall_ok
        |FROM r WHERE rn <= 5
        |GROUP BY query_id ORDER BY query_id""".stripMargin) { (s, d) =>
      val emb = Tables.embeddings(s, d)
      val queries = emb.where(col("vec_id") < 5)
        .select(col("vec_id").as("query_id"), col("embedding"))
      val corpus = emb.where(col("vec_id") >= 5)
      val approx = Similarity.lshTopK(corpus, "vec_id", queries, "query_id",
        k = 5, planes = 6)
      val exact = Similarity.lshTopK(corpus, "vec_id", queries, "query_id",
        k = 5, planes = 6, probeHamming = 6)
      val ex = exact.groupBy(col("query_id"))
        .agg(count(lit(1)).as("n_exact"), max(col("cos")).as("best_raw"))
      val ap = approx.groupBy(col("query_id"))
        .agg(count(lit(1)).as("n_approx"), max(col("cos")).as("amax"))
      val hits = approx
        .join(exact.select(col("query_id"), col("vec_id")),
          Seq("query_id", "vec_id"), "left_semi")
        .groupBy(col("query_id")).agg(count(lit(1)).as("hits"))
      // corpus-level recall scalar: one tiny aggregate, broadcast to the 5
      // per-query rows
      val totalHits = hits.agg(
        coalesce(sum(col("hits")), lit(0L)).as("total_hits"))
      ex.join(ap, Seq("query_id"), "left")
        .join(hits, Seq("query_id"), "left")
        .na.fill(0L, Seq("n_approx", "hits"))
        .crossJoin(broadcast(totalHits))
        .select(col("query_id"), col("n_exact"),
          round(col("best_raw"), 4).as("best_cos"),
          (col("n_approx") >= 1 && col("n_approx") <= 5).as("n_approx_ok"),
          // vacuously true when a query returned no approx rows — that
          // case is already failed by n_approx_ok
          coalesce(col("amax") <= col("best_raw"), lit(true))
            .as("approx_cos_ok"),
          (col("total_hits") >= 3).as("recall_ok"))
        .orderBy(col("query_id"))
    },

    // ---- SRP-LSH at exhaustive probe radius --------------------------------
    // probeHamming = planes probes every one of the 2^planes buckets, so the
    // full LSH machinery executes (signature kernel, bucket explode, probe
    // join, per-bucket ranking) but coverage is total — results are EXACTLY
    // the brute-force top-k, which DuckDB replays. Gives the SRP-LSH path a
    // hard oracle (the q4d trick); approximate-radius recall is pinned by
    // RecallSpec.
    QueryDef.sql("q4k_embedding_lsh_exact",
      """WITH q AS (SELECT vec_id AS query_id, embedding AS qe
        |           FROM embeddings WHERE vec_id < 5),
        |p AS (
        |  SELECT q.query_id, b.vec_id,
        |    list_cosine_similarity(CAST(b.embedding AS DOUBLE[]),
        |                           CAST(q.qe AS DOUBLE[])) AS c
        |  FROM embeddings b, q
        |  WHERE b.vec_id >= 5),
        |r AS (SELECT query_id, vec_id, c,
        |        row_number() OVER (PARTITION BY query_id
        |                           ORDER BY c DESC, vec_id) AS rn
        |      FROM p)
        |SELECT query_id, vec_id, round(c, 4) AS cos
        |FROM r WHERE rn <= 5
        |ORDER BY query_id, cos DESC, vec_id""".stripMargin) { (s, d) =>
      val emb = Tables.embeddings(s, d)
      val queries = emb.where(col("vec_id") < 5)
        .select(col("vec_id").as("query_id"), col("embedding"))
      Similarity.lshTopK(emb.where(col("vec_id") >= 5), "vec_id",
          queries, "query_id", k = 5, planes = 6, probeHamming = 6)
        .select(col("query_id"), col("vec_id"), round(col("cos"), 4).as("cos"))
        .orderBy(col("query_id"), col("cos").desc, col("vec_id"))
    },

    // ---- embedding-cosine near-dup pairs (exact single-bucket mode) --------
    // planes = 0 -> one bucket -> the blocking join degenerates to exact
    // all-pairs on the (deterministic) subset, which DuckDB replays; the
    // approximate bucketed recall (planes > 0) is pinned by SimilaritySpec.
    QueryDef.sql("q4l_cosine_neardup",
      """WITH e AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id % 5 = 1),
        |p AS (
        |  SELECT a.vec_id AS doc_a, b.vec_id AS doc_b,
        |    list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
        |                           CAST(b.embedding AS DOUBLE[])) AS c
        |  FROM e a, e b
        |  WHERE a.vec_id < b.vec_id)
        |SELECT doc_a, doc_b, round(c, 4) AS cos
        |FROM p WHERE c >= 0.15
        |ORDER BY doc_a, doc_b""".stripMargin) { (s, d) =>
      Similarity.cosineNearDupes(
          Tables.embeddings(s, d).where(col("vec_id") % 5 === 1),
          "vec_id", threshold = 0.15, planes = 0)
        .select(col("doc_a"), col("doc_b"), round(col("cos"), 4).as("cos"))
        .orderBy(col("doc_a"), col("doc_b"))
    },

    // ---- per-group embedding centroids (domain/cluster drift analysis).
    //      The query emits the operator's EXACT fixed-point columns only
    //      (integer sum of floor(e×10⁶) per (group, dim)) — float summation
    //      is order-dependent across engines, the unit-scaled integer sum
    //      is associative and replays bit-for-bit ------------------------
    QueryDef.sql("q4y_group_centroids",
      """SELECT label, u.pos AS pos, count(*) AS n,
        |  CAST(sum(floor(u.e * 1000000)) AS BIGINT) AS sum_micro
        |FROM (SELECT label,
        |        unnest([{'pos': i - 1, 'e': CAST(embedding[i] AS DOUBLE)}
        |                for i in range(1, len(embedding) + 1)]) AS u
        |      FROM embeddings) x
        |GROUP BY label, u.pos ORDER BY label, pos""".stripMargin) { (s, d) =>
      Similarity.groupCentroids(Tables.embeddings(s, d), "label", "embedding")
        .select(col("grp").as("label"), col("pos").cast("long").as("pos"),
          col("n"), col("sum_micro"))
        .orderBy(col("label"), col("pos"))
    },

    // ---- nearest-centroid assignment confusion (drift detection: which
    //      label's centroid does each embedding actually sit closest to).
    //      Full oracle — centroids are exact fixed-point means, cosines are
    //      rounded to 6 before the argmax, and ties break on ascending
    //      group in both engines ------------------------------------------
    QueryDef.sql("q4z_nearest_centroid",
      """WITH c0 AS (
        |  SELECT label, u.pos AS pos,
        |    sum(floor(u.e * 1000000)) AS s, count(*) AS n
        |  FROM (SELECT label,
        |          unnest([{'pos': i - 1, 'e': CAST(embedding[i] AS DOUBLE)}
        |                  for i in range(1, len(embedding) + 1)]) AS u
        |        FROM embeddings) x
        |  GROUP BY label, u.pos),
        |cent AS (SELECT label AS cand, list(s / n / 1000000.0 ORDER BY pos) AS cv
        |         FROM c0 GROUP BY label),
        |a AS (SELECT e.vec_id, e.label, c.cand,
        |        round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), c.cv),
        |          6) AS cos
        |      FROM embeddings e CROSS JOIN cent c),
        |r AS (SELECT *, row_number() OVER (PARTITION BY vec_id
        |        ORDER BY cos DESC, cand) AS rn FROM a)
        |SELECT label, cand AS nearest, count(*) AS n FROM r WHERE rn = 1
        |GROUP BY label, cand ORDER BY label, nearest""".stripMargin) { (s, d) =>
      val emb = Tables.embeddings(s, d)
      val cents = Similarity.groupCentroids(emb, "label", "embedding")
      Similarity.nearestCentroid(emb, "vec_id", "embedding", cents)
        .join(emb.select(col("vec_id"), col("label")), Seq("vec_id"))
        .groupBy(col("label"), col("nearest"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("label"), col("nearest"))
    },

    // ---- PQ/ADC ANN (the FAISS scale path beyond IVF) ---------------------
    // The corpus is encoded once to m=4 centroid ids; each (query,
    // candidate) score is an exact integer ADC total on the fixed-point
    // nano-unit distance grid (PqKernel), so the WHOLE approximate index —
    // codebook assignment, argmin ties, ADC sums, top-k order — replays
    // row-for-row in SQL from the fitted codebook embedded as literals
    // (the q34 dynamic-oracle pattern; the fit is a deterministic bounded
    // reservoir + driver Lloyd, memoized per sf dir so the query and its
    // oracle see identical codebooks).
    QueryDef.dynamicSql("q5y_pq_ann") { (s, d) =>
      pqReplaySql(ensurePqCodebooks(s, d),
        "embeddings WHERE vec_id >= 5",
        "embeddings WHERE vec_id < 5", k = 5)
    } { (s, d) =>
      val emb = Tables.embeddings(s, d)
      val queries = emb.where(col("vec_id") < 5)
        .select(col("vec_id").as("query_id"), col("embedding"))
      Similarity.pqTopK(emb.where(col("vec_id") >= 5), "vec_id",
          queries, "query_id", k = 5, ensurePqCodebooks(s, d))
        .orderBy(col("query_id"), col("vec_id"))
    },

    // ---- IVF-PQ/ADC ANN (the FAISS IVFADC production composition) ---------
    // Coarse cells prune the candidate set (nProbe=3 of 8 — a genuinely
    // APPROXIMATE operating point), PQ codes compress the residuals, and
    // because cell assignment, probe ranking, residual encoding, and ADC
    // totals all live on the same fixed-point nano-unit grid, the ENTIRE
    // index — including which cells each query probes — replays
    // row-for-row in SQL from the fitted coarse/codebook literals. The
    // q5y discipline, extended to a two-level index: no nProbe=all
    // weakening needed for exactness.
    QueryDef.dynamicSql("q6h_ivfpq_ann") { (s, d) =>
      val (coarse, cbs) = ensureIvfPq(s, d)
      ivfPqReplaySql(coarse, cbs,
        "embeddings WHERE vec_id >= 5",
        "embeddings WHERE vec_id < 5", k = 5, nProbe = 3)
    } { (s, d) =>
      val emb = Tables.embeddings(s, d)
      val queries = emb.where(col("vec_id") < 5)
        .select(col("vec_id").as("query_id"), col("embedding"))
      val (coarse, cbs) = ensureIvfPq(s, d)
      Similarity.ivfPqTopK(emb.where(col("vec_id") >= 5), "vec_id",
          queries, "query_id", k = 5, nProbe = 3, coarse, cbs)
        .orderBy(col("query_id"), col("vec_id"))
    },

    // ---- IVF-PQ search over the PERSISTED index (q6n): the q6h search
    // served from disk — encode once, write partitioned by cell, search
    // reads only the probed cells' directories (partition pruning,
    // spec-pinned). The oracle is EXACTLY q6h's from-scratch replay, so
    // any encode/write/load/prune divergence breaks the hash (the q5i
    // "table probe == live gate" discipline applied to ANN).
    QueryDef.dynamicSql("q6n_ivfpq_index") { (s, d) =>
      val (coarse, cbs) = ensureIvfPq(s, d)
      ivfPqReplaySql(coarse, cbs,
        "embeddings WHERE vec_id >= 5",
        "embeddings WHERE vec_id < 5", k = 5, nProbe = 3)
    } { (s, d) =>
      val emb = Tables.embeddings(s, d)
      val queries = emb.where(col("vec_id") < 5)
        .select(col("vec_id").as("query_id"), col("embedding"))
      Similarity.ivfPqTopKFromIndex(s, ensureIvfPqIndex(s, d),
          queries, "query_id", k = 5, nProbe = 3)
        .orderBy(col("query_id"), col("vec_id"))
    },

    // ---- incremental IVF-PQ index append (q6q): the persisted index
    // built from HALF the corpus, the other half APPENDED with the saved
    // model (appendIvfPqIndex — the appendBandTable discipline on ANN),
    // then searched from disk. The oracle is EXACTLY q6h's from-scratch
    // replay over the FULL corpus: append == rebuild row-for-row, or the
    // hash breaks (the q5i table==live discipline, steady-state-ingest
    // form).
    QueryDef.dynamicSql("q6q_ivfpq_append") { (s, d) =>
      val (coarse, cbs) = ensureIvfPq(s, d)
      ivfPqReplaySql(coarse, cbs,
        "embeddings WHERE vec_id >= 5",
        "embeddings WHERE vec_id < 5", k = 5, nProbe = 3)
    } { (s, d) =>
      val emb = Tables.embeddings(s, d)
      val queries = emb.where(col("vec_id") < 5)
        .select(col("vec_id").as("query_id"), col("embedding"))
      Similarity.ivfPqTopKFromIndex(s, ensureIvfPqAppendedIndex(s, d),
          queries, "query_id", k = 5, nProbe = 3)
        .orderBy(col("query_id"), col("vec_id"))
    },

    // ---- ANN recall@k (q6u): the quality metric that pairs with the
    // drift contract — per-query |approximate IVF-PQ top-k ∩ exact
    // cosine top-k| at the REAL operating point (nProbe=3 of 8). Both
    // chains replay (integer grid; q4d float pattern), so the measured
    // recall itself is oracle-pinned — not a rows-only claim.
    QueryDef.dynamicSql("q6u_ann_recall") { (s, d) =>
      val (coarse, cbs) = ensureIvfPq(s, d)
      ivfPqRecallReplaySql(coarse, cbs,
        "embeddings WHERE vec_id >= 5",
        "embeddings WHERE vec_id < 5", k = 5, nProbe = 3)
    } { (s, d) =>
      val emb = Tables.embeddings(s, d)
      val queries = emb.where(col("vec_id") < 5)
        .select(col("vec_id").as("query_id"), col("embedding"))
      val (coarse, cbs) = ensureIvfPq(s, d)
      Similarity.ivfPqRecallAtK(emb.where(col("vec_id") >= 5), "vec_id",
          queries, "query_id", k = 5, nProbe = 3, coarse, cbs)
        .orderBy(col("query_id"))
    },

    // ---- IVF-PQ drift stats (q6s): the refit contract that completes
    // the frozen-model append loop — (src, n, sum_dist_nano) for the
    // sidecar-stored INDEXED-corpus stat (even half at build time,
    // accumulated by the odd-half append) vs the live candidate batch
    // (the q6q odd half, "check drift before appending"). All integer,
    // so the oracle recomputes BOTH rows from raw tables and a corrupted
    // stored or mis-accumulated stat breaks the hash.
    QueryDef.dynamicSql("q6s_ivfpq_drift") { (s, d) =>
      val (coarse, _) = ensureIvfPq(s, d)
      ivfPqDriftReplaySql(coarse,
        "embeddings WHERE vec_id >= 5",
        "embeddings WHERE vec_id >= 5 AND vec_id % 2 <> 0")
    } { (s, d) =>
      val emb = Tables.embeddings(s, d)
      Similarity.ivfPqDriftStats(s, ensureIvfPqAppendedIndex(s, d),
          emb.where(col("vec_id") >= 5 && col("vec_id") % 2 =!= 0))
        .orderBy(col("src"))
    },

    // ---- IVF-PQ refit-and-swap (q6y): the drift contract's ACTION —
    // the q6q incrementally-built index (even half built, odd half
    // appended) is REBUILT with a freshly fitted model (different seed,
    // so new != old discriminates) and atomically swapped under the
    // serving path; the search then runs over the post-swap index. The
    // oracle is the q6h from-scratch replay WITH THE REFITTED model
    // literals over the full corpus: a swap that silently kept the old
    // index, tore mid-rename, or rebuilt over the wrong corpus breaks
    // the hash (swap == rebuild, the q6q discipline one lifecycle step
    // further).
    QueryDef.dynamicSql("q6y_ivfpq_refit") { (s, d) =>
      val (coarse, cbs) = ensureIvfPqRefit(s, d)
      ivfPqReplaySql(coarse, cbs,
        "embeddings WHERE vec_id >= 5",
        "embeddings WHERE vec_id < 5", k = 5, nProbe = 3)
    } { (s, d) =>
      val emb = Tables.embeddings(s, d)
      val queries = emb.where(col("vec_id") < 5)
        .select(col("vec_id").as("query_id"), col("embedding"))
      Similarity.ivfPqTopKFromIndex(s, ensureIvfPqRefitIndex(s, d),
          queries, "query_id", k = 5, nProbe = 3)
        .orderBy(col("query_id"), col("vec_id"))
    },

    // ---- IVF-PQ index compaction (q77): the maintenance loop on the
    // ANN axis — the q6q lifecycle with the odd half appended as TWO
    // batches (so cell partitions genuinely hold multiple small files),
    // then compactIvfPqIndex folds the encoded tree to one file per cell
    // under the directory-swap discipline, and the search serves the
    // post-compaction artifact. The oracle is EXACTLY q6h's from-scratch
    // replay over the full corpus: a compaction that dropped, duplicated
    // or re-coded a single row breaks the hash (the q6w/q6x table-served
    // == live discipline applied to the index).
    QueryDef.dynamicSql("q77_ivfpq_compacted") { (s, d) =>
      val (coarse, cbs) = ensureIvfPq(s, d)
      ivfPqReplaySql(coarse, cbs,
        "embeddings WHERE vec_id >= 5",
        "embeddings WHERE vec_id < 5", k = 5, nProbe = 3)
    } { (s, d) =>
      val emb = Tables.embeddings(s, d)
      val queries = emb.where(col("vec_id") < 5)
        .select(col("vec_id").as("query_id"), col("embedding"))
      Similarity.ivfPqTopKFromIndex(s, ensureIvfPqCompactedIndex(s, d),
          queries, "query_id", k = 5, nProbe = 3)
        .orderBy(col("query_id"), col("vec_id"))
    },

    // ---- SemDeDup (Abbas et al. 2023 — cluster-blocked semantic dedup,
    // the LAION/DataComp discipline). Cell assignment replays as the q5y
    // integer argmin with ONE full-vector subspace; the within-cell pair
    // test is the q4l cosine chain under the q4z round-6-before-compare
    // rule; keep-one = drop any doc with a qualifying lower-id cluster
    // mate. The kept SET is the result — fully SQL-replayable from the
    // fitted centroid literals.
    QueryDef.dynamicSql("q6i_semdedup") { (s, d) =>
      semDedupReplaySql(ensureSemCentroids(s, d), "embeddings",
        threshold = "0.15")
    } { (s, d) =>
      Similarity.semDedup(Tables.embeddings(s, d), "vec_id",
          threshold = 0.15, ensureSemCentroids(s, d))
        .orderBy(col("vec_id"))
    },

    // ---- semantic ingest gate (q6o): the cross-corpus SemDeDup — the
    // fp-table/band-table/ppl/DSIR gate discipline on the semantic axis.
    // A batch doc (every 11th vector) drops iff ANY corpus doc in its
    // cell reaches the threshold; centroids fit on the CORPUS side (the
    // deployment shape: the blocking model exists before the batch
    // arrives). Same exactness contract as q6i.
    QueryDef.dynamicSql("q6o_semdedup_gate") { (s, d) =>
      semDedupGateReplaySql(ensureSemGateCentroids(s, d),
        "embeddings WHERE vec_id % 11 = 0",
        "embeddings WHERE vec_id % 11 <> 0", threshold = "0.15")
    } { (s, d) =>
      val emb = Tables.embeddings(s, d)
      Similarity.semDedupAgainst(
          emb.where(col("vec_id") % 11 === 0),
          emb.where(col("vec_id") % 11 =!= 0),
          "vec_id", threshold = 0.15, ensureSemGateCentroids(s, d))
        .orderBy(col("vec_id"))
    },

    // ---- compacted cell-table gate (q6t): the q6o gate SERVED from a
    // persisted cell table that was written as TWO segments and then
    // COMPACTED into one — the oracle is EXACTLY q6o's replay over the
    // full corpus (the q5i table==live discipline): a compaction that
    // loses rows, mis-assigns cells, or mangles embeddings breaks the
    // hash. (Duplication alone cannot — gate decisions are duplication-
    // insensitive — so SemDedupSpec pins the exact row multiset too.)
    QueryDef.dynamicSql("q6t_semgate_compacted") { (s, d) =>
      semDedupGateReplaySql(ensureSemGateCentroids(s, d),
        "embeddings WHERE vec_id % 11 = 0",
        "embeddings WHERE vec_id % 11 <> 0", threshold = "0.15")
    } { (s, d) =>
      val emb = Tables.embeddings(s, d)
      Similarity.semDedupAgainstCells(
          emb.where(col("vec_id") % 11 === 0), "vec_id",
          s.read.parquet(ensureCompactedCellTable(s, d)),
          threshold = 0.15, ensureSemGateCentroids(s, d))
        .orderBy(col("vec_id"))
    },

    // ---- semantic-gate refit-and-swap (q7b): the q6z drift contract's
    // ACTION — the q6y/q78 discipline on the cell table, completing
    // refit symmetry across every frozen gate model. The q6t two-segment
    // lifecycle on its own root, then refitSemCellTable re-blocks the
    // table FROM ITSELF (the raw embeddings live in the table) onto
    // freshly fitted different-seed centroids, staged beside and swapped
    // atomically; the gate then serves the post-swap table WITH the
    // refit centroids. The oracle is the q6o live-gate replay with the
    // REFIT centroid literals over the full corpus: a swap that kept the
    // old blocking would mis-cell the state against the batch's new
    // assignment and break the hash (refit-table == live gate).
    QueryDef.dynamicSql("q7b_semgate_refit") { (s, d) =>
      semDedupGateReplaySql(ensureSemRefitCentroids(s, d),
        "embeddings WHERE vec_id % 11 = 0",
        "embeddings WHERE vec_id % 11 <> 0", threshold = "0.15")
    } { (s, d) =>
      val emb = Tables.embeddings(s, d)
      Similarity.semDedupAgainstCells(
          emb.where(col("vec_id") % 11 === 0), "vec_id",
          s.read.parquet(ensureRefitCellTable(s, d)),
          threshold = 0.15, ensureSemRefitCentroids(s, d))
        .orderBy(col("vec_id"))
    },

    // ---- SemDeDup centroid drift contract (q6z): q6s's refit signal on
    // the semantic axis — the gate's centroids are frozen at fit time,
    // and this emits (src, n, sum_dist_nano) for the blocking corpus
    // (from the cell table's _drift.json sidecar, written at build) vs
    // the live batch class. All-integer, both rows recomputed from raw
    // tables by the oracle — a corrupted sidecar breaks the hash. With
    // q6t (compaction) and q6p (self-maintenance) this completes the
    // cell-table lifecycle: build → gate → grow → compact → know when
    // to refit.
    QueryDef.dynamicSql("q6z_semgate_drift") { (s, d) =>
      ivfPqDriftReplaySql(ensureSemGateCentroids(s, d),
        "embeddings WHERE vec_id % 11 <> 0",
        "embeddings WHERE vec_id % 11 = 0")
    } { (s, d) =>
      val emb = Tables.embeddings(s, d)
      Similarity.semDriftStats(s, ensureSemDriftSidecar(s, d),
          emb.where(col("vec_id") % 11 === 0), ensureSemGateCentroids(s, d))
        .orderBy(col("src"))
    },

    // ---- SELF-MAINTAINING semantic gate (q6p): the q6c growing-state
    // discipline on the SemDeDup axis — each micro-batch's survivors
    // append their (id, cell, embedding) to the persisted cell table, so
    // batch-1 twins of batch-0 SURVIVORS drop too. Pinned by the planted
    // 9000000/9000001 pair (same novel vector, split across batches),
    // which only a state-growing gate separates; 9000002 (an exact corpus
    // copy) drops in round 0 either way. The oracle chains two gate
    // rounds (round 1's state = corpus ∪ round 0's survivors) through
    // the identical integer-argmin + round-6-cosine machinery. At
    // threshold 0.6 the natural data is inert (max batch-corpus cosine
    // 0.53 at sf0.1) — the margin is float-safe by construction.
    QueryDef.dynamicSql("q6p_stream_semgate_sm") { (s, d) =>
      semSelfMaintainReplaySql(ensureSemGateCentroids(s, d),
        "embeddings WHERE vec_id % 11 <> 0", semSmBatchSql,
        threshold = "0.6")
    } { (s, d) =>
      graft.streaming.DocStream.replaySemGatedIngest(
          semSmBatch(s, d), ensureSemCellTable(s, d), "vec_id",
          ensureSemGateCentroids(s, d), threshold = 0.6,
          LmQueries.sessionTmp(s, "q6p_semgate", d), nBatches = 2)
        .select(col("vec_id")).orderBy(col("vec_id"))
    }
  )

  /** The q6p planted vector: exact-binary sixteenths, so the decimal
    * literal round-trips bit-identically through FLOAT in both engines.
    * An arbitrary fixed direction — measured max cosine to any sf0.1
    * corpus vector is 0.47, far under the 0.6 gate.
    */
  private lazy val plantedVec: Seq[Float] =
    (0 until 64).map(i => (i % 4) match {
      case 0 => 0.1875f
      case 1 => -0.0625f
      case 2 => 0.0625f
      case _ => -0.1875f
    })

  private lazy val plantedVecSql: String =
    plantedVec.map(java.lang.Float.toString)
      .mkString("CAST([", ", ", "] AS FLOAT[])")

  /** The q6p batch as SQL: the q6o batch class plus the planted rows
    * (see the q6p entry comment). Lines must not begin with `|` — this
    * interpolates into an outer stripMargin template.
    */
  private def semSmBatchSql: String =
    s"""SELECT vec_id, embedding FROM embeddings WHERE vec_id % 11 = 0
       |  UNION ALL SELECT 9000000, $plantedVecSql
       |  UNION ALL SELECT 9000001, $plantedVecSql
       |  UNION ALL SELECT 9000002, embedding
       |            FROM embeddings WHERE vec_id = 1""".stripMargin

  /** The Spark twin of [[semSmBatchSql]]. */
  private def semSmBatch(s: org.apache.spark.sql.SparkSession,
                         d: String): org.apache.spark.sql.DataFrame = {
    import s.implicits._
    val emb = Tables.embeddings(s, d)
    emb.where(col("vec_id") % 11 === 0)
      .select(col("vec_id"), col("embedding"))
      .unionByName(Seq((9000000L, plantedVec), (9000001L, plantedVec))
        .toDF("vec_id", "embedding"))
      .unionByName(emb.where(col("vec_id") === 1)
        .select(lit(9000002L).as("vec_id"), col("embedding")))
  }

  /** The q6p persisted cell table: the CORPUS segment (seg=corpus) built
    * once per sf dir per session at a deterministic tmp root; the replay
    * clears and rewrites only the survivor segments (seg=b*) under it.
    */
  private val semCellCache = new Memo[String, String]
  private def ensureSemCellTable(s: org.apache.spark.sql.SparkSession,
                                 d: String): String =
    semCellCache(d) {
      val root = LmQueries.sessionTmp(s, "q6p_celltable", d)
      Similarity.writeSemCellSegment(
        Tables.embeddings(s, d).where(col("vec_id") % 11 =!= 0),
        "vec_id", ensureSemGateCentroids(s, d), root, "corpus")
      root
    }

  /** The q6z drift sidecar on the q6p cell table's root: the baseline
    * stat over the gate corpus, written once per sf dir (the replays
    * only clear seg=b* survivor segments — the sidecar persists).
    */
  private val semDriftCache = new Memo[String, String]
  private def ensureSemDriftSidecar(s: org.apache.spark.sql.SparkSession,
                                    d: String): String =
    semDriftCache(d) {
      val root = ensureSemCellTable(s, d)
      Similarity.writeSemDriftSidecar(s, root,
        Tables.embeddings(s, d).where(col("vec_id") % 11 =!= 0),
        ensureSemGateCentroids(s, d))
      root
    }

  /** The q5y PQ codebook fit, memoized per sf dir — the query and its
    * dynamic oracle must embed the IDENTICAL codebook (the ensureSelfModel
    * discipline; the fit itself is deterministic for a given corpus+seed,
    * spec-pinned).
    */
  private val pqCache = new Memo[String, Seq[Seq[Seq[Double]]]]
  private def ensurePqCodebooks(s: org.apache.spark.sql.SparkSession,
                                d: String): Seq[Seq[Seq[Double]]] =
    pqCache(d)(
      Similarity.fitPq(Tables.embeddings(s, d).where(col("vec_id") >= 5)))

  /** The q6h IVF-PQ fit (coarse cells + residual codebooks), memoized per
    * sf dir — same ensure discipline as the PQ codebooks above.
    */
  private val ivfPqCache =
    new Memo[String, (Seq[Seq[Double]], Seq[Seq[Seq[Double]]])]
  private def ensureIvfPq(s: org.apache.spark.sql.SparkSession, d: String)
      : (Seq[Seq[Double]], Seq[Seq[Seq[Double]]]) =
    ivfPqCache(d)(
      Similarity.fitIvfPq(Tables.embeddings(s, d).where(col("vec_id") >= 5)))

  /** The q6n persisted index: the q6h model encoded + written once per
    * sf dir (fit → write → serve-from-disk sits inside the correctness
    * gate; the oracle replays from the PRE-WRITE model literals).
    */
  private val ivfPqIndexCache = new Memo[String, String]
  private def ensureIvfPqIndex(s: org.apache.spark.sql.SparkSession,
                               d: String): String =
    ivfPqIndexCache(d) {
      val path = LmQueries.sessionTmp(s, "q6n_ivfpq_index", d)
      val (coarse, cbs) = ensureIvfPq(s, d)
      Similarity.writeIvfPqIndex(
        Tables.embeddings(s, d).where(col("vec_id") >= 5), "vec_id",
        path, coarse, cbs)
      path
    }

  /** The q6q two-batch index: built from the even corpus half, the odd
    * half appended with the saved model — once per sf dir, so the search
    * serves a genuinely incrementally-built index.
    */
  private val ivfPqAppendCache = new Memo[String, String]
  private def ensureIvfPqAppendedIndex(s: org.apache.spark.sql.SparkSession,
                                       d: String): String =
    ivfPqAppendCache(d) {
      val path = LmQueries.sessionTmp(s, "q6q_ivfpq_append", d)
      val (coarse, cbs) = ensureIvfPq(s, d)
      val corpus = Tables.embeddings(s, d).where(col("vec_id") >= 5)
      Similarity.writeIvfPqIndex(corpus.where(col("vec_id") % 2 === 0),
        "vec_id", path, coarse, cbs)
      Similarity.appendIvfPqIndex(corpus.where(col("vec_id") % 2 =!= 0),
        "vec_id", path)
      path
    }

  /** The q6y refit model: a SECOND deterministic fit over the full
    * corpus with a different seed — genuinely different centroids and
    * codebooks than [[ensureIvfPq]]'s, so a swap that silently served
    * the old index would produce old-model results against a new-model
    * oracle.
    */
  private val ivfPqRefitCache =
    new Memo[String, (Seq[Seq[Double]], Seq[Seq[Seq[Double]]])]
  private def ensureIvfPqRefit(s: org.apache.spark.sql.SparkSession,
                               d: String)
      : (Seq[Seq[Double]], Seq[Seq[Seq[Double]]]) =
    ivfPqRefitCache(d)(
      Similarity.fitIvfPq(
        Tables.embeddings(s, d).where(col("vec_id") >= 5), seed = 43L))

  /** The q6y index: the q6q lifecycle (build even half, append odd half)
    * followed by a REFIT-AND-SWAP with the fresh model over the full
    * corpus — once per sf dir, so the search genuinely serves the
    * post-swap artifact.
    */
  private val ivfPqRefitIdxCache = new Memo[String, String]
  private def ensureIvfPqRefitIndex(s: org.apache.spark.sql.SparkSession,
                                    d: String): String =
    ivfPqRefitIdxCache(d) {
      val path = LmQueries.sessionTmp(s, "q6y_ivfpq_refit", d)
      val (coarse, cbs) = ensureIvfPq(s, d)
      val corpus = Tables.embeddings(s, d).where(col("vec_id") >= 5)
      Similarity.writeIvfPqIndex(corpus.where(col("vec_id") % 2 === 0),
        "vec_id", path, coarse, cbs)
      Similarity.appendIvfPqIndex(corpus.where(col("vec_id") % 2 =!= 0),
        "vec_id", path)
      val (c1, b1) = ensureIvfPqRefit(s, d)
      Similarity.refitIvfPqIndex(corpus, "vec_id", path, c1, b1)
      path
    }

  /** The q77 index: the q6q lifecycle with the odd half appended as TWO
    * separate batches — each append lands its own part files, so the
    * cell partitions genuinely carry the many-small-files state — then
    * compacted to one file per cell. Built once per sf dir, so the
    * search genuinely serves the post-compaction tree.
    */
  private val ivfPqCompactCache = new Memo[String, String]
  private def ensureIvfPqCompactedIndex(s: org.apache.spark.sql.SparkSession,
                                        d: String): String =
    ivfPqCompactCache(d) {
      val path = LmQueries.sessionTmp(s, "q77_ivfpq_compact", d)
      val (coarse, cbs) = ensureIvfPq(s, d)
      val corpus = Tables.embeddings(s, d).where(col("vec_id") >= 5)
      Similarity.writeIvfPqIndex(corpus.where(col("vec_id") % 2 === 0),
        "vec_id", path, coarse, cbs)
      Similarity.appendIvfPqIndex(corpus.where(col("vec_id") % 4 === 1),
        "vec_id", path)
      Similarity.appendIvfPqIndex(corpus.where(col("vec_id") % 4 === 3),
        "vec_id", path)
      Similarity.compactIvfPqIndex(s, path)
      path
    }

  /** The q6t cell table: the q6o corpus written as TWO segments (a base
    * and a survivor-style increment) then compacted into one — built once
    * per sf dir, so the gate genuinely serves post-compaction state.
    */
  private val semCompactCache = new Memo[String, String]
  private def ensureCompactedCellTable(s: org.apache.spark.sql.SparkSession,
                                       d: String): String =
    semCompactCache(d) {
      val root = LmQueries.sessionTmp(s, "q6t_celltable", d)
      val corpus = Tables.embeddings(s, d).where(col("vec_id") % 11 =!= 0)
      val cents = ensureSemGateCentroids(s, d)
      Similarity.writeSemCellSegment(corpus.where(col("vec_id") % 2 === 0),
        "vec_id", cents, root, "corpus")
      Similarity.writeSemCellSegment(corpus.where(col("vec_id") % 2 =!= 0),
        "vec_id", cents, root, "b7")
      // the stream that wrote b7 is quiesced by construction here, so the
      // full fold is safe (the default keeps the latest b* segment for
      // crash-replay correctness under a live stream)
      Similarity.compactSemCellTable(s, root, "corpus2",
        keepLatestBatchSeg = false)
      root
    }

  /** The q7b refit centroids: a SECOND deterministic fit over the gate
    * corpus with a different seed — genuinely different blocking than
    * [[ensureSemGateCentroids]]', so a swap that silently kept the old
    * table would mis-cell state rows against the new assignment.
    */
  private val semRefitCentCache = new Memo[String, Seq[Seq[Double]]]
  private def ensureSemRefitCentroids(s: org.apache.spark.sql.SparkSession,
                                      d: String): Seq[Seq[Double]] =
    semRefitCentCache(d)(
      Similarity.fitSemDedupCentroids(
        Tables.embeddings(s, d).where(col("vec_id") % 11 =!= 0), seed = 43L))

  /** The q7b root: the q6t two-segment lifecycle (plus the drift
    * baseline the refit decision would have read) on its OWN root, then
    * refit-and-swap onto the fresh centroids — once per sf dir, so the
    * gate genuinely serves the post-swap re-blocked table. The stream
    * that wrote b7 is quiesced by construction here (the refit folds
    * every segment — the single-maintainer contract).
    */
  private val semRefitCache = new Memo[String, String]
  private def ensureRefitCellTable(s: org.apache.spark.sql.SparkSession,
                                   d: String): String =
    semRefitCache(d) {
      val root = LmQueries.sessionTmp(s, "q7b_celltable", d)
      val corpus = Tables.embeddings(s, d).where(col("vec_id") % 11 =!= 0)
      val cents = ensureSemGateCentroids(s, d)
      Similarity.writeSemCellSegment(corpus.where(col("vec_id") % 2 === 0),
        "vec_id", cents, root, "corpus")
      Similarity.writeSemCellSegment(corpus.where(col("vec_id") % 2 =!= 0),
        "vec_id", cents, root, "b7")
      Similarity.writeSemDriftSidecar(s, root, corpus, cents)
      // the drift contract fired: refit the blocking, re-block, swap
      Similarity.refitSemCellTable(s, root, ensureSemRefitCentroids(s, d))
      root
    }

  /** The q6i SemDeDup centroid fit, memoized per sf dir. */
  private val semCache = new Memo[String, Seq[Seq[Double]]]
  private def ensureSemCentroids(s: org.apache.spark.sql.SparkSession,
                                 d: String): Seq[Seq[Double]] =
    semCache(d)(
      Similarity.fitSemDedupCentroids(Tables.embeddings(s, d)))

  /** The q6o gate centroid fit — corpus side only (the blocking model
    * exists before any batch arrives), memoized per sf dir.
    */
  private val semGateCache = new Memo[String, Seq[Seq[Double]]]
  private def ensureSemGateCentroids(s: org.apache.spark.sql.SparkSession,
                                     d: String): Seq[Seq[Double]] =
    semGateCache(d)(
      Similarity.fitSemDedupCentroids(
        Tables.embeddings(s, d).where(col("vec_id") % 11 =!= 0)))

  /** The PQ/ADC replay as ONE SQL text parameterized on the fitted
    * codebooks and the corpus/query FROM clauses (table + predicate) —
    * the q5y oracle. Every per-dimension term
    * replays the kernel's exact chain (cast-to-double, subtract, square,
    * ×1e9, half-up round to BIGINT); code argmin ties break on cid, ADC
    * totals are integer sums, top-k ties on vec_id.
    */
  def pqReplaySql(cbs: Seq[Seq[Seq[Double]]], corpusFrom: String,
                  queryFrom: String, k: Int): String = {
    val ds = cbs.head.head.size
    val values = cbs.zipWithIndex.flatMap { case (cb, j) =>
      cb.zipWithIndex.map { case (c, i) =>
        val lst = c.map(x =>
            s"CAST(${java.lang.Double.toString(x)} AS DOUBLE)")
          .mkString("[", ", ", "]")
        s"  ($j, $i, $lst)"
      }
    }.mkString(",\n")
    s"""WITH cb(sub, cid, c) AS (VALUES
       |$values),
       |e AS (SELECT vec_id, embedding FROM $corpusFrom),
       |q AS (SELECT vec_id AS query_id, embedding AS qe FROM $queryFrom),
       |enc0 AS (
       |  SELECT e.vec_id, cb.sub, cb.cid,
       |    CAST(list_sum(
       |      [CAST(round(1e9 *
       |         ((CAST(e.embedding[cb.sub * $ds + i + 1] AS DOUBLE) - cb.c[i + 1])
       |          * (CAST(e.embedding[cb.sub * $ds + i + 1] AS DOUBLE) - cb.c[i + 1])))
       |        AS BIGINT)
       |       for i in range($ds)]) AS BIGINT) AS d
       |  FROM e CROSS JOIN cb),
       |enc AS (
       |  SELECT vec_id, sub, cid FROM (
       |    SELECT vec_id, sub, cid,
       |      row_number() OVER (PARTITION BY vec_id, sub
       |                         ORDER BY d, cid) AS rn
       |    FROM enc0) WHERE rn = 1),
       |adc0 AS (
       |  SELECT q.query_id, enc.vec_id,
       |    CAST(list_sum(
       |      [CAST(round(1e9 *
       |         ((CAST(q.qe[enc.sub * $ds + i + 1] AS DOUBLE) - cb.c[i + 1])
       |          * (CAST(q.qe[enc.sub * $ds + i + 1] AS DOUBLE) - cb.c[i + 1])))
       |        AS BIGINT)
       |       for i in range($ds)]) AS BIGINT) AS d
       |  FROM q CROSS JOIN enc
       |  JOIN cb ON cb.sub = enc.sub AND cb.cid = enc.cid),
       |adc AS (SELECT query_id, vec_id, CAST(sum(d) AS BIGINT) AS dist
       |        FROM adc0 GROUP BY query_id, vec_id),
       |r AS (SELECT query_id, vec_id, dist,
       |        row_number() OVER (PARTITION BY query_id
       |                           ORDER BY dist, vec_id) AS rn
       |      FROM adc)
       |SELECT query_id, vec_id, dist FROM r WHERE rn <= $k
       |ORDER BY query_id, vec_id""".stripMargin
  }

  private def doubleListLit(c: Seq[Double]): String =
    c.map(x => s"CAST(${java.lang.Double.toString(x)} AS DOUBLE)")
      .mkString("[", ", ", "]")

  /** The IVF-PQ/ADC replay as ONE SQL text parameterized on the fitted coarse
    * cells + residual codebooks and the corpus/query FROM clauses — the
    * oracle of q6h, q6n, q6q, q6y and q77, and the q6u recall replay. Replays
    * the kernel's exact chains on the nano-unit grid: coarse cell = full-dim
    * fixed-point argmin (ties to the low cell), residual code = per-subspace
    * argmin of ((e − cc) − c)² terms (ties to the low cid), probe set = each
    * query's nProbe lowest coarse distances (ties to the low cell), ADC =
    * integer residual sums, top-k ties on vec_id.
    */
  /** The ((e − cc) − c)² fixed-point term over subspace `sub` of vector
    * column `v` — the kernel's residSubDist chain, verbatim.
    */
  private def residTermSql(v: String, ds: Int): String =
    s"""CAST(list_sum(
       |      [CAST(round(1e9 *
       |         (((CAST($v[cb.sub * $ds + i + 1] AS DOUBLE)
       |             - cc.c[cb.sub * $ds + i + 1]) - cb.c[i + 1])
       |          * ((CAST($v[cb.sub * $ds + i + 1] AS DOUBLE)
       |             - cc.c[cb.sub * $ds + i + 1]) - cb.c[i + 1])))
       |        AS BIGINT)
       |       for i in range($ds)]) AS BIGINT)""".stripMargin

  private def coarseTermSql(v: String, dim: Int): String =
    s"""CAST(list_sum(
       |      [CAST(round(1e9 *
       |         ((CAST($v[i + 1] AS DOUBLE) - cc.c[i + 1])
       |          * (CAST($v[i + 1] AS DOUBLE) - cc.c[i + 1])))
       |        AS BIGINT)
       |       for i in range($dim)]) AS BIGINT)""".stripMargin

  def ivfPqReplaySql(coarse: Seq[Seq[Double]], cbs: Seq[Seq[Seq[Double]]],
                     corpusFrom: String, queryFrom: String,
                     k: Int, nProbe: Int): String = {
    val dim = coarse.head.size
    val ds = cbs.head.head.size
    val ccValues = coarse.zipWithIndex
      .map { case (c, i) => s"  ($i, ${doubleListLit(c)})" }
      .mkString(",\n")
    val cbValues = cbs.zipWithIndex.flatMap { case (cb, j) =>
      cb.zipWithIndex.map { case (c, i) => s"  ($j, $i, ${doubleListLit(c)})" }
    }.mkString(",\n")
    def residTerm(v: String): String = residTermSql(v, ds)
    def coarseTerm(v: String): String = coarseTermSql(v, dim)
    s"""WITH cc(cell, c) AS (VALUES
       |$ccValues),
       |cb(sub, cid, c) AS (VALUES
       |$cbValues),
       |e AS (SELECT vec_id, embedding FROM $corpusFrom),
       |q AS (SELECT vec_id AS query_id, embedding AS qe FROM $queryFrom),
       |cell0 AS (
       |  SELECT e.vec_id, cc.cell, ${coarseTerm("e.embedding")} AS d
       |  FROM e CROSS JOIN cc),
       |cella AS (
       |  SELECT vec_id, cell FROM (
       |    SELECT vec_id, cell,
       |      row_number() OVER (PARTITION BY vec_id ORDER BY d, cell) AS rn
       |    FROM cell0) WHERE rn = 1),
       |enc0 AS (
       |  SELECT e.vec_id, cella.cell, cb.sub, cb.cid,
       |    ${residTerm("e.embedding")} AS d
       |  FROM e JOIN cella USING (vec_id)
       |  JOIN cc ON cc.cell = cella.cell CROSS JOIN cb),
       |enc AS (
       |  SELECT vec_id, cell, sub, cid FROM (
       |    SELECT vec_id, cell, sub, cid,
       |      row_number() OVER (PARTITION BY vec_id, sub
       |                         ORDER BY d, cid) AS rn
       |    FROM enc0) WHERE rn = 1),
       |qp0 AS (
       |  SELECT q.query_id, cc.cell, ${coarseTerm("q.qe")} AS d
       |  FROM q CROSS JOIN cc),
       |qp AS (
       |  SELECT query_id, cell FROM (
       |    SELECT query_id, cell,
       |      row_number() OVER (PARTITION BY query_id
       |                         ORDER BY d, cell) AS rn
       |    FROM qp0) WHERE rn <= $nProbe),
       |adc0 AS (
       |  SELECT qp.query_id, enc.vec_id, ${residTerm("q.qe")} AS d
       |  FROM qp JOIN q USING (query_id)
       |  JOIN enc ON enc.cell = qp.cell
       |  JOIN cc ON cc.cell = qp.cell
       |  JOIN cb ON cb.sub = enc.sub AND cb.cid = enc.cid),
       |adc AS (SELECT query_id, vec_id, CAST(sum(d) AS BIGINT) AS dist
       |        FROM adc0 GROUP BY query_id, vec_id),
       |r AS (SELECT query_id, vec_id, dist,
       |        row_number() OVER (PARTITION BY query_id
       |                           ORDER BY dist, vec_id) AS rn
       |      FROM adc)
       |SELECT query_id, vec_id, dist FROM r WHERE rn <= $k
       |ORDER BY query_id, vec_id""".stripMargin
  }

  /** The q6u recall replay: the exact cosine top-k chain (the q4d float
    * pattern, positive-norm-guarded on both sides) joined against the
    * FULL integer-grid IVF-PQ replay (nested as a subquery — DuckDB
    * allows WITH inside parentheses), counted per query. n_hits is an
    * exact integer; the only float surface is the exact side's rank-k
    * cosine boundary (the accepted q4d precedent).
    */
  def ivfPqRecallReplaySql(coarse: Seq[Seq[Double]],
                           cbs: Seq[Seq[Seq[Double]]],
                           corpusFrom: String, queryFrom: String,
                           k: Int, nProbe: Int): String = {
    val approxSql = ivfPqReplaySql(coarse, cbs, corpusFrom, queryFrom,
        k, nProbe)
      .linesIterator.mkString("\n   ") // keep '|'-free continuation lines
    s"""WITH q AS (SELECT vec_id AS query_id, embedding AS qe
       |           FROM $queryFrom),
       |b AS (SELECT vec_id, embedding FROM $corpusFrom),
       |p AS (
       |  SELECT q.query_id, b.vec_id,
       |    list_cosine_similarity(CAST(b.embedding AS DOUBLE[]),
       |                           CAST(q.qe AS DOUBLE[])) AS c
       |  FROM b, q
       |  WHERE ${posNormSql("b.embedding")}
       |    AND ${posNormSql("q.qe")}),
       |r AS (SELECT query_id, vec_id,
       |        row_number() OVER (PARTITION BY query_id
       |                           ORDER BY c DESC, vec_id) AS rn
       |      FROM p),
       |exact AS (SELECT query_id, vec_id FROM r WHERE rn <= $k),
       |approx AS (SELECT query_id, vec_id FROM (
       |   $approxSql)),
       |hits AS (SELECT e.query_id, count(*) AS n FROM exact e
       |         JOIN approx a ON e.query_id = a.query_id
       |                      AND e.vec_id = a.vec_id
       |         GROUP BY e.query_id)
       |SELECT query_id, CAST(coalesce(n, 0) AS BIGINT) AS n_hits
       |FROM (SELECT DISTINCT query_id FROM exact) x
       |LEFT JOIN hits USING (query_id)
       |ORDER BY query_id""".stripMargin
  }

  /** The q6s drift replay: BOTH rows recomputed from the RAW tables —
    * per-vector min over the centroid values of the shared fixed-point
    * coarse term, summed as exact BIGINTs. The Spark side reads its
    * `build` row from the index sidecar, so a corrupted or stale stored
    * stat breaks the hash (the q6n artifact-binding discipline).
    */
  def ivfPqDriftReplaySql(coarse: Seq[Seq[Double]], buildFrom: String,
                          batchFrom: String): String = {
    val dim = coarse.head.size
    val ccValues = coarse.zipWithIndex
      .map { case (c, i) => s"  ($i, ${doubleListLit(c)})" }.mkString(",\n")
    def side(tag: String, from: String): String =
      s"""${tag}e AS (SELECT vec_id, embedding FROM $from),
         |${tag}d AS (SELECT vec_id, min(d) AS d FROM (
         |    SELECT ${tag}e.vec_id,
         |      ${coarseTermSql(s"${tag}e.embedding", dim)} AS d
         |    FROM ${tag}e CROSS JOIN cc) GROUP BY vec_id)""".stripMargin
    s"""WITH cc(cell, c) AS (VALUES
       |$ccValues),
       |""".stripMargin + side("b", batchFrom) + ",\n" + side("k", buildFrom) +
      s"""
         |SELECT 'batch' AS src, count(*) AS n,
         |  CAST(sum(d) AS BIGINT) AS sum_dist_nano FROM bd
         |UNION ALL
         |SELECT 'build', count(*), CAST(sum(d) AS BIGINT) FROM kd
         |ORDER BY src""".stripMargin
  }

  /** The SemDeDup replay as ONE SQL text parameterized on the fitted
    * centroids and the corpus FROM clause — the q6i oracle. Cell assignment
    * replays the kernel's exact fixed-point argmin (the q5y enc CTE with one
    * full-vector subspace, ties to the low cell); the pair test is the q4l
    * cosine chain rounded to 6 before the threshold compare; kept = no
    * qualifying lower-id cluster mate. `threshold` is passed as SQL text so
    * both engines parse the identical literal. Both sides of the pair CTE
    * carry a positive-norm guard mirroring the Spark side's `__n > 0` filter:
    * DuckDB's list_cosine_similarity on a zero vector yields NaN, and NaN >=
    * threshold is TRUE under its total order — without the guard a zero-norm
    * row would drop (and block cell-mates) in the oracle only. Zero-norm rows
    * stay in the final left-join output.
    */
  def semDedupReplaySql(centroids: Seq[Seq[Double]], corpusFrom: String,
                        threshold: String): String = {
    val dim = centroids.head.size
    val ccValues = centroids.zipWithIndex
      .map { case (c, i) => s"  ($i, ${doubleListLit(c)})" }
      .mkString(",\n")
    s"""WITH cc(cell, c) AS (VALUES
       |$ccValues),
       |e AS (SELECT vec_id, embedding FROM $corpusFrom),
       |cell0 AS (
       |  SELECT e.vec_id, cc.cell,
       |    CAST(list_sum(
       |      [CAST(round(1e9 *
       |         ((CAST(e.embedding[i + 1] AS DOUBLE) - cc.c[i + 1])
       |          * (CAST(e.embedding[i + 1] AS DOUBLE) - cc.c[i + 1])))
       |        AS BIGINT)
       |       for i in range($dim)]) AS BIGINT) AS d
       |  FROM e CROSS JOIN cc),
       |m AS (
       |  SELECT e.vec_id, x.cell, e.embedding FROM e JOIN (
       |    SELECT vec_id, cell FROM (
       |      SELECT vec_id, cell,
       |        row_number() OVER (PARTITION BY vec_id ORDER BY d, cell) AS rn
       |      FROM cell0) WHERE rn = 1) x USING (vec_id)),
       |p AS (
       |  SELECT y.vec_id AS idb,
       |    round(list_cosine_similarity(CAST(x.embedding AS DOUBLE[]),
       |                                 CAST(y.embedding AS DOUBLE[])), 6) AS c
       |  FROM m x JOIN m y ON x.cell = y.cell AND x.vec_id < y.vec_id
       |  WHERE list_sum(list_transform(CAST(x.embedding AS DOUBLE[]),
       |          v -> v * v)) > 0
       |    AND list_sum(list_transform(CAST(y.embedding AS DOUBLE[]),
       |          v -> v * v)) > 0),
       |d AS (SELECT DISTINCT idb FROM p WHERE c >= $threshold)
       |SELECT m.vec_id, m.cell, (d.idb IS NULL) AS kept
       |FROM m LEFT JOIN d ON m.vec_id = d.idb
       |ORDER BY m.vec_id""".stripMargin
  }

  /** The q6o semantic-gate replay: the [[semDedupReplaySql]] chain with
    * TWO assignment passes (batch + corpus through the identical
    * integer-argmin CTE) and the pair test joining batch cells to CORPUS
    * cells only — no id ordering, the corpus is prior art.
    */
  /** The cell-assignment CTE triple (`${tag}e`/`${tag}c0`/`${tag}m` —
    * rows, fixed-point distances, integer-argmin members) shared by the
    * q6o gate replay and the q6p two-round self-maintaining replay.
    */
  private def semAssignCtes(tag: String, from: String, dim: Int): String =
    s"""${tag}e AS (SELECT vec_id, embedding FROM $from),
       |${tag}c0 AS (
       |  SELECT ${tag}e.vec_id, cc.cell,
       |    CAST(list_sum(
       |      [CAST(round(1e9 *
       |         ((CAST(${tag}e.embedding[i + 1] AS DOUBLE) - cc.c[i + 1])
       |          * (CAST(${tag}e.embedding[i + 1] AS DOUBLE) - cc.c[i + 1])))
       |        AS BIGINT)
       |       for i in range($dim)]) AS BIGINT) AS d
       |  FROM ${tag}e CROSS JOIN cc),
       |${tag}m AS (
       |  SELECT ${tag}e.vec_id, x.cell, ${tag}e.embedding
       |  FROM ${tag}e JOIN (
       |    SELECT vec_id, cell FROM (
       |      SELECT vec_id, cell,
       |        row_number() OVER (PARTITION BY vec_id ORDER BY d, cell) AS rn
       |      FROM ${tag}c0) WHERE rn = 1) x USING (vec_id))""".stripMargin

  /** The positive-norm guard mirroring Spark's `__n > 0` filter (DuckDB
    * NaN-cosine total-order hazard — see [[semDedupReplaySql]]).
    */
  private def posNormSql(vec: String): String =
    s"list_sum(list_transform(CAST($vec AS DOUBLE[]), v -> v * v)) > 0"

  def semDedupGateReplaySql(centroids: Seq[Seq[Double]], batchFrom: String,
                            corpusFrom: String, threshold: String): String = {
    val dim = centroids.head.size
    val ccValues = centroids.zipWithIndex
      .map { case (c, i) => s"  ($i, ${doubleListLit(c)})" }
      .mkString(",\n")
    def assignCtes(tag: String, from: String): String =
      semAssignCtes(tag, from, dim)
    s"""WITH cc(cell, c) AS (VALUES
       |$ccValues),
       |""".stripMargin +
      assignCtes("b", batchFrom) + ",\n" + assignCtes("k", corpusFrom) +
      s""",
         |p AS (
         |  SELECT bm.vec_id AS idb,
         |    round(list_cosine_similarity(CAST(bm.embedding AS DOUBLE[]),
         |                                 CAST(km.embedding AS DOUBLE[])), 6) AS c
         |  FROM bm JOIN km ON bm.cell = km.cell
         |  WHERE list_sum(list_transform(CAST(bm.embedding AS DOUBLE[]),
         |          v -> v * v)) > 0
         |    AND list_sum(list_transform(CAST(km.embedding AS DOUBLE[]),
         |          v -> v * v)) > 0),
         |d AS (SELECT DISTINCT idb FROM p WHERE c >= $threshold)
         |SELECT bm.vec_id, bm.cell, (d.idb IS NULL) AS kept
         |FROM bm LEFT JOIN d ON bm.vec_id = d.idb
         |ORDER BY bm.vec_id""".stripMargin
  }

  /** The q6p SELF-MAINTAINING semantic-gate replay: TWO chained gate
    * rounds — batch 0 (even ids) gates against the corpus, batch 1 (odd
    * ids) against corpus ∪ BATCH 0'S SURVIVORS — exactly the 2-batch
    * stream replay's semantics (the q6c selfMaintainOracleSql shape on
    * the semantic axis). `batchSql` is a full SELECT yielding (vec_id,
    * embedding); output = the surviving ids of both batches. Cell
    * assignment, round-6 cosine, and the positive-norm guards are the
    * identical [[semDedupGateReplaySql]] machinery; only a gate whose
    * state GREW by round 0's survivors drops a batch-1 twin of a batch-0
    * survivor. The q6p oracle.
    */
  def semSelfMaintainReplaySql(centroids: Seq[Seq[Double]],
                               corpusFrom: String, batchSql: String,
                               threshold: String): String = {
    val dim = centroids.head.size
    val ccValues = centroids.zipWithIndex
      .map { case (c, i) => s"  ($i, ${doubleListLit(c)})" }
      .mkString(",\n")
    def round(tag: String, batchM: String, stateM: String): String =
      s"""p$tag AS (
         |  SELECT $batchM.vec_id AS idb,
         |    round(list_cosine_similarity(CAST($batchM.embedding AS DOUBLE[]),
         |                                 CAST($stateM.embedding AS DOUBLE[])),
         |      6) AS c
         |  FROM $batchM JOIN $stateM ON $batchM.cell = $stateM.cell
         |  WHERE ${posNormSql(s"$batchM.embedding")}
         |    AND ${posNormSql(s"$stateM.embedding")}),
         |d$tag AS (SELECT DISTINCT idb FROM p$tag WHERE c >= $threshold),
         |s$tag AS (SELECT vec_id, cell, embedding FROM $batchM
         |          WHERE vec_id NOT IN (SELECT idb FROM d$tag))""".stripMargin
    s"""WITH cc(cell, c) AS (VALUES
       |$ccValues),
       |batch AS ($batchSql),
       |b0 AS (SELECT * FROM batch WHERE vec_id % 2 = 0),
       |b1 AS (SELECT * FROM batch WHERE vec_id % 2 = 1),
       |""".stripMargin +
      semAssignCtes("k", corpusFrom, dim) + ",\n" +
      semAssignCtes("x", "b0", dim) + ",\n" +
      semAssignCtes("y", "b1", dim) + ",\n" +
      round("0", "xm", "km") + ",\n" +
      s"""st1 AS (SELECT vec_id, cell, embedding FROM km
         |        UNION ALL SELECT vec_id, cell, embedding FROM s0),
         |""".stripMargin +
      round("1", "ym", "st1") +
      s"""
         |SELECT vec_id FROM s0
         |UNION ALL SELECT vec_id FROM s1
         |ORDER BY vec_id""".stripMargin
  }
}
