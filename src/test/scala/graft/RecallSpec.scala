package graft

import graft.operators.{Dedup, Similarity}
import org.apache.spark.sql.functions._

/** Ground-truth recall of the approximate paths on the real sf0.001 tables:
  * LSH/IVF must actually find what brute force finds, not just run.
  */
class RecallSpec extends SparkSpec {
  import spark.implicits._

  private val dir = "/root/testdata/sf0.001"

  test("MinHash-LSH recalls >=90% of true Jaccard>=0.5 pairs (real docs + planted dupes)") {
    val docs = Tables.documents(spark, dir).select(col("doc_id"), col("text"))
    val dupes = docs.where(col("doc_id") % 5 === 0)
      .select((col("doc_id") + 1000000).as("doc_id"),
        concat(col("text"), lit(" extra tail words")).as("text"))
    val all = docs.unionByName(dupes).cache()

    // ground truth: exact all-pairs shingle Jaccard (small at sf0.001)
    val sh = all.select(col("doc_id"),
      graft.functions.TextFunctions.shingles(col("text"), 3).as("sh"))
    val a = sh.select(col("doc_id").as("doc_a"), col("sh").as("sh_a"))
    val b = sh.select(col("doc_id").as("doc_b"), col("sh").as("sh_b"))
    val truth = a.join(b, col("doc_a") < col("doc_b"))
      .withColumn("inter", size(array_intersect(col("sh_a"), col("sh_b"))))
      .withColumn("j", col("inter").cast("double") /
        (size(col("sh_a")) + size(col("sh_b")) - col("inter")))
      .filter(col("j") >= 0.5)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(truth.nonEmpty, "planted dupes must create true pairs")

    val found = Dedup.minhashNearDupes(all, "doc_id", "text", threshold = 0.5)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    val recall = found.intersect(truth).size.toDouble / truth.size
    assert(recall >= 0.9, s"LSH recall $recall over ${truth.size} true pairs")
    assert(found.subsetOf(truth), "verify stage must kill false positives")
    all.unpersist()
  }

  test("SimHash blocking recalls planted near-dupes on real docs") {
    val docs = Tables.documents(spark, dir).select(col("doc_id"), col("text"))
    val dupes = docs.where(col("doc_id") % 5 === 0)
      .select((col("doc_id") + 1000000).as("doc_id"),
        concat(col("text"), lit(" tail")).as("text"))
    val all = docs.unionByName(dupes)
    // ground truth: planted pairs whose ACTUAL hamming distance qualifies
    // (appending " tail" to a short doc can flip more than maxHamming bits)
    val signed = all.select(col("doc_id").as("doc"), Dedup.simhash64(col("text")).as("sh"))
    val sigs = signed.as[(Long, Long)].collect().toMap
    val plantedPairs: Set[(Long, Long)] = dupes
      .select((col("doc_id") - 1000000).as("a"), col("doc_id").as("b"))
      .as[(Long, Long)].collect().toSet
    val qualifying = plantedPairs.filter(p =>
      java.lang.Long.bitCount(sigs(p._1) ^ sigs(p._2)) <= 6)
    assert(qualifying.size >= 80, s"most planted dupes should be close, got ${qualifying.size}")
    val found = Dedup.simhashNearDupesFromSigs(signed, maxHamming = 6, bands = 8)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    // pigeonhole: bands(8) > maxHamming(6) makes recall EXACT on qualifiers
    assert(qualifying.subsetOf(found),
      s"multi-band blocking must find every pair with d<=maxHamming; missed ${qualifying.diff(found)}")
  }

  test("SRP-LSH and IVF ANN recall the brute-force top-1 for most queries") {
    val emb = Tables.embeddings(spark, dir).cache()
    val queries = emb.where(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("embedding"))
    val corpus = emb.where(col("vec_id") >= 10)

    // brute-force top-1 per query
    val qn = queries.withColumn("qn", Similarity.norm(col("embedding")))
    val cn = corpus.select(col("vec_id"), col("embedding").as("ce"))
      .withColumn("cn", Similarity.norm(col("ce")))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id").orderBy(col("cos").desc, col("vec_id"))
    val truth = qn.crossJoin(cn)
      .withColumn("cos", Similarity.dot(col("embedding"), col("ce")) / (col("qn") * col("cn")))
      .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select(col("query_id"), col("vec_id")).as[(Long, Long)].collect().toMap

    def top1(df: org.apache.spark.sql.DataFrame): Map[Long, Long] = {
      val w2 = org.apache.spark.sql.expressions.Window
        .partitionBy("query_id").orderBy(col("cos").desc, col("vec_id"))
      df.withColumn("rn", row_number().over(w2)).filter(col("rn") === 1)
        .select(col("query_id"), col("vec_id")).as[(Long, Long)].collect().toMap
    }
    val lsh = top1(Similarity.lshTopK(corpus, "vec_id", queries, "query_id",
      k = 1, planes = 4))
    val ivf = top1(Similarity.ivfTopK(corpus, "vec_id", queries, "query_id",
      k = 1, nCentroids = 8, nProbe = 4))

    val lshHits = truth.count { case (q, v) => lsh.get(q).contains(v) }
    val ivfHits = truth.count { case (q, v) => ivf.get(q).contains(v) }
    assert(lshHits >= 5, s"SRP-LSH top-1 recall $lshHits/10")
    assert(ivfHits >= 5, s"IVF top-1 recall $ivfHits/10")
    emb.unpersist()
  }
}
