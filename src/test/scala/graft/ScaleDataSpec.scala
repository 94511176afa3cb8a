package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** [[ScaleData]] at `copies = 2` over the sf0.001 tables (TESTDATA.md):
  * row counts and join fan-outs grow exactly 2×, keys stay distinct, and
  * copy 0 of the documents is the source verbatim.
  */
class ScaleDataSpec extends SparkSpec {
  private val src = "/root/testdata/sf0.001"
  private val once = Set("region", "nation")

  private def tmp(): String =
    java.nio.file.Files.createTempDirectory("graft-scaledata").toString
  private lazy val out = { val d = tmp(); ScaleData.write(spark, src, 2, d); d }
  private def at(dir: String, t: String): DataFrame =
    spark.read.parquet(s"$dir/$t.parquet")

  test("every scaled table holds exactly 2x the source rows; region and nation 1x") {
    Tables.names.foreach { t =>
      val factor = if (once(t)) 1 else 2
      assert(at(out, t).count() == factor * at(src, t).count(), t)
    }
  }

  test("every primary key is distinct") {
    // lineitem has none: (l_orderkey, l_linenumber) repeats in the source
    Seq("region" -> "r_regionkey", "nation" -> "n_nationkey",
        "customer" -> "c_custkey", "supplier" -> "s_suppkey",
        "part" -> "p_partkey", "orders" -> "o_orderkey",
        "events" -> "event_id", "documents" -> "doc_id",
        "embeddings" -> "vec_id").foreach { case (t, k) =>
      val df = at(out, t)
      assert(df.select(k).distinct().count() == df.count(), s"$t.$k")
    }
  }

  test("joins keep their per-copy fan-out: exactly 2x the source's join rows") {
    def joinRows(d: String): Seq[Long] = {
      val li = at(d, "lineitem")
      Seq(
        li.join(at(d, "orders"), col("l_orderkey") === col("o_orderkey")),
        at(d, "orders").join(at(d, "customer"),
          col("o_custkey") === col("c_custkey")),
        li.join(at(d, "part"), col("l_partkey") === col("p_partkey")),
        li.join(at(d, "supplier"), col("l_suppkey") === col("s_suppkey")),
        // unshifted user ids would pair every copy with every other: 4x
        at(d, "events").select("user_id")
          .join(at(d, "events").select("user_id"), "user_id")
      ).map(_.count())
    }
    val (a, b) = (joinRows(src), joinRows(out))
    assert(a.forall(_ > 0), a)
    assert(b == a.map(_ * 2), s"source $a, scaled $b")
  }

  test("every shifted key of a row points into the row's own copy") {
    // a foreign key left unshifted still joins 1:1 into copy 0's unique
    // keys, so the join counts above cannot see it
    Seq("orders" -> Seq("o_orderkey", "o_custkey"),
        "lineitem" -> Seq("l_orderkey", "l_partkey", "l_suppkey"),
        "events" -> Seq("event_id", "user_id")).foreach { case (t, ks) =>
      val copy = ks.map(k => floor(col(k) / ScaleData.IdShift))
      val mixed = at(out, t).where(copy.tail.map(_ =!= copy.head).reduce(_ || _))
      assert(mixed.isEmpty, t)
    }
  }

  test("copy 0 of documents is byte-identical to the source; copy 1 is marked") {
    val docs = at(out, "documents")
    val source = at(src, "documents")
    val copy0 = docs.where(col("doc_id") < ScaleData.IdShift)
    assert(copy0.exceptAll(source).isEmpty && source.exceptAll(copy0).isEmpty)
    val copy1 = docs.where(col("doc_id") >= ScaleData.IdShift)
      .select((col("doc_id") - ScaleData.IdShift).as("doc_id"),
        col("text"), col("n_chars"))
    val expect = source.select(col("doc_id"),
      concat(col("text"), lit(" copymark1")).as("text"))
      .withColumn("n_chars", length(col("text")).cast("long"))
    assert(copy1.exceptAll(expect).isEmpty && expect.exceptAll(copy1).isEmpty)
  }

  test("copies = 0 throws before writing anything") {
    val d = tmp()
    intercept[IllegalArgumentException](ScaleData.write(spark, src, 0, d))
    assert(new java.io.File(d).list().isEmpty)
  }
}
