package graft

import graft.expressions.{GramCounts, MinHashSignature, ShingleJaccard, SimHash64, SrpSignature, VecDot, WordShingles}
import org.apache.spark.SparkConf
import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal}
import org.apache.spark.sql.graft.ContextBridge

/** SQL surface for graft's native expressions.
  *
  * Two entry points:
  *  - `--conf spark.sql.extensions=graft.GraftExtensions` registers the
  *    functions at session build (the standard deployment path for a Spark
  *    library shipping custom Catalyst expressions);
  *  - `GraftExtensions.register(spark)` injects them into an already-running
  *    session (tests, notebooks).
  *
  * After either, plain SQL can use the kernels:
  * {{{
  *   SELECT vec_dot(a.embedding, b.embedding)          -- codegen'd dot product
  *   SELECT minhash_signature(word_shingles(text, 3), 32)
  *   SELECT simhash64(split(text, '\\s+'))
  * }}}
  *
  * The session-build path also sizes Spark's generated-class cache
  * ([[GraftExtensions.sizeCodegenCache]]). That cache is one per JVM, built
  * on first codegen from the static `spark.sql.codegen.cache.maxEntries`
  * (default 100). Spark applies extensions after the context starts and
  * before `SharedState` clones the context's conf, so both the session and
  * the cache see the value set here. An explicit user setting wins.
  * `register(spark)` on a running session cannot resize a cache that is
  * already built.
  *
  * Why 4096: the cache is keyed by class body and class loader, so the
  * driver and the task threads can hold the same code twice, and it evicts
  * per segment, so 100 entries already evict at ~90. The paper's pipeline
  * queries (q28, q30, q35, q36, q5h) fill 94 entries at sf0.01 and the
  * whole 159-query registry 1,480–1,614 after one and two rounds, and each
  * streaming gate trigger adds a few more. With 100 entries a second registry
  * round in one JVM still compiled 1,760 classes (17.3 s of compile time);
  * with 4096 it compiles 134 (1.4 s). 4096 holds the registry's working
  * set with 2× headroom.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ContextBridge.activeConf.foreach(GraftExtensions.sizeCodegenCache)
    GraftExtensions.builders.foreach { case (name, builder) =>
      ext.injectFunction(
        (org.apache.spark.sql.catalyst.FunctionIdentifier(name),
          new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(
            classOf[GraftExtensions].getName, name),
          builder))
    }
    ext.injectPlannerStrategy(_ => graft.plans.GroupedTopKStrategy)
  }
}

object GraftExtensions {

  private[graft] val CodegenCacheEntries = 4096

  /** Sets the generated-class cache size on `conf` unless it is set. */
  private[graft] def sizeCodegenCache(conf: SparkConf): SparkConf =
    conf.setIfMissing("spark.sql.codegen.cache.maxEntries",
      CodegenCacheEntries.toString)

  private def intArg(e: Expression, fn: String): Int = e match {
    case Literal(v: Int, _) => v
    case other => throw new IllegalArgumentException(
      s"$fn expects a literal INT argument, got $other")
  }

  private def longArg(e: Expression, fn: String): Long = e match {
    case Literal(v: Int, _) => v.toLong
    case Literal(v: Long, _) => v
    case other => throw new IllegalArgumentException(
      s"$fn expects a literal INT or BIGINT argument, got $other")
  }

  private[graft] val builders: Seq[(String, Seq[Expression] => Expression)] = Seq(
    "vec_dot" -> { args => VecDot(args(0), args(1)) },
    "word_shingles" -> { args => WordShingles(args(0), intArg(args(1), "word_shingles")) },
    "minhash_signature" -> { args =>
      MinHashSignature(args(0), intArg(args(1), "minhash_signature")) },
    "simhash64" -> { args => SimHash64(args(0)) },
    "shingle_jaccard" -> { args =>
      ShingleJaccard(args(0), args(1), intArg(args(2), "shingle_jaccard")) },
    "srp_signature" -> { args =>
      SrpSignature(args(0), intArg(args(1), "srp_signature"),
        longArg(args(2), "srp_signature")) },
    "gram_counts" -> { args =>
      GramCounts(args(0), intArg(args(1), "gram_counts")) })

  /** Runtime registration into an existing session (functions only: the
    * generated-class cache is sized at session build, see the class doc).
    */
  def register(spark: SparkSession): Unit =
    builders.foreach { case (name, builder) =>
      spark.sessionState.functionRegistry.createOrReplaceTempFunction(
        name, builder, "built-in")
    }
}
