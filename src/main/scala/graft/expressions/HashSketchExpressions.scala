package graft.expressions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, XXH64}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types._

/** Native codegen'd hash-sketch kernels over token/shingle arrays.
  *
  * Why native: the composable formulations (`transform`/`aggregate` lambdas,
  * or explode + hash-aggregate) either interpret per element or shuffle
  * numDocs × numHashes longs. These expressions compute a whole signature
  * per row inside whole-stage codegen — dedup sketching at scan speed with
  * ZERO shuffle, the shape that holds at 100 TB.
  *
  * Bit-compatibility: Spark's `xxhash64(s, lit(i))` folds children through
  * XXH64 starting from seed 42 — `hashInt(i, hashUTF8String(s, 42))` (the
  * literal is an Int, so the fold step is hashInt). Both
  * kernels replicate that exactly (pinned by DedupSpec equality tests), and
  * additionally hash each string ONCE, reusing it across all hash functions
  * (the expression form re-hashes the string per function).
  */

/** MinHash signature: `array(min_j hashInt(i, h0_j))_i` for i < numHashes
  * over the element hashes h0_j. Null elements hash like `xxhash64(null, i)`
  * (hash skipped, fold continues from the seed); an empty array yields a
  * null signature.
  *
  * Null-ARRAY contract (intentional divergence from the pinned expression
  * form, which emits an array of nulls for null text): the kernel returns
  * NULL, so null-text docs produce null band keys and silently drop out of
  * LSH bucketing instead of all colliding in one degenerate bucket. The
  * DedupSpec bit-equality pin covers non-null inputs only.
  */
case class MinHashSignature(child: Expression, numHashes: Int)
    extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) if numHashes > 0 => TypeCheckResult.TypeCheckSuccess
    case _ => TypeCheckResult.TypeCheckFailure(
      s"minhash_signature requires ARRAY<STRING> and numHashes > 0, got " +
        s"${child.dataType.simpleString} / $numHashes")
  }

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true

  override def eval(input: InternalRow): Any = {
    val v = child.eval(input)
    if (v == null) return null
    val a = v.asInstanceOf[ArrayData]
    val n = a.numElements()
    if (n == 0) return null
    val mins = Array.fill(numHashes)(Long.MaxValue)
    var j = 0
    while (j < n) {
      val h0 = if (a.isNullAt(j)) 42L
               else XXH64.hashUTF8String(a.getUTF8String(j), 42L)
      var i = 0
      while (i < numHashes) {
        val h = XXH64.hashInt(i, h0)
        if (h < mins(i)) mins(i) = h
        i += 1
      }
      j += 1
    }
    new GenericArrayData(mins)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val xxh = classOf[XXH64].getName
    val gad = classOf[GenericArrayData].getName
    nullSafeCodeGen(ctx, ev, a => {
      val n = ctx.freshName("n"); val j = ctx.freshName("j")
      val i = ctx.freshName("i"); val mins = ctx.freshName("mins")
      val h0 = ctx.freshName("h0"); val h = ctx.freshName("h")
      s"""
         |final int $n = $a.numElements();
         |if ($n == 0) {
         |  ${ev.isNull} = true;
         |} else {
         |  final long[] $mins = new long[$numHashes];
         |  java.util.Arrays.fill($mins, Long.MAX_VALUE);
         |  for (int $j = 0; $j < $n; $j++) {
         |    final long $h0 = $a.isNullAt($j) ? 42L
         |      : $xxh.hashUTF8String($a.getUTF8String($j), 42L);
         |    for (int $i = 0; $i < $numHashes; $i++) {
         |      final long $h = $xxh.hashInt($i, $h0);
         |      if ($h < $mins[$i]) $mins[$i] = $h;
         |    }
         |  }
         |  ${ev.value} = new $gad($mins);
         |}
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(newChild: Expression): MinHashSignature =
    copy(child = newChild)
}

/** 64-bit SimHash: bit j of the result is the sign of
  * Σ_elements (bit j of xxhash64(element) ? +1 : -1) — bit-identical to the
  * `aggregate`-lambda formulation (non-null inputs), one string hash per
  * element.
  *
  * Null-ARRAY contract (intentional divergence from the pinned lambda form,
  * which folds null text to 0L): the kernel returns NULL, so null-text docs
  * drop out of simhash band-joins instead of all clustering at signature 0
  * — the same carve-out SrpSignature documents.
  */
case class SimHash64(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case _ => TypeCheckResult.TypeCheckFailure(
      s"simhash64 requires ARRAY<STRING>, got ${child.dataType.simpleString}")
  }

  override def dataType: DataType = LongType

  override def nullSafeEval(v: Any): Any = {
    val a = v.asInstanceOf[ArrayData]
    val n = a.numElements()
    val votes = new Array[Int](64)
    var j = 0
    while (j < n) {
      val h = if (a.isNullAt(j)) 42L
              else XXH64.hashUTF8String(a.getUTF8String(j), 42L)
      var b = 0
      while (b < 64) {
        if (((h >>> b) & 1L) == 1L) votes(b) += 1 else votes(b) -= 1
        b += 1
      }
      j += 1
    }
    var out = 0L
    var b = 0
    while (b < 64) { if (votes(b) > 0) out |= (1L << b); b += 1 }
    out
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val xxh = classOf[XXH64].getName
    nullSafeCodeGen(ctx, ev, a => {
      val n = ctx.freshName("n"); val j = ctx.freshName("j")
      val b = ctx.freshName("b"); val votes = ctx.freshName("votes")
      val h = ctx.freshName("h"); val out = ctx.freshName("out")
      s"""
         |final int $n = $a.numElements();
         |final int[] $votes = new int[64];
         |for (int $j = 0; $j < $n; $j++) {
         |  final long $h = $a.isNullAt($j) ? 42L
         |    : $xxh.hashUTF8String($a.getUTF8String($j), 42L);
         |  for (int $b = 0; $b < 64; $b++) {
         |    if ((($h >>> $b) & 1L) == 1L) $votes[$b]++; else $votes[$b]--;
         |  }
         |}
         |long $out = 0L;
         |for (int $b = 0; $b < 64; $b++) {
         |  if ($votes[$b] > 0) $out |= (1L << $b);
         |}
         |${ev.value} = $out;
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(newChild: Expression): SimHash64 =
    copy(child = newChild)
}

/** SimHash over an ENGINE-PORTABLE token hash: each token's value is the
  * first 15 hex chars of its MD5 parsed as a 60-bit integer (==
  * `CAST('0x' || substr(md5(t),1,15) AS BIGINT)` in DuckDB, ==
  * `conv(substring(md5(t),1,15),16,10)` in Spark SQL), so any engine with
  * `md5` reproduces the signature bit-for-bit — the cross-engine-verifiable
  * sibling of [[SimHash64]] (whose xxhash64 seed folding is Spark-internal).
  *
  * Why a kernel: the column formulation (explode tokens → md5/conv →
  * 60-column vote aggregation) shuffles every token hash and hands Janino a
  * 60-aggregate monster (~6 s one-time compile, ~2 s/run at sf0.1); this
  * expression computes the whole signature per row inside whole-stage
  * codegen — one digest per token, zero shuffle (measured ~4× on q47).
  * Bit-equality with the agg form is pinned by DedupSpec.
  *
  * Null tokens are SKIPPED (the agg form's `sum` ignores the null vote rows
  * md5(NULL) produces); a null array is null, an empty array yields
  * signature 0 (no votes > 0).
  */
case class Md5SimHash(child: Expression, bits: Int) extends UnaryExpression {
  require(bits >= 1 && bits <= 60, s"bits must be in [1,60], got $bits")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case _ => TypeCheckResult.TypeCheckFailure(
      s"md5_simhash requires ARRAY<STRING>, got ${child.dataType.simpleString}")
  }

  override def dataType: DataType = LongType

  override def nullSafeEval(v: Any): Any = {
    val a = v.asInstanceOf[ArrayData]
    val n = a.numElements()
    val votes = new Array[Int](bits)
    var j = 0
    while (j < n) {
      if (!a.isNullAt(j)) {
        val h = Md5SimHash.hash60(a.getUTF8String(j).getBytes)
        var b = 0
        while (b < bits) {
          if (((h >>> b) & 1L) == 1L) votes(b) += 1 else votes(b) -= 1
          b += 1
        }
      }
      j += 1
    }
    var out = 0L
    var b = 0
    while (b < bits) { if (votes(b) > 0) out |= (1L << b); b += 1 }
    out
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cls = Md5SimHash.getClass.getName.stripSuffix("$") + "$.MODULE$"
    nullSafeCodeGen(ctx, ev, a => {
      val n = ctx.freshName("n"); val j = ctx.freshName("j")
      val b = ctx.freshName("b"); val votes = ctx.freshName("votes")
      val h = ctx.freshName("h"); val out = ctx.freshName("out")
      s"""
         |final int $n = $a.numElements();
         |final int[] $votes = new int[$bits];
         |for (int $j = 0; $j < $n; $j++) {
         |  if (!$a.isNullAt($j)) {
         |    final long $h = $cls.hash60($a.getUTF8String($j).getBytes());
         |    for (int $b = 0; $b < $bits; $b++) {
         |      if ((($h >>> $b) & 1L) == 1L) $votes[$b]++; else $votes[$b]--;
         |    }
         |  }
         |}
         |long $out = 0L;
         |for (int $b = 0; $b < $bits; $b++) {
         |  if ($votes[$b] > 0) $out |= (1L << $b);
         |}
         |${ev.value} = $out;
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(newChild: Expression): Md5SimHash =
    copy(child = newChild)
}

object Md5SimHash {
  // MessageDigest is stateful and not thread-safe; one instance per thread
  // (tasks are single-threaded, threads are pooled)
  private val digests = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  /** First 15 hex chars of md5(bytes) as a long == big-endian value of the
    * digest's first 8 bytes, unsigned-shifted right by one nibble.
    */
  def hash60(bytes: Array[Byte]): Long = {
    val md = digests.get()
    md.reset()
    val d = md.digest(bytes)
    var v = 0L
    var i = 0
    while (i < 8) { v = (v << 8) | (d(i) & 0xffL); i += 1 }
    v >>> 4
  }
}

object HashSketchExpressions {
  /** Column-level MinHash signature (see [[MinHashSignature]]). */
  def minhashSig(shingles: Column, numHashes: Int): Column =
    ColumnBridge.column(MinHashSignature(ColumnBridge.expression(shingles), numHashes))

  /** Column-level portable-hash SimHash (see [[Md5SimHash]]). */
  def md5Simhash(tokens: Column, bits: Int = 60): Column =
    ColumnBridge.column(Md5SimHash(ColumnBridge.expression(tokens), bits))
}
