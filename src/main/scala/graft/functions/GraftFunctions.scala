package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpressionInfo, Literal, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expressions for the graft extension operators.
  *
  * These are tier-(b) custom expressions (SURVEY §7.3 preference order):
  * full `doGenCode` implementations whose generated code is a single
  * static kernel call (see [[Kernels]]), so they participate in
  * whole-stage codegen and run JIT-compiled — unlike higher-order-
  * function formulations, which Spark evaluates interpreted.
  */

/** md5-family minhash signature (cross-engine-checkable; see Kernels). */
case class Md5MinHashSig(child: Expression, numHashes: Int)
    extends UnaryExpression {
  require(numHashes > 0, "numHashes must be positive")
  override def checkInputDataTypes(): TypeCheckResult =
    GraftFunctions.requireStringArray(child, prettyName)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_md5_minhash_sig"
  override protected def nullSafeEval(input: Any): Any =
    Kernels.md5MinhashSig(input.asInstanceOf[ArrayData], numHashes)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.Kernels.md5MinhashSig($c, $numHashes)")
  override protected def withNewChildInternal(newChild: Expression): Md5MinHashSig =
    copy(child = newChild)
}

/** md5-family 60-bit simhash (cross-engine-checkable; see Kernels). */
case class Md5SimHash60(child: Expression)
    extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    GraftFunctions.requireStringArray(child, prettyName)
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_md5_simhash60"
  override protected def nullSafeEval(input: Any): Any =
    Kernels.md5Simhash60(input.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.Kernels.md5Simhash60($c)")
  override protected def withNewChildInternal(newChild: Expression): Md5SimHash60 =
    copy(child = newChild)
}

/** The 56-bit engine-portable hash behind [[graft.ops.Sampling.hashValue]]
  * as ONE codegen'd kernel call (see Kernels.md5Low56) instead of the
  * md5-hex → substring×7 → concat → conv string pipeline — bit-identical
  * values, so every oracle stays valid, at a fraction of the per-row
  * cost on the ~50 hash-based registry paths. */
case class Md5Low56(child: Expression)
    extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName needs a string child, got ${child.dataType.sql}")
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_md5_low56"
  override protected def nullSafeEval(input: Any): Any =
    Kernels.md5Low56(input.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.Kernels.md5Low56($c)")
  override protected def withNewChildInternal(newChild: Expression): Md5Low56 =
    copy(child = newChild)
}

/** Karp–Rabin rolling-hash winnowing fingerprints over char k-grams
  * (oracle-checkable; see Kernels.winnowRoll). */
case class WinnowRoll(child: Expression, k: Int, w: Int)
    extends UnaryExpression {
  require(k > 0 && w > 0, "k and w must be positive")
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects string, got ${other.catalogString}")
  }
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_winnow_roll"
  override protected def nullSafeEval(input: Any): Any =
    Kernels.winnowRoll(input.asInstanceOf[UTF8String], k, w)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.Kernels.winnowRoll($c, $k, $w)")
  override protected def withNewChildInternal(newChild: Expression): WinnowRoll =
    copy(child = newChild)
}

/** Sorted-distinct word n-gram shingles of a token array. */
case class WordShingles(child: Expression, n: Int)
    extends UnaryExpression {
  require(n > 0, "n must be positive")
  override def checkInputDataTypes(): TypeCheckResult =
    GraftFunctions.requireStringArray(child, prettyName)
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "graft_word_shingles"
  override protected def nullSafeEval(input: Any): Any =
    Kernels.wordShingles(input.asInstanceOf[ArrayData], n)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.Kernels.wordShingles($c, $n)")
  override protected def withNewChildInternal(newChild: Expression): WordShingles =
    copy(child = newChild)
}

/** Dot product of two array<double> (hot loop of every similarity op). */
/** Native bounded top-k aggregate: keeps the k (score, key) pairs with
  * the highest scores (ties to the smaller key), returned as a sorted
  * array of structs — tier-(b) custom AGGREGATE, completing the scalar
  * Expression tier above.
  *
  * The scale point vs the window formulation
  * (`row_number() OVER (PARTITION BY g ORDER BY s DESC) <= k`): a
  * window must shuffle EVERY row of every group to its reducer before
  * discarding all but k; this aggregate is partial-aggregable, so each
  * map task ships at most k pairs per group into the shuffle — for
  * "top 3 of millions per group" that is the difference between moving
  * the corpus and moving k·groups rows. (Spark's own
  * WindowGroupLimit pushes a rank limit into the shuffle per
  * partition, but still materializes and sorts full groups; the
  * aggregate keeps constant state per group per task.)
  *
  * Buffer is a bounded binary min-heap ordered by evictability (lowest
  * score first, larger key first on ties): update is O(log k), merge
  * O(k log k), NULL score/key rows ignored. */
case class TopKByScore(
    scoreExpr: Expression, keyExpr: Expression, k: Int,
    mutableAggBufferOffset: Int = 0, inputAggBufferOffset: Int = 0)
    extends org.apache.spark.sql.catalyst.expressions.aggregate
      .TypedImperativeAggregate[scala.collection.mutable.PriorityQueue[(Double, Long)]] {
  require(k > 0, s"graft_topk_by: need k > 0, got $k")

  // dequeue yields the MOST EVICTABLE pair under this ordering
  private def evictability: Ordering[(Double, Long)] =
    Ordering.by { case (s, key) => (-s, key) }

  override def children: Seq[Expression] = Seq(scoreExpr, keyExpr)
  override def checkInputDataTypes(): TypeCheckResult =
    (scoreExpr.dataType, keyExpr.dataType) match {
      case (DoubleType, LongType) => TypeCheckResult.TypeCheckSuccess
      case (s, key) => TypeCheckResult.TypeCheckFailure(
        s"graft_topk_by expects (double, bigint), got " +
          s"(${s.catalogString}, ${key.catalogString})")
    }
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("score", DoubleType, nullable = false),
    StructField("key", LongType, nullable = false))), containsNull = false)
  override def nullable: Boolean = false
  override def prettyName: String = "graft_topk_by"

  override def createAggregationBuffer(): scala.collection.mutable.PriorityQueue[(Double, Long)] =
    scala.collection.mutable.PriorityQueue.empty(evictability)

  private def insert(buf: scala.collection.mutable.PriorityQueue[(Double, Long)],
                     s: Double, key: Long): Unit = {
    if (buf.size < k) buf.enqueue((s, key))
    else {
      val (ws, wk) = buf.head
      // keep the incoming pair iff it beats the current worst
      if (s > ws || (s == ws && key < wk)) {
        buf.dequeue(); buf.enqueue((s, key)); ()
      }
    }
  }

  override def update(buf: scala.collection.mutable.PriorityQueue[(Double, Long)],
                      input: org.apache.spark.sql.catalyst.InternalRow): scala.collection.mutable.PriorityQueue[(Double, Long)] = {
    val s = scoreExpr.eval(input)
    val key = keyExpr.eval(input)
    if (s != null && key != null)
      insert(buf, s.asInstanceOf[Double], key.asInstanceOf[Long])
    buf
  }

  override def merge(buf: scala.collection.mutable.PriorityQueue[(Double, Long)],
                     other: scala.collection.mutable.PriorityQueue[(Double, Long)]): scala.collection.mutable.PriorityQueue[(Double, Long)] = {
    other.foreach { case (s, key) => insert(buf, s, key) }
    buf
  }

  override def eval(buf: scala.collection.mutable.PriorityQueue[(Double, Long)]): Any = {
    val sorted = buf.toSeq.sortBy { case (s, key) => (-s, key) }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(
      sorted.map { case (s, key) =>
        org.apache.spark.sql.catalyst.InternalRow(s, key) })
  }

  override def serialize(buf: scala.collection.mutable.PriorityQueue[(Double, Long)]): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(4 + buf.size * 16)
    bb.putInt(buf.size)
    buf.foreach { case (s, key) => bb.putDouble(s); bb.putLong(key) }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): scala.collection.mutable.PriorityQueue[(Double, Long)] = {
    val bb = java.nio.ByteBuffer.wrap(bytes)
    val n = bb.getInt
    val buf = createAggregationBuffer()
    (0 until n).foreach { _ => buf.enqueue((bb.getDouble, bb.getLong)) }
    buf
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): TopKByScore =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): TopKByScore =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): TopKByScore =
    copy(scoreExpr = newChildren(0), keyExpr = newChildren(1))
}

/** Per-row fixed-point Gram contribution (see [[Kernels.gramUpperTriQ]]):
  * array<float> vector → array<long> of the d(d+1)/2 quantized
  * upper-triangle products. */
case class GramUpperTriQ(child: Expression) extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"graft_gram_upper_q expects array<float>, got ${other.catalogString}")
  }
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_gram_upper_q"
  override protected def nullSafeEval(input: Any): Any =
    Kernels.gramUpperTriQ(input.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.Kernels.gramUpperTriQ($c)")
  override protected def withNewChildInternal(newChild: Expression): GramUpperTriQ =
    copy(child = newChild)
}

/** Elementwise sum of array<long> — the missing vector-accumulator
  * aggregate (Spark has no built-in elementwise array sum; the explode/
  * groupBy formulation shuffles d rows per input row). Partial-
  * aggregable: each task keeps ONE d-long buffer, the shuffle moves one
  * buffer per task per group, and because long addition is exact and
  * associative the result is bit-identical under any partitioning —
  * the backbone of the fixed-point Gram/gradient queries.
  *
  * All non-null inputs must share one length (the first array seen
  * fixes it; a mismatch throws — vector corpora with ragged dims are a
  * data bug, not something to silently zero-extend). NULL inputs are
  * skipped; an all-NULL (or empty) group yields an empty array. */
case class SumLongArray(
    child: Expression,
    mutableAggBufferOffset: Int = 0, inputAggBufferOffset: Int = 0)
    extends org.apache.spark.sql.catalyst.expressions.aggregate
      .TypedImperativeAggregate[Array[Long]] {

  override def children: Seq[Expression] = Seq(child)
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"graft_sum_long_array expects array<bigint>, got ${other.catalogString}")
  }
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = false
  override def prettyName: String = "graft_sum_long_array"

  override def createAggregationBuffer(): Array[Long] = Array.emptyLongArray

  private def addInto(buf: Array[Long], arr: ArrayData): Array[Long] = {
    val n = arr.numElements()
    val target = if (buf.length == 0) new Array[Long](n) else buf
    if (target.length != n)
      throw new IllegalArgumentException(
        s"graft_sum_long_array: array length $n != accumulated ${target.length}")
    var i = 0
    while (i < n) {
      if (!arr.isNullAt(i)) target(i) += arr.getLong(i)
      i += 1
    }
    target
  }

  override def update(buf: Array[Long],
                      input: org.apache.spark.sql.catalyst.InternalRow): Array[Long] = {
    val v = child.eval(input)
    if (v == null) buf else addInto(buf, v.asInstanceOf[ArrayData])
  }

  override def merge(buf: Array[Long], other: Array[Long]): Array[Long] = {
    if (other.length == 0) return buf
    if (buf.length == 0) return other
    if (buf.length != other.length)
      throw new IllegalArgumentException(
        s"graft_sum_long_array: merge lengths differ (${buf.length} vs ${other.length})")
    var i = 0
    while (i < buf.length) { buf(i) += other(i); i += 1 }
    buf
  }

  override def eval(buf: Array[Long]): Any = new GenericArrayData(buf)

  override def serialize(buf: Array[Long]): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(4 + buf.length * 8)
    bb.putInt(buf.length)
    buf.foreach(bb.putLong)
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): Array[Long] = {
    val bb = java.nio.ByteBuffer.wrap(bytes)
    val out = new Array[Long](bb.getInt)
    var i = 0
    while (i < out.length) { out(i) = bb.getLong; i += 1 }
    out
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): SumLongArray =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): SumLongArray =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): SumLongArray =
    copy(child = newChildren(0))
}

case class DotProduct(left: Expression, right: Expression)
    extends BinaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    Seq(left, right).map(e => GraftFunctions.requireDoubleArray(e, prettyName))
      .collectFirst { case f: TypeCheckResult.TypeCheckFailure => f }
      .getOrElse(TypeCheckResult.TypeCheckSuccess)
  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_dot"
  override protected def nullSafeEval(a: Any, b: Any): Any =
    Kernels.dot(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.Kernels.dot($a, $b)")
  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): DotProduct =
    copy(left = newLeft, right = newRight)
}

/** Symmetric max-abs int8 quantization of an array<float> vector. */
case class QuantizeInt8(child: Expression)
    extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects array<float>, got ${other.catalogString}")
  }
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def prettyName: String = "graft_quantize_int8"
  override protected def nullSafeEval(input: Any): Any =
    Kernels.quantizeInt8(input.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.Kernels.quantizeInt8($c)")
  override protected def withNewChildInternal(newChild: Expression): QuantizeInt8 =
    copy(child = newChild)
}

/** |A ∩ B| of two sorted-distinct string arrays (merge count). */
case class SortedIntersectCount(left: Expression, right: Expression)
    extends BinaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    Seq(left, right).map(e => GraftFunctions.requireStringArray(e, prettyName))
      .collectFirst { case f: TypeCheckResult.TypeCheckFailure => f }
      .getOrElse(TypeCheckResult.TypeCheckSuccess)
  override def dataType: DataType = IntegerType
  override def prettyName: String = "graft_sorted_intersect_count"
  override protected def nullSafeEval(a: Any, b: Any): Any =
    Kernels.sortedIntersectCount(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.Kernels.sortedIntersectCount($a, $b)")
  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): SortedIntersectCount =
    copy(left = newLeft, right = newRight)
}

/** Jaro-Winkler similarity of two strings over UTF-8 bytes, DuckDB-
  * `jaro_winkler_similarity`-compatible (see [[Kernels.jaroWinkler]] for
  * the exact contract incl. the empty-string and boost-threshold edges). */
case class JaroWinkler(left: Expression, right: Expression)
    extends BinaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    Seq(left, right).collectFirst {
      // NullType is a literal NULL: nullSafeEval short-circuits it
      case e if e.dataType != StringType && e.dataType != NullType =>
        TypeCheckResult.TypeCheckFailure(
          s"$prettyName expects string inputs, got ${e.dataType.catalogString}")
    }.getOrElse(TypeCheckResult.TypeCheckSuccess)
  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_jaro_winkler"
  override protected def nullSafeEval(a: Any, b: Any): Any =
    Kernels.jaroWinkler(a.asInstanceOf[UTF8String], b.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.Kernels.jaroWinkler($a, $b)")
  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): JaroWinkler =
    copy(left = newLeft, right = newRight)
}

/** Positional gram-gram md5 hex digests ([[Kernels.posGramMd5]]):
  * array<string>, one 32-char digest per gram start position. */
case class PosGramMd5(child: Expression, gram: Int) extends UnaryExpression {
  require(gram >= 2, "gram must be >= 2")
  override def checkInputDataTypes(): TypeCheckResult =
    GraftFunctions.requireStringArray(child, prettyName)
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "graft_pos_gram_md5"
  override protected def nullSafeEval(input: Any): Any =
    Kernels.posGramMd5(input.asInstanceOf[ArrayData], gram)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.Kernels.posGramMd5($c, $gram)")
  override protected def withNewChildInternal(newChild: Expression): PosGramMd5 =
    copy(child = newChild)
}

/** Per-row Poisson-bootstrap replica vector
  * ([[Kernels.bootstrapRow]]): array<long> of length 2·replicas —
  * [w_0..w_{n-1}, w_0·v..w_{n-1}·v]. */
case class BootstrapRow(left: Expression, right: Expression, replicas: Int)
    extends BinaryExpression {
  require(replicas > 0, "replicas must be positive")
  override def checkInputDataTypes(): TypeCheckResult =
    if (left.dataType != StringType && left.dataType != NullType)
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName expects (string, bigint); id is ${left.dataType.catalogString}")
    else if (right.dataType != LongType && right.dataType != NullType)
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName expects (string, bigint); value is ${right.dataType.catalogString}")
    else TypeCheckResult.TypeCheckSuccess
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_bootstrap_row"
  override protected def nullSafeEval(a: Any, b: Any): Any =
    Kernels.bootstrapRow(a.asInstanceOf[UTF8String],
      b.asInstanceOf[Long], replicas)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      (a, b) => s"graft.functions.Kernels.bootstrapRow($a, $b, $replicas)")
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): BootstrapRow =
    copy(left = newLeft, right = newRight)
}

/** Canonical crawl URL ([[Kernels.canonicalizeUrl]], the
  * graft.ops.Urls rule set). NULLABLE even for non-null input — a
  * string without "://" or a path slash canonicalizes to NULL by
  * contract — so codegen re-checks the kernel's result. */
case class CanonicalUrl(child: Expression) extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType | NullType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects string, got ${other.catalogString}")
  }
  override def dataType: DataType = StringType
  override def nullable: Boolean = true
  override def prettyName: String = "graft_canonical_url"
  override protected def nullSafeEval(input: Any): Any =
    Kernels.canonicalizeUrl(input.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => s"""
      ${ev.value} = graft.functions.Kernels.canonicalizeUrl($c);
      ${ev.isNull} = (${ev.value} == null);""")
  override protected def withNewChildInternal(newChild: Expression): CanonicalUrl =
    copy(child = newChild)
}

/** The reference's multi-valued NULL_IF ('\\N','NULL','NUL','') as ONE
  * kernel call ([[Kernels.nullIfSpelling]]) instead of a `CASE WHEN c
  * IN (...)` per column: null for an exact spelling match, the input
  * itself otherwise. NULLABLE even for non-null input, so codegen
  * re-checks the kernel's result. */
case class NullIfSpelling(child: Expression) extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects string, got ${other.catalogString}")
  }
  override def dataType: DataType = StringType
  override def nullable: Boolean = true
  override def prettyName: String = "graft_null_if_spelling"
  override protected def nullSafeEval(input: Any): Any =
    Kernels.nullIfSpelling(input.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => s"""
      ${ev.value} = graft.functions.Kernels.nullIfSpelling($c);
      ${ev.isNull} = (${ev.value} == null);""")
  override protected def withNewChildInternal(newChild: Expression): NullIfSpelling =
    copy(child = newChild)
}

/** Per-document character-entropy sufficient statistics in one pass —
  * struct(n_chars, n_distinct_chars, entropy_micro), null when the text
  * has no `.`-matching characters (see Kernels.charEntropyStats for the
  * bit-equality argument vs the explode-to-characters aggregate form). */
case class CharEntropyStats(child: Expression) extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType | NullType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects string, got ${other.catalogString}")
  }
  override def dataType: DataType = StructType(Seq(
    StructField("n_chars", LongType, nullable = false),
    StructField("n_distinct_chars", IntegerType, nullable = false),
    StructField("entropy_micro", LongType, nullable = false)))
  override def nullable: Boolean = true
  override def prettyName: String = "graft_char_entropy"
  override protected def nullSafeEval(input: Any): Any =
    Kernels.charEntropyStats(input.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => s"""
      ${ev.value} = graft.functions.Kernels.charEntropyStats($c);
      ${ev.isNull} = (${ev.value} == null);""")
  override protected def withNewChildInternal(newChild: Expression): CharEntropyStats =
    copy(child = newChild)
}

/** Column-API + SQL-registration surface for the native expressions. */
object GraftFunctions {

  private[functions] def requireStringArray(e: Expression, name: String): TypeCheckResult =
    e.dataType match {
      case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"$name expects array<string>, got ${other.catalogString}")
    }

  private[functions] def requireDoubleArray(e: Expression, name: String): TypeCheckResult =
    e.dataType match {
      case ArrayType(DoubleType, _) => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"$name expects array<double>, got ${other.catalogString}")
    }

  def md5MinhashSig(toks: Column, numHashes: Int): Column =
    ColumnBridge.column(Md5MinHashSig(ColumnBridge.expression(toks), numHashes))

  def md5Simhash60(toks: Column): Column =
    ColumnBridge.column(Md5SimHash60(ColumnBridge.expression(toks)))

  def winnowRoll(text: Column, k: Int = 8, w: Int = 4): Column =
    ColumnBridge.column(WinnowRoll(ColumnBridge.expression(text), k, w))

  def wordShingles(toks: Column, n: Int): Column =
    ColumnBridge.column(WordShingles(ColumnBridge.expression(toks), n))

  def charEntropyStats(text: Column): Column =
    ColumnBridge.column(CharEntropyStats(ColumnBridge.expression(text)))

  def sortedIntersectCount(a: Column, b: Column): Column =
    ColumnBridge.column(SortedIntersectCount(
      ColumnBridge.expression(a), ColumnBridge.expression(b)))

  def dot(a: Column, b: Column): Column =
    ColumnBridge.column(DotProduct(
      ColumnBridge.expression(a), ColumnBridge.expression(b)))

  def quantizeInt8(vec: Column): Column =
    ColumnBridge.column(QuantizeInt8(ColumnBridge.expression(vec)))

  def jaroWinkler(a: Column, b: Column): Column =
    ColumnBridge.column(JaroWinkler(
      ColumnBridge.expression(a), ColumnBridge.expression(b)))

  def canonicalUrl(url: Column): Column =
    ColumnBridge.column(CanonicalUrl(ColumnBridge.expression(url)))

  def bootstrapRow(id: Column, v: Column, replicas: Int): Column =
    ColumnBridge.column(BootstrapRow(
      ColumnBridge.expression(id), ColumnBridge.expression(v), replicas))

  def posGramMd5(tokens: Column, gram: Int): Column =
    ColumnBridge.column(PosGramMd5(ColumnBridge.expression(tokens), gram))

  /** Bounded top-k aggregate Column: array<struct<score,key>> of the k
    * highest-scored keys per group, partial-aggregable (see
    * [[TopKByScore]]). */
  def topKBy(score: Column, key: Column, k: Int): Column =
    ColumnBridge.column(
      TopKByScore(ColumnBridge.expression(score),
        ColumnBridge.expression(key), k).toAggregateExpression())

  /** Per-row fixed-point Gram contribution Column (array<float> →
    * array<long>, see [[GramUpperTriQ]]). */
  def gramUpperQ(vec: Column): Column =
    ColumnBridge.column(GramUpperTriQ(ColumnBridge.expression(vec)))

  /** Elementwise exact array<long> sum aggregate Column (see
    * [[SumLongArray]]). */
  def sumLongArray(arr: Column): Column =
    ColumnBridge.column(
      SumLongArray(ColumnBridge.expression(arr)).toAggregateExpression())

  private def intLit(e: Expression, what: String): Int = e match {
    case Literal(v: Int, IntegerType) => v
    case other => throw new IllegalArgumentException(
      s"$what must be an integer literal, got: $other")
  }

  /** (name, info, builder) triples for every graft_* SQL function —
    * shared by session-level [[register]] and the
    * [[GraftSparkExtensions]] extensions injector. */
  def registrations: Seq[(FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)] = {
    def info(name: String) = new ExpressionInfo("graft.functions", name)
    // applyOrElse: a bare partial function would throw a raw MatchError
    // on a wrong argument count — surface the signature instead
    def builder(name: String, signature: String)(
        pf: PartialFunction[Seq[Expression], Expression]): Seq[Expression] => Expression =
      args => pf.applyOrElse(args, (bad: Seq[Expression]) =>
        throw new IllegalArgumentException(
          s"$name expects $signature, got ${bad.size} argument(s)"))
    Seq(
      (FunctionIdentifier("graft_topk_by"), info("graft_topk_by"),
        builder("graft_topk_by", "(score, key, k)") { case Seq(s, key, k) =>
          TopKByScore(s, key, intLit(k, "k")).toAggregateExpression() }),
      (FunctionIdentifier("graft_word_shingles"), info("graft_word_shingles"),
        builder("graft_word_shingles", "(arr, n)") { case Seq(e, n) =>
          WordShingles(e, intLit(n, "n")) }),
      (FunctionIdentifier("graft_sorted_intersect_count"), info("graft_sorted_intersect_count"),
        builder("graft_sorted_intersect_count", "(a, b)") { case Seq(a, b) =>
          SortedIntersectCount(a, b) }),
      (FunctionIdentifier("graft_dot"), info("graft_dot"),
        builder("graft_dot", "(a, b)") { case Seq(a, b) => DotProduct(a, b) }),
      (FunctionIdentifier("graft_quantize_int8"), info("graft_quantize_int8"),
        builder("graft_quantize_int8", "(vec)") { case Seq(e) => QuantizeInt8(e) }),
      (FunctionIdentifier("graft_md5_minhash_sig"), info("graft_md5_minhash_sig"),
        builder("graft_md5_minhash_sig", "(arr, numHashes)") { case Seq(e, n) =>
          Md5MinHashSig(e, intLit(n, "numHashes")) }),
      (FunctionIdentifier("graft_md5_simhash60"), info("graft_md5_simhash60"),
        builder("graft_md5_simhash60", "(arr)") { case Seq(e) => Md5SimHash60(e) }),
      (FunctionIdentifier("graft_winnow_roll"), info("graft_winnow_roll"),
        builder("graft_winnow_roll", "(text, k, w)") { case Seq(e, k, w) =>
          WinnowRoll(e, intLit(k, "k"), intLit(w, "w")) }),
      (FunctionIdentifier("graft_jaro_winkler"), info("graft_jaro_winkler"),
        builder("graft_jaro_winkler", "(a, b)") { case Seq(a, b) =>
          JaroWinkler(a, b) }),
      (FunctionIdentifier("graft_gram_upper_q"), info("graft_gram_upper_q"),
        builder("graft_gram_upper_q", "(vec)") { case Seq(e) =>
          GramUpperTriQ(e) }),
      (FunctionIdentifier("graft_sum_long_array"), info("graft_sum_long_array"),
        builder("graft_sum_long_array", "(arr)") { case Seq(e) =>
          SumLongArray(e).toAggregateExpression() }),
      (FunctionIdentifier("graft_canonical_url"), info("graft_canonical_url"),
        builder("graft_canonical_url", "(url)") { case Seq(e) =>
          CanonicalUrl(e) }))
  }

  /** Register `graft_*` as session SQL functions so `spark.sql` users get
    * the same operators, e.g. graft_md5_minhash_sig(arr, n),
    * graft_md5_simhash60(arr), graft_winnow_roll(text, k, w),
    * graft_word_shingles(arr, n), graft_sorted_intersect_count(a, b). */
  def register(spark: SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    registrations.foreach { case (id, inf, builder) =>
      reg.registerFunction(id, inf, builder)
    }
  }
}

/** Deployment entry point for clusters: set
  * `spark.sql.extensions=graft.functions.GraftSparkExtensions` and every
  * session (incl. thrift/connect users) gets the graft_* functions plus
  * the QUALIFY clause in `spark.sql` (graft.plans.QualifyParser) without
  * code changes — the idiomatic way to ship custom Catalyst expressions
  * and parser rules (SparkSessionExtensions.injectFunction/injectParser). */
class GraftSparkExtensions extends (org.apache.spark.sql.SparkSessionExtensions => Unit) {
  override def apply(ext: org.apache.spark.sql.SparkSessionExtensions): Unit = {
    GraftFunctions.registrations.foreach(ext.injectFunction)
    ext.injectParser((_, parser) => new graft.plans.QualifyParser(parser))
    // tier-(c) operator surface: the skyline planner strategy and its
    // filter-pushdown optimizer rule (Skyline.of also installs both
    // per-session via spark.experimental for non-extension sessions)
    ext.injectPlannerStrategy(_ => graft.plans.SkylineStrategy)
    ext.injectOptimizerRule(_ => graft.plans.PushFilterThroughSkyline)
  }
}
