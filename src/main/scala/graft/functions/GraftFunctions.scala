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
  * Every scalar kernel in [[Kernels]] is declared once, as a
  * [[ScalarKernel]] descriptor in [[GraftFunctions]], and runs through
  * one of two generic expressions, [[UnaryKernelCall]] and
  * [[BinaryKernelCall]]. These are tier-(b) custom expressions (SURVEY
  * §7.3 preference order): full `doGenCode` implementations whose
  * generated code is a single static kernel call, so they participate
  * in whole-stage codegen and run JIT-compiled — unlike higher-order-
  * function formulations, which Spark evaluates interpreted. The two
  * aggregates, [[TopKByScore]] and [[SumLongArray]], follow them.
  */

/** An argument family a scalar kernel accepts. Inputs are checked, never
  * cast: an array family matches its element type at any element
  * nullability, and `orNull` also admits an untyped NULL literal
  * (NullType), which the null-safe templates short-circuit without
  * calling the kernel. */
final case class ArgType(accepted: DataType, orNull: Boolean = false) {
  def accepts(t: DataType): Boolean = (t, accepted) match {
    case (ArrayType(got, _), ArrayType(want, _)) => got == want
    case _ => t == accepted || (orNull && t == NullType)
  }
}

object ArgType {
  val string = ArgType(StringType)
  val stringOrNull = ArgType(StringType, orNull = true)
  val longOrNull = ArgType(LongType, orNull = true)
  val strings = ArgType(ArrayType(StringType))
  val doubles = ArgType(ArrayType(DoubleType))
  val floats = ArgType(ArrayType(FloatType))
}

/** One graft scalar kernel, declared once: its SQL name, its [[Kernels]]
  * method, its named arguments and their types, its result type, its
  * int literal parameters (each with its least allowed value), and
  * whether the kernel itself can return null for a non-null input. The
  * Column API (`apply` on the two subclasses), the generic expressions
  * and the `graft_*` SQL builders all read it. */
sealed abstract class ScalarKernel(
    val name: String,
    val method: String,
    val args: Seq[(String, ArgType)],
    val dataType: DataType,
    val params: Seq[(String, Int)],
    val returnsNull: Boolean) extends Serializable {

  /** The SQL signature a wrong-arity call names, e.g. `(arr, numHashes)`. */
  private[functions] def signature: String =
    (args.map(_._1) ++ params.map(_._1)).mkString("(", ", ", ")")

  protected def build(inputs: Seq[Expression], values: Seq[Int]): Expression

  private[functions] def checkParams(values: Seq[Int]): Unit = {
    require(values.size == params.size,
      s"$name expects ${params.size} int parameter(s), got ${values.size}")
    params.zip(values).foreach { case ((p, least), v) =>
      require(v >= least, if (least == 1) s"$p must be positive" else s"$p must be >= $least")
    }
  }

  private[functions] def checkInputs(inputs: Seq[Expression]): TypeCheckResult =
    args.zip(inputs).collectFirst {
      case ((_, t), e) if !t.accepts(e.dataType) => TypeCheckResult.TypeCheckFailure(
        s"$name expects ${t.accepted.catalogString}, got ${e.dataType.catalogString}")
    }.getOrElse(TypeCheckResult.TypeCheckSuccess)

  /** The generated Java for one call, given the inputs' Java values: the
    * text Spark's `defineCodeGen` emits, or, for a kernel that can
    * return null, the assignment plus a re-check of its result. */
  private[functions] def assign(ev: ExprCode, inputs: Seq[String], values: Seq[Int]): String = {
    val call = s"graft.functions.Kernels.$method(${(inputs ++ values.map(_.toString)).mkString(", ")})"
    if (!returnsNull) s"${ev.value} = $call;"
    else s"""
      ${ev.value} = $call;
      ${ev.isNull} = (${ev.value} == null);"""
  }

  /** The `graft_*` SQL builder: the inputs, then the int parameters as
    * integer literals. */
  private[functions] def sqlBuilder: Seq[Expression] => Expression = exprs => {
    if (exprs.size != args.size + params.size)
      throw GraftFunctions.arityError(name, signature, exprs.size)
    val (inputs, literals) = exprs.splitAt(args.size)
    build(inputs, literals.zip(params).map { case (e, (p, _)) => GraftFunctions.intLit(e, p) })
  }
}

/** A one-input kernel; `apply` is its Column function. */
sealed abstract class UnaryKernel(
    name: String, method: String, arg: (String, ArgType), dataType: DataType,
    params: Seq[(String, Int)] = Nil, returnsNull: Boolean = false)
    extends ScalarKernel(name, method, Seq(arg), dataType, params, returnsNull) {
  /** The interpreted path: the same kernel, called directly. */
  def call(input: Any, values: Seq[Int]): Any
  def apply(c: Column, values: Int*): Column =
    ColumnBridge.column(build(Seq(ColumnBridge.expression(c)), values))
  protected def build(inputs: Seq[Expression], values: Seq[Int]): Expression =
    UnaryKernelCall(this, inputs.head, values)
}

/** A two-input kernel; `apply` is its Column function. */
sealed abstract class BinaryKernel(
    name: String, method: String, args: Seq[(String, ArgType)], dataType: DataType,
    params: Seq[(String, Int)] = Nil, returnsNull: Boolean = false)
    extends ScalarKernel(name, method, args, dataType, params, returnsNull) {
  /** The interpreted path: the same kernel, called directly. */
  def call(left: Any, right: Any, values: Seq[Int]): Any
  def apply(a: Column, b: Column, values: Int*): Column =
    ColumnBridge.column(build(Seq(a, b).map(ColumnBridge.expression), values))
  protected def build(inputs: Seq[Expression], values: Seq[Int]): Expression =
    BinaryKernelCall(this, inputs(0), inputs(1), values)
}

/** One row-wise call of a [[UnaryKernel]] with its int parameters, on
  * Spark's null-propagating UnaryExpression template: a null input gives
  * null without a call, and the generated code is the kernel's single
  * static call, `graft.functions.Kernels.<method>(input, <ints>)`.
  * `prettyName` is the kernel's SQL name, and `toString` lists the input
  * then the ints, so plans and automatic column names read as they
  * would for a hand-written expression per kernel.
  *
  * Spark's `StaticInvoke` would give the same values, but it stores
  * every argument in a mutable-state slot before the call: on a
  * 74-column `normNulls` projection of 200k rows (`local[4]`, a fresh
  * JVM per run) the generated source grew 4.4% (139,507 → 145,633
  * bytes), the largest method's bytecode grew from 19,388 to 20,246
  * bytes, and the warm pass slowed from 2.94/2.92 s to 3.57/3.70 s. */
case class UnaryKernelCall(kernel: UnaryKernel, child: Expression, params: Seq[Int])
    extends UnaryExpression {
  kernel.checkParams(params)
  override def checkInputDataTypes(): TypeCheckResult = kernel.checkInputs(Seq(child))
  override def dataType: DataType = kernel.dataType
  override def nullable: Boolean = kernel.returnsNull || child.nullable
  override def prettyName: String = kernel.name
  override protected def stringArgs: Iterator[Any] = Iterator(child) ++ params
  override protected def nullSafeEval(input: Any): Any = kernel.call(input, params)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => kernel.assign(ev, Seq(c), params))
  override protected def withNewChildInternal(newChild: Expression): UnaryKernelCall =
    copy(child = newChild)
}

/** The two-input form of [[UnaryKernelCall]], on Spark's
  * BinaryExpression template. */
case class BinaryKernelCall(
    kernel: BinaryKernel, left: Expression, right: Expression, params: Seq[Int])
    extends BinaryExpression {
  kernel.checkParams(params)
  override def checkInputDataTypes(): TypeCheckResult = kernel.checkInputs(Seq(left, right))
  override def dataType: DataType = kernel.dataType
  override def nullable: Boolean = kernel.returnsNull || left.nullable || right.nullable
  override def prettyName: String = kernel.name
  override protected def stringArgs: Iterator[Any] = Iterator(left, right) ++ params
  override protected def nullSafeEval(a: Any, b: Any): Any = kernel.call(a, b, params)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => kernel.assign(ev, Seq(a, b), params))
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): BinaryKernelCall =
    copy(left = newLeft, right = newRight)
}

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

/** Column-API + SQL-registration surface for the native expressions:
  * each scalar kernel is one descriptor below, called as a Column
  * function (`GraftFunctions.dot(a, b)`, `GraftFunctions.md5MinhashSig(toks, 64)`). */
object GraftFunctions {
  import ArgType._

  /** md5-family minhash signature (cross-engine-checkable; see Kernels). */
  case object md5MinhashSig extends UnaryKernel("graft_md5_minhash_sig", "md5MinhashSig",
      "arr" -> strings, ArrayType(LongType, containsNull = false), Seq("numHashes" -> 1)) {
    def call(a: Any, p: Seq[Int]): Any = Kernels.md5MinhashSig(a.asInstanceOf[ArrayData], p(0))
  }

  /** md5-family 60-bit simhash (cross-engine-checkable; see Kernels). */
  case object md5Simhash60 extends UnaryKernel("graft_md5_simhash60", "md5Simhash60",
      "arr" -> strings, LongType) {
    def call(a: Any, p: Seq[Int]): Any = Kernels.md5Simhash60(a.asInstanceOf[ArrayData])
  }

  /** The 56-bit engine-portable hash behind [[graft.ops.Sampling.hashValue]]
    * as one kernel call instead of the md5-hex → substring×7 → concat →
    * conv string pipeline — bit-identical values, at a fraction of the
    * per-row cost on the ~50 hash-based registry paths. */
  case object md5Low56 extends UnaryKernel("graft_md5_low56", "md5Low56", "key" -> string, LongType) {
    def call(a: Any, p: Seq[Int]): Any = Kernels.md5Low56(a.asInstanceOf[UTF8String])
  }

  /** Karp–Rabin rolling-hash winnowing fingerprints over char k-grams
    * (oracle-checkable; see Kernels.winnowRoll). */
  case object winnowRoll extends UnaryKernel("graft_winnow_roll", "winnowRoll",
      "text" -> string, ArrayType(LongType, containsNull = false), Seq("k" -> 1, "w" -> 1)) {
    def call(a: Any, p: Seq[Int]): Any = Kernels.winnowRoll(a.asInstanceOf[UTF8String], p(0), p(1))
  }

  /** Sorted-distinct word n-gram shingles of a token array. */
  case object wordShingles extends UnaryKernel("graft_word_shingles", "wordShingles",
      "arr" -> strings, ArrayType(StringType, containsNull = false), Seq("n" -> 1)) {
    def call(a: Any, p: Seq[Int]): Any = Kernels.wordShingles(a.asInstanceOf[ArrayData], p(0))
  }

  /** Per-row fixed-point Gram contribution (see [[Kernels.gramUpperTriQ]]):
    * array<float> vector → array<long> of the d(d+1)/2 quantized
    * upper-triangle products. */
  case object gramUpperQ extends UnaryKernel("graft_gram_upper_q", "gramUpperTriQ",
      "vec" -> floats, ArrayType(LongType, containsNull = false)) {
    def call(a: Any, p: Seq[Int]): Any = Kernels.gramUpperTriQ(a.asInstanceOf[ArrayData])
  }

  /** Dot product of two array<double> (hot loop of every similarity op). */
  case object dot extends BinaryKernel("graft_dot", "dot", Seq("a" -> doubles, "b" -> doubles), DoubleType) {
    def call(a: Any, b: Any, p: Seq[Int]): Any =
      Kernels.dot(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
  }

  /** Symmetric max-abs int8 quantization of an array<float> vector. */
  case object quantizeInt8 extends UnaryKernel("graft_quantize_int8", "quantizeInt8",
      "vec" -> floats, ArrayType(IntegerType, containsNull = false)) {
    def call(a: Any, p: Seq[Int]): Any = Kernels.quantizeInt8(a.asInstanceOf[ArrayData])
  }

  /** |A ∩ B| of two sorted-distinct string arrays (merge count). */
  case object sortedIntersectCount extends BinaryKernel("graft_sorted_intersect_count",
      "sortedIntersectCount", Seq("a" -> strings, "b" -> strings), IntegerType) {
    def call(a: Any, b: Any, p: Seq[Int]): Any =
      Kernels.sortedIntersectCount(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
  }

  /** Jaro-Winkler similarity of two strings over UTF-8 bytes, DuckDB-
    * `jaro_winkler_similarity`-compatible (see [[Kernels.jaroWinkler]] for
    * the exact contract incl. the empty-string and boost-threshold edges). */
  case object jaroWinkler extends BinaryKernel("graft_jaro_winkler", "jaroWinkler",
      Seq("a" -> stringOrNull, "b" -> stringOrNull), DoubleType) {
    def call(a: Any, b: Any, p: Seq[Int]): Any =
      Kernels.jaroWinkler(a.asInstanceOf[UTF8String], b.asInstanceOf[UTF8String])
  }

  /** Positional gram-gram md5 hex digests ([[Kernels.posGramMd5]]):
    * array<string>, one 32-char digest per gram start position. */
  case object posGramMd5 extends UnaryKernel("graft_pos_gram_md5", "posGramMd5",
      "tokens" -> strings, ArrayType(StringType, containsNull = false), Seq("gram" -> 2)) {
    def call(a: Any, p: Seq[Int]): Any = Kernels.posGramMd5(a.asInstanceOf[ArrayData], p(0))
  }

  /** Per-row Poisson-bootstrap replica vector ([[Kernels.bootstrapRow]]):
    * array<long> of length 2·replicas — [w_0..w_{n-1}, w_0·v..w_{n-1}·v]. */
  case object bootstrapRow extends BinaryKernel("graft_bootstrap_row", "bootstrapRow",
      Seq("id" -> stringOrNull, "value" -> longOrNull), ArrayType(LongType, containsNull = false),
      Seq("replicas" -> 1)) {
    def call(a: Any, b: Any, p: Seq[Int]): Any =
      Kernels.bootstrapRow(a.asInstanceOf[UTF8String], b.asInstanceOf[Long], p(0))
  }

  /** Canonical crawl URL ([[Kernels.canonicalizeUrl]], the graft.ops.Urls
    * rule set). Null even for a non-null input: a string without "://"
    * or a path slash canonicalizes to null by contract. */
  case object canonicalUrl extends UnaryKernel("graft_canonical_url", "canonicalizeUrl",
      "url" -> stringOrNull, StringType, returnsNull = true) {
    def call(a: Any, p: Seq[Int]): Any = Kernels.canonicalizeUrl(a.asInstanceOf[UTF8String])
  }

  /** The reference's multi-valued NULL_IF ('\\N','NULL','NUL','') as one
    * kernel call ([[Kernels.nullIfSpelling]]) instead of a `CASE WHEN c
    * IN (...)` per column: null for an exact spelling match, the input
    * itself otherwise. */
  case object nullIfSpelling extends UnaryKernel("graft_null_if_spelling", "nullIfSpelling",
      "c" -> string, StringType, returnsNull = true) {
    def call(a: Any, p: Seq[Int]): Any = Kernels.nullIfSpelling(a.asInstanceOf[UTF8String])
  }

  /** Per-document character-entropy sufficient statistics in one pass —
    * struct(n_chars, n_distinct_chars, entropy_micro), null when the text
    * has no `.`-matching characters (see Kernels.charEntropyStats for the
    * bit-equality argument vs the explode-to-characters aggregate form). */
  case object charEntropyStats extends UnaryKernel("graft_char_entropy", "charEntropyStats",
      "text" -> stringOrNull, StructType(Seq(
        StructField("n_chars", LongType, nullable = false),
        StructField("n_distinct_chars", IntegerType, nullable = false),
        StructField("entropy_micro", LongType, nullable = false))), returnsNull = true) {
    def call(a: Any, p: Seq[Int]): Any = Kernels.charEntropyStats(a.asInstanceOf[UTF8String])
  }

  /** The scalar kernels registered as `graft_*` SQL functions; the other
    * five (md5Low56, posGramMd5, bootstrapRow, nullIfSpelling,
    * charEntropyStats) are Column-API only. */
  private val sqlKernels: Seq[ScalarKernel] = Seq(wordShingles, sortedIntersectCount, dot,
    quantizeInt8, md5MinhashSig, md5Simhash60, winnowRoll, jaroWinkler, gramUpperQ, canonicalUrl)

  /** Bounded top-k aggregate Column: array<struct<score,key>> of the k
    * highest-scored keys per group, partial-aggregable (see
    * [[TopKByScore]]). */
  def topKBy(score: Column, key: Column, k: Int): Column =
    ColumnBridge.column(
      TopKByScore(ColumnBridge.expression(score),
        ColumnBridge.expression(key), k).toAggregateExpression())

  /** Elementwise exact array<long> sum aggregate Column (see
    * [[SumLongArray]]). */
  def sumLongArray(arr: Column): Column =
    ColumnBridge.column(
      SumLongArray(ColumnBridge.expression(arr)).toAggregateExpression())

  private[functions] def intLit(e: Expression, what: String): Int = e match {
    case Literal(v: Int, IntegerType) => v
    case other => throw new IllegalArgumentException(
      s"$what must be an integer literal, got: $other")
  }

  // a wrong argument count names the signature, not a raw MatchError
  private[functions] def arityError(name: String, signature: String, got: Int) =
    new IllegalArgumentException(s"$name expects $signature, got $got argument(s)")

  /** (name, info, builder) triples for every graft_* SQL function —
    * shared by session-level [[register]] and the
    * [[GraftSparkExtensions]] extensions injector. */
  def registrations: Seq[(FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)] = {
    def entry(name: String, builder: Seq[Expression] => Expression) =
      (FunctionIdentifier(name), new ExpressionInfo("graft.functions", name), builder)
    def aggregate(name: String, signature: String)(
        pf: PartialFunction[Seq[Expression], Expression]) =
      entry(name, args => pf.applyOrElse(args, (bad: Seq[Expression]) =>
        throw arityError(name, signature, bad.size)))
    Seq(
      aggregate("graft_topk_by", "(score, key, k)") { case Seq(s, key, k) =>
        TopKByScore(s, key, intLit(k, "k")).toAggregateExpression() },
      aggregate("graft_sum_long_array", "(arr)") { case Seq(e) =>
        SumLongArray(e).toAggregateExpression() }) ++
      sqlKernels.map(k => entry(k.name, k.sqlBuilder))
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
