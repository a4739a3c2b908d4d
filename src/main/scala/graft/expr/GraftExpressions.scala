package graft.expr

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, BinaryType, DataType, IntegerType, LongType, StringType}

/** AbstractDataType is private[sql], so type checks are hand-rolled. */
private[expr] object GraftTypeCheck {
  def intArray(e: Expression, fn: String): TypeCheckResult = e.dataType match {
    case ArrayType(IntegerType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$fn expects array<int>, got ${other.catalogString}")
  }
  def binary(e: Expression, fn: String): TypeCheckResult = e.dataType match {
    case BinaryType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$fn expects binary, got ${other.catalogString}")
  }
  def strArray(e: Expression, fn: String): TypeCheckResult = e.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$fn expects array<string>, got ${other.catalogString}")
  }
  def long(e: Expression, fn: String): TypeCheckResult = e.dataType match {
    case LongType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$fn expects bigint, got ${other.catalogString}")
  }
}
import org.apache.spark.unsafe.types.UTF8String

import graft.codec.{IntBlocks, StrBlocks}

/** JVM-static kernels shared by interpreted eval and generated code, so the
  * expressions stay inside whole-stage codegen (the generated Java simply
  * calls these; no Catalyst fallback, no UDF serialization).
  */
object GraftRuntime {

  def toInts(a: ArrayData): Array[Int] = {
    val n = a.numElements()
    val out = new Array[Int](n)
    var i = 0
    while (i < n) {
      if (a.isNullAt(i))
        throw new IllegalArgumentException("graft codecs require non-null array elements")
      out(i) = a.getInt(i)
      i += 1
    }
    out
  }

  def toStrings(a: ArrayData): Array[String] = {
    val n = a.numElements()
    val out = new Array[String](n)
    var i = 0
    while (i < n) {
      if (a.isNullAt(i))
        throw new IllegalArgumentException("graft codecs require non-null array elements")
      out(i) = a.getUTF8String(i).toString
      i += 1
    }
    out
  }

  def encodeAuto(a: ArrayData): Array[Byte] = IntBlocks.encodeAuto(toInts(a))

  def encodeStrAuto(a: ArrayData): Array[Byte] = StrBlocks.encodeAuto(toStrings(a))

  /** Codec family name from a self-describing payload's leading id byte
    * (wrappers render as `nullable+inner` / `arr+values` — PrimBlocks).
    */
  def codecName(bytes: Array[Byte]): UTF8String =
    UTF8String.fromString(graft.codec.PrimBlocks.codecName(bytes))

  /** sha256 hex of the payload's dictionary / symbol-table section
    * (BASELINE.json:6 manifest requirement).
    */
  def dictHash(bytes: Array[Byte]): UTF8String = {
    val id = bytes(0) & 0xFF
    val hex = if (id >= 64) StrBlocks.dictSectionHash(bytes)
    else IntBlocks.dictSectionHash(bytes)
    UTF8String.fromString(hex)
  }

  /** Range bucket of `key` against sorted exclusive upper bounds: bucket 0 =
    * keys < bounds(0); bucket i = [bounds(i-1), bounds(i)); bucket B-1 =
    * keys >= bounds(B-2). O(log B) per row — scale-safe for millions of
    * blocks where a literal-array `filter` scan would be O(B).
    */
  def rangeBucket(key: Long, bounds: Array[Long]): Int = {
    val idx = java.util.Arrays.binarySearch(bounds, key)
    if (idx >= 0) idx + 1 else -(idx + 1)
  }

  def encodeWith(id: Int, a: ArrayData): Array[Byte] = IntBlocks.encodeWith(id, toInts(a))

  def decode(bytes: Array[Byte]): ArrayData =
    UnsafeArrayData.fromPrimitiveArray(IntBlocks.decode(bytes))

  def decodeStr(bytes: Array[Byte]): ArrayData =
    new GenericArrayData(StrBlocks.decode(bytes).map(UTF8String.fromString(_: String)))

  /** Split a flat decoded value stream back into per-row arrays using the
    * per-row lengths column (the stored n_tok block doubles as offsets).
    */
  def reslice(flat: ArrayData, lengths: ArrayData): ArrayData = {
    val lens = toInts(lengths)
    val vals = toInts(flat)
    var total = 0L
    var i = 0
    while (i < lens.length) { total += lens(i); i += 1 }
    if (total != vals.length)
      throw new IllegalArgumentException(
        s"graft_reslice: lengths sum to $total but flat stream has ${vals.length} values")
    val out = new Array[Any](lens.length)
    var off = 0
    i = 0
    while (i < lens.length) {
      val slice = java.util.Arrays.copyOfRange(vals, off, off + lens(i))
      out(i) = UnsafeArrayData.fromPrimitiveArray(slice)
      off += lens(i)
      i += 1
    }
    new GenericArrayData(out)
  }
}

/** `graft_encode(array<int>[, codec])` -> binary. With no codec the
  * trial-based auto-selector picks the smallest payload per row; with a
  * codec name the encoding is forced (used by the per-codec oracle queries
  * and tests). SURVEY.md E8a–E8e as a native Catalyst expression — codegen
  * via a static call, not a Scala UDF.
  */
case class GraftEncode(child: Expression, codec: Option[String] = None)
    extends UnaryExpression {

  private val codecId: Option[Int] = codec.map { name =>
    IntBlocks.idOf.getOrElse(name,
      throw new IllegalArgumentException(
        s"unknown codec '$name' (expected one of ${IntBlocks.idOf.keys.toSeq.sorted.mkString(", ")})"))
  }

  override def checkInputDataTypes(): TypeCheckResult = GraftTypeCheck.intArray(child, prettyName)
  override def dataType: DataType = BinaryType
  override def prettyName: String = "graft_encode"

  override protected def nullSafeEval(input: Any): Any = {
    val a = input.asInstanceOf[ArrayData]
    codecId match {
      case Some(id) => GraftRuntime.encodeWith(id, a)
      case None     => GraftRuntime.encodeAuto(a)
    }
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    codecId match {
      case Some(id) => defineCodeGen(ctx, ev, c => s"graft.expr.GraftRuntime.encodeWith($id, $c)")
      case None     => defineCodeGen(ctx, ev, c => s"graft.expr.GraftRuntime.encodeAuto($c)")
    }

  override protected def withNewChildInternal(newChild: Expression): GraftEncode =
    copy(child = newChild)
}

/** `graft_encode_str(array<string>)` -> binary: the string-column analogue
  * (doc_id / source blocks), auto-selected among str_plain / str_numeric /
  * str_dict (StrBlocks.scala).
  */
case class GraftEncodeStr(child: Expression) extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult = GraftTypeCheck.strArray(child, prettyName)
  override def dataType: DataType = BinaryType
  override def prettyName: String = "graft_encode_str"

  override protected def nullSafeEval(input: Any): Any =
    GraftRuntime.encodeStrAuto(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.expr.GraftRuntime.encodeStrAuto($c)")

  override protected def withNewChildInternal(newChild: Expression): GraftEncodeStr =
    copy(child = newChild)
}

/** `graft_codec(binary)` -> string: the codec family name recorded in the
  * block manifest (payloads are self-describing; byte 0 is the codec id).
  */
case class GraftCodecName(child: Expression) extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult = GraftTypeCheck.binary(child, prettyName)
  override def dataType: DataType = StringType
  override def prettyName: String = "graft_codec"

  override protected def nullSafeEval(input: Any): Any =
    GraftRuntime.codecName(input.asInstanceOf[Array[Byte]])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.expr.GraftRuntime.codecName($c)")

  override protected def withNewChildInternal(newChild: Expression): GraftCodecName =
    copy(child = newChild)
}

/** `graft_dict_hash(binary)` -> string: sha256 hex of the payload's
  * dictionary / symbol-table section ("dict/symbol-table hash" manifest
  * field, BASELINE.json:6).
  */
case class GraftDictHash(child: Expression) extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult = GraftTypeCheck.binary(child, prettyName)
  override def dataType: DataType = StringType
  override def prettyName: String = "graft_dict_hash"

  override protected def nullSafeEval(input: Any): Any =
    GraftRuntime.dictHash(input.asInstanceOf[Array[Byte]])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.expr.GraftRuntime.dictHash($c)")

  override protected def withNewChildInternal(newChild: Expression): GraftDictHash =
    copy(child = newChild)
}

/** `RangeBucket(key, bounds)` -> int block id via binary search over the
  * broadcast-literal sorted bounds (exclusive upper cut points, SURVEY.md
  * E13). Bounds live in the expression, not a child, so the generated code
  * binds them once per task as a reference object — O(log B) per row even
  * with millions of blocks.
  */
case class RangeBucket(child: Expression, bounds: IndexedSeq[Long])
    extends UnaryExpression {

  @transient private lazy val arr: Array[Long] = bounds.toArray

  override def checkInputDataTypes(): TypeCheckResult = GraftTypeCheck.long(child, prettyName)
  override def dataType: DataType = IntegerType
  override def prettyName: String = "graft_range_bucket"

  override protected def nullSafeEval(input: Any): Any =
    GraftRuntime.rangeBucket(input.asInstanceOf[Long], arr)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("graftBounds", arr, "long[]")
    defineCodeGen(ctx, ev, c => s"graft.expr.GraftRuntime.rangeBucket($c, $ref)")
  }

  override protected def withNewChildInternal(newChild: Expression): RangeBucket =
    copy(child = newChild)
}

/** `RangeBucketDist(key, broadcast bounds)` — the at-scale form of
  * [[RangeBucket]]: bounds travel as a Spark broadcast (one torrent-fetched
  * copy per executor) instead of a plan literal serialized into every task.
  * At 10^12 rows / 64Ki-row blocks the bounds array is ~15M longs (~120 MB):
  * as a literal that is 120 MB in EVERY task closure and in the snapshot
  * JSON; as a broadcast it is fetched once per executor and referenced.
  * Generated code resolves `value()` once per codegen instance into a
  * mutable `long[]` field, so the per-row cost stays one binary search.
  */
case class RangeBucketDist(
    child: Expression,
    bc: org.apache.spark.broadcast.Broadcast[Array[Long]])
    extends UnaryExpression {

  @transient private lazy val arr: Array[Long] = bc.value

  override def checkInputDataTypes(): TypeCheckResult = GraftTypeCheck.long(child, prettyName)
  override def dataType: DataType = IntegerType
  override def prettyName: String = "graft_range_bucket_dist"

  override protected def nullSafeEval(input: Any): Any =
    GraftRuntime.rangeBucket(input.asInstanceOf[Long], arr)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj(
      "graftBoundsBc", bc, "org.apache.spark.broadcast.Broadcast<long[]>")
    val arrName = ctx.addMutableState(
      "long[]", "graftBoundsArr", v => s"$v = (long[]) $ref.value();")
    defineCodeGen(ctx, ev, c => s"graft.expr.GraftRuntime.rangeBucket($c, $arrName)")
  }

  override protected def withNewChildInternal(newChild: Expression): RangeBucketDist =
    copy(child = newChild)
}

/** `graft_decode(binary)` -> array<int>, bit-identical inverse of
  * graft_encode for every codec (payloads are self-describing).
  */
case class GraftDecode(child: Expression) extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult = GraftTypeCheck.binary(child, prettyName)
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def prettyName: String = "graft_decode"

  override protected def nullSafeEval(input: Any): Any =
    GraftRuntime.decode(input.asInstanceOf[Array[Byte]])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.expr.GraftRuntime.decode($c)")

  override protected def withNewChildInternal(newChild: Expression): GraftDecode =
    copy(child = newChild)
}

/** `graft_decode_str(binary)` -> array<string> (doc_id / source blocks). */
case class GraftDecodeStr(child: Expression) extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult = GraftTypeCheck.binary(child, prettyName)
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "graft_decode_str"

  override protected def nullSafeEval(input: Any): Any =
    GraftRuntime.decodeStr(input.asInstanceOf[Array[Byte]])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.expr.GraftRuntime.decodeStr($c)")

  override protected def withNewChildInternal(newChild: Expression): GraftDecodeStr =
    copy(child = newChild)
}

/** `graft_reslice(flat array<int>, lengths array<int>)` -> array<array<int>>:
  * rebuilds per-row token arrays from a decoded block stream.
  */
case class GraftReslice(left: Expression, right: Expression)
    extends BinaryExpression {
  override def checkInputDataTypes(): TypeCheckResult = {
    val l = GraftTypeCheck.intArray(left, prettyName)
    if (l.isFailure) l else GraftTypeCheck.intArray(right, prettyName)
  }
  override def dataType: DataType =
    ArrayType(ArrayType(IntegerType, containsNull = false), containsNull = false)
  override def prettyName: String = "graft_reslice"

  override protected def nullSafeEval(flat: Any, lens: Any): Any =
    GraftRuntime.reslice(flat.asInstanceOf[ArrayData], lens.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (f, l) => s"graft.expr.GraftRuntime.reslice($f, $l)")

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): GraftReslice =
    copy(left = newLeft, right = newRight)
}
