package graft.expr

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}
import org.apache.spark.unsafe.types.UTF8String

/** Deterministic 64-bit string hashing for the dedup sketches: FNV-1a over
  * the UTF-8 bytes, seeded, with a splitmix64 finalizer for avalanche. Pure
  * JVM, no dependencies — stable across Spark versions (sketch values are
  * persisted nowhere, but candidate generation must be run-to-run stable).
  */
object SketchRuntime {

  def hashBytes(bytes: Array[Byte], off: Int, len: Int, seed: Long): Long = {
    var h = seed ^ 0xcbf29ce484222325L
    var i = off
    val end = off + len
    while (i < end) {
      h ^= bytes(i) & 0xFFL
      h *= 0x100000001b3L
      i += 1
    }
    // splitmix64 finalizer
    h ^= h >>> 30; h *= 0xbf58476d1ce4e5b9L
    h ^= h >>> 27; h *= 0x94d049bb133111ebL
    h ^ (h >>> 31)
  }

  def hashString(s: UTF8String, seed: Long): Long = {
    val b = s.getBytes
    hashBytes(b, 0, b.length, seed)
  }

  /** Distinct word k-gram shingles of a text, byte-equal to the HOF
    * formulation
    * `array_distinct(transform(sequence(1, greatest(n_words - k + 1, 1)),
    * i -> array_join(slice(split(text, " "), i, k), " ")))` — including
    * split's keep-empty-tokens limit=-1 semantics — computed in ONE pass.
    */
  def shingles(text: UTF8String, k: Int): ArrayData = {
    val words = text.toString.split(" ", -1)
    val n = words.length
    val m = math.max(n - k + 1, 1)
    val out = new java.util.LinkedHashSet[String](m * 2)
    val sb = new java.lang.StringBuilder
    var i = 0
    while (i < m) {
      sb.setLength(0)
      var j = i
      val end = math.min(i + k, n)
      while (j < end) {
        if (j > i) sb.append(' ')
        sb.append(words(j))
        j += 1
      }
      out.add(sb.toString)
      i += 1
    }
    val arr = new Array[AnyRef](out.size)
    val it = out.iterator()
    var x = 0
    while (it.hasNext) {
      arr(x) = UTF8String.fromString(it.next())
      x += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(arr)
  }

  /** MinHash signature: for seed i in [0, n), the minimum of hash(elem, i)
    * over the (shingle) set. P(sig_a[i] == sig_b[i]) = Jaccard(a, b).
    * Each element's bytes are fetched once, not once per seed: on an
    * unsafe-backed array every `getUTF8String(j).getBytes` copies.
    */
  def minHash(a: ArrayData, n: Int): ArrayData = {
    val m = a.numElements()
    val bytes = new Array[Array[Byte]](m)
    var j = 0
    while (j < m) {
      bytes(j) = a.getUTF8String(j).getBytes
      j += 1
    }
    val sig = new Array[Long](n)
    var i = 0
    while (i < n) {
      var min = Long.MaxValue
      j = 0
      while (j < m) {
        val b = bytes(j)
        val h = hashBytes(b, 0, b.length, i.toLong)
        if (h < min) min = h
        j += 1
      }
      sig(i) = min
      i += 1
    }
    UnsafeArrayData.fromPrimitiveArray(sig)
  }

  /** Cosine similarity, double precision, sequential accumulation — must
    * match the HOF formulation bit for bit (same op order).
    */
  def cosine(a: ArrayData, b: ArrayData): Double = {
    val n = a.numElements()
    require(n == b.numElements(), s"dim mismatch: $n vs ${b.numElements()}")
    var dot = 0.0
    var na = 0.0
    var nb = 0.0
    var i = 0
    while (i < n) {
      val x = a.getFloat(i).toDouble
      val y = b.getFloat(i).toDouble
      dot += x * y
      na += x * x
      nb += y * y
      i += 1
    }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }

  /** splitmix64 — the avalanche core used for plane weights. */
  private def mix(z0: Long): Long = {
    var z = z0 + 0x9e3779b97f4a7c15L
    z ^= z >>> 30; z *= 0xbf58476d1ce4e5b9L
    z ^= z >>> 27; z *= 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  /** Hyperplane weight matrices, cached per (planes, dim) per executor JVM:
    * w(p,d) = hash(p,d) scaled to [-1,1). Deterministic — identical planes
    * on every executor of every run — and built ONCE, so the per-row work
    * is pure FMA instead of per-element hashing (the HOF formulation hashed
    * (p,d) for every row and evaluated interpreted; measured ~30 s for a
    * 5k-vector corpus vs sub-second here).
    */
  private val planeCache =
    new java.util.concurrent.ConcurrentHashMap[Long, Array[Array[Double]]]

  private def planes(nPlanes: Int, dim: Int): Array[Array[Double]] = {
    val key = nPlanes.toLong << 32 | dim.toLong
    var w = planeCache.get(key)
    if (w == null) {
      w = Array.tabulate(nPlanes, dim)((p, d) =>
        mix(mix(p.toLong) ^ (d.toLong + 1L)).toDouble / Long.MaxValue.toDouble)
      planeCache.putIfAbsent(key, w)
      w = planeCache.get(key)
    }
    w
  }

  /** Sign signature of `v` against `nPlanes` deterministic pseudo-random
    * hyperplanes: bit p = sign(Σ_d v[d]·w(p,d)).
    */
  def hyperplaneSig(v: ArrayData, nPlanes: Int): Long = {
    val dim = v.numElements()
    val w = planes(nPlanes, dim)
    var sig = 0L
    var p = 0
    while (p < nPlanes) {
      val wp = w(p)
      var dot = 0.0
      var i = 0
      while (i < dim) { dot += v.getFloat(i).toDouble * wp(i); i += 1 }
      if (dot >= 0) sig |= 1L << p
      p += 1
    }
    sig
  }

  /** Banded hyperplane keys: ONE signature of bands×rowsPerBand bits,
    * sliced into `bands` keys of `rowsPerBand` bits (OR-construction).
    */
  def hyperplaneBands(v: ArrayData, bands: Int, rowsPerBand: Int): ArrayData = {
    val sig = hyperplaneSig(v, bands * rowsPerBand)
    val mask = (1L << rowsPerBand) - 1L
    val out = new Array[Long](bands)
    var b = 0
    while (b < bands) {
      out(b) = (sig >>> (b * rowsPerBand)) & mask
      b += 1
    }
    UnsafeArrayData.fromPrimitiveArray(out)
  }

  /** 64-bit SimHash over the element multiset: bit b of the result is 1 iff
    * the sum over elements of sign(bit b of hash(elem)) is positive. Near-
    * identical documents differ in few bits (small Hamming distance).
    */
  def simHash(a: ArrayData): Long = {
    val m = a.numElements()
    val counts = new Array[Int](64)
    var j = 0
    while (j < m) {
      val h = hashString(a.getUTF8String(j), 0L)
      var b = 0
      while (b < 64) {
        if (((h >>> b) & 1L) == 1L) counts(b) += 1 else counts(b) -= 1
        b += 1
      }
      j += 1
    }
    var out = 0L
    var b = 0
    while (b < 64) {
      if (counts(b) > 0) out |= 1L << b
      b += 1
    }
    out
  }
}

/** `graft_cosine(array<float>, array<float>)` -> double cosine similarity.
  * Same sequential double-precision recurrence as the HOF formulation
  * (identical results), but codegen'd — the HOF lambdas evaluate
  * interpreted per element, which dominated the all-pairs similarity scan
  * (measured ~18× slower).
  */
case class CosineSim(left: Expression, right: Expression)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {

  private def floatArray(e: Expression, fn: String): TypeCheckResult = e.dataType match {
    case ArrayType(org.apache.spark.sql.types.FloatType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$fn expects array<float>, got ${other.catalogString}")
  }
  override def checkInputDataTypes(): TypeCheckResult = {
    val l = floatArray(left, prettyName)
    if (l.isFailure) l else floatArray(right, prettyName)
  }
  override def dataType: DataType = org.apache.spark.sql.types.DoubleType
  override def prettyName: String = "graft_cosine"

  override protected def nullSafeEval(a: Any, b: Any): Any =
    SketchRuntime.cosine(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.expr.SketchRuntime.cosine($a, $b)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CosineSim =
    copy(left = newLeft, right = newRight)
}

/** `graft_minhash(array<string>, n)` -> array<bigint> MinHash signature. */
case class MinHashSig(child: Expression, numHashes: Int) extends UnaryExpression {
  require(numHashes > 0 && numHashes <= 512, s"numHashes out of range: $numHashes")

  override def checkInputDataTypes(): TypeCheckResult = GraftTypeCheck.strArray(child, prettyName)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_minhash"

  override protected def nullSafeEval(input: Any): Any =
    SketchRuntime.minHash(input.asInstanceOf[ArrayData], numHashes)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.expr.SketchRuntime.minHash($c, $numHashes)")

  override protected def withNewChildInternal(newChild: Expression): MinHashSig =
    copy(child = newChild)
}

/** `graft_shingles(text, k)` -> array<string> distinct word k-gram
  * shingles. Native + codegen'd: the HOF formulation re-evaluates
  * `split(text, " ")` inside its lambda for EVERY generated element (no
  * CSE across lambda boundaries), making shingling O(words²) per
  * document — measured 8× slower forcing all shingles of the sf0.1
  * corpus. Result is element-equal to the HOF version (first-occurrence
  * distinct order, keep-empty-token split).
  */
case class WordShingles(child: Expression, k: Int) extends UnaryExpression {
  require(k > 0 && k <= 64, s"k out of range: $k")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case org.apache.spark.sql.types.StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects string, got ${other.catalogString}")
  }
  override def dataType: DataType =
    ArrayType(org.apache.spark.sql.types.StringType, containsNull = false)
  override def prettyName: String = "graft_shingles"

  override protected def nullSafeEval(input: Any): Any =
    SketchRuntime.shingles(input.asInstanceOf[UTF8String], k)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.expr.SketchRuntime.shingles($c, $k)")

  override protected def withNewChildInternal(newChild: Expression): WordShingles =
    copy(child = newChild)
}

/** `graft_hyperplane_sig(array<float>, planes)` -> bigint sign signature.
  * Native + codegen'd with a per-JVM cached weight matrix — the angular-LSH
  * hot path (every corpus vector, every encode of the ANN index).
  */
case class HyperplaneSig(child: Expression, planes: Int) extends UnaryExpression {
  require(planes > 0 && planes <= 63, s"planes out of range: $planes")

  private def floatArray(e: Expression): TypeCheckResult = e.dataType match {
    case ArrayType(org.apache.spark.sql.types.FloatType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects array<float>, got ${other.catalogString}")
  }
  override def checkInputDataTypes(): TypeCheckResult = floatArray(child)
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_hyperplane_sig"

  override protected def nullSafeEval(input: Any): Any =
    SketchRuntime.hyperplaneSig(input.asInstanceOf[ArrayData], planes)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.expr.SketchRuntime.hyperplaneSig($c, $planes)")

  override protected def withNewChildInternal(newChild: Expression): HyperplaneSig =
    copy(child = newChild)
}

/** `graft_hyperplane_bands(array<float>, bands, rowsPerBand)` ->
  * array<bigint> of banded LSH keys, one signature computation per row
  * (a HOF formulation re-evaluates the signature subtree once PER BAND —
  * measured 24× the work, interpreted on top).
  */
case class HyperplaneBands(child: Expression, bands: Int, rowsPerBand: Int)
    extends UnaryExpression {
  require(bands > 0 && rowsPerBand > 0 && bands * rowsPerBand <= 63,
    s"bands*rowsPerBand must be in (0, 63]: $bands x $rowsPerBand")

  private def floatArray(e: Expression): TypeCheckResult = e.dataType match {
    case ArrayType(org.apache.spark.sql.types.FloatType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects array<float>, got ${other.catalogString}")
  }
  override def checkInputDataTypes(): TypeCheckResult = floatArray(child)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_hyperplane_bands"

  override protected def nullSafeEval(input: Any): Any =
    SketchRuntime.hyperplaneBands(input.asInstanceOf[ArrayData], bands, rowsPerBand)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.expr.SketchRuntime.hyperplaneBands($c, $bands, $rowsPerBand)")

  override protected def withNewChildInternal(newChild: Expression): HyperplaneBands =
    copy(child = newChild)
}

/** `graft_simhash(array<string>)` -> bigint 64-bit SimHash. */
case class SimHash64(child: Expression) extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult = GraftTypeCheck.strArray(child, prettyName)
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_simhash"

  override protected def nullSafeEval(input: Any): Any =
    SketchRuntime.simHash(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.expr.SketchRuntime.simHash($c)")

  override protected def withNewChildInternal(newChild: Expression): SimHash64 =
    copy(child = newChild)
}
