package graft.expr

import java.nio.ByteBuffer

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, XXH64}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.catalyst.util.{ArrayData, HyperLogLogPlusPlusHelper}
import org.apache.spark.sql.types._

/** Running state of [[TokenStats]]: token min/max (`tokMin > tokMax` until
  * a token is seen), adjacent equal-token pairs, adjacent pairs, and the
  * HLL++ registers packed as Spark packs them.
  */
final class TokenStatsState(val registers: Array[Long]) {
  var tokMin: Int = Int.MaxValue
  var tokMax: Int = Int.MinValue
  var adj: Long = 0L
  var pairs: Long = 0L
  def hasTokens: Boolean = tokMin <= tokMax
}

/** The token-level column statistics of an `array<int>` column in ONE loop
  * over each row's array, as a struct
  * `(tok_min, tok_max, tok_distinct, adj, pairs)`:
  *   - `tok_min`/`tok_max`: over the non-null tokens (NULL when there is
  *     none), as `min(array_min(tokens))`/`max(array_max(tokens))`;
  *   - `tok_distinct`: `approx_count_distinct(token, 0.05)` over the
  *     exploded tokens, bit for bit — the same p = 9 registers, the same
  *     `XXH64.hashInt(v, 42)` hash and the same estimator
  *     ([[HyperLogLogPlusPlusHelper.query]]); the registers stay a
  *     primitive `long[]`, so no token is boxed;
  *   - `adj`: adjacent pairs of equal non-null tokens; a NULL element is
  *     equal to nothing;
  *   - `pairs`: Σ max(size(tokens) - 1, 0) — it follows the array, not
  *     `n_tok`. NULL and empty arrays add nothing.
  * Every part merges by min, max, sum or register max, so the result does
  * not depend on partitioning or row order.
  */
case class TokenStats(
    child: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[TokenStatsState] with UnaryLike[Expression] {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(IntegerType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects array<int>, got ${other.catalogString}")
  }

  override def prettyName: String = "graft_token_stats"
  override def nullable: Boolean = false
  override def dataType: DataType = TokenStats.ResultType

  override def createAggregationBuffer(): TokenStatsState =
    new TokenStatsState(new Array[Long](TokenStats.NumWords))

  override def update(s: TokenStatsState, input: InternalRow): TokenStatsState = {
    val a = child.eval(input)
    if (a != null) TokenStats.add(s, a.asInstanceOf[ArrayData])
    s
  }

  override def merge(s: TokenStatsState, other: TokenStatsState): TokenStatsState = {
    TokenStats.merge(s, other)
    s
  }

  override def eval(s: TokenStatsState): Any = TokenStats.result(s)
  override def serialize(s: TokenStatsState): Array[Byte] = TokenStats.serialize(s)
  override def deserialize(bytes: Array[Byte]): TokenStatsState = TokenStats.deserialize(bytes)

  override def withNewMutableAggBufferOffset(offset: Int): TokenStats =
    copy(mutableAggBufferOffset = offset)
  override def withNewInputAggBufferOffset(offset: Int): TokenStats =
    copy(inputAggBufferOffset = offset)
  override protected def withNewChildInternal(newChild: Expression): TokenStats =
    copy(child = newChild)
}

object TokenStats {

  /** The relative SD of `approx_count_distinct(token, 0.05)`. */
  val RelativeSD = 0.05

  val ResultType: StructType = StructType(Seq(
    StructField("tok_min", IntegerType),
    StructField("tok_max", IntegerType),
    StructField("tok_distinct", LongType, nullable = false),
    StructField("adj", LongType, nullable = false),
    StructField("pairs", LongType, nullable = false)))

  private val Helper = new HyperLogLogPlusPlusHelper(RelativeSD)
  // p as HyperLogLogPlusPlusHelper derives it (private there)
  private val P = math.ceil(2.0 * math.log(1.106 / RelativeSD) / math.log(2.0)).toInt
  private val IdxShift = 64 - P
  private val WPadding = 1L << (P - 1)
  private val HashSeed = 42L
  private val RegisterSize = HyperLogLogPlusPlusHelper.REGISTER_SIZE
  private val PerWord = HyperLogLogPlusPlusHelper.REGISTERS_PER_WORD
  private val RegisterMask = HyperLogLogPlusPlusHelper.REGISTER_WORD_MASK
  val NumWords: Int = Helper.numWords
  require(NumWords == (1 << P) / PerWord + 1,
    s"HLL++ layout changed: $NumWords words for p=$P")

  private val SerializedBytes = 4 + 4 + 8 + 8 + 8 * NumWords

  /** Adds one array's tokens. A token equal to its predecessor is counted
    * as an adjacent repeat only: min, max and the registers already hold it.
    */
  def add(s: TokenStatsState, a: ArrayData): Unit = {
    val n = a.numElements()
    if (n > 1) s.pairs += n - 1
    val regs = s.registers
    var tokMin = s.tokMin
    var tokMax = s.tokMax
    var adj = s.adj
    var havePrev = false
    var prev = 0
    var i = 0
    while (i < n) {
      if (a.isNullAt(i)) havePrev = false
      else {
        val v = a.getInt(i)
        if (havePrev && v == prev) adj += 1
        else {
          if (v < tokMin) tokMin = v
          if (v > tokMax) tokMax = v
          // HyperLogLogPlusPlusHelper.update on a primitive register array
          val x = XXH64.hashInt(v, HashSeed)
          val idx = (x >>> IdxShift).toInt
          val pw = java.lang.Long.numberOfLeadingZeros((x << P) | WPadding) + 1L
          val w = idx / PerWord
          val shift = RegisterSize * (idx - w * PerWord)
          val mask = RegisterMask << shift
          val word = regs(w)
          if (pw > ((word & mask) >>> shift)) regs(w) = (word & ~mask) | (pw << shift)
          prev = v
          havePrev = true
        }
      }
      i += 1
    }
    s.tokMin = tokMin
    s.tokMax = tokMax
    s.adj = adj
  }

  def merge(s: TokenStatsState, o: TokenStatsState): Unit = {
    s.tokMin = math.min(s.tokMin, o.tokMin)
    s.tokMax = math.max(s.tokMax, o.tokMax)
    s.adj += o.adj
    s.pairs += o.pairs
    val a = s.registers
    val b = o.registers
    var w = 0
    while (w < NumWords) {
      val wa = a(w)
      val wb = b(w)
      var merged = 0L
      var shift = 0
      while (shift < RegisterSize * PerWord) {
        val mask = RegisterMask << shift
        merged |= math.max(wa & mask, wb & mask)
        shift += RegisterSize
      }
      a(w) = merged
      w += 1
    }
  }

  def result(s: TokenStatsState): InternalRow = {
    val registers = new GenericInternalRow(s.registers.map(r => r: Any))
    new GenericInternalRow(Array[Any](
      if (s.hasTokens) s.tokMin else null,
      if (s.hasTokens) s.tokMax else null,
      Helper.query(registers, 0),
      s.adj,
      s.pairs))
  }

  def serialize(s: TokenStatsState): Array[Byte] = {
    val bb = ByteBuffer.allocate(SerializedBytes)
    bb.putInt(s.tokMin).putInt(s.tokMax).putLong(s.adj).putLong(s.pairs)
    val regs = s.registers
    var w = 0
    while (w < NumWords) {
      bb.putLong(regs(w))
      w += 1
    }
    bb.array()
  }

  def deserialize(bytes: Array[Byte]): TokenStatsState = {
    require(bytes.length == SerializedBytes,
      s"token stats buffer of ${bytes.length} B, expected $SerializedBytes B")
    val bb = ByteBuffer.wrap(bytes)
    val s = new TokenStatsState(new Array[Long](NumWords))
    s.tokMin = bb.getInt()
    s.tokMax = bb.getInt()
    s.adj = bb.getLong()
    s.pairs = bb.getLong()
    val regs = s.registers
    var w = 0
    while (w < NumWords) {
      regs(w) = bb.getLong()
      w += 1
    }
    s
  }
}
