package graft.expr

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{UnsafeArrayData, UnsafeProjection}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.funsuite.AnyFunSuite

/** `SketchRuntime.minHash` reads each shingle's bytes once and runs the
  * seed loop over them; its signatures must equal the per-seed formulation
  * (one `hashString(a.getUTF8String(j), i)` per seed and element) bit for
  * bit, on heap and on unsafe-backed arrays.
  */
class MinHashSpec extends AnyFunSuite {

  /** The per-seed formulation the kernel replaces. */
  private def perSeed(a: ArrayData, n: Int): Seq[Long] = (0 until n).map { i =>
    (0 until a.numElements()).map(j => SketchRuntime.hashString(a.getUTF8String(j), i.toLong))
      .foldLeft(Long.MaxValue)(math.min)
  }

  private def heap(xs: Seq[String]): ArrayData =
    new GenericArrayData(xs.map(UTF8String.fromString).toArray[Any])

  /** The same strings in an `UnsafeArrayData`, as a cached column holds them. */
  private def unsafe(xs: Seq[String]): UnsafeArrayData = {
    val proj = UnsafeProjection.create(Array[DataType](ArrayType(StringType)))
    proj(InternalRow(heap(xs))).getArray(0).asInstanceOf[UnsafeArrayData]
  }

  private val Shingles = Seq(
    Seq.empty[String],
    Seq(""),
    Seq("a b c"),
    Seq("the quick brown", "quick brown fox", "brown fox jumps", "fox jumps over"),
    Seq("héllo wörld ünïcode", "σπαρκ δοκ 文書", "emoji 🙂 shingle", "plain ascii"),
    (0 until 300).map(i => s"w$i w${i + 1} w${i + 2}"))

  test("the hoisted kernel equals the per-seed formulation on heap and unsafe arrays") {
    Shingles.foreach { xs =>
      Seq(1, 64, 128).foreach { n =>
        val want = perSeed(heap(xs), n)
        Seq(heap(xs), unsafe(xs)).foreach { a =>
          assert(SketchRuntime.minHash(a, n).toLongArray().toSeq == want,
            s"${a.getClass.getSimpleName} n=$n ${xs.take(3)}")
        }
      }
    }
  }

  test("an empty shingle set signs every seed Long.MaxValue") {
    assert(SketchRuntime.minHash(unsafe(Nil), 64).toLongArray().forall(_ == Long.MaxValue))
  }
}
