package graft.table

import java.io.File
import java.nio.file.Files

import org.apache.commons.io.FileUtils
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.table.GraftTable.{EncodeResult, Options}

/** Tables written before snapshots recorded their version summaries: a
  * snapshot without `versions` derives them through
  * [[VersionSummary.of]], every whole-version operation then returns what
  * it returns on a table that records them, and the next commit records
  * the derived summaries.
  */
class VersionSummarySpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val Opts = Options(targetRowsPerBlock = 32)

  /** A table and a copy of it whose current snapshot is rewritten without
    * `versions`, as earlier builds wrote it.
    */
  private final class Pair(tag: String) {
    val recorded: String = Files.createTempDirectory(s"graft-vs-$tag").toString
    val forged: String = Files.createTempDirectory(s"graft-vs-$tag-forged").toString

    /** Makes the forged table a fresh copy of the recorded one, stripped. */
    def forge(): Unit = {
      FileUtils.deleteDirectory(new File(forged))
      FileUtils.copyDirectory(new File(recorded), new File(forged))
      val snap = GraftTable.currentSnapshot(spark, forged).get
      GraftTable.writeString(spark, s"$forged/metadata/v${snap.version}.json",
        GraftTable.renderSnapshot(snap.copy(versions = None)))
      val stripped = GraftTable.currentSnapshot(spark, forged).get
      assert(stripped.versions.isEmpty)
      assert(VersionSummary.of(spark, forged, stripped) == snap.versions.get)
    }

    /** Runs `op` on both tables and checks that both return the same
      * result and commit the same snapshot, summaries included.
      */
    def same(op: String => EncodeResult): EncodeResult = {
      forge()
      val want = op(recorded)
      val got = op(forged)
      assert(got == want)
      def snap(d: String) = GraftTable.currentSnapshot(spark, d).get.copy(committedAt = "")
      assert(snap(forged) == snap(recorded))
      assert(snap(forged).versions.nonEmpty)
      want
    }
  }

  private def assertSameRows(a: DataFrame, b: DataFrame): Unit = {
    assert(a.count() == b.count())
    assert(a.exceptAll(b).count() == 0 && b.exceptAll(a).count() == 0)
  }

  /** Token rows of doc ids [lo, hi). */
  private def tokenRows(lo: Long, hi: Long): DataFrame = spark.range(lo, hi)
    .select(col("id").cast("string").as("doc_id"),
      expr("transform(sequence(0, cast(id % 5 + 1 as int)), x -> cast((x * 31 + id) % 50 as int))")
        .as("tokens"),
      concat(lit("s"), col("id") % 3).as("source"))
    .select(col("doc_id"), col("tokens"), size(col("tokens")).as("n_tok"), col("source"))

  test("token lane: append and compact on a snapshot without summaries") {
    val t = new Pair("token")
    GraftTable.encode(tokenRows(0, 200), t.recorded, Opts)
    GraftTable.append(tokenRows(200, 210), t.recorded, Opts)
    val appended = t.same(d => GraftTable.append(tokenRows(210, 215), d, Opts))
    assert(appended.blocksEncodedThisRun == 1)
    val compacted = t.same(d => GraftTable.compact(spark, d, Opts))
    assert(compacted.blocksEncodedThisRun > 0)
    assertSameRows(GraftTable.decode(spark, t.forged).toDF(),
      GraftTable.decode(spark, t.recorded).toDF())
  }

  /** Generic rows of ids [lo, hi). */
  private def genericRows(lo: Long, hi: Long): DataFrame = spark.range(lo, hi)
    .select(col("id"), (col("id") % 5).cast("int").as("g"), concat(lit("v"), col("id")).as("v"))

  test("generic lane: compact, deletes, append and decodeRange on a snapshot " +
    "without summaries") {
    val t = new Pair("generic")
    GenericTable.encode(genericRows(0, 200), t.recorded, keyCol = "id", opts = Opts)
    (0 until 3).foreach(i =>
      GenericTable.append(genericRows(200 + 10 * i, 210 + 10 * i), t.recorded, Opts))
    // decodeRange prunes versions by their key spans
    t.forge()
    assert(GenericTable.rangeDataDirs(spark, t.forged,
      GraftTable.currentSnapshot(spark, t.forged).get, 212, 215) == Seq("data/v3"))
    assertSameRows(GenericTable.decodeRange(spark, t.forged, 205, 225),
      GenericTable.decodeRange(spark, t.recorded, 205, 225))
    assert(GenericTable.decodeRange(spark, t.forged, 205, 225).count() == 21)
    Seq[String => EncodeResult](
      d => GenericTable.compact(spark, d, Opts),
      d => GenericTable.deleteRange(spark, d, 212L, 215L, Opts),
      d => GenericTable.deleteKeys(spark, d, Seq(3L, 221L).toDF("k"), Opts),
      d => GenericTable.deleteWhere(spark, d, col("g") === 4 && col("id") > 200L, Opts),
      d => GenericTable.append(genericRows(230, 236), d, Opts)).foreach { op =>
      assert(t.same(op).blocksEncodedThisRun > 0)
    }
    assertSameRows(GenericTable.decode(spark, t.forged), GenericTable.decode(spark, t.recorded))
    assert(GenericTable.decode(spark, t.forged).count() == 200 + 30 - 4 - 2 - 5 + 6)
  }
}
