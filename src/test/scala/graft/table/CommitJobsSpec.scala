package graft.table

import java.nio.file.Files

import org.apache.spark.JobCounter
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.table.GraftTable.{EncodeResult, Options}

/** A commit runs only the jobs that do its work, and that number does not
  * grow with the table's history: an append or a range delete on a table of
  * 2 live manifest dirs and on one of 20 runs the same, pinned, number of
  * Spark jobs. A side job that comes back (a manifest count, a totals
  * aggregate over the kept manifests, a schema-inference pass, a manifest
  * read for a whole-version answer the snapshot records) fails here.
  */
class CommitJobsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private val Opts = Options(targetRowsPerBlock = 1024)

  /** Jobs of a one-block token append. Adaptive execution runs each
    * shuffle's map stage as a job of its own, so an aggregate or an
    * exchange costs two: the one stats aggregate (two), the block write
    * (two) and the manifest write (one). The block-id offset comes from
    * the snapshot's version summaries.
    */
  private val TokenAppendJobs = 5

  /** Jobs of a one-block generic append: the fingerprint and the block
    * write (two each) and the manifest write (one).
    */
  private val GenericAppendJobs = 5

  /** Jobs of a fresh one-block token encode: the stats aggregate (two),
    * the block write (two plus one for the cached keyed frame, which
    * adaptive execution materializes as a stage of its own) and the
    * manifest write (one). A one-block table takes no bounds job.
    */
  private val TokenEncodeJobs = 6

  /** Jobs of a fresh one-block generic encode: the fingerprint (two), the
    * block write (three, with the cached keyed frame) and the manifest
    * write (one).
    */
  private val GenericEncodeJobs = 6

  /** Jobs of a token encode of no row: the stats aggregate alone (two).
    * An empty input commits the empty snapshot before any bounds, block
    * write or manifest write.
    */
  private val TokenEmptyEncodeJobs = 2

  /** Jobs of a generic encode of no row: the fingerprint alone. */
  private val GenericEmptyEncodeJobs = 2

  /** (jobs of an append onto 2 live manifest dirs, onto 20); `append(i)`
    * appends batch `i`, batch 0 creates the table.
    */
  private def appendJobs(dir: String, append: Int => EncodeResult): (Int, Int) = {
    append(0)
    append(1)
    def live = GraftTable.currentSnapshot(spark, dir).get.manifestDirs.length
    assert(live == 2)
    val at2 = JobCounter(spark.sparkContext)(append(2))._2
    (3 until 20).foreach(append)
    assert(live == 20)
    val at20 = JobCounter(spark.sparkContext)(append(20))._2
    (at2, at20)
  }

  /** Jobs of a token compact that merges 3 one-block versions into one
    * block: the stats aggregate over the connector scan of the fragments
    * (two), the block write (two) and the manifest write (one). The fill
    * that picks the fragments comes from the snapshot's version summaries.
    */
  private val TokenCompactJobs = 5

  /** Jobs of a `deleteRange` that rewrites one one-block version: the
    * count of the rows it keeps (two), the bounds sample (one), the block
    * write (two) and the manifest write (one). The versions the range
    * meets, and the totals they drop, come from the snapshot's version
    * summaries.
    */
  private val DeleteRangeJobs = 6

  /** Jobs of `op` on a table of `n` live versions made by `create(dir, i)`
    * for `i` in `0 until n`.
    */
  private def jobsOn(n: Int, create: (String, Int) => Any)(op: String => Any): Int = {
    val dir = Files.createTempDirectory("graft-jobs-op").toString
    (0 until n).foreach(create(dir, _))
    assert(GraftTable.currentSnapshot(spark, dir).get.manifestDirs.length == n)
    JobCounter(spark.sparkContext)(op(dir))._2
  }

  private def tokenBatch(i: Int): DataFrame = spark.range(i * 50L, i * 50L + 50)
    .select(col("id").cast("string").as("doc_id"),
      array((col("id") % 31).cast("int"), (col("id") % 7).cast("int")).as("tokens"),
      lit(2).as("n_tok"), concat(lit("s"), col("id") % 3).as("source"))

  private def genericBatch(i: Int): DataFrame = spark.range(i * 50L, i * 50L + 50)
    .select(col("id"), concat(lit("v"), col("id")).as("v"))

  test("token append: the same pinned job count on 2 and on 20 live manifests") {
    val dir = Files.createTempDirectory("graft-jobs-token").toString
    val (at2, at20) = appendJobs(dir, i => GraftTable.append(tokenBatch(i), dir, Opts))
    assert(at2 == at20, s"2 live manifests: $at2 jobs, 20: $at20")
    assert(at20 == TokenAppendJobs)
  }

  test("generic append: the same pinned job count on 2 and on 20 live manifests") {
    val dir = Files.createTempDirectory("graft-jobs-generic").toString
    val (at2, at20) = appendJobs(dir, i =>
      if (i == 0) GenericTable.encode(genericBatch(0), dir, keyCol = "id", opts = Opts)
      else GenericTable.append(genericBatch(i), dir, Opts))
    assert(at2 == at20, s"2 live manifests: $at2 jobs, 20: $at20")
    assert(at20 == GenericAppendJobs)
  }

  private def createToken(dir: String, i: Int): Any = GraftTable.append(tokenBatch(i), dir, Opts)

  private def createGeneric(dir: String, i: Int): Any =
    if (i == 0) GenericTable.encode(genericBatch(0), dir, keyCol = "id", opts = Opts)
    else GenericTable.append(genericBatch(i), dir, Opts)

  test("a no-op compact runs no job, in both lanes") {
    Seq[(String => EncodeResult, (String, Int) => Any)](
      (dir => GraftTable.compact(spark, dir, Opts), createToken),
      (dir => GenericTable.compact(spark, dir, Opts), createGeneric)).foreach {
      case (compact, create) =>
        // the first compact merges the 3 one-block versions; the second has
        // nothing left to merge
        val dir = Files.createTempDirectory("graft-jobs-compact").toString
        (0 until 3).foreach(create(dir, _))
        val merged = compact(dir)
        assert(merged.blocksEncodedThisRun == 1)
        val (again, n) = JobCounter(spark.sparkContext)(compact(dir))
        assert(again.version == merged.version && again.blocksEncodedThisRun == 0)
        assert(n == 0, s"a no-op compact ran $n jobs")
    }
  }

  test("token compact: a pinned job count to merge 3 one-block versions") {
    val n = jobsOn(3, createToken) { dir =>
      val merged = GraftTable.compact(spark, dir, Opts)
      assert(merged.blocksEncodedThisRun == 1 && merged.rowCount == 150)
    }
    assert(n == TokenCompactJobs)
  }

  test("encode: pinned job counts of a fresh one-block and an empty-input encode, in both lanes") {
    def jobs(encode: String => EncodeResult): (EncodeResult, Int) =
      JobCounter(spark.sparkContext)(encode(Files.createTempDirectory("graft-jobs-enc").toString))
    // the empty inputs are empty by a row filter, so no optimizer rule
    // plans them away before the stats or fingerprint pass
    val counts = Seq(
      jobs(GraftTable.encode(tokenBatch(0), _, Opts)),
      jobs(GraftTable.encode(tokenBatch(0).where(col("doc_id") === "none"), _, Opts)),
      jobs(GenericTable.encode(genericBatch(0), _, keyCol = "id", opts = Opts)),
      jobs(GenericTable.encode(genericBatch(0).where(col("id") < 0), _, keyCol = "id",
        opts = Opts)))
    val Seq(token, tokenEmpty, generic, genericEmpty) = counts.map(_._2)
    assert(counts.map(_._1.blocksEncodedThisRun) == Seq(1L, 0L, 1L, 0L))
    assert(counts.forall(_._1.complete))
    assert((token, tokenEmpty, generic, genericEmpty) ==
      (TokenEncodeJobs, TokenEmptyEncodeJobs, GenericEncodeJobs, GenericEmptyEncodeJobs))
  }

  test("deleteRange: the same pinned job count on 2 and on 20 live versions") {
    // rows [60, 69] are in batch 1 alone: one version is rewritten
    val Seq(at2, at20) = Seq(2, 20).map(n =>
      jobsOn(n, createGeneric)(dir => GenericTable.deleteRange(spark, dir, 60L, 69L, Opts)))
    assert(at2 == at20, s"2 live versions: $at2 jobs, 20: $at20")
    assert(at20 == DeleteRangeJobs)
  }
}
