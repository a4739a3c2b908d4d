package graft.table

import java.nio.file.Files

import org.apache.spark.JobCounter
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.table.GraftTable.{EncodeResult, Options}

/** A commit runs only the jobs that do its work, and that number does not
  * grow with the table's history: an append on a table of 2 live manifest
  * dirs and on one of 20 runs the same, pinned, number of Spark jobs. A side
  * job that comes back (a manifest count, a totals aggregate over the kept
  * manifests, a schema-inference pass) fails here.
  */
class CommitJobsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private val Opts = Options(targetRowsPerBlock = 1024)

  /** Jobs of a one-block token append. Adaptive execution runs each
    * shuffle's map stage as a job of its own, so an aggregate or an
    * exchange costs two: the stats pass, its sample and the block-id
    * offset from the manifest (two each), the block write (two) and the
    * manifest write (one).
    */
  private val TokenAppendJobs = 9

  /** Jobs of a one-block generic append: the fingerprint and the block
    * write (two each) and the manifest write (one).
    */
  private val GenericAppendJobs = 5

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
}
