package graft.table

import java.nio.file.Files

import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** Planability at streamed-version counts: a long-lived table ingested as
  * MANY micro-batch versions (the structured-streaming shape) must keep
  * every metadata/decode plan bounded by the number of SCHEMA EPOCHS, not
  * the number of versions — otherwise the analyzer blows up around a few
  * hundred ingests (thousand-branch unions), which is exactly the regime
  * a 100 TB streaming table lives in.
  */
class PlanScaleSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("60 micro-versions across 2 schema epochs: decode, describe, " +
    "connector scan, and compact all plan by epoch, not by version") {
    val dir = Files.createTempDirectory("graft-planscale").toString
    val opts = GraftTable.Options(targetRowsPerBlock = 64)
    val mkV1 = (lo: Int) => (lo until lo + 5).toDF("k").select(
      col("k").cast("long").as("id"), concat(lit("s"), col("k")).as("s"))
    val mkV2 = (lo: Int) => mkV1(lo).withColumn("extra", col("id") * 2)

    GenericTable.encode(mkV1(0), dir, keyCol = "id", opts)
    (1 until 30).foreach(i => GenericTable.append(mkV1(i * 5), dir, opts))
    (30 until 60).foreach(i => GenericTable.append(mkV2(i * 5), dir, opts))

    // decode: ONE scan whatever the versions (60) and epochs (2) — each
    // partition decodes under its own version's write schema
    def scans(df: org.apache.spark.sql.DataFrame): Int =
      df.queryExecution.executedPlan.collect { case s: BatchScanExec => s }.length
    val dec = GenericTable.decode(spark, dir)
    assert(scans(dec) == 1, dec.queryExecution.executedPlan.toString.take(3000))
    assert(dec.count() == 300)

    // describe: manifests of an epoch share ONE json scan; leaves unpivot
    // through ONE explode, so the whole plan has 2 scans — not 60, and
    // not (#versions x #leaves) union branches as a naive plan would
    val desc = GenericTable.describe(spark, dir)
    val descPlan = desc.queryExecution.executedPlan.toString
    assert("Scan json".r.findAllIn(descPlan).length == 2, descPlan.take(3000))
    val rows = desc.collect()
    // every column of each epoch appears; block counts add up to 60 blocks
    // for id/s (all versions) vs 30 for extra (epoch 2 only)
    val blocksFor = (c: String) =>
      rows.filter(_.getString(0) == c).map(_.getLong(2)).sum
    assert(blocksFor("id") == 60 && blocksFor("s") == 60, rows.mkString("\n"))
    assert(blocksFor("extra") == 30)

    // connector: the same epoch-bounded planning serves SQL reads
    val via = spark.read.format("graft").load(dir)
    assert(via.count() == 300)
    assert(via.where(col("id").between(50, 59)).count() == 10)

    // compact folds the fragment tail back to a bounded file count and
    // the decoded table is unchanged
    GenericTable.compact(spark, dir, opts)
    val after = GenericTable.decode(spark, dir)
    assert(after.count() == 300)
    assert(after.where(col("extra").isNotNull).count() == 150)
    assert(scans(after) == 1, after.queryExecution.executedPlan.toString.take(3000))
  }
}
