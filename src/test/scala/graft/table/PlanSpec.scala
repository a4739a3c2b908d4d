package graft.table

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** Physical-plan quality gates (the "explain and iterate" requirement):
  * column pruning and predicate pushdown must reach the Parquet scan of the
  * encoded blocks and the connector scan of every token read, and the
  * codec expressions must stay inside whole-stage codegen (ExprSpec covers
  * the WSCG assertion for encode/decode).
  */
class PlanSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private lazy val tableDir: String = {
    val dir = Files.createTempDirectory("graft-plan").toString
    GraftTable.encode(
      Tokenize.tokenTable(spark, "/root/testdata/sf0.001").toDF(), dir,
      GraftTable.Options(targetRowsPerBlock = 64))
    dir
  }

  test("reading one payload column prunes the scan to that column") {
    val df = GraftTable.readBlocks(spark, tableDir)
      .select(col("block_id"), octet_length(col("pl_tokens")))
    val plan = df.queryExecution.executedPlan.toString
    val readSchema = "ReadSchema: [^\\n]*".r.findFirstIn(plan).getOrElse("")
    assert(readSchema.contains("pl_tokens"), plan)
    // the other three payload columns must NOT be read
    Seq("pl_doc_id", "pl_n_tok", "pl_source").foreach { c =>
      assert(!readSchema.contains(c), s"$c not pruned: $readSchema")
    }
  }

  /** The `columns=[...]` the connector scan of `df` reads. */
  private def scanColumns(df: DataFrame): String = {
    val plan = df.queryExecution.executedPlan.toString
    "columns=\\[[^\\]]*\\]".r.findFirstIn(plan).getOrElse(fail(s"no graft scan: $plan"))
  }

  test("decodeSelect(tokens) reads only the token payloads") {
    val df = GraftTable.decodeSelect(spark, tableDir, Seq("tokens", "n_tok"))
    // the scan's columns pick its payloads: pl_tokens and pl_n_tok only
    assert(scanColumns(df) == "columns=[tokens,n_tok]")
    // values equal the full decode's projection
    val full = GraftTable.decode(spark, tableDir).toDF()
      .agg(sum(Tokenize.checksumCol(col("tokens"))), sum(col("n_tok").cast("long"))).head()
    val slim = df
      .agg(sum(Tokenize.checksumCol(col("tokens"))), sum(col("n_tok").cast("long"))).head()
    assert(full == slim)
    // n_tok-only variant skips even pl_tokens
    val nOnly = GraftTable.decodeSelect(spark, tableDir, Seq("n_tok"))
    assert(scanColumns(nOnly) == "columns=[n_tok]")
    assert(nOnly.agg(sum(col("n_tok").cast("long"))).head() ==
      GraftTable.decode(spark, tableDir).toDF().agg(sum(col("n_tok").cast("long"))).head())
  }

  test("every token read plans one connector scan and no expression decode") {
    val reads = Seq(
      "decode" -> GraftTable.decode(spark, tableDir).toDF(),
      "decodeAt" -> GraftTable.decodeAt(spark, tableDir, 1).toDF(),
      "decodeSelect" -> GraftTable.decodeSelect(spark, tableDir, Seq("tokens")),
      "decodeRange" -> GraftTable.decodeRange(spark, tableDir, 100L, 150L).toDF(),
      "decodeWhere" -> GraftTable.decodeWhere(spark, tableDir, Seq("src3")).toDF())
    reads.foreach { case (name, df) =>
      val plan = df.queryExecution.executedPlan.toString
      assert("BatchScan graft".r.findAllMatchIn(plan).length == 1, s"$name: $plan")
      Seq("graft_decode", "Generate").foreach { n =>
        assert(!plan.contains(n), s"$name plans $n: $plan")
      }
    }
  }

  test("block-range predicates push down to the Parquet scan") {
    val df = GraftTable.readBlocks(spark, tableDir)
      .where(col("block_id") >= 2 && col("block_id") <= 3)
      .select(col("block_id"))
    val plan = df.queryExecution.executedPlan.toString
    val pushed = "PushedFilters: \\[[^\\]]*\\]".r.findFirstIn(plan).getOrElse("")
    assert(pushed.contains("GreaterThanOrEqual(block_id,2"), plan)
    assert(pushed.contains("LessThanOrEqual(block_id,3"), plan)
  }

  test("decodeRange returns exactly the requested rows via block pruning") {
    val out = GraftTable.decodeRange(spark, tableDir, 100L, 150L)
    val ids = out.collect().map(_.doc_id.toLong).sorted.toSeq
    assert(ids == (100L to 150L))
  }

  test("decode of a doc_id range only touches the covering blocks") {
    // manifest min/max enables block-level pruning: select blocks whose
    // doc_id range intersects the predicate, then decode only those
    val man = GraftTable.readManifest(spark, tableDir)
    val total = man.count()
    val hit = man.where(
      expr("try_cast(doc_id_max as bigint)") >= 100 &&
        expr("try_cast(doc_id_min as bigint)") <= 150)
    val hitBlocks = hit.select(col("block_id").cast("int")).collect().map(_.getInt(0))
    assert(hitBlocks.length < total, "predicate should prune some blocks")
    val decoded = GraftTable.readBlocks(spark, tableDir)
      .where(col("block_id").isin(hitBlocks.map(Int.box): _*))
      .select(explode(graft.functions.graft_decode_str(col("pl_doc_id"))).as("doc_id"))
    val ids = decoded.collect().map(_.getString(0)).map(_.toLong)
    assert(ids.exists(id => id >= 100 && id <= 150))
  }
}
