package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.FormattedMode
import org.apache.spark.sql.functions._

import graft.table.{GraftTable, Stats, Tokenize}

/** Dumps formatted physical plans of the engine's key paths (the
  * ".explain and iterate" evidence). Output is markdown on stdout.
  *
  * Usage: runMain graft.tools.PlanDump [sfDir]
  */
object PlanDump {

  /** One PLANS.md section: a title, a note on what the plan shows, and the
    * formatted physical plan.
    */
  final case class Section(title: String, note: String, plan: String)

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = SparkSession.builder().master("local[4]")
      .config("spark.sql.shuffle.partitions", 4)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    println("# Physical plans of the key engine paths")
    println(s"\nGenerated by `graft.tools.PlanDump` on $sfDir. Regenerate after plan-affecting changes.")
    sections(spark, sfDir).foreach { s =>
      println(s"\n## ${s.title}\n\n${s.note}\n\n```")
      println(s.plan)
      println("```")
    }
    spark.stop()
  }

  /** The sections of PLANS.md, in order. Encodes the tables they read
    * into temp dirs. Each plan is formatted as its section is made, before
    * the later sections run jobs that fill the caches it reads.
    */
  def sections(spark: SparkSession, sfDir: String): Seq[Section] = {
    val dir = java.nio.file.Files.createTempDirectory("graft-plandump").toString
    GraftTable.encode(Tokenize.tokenTable(spark, sfDir).toDF(), dir,
      GraftTable.Options(targetRowsPerBlock = 64))
    val out = Seq.newBuilder[Section]
    def dump(title: String, note: String, df: DataFrame): Unit =
      out += Section(title, note, df.queryExecution.explainString(FormattedMode).trim)

    dump("Tokenize (broadcast vocab probe)",
      "No join, no shuffle, no vocab literal: one WholeStageCodegen span over the scan; " +
        "the vocab travels as a broadcast referenced by the generated code.",
      Tokenize.tokenTable(spark, sfDir).toDF())

    dump("Token stats pass",
      "ONE aggregate over the keyed input, two jobs under adaptive execution: the scalar " +
        "aggregates and graft_token_stats, which loops over each row's token array once for " +
        "the token min/max, the HLL++ distinct count and the adjacent-repeat pairs. No " +
        "Generate, no higher-order function, no second pass.",
      Stats.aggregate(GraftTable.keyedOf(Tokenize.tokenTable(spark, sfDir).toDF())))

    dump("Column-pruned decode (tokens only)",
      "The connector scan reads columns=[tokens]: its reader opens only the pl_tokens/pl_n_tok " +
        "payloads (+ block_id), so the string payloads are never read.",
      GraftTable.decodeSelect(spark, dir, Seq("tokens")))

    dump("decodeRange(100, 150)",
      "The scan's pinned range=[100,150] prunes on the driver to the blocks whose manifest " +
        "doc_id bounds meet it (blocks=<kept>/<total>); the exact row filter stays above the scan.",
      GraftTable.decodeRange(spark, dir, 100L, 150L).toDF())

    dump("Banded-LSH ANN top-k",
      "Ids-only band explode on the corpus side, broadcast query bands, exact cosine on " +
        "candidates only, window top-k per query.",
      graft.ops.Similarity.lshTopK(
        spark.read.parquet(s"$sfDir/embeddings.parquet"),
        spark.read.parquet(s"$sfDir/embeddings.parquet").where(col("vec_id") < 3), 5))

    dump("MinHash-LSH near-dup pairs",
      "Band self-join carries (doc_id, band, bucket) only; shingles re-join after pair dedup; " +
        "bucket cap applied as a left-semi join against the small-buckets aggregate.",
      graft.ops.Dedup.minHashLsh(
        spark.read.parquet(s"$sfDir/documents.parquet"), threshold = 0.9))

    dump("DataSource V2 scan with pushed source filter + column prune",
      "BatchScan description shows blocks=<pruned>/<total> from the driver-side manifest " +
        "zone-map prune and the pruned column list; the source filter stays residual above the scan.",
      spark.read.format("graft").load(dir)
        .where(col("source") === "src1").select("doc_id", "n_tok"))

    dump("Exact Jaccard pairs (PPJoin-style prefix filter)",
      "Candidates join only on the rarest-first prefix (|s|/10+1 shingles at t=0.9) " +
        "with the size filter; id-only pair dedup; full shingle arrays re-join for the " +
        "exact verify. Lossless, never all-pairs. The rarest-first `ordered` frame is " +
        "PERSISTED - its posts-join-freq + collect_list subtree appears once, and all three " +
        "consumers read InMemoryTableScan (steady-state 1.35 s at sf0.1; perfbench `dedup` " +
        "times it as `ops.jaccard_s`; the bench's first-call number is codegen/JIT-dominated). " +
        "Prefix posting lists above maxPrefixBucket are skipped (degenerate floods).",
      graft.ops.Dedup.jaccardPairs(
        spark.read.parquet(s"$sfDir/documents.parquet"), threshold = 0.9))

    val gdir = java.nio.file.Files.createTempDirectory("graft-plandump-g").toString
    graft.table.GenericTable.encode(
      spark.read.parquet(s"$sfDir/documents.parquet")
        .where(col("doc_id") < 250).select("doc_id", "text", "source"),
      gdir, keyCol = "doc_id", GraftTable.Options(targetRowsPerBlock = 64))
    graft.table.GenericTable.append(
      spark.read.parquet(s"$sfDir/documents.parquet").where(col("doc_id") >= 250),
      gdir, GraftTable.Options(targetRowsPerBlock = 64))

    dump("Generic decodeRange over an evolved table",
      "ONE connector scan with range=[100,150]: versions whose recorded key spans miss " +
        "the interval are dropped before any footer opens, and the interval reaches each " +
        "file as a parquet row-group/record filter on key_min/key_max; each version decodes " +
        "under its own write schema and columns it predates read null; the exact row " +
        "filter stays above the scan.",
      graft.table.GenericTable.decodeRange(spark, gdir, 100L, 150L))

    val deepDir = java.nio.file.Files.createTempDirectory("graft-plandeep").toString
    graft.table.GenericTable.encode(
      spark.read.parquet(s"$sfDir/documents.parquet").select(
        col("doc_id").cast("long").as("doc_id"),
        expr("transform(split(text, ' '), (w, i) -> array(array(CAST(length(w) AS INT))))")
          .as("a3"),
        expr("array(map(lang, CAST(n_chars AS INT)))").as("lm")),
      deepDir, keyCol = "doc_id", opts = GraftTable.Options(targetRowsPerBlock = 64))
    dump("Arbitrary-depth nested decode (array<array<array<int>>> + array<map>)",
      "the connector scan restores every depth inside its reader, straight into " +
        "Catalyst arrays and maps: the plan is ONE scan -- no shuffle, no expression " +
        "tree, no extra branch.",
      graft.table.GenericTable.decode(spark, deepDir))

    dump("Near-dup cluster labels (final round output)",
      "each propagation round is one id-only edge join + a (length, lex)-min " +
        "aggregate + one pointer-jump self-join, checkpointed per generation so the " +
        "logical plan stays CONSTANT-size across rounds (un-truncated, the self-join " +
        "doubles the tree every round); shown here: the fixpoint joined to cluster " +
        "sizes.",
      graft.ops.Dedup.clusters(
        graft.ops.Dedup.jaccardPairs(
          spark.read.parquet(s"$sfDir/documents.parquet"), threshold = 0.9),
        spark.read.parquet(s"$sfDir/documents.parquet")))

    dump("Generic table through the DSv2 connector (pushed key range + prune)",
      "BatchScan description carries range=[lo,hi]: the key comparisons compose into one " +
        "interval pushed as a parquet row-group/record filter on the per-block " +
        "key_min/key_max columns (no driver-side id set at any size); only the `source` " +
        "payload column is read; the exact filters stay residual above the scan.",
      spark.read.format("graft").load(gdir)
        .where(col("doc_id") >= 100L && col("doc_id") <= 150L)
        .select("doc_id", "source"))

    out.result()
  }
}
