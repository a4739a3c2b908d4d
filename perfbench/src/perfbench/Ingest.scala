package perfbench

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.table.{GraftTable, Stats, Tokenize}

/** Helpers shared by the token-lane workloads. */
object Tok {

  /** Same blocking key the engine derives (numeric doc_id, else hash). */
  def keyed(df: DataFrame): DataFrame = df.select(
    col("doc_id"), col("tokens"), col("n_tok"), col("source"),
    expr("coalesce(try_cast(doc_id as bigint), xxhash64(doc_id))").as("_graft_key"))

  /** (rows, tokens, checksum) per source; reads every token. */
  def perSource(df: DataFrame): Map[String, (Long, Long, Long)] = perSourceOf(perSourceAgg(df).collect())

  def perSourceAgg(df: DataFrame): DataFrame =
    df.groupBy("source").agg(count(lit(1)), sum(size(col("tokens")).cast("long")),
      sum(Tokenize.checksumCol(col("tokens"))))

  def perSourceOf(rows: Array[Row]): Map[String, (Long, Long, Long)] =
    rows.map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap

  def total(m: Map[String, (Long, Long, Long)]): (Long, Long, Long) =
    m.values.foldLeft((0L, 0L, 0L)) { case ((a, b, c), (x, y, z)) => (a + x, b + y, c + z) }

  /** Per document: numeric id, source, n_tok, checksum. */
  def docSummaries(df: DataFrame): Array[(Long, String, Long, Long)] =
    df.select(col("doc_id").cast("long"), col("source"), col("n_tok").cast("long"),
        Tokenize.checksumCol(col("tokens"))).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))

  /** Expected `perSource` of the documents passing `keep`. */
  def expect(docs: Iterable[(Long, String, Long, Long)],
      keep: ((Long, String, Long, Long)) => Boolean): Map[String, (Long, Long, Long)] =
    docs.filter(keep).groupMapReduce(_._2)(d => (1L, d._3, d._4)) {
      case ((a, b, c), (x, y, z)) => (a + x, b + y, c + z)
    }

  /** Bytes of the `.parquet` part files under `dir`. */
  def parquetBytes(dir: String): Long = {
    val st = Files.walk(Paths.get(dir))
    try st.iterator().asScala.filter(_.toString.endsWith(".parquet")).map(Files.size(_)).sum
    finally st.close()
  }

  /** Write `df` as Spark-default (snappy) Parquet and return its bytes. */
  def writeParquet(ctx: Ctx, df: DataFrame, dir: String): Long = {
    ctx.deleteDir(dir)
    df.write.parquet(dir)
    parquetBytes(dir)
  }

  /** Traced runs time the encode's stats pass alone, since the encode
    * span cannot split it out; callers run it outside their timed op.
    */
  def statsAlone(df: DataFrame, opts: GraftTable.Options): Unit =
    if (Trace.on) Trace.span("table.stats")(Stats.collect(keyed(df), opts.sampleRows))

  /** `GraftTable.encode`; traced runs record the bytes it wrote. */
  def encode(ctx: Ctx, df: DataFrame, dir: String, opts: GraftTable.Options): GraftTable.EncodeResult = {
    val r = Trace.span("table.encode")(GraftTable.encode(df, dir, opts))
    if (Trace.on) ctx.ledger.newBytes(Seq(dir)).foreach { case (k, v) =>
      Trace.spans.last.attrs(s"bytes_$k") = v.toDouble }
    r
  }

  /** Value blocks of a token table for codec timing: per block of rows,
    * the flattened tokens, doc ids, sources, numeric ids and n_tok.
    */
  def codecSample(df: DataFrame, rowsPerBlock: Int, blocks: Int): Codecs.Sample = {
    val rows = df.orderBy(expr("try_cast(doc_id as bigint)"))
      .limit(rowsPerBlock * blocks)
      .select("doc_id", "tokens", "source").collect()
      .map(r => (r.getString(0), r.getSeq[Int](1).toArray, r.getString(2)))
    val groups = rows.grouped(rowsPerBlock).toSeq
    Codecs.Sample(
      ints = groups.map(_.flatMap(_._2)),
      strs = groups.flatMap(g => Seq(g.map(_._1), g.map(_._3))),
      longs = groups.map(_.map(_._1.toLong)),
      f64 = groups.map(_.map(_._2.length.toDouble)),
      block = Codecs.blockOf(groups.head.toIndexedSeq))
  }
}

/** `ingest`: repeated bulk `GraftTable.encode` of one seeded token corpus. */
final class Ingest(val ctx: Ctx) extends Workload {
  private val spark: SparkSession = ctx.spark
  private val opts = GraftTable.Options(targetRowsPerBlock = 8192)
  private var input: DataFrame = _
  private var parquet = 0L
  private var expected = Map.empty[String, (Long, Long, Long)]
  private var n = 0
  private var lastTable: Option[String] = None
  private var lastResult: GraftTable.EncodeResult = _

  def setup(round: Int): Unit = {
    (0 until round).foreach(r => ctx.deleteDir(ctx.dir(s"ingest-input-$r")))
    val dir = ctx.dir(s"ingest-input-$round")
    val corpus = Gen.tokenCorpus(ctx.data, ctx.seed, ctx.data.docs.toIndexedSeq, repl = 20,
      substPermille = 20)
    parquet = Tok.writeParquet(ctx, corpus.repartition(8), dir)
    input = spark.read.parquet(dir)
    expected = Tok.perSource(input)
  }

  /** A long-lived ingest service does not pay JIT and codegen per encode. */
  override def warmUpSteps: Int = 1

  def step(): Unit = {
    val dir = ctx.dir(s"ingest-t$n")
    n += 1
    Tok.statsAlone(input, opts)
    val (r, ms) = ctx.time(Tok.encode(ctx, input, dir, opts))
    ctx.ops += (("encode", ms))
    ctx.units += r.tokenCount
    ctx.busySeconds += ms / 1e3
    val (rows, toks, _) = Tok.total(expected)
    ctx.check(r.rowCount == rows && r.tokenCount == toks,
      s"ingest encode counts ${r.rowCount}/${r.tokenCount} != $rows/$toks")
    lastTable.foreach(ctx.deleteDir)
    lastTable = Some(dir)
    lastResult = r
  }

  def finish(): Unit = {
    val dir = lastTable.get
    val got = Trace.span("table.decode")(Tok.perSource(GraftTable.decode(spark, dir).toDF()))
    ctx.check(got == expected, s"ingest full read per-source $got != $expected")
    val snap = GraftTable.currentSnapshot(spark, dir).get
    val (rows, toks, _) = Tok.total(expected)
    ctx.check(snap.rowCount == rows && snap.tokenCount == toks,
      s"ingest snapshot counts ${snap.rowCount}/${snap.tokenCount} != $rows/$toks")
  }

  def bytesVsParquet: Double = lastResult.bytesTotal.toDouble / parquet

  def named: Seq[(String, Double, String)] = Seq(
    ("ingest.tok_per_s", ctx.units / ctx.busySeconds, "tok/s"),
    ("ingest.bytes_vs_parquet", bytesVsParquet, "ratio"))

  def codecSample: Codecs.Sample = Tok.codecSample(input, 8192, 4)

  override def layerExtras: Map[String, Double] = TableStats.of(ctx, Seq(lastTable.get))
}

/** Snapshot-level numbers of a set of table dirs. */
object TableStats {
  def of(ctx: Ctx, dirs: Seq[String]): Map[String, Double] = Map(
    "table.versions_live" -> dirs.map(d =>
      GraftTable.currentSnapshot(ctx.spark, d).map(_.dataDirs.size).getOrElse(0)).sum.toDouble,
    "table.metadata_bytes" -> ctx.ledger.liveBytes(dirs).getOrElse("metadata", 0L).toDouble)
}
