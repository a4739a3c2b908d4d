package perfbench

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}

import graft.ops.Dedup
import graft.table.{GraftTable, Tokenize}

/** `dedup`: the near-duplicate pipeline `exact` → `minHashLsh` →
  * `simHash` → `jaccardPairs` → `clusters` over the union of pairs, then
  * an encode of one canonical document per cluster, on a seeded corpus
  * whose true duplicate groups are known.
  */
final class DedupWorkload(val ctx: Ctx) extends Workload {
  private val spark: SparkSession = ctx.spark
  private val opts = GraftTable.Options(targetRowsPerBlock = 4096)
  private var corpus: Gen.NearDupCorpus = _
  private var docs: DataFrame = _
  private var pass = 0
  private var survivorsParquet = 0L
  private var lastBytes = 0L
  private var recall = 0.0
  private var precision = 0.0
  /** Milliseconds of operator calls in the current pass. */
  private var passMs = 0.0

  def setup(round: Int): Unit = {
    if (docs != null) docs.unpersist(true)
    corpus = Gen.nearDups(ctx.data, ctx.seed, bases = 600, maxCopies = 4, maxEdits = 1)
    docs = ctx.data.docFrame(corpus.docs.toIndexedSeq)
      .select(col("doc_id").cast("string").as("doc_id"), col("text"), col("source"))
      .cache()
    docs.count()
  }

  private def group(id: String): Int = corpus.group(id.toInt)

  /** Share of `pairs` whose ends share a true group. */
  private def trueRatio(pairs: Array[(String, String)]): Double =
    if (pairs.isEmpty) 1.0
    else pairs.count { case (a, b) => group(a) == group(b) }.toDouble / pairs.length

  /** One operator call: timed and traced; its time counts toward the pass. */
  private def op[T](name: String)(f: => T): T = {
    val (r, ms) = ctx.time(Trace.span(s"ops.$name")(f))
    passMs += ms
    r
  }

  private def pairsOf(name: String, df: => DataFrame): Array[(String, String)] =
    op(name) {
      val p = df.select(col("doc_a").cast("string"), col("doc_b").cast("string")).collect()
        .map(r => (r.getString(0), r.getString(1)))
      Trace.attr("pairs_out", p.length.toDouble)
      Trace.attr("true_pair_ratio", trueRatio(p))
      p
    }

  def step(): Unit = {
    passMs = 0.0
    val dups = op("exact") {
      val n = Dedup.exact(docs).where(col("is_dup")).count()
      Trace.attr("pairs_out", n.toDouble)
      n
    }
    ctx.check(dups == corpus.exactCopies,
      s"dedup exact found $dups duplicates, generator made ${corpus.exactCopies}")
    val mh = pairsOf("minhash", Dedup.minHashLsh(docs))
    val sh = pairsOf("simhash", Dedup.simHash(docs))
    val jp = pairsOf("jaccard", Dedup.jaccardPairs(docs))
    val union = (mh ++ sh ++ jp).map { case (a, b) => if (a.toInt < b.toInt) (a, b) else (b, a) }.distinct
    val edgeSchema = StructType(Seq(StructField("doc_a", StringType), StructField("doc_b", StringType)))
    val edges = spark.createDataFrame(
      java.util.Arrays.asList(union.toIndexedSeq.map { case (a, b) => Row(a, b) }: _*), edgeSchema)
    val labels = op("clusters") {
      Trace.attr("edges_in", union.length.toDouble)
      Dedup.clusters(edges, docs.select("doc_id"))
        .select(col("doc_id"), col("cluster_id").cast("string"), col("is_canonical")).collect()
        .map(r => (r.getString(0), r.getString(1), r.getBoolean(2)))
    }
    val label = labels.map(l => l._1 -> l._2).toMap
    ctx.check(labels.length == corpus.docs.length && label.size == labels.length,
      s"dedup clusters returned ${labels.length} rows for ${corpus.docs.length} documents")
    ctx.check(union.forall { case (a, b) => label.get(a).exists(label.get(b).contains) },
      "dedup clusters split a detected pair")
    score(label)

    val keep = labels.filter(_._3).map(l => Row(l._1))
    val canonical = docs.join(spark.createDataFrame(java.util.Arrays.asList(keep.toIndexedSeq: _*),
      StructType(Seq(StructField("doc_id", StringType)))), "doc_id")
    val tokens = Tokenize.tokenTable(canonical, ctx.data.vocab).toDF()
    val dir = ctx.dir(s"dedup-t$pass")
    pass += 1
    Tok.statsAlone(tokens, opts)
    val enc = op("encode")(Tok.encode(ctx, tokens, dir, opts))
    ctx.check(enc.rowCount == keep.length,
      s"dedup encoded ${enc.rowCount} canonical rows, clusters kept ${keep.length}")
    Dedup.releaseCaches()
    // the client's request is the whole pipeline over the corpus
    ctx.ops += (("pass", passMs))
    ctx.units += corpus.docs.length
    ctx.busySeconds += passMs / 1e3
    if (survivorsParquet == 0L) survivorsParquet = Tok.writeParquet(ctx, tokens, ctx.dir("dedup-survivors"))
    lastBytes = enc.bytesTotal
    if (pass > 1) ctx.deleteDir(ctx.dir(s"dedup-t${pass - 2}"))
  }

  /** Pair recall and precision of the clustering against the true groups. */
  private def score(label: Map[String, String]): Unit = {
    def pairs(n: Long) = n * (n - 1) / 2
    val ids = corpus.docs.indices.map(_.toString)
    val truth = ids.groupBy(group).values.map(g => pairs(g.size.toLong)).sum
    val found = ids.groupBy(label).values.map(g => pairs(g.size.toLong)).sum
    val both = ids.groupBy(i => (label(i), group(i))).values.map(g => pairs(g.size.toLong)).sum
    recall = if (truth == 0) 1.0 else both.toDouble / truth
    precision = if (found == 0) 1.0 else both.toDouble / found
  }

  def finish(): Unit = ()

  def bytesVsParquet: Double = lastBytes.toDouble / survivorsParquet

  def named: Seq[(String, Double, String)] = Seq(
    ("dedup.docs_per_s", ctx.units / ctx.busySeconds, "docs/s"),
    ("dedup.pair_recall", recall, "ratio"),
    ("dedup.pair_precision", precision, "ratio"))

  override def layerExtras: Map[String, Double] =
    TableStats.of(ctx, Seq(ctx.dir(s"dedup-t${pass - 1}")))

  def codecSample: Codecs.Sample = {
    val tok = Tok.codecSample(Tokenize.tokenTable(docs, ctx.data.vocab).toDF(), 1024, 4)
    val n = corpus.docs.map(ctx.data.text(_).length.toDouble).grouped(1024).toSeq
    tok.copy(f64 = n)
  }
}
