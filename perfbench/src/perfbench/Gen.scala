package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.util.SplittableRandom

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.table.Tokenize

/** The rows every workload starts from, read from `perfbench/data`: the
  * sf0.1 testdata `documents` table (all 5,000 rows), and the first 40,000
  * rows of `events` and 20,000 rows of `orders` (keys 0 to n−1, in key
  * order). The seed decides everything else (see [[Gen]]).
  */
final class Data(spark: SparkSession, dir: String) {
  private val docRows = spark.read.parquet(s"$dir/documents.parquet")
    .select("doc_id", "text", "source", "lang").collect().sortBy(_.getLong(0))

  /** Distinct words in Spark's string order (unsigned UTF-8 bytes), as
    * `Tokenize.vocab` assigns them, so token id = index.
    */
  val vocab: Array[String] = docRows.flatMap(_.getString(1).split(" ")).distinct
    .sortWith((a, b) => java.util.Arrays.compareUnsigned(a.getBytes(UTF_8), b.getBytes(UTF_8)) < 0)
  private val tokenId = vocab.zipWithIndex.toMap

  val docs: Array[Gen.Doc] = docRows.map { r =>
    Gen.Doc(r.getLong(0), r.getString(1).split(" ").map(tokenId), r.getString(2), r.getString(3))
  }

  val sources: Array[String] = docs.map(_.source).distinct.sorted

  lazy val events: Array[Row] = table("events", Gen.EventSchema)
  lazy val orders: Array[Row] = table("orders", Gen.OrderSchema)

  private def table(name: String, schema: StructType): Array[Row] =
    spark.read.parquet(s"$dir/$name.parquet")
      .select(schema.fields.toIndexedSeq.map(f => col(f.name).cast(f.dataType)): _*)
      .orderBy(schema.fields.head.name).collect()

  def text(d: Gen.Doc): String = d.words.map(vocab(_)).mkString(" ")

  def docFrame(docs: Seq[Gen.Doc]): DataFrame = {
    val rows = docs.map { d => val t = text(d); Row(d.id, t, d.lang, d.source, t.length.toLong) }
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 8), Gen.DocSchema)
  }

  def tokens(docs: Seq[Gen.Doc]): DataFrame = Tokenize.tokenTable(docFrame(docs), vocab).toDF()
}

/** Seeded inputs. Every input the engine sees is a pure function of the
  * seed and of the rows in [[Data]].
  */
object Gen {

  /** Independent random stream `stream` of `seed`. */
  def rng(seed: Long, stream: Long): SplittableRandom =
    new SplittableRandom(seed * 0x9E3779B97F4A7C15L ^ (stream * 0xBF58476D1CE4E5B9L + 1L))

  val DocSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType, nullable = false),
    StructField("text", StringType, nullable = false),
    StructField("lang", StringType, nullable = false),
    StructField("source", StringType, nullable = false),
    StructField("n_chars", LongType, nullable = false)))

  /** A document as token ids of [[Data.vocab]]. */
  final case class Doc(id: Long, words: Array[Int], source: String, lang: String)

  /** `k` documents drawn uniformly (with replacement) from `data`,
    * numbered from `firstId`.
    */
  def sampleDocs(data: Data, r: SplittableRandom, k: Int, firstId: Long): Array[Doc] =
    Array.tabulate(k)(i => data.docs(r.nextInt(data.docs.length)).copy(id = firstId + i))

  /** Smallest multiplier ≥ a random start that is coprime to `n`: doc id
    * `x ↦ (a·x + b) mod n` is then a seeded bijection of [0, n).
    */
  private def coprimeMultiplier(r: SplittableRandom, n: Long): Long = {
    @annotation.tailrec def gcd(x: Long, y: Long): Long = if (y == 0) x else gcd(y, x % y)
    var a = 1L + r.nextLong(math.max(1L, n - 1))
    while (gcd(a, n) != 1L) a += 1
    a
  }

  /** The token corpus: `docs` (numbered 0 to n−1) through
    * `Tokenize.tokenTable`, replicated `repl` times. Copy ids are permuted
    * by a seeded bijection, so copies of one document are not adjacent in
    * key order, and `substPermille`/1000 of the tokens are replaced by
    * seeded random tokens.
    */
  def tokenCorpus(
      data: Data, seed: Long, docs: Seq[Doc], repl: Int, substPermille: Int): DataFrame = {
    val n = docs.length.toLong * repl
    val r = rng(seed, 2)
    val a = coprimeMultiplier(r, n)
    val b = r.nextLong(n)
    val newId = pmod(col("doc_id").cast("long") * repl + col("rep"), lit(n)) * a + b
    def h(salt: Long, i: org.apache.spark.sql.Column) = pmod(xxhash64(lit(seed ^ salt), col("id2"), i), lit(1000))
    data.tokens(docs)
      .withColumn("rep", explode(sequence(lit(0), lit(repl - 1))))
      .withColumn("id2", pmod(newId, lit(n)))
      .select(
        col("id2").cast("string").as("doc_id"),
        transform(col("tokens"), (t, i) =>
          when(h(0x5b5bL, i) < substPermille, (h(0x7c7cL, i) % data.vocab.length).cast("int"))
            .otherwise(t)).as("tokens"),
        col("n_tok"),
        col("source"))
  }

  // ------------------------------------------------------------- churn

  val EventSchema: StructType = StructType(Seq(
    StructField("event_id", LongType, nullable = false),
    StructField("ts", TimestampType, nullable = false),
    StructField("user_id", LongType, nullable = false),
    StructField("event_type", StringType, nullable = false),
    StructField("value", DoubleType, nullable = false),
    StructField("props", StringType, nullable = false)))

  val OrderSchema: StructType = StructType(Seq(
    StructField("o_orderkey", LongType, nullable = false),
    StructField("o_custkey", LongType, nullable = false),
    StructField("o_orderstatus", StringType, nullable = false),
    StructField("o_totalprice", DoubleType, nullable = false),
    StructField("o_orderdate", TimestampType, nullable = false),
    StructField("o_orderpriority", StringType, nullable = false)))

  /** Row `j` of `pool` under key `key` (the key is the first column). */
  def keyed(pool: Array[Row], j: Int, key: Long): Row =
    Row.fromSeq(key +: pool(j).toSeq.tail)

  /** The row for key `key`: the testdata row of that key while the pool
    * lasts, then the pool again under the new keys.
    */
  def rowAt(pool: Array[Row], key: Long): Row =
    if (key < pool.length) pool(key.toInt) else keyed(pool, (key % pool.length).toInt, key)

  // ------------------------------------------------------------- dedup

  /** A near-duplicate corpus and its truth: `group(i)` is the base
    * document `i` was copied from (itself for a base).
    */
  final case class NearDupCorpus(docs: Array[Doc], group: Array[Int], exactCopies: Long)

  /** `bases` documents drawn without replacement from the testdata
    * documents with distinct texts; each gets 0..`maxCopies` copies
    * (uniform), and each copy 0..`maxEdits` seeded single-word
    * substitutions. Bases are numbered 0 to `bases`−1; copies follow, in
    * seeded order.
    */
  def nearDups(data: Data, seed: Long, bases: Int, maxCopies: Int, maxEdits: Int): NearDupCorpus = {
    val r = rng(seed, 3)
    val distinct = data.docs.groupBy(_.words.toSeq).values.map(_.minBy(_.id)).toArray.sortBy(_.id)
    shuffle(r, distinct)
    val base = distinct.take(bases).zipWithIndex.map { case (d, i) => d.copy(id = i.toLong) }
    val copies = Array.newBuilder[(Array[Int], Int, String)]
    base.indices.foreach { b =>
      val k = r.nextInt(maxCopies + 1)
      (0 until k).foreach { _ =>
        val w = base(b).words.clone()
        (0 until r.nextInt(maxEdits + 1)).foreach { _ =>
          w(r.nextInt(w.length)) = r.nextInt(data.vocab.length)
        }
        copies += ((w, b, data.docs(r.nextInt(data.docs.length)).source))
      }
    }
    // copies of one base are not adjacent in id order
    val cs = copies.result()
    shuffle(r, cs)
    val docs = base ++ cs.indices.map { j =>
      Doc((bases + j).toLong, cs(j)._1, cs(j)._3, "en")
    }
    val group = base.indices.toArray ++ cs.map(_._2)
    val distinctTexts = docs.map(_.words.toSeq).toSet.size
    NearDupCorpus(docs, group, docs.length.toLong - distinctTexts)
  }

  private def shuffle[A](r: SplittableRandom, a: Array[A]): Unit = {
    var i = a.length - 1
    while (i > 0) {
      val j = r.nextInt(i + 1)
      val t = a(i); a(i) = a(j); a(j) = t
      i -= 1
    }
  }
}
