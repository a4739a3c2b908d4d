package graft.table

import scala.collection.concurrent.TrieMap

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

import graft.expr.VocabLookup

/** The engine's input row (BASELINE.json:15): a pre-tokenized training
  * sequence. `tokens` is non-null `array<int32>`.
  */
final case class TokenRow(doc_id: String, tokens: Array[Int], n_tok: Int, source: String)

/** One vocab entry: token_id = rank of `word` in sorted order. */
final case class VocabEntry(token_id: Long, word: String, cnt: Long)

/** Deterministic synthesis of the token table from the driver-provided
  * documents table (FIXTURES.md §2). Pure function of the data: vocab =
  * sorted distinct words (discovered, not hardcoded), token id = index in
  * vocab. No clocks, no RNG.
  *
  * Scale notes:
  *   - vocab discovery is ONE distributed distinct+count shuffle; ids are
  *     assigned by distributed rank ([[Ranks.withRank]] — no global
  *     window), then ONE driver collect of ≤ vocab-size rows (tokenizer
  *     vocabs are ≤ ~1M entries; the collected array is exactly what the
  *     broadcast lookup ships to executors anyway);
  *   - per-token lookup is a broadcast hash probe inside whole-stage
  *     codegen ([[graft.expr.VocabLookup]]) — no join, no shuffle, and no
  *     vocab-sized literal in the plan (round 1's `typedLit` map would
  *     serialize the whole vocab into every task at realistic sizes);
  *   - the (corpus → vocab broadcast) pair is cached per (application,
  *     path), so a session running many queries over the same corpus runs
  *     the vocab job once.
  */
object Tokenize {

  def documents(spark: SparkSession, sfDir: String): DataFrame =
    spark.read.parquet(s"$sfDir/documents.parquet")

  /** Vocab with distributed id assignment: ids are ranks computed via a
    * range shuffle, never a single-partition window; the driver collect is
    * one vocab-sized result set.
    */
  def vocabEntries(docs: DataFrame): Array[VocabEntry] = {
    val words = docs
      .select(explode(split(col("text"), " ")).as("word"))
      .groupBy("word").agg(count(lit(1)).as("cnt"))
    // the whole vocab is collected either way (tokenizer vocabs are
    // ≤ ~1M entries by design — the array IS what the broadcast lookup
    // ships), so rank assignment happens on the driver after ONE job
    // instead of the distributed rank machinery's three. The sort
    // replicates Spark's string ordering exactly: UTF8String compares
    // UTF-8 BYTES unsigned, not UTF-16 code units, so ids stay identical
    // for non-ASCII vocabularies too.
    val rows = words.collect()
      .map(r => (r.getString(0).getBytes(java.nio.charset.StandardCharsets.UTF_8),
        r.getString(0), r.getLong(1)))
    java.util.Arrays.sort(rows, (a: (Array[Byte], String, Long), b: (Array[Byte], String, Long)) =>
      java.util.Arrays.compareUnsigned(a._1, b._1))
    rows.iterator.zipWithIndex
      .map { case ((_, w, cnt), i) => VocabEntry(i.toLong, w, cnt) }
      .toArray
  }

  /** Sorted distinct words across the corpus (compat surface for callers
    * that build their own id mapping).
    */
  def vocab(docs: DataFrame): Array[String] = vocabEntries(docs).map(_.word)

  private def broadcastVocab(
      spark: SparkSession, words: Array[String]): Broadcast[java.util.HashMap[UTF8String, Integer]] = {
    val m = new java.util.HashMap[UTF8String, Integer](words.length * 2)
    var i = 0
    while (i < words.length) {
      m.put(UTF8String.fromString(words(i)), Integer.valueOf(i))
      i += 1
    }
    spark.sparkContext.broadcast(m)
  }

  /** Broadcast-probe token id of a word column (null when out-of-vocab). */
  def vocabIdCol(
      word: Column,
      bc: Broadcast[java.util.HashMap[UTF8String, Integer]]): Column =
    org.apache.spark.sql.GraftSql.column(
      VocabLookup(org.apache.spark.sql.GraftSql.expression(word), bc))

  def tokenTable(
      docs: DataFrame,
      bc: Broadcast[java.util.HashMap[UTF8String, Integer]]): Dataset[TokenRow] = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(
        col("doc_id").cast("string").as("doc_id"),
        transform(split(col("text"), " "), w => vocabIdCol(w, bc)).as("tokens"),
        col("source"))
      .withColumn("n_tok", size(col("tokens")))
      .select("doc_id", "tokens", "n_tok", "source")
      .as[TokenRow]
  }

  def tokenTable(docs: DataFrame, vocab: Array[String]): Dataset[TokenRow] =
    tokenTable(docs, broadcastVocab(docs.sparkSession, vocab))

  // ------------------------------------------------- per-session caching

  /** (applicationId, sfDir) → (vocab entries, broadcast lookup map). One
    * vocab job per corpus per session, however many queries run over it.
    */
  private val vocabCache = TrieMap.empty[
    (String, String),
    (Array[VocabEntry], Broadcast[java.util.HashMap[UTF8String, Integer]])]

  def cachedVocab(
      spark: SparkSession, sfDir: String): (Array[VocabEntry], Broadcast[java.util.HashMap[UTF8String, Integer]]) =
    vocabCache.getOrElseUpdate((spark.sparkContext.applicationId, sfDir), {
      val entries = vocabEntries(documents(spark, sfDir))
      (entries, broadcastVocab(spark, entries.map(_.word)))
    })

  def tokenTable(spark: SparkSession, sfDir: String): Dataset[TokenRow] =
    tokenTable(documents(spark, sfDir), cachedVocab(spark, sfDir)._2)

  /** Per-doc positional checksum used by the oracle queries: weighted sum
    * `Σ token_i * (i+1)` — overflow-free (DuckDB errors on BIGINT overflow,
    * so no wrap-around hashes) yet position-sensitive.
    */
  def checksumCol(tokens: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    aggregate(
      transform(tokens, (t, i) => t.cast("long") * (i.cast("long") + 1L)),
      lit(0L),
      (acc, x) => acc + x)
}
