package graft.table

import java.util.Locale

import org.apache.spark.sql.{DataFrame, GraftSql, Row}
import org.apache.spark.sql.functions._

import graft.codec.{Hashing, IntBlocks}
import graft.expr.TokenStats

/** Per-column statistics that drive codec auto-selection (SURVEY.md E6–E7)
  * plus the input fingerprint that anchors resume lineage.
  *
  * One pass over every token: a single distributed aggregate with map-side
  * partial aggregation (no shuffle of data rows, a one-row result) of the
  * O(1)-state scalars (counts, min/max, HLL++ cardinality, the xxhash64
  * `bit_xor` fingerprint) and [[graft.expr.TokenStats]], which loops over
  * each row's token array once for the token min/max, the HLL++ distinct
  * count and the adjacent-repeat pairs.
  *
  * Everything is deterministic and layout-independent: every part merges by
  * min, max, sum, register max or `bit_xor`.
  */
final case class ColumnStats(
    rows: Long,
    tokensTotal: Long,
    keyNulls: Long,
    keyMin: Long,
    keyMax: Long,
    tokMin: Int,
    tokMax: Int,
    tokDistinct: Long,
    adjRepeatFrac: Double,
    nTokMin: Int,
    nTokMax: Int,
    sourceDistinct: Long,
    fingerprint: String) {

  /** Candidate gating for the tokens column (E7): dict/FSST trials are only
    * worth attempting when the token cardinality fits the dictionary cap.
    */
  def allowDict: Boolean = tokDistinct <= IntBlocks.DictCap
  def allowFsst: Boolean = allowDict

  def asJsonFields: Seq[(String, String)] = Seq(
    "rows" -> rows.toString,
    "tokens_total" -> tokensTotal.toString,
    "key_nulls" -> keyNulls.toString,
    "key_min" -> keyMin.toString,
    "key_max" -> keyMax.toString,
    "tok_min" -> tokMin.toString,
    "tok_max" -> tokMax.toString,
    "tok_distinct" -> tokDistinct.toString,
    "adj_repeat_frac" -> "%.6f".formatLocal(Locale.ROOT, adjRepeatFrac),
    "n_tok_min" -> nTokMin.toString,
    "n_tok_max" -> nTokMax.toString,
    "source_distinct" -> sourceDistinct.toString)
}

object Stats {

  /** The one stats aggregate as a single-row frame. `keyed` must be the
    * input-shaped table (doc_id, tokens, n_tok, source) with a `_graft_key`
    * bigint column already attached.
    *
    * The fingerprint hashes the cheap scalar fields only: hashing every
    * token would tax the hot path (~15 ns/token measured at local[8]) for a
    * rare event, and row count + token sum + token min/max already pin down
    * adds/removes/length changes. The blind spot (token VALUES permuted
    * under identical scalars) is closed at resume time by
    * GraftTable.resumeValuesMatch — a decode-and-compare confirm paid only
    * when a snapshot is about to be trusted as current.
    */
  def aggregate(keyed: DataFrame): DataFrame = keyed.agg(
    count(lit(1)).as("rows"),
    sum(col("n_tok").cast("long")).as("tokens_total"),
    sum(when(col("_graft_key").isNull, 1L).otherwise(0L)).as("key_nulls"),
    min(col("_graft_key")).as("key_min"),
    max(col("_graft_key")).as("key_max"),
    min(col("n_tok")).as("n_tok_min"),
    max(col("n_tok")).as("n_tok_max"),
    approx_count_distinct(col("source")).as("source_distinct"),
    expr("bit_xor(xxhash64(doc_id, n_tok, source))").as("fp_xor"),
    GraftSql.column(TokenStats(GraftSql.expression(col("tokens"))).toAggregateExpression())
      .as("tok"))

  def collect(keyed: DataFrame): ColumnStats = {
    val r = aggregate(keyed).head()
    val tok = r.getStruct(9)
    def long(row: Row, i: Int) = if (row.isNullAt(i)) 0L else row.getLong(i)
    def int(row: Row, i: Int) = if (row.isNullAt(i)) 0 else row.getInt(i)
    val (rows, tokensTotal) = (r.getLong(0), long(r, 1))
    val (tokMin, tokMax) = (int(tok, 0), int(tok, 1))
    val (adj, pairs) = (tok.getLong(3), tok.getLong(4))
    val fingerprint = Hashing.sha256Hex(
      s"rows=$rows;tokens=$tokensTotal;tmin=$tokMin;tmax=$tokMax;xor=${long(r, 8)}")

    ColumnStats(
      rows = rows,
      tokensTotal = tokensTotal,
      keyNulls = long(r, 2),
      keyMin = long(r, 3),
      keyMax = long(r, 4),
      tokMin = tokMin,
      tokMax = tokMax,
      tokDistinct = tok.getLong(2),
      adjRepeatFrac = if (pairs == 0L) 0.0 else adj.toDouble / pairs,
      nTokMin = int(r, 5),
      nTokMax = int(r, 6),
      sourceDistinct = r.getLong(7),
      fingerprint = fingerprint)
  }

  /** [[collect]]; `sampleRows` is ignored, as every token is read. Kept for
    * callers written when the token stats were sampled.
    */
  def collect(keyed: DataFrame, sampleRows: Long): ColumnStats = collect(keyed)
}
