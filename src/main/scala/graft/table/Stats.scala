package graft.table

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.codec.{Hashing, IntBlocks}
import graft.table.Commit.timed

/** Sampled per-column statistics that drive codec auto-selection (SURVEY.md
  * E6–E7) plus the input fingerprint that anchors resume lineage.
  *
  * Two passes, both distributed with map-side partial aggregation:
  *   1. full pass — O(1)-state aggregates only (counts, min/max, HLL++
  *      cardinality, xxhash64 bit_xor fingerprint). One scan, no shuffle of
  *      data rows, tiny result.
  *   2. hash-strided sample pass — the token-level stats (exploded
  *      distinct, adjacent-repeat fraction) over ≈ `sampleRows` tokens,
  *      O(1) work per sampled token (see [[Stats.sampledStats]]).
  *
  * Everything is deterministic: fixed sample seed, commutative bit_xor
  * fingerprint (partition-order independent).
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
    * worth attempting when the sampled cardinality fits the dictionary cap.
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
    "adj_repeat_frac" -> f"$adjRepeatFrac%.6f",
    "n_tok_min" -> nTokMin.toString,
    "n_tok_max" -> nTokMax.toString,
    "source_distinct" -> sourceDistinct.toString)
}

object Stats {

  val SampleSeed = 42L

  /** The sampled pass as one single-row frame `(td, adj, pairs)`: approximate
    * distinct tokens, adjacent equal-token pairs, and adjacent pairs, over
    * the rows whose `pmod(xxhash64(doc_id), stride) = 0` (all rows at
    * stride 1).
    *
    * Every expression runs once per exploded token. Spark keeps the
    * generator alone in its `Generate` node and evaluates every other
    * select-list expression in the `Project` above it, so a per-document
    * expression placed next to `posexplode` runs once per token of that
    * document. The adjacency test is therefore written per token: the
    * token at `pos` against `get(tokens, pos - 1)`, an O(1) array read
    * that yields NULL (never an error, whatever the ANSI mode) at
    * `pos = 0`, and NULL elements compare as "not equal". `pairs` counts
    * the tokens with a predecessor, i.e. Σ max(size(tokens) - 1, 0) —
    * it follows the array, not the `n_tok` column. Empty and NULL arrays
    * produce no rows and add nothing. No higher-order function is
    * involved; HLL merge and sums are order-independent, so the row is
    * the same at any layout. rsd 0.05 (the HLL default): the only consumer
    * is the dict-cap gate (65536), where ±5% is ample.
    */
  private[table] def sampledStats(keyed: DataFrame, stride: Long): DataFrame = {
    val sample =
      if (stride <= 1L) keyed
      else keyed.where(pmod(xxhash64(col("doc_id")), lit(stride)) === 0)
    sample.select(col("tokens"), posexplode(col("tokens"))).agg(
      approx_count_distinct(col("col"), 0.05).as("td"),
      sum(when(col("col") === get(col("tokens"), col("pos") - 1), 1L)
        .otherwise(0L)).as("adj"),
      sum(when(col("pos") > 0, 1L).otherwise(0L)).as("pairs"))
  }

  /** `keyed` must be the input-shaped table (doc_id, tokens, n_tok, source)
    * with a `_graft_key` bigint column already attached.
    */
  def collect(keyed: DataFrame, sampleRows: Long = 1L << 20): ColumnStats = {
    // fingerprint hashes the cheap scalar fields only: hashing every token
    // would tax the hot path (~15 ns/token measured at local[8]) for a
    // rare event, and row count + token sum + value min/max already pin
    // down adds/removes/length changes. The blind spot (token VALUES
    // permuted under identical scalars) is closed at resume time by
    // GraftTable.resumeValuesMatch — a decode-and-compare confirm paid
    // only when a snapshot is about to be trusted as current.
    val full = timed("stats-full")(keyed.agg(
      count(lit(1)).as("rows"),
      sum(col("n_tok").cast("long")).as("tokens_total"),
      sum(when(col("_graft_key").isNull, 1L).otherwise(0L)).as("key_nulls"),
      min(col("_graft_key")).as("key_min"),
      max(col("_graft_key")).as("key_max"),
      min(array_min(col("tokens"))).as("tok_min"),
      max(array_max(col("tokens"))).as("tok_max"),
      min(col("n_tok")).as("n_tok_min"),
      max(col("n_tok")).as("n_tok_max"),
      approx_count_distinct(col("source")).as("source_distinct"),
      expr("bit_xor(xxhash64(doc_id, n_tok, source))").as("fp_xor"))
      .head())

    val rows = full.getLong(0)
    // sample budget counts TOKENS, not rows: the sampled stats iterate every
    // token, so a million 50k-token rows must not slip through a row cap.
    // Row selection is hash-strided on doc_id (a pure function of the data,
    // NOT df.sample whose per-partition seeding changes with input layout):
    // the sampled stats gate codec candidates, so they must be identical at
    // any parallelism for payloads to be identical.
    val tokensTotal0 = if (full.isNullAt(1)) 0L else full.getLong(1)
    val avgTok = if (rows == 0) 1.0 else math.max(1.0, tokensTotal0.toDouble / rows)
    val rowBudget = math.max(1L, (sampleRows.toDouble / avgTok).toLong)
    val stride = math.max(1L, rows / rowBudget)
    val srow = timed("stats-sample")(sampledStats(keyed, stride).head())
    val tokDistinct = srow.getLong(0)
    val adjFrac =
      if (srow.isNullAt(2) || srow.getLong(2) == 0L) 0.0
      else srow.getLong(1).toDouble / srow.getLong(2)

    val fpXor = if (full.isNullAt(10)) 0L else full.getLong(10)
    val fingerprint = Hashing.sha256Hex(
      s"rows=$rows;tokens=$tokensTotal0;" +
        s"tmin=${if (full.isNullAt(5)) 0 else full.getInt(5)};" +
        s"tmax=${if (full.isNullAt(6)) 0 else full.getInt(6)};xor=$fpXor")

    ColumnStats(
      rows = rows,
      tokensTotal = if (full.isNullAt(1)) 0L else full.getLong(1),
      keyNulls = if (full.isNullAt(2)) 0L else full.getLong(2),
      keyMin = if (full.isNullAt(3)) 0L else full.getLong(3),
      keyMax = if (full.isNullAt(4)) 0L else full.getLong(4),
      tokMin = if (full.isNullAt(5)) 0 else full.getInt(5),
      tokMax = if (full.isNullAt(6)) 0 else full.getInt(6),
      tokDistinct = tokDistinct,
      adjRepeatFrac = adjFrac,
      nTokMin = if (full.isNullAt(7)) 0 else full.getInt(7),
      nTokMax = if (full.isNullAt(8)) 0 else full.getInt(8),
      sourceDistinct = full.getLong(9),
      fingerprint = fingerprint)
  }
}
