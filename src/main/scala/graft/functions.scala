package graft

import org.apache.spark.sql.{Column, GraftSql, SparkSession}

/** Public typed-Column API over the graft codec expressions — the
  * engine-user surface, mirroring `org.apache.spark.sql.functions`.
  */
object functions {

  /** Encode an `array<int>` column into a self-describing binary payload,
    * auto-selecting the smallest codec per row.
    */
  def graft_encode(c: Column): Column =
    GraftSql.column(expr.GraftEncode(GraftSql.expression(c)))

  /** Encode forcing a specific codec: plain, bitpack, for, delta_for, rle,
    * dict, fsst.
    */
  def graft_encode(c: Column, codec: String): Column =
    GraftSql.column(expr.GraftEncode(GraftSql.expression(c), Some(codec)))

  /** Encode an `array<string>` column (doc_id / source blocks). */
  def graft_encode_str(c: Column): Column =
    GraftSql.column(expr.GraftEncodeStr(GraftSql.expression(c)))

  /** Codec family name of a payload (manifest column). */
  def graft_codec(c: Column): Column =
    GraftSql.column(expr.GraftCodecName(GraftSql.expression(c)))

  /** sha256 hex of a payload's dict/symbol-table section (manifest column). */
  def graft_dict_hash(c: Column): Column =
    GraftSql.column(expr.GraftDictHash(GraftSql.expression(c)))

  /** Range-block id for a bigint key against sorted exclusive upper bounds
    * (small literal form — for tests and few-block tables; the encode path
    * uses the broadcast form below).
    */
  def graft_range_bucket(key: Column, bounds: IndexedSeq[Long]): Column =
    GraftSql.column(expr.RangeBucket(GraftSql.expression(key), bounds))

  /** Broadcast form of [[graft_range_bucket]]: bounds fetched once per
    * executor instead of riding in every task's plan — required at millions
    * of blocks.
    */
  def graft_range_bucket(
      key: Column,
      bounds: org.apache.spark.broadcast.Broadcast[Array[Long]]): Column =
    GraftSql.column(expr.RangeBucketDist(GraftSql.expression(key), bounds))

  /** MinHash signature (n seeded min-hashes) of an `array<string>` set. */
  def graft_minhash(c: Column, numHashes: Int): Column =
    GraftSql.column(expr.MinHashSig(GraftSql.expression(c), numHashes))

  /** 64-bit SimHash of an `array<string>` multiset. */
  def graft_simhash(c: Column): Column =
    GraftSql.column(expr.SimHash64(GraftSql.expression(c)))

  /** Decode a graft payload back to `array<int>` (bit-identical). */
  def graft_decode(c: Column): Column =
    GraftSql.column(expr.GraftDecode(GraftSql.expression(c)))

  /** Decode a graft string payload back to `array<string>`. */
  def graft_decode_str(c: Column): Column =
    GraftSql.column(expr.GraftDecodeStr(GraftSql.expression(c)))

  /** Decode a generic-table column payload to `array<storageType(kind)>`
    * (kinds: int, long, string, f64, f32, bin, arr_int, arr_long, arr_str,
    * arr_f32, arr_f64 — see graft.table.AnyColumn).
    */
  def graft_decode_any(c: Column, kind: String): Column =
    GraftSql.column(expr.GraftDecodeAny(GraftSql.expression(c), kind))

  /** Rebuild per-row arrays from a flat decoded stream + per-row lengths. */
  def graft_reslice(flat: Column, lengths: Column): Column =
    GraftSql.column(expr.GraftReslice(GraftSql.expression(flat), GraftSql.expression(lengths)))

  /** Register the graft_* SQL functions on a session. */
  def register(spark: SparkSession): Unit = GraftSql.registerFunctions(spark)
}
