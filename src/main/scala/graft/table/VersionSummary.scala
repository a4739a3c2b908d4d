package graft.table

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.table.Commit.Sums
import graft.table.GraftTable.Snapshot

/** What a snapshot records about one of its live versions (the entry
  * Iceberg's manifest list keeps per manifest): the version's [[Sums]], the
  * key span of its blocks (`min(key_min)`, `max(key_max)`; 0 in the token
  * lane, whose manifests carry no key) and its largest block id. Whole-version
  * questions — a compact's fill, a range's versions, the next block id,
  * the totals a rewrite drops — are answered from these, with no manifest
  * read.
  */
final case class VersionSummary(
    ver: Int, sums: Sums, keyMin: Long, keyMax: Long, blockMax: Long) {

  /** Average rows per block, as `avg(row_count)` gives it. */
  def fill: Double = sums.rows.toDouble / sums.blocks

  /** Whether the version's key span meets [lo, hi]. */
  def overlaps(lo: Long, hi: Long): Boolean = keyMax >= lo && keyMin <= hi

  /** The snapshot JSON array of this summary. */
  def fields: Seq[Long] = Seq(ver.toLong, sums.blocks, sums.rows, sums.tokens, sums.bytes,
    sums.plain, sums.sig, keyMin, keyMax, blockMax)
}

object VersionSummary {

  /** The summary of the JSON array [[VersionSummary.fields]] wrote. */
  def ofFields(f: Seq[Long]): VersionSummary = {
    require(f.length == 10, s"a version summary has 10 fields, got ${f.length}")
    VersionSummary(f(0).toInt, Sums(f(1), f(2), f(3), f(4), f(5), f(6)), f(7), f(8), f(9))
  }

  /** [[Sums.aggs]] then the key span and the largest block id over manifest
    * rows, each coalesced to 0. A frame without `key_min` (a token
    * manifest) spans 0.
    */
  def aggs(df: DataFrame): Seq[Column] = {
    def key(agg: Column => Column, c: String): Column =
      if (df.columns.contains(c)) agg(col(c).cast("long")) else lit(0L)
    Sums.aggs(df) ++ Seq(key(min, "key_min"), key(max, "key_max"),
      max(col("block_id").cast("long"))).map(coalesce(_, lit(0L)))
  }

  /** The [[aggs]] values of `r` from column `from` on, for version `ver`. */
  def at(ver: Int, r: Row, from: Int): VersionSummary =
    VersionSummary(ver, Sums.at(r, from), r.getLong(from + 6), r.getLong(from + 7),
      r.getLong(from + 8))

  /** The summaries of `snap`'s live versions, in `manifest_dirs` order.
    * Snapshots record them; for one written before they did, one
    * aggregate over its manifests derives them, and the next commit
    * records the result.
    */
  def of(spark: SparkSession, tableDir: String, snap: Snapshot): Seq[VersionSummary] =
    snap.versions.getOrElse {
      if (snap.manifestDirs.isEmpty) Nil
      else {
        val man = GraftTable.manifestRows(spark, tableDir, snap.manifestDirs)
        val a = aggs(man)
        val byVer = man.groupBy(col("ver").cast("int")).agg(a.head, a.tail: _*)
          .collect().map(r => r.getInt(0) -> at(r.getInt(0), r, 1)).toMap
        // a listed manifest of no block sums 0 and is never pruned by key
        snap.manifestDirs.map(GraftTable.versionOfDir).map(v =>
          byVer.getOrElse(v, VersionSummary(v, Sums.Zero, Long.MinValue, Long.MaxValue, -1L)))
      }
    }
}
