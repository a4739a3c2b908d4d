package graft.table

import java.time.{Instant, ZoneOffset}
import java.time.format.DateTimeFormatter

import org.apache.spark.sql.{Column, DataFrame, Observation, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.table.GraftTable.Snapshot

/** The one snapshot commit of both table lanes (Iceberg's single commit
  * operation over manifest → snapshot → pointer, SURVEY.md §1.2). A commit
  * of version N:
  *   1. writes the fresh version's manifest frame to `manifests/vN` in one
  *      job ([[writeManifest]]), whose [[Sums]] are observed on that write;
  *   2. takes the kept manifests' totals from the parent snapshot by
  *      arithmetic — parent + fresh for an append or a resumed encode,
  *      parent − dropped + fresh for a rewrite (the dropped versions' sums
  *      come from the manifest aggregate the rewrite already runs), as
  *      Iceberg updates its snapshot summary — so no kept manifest is read;
  *   3. builds the snapshot from the totals — the caller owns the
  *      snapshot-id preimage, fingerprint and lineage fields, which are the
  *      on-disk format of its lane;
  *   4. writes `metadata/vN.json`, then moves the `current` pointer.
  *
  * Data files are written by each lane before the commit; a version's
  * dirs enter a snapshot only at step 4, so a crash before it leaves
  * orphans that [[GraftTable.expireSnapshots]] reclaims.
  */
private[table] object Commit {

  /** Aggregates over manifest rows: the block count, Σ `row_count`,
    * Σ `token_count` (0 for generic manifests), Σ `bytes_total`,
    * Σ `plain_bytes` and `bit_xor(block_sig)`. The sums add and subtract,
    * and the xor is its own inverse, so the totals of kept manifests follow
    * from the parent's without reading them.
    */
  final case class Sums(blocks: Long, rows: Long, tokens: Long, bytes: Long, plain: Long,
      sig: Long) {
    def +(o: Sums): Sums = Sums(blocks + o.blocks, rows + o.rows, tokens + o.tokens,
      bytes + o.bytes, plain + o.plain, sig ^ o.sig)
    def -(o: Sums): Sums = Sums(blocks - o.blocks, rows - o.rows, tokens - o.tokens,
      bytes - o.bytes, plain - o.plain, sig ^ o.sig)
  }

  object Sums {
    val Zero: Sums = Sums(0L, 0L, 0L, 0L, 0L, 0L)

    /** The totals `s` recorded over its manifests. */
    def of(s: Snapshot): Sums = Sums(s.blocksEncoded, s.rowCount, s.tokenCount,
      s.bytesTotal, s.plainBytes, java.lang.Long.parseUnsignedLong(s.contentSig, 16))

    /** The six aggregates over manifest rows, in [[Sums]] order and each
      * coalesced (an empty group reads 0). A frame without `token_count`
      * (a generic manifest) sums 0 tokens.
      */
    def aggs(df: DataFrame): Seq[Column] = {
      def total(c: String): Column =
        if (df.columns.contains(c)) sum(col(c).cast("long")) else lit(0L)
      Seq(count(lit(1)), total("row_count"), total("token_count"), total("bytes_total"),
        total("plain_bytes"), bit_xor(col("block_sig"))).map(coalesce(_, lit(0L)))
    }

    /** The [[aggs]] of `df`: one job. */
    def over(df: DataFrame): Sums = {
      val a = aggs(df)
      at(df.agg(a.head, a.tail: _*).head(), 0)
    }

    /** The [[aggs]] values of `r` from column `from` on. */
    def at(r: Row, from: Int): Sums = Sums(r.getLong(from), r.getLong(from + 1),
      r.getLong(from + 2), r.getLong(from + 3), r.getLong(from + 4), r.getLong(from + 5))
  }

  /** The manifests of a new version and their [[Sums]]. */
  final case class Totals(manifestDirs: Seq[String], sums: Sums) {
    def blocks: Long = sums.blocks
    def rows: Long = sums.rows
    def tokens: Long = sums.tokens
    def bytes: Long = sums.bytes
    def contentSig: String = f"${sums.sig}%016x"

    /** These totals plus version `ver`'s fresh manifest, written with `fresh`. */
    def add(ver: Int, fresh: Sums): Totals =
      Totals(manifestDirs :+ manifestDir(ver), sums + fresh)

    /** These totals without the manifests of `vers`, whose sums are `dropped`. */
    def drop(vers: Set[Int], dropped: Sums): Totals =
      Totals(manifestDirs.filterNot(d => vers(GraftTable.versionOfDir(d))), sums - dropped)

    /** The snapshot of these totals; `stats` are sorted here. */
    def snapshot(
        version: Int,
        snapshotId: String,
        parentId: Option[String],
        inputFingerprint: String,
        keyStrategy: String,
        boundsDir: Option[String],
        numBlocks: Int,
        complete: Boolean,
        dataDirs: Seq[String],
        stats: Seq[(String, String)]): Snapshot =
      Snapshot(version, snapshotId, parentId, inputFingerprint, keyStrategy,
        boundsDir, numBlocks, blocks, complete, rows, tokens, bytes, sums.plain,
        contentSig, dataDirs, manifestDirs, stats.sorted, committedAt(Instant.now()))
  }

  object Totals {
    val Empty: Totals = Totals(Nil, Sums.Zero)

    /** The totals `s` committed: its manifests and their sums. */
    def of(s: Snapshot): Totals = Totals(s.manifestDirs, Sums.of(s))
  }

  /** `committed_at`: UTC with a 9-digit fraction, so every snapshot JSON of
    * a table has the same width (`Instant.toString` drops trailing zero
    * digit groups).
    */
  private val CommittedAt =
    DateTimeFormatter.ofPattern("uuuu-MM-dd'T'HH:mm:ss.SSSSSSSSS'Z'").withZone(ZoneOffset.UTC)

  private[table] def committedAt(t: Instant): String = CommittedAt.format(t)

  /** The relative manifest dir of version `ver`. */
  private def manifestDir(ver: Int): String = s"manifests/v$ver"

  /** Write `manifest` (a fresh version's manifest frame) to
    * `manifests/v<ver>` and return its [[Sums]], observed on the write: one
    * job over the written blocks, which are never read again for the
    * count or the totals. A manifest of no block leaves no dir behind.
    */
  def writeManifest(spark: SparkSession, tableDir: String, ver: Int, manifest: DataFrame): Sums = {
    val obs = Observation()
    val aggs = Sums.aggs(manifest).zipWithIndex.map { case (c, i) => c.as(s"s$i") }
    val path = s"$tableDir/${manifestDir(ver)}"
    manifest.observe(obs, aggs.head, aggs.tail: _*).write.mode("overwrite").json(path)
    val m = obs.get
    val sums = Sums.at(Row.fromSeq(aggs.indices.map(i => m(s"s$i"))), 0)
    if (sums.blocks == 0) GraftTable.delete(spark, path)
    sums
  }

  /** Commit version `ver` with totals `tot`: build the snapshot, write
    * `metadata/v<ver>.json` and move the pointer. No job runs.
    */
  def apply(spark: SparkSession, tableDir: String, ver: Int, tot: Totals)(
      build: Totals => Snapshot): Snapshot = {
    val snap = build(tot)
    GraftTable.writeString(
      spark, s"$tableDir/metadata/v$ver.json", GraftTable.renderSnapshot(snap))
    GraftTable.commitPointer(spark, tableDir, ver)
    snap
  }

  /** `stream_*` snapshot metadata (the streaming sink's exactly-once
    * batchId watermark) inherited from the parent snapshot when the caller
    * doesn't override it, so compaction / manual writes interleaved with an
    * active stream never erase the replay guard (ADVICE r2).
    */
  def carriedMeta(parent: Option[Snapshot]): Map[String, String] =
    parent.map(_.stats.filter(_._1.startsWith("stream_")).toMap)
      .getOrElse(Map.empty)

  private val timing = sys.env.get("GRAFT_TIMING").contains("1")

  /** With `GRAFT_TIMING=1`, prints `GRAFT_TIMING <label> <seconds>s` once
    * `f` returns.
    */
  def timed[T](label: String)(f: => T): T = {
    if (!timing) f
    else {
      val t0 = System.nanoTime()
      val r = f
      println(f"GRAFT_TIMING $label ${(System.nanoTime() - t0) / 1e9}%.2fs")
      r
    }
  }
}
