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
  *      job ([[writeManifest]]), whose [[VersionSummary]] — its [[Sums]],
  *      key span and largest block id — is observed on that write;
  *   2. takes the kept versions' summaries from the parent snapshot, which
  *      records one per live version: the parent's list without the
  *      versions a rewrite drops, plus the fresh one ([[Totals]]). The
  *      totals are their fold, and every whole-version question (a
  *      compact's fill, a range's versions, the next block id) is
  *      arithmetic on the list, as Iceberg plans from its manifest list —
  *      so no kept manifest is read;
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
    * Σ `plain_bytes` and `bit_xor(block_sig)`. The sums add, and the xor is
    * its own inverse, so a snapshot's totals are the fold of its versions'.
    */
  final case class Sums(blocks: Long, rows: Long, tokens: Long, bytes: Long, plain: Long,
      sig: Long) {
    def +(o: Sums): Sums = Sums(blocks + o.blocks, rows + o.rows, tokens + o.tokens,
      bytes + o.bytes, plain + o.plain, sig ^ o.sig)
  }

  object Sums {
    val Zero: Sums = Sums(0L, 0L, 0L, 0L, 0L, 0L)

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

    /** The [[aggs]] values of `r` from column `from` on. */
    def at(r: Row, from: Int): Sums = Sums(r.getLong(from), r.getLong(from + 1),
      r.getLong(from + 2), r.getLong(from + 3), r.getLong(from + 4), r.getLong(from + 5))
  }

  /** The live versions of a new snapshot, one [[VersionSummary]] each in
    * `manifest_dirs` order; the snapshot totals are their fold.
    */
  final case class Totals(versions: Seq[VersionSummary]) {
    lazy val sums: Sums = versions.foldLeft(Sums.Zero)(_ + _.sums)
    def blocks: Long = sums.blocks
    def rows: Long = sums.rows
    def tokens: Long = sums.tokens
    def bytes: Long = sums.bytes
    def contentSig: String = f"${sums.sig}%016x"
    def manifestDirs: Seq[String] = versions.map(v => manifestDir(v.ver))

    /** The first block id after every live one. */
    def nextBlockId: Int =
      if (versions.isEmpty) 0 else versions.map(_.blockMax).max.toInt + 1

    /** These versions plus the fresh one. */
    def add(fresh: VersionSummary): Totals = Totals(versions :+ fresh)

    /** These versions without `vers`. */
    def drop(vers: Set[Int]): Totals = Totals(versions.filterNot(v => vers(v.ver)))

    /** The versions a compact merges: those whose average block fill is
      * below `minFill` rows; none when there is nothing to merge (no such
      * version, or one of one block).
      */
    def fragments(minFill: Double): Set[Int] = versions.filter(_.fill < minFill) match {
      case Seq(one) if one.sums.blocks <= 1 => Set.empty
      case frag => frag.map(_.ver).toSet
    }

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
        contentSig, dataDirs, manifestDirs, stats.sorted, committedAt(Instant.now()),
        Some(versions))
  }

  object Totals {
    val Empty: Totals = Totals(Nil)

    /** The live versions `s` committed ([[VersionSummary.of]]). */
    def of(spark: SparkSession, tableDir: String, s: Snapshot): Totals =
      Totals(VersionSummary.of(spark, tableDir, s))
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
    * `manifests/v<ver>` and return its [[VersionSummary]], observed on the
    * write: one job over the written blocks, which are never read again
    * for the count, the totals or the key span. A manifest of no block
    * leaves no dir behind.
    */
  def writeManifest(
      spark: SparkSession, tableDir: String, ver: Int, manifest: DataFrame): VersionSummary = {
    val obs = Observation()
    val aggs = VersionSummary.aggs(manifest).zipWithIndex.map { case (c, i) => c.as(s"s$i") }
    val path = s"$tableDir/${manifestDir(ver)}"
    manifest.observe(obs, aggs.head, aggs.tail: _*).write.mode("overwrite").json(path)
    val m = obs.get
    val fresh = VersionSummary.at(ver, Row.fromSeq(aggs.indices.map(i => m(s"s$i"))), 0)
    if (fresh.sums.blocks == 0) GraftTable.delete(spark, path)
    fresh
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
