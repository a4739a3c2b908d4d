package graft.table

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}
import org.apache.spark.storage.StorageLevel

import graft.table.GraftTable.Snapshot

/** The one snapshot commit of both table lanes (Iceberg's single commit
  * operation over manifest → snapshot → pointer, SURVEY.md §1.2). A commit
  * of version N:
  *   1. writes the fresh version's manifest frame to `manifests/vN`;
  *   2. aggregates totals over the kept manifests plus that frame — O(1)
  *      driver state, and the new version is never re-read from JSON;
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

  /** Totals over the live manifests of a new version. Generic manifests
    * carry no `token_count`, so their `tokens` is 0.
    */
  final case class Totals(
      manifestDirs: Seq[String],
      blocks: Long,
      rows: Long,
      tokens: Long,
      bytes: Long,
      plain: Long,
      sig: Long) {

    def contentSig: String = f"$sig%016x"

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
        boundsDir, numBlocks, blocks, complete, rows, tokens, bytes, plain,
        contentSig, dataDirs, manifestDirs, stats.sorted,
        java.time.Instant.now().toString)
  }

  /** Commit version `ver` over `keptManifests` plus the `fresh` manifest
    * frame (persisted by [[withManifest]]), which is written to
    * `manifests/v<ver>` first. With no manifest at all the totals are
    * zero and no job runs. `phases`, when set, is the `GRAFT_TIMING`
    * label prefix of the manifest-write and totals phases.
    */
  def apply(
      spark: SparkSession,
      tableDir: String,
      ver: Int,
      keptManifests: Seq[String],
      fresh: Option[DataFrame],
      phases: Option[String] = None)(build: Totals => Snapshot): Snapshot = {
    def phase[T](label: String)(f: => T): T = phases.fold(f)(p => timed(p + label)(f))
    val freshDir = s"manifests/v$ver"
    fresh.foreach(m =>
      phase("manifest-write")(m.write.mode("overwrite").json(s"$tableDir/$freshDir")))
    val dirs = keptManifests ++ fresh.map(_ => freshDir)
    val all = fresh match {
      case Some(m) => Some(manifestTotalsWithFresh(spark, tableDir, keptManifests, m))
      case None if keptManifests.nonEmpty =>
        Some(readManifestTotals(spark, tableDir, keptManifests))
      case None => None
    }
    // every aggregate is coalesced: kept manifests may hold no row
    val tot = all.fold(Totals(dirs, 0L, 0L, 0L, 0L, 0L, 0L)) { df =>
      val t = phase("totals")(df.agg(count(lit(1)),
        Seq(sum("row_count"), sum("token_count"), sum("bytes_total"), sum("plain_bytes"),
          expr("bit_xor(block_sig)")).map(coalesce(_, lit(0L))): _*).head())
      Totals(dirs, t.getLong(0), t.getLong(1), t.getLong(2), t.getLong(3),
        t.getLong(4), t.getLong(5))
    }
    val snap = build(tot)
    GraftTable.writeString(
      spark, s"$tableDir/metadata/v$ver.json", GraftTable.renderSnapshot(snap))
    GraftTable.commitPointer(spark, tableDir, ver)
    snap
  }

  /** Persist a fresh version's manifest frame for `body`: its count, JSON
    * write and totals then share one pass over the written blocks (the
    * manifest aggregate reads every payload byte for `block_sig`). It is
    * unpersisted in `finally`, so a failed write does not leak the cache.
    */
  def withManifest[T](manifest: DataFrame)(body: DataFrame => T): T = {
    manifest.persist(StorageLevel.MEMORY_AND_DISK)
    try body(manifest)
    finally { manifest.unpersist(false); () }
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

  /** Totals-projection schema for manifest JSON reads: the totals
    * aggregate touches only these five LONG fields, so reading with an
    * explicit schema skips spark.read.json's schema-inference pass (a full
    * extra read of every manifest file). Token-lane manifests carry all
    * five; generic-lane manifests have no token_count (reads null).
    */
  private val manifestTotalsSchema = StructType(Seq(
    StructField("row_count", LongType),
    StructField("token_count", LongType),
    StructField("bytes_total", LongType),
    StructField("plain_bytes", LongType),
    StructField("block_sig", LongType)))

  private def readManifestTotals(
      spark: SparkSession, tableDir: String, manifestDirs: Seq[String]): DataFrame =
    spark.read.schema(manifestTotalsSchema)
      .json(manifestDirs.map(d => s"$tableDir/$d"): _*)

  /** Totals frame over `oldDirs` plus the in-memory `fresh` frame that
    * produced the new version's manifest file — the totals job never
    * re-reads data the same commit just wrote. Columns are pinned to
    * [[manifestTotalsSchema]]; a generic frame has no token_count and
    * contributes null there, exactly as the JSON read would.
    */
  private def manifestTotalsWithFresh(
      spark: SparkSession, tableDir: String,
      oldDirs: Seq[String], fresh: DataFrame): DataFrame = {
    val freshCols = fresh.columns.toSet
    val freshTot = fresh.select(manifestTotalsSchema.fields.toIndexedSeq.map(f =>
      (if (freshCols(f.name)) col(f.name).cast(f.dataType)
       else lit(null).cast(f.dataType)).as(f.name)): _*)
    if (oldDirs.isEmpty) freshTot
    else readManifestTotals(spark, tableDir, oldDirs).unionByName(freshTot)
  }
}
