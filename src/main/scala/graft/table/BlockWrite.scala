package graft.table

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, GraftSql, SparkSession}
import org.apache.spark.sql.functions._

import graft.GateProps
import graft.expr.BoundsChunks
import graft.functions.graft_range_bucket
import graft.table.Commit.{Totals, timed}
import graft.table.GraftTable.{EncodeResult, Options, Snapshot}

/** The lane-neutral steps of a version write, under both table lanes; each
  * ends in [[Commit.writeManifest]]:
  *   - [[encode]]: the no-op on a complete parent, the empty-input rule,
  *     the cached keyed frame, the encode bounds, the resume anti-join
  *     against the parent manifest, the block filter, and the commit;
  *   - [[writeBatch]]: an append batch, or the rows a compact or a delete
  *     rewrites, under ephemeral bounds from a block-id offset;
  *   - the range bounds of the blocking key `_graft_key`: sampled,
  *     layout-independent cuts (range encoding over the key order), flat
  *     or two-level by [[Options.chunkedBoundsMinBounds]].
  *
  * A lane supplies its key projection, its [[Format]] (block assembly and
  * manifest) and its [[Identity]] (fingerprint, stats fields, snapshot-id
  * preimages): its on-disk format stays in `GraftTable` and `GenericTable`.
  */
private[table] object BlockWrite {

  /** A lane's block format: `blocks(withBlocks, ver, numBlocks)` assembles
    * keyed rows plus `block_id` into the lane's block rows of version
    * `ver`; `manifest(dataPath)` is the manifest frame of the blocks
    * written under `dataPath`.
    */
  final case class Format(
      blocks: (DataFrame, Int, Int) => DataFrame,
      manifest: String => DataFrame)

  /** What an encode records beside its totals, in its lane's format: the
    * input fingerprint, key strategy and snapshot stats fields, and the
    * snapshot id of an empty version `v` and of a written one
    * (`v`, its bounds, its totals).
    */
  final case class Identity(
      fingerprint: String,
      keyStrategy: String,
      stats: Seq[(String, String)],
      emptyId: Int => String,
      writtenId: (Int, BoundsRef, Totals) => String)

  // ------------------------------------------------------------- encode

  /** Encode `keyed` (a lane's key projection of `rows` rows) as the next
    * version of `tableDir` after `cur`, or resume `parent`, the current
    * snapshot when the lane matched it to this input:
    *   - a complete parent, with no block filter, is the result;
    *   - an empty input returns the parent, or commits the lane's empty
    *     snapshot before any bounds or write job;
    *   - otherwise the version holds the blocks the parent lacks and the
    *     filter keeps. A parent gains no version when no such block exists;
    *     with no parent, a filter that keeps no block commits the bounds
    *     and no block, incomplete, so that a later encode does the work.
    * The snapshot's `parent_id` is `cur`'s, whichever branch commits.
    *
    * `cells` sizes the input for the cache gate: an input within the
    * sample budget (a few MB) stays cached across the bounds sample scan
    * and the encode exchange instead of re-running its projection per
    * pass. The gate is data-determined and scale-safe: big inputs skip it.
    */
  def encode(
      keyed: DataFrame,
      tableDir: String,
      opts: Options,
      rows: Long,
      cells: Long,
      cur: Option[Snapshot],
      parent: Option[Snapshot],
      format: Format,
      id: Identity): EncodeResult = {
    val spark = keyed.sparkSession
    // the confirmed current snapshot IS the encode of this input: return
    // without loading bounds, broadcasting or running an empty job
    parent.filter(p => p.complete && opts.blockFilter.isEmpty).foreach { p =>
      return EncodeResult.of(p, 0L)
    }
    val ver = cur.map(_.version).getOrElse(0) + 1
    def commit(tot: Totals, boundsDir: Option[String], numBlocks: Int, dataDirs: Seq[String])(
        snapshotId: Totals => String): Snapshot =
      Commit(spark, tableDir, ver, tot) { t =>
        t.snapshot(ver, snapshotId(t), cur.map(_.snapshotId), id.fingerprint, id.keyStrategy,
          boundsDir, numBlocks, complete = t.blocks == numBlocks, dataDirs, id.stats)
      }
    if (rows == 0L)
      return EncodeResult.of(
        parent.getOrElse(commit(Totals.Empty, None, 0, Nil)(_ => id.emptyId(ver))), 0L)

    val cached = cells <= opts.sampleRows
    if (cached) keyed.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val (bounds, boundsDir) =
        timed("bounds")(encodeBounds(keyed, rows, tableDir, ver, opts, parent))
      val withBlocks = keyed.withColumn("block_id", bounds.bucket(spark, col("_graft_key")))
      // resume (E5): only the blocks the parent manifest lacks shuffle and encode
      val notDone = parent match {
        case Some(p) if p.manifestDirs.nonEmpty =>
          withBlocks.join(doneBlocks(spark, tableDir, p), Seq("block_id"), "left_anti")
        case _ => withBlocks
      }
      val todo = opts.blockFilter match {
        case Some(f) =>
          val allowed = (0 until bounds.numBlocks).filter(f)
          notDone.filter(col("block_id").isin(allowed.map(Int.box): _*))
        case None => notDone
      }
      val (dataDir, fresh) = write(todo, tableDir, ver, bounds.numBlocks, format)
      if (fresh.sums.blocks == 0) GraftTable.delete(spark, s"$tableDir/$dataDir")
      if (fresh.sums.blocks == 0 && parent.nonEmpty) EncodeResult.of(parent.get, 0L)
      else {
        val kept = parent.fold(Totals.Empty)(Totals.of(spark, tableDir, _))
        val (tot, freshDir) =
          if (fresh.sums.blocks == 0) (kept, None) else (kept.add(fresh), Some(dataDir))
        val snap = commit(tot, boundsDir, bounds.numBlocks,
          parent.map(_.dataDirs).getOrElse(Nil) ++ freshDir)(id.writtenId(ver, bounds, _))
        EncodeResult.of(snap, fresh.sums.blocks)
      }
    } finally if (cached) { keyed.unpersist(false); () }
  }

  /** The bounds of version `ver` of an encode and the dir they are stored
    * under: the resume parent's, else computed distributed ([[Ranks]], no
    * single-partition sort) into `metadata/bounds/v<ver>`. Below
    * `opts.chunkedBoundsMinBounds` estimated bounds the flat array ships
    * as ONE broadcast; at or above it the table goes TWO-LEVEL (coarse
    * cuts broadcast, fine chunks streamed from `bounds.bin` per executor),
    * so the driver never materializes the full array. A table of one
    * block stores none.
    */
  private def encodeBounds(
      keyed: DataFrame,
      rows: Long,
      tableDir: String,
      ver: Int,
      opts: Options,
      parent: Option[Snapshot]): (BoundsRef, Option[String]) = parent match {
    case Some(p) => (loadBoundsRef(keyed.sparkSession, tableDir, p), p.boundsDir)
    case None =>
      val dir = s"metadata/bounds/v$ver"
      val estBounds = math.max(1L, (rows + opts.targetRowsPerBlock - 1) /
        opts.targetRowsPerBlock) - 1L
      if (estBounds >= opts.chunkedBoundsMinBounds)
        computeBoundsToFile(keyed, rows, opts.targetRowsPerBlock, opts.sampleRows,
          s"$tableDir/$dir/bounds.bin").fold[(BoundsRef, Option[String])](
          (SmallBounds(Array.empty), None))(r => (r, Some(dir)))
      else {
        val b = computeBounds(keyed, rows, opts.targetRowsPerBlock, opts.sampleRows)
        if (b.nonEmpty) {
          import keyed.sparkSession.implicits._
          b.toIndexedSeq.toDF("k").write.mode("overwrite").parquet(s"$tableDir/$dir")
        }
        (SmallBounds(b), if (b.isEmpty) None else Some(dir))
      }
  }

  /** The block ids `p`'s manifest holds. */
  def doneBlocks(spark: SparkSession, tableDir: String, p: Snapshot): DataFrame =
    GraftTable.manifestRows(spark, tableDir, p.manifestDirs)
      .select(col("block_id").cast("int").as("block_id")).distinct()

  /** Write `keyed` (an append batch, or the rows a compact or a delete
    * rewrites) as version `ver`, range-blocked by its own bounds into
    * block ids from `blockOffset`. The bounds are ephemeral: blocks are
    * assigned and written within this call and these versions never
    * resume, so the bounds are broadcast and kept in no file. Returns the
    * bounds, the data dir and the version's summary.
    */
  def writeBatch(
      keyed: DataFrame,
      rows: Long,
      tableDir: String,
      ver: Int,
      blockOffset: Int,
      opts: Options,
      format: Format): (BoundsRef, String, VersionSummary) = {
    val bounds = SmallBounds(computeBounds(keyed, rows, opts.targetRowsPerBlock, opts.sampleRows))
    val withBlocks = keyed.withColumn("block_id",
      bounds.bucket(keyed.sparkSession, col("_graft_key")) + blockOffset)
    val (dataDir, fresh) = write(withBlocks, tableDir, ver, bounds.numBlocks, format)
    (bounds, dataDir, fresh)
  }

  /** Write the blocks of `withBlocks` as `data/v<ver>`, then their manifest.
    * Overwrite: a same-version dir can only be an orphan of a crashed run,
    * since a version's dirs enter a snapshot only at its commit. The
    * manifest comes from the WRITTEN files (a column-pruned scan), never
    * from a re-run of the encode lineage.
    */
  private def write(
      withBlocks: DataFrame,
      tableDir: String,
      ver: Int,
      numBlocks: Int,
      format: Format): (String, VersionSummary) = {
    val dataDir = s"data/v$ver"
    val path = s"$tableDir/$dataDir"
    timed("encode+write")(
      format.blocks(withBlocks, ver, numBlocks).write.mode("overwrite").parquet(path))
    (dataDir, timed("manifest-write")(
      Commit.writeManifest(withBlocks.sparkSession, tableDir, ver, format.manifest(path))))
  }

  /** Spill-aware partition count for the encode exchange. Three regimes:
    *   - small tables: one partition per block is enough (never exceed
    *     numBlocks — empty reducers are pure overhead);
    *   - CPU-bound middle: 2× parallelism keeps every core fed through
    *     stragglers (the sandbox regime);
    *   - data-bound top end: cap each sort task at ~512 MB of plain token
    *     bytes. Without this, 10^12 rows over 2×parallelism tasks puts
    *     multi-GB in every Tungsten sort — correct (external sort spills)
    *     but thrashing; ~512 MB tasks sort mostly in memory.
    * The count is explicit (AQE coalescing would serialize this CPU-bound
    * stage) and deterministic given (blocks, cluster, stats).
    */
  def encodePartitions(numBlocks: Int, parallelism: Int, tokensTotal: Long): Int = {
    val targetTaskBytes = 512L << 20
    val approxPlainBytes = tokensTotal * 5L // 4 B/token + id/len/source overhead
    val byData = (approxPlainBytes + targetTaskBytes - 1) / targetTaskBytes
    val byCpu = parallelism * 2L
    math.max(1L, math.min(numBlocks.toLong, math.max(byCpu, byData))).toInt
  }

  // ------------------------------------------------------------- bounds

  /** Range-block bounds from a hash-strided key sample. Properties a plain
    * `df.sample(seed)` + approxQuantile would NOT give:
    *   - layout independence: `sample()` seeds per partition, so the chosen
    *     rows (hence bounds, hence every block payload) would change with
    *     input split sizes / cluster parallelism. Selecting rows by
    *     `xxhash64(key) % stride == 0` depends only on the VALUES —
    *     identical bounds at local[2] and on 1000 executors;
    *   - exact cut points: boundary keys are picked by exact global rank
    *     over the sample — no sketch-merge nondeterminism;
    *   - distributed rank: [[Ranks.withRank]] range-shuffles the sample and
    *     derives ranks from partition offsets. At 10^12 rows the sample is
    *     ~8·numBlocks ≈ 10^8 rows — round 1's single-partition
    *     `Window.orderBy` put all of them in ONE task; this sorts them
    *     p-way parallel with ordinary spill-safe Tungsten sorts.
    *
    * Driver state is O(numBlocks) longs (the cut array itself, needed to
    * build the broadcast) — ~120 MB at 15M blocks, the floor for a
    * broadcast-probe design; [[computeBoundsToFile]] is the two-level
    * path past it.
    */
  def computeBounds(
      keyed: DataFrame, rows: Long, targetRows: Int, sampleRows: Long): Array[Long] = {
    val sample = boundsSample(keyed, rows, targetRows, sampleRows).getOrElse(return Array.empty)
    val BoundsSample(s, numBlocks, expectedSample) = sample

    // small-sample fast path: the boundary keys land on the driver either
    // way (the bounds array IS driver state), so when the sample itself is
    // driver-sized, collect it once and pick the SAME cut points locally —
    // identical bounds (same sample set, same rank rule, multiset order),
    // one job instead of the 3-4 the distributed rank machinery costs.
    // The gate is the expected sample count, bounded by the sample budget;
    // big tables (or numBlocks-dominated budgets) take the distributed
    // path below exactly as before.
    // the stride filter selects by VALUE, so duplicate-heavy keys can
    // make the ACTUAL sample far exceed rows/stride (every duplicate of
    // a selected value passes) — gate on an exact count of the sample
    // before collecting it, so the driver never materializes an
    // unboundedly-skewed sample (the count is one cheap column-pruned
    // job; the fast path still replaces the 3-4 jobs of the distributed
    // rank machinery with 2). The sample is a subset of the `rows` input
    // rows, so at most `rows` keys can pass: up to the gate the count
    // cannot exceed it and is skipped.
    val gate = SmallBoundsSampleMax
    if (expectedSample <= gate && (rows <= gate || s.count() <= gate)) {
      val ks = s.collect().map(_.getLong(0)).sorted
      val cnt = ks.length.toLong
      if (cnt < numBlocks) return Array.empty
      val out = Array.newBuilder[Long]
      var rn = 2L // interior cuts only: rn != 1 && rn != cnt
      while (rn < cnt) {
        // same edge rule as the distributed path: floor over DOUBLE
        // division (Spark's Divide casts both sides to double)
        if (((rn * numBlocks).toDouble / cnt).toLong !=
            (((rn - 1) * numBlocks).toDouble / cnt).toLong)
          out += ks((rn - 1).toInt)
        rn += 1
      }
      return out.result().distinct.sorted
    }

    rankedCuts(sample)(_.collect().map(_.getLong(0)).distinct.sorted)
      .getOrElse(Array.empty)
  }

  /** The key sample both bounds builders cut: keys whose
    * `pmod(xxhash64(key), stride) = 0`, the stride sized so that about
    * max(sampleRows, 8·numBlocks) of `rows` pass (`expected`). None for a
    * table of one block.
    */
  private final case class BoundsSample(keys: DataFrame, numBlocks: Long, expected: Long)

  private def boundsSample(
      keyed: DataFrame, rows: Long, targetRows: Int, sampleRows: Long): Option[BoundsSample] = {
    val numBlocks = math.max(1L, (rows + targetRows - 1) / targetRows.toLong)
    if (numBlocks <= 1) return None
    val budget = math.max(sampleRows, numBlocks * 8L)
    val stride = math.max(1L, rows / budget)
    val keys = keyed
      .where(col("_graft_key").isNotNull &&
        pmod(xxhash64(col("_graft_key")), lit(stride)) === 0)
      .select(col("_graft_key").as("k"))
    Some(BoundsSample(keys, numBlocks, rows / stride))
  }

  /** Ranks the sample over the cluster ([[Ranks.withRank]]) and hands `use`
    * the cut keys `k`: the interior rows where floor(rn·numBlocks/cnt)
    * crosses a bucket edge. None when fewer distinct keys than blocks were
    * sampled (a degenerate key space: one block).
    */
  private def rankedCuts[T](sample: BoundsSample)(use: DataFrame => T): Option[T] = {
    val BoundsSample(s, numBlocks, _) = sample
    val parallelism = s.sparkSession.sparkContext.defaultParallelism
    val (ranked, cnt, release) = Ranks.withRank(s, col("k"), "rn", parallelism * 2)
    try {
      if (cnt < numBlocks) None
      else Some(use(ranked
        .where((col("rn") * numBlocks).divide(cnt).cast("long") =!=
          ((col("rn") - 1) * numBlocks).divide(cnt).cast("long"))
        .where(col("rn") =!= 1 && col("rn") =!= cnt)
        .select("k")))
    } finally release()
  }

  /** Max expected sample count for [[computeBounds]]'s driver-side sort
    * path (~8 MB of longs — the bounds ARRAY itself can be 120 MB at 15M
    * blocks, so this adds no new driver-memory class). Overridable for
    * tests via the graft.bounds.smallSampleMax system property.
    */
  def SmallBoundsSampleMax: Long =
    GateProps.long("graft.bounds.smallSampleMax", 1L << 20)

  /** A handle on a table's range bounds that builds the block-id probe
    * column without committing to HOW the bounds reach executors.
    */
  sealed trait BoundsRef {
    def numBounds: Long
    def numBlocks: Int = numBounds.toInt + 1
    def bucket(spark: SparkSession, key: Column): Column
    /** The bounds' content signature in snapshot-id preimages: SHA-256 of
      * the sorted bounds, 8 big-endian bytes each — the same for a flat
      * and a two-level handle on the same bounds.
      */
    def sigHex(): String
  }

  /** Flat path: full array on the driver, one broadcast per write. */
  final case class SmallBounds(bounds: Array[Long]) extends BoundsRef {
    @transient private var bc: org.apache.spark.broadcast.Broadcast[Array[Long]] = _
    override def numBounds: Long = bounds.length.toLong
    override def bucket(spark: SparkSession, key: Column) = {
      if (bc == null) bc = spark.sparkContext.broadcast(bounds)
      graft_range_bucket(key, bc)
    }
    override def sigHex(): String = {
      val scan = new BoundsScan(withSig = true)
      bounds.foreach(scan.add)
      scan.sig
    }
  }

  /** Two-level path: the driver holds one coarse cut per
    * [[BoundsChunks.ChunkSize]] fine bounds; executors stream the fine
    * chunks they touch from `bounds.bin` (VERDICT r2 #8 — breaks the
    * O(numBlocks) driver heap + broadcast floor).
    */
  final case class ChunkedBoundsRef(
      binPath: String, override val numBounds: Long, coarse: Array[Long],
      sigThunk: () => String) extends BoundsRef {
    override def bucket(spark: SparkSession, key: Column) = {
      val coarseBc = spark.sparkContext.broadcast(coarse)
      val confBc = spark.sparkContext.broadcast(
        new graft.expr.SerializableHadoopConf(spark.sparkContext.hadoopConfiguration))
      // file identity (length:mtime) distinguishes a re-created table at
      // the same path in the executor-side chunk cache
      val p = new Path(binPath)
      val st = p.getFileSystem(spark.sparkContext.hadoopConfiguration).getFileStatus(p)
      GraftSql.column(graft.expr.RangeBucketChunked(GraftSql.expression(key),
        coarseBc, binPath, s"${st.getLen}:${st.getModificationTime}", numBounds, confBc))
    }
    override def sigHex(): String = sigThunk()
  }

  /** One pass over sorted bounds: their count, their coarse cuts (every
    * [[BoundsChunks.ChunkSize]]-th bound and the last) and, `withSig`,
    * their [[BoundsRef.sigHex]] digest.
    */
  private final class BoundsScan(withSig: Boolean) {
    private val md = if (withSig) java.security.MessageDigest.getInstance("SHA-256") else null
    private val buf = java.nio.ByteBuffer.allocate(8)
    private val cuts = Array.newBuilder[Long]
    var n = 0L
    private var last = 0L

    def add(v: Long): Unit = {
      if (withSig) { buf.clear(); buf.putLong(v); md.update(buf.array()) }
      n += 1
      last = v
      if (n % BoundsChunks.ChunkSize == 0) cuts += v
    }

    def coarse: Array[Long] =
      if (n % BoundsChunks.ChunkSize != 0) cuts.result() :+ last else cuts.result()

    def sig: String = md.digest().map("%02x".format(_)).mkString
  }

  /** Distributed bound planning WITHOUT driver materialization: the ranked
    * boundary keys are globally sorted by Spark, then STREAMED through the
    * driver (`toLocalIterator` — O(one partition) heap) into `bounds.bin`
    * while the coarse cuts and content digest accumulate on the fly.
    * Returns None when the sampled key space degenerates to one block.
    */
  private def computeBoundsToFile(
      keyed: DataFrame, rows: Long, targetRows: Int, sampleRows: Long,
      binPath: String): Option[ChunkedBoundsRef] = {
    val spark = keyed.sparkSession
    val sample = boundsSample(keyed, rows, targetRows, sampleRows).getOrElse(return None)
    rankedCuts(sample) { cuts =>
      val scan = new BoundsScan(withSig = true)
      val out = GraftTable.hfs(spark, binPath).create(new Path(binPath), true)
      try {
        val dout = new java.io.DataOutputStream(new java.io.BufferedOutputStream(out, 1 << 20))
        val it = cuts.distinct().orderBy("k").toLocalIterator()
        while (it.hasNext) {
          val v = it.next().getLong(0)
          // bounds.bin is little-endian (BoundsChunks reads LE)
          dout.writeLong(java.lang.Long.reverseBytes(v))
          scan.add(v)
        }
        dout.flush()
      } finally out.close()
      if (scan.n == 0) { GraftTable.delete(spark, binPath); None }
      else {
        val sig = scan.sig
        Some(ChunkedBoundsRef(binPath, scan.n, scan.coarse, () => sig))
      }
    }.flatten
  }

  /** Resolve a snapshot's bounds to a probe handle: `bounds.bin` present →
    * two-level (driver reads only the coarse cuts — O(numBounds/4096));
    * else the flat parquet array of one bigint column `k`.
    */
  def loadBoundsRef(spark: SparkSession, tableDir: String, snap: Snapshot): BoundsRef =
    snap.boundsDir match {
      case None => SmallBounds(Array.empty)
      case Some(d) =>
        val bin = new Path(s"$tableDir/$d/bounds.bin")
        val fs = GraftTable.hfs(spark, bin.toString)
        if (!fs.exists(bin))
          SmallBounds(spark.read.parquet(s"$tableDir/$d").collect().map(_.getLong(0)).sorted)
        else {
          val n = fs.getFileStatus(bin).getLen / 8L
          // stream once, keep every chunkSize-th value — O(coarse) heap
          def scan(withSig: Boolean): BoundsScan = {
            val s = new BoundsScan(withSig)
            val in =
              new java.io.DataInputStream(new java.io.BufferedInputStream(fs.open(bin), 1 << 20))
            try while (s.n < n) s.add(java.lang.Long.reverseBytes(in.readLong()))
            finally in.close()
            s
          }
          ChunkedBoundsRef(bin.toString, n, scan(withSig = false).coarse,
            () => scan(withSig = true).sig)
        }
    }
}
