package graft.table

import java.nio.charset.StandardCharsets

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, LongType, StringType, StructField, StructType}
import org.json4s._
import org.json4s.jackson.JsonMethods

import graft.GateProps
import graft.codec.Hashing
import graft.functions._
import graft.table.Commit.{carriedMeta, timed}

/** Iceberg-shaped encoded token table (SURVEY.md §1.2, E4–E5, E13–E16).
  *
  * No Iceberg runtime jar exists in this sandbox, so the engine implements
  * the same metadata-tree semantics directly: snapshot-versioned JSON table
  * metadata → per-version manifests (one JSON row per encoded block: codec
  * ids, dict/symbol-table sha256, row/token counts, byte sizes) → Parquet
  * data files of per-column codec payloads. Every metadata file is written
  * through the Hadoop FileSystem API, so the layout works unchanged on
  * HDFS/S3A under a real cluster manager.
  *
  * Layout under `tableDir`:
  * {{{
  *   data/v<N>/part-*.parquet     encoded block rows (payload columns)
  *   manifests/v<N>/part-*.json   manifest entries for blocks encoded in vN
  *   metadata/v<N>.json           snapshot (bounds dir, lineage, totals, column stats)
  *   metadata/current             latest committed version number
  * }}}
  *
  * Scale design (the part that must survive 10^12 rows / 1000 executors):
  *   - one data shuffle total: hash exchange on `block_id`, whose bounds
  *     come from sampled quantiles of the doc_id key (range partitioning,
  *     E13) — block sizes are balanced by construction, and `RangeBucket`
  *     assigns blocks in O(log B) per row;
  *   - block assembly is repartition + Tungsten sortWithinPartitions + a
  *     streaming per-partition grouper holding ONE block in memory — no
  *     RDD API, no driver collect of data rows, O(block) task memory;
  *   - manifests are derived by re-reading the *written* data files
  *     (column-pruned scan of payload metadata), never by re-running the
  *     encode lineage;
  *   - snapshot totals/content-signature aggregate the manifest with
  *     commutative `bit_xor(xxhash64(...))`, so the driver handles O(1)
  *     state regardless of block count;
  *   - resume = anti-join of planned blocks against the parent manifest:
  *     only missing blocks shuffle and encode (E5).
  */
object GraftTable {

  final case class Options(
      targetRowsPerBlock: Int = 1 << 16,
      sampleRows: Long = 1L << 20,
      /** Test/backfill hook: restrict this run to a subset of block ids. */
      blockFilter: Option[Int => Boolean] = None,
      /** Bounds count at or above which the table switches to TWO-LEVEL
        * bounds: the driver materializes and broadcasts only coarse cuts
        * (one per [[graft.expr.BoundsChunks.ChunkSize]] fine bounds) and
        * executors stream fine chunks from `bounds.bin` on demand. Below
        * it, the flat collect + broadcast path is faster and simpler. The
        * default keeps tables under ~1M blocks (≈64 GiB of 64Ki-row
        * blocks… per BLOCK-count, i.e. ~10^11 rows) on the flat path; a
        * 10^12-row / 15M-block table crosses it and stops costing the
        * driver 120 MB of heap + broadcast.
        */
      chunkedBoundsMinBounds: Int = 1 << 20) {
    require(targetRowsPerBlock > 0,
      s"targetRowsPerBlock must be a positive integer, got $targetRowsPerBlock")
  }

  final case class Snapshot(
      version: Int,
      snapshotId: String,
      parentId: Option[String],
      inputFingerprint: String,
      keyStrategy: String,
      /** Parquet file of range-cut keys, relative to the table dir. Bounds
        * are DATA, not metadata: at 10^12 rows / 64Ki-row blocks they are
        * ~15M longs (~120 MB) — inlining them in the snapshot JSON (round 1)
        * meant parsing 120 MB of JSON per table open and shipping the array
        * in every task closure. None ⇔ single-block table.
        */
      boundsDir: Option[String],
      numBlocks: Int,
      blocksEncoded: Long,
      complete: Boolean,
      rowCount: Long,
      tokenCount: Long,
      bytesTotal: Long,
      plainBytes: Long,
      contentSig: String,
      dataDirs: Seq[String],
      manifestDirs: Seq[String],
      stats: Seq[(String, String)],
      committedAt: String)

  final case class EncodeResult(
      version: Int,
      snapshotId: String,
      numBlocks: Int,
      blocksEncodedThisRun: Long,
      blocksDone: Long,
      rowCount: Long,
      tokenCount: Long,
      bytesTotal: Long,
      plainBytes: Long,
      contentSig: String,
      complete: Boolean) {
    def compressionVsPlain: Double =
      if (plainBytes == 0) 1.0 else bytesTotal.toDouble / plainBytes
  }

  object EncodeResult {
    /** The result of a call that leaves `snap` current and encoded
      * `blocksThisRun` blocks (0 for a no-op on an unchanged `snap`).
      */
    def of(snap: Snapshot, blocksThisRun: Long): EncodeResult =
      EncodeResult(snap.version, snap.snapshotId, snap.numBlocks, blocksThisRun,
        snap.blocksEncoded, snap.rowCount, snap.tokenCount, snap.bytesTotal,
        snap.plainBytes, snap.contentSig, snap.complete)
  }

  /** Blocking/sort key: numeric doc_id when the string is a canonical
    * decimal (the input_hint corpus), else a deterministic 64-bit hash —
    * blocking stays valid, range pruning degrades gracefully.
    */
  private val KeyExpr = "coalesce(try_cast(doc_id as bigint), xxhash64(doc_id))"
  private val KeyStrategy = "numeric_or_xxhash64"

  /** Input-shaped token rows plus the blocking key `_graft_key`. */
  private def keyedOf(tokens: DataFrame): DataFrame = tokens.select(
    col("doc_id"), col("tokens"), col("n_tok"), col("source"),
    expr(KeyExpr).as("_graft_key"))

  // ------------------------------------------------------------- encode

  /** Input contract: `doc_id` values are unique (the input_hint's table
    * key). Duplicate ids still round-trip correctly, but rows that tie on
    * (key, doc_id) have no further sort key, so snapshot determinism is
    * only guaranteed for unique ids.
    *
    * Resume safety: the cheap scalar fingerprint (row/token counts, token
    * min/max, per-row (doc_id, n_tok, source) xor) intentionally excludes
    * token VALUES — hashing every token on every encode would tax the hot
    * path ~15 ns/token for a rare event. Instead, a scalar-matching resume
    * candidate is CONFIRMED by value: one input scan's row-xor against the
    * manifest's per-block `row_xor` (recorded during assembly — a metadata
    * aggregate, no table decode). An input whose tokens changed while
    * preserving the scalar stats therefore triggers a fresh encode, not a
    * silent stale-table no-op.
    */
  def encode(
      tokens: DataFrame,
      tableDir: String,
      opts: Options = Options(),
      extraMeta: Map[String, String] = Map.empty): EncodeResult = {
    val spark = tokens.sparkSession
    val keyed = keyedOf(tokens)

    val stats = timed("stats")(Stats.collect(keyed, opts.sampleRows))
    val cur = currentSnapshot(spark, tableDir)
    // stream_* metadata (e.g. the exactly-once batchId watermark) carries
    // forward into child snapshots unless the caller overrides it —
    // otherwise an interleaved compact()/manual encode would drop the key
    // and a replayed streaming batch would re-append (ADVICE r2)
    val meta = carriedMeta(cur) ++ extraMeta
    val parent = cur
      .filter(_.inputFingerprint == stats.fingerprint) // fp change => fresh encode
      .filter(p => timed("resume-confirm")(resumeValuesMatch(spark, tableDir, p, keyed)))

    // complete-table no-op: the (confirmed) current snapshot IS the encode
    // of this input — return without loading bounds, broadcasting, or
    // running an empty encode job (at 15M blocks those cost real seconds)
    parent.filter(p => p.complete && opts.blockFilter.isEmpty).foreach { p =>
      return EncodeResult.of(p, 0L)
    }
    val ver = cur.map(_.version).getOrElse(0) + 1

    // sample-budget-bounded inputs (≲ sampleRows tokens, a few MB): keep
    // the keyed frame cached across the bounds sample scan and the encode
    // exchange instead of re-running the tokenize/key projection per
    // pass. The gate is data-determined and scale-safe — big inputs skip
    // it and behave exactly as before.
    val keyedCached = stats.tokensTotal <= opts.sampleRows &&
      stats.rows <= opts.sampleRows
    if (keyedCached) keyed.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {

    // bounds: reuse the parent's bounds file on resume, else compute
    // distributed (Ranks — no single-partition sort) and persist to a
    // file the snapshot references. Small tables ship the flat array as
    // ONE broadcast; past Options.chunkedBoundsMinBounds the table goes
    // TWO-LEVEL (coarse cuts broadcast, fine chunks streamed from
    // bounds.bin per executor) so the driver never materializes the full
    // array (the round-2 120 MB floor).
    val (boundsRef, boundsDir): (BoundsRef, Option[String]) = timed("bounds")(parent match {
      case Some(p) => (loadBoundsRef(spark, tableDir, p), p.boundsDir)
      case None =>
        val estBounds =
          math.max(1L, (stats.rows + opts.targetRowsPerBlock - 1) /
            opts.targetRowsPerBlock) - 1L
        if (estBounds >= opts.chunkedBoundsMinBounds) {
          val dir = s"metadata/bounds/v$ver"
          computeBoundsToFile(
            keyed, stats.rows, opts.targetRowsPerBlock, opts.sampleRows,
            s"$tableDir/$dir/bounds.bin") match {
            case Some(r) => (r, Some(dir))
            case None => (SmallBounds(Array.empty), None)
          }
        } else {
          val b = computeBounds(keyed, stats.rows, opts.targetRowsPerBlock, opts.sampleRows)
          if (b.isEmpty) (SmallBounds(b), None)
          else {
            val dir = s"metadata/bounds/v$ver"
            writeBounds(spark, s"$tableDir/$dir", b)
            (SmallBounds(b), Some(dir))
          }
        }
    })
    val numBlocks = boundsRef.numBounds.toInt + 1

    val withBlocks = keyed.withColumn(
      "block_id", boundsRef.bucket(spark, col("_graft_key")))

    // resume (E5): encode only blocks absent from the parent manifest
    val notDone = parent match {
      case Some(p) if p.manifestDirs.nonEmpty =>
        val done = manifestRows(spark, tableDir, p.manifestDirs)
          .select(col("block_id").cast("int").as("block_id")).distinct()
        withBlocks.join(done, Seq("block_id"), "left_anti")
      case _ => withBlocks
    }
    val todo = opts.blockFilter match {
      case Some(f) =>
        val allowed = (0 until numBlocks).filter(f)
        notDone.filter(col("block_id").isin(allowed.map(Int.box): _*))
      case None => notDone
    }

    // overwrite: a same-version dir can only be an orphan from a crashed
    // run (versions enter data_dirs only after the snapshot commit below)
    val dataDir = timed("encode+write")(
      writeBlocksVersion(todo, tableDir, ver, numBlocks, stats))

    // manifest from the WRITTEN files (column-pruned scan, no re-encode)
    val fresh = timed("manifest-write")(
      Commit.writeManifest(spark, tableDir, ver, manifestOf(spark, s"$tableDir/$dataDir")))
    val newBlocks = fresh.blocks
    // nothing written: drop the empty version dir
    if (newBlocks == 0) delete(spark, s"$tableDir/$dataDir")
    if (newBlocks == 0 && parent.nonEmpty) EncodeResult.of(parent.get, 0L)
    else if (newBlocks == 0 && stats.rows == 0) {
      // empty input, no parent: commit an empty (complete) snapshot
      val snap = Commit(spark, tableDir, ver, Commit.Totals.Empty) { tot =>
        tot.snapshot(ver,
          Hashing.sha256Hex(s"v$ver;parent=none;fp=${stats.fingerprint};empty"),
          None, stats.fingerprint, KeyStrategy, boundsDir, numBlocks = 0,
          complete = true, Nil, stats.asJsonFields ++ meta.toSeq)
      }
      EncodeResult.of(snap, 0L)
    } else {
      // a blockFilter that selected no block, with no parent, commits the
      // bounds and no block: incomplete, so a later encode does the work
      val freshDir = if (newBlocks == 0) None else Some(dataDir)
      val kept = parent.fold(Commit.Totals.Empty)(Commit.Totals.of)
      val snap = Commit(spark, tableDir, ver,
        if (newBlocks == 0) kept else kept.add(ver, fresh)) { tot =>
        val snapshotId = Hashing.sha256Hex(
          s"v$ver;parent=${parent.map(_.snapshotId).getOrElse("none")};" +
            s"fp=${stats.fingerprint};bounds=${boundsRef.sigHex()};" +
            s"blocks=${tot.blocks}/$numBlocks;rows=${tot.rows};" +
            s"tokens=${tot.tokens};bytes=${tot.bytes};sig=${tot.contentSig}")
        tot.snapshot(ver, snapshotId, parent.map(_.snapshotId), stats.fingerprint,
          KeyStrategy, boundsDir, numBlocks, complete = tot.blocks == numBlocks,
          parent.map(_.dataDirs).getOrElse(Nil) ++ freshDir,
          stats.asJsonFields ++ meta.toSeq)
      }
      EncodeResult.of(snap, newBlocks)
    }
    } finally if (keyedCached) { keyed.unpersist(false); () }
  }

  /** Block assembly for `withBlocks` (keyed rows plus `block_id`): ONE
    * shuffle (explicit repartition on block_id — the fixed partition count
    * is immune to AQE's bytes-based coalescing, which would serialize this
    * CPU-bound stage) + sortWithinPartitions (Tungsten external sort,
    * spill-safe) + a streaming per-partition grouper that holds exactly ONE
    * block in memory while encoding. Writes `data/v<ver>` and returns its
    * relative dir.
    *
    * A declarative groupBy + array_sort(collect_list(...)) is the obvious
    * alternative, but collect_list's map-side partial aggregation buffers
    * entire shuffle partitions in the agg hash map (no size reduction —
    * measured 3–13× slower with erratic spill behavior at a few hundred
    * MB). mapPartitions over the sorted stream is the memory-bounded
    * typed-Dataset form of the same plan.
    */
  private def writeBlocksVersion(
      withBlocks: DataFrame,
      tableDir: String,
      ver: Int,
      numBlocks: Int,
      stats: ColumnStats): String = {
    val spark = withBlocks.sparkSession
    import spark.implicits._
    val parallelism = spark.sparkContext.defaultParallelism
    val encodeParts = encodePartitions(numBlocks, parallelism, stats.tokensTotal)
    // tokens are FOR-packed on the MAP side: they dominate the one data
    // shuffle, and ~5-bit ids packed cut MEASURED shuffle-write bytes
    // 3.8× even after lz4 (828 MB → 217 MB for 270M tokens; perfbench
    // traces it as `table.encode.shuffle_write_mb`), plus the serialization CPU
    // (shuffle+sort 3.7 s → 3.2 s at local[8]). On a real cluster those
    // bytes cross the network. BlockAssembler unpacks after the exchange;
    // table bytes are unchanged (packing is per-row and lossless).
    val blocks = withBlocks
      .select(col("block_id"), col("_graft_key").as("k"), col("doc_id"),
        graft_encode(col("tokens"), "for").as("tokens"),
        col("n_tok"), col("source"))
      .repartition(encodeParts, col("block_id"))
      .sortWithinPartitions(col("block_id"), col("k"), col("doc_id"))
      .as[BlockInput]
      .mapPartitions(it =>
        BlockAssembler.assemble(it, ver, stats.allowDict, stats.allowFsst))
    val dataDir = s"data/v$ver"
    blocks.write.mode("overwrite").parquet(s"$tableDir/$dataDir")
    dataDir
  }

  /** Write `keyed` (an append batch or compacted rows) as `data/v<ver>`,
    * range-blocked by its own bounds into block ids from `blockOffset`.
    * The bounds are ephemeral (blocks are assigned and written within this
    * call; append and compact have no mid-batch resume) — broadcast only,
    * no file. Returns (blocks written, data dir).
    */
  private def writeBatchBlocks(
      keyed: DataFrame,
      stats: ColumnStats,
      opts: Options,
      tableDir: String,
      ver: Int,
      blockOffset: Int): (Int, String) = {
    val bounds = computeBounds(keyed, stats.rows, opts.targetRowsPerBlock, opts.sampleRows)
    val bcBounds = keyed.sparkSession.sparkContext.broadcast(bounds)
    val withBlocks = keyed.withColumn("block_id",
      graft_range_bucket(col("_graft_key"), bcBounds) + blockOffset)
    val numNew = bounds.length + 1
    (numNew, writeBlocksVersion(withBlocks, tableDir, ver, numNew, stats))
  }

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
    * broadcast-probe design; a two-level bounds tree would shrink it but
    * costs an extra probe per row.
    */
  private[table] def computeBounds(
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
  private[table] def SmallBoundsSampleMax: Long =
    GateProps.long("graft.bounds.smallSampleMax", 1L << 20)

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
  private[table] def encodePartitions(
      numBlocks: Int, parallelism: Int, tokensTotal: Long): Int = {
    val targetTaskBytes = 512L << 20
    val approxPlainBytes = tokensTotal * 5L // 4 B/token + id/len/source overhead
    val byData = (approxPlainBytes + targetTaskBytes - 1) / targetTaskBytes
    val byCpu = parallelism * 2L
    math.max(1L, math.min(numBlocks.toLong, math.max(byCpu, byData))).toInt
  }

  /** Full-row value hash, type-pinned so the input and decoded sides hash
    * identically regardless of caller column types.
    */
  private val rowHashSql =
    "xxhash64(cast(doc_id as string), cast(n_tok as int), " +
      "cast(source as string), tokens)"

  private[table] val Mod64 = java.math.BigInteger.ONE.shiftLeft(64)

  /** Wrapping (mod 2^64) value of an exact decimal(38,0) sum, aligned with
    * the JVM side's wrapping `Long` accumulation. Spark 4 runs ANSI mode by
    * default, so a plain `sum(bigint)` would throw on overflow — the sum is
    * taken exactly in decimal and reduced here.
    */
  private[table] def mod64(d: java.math.BigDecimal): java.math.BigInteger =
    d.toBigInteger.mod(Mod64)

  /** Confirm a resume candidate by VALUE: the xor AND the wrapping mod-2^64
    * sum of full-row hashes over the input rows that map to done blocks
    * must equal the same aggregates of the manifest's per-block
    * `row_xor`/`row_sum` entries (recorded during assembly, bit-exact twins
    * of [[rowHashSql]] — see [[BlockAssembler.rowHash]]). Codecs are
    * deterministic, so equal (xor, sum) pairs mean the stored table is the
    * encode of this input up to 64-bit multiset-hash collisions — the xor
    * alone was blind to row changes occurring an even number of times
    * (ADVICE r2); the wrapping sum is multiplicity-sensitive. ONE input
    * scan plus a metadata aggregate — catches the scalar-fingerprint blind
    * spot (token values permuted while counts and global min/max hold —
    * ADVICE r1) without hashing every token on every encode or decoding
    * the table to compare.
    */
  private def resumeValuesMatch(
      spark: SparkSession, tableDir: String, p: Snapshot, keyed: DataFrame): Boolean = {
    if (p.manifestDirs.isEmpty) return true // no block done: nothing to confirm
    def sig(df: DataFrame): (Long, java.math.BigInteger) = {
      val r = df.agg(
        expr(s"bit_xor($rowHashSql)").as("x"),
        expr(s"sum(cast($rowHashSql as decimal(38,0)))").as("s")).head()
      (if (r.isNullAt(0)) 0L else r.getLong(0),
        if (r.isNullAt(1)) java.math.BigInteger.ZERO else mod64(r.getDecimal(1)))
    }
    val man = manifestRows(spark, tableDir, p.manifestDirs)
    val stored = {
      val r = man.agg(
        expr("bit_xor(row_xor)").as("x"),
        expr("sum(cast(row_sum as decimal(38,0)))").as("s")).head()
      (if (r.isNullAt(0)) 0L else r.getLong(0),
        if (r.isNullAt(1)) java.math.BigInteger.ZERO else mod64(r.getDecimal(1)))
    }
    val input =
      if (p.complete) sig(keyed)
      else {
        // partial parent: compare only input rows that land in done blocks
        val done = man.select(col("block_id").cast("int").as("block_id")).distinct()
        val ref = loadBoundsRef(spark, tableDir, p)
        sig(keyed
          .withColumn("block_id", ref.bucket(spark, col("_graft_key")))
          .join(done, Seq("block_id"), "left_semi"))
      }
    stored._1 == input._1 && stored._2 == input._2
  }

  // --------------------------------------------------- bounds references

  /** A handle on a snapshot's range bounds that can build the block-id
    * probe column without committing to HOW the bounds reach executors.
    */
  private[table] sealed trait BoundsRef {
    def numBounds: Long
    def bucket(spark: SparkSession, key: org.apache.spark.sql.Column): org.apache.spark.sql.Column
    def sigHex(): String
  }

  /** Flat path: full array on the driver, one broadcast per encode. */
  private[table] final case class SmallBounds(bounds: Array[Long]) extends BoundsRef {
    @transient private var bc: org.apache.spark.broadcast.Broadcast[Array[Long]] = _
    override def numBounds: Long = bounds.length.toLong
    override def bucket(spark: SparkSession, key: org.apache.spark.sql.Column) = {
      if (bc == null) bc = spark.sparkContext.broadcast(bounds)
      graft_range_bucket(key, bc)
    }
    override def sigHex(): String = boundsSig(bounds)
  }

  /** Two-level path: the driver holds one coarse cut per
    * [[graft.expr.BoundsChunks.ChunkSize]] fine bounds; executors stream
    * the fine chunks they touch from `bounds.bin` (VERDICT r2 #8 — breaks
    * the O(numBlocks) driver heap + broadcast floor).
    */
  private[table] final case class ChunkedBoundsRef(
      binPath: String, override val numBounds: Long, coarse: Array[Long],
      sigThunk: () => String) extends BoundsRef {
    override def bucket(spark: SparkSession, key: org.apache.spark.sql.Column) = {
      val coarseBc = spark.sparkContext.broadcast(coarse)
      val confBc = spark.sparkContext.broadcast(
        new graft.expr.SerializableHadoopConf(spark.sparkContext.hadoopConfiguration))
      // file identity (length:mtime) distinguishes a re-created table at
      // the same path in the executor-side chunk cache
      val p = new Path(binPath)
      val st = p.getFileSystem(spark.sparkContext.hadoopConfiguration).getFileStatus(p)
      org.apache.spark.sql.GraftSql.column(graft.expr.RangeBucketChunked(
        org.apache.spark.sql.GraftSql.expression(key),
        coarseBc, binPath, s"${st.getLen}:${st.getModificationTime}", numBounds, confBc))
    }
    override def sigHex(): String = sigThunk()
  }

  /** Distributed bound planning WITHOUT driver materialization: the ranked
    * boundary keys are globally sorted by Spark, then STREAMED through the
    * driver (`toLocalIterator` — O(one partition) heap) into `bounds.bin`
    * while the coarse cuts and content digest accumulate on the fly.
    * Returns None when the sampled key space degenerates to one block.
    */
  private[table] def computeBoundsToFile(
      keyed: DataFrame, rows: Long, targetRows: Int, sampleRows: Long,
      binPath: String): Option[ChunkedBoundsRef] = {
    val spark = keyed.sparkSession
    val sample = boundsSample(keyed, rows, targetRows, sampleRows).getOrElse(return None)
    rankedCuts(sample) { cuts =>
      val boundary = cuts.distinct().orderBy("k")
      val chunkSize = graft.expr.BoundsChunks.ChunkSize
      val md = java.security.MessageDigest.getInstance("SHA-256")
      val digestBuf = java.nio.ByteBuffer.allocate(8)
      val coarse = Array.newBuilder[Long]
      var n = 0L
      var last = 0L
      val out = hfs(spark, binPath).create(new Path(binPath), true)
      try {
        val dout = new java.io.DataOutputStream(new java.io.BufferedOutputStream(out, 1 << 20))
        val it = boundary.toLocalIterator()
        while (it.hasNext) {
          val v = it.next().getLong(0)
          // bounds.bin is little-endian (BoundsChunks reads LE)
          dout.writeLong(java.lang.Long.reverseBytes(v))
          digestBuf.clear(); digestBuf.putLong(v); md.update(digestBuf.array())
          n += 1
          last = v
          if (n % chunkSize == 0) coarse += v
        }
        if (n % chunkSize != 0) coarse += last
        dout.flush()
      } finally out.close()
      if (n == 0) { delete(spark, binPath); None }
      else {
        val sig = md.digest().map("%02x".format(_)).mkString
        Some(ChunkedBoundsRef(binPath, n, coarse.result(), () => sig))
      }
    }.flatten
  }

  /** Resolve a snapshot's bounds to a probe handle: `bounds.bin` present →
    * two-level (driver reads only the coarse cuts — O(numBounds/4096));
    * else the flat parquet array.
    */
  private[table] def loadBoundsRef(
      spark: SparkSession, tableDir: String, snap: Snapshot): BoundsRef =
    snap.boundsDir match {
      case None => SmallBounds(Array.empty)
      case Some(d) =>
        val bin = s"$tableDir/$d/bounds.bin"
        val fs = hfs(spark, bin)
        if (!fs.exists(new Path(bin)))
          SmallBounds(loadBounds(spark, tableDir, snap))
        else {
          val chunkSize = graft.expr.BoundsChunks.ChunkSize
          val n = fs.getFileStatus(new Path(bin)).getLen / 8L
          // stream once, keep every chunkSize-th value — O(coarse) heap
          def scan(withSig: Boolean): (Array[Long], String) = {
            val md = if (withSig) java.security.MessageDigest.getInstance("SHA-256") else null
            val buf = java.nio.ByteBuffer.allocate(8)
            val coarse = Array.newBuilder[Long]
            var i = 0L
            var last = 0L
            val in = new java.io.DataInputStream(
              new java.io.BufferedInputStream(fs.open(new Path(bin)), 1 << 20))
            try {
              while (i < n) {
                val v = java.lang.Long.reverseBytes(in.readLong())
                if (withSig) { buf.clear(); buf.putLong(v); md.update(buf.array()) }
                i += 1
                last = v
                if (i % chunkSize == 0) coarse += v
              }
            } finally in.close()
            if (n % chunkSize != 0) coarse += last
            (coarse.result(), if (withSig) md.digest().map("%02x".format(_)).mkString else null)
          }
          val (coarse, _) = scan(withSig = false)
          ChunkedBoundsRef(bin, n, coarse, () => scan(withSig = true)._2)
        }
    }

  /** Bounds file IO: one bigint column `k`, sorted on load. */
  private[table] def writeBounds(spark: SparkSession, path: String, bounds: Array[Long]): Unit = {
    import spark.implicits._
    spark.createDataset(bounds.toIndexedSeq).toDF("k")
      .write.mode("overwrite").parquet(path)
  }

  private[table] def loadBounds(spark: SparkSession, tableDir: String, snap: Snapshot): Array[Long] =
    snap.boundsDir match {
      case None => Array.empty
      case Some(d) =>
        spark.read.parquet(s"$tableDir/$d").collect().map(_.getLong(0)).sorted
    }

  /** Content signature of a bounds array for snapshot-id derivation —
    * streaming digest, never a materialized mkString (15M bounds would be a
    * ~150 MB string).
    */
  private[table] def boundsSig(bounds: Array[Long]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    val bb = java.nio.ByteBuffer.allocate(8)
    bounds.foreach { b => bb.clear(); bb.putLong(b); md.update(bb.array()) }
    md.digest().map("%02x".format(_)).mkString
  }

  // -------------------------------------------------------------- decode

  /** Encoded block rows of the current snapshot (payloads + block metadata).
    * Blocks are written exactly once under exactly one live data dir, so the
    * scan needs no manifest join.
    */
  def readBlocks(spark: SparkSession, tableDir: String): DataFrame =
    readBlocks(spark, tableDir, current(spark, tableDir))

  def readBlocks(spark: SparkSession, tableDir: String, snap: Snapshot): DataFrame = {
    if (snap.dataDirs.isEmpty) {
      import spark.implicits._
      spark.emptyDataset[BlockRow].toDF()
    } else spark.read.parquet(snap.dataDirs.map(d => s"$tableDir/$d"): _*)
  }

  /** Version number of a `data/vN` / `manifests/vN` relative dir. */
  private[graft] def versionOfDir(dir: String): Int =
    dir.substring(dir.lastIndexOf("/v") + 2).toInt

  /** Snapshot metadata of a specific version, no file validation. */
  private[graft] def snapshotVersion(
      spark: SparkSession, tableDir: String, version: Int): Option[Snapshot] =
    readStringOpt(spark, s"$tableDir/metadata/v$version.json").map(parseSnapshot)

  /** Snapshot as of an older `version` (time travel). Every committed
    * version keeps its metadata/vN.json, so any version is addressable
    * until [[expireSnapshots]] reclaims its files — after which this
    * fails loud rather than returning a partial table.
    */
  def snapshotAt(spark: SparkSession, tableDir: String, version: Int): Snapshot = {
    val s = snapshotVersion(spark, tableDir, version)
      .getOrElse(throw new IllegalArgumentException(
        s"no snapshot v$version at $tableDir"))
    val fs = hfs(spark, tableDir)
    (s.dataDirs ++ s.manifestDirs ++ s.boundsDir.toSeq).foreach { d =>
      if (!fs.exists(new Path(s"$tableDir/$d")))
        throw new IllegalStateException(s"snapshot v$version references " +
          s"$d which expireSnapshots has reclaimed — time travel window closed")
    }
    s
  }

  /** Time-travel decode: the token table exactly as of `version`. */
  def decodeAt(spark: SparkSession, tableDir: String, version: Int): Dataset[TokenRow] =
    decodeSnap(spark, snapshotAt(spark, tableDir, version), tableDir)

  /** Decode the current snapshot back to the input-shaped token table.
    * Bit-identical per row to the encoded source (BASELINE.json:6).
    */
  def decode(spark: SparkSession, tableDir: String): Dataset[TokenRow] =
    decodeSnap(spark, current(spark, tableDir), tableDir)

  private def decodeSnap(
      spark: SparkSession, snap: Snapshot, tableDir: String): Dataset[TokenRow] =
    decodeRows(readBlocks(spark, tableDir, snap))

  /** The token rows of `blocks`, a frame of data-file rows. */
  private def decodeRows(blocks: DataFrame): Dataset[TokenRow] = {
    import blocks.sparkSession.implicits._
    blocks
      .select(explode(arrays_zip(
        graft_decode_str(col("pl_doc_id")).as("doc_id"),
        graft_reslice(graft_decode(col("pl_tokens")), graft_decode(col("pl_n_tok")))
          .as("tokens"),
        graft_decode_str(col("pl_source")).as("source"))).as("r"))
      .select(
        col("r.doc_id").as("doc_id"),
        col("r.tokens").as("tokens"),
        size(col("r.tokens")).as("n_tok"),
        col("r.source").as("source"))
      .as[TokenRow]
  }

  /** Column-pruned decode: reconstruct only `columns` (any subset of
    * doc_id / tokens / n_tok / source, emitted in canonical order). The
    * scan reads ONLY the payload columns those need — a tokens-only
    * training feed skips the string payloads entirely, which at 100 TB is
    * roughly half the read volume (PlanSpec asserts the pruned ReadSchema).
    */
  def decodeSelect(
      spark: SparkSession, tableDir: String, columns: Seq[String]): DataFrame = {
    val valid = Seq("doc_id", "tokens", "n_tok", "source")
    require(columns.nonEmpty && columns.forall(valid.contains),
      s"decodeSelect columns must be among ${valid.mkString(", ")}")
    val want = valid.filter(columns.contains)
    val arrays = Seq.newBuilder[org.apache.spark.sql.Column]
    if (want.contains("doc_id"))
      arrays += graft_decode_str(col("pl_doc_id")).as("doc_id")
    if (want.contains("tokens"))
      arrays += graft_reslice(graft_decode(col("pl_tokens")), graft_decode(col("pl_n_tok")))
        .as("tokens")
    if (want.contains("n_tok") && !want.contains("tokens"))
      arrays += graft_decode(col("pl_n_tok")).as("n_tok")
    if (want.contains("source"))
      arrays += graft_decode_str(col("pl_source")).as("source")
    val exploded = readBlocks(spark, tableDir)
      .select(explode(arrays_zip(arrays.result(): _*)).as("r"))
    val out = want.map {
      case "n_tok" if want.contains("tokens") => size(col("r.tokens")).as("n_tok")
      case c => col(s"r.$c").as(c)
    }
    exploded.select(out: _*)
  }

  /** The schema token blocks are written with. */
  private val BlockRowSchema = org.apache.spark.sql.Encoders.product[BlockRow].schema

  /** Manifest rows derived from WRITTEN block files (codec names, dict
    * hashes, sizes, content signature) — a column-pruned scan, never a
    * re-run of the encode lineage. The files are read with the schema they
    * were written with, so no schema-inference job runs.
    */
  private def manifestOf(spark: SparkSession, dataPath: String): DataFrame =
    spark.read.schema(BlockRowSchema).parquet(dataPath).select(
      col("block_id"), col("ver"), col("row_count"), col("token_count"),
      col("doc_id_min"), col("doc_id_max"),
      col("tok_min"), col("tok_max"), col("plain_bytes"),
      col("row_xor"), col("row_sum"), col("src_list"),
      graft_codec(col("pl_doc_id")).as("codec_doc_id"),
      graft_codec(col("pl_tokens")).as("codec_tokens"),
      graft_codec(col("pl_n_tok")).as("codec_n_tok"),
      graft_codec(col("pl_source")).as("codec_source"),
      octet_length(col("pl_doc_id")).cast("long").as("bytes_doc_id"),
      octet_length(col("pl_tokens")).cast("long").as("bytes_tokens"),
      octet_length(col("pl_n_tok")).cast("long").as("bytes_n_tok"),
      octet_length(col("pl_source")).cast("long").as("bytes_source"),
      (octet_length(col("pl_doc_id")) + octet_length(col("pl_tokens")) +
        octet_length(col("pl_n_tok")) + octet_length(col("pl_source")))
        .cast("long").as("bytes_total"),
      graft_dict_hash(col("pl_tokens")).as("dict_hash_tokens"),
      graft_dict_hash(col("pl_source")).as("dict_hash_source"),
      xxhash64(col("block_id"), col("pl_doc_id"), col("pl_tokens"),
        col("pl_n_tok"), col("pl_source")).as("block_sig"))

  /** Append a new batch of rows as additional blocks (incremental ingest —
    * the foundation of the streaming path). Unlike [[encode]]'s resume
    * semantics (same input, missing blocks), append always adds: the batch
    * gets its own range bounds and its block ids start after the parent's
    * maximum, so existing blocks are never touched and [[decode]] is the
    * union of all live blocks. Lineage chains through parent snapshot ids
    * with a combined fingerprint.
    */
  def append(
      batch: DataFrame,
      tableDir: String,
      opts: Options = Options(),
      extraMeta: Map[String, String] = Map.empty): EncodeResult = {
    val spark = batch.sparkSession
    val parent = currentSnapshot(spark, tableDir)
    if (parent.isEmpty) return encode(batch, tableDir, opts, extraMeta)
    val p = parent.get
    val ver = p.version + 1

    val keyed = keyedOf(batch)
    val stats = Stats.collect(keyed, opts.sampleRows)
    if (stats.rows == 0L) return EncodeResult.of(p, 0L)

    val blockOffset =
      if (p.manifestDirs.isEmpty) 0
      else manifestRows(spark, tableDir, p.manifestDirs)
        .agg(max(col("block_id").cast("int"))).head().getInt(0) + 1
    val (numNew, dataDir) = writeBatchBlocks(keyed, stats, opts, tableDir, ver, blockOffset)
    val combinedFp = Hashing.sha256Hex(s"${p.inputFingerprint}+${stats.fingerprint}")
    val fresh =
      Commit.writeManifest(spark, tableDir, ver, manifestOf(spark, s"$tableDir/$dataDir"))
    val snap = Commit(spark, tableDir, ver, Commit.Totals.of(p).add(ver, fresh)) { tot =>
      val snapshotId = Hashing.sha256Hex(
        s"v$ver;parent=${p.snapshotId};fp=$combinedFp;append=$numNew;" +
          s"rows=${tot.rows};tokens=${tot.tokens};" +
          s"bytes=${tot.bytes};sig=${tot.contentSig}")
      tot.snapshot(ver, snapshotId, Some(p.snapshotId), combinedFp, KeyStrategy,
        None, p.numBlocks + numNew, complete = true, p.dataDirs :+ dataDir,
        stats.asJsonFields ++ (carriedMeta(Some(p)) ++ extraMeta).toSeq)
    }
    EncodeResult.of(snap, numNew.toLong)
  }

  /** Incremental compaction (Iceberg OPTIMIZE analogue, rewrite-only-what-
    * fragmented): versions whose average block row count is below
    * `fillFactor × targetRowsPerBlock` are decoded (block-pruned scan of
    * just those versions) and re-encoded as ONE merged version; full
    * versions' data files are NOT read, rewritten, or touched — at 10^12
    * rows a whole-table rewrite for a few straggler append batches would
    * be absurd (VERDICT r2). The new snapshot references untouched dirs +
    * the merged dir; stale dirs are reclaimed by [[expireSnapshots]]. An
    * un-fragmented table (or one with a single already-merged fragment)
    * no-ops. `fillFactor = 1.0` approximates the old rewrite-everything
    * behaviour for tables whose blocks all run below target.
    */
  def compact(
      spark: SparkSession,
      tableDir: String,
      opts: Options = Options(),
      fillFactor: Double = 0.5): EncodeResult = {
    val p = current(spark, tableDir)
    def noop = EncodeResult.of(p, 0L)
    if (p.dataDirs.isEmpty) return noop

    // per version: average fill and the Sums a rewrite drops
    val man = manifestRows(spark, tableDir, p.manifestDirs)
    val perVer = man.groupBy(col("ver").cast("int").as("ver"))
      .agg(avg(col("row_count")).as("avg_rows"), Commit.Sums.aggs(man): _*)
      .collect()
    val frag = perVer
      .filter(_.getDouble(1) < fillFactor * opts.targetRowsPerBlock)
      .map(_.getInt(0)).toSet
    val dropped = perVer.filter(r => frag(r.getInt(0)))
      .map(Commit.Sums.at(_, 2)).foldLeft(Commit.Sums.Zero)(_ + _)
    // nothing to merge: no fragment, or one fragment that is one block
    if (frag.isEmpty || (frag.size == 1 && dropped.blocks <= 1)) return noop

    def verOf(dir: String): Int = versionOfDir(dir)
    val keepData = p.dataDirs.filterNot(d => frag(verOf(d)))

    // decode ONLY the fragmented versions: data dir vN holds exactly the
    // blocks with ver = N
    val rows = decodeRows(readBlocks(spark, tableDir,
      p.copy(dataDirs = p.dataDirs.filter(d => frag(verOf(d)))))).toDF()

    val ver = p.version + 1
    val keyed = keyedOf(rows)
    val stats = Stats.collect(keyed, opts.sampleRows)
    // merged blocks get ids after every existing one (incl. the dropped
    // fragments' — uniqueness matters, compactness doesn't)
    val blockOffset =
      man.agg(max(col("block_id").cast("int"))).head().getInt(0) + 1
    val (numNew, dataDir) = writeBatchBlocks(keyed, stats, opts, tableDir, ver, blockOffset)
    val combinedFp = Hashing.sha256Hex(s"${p.inputFingerprint};compact=v$ver")
    val fresh =
      Commit.writeManifest(spark, tableDir, ver, manifestOf(spark, s"$tableDir/$dataDir"))
    val snap = Commit(spark, tableDir, ver,
        Commit.Totals.of(p).drop(frag, dropped).add(ver, fresh)) { tot =>
      val snapshotId = Hashing.sha256Hex(
        s"v$ver;parent=${p.snapshotId};fp=$combinedFp;" +
          s"compacted=${frag.toSeq.sorted.mkString(",")};" +
          s"rows=${tot.rows};tokens=${tot.tokens};" +
          s"bytes=${tot.bytes};sig=${tot.contentSig}")
      tot.snapshot(ver, snapshotId, Some(p.snapshotId), combinedFp, KeyStrategy,
        None, tot.blocks.toInt, complete = true, keepData :+ dataDir,
        stats.asJsonFields ++ carriedMeta(Some(p)).toSeq)
    }
    EncodeResult.of(snap, numNew.toLong)
  }

  /** Delete data/manifest/bounds dirs not referenced by the CURRENT
    * snapshot (crash orphans, pre-compaction versions). Metadata JSONs are
    * kept — they are the lineage audit trail (their data/bounds references
    * dangle after GC, as in Iceberg after expire_snapshots). Bounds files
    * are data-sized (8 B per block boundary — ~120 MB at 15M blocks), so
    * stale ones are reclaimed, not archived. Returns the deleted paths.
    */
  def expireSnapshots(spark: SparkSession, tableDir: String): Seq[String] = {
    val snap = currentSnapshot(spark, tableDir).getOrElse(return Nil)
    val live = (snap.dataDirs ++ snap.manifestDirs).toSet ++ snap.boundsDir.toSet
    val fs = hfs(spark, tableDir)
    val deleted = Seq.newBuilder[String]
    Seq("data", "manifests", "metadata/bounds").foreach { kind =>
      val root = new Path(s"$tableDir/$kind")
      if (fs.exists(root)) {
        fs.listStatus(root).foreach { st =>
          val rel = s"$kind/${st.getPath.getName}"
          if (!live.contains(rel)) {
            fs.delete(st.getPath, true)
            deleted += rel
          }
        }
      }
    }
    deleted.result()
  }

  /** Catalog registration (the ebenezer Hive-metastore analogue, SURVEY.md
    * R7/R8): exposes the encoded table to `spark.sql` as three views —
    * `<name>_blocks` (encoded payloads), `<name>_manifest` (codec/lineage
    * metadata), `<name>` (the decoded, input-shaped token table).
    */
  def registerViews(spark: SparkSession, tableDir: String, name: String = "graft"): Unit = {
    readBlocks(spark, tableDir).createOrReplaceTempView(s"${name}_blocks")
    readManifest(spark, tableDir).createOrReplaceTempView(s"${name}_manifest")
    // the decoded view routes through the DSv2 connector (both lanes), so
    // SQL over the view keeps block pruning, key-range interval pushdown,
    // column projection, and metadata COUNT(*) — a view over the eager
    // decode DataFrame would full-decode then filter
    spark.read.format("graft").load(tableDir).createOrReplaceTempView(name)
  }

  /** Introspection (SURVEY.md R9/E3): one row per (column, codec) with
    * block counts and byte totals, plus snapshot-level rollups — the
    * "what did the selector decide and what did it cost" view.
    */
  def describe(spark: SparkSession, tableDir: String): DataFrame = {
    val man = readManifest(spark, tableDir)
    Seq("doc_id", "tokens", "n_tok", "source").map { c =>
      man.groupBy(col(s"codec_$c").as("codec"))
        .agg(
          count(lit(1)).as("blocks"),
          sum(col(s"bytes_$c")).as("bytes"))
        .select(lit(c).as("column"), col("codec"), col("blocks"), col("bytes"))
    }.reduce(_ unionAll _)
  }

  /** Generic-Parquet introspection (the ebenezer R9 "read any Parquet into
    * a Record tree" analogue): schema + per-column stats for an ARBITRARY
    * parquet path, not just graft tables. One distributed agg pass.
    */
  def describeAny(spark: SparkSession, path: String): DataFrame =
    describeAny(spark.read.parquet(path))

  /** Per-column (name, dtype, non-null count, nulls, min, max) of any
    * DataFrame. min/max are rendered as strings only for engine-portable
    * orderable types (integral, string, boolean, date) — float/decimal/
    * timestamp formatting differs across engines, so they report null.
    */
  def describeAny(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.types._
    val spark = df.sparkSession
    val fields = df.schema.fields
    def portable(dt: DataType): Boolean = dt match {
      case ByteType | ShortType | IntegerType | LongType | StringType |
           BooleanType | DateType => true
      case _ => false
    }
    val aggs = fields.flatMap { f =>
      // backquoted: a bare col("a.b") would resolve as nested-field access
      // for column names containing dots (ADVICE r2)
      val c = col(s"`${f.name}`")
      Seq(
        count(c).as(s"__cnt_${f.name}"),
        coalesce(sum(when(c.isNull, 1L).otherwise(0L)), lit(0L)).as(s"__nulls_${f.name}")) ++
        (if (portable(f.dataType))
          Seq(min(c).cast("string").as(s"__min_${f.name}"),
            max(c).cast("string").as(s"__max_${f.name}"))
        else
          Seq(lit(null).cast("string").as(s"__min_${f.name}"),
            lit(null).cast("string").as(s"__max_${f.name}")))
    }.toIndexedSeq
    val r = df.agg(aggs.head, aggs.tail: _*).head()
    val rows = fields.map { f =>
      (f.name, f.dataType.catalogString,
        r.getAs[Long](s"__cnt_${f.name}"),
        r.getAs[Long](s"__nulls_${f.name}"),
        r.getAs[String](s"__min_${f.name}"),
        r.getAs[String](s"__max_${f.name}"))
    }.sortBy(_._1).toIndexedSeq
    import spark.implicits._
    rows.toDF("column", "dtype", "cnt", "nulls", "min_str", "max_str")
  }

  /** Decode only the rows whose numeric doc_id falls in [minId, maxId]:
    * block-level pruning via the snapshot's range bounds (metadata-only —
    * the same summary-stats partition elimination Iceberg manifests give),
    * then an exact row filter on the decoded slice. At 10^12 rows this
    * reads ceil(span/blockSpan) blocks instead of the table.
    */
  def decodeRange(
      spark: SparkSession, tableDir: String, minId: Long, maxId: Long): Dataset[TokenRow] = {
    // live blocks whose [doc_id_min, doc_id_max] intersects [minId, maxId]
    // — works for both ranged encodes and appended versions; the id set is
    // applied as a semi join so it never collects to the driver. A block
    // whose min/max doc_id is NON-numeric casts to NULL — such blocks can
    // still contain in-range numeric ids (hash-key fallback interleaves
    // them), so NULL bounds are NON-prunable (coalesce → keep) and the
    // exact row filter below decides.
    val snap = current(spark, tableDir)
    val hit = manifestRows(spark, tableDir, snap.manifestDirs)
      .where(coalesce(expr("try_cast(doc_id_max as bigint)") >= minId, lit(true)) &&
        coalesce(expr("try_cast(doc_id_min as bigint)") <= maxId, lit(true)))
      .select(col("ver").cast("int").as("ver"),
        col("block_id").cast("int").as("block_id"))
    decodeBlocks(spark, tableDir, snap, hit)
      .where(expr("try_cast(doc_id as bigint)").between(minId, maxId))
  }

  /** Decode only the rows whose `source` is one of `sources`: block-level
    * pruning via the manifest's per-block distinct-source zone map
    * (`src_list`, recorded during assembly), then an exact row filter on
    * the decoded slice. Sources are low-cardinality provenance labels and
    * range partitioning is on doc_id, so a single source typically touches
    * a minority of blocks only when ingestion batches correlate with
    * source — exactly the case zone maps exist for. Blocks whose list
    * overflowed the cap carry null and are kept (never wrongly pruned).
    */
  def decodeWhere(
      spark: SparkSession, tableDir: String, sources: Seq[String]): Dataset[TokenRow] = {
    require(sources.nonEmpty, "decodeWhere needs at least one source value")
    val snap = current(spark, tableDir)
    val hit = manifestRows(spark, tableDir, snap.manifestDirs).where(holdsSources(sources))
      .select(col("ver").cast("int").as("ver"),
        col("block_id").cast("int").as("block_id"))
    decodeBlocks(spark, tableDir, snap, hit)
      .where(col("source").isin(sources.map(s => s: Any): _*))
  }

  /** Manifest rows whose block may hold one of `sources` (a null
    * `src_list` overflowed its cap and is kept).
    */
  private def holdsSources(sources: Seq[String]): Column =
    col("src_list").isNull || arrays_overlap(col("src_list"), array(sources.map(lit): _*))

  /** Block ids [[decodeWhere]] would read — PlanSpec asserts pruning. */
  private[table] def blocksForSources(
      spark: SparkSession, tableDir: String, sources: Seq[String]): Long =
    manifestRows(spark, tableDir, current(spark, tableDir).manifestDirs)
      .where(holdsSources(sources)).count()

  /** The token rows of `snap`'s blocks listed in `liveBlocks` (ver, block_id),
    * a selection from the same snapshot's manifest.
    */
  private def decodeBlocks(
      spark: SparkSession, tableDir: String, snap: Snapshot,
      liveBlocks: DataFrame): Dataset[TokenRow] =
    decodeRows(readBlocks(spark, tableDir, snap)
      .join(broadcast(liveBlocks), Seq("ver", "block_id"), "left_semi"))

  /** The current snapshot's manifest with every field its JSON holds (the
    * schema is inferred): the user-facing view behind [[describe]], the
    * `<name>_manifest` view and SQL.
    */
  def readManifest(spark: SparkSession, tableDir: String): DataFrame =
    spark.read.json(current(spark, tableDir).manifestDirs.map(d => s"$tableDir/$d"): _*)

  /** The manifest fields engine-internal reads use, of both lanes, in the
    * order schema inference gives them; a field a lane does not write
    * reads null (generic manifests have no `token_count`, token manifests
    * no `key_min`).
    */
  private val ManifestFields = StructType(Seq(
    StructField("block_id", LongType),
    StructField("block_sig", LongType),
    StructField("bytes_total", LongType),
    StructField("doc_id_max", StringType),
    StructField("doc_id_min", StringType),
    StructField("key_max", LongType),
    StructField("key_min", LongType),
    StructField("plain_bytes", LongType),
    StructField("row_count", LongType),
    StructField("row_sum", LongType),
    StructField("row_xor", LongType),
    StructField("src_list", ArrayType(StringType)),
    StructField("token_count", LongType),
    StructField("ver", LongType)))

  /** Manifest rows of `manifestDirs` under [[ManifestFields]]: the pinned
    * schema skips the JSON schema-inference job an inferred read runs.
    */
  private[graft] def manifestRows(
      spark: SparkSession, tableDir: String, manifestDirs: Seq[String]): DataFrame =
    spark.read.schema(ManifestFields).json(manifestDirs.map(d => s"$tableDir/$d"): _*)

  // ------------------------------------------------------------ metadata

  def currentSnapshot(spark: SparkSession, tableDir: String): Option[Snapshot] =
    readStringOpt(spark, s"$tableDir/metadata/current").map { v =>
      parseSnapshot(readStringOpt(spark, s"$tableDir/metadata/v${v.trim}.json")
        .getOrElse(throw new IllegalStateException(
          s"dangling current pointer v$v at $tableDir")))
    }

  /** The current snapshot; fails when the table has none. */
  private[table] def current(spark: SparkSession, tableDir: String): Snapshot =
    currentSnapshot(spark, tableDir).getOrElse(
      throw new IllegalStateException(s"no committed snapshot at $tableDir"))

  /** Full lineage chain, newest first (resume audit trail). */
  def lineage(spark: SparkSession, tableDir: String): Seq[Snapshot] = {
    val cur = currentSnapshot(spark, tableDir)
    Iterator.iterate(cur) {
      case Some(s) if s.version > 1 =>
        readStringOpt(spark, s"$tableDir/metadata/v${s.version - 1}.json")
          .map(parseSnapshot)
      case _ => None
    }.takeWhile(_.nonEmpty).flatten.toSeq
  }

  private[table] def renderSnapshot(s: Snapshot): String = {
    def js(v: String) = "\"" + v.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
    val statsJson = s.stats.map { case (k, v) => s"${js(k)}: ${js(v)}" }
      .mkString("{", ", ", "}")
    s"""{
       |  "format": "graft-table/3",
       |  "version": ${s.version},
       |  "snapshot_id": ${js(s.snapshotId)},
       |  "parent_id": ${s.parentId.map(js).getOrElse("null")},
       |  "input_fingerprint": ${js(s.inputFingerprint)},
       |  "key_strategy": ${js(s.keyStrategy)},
       |  "bounds_dir": ${s.boundsDir.map(js).getOrElse("null")},
       |  "num_blocks": ${s.numBlocks},
       |  "blocks_encoded": ${s.blocksEncoded},
       |  "complete": ${s.complete},
       |  "row_count": ${s.rowCount},
       |  "token_count": ${s.tokenCount},
       |  "bytes_total": ${s.bytesTotal},
       |  "plain_bytes": ${s.plainBytes},
       |  "content_sig": ${js(s.contentSig)},
       |  "data_dirs": [${s.dataDirs.map(js).mkString(", ")}],
       |  "manifest_dirs": [${s.manifestDirs.map(js).mkString(", ")}],
       |  "column_stats": $statsJson,
       |  "committed_at": ${js(s.committedAt)}
       |}""".stripMargin
  }

  private def parseSnapshot(text: String): Snapshot = {
    implicit val fmts: Formats = DefaultFormats
    val j = JsonMethods.parse(text)
    Snapshot(
      version = (j \ "version").extract[Int],
      snapshotId = (j \ "snapshot_id").extract[String],
      parentId = (j \ "parent_id").extractOpt[String],
      inputFingerprint = (j \ "input_fingerprint").extract[String],
      keyStrategy = (j \ "key_strategy").extract[String],
      boundsDir = (j \ "bounds_dir").extractOpt[String],
      numBlocks = (j \ "num_blocks").extract[Int],
      blocksEncoded = (j \ "blocks_encoded").extract[Long],
      complete = (j \ "complete").extract[Boolean],
      rowCount = (j \ "row_count").extract[Long],
      tokenCount = (j \ "token_count").extract[Long],
      bytesTotal = (j \ "bytes_total").extract[Long],
      plainBytes = (j \ "plain_bytes").extract[Long],
      contentSig = (j \ "content_sig").extract[String],
      dataDirs = (j \ "data_dirs").extract[Seq[String]],
      manifestDirs = (j \ "manifest_dirs").extract[Seq[String]],
      stats = (j \ "column_stats").extract[Map[String, String]].toSeq.sorted,
      committedAt = (j \ "committed_at").extract[String])
  }

  // ------------------------------------------------ Hadoop FS metadata IO

  private def hfs(spark: SparkSession, path: String) =
    new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Atomic snapshot-pointer commit: write `metadata/current.tmp`, then
    * RENAME over `metadata/current` (atomic on HDFS and POSIX local fs).
    * A plain create-overwrite truncates in place, so a concurrent reader
    * could observe an empty/partial pointer mid-commit; rename gives
    * readers either the old version or the new one, never neither —
    * the snapshot-isolation contract the rest of the metadata tree
    * assumes (data/manifest dirs are immutable once the pointer moves).
    */
  private[table] def commitPointer(spark: SparkSession, tableDir: String, ver: Int): Unit =
    writeStringAtomic(spark, s"$tableDir/metadata/current", ver.toString)

  /** Tmp-then-rename write: concurrent readers observe either the previous
    * content or the new one, never an empty/partial file. Used for every
    * mutable metadata file (snapshot pointer, catalog).
    */
  private[table] def writeStringAtomic(
      spark: SparkSession, path: String, content: String): Unit = {
    val tmp = s"$path.tmp"
    writeString(spark, tmp, content)
    val fc = org.apache.hadoop.fs.FileContext.getFileContext(
      new Path(path).toUri, spark.sparkContext.hadoopConfiguration)
    fc.rename(new Path(tmp), new Path(path),
      org.apache.hadoop.fs.Options.Rename.OVERWRITE)
    ()
  }

  private[table] def writeString(spark: SparkSession, path: String, content: String): Unit = {
    val p = new Path(path)
    val out = hfs(spark, path).create(p, true)
    try out.write(content.getBytes(StandardCharsets.UTF_8))
    finally out.close()
  }

  private[table] def readStringOpt(spark: SparkSession, path: String): Option[String] = {
    val p = new Path(path)
    val fs = hfs(spark, path)
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      try {
        val bytes = new java.io.ByteArrayOutputStream()
        val buf = new Array[Byte](8192)
        var n = in.read(buf)
        while (n >= 0) { bytes.write(buf, 0, n); n = in.read(buf) }
        Some(new String(bytes.toByteArray, StandardCharsets.UTF_8))
      } finally in.close()
    }
  }

  private[table] def delete(spark: SparkSession, path: String): Unit = {
    val p = new Path(path)
    val fs = hfs(spark, path)
    if (fs.exists(p)) { fs.delete(p, true); () }
  }
}
