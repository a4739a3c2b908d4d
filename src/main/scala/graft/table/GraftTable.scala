package graft.table

import java.nio.charset.StandardCharsets

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, LongType, StringType, StructField, StructType}
import org.json4s._
import org.json4s.jackson.JsonMethods

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
  *                                and `versions`: per live version its sums, key span
  *                                and largest block id (VersionSummary)
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
  *   - snapshot totals/content-signature are the fold of per-version
  *     summaries, each observed on its version's manifest write
  *     ([[Commit]]; the signature is a commutative `bit_xor` of block
  *     hashes), so the driver holds one summary per live version whatever
  *     the block count;
  *   - resume = anti-join of planned blocks against the parent manifest:
  *     only missing blocks shuffle and encode (E5). Bounds, resume, block
  *     filter and batch blocks are [[BlockWrite]]'s, shared with
  *     [[GenericTable]].
  */
object GraftTable {

  final case class Options(
      targetRowsPerBlock: Int = 1 << 16,
      /** Key budget of the range-bounds sample, and the cell count up to
        * which the block write caches its keyed input. The column stats
        * read every token whatever its value.
        */
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
      committedAt: String,
      /** One summary per live version, in `manifestDirs` order; None in a
        * snapshot written before snapshots recorded them — read them
        * through [[VersionSummary.of]].
        */
      versions: Option[Seq[VersionSummary]])

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
  private[graft] def keyedOf(tokens: DataFrame): DataFrame = tokens.select(
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

    val stats = timed("stats")(Stats.collect(keyed))
    val cur = currentSnapshot(spark, tableDir)
    val parent = cur
      .filter(_.inputFingerprint == stats.fingerprint) // fp change => fresh encode
      .filter(p => timed("resume-confirm")(resumeValuesMatch(spark, tableDir, p, keyed)))
    val fp = stats.fingerprint
    // the id preimage names the resume parent; `parent_id` records `cur`
    val resumedFrom = parent.map(_.snapshotId).getOrElse("none")
    // stream_* metadata (e.g. the exactly-once batchId watermark) carries
    // forward into child snapshots unless the caller overrides it —
    // otherwise an interleaved compact()/manual encode would drop the key
    // and a replayed streaming batch would re-append (ADVICE r2)
    val fields = stats.asJsonFields ++ (carriedMeta(cur) ++ extraMeta).toSeq
    BlockWrite.encode(keyed, tableDir, opts, stats.rows,
      math.max(stats.tokensTotal, stats.rows), cur, parent, formatOf(spark, stats),
      BlockWrite.Identity(fp, KeyStrategy, fields,
        emptyId = ver => Hashing.sha256Hex(s"v$ver;parent=none;fp=$fp;empty"),
        writtenId = (ver, bounds, tot) => Hashing.sha256Hex(
          s"v$ver;parent=$resumedFrom;fp=$fp;bounds=${bounds.sigHex()};" +
            s"blocks=${tot.blocks}/${bounds.numBlocks};rows=${tot.rows};" +
            s"tokens=${tot.tokens};bytes=${tot.bytes};sig=${tot.contentSig}")))
  }

  /** The token lane's block format: [[blocksOf]] assembly and the
    * [[manifestOf]] manifest.
    */
  private def formatOf(spark: SparkSession, stats: ColumnStats): BlockWrite.Format =
    BlockWrite.Format(blocksOf(_, _, _, stats), manifestOf(spark, _))

  /** Block assembly for `withBlocks` (keyed rows plus `block_id`): ONE
    * shuffle (explicit repartition on block_id — the fixed partition count
    * is immune to AQE's bytes-based coalescing, which would serialize this
    * CPU-bound stage) + sortWithinPartitions (Tungsten external sort,
    * spill-safe) + a streaming per-partition grouper that holds exactly ONE
    * block in memory while encoding: the block rows of version `ver`.
    *
    * A declarative groupBy + array_sort(collect_list(...)) is the obvious
    * alternative, but collect_list's map-side partial aggregation buffers
    * entire shuffle partitions in the agg hash map (no size reduction —
    * measured 3–13× slower with erratic spill behavior at a few hundred
    * MB). mapPartitions over the sorted stream is the memory-bounded
    * typed-Dataset form of the same plan.
    */
  private def blocksOf(
      withBlocks: DataFrame,
      ver: Int,
      numBlocks: Int,
      stats: ColumnStats): DataFrame = {
    val spark = withBlocks.sparkSession
    import spark.implicits._
    val parallelism = spark.sparkContext.defaultParallelism
    val encodeParts = BlockWrite.encodePartitions(numBlocks, parallelism, stats.tokensTotal)
    // tokens are FOR-packed on the MAP side: they dominate the one data
    // shuffle, and ~5-bit ids packed cut MEASURED shuffle-write bytes
    // 3.8× even after lz4 (828 MB → 217 MB for 270M tokens; perfbench
    // traces it as `table.encode.shuffle_write_mb`), plus the serialization CPU
    // (shuffle+sort 3.7 s → 3.2 s at local[8]). On a real cluster those
    // bytes cross the network. BlockAssembler unpacks after the exchange;
    // table bytes are unchanged (packing is per-row and lossless).
    withBlocks
      .select(col("block_id"), col("_graft_key").as("k"), col("doc_id"),
        graft_encode(col("tokens"), "for").as("tokens"),
        col("n_tok"), col("source"))
      .repartition(encodeParts, col("block_id"))
      .sortWithinPartitions(col("block_id"), col("k"), col("doc_id"))
      .as[BlockInput]
      .mapPartitions(it =>
        BlockAssembler.assemble(it, ver, stats.allowDict, stats.allowFsst))
      .toDF()
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
        val ref = BlockWrite.loadBoundsRef(spark, tableDir, p)
        sig(keyed
          .withColumn("block_id", ref.bucket(spark, col("_graft_key")))
          .join(BlockWrite.doneBlocks(spark, tableDir, p), Seq("block_id"), "left_semi"))
      }
    stored._1 == input._1 && stored._2 == input._2
  }

  // -------------------------------------------------------------- decode

  /** Encoded block rows of the current snapshot (payloads + block metadata).
    * Blocks are written exactly once under exactly one live data dir, so the
    * scan needs no manifest join.
    */
  def readBlocks(spark: SparkSession, tableDir: String): DataFrame = {
    val snap = current(spark, tableDir)
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

  /** Rows of `snap` through its lane's connector scan, the lane's one
    * decoder. Token rows come from the token scan; in the generic scan each
    * version decodes under its own write schema, projected onto `snap`'s
    * live schema (fields a version predates read null, as in
    * Parquet/Iceberg schema evolution). `snap` is a committed snapshot or a
    * copy of one limited to some of its data dirs; `range` pins a key
    * interval on the scan (a numeric doc_id interval on a token table),
    * which prunes blocks by their zone maps and generic versions by their
    * recorded key spans. Filters and projections on the frame reach the
    * scan: token `source` equality/IN prunes blocks by their src_list, and
    * a projection reads only the payload columns it needs.
    */
  private[table] def scanOf(
      spark: SparkSession,
      tableDir: String,
      snap: Snapshot,
      range: Option[(Long, Long)] = None): DataFrame =
    org.apache.spark.sql.GraftSql.tableFrame(spark,
      new graft.sources.GraftSparkTable(tableDir, null, Some(snap), range))

  private def tokenRows(df: DataFrame): Dataset[TokenRow] = {
    import df.sparkSession.implicits._
    df.as[TokenRow]
  }

  /** Time-travel decode: the token table exactly as of `version`. */
  def decodeAt(spark: SparkSession, tableDir: String, version: Int): Dataset[TokenRow] =
    tokenRows(scanOf(spark, tableDir, snapshotAt(spark, tableDir, version)))

  /** Decode the current snapshot back to the input-shaped token table.
    * Bit-identical per row to the encoded source (BASELINE.json:6).
    */
  def decode(spark: SparkSession, tableDir: String): Dataset[TokenRow] =
    tokenRows(scanOf(spark, tableDir, current(spark, tableDir)))

  /** Column-pruned decode: reconstruct only `columns` (any subset of
    * doc_id / tokens / n_tok / source, emitted in canonical order). The
    * scan reads ONLY the payload columns those need — a tokens-only
    * training feed skips the string payloads entirely, which at 100 TB is
    * roughly half the read volume (PlanSpec asserts the scan's columns).
    */
  def decodeSelect(
      spark: SparkSession, tableDir: String, columns: Seq[String]): DataFrame = {
    val valid = Seq("doc_id", "tokens", "n_tok", "source")
    require(columns.nonEmpty && columns.forall(valid.contains),
      s"decodeSelect columns must be among ${valid.mkString(", ")}")
    scanOf(spark, tableDir, current(spark, tableDir))
      .select(valid.filter(columns.contains).map(col): _*)
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
    val stats = Stats.collect(keyed)
    if (stats.rows == 0L) return EncodeResult.of(p, 0L)

    val live = Commit.Totals.of(spark, tableDir, p)
    val (bounds, dataDir, fresh) = BlockWrite.writeBatch(keyed, stats.rows, tableDir, ver,
      live.nextBlockId, opts, formatOf(spark, stats))
    val numNew = bounds.numBlocks
    val combinedFp = Hashing.sha256Hex(s"${p.inputFingerprint}+${stats.fingerprint}")
    val snap = Commit(spark, tableDir, ver, live.add(fresh)) { tot =>
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

    val live = Commit.Totals.of(spark, tableDir, p)
    val frag = live.fragments(fillFactor * opts.targetRowsPerBlock)
    if (frag.isEmpty) return noop
    val (fragData, keepData) = p.dataDirs.partition(d => frag(versionOfDir(d)))

    // decode ONLY the fragmented versions: data dir vN holds exactly the
    // blocks with ver = N
    val rows = scanOf(spark, tableDir, p.copy(dataDirs = fragData))

    val ver = p.version + 1
    val keyed = keyedOf(rows)
    val stats = Stats.collect(keyed)
    // merged blocks get ids after every existing one (incl. the dropped
    // fragments' — uniqueness matters, compactness doesn't)
    val (bounds, dataDir, fresh) = BlockWrite.writeBatch(keyed, stats.rows, tableDir, ver,
      live.nextBlockId, opts, formatOf(spark, stats))
    val combinedFp = Hashing.sha256Hex(s"${p.inputFingerprint};compact=v$ver")
    val snap = Commit(spark, tableDir, ver,
        live.drop(frag).add(fresh)) { tot =>
      val snapshotId = Hashing.sha256Hex(
        s"v$ver;parent=${p.snapshotId};fp=$combinedFp;" +
          s"compacted=${frag.toSeq.sorted.mkString(",")};" +
          s"rows=${tot.rows};tokens=${tot.tokens};" +
          s"bytes=${tot.bytes};sig=${tot.contentSig}")
      tot.snapshot(ver, snapshotId, Some(p.snapshotId), combinedFp, KeyStrategy,
        None, tot.blocks.toInt, complete = true, keepData :+ dataDir,
        stats.asJsonFields ++ carriedMeta(Some(p)).toSeq)
    }
    EncodeResult.of(snap, bounds.numBlocks.toLong)
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
    // the decoded view reads the connector unpinned (both lanes), so SQL
    // over the view keeps block pruning, key-range interval pushdown and
    // column projection, and also answers COUNT(*) from the current
    // snapshot's totals, which a view over decode()'s pinned scan would not
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
    * block-level pruning via the manifest's doc_id zone maps (the same
    * summary-stats partition elimination Iceberg manifests give), then an
    * exact row filter on the decoded slice. At 10^12 rows this reads
    * ceil(span/blockSpan) blocks instead of the table. A block whose first
    * or last doc_id is not a number can still hold in-range numeric ids
    * (hash keys interleave them), so the scan keeps it and the row filter
    * decides.
    */
  def decodeRange(
      spark: SparkSession, tableDir: String, minId: Long, maxId: Long): Dataset[TokenRow] =
    tokenRows(scanOf(spark, tableDir, current(spark, tableDir), Some((minId, maxId)))
      .where(expr("try_cast(doc_id as bigint)").between(minId, maxId)))

  /** Decode only the rows whose `source` is one of `sources`: the filter
    * reaches the scan, which prunes blocks by the manifest's per-block
    * distinct-source zone map (`src_list`, recorded during assembly), and
    * stays as the exact row filter. Sources are low-cardinality provenance
    * labels and range partitioning is on doc_id, so a single source
    * typically touches a minority of blocks only when ingestion batches
    * correlate with source — exactly the case zone maps exist for. Blocks
    * whose list overflowed the cap carry null and are kept (never wrongly
    * pruned).
    */
  def decodeWhere(
      spark: SparkSession, tableDir: String, sources: Seq[String]): Dataset[TokenRow] = {
    require(sources.nonEmpty, "decodeWhere needs at least one source value")
    tokenRows(scanOf(spark, tableDir, current(spark, tableDir))
      .where(col("source").isin(sources.map(s => s: Any): _*)))
  }

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
       |  "committed_at": ${js(s.committedAt)}${versionsJson(s)}
       |}""".stripMargin
  }

  /** The `versions` field, one array of [[VersionSummary.fields]] per live
    * version; nothing for a snapshot that records none.
    */
  private def versionsJson(s: Snapshot): String = s.versions.fold("") { vs =>
    vs.map(_.fields.mkString("[", ",", "]")).mkString(",\n  \"versions\": [", ",", "]")
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
      committedAt = (j \ "committed_at").extract[String],
      versions = (j \ "versions") match {
        case JArray(vs) => Some(vs.map(v => VersionSummary.ofFields(v.extract[Seq[Long]])))
        case _ => None
      })
  }

  // ------------------------------------------------ Hadoop FS metadata IO

  private[table] def hfs(spark: SparkSession, path: String) =
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
