package graft.table

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** Distributed bound planning (VERDICT r1 item 1): rank computation without
  * a single-partition window, bounds persisted as a file (not snapshot
  * JSON), and an encode at ≥100k blocks that would have been a single-task
  * sort catastrophe under the round-1 design.
  */
class BoundsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def tmpDir(tag: String): String =
    Files.createTempDirectory(s"graft-$tag").toString

  test("Ranks.withRank equals a global sort rank (distinct keys)") {
    val df = (0 until 5000).map(i => (i * 2654435761L) % 100003L)
      .distinct.toDF("k")
    val (ranked, total, release) = Ranks.withRank(df, col("k"), "rn", 8)
    try {
      val got = ranked.select("k", "rn").collect()
        .map(r => r.getLong(0) -> r.getLong(1)).sortBy(_._2)
      assert(total == got.length)
      // rank i holds the i-th smallest key, ranks are dense 1..n
      val sortedKeys: Array[Long] = got.map(_._1).sorted
      val denseRanks: Array[Long] = (1L to total).toArray
      assert(got.map(_._2).sameElements(denseRanks))
      assert(got.map(_._1).sameElements(sortedKeys))
    } finally release()
  }

  test("Ranks.withRank: key-at-rank is stable under duplicate keys") {
    val dupes = (0 until 3000).map(i => (i % 7).toLong).toDF("k")
    val (ranked, total, release) = Ranks.withRank(dupes, col("k"), "rn", 8)
    try {
      assert(total == 3000)
      val byRank = ranked.select("rn", "k").collect()
        .map(r => r.getLong(0) -> r.getLong(1)).sortBy(_._1).map(_._2)
      // multiset sorted order: rank r must hold the r-th element of the
      // sorted multiset regardless of tie order / layout
      val expected = (0 until 3000).map(i => (i % 7).toLong).sorted.toArray
      assert(byRank.sameElements(expected))
    } finally release()
  }

  test("Ranks property: key-at-rank equals the sorted multiset (random inputs)") {
    val rnd = new scala.util.Random(1234)
    (0 until 3).foreach { trial =>
      val n = 500 + rnd.nextInt(2000)
      val dupFactor = 1 + rnd.nextInt(9)
      val data = Array.fill(n)(rnd.nextLong() % (n / dupFactor + 1))
      val (ranked, total, release) = Ranks.withRank(
        data.toIndexedSeq.toDF("k"), col("k"), "rn", 1 + rnd.nextInt(15))
      try {
        assert(total == n.toLong)
        val byRank = ranked.select("rn", "k").collect()
          .map(r => r.getLong(0) -> r.getLong(1)).sortBy(_._1)
        assert(byRank.map(_._1).sameElements((1L to n).toArray[Long]), s"trial $trial: ranks not dense")
        assert(byRank.map(_._2).sameElements(data.sorted), s"trial $trial: key-at-rank mismatch")
      } finally release()
    }
  }

  test("computeBounds small-sample driver path equals the distributed path") {
    // the driver-side sort fast path must pick byte-identical cut points
    // (same sample set, same rank rule) — blocking determines every block
    // payload, so any divergence would break table-byte determinism
    val rnd = new scala.util.Random(77)
    (0 until 3).foreach { trial =>
      val n = 2000 + rnd.nextInt(4000)
      val dup = 1 + rnd.nextInt(4)
      val keyed = Array.fill(n)(rnd.nextLong() % (n / dup + 1))
        .toIndexedSeq.toDF("_graft_key")
      val fast = BlockWrite.computeBounds(keyed, n, 64, 1L << 20)
      System.setProperty("graft.bounds.smallSampleMax", "0")
      try {
        val dist = BlockWrite.computeBounds(keyed, n, 64, 1L << 20)
        assert(fast.sameElements(dist),
          s"trial $trial: fast=${fast.take(5).mkString(",")}… " +
            s"dist=${dist.take(5).mkString(",")}…")
        assert(fast.nonEmpty, s"trial $trial produced no bounds")
      } finally System.clearProperty("graft.bounds.smallSampleMax")
    }
    // duplicate-heavy keys: the stride filter selects whole VALUE groups,
    // so the actual sample can far exceed rows/stride — the count gate
    // must keep both paths equal (and the driver safe) here too
    val dupHeavy = Array.tabulate(6000)(i => (i % 5).toLong)
      .toIndexedSeq.toDF("_graft_key")
    val fastDup = BlockWrite.computeBounds(dupHeavy, 6000, 64, 1L << 20)
    System.setProperty("graft.bounds.smallSampleMax", "0")
    try {
      val distDup = BlockWrite.computeBounds(dupHeavy, 6000, 64, 1L << 20)
      assert(fastDup.sameElements(distDup))
    } finally System.clearProperty("graft.bounds.smallSampleMax")
  }

  test("bounds gate: a malformed property falls back to the default") {
    val default = BlockWrite.SmallBoundsSampleMax
    try {
      System.setProperty("graft.bounds.smallSampleMax", "lots")
      assert(BlockWrite.SmallBoundsSampleMax == default)
    } finally System.clearProperty("graft.bounds.smallSampleMax")
  }

  test("Ranks.withRank handles empty input") {
    val (_, total, release) = Ranks.withRank(
      Seq.empty[Long].toDF("k"), col("k"), "rn", 4)
    try assert(total == 0L) finally release()
  }

  test("encode at 100k+ blocks: no single-task sort, bounds live in a file") {
    // 110k rows at 1 row/block → ~110k range blocks. Under round 1's
    // Window.orderBy design this put a 110k-row sort in ONE task and a
    // 110k-entry array in the snapshot JSON + every task closure.
    val n = 110000
    val rows = spark.range(n.toLong).select(
      col("id").cast("string").as("doc_id"),
      array((col("id") % 31).cast("int"), ((col("id") + 7) % 31).cast("int")).as("tokens"),
      lit(2).as("n_tok"),
      concat(lit("src"), (col("id") % 4)).as("source"))
    val dir = tmpDir("manyblocks")
    val res = GraftTable.encode(rows, dir, GraftTable.Options(targetRowsPerBlock = 1))
    assert(res.complete)
    assert(res.numBlocks >= 100000, s"expected ≥100k blocks, got ${res.numBlocks}")
    assert(res.rowCount == n.toLong)

    // snapshot JSON references a bounds file instead of inlining the array
    val snapText = Files.readString(
      java.nio.file.Paths.get(s"$dir/metadata/v${res.version}.json"))
    assert(snapText.contains("\"bounds_dir\""))
    assert(!snapText.contains("\"bounds\":"))
    val snap = GraftTable.currentSnapshot(spark, dir).get
    assert(snap.boundsDir.isDefined)
    val boundsRows = spark.read.parquet(s"$dir/${snap.boundsDir.get}").count()
    assert(boundsRows == res.numBlocks - 1L,
      s"bounds file rows $boundsRows != numBlocks-1 ${res.numBlocks - 1}")

    // table still decodes correctly (spot-check totals, not 110k rows)
    val agg = GraftTable.decode(spark, dir).toDF()
      .agg(count(lit(1)), sum("n_tok")).head()
    assert(agg.getLong(0) == n.toLong && agg.getLong(1) == 2L * n)
  }

  test("rank plan contains no Window node (single-task sort regression guard)") {
    val df = (0 until 1000).map(_.toLong).toDF("k")
    val (ranked, _, release) = Ranks.withRank(df, col("k"), "rn", 8)
    try {
      val plan = ranked.queryExecution.executedPlan.toString
      assert(!plan.contains("Window"), s"WindowExec found in rank plan:\n$plan")
      ranked.count()
    } finally release()
  }

  test("encode partition count: per-block floor, CPU middle, 512MB-task ceiling") {
    // small table: never more partitions than blocks
    assert(BlockWrite.encodePartitions(3, 32, 1000L) == 3)
    // CPU-bound middle: 2x parallelism (the sandbox regime)
    assert(BlockWrite.encodePartitions(611, 8, 270704000L) == 16)
    // data-bound top end: 10^12 tokens on a 1000-core cluster — 2x
    // parallelism would put ~2.5 GB in each sort task; the byte ceiling
    // must win (≈9313 tasks at ~512 MB each)
    val big = BlockWrite.encodePartitions(15000000, 1000, 1000000000000L)
    assert(big > 1000 * 2, s"data-bound regime ignored: $big")
    assert(big <= 15000000)
    val perTaskBytes = 1000000000000L * 5L / big
    assert(perTaskBytes <= (512L << 20), s"task holds $perTaskBytes B")
  }

  test("chunked probe is bit-equal to the flat probe (random bounds + keys)") {
    import graft.expr.{BoundsChunks, GraftRuntime, SerializableHadoopConf}
    BoundsChunks.clearCache()
    val rnd = new scala.util.Random(77)
    val conf = new SerializableHadoopConf(spark.sparkContext.hadoopConfiguration)
    (0 until 3).foreach { trial =>
      val n = 1 + rnd.nextInt(3 * BoundsChunks.ChunkSize) // spans 1..3+ chunks
      val bounds = Array.fill(n)(rnd.nextLong()).distinct.sorted
      val bin = Files.createTempDirectory("graft-bin").toString + "/bounds.bin"
      val bb = java.nio.ByteBuffer.allocate(bounds.length * 8)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      bounds.foreach(bb.putLong)
      Files.write(java.nio.file.Paths.get(bin), bb.array())
      val coarse = bounds.grouped(BoundsChunks.ChunkSize).map(_.last).toArray
      // probe keys: every boundary value itself, ±1 neighbours, randoms
      val keys = bounds.take(500).flatMap(v => Seq(v - 1, v, v + 1)) ++
        Array.fill(2000)(rnd.nextLong()) ++
        Seq(Long.MinValue, Long.MaxValue)
      keys.foreach { k =>
        val flat = GraftRuntime.rangeBucket(k, bounds)
        val chunked = BoundsChunks.rangeBucketChunked(
          k, coarse, bin, s"trial$trial", bounds.length.toLong, conf)
        assert(chunked == flat, s"trial $trial key $k: $chunked != $flat")
      }
    }
  }

  test("chunk cache evicts stale fileIds and stays under the global cap") {
    import graft.expr.{BoundsChunks, SerializableHadoopConf}
    BoundsChunks.clearCache()
    val conf = new SerializableHadoopConf(spark.sparkContext.hadoopConfiguration)
    val n = 2 * BoundsChunks.ChunkSize
    val bounds = Array.tabulate(n)(_.toLong * 3)
    val bin = Files.createTempDirectory("graft-evict").toString + "/bounds.bin"
    val bb = java.nio.ByteBuffer.allocate(bounds.length * 8)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bounds.foreach(bb.putLong)
    Files.write(java.nio.file.Paths.get(bin), bb.array())
    // a recreated table (same path, new fileId) evicts the old fileId's
    // chunks eagerly — a long-lived executor must not accumulate one copy
    // of the bounds per table version it ever touched
    (0 until 10).foreach { ver =>
      BoundsChunks.chunk(bin, s"fid$ver", 0, n.toLong, conf)
      BoundsChunks.chunk(bin, s"fid$ver", 1, n.toLong, conf)
      assert(BoundsChunks.cachedChunkCount <= 2,
        s"version $ver left ${BoundsChunks.cachedChunkCount} chunks cached")
    }
    // distinct paths (many live tables) under a LOWERED cap: per-path
    // eviction doesn't apply across tables, so the global cap is the
    // only bound on a long-lived executor's footprint
    BoundsChunks.clearCache()
    val savedCap = BoundsChunks.MaxCachedChunks
    try {
      BoundsChunks.MaxCachedChunks = 3
      (0 until 8).foreach { i =>
        val d = Files.createTempDirectory(s"graft-evict$i").toString + "/bounds.bin"
        Files.write(java.nio.file.Paths.get(d), bb.array())
        BoundsChunks.chunk(d, "f", 0, n.toLong, conf)
        BoundsChunks.chunk(d, "f", 1, n.toLong, conf)
      }
      assert(BoundsChunks.cachedChunkCount <= BoundsChunks.MaxCachedChunks + 1)
    } finally {
      BoundsChunks.MaxCachedChunks = savedCap
      BoundsChunks.clearCache()
    }
  }

  test("two-level bounds: driver holds coarse cuts only, bytes match flat path") {
    import graft.expr.BoundsChunks
    BoundsChunks.clearCache()
    val n = 30000
    val rows = spark.range(n.toLong).select(
      col("id").cast("string").as("doc_id"),
      array((col("id") % 31).cast("int"), ((col("id") + 7) % 31).cast("int")).as("tokens"),
      lit(2).as("n_tok"),
      concat(lit("src"), (col("id") % 4)).as("source"))
    val flatDir = tmpDir("flat")
    val chunkDir = tmpDir("chunked")
    val flatOpts = GraftTable.Options(targetRowsPerBlock = 1)
    val chunkOpts = flatOpts.copy(chunkedBoundsMinBounds = 1000)

    // partial chunked run first (exercises loadBoundsRef on the resume leg)
    val r1 = GraftTable.encode(rows, chunkDir, chunkOpts.copy(blockFilter = Some(_ % 2 == 0)))
    assert(!r1.complete)
    val r2 = GraftTable.encode(rows, chunkDir, chunkOpts)
    assert(r2.complete && r2.rowCount == n.toLong)
    val flat = GraftTable.encode(rows, flatDir, flatOpts)
    assert(flat.complete)

    // identical table content regardless of bounds transport
    assert(r2.contentSig == flat.contentSig)
    assert(r2.numBlocks == flat.numBlocks)
    assert(r2.bytesTotal == flat.bytesTotal)

    // the chunked table's bounds live in bounds.bin, not a parquet array,
    // and the driver-side handle holds ONLY the coarse cuts
    val snap = GraftTable.currentSnapshot(spark, chunkDir).get
    val binPath = s"$chunkDir/${snap.boundsDir.get}/bounds.bin"
    assert(java.nio.file.Files.exists(java.nio.file.Paths.get(binPath)))
    val ref = BlockWrite.loadBoundsRef(spark, chunkDir, snap)
    ref match {
      case c: BlockWrite.ChunkedBoundsRef =>
        val expectCoarse = (c.numBounds + BoundsChunks.ChunkSize - 1) / BoundsChunks.ChunkSize
        assert(c.coarse.length.toLong == expectCoarse,
          s"coarse ${c.coarse.length} != ceil(${c.numBounds}/${BoundsChunks.ChunkSize})")
        assert(c.coarse.length < 20, "driver-held bounds not coarse-sized")
      case other => fail(s"expected ChunkedBoundsRef, got $other")
    }
    // flat snapshot id == chunked snapshot id is NOT required (lineage
    // differs: partial + resume vs one-shot), but decode totals must agree
    val agg = GraftTable.decode(spark, chunkDir).toDF()
      .agg(count(lit(1)), sum("n_tok")).head()
    assert(agg.getLong(0) == n.toLong && agg.getLong(1) == 2L * n)
    // complete-table resume stays a no-op on the chunked table
    val r3 = GraftTable.encode(rows, chunkDir, chunkOpts)
    assert(r3.blocksEncodedThisRun == 0 && r3.snapshotId == r2.snapshotId)

    // the generic lane takes the same two-level bounds: one-shot encodes,
    // so the snapshot ids match too
    val gFlatDir = tmpDir("gflat")
    val gChunkDir = tmpDir("gchunked")
    val gFlat = GenericTable.encode(rows, gFlatDir, opts = flatOpts)
    val gChunk = GenericTable.encode(rows, gChunkDir, opts = chunkOpts)
    assert(gChunk.complete && gChunk.rowCount == n.toLong)
    assert(gChunk.snapshotId == gFlat.snapshotId)
    assert(gChunk.contentSig == gFlat.contentSig)
    assert(gChunk.numBlocks == gFlat.numBlocks && gChunk.bytesTotal == gFlat.bytesTotal &&
      gFlat.rowCount == n.toLong)
    assert(Files.exists(java.nio.file.Paths.get(gChunkDir, "metadata/bounds/v1/bounds.bin")))
    assert(!Files.exists(java.nio.file.Paths.get(gFlatDir, "metadata/bounds/v1/bounds.bin")))
    val gDecoded = GenericTable.decode(spark, gChunkDir)
    assert(gDecoded.count() == n.toLong)
    assert(gDecoded.exceptAll(GenericTable.decode(spark, gFlatDir)).isEmpty)
  }

  test("single-block table has no bounds file and resumes as a no-op") {
    val rows = (0 until 50).map(i =>
      TokenRow(i.toString, Array(1, 2, 3), 3, "s")).toDF()
    val dir = tmpDir("oneblock")
    val r1 = GraftTable.encode(rows, dir, GraftTable.Options(targetRowsPerBlock = 1000))
    assert(r1.numBlocks == 1)
    assert(GraftTable.currentSnapshot(spark, dir).get.boundsDir.isEmpty)
    val r2 = GraftTable.encode(rows, dir, GraftTable.Options(targetRowsPerBlock = 1000))
    assert(r2.blocksEncodedThisRun == 0 && r2.snapshotId == r1.snapshotId)
  }
}
