package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.table.{GraftTable, TokenRow, Tokenize}

/** Streaming + append-mode tests: micro-batches land as appended block
  * versions; decode is the union; lineage chains per batch.
  */
class StreamingSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private lazy val source =
    Tokenize.tokenTable(spark, "/root/testdata/sf0.001").cache()

  test("batch append: second batch adds blocks, decode is the union") {
    val dir = Files.createTempDirectory("graft-append").toString
    val first = source.where(col("doc_id").cast("long") < 250).toDF()
    val second = source.where(col("doc_id").cast("long") >= 250).toDF()
    val r1 = GraftTable.encode(first, dir, GraftTable.Options(targetRowsPerBlock = 64))
    val r2 = GraftTable.append(second, dir, GraftTable.Options(targetRowsPerBlock = 64))
    assert(r2.version == r1.version + 1)
    assert(r2.rowCount == 500)
    assert(r2.blocksEncodedThisRun > 0)
    val decoded = GraftTable.decode(spark, dir)
    assert(decoded.count() == 500)
    val mism = decoded.toDF().alias("d").join(source.toDF().alias("s"), "doc_id")
      .where(!(col("d.tokens") <=> col("s.tokens"))).count()
    assert(mism == 0)
    // appended blocks got fresh ids (no overlap with v1's)
    val man = GraftTable.readManifest(spark, dir)
    assert(man.count() ==
      man.select("block_id").distinct().count())
  }

  test("compact merges fragmented append blocks; expire reclaims old dirs") {
    val dir = Files.createTempDirectory("graft-compact").toString
    val opts = GraftTable.Options(targetRowsPerBlock = 64)
    // 5 tiny appends → fragmented table
    (0 until 5).foreach { i =>
      val slice = source.where(col("doc_id").cast("long") % 5 === i).toDF()
      if (i == 0) GraftTable.encode(slice, dir, opts)
      else GraftTable.append(slice, dir, opts)
    }
    val before = GraftTable.currentSnapshot(spark, dir).get
    assert(before.dataDirs.length == 5)

    // fillFactor 1.0: every version runs below target (100 rows / 2 blocks
    // each) → all five merge into one
    val res = GraftTable.compact(spark, dir, opts, fillFactor = 1.0)
    assert(res.complete && res.rowCount == 500)
    val after = GraftTable.currentSnapshot(spark, dir).get
    assert(after.dataDirs.length == 1, after.dataDirs)

    val reclaimed = GraftTable.expireSnapshots(spark, dir)
    assert(reclaimed.size >= 8, reclaimed) // 5 old data + manifest dirs minus live
    // stale bounds files are reclaimed; the live snapshot's bounds survive
    val liveBounds = after.boundsDir
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    liveBounds.foreach { b =>
      assert(fs.exists(new org.apache.hadoop.fs.Path(s"$dir/$b")), s"live bounds $b deleted")
    }
    val boundsRoot = new org.apache.hadoop.fs.Path(s"$dir/metadata/bounds")
    if (fs.exists(boundsRoot)) {
      val kept = fs.listStatus(boundsRoot).map(s => s"metadata/bounds/${s.getPath.getName}").toSet
      assert(kept == liveBounds.toSet, s"stale bounds kept: $kept vs $liveBounds")
    }

    // post-GC the table still decodes bit-identically
    val decoded = GraftTable.decode(spark, dir)
    assert(decoded.count() == 500)
    val mism = decoded.toDF().alias("d").join(source.toDF().alias("s"), "doc_id")
      .where(!(col("d.tokens") <=> col("s.tokens"))).count()
    assert(mism == 0)

    // compacting an already-compact table is a no-op
    val again = GraftTable.compact(spark, dir, opts)
    assert(again.blocksEncodedThisRun == 0)
    assert(again.snapshotId == res.snapshotId)
  }

  test("incremental compaction rewrites ONLY fragmented versions (mtime proof)") {
    import org.apache.hadoop.fs.Path
    val dir = Files.createTempDirectory("graft-inc-compact").toString
    val opts = GraftTable.Options(targetRowsPerBlock = 64)
    // base: 400 full-ish rows (avg ~57/block ≥ fill 0.5·64) → NOT fragmented
    GraftTable.encode(
      source.where(col("doc_id").cast("long") < 400).toDF(), dir, opts)
    // 10 tiny appends of 10 rows each (avg 10 < 32) → fragmented
    (0 until 10).foreach { i =>
      GraftTable.append(
        source.where(col("doc_id").cast("long")
          .between(400 + i * 10, 409 + i * 10)).toDF(), dir, opts)
    }
    val before = GraftTable.currentSnapshot(spark, dir).get
    assert(before.dataDirs.length == 11)

    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    def dataFiles(rel: String): Map[String, Long] =
      fs.listStatus(new Path(s"$dir/$rel")).toIndexedSeq
        .filter(_.getPath.getName.endsWith(".parquet"))
        .map(s => s.getPath.toString -> s.getModificationTime).toMap
    val baseBefore = dataFiles("data/v1")

    val res = GraftTable.compact(spark, dir, opts)
    assert(res.complete && res.rowCount == 500)
    val after = GraftTable.currentSnapshot(spark, dir).get
    // base version survives untouched; ten fragments merged into one
    assert(after.dataDirs.length == 2, after.dataDirs)
    assert(after.dataDirs.contains("data/v1"))
    assert(dataFiles("data/v1") == baseBefore,
      "base version's data files were rewritten or touched")

    // content is intact and the whole surface still works
    val decoded = GraftTable.decode(spark, dir)
    assert(decoded.count() == 500)
    val mism = decoded.toDF().alias("d").join(source.toDF().alias("s"), "doc_id")
      .where(!(col("d.tokens") <=> col("s.tokens"))).count()
    assert(mism == 0)
    // decodeRange still prunes across the merged + untouched versions
    val got: Array[Long] = GraftTable.decodeRange(spark, dir, 395L, 405L)
      .select("doc_id").collect().map(_.getString(0).toLong).sorted
    val want: Array[Long] = (395L to 405L).toArray
    assert(got.sameElements(want))
    // a second compaction is a no-op (nothing fragmented remains)
    val again = GraftTable.compact(spark, dir, opts)
    assert(again.blocksEncodedThisRun == 0 && again.snapshotId == res.snapshotId)
    // GC reclaims exactly the ten dropped fragment dirs (+ their manifests)
    val reclaimed = GraftTable.expireSnapshots(spark, dir)
    assert(reclaimed.count(_.startsWith("data/")) == 10, reclaimed)
    assert(GraftTable.decode(spark, dir).count() == 500)
  }

  test("replayed batch is skipped (exactly-once at the table level)") {
    // simulate the crash window: the table commit succeeded but the
    // streaming checkpoint did not, so foreachBatch re-delivers the SAME
    // batchId — the sink must not append the rows twice
    val dir = Files.createTempDirectory("graft-replay").toString
    val opts = GraftTable.Options(targetRowsPerBlock = 64)
    val b0 = source.where(col("doc_id").cast("long") < 100).toDF()
    assert(StreamingEncode.applyBatch(b0, 0L, dir, opts))
    val v1 = GraftTable.currentSnapshot(spark, dir).get
    assert(!StreamingEncode.applyBatch(b0, 0L, dir, opts), "replay not skipped")
    assert(GraftTable.currentSnapshot(spark, dir).get.snapshotId == v1.snapshotId)
    assert(GraftTable.decode(spark, dir).count() == 100)
    // the NEXT batch still applies
    val b1 = source.where(col("doc_id").cast("long").between(100, 199)).toDF()
    assert(StreamingEncode.applyBatch(b1, 1L, dir, opts))
    assert(GraftTable.decode(spark, dir).count() == 200)
    // and an old batchId arriving after newer commits is also skipped
    assert(!StreamingEncode.applyBatch(b0, 0L, dir, opts))
    assert(GraftTable.decode(spark, dir).count() == 200)
  }

  test("batchId watermark survives interleaved compaction (replay still skipped)") {
    // a compact()/manual write between a table commit and the streaming
    // checkpoint commit used to produce a snapshot WITHOUT stream_batch_id,
    // after which the replayed batch re-appended duplicates (ADVICE r2)
    val dir = Files.createTempDirectory("graft-replay-compact").toString
    val opts = GraftTable.Options(targetRowsPerBlock = 64)
    val b0 = source.where(col("doc_id").cast("long") < 100).toDF()
    val b1 = source.where(col("doc_id").cast("long").between(100, 199)).toDF()
    assert(StreamingEncode.applyBatch(b0, 0L, dir, opts))
    assert(StreamingEncode.applyBatch(b1, 1L, dir, opts))
    // interleaved maintenance commits: compaction + a manual append
    GraftTable.compact(spark, dir, opts, fillFactor = 1.0)
    GraftTable.append(
      source.where(col("doc_id").cast("long").between(200, 249)).toDF(), dir, opts)
    val snap = GraftTable.currentSnapshot(spark, dir).get
    assert(snap.stats.toMap.get("stream_batch_id").contains("1"),
      s"batchId watermark lost: ${snap.stats}")
    // the replayed batches are still recognized as applied
    assert(!StreamingEncode.applyBatch(b0, 0L, dir, opts), "replay 0 not skipped")
    assert(!StreamingEncode.applyBatch(b1, 1L, dir, opts), "replay 1 not skipped")
    assert(GraftTable.decode(spark, dir).count() == 250)
  }

  test("watermarked windowed token counts close windows in append mode") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(java.sql.Timestamp, String, Int)]
    def ts(s: Long) = new java.sql.Timestamp(s * 1000L)
    val windowed = StreamingOps.windowedTokenCounts(
      mem.toDF().toDF("event_time", "source", "n_tok"),
      windowDuration = "10 seconds", watermark = "5 seconds")
    val q = windowed.writeStream.format("memory")
      .queryName("win_counts").outputMode("append").start()
    try {
      // window [0,10): two docs; then an event at t=42 pushes the
      // watermark to 37 — far past the first window, which must emit
      mem.addData((ts(1), "a", 10), (ts(3), "a", 20), (ts(12), "b", 5))
      q.processAllAvailable()
      mem.addData((ts(42), "b", 1))
      q.processAllAvailable()
      val rows = spark.sql(
        "SELECT source, docs, tokens FROM win_counts WHERE window_start = timestamp'1970-01-01 00:00:00'")
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      assert(rows.toSeq == Seq(("a", 2L, 30L)))
      // a LATE event for the closed window is dropped by the watermark
      mem.addData((ts(2), "a", 99), (ts(60), "b", 1))
      q.processAllAvailable()
      val after = spark.sql(
        "SELECT sum(tokens) FROM win_counts WHERE window_start = timestamp'1970-01-01 00:00:00'")
        .head().getLong(0)
      assert(after == 30L, s"late data leaked into a closed window: $after")
    } finally q.stop()
  }

  test("sliding windows overlap; session windows merge bursts and split on gaps") {
    implicit val sqlCtx = spark.sqlContext
    def ts(s: Long) = new java.sql.Timestamp(s * 1000L)

    // sliding: 10s window / 5s slide → an event at t=7 lands in [0,10) AND [5,15)
    val mem1 = MemoryStream[(java.sql.Timestamp, String, Int)]
    val sliding = StreamingOps.slidingTokenCounts(
      mem1.toDF().toDF("event_time", "source", "n_tok"),
      windowDuration = "10 seconds", slideDuration = "5 seconds",
      watermark = "5 seconds")
    val q1 = sliding.writeStream.format("memory")
      .queryName("slide_counts").outputMode("append").start()
    try {
      mem1.addData((ts(7), "a", 10))
      q1.processAllAvailable()
      mem1.addData((ts(60), "b", 1)) // watermark past both windows
      q1.processAllAvailable()
      val wins = spark.sql(
        "SELECT window_start, tokens FROM slide_counts WHERE source = 'a' ORDER BY window_start")
        .collect().map(r => (r.getTimestamp(0).getTime / 1000, r.getLong(1)))
      assert(wins.toSeq == Seq((0L, 10L), (5L, 10L)), wins.mkString(","))
    } finally q1.stop()

    // session: 10s gap → t=1,5,12 chain into ONE session [1,22); t=40 starts another
    val mem2 = MemoryStream[(java.sql.Timestamp, String, Int)]
    val sessions = StreamingOps.sessionizedCounts(
      mem2.toDF().toDF("event_time", "source", "n_tok"),
      gap = "10 seconds", watermark = "5 seconds")
    val q2 = sessions.writeStream.format("memory")
      .queryName("sess_counts").outputMode("append").start()
    try {
      mem2.addData((ts(1), "a", 1), (ts(5), "a", 2), (ts(12), "a", 4))
      q2.processAllAvailable()
      mem2.addData((ts(40), "a", 8))
      q2.processAllAvailable()
      mem2.addData((ts(120), "b", 1)) // close everything
      q2.processAllAvailable()
      val rows = spark.sql(
        "SELECT session_start, session_end, docs, tokens FROM sess_counts " +
          "WHERE source = 'a' ORDER BY session_start")
        .collect().map(r => (r.getTimestamp(0).getTime / 1000,
          r.getTimestamp(1).getTime / 1000, r.getLong(2), r.getLong(3)))
      assert(rows.toSeq == Seq((1L, 22L, 3L, 7L), (40L, 50L, 1L, 8L)),
        rows.mkString(","))
    } finally q2.stop()
  }

  test("stateful streaming dedup: first doc passes, replicas across batches drop") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(String, String, String)]
    val out = StreamingOps.dedupStream(mem.toDF().toDF("doc_id", "text", "source"))
    val q = out.writeStream.format("memory")
      .queryName("dedup_stream").outputMode("append").start()
    try {
      mem.addData(("1", "alpha beta", "s"), ("2", "alpha beta", "s"), ("3", "gamma", "s"))
      q.processAllAvailable()
      // replicas of batch-1 texts arriving in batch 2 must NOT re-emit
      mem.addData(("4", "alpha beta", "s"), ("5", "gamma", "s"), ("6", "delta", "s"))
      q.processAllAvailable()
      val kept = spark.sql("SELECT doc_id FROM dedup_stream")
        .collect().map(_.getString(0)).sorted.toSeq
      assert(kept == Seq("1", "3", "6"), s"kept=$kept")
    } finally q.stop()
  }

  test("streaming clean-and-encode: dedup → tokenize → graft table") {
    implicit val sqlCtx = spark.sqlContext
    val dir = Files.createTempDirectory("graft-cleanstream").toString
    val ckpt = Files.createTempDirectory("graft-cleanckpt").toString
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id").cast("string"), col("text"), col("source"))
      .limit(50).collect()
    val (_, vocabBc) = Tokenize.cachedVocab(spark, "/root/testdata/sf0.001")

    val mem = MemoryStream[(String, String, String)]
    val q = StreamingOps.cleanAndEncodeStream(
      mem.toDF().toDF("doc_id", "text", "source"), vocabBc, dir, ckpt,
      GraftTable.Options(targetRowsPerBlock = 64))
    try {
      // batch 1: 30 docs; batch 2: 20 new + 5 replicas of batch-1 texts
      mem.addData(docs.take(30).map(r => (r.getString(0), r.getString(1), r.getString(2))).toSeq)
      q.processAllAvailable()
      mem.addData((docs.drop(30) ++ docs.take(5).map(r =>
        org.apache.spark.sql.Row("9" + r.getString(0), r.getString(1), r.getString(2))))
        .map(r => (r.getString(0), r.getString(1), r.getString(2))).toSeq)
      q.processAllAvailable()
    } finally q.stop()

    // replicas dropped, survivors tokenized and committed
    val decoded = GraftTable.decode(spark, dir)
    assert(decoded.count() == 50, s"expected 50 unique docs, got ${decoded.count()}")
    val replicaIds = docs.take(5).map(r => "9" + r.getString(0))
    assert(decoded.toDF().where(col("doc_id").isin(replicaIds: _*)).count() == 0,
      "a replica leaked through the streaming dedup")
    // tokens match the batch tokenization of the same docs
    val batch = Tokenize.tokenTable(spark, "/root/testdata/sf0.001").toDF()
    val mism = decoded.toDF().alias("d").join(batch.alias("s"), "doc_id")
      .where(!(col("d.tokens") <=> col("s.tokens"))).count()
    assert(mism == 0)
  }

  test("generic streaming ingest: exactly-once, schema evolution mid-stream") {
    val dir = Files.createTempDirectory("graft-gstream").toString
    val opts = GraftTable.Options(targetRowsPerBlock = 64)
    val b0 = (0 until 100).toDF("k").select(
      col("k").cast("long").as("id"), concat(lit("a"), col("k")).as("a"))
    assert(StreamingEncode.applyBatchGeneric(b0, 0L, dir, "id", opts))
    // replay of the same batchId is skipped
    assert(!StreamingEncode.applyBatchGeneric(b0, 0L, dir, "id", opts))
    assert(graft.table.GenericTable.decode(spark, dir).count() == 100)
    // the stream's schema evolves: batch 1 carries an extra column
    val b1 = (100 until 150).toDF("k").select(
      col("k").cast("long").as("id"), concat(lit("a"), col("k")).as("a"),
      (col("k") * 2).cast("long").as("extra"))
    assert(StreamingEncode.applyBatchGeneric(b1, 1L, dir, "id", opts))
    val d = graft.table.GenericTable.decode(spark, dir)
    assert(d.columns.toSeq == Seq("id", "a", "extra"))
    assert(d.count() == 150 && d.where(col("extra").isNull).count() == 100)
    // an old batchId arriving after newer commits stays skipped
    assert(!StreamingEncode.applyBatchGeneric(b0, 0L, dir, "id", opts))
    assert(graft.table.GenericTable.decode(spark, dir).count() == 150)
  }

  test("startGeneric: micro-batches commit under their batchIds, schema evolution included") {
    implicit val sqlCtx = spark.sqlContext
    val dir = Files.createTempDirectory("graft-gsink").toString
    val opts = GraftTable.Options(targetRowsPerBlock = 64)
    def trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(0L)
    def watermark = GraftTable.currentSnapshot(spark, dir).get.stats.toMap.get(StreamingEncode.BatchKey)

    val first = MemoryStream[(Long, String)]
    first.addData((0L until 100L).map(i => (i, s"a$i")))
    val q1 = StreamingEncode.startGeneric(first.toDF().toDF("id", "a"), dir,
      Files.createTempDirectory("graft-gsink-ckpt").toString, "id", opts, trigger)
    try q1.processAllAvailable() finally q1.stop()
    assert(watermark == Some("0"))

    // the stream restarts with one column more: its batch 0 replays the
    // committed batch and is skipped, its batch 1 adds the column
    val second = MemoryStream[(Long, String, Long)]
    second.addData((0L until 100L).map(i => (i, s"a$i", -1L)))
    val q2 = StreamingEncode.startGeneric(second.toDF().toDF("id", "a", "extra"), dir,
      Files.createTempDirectory("graft-gsink-ckpt").toString, "id", opts, trigger)
    try {
      q2.processAllAvailable()
      second.addData((100L until 150L).map(i => (i, s"a$i", i * 2)))
      q2.processAllAvailable()
    } finally q2.stop()
    assert(watermark == Some("1"))
    val d = graft.table.GenericTable.decode(spark, dir)
    assert(d.columns.toSeq == Seq("id", "a", "extra"))
    assert(d.count() == 150 && d.where(col("extra").isNull).count() == 100)
    assert(d.where(col("extra") === col("id") * 2 && col("a") === concat(lit("a"), col("id")))
      .count() == 50)
  }

  test("streaming upsert ingest (CDC apply): replace-by-key, exactly-once") {
    implicit val sqlCtx = spark.sqlContext
    val dir = Files.createTempDirectory("graft-ustream").toString
    val ckpt = Files.createTempDirectory("graft-uckpt").toString
    val opts = GraftTable.Options(targetRowsPerBlock = 64)

    val mem = MemoryStream[(Long, String)]
    mem.addData((0L until 100L).map(i => (i, s"v1-$i")))
    val q = StreamingEncode.startUpsert(
      mem.toDF().toDF("id", "v"), dir, ckpt, "id", opts,
      trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(0L))
    try {
      q.processAllAvailable()
      // batch 2: updates for 10..19 plus brand-new keys 200..204
      mem.addData((10L until 20L).map(i => (i, s"v2-$i")) ++
        (200L until 205L).map(i => (i, s"new-$i")))
      q.processAllAvailable()
    } finally q.stop()

    val dec = graft.table.GenericTable.decode(spark, dir)
    assert(dec.count() == 105)
    assert(dec.where(col("id").between(10, 19))
      .select("v").collect().forall(_.getString(0).startsWith("v2-")))
    assert(dec.where(col("id") === 5L).select("v").head().getString(0) == "v1-5")
    assert(dec.where(col("id") >= 200L).count() == 5)

    // replayed batch id is skipped (idempotent), stale content ignored
    val replay = (10L until 20L).map(i => (i, s"v1-$i")).toDF("id", "v")
    assert(!StreamingEncode.applyBatchUpsert(replay, 1L, dir, "id", opts))
    assert(graft.table.GenericTable.decode(spark, dir)
      .where(col("id") === 15L).select("v").head().getString(0) == "v2-15")
  }

  test("streaming ingest: micro-batches append and round-trip") {
    implicit val sqlCtx = spark.sqlContext
    val dir = Files.createTempDirectory("graft-stream").toString
    val ckpt = Files.createTempDirectory("graft-ckpt").toString

    val mem = MemoryStream[TokenRow]
    val rows = source.collect()
    mem.addData(rows.take(200).toSeq)
    val q = StreamingEncode.start(
      mem.toDF(), dir, ckpt, GraftTable.Options(targetRowsPerBlock = 64),
      trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(0L))
    q.processAllAvailable()
    mem.addData(rows.drop(200).toSeq)
    q.processAllAvailable()
    q.stop()

    val decoded = GraftTable.decode(spark, dir)
    assert(decoded.count() == 500)
    val mism = decoded.toDF().alias("d").join(source.toDF().alias("s"), "doc_id")
      .where(!(col("d.tokens") <=> col("s.tokens")) ||
        !(col("d.source") <=> col("s.source"))).count()
    assert(mism == 0)
    // one snapshot per non-empty micro-batch, lineage chains
    val chain = GraftTable.lineage(spark, dir)
    assert(chain.length >= 2)
    assert(chain.head.parentId.contains(chain(1).snapshotId))
    assert(chain.head.complete)
  }
}
