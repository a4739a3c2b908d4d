package graft.table

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** End-to-end table tests (SURVEY.md §5.2 items 4 and 6) on the real
  * sf0.001 testdata: encode → manifest completeness → decode bit-identical,
  * compressed size ≤ the reference Parquet size of the same token table,
  * resume-from-checkpoint, and snapshot determinism.
  */
class TableSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val SfDir = "/root/testdata/sf0.001"
  private lazy val source = Tokenize.tokenTable(spark, SfDir).cache()

  private def tmpDir(tag: String): String =
    Files.createTempDirectory(s"graft-$tag").toString

  /** Sorted collect for exact per-row comparison (500 rows at sf0.001). */
  private def collectRows(ds: org.apache.spark.sql.Dataset[TokenRow]) =
    ds.collect().sortBy(r => (r.doc_id.length, r.doc_id))
      .map(r => (r.doc_id, r.tokens.toSeq, r.n_tok, r.source))

  test("encode → decode is bit-identical per row on sf0.001 (multi-block)") {
    val dir = tmpDir("e2e")
    val res = GraftTable.encode(source.toDF(), dir,
      GraftTable.Options(targetRowsPerBlock = 64))
    assert(res.complete)
    assert(res.numBlocks >= 4, s"expected several blocks, got ${res.numBlocks}")
    assert(res.rowCount == 500)
    assert(res.tokenCount == 27939) // FIXTURES.md §2 measured total

    val decoded = GraftTable.decode(spark, dir)
    assert(collectRows(decoded).sameElements(collectRows(source)))

    // declarative verify (SURVEY.md E11): join + array equality, 0 mismatches
    val mism = decoded.toDF().alias("d")
      .join(source.toDF().alias("s"), "doc_id")
      .where(!(col("d.tokens") <=> col("s.tokens")) ||
        !(col("d.source") <=> col("s.source")) ||
        !(col("d.n_tok") <=> col("s.n_tok")))
      .count()
    assert(mism == 0)
  }

  test("compressed size ≤ reference Parquet size of the same table") {
    val dir = tmpDir("size")
    val res = GraftTable.encode(source.toDF(), dir, GraftTable.Options())

    // reference: the same token table written by Spark's Parquet (defaults)
    val refDir = tmpDir("refpq")
    source.write.mode("overwrite").parquet(s"$refDir/tokens")
    val refBytes = Files.walk(java.nio.file.Paths.get(s"$refDir/tokens"))
      .filter(p => p.toString.endsWith(".parquet"))
      .mapToLong(p => p.toFile.length()).sum()

    assert(res.bytesTotal <= refBytes,
      s"encoded ${res.bytesTotal} B > reference parquet $refBytes B")
    assert(res.bytesTotal < res.plainBytes,
      s"encoded ${res.bytesTotal} B >= plain ${res.plainBytes} B")
    info(s"encoded=${res.bytesTotal} B, parquet=$refBytes B, " +
      f"plain=${res.plainBytes} B, ratio-vs-plain=${res.compressionVsPlain}%.3f")
  }

  test("manifest is complete and selection evidence is recorded") {
    val dir = tmpDir("manifest")
    val res = GraftTable.encode(source.toDF(), dir,
      GraftTable.Options(targetRowsPerBlock = 100))
    val man = GraftTable.readManifest(spark, dir)
    assert(man.count() == res.numBlocks.toLong)
    val row = man.orderBy("block_id").head()
    val cols = man.columns.toSet
    Seq("block_id", "row_count", "token_count", "codec_tokens", "codec_doc_id",
      "codec_n_tok", "codec_source", "bytes_total", "plain_bytes",
      "dict_hash_tokens", "dict_hash_source", "doc_id_min", "doc_id_max",
      "block_sig", "ver").foreach(c => assert(cols.contains(c), c))
    // row counts in the manifest sum to the table row count
    assert(man.agg(sum("row_count")).head().getLong(0) == 500L)
    // dict hash is a sha256 hex
    assert(row.getAs[String]("dict_hash_tokens").matches("[0-9a-f]{64}"))
    // per-block size bound: every block compresses below its plain bytes
    assert(man.where(col("bytes_total") >= col("plain_bytes")).count() == 0)
    // codec names are from the known families
    val known = graft.codec.IntBlocks.idOf.keySet ++
      graft.codec.StrBlocks.names.values
    assert(known.contains(row.getAs[String]("codec_tokens")))
    assert(known.contains(row.getAs[String]("codec_doc_id")))
  }

  test("resume: second run encodes only the missing blocks, lineage chains") {
    val dir = tmpDir("resume")
    val opts = GraftTable.Options(targetRowsPerBlock = 64)

    // run 1: half the blocks (simulated interruption / backfill)
    val r1 = GraftTable.encode(source.toDF(), dir,
      opts.copy(blockFilter = Some(_ % 2 == 0)))
    assert(!r1.complete)
    assert(r1.blocksDone < r1.numBlocks)

    // run 2: completes only what is missing
    val r2 = GraftTable.encode(source.toDF(), dir, opts)
    assert(r2.complete)
    assert(r2.blocksEncodedThisRun == r2.numBlocks - r1.blocksDone,
      s"re-encoded already-done blocks: $r2 vs $r1")
    assert(r2.rowCount == 500)

    // even blocks still live in v1's data dir (not rewritten)
    val man = GraftTable.readManifest(spark, dir)
    val byVer = man.groupBy("ver").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(byVer.keySet == Set(1L, 2L))

    // lineage chain: v2's parent is v1's snapshot
    val chain = GraftTable.lineage(spark, dir)
    assert(chain.map(_.version) == Seq(2, 1))
    assert(chain.head.parentId.contains(chain(1).snapshotId))

    // and the final table decodes bit-identically
    assert(collectRows(GraftTable.decode(spark, dir))
      .sameElements(collectRows(source)))

    // a filter selecting no block, with no parent, commits no block and
    // no data dir and is not complete: the unfiltered encode of the same
    // input does the work instead of a no-op
    val dir0 = tmpDir("resume0")
    val r0 = GraftTable.encode(source.toDF(), dir0, opts.copy(blockFilter = Some(_ => false)))
    assert(!r0.complete && r0.blocksDone == 0 && r0.rowCount == 0)
    assert(!Files.exists(java.nio.file.Paths.get(dir0, "data/v1")))
    val r0b = GraftTable.encode(source.toDF(), dir0, opts)
    assert(r0b.complete && r0b.blocksEncodedThisRun == r0b.numBlocks && r0b.rowCount == 500)
    assert(collectRows(GraftTable.decode(spark, dir0)).sameElements(collectRows(source)))
  }

  test("idempotence: re-running a complete table is a no-op") {
    val dir = tmpDir("idem")
    val r1 = GraftTable.encode(source.toDF(), dir, GraftTable.Options(targetRowsPerBlock = 128))
    val r2 = GraftTable.encode(source.toDF(), dir, GraftTable.Options(targetRowsPerBlock = 128))
    assert(r2.blocksEncodedThisRun == 0)
    assert(r2.version == r1.version)
    assert(r2.snapshotId == r1.snapshotId)
  }

  test("determinism: two independent encodes produce identical content") {
    val dirA = tmpDir("detA")
    val dirB = tmpDir("detB")
    val opts = GraftTable.Options(targetRowsPerBlock = 64)
    val a = GraftTable.encode(source.toDF(), dirA, opts)
    val b = GraftTable.encode(source.toDF(), dirB, opts)
    assert(a.contentSig == b.contentSig)
    assert(a.snapshotId == b.snapshotId)
    assert(a.bytesTotal == b.bytesTotal)
  }

  test("layout independence: input partitioning does not change the table") {
    // the same rows arriving as 1 partition vs 13 partitions (as happens
    // across cluster sizes / file split settings) must produce identical
    // bounds, block payloads, and snapshot ids — the bounds sample is
    // hash-strided on values, never partition-seeded
    val dirA = tmpDir("layA")
    val dirB = tmpDir("layB")
    val opts = GraftTable.Options(targetRowsPerBlock = 64)
    val a = GraftTable.encode(source.toDF().repartition(1), dirA, opts)
    val b = GraftTable.encode(source.toDF().repartition(13), dirB, opts)
    assert(a.contentSig == b.contentSig)
    assert(a.snapshotId == b.snapshotId)
    assert(a.bytesTotal == b.bytesTotal)
    assert(a.numBlocks == b.numBlocks)
  }

  private def keyedOf(df: org.apache.spark.sql.DataFrame) =
    df.withColumn("_graft_key",
      expr("coalesce(try_cast(doc_id as bigint), xxhash64(doc_id))"))

  /** A token table from plain rows; `null` elements and arrays allowed. */
  private def tokenFrame(rows: Seq[(String, Seq[Any], Int)]) = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("doc_id", StringType),
      StructField("tokens", ArrayType(IntegerType, containsNull = true)),
      StructField("n_tok", IntegerType),
      StructField("source", StringType)))
    spark.createDataFrame(spark.sparkContext.parallelize(
      rows.map { case (d, t, n) => Row(d, t, n, "s") }, 3), schema)
  }

  test("stats pass: sampled column statistics gate codec candidates") {
    val keyed = keyedOf(source.toDF())
    val st = Stats.collect(keyed)
    assert(st.rows == 500)
    assert(st.tokensTotal == 27939)
    assert(st.tokMax <= 30 && st.tokMin >= 0) // 31-word vocab (FIXTURES.md)
    assert(st.tokDistinct <= 40 && st.tokDistinct >= 25) // HLL ±1%
    assert(st.allowDict && st.allowFsst)
    assert(st.adjRepeatFrac > 0.0 && st.adjRepeatFrac < 0.2)
    assert(st.nTokMin >= 10 && st.nTokMax <= 100)
    assert(st.fingerprint.matches("[0-9a-f]{64}"))
  }

  /** The sf0.001 token rows plus edge rows: empty, NULL and null-element
    * arrays, runs, and runs longer than any block.
    */
  private lazy val edgeFixture: Seq[(String, Seq[Any], Int)] = {
    val rnd = new scala.util.Random(7)
    val edges: Seq[(String, Seq[Any], Int)] = Seq(
      ("edge-empty", Seq.empty, 0),
      ("edge-null-array", null, 0),
      ("edge-one", Seq(5), 1),
      ("edge-null-elem", Seq(3, null, null, 3, 3, null), 6),
      ("edge-run", Seq.fill(7)(9), 7),
      ("edge-long-run", Seq.fill(4096)(11), 4096),
      ("edge-long-mixed", Seq.tabulate(6000)(i =>
        if (i % 997 == 0) null else 40 + rnd.nextInt(6)), 6000))
    source.collect().toSeq.map(r => (r.doc_id, r.tokens.toSeq: Seq[Any], r.n_tok)) ++ edges
  }

  test("stats pass: sampled stats equal a plain-Scala reference (ANSI on)") {
    assert(spark.sessionState.conf.ansiEnabled, "expected the default ANSI mode")
    val df = tokenFrame(edgeFixture)
    val st = Stats.collect(keyedOf(df))

    // reference over the arrays as collected back from the frame
    val arrays = df.select("tokens").collect().toSeq
      .map(r => Option(r.getSeq[Any](0)).getOrElse(Seq.empty))
    val adj = arrays.map(a =>
      (1 until a.size).count(i => a(i) != null && a(i) == a(i - 1)).toLong).sum
    val pairs = arrays.map(a => math.max(a.size - 1, 0).toLong).sum
    val tokens = arrays.flatten.filter(_ != null).map(_.asInstanceOf[Int])
    assert(st.rows == edgeFixture.size)
    assert(st.adjRepeatFrac == adj.toDouble / pairs, s"adj=$adj pairs=$pairs")
    assert((st.tokMin, st.tokMax) == ((tokens.min, tokens.max)))
    // every token counts, equal to Spark's own HLL++ over the exploded
    // tokens at the same relative SD
    val hll = df.select(explode(col("tokens")).as("t"))
      .agg(approx_count_distinct(col("t"), 0.05)).head().getLong(0)
    assert(st.tokDistinct == hll)
    val distinct = tokens.distinct.size
    assert(math.abs(st.tokDistinct - distinct) <= math.max(2, distinct * 15 / 100),
      s"HLL ${st.tokDistinct} vs exact $distinct")
  }

  test("stats pass: the same rows in 1, 3 and 8 partitions give the same stats") {
    val df = tokenFrame(edgeFixture)
    val Seq(one, three, eight) = Seq(1, 3, 8).map(n => Stats.collect(keyedOf(df.repartition(n))))
    assert(one == three && one == eight, s"1: $one\n3: $three\n8: $eight")
  }

  test("stats pass: the stats plan is one aggregate, no Generate or HOF") {
    import org.apache.spark.sql.catalyst.expressions.HigherOrderFunction
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Generate}
    val plan = Stats.aggregate(keyedOf(source.toDF())).queryExecution.optimizedPlan
    assert(plan.collect { case a: Aggregate => a }.size == 1, plan.treeString)
    assert(plan.collect { case g: Generate => g }.isEmpty, plan.treeString)
    val hofs = plan.flatMap(_.expressions.flatMap(
      _.collect { case h: HigherOrderFunction => h }))
    assert(hofs.isEmpty, plan.treeString)
  }

  test("stats pass: adj_repeat_frac is written with a '.' under any locale") {
    val st = Stats.collect(keyedOf(source.toDF()))
    val saved = java.util.Locale.getDefault(java.util.Locale.Category.FORMAT)
    java.util.Locale.setDefault(java.util.Locale.Category.FORMAT, java.util.Locale.GERMANY)
    val frac = try st.asJsonFields.toMap.apply("adj_repeat_frac")
    finally java.util.Locale.setDefault(java.util.Locale.Category.FORMAT, saved)
    assert(frac.matches("\\d+\\.\\d{6}"), frac)
  }

  test("stats pass: adjacent-repeat pairs follow the tokens array, not n_tok") {
    // "a": 3 equal pairs of 4; "b": 1 of 1. Counted by n_tok instead, the
    // fraction would be 2 / 9.
    val df = tokenFrame(Seq(
      ("a", Seq(1, 1, 1, 2, 2), 2),
      ("b", Seq(3, 3), 9)))
    assert(Stats.collect(keyedOf(df)).adjRepeatFrac == 4.0 / 5)
  }

  test("skew: detection flags a hot key and salted agg matches plain agg") {
    val df = (0 until 2000).map { i =>
      val src = if (i % 4 != 3) "hot" else s"src${i % 7}"
      (i.toString, src)
    }.toDF("doc_id", "source")

    val rep = Skew.detect(df, col("source"))
    assert(rep.isSkewed && rep.hotKeys == Seq("hot"))

    val salted = Skew.saltedKeyCounts(df, col("source"), col("doc_id"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val plain = df.groupBy("source").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(salted == plain)
  }

  test("scalacheck-arbitrary token tables round-trip through the full table") {
    // the direct analogue of ebenezer's arbitrary-thrift-struct serde specs
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    import spark.implicits._
    val genRow: Gen[TokenRow] = for {
      id <- Gen.choose(0L, 1000000L)
      n <- Gen.choose(0, 200)
      toks <- Gen.listOfN(n, Gen.choose(Int.MinValue, Int.MaxValue))
      src <- Gen.oneOf("alpha", "beta", "γ/δ", "", "with space")
    } yield TokenRow(id.toString, toks.toArray, n, src)
    (0 until 3).foreach { seed =>
      val rows = (0 until 400).flatMap(i =>
        genRow(Gen.Parameters.default.withSize(100), Seed(seed * 1000L + i)))
        .groupBy(_.doc_id).map(_._2.head).toSeq // unique doc_ids
      val df = rows.toDF()
      val dir = tmpDir(s"arb$seed")
      val res = GraftTable.encode(df, dir, GraftTable.Options(targetRowsPerBlock = 50))
      assert(res.complete)
      val back = GraftTable.decode(spark, dir).collect()
        .map(r => (r.doc_id, r.tokens.toSeq, r.n_tok, r.source)).sortBy(_._1)
      val exp = rows.map(r => (r.doc_id, r.tokens.toSeq, r.n_tok, r.source)).sortBy(_._1)
      assert(back.sameElements(exp), s"seed $seed")
    }
  }

  test("skewed key space still yields balanced blocks (equal-depth bounds)") {
    import spark.implicits._
    // 80% of ids clustered in [0, 500), the tail sparse up to 10^9
    val rows = (0 until 2000).map { i =>
      val id = if (i % 5 != 4) (i / 5) * 2L else 1000000000L - i * 997L
      TokenRow(id.toString, Array.fill(20)(i % 31), 20, s"src${i % 4}")
    }.groupBy(_.doc_id).map(_._2.head).toSeq
    val dir = tmpDir("skewkeys")
    val res = GraftTable.encode(rows.toDF(), dir,
      GraftTable.Options(targetRowsPerBlock = 128))
    assert(res.complete)
    val counts = GraftTable.readManifest(spark, dir)
      .select(col("row_count").cast("long")).as[Long].collect().sorted
    val median = counts(counts.length / 2)
    assert(counts.last <= median * 4,
      s"unbalanced blocks under key skew: max=${counts.last} median=$median")
  }

  test("orphan data dir from a crashed run does not block or corrupt a retry") {
    import spark.implicits._
    val dir = tmpDir("orphan")
    val opts = GraftTable.Options(targetRowsPerBlock = 128)
    // simulate a crash: data/v1 exists (partial garbage), no snapshot commit
    val garbage = Seq(("junk", 1)).toDF("a", "b")
    garbage.write.parquet(s"$dir/data/v1")
    val res = GraftTable.encode(source.toDF(), dir, opts)
    assert(res.complete && res.version == 1)
    assert(collectRows(GraftTable.decode(spark, dir))
      .sameElements(collectRows(source)))
  }

  test("decodeRange spans encode + append versions via manifest pruning") {
    import spark.implicits._
    val dir = tmpDir("rangeappend")
    val opts = GraftTable.Options(targetRowsPerBlock = 64)
    GraftTable.encode(
      source.toDF().where(col("doc_id").cast("long") < 250), dir, opts)
    GraftTable.append(
      source.toDF().where(col("doc_id").cast("long") >= 250), dir, opts)
    // the range straddles the version boundary: rows must come from BOTH
    val got: Array[Long] = GraftTable.decodeRange(spark, dir, 240L, 260L)
      .select("doc_id").as[String].collect().map(_.toLong).sorted
    val want: Array[Long] = (240L to 260L).toArray
    assert(got.sameElements(want), s"got ${got.mkString(",")}")
  }

  test("time travel: decodeAt(v) reproduces each version; expiry closes it loud") {
    import spark.implicits._
    val dir = tmpDir("timetravel")
    val opts = GraftTable.Options(targetRowsPerBlock = 64)
    val first = source.toDF().where(col("doc_id").cast("long") < 250)
    GraftTable.encode(first, dir, opts)
    GraftTable.append(source.toDF().where(col("doc_id").cast("long") >= 250), dir, opts)
    // v1 = just the first batch, v2 = current = everything
    assert(GraftTable.decodeAt(spark, dir, 1).count() == first.count())
    assert(GraftTable.decodeAt(spark, dir, 2).count() == source.count())
    assert(collectRows(GraftTable.decodeAt(spark, dir, 2))
      .sameElements(collectRows(GraftTable.decode(spark, dir))))
    intercept[IllegalArgumentException](GraftTable.decodeAt(spark, dir, 9))
    // compact, expire: v1's files are reclaimed → time travel fails LOUD
    GraftTable.compact(spark, dir)
    GraftTable.expireSnapshots(spark, dir)
    val e = intercept[IllegalStateException](GraftTable.decodeAt(spark, dir, 1))
    assert(e.getMessage.contains("expireSnapshots"))
    // current decode still fine after expiry
    assert(GraftTable.decode(spark, dir).count() == source.count())
  }

  test("BlockAssembler.rowHash is Spark's xxhash64 bit for bit") {
    // resume safety depends on the manifest's row_xor (JVM-side hash at
    // assembly time) matching the SQL-side input hash exactly
    val rows = source.collect().take(100)
    val sqlHashes = rows.toIndexedSeq.toDF()
      .select(col("doc_id"), expr(
        "xxhash64(cast(doc_id as string), cast(n_tok as int), cast(source as string), tokens)"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    rows.foreach { r =>
      val jvm = BlockAssembler.rowHash(r.doc_id, r.n_tok, r.source, r.tokens)
      assert(jvm == sqlHashes(r.doc_id), s"hash mismatch for doc ${r.doc_id}")
    }
  }

  test("corrupt metadata fails loud: dangling pointer and unparseable snapshot") {
    import java.nio.file.{Files => JFiles, Paths}
    val dir = tmpDir("corrupt")
    GraftTable.encode(source.toDF(), dir, GraftTable.Options(targetRowsPerBlock = 256))
    // corruption must go through the Hadoop FS writer (local fs keeps .crc
    // sidecars; an out-of-band nio write trips ChecksumException instead)
    JFiles.createDirectories(Paths.get(s"$dir/metadata"))
    // dangling pointer → clear IllegalStateException, not an NPE or a
    // silently-empty table
    GraftTable.writeString(spark, s"$dir/metadata/current", "99")
    val e = intercept[IllegalStateException](GraftTable.currentSnapshot(spark, dir))
    assert(e.getMessage.contains("dangling current pointer"))
    // unparseable snapshot JSON → parse error surfaces, not silent data loss
    GraftTable.writeString(spark, s"$dir/metadata/current", "1")
    GraftTable.writeString(spark, s"$dir/metadata/v1.json", "{ not json")
    intercept[Exception](GraftTable.currentSnapshot(spark, dir))
  }

  test("empty input commits an empty complete snapshot") {
    import spark.implicits._
    val dir = tmpDir("empty")
    val empty = Seq.empty[TokenRow].toDF()
    val res = GraftTable.encode(empty, dir)
    assert(res.complete && res.rowCount == 0)
    assert(GraftTable.decode(spark, dir).count() == 0)
    // an empty re-encode, even with a block filter, returns the empty
    // snapshot it matches and commits no version, in both lanes
    val filtered = GraftTable.Options(blockFilter = Some(_ => true))
    val again = GraftTable.encode(empty, dir, filtered)
    assert(again.version == 1 && again.snapshotId == res.snapshotId)
    val genDir = tmpDir("empty-generic")
    val genEmpty = spark.read.parquet(s"$SfDir/documents.parquet").limit(0)
    val g1 = GenericTable.encode(genEmpty, genDir)
    val g2 = GenericTable.encode(genEmpty, genDir, opts = filtered)
    assert(g1.version == 1 && g2.version == 1 && g2.snapshotId == g1.snapshotId)
    assert(GraftTable.lineage(spark, genDir).map(_.version) == Seq(1))
  }

  test("non-numeric doc_ids fall back to the hash key strategy and round-trip") {
    import spark.implicits._
    val alpha = source.toDF()
      .withColumn("doc_id", concat(lit("doc-"), col("doc_id")))
    val dir = tmpDir("hashkey")
    val res = GraftTable.encode(alpha, dir, GraftTable.Options(targetRowsPerBlock = 64))
    assert(res.complete && res.rowCount == 500)
    assert(res.numBlocks > 1) // hash keys still spread into range blocks
    val decoded = GraftTable.decode(spark, dir)
      .toDF().select("doc_id").as[String].collect().sorted
    val expected = alpha.select("doc_id").as[String].collect().sorted
    assert(decoded.sameElements(expected))
  }

  test("resume-confirm: token permutation under identical scalar stats re-encodes") {
    // reverse one doc's tokens: row count, token totals, per-row n_tok,
    // (doc_id, n_tok, source) xor, and global token min/max all hold — the
    // scalar fingerprint CANNOT see this; the decode-and-compare confirm
    // must (ADVICE r1: silently serving the stale table was the failure)
    val dir = tmpDir("valconfirm")
    val opts = GraftTable.Options(targetRowsPerBlock = 128)
    val r1 = GraftTable.encode(source.toDF(), dir, opts)
    val altered = source.toDF().withColumn("tokens",
      when(col("doc_id") === "0", reverse(col("tokens"))).otherwise(col("tokens")))
    // sanity: the permutation is real
    assert(altered.where(col("doc_id") === "0").head().getSeq[Int](1) !=
      source.toDF().where(col("doc_id") === "0").head().getSeq[Int](1))
    val r2 = GraftTable.encode(altered, dir, opts)
    assert(r2.version == r1.version + 1, "stale table served for changed tokens")
    assert(r2.blocksEncodedThisRun == r2.numBlocks.toLong)
    // the table now decodes the ALTERED rows
    val dec0 = GraftTable.decode(spark, dir).toDF()
      .where(col("doc_id") === "0").head().getSeq[Int](1)
    assert(dec0 == altered.where(col("doc_id") === "0").head().getSeq[Int](1))
    // and an unchanged re-run still no-ops (confirm passes)
    val r3 = GraftTable.encode(altered, dir, opts)
    assert(r3.blocksEncodedThisRun == 0 && r3.snapshotId == r2.snapshotId)
  }

  test("decodeRange keeps blocks with non-numeric manifest bounds (NULL-cast prune)") {
    import spark.implicits._
    // ~200 non-numeric ids (hash keys, interleaving negatives/positives)
    // around 20 numeric ids: the numeric rows land inside blocks whose
    // doc_id_min/max are NON-numeric, which the old prune cast to NULL and
    // dropped — silently losing in-range rows
    val rows = (0 until 200).map(i =>
      TokenRow(s"alpha-$i", Array(i % 31), 1, "s")) ++
      (1 to 20).map(i => TokenRow(i.toString, Array(i % 31), 1, "s"))
    val dir = tmpDir("nullprune")
    val res = GraftTable.encode(rows.toDF(), dir,
      GraftTable.Options(targetRowsPerBlock = 64))
    assert(res.complete && res.numBlocks > 1)
    val got: Array[Long] = GraftTable.decodeRange(spark, dir, 5L, 15L)
      .select("doc_id").as[String].collect().map(_.toLong).sorted
    val want: Array[Long] = (5L to 15L).toArray
    assert(got.sameElements(want), s"decodeRange lost rows: ${got.mkString(",")}")
  }

  test("resume-confirm is multiplicity-sensitive (even-count changes re-encode)") {
    import spark.implicits._
    // two copies of the SAME row: the row-hash XOR over the table is 0, so
    // replacing both rows with two copies of a DIFFERENT row (same doc_id /
    // n_tok / source, same token min & max, permutation-closed) also xors
    // to 0 — the xor check alone would serve the stale table (ADVICE r2);
    // the wrapping row-hash SUM differs and must force a re-encode
    val orig = Seq(
      TokenRow("1", Array(1, 5, 5), 3, "s"),
      TokenRow("1", Array(1, 5, 5), 3, "s")).toDF()
    val changed = Seq(
      TokenRow("1", Array(5, 1, 1), 3, "s"),
      TokenRow("1", Array(5, 1, 1), 3, "s")).toDF()
    val dir = tmpDir("multiset")
    val r1 = GraftTable.encode(orig, dir)
    val r2 = GraftTable.encode(changed, dir)
    assert(r2.version == r1.version + 1,
      "stale table served: xor-cancelling token change not detected")
    val dec = GraftTable.decode(spark, dir).collect().map(_.tokens.toSeq)
    assert(dec.forall(_ == Seq(5, 1, 1)))
  }

  test("decodeWhere prunes on the manifest src_list and filters exactly") {
    import spark.implicits._
    // sources correlated with doc_id ranges → most blocks carry one source
    val rows = (0 until 1000).map(i =>
      TokenRow(i.toString, Array(i % 31, (i + 7) % 31), 2, s"src${i / 250}"))
    val dir = tmpDir("srczone")
    val res = GraftTable.encode(rows.toDF(), dir,
      GraftTable.Options(targetRowsPerBlock = 64))
    assert(res.complete)
    val src2 = GraftTable.decodeWhere(spark, dir, Seq("src2"))
    val got = src2
      .collect().map(r => (r.doc_id, r.tokens.toSeq, r.source)).sortBy(_._1.toLong)
    val want = rows.filter(_.source == "src2")
      .map(r => (r.doc_id, r.tokens.toSeq, r.source)).sortBy(_._1.toLong)
    assert(got.sameElements(want))
    // zone-map pruning is real: src2 occupies ~1/4 of the key space, so
    // the block count decodeWhere's scan reads must be well below the total
    val plan = src2.queryExecution.executedPlan.toString
    val touched = "blocks=(\\d+)/".r.findFirstMatchIn(plan).map(_.group(1).toInt)
      .getOrElse(fail(s"no pruned scan in the plan: $plan"))
    assert(touched < res.numBlocks / 2,
      s"no pruning: $touched of ${res.numBlocks} blocks")
    // multi-source select works too
    val two = GraftTable.decodeWhere(spark, dir, Seq("src0", "src3")).count()
    assert(two == rows.count(r => r.source == "src0" || r.source == "src3"))
  }

  test("input change invalidates resume (fingerprint mismatch → fresh encode)") {
    val dir = tmpDir("fp")
    val opts = GraftTable.Options(targetRowsPerBlock = 128)
    GraftTable.encode(source.toDF(), dir, opts)
    val altered = source.toDF()
      .withColumn("tokens", concat(col("tokens"), array(lit(1))))
      .withColumn("n_tok", col("n_tok") + 1)
    val r2 = GraftTable.encode(altered, dir, opts)
    assert(r2.version == 2)
    assert(r2.blocksEncodedThisRun == r2.numBlocks.toLong) // full re-encode
    val dec = GraftTable.decode(spark, dir)
    assert(dec.count() == 500)
    assert(dec.where(element_at(col("tokens"), -1) =!= 1).count() == 0)
  }

  test("a re-encode of changed or empty input records the current snapshot as its parent") {
    val dir = tmpDir("relineage")
    val opts = GraftTable.Options(targetRowsPerBlock = 128)
    val r1 = GraftTable.encode(source.toDF(), dir, opts)
    val changed = source.toDF().where(col("doc_id") =!= source.head().doc_id)
    val r2 = GraftTable.encode(changed, dir, opts)
    assert(r2.version == 2 && r2.snapshotId != r1.snapshotId)
    assert(GraftTable.lineage(spark, dir).head.parentId == Some(r1.snapshotId))
    val r3 = GraftTable.encode(source.toDF().where(col("doc_id") === "none"), dir, opts)
    assert(r3.version == 3 && r3.rowCount == 0 && r3.complete)
    assert(GraftTable.lineage(spark, dir).head.parentId == Some(r2.snapshotId))
  }
}
