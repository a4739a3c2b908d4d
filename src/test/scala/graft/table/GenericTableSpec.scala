package graft.table

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.sources.{GraftGenericInputPartition, GraftGenericPartitionReader}

/** Any-schema table tests (SURVEY.md §2.1 R3/R4): the generic encode →
  * decode path must round-trip arbitrary supported schemas bit-identically —
  * the direct analogue of ebenezer's arbitrary-thrift-struct serde specs,
  * over real testdata plus adversarial synthetic schemas (nulls, nested
  * structs, every scalar type, float bit patterns).
  */
class GenericTableSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def tmpDir(tag: String): String =
    Files.createTempDirectory(s"graft-gen-$tag").toString

  private def scansOf(df: DataFrame): Seq[BatchScanExec] =
    df.queryExecution.executedPlan.collect { case s: BatchScanExec => s }

  /** The input partitions the generic scan of `df` plans. */
  private def partitionsOf(df: DataFrame): Seq[GraftGenericInputPartition] =
    scansOf(df).head.scan.toBatch.planInputPartitions().toSeq
      .map(_.asInstanceOf[GraftGenericInputPartition])

  /** The payload columns a reader of `df`'s generic scan reads. */
  private def payloadColumnsOf(df: DataFrame): Set[String] = {
    val batch = scansOf(df).head.scan.toBatch
    val reader = batch.createReaderFactory().createReader(batch.planInputPartitions().head)
    try reader.asInstanceOf[GraftGenericPartitionReader].payloadColumns.toSet
    finally reader.close()
  }

  /** Order-insensitive exact comparison via two-sided except (null-safe). */
  private def assertSameRows(
      a: org.apache.spark.sql.DataFrame, b: org.apache.spark.sql.DataFrame): Unit = {
    assert(a.count() == b.count())
    assert(a.exceptAll(b).count() == 0, "decoded rows not in source")
    assert(b.exceptAll(a).count() == 0, "source rows not in decoded")
  }

  test("documents.parquet round-trips through the generic table bit-identically") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val dir = tmpDir("docs")
    val res = GenericTable.encode(docs, dir, opts = GraftTable.Options(targetRowsPerBlock = 64))
    assert(res.complete && res.rowCount == 500)
    assert(res.numBlocks > 1)
    val dec = GenericTable.decode(spark, dir)
    assert(dec.schema.fieldNames.toSeq == docs.schema.fieldNames.toSeq)
    assertSameRows(dec, docs)
    // extra columns beyond the token 4 are NOT silently dropped: lang and
    // n_chars survive with values
    assert(dec.where(col("lang").isNull || col("n_chars").isNull).count() == 0)
    // compressed below the source parquet footprint would be nice, but the
    // honest bound is plain bytes; assert both directions that matter
    assert(res.bytesTotal < res.plainBytes)
  }

  test("embeddings.parquet (array<float>) round-trips with exact bit patterns") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val dir = tmpDir("emb")
    val res = GenericTable.encode(emb, dir, keyCol = "vec_id")
    assert(res.complete && res.rowCount == emb.count())
    assertSameRows(GenericTable.decode(spark, dir), emb)
  }

  test("every supported scalar type + nulls + nested struct round-trips") {
    // built with expressions (not external Rows) so the fixture is
    // independent of the session's java8 datetime setting
    val base = (0 until 300).toDF("k")
    def maybe(c: org.apache.spark.sql.Column) =
      when(pmod(col("k"), lit(7)) === 3, lit(null)).otherwise(c)
    val deepT = "struct<y:string>"
    val df = base.select(
      col("k").cast("long").as("id"),
      maybe(pmod(col("k"), lit(100)).cast("byte")).as("b"),
      maybe((col("k") * 3).cast("short")).as("s"),
      maybe(col("k") * 11).as("i"),
      maybe(col("k").cast("long") * 1000000007L).as("l"),
      maybe(pmod(col("k"), lit(2)) === 0).as("flag"),
      maybe(date_add(lit("2020-01-01").cast("date"), col("k"))).as("d"),
      maybe(timestamp_micros(col("k").cast("long") * 86400000000L + col("k"))).as("ts"),
      maybe(concat(lit("value-"), col("k"), lit("-é中"))).as("str"),
      maybe(when(pmod(col("k"), lit(13)) === 0, lit(Double.NaN))
        .otherwise(col("k") * 0.1)).as("f64"),
      maybe(when(pmod(col("k"), lit(17)) === 0, lit(Float.NegativeInfinity))
        .otherwise(col("k").cast("float") * 0.5f)).as("f32"),
      maybe(encode(concat(lit("raw"), col("k")), "UTF-8")).as("raw"),
      maybe(slice(transform(sequence(lit(0), lit(3)), j => j * col("k")),
        lit(1), pmod(col("k"), lit(4)))).as("ai"),
      maybe(slice(transform(sequence(lit(0), lit(2)), j =>
        j.cast("long") * col("k") - 5L), lit(1), pmod(col("k"), lit(3)))).as("al"),
      maybe(slice(transform(sequence(lit(0), lit(2)), j =>
        concat(lit("s"), col("k"), lit("-"), j)), lit(1), pmod(col("k"), lit(3)))).as("as"),
      maybe(slice(transform(sequence(lit(0), lit(3)), j =>
        (j * col("k")).cast("float") / 3.0f), lit(1), pmod(col("k"), lit(4)))).as("af"),
      // nested: null struct vs struct-of-nulls vs full, all three shapes
      when(pmod(col("k"), lit(5)) === 0, lit(null))
        .when(pmod(col("k"), lit(5)) === 1,
          struct(lit(null).cast("int").as("x"), lit(null).cast(deepT).as("deep")))
        .otherwise(struct(col("k").as("x"),
          when(pmod(col("k"), lit(5)) === 2, lit(null).cast(deepT))
            .otherwise(struct(concat(lit("deep"), col("k")).as("y"))).as("deep")))
        .as("nested"))
    val dir = tmpDir("alltypes")
    val res = GenericTable.encode(df, dir, keyCol = "id",
      opts = GraftTable.Options(targetRowsPerBlock = 64))
    assert(res.complete && res.rowCount == 300)
    val dec = GenericTable.decode(spark, dir)
    assertSameRows(dec, df)
    // null-struct vs struct-of-nulls preserved exactly
    assert(dec.where(col("nested").isNull).count() == df.where(col("nested").isNull).count())
    assert(dec.where(col("nested").isNotNull && col("nested.x").isNull).count() ==
      df.where(col("nested").isNotNull && col("nested.x").isNull).count())
  }

  test("resume: unchanged input no-ops; any value change re-encodes") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val dir = tmpDir("resume")
    val r1 = GenericTable.encode(docs, dir)
    val r2 = GenericTable.encode(docs, dir)
    assert(r2.blocksEncodedThisRun == 0 && r2.snapshotId == r1.snapshotId)
    // change ONE value in a non-key column → fresh version
    val altered = docs.withColumn("lang",
      when(col("doc_id") === 7, lit("xx")).otherwise(col("lang")))
    val r3 = GenericTable.encode(altered, dir)
    assert(r3.version == r1.version + 1)
    assert(GenericTable.decode(spark, dir)
      .where(col("doc_id") === 7 && col("lang") === "xx").count() == 1)
  }

  test("partial resume: blockFilter run completes without re-encoding done blocks") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val dir = tmpDir("partial")
    val opts = GraftTable.Options(targetRowsPerBlock = 64)
    val r1 = GenericTable.encode(docs, dir,
      opts = opts.copy(blockFilter = Some(_ % 2 == 0)))
    assert(!r1.complete)
    val r2 = GenericTable.encode(docs, dir, opts = opts)
    assert(r2.complete)
    assert(r2.blocksEncodedThisRun == r2.numBlocks - r1.blocksDone)
    assertSameRows(GenericTable.decode(spark, dir), docs)
    // a filter selecting no block commits no block and no data dir; the
    // unfiltered encode of the same input then does all the work
    val dir0 = tmpDir("partial0")
    val r0 = GenericTable.encode(docs, dir0, opts = opts.copy(blockFilter = Some(_ => false)))
    assert(!r0.complete && r0.blocksDone == 0 && r0.rowCount == 0)
    assert(!Files.exists(java.nio.file.Paths.get(dir0, "data/v1")))
    val r0b = GenericTable.encode(docs, dir0, opts = opts)
    assert(r0b.complete && r0b.blocksEncodedThisRun == r0b.numBlocks && r0b.rowCount == 500)
    assertSameRows(GenericTable.decode(spark, dir0), docs)
  }

  test("determinism: independent encodes at different layouts byte-identical") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val dirA = tmpDir("detA")
    val dirB = tmpDir("detB")
    val a = GenericTable.encode(docs.repartition(1), dirA)
    val b = GenericTable.encode(docs.repartition(13), dirB)
    assert(a.contentSig == b.contentSig)
    assert(a.bytesTotal == b.bytesTotal)
  }

  test("column-pruned decodeSelect reads only the selected leaf payloads") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val dir = tmpDir("prune")
    GenericTable.encode(docs, dir)
    val dec = GenericTable.decodeSelect(spark, dir, Seq("doc_id", "lang"))
    assert(dec.schema.fieldNames.toSeq == Seq("doc_id", "lang"))
    assertSameRows(dec, docs.select("doc_id", "lang"))
    // the scan's reader reads ONLY the two wanted payload columns
    val m = payloadColumnsOf(dec)
    assert(m.size == 2, s"expected 2 payload columns read, got $m")
  }

  test("describe reports per-leaf codec selection; unsupported types fail loud") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val dir = tmpDir("describe")
    GenericTable.encode(docs, dir)
    val d = GenericTable.describe(spark, dir).collect()
    val cols = d.map(_.getString(0)).toSet
    assert(cols == Set("doc_id", "text", "lang", "source", "n_chars"))
    assert(d.forall(r => r.getAs[Long]("bytes") > 0))
    // genuinely unstorable types reject loud at plan time (not a silent
    // drop): calendar intervals have no storage kind
    val bad = docs.withColumn("m", expr("make_interval(0, 0, 0, 1, 0, 0, 0)"))
    val e = intercept[UnsupportedOperationException](
      GenericTable.encode(bad, tmpDir("bad")))
    assert(e.getMessage.contains("not supported"))
    // empty structs carry no leaf — rejected loud
    val bad2 = docs.withColumn("s", struct())
    val e2 = intercept[IllegalArgumentException](
      GenericTable.encode(bad2, tmpDir("bad2")))
    assert(e2.getMessage.contains("empty struct"))
    // array<struct<>> has no leg to carry the element count — rejected
    val bad3 = docs.withColumn("s", array(struct()))
    val e3 = intercept[IllegalArgumentException](
      GenericTable.encode(bad3, tmpDir("bad3")))
    assert(e3.getMessage.contains("empty struct"))
    // a NullType column (untyped lit(null)) has no storage kind — rejected
    val bad4 = docs.withColumn("z", lit(null))
    val e4 = intercept[UnsupportedOperationException](
      GenericTable.encode(bad4, tmpDir("bad4")))
    assert(e4.getMessage.contains("not supported"))
  }

  test("map columns round-trip via key/value shredding; SQL views route generically") {
    val base = (0 until 200).toDF("k")
    val df = base.select(
      col("k").cast("long").as("id"),
      when(pmod(col("k"), lit(5)) === 0, lit(null))
        .otherwise(map_from_arrays(
          slice(transform(sequence(lit(0), lit(3)), j => concat(lit("key"), j)),
            lit(1), pmod(col("k"), lit(4)) + 1),
          slice(transform(sequence(lit(0), lit(3)), j => j * col("k")),
            lit(1), pmod(col("k"), lit(4)) + 1))).as("attrs"))
    val dir = tmpDir("maps")
    val res = GenericTable.encode(df, dir, keyCol = "id")
    assert(res.complete && res.rowCount == 200)
    // set-ops can't compare MAP columns — compare canonical sorted entries
    def canon(d: DataFrame) =
      d.select(col("id"), sort_array(map_entries(col("attrs"))).as("entries"))
    assertSameRows(canon(GenericTable.decode(spark, dir)), canon(df))
    // null maps stay null; present maps keep exact key→value pairs
    assert(GenericTable.decode(spark, dir).where(col("attrs").isNull).count() ==
      df.where(col("attrs").isNull).count())
    // catalog registration routes generic tables to the generic decoder
    GraftCatalog.register(spark, s"$dir/catalog", "gen_maps", dir)
    val viaSql = spark.sql(
      "SELECT CAST(count(*) AS BIGINT) c, CAST(sum(size(attrs)) AS BIGINT) s FROM gen_maps").head()
    assert(viaSql.getLong(0) == 200)
    assert(viaSql.getLong(1) == df.agg(sum(size(col("attrs")))).head().getLong(0))
  }

  test("generic time travel: decodeAt(v1) after a re-encode returns the old table") {
    val base = (0 until 100).toDF("k").select(col("k").cast("long").as("id"),
      concat(lit("row"), col("k")).as("s"))
    val dir = tmpDir("gtt")
    GenericTable.encode(base.where(col("id") < 40), dir, keyCol = "id")
    GenericTable.encode(base, dir, keyCol = "id") // changed input → v2
    assert(GenericTable.decodeAt(spark, dir, 1).count() == 40)
    assert(GenericTable.decodeAt(spark, dir, 2).count() == 100)
    assertSameRows(GenericTable.decodeAt(spark, dir, 2), base)
  }

  test("null ARRAY ELEMENTS and null map values round-trip (no silent zeros)") {
    val base = (0 until 300).toDF("k")
    val df = base.select(
      col("k").cast("long").as("id"),
      // [k, null, k*2] every third row; whole-array null every 7th
      when(pmod(col("k"), lit(7)) === 0, lit(null)).otherwise(
        array(col("k"), when(pmod(col("k"), lit(3)) === 0, lit(null)).otherwise(col("k") * 2))
      ).as("xs"),
      array(when(pmod(col("k"), lit(5)) === 0, lit(null))
        .otherwise(concat(lit("e"), col("k")))).as("ss"),
      array(when(pmod(col("k"), lit(4)) === 0, lit(null))
        .otherwise(col("k").cast("double") / 100)).as("ds"),
      when(pmod(col("k"), lit(2)) === 0,
        map_from_arrays(array(lit("a")), array(when(pmod(col("k"), lit(6)) === 0, lit(null))
          .otherwise(col("k").cast("long"))))).as("m"))
    val dir = tmpDir("nullelems")
    GenericTable.encode(df, dir, keyCol = "id")
    val d = GenericTable.decode(spark, dir)
    def canon(x: DataFrame) = x.select(col("id"), col("xs"), col("ss"), col("ds"),
      map_entries(col("m")).as("me"))
    assertSameRows(canon(d), canon(df))
    // the nulls actually survived (not zeros): count them on both sides
    def nullElems(x: DataFrame) = x.agg(
      sum(size(filter(col("xs"), e => e.isNull))).cast("long"),
      sum(size(filter(col("ss"), e => e.isNull))).cast("long")).head()
    assert(nullElems(d) == nullElems(df))
    assert(nullElems(df).getLong(0) > 0 && nullElems(df).getLong(1) > 0)
  }

  test("generic append: same-schema batches accumulate and round-trip") {
    val mk = (lo: Int, hi: Int) => (lo until hi).toDF("k").select(
      col("k").cast("long").as("id"),
      concat(lit("text"), col("k")).as("s"),
      (col("k") * 2).cast("double").as("v"))
    val dir = tmpDir("gappend")
    GenericTable.encode(mk(0, 100), dir, keyCol = "id")
    val r = GenericTable.append(mk(100, 250), dir)
    assert(r.version == 2 && r.rowCount == 250)
    assertSameRows(GenericTable.decode(spark, dir), mk(0, 250))
    // empty batch is a no-op commit
    val r2 = GenericTable.append(mk(0, 0), dir)
    assert(r2.version == 2)
  }

  test("schema evolution: added and dropped columns null-fill per version") {
    val dir = tmpDir("gevolve")
    val v1 = (0 until 50).toDF("k").select(
      col("k").cast("long").as("id"), concat(lit("a"), col("k")).as("a"))
    GenericTable.encode(v1, dir, keyCol = "id")
    // v2 adds column b (old rows must read null)
    val v2 = (50 until 120).toDF("k").select(
      col("k").cast("long").as("id"), concat(lit("a"), col("k")).as("a"),
      (col("k") * 10).cast("long").as("b"))
    GenericTable.append(v2, dir)
    // v3 omits a entirely (its rows read null for a) and adds c
    val v3 = (120 until 150).toDF("k").select(
      col("k").cast("long").as("id"), lit(3.5).as("c"))
    GenericTable.append(v3, dir)

    val d = GenericTable.decode(spark, dir)
    assert(d.columns.toSeq == Seq("id", "a", "b", "c"))
    assert(d.count() == 150)
    assert(d.where(col("b").isNull).count() == 80) // v1 predates b, v3 omits it
    assert(d.where(col("a").isNull).count() == 30) // v3 dropped a
    assert(d.where(col("c").isNotNull).count() == 30)
    // every version's own values survive bit-identically
    val expect = v1.withColumn("b", lit(null).cast("long")).withColumn("c", lit(null).cast("double"))
      .unionByName(v2.withColumn("c", lit(null).cast("double")))
      .unionByName(v3.withColumn("a", lit(null).cast("string"))
        .withColumn("b", lit(null).cast("long")), allowMissingColumns = true)
      .select("id", "a", "b", "c")
    assertSameRows(d, expect)
    // column-pruned decode across evolved versions
    assert(GenericTable.decodeSelect(spark, dir, Seq("c")).where(col("c").isNotNull).count() == 30)
    // time travel sees the OLD schema before evolution
    assert(GenericTable.decodeAt(spark, dir, 1).columns.toSeq == Seq("id", "a"))
    // type change fails loud
    val bad = (0 until 5).toDF("k").select(
      col("k").cast("long").as("id"), col("k").as("a"))
    val e = intercept[IllegalArgumentException](GenericTable.append(bad, dir))
    assert(e.getMessage.contains("cannot change the type"))
    // describe labels per-version leaves by column name, not index
    val cols = GenericTable.describe(spark, dir)
      .select("column").distinct().collect().map(_.getString(0)).toSet
    assert(cols == Set("id", "a", "b", "c"))
  }

  test("generic decodeRange prunes on key zone maps across append versions") {
    val mk = (lo: Int, hi: Int) => (lo until hi).toDF("k").select(
      col("k").cast("long").as("id"), concat(lit("s"), col("k")).as("s"))
    val dir = tmpDir("grange")
    val opts = GraftTable.Options(targetRowsPerBlock = 64)
    GenericTable.encode(mk(0, 500), dir, keyCol = "id", opts)
    GenericTable.append(mk(500, 1000), dir, opts)
    val out = GenericTable.decodeRange(spark, dir, 480L, 520L)
    val got: Array[Long] = out.select("id").collect().map(_.getLong(0)).sorted
    val want: Array[Long] = (480L to 520L).toArray
    assert(got.sameElements(want), got.mkString(","))
    // the interval reaches the scan, and every partition applies it as a
    // key_min/key_max row-group + record filter
    val desc = scansOf(out).head.scan.description()
    assert(desc.contains("range=[480,520]"), desc)
    val parts = partitionsOf(out)
    assert(parts.nonEmpty && parts.forall(_.range.contains((480L, 520L))))
    // date and numeric-string keys have no SQL interval pushdown; the
    // pinned interval still skips every version outside it. Four versions
    // of 200 rows; version i holds rows [200 (i - 1), 200 i).
    def fourVersions(tag: String, rows: (Int, Int) => DataFrame, key: String,
        lo: Long, hi: Long, want: DataFrame): Unit = {
      val d = tmpDir(tag)
      GenericTable.encode(rows(0, 200), d, keyCol = key, opts)
      (1 until 4).foreach(i => GenericTable.append(rows(i * 200, i * 200 + 200), d, opts))
      val slice = GenericTable.decodeRange(spark, d, lo, hi)
      assert(partitionsOf(slice).map(_.version).toSet == Set(2), tag)
      assert(partitionsOf(GenericTable.decode(spark, d)).map(_.version).toSet == Set(1, 2, 3, 4))
      assertSameRows(slice, want)
    }
    val byDay = (lo: Int, hi: Int) => (lo until hi).toDF("i").select(
      date_add(lit("2024-01-01").cast("date"), col("i")).as("d"),
      concat(lit("v"), col("i")).as("v"))
    val day0 = java.time.LocalDate.of(2024, 1, 1).toEpochDay
    fourVersions("range-date", byDay, "d", day0 + 250, day0 + 300, byDay(250, 301))
    val byNumStr = (lo: Int, hi: Int) => (lo until hi).toDF("i").select(
      (col("i") * 3).cast("string").as("s"), col("i").cast("long").as("n"))
    fourVersions("range-numstr", byNumStr, "s", 750L, 900L, byNumStr(250, 301))
  }

  test("decimal columns round-trip exactly through unscaled-long storage") {
    val df = (0 until 500).toDF("k").select(
      col("k").cast("long").as("id"),
      when(pmod(col("k"), lit(9)) === 0, lit(null)).otherwise(
        ((col("k") * 7919 - 1500000).cast("decimal(18,4)") / 100).cast("decimal(12,2)"))
        .as("price"),
      (col("k").cast("decimal(5,0)") * -3).cast("decimal(9,3)").as("qty"))
    val dir = tmpDir("decimals")
    GenericTable.encode(df, dir, keyCol = "id")
    val d = GenericTable.decode(spark, dir)
    assert(d.schema("price").dataType == DecimalType(12, 2))
    assert(d.schema("qty").dataType == DecimalType(9, 3))
    assertSameRows(d, df)
  }

  test("wide decimals (precision 19..38) round-trip exactly via string leaves") {
    val df = (0 until 300).toDF("k").select(
      col("k").cast("long").as("id"),
      when(pmod(col("k"), lit(9)) === 0, lit(null)).otherwise(
        (col("k").cast("decimal(38,0)") * lit(BigDecimal("12345678901234567890")) + 7)
          .cast("decimal(38,0)").divide(lit(1000000000L)).cast("decimal(38,10)"))
        .as("wide"),
      (col("k").cast("decimal(20,0)") * -3).cast("decimal(25,5)").as("w2"))
    assert(df.schema("wide").dataType == DecimalType(38, 10))
    val dir = tmpDir("decwide")
    GenericTable.encode(df, dir, keyCol = "id",
      opts = GraftTable.Options(targetRowsPerBlock = 64))
    val dec = GenericTable.decode(spark, dir)
    assert(dec.schema("wide").dataType == DecimalType(38, 10))
    assert(dec.schema("w2").dataType == DecimalType(25, 5))
    assertSameRows(dec, df)
    // and through the DSv2 connector
    assertSameRows(spark.read.format("graft").load(dir), df)
  }

  test("maps with struct values + temporal/decimal arrays round-trip") {
    val df = spark.sql("""
      SELECT id,
             CASE WHEN id % 6 = 0 THEN NULL ELSE
               map(concat('k', id), named_struct('n', CAST(id AS INT), 's', concat('v', id)))
             END AS ms,
             CASE WHEN id % 5 = 0 THEN NULL ELSE
               array(date_add(DATE '2021-06-01', CAST(id AS INT)), NULL,
                     DATE '1999-12-31')
             END AS ds,
             array(timestamp_micros(id * 1000000 + 1)) AS ts,
             array(CAST(id AS DECIMAL(9,3)) / 7,
                   CAST(NULL AS DECIMAL(9,3))) AS small_dec,
             array(CAST(id AS DECIMAL(30,10)) * 12345678901 / 7) AS wide_dec
      FROM range(0, 250)
    """)
    val dir = tmpDir("mapstruct")
    GenericTable.encode(df, dir, keyCol = "id",
      opts = GraftTable.Options(targetRowsPerBlock = 64))
    val dec = GenericTable.decode(spark, dir)
    assert(dec.schema("ms").dataType.catalogString == df.schema("ms").dataType.catalogString)
    assert(dec.count() == 250)
    // MAP columns reject set ops — compare sorted row renderings
    val want = df.orderBy("id").collect().map(_.toString)
    assert(dec.orderBy("id").collect().map(_.toString).sameElements(want))
    assert(spark.read.format("graft").load(dir)
      .orderBy("id").collect().map(_.toString).sameElements(want))
  }

  test("many same-schema versions decode via ONE scan branch; range skips versions") {
    val dir = tmpDir("manyver")
    val opts = GraftTable.Options(targetRowsPerBlock = 64)
    val mk = (lo: Int, hi: Int) => (lo until hi).toDF("k").select(
      col("k").cast("long").as("id"), concat(lit("s"), col("k")).as("s"))
    GenericTable.encode(mk(0, 100), dir, keyCol = "id", opts)
    (1 until 12).foreach(i => GenericTable.append(mk(i * 100, i * 100 + 100), dir, opts))
    val dec = GenericTable.decode(spark, dir)
    assert(dec.count() == 1200)
    // a streamed table (one version per micro-batch) must not union one
    // plan branch per version: 12 versions plan as ONE scan
    assert(scansOf(dec).length == 1, dec.queryExecution.executedPlan.toString.take(3000))
    // a schema EVOLUTION (new leaf plan) still plans one scan: each
    // partition decodes under its own version's write schema
    GenericTable.append(
      mk(1200, 1300).withColumn("extra", lit(1)), dir, opts)
    val dec2 = GenericTable.decode(spark, dir)
    assert(scansOf(dec2).length == 1, dec2.queryExecution.executedPlan.toString.take(3000))
    // decodeRange consults the manifest's per-version key spans and drops
    // whole versions' data dirs before any parquet footer is opened
    val snap = GraftTable.currentSnapshot(spark, dir).get
    assert(snap.dataDirs.length == 13)
    val dirs = GenericTable.rangeDataDirs(spark, dir, snap, 250, 260)
    assert(dirs.length == 1, dirs.mkString(","))
    val got: Array[Long] = GenericTable.decodeRange(spark, dir, 250, 260)
      .select("id").as[Long].collect().sorted
    val want: Array[Long] = (250L to 260L).toArray
    assert(got.sameElements(want))
  }

  test("high-scale decimals (scale 7..18) round-trip exactly, incl. compact") {
    // scale >= 7 is the regime where a (38,0)-cast restore overflows
    // precision 38 and Spark silently clamps the product scale to 6 —
    // these columns must survive decode AND a compaction rewrite
    val df = (0 until 300).toDF("k").select(
      col("k").cast("long").as("id"),
      (col("k").cast("decimal(10,0)") * 17 - 2000)
        .cast("decimal(18,0)").divide(lit(100000000L)).cast("decimal(10,8)").as("d8"),
      when(pmod(col("k"), lit(7)) === 0, lit(null)).otherwise(
        (col("k").cast("decimal(18,0)") * 1234567 + 11)
          .divide(lit(1000000000000000000L)).cast("decimal(18,18)")).as("d18"),
      (col("k").cast("decimal(18,0)") - 150)
        .divide(lit(10000000L)).cast("decimal(18,7)").as("d7"))
    assert(df.schema("d18").dataType == DecimalType(18, 18))
    val dir = tmpDir("decscale")
    val opts = GraftTable.Options(targetRowsPerBlock = 64)
    GenericTable.encode(df, dir, keyCol = "id", opts)
    val dec = GenericTable.decode(spark, dir)
    assert(dec.schema("d8").dataType == DecimalType(10, 8))
    assert(dec.schema("d18").dataType == DecimalType(18, 18))
    assertSameRows(dec, df)
    // compaction rewrites stored data through decode→encode: fragment the
    // table first so compact actually rewrites, then recheck every digit
    GenericTable.append(df.withColumn("id", col("id") + 300), dir, opts)
    GenericTable.append(df.withColumn("id", col("id") + 600), dir, opts)
    GenericTable.compact(spark, dir, opts)
    val shifted = df.unionAll(df.withColumn("id", col("id") + 300))
      .unionAll(df.withColumn("id", col("id") + 600))
    assertSameRows(GenericTable.decode(spark, dir), shifted)
  }

  test("resume fingerprint distinguishes null position across leaves") {
    // Spark's multi-arg xxhash64 skips null children, so under a flat
    // row hash (null,'x') and ('x',null) collide: count/xor/sum/schema
    // all match and a changed input would resume as a no-op, silently
    // serving stale data. The per-leaf inner hash must break the tie.
    val a = Seq((1L, Option.empty[String], Option("x")))
      .toDF("id", "u", "v")
    val b = Seq((1L, Option("x"), Option.empty[String]))
      .toDF("id", "u", "v")
    val dir = tmpDir("nullpos")
    val r1 = GenericTable.encode(a, dir, keyCol = "id")
    val r2 = GenericTable.encode(b, dir, keyCol = "id")
    assert(r2.version > r1.version, "swapped-null input must not resume as a no-op")
    val rows = GenericTable.decode(spark, dir).collect()
    assert(rows.length == 1 && rows(0).getString(1) == "x" && rows(0).isNullAt(2))
  }

  test("array-of-struct round-trips bit-identically (thrift list<struct> shape)") {
    val df = spark.sql("""
      SELECT id,
             CASE
               WHEN id % 7 = 0 THEN CAST(NULL AS
                 ARRAY<STRUCT<a: INT, b: STRING, c: DOUBLE, d: DECIMAL(9,4),
                              e: DATE, f: TIMESTAMP, g: BOOLEAN>>)
               WHEN id % 7 = 1 THEN array()
               ELSE array_repeat(
                 CASE WHEN id % 5 = 0 THEN NULL ELSE
                   named_struct(
                     'a', CAST(id * 3 AS INT),
                     'b', CASE WHEN id % 3 = 0 THEN NULL ELSE concat('s', id) END,
                     'c', id * 1.5d,
                     'd', CAST(id AS DECIMAL(9,4)) / 7,
                     'e', date_add(DATE '2020-01-01', CAST(id AS INT)),
                     'f', timestamp_micros(id * 1000000),
                     'g', id % 2 = 0)
                 END,
                 CAST(id % 4 + 1 AS INT))
             END AS xs
      FROM range(0, 300)
    """)
    val dir = tmpDir("arrstruct")
    GenericTable.encode(df, dir, keyCol = "id",
      opts = GraftTable.Options(targetRowsPerBlock = 64))
    val dec = GenericTable.decode(spark, dir)
    assert(dec.schema("xs").dataType.catalogString ==
      df.schema("xs").dataType.catalogString)
    assertSameRows(dec, df)
    // the DSv2 connector assembles the same rows
    val via = spark.read.format("graft").load(dir)
    assertSameRows(via, df)
    // map-typed map keys (no total equality) fail loud. Spark's own
    // analyzer refuses to CONSTRUCT such a map, so the hostile schema
    // has to arrive via createDataFrame — the reject must still fire at
    // plan time, before any data is touched.
    val badSchema = StructType(Seq(
      StructField("id", LongType),
      StructField("xs",
        MapType(MapType(StringType, IntegerType), IntegerType))))
    val bad = spark.createDataFrame(
      new java.util.ArrayList[Row](), badSchema)
    val e = intercept[IllegalArgumentException](
      GenericTable.encode(bad, tmpDir("arrstructbad"), keyCol = "id"))
    assert(e.getMessage.contains("map"))
  }

  test("list<list<scalar>> round-trips (nested repetition, nulls at all levels)") {
    val df = spark.sql("""
      SELECT id,
             CASE
               WHEN id % 11 = 0 THEN CAST(NULL AS ARRAY<ARRAY<INT>>)
               WHEN id % 11 = 1 THEN array()
               ELSE array(
                 array(CAST(id AS INT), CAST(NULL AS INT), CAST(id * 2 AS INT)),
                 CAST(NULL AS ARRAY<INT>),
                 array(),
                 array(CAST(id * 3 AS INT)))
             END AS xi,
             CASE WHEN id % 7 = 0 THEN NULL ELSE
               array(array(concat('a', id), NULL), array(), array(concat('b', id)))
             END AS xs,
             array(array(timestamp_micros(id * 1000000))) AS xt
      FROM range(0, 300)
    """)
    val dir = tmpDir("listlist")
    GenericTable.encode(df, dir, keyCol = "id",
      opts = GraftTable.Options(targetRowsPerBlock = 64))
    val dec = GenericTable.decode(spark, dir)
    assert(dec.schema("xi").dataType.catalogString == "array<array<int>>")
    assertSameRows(dec, df)
    assertSameRows(spark.read.format("graft").load(dir), df)
  }

  test("arbitrary-depth nesting round-trips (depth-3 arrays, list<map>, " +
    "struct-keyed maps, list<struct> with nested fields)") {
    val df = spark.sql("""
      SELECT id,
             -- depth 3 with nulls at every level
             CASE
               WHEN id % 13 = 0 THEN CAST(NULL AS ARRAY<ARRAY<ARRAY<INT>>>)
               WHEN id % 13 = 1 THEN array()
               ELSE array(
                 array(array(CAST(id AS INT), CAST(NULL AS INT)), array(),
                       CAST(NULL AS ARRAY<INT>)),
                 CAST(NULL AS ARRAY<ARRAY<INT>>),
                 array(array(CAST(id * 2 AS INT))))
             END AS a3,
             -- list<map<string,long>> with null maps and empty maps
             CASE WHEN id % 7 = 0 THEN NULL ELSE
               array(map(concat('k', id), id * 10),
                     CAST(NULL AS MAP<STRING, BIGINT>),
                     map())
             END AS lm,
             -- struct-keyed map (thrift map<struct,...> parity)
             map(named_struct('x', CAST(id AS INT), 'y', concat('s', id)),
                 id * 1.5d) AS mk,
             -- list<struct> whose fields are themselves nested
             CASE WHEN id % 11 = 0 THEN NULL ELSE
               array(named_struct(
                 'tags', CASE WHEN id % 3 = 0 THEN NULL
                              ELSE array(concat('t', id), NULL) END,
                 'kv', map(CAST(id AS INT), timestamp_micros(id * 1000000)),
                 'inner', named_struct('p', CAST(id AS DECIMAL(30,6)) / 7,
                                       'q', id % 2 = 0),
                 'deep', array(array(CAST(id AS BIGINT), NULL), array())))
             END AS ls
      FROM range(0, 300)
    """)
    val dir = tmpDir("deepnest")
    GenericTable.encode(df, dir, keyCol = "id",
      opts = GraftTable.Options(targetRowsPerBlock = 64))
    val dec = GenericTable.decode(spark, dir)
    assert(dec.schema("a3").dataType.catalogString == "array<array<array<int>>>")
    // MAP columns forbid set ops — compare canonical row renderings
    def canon(d: org.apache.spark.sql.DataFrame): Seq[String] =
      d.selectExpr("id", "to_json(struct(a3, lm, mk, ls)) AS j")
        .collect().map(r => s"${r.getLong(0)}|${r.getString(1)}").sorted.toSeq
    assert(canon(dec) == canon(df))
    assert(canon(spark.read.format("graft").load(dir)) == canon(df))
    // column pruning still works on a deep column
    val pruned = GenericTable.decodeSelect(spark, dir, Seq("id", "a3"))
    assert(pruned.columns.toSeq == Seq("id", "a3"))
    assert(pruned.count() == 300)
  }

  test("null range keys encode, decode, and stay OUT of range results") {
    val df = (0 until 300).toDF("k").select(
      when(pmod(col("k"), lit(4)) === 0, lit(null))
        .otherwise(col("k").cast("long")).as("id"),
      concat(lit("v"), col("k")).as("v"))
    val dir = tmpDir("nullkey")
    GenericTable.encode(df, dir, keyCol = "id",
      opts = GraftTable.Options(targetRowsPerBlock = 64))
    val dec = GenericTable.decode(spark, dir)
    assert(dec.count() == 300)
    assert(dec.where(col("id").isNull).count() == 75)
    assertSameRows(dec, df)
    // a key-range slice never returns null-key rows (SQL BETWEEN is
    // null-false), even though they hash into SOME block's key span
    val r = GenericTable.decodeRange(spark, dir, 100L, 140L)
    val ids = r.select("id").collect().map(_.getLong(0)).sorted
    val want: Array[Long] = (100L to 140L).filter(_ % 4 != 0).toArray
    assert(ids.sameElements(want), ids.mkString(","))
    // same through the connector's pushed interval
    val via = spark.read.format("graft").load(dir)
      .where(col("id").between(100L, 140L))
      .select("id").collect().map(_.getLong(0)).sorted
    assert(via.sameElements(want))
    // a range CONTAINING the null-hash value (xxhash64 of null = the seed,
    // 42) must still exclude null-key rows — the residual filter cannot
    // rely on the hashed key alone
    val r42 = GenericTable.decodeRange(spark, dir, 0L, 100L)
    assert(r42.where(col("id").isNull).count() == 0)
    val ids42 = r42.select("id").collect().map(_.getLong(0)).sorted
    val want42: Array[Long] = (0L to 100L).filter(_ % 4 != 0).toArray
    assert(ids42.sameElements(want42), ids42.mkString(","))
  }

  test("copy-on-write deletes: only affected versions rewrite; null keys survive") {
    val dir = tmpDir("del")
    val opts = GraftTable.Options(targetRowsPerBlock = 64)
    val mk = (lo: Int, n: Int) => (lo until lo + n).toDF("k").select(
      col("k").cast("long").as("id"), concat(lit("s"), col("k")).as("s"))
    GenericTable.encode(mk(0, 200), dir, keyCol = "id", opts)
    GenericTable.append(mk(200, 200), dir, opts)
    GenericTable.append(mk(400, 200), dir, opts)
    def mtimes(ver: Int): Map[String, Long] =
      new java.io.File(s"$dir/data/v$ver").listFiles()
        .filter(_.getName.endsWith(".parquet"))
        .map(f => f.getName -> f.lastModified()).toMap
    val (m1, m2) = (mtimes(1), mtimes(2))

    // range delete: only v3 holds [450, 470] — v1/v2 stay BY REFERENCE
    val r = GenericTable.deleteRange(spark, dir, 450L, 470L)
    assert(r.version == 4)
    val dec = GenericTable.decode(spark, dir)
    assert(dec.count() == 579)
    assert(dec.where(col("id").between(450L, 470L)).count() == 0)
    assert(dec.agg(sum("id")).head().getLong(0) ==
      (0L until 600L).sum - (450L to 470L).sum)
    val snap = GraftTable.currentSnapshot(spark, dir).get
    assert(snap.dataDirs.contains("data/v1") && snap.dataDirs.contains("data/v2"))
    assert(!snap.dataDirs.contains("data/v3") && snap.dataDirs.contains("data/v4"))
    assert(mtimes(1) == m1 && mtimes(2) == m2, "kept versions must not rewrite")

    // predicate delete on a NON-key column: detection finds the versions,
    // everything else stays by reference (v4 was just written)
    val m4 = mtimes(4)
    val r2 = GenericTable.deleteWhere(spark, dir,
      col("s").isin("s10", "s300"))
    assert(r2.version == 5)
    val dec2 = GenericTable.decode(spark, dir)
    assert(dec2.count() == 577)
    assert(dec2.where(col("s").isin("s10", "s300")).count() == 0)
    assert(mtimes(4) == m4, "v4 holds no matching row - must not rewrite")
    val snap2 = GraftTable.currentSnapshot(spark, dir).get
    assert(snap2.dataDirs.contains("data/v4"))
    assert(!snap2.dataDirs.contains("data/v1") && !snap2.dataDirs.contains("data/v2"))

    // no-match delete is a committed no-op (same version, nothing rewritten)
    val r3 = GenericTable.deleteWhere(spark, dir, col("s") === "nope")
    assert(r3.version == r2.version)

    // COW'd-away versions are GC-able: expireSnapshots removes their data
    // dirs (the audit-trail metadata JSONs stay), and the table still reads
    val gone = GraftTable.expireSnapshots(spark, dir)
    assert(gone.contains("data/v3"), gone.mkString(","))
    assert(!new java.io.File(s"$dir/data/v3").exists)
    assert(GenericTable.decode(spark, dir).count() == 577)

    // the DSv2 connector serves the post-delete table identically
    assert(spark.read.format("graft").load(dir).count() == 577)

    // full-table delete: every version empties, the snapshot commits with
    // zero data dirs, and the table still decodes (as empty) and accepts
    // a fresh append
    val dir3 = tmpDir("delall")
    GenericTable.encode(mk(0, 100), dir3, keyCol = "id", opts)
    GenericTable.append(mk(100, 100), dir3, opts)
    val rAll = GenericTable.deleteWhere(spark, dir3, lit(true))
    assert(rAll.rowCount == 0)
    assert(GenericTable.decode(spark, dir3).count() == 0)
    assert(GraftTable.currentSnapshot(spark, dir3).get.dataDirs.isEmpty)
    GenericTable.append(mk(500, 50), dir3, opts)
    assert(GenericTable.decode(spark, dir3).count() == 50)

    // null keys: a range delete containing the null-hash value (42) must
    // never delete null-key rows
    val dir2 = tmpDir("delnull")
    val withNulls = (0 until 100).toDF("k").select(
      when(pmod(col("k"), lit(4)) === 0, lit(null))
        .otherwise(col("k").cast("long")).as("id"),
      concat(lit("v"), col("k")).as("v"))
    GenericTable.encode(withNulls, dir2, keyCol = "id", opts)
    GenericTable.deleteRange(spark, dir2, 0L, 100L)
    val kept = GenericTable.decode(spark, dir2)
    assert(kept.where(col("id").isNull).count() == 25,
      "null-key rows must survive any range delete")
    assert(kept.where(col("id").isNotNull).count() == 0)
  }

  test("binary arrays round-trip, including inside structs and nesting") {
    val df = spark.sql("""
      SELECT id,
             CASE
               WHEN id % 7 = 0 THEN CAST(NULL AS ARRAY<BINARY>)
               WHEN id % 7 = 1 THEN array()
               ELSE array(CAST(concat('b', id) AS BINARY),
                          CAST(NULL AS BINARY),
                          CAST('' AS BINARY))
             END AS ab,
             array(named_struct(
               'payload', array(CAST(concat('p', id) AS BINARY)),
               'tag', CAST(id AS INT))) AS ls,
             array(array(CAST(concat('d', id) AS BINARY)), array()) AS aab
      FROM range(0, 300)
    """)
    val dir = tmpDir("binarr")
    GenericTable.encode(df, dir, keyCol = "id",
      opts = GraftTable.Options(targetRowsPerBlock = 64))
    val dec = GenericTable.decode(spark, dir)
    assert(dec.schema("ab").dataType.catalogString == "array<binary>")
    def canon(d: org.apache.spark.sql.DataFrame): Seq[String] =
      d.selectExpr("id",
        "to_json(named_struct('ab', transform(ab, x -> base64(x)), " +
          "'ls', transform(ls, s -> named_struct('p', transform(s.payload, x -> base64(x)), 't', s.tag)), " +
          "'aab', transform(aab, a -> transform(a, x -> base64(x))))) AS j")
        .collect().map(r => s"${r.getLong(0)}|${r.getString(1)}").sorted.toSeq
    assert(canon(dec) == canon(df))
    // the connector assembles identical rows
    assert(canon(spark.read.format("graft").load(dir)) == canon(df))
  }

  test("deleteWhere on an evolved table: NULL predicate keeps pre-evolution rows") {
    val dir = tmpDir("delevo")
    val opts = GraftTable.Options(targetRowsPerBlock = 64)
    val v1 = (0 until 100).toDF("k").select(
      col("k").cast("long").as("id"), concat(lit("a"), col("k")).as("a"))
    GenericTable.encode(v1, dir, keyCol = "id", opts)
    val v2 = (100 until 200).toDF("k").select(
      col("k").cast("long").as("id"), concat(lit("a"), col("k")).as("a"),
      (col("k") % 10).cast("long").as("b"))
    GenericTable.append(v2, dir, opts)
    def m1 = new java.io.File(s"$dir/data/v1").listFiles()
      .filter(_.getName.endsWith(".parquet"))
      .map(f => f.getName -> f.lastModified()).toMap
    val before = m1
    // predicate on the EVOLVED column: v1 rows read null for b, and NULL
    // never matches TRUE — v1 must not be touched, let alone rewritten
    GenericTable.deleteWhere(spark, dir, col("b") === 3L)
    val dec = GenericTable.decode(spark, dir)
    assert(dec.count() == 190) // 10 of v2's 100 rows had b = 3
    assert(dec.where(col("b") === 3L).count() == 0)
    assert(dec.where(col("id") < 100).count() == 100, "v1 rows must survive")
    assert(m1 == before, "v1 predates `b` - it must stay by reference")
    assert(dec.schema.fieldNames.toSeq == Seq("id", "a", "b"))
    // more versions, one more of them evolved: each row reads the version
    // of the data dir holding it, and only the versions with a match rewrite
    GenericTable.append((200 until 300).toDF("k").select(
      col("k").cast("long").as("id"), concat(lit("a"), col("k")).as("a")), dir, opts)
    GenericTable.append(v2.select((col("id") + 200).as("id"), col("a"), col("b"),
      lit(1).as("c")), dir, opts)
    val snap = GraftTable.currentSnapshot(spark, dir).get
    val tagged = GenericTable.decode(spark, dir)
      .select(col("id"), col(graft.sources.GraftGenericScan.VersionColumn.name()))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(tagged.size == 390)
    assert(tagged.values.toSet == snap.dataDirs.map(GraftTable.versionOfDir).toSet)
    assert(tagged.filter(_._1 < 100).values.toSet == Set(1))
    assert(tagged.filter(_._1 >= 300).values.toSet == Set(snap.version))
    GenericTable.deleteWhere(spark, dir, col("b") === 4L && col("id") >= 300L)
    val after = GraftTable.currentSnapshot(spark, dir).get
    assert(after.dataDirs.toSet ==
      (snap.dataDirs.toSet - s"data/v${snap.version}") + s"data/v${after.version}")
    val left = GenericTable.decode(spark, dir)
    assert(left.count() == 380 && left.where(col("b") === 4L).count() == 10)
    // the metadata column's name cannot name a data column: the _graft
    // prefix is reserved on encode and on append
    val clash = (0 until 10).toDF("k").select(
      col("k").cast("long").as("id"), col("k").as("_graft_version"))
    for (write <- Seq[() => Any](
        () => GenericTable.encode(clash, tmpDir("delclash"), keyCol = "id"),
        () => GenericTable.append(clash, dir, opts))) {
      val e = intercept[IllegalArgumentException](write())
      assert(e.getMessage.contains("_graft prefix is reserved"), e.getMessage)
    }
  }

  test("deleteWhere resolves nested-field and case-mismatched references") {
    // ADVICE r5: a predicate mixing a top-level column with a nested-field
    // reference (st.f) or a case-mismatched name must not make the
    // column-pruned detection scan drop a needed column (which threw
    // AnalysisException); the nested reference scans its parent column
    val dir = tmpDir("delnest")
    val opts = GraftTable.Options(targetRowsPerBlock = 64)
    val rows = (0 until 100).toDF("k").select(
      col("k").cast("long").as("id"),
      struct((col("k") % 7).cast("long").as("f")).as("st"),
      concat(lit("s"), col("k")).as("s"))
    GenericTable.encode(rows, dir, keyCol = "id", opts)
    // mixed top-level + nested reference
    GenericTable.deleteWhere(spark, dir,
      col("id") < 10L && col("st.f") === 3L)
    val dec = GenericTable.decode(spark, dir)
    assert(dec.count() == 99) // only id 3 has id < 10 AND id % 7 == 3
    assert(dec.where(col("id") < 10L && col("st.f") === 3L).count() == 0)
    // case-mismatched top-level name still prunes + deletes correctly
    GenericTable.deleteWhere(spark, dir, expr("ID = 50"))
    assert(GenericTable.decode(spark, dir).where(col("id") === 50L).count() == 0)
  }

  test("deleteKeys + upsertByKey: exact key replacement, span-pruned rewrite") {
    val dir = tmpDir("upsert")
    val opts = GraftTable.Options(targetRowsPerBlock = 64)
    val mk = (lo: Int, n: Int) => (lo until lo + n).toDF("k").select(
      col("k").cast("long").as("id"), concat(lit("a"), col("k")).as("s"))
    GenericTable.encode(mk(0, 200), dir, keyCol = "id", opts)
    GenericTable.append(mk(200, 200), dir, opts)
    def mtimes(ver: Int): Map[String, Long] =
      new java.io.File(s"$dir/data/v$ver").listFiles()
        .filter(_.getName.endsWith(".parquet"))
        .map(f => f.getName -> f.lastModified()).toMap
    val m1 = mtimes(1)

    // upsert: replace ids 250..259 with new values, add ids 1000..1004
    val batch = ((250 until 260).map(i => (i.toLong, s"NEW$i")) ++
      (1000 until 1005).map(i => (i.toLong, s"b$i"))).toDF("id", "s")
    GenericTable.upsertByKey(batch, dir, opts)
    val dec = GenericTable.decode(spark, dir)
    assert(dec.count() == 405)
    assert(dec.where(col("id").between(250, 259))
      .select("s").collect().forall(_.getString(0).startsWith("NEW")))
    assert(dec.where(col("id") >= 1000).count() == 5)
    assert(dec.where(col("id") === 100).select("s").head().getString(0) == "a100")
    // v1 (ids 0..199) is outside the batch's key envelope — never rewritten
    assert(mtimes(1) == m1, "span-pruned upsert must keep v1 by reference")

    // deleteKeys: exact ids gone, everything else intact, noop on misses
    val before = GraftTable.currentSnapshot(spark, dir).get.version
    GenericTable.deleteKeys(spark, dir, Seq(5L, 1003L).toDF("bad_id"), opts)
    val dec2 = GenericTable.decode(spark, dir)
    assert(dec2.count() == 403)
    assert(dec2.where(col("id").isin(5L, 1003L)).count() == 0)
    val miss = GenericTable.deleteKeys(spark, dir, Seq(99999L).toDF("x"), opts)
    // the span prune may admit a version, but content is unchanged either way
    assert(GenericTable.decode(spark, dir).count() == 403)
    assert(miss.rowCount == 403)
  }

  test("generic compact merges only fragmented versions and upgrades schema") {
    import org.apache.hadoop.fs.Path
    val dir = tmpDir("gcompact")
    val opts = GraftTable.Options(targetRowsPerBlock = 64)
    // v1: a FULL version (several 64-row blocks)
    val v1 = (0 until 320).toDF("k").select(
      col("k").cast("long").as("id"), concat(lit("a"), col("k")).as("a"))
    GenericTable.encode(v1, dir, keyCol = "id", opts)
    // v2..v5: tiny fragmented appends, the last one evolving the schema
    (1 to 3).foreach { i =>
      GenericTable.append((320 + i * 10 until 330 + i * 10).toDF("k").select(
        col("k").cast("long").as("id"), concat(lit("a"), col("k")).as("a")), dir, opts)
    }
    GenericTable.append((400 until 410).toDF("k").select(
      col("k").cast("long").as("id"), concat(lit("a"), col("k")).as("a"),
      (col("k") * 3).cast("long").as("b")), dir, opts)
    val before = GenericTable.decode(spark, dir).collect()
      .map(r => (r.getLong(0), r.getString(1), if (r.isNullAt(2)) null else r.getLong(2)))
      .sortBy(_._1)

    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    def mtimes(sub: String) = fs.listStatus(new Path(s"$dir/$sub"))
      .map(st => st.getPath.getName -> st.getModificationTime).toMap
    val v1Before = mtimes("data/v1")

    val res = GenericTable.compact(spark, dir, opts)
    // v1 (full) untouched on disk; fragments merged into the new version
    assert(mtimes("data/v1") == v1Before)
    val after = GenericTable.decode(spark, dir).collect()
      .map(r => (r.getLong(0), r.getString(1), if (r.isNullAt(2)) null else r.getLong(2)))
      .sortBy(_._1)
    assert(after.sameElements(before))
    assert(res.version == 6)
    // the merged version carries the evolved (merged) write schema
    val live = GraftTable.currentSnapshot(spark, dir).get.dataDirs.map(
      d => GraftTable.versionOfDir(d)).toSet
    assert(live == Set(1, 6), live.toString)
    // expire reclaims the dropped fragment dirs; decode still intact
    val reclaimed = GraftTable.expireSnapshots(spark, dir)
    assert(reclaimed.exists(_.startsWith("data/v2")))
    assert(GenericTable.decode(spark, dir).count() == 360)
  }

  test("token schema through the generic lane agrees with the specialized lane") {
    val tokens = Tokenize.tokenTable(spark, "/root/testdata/sf0.001").toDF()
    val dirG = tmpDir("lanegen")
    GenericTable.encode(tokens, dirG, opts = GraftTable.Options(targetRowsPerBlock = 64))
    assertSameRows(GenericTable.decode(spark, dirG), tokens)
  }

  test("append into an empty dir commits the caller's extraMeta") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val dir = tmpDir("append-empty-meta")
    val res = GenericTable.append(docs, dir, extraMeta = Map("stream_batch_id" -> "7"))
    val snap = GraftTable.currentSnapshot(spark, dir).get
    assert(res.version == 1 && snap.version == 1)
    assert(snap.stats.toMap.get("stream_batch_id").contains("7"), snap.stats.toString)
  }

  test("append records no bounds dir and writes no bounds file of its own") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val dir = tmpDir("append-bounds")
    val opts = GraftTable.Options(targetRowsPerBlock = 64)
    GenericTable.encode(docs.where(col("doc_id") < 300), dir, opts = opts)
    val base = GraftTable.currentSnapshot(spark, dir).get
    assert(base.boundsDir.contains("metadata/bounds/v1"))
    // 200 rows at 64 per block: the batch has bounds of its own
    val res = GenericTable.append(docs.where(col("doc_id") >= 300), dir, opts)
    assert(res.numBlocks - base.numBlocks > 1)
    val fs = java.nio.file.Paths.get(dir)
    assert(!Files.exists(fs.resolve(s"metadata/bounds/v${res.version}")))
    // bounds are read back only to resume an encode, never an append's
    // child: the append records none, so the encode's file is reclaimable
    val snap = GraftTable.snapshotAt(spark, dir, res.version)
    assert(snap.boundsDir.isEmpty)
    GraftTable.expireSnapshots(spark, dir)
    assert(!Files.exists(fs.resolve("metadata/bounds/v1")))
    assertSameRows(GenericTable.decode(spark, dir), docs)
  }

  /** 50 rows from id `lo` with an `array<int>` and a struct of
    * `array<long>`; with `nulls`, the schema admits null elements and some
    * rows hold them.
    */
  private def nestedBatch(lo: Int, nulls: Boolean): DataFrame = {
    val schema = StructType(Seq(StructField("id", LongType),
      StructField("a", ArrayType(IntegerType, containsNull = nulls)),
      StructField("st", StructType(Seq(
        StructField("x", ArrayType(LongType, containsNull = nulls)))))))
    val rows = (lo until lo + 50).map(i => Row(i.toLong,
      Seq(i, if (nulls && i % 3 == 0) null else 5),
      Row(Seq(if (nulls && i % 4 == 0) null else 1L, i.toLong))))
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
  }

  test("an append admitting nested nulls its table's schema excludes keeps them") {
    val dir = tmpDir("widen")
    GenericTable.encode(nestedBatch(0, nulls = false), dir, keyCol = "id")
    GenericTable.append(nestedBatch(50, nulls = true), dir)
    val dec = GenericTable.decode(spark, dir)
    assert(dec.where(col("a")(1).isNull).count() == 17)
    assert(dec.where(col("st.x")(0).isNull).count() == 12)
    assertSameRows(dec, nestedBatch(0, nulls = false).union(nestedBatch(50, nulls = true)))
  }

  test("a read schema recorded without a version's nested nulls still reads them") {
    // earlier builds kept the parent's nested nullability on append: forge
    // that snapshot, whose read schema excludes the appended null elements
    val dir = tmpDir("narrow")
    val source = nestedBatch(0, nulls = false).union(nestedBatch(50, nulls = true))
    GenericTable.encode(nestedBatch(0, nulls = false), dir, keyCol = "id")
    GenericTable.append(nestedBatch(50, nulls = true), dir)
    val snap = GraftTable.currentSnapshot(spark, dir).get
    val narrow = nestedBatch(0, nulls = false).schema
    GraftTable.writeString(spark, s"$dir/metadata/v${snap.version}.json",
      GraftTable.renderSnapshot(snap.copy(stats = snap.stats.map {
        case ("generic_schema", _) => "generic_schema" -> narrow.json
        case kv => kv
      })))
    assert(GenericTable.readSchemaOf(GraftTable.currentSnapshot(spark, dir).get) == narrow)
    def nulls(df: DataFrame): (Long, Long) =
      (df.where(col("a")(1).isNull).count(), df.where(col("st.x")(0).isNull).count())
    assert(nulls(GenericTable.decode(spark, dir)) == ((17L, 12L)))
    assertSameRows(GenericTable.decode(spark, dir), source)
    assertSameRows(spark.read.format("graft").load(dir), source)
    // the rewrites re-encode what the scan emits: compact must keep the
    // nulls, and it records the schema that admits them
    val res = GenericTable.compact(spark, dir)
    assert(res.version == snap.version + 1)
    val compacted = GraftTable.currentSnapshot(spark, dir).get
    assert(compacted.dataDirs == Seq(s"data/v${res.version}"))
    assert(GenericTable.readSchemaOf(compacted) ==
      GenericTable.mergeSchemas(narrow, nestedBatch(50, nulls = true).schema))
    assertSameRows(GenericTable.decode(spark, dir), source)
    GenericTable.deleteWhere(spark, dir, col("id") === 3L)
    assertSameRows(GenericTable.decode(spark, dir), source.where(col("id") =!= 3L))
  }

  test("a scan pinned to some of a snapshot's versions reports their file sizes") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val dir = tmpDir("pinstats")
    val opts = GraftTable.Options(targetRowsPerBlock = 64)
    GenericTable.encode(docs.where(col("doc_id") < 100), dir, opts = opts)
    GenericTable.append(docs.where(col("doc_id") >= 100), dir, opts)
    val snap = GraftTable.currentSnapshot(spark, dir).get
    def statsOf(t: graft.sources.GraftSparkTable) =
      scansOf(org.apache.spark.sql.GraftSql.tableFrame(spark, t)).head.scan
        .asInstanceOf[org.apache.spark.sql.connector.read.SupportsReportStatistics]
        .estimateStatistics()
    val current = statsOf(new graft.sources.GraftSparkTable(dir, null))
    assert(current.numRows().getAsLong == 500L)
    assert(current.sizeInBytes().getAsLong == snap.bytesTotal)
    val v1 = statsOf(new graft.sources.GraftSparkTable(
      dir, null, Some(snap.copy(dataDirs = Seq("data/v1"))), None))
    val v1Bytes = new java.io.File(s"$dir/data/v1").listFiles()
      .filter(_.getName.endsWith(".parquet")).map(_.length()).sum
    assert(!v1.numRows().isPresent)
    assert(v1.sizeInBytes().getAsLong == v1Bytes)
  }
}
