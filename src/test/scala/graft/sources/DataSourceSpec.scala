package graft.sources

import java.nio.file.Files

import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.table.{GraftTable, Tokenize}

/** DataSource V2 connector tests: `spark.read.format("graft")` must agree
  * with [[GraftTable.decode]] bit for bit, prune columns down to the
  * payloads actually needed, and prune blocks from pushed doc_id/source
  * filters — with the filters still applied residually (pruning is an
  * optimization, never the correctness mechanism).
  */
class DataSourceSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val SfDir = "/root/testdata/sf0.001"

  private lazy val tableDir: String = {
    val dir = Files.createTempDirectory("graft-dsv2").toString
    GraftTable.encode(
      Tokenize.tokenTable(spark, SfDir).toDF(), dir,
      GraftTable.Options(targetRowsPerBlock = 64))
    dir
  }

  private def scanOf(df: org.apache.spark.sql.DataFrame): BatchScanExec =
    df.queryExecution.executedPlan.collectFirst { case s: BatchScanExec => s }.get

  test("format(\"graft\") read equals decode() bit for bit") {
    val viaDsv2 = spark.read.format("graft").load(tableDir)
      .orderBy(col("doc_id").cast("long"))
      .collect().map(r => (r.getString(0), r.getSeq[Int](1), r.getInt(2), r.getString(3)))
    val viaApi = GraftTable.decode(spark, tableDir).toDF()
      .orderBy(col("doc_id").cast("long"))
      .collect().map(r => (r.getString(0), r.getSeq[Int](1), r.getInt(2), r.getString(3)))
    assert(viaDsv2.length == 500)
    assert(viaDsv2.sameElements(viaApi))
  }

  test("column pruning reaches the connector (tokens-only, n_tok-only)") {
    val nOnly = spark.read.format("graft").load(tableDir).select("n_tok")
    assert(scanOf(nOnly).scan.readSchema().fieldNames.toSeq == Seq("n_tok"))
    assert(nOnly.agg(sum("n_tok")).head().getLong(0) ==
      GraftTable.decode(spark, tableDir).toDF().agg(sum("n_tok")).head().getLong(0))
    val tokOnly = spark.read.format("graft").load(tableDir).select("tokens")
    assert(scanOf(tokOnly).scan.readSchema().fieldNames.toSeq == Seq("tokens"))
    assert(tokOnly.select(sum(expr("aggregate(tokens, 0L, (a, t) -> a + t)"))).head().getLong(0) ==
      GraftTable.decode(spark, tableDir).toDF()
        .select(sum(expr("aggregate(tokens, 0L, (a, t) -> a + t)"))).head().getLong(0))
  }

  test("sub-file splits: a large data file fans out by row group, exactly") {
    // force many tiny ROW GROUPS inside few files, then plan with a small
    // maxPartitionBytes: read parallelism must exceed the file count (a
    // heavily-compacted 100 TB version has few large files — parallelism
    // must come from row-group stripes), and parquet's midpoint rule must
    // keep every row read exactly once across the stripe boundaries
    val hconf = spark.sparkContext.hadoopConfiguration
    val oldBlock = hconf.get("parquet.block.size")
    hconf.set("parquet.block.size", "8192") // 8 KB row groups
    val dir =
      try {
        val d = Files.createTempDirectory("graft-split").toString
        GraftTable.encode(
          Tokenize.tokenTable(spark, "/root/testdata/sf0.01").toDF(), d,
          GraftTable.Options(targetRowsPerBlock = 64))
        d
      } finally {
        if (oldBlock == null) hconf.unset("parquet.block.size")
        else hconf.set("parquet.block.size", oldBlock)
      }
    val snap = GraftTable.currentSnapshot(spark, dir).get
    val nFiles = snap.dataDirs.map { dd =>
      new java.io.File(s"$dir/$dd").listFiles()
        .count(f => f.getName.endsWith(".parquet") && !f.getName.startsWith("_"))
    }.sum
    val oldSplit = spark.conf.get("spark.sql.files.maxPartitionBytes")
    spark.conf.set("spark.sql.files.maxPartitionBytes", "8192")
    try {
      val df = spark.read.format("graft").load(dir)
      val parts = scanOf(df).inputRDD.getNumPartitions
      assert(parts > nFiles, s"expected row-group fan-out, got $parts parts for $nFiles files")
      // exactness across stripe boundaries: totals and row multiplicity
      val want = GraftTable.decode(spark, dir).toDF()
        .agg(count(lit(1)), sum("n_tok"),
          sum(Tokenize.checksumCol(col("tokens")))).head()
      val got = df
        .agg(count(lit(1)), sum("n_tok"),
          sum(Tokenize.checksumCol(col("tokens")))).head()
      assert(got == want)
    } finally spark.conf.set("spark.sql.files.maxPartitionBytes", oldSplit)
  }

  test("doc_id equality prunes blocks at plan time and still answers exactly") {
    val df = spark.read.format("graft").load(tableDir).where(col("doc_id") === "123")
    val scan = scanOf(df).scan.asInstanceOf[GraftScan]
    // 500 docs at 64 rows/block → ≥ 8 blocks; equality must prune to few
    val desc = scan.description()
    val pruned = "blocks=(\\d+)/".r.findFirstMatchIn(desc).get.group(1).toInt
    assert(pruned >= 1 && pruned < 4, s"expected tight pruning, got: $desc")
    val rows = df.collect()
    assert(rows.length == 1 && rows.head.getString(0) == "123")
  }

  test("source IN (...) prunes via src_list and count(*) survives empty prune") {
    val df = spark.read.format("graft").load(tableDir)
      .where(col("source").isin("src3", "src7"))
    val expect = GraftTable.decode(spark, tableDir).toDF()
      .where(col("source").isin("src3", "src7")).count()
    assert(df.count() == expect && expect > 0)
    // a source that exists nowhere prunes every block -> zero partitions
    val none = spark.read.format("graft").load(tableDir)
      .where(col("source") === "no_such_source")
    assert(none.count() == 0)
    // count(*) with no columns requested still counts every row
    assert(spark.read.format("graft").load(tableDir).count() == 500)
  }

  test("COUNT(*) answers from snapshot metadata; appended versions scan fine") {
    val dir = Files.createTempDirectory("graft-dsv2-ct").toString
    val opts = GraftTable.Options(targetRowsPerBlock = 64)
    val tok = Tokenize.tokenTable(spark, SfDir).toDF()
    GraftTable.encode(tok.where(col("doc_id").cast("long") < 300), dir, opts)
    GraftTable.append(tok.where(col("doc_id").cast("long") >= 300), dir, opts)
    // metadata-only count: the physical scan is the count scan, no files
    val cnt = spark.read.format("graft").load(dir).count()
    assert(cnt == 500)
    val plan = spark.read.format("graft").load(dir)
      .groupBy().count().queryExecution.executedPlan
    val scan = plan.collectFirst { case s: BatchScanExec => s }.get
    assert(scan.scan.isInstanceOf[GraftCountScan], scan.scan.getClass.toString)
    // a filtered count cannot use the shortcut and still answers exactly
    val filtered = spark.read.format("graft").load(dir)
      .where(col("source") === "src1")
    assert(filtered.count() ==
      GraftTable.decode(spark, dir).toDF().where(col("source") === "src1").count())
    assert(!scanOf(filtered).scan.isInstanceOf[GraftCountScan])
    // full read across BOTH versions matches decode
    assert(spark.read.format("graft").load(dir)
      .agg(sum("n_tok")).head().getLong(0) ==
      GraftTable.decode(spark, dir).toDF().agg(sum("n_tok")).head().getLong(0))
    // doc_id pruning works across versions too
    val one = spark.read.format("graft").load(dir).where(col("doc_id") === "350")
    assert(one.collect().map(_.getString(0)).toSeq == Seq("350"))
  }

  test("LIMIT pushes into the reader (per-partition early stop, exact rows)") {
    val df = spark.read.format("graft").load(tableDir).limit(7)
    assert(df.count() == 7)
    assert(df.collect().length == 7)
    // with a filter, limit composes and stays correct
    val f = spark.read.format("graft").load(tableDir)
      .where(col("source") === "src1").limit(3)
    val rows = f.collect()
    assert(rows.length == 3 && rows.forall(_.getString(3) == "src1"))
  }

  test("SQL: CREATE TABLE USING graft reads through the connector") {
    spark.sql("DROP TABLE IF EXISTS graft_dsv2")
    spark.sql(
      s"CREATE TABLE graft_dsv2 USING graft OPTIONS (path '$tableDir')")
    val n = spark.sql(
      "SELECT count(*) c FROM graft_dsv2 WHERE source = 'src1'").head().getLong(0)
    val expect = GraftTable.decode(spark, tableDir).toDF()
      .where(col("source") === "src1").count()
    assert(n == expect && n > 0)
    spark.sql("DROP TABLE graft_dsv2")
  }

  test("write path: token-lane save/append/overwrite round-trip exactly") {
    val dir = Files.createTempDirectory("graft-dsv2-w").toString
    val src = Tokenize.tokenTable(spark, SfDir).toDF()
    src.write.format("graft").option("targetRowsPerBlock", "64")
      .mode("append").save(dir)
    val back = spark.read.format("graft").load(dir)
      .orderBy(col("doc_id").cast("long"))
      .collect().map(r => (r.getString(0), r.getSeq[Int](1), r.getInt(2), r.getString(3)))
    val want = src.orderBy(col("doc_id").cast("long"))
      .collect().map(r => (r.getString(0), r.getSeq[Int](1), r.getInt(2), r.getString(3)))
    assert(back.length == 500 && back.sameElements(want))
    // append accumulates a version
    src.select(
      concat(lit("1"), col("doc_id")).as("doc_id"),
      col("tokens"), col("n_tok"), col("source"))
      .write.format("graft").mode("append").save(dir)
    assert(spark.read.format("graft").load(dir).count() == 1000)
    // overwrite replaces (fresh version, only the new data readable)
    src.write.format("graft").option("targetRowsPerBlock", "64")
      .mode("overwrite").save(dir)
    assert(spark.read.format("graft").load(dir).count() == 500)
  }

  test("write path: non-token schemas ride the generic lane with the key option") {
    val dir = Files.createTempDirectory("graft-dsv2-wg").toString
    val docs = spark.read.parquet(s"$SfDir/documents.parquet")
    docs.write.format("graft").option("key", "doc_id").mode("append").save(dir)
    val snap = GraftTable.currentSnapshot(spark, dir).get
    assert(graft.table.GenericTable.isGeneric(snap))
    val back = graft.table.GenericTable.decode(spark, dir)
    assert(back.count() == docs.count())
    assert(back.exceptAll(docs).count() == 0 && docs.exceptAll(back).count() == 0)
    // a token-shaped batch appended to a generic table stays generic
    // (existing table pins the lane; union-by-name evolution applies)
    val e = intercept[Exception](
      Tokenize.tokenTable(spark, SfDir).toDF()
        .write.format("graft").mode("append").save(dir))
    assert(e.getMessage != null) // evolution rejects type-changing columns loudly
  }

  test("write path: ErrorIfExists and Ignore modes behave per contract") {
    val dir = Files.createTempDirectory("graft-dsv2-modes").toString
    val src = Tokenize.tokenTable(spark, SfDir).toDF()
    // default mode is ErrorIfExists: first write creates...
    src.write.format("graft").option("targetRowsPerBlock", "128").save(dir)
    val v1 = GraftTable.currentSnapshot(spark, dir).get.version
    // ...second write must refuse, not append or replace
    val e = intercept[Exception](src.write.format("graft").save(dir))
    assert(e.getMessage.toLowerCase.contains("exist"), e.getMessage)
    assert(GraftTable.currentSnapshot(spark, dir).get.version == v1)
    // Ignore: a no-op on an existing table
    src.limit(3).write.format("graft")
      .mode(org.apache.spark.sql.SaveMode.Ignore).save(dir)
    assert(GraftTable.currentSnapshot(spark, dir).get.version == v1)
    assert(spark.read.format("graft").load(dir).count() == 500)
  }

  test("a bad targetRowsPerBlock fails naming the option and its value, writing nothing") {
    val rows = spark.range(0, 300).select(col("id"), (col("id") % 7).as("v"))
    val tokens = Tokenize.tokenTable(spark, SfDir).toDF()
    def messages(t: Throwable): String =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null).map(_.getMessage).mkString(" | ")
    for ((batch, key) <- Seq((rows, Some("id")), (tokens, None)); v <- Seq("abc", "0", "-5")) {
      val dir = Files.createTempDirectory("graft-dsv2-badrows").toString
      val w = key.fold(batch.write.format("graft"))(batch.write.format("graft").option("key", _))
      val e = intercept[Exception](w.option("targetRowsPerBlock", v).mode("append").save(dir))
      val msg = messages(e)
      assert(msg.contains("targetRowsPerBlock") && msg.contains(v), msg)
      assert(!Files.exists(java.nio.file.Paths.get(dir, "metadata")), s"$v wrote metadata")
    }
    val e = intercept[IllegalArgumentException](GraftTable.Options(targetRowsPerBlock = 0))
    assert(e.getMessage.contains("targetRowsPerBlock"), e.getMessage)
  }

  test("SQL-only round trip: CTAS + INSERT INTO + SELECT through the connector") {
    val dir = Files.createTempDirectory("graft-dsv2-sql").toString
    spark.sql("DROP TABLE IF EXISTS graft_sqlw")
    spark.sql(
      s"""CREATE TABLE graft_sqlw USING graft OPTIONS (path '$dir')
         |AS SELECT CAST(doc_id AS STRING) AS doc_id,
         |          array(1, 2, 3) AS tokens,
         |          3 AS n_tok,
         |          source
         |FROM parquet.`$SfDir/documents.parquet`""".stripMargin)
    assert(spark.sql("SELECT count(*) c FROM graft_sqlw").head().getLong(0) == 500)
    spark.sql(
      "INSERT INTO graft_sqlw SELECT '9001', array(7, 8), 2, 'srcX'")
    val n = spark.sql("SELECT count(*) c FROM graft_sqlw").head().getLong(0)
    assert(n == 501)
    val row = spark.sql(
      "SELECT doc_id, tokens, n_tok, source FROM graft_sqlw WHERE source = 'srcX'")
      .head()
    assert(row.getString(0) == "9001" && row.getSeq[Int](1) == Seq(7, 8) &&
      row.getInt(2) == 2)
    spark.sql("DROP TABLE graft_sqlw")
  }

  test("unselective pushed filter skips block pruning (bounded driver collect)") {
    val saved = GraftScan.MaxPrunedBlockIds
    try {
      GraftScan.MaxPrunedBlockIds = 2 // far below this table's block count
      val df = spark.read.format("graft").load(tableDir)
        .where(col("source").isin("src1", "src2", "src3", "src4", "src5"))
      val scan = scanOf(df).scan.asInstanceOf[GraftScan]
      // every block carries one of the sources → survivors exceed the cap
      // → pruning disabled, description reports the unpruned scan
      assert(scan.description().contains("blocks=all"), scan.description())
      // the residual filter still answers exactly
      val expect = GraftTable.decode(spark, tableDir).toDF()
        .where(col("source").isin("src1", "src2", "src3", "src4", "src5")).count()
      assert(df.count() == expect && expect > 0)
    } finally GraftScan.MaxPrunedBlockIds = saved
  }

  test("SQL DELETE FROM routes through the copy-on-write delete") {
    val dir = Files.createTempDirectory("graft-sqldel").toString
    val df = spark.range(0, 200).select(
      col("id"), concat(lit("s"), col("id")).as("s"),
      (col("id") % 10).as("m"))
    graft.table.GenericTable.encode(df, dir, keyCol = "id",
      GraftTable.Options(targetRowsPerBlock = 64))
    spark.sql(s"CREATE TABLE graft_sqldel USING graft OPTIONS (path '$dir')")
    try {
      spark.sql("DELETE FROM graft_sqldel WHERE id BETWEEN 50 AND 59 OR m = 7")
      val left = spark.table("graft_sqldel")
      assert(left.count() == 171) // 200 - 10 (range) - 19 (m=7 outside it)
      assert(left.where(col("id").between(50, 59)).count() == 0)
      assert(left.where(col("m") === 7).count() == 0)
      // the Scala API sees the same table (one source of truth)
      assert(graft.table.GenericTable.decode(spark, dir).count() == 171)
      // token-lane tables reject DELETE loudly at analysis
      spark.sql(s"CREATE TABLE graft_sqldel_tok USING graft OPTIONS (path '$tableDir')")
      try {
        val e = intercept[Exception](
          spark.sql("DELETE FROM graft_sqldel_tok WHERE doc_id = '3'"))
        assert(e.getMessage != null)
      } finally spark.sql("DROP TABLE graft_sqldel_tok")
    } finally spark.sql("DROP TABLE graft_sqldel")
  }

  test("generic tables serve through the connector, equal to decode()") {
    val dir = Files.createTempDirectory("graft-dsv2-gen").toString
    val docs = spark.read.parquet(s"$SfDir/documents.parquet")
    graft.table.GenericTable.encode(
      docs, dir, keyCol = "doc_id", opts = GraftTable.Options(targetRowsPerBlock = 64))
    val viaDsv2 = spark.read.format("graft").load(dir)
    assert(viaDsv2.schema == docs.schema)
    assert(viaDsv2.count() == docs.count())
    assert(viaDsv2.exceptAll(docs).count() == 0 && docs.exceptAll(viaDsv2).count() == 0)
    // column pruning reaches the generic scan
    val pruned = viaDsv2.select("lang")
    assert(scanOf(pruned).scan.readSchema().fieldNames.toSeq == Seq("lang"))
    // metadata-only COUNT(*)
    val cnt = spark.read.format("graft").load(dir).agg(count(lit(1)))
    assert(scanOf(cnt).scan.isInstanceOf[GraftCountScan])
    assert(cnt.head().getLong(0) == docs.count())
  }

  test("generic connector pushes key-range filters as a zone-map interval") {
    val dir = Files.createTempDirectory("graft-dsv2-genr").toString
    val rows = (0 until 1000).map(i => (i.toLong, s"s$i")).toDF("id", "s")
    graft.table.GenericTable.encode(
      rows, dir, keyCol = "id", opts = GraftTable.Options(targetRowsPerBlock = 64))
    val df = spark.read.format("graft").load(dir)
      .where(col("id") >= 100L && col("id") <= 120L)
    val scan = scanOf(df).scan.asInstanceOf[GraftGenericScan]
    assert(scan.description().contains("range=[100,120]"), scan.description())
    val got = df.select("id").collect().map(_.getLong(0)).sorted
    val want: Array[Long] = (100L to 120L).toArray
    assert(got.sameElements(want))
    // equality composes into a one-point interval, stays exact
    val one = spark.read.format("graft").load(dir).where(col("id") === 777L)
    assert(scanOf(one).scan.asInstanceOf[GraftGenericScan]
      .description().contains("range=[777,777]"))
    assert(one.collect().map(r => (r.getLong(0), r.getString(1))).toSeq ==
      Seq((777L, "s777")))
  }

  test("generic connector reads evolved tables (null-fill) and nested types") {
    import java.sql.Timestamp
    val dir = Files.createTempDirectory("graft-dsv2-gene").toString
    val opts = GraftTable.Options(targetRowsPerBlock = 64)
    val v1 = (0 until 100).map(i => (i.toLong, s"a$i")).toDF("id", "a")
    graft.table.GenericTable.encode(v1, dir, keyCol = "id", opts)
    val v2 = (100 until 200).map(i =>
      (i.toLong, s"a$i", Map("k" -> i), (i * 2, s"n$i"),
        new Timestamp(i * 1000L), BigDecimal(i).setScale(2)))
      .toDF("id", "a", "m", "st", "ts", "d")
      .withColumn("d", col("d").cast("decimal(10,2)"))
    graft.table.GenericTable.append(v2, dir, opts)
    val via = spark.read.format("graft").load(dir)
    // the source rows: v1's read null for every column v2 added
    val src = v1.select(col("id"), col("a"), lit(null).cast(v2.schema("m").dataType).as("m"),
        lit(null).cast(v2.schema("st").dataType).as("st"),
        lit(null).cast("timestamp").as("ts"), lit(null).cast("decimal(10,2)").as("d"))
      .unionByName(v2)
    // names and types agree with the sources'
    assert(via.schema.fieldNames.sameElements(src.schema.fieldNames))
    assert(via.schema.fields.zip(src.schema.fields).forall {
      case (a, b) => a.dataType.catalogString == b.dataType.catalogString
    })
    assert(via.count() == 200)
    // set ops reject MAP columns, so compare sorted row renderings
    val viaRows = via.orderBy("id").collect().map(_.toString)
    val srcRows = src.orderBy("id").collect().map(_.toString)
    assert(viaRows.sameElements(srcRows))
    // pre-evolution rows read null for post-evolution columns
    assert(via.where(col("id") < 100 && col("m").isNull &&
      col("st").isNull && col("ts").isNull && col("d").isNull).count() == 100)
    val r = via.where(col("id") === 150L).head()
    assert(r.getAs[Map[String, Int]]("m") == Map("k" -> 150))
    assert(r.getAs[org.apache.spark.sql.Row]("st").getInt(0) == 300)
    assert(r.getAs[java.math.BigDecimal]("d").toString == "150.00")
  }
}
