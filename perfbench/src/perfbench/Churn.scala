package perfbench

import java.sql.Timestamp

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.table.{GenericTable, GraftTable, Tokenize}

/** A generic-lane table under churn and its in-memory model. Its rows
  * come from `pool`, the testdata rows in key order (see [[Gen.rowAt]]).
  */
final class ModelTable(val name: String, val key: String, val schema: StructType,
    val pool: Array[Row], val predCol: String, val valueCol: String) {
  var dir: String = _
  val rows: mutable.HashMap[Long, Row] = mutable.HashMap.empty
  var nextKey = 0L
  val submitted: ArrayBuffer[Row] = ArrayBuffer.empty

  private val predIdx = schema.fieldIndex(predCol)
  private val valueIdx = schema.fieldIndex(valueCol)

  def pred(r: Row): Long = r.getLong(predIdx)

  /** One more than the largest `predCol` value in the pool. */
  val predSpan: Long = pool.map(pred).max + 1

  def reset(d: String): Unit = { dir = d; rows.clear(); nextKey = 0L; submitted.clear() }

  /** (count, Σ key, Σ round(value·100)) of the model rows passing `keep`. */
  def summary(keep: Row => Boolean): (Long, Long, Long) = {
    var c = 0L; var k = 0L; var v = 0L
    rows.valuesIterator.filter(keep).foreach { r =>
      c += 1; k += r.getLong(0); v += math.round(r.getDouble(valueIdx) * 100)
    }
    (c, k, v)
  }

  /** The same summary of `df`, as a one-row aggregate. */
  def summaryAgg(df: DataFrame): DataFrame =
    df.agg(count(lit(1)), coalesce(sum(col(key)), lit(0L)),
      coalesce(sum(round(col(valueCol) * 100).cast("long")), lit(0L)))

  def summaryOf(agg: Array[Row]): (Long, Long, Long) =
    (agg(0).getLong(0), agg(0).getLong(1), agg(0).getLong(2))
}

/** `churn`: a seeded op script of writes beside reads against two
  * generic-lane tables (`events`, `orders`) and one token table, checked
  * against an in-memory model of the same script.
  */
final class Churn(val ctx: Ctx) extends Workload {
  private val spark: SparkSession = ctx.spark
  private val opts = GraftTable.Options(targetRowsPerBlock = 4096)
  private val events = new ModelTable("events", "event_id", Gen.EventSchema, ctx.data.events,
    "user_id", "value")
  private val orders = new ModelTable("orders", "o_orderkey", Gen.OrderSchema, ctx.data.orders,
    "o_custkey", "o_totalprice")
  private var tokDir: String = _
  /** Per token-table document: numeric id, source, n_tok, checksum. */
  private val tokDocs = ArrayBuffer.empty[(Long, String, Long, Long)]
  private var nextDoc = 0L
  private val tokSubmitted = ArrayBuffer.empty[Gen.Doc]
  private var tokInput: DataFrame = _
  private val script = Gen.rng(ctx.seed, 20)
  private val rowsRng = Gen.rng(ctx.seed, 21)
  private var steps = 0
  private val commitMs = ArrayBuffer.empty[Double]
  private val readMs = ArrayBuffer.empty[Double]
  private var writtenBytes = 0L
  private var spaceAmp = 0.0
  private var writeAmp = 0.0

  private def tables = Seq(events, orders)
  private def dirs = tables.map(_.dir) :+ tokDir

  def setup(round: Int): Unit = {
    (0 until round).foreach(r => ctx.deleteDir(ctx.dir(s"churn-$r")))
    val base = ctx.dir(s"churn-$round")
    Seq(events -> 10000, orders -> 5000).foreach { case (t, n) =>
      t.reset(s"$base/${t.name}")
      (0 until n).foreach { i => t.rows(i.toLong) = Gen.rowAt(t.pool, i.toLong) }
      t.nextKey = n.toLong
      val df = spark.createDataFrame(
        java.util.Arrays.asList((0L until n).map(t.rows): _*), t.schema)
      Trace.span("table.encode")(GenericTable.encode(df, t.dir, keyCol = t.key, opts = opts))
    }
    tokDir = s"$base/tokens"
    tokInput = Gen.tokenCorpus(ctx.data, ctx.seed ^ 0xc4c4L, ctx.data.docs.take(2000).toIndexedSeq,
      repl = 1, substPermille = 0).cache()
    Tok.statsAlone(tokInput, opts)
    Tok.encode(ctx, tokInput, tokDir, opts)
    tokDocs.clear()
    tokDocs ++= Tok.docSummaries(tokInput)
    nextDoc = 2000L
    tokSubmitted.clear()
    ctx.ledger.newBytes(dirs)
  }

  /** A timed commit; records its latency and the bytes it wrote. */
  private def commit(kind: String, span: String)(f: => Unit): Unit = {
    val idx = Trace.spans.length
    val (_, ms) = ctx.time(Trace.span(span)(f))
    ctx.ops += ((kind, ms))
    commitMs += ms
    ctx.units += 1
    ctx.busySeconds += ms / 1e3
    val w = ctx.ledger.newBytes(dirs)
    writtenBytes += w.values.sum
    if (Trace.on) w.foreach { case (k, v) => Trace.spans(idx).attrs(s"bytes_$k") = v.toDouble }
  }

  private def read(kind: String, want: (Long, Long, Long))(f: => (Long, Long, Long)): Unit = {
    val (got, ms) = ctx.time(f)
    ctx.check(got == want, s"churn $kind read $got != $want")
    readMs += ms
    ctx.units += 1
    ctx.busySeconds += ms / 1e3
  }

  /** `rows` as submitted; the model applies them after the commit. */
  private def batch(t: ModelTable, rows: Seq[Row]): (Seq[Row], DataFrame) = {
    t.submitted ++= rows
    (rows, spark.createDataFrame(java.util.Arrays.asList(rows: _*), t.schema))
  }

  /** The testdata rows of the next `n` keys. */
  private def newRows(t: ModelTable, n: Int): Seq[Row] = {
    val ks = t.nextKey until t.nextKey + n
    t.nextKey += n
    ks.map(Gen.rowAt(t.pool, _))
  }

  private def applyRows(t: ModelTable, rows: Seq[Row]): Unit =
    rows.foreach(r => t.rows(r.getLong(0)) = r)

  private def tokExpect(keep: ((Long, String, Long, Long)) => Boolean) =
    Tok.expect(tokDocs, keep)

  /** A DSv2 read of `dir`: `query` adds the filter and the aggregate to
    * the read. Planning that query (`executedPlan`, which includes the
    * scan's driver-side pruning) and executing the same plan are separate
    * spans. Traced runs first sum the payload bytes of the blocks whose
    * manifest zone maps pass `needed`.
    */
  private def dsv2(dir: String, needed: Column)(query: DataFrame => DataFrame): Array[Row] = {
    val neededBytes =
      if (!Trace.on) 0.0
      else GraftTable.readManifest(spark, dir).where(needed)
        .agg(coalesce(sum(col("bytes_total")), lit(0L))).head().getLong(0).toDouble
    Trace.span("sources.read") {
      Trace.attr("needed_bytes", neededBytes)
      val q = query(spark.read.format("graft").load(dir))
      Trace.span("sources.plan")(q.queryExecution.executedPlan)
      Trace.span("sources.exec")(q.collect())
    }
  }

  /** Inputs for rows read per row returned of a token-table Scala read:
    * its scan's input records are manifest lines plus one per block read.
    */
  private def rowsRead(returned: Long): Unit = if (Trace.on) {
    val snap = GraftTable.currentSnapshot(spark, tokDir).get
    Trace.attr("manifest_rows", snap.numBlocks.toDouble)
    Trace.attr("rows_per_block", snap.rowCount.toDouble / math.max(1, snap.numBlocks))
    Trace.attr("rows_returned", returned.toDouble)
  }

  /** The op script cycles through a fixed order of op kinds and the loop
    * ends only after whole cycles, so every run issues the same kinds; the
    * seed picks tables, keys, ranges and batch sizes. A cycle ends with the
    * maintenance of every table, so the state at the end of a run does not
    * depend on how many cycles fitted in it.
    */
  private val Cycle = Seq("append", "token_where", "upsert", "dsv2_token_where",
    "token_append", "decode_range", "delete_range", "dsv2_range", "dsv2_append",
    "token_select", "delete_where", "count", "maintain")

  override def stepsPerRound: Int = Cycle.length

  def step(): Unit = {
    val t = if (steps % 2 == 0) events else orders
    val n = 400 + script.nextInt(201)
    val kind = Cycle(steps % Cycle.length)
    steps += 1
    kind match {
      case "maintain" =>
        // compact each table, then expire its unreferenced files
        dirs.indices.foreach { i =>
          commit("compact", "table.commit.compact") {
            if (i == 2) GraftTable.compact(spark, tokDir, opts)
            else GenericTable.compact(spark, tables(i).dir, opts)
          }
          commit("expire", "table.commit.expire")(GraftTable.expireSnapshots(spark, dirs(i)))
        }
      case "append" =>
        val (rows, df) = batch(t, newRows(t, n))
        commit("append", "table.commit.append")(GenericTable.append(df, t.dir, opts))
        applyRows(t, rows)
      case "upsert" =>
        // existing keys take the values of other testdata rows
        val old = Seq.fill(n / 2)(script.nextLong(t.nextKey)).distinct
          .map(k => Gen.keyed(t.pool, rowsRng.nextInt(t.pool.length), k))
        val (rows, df) = batch(t, old ++ newRows(t, n - n / 2))
        commit("upsert", "table.commit.upsert")(GenericTable.upsertByKey(df, t.dir, opts))
        applyRows(t, rows)
      case "delete_range" =>
        val lo = script.nextLong(t.nextKey)
        val hi = lo + t.nextKey / 300
        commit("delete_range", "table.commit.delete_range")(
          GenericTable.deleteRange(spark, t.dir, lo, hi, opts))
        t.rows.keys.filter(k => k >= lo && k <= hi).toList.foreach(t.rows.remove)
      case "delete_where" =>
        val lo = script.nextLong(t.predSpan)
        val hi = lo + t.predSpan / 400
        commit("delete_where", "table.commit.delete_where")(
          GenericTable.deleteWhere(spark, t.dir, col(t.predCol).between(lo, hi), opts))
        t.rows.filter { case (_, r) => val v = t.pred(r); v >= lo && v <= hi }
          .keys.toList.foreach(t.rows.remove)
      case "dsv2_append" =>
        val (rows, df) = batch(t, newRows(t, n))
        commit("dsv2_append", "sources.write")(
          df.write.format("graft").mode("append").save(t.dir))
        applyRows(t, rows)
      case "token_append" =>
        val docs = Gen.sampleDocs(ctx.data, rowsRng, 10 * n, nextDoc)
        nextDoc += docs.length
        tokSubmitted ++= docs
        val df = ctx.data.tokens(docs.toIndexedSeq)
        commit("token_append", "table.commit.token_append")(GraftTable.append(df, tokDir, opts))
        tokDocs ++= docs.map(d => (d.id, d.source, d.words.length.toLong,
          d.words.indices.map(i => d.words(i).toLong * (i + 1)).sum))
      case "decode_range" =>
        val lo = script.nextLong(t.nextKey)
        val hi = lo + t.nextKey / 200
        read("decode_range", t.summary { r => val k = r.getLong(0); k >= lo && k <= hi })(
          Trace.span("table.decode_range")(
            t.summaryOf(t.summaryAgg(GenericTable.decodeRange(spark, t.dir, lo, hi)).collect())))
      case "dsv2_range" =>
        val lo = script.nextLong(t.nextKey)
        val hi = lo + t.nextKey / 200
        read("dsv2_range", t.summary { r => val k = r.getLong(0); k >= lo && k <= hi })(
          t.summaryOf(dsv2(t.dir, col("key_max") >= lo && col("key_min") <= hi) { q =>
            t.summaryAgg(q.where(col(t.key).between(lo, hi)))
          }))
      case "token_where" =>
        val src = ctx.data.sources(script.nextInt(ctx.data.sources.length))
        read("token_where", Tok.total(tokExpect(_._2 == src)))(
          Trace.span("table.decode_where") {
            val r = Tok.total(Tok.perSource(GraftTable.decodeWhere(spark, tokDir, Seq(src)).toDF()))
            rowsRead(r._1)
            r
          })
      case "dsv2_token_where" =>
        val src = ctx.data.sources(script.nextInt(ctx.data.sources.length))
        val needed = col("src_list").isNull || array_contains(col("src_list"), src)
        read("dsv2_token_where", Tok.total(tokExpect(_._2 == src)))(
          Tok.total(Tok.perSourceOf(
            dsv2(tokDir, needed)(q => Tok.perSourceAgg(q.where(col("source") === src))))))
      case "token_select" =>
        read("token_select", Tok.total(tokExpect(_ => true)))(
          Trace.span("table.decode_select") {
            val r = GraftTable.decodeSelect(spark, tokDir, Seq("tokens"))
              .agg(count(lit(1)), sum(size(col("tokens")).cast("long")),
                sum(Tokenize.checksumCol(col("tokens")))).head()
            (r.getLong(0), r.getLong(1), r.getLong(2))
          })
      case "count" =>
        val want = t.rows.size.toLong
        read("count", (want, 0L, 0L))(
          (Trace.span("sources.count")(spark.read.format("graft").load(t.dir).count()), 0L, 0L))
    }
  }

  def finish(): Unit = {
    var liveParquet = 0L
    tables.foreach { t =>
      val got = Trace.span("table.decode")(GenericTable.decode(spark, t.dir).collect())
      val byKey = got.map(r => r.getLong(0) -> r).toMap
      ctx.check(byKey.size == got.length && byKey == t.rows.toMap,
        s"churn ${t.name}: final table (${got.length} rows) != model (${t.rows.size} rows)")
      val snap = GraftTable.currentSnapshot(spark, t.dir).get
      ctx.check(snap.rowCount == got.length,
        s"churn ${t.name}: snapshot rowCount ${snap.rowCount} != scan ${got.length}")
      liveParquet += Tok.writeParquet(ctx,
        spark.createDataFrame(java.util.Arrays.asList(t.rows.values.toSeq: _*), t.schema),
        ctx.dir(s"churn-live-${t.name}"))
    }
    val tokGot = Trace.span("table.decode")(Tok.perSource(GraftTable.decode(spark, tokDir).toDF()))
    val tokModel = tokExpect(_ => true)
    ctx.check(tokGot == tokModel, s"churn tokens: final table $tokGot != model $tokModel")
    val snap = GraftTable.currentSnapshot(spark, tokDir).get
    val (rows, toks, _) = Tok.total(tokGot)
    ctx.check(snap.rowCount == rows && snap.tokenCount == toks,
      s"churn tokens: snapshot ${snap.rowCount}/${snap.tokenCount} != scan $rows/$toks")
    val tokRows = tokInput.union(ctx.data.tokens(tokSubmitted.toIndexedSeq))
    liveParquet += Tok.writeParquet(ctx, tokRows, ctx.dir("churn-live-tokens"))
    spaceAmp = ctx.ledger.liveBytes(dirs).values.sum.toDouble / liveParquet

    val submittedParquet = tables.map { t =>
      if (t.submitted.isEmpty) 0L
      else Tok.writeParquet(ctx, spark.createDataFrame(
        java.util.Arrays.asList(t.submitted.toSeq: _*), t.schema), ctx.dir(s"churn-sub-${t.name}"))
    }.sum + (if (tokSubmitted.isEmpty) 0L
      else Tok.writeParquet(ctx, ctx.data.tokens(tokSubmitted.toIndexedSeq), ctx.dir("churn-sub-tokens")))
    writeAmp = writtenBytes.toDouble / math.max(1L, submittedParquet)
  }

  def bytesVsParquet: Double = spaceAmp

  def named: Seq[(String, Double, String)] = Seq(
    ("churn.commit_ms.p50", Bench.median(commitMs.toSeq), "ms"),
    ("churn.commit_ms.p90", Bench.pct(commitMs.toSeq, 0.9), "ms"),
    ("churn.read_ms.p50", Bench.median(readMs.toSeq), "ms"),
    ("churn.write_amp", writeAmp, "ratio"),
    ("churn.space_amp", spaceAmp, "ratio"))

  def codecSample: Codecs.Sample = {
    def blocks[A](t: ModelTable, f: Row => A): Seq[Seq[A]] =
      t.rows.toSeq.sortBy(_._1).map(kv => f(kv._2)).grouped(4096).toSeq
    val tok = Tok.codecSample(tokInput, 1024, 2)
    val ts = (r: Row) => { val t = r.getAs[Timestamp](1); t.getTime * 1000L + t.getNanos / 1000 % 1000 }
    Codecs.Sample(
      ints = tok.ints,
      strs = blocks(events, _.getString(3)).map(_.toArray) ++ blocks(events, _.getString(5)).map(_.toArray) ++
        blocks(orders, _.getString(2)).map(_.toArray) ++ blocks(orders, _.getString(5)).map(_.toArray),
      longs = blocks(events, _.getLong(0)).map(_.toArray) ++ blocks(events, ts).map(_.toArray) ++
        blocks(events, _.getLong(2)).map(_.toArray) ++ blocks(orders, _.getLong(1)).map(_.toArray),
      f64 = blocks(events, _.getDouble(4)).map(_.toArray) ++ blocks(orders, _.getDouble(3)).map(_.toArray),
      block = tok.block)
  }

  override def layerExtras: Map[String, Double] = TableStats.of(ctx, dirs)
}
