package graft.table

import java.nio.file.Files
import java.time.Instant

import scala.util.Random

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.table.GraftTable.Options

/** Snapshot totals are arithmetic on the parent snapshot (parent + fresh,
  * parent − dropped + fresh). Over a long seeded mix of every commit kind
  * of a lane, each committed snapshot's totals and `content_sig` must still
  * equal a full aggregate over its own manifest dirs, and the version
  * summaries it records must name exactly those dirs, each equal to the
  * aggregate over its own dir.
  */
class TotalsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def tmpDir(tag: String): String =
    Files.createTempDirectory(s"graft-totals-$tag").toString

  /** (blocks, rows, tokens, bytes, plain, sig) of a full aggregate over
    * `s`'s manifests, read with an inferred schema.
    */
  private def manifestTotals(dir: String, s: GraftTable.Snapshot) =
    if (s.manifestDirs.isEmpty) (0L, 0L, 0L, 0L, 0L, "0000000000000000")
    else {
      val man = spark.read.json(s.manifestDirs.map(d => s"$dir/$d"): _*)
      val tokens = if (man.columns.contains("token_count")) sum("token_count") else lit(0L)
      val r = man.agg(count(lit(1)), sum("row_count"), tokens, sum("bytes_total"),
        sum("plain_bytes"), bit_xor(col("block_sig"))).head()
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
        f"${r.getLong(5)}%016x")
    }

  /** (blocks, rows, tokens, bytes, plain, sig, min key_min, max key_max,
    * max block_id) of manifest dir `m`, read with an inferred schema; a
    * token manifest has no key and spans 0. Manifest dirs never change
    * once written, so each is aggregated once.
    */
  private val dirSummaries = scala.collection.mutable.Map.empty[String, Seq[Long]]

  private def manifestSummary(dir: String, m: String): Seq[Long] =
    dirSummaries.getOrElseUpdate(s"$dir/$m", {
      val man = spark.read.json(s"$dir/$m")
      def opt(c: String, f: String => org.apache.spark.sql.Column) =
        if (man.columns.contains(c)) f(c) else lit(0L)
      val r = man.agg(count(lit(1)), sum("row_count"), opt("token_count", sum),
        sum("bytes_total"), sum("plain_bytes"), bit_xor(col("block_sig")),
        opt("key_min", min), opt("key_max", max), max("block_id")).head()
      (0 until 9).map(r.getLong)
    })

  /** Checks every version committed since `from`; returns the next one. */
  private def checkFrom(dir: String, from: Int): Int = {
    val cur = GraftTable.currentSnapshot(spark, dir).get.version
    (from to cur).foreach { v =>
      val s = GraftTable.snapshotVersion(spark, dir, v).get
      assert((s.blocksEncoded, s.rowCount, s.tokenCount, s.bytesTotal, s.plainBytes,
        s.contentSig) == manifestTotals(dir, s), s"v$v")
      val versions = s.versions.getOrElse(fail(s"v$v records no version summaries"))
      assert(versions.map(x => s"manifests/v${x.ver}") == s.manifestDirs, s"v$v")
      versions.foreach { x =>
        assert(x.fields.tail == manifestSummary(dir, s"manifests/v${x.ver}"),
          s"v$v: summary of v${x.ver}")
      }
    }
    cur + 1
  }

  private val Small = Options(targetRowsPerBlock = 16)
  private val Compact = Options(targetRowsPerBlock = 64)
  private val Partial = Small.copy(blockFilter = Some(_ % 2 == 0))

  /** Token rows of doc ids [lo, hi): 2-8 tokens each, three sources. */
  private def tokenRows(lo: Long, hi: Long): DataFrame = spark.range(lo, hi)
    .select(col("id").cast("string").as("doc_id"),
      expr("transform(sequence(0, cast(id % 7 + 1 as int)), x -> cast((x * 31 + id) % 50 as int))")
        .as("tokens"),
      concat(lit("s"), col("id") % 3).as("source"))
    .select(col("doc_id"), col("tokens"), size(col("tokens")).as("n_tok"), col("source"))

  test("token lane: 100+ encodes, resumes, appends and compacts keep totals exact") {
    val dir = tmpDir("token")
    val rnd = new Random(17)
    var next = 0L
    var checked = 1
    def encodeResumed(n: Int): Unit = {
      val in = tokenRows(next, next + n)
      next += n
      GraftTable.encode(in, dir, Partial)
      GraftTable.encode(in, dir, Small)
    }
    encodeResumed(200)
    checked = checkFrom(dir, checked)
    while (checked <= 100) {
      rnd.nextInt(10) match {
        case 0 => encodeResumed(100 + rnd.nextInt(100))
        case 1 | 2 => GraftTable.compact(spark, dir, Compact)
        case _ =>
          val n = 5 + rnd.nextInt(40)
          GraftTable.append(tokenRows(next, next + n), dir, Small)
          next += n
      }
      checked = checkFrom(dir, checked)
    }
  }

  /** Generic rows of ids [lo, hi); `salt` varies the values of a key. */
  private def genericRows(lo: Long, hi: Long, salt: Int): DataFrame = spark.range(lo, hi)
    .select(col("id"), (col("id") % 5).cast("int").as("g"),
      concat(lit(s"v$salt-"), col("id")).as("v"), (col("id") * 0.5 + salt).as("w"))

  test("generic lane: 100+ encodes, resumes, appends, upserts, deletes and compacts " +
    "keep totals exact") {
    val dir = tmpDir("generic")
    val rnd = new Random(23)
    var next = 0L
    var checked = 1
    def encodeResumed(n: Int): Unit = {
      val in = genericRows(next, next + n, 0)
      next += n
      GenericTable.encode(in, dir, keyCol = "id", opts = Partial)
      GenericTable.encode(in, dir, keyCol = "id", opts = Small)
    }
    encodeResumed(200)
    checked = checkFrom(dir, checked)
    while (checked <= 100) {
      val lo = rnd.nextLong(math.max(1L, next))
      rnd.nextInt(12) match {
        case 0 => encodeResumed(100 + rnd.nextInt(100))
        case 1 | 2 => GenericTable.compact(spark, dir, Compact)
        case 3 =>
          val n = 5 + rnd.nextInt(30)
          GenericTable.upsertByKey(
            genericRows(lo, lo + n, rnd.nextInt(100)).union(genericRows(next, next + n, 0)),
            dir, Small)
          next += n
        case 4 => GenericTable.deleteRange(spark, dir, lo, lo + rnd.nextInt(20), Small)
        case 5 =>
          GenericTable.deleteWhere(spark, dir,
            col("g") === rnd.nextInt(5) && col("id").between(lo, lo + 30), Small)
        case 6 =>
          GenericTable.deleteKeys(spark, dir,
            Seq.fill(1 + rnd.nextInt(5))(rnd.nextLong(math.max(1L, next))).toDF("k"), Small)
        case _ =>
          val n = 5 + rnd.nextInt(40)
          GenericTable.append(genericRows(next, next + n, 0), dir, Small)
          next += n
      }
      checked = checkFrom(dir, checked)
    }
  }

  test("committed_at has one width, with or without zero digit groups") {
    val full = Commit.committedAt(Instant.ofEpochSecond(1700000000L, 123456789L))
    Seq(123456000L, 123000000L, 0L).foreach { nanos =>
      val t = Instant.ofEpochSecond(1700000000L, nanos)
      val s = Commit.committedAt(t)
      assert(s.length == full.length, s)
      assert(Instant.parse(s) == t, s)
    }
    assert(Commit.committedAt(Instant.ofEpochSecond(1700000000L, 123456000L)) ==
      "2023-11-14T22:13:20.123456000Z")
  }
}
