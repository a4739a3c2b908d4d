package graft.table

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.codec.Hashing
import graft.table.GraftTable.{EncodeResult, Options, Snapshot}

/** Golden commit values: every commit kind of both lanes, run on the
  * sf0.001 testdata, must keep producing the same snapshot ids, content
  * signatures, totals, lineage and `column_stats` — the on-disk format of a
  * single-writer table. Each line below is a literal recorded from the
  * engine; a change to any snapshot-id preimage, totals aggregate or stats
  * field shows up here as a mismatch. `bounds_dir` and `committed_at` are
  * deliberately not pinned.
  */
class CommitSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val SfDir = "/root/testdata/sf0.001"
  private val Opts64 = Options(targetRowsPerBlock = 64)

  private def tmpDir(tag: String): String =
    Files.createTempDirectory(s"graft-commit-$tag").toString

  /** One line per committed snapshot. */
  private def snapLine(s: Snapshot): String =
    s"v${s.version} id=${s.snapshotId} parent=${s.parentId.getOrElse("-")} " +
      s"sig=${s.contentSig} blocks=${s.numBlocks}/${s.blocksEncoded} " +
      s"rows=${s.rowCount} tokens=${s.tokenCount} bytes=${s.bytesTotal} " +
      s"plain=${s.plainBytes} complete=${s.complete} " +
      s"data=${s.dataDirs.mkString(",")} man=${s.manifestDirs.mkString(",")}"

  /** [[snapLine]] plus the blocks encoded by this call; every other field
    * of the result must equal the snapshot's.
    */
  private def line(r: EncodeResult, s: Snapshot): String = {
    assert(r == EncodeResult(s.version, s.snapshotId, s.numBlocks,
      r.blocksEncodedThisRun, s.blocksEncoded, s.rowCount, s.tokenCount,
      s.bytesTotal, s.plainBytes, s.contentSig, s.complete))
    s"${snapLine(s)} run=${r.blocksEncodedThisRun}"
  }

  /** `column_stats`, sorted; schema JSON values shortened to a digest. */
  private def stats(s: Snapshot): String = s.stats.map {
    case (k, v) if k.endsWith("_schema") => s"$k=${Hashing.sha256Hex(v).take(16)}"
    case (k, v) => s"$k=${v.replace("\u001f", "|")}"
  }.mkString(";")

  private def check(
      step: String, dir: String, r: EncodeResult, wantLine: String, wantStats: String): Unit = {
    val s = GraftTable.currentSnapshot(spark, dir).get
    withClue(s"$step: ") {
      assert(line(r, s) == wantLine)
      assert(stats(s) == wantStats)
    }
  }

  test("token lane: encode, empty encode, resume no-op, append, compact") {
    val source = Tokenize.tokenTable(spark, SfDir).toDF().cache()
    val head = source.where(expr("cast(doc_id as int) < 400"))
    val tail = source.where(expr("cast(doc_id as int) >= 400"))
    val dir = tmpDir("token")

    check("encode", dir, GraftTable.encode(head, dir, Opts64),
      "v1 id=fe1d43001ecbe73d2707ef276895d80552c35a8d27101435f8f4144b4e8dbaed " +
        "parent=- " +
        "sig=fd6d9d6e30856227 blocks=7/7 rows=400 tokens=22544 bytes=15598 plain=94666 " +
        "complete=true data=data/v1 man=manifests/v1 run=7",
      "adj_repeat_frac=0.035495;key_max=399;key_min=0;key_nulls=0;" +
        "n_tok_max=99;n_tok_min=10;rows=400;source_distinct=19;" +
        "tok_distinct=32;tok_max=30;tok_min=0;tokens_total=22544")
    check("resume no-op", dir, GraftTable.encode(head, dir, Opts64),
      "v1 id=fe1d43001ecbe73d2707ef276895d80552c35a8d27101435f8f4144b4e8dbaed " +
        "parent=- " +
        "sig=fd6d9d6e30856227 blocks=7/7 rows=400 tokens=22544 bytes=15598 plain=94666 " +
        "complete=true data=data/v1 man=manifests/v1 run=0",
      "adj_repeat_frac=0.035495;key_max=399;key_min=0;key_nulls=0;" +
        "n_tok_max=99;n_tok_min=10;rows=400;source_distinct=19;" +
        "tok_distinct=32;tok_max=30;tok_min=0;tokens_total=22544")
    check("append", dir, GraftTable.append(tail, dir, Opts64),
      "v2 id=6fc902f7fcbe7e5214d0d16c834a03a58d17ed1fd83401897bdbcd2d6e5a4e5a " +
        "parent=fe1d43001ecbe73d2707ef276895d80552c35a8d27101435f8f4144b4e8dbaed " +
        "sig=78dc69177c116356 blocks=9/9 rows=500 tokens=27939 bytes=19380 plain=117396 " +
        "complete=true data=data/v1,data/v2 man=manifests/v1,manifests/v2 run=2",
      "adj_repeat_frac=0.032106;key_max=499;key_min=400;key_nulls=0;" +
        "n_tok_max=99;n_tok_min=10;rows=100;source_distinct=19;" +
        "tok_distinct=32;tok_max=30;tok_min=0;tokens_total=5395")
    check("compact", dir,
      GraftTable.compact(spark, dir, Options(targetRowsPerBlock = 256)),
      "v3 id=72f6648bae1c3a42fa63cdc148288de1e128cfaae0198b343186d85a712e87b2 " +
        "parent=6fc902f7fcbe7e5214d0d16c834a03a58d17ed1fd83401897bdbcd2d6e5a4e5a " +
        "sig=abb49ae73955e371 blocks=2/2 rows=500 tokens=27939 bytes=18479 plain=117396 " +
        "complete=true data=data/v3 man=manifests/v3 run=2",
      "adj_repeat_frac=0.034841;key_max=499;key_min=0;key_nulls=0;" +
        "n_tok_max=99;n_tok_min=10;rows=500;source_distinct=19;" +
        "tok_distinct=32;tok_max=30;tok_min=0;tokens_total=27939")

    val empty = tmpDir("token-empty")
    check("empty encode", empty, GraftTable.encode(source.limit(0), empty, Opts64),
      "v1 id=d013723fc9748af3774971c78f7bbdda1c598d066b2447b87a1399cf70323821 " +
        "parent=- " +
        "sig=0000000000000000 blocks=0/0 rows=0 tokens=0 bytes=0 plain=0 " +
        "complete=true data= man= run=0",
      "adj_repeat_frac=0.000000;key_max=0;key_min=0;key_nulls=0;" +
        "n_tok_max=0;n_tok_min=0;rows=0;source_distinct=0;" +
        "tok_distinct=0;tok_max=0;tok_min=0;tokens_total=0")
  }

  test("generic lane: encode, empty encode, append, deletes, upsert, compact") {
    val docs = spark.read.parquet(s"$SfDir/documents.parquet").cache()
    val dir = tmpDir("generic")
    val head = docs.where(col("doc_id") < 400)

    check("encode", dir, GenericTable.encode(head, dir, opts = Opts64),
      "v1 id=b88796280ba3a20e32d7756b39530264622272af0f96a4e0696c3f67c34193ca " +
        "parent=- " +
        "sig=dad1e85fcd42cf5e blocks=7/7 rows=400 tokens=0 bytes=126237 plain=132585 " +
        "complete=true data=data/v1 man=manifests/v1 run=7",
      "generic_key=doc_id;" +
        "generic_leaves=long:doc_id|string:text|string:lang|string:source|long:n_chars;" +
        "generic_schema=36506c8427b463ce;rows=400")
    check("resume no-op", dir, GenericTable.encode(head, dir, opts = Opts64),
      "v1 id=b88796280ba3a20e32d7756b39530264622272af0f96a4e0696c3f67c34193ca " +
        "parent=- " +
        "sig=dad1e85fcd42cf5e blocks=7/7 rows=400 tokens=0 bytes=126237 plain=132585 " +
        "complete=true data=data/v1 man=manifests/v1 run=0",
      "generic_key=doc_id;" +
        "generic_leaves=long:doc_id|string:text|string:lang|string:source|long:n_chars;" +
        "generic_schema=36506c8427b463ce;rows=400")
    val tail = docs.where(col("doc_id") >= 400)
      .withColumn("shard", pmod(col("doc_id"), lit(7)).cast("int"))
    check("append with an added column", dir, GenericTable.append(tail, dir, Opts64),
      "v2 id=9b965c5789d787cb78acd263380e090d50beedb8704ecb46820101d33006b670 " +
        "parent=b88796280ba3a20e32d7756b39530264622272af0f96a4e0696c3f67c34193ca " +
        "sig=47cecd52e531dcf3 blocks=9/9 rows=500 tokens=0 bytes=156550 plain=164806 " +
        "complete=true data=data/v1,data/v2 man=manifests/v1,manifests/v2 run=2",
      "generic_key=doc_id;" +
        "generic_leaves=long:doc_id|string:text|string:lang|string:source|long:n_chars|int:shard;" +
        "generic_schema=386da250976be6fc;" +
        "generic_write_schema=386da250976be6fc;rows=500")
    check("deleteRange", dir, GenericTable.deleteRange(spark, dir, 100L, 149L, Opts64),
      "v3 id=7f4f10e5bdf951d96d25e20908fa0ac488b732f24fab018b5901f18f95b27e8d " +
        "parent=9b965c5789d787cb78acd263380e090d50beedb8704ecb46820101d33006b670 " +
        "sig=5556993d29fca25a blocks=8/8 rows=450 tokens=0 bytes=140550 plain=148275 " +
        "complete=true data=data/v2,data/v3 man=manifests/v2,manifests/v3 run=6",
      "generic_key=doc_id;" +
        "generic_leaves=long:doc_id|string:text|string:lang|string:source|long:n_chars|int:shard;" +
        "generic_schema=386da250976be6fc;" +
        "generic_write_schema=386da250976be6fc;rows=450")
    check("deleteWhere", dir,
      GenericTable.deleteWhere(spark, dir, col("lang") === "fr" && col("doc_id") < 300, Opts64),
      "v4 id=6f5c597fb66db6f5447123567372f74b18b9752852643954cb614032cc0c68ab " +
        "parent=7f4f10e5bdf951d96d25e20908fa0ac488b732f24fab018b5901f18f95b27e8d " +
        "sig=dfe514fba5527e89 blocks=7/7 rows=408 tokens=0 bytes=126740 plain=133798 " +
        "complete=true data=data/v2,data/v4 man=manifests/v2,manifests/v4 run=5",
      "generic_key=doc_id;" +
        "generic_leaves=long:doc_id|string:text|string:lang|string:source|long:n_chars|int:shard;" +
        "generic_schema=386da250976be6fc;" +
        "generic_write_schema=386da250976be6fc;rows=408")
    check("deleteKeys", dir,
      GenericTable.deleteKeys(spark, dir, Seq(5L, 6L, 450L).toDF("k"), Opts64),
      "v5 id=f16f83a0c1e80498e4b81cafa3c55b84a3a50a4def927c1e3f891fb10d240866 " +
        "parent=6f5c597fb66db6f5447123567372f74b18b9752852643954cb614032cc0c68ab " +
        "sig=497131914965ed99 blocks=7/7 rows=406 tokens=0 bytes=126062 plain=133061 " +
        "complete=true data=data/v5 man=manifests/v5 run=7",
      "generic_key=doc_id;" +
        "generic_leaves=long:doc_id|string:text|string:lang|string:source|long:n_chars|int:shard;" +
        "generic_schema=386da250976be6fc;" +
        "generic_write_schema=386da250976be6fc;rows=406")
    val upsert = docs.where(col("doc_id").between(10, 19))
      .withColumn("text", concat(col("text"), lit(" upserted")))
    val upserted = GenericTable.upsertByKey(upsert, dir, Opts64)
    val delete = GraftTable.snapshotVersion(spark, dir, upserted.version - 1).get
    withClue("upsertByKey delete: ") {
      assert(snapLine(delete) ==
        "v6 id=97983b3375a100ca249bf3ec881ba8224cf158bc174ff0788ecc26d2b1b53e5f " +
          "parent=f16f83a0c1e80498e4b81cafa3c55b84a3a50a4def927c1e3f891fb10d240866 " +
          "sig=2cf89c46c743249c blocks=7/7 rows=398 tokens=0 bytes=123782 plain=130615 " +
          "complete=true data=data/v6 man=manifests/v6")
      assert(stats(delete) ==
        "generic_key=doc_id;" +
          "generic_leaves=long:doc_id|string:text|string:lang|string:source|long:n_chars|int:shard;" +
          "generic_schema=386da250976be6fc;" +
          "generic_write_schema=386da250976be6fc;rows=398")
    }
    check("upsertByKey append", dir, upserted,
      "v7 id=0b79d5797af61a2ae5c608da8bcc379a3606d4516d7b7b1f26db4d7297bd2e16 " +
        "parent=97983b3375a100ca249bf3ec881ba8224cf158bc174ff0788ecc26d2b1b53e5f " +
        "sig=2a21905adfacc4c6 blocks=8/8 rows=408 tokens=0 bytes=127003 plain=133935 " +
        "complete=true data=data/v6,data/v7 man=manifests/v6,manifests/v7 run=1",
      "generic_key=doc_id;" +
        "generic_leaves=long:doc_id|string:text|string:lang|string:source|long:n_chars;" +
        "generic_schema=386da250976be6fc;" +
        "generic_write_schema=36506c8427b463ce;rows=408")
    check("compact", dir,
      GenericTable.compact(spark, dir, Options(targetRowsPerBlock = 256)),
      "v8 id=b0fabff40a30fe13302e386ce9475e60eefa240840b249823ed60732601a3046 " +
        "parent=0b79d5797af61a2ae5c608da8bcc379a3606d4516d7b7b1f26db4d7297bd2e16 " +
        "sig=61f98e7b2961b77d blocks=2/2 rows=408 tokens=0 bytes=126271 plain=133945 " +
        "complete=true data=data/v8 man=manifests/v8 run=2",
      "generic_key=doc_id;" +
        "generic_leaves=long:doc_id|string:text|string:lang|string:source|long:n_chars|int:shard;" +
        "generic_schema=386da250976be6fc;" +
        "generic_write_schema=386da250976be6fc;rows=408")

    val empty = tmpDir("generic-empty")
    check("empty encode", empty, GenericTable.encode(docs.limit(0), empty, opts = Opts64),
      "v1 id=e1302c4ab6035b16fbd4b7a699bf0da08b2d45265c827963cc5fe835128e6a2c " +
        "parent=- " +
        "sig=0000000000000000 blocks=0/0 rows=0 tokens=0 bytes=0 plain=0 " +
        "complete=true data= man= run=0",
      "generic_key=doc_id;" +
        "generic_leaves=long:doc_id|string:text|string:lang|string:source|long:n_chars;" +
        "generic_schema=36506c8427b463ce;rows=0")
  }
}
