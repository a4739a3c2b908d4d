package graft.sources

import java.util.OptionalLong

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{Path => HPath}
import org.apache.parquet.filter2.compat.FilterCompat
import org.apache.parquet.filter2.predicate.FilterApi
import org.apache.parquet.hadoop.{ParquetFileReader, ParquetReader}
import org.apache.parquet.hadoop.api.ReadSupport
import org.apache.parquet.hadoop.example.GroupReadSupport
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.schema.MessageType
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{GenericInternalRow, UnsafeArrayData}
import org.apache.spark.sql.connector.catalog.{MetadataColumn, SupportsMetadataColumns,
  SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.functions.{array, arrays_overlap, coalesce, col, expr, lit}
import org.apache.spark.sql.sources.{AlwaysFalse, AlwaysTrue, And, DataSourceRegister,
  EqualNullSafe, EqualTo, Filter, GreaterThan, GreaterThanOrEqual, In, IsNotNull,
  IsNull, LessThan, LessThanOrEqual, Not, Or, StringContains, StringEndsWith,
  StringStartsWith}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

import graft.codec.{IntBlocks, StrBlocks}
import graft.table.{GenericTable, GraftTable}

/** Spark DataSource V2 read path for graft token tables:
  * `spark.read.format("graft").load(tableDir)` or
  * `CREATE TABLE t USING graft OPTIONS (path '...')`. Its scan is also the
  * only decoder behind every `GraftTable` read.
  *
  * What Catalyst hands the connector is used for real work at plan time:
  *   - column pruning (`SupportsPushDownRequiredColumns`) reaches the
  *     parquet scan — a `SELECT n_tok` reads ONLY the `pl_n_tok` payload
  *     column, never the token/string payloads (≈half the read volume at
  *     100 TB);
  *   - `doc_id`/`source` equality and IN filters
  *     (`SupportsPushDownFilters`) and a pinned numeric doc_id interval
  *     prune whole BLOCKS on the driver via
  *     the manifest zone maps (doc_id min/max, src_list) before any
  *     executor starts, and the surviving block ids become a parquet
  *     row-group + record filter inside each file. Filters are also left
  *     in the residual plan, so correctness never depends on pruning;
  *   - `SupportsReportStatistics` reports the snapshot's exact row/byte
  *     totals, so the optimizer can (e.g.) choose a broadcast join of a
  *     decoded dimension table without scanning it. A scan of a pinned
  *     snapshot (every Scala API read) reports its files' size instead.
  *
  * Generic (any-schema) tables are served by [[GraftGenericScanBuilder]],
  * which is also the only decoder behind every `GenericTable` read.
  */
class GraftDataSource extends TableProvider with DataSourceRegister
    with org.apache.spark.sql.sources.CreatableRelationProvider {

  override def shortName(): String = "graft"

  /** Writes carry their own schema (the incoming DataFrame's) — Spark
    * must not require inferSchema to succeed on a not-yet-created path.
    */
  override def supportsExternalMetadata(): Boolean = true

  private def pathOf(options: CaseInsensitiveStringMap): String = {
    val p = options.get("path")
    require(p != null && p.nonEmpty, "graft reads need a table path: .load(dir)")
    p
  }

  override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    val dir = pathOf(options)
    val snap = GraftTable.currentSnapshot(SparkSession.active, dir).getOrElse(
      throw new IllegalArgumentException(s"no committed graft table at $dir"))
    if (GenericTable.isGeneric(snap)) GenericTable.readSchemaOf(snap)
    else GraftDataSource.TokenSchema
  }

  override def getTable(
      schema: StructType,
      partitioning: Array[Transform],
      properties: java.util.Map[String, String]): Table =
    new GraftSparkTable(properties.get("path"), schema)

  /** V1 CTAS bridge: `CREATE TABLE t USING graft OPTIONS (path ...) AS
    * SELECT ...` plans through the session catalog's V1 command, which
    * needs a CreatableRelationProvider. Routes into the same lane logic
    * as the V2 write path.
    */
  override def createRelation(
      sqlContext: org.apache.spark.sql.SQLContext,
      mode: org.apache.spark.sql.SaveMode,
      parameters: Map[String, String],
      data: org.apache.spark.sql.DataFrame): org.apache.spark.sql.sources.BaseRelation = {
    import org.apache.spark.sql.SaveMode._
    val dir = parameters.getOrElse("path",
      throw new IllegalArgumentException("graft writes need a table path option"))
    val exists = GraftTable.currentSnapshot(data.sparkSession, dir).isDefined
    mode match {
      case ErrorIfExists if exists =>
        throw new IllegalStateException(s"graft table already exists at $dir")
      case Ignore if exists => // no-op by contract
      case _ =>
        GraftDataSource.writeBatch(data, dir, overwrite = mode == Overwrite, parameters)
    }
    val ctx = sqlContext
    val written = data.schema
    new org.apache.spark.sql.sources.BaseRelation {
      override def sqlContext: org.apache.spark.sql.SQLContext = ctx
      override def schema: StructType = written
    }
  }
}

object GraftDataSource {

  /** The decoded token-table schema (matches [[GraftTable.decode]]). */
  val TokenSchema: StructType = StructType(Seq(
    StructField("doc_id", StringType, nullable = true),
    StructField("tokens", ArrayType(IntegerType, containsNull = false), nullable = true),
    StructField("n_tok", IntegerType, nullable = false),
    StructField("source", StringType, nullable = true)))

  /** V1 Filter → Column translation for SQL `DELETE FROM ... WHERE ...`
    * (conjunctive; None = untranslatable, the delete is rejected at
    * analysis via canDeleteWhere — never a silent partial delete).
    */
  private[sources] def filterColumn(f: Filter): Option[org.apache.spark.sql.Column] =
    f match {
      case EqualTo(a, v) => Some(col(a) === lit(v))
      case EqualNullSafe(a, v) => Some(col(a) <=> lit(v))
      case GreaterThan(a, v) => Some(col(a) > lit(v))
      case GreaterThanOrEqual(a, v) => Some(col(a) >= lit(v))
      case LessThan(a, v) => Some(col(a) < lit(v))
      case LessThanOrEqual(a, v) => Some(col(a) <= lit(v))
      case In(a, vs) => Some(col(a).isInCollection(vs.toSeq))
      case IsNull(a) => Some(col(a).isNull)
      case IsNotNull(a) => Some(col(a).isNotNull)
      case And(l, r) =>
        for { a <- filterColumn(l); b <- filterColumn(r) } yield a && b
      case Or(l, r) =>
        for { a <- filterColumn(l); b <- filterColumn(r) } yield a || b
      case Not(c) => filterColumn(c).map(!_)
      case StringStartsWith(a, v) => Some(col(a).startsWith(v))
      case StringEndsWith(a, v) => Some(col(a).endsWith(v))
      case StringContains(a, v) => Some(col(a).contains(v))
      case _: AlwaysTrue => Some(lit(true))
      case _: AlwaysFalse => Some(lit(false))
      case _ => None
    }

  /** A batch rides the specialized token lane when it IS the token shape.
    * containsNull on `tokens` is ignored for routing: Spark's write
    * planning relaxes nullability flags on the way to the V1 insert, and
    * the token lane never casts the array (a null ELEMENT at runtime
    * fails the encode loudly — token streams are non-null by contract;
    * batches that genuinely carry element nulls should target a generic
    * table, whose `arr_int_n` kind stores them faithfully).
    */
  private[sources] def isTokenShape(s: StructType): Boolean =
    s.fieldNames.sorted.sameElements(Array("doc_id", "n_tok", "source", "tokens")) &&
      s("doc_id").dataType == StringType &&
      (s("tokens").dataType match {
        case ArrayType(IntegerType, _) => true
        case _ => false
      }) &&
      s("n_tok").dataType == IntegerType &&
      s("source").dataType == StringType

  /** Shared write routing for the V2 (`df.write.format("graft")`) and V1
    * (CTAS) paths. Overwrite replaces (both lanes' `encode` starts a fresh
    * version whose dataDirs carry only the new data when the input
    * fingerprint changed — and resumes as a no-op when it didn't); append
    * on an existing table accumulates a version (generic lane: with
    * union-by-name schema evolution). An existing table pins the lane;
    * a fresh path routes by the batch's shape.
    */
  private[sources] def writeBatch(
      data: org.apache.spark.sql.DataFrame,
      tableDir: String,
      overwrite: Boolean,
      options: Map[String, String]): Unit = {
    val spark = data.sparkSession
    val existing = GraftTable.currentSnapshot(spark, tableDir)
    val existingGeneric = existing.exists(GenericTable.isGeneric)
    val opts = options.get("targetrowsperblock").orElse(options.get("targetRowsPerBlock"))
      .fold(GraftTable.Options()) { v =>
        GraftTable.Options(targetRowsPerBlock = v.toIntOption.getOrElse(
          throw new IllegalArgumentException(
            s"targetRowsPerBlock must be a positive integer, got '$v'")))
      }
    val tokenLane =
      if (existing.isEmpty) isTokenShape(data.schema)
      else !existingGeneric
    if (tokenLane) {
      require(isTokenShape(data.schema),
        s"$tableDir is a token-lane table; the batch schema " +
          s"${data.schema.catalogString} is not the token shape " +
          "(doc_id string, tokens array<int> non-null elements, n_tok int, source string)")
      val d = data.select(col("doc_id"), col("tokens"), col("n_tok"), col("source"))
      if (overwrite || existing.isEmpty) GraftTable.encode(d, tableDir, opts)
      else GraftTable.append(d, tableDir, opts)
    } else {
      val key = options.getOrElse("key", "")
      if (overwrite || existing.isEmpty)
        GenericTable.encode(data, tableDir, keyCol = key, opts = opts)
      else GenericTable.append(data, tableDir, opts)
    }
  }
}

/** The connector's table. `pinned` fixes the snapshot a read sees instead
  * of the current one, and `keyRange` adds a key interval to the scan (a
  * generic table's range key, a token table's numeric doc_id): the Scala
  * API reads both lanes through these (time travel, rewrites of a subset
  * of versions, key ranges that SQL filters cannot express).
  */
class GraftSparkTable private[graft] (
    tableDir: String,
    provided: StructType,
    pinned: Option[GraftTable.Snapshot],
    keyRange: Option[(Long, Long)]) extends Table
    with SupportsRead
    with SupportsMetadataColumns
    with org.apache.spark.sql.connector.catalog.SupportsWrite
    with org.apache.spark.sql.connector.catalog.SupportsDelete {

  def this(tableDir: String, provided: StructType) = this(tableDir, provided, None, None)

  private lazy val snapOpt =
    pinned.orElse(GraftTable.currentSnapshot(SparkSession.active, tableDir))

  private lazy val snap = snapOpt.getOrElse(
    throw new IllegalArgumentException(s"no committed graft table at $tableDir"))

  // a generic snapshot's live versions' write schemas: read once, for the
  // table schema and for the scan's partitions
  private lazy val writeSchemas =
    GenericTable.writeSchemasOf(SparkSession.active, tableDir, snap)

  private lazy val genericSchema = GenericTable.liveSchemaOf(snap, writeSchemas)

  override def name(): String = s"graft:`$tableDir`"

  override def schema(): StructType = snapOpt match {
    case Some(s) if GenericTable.isGeneric(s) => genericSchema
    case Some(_) => GraftDataSource.TokenSchema
    case None => if (provided != null) provided else GraftDataSource.TokenSchema
  }

  // TRUNCATE (not OVERWRITE_BY_FILTER): the write builder implements only
  // SupportsTruncate, and TRUNCATE alone is what df.write.mode("overwrite")
  // / INSERT OVERWRITE need. Advertising OVERWRITE_BY_FILTER would let a
  // filtered overwrite pass analysis only to fail at runtime.
  override def capabilities(): java.util.Set[TableCapability] =
    Set(TableCapability.BATCH_READ,
      TableCapability.V1_BATCH_WRITE,
      TableCapability.TRUNCATE).asJava

  /** Generic tables expose each row's version ([[GraftGenericScan.VersionColumn]]). */
  override def metadataColumns(): Array[MetadataColumn] =
    if (snapOpt.exists(GenericTable.isGeneric)) Array(GraftGenericScan.VersionColumn)
    else Array.empty

  // a pinned snapshot may be a subset of a committed one, whose totals
  // then answer neither COUNT(*) nor the scan's statistics
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = {
    val committedTotals = pinned.isEmpty
    if (GenericTable.isGeneric(snap))
      new GraftGenericScanBuilder(tableDir, snap, genericSchema, writeSchemas, keyRange,
        committedTotals)
    else new GraftScanBuilder(tableDir, snap, keyRange, committedTotals)
  }

  override def newWriteBuilder(
      info: org.apache.spark.sql.connector.write.LogicalWriteInfo)
      : org.apache.spark.sql.connector.write.WriteBuilder =
    new GraftWriteBuilder(tableDir, info.options().asScala.toMap)

  // SQL `DELETE FROM t WHERE ...` routes into the generic lane's
  // copy-on-write deleteWhere (version-pruned rewrite). Only accepted
  // when EVERY filter translates — a partial translation would delete a
  // superset/subset of what the user asked. Token-lane tables reject at
  // analysis (re-encode or serve the token schema through a generic
  // table when deletes are needed).
  override def canDeleteWhere(filters: Array[Filter]): Boolean =
    snapOpt.exists(GenericTable.isGeneric) &&
      filters.forall(f => GraftDataSource.filterColumn(f).isDefined)

  override def deleteWhere(filters: Array[Filter]): Unit = {
    require(snapOpt.exists(GenericTable.isGeneric),
      s"DELETE FROM is supported on generic graft tables only ($tableDir is token-lane)")
    // strict translation: Spark gates on canDeleteWhere first, but if a
    // future call path skipped that gate, a silently-dropped filter here
    // would delete a SUPERSET of the requested rows — fail loud instead
    val pred = filters.toSeq.map(f =>
        GraftDataSource.filterColumn(f).getOrElse(throw new IllegalArgumentException(
          s"DELETE filter does not translate: $f")))
      .reduceOption(_ && _)
      .getOrElse(org.apache.spark.sql.functions.lit(true))
    GenericTable.deleteWhere(SparkSession.active, tableDir, pred)
  }
}

/** V1Write bridge: both lanes' encode is a whole-DataFrame operation
  * (global range bounds, one hash exchange, streaming block assembly) —
  * the per-task DataWriter protocol cannot express it, and reimplementing
  * it per-partition would forfeit the engine's layout determinism. The
  * InsertableRelation hand-off keeps the WHOLE distributed pipeline
  * (nothing is collected; the driver only orchestrates).
  */
class GraftWriteBuilder(tableDir: String, options: Map[String, String])
    extends org.apache.spark.sql.connector.write.WriteBuilder
    with org.apache.spark.sql.connector.write.SupportsTruncate {

  private var overwrite = false

  override def truncate(): org.apache.spark.sql.connector.write.WriteBuilder = {
    overwrite = true
    this
  }

  override def build(): org.apache.spark.sql.connector.write.Write =
    new org.apache.spark.sql.connector.write.V1Write {
      override def toInsertableRelation: org.apache.spark.sql.sources.InsertableRelation =
        (data: org.apache.spark.sql.DataFrame, ov: Boolean) =>
          GraftDataSource.writeBatch(data, tableDir, overwrite || ov, options)
    }
}

/** Token-lane scan builder, and the one decoder of the token lane: SQL
  * reads and every `GraftTable` read plan its scan. `pinnedRange` is a
  * numeric doc_id interval (`GraftTable.decodeRange`); `committedTotals`
  * says whether `snap`'s totals describe its data dirs, as in
  * [[GraftGenericScanBuilder]].
  */
class GraftScanBuilder(
    tableDir: String,
    snap: GraftTable.Snapshot,
    pinnedRange: Option[(Long, Long)],
    committedTotals: Boolean)
    extends ScanBuilder with SupportsPushDownFilters with SupportsPushDownRequiredColumns
    with SupportsPushDownAggregates with SupportsPushDownLimit {

  private var required: StructType = GraftDataSource.TokenSchema
  private var pushed: Array[Filter] = Array.empty
  private var countPushed = false
  private var limit = -1

  /** Partial LIMIT pushdown: each partition stops decoding blocks once it
    * has produced `limit` rows (Spark still applies the global limit).
    */
  override def pushLimit(l: Int): Boolean = { limit = l; true }
  override def isPartiallyPushed: Boolean = true

  /** COUNT(*) with no filters and no GROUP BY answers from the snapshot's
    * exact row total — a metadata-only query, no data file is opened (the
    * Iceberg/parquet count optimization). Any filter or grouping falls
    * back to the normal scan: zone-map pruning is conservative, counts
    * must be exact. So does a pinned snapshot, whose totals may cover
    * more data dirs than it lists.
    */
  override def supportCompletePushDown(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation): Boolean =
    committedTotals && pushed.isEmpty && agg.groupByExpressions.isEmpty &&
      agg.aggregateExpressions.nonEmpty &&
      agg.aggregateExpressions.forall(
        _.isInstanceOf[org.apache.spark.sql.connector.expressions.aggregate.CountStar])

  override def pushAggregation(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation): Boolean = {
    if (!supportCompletePushDown(agg)) false
    else { countPushed = true; true }
  }

  /** Accept doc_id / source equality + IN for block pruning; every filter
    * stays residual (returned back), so pruning is a pure optimization.
    */
  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    pushed = filters.filter {
      case EqualTo("doc_id", _: String) => true
      case In("doc_id", vs) => vs.forall(_.isInstanceOf[String])
      case EqualTo("source", _: String) => true
      case In("source", vs) => vs.forall(_.isInstanceOf[String])
      case _ => false
    }
    filters
  }

  override def pushedFilters(): Array[Filter] = pushed

  override def pruneColumns(requiredSchema: StructType): Unit = {
    // preserve canonical column order; an empty prune (count(*)) still
    // needs row multiplicity — keep n_tok, the cheapest payload
    val keep = requiredSchema.fieldNames.toSet
    val fields = GraftDataSource.TokenSchema.fields.filter(f => keep.contains(f.name))
    required =
      if (fields.nonEmpty) StructType(fields)
      else StructType(GraftDataSource.TokenSchema.fields.filter(_.name == "n_tok"))
  }

  override def build(): Scan =
    if (countPushed) new GraftCountScan(tableDir, snap)
    else new GraftScan(tableDir, snap, committedTotals, required, pushed, pinnedRange, limit)
}

/** Metadata-only COUNT(*): one partition, one row, zero data files read. */
class GraftCountScan(tableDir: String, snap: GraftTable.Snapshot)
    extends Scan with Batch {

  override def readSchema(): StructType =
    StructType(Seq(StructField("count(*)", LongType, nullable = false)))

  override def toBatch: Batch = this

  override def planInputPartitions(): Array[InputPartition] =
    Array(GraftCountPartition(snap.rowCount))

  override def createReaderFactory(): PartitionReaderFactory =
    new PartitionReaderFactory {
      override def createReader(p: InputPartition): PartitionReader[InternalRow] =
        new PartitionReader[InternalRow] {
          private var emitted = false
          override def next(): Boolean = { val r = !emitted; emitted = true; r }
          override def get(): InternalRow =
            new GenericInternalRow(Array[Any](p.asInstanceOf[GraftCountPartition].count))
          override def close(): Unit = ()
        }
    }

  override def description(): String =
    s"graft COUNT(*)=${snap.rowCount} (snapshot metadata, no data read)"
}

final case class GraftCountPartition(count: Long) extends InputPartition

/** One partition = one parquet data file (+ the surviving block ids of its
  * version, when the pushed filters pruned any).
  */
final case class GraftInputPartition(
    file: String,
    allowedBlocks: Option[Array[Int]],
    splitStart: Long = 0L,
    splitEnd: Long = Long.MaxValue) extends InputPartition

object GraftScan {
  /** Driver-side block-pruning ceiling: above this many surviving block
    * ids the zone-map prune is skipped (≈2 MB of ids; the parquet
    * row-group filter and the residual Spark filters still apply).
    */
  @volatile var MaxPrunedBlockIds: Int = 262144

  /** Byte ranges for one data file: files above `splitBytes` yield one
    * range per `splitBytes` stripe, so read parallelism is bounded by
    * ROW GROUPS, not files — a heavily-compacted version with a few
    * large files still fans out across a cluster. Parquet's midpoint
    * rule (a row group belongs to the range holding its middle byte)
    * makes the stripes exact: each row group is read by exactly one
    * split, whatever the stripe boundaries cut through.
    */
  private[sources] def splitRanges(len: Long, splitBytes: Long): Seq[(Long, Long)] =
    if (len <= splitBytes || splitBytes <= 0) Seq((0L, Long.MaxValue))
    else (0L until len by splitBytes).map(s => (s, math.min(s + splitBytes, len)))

  /** (version, parquet data file) of every file in `dataDirs`, in version
    * order.
    */
  private[sources] def dataFiles(
      tableDir: String, dataDirs: Seq[String]): Seq[(Int, org.apache.hadoop.fs.FileStatus)] = {
    val conf = SparkSession.active.sparkContext.hadoopConfiguration
    dataDirs.sortBy(GraftTable.versionOfDir).flatMap { d =>
      val dir = new HPath(s"$tableDir/$d")
      dir.getFileSystem(conf).listStatus(dir).toSeq.filter { st =>
        val n = st.getPath.getName
        n.endsWith(".parquet") && !n.startsWith("_") && !n.startsWith(".")
      }.map(GraftTable.versionOfDir(d) -> _)
    }
  }

  /** A scan's statistics: `snap`'s totals when they describe its data
    * dirs (`committedTotals`), else the size of the files it reads.
    */
  private[sources] def statistics(
      snap: GraftTable.Snapshot,
      committedTotals: Boolean,
      files: => Seq[(Int, org.apache.hadoop.fs.FileStatus)]): Statistics =
    if (committedTotals) new Statistics {
      override def sizeInBytes(): OptionalLong = OptionalLong.of(snap.bytesTotal)
      override def numRows(): OptionalLong = OptionalLong.of(snap.rowCount)
    } else new Statistics {
      override def sizeInBytes(): OptionalLong =
        OptionalLong.of(files.iterator.map(_._2.getLen).sum)
      override def numRows(): OptionalLong = OptionalLong.empty()
    }
}

class GraftScan(
    tableDir: String,
    snap: GraftTable.Snapshot,
    committedTotals: Boolean,
    required: StructType,
    pushed: Array[Filter],
    range: Option[(Long, Long)],
    limit: Int = -1) extends Scan with Batch with SupportsReportStatistics {

  override def readSchema(): StructType = required

  override def toBatch: Batch = this

  override def estimateStatistics(): Statistics =
    GraftScan.statistics(snap, committedTotals, files)

  private lazy val files = GraftScan.dataFiles(tableDir, snap.dataDirs)

  /** The lane's one block selector, driver-side zone-map pruning: the
    * blocks whose [doc_id_min, doc_id_max] meets the pinned interval and
    * holds one of the pushed numeric doc_ids, and whose src_list holds one
    * of the pushed sources. A bound that is not a number (a hash-keyed
    * block's first or last id) or an overflowed src_list keeps its block.
    * Returns ver -> allowed block ids; None = no pruning.
    */
  private lazy val allowedByVer: Option[Map[Int, Array[Int]]] = {
    var docIds = Seq.empty[String]
    var sources = Seq.empty[String]
    pushed.foreach {
      case EqualTo("doc_id", v: String) => docIds = Seq(v)
      case In("doc_id", vs) => docIds = vs.map(_.asInstanceOf[String]).toSeq
      case EqualTo("source", v: String) => sources = Seq(v)
      case In("source", vs) => sources = vs.map(_.asInstanceOf[String]).toSeq
      case _ =>
    }
    // the block key of a numeric doc_id is its value; any other id's is a
    // hash, which the bounds cannot place
    val nums = docIds.flatMap(_.toLongOption)
    val idPoints = if (nums.nonEmpty && nums.length == docIds.length) Some(nums) else None
    // try_cast: bounds are strings, and a non-numeric one reads NULL
    val lo = expr("try_cast(doc_id_min as bigint)")
    val hi = expr("try_cast(doc_id_max as bigint)")
    def meets(a: Long, b: Long) = coalesce(lo <= b, lit(true)) && coalesce(hi >= a, lit(true))
    val conds = range.map { case (a, b) => meets(a, b) }.toSeq ++
      idPoints.map(_.map(n => meets(n, n)).reduce(_ || _)) ++
      Some(sources).filter(_.nonEmpty).map(ss =>
        col("src_list").isNull || arrays_overlap(col("src_list"), array(ss.map(lit): _*)))
    if (conds.isEmpty) None
    else {
      // Bounded collect: an UNSELECTIVE filter over a 15M-block table
      // would otherwise pull every surviving (ver, block_id) to the
      // driver and ship the array into each partition — the same
      // O(numBlocks) driver floor the two-level bounds removed from the
      // encode path. limit(N+1) caps what the collect can ever pull;
      // past the cap, pruning is skipped entirely (it is a pure
      // optimization — every filter stays residual in the Spark plan,
      // so correctness never depends on it).
      val rows = GraftTable.manifestRows(SparkSession.active, tableDir, snap.manifestDirs)
        .where(conds.reduce(_ && _))
        .select(col("ver").cast("int"), col("block_id").cast("int"))
        .limit(GraftScan.MaxPrunedBlockIds + 1)
        .collect()
      if (rows.length > GraftScan.MaxPrunedBlockIds) None
      else Some(rows.groupBy(_.getInt(0)).map { case (v, rs) =>
        v -> rs.map(_.getInt(1)).distinct.sorted
      })
    }
  }

  override def planInputPartitions(): Array[InputPartition] = {
    val splitBytes = SparkSession.active.sessionState.conf.filesMaxPartitionBytes
    files.flatMap { case (ver, st) =>
      // a fully-pruned version's files are skipped
      val allowed = allowedByVer.map(_.getOrElse(ver, Array.empty[Int]))
      if (allowed.exists(_.isEmpty)) Nil
      else GraftScan.splitRanges(st.getLen, splitBytes).map { case (s, e) =>
        GraftInputPartition(st.getPath.toString, allowed, s, e)
      }
    }.toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new GraftReaderFactory(required.fieldNames,
      new graft.expr.SerializableHadoopConf(
        SparkSession.active.sparkContext.hadoopConfiguration), limit)

  override def description(): String = {
    val pruned = allowedByVer.map(m => m.values.map(_.length).sum.toString)
      .getOrElse("all")
    s"graft blocks=$pruned/${snap.blocksEncoded} " +
      s"columns=[${required.fieldNames.mkString(",")}] " +
      s"range=${range.map(r => s"[${r._1},${r._2}]").getOrElse("all")} " +
      s"pushed=[${pushed.mkString(",")}]"
  }
}

class GraftReaderFactory(
    columns: Array[String],
    conf: graft.expr.SerializableHadoopConf,
    limit: Int = -1) extends PartitionReaderFactory {
  // Deliberately row-at-a-time, MEASURED (SQL-route scan of 27M tokens,
  // idle host): a ColumnarBatch emit (OnHeapColumnVector per block, bulk
  // putInts for the token child vector) read 12.0 M tok/s vs 19.6 M on
  // this path, and a residual-filtered string scan was 3.7x slower —
  // because every downstream operator here is row-based, so
  // ColumnarToRow copies each token array ELEMENT-wise out of the
  // vector, while this reader hands Spark a finished UnsafeArrayData
  // via one memcpy (fromPrimitiveArray). Columnar would only pay off
  // with a vectorized consumer, which Spark's aggregates are not.
  // perfbench `--trace 1` times this route as `sources.exec_ms`.
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    new GraftPartitionReader(
      partition.asInstanceOf[GraftInputPartition], columns, conf, limit)
}

/** Block-granular cursor over one token-lane data file: opens the parquet
  * reader with a projection of ONLY the payload columns the projection
  * needs, skips pruned block ids via a parquet row-group/record filter,
  * and decodes one block's payloads at a time into plain arrays for
  * [[GraftPartitionReader]].
  */
private[sources] final class TokenBlockCursor(
    part: GraftInputPartition,
    columns: Array[String],
    hconf: graft.expr.SerializableHadoopConf) {

  val needDoc: Boolean = columns.contains("doc_id")
  val needTok: Boolean = columns.contains("tokens")
  val needN: Boolean = columns.contains("n_tok") || needTok // lens drive slicing
  val needSrc: Boolean = columns.contains("source")

  private val reader = {
    // the DRIVER's Hadoop conf (spark.hadoop.* creds, fs impls) travels
    // with the factory — a fresh Configuration() would drop it
    val conf = new Configuration(hconf.value)
    val path = new HPath(part.file)
    val footer = ParquetFileReader.open(HadoopInputFile.fromPath(path, conf))
    val fileSchema = try footer.getFooter.getFileMetaData.getSchema finally footer.close()
    val names = Seq("block_id") ++
      (if (needDoc) Seq("pl_doc_id") else Nil) ++
      (if (needTok) Seq("pl_tokens") else Nil) ++
      (if (needN) Seq("pl_n_tok") else Nil) ++
      (if (needSrc) Seq("pl_source") else Nil)
    val proj = new MessageType(fileSchema.getName,
      names.map(n => fileSchema.getType(fileSchema.getFieldIndex(n))): _*)
    conf.set(ReadSupport.PARQUET_READ_SCHEMA, proj.toString)
    var b = ParquetReader.builder(new GroupReadSupport(), path).withConf(conf)
    if (part.splitStart > 0L || part.splitEnd != Long.MaxValue)
      b = b.withFileRange(part.splitStart, part.splitEnd)
    part.allowedBlocks match {
      case Some(ids) if ids.length <= 65536 =>
        val hs = new java.util.HashSet[Integer]()
        ids.foreach(id => hs.add(Int.box(id)))
        b.withFilter(FilterCompat.get(
          FilterApi.in(FilterApi.intColumn("block_id"), hs))).build()
      case _ => b.build()
    }
  }

  private val allowed = part.allowedBlocks.map(ids => ids.toSet)

  // decoded payloads of the CURRENT block
  var docIds: Array[String] = _
  var lens: Array[Int] = _
  var flat: Array[Int] = _
  var srcs: Array[String] = _
  var nRows = 0

  /** Advance to the next non-pruned block; false at end of file. */
  def nextBlock(): Boolean = {
    var g = reader.read()
    while (g != null && !allowed.forall(_.contains(g.getInteger("block_id", 0))))
      g = reader.read()
    if (g == null) return false
    if (needDoc) docIds = StrBlocks.decode(g.getBinary("pl_doc_id", 0).getBytes)
    if (needN) lens = IntBlocks.decode(g.getBinary("pl_n_tok", 0).getBytes)
    if (needTok) flat = IntBlocks.decode(g.getBinary("pl_tokens", 0).getBytes)
    if (needSrc) srcs = StrBlocks.decode(g.getBinary("pl_source", 0).getBytes)
    nRows =
      if (needN) lens.length
      else if (needDoc) docIds.length
      else srcs.length
    true
  }

  def close(): Unit = reader.close()
}

/** Row-at-a-time reader: emits InternalRows of the projected columns from
  * the block cursor.
  */
class GraftPartitionReader(
    part: GraftInputPartition,
    columns: Array[String],
    hconf: graft.expr.SerializableHadoopConf,
    limit: Int = -1) extends PartitionReader[InternalRow] {

  private val cur = new TokenBlockCursor(part, columns, hconf)
  private var i = 0
  private var off = 0
  private var current: InternalRow = _
  private var produced = 0L

  override def next(): Boolean = {
    if (limit >= 0 && produced >= limit) return false // pushed LIMIT met
    while (i >= cur.nRows) {
      if (!cur.nextBlock()) return false
      i = 0
      off = 0
    }
    val vals = new Array[Any](columns.length)
    var c = 0
    while (c < columns.length) {
      vals(c) = columns(c) match {
        case "doc_id" => UTF8String.fromString(cur.docIds(i))
        case "tokens" =>
          UnsafeArrayData.fromPrimitiveArray(
            java.util.Arrays.copyOfRange(cur.flat, off, off + cur.lens(i)))
        case "n_tok" => cur.lens(i)
        case "source" => UTF8String.fromString(cur.srcs(i))
      }
      c += 1
    }
    if (cur.needTok) off += cur.lens(i)
    i += 1
    produced += 1
    current = new GenericInternalRow(vals)
    true
  }

  override def get(): InternalRow = current

  override def close(): Unit = cur.close()
}


