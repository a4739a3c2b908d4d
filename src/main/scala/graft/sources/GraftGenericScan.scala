package graft.sources

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
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.{ArrayBasedMapData, ArrayData, GenericArrayData}
import org.apache.spark.sql.connector.catalog.MetadataColumn
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.sources.{
  EqualTo, Filter, GreaterThan, GreaterThanOrEqual, In, LessThan, LessThanOrEqual}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.table.{AnyColumn, GenericTable, GraftTable}

/** DataSource V2 scan for GENERIC (any-schema) graft tables, and the one
  * decoder of the generic lane: SQL reads and every `GenericTable` read
  * (decode, time travel, column selection, key ranges and the reads of
  * the copy-on-write rewrites) plan this scan.
  *
  *   - column pruning: only the codec payloads (`pl_<i>`) of the leaves
  *     backing the REQUESTED top-level fields are read from parquet;
  *   - key-range pushdown: comparisons on the table's integral range-key
  *     column compose into one [lo, hi] interval, intersected with the
  *     table's pinned interval when it has one (`GenericTable.decodeRange`
  *     pins it for keys of any order-preserving type). The interval is
  *     pushed as a parquet row-group + record filter on the per-block
  *     `key_min`/`key_max` zone-map columns — no driver-side id set at ANY
  *     table size (the interval, not the surviving ids, travels to the
  *     executors) — plus whole-VERSION pruning from the snapshot's
  *     per-version key spans;
  *   - schema evolution: each partition decodes under the write schema of
  *     its version and null-fills fields that postdate it; rows are emitted
  *     under the snapshot's live schema (`GenericTable.liveSchemaOf`);
  *   - the version of each row as the metadata column
  *     [[GraftGenericScan.VersionColumn]];
  *   - metadata COUNT(*) and snapshot statistics, as in the token scan,
  *     when the snapshot's totals describe the scanned dirs; otherwise
  *     statistics from the scanned files' sizes.
  *
  * Every accepted filter stays residual, so pruning is never the
  * correctness mechanism.
  */
class GraftGenericScanBuilder(
    tableDir: String,
    snap: GraftTable.Snapshot,
    fullSchema: StructType,
    writeSchemas: Map[Int, StructType],
    pinnedRange: Option[(Long, Long)],
    committedTotals: Boolean)
    extends ScanBuilder with SupportsPushDownFilters with SupportsPushDownRequiredColumns
    with SupportsPushDownAggregates with SupportsPushDownLimit {

  private val keyName = GenericTable.keyNameOf(snap)
  private val keyIsIntegral = fullSchema.fields.find(_.name == keyName)
    .exists(_.dataType match {
      case ByteType | ShortType | IntegerType | LongType => true
      case _ => false
    })

  private var required: StructType = fullSchema
  private var pushed: Array[Filter] = Array.empty
  private var countPushed = false
  private var limit = -1

  override def pushLimit(l: Int): Boolean = { limit = l; true }
  override def isPartiallyPushed: Boolean = true

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

  private def asLong(v: Any): Option[Long] = v match {
    case n: Long => Some(n)
    case n: Int => Some(n.toLong)
    case n: Short => Some(n.toLong)
    case n: Byte => Some(n.toLong)
    case _ => None
  }

  /** Key comparisons are accepted only when the key column is integral —
    * there the engine's range key IS the value (`keyExprOf` casts it to
    * long), so [key_min, key_max] zone maps bound it exactly. Everything
    * else is left to the residual plan.
    */
  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    if (keyIsIntegral)
      pushed = filters.filter {
        case EqualTo(`keyName`, v) => asLong(v).isDefined
        case GreaterThan(`keyName`, v) => asLong(v).isDefined
        case GreaterThanOrEqual(`keyName`, v) => asLong(v).isDefined
        case LessThan(`keyName`, v) => asLong(v).isDefined
        case LessThanOrEqual(`keyName`, v) => asLong(v).isDefined
        case In(`keyName`, vs) => vs.nonEmpty && vs.forall(asLong(_).isDefined)
        case _ => false
      }
    filters // all residual
  }

  override def pushedFilters(): Array[Filter] = pushed

  /** The conjunction of the pinned interval and the pushed key filters as
    * one conservative [lo, hi] interval (In widens to its min..max
    * envelope).
    */
  private[sources] def keyRange: Option[(Long, Long)] = {
    if (pushed.isEmpty) return pinnedRange
    var (lo, hi) = pinnedRange.getOrElse((Long.MinValue, Long.MaxValue))
    pushed.foreach {
      case EqualTo(_, v) =>
        val n = asLong(v).get; lo = math.max(lo, n); hi = math.min(hi, n)
      case GreaterThan(_, v) =>
        val n = asLong(v).get; if (n < Long.MaxValue) lo = math.max(lo, n + 1)
      case GreaterThanOrEqual(_, v) => lo = math.max(lo, asLong(v).get)
      case LessThan(_, v) =>
        val n = asLong(v).get; if (n > Long.MinValue) hi = math.min(hi, n - 1)
      case LessThanOrEqual(_, v) => hi = math.min(hi, asLong(v).get)
      case In(_, vs) =>
        val ns = vs.map(asLong(_).get)
        lo = math.max(lo, ns.min); hi = math.min(hi, ns.max)
      case _ =>
    }
    Some((lo, hi))
  }

  override def pruneColumns(requiredSchema: StructType): Unit = {
    val keep = requiredSchema.fieldNames.toSet
    val fields = fullSchema.fields.filter(f => keep.contains(f.name))
    // an empty prune (count over a pruned scan) still needs row
    // multiplicity; the reader derives it from the block row_count, so an
    // empty StructType is legal here
    required = StructType(fields ++
      requiredSchema.fields.find(_.name == GraftGenericScan.VersionColumn.name()))
  }

  override def build(): Scan =
    if (countPushed) new GraftCountScan(tableDir, snap)
    else new GraftGenericScan(
      tableDir, snap, writeSchemas, committedTotals, required, pushed, keyRange, limit)
}

/** One partition = one parquet data file + its version and that
  * version's write schema + the pushed key interval.
  */
final case class GraftGenericInputPartition(
    file: String,
    version: Int,
    writeSchemaJson: String,
    range: Option[(Long, Long)],
    splitStart: Long = 0L,
    splitEnd: Long = Long.MaxValue) extends InputPartition

object GraftGenericScan {

  /** The version whose data file holds a row: an `int` metadata column,
    * selected by name like Iceberg's `_file`. The reserved `_graft` prefix
    * keeps it apart from every data column.
    */
  val VersionColumn: MetadataColumn = new MetadataColumn {
    override def name(): String = "_graft_version"
    override def dataType(): DataType = IntegerType
    override def isNullable: Boolean = false
  }
}

/** `required` holds the requested data fields, then the version metadata
  * column when it was requested. `writeSchemas` holds the write schema of
  * every version live in `snap`; `committedTotals` says whether `snap`'s
  * row and byte totals describe its data dirs (a pinned copy limited to
  * some of them keeps the full snapshot's totals).
  */
class GraftGenericScan(
    tableDir: String,
    snap: GraftTable.Snapshot,
    writeSchemas: Map[Int, StructType],
    committedTotals: Boolean,
    required: StructType,
    pushed: Array[Filter],
    range: Option[(Long, Long)],
    limit: Int = -1) extends Scan with Batch with SupportsReportStatistics {

  override def readSchema(): StructType = required

  override def toBatch: Batch = this

  override def estimateStatistics(): Statistics =
    GraftScan.statistics(snap, committedTotals, files)

  /** (version, parquet data file) of every file the scan reads: the live
    * dirs after whole-version pruning from the key spans the snapshot
    * records (no manifest read — the interval itself, never an id set).
    */
  private lazy val files = GraftScan.dataFiles(tableDir, range match {
    case Some((lo, hi)) => GenericTable.rangeDataDirs(SparkSession.active, tableDir, snap, lo, hi)
    case None => snap.dataDirs
  })

  override def planInputPartitions(): Array[InputPartition] = {
    val splitBytes = SparkSession.active.sessionState.conf.filesMaxPartitionBytes
    val wjson = writeSchemas.map { case (v, ws) => v -> ws.json }
    files.flatMap { case (ver, st) =>
      // sub-file splits: read parallelism bounded by row groups, not
      // files (see GraftScan.splitRanges)
      GraftScan.splitRanges(st.getLen, splitBytes).map { case (lo, hi) =>
        GraftGenericInputPartition(st.getPath.toString, ver, wjson(ver), range, lo, hi)
      }
    }.toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new GraftGenericReaderFactory(required.json,
      new graft.expr.SerializableHadoopConf(
        SparkSession.active.sparkContext.hadoopConfiguration), limit)

  override def description(): String =
    s"graft-generic columns=[${required.fieldNames.mkString(",")}] " +
      s"range=${range.map(r => s"[${r._1},${r._2}]").getOrElse("all")} " +
      s"pushed=[${pushed.mkString(",")}]"
}

class GraftGenericReaderFactory(
    requiredJson: String,
    conf: graft.expr.SerializableHadoopConf,
    limit: Int = -1) extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    new GraftGenericPartitionReader(
      partition.asInstanceOf[GraftGenericInputPartition], requiredJson, conf, limit)
}

/** Decodes one generic data file block by block: the needed leaf payloads
  * decode via the shared [[AnyColumn.decodeCatalyst]] and rows assemble
  * straight into Catalyst internal representations — dates/timestamps are
  * identity (days/micros ARE the internal forms), decimals rebuild from
  * the stored unscaled long, structs from their presence + child leaves,
  * maps from their key/value array leaves.
  */
class GraftGenericPartitionReader(
    part: GraftGenericInputPartition,
    requiredJson: String,
    hconf: graft.expr.SerializableHadoopConf,
    limit: Int = -1) extends PartitionReader[InternalRow] {

  private val required = DataType.fromJson(requiredJson).asInstanceOf[StructType]
  private val writeSchema = DataType.fromJson(part.writeSchemaJson).asInstanceOf[StructType]
  private val wplan = GenericTable.planOf(writeSchema)
  private val leafIdx: Map[String, Int] =
    wplan.flatMap(_._2).map(_.name).zipWithIndex.toMap
  private val kinds: Map[String, String] =
    wplan.flatMap(_._2).map(l => l.name -> l.kind).toMap
  private val byName = wplan.map(p => p._1.name -> p._1).toMap

  /** Leaves the requested fields need from this write schema. */
  private val neededLeaves: Seq[String] = {
    val fields = required.fields.toIndexedSeq.flatMap(f => byName.get(f.name))
    def leavesOf(f: StructField): Seq[String] =
      wplan.find(_._1.name == f.name).get._2.map(_.name)
    fields.flatMap(leavesOf).distinct
  }

  /** The payload columns this reader reads: those of [[neededLeaves]]. */
  private[graft] val payloadColumns: Seq[String] = neededLeaves.map(n => s"pl_${leafIdx(n)}")

  // decoded leaf arrays of the CURRENT block, in a dense slot array:
  // builders resolve their slot ONCE at construction; per row the needed
  // leg values land in one flat array that every field builder indexes —
  // no hash probes in the hot loop. The rebuild logic itself is
  // graft.expr.NestedLegs.
  private val leafSlot: Map[String, Int] = neededLeaves.zipWithIndex.toMap
  private val leafArr: Array[Array[Any]] = new Array(neededLeaves.length)

  /** One builder per REQUIRED field; fields this version predates emit
    * null (schema evolution).
    */
  private val fieldBuilders: Array[Array[Any] => Any] =
    required.fields.map { f =>
      byName.get(f.name) match {
        case Some(wf) => graft.expr.NestedLegs.builder(
          wf.name, wf.dataType, wf.nullable, leafSlot)
        case None if f.name == GraftGenericScan.VersionColumn.name() =>
          val v = Int.box(part.version)
          (_: Array[Any]) => v
        case None => (_: Array[Any]) => null
      }
    }

  private val reader = {
    val conf = new Configuration(hconf.value)
    val path = new HPath(part.file)
    val footer = ParquetFileReader.open(HadoopInputFile.fromPath(path, conf))
    val fileSchema = try footer.getFooter.getFileMetaData.getSchema finally footer.close()
    // row_count drives multiplicity (no payload needed for SELECT count
    // shapes); key_min/key_max ride along for the record-level filter
    val names = Seq("row_count", "key_min", "key_max") ++ payloadColumns
    val proj = new MessageType(fileSchema.getName,
      names.map(n => fileSchema.getType(fileSchema.getFieldIndex(n))): _*)
    conf.set(ReadSupport.PARQUET_READ_SCHEMA, proj.toString)
    var b = ParquetReader.builder(new GroupReadSupport(), path).withConf(conf)
    if (part.splitStart > 0L || part.splitEnd != Long.MaxValue)
      b = b.withFileRange(part.splitStart, part.splitEnd)
    part.range match {
      case Some((lo, hi)) =>
        // a block can hold keys in [lo, hi] iff key_max >= lo AND
        // key_min <= hi — parquet prunes row groups on stats, then
        // filters block records
        b.withFilter(FilterCompat.get(FilterApi.and(
          FilterApi.gtEq(FilterApi.longColumn("key_max"), Long.box(lo)),
          FilterApi.ltEq(FilterApi.longColumn("key_min"), Long.box(hi))))).build()
      case None => b.build()
    }
  }

  private var nRows = 0
  private var i = 0
  private var current: InternalRow = _
  private var produced = 0L

  override def next(): Boolean = {
    if (limit >= 0 && produced >= limit) return false
    while (i >= nRows) {
      val g = reader.read()
      if (g == null) return false
      var s = 0
      while (s < neededLeaves.length) {
        leafArr(s) = AnyColumn.decodeCatalyst(
          kinds(neededLeaves(s)), g.getBinary(payloadColumns(s), 0).getBytes).array
        s += 1
      }
      nRows = g.getLong("row_count", 0).toInt
      i = 0
    }
    val legVals = new Array[Any](leafArr.length)
    var s = 0
    while (s < legVals.length) { legVals(s) = leafArr(s)(i); s += 1 }
    val vals = new Array[Any](fieldBuilders.length)
    var c = 0
    while (c < fieldBuilders.length) { vals(c) = fieldBuilders(c)(legVals); c += 1 }
    current = new GenericInternalRow(vals)
    i += 1
    produced += 1
    true
  }

  override def get(): InternalRow = current

  override def close(): Unit = reader.close()
}
