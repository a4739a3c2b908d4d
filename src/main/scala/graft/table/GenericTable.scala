package graft.table

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{Column, DataFrame, Encoders, GraftSql, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.codec.Hashing
import graft.functions.graft_codec
import graft.table.Commit.{carriedMeta, timed}
import graft.table.GraftTable.{EncodeResult, Options, Snapshot, current, scanOf}

/** Any-schema encoded table (SURVEY.md §2.1 R3/R4 — the ebenezer
  * any-thrift-struct capability): encode an ARBITRARY DataFrame into the
  * same Iceberg-shaped snapshot/manifest layout the token table uses, one
  * codec payload per leaf column per block, bit-identical on decode.
  *
  * Schema handling mirrors Parquet/thrift shredding: nested structs flatten
  * into dotted leaf paths (a nullable struct adds a presence leaf `x.__p`,
  * the definition-level analogue), scalar types normalize onto nine storage
  * kinds (byte/short/bool→int, date→unix_date int, timestamp→unix_micros
  * long — restored to the original type on decode), and every leaf payload
  * auto-selects among the engine's codec families (IntBlocks / LongBlocks /
  * StrBlocks / PrimBlocks, NULLABLE-wrapped when the slice has nulls).
  * Maps shred into key/value array leaves (struct/array keys and values
  * recurse through the array shredding), decimals store as unscaled longs
  * (precision ≤ 18) or exact digit strings (19..38). Repetition composes
  * to ANY depth: each array-of-array level shreds into an inner-lengths
  * leg + a recursively-shredded flattened leg, array-of-struct into
  * parallel per-field legs (fields may themselves be arrays/structs/
  * maps), array-of-map into key/value array-of-array legs. The only
  * rejected shapes — loud at plan time, never a silent drop — are
  * map-typed map KEYS (no total equality; Spark rejects them too) and
  * empty structs (binary at any position, including inside arrays, is
  * supported via the bin/arr_bin kinds).
  *
  * Shares the token table's block-write path ([[BlockWrite]]): hash-strided
  * sampled range bounds (distributed, layout-independent, flat or
  * two-level), the bucket probe, resume by manifest anti-join, the block
  * filter and the ephemeral-bounds batch write; this lane adds one
  * explicit hash exchange + Tungsten sortWithinPartitions + a streaming
  * one-block-at-a-time assembler. Because the generic row hash covers
  * EVERY leaf value, the input fingerprint here is value-complete — no
  * separate resume-confirm scan is needed (the token path keeps the
  * cheap-scalar + confirm split because hashing 10^12-token arrays on
  * every encode is the dominant cost there; hashing once per generic row
  * is not).
  *
  * The specialized token path ([[GraftTable.encode]]) remains the hot lane
  * for the benchmark schema (map-side FOR packing of the token stream,
  * typed BlockInput); this is the general lane.
  */
object GenericTable {

  /** One codec leaf of the flattened schema. */
  final case class Leaf(name: String, kind: String, enc: Column)

  private def quoted(n: String) = s"`${n.replace("`", "``")}`"

  /** Value-complete per-row hash over the storage leaves. Each leaf is
    * hashed INDIVIDUALLY first: Spark's multi-arg xxhash64 skips null
    * children (the seed passes through unchanged), so a flat
    * xxhash64(l1, l2) cannot tell (null, "x") from ("x", null). The inner
    * xxhash64 never returns null (a null input yields the seed), so every
    * leaf contributes a value at its position and the outer order-sensitive
    * fold pins both nulls and positions.
    */
  private def rowHash(leaves: Seq[Leaf]): Column =
    xxhash64(leaves.map(l => xxhash64(col(quoted(l.name)))): _*)

  /** (top-level field, its codec leaves), in schema order. */
  private[graft] def planOf(schema: StructType): Seq[(StructField, Seq[Leaf])] = {
    require(schema.fields.nonEmpty, "cannot encode a zero-column schema")
    schema.fields.toIndexedSeq.map { f =>
      require(!f.name.startsWith("_graft"),
        s"column ${f.name}: the _graft prefix is reserved")
      f -> fieldLeaves(f.name, col(quoted(f.name)), f.dataType, f.nullable)
    }
  }

  /** timestamp_ntz → micros-since-epoch without a timezone: pure local
    * datetime arithmetic (a session-tz cast would corrupt values inside
    * DST gaps — spring-forward local times have no instant).
    */
  private def ntzEpoch =
    org.apache.spark.sql.catalyst.expressions.Literal(0L, TimestampNTZType)

  private def ntzMicros(c: Column): Column =
    GraftSql.column(org.apache.spark.sql.catalyst.expressions.TimestampDiff(
      "MICROSECOND", ntzEpoch, GraftSql.expression(c)))

  /** (array leaf kind, per-element storage normalization) for a scalar
    * field inside an array-of-struct — the element analogue of the
    * top-level scalar cases in [[fieldLeaves]]. `_n` kinds throughout:
    * a null struct element nulls every leg's element.
    */
  private def arrayElemLeaf(path: String, dt: DataType): (String, Column => Column) =
    dt match {
      case IntegerType => ("arr_int_n", identity)
      case ByteType | ShortType | BooleanType => ("arr_int_n", _.cast(IntegerType))
      case LongType => ("arr_long_n", identity)
      case DateType => ("arr_int_n", unix_date)
      case TimestampType => ("arr_long_n", unix_micros)
      case TimestampNTZType => ("arr_long_n", ntzMicros)
      case d: DecimalType if d.precision <= 18 =>
        ("arr_long_n", c => (c * lit(new java.math.BigDecimal(
          java.math.BigInteger.TEN.pow(d.scale)))).cast(LongType))
      case _: DecimalType => ("arr_str_n", _.cast(StringType)) // wide: exact digits
      case StringType => ("arr_str_n", identity)
      case FloatType => ("arr_f32_n", identity)
      case DoubleType => ("arr_f64_n", identity)
      case other => throw new UnsupportedOperationException(
        s"column $path: array-of-struct field type ${other.catalogString} is not " +
          "supported (scalar types only inside list<struct>)")
    }

  private def fieldLeaves(
      path: String, c: Column, dt: DataType, nullable: Boolean): Seq[Leaf] = dt match {
    case IntegerType => Seq(Leaf(path, "int", c))
    case ByteType | ShortType | BooleanType => Seq(Leaf(path, "int", c.cast(IntegerType)))
    case LongType => Seq(Leaf(path, "long", c))
    case DateType => Seq(Leaf(path, "int", unix_date(c)))
    case TimestampType => Seq(Leaf(path, "long", unix_micros(c)))
    case TimestampNTZType => Seq(Leaf(path, "long", ntzMicros(c)))
    case StringType => Seq(Leaf(path, "string", c))
    case d: DecimalType if d.precision <= 18 =>
      // unscaled long (exact: decimal × 10^s is scale arithmetic, and
      // precision ≤ 18 keeps the unscaled value inside int64)
      Seq(Leaf(path, "long",
        (c * lit(new java.math.BigDecimal(
          java.math.BigInteger.TEN.pow(d.scale)))).cast(LongType)))
    case d: DecimalType =>
      // precision 19..38: the unscaled value exceeds int64, so the exact
      // digits ride a STRING leaf (decimal→string preserves every scale
      // digit; string→decimal restores them bit-exactly). STR_NUMERIC /
      // dict codecs keep the storage competitive; range keys fall back to
      // the hash strategy (keyExprOf), which blocking tolerates.
      Seq(Leaf(path, "string", c.cast(StringType)))
    case DoubleType => Seq(Leaf(path, "f64", c))
    case FloatType => Seq(Leaf(path, "f32", c))
    case BinaryType => Seq(Leaf(path, "bin", c))
    // element-nullable arrays (schema containsNull=true) store through the
    // `_n` kinds, whose flat stream carries a presence bitmap when nulls
    // actually occur — a containsNull=false schema stays on the dense kind
    case ArrayType(IntegerType, cn) =>
      Seq(Leaf(path, if (cn) "arr_int_n" else "arr_int", c))
    case ArrayType(ByteType | ShortType | BooleanType, cn) =>
      // element-level cast via transform: an ARRAY-level cast of
      // array<boolean> to array<int> fails analysis even though the
      // element cast is legal
      Seq(Leaf(path, if (cn) "arr_int_n" else "arr_int",
        transform(c, _.cast(IntegerType))))
    case ArrayType(LongType, cn) => Seq(Leaf(path, if (cn) "arr_long_n" else "arr_long", c))
    case ArrayType(StringType, cn) => Seq(Leaf(path, if (cn) "arr_str_n" else "arr_str", c))
    case ArrayType(BinaryType, cn) => Seq(Leaf(path, if (cn) "arr_bin_n" else "arr_bin", c))
    case ArrayType(FloatType, cn) => Seq(Leaf(path, if (cn) "arr_f32_n" else "arr_f32", c))
    case ArrayType(DoubleType, cn) => Seq(Leaf(path, if (cn) "arr_f64_n" else "arr_f64", c))
    case ArrayType(et @ (DateType | TimestampType | TimestampNTZType | _: DecimalType), _) =>
      // arrays of temporals/decimals normalize per element onto the scalar
      // array kinds (`_n` — the normalization can emit nulls)
      val (kind, enc) = arrayElemLeaf(path, et)
      Seq(Leaf(path, kind, transform(c, enc)))
    case ArrayType(inner: ArrayType, _) =>
      // nested repetition, ANY depth: two legs — per-row INNER LENGTHS
      // (null length = null inner array) and the per-row FLATTENED inner
      // elements (null inners contribute zero elements; the lengths leg
      // carries their position). The flat leg recurses through
      // fieldLeaves, so list<list<list<T>>>, list<list<struct>>, etc.
      // compose out of the same two-leg step applied per level.
      Leaf(s"$path.__ll", "arr_int_n",
        transform(c, x => when(x.isNull, lit(null)).otherwise(size(x)))) +:
        fieldLeaves(s"$path.__lv", flatten(filter(c, _.isNotNull)),
          ArrayType(inner.elementType, containsNull = true), nullable = true)
    case ArrayType(st: StructType, cn) =>
      // list<struct<...>> (the thrift repeated-struct shape): shredded
      // into parallel ARRAY legs, one subtree per struct field — each
      // row's legs share the element count, so per-element struct values
      // rebuild by position. Field legs recurse through fieldLeaves, so
      // struct fields may themselves be arrays, structs, or maps. A
      // presence leg (`__ap`) disambiguates null struct elements from
      // structs of nulls when the schema allows them.
      require(st.fields.nonEmpty,
        s"column $path: array of empty struct (struct<>) cannot round-trip " +
          "— no leg would carry the element count")
      val presence =
        if (cn) Seq(Leaf(s"$path.__ap", "arr_int",
          transform(c, x => when(x.isNull, lit(0)).otherwise(lit(1)))))
        else Nil
      presence ++ st.fields.toIndexedSeq.flatMap { f =>
        fieldLeaves(s"$path.__af.${f.name}",
          transform(c, x => x.getField(f.name)),
          ArrayType(f.dataType, containsNull = true), nullable = true)
      }
    case ArrayType(mt: MapType, _) =>
      // list<map<K,V>>: per-element keys/values give two array-of-array
      // legs, which recurse through the nested-repetition shredding. A
      // null map element nulls both legs' elements (no presence needed:
      // keys-element null ⇔ map element null).
      fieldLeaves(s"$path.__amk", transform(c, x => map_keys(x)),
        ArrayType(ArrayType(mt.keyType, containsNull = false),
          containsNull = true), nullable = true) ++
        fieldLeaves(s"$path.__amv", transform(c, x => map_values(x)),
          ArrayType(ArrayType(mt.valueType, containsNull = mt.valueContainsNull),
            containsNull = true), nullable = true)
    case st: StructType =>
      // shredding: leaves of a struct read null whenever the struct is
      // null; the presence leaf disambiguates null-struct from
      // struct-of-nulls on decode (parquet definition levels, in spirit)
      require(st.fields.nonEmpty,
        s"column $path: empty struct (struct<>) cannot round-trip — no " +
          "leaf would carry its values; drop the column or add a field")
      val presence =
        if (nullable) Seq(Leaf(s"$path.__p", "int",
          when(c.isNull, lit(0)).otherwise(lit(1))))
        else Nil
      presence ++ st.fields.toIndexedSeq.flatMap(f =>
        fieldLeaves(s"$path.${f.name}", c.getField(f.name), f.dataType, nullable = true))
    case MapType(kt, vt, _) =>
      // maps shred into parallel key/value array leaves (thrift map<K,V>
      // parity); rebuilt from both legs on decode. A null map yields null
      // arrays on both legs, so no presence leaf is needed. Both legs
      // recurse through the array shredding, so keys and values may be
      // scalars, structs, or arrays. Map-typed keys are rejected loud:
      // map keys need a total equality, and Spark itself refuses them in
      // map_from_arrays.
      require(!containsMap(kt),
        s"column $path: map key type ${kt.catalogString} contains a map — " +
          "map-typed keys have no total equality (Spark rejects them too)")
      val vcn = dt.asInstanceOf[MapType].valueContainsNull
      val keys = fieldLeaves(s"$path.__mk", map_keys(c),
        ArrayType(kt, containsNull = false), nullable) // map keys are never null
      val values = fieldLeaves(s"$path.__mv", map_values(c),
        ArrayType(vt, containsNull = vcn), nullable)
      keys ++ values
    case other => throw new UnsupportedOperationException(
      s"column $path: type ${other.catalogString} is not supported by the generic " +
        "encoder (supported: integral/bool/date/timestamp/string/float/double/" +
        "binary/decimal(any precision), nested structs, maps with non-map keys, " +
        "and arrays nested to any depth over those)")
  }

  private def containsMap(t: DataType): Boolean = t match {
    case _: MapType => true
    case ArrayType(e, _) => containsMap(e)
    case StructType(fs) => fs.exists(f => containsMap(f.dataType))
    case _ => false
  }

  /** Range/sort key: numeric-ish keys order natively, anything else gets a
    * deterministic 64-bit hash (blocking stays valid; range pruning
    * degrades gracefully) — never null (xxhash64 of null is the seed).
    */
  private def keyExprOf(name: String, dt: DataType): Column = {
    val c = col(quoted(name))
    dt match {
      case ByteType | ShortType | IntegerType | LongType =>
        coalesce(c.cast(LongType), xxhash64(c))
      case StringType =>
        coalesce(expr(s"try_cast(${quoted(name)} as bigint)"), xxhash64(c))
      case DateType => coalesce(unix_date(c).cast(LongType), xxhash64(c))
      case TimestampType => coalesce(unix_micros(c), xxhash64(c))
      case TimestampNTZType => coalesce(ntzMicros(c), xxhash64(c))
      case d: DecimalType if d.precision <= 18 =>
        // unscaled value orders identically to the decimal (fixed scale)
        coalesce((c * lit(new java.math.BigDecimal(
          java.math.BigInteger.TEN.pow(d.scale)))).cast(LongType), xxhash64(c))
      case _ => xxhash64(c)
    }
  }

  private val SchemaKey = "generic_schema"
  private val WriteSchemaKey = "generic_write_schema"
  private val KeyKey = "generic_key"

  /** Whether a snapshot was written by the generic lane (catalog routing). */
  def isGeneric(snap: Snapshot): Boolean = snap.stats.toMap.contains(SchemaKey)

  /** The range-key column name a generic snapshot was written with. */
  private[graft] def keyNameOf(snap: Snapshot): String = snap.stats.toMap.apply(KeyKey)

  /** Union-by-name schema merge (Iceberg-style evolution): fields shared
    * with the parent must keep the SAME type (loud error otherwise — no
    * silent coercion) and admit the nulls of either side, nested flags
    * included (the decoder emits rows under this schema); parent-only
    * fields stay (new rows read null), batch-only fields are appended as
    * nullable (old rows read null).
    */
  private[table] def mergeSchemas(parent: StructType, batch: StructType): StructType = {
    val batchByName = batch.fields.map(f => f.name -> f).toMap
    val kept = parent.fields.toIndexedSeq.map { pf =>
      batchByName.get(pf.name) match {
        case Some(bf) =>
          require(GraftSql.sameType(pf.dataType, bf.dataType),
            s"schema evolution cannot change the type of column ${pf.name}: " +
              s"${pf.dataType.catalogString} -> ${bf.dataType.catalogString}")
          pf.copy(dataType = GraftSql.unionType(pf.dataType, bf.dataType),
            nullable = pf.nullable || bf.nullable)
        case None => pf.copy(nullable = true) // absent from new rows
      }
    }
    val parentNames = parent.fieldNames.toSet
    val added = batch.fields.toIndexedSeq
      .filterNot(f => parentNames.contains(f.name))
      .map(_.copy(nullable = true)) // absent from old rows
    StructType(kept ++ added)
  }

  /** Storage frame: normalized leaves + range key + full-row value hash
    * (over the storage leaves, in plan order — the resume identity).
    */
  private def keyedOf(
      df: DataFrame, leaves: Seq[Leaf], key: String, keyType: DataType): DataFrame =
    df.select(leaves.map(l => l.enc.as(l.name)) :+
        keyExprOf(key, keyType).as("_graft_key"): _*)
      .withColumn("_graft_rh", rowHash(leaves))

  /** (rows, fingerprint) of a [[keyedOf]] frame. The fingerprint is
    * value-complete: every leaf value of every row is pinned (xor +
    * multiplicity-sensitive wrapping sum + count + schema + key); `tag`
    * leads its preimage.
    */
  private def fingerprintOf(
      keyed: DataFrame, tag: String, key: String, schema: StructType): (Long, String) = {
    val st = keyed.agg(
      count(lit(1)).as("rows"),
      expr("bit_xor(_graft_rh)").as("x"),
      expr("sum(cast(_graft_rh as decimal(38,0)))").as("s")).head()
    val rows = st.getLong(0)
    val xor = if (st.isNullAt(1)) 0L else st.getLong(1)
    val sumMod =
      if (st.isNullAt(2)) java.math.BigInteger.ZERO else GraftTable.mod64(st.getDecimal(2))
    (rows, Hashing.sha256Hex(
      s"$tag;rows=$rows;xor=$xor;sum=$sumMod;key=$key;schema=${schema.json}"))
  }

  /** Snapshot stats of a generic version: row count, read schema, the
    * write schema when recorded, range key and the leaf plan it was
    * written with, plus `meta`.
    */
  private def statsOf(
      rows: Long,
      readSchema: StructType,
      writeSchema: Option[StructType],
      key: String,
      leaves: Seq[Leaf],
      meta: Map[String, String]): Seq[(String, String)] =
    (Map("rows" -> rows.toString, SchemaKey -> readSchema.json, KeyKey -> key,
      "generic_leaves" -> leaves.map(l => s"${l.kind}:${l.name}").mkString("\u001f")) ++
      writeSchema.map(WriteSchemaKey -> _.json) ++ meta).toSeq

  // ------------------------------------------------------------- encode

  /** Encode any supported DataFrame as an encoded table at `tableDir`.
    * `keyCol` picks the range-partition key (default: `doc_id` when
    * present, else the first column). Idempotent: an unchanged input
    * resumes as a no-op; a changed input commits a fresh version.
    */
  def encode(
      df: DataFrame,
      tableDir: String,
      keyCol: String = "",
      opts: Options = Options(),
      extraMeta: Map[String, String] = Map.empty): EncodeResult = {
    val spark = df.sparkSession
    val schema = df.schema
    val leaves = planOf(schema).flatMap(_._2)
    val key =
      if (keyCol.nonEmpty) keyCol
      else if (schema.fieldNames.contains("doc_id")) "doc_id"
      else schema.fieldNames.head
    require(schema.fieldNames.contains(key), s"key column $key not in schema")

    val keyed = keyedOf(df, leaves, key, schema(key).dataType)
    val (rows, fingerprint) =
      timed("g-fingerprint")(fingerprintOf(keyed, "generic", key, schema))

    val cur = GraftTable.currentSnapshot(spark, tableDir)
    val parent = cur.filter(_.inputFingerprint == fingerprint)
    // the id preimage names the resume parent; `parent_id` records `cur`
    val resumedFrom = parent.map(_.snapshotId).getOrElse("none")
    BlockWrite.encode(keyed, tableDir, opts, rows, rows * math.max(1, leaves.length), cur,
      parent, formatOf(spark, leaves, rows),
      BlockWrite.Identity(fingerprint, s"generic:$key",
        statsOf(rows, schema, None, key, leaves, carriedMeta(cur) ++ extraMeta),
        emptyId = ver => Hashing.sha256Hex(s"v$ver;generic;fp=$fingerprint;empty"),
        writtenId = (ver, bounds, tot) => Hashing.sha256Hex(
          s"v$ver;generic;parent=$resumedFrom;fp=$fingerprint;bounds=${bounds.sigHex()};" +
            s"blocks=${tot.blocks}/${bounds.numBlocks};rows=${tot.rows};" +
            s"bytes=${tot.bytes};sig=${tot.contentSig}")))
  }

  /** Append a batch to a generic table, with Iceberg-style schema
    * evolution: the batch schema may add columns (old rows read null) or
    * omit nullable columns (new rows read null); shared columns must keep
    * their type. The new version's blocks are encoded under the BATCH's
    * own leaf plan (no null-padding materialized), and the snapshot's read
    * schema becomes the union-by-name merge. Like [[GraftTable.append]],
    * append always adds — it never resumes.
    */
  def append(
      batch: DataFrame,
      tableDir: String,
      opts: Options = Options(),
      extraMeta: Map[String, String] = Map.empty): EncodeResult = {
    val spark = batch.sparkSession
    val cur = GraftTable.currentSnapshot(spark, tableDir)
    if (cur.isEmpty) return encode(batch, tableDir, opts = opts, extraMeta = extraMeta)
    val parent = cur.get
    require(isGeneric(parent), s"$tableDir is a token table — use GraftTable.append")
    val merged = mergeSchemas(readSchemaOf(parent), batch.schema)
    val key = keyNameOf(parent)
    require(batch.schema.fieldNames.contains(key),
      s"append batch must carry the table key column $key")

    val schema = batch.schema
    val leaves = planOf(schema).flatMap(_._2)
    val keyed = keyedOf(batch, leaves, key, schema(key).dataType)
    val (rows, fingerprint) =
      fingerprintOf(keyed, s"generic-append;parent=${parent.snapshotId}", key, schema)
    if (rows == 0L) return EncodeResult.of(parent, 0L)

    val ver = parent.version + 1
    val (bounds, dataDir, fresh) =
      BlockWrite.writeBatch(keyed, rows, tableDir, ver, 0, opts, formatOf(spark, leaves, rows))
    val numBlocks = parent.numBlocks + bounds.numBlocks
    val snap = Commit(spark, tableDir, ver,
        Commit.Totals.of(spark, tableDir, parent).add(fresh)) { tot =>
      val snapshotId = Hashing.sha256Hex(
        s"v$ver;generic-append;parent=${parent.snapshotId};fp=$fingerprint;" +
          s"bounds=${bounds.sigHex()};blocks=${tot.blocks}/$numBlocks;" +
          s"rows=${tot.rows};bytes=${tot.bytes};sig=${tot.contentSig}")
      tot.snapshot(ver, snapshotId, Some(parent.snapshotId), fingerprint,
        s"generic:$key", None, numBlocks, complete = parent.complete,
        parent.dataDirs :+ dataDir,
        statsOf(tot.rows, merged, Some(schema), key, leaves, carriedMeta(cur) ++ extraMeta))
    }
    EncodeResult.of(snap, bounds.numBlocks.toLong)
  }

  /** Incremental compaction for the generic lane (mirror of
    * [[GraftTable.compact]]): only versions whose average block fill is
    * below `fillFactor × targetRowsPerBlock` are decoded (under their own
    * write plans) and merged into one new version encoded under the
    * CURRENT merged schema — compaction doubles as physical schema
    * upgrade, with pre-evolution rows materializing their nulls. Full
    * versions keep their files untouched; [[GraftTable.expireSnapshots]]
    * then reclaims the dropped fragment dirs.
    */
  def compact(
      spark: SparkSession,
      tableDir: String,
      opts: Options = Options(),
      fillFactor: Double = 0.5): EncodeResult = {
    val p = current(spark, tableDir)
    require(isGeneric(p), s"$tableDir is a token table — use GraftTable.compact")
    def noop = EncodeResult.of(p, 0L)
    if (p.dataDirs.isEmpty) return noop

    val live = Commit.Totals.of(spark, tableDir, p)
    val frag = live.fragments(fillFactor * opts.targetRowsPerBlock)
    if (frag.isEmpty) return noop
    val (fragData, keepData) = p.dataDirs.partition(d => frag(versionOf(d)))

    // decode ONLY the fragmented versions, projected onto the merged schema
    val merged = liveSchemaOf(spark, tableDir, p)
    val rows = scanOf(spark, tableDir, p.copy(dataDirs = fragData))
    rewriteCommit(spark, tableDir, p, merged, keepData, live.drop(frag), rows,
      opName = "compact",
      opDetail = s"compacted=${frag.toSeq.sorted.mkString(",")}", opts)
  }

  /** Copy-on-write rewrite commit shared by [[compact]] and the delete
    * APIs: re-encodes `rows` (projected onto `merged`) as version
    * `p.version + 1`, keeps `keepData` and the manifests of `kept` by
    * reference, and commits the combined snapshot. An EMPTY `rows` commits
    * a snapshot of only the kept versions (a delete can empty every
    * rewritten version).
    */
  private def rewriteCommit(
      spark: SparkSession,
      tableDir: String,
      p: Snapshot,
      merged: StructType,
      keepData: Seq[String],
      kept: Commit.Totals,
      rows: DataFrame,
      opName: String,
      opDetail: String,
      opts: Options): EncodeResult = {
    val key = keyNameOf(p)
    val leaves = planOf(merged).flatMap(_._2)
    val keyed = keyedOf(rows, leaves, key, merged(key).dataType).cache()
    try {
      val nRows = keyed.count()
      val ver = p.version + 1
      val combinedFp = Hashing.sha256Hex(s"${p.inputFingerprint};$opName=v$ver")
      def commit(dataDirs: Seq[String], totals: Commit.Totals): Snapshot =
        Commit(spark, tableDir, ver, totals) { tot =>
          val snapshotId = Hashing.sha256Hex(
            s"v$ver;generic-$opName;parent=${p.snapshotId};fp=$combinedFp;" +
              s"$opDetail;rows=${tot.rows};" +
              s"bytes=${tot.bytes};sig=${tot.contentSig}")
          tot.snapshot(ver, snapshotId, Some(p.snapshotId), combinedFp,
            s"generic:$key", None, tot.blocks.toInt, complete = p.complete,
            dataDirs, statsOf(tot.rows, merged, Some(merged), key, leaves, carriedMeta(Some(p))))
        }
      if (nRows == 0) EncodeResult.of(commit(keepData, kept), 0L)
      else {
        val (bounds, dataDir, fresh) = BlockWrite.writeBatch(keyed, nRows, tableDir, ver, 0, opts,
          formatOf(spark, leaves, nRows))
        EncodeResult.of(commit(keepData :+ dataDir, kept.add(fresh)), bounds.numBlocks.toLong)
      }
    } finally keyed.unpersist()
  }

  /** Copy-on-write row delete by arbitrary predicate: versions holding a
    * matching row are rewritten WITHOUT the matching rows; untouched
    * versions stay by reference (their files are never rewritten).
    *
    * Two passes: (1) a column-pruned detection scan tags every matching
    * row with its source version (the scan's version metadata column —
    * one job, one scan); (2) the affected versions COW-rewrite through
    * the same commit path as [[compact]]. Rows where the predicate
    * evaluates NULL are KEPT (delete removes only what matches TRUE —
    * SQL DELETE semantics).
    *
    * At 100 TB the detection pass reads only the predicate's columns,
    * and the rewrite cost is proportional to the AFFECTED versions'
    * data, not the table. Key-range deletes should prefer
    * [[deleteRange]], which skips the detection scan entirely via the
    * snapshot's per-version key spans.
    */
  def deleteWhere(
      spark: SparkSession,
      tableDir: String,
      predicate: Column,
      opts: Options = Options()): EncodeResult = {
    val p = current(spark, tableDir)
    require(isGeneric(p), s"$tableDir is a token table")
    def noop = EncodeResult.of(p, 0L)
    if (p.dataDirs.isEmpty) return noop
    val merged = liveSchemaOf(spark, tableDir, p)
    // detection scan: only the columns the predicate references (all, if
    // the expression is opaque). Each reference is matched by its FIRST
    // name part, case-insensitively, against the top-level schema — a
    // nested-field reference (s.f) scans its parent column, and a
    // case-mismatched name still resolves; if ANY reference fails to
    // match, fall back to scanning every column rather than handing
    // tagged.where() a frame missing a needed column (ADVICE r5).
    val refs = GraftSql.expression(predicate).collect {
      case u: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute =>
        u.nameParts.head
    }.distinct
    val byLower = merged.fieldNames.map(f => f.toLowerCase -> f).toMap
    val matched = refs.flatMap(r => byLower.get(r.toLowerCase))
    val scanCols =
      if (refs.nonEmpty && matched.length == refs.length)
        matched.distinct.toIndexedSeq
      else merged.fieldNames.toIndexedSeq
    val version = graft.sources.GraftGenericScan.VersionColumn.name()
    val affected = scanOf(spark, tableDir, p)
      .select(scanCols.map(c => col(quoted(c))) :+ col(version): _*)
      .where(predicate).select(version).distinct().collect().map(_.getInt(0)).toSet
    if (affected.isEmpty) return noop
    val keepData = p.dataDirs.filterNot(d => affected(versionOf(d)))
    val hitData = p.dataDirs.filter(d => affected(versionOf(d)))
    val survivors = scanOf(spark, tableDir, p.copy(dataDirs = hitData))
      .where(coalesce(!predicate, lit(true)))
    rewriteCommit(spark, tableDir, p, merged, keepData,
      Commit.Totals.of(spark, tableDir, p).drop(affected), survivors,
      opName = "delete",
      opDetail = s"deleted-from=${affected.toSeq.sorted.mkString(",")}", opts)
  }

  /** Copy-on-write delete of every row whose KEY appears in `keys` (one
    * column, any name — cast to the table key's type; nulls ignored): the
    * contamination-removal primitive ("remove these doc ids"). Version
    * pruning is conservative via the per-version key spans of the keys'
    * ORDER-DOMAIN envelope; row matching is an EXACT raw-key anti join
    * (never the 64-bit order hash, so non-integral keys cannot
    * collide-delete).
    */
  def deleteKeys(
      spark: SparkSession,
      tableDir: String,
      keys: DataFrame,
      opts: Options = Options()): EncodeResult = {
    val p = current(spark, tableDir)
    require(isGeneric(p), s"$tableDir is a token table")
    require(keys.columns.length == 1,
      s"deleteKeys takes a single-column frame, got ${keys.columns.mkString(",")}")
    def noop = EncodeResult.of(p, 0L)
    if (p.dataDirs.isEmpty) return noop
    val merged = liveSchemaOf(spark, tableDir, p)
    val key = keyNameOf(p)
    val kt = merged(key).dataType
    val kRaw = keys.select(col(keys.columns.head).cast(kt).as("__dk"))
      .where(col("__dk").isNotNull).distinct().cache()
    try {
      // conservative version prune: the keys' order-domain envelope, and
      // whether there is any key at all, in one job
      val env = kRaw.select(keyExprOf("__dk", kt).as("_k"))
        .agg(count(lit(1)), min(col("_k")), max(col("_k"))).head()
      if (env.getLong(0) == 0) return noop
      val live = Commit.Totals.of(spark, tableDir, p)
      val hitData = rangeDataDirs(p, live.versions, env.getLong(1), env.getLong(2))
      if (hitData.isEmpty) return noop
      val hit = hitData.map(versionOf).toSet
      val keepData = p.dataDirs.filterNot(d => hit(versionOf(d)))
      val survivors = scanOf(spark, tableDir, p.copy(dataDirs = hitData))
        .join(kRaw, col(quoted(key)) === col("__dk"), "left_anti")
      rewriteCommit(spark, tableDir, p, merged, keepData, live.drop(hit), survivors,
        opName = "delete",
        opDetail = s"deleted-keys;from=${hit.toSeq.sorted.mkString(",")}", opts)
    } finally kRaw.unpersist()
  }

  /** Merge-by-key (upsert): rows of `batch` REPLACE any existing rows
    * carrying the same key; everything else appends (with the same
    * union-by-name schema evolution as [[append]]). Composed as
    * [[deleteKeys]] (COW-rewrite of span-hit versions) followed by
    * [[append]] — two commits, so a failure between them leaves a valid
    * table WITHOUT the batch (retry the upsert; the delete re-applies as
    * a cheap no-op when the keys are already gone).
    */
  def upsertByKey(
      batch: DataFrame,
      tableDir: String,
      opts: Options = Options()): EncodeResult = {
    val spark = batch.sparkSession
    val p = current(spark, tableDir)
    require(isGeneric(p), s"$tableDir is a token table")
    val key = keyNameOf(p)
    require(batch.columns.contains(key),
      s"upsert batch must carry the table key column $key")
    deleteKeys(spark, tableDir, batch.select(col(quoted(key))), opts)
    append(batch, tableDir, opts)
  }

  /** Copy-on-write delete of every row whose RANGE KEY falls in
    * [lo, hi] — the targeted-removal fast path (contaminated id spans,
    * right-to-be-forgotten key blocks). Affected versions come straight
    * from the snapshot's per-version key spans — no manifest read and no
    * data scan before the rewrite; null-key rows never match a range.
    */
  def deleteRange(
      spark: SparkSession,
      tableDir: String,
      lo: Long,
      hi: Long,
      opts: Options = Options()): EncodeResult = {
    val p = current(spark, tableDir)
    require(isGeneric(p), s"$tableDir is a token table")
    def noop = EncodeResult.of(p, 0L)
    if (p.dataDirs.isEmpty) return noop
    val merged = liveSchemaOf(spark, tableDir, p)
    val key = keyNameOf(p)
    val live = Commit.Totals.of(spark, tableDir, p)
    val hitData = rangeDataDirs(p, live.versions, lo, hi)
    if (hitData.isEmpty) return noop
    val hit = hitData.map(versionOf).toSet
    val keepData = p.dataDirs.filterNot(d => hit(versionOf(d)))
    // the range addresses the key ORDER DOMAIN (keyExprOf), exactly like
    // decodeRange: for integral keys that IS the value; null keys are
    // explicitly kept (a range never deletes null keys)
    val kc = keyExprOf(key, merged(key).dataType)
    val survivors = scanOf(spark, tableDir, p.copy(dataDirs = hitData))
      .where(col(quoted(key)).isNull || !kc.between(lo, hi))
    rewriteCommit(spark, tableDir, p, merged, keepData, live.drop(hit), survivors,
      opName = "delete",
      opDetail = s"deleted-range=[$lo,$hi];from=${hit.toSeq.sorted.mkString(",")}", opts)
  }

  /** The generic lane's block format over `leaves` for an input of `rows`
    * rows: [[blocksOf]] assembly and the [[manifestOf]] manifest.
    */
  private def formatOf(spark: SparkSession, leaves: Seq[Leaf], rows: Long): BlockWrite.Format =
    BlockWrite.Format(blocksOf(_, _, _, leaves, rows), manifestOf(spark, _, leaves.length))

  /** The block assembly of every generic commit (encode, append and the
    * rewrite commits of compact and the deletes): one explicit hash
    * exchange on block_id (spill-aware partition count), Tungsten
    * sortWithinPartitions, streaming one-block-at-a-time assembly into the
    * block rows of version `ver`.
    */
  private def blocksOf(
      withBlocks: DataFrame,
      ver: Int,
      numBlocks: Int,
      leaves: Seq[Leaf],
      rows: Long): DataFrame = {
    val parallelism = withBlocks.sparkSession.sparkContext.defaultParallelism
    val encodeParts = BlockWrite.encodePartitions(
      numBlocks, parallelism, rows * leaves.length) // ~1 cell ≈ 1 token proxy
    val kinds = leaves.map(_.kind).toArray
    withBlocks
      .select(Seq(col("block_id"), col("_graft_key").as("k"),
        col("_graft_rh").as("rh")) ++ leaves.map(l => col(quoted(l.name))): _*)
      .repartition(encodeParts, col("block_id"))
      .sortWithinPartitions(col("block_id"), col("k"), col("rh"))
      .mapPartitions(it => GenericAssembler.assemble(it, ver, kinds))(
        Encoders.row(blockSchema(leaves.length)))
  }

  /** The schema blocks of `nLeaves` leaf payloads are written with. */
  private def blockSchema(nLeaves: Int): StructType = StructType(IndexedSeq(
    StructField("block_id", IntegerType, nullable = false),
    StructField("ver", IntegerType, nullable = false),
    StructField("row_count", LongType, nullable = false),
    StructField("key_min", LongType, nullable = false),
    StructField("key_max", LongType, nullable = false),
    StructField("plain_bytes", LongType, nullable = false),
    StructField("row_xor", LongType, nullable = false),
    StructField("row_sum", LongType, nullable = false)) ++
    (0 until nLeaves).map(i => StructField(s"pl_$i", BinaryType, nullable = false)))

  /** Manifest from the WRITTEN data files: per-leaf codec evidence + sizes
    * (leaf index ↔ name mapping lives in the snapshot's generic_leaves).
    * The files are read with the schema they were written with, so no
    * schema-inference job runs.
    */
  private def manifestOf(spark: SparkSession, dataPath: String, nLeaves: Int): DataFrame = {
    val pls = (0 until nLeaves).map(i => col(s"pl_$i"))
    spark.read.schema(blockSchema(nLeaves)).parquet(dataPath).select(
      Seq(col("block_id"), col("ver"), col("row_count"),
        col("key_min"), col("key_max"), col("plain_bytes"),
        col("row_xor"), col("row_sum")) ++
        (0 until nLeaves).flatMap(i => Seq(
          graft_codec(col(s"pl_$i")).as(s"codec_$i"),
          octet_length(col(s"pl_$i")).cast("long").as(s"bytes_$i"))) ++
        Seq(
          pls.map(octet_length(_).cast("long")).reduce(_ + _).as("bytes_total"),
          xxhash64(col("block_id") +: pls: _*).as("block_sig")): _*)
  }

  // -------------------------------------------------------------- decode

  /** The current READ schema of a generic snapshot (post-evolution merge). */
  private[graft] def readSchemaOf(snap: Snapshot): StructType = {
    val stats = snap.stats.toMap
    val schemaJson = stats.getOrElse(SchemaKey, throw new IllegalStateException(
      "not a generic table: snapshot has no generic_schema (token tables " +
        "decode via GraftTable.decode)"))
    DataType.fromJson(schemaJson).asInstanceOf[StructType]
  }

  /** The write schema of each version live in `snap`: one metadata read
    * per version other than `snap`'s own.
    */
  private[graft] def writeSchemasOf(
      spark: SparkSession, tableDir: String, snap: Snapshot): Map[Int, StructType] =
    snap.dataDirs.map(versionOf).distinct.map { ver =>
      val vsnap =
        if (ver == snap.version) snap
        else GraftTable.snapshotVersion(spark, tableDir, ver).getOrElse(
          throw new IllegalStateException(
            s"data dir of v$ver is live but metadata/v$ver.json is missing"))
      ver -> writeSchemaOf(vsnap)
    }.toMap

  /** The schema rows of `snap` decode under: its read schema merged with
    * the write schema of every live version. On tables whose every append
    * went through [[mergeSchemas]] this is the read schema itself; earlier
    * builds kept the parent's nested nullability on append, so their read
    * schema can exclude nested nulls a later version holds, and rows
    * emitted under it would read those nulls as 0.
    */
  private[graft] def liveSchemaOf(
      snap: Snapshot, writeSchemas: Map[Int, StructType]): StructType =
    writeSchemas.toSeq.sortBy(_._1).map(_._2).foldLeft(readSchemaOf(snap))(mergeSchemas)

  private def liveSchemaOf(spark: SparkSession, tableDir: String, snap: Snapshot): StructType =
    liveSchemaOf(snap, writeSchemasOf(spark, tableDir, snap))

  /** Decode the current snapshot back to the original schema, bit-identical
    * per row (order not guaranteed, as with any distributed scan).
    */
  def decode(spark: SparkSession, tableDir: String): DataFrame =
    scanOf(spark, tableDir, current(spark, tableDir))

  /** Time-travel decode: the table exactly as of `version` (schema
    * included — each version's snapshot pins the schema it was written
    * with).
    */
  def decodeAt(spark: SparkSession, tableDir: String, version: Int): DataFrame =
    scanOf(spark, tableDir, GraftTable.snapshotAt(spark, tableDir, version))

  /** Column-pruned decode: only `columns` (top-level names) are
    * reconstructed, and the scan reads ONLY their leaf payloads.
    */
  def decodeSelect(
      spark: SparkSession, tableDir: String, columns: Seq[String]): DataFrame = {
    val snap = current(spark, tableDir)
    val names = readSchemaOf(snap).fieldNames
    require(columns.nonEmpty && columns.forall(names.contains),
      s"decodeSelect columns must be among ${names.mkString(", ")}")
    scanOf(spark, tableDir, snap)
      .select(names.filter(columns.contains).map(c => col(quoted(c))).toIndexedSeq: _*)
  }

  private def versionOf(dataDir: String): Int = GraftTable.versionOfDir(dataDir)

  /** The schema a given version's blocks were WRITTEN with (schema
    * evolution means it can differ from the current read schema).
    */
  private[graft] def writeSchemaOf(snap: Snapshot): StructType = {
    val stats = snap.stats.toMap
    val json = stats.getOrElse(WriteSchemaKey, stats.getOrElse(SchemaKey,
      throw new IllegalStateException(s"v${snap.version} is not generic")))
    DataType.fromJson(json).asInstanceOf[StructType]
  }

  /** Decode only rows whose range key falls in [lo, hi]: the scan skips
    * versions and blocks whose key spans miss the interval, then an exact
    * row filter on the recomputed key. Meaningful when the key strategy is
    * order-preserving (integral / numeric-string / date / timestamp keys —
    * `generic:<key>` in the snapshot); a hash-keyed table's ranges are
    * hash ranges (resume/shard math, not user queries).
    */
  def decodeRange(
      spark: SparkSession, tableDir: String, lo: Long, hi: Long): DataFrame = {
    val snap = current(spark, tableDir)
    val key = keyNameOf(snap)
    // null keys hash-bucket on encode (keyExprOf is never null — a null
    // input lands on the xxhash64 seed), but a range slice must not return
    // them: SQL BETWEEN on a null key is false. The explicit isNotNull
    // holds even when [lo, hi] happens to contain the null-hash value.
    scanOf(spark, tableDir, snap, Some((lo, hi)))
      .where(col(quoted(key)).isNotNull &&
        keyExprOf(key, readSchemaOf(snap)(key).dataType).between(lo, hi))
  }

  /** Data dirs whose per-version key span intersects [lo, hi] — the
    * snapshot's version summaries answer this without reading a manifest
    * or touching a data file, so a range probe on a many-version table
    * skips whole versions' files instead of opening every footer only to
    * prune its row groups. A version without a summary (shouldn't happen)
    * stays — never wrongly pruned.
    */
  private[graft] def rangeDataDirs(
      spark: SparkSession,
      tableDir: String,
      snap: Snapshot,
      lo: Long,
      hi: Long): Seq[String] =
    rangeDataDirs(snap, VersionSummary.of(spark, tableDir, snap), lo, hi)

  private def rangeDataDirs(
      snap: Snapshot, versions: Seq[VersionSummary], lo: Long, hi: Long): Seq[String] = {
    val byVer = versions.map(v => v.ver -> v).toMap
    snap.dataDirs.filter(d => byVer.get(versionOf(d)).forall(_.overlaps(lo, hi)))
  }

  /** Per-(column, codec) selection evidence, the generic `describe`.
    * One plan branch per distinct WRITE SCHEMA (leaf indices differ per
    * schema epoch, so manifests group by epoch, not per version — a
    * 1000-micro-batch streamed table plans #epochs branches), and within
    * a branch every leaf unpivots through ONE
    * explode instead of a per-leaf union.
    */
  def describe(spark: SparkSession, tableDir: String): DataFrame = {
    val snap = current(spark, tableDir)
    val writeSchemas = writeSchemasOf(spark, tableDir, snap)
    val byVersion = snap.manifestDirs.groupBy(versionOf).toSeq.sortBy(_._1).map {
      case (ver, dirs) => (ver, dirs, writeSchemas(ver))
    }
    val bySchema = byVersion.groupBy(_._3.json).toSeq
      .sortBy(_._2.map(_._1).min).map(_._2)
    val perGroup = bySchema.map { group =>
      val leaves = planOf(group.head._3).flatMap(_._2)
      val dirs = group.flatMap(_._2)
      val man = spark.read.json(dirs.map(d => s"$tableDir/$d"): _*)
      val entries = array(leaves.zipWithIndex.map { case (l, i) =>
        struct(lit(l.name).as("column"), col(s"codec_$i").as("codec"),
          col(s"bytes_$i").cast(LongType).as("bytes"))
      }: _*)
      man.select(explode(entries).as("e"))
        .select(col("e.column"), col("e.codec"), col("e.bytes"))
    }
    perGroup.reduce(_ unionAll _)
      .groupBy(col("column"), col("codec"))
      .agg(count(lit(1)).as("blocks"), sum(col("bytes")).as("bytes"))
  }
}

/** Streaming per-partition assembler for the generic table: rows arrive
  * sorted by (block_id, key, rowhash); exactly one block's column slices
  * are buffered at a time — O(targetRowsPerBlock · leaves) task memory,
  * independent of partition size (same discipline as [[BlockAssembler]]).
  * Input row layout: (block_id, k, rh, leaf0, leaf1, ...).
  */
object GenericAssembler {

  def assemble(it: Iterator[Row], ver: Int, kinds: Array[String]): Iterator[Row] =
    new Iterator[Row] {
      private val in = it.buffered
      private val nLeaves = kinds.length

      override def hasNext: Boolean = in.hasNext

      override def next(): Row = {
        val blockId = in.head.getInt(0)
        val bufs = Array.fill(nLeaves)(new ArrayBuffer[Any])
        var rowCount = 0L
        var keyMin = Long.MaxValue
        var keyMax = Long.MinValue
        var plainBytes = 0L
        var rowXor = 0L
        var rowSum = 0L
        while (in.hasNext && in.head.getInt(0) == blockId) {
          val r = in.next()
          val k = r.getLong(1)
          if (k < keyMin) keyMin = k
          if (k > keyMax) keyMax = k
          val h = r.getLong(2)
          rowXor ^= h
          rowSum += h
          var i = 0
          while (i < nLeaves) {
            val v = r.get(3 + i)
            bufs(i) += v
            plainBytes += AnyColumn.plainBytesOf(kinds(i), v)
            i += 1
          }
          rowCount += 1L
        }
        val payloads = new Array[Any](nLeaves)
        var i = 0
        while (i < nLeaves) {
          payloads(i) = AnyColumn.encodeColumn(kinds(i), bufs(i))
          i += 1
        }
        Row.fromSeq(IndexedSeq[Any](
          blockId, ver, rowCount, keyMin, keyMax, plainBytes, rowXor, rowSum) ++
          payloads)
      }
    }
}
