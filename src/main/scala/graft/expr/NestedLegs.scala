package graft.expr

import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.{ArrayBasedMapData, ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** IMPERATIVE rebuild of (possibly deeply nested) values from their
  * decoded storage legs, behind the generic lane's one decoder
  * ([[graft.sources.GraftGenericPartitionReader]]).
  *
  * Why imperative: Spark evaluates higher-order-function lambdas WITHOUT
  * common-subexpression elimination, so an expression-tree rebuild of a
  * depth-3 array re-runs the whole inner rebuild once per OUTER element —
  * measured 95× slower than this linear pass at 2000 rows × 1000 ints
  * (33.2 s vs 0.35 s). One builder tree is compiled per column at plan
  * time; per row it reads each leg exactly once.
  *
  * Leg naming mirrors GenericTable.fieldLeaves exactly: `__ll`/`__lv`
  * nested repetition, `__ap`/`__af.<f>` array-of-struct, `__amk`/`__amv`
  * array-of-map, `__p` struct presence, `__mk`/`__mv` maps.
  */
object NestedLegs {

  /** Per-row builder for one field: `vals(slot(name))` must hold this
    * row's decoded value of leaf `name` (storage form — int-backed
    * byte/short/bool, unscaled-long or digit-string decimals, days/micros
    * temporals, ArrayData for array legs); returns the rebuilt Catalyst
    * value (or null).
    */
  def builder(
      path: String, dt: DataType, nullable: Boolean,
      slot: String => Int): Array[Any] => Any = dt match {
    case IntegerType | LongType | StringType | DoubleType | FloatType |
         BinaryType | DateType | TimestampType | TimestampNTZType =>
      val s = slot(path); vals => vals(s) // stored forms ARE the internal forms
    case ByteType =>
      val s = slot(path)
      vals => { val v = vals(s)
        if (v == null) null else java.lang.Byte.valueOf(v.asInstanceOf[Int].toByte) }
    case ShortType =>
      val s = slot(path)
      vals => { val v = vals(s)
        if (v == null) null else java.lang.Short.valueOf(v.asInstanceOf[Int].toShort) }
    case BooleanType =>
      val s = slot(path)
      vals => { val v = vals(s)
        if (v == null) null else java.lang.Boolean.valueOf(v.asInstanceOf[Int] != 0) }
    case d: DecimalType if d.precision <= 18 =>
      val s = slot(path)
      vals => { val v = vals(s)
        if (v == null) null
        else Decimal.createUnsafe(v.asInstanceOf[Long], d.precision, d.scale) }
    case d: DecimalType => // wide: string leaf
      val s = slot(path)
      vals => { val v = vals(s)
        if (v == null) null
        else Decimal(BigDecimal(v.toString), d.precision, d.scale) }
    case at: ArrayType => arrayBuilder(path, at, slot)
    case st: StructType =>
      val children = st.fields.map(f =>
        builder(s"$path.${f.name}", f.dataType, nullable = true, slot))
      val presSlot = if (nullable) slot(s"$path.__p") else -1
      vals => {
        val here = presSlot < 0 || {
          val p = vals(presSlot)
          p != null && p.asInstanceOf[Int] == 1
        }
        if (!here) null
        else {
          val out = new Array[Any](children.length)
          var c = 0
          while (c < children.length) { out(c) = children(c)(vals); c += 1 }
          new GenericInternalRow(out)
        }
      }
    case MapType(kt, vt, vcn) =>
      val keys = builder(s"$path.__mk", ArrayType(kt, containsNull = false), nullable, slot)
      val values = builder(s"$path.__mv", ArrayType(vt, vcn), nullable, slot)
      vals => {
        val k = keys(vals)
        if (k == null) null
        else new ArrayBasedMapData(k.asInstanceOf[ArrayData],
          values(vals).asInstanceOf[ArrayData])
      }
    case other => throw new UnsupportedOperationException(other.catalogString)
  }

  /** Builder for one array-shaped leg: per-row ArrayData (or null) whose
    * elements are already Catalyst values of the declared element type.
    */
  private def arrayBuilder(
      path: String, at: ArrayType, slot: String => Int): Array[Any] => Any =
    at.elementType match {
      case ByteType | ShortType | BooleanType =>
        // stored as int arrays; elements convert back
        val elem = at.elementType
        val s = slot(path)
        vals => { val v = vals(s)
          if (v == null) null
          else {
            val a = v.asInstanceOf[ArrayData]
            val out = new Array[Any](a.numElements())
            var j = 0
            while (j < out.length) {
              if (!a.isNullAt(j)) out(j) = elem match {
                case ByteType => java.lang.Byte.valueOf(a.getInt(j).toByte)
                case ShortType => java.lang.Short.valueOf(a.getInt(j).toShort)
                case _ => java.lang.Boolean.valueOf(a.getInt(j) != 0)
              }
              j += 1
            }
            new GenericArrayData(out)
          }
        }
      case d: DecimalType =>
        // stored as unscaled-long (<=18) / exact-string (wide) legs
        val s = slot(path)
        vals => { val v = vals(s)
          if (v == null) null
          else {
            val a = v.asInstanceOf[ArrayData]
            val out = new Array[Any](a.numElements())
            var j = 0
            while (j < out.length) {
              if (!a.isNullAt(j)) out(j) =
                if (d.precision <= 18) Decimal.createUnsafe(a.getLong(j), d.precision, d.scale)
                else Decimal(BigDecimal(a.getUTF8String(j).toString), d.precision, d.scale)
              j += 1
            }
            new GenericArrayData(out)
          }
        }
      case inner: ArrayType =>
        // (inner lengths, recursively-rebuilt flat elements) legs; a null
        // length restores a null inner array
        val lensSlot = slot(s"$path.__ll")
        val flatB = arrayBuilder(s"$path.__lv",
          ArrayType(inner.elementType, containsNull = true), slot)
        val elemT = inner.elementType
        vals => {
          val lv = vals(lensSlot)
          if (lv == null) null
          else {
            val lens = lv.asInstanceOf[ArrayData]
            val flat = flatB(vals).asInstanceOf[ArrayData]
            val out = new Array[Any](lens.numElements())
            var off = 0
            var j = 0
            while (j < out.length) {
              if (!lens.isNullAt(j)) {
                val n = lens.getInt(j)
                val elems = new Array[Any](n)
                var k = 0
                while (k < n) {
                  if (!flat.isNullAt(off + k)) elems(k) = flat.get(off + k, elemT)
                  k += 1
                }
                out(j) = new GenericArrayData(elems)
                off += n
              }
              j += 1
            }
            new GenericArrayData(out)
          }
        }
      case st: StructType =>
        // parallel per-field legs share element positions; legs recurse
        val cn = at.containsNull
        val legB = st.fields.map(f =>
          arrayBuilder(s"$path.__af.${f.name}",
            ArrayType(f.dataType, containsNull = true), slot))
        val ftypes = st.fields.map(_.dataType)
        val presSlot = if (cn) slot(s"$path.__ap") else -1
        vals => {
          val legs = new Array[ArrayData](legB.length)
          var c = 0
          while (c < legs.length) { legs(c) = legB(c)(vals).asInstanceOf[ArrayData]; c += 1 }
          if (legs(0) == null) null
          else {
            val pres =
              if (presSlot >= 0) vals(presSlot).asInstanceOf[ArrayData] else null
            val n = legs(0).numElements()
            val out = new Array[Any](n)
            var j = 0
            while (j < n) {
              if (pres == null || pres.getInt(j) == 1) {
                val row = new Array[Any](legs.length)
                c = 0
                while (c < legs.length) {
                  if (!legs(c).isNullAt(j)) row(c) = legs(c).get(j, ftypes(c))
                  c += 1
                }
                out(j) = new GenericInternalRow(row)
              }
              j += 1
            }
            new GenericArrayData(out)
          }
        }
      case mt: MapType =>
        // per-element keys/values ride two array-of-array legs; zip back
        val keysB = arrayBuilder(s"$path.__amk",
          ArrayType(ArrayType(mt.keyType, containsNull = false), containsNull = true), slot)
        val valsB = arrayBuilder(s"$path.__amv",
          ArrayType(ArrayType(mt.valueType, mt.valueContainsNull), containsNull = true), slot)
        vals => {
          val k = keysB(vals)
          if (k == null) null
          else {
            val ka = k.asInstanceOf[ArrayData]
            val va = valsB(vals).asInstanceOf[ArrayData]
            val out = new Array[Any](ka.numElements())
            var j = 0
            while (j < out.length) {
              if (!ka.isNullAt(j))
                out(j) = new ArrayBasedMapData(ka.getArray(j), va.getArray(j))
              j += 1
            }
            new GenericArrayData(out)
          }
        }
      // int/long/string/float/double/date/timestamp arrays: pass through
      case _ =>
        val s = slot(path); vals => vals(s)
    }
}
