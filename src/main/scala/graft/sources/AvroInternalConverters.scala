package graft.sources

import java.nio.ByteBuffer
import org.apache.avro.Schema
import org.apache.avro.generic.{GenericData, GenericRecord}
import org.apache.avro.util.Utf8
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{GenericInternalRow, SpecializedGetters}
import org.apache.spark.sql.catalyst.util.{ArrayBasedMapData, ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import scala.jdk.CollectionConverters._

/** Avro ⇄ Catalyst INTERNAL-row conversion for [[AvroIO]]'s distributed
  * scan and sink — the batch-friendly sibling of [[AvroConverters]]
  * (which speaks external `Row` for the driver-side fixture paths).
  *
  * Why a second converter: the external path costs every row a
  * RowEncoder round trip (InternalRow → boxed Row → validated
  * InternalRow) plus object churn for the logical types
  * (micros → java.sql.Timestamp → micros). Converting straight between
  * Avro datums and InternalRow values — `UTF8String` for strings,
  * raw micros/days longs for timestamps/dates, `Decimal` for decimals —
  * removes both, which at scan scale IS the Avro source's cost.
  * Per-field converter closures are compiled once per schema (per
  * partition), not re-dispatched per value.
  *
  * Copy discipline on the read side: avro-mapred REUSES the datum tree
  * across records, so every converter materializes copies (string bytes
  * are copied out of the reused Utf8 buffer, byte buffers are drained
  * into fresh arrays) before the next record overwrites it. */
private[sources] object AvroInternalConverters {

  // ---- read: avro datum -> internal value ----------------------------------

  /** Compiled record reader: GenericRecord → InternalRow under `st`. */
  def internalReader(st: StructType): GenericRecord => InternalRow = {
    val names = st.fields.map(_.name)
    val rds = st.fields.map(f => reader(f.dataType))
    rec => {
      val vals = new Array[Any](names.length)
      var i = 0
      while (i < names.length) {
        vals(i) = rds(i)(rec.get(names(i)))
        i += 1
      }
      new GenericInternalRow(vals)
    }
  }

  private def reader(dt: DataType): Any => Any = dt match {
    case StringType => {
      case null => null
      case u: Utf8 =>
        // the Utf8's buffer is reused by the datum reader — copy it out
        UTF8String.fromBytes(
          java.util.Arrays.copyOfRange(u.getBytes, 0, u.getByteLength))
      case s: String => UTF8String.fromString(s)
      case other => UTF8String.fromString(other.toString) // enum symbol etc.
    }
    case BinaryType => {
      case null => null
      case b: ByteBuffer =>
        val out = new Array[Byte](b.remaining()); b.duplicate().get(out); out
      case f: GenericData.Fixed => f.bytes().clone()
      case x => x
    }
    case d: DecimalType => {
      case null => null
      case b: ByteBuffer =>
        val out = new Array[Byte](b.remaining()); b.duplicate().get(out)
        Decimal(new java.math.BigDecimal(
          new java.math.BigInteger(out), d.scale), d.precision, d.scale)
      case f: GenericData.Fixed =>
        Decimal(new java.math.BigDecimal(
          new java.math.BigInteger(f.bytes()), d.scale), d.precision, d.scale)
      case x => x
    }
    case LongType => {
      case null => null
      case i: java.lang.Integer => java.lang.Long.valueOf(i.longValue())
      case x => x
    }
    // timestamp/date logical types ride their avro primitive verbatim —
    // micros/days ARE the internal representation, no object round trip
    case TimestampType | TimestampNTZType | DateType |
         IntegerType | FloatType | DoubleType | BooleanType => identity[Any]
    case st: StructType =>
      val sub = internalReader(st)
      v => if (v == null) null else sub(v.asInstanceOf[GenericRecord])
    case ArrayType(et, _) =>
      val er = reader(et)
      v => if (v == null) null else {
        val c = v.asInstanceOf[java.util.Collection[_]]
        val out = new Array[Any](c.size)
        var i = 0
        val it = c.iterator()
        while (it.hasNext) { out(i) = er(it.next()); i += 1 }
        new GenericArrayData(out)
      }
    case MapType(StringType, vt, _) =>
      val vr = reader(vt)
      val kr = reader(StringType)
      v => if (v == null) null else {
        val m = v.asInstanceOf[java.util.Map[AnyRef, AnyRef]]
        val ks = new Array[Any](m.size)
        val vs = new Array[Any](m.size)
        var i = 0
        val it = m.entrySet().iterator()
        while (it.hasNext) {
          val e = it.next()
          ks(i) = kr(e.getKey); vs(i) = vr(e.getValue); i += 1
        }
        new ArrayBasedMapData(new GenericArrayData(ks), new GenericArrayData(vs))
      }
    case other =>
      throw new UnsupportedOperationException(s"avro internal read of $other")
  }

  // ---- write: internal value -> avro datum ---------------------------------

  /** Compiled record writer: InternalRow → GenericRecord under
    * (`schema`, `st`). */
  def internalWriter(schema: Schema, st: StructType): InternalRow => GenericRecord = {
    val names = st.fields.map(_.name)
    val wrs = st.fields.zipWithIndex.map { case (f, _) =>
      writer(f.dataType, nonNull(schema.getField(f.name).schema()))
    }
    row => {
      val rec = new GenericData.Record(schema)
      var i = 0
      while (i < names.length) {
        rec.put(names(i), if (row.isNullAt(i)) null else wrs(i)(row, i))
        i += 1
      }
      rec
    }
  }

  private def nonNull(s: Schema): Schema =
    if (s.getType == Schema.Type.UNION)
      s.getTypes.asScala.find(_.getType != Schema.Type.NULL).get
    else s

  /** Per-field writer over [[SpecializedGetters]], so the same closure
    * serves a row field and an array/map element. Never called on null
    * slots (the caller checks isNullAt). */
  private def writer(dt: DataType, s: Schema): (SpecializedGetters, Int) => Any =
    dt match {
      case StringType =>
        // hand avro the raw UTF-8 bytes (getBytes copies out of the row)
        // instead of decoding to String and re-encoding inside the codec
        (g, i) => new Utf8(g.getUTF8String(i).getBytes)
      case BinaryType => (g, i) => ByteBuffer.wrap(g.getBinary(i))
      case d: DecimalType => (g, i) =>
        ByteBuffer.wrap(g.getDecimal(i, d.precision, d.scale)
          .toJavaBigDecimal.setScale(d.scale).unscaledValue.toByteArray)
      case ByteType => (g, i) => java.lang.Integer.valueOf(g.getByte(i).toInt)
      case ShortType => (g, i) => java.lang.Integer.valueOf(g.getShort(i).toInt)
      case IntegerType | DateType => (g, i) => java.lang.Integer.valueOf(g.getInt(i))
      // micros ARE the internal long for both timestamp flavors
      case LongType | TimestampType | TimestampNTZType =>
        (g, i) => java.lang.Long.valueOf(g.getLong(i))
      case FloatType => (g, i) => java.lang.Float.valueOf(g.getFloat(i))
      case DoubleType => (g, i) => java.lang.Double.valueOf(g.getDouble(i))
      case BooleanType => (g, i) => java.lang.Boolean.valueOf(g.getBoolean(i))
      case nested: StructType =>
        val sub = internalWriter(s, nested)
        (g, i) => sub(g.getStruct(i, nested.fields.length))
      case ArrayType(et, _) =>
        val ew = writer(et, nonNull(s.getElementType))
        (g, i) => {
          val arr = g.getArray(i)
          val n = arr.numElements()
          val out = new java.util.ArrayList[Any](n)
          var j = 0
          while (j < n) {
            out.add(if (arr.isNullAt(j)) null else ew(arr, j))
            j += 1
          }
          out
        }
      case MapType(StringType, vt, _) =>
        val vw = writer(vt, nonNull(s.getValueType))
        (g, i) => {
          val m = g.getMap(i)
          val ks = m.keyArray(); val vs = m.valueArray()
          val n = m.numElements()
          val out = new java.util.HashMap[CharSequence, Any](n * 2)
          var j = 0
          while (j < n) {
            out.put(new Utf8(ks.getUTF8String(j).getBytes),
              if (vs.isNullAt(j)) null else vw(vs, j))
            j += 1
          }
          out
        }
      case other =>
        throw new UnsupportedOperationException(s"avro internal write of $other")
    }
}
