package graftbench

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.SpecializedGetters
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.types._

/** Order-insensitive, exact digest of a query result: the row count plus
  * two 64-bit lanes, each the wrapping sum of one hash per row. A sum does
  * not depend on row order or on how rows are split into partitions, and
  * it counts duplicate rows (an XOR would cancel them). Values are hashed
  * by their exact representation: doubles and floats by their raw bits,
  * decimals by their unscaled value and scale, strings by their UTF-8
  * bytes. */
final case class Digest(rows: Long, a: Long, b: Long) {
  def +(o: Digest): Digest = Digest(rows + o.rows, a + o.a, b + o.b)
  override def toString: String = f"$rows:$a%016x$b%016x"
}

object Digest {
  val empty: Digest = Digest(0L, 0L, 0L)

  /** Executes the query's own physical plan once and digests its rows on
    * the executors; only one small triple per partition reaches the
    * driver. */
  def of(qe: QueryExecution): Digest = {
    val schema = qe.analyzed.schema
    qe.toRdd
      .mapPartitions(rows => Iterator.single(ofRows(rows, schema)))
      .collect()
      .foldLeft(empty)(_ + _)
  }

  def ofRows(rows: Iterator[InternalRow], schema: StructType): Digest = {
    var n = 0L; var a = 0L; var b = 0L
    val h = new Hasher
    while (rows.hasNext) {
      h.reset()
      struct(h, rows.next(), schema)
      n += 1; a += h.h1; b += h.h2
    }
    Digest(n, a, b)
  }

  /** Two independently seeded lanes of a 64-bit multiply-xorshift mix. */
  final class Hasher {
    var h1 = 0L; var h2 = 0L
    def reset(): Unit = { h1 = 0x243f6a8885a308d3L; h2 = 0x13198a2e03707344L }
    def put(v: Long): Unit = {
      h1 = mix(h1 * 0x9e3779b97f4a7c15L + v)
      h2 = mix((h2 ^ v) * 0xc2b2ae3d27d4eb4fL + 0x165667b19e3779f9L)
    }
    def bytes(bs: Array[Byte]): Unit = {
      put(bs.length.toLong)
      var i = 0
      while (i < bs.length) {
        var w = 0L; var k = 0
        while (k < 8 && i + k < bs.length) {
          w |= (bs(i + k) & 0xffL) << (8 * k); k += 1
        }
        put(w); i += 8
      }
    }
    private def mix(x0: Long): Long = {
      var x = x0
      x = (x ^ (x >>> 30)) * 0xbf58476d1ce4e5b9L
      x = (x ^ (x >>> 27)) * 0x94d049bb133111ebL
      x ^ (x >>> 31)
    }
  }

  private val NullTag = 0x6e756c6cL

  private def struct(h: Hasher, r: SpecializedGetters, t: StructType): Unit = {
    var i = 0
    while (i < t.fields.length) { field(h, r, i, t.fields(i).dataType); i += 1 }
  }

  private def array(h: Hasher, a: org.apache.spark.sql.catalyst.util.ArrayData,
      t: DataType): Unit = {
    h.put(a.numElements().toLong)
    var i = 0
    while (i < a.numElements()) { field(h, a, i, t); i += 1 }
  }

  private def field(h: Hasher, g: SpecializedGetters, i: Int, t: DataType): Unit =
    if (g.isNullAt(i)) h.put(NullTag)
    else t match {
      case BooleanType => h.put(if (g.getBoolean(i)) 1L else 2L)
      case ByteType => h.put(g.getByte(i).toLong)
      case ShortType => h.put(g.getShort(i).toLong)
      case IntegerType | DateType | _: YearMonthIntervalType =>
        h.put(g.getInt(i).toLong)
      case LongType | TimestampType | TimestampNTZType | _: DayTimeIntervalType =>
        h.put(g.getLong(i))
      case FloatType => h.put(java.lang.Float.floatToRawIntBits(g.getFloat(i)).toLong)
      case DoubleType => h.put(java.lang.Double.doubleToRawLongBits(g.getDouble(i)))
      case d: DecimalType =>
        val v = g.getDecimal(i, d.precision, d.scale)
        if (d.precision <= Decimal.MAX_LONG_DIGITS) h.put(v.toUnscaledLong)
        else h.bytes(v.toJavaBigDecimal.unscaledValue.toByteArray)
        h.put(d.scale.toLong)
      case _: StringType => h.bytes(g.getUTF8String(i).getBytes)
      case BinaryType => h.bytes(g.getBinary(i))
      case CalendarIntervalType =>
        val c = g.getInterval(i)
        h.put(c.months.toLong); h.put(c.days.toLong); h.put(c.microseconds)
      case a: ArrayType => array(h, g.getArray(i), a.elementType)
      case m: MapType =>
        val md = g.getMap(i)
        array(h, md.keyArray(), m.keyType); array(h, md.valueArray(), m.valueType)
      case s: StructType => struct(h, g.getStruct(i, s.size), s)
      case VariantType =>
        val v = g.getVariant(i); h.bytes(v.getValue); h.bytes(v.getMetadata)
      case u: UserDefinedType[_] => field(h, g, i, u.sqlType)
      case NullType => h.put(NullTag)
      case other =>
        throw new IllegalArgumentException(s"no digest rule for type $other")
    }
}
