package graft.server

import java.io.OutputStream
import java.nio.charset.StandardCharsets.UTF_8
import scala.jdk.CollectionConverters._
import org.apache.arrow.memory.RootAllocator
import org.apache.arrow.vector._
import org.apache.arrow.vector.ipc.ArrowStreamWriter
import org.apache.arrow.vector.types.pojo.{ArrowType, Field, FieldType, Schema => ArrowSchema}
import org.apache.arrow.vector.types.{FloatingPointPrecision, TimeUnit}
import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.expressions.SpecializedGetters
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** Arrow IPC stream encoder (uquery-rs src/web/consumers.rs:47-75:
  * schema message lazily on first batch, then RecordBatches).
  *
  * Built on the public arrow-vector API over Spark's internal rows —
  * the type-preserving response path. Each column compiles once per
  * schema into a typed setter over `SpecializedGetters`. Scalar Spark
  * types map 1:1 (TIMESTAMP to UTC `timestamp[us]`, TIMESTAMP_NTZ to
  * naive `timestamp[us]`); LIST-of-scalar columns stream as native
  * Arrow list vectors (round-15 bytes fuzz — the reference streams
  * DuckDB's own arrow, where lists are real list types); deeper nesting
  * (struct / map / list-of-list) falls back to JSON stringification as
  * utf8.
  */
object ArrowIpcEncoder {

  private val BatchRows = 1024

  /** Scalar Spark type → Arrow type; None for types with no scalar
    * Arrow mapping here (struct/map/nested lists → utf8 fallback). */
  private def scalarArrow(dt: DataType): Option[ArrowType] = dt match {
    case IntegerType => Some(new ArrowType.Int(32, true))
    case LongType => Some(new ArrowType.Int(64, true))
    case ShortType => Some(new ArrowType.Int(16, true))
    case ByteType => Some(new ArrowType.Int(8, true))
    case DoubleType => Some(new ArrowType.FloatingPoint(FloatingPointPrecision.DOUBLE))
    case FloatType => Some(new ArrowType.FloatingPoint(FloatingPointPrecision.SINGLE))
    case BooleanType => Some(ArrowType.Bool.INSTANCE)
    case TimestampType => Some(new ArrowType.Timestamp(TimeUnit.MICROSECOND, "UTC"))
    // DuckDB's naive TIMESTAMP: the same micros, no time zone
    case TimestampNTZType => Some(new ArrowType.Timestamp(TimeUnit.MICROSECOND, null))
    case DateType => Some(new ArrowType.Date(org.apache.arrow.vector.types.DateUnit.DAY))
    case BinaryType => Some(ArrowType.Binary.INSTANCE)
    case d: DecimalType => Some(new ArrowType.Decimal(d.precision, d.scale, 128))
    case StringType => Some(ArrowType.Utf8.INSTANCE)
    // untyped-NULL elements ([], [x + NULL, ...]): every element is
    // null, so the child type is arbitrary — utf8 keeps the list
    // NATIVE (values [null,…]/[] either way) instead of stringifying
    // the whole column (round-15 bytes fuzz, the last arrow class)
    case NullType => Some(ArrowType.Utf8.INSTANCE)
    case _ => None
  }

  private def arrowField(f: StructField): Field = {
    def primitive(t: ArrowType): Field =
      new Field(f.name, new FieldType(f.nullable, t, null), null)
    f.dataType match {
      // round-15 (bytes fuzz): LIST-of-scalar columns stream as NATIVE
      // Arrow lists — the reference streams DuckDB's own arrow, where
      // lists are real list vectors, so the old utf8 stringification
      // was a type-fidelity gap on the arrow path. Nested-of-nested /
      // struct / map keep the documented utf8 fallback.
      case ArrayType(et, containsNull) if scalarArrow(et).isDefined =>
        val child = new Field("item",
          new FieldType(containsNull, scalarArrow(et).get, null), null)
        new Field(f.name, new FieldType(f.nullable, ArrowType.List.INSTANCE, null),
          java.util.List.of(child))
      case other => scalarArrow(other) match {
        case Some(t) => primitive(t)
        case None => primitive(ArrowType.Utf8.INSTANCE) // nested fallback
      }
    }
  }

  /** Sets slot `i` of a vector from the non-null value at (row, ordinal). */
  private trait Setter { def apply(r: SpecializedGetters, o: Int, i: Int): Unit }

  /** The typed setter of `vec`, the vector arrowField made for `dt`. */
  private def setter(vec: FieldVector, dt: DataType): Setter = vec match {
    case x: complex.ListVector =>
      val child = x.getDataVector
      val elem = setter(child, dt.asInstanceOf[ArrayType].elementType)
      (r, o, i) => {
        val a = r.getArray(o)
        val start = x.startNewValue(i)
        var j = 0
        while (j < a.numElements()) {
          if (a.isNullAt(j)) child.setNull(start + j) else elem(a, j, start + j)
          j += 1
        }
        x.endValue(i, j)
      }
    case x: IntVector => (r, o, i) => x.setSafe(i, r.getInt(o))
    case x: BigIntVector => (r, o, i) => x.setSafe(i, r.getLong(o))
    case x: SmallIntVector => (r, o, i) => x.setSafe(i, r.getShort(o))
    case x: TinyIntVector => (r, o, i) => x.setSafe(i, r.getByte(o))
    case x: Float8Vector => (r, o, i) => x.setSafe(i, r.getDouble(o))
    case x: Float4Vector => (r, o, i) => x.setSafe(i, r.getFloat(o))
    case x: BitVector => (r, o, i) => x.setSafe(i, if (r.getBoolean(o)) 1 else 0)
    case x: TimeStampMicroTZVector => (r, o, i) => x.setSafe(i, r.getLong(o))
    case x: TimeStampMicroVector => (r, o, i) => x.setSafe(i, r.getLong(o))
    case x: DateDayVector => (r, o, i) => x.setSafe(i, r.getInt(o))
    case x: VarBinaryVector => (r, o, i) => x.setSafe(i, r.getBinary(o))
    case x: DecimalVector =>
      val d = dt.asInstanceOf[DecimalType]
      (r, o, i) => x.setSafe(i, r.getDecimal(o, d.precision, d.scale).toJavaBigDecimal.setScale(x.getScale))
    case x: VarCharVector => dt match {
      case _: StringType => (r, o, i) => setUtf8(x, i, r.getUTF8String(o))
      case NullType => (r, o, i) => x.setNull(i)
      case _ =>
        // nested fallback: JSON stringification, not Scala toString
        val toScala = CatalystTypeConverters.createToScalaConverter(dt)
        (r, o, i) => {
          val str = toScala(r.get(o, dt)) match {
            case v @ (_: scala.collection.Seq[_] | _: scala.collection.Map[_, _] | _: Row) =>
              RowEncoders.jsonFallback(v)
            case other => String.valueOf(other)
          }
          x.setSafe(i, str.getBytes(UTF_8))
        }
    }
  }

  private def setUtf8(x: VarCharVector, i: Int, s: UTF8String): Unit = s.getBaseObject match {
    case a: Array[Byte] => x.setSafe(i, a, (s.getBaseOffset - Platform.BYTE_ARRAY_OFFSET).toInt, s.numBytes)
    case _ => x.setSafe(i, s.getBytes)
  }

  /** Streams `rows` (Spark's internal rows of `schema`) in batches of at
    * most 1024 rows. */
  def writeInternal(schema: StructType, rows: Iterator[InternalRow], out: OutputStream): Unit = {
    val allocator = new RootAllocator(Long.MaxValue)
    try {
      val arrowSchema = new ArrowSchema(schema.fields.map(arrowField).toSeq.asJava)
      val root = VectorSchemaRoot.create(arrowSchema, allocator)
      try {
        val vecs = schema.fields.indices.map(root.getVector).toArray
        val setters = schema.fields.indices.map(c => setter(vecs(c), schema(c).dataType)).toArray
        val writer = new ArrowStreamWriter(root, null, out)
        writer.start()
        while (rows.hasNext) {
          root.allocateNew()
          var n = 0
          while (rows.hasNext && n < BatchRows) {
            val row = rows.next()
            var c = 0
            while (c < setters.length) {
              if (row.isNullAt(c)) vecs(c).setNull(n) else setters(c)(row, c, n)
              c += 1
            }
            n += 1
          }
          root.setRowCount(n)
          writer.writeBatch()
        }
        writer.end()
      } finally root.close()
    } finally allocator.close()
  }

  def write(schema: StructType, rows: Iterator[Row], out: OutputStream): Unit =
    writeInternal(schema, rows.map(RowEncoders.internalRow(schema)), out)
}
