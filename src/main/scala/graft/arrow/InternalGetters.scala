package graft.arrow

import scala.jdk.CollectionConverters._

import org.apache.arrow.vector._
import org.apache.arrow.vector.complex.{ListVector, StructVector}
import org.apache.arrow.vector.dictionary.DictionaryEncoder
import org.apache.arrow.vector.ipc.ArrowReader
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Arrow vector → Spark *internal* value getters (UTF8String, epoch
  * micros, days, Decimal, GenericArrayData): the one Arrow → Spark value
  * mapping of the read side, over the lattice of [[ArrowSchemas]]
  * (unsigned widening, date64, ns timestamps, nested lists and structs).
  * [[InternalRows]] drives it for both readers: the DSv2 row reader
  * (schemas that need conversion; exact-mapped schemas take the
  * zero-copy columnar path, ArrowColumnVector) and [[ArrowBridge.read]],
  * which turns its rows into external `Row`s.
  */
object InternalGetters {

  def forField(vec: FieldVector, dt: DataType, orig: Option[String]): Int => Any = {
    def nn(f: Int => Any): Int => Any = i => if (vec.isNull(i)) null else f(i)
    (orig, dt) match {
      case (Some("uint8"), ShortType) =>
        val v = vec.asInstanceOf[UInt1Vector]; nn(i => ((v.get(i): Byte) & 0xff).toShort)
      case (Some("uint16"), IntegerType) =>
        val v = vec.asInstanceOf[UInt2Vector]; nn(i => v.get(i).toInt)
      case (Some("uint32"), LongType) =>
        val v = vec.asInstanceOf[UInt4Vector]; nn(i => java.lang.Integer.toUnsignedLong(v.get(i)))
      case (Some("uint64"), t: DecimalType) =>
        val v = vec.asInstanceOf[UInt8Vector]
        nn(i => Decimal(new java.math.BigDecimal(java.lang.Long.toUnsignedString(v.get(i))),
          t.precision, t.scale))
      case (Some("date64"), DateType) =>
        val v = vec.asInstanceOf[DateMilliVector]
        nn(i => Math.floorDiv(v.get(i), 86400000L).toInt)
      case (Some("timestamp_ns"), TimestampType) =>
        val v = vec.asInstanceOf[TimeStampNanoTZVector]
        nn(i => Math.floorDiv(v.get(i), 1000L))
      case (_, ByteType)    => val v = vec.asInstanceOf[TinyIntVector]; nn(v.get)
      case (_, ShortType)   => val v = vec.asInstanceOf[SmallIntVector]; nn(v.get)
      case (_, IntegerType) => val v = vec.asInstanceOf[IntVector]; nn(v.get)
      case (_, LongType)    => val v = vec.asInstanceOf[BigIntVector]; nn(v.get)
      case (_, FloatType)   => val v = vec.asInstanceOf[Float4Vector]; nn(v.get)
      case (_, DoubleType)  => val v = vec.asInstanceOf[Float8Vector]; nn(v.get)
      case (_, StringType)  =>
        val v = vec.asInstanceOf[VarCharVector]; nn(i => UTF8String.fromBytes(v.get(i)))
      case (_, BinaryType)  => val v = vec.asInstanceOf[VarBinaryVector]; nn(v.get)
      case (_, BooleanType) => val v = vec.asInstanceOf[BitVector]; nn(i => v.get(i) == 1)
      case (_, DateType)    => val v = vec.asInstanceOf[DateDayVector]; nn(v.get)
      case (_, TimestampType) => val v = vec.asInstanceOf[TimeStampMicroTZVector]; nn(v.get)
      case (_, TimestampNTZType) => val v = vec.asInstanceOf[TimeStampMicroVector]; nn(v.get)
      case (_, t: DecimalType) =>
        val v = vec.asInstanceOf[DecimalVector]
        nn(i => Decimal(v.getObject(i), t.precision, t.scale))
      case (_, NullType) => _ => null
      case (_, ArrayType(et, _)) =>
        val v = vec.asInstanceOf[ListVector]
        val child = forField(v.getDataVector.asInstanceOf[FieldVector], et, None)
        nn { i =>
          val start = v.getElementStartIndex(i)
          val end = v.getElementEndIndex(i)
          val arr = new Array[Any](end - start)
          var k = start
          while (k < end) { arr(k - start) = child(k); k += 1 }
          new GenericArrayData(arr)
        }
      case (_, st: StructType) =>
        val v = vec.asInstanceOf[StructVector]
        val children = st.fields.zipWithIndex.map { case (cf, ci) =>
          forField(v.getChildrenFromFields.get(ci), cf.dataType, ArrowSchemas.origTag(cf))
        }
        nn { i =>
          val arr = new Array[Any](children.length)
          var k = 0
          while (k < children.length) { arr(k) = children(k)(i); k += 1 }
          new GenericInternalRow(arr)
        }
      case (_, other) => throw new UnsupportedOperationException(s"internal read: $other")
    }
  }
}

/** The rows of an [[ArrowReader]]'s batches as InternalRows of
  * `required` (stream fields matched by name), a batch at a time: each
  * batch resolves one [[InternalGetters.forField]] getter per column,
  * and a dictionary-encoded column is decoded to its value vector, which
  * lives until the next batch or `close`. The reader stays the caller's
  * to close. */
final class InternalRows(reader: ArrowReader, required: StructType)
    extends Iterator[InternalRow] with AutoCloseable {
  private val root = reader.getVectorSchemaRoot
  private val columns: Array[Int] = {
    val names = root.getSchema.getFields.asScala.map(_.getName).toIndexedSeq
    // positional when the names line up (a full-schema read may repeat a name)
    required.fieldNames.zipWithIndex.map { case (n, j) =>
      val k = if (j < names.length && names(j) == n) j else names.indexOf(n)
      require(k >= 0, s"no column $n in the Arrow stream")
      k
    }
  }
  private val tags = required.fields.map(ArrowSchemas.origTag)
  private var getters: Array[Int => Any] = Array.empty
  private var decoded: List[ValueVector] = Nil
  private var rowCount = 0
  private var pos = 0
  private var done = false

  private def loadBatch(): Boolean = {
    close()
    if (!reader.loadNextBatch()) return false
    rowCount = root.getRowCount
    pos = 0
    getters = Array.tabulate(columns.length) { j =>
      val fv = root.getVector(columns(j))
      val enc = fv.getField.getDictionary
      val vec =
        if (enc == null) fv
        else {
          val dv = DictionaryEncoder.decode(fv, reader.getDictionaryVectors.get(enc.getId))
          decoded ::= dv
          dv.asInstanceOf[FieldVector]
        }
      InternalGetters.forField(vec, required(j).dataType, tags(j))
    }
    true
  }

  override def hasNext: Boolean = {
    while (!done && pos >= rowCount) done = !loadBatch()
    !done
  }

  override def next(): InternalRow = {
    if (!hasNext) throw new NoSuchElementException
    val arr = new Array[Any](getters.length)
    var j = 0
    while (j < getters.length) { arr(j) = getters(j)(pos); j += 1 }
    pos += 1
    new GenericInternalRow(arr)
  }

  override def close(): Unit = { decoded.foreach(_.close()); decoded = Nil }
}
