package graft.arrow

import scala.jdk.CollectionConverters._

import org.apache.arrow.vector.types.{DateUnit, FloatingPointPrecision, TimeUnit}
import org.apache.arrow.vector.types.pojo.{ArrowType, Field, FieldType, Schema => ArrowSchema}
import org.apache.spark.sql.types._

/** Spark StructType ⇄ Arrow Schema mapping over the reference's full type
  * lattice (SURVEY §1.3: data/rand-many-types/generate.py:138-160 defines
  * 21 types; dictionary ticker col get_compressed/python/server/server.py:50-52).
  *
  * Widening rules (Arrow → Spark), with the original Arrow type recorded
  * in field metadata (`graft.arrow.type`) so a write can restore it:
  *   uint8→short, uint16→int, uint32→long, uint64→decimal(20,0),
  *   date64→date, timestamp[ns]→timestamp(µs, truncated),
  *   dictionary<int,utf8>→string (re-encoded on write when asked).
  */
object ArrowSchemas {

  val OrigTypeKey = "graft.arrow.type"

  /** The original Arrow type a field's metadata records, if any. */
  def origTag(f: StructField): Option[String] =
    if (f.metadata.contains(OrigTypeKey)) Some(f.metadata.getString(OrigTypeKey)) else None

  // ---------- Spark -> Arrow ----------

  def toArrowField(f: StructField): Field =
    toArrowField(f.name, f.dataType, f.nullable, origTag(f))

  def toArrowField(name: String, dt: DataType, nullable: Boolean, orig: Option[String]): Field = {
    def prim(at: ArrowType): Field =
      new Field(name, new FieldType(nullable, at, null, null), List.empty[Field].asJava)
    (orig, dt) match {
      // restore original unsigned / date64 / ns types on export
      case (Some("uint8"), ShortType)          => prim(new ArrowType.Int(8, false))
      case (Some("uint16"), IntegerType)       => prim(new ArrowType.Int(16, false))
      case (Some("uint32"), LongType)          => prim(new ArrowType.Int(32, false))
      case (Some("uint64"), _: DecimalType)    => prim(new ArrowType.Int(64, false))
      case (Some("date64"), DateType)          => prim(new ArrowType.Date(DateUnit.MILLISECOND))
      case (Some("timestamp_ns"), TimestampType) => prim(new ArrowType.Timestamp(TimeUnit.NANOSECOND, "UTC"))
      case (_, ByteType)      => prim(new ArrowType.Int(8, true))
      case (_, ShortType)     => prim(new ArrowType.Int(16, true))
      case (_, IntegerType)   => prim(new ArrowType.Int(32, true))
      case (_, LongType)      => prim(new ArrowType.Int(64, true))
      case (_, FloatType)     => prim(new ArrowType.FloatingPoint(FloatingPointPrecision.SINGLE))
      case (_, DoubleType)    => prim(new ArrowType.FloatingPoint(FloatingPointPrecision.DOUBLE))
      case (_, StringType)    => prim(ArrowType.Utf8.INSTANCE)
      case (_, BinaryType)    => prim(ArrowType.Binary.INSTANCE)
      case (_, BooleanType)   => prim(ArrowType.Bool.INSTANCE)
      case (_, DateType)      => prim(new ArrowType.Date(DateUnit.DAY))
      case (_, TimestampType) => prim(new ArrowType.Timestamp(TimeUnit.MICROSECOND, "UTC"))
      case (_, TimestampNTZType) => prim(new ArrowType.Timestamp(TimeUnit.MICROSECOND, null))
      case (_, d: DecimalType)   => prim(new ArrowType.Decimal(d.precision, d.scale, 128))
      case (_, NullType)      => prim(ArrowType.Null.INSTANCE)
      case (_, ArrayType(et, containsNull)) =>
        val child = toArrowField("element", et, containsNull, None)
        new Field(name, new FieldType(nullable, ArrowType.List.INSTANCE, null, null),
          List(child).asJava)
      case (_, StructType(fields)) =>
        val children = fields.map(toArrowField).toList
        new Field(name, new FieldType(nullable, ArrowType.Struct.INSTANCE, null, null),
          children.asJava)
      case (_, other) =>
        throw new UnsupportedOperationException(s"No Arrow mapping for Spark type $other")
    }
  }

  // ---------- Arrow -> Spark ----------

  /** Spark type + original-type tag for metadata. */
  def fromArrowType(at: ArrowType): (DataType, Option[String]) = at match {
    case i: ArrowType.Int if i.getIsSigned => (i.getBitWidth match {
      case 8 => ByteType; case 16 => ShortType; case 32 => IntegerType; case 64 => LongType
    }, None)
    case i: ArrowType.Int => i.getBitWidth match {
      case 8  => (ShortType, Some("uint8"))
      case 16 => (IntegerType, Some("uint16"))
      case 32 => (LongType, Some("uint32"))
      case 64 => (DecimalType(20, 0), Some("uint64"))
    }
    case f: ArrowType.FloatingPoint => f.getPrecision match {
      case FloatingPointPrecision.SINGLE => (FloatType, None)
      case FloatingPointPrecision.DOUBLE => (DoubleType, None)
      case FloatingPointPrecision.HALF =>
        throw new UnsupportedOperationException("float16 unsupported")
    }
    case _: ArrowType.Utf8   => (StringType, None)
    case _: ArrowType.Binary => (BinaryType, None)
    case _: ArrowType.Bool   => (BooleanType, None)
    case d: ArrowType.Date => d.getUnit match {
      case DateUnit.DAY         => (DateType, None)
      case DateUnit.MILLISECOND => (DateType, Some("date64"))
    }
    case t: ArrowType.Timestamp =>
      val tag = t.getUnit match {
        case TimeUnit.NANOSECOND => Some("timestamp_ns")
        case _ => None
      }
      (if (t.getTimezone == null) TimestampNTZType else TimestampType, tag)
    case d: ArrowType.Decimal => (DecimalType(d.getPrecision, d.getScale), None)
    case _: ArrowType.Null    => (NullType, None)
    case _: ArrowType.List    => throw new IllegalStateException("list handled in fromArrowField")
    case _: ArrowType.Struct  => throw new IllegalStateException("struct handled in fromArrowField")
    case other => throw new UnsupportedOperationException(s"No Spark mapping for Arrow type $other")
  }

  def fromArrowField(f: Field): StructField = {
    // dictionary-encoded columns surface as their decoded value type
    val logicalType =
      if (f.getDictionary != null) ArrowType.Utf8.INSTANCE.asInstanceOf[ArrowType]
      else f.getType
    val (dt, orig) = logicalType match {
      case _: ArrowType.List =>
        val child = fromArrowField(f.getChildren.get(0))
        (ArrayType(child.dataType, child.nullable), None)
      case _: ArrowType.Struct =>
        (StructType(f.getChildren.asScala.map(fromArrowField).toArray), None)
      case at => fromArrowType(at)
    }
    val tag = if (f.getDictionary != null) Some("dictionary") else orig
    val md = tag.fold(Metadata.empty)(t =>
      new MetadataBuilder().putString(OrigTypeKey, t).build())
    StructField(f.getName, dt, f.isNullable, md)
  }

  def fromArrowSchema(s: ArrowSchema): StructType =
    StructType(s.getFields.asScala.map(fromArrowField).toArray)
}
