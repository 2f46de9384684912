package graft.engine

import org.apache.spark.sql.types._
import java.time.Instant
import java.time.format.DateTimeFormatter

/** The reference's closed nine-type system (reference schema.go:17-37)
  * mapped onto Spark SQL types, with the reference's insert-time value
  * coercion semantics (reference query.go:700-791): saturating integer
  * clamps, int→double widening, flexible timestamp inputs.
  *
  * Timestamps: the reference stores `(epochSeconds, nanos)` tuples
  * (nanosecond precision). Spark `TimestampType` is µs; we document the
  * truncation (SURVEY.md §1.2) and carry values as java.time.Instant
  * truncated to micros.
  */
sealed abstract class OtType(val name: String, val spark: DataType)

object OtType {
  case object TinyInt extends OtType("TinyInt", ByteType)
  case object SmallInt extends OtType("SmallInt", ShortType)
  case object Int extends OtType("Int", IntegerType)
  case object BigInt extends OtType("BigInt", LongType)
  case object Double extends OtType("Double", DoubleType)
  case object Float extends OtType("Float", FloatType)
  case object Timestamp extends OtType("Timestamp", TimestampType)
  case object Boolean extends OtType("Boolean", BooleanType)
  case object Text extends OtType("Text", StringType)

  val all: Seq[OtType] = Seq(TinyInt, SmallInt, Int, BigInt, Double, Float,
    Timestamp, Boolean, Text)

  /** DDL keyword → type (reference schema.go:420-442). */
  def parse(s: String): OtType = s.toUpperCase match {
    case "TINYINT" => TinyInt
    case "SMALLINT" => SmallInt
    case "INT" => Int
    case "BIGINT" => BigInt
    case "DOUBLE" => Double
    case "FLOAT" => Float
    case "TIMESTAMP" => Timestamp
    case "BOOLEAN" => Boolean
    case "TEXT" => Text
    case other => throw OtError(s"Unknown type $other")
  }

  def fromName(s: String): OtType = all.find(_.name == s).getOrElse(parse(s))
}

/** Engine-level error carrying the reference's exact message strings. */
final case class OtError(msg: String) extends RuntimeException(msg)

object Coerce {
  /** Go reflect-type name of an input value, for error-string parity
    * (reference query.go:789 prints `reflect.TypeOf(v)`).
    */
  def goTypeName(v: Any): String = v match {
    case null => "<nil>"
    case _: Byte => "int8"
    case _: Short => "int16"
    case _: scala.Int => "int"
    case _: Long => "int64"
    case _: scala.Float => "float32"
    case _: scala.Double => "float64"
    case _: scala.Boolean => "bool"
    case _: String => "string"
    case _: Instant => "time.Time"
    case _: java.sql.Timestamp => "time.Time"
    case _: Seq[_] => "[]interface {}"
    case other => other.getClass.getSimpleName
  }

  /** Go fmt.Sprint-alike for error-string parity. */
  def goPrint(v: Any): String = v match {
    case d: scala.Double =>
      if (d == d.toLong && math.abs(d) < 1e15) d.toLong.toString
      else d.toString
    case f: scala.Float => goPrint(f.toDouble)
    case other => String.valueOf(other)
  }

  private def asLong(v: Any): Option[Long] = v match {
    case i: scala.Int => Some(i.toLong)
    case l: Long => Some(l)
    case s: Short => Some(s.toLong)
    case b: Byte => Some(b.toLong)
    case _ => None
  }

  private def fail(col: ColDef, v: Any): Nothing =
    throw OtError("Invalid " + goTypeName(v) + " value (" + goPrint(v) +
      ") for \"" + col.name + "\" of " + col.tpe.name)

  /** Insert/args-time validation + coercion (reference query.go:700-791).
    * Returns the JVM value matching the column's Spark type.
    */
  def validateValue(col: ColDef, v: Any): Any = col.tpe match {
    case OtType.TinyInt | OtType.SmallInt | OtType.Int | OtType.BigInt =>
      val v1 = asLong(v).getOrElse(fail(col, v))
      col.tpe match {
        // saturating clamps, visible semantics we copy (query.go:710-728)
        case OtType.TinyInt =>
          math.max(math.min(v1, Byte.MaxValue.toLong), Byte.MinValue.toLong).toByte
        case OtType.SmallInt =>
          math.max(math.min(v1, Short.MaxValue.toLong), Short.MinValue.toLong).toShort
        case OtType.Int =>
          math.max(math.min(v1, Int.MaxValue.toLong), Int.MinValue.toLong).toInt
        case _ => v1
      }
    case OtType.Double | OtType.Float =>
      val v1: scala.Double = v match {
        case l: Long => l.toDouble
        case i: scala.Int => i.toDouble
        case d: scala.Double => d
        case _ => fail(col, v)
      }
      if (col.tpe == OtType.Float) v1.toFloat else v1
    case OtType.Boolean => v match {
      case b: scala.Boolean => b
      case _ => fail(col, v)
    }
    case OtType.Timestamp => v match {
      // full nanosecond fidelity (the reference's (sec, nsec) pairs,
      // query.go:754-779): values carry all nanos through resolution;
      // storage splits them into a µs TimestampType column plus a
      // sub-µs remainder column (Catalog), so ns-distinct keys stay
      // distinct rows and ns bounds compare exactly.
      case l: Long => Instant.ofEpochSecond(l)
      case i: scala.Int => Instant.ofEpochSecond(i.toLong)
      case s: Seq[_] if s.length == 2 =>
        (asLong(s(0)), asLong(s(1))) match {
          case (Some(sec), Some(nsec)) => Instant.ofEpochSecond(sec, nsec)
          case _ => fail(col, v)
        }
      case s: String =>
        try Instant.from(DateTimeFormatter.ISO_OFFSET_DATE_TIME.parse(s))
        catch { case _: Exception => fail(col, v) }
      case t: Instant => t
      case t: java.sql.Timestamp => validateValue(col, t.toInstant)
      case _ => fail(col, v)
    }
    case OtType.Text => v match {
      case s: String => s
      case _ => fail(col, v)
    }
  }
}

/** A column definition (reference schema.go:130-136). `pos` is the
  * position within the key tuple (if key) or the value tuple.
  */
final case class ColDef(name: String, tpe: OtType, isKey: Boolean = false,
    posCol: Int = 0, pos: Int = 0)

/** A table schema with PK metadata (reference schema.go:166-203).
  * `incarnation` names one CREATE TABLE: renames keep it, and a table
  * re-created under a dropped name gets a new one (0 for a table whose
  * `schema.json` predates incarnations).
  */
final case class TableDef(dbName: String, tblName: String, cols: Seq[ColDef],
    keyNames: Seq[String], incarnation: Long = 0L) {
  val nameMap: Map[String, ColDef] = cols.map(c => c.name -> c).toMap
  val keys: Seq[ColDef] = keyNames.map(nameMap)
  val values: Seq[ColDef] = cols.filterNot(c => keyNames.contains(c.name))

  def sparkSchema: StructType = StructType(cols.map(c =>
    StructField(c.name, c.tpe.spark, nullable = !c.isKey)))
}

object TableDef {
  /** Assign isKey / posCol / pos like reference schema.go:186-203. */
  def build(dbName: String, tblName: String, rawCols: Seq[(String, OtType)],
      keyNames: Seq[String]): TableDef = {
    val keySet = keyNames.zipWithIndex.toMap
    val valueNames = rawCols.map(_._1).filterNot(keySet.contains)
    val valuePos = valueNames.zipWithIndex.toMap
    val cols = rawCols.zipWithIndex.map { case ((n, t), i) =>
      keySet.get(n) match {
        case Some(kp) => ColDef(n, t, isKey = true, posCol = i, pos = kp)
        case None => ColDef(n, t, isKey = false, posCol = i, pos = valuePos(n))
      }
    }
    TableDef(dbName, tblName, cols, keyNames)
  }
}
