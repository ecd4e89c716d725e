package graft.types

import org.apache.spark.sql.types._

/** Source-type (MySQL/DMS/Parquet type strings) → Spark type mapping.
  *
  * Re-expresses the behavior of the reference's type-mapping library
  * (reference: lambda/mysql_firebolt_type_mapping.py:22-343 — families,
  * precision preservation with the 38 cap, safe/manual/unknown triage,
  * MERGE compatibility groups) against Spark's native type system.
  * The Firebolt target types become Spark `DataType`s:
  * TEXT→StringType, INTEGER→IntegerType, BIGINT→LongType,
  * NUMERIC(p,s)→DecimalType(p,s), REAL→FloatType, DOUBLE→DoubleType,
  * DATE→DateType, TIMESTAMP→TimestampNTZType (wall clock),
  * TIMESTAMPTZ→TimestampType (instant).
  */
object TypeMapper {

  /** Result of converting one source type.
    * @param dataType  Spark target type; None ⇒ manual intervention required
    * @param isSafe    safe for automatic ADD COLUMN during schema evolution
    * @param message   human-readable rationale (mirrors the reference's triple)
    */
  final case class Conversion(dataType: Option[DataType], isSafe: Boolean, message: String)

  /** Types safe to auto-add during evolution (reference: mapping.py:165-172). */
  val SafeAutoAddTypes: Set[String] = Set(
    "TEXT", "VARCHAR", "STRING", "CHAR",
    "INTEGER", "INT", "BIGINT", "SMALLINT", "TINYINT",
    "BOOLEAN", "BOOL",
    "DATE", "TIMESTAMP", "TIMESTAMPTZ",
    "DOUBLE", "FLOAT", "REAL",
    "NUMERIC", "DECIMAL", "NUMBER", "DEC")

  /** Types requiring manual intervention (reference: mapping.py:175-180). */
  val ManualInterventionTypes: Set[String] = Set(
    "ARRAY", "STRUCT", "MAP", "ROW", "TUPLE",
    "GEOMETRY", "POINT", "LINESTRING", "POLYGON",
    "MULTIPOINT", "MULTILINESTRING", "MULTIPOLYGON",
    "GEOMETRYCOLLECTION", "GEOGRAPHY")

  private val TextTypes = Set(
    "CHAR", "VARCHAR", "TINYTEXT", "TEXT", "MEDIUMTEXT", "LONGTEXT",
    "ENUM", "SET", "JSON", "STRING", "NCHAR", "NVARCHAR", "CLOB", "NCLOB",
    "UUID", "INET", "CIDR", "MACADDR", "XML",
    // binary family is coerced to text by the reference (mapping.py:35-41)
    "BINARY", "VARBINARY", "TINYBLOB", "BLOB", "MEDIUMBLOB", "LONGBLOB",
    "BYTEA", "IMAGE",
    // no native time-of-day / interval type in the target (mapping.py:114-117)
    "TIME", "TIMETZ", "INTERVAL")

  private val IntTypes = Set(
    "TINYINT", "SMALLINT", "MEDIUMINT", "INT", "INTEGER", "YEAR",
    "INT8", "INT16", "INT32", "UINT8", "UINT16",
    "TINYINT UNSIGNED", "SMALLINT UNSIGNED", "MEDIUMINT UNSIGNED",
    "SERIAL", "SMALLSERIAL")

  private val BigintTypes = Set(
    "BIGINT", "INT64", "UINT32", "INT UNSIGNED", "INTEGER UNSIGNED",
    "BIGSERIAL")

  private val UnsignedBigTypes = Set("BIGINT UNSIGNED", "UINT64") // → DecimalType(20,0)

  private val DecimalTypes = Set("DECIMAL", "NUMERIC", "DEC", "FIXED", "NUMBER")

  private val FloatTypes  = Set("FLOAT", "FLOAT4", "FLOAT32", "REAL")
  private val DoubleTypes = Set("DOUBLE", "DOUBLE PRECISION", "FLOAT8", "FLOAT64")

  private val DateTypes       = Set("DATE", "DATE32", "DATE64")
  private val WallClockTypes  = Set("DATETIME", "TIMESTAMP_S", "TIMESTAMP_MS", "TIMESTAMP_US", "TIMESTAMP_NS")
  private val InstantTypes    = Set("TIMESTAMP", "TIMESTAMPTZ")
  private val BooleanTypes    = Set("BIT", "BOOL", "BOOLEAN")

  /** Normalize a raw type string to its base form, keeping a bare
    * ` UNSIGNED` suffix but (like the reference) dropping it when a
    * precision intervenes: `INT(10) UNSIGNED` → `INT`
    * (reference: mapping.py:183-205).
    */
  def normalizeType(raw: String): String = {
    if (raw == null || raw.trim.isEmpty) return "UNKNOWN"
    val t = raw.trim.toUpperCase
    t.split('(').head.trim
  }

  private val PrecisionRe = raw"\((\d+)(?:\s*,\s*(\d+))?\)".r

  /** Extract `(precision, scale?)` from e.g. `DECIMAL(10,2)` / `VARCHAR(255)`
    * (reference: mapping.py:208-225).
    */
  def extractPrecision(raw: String): Option[(Int, Option[Int])] =
    PrecisionRe.findFirstMatchIn(raw).map { m =>
      (m.group(1).toInt, Option(m.group(2)).map(_.toInt))
    }

  /** Convert a source type string to a Spark type, with safety triage
    * (reference: mapping.py:228-293). Decimal precision is preserved and
    * capped at Spark's maximum of 38; a decimal with precision but no scale
    * gets scale 0; a bare decimal gets the reference default (38,10).
    */
  def toSparkType(sourceType: String): Conversion = {
    if (sourceType == null || sourceType.trim.isEmpty)
      return Conversion(None, isSafe = false, "Empty source type")
    val base = normalizeType(sourceType)

    def decimalOf(default: (Int, Int)): DecimalType =
      extractPrecision(sourceType) match {
        case Some((p0, s0)) =>
          // cap precision at Spark's max (38) and scale at the precision —
          // DECIMAL(5,10) is representable in MySQL DDL text but not as a
          // Spark DecimalType
          val p = math.min(p0, 38)
          DecimalType(p, math.min(s0.getOrElse(0), p))
        case None => DecimalType(default._1, default._2)
      }

    if (DecimalTypes.contains(base))
      Conversion(Some(decimalOf((38, 10))), isSafe = true, s"Converted from $base with preserved precision")
    else if (base == "MONEY")
      Conversion(Some(decimalOf((19, 4))), isSafe = true, "Converted from MONEY")
    else if (base == "SMALLMONEY")
      Conversion(Some(decimalOf((10, 4))), isSafe = true, "Converted from SMALLMONEY")
    else if (UnsignedBigTypes.contains(base))
      Conversion(Some(DecimalType(20, 0)), isSafe = true, s"Converted from $base (unsigned 64-bit)")
    else if (BooleanTypes.contains(base))
      Conversion(Some(BooleanType), isSafe = true, s"Converted from $base")
    else if (IntTypes.contains(base))
      Conversion(Some(IntegerType), isSafe = true, s"Converted from $base")
    else if (BigintTypes.contains(base))
      Conversion(Some(LongType), isSafe = true, s"Converted from $base")
    else if (FloatTypes.contains(base))
      Conversion(Some(FloatType), isSafe = true, s"Converted from $base")
    else if (DoubleTypes.contains(base))
      Conversion(Some(DoubleType), isSafe = true, s"Converted from $base")
    else if (DateTypes.contains(base))
      Conversion(Some(DateType), isSafe = true, s"Converted from $base")
    else if (WallClockTypes.contains(base))
      Conversion(Some(TimestampNTZType), isSafe = true, s"Converted from $base (wall-clock)")
    else if (InstantTypes.contains(base))
      Conversion(Some(TimestampType), isSafe = true, s"Converted from $base (instant)")
    else if (TextTypes.contains(base))
      Conversion(Some(StringType), isSafe = true, s"Converted from $base")
    else if (ManualInterventionTypes.contains(base))
      Conversion(None, isSafe = false, s"Type $base requires manual conversion (complex/spatial type)")
    else
      Conversion(Some(StringType), isSafe = false,
        s"Unknown type $sourceType - using StringType fallback (may need review)")
  }

  /** Compatibility groups for MERGE between source/target type *strings*
    * (reference: mapping.py:296-324).
    */
  def isTypeCompatible(sourceType: String, targetType: String): Boolean = {
    val src = normalizeType(sourceType)
    val tgt = normalizeType(targetType)
    if (src == tgt) return true
    val groups: Seq[Set[String]] = Seq(
      Set("TEXT", "VARCHAR", "STRING", "CHAR", "NCHAR", "NVARCHAR"),
      Set("INTEGER", "INT", "SMALLINT", "TINYINT", "MEDIUMINT"),
      Set("BIGINT", "INT64"),
      Set("DOUBLE", "FLOAT", "REAL", "FLOAT64", "FLOAT32"),
      Set("BOOLEAN", "BOOL", "BIT"),
      Set("TIMESTAMP", "TIMESTAMPTZ", "DATETIME"),
      Set("NUMERIC", "DECIMAL", "DEC", "NUMBER"))
    groups.exists(g => g.contains(src) && g.contains(tgt))
  }

  /** Spark-native compatibility check mirroring the same groups on
    * `DataType`s (used when both sides are already Spark schemas).
    */
  def isSparkTypeCompatible(source: DataType, target: DataType): Boolean = {
    val intFamily: Set[DataType] = Set(ByteType, ShortType, IntegerType)
    val floatFamily: Set[DataType] = Set(FloatType, DoubleType)
    (source, target) match {
      case (a, b) if a == b                                     => true
      case (a, b) if intFamily(a) && intFamily(b)               => true
      case (LongType, LongType)                                 => true
      case (a, b) if floatFamily(a) && floatFamily(b)           => true
      case (_: DecimalType, _: DecimalType)                     => true
      case (a, b) if isTimestampLike(a) && isTimestampLike(b)   => true
      case _                                                    => false
    }
  }

  private def isTimestampLike(dt: DataType): Boolean =
    dt == TimestampType || dt == TimestampNTZType
}
