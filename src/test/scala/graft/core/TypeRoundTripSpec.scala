package graft.core

import graft.SparkSpec
import org.apache.spark.sql.Row
import org.apache.spark.sql.types._
import graft.core.options.MigrationOptions
import java.nio.file.Files

/** The analog of the reference's live CREATE-probed type matrices
  * (SURVEY.md §5.1): every Spark type the dialects can produce is
  * materialized in a DataFrame, round-tripped through parquet, and
  * must survive schema- and value-identical.
  */
class TypeRoundTripSpec extends SparkSpec {

  private val opts = MigrationOptions()

  private def sampleFor(dt: DataType): Any = dt match {
    case ByteType => 42.toByte
    case ShortType => 4242.toShort
    case IntegerType => 424242
    case LongType => 42424242424242L
    case FloatType => 3.14f
    case DoubleType => 2.718281828
    case d: DecimalType =>
      new java.math.BigDecimal("12345.6789").setScale(d.scale, java.math.RoundingMode.HALF_UP)
    case BooleanType => true
    case StringType => "héllo 'world'"
    case BinaryType => Array[Byte](1, 2, 3, 0, -1)
    case DateType => java.sql.Date.valueOf("2024-02-29")
    case TimestampType => java.sql.Timestamp.valueOf("2024-02-29 23:59:59.123456")
    case TimestampNTZType => java.time.LocalDateTime.parse("2024-02-29T23:59:59.123456")
    case _: DayTimeIntervalType => java.time.Duration.ofSeconds(86400 + 3661, 123456000)
    case _: YearMonthIntervalType => java.time.Period.ofMonths(14)
    case _ => null
  }

  test("every dialect-producible Spark type survives a parquet round trip") {
    val dialects: Seq[SourceDialect] = Seq(
      PostgresDialect, MySqlDialect, GenericJdbcDialect, ClickHouseDialect, OracleDialect,
      Db2Dialect, SapHanaDialect, ExasolDialect, SnowflakeDialect, RedshiftDialect,
      BigQueryDialect, VerticaDialect, VectorwiseDialect
    )
    // representative source-type probes per dialect family
    val probes = Map[String, Seq[ColumnMeta]](
      "postgresql" -> Seq(
        ColumnMeta("s", "t", 1, "a", "bigint"),
        ColumnMeta("s", "t", 2, "b", "numeric", precision = Some(12), scale = Some(3)),
        ColumnMeta("s", "t", 3, "c", "timestamp with time zone"),
        ColumnMeta("s", "t", 4, "d", "bytea"),
        ColumnMeta("s", "t", 5, "e", "interval")
      ),
      "clickhouse" -> Seq(
        ColumnMeta("s", "t", 1, "a", "UInt64"),
        ColumnMeta("s", "t", 2, "b", "Nullable(Float64)"),
        ColumnMeta("s", "t", 3, "c", "DateTime64(6)")
      ),
      "oracle" -> Seq(
        ColumnMeta("s", "t", 1, "a", "NUMBER", precision = Some(20), scale = Some(4)),
        ColumnMeta("s", "t", 2, "b", "DATE"),
        ColumnMeta("s", "t", 3, "c", "TIMESTAMP(6) WITH TIME ZONE")
      )
    )
    val defaultProbe = Seq(
      ColumnMeta("s", "t", 1, "a", "bigint"),
      ColumnMeta("s", "t", 2, "b", "varchar", charLength = Some(40)),
      ColumnMeta("s", "t", 3, "c", "date")
    )

    dialects.foreach { dialect =>
      val cols = probes.getOrElse(dialect.name, defaultProbe)
      val types = cols.map(c => dialect.toSparkType(c, opts)).filterNot(_ == NullType)
      val schema = StructType(types.zipWithIndex.map { case (t, i) => StructField(s"c$i", t, nullable = true) })
      val row = Row.fromSeq(types.map(sampleFor))
      val df = spark.createDataFrame(java.util.List.of(row, Row.fromSeq(types.map(_ => null))), schema)
      val dir = tempDir(s"rt_${dialect.name}").toString
      df.write.mode("overwrite").parquet(dir)
      val back = spark.read.parquet(dir)
      assert(back.schema.map(_.dataType) == schema.map(_.dataType), s"${dialect.name}: schema drift")
      val a = df.collect().map(_.toSeq.map {
        case b: Array[Byte] => b.toSeq
        case x => x
      }).toSet
      val b = back.collect().map(_.toSeq.map {
        case b: Array[Byte] => b.toSeq
        case x => x
      }).toSet
      assert(a == b, s"${dialect.name}: value drift")
    }
  }

  test("targetTypeString renders every produced type") {
    val all = Seq(
      PostgresDialect -> ColumnMeta("s", "t", 1, "a", "numeric", precision = Some(10), scale = Some(2)),
      ClickHouseDialect -> ColumnMeta("s", "t", 1, "a", "UInt64"),
      OracleDialect -> ColumnMeta("s", "t", 1, "a", "NUMBER", precision = Some(9), scale = Some(0)),
      ExasolDialect -> ColumnMeta("s", "t", 1, "a", "DECIMAL(18,0)")
    )
    all.foreach { case (d, c) =>
      val t = d.targetTypeString(c, opts)
      assert(t.nonEmpty && t.head.isLetter, s"${d.name}: '$t'")
    }
  }
}
