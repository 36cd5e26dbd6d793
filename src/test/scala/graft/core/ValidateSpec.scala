package graft.core

import graft.SparkSpec
import graft.ops.CheckMigration
import java.sql.{Date, Timestamp}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalacheck.{Gen, Prop, Test}
import org.scalacheck.Prop.propBoolean
import org.scalacheck.rng.Seed
import scala.jdk.CollectionConverters._

/** [[ActionRunner.validate]]: every column type is checked, any column
  * name works, and the one-row driver-side compare counts exactly the
  * `DEVIATION` rows of [[CheckMigration.deviationReport]].
  */
class ValidateSpec extends SparkSpec {

  private def frame(schema: StructType, rows: Seq[Row]): DataFrame =
    spark.createDataFrame(rows.asJava, schema)

  private def reportDeviations(src: DataFrame, tgt: DataFrame): Long = {
    val spec = CheckMigration.metricSpec(src.schema)
    val a = CheckMigration.wideMetricsAgg(src, spec)
    val b = CheckMigration.wideMetricsAgg(tgt, spec)
    CheckMigration.deviationReport(a, b, a.columns.toSeq).filter(col("status") === "DEVIATION").count()
  }

  test("date, float, byte, boolean and other column kinds are each validated") {
    val schema = StructType(
      Seq(
        StructField("id", LongType),
        StructField("d", DateType),
        StructField("f", FloatType),
        StructField("b", ByteType),
        StructField("flag", BooleanType),
        StructField("blob", BinaryType)
      )
    )
    val df = frame(
      schema,
      (1 to 5).map { i =>
        Row(i.toLong, Date.valueOf(s"2024-01-0$i"), i * 1.25f, i.toByte, i % 2 == 1, Array[Byte](i.toByte))
      }
    )
    assert(ActionRunner.validate(df, df) == 0)
    val corruptions = Seq(
      "d" -> date_add(col("d"), 1),
      "f" -> (col("f") * 2).cast(FloatType),
      "b" -> (col("b") + 1).cast(ByteType),
      "flag" -> not(col("flag")),
      "blob" -> lit(null).cast(BinaryType)
    )
    corruptions.foreach { case (c, v) =>
      val corrupted = df.withColumn(c, v)
      assert(ActionRunner.validate(df, corrupted) > 0, s"overwritten $c validated clean")
    }
    val metrics = CheckMigration.wideMetricsAgg(df, CheckMigration.metricSpec(schema)).columns.toSet
    assert(Set("d_min", "d_max", "f_sum", "b_sum", "flag_nulls", "flag_true", "blob_nulls").subsetOf(metrics), metrics)
  }

  test("column names with dots, spaces, reserved words and quotes validate") {
    val schema = StructType(
      Seq(
        StructField("x.y", LongType),
        StructField("a b", StringType),
        StructField("order", DoubleType),
        StructField("it's", IntegerType)
      )
    )
    val df = frame(schema, (1 to 4).map(i => Row(i.toLong, s"v$i", i * 0.5, i)))
    assert(ActionRunner.validate(df, df) == 0)
    schema.fieldNames.foreach { c =>
      val ref = col(s"`$c`")
      val bumped = if (c == "a b") concat(ref, lit("!")) else ref + 1
      val corrupted = df.withColumn(c, bumped.cast(schema(c).dataType))
      val dev = ActionRunner.validate(df, corrupted)
      assert(dev > 0, s"corrupted `$c` validated clean")
      assert(dev == reportDeviations(df, corrupted), c)
    }
    // the report's labels are the metric names, unmangled
    val a = CheckMigration.wideMetricsAgg(df, CheckMigration.metricSpec(schema))
    val labels = CheckMigration.deviationReport(a, a, a.columns.toSeq).collect().map(_.getAs[String]("metric")).toSet
    assert(labels == a.columns.toSet)
  }

  private val schema = StructType(
    Seq(
      StructField("n", LongType),
      StructField("x", DoubleType),
      StructField("s", StringType),
      StructField("ts", TimestampType),
      StructField("d", DateType)
    )
  )

  private def value(c: Int): Gen[Any] = c match {
    case 0 => Gen.choose(-5L, 5L)
    case 1 => Gen.choose(-100, 100).map(_ / 4.0)
    case 2 => Gen.choose(0, 3).flatMap(n => Gen.listOfN(n, Gen.oneOf('a', 'b', 'c'))).map(_.mkString)
    case 3 => Gen.choose(0L, 5L).map(h => new Timestamp(1700000000000L + h * 3600000L))
    case _ => Gen.choose(0L, 5L).map(k => Date.valueOf(java.time.LocalDate.ofEpochDay(19700 + k)))
  }

  // sparse and null-heavy frames: an all-null column is where a
  // metric is null on one side only
  private def row(nullWeight: Int): Gen[Seq[Any]] =
    Gen.sequence[Seq[Any], Any]((0 until schema.size).map(c => Gen.frequency(4 -> value(c), nullWeight -> Gen.const(null))))

  /** One edit: drop a row, set a cell to a fresh value, null a cell or
    * null a whole column.
    */
  private def mutate(rows: Seq[Seq[Any]]): Gen[Seq[Seq[Any]]] =
    for {
      r <- Gen.choose(0, rows.size - 1)
      c <- Gen.choose(0, schema.size - 1)
      fresh <- value(c)
      edit <- Gen.oneOf(
        rows.patch(r, Nil, 1),
        rows.updated(r, rows(r).updated(c, fresh)),
        rows.updated(r, rows(r).updated(c, null)),
        rows.map(_.updated(c, null))
      )
    } yield edit

  // either side may be the edited one, so a metric can be null on the
  // source side only as well as on the target side only
  private val trial: Gen[(Seq[Seq[Any]], Seq[Seq[Any]])] = for {
    n <- Gen.choose(1, 5)
    nullWeight <- Gen.oneOf(1, 8)
    rows <- Gen.listOfN(n, row(nullWeight))
    edited <- Gen.frequency(1 -> Gen.const(rows), 4 -> mutate(rows))
    pair <- Gen.oneOf((rows, edited), (edited, rows))
  } yield pair

  test("property: validate counts the DEVIATION rows of the deviation report") {
    def toDf(rows: Seq[Seq[Any]]) = frame(schema, rows.map(Row.fromSeq))
    val params = Test.Parameters.default
      .withMinSuccessfulTests(30)
      .withWorkers(1)
      .withInitialSeed(Seed(20261017L))
    val prop = Prop.forAllNoShrink(trial) { case (s, t) =>
      val (src, tgt) = (toDf(s), toDf(t))
      val got = ActionRunner.validate(src, tgt)
      val want = reportDeviations(src, tgt)
      (got == want) :| s"validate=$got report=$want src=$s tgt=$t"
    }
    val res = Test.check(params, prop)
    assert(res.passed, org.scalacheck.util.Pretty.pretty(res, org.scalacheck.util.Pretty.Params(2)))
  }
}
