package graft.sources

import graft.SparkSpec
import org.apache.spark.sql.types._
import java.nio.file.{Files, Paths}

class CsvBatchLoaderSpec extends SparkSpec {

  test("batched CSV load: size-balanced batches, all rows read exactly once") {
    val dir = tempDir("graft_csv").toString
    val schema = StructType(Seq(StructField("id", IntegerType), StructField("name", StringType)))
    (1 to 5).foreach { i =>
      val rows = (1 to i * 10).map(r => s"${i * 1000 + r},row_$r").mkString("\n")
      Files.writeString(Paths.get(s"$dir/part_$i.csv"), s"id,name\n$rows\n")
    }
    val files = FileListing.list(spark, s"$dir/*.csv")
    assert(files.length == 5)

    val batches = CsvBatchLoader.planBatches(files, 2)
    assert(batches.length == 2)
    assert(batches.flatten.sorted == files.map(_.file_name).sorted)
    // size-balanced: neither batch holds everything
    assert(batches.forall(_.nonEmpty) && batches.forall(_.size < 5))

    val loaded = CsvBatchLoader.loadAll(spark, dir, files, schema, 2)
    val total = loaded.map(_._3.count()).sum
    assert(total == (1 to 5).map(_ * 10).sum)
    // schema projection applied
    assert(loaded.head._3.schema.fieldNames.toSeq == Seq("id", "name"))
  }

  test("postgres default translation: literals, now-family, sequences") {
    import graft.core.PostgresDialect.translateDefault
    assert(translateDefault("nextval('orders_id_seq'::regclass)") == None)
    assert(translateDefault("now()") == Some("CURRENT_TIMESTAMP"))
    assert(translateDefault("CURRENT_TIMESTAMP") == Some("CURRENT_TIMESTAMP"))
    assert(translateDefault("'pending'::character varying") == Some("'pending'"))
    assert(translateDefault("0.0") == Some("0.0"))
    assert(translateDefault("true") == Some("true"))
  }
}
