package graft.sync

import graft.SparkSpec
import graft.sources.{CsvBatchLoader, FileListing}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import java.nio.file.{Files, Paths}

/** End-to-end incremental ingestion with per-file error quarantine:
  * list → reconcile state → load batches (one file corrupt) → record
  * per-batch outcomes → re-list and reconcile again: the failed file
  * is retried, the done files are not (the s3_to_exasol.sql:205-317
  * loop re-expressed over FileListing + CsvBatchLoader +
  * FileStateSync).
  */
class QuarantineIntegrationSpec extends SparkSpec {
  import spark.implicits._

  test("corrupt file quarantines; retry after fix; done files untouched") {
    val dir = tempDir("graft_quar").toString
    val schema = StructType(Seq(StructField("id", IntegerType), StructField("val", StringType)))
    Files.writeString(Paths.get(s"$dir/good1.csv"), "id,val\n1,a\n2,b\n")
    Files.writeString(Paths.get(s"$dir/good2.csv"), "id,val\n3,c\n")
    Files.writeString(Paths.get(s"$dir/bad.csv"), "id,val\nnot_an_int,x\n")

    // cycle 1: everything is new
    val listing = FileListing.listDf(spark, s"$dir/*.csv").select(col("file_name"), col("last_modified"))
    val empty = Seq.empty[(String, Long, String)].toDF("file_name", "last_modified", "status")
    val state1 = FileStateSync.reconcile(listing, empty)
    assert(state1.filter(col("status") === FileStateSync.StatusNew).count() == 3)

    // load each waiting file as its own batch; FAILFAST surfaces the corrupt one
    val outcomes = state1
      .filter(col("status") =!= FileStateSync.StatusDone)
      .collect()
      .map(_.getString(0))
      .sorted
      .map { f =>
        val status =
          try {
            // collect(), not count(): count() prunes every column so the
            // CSV parser never runs and FAILFAST can't fire
            spark.read.schema(schema).option("header", "true").option("mode", "FAILFAST")
              .csv(s"$dir/$f").collect()
            FileStateSync.StatusDone
          } catch { case e: Exception => s"Error: ${Option(e.getMessage).getOrElse("load failed").take(40)}" }
        (f, status)
      }
    assert(outcomes.count(_._2 == FileStateSync.StatusDone) == 2)
    assert(outcomes.exists { case (f, s) => f == "bad.csv" && s.startsWith("Error") })

    // cycle 2: reconcile with recorded state → only bad.csv is retried
    val lm = FileListing.list(spark, s"$dir/*.csv").map(f => f.file_name -> f.last_modified).toMap
    val state2in = outcomes.toSeq.map { case (f, s) => (f, lm(f), s) }.toDF("file_name", "last_modified", "status")
    val listing2 = FileListing.listDf(spark, s"$dir/*.csv").select(col("file_name"), col("last_modified"))
    val state2 = FileStateSync.reconcile(listing2, state2in).collect().map(r => r.getString(0) -> r.getString(2)).toMap
    assert(state2("bad.csv") == FileStateSync.StatusUpdate) // quarantine retry
    assert(state2("good1.csv") == FileStateSync.StatusDone)
    assert(state2("good2.csv") == FileStateSync.StatusDone)

    // fix the file and verify the batched loader reads the retry set clean
    Files.writeString(Paths.get(s"$dir/bad.csv"), "id,val\n9,z\n")
    val retryFiles = FileListing.list(spark, s"$dir/*.csv").filter(f => state2(f.file_name) != FileStateSync.StatusDone)
    val loaded = CsvBatchLoader.loadAll(spark, dir, retryFiles, schema, 2)
    assert(loaded.map(_._3.count()).sum == 1)

    // cycle 3: force_reload — state truncated, target truncated, ALL
    // files reload from scratch (the reference's TRUNCATE + full merge)
    val listing3 = FileListing.listDf(spark, s"$dir/*.csv").select(col("file_name"), col("last_modified"))
    val state3in = state2.toSeq.map { case (f, s) => (f, lm(f), s) }.toDF("file_name", "last_modified", "status")
    val state3 = FileStateSync.reconcile(listing3, state3in, forceReload = true)
    val waiting3 = state3.filter(col("status") === FileStateSync.StatusNew).collect().map(_.getString(0)).sorted
    assert(waiting3.toSeq == Seq("bad.csv", "good1.csv", "good2.csv")) // done files reload too
    // target truncation + full batch reload: 2 + 1 + 1 rows
    val allFiles = FileListing.list(spark, s"$dir/*.csv")
    val reloaded = CsvBatchLoader.loadAll(spark, dir, allFiles, schema, 2)
    assert(reloaded.map(_._3.count()).sum == 4)
  }
}
