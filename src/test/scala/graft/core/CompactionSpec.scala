package graft.core

import graft.SparkSpec
import org.apache.hadoop.fs.Path

/** Compaction swap crash-safety: the staged generation is committed
  * with a marker before the live dir is touched, so [[Compaction
  * .recover]] can always decide roll-forward vs roll-back from the
  * dirs alone.
  */
class CompactionSpec extends SparkSpec {
  import spark.implicits._

  private def fs =
    new Path("/tmp").getFileSystem(spark.sessionState.newHadoopConf())

  test("compact round-trips rows and bounds the file count") {
    val base = tempDir("graft_compact").toString
    val path = base + "/rel"
    // many appends -> many files
    (0 until 6).foreach { i =>
      Seq((i.toLong, s"v$i")).toDF("id", "v").write.mode("append").parquet(path)
    }
    val before = spark.read.parquet(path).collect().toSet
    Compaction.compact(spark, path, None, 2)
    val after = spark.read.parquet(path).collect().toSet
    assert(after == before)
    val files = new java.io.File(path).listFiles().count(_.getName.endsWith(".parquet"))
    assert(files <= 2, s"$files files after compaction")
    assert(!fs.exists(new Path(path + "__compacting")))
    assert(!fs.exists(new Path(path, "_graft_commit")))
  }

  test("a committed staged generation rolls FORWARD after a crash mid-swap") {
    val base = tempDir("graft_compact_fwd").toString
    val path = base + "/rel"
    Seq((1L, "old")).toDF("id", "v").write.parquet(path)
    // crash state: staged write complete + marker dropped, live dir
    // already deleted, rename never happened
    val staged = path + "__compacting"
    Seq((1L, "new"), (2L, "new2")).toDF("id", "v").write.parquet(staged)
    fs.create(new Path(staged, "_graft_commit"), true).close()
    fs.delete(new Path(path), true)
    Compaction.recover(spark, path)
    val rows = spark.read.parquet(path).collect().map(_.getString(1)).toSet
    assert(rows == Set("new", "new2"))
    assert(!fs.exists(new Path(staged)))
    assert(!fs.exists(new Path(path, "_graft_commit")))
  }

  test("an UNcommitted staged dir is garbage — the live generation survives") {
    val base = tempDir("graft_compact_back").toString
    val path = base + "/rel"
    Seq((1L, "live")).toDF("id", "v").write.parquet(path)
    val staged = path + "__compacting"
    Seq((9L, "half-written")).toDF("id", "v").write.parquet(staged)
    // no marker: the staged write is not committed
    Compaction.recover(spark, path)
    assert(spark.read.parquet(path).collect().map(_.getString(1)).toSet == Set("live"))
    assert(!fs.exists(new Path(staged)))
    // and compact() itself recovers before rewriting
    Seq((9L, "half-written")).toDF("id", "v").write.parquet(staged)
    Compaction.compact(spark, path, None, 1)
    assert(spark.read.parquet(path).collect().map(_.getString(1)).toSet == Set("live"))
  }
}
