package graft.tools

import org.apache.spark.sql.DataFrame

/** Local micro-bench for A/B-ing operator formulations at a chosen SF
  * (not part of the driver contract; the per-round bench is
  * graft.Bench). Each variant runs `reps` times after a warm-up, and
  * the MEDIAN is printed — the first run of anything in a fresh JVM
  * measures codegen, not the query.
  */
object MicroBench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.ops.Fixtures.sessionBuilder("local[32]", "32").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val docs = graft.ops.Fixtures.documents(spark, sfDir)
    docs.count() // warm the scan

    def time(name: String, reps: Int)(f: => DataFrame): Unit = {
      f.count() // warm-up: codegen + shuffle-file setup
      val ts = (1 to reps).map { _ =>
        val t0 = System.nanoTime(); f.count(); (System.nanoTime() - t0) / 1e9
      }.sorted
      println(f"AB $name%-28s median=${ts(ts.length / 2)}%.3f s  runs=${ts.map(t => f"$t%.2f").mkString(",")}")
    }

    time("simhash_declarative", 3)(graft.ops.Dedup.simhashDeclarative(docs, "doc_id", "text"))
    time("simhash_udaf", 3)(graft.ops.Dedup.simhashUdafVariant(docs, "doc_id", "text"))
    time("dedup_embedding_cosine", 3)(graft.SparkEntry.queries("dedup_embedding_cosine")(spark, sfDir))
    spark.stop()
  }
}
