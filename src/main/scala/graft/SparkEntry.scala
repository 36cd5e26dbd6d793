package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.ops._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every operator module declares its queries once, as `Query` records
  * (name, run function, DuckDB oracle, bench labels); `queries` and
  * `oracleSql` are derived from those records.
  */
object SparkEntry {

  /** Every registered query by name; a name registered twice fails here. */
  lazy val registry: Map[String, Query] = Query.index(
    Seq(
      Relational.registry,
      CheckMigration.registry,
      DdlGen.registry,
      StarSchema.registry,
      DeltaSync.registry,
      Dedup.registry,
      GraphDedup.registry,
      Decontamination.registry,
      Paragraphs.registry,
      Spans.registry,
      Safety.registry,
      Mixture.registry,
      Cdc.registry,
      DataSelection.registry,
      BpeTrain.registry,
      QualityClassifier.registry,
      CorpusStats.registry,
      Packing.registry,
      Profiling.registry,
      VarcharInference.registry,
      Similarity.registry,
      TextAnalysis.registry,
      Chunking.registry,
      Centrality.registry,
      Search.registry,
      Layout.registry,
      Multimodal.registry,
      Movement.registry,
      Events.registry,
      TolerantMetrics.registry,
      Pipeline.registry,
      graft.streaming.StreamingIngest.registry
    ).flatten
  )

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    Relational.revenueNation(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  lazy val queries: Map[String, (SparkSession, String) => DataFrame] =
    registry.map { case (n, q) => n -> q.run }

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. */
  lazy val oracleSql: Map[String, String] =
    registry.map { case (n, q) => n -> q.oracle }

  /** The registered names a `SPARK_GRAFT_QUERIES` subset selects (all
    * of them when unset), sorted; a name that is not registered fails,
    * so a misspelled subset cannot silently run nothing. */
  def select(only: Option[Set[String]]): Seq[String] = {
    val unknown = only.getOrElse(Set.empty) -- registry.keySet
    require(unknown.isEmpty, s"not registered queries: ${unknown.toSeq.sorted.mkString(", ")}")
    registry.keys.toSeq.sorted.filter(n => only.forall(_.contains(n)))
  }
}
