package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.queries._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every entry in [[queries]] is one operator/capability from
  * SURVEY.md §2, and [[oracleSql]] holds its ANSI-SQL equivalent
  * (DuckDB runs it on the same parquet tables and hash-compares).
  * Both come from one [[Query]] per name in [[registry]]. Column names
  * are aliased identically on both sides —
  * the driver's compare sorts columns by name before hashing.
  */
object SparkEntry {

  /** Flagship: connected components of the sf0.001 co-purchase graph. */
  def entry(spark: SparkSession): DataFrame =
    CCQueries.ccCopurchase(spark, "/root/testdata/sf0.001")

  /** Every graded query, module by module. [[queries]] and
    * [[oracleSql]] are two views of it; RegistrySpec proves no name is
    * listed twice, since `toMap` would silently keep only the last.
    */
  private[graft] val registry: Seq[Query] =
    CCQueries.all ++ RelationalQueries.all ++ DedupQueries.all ++
      SimilarityQueries.all ++ TextQueries.all ++ PipelineQueries.all ++
      IoQueries.all ++ GraphQueries.all ++ StatsQueries.all ++
      SketchQueries.all ++ MatchQueries.all ++ EventQueries.all ++
      GeoQueries.all ++ graft.streaming.StreamingQueries.all ++
      graft.multimodal.MultimodalQueries.all

  def queries: Map[String, (SparkSession, String) => DataFrame] =
    registry.map(q => q.name -> q.build).toMap

  def oracleSql: Map[String, String] =
    registry.map(q => q.name -> q.oracle).toMap
}
