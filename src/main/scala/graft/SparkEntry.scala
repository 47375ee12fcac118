package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.queries.{B3Queries, CoreQueries, EventAnalytics, FunctionQueries, Graph}
import graft.text.{Bm25, Dedup, Dsir, Normalize, Pipelines, Redaction, SetSimilarity, SubstringDedup, TextAnalysis, Winnowing}
import graft.sim.{Hybrid, KMeans, ProductQuantization, Similarity}
import graft.streaming.StreamQueries
import graft.mm.Multimodal

/** The query registry and the session every graft main runs on.
  *
  * `queries` maps every implemented operator to a
  * `(SparkSession, sfDir) => DataFrame`; `oracleSql` carries the
  * equivalent DuckDB SQL that `scripts/check.py` and perfbench compare
  * against. Keys and output column names are aligned between the two.
  * Queries end in a deterministic ORDER BY and round double aggregates
  * for cross-engine hash stability.
  */
object SparkEntry {

  /** `local[N]` with N from SPARK_GRAFT_CPUS, else the host's processors;
    * as many shuffle partitions, AQE on, UTC, parquet nanos read as longs,
    * [[GraftExtensions]] and no UI. Callers add their own extras (Hive,
    * warehouse, broadcast-off) before `getOrCreate()`.
    */
  def localSession(): SparkSession.Builder = {
    val n = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors.toString)
    SparkSession.builder()
      .master(s"local[$n]")
      .config("spark.sql.shuffle.partitions", n)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.ui.enabled", "false")
  }

  /** Flagship: the reference's one real analytical query (A1+O1,
    * ETL_glue_pregao_B3.json:164 — group-by + SUM + top-5) on sf=0.001.
    */
  def entry(spark: SparkSession): DataFrame =
    CoreQueries.a1GroupbySumTop5(spark, "/root/testdata/sf0.001")

  def queries: Map[String, (SparkSession, String) => DataFrame] =
    CoreQueries.queries ++ FunctionQueries.queries ++ B3Queries.queries ++
      EventAnalytics.queries ++ Graph.queries ++ graft.lake.ZOrder.queries ++
      Dedup.queries ++ SetSimilarity.queries ++ Bm25.queries ++ TextAnalysis.queries ++ SubstringDedup.queries ++ Dsir.queries ++ Winnowing.queries ++ Redaction.queries ++ Normalize.queries ++ Similarity.queries ++
      KMeans.queries ++ Hybrid.queries ++ ProductQuantization.queries ++
      StreamQueries.queries ++ Multimodal.queries ++ Pipelines.queries ++
      graft.ops.Warehouse.queries ++ graft.ops.BloomJoin.queries

  def oracleSql: Map[String, String] =
    CoreQueries.oracles ++ FunctionQueries.oracles ++ B3Queries.oracles ++
      EventAnalytics.oracles ++ Graph.oracles ++ graft.lake.ZOrder.oracles ++
      Dedup.oracles ++ SetSimilarity.oracles ++ Bm25.oracles ++ TextAnalysis.oracles ++ SubstringDedup.oracles ++ Dsir.oracles ++ Winnowing.oracles ++ Redaction.oracles ++ Normalize.oracles ++ Similarity.oracles ++
      KMeans.oracles ++ Hybrid.oracles ++ ProductQuantization.oracles ++
      StreamQueries.oracles ++ Multimodal.oracles ++ Pipelines.oracles ++
      graft.ops.Warehouse.oracles ++ graft.ops.BloomJoin.oracles
}
