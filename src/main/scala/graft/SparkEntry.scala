package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.queries.{Attribution, Behavior, Causal, CurationQueries, Decisioning, DedupSim, EventGraph, Extended, Fairness, FeatureQueries, Geo, Hierarchy, Inference, KgPipeline, LinkOps, LlmEval, LmExtras, MlExtra, MlPlane, MultimodalQueries, NonParam, RankingEval, RecSys, Relational, Spectral, Survival, TextOps, TimeSeriesQueries, TrainingPrep, TsExtra}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt. */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * The full reference demo flow: corpus → glossary extraction → KG →
    * weighted constraint search (SURVEY §3.3, docs/index.md:87-141).
    */
  def entry(spark: SparkSession): DataFrame =
    KgPipeline.kgSearch(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    Relational.all ++ TextOps.all ++ DedupSim.all ++ KgPipeline.all ++
      TimeSeriesQueries.all ++ MultimodalQueries.all ++ Extended.all ++
      CurationQueries.all ++ TrainingPrep.all ++ FeatureQueries.all ++ Inference.all ++
      RankingEval.all ++ LinkOps.all ++ Behavior.all ++ EventGraph.all ++ RecSys.all ++ Survival.all ++ LlmEval.all ++ Attribution.all ++ MlExtra.all ++ Spectral.all ++ Geo.all ++
      MlPlane.all ++ NonParam.all ++ TsExtra.all ++ Hierarchy.all ++ LmExtras.all ++
      Decisioning.all ++ Causal.all ++ Fairness.all

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops.
    */
  def oracleSql: Map[String, String] =
    Relational.oracles ++ TextOps.oracles ++ DedupSim.oracles ++ KgPipeline.oracles ++
      TimeSeriesQueries.oracles ++ MultimodalQueries.oracles ++ Extended.oracles ++
      CurationQueries.oracles ++ TrainingPrep.oracles ++ FeatureQueries.oracles ++ Inference.oracles ++
      RankingEval.oracles ++ LinkOps.oracles ++ Behavior.oracles ++ EventGraph.oracles ++ RecSys.oracles ++ Survival.oracles ++ LlmEval.oracles ++ Attribution.oracles ++ MlExtra.oracles ++ Spectral.oracles ++ Geo.oracles ++
      MlPlane.oracles ++ NonParam.oracles ++ TsExtra.oracles ++ Hierarchy.oracles ++ LmExtras.oracles ++
      Decisioning.oracles ++ Causal.oracles ++ Fairness.oracles
}
