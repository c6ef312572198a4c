package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.operators.{AsOfJoin, BucketedJoin, GroupTopK, PartitionedLake, Profiling, RangeJoin, Relational, Sketches, Templates, TypedRows}
import graft.pipeline.{Ann, Bpe, Clusters, Dedup, Multimodal, TextOps}
import graft.sources.{ChangeFeed, GraftCatalog, GraftViews, IncrementalAgg, Matview, SnapshotsKeys}
import graft.streaming.{Cdc, EventStreams, GraftTableSink, JdbcReplicate, LakeMerge, Replicate}

/** Driver contract — see /root/repo/SURVEY.md §2 for the inventory. */
object SparkEntry {

  /** Flagship query (Example.hs analog) on sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    Relational.q03JoinFlagship(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    Relational.defs ++ Templates.defs ++ AsOfJoin.defs ++ RangeJoin.defs ++
      Cdc.defs ++ GraftTableSink.defs ++ LakeMerge.defs ++ Replicate.defs ++ JdbcReplicate.defs ++ EventStreams.defs ++ TypedRows.defs ++ BucketedJoin.defs ++
      Sketches.defs ++ Profiling.defs ++ GroupTopK.defs ++ PartitionedLake.defs ++ SnapshotsKeys.defs ++ IncrementalAgg.defs ++ ChangeFeed.defs ++ GraftCatalog.defs ++ Matview.defs ++ GraftViews.defs ++
      Dedup.defs ++ Clusters.defs ++ Ann.defs ++ TextOps.defs ++ Multimodal.defs ++ Bpe.defs

  /** DuckDB-runnable oracle SQL per query key (same aliases, same
    * ordering, same rounding as the Spark side).
    */
  def oracleSql: Map[String, String] =
    Relational.oracles ++ Templates.oracles ++ AsOfJoin.oracles ++
      RangeJoin.oracles ++ Cdc.oracles ++ GraftTableSink.oracles ++ LakeMerge.oracles ++ Replicate.oracles ++ JdbcReplicate.oracles ++ EventStreams.oracles ++
      TypedRows.oracles ++ BucketedJoin.oracles ++ Sketches.oracles ++ Profiling.oracles ++ GroupTopK.oracles ++
      PartitionedLake.oracles ++ SnapshotsKeys.oracles ++ IncrementalAgg.oracles ++ ChangeFeed.oracles ++ GraftCatalog.oracles ++ Matview.oracles ++ GraftViews.oracles ++
      Dedup.oracles ++ Clusters.oracles ++ Ann.oracles ++ TextOps.oracles ++ Multimodal.oracles ++ Bpe.oracles
}
