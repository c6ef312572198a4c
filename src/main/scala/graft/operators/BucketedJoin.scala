package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** B22: zero-shuffle fact⋈fact join over bucketed staging tables.
  *
  * The flagship q03 shape joins orders⋈lineitem on orderkey with a
  * shuffle of both sides per query. Here the facts are staged ONCE as
  * bucketed+sorted tables (operators/Bucketing.scala) and the same join
  * runs with no Exchange at all — each task reads matching buckets of
  * both tables (SortMergeJoin over pre-sorted co-located buckets).
  * This is the layout you'd stage a 100 TB fact store in; PlanSpec
  * asserts the exchange-free plan, the oracle asserts the result is
  * the plain join's.
  */
object BucketedJoin {

  def q26BucketedJoin(s: SparkSession, dir: String): DataFrame = {
    val (ordersT, lineitemT) = Bucketing.ensureFactTables(s, dir)
    s.table(ordersT)
      .join(s.table(lineitemT), col("o_orderkey") === col("l_orderkey"))
      .groupBy(col("o_orderpriority"))
      .agg(
        count(lit(1)).as("n"),
        round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2).as("revenue"))
      .orderBy("o_orderpriority")
  }

  val defs: Map[String, (SparkSession, String) => DataFrame] =
    Map("q26_bucketed_join" -> q26BucketedJoin _)

  val oracles: Map[String, String] = Map(
    "q26_bucketed_join" ->
      """SELECT o_orderpriority, count(*) AS n,
        | round(sum(l_extendedprice*(1.0-l_discount)),2) AS revenue
        |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        |GROUP BY 1 ORDER BY 1""".stripMargin)
}
