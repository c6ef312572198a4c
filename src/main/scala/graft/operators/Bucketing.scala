package graft.operators

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions.col

/** Bucketed staging tables — the co-located-join path (SURVEY §5).
  *
  * At 100 TB the dominant cost of a repeated fact⋈fact join is
  * re-shuffling both fact tables on every query. Writing them ONCE as
  * bucketed tables (hash-partitioned into fixed buckets on the join
  * key, sorted within buckets) lets every subsequent join read
  * co-located buckets with ZERO exchange — the Spark analog of the
  * co-partitioned table layouts a pgstream user gets from Postgres
  * partitioning (reference: README.md:86-116's repeated orderkey joins).
  *
  * PlanSpec asserts the joined plan contains no Exchange on the fact
  * sides; q26 verifies the result against the plain-join oracle.
  */
object Bucketing {

  val NBuckets = 8

  /** Write `df` as a bucketed+sorted managed table (idempotent). */
  def writeBucketed(df: DataFrame, table: String, key: String): Unit =
    df.write
      .mode(SaveMode.Overwrite)
      .bucketBy(NBuckets, key)
      .sortBy(key)
      .format("parquet") // managed: lives under spark.sql.warehouse.dir
      .saveAsTable(table)

  /** Ensure the two fact tables exist in bucketed form for `dir`
    * (keyed by a sanitized dir name so sf0.001/sf0.01 coexist). The
    * session catalog is in-memory, so a fresh session may find a stale
    * warehouse directory from a previous run — scratch staging data,
    * safe to clear and rebuild.
    */
  def ensureFactTables(s: SparkSession, dir: String): (String, String) = {
    val tag = dir.replaceAll("[^A-Za-z0-9]", "_")
    val (ot, lt) = (s"orders_b$tag", s"lineitem_b$tag")
    def stage(table: String, src: String, key: String): Unit =
      if (!s.catalog.tableExists(table)) {
        val loc = new org.apache.hadoop.fs.Path(
          s.conf.get("spark.sql.warehouse.dir") + "/" + table)
        val fs = loc.getFileSystem(s.sparkContext.hadoopConfiguration)
        if (fs.exists(loc)) fs.delete(loc, true)
        writeBucketed(s.read.parquet(s"$dir/$src.parquet"), table, key)
      }
    stage(ot, "orders", "o_orderkey")
    stage(lt, "lineitem", "l_orderkey")
    (ot, lt)
  }
}
