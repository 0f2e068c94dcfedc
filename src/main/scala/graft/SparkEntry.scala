package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.queries._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * `queries` is the full oracle-checked operator inventory (SURVEY §2 +
  * north-star extensions); `oracleSql` holds the DuckDB-equivalent SQL for
  * every SQL-expressible query. Cross-engine determinism policy lives in
  * [[graft.queries.Det]].
  */
object SparkEntry {

  /** Flagship query on sf=0.001; driver smoke-checks rows>0.
    * TPC-H Q1-shaped pricing summary over lineitem (SURVEY §2.4 A1/A3/A8).
    */
  def entry(spark: SparkSession): DataFrame = {
    import Det._
    Tables.lineitem(spark, "/root/testdata/sf0.001")
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        sumExact(col("l_quantity")).as("sum_qty"),
        sumExact(col("l_extendedprice")).as("sum_base_price"),
        revenueExact(col("l_extendedprice"), col("l_discount")).as("sum_disc_price"),
        avgExact(col("l_quantity")).as("avg_qty"),
        count(lit(1)).as("count_order"))
      .orderBy("l_returnflag", "l_linestatus")
  }

  private val groups: Seq[(Map[String, Q], Map[String, String])] = Seq(
    (AggQueries.defs, AggQueries.oracles),
    (WindowQueries.defs, WindowQueries.oracles),
    (JoinQueries.defs, JoinQueries.oracles),
    (ScalarQueries.defs, ScalarQueries.oracles),
    (SetPivotQueries.defs, SetPivotQueries.oracles),
    (ExtQueries.defs, ExtQueries.oracles),
    (Ext2Queries.defs, Ext2Queries.oracles),
    (Ext3Queries.defs, Ext3Queries.oracles),
    (Ext4Queries.defs, Ext4Queries.oracles),
    (MiscQueries.defs, MiscQueries.oracles),
    (SubqueryQueries.defs, SubqueryQueries.oracles)
  )

  /** One entry per implemented operator from SURVEY.md §2.
    *
    * Contract (advisor r14): a query function may run eager
    * [[graft.operators.StageIO]] scratch writes as a side effect of
    * DataFrame CONSTRUCTION, and the returned (lazy) frame may read
    * from that scratch until its first action completes. Callers must
    * therefore execute the returned frame BEFORE calling
    * `StageIO.cleanScratch` — the build→act→clean ordering Verify and
    * Bench both follow. Staging-over-persist is deliberate: no query
    * may leave a persisted RDD behind (the suite-wide EntrySpec gate).
    */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    groups.iterator.flatMap(_._1).toMap

  /** The `SPARK_GRAFT_ONLY` row filter that Bench and Verify share: a
    * comma-separated list of row names for a local loop, or None (unset)
    * for every row. A name in no `known` row is warned about on stderr
    * under `[tag]` — a typo'd filter would otherwise run nothing and
    * report a clean-looking empty result.
    */
  def onlyRows(tag: String, known: Set[String]): Option[Set[String]] = {
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
      .filter(_.nonEmpty)
    only.foreach(_.diff(known).foreach(n => System.err.println(
      s"[$tag] WARNING: SPARK_GRAFT_ONLY name '$n' matches no query")))
    only
  }

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted for non-SQL-expressible ops.
    */
  def oracleSql: Map[String, String] =
    groups.iterator.flatMap(_._2).toMap
}
