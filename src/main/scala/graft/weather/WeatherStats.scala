package graft.weather

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The per-batch statistics document (SURVEY §2.4 A1-A8): one aggregation
  * pass reproducing the semantics of /root/reference/load.py:93-113,
  * including the nested struct / array / map construction the reference
  * stores as BSON (load.py:102-112).
  *
  * One `agg(...)` ⇒ one partial-agg + one tiny shuffle regardless of input
  * size; the map/array columns aggregate distinct-bounded data (cities,
  * condition classes), never the raw rows.
  */
object WeatherStats {

  private def band(c: Column): Column = count(when(c, lit(1)))

  /** Compute the 1-row stats document for a batch. */
  def statsDoc(df: DataFrame, batchId: Column, clock: Column): DataFrame = {
    val t = col("temperature")
    // one collect_set serves both city columns; a countDistinct here
    // would plan a two-level aggregate with one more exchange
    val cities = collect_set(col("city"))
    df.agg(
      count(lit(1)).as("total_records"),                        // load.py:96
      size(cities).cast("long").as("cities_count"),             // :97
      avg(t).as("avg_temperature"),                             // :98
      max(t).as("max_temperature"),                             // :99
      min(t).as("min_temperature"),                             // :100
      avg(col("humidity")).as("avg_humidity"),                  // :101
      sort_array(cities).as("cities"),                          // :102 (canonical order)
      struct(                                                   // :105-112
        band(t < 0).as("very_cold"),
        band(t >= 0 && t < 10).as("cold"),
        band(t >= 10 && t < 20).as("cool"),
        band(t >= 20 && t < 30).as("moderate"),
        band(t >= 30 && t < 40).as("warm"),
        band(t >= 40).as("hot")).as("temperature_distribution"))
      .withColumn("batch_id", batchId)
      .withColumn("timestamp", clock)                           // :95
  }

  /** value_counts as a map column (load.py:103) — computed as a grouped
    * count then folded to one map row; kept separate from [[statsDoc]] so
    * the big-table path stays a single pass when the map isn't needed.
    */
  def weatherConditions(df: DataFrame): DataFrame =
    df.groupBy(col("weather")).agg(count(lit(1)).as("cnt"))
      .agg(map_from_entries(sort_array(collect_list(struct(col("weather"), col("cnt")))))
        .as("weather_conditions"))

  /** Full stats document including the conditions map (crossJoin of two
    * 1-row frames — no data movement beyond the two aggregations).
    */
  def fullStatsDoc(df: DataFrame, batchId: Column, clock: Column): DataFrame =
    statsDoc(df, batchId, clock).crossJoin(weatherConditions(df))
}
