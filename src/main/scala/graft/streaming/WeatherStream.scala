package graft.streaming

import graft.weather.{WeatherRecord, WeatherSinks, WeatherStats}
import org.apache.spark.sql.{DataFrame, Dataset, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming._

/** Structured Streaming surface (SURVEY §2.11): the reference's APScheduler
  * 5-minute loop (ml/scheduler.py:49) made explicit as a micro-batch stream.
  *
  *  T1 trigger cadence   → Trigger.ProcessingTime (caller-supplied; tests
  *                         use the default immediate trigger)
  *  T2 batch identity    → foreachBatch's batchId stamped on every record
  *  T3 append stream     → raw log append
  *  T4 latest snapshot   → per-batch overwrite + a stateful
  *                         mapGroupsWithState latest-per-city variant
  *  T5 per-batch stats   → stats doc per micro-batch
  *  T6 watermark         → engine-native event-time stats (the reference
  *                         cannot be late; we handle lateness explicitly)
  *  T7 failure isolation → per-batch try/catch, stream continues
  *  T8 sliding/session   → built-in window()/session_window surface
  */
object WeatherStream {

  /** T1-T5+T7: the micro-batch fan-out. Each micro-batch appends to the raw
    * log, replaces the current snapshot, appends the partitioned batch log,
    * and writes one stats document — the same four sinks as batch ETL
    * (load.py:22-115), from one cached lineage, through the same
    * [[WeatherSinks.fanout]] (no CSV export).
    */
  def startFanout(records: DataFrame, sinks: WeatherSinks,
      trigger: Trigger = Trigger.ProcessingTime(0)): StreamingQuery =
    records.writeStream
      .queryName("weather-fanout")
      .outputMode("append")
      .trigger(trigger)
      .foreachBatch { (batch: Dataset[Row], batchId: Long) =>
        try {
          if (!batch.isEmpty) {
            val stamped = batch
              .withColumn("batch_id", format_string("batch_%06d", lit(batchId)))
              .withColumn("inserted_at", current_timestamp())
              .persist()
            try sinks.fanout(stamped, WeatherStats.fullStatsDoc(stamped,
              format_string("batch_%06d", lit(batchId)), current_timestamp()))
            finally stamped.unpersist()
            ()
          }
        } catch { // T7: log-and-continue (scheduler.py:22-33)
          case e: Exception =>
            System.err.println(s"[stream] batch $batchId failed: ${e.getMessage}")
        }
      }
      .start()

  /** The reference's scheduled ETL + retrain loop (ml/scheduler.py:22-59:
    * every 5 minutes run ETL, then retrain; failures logged, loop
    * continues). Engine-native: each micro-batch runs the full ETL fan-out
    * through the facade, and every `retrainEvery`-th batch retrains both
    * models into the registry. Trigger cadence supplies the "5 minutes"
    * (T1); per-batch try/catch supplies the failure isolation (T7).
    */
  def startEtlRetrainLoop(records: DataFrame, engine: graft.weather.WeatherEngine,
      retrainEvery: Int, numTrees: Int = 20, nSplits: Int = 3,
      trigger: Trigger = Trigger.ProcessingTime(0)): StreamingQuery =
    records.writeStream
      .queryName("weather-etl-retrain")
      .outputMode("append")
      .trigger(trigger)
      .foreachBatch { (batch: Dataset[Row], batchId: Long) =>
        try {
          if (!batch.isEmpty) {
            engine.runEtl(batch, current_timestamp())
            if ((batchId + 1) % retrainEvery == 0) {
              engine.train(numTrees = numTrees, nSplits = nSplits)
              ()
            }
          }
        } catch {
          case e: Exception => // scheduler.py:30-33: log and keep looping
            System.err.println(s"[retrain-loop] batch $batchId failed: ${e.getMessage}")
        }
      }
      .start()

  /** T4 stateful variant: continuously-maintained latest record per city via
    * mapGroupsWithState — state is one record per key, O(cities), bounded.
    */
  def latestPerCity(ds: Dataset[WeatherRecord]): Dataset[WeatherRecord] = {
    import ds.sparkSession.implicits._
    ds.groupByKey(_.city)
      .mapGroupsWithState[WeatherRecord, WeatherRecord](GroupStateTimeout.NoTimeout) {
        (_, rows, state) =>
          val newest = (rows ++ state.getOption.iterator).maxBy(_.timestamp)
          state.update(newest)
          newest
      }
  }

  /** T5/T6: event-time tumbling stats with a watermark — late rows beyond
    * the watermark are dropped instead of silently re-bucketed (documented
    * divergence from the reference, which has no event-time notion).
    */
  def eventTimeStats(records: DataFrame, watermarkDelay: String = "10 minutes",
      windowLen: String = "5 minutes"): DataFrame =
    records
      .withColumn("ts", timestamp_seconds(col("timestamp")))
      .withWatermark("ts", watermarkDelay)
      .groupBy(window(col("ts"), windowLen))
      .agg(
        count(lit(1)).as("total_records"),
        approx_count_distinct(col("city")).as("cities_count"),
        avg(col("temperature")).as("avg_temperature"),
        min(col("temperature")).as("min_temperature"),
        max(col("temperature")).as("max_temperature"))

  /** T8: sliding-window average temperature per city. */
  def slidingTempAvg(records: DataFrame, windowLen: String = "10 minutes",
      slide: String = "5 minutes"): DataFrame =
    records
      .withColumn("ts", timestamp_seconds(col("timestamp")))
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), windowLen, slide), col("city"))
      .agg(avg(col("temperature")).as("avg_temperature"))

  /** Streaming exact dedup — the streaming twin of
    * [[graft.operators.DedupOps.exactDedup]]: duplicate payloads arriving
    * within the watermark horizon are emitted once. Keyed on the 16-byte
    * md5 of the content (the state store never holds documents), and
    * `dropDuplicatesWithinWatermark` evicts keys once the watermark
    * passes, so state is bounded by (horizon × ingest rate), not by
    * stream history — the property that makes exact dedup viable on an
    * unbounded 100 TB/day feed.
    */
  def dedupStream(records: DataFrame, watermarkDelay: String = "10 minutes"): DataFrame =
    records
      .withColumn("ts", timestamp_seconds(col("timestamp")))
      .withWatermark("ts", watermarkDelay)
      // hash the JSON form, not a concat: concat_ws skips nulls and has
      // no escaping, so distinct records could collide ('x'|null|'rain'
      // vs 'x'|'rain'|null); to_json encodes nulls and quotes unambiguously.
      // Hash EVERY input column — exact-payload dedup, not a semantic-key
      // subset: two readings sharing city+timestamp but differing in any
      // numeric field must both survive.
      .withColumn("content_hash",
        md5(to_json(struct(records.columns.map(col): _*))))
      .dropDuplicatesWithinWatermark("content_hash")

  /** Stream-stream interval join: pair each live observation with EVERY
    * forecast for the same city within ±`tolerance` (one output row per
    * in-tolerance forecast — standard interval-join multiplicity; callers
    * wanting a single best match aggregate downstream with max_by(fts)).
    * Both sides carry watermarks, so the join state store holds only rows
    * inside the watermark horizon — the bounded-state form of stream
    * enrichment (an unwatermarked stream-stream join would buffer forever).
    * `forecast` must have columns (f_city, f_temp, f_timestamp).
    */
  def enrichWithForecast(obs: DataFrame, forecast: DataFrame,
      watermarkDelay: String = "10 minutes",
      tolerance: String = "10 minutes"): DataFrame = {
    val o = obs
      .withColumn("ts", timestamp_seconds(col("timestamp")))
      .withWatermark("ts", watermarkDelay)
    val f = forecast
      .withColumn("fts", timestamp_seconds(col("f_timestamp")))
      .withWatermark("fts", watermarkDelay)
    o.join(f, expr(
      s"""city = f_city AND
          fts BETWEEN ts - interval $tolerance AND ts + interval $tolerance"""))
      .select(col("city"), col("ts"), col("temperature"),
        col("f_temp").as("forecast_temp"),
        (col("temperature") - col("f_temp")).as("forecast_error"))
  }

  /** T8: session windows per city (gap-based). */
  def sessionStats(records: DataFrame, gap: String = "15 minutes"): DataFrame =
    records
      .withColumn("ts", timestamp_seconds(col("timestamp")))
      .withWatermark("ts", "10 minutes")
      .groupBy(session_window(col("ts"), gap), col("city"))
      .agg(count(lit(1)).as("n_obs"))
}
