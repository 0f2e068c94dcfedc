package graft.weather

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Sink fan-out (SURVEY §2.1 S3-S11): the reference's 4-collection MongoDB
  * fan-out (load.py:22-115) re-expressed as a parquet table layout:
  *
  *   tables/raw_weather_data/          append-only log (S4)
  *   tables/current_weather/           overwrite snapshot (S5)
  *   tables/weather_batches/batch_id=… partitioned batch log (S6) —
  *                                     partitionBy replaces the reference's
  *                                     collection-per-batch scheme
  *   tables/weather_statistics/        1-row-per-batch stats append (S7)
  *   tables/predictions/               prediction append (S11)
  *
  * All writes are distributed (no driver materialization); the snapshot
  * overwrite is atomic at the directory level, matching the reference's
  * delete_many-then-insert semantics without its read-gap.
  *
  * Every table has a declared schema ([[WeatherSinks.schemaOf]]): writes
  * conform to it and scans read with it, so a scan never runs a
  * schema-inference job over the table's footers.
  */
class WeatherSinks(root: String) {
  import WeatherSinks._

  val rawPath = s"$root/${WeatherConfig.rawTable}"
  val currentPath = s"$root/${WeatherConfig.currentTable}"
  val batchesPath = s"$root/${WeatherConfig.batchesTable}"
  val statsPath = s"$root/${WeatherConfig.statsTable}"
  val predictionsPath = s"$root/${WeatherConfig.predictionsTable}"

  /** S3: timestamped CSV export (load.py:8-20). */
  def saveCsv(df: DataFrame, batchId: String): String = {
    val path = s"$root/csv/weather_data_$batchId"
    df.write.mode("overwrite").option("header", "true").csv(path)
    path
  }

  /** S4: append to the raw log. */
  def appendRaw(df: DataFrame): Unit =
    conform(df, WeatherConfig.rawTable).write.mode("append").parquet(rawPath)

  /** S5: replace the current snapshot (load.py:51-62; is_current +
    * updated_at stamps per load.py:56-58).
    */
  def overwriteCurrent(df: DataFrame): Unit =
    conform(snapshot(df), WeatherConfig.currentTable)
      .write.mode("overwrite").parquet(currentPath)

  /** S6: partitioned batch log — `batch_id=` directories instead of the
    * reference's weather_batch_<ts> collection-per-batch (load.py:64-84).
    * Partition pruning then replaces its newest-collection-by-name scan.
    */
  def appendBatch(df: DataFrame): Unit =
    conform(df, WeatherConfig.batchesTable)
      .write.mode("append").partitionBy("batch_id").parquet(batchesPath)

  /** S7: stats document append. */
  def appendStats(stats: DataFrame): Unit =
    conform(stats, WeatherConfig.statsTable).write.mode("append").parquet(statsPath)

  /** S2 companion: malformed documents kept for inspection (the reference
    * logs-and-skips; quarantining preserves the evidence).
    */
  val quarantinePath = s"$root/$quarantineTable"
  def appendQuarantine(df: DataFrame): Unit =
    conform(df, quarantineTable).write.mode("append").parquet(quarantinePath)

  /** S11: predictions append with pred_type metadata (main.py:134-141).
    * Regression and classification rows share the table, so each row
    * carries the union schema, with the other kind's column null.
    */
  def appendPredictions(df: DataFrame, predType: String): Unit =
    conform(df.withColumn("pred_type", lit(predType)), WeatherConfig.predictionsTable)
      .write.mode("append").parquet(predictionsPath)

  /** S8/S9: scan a table back with its declared schema (drop of Mongo's
    * _id is structural here — no system column exists to begin with).
    */
  def scan(spark: SparkSession, table: String): DataFrame =
    spark.read.schema(schemaOf(spark, table)).parquet(s"$root/$table")

  /** S10: catalog listing (list_collection_names → directory listing). */
  def listTables(spark: SparkSession): Seq[String] = {
    val dir = new Path(root)
    val fs = dir.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(dir)) Seq.empty
    else fs.listStatus(dir).filter(_.isDirectory).map(_.getPath.getName).sorted.toSeq
  }
}

object WeatherSinks {
  val quarantineTable = "quarantine"

  /** S5's snapshot stamps. */
  private def snapshot(df: DataFrame): DataFrame =
    df.withColumn("is_current", lit(true))
      .withColumn("updated_at", current_timestamp())

  /** Union row of both prediction kinds (`predictTemp`, `predictWeather`). */
  private val predictionsSchema = StructType(
    Seq("city", "timestamp", "temperature", "weather").map(WeatherSchema.record(_)) ++ Seq(
      StructField("pred_temperature", DoubleType),
      StructField("pred_condition", StringType),
      StructField("pred_type", StringType)))

  private val schemas = scala.collection.concurrent.TrieMap.empty[String, StructType]

  /** The declared schema of a table. Each is derived by analysing the
    * code that writes the table over an empty canonical batch (no job
    * runs), so the writer and the declaration cannot drift apart.
    */
  def schemaOf(spark: SparkSession, table: String): StructType =
    schemas.getOrElseUpdate(table, {
      val batch = spark.createDataFrame(java.util.List.of[Row](), WeatherSchema.record)
      val stamped = WeatherTransform.withBatchMetadata(batch, current_timestamp())
      table match {
        case WeatherConfig.rawTable | WeatherConfig.batchesTable | `quarantineTable` =>
          stamped.schema
        case WeatherConfig.currentTable => snapshot(stamped).schema
        case WeatherConfig.statsTable =>
          WeatherStats.fullStatsDoc(stamped, lit(""), current_timestamp()).schema
        case WeatherConfig.predictionsTable => predictionsSchema
        case other => throw new IllegalArgumentException(s"unknown weather table '$other'")
      }
    })

  /** `df` in the table's declared column order and types; a column the
    * frame lacks is written as nulls, which is what a scan of a file
    * without it reads anyway.
    */
  private def conform(df: DataFrame, table: String): DataFrame = {
    val have = df.columns.toSet
    df.select(schemaOf(df.sparkSession, table).fields.toSeq.map { f =>
      (if (have(f.name)) col(f.name) else lit(null)).cast(f.dataType).as(f.name)
    }: _*)
  }
}
