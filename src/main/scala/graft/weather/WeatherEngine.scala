package graft.weather

import graft.operators.Par
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Facade over the weather pipeline — the engine-native equivalent of the
  * reference's 11 FastAPI endpoints (SURVEY §2.12, main.py): runEtl ≙
  * run-etl-mongodb; latest ≙ the top-k scan feeding the predict endpoints;
  * query ≙ weather-data/collection; listTables ≙ collections.
  *
  * The ETL path (SURVEY §3.1) is: flatten → CSV export + 3-way parquet
  * fan-out + stats doc, all from ONE cached lineage and run side by side —
  * the reference re-reads and re-materializes at every step.
  */
class WeatherEngine(spark: SparkSession, tablesRoot: String) {
  val sinks = new WeatherSinks(tablesRoot)
  lazy val registry = new graft.ml.ModelRegistry(spark, s"$tablesRoot/models")

  /** Run one ETL batch over already-flattened records.
    * `clock` pins batch identity for determinism (tests inject a fixed one;
    * production passes current_timestamp()). It is evaluated exactly once,
    * on the driver over a one-row local relation (no job runs), and that
    * one instant stamps every sink: the CSV directory name, the raw,
    * snapshot and batch-log rows, and the stats document — so a batch that
    * crosses a second boundary still carries one batch id.
    *
    * The stamped batch is cached, then [[WeatherSinks.fanout]] runs the CSV
    * export, the raw append, the snapshot overwrite, the batch-log append
    * and the stats-document collect concurrently from it, and appends the
    * stats row only after all five have succeeded. If any of them fails,
    * runEtl rethrows once all have ended: any subset of the four sinks may
    * be left committed, but never a stats row without them.
    *
    * Returns the batch's stats document as a one-row local relation: it is
    * computed once, appended to the stats table, and reading the returned
    * frame runs no further job.
    */
  def runEtl(records: DataFrame, clock: org.apache.spark.sql.Column): DataFrame = {
    val one = spark.createDataFrame(java.util.List.of(Row()), StructType(Nil))
    val now = one.select(clock.cast("timestamp")).head().get(0)
    require(now != null, "clock evaluated to null")
    val at = lit(now)
    // batch id derives from the injected clock, not the data — an empty
    // batch still gets a well-formed (zero-count) stats document
    val batchId = WeatherTransform.withBatchMetadata(one, at).head().getAs[String]("batch_id")
    val stamped = WeatherTransform.withBatchMetadata(records, at).cache()
    try sinks.fanout(stamped, WeatherStats.fullStatsDoc(stamped, lit(batchId), at),
      csv = Some((stamped.select(records.columns.map(col): _*), batchId)))
    finally stamped.unpersist()
  }

  /** Run one ETL batch from raw nested JSON documents. */
  def runEtlFromJson(rawJson: DataFrame, clock: org.apache.spark.sql.Column): DataFrame =
    runEtl(WeatherTransform.flatten(rawJson), clock)

  /** Newest `limit` rows by observation time (main.py:130's
    * sort_values('timestamp').tail(limit), planned as TakeOrderedAndProject
    * — never a full sort).
    */
  def latest(table: String, limit: Int): DataFrame = {
    val df = sinks.scan(spark, table)
    // deterministic cut: timestamps tie across cities within a batch, so
    // the limit boundary needs a total order (Det policy)
    val tiebreaks = Seq("city", "batch_id").filter(df.columns.contains).map(col)
    df.orderBy(col("timestamp").desc +: tiebreaks: _*).limit(limit)
  }

  /** Predicate scan of a stored table (load.py:129-154 — but with pushdown:
    * the filter reaches the parquet reader).
    */
  def query(table: String, predicate: Option[String] = None): DataFrame = {
    val df = sinks.scan(spark, table)
    predicate.map(df.filter).getOrElse(df)
  }

  def listTables(): Seq[String] = sinks.listTables(spark)

  // ---- ML endpoints (SURVEY §3.2/§3.3: /train, /predict/temp,
  // /predict/weather, /monitor/eval, /registry/promote) ----
  import graft.ml.WeatherModels

  /** /train (main.py:115-121 → training.py:147): scan the raw log,
    * featurize with the fallback ladder, CV + final-fit both models, save
    * to the registry at Staging. Returns per-fold regressor metrics.
    *
    * Both models' versions are resolved ([[graft.ml.ModelRegistry.begin]])
    * while the feature frame's cache is built. Then three lanes run
    * concurrently over that one cache: the CV fold fits and their metrics;
    * the final regressor fit, then the write of its model files; the
    * classifier fit, then its metrics beside the write of its model files.
    * Once every lane has succeeded, one write appends both registry rows
    * (regressor, then classifier), and then the fold metrics are logged.
    * A failed lane makes train rethrow once every lane has ended, with no
    * registry row written; a model dir it did write is replaced by the
    * next train, which gets the same version.
    */
  def train(numTrees: Int = 200, nSplits: Int = 5): Seq[Map[String, Double]] = {
    val raw = sinks.scan(spark, WeatherConfig.rawTable)
    val featured = WeatherModels.featuresWithFallback(raw).cache()
    try {
      val feats = WeatherModels.featureCols(featured)
      val (regName, clfName) = (WeatherConfig.tempModelName, WeatherConfig.conditionModelName)
      var pending: registry.PendingSave = null
      Par.run(
        () => pending = registry.begin(regName, clfName),
        () => org.apache.spark.sql.graftbridge.Bridge.buildCache(featured))
      var folds: Seq[Map[String, Double]] = Nil
      var clfMetrics: Map[String, Double] = Map.empty
      Par.run(
        () => folds = WeatherModels.crossValidateFolds(featured, numTrees, nSplits),
        () => pending.write(regName, WeatherModels.regressorPipeline(feats, numTrees).fit(featured)),
        () => {
          val m = WeatherModels.classifierPipeline(feats, numTrees).fit(featured)
          Par.run(
            () => clfMetrics = WeatherModels.classificationMetrics(m.transform(featured)),
            () => pending.write(clfName, m))
        })
      val cvRmse = folds.map(_("rmse")).sum / folds.size
      val v = pending.commit(Map(regName -> Map("rmse" -> cvRmse), clfName -> clfMetrics)).head
      registry.logFolds(regName, v, folds) // training.py:99-142
      folds
    } finally featured.unpersist()
  }

  /** /predict/temp (main.py:124-150): newest `limit` rows → inference
    * features → Production-or-latest model → in-plan scoring → persisted
    * prediction rows. No positional concat (J1): transform appends columns.
    */
  def predictTemp(limit: Int = 100, persist: Boolean = true): DataFrame = {
    val recent = latest(WeatherConfig.rawTable, limit)
    val model = registry.load(WeatherConfig.tempModelName)
      .getOrElse(throw new IllegalStateException("no trained temp_rf model"))
    val scored = model.transform(WeatherModels.featuresForModel(model, recent))
      .select("city", "timestamp", "temperature", "pred_temperature")
    if (persist) sinks.appendPredictions(scored, "regression")
    scored
  }

  /** /predict/weather (main.py:207-233). */
  def predictWeather(limit: Int = 100, persist: Boolean = true): DataFrame = {
    val recent = latest(WeatherConfig.rawTable, limit)
    val model = registry.load(WeatherConfig.conditionModelName)
      .getOrElse(throw new IllegalStateException("no trained cond_rf model"))
    val scored = WeatherModels.decodePredictions(model,
      model.transform(WeatherModels.featuresForModel(model, recent)))
      .select("city", "timestamp", "weather", "pred_condition")
    if (persist) sinks.appendPredictions(scored, "classification")
    scored
  }

  /** /monitor/eval (main.py:153-191): score the newest `limit` rows that
    * have a known next-step target and report regression metrics.
    */
  def evaluate(limit: Int = 500): Map[String, Double] = {
    val recent = latest(WeatherConfig.rawTable, limit)
    val model = registry.load(WeatherConfig.tempModelName)
      .getOrElse(throw new IllegalStateException("no trained temp_rf model"))
    val featured = WeatherModels.featuresForModel(model, recent)
      .filter(org.apache.spark.sql.functions.col("target_temp_next").isNotNull)
    WeatherModels.regressionMetrics(model.transform(featured))
  }

  /** /registry/promote (main.py:194-204): best rmse → Production. */
  def promoteBest(): Option[Int] = {
    val best = registry.bestVersion(WeatherConfig.tempModelName, "rmse", ascending = true)
    best.foreach(v => registry.promote(WeatherConfig.tempModelName, v))
    best
  }
}
