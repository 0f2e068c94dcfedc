package graft.ml

import graft.weather.WeatherFeatures
import org.apache.spark.ml.{Pipeline, PipelineModel}
import org.apache.spark.ml.classification.RandomForestClassifier
import org.apache.spark.ml.evaluation.MulticlassClassificationEvaluator
import org.apache.spark.ml.feature.{StringIndexer, VectorAssembler}
import org.apache.spark.ml.regression.RandomForestRegressor
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** ML operator surface (SURVEY §2.10 M1-M7): Spark ML pipelines replacing
  * the reference's sklearn stack. Behavioral parity, not bitwise — sklearn
  * and Spark ML forests cannot match numerically (SURVEY §7.3.4); the
  * contract is metric-band equivalence, asserted in tests.
  *
  * The encoder lives INSIDE the persisted Pipeline, which structurally
  * deletes the reference's _align_features schema-repair layer
  * (predict.py:65-88): train and inference see identical transforms.
  */
object WeatherModels {

  /** M1: TimeSeriesSplit(n_splits) — n expanding (train, validation) pairs
    * over global time order (training.py:25-26). The data is chunked into
    * n+1 equal time-ordered chunks; fold i trains on chunks [0..i] and
    * validates on chunk i+1.
    *
    * Training sets are bounded (the reference caps at hundreds of rows per
    * city); the global row_number here is acceptable at that scale. For
    * 100 TB training data, replace with approxQuantile boundaries on the
    * time column — same fold semantics, no single-partition window.
    */
  def timeSeriesSplits(df: DataFrame, nSplits: Int = 5,
      orderCol: String = "timestamp"): Seq[(DataFrame, DataFrame)] = {
    val n = df.count()
    val chunks = nSplits + 1
    val withChunk = df
      .withColumn("__rn", row_number().over(Window.orderBy(col(orderCol))))
      .withColumn("__chunk", expr(s"((__rn - 1) * $chunks) div ${n}L"))
    (0 until nSplits).map { i =>
      (withChunk.filter(col("__chunk") <= i).drop("__rn", "__chunk"),
        withChunk.filter(col("__chunk") === i + 1).drop("__rn", "__chunk"))
    }
  }

  /** M4: the data-size fallback ladder (training.py:29-40): full features
    * need ≥50 rows, lighter lags below that, minimal below 30.
    * M5: hard floor of 20 rows (training.py:95-96).
    */
  def featuresWithFallback(df: DataFrame, inference: Boolean = false): DataFrame = {
    val n = df.count()
    require(n >= 20, s"need >= 20 rows to featurize, got $n") // M5
    if (n >= 50) WeatherFeatures.engineer(df, inference)
    else if (n >= 30) WeatherFeatures.engineer(df, inference, lags = Seq(1, 2), rollWindow = 2)
    else WeatherFeatures.engineer(df, inference, lags = Seq(1), rollWindow = 2)
  }

  /** Numeric feature columns present after engineering (one-hot of the
    * categorical calendar/city features is handled by the assembler input
    * list — booleans cast to double upstream).
    */
  def featureCols(df: DataFrame): Array[String] =
    df.columns.filter(c =>
      c.endsWith("_lag1") || c.endsWith("_lag2") || c.endsWith("_lag3")
        || c.endsWith("_roll_mean") || c.endsWith("_roll_std")
        || Seq("temperature", "feels_like", "humidity", "pressure",
          "wind_speed", "hour", "dayofweek").contains(c))

  /** Inference-side featurization matched to the MODEL's tier, not the
    * inference window's row count: the fallback ladder is keyed on training
    * size, and re-deriving it from however many rows the caller asks to
    * score would produce a different feature schema (missing *_lag3, or a
    * rolling window of different width) — a crash or silent skew. The tier
    * is recovered from the fitted VectorAssembler's input columns.
    */
  def featuresForModel(model: PipelineModel, df: DataFrame): DataFrame = {
    val required = model.stages.collectFirst {
      case a: VectorAssembler => a.getInputCols
    }.getOrElse(throw new IllegalStateException("no VectorAssembler stage"))
    val featured =
      if (required.exists(_.endsWith("_lag3")))
        WeatherFeatures.engineer(df, inference = true) // full tier
      else if (required.exists(_.endsWith("_lag2")))
        WeatherFeatures.engineer(df, inference = true, lags = Seq(1, 2), rollWindow = 2)
      else
        WeatherFeatures.engineer(df, inference = true, lags = Seq(1), rollWindow = 2)
    fillInferenceNulls(featured)
  }

  /** E2 inference-side null fill (predict.py:80-81): partition-edge lag /
    * rolling NULLs become 0.0 so every recent row gets a prediction — the
    * reference's _align_features fill, reduced to one na.fill because the
    * schema is already aligned by construction.
    */
  def fillInferenceNulls(featured: DataFrame): DataFrame =
    featured.na.fill(0.0, featureCols(featured).toIndexedSeq)

  /** M2: temperature regressor (RandomForestRegressor ×`numTrees`, seed 42 —
    * training.py:43-45).
    */
  def regressorPipeline(features: Array[String], numTrees: Int = 200): Pipeline = {
    val assembler = new VectorAssembler()
      .setInputCols(features).setOutputCol("features")
    val rf = new RandomForestRegressor()
      .setFeaturesCol("features").setLabelCol("target_temp_next")
      .setPredictionCol("pred_temperature")
      .setNumTrees(numTrees).setSeed(42)
    new Pipeline().setStages(Array(assembler, rf))
  }

  /** M3: condition classifier (training.py:66-70). */
  def classifierPipeline(features: Array[String], numTrees: Int = 200): Pipeline = {
    val indexer = new StringIndexer()
      .setInputCol("target_condition").setOutputCol("label")
      .setStringOrderType("alphabetAsc") // deterministic label mapping
      .setHandleInvalid("keep")
    val assembler = new VectorAssembler()
      .setInputCols(features).setOutputCol("features")
    val rf = new RandomForestClassifier()
      .setFeaturesCol("features").setLabelCol("label")
      .setPredictionCol("pred_label").setProbabilityCol("prob")
      .setRawPredictionCol("raw")
      .setNumTrees(numTrees).setSeed(42)
    new Pipeline().setStages(Array(indexer, assembler, rf))
  }

  /** M3 alternative: logistic-regression classifier
    * (LogisticRegression(max_iter=1000), training.py:71-74 — the
    * reference's model_type="logreg" branch).
    */
  def logisticPipeline(features: Array[String], maxIter: Int = 1000): Pipeline = {
    val indexer = new StringIndexer()
      .setInputCol("target_condition").setOutputCol("label")
      .setStringOrderType("alphabetAsc")
      .setHandleInvalid("keep")
    val assembler = new VectorAssembler()
      .setInputCols(features).setOutputCol("features")
    val lr = new org.apache.spark.ml.classification.LogisticRegression()
      .setFeaturesCol("features").setLabelCol("label")
      .setPredictionCol("pred_label").setProbabilityCol("prob")
      .setRawPredictionCol("raw")
      .setMaxIter(maxIter)
    new Pipeline().setStages(Array(indexer, assembler, lr))
  }

  /** Decode numeric class predictions back to condition strings using the
    * fitted StringIndexer's label mapping (the prediction column carries no
    * label metadata, so IndexToString cannot ride inside the pipeline).
    */
  def decodePredictions(model: PipelineModel, scored: DataFrame): DataFrame = {
    val labels = model.stages.collectFirst {
      case m: org.apache.spark.ml.feature.StringIndexerModel => m.labelsArray(0)
    }.getOrElse(throw new IllegalStateException("no StringIndexerModel stage"))
    scored.withColumn("pred_condition",
      element_at(typedLit(labels.toSeq), col("pred_label").cast("int") + 1))
  }

  /** A11/M7: regression metrics — MAE and RMSE as single-pass aggregates
    * (hand-rolled per SURVEY §2.4 A11: avg(abs(err)), sqrt(avg(err²))).
    */
  def regressionMetrics(scored: DataFrame, label: String = "target_temp_next",
      pred: String = "pred_temperature"): Map[String, Double] = {
    val err = col(pred) - col(label)
    val r = scored.agg(
      avg(abs(err)).as("mae"),
      sqrt(avg(err * err)).as("rmse")).head()
    if (r.isNullAt(0)) Map("mae" -> Double.NaN, "rmse" -> Double.NaN)
    else Map("mae" -> r.getDouble(0), "rmse" -> r.getDouble(1))
  }

  /** A11/M7: classification metrics (accuracy + weighted F1), both read
    * from one confusion-matrix pass over `scored`.
    */
  def classificationMetrics(scored: DataFrame): Map[String, Double] = {
    val m = new MulticlassClassificationEvaluator()
      .setLabelCol("label").setPredictionCol("pred_label").getMetrics(scored)
    Map("accuracy" -> m.accuracy, "f1" -> m.weightedFMeasure(1.0))
  }

  /** M1+M2: the expanding-window CV folds of the regressor — one fit and
    * one metrics aggregate per fold (training.py:48-57). Folds are
    * independent Spark jobs.
    */
  def crossValidateFolds(featured: DataFrame, numTrees: Int = 200,
      nSplits: Int = 5): Seq[Map[String, Double]] = {
    val feats = featureCols(featured)
    timeSeriesSplits(featured, nSplits).map { case (train, valid) =>
      regressionMetrics(regressorPipeline(feats, numTrees).fit(train).transform(valid))
    }
  }

  /** M1+M2 composed: per-fold metrics plus the final model fit on all
    * rows (training.py:48-59).
    */
  def crossValidateRegressor(featured: DataFrame, numTrees: Int = 200,
      nSplits: Int = 5): (PipelineModel, Seq[Map[String, Double]]) = {
    val folds = crossValidateFolds(featured, numTrees, nSplits)
    (regressorPipeline(featureCols(featured), numTrees).fit(featured), folds)
  }
}
