package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.sources.SyntheticWeather
import graft.weather.WeatherEngine

/** Full endpoint lifecycle (SURVEY §3.1-3.3): ETL batches → train →
  * predict (both models) → evaluate → promote, end to end through the
  * facade against real parquet sinks.
  */
class EngineLifecycleSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  test("ETL → train → predict → evaluate → promote") {
    val root = java.nio.file.Files.createTempDirectory("graft-lifecycle").toString
    val engine = new WeatherEngine(spark, root)

    // three ETL batches of 10 cities × 10 steps each (SURVEY §3.1)
    val all = SyntheticWeather.batches(spark, 30)
    for (b <- 0 until 3) {
      val batch = all.filter(col("timestamp").between(
        1756909800L + b * 10 * 300, 1756909800L + (b * 10 + 9) * 300))
      engine.runEtl(batch, lit(s"2025-09-0${b + 1} 00:00:00").cast("timestamp"))
    }
    assert(engine.query("raw_weather_data").count() == 300)

    // /train (small forests for test speed)
    val folds = engine.train(numTrees = 10, nSplits = 3)
    assert(folds.length == 3 && folds.forall(_("rmse") > 0))

    // /predict/temp + /predict/weather
    val pt = engine.predictTemp(limit = 100)
    assert(pt.columns.toSet ==
      Set("city", "timestamp", "temperature", "pred_temperature"))
    assert(pt.count() == 100)
    val pw = engine.predictWeather(limit = 100)
    assert(pw.columns.contains("pred_condition"))

    // predictions persisted with pred_type metadata (S11)
    val preds = engine.query("predictions")
    assert(preds.select("pred_type").distinct().count() == 2)
    // one table, both kinds: each row fills its own kind's column only
    assert(preds.columns.toSet.contains("pred_temperature") &&
      preds.columns.toSet.contains("pred_condition"))
    assert(preds.filter(col("pred_type") === "regression" &&
      (col("pred_temperature").isNull || col("pred_condition").isNotNull)).count() == 0)
    assert(preds.filter(col("pred_type") === "classification" &&
      (col("pred_condition").isNull || col("pred_temperature").isNotNull)).count() == 0)
    assert(preds.filter(col("pred_type") === "regression").count() == 100)
    assert(preds.filter(col("pred_type") === "classification").count() == 100)

    // /monitor/eval: in-range metrics on recent data
    val m = engine.evaluate(limit = 200)
    assert(m("rmse") > 0 && m("rmse") < 30, m.toString)

    // /registry/promote: best rmse version goes to Production and loads
    assert(engine.promoteBest().isDefined)
    assert(engine.registry.load("temp_rf").isDefined)
  }
}
