package graft

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ml.{ModelRegistry, WeatherModels}
import graft.sources.SyntheticWeather
import graft.weather.{WeatherConfig, WeatherEngine}

/** Counts the Spark jobs a body launches from the calling thread and the
  * threads it starts (they inherit the tagging local property), keeping
  * each job's call-site stack.
  */
object JobCounter {
  private val key = "graft.test.jobTag"

  def apply[T](spark: SparkSession)(body: => T): (T, Seq[String]) = {
    val sc = spark.sparkContext
    val tag = java.util.UUID.randomUUID().toString
    val sites = new ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty(key) == tag))
          sites.add(e.stageInfos.map(_.details).mkString("\n"))
    }
    sc.addSparkListener(listener)
    val prev = sc.getLocalProperty(key)
    sc.setLocalProperty(key, tag)
    try {
      val out = body
      org.apache.spark.sql.graftbridge.Bridge.drainListenerBus(sc, 10000L)
      (out, sites.asScala.toSeq)
    } finally {
      sc.setLocalProperty(key, prev)
      sc.removeSparkListener(listener)
    }
  }
}

/** A clock that reads one second later on every evaluation. */
object TickingClock {
  val ticks = new AtomicLong(0)
  def column = udf(() =>
    new java.sql.Timestamp(1756909800000L + ticks.getAndIncrement() * 1000L))
    .asNondeterministic().apply()
}

/** The scheduled ETL → train → predict cycle does no work that does not
  * serve its result: one clock evaluation and one stats document per
  * batch, the model just trained served from the registry's cache, and
  * the sinks and the model fits overlapped without changing what they
  * write or the order in which a batch or a train commits.
  */
class WeatherCycleSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private def batch(all: DataFrame, b: Int) = all.filter(col("timestamp").between(
    1756909800L + b * 10 * 300, 1756909800L + (b * 10 + 9) * 300))

  /** Three ETL batches of 10 cities × 10 steps, then one train. */
  lazy val (root, engine) = {
    val root = java.nio.file.Files.createTempDirectory("graft-cycle").toString
    val engine = new WeatherEngine(spark, root)
    val all = SyntheticWeather.batches(spark, 30)
    for (b <- 0 until 3)
      engine.runEtl(batch(all, b), lit(s"2025-09-0${b + 1} 00:00:00").cast("timestamp"))
    engine.train(numTrees = 5, nSplits = 2)
    (root, engine)
  }

  /** An engine on a fresh root holding `n` ETL batches. */
  private def etlEngine(root: String, n: Int = 3): WeatherEngine = {
    val eng = new WeatherEngine(spark, root)
    val all = SyntheticWeather.batches(spark, n * 10)
    for (b <- 0 until n)
      eng.runEtl(batch(all, b), lit(s"2025-09-0${b + 1} 00:00:00").cast("timestamp"))
    eng
  }

  private def registryRows(root: String): Seq[(String, Int, String, Long)] =
    spark.read.schema(ModelRegistry.metaSchema).parquet(s"$root/models/_registry")
      .orderBy("saved_at").collect().toSeq
      .map(r => (r.getAs[String]("name"), r.getAs[Int]("version"),
        r.getAs[String]("stage"), r.getAs[Long]("saved_at")))

  private def causes(e: Throwable): Seq[String] =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null).map(_.toString).toSeq

  private def isModelRead(site: String) =
    site.linesIterator.exists(l => l.contains("org.apache.spark.ml.") && l.contains("Reader"))

  test("runEtl evaluates its clock once: every sink carries one batch id") {
    val root = java.nio.file.Files.createTempDirectory("graft-clock").toString
    val eng = new WeatherEngine(spark, root)
    val stats = eng.runEtl(batch(SyntheticWeather.batches(spark, 10), 0), TickingClock.column)
    val id = stats.head().getAs[String]("batch_id")
    def ids(table: String) = eng.query(table).select("batch_id").distinct()
      .collect().map(_.getString(0)).toSet
    assert(ids(WeatherConfig.rawTable) == Set(id))
    assert(ids(WeatherConfig.currentTable) == Set(id))
    assert(ids(WeatherConfig.batchesTable) == Set(id))
    assert(ids(WeatherConfig.statsTable) == Set(id))
    assert(eng.query(WeatherConfig.rawTable).select("inserted_at").distinct().count() == 1)
    assert(eng.listTables().toSet == Set("csv", WeatherConfig.rawTable,
      WeatherConfig.currentTable, WeatherConfig.batchesTable, WeatherConfig.statsTable))
    assert(new java.io.File(s"$root/csv/weather_data_$id").isDirectory,
      s"csv export dir for $id missing: ${new java.io.File(s"$root/csv").list().toSeq}")
  }

  test("runEtl returns its stats document as a local row: head() runs no job") {
    val eng = new WeatherEngine(spark,
      java.nio.file.Files.createTempDirectory("graft-stats").toString)
    val stats = eng.runEtl(batch(SyntheticWeather.batches(spark, 10), 0),
      lit("2025-09-01 00:00:00").cast("timestamp"))
    val (row, jobs) = JobCounter(spark)(stats.head())
    assert(row.getAs[Long]("total_records") == 100L)
    assert(jobs.isEmpty, s"${jobs.size} jobs:\n${jobs.mkString("\n---\n")}")
    assert(eng.query(WeatherConfig.statsTable).select("total_records")
      .collect().map(_.getLong(0)).toSeq == Seq(100L))
  }

  test("after train, predictTemp and evaluate read no model from disk") {
    val (pt, predictJobs) = JobCounter(spark)(engine.predictTemp(limit = 50).count())
    assert(pt == 50)
    assert(!predictJobs.exists(isModelRead), predictJobs.filter(isModelRead).mkString("\n---\n"))
    val (m, evalJobs) = JobCounter(spark)(engine.evaluate(limit = 200))
    assert(m("rmse") > 0 && m("rmse").isFinite)
    assert(!evalJobs.exists(isModelRead), evalJobs.filter(isModelRead).mkString("\n---\n"))
  }

  test("a fresh registry on the same root loads from disk and predicts the same") {
    val cached = engine.registry.load(WeatherConfig.tempModelName).get
    val (fromDisk, jobs) = JobCounter(spark)(
      new ModelRegistry(spark, s"$root/models").load(WeatherConfig.tempModelName).get)
    assert(fromDisk ne cached)
    assert(jobs.exists(isModelRead), "a fresh registry must read the model files")
    val featured = WeatherModels.featuresWithFallback(engine.query(WeatherConfig.rawTable))
    def preds(model: org.apache.spark.ml.PipelineModel) = model.transform(featured)
      .select("city", "timestamp", "pred_temperature").orderBy("city", "timestamp")
      .collect().toSeq
    assert(preds(fromDisk) == preds(cached))
  }

  test("overlapped train fits exactly the models a serial fit produces") {
    val reg = engine.registry.load(WeatherConfig.tempModelName).get
    val clf = engine.registry.load(WeatherConfig.conditionModelName).get
    val featured = WeatherModels.featuresWithFallback(
      engine.query(WeatherConfig.rawTable)).cache()
    try {
      val (serialReg, _) = WeatherModels.crossValidateRegressor(featured, 5, 2)
      val serialClf = WeatherModels.classifierPipeline(
        WeatherModels.featureCols(featured), 5).fit(featured)
      def preds(model: org.apache.spark.ml.PipelineModel, c: String) =
        model.transform(featured).select("city", "timestamp", c)
          .orderBy("city", "timestamp").collect().toSeq
      assert(preds(reg, "pred_temperature") == preds(serialReg, "pred_temperature"))
      assert(preds(clf, "pred_label") == preds(serialClf, "pred_label"))
    } finally featured.unpersist()
  }

  test("train commits the registry rows a serial save, logFolds, save sequence writes") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-train-rows").toString
    val serial = java.nio.file.Files.createTempDirectory("graft-serial-rows").toString
    val eng = etlEngine(tmp)
    val reg = new ModelRegistry(spark, s"$serial/models")
    def serialTrain(): Unit = {
      val (name, cond) = (WeatherConfig.tempModelName, WeatherConfig.conditionModelName)
      val v = reg.save(name, eng.registry.load(name, "Staging").get, Map("rmse" -> 1.0))
      reg.logFolds(name, v, Seq(Map("rmse" -> 1.0)))
      reg.save(cond, eng.registry.load(cond, "Staging").get, Map("f1" -> 0.5))
    }
    eng.train(numTrees = 5, nSplits = 2)
    serialTrain()
    assert(eng.promoteBest().contains(1))
    reg.promote(WeatherConfig.tempModelName, 1)
    eng.train(numTrees = 5, nSplits = 2)
    serialTrain()
    val expected = Seq(
      (WeatherConfig.tempModelName, 1, "Staging", 1L),
      (WeatherConfig.conditionModelName, 1, "Staging", 2L),
      (WeatherConfig.tempModelName, 1, "Production", 3L),
      (WeatherConfig.tempModelName, 2, "Staging", 4L),
      (WeatherConfig.conditionModelName, 2, "Staging", 5L))
    assert(registryRows(tmp) == expected)
    assert(registryRows(serial) == expected)
    assert(eng.registry.foldHistory(WeatherConfig.tempModelName, 2).count() == 2 * 2)
  }

  test("a train whose fits throw adds no registry row; the next gets its version") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-train-fail").toString
    val eng = etlEngine(tmp)
    eng.train(numTrees = 5, nSplits = 2)
    val before = registryRows(tmp)
    intercept[IllegalArgumentException](eng.train(numTrees = 0, nSplits = 2))
    assert(registryRows(tmp) == before)
    eng.train(numTrees = 5, nSplits = 2)
    assert(registryRows(tmp).drop(before.size) == Seq(
      (WeatherConfig.tempModelName, 2, "Staging", 3L),
      (WeatherConfig.conditionModelName, 2, "Staging", 4L)))
  }

  test("runEtl whose raw-table commit throws rethrows and appends no stats row") {
    FaultyFileSystem.register(spark)
    val tmp = java.nio.file.Files.createTempDirectory("graft-etl-fault").toString
    val eng = new WeatherEngine(spark, s"${FaultyFileSystem.scheme}://$tmp")
    val all = SyntheticWeather.batches(spark, 20)
    val e = intercept[Exception](FaultyFileSystem.injectUnder(eng.sinks.rawPath, 1,
      FaultyFileSystem.Throws)(eng.runEtl(batch(all, 0), lit("2025-09-01 00:00:00").cast("timestamp"))))
    assert(causes(e).exists(_.contains("injected fault")), causes(e).mkString("\n"))
    assert(!new java.io.File(s"$tmp/${WeatherConfig.statsTable}").exists())
    // the next batch commits normally: one stats row, its own
    eng.runEtl(batch(all, 1), lit("2025-09-02 00:00:00").cast("timestamp"))
    assert(eng.query(WeatherConfig.statsTable).select("batch_id").collect()
      .map(_.getString(0)).toSeq == Seq("20250902_000000"))
  }

  test("a steady runEtl runs fewer jobs than the 14 a serial fan-out with a distinct count ran") {
    val eng = etlEngine(java.nio.file.Files.createTempDirectory("graft-etl-jobs").toString, 1)
    val all = SyntheticWeather.batches(spark, 20)
    val (_, jobs) = JobCounter(spark)(
      eng.runEtl(batch(all, 1), lit("2025-09-02 00:00:00").cast("timestamp")))
    assert(jobs.size < 14, s"${jobs.size} jobs:\n${jobs.mkString("\n---\n")}")
  }
}
