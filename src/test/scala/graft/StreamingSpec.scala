package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.sources.SyntheticWeather
import graft.streaming.WeatherStream
import graft.weather.{WeatherRecord, WeatherSinks}

class StreamingSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private def syntheticRecords(nSteps: Int): Seq[WeatherRecord] = {
    import spark.implicits._
    SyntheticWeather.batches(spark, nSteps).as[WeatherRecord].collect().toSeq
  }

  test("T1-T5: micro-batch fan-out appends raw/batches/stats and replaces snapshot") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val root = java.nio.file.Files.createTempDirectory("graft-stream").toString
    val sinks = new WeatherSinks(root)
    val input = MemoryStream[WeatherRecord]
    val q = WeatherStream.startFanout(input.toDF(), sinks)
    try {
      val rows = syntheticRecords(4) // 10 cities × 4 steps
      val (b1, b2) = rows.splitAt(20)
      input.addData(b1); q.processAllAvailable()
      input.addData(b2); q.processAllAvailable()

      assert(sinks.scan(spark, "raw_weather_data").count() == 40)   // T3 append
      val cur = sinks.scan(spark, "current_weather")                // T4 overwrite
      assert(cur.select("batch_id").distinct().count() == 1)
      assert(cur.count() == 20)
      assert(sinks.scan(spark, "weather_batches")                   // T2 identity
        .select("batch_id").distinct().count() == 2)
      val stats = sinks.scan(spark, "weather_statistics")           // T5 per-batch agg
      assert(stats.count() == 2)
      assert(stats.agg(sum("total_records")).head().getLong(0) == 40L)
    } finally q.stop()
  }

  test("S1: fetch loop with injected client lands cities; malformed docs quarantine; failures skip") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val root = java.nio.file.Files.createTempDirectory("graft-fetch").toString
    val sinks = new WeatherSinks(root)
    def doc(city: String) =
      s"""{"name":"$city","sys":{"country":"XX"},"main":{"temp":21.5,
         |"feels_like":20.0,"humidity":40,"pressure":1012},
         |"weather":[{"main":"Clear","description":"clear sky"}],
         |"wind":{"speed":3.2},"dt":1700000000}""".stripMargin.replace("\n", "")
    val client = new graft.sources.FetchClient {
      def fetch(city: String): Either[String, String] = city match {
        case "Down" => Left("connect timeout")     // extract.py:19-20 skip
        case "Bad"  => Right("{definitely not json") // flattens to nulls
        case c      => Right(doc(c))
      }
    }
    val ticks = MemoryStream[Long]
    val q = graft.sources.WeatherFetcher.start(spark,
      Seq("Paris", "Tokyo", "Bad", "Down"), client, sinks,
      ticks = Some(ticks.toDF()))
    try {
      ticks.addData(1L); q.processAllAvailable()
      val raw = sinks.scan(spark, "raw_weather_data")
      assert(raw.count() == 2)
      assert(raw.select("city").collect().map(_.getString(0)).toSet
        == Set("Paris", "Tokyo"))
      assert(raw.columns.contains("batch_id"))
      assert(sinks.scan(spark, "quarantine").count() == 1) // Bad kept, not dropped
      // the declared schema reads the all-null evidence row as nulls
      assert(sinks.scan(spark, "quarantine").filter(col("city").isNull).count() == 1)
      ticks.addData(2L); q.processAllAvailable()
      assert(sinks.scan(spark, "raw_weather_data").count() == 4) // log appends
      // snapshot holds only the newest tick
      assert(sinks.scan(spark, "current_weather")
        .select("batch_id").distinct().count() == 1)
    } finally q.stop()
  }

  test("streaming exact dedup emits duplicate payloads once across batches") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val input = MemoryStream[WeatherRecord]
    val q = WeatherStream.dedupStream(input.toDF()).writeStream
      .format("memory").outputMode("append")
      .queryName("dedup_out").start()
    try {
      val rows = syntheticRecords(1) // 10 cities, one step
      input.addData(rows); q.processAllAvailable()
      input.addData(rows); q.processAllAvailable() // exact re-send next batch
      input.addData(rows.take(3)); q.processAllAvailable()
      val out = spark.sql("select * from dedup_out")
      assert(out.count() == 10, "every duplicate within the horizon dropped")
      assert(out.select("city").distinct().count() == 10)
    } finally q.stop()
  }

  test("streaming dedup does not conflate distinct records with null fields") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val input = MemoryStream[WeatherRecord]
    val q = WeatherStream.dedupStream(input.toDF()).writeStream
      .format("memory").outputMode("append")
      .queryName("dedup_nulls").start()
    try {
      val base = syntheticRecords(1).head
      // under a concat_ws hash these two would collide ('x|rain|...'):
      val r1 = base.copy(city = "x", country = null, weather = "rain")
      val r2 = base.copy(city = "x", country = "rain", weather = null)
      input.addData(Seq(r1, r2)); q.processAllAvailable()
      assert(spark.sql("select * from dedup_nulls").count() == 2,
        "null-shifted field values are distinct records, not duplicates")
    } finally q.stop()
  }

  test("interval join emits one row per in-tolerance forecast (documented multiplicity)") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val obs = MemoryStream[WeatherRecord]
    val fc = MemoryStream[(String, Double, Long)]
    val q = WeatherStream.enrichWithForecast(obs.toDF(),
        fc.toDF().toDF("f_city", "f_temp", "f_timestamp")).writeStream
      .format("memory").outputMode("append").queryName("multi_fc").start()
    try {
      val r = syntheticRecords(1).head
      fc.addData(Seq((r.city, 1.0, r.timestamp + 60), (r.city, 2.0, r.timestamp - 60)))
      obs.addData(Seq(r))
      q.processAllAvailable()
      assert(spark.sql("select * from multi_fc").count() == 2)
    } finally q.stop()
  }

  test("stream-stream interval join enriches observations with forecasts") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val obs = MemoryStream[WeatherRecord]
    val fc = MemoryStream[(String, Double, Long)]
    val joined = WeatherStream.enrichWithForecast(obs.toDF(),
      fc.toDF().toDF("f_city", "f_temp", "f_timestamp"))
    val q = joined.writeStream.format("memory").outputMode("append")
      .queryName("enriched").start()
    try {
      val rows = syntheticRecords(1) // 10 cities at one timestamp
      val t0 = rows.head.timestamp
      // forecasts: within tolerance for 10 cities, one stale (outside ±10m)
      fc.addData(rows.map(r => (r.city, r.temperature + 1.0, t0 + 60)) :+
        (rows.head.city, 99.0, t0 - 3600))
      obs.addData(rows)
      q.processAllAvailable()
      val out = spark.sql("select * from enriched")
      assert(out.count() == 10, "one enriched row per city; stale forecast excluded")
      val errs = out.select("forecast_error").collect().map(_.getDouble(0))
      assert(errs.forall(e => math.abs(e + 1.0) < 1e-9))
    } finally q.stop()
  }

  test("T1: file-based ingestion — readStream over a drop directory") {
    import spark.implicits._
    val dropDir = java.nio.file.Files.createTempDirectory("graft-drop").toString
    val root = java.nio.file.Files.createTempDirectory("graft-filestream").toString
    val sinks = new WeatherSinks(root)
    // batch 1 lands before the stream starts, batch 2 while it runs
    val rows = syntheticRecords(2)
    val (b1, b2) = rows.partition(_.timestamp == rows.map(_.timestamp).min)
    b1.toDF().write.mode("append").parquet(dropDir)
    val stream = spark.readStream
      .schema(b1.toDF().schema)
      .parquet(dropDir)
    val q = WeatherStream.startFanout(stream, sinks)
    try {
      q.processAllAvailable()
      b2.toDF().write.mode("append").parquet(dropDir)
      q.processAllAvailable()
      // the file source's directory listing can race a write that lands
      // mid-listing under load — poll briefly before asserting
      val deadline = System.nanoTime() + 15L * 1000000000L
      while (sinks.scan(spark, "raw_weather_data").count() < 20
          && System.nanoTime() < deadline) {
        Thread.sleep(250)
        q.processAllAvailable()
      }
      assert(sinks.scan(spark, "raw_weather_data").count() == 20)
      // >= 2, not == 2: a multi-part parquet write can land across two
      // listings, splitting one logical drop into two micro-batches — the
      // T2 property under test is only that separate arrivals get separate
      // batch ids
      assert(sinks.scan(spark, "weather_batches")
        .select("batch_id").distinct().count() >= 2)
    } finally q.stop()
  }

  test("S2: malformed JSON documents are quarantined, not dropped silently") {
    import spark.implicits._
    val raw = Seq(
      """{"name":"Lima","dt":100,"sys":{"country":"PE"},"main":{"temp":20.0,
         "feels_like":20.0,"humidity":50,"pressure":1000},
         "weather":[{"main":"Clear","description":"clear sky"}],
         "wind":{"speed":1.0}}""".replaceAll("\n\\s*", ""),
      """not json at all""").toDF("json")
    val (good, bad) = graft.weather.WeatherTransform.quarantine(
      graft.weather.WeatherTransform.flatten(raw))
    assert(good.count() == 1 && bad.count() == 1)
    assert(good.head().getAs[String]("city") == "Lima")
  }

  test("T4 stateful: mapGroupsWithState keeps the newest record per city") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val input = MemoryStream[WeatherRecord]
    val q = WeatherStream.latestPerCity(input.toDS())
      .writeStream.outputMode("update").format("memory")
      .queryName("latest_city").start()
    try {
      val rows = syntheticRecords(3)
      val byStep = rows.groupBy(_.timestamp).toSeq.sortBy(_._1).map(_._2)
      input.addData(byStep.head); q.processAllAvailable()
      input.addData(byStep(1) ++ byStep(2)); q.processAllAvailable()
      val out = spark.sql("select city, max(timestamp) ts from latest_city group by city")
      val maxTs = rows.map(_.timestamp).max
      assert(out.collect().forall(_.getLong(1) == maxTs)) // every city at newest step
      assert(out.count() == 10)
    } finally q.stop()
  }

  test("T8: sliding windows emit overlapping buckets per city") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val input = MemoryStream[WeatherRecord]
    val q = WeatherStream.slidingTempAvg(input.toDF())
      .writeStream.outputMode("append").format("memory")
      .queryName("sliding").start()
    try {
      val rows = syntheticRecords(6)
      input.addData(rows)
      input.addData(Seq(rows.head.copy(timestamp = rows.map(_.timestamp).max + 7200)))
      q.processAllAvailable()
      val out = spark.sql("select * from sliding where city = 'Mumbai'")
      // 6 steps × 5 min with 10-min windows sliding 5 min ⇒ ≥ 6 closed buckets
      assert(out.count() >= 6)
    } finally q.stop()
  }

  test("T8: session windows close after the gap") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val input = MemoryStream[WeatherRecord]
    val q = WeatherStream.sessionStats(input.toDF(), gap = "15 minutes")
      .writeStream.outputMode("append").format("memory")
      .queryName("sessions").start()
    try {
      val rows = syntheticRecords(3) // 3 obs, 5 min apart → one session/city
      input.addData(rows)
      input.addData(Seq(rows.head.copy(timestamp = rows.map(_.timestamp).max + 7200)))
      q.processAllAvailable()
      val out = spark.sql("select * from sessions where city = 'Mumbai'")
      assert(out.count() == 1) // the 3 observations merge into one session
      assert(out.head().getAs[Long]("n_obs") == 3L)
    } finally q.stop()
  }

  test("scheduled ETL+retrain loop: trains after N batches, survives bad batches") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val root = java.nio.file.Files.createTempDirectory("graft-retrain").toString
    val engine = new graft.weather.WeatherEngine(spark, root)
    val input = MemoryStream[WeatherRecord]
    val q = WeatherStream.startEtlRetrainLoop(input.toDF(), engine,
      retrainEvery = 2, numTrees = 5, nSplits = 2)
    try {
      val rows = syntheticRecords(10) // 100 rows; enough for the light tier
      val (b1, b2) = rows.splitAt(40)
      input.addData(b1); q.processAllAvailable()
      assert(engine.registry.load("temp_rf").isEmpty) // batch 1: ETL only
      input.addData(b2); q.processAllAvailable()
      // batch 2 triggered a retrain over the accumulated raw log
      assert(engine.registry.load("temp_rf").isDefined)
      assert(engine.query("raw_weather_data").count() == 100)
      assert(q.isActive) // loop survived everything (T7)
    } finally q.stop()
  }

  test("T6: watermarked event-time stats buckets by 5-minute window") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val input = MemoryStream[WeatherRecord]
    val agg = WeatherStream.eventTimeStats(input.toDF())
    val q = agg.writeStream.outputMode("append").format("memory")
      .queryName("et_stats").start()
    try {
      val rows = syntheticRecords(6) // 6 consecutive 5-min steps
      input.addData(rows)
      // advance the watermark far enough to close all windows
      input.addData(Seq(rows.head.copy(timestamp = rows.map(_.timestamp).max + 3600)))
      q.processAllAvailable()
      val out = spark.sql("select * from et_stats")
      assert(out.count() >= 6) // one closed window per step
      assert(out.agg(sum("total_records")).head().getLong(0) == 60L)
    } finally q.stop()
  }
}
