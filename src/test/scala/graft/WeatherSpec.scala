package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.weather._

/** Weather-domain parity tests: golden replay of the reference's captured
  * output batches plus hand-computed pandas-parity checks for the
  * §2.5 semantics traps.
  */
class WeatherSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  val goldenCsv = "/root/reference/data/weather_data_20250903_200821.csv"

  test("golden: captured batch stats (54 rows, min 14.0, max 34.22)") {
    val df = WeatherTransform.readCsv(spark, goldenCsv)
    val stats = WeatherStats.fullStatsDoc(df, lit("golden"), lit("2025-09-03 20:08:21").cast("timestamp"))
      .head()
    assert(stats.getAs[Long]("total_records") == 54L)
    assert(stats.getAs[Long]("cities_count") == 54L)
    assert(stats.getAs[Double]("min_temperature") == 14.0)   // Dublin
    assert(stats.getAs[Double]("max_temperature") == 34.22)  // Bucharest
    val dist = stats.getAs[org.apache.spark.sql.Row]("temperature_distribution")
    val bands = Seq("very_cold", "cold", "cool", "moderate", "warm", "hot")
      .map(dist.getAs[Long])
    assert(bands.sum == 54L) // bucket counts partition the batch
    assert(stats.getAs[scala.collection.Seq[String]]("cities").length == 54)
    val wc = stats.getAs[Map[String, Long]]("weather_conditions")
    assert(wc.values.sum == 54L)
  }

  test("golden: second captured batch agrees with the first's invariants") {
    val df = WeatherTransform.readCsv(spark,
      "/root/reference/data/weather_data_20250903_213719.csv")
    val stats = WeatherStats.fullStatsDoc(df, lit("golden2"),
      lit("2025-09-03 21:37:19").cast("timestamp")).head()
    assert(stats.getAs[Long]("total_records") == 54L)
    assert(stats.getAs[Long]("cities_count") == 54L)
    val dist = stats.getAs[org.apache.spark.sql.Row]("temperature_distribution")
    assert(Seq("very_cold", "cold", "cool", "moderate", "warm", "hot")
      .map(dist.getAs[Long]).sum == 54L)
    // both captured batches cover the same 54 canonicalized cities
    val c1 = WeatherTransform.readCsv(spark, goldenCsv)
      .select("city").collect().map(_.getString(0)).toSet
    val c2 = df.select("city").collect().map(_.getString(0)).toSet
    assert(c1 == c2)
    assert(c1.contains("Bengaluru") && c1.contains("Kyiv")) // API-canonical names
  }

  test("the stats table's declared schema is the one every stored batch has") {
    // written before cities_count was derived from the cities array
    val pinned = """{"type":"struct","fields":[""" +
      """{"name":"total_records","type":"long","nullable":false,"metadata":{}},""" +
      """{"name":"cities_count","type":"long","nullable":false,"metadata":{}},""" +
      """{"name":"avg_temperature","type":"double","nullable":true,"metadata":{}},""" +
      """{"name":"max_temperature","type":"double","nullable":true,"metadata":{}},""" +
      """{"name":"min_temperature","type":"double","nullable":true,"metadata":{}},""" +
      """{"name":"avg_humidity","type":"double","nullable":true,"metadata":{}},""" +
      """{"name":"cities","type":{"type":"array","elementType":"string","containsNull":false},""" +
      """"nullable":false,"metadata":{}},""" +
      """{"name":"temperature_distribution","type":{"type":"struct","fields":[""" +
      Seq("very_cold", "cold", "cool", "moderate", "warm", "hot").map(b =>
        s"""{"name":"$b","type":"long","nullable":false,"metadata":{}}""").mkString(",") +
      """]},"nullable":false,"metadata":{}},""" +
      """{"name":"batch_id","type":"string","nullable":false,"metadata":{}},""" +
      """{"name":"timestamp","type":"timestamp","nullable":false,"metadata":{}},""" +
      """{"name":"weather_conditions","type":{"type":"map","keyType":"string",""" +
      """"valueType":"long","valueContainsNull":false},"nullable":false,"metadata":{}}]}"""
    assert(WeatherSinks.schemaOf(spark, WeatherConfig.statsTable).json == pinned)
  }

  test("flatten maps the nested JSON shape exactly (transform.py:8-19)") {
    val raw = Seq(
      """{"name":"Mumbai","dt":1756909914,"sys":{"country":"IN"},
         "main":{"temp":26.77,"feels_like":29.48,"humidity":83,"pressure":1006},
         "weather":[{"main":"Clouds","description":"overcast clouds"},
                    {"main":"IGNORED","description":"second element unused"}],
         "wind":{"speed":5.06}}""".replaceAll("\n\\s*", "")).toDF("json")
    val flat = WeatherTransform.flatten(raw).head()
    assert(flat.getAs[String]("city") == "Mumbai")
    assert(flat.getAs[String]("country") == "IN")
    assert(flat.getAs[Double]("temperature") == 26.77)
    assert(flat.getAs[Int]("humidity") == 83)
    assert(flat.getAs[String]("weather") == "Clouds") // [0] of the array
    assert(flat.getAs[String]("description") == "overcast clouds")
    assert(flat.getAs[Long]("timestamp") == 1756909914L)
  }

  test("features: lag/lead stay within city partitions; rolling obeys min_periods") {
    // city A: temps 10, 20, 30, 40 at t=1..4; city B: 100 at t=1
    val df = Seq(
      ("A", 10.0, 1L), ("A", 20.0, 2L), ("A", 30.0, 3L), ("A", 40.0, 4L),
      ("B", 100.0, 1L))
      .toDF("city", "temperature", "timestamp")
      .withColumn("country", lit("X")).withColumn("feels_like", col("temperature"))
      .withColumn("humidity", lit(50)).withColumn("pressure", lit(1000))
      .withColumn("weather", lit("Clear")).withColumn("description", lit("d"))
      .withColumn("wind_speed", lit(1.0))
    val f = WeatherFeatures.engineer(df, inference = true)
      .select("city", "timestamp", "temperature_lag1", "temperature_roll_mean",
        "temperature_roll_std", "target_temp_next")
      .orderBy("city", "timestamp").collect()

    // A@t=1: lag NULL (partition edge, as pandas NaN)
    assert(f(0).isNullAt(2))
    // A@t=2: lag1 = 10; rolling window has only 2 rows < min_periods ⇒ NULL
    assert(f(1).getDouble(2) == 10.0 && f(1).isNullAt(3))
    // A@t=3: rolling mean of (10,20,30) = 20; sample std = 10
    assert(f(2).getDouble(3) == 20.0)
    assert(math.abs(f(2).getDouble(4) - 10.0) < 1e-12)
    // A@t=4: rolling mean of (20,30,40) = 30; lead target from t=3 row = 40
    assert(f(3).getDouble(3) == 30.0)
    assert(f(2).getDouble(5) == 40.0)
    // A@t=4 has no next ⇒ target NULL; B never sees A's values
    assert(f(3).isNullAt(5))
    assert(f(4).isNullAt(2) && f(4).isNullAt(5))
  }

  test("weekday is 0=Monday (pandas parity, NOT Spark dayofweek)") {
    // 2024-01-01 was a Monday; epoch 1704067200
    val df = Seq(("A", 1704067200L)).toDF("city", "timestamp")
      .withColumn("temperature", lit(1.0)).withColumn("country", lit("X"))
      .withColumn("feels_like", lit(1.0)).withColumn("humidity", lit(1))
      .withColumn("pressure", lit(1)).withColumn("weather", lit("Clear"))
      .withColumn("description", lit("d")).withColumn("wind_speed", lit(1.0))
    val r = WeatherFeatures.engineer(df, inference = true)
      .select("dayofweek", "hour").head()
    assert(r.getInt(0) == 0) // Monday
    assert(r.getInt(1) == 0) // midnight UTC
  }

  test("one-hot: sorted categories, drop_first, boolean dtype (get_dummies parity)") {
    val df = Seq("Rain", "Clear", "Clouds", "Rain").toDF("weather")
    val cats = WeatherFeatures.categoryValues(df, Seq("weather"))
    assert(cats("weather") == Seq("Clear", "Clouds", "Rain"))
    val oh = WeatherFeatures.oneHot(df, Seq("weather"), cats)
    // Clear dropped (first); Clouds + Rain kept
    assert(oh.columns.toSet == Set("weather_Clouds", "weather_Rain"))
    val rows = oh.collect()
    assert(rows(0).getBoolean(1) && !rows(0).getBoolean(0))  // Rain
    assert(!rows(1).getBoolean(0) && !rows(1).getBoolean(1)) // Clear = all false
  }

  test("categoryValues fails loudly on a high-cardinality column (driver-collect cap)") {
    val wide = spark.range(50).selectExpr("CAST(id AS STRING) AS k")
    val e = intercept[IllegalArgumentException] {
      WeatherFeatures.categoryValues(wide, Seq("k"), maxCategories = 10)
    }
    assert(e.getMessage.contains("distinct values"))
    // at-or-under the cap still works
    assert(WeatherFeatures.categoryValues(wide, Seq("k"), maxCategories = 50)("k").size == 50)
  }

  test("ETL fan-out writes all sinks; snapshot holds only the newest batch") {
    val root = java.nio.file.Files.createTempDirectory("graft-etl").toString
    val engine = new WeatherEngine(spark, root)
    val b1 = WeatherTransform.readCsv(spark, goldenCsv)
    engine.runEtl(b1, lit("2025-09-03 20:08:21").cast("timestamp"))
    engine.runEtl(b1.withColumn("temperature", col("temperature") + 1),
      lit("2025-09-03 21:37:19").cast("timestamp"))

    assert(engine.listTables().toSet ==
      Set("csv", "raw_weather_data", "current_weather", "weather_batches", "weather_statistics"))
    // raw log accumulates both batches
    assert(engine.query("raw_weather_data").count() == 108)
    // snapshot holds exactly the newest batch
    val cur = engine.query("current_weather")
    assert(cur.count() == 54)
    assert(cur.select("batch_id").distinct().head().getString(0) == "20250903_213719")
    // batch partitioning: two partition dirs
    assert(engine.query("weather_batches").select("batch_id").distinct().count() == 2)
    // stats: one doc per batch
    assert(engine.query("weather_statistics").count() == 2)
    // latest-n scan
    assert(engine.latest("raw_weather_data", 10).count() == 10)
  }
}
