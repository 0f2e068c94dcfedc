package graft.perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkEntry
import graft.queries._
import graft.sources.SyntheticWeather
import graft.weather.{WeatherConfig, WeatherEngine}

/** What one op produced: an order-independent fingerprint of its output
  * (row count plus the sum of per-row xxhash64 values) and the input rows
  * it wrote to a store.
  */
final case class Result(rows: Long, hash: String, written: Long = 0L)

/** One closed-loop operation. `layer` names the per-layer metric its time
  * counts toward; `run` executes it to completion and throws on a
  * violated output invariant.
  */
final case class Op(name: String, layer: String, run: () => Result)

/** A named workload: untimed setup, the ops of one pass, and checks. */
trait Workload {
  /** Builds the state the ops read, once per run. */
  def setup(): Unit
  /** The ops of pass `pass` (-1 is the first, cold pass). */
  def ops(pass: Int): Seq[Op]
  /** Whether the seed may reorder a steady pass's ops. */
  def reorder: Boolean = true
  /** Steady passes a run makes at least, whatever `--seconds` says. */
  def minPasses: Int = 1
  /** Untimed invariant checks after a pass; each string is a failure. */
  def afterPass(pass: Int): Seq[String] = Nil
}

object Workloads {
  val names: Seq[String] = Seq("catalog", "weather_etl")

  /** Short SQL rows of `catalog` (an aggregate and the AsOfJoin), each
    * dominated by fixed per-job cost (planning, codegen, scheduling).
    */
  val sqlRows: Seq[String] = Seq("agg_rollup", "j6_asof_join")

  /** Per-layer metric of each operator row `catalog` runs. */
  val layerOf: Map[String, String] = Map(
    "x124_bm25_topk" -> "retrieval.bm25", "x4_dedup_jaccard" -> "dedup.pairs",
    "x53_pq_ann" -> "ann.probe", "x57d_apply" -> "bpe.apply",
    "x48_manifest_delta" -> "manifest.delta", "x94_neardup_stream" -> "stream.neardup")

  /** Operator rows of `catalog`: the cheapest row per operator layer. */
  val operatorRows: Seq[String] = Seq(
    "x124_bm25_topk", "x4_dedup_jaccard", "x53_pq_ann", "x48_manifest_delta",
    "x94_neardup_stream")

  /** `queries.<family>`: the catalog object (or, for the AsOfJoin rows,
    * the operator) that defines each SQL row.
    */
  val familyOf: Map[String, String] = Map(
    "agg_rollup" -> "queries.setpivot", "j6_asof_join" -> "queries.asof")

  /** Order-independent fingerprint: the action every catalog op runs. */
  def fingerprint(df: DataFrame): Result = {
    def hasMap(t: DataType): Boolean = t match {
      case _: MapType => true
      case a: ArrayType => hasMap(a.elementType)
      case s: StructType => s.fields.exists(f => hasMap(f.dataType))
      case _ => false
    }
    val cols = df.schema.fields.toSeq.map { f =>
      val c = df.col(s"`${f.name}`")
      if (hasMap(f.dataType)) c.cast("string") else c
    }
    if (cols.isEmpty) Result(df.count(), "0")
    else {
      val r = df.select(xxhash64(cols: _*).as("h"))
        .agg(count(lit(1)), sum(col("h").cast(DecimalType(38, 0)))).head()
      Result(r.getLong(0), Option(r.getDecimal(1)).map(_.toString).getOrElse("0"))
    }
  }

  def apply(name: String, spark: SparkSession, fixture: String, seed: Long,
      work: String, tracer: Tracer): Workload = {
    // a catalog row or split: build the frame (which may stage eagerly),
    // then run the fingerprint action over it
    def query(row: String, layer: String)(build: => DataFrame): Op =
      Op(row, layer, () => {
        val df = tracer.span("queries.build")(build)
        tracer.span("queries.action")(fingerprint(df))
      })
    def catalog(row: String, layer: String): Op =
      query(row, layer)(SparkEntry.queries(row)(spark, fixture))

    name match {
      case "catalog" => new Workload {
        private var merges: DataFrame = _
        def setup(): Unit = {
          merges = tracer.span("bpe.build") {
            val m = ExtQueries.x57dBuild(spark, fixture)
            m.count()
            m
          }
        }
        def ops(pass: Int) = sqlRows.map(r => catalog(r, familyOf(r))) ++
          operatorRows.map(r => catalog(r, layerOf(r))) :+
          query("x57d_apply", layerOf("x57d_apply"))(
            ExtQueries.x57dApply(spark, fixture, merges))
      }

      case "weather_etl" => new WeatherWorkload(spark, seed, work, tracer)

      case other => throw new IllegalArgumentException(
        s"unknown workload '$other' (known: ${names.mkString(", ")})")
    }
  }
}

/** The paper's own cycle, compressed in time: per pass, `batches`
  * seeded synthetic batches go through `runEtl` into fresh tables, with
  * a `latest` read and a per-city `query` of the growing raw log after
  * each, then one train, predict, evaluate and promote. Every pass
  * repeats the same work.
  */
final class WeatherWorkload(spark: SparkSession, seed: Long, work: String,
    tracer: Tracer) extends Workload {
  val batches = 2
  val stepsPerBatch = 10
  val rowsPerBatch: Long = SyntheticWeather.cities.size.toLong * stepsPerBatch
  private val baseEpoch = 1756909800L
  private val stepSeconds = 300L
  private var all: DataFrame = _
  private var engine: WeatherEngine = _
  private var lastRmse = Double.NaN
  private var promoted: Option[Int] = None

  override def reorder = false
  // a pass is dominated by `train`, which a co-tenant's burst can slow by
  // half; the median of two passes halves that burst's effect on wall_s
  override def minPasses = 2

  /** Generates every batch and holds the rows in a local relation, so the
    * generator's compute is timed here and not inside each `runEtl`.
    */
  def setup(): Unit = {
    all = tracer.span("source.gen") {
      val gen = SyntheticWeather.batches(spark, batches * stepsPerBatch, stepSeconds, seed, baseEpoch)
      spark.createDataFrame(java.util.Arrays.asList(gen.collect(): _*), gen.schema)
    }
  }

  private def root(pass: Int) = s"$work/weather/pass${pass + 1}"

  def ops(pass: Int): Seq[Op] = {
    val eng = new WeatherEngine(spark, root(pass))
    engine = eng
    val etl = (0 until batches).flatMap { b =>
      val lo = baseEpoch + b * stepsPerBatch * stepSeconds
      val batch = all.filter(col("timestamp").between(lo, lo + (stepsPerBatch - 1) * stepSeconds))
      val clock = lit(f"2025-09-${b + 1}%02d 00:00:00").cast("timestamp")
      Seq(
        Op(s"runEtl#${b + 1}", "weather.etl", () => {
          val stats = eng.runEtl(batch, clock)
          val n = tracer.span("weather.stats")(stats.head().getAs[Long]("total_records"))
          require(n == rowsPerBatch, s"batch ${b + 1}: total_records $n != $rowsPerBatch")
          Result(n, "", written = rowsPerBatch)
        }),
        Op("latest", "weather.latest", () => {
          val rows = eng.latest(WeatherConfig.rawTable, 20).collect()
          require(rows.length == 20, s"latest returned ${rows.length} rows")
          Result(rows.length, "")
        }),
        Op("query", "weather.query", () => {
          val n = eng.query(WeatherConfig.rawTable, Some("city = 'Oslo'")).count()
          require(n == (b + 1) * stepsPerBatch, s"query: $n rows for one city")
          Result(n, "")
        }))
    }
    etl ++ Seq(
      Op("train", "ml.train", () => {
        // one validation fold keeps a pass short enough for two per run
        val folds = eng.train(numTrees = 5, nSplits = 1)
        require(folds.nonEmpty && folds.forall(f => f("rmse").isFinite), "train: non-finite CV rmse")
        Result(folds.size, "")
      }),
      Op("predictTemp", "ml.predict", () => Result(eng.predictTemp(limit = 50).count(), "")),
      Op("evaluate", "ml.eval", () => {
        val m = eng.evaluate(limit = 200)
        lastRmse = m("rmse")
        require(lastRmse > 0 && lastRmse.isFinite, s"evaluate: rmse $lastRmse")
        Result(1, "")
      }),
      Op("promoteBest", "ml.promote", () => {
        promoted = eng.promoteBest()
        require(promoted.isDefined, "promoteBest: no version promoted")
        Result(1, "")
      }))
  }

  override def afterPass(pass: Int): Seq[String] = {
    val raw = engine.query(WeatherConfig.rawTable).count()
    val current = engine.query(WeatherConfig.currentTable).count()
    val stats = engine.query(WeatherConfig.statsTable).select("total_records").collect()
      .map(_.getLong(0)).toSeq
    val failures = Seq(
      (raw == batches * rowsPerBatch) -> s"raw log has $raw rows, expected ${batches * rowsPerBatch}",
      (current == rowsPerBatch) -> s"snapshot has $current rows, expected $rowsPerBatch",
      (stats == Seq.fill(batches)(rowsPerBatch)) -> s"per-batch total_records $stats",
      (lastRmse > 0 && lastRmse.isFinite) -> s"rmse $lastRmse",
      promoted.isDefined -> "no promoted version"
    ).collect { case (false, msg) => msg }
    PerfBench.deleteTree(root(pass))
    failures
  }
}
