package graft.ml

import org.apache.hadoop.fs.Path
import org.apache.spark.ml.PipelineModel
import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** M8/M9: versioned model store + stage promotion (SURVEY §2.10), replacing
  * the reference's MLflow registry (ml/registry.py) with a metadata table +
  * versioned paths. Best-run selection is the O5 argmin/argmax idiom
  * (registry.py:23-28: order by metric, take first).
  *
  * `root` may be a local path or any Hadoop URI (`file:/…`, `hdfs://…`).
  *
  * Model cache: a saved version is immutable (a save always writes a new
  * version), so the registry keeps the model it last saved or loaded for
  * each name, keyed by (name, version) — at most one model per name.
  * The version itself is resolved from the metadata table on every call,
  * so a promotion or save made by another registry instance or process is
  * seen; only the model files of an already-resolved version are not
  * re-read.
  */
class ModelRegistry(spark: SparkSession, root: String) {
  import ModelRegistry._

  private val metaPath = s"$root/_registry"
  private val foldsPath = s"$root/_folds"
  private val cache =
    new java.util.concurrent.ConcurrentHashMap[String, (Int, PipelineModel)]()

  private def exists(path: String): Boolean = {
    val p = new Path(path)
    p.getFileSystem(spark.sessionState.newHadoopConf()).exists(p)
  }

  /** A table of this registry, read with the schema its writer declares
    * (no schema-inference job); None before its first write.
    */
  private def read(path: String, schema: StructType): Option[DataFrame] =
    if (exists(path)) Some(spark.read.schema(schema).parquet(path)) else None

  private def metadata(): Option[DataFrame] = read(metaPath, metaSchema)

  /** (next version of `name`, next row sequence) in one metadata query.
    * Rows are ordered by this logical sequence, not by a clock: a clock's
    * origin differs between processes, so "newest row wins" would compare
    * values that mean nothing to each other.
    */
  private def nextVersionAndSeq(name: String): (Int, Long) =
    metadata().map { m =>
      val r = m.agg(
        coalesce(max(when(col("name") === name, col("version"))), lit(0)),
        coalesce(max(col("saved_at")), lit(0L))).head()
      (r.getInt(0) + 1, r.getLong(1) + 1)
    }.getOrElse((1, 1L))

  private def appendMeta(row: MetaRow): Unit =
    spark.createDataset(Seq(row))(metaEncoder).write.mode("append").parquet(metaPath)

  private def path(name: String, version: Int) = s"$root/$name/v$version"

  /** Save a fitted model with its metrics; returns the version. */
  def save(name: String, model: PipelineModel, metrics: Map[String, Double],
      stage: String = "Staging"): Int = {
    val (v, seq) = nextVersionAndSeq(name)
    model.write.overwrite().save(path(name, v))
    appendMeta(MetaRow(name, v, stage, metrics.getOrElse("rmse", Double.NaN),
      metrics.getOrElse("f1", Double.NaN), seq))
    cache.put(name, (v, model))
    v
  }

  /** Best version by a metric (registry.py:23-28: lower-is-better for rmse,
    * higher for f1); deterministic tiebreak on newest version.
    */
  def bestVersion(name: String, metric: String, ascending: Boolean): Option[Int] =
    metadata().flatMap { m =>
      val ord = if (ascending) col(metric).asc else col(metric).desc
      m.filter(col("name") === name && !isnan(col(metric)))
        .orderBy(ord, col("version").desc)
        .limit(1).collect().headOption.map(_.getAs[Int]("version"))
    }

  /** Promote a version to a stage (registry.py:30-44) by appending the new
    * stage row (the row with the highest sequence per version wins on read).
    */
  def promote(name: String, version: Int, stage: String = "Production"): Unit =
    appendMeta(MetaRow(name, version, stage, Double.NaN, Double.NaN,
      nextVersionAndSeq(name)._2))

  /** Per-fold artifact logging (training.py:99-142: MLflow logs each CV
    * fold's metrics under the run) — one row per (version, fold, metric) in
    * a `_folds` table beside the registry metadata, so a run's full fold
    * history survives and is queryable like any other table.
    */
  def logFolds(name: String, version: Int,
      folds: Seq[Map[String, Double]]): Unit = {
    val rows = for ((fold, i) <- folds.zipWithIndex; (metric, value) <- fold.toSeq)
      yield FoldRow(name, version, i, metric, value, System.nanoTime())
    if (rows.nonEmpty)
      spark.createDataset(rows)(foldEncoder).write.mode("append").parquet(foldsPath)
  }

  /** Fold history for a run: (fold, metric, value), fold-ordered. */
  def foldHistory(name: String, version: Int): DataFrame =
    read(foldsPath, foldSchema).getOrElse(
      throw new IllegalArgumentException(s"no fold history under $root"))
      .filter(col("name") === name && col("version") === version)
      .select("fold", "metric", "value")
      .orderBy("fold", "metric")

  /** Load with stage fallback (predict.py:18-43: Production → latest). The
    * version is resolved in one metadata query; its model comes from the
    * cache when the cache holds that version, else from disk.
    */
  def load(name: String, preferStage: String = "Production"): Option[PipelineModel] =
    metadata().flatMap { m =>
      // the highest-sequence row per version defines its current stage
      m.filter(col("name") === name)
        .groupBy("version")
        .agg(max(struct(col("saved_at"), col("stage"))).getField("stage").as("stage"))
        .orderBy((col("stage") === preferStage).desc, col("version").desc)
        .limit(1).collect().headOption
        .map(r => model(name, r.getAs[Int]("version")))
    }

  private def model(name: String, version: Int): PipelineModel =
    Option(cache.get(name)).collect { case (`version`, m) => m }.getOrElse {
      val m = PipelineModel.load(path(name, version))
      cache.put(name, (version, m))
      m
    }
}

object ModelRegistry {
  /** One row of `_registry`: a save, or a stage change, of one version.
    * `saved_at` is the row's logical sequence number (max over the table
    * + 1 when written).
    */
  final case class MetaRow(name: String, version: Int, stage: String,
      rmse: Double, f1: Double, saved_at: Long)

  /** One row of `_folds`: one metric of one CV fold of one version. */
  final case class FoldRow(name: String, version: Int, fold: Int,
      metric: String, value: Double, logged_at: Long)

  private val metaEncoder = Encoders.product[MetaRow]
  private val foldEncoder = Encoders.product[FoldRow]
  val metaSchema = metaEncoder.schema
  val foldSchema = foldEncoder.schema
}
