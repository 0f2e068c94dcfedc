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
  * Saves: [[begin]] resolves the versions of every model one save
  * writes, the caller writes their files (concurrently if it likes), and
  * [[PendingSave.commit]] appends all their metadata rows in one write.
  * A save that fails before its commit leaves no row; see [[begin]] for
  * the orphaned version dir it may leave.
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

  /** (next version of each of `names`, next row sequence) in one
    * metadata query. Rows are ordered by this logical sequence, not by a
    * clock: a clock's origin differs between processes, so "newest row
    * wins" would compare values that mean nothing to each other.
    */
  private def nextVersionsAndSeq(names: Seq[String]): (Seq[Int], Long) =
    metadata().map { m =>
      val r = m.agg(coalesce(max(col("saved_at")), lit(0L)), names.map(n =>
        coalesce(max(when(col("name") === n, col("version"))), lit(0))): _*).head()
      (names.indices.map(i => r.getInt(i + 1) + 1), r.getLong(0) + 1)
    }.getOrElse((names.map(_ => 1), 1L))

  private def path(name: String, version: Int) = s"$root/$name/v$version"

  /** Start a save of one or more models as ONE registry commit: each
    * name's next version and the next row sequence are resolved in one
    * metadata query, and nothing is written yet. The caller then writes
    * each model's files with [[PendingSave.write]] (from concurrent
    * lanes if it likes: every name owns its own version dir) and ends
    * with [[PendingSave.commit]], which appends one metadata row per
    * name, in `names` order with consecutive sequence numbers, in ONE
    * write — the rows a serial [[save]] per name would write.
    *
    * Partial states: until `commit`, no metadata row exists, so every
    * reader (`load`, `bestVersion`, the next `begin`) sees the registry
    * as before. A version dir written by an abandoned save is an orphan
    * no row names; the next save of that name resolves the same version
    * and replaces the dir (`overwrite()`).
    */
  def begin(names: String*): PendingSave = {
    require(names.nonEmpty && names.distinct.size == names.size,
      s"one save needs distinct model names: ${names.mkString(", ")}")
    val (versions, seq) = nextVersionsAndSeq(names)
    new PendingSave(names.zip(versions), seq)
  }

  /** Versions reserved by [[begin]]; see there. */
  final class PendingSave private[ModelRegistry] (
      versions: Seq[(String, Int)], firstSeq: Long) {
    private val written =
      new java.util.concurrent.ConcurrentHashMap[String, PipelineModel]()

    /** Write `model`'s files to `name`'s reserved version dir. */
    def write(name: String, model: PipelineModel): Unit = {
      val v = versions.collectFirst { case (`name`, v) => v }.getOrElse(
        throw new IllegalArgumentException(s"'$name' is not part of this save"))
      model.write.overwrite().save(path(name, v))
      written.put(name, model)
    }

    /** Append every name's metadata row (its `rmse`/`f1` from `metrics`)
      * in one write, then serve the saved models from the cache; returns
      * the versions in `begin` order. Every name must have been written.
      */
    def commit(metrics: Map[String, Map[String, Double]],
        stage: String = "Staging"): Seq[Int] = {
      val rows = versions.zipWithIndex.map { case ((name, v), i) =>
        require(written.containsKey(name), s"no model written for '$name'")
        val m = metrics.getOrElse(name, Map.empty)
        MetaRow(name, v, stage, m.getOrElse("rmse", Double.NaN),
          m.getOrElse("f1", Double.NaN), firstSeq + i)
      }
      appendMeta(rows)
      versions.foreach { case (name, v) => cache.put(name, (v, written.get(name))) }
      versions.map(_._2)
    }
  }

  private def appendMeta(rows: Seq[MetaRow]): Unit =
    spark.createDataset(rows)(metaEncoder).write.mode("append").parquet(metaPath)

  /** Save a fitted model with its metrics; returns the version. The
    * one-model case of [[begin]].
    */
  def save(name: String, model: PipelineModel, metrics: Map[String, Double],
      stage: String = "Staging"): Int = {
    val pending = begin(name)
    pending.write(name, model)
    pending.commit(Map(name -> metrics), stage).head
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
    appendMeta(Seq(MetaRow(name, version, stage, Double.NaN, Double.NaN,
      nextVersionsAndSeq(Nil)._2)))

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
