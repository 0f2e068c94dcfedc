package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.ml.{ModelRegistry, WeatherModels}
import graft.sources.SyntheticWeather

class MlSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  // 10 cities × 30 steps = 300 rows — enough for the full feature tier
  lazy val featured = WeatherModels.featuresWithFallback(
    SyntheticWeather.batches(spark, 30)).cache()

  test("M1: expanding time-series splits are ordered and disjoint") {
    val splits = WeatherModels.timeSeriesSplits(featured, nSplits = 5)
    assert(splits.length == 5)
    var prevTrain = 0L
    for ((train, valid) <- splits) {
      val tn = train.count(); val vn = valid.count()
      assert(tn > prevTrain, "training window must expand")
      assert(vn > 0)
      val maxTrainTs = train.agg(org.apache.spark.sql.functions.max("timestamp"))
        .head().getLong(0)
      val minValidTs = valid.agg(org.apache.spark.sql.functions.min("timestamp"))
        .head().getLong(0)
      assert(maxTrainTs <= minValidTs, "validation must come after training")
      prevTrain = tn
    }
  }

  test("M4/M5: fallback ladder lightens features; <20 rows is rejected") {
    val tiny = SyntheticWeather.batches(spark, 4).limit(35)
    val light = WeatherModels.featuresWithFallback(tiny, inference = true)
    assert(light.columns.contains("temperature_lag2"))
    assert(!light.columns.contains("temperature_lag3"))
    intercept[IllegalArgumentException] {
      WeatherModels.featuresWithFallback(SyntheticWeather.batches(spark, 1).limit(10))
    }
  }

  test("M2/M6/M7: regressor trains, scores in-plan, metrics in sane band") {
    val feats = WeatherModels.featureCols(featured)
    assert(feats.nonEmpty)
    val model = WeatherModels.regressorPipeline(feats, numTrees = 20).fit(featured)
    val scored = model.transform(featured) // M6: appends pred col, J1 obsolete
    assert(scored.columns.contains("pred_temperature"))
    val m = WeatherModels.regressionMetrics(scored)
    // temperatures span ~[10,45]; an in-sample forest must beat ~half range
    assert(m("mae") > 0 && m("mae") < 10, s"mae=${m("mae")}")
    assert(m("rmse") >= m("mae"))
  }

  test("M3: classifier trains and decodes string predictions") {
    val feats = WeatherModels.featureCols(featured)
    val model = WeatherModels.classifierPipeline(feats, numTrees = 20).fit(featured)
    val scored = WeatherModels.decodePredictions(model, model.transform(featured))
    val preds = scored.select("pred_condition").distinct()
      .collect().map(_.getString(0)).toSet
    assert(preds.subsetOf(SyntheticWeather.conditions.toSet))
    val m = WeatherModels.classificationMetrics(scored)
    assert(m("accuracy") > 0.2 && m("accuracy") <= 1.0) // > random over 5 classes
  }

  test("featuresForModel recovers the training tier regardless of window size") {
    import org.apache.spark.sql.functions.col
    // train on the MIDDLE tier (35 rows → lags {1,2}, rollWindow 2)
    val small = WeatherModels.featuresWithFallback(
      SyntheticWeather.batches(spark, 4).limit(35))
    val feats = WeatherModels.featureCols(small)
    assert(feats.exists(_.endsWith("_lag2")) && !feats.exists(_.endsWith("_lag3")))
    val model = WeatherModels.regressorPipeline(feats, numTrees = 5).fit(small)
    // score a LARGE window: naive re-laddering would build lag3 features
    // and crash the assembler; featuresForModel must rebuild the lag2 tier
    val big = SyntheticWeather.batches(spark, 30)
    val scored = model.transform(WeatherModels.featuresForModel(model, big))
    assert(scored.count() == big.count())
    assert(scored.filter(col("pred_temperature").isNull).count() == 0)
  }

  test("M3 alt: logistic regression classifier trains and scores") {
    val feats = WeatherModels.featureCols(featured)
    val model = WeatherModels.logisticPipeline(feats, maxIter = 50).fit(featured)
    val scored = model.transform(featured)
    val m = WeatherModels.classificationMetrics(scored)
    assert(m("accuracy") > 0.15 && m("accuracy") <= 1.0)
    assert(m("f1") >= 0.0 && m("f1") <= 1.0)
  }

  test("M8/M9: registry versioning, best-by-metric, stage promotion + load") {
    val root = java.nio.file.Files.createTempDirectory("graft-registry").toString
    val reg = new ModelRegistry(spark, root)
    val feats = WeatherModels.featureCols(featured)
    val model = WeatherModels.regressorPipeline(feats, numTrees = 5).fit(featured)
    val v1 = reg.save("temp_rf", model, Map("rmse" -> 3.0))
    val v2 = reg.save("temp_rf", model, Map("rmse" -> 2.0))
    assert(v1 == 1 && v2 == 2)
    assert(reg.bestVersion("temp_rf", "rmse", ascending = true).contains(2))
    reg.promote("temp_rf", 2)
    val loaded = reg.load("temp_rf")
    assert(loaded.isDefined)
    assert(loaded.get.transform(featured).columns.contains("pred_temperature"))
  }

  test("a registry rooted at a file: URI sees its own metadata") {
    val root = "file:" + java.nio.file.Files.createTempDirectory("graft-uri").toString
    val reg = new ModelRegistry(spark, root)
    val feats = WeatherModels.featureCols(featured)
    val model = WeatherModels.regressorPipeline(feats, numTrees = 2).fit(featured)
    assert(reg.save("temp_rf", model, Map("rmse" -> 3.0)) == 1)
    assert(reg.save("temp_rf", model, Map("rmse" -> 2.0)) == 2)
    assert(reg.load("temp_rf").isDefined)
    assert(new ModelRegistry(spark, root).load("temp_rf").isDefined) // from disk
    reg.logFolds("temp_rf", 2, Seq(Map("rmse" -> 2.0)))
    assert(reg.foldHistory("temp_rf", 2).count() == 1)
  }

  test("a promotion outranks a save row another process wrote with a larger clock") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft-seq").toString
    val reg = new ModelRegistry(spark, root)
    val feats = WeatherModels.featureCols(featured)
    val m1 = WeatherModels.regressorPipeline(feats, numTrees = 2).fit(featured)
    val m2 = WeatherModels.regressorPipeline(feats, numTrees = 3).fit(featured)
    assert(reg.save("temp_rf", m1, Map("rmse" -> 2.0)) == 1)
    // v1's save row as an earlier JVM would have stamped it: its nanoTime
    // origin may sit far above this JVM's
    Seq(("temp_rf", 1, "Staging", 2.0, Double.NaN, Long.MaxValue / 2))
      .toDF("name", "version", "stage", "rmse", "f1", "saved_at")
      .write.mode("append").parquet(s"$root/_registry")
    assert(reg.save("temp_rf", m2, Map("rmse" -> 3.0)) == 2)
    reg.promote("temp_rf", 1)
    // Production (v1) beats the newer Staging v2, in this and a fresh registry
    assert(reg.load("temp_rf").map(_.uid).contains(m1.uid))
    assert(new ModelRegistry(spark, root).load("temp_rf").map(_.uid).contains(m1.uid))
  }

  test("M1+M2: cross-validated regressor produces per-fold metrics") {
    val (_, folds) = WeatherModels.crossValidateRegressor(
      featured, numTrees = 5, nSplits = 3)
    assert(folds.length == 3)
    assert(folds.forall(f => f("rmse") > 0 && !f("rmse").isNaN))
  }

  test("IVF centroids come from a seeded KMeans fit: deterministic, assignable, registry-persistable") {
    import graft.operators.SimilarityOps
    val emb = Tables.embeddings(spark, SparkTestSession.sf0001)
    def key(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0),
        r.getAs[scala.collection.Seq[Float]]("cv").toVector))
      .sortBy(_._1).toSeq
    val c1 = SimilarityOps.trainCentroids(emb, "embedding", k = 4, seed = 42L)
    val c2 = SimilarityOps.trainCentroids(emb, "embedding", k = 4, seed = 42L)
    assert(key(c1) == key(c2), "fixed seed + init must reproduce the fit")
    // learned cells feed the existing assignment operator
    val assigned = SimilarityOps.assignCentroids(emb, "vec_id", "embedding", c1)
    assert(assigned.count() == emb.count())
    val cells = assigned.select("cent_id").distinct()
      .collect().map(_.getLong(0)).toSet
    assert(cells.size > 1 && cells.subsetOf((0L until 4L).toSet),
      s"a learned 4-cell index should spread the corpus: $cells")
    // the quantizer persists through the registry like any other model
    val root = java.nio.file.Files.createTempDirectory("graft-ivf").toString
    val reg = new ModelRegistry(spark, root)
    val v = reg.save("ivf_quantizer",
      SimilarityOps.trainCentroidsModel(emb, "embedding", k = 4, seed = 42L),
      Map.empty)
    val loaded = reg.load("ivf_quantizer")
    assert(loaded.isDefined && v == 1)
    assert(key(SimilarityOps.centroidTable(loaded.get, spark)) == key(c1))
  }

  test("x46: weak-label training scores the corpus as an exact integer dot product") {
    import org.apache.spark.sql.functions._
    import graft.ml.QualityClassifier
    val sf = SparkTestSession.sf0001
    val docs = Tables.documents(spark, sf)
      .filter(size(graft.operators.TextOps.tokens(col("text"))) > 0)
    val weights = QualityClassifier.trainWeak(docs, "text", "n_chars",
      loBps = 5500L, hiBps = 8000L)
    val wmap = weights.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(wmap.keySet ==
      Set("intercept", "f_len", "f_nonstop", "f_chars", "f_rep"))
    val scored = QualityClassifier.scoreMargin(
      docs.select("doc_id", "text", "n_chars"), "text", "n_chars", weights)
    // independent margin recompute from the RAW text, pure Scala — the
    // in-plan dot product must match bit for bit on integer arithmetic
    val sample = scored.select("doc_id", "text", "n_chars", "margin")
      .orderBy("doc_id").limit(20).collect()
    for (r <- sample) {
      val toks = r.getString(1).split(" ", -1).toSeq
      val nt = toks.size.toLong
      val sw = toks.count(graft.operators.TextOps.stopwords.contains).toLong
      val rep = if (nt < 2) 0L
        else toks.sliding(2).map(_.mkString(" ")).toSeq
          .groupBy(identity).values.map(_.size).max.toLong
      val feats = Map("f_len" -> math.min(nt, 100L), "f_nonstop" -> (nt - sw),
        "f_chars" -> math.min(r.getLong(2), 500L), "f_rep" -> rep)
      val expected = wmap("intercept") +
        feats.map { case (n, v) => wmap(n) * v }.sum
      assert(r.getLong(3) == expected,
        s"doc ${r.getLong(0)}: margin ${r.getLong(3)} != $expected")
    }
    // the learned model must actually separate the weak extremes: mean
    // margin of positives above mean margin of negatives
    val (qNum, qDen) = graft.operators.TextOps.qualityRat(col("text"),
      col("n_chars"))
    val byLabel = QualityClassifier.scoreMargin(
        docs.select("doc_id", "text", "n_chars"), "text", "n_chars", weights)
      .withColumn("lbl",
        when(lit(10000L) * qNum >= lit(8000L) * qDen, 1)
          .when(lit(10000L) * qNum <= lit(5500L) * qDen, 0))
      .filter(col("lbl").isNotNull)
      .groupBy("lbl").agg(avg(col("margin")).as("m"))
      .collect().map(r => r.getInt(0) -> r.getDouble(1)).toMap
    assert(byLabel(1) > byLabel(0),
      s"positives must out-score negatives: $byLabel")
    // degenerate thresholds (one class) fail loudly, never a constant model
    intercept[IllegalArgumentException] {
      QualityClassifier.trainWeak(docs, "text", "n_chars",
        loBps = 1L, hiBps = 9999L)
    }
  }

  test("M7+: per-fold metrics are logged as run artifacts and queryable") {
    val root = java.nio.file.Files.createTempDirectory("graft-folds").toString
    val reg = new ModelRegistry(spark, root)
    val feats = WeatherModels.featureCols(featured)
    val model = WeatherModels.regressorPipeline(feats, numTrees = 5).fit(featured)
    val folds = Seq(Map("rmse" -> 3.1, "mae" -> 2.0), Map("rmse" -> 2.7, "mae" -> 1.8))
    val v = reg.save("temp_rf", model, Map("rmse" -> 2.9))
    reg.logFolds("temp_rf", v, folds)
    val hist = reg.foldHistory("temp_rf", v).collect()
    assert(hist.length == 4) // 2 folds x 2 metrics
    assert(hist.map(r => (r.getInt(0), r.getString(1), r.getDouble(2))).toSeq ==
      Seq((0, "mae", 2.0), (0, "rmse", 3.1), (1, "mae", 1.8), (1, "rmse", 2.7)))
  }
}
