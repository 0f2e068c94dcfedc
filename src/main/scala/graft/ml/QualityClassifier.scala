package graft.ml

import org.apache.spark.ml.classification.LogisticRegression
import org.apache.spark.ml.feature.VectorAssembler
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.operators.TextOps

/** MODEL-BASED quality gating — the classifier-score curation step real
  * corpora run (a learned scorer instead of hand-tuned ratio thresholds):
  * train a logistic regression on cheap text features with WEAK labels
  * drawn from the hand-crafted quality score's extremes, persist the
  * learned weights as a plain coefficient TABLE, and score the corpus as
  * an integer dot-product over those weights — no UDF, no model object on
  * the hot path, and (because the persisted weights are quantized
  * integers over integer features) a score any engine reproduces
  * bit-for-bit from the same artifact. The reference's classifier surface
  * (training.py:66-90, model_type="logreg") applied to curation.
  *
  * Scale design: training touches only the weak-label EXTREMES of the
  * corpus (one filtered pass; LBFGS over 4 features is driver-trivial at
  * any corpus size since each iteration is a map-side-combined
  * treeAggregate). Scoring is a one-row broadcast of the pivoted weight
  * table crossed into per-row codegen'd arithmetic — zero shuffles, and
  * the margin feeds the histogram gate ([[graft.operators.PackingOps]])
  * through a fixed integer bucketing, so no per-class rank window ever
  * sees the corpus.
  */
object QualityClassifier {

  /** Coefficients are persisted as round(w · 10⁶) — integer weights make
    * the margin exact integer arithmetic in every engine.
    */
  val weightScale = 1000000L

  /** Margin clamp / bucket width for the quantized gate score:
    * score_q = (clamp(margin, ±marginClamp) + marginClamp) div bucketWidth
    * — at most 10⁴+1 distinct values, the histogram-gate contract.
    */
  val marginClamp = 5000000000L
  val bucketWidth = 1000000L

  /** The integer, engine-portable feature columns (name → expression)
    * over a (text, n_chars) pair: capped length, non-stopword mass,
    * capped chars, and the top-bigram repetition count. All pure
    * `functions._` per-row arithmetic — codegen'd, no shuffle.
    */
  def features(textCol: Column, nCharsCol: Column): Seq[(String, Column)] = {
    val toks = TextOps.tokens(textCol)
    val nt = size(toks).cast("long")
    val sw = size(filter(toks, t => t.isInCollection(TextOps.stopwords)))
      .cast("long")
    Seq(
      "f_len" -> least(nt, lit(100L)),
      "f_nonstop" -> (nt - sw),
      "f_chars" -> least(nCharsCol.cast("long"), lit(500L)),
      // the fused native kernel (one counting pass) — the compositional
      // TextOps form is O(distinct-bigrams × bigrams) per doc and owns
      // the whole profile at corpus scale (HashExprsSpec: same values)
      "f_rep" -> graft.functions.HashExprs.topBigramCount(toks).cast("long"))
  }

  val featureNames: Seq[String] = Seq("f_len", "f_nonstop", "f_chars", "f_rep")

  /** Train on WEAK labels from the x9 quality rational's extremes
    * (quality ≥ hiBps/10⁴ → positive, ≤ loBps/10⁴ → negative, middle
    * dropped — pure integer cross-multiply, no float threshold) and
    * return the quantized coefficient table `(feature, w)` with an
    * `intercept` row. Fails loudly if either extreme is empty — a
    * degenerate threshold choice must not train a silent constant model.
    */
  /** Materialize the feature columns (plus the weak-label quality
    * rational as `_qnum`/`_qden`) onto `docs` — the ONE pass that
    * tokenizes. Everything downstream (training, scoring, gating) reads
    * columns: at corpus scale, stage this frame to parquet once
    * ([[trainWeak]] does; x46 shares one stage between train and score)
    * because the bigram repetition feature is the expensive kernel and
    * must not re-run per consumer (the x31 staging discipline).
    */
  def featurize(docs: DataFrame, textCol: String,
      nCharsCol: String): DataFrame = {
    val (qNum, qDen) = TextOps.qualityRat(col(textCol), col(nCharsCol))
    features(col(textCol), col(nCharsCol))
      .foldLeft(docs.filter(size(TextOps.tokens(col(textCol))) > 0)) {
        case (df, (n, e)) => df.withColumn(n, e)
      }
      .withColumn("_qnum", qNum).withColumn("_qden", qDen)
  }

  /** Train on a [[featurize]]d (ideally staged) frame. Weak labels come
    * from the quality rational's extremes (≥ hiBps/10⁴ positive,
    * ≤ loBps/10⁴ negative, middle dropped — integer cross-multiply).
    * The training set is BOUNDED (`maxTrainRows`, md5-keyed
    * deterministic sample) and coalesced: an LBFGS fit is a distributed
    * pass PER ITERATION, so an unbounded extremes set would cost
    * ~maxIter corpus passes for a 4-feature model a bounded sample
    * trains identically well. The keep-hash is keyed on the PER-ROW id
    * (`idCol`), not the feature values: the features are low-cardinality
    * integers, so a value-keyed hash keeps or drops every row sharing a
    * feature vector together — a value-correlated sample that deviates
    * arbitrarily from `maxTrainRows` on duplicate-heavy corpora, where
    * an id-keyed hash samples rows independently and stays row-uniform
    * (advisor r9). Fails loudly if either extreme is empty.
    */
  def trainWeakFeaturized(feat: DataFrame, loBps: Long, hiBps: Long,
      maxIter: Int = 100, maxTrainRows: Long = 100000L,
      idCol: String = "doc_id"): DataFrame = {
    require(loBps < hiBps, "weak-label extremes must be disjoint")
    val spark = feat.sparkSession
    val labeled0 = feat
      .withColumn("label",
        when(lit(10000L) * col("_qnum") >= lit(hiBps) * col("_qden"), 1.0)
          .when(lit(10000L) * col("_qnum") <= lit(loBps) * col("_qden"), 0.0))
      .filter(col("label").isNotNull)
      .select((col(idCol) +: col("label") +: featureNames.map(col)): _*)
    val n = labeled0.count()
    val labeled = (if (n > maxTrainRows) {
        val keepBps = ((maxTrainRows * 10000) / n).max(1L)
        labeled0.filter(
          pmod(conv(substring(md5(concat(lit("qc-train|"),
            col(idCol).cast("string"))), 1, 15), 16, 10)
            .cast("long"), lit(10000L)) < keepBps)
      } else labeled0)
      .drop(idCol)
      .coalesce(4)
    val classes = labeled.select("label").distinct().count()
    require(classes == 2,
      s"weak labels must cover both extremes, got $classes class(es)")
    val assembled = new VectorAssembler()
      .setInputCols(featureNames.toArray).setOutputCol("features")
      .transform(labeled)
    val model = new LogisticRegression()
      .setFeaturesCol("features").setLabelCol("label")
      .setMaxIter(maxIter)
      .fit(assembled)
    import spark.implicits._
    (("intercept", math.round(model.intercept * weightScale)) +:
      featureNames.zip(model.coefficients.toArray
        .map(c => math.round(c * weightScale))))
      .toDF("feature", "w")
  }

  /** [[trainWeakFeaturized]] from raw text: featurizes to a scratch
    * parquet stage first so the count / class-check / fit passes read
    * columns instead of re-running the tokenize+bigram kernel.
    */
  def trainWeak(docs: DataFrame, textCol: String, nCharsCol: String,
      loBps: Long, hiBps: Long, maxIter: Int = 100,
      maxTrainRows: Long = 100000L, idCol: String = "doc_id"): DataFrame = {
    trainWeakFeaturized(graft.operators.StageIO.stage(
        featurize(docs, textCol, nCharsCol).drop(textCol), None,
        "quality-feat"),
      loBps, hiBps, maxIter, maxTrainRows, idCol)
  }

  /** Score a [[featurize]]d frame with a persisted coefficient table:
    * appends the integer `margin` (= w_intercept + Σ w_f · f, weights
    * 10⁶-scaled) and its bucketed gate form `score_q`. The weight table
    * pivots to ONE row and broadcasts — the dot product is per-row
    * codegen'd arithmetic over materialized columns; nothing shuffles,
    * nothing collects, nothing re-tokenizes.
    */
  def scoreFeaturized(feat: DataFrame, weights: DataFrame): DataFrame = {
    val wide = weights.groupBy().pivot("feature").agg(first("w"))
      .select((col("intercept").as("_w0") +:
        featureNames.map(n => col(n).as(s"_w_$n"))): _*)
    val margin = featureNames.map(n => col(s"_w_$n") * col(n))
      .foldLeft(col("_w0"))(_ + _)
    feat.crossJoin(broadcast(wide))
      .withColumn("margin", margin)
      // integer `div` (never a float division + floor: a near-integer
      // double quotient could floor differently across engines); operands
      // are made non-negative by the clamp+offset so div == floor-div in
      // DuckDB (`//`) too
      .withColumn("score_q", expr(
        s"(least(greatest(margin, ${-marginClamp}L), ${marginClamp}L) " +
          s"+ ${marginClamp}L) div ${bucketWidth}L"))
      .drop("_w0" +: featureNames.map(n => s"_w_$n"): _*)
  }

  /** [[scoreFeaturized]] from raw text (one featurize pass inline). */
  def scoreMargin(docs: DataFrame, textCol: String, nCharsCol: String,
      weights: DataFrame): DataFrame =
    scoreFeaturized(featurize(docs, textCol, nCharsCol), weights)
      .drop(featureNames :+ "_qnum" :+ "_qden": _*)
}
