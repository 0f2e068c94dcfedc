package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.operators.DedupOps

/** Streaming SHARED-SPAN gate — the ingest-time twin of the batch span
  * family ([[DedupOps.sharedSpanPairs]]/x29, [[DedupOps.spanMatches]]/x35):
  * arriving documents are checked for verbatim runs of `minSpan`+ tokens
  * against a known reference corpus BEFORE they land — the substring-level
  * leak/copy check that set-overlap decontamination
  * ([[DecontaminationStream]]) misses when global token overlap stays low
  * (a single copied paragraph inside an otherwise-original document).
  *
  * Each micro-batch runs the EXACT batch kernel against the static
  * reference frame, so gate decisions at ingest equal what the batch pass
  * would have decided — the same code-path parity contract as every other
  * streaming twin here. Clean rows append to `cleanDir`, flagged rows to
  * `flaggedDir` (kept, not dropped — verbatim-copy candidates are audit
  * material), both via batchId-keyed OVERWRITE partitions so foreachBatch
  * replays are idempotent.
  *
  * Scale shape: per batch one inverted window-index equi-join of
  * O(batch windows) against O(reference windows); the reference-only
  * gate keeps no streaming state — the immutable reference index IS the
  * state. Back `reference` with parquet (or stage it) so it is not
  * recomputed per batch; `maxWindowDf` caps reference-side boilerplate
  * fan-out.
  *
  * INTRA-STREAM span state ([[applyBatchStateful]]): copier pairs
  * arriving in DIFFERENT micro-batches need history, and span runs need
  * positions — but not text: each batch persists its inverted WINDOW
  * INDEX (8-byte md5-60 fingerprints + positions, content-free) to a
  * batchId-keyed log, and later batches probe that log through the same
  * islands kernel ([[DedupOps.spanMatchesIndexed]]). The log is the
  * bounded-state dial: `maxHistoryBatches` evicts partitions past the
  * horizon (the watermark trade every streaming dedup makes — a copier
  * pair farther apart than the horizon is missed; the batch x29 pass
  * over landed data remains the exhaustive check). A replayed batch
  * reads history strictly BELOW its own id, so at-least-once delivery
  * never matches a document against its previous attempt's state.
  */
object SpanStream {

  /** Gate one micro-batch; public so batch backfills replay history
    * through the identical decision path.
    */
  def applyBatch(batch: DataFrame, batchId: Long, reference: DataFrame,
      textCol: String, idCol: String, windowLen: Int, minSpan: Long,
      maxWindowDf: Option[Long], cleanDir: String,
      flaggedDir: String): Unit =
    if (!batch.isEmpty) {
      val b = batch.persist()
      val flagged = DedupOps.spanMatches(b, reference, textCol, idCol,
          windowLen, maxWindowDf)
        .filter(col("max_span") >= minSpan)
        .select(col("probe_id").as(idCol)).distinct()
        .persist()
      try {
        b.join(flagged, Seq(idCol), "left_anti")
          .write.mode("overwrite").parquet(s"$cleanDir/batch=$batchId")
        b.join(flagged, Seq(idCol), "left_semi")
          .write.mode("overwrite").parquet(s"$flaggedDir/batch=$batchId")
      } finally {
        flagged.unpersist()
        b.unpersist()
      }
    }

  /** [[applyBatch]] plus intra-stream state: the batch is checked against
    * the static `reference` AND every prior batch inside the history
    * horizon, and against ITSELF (in-batch pairs — the larger id flags,
    * the keep-first convention), then its own window index joins the log.
    * Flag decisions follow the batch family: a cross-batch copier flags
    * the ARRIVING document (the earlier one already landed clean).
    */
  def applyBatchStateful(batch: DataFrame, batchId: Long,
      reference: Option[DataFrame], textCol: String, idCol: String,
      windowLen: Int, minSpan: Long, maxWindowDf: Option[Long],
      cleanDir: String, flaggedDir: String, indexDir: String,
      maxHistoryBatches: Option[Long] = None): Unit =
    if (!batch.isEmpty) {
      val spark = batch.sparkSession
      val b = batch.persist()
      try {
        // ONE window-index kernel per batch: computed once, persisted
        // (overwrite — replay-idempotent, and reads below see history
        // strictly under batchId), then EVERY probe below reads the
        // parquet back — the previous shape ran the tokenize+shingle+md5
        // kernel three times per batch and leaked one scratch stage per
        // micro-batch through the capped intra-batch path (review r9)
        DedupOps.windowIndex(b, textCol, idCol, windowLen, idCol, "pos")
          .write.mode("overwrite").parquet(s"$indexDir/batch=$batchId")
        val own = spark.read.parquet(s"$indexDir/batch=$batchId")
        def capRef(idx: DataFrame): DataFrame = maxWindowDf.fold(idx) { cap =>
          val hot = idx.groupBy("h")
            .agg(count_distinct(col("ref_id")).as("df"))
            .filter(col("df") > cap).select("h")
          idx.join(hot, Seq("h"), "left_anti")
        }
        val probeIdx = own.select(col(idCol).as("probe_id"),
          col("pos").as("pp"), col("h"))
        val history = spark.read.parquet(indexDir)
          .filter(col("batch").cast("long") < batchId &&
            maxHistoryBatches.fold(lit(true))(h =>
              col("batch").cast("long") >= batchId - h))
          .select(col(idCol).as("ref_id"), col("pos").as("pr"), col("h"))
        val refIdx = capRef(reference.fold(history) { r =>
          history.unionByName(DedupOps.windowIndex(r, textCol, idCol,
            windowLen, "ref_id", "pr"))
        })
        val crossFlags = DedupOps.spanMatchesIndexed(probeIdx, refIdx,
            windowLen)
          .filter(col("max_span") >= minSpan)
          .select(col("probe_id").as(idCol))
        // in-batch pairs off the SAME stored index: self-matches and the
        // symmetric twin drop at the pair level; the larger id flags
        // (the keep-first convention, as sharedSpanPairs' doc_b)
        val ownRef = capRef(own.select(col(idCol).as("ref_id"),
          col("pos").as("pr"), col("h")))
        val intraFlags = DedupOps.spanMatchesIndexed(probeIdx, ownRef,
            windowLen)
          .filter(col("probe_id") > col("ref_id") &&
            col("max_span") >= minSpan)
          .select(col("probe_id").as(idCol))
        val flagged = crossFlags.unionByName(intraFlags).distinct().persist()
        try {
          b.join(flagged, Seq(idCol), "left_anti")
            .write.mode("overwrite").parquet(s"$cleanDir/batch=$batchId")
          b.join(flagged, Seq(idCol), "left_semi")
            .write.mode("overwrite").parquet(s"$flaggedDir/batch=$batchId")
        } finally { flagged.unpersist(); () }
        // evict log partitions past the horizon — the bounded-state dial
        maxHistoryBatches.foreach { h =>
          CounterLog.batchIds(spark, indexDir, "batch")
            .filter(_ < batchId - h)
            .foreach(id => CounterLog.retire(spark, s"$indexDir/batch=$id"))
        }
      } finally { b.unpersist(); () }
    }

  /** Run the STATEFUL gate continuously ([[applyBatchStateful]]). */
  def startStatefulGate(docs: DataFrame, reference: Option[DataFrame],
      textCol: String, idCol: String, windowLen: Int, minSpan: Long,
      cleanDir: String, flaggedDir: String, indexDir: String,
      checkpointDir: String, maxWindowDf: Option[Long] = None,
      maxHistoryBatches: Option[Long] = None): StreamingQuery =
    docs.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: Dataset[Row], batchId: Long) =>
        applyBatchStateful(batch.toDF(), batchId, reference, textCol, idCol,
          windowLen, minSpan, maxWindowDf, cleanDir, flaggedDir, indexDir,
          maxHistoryBatches)
      }
      .start()

  /** Run the gate continuously over a streaming `docs` frame (columns
    * must include `idCol` and `textCol`).
    */
  def startGate(docs: DataFrame, reference: DataFrame, textCol: String,
      idCol: String, windowLen: Int, minSpan: Long,
      cleanDir: String, flaggedDir: String, checkpointDir: String,
      maxWindowDf: Option[Long] = None): StreamingQuery =
    docs.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: Dataset[Row], batchId: Long) =>
        applyBatch(batch.toDF(), batchId, reference, textCol, idCol,
          windowLen, minSpan, maxWindowDf, cleanDir, flaggedDir)
      }
      .start()
}
