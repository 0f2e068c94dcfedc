package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.operators.{SwapStore, UnigramLmOps}

/** Streaming maintenance of the [[UnigramLmOps]] piece-count table
  * under a FROZEN trained piece inventory — the resident form of
  * "ship the tokenizer, keep its usage statistics current": each
  * document batch Viterbi-segments its own words under the persisted
  * table and appends `(piece, cnt)` counts under
  * `storeDir/batch_id=<id>/`; a reader merges by plain sum. Hard-EM
  * counts are mergeable by construction (segmentation is a pure
  * per-word function of the frozen table), so the merged log over any
  * batch partition of a corpus equals the one-pass count table over
  * its union — the x122c hash gate pins this end to end, the
  * [[NgramStream]] discipline on the tokenizer surface.
  *
  * Same counter-log contract as every log here: a replayed batch
  * OVERWRITES its own partition (at-least-once in, exactly-once
  * effect), readers see only committed partitions, [[compact]] folds
  * the accumulated dirs into one pre-summed partition. The table
  * itself is NOT maintained by this stream — retraining is the
  * offline EM loop ([[UnigramLmOps.train]]); what a resident pipeline
  * needs per batch is segmentation mass, e.g. to decide WHEN drift
  * warrants retraining.
  */
object UnigramStream {

  /** Count one micro-batch of documents into the log under the frozen
    * `pieces` table. Overwrite-keyed by batch id: replay is a no-op.
    */
  def applyBatch(docs: DataFrame, textCol: String, pieces: DataFrame,
      storeDir: String, batchId: Long): Unit = {
    if (docs.isEmpty) return
    SwapStore.repair(docs.sparkSession, storeDir)
    val vocab = docs
      .select(explode(graft.operators.TextOps.tokensRegex(col(textCol)))
        .as("word"))
      .groupBy("word").agg(count(lit(1)).as("wcount"))
    UnigramLmOps.pieceCounts(
        UnigramLmOps.segmentVocabTable(vocab, pieces))
      .write.mode("overwrite").parquet(s"$storeDir/batch_id=$batchId")
  }

  /** The merged count table — `(piece, cnt)` summed over every
    * committed batch, or None before the first commit.
    */
  def readCounts(spark: SparkSession, storeDir: String): Option[DataFrame] = {
    SwapStore.repair(spark, storeDir)
    if (!CounterLog.hasData(spark, storeDir)) None
    else Some(spark.read.parquet(storeDir)
      .groupBy("piece")
      .agg(sum("cnt").cast("long").as("cnt")))
  }

  /** Fold every batch partition into ONE pre-summed partition keyed by
    * the max folded id — the [[NgramStream.compact]] maintenance story
    * (offline rule: no batch writing, no folded id replayable).
    */
  def compact(spark: SparkSession, storeDir: String,
      below: Long = Long.MaxValue): Unit = {
    SwapStore.repair(spark, storeDir)
    if (!CounterLog.hasData(spark, storeDir)) return
    val all = spark.read.parquet(storeDir)
      .filter(col("batch_id").cast("long") < below)
    if (all.isEmpty) return
    val maxId = all.agg(max(col("batch_id").cast("long"))).head().getLong(0)
    SwapStore.replace(spark, storeDir) { next =>
      all.groupBy("piece").agg(sum("cnt").cast("long").as("cnt"))
        .write.mode("overwrite").parquet(s"$next/batch_id=$maxId")
    }
  }

  /** Run count maintenance continuously over a streaming document
    * frame (foreachBatch → [[applyBatch]], the [[NgramStream]] driver
    * shape). Stream batch ids offset past a batch-0 seed.
    */
  def startCountMaintenance(docs: DataFrame, textCol: String,
      pieces: DataFrame, storeDir: String,
      checkpointDir: String): StreamingQuery =
    docs.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: Dataset[Row], batchId: Long) =>
        applyBatch(batch.toDF(), textCol, pieces, storeDir, batchId + 1L)
      }
      .start()
}
