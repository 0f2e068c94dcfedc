package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Unigram-LM (SentencePiece-style) subword tokenizer — the second
  * tokenizer family beside [[BpeOps]] (Kudo 2018 "Subword
  * Regularization"; Kudo & Richardson 2018 "SentencePiece"): seed a
  * large candidate-piece inventory from substring statistics, then
  * alternate (E) re-segmenting the corpus under current piece scores
  * with (M) re-estimating scores from the segmentations, pruning
  * low-mass pieces between rounds. BPE grows a vocabulary bottom-up by
  * merges; unigram shrinks one top-down by EM — the two families cover
  * the tokenizer-training designs in production use.
  *
  * '''Exactness contract (the oracle discipline).''' Published unigram
  * training is float EM (forward-backward expectations, log-prob
  * Viterbi). Every floating step here is replaced by its exact integer
  * counterpart so the DuckDB twin can replay training bit for bit:
  *  - E-step expectations → HARD counts under the best segmentation
  *    ([[graft.functions.UnigramSegment]]'s deterministic
  *    (bit-cost, n_pieces, lexicographic) Viterbi) — integer,
  *    mergeable by plain sum;
  *  - piece scores → integer bit-costs `bitlen(total) − bitlen(cnt)`
  *    (`length(bin(x))` on both engines — the x42 surprise-bits
  *    precedent);
  *  - pruning → the exact cross-multiplied rational
  *    `cnt · 10⁴ ≥ total · pruneBp` (a piece keeps ≥ pruneBp
  *    basis points of segmented mass or leaves the table).
  *
  * '''Scale shape.''' One corpus scan builds the distinct-word frame
  * (Heaps' law — orders of magnitude smaller than the corpus), staged
  * to parquet once; every EM round runs ON that frame: one
  * segmentation pass (a literal-table expression — no join, no
  * shuffle) plus one map-side-combined piece-count aggregate whose
  * result is the MODEL (≤ alphabet + maxSeed rows), collected under
  * the BPE-argmax / PQ-codebook collect-is-the-model discipline.
  * Corpus-sized work is exactly the one vocab shuffle regardless of
  * rounds. Apply-side, occurrences equi-join the per-word
  * segmentation ([[tokenCountsPerDoc]]) — the [[BpeOps]] Heaps split.
  *
  * '''Coverage floor.''' Every character seen in the corpus stays in
  * the table with count ≥ 1 even when no best segmentation uses it
  * (counts floor at 1, chars are never pruned) — so any word over the
  * training alphabet always segments. Reference behavior: SentencePiece
  * likewise never prunes single characters.
  */
object UnigramLmOps {

  /** Distinct-word frame (word, wcount), staged to parquet so the EM
    * rounds re-read a columnar handoff instead of rescanning the
    * corpus.
    */
  def stagedVocab(docs: DataFrame, textCol: String,
      stageDir: Option[String] = None): DataFrame =
    StageIO.stage(
      docs.select(explode(TextOps.tokensRegex(col(textCol))).as("word"))
        .groupBy("word").agg(count(lit(1)).as("wcount")),
      stageDir, "unigram-vocab")

  /** Seed piece inventory over a (word, wcount) frame: every substring
    * occurrence of length 1..maxPieceLen weighted by word count; ALL
    * single characters survive (the coverage floor's base), multi-char
    * candidates keep the top `maxSeed` by (cnt DESC, piece ASC) — the
    * deterministic frequent-substring seeding that stands in for
    * SentencePiece's suffix-array seed.
    */
  def seedPieces(vocab: DataFrame, maxPieceLen: Int,
      maxSeed: Int): DataFrame = {
    val w = col("word")
    val subs = flatten(transform(sequence(lit(1), length(w)), s =>
      transform(sequence(lit(1),
          least(lit(maxPieceLen), length(w) - s + lit(1))),
        l => w.substr(s, l))))
    val census = vocab.select(col("wcount"), explode(subs).as("piece"))
      .groupBy("piece").agg(sum("wcount").as("cnt"))
    census.filter(length(col("piece")) === 1)
      .unionByName(census.filter(length(col("piece")) >= 2)
        .orderBy(col("cnt").desc, col("piece")).limit(maxSeed))
  }

  /** bitlen(x) for x ≥ 1 — `length(bin(x))`'s integer value. */
  private def bitlen(x: Long): Long = 64L - java.lang.Long.numberOfLeadingZeros(x)

  /** Piece bit-costs of a collected table under its own total mass. */
  private def tableCosts(table: Array[(String, Long)])
      : (Array[String], Array[Long]) = {
    val total = table.map(_._2).sum
    (table.map(_._1),
      table.map { case (_, c) => bitlen(total) - bitlen(c) })
  }

  /** [[segmentVocab]] from a (piece, cnt) FRAME — the model-sized
    * collect applied for callers holding the persisted artifact (the
    * streaming maintainer, the apply path).
    */
  def segmentVocabTable(vocab: DataFrame, pieces: DataFrame): DataFrame =
    segmentVocab(vocab, collectTable(pieces))

  /** Viterbi-segment every distinct word under a collected piece table:
    * (word, wcount, pieces).
    */
  def segmentVocab(vocab: DataFrame,
      table: Array[(String, Long)]): DataFrame = {
    val (p, c) = tableCosts(table)
    vocab.select(col("word"), col("wcount"),
      graft.functions.UnigramExprs.unigramSegment(col("word"), p, c)
        .as("pieces"))
  }

  /** M-step: hard piece counts over the segmented vocab — Σ wcount per
    * piece occurrence. Integer and mergeable (a streaming maintainer
    * could log per-batch counts and sum, the NgramStream shape).
    */
  def pieceCounts(segmented: DataFrame): DataFrame =
    segmented.select(col("wcount"), explode(col("pieces")).as("piece"))
      .groupBy("piece").agg(sum("wcount").as("cnt"))

  private def collectTable(df: DataFrame): Array[(String, Long)] =
    df.orderBy("piece").collect()
      .map(r => (r.getString(0), r.getLong(1)))
    // bounded: ≤ |alphabet| + maxSeed rows — this IS the model step

  /** Full training run: seed → `rounds` × (segment → count → prune).
    * Returns the final (piece, cnt) table. Chars floor at count 1 and
    * never prune; a multi-char piece survives a round iff
    * `cnt · 10⁴ ≥ total · pruneBp` (exact integers).
    */
  def train(docs: DataFrame, textCol: String, maxPieceLen: Int = 4,
      maxSeed: Int = 64, rounds: Int = 2, pruneBp: Long = 50L,
      stageDir: Option[String] = None): DataFrame = {
    val spark = docs.sparkSession
    val vocab = stagedVocab(docs, textCol, stageDir)
    val chars = collectTable(seedPieces(vocab, 1, 0)).map(_._1)
    var table = collectTable(seedPieces(vocab, maxPieceLen, maxSeed))
    for (_ <- 1 to rounds) {
      val counted = collectTable(pieceCounts(segmentVocab(vocab, table)))
        .toMap
      val total = counted.valuesIterator.sum
      val kept = scala.collection.mutable.ArrayBuffer.empty[(String, Long)]
      chars.foreach(c => kept += ((c, math.max(counted.getOrElse(c, 0L), 1L))))
      table.iterator
        .filter { case (p, _) => p.length >= 2 }
        .foreach { case (p, _) =>
          val cnt = counted.getOrElse(p, 0L)
          if (cnt * 10000L >= total * pruneBp) kept += ((p, cnt))
        }
      table = kept.sortBy(_._1).toArray
    }
    spark.createDataFrame(table.toIndexedSeq).toDF("piece", "cnt")
  }

  /** Per-doc counts under BOTH apply paths — `(idCol, n_greedy,
    * n_viterbi)`: the greedy maximal-munch walk
    * ([[graft.functions.GreedySegment]] — the WordPiece-style linear
    * apply) beside the min-bit-cost Viterbi, from one distinct-word
    * pass. The pair is the production apply-path decision table:
    * greedy is cheaper per byte and streaming-friendly; Viterbi is the
    * trained objective — where they disagree (n_greedy ≠ n_viterbi)
    * is exactly the mass a deployment trades for the speed.
    */
  def segmentCountsPerDoc(docs: DataFrame, idCol: String, textCol: String,
      pieceTable: DataFrame): DataFrame = {
    val table = collectTable(pieceTable)
    val vocab = docs
      .select(explode(TextOps.tokensRegex(col(textCol))).as("word"))
      .groupBy("word").agg(count(lit(1)).as("wcount"))
    val (p, c) = tableCosts(table)
    val wp = vocab.select(col("word"),
      size(graft.functions.UnigramExprs.greedySegment(col("word"), p))
        .cast("long").as("_g"),
      size(graft.functions.UnigramExprs.unigramSegment(col("word"), p, c))
        .cast("long").as("_v"))
    docs.select(col(idCol),
        explode(TextOps.tokensRegex(col(textCol))).as("word"))
      .join(wp, Seq("word"))
      .groupBy(idCol)
      .agg(sum("_g").as("n_greedy"), sum("_v").as("n_viterbi"))
  }

  /** Per-doc piece counts under a trained (piece, cnt) table — the
    * apply path a training run re-pays per corpus pass, shaped exactly
    * like [[BpeOps.tokenCountsPerDoc]]: segmentation runs once per
    * DISTINCT word, occurrences equi-join the per-word count. Empty
    * docs carry no occurrence rows and are absent (the packing
    * convention).
    */
  def tokenCountsPerDoc(docs: DataFrame, idCol: String, textCol: String,
      pieceTable: DataFrame): DataFrame = {
    val table = collectTable(pieceTable)
    val vocab = docs
      .select(explode(TextOps.tokensRegex(col(textCol))).as("word"))
      .groupBy("word").agg(count(lit(1)).as("wcount"))
    val wp = segmentVocab(vocab, table)
      .select(col("word"), size(col("pieces")).cast("long").as("_w_tok"))
    docs.select(col(idCol),
        explode(TextOps.tokensRegex(col(textCol))).as("word"))
      .join(wp, Seq("word"))
      .groupBy(idCol)
      .agg(sum("_w_tok").as("n_pieces"))
  }
}
