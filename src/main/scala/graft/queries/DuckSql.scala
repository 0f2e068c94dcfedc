package graft.queries

/** The DuckDB-side SQL fragments the oracle queries share: the twins of
  * TextOps' tokenizers and HashExprs' shingles, the SimilarityOps/PqOps
  * vector folds (dot, norm, cosine, squared L2, sign bucket) and x126's
  * RRF fusion. Each is the single source of truth for its oracle formula
  * and is edited in lockstep with the engine-side operator it mirrors.
  */
private[queries] object DuckSql {

  /** TextOps.tokens twin. */
  val mdToks = "string_split(text, ' ')"
  /** TextOps.tokensNonEmpty twin — the span-surgery family's tokenizer of
    * record (empty/whitespace-only docs => zero tokens => disappear).
    */
  val mdToksNE =
    "list_filter(string_split(text, ' '), t -> len(t) > 0)"
  /** HashExprs.distinctShingles twin over a token list `t`. */
  val mdShingles =
    "list_distinct(list_transform(range(1, len(t)-1), i -> t[i]||' '||t[i+1]||' '||t[i+2]))"
  /** TextOps.tokensRegex twin. */
  val ddbWords =
    "list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> len(x) > 0)"

  /** x53/x54 PQ geometry: m subspaces over dim-64 vectors, size/m each. */
  val pqM = 16
  val pqSub = 4

  def ddbSum(l: String) = s"list_reduce($l, (x,y) -> x+y)"
  def ddbDot(a: String, b: String) =
    ddbSum(s"list_transform(list_zip($a,$b), z -> CAST(z[1] AS DOUBLE)*CAST(z[2] AS DOUBLE))")
  def ddbNorm2(a: String) =
    ddbSum(s"list_transform($a, v -> CAST(v AS DOUBLE)*CAST(v AS DOUBLE))")
  def ddbList(xs: Seq[String]) = xs.map(s => s"'$s'").mkString("[", ",", "]")
  /** SimilarityOps.cosine twin. */
  def ddbCos(a: String, b: String) =
    s"${ddbDot(a, b)} / (sqrt(${ddbNorm2(a)}) * sqrt(${ddbNorm2(b)}))"
  /** Exact squared-L2 twin of PqOps.dist2 (left-to-right double sum). */
  def ddbDist2(a: String, b: String) =
    ddbSum(s"list_transform(list_zip($a,$b), z -> (CAST(z[1] AS DOUBLE)-CAST(z[2] AS DOUBLE))*(CAST(z[1] AS DOUBLE)-CAST(z[2] AS DOUBLE)))")
  /** SimilarityOps.signBucket twin over the first `bits` components. */
  def ddbBucketN(v: String, bits: Int) = (0 until bits).map(i =>
    s"(CASE WHEN $v[${i + 1}] > 0 THEN ${1 << i} ELSE 0 END)").mkString(" + ")
  def ddbBucket(v: String) = ddbBucketN(v, 8)

  /** The RRF fusion CTE body (x126's oracle formula): `lexCte ⊔ semCte`
    * on (q_id, doc_id), each rank's 1/(60+rank) rounded half-up to bps.
    */
  def ddbFuseCte(lexCte: String, semCte: String) = s"""
    SELECT coalesce(l.q_id, s.q_id) AS q_id,
           coalesce(l.doc_id, s.doc_id) AS doc_id,
           l.lex_rank, s.sem_rank,
           CAST(coalesce((20000 + (60 + l.lex_rank))
                  // (2 * (60 + l.lex_rank)), 0)
                + coalesce((20000 + (60 + s.sem_rank))
                  // (2 * (60 + s.sem_rank)), 0) AS BIGINT) AS rrf_bp
    FROM $lexCte l FULL OUTER JOIN $semCte s
      ON l.q_id = s.q_id AND l.doc_id = s.doc_id"""
}
