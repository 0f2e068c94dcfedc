package graft

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{AnnIndex, RetrievalOps, StageIO}
import graft.queries.Ext4Queries
import graft.streaming.PostingsStream

/** Operator-level scale probes: one operator call timed on any fixture
  * dir, for the 10× scaling tables in SCALE.md (a Bench row times a whole
  * query at the bench's fixed fixture). Usage:
  *
  *   tools/run_main.sh graft.Probe <sfDir> <probe> [args]
  *
  *  - `bm25 <modulus> [k]`: BM25 top-k with the query set HELD FIXED
  *    while the corpus scales (the x124 row's `doc_id % 101` query set
  *    grows with the corpus, so its benched pair work scales about
  *    quadratically). Pick the modulus so the query COUNT matches across
  *    dirs (101 at sf0.1's 5,000 docs ≈ 50 queries; 1010 at a 10×
  *    fixture's 50,000) — the matched-count discipline.
  *  - `mrr full|scale [sampleMod]`: the MRR gate, full population
  *    (x132's reference semantics) or scale form (DF-capped truth arm +
  *    q_id-residue sample + shared postings state, x132b's shape;
  *    `sampleMod` defaults to 3).
  *  - `fusion full|sampled|budgeted [sampleMod]`: the fusion-overlap
  *    gate, full population (x126c), the residue sample applied to both
  *    arms (x126d), or the sample judged with the budget verdict (x126e);
  *    `sampleMod` defaults to 2.
  *  - `delete none|del|ann-none|ann-del`: the deletion path's read-side
  *    cost — does the tombstone anti-join add a corpus-scale term to
  *    from-state reads? Postings (x134's `bm25TopKFromState`) or IVF-PQ
  *    probe (x134c) over a store built untimed; the `*del` variants
  *    commit one tombstone batch retracting every id % 7 == 3 without
  *    compacting, so the timed read pays the live anti-join. The claim:
  *    `del` ≈ `none` at every scale.
  *
  * Each probe builds its fixture untimed, then times one body twice —
  * cold, then steady — through [[Telemetry.measure]], reclaiming scratch
  * after each run; the two summaries must agree. The output is one line,
  * `PROBE: {...}`: the probe's parameters, its summary, `cold_sec` and
  * `steady_sec`, and each run's channels under `cold` and `steady`.
  */
object Probe {

  /** A probe after its untimed setup: the fields that describe it, and
    * the timed body, which returns the summary fields.
    */
  private final case class Setup(fields: Seq[(String, Any)],
      body: () => Seq[(String, Any)])

  private val probes: Map[String, (SparkSession, String, Seq[String]) => Setup] =
    Map("bm25" -> bm25, "mrr" -> mrr, "fusion" -> fusion, "delete" -> delete)

  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: graft.Probe <sfDir> <probe> [args]; " +
      s"probes: ${probes.keys.toSeq.sorted.mkString(", ")}")
    val spark = GraftSession.build(s"graft-probe-${args(1)}")
    try println(run(spark, args(0), args(1), args.drop(2).toSeq))
    finally spark.stop()
  }

  /** Run probe `name` with `args` on the fixture `dir`; returns the
    * `PROBE: {...}` line.
    */
  def run(spark: SparkSession, dir: String, name: String,
      args: Seq[String]): String = {
    val probe = probes.getOrElse(name, throw new IllegalArgumentException(
      s"unknown probe '$name'; one of ${probes.keys.toSeq.sorted.mkString(", ")}"))
    val setup = probe(spark, dir, args)
    def timed() = {
      val r = Telemetry.measure(setup.body())
      StageIO.cleanScratch(spark)
      r
    }
    val (cold, coldCh) = timed()
    val (steady, steadyCh) = timed()
    require(cold == steady, s"$name: the summary differs between the cold " +
      s"and the steady run: $cold vs $steady")
    val fields = Seq("dir" -> dir, "probe" -> name) ++ setup.fields ++
      steady ++ Seq("cold_sec" -> coldCh.wallSec,
        "steady_sec" -> steadyCh.wallSec, "cold" -> coldCh, "steady" -> steadyCh)
    "PROBE: " + fields.map { case (k, v) => s"\"$k\":${json(v)}" }
      .mkString("{", ",", "}")
  }

  private def json(v: Any): String = v match {
    case null => "null"
    case s: String => "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
    case c: Telemetry.Channels => c.json
    case x => x.toString
  }

  /** `variant`, checked against `allowed`, and an optional `sampleMod`
    * operand that `full` rejects: full population means no sample, and a
    * stray operand would echo misleading provenance into the JSON.
    */
  private def variantArgs(probe: String, args: Seq[String],
      allowed: Set[String]): (String, Option[Long]) = {
    require(args.nonEmpty && allowed(args.head) && args.length <= 2,
      s"$probe ${allowed.toSeq.sorted.mkString("|")} [sampleMod]; got: " +
        args.mkString(" "))
    require(args.head != "full" || args.length == 1,
      "sampleMod is only meaningful for sampled variants")
    (args.head, args.lift(1).map(_.toLong))
  }

  private def rowFields(r: Row): Seq[(String, Any)] =
    r.schema.fieldNames.toSeq.zip(r.toSeq)

  private def bm25(spark: SparkSession, dir: String, args: Seq[String]): Setup = {
    require(args.nonEmpty && args.length <= 2, s"bm25 <modulus> [k]; got: ${args.mkString(" ")}")
    val mod = args.head.toLong
    val k = args.lift(1).map(_.toInt).getOrElse(3)
    val docs = Tables.documents(spark, dir)
    val qids = docs.filter(pmod(col("doc_id"), lit(mod)) === 0)
      .select(col("doc_id").as("q_id"))
    // full collect of the tiny top-k output: all upstream work materializes
    Setup(Seq("modulus" -> mod, "queries" -> qids.count()), () =>
      Seq("rows" -> RetrievalOps.bm25TopK(docs, qids, k).collect().length.toLong))
  }

  private def mrr(spark: SparkSession, dir: String, args: Seq[String]): Setup = {
    val (variant, mod) = variantArgs("mrr", args, Set("full", "scale"))
    val sampleMod = if (variant == "scale") mod.orElse(Some(3L)) else None
    Setup(Seq("variant" -> variant, "sample_mod" -> sampleMod.getOrElse(0L)), () =>
      Seq("queries" -> (if (variant == "full")
        Ext4Queries.mrrGate(spark, dir, cap = None, sampleMod = None,
          fromSharedState = false)
      else
        Ext4Queries.mrrGate(spark, dir, cap = Some(8L), sampleMod = sampleMod,
          fromSharedState = true)).collect().length.toLong))
  }

  private def fusion(spark: SparkSession, dir: String, args: Seq[String]): Setup = {
    val (variant, mod) =
      variantArgs("fusion", args, Set("full", "sampled", "budgeted"))
    val sampleMod = if (variant == "full") None else mod.orElse(Some(2L))
    // the single gate row, every column
    Setup(Seq("variant" -> variant, "sample_mod" -> sampleMod.getOrElse(0L)), () =>
      rowFields((if (variant == "budgeted")
        Ext4Queries.fusionGateBudgeted(spark, dir, sampleMod)
      else Ext4Queries.fusionOverlapGate(spark, dir, sampleMod)).collect().head))
  }

  private def delete(spark: SparkSession, dir: String, args: Seq[String]): Setup = {
    val variants = Set("none", "del", "ann-none", "ann-del")
    require(args.length == 1 && variants(args.head),
      s"delete ${variants.toSeq.sorted.mkString("|")}; got: ${args.mkString(" ")}")
    val variant = args.head
    val del = variant.endsWith("del")
    // a store per variant, outside scratch: it must outlive the
    // cleanScratch between the timed runs
    val store = StageIO.artifactDir(spark, s"probe_delete_$variant", dir)
    val body: () => Long = if (variant.startsWith("ann-")) {
      val emb = Tables.embeddings(spark, dir)
      AnnIndex.init(spark, emb.filter(col("vec_id") % 3 === 0),
        "vec_id", "embedding", store, kCells = 8, m = 16, kCodewords = 64)
      AnnIndex.appendBatch(spark, emb.filter(col("vec_id") % 3 === 1),
        "vec_id", "embedding", store, batchId = 1L)
      AnnIndex.appendBatch(spark, emb.filter(col("vec_id") % 3 === 2),
        "vec_id", "embedding", store, batchId = 2L)
      if (del)
        AnnIndex.deleteBatch(spark,
          emb.filter(pmod(col("vec_id"), lit(7)) === 3).select("vec_id"),
          "vec_id", store, batchId = 3L)
      // a fixed 10-query budget at any scale (the matched-count discipline)
      val queries = emb.filter(col("vec_id") < 10)
        .select(col("vec_id").as("qid"), col("embedding").as("qv"))
      () => AnnIndex.probe(spark, queries, "qid", "qv", store, "vec_id",
        5, nprobe = 2, excludeSelf = true).count()
    } else {
      val docs = Tables.documents(spark, dir)
      (0L to 2L).foreach { k =>
        PostingsStream.applyBatch(
          docs.filter(pmod(col("doc_id"), lit(3)) === k), store, k)
      }
      if (del)
        PostingsStream.deleteBatch(
          docs.filter(pmod(col("doc_id"), lit(7)) === 3).select("doc_id"),
          store, 0L)
      val kept =
        if (del) docs.filter(pmod(col("doc_id"), lit(7)) =!= 3) else docs
      val qids = kept.filter(pmod(col("doc_id"), lit(101)) === 0)
        .select(col("doc_id").as("q_id"))
      () => {
        val tf = PostingsStream.readTf(spark, store)
          .getOrElse(sys.error("probe: empty tf log"))
        val dl = PostingsStream.readDl(spark, store)
          .getOrElse(sys.error("probe: empty dl log"))
        RetrievalOps.bm25TopKFromState(tf, dl, kept, qids, 3).count()
      }
    }
    Setup(Seq("variant" -> variant), () => Seq("rows" -> body()))
  }
}
