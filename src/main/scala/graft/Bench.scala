package graft
import org.apache.spark.sql.SparkSession

object Bench {
  /** The HONEST bench action (judge r14 #2): force EVERY output column to
    * materialize, then reduce to one row. The old `df.count()` action let
    * Catalyst prune any projection a count doesn't need, under-measuring
    * projection-heavy queries 3–15× (measured at sf0.1: x97 0.14 s
    * counted vs 2.07 s materialized, x9 0.16→1.10, x41 0.13→0.84, x96
    * 0.80→2.31, the LM family ~5×) — the bench was timing a plan the
    * user never runs. XOR of per-column xxhash64 over a string cast
    * forces every column through the projection; `bit_xor` reduces
    * without ANSI overflow risk; measured overhead ~0.3 s on a
    * 5000-row × 20-col output. BENCH_NOTES records the series
    * discontinuity.
    */
  private[graft] def materialize(df: org.apache.spark.sql.DataFrame): Unit = {
    import org.apache.spark.sql.functions._
    val cs = df.schema.fields
    if (cs.isEmpty) { df.count(); () }
    else {
      // xxhash64 natively recurses into arrays/structs, so vector
      // columns hash at element cost; the string cast is only for map
      // types (hashing maps is disallowed) — casting ARRAYS to string
      // formatted megabyte literals per row and charged x53 +14 s of
      // pure rendering, which is not a cost any user plan pays
      def hasMap(t: org.apache.spark.sql.types.DataType): Boolean = t match {
        case _: org.apache.spark.sql.types.MapType => true
        case a: org.apache.spark.sql.types.ArrayType => hasMap(a.elementType)
        case st: org.apache.spark.sql.types.StructType =>
          st.fields.exists(f => hasMap(f.dataType))
        case _ => false
      }
      val h = cs.map { f =>
        val c = df.col(s"`${f.name}`")
        xxhash64(if (hasMap(f.dataType)) c.cast("string") else c)
      }.reduce(_.bitwiseXOR(_))
      df.select(h.as("_h")).agg(expr("bit_xor(_h)")).collect()
      ()
    }
  }
  /** Pre-run idle gate (judge r11 #2): the r11 final bench started 4 s
    * after a 14-minute Verify run finished, and the prime suspect for
    * its stage-writer inflation was page-cache writeback from Verify's
    * writes draining INTO the timed region. Before each timed pass:
    * `sync` (flush this JVM's own page-cache footprint — by the time
    * Bench runs, Verify's writes are another process's history, but the
    * warmup above wrote scratch too), then poll until system Dirty
    * drops under [[GateDirtyKb]] or [[GateTimeoutSec]] elapses. Returns
    * (dirty KB before, dirty KB after, seconds waited, sync exit code)
    * for the artifact — the gate must be VISIBLE in the JSON, not just
    * run.
    */
  private def idleGate(): (Long, Long, Double, Int) = {
    val before = Telemetry.dirtyKb()
    val syncRc =
      try new ProcessBuilder("sync").start().waitFor()
      catch { case _: Throwable => -1 }
    val t0 = System.nanoTime()
    var now = Telemetry.dirtyKb()
    // a -1 (no /proc) must not spin the full timeout
    while (now > GateDirtyKb && (System.nanoTime() - t0) / 1e9 < GateTimeoutSec) {
      Thread.sleep(500)
      now = Telemetry.dirtyKb()
    }
    (before, now, (System.nanoTime() - t0) / 1e9, syncRc)
  }

  /** Physical-plan fingerprint of the most recent action (judge-style
    * plan audit, automated): node counts that define a plan's scale
    * shape — shuffle/broadcast exchanges, AQE local reads, join
    * strategies, aggregate forms, whole-stage-codegen span count —
    * parsed from the EXECUTED plan (post-AQE, so a runtime
    * broadcast-conversion shows as bcast, not smj). Recorded per query
    * in the artifact as a compact `k=v` string, so a plan-shape
    * regression (a new exchange, a broadcast that stopped happening)
    * diffs across rounds like any other channel — by data, not by
    * re-running explain by hand.
    */
  @volatile private var lastPlanSig: Option[String] = None
  private def planSigOf(
      qe: org.apache.spark.sql.execution.QueryExecution): String = {
    // STRUCTURAL node-name traversal, never toString: rendering a plan
    // whose expressions embed literal codebooks/matrices produces
    // megabyte strings per action, and this handler runs on the shared
    // listener bus for every action of every timed run
    val names = try org.apache.spark.sql.graftbridge.Bridge
        .physicalNodeNames(qe.executedPlan)
      catch { case _: Throwable => return "" }
    // WholeStageCodegen nodes carry their span id in the name
    val counts = names.map(n =>
        if (n.startsWith("WholeStageCodegen")) "WholeStageCodegen" else n)
      .groupBy(identity).map { case (k, v) => k -> v.size }
      .withDefaultValue(0)
    val keys = Seq(
      // ShuffleExchangeExec presents nodeName "Exchange"
      "Exchange" -> "xchg", "BroadcastExchange" -> "bcast",
      "AQEShuffleRead" -> "aqeread",
      "SortMergeJoin" -> "smj", "BroadcastHashJoin" -> "bhj",
      "ShuffledHashJoin" -> "shj", "BroadcastNestedLoopJoin" -> "bnlj",
      "CartesianProduct" -> "cart",
      "HashAggregate" -> "hagg", "ObjectHashAggregate" -> "ohagg",
      "SortAggregate" -> "sagg",
      "TakeOrderedAndProject" -> "topk", "Generate" -> "gen",
      "Window" -> "win", "Sort" -> "sort",
      "WholeStageCodegen" -> "wsc")
    keys.collect {
      case (k, t) if counts(k) > 0 => s"$t=${counts(k)}" }.mkString(",")
  }
  private class PlanTap extends org.apache.spark.sql.util.QueryExecutionListener {
    override def onSuccess(funcName: String,
        qe: org.apache.spark.sql.execution.QueryExecution,
        durationNs: Long): Unit = lastPlanSig = Some(planSigOf(qe))
    override def onFailure(funcName: String,
        qe: org.apache.spark.sql.execution.QueryExecution,
        exception: Exception): Unit = ()
  }

  /** One timed query: the cold run's and the steady run's channels (no
    * cold on a steady-only pass), used heap after the steady run, the
    * system dirty KB and 1-min loadavg at query start, and the wall-clock
    * start.
    */
  private case class Timing(name: String, cold: Option[Telemetry.Channels],
    steady: Telemetry.Channels, heapMb: Double,
    dirtyStartKb: Long, loadavgStart: Double, wallStart: Long,
    // any run of this timing threw — its walls are failure-path noops
    // (a query that dies in 10 ms would otherwise WIN the best-of
    // minimum and publish a fantasy number; found by the r16 kill test)
    failed: Boolean,
    // executed-plan fingerprint of the steady run's final action
    planSig: String)

  /** One full timed pass over the suite: results, sentinel series, and
    * untimed fixture-build seconds for the `*_only` marginal rows.
    */
  private case class Pass(results: Vector[Timing],
    sentinels: List[(String, Long, Double)],
    gate: (Long, Long, Double, Int),
    builds: Map[String, Double])

  /** The marginal-cost splits (judge r10 #5 / r11 #8 / r12 #5&#8), as
    * (row, the composite row that gates it, fixture build). Composite
    * entries re-run fixture builds (quantizer training, index builds,
    * ingest seeds, BPE training) inside their timing; these rows build
    * ONCE untimed — with the build's own wall seconds recorded as
    * `build_sec`, so composite growth can never masquerade as
    * marginal-cost regression — and time only the part that scales
    * (tick / probe / apply), which the build returns.
    */
  private val marginals: Seq[(String, String, (SparkSession, String) => () => Unit)] = {
    import graft.queries.{ExtQueries => E, Ext3Queries => E3}
    def timed(df: => org.apache.spark.sql.DataFrame): () => Unit = () => materialize(df)
    Seq(
      // x49: seed once, time the TICK alone — valid because a tick replay
      // is idempotent by construction (overwrite-keyed partitions, CC edge
      // union). The tick is the number that scales at 100 TB.
      ("x49_tick_only", "x49_ingest_tick", (s, d) => {
        val state = E.x49Seed(s, d); timed(E.x49Tick(s, d, state)) }),
      // x54/x56: build the IVF-PQ index once, time the PROBE — the number
      // that scales with query traffic.
      ("x54_probe_only", "x54_ann_index_probe", (s, d) => {
        val base = E.x54Build(s, d); timed(E.x54Probe(s, d, base)) }),
      ("x56_probe_only", "x56_ann_filtered", (s, d) => {
        val base = E.x56Build(s, d); timed(E.x56Probe(s, d, base)) }),
      // x54b: the residual probe pays an extra per-cell LUT (q − centroid)
      // over x54's, which is exactly the marginal this row makes visible.
      ("x54b_probe_only", "x54b_ann_index_residual", (s, d) => {
        val base = E.x54Build(s, d, residual = true); timed(E.x54Probe(s, d, base)) }),
      // x54c: the streaming index maintenance (init + two MemoryStream
      // waves) is the build; the probe against the stream-maintained
      // postings proves maintenance costs nothing at read time.
      ("x54c_probe_only", "x54c_ann_index_stream", (s, d) => {
        val base = E.x54cBuild(s, d); timed(E.x54Probe(s, d, base)) }),
      // x57: train the BPE merge table once, time corpus tokenization from
      // the read-back artifact — what a training run re-pays per corpus
      // pass; the composite x57 rows keep gating the train path.
      ("x57_apply_only", "x57d_bpe_apply", (s, d) => {
        val merges = E.x57dBuild(s, d); timed(E.x57dApply(s, d, merges)) }),
      // x122: the same split for the unigram tokenizer family.
      ("x122_apply_only", "x122b_unigram_apply", (s, d) => {
        val pieces = s.read.parquet(E3.x122Build(s, d))
        timed(E3.x122Apply(s, d, pieces)) }))
  }
  /** Bench-synthesized rows: not `SparkEntry.queries` entries, and kept
    * out of the totals (each re-times a subset of its composite row).
    */
  private val synthetic = marginals.map(_._1).toSet

  /** The idle gate waits (bounded by [[GateTimeoutSec]]) until system
    * Dirty drops under [[GateDirtyKb]]; a winning row is pollution-flagged
    * when its loadavg_start exceeds [[FlagLoadavg]] (p90 of the r14 series
    * — the 1-min loadavg is self-polluted by our own preceding queries, so
    * only extremes mean anything); a partial artifact lands at most every
    * [[PartialEverySec]] inside a pass.
    */
  private val GateDirtyKb = 65536L
  private val GateTimeoutSec = 120
  private val FlagLoadavg = 8.0
  private val PartialEverySec = 120.0

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.build("graft-bench")
    spark.listenerManager.register(new PlanTap)
    // warm the JVM/session once so the first timed query isn't paying
    // codegen + scheduler + parquet-reader startup
    spark.range(1000).selectExpr("sum(id)").collect()
    SparkEntry.queries.get("a1_count_star")
      .foreach(fn => try materialize(fn(spark, sfDir)) catch { case _: Throwable => })
    // fixed alphabetical order: per-round timings stay comparable and cache
    // effects hit the same queries each round
    // optional row filter for timing individual queries locally; unset,
    // the full suite runs
    val only = SparkEntry.onlyRows("bench", SparkEntry.queries.keySet ++ synthetic)
    var failed = List.empty[String]
    // ---- BEST-OF-TWO protocol (judge r12 #1/#2): five rounds of
    // BENCH_NOTES show the driver box intermittently contended, and a
    // single gated run per round kept re-opening the same adjudication —
    // r12's final artifact read 2.10× the builder's same-tree idle run
    // with every recorded cause-channel flat. The official numbers
    // (`queries`/`value`) are now the per-query MINIMUM over
    // `SPARK_GRAFT_BENCH_PASSES` (default 2) back-to-back idle-gated
    // passes: a contention burst would have to land on the same query in
    // BOTH passes to survive into the artifact. Both passes' raw
    // steady series are emitted (`queries_run1`/`queries_run2`) so the
    // burst itself stays visible and attributable.
    val numPasses = sys.env.get("SPARK_GRAFT_BENCH_PASSES")
      .map(_.toInt).getOrElse(2).max(1)

    // ---- survivable emission + wall-clock budget (judge r15 #2):
    // BENCH_r15 was rc=124 / parsed:null because the artifact was written
    // only after ALL passes — the driver-timeout SIGTERM mid-pass erased
    // the run's official number even though every earlier pass was clean.
    // The artifact (ONE timestamped name per invocation, overwritten in
    // place as passes complete) and the compact stdout line are now
    // emitted after EVERY pass and, throttled, after queries WITHIN a
    // pass (`"partial":true` rows), so the last complete emission always
    // survives a kill. SPARK_GRAFT_BENCH_BUDGET_SEC (default 3000 —
    // inside the driver's observed ~3600 s timeout with margin): once
    // elapsed wall exceeds it, remaining passes and the pollution retry
    // are skipped and the run finalizes with what exists.
    val budgetSec = sys.env.get("SPARK_GRAFT_BENCH_BUDGET_SEC")
      .map(_.toDouble).getOrElse(3000.0)
    val benchT0 = System.nanoTime()
    def elapsedSec = (System.nanoTime() - benchT0) / 1e9
    def overBudget = elapsedSec > budgetSec
    var budgetSkipped = List.empty[String]
    // a SIGTERM runs Spark's shutdown hook CONCURRENTLY with this main
    // thread: the context stops, every in-flight query dies in
    // milliseconds, and an unguarded finalize would then overwrite the
    // last GOOD artifact with failure-path noop timings (observed in the
    // r16 kill test). Once stopped: skip remaining work, never emit again.
    def ctxStopped = spark.sparkContext.isStopped

    // coldRuns=false (pass 2+, retry): each query is timed ONCE, steady
    // only — the cold number is already reported as min-over-passes of a
    // JIT/codegen artifact, so re-measuring it on pass 2 bought nothing
    // and cost ~1/3 of total wall (judge r15 #4). Such rows carry no cold
    // channels; best-of assembly skips them.
    // onProgress fires after every timed query with the pass-so-far
    // snapshot, so main can persist a partial artifact under a wall-clock
    // budget (judge r15 #2: a driver SIGTERM must not erase the run).
    def runPass(passIdx: Int, filter: Option[Set[String]],
        coldRuns: Boolean, onProgress: Pass => Unit): Pass = {
      // ---- contention telemetry (judge r9): the r9 artifact showed a
      // contiguous block of unchanged-code queries reading 4-10x their
      // pinned idle times and nobody could tell a regression from an
      // ambient-load burst, because the JSON carried durations but no
      // TIMELINE. Two additions make it self-discriminating:
      //  - per-query wall-clock start (ms since epoch): inflation that
      //    clusters in wall-time across ADJACENT queries is a burst;
      //    inflation pinned to one query across runs is that query's own.
      //  - a repeated SENTINEL: the same trivial query (a1_count_star)
      //    re-timed every `sentinelEvery` queries. Its cost is constant by
      //    construction, so any drift in the sentinel series IS ambient
      //    load, measured concurrently with whatever heavy query just ran.
      val sentinelEvery = 10
      var sentinels = List.empty[(String, Long, Double)] // (after, wall ms, sec)
      def timeSentinel(after: String): Unit =
        SparkEntry.queries.get("a1_count_star").foreach { fn =>
          val w = System.currentTimeMillis()
          val sec = try Telemetry.measure(materialize(fn(spark, sfDir)))._2.wallSec
            catch { case f: Telemetry.RegionFailed => f.channels.wallSec }
          sentinels ::= ((after, w, sec))
        }
      // Each query runs TWICE in this JVM per pass: run 1 ("cold") pays
      // Janino codegen + AQE planning + broadcast warmup on top of
      // execution; run 2 ("steady") is the marginal cost a resident
      // engine pays per query — the number that scales with data and the
      // one the perf gate should read. Emitting both per query settles
      // cold-vs-noise questions by data instead of prose (judge r5 ask;
      // BENCH_NOTES has the history).
      def timeQuery(name: String, run: () => Unit): Timing = {
        val wallStart = System.currentTimeMillis()
        val dirty0 = Telemetry.dirtyKb()
        val load0 = Telemetry.loadAvg1()
        var anyRunFailed = false
        lastPlanSig = None
        def once(): Telemetry.Channels =
          try Telemetry.measure(run())._2
          catch { case f: Telemetry.RegionFailed =>
            // a failing query must be visible, not a fast timing
            anyRunFailed = true
            if (!failed.contains(name)) failed ::= name
            System.err.println(s"[bench] $name FAILED: ${f.getMessage}")
            f.channels
          }
        val cold = if (coldRuns) Some(once()) else None
        val steady = once()
        Timing(name, cold, steady, Telemetry.heapMb(), dirty0, load0,
          wallStart, anyRunFailed, lastPlanSig.getOrElse(""))
      }
      // ---- idle gate (judge r11 #2), once per pass: drain ambient
      // writeback BEFORE the timed region and record the drain in the
      // artifact. Inflation with after≈0 is the query's own; inflation
      // with after still high names the environment.
      val gate = idleGate()
      System.err.println(f"[bench] pass $passIdx idle gate: " +
        f"dirty ${gate._1} KB -> ${gate._2} KB in ${gate._3}%.1f s " +
        f"(sync rc=${gate._4})")
      var sinceSentinel = 0
      val results = scala.collection.mutable.ListBuffer.empty[Timing]
      val builds = scala.collection.mutable.Map.empty[String, Double]
      // outside the timed region: drop any intermediates a query persisted
      // so later timings are neither helped nor starved by earlier caches,
      // and reclaim scratch parquet stages so the JVM's disk footprint
      // stays flat (judge r7: stage buildup was the suspect for
      // late-suite timing inflation). ORDERING CONSTRAINT (advisor r14):
      // some query functions write scratch at CONSTRUCTION and the
      // returned frame reads it lazily — cleaning is safe only here, after
      // materialize() fully consumed the frame, never between building a
      // frame and running it.
      def afterRow(name: String, sentinelTick: Boolean): Unit = {
        spark.catalog.clearCache()
        graft.operators.StageIO.cleanScratch(spark)
        if (sentinelTick) {
          sinceSentinel += 1
          if (sinceSentinel >= sentinelEvery) { sinceSentinel = 0; timeSentinel(name) }
        }
        onProgress(Pass(results.toVector, sentinels, gate, builds.toMap))
      }
      SparkEntry.queries.toSeq.sortBy(_._1)
        .filter { case (n, _) => filter.forall(_.contains(n)) }
        .foreach { case (name, fn) => if (!ctxStopped) {
          results += timeQuery(name, () => materialize(fn(spark, sfDir)))
          afterRow(name, sentinelTick = true)
        } }
      marginals.foreach { case (name, gatedBy, build) =>
        if (!ctxStopped && filter.forall(_.contains(name))
            && SparkEntry.queries.contains(gatedBy)) {
          try {
            val (run, b) = Telemetry.measure(build(spark, sfDir))
            builds(name) = b.wallSec
            results += timeQuery(name, run)
          } catch { case e: Throwable =>
            failed ::= name
            System.err.println(s"[bench] $name fixture build FAILED: ${e.getMessage}")
          }
          afterRow(name, sentinelTick = false)
        }
      }
      Pass(results.toVector, sentinels, gate, builds.toMap)
    }

    // ---- pollution flags + targeted retry (judge r13 #3 / r14 #4): the
    // artifact has RECORDED contention channels since r9 but nothing
    // acted on them — r14's official series printed 6.93 s for a 1.8 s
    // query (x25) because a co-tenant burst landed on both passes. A
    // query's winning row is FLAGGED when its own channels say the box
    // was not ours alone while it ran:
    //   - |box_cpu − self_cpu| > max(3 s, 0.5 × wall): someone else (or
    //     sampling skew large enough to hide someone else) burned CPU
    //     comparable to the query itself during the timed region;
    //   - loadavg_start above [[FlagLoadavg]].
    // Flagged queries get ONE extra settled pass at the end of the
    // suite (after waiting for loadavg to drain, bounded), and any row
    // whose official number STILL comes from a flagged run is named in
    // the artifact's `flags` field so no downstream regression read can
    // adjudicate from it silently.
    def pollution(t: Timing): Option[String] = {
      val foreign = math.abs(t.steady.boxCpuSec - t.steady.selfCpuSec)
      if (foreign > math.max(3.0, 0.5 * t.steady.wallSec))
        Some(f"foreign_cpu=$foreign%.1fs over ${t.steady.wallSec}%.2fs wall")
      else if (t.loadavgStart > FlagLoadavg)
        Some(f"loadavg_start=${t.loadavgStart}%.2f")
      else None
    }
    // ---- best-of assembly: per query, the official steady is the MIN
    // over passes with its channel telemetry riding along (so a slow
    // pass's GC spike never decorates the fast pass's time); the official
    // cold is the min over the passes that MEASURED cold (pass 1 only
    // since r16). A query no cold-measuring pass saw (can't happen in the
    // standard protocol; guards SPARK_GRAFT_ONLY edge uses) reports its
    // steady run as cold.
    def bestOf(ps: Seq[Pass]): Seq[Timing] =
      ps.head.results.map(_.name).map { n =>
        val all = ps.flatMap(_.results.find(_.name == n))
        // failure-path timings are noops, not measurements — they only
        // stand when NO run of the query succeeded
        val ts = { val ok = all.filterNot(_.failed)
          if (ok.nonEmpty) ok else all }
        val w = ts.minBy(_.steady.wallSec)
        w.copy(cold = ts.flatMap(_.cold).minByOption(_.wallSec)
          .orElse(Some(w.steady)))
      }

    // persist the artifact TWICE per emission: a timestamped file no
    // later run can clobber (judge r10 #3) plus the fixed name the
    // driver reads. ONE stamped name per invocation — each emission
    // overwrites it in place, so the file always holds the latest
    // complete snapshot.
    val fixed = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench_out.json")
    val stamped = {
      val p = java.nio.file.Paths.get(fixed)
      val name = Option(p.getFileName).map(_.toString).getOrElse("bench_out.json")
      val stampedName = name.replaceFirst("(\\.[^.]+)?$",
        s".${System.currentTimeMillis()}$$1")
      Option(p.getParent).map(_.resolve(stampedName).toString).getOrElse(stampedName)
    }

    def emit(passes: Seq[Pass], partial: Boolean): Unit = {
      if (ctxStopped) {
        System.err.println("[bench] SparkContext stopped (shutdown in " +
          "progress?) -- keeping the last emitted artifact")
        return
      }
      val results = bestOf(passes)
      // a flag survives only UNCORROBORATED: if any clean-channel run of
      // the same query landed within 25% of the flagged winner, the
      // number is real (merely measured under load), not load-inflated —
      // without this, a warm first-pass winner whose loadavg was driven
      // up by OUR OWN preceding streaming query stays flagged forever
      def flagOf(t: Timing): Option[String] = pollution(t).filterNot { _ =>
        passes.flatMap(_.results.find(_.name == t.name)).exists(o =>
          pollution(o).isEmpty && o.steady.wallSec <= t.steady.wallSec * 1.25)
      }
      val flagsJson = results.flatMap(t => flagOf(t).map(r =>
          s"""\"${t.name}\":\"${r}\"""")).mkString("{", ",", "}")
      val builds = passes.flatMap(_.builds.toSeq).groupBy(_._1)
        .map { case (k, vs) => k -> vs.map(_._2).min }

      def fmt(sel: Timing => Any) = results
        .map(r => s"\"" + r.name + "\":" + sel(r)).mkString("{", ",", "}")
      def steady(sel: Telemetry.Channels => Any) = fmt(r => sel(r.steady))
      def cold(sel: Telemetry.Channels => Any) =
        fmt(r => sel(r.cold.getOrElse(r.steady)))
      // `queries`/`value` carry the best-of steady numbers (what the gate
      // compares); `queries_cold`/`total_cold` carry best-of run-1 with
      // its one-time planning overhead included. The *_only rows are
      // excluded from the totals (each re-times a subset of its composite
      // entry, included).
      val totalRows = results.filterNot(r => synthetic.contains(r.name))
      val totalSteady = totalRows.map(_.steady.wallSec).sum
      val totalCold = totalRows.map(r => r.cold.getOrElse(r.steady).wallSec).sum
      val failedJson = failed.distinct.sorted.map("\"" + _ + "\"").mkString("[", ",", "]")
      // wall_start_ms + sentinel: the r9 timeline telemetry. gc_ms /
      // heap_mb: the r10 memory channels. io_write_mb / dirty_kb_start /
      // idle_gate: the r11 write-side channels. alloc_mb / box_cpu_sec /
      // box_iowait_sec / self_cpu_sec / loadavg_start + the per-pass raw
      // series: the r12 whole-box contention channels — box minus self is
      // everyone else on the machine, measured concurrently with each
      // timed run.
      val sentinelJson = passes.zipWithIndex.flatMap { case (p, i) =>
        p.sentinels.reverse.map { case (after, w, s) =>
          s"""{"pass":${i + 1},"after":"$after","ts_ms":$w,"sec":$s}""" }
      }.mkString("[", ",", "]")
      val gatesJson = passes.zipWithIndex.map { case (p, i) =>
        val (b, a, w, rc) = p.gate
        s"""{"pass":${i + 1},"threshold_kb":$GateDirtyKb,"dirty_before_kb":$b,"dirty_after_kb":$a,"wait_sec":$w,"sync_rc":$rc}"""
      }.mkString("[", ",", "]")
      val buildsJson = builds.toSeq.sortBy(_._1)
        .map { case (k, v) => s"\"$k\":$v" }.mkString("{", ",", "}")
      def passQueries(p: Pass) = p.results
        .map(r => s"\"${r.name}\":${r.steady.wallSec}").mkString("{", ",", "}")
      val runsJson = passes.map { p =>
        val rows = p.results.filterNot(r => synthetic.contains(r.name))
        val colds = rows.flatMap(_.cold).map(_.wallSec)
        s"""{"total":${rows.map(_.steady.wallSec).sum},"total_cold":${colds.sum},"n_cold_runs":${colds.size},"queries":${passQueries(p)}}"""
      }.mkString("[", ",", "]")
      val skippedJson = budgetSkipped.sorted
        .map("\"" + _ + "\"").mkString("[", ",", "]")
      val json =
        s"""{"metric":"total","value":$totalSteady,"unit":"sec","partial":$partial,"best_of":$numPasses,"passes_run":${passes.size},"elapsed_sec":$elapsedSec,"budget_sec":$budgetSec,"budget_skipped":$skippedJson,"queries":${steady(_.wallSec)},"queries_cold":${cold(_.wallSec)},"total_cold":$totalCold,"gc_ms":${steady(_.gcMs)},"gc_ms_cold":${cold(_.gcMs)},"heap_mb":${fmt(_.heapMb)},"io_read_mb":${steady(_.ioReadMb)},"io_read_mb_cold":${cold(_.ioReadMb)},"io_write_mb":${steady(_.ioWriteMb)},"io_write_mb_cold":${cold(_.ioWriteMb)},"io_cancelled_write_mb":${steady(_.ioCancelledWriteMb)},"alloc_mb":${steady(_.allocMb)},"alloc_mb_cold":${cold(_.allocMb)},"box_cpu_sec":${steady(_.boxCpuSec)},"box_cpu_sec_cold":${cold(_.boxCpuSec)},"box_iowait_sec":${steady(_.boxIowaitSec)},"self_cpu_sec":${steady(_.selfCpuSec)},"self_cpu_sec_cold":${cold(_.selfCpuSec)},"shuffle_read_mb":${steady(_.shuffleReadMb)},"shuffle_read_mb_cold":${cold(_.shuffleReadMb)},"shuffle_write_mb":${steady(_.shuffleWriteMb)},"shuffle_write_mb_cold":${cold(_.shuffleWriteMb)},"codegen_compiles":${steady(_.compiles)},"codegen_compiles_cold":${cold(_.compiles)},"loadavg_start":${fmt(_.loadavgStart)},"dirty_kb_start":${fmt(_.dirtyStartKb)},"plan_nodes":${fmt(r => "\"" + r.planSig + "\"")},"build_sec":$buildsJson,"idle_gate":$gatesJson,"runs":$runsJson,"wall_start_ms":${fmt(_.wallStart)},"sentinel":$sentinelJson,"failed":$failedJson,"flags":$flagsJson,"sf":"$sfDir"}"""
      Seq(stamped, fixed).foreach { out =>
        // write-then-atomic-move: a kill mid-write must not leave a
        // truncated artifact under the name the driver reads
        try {
          val tmp = java.nio.file.Paths.get(out + ".tmp")
          java.nio.file.Files.write(tmp, (json + "\n").getBytes("UTF-8"))
          java.nio.file.Files.move(tmp, java.nio.file.Paths.get(out),
            java.nio.file.StandardCopyOption.REPLACE_EXISTING,
            java.nio.file.StandardCopyOption.ATOMIC_MOVE)
        } catch { case e: Throwable =>
          System.err.println(s"[bench] could not write $out: ${e.getMessage}") }
      }
      // the driver's wrapper parse has read null since r11 (BENCH_r13
      // "parsed": null): it tail-captures stdout and the full artifact
      // line — 223 queries × ~20 channels, ~100 KB — loses its HEAD to
      // the capture window, so the JSON never parses. Self-describing
      // output (judge r13 #6): a stable marker naming the un-clobberable
      // full artifact, then a COMPACT contract-shaped summary (metric/
      // value/unit/queries/sf + the artifact path), small enough to
      // survive any tail capture intact. Emitted per pass (and throttled
      // within passes), so the LAST complete line a killed run leaves
      // behind is always a valid official signal.
      println(s"BENCH_JSON: $stamped")
      val compact =
        s"""{"metric":"total","value":$totalSteady,"unit":"sec","partial":$partial,"best_of":$numPasses,"passes_run":${passes.size},"elapsed_sec":$elapsedSec,"budget_skipped":$skippedJson,"total_cold":$totalCold,"n_queries":${totalRows.size},"failed":$failedJson,"flags":$flagsJson,"artifact":"$stamped","sf":"$sfDir"}"""
      println(compact)
    }

    // throttled mid-pass emission: at most one partial snapshot per
    // [[PartialEverySec]], so a kill anywhere inside a pass costs at most
    // that window of signal
    var donePasses = Vector.empty[Pass]
    // backdate the throttle so the FIRST partial lands ~30 s in: a kill
    // inside the first full window otherwise leaves no artifact at all
    // (the one gap the r16 kill test left open)
    var lastPartialNs = System.nanoTime() -
      ((PartialEverySec - 30.0).max(0.0) * 1e9).toLong
    def onProgress(snapshot: Pass): Unit =
      if (snapshot.results.nonEmpty &&
          (System.nanoTime() - lastPartialNs) / 1e9 >= PartialEverySec) {
        lastPartialNs = System.nanoTime()
        emit(donePasses :+ snapshot, partial = true)
      }

    val basePasses = scala.collection.mutable.ArrayBuffer.empty[Pass]
    for (i <- 1 to numPasses) {
      if (!ctxStopped && (i == 1 || !overBudget)) {
        basePasses += runPass(i, only, coldRuns = i == 1, onProgress)
        donePasses = basePasses.toVector
        emit(donePasses, partial = false)
      } else if (!ctxStopped) {
        budgetSkipped ::= s"pass$i"
        System.err.println(f"[bench] budget $budgetSec%.0f s exceeded " +
          f"($elapsedSec%.0f s elapsed): skipping pass $i")
      }
    }

    val baseBest = bestOf(basePasses.toSeq)
    val flaggedNames = baseBest.filter(t => pollution(t).isDefined)
      .map(_.name).toSet
    val passes = if (flaggedNames.isEmpty || ctxStopped) basePasses.toSeq
    else if (overBudget) {
      budgetSkipped ::= "retry"
      System.err.println(f"[bench] budget $budgetSec%.0f s exceeded " +
        f"($elapsedSec%.0f s elapsed): skipping pollution retry of " +
        s"${flaggedNames.size} flagged queries")
      basePasses.toSeq
    } else {
      System.err.println(s"[bench] retrying ${flaggedNames.size} " +
        s"pollution-flagged queries: ${flaggedNames.toSeq.sorted.mkString(",")}")
      // settle: our own 1-min loadavg tail decays in ~1 min; co-tenant
      // load that does NOT decay is exactly what the retry must dodge,
      // so wait (bounded) rather than re-time into the same burst
      val deadline = System.nanoTime() + 180L * 1000000000L
      while (Telemetry.loadAvg1() > 4.0 && System.nanoTime() < deadline)
        Thread.sleep(5000)
      basePasses.toSeq :+ runPass(basePasses.size + 1, Some(flaggedNames),
        coldRuns = false, onProgress)
    }
    donePasses = passes.toVector
    emit(passes, partial = false)
    spark.stop()
  }
}
