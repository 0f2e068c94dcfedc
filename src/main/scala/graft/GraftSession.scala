package graft

import org.apache.spark.sql.SparkSession

/** Standard session factory: every entry point (Verify, Bench, tests)
  * builds its session from [[GraftSession.builder]] so config is uniform.
  *
  * - shuffle partitions sized to local cores (not the 200 default);
  * - AQE on (runtime coalescing + skew-join handling — the 100 TB path);
  * - UTC session TZ (oracle parity);
  * - a generated-class cache that holds the working set, and class
  *   names stable across runs (see [[GraftSession.builder]]);
  * - nanos-as-long parquet read: the driver's `events` table carries
  *   TIMESTAMP(NANOS) which Spark 4 otherwise refuses to read
  *   ([PARQUET_TYPE_ILLEGAL]); Tables.events converts ns → microsecond
  *   TimestampType with exact integer arithmetic.
  */
object GraftSession {
  def cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")

  /** A same-context session whose shuffle (hence state-store) partition
    * count is sized to the INPUT instead of the core count — the
    * optimization guide's "make partitioning scale-adaptive rather than
    * a constant tuned for local mode or the cluster" applied to the
    * streaming harness rows: a stateful micro-batch opens and commits
    * one state store per shuffle partition per batch, so a model-sized
    * MemoryStream harness at the session default (= cores) pays ~cores×
    * fixed state-store overhead per batch for kilobytes of state
    * (measured: x95 7.3 s at 32 partitions vs 4.2 s at 8 on the same
    * box). The derivation: one partition per ~16 Ki input rows, floored
    * at 1 and capped at the session's core count — a 100× bigger input
    * scales back up to full parallelism, so nothing here is tuned to
    * local[32]. Real deployments size state partitions to state volume
    * the same way. SPARK_GRAFT_STREAM_SHUFFLE overrides for A/B runs.
    */
  def sizedStreamSession(s: org.apache.spark.sql.SparkSession,
      inputRows: Long): org.apache.spark.sql.SparkSession = {
    val parts = sys.env.get("SPARK_GRAFT_STREAM_SHUFFLE")
      .map(v => try v.trim.toInt catch {
        case e: NumberFormatException => throw new IllegalArgumentException(
          s"SPARK_GRAFT_STREAM_SHUFFLE must be an integer, got '$v'", e)
      })
      .getOrElse(math.max(1L, math.min(inputRows / 16384L + 1L,
        s.sparkContext.defaultParallelism.toLong)).toInt)
    val ns = s.newSession()
    ns.conf.set("spark.sql.shuffle.partitions", parts.toString)
    ns
  }

  /** Capacity of Spark's generated-class cache
    * (`spark.sql.codegen.cache.maxEntries`, default 100). The cache holds
    * one compiled Janino class per (context class loader, source text), so
    * the copy compiled while planning and the copy a task compiles are
    * separate entries. Measured working sets at 4 vCPU: one pass of the perfbench
    * `catalog` workload (8 ops) holds about 450 entries, one
    * `weather_etl` pass about 200. At 100, a query's classes were evicted
    * before it ran again. 2048 holds both with room to spare (10 000 gave
    * the same steady result). An entry retains about 20 KB of heap (the
    * class and its loader): live heap rose 93.6 → 101.4 MB on `catalog`
    * and 85.7 → 88.2 MB on `weather_etl`, and a full cache bounds the
    * cost near 40 MB.
    *
    * A STATIC conf: `CodeGenerator` reads it once, when the JVM first
    * compiles, so only the first session a JVM builds can set it — which
    * is why the test session builds through [[builder]] too.
    */
  private[graft] val CodegenCacheEntries = 2048

  /** The engine's session settings on `local[cores]`, shared by
    * [[build]] and the test session.
    *
    * The two `spark.sql.codegen` settings let a rerun query hit the classes
    * its last run compiled: a cache that holds the working set
    * ([[CodegenCacheEntries]]), and whole-stage classes named without their
    * `codegenStageId`. The cache is keyed by source text, and AQE numbers
    * whole-stage spans in stage-completion order, so an id in the class
    * name made an unchanged plan new source text run to run (x53_pq_ann and
    * x48_manifest_delta recompiled on every run even in a 10 000-entry
    * cache). Over the eight perfbench `catalog` rows at sf0.01, Bench's
    * steady runs compiled 356 classes before and 26 after, all 26 in
    * x94_neardup_stream, whose fresh [[sizedStreamSession]] per call brings
    * a new executor-side class loader and so misses the cache. Plans, jobs
    * and results are unchanged: only the class name and the cache size
    * differ.
    */
  private[graft] def builder(appName: String, cores: String): SparkSession.Builder =
    SparkSession.builder()
      .master(s"local[$cores]")
      .appName(appName)
      .withExtensions(new graft.functions.GraftExtensions)
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // Tz-naive parquet timestamps (isAdjustedToUTC=false, the driver's
      // current events.ts encoding) would otherwise infer as TIMESTAMP_NTZ,
      // which unix_micros()/window functions reject. With a UTC session TZ
      // the TIMESTAMP reading is value-identical to the NTZ one and matches
      // the DuckDB oracle. Tables.events additionally carries a defensive
      // NTZ→TIMESTAMP cast for sessions built without this config.
      .config("spark.sql.parquet.inferTimestampNTZType", "false")
      // v2 commit: tasks move output into place directly instead of the
      // job-commit driver loop renaming every partition dir serially —
      // the delta/ingest state logs write O(100) `pfx=` dirs per batch
      // and the v1 rename loop dominated their wall clock. Correctness
      // posture is unchanged for these writers: every partitioned log is
      // overwrite-mode into a batch-keyed dir, and commit is signaled by
      // the MANIFEST partition landing last, not by dir visibility (on a
      // real cluster an object-store committer replaces this anyway).
      .config("spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version", "2")
      .config("spark.sql.codegen.cache.maxEntries", CodegenCacheEntries.toString)
      .config("spark.sql.codegen.useIdInClassName", "false")
      .config("spark.ui.enabled", "false")

  def build(appName: String = "graft"): SparkSession = {
    val spark = builder(appName, cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
