package graft

/** Operational telemetry shared by the engine's composite paths. */
object Telemetry {

  /** Janino compiles this JVM has made so far: one per generated-class
    * cache miss, counted by Spark's `CodegenMetrics`. JVM-wide, so a delta
    * over a region also counts whatever ran beside it.
    */
  def codegenCompiles(): Long =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  /** Run `body`; when SPARK_GRAFT_PHASE_LOG is set, print its wall-clock
    * time and the classes it compiled to stderr as
    * `[prefix] phase=name sec=… compiles=…` — for sizing a resident
    * process (which phase pays for a fatter batch) and for attributing a
    * bench row's composite timing to its phases.
    */
  def phase[T](prefix: String, name: String)(body: => T): T =
    if (sys.env.contains("SPARK_GRAFT_PHASE_LOG")) {
      val t0 = System.nanoTime()
      val c0 = codegenCompiles()
      val r = body
      System.err.println(
        f"[$prefix%s] phase=$name%s sec=${(System.nanoTime() - t0) / 1e9}%.2f " +
          s"compiles=${codegenCompiles() - c0}")
      r
    } else body
}
