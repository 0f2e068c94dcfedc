package graft

/** Operational telemetry shared by the engine's composite paths. */
object Telemetry {

  /** Run `body`; when SPARK_GRAFT_PHASE_LOG is set, print its wall-clock
    * time to stderr as `[prefix] phase=name sec=…` — for sizing a resident
    * process (which phase pays for a fatter batch) and for attributing a
    * bench row's composite timing to its phases.
    */
  def phase[T](prefix: String, name: String)(body: => T): T =
    if (sys.env.contains("SPARK_GRAFT_PHASE_LOG")) {
      val t0 = System.nanoTime()
      val r = body
      System.err.println(
        f"[$prefix%s] phase=$name%s sec=${(System.nanoTime() - t0) / 1e9}%.2f")
      r
    } else body
}
