package graft

import org.scalatest.funsuite.AnyFunSuite

/** The measured-run core that Bench, `graft.Probe` and the phase log time
  * through.
  */
class TelemetrySpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private def nonNegative(c: Telemetry.Channels): Unit = {
    val all = Seq(c.wallSec, c.gcMs.toDouble, c.ioReadMb, c.ioWriteMb,
      c.ioCancelledWriteMb, c.allocMb, c.boxCpuSec, c.boxIowaitSec,
      c.selfCpuSec, c.shuffleReadMb, c.shuffleWriteMb, c.compiles.toDouble)
    assert(all.forall(_ >= 0.0), c)
  }

  test("measure returns the body's value and non-negative deltas") {
    // built outside the region: measure taps the session live at its start
    val grouped = spark.range(0, 1000, 1, 4)
      .groupBy((org.apache.spark.sql.functions.col("id") % 7).as("k")).count()
    val (n, c) = Telemetry.measure(grouped.collect().length)
    assert(n == 7)
    nonNegative(c)
    assert(c.wallSec > 0.0)
    assert(c.shuffleWriteMb > 0.0, "a grouped count shuffles")
  }

  test("a region that compiles a fresh expression counts its compiles") {
    // a literal no other query uses: new generated source, a cache miss
    val fresh = System.nanoTime()
    val (_, c) = Telemetry.measure(
      spark.range(10).selectExpr(s"id * $fresh + 7 AS v").collect())
    assert(c.compiles >= 1L, c)
  }

  test("a throwing body rethrows with the region's channels readable") {
    val boom = new IllegalStateException("boom")
    val f = intercept[Telemetry.RegionFailed](
      Telemetry.measure[Unit] { Thread.sleep(20); throw boom })
    assert(f.getCause eq boom)
    assert(f.getMessage == "boom")
    nonNegative(f.channels)
    assert(f.channels.wallSec >= 0.02)
  }
}
