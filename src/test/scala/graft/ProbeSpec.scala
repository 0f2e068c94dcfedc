package graft

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.scalatest.funsuite.AnyFunSuite

/** `graft.Probe` through [[Probe.run]] on the test session: each probe's
  * `PROBE:` line parses, carries its parameters, its summary, the cold and
  * steady walls and both runs' channels. A line at all means the cold and
  * steady summaries agreed — `run` rejects a probe whose two differ.
  */
class ProbeSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  private val dir = SparkTestSession.sf0001

  private val channelKeys = Set("wall_sec", "gc_ms", "io_read_mb",
    "io_write_mb", "io_cancelled_write_mb", "alloc_mb", "box_cpu_sec",
    "box_iowait_sec", "self_cpu_sec", "shuffle_read_mb", "shuffle_write_mb",
    "codegen_compiles")

  private def probe(name: String, args: String*): JsonNode = {
    val line = Probe.run(spark, dir, name, args)
    assert(line.startsWith("PROBE: "), line)
    val js = new ObjectMapper().readTree(line.stripPrefix("PROBE: "))
    assert(js.get("dir").asText == dir)
    assert(js.get("probe").asText == name)
    Seq("cold", "steady").foreach { run =>
      assert(js.get(run).fieldNames.asScala.toSet == channelKeys, run)
      assert(js.get(s"${run}_sec").asDouble == js.get(run).get("wall_sec").asDouble)
      assert(js.get(s"${run}_sec").asDouble > 0.0)
    }
    js
  }

  private def keys(js: JsonNode) = js.fieldNames.asScala.toSet

  test("bm25: a fixed query set, its top-k rows") {
    val js = probe("bm25", "101")
    assert(Set("modulus", "queries", "rows").subsetOf(keys(js)))
    assert(js.get("modulus").asLong == 101L)
    assert(js.get("queries").asLong > 0L)
    assert(js.get("rows").asLong > 0L)
  }

  test("mrr scale: the sampled gate's query count") {
    val js = probe("mrr", "scale", "3")
    assert(Set("variant", "sample_mod", "queries").subsetOf(keys(js)))
    assert(js.get("variant").asText == "scale")
    assert(js.get("sample_mod").asLong == 3L)
    assert(js.get("queries").asLong > 0L)
  }

  test("fusion sampled: the gate row's fields") {
    val js = probe("fusion", "sampled", "2")
    assert(Set("variant", "sample_mod", "n_exact", "n_approx", "n_both",
      "overlap_bp", "fusion_ok").subsetOf(keys(js)))
    assert(js.get("sample_mod").asLong == 2L)
    assert(js.get("fusion_ok").isBoolean)
    assert(js.get("n_both").asLong <= js.get("n_exact").asLong)
  }

  test("delete ann-del: a probe read over a tombstoned index") {
    val js = probe("delete", "ann-del")
    assert(Set("variant", "rows").subsetOf(keys(js)))
    assert(js.get("variant").asText == "ann-del")
    assert(js.get("rows").asLong > 0L)
  }

  test("an unknown probe, variant or stray operand is rejected") {
    intercept[IllegalArgumentException](Probe.run(spark, dir, "bogus", Nil))
    intercept[IllegalArgumentException](Probe.run(spark, dir, "mrr", Seq("bogus")))
    intercept[IllegalArgumentException](Probe.run(spark, dir, "delete", Seq("drop")))
    intercept[IllegalArgumentException](
      Probe.run(spark, dir, "fusion", Seq("full", "2")))
    intercept[IllegalArgumentException](Probe.run(spark, dir, "bm25", Nil))
  }
}
