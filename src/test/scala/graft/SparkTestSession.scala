package graft

import org.apache.spark.sql.SparkSession

/** One shared session for the whole forked test JVM (sbt Test/fork := true).
  * Suites must NOT stop it.
  *
  * Built from [[GraftSession.builder]], so tests run with the engine's own
  * config. What differs is only what a test JVM needs: 8 cores whatever
  * `SPARK_GRAFT_CPUS` says, and a pid-unique warehouse.
  */
object SparkTestSession {
  lazy val spark: SparkSession = {
    // JVM-private warehouse: StageIO scratch/artifact roots derive from
    // warehouse.dir, so sharing the repo-default `spark-warehouse` with a
    // concurrently running Verify/Bench process lets that process's
    // cleanScratch delete THIS JVM's in-flight stage handoffs (observed:
    // 7 spurious suite failures during a parallel Verify run). A
    // pid-unique dir makes the test JVM immune to any concurrent driver.
    val wh = s"${sys.props("java.io.tmpdir")}/graft-test-warehouse-" +
      ProcessHandle.current().pid()
    // reclaim it when the forked test JVM exits — pid-unique dirs would
    // otherwise accumulate in tmpdir, one per `sbt test` run (artifacts
    // deliberately survive cleanScratch, so nothing else deletes them)
    sys.addShutdownHook {
      import scala.reflect.io.Directory
      new Directory(new java.io.File(wh)).deleteRecursively()
    }
    GraftSession.builder("graft-test", "8")
      .config("spark.sql.warehouse.dir", wh)
      .getOrCreate()
  }
  val sf0001 = "/root/testdata/sf0.001"
}
