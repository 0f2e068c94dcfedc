package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = GraftSession.build("graft-verify")
    new java.io.File(outDir).mkdirs()
    // dev loop only: SPARK_GRAFT_VERIFY_ONLY=x53_pq_ann,x34_ann_recall
    // restricts the dump to named queries (the driver sets nothing and
    // gets the full inventory)
    val only = sys.env.get("SPARK_GRAFT_VERIFY_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
      .filter(_.nonEmpty)
    def keep(name: String): Boolean = only.forall(_.contains(name))
    // oracle_sql.json lands BEFORE the query loop (the Bench r16
    // survivability lesson): a driver-timeout kill mid-inventory then
    // leaves every already-dumped query gradeable instead of losing the
    // whole correctness signal to the missing manifest
    writeOracleSql(spark, sfDir, outDir, keep)
    SparkEntry.queries.filter(e => keep(e._1)).foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      // a few queries persist() intermediates for self-joins; drop them so
      // memory stays bounded across the whole inventory — and reclaim
      // scratch parquet stages so disk stays bounded too. ORDERING
      // CONSTRAINT (advisor r14): several query functions write scratch
      // at DataFrame CONSTRUCTION time (pref-pairs, the x104/x105/x108
      // stagings) and the returned frame reads it back lazily, so
      // cleanScratch is safe only HERE — after the frame above was fully
      // consumed by its write action, before the next one is built. A
      // build-all-then-clean-then-execute loop would delete stages that
      // unexecuted frames still reference.
      spark.catalog.clearCache()
      graft.operators.StageIO.cleanScratch(spark)
    }
    spark.stop()
  }

  private def writeOracleSql(spark: SparkSession, sfDir: String,
      outDir: String, keep: String => Boolean): Unit = {
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    // per-run templating: oracles that read a Spark-written artifact carry
    // the __GRAFT_SF__ placeholder; substituting the actual data-dir
    // basename here makes both engines derive the same per-run path (no
    // sf literal baked into the SQL, no stale-artifact reads when Verify
    // runs at another scale factor)
    // __GRAFT_ART__ resolves to the SAME warehouse-derived artifact root
    // the queries write to, as a plain local path DuckDB can open — the
    // artifact handoff (x46 weights, x14b centroids) no longer rides a
    // fixed /tmp path two concurrent drivers could collide on (judge r9)
    val sfName = graft.operators.StageIO.datasetName(sfDir)
    val artRoot = graft.operators.StageIO.artifactRootLocal(spark)
    val json = SparkEntry.oracleSql.filter(e => keep(e._1))
      .map { case (k, v) => s"${q(k)}: ${q(v.replace("__GRAFT_SF__", sfName)
        .replace("__GRAFT_ART__", artRoot))}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
  }
}
