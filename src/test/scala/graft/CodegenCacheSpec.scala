package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.StageIO

/** A resident engine compiles each query shape once per JVM: rerunning
  * catalog rows hits the generated classes their first run left in
  * Spark's code cache instead of recompiling them. Two things used to
  * defeat that: a 100-entry cache that these three rows alone overflow,
  * and whole-stage class names carrying AQE's completion-order stage id.
  */
class CodegenCacheSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private val rows = Seq("x53_pq_ann", "x4_dedup_jaccard", "x124_bm25_topk")

  /** Row count and the sum of per-row xxhash64 over every column. */
  private def fingerprint(df: DataFrame): (Long, BigDecimal) = {
    def hasMap(t: DataType): Boolean = t match {
      case _: MapType => true
      case a: ArrayType => hasMap(a.elementType)
      case s: StructType => s.fields.exists(f => hasMap(f.dataType))
      case _ => false
    }
    val cols = df.schema.fields.toSeq.map { f =>
      val c = df.col(s"`${f.name}`")
      if (hasMap(f.dataType)) c.cast("string") else c
    }
    val r = df.select(xxhash64(cols: _*).as("h"))
      .agg(count(lit(1)), sum(col("h").cast(DecimalType(38, 0)))).head()
    (r.getLong(0), Option(r.getDecimal(1)).map(BigDecimal(_)).getOrElse(BigDecimal(0)))
  }

  /** Runs `order` the way Bench does (clear caches and reclaim scratch
    * after each row); returns each row's fingerprint and compiles.
    */
  private def round(order: Seq[String]): Map[String, ((Long, BigDecimal), Long)] =
    order.map { name =>
      val c0 = Telemetry.codegenCompiles()
      val fp = fingerprint(SparkEntry.queries(name)(spark, SparkTestSession.sf0001))
      spark.catalog.clearCache()
      StageIO.cleanScratch(spark)
      name -> (fp, Telemetry.codegenCompiles() - c0)
    }.toMap

  test("the session runs with GraftSession's generated-class cache size") {
    assert(spark.conf.get("spark.sql.codegen.cache.maxEntries") ==
      GraftSession.CodegenCacheEntries.toString)
  }

  test("a second round of the same rows, in another order, compiles nothing " +
      "and gives the same output") {
    val first = round(rows)
    val second = round(rows.reverse)
    info(s"compiles per row, round 1 / round 2: " + rows.map(r =>
      s"$r ${first(r)._2} / ${second(r)._2}").mkString(", "))
    assert(second.values.map(_._2).sum == 0L)
    assert(second.map { case (r, (fp, _)) => r -> fp } ==
      first.map { case (r, (fp, _)) => r -> fp })
  }
}
