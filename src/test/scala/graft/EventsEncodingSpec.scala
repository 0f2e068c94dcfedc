package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.Files

/** Regression guard for the round-10 fixture break: the driver regenerated
  * /root/testdata and `events.ts` changed from TIMESTAMP(NANOS) (read as
  * LongType under nanosAsLong) to tz-naive timestamp[us] (read as
  * TIMESTAMP_NTZ by default), and `unix_micros(ts)` failed analysis in
  * three queries. [[Tables.events]] must normalize EVERY encoding the
  * driver has shipped to microsecond TimestampType so a future regen can't
  * silently break analysis again.
  *
  * Spark can't author parquet TIMESTAMP(NANOS), so the ns-as-long case is
  * reproduced at the reader contract level (a LongType ns column — exactly
  * what the nanosAsLong reader hands Tables.events).
  */
class EventsEncodingSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  // one deterministic row set: event_id + µs epoch values
  private val rowsUs: Seq[(Long, Long)] = Seq(
    (1L, 1700000000000000L),
    (2L, 1700000123456789L),
    (3L, 1700009876543210L))

  private def writeDir(): String =
    Files.createTempDirectory("graft-events-enc").toString

  private def normalizedTs(dir: String,
      session: org.apache.spark.sql.SparkSession = spark): Map[Long, Long] = {
    val df = Tables.events(session, dir)
    assert(df.schema("ts").dataType == TimestampType,
      s"Tables.events must yield TimestampType, got ${df.schema("ts").dataType}")
    // the exact call that broke in round 10 must analyze and run
    df.select(col("event_id"), unix_micros(col("ts")).as("us"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
  }

  test("ns-as-long encoding normalizes to µs TimestampType") {
    import spark.implicits._
    val dir = writeDir()
    rowsUs.map { case (id, us) => (id, us * 1000L) }
      .toDF("event_id", "ts")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    // sanity: reads back as the LongType branch input
    assert(Tables.load(spark, dir, "events").schema("ts").dataType == LongType)
    assert(normalizedTs(dir) == rowsUs.toMap)
  }

  test("tz-naive µs (TIMESTAMP_NTZ) encoding normalizes to µs TimestampType") {
    import spark.implicits._
    val dir = writeDir()
    rowsUs.toDF("event_id", "us")
      .select(col("event_id"),
        timestamp_micros(col("us")).cast(TimestampNTZType).as("ts"))
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    // a child session with Spark's default NTZ inference, which
    // GraftSession turns off: the raw read must surface NTZ — i.e. this
    // test exercises the defensive cast branch, not the GraftSession config.
    val ntz = spark.newSession()
    ntz.conf.set("spark.sql.parquet.inferTimestampNTZType", "true")
    assert(Tables.load(ntz, dir, "events").schema("ts").dataType == TimestampNTZType)
    // session TZ is UTC: NTZ→TIMESTAMP cast is value-preserving
    assert(normalizedTs(dir, ntz) == rowsUs.toMap)
  }

  test("tz-aware µs (TIMESTAMP) encoding passes through unchanged") {
    import spark.implicits._
    val dir = writeDir()
    rowsUs.toDF("event_id", "us")
      .select(col("event_id"), timestamp_micros(col("us")).as("ts"))
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    assert(normalizedTs(dir) == rowsUs.toMap)
  }

  test("registerAll exposes the normalized events view to SQL") {
    import spark.implicits._
    val dir = writeDir()
    // write the NTZ (current-driver) encoding, then register all views we
    // have fixtures for — only events exists in this dir, so register it
    // the way registerAll does and assert the SQL surface sees TIMESTAMP.
    rowsUs.toDF("event_id", "us")
      .select(col("event_id"),
        timestamp_micros(col("us")).cast(TimestampNTZType).as("ts"))
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    Tables.events(spark, dir).createOrReplaceTempView("events_enc_spec")
    val out = spark.sql(
      "SELECT event_id, unix_micros(ts) AS us FROM events_enc_spec")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out == rowsUs.toMap)
  }
}
