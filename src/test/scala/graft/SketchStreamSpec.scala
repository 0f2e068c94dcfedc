package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.SketchOps
import graft.streaming.SketchStream

/** Incremental count-min maintenance: the merged counter log must equal
  * the batch-built sketch over all values ever streamed — EXACTLY, the
  * counter-addition contract — and the batchId-keyed sink must make
  * at-least-once replay a no-op.
  */
class SketchStreamSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def counters(df: org.apache.spark.sql.DataFrame): Map[(Int, Long), Long] =
    df.collect().map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2)).toMap

  test("merged log equals the batch-built sketch over all streamed values") {
    val base = java.nio.file.Files.createTempDirectory("sketch-stream").toString
    val store = s"$base/sketch"
    implicit val sc = spark.sqlContext
    val input = MemoryStream[String]
    val q = SketchStream.startSketchMaintenance(
      input.toDF().toDF("tok"), "tok", store, s"$base/ckpt")
    try {
      input.addData("a", "a", "b"); q.processAllAvailable()
      input.addData("a", "c"); q.processAllAvailable()
      input.addData("b", "b", "b", "d"); q.processAllAvailable()
    } finally q.stop()
    val streamed = counters(SketchStream.readSketch(spark, store))
    val global = counters(SketchOps.cmsSketch(
      Seq("a", "a", "b", "a", "c", "b", "b", "b", "d").toDF("tok"), "tok"))
    assert(streamed == global, "counter log merge must equal one global build")
    // and the estimates read through the merged store are exact here
    val est = SketchOps.cmsEstimate(SketchStream.readSketch(spark, store),
        Seq("a", "b", "c", "d").toDF("tok"), "tok")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(est == Map("a" -> 3L, "b" -> 4L, "c" -> 1L, "d" -> 1L))
  }

  test("replaying a batch id overwrites its partition — no double count") {
    val base = java.nio.file.Files.createTempDirectory("sketch-replay").toString
    val store = s"$base/sketch"
    SketchStream.applyBatch(Seq("x", "x", "y").toDF("tok"), "tok", store, 0L)
    SketchStream.applyBatch(Seq("y", "z").toDF("tok"), "tok", store, 1L)
    val before = counters(SketchStream.readSketch(spark, store))
    // at-least-once delivery: batch 1 arrives again with the same content
    SketchStream.applyBatch(Seq("y", "z").toDF("tok"), "tok", store, 1L)
    assert(counters(SketchStream.readSketch(spark, store)) == before)
    // an empty batch writes nothing (no empty partition poisoning reads)
    SketchStream.applyBatch(Seq.empty[String].toDF("tok"), "tok", store, 2L)
    assert(counters(SketchStream.readSketch(spark, store)) == before)
  }

  test("compact folds the log into one partition with identical counters") {
    val base = java.nio.file.Files.createTempDirectory("sketch-compact").toString
    val store = s"$base/sketch"
    SketchStream.applyBatch(Seq("p", "p", "q").toDF("tok"), "tok", store, 0L)
    SketchStream.applyBatch(Seq("q", "r").toDF("tok"), "tok", store, 1L)
    val before = counters(SketchStream.readSketch(spark, store))
    SketchStream.compact(spark, store)
    assert(counters(SketchStream.readSketch(spark, store)) == before)
    // one partition remains, keyed by the max folded id
    val parts = spark.read.parquet(store)
      .select(col("batch_id").cast("long")).distinct()
      .collect().map(_.getLong(0)).toSet
    assert(parts == Set(1L), parts)
    // a FRESH batch id after compaction keeps accumulating correctly
    SketchStream.applyBatch(Seq("r").toDF("tok"), "tok", store, 2L)
    val after = counters(SketchStream.readSketch(spark, store))
    val global = counters(SketchOps.cmsSketch(
      Seq("p", "p", "q", "q", "r", "r").toDF("tok"), "tok"))
    assert(after == global)
  }

  test("a crash between compact's delete and rename rolls forward, not empty") {
    // without roll-forward, readSketch would report a healthy-looking
    // EMPTY sketch while the whole counter log sat in .next (review
    // finding) — every estimate silently zero
    val base = java.nio.file.Files.createTempDirectory("sketch-crash").toString
    val store = s"$base/sketch"
    SketchStream.applyBatch(Seq("k", "k").toDF("tok"), "tok", store, 0L)
    val before = counters(SketchStream.readSketch(spark, store))
    // simulate the crash window: store deleted, complete .next on disk
    val fs = new org.apache.hadoop.fs.Path(store)
      .getFileSystem(spark.sessionState.newHadoopConf())
    fs.rename(new org.apache.hadoop.fs.Path(store),
      new org.apache.hadoop.fs.Path(store + ".next"))
    assert(counters(SketchStream.readSketch(spark, store)) == before,
      "reader must promote the stranded .next")
    assert(fs.exists(new org.apache.hadoop.fs.Path(store)))
  }

  test("a stranded .next beside a live store never double-counts a compact") {
    // the OTHER crash window: a previous compact committed its .next but
    // died before deleting the store. SwapStore.repair no-ops (store exists),
    // and compact's overwrite scopes to its own batch_id subdir — without
    // an explicit delete the stale full-merge partition would ride the
    // rename into the store and add on top of the new merge (advisor r8)
    val base = java.nio.file.Files.createTempDirectory("sketch-stale").toString
    val store = s"$base/sketch"
    SketchStream.applyBatch(Seq("u", "u", "v").toDF("tok"), "tok", store, 0L)
    // simulate a compact of THAT state crashing after its .next commit:
    // .next holds the batch-0 merge under batch_id=0 — a different id
    // than the next compact will write, so overwrite cannot mask it
    SketchOps.cmsMerge(spark.read.parquet(store).select("r", "b", "cnt"))
      .write.mode("overwrite").parquet(s"$store.next/batch_id=0")
    SketchStream.applyBatch(Seq("v", "w").toDF("tok"), "tok", store, 1L)
    val before = counters(SketchStream.readSketch(spark, store))
    SketchStream.compact(spark, store)
    assert(counters(SketchStream.readSketch(spark, store)) == before,
      "stale .next partitions must not leak into the compacted store")
    val parts = spark.read.parquet(store)
      .select(col("batch_id").cast("long")).distinct()
      .collect().map(_.getLong(0)).toSet
    assert(parts == Set(1L), parts)
  }

  test("reading an unwritten store yields an empty counter table, not a crash") {
    val got = SketchStream.readSketch(spark,
      java.nio.file.Files.createTempDirectory("sketch-empty").toString + "/nope")
    assert(got.isEmpty)
  }

  test("geometry is pinned on first write, validated after, and rides compact") {
    // a log maintained at one depth/width probed (or appended) at another
    // makes counters join arbitrary buckets — the writer must refuse, and
    // probers must be able to read the log's true shape back (advisor r9)
    val base = java.nio.file.Files.createTempDirectory("sketch-geom").toString
    val store = s"$base/sketch"
    assert(SketchStream.geometry(spark, store).isEmpty)
    SketchStream.applyBatch(Seq("g", "g").toDF("tok"), "tok", store, 0L,
      depth = 3, width = 64)
    assert(SketchStream.geometry(spark, store) == Some((3, 64)))
    intercept[IllegalArgumentException] {
      SketchStream.applyBatch(Seq("h").toDF("tok"), "tok", store, 1L)
    } // the 4x1024 default against a 3x64 log must fail, not merge garbage
    SketchStream.applyBatch(Seq("h").toDF("tok"), "tok", store, 1L,
      depth = 3, width = 64)
    SketchStream.compact(spark, store)
    assert(SketchStream.geometry(spark, store) == Some((3, 64)),
      "compact must carry the geometry through its store swap")
    // estimates at the persisted geometry stay exact after all of it
    val est = SketchOps.cmsEstimate(SketchStream.readSketch(spark, store),
        Seq("g", "h").toDF("tok"), "tok", depth = 3, width = 64)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(est == Map("g" -> 2L, "h" -> 1L))
  }

  test("deleteBatch cancels exactly: the merged log equals a rebuild " +
      "without the retracted values, counter for counter; replay is a " +
      "no-op; compact folds the tombstones physically") {
    val base = java.nio.file.Files.createTempDirectory("sketch-del").toString
    val store = s"$base/sketch"
    // wave 0 and wave 1, then retract wave 1's exact multiset
    val w0 = Seq("a", "a", "b", "c").toDF("tok")
    val w1 = Seq("a", "c", "c", "d").toDF("tok")
    SketchStream.applyBatch(w0, "tok", store, 0L)
    SketchStream.applyBatch(w1, "tok", store, 1L)
    SketchStream.deleteBatch(w1, "tok", store, 2L)
    val want = counters(SketchOps.cmsSketch(w0, "tok"))
    assert(counters(SketchStream.readSketch(spark, store)) == want,
      "tombstoned log must equal the survivor-only build exactly " +
        "(zero-sum buckets dropped)")
    // 'd' existed only in the retracted wave: its estimate must fall to
    // whatever bucket collisions leave (0 here at 4x1024 on 4 keys)
    val est = SketchOps.cmsEstimate(SketchStream.readSketch(spark, store),
        Seq("a", "d").toDF("tok"), "tok")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(est == Map("a" -> 2L, "d" -> 0L))
    SketchStream.deleteBatch(w1, "tok", store, 2L) // replay: overwrite-keyed
    assert(counters(SketchStream.readSketch(spark, store)) == want)
    SketchStream.compact(spark, store)
    assert(counters(SketchStream.readSketch(spark, store)) == want,
      "compact's sum-fold must cancel tombstones physically")
    // the folded partition itself carries no negative or zero counters
    val raw = spark.read.parquet(store).select("cnt")
      .collect().map(_.getLong(0))
    assert(raw.nonEmpty && raw.forall(_ > 0L))
  }
}
