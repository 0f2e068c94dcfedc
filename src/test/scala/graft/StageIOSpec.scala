package graft

import java.util.concurrent.{CountDownLatch, CyclicBarrier, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import scala.concurrent.{Await, Future}
import scala.concurrent.ExecutionContext.Implicits.global
import scala.concurrent.duration._

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{AnnIndex, StageIO}

/** The stage-handoff module: [[StageIO.stage]] (write, then re-read), the
  * per-JVM [[StageIO.once]] memo, including the basename-keyed ANN
  * artifact that [[graft.queries.ExtQueries.x54BuildShared]] serves, and
  * the cross-JVM [[StageIO.persisted]] cache.
  */
class StageIOSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  private def fs = new Path(StageIO.scratchRoot(spark))
    .getFileSystem(spark.sessionState.newHadoopConf())
  private def dirOf(df: org.apache.spark.sql.DataFrame): Path =
    new Path(df.inputFiles.head).getParent

  test("a default stage lands under scratchRoot and cleanScratch removes it") {
    val staged = StageIO.stage(spark.range(5).toDF("x"), None, "stage-default")
    val dir = dirOf(staged)
    val root = fs.makeQualified(new Path(StageIO.scratchRoot(spark)))
    assert(dir.toString.startsWith(root.toString + "/stage-default-"), dir)
    assert(staged.agg(sum("x")).head.getLong(0) == 10L)
    StageIO.cleanScratch(spark)
    assert(!fs.exists(dir), s"cleanScratch must remove $dir")
  }

  test("an explicit stageDir is used as given and survives cleanScratch") {
    val keep = spark.conf.get("spark.sql.warehouse.dir") + "/_stageio_keep"
    try {
      val staged = StageIO.stage(spark.range(3).toDF("x"), Some(keep), "unused")
      assert(dirOf(staged) == fs.makeQualified(new Path(keep)))
      StageIO.cleanScratch(spark)
      assert(fs.exists(new Path(keep)))
      assert(spark.read.parquet(keep).count() == 3L)
    } finally fs.delete(new Path(keep), true)
  }

  test("once: a second call for a path runs no write job") {
    val p = StageIO.resolve(spark, None, "once-jobs")
    def call() = StageIO.once(p)(
      spark.range(10).write.mode("overwrite").parquet(p))
    val (_, first) = JobCounter(spark)(call())
    assert(first.nonEmpty, "the first call writes")
    val (path, second) = JobCounter(spark)(call())
    assert(path == p)
    assert(second.isEmpty, s"${second.size} jobs on the memoized call")
    assert(spark.read.parquet(p).count() == 10L)
  }

  test("once: a write that throws is retried on the next call") {
    val p = StageIO.resolve(spark, None, "once-retry")
    val calls = new AtomicInteger(0)
    intercept[IllegalStateException](StageIO.once(p) {
      calls.incrementAndGet(); throw new IllegalStateException("boom")
    })
    StageIO.once(p)(calls.incrementAndGet())
    StageIO.once(p)(calls.incrementAndGet())
    assert(calls.get == 2)
  }

  test("once: two threads calling for one path write once") {
    val p = StageIO.resolve(spark, None, "once-race")
    val writes = new AtomicInteger(0)
    val barrier = new CyclicBarrier(2)
    val both = Future.sequence(Seq.fill(2)(Future {
      barrier.await()
      StageIO.once(p) { writes.incrementAndGet(); Thread.sleep(200) }
    }))
    assert(Await.result(both, 30.seconds) == Seq(p, p))
    assert(writes.get == 1)
  }

  test("once: a build of one path does not block another path") {
    val (p1, p2) = (StageIO.resolve(spark, None, "once-a"),
      StageIO.resolve(spark, None, "once-b"))
    val entered = new CountDownLatch(1)
    val release = new CountDownLatch(1)
    val slow = Future(StageIO.once(p1) { entered.countDown(); release.await() })
    try {
      assert(entered.await(30, TimeUnit.SECONDS))
      Await.result(Future(StageIO.once(p2)(())), 10.seconds)
    } finally release.countDown()
    Await.result(slow, 30.seconds)
  }

  test("once: a different writer rewrites; rewrite always writes") {
    val p = StageIO.resolve(spark, None, "once-writer")
    val log = scala.collection.mutable.ArrayBuffer.empty[String]
    StageIO.once(p, "a")(log += "a1")
    StageIO.once(p, "a")(log += "a2")
    StageIO.once(p, "b")(log += "b1")
    StageIO.rewrite(p, "a")(log += "a3")
    StageIO.once(p, "a")(log += "a4")
    assert(log == Seq("a1", "b1", "a3"))
  }

  test("artifactDir keys by dataset basename") {
    assert(StageIO.artifactDir(spark, "t", "/x/y/sf0.5/") ==
      s"${StageIO.artifactRoot(spark)}/t/sf0.5")
    assert(StageIO.datasetName("/x/y/sf0.5") == "sf0.5")
  }

  test("x54BuildShared never serves another same-basename dataset's index") {
    import graft.queries.ExtQueries
    val a = SparkTestSession.sf0001
    // same basename, different parent, different embeddings
    val b = s"${spark.conf.get("spark.sql.warehouse.dir")}/_x54_other/" +
      StageIO.datasetName(a)
    Tables.embeddings(spark, a).filter(col("vec_id") % 2 === 0)
      .write.mode("overwrite").parquet(s"$b/embeddings.parquet")
    def indexed(base: String): Long =
      spark.read.parquet(AnnIndex.postingsDir(base)).count()
    val nA = Tables.embeddings(spark, a).count()
    val nB = Tables.embeddings(spark, b).count()
    assert(nA != nB)

    assert(indexed(ExtQueries.x54BuildShared(spark, a)) == nA)
    assert(indexed(ExtQueries.x54Build(spark, b)) == nB)
    assert(indexed(ExtQueries.x54BuildShared(spark, a)) == nA,
      "a direct build of b must invalidate a's shared index")
    assert(indexed(ExtQueries.x54BuildShared(spark, b)) == nB)
    assert(indexed(ExtQueries.x54BuildShared(spark, a)) == nA,
      "a shared build of b must invalidate a's shared index")
  }

  test("persisted: writes once across calls, and rewrites a crashed write") {
    val p = StageIO.resolve(spark, None, "persisted")
    val writes = new AtomicInteger(0)
    def call() = StageIO.persisted(spark, p) {
      writes.incrementAndGet(); spark.range(4).toDF("x") }
    assert(call().count() == 4L)
    assert(writes.get == 1, "the first call writes")
    assert(call().count() == 4L)
    assert(writes.get == 1, "a second call reads the committed dir")
    // a write that died before its commit leaves parquet but no _SUCCESS
    assert(fs.delete(new Path(s"$p/_SUCCESS"), false))
    assert(call().count() == 4L)
    assert(writes.get == 2, "a dir without _SUCCESS is rewritten")
    assert(fs.exists(new Path(s"$p/_SUCCESS")))
  }
}
