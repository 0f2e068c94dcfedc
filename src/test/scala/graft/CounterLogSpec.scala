package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming._

/** The one "committed" rule of [[CounterLog]]: a `batch_id=N` dir that
  * holds only `_temporary` — what a crash before the first task commit
  * leaves — is not data, for every store's reader and compaction; and a
  * fold with nothing below its bound leaves the store untouched.
  */
class CounterLogSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def base(): String =
    Files.createTempDirectory("counter-log").toString

  private def docs(ds: (Long, String)*): DataFrame = ds.toDF("doc_id", "text")

  /** A task attempt's part file under `dir/key=id/_temporary`, with no
    * committed file beside it.
    */
  private def orphan(dir: String, id: Long): Unit = {
    val f = Paths.get(dir, s"batch_id=$id", "_temporary", "0", "_temporary",
      "attempt_0", "part-00000.snappy.parquet")
    Files.createDirectories(f.getParent)
    Files.write(f, Array[Byte](1, 2, 3))
  }

  /** Every path under `dir`, relative and sorted. */
  private def listing(dir: String): Seq[String] = {
    val root = Paths.get(dir)
    val walk = Files.walk(root)
    try walk.iterator().asScala.map(root.relativize(_).toString).toList.sorted
    finally walk.close()
  }

  private def rows(df: DataFrame): Seq[String] = df.toJSON.collect().sorted.toSeq

  /** `log` is the batch_id-keyed dir under a base, `commit` writes batch
    * `id` of the store, `read` is its public reader.
    */
  private case class Store(name: String, log: String => String,
      commit: (String, Long) => Unit, read: String => Option[DataFrame],
      compact: Option[String => Unit])

  private lazy val pieces = Seq(("a", 1L), ("b", 1L), ("ab", 8L))
    .toDF("piece", "cnt")

  private lazy val stores = Seq(
    Store("NgramStream.readCounts", b => s"$b/n",
      (b, id) => NgramStream.applyBatch(docs(1L -> "the cat sat"), "text",
        s"$b/n", id, 2),
      b => NgramStream.readCounts(spark, s"$b/n"),
      Some(b => NgramStream.compact(spark, s"$b/n"))),
    Store("UnigramStream.readCounts", b => s"$b/u",
      (b, id) => UnigramStream.applyBatch(docs(1L -> "ab ab a"), "text",
        pieces, s"$b/u", id),
      b => UnigramStream.readCounts(spark, s"$b/u"),
      Some(b => UnigramStream.compact(spark, s"$b/u"))),
    Store("PostingsStream.readTf", b => s"$b/p/tf",
      (b, id) => PostingsStream.applyBatch(docs(1L -> "the quick brown fox"),
        s"$b/p", id),
      b => PostingsStream.readTf(spark, s"$b/p"),
      Some(b => PostingsStream.compact(spark, s"$b/p"))),
    Store("ParagraphStream.readStore", b => s"$b/h",
      (b, id) => ParagraphStream.applyBatch(
        docs(1L -> "cookie banner\n\nfirst body"), id, s"$b/h", s"$b/clean"),
      b => ParagraphStream.readStore(spark, s"$b/h"),
      Some(b => ParagraphStream.compact(spark, s"$b/h"))),
    Store("MediaDedupStream.readStore", b => s"$b/m",
      (b, id) => Seq((3L, 11L, 7L)).toDF("pfx", "w0", "asset_id")
        .write.partitionBy("pfx").parquet(s"$b/m/batch_id=$id"),
      b => MediaDedupStream.readStore(spark, s"$b/m"),
      None))

  stores.foreach { s =>
    test(s"${s.name}: a batch dir holding only _temporary is no data") {
      val b = base()
      orphan(s.log(b), 0L)
      assert(s.read(b).isEmpty)
      s.compact.foreach { compact =>
        val before = listing(b)
        compact(b)
        assert(listing(b) == before, "compact touched an empty store")
      }
    }

    test(s"${s.name}: an orphan batch dir beside a committed batch reads " +
        "as exactly that batch") {
      val clean = base()
      s.commit(clean, 1L)
      val b = base()
      s.commit(b, 1L)
      orphan(s.log(b), 0L)
      assert(rows(s.read(b).get) == rows(s.read(clean).get))
    }
  }

  test("fold with every row at or above `below` leaves the store untouched") {
    val b = base()
    val dir = s"$b/n"
    NgramStream.applyBatch(docs(1L -> "the cat sat"), "text", dir, 1L, 2)
    NgramStream.applyBatch(docs(2L -> "the dog sat"), "text", dir, 2L, 2)
    val before = listing(b)
    assert(!CounterLog.fold(spark, dir, "batch_id", 1L)(identity)(
      CounterLog.overwrite))
    assert(listing(b) == before)
    // the same store does fold once a batch lies below the bound
    assert(CounterLog.fold(spark, dir, "batch_id", 2L)(identity)(
      CounterLog.overwrite))
    assert(CounterLog.batchIds(spark, dir, "batch_id").sorted == Seq(1L))
  }

  test("retire removes a dir, and a missing dir counts as retired") {
    val b = base()
    Files.createDirectories(Paths.get(b, "del", "batch=0"))
    CounterLog.retire(spark, s"$b/del")
    assert(!Files.exists(Paths.get(b, "del")))
    CounterLog.retire(spark, s"$b/del")
  }
}
