package graft

import java.nio.file.{Files, Path => JPath}

import scala.util.Try

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.FaultyFileSystem.{Proceeds, ReturnsFalse, Throws}
import graft.operators.{AnnIndex, DeltaManifest, IngestPipeline, SwapStore}
import graft.streaming._

/** Every store compacted through [[SwapStore]], with a fault injected at
  * each rename/delete of its swap. For each store a tiny fixture seeds
  * the pre-operation state once; the operation then runs on a copy with
  * the Nth swap call throwing, or returning false, for every N the
  * no-fault run makes. The property: [[SwapStore.repair]] followed by
  * replaying the operation yields exactly the no-fault store, and an
  * operation that returns normally despite the fault has already left
  * that store (after repair).
  */
class StoreCommitFaultSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  // every template and case copy lives under one dir, removed afterwards
  private lazy val root = Files.createTempDirectory("store-fault")
  private def freshDir(): JPath = Files.createTempDirectory(root, "store")

  override def beforeAll(): Unit = FaultyFileSystem.register(spark)
  override def afterAll(): Unit =
    new scala.reflect.io.Directory(root.toFile).deleteRecursively()

  /** `dirs`, `seed`, `op` and `read` take the fixture's base URI. */
  private case class Store(name: String, dirs: String => Seq[String],
      seed: String => Unit, op: String => Unit, read: String => Seq[String])

  private def fsOf(dir: String) = new org.apache.hadoop.fs.Path(dir)
    .getFileSystem(spark.sessionState.newHadoopConf())

  private def exists(dir: String): String = {
    val p = new org.apache.hadoop.fs.Path(dir)
    s"${p.getName} exists=${fsOf(dir).exists(p)}"
  }

  /** A directory's rows as sorted JSON (binary columns base64-encoded). */
  private def rows(dir: String): Seq[String] =
    if (!fsOf(dir).exists(new org.apache.hadoop.fs.Path(dir))) Seq(exists(dir))
    else spark.read.parquet(dir).toJSON.collect().sorted.toSeq

  private def uri(p: JPath): String = s"${FaultyFileSystem.scheme}://$p"

  private def copyOf(template: JPath): JPath = {
    val dst = freshDir()
    val walk = Files.walk(template)
    try walk.forEach { p =>
      val q = dst.resolve(template.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(q) else Files.copy(p, q)
    } finally walk.close()
    dst
  }

  private def pairs(ps: (Long, Long)*): DataFrame = ps.toDF("doc_a", "doc_b")
  private def docs(ds: (Long, String)*): DataFrame = ds.toDF("doc_id", "text")
  private def ids(xs: Long*): DataFrame = xs.toDF("doc_id")

  private def geometry(dir: String): String =
    CounterLog.readGeometry(spark, dir).toString

  private lazy val gated = docs(
    1L -> "the quick brown fox jumps over the lazy dog",
    2L -> "the quick brown fox jumps over the lazy cat",
    3L -> "a completely different sentence about weather",
    4L -> "rain and wind over the northern hills tonight")
  private def manifest: DataFrame =
    Seq((0, 0, 1L, 9), (0, 0, 2L, 9), (1, 0, 3L, 6), (1, 1, 4L, 7))
      .toDF("shard", "chunk_id", "doc_id", "tok_in_chunk")

  private lazy val emb = (0 until 24).map { i =>
    (i.toLong, Array.tabulate(4)(j => ((i * 7 + j * 5) % 13 + (i % 2) * 20).toFloat))
  }.toDF("vec_id", "embedding")

  private val stores: Seq[Store] = Seq(
    Store("ClusterStream.applyBatch (init an absent store)",
      b => Seq(s"$b/labels"),
      _ => (),
      b => ClusterStream.applyBatch(pairs(), s"$b/labels"),
      b => rows(s"$b/labels")),
    Store("ClusterStream.applyBatch",
      b => Seq(s"$b/labels"),
      b => ClusterStream.applyBatch(pairs(1L -> 2L, 5L -> 6L), s"$b/labels"),
      b => ClusterStream.applyBatch(pairs(2L -> 3L, 3L -> 5L, 8L -> 9L),
        s"$b/labels"),
      b => rows(s"$b/labels")),
    Store("ClusterStream.deleteBatch",
      b => Seq(s"$b/labels"),
      b => ClusterStream.applyBatch(
        pairs(1L -> 2L, 2L -> 3L, 5L -> 6L, 6L -> 7L, 8L -> 9L), s"$b/labels"),
      b => ClusterStream.deleteBatch(ids(2L, 8L), s"$b/labels"),
      b => rows(s"$b/labels")),
    Store("SketchStream.compact",
      b => Seq(s"$b/s"),
      { b =>
        SketchStream.applyBatch(Seq("a", "b", "a").toDF("tok"), "tok", s"$b/s", 0L)
        SketchStream.applyBatch(Seq("b", "c").toDF("tok"), "tok", s"$b/s", 1L)
        SketchStream.deleteBatch(Seq("a").toDF("tok"), "tok", s"$b/s", 2L)
      },
      b => SketchStream.compact(spark, s"$b/s"),
      b => rows(s"$b/s") :+ geometry(s"$b/s")),
    Store("QuantileStream.compact",
      b => Seq(s"$b/q"),
      { b =>
        QuantileStream.applyBatch(Seq("x" -> 0.1, "x" -> 0.5, "y" -> 0.9)
          .toDF("g", "s"), Seq("g"), "s", s"$b/q", 0L, bucketBits = 4)
        QuantileStream.applyBatch(Seq("x" -> 0.7, "y" -> 0.2).toDF("g", "s"),
          Seq("g"), "s", s"$b/q", 1L, bucketBits = 4)
      },
      b => QuantileStream.compact(spark, s"$b/q"),
      b => rows(s"$b/q") :+ geometry(s"$b/q")),
    Store("DriftStream.compact",
      b => Seq(s"$b/d"),
      { b =>
        DriftStream.applyBatch(Seq("en", "de", "en").toDF("lang"), "lang",
          s"$b/d", 0L)
        DriftStream.applyBatch(Seq("fr", "en").toDF("lang"), "lang", s"$b/d", 1L)
        DriftStream.deleteBatch(Seq("de").toDF("lang"), "lang", s"$b/d", 2L)
      },
      b => DriftStream.compact(spark, s"$b/d"),
      b => rows(s"$b/d")),
    Store("UnigramStream.compact",
      b => Seq(s"$b/u"),
      { b =>
        val pieces = Seq(("a", 1L), ("b", 1L), ("ab", 8L)).toDF("piece", "cnt")
        UnigramStream.applyBatch(docs(1L -> "ab ab a"), "text", pieces,
          s"$b/u", 0L)
        UnigramStream.applyBatch(docs(2L -> "b ab"), "text", pieces, s"$b/u", 1L)
      },
      b => UnigramStream.compact(spark, s"$b/u"),
      b => rows(s"$b/u")),
    Store("NgramStream.compact",
      b => Seq(s"$b/n"),
      { b =>
        NgramStream.applyBatch(docs(1L -> "the cat sat"), "text", s"$b/n", 0L, 2)
        NgramStream.applyBatch(docs(2L -> "the dog sat"), "text", s"$b/n", 1L, 2)
        NgramStream.deleteBatch(docs(1L -> "the cat sat"), "text", s"$b/n", 2L, 2)
      },
      b => NgramStream.compact(spark, s"$b/n"),
      b => rows(s"$b/n")),
    Store("AnnIndex.compactPostings",
      b => Seq(AnnIndex.postingsDir(b)),
      { b =>
        AnnIndex.init(spark, emb.filter(col("vec_id") < 16), "vec_id",
          "embedding", b, kCells = 2, m = 2, kCodewords = 4)
        AnnIndex.appendBatch(spark, emb.filter(col("vec_id") >= 16), "vec_id",
          "embedding", b, 1L)
        AnnIndex.deleteBatch(spark, emb.filter(col("vec_id").isin(3L, 17L)),
          "vec_id", b, 2L)
      },
      b => AnnIndex.compactPostings(spark, b),
      b => rows(AnnIndex.postingsDir(b)) :+ exists(AnnIndex.delDir(b))),
    Store("IngestPipeline.compactSignatures",
      b => Seq(s"$b/signatures"),
      { b =>
        IngestPipeline.init(gated, manifest, b)
        IngestPipeline.deleteSignatures(spark, ids(2L), b, 1L)
      },
      b => IngestPipeline.compactSignatures(spark, b),
      b => rows(s"$b/signatures") :+ exists(s"$b/sig_del")),
    Store("DeltaManifest.compact",
      b => Seq("hashes", "totals", "manifest").map(d => s"$b/$d"),
      { b =>
        DeltaManifest.initFromFull(gated, manifest, b)
        DeltaManifest.deleteBatch(gated.filter(col("doc_id") === 2L), b, 1L)
      },
      b => DeltaManifest.compact(spark, b),
      b => Seq("hashes", "totals", "manifest").flatMap(d => rows(s"$b/$d")) ++
        Seq("hashes_del", "manifest_del").map(d => exists(s"$b/$d"))),
    Store("PostingsStream.compact",
      b => Seq("tf", "dl", "pos").map(d => s"$b/p/$d"),
      { b =>
        PostingsStream.applyBatch(gated.filter(col("doc_id") <= 2L), s"$b/p",
          0L, withPositions = true)
        PostingsStream.applyBatch(gated.filter(col("doc_id") > 2L), s"$b/p",
          1L, withPositions = true)
        PostingsStream.deleteBatch(ids(1L), s"$b/p", 2L)
      },
      b => PostingsStream.compact(spark, s"$b/p"),
      b => Seq("tf", "dl", "pos").flatMap(d => rows(s"$b/p/$d")) :+
        exists(s"$b/p/del")),
    Store("ParagraphStream.compact",
      b => Seq(s"$b/h"),
      { b =>
        ParagraphStream.applyBatch(docs(1L -> "cookie banner\n\nfirst body",
          2L -> "second body\n\ncookie banner"), 0L, s"$b/h", s"$b/clean")
        ParagraphStream.applyBatch(docs(3L -> "first body\n\nthird body"), 1L,
          s"$b/h", s"$b/clean")
        ParagraphStream.deleteBatch(ids(1L), s"$b/h", 2L)
      },
      b => ParagraphStream.compact(spark, s"$b/h"),
      b => rows(s"$b/h") :+ exists(s"$b/h/_del")))

  stores.foreach { s =>
    test(s"${s.name}: repair + replay after any swap fault equals the no-fault store") {
      val template = freshDir()
      s.seed(uri(template))
      val clean = uri(copyOf(template))
      val calls = FaultyFileSystem.record(s.dirs(clean))(s.op(clean))
      val expected = s.read(clean)
      val shown = calls.map(
        _.replace(clean.stripPrefix(s"${FaultyFileSystem.scheme}://"), ""))
      assert(calls.nonEmpty, s"${s.name} made no swap call")
      info(s"fault points: ${shown.mkString("; ")}")
      val failures = for {
        (call, i) <- shown.zipWithIndex
        fault <- Seq(Throws, ReturnsFalse)
        b = uri(copyOf(template))
        problem <- Try {
          val returned = Try(FaultyFileSystem.inject(s.dirs(b), i + 1, fault)(
            s.op(b))).isSuccess
          s.dirs(b).foreach(SwapStore.repair(spark, _))
          if (returned && s.read(b) != expected)
            Some("returned normally but the repaired store differs")
          else {
            s.op(b)
            if (s.read(b) != expected) Some("repair + replay differs") else None
          }
        }.fold(e => Some("repair + replay threw " +
          e.toString.linesIterator.next().take(160)), identity)
      } yield s"$fault at swap call ${i + 1} ($call): $problem"
      assert(failures.isEmpty, failures.mkString("\n", "\n", ""))
    }
  }

  test("ClusterStream: a promote lost to a concurrent reader's repair is " +
      "not a failure; without the race a failed promote still throws") {
    val template = freshDir()
    ClusterStream.applyBatch(pairs(1L -> 2L), s"${uri(template)}/labels")
    val batch = pairs(2L -> 3L)
    val clean = s"${uri(copyOf(template))}/labels"
    val calls = FaultyFileSystem.record(Seq(clean))(
      ClusterStream.applyBatch(batch, clean))
    val key = clean.stripPrefix(s"${FaultyFileSystem.scheme}://")
    val promote = calls.indexOf(s"rename $key.next -> $key") + 1
    assert(promote > 0, calls)
    val expected = rows(clean)
    // Proceeds: the local filesystem reports the vanished source as a
    // FileNotFoundException; ReturnsFalse: HDFS reports it as false
    for (fault <- Seq(Proceeds, ReturnsFalse)) {
      val labels = s"${uri(copyOf(template))}/labels"
      var seen = Seq.empty[String]
      FaultyFileSystem.inject(Seq(labels), promote, fault, before = () =>
        seen = ClusterStream.readLabels(spark, labels).toJSON.collect()
          .sorted.toSeq)(ClusterStream.applyBatch(batch, labels))
      assert(seen == expected, s"$fault: the reader saw another labeling")
      assert(rows(labels) == expected, s"$fault")
      assert(!fsOf(labels).exists(new org.apache.hadoop.fs.Path(s"$labels.next")))
    }
    val labels = s"${uri(copyOf(template))}/labels"
    intercept[IllegalArgumentException] {
      FaultyFileSystem.inject(Seq(labels), promote, ReturnsFalse)(
        ClusterStream.applyBatch(batch, labels))
    }
  }
}
