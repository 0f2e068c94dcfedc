package graft

import java.nio.file.Files

import org.apache.hadoop.fs.Path
import org.scalatest.funsuite.AnyFunSuite

/** The `faulty://` test filesystem serves the same listings, with the
  * same owners and permissions, as `file:` does for the same paths.
  */
class FaultyFileSystemSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  test("listFiles(dir, recursive = true) under faulty:// returns the files file: does") {
    FaultyFileSystem.register(spark)
    val dir = Files.createTempDirectory("faulty-list")
    try {
      Files.createDirectories(dir.resolve("a/b"))
      Seq("top", "a/one", "a/b/two", "a/b/three").foreach(f =>
        Files.write(dir.resolve(f), f.getBytes("UTF-8")))
      def listing(scheme: String) = {
        val root = new Path(s"$scheme://$dir")
        val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
        val it = fs.listFiles(root, true)
        val out = Seq.newBuilder[(String, Long, String, String)]
        while (it.hasNext) {
          val f = it.next()
          assert(f.getPath.toUri.getScheme == scheme)
          out += ((f.getPath.toUri.getPath, f.getLen, f.getPermission.toString, f.getOwner))
        }
        out.result().sorted
      }
      val local = listing("file")
      assert(local.map(_._1) == Seq("a/b/three", "a/b/two", "a/one", "top").map(f => s"$dir/$f"))
      assert(listing(FaultyFileSystem.scheme) == local)
    } finally new scala.reflect.io.Directory(dir.toFile).deleteRecursively()
  }
}
