package graft

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Keeps [[graft.operators.StageIO]] the only stage-handoff
  * implementation: fails when `src/main/scala` writes a parquet stage in
  * overwrite mode and reads the same path back within three lines
  * outside it (use `StageIO.stage`), or keeps its own stage-once memo — a
  * mutable set behind `synchronized` (use `StageIO.once`).
  */
class StageGuardSpec extends AnyFunSuite {

  private val root = java.nio.file.Paths.get("src/main/scala")
  private val stageIO = "graft/operators/StageIO.scala"

  /** Write-then-reread sites that are not stage handoffs: a per-batch
    * partition of a maintained index, and caches that persist across
    * JVMs behind a `_SUCCESS` marker. Each (file, written path) must
    * match exactly once.
    */
  private val allowed = Seq(
    "graft/streaming/SpanStream.scala" -> "s\"$indexDir/batch=$batchId\"",
    "graft/operators/DeltaManifest.scala" -> "snap",
    "graft/operators/DeltaManifest.scala" -> "dir",
    "graft/queries/Ext2Queries.scala" -> "dir",
    "graft/queries/Ext3Queries.scala" -> "dir")

  /** file → its non-comment source lines as (line number, trimmed line). */
  private lazy val code: Map[String, Seq[(Int, String)]] = {
    assert(java.nio.file.Files.isDirectory(root), s"no $root under the working dir")
    val walk = java.nio.file.Files.walk(root)
    val files = try walk.iterator().asScala
      .filter(_.toString.endsWith(".scala")).toList finally walk.close()
    files.map { f =>
      root.relativize(f).toString ->
        java.nio.file.Files.readAllLines(f).asScala.zipWithIndex.toSeq
          .map { case (l, i) => (i + 1, l.trim) }
          .filterNot { case (_, t) =>
            t.startsWith("*") || t.startsWith("/*") || t.startsWith("//") }
    }.toMap
  }

  private val write = """\.write\.mode\("overwrite"\)\.parquet\(""".r

  /** The argument of the call whose `(` ends at `from`. */
  private def argument(line: String, from: Int): Option[String] = {
    var depth = 1
    var i = from
    while (i < line.length && depth > 0) {
      line(i) match {
        case '(' => depth += 1
        case ')' => depth -= 1
        case _ =>
      }
      i += 1
    }
    if (depth == 0) Some(line.substring(from, i - 1)) else None
  }

  /** (file, line, written path) of every write re-read within 3 lines. */
  private lazy val rereads: Seq[(String, Int, String)] = for {
    (f, lines) <- code.toSeq.sortBy(_._1) if f != stageIO
    i <- lines.indices
    window = lines.slice(i, i + 4)
    (n, l) = window.head
    m <- write.findAllMatchIn(l)
    p <- argument(l, m.end)
    read = ("""read(\.schema\([^)]*\))?\.parquet\(""" +
      java.util.regex.Pattern.quote(p) + """\)""").r
    if window.exists { case (_, w) => read.findFirstIn(w).isDefined }
  } yield (f, n, p)

  test("stage handoffs go through StageIO.stage") {
    val stray = rereads.filterNot { case (f, _, p) => allowed.contains(f -> p) }
    assert(stray.isEmpty, "hand-written write-then-reread stages:\n" +
      stray.map { case (f, n, p) => s"$f:$n: $p" }.mkString("\n"))
    allowed.foreach { case (af, ap) =>
      assert(rereads.count { case (f, _, p) => f == af && p == ap } == 1,
        s"allowlisted reread not found exactly once: $af: $ap")
    }
  }

  test("stage-once memos go through StageIO.once") {
    val set = """mutable\.\w*Set\b""".r
    val memos = code.toSeq.sortBy(_._1).filter { case (f, lines) =>
      f != stageIO &&
        lines.exists { case (_, l) => set.findFirstIn(l).isDefined } &&
        lines.exists { case (_, l) => l.contains("synchronized") }
    }.map(_._1)
    assert(memos.isEmpty, s"private stage-once memos in: ${memos.mkString(", ")}")
  }
}
