package graft

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Keeps [[graft.operators.SwapStore]] the only store-swap implementation:
  * fails when `src/main/scala` spells a `.next`/`.old` swap sibling
  * outside it, or renames anything outside it and the two allowlisted
  * commits.
  */
class StoreSwapGuardSpec extends AnyFunSuite {

  private val root = java.nio.file.Paths.get("src/main/scala")
  private val swapStore = "graft/operators/SwapStore.scala"

  /** Renames that are not store swaps: the `_geometry` sidecar's tmp-file
    * commit, and the cluster stage handoff into the replacement that
    * `SwapStore.replace` then promotes. Each must match exactly once.
    */
  private val allowedRenames = Seq(
    "graft/streaming/CounterLog.scala" -> "if (!fs.rename(tmp, p)) {",
    "graft/streaming/ClusterStream.scala" ->
      "require(fs.rename(staged, new org.apache.hadoop.fs.Path(next)),")

  /** (file, line number, line) for every non-comment source line. */
  private lazy val code: Seq[(String, Int, String)] = {
    assert(java.nio.file.Files.isDirectory(root), s"no $root under the working dir")
    val walk = java.nio.file.Files.walk(root)
    val files = try walk.iterator().asScala
      .filter(_.toString.endsWith(".scala")).toList finally walk.close()
    for {
      f <- files
      (line, i) <- java.nio.file.Files.readAllLines(f).asScala.zipWithIndex
      t = line.trim
      if !(t.startsWith("*") || t.startsWith("/*") || t.startsWith("//"))
    } yield (root.relativize(f).toString, i + 1, t)
  }

  private def show(hits: Seq[(String, Int, String)]) =
    hits.map { case (f, n, l) => s"$f:$n: $l" }.mkString("\n")

  test("swap sibling paths (.next / .old) are spelled only in SwapStore") {
    val sibling = """\.(next|old)"""".r
    val hits = code.filter { case (f, _, l) =>
      f != swapStore && sibling.findFirstIn(l).isDefined }
    assert(hits.isEmpty, s"hand-rolled swap paths:\n${show(hits)}")
  }

  test("every rename outside SwapStore is an allowlisted commit") {
    val renames = code.filter { case (f, _, l) =>
      f != swapStore && """\brename\(""".r.findFirstIn(l).isDefined }
    def allowed(f: String, l: String) =
      allowedRenames.exists { case (af, al) => f == af && l == al }
    val stray = renames.filterNot { case (f, _, l) => allowed(f, l) }
    assert(stray.isEmpty, s"renames outside SwapStore:\n${show(stray)}")
    allowedRenames.foreach { case (af, al) =>
      assert(renames.count { case (f, _, l) => f == af && l == al } == 1,
        s"allowlisted rename not found exactly once: $af: $al")
    }
  }
}
