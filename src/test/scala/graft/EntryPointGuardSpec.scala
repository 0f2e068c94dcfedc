package graft

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Keeps the runnable surface to the six entry points: `graft.Bench`
  * (rows), `graft.Verify` (oracle dump), `graft.Probe` (operator probes),
  * `graft.PlanDump`, `graft.ScaleUp` and `graft.Demo`. A new timing
  * harness belongs in `graft.Probe` (a named probe) or `graft.Bench` (a
  * row), so a new `def main` in `src/main/scala` fails here.
  */
class EntryPointGuardSpec extends AnyFunSuite {

  private val root = java.nio.file.Paths.get("src/main/scala")

  /** The object enclosing each `def main`: the nearest `object` declared
    * above it in the same file.
    */
  private lazy val mains: Seq[String] = {
    assert(java.nio.file.Files.isDirectory(root), s"no $root under the working dir")
    val walk = java.nio.file.Files.walk(root)
    val files = try walk.iterator().asScala
      .filter(_.toString.endsWith(".scala")).toList finally walk.close()
    val obj = """^\s*(?:private\S*\s+)?object\s+(\w+)""".r.unanchored
    val main = """^\s*def\s+main\s*\(""".r.unanchored
    for {
      f <- files
      lines = java.nio.file.Files.readAllLines(f).asScala.toSeq
      i <- lines.indices if main.matches(lines(i))
    } yield lines.take(i).reverse.collectFirst { case obj(n) => n }
      .getOrElse(s"${root.relativize(f)}:${i + 1}")
  }

  test("the objects declaring def main are exactly the six entry points") {
    assert(mains.sorted ==
      Seq("Bench", "Demo", "PlanDump", "Probe", "ScaleUp", "Verify"))
  }
}
