package graft

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Keeps [[graft.streaming.CounterLog]] the only batch-log implementation
  * and `graft.queries.DuckSql` the only home of the DuckDB oracle helpers:
  * fails when `src/main/scala` lists batch dirs by name, globs for part
  * files, takes a fold's max batch id, or defines a `ddb` helper anywhere
  * else.
  */
class StoreLogGuardSpec extends AnyFunSuite {

  private val root = java.nio.file.Paths.get("src/main/scala")
  private val counterLog = "graft/streaming/CounterLog.scala"
  private val duckSql = "graft/queries/DuckSql.scala"

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

  private def hits(outside: String, pattern: String) =
    code.filter { case (f, _, l) => f != outside && l.contains(pattern) }

  private def show(hits: Seq[(String, Int, String)]) =
    hits.map { case (f, n, l) => s"$f:$n: $l" }.mkString("\n")

  test("batch-dir listings, part-file globs and fold max ids live only in CounterLog") {
    val found = Seq("startsWith(\"batch_id=\")", "startsWith(\"batch=\")",
      "globStatus(", "agg(max(col(\"batch").flatMap(hits(counterLog, _))
    assert(found.isEmpty, s"hand-rolled batch-log code:\n${show(found)}")
  }

  test("DuckDB oracle helpers are defined only in DuckSql") {
    val found = hits(duckSql, "private def ddb")
    assert(found.isEmpty, s"oracle helper copies:\n${show(found)}")
  }
}
