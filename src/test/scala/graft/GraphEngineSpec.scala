package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funspec.AnyFunSpec

/** One graph engine: every iterative graph kernel runs on
  * `graph.DenseGraph` (x6's DataFrame star contraction aside), so no
  * source under `src/main` may import GraphX. A sweep over the whole
  * source tree, like PlanAuditSpec's sweep over the whole registry; the
  * same sweep keeps every `/tmp` path of `src/main` in `queries/Fixtures`
  * and every spec's files under `Fixtures.scratchDir`, so a test run
  * leaves nothing outside its process root. The graph kernels take their
  * vertex set and edges from the registry (`GraphTables`), never from an
  * input table or a window of their own.
  */
class GraphEngineSpec extends AnyFunSpec {

  private def scalaSources(dir: String) = {
    val root = Paths.get(dir)
    assert(Files.isDirectory(root),
      s"run from the repository root, not ${Paths.get("").toAbsolutePath}")
    val all = Files.walk(root).iterator().asScala
      .filter(p => Files.isRegularFile(p) && p.toString.endsWith(".scala")).toSeq
    assert(all.nonEmpty)
    all
  }

  /** `file:line: text` of every line of `sources` that contains one of
    * `needles`. */
  private def hitsOf(sources: Seq[java.nio.file.Path], needles: String*): Seq[String] =
    for {
      p <- sources
      (line, i) <- Files.readAllLines(p).asScala.zipWithIndex
      if needles.exists(line.contains)
    } yield s"$p:${i + 1}: ${line.trim}"

  describe("src/main") {
    lazy val sources = scalaSources("src/main")

    it("has no org.apache.spark.graphx reference") {
      val hits = hitsOf(sources, "org.apache.spark.graphx")
      assert(hits.isEmpty, hits.mkString("GraphX is referenced from src/main:\n", "\n", ""))
    }

    it("names no /tmp path outside queries/Fixtures") {
      val hits = hitsOf(sources.filter(_.getFileName.toString != "Fixtures.scala"), "\"/tmp")
      assert(hits.isEmpty,
        hits.mkString("a /tmp literal outside Fixtures:\n", "\n", ""))
    }

    it("reads an input table only through graft.Tables") {
      // `read.parquet` (or `read.schema(...).parquet`) of `<dir>/<table>.parquet`,
      // the table named literally or by an interpolated variable
      val inputRead = ("""read(\.schema\([^)]*\))?\.parquet\(s?"[^"]*/(\$\{?\w+\}?|""" +
        Tables.names.mkString("|") + """)\.parquet"""").r
      val hits = for {
        p <- sources if p.getFileName.toString != "core.scala"
        (line, i) <- Files.readAllLines(p).asScala.zipWithIndex
        if inputRead.findFirstIn(line).nonEmpty
      } yield s"$p:${i + 1}: ${line.trim}"
      assert(hits.isEmpty, hits.mkString(
        "an input table read around graft.Tables' schema memo:\n", "\n", ""))
    }
  }

  describe("graph/GraphAnalytics.scala") {
    lazy val lines = Files.readAllLines(
      Paths.get("src/main/scala/graft/graph/GraphAnalytics.scala")).asScala.toSeq
    val defName = """\bdef (\w+)""".r

    it("reads lineitem only in x2's incidence: every other kernel starts from the registry") {
      // the def each `Tables(` call sits in
      val readers = lines.zipWithIndex.filter(_._1.contains("Tables(")).map { case (_, i) =>
        lines.take(i + 1).reverse.flatMap(defName.findFirstMatchIn(_)).head.group(1)
      }
      assert(readers === Seq("coBindingPairs"),
        s"input tables read outside coBindingPairs, in: ${readers.mkString(", ")}")
    }

    it("builds no top-k window: the kNN edges have one definition, GraphTables.knnEdges") {
      val hits = lines.zipWithIndex.collect {
        case (l, i) if l.contains("row_number(") || l.contains("Window.") => s"${i + 1}: ${l.trim}"
      }
      assert(hits.isEmpty, hits.mkString("a window in GraphAnalytics:\n", "\n", ""))
    }
  }

  describe("src/test") {
    it("makes its files through Fixtures.scratchDir, never a JDK temp path or a fixed fixture path") {
      val hits = hitsOf(
        scalaSources("src/test").filter(_.getFileName.toString != "GraphEngineSpec.scala"),
        "createTempDirectory", "createTempFile", "\"/tmp/graft_fixtures")
      assert(hits.isEmpty,
        hits.mkString("a spec file outside Fixtures.scratchDir:\n", "\n", ""))
    }
  }
}
