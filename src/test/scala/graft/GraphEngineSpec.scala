package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funspec.AnyFunSpec

/** One graph engine: every iterative graph kernel runs on
  * `graph.DenseGraph` (x6's DataFrame star contraction aside), so no
  * source under `src/main` may import GraphX. A sweep over the whole
  * source tree, like PlanAuditSpec's sweep over the whole registry.
  */
class GraphEngineSpec extends AnyFunSpec {

  describe("src/main") {
    lazy val sources = {
      val root = Paths.get("src/main")
      assert(Files.isDirectory(root),
        s"run from the repository root, not ${Paths.get("").toAbsolutePath}")
      val all = Files.walk(root).iterator().asScala
        .filter(p => Files.isRegularFile(p) && p.toString.endsWith(".scala")).toSeq
      assert(all.nonEmpty)
      all
    }

    it("has no org.apache.spark.graphx reference") {
      val hits = for {
        p <- sources
        (line, i) <- Files.readAllLines(p).asScala.zipWithIndex
        if line.contains("org.apache.spark.graphx")
      } yield s"$p:${i + 1}: ${line.trim}"
      assert(hits.isEmpty, hits.mkString("GraphX is referenced from src/main:\n", "\n", ""))
    }

    it("names no /tmp path outside queries/Fixtures") {
      val hits = for {
        p <- sources
        if p.getFileName.toString != "Fixtures.scala"
        (line, i) <- Files.readAllLines(p).asScala.zipWithIndex
        if line.contains("\"/tmp")
      } yield s"$p:${i + 1}: ${line.trim}"
      assert(hits.isEmpty,
        hits.mkString("a /tmp literal outside Fixtures:\n", "\n", ""))
    }
  }
}
