package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** DataFrameCC: the large-star/small-star loop must agree with x1's
  * union-find on the registered graph and handle the structural edge cases (chains —
  * the diameter killer, stars, isolated vertices, duplicate/reversed/
  * self-loop input edges) exactly.
  */
class DataFrameCCSpec extends SparkSpec {
  import spark.implicits._

  private def cc(vs: Seq[Long], es: Seq[(Long, Long)]): Map[Long, Long] =
    DataFrameCC.components(spark,
        vs.toDF("id"), es.toDF("a", "b"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  describe("DataFrameCC.components") {
    it("labels a long chain with its minimum (diameter >> log² n)") {
      // 1-2-3-...-30: label propagation needs 29 rounds of plain
      // min-propagation; the alternating algorithm collapses it in ~log²
      val n = 30L
      val vs = (1L to n)
      val es = (1L until n).map(i => (i, i + 1))
      val got = cc(vs, es)
      assert(got == vs.map(_ -> 1L).toMap)
    }

    it("keeps separate components separate and labels isolates by self") {
      val got = cc(
        Seq(1L, 2L, 3L, 10L, 11L, 20L),
        Seq((1L, 2L), (2L, 3L), (10L, 11L)))
      assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L,
        10L -> 10L, 11L -> 10L, 20L -> 20L))
    }

    it("tolerates duplicate, reversed, and self-loop edges") {
      val got = cc(
        Seq(1L, 2L, 3L),
        Seq((2L, 1L), (1L, 2L), (2L, 2L), (3L, 2L), (2L, 3L)))
      assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L))
    }

    it("star edges already at fixpoint converge immediately") {
      val got = cc(Seq(1L, 5L, 9L), Seq((5L, 1L), (9L, 1L)))
      assert(got == Map(1L -> 1L, 5L -> 1L, 9L -> 1L))
    }

    it("matches x1's union-find components on the co-binding graph") {
      val dir = "/root/testdata/sf0.001"
      val uf = graft.graph.GraphAnalytics.coBindingComponents(spark, dir)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
      val df = graft.graph.GraphAnalytics.coBindingComponentsDF(spark, dir)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
      assert(df == uf)
      assert(df.nonEmpty)
    }

    it("labels an edgeless vertex set entirely by self") {
      val got = cc(Seq(3L, 7L, 11L), Seq.empty)
      assert(got == Map(3L -> 3L, 7L -> 7L, 11L -> 11L))
    }

    it("matches a union-find oracle on seeded random graphs") {
      val rnd = new scala.util.Random(42)
      for (trial <- 1 to 5) {
        val n = 20 + rnd.nextInt(30)
        val vs = (1L to n.toLong)
        val es = Seq.fill(n)((1L + rnd.nextInt(n), 1L + rnd.nextInt(n)))
        // driver-side union-find with min-id roots as the oracle
        val parent = scala.collection.mutable.Map(vs.map(v => v -> v): _*)
        def find(v: Long): Long = {
          var r = v
          while (parent(r) != r) r = parent(r)
          r
        }
        es.foreach { case (a, b) =>
          val (ra, rb) = (find(a), find(b))
          if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
        }
        // path-compress to min-id labels
        val expected = vs.map(v => v -> find(v)).toMap
        assert(cc(vs, es) == expected, s"trial $trial (n=$n) diverged")
        val x1 = graft.graph.GraphAnalytics
          .coBindingComponentsOn(vs.toDF("sk"), es.toDF("ea", "eb"))
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        assert(x1 == expected, s"x1 trial $trial (n=$n) diverged")
      }
    }

    it("round primitives preserve the bigger-points-smaller invariant") {
      val e = Seq((7L, 3L), (9L, 3L), (9L, 5L), (5L, 2L)).toDF("u", "v")
      for (out <- Seq(DataFrameCC.largeStar(e), DataFrameCC.smallStar(e))) {
        assert(out.filter(col("u") <= col("v")).count() == 0)
      }
    }
  }
}
