package graft.plans

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.functions.VectorFunctions
import graft.queries.Fixtures

class VectorDotSpec extends SparkSpec {

  private def vecs = {
    val s = spark
    import s.implicits._
    Seq(
      (1L, Seq(1.0f, 2.0f, 3.0f), Seq(4.0f, 5.0f, 6.0f)),
      (2L, Seq(0.1f, 0.2f), Seq(0.3f, 0.4f)),
      (3L, Seq.empty[Float], Seq.empty[Float])
    ).toDF("id", "a", "b")
  }

  describe("VectorDot") {

    it("is bit-identical to the HOF formulation") {
      val rows = vecs.select(col("id"),
          VectorFunctions.dot(col("a"), col("b")).as("native"),
          VectorFunctions.dotHof(col("a"), col("b")).as("hof"))
        .collect()
      rows.foreach { r =>
        assert(java.lang.Double.doubleToLongBits(r.getDouble(1)) ==
          java.lang.Double.doubleToLongBits(r.getDouble(2)),
          s"row ${r.getLong(0)}")
      }
    }

    it("returns null on length mismatch (zip_with pad semantics)") {
      val s = spark
      import s.implicits._
      val df = Seq((Seq(1.0f, 2.0f), Seq(1.0f))).toDF("a", "b")
      val out = df.select(VectorFunctions.dot(col("a"), col("b"))).collect()
      assert(out(0).isNullAt(0))
    }

    it("stays inside whole-stage codegen") {
      // parquet-backed input: a literal table would be folded away by
      // ConvertToLocalRelation, and HOF-built arrays (transform) are
      // CodegenFallback and would drag the whole Project out of codegen —
      // neither says anything about vec_dot itself
      val path = Fixtures.scratchDir("vecdot_codegen")
      vecs.write.mode("overwrite").parquet(path)
      val plan = spark.read.parquet(path)
        .select(VectorFunctions.dot(col("a"), col("b")).as("d"))
        .queryExecution.executedPlan.toString
      // `*(n)` prefixes mark operators inside a WholeStageCodegen stage
      assert(plan.matches("(?s).*\\*\\(\\d+\\) Project \\[vectordot.*"),
        plan)
    }

    it("is SQL-callable as vec_dot via GraftExtensions") {
      GraftExtensions.install(spark)
      vecs.createOrReplaceTempView("vd_vecs")
      val out = spark.sql(
        "SELECT vec_dot(a, b) AS d FROM vd_vecs WHERE id = 1").collect()
      assert(out(0).getDouble(0) == 32.0)
    }
  }
}
