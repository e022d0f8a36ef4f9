package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funspec.AnyFunSpec

/** Shared local SparkSession for all suites (one JVM — Test/fork). */
object SparkSpec {
  lazy val session: SparkSession = {
    val s = GraftSession.builder(4)
      .appName("graft-test")
      .config("spark.sql.warehouse.dir", "/tmp/graft_warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}

trait SparkSpec extends AnyFunSpec {
  lazy val spark: SparkSession = SparkSpec.session
}
