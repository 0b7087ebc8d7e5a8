package graft

import org.apache.spark.sql.DataFrame

/** `Tables.load` infers a table's schema once per session: a repeat load
  * runs no Spark job, yet every load is a fresh relation.
  */
class TablesSpec extends SparkSpec {

  test("a repeat load of each fixture table runs no Spark job") {
    for (t <- Tables.names) {
      Tables.load(spark, sfDir, t)
      assert(jobsOf(Tables.load(spark, sfDir, t)) == 0, t)
    }
    Tables.events(spark, sfDir)
    assert(jobsOf(Tables.events(spark, sfDir)) == 0, "events, normalized")
  }

  test("a freshly written table infers its schema on the first load only") {
    val dir = java.nio.file.Files.createTempDirectory("tables")
    val d = dir.toString
    try {
      spark.range(0, 100).selectExpr("id", "id * 2 AS v").write.parquet(Tables.path(d, "fresh"))
      assert(jobsOf(Tables.load(spark, d, "fresh")) >= 1)
      assert(jobsOf(Tables.load(spark, d, "fresh")) == 0)
      assert(Tables.load(spark, d, "fresh").count() == 100L)
    } finally org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
  }

  test("each memoized schema equals the inferred one") {
    for (t <- Tables.names) {
      Tables.load(spark, sfDir, t) // a first load returns the inferring read
      assert(Tables.load(spark, sfDir, t).schema ==
        spark.read.parquet(Tables.path(sfDir, t)).schema, t)
    }
  }

  test("two loads of one table self-join like two plain reads") {
    // each order paired with the same customer's later orders: the `<`
    // term must tell the two sides' columns apart
    def pairs(a: DataFrame, b: DataFrame): Long =
      a.join(b, a("o_custkey") === b("o_custkey") && a("o_orderkey") < b("o_orderkey")).count()
    val path = Tables.path(sfDir, "orders")
    val n = pairs(Tables.orders(spark, sfDir), Tables.orders(spark, sfDir))
    assert(n == pairs(spark.read.parquet(path), spark.read.parquet(path)))
    assert(n > 0, "customers with several orders must pair up")
  }

  test("Memos.held lists the schema memo") {
    Tables.orders(spark, sfDir)
    assert(Memos.held.exists { case (name, n) => name == "tables.schema" && n > 0 })
  }
}
