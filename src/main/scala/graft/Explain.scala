package graft
object Explain {
  def main(args: Array[String]): Unit = {
    val spark = Session.local(Session.cpus)
    val d = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    for (n <- args) {
      println(s"===== $n =====")
      SparkEntry.queries(n)(spark, d).explain("formatted")
    }
    spark.stop()
  }
}
