package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for specs. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session
  // overridable so parity suites can re-run against a larger SF
  // (e.g. SPARK_GRAFT_TEST_SF_DIR=/root/testdata/sf0.01 sbt test)
  val sfDir: String =
    sys.env.getOrElse("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
}

object SparkSpec {
  lazy val session: SparkSession = Session.local(4)
}
