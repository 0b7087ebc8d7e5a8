package graft

import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{GraftBridge, SparkSession}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for specs. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session
  // overridable so parity suites can re-run against a larger SF
  // (e.g. SPARK_GRAFT_TEST_SF_DIR=/root/testdata/sf0.01 sbt test)
  val sfDir: String =
    sys.env.getOrElse("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")

  /** Spark jobs started while `body` runs. The listener bus is drained
    * before and after, so every job of `body`, and no earlier one, counts.
    */
  def jobsOf(body: => Unit): Int = {
    val sc = spark.sparkContext
    val jobs = new AtomicInteger
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    GraftBridge.drainListeners(sc)
    sc.addSparkListener(l)
    try {
      body
      GraftBridge.drainListeners(sc)
      jobs.get
    } finally sc.removeSparkListener(l)
  }
}

object SparkSpec {
  lazy val session: SparkSession = Session.local(4)
}
