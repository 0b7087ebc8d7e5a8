package graft

/** The specs' shared session comes from [[Session.local]], so it carries
  * every setting the mains run with. Reads the conf only: calling
  * `Session.local` again would reconfigure the shared session.
  */
class SessionSpec extends SparkSpec {

  test("shared test session carries every factory setting") {
    val conf = SparkSpec.session.conf
    val cores = conf.get("spark.master") match {
      case s"local[$n]" => n.toInt
    }
    assert(cores == 4)
    assert(conf.get("spark.sql.shuffle.partitions").toInt == cores)
    assert(conf.get("spark.sql.session.timeZone") == "UTC")
    assert(conf.get("spark.sql.objectHashAggregate.sortBased.fallbackThreshold") == "4096")
    assert(conf.get("spark.cleaner.periodicGC.interval") == "5min")
    assert(conf.get("spark.ui.enabled") == "false")
  }
}
