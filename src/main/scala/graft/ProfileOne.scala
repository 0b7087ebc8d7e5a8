package graft
import org.apache.spark.scheduler._

/** Dev-only per-query probe: runs each named query twice, cold (rep 1)
  * then warm (rep 2), on the [[Session]] the bench uses. Per rep it
  * prints wall time, rows, and a listener's attribution of that time to
  * Spark jobs — job count, stage count, task count, summed task wall,
  * and the top stages by duration — so "is this query
  * job-overhead-bound or compute-bound?" is a measurement, not a guess.
  * After both reps it lists the largest cached RDDs by memory. Not part
  * of the driver contract.
  *
  * The last line per query lists each non-empty [[Memo]] and its entries.
  *
  * Usage: SPARK_GRAFT_SF_DIR=<sfDir> runMain graft.ProfileOne <query>...
  */
object ProfileOne {
  final class L extends SparkListener {
    case class St(name: String, tasks: Int, taskMs: Long, wallMs: Long)
    val stages = scala.collection.mutable.ArrayBuffer[St]()
    var jobs = 0
    override def onJobStart(j: SparkListenerJobStart): Unit = jobs += 1
    override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
      val i = sc.stageInfo
      val wall = (for {a <- i.completionTime; b <- i.submissionTime}
        yield a - b).getOrElse(0L)
      // the callsite name for broadcast builds is an opaque future frame;
      // pull the first graft.* frame out of the details stack instead
      val site = i.details.linesIterator
        .find(l => l.contains("graft.") && !l.contains("ProfileOne"))
        .map(_.trim.take(90)).getOrElse(i.name.linesIterator.next().take(70))
      val m = i.taskMetrics
      stages += St(site + f" [gc=${m.jvmGCTime}ms cpu=${m.executorCpuTime / 1000000}ms " +
        f"deser=${m.executorDeserializeTime}ms in=${m.inputMetrics.recordsRead}r " +
        f"sh=${m.shuffleReadMetrics.recordsRead}r]",
        i.numTasks, m.executorRunTime, wall)
    }
    def reset(): Unit = { stages.clear(); jobs = 0 }
    def report(): String = {
      val top = stages.sortBy(-_.wallMs).take(12).map(s =>
        f"      ${s.wallMs}%6d ms wall ${s.taskMs}%7d ms task ${s.tasks}%4d t  ${s.name}")
      f"jobs=$jobs stages=${stages.size} tasks=${stages.map(_.tasks).sum} " +
        f"stageWallSum=${stages.map(_.wallMs).sum} ms taskSum=${stages.map(_.taskMs).sum} ms\n" +
        top.mkString("\n")
    }
  }
  def main(args: Array[String]): Unit = {
    val spark = Session.local(Session.cpus)
    val l = new L
    spark.sparkContext.addSparkListener(l)
    val d = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    for (n <- args) {
      for (pass <- Seq("cold", "warm")) {
        l.reset()
        val t0 = System.nanoTime()
        val c = SparkEntry.queries(n)(spark, d).count()
        val dt = (System.nanoTime() - t0) / 1e9
        Thread.sleep(300) // let the listener bus drain
        println(f"== $n $pass: $dt%.2f s ($c rows)  ${l.report()}")
      }
      // what the query left cached: attributes a storage-budget
      // regression (the Bench gate) to its memo
      val infos = spark.sparkContext.getRDDStorageInfo
        .filter(_.memSize > 0).sortBy(-_.memSize)
      println(s"== $n resident: total ${infos.map(_.memSize).sum / 1048576} MiB")
      infos.take(8).foreach { i =>
        println(f"   ${i.memSize / 1048576.0}%8.1f MiB  ${i.name.linesIterator.next()}")
      }
      val held = Memos.held.filter(_._2 > 0)
      println(s"== $n memos: " + held.map { case (m, k) => s"$m=$k" }.mkString(" "))
    }
    spark.stop()
  }
}
