package graft.perfbench

import scala.collection.mutable.ArrayBuffer
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** What the traced run records from Spark. Every record carries the
  * wall-clock time it started at, so that the harness can attribute it
  * after the pass to the op span open at that moment: one client issues
  * ops one at a time, so at most one op span is open at any instant.
  */
final case class StageRec(stageId: Int, submitted: Long, completed: Long,
    tasks: Int, runMs: Long, cpuMs: Double, gcMs: Long, inputBytes: Long,
    inputRows: Long, outputBytes: Long, shuffleReadBytes: Long,
    fetchWaitMs: Long, shuffleWriteBytes: Long, spillBytes: Long,
    resultBytes: Long)

final case class JobRec(jobId: Int, start: Long, var end: Long)

/** Input records read by one task, for the GAN rounds' stepped-row ratio. */
final case class TaskRec(stageId: Int, start: Long, inputRows: Long)

/** Planning phase times of one Dataset action, from its
  * `QueryExecution.tracker`.
  */
final case class PlanRec(start: Long, analysisMs: Long, optimizerMs: Long,
    physicalMs: Long)

final class Recorder extends SparkListener with QueryExecutionListener {
  val stages = ArrayBuffer[StageRec]()
  val jobs = ArrayBuffer[JobRec]()
  val tasks = ArrayBuffer[TaskRec]()
  val plans = ArrayBuffer[PlanRec]()

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobs += JobRec(e.jobId, e.time, e.time)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.find(_.jobId == e.jobId).foreach(_.end = e.time)
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null)
      tasks += TaskRec(e.stageId, e.taskInfo.launchTime, m.inputMetrics.recordsRead)
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val i = e.stageInfo
    val m = i.taskMetrics
    val sub = i.submissionTime.getOrElse(0L)
    stages += StageRec(i.stageId, sub, i.completionTime.getOrElse(sub),
      i.numTasks, m.executorRunTime, m.executorCpuTime / 1e6, m.jvmGCTime,
      m.inputMetrics.bytesRead, m.inputMetrics.recordsRead,
      m.outputMetrics.bytesWritten,
      m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead,
      m.shuffleReadMetrics.fetchWaitTime, m.shuffleWriteMetrics.bytesWritten,
      m.diskBytesSpilled, m.resultSize)
  }

  private def record(qe: QueryExecution): Unit = {
    val ph = qe.tracker.phases
    def ms(p: String): Long = ph.get(p).map(_.durationMs).getOrElse(0L)
    val start = ph.values.map(_.startTimeMs).minOption.getOrElse(0L)
    synchronized {
      plans += PlanRec(start, ms("analysis"), ms("optimization"), ms("planning"))
    }
  }
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    record(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    record(qe)
}

/** Per-layer sums over the ops of one pass, from the op spans and the
  * records above.
  */
object Layers {
  private def within(t: Long, op: OpRec): Boolean = t >= op.start && t <= op.end

  /** Total length of the union of `iv` clipped to [lo, hi]. */
  private def unionMs(iv: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    val clipped = iv.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L
    var curA = -1L
    var curB = -1L
    for ((a, b) <- clipped) {
      if (a > curB) {
        if (curB > curA) covered += curB - curA
        curA = a; curB = b
      } else if (b > curB) curB = b
    }
    if (curB > curA) covered += curB - curA
    covered
  }

  def of(ops: Seq[OpRec], rec: Recorder, cores: Int,
      stepCap: Long): Map[String, Double] = rec.synchronized {
    def stagesOf(pred: OpRec => Boolean) = {
      val sel = ops.filter(pred)
      rec.stages.filter(s => sel.exists(o => within(s.submitted, o))).toSeq
    }
    def jobsOf(pred: OpRec => Boolean) = {
      val sel = ops.filter(pred)
      rec.jobs.filter(j => sel.exists(o => within(j.start, o))).toSeq
    }
    val all = (_: OpRec) => true
    val st = stagesOf(all)
    val jobs = jobsOf(all)
    val wallMs = ops.map(_.wallMs).sum
    val plans = rec.plans.filter(p => ops.exists(o => within(p.start, o)))
    val stageActiveMs = ops.map(o => unionMs(
      st.filter(s => within(s.submitted, o)).map(s => (s.submitted, s.completed)),
      o.start, o.end)).sum
    def opMs(pred: OpRec => Boolean) = ops.filter(pred).map(_.wallMs).sum
    def byModule(m: String) = opMs(_.module == m)
    val scans = st.filter(_.inputBytes > 0)

    // GAN rounds: the direct Gan.train / trainCoTrained calls
    val isTrain = (o: OpRec) => o.op.startsWith("gan.")
    val trainOps = ops.filter(isTrain)
    val trainStages = stagesOf(isTrain)
    val trainJobs = jobsOf(isTrain)
    val trainMs = trainOps.map(_.wallMs).sum
    // each call's first job builds its input cache; the rest are rounds
    val firstJobs = trainOps.flatMap(o =>
      trainJobs.filter(j => within(j.start, o)).sortBy(_.start).headOption).toSet
    val roundJobs = trainJobs.filterNot(firstJobs)
    val roundStageIds = rec.stages.filter(s =>
      roundJobs.exists(j => s.submitted >= j.start && s.submitted <= j.end))
      .map(_.stageId).toSet
    val roundTasks = rec.tasks.filter(t => roundStageIds(t.stageId) &&
      trainOps.exists(o => o.op.startsWith("gan.train") && within(t.start, o)))
    val iterated = roundTasks.map(_.inputRows).sum
    val stepped = roundTasks.map(t => math.min(t.inputRows, stepCap)).sum
    val trainRows = trainOps.map(_.extra.getOrElse("rows_x_rounds", 0.0)).sum

    Map(
      "sources.input_bytes" -> st.map(_.inputBytes).sum.toDouble,
      "sources.input_rows" -> st.map(_.inputRows).sum.toDouble,
      "sources.scan_tasks_per_stage" ->
        (if (scans.isEmpty) 0.0 else scans.map(_.tasks).sum.toDouble / scans.size),
      "sources.output_bytes" -> st.map(_.outputBytes).sum.toDouble,
      "planning.analysis_ms" -> plans.map(_.analysisMs).sum.toDouble,
      "planning.optimizer_ms" -> plans.map(_.optimizerMs).sum.toDouble,
      "planning.physical_ms" -> plans.map(_.physicalMs).sum.toDouble,
      "operators.build_ms" -> ops.map(_.buildMs).sum,
      "operators.exec_ms" -> byModule("operators"),
      "streaming.exec_ms" -> byModule("streaming"),
      "ml.exec_ms" -> byModule("ml"),
      "sim.exec_ms" -> byModule("sim"),
      "dedup.exec_ms" -> byModule("dedup"),
      "text.exec_ms" -> byModule("text"),
      "graph.exec_ms" -> byModule("graph"),
      "driver.jobs" -> jobs.size.toDouble,
      "driver.jobs_per_op" -> (if (ops.isEmpty) 0.0 else jobs.size.toDouble / ops.size),
      "driver.gap_ms" -> (wallMs - stageActiveMs),
      "compute.stages" -> st.size.toDouble,
      "compute.tasks" -> st.map(_.tasks).sum.toDouble,
      "compute.task_ms" -> st.map(_.runMs).sum.toDouble,
      "compute.cpu_ms" -> st.map(_.cpuMs).sum,
      "compute.gc_ms" -> st.map(_.gcMs).sum.toDouble,
      "compute.core_busy_frac" ->
        (if (wallMs <= 0) 0.0 else st.map(_.runMs).sum / (wallMs * cores)),
      "shuffle.write_bytes" -> st.map(_.shuffleWriteBytes).sum.toDouble,
      "shuffle.read_bytes" -> st.map(_.shuffleReadBytes).sum.toDouble,
      "shuffle.fetch_wait_ms" -> st.map(_.fetchWaitMs).sum.toDouble,
      "shuffle.spill_bytes" -> st.map(_.spillBytes).sum.toDouble,
      "ml.gan.train_ms" -> opMs(_.op.startsWith("gan.train")),
      "ml.gan.cotrain_ms" -> opMs(_.op.startsWith("gan.cotrain")),
      "ml.gan.round_ms" ->
        (if (roundJobs.isEmpty) 0.0 else roundJobs.map(j => j.end - j.start).sum.toDouble / roundJobs.size),
      "ml.gan.local_task_ms" -> trainStages.map(_.runMs).sum.toDouble,
      "ml.gan.combine_ms" -> (trainMs - trainOps.map(o => unionMs(
        trainStages.filter(s => within(s.submitted, o)).map(s => (s.submitted, s.completed)),
        o.start, o.end)).sum),
      "ml.gan.result_bytes" -> trainStages.map(_.resultBytes).sum.toDouble,
      "ml.gan.trained_row_frac" -> (if (iterated == 0) 0.0 else stepped.toDouble / iterated),
      "gan_train_rows_per_s" -> (if (trainMs <= 0) 0.0 else trainRows / (trainMs / 1000.0)),
      "sim.ivf_append_ms" -> opMs(_.op == "sim.ivf_append"),
      "sim.ann_probe_ms" -> opMs(_.op == "sim.ann_probe"),
      "memo.gan_build_ms" -> opMs(_.op == "memo.gan_embeddings"),
      "memo.kmeans_build_ms" -> opMs(_.op == "memo.kmeans"),
      "memo.ivf_write_ms" -> opMs(_.op == "memo.ivf_index"),
      "memo.knn_graph_build_ms" -> opMs(_.op == "memo.knn_graph"),
      "memo.hit_ms" -> opMs(_.op.startsWith("memo."))
    )
  }
}
