package graft
import org.apache.spark.sql.SparkSession

/** The one place graft builds a SparkSession. Every main (Bench, Verify,
  * ScaleUp, SkewDemo, Explain) and the specs' shared session take their
  * settings from here, so a number a dev run prints comes from the same
  * session conf the bench and the correctness dump use.
  */
object Session {
  /** Core count for the mains: `SPARK_GRAFT_CPUS`, else every core the
    * JVM sees.
    */
  def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  /** A `local[cpus]` session with one shuffle partition per core. */
  def local(cpus: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      // the engine's TypedImperativeAggregates (TopKNbr, sketches) are
      // built for LARGE group counts with small bounded buffers; Spark's
      // default 128-group ObjectHashAggregate fallback flips their
      // map-side combine to sort-based (serialize + sort every buffer) —
      // measured ~20% slower on the pair-aggregation family (q52/q148/
      // q141). 4096 groups × O(k)-sized buffers is a few MB per task.
      // Group counts grow with the corpus, so a fixed threshold silently
      // flips that family to sort-based at 100x: the sf10 scale protocol
      // sets SPARK_GRAFT_OBJ_AGG_FALLBACK=1048576 (PLANS.md, "Scale knobs
      // are part of the measurement protocol").
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold",
        sys.env.getOrElse("SPARK_GRAFT_OBJ_AGG_FALLBACK", "4096"))
      // shuffle FILES are only reclaimed when the driver GC collects the
      // shuffle dependencies — a multi-hour many-query session on a big
      // heap barely GCs, so spills accumulate across queries and can
      // fill local disk (the sf10 checkpoint died exactly this way: 41
      // heavy queries x 3 passes outran Spark's built-in 30min periodic
      // GC). On a cluster the external shuffle service + dynamic
      // allocation bound this; in local mode the knob is the periodic GC
      // interval, so it must be TIGHTER than the 30min default or the
      // config is a no-op — 5min bounds spill retention to a few
      // queries' worth on long sessions.
      .config("spark.cleaner.periodicGC.interval", "5min")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
