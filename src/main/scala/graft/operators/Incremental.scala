package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{QueryDef, Tables}

/** Incremental aggregate maintenance (materialized-view refresh): keep a
  * persisted per-key aggregate snapshot current under delta batches
  * WITHOUT re-scanning the corpus. The snapshot lives as a bucketed
  * catalog table on the grouping key; a refresh aggregates only the
  * delta, then merges the two per-key partial-aggregate sets with a
  * full-outer join that is exchange-free on the snapshot side (the
  * bucketed scan already satisfies the join's distribution — only the
  * O(delta-keys) side shuffles, plan-asserted). At 100 TB the refresh
  * cost is O(delta), not O(corpus) — the q48 incremental-dedup posture
  * applied to aggregation. Measures must be decomposable partials
  * (sum/count here; min/max/sum-of-squares work the same way).
  */
object Incremental {

  /** Merge two per-key partial-aggregate sets: full-outer on `key`,
    * every measure coalesced-added. Columns must match by name. The
    * outer-side zero is cast to each measure's OWN dataType (read off
    * the base schema) so a double measure merges as a double — a bare
    * `lit(0L)` would silently widen/narrow through an implicit cast.
    */
  def mergeAggregates(base: DataFrame, delta: DataFrame, key: String,
      measures: Seq[String]): DataFrame = {
    val zeros = measures.map(m =>
      m -> lit(0).cast(base.schema(m).dataType)).toMap
    val d = measures.foldLeft(delta) { (df, m) =>
      df.withColumnRenamed(m, s"_d_$m")
    }
    measures.foldLeft(base.join(d, Seq(key), "full_outer")) { (df, m) =>
      df.withColumn(m,
        coalesce(col(m), zeros(m)) + coalesce(col(s"_d_$m"), zeros(m)))
    }.select(key, measures: _*)
  }

  /** Per-customer order aggregates over `rows` — count plus an EXACT
    * money sum (cents as BIGINT: `round(price*100)` is one IEEE op on
    * both engines, and integer addition is order-insensitive, so the
    * incremental merge and the oracle's single-pass recompute agree
    * bit-for-bit where a double sum would drift with addition order).
    */
  private def orderAgg(rows: DataFrame): DataFrame =
    rows.groupBy("o_custkey").agg(
      count(lit(1)).as("n_orders"),
      sum(expr("cast(round(o_totalprice * 100) as bigint)")).as("total_cents"))

  /** The memoized base snapshot: aggregates of the 90% "standing corpus"
    * slice persisted as a bucketed table on the grouping key, written
    * once per (session, corpus dir) — the signature-table treatment.
    */
  private val MvBuckets = 8
  private val mvMemo = new graft.Memo[(SparkSession, String), String]("incremental.baseAgg")
  private[graft] def baseAggTable(s: SparkSession, d: String): String =
    mvMemo((s, d)) {
      val t = s"graft_mv_orders_${graft.Memos.pathToken(d)}"
      ScaleJoins.writeBucketed(
        orderAgg(Tables.orders(s, d).filter(col("o_orderkey") % 10 =!= 0)),
        t, "o_custkey", MvBuckets)
      t
    }

  // q104 — INCREMENTAL AGGREGATE (materialized-view maintenance): the
  // standing per-customer order aggregate is a persisted bucketed
  // snapshot (the 90% slice); the 10% delta batch aggregates alone and
  // full-outer-merges in. The refreshed view must equal the from-scratch
  // groupBy over the WHOLE table — which is exactly what the DuckDB
  // oracle runs, so the hash gate proves the incremental path lossless
  // (new keys included via the outer side). The corpus is never
  // re-aggregated: one bucketed-scan + one O(delta) shuffle per refresh.
  val q104: QueryDef = QueryDef.sql(
    "q104_incremental_agg",
    """SELECT o_custkey,
      |  CAST(COUNT(*) AS BIGINT) AS n_orders,
      |  CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS total_cents
      |FROM orders
      |GROUP BY o_custkey
      |ORDER BY o_custkey""".stripMargin) { (s, d) =>
    val base = s.table(baseAggTable(s, d))
    // partition the delta to the snapshot's bucketing BEFORE aggregating:
    // the agg and the merge join then both reuse that one exchange
    val delta = orderAgg(
      Tables.orders(s, d).filter(col("o_orderkey") % 10 === 0)
        .repartition(MvBuckets, col("o_custkey")))
    mergeAggregates(base, delta, "o_custkey", Seq("n_orders", "total_cents"))
      .orderBy("o_custkey")
  }

  /** STREAMING materialized-view maintenance — the merge-on-read (LSM)
    * shape. A per-batch snapshot REWRITE would cost O(snapshot) every
    * trigger; instead each micro-batch APPENDS its partial-aggregate
    * rows (O(batch) work, existing files never rewritten — the
    * appendToIndexTable posture), [[readView]] compacts per key at read
    * time, and a periodic offline [[compact]] (the q104 merge) bounds
    * the partial count. Each batch's partials land under a `batch_id`
    * PARTITION via [[appendBatch]], which makes the append idempotent:
    * foreachBatch is at-least-once (a crash between the write and the
    * checkpoint commit replays the batch on restart), and the replay
    * either skips (its id is in the post-data commit ledger) or
    * overwrites exactly its own partition — exactly-once table contents
    * without rewriting any OTHER batch's committed file.
    */
  def refreshStream(orderStream: DataFrame, snapTable: String)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    orderStream.writeStream
      .outputMode("update")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        appendBatch(batch, batchId, snapTable)
      }

  /** The committed-batch ledger table backing [[appendBatch]]'s
    * idempotence probe: one row per FULLY committed batch id, appended
    * strictly after that batch's data job succeeds.
    */
  private[graft] def ledgerTable(snapTable: String): String =
    s"${snapTable}_ledger"

  /** Idempotent per-batch append. The skip is gated on the LEDGER, not
    * on the data partition being visible: a parquet job commit is not
    * atomic across task files, so a crash mid-commit can leave a
    * partition partially visible — probing the partition would read
    * "committed" and silently drop the rest of the batch on replay.
    * Instead the ledger row is written strictly AFTER the data job
    * returns, and a replay that finds no ledger row dynamically
    * OVERWRITES exactly its own `batch_id` partition (deterministic
    * per-batch aggregate → byte-identical content), wiping any partial
    * files rather than appending next to them. Crash windows: before
    * the data commit → replay rewrites the partition; between data and
    * ledger → replay rewrites the identical partition and then marks;
    * after the ledger → replay skips. The ledger also survives
    * [[compact]] (which folds partitions into `batch_id = -1`), so a
    * late replay of a compacted-away id still skips instead of
    * re-appending — exactly-once table CONTENTS in every window.
    */
  private[graft] def appendBatch(batch: DataFrame, batchId: Long,
      snapTable: String): Unit =
    if (!batch.isEmpty) idempotentAppend(orderAgg(batch), batchId, snapTable)

  /** The reusable ledger-gated write behind [[appendBatch]]: land
    * `rows` (any schema) under a `batch_id = batchId` partition of
    * `table` with the exactly-once-contents guarantee documented above.
    * `rows` must be a DETERMINISTIC function of the batch (a replay
    * regenerates identical content) — true for any foreachBatch
    * transform of the trigger's data, e.g. a streaming ANN probe's
    * top-k results (see [[graft.sim.Similarity.nswProbeStream]]).
    */
  def idempotentAppend(rows: DataFrame, batchId: Long,
      table: String): Unit = {
    val s = rows.sparkSession
    val ledger = ledgerTable(table)
    val committed = s.catalog.tableExists(ledger) &&
      !s.table(ledger).filter(col("batch_id") === batchId).isEmpty
    if (!committed) {
      val part = rows.withColumn("batch_id", lit(batchId))
      if (s.catalog.tableExists(table)) {
        val key = "spark.sql.sources.partitionOverwriteMode"
        val prev = s.conf.get(key, "STATIC")
        s.conf.set(key, "dynamic")
        try part.write.mode("overwrite").insertInto(table)
        finally s.conf.set(key, prev)
      } else
        part.write.mode("append").format("parquet")
          .partitionBy("batch_id").saveAsTable(table)
      s.range(1).select(lit(batchId).as("batch_id"))
        .write.mode("append").format("parquet").saveAsTable(ledger)
    }
  }

  /** The view over base-plus-partials: one groupBy over the partials
    * table — at scale the table holds one row per key per un-compacted
    * batch, so the read pays O(keys + recent partials), not O(corpus).
    */
  def readView(s: SparkSession, snapTable: String): DataFrame =
    s.table(snapTable).groupBy("o_custkey").agg(
      sum("n_orders").as("n_orders"),
      sum("total_cents").as("total_cents"))

  /** Offline compaction: collapse the partials to one row per key,
    * parked under the reserved `batch_id = -1` partition (stream batch
    * ids are ≥ 0) so the table keeps its partition layout; the commit
    * LEDGER is untouched, so [[appendBatch]]'s idempotence probe still
    * skips late replays of compacted-away ids afterwards. The
    * localCheckpoint materializes the compacted rows and truncates
    * lineage so the overwrite doesn't read the files it replaces.
    */
  def compact(s: SparkSession, snapTable: String): Unit = {
    readView(s, snapTable).withColumn("batch_id", lit(-1L))
      .localCheckpoint()
      .write.mode("overwrite").format("parquet")
      .partitionBy("batch_id").saveAsTable(snapTable)
    ()
  }

  /** Per-day HLL user sketches of an event slice — the mergeable state
    * [[q169]] maintains. One map-side-combined aggregate; output is
    * O(days) rows each carrying a bounded sketch binary.
    */
  private[graft] def dailyUserSketch(events: DataFrame): DataFrame =
    events.select(expr("ts_us div 86400000000").as("day"), col("user_id"))
      .groupBy("day").agg(expr("hll_sketch_agg(user_id)").as("sk"))

  private val duMemo = new graft.Memo[(SparkSession, String), String]("incremental.dailyUsers")
  private[graft] def dailyUserTable(s: SparkSession, d: String): String =
    duMemo((s, d)) {
      val t = s"graft_mv_daily_users_${graft.Memos.pathToken(d)}"
      dailyUserSketch(Tables.events(s, d).filter(col("event_id") % 10 =!= 0))
        .write.mode("overwrite")
        // external path: files outlive the per-JVM metastore, so a fresh
        // session overwrites cleanly instead of tripping on the stale dir
        .option("path",
          s"${s.sessionState.conf.warehousePath}/graft-mv/$t")
        .saveAsTable(t)
      t
    }

  // q169 — INCREMENTAL DISTINCT-COUNT maintenance (daily active users —
  // THE metric every warehouse keeps current, and the one a q104-style
  // additive merge cannot serve: COUNT DISTINCT is not decomposable, so
  // the snapshot must hold a MERGEABLE sketch, not a number). The
  // standing state is a persisted (day, HLL sketch) table over the 90%
  // slice; a refresh sketches only the 10% delta and hll_unions per
  // day — O(delta) work + an O(days) sketch merge, the corpus never
  // re-aggregated (plan-guarded: one events scan, the snapshot side
  // reads sketch binaries). HLL union is LOSSLESS at the REGISTER
  // level: the merged sketch holds the same registers as a one-pass
  // sketch of the whole slice, so the incremental path's estimates
  // EQUAL a from-scratch recompute that passes through any real merge
  // (spec-asserted, alongside a ≤5% accuracy band vs exact distinct).
  // Read paths matter above coupon-exact cardinality: a merged sketch
  // estimates with the composite estimator — a partition-independent
  // function of the registers (r9 sf1 measurement: every merged
  // decomposition agrees bit-for-bit) — while a sketch whose group
  // stayed in one partition keeps its HIP accumulator and reads
  // slightly differently; the asserted invariant is merge-vs-merge,
  // the engine property, not an estimator-internals coincidence.
  // Sketch internals are engine-specific → rows-only.
  val q169: QueryDef = QueryDef.rowsOnly("q169_incremental_distinct") { (s, d) =>
    val snapshot = s.table(dailyUserTable(s, d))
    val delta = dailyUserSketch(
      Tables.events(s, d).filter(col("event_id") % 10 === 0))
    snapshot.unionByName(delta)
      .groupBy("day").agg(expr("hll_union_agg(sk)").as("sk"))
      .select(col("day"),
        expr("hll_sketch_estimate(sk)").as("approx_users"))
      .orderBy("day")
  }

  /** STREAMING distinct-count maintenance — q169's live face, the
    * sketch-table variant of [[refreshStream]]: each micro-batch's
    * per-day HLL sketches APPEND under a `batch_id` partition via the
    * same ledger-gated [[idempotentAppend]] (exactly-once table contents
    * under at-least-once foreachBatch replay — a replayed batch
    * regenerates identical sketches, the determinism idempotentAppend
    * demands); [[readDistinctView]] compacts per day with hll_union_agg
    * at read. Merge-on-read: a trigger costs O(batch), never a snapshot
    * rewrite, and the periodic offline compaction story is q104's.
    */
  def distinctStream(events: DataFrame, snapTable: String)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    events.writeStream
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (!batch.isEmpty)
          idempotentAppend(dailyUserSketch(batch), batchId, snapTable)
      }

  /** The DAU view over appended sketch partials: one O(days + recent
    * partials) groupBy — HLL union collapses any number of per-batch
    * partial sketches per day losslessly.
    */
  def readDistinctView(s: SparkSession, snapTable: String): DataFrame =
    s.table(snapTable).groupBy("day")
      .agg(expr("hll_union_agg(sk)").as("sk"))
      .select(col("day"), expr("hll_sketch_estimate(sk)").as("approx_users"))

  // q196 — CDC CHANGELOG APPLY (log compaction): the missing third leg
  // of the incremental family — q104 merges decomposable AGGREGATES,
  // q110/q176 keep full HISTORY, this compacts a raw insert/update/
  // delete op log to current state: per key the HIGHEST-sequence op
  // wins, a terminal delete drops the key entirely (its payload is
  // NULL, as a real CDC feed ships deletes). The changelog derives
  // deterministically from orders (every key inserts at seq 1, key%3=0
  // updates at seq 2 with +500 cents, key%7=0 deletes at seq 3 — so
  // I-only, I+U, I+D, and I+U+D keys all occur). Money rides as exact
  // cents-BIGINT (one IEEE round on both engines, order-insensitive).
  // Scale shape: compaction is ONE hash aggregate on the key — max_by
  // partials combine map-side, no window, no per-key sort — so the
  // reducer holds one (op, price, seq) triple per key, not the key's op
  // history; the naive row_number-over-(key, seq desc) window shape
  // would sort every key's full log instead. Trap: max_by over the op
  // STRING puts a string in the aggregation buffer, and HashAggregate
  // only takes mutable primitive buffer types — Spark silently demotes
  // to SortAggregate, a per-partition corpus sort before the partials.
  // The delete decision is therefore aggregated as an INT flag
  // (max_by(op='D', seq)) and the strings stay in the log where they
  // belong. At 100 TB the compacted batch then merges into the standing
  // snapshot via q104's bucketed full-outer posture — compaction cost
  // stays O(log batch).
  val q196: QueryDef = QueryDef.sql(
    "q196_cdc_apply",
    """WITH log AS (
      |  SELECT o_orderkey AS k, 1 AS seq, 'I' AS op,
      |    CAST(ROUND(o_totalprice * 100) AS BIGINT) AS price_cents
      |  FROM orders
      |  UNION ALL
      |  SELECT o_orderkey, 2, 'U',
      |    CAST(ROUND(o_totalprice * 100) AS BIGINT) + 500
      |  FROM orders WHERE o_orderkey % 3 = 0
      |  UNION ALL
      |  SELECT o_orderkey, 3, 'D', NULL
      |  FROM orders WHERE o_orderkey % 7 = 0),
      |state AS (
      |  SELECT k AS o_orderkey,
      |    max_by(CASE WHEN op = 'D' THEN 1 ELSE 0 END, seq) AS last_del,
      |    max_by(price_cents, seq) FILTER (WHERE op <> 'D') AS price_cents,
      |    CAST(max(seq) AS INTEGER) AS last_seq,
      |    CAST(count(*) AS BIGINT) AS n_ops
      |  FROM log GROUP BY k)
      |SELECT o_orderkey, price_cents, last_seq, n_ops
      |FROM state WHERE last_del = 0
      |ORDER BY o_orderkey""".stripMargin) { (s, d) =>
    val o = Tables.orders(s, d).select(col("o_orderkey").as("k"),
      expr("cast(round(o_totalprice * 100) as bigint)").as("pc"))
    val log = o.select(col("k"), lit(1).as("seq"), lit("I").as("op"),
        col("pc").as("price_cents"))
      .unionByName(o.filter(col("k") % 3 === 0).select(col("k"),
        lit(2).as("seq"), lit("U").as("op"),
        (col("pc") + 500).as("price_cents")))
      .unionByName(o.filter(col("k") % 7 === 0).select(col("k"),
        lit(3).as("seq"), lit("D").as("op"),
        lit(null).cast("bigint").as("price_cents")))
    log.groupBy(col("k").as("o_orderkey"))
      .agg(expr("max_by(case when op = 'D' then 1 else 0 end, seq)")
          .as("last_del"),
        // price_cents is DEFINED as the payload at the last NON-DELETE
        // op: a terminal delete ships a NULL payload, and the engines
        // disagree on max_by over NULL arguments (Spark returns the NULL
        // at max seq, DuckDB's arg_max skips NULLs) — the FILTER makes
        // the surviving-rows parity structural instead of an accident of
        // the last_del=0 filter, so reuse without that filter stays
        // engine-portable.
        expr("max_by(price_cents, seq) FILTER (WHERE op <> 'D')")
          .as("price_cents"),
        max("seq").cast("int").as("last_seq"),
        count(lit(1)).as("n_ops"))
      .filter(col("last_del") === 0)
      .select("o_orderkey", "price_cents", "last_seq", "n_ops")
      .orderBy("o_orderkey")
  }

  val all: Seq[QueryDef] = Seq(q104, q169, q196)
}
