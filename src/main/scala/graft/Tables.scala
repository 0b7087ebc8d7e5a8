package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType
import scala.jdk.CollectionConverters._

/** Parquet table loaders for the TPC-H-ish test schema.
  *
  * Mirrors the ingest surface of the reference
  * (Java/src/main/java/org/deeplearning4j/dl4jGANComputerVision.java:372-400
  * reads CSV matrices), re-expressed as Spark parquet scans so filters and
  * projections push down to the columnar reader.
  *
  * Input tables are immutable within a session: [[load]] infers a table's
  * schema (one Spark job) on its first call per (session, path) and hands
  * the memoized schema to every later read, which then runs no job. Reads
  * of files the program writes itself stay on plain `spark.read`, because
  * those files change within a session: `TextAnalysis.shardManifest`,
  * q163's zone-map audit, `SnapshotTable`'s snapshots and `ScaleUp`'s
  * count of the table it has just written.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def path(dir: String, name: String): String = s"$dir/$name.parquet"

  private val schemaMemo = new Memo[(SparkSession, String), StructType]("tables.schema")

  /** A fresh relation over `dir/name.parquet` (new attribute ids on every
    * call, so two loads of one table self-join unambiguously). The first
    * load in a session is the inferring read itself; later ones read with
    * its memoized schema. A failed inference memoizes nothing.
    */
  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    val p = path(dir, name)
    var inferred: Option[DataFrame] = None
    val schema = schemaMemo((spark, p)) { inferred = Some(spark.read.parquet(p)); inferred.get.schema }
    inferred.getOrElse(spark.read.schema(schema).parquet(p))
  }

  def lineitem(s: SparkSession, d: String): DataFrame   = load(s, d, "lineitem")
  def orders(s: SparkSession, d: String): DataFrame     = load(s, d, "orders")
  def customer(s: SparkSession, d: String): DataFrame   = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame   = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame       = load(s, d, "part")
  def nation(s: SparkSession, d: String): DataFrame     = load(s, d, "nation")
  def region(s: SparkSession, d: String): DataFrame     = load(s, d, "region")
  /** `events.ts` has shipped under two parquet encodings: plain
    * timestamp[us] (isAdjustedToUTC=false → Spark reads TIMESTAMP_NTZ) and
    * legacy TIMESTAMP(NANOS) (Spark only reads it as a raw nano count under
    * `spark.sql.legacy.parquet.nanosAsLong`). Branch on the LOADED dtype and
    * normalize both to the same pair: a session-zoned microsecond timestamp
    * `ts` plus an exact `ts_us` bigint for epoch arithmetic — so the 18
    * downstream consumers are encoding-agnostic. Sessions pin
    * `spark.sql.session.timeZone=UTC`, making the NTZ→LTZ cast an identity
    * on the stored micros (the value DuckDB's naive TIMESTAMP sees).
    */
  def events(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types._
    val raw =
      try load(s, d, "events")
      catch {
        // TIMESTAMP(NANOS) files fail schema conversion without the legacy
        // flag; only then opt in (scoped intent — never mutated for modern
        // files) and re-read, yielding `ts` as a raw nanos long.
        case e: org.apache.spark.sql.AnalysisException
            if e.getMessage.contains("Parquet") =>
          s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
          load(s, d, "events")
      }
    raw.schema("ts").dataType match {
      case LongType => // legacy nanos-as-long
        raw
          .withColumn("ts_us", expr("ts div 1000"))
          .withColumn("ts", timestamp_micros(col("ts_us")))
      case _: TimestampNTZType =>
        raw
          .withColumn("ts", col("ts").cast(TimestampType))
          .withColumn("ts_us", unix_micros(col("ts")))
      case _: TimestampType =>
        raw.withColumn("ts_us", unix_micros(col("ts")))
      case other =>
        throw new IllegalStateException(
          s"events.ts: unsupported parquet type $other (expected timestamp or legacy nanos long)")
    }
  }
  def documents(s: SparkSession, d: String): DataFrame  = load(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = load(s, d, "embeddings")
}

/** One session-lifetime memo cache (a cached signature DataFrame, a
  * trained quantizer, a persisted index table) keyed by (session, corpus
  * dir, ...). `apply` builds each key's value exactly once, however many
  * callers race on it (`computeIfAbsent`); a build must not re-enter its
  * own memo, though it may call other memos. [[clear]] runs `release` on
  * each held value (unpersisting a cached frame) and forgets it.
  * Constructing a memo registers it with [[Memos]].
  */
final class Memo[K, V](val name: String, release: V => Unit = (_: V) => ()) {
  private val map = new java.util.concurrent.ConcurrentHashMap[K, V]()
  Memos.add(this)

  def apply(key: K)(build: => V): V = map.computeIfAbsent(key, _ => build)

  def size: Int = map.size

  def clear(): Unit = map.keySet.forEach { k =>
    val v = map.remove(k)
    if (v != null) release(v)
  }
}

/** Registry of the engine's [[Memo]]s.
  *
  * The memos assume a STATIC corpus per (session, dir) — the right trade
  * for batch pipelines where one snapshot is queried many times. A
  * long-lived session that rewrites a corpus dir, or needs to bound
  * cached-plan/storage memory, calls [[clearAll]]: every registered memo
  * unpersists its cached DataFrames and forgets its state, so the next
  * query rebuilds from the current files. Storage-memory pressure from
  * the memos is visible in the bench harness' `storage_mem_high_water`
  * field.
  */
object Memos {
  private val all = new java.util.concurrent.CopyOnWriteArrayList[Memo[_, _]]()

  private[graft] def add(m: Memo[_, _]): Unit = all.add(m)

  /** Drop every registered memo: cached plans unpersist, trained models
    * and table registrations forget. Persisted table FILES under the
    * warehouse dir survive (they are corpus-snapshot artifacts); their
    * next use rebuilds the catalog entry via overwrite.
    */
  def clearAll(): Unit = all.forEach(_.clear())

  /** (name, entries) of every memo registered so far — memos register
    * when their owning object first initializes.
    */
  def held: Seq[(String, Int)] = all.asScala.toSeq.map(m => m.name -> m.size)

  /** Collision-free table-name token for a corpus dir: the first 16 hex
    * chars of SHA-256 over the CANONICAL path (a 32-bit `hashCode` can
    * collide across two dirs within one session and silently share a
    * persisted table).
    */
  def pathToken(d: String): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    md.digest(new java.io.File(d).getCanonicalPath.getBytes("UTF-8"))
      .take(8).map(b => f"$b%02x").mkString
  }
}

/** One engine operator: a Spark implementation plus (when SQL-expressible)
  * an ANSI-SQL oracle the driver replays in DuckDB over the same parquet.
  * Oracle-bearing results must be deterministic: unique sort keys, and any
  * multi-term double aggregate rounded (per-row single IEEE ops are exact
  * across engines and stay unrounded).
  */
final case class QueryDef(
    name: String,
    fn: (SparkSession, String) => DataFrame,
    oracle: Option[String])

object QueryDef {
  def sql(name: String, oracle: String)(fn: (SparkSession, String) => DataFrame): QueryDef =
    QueryDef(name, fn, Some(oracle))
  def rowsOnly(name: String)(fn: (SparkSession, String) => DataFrame): QueryDef =
    QueryDef(name, fn, None)
}
