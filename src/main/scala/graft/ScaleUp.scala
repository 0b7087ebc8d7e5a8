package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deterministic corpus scale-up: synthesize `sf = factor × input` from an
  * existing scale-factor directory, for scale checkpoints above what the
  * test harness ships (the r9 sf1 experiment: every 100× design claim was
  * argued from sf0.1 plans — this generates the data to MEASURE one decade
  * of it).
  *
  * Method: replica expansion with entity-key offsets — the standard
  * dataset-scaling treatment. Replica r (0 = the original, untouched)
  * offsets every entity key (custkey, orderkey, doc_id, vec_id, user_id,
  * …) by r·10⁷, so intra-replica join relationships, group cardinalities
  * per key, and time density per window all scale exactly ×factor while
  * bounded categorical domains (flags, segments, languages, sources,
  * priorities) keep their real-data cardinality. The offset is a round
  * 10⁷ so the engine's small-modulus conventions (doc_id % 50 eval slice,
  * event_id % 10 delta slice, % 8 shards) keep identical per-replica
  * class proportions.
  *
  * Two columns mutate beyond the offset, to avoid degenerate duplicates
  * the real world wouldn't ship:
  *   - `documents.text` gets a per-replica suffix token (so exact-dedup
  *     groups stay intra-replica; cross-replica pairs become NEAR-dups —
  *     deliberately: a 10× corpus with realistic near-dup density is
  *     exactly the dedup-family stress the checkpoint wants);
  *   - `embeddings.embedding` takes a deterministic hash perturbation of
  *     ±5·10⁻³ per component (breaks exact vector ties that would make
  *     kNN order degenerate, preserves the geometry every recall floor
  *     is measured against).
  *
  * Factors above 10 add a DECADE-BLOCK bound on near-dup cluster size:
  * replicas partition into blocks of 10 (block = rep / 10). Within a
  * block the sf1 scheme applies unchanged (tiny rep suffix / ±5e-3
  * vector noise → near-dup clusters of ≤10, the measured sf1 density);
  * across blocks the text gets a block-hash token interleaved every 4
  * chars (3-gram Jaccard ≤ 0.40 worst-case on the real corpus, SimHash
  * hamming far off the band gates, edit distance ≫ the 40 gate — below
  * every near-dup threshold in the engine) and vectors
  * a ±5·10⁻² per-component block offset (cosine ≈ 0.95 cross-block vs
  * 0.9995 within — below the 0.99-class cosine dup gates). Rationale: a
  * 10× corpus should carry the SAME duplicate density, not make every
  * doc a factor-sized duplicate cluster — the latter turns every
  * candidate-pair operator's growth into a measurement of the fixture's
  * quadratic output instead of the engine's scaling (the r9 sf1 audit
  * had to hand-exclude q43/q109 for exactly this; at factor 100 it
  * would swamp the whole dedup family). Block 0 (reps 0–9) is
  * bit-identical to the factor=10 scheme, so regenerating sf1 from this
  * code reproduces the r9 checkpoint corpus.
  *
  * Output is one plain parquet FILE per table (same layout the test dirs
  * use, readable by both Spark and the DuckDB oracle path).
  *
  * Usage: runMain graft.ScaleUp <inDir> <outDir> [factor=10]
  */
object ScaleUp {

  private val Off = 10_000_000L

  def main(args: Array[String]): Unit = {
    val inDir = args(0)
    val outDir = args(1)
    val factor = if (args.length > 2) args(2).toInt else 10
    val spark = Session.local(Session.cpus)
    run(spark, inDir, outDir, factor)
    spark.stop()
  }

  def run(spark: SparkSession, inDir: String, outDir: String, factor: Int): Unit = {
    new java.io.File(outDir).mkdirs()

    def read(t: String): DataFrame = Tables.load(spark, inDir, t)

    /** Replicate with per-replica column transforms, preserving column
      * order. `keyCols` get + rep·Off; `extra` rewrites specific columns
      * given the replica index column.
      */
    def expand(df: DataFrame, keyCols: Seq[String],
        extra: Map[String, Column => Column] = Map.empty): DataFrame = {
      val reps = broadcast(spark.range(0, factor).toDF("graft_rep"))
      val cols = df.columns.map { c =>
        val base = col(c)
        val v =
          if (keyCols.contains(c)) base + col("graft_rep") * Off
          else extra.get(c).map(f => f(col("graft_rep"))).getOrElse(base)
        v.as(c)
      }
      df.crossJoin(reps).select(cols.toSeq: _*)
    }

    /** Write as ONE parquet file named `<t>.parquet` (the test-dir layout
      * both Tables and the DuckDB oracle read).
      */
    def write(t: String, df: DataFrame): Unit = {
      val tmp = s"$outDir/_tmp_$t"
      // small row groups keep the single-file layout SPLITTABLE: Spark
      // partitions parquet scans only at row-group boundaries, so a
      // coalesce(1) file with the default 128 MB block is ONE task no
      // matter what maxPartitionBytes says — at this corpus's size that
      // serializes every scan (measured: the sf1 exact-kNN pair stage ran
      // single-task). Real 100 TB tables are thousands of files; 1 MB row
      // groups restore that shape for the checkpoint corpus.
      df.coalesce(1).write.mode("overwrite")
        .option("parquet.block.size", (1 << 20).toString)
        .parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .find(_.getName.endsWith(".parquet"))
        .getOrElse(sys.error(s"no parquet part written for $t"))
      val dst = java.nio.file.Paths.get(s"$outDir/$t.parquet")
      java.nio.file.Files.deleteIfExists(dst)
      java.nio.file.Files.move(part.toPath, dst)
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(tmp))
      println(s"[scaleup] $t: ${spark.read.parquet(dst.toString).count()} rows")
    }

    // bounded dimensions: real-data cardinality does not grow with SF
    write("region", read("region"))
    write("nation", read("nation"))

    write("customer", expand(read("customer"), Seq("c_custkey")))
    write("supplier", expand(read("supplier"), Seq("s_suppkey")))
    write("part", expand(read("part"), Seq("p_partkey")))
    write("orders", expand(read("orders"), Seq("o_orderkey", "o_custkey")))
    write("lineitem", expand(read("lineitem"),
      Seq("l_orderkey", "l_partkey", "l_suppkey")))
    write("events", expand(read("events"), Seq("event_id", "user_id")))

    // text: per-replica suffix token keeps exact-dup groups intra-replica
    // (cross-replica pairs become near-dups — intended); beyond block 0
    // (rep ≥ 10) a block token interleaves every 8 chars so near-dup
    // clusters stay ≤10 members at any factor; n_chars must stay the
    // length contract after the mutation
    val docs = expand(read("documents"), Seq("doc_id"),
      Map("text" -> { rep =>
        val block = floor(rep / lit(10)).cast("long")
        // token = three block-hash letters (7b/13b/17b mod 26 — each
        // injective over a decade of blocks, no constant char for blocks
        // to share): cross-block shared 3-grams are only chunk-interior,
        // measured worst-case J = 0.40 (rep0 vs mutated) / 0.31 (mutated
        // vs mutated) over the real corpus — below the 0.5 near-dup gate
        // with margin (spec-pinned at factor 12)
        val blockTok = concat(
          expr("char(97 + (int(floor(graft_rep / 10)) * 7) % 26)"),
          expr("char(97 + (int(floor(graft_rep / 10)) * 13) % 26)"),
          expr("char(97 + (int(floor(graft_rep / 10)) * 17) % 26)"))
        val blocked = when(block === 0, col("text")).otherwise(
          regexp_replace(col("text"), lit("(.{4})"),
            concat(lit("$1"), blockTok)))
        when(rep === 0, col("text"))
          .otherwise(concat(blocked, lit(" r"), rep.cast("string")))
      }))
      .withColumn("n_chars", length(col("text")).cast("long"))
    write("documents", docs)

    // embeddings: deterministic ±5e-3 per-component hash perturbation for
    // r > 0 (breaks exact ties, preserves geometry) + a ±5e-2 per-block
    // offset beyond block 0 (bounds cosine-dup clusters at ≤10 members;
    // `div` keeps block 0's formula bit-identical to the factor=10 run)
    val emb = expand(read("embeddings"), Seq("vec_id"),
      Map("embedding" -> (rep =>
        when(rep === 0, col("embedding")).otherwise(
          expr(("transform(embedding, (x, i) -> cast(x + " +
            "(pmod(xxhash64(vec_id, i, graft_rep), 1001) - 500) / 100000.0 + " +
            "if(graft_rep < 10, cast(0.0 as double), " +
            "(pmod(xxhash64(vec_id, i, -(graft_rep div 10)), 1001) - 500) / 10000.0)" +
            " as float))"))))))
    write("embeddings", emb)
  }
}
