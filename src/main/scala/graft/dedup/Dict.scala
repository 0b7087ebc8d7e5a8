package graft.dedup

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}
import graft.Tables

/** Token dictionaries for the pair-exchange dedup family (q41/q154/q204/
  * q217): the sf10 audit measured the gram/shingle PAIR exchanges at
  * ~50× the compressed corpus in bytes — multi-byte UTF8 token payloads
  * shipped once per candidate pair are the scale-killer on any
  * disk-bounded node, while the token SETS themselves are small. The fix
  * is classic columnar dictionary encoding applied to the shuffle plane:
  * pay one bounded id-assignment pass over the VOCABULARY, then every
  * candidate/verify exchange ships fixed-width ids (4–8 bytes vs 16–32+
  * per UTF8 array element). Ids are assigned in a SORT ORDER chosen so
  * downstream semantics survive the mapping bit-for-bit:
  *
  *  - lex-ranked ids (grams): rank map monotone in the string order, so
  *    sorted-id arrays correspond element-wise to lex-sorted gram arrays
  *    and two-pointer intersection/Jaccard counts are IDENTICAL — the
  *    DuckDB oracles (which replay the string semantics) stay green with
  *    no replay of the encoding itself.
  *  - (df, token)-ranked ids (q204's prefix filter): numeric id order IS
  *    the frozen global token order the prefix lemma runs on, so ONE
  *    sorted int64 array per doc serves as verify payload, prefix order
  *    AND prefix slice — where the string pipeline carried two parallel
  *    string arrays.
  */
object Dict {

  /** Dense int64 ids (0-based) in the frame's global sort order, via
    * zipWithIndex over the range-sorted rows — the scalable dense-rank
    * assignment for UNBOUNDED vocabularies (a global row_number window
    * would single-partition; a df-grouped two-level rank would skew on
    * the df=1 group that holds most of a shingle vocabulary). The input
    * must be globally sorted by a UNIQUE key: the global rank of every
    * row is then deterministic regardless of partitioning, so ids are
    * stable across parallelism (the CPUS=3 oracle determinism gate).
    * Cost: the sort's exchange + two passes over the VOCAB table only —
    * paid once so every later exchange ships ids.
    */
  def rankIds(sorted: DataFrame, idCol: String): DataFrame = {
    val spark = sorted.sparkSession
    val schema = StructType(sorted.schema.fields :+
      StructField(idCol, LongType, nullable = false))
    val rdd = sorted.rdd.zipWithIndex().map { case (r, i) =>
      Row.fromSeq(r.toSeq :+ i)
    }
    spark.createDataFrame(rdd, schema)
  }

  /** Driver-bounded cap on the char-3-gram vocabulary: gram counts are
    * bounded by charset³ in practice (measured: ~400 on the synthetic
    * corpus; ~10⁵ on multilingual text), the bounded-model-artifact
    * class (BPE vocab, centroids). The require fails loudly if a corpus
    * ever exceeds it — the fallback is the distributed [[rankIds]]
    * dictionary q204 uses for its unbounded shingle vocabulary.
    */
  val GramVocabCap: Int = 1 << 20

  private val gramVocabMemo =
    new graft.Memo[(SparkSession, String), Array[String]]("dict.gramVocab")

  /** The corpus's lex-sorted distinct char-3-gram vocabulary — the
    * reference order behind [[graft.functions.EncodeSortedGrams]] id
    * arrays. Memoized per (session, corpus); one distinct-aggregate job
    * (map-side partials over per-doc deduped gram arrays).
    */
  def gramVocab(s: SparkSession, d: String): Array[String] =
    gramVocabMemo((s, d)) {
      val rows = Tables.documents(s, d)
        .select(explode(array_distinct(
          graft.functions.VectorExprs.charNgrams(col("text"), 3))).as("g"))
        .distinct().orderBy("g")
        // fetch one PAST the cap: limit(Cap) cannot distinguish
        // |V| == Cap (fits) from |V| > Cap (overflow)
        .limit(GramVocabCap + 1).take(GramVocabCap + 1)
      require(rows.length <= GramVocabCap,
        s"char-3-gram vocabulary exceeds the $GramVocabCap driver bound — " +
          "switch this corpus to the distributed rankIds dictionary")
      rows.map(_.getString(0))
    }
}
