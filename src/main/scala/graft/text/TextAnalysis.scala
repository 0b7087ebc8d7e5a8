package graft.text

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.{QueryDef, Tables}
import graft.functions.VectorExprs

/** Text-analysis operators for LLM training-data pipelines over
  * `documents`. All metrics are pure Catalyst expression trees (no UDFs):
  * codegen-friendly, and the integer-ratio outputs are IEEE-exact across
  * engines so the DuckDB oracle hash-matches unrounded.
  */
object TextAnalysis {

  /** Whitespace tokens of `text` (both engines: regex split on \s+). */
  private val tokensExpr = "split(trim(text), '\\\\s+')"

  // q60 — token counting: whitespace tokens + a BPE-ish regex token count
  // (letter runs / digit runs / single punctuation).
  val q60: QueryDef = QueryDef.sql(
    "q60_token_count",
    """SELECT doc_id, lang,
      |  CAST(length(text) AS INTEGER) AS n_char,
      |  CAST(len(regexp_split_to_array(trim(text), '\s+')) AS INTEGER) AS n_ws_tok,
      |  CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9\s]')) AS INTEGER) AS n_re_tok
      |FROM documents
      |ORDER BY doc_id""".stripMargin) { (s, d) =>
    Tables.documents(s, d)
      .select(col("doc_id"), col("lang"),
        length(col("text")).as("n_char"),
        expr(s"size($tokensExpr)").as("n_ws_tok"),
        expr("size(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9\\\\s]', 0))").as("n_re_tok"))
      .orderBy("doc_id")
  }

  // q61 — quality scoring: length, punctuation ratio, stopword ratio, mean
  // token length, and a keep/drop flag. Ratios are single double divisions
  // of exact ints — unrounded.
  val q61: QueryDef = QueryDef.sql(
    "q61_quality_score",
    """SELECT doc_id,
      |  CAST(n_char AS INTEGER) AS n_char, CAST(n_tok AS INTEGER) AS n_tok,
      |  CAST(n_punct AS DOUBLE) / n_char AS punct_ratio,
      |  CAST(n_stop AS DOUBLE) / n_tok AS stop_ratio,
      |  CAST(n_tok_char AS DOUBLE) / n_tok AS mean_tok_len,
      |  (n_tok >= 20 AND n_char >= 100 AND n_stop > 0) AS keep
      |FROM (
      |  SELECT doc_id, length(text) AS n_char,
      |    len(regexp_split_to_array(trim(text), '\s+')) AS n_tok,
      |    len(regexp_extract_all(text, '[^a-z0-9\s]')) AS n_punct,
      |    len(list_filter(regexp_split_to_array(trim(text), '\s+'),
      |      t -> t = 'the' OR t = 'a' OR t = 'value')) AS n_stop,
      |    list_sum(list_transform(regexp_split_to_array(trim(text), '\s+'),
      |      t -> length(t))) AS n_tok_char
      |  FROM documents) m
      |ORDER BY doc_id""".stripMargin) { (s, d) =>
    Tables.documents(s, d)
      .select(col("doc_id"),
        length(col("text")).as("n_char"),
        expr(s"size($tokensExpr)").as("n_tok"),
        expr("size(regexp_extract_all(text, '[^a-z0-9\\\\s]', 0))").as("n_punct"),
        expr(s"size(filter($tokensExpr, t -> t = 'the' OR t = 'a' OR t = 'value'))").as("n_stop"),
        expr(s"aggregate(transform($tokensExpr, t -> length(t)), 0L, (acc, x) -> acc + x)").as("n_tok_char"))
      .select(col("doc_id"), col("n_char"), col("n_tok"),
        (col("n_punct").cast("double") / col("n_char")).as("punct_ratio"),
        (col("n_stop").cast("double") / col("n_tok")).as("stop_ratio"),
        (col("n_tok_char").cast("double") / col("n_tok")).as("mean_tok_len"),
        (col("n_tok") >= 20 && col("n_char") >= 100 && col("n_stop") > 0).as("keep"))
      .orderBy("doc_id")
  }

  // q62 — marker-token language ID: per-language marker-hit scores, argmax
  // with a fixed tie order, compared against the labelled lang.
  private val markers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "value"),
    "es" -> Seq("data", "row", "scan"),
    "de" -> Seq("hash", "sort", "vector"),
    "fr" -> Seq("order", "merge", "small"),
    "zh" -> Seq("window", "join", "batch"))

  // the marker-score projection and argmax, shared by q62 and the
  // streaming curation filter (a stateless expression tree either way)
  private def langHitsSpark(ws: Seq[String]) =
    s"size(filter($tokensExpr, t -> ${ws.map(w => s"t = '$w'").mkString(" OR ")}))"
  // argmax with fixed priority en>es>de>fr>zh on ties
  private[graft] val langCaseExpr =
    """CASE
      |  WHEN s_en >= s_es AND s_en >= s_de AND s_en >= s_fr AND s_en >= s_zh THEN 'en'
      |  WHEN s_es >= s_de AND s_es >= s_fr AND s_es >= s_zh THEN 'es'
      |  WHEN s_de >= s_fr AND s_de >= s_zh THEN 'de'
      |  WHEN s_fr >= s_zh THEN 'fr'
      |  ELSE 'zh' END""".stripMargin
  private[graft] def withLangScores(
      df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    markers.foldLeft(df) { case (acc, (l, ws)) =>
      acc.withColumn(s"s_$l", expr(langHitsSpark(ws)))
    }

  val q62: QueryDef = {
    def hitsSqlDuck(ws: Seq[String]) =
      s"CAST(len(list_filter(regexp_split_to_array(trim(text), '\\s+'), t -> ${ws.map(w => s"t = '$w'").mkString(" OR ")})) AS INTEGER)"
    val duckScores = markers.map { case (l, ws) => s"${hitsSqlDuck(ws)} AS s_$l" }.mkString(",\n      |    ")
    val caseExpr = langCaseExpr
    QueryDef.sql(
      "q62_langid",
      s"""SELECT doc_id, lang, pred,
         |  (lang = pred) AS correct, s_en, s_es, s_de, s_fr, s_zh
         |FROM (
         |  SELECT *, ($caseExpr) AS pred
         |  FROM (
         |    SELECT doc_id, lang, $duckScores
         |    FROM documents) t) p
         |ORDER BY doc_id""".stripMargin) { (s, d) =>
      withLangScores(Tables.documents(s, d))
        .withColumn("pred", expr(caseExpr))
        .withColumn("correct", col("lang") === col("pred"))
        .select("doc_id", "lang", "pred", "correct", "s_en", "s_es", "s_de", "s_fr", "s_zh")
        .orderBy("doc_id")
    }
  }

  // q64 — top-5 char-3-gram frequencies per language (explode → count →
  // windowed top-k; the shuffle key is (lang, ngram) so counting is
  // map-side partial).
  val q64: QueryDef = QueryDef.sql(
    "q64_ngram_freq",
    """SELECT lang, rn, ngram, n FROM (
      |  SELECT lang, ngram, n,
      |    CAST(row_number() OVER (PARTITION BY lang ORDER BY n DESC, ngram) AS INTEGER) AS rn
      |  FROM (
      |    SELECT lang, ngram, count(*) AS n
      |    FROM (
      |      SELECT lang, unnest(list_transform(range(1, length(text) - 1),
      |        i -> substr(text, CAST(i AS INT), 3))) AS ngram
      |      FROM documents) u
      |    GROUP BY lang, ngram) c) r
      |WHERE rn <= 5
      |ORDER BY lang, rn""".stripMargin) { (s, d) =>
    val w = Window.partitionBy("lang").orderBy(desc("n"), asc("ngram"))
    Tables.documents(s, d)
      .select(col("lang"),
        explode(VectorExprs.charNgrams(col("text"), 3)).as("ngram"))
      .groupBy("lang", "ngram")
      .agg(count(lit(1)).as("n"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 5)
      .select("lang", "rn", "ngram", "n")
      .orderBy("lang", "rn")
  }

  // q63 — rolling polynomial-hash document fingerprint (winnowing-lite:
  // min 16-char-window hash + whole-document hash). The hash is the
  // engine-portable polynomial (native codegen'd MinWindowHash/PolyHash),
  // so the DuckDB oracle replays it exactly.
  val q63: QueryDef = QueryDef.sql(
    "q63_fingerprint",
    """WITH cps AS (
      |  SELECT doc_id,
      |    list_transform(range(1, length(text) + 1),
      |      i -> CAST(unicode(substr(text, CAST(i AS INT), 1)) AS BIGINT)) AS cp
      |  FROM documents)
      |SELECT doc_id,
      |  coalesce(list_min(list_transform(range(1, greatest(len(cp) - 15, 1) + 1),
      |    i -> list_reduce(
      |           list_prepend(CAST(0 AS BIGINT),
      |             list_slice(cp, CAST(i AS INT), CAST(least(i + 15, len(cp)) AS INT))),
      |           (a, b) -> (a * 131 + b) % 1000000007))), 0) AS fingerprint,
      |  list_reduce(list_prepend(CAST(0 AS BIGINT), cp),
      |    (a, b) -> (a * 131 + b) % 1000000007) AS full_hash
      |FROM cps
      |ORDER BY doc_id""".stripMargin) { (s, d) =>
    Tables.documents(s, d)
      .select(col("doc_id"),
        VectorExprs.minWindowHash(col("text"), 16).as("fingerprint"),
        VectorExprs.polyHash(col("text")).as("full_hash"))
      .orderBy("doc_id")
  }

  // q65 — TF-IDF: top-3 terms per document. Term stats are a shuffle on
  // the term key (map-side partial counts); doc-frequency joins back on
  // term. ln() of identical doubles differs only at ulp across libm
  // implementations — round(…,6) collapses it, and ordering uses the
  // rounded score with a term tiebreak.
  val q65: QueryDef = QueryDef.sql(
    "q65_tfidf",
    """WITH tok AS (
      |  SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\s+')) AS term
      |  FROM documents),
      |tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY doc_id, term),
      |df AS (SELECT term, count(DISTINCT doc_id) AS df FROM tok GROUP BY term),
      |n AS (SELECT count(*) AS n FROM documents)
      |SELECT doc_id, rn, term, tfidf FROM (
      |  SELECT doc_id, term,
      |    round(tf * ln((n + 1.0) / (df + 1.0)), 6) AS tfidf,
      |    CAST(row_number() OVER (PARTITION BY doc_id
      |      ORDER BY round(tf * ln((n + 1.0) / (df + 1.0)), 6) DESC, term) AS INTEGER) AS rn
      |  FROM tf JOIN df USING (term) CROSS JOIN n) t
      |WHERE rn <= 3
      |ORDER BY doc_id, rn""".stripMargin) { (s, d) =>
    val tok = Tables.documents(s, d)
      .select(col("doc_id"), explode(expr(tokensExpr)).as("term"))
    val tf = tok.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val dfreq = tok.groupBy("term").agg(countDistinct("doc_id").as("df"))
    val n = Tables.documents(s, d).agg(count(lit(1)).as("n"))
    val w = Window.partitionBy("doc_id").orderBy(desc("tfidf"), asc("term"))
    tf.join(dfreq, "term")
      .crossJoin(broadcast(n))
      .withColumn("tfidf", round(col("tf") * log((col("n") + 1.0) / (col("df") + 1.0)), 6))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 3)
      .select("doc_id", "rn", "term", "tfidf")
      .orderBy("doc_id", "rn")
  }

  // q66 — text normalization/scrubbing (the stopword-scrub shape: token
  // removal + whitespace collapse, verified via content hash + length
  // deltas). The scrub is TOKEN-level (split on \s+, drop stopword
  // tokens, rejoin) — the same tokenization contract as q61/q62 — NOT a
  // regex `\b` boundary: `\b` is ASCII-word-boundary in RE2 (DuckDB) but
  // Unicode-aware in Java (Spark), so on multi-byte text the engines
  // disagree about the `a` in `año` (caught by the r10 multilingual
  // slice). Pure expression tree, one pass per row, no lookarounds
  // anywhere (RE2 has none).
  val q66: QueryDef = QueryDef.sql(
    "q66_normalize_text",
    """WITH c AS (
      |  SELECT doc_id, text,
      |    list_aggregate(list_filter(regexp_split_to_array(trim(text), '\s+'),
      |      t -> t <> 'the' AND t <> 'a' AND t <> 'value'),
      |      'string_agg', ' ') AS clean
      |  FROM documents)
      |SELECT doc_id,
      |  md5(coalesce(clean, '')) AS clean_hash,
      |  CAST(length(text) AS INTEGER) AS n_before,
      |  CAST(length(coalesce(clean, '')) AS INTEGER) AS n_after
      |FROM c
      |ORDER BY doc_id""".stripMargin) { (s, d) =>
    val cleaned = expr(
      s"array_join(filter($tokensExpr, t -> t <> 'the' AND t <> 'a' AND t <> 'value'), ' ')")
    Tables.documents(s, d)
      .select(col("doc_id"),
        md5(cleaned).as("clean_hash"),
        length(col("text")).as("n_before"),
        length(cleaned).as("n_after"))
      .orderBy("doc_id")
  }

  // q67 — corpus-trained bigram LM scoring (the "perplexity filter" shape
  // of LLM data-quality pipelines, with the char-bigram model standing in
  // for KenLM): one pass counts bigrams (shuffle on the gram key,
  // map-side partial), prefix counts and the alphabet size derive from
  // that table, and each document's mean add-1-smoothed conditional
  // log-probability comes from a broadcast join of the O(alphabet²)
  // count table onto the exploded bigrams. ln() rounded to 6 (libm ulp —
  // q65 precedent).
  val q67: QueryDef = QueryDef.sql(
    "q67_bigram_lm_score",
    """WITH g AS (
      |  SELECT doc_id, unnest(list_transform(range(1, length(text)),
      |    i -> substr(text, CAST(i AS INT), 2))) AS gram
      |  FROM documents),
      |bi AS (SELECT gram, count(*) AS cnt FROM g GROUP BY gram),
      |pref AS (SELECT substr(gram, 1, 1) AS c1, sum(cnt) AS pcnt FROM bi GROUP BY 1),
      |v AS (
      |  SELECT CAST(count(DISTINCT c) AS DOUBLE) AS v FROM (
      |    SELECT unnest(list_transform(range(1, length(text) + 1),
      |      i -> substr(text, CAST(i AS INT), 1))) AS c
      |    FROM documents) u)
      |SELECT g.doc_id, count(*) AS n_bigrams,
      |  round(avg(ln(CAST(bi.cnt + 1 AS DOUBLE) / (pref.pcnt + v.v))), 6) AS logprob
      |FROM g JOIN bi USING (gram) JOIN pref ON substr(g.gram, 1, 1) = pref.c1, v
      |GROUP BY g.doc_id
      |ORDER BY doc_id""".stripMargin) { (s, d) =>
    val docs = Tables.documents(s, d)
    val grams = docs.select(col("doc_id"),
      explode(VectorExprs.charNgrams(col("text"), 2)).as("gram"))
    val bi = grams.groupBy("gram").agg(count(lit(1)).as("cnt"))
    val pref = bi.groupBy(substring(col("gram"), 1, 1).as("c1"))
      .agg(sum("cnt").as("pcnt"))
    val vcnt = docs
      .select(explode(VectorExprs.charNgrams(col("text"), 1)).as("c"))
      .agg(countDistinct("c").cast("double").as("v"))
    grams
      .join(broadcast(bi), "gram")
      .withColumn("c1", substring(col("gram"), 1, 1))
      .join(broadcast(pref), "c1")
      .crossJoin(broadcast(vcnt))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"),
        round(avg(log((col("cnt") + 1).cast("double") / (col("pcnt") + col("v")))), 6)
          .as("logprob"))
      .orderBy("doc_id")
  }

  // q68 — REPETITION filter (the Gopher/RefinedWeb-style within-doc
  // duplication signal): fraction of duplicated whitespace tokens and of
  // duplicated 10-char grams, plus the keep/drop decision at the standard
  // 0.30 dup-gram threshold. Ratios are (n − n_distinct)/n — one IEEE
  // division of exact ints, identical in both engines unrounded. A doc
  // shorter than one gram scores 0 (CASE-guarded in both engines).
  val q68: QueryDef = QueryDef.sql(
    "q68_repetition_filter",
    """WITH t AS (
      |  SELECT doc_id,
      |    regexp_split_to_array(trim(text), '\s+') AS toks,
      |    list_transform(range(1, greatest(length(text) - 8, 1)),
      |      i -> substr(text, CAST(i AS INT), 10)) AS grams
      |  FROM documents)
      |SELECT doc_id,
      |  CAST(len(toks) AS INTEGER) AS n_tok,
      |  CASE WHEN len(toks) = 0 THEN 0.0
      |       ELSE CAST(len(toks) - len(list_distinct(toks)) AS DOUBLE) / len(toks) END
      |    AS dup_tok_frac,
      |  CASE WHEN len(grams) = 0 THEN 0.0
      |       ELSE CAST(len(grams) - len(list_distinct(grams)) AS DOUBLE) / len(grams) END
      |    AS dup_gram_frac,
      |  (CASE WHEN len(grams) = 0 THEN 0.0
      |        ELSE CAST(len(grams) - len(list_distinct(grams)) AS DOUBLE) / len(grams) END)
      |    <= 0.30 AS keep
      |FROM t
      |ORDER BY doc_id""".stripMargin) { (s, d) =>
    val toks = expr(tokensExpr)
    val grams = VectorExprs.charNgrams(col("text"), 10)
    val dupFrac = (c: org.apache.spark.sql.Column) =>
      when(size(c) === 0, 0.0)
        .otherwise((size(c) - size(array_distinct(c))).cast("double") / size(c))
    Tables.documents(s, d)
      .select(col("doc_id"), toks.as("toks"), grams.as("grams"))
      .select(col("doc_id"),
        size(col("toks")).as("n_tok"),
        dupFrac(col("toks")).as("dup_tok_frac"),
        dupFrac(col("grams")).as("dup_gram_frac"),
        (dupFrac(col("grams")) <= 0.30).as("keep"))
      .orderBy("doc_id")
  }

  // q69 — BM25 relevance scoring against a fixed query (terms: spark,
  // join, filter) — the retrieval-grade upgrade of q65's TF-IDF, the
  // scoring half of a data-curation "select documents like these" pass.
  // Corpus stats (N, rounded avg doc length, per-term document
  // frequencies) come from ONE aggregate row broadcast to a crossJoin —
  // the corpus itself never shuffles; per-document term frequencies are
  // array ops in a single projection. Okapi k1=1.2, b=0.75 with the
  // Lucene +1 idf; term contributions are summed in fixed textual order
  // and the score rounded to 6 (ln ulp — q65 precedent), avgdl rounded
  // to 6 before use so both engines feed identical doubles.
  /** The BM25 scoring CTEs as a reusable DuckDB fragment (defines `bm` =
    * (doc_id, bm25)) — shared by the q69 oracle and q98's hybrid
    * retrieval oracle.
    */
  private[graft] lazy val bm25Duck =
    """toks AS (
      |  SELECT doc_id, string_split_regex(text, '\s+') AS tk FROM documents),
      |stats AS (
      |  SELECT count(*) AS n, round(avg(len(tk)), 6) AS avgdl,
      |    sum(CASE WHEN list_contains(tk, 'spark') THEN 1 ELSE 0 END) AS df1,
      |    sum(CASE WHEN list_contains(tk, 'join') THEN 1 ELSE 0 END) AS df2,
      |    sum(CASE WHEN list_contains(tk, 'filter') THEN 1 ELSE 0 END) AS df3
      |  FROM toks),
      |tf AS (
      |  SELECT doc_id, len(tk) AS dl,
      |    len(list_filter(tk, x -> x = 'spark')) AS tf1,
      |    len(list_filter(tk, x -> x = 'join')) AS tf2,
      |    len(list_filter(tk, x -> x = 'filter')) AS tf3
      |  FROM toks),
      |bm AS (
      |  SELECT doc_id,
      |    round(
      |      ln((n - df1 + 0.5) / (df1 + 0.5) + 1) * (tf1 * 2.2) / (tf1 + 1.2 * (0.25 + 0.75 * dl / avgdl))
      |      + ln((n - df2 + 0.5) / (df2 + 0.5) + 1) * (tf2 * 2.2) / (tf2 + 1.2 * (0.25 + 0.75 * dl / avgdl))
      |      + ln((n - df3 + 0.5) / (df3 + 0.5) + 1) * (tf3 * 2.2) / (tf3 + 1.2 * (0.25 + 0.75 * dl / avgdl)),
      |    6) AS bm25
      |  FROM tf, stats)""".stripMargin

  val q69: QueryDef = QueryDef.sql(
    "q69_bm25",
    s"""WITH $bm25Duck
      |SELECT doc_id, bm25
      |FROM bm
      |ORDER BY doc_id""".stripMargin) { (s, d) =>
    val terms = Seq("spark", "join", "filter")
    val toks = Tables.documents(s, d)
      .select(col("doc_id"), split(col("text"), "\\s+").as("tk"))
    val statCols = Seq(
      count(lit(1)).as("n"),
      round(avg(size(col("tk"))), 6).as("avgdl")) ++
      terms.zipWithIndex.map { case (t, i) =>
        sum(when(array_contains(col("tk"), t), 1L).otherwise(0L)).as(s"df${i + 1}")
      }
    val stats = toks.agg(statCols.head, statCols.tail: _*)
    val tf = toks.select(
      col("doc_id") +: size(col("tk")).as("dl") +:
        terms.zipWithIndex.map { case (t, i) =>
          expr(s"size(filter(tk, x -> x = '$t'))").as(s"tf${i + 1}")
        }: _*)
    def term(i: Int) = {
      val (tfc, dfc) = (col(s"tf$i"), col(s"df$i"))
      log((col("n") - dfc + 0.5) / (dfc + 0.5) + 1) * (tfc * 2.2) /
        (tfc + lit(1.2) * (lit(0.25) + lit(0.75) * col("dl") / col("avgdl")))
    }
    tf.crossJoin(broadcast(stats))
      .select(col("doc_id"), round(term(1) + term(2) + term(3), 6).as("bm25"))
      .orderBy("doc_id")
  }

  // q73 — SEQUENCE PACKING: assign documents to fixed-length token
  // windows (PackLen tokens) the way LLM training pipelines concatenate a
  // corpus stream and cut it every context-length tokens. Packing is
  // per-shard (shard = doc_id % NShards), so each shard packs its own
  // independent stream — the per-worker packing real pipelines run, and
  // the shape that scales: the only shuffle is the window exchange on
  // shard, each shard's running offset is a single-pass cumulative sum,
  // and shard count grows with the cluster, never with the corpus. Emits
  // per-doc placement: first pack, offset inside it, and how many packs
  // the doc straddles (straddling is how packing achieves zero padding).
  /** The packing math itself, over ANY token accounting: input carries
    * (doc_id, shard, n_tok bigint) plus arbitrary ride-along columns;
    * output adds (pack_id, pack_offset, n_spans) from the per-shard
    * running offset. Shared by q73 (whitespace counts — the
    * SQL-expressible oracle) and [[writeTrainingShards]] (BPE id
    * counts — the artifact a trainer actually consumes).
    */
  private def placePacked(docs: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val w = Window.partitionBy("shard").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    docs
      .withColumn("start_tok", coalesce(sum("n_tok").over(w), lit(0L)))
      .withColumn("pack_id", expr("CAST(start_tok DIV 512 AS INT)"))
      .withColumn("pack_offset", (col("start_tok") % 512).cast("int"))
      .withColumn("n_spans", expr(
        "CAST((start_tok + n_tok - 1) DIV 512 - start_tok DIV 512 + 1 AS INT)"))
      .drop("start_tok")
  }

  /** q73's placement table without the presentation ORDER BY. */
  private def packPlacement(s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame =
    placePacked(Tables.documents(s, d)
      .select(col("doc_id"), (col("doc_id") % 8).cast("int").as("shard"),
        expr(s"size($tokensExpr)").cast("long").as("n_tok")))
      .select(col("doc_id"), col("shard"), col("pack_id"),
        col("pack_offset"), col("n_spans"), col("n_tok").cast("int").as("n_tok"))

  /** Terminal training-data sink: materialize the packed corpus as
    * `shard=`-partitioned parquet, each shard written by ONE task with
    * rows sorted (pack_id, pack_offset) — so a per-worker reader streams
    * its shard file start to finish and sees exactly the contiguous
    * token stream the packing promised, no shuffle or sort at TRAINING
    * time (that cost is paid once here, at write). Rows carry the BPE
    * token-ID arrays (q116's encode — the artifact a trainer consumes;
    * concatenating `ids` in row order reconstructs the shard's id
    * stream, with pack boundaries every 512 ids exactly where
    * (pack_id, pack_offset) promise them — spec-asserted). One exchange
    * (the shard repartition) plus the placement window, both on `shard`;
    * the encode itself is a codegen'd projection, no extra pass. Shard
    * count is q73's doc_id % 8 round-robin, which also balances token
    * mass (spec-asserted). At scale, shards grow with the cluster —
    * never with the corpus.
    */
  def writeTrainingShards(s: org.apache.spark.sql.SparkSession, d: String,
      path: String): Unit =
    placePacked(Tables.documents(s, d)
      .select(col("doc_id"), (col("doc_id") % 8).cast("int").as("shard"),
        VectorExprs.bpeEncodeIds(col("text"), bpeFlatMerges(s, d, 64),
          bpeIdVocab(s, d, 64)).as("ids"))
      .withColumn("n_tok", size(col("ids")).cast("long")))
      .repartition(col("shard"))
      .sortWithinPartitions("shard", "pack_id", "pack_offset")
      .write.mode("overwrite").partitionBy("shard").parquet(path)

  /** Integrity manifest over a [[writeTrainingShards]] output: per shard
    * — docs, tokens, packs, and an ORDER-AWARE stream digest a trainer's
    * loader recomputes before an epoch (a dropped/duplicated/reordered
    * row changes it; bit-identical shards reproduce it). The digest is
    * scale-safe: each row hashes its own placement (pack_id,
    * pack_offset rides INSIDE the xxhash64, so position is captured
    * per-row) and the shard combines rows with the commutative bit_xor
    * — one map-side-combined aggregate, no ordered string concatenation
    * of the shard, no overflow (xor, not sum). O(shards) output rows.
    */
  def shardManifest(s: SparkSession, path: String): DataFrame =
    s.read.parquet(path)
      .groupBy("shard")
      .agg(count(lit(1)).as("n_docs"),
        sum(size(col("ids")).cast("long")).as("n_tokens"),
        (max("pack_id") + 1).as("n_packs"),
        expr("bit_xor(xxhash64(doc_id, pack_id, pack_offset, " +
          "array_join(cast(ids as array<string>), ',')))").as("stream_digest"))
      .orderBy("shard")

  /** Loader-side check: recompute [[shardManifest]] over `path` and diff
    * against the manifest written at publish time. Returns the shards
    * that fail (missing, extra, or digest-mismatched) — empty means the
    * artifact is exactly what was published. The diff is a full outer
    * join of two O(shards) tables — trivially cheap at any corpus size.
    */
  def verifyShardManifest(s: SparkSession, path: String,
      published: DataFrame): DataFrame = {
    val fresh = shardManifest(s, path)
      .select(col("shard"), col("stream_digest").as("fresh_digest"))
    published.select(col("shard"), col("stream_digest").as("pub_digest"))
      .join(fresh, Seq("shard"), "full_outer")
      .filter(col("pub_digest").isNull || col("fresh_digest").isNull ||
        col("pub_digest") =!= col("fresh_digest"))
      .orderBy("shard")
  }

  val q73: QueryDef = QueryDef.sql(
    "q73_sequence_pack",
    """WITH t AS (
      |  SELECT doc_id, CAST(doc_id % 8 AS INTEGER) AS shard,
      |    CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS n_tok
      |  FROM documents),
      |o AS (
      |  SELECT doc_id, shard, n_tok,
      |    COALESCE(SUM(n_tok) OVER (PARTITION BY shard ORDER BY doc_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS start_tok
      |  FROM t)
      |SELECT doc_id, shard,
      |  CAST(start_tok // 512 AS INTEGER) AS pack_id,
      |  CAST(start_tok % 512 AS INTEGER) AS pack_offset,
      |  CAST((start_tok + n_tok - 1) // 512 - start_tok // 512 + 1 AS INTEGER) AS n_spans,
      |  CAST(n_tok AS INTEGER) AS n_tok
      |FROM o
      |ORDER BY doc_id""".stripMargin) { (s, d) =>
    packPlacement(s, d).orderBy("doc_id")
  }

  // q76 — HEAVY HITTERS by sketch: the corpus's top-20 tokens via
  // approx_top_k (DataSketches frequent-items). At 100 TB the exact
  // groupBy's shuffle is O(distinct tokens) — web-scale vocabularies
  // reach billions of keys — while the sketch carries ONE bounded
  // buffer per partition through a map-side-combined aggregate and
  // never shuffles the key space. The exact counts ride along as the
  // verification companion (q90 precedent: estimates asserted against
  // exact in-row); output order keys on the exact column so the row
  // set is deterministic even where sketch tie-order is not.
  /** The sketch+exact companion table behind q76: top-20 terms SELECTED
    * BY the approx_top_k sketch, each carrying both the estimate and the
    * exact count (the spec asserts est == exact at this tracked-item
    * budget). The exact counts run ONLY over the 20 selected terms: the
    * sketch's pick (a 20-row bounded model artifact, k-means-centroid
    * class) comes back to the driver and re-enters the exact pass as a
    * literal IN-set filter UNDER the counting aggregate, so that pass
    * shuffles O(20 × partitions) partial rows, never the
    * O(distinct-tokens) key space the sketch exists to avoid — the
    * previous full-vocabulary exact companion was the one O(vocab)
    * exchange left in the operator's own plan. (A broadcast semi-join
    * expresses the same thing join-shaped, but measures ~40% slower
    * here: the static INSET probe needs no relation build per task.)
    * Kept separate so q76 can emit only engine-portable exact columns
    * for the DuckDB hash gate without un-exercising the sketch.
    */
  private[graft] def q76Sketch(s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame = {
    import s.implicits._
    val toks = Tables.documents(s, d)
      .select(explode(expr(tokensExpr)).as("term"))
    val top = toks
      .agg(expr("approx_top_k(term, 20, 8192)").as("tk"))
      .select(explode(col("tk")).as("e"))
      .select(col("e.item").as("term"), col("e.count").as("est_cnt"))
      .take(21)
    require(top.length <= 20, s"approx_top_k(20) returned ${top.length} rows")
    val est = top.map(r => (r.getString(0), r.getLong(1))).toSeq
      .toDF("term", "est_cnt")
    toks.filter(col("term").isin(top.map(_.getString(0)): _*))
      .groupBy("term").agg(count(lit(1)).as("exact_cnt"))
      .join(broadcast(est), "term")
      .select(col("term"), col("est_cnt"), col("exact_cnt"))
      .orderBy(desc("exact_cnt"), asc("term"))
  }

  // q76 — sketch heavy hitters, ORACLE-CHECKED: the row SET comes from
  // the approx_top_k sketch (bounded DataSketches buffers — the only
  // shape that survives an unbounded term domain at 100 TB), but the
  // emitted columns are the exact companions, which DuckDB replays as a
  // plain top-20 GROUP BY — so the hash gate verifies that the sketch
  // selected exactly the true top-20 (its estimates equal exact counts
  // at this budget, asserted in-spec via q76Sketch).
  val q76: QueryDef = QueryDef.sql(
    "q76_heavy_hitters",
    """SELECT term, CAST(count(*) AS BIGINT) AS exact_cnt
      |FROM (SELECT unnest(regexp_split_to_array(trim(text), '\s+')) AS term
      |      FROM documents) t
      |GROUP BY term
      |ORDER BY exact_cnt DESC, term
      |LIMIT 20""".stripMargin) { (s, d) =>
    q76Sketch(s, d).select(col("term"), col("exact_cnt"))
      .orderBy(desc("exact_cnt"), asc("term"))
  }

  /** The STREAMING curation verdict — the filter an ingest pipeline runs
    * on every arriving document, composing the batch operators' signals
    * in one stateless projection (no joins, no state, so it drops into
    * any streaming query):
    * q61's quality gate ∧ q68's repetition gate ∧ NOT q75's Bloom
    * contamination flag ∧ (when `allowedLangs` is non-empty) q62's
    * language-ID prediction landing in the allowed set — the standard
    * "keep English-ish, clean, uncontaminated" ingest verdict. Signal
    * parity with the batch queries is spec-asserted row for row
    * (StreamDedupSpec); the near-dup signal stays the separate
    * at-least-once [[graft.dedup.Dedup.streamDupFlags]] (it needs the
    * corpus join).
    */
  def curationStream(docs: org.apache.spark.sql.DataFrame,
      bloom: Array[Byte],
      allowedLangs: Seq[String] = Nil): org.apache.spark.sql.DataFrame = {
    val toks = expr(tokensExpr)
    val dupFrac = (c: org.apache.spark.sql.Column) =>
      when(size(c) === 0, 0.0)
        .otherwise((size(c) - size(array_distinct(c))).cast("double") / size(c))
    withLangScores(graft.dedup.Dedup.contaminationFlags(docs, bloom))
      .withColumn("lang_pred", expr(langCaseExpr))
      .drop(markers.map { case (l, _) => s"s_$l" }: _*)
      .withColumn("keep_lang",
        if (allowedLangs.isEmpty) lit(true)
        else col("lang_pred").isin(allowedLangs: _*))
      .withColumn("n_tok", size(toks))
      .withColumn("n_stop", expr(
        s"size(filter($tokensExpr, t -> t = 'the' OR t = 'a' OR t = 'value'))"))
      .withColumn("dup_gram_frac",
        dupFrac(VectorExprs.charNgrams(col("text"), 10)))
      .withColumn("keep_quality",
        col("n_tok") >= 20 && length(col("text")) >= 100 && col("n_stop") > 0)
      .withColumn("keep",
        col("keep_quality") && col("dup_gram_frac") <= 0.30 &&
          !col("maybe_contaminated") && col("keep_lang"))
  }

  /** STREAMING INGEST-QUALITY MONITOR: q118's per-language fertility,
    * windowed over an ingest stream, with drift alerts against a frozen
    * reference schedule (q118 run on a trusted corpus snapshot). All
    * per-doc signals are stateless expression trees (q118's projection),
    * so the stream is ONE watermarked windowed aggregation — state is
    * bounded by windows-in-horizon × languages, never corpus size — and
    * the reference joins in stream-static via broadcast ([[graft
    * .streaming.Events.enrichStream]]'s shape). `alert` fires when a
    * window's fertility drifts beyond [lo, hi] × reference — the
    * "ingest is shredding language X" pager signal — or when a language
    * has no reference row at all (a never-seen language is itself an
    * anomaly). Windowed results equal the batch projection on the same
    * rows (StreamingSpec).
    */
  def fertilityMonitorStream(docs: org.apache.spark.sql.DataFrame,
      reference: org.apache.spark.sql.DataFrame,
      windowLen: String = "1 hour", watermark: String = "2 hours",
      lo: Double = 0.8, hi: Double = 1.25): org.apache.spark.sql.DataFrame =
    withLangScores(docs.withWatermark("ts", watermark))
      .withColumn("pred", expr(langCaseExpr))
      .withColumn("n_ws", expr(s"size($tokensExpr)").cast("long"))
      .withColumn("n_re",
        expr("size(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9\\\\s]', 0))")
          .cast("long"))
      .groupBy(window(col("ts"), windowLen).as("w"), col("pred"))
      .agg(count(lit(1)).as("n_docs"),
        sum("n_ws").as("ws_tokens"),
        sum("n_re").as("re_tokens"))
      .withColumn("fertility",
        col("re_tokens").cast("double") / col("ws_tokens"))
      .join(broadcast(reference.select(col("pred"),
        col("fertility").as("ref_fertility"))), Seq("pred"), "left")
      .withColumn("drift", col("fertility") / col("ref_fertility"))
      .withColumn("alert",
        col("ref_fertility").isNull ||
          col("drift") > hi || col("drift") < lo)
      .select(col("w.start").as("win_start"), col("pred"), col("n_docs"),
        col("ws_tokens"), col("re_tokens"), col("fertility"),
        col("ref_fertility"), col("drift"), col("alert"))

  /** Distributed BPE tokenizer training over the corpus vocabulary.
    *
    * Standard BPE trains on word TYPES weighted by frequency, so the
    * distributed work is the corpus scan that builds the (word, freq)
    * table — at web scale the corpus is 100 TB but the type table is
    * merely billions of rows, and Zipf's law concentrates nearly all
    * token mass in a tiny prefix of it. Training therefore runs in three
    * stages, a CONSTANT number of Spark jobs regardless of merge count
    * (round 4 ran one sequential cluster job per merge — O(k) driver
    * rounds, which at a production 32k-merge vocabulary is days of fixed
    * job overhead):
    *
    *  1. corpus scan → (word, freq) type table, one shuffle;
    *  2. frequency-histogram prune: aggregate (freq → n_types) — a tiny
    *     table, NO global sort of the type table (a running-sum window
    *     would single-partition billions of rows) — and pick the largest
    *     frequency floor whose types cover ≥ [[bpeCoverage]] of total
    *     token mass, capped at [[bpeMaxTypes]] types. The kept set is
    *     frequency-defined (every type at the floor stays), so the rule
    *     is deterministic and replays exactly with no per-word tie-break;
    *  3. collect the pruned table — a bounded model artifact, same class
    *     as k-means centroids, NOT data-proportional — and run all k
    *     merges in [[BpeTrainer]] with incremental pair-count updates.
    *
    * Ties break (count desc, left asc, right asc) → fully deterministic;
    * the spec replays the merge sequence against an independent dense
    * reference that applies the same documented prune rule.
    */
  private val bpeMemo = new graft.Memo[
    (org.apache.spark.sql.SparkSession, String, Int), Seq[(String, String, Long)]]("text.bpeMerges")
  def bpeMerges(s: org.apache.spark.sql.SparkSession, d: String,
      k: Int): Seq[(String, String, Long)] =
    bpeMemo((s, d, k))(trainBpe(s, d, k))

  /** Fraction of total token mass the pruned type table must cover. */
  private[graft] val bpeCoverage = 0.999
  /** Hard cap on pruned type-table rows (the driver-side artifact). */
  private[graft] val bpeMaxTypes = 1 << 17

  /** [[bpeMerges]] flattened to the (left, right, merged) triple array
    * the codegen expressions reference — shared by q87/q116/the shard
    * sink so they tokenize under literally the same object.
    */
  private[graft] def bpeFlatMerges(s: org.apache.spark.sql.SparkSession,
      d: String, k: Int): Array[String] =
    bpeMerges(s, d, k).toArray.flatMap { case (l, r, _) => Array(l, r, l + r) }

  /** The BPE id VOCABULARY: base alphabet first (every distinct
    * non-whitespace character in the corpus, in Spark's string order —
    * ids 0..A-1), then the merged types in merge-rank order (id A+rank;
    * the tiktoken layout, where a token id above the alphabet tells you
    * which merge round minted it). The array's INDEX is the id. Built
    * from the UNPRUNED type table so rare characters the training prune
    * dropped still encode (they surface as unmerged single-char
    * symbols); a bounded model artifact — alphabet ≤ distinct corpus
    * chars (take-guarded), merges O(k).
    */
  private val bpeVocabMemo = new graft.Memo[
    (org.apache.spark.sql.SparkSession, String, Int), Array[String]]("text.bpeIdVocab")
  private[graft] def bpeIdVocab(s: org.apache.spark.sql.SparkSession,
      d: String, k: Int): Array[String] =
    bpeVocabMemo((s, d, k)) {
      val capA = 1 << 16
      val alpha = bpeTypeTable(s, d)
        .select(explode(split(col("word"), "")).as("ch"))
        .filter(length(col("ch")) > 0)
        .distinct().orderBy("ch")
        .take(capA + 1).map(_.getString(0))
      require(alpha.length <= capA,
        s"BPE alphabet overflow: > $capA distinct characters")
      alpha ++ bpeMerges(s, d, k).map { case (l, r, _) => l + r }
    }

  /** The (word, freq) type table — the distributed training state. */
  private[graft] def bpeTypeTable(s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame =
    Tables.documents(s, d)
      .select(explode(expr(tokensExpr)).as("word"))
      .groupBy("word").agg(count(lit(1)).as("freq"))

  /** Distributed pair counts over unmerged single-char symbols — the
    * map-side-partial aggregation shape the cluster runs at corpus scale;
    * the spec cross-checks its top row against [[BpeTrainer]]'s first
    * in-memory selection.
    */
  private[graft] def bpePairCounts(s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame =
    bpeTypeTable(s, d)
      .withColumn("syms", split(col("word"), ""))
      .select(col("freq"), explode(expr(
        """zip_with(slice(syms, 1, size(syms) - 1),
          |         slice(syms, 2, size(syms) - 1),
          |         (x, y) -> struct(x AS l, y AS r))""".stripMargin)).as("p"))
      .groupBy(col("p.l").as("l"), col("p.r").as("r"))
      .agg(sum("freq").as("cnt"))
      .orderBy(desc("cnt"), asc("l"), asc("r"))

  private def trainBpe(s: org.apache.spark.sql.SparkSession, d: String,
      k: Int): Seq[(String, String, Long)] = {
    val types = bpeTypeTable(s, d).cache()
    try {
      // (freq → n_types) histogram. Distinct frequencies are bounded by
      // √(2·total tokens) (m distinct values each ≥1 occurrence of mass
      // sum to ≥ m(m+1)/2), so even a 2e13-token corpus yields ≤ ~6M
      // rows — a bounded driver read, asserted not truncated.
      val histCap = 1 << 23
      val hist = types.groupBy("freq").agg(count(lit(1)).as("n_types"))
        .take(histCap).map(r => (r.getLong(0), r.getLong(1)))
        .sortBy(-_._1)
      require(hist.length < histCap, "BPE frequency histogram overflow")
      val total = hist.map { case (f, n) => f * n }.sum.toDouble
      var mass = 0L; var kept = 0L
      var floor = if (hist.nonEmpty) hist(0)._1 else 1L
      var done = false
      val it = hist.iterator
      while (it.hasNext && !done) {
        val (f, n) = it.next()
        if (kept + n > bpeMaxTypes && kept > 0) done = true
        else {
          mass += f * n; kept += n; floor = f
          if (mass >= bpeCoverage * total) done = true
        }
      }
      // `kept` counts exactly the types at or above the floor, so the
      // read is bounded by the histogram before it happens. The one
      // escape from the cap — a single frequency class alone larger
      // than bpeMaxTypes (frequency can't split it) — must fail loudly
      // rather than quietly pull an unbounded table to the driver.
      require(kept <= 4L * bpeMaxTypes,
        s"BPE prune floor $floor keeps $kept types (> 4×$bpeMaxTypes): " +
          "one frequency class exceeds the cap; raise bpeMaxTypes")
      val pruned = types.filter(col("freq") >= floor)
        .take(kept.toInt + 1).map(r => (r.getString(0), r.getLong(1)))
      require(pruned.length == kept,
        s"pruned type table read ${pruned.length} rows, histogram said $kept")
      BpeTrainer.train(pruned, k)
    } finally { types.unpersist(); () }
  }

  // q86 — BPE TOKENIZER TRAINING as a catalog operator: 64 merge rounds
  // over the corpus vocabulary, emitted as the merge table
  // (rank, left, right, merged, pair_count). The Spark job count is
  // CONSTANT in the merge count (scan → histogram prune → bounded
  // collect; see trainBpe) → rows-only; the merge sequence is
  // spec-replayed against a dense driver-side reference implementation
  // applying the same prune rule.
  val q86: QueryDef = QueryDef.rowsOnly("q86_bpe_train") { (s, d) =>
    import s.implicits._
    bpeMerges(s, d, 64).zipWithIndex
      .map { case ((l, r, c), i) => (i + 1, l, r, l + r, c) }
      .toDF("rank", "left", "right", "merged", "pair_count")
      .orderBy("rank")
  }

  // q87 — BPE ENCODE (the inference side of q86): tokenize the corpus
  // under the trained merge table. The merges are a model artifact
  // (O(k) rows, memoized with q86's training) riding along as ONE
  // referenced object inside the native [[VectorExprs.bpeTokenCount]]
  // expression — tokenization + all merge folds + the sum happen in a
  // single codegen'd call per row (the k-nested interpreted
  // `aggregate(...)` HOF formulation cost a closure and an array
  // allocation per fold step per token), so the encode is one scan with
  // NO shuffle and no state. Iteratively trained artifact → rows-only;
  // per-doc counts spec-replayed against the dense reference encoder.
  val q87: QueryDef = QueryDef.rowsOnly("q87_bpe_encode") { (s, d) =>
    val flat = bpeFlatMerges(s, d, 64)
    Tables.documents(s, d)
      .select(col("doc_id"), length(col("text")).as("n_char"),
        expr(s"size($tokensExpr)").as("n_ws_tok"),
        VectorExprs.bpeTokenCount(col("text"), flat).as("n_bpe_tok"))
      .select(col("doc_id"), col("n_char"), col("n_ws_tok"), col("n_bpe_tok"),
        (col("n_char").cast("double") / col("n_bpe_tok")).as("chars_per_tok"))
      .orderBy("doc_id")
  }

  // q101 — VOCABULARY BUILD: the (term, freq, vocab_id) dictionary every
  // tokenizer / feature pipeline needs — frequency floor (≥ 2 drops
  // hapax noise), size cap, ids dense by (freq desc, term) rank. Scale
  // shape: one shuffle builds the term counts with map-side partials;
  // the cap applies as TakeOrderedAndProject (partition heaps — the
  // global ORDER BY ... LIMIT never materializes a full sort), and only
  // the CAPPED set (≤ 32k rows — a bounded model artifact, the k-means-
  // centroid class) flows through the id-assigning window, so the
  // single-partition window input is bounded by construction, not by
  // luck. Fully deterministic → DuckDB replays it exactly.
  val q101: QueryDef = QueryDef.sql(
    "q101_vocab_build",
    """WITH tf AS (
      |  SELECT term, CAST(count(*) AS BIGINT) AS freq
      |  FROM (SELECT unnest(regexp_split_to_array(trim(text), '\s+')) AS term
      |        FROM documents) t
      |  GROUP BY term
      |  HAVING count(*) >= 2)
      |SELECT term, freq,
      |  CAST(row_number() OVER (ORDER BY freq DESC, term) AS INTEGER) AS vocab_id
      |FROM (SELECT * FROM tf ORDER BY freq DESC, term LIMIT 32768) c
      |ORDER BY vocab_id""".stripMargin) { (s, d) =>
    Tables.documents(s, d)
      .select(explode(expr(tokensExpr)).as("term"))
      .groupBy("term").agg(count(lit(1)).as("freq"))
      .filter(col("freq") >= 2)
      .orderBy(desc("freq"), asc("term"))
      .limit(32768)
      .withColumn("vocab_id",
        row_number().over(Window.orderBy(desc("freq"), asc("term"))).cast("int"))
      .orderBy("vocab_id")
  }

  /** The raw per-document BPE id sequences — the library face of q116
    * and what [[writeTrainingShards]] materializes: (doc_id,
    * ids array<int>), ids laid out alphabet-first then merge-rank (see
    * [[bpeIdVocab]]; the vocab array's index IS the id). One scan, NO
    * shuffle, no state: the merge table and id map ride as referenced
    * objects inside the codegen'd [[VectorExprs.bpeEncodeIds]], so
    * per-row cost is one static call — tokenize + all merge folds + id
    * lookups fused.
    */
  def tokenIdSequences(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("doc_id"),
        VectorExprs.bpeEncodeIds(col("text"), bpeFlatMerges(s, d, 64),
          bpeIdVocab(s, d, 64)).as("ids"))

  // q116 — BPE ENCODE TO IDS: the terminal tokenizer artifact q87's
  // counts stop short of — each document's full BPE token-ID sequence
  // (see [[tokenIdSequences]]; the shard sink writes the raw arrays).
  // The CATALOG projection is scalar-only — (doc_id, n_ids, ids_hash)
  // with ids_hash = sha2 over the comma-joined sequence — because the
  // driver's row canonicalization sorts column values and can't order
  // array cells; the digest pins the exact id sequence per doc while
  // staying checker-sortable. Iteratively trained artifact → rows-only;
  // the raw sequences are spec-replayed against the dense reference
  // encoder, the digest is spec-tied to the arrays, and the totals tie
  // to q87's counts exactly.
  val q116: QueryDef = QueryDef.rowsOnly("q116_token_ids") { (s, d) =>
    tokenIdSequences(s, d)
      .select(col("doc_id"),
        size(col("ids")).as("n_ids"),
        sha2(array_join(col("ids").cast("array<string>"), ","), 256)
          .as("ids_hash"))
      .orderBy("doc_id")
  }

  /** q103's scoring projection: per doc its source, whitespace-token
    * count, quality key (stopword density in thousandths — an integer in
    * [0, 1000], which is what bounds the histogram below), and source
    * weight (1-4 from the source index, a stand-in for a user-supplied
    * mix table).
    */
  private[graft] def budgetScored(s: SparkSession, d: String) =
    Tables.documents(s, d).select(
      col("doc_id"), col("source"),
      expr(s"size($tokensExpr)").as("n_tok"),
      expr(s"cast(round(1000.0 * size(filter($tokensExpr, " +
        "t -> t = 'the' OR t = 'a' OR t = 'value')) / " +
        s"size($tokensExpr)) as int)").as("qkey"),
      (expr("cast(substring(source, 4, 8) as int)") % 4 + 1).as("w"))

  /** The lossless candidate prune behind q103: a (source, qkey) token
    * histogram — bounded at sources × ≤1001 integer keys, the BPE-prune
    * treatment — finds each source's boundary quality key on the driver,
    * and only docs at-or-above their source's boundary stay. A doc in a
    * strictly worse bucket starts at offset ≥ its source's quota, so the
    * greedy rule `cum − n_tok < quota` can never admit it: the prune
    * changes nothing (DuckDB replays the UNPRUNED window hash-exactly),
    * it just keeps the per-source sort at O(quota) tokens instead of the
    * corpus. Returns (candidates, totalTokens).
    */
  private[graft] def budgetCandidates(s: SparkSession, d: String):
      (org.apache.spark.sql.DataFrame, Long) = {
    val scored = budgetScored(s, d)
    val tt = scored.agg(sum("n_tok")).take(1).head.getLong(0)
    (boundaryPrune(s, scored, tt), tt)
  }

  /** The boundary-key prune itself, decoupled from q103's scoring so any
    * per-source greedy token-budget stage can reuse it (q115's curation
    * funnel consumes it on the POST-dedup/decontamination survivor set).
    * `scored` must carry (source, w ∈ 1..4, qkey ∈ [0,1000], n_tok);
    * extra columns ride through untouched. Quota rule is the shared
    * contract: floor(0.25 · tt · w / 50).
    */
  private[graft] def boundaryPrune(s: SparkSession,
      scored: org.apache.spark.sql.DataFrame, tt: Long):
      org.apache.spark.sql.DataFrame = {
    import s.implicits._
    val histCap = 64 * 1024
    val hist = scored.groupBy("source", "w", "qkey")
      .agg(sum("n_tok").as("btok"))
      .take(histCap)
    require(hist.length < histCap, "budget-mix histogram read overflow")
    val boundary = hist.groupBy(_.getAs[String]("source")).map { case (src, rows) =>
      // greedy margin: one token of driver/plan double drift can't move
      // the boundary past a doc the plan-side rule would still admit
      val quota = math.floor(0.25 * tt * rows.head.getAs[Int]("w") / 50.0) + 64
      var run = 0L
      var t = Int.MinValue
      val desc = rows.sortBy(-_.getAs[Int]("qkey"))
      var i = 0
      while (i < desc.length && run < quota) {
        t = desc(i).getAs[Int]("qkey")
        run += desc(i).getAs[Long]("btok")
        i += 1
      }
      (src, t)
    }.toSeq
    scored.join(
      broadcast(boundary.toDF("source", "tmin")), Seq("source"))
      .filter(col("qkey") >= col("tmin"))
      .drop("tmin")
  }

  // q103 — TOKEN-BUDGET MIX: fill a global token budget (25% of corpus
  // tokens) across sources at weighted proportions, taking each source's
  // highest-quality docs first (stopword-density key desc, doc_id
  // tie-break; the doc that crosses its source's quota is included).
  // The naive shape is a per-source cumulative window over the WHOLE
  // corpus — a multi-TB sort partition per source at 100 TB. This plan
  // windows only the histogram-pruned candidates (≈ quota tokens per
  // source, see budgetCandidates); the oracle runs the naive window and
  // must hash-match, proving the prune lossless.
  val q103: QueryDef = QueryDef.sql(
    "q103_token_budget_mix",
    """WITH scored AS (
      |  SELECT doc_id, source,
      |    len(regexp_split_to_array(trim(text), '\s+')) AS n_tok,
      |    CAST(ROUND(1000.0 * len(list_filter(regexp_split_to_array(trim(text), '\s+'),
      |      t -> t = 'the' OR t = 'a' OR t = 'value')) /
      |      len(regexp_split_to_array(trim(text), '\s+'))) AS INTEGER) AS qkey,
      |    (CAST(substr(source, 4) AS INTEGER) % 4) + 1 AS w
      |  FROM documents),
      |tot AS (SELECT SUM(n_tok) AS tt FROM scored),
      |win AS (
      |  SELECT s.*, FLOOR(0.25 * tt * w / 50.0) AS quota,
      |    SUM(n_tok) OVER (PARTITION BY source ORDER BY qkey DESC, doc_id
      |                     ROWS UNBOUNDED PRECEDING) AS cum
      |  FROM scored s, tot)
      |SELECT doc_id, source, CAST(n_tok AS INTEGER) AS n_tok, qkey,
      |  CAST(cum AS BIGINT) AS cum_tok
      |FROM win WHERE cum - n_tok < quota
      |ORDER BY doc_id""".stripMargin) { (s, d) =>
    val (cands, tt) = budgetCandidates(s, d)
    val byQ = Window.partitionBy("source")
      .orderBy(desc("qkey"), asc("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    cands
      .withColumn("cum", sum("n_tok").over(byQ))
      .withColumn("quota", floor(lit(0.25) * lit(tt) * col("w") / lit(50.0)))
      .filter(col("cum") - col("n_tok") < col("quota"))
      .select(col("doc_id"), col("source"),
        col("n_tok").cast("int").as("n_tok"), col("qkey"),
        col("cum").cast("bigint").as("cum_tok"))
      .orderBy("doc_id")
  }

  // q107 — CROSS-DOMAIN VOCABULARY OVERLAP via sketch set algebra: one
  // pass builds a per-source HLL sketch of the term set (map-side
  // mergeable, O(sketch) per source moved); every source PAIR is then
  // pure sketch arithmetic — union via hll_union, intersection by
  // inclusion-exclusion — with NO second corpus scan. The exact
  // companions (distinct-term join counts) ride along at test scale so
  // the estimates are verifiable in-row; at 100 TB only the sketch path
  // survives, and the per-pair cost is O(1). Estimates → rows-only;
  // the spec bounds relative error against the exact columns.
  val q107: QueryDef = QueryDef.rowsOnly("q107_vocab_overlap") { (s, d) =>
    // character 3-grams, not whitespace terms: the corpus draws every
    // doc from one shared word list, so word vocabularies are identical
    // across sources — but cross-word trigrams depend on word ORDER and
    // give each source a large, partially-overlapping set worth
    // estimating
    val terms = Tables.documents(s, d)
      .filter(expr("cast(substring(source, 4, 8) as int)") < 4)
      .select(col("source"),
        explode(VectorExprs.charNgrams(col("text"), 3)).as("term"))
      .distinct()
    val sk = terms.groupBy("source").agg(
      expr("hll_sketch_agg(term)").as("sk"),
      countDistinct(col("term")).as("exact_n"))
    val a = sk.select(col("source").as("src_a"), col("sk").as("sk_a"),
      col("exact_n").as("exact_a"))
    val b = sk.select(col("source").as("src_b"), col("sk").as("sk_b"),
      col("exact_n").as("exact_b"))
    val exactInter = terms.select(col("source").as("src_a"), col("term"))
      .join(terms.select(col("source").as("src_b"), col("term")), "term")
      .filter(col("src_a") < col("src_b"))
      .groupBy("src_a", "src_b").agg(count(lit(1)).as("exact_inter"))
    a.crossJoin(b).filter(col("src_a") < col("src_b"))
      .withColumn("est_a", expr("hll_sketch_estimate(sk_a)"))
      .withColumn("est_b", expr("hll_sketch_estimate(sk_b)"))
      .withColumn("est_union",
        expr("hll_sketch_estimate(hll_union(sk_a, sk_b))"))
      .withColumn("est_inter",
        greatest(col("est_a") + col("est_b") - col("est_union"), lit(0L)))
      .join(exactInter, Seq("src_a", "src_b"), "left")
      .select(col("src_a"), col("src_b"),
        col("est_a"), col("est_b"), col("est_union"), col("est_inter"),
        col("exact_a"), col("exact_b"),
        coalesce(col("exact_inter"), lit(0L)).as("exact_inter"))
      .orderBy("src_a", "src_b")
  }

  // q118 — TOKENIZER FERTILITY BY PREDICTED LANGUAGE: the per-language
  // health metric a tokenizer team watches (tokens emitted per
  // whitespace word; a language whose fertility balloons is being
  // shredded into characters and needs vocab budget). Composes q62's
  // language ID with q60's counting — one corpus scan computes marker
  // scores, the argmax, and both token counts as a single projection
  // (no joins: the signals are all expression trees over `text`), then
  // ONE O(languages)-key groupBy. Fertility is a single IEEE division
  // of two exact BIGINTs, so it leaves unrounded and hash-matches.
  val q118: QueryDef = {
    def hitsDuck(ws: Seq[String]) =
      s"CAST(len(list_filter(regexp_split_to_array(trim(text), '\\s+'), t -> ${ws.map(w => s"t = '$w'").mkString(" OR ")})) AS INTEGER)"
    val duckScores = markers.map { case (l, ws) => s"${hitsDuck(ws)} AS s_$l" }
      .mkString(",\n      |    ")
    QueryDef.sql(
      "q118_fertility",
      s"""SELECT pred,
         |  CAST(COUNT(*) AS BIGINT) AS n_docs,
         |  CAST(SUM(n_ws) AS BIGINT) AS ws_tokens,
         |  CAST(SUM(n_re) AS BIGINT) AS re_tokens,
         |  CAST(SUM(n_re) AS DOUBLE) / SUM(n_ws) AS fertility
         |FROM (
         |  SELECT ($langCaseExpr) AS pred,
         |    len(regexp_split_to_array(trim(text), '\\s+')) AS n_ws,
         |    len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9\\s]')) AS n_re
         |  FROM (
         |    SELECT text, $duckScores
         |    FROM documents) t) p
         |GROUP BY pred
         |ORDER BY pred""".stripMargin) { (s, d) =>
      withLangScores(Tables.documents(s, d))
        .withColumn("pred", expr(langCaseExpr))
        .withColumn("n_ws", expr(s"size($tokensExpr)").cast("long"))
        .withColumn("n_re",
          expr("size(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9\\\\s]', 0))")
            .cast("long"))
        .groupBy("pred")
        .agg(count(lit(1)).as("n_docs"),
          sum("n_ws").as("ws_tokens"),
          sum("n_re").as("re_tokens"))
        .withColumn("fertility",
          col("re_tokens").cast("double") / col("ws_tokens"))
        .orderBy("pred")
    }
  }

  // q119 — PACKING EFFICIENCY AUDIT: what q73's sequence packing buys
  // vs the pad-every-doc baseline, per shard — packed windows =
  // ceil(shard tokens / 512) (the streams are contiguous by
  // construction), padded windows = Σ ceil(doc tokens / 512), plus the
  // utilization and the fraction of padding compute saved. The whole
  // report runs on q73's per-doc token counts: one map-side-combined
  // groupBy(shard) — 8 output rows at any corpus size. Utilization is
  // one IEEE division of exact BIGINTs (unrounded, hash-exact);
  // windows stay integers end to end.
  val q119: QueryDef = QueryDef.sql(
    "q119_pack_efficiency",
    """SELECT shard,
      |  CAST(COUNT(*) AS BIGINT) AS n_docs,
      |  CAST(SUM(n_tok) AS BIGINT) AS total_tok,
      |  CAST(CAST(CEIL(CAST(SUM(n_tok) AS DOUBLE) / 512) AS BIGINT) AS BIGINT) AS packed_windows,
      |  CAST(SUM(CAST(CEIL(CAST(n_tok AS DOUBLE) / 512) AS BIGINT)) AS BIGINT) AS padded_windows,
      |  CAST(SUM(n_tok) AS DOUBLE) / (CAST(CEIL(CAST(SUM(n_tok) AS DOUBLE) / 512) AS BIGINT) * 512) AS packed_util
      |FROM (
      |  SELECT CAST(doc_id % 8 AS INTEGER) AS shard,
      |    CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS n_tok
      |  FROM documents) t
      |GROUP BY shard
      |ORDER BY shard""".stripMargin) { (s, d) =>
    Tables.documents(s, d)
      .select((col("doc_id") % 8).cast("int").as("shard"),
        expr(s"size($tokensExpr)").cast("long").as("n_tok"))
      .groupBy("shard")
      .agg(count(lit(1)).as("n_docs"),
        sum("n_tok").as("total_tok"),
        ceil(sum("n_tok").cast("double") / 512).cast("bigint").as("packed_windows"),
        sum(ceil(col("n_tok").cast("double") / 512).cast("bigint")).as("padded_windows"))
      .withColumn("packed_util",
        col("total_tok").cast("double") / (col("packed_windows") * 512))
      .orderBy("shard")
  }

  // q120 — RAG-STYLE DOCUMENT CHUNKING: overlapping 64-token windows at
  // stride 48 (16-token overlap), the retrieval-indexing shape — each
  // chunk later gets an embedding and lands in the ANN index (q50-q56),
  // so chunk identity must be deterministic: (doc_id, chunk_idx) plus an
  // md5 of the exact chunk text. Pure per-row explode over one corpus
  // scan — NO shuffle anywhere (the orderBy is output determinism only);
  // at 100 TB this is embarrassingly parallel and the chunk fan-out
  // (~n_tok/48 rows per doc) is the output size, not a join blow-up.
  val q120: QueryDef = QueryDef.sql(
    "q120_doc_chunks",
    """SELECT doc_id, chunk_idx,
      |  CAST(least(64, n_tok - (1 + 48 * chunk_idx) + 1) AS INTEGER) AS n_tok_chunk,
      |  md5(array_to_string(list_slice(toks, 1 + 48 * chunk_idx, 48 * chunk_idx + 64), ' ')) AS chunk_hash
      |FROM (
      |  SELECT doc_id, toks, len(toks) AS n_tok,
      |    unnest(range(0, ((len(toks) - 1) // 48) + 1)) AS chunk_idx
      |  FROM (
      |    SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks
      |    FROM documents) t) c
      |ORDER BY doc_id, chunk_idx""".stripMargin) { (s, d) =>
    Tables.documents(s, d)
      .select(col("doc_id"), expr(tokensExpr).as("toks"))
      .withColumn("n_tok", size(col("toks")))
      .select(col("doc_id"), col("toks"), col("n_tok"),
        explode(expr("sequence(0, (n_tok - 1) div 48)")).as("chunk_idx"))
      .select(col("doc_id"), col("chunk_idx").cast("long").as("chunk_idx"),
        least(lit(64), col("n_tok") - (lit(1) + col("chunk_idx") * 48) + 1)
          .cast("int").as("n_tok_chunk"),
        md5(concat_ws(" ",
          expr("slice(toks, 1 + 48 * chunk_idx, 64)"))).as("chunk_hash"))
      .orderBy("doc_id", "chunk_idx")
  }

  // q123 — OOV RATE BY LANGUAGE: how much of each language's token
  // stream the q101 vocabulary actually covers — THE acceptance metric
  // for a vocab build (a language with high OOV is about to be shredded
  // to fallback bytes; same family as q118's fertility but measured
  // against the real vocab artifact). The vocab is bounded (≤32k) by
  // construction → broadcast; the corpus explodes once and probes
  // map-side (left join, null = OOV); ONE O(languages) groupBy. Rate is
  // a single IEEE division of exact counts — unrounded, hash-exact.
  val q123: QueryDef = QueryDef.sql(
    "q123_oov_rate",
    """WITH tf AS (
      |  SELECT term, CAST(count(*) AS BIGINT) AS freq
      |  FROM (SELECT unnest(regexp_split_to_array(trim(text), '\s+')) AS term
      |        FROM documents) t
      |  GROUP BY term
      |  HAVING count(*) >= 2),
      |v AS (SELECT term FROM (SELECT * FROM tf ORDER BY freq DESC, term LIMIT 32768) c)
      |SELECT lang,
      |  CAST(count(*) AS BIGINT) AS n_tok,
      |  CAST(sum(CASE WHEN v.term IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
      |  CAST(sum(CASE WHEN v.term IS NULL THEN 1 ELSE 0 END) AS DOUBLE) / count(*) AS oov_rate
      |FROM (
      |  SELECT lang, unnest(regexp_split_to_array(trim(text), '\s+')) AS term
      |  FROM documents) tok
      |LEFT JOIN v USING (term)
      |GROUP BY lang
      |ORDER BY lang""".stripMargin) { (s, d) =>
    val vocab = Tables.documents(s, d)
      .select(explode(expr(tokensExpr)).as("term"))
      .groupBy("term").agg(count(lit(1)).as("freq"))
      .filter(col("freq") >= 2)
      .orderBy(desc("freq"), asc("term"))
      .limit(32768)
      .select(col("term"), lit(true).as("in_vocab"))
    Tables.documents(s, d)
      .select(col("lang"), explode(expr(tokensExpr)).as("term"))
      .join(broadcast(vocab), Seq("term"), "left")
      .groupBy("lang")
      .agg(count(lit(1)).as("n_tok"),
        sum(when(col("in_vocab").isNull, 1L).otherwise(0L)).as("n_oov"))
      .withColumn("oov_rate", col("n_oov").cast("double") / col("n_tok"))
      .orderBy("lang")
  }

  // q124 — TEMPERATURE-SCALED SOURCE MIX: the multilingual/multi-domain
  // sampling schedule — p_i ∝ n_i^α (α = 0.3) upweights small sources
  // without letting them dominate, and `epochs_at_1m` says how many
  // times each source repeats under a 1M-token budget (the repetition
  // red-flag a data team watches). One O(sources) aggregate off a
  // single corpus scan; the normalizer is a broadcast scalar. The pow
  // sum crosses engines, so both mix columns round (8/6 dp) per the
  // oracle double rule; n_tok stays exact.
  val q124: QueryDef = QueryDef.sql(
    "q124_temperature_mix",
    """WITH st AS (
      |  SELECT source,
      |    CAST(sum(len(regexp_split_to_array(trim(text), '\s+'))) AS BIGINT) AS n_tok
      |  FROM documents
      |  GROUP BY source)
      |SELECT source, n_tok,
      |  round(pow(n_tok, 0.3) / (SELECT sum(pow(n_tok, 0.3)) FROM st), 8) AS p_sample,
      |  round(pow(n_tok, 0.3) / (SELECT sum(pow(n_tok, 0.3)) FROM st) * 1000000 / n_tok, 6) AS epochs_at_1m
      |FROM st
      |ORDER BY source""".stripMargin) { (s, d) =>
    val st = Tables.documents(s, d)
      .groupBy("source")
      .agg(sum(expr(s"size($tokensExpr)")).cast("long").as("n_tok"))
    val z = st.agg(sum(pow(col("n_tok"), 0.3)).as("z"))
    st.crossJoin(broadcast(z))
      .select(col("source"), col("n_tok"),
        round(pow(col("n_tok"), 0.3) / col("z"), 8).as("p_sample"),
        round(pow(col("n_tok"), 0.3) / col("z") * 1000000 / col("n_tok"), 6)
          .as("epochs_at_1m"))
      .orderBy("source")
  }

  // q126 — N-GRAM NOVELTY (first-occurrence attribution): per doc, the
  // fraction of its 8-token shingles that FIRST appear in it (scanning
  // in doc_id order) — the marginal-contribution score curation uses to
  // rank near-boilerplate scrapes below genuinely new text. The
  // distributed shape is canonical: explode per-doc DISTINCT shingles
  // once, min(doc_id) per shingle (map-side-combined — the one
  // gram-keyed exchange), then a shingle-keyed big-big join back to
  // attribute first occurrences, and an O(docs) rollup. The join is
  // INTENTIONALLY shuffle-on-shingle (both sides are corpus-sized;
  // md5 keys are uniform, so no skew salting needed) — same cost class
  // as q49's strided-gram shuffle. Novelty is one IEEE division of
  // exact counts — unrounded, hash-exact.
  val q126: QueryDef = QueryDef.sql(
    "q126_ngram_novelty",
    """WITH sh AS (
      |  SELECT DISTINCT doc_id, sh FROM (
      |    SELECT doc_id,
      |      unnest(list_transform(range(1, len(toks) - 6),
      |        i -> md5(array_to_string(list_slice(toks, CAST(i AS INT), CAST(i AS INT) + 7), ' ')))) AS sh
      |    FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks
      |          FROM documents) t
      |    WHERE len(toks) >= 8) x),
      |firsts AS (SELECT sh, min(doc_id) AS first_doc FROM sh GROUP BY sh)
      |SELECT doc_id,
      |  CAST(count(*) AS BIGINT) AS n_shingles,
      |  CAST(sum(CASE WHEN first_doc = doc_id THEN 1 ELSE 0 END) AS BIGINT) AS n_novel,
      |  CAST(sum(CASE WHEN first_doc = doc_id THEN 1 ELSE 0 END) AS DOUBLE) / count(*) AS novelty
      |FROM sh JOIN firsts USING (sh)
      |GROUP BY doc_id
      |ORDER BY doc_id""".stripMargin) { (s, d) =>
    // r13 shape: never join the O(corpus-shingles) stream back to itself.
    // n_shingles is a per-doc count (map-side partials shrink the stream
    // to O(docs) rows before its exchange) and n_novel is a count over
    // the firsts aggregate grouped by the winning doc — so the one FAT
    // exchange left is the groupBy(sh) the semantics owe, carrying a
    // 16-byte unhex(md5) key instead of the 32-char hex string (same
    // distinctness bijectively, half the shuffle bytes). The old plan
    // shuffled the full shingle stream twice more (join back on sh +
    // per-doc groupBy of the joined stream).
    val shingles = Tables.documents(s, d)
      .select(col("doc_id"), expr(tokensExpr).as("toks"))
      .filter(size(col("toks")) >= 8)
      .select(col("doc_id"), explode(array_distinct(expr(
        "transform(sequence(1, size(toks) - 7)," +
          " i -> unhex(md5(concat_ws(' ', slice(toks, i, 8)))))"))).as("sh"))
    val totals = shingles.groupBy("doc_id").agg(count(lit(1)).as("n_shingles"))
    val novel = shingles.groupBy("sh").agg(min("doc_id").as("first_doc"))
      .groupBy(col("first_doc").as("doc_id"))
      .agg(count(lit(1)).as("n_novel"))
    totals.join(novel, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_shingles"),
        coalesce(col("n_novel"), lit(0L)).as("n_novel"))
      .withColumn("novelty", col("n_novel").cast("double") / col("n_shingles"))
      .orderBy("doc_id")
  }

  // q127 — CONTEXT-LENGTH HISTOGRAM: the token-length distribution in
  // power-of-2 buckets with cumulative token mass — what a context-length
  // ablation (or a packing-window choice like q73's 512) reads first.
  // One corpus scan, one O(buckets)-key groupBy with map-side partials;
  // the cumulative columns are a window over the ≤~20-row bucket table
  // (bounded — never the corpus). The bucket ceil(log2(n)) is computed
  // INTEGER-EXACTLY as length(bin(n-1)) — a float log2 rounds
  // differently across engines exactly at the power-of-2 boundaries.
  // Fractions divide exact BIGINTs by the broadcast totals — unrounded,
  // hash-exact.
  val q127: QueryDef = QueryDef.sql(
    "q127_context_len_histogram",
    """WITH b AS (
      |  SELECT CAST(CASE WHEN n_tok <= 1 THEN 0
      |    ELSE length(bin(n_tok - 1)) END AS INTEGER) AS bucket,
      |    count(*) AS n_docs, CAST(sum(n_tok) AS BIGINT) AS n_tok
      |  FROM (SELECT CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS n_tok
      |        FROM documents) t
      |  GROUP BY 1),
      |tot AS (SELECT sum(n_docs) AS td, sum(n_tok) AS tt FROM b)
      |SELECT CAST(pow(2, bucket) AS BIGINT) AS max_len,
      |  CAST(n_docs AS BIGINT) AS n_docs, n_tok,
      |  CAST(sum(n_tok) OVER (ORDER BY bucket) AS BIGINT) AS cum_tok,
      |  CAST(sum(n_tok) OVER (ORDER BY bucket) AS DOUBLE) / (SELECT tt FROM tot) AS cum_tok_frac,
      |  CAST(n_docs AS DOUBLE) / (SELECT td FROM tot) AS doc_frac
      |FROM b
      |ORDER BY max_len""".stripMargin) { (s, d) =>
    val b = Tables.documents(s, d)
      .select(expr(s"size($tokensExpr)").cast("long").as("n_tok"))
      .groupBy(when(col("n_tok") <= 1, 0)
        .otherwise(length(bin(col("n_tok") - 1))).cast("int").as("bucket"))
      .agg(count(lit(1)).as("n_docs"), sum("n_tok").as("n_tok"))
    val tot = b.agg(sum("n_docs").as("td"), sum("n_tok").as("tt"))
    val byBucket = Window.orderBy("bucket")
    b.crossJoin(broadcast(tot))
      .withColumn("cum_tok", sum("n_tok").over(byBucket))
      .select(pow(lit(2.0), col("bucket")).cast("long").as("max_len"),
        col("n_docs"), col("n_tok"),
        col("cum_tok"),
        (col("cum_tok").cast("double") / col("tt")).as("cum_tok_frac"),
        (col("n_docs").cast("double") / col("td")).as("doc_frac"))
      .orderBy("max_len")
  }

  // q129 — LEXICAL DIVERSITY: per-document type-token ratio, hapax
  // fraction, and unigram entropy — the within-document repetitiveness
  // signals a quality filter reads alongside q61's surface ratios and
  // q68's run detection (low-entropy documents are boilerplate/spam even
  // when the surface stats look fine). ZERO SHUFFLE: every metric is an
  // array higher-order expression over the row's own token list (per-row
  // O(types·tokens) inside codegen — L~100 here; at 100 TB this is the
  // ideal shape, a pure scan with no exchange at any width). The final
  // orderBy exists only for the oracle's deterministic dump. Entropy is
  // computed as ln(n) - Σc·ln(c)/n over the per-type count multiset —
  // order-independent mathematically, so the engines' different distinct
  // orders only perturb FP addition order → rounded per the oracle rule.
  // ttr/hapax_ratio are single divisions of exact ints (unrounded), and
  // the low_diversity flag compares pure integers (20·types < 7·tokens,
  // i.e. ttr < 0.35) so it can never flip on a double boundary.
  val q129: QueryDef = QueryDef.sql(
    "q129_lexical_diversity",
    """SELECT doc_id,
      |  CAST(n_tok AS INTEGER) AS n_tok,
      |  CAST(n_types AS INTEGER) AS n_types,
      |  CAST(n_types AS DOUBLE) / n_tok AS ttr,
      |  CAST(n_hapax AS DOUBLE) / n_types AS hapax_ratio,
      |  round(ln(n_tok) - s / n_tok, 6) AS entropy,
      |  (n_types * 20 < n_tok * 7) AS low_diversity
      |FROM (
      |  SELECT doc_id, len(toks) AS n_tok, len(cnts) AS n_types,
      |    len(list_filter(cnts, c -> c = 1)) AS n_hapax,
      |    list_sum(list_transform(cnts, c -> c * ln(c))) AS s
      |  FROM (
      |    SELECT doc_id, toks,
      |      list_transform(list_distinct(toks),
      |        t -> len(list_filter(toks, x -> x = t))) AS cnts
      |    FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks
      |          FROM documents) t1) t2) m
      |ORDER BY doc_id""".stripMargin) { (s, d) =>
    Tables.documents(s, d)
      .select(col("doc_id"), expr(tokensExpr).as("toks"))
      .withColumn("cnts",
        expr("transform(array_distinct(toks), t -> size(filter(toks, x -> x = t)))"))
      .select(col("doc_id"),
        expr("size(toks)").as("n_tok_i"),
        expr("size(cnts)").as("n_types_i"),
        expr("size(filter(cnts, c -> c = 1))").as("n_hapax_i"),
        expr("aggregate(cnts, cast(0 as double), (a, c) -> a + c * ln(c))").as("s"))
      .select(col("doc_id"),
        col("n_tok_i").cast("int").as("n_tok"),
        col("n_types_i").cast("int").as("n_types"),
        (col("n_types_i").cast("double") / col("n_tok_i")).as("ttr"),
        (col("n_hapax_i").cast("double") / col("n_types_i")).as("hapax_ratio"),
        round(log(col("n_tok_i")) - col("s") / col("n_tok_i"), 6).as("entropy"),
        (col("n_types_i") * 20 < col("n_tok_i") * 7).as("low_diversity"))
      .orderBy("doc_id")
  }

  // q130 — ZIPF FIT: per-source rank-frequency power-law slope — the
  // corpus-health statistic (natural text sits near slope -1; a source
  // drifting far off is template spam or vocabulary collapse, and the
  // fit feeds mixing decisions next to q59/q124). The term-frequency
  // table is the VOCAB-bounded aggregate (q101's shape — map-side
  // partial counts, never O(corpus) rows past the first exchange); the
  // per-source rank window partitions that bounded table by source, the
  // top-100 cut makes the regression input O(sources·100), and the
  // least-squares aggregate moves O(sources) rows. Rank ordering is the
  // TOTAL order (freq DESC, term ASC) so tie ranks — common in a Zipf
  // tail — are identical across engines. Slope/intercept/r2 are
  // multi-term double aggregates → rounded.
  val q130: QueryDef = QueryDef.sql(
    "q130_zipf_fit",
    """WITH tf AS (
      |  SELECT source, term, count(*) AS freq
      |  FROM (SELECT source, unnest(regexp_split_to_array(trim(text), '\s+')) AS term
      |        FROM documents) t
      |  GROUP BY 1, 2),
      |ranked AS (
      |  SELECT source, ln(freq) AS y,
      |    ln(row_number() OVER (PARTITION BY source ORDER BY freq DESC, term)) AS x,
      |    row_number() OVER (PARTITION BY source ORDER BY freq DESC, term) AS r
      |  FROM tf)
      |SELECT source, CAST(count(*) AS INTEGER) AS n_terms,
      |  round(regr_slope(y, x), 6) AS slope,
      |  round(regr_intercept(y, x), 6) AS intercept,
      |  round(regr_r2(y, x), 6) AS r2
      |FROM ranked WHERE r <= 100
      |GROUP BY source
      |ORDER BY source""".stripMargin) { (s, d) =>
    val bySrc = Window.partitionBy("source").orderBy(desc("freq"), asc("term"))
    val ranked = Tables.documents(s, d)
      .select(col("source"), explode(expr(tokensExpr)).as("term"))
      .groupBy("source", "term").agg(count(lit(1)).as("freq"))
      .withColumn("r", row_number().over(bySrc))
      .filter(col("r") <= 100)
      .select(col("source"), log(col("freq")).as("y"), log(col("r")).as("x"))
    ranked.groupBy("source")
      .agg(count(lit(1)).cast("int").as("n_terms"),
        (covar_pop(col("y"), col("x")) / var_pop(col("x"))).as("slope_raw"),
        avg("y").as("my"), avg("x").as("mx"),
        corr(col("y"), col("x")).as("cc"))
      .select(col("source"), col("n_terms"),
        round(col("slope_raw"), 6).as("slope"),
        round(col("my") - col("slope_raw") * col("mx"), 6).as("intercept"),
        round(col("cc") * col("cc"), 6).as("r2"))
      .orderBy("source")
  }

  // q136 — FEATURE REGRESSION MATRIX: univariate OLS of every quality
  // feature on every other (slope, intercept, corr, r²) — the
  // multicollinearity audit run before fitting any quality scorer (two
  // features with r² ≈ 1 carry one signal; a scorer trained on both
  // double-counts it). One corpus scan computes ALL d² sufficient
  // statistics as a single wide aggregate (map-side partials, one row
  // out); the 25-row matrix is reshaped from that row with an explode —
  // no unpivot self-join, so the corpus is never multiplied by d² or
  // shuffled at all. q25's covariance posture generalized to the text
  // feature space.
  val q136: QueryDef = {
    val feats = Seq("n_char", "n_tok", "punct_ratio", "stop_ratio", "mean_tok_len")
    val duckPairs = (for { fx <- feats; fy <- feats } yield
      s"""SELECT '$fx' AS fx, '$fy' AS fy,
         |  round(regr_slope($fy, $fx), 6) AS slope,
         |  round(regr_intercept($fy, $fx), 6) AS intercept,
         |  round(corr($fy, $fx), 6) AS corr,
         |  round(corr($fy, $fx) * corr($fy, $fx), 6) AS r2
         |FROM f""".stripMargin).mkString("\nUNION ALL\n")
    QueryDef.sql(
      "q136_feature_regressions",
      s"""WITH m AS (
        |  SELECT doc_id, length(text) AS n_char,
        |    len(regexp_split_to_array(trim(text), '\\s+')) AS n_tok,
        |    len(regexp_extract_all(text, '[^a-z0-9\\s]')) AS n_punct,
        |    len(list_filter(regexp_split_to_array(trim(text), '\\s+'),
        |      t -> t = 'the' OR t = 'a' OR t = 'value')) AS n_stop,
        |    list_sum(list_transform(regexp_split_to_array(trim(text), '\\s+'),
        |      t -> length(t))) AS n_tok_char
        |  FROM documents),
        |f AS (
        |  SELECT CAST(n_char AS DOUBLE) AS n_char, CAST(n_tok AS DOUBLE) AS n_tok,
        |    CAST(n_punct AS DOUBLE) / n_char AS punct_ratio,
        |    CAST(n_stop AS DOUBLE) / n_tok AS stop_ratio,
        |    CAST(n_tok_char AS DOUBLE) / n_tok AS mean_tok_len
        |  FROM m)
        |SELECT * FROM ($duckPairs)
        |ORDER BY fx, fy""".stripMargin) { (s, d) =>
      // materialize the regex split ONCE per row (an array column), then
      // derive all token features from it — the inlined form re-ran the
      // \s+ split up to 4x per row and codegen CSE does not always fuse
      // lambda-bearing duplicates
      val f = Tables.documents(s, d)
        .select(col("text"), expr(tokensExpr).as("toks"))
        .select(
          length(col("text")).cast("double").as("n_char"),
          size(col("toks")).cast("double").as("n_tok"),
          expr("size(regexp_extract_all(text, '[^a-z0-9\\\\s]', 0))").cast("double")./(length(col("text"))).as("punct_ratio"),
          expr("size(filter(toks, t -> t = 'the' OR t = 'a' OR t = 'value'))").cast("double")
            ./(size(col("toks"))).as("stop_ratio"),
          expr("aggregate(transform(toks, t -> length(t)), 0L, (acc, x) -> acc + x)").cast("double")
            ./(size(col("toks"))).as("mean_tok_len"))
      // corr is assembled from guarded sufficient statistics rather than
      // the corr() aggregate: a zero-variance feature (punct_ratio IS
      // constant in this corpus) makes ANSI-mode corr throw on the zero
      // denominator, while the reference engines yield NULL — the
      // when-guards reproduce exactly DuckDB's semantics (slope/intercept
      // NULL from a constant x, slope 0 onto a constant y, corr NULL if
      // either side is constant).
      val aggs = feats.flatMap(fx => Seq(
          avg(col(fx)).as(s"avg__$fx"),
          var_pop(col(fx)).as(s"var__$fx"),
          stddev_samp(col(fx)).as(s"sd__$fx"))) ++
        (for { fx <- feats; fy <- feats } yield Seq(
          covar_pop(col(fx), col(fy)).as(s"cov__${fx}__$fy"),
          covar_samp(col(fx), col(fy)).as(s"covs__${fx}__$fy"))).flatten
      val wide = f.agg(aggs.head, aggs.tail: _*)
      val outRows = (for { fx <- feats; fy <- feats } yield {
        val slope = when(col(s"var__$fx") === 0, lit(null))
          .otherwise(col(s"cov__${fx}__$fy") / col(s"var__$fx"))
        val corrC = when(col(s"sd__$fx") === 0 || col(s"sd__$fy") === 0, lit(null))
          .otherwise(col(s"covs__${fx}__$fy") / (col(s"sd__$fx") * col(s"sd__$fy")))
        struct(
          lit(fx).as("fx"), lit(fy).as("fy"),
          round(slope, 6).as("slope"),
          round(col(s"avg__$fy") - slope * col(s"avg__$fx"), 6).as("intercept"),
          round(corrC, 6).as("corr"),
          round(corrC * corrC, 6).as("r2"))
      })
      wide.select(explode(array(outRows: _*)).as("p"))
        .select(col("p.fx"), col("p.fy"), col("p.slope"), col("p.intercept"),
          col("p.corr"), col("p.r2"))
        .orderBy("fx", "fy")
    }
  }

  // q137 — SOURCE TOKEN-DISTRIBUTION DIVERGENCE: pairwise Jensen–Shannon
  // divergence between per-source unigram distributions — the mixing
  // audit that says WHICH sources carry the same token signal (a pair
  // near 0 is distributionally redundant: upweighting both double-counts
  // one voice; q59/q124 decide proportions, this says what's actually
  // distinct). Scale shape: ONE corpus-sized shuffle builds the
  // (source, term) counts with map-side partials — everything after is
  // aggregate-shaped: distributions are O(sources·vocab) rows, the
  // pair×term grid is O(sources²·vocab) rows formed from the tiny
  // aggregate (never joined back to the corpus), and the JS sum moves
  // O(sources²) rows out. Terms absent from one side contribute their
  // full p·ln2 mass (the grid + coalesce-0 makes the union-of-supports
  // sum exact, not intersection-only). Multi-term double sum → rounded.
  val q137: QueryDef = QueryDef.sql(
    "q137_source_divergence",
    """WITH tf AS (
      |  SELECT source, term, count(*) AS cnt
      |  FROM (SELECT source, unnest(regexp_split_to_array(trim(text), '\s+')) AS term
      |        FROM documents) t
      |  GROUP BY 1, 2),
      |dist AS (
      |  SELECT source, term,
      |    CAST(cnt AS DOUBLE) / sum(cnt) OVER (PARTITION BY source) AS p
      |  FROM tf),
      |grid AS (
      |  SELECT a.source AS source_a, b.source AS source_b, t.term
      |  FROM (SELECT DISTINCT source FROM tf) a
      |  JOIN (SELECT DISTINCT source FROM tf) b ON a.source < b.source
      |  CROSS JOIN (SELECT DISTINCT term FROM tf) t),
      |j AS (
      |  SELECT g.source_a, g.source_b,
      |    coalesce(pa.p, 0) AS p, coalesce(pb.p, 0) AS q
      |  FROM grid g
      |  LEFT JOIN dist pa ON pa.source = g.source_a AND pa.term = g.term
      |  LEFT JOIN dist pb ON pb.source = g.source_b AND pb.term = g.term)
      |SELECT source_a, source_b,
      |  round(0.5 * sum(CASE WHEN p > 0 THEN p * ln(2 * p / (p + q)) ELSE 0 END)
      |      + 0.5 * sum(CASE WHEN q > 0 THEN q * ln(2 * q / (p + q)) ELSE 0 END), 6)
      |    AS js_div,
      |  CAST(sum(CASE WHEN p > 0 AND q > 0 THEN 1 ELSE 0 END) AS INTEGER)
      |    AS n_shared_terms
      |FROM j
      |GROUP BY source_a, source_b
      |ORDER BY source_a, source_b""".stripMargin) { (s, d) =>
    // ONE corpus scan builds the (source, term) counts; the lazy
    // localCheckpoint materializes that O(sources·vocab) aggregate so
    // the six downstream derivations (two distribution sides, source
    // list ×2, term list, totals) read the tiny table — without it each
    // reference re-plans the corpus explode (7 full scans, measured).
    val tf = Tables.documents(s, d)
      .select(col("source"), explode(expr(tokensExpr)).as("term"))
      .groupBy("source", "term").agg(count(lit(1)).as("cnt"))
      .localCheckpoint(false)
    val dist = tf
      .join(tf.groupBy("source").agg(sum("cnt").as("tot")), "source")
      .select(col("source"), col("term"),
        (col("cnt").cast("double") / col("tot")).as("p"))
    val srcs = tf.select("source").distinct()
    val grid = srcs.select(col("source").as("source_a"))
      .join(srcs.select(col("source").as("source_b")),
        col("source_a") < col("source_b"))
      .crossJoin(tf.select("term").distinct())
    grid
      .join(dist.select(col("source").as("source_a"), col("term"), col("p")),
        Seq("source_a", "term"), "left")
      .join(dist.select(col("source").as("source_b"), col("term"),
        col("p").as("q")), Seq("source_b", "term"), "left")
      .na.fill(0.0, Seq("p", "q"))
      .groupBy("source_a", "source_b")
      .agg(
        round(
          sum(when(col("p") > 0,
            col("p") * log(lit(2) * col("p") / (col("p") + col("q"))))
            .otherwise(0.0)) * 0.5 +
          sum(when(col("q") > 0,
            col("q") * log(lit(2) * col("q") / (col("p") + col("q"))))
            .otherwise(0.0)) * 0.5, 6).as("js_div"),
        sum(when(col("p") > 0 && col("q") > 0, 1).otherwise(0)).cast("int")
          .as("n_shared_terms"))
      .orderBy("source_a", "source_b")
  }

  // q146 — BPE SIZE SWEEP: corpus token totals at several merge counts
  // from ONE training run and ONE scan — the "what does a bigger vocab
  // buy" curve behind every tokenizer-size decision (compression rises,
  // marginal gain falls; the knee is the budget point). Greedy BPE
  // training is incremental, so the m-merge tokenizer is EXACTLY the
  // first m merges of the 64-merge run (prefix property,
  // spec-asserted) — one train serves every size; each size's total
  // rides the same single projection as its own codegen'd
  // BpeTokenCount against a merge-prefix literal, so the sweep costs
  // one corpus pass (q138's posture), and the wide 1-row aggregate
  // reshapes to O(sizes) rows via explode. Iterative trained artifact →
  // rows-only; monotonicity + q87 consistency are spec-pinned.
  val q146: QueryDef = QueryDef.rowsOnly("q146_bpe_size_sweep") { (s, d) =>
    val flat = bpeFlatMerges(s, d, 64)
    val sizes = Seq(0, 8, 16, 32, 64)
    val aggs = sizes.map { m =>
      sum(VectorExprs.bpeTokenCount(col("text"), flat.take(3 * m)))
        .as(s"tok_$m")
    } :+ sum(length(col("text"))).cast("double").as("n_chars")
    val wide = Tables.documents(s, d).agg(aggs.head, aggs.tail: _*)
    val rows = sizes.map { m =>
      struct(lit(m).as("n_merges"),
        col(s"tok_$m").cast("bigint").as("total_tokens"),
        round(col("n_chars") / col(s"tok_$m"), 6).as("chars_per_tok"))
    }
    wide.select(explode(array(rows: _*)).as("r"))
      .select(col("r.n_merges"), col("r.total_tokens"), col("r.chars_per_tok"))
      .orderBy("n_merges")
  }

  // q149 — PMI COLLOCATION mining (the association-strength companion to
  // q64's raw n-gram frequency: PMI surfaces word pairs that co-occur far
  // above chance, the standard collocation / multi-word-expression signal
  // for tokenizer and phrase-vocab decisions): adjacent-word bigram and
  // unigram counts from one exploded pass each (map-side partials; the
  // bigram table — the only data-proportional shuffle — is bounded by
  // observed-vocab², the unigram table by vocab), corpus totals broadcast
  // back as 1-row relations, PMI = ln c_xy + 2·ln M − ln N − ln c_x −
  // ln c_y over exact integer counts (one libm term each, summed in a
  // fixed order — cross-engine to well below the round-6), min-count 5
  // guard against low-frequency PMI blowup, top-20 as
  // TakeOrderedAndProject.
  val q149: QueryDef = QueryDef.sql(
    "q149_pmi_collocations",
    """WITH toks AS (
      |  SELECT regexp_split_to_array(trim(text), '\s+') AS w
      |  FROM documents WHERE length(trim(text)) > 0),
      |uni AS (
      |  SELECT u AS word, count(*) AS c
      |  FROM (SELECT unnest(w) AS u FROM toks) GROUP BY 1),
      |m AS (SELECT CAST(sum(c) AS DOUBLE) AS m FROM uni),
      |bi AS (
      |  SELECT g AS gram, count(*) AS c2 FROM (
      |    SELECT unnest(list_transform(range(1, len(w)),
      |      i -> w[CAST(i AS INT)] || ' ' || w[CAST(i + 1 AS INT)])) AS g
      |    FROM toks) GROUP BY 1),
      |n AS (SELECT CAST(sum(c2) AS DOUBLE) AS n FROM bi)
      |SELECT bi.gram, CAST(bi.c2 AS BIGINT) AS pair_count,
      |  round(ln(CAST(bi.c2 AS DOUBLE)) + ln(m.m) + ln(m.m) - ln(n.n)
      |    - ln(CAST(u1.c AS DOUBLE)) - ln(CAST(u2.c AS DOUBLE)), 6) AS pmi
      |FROM bi
      |CROSS JOIN m CROSS JOIN n
      |JOIN uni u1 ON split_part(bi.gram, ' ', 1) = u1.word
      |JOIN uni u2 ON split_part(bi.gram, ' ', 2) = u2.word
      |WHERE bi.c2 >= 5
      |ORDER BY pmi DESC, gram
      |LIMIT 20""".stripMargin) { (s, d) =>
    val toks = Tables.documents(s, d)
      .filter(length(trim(col("text"))) > 0)
      .select(expr(tokensExpr).as("w"))
    val uni = toks.select(explode(col("w")).as("word"))
      .groupBy("word").agg(count(lit(1)).as("c"))
    val mrow = uni.agg(sum("c").cast("double").as("m"))
    val bi = toks
      .filter(size(col("w")) >= 2)
      .select(explode(
        expr("transform(sequence(0, size(w) - 2), i -> concat(w[i], ' ', w[i + 1]))"))
        .as("gram"))
      .groupBy("gram").agg(count(lit(1)).as("c2"))
    val nrow = bi.agg(sum("c2").cast("double").as("n"))
    bi.filter(col("c2") >= 5)
      .withColumn("w1", expr("split_part(gram, ' ', 1)"))
      .withColumn("w2", expr("split_part(gram, ' ', 2)"))
      .join(broadcast(uni.select(col("word").as("w1"), col("c").as("c_1"))), "w1")
      .join(broadcast(uni.select(col("word").as("w2"), col("c").as("c_2"))), "w2")
      .crossJoin(broadcast(mrow))
      .crossJoin(broadcast(nrow))
      .select(col("gram"), col("c2").as("pair_count"),
        round(log(col("c2").cast("double")) + log(col("m")) + log(col("m"))
          - log(col("n")) - log(col("c_1").cast("double"))
          - log(col("c_2").cast("double")), 6).as("pmi"))
      .orderBy(desc("pmi"), asc("gram"))
      .limit(20)
  }

  // q150 — WINSORIZED per-source length statistics (the robust-stats pass
  // a mixture designer runs before trusting per-source means: a handful of
  // giant or empty documents can swing a raw average by orders of
  // magnitude; clipping at exact p05/p95 makes the comparison outlier-
  // proof). Scale shape: ONE corpus shuffle builds the (source, n_chars)
  // count table; the cumulative window, the discrete-percentile cuts
  // (pure integer ceil arithmetic — engine-exact), and both means all run
  // over that O(sources · distinct-lengths) table — the corpus is never
  // re-scanned or re-shuffled, and the winsorized mean is Σ cnt·clip(v)
  // over the counts, not a second pass.
  val q150: QueryDef = QueryDef.sql(
    "q150_winsorized_stats",
    """WITH c AS (
      |  SELECT source, n_chars, count(*) AS cnt
      |  FROM documents GROUP BY 1, 2),
      |cum AS (
      |  SELECT source, n_chars, cnt,
      |    sum(cnt) OVER (PARTITION BY source ORDER BY n_chars) AS cum,
      |    sum(cnt) OVER (PARTITION BY source) AS total
      |  FROM c),
      |cuts AS (
      |  SELECT source,
      |    min(CASE WHEN cum >= (total + 19) // 20 THEN n_chars END) AS p05,
      |    min(CASE WHEN cum >= (19 * total + 19) // 20 THEN n_chars END) AS p95
      |  FROM cum GROUP BY source)
      |SELECT c.source,
      |  CAST(sum(c.cnt) AS BIGINT) AS n_docs,
      |  min(k.p05) AS p05, min(k.p95) AS p95,
      |  round(CAST(sum(c.n_chars * c.cnt) AS DOUBLE) / sum(c.cnt), 6) AS mean_raw,
      |  round(CAST(sum(greatest(least(c.n_chars, k.p95), k.p05) * c.cnt) AS DOUBLE)
      |    / sum(c.cnt), 6) AS mean_winsor
      |FROM c JOIN cuts k USING (source)
      |GROUP BY c.source
      |ORDER BY source""".stripMargin) { (s, d) =>
    val c = Tables.documents(s, d)
      .groupBy("source", "n_chars").agg(count(lit(1)).as("cnt"))
    val cum = c
      .withColumn("cum",
        sum("cnt").over(Window.partitionBy("source").orderBy("n_chars")))
      .withColumn("total", sum("cnt").over(Window.partitionBy("source")))
    val cuts = cum.groupBy("source").agg(
      min(when(col("cum") >= expr("(total + 19) div 20"), col("n_chars"))).as("p05"),
      min(when(col("cum") >= expr("(19 * total + 19) div 20"), col("n_chars"))).as("p95"))
    c.join(broadcast(cuts), "source")
      .groupBy("source")
      .agg(sum("cnt").as("n_docs"),
        min("p05").as("p05"), min("p95").as("p95"),
        sum(col("n_chars") * col("cnt")).as("sraw"),
        sum(greatest(least(col("n_chars"), col("p95")), col("p05")) * col("cnt"))
          .as("swin"))
      .select(col("source"), col("n_docs"), col("p05"), col("p95"),
        round(col("sraw").cast("double") / col("n_docs"), 6).as("mean_raw"),
        round(col("swin").cast("double") / col("n_docs"), 6).as("mean_winsor"))
      .orderBy("source")
  }

  // q151 — COMPRESSION-RATIO quality signal (the Gopher/CCNet redundancy
  // heuristic q68's dup-gram fraction approximates combinatorially:
  // DEFLATE's dictionary finds ALL within-window repetition at once, so
  // bytes-compressed / bytes-raw is a single dense redundancy score —
  // boilerplate and template spam sit far below natural text). One corpus
  // scan; the per-doc score is a single codegen'd [[graft.functions
  // .DeflateLen]] projection (no shuffle, no UDF); the keep flag applies
  // the standard lower bound. zlib output is JVM-deterministic but not
  // SQL-replayable → rows-only, semantics pinned by CompressionSpec
  // (monotonicity under injected repetition, determinism, plan shape).
  val q151: QueryDef = QueryDef.rowsOnly("q151_compression_ratio") { (s, d) =>
    Tables.documents(s, d)
      .select(col("doc_id"), col("source"),
        length(col("text")).cast("int").as("raw_len"),
        VectorExprs.deflateLen(col("text")).as("comp_len"))
      .filter(col("raw_len") > 0)
      .select(col("doc_id"), col("source"), col("raw_len"), col("comp_len"),
        round(col("comp_len").cast("double") / col("raw_len"), 6).as("ratio"),
        (col("comp_len").cast("double") / col("raw_len") >= 0.25).as("keep"))
      .orderBy("doc_id")
  }

  private val Letters: Seq[Char] = 'a' to 'z'

  /** q152's letter-entropy expression tree over a `text` column (26
    * length-difference counts + the fixed a→z −p·ln p chain), reusable by
    * the streaming quality gate — one codegen'd expression, no shuffle.
    */
  private[graft] def letterEntropyCol: org.apache.spark.sql.Column = {
    val counts = Letters.map(ch =>
      (length(col("text")) - length(expr(s"replace(text, '$ch', '')"))).cast("long"))
    val n = counts.reduce(_ + _)
    Letters.zip(counts).foldLeft(lit(0.0)) { case (acc, (_, cc)) =>
      val p = cc.cast("double") / n
      acc + when(cc > 0, (-p) * log(p)).otherwise(0.0)
    }
  }

  // q152 — CHARACTER-CLASS ENTROPY (the cheap gibberish/encoding-damage
  // detector: natural language has a characteristic letter-distribution
  // entropy band; mojibake, base64 blobs, and single-char spam fall far
  // outside it). The 26 letter counts ride ONE codegen'd projection
  // (length-difference trick — exact integers, engine-identical), the
  // entropy sum is a fixed a→z chain of one libm ln per present letter
  // (cross-engine ulp ≪ the round-6), and the output is one row per doc
  // from one scan — no shuffle, no explode: the per-char explode
  // formulation would shuffle |doc| rows per document.
  val q152: QueryDef = QueryDef.sql(
    "q152_char_entropy", {
      val sqlCounts = Letters.map(ch =>
        s"CAST(length(text) - length(replace(text, '$ch', '')) AS BIGINT) AS n_$ch")
        .mkString(",\n      |    ")
      val sqlTotal = Letters.map(ch => s"n_$ch").mkString(" + ")
      val sqlNames = Letters.map(ch => s"n_$ch").mkString(", ")
      val sqlEntropy = Letters.map(ch =>
        s"(CASE WHEN n_$ch > 0 THEN -(CAST(n_$ch AS DOUBLE) / n) * ln(CAST(n_$ch AS DOUBLE) / n) ELSE 0.0 END)")
        .mkString("0.0 + ", "\n      |    + ", "")
      s"""WITH c AS (
      |  SELECT doc_id,
      |    $sqlCounts
      |  FROM documents),
      |t AS (SELECT doc_id, ($sqlTotal) AS n, $sqlNames FROM c)
      |SELECT doc_id, CAST(n AS BIGINT) AS n_letters,
      |  round($sqlEntropy, 6) AS entropy
      |FROM t ORDER BY doc_id""".stripMargin
    }) { (s, d) =>
    val counts = Letters.map(ch =>
      (length(col("text")) - length(expr(s"replace(text, '$ch', '')")))
        .cast("long").as(s"n_$ch"))
    val withCounts = Tables.documents(s, d)
      .select(col("doc_id") +: counts: _*)
    val withN = withCounts
      .withColumn("n", Letters.map(ch => col(s"n_$ch")).reduce(_ + _))
    val entropy = Letters.foldLeft(lit(0.0)) { (acc, ch) =>
      val cc = col(s"n_$ch")
      val p = cc.cast("double") / col("n")
      acc + when(cc > 0, (-p) * log(p)).otherwise(0.0)
    }
    withN.select(col("doc_id"), col("n").as("n_letters"),
        round(entropy, 6).as("entropy"))
      .orderBy("doc_id")
  }

  // q159 — BPE ROUND-TRIP integrity audit (the tokenizer-release gate:
  // decode(encode(x)) must reconstruct x exactly, else the id vocabulary
  // and the merge table have drifted apart and every downstream shard is
  // silently corrupt). Encode is the q116 codegen'd expression; decode is
  // a per-row transform against the ≤(alphabet+merges)-entry vocab
  // LITERAL (a bounded model artifact, not data) — concatenated token
  // strings must equal the concatenated whitespace-split words
  // (whitespace itself is not modeled, the standard pre-tokenizer
  // contract). One scan, no shuffle, no join; per-doc verdict out.
  // Trained-artifact-dependent → rows-only; the spec asserts the
  // invariant holds corpus-wide AND that a corrupted vocab is caught.
  val q159: QueryDef = QueryDef.rowsOnly("q159_bpe_roundtrip") { (s, d) =>
    val vocab = typedlit(bpeIdVocab(s, d, 64))
    Tables.documents(s, d)
      .select(col("doc_id"),
        VectorExprs.bpeEncodeIds(col("text"), bpeFlatMerges(s, d, 64),
          bpeIdVocab(s, d, 64)).as("ids"),
        expr(s"concat_ws('', $tokensExpr)").as("joined_words"))
      .select(col("doc_id"), size(col("ids")).as("n_ids"),
        (concat_ws("", transform(col("ids"),
          id => element_at(vocab, id + 1))) === col("joined_words"))
          .as("roundtrip_ok"))
      .orderBy("doc_id")
  }

  // q160 — EPOCH RESAMPLING under a √n temperature schedule (the
  // EXECUTABLE face of q124: that query reports target proportions, this
  // one materializes per-doc copy counts for one epoch — floor(rate)
  // guaranteed copies plus a deterministic-hash stochastic round for the
  // fraction, so the realized mix tracks the schedule with zero
  // randomness state). Temperature 1/2 (√n) deliberately: IEEE sqrt is
  // correctly rounded in BOTH engines, so rates are bit-identical and
  // the integer copy counts hash-match — pow(n, 0.3) would flip floor()
  // at libm-ulp boundaries. Scale shape: the schedule is an O(sources)
  // broadcast model; the corpus joins it broadcast, copies are a
  // projection, one groupBy(source) rollup out.
  /** q160's frozen (source, n, target_share, rate) schedule — the model
    * artifact [[graft.streaming.Events.resampleStream]] broadcasts onto
    * an arriving stream. O(sources) rows.
    */
  private[graft] def resampleSchedule(s: SparkSession, d: String): DataFrame = {
    val srcN = Tables.documents(s, d)
      .groupBy("source").agg(count(lit(1)).as("n"))
      .withColumn("wgt", sqrt(col("n").cast("double")))
    val z = srcN.agg(sum("wgt").as("z"), sum("n").as("big_n"))
    srcN.crossJoin(broadcast(z))
      .select(col("source"), col("n"),
        (col("wgt") / col("z")).as("target_share"),
        (col("wgt") / col("z") * col("big_n") / col("n")).as("rate"))
  }

  val q160: QueryDef = QueryDef.sql(
    "q160_epoch_resample",
    """WITH s AS (SELECT source, count(*) AS n FROM documents GROUP BY 1),
      |w AS (SELECT source, n, sqrt(CAST(n AS DOUBLE)) AS wgt FROM s),
      |z AS (SELECT sum(wgt) AS z, sum(n) AS big_n FROM w),
      |r AS (SELECT source, n, wgt / z.z AS target_share,
      |        (wgt / z.z) * big_n / n AS rate FROM w CROSS JOIN z),
      |c AS (SELECT d.doc_id, d.source,
      |        CAST(floor(r.rate) AS BIGINT)
      |        + CASE WHEN ((d.doc_id % 9973) * 131) % 1000
      |               < (r.rate - floor(r.rate)) * 1000 THEN 1 ELSE 0 END AS copies
      |      FROM documents d JOIN r USING (source)),
      |agg AS (SELECT source, count(*) AS n_docs, sum(copies) AS copies
      |        FROM c GROUP BY 1),
      |tot AS (SELECT sum(copies) AS t FROM agg)
      |SELECT a.source, CAST(a.n_docs AS BIGINT) AS n_docs,
      |  CAST(a.copies AS BIGINT) AS copies,
      |  round(r.target_share, 6) AS target_share,
      |  round(CAST(a.copies AS DOUBLE) / tot.t, 6) AS realized_share
      |FROM agg a JOIN r USING (source) CROSS JOIN tot
      |ORDER BY source""".stripMargin) { (s, d) =>
    val docs = Tables.documents(s, d)
    val r = resampleSchedule(s, d)
    val c = docs.select("doc_id", "source")
      .join(broadcast(r), "source")
      .select(col("source"),
        (floor(col("rate")).cast("long")
          + when((col("doc_id") % 9973L) * 131L % 1000L
              < (col("rate") - floor(col("rate"))) * 1000, 1L).otherwise(0L))
          .as("copies"))
    val agg = c.groupBy("source")
      .agg(count(lit(1)).as("n_docs"), sum("copies").as("copies"))
    val tot = agg.agg(sum("copies").as("t"))
    agg.join(broadcast(r.select("source", "target_share")), "source")
      .crossJoin(broadcast(tot))
      .select(col("source"), col("n_docs"), col("copies"),
        round(col("target_share"), 6).as("target_share"),
        round(col("copies").cast("double") / col("t"), 6).as("realized_share"))
      .orderBy("source")
  }

  // q161 — LENGTH-CURRICULUM stages (short→long quartiles — the ordering
  // curriculum-learning schedules consume; corpus-relative cuts where
  // q127's histogram uses fixed power-of-2 boundaries): exact quartile
  // cuts from the (n_chars, count) table via the q150 integer-ceil rank
  // rule — the cumulative window runs over O(distinct lengths) BOUNDED
  // rows (q127's precedent), never the corpus; cuts broadcast back; one
  // corpus groupBy(stage) emits 4 rows with per-stage source diversity.
  val q161: QueryDef = QueryDef.sql(
    "q161_curriculum_stages",
    """WITH c AS (SELECT n_chars, count(*) AS cnt FROM documents GROUP BY 1),
      |cum AS (
      |  SELECT n_chars, cnt,
      |    sum(cnt) OVER (ORDER BY n_chars) AS cum,
      |    sum(cnt) OVER () AS total
      |  FROM c),
      |cuts AS (SELECT
      |    min(CASE WHEN cum >= (total + 3) // 4 THEN n_chars END) AS c1,
      |    min(CASE WHEN cum >= (2 * total + 3) // 4 THEN n_chars END) AS c2,
      |    min(CASE WHEN cum >= (3 * total + 3) // 4 THEN n_chars END) AS c3
      |  FROM cum)
      |SELECT stage, CAST(count(*) AS BIGINT) AS n_docs,
      |  CAST(sum(n_chars) AS BIGINT) AS chars,
      |  min(n_chars) AS lo, max(n_chars) AS hi,
      |  CAST(count(DISTINCT source) AS BIGINT) AS n_sources
      |FROM (
      |  SELECT d.doc_id, d.source, d.n_chars,
      |    CASE WHEN d.n_chars <= k.c1 THEN 1
      |         WHEN d.n_chars <= k.c2 THEN 2
      |         WHEN d.n_chars <= k.c3 THEN 3 ELSE 4 END AS stage
      |  FROM documents d CROSS JOIN cuts k) t
      |GROUP BY stage ORDER BY stage""".stripMargin) { (s, d) =>
    import org.apache.spark.sql.expressions.{Window => W}
    val docs = Tables.documents(s, d)
    val c = docs.groupBy("n_chars").agg(count(lit(1)).as("cnt"))
    // the global cumulative runs over the BOUNDED count table (O(distinct
    // lengths) rows) — a single-partition window there is fine; the
    // corpus never sees a global window
    val cum = c
      .withColumn("cum", sum("cnt").over(W.orderBy("n_chars")
        .rowsBetween(W.unboundedPreceding, W.currentRow)))
      .withColumn("total", sum("cnt").over(
        W.partitionBy().rowsBetween(W.unboundedPreceding, W.unboundedFollowing)))
    val cuts = cum.agg(
      min(when(col("cum") >= expr("(total + 3) div 4"), col("n_chars"))).as("c1"),
      min(when(col("cum") >= expr("(2 * total + 3) div 4"), col("n_chars"))).as("c2"),
      min(when(col("cum") >= expr("(3 * total + 3) div 4"), col("n_chars"))).as("c3"))
    docs.crossJoin(broadcast(cuts))
      .withColumn("stage",
        when(col("n_chars") <= col("c1"), 1)
          .when(col("n_chars") <= col("c2"), 2)
          .when(col("n_chars") <= col("c3"), 3).otherwise(4))
      .groupBy("stage")
      .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("chars"),
        min("n_chars").as("lo"), max("n_chars").as("hi"),
        countDistinct("source").as("n_sources"))
      .orderBy("stage")
  }

  /** Persisted text INVERTED INDEX — the search-engine artifact (the
    * vector family has its cell-partitioned ANN table; this is the
    * postings-table twin for text). One corpus pass explodes tokens to
    * (term, doc_id, tf) postings, which persist PARTITIONED BY a 64-way
    * term-hash bucket: a probe computes its terms' buckets driver-side,
    * so the scan prunes to ≤|terms| partitions and the corpus is never
    * touched at query time — the difference between q69's per-query
    * corpus scan and an INDEXED lookup. Vocabulary growth only widens
    * partitions, never adds them (the bucket count is the scale knob).
    */
  def writeInvertedIndex(s: SparkSession, d: String, table: String): Unit =
    Tables.documents(s, d)
      .select(col("doc_id"), explode(expr(tokensExpr)).as("term"))
      .filter(length(col("term")) > 0)
      .groupBy("term", "doc_id").agg(count(lit(1)).as("tf"))
      .withColumn("tb", pmod(xxhash64(col("term")), lit(64L)))
      .select("term", "doc_id", "tf", "tb") // partition column last
      .write.mode("overwrite")
      .partitionBy("tb")
      .option("path",
        s"${s.sessionState.conf.warehousePath}/graft-textindex/$table")
      .saveAsTable(table)

  private val invIdxMemo = new graft.Memo[(SparkSession, String), String]("text.invertedIndex")
  private[graft] def invertedIndexTable(s: SparkSession, d: String): String =
    invIdxMemo((s, d)) {
      val t = s"graft_text_idx_${graft.Memos.pathToken(d)}"
      writeInvertedIndex(s, d, t)
      t
    }

  /** INCREMENTAL index maintenance: append a batch of new documents'
    * postings to an existing inverted index table — q48's
    * incremental-dedup posture applied to search. The batch tokenizes
    * and writes ONLY its own terms' bucket partitions; existing
    * partitions are never rewritten, re-shuffled, or read — O(batch)
    * work per refresh, and probes see old + new docs identically
    * (spec-asserted equal to a one-shot rebuild over the union).
    */
  def appendToInvertedIndex(s: SparkSession, table: String,
      batch: DataFrame): Unit =
    batch
      .select(col("doc_id"), explode(expr(tokensExpr)).as("term"))
      .filter(length(col("term")) > 0)
      .groupBy("term", "doc_id").agg(count(lit(1)).as("tf"))
      .withColumn("tb", pmod(xxhash64(col("term")), lit(64L)))
      .select("term", "doc_id", "tf", "tb") // partition column last
      .write.mode("append").insertInto(table)

  /** Conjunctive (AND) search over the persisted inverted index: docs
    * containing EVERY probe term, with the summed term frequency as a
    * crude rank signal. The postings scan prunes to the probe terms'
    * hash-bucket partitions (driver-side arithmetic, no corpus access);
    * the intersection is one doc-keyed aggregate over the ≤|terms|
    * postings lists with a distinct-term count gate.
    */
  def probeConjunctive(s: SparkSession, d: String, terms: Seq[String]): DataFrame = {
    require(terms.nonEmpty)
    // probe buckets via the SAME xxhash64 the index writer used — a
    // 3-row local relation, no corpus or index access
    val buckets: Seq[Long] = {
      import s.implicits._
      terms.toDF("t").select(pmod(xxhash64(col("t")), lit(64L)))
        .collect().map(_.getLong(0)).distinct.toIndexedSeq
    }
    s.table(invertedIndexTable(s, d))
      .filter(col("tb").isin(buckets: _*) && col("term").isin(terms: _*))
      .groupBy("doc_id")
      .agg(countDistinct("term").as("n_terms"), sum("tf").as("n_hits"))
      .filter(col("n_terms") === terms.size)
      .select("doc_id", "n_hits")
  }

  // q188 — CONJUNCTIVE INDEXED SEARCH (AND-of-terms over the persisted
  // postings table): the operational difference from q69's BM25 is that
  // the corpus is NEVER scanned at query time — the probe reads only
  // the ≤|terms| pruned index partitions. The oracle replays the
  // SEMANTICS (all terms present, summed tf) from the raw documents, so
  // the index build + pruned probe must agree with a direct scan
  // hash-exactly.
  val q188: QueryDef = {
    val terms = Seq("spark", "join", "window")
    def cnt(t: String) =
      s"len(list_filter(regexp_split_to_array(trim(text), '\\s+'), x -> x = '$t'))"
    QueryDef.sql(
      "q188_conjunctive_search",
      s"""SELECT doc_id,
         |  CAST(${terms.map(cnt).mkString(" + ")} AS BIGINT) AS n_hits
         |FROM documents
         |WHERE ${terms.map(t => s"${cnt(t)} > 0").mkString(" AND ")}
         |ORDER BY doc_id""".stripMargin) { (s, d) =>
      probeConjunctive(s, d, terms).orderBy("doc_id")
    }
  }

  // q194 — PII SCRUB (the redaction stage every public-corpus pipeline
  // runs before training: emails / phone numbers / IPv4 literals out,
  // counted per class and per doc). The shipped corpus is PII-free, so
  // the operator DETERMINISTICALLY INJECTS synthetic PII keyed on doc_id
  // (docs ≡0 mod 7 gain an email, mod 11 a phone, mod 13 an IP — mod 77
  // etc. get several) and then scrubs it — the injection is the test
  // fixture, the scrub is the general machinery, and the oracle replays
  // BOTH, so detection counts, replacement order (email → phone → IP),
  // and the redacted text are engine-parity hash-checked via md5.
  // Patterns use [0-9] classes only (no \d, \b): the same byte-semantics
  // in Java regex and RE2. Stateless single-scan projection — no
  // shuffle, no join; at 100 TB this is pure map parallelism (the same
  // charter as qualityGateStream, which a deployment would extend with
  // these patterns at ingest).
  val PiiEmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+[.][A-Za-z]{2,}"
  val PiiPhoneRe = "[0-9]{3}-[0-9]{3}-[0-9]{4}"
  val PiiIpRe = "[0-9]{1,3}[.][0-9]{1,3}[.][0-9]{1,3}[.][0-9]{1,3}"

  /** The scrub machinery behind q194, exposed with the redacted TEXT (the
    * catalog query ships only its md5): per-class match counts + the
    * email→phone→IP replacement chain over the injected corpus.
    */
  def piiScrubbed(s: SparkSession, d: String, injectSql: String): DataFrame =
    Tables.documents(s, d)
      .withColumn("t", expr(injectSql.replace("AS VARCHAR", "AS STRING")))
      .withColumn("n_email", expr(s"regexp_count(t, '$PiiEmailRe')").cast("int"))
      .withColumn("n_phone", expr(s"regexp_count(t, '$PiiPhoneRe')").cast("int"))
      .withColumn("n_ip", expr(s"regexp_count(t, '$PiiIpRe')").cast("int"))
      .withColumn("redacted", expr(
        s"regexp_replace(regexp_replace(regexp_replace(t, '$PiiEmailRe', '<EMAIL>'), " +
          s"'$PiiPhoneRe', '<PHONE>'), '$PiiIpRe', '<IP>')"))

  /** q194's deterministic fixture: synthetic PII keyed on doc_id. */
  val PiiInjectSql: String =
      """concat(text,
        |  CASE WHEN doc_id % 7 = 0 THEN concat(' contact user', CAST(doc_id AS VARCHAR), '@example.com now') ELSE '' END,
        |  CASE WHEN doc_id % 11 = 0 THEN concat(' call 415-555-', lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0'), ' today') ELSE '' END,
        |  CASE WHEN doc_id % 13 = 0 THEN concat(' host 10.', CAST(doc_id % 256 AS VARCHAR), '.0.', CAST(doc_id % 250 + 1 AS VARCHAR), ' up') ELSE '' END)"""
      .stripMargin

  val q194: QueryDef =
    QueryDef.sql(
      "q194_pii_scrub",
      s"""WITH inj AS (SELECT doc_id, source, $PiiInjectSql AS t FROM documents),
         |red AS (
         |  SELECT doc_id, source, t,
         |    len(regexp_extract_all(t, '$PiiEmailRe')) AS n_email,
         |    len(regexp_extract_all(t, '$PiiPhoneRe')) AS n_phone,
         |    len(regexp_extract_all(t, '$PiiIpRe')) AS n_ip,
         |    regexp_replace(regexp_replace(regexp_replace(t,
         |      '$PiiEmailRe', '<EMAIL>', 'g'), '$PiiPhoneRe', '<PHONE>', 'g'),
         |      '$PiiIpRe', '<IP>', 'g') AS redacted
         |  FROM inj)
         |SELECT doc_id, source,
         |  CAST(n_email AS INTEGER) AS n_email,
         |  CAST(n_phone AS INTEGER) AS n_phone,
         |  CAST(n_ip AS INTEGER) AS n_ip,
         |  (n_email + n_phone + n_ip > 0) AS had_pii,
         |  CAST(length(redacted) AS INTEGER) AS n_chars_redacted,
         |  md5(redacted) AS redacted_md5
         |FROM red ORDER BY doc_id""".stripMargin) { (s, d) =>
      // Spark face: same injection (VARCHAR→STRING cast spelling is the
      // only dialect change), counts via regexp_count, scrub via nested
      // regexp_replace (global by default in Spark; 'g' flag in DuckDB)
      piiScrubbed(s, d, PiiInjectSql)
        .select(col("doc_id"), col("source"),
          col("n_email"), col("n_phone"), col("n_ip"),
          (col("n_email") + col("n_phone") + col("n_ip") > 0).as("had_pii"),
          length(col("redacted")).as("n_chars_redacted"),
          md5(col("redacted")).as("redacted_md5"))
        .orderBy("doc_id")
    }

  // q201 — CROSS-SOURCE SCORE CALIBRATION: the FIX for what q168/q137
  // only measure — the same quality score means different things in
  // different sources (a 0.8 from a clean source ≠ a 0.8 from a noisy
  // one), so mixing on raw scores (q103/q115's budget keys) silently
  // over-samples whichever source scores generously. Each doc gets its
  // mid-rank empirical-CDF position within its OWN source
  // ((below + c/2)/n — tie-stable, the calibrated sampling key) next to
  // its global CDF position; the gap column IS the per-doc
  // miscalibration. Scale shape: a per-row percent_rank would sort each
  // source's whole corpus in one task (the q103 window trap, again);
  // the mid-rank CDF needs only the (source, qkey) HISTOGRAM — one
  // map-side-combined shuffle, prefix-sum windows over the BOUNDED
  // O(sources·1001) table, and a broadcast join back onto the doc scan.
  // All counts integer-exact; each CDF is (below + 0.5·c)/n — exact
  // halving + one division, engine-deterministic unrounded.
  val q201: QueryDef = QueryDef.sql(
    "q201_score_calibration",
    """WITH q AS (
      |  SELECT doc_id, source,
      |    CAST(ROUND(1000.0 * len(list_filter(regexp_split_to_array(trim(text), '\s+'),
      |        t -> t = 'the' OR t = 'a' OR t = 'value')) /
      |      len(regexp_split_to_array(trim(text), '\s+'))) AS INTEGER) AS qkey
      |  FROM documents),
      |hist AS (
      |  SELECT source, qkey, CAST(count(*) AS BIGINT) AS c
      |  FROM q GROUP BY source, qkey),
      |src AS (
      |  SELECT source, qkey, c,
      |    sum(c) OVER (PARTITION BY source ORDER BY qkey
      |      ROWS UNBOUNDED PRECEDING) - c AS below,
      |    sum(c) OVER (PARTITION BY source) AS ns
      |  FROM hist),
      |gcdf AS (
      |  SELECT qkey, CAST(sum(c) AS BIGINT) AS gc,
      |    sum(sum(c)) OVER (ORDER BY qkey ROWS UNBOUNDED PRECEDING)
      |      - sum(c) AS gbelow,
      |    sum(sum(c)) OVER () AS ng
      |  FROM hist GROUP BY qkey)
      |SELECT d.doc_id, d.source, d.qkey,
      |  (s.below + 0.5 * s.c) / s.ns AS cal_src,
      |  (g.gbelow + 0.5 * g.gc) / g.ng AS cal_glob,
      |  (s.below + 0.5 * s.c) / s.ns - (g.gbelow + 0.5 * g.gc) / g.ng AS gap
      |FROM q d
      |JOIN src s ON d.source = s.source AND d.qkey = s.qkey
      |JOIN gcdf g ON d.qkey = g.qkey
      |ORDER BY d.doc_id""".stripMargin) { (s, d) =>
    val toks = "split(trim(text), '\\\\s+')"
    val q = Tables.documents(s, d).select(col("doc_id"), col("source"),
      expr(s"""cast(round(1000.0 *
        size(filter($toks, t -> t = 'the' OR t = 'a' OR t = 'value')) /
        size($toks)) as int)""").as("qkey"))
    val hist = q.groupBy("source", "qkey").agg(count(lit(1)).as("c"))
    val wSrc = Window.partitionBy("source").orderBy("qkey")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wNs = Window.partitionBy("source")
    val src = hist
      .withColumn("below", sum("c").over(wSrc) - col("c"))
      .withColumn("ns", sum("c").over(wNs))
    val glob0 = hist.groupBy("qkey").agg(sum("c").as("gc"))
    val wG = Window.orderBy("qkey")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val glob = glob0
      .withColumn("gbelow", sum("gc").over(wG) - col("gc"))
      .withColumn("ng",
        sum("gc").over(Window.partitionBy(lit(1))))
    val calS = (col("below") + lit(0.5) * col("c")) / col("ns")
    val calG = (col("gbelow") + lit(0.5) * col("gc")) / col("ng")
    q.join(broadcast(src.select("source", "qkey", "below", "c", "ns")),
        Seq("source", "qkey"))
      .join(broadcast(glob.select("qkey", "gbelow", "gc", "ng")), Seq("qkey"))
      .select(col("doc_id"), col("source"), col("qkey"),
        calS.as("cal_src"), calG.as("cal_glob"),
        (calS - calG).as("gap"))
      .orderBy("doc_id")
  }

  // q215 — perplexity-filter retention sweep: for a fixed grid of
  // bigram-LM score thresholds, the docs/chars each source would retain
  // (the data-mixing dashboard behind every "quality-filtered" corpus
  // release — the threshold is a DIAL, and this is the curve you read
  // before setting it; q67 scores one doc, this prices the POLICY).
  // Rides q67's oracle-green scorer unchanged, then collapses the
  // per-doc scores to a bounded (source × 0.01-score-bucket) histogram —
  // the sweep's only corpus-sized input is the score join, the 8
  // thresholds ride a bounded cross join. Bucketing is EXACT off the
  // round-6 score: k6 = round(score·1e6) is the same integer in both
  // engines, and floor(k6/1e4) can't cross an integer boundary (k6/1e4
  // is ≥1e-4 from any integer it doesn't hit exactly) — so "bucket ≥
  // 100τ ⟺ score ≥ τ" holds exactly on the 0.05-step grid. Retention
  // fractions are single divisions of exact ints, unrounded.
  val q215: QueryDef = QueryDef.sql(
    "q215_ppl_filter_sweep",
    """WITH g AS (
      |  SELECT doc_id, unnest(list_transform(range(1, length(text)),
      |    i -> substr(text, CAST(i AS INT), 2))) AS gram
      |  FROM documents),
      |bi AS (SELECT gram, count(*) AS cnt FROM g GROUP BY gram),
      |pref AS (SELECT substr(gram, 1, 1) AS c1, sum(cnt) AS pcnt FROM bi GROUP BY 1),
      |v AS (
      |  SELECT CAST(count(DISTINCT c) AS DOUBLE) AS v FROM (
      |    SELECT unnest(list_transform(range(1, length(text) + 1),
      |      i -> substr(text, CAST(i AS INT), 1))) AS c
      |    FROM documents) u),
      |sc AS (
      |  SELECT g.doc_id,
      |    round(avg(ln(CAST(bi.cnt + 1 AS DOUBLE) / (pref.pcnt + v.v))), 6) AS logprob
      |  FROM g JOIN bi USING (gram) JOIN pref ON substr(g.gram, 1, 1) = pref.c1, v
      |  GROUP BY g.doc_id),
      |db AS (
      |  SELECT d.source, d.n_chars,
      |    CAST(floor(CAST(round(sc.logprob * 1000000) AS BIGINT) / 10000.0) AS BIGINT) AS b
      |  FROM sc JOIN documents d USING (doc_id)),
      |h AS (
      |  SELECT source, b, CAST(count(*) AS BIGINT) AS nd,
      |    CAST(sum(n_chars) AS BIGINT) AS nc
      |  FROM db GROUP BY 1, 2),
      |taus AS (SELECT unnest(range(-190, -150, 5)) AS t100),
      |agg AS (
      |  SELECT h.source, taus.t100,
      |    CAST(sum(CASE WHEN h.b >= taus.t100 THEN h.nd ELSE 0 END) AS BIGINT) AS docs_kept,
      |    CAST(sum(CASE WHEN h.b >= taus.t100 THEN h.nc ELSE 0 END) AS BIGINT) AS chars_kept,
      |    CAST(sum(h.nd) AS BIGINT) AS docs_total,
      |    CAST(sum(h.nc) AS BIGINT) AS chars_total
      |  FROM h CROSS JOIN taus
      |  GROUP BY 1, 2)
      |SELECT source, CAST(t100 AS DOUBLE) / 100.0 AS tau, docs_kept, chars_kept,
      |  CAST(docs_kept AS DOUBLE) / docs_total AS frac_docs,
      |  CAST(chars_kept AS DOUBLE) / chars_total AS frac_chars
      |FROM agg ORDER BY source, tau""".stripMargin) { (s, d) =>
    val sc = q67.fn(s, d).select(col("doc_id"), col("logprob"))
    val db = sc
      .join(Tables.documents(s, d).select("doc_id", "source", "n_chars"), Seq("doc_id"))
      .select(col("source"), col("n_chars"),
        floor(expr("cast(round(logprob * 1000000) as bigint)") / lit(10000.0))
          .cast("bigint").as("b"))
    val h = db.groupBy("source", "b")
      .agg(count(lit(1)).as("nd"), sum("n_chars").as("nc"))
    val taus = s.range(1)
      .select(explode(sequence(lit(-190), lit(-155), lit(5))).as("t100"))
    h.crossJoin(broadcast(taus))
      .groupBy("source", "t100")
      .agg(
        sum(when(col("b") >= col("t100"), col("nd")).otherwise(0L)).as("docs_kept"),
        sum(when(col("b") >= col("t100"), col("nc")).otherwise(0L)).as("chars_kept"),
        sum("nd").as("docs_total"), sum("nc").as("chars_total"))
      .select(col("source"), (col("t100").cast("double") / 100.0).as("tau"),
        col("docs_kept"), col("chars_kept"),
        (col("docs_kept").cast("double") / col("docs_total")).as("frac_docs"),
        (col("chars_kept").cast("double") / col("chars_total")).as("frac_chars"))
      .orderBy("source", "tau")
  }

  // q219 — retrieval ranking EVALUATION (MRR@10 / NDCG@10 — the missing
  // eval member of the q69/q98/q208 retrieval family: the engine can
  // score, fuse, and rerank, but a curation loop also has to MEASURE a
  // ranking against relevance labels before trusting it). Five
  // single-term BM25 rankings (q69's Okapi constants, scores rounded to
  // 6 before ranking); relevance is the deterministic graded label
  // rel = clamp(tf − 2, 0, 3) — relevant iff the term occurs ≥ 3 times,
  // saturating at 5 — so BM25's length normalization makes the ranking
  // CORRELATED with but not identical to the labels, and the metrics
  // land strictly inside (0,1). Scale shape: one corpus scan → skinny
  // (term, doc, score, rel) rows via a map-side 5-way explode with the
  // stats row broadcast (q69's discipline); top-10 per term via the
  // bounded TopKNbr map-side aggregate — ONE shuffle of O(terms × k)
  // partials, never a per-term corpus sort (the §5-banned tiny-key
  // global window); label joins broadcast the 50 top rows back; DCG and
  // ideal-DCG terms quantize onto the 1e-9 grid before their integer
  // sums (q211's order-free discipline), IDCG derives from the bounded
  // per-term relevance histogram, final ratios rounded once. Tie-break
  // everywhere: (score desc, doc_id asc) — TopKNbr's native order,
  // mirrored by the oracle's row_number.
  val q219: QueryDef = QueryDef.sql(
    "q219_rank_eval",
    """WITH toks AS (
      |  SELECT doc_id, string_split_regex(text, '\s+') AS tk FROM documents),
      |cs AS (SELECT count(*) AS n, round(avg(len(tk)), 6) AS avgdl FROM toks),
      |terms(term) AS (SELECT unnest(['filter', 'join', 'merge', 'scan', 'spark'])),
      |tf AS (
      |  SELECT t.term, k.doc_id, len(k.tk) AS dl,
      |    len(list_filter(k.tk, x -> x = t.term)) AS tf
      |  FROM toks k CROSS JOIN terms t),
      |df AS (
      |  SELECT term, CAST(count(*) FILTER (WHERE tf > 0) AS BIGINT) AS df
      |  FROM tf GROUP BY term),
      |sc AS (
      |  SELECT tf.term, tf.doc_id,
      |    round(ln((n - df + 0.5) / (df + 0.5) + 1) * (tf * 2.2)
      |      / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl)), 6) AS bm25,
      |    greatest(least(tf - 2, 3), 0) AS rel
      |  FROM tf JOIN df USING (term), cs),
      |ranked AS (
      |  SELECT term, doc_id, bm25, rel,
      |    row_number() OVER (PARTITION BY term
      |      ORDER BY bm25 DESC, doc_id) AS rnk
      |  FROM sc),
      |top10 AS (SELECT * FROM ranked WHERE rnk <= 10),
      |relhist AS (
      |  SELECT term,
      |    CAST(count(*) FILTER (WHERE rel > 0) AS BIGINT) AS n_rel,
      |    count(*) FILTER (WHERE rel = 3) AS c3,
      |    count(*) FILTER (WHERE rel = 2) AS c2,
      |    count(*) FILTER (WHERE rel = 1) AS c1
      |  FROM sc GROUP BY term),
      |dcg AS (
      |  SELECT term,
      |    CAST(sum(CAST(round(1000000000.0 * (pow(2, rel) - 1)
      |      / log2(rnk + 1)) AS BIGINT)) AS BIGINT) AS dcg9,
      |    min(CASE WHEN rel > 0 THEN rnk END) AS first_rel
      |  FROM top10 GROUP BY term),
      |idcg AS (
      |  SELECT r.term,
      |    CAST(sum(CAST(round(1000000000.0 *
      |        (pow(2, CASE WHEN g.p <= r.c3 THEN 3
      |          WHEN g.p <= r.c3 + r.c2 THEN 2
      |          WHEN g.p <= r.c3 + r.c2 + r.c1 THEN 1 ELSE 0 END) - 1)
      |        / log2(g.p + 1)) AS BIGINT)) AS BIGINT) AS idcg9
      |  FROM relhist r, (SELECT unnest(range(1, 11)) AS p) g
      |  GROUP BY r.term)
      |SELECT r.term, r.n_rel,
      |  round(coalesce(CAST(1 AS DOUBLE) / d.first_rel, 0), 6) AS rr_at_10,
      |  round(CASE WHEN i.idcg9 = 0 THEN 0
      |    ELSE CAST(d.dcg9 AS DOUBLE) / i.idcg9 END, 6) AS ndcg_at_10
      |FROM relhist r
      |JOIN dcg d ON d.term = r.term
      |JOIN idcg i ON i.term = r.term
      |ORDER BY r.term""".stripMargin) { (s, d) =>
    val terms = Seq("filter", "join", "merge", "scan", "spark")
    val toks = Tables.documents(s, d)
      .select(col("doc_id"), split(col("text"), "\\s+").as("tk"))
    val statCols = Seq(
      count(lit(1)).as("n"),
      round(avg(size(col("tk"))), 6).as("avgdl")) ++
      terms.zipWithIndex.map { case (t, i) =>
        sum(when(array_contains(col("tk"), t), 1L).otherwise(0L)).as(s"df$i")
      }
    val stats = toks.agg(statCols.head, statCols.tail: _*)
    val tfDf = toks.select(
      col("doc_id") +: size(col("tk")).as("dl") +:
        terms.zipWithIndex.map { case (t, i) =>
          expr(s"size(filter(tk, x -> x = '$t'))").as(s"tf$i")
        }: _*)
    def bm(i: Int) = {
      val (tfc, dfc) = (col(s"tf$i"), col(s"df$i"))
      round(log((col("n") - dfc + 0.5) / (dfc + 0.5) + 1) * (tfc * 2.2) /
        (tfc + lit(1.2) * (lit(0.25) + lit(0.75) * col("dl") / col("avgdl"))), 6)
    }
    val sc = tfDf.crossJoin(broadcast(stats))
      .select(col("doc_id"), explode(array(terms.zipWithIndex.map { case (t, i) =>
        struct(lit(t).as("term"), bm(i).as("bm25"),
          greatest(least(col(s"tf$i") - 2, lit(3)), lit(0)).cast("int").as("rel"))
      }: _*)).as("e"))
      .select(col("e.term").as("term"), col("doc_id"),
        col("e.bm25").as("bm25"), col("e.rel").as("rel"))
    // top-10 per term: bounded map-side aggregate, (score desc, id asc)
    val topk = org.apache.spark.sql.GraftBridge.column(
      graft.functions.TopKNbrAgg(
        org.apache.spark.sql.GraftBridge.expression(col("bm25")),
        org.apache.spark.sql.GraftBridge.expression(col("doc_id")),
        10).toAggregateExpression())
    val top10 = sc.groupBy("term").agg(topk.as("nbrs"))
      .select(col("term"), posexplode(col("nbrs")).as(Seq("pos", "nbr")))
      .select(col("term"), (col("pos") + 1).cast("long").as("rnk"),
        col("nbr._2").as("doc_id"))
    val t10 = sc.join(broadcast(top10), Seq("term", "doc_id"))
    val dcg = t10.groupBy("term").agg(
      sum(expr("cast(round(1000000000.0D * (pow(2.0D, rel) - 1.0D)" +
        " / log2(rnk + 1)) as bigint)")).as("dcg9"),
      min(when(col("rel") > 0, col("rnk"))).as("first_rel"))
    val relhist = sc.groupBy("term").agg(
      sum(when(col("rel") > 0, 1L).otherwise(0L)).as("n_rel"),
      sum(when(col("rel") === 3, 1L).otherwise(0L)).as("c3"),
      sum(when(col("rel") === 2, 1L).otherwise(0L)).as("c2"),
      sum(when(col("rel") === 1, 1L).otherwise(0L)).as("c1"))
    relhist.join(dcg, "term")
      .withColumn("idcg9", expr(
        """aggregate(sequence(1, 10), 0L, (acc, p) -> acc +
          |  cast(round(1000000000.0D *
          |    (pow(2.0D, case when p <= c3 then 3
          |      when p <= c3 + c2 then 2
          |      when p <= c3 + c2 + c1 then 1 else 0 end) - 1.0D)
          |    / log2(p + 1)) as bigint))""".stripMargin))
      .select(col("term"), col("n_rel"),
        round(coalesce(lit(1.0) / col("first_rel"), lit(0.0)), 6).as("rr_at_10"),
        round(when(col("idcg9") === 0, lit(0.0))
          .otherwise(col("dcg9").cast("double") / col("idcg9")), 6).as("ndcg_at_10"))
      .orderBy("term")
  }

  val all: Seq[QueryDef] = Seq(q60, q61, q62, q63, q64, q65, q66, q67, q68,
    q69, q73, q76, q86, q87, q101, q103, q107, q116, q118, q119, q120,
    q123, q124, q126, q127, q129, q130, q136, q137, q146, q149, q150,
    q151, q152, q159, q160, q161, q188, q194, q201, q215, q219)
}
