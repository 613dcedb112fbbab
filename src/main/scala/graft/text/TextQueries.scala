package graft.text

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.{Lineage, Oracle, Query, QueryCatalog, ScratchCache, Tables}
import graft.apps.{InvertedIndex, WordCount}

/** Text-analysis surface over `documents` (SURVEY.md §2.3 "text
  * analysis" + the training-data-pipeline operators): word count,
  * inverted index, n-grams, token stats, language ID, quality scoring,
  * fingerprinting.
  *
  * All token work uses `\s+` splitting with empty tokens dropped —
  * the reference's tokenizer contract (`src/WordCounter.cpp:24-29`,
  * `stringstream >>`: punctuation retained, case-sensitive).
  *
  * Scale: every query here is a scan → per-row array work (codegen'd
  * higher-order functions, no UDFs) → single partial+final aggregation.
  * Nothing shuffles more than once; nothing collects to the driver.
  */
object TextQueries extends QueryCatalog {

  /** `\s+` tokens with empties dropped, as a SQL expression over `text`.
    *
    * r21: the native [[graft.functions.WsTokens]] expression (registered
    * by GraftFunctions / Tables.table) — byte-identical to the previous
    * `filter(split(text, '\\\\s+'), t -> t != '')` (pinned by
    * TextOpsSpec) but whole-stage-codegen'd: no per-row regex
    * recompilation in `split`, no CodegenFallback HOF `filter`, no
    * intermediate array with empty tokens. This is the hottest scalar
    * in the catalog (~66 call sites across text/dedup/ingest/graph). */
  private[graft] val toksExpr = "ws_tokens(text)"
  /** DuckDB twin of [[toksExpr]]. */
  private[graft] val toksSql = raw"list_filter(regexp_split_to_array(text, '\s+'), t -> t <> '')"

  // ---------------------------------------------------------------- q30
  /** Reference app 1 (WordCount) over documents.text. */
  private def q30(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    WordCount.counts(Tables.documents(s, dir).select($"text".as("value")).as[String])
  }
  private val q30Sql =
    s"""SELECT word, count(*) AS cnt
       |FROM (SELECT unnest($toksSql) AS word FROM documents)
       |GROUP BY word
       |ORDER BY word""".stripMargin

  // ---------------------------------------------------------------- q31
  /** Reference app 2 (InvertedIndex): word → lexicographically sorted
    * distinct positions (doc_ids) AS STRINGS — preserving the
    * reference's "10" < "2" ordering quirk (src/InvertedIndex.cpp:35).
    * Catalog output serializes the positions array with array_join so
    * the driver harness can sort+hash it; the library API
    * ([[InvertedIndex.index]]) keeps the typed array. */
  private def q31(s: SparkSession, dir: String): DataFrame =
    InvertedIndex.index(Tables.documents(s, dir), "doc_id", "text")
      .select(col("word"), array_join(col("positions"), " ").as("positions"))
  private val q31Sql =
    s"""SELECT word, array_to_string(list(DISTINCT pos ORDER BY pos), ' ') AS positions
       |FROM (SELECT CAST(doc_id AS VARCHAR) AS pos, unnest($toksSql) AS word FROM documents)
       |GROUP BY word
       |ORDER BY word""".stripMargin

  // ---------------------------------------------------------------- q32
  /** Word 3-gram counts. Spark arrays are 0-indexed, DuckDB 1-indexed —
    * both sides enumerate i over the n-2 window starts. */
  private def q32(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, dir)
      .select(expr(toksExpr).as("toks"))
      .filter(size($"toks") >= 3)
      .select(explode(expr(
        "word_ngrams(toks, 3)")).as("ngram"))
      .groupBy($"ngram")
      .agg(count(lit(1)).as("cnt"))
      .orderBy($"ngram")
  }
  private val q32Sql =
    s"""SELECT ngram, count(*) AS cnt
       |FROM (
       |  SELECT unnest(list_transform(generate_series(1, len(toks)-2),
       |                i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2]))) AS ngram
       |  FROM (SELECT $toksSql AS toks FROM documents)
       |  WHERE len(toks) >= 3
       |)
       |GROUP BY ngram
       |ORDER BY ngram""".stripMargin

  // ---------------------------------------------------------------- q33
  /** Per-document token statistics (exact integer arithmetic + one
    * final double division → engine-agnostic). */
  private def q33(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, dir)
      .select($"doc_id", expr(toksExpr).as("toks"), length($"text").as("chars"))
      .select($"doc_id",
        $"chars".cast("long").as("n_chars"),
        size($"toks").cast("long").as("n_tokens"),
        size(array_distinct($"toks")).cast("long").as("n_distinct"),
        expr("aggregate(toks, 0, (a, t) -> a + length(t))").cast("long").as("token_chars"))
      .withColumn("avg_token_len", round($"token_chars".cast("double") / $"n_tokens", 4))
      .withColumn("type_token_ratio", round($"n_distinct".cast("double") / $"n_tokens", 4))
      .orderBy($"doc_id")
  }
  private val q33Sql =
    s"""SELECT doc_id,
       |  CAST(length(text) AS BIGINT) AS n_chars,
       |  CAST(len(toks) AS BIGINT) AS n_tokens,
       |  CAST(len(list_distinct(toks)) AS BIGINT) AS n_distinct,
       |  CAST(list_sum(list_transform(toks, t -> length(t))) AS BIGINT) AS token_chars,
       |  round(CAST(list_sum(list_transform(toks, t -> length(t))) AS DOUBLE) / len(toks), 4) AS avg_token_len,
       |  round(CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks), 4) AS type_token_ratio
       |FROM (SELECT doc_id, text, $toksSql AS toks FROM documents)
       |ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- q34
  /** Heuristic language ID: stopword-hit counts per language with a
    * fixed-precedence argmax (deterministic tiebreak en>de>es>fr). */
  private[text] val stop = Map(
    "en" -> Seq("the", "is", "a", "of", "and"),
    "de" -> Seq("der", "die", "das", "und", "ist"),
    "es" -> Seq("el", "los", "las", "y", "es"),
    "fr" -> Seq("le", "les", "et", "est", "une"))
  private def hitsExpr(words: Seq[String]) =
    s"size(filter(toks, t -> t IN (${words.map(w => s"'$w'").mkString(",")})))"
  private def hitsSql(words: Seq[String]) =
    s"CAST(len(list_filter(toks, t -> t IN (${words.map(w => s"'$w'").mkString(",")}))) AS BIGINT)"

  private def q34(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, dir)
      .select($"doc_id", $"lang".as("labeled_lang"), expr(toksExpr).as("toks"))
      .select($"doc_id", $"labeled_lang",
        expr(hitsExpr(stop("en"))).cast("long").as("s_en"),
        expr(hitsExpr(stop("de"))).cast("long").as("s_de"),
        expr(hitsExpr(stop("es"))).cast("long").as("s_es"),
        expr(hitsExpr(stop("fr"))).cast("long").as("s_fr"))
      .withColumn("predicted_lang",
        when($"s_en" >= $"s_de" && $"s_en" >= $"s_es" && $"s_en" >= $"s_fr", "en")
          .when($"s_de" >= $"s_es" && $"s_de" >= $"s_fr", "de")
          .when($"s_es" >= $"s_fr", "es")
          .otherwise("fr"))
      .orderBy($"doc_id")
  }
  private val q34Sql =
    s"""SELECT doc_id, labeled_lang, s_en, s_de, s_es, s_fr,
       |  CASE WHEN s_en >= s_de AND s_en >= s_es AND s_en >= s_fr THEN 'en'
       |       WHEN s_de >= s_es AND s_de >= s_fr THEN 'de'
       |       WHEN s_es >= s_fr THEN 'es'
       |       ELSE 'fr' END AS predicted_lang
       |FROM (
       |  SELECT doc_id, lang AS labeled_lang,
       |    ${hitsSql(stop("en"))} AS s_en,
       |    ${hitsSql(stop("de"))} AS s_de,
       |    ${hitsSql(stop("es"))} AS s_es,
       |    ${hitsSql(stop("fr"))} AS s_fr
       |  FROM (SELECT doc_id, lang, $toksSql AS toks FROM documents)
       |)
       |ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- q122
  /** Language-ID confusion matrix — the EVALUATION view of q34: for
    * every (labeled, predicted) language pair, the document count and
    * its share of the labeled language's row in exact ppm. This is how
    * a pipeline decides whether the cheap heuristic is good enough per
    * language before trusting q83/q105/q110's per-lang gates — the
    * diagonal is per-language recall; off-diagonal mass says which
    * languages leak into which.
    *
    * Scale shape: q34's map-side scoring (codegen'd stopword filters,
    * no shuffle) followed by one |langs|² aggregate and a broadcast
    * row-total join — output is config-scale however big the corpus. */
  private def q122(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val pred = Tables.documents(s, dir)
      .select($"lang".as("labeled_lang"), expr(toksExpr).as("toks"))
      .select($"labeled_lang",
        expr(hitsExpr(stop("en"))).cast("long").as("s_en"),
        expr(hitsExpr(stop("de"))).cast("long").as("s_de"),
        expr(hitsExpr(stop("es"))).cast("long").as("s_es"),
        expr(hitsExpr(stop("fr"))).cast("long").as("s_fr"))
      .withColumn("predicted_lang",
        when($"s_en" >= $"s_de" && $"s_en" >= $"s_es" && $"s_en" >= $"s_fr", "en")
          .when($"s_de" >= $"s_es" && $"s_de" >= $"s_fr", "de")
          .when($"s_es" >= $"s_fr", "es")
          .otherwise("fr"))
    val cells = pred.groupBy($"labeled_lang", $"predicted_lang")
      .agg(count(lit(1)).as("n_docs"))
    val rows = cells.groupBy($"labeled_lang").agg(sum($"n_docs").as("row_total"))
    cells.join(broadcast(rows), "labeled_lang")
      .withColumn("share_ppm", expr("(n_docs * 1000000) DIV row_total"))
      .select($"labeled_lang", $"predicted_lang", $"n_docs", $"share_ppm")
      .orderBy($"labeled_lang", $"predicted_lang")
  }
  private val q122Sql =
    s"""WITH pred AS (
       |  SELECT labeled_lang,
       |    CASE WHEN s_en >= s_de AND s_en >= s_es AND s_en >= s_fr THEN 'en'
       |         WHEN s_de >= s_es AND s_de >= s_fr THEN 'de'
       |         WHEN s_es >= s_fr THEN 'es'
       |         ELSE 'fr' END AS predicted_lang
       |  FROM (
       |    SELECT lang AS labeled_lang,
       |      ${hitsSql(stop("en"))} AS s_en,
       |      ${hitsSql(stop("de"))} AS s_de,
       |      ${hitsSql(stop("es"))} AS s_es,
       |      ${hitsSql(stop("fr"))} AS s_fr
       |    FROM (SELECT lang, $toksSql AS toks FROM documents)
       |  )
       |),
       |cells AS (
       |  SELECT labeled_lang, predicted_lang, count(*) AS n_docs
       |  FROM pred GROUP BY 1, 2
       |),
       |rows_ AS (SELECT labeled_lang, CAST(sum(n_docs) AS BIGINT) AS row_total FROM cells GROUP BY 1)
       |SELECT labeled_lang, predicted_lang, n_docs,
       |  CAST((n_docs * 1000000) // row_total AS BIGINT) AS share_ppm
       |FROM cells JOIN rows_ USING (labeled_lang)
       |ORDER BY labeled_lang, predicted_lang""".stripMargin

  // ---------------------------------------------------------------- q35
  /** Quality scoring: length / punctuation / stopword signals combined
    * into one bounded score (all inputs exact ints; one double op per
    * signal). */
  private def q35(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val allStop = stop.values.flatten.toSeq.distinct.sorted
    Tables.documents(s, dir)
      .select($"doc_id", $"text", expr(toksExpr).as("toks"))
      .select($"doc_id",
        length($"text").cast("long").as("n_chars"),
        size($"toks").cast("long").as("n_tokens"),
        (length($"text") - length(regexp_replace($"text", "[^a-z0-9 ]", ""))).cast("long").as("punct_chars"),
        expr(hitsExpr(allStop)).cast("long").as("stop_hits"))
      .withColumn("punct_ratio", round($"punct_chars".cast("double") / $"n_chars", 4))
      .withColumn("stop_ratio", round($"stop_hits".cast("double") / $"n_tokens", 4))
      .withColumn("len_score", round(least($"n_tokens".cast("double") / 50.0, lit(1.0)), 4))
      .withColumn("quality_score",
        round(($"len_score" * 0.5 + (lit(1.0) - $"punct_ratio") * 0.3 + $"stop_ratio" * 0.2), 4))
      .orderBy($"doc_id")
  }
  private val q35Sql = {
    val allStop = stop.values.flatten.toSeq.distinct.sorted
    s"""SELECT doc_id, n_chars, n_tokens, punct_chars, stop_hits,
       |  punct_ratio, stop_ratio, len_score,
       |  round(len_score * 0.5 + (1.0 - punct_ratio) * 0.3 + stop_ratio * 0.2, 4) AS quality_score
       |FROM (
       |  SELECT doc_id, n_chars, n_tokens, punct_chars, stop_hits,
       |    round(CAST(punct_chars AS DOUBLE) / n_chars, 4) AS punct_ratio,
       |    round(CAST(stop_hits AS DOUBLE) / n_tokens, 4) AS stop_ratio,
       |    round(least(CAST(n_tokens AS DOUBLE) / 50.0, 1.0), 4) AS len_score
       |  FROM (
       |    SELECT doc_id,
       |      CAST(length(text) AS BIGINT) AS n_chars,
       |      CAST(len(toks) AS BIGINT) AS n_tokens,
       |      CAST(length(text) - length(regexp_replace(text, '[^a-z0-9 ]', '', 'g')) AS BIGINT) AS punct_chars,
       |      ${hitsSql(allStop)} AS stop_hits
       |    FROM (SELECT doc_id, text, $toksSql AS toks FROM documents)
       |  )
       |)
       |ORDER BY doc_id""".stripMargin
  }

  // ---------------------------------------------------------------- q36
  /** Document fingerprinting: full-content md5 + min-hash over word
    * 3-gram shingles (the winnowing-style representative hash). md5 is
    * bit-identical across engines, so fingerprints are portable. */
  private def q36(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, dir)
      .select($"doc_id", $"text", expr(toksExpr).as("toks"))
      .select($"doc_id",
        md5($"text").as("content_md5"),
        // Guard the <3-token case explicitly: Spark's sequence(0, n-3)
        // DESCENDS for n<3 (e.g. [0,-1]) and nulls silently vanish in
        // concat_ws, producing a bogus real fingerprint — while DuckDB's
        // generate_series(1, n-2) is empty and falls back. Matching the
        // guard in DedupQueries.withShingles keeps both engines on
        // md5(text) for short docs.
        when(size($"toks") >= 3,
          expr("array_min(transform(word_ngrams(toks, 3), g -> md5(g)))"))
          .otherwise(md5($"text")).as("shingle_fingerprint"))
      .orderBy($"doc_id")
  }
  private val q36Sql =
    s"""SELECT doc_id,
       |  md5(text) AS content_md5,
       |  coalesce(
       |    list_min(list_transform(generate_series(1, len(toks)-2),
       |             i -> md5(concat_ws(' ', toks[i], toks[i+1], toks[i+2])))),
       |    md5(text)) AS shingle_fingerprint
       |FROM (SELECT doc_id, text, $toksSql AS toks FROM documents)
       |ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- q37
  /** The MapReduce facade end-to-end (SURVEY.md §7.3): WordCount run
    * through runFold — (key, values-list) output like the reference's
    * emit(k2, v3_list). */
  private def q37(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    WordCount.viaFacade(Tables.documents(s, dir).select($"text".as("value")).as[String])
      .toDF("key", "values")
      .select($"key", array_join($"values", " ").as("values"))
  }
  private val q37Sql =
    s"""SELECT word AS key, CAST(count(*) AS VARCHAR) AS "values"
       |FROM (SELECT unnest($toksSql) AS word FROM documents)
       |GROUP BY word
       |ORDER BY key""".stripMargin

  // ---------------------------------------------------------------- q56
  /** BPE-style pre-tokenization (the GPT-2 pre-tokenizer shape, minus
    * lookahead — RE2 has none): runs of letters / digits / other, each
    * with an optional leading space, via regexp_extract_all. Token
    * counting for training-data budgeting: per-doc counts + a sample
    * of the first tokens. */
  private def q56(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, dir)
      .select($"doc_id",
        expr(raw"regexp_extract_all(text, ' ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9\\s]+', 0)").as("bpe"))
      .select($"doc_id",
        size($"bpe").cast("long").as("n_bpe_tokens"),
        size(array_distinct($"bpe")).cast("long").as("n_distinct_tokens"),
        array_join(slice($"bpe", 1, 5), "|").as("first_tokens"))
      .orderBy($"doc_id")
  }
  private val q56Sql =
    raw"""SELECT doc_id,
         |  CAST(len(bpe) AS BIGINT) AS n_bpe_tokens,
         |  CAST(len(list_distinct(bpe)) AS BIGINT) AS n_distinct_tokens,
         |  array_to_string(bpe[1:5], '|') AS first_tokens
         |FROM (SELECT doc_id, regexp_extract_all(text, ' ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9\s]+') AS bpe
         |      FROM documents)
         |ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- q67
  /** Document chunking for training: token windows of 32 with stride 24
    * (8-token overlap) — the split-long-docs-into-examples op every LLM
    * data pipeline runs. Linear: one explode per chunk, no shuffle
    * until the output sort. */
  private def q67(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, dir)
      .select($"doc_id", expr(toksExpr).as("toks"))
      .filter(size($"toks") > 0)
      .select($"doc_id", size($"toks").as("n_toks"),
        posexplode(expr(
          "transform(sequence(0, size(toks) - 1, 24), s -> concat_ws(' ', slice(toks, s + 1, 32)))"))
          .as(Seq("chunk_no", "chunk_text")))
      .select($"doc_id", $"chunk_no",
        least(lit(32), $"n_toks" - $"chunk_no" * 24).cast("long").as("n_chunk_tokens"),
        $"chunk_text")
      .orderBy($"doc_id", $"chunk_no")
  }
  private val q67Sql =
    s"""SELECT doc_id, CAST(s // 24 AS INT) AS chunk_no,
       |  CAST(least(32, len(toks) - s) AS BIGINT) AS n_chunk_tokens,
       |  array_to_string(toks[s + 1 : least(s + 32, len(toks))], ' ') AS chunk_text
       |FROM (
       |  SELECT doc_id, toks, unnest(generate_series(0, len(toks) - 1, 24)) AS s
       |  FROM (SELECT doc_id, $toksSql AS toks FROM documents)
       |  WHERE len(toks) > 0
       |)
       |ORDER BY doc_id, chunk_no""".stripMargin

  // ---------------------------------------------------------------- q68
  /** TF-IDF with top-3 terms per document. Shape: explode → (doc,term)
    * count (one shuffle), term document-frequency from that aggregate
    * (second, |vocab|-sized shuffle), BROADCAST join back on term,
    * per-doc window top-k. The corpus-size scalar travels via a
    * broadcast cross join. tf·ln(N/df) is a single double multiply of
    * exact ints — bit identical cross-engine.
    *
    * Skew note: `term` is a natural hot key — every doc contains "the",
    * so a shuffle join tf⋈df would pile all (doc,"the") rows onto one
    * reducer at 100×. Broadcasting df sidesteps that entirely: df is an
    * AGGREGATE (one row per distinct term, no payload), orders of
    * magnitude smaller than tf. For a corpus whose distinct-term count
    * outgrows the driver, drop the hint and rely on AQE skew-join
    * splitting instead — the hot key is on the probe side with a
    * 1-row build side, the case AQE splits cleanly. */
  private def q68(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = Tables.documents(s, dir)
    val tf = docs.select($"doc_id", explode(expr(toksExpr)).as("term"))
      .groupBy($"doc_id", $"term").agg(count(lit(1)).as("tf"))
    val df = tf.groupBy($"term").agg(count(lit(1)).as("df"))
    val n = docs.agg(count(lit(1)).as("n"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"doc_id").orderBy($"tfidf".desc, $"term")
    tf.join(broadcast(df), "term")
      .crossJoin(broadcast(n))
      .withColumn("tfidf", round($"tf" * log($"n".cast("double") / $"df"), 6))
      .withColumn("rn", row_number().over(w))
      .filter($"rn" <= 3)
      .select($"doc_id", $"rn", $"term", $"tf", $"df", $"tfidf")
      .orderBy($"doc_id", $"rn")
  }
  private val q68Sql =
    s"""WITH tf AS (
       |  SELECT doc_id, t AS term, count(*) AS tf
       |  FROM (SELECT doc_id, unnest($toksSql) AS t FROM documents)
       |  GROUP BY 1, 2
       |), df AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
       |n AS (SELECT count(*) AS n FROM documents)
       |SELECT doc_id, rn, term, tf, df, tfidf FROM (
       |  SELECT tf.doc_id, tf.term, tf.tf, df.df,
       |    round(tf.tf * ln(CAST(n.n AS DOUBLE) / df.df), 6) AS tfidf,
       |    row_number() OVER (PARTITION BY tf.doc_id
       |      ORDER BY round(tf.tf * ln(CAST(n.n AS DOUBLE) / df.df), 6) DESC, tf.term) AS rn
       |  FROM tf JOIN df USING (term) CROSS JOIN n
       |)
       |WHERE rn <= 3
       |ORDER BY doc_id, rn""".stripMargin

  // ---------------------------------------------------------------- q69
  /** Deterministic hash-based sampling (~12.5%): reproducible at any
    * scale and partitioning, unlike rand()-based sampling — the
    * only correct way to sample 100 TB and get the same subset twice. */
  private def q69(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, dir)
      .filter(substring(md5(concat(lit("sample|"), $"doc_id".cast("string"))), 1, 1).isin("0", "1"))
      .select($"doc_id", $"lang", $"source")
      .orderBy($"doc_id")
  }
  private val q69Sql =
    """SELECT doc_id, lang, source
      |FROM documents
      |WHERE substring(md5(concat('sample|', CAST(doc_id AS VARCHAR))), 1, 1) IN ('0', '1')
      |ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- q76
  /** Stratified deterministic sampling: exactly N docs per stratum
    * (lang), ranked by a content-independent md5 of the doc id — the
    * balanced-eval-set builder next to q69's proportional hash sample.
    * Reproducible at any scale and partitioning (no rand()). Scale
    * shape: the rank-≤-N filter triggers Spark's WindowGroupLimit, so
    * each input partition forwards at most N rows per stratum BEFORE
    * the shuffle — a giant stratum never lands whole on one reducer
    * (pinned in PlanShapeSpec). */
  private def q76(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"lang")
      .orderBy(md5(concat(lit("strat|"), $"doc_id".cast("string"))), $"doc_id")
    Tables.documents(s, dir)
      .withColumn("rk", row_number().over(w).cast("long"))
      .filter($"rk" <= 20)
      .select($"doc_id", $"lang", $"rk")
      .orderBy($"lang", $"rk")
  }
  private val q76Sql =
    """SELECT doc_id, lang, rk FROM (
      |  SELECT doc_id, lang,
      |    CAST(row_number() OVER (PARTITION BY lang
      |      ORDER BY md5(concat('strat|', CAST(doc_id AS VARCHAR))), doc_id) AS BIGINT) AS rk
      |  FROM documents
      |)
      |WHERE rk <= 20
      |ORDER BY lang, rk""".stripMargin

  // ---------------------------------------------------------------- q79
  /** PII redaction — the scrub-before-training op. Patterns are kept
    * inside the common subset of Java regex (Spark) and RE2 (DuckDB)
    * so both engines produce byte-identical redactions; Spark's
    * regexp_replace is replace-ALL, DuckDB needs the 'g' flag. The
    * synthetic corpus contains no PII (every changed=false), so the
    * behavioral evidence lives in PiiRedactSpec's fixture strings;
    * this entry pins the cross-engine regex semantics and the linear
    * scan shape. Package-private pieces reused by the spec. */
  private[text] val emailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  private[text] val ipRe = "\\b([0-9]{1,3}\\.){3}[0-9]{1,3}\\b"
  private[text] val phoneRe = "\\b[0-9]{3}[-.][0-9]{3}[-.][0-9]{4}\\b"
  private[text] def redactCol(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    regexp_replace(regexp_replace(regexp_replace(c,
      emailRe, "[EMAIL]"), ipRe, "[IP]"), phoneRe, "[PHONE]")
  private def q79(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, dir)
      .select($"doc_id", redactCol($"text").as("clean"))
      .select($"doc_id", md5($"clean").as("clean_md5"),
        length($"clean").cast("long").as("clean_len"))
      .orderBy($"doc_id")
  }
  private val q79Sql =
    s"""SELECT doc_id, md5(clean) AS clean_md5, CAST(length(clean) AS BIGINT) AS clean_len
       |FROM (
       |  SELECT doc_id,
       |    regexp_replace(regexp_replace(regexp_replace(text,
       |      '$emailRe', '[EMAIL]', 'g'), '$ipRe', '[IP]', 'g'), '$phoneRe', '[PHONE]', 'g') AS clean
       |  FROM documents
       |)
       |ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- q80
  /** Sequence packing (concat-and-split): the op that turns variable-
    * length chunks into fixed-token training sequences. Chunks are
    * sharded by doc_id; within a shard the packing is a prefix sum
    * (one window), across shards it's embarrassingly parallel — the
    * layout real pipelines use, since global sequential packing would
    * serialize 100 TB through one window.
    *
    * The shard count is DERIVED FROM CORPUS SIZE: n_shards =
    * ceil(total_chunk_tokens / [[TargetShardTokens]]), computed by a
    * one-row aggregate (broadcast in Spark, scalar CTE in DuckDB). A
    * fixed constant would pin per-shard width to corpus/K — at 100 TB
    * each of K windows serializes corpus/K tokens; deriving K from the
    * total keeps per-shard work ≈ TargetShardTokens no matter how the
    * corpus grows (doubling the corpus doubles the shards, pinned by
    * ShardScalingSpec). Within each shard, chunks are laid end to end
    * in (doc_id, chunk_no) order and split every `budget` tokens:
    * bin = floor(exclusive-prefix-sum / budget). */

  /** Per-shard token target. At 100 TB tune this to the token volume
    * one task should sort/prefix-sum (tens of millions); here it is
    * small enough that even sf0.01 exercises the multi-shard path. */
  private[text] val TargetShardTokens = 8192L

  /** q80's body over an arbitrary documents-shaped frame, with the
    * shard-width target exposed for ShardScalingSpec. */
  private[text] def packChunksOf(docs: DataFrame,
                                 targetShardTokens: Long = TargetShardTokens): DataFrame = {
    val budget = 2048
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("shard")).orderBy(col("doc_id"), col("chunk_no"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    val chunks = graft.core.ScratchCache.persist(docs
      .select(col("doc_id"), expr(toksExpr).as("toks"))
      .filter(size(col("toks")) > 0)
      .select(col("doc_id"),
        posexplode(expr(
          "transform(sequence(0, size(toks) - 1, 24), s -> least(32, size(toks) - s))"))
          .as(Seq("chunk_no", "n_chunk_tokens"))))
    val shardCount = chunks
      .agg(greatest(lit(1L),
        ceil(sum(col("n_chunk_tokens")).cast("double") / lit(targetShardTokens.toDouble)))
        .as("n_shards"))
    chunks.crossJoin(broadcast(shardCount))
      .withColumn("shard", col("doc_id") % col("n_shards"))
      .withColumn("offset", coalesce(sum(col("n_chunk_tokens")).over(w), lit(0)).cast("long"))
      .withColumn("bin", floor(col("offset") / budget).cast("long"))
      .select(col("doc_id"), col("chunk_no"), col("shard"),
        col("n_chunk_tokens").cast("long").as("n_chunk_tokens"),
        col("offset"), col("bin"))
  }

  private def q80(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    packChunksOf(Tables.documents(s, dir)).orderBy($"doc_id", $"chunk_no")
  }
  private val q80Sql =
    s"""WITH chunks AS (
       |  SELECT doc_id, CAST(s // 24 AS INT) AS chunk_no,
       |    CAST(least(32, len(toks) - s) AS BIGINT) AS n_chunk_tokens
       |  FROM (
       |    SELECT doc_id, toks, unnest(generate_series(0, len(toks) - 1, 24)) AS s
       |    FROM (SELECT doc_id, $toksSql AS toks FROM documents)
       |    WHERE len(toks) > 0
       |  )
       |),
       |tot AS (
       |  SELECT greatest(1, CAST(ceil(sum(n_chunk_tokens) / $TargetShardTokens.0) AS BIGINT)) AS n_shards
       |  FROM chunks
       |),
       |sharded AS (SELECT c.*, c.doc_id % t.n_shards AS shard FROM chunks c, tot t)
       |SELECT doc_id, chunk_no, shard, n_chunk_tokens,
       |  CAST(coalesce(sum(n_chunk_tokens) OVER (PARTITION BY shard
       |    ORDER BY doc_id, chunk_no ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS "offset",
       |  CAST(floor(coalesce(sum(n_chunk_tokens) OVER (PARTITION BY shard
       |    ORDER BY doc_id, chunk_no ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) / 2048) AS BIGINT) AS bin
       |FROM sharded
       |ORDER BY doc_id, chunk_no""".stripMargin

  // ---------------------------------------------------------------- q83
  /** Mixture (weighted) sampling — the data-recipe step: downweight the
    * dominant language, keep the rare ones whole (en 25%, de/fr/es 50%,
    * zh 100%). Deterministic per doc: the first byte of
    * md5("mix|"||doc_id) is compared against the stratum's threshold
    * out of 256, so the same mixture reproduces at any scale and
    * partitioning (rand() cannot). The hex→int parse uses the same
    * instr() idiom both engines share bit-for-bit. Linear scan, no
    * shuffle until the output sort. */
  private val mixHashExpr =
    "(instr('0123456789abcdef', substr(md5(concat('mix|', CAST(doc_id AS STRING))), 1, 1)) - 1) * 16 + " +
      "(instr('0123456789abcdef', substr(md5(concat('mix|', CAST(doc_id AS STRING))), 2, 1)) - 1)"
  private def q83(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, dir)
      .withColumn("hv", expr(mixHashExpr).cast("long"))
      .withColumn("thr",
        when($"lang" === "en", 64L)
          .when($"lang".isin("de", "fr", "es"), 128L)
          .otherwise(256L))
      .filter($"hv" < $"thr")
      .select($"doc_id", $"lang", $"source", $"hv")
      .orderBy($"doc_id")
  }
  private val q83Sql =
    s"""SELECT doc_id, lang, source, hv
       |FROM (
       |  SELECT doc_id, lang, source,
       |    CAST($mixHashExpr AS BIGINT) AS hv,
       |    CASE WHEN lang = 'en' THEN 64
       |         WHEN lang IN ('de', 'fr', 'es') THEN 128
       |         ELSE 256 END AS thr
       |  FROM documents
       |)
       |WHERE hv < thr
       |ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- q193
  /** Epoch/repeat-factor PLAN — the forward-looking data recipe q89's
    * mixture report only describes after the fact: given a training
    * token budget of [[EpochBudgetMultiplier]]× the corpus, each
    * source's target share follows TEMPERATURE sampling at τ = 2
    * (share ∝ √tokens — the multilingual rebalancing recipe of
    * Arivazhagan et al. 2019 / mT5, which lifts small sources without
    * letting the head dominate), and the per-source repeat factor is
    * capped at [[MaxEpochsX1000]]/1000 epochs (past ~4 repeats,
    * memorization outpaces the value of re-seeing the data — the
    * Muennighoff et al. 2023 data-constrained scaling observation).
    * A capped source reports its SHORTFALL, the token mass the recipe
    * wanted from it but the cap refused — the number that tells a data
    * team where to go collect more.
    *
    * Everything is exact integers: √n_toks is quantized to integer
    * millis BEFORE summing (q183's discipline — float Σ is
    * order-dependent; int64→double cast + sqrt + ×1000 + floor are
    * IEEE-identical in Spark and DuckDB), and the budget×weight
    * product runs in DECIMAL(38,0) (HUGEINT in the oracle) because at
    * 100 TB corpus_toks·w_millis overflows int64 — the quotient is
    * back under int64 so DIV stays exact (q163's cross-multiply
    * discipline).
    *
    * Scale shape: one map-side token-count scan, ONE source exchange
    * with O(1) aggregate state, a broadcast 1-row corpus total, then
    * |sources|-row arithmetic. */
  private[text] val MaxEpochsX1000 = 4000L
  private[text] val EpochBudgetMultiplier = 2L

  /** q193's plan over a pre-aggregated (source, n_docs, n_toks) frame
    * — exposed so EpochPlanSpec can feed planted counts, including
    * 100 TB-scale values that would overflow an int64 product. */
  private[text] def epochPlanOfCounts(counts: DataFrame): DataFrame = {
    val weighted = counts
      .filter(col("n_toks") >= 1L)
      .withColumn("w_millis",
        expr("CAST(floor(sqrt(CAST(n_toks AS DOUBLE)) * 1000) AS BIGINT)"))
    val tot = weighted.agg(
      sum(col("n_toks")).cast("long").as("corpus_toks"),
      sum(col("w_millis")).cast("long").as("w_total"))
    weighted.crossJoin(broadcast(tot))
      .withColumn("target_toks", expr(
        s"CAST(CAST(corpus_toks AS DECIMAL(38,0)) * $EpochBudgetMultiplier * w_millis DIV w_total AS BIGINT)"))
      .withColumn("epochs_raw_x1000", expr("target_toks * 1000 DIV n_toks"))
      .withColumn("epochs_x1000", least(col("epochs_raw_x1000"), lit(MaxEpochsX1000)))
      .withColumn("planned_toks", expr("n_toks * epochs_x1000 DIV 1000"))
      .withColumn("capped",
        when(col("epochs_raw_x1000") > MaxEpochsX1000, 1L).otherwise(0L))
      .withColumn("shortfall_toks", greatest(lit(0L), expr("target_toks - planned_toks")))
      .select(col("source"), col("n_docs"), col("n_toks"), col("w_millis"),
        col("target_toks"), col("epochs_x1000"), col("planned_toks"),
        col("capped"), col("shortfall_toks"))
  }

  private def q193(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val counts = Tables.documents(s, dir)
      .select($"source", size(expr(toksExpr)).cast("long").as("toks"))
      .groupBy($"source")
      .agg(count(lit(1)).as("n_docs"), sum($"toks").as("n_toks"))
    epochPlanOfCounts(counts).orderBy($"source")
  }
  private val q193Sql =
    s"""WITH c AS (
       |  SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
       |    CAST(sum(len($toksSql)) AS BIGINT) AS n_toks
       |  FROM documents GROUP BY source
       |),
       |w AS (
       |  SELECT source, n_docs, n_toks,
       |    CAST(floor(sqrt(CAST(n_toks AS DOUBLE)) * 1000) AS BIGINT) AS w_millis
       |  FROM c WHERE n_toks >= 1
       |),
       |t AS (
       |  SELECT CAST(sum(n_toks) AS BIGINT) AS corpus_toks,
       |    CAST(sum(w_millis) AS BIGINT) AS w_total
       |  FROM w
       |),
       |p AS (
       |  SELECT source, n_docs, n_toks, w_millis,
       |    CAST(CAST(corpus_toks AS HUGEINT) * $EpochBudgetMultiplier * w_millis // w_total AS BIGINT) AS target_toks
       |  FROM w, t
       |),
       |e AS (
       |  SELECT p.*, target_toks * 1000 // n_toks AS epochs_raw_x1000,
       |    least(target_toks * 1000 // n_toks, $MaxEpochsX1000) AS epochs_x1000
       |  FROM p
       |)
       |SELECT source, n_docs, n_toks, w_millis, target_toks,
       |  CAST(epochs_x1000 AS BIGINT) AS epochs_x1000,
       |  CAST(n_toks * epochs_x1000 // 1000 AS BIGINT) AS planned_toks,
       |  CAST(CASE WHEN epochs_raw_x1000 > $MaxEpochsX1000 THEN 1 ELSE 0 END AS BIGINT) AS capped,
       |  CAST(greatest(0, target_toks - n_toks * epochs_x1000 // 1000) AS BIGINT) AS shortfall_toks
       |FROM e ORDER BY source""".stripMargin

  // ---------------------------------------------------------------- q198
  /** RELATED-document packing (in-context pretraining, Shi et al.
    * 2023): q80 packs chunks into fixed-token training sequences in
    * arbitrary shard order; this packs WHOLE documents so that each
    * training context holds documents from the SAME registered domain
    * — the coherence signal the ICP recipe trains on (a context of
    * related pages beats a context of random ones). Domain comes from
    * q129's URL canonicalization chain; within a domain, docs are laid
    * end to end in doc_id order and split every [[RelatedCtxBudget]]
    * tokens.
    *
    * Scale: a window partition is one (domain, subshard) — and the
    * subshard count is DERIVED from the domain's token mass (q80's
    * discipline: n_sub = ceil(domain_toks / [[TargetShardTokens]])),
    * so a megadomain never serializes through one window; its
    * subshards still hold only that domain's pages, preserving the
    * coherence contract. One exchange for domain totals, one window
    * pass — no corpus-wide ordering anywhere. */
  /** Context budget and per-subshard token target, scaled to the
    * fixture corpus the way q80's chunk constants are (production
    * values: 2048-token contexts, tens-of-millions-token subshards —
    * the arithmetic is identical, only the literals change). */
  private[text] val RelatedCtxBudget = 64L
  private[text] val RelatedSubTarget = 256L

  /** 16-bit uniform from md5("rsub|"||doc_id) (q123's idiom) — the
    * subshard key MUST be hash-derived: the synthesized domains hold
    * ids congruent mod 14, so `doc_id % n_sub` would put every page
    * of a domain in ONE subshard and silently re-serialize the
    * megadomain the subsharding exists to split. */
  private[text] val relatedSubHashExpr = {
    val h = "md5(concat('rsub|', CAST(doc_id AS STRING)))"
    (1 to 4).map(i => s"(instr('0123456789abcdef', substr($h, $i, 1)) - 1)")
      .reduceLeft((acc, d) => s"($acc * 16 + $d)")
  }

  private[text] def relatedPackingOf(docsWithDomain: DataFrame,
                                     ctxBudget: Long = RelatedCtxBudget,
                                     subTarget: Long = RelatedSubTarget): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byDom = docsWithDomain.groupBy(col("domain"))
      .agg(sum(col("n_toks")).as("dom_toks"))
      .withColumn("n_sub", greatest(lit(1L),
        ceil(col("dom_toks").cast("double") / lit(subTarget.toDouble)).cast("long")))
      .select(col("domain"), col("n_sub"))
    val w = Window.partitionBy(col("domain"), col("sub")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    docsWithDomain.join(byDom, "domain")
      .withColumn("sub", expr(s"CAST($relatedSubHashExpr AS BIGINT)") % col("n_sub"))
      .withColumn("offset", coalesce(sum(col("n_toks")).over(w), lit(0L)).cast("long"))
      .withColumn("ctx", expr(s"offset DIV $ctxBudget"))
      .select(col("doc_id"), col("domain"), col("sub"), col("n_toks"),
        col("offset"), col("ctx"))
  }

  private def q198(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.dedup.UrlCanon
    val docs = Tables.documents(s, dir)
      .selectExpr("doc_id", "text", s"${UrlCanon.rawUrlSql} AS raw_url")
      .selectExpr("doc_id", "text", s"${UrlCanon.strippedSql("raw_url")} AS u")
      .selectExpr("doc_id", "text", s"${UrlCanon.hostSql("u")} AS host")
      .selectExpr("doc_id", s"${UrlCanon.domainSql("host")} AS domain",
        s"$toksExpr AS toks")
      .filter("size(toks) >= 1")
      .selectExpr("doc_id", "domain", "CAST(size(toks) AS BIGINT) AS n_toks")
    relatedPackingOf(docs).orderBy($"domain", $"doc_id")
  }
  private val q198Sql = {
    import graft.dedup.UrlCanon
    val pre =
      s"""raw AS (SELECT doc_id, text, ${UrlCanon.rawUrlSql} AS raw_url FROM documents),
         |st AS (SELECT doc_id, text, ${UrlCanon.strippedSql("raw_url")} AS u FROM raw),
         |h AS (SELECT doc_id, text, ${UrlCanon.hostSql("u")} AS host FROM st),
         |docs AS (
         |  SELECT doc_id, domain, CAST(len(toks) AS BIGINT) AS n_toks
         |  FROM (SELECT doc_id, ${UrlCanon.domainSql("host")} AS domain, $toksSql AS toks FROM h)
         |  WHERE len(toks) >= 1
         |)""".stripMargin
    s"""WITH $pre,
       |dom AS (
       |  SELECT domain,
       |    greatest(1, CAST(ceil(sum(n_toks) / $RelatedSubTarget.0) AS BIGINT)) AS n_sub
       |  FROM docs GROUP BY domain
       |),
       |j AS (
       |  SELECT d.doc_id, d.domain,
       |    CAST(((((instr('0123456789abcdef', substr(md5('rsub|' || CAST(doc_id AS VARCHAR)), 1, 1)) - 1) * 16 + (instr('0123456789abcdef', substr(md5('rsub|' || CAST(doc_id AS VARCHAR)), 2, 1)) - 1)) * 16 + (instr('0123456789abcdef', substr(md5('rsub|' || CAST(doc_id AS VARCHAR)), 3, 1)) - 1)) * 16 + (instr('0123456789abcdef', substr(md5('rsub|' || CAST(doc_id AS VARCHAR)), 4, 1)) - 1)) AS BIGINT) % m.n_sub AS sub, d.n_toks
       |  FROM docs d JOIN dom m USING (domain)
       |)
       |SELECT doc_id, domain, sub, n_toks,
       |  CAST(coalesce(sum(n_toks) OVER (PARTITION BY domain, sub
       |    ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS "offset",
       |  CAST(coalesce(sum(n_toks) OVER (PARTITION BY domain, sub
       |    ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) // $RelatedCtxBudget AS BIGINT) AS ctx
       |FROM j ORDER BY domain, doc_id""".stripMargin
  }

  // ---------------------------------------------------------------- q123
  /** Token-WEIGHTED Bernoulli sampling — the "sample proportional to
    * length" subsampling step (token-budget-aware corpus thinning):
    * each document keeps with probability 0.5 · n_toks / max_toks, so
    * the expected KEPT-TOKEN mass is proportional to each doc's
    * contribution, unlike q69's uniform doc sampling which over-weights
    * short docs in token space. Deterministic: a 16-bit uniform from
    * md5("wsamp|"||doc_id) (the q83 instr() idiom, 4 hex chars) is
    * compared by exact integer CROSS-MULTIPLICATION —
    * u16 · max_toks · 2 < n_toks · 65536 — never an FP rate, so the
    * same subset reproduces at any scale, partitioning, or engine.
    *
    * Scale shape: one linear scan + a broadcast 1-row max (the q97
    * idiom). The max is the only corpus-dependent input; everything
    * else is per-row arithmetic. */
  private val wsampHashExpr = {
    val h = "md5(concat('wsamp|', CAST(doc_id AS STRING)))"
    (1 to 4).map(i => s"(instr('0123456789abcdef', substr($h, $i, 1)) - 1)")
      .reduceLeft((acc, d) => s"($acc * 16 + $d)")
  }
  private def q123(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = Tables.documents(s, dir)
      .select($"doc_id", size(expr(toksExpr)).cast("long").as("n_toks"))
      .filter($"n_toks" >= 1)
    val maxw = docs.agg(max($"n_toks").as("max_toks"))
    docs.crossJoin(broadcast(maxw))
      .withColumn("u16", expr(wsampHashExpr).cast("long"))
      .withColumn("keep",
        when($"u16" * $"max_toks" * 2L < $"n_toks" * 65536L, 1L).otherwise(0L))
      .select($"doc_id", $"n_toks", $"u16", $"keep")
      .orderBy($"doc_id")
  }
  private val q123Sql =
    s"""WITH d AS (
       |  SELECT doc_id, CAST(len($toksSql) AS BIGINT) AS n_toks
       |  FROM documents
       |),
       |m AS (SELECT CAST(max(n_toks) AS BIGINT) AS max_toks FROM d WHERE n_toks >= 1)
       |SELECT doc_id, n_toks,
       |  CAST($wsampHashExpr AS BIGINT) AS u16,
       |  CAST(CASE WHEN CAST($wsampHashExpr AS BIGINT) * max_toks * 2 < n_toks * 65536
       |       THEN 1 ELSE 0 END AS BIGINT) AS keep
       |FROM d CROSS JOIN m
       |WHERE n_toks >= 1
       |ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- q125
  /** Deterministic train/val/test SPLIT ASSIGNMENT — the eval-split
    * hygiene op every training corpus needs before anything else
    * touches it: each doc lands in exactly one split via a 16-bit
    * uniform from md5("split|"||doc_id) against EXACT integer
    * thresholds (⌊65536·0.98⌋ = 64225 → train, +655 values → val,
    * remainder → test; ≈ 98/1/1). Two properties a rank- or
    * rand()-based splitter cannot give:
    *
    *  - STABILITY under corpus growth: the hash depends only on the
    *    doc id, so ingesting (or deduplicating away) other documents
    *    never reassigns an existing doc across splits — eval sets
    *    stay frozen as the corpus evolves.
    *  - REPRODUCIBILITY anywhere: no rand(), no window rank — the
    *    same doc gets the same split at any scale, partitioning, or
    *    engine (the q69/q83/q123 hash-carve discipline).
    *
    * Content leakage across splits (a near-dup of a train doc landing
    * in test) is deliberately NOT this op's job — that is
    * canonicalize-then-split, q100's output feeding this assignment.
    * Scale shape: pure per-row arithmetic, one linear scan, zero
    * shuffles before the ordered sink. */
  private[graft] val splitHashExpr = {
    val h = "md5(concat('split|', CAST(doc_id AS STRING)))"
    (1 to 4).map(i => s"(instr('0123456789abcdef', substr($h, $i, 1)) - 1)")
      .reduceLeft((acc, d) => s"($acc * 16 + $d)")
  }
  private def q125(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, dir)
      .select($"doc_id", $"lang", size(expr(toksExpr)).cast("long").as("n_toks"))
      .withColumn("u16", expr(splitHashExpr).cast("long"))
      .withColumn("split",
        when($"u16" < 64225L, "train").when($"u16" < 64880L, "val").otherwise("test"))
      .select($"doc_id", $"lang", $"split", $"n_toks")
      .orderBy($"doc_id")
  }
  private val q125Sql =
    s"""SELECT doc_id, lang,
       |  CASE WHEN CAST($splitHashExpr AS BIGINT) < 64225 THEN 'train'
       |       WHEN CAST($splitHashExpr AS BIGINT) < 64880 THEN 'val'
       |       ELSE 'test' END AS split,
       |  CAST(len($toksSql) AS BIGINT) AS n_toks
       |FROM documents
       |ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- q84
  /** Deterministic epoch shuffle — the per-epoch reordering every
    * training data loader applies, in its distributed shape: a
    * pseudorandom-but-reproducible sort key per doc (md5 over an epoch
    * seed + doc_id — a different permutation per epoch, the same
    * permutation on every rerun/partitioning, which rand() cannot
    * give), sharded so each worker consumes its own shuffled stream.
    * Shard count derives from corpus size like q80 (target docs per
    * shard), and the within-shard position is a per-shard window —
    * never one global ordinal, which would serialize the corpus
    * through a single sort at 100 TB. */
  private val EpochSeed = "epoch1"
  /** Docs per shard target. Small enough that even the sf0.01 oracle
    * run exercises the multi-shard path (500 docs → 4 shards); at
    * 100 TB tune to the doc count one task should window. */
  private val TargetShardDocs = 128L
  private def q84(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = Tables.documents(s, dir)
    val n = docs.agg(greatest(lit(1L),
      ceil(count(lit(1)).cast("double") / lit(TargetShardDocs.toDouble))).as("n_shards"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"shard").orderBy($"skey", $"doc_id")
    docs.select($"doc_id")
      .withColumn("skey", md5(concat(lit(s"$EpochSeed|"), $"doc_id".cast("string"))))
      .crossJoin(broadcast(n))
      .withColumn("shard", $"doc_id" % $"n_shards")
      .withColumn("pos", row_number().over(w).cast("long"))
      .select($"doc_id", $"skey", $"shard", $"pos")
      .orderBy($"doc_id")
  }
  private val q84Sql =
    s"""WITH n AS (
       |  SELECT greatest(1, CAST(ceil(count(*) / $TargetShardDocs.0) AS BIGINT)) AS n_shards
       |  FROM documents
       |),
       |k AS (
       |  SELECT doc_id, md5(concat('$EpochSeed|', CAST(doc_id AS VARCHAR))) AS skey,
       |    doc_id % n.n_shards AS shard
       |  FROM documents, n
       |)
       |SELECT doc_id, skey, shard,
       |  CAST(row_number() OVER (PARTITION BY shard ORDER BY skey, doc_id) AS BIGINT) AS pos
       |FROM k
       |ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- q85
  /** Length-bucketed batch assignment — dynamic batching's layout
    * step: group docs of similar token length so fixed-size batches
    * waste minimal padding. Bucket = bit-length of the token count
    * (power-of-two boundaries, computed as length(bin(n)) — EXACT
    * integer arithmetic in both engines, where ceil(log2(x)) would
    * hash-mismatch on last-ulp log differences). Batches of 32 docs
    * are numbered per (bucket, shard) window with the shard count
    * derived from corpus size — the same anti-serialization shape as
    * q80/q84. */
  private def q85(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val sized = Tables.documents(s, dir)
      .select($"doc_id", size(expr(toksExpr)).cast("long").as("n_toks"))
      .filter($"n_toks" > 0)
    val n = sized.agg(greatest(lit(1L),
      ceil(count(lit(1)).cast("double") / lit(TargetShardDocs.toDouble))).as("n_shards"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"bucket", $"shard").orderBy($"doc_id")
    sized
      .withColumn("bucket", length(bin($"n_toks")).cast("long"))
      .crossJoin(broadcast(n))
      .withColumn("shard", $"doc_id" % $"n_shards")
      .withColumn("batch_no", floor((row_number().over(w) - 1) / 32).cast("long"))
      .select($"doc_id", $"n_toks", $"bucket", $"shard", $"batch_no")
      .orderBy($"doc_id")
  }
  private val q85Sql =
    s"""WITH sized AS (
       |  SELECT doc_id, CAST(len($toksSql) AS BIGINT) AS n_toks
       |  FROM documents
       |  WHERE len($toksSql) > 0
       |),
       |n AS (
       |  SELECT greatest(1, CAST(ceil(count(*) / $TargetShardDocs.0) AS BIGINT)) AS n_shards
       |  FROM sized
       |),
       |k AS (
       |  SELECT doc_id, n_toks, CAST(length(bin(n_toks)) AS BIGINT) AS bucket,
       |    doc_id % n.n_shards AS shard
       |  FROM sized, n
       |)
       |SELECT doc_id, n_toks, bucket, shard,
       |  CAST(floor((row_number() OVER (PARTITION BY bucket, shard ORDER BY doc_id) - 1) / 32) AS BIGINT) AS batch_no
       |FROM k
       |ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- q89
  /** Source-mixture report — the data-recipe accounting every corpus
    * build publishes: per source, doc and token counts, each source's
    * share of corpus tokens, and the cumulative share in descending
    * token order (the "top k sources cover X% of the corpus" curve
    * that drives mixture weighting like q83's). Shares are emitted as
    * BIGINT parts-per-million (floor(x·10⁶+0.5)) — one division of two
    * exact integer sums, then the shared quantization idiom, so there
    * is no cross-engine float-rounding hazard. Shape: one linear
    * token-count scan → per-source hash aggregate; the global total
    * rides a broadcast 1-row aggregate (q80's scalar pattern) and the
    * cumulative window runs over the AGGREGATED frame — #sources rows,
    * small by definition at any corpus size, so the single-partition
    * window is not a scale hazard. */
  private def q89(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val per = Tables.documents(s, dir)
      .select($"source", size(expr(toksExpr)).cast("long").as("ntoks"))
      .groupBy($"source")
      .agg(count(lit(1)).as("n_docs"), sum($"ntoks").as("n_tokens"))
    val tot = per.agg(sum($"n_tokens").as("tot_tokens"))
    val w = org.apache.spark.sql.expressions.Window
      .orderBy($"n_tokens".desc, $"source")
    per.crossJoin(broadcast(tot))
      .withColumn("cum_tokens", sum($"n_tokens").over(w))
      .select($"source", $"n_docs", $"n_tokens",
        expr("CAST(floor(n_tokens / CAST(tot_tokens AS DOUBLE) * 1000000 + 0.5) AS BIGINT)")
          .as("share_ppm"),
        expr("CAST(floor(cum_tokens / CAST(tot_tokens AS DOUBLE) * 1000000 + 0.5) AS BIGINT)")
          .as("cum_share_ppm"))
      .orderBy($"n_tokens".desc, $"source")
  }
  private val q89Sql =
    s"""WITH per AS (
       |  SELECT source, count(*) AS n_docs,
       |    CAST(sum(CAST(len($toksSql) AS BIGINT)) AS BIGINT) AS n_tokens
       |  FROM documents
       |  GROUP BY source
       |),
       |tot AS (SELECT sum(n_tokens) AS tot_tokens FROM per),
       |c AS (
       |  SELECT p.*, t.tot_tokens,
       |    sum(p.n_tokens) OVER (ORDER BY p.n_tokens DESC, p.source) AS cum_tokens
       |  FROM per p, tot t
       |)
       |SELECT source, n_docs, n_tokens,
       |  CAST(floor(n_tokens / CAST(tot_tokens AS DOUBLE) * 1000000 + 0.5) AS BIGINT) AS share_ppm,
       |  CAST(floor(cum_tokens / CAST(tot_tokens AS DOUBLE) * 1000000 + 0.5) AS BIGINT) AS cum_share_ppm
       |FROM c
       |ORDER BY n_tokens DESC, source""".stripMargin

  // ---------------------------------------------------------------- q91
  /** Content-defined chunking (CDC) + chunk-level exact dedup — the
    * shift-robust counterpart to q67's fixed-stride chunking. A chunk
    * boundary opens before token p whenever the md5 of the PRECEDING
    * 4-token window starts with hex '0' (a 1-in-16 content gate →
    * ~16-token expected chunks). Because boundaries depend only on
    * local content, an edit near the start of a document resynchronizes
    * at the next gate and every later chunk hashes identically —
    * fixed-stride chunks would all shift and share nothing
    * (CdcChunksSpec pins exactly that). Output is q40-style dedup
    * accounting at chunk granularity: occurrences, distinct docs,
    * canonical doc per chunk hash. Scale shape: one linear pass (one
    * md5 per token position — same budget as the shingle scans), one
    * hash aggregate on the chunk digest; nothing pairwise anywhere. */
  private def q91(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // boundary gate at 1-based p ∈ [5, n]: md5 of tokens p-4..p-1.
    // sequence() guarded via greatest(): Spark's sequence DESCENDS when
    // stop < start, so short docs must not build sequence(5, n<5); the
    // p <= n conjunct discards the padding positions.
    val startsExpr =
      "concat(array(1), filter(sequence(5, greatest(size(toks), 5)), " +
        "p -> p <= size(toks) AND substr(md5(concat_ws(' ', slice(toks, p - 4, 4))), 1, 1) = '0'))"
    Tables.documents(s, dir)
      .select($"doc_id", expr(toksExpr).as("toks"))
      .filter(size($"toks") > 0)
      .select($"doc_id", $"toks", expr(startsExpr).as("starts"))
      .select($"doc_id", $"toks", $"starts",
        expr("concat(slice(starts, 2, size(starts) - 1), array(size(toks) + 1))").as("ends"))
      .select($"doc_id", explode(expr(
        "zip_with(starts, ends, (st, en) -> md5(concat_ws(' ', slice(toks, st, en - st))))"))
        .as("chunk_hash"))
      .groupBy($"chunk_hash")
      .agg(count(lit(1)).as("n_occurrences"),
        countDistinct($"doc_id").as("n_docs"),
        min($"doc_id").as("canonical_doc_id"))
      .orderBy($"chunk_hash")
  }
  private val q91Sql =
    s"""WITH t AS (
       |  SELECT doc_id, toks FROM (SELECT doc_id, $toksSql AS toks FROM documents)
       |  WHERE len(toks) > 0
       |),
       |st AS (
       |  SELECT doc_id, toks,
       |    list_concat([1], list_filter(generate_series(5, len(toks)),
       |      p -> substr(md5(array_to_string(list_slice(toks, p - 4, p - 1), ' ')), 1, 1) = '0')) AS starts
       |  FROM t
       |),
       |x AS (
       |  SELECT doc_id, toks, starts,
       |    list_concat(list_slice(starts, 2, len(starts)), [len(toks) + 1]) AS ends
       |  FROM st
       |),
       |ch AS (
       |  SELECT doc_id, unnest(list_transform(generate_series(1, len(starts)),
       |    k -> md5(array_to_string(list_slice(toks, starts[k], ends[k] - 1), ' ')))) AS chunk_hash
       |  FROM x
       |)
       |SELECT chunk_hash, count(*) AS n_occurrences,
       |  count(DISTINCT doc_id) AS n_docs, min(doc_id) AS canonical_doc_id
       |FROM ch
       |GROUP BY 1
       |ORDER BY chunk_hash""".stripMargin

  // ---------------------------------------------------------------- q92
  /** BM25 ranked keyword retrieval (Lucene-style: k1 = 1.2, b = 0.75,
    * idf = ln(1 + (N − df + ½)/(df + ½))) for a fixed conjunctive-OR
    * query — the "find training docs about X" primitive next to q68's
    * per-doc TF-IDF summary. Per-(doc, term) contributions are single
    * double expressions over exact integers (the q68 contract: one ln,
    * IEEE-defined mul/div in an identical tree on both engines), then
    * QUANTIZED to BIGINT (floor(x·10⁴ + ½)) so the per-doc sum is an
    * integer sum — order-independent, no float-fold hazard (q66 trick).
    *
    * Scale shape: one (doc, term) shuffle confined to query terms (the
    * isin filter prunes before the aggregate), df and the corpus
    * scalars are broadcast aggregates (q68's skew sidestep — every doc
    * contains the hot terms, so a shuffled tf⋈df would pile the hot
    * term on one reducer), and the final top-10 is
    * TakeOrderedAndProject — no global sort materializes. avgdl is
    * folded as dl·N/T so every operand stays an exact integer until
    * the one double expression. */
  private val bm25Terms = Seq("dup", "join", "scan", "filter")
  private def q92(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = Tables.documents(s, dir)
      .select($"doc_id", expr(toksExpr).as("toks"))
      .select($"doc_id", size($"toks").cast("long").as("dl"), $"toks")
      .filter($"dl" > 0)
    val scal = docs.agg(count(lit(1)).as("n"), sum($"dl").as("t"))
    val tf = docs.select($"doc_id", $"dl", explode($"toks").as("term"))
      .filter($"term".isin(bm25Terms: _*))
      .groupBy($"doc_id", $"dl", $"term").agg(count(lit(1)).as("tf"))
    val df = tf.groupBy($"term").agg(count(lit(1)).as("df"))
    val contrib =
      (lit(10000.0) * log(lit(1.0) + (($"n" - $"df") + lit(0.5)) / ($"df" + lit(0.5)))) *
        (($"tf" * lit(2.2)) /
          ($"tf" + lit(1.2) * (lit(0.25) + (((lit(0.75) * $"dl") * $"n") / $"t"))))
    tf.join(broadcast(df), "term")
      .crossJoin(broadcast(scal))
      .withColumn("contrib", floor(contrib + lit(0.5)).cast("long"))
      .groupBy($"doc_id")
      .agg(sum($"contrib").as("score_q"), count(lit(1)).as("n_terms"))
      .orderBy($"score_q".desc, $"doc_id")
      .limit(10)
  }
  private val q92Sql =
    s"""WITH d AS (
       |  SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl, toks
       |  FROM (SELECT doc_id, $toksSql AS toks FROM documents)
       |  WHERE len(toks) > 0
       |),
       |scal AS (SELECT count(*) AS n, sum(dl) AS t FROM d),
       |tf AS (
       |  SELECT doc_id, dl, term, count(*) AS tf
       |  FROM (SELECT doc_id, dl, unnest(toks) AS term FROM d)
       |  WHERE term IN (${bm25Terms.map(t => s"'$t'").mkString(", ")})
       |  GROUP BY 1, 2, 3
       |),
       |df AS (SELECT term, count(*) AS df FROM tf GROUP BY 1)
       |SELECT doc_id, CAST(sum(contrib) AS BIGINT) AS score_q,
       |  count(*) AS n_terms
       |FROM (
       |  SELECT tf.doc_id,
       |    CAST(floor(
       |      ((10000.0 * ln(1.0 + ((n - df) + 0.5) / (df + 0.5))) *
       |       ((tf * 2.2) / (tf + 1.2 * (0.25 + (((0.75 * dl) * n) / t)))))
       |      + 0.5) AS BIGINT) AS contrib
       |  FROM tf JOIN df USING (term) CROSS JOIN scal
       |)
       |GROUP BY doc_id
       |ORDER BY score_q DESC, doc_id
       |LIMIT 10""".stripMargin

  // ---------------------------------------------------------------- q145
  /** Champion-list (top-docs) pruned retrieval — the classic IR
    * index-pruning technique (Manning et al., IIR §7.1.3) measured the
    * way q74/q116 measure ANN recall: per query term keep only its C
    * highest-contribution postings (the champion list), score ONLY the
    * union of champions, and audit the result against q92's exact
    * top-10 in the same query. Each exact-top-10 doc is reported with
    * whether the champion index found it and the rank it got there —
    * the calibration that licenses serving retrieval from an index
    * whose per-term posting lists are CONSTANT-sized at any corpus
    * scale (|terms|·C candidates instead of every doc containing a hot
    * term). Because a candidate's pruned score sums the SAME query-term
    * contributions as its exact score, champion ranking errors are
    * purely recall (a missing doc), never scoring drift — so found=1
    * rows must agree on score, which the oracle hash pins.
    *
    * Scale shape: contributions are quantized BIGINTs (q92 contract);
    * the champion cut is a per-term window that WindowGroupLimit
    * pre-limits map-side; every frame after it is ≤ |terms|·C rows, so
    * the audit windows run over ≤256-row frames by construction. */
  private val ChampC = 64
  private def q145(s: SparkSession, dir: String): DataFrame =
    championAudit(s, dir, ChampC)
  /** q145 core with the champion-list size exposed — Bm25Spec drives
    * it with c=1 to pin the miss path (found=0 / rank_champ=-1) that
    * the production c=64 never hits on the fixture. */
  private[text] def championAudit(s: SparkSession, dir: String, c: Int): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.documents(s, dir)
      .select($"doc_id", expr(toksExpr).as("toks"))
      .select($"doc_id", size($"toks").cast("long").as("dl"), $"toks")
      .filter($"dl" > 0)
    val scal = docs.agg(count(lit(1)).as("n"), sum($"dl").as("t"))
    val tf = docs.select($"doc_id", $"dl", explode($"toks").as("term"))
      .filter($"term".isin(bm25Terms: _*))
      .groupBy($"doc_id", $"dl", $"term").agg(count(lit(1)).as("tf"))
    val df = tf.groupBy($"term").agg(count(lit(1)).as("df"))
    val contribExpr =
      (lit(10000.0) * log(lit(1.0) + (($"n" - $"df") + lit(0.5)) / ($"df" + lit(0.5)))) *
        (($"tf" * lit(2.2)) /
          ($"tf" + lit(1.2) * (lit(0.25) + (((lit(0.75) * $"dl") * $"n") / $"t"))))
    val contrib = graft.core.ScratchCache.persist(
      tf.join(broadcast(df), "term")
        .crossJoin(broadcast(scal))
        .select($"term", $"doc_id",
          floor(contribExpr + lit(0.5)).cast("long").as("contrib")))
    val cand = contrib
      .withColumn("rn", row_number().over(
        Window.partitionBy($"term").orderBy($"contrib".desc, $"doc_id")))
      .filter($"rn" <= c)
      .select($"doc_id").distinct()
    // r22 (guide §2.4): scores NOT persisted — q97/q112's lesson. Its
    // two consumers (the exact top-10 and the champion-rank join) share
    // the aggregate's exchange, so the per-doc summation map side runs
    // once via stage reuse; `contrib` above STAYS persisted (it is
    // project-topped — no exchange to reuse — and its consumers diverge
    // into differently-keyed exchanges).
    val scores = contrib.groupBy($"doc_id").agg(sum($"contrib").as("score_q"))
    // Unpartitioned-window cardinality bounds (r22 audit): exact10's
    // window runs over the 10 rows the preceding limit(10) kept;
    // candRank's runs over the champion candidates — ≤ |bm25Terms|·c
    // rows by the per-term rn ≤ c cut above (≤ 256 at production c=64,
    // never corpus-sized).
    val exact10 = scores
      .orderBy($"score_q".desc, $"doc_id").limit(10)
      .withColumn("rank_exact", row_number().over(
        Window.orderBy($"score_q".desc, $"doc_id")).cast("long"))
    val candRank = scores.join(cand, "doc_id")
      .withColumn("rank_champ", row_number().over(
        Window.orderBy($"score_q".desc, $"doc_id")).cast("long"))
      .select($"doc_id", $"rank_champ")
    val nCand = cand.agg(count(lit(1)).as("n_candidates"))
    exact10.join(candRank, Seq("doc_id"), "left")
      .crossJoin(broadcast(nCand))
      .select($"rank_exact", $"doc_id", $"score_q",
        when($"rank_champ".isNotNull, 1L).otherwise(0L).as("found"),
        coalesce($"rank_champ", lit(-1L)).as("rank_champ"),
        $"n_candidates")
      .orderBy($"rank_exact")
  }
  private val q145Sql =
    s"""WITH d AS (
       |  SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl, toks
       |  FROM (SELECT doc_id, $toksSql AS toks FROM documents)
       |  WHERE len(toks) > 0
       |),
       |scal AS (SELECT count(*) AS n, sum(dl) AS t FROM d),
       |tf AS (
       |  SELECT doc_id, dl, term, count(*) AS tf
       |  FROM (SELECT doc_id, dl, unnest(toks) AS term FROM d)
       |  WHERE term IN (${bm25Terms.map(t => s"'$t'").mkString(", ")})
       |  GROUP BY 1, 2, 3
       |),
       |dft AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
       |contrib AS (
       |  SELECT term, tf.doc_id,
       |    CAST(floor(
       |      ((10000.0 * ln(1.0 + ((n - df) + 0.5) / (df + 0.5))) *
       |       ((tf * 2.2) / (tf + 1.2 * (0.25 + (((0.75 * dl) * n) / t)))))
       |      + 0.5) AS BIGINT) AS contrib
       |  FROM tf JOIN dft USING (term) CROSS JOIN scal
       |),
       |cand AS (
       |  SELECT DISTINCT doc_id FROM (
       |    SELECT doc_id, row_number() OVER (
       |      PARTITION BY term ORDER BY contrib DESC, doc_id) AS rn
       |    FROM contrib
       |  ) WHERE rn <= $ChampC
       |),
       |scores AS (
       |  SELECT doc_id, CAST(sum(contrib) AS BIGINT) AS score_q
       |  FROM contrib GROUP BY 1
       |),
       |exact10 AS (
       |  SELECT doc_id, score_q, CAST(row_number() OVER (
       |    ORDER BY score_q DESC, doc_id) AS BIGINT) AS rank_exact
       |  FROM scores ORDER BY score_q DESC, doc_id LIMIT 10
       |),
       |candrank AS (
       |  SELECT doc_id, CAST(row_number() OVER (
       |    ORDER BY score_q DESC, doc_id) AS BIGINT) AS rank_champ
       |  FROM scores JOIN cand USING (doc_id)
       |),
       |nc AS (SELECT CAST(count(*) AS BIGINT) AS n_candidates FROM cand)
       |SELECT rank_exact, doc_id, score_q,
       |  CAST(CASE WHEN rank_champ IS NOT NULL THEN 1 ELSE 0 END AS BIGINT) AS found,
       |  coalesce(rank_champ, -1) AS rank_champ,
       |  n_candidates
       |FROM exact10 LEFT JOIN candrank USING (doc_id) CROSS JOIN nc
       |ORDER BY rank_exact""".stripMargin

  // ---------------------------------------------------------------- q93
  /** Rare-bigram rate — the KenLM-free fluency filter: the share (ppm)
    * of a document's word bigrams whose whole-corpus frequency is ≤ 5.
    * Fluent text is built from common transitions; gibberish,
    * boilerplate mangling, and OCR damage surface as runs of bigrams
    * the rest of the corpus never produces. Pure integer counts and
    * one integer division — no log, no float, hash-exact by
    * construction.
    *
    * Scale shape: bigram explode → one (doc, bigram) aggregate; the
    * corpus count frame joined back is itself an aggregate (one row
    * per distinct bigram, no payload) and is broadcast — the q68
    * sidestep for the hot-bigram key ("of the" is in every doc). For
    * a corpus whose distinct-bigram count outgrows the driver, drop
    * the hint: the hot key sits on the probe side of a 1-row-per-key
    * build, the shape AQE skew-split handles cleanly. */
  private def q93(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val bg = Tables.documents(s, dir)
      .select($"doc_id", expr(toksExpr).as("toks"))
      .filter(size($"toks") >= 2)
      .select($"doc_id", explode(expr(
        "word_ngrams(toks, 2)")).as("bigram"))
    val tf = bg.groupBy($"doc_id", $"bigram").agg(count(lit(1)).as("tf"))
    val cnt = tf.groupBy($"bigram").agg(sum($"tf").as("corpus_cnt"))
    tf.join(broadcast(cnt), "bigram")
      .groupBy($"doc_id")
      .agg(sum($"tf").as("n_bigrams"),
        sum(when($"corpus_cnt" <= 5, $"tf").otherwise(lit(0L))).as("n_rare"))
      .withColumn("rare_ppm", expr("(n_rare * 1000000) DIV n_bigrams"))
      .withColumn("keep", when($"rare_ppm" <= 100000L, 1L).otherwise(0L))
      .select($"doc_id", $"n_bigrams", $"n_rare", $"rare_ppm", $"keep")
      .orderBy($"doc_id")
  }
  private val q93Sql =
    s"""WITH bg AS (
       |  SELECT doc_id, unnest(list_transform(generate_series(1, len(toks) - 1),
       |    i -> concat(toks[i], ' ', toks[i + 1]))) AS bigram
       |  FROM (SELECT doc_id, $toksSql AS toks FROM documents)
       |  WHERE len(toks) >= 2
       |),
       |tf AS (SELECT doc_id, bigram, count(*) AS tf FROM bg GROUP BY 1, 2),
       |cnt AS (SELECT bigram, sum(tf) AS corpus_cnt FROM tf GROUP BY 1)
       |SELECT doc_id, n_bigrams, n_rare,
       |  (n_rare * 1000000) // n_bigrams AS rare_ppm,
       |  CAST(CASE WHEN (n_rare * 1000000) // n_bigrams <= 100000 THEN 1 ELSE 0 END AS BIGINT) AS keep
       |FROM (
       |  SELECT tf.doc_id,
       |    CAST(sum(tf.tf) AS BIGINT) AS n_bigrams,
       |    CAST(sum(CASE WHEN cnt.corpus_cnt <= 5 THEN tf.tf ELSE 0 END) AS BIGINT) AS n_rare
       |  FROM tf JOIN cnt USING (bigram)
       |  GROUP BY 1
       |)
       |ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- q95
  /** BPE merge ranking — one real byte-pair-encoding training step:
    * the top-20 adjacent character pairs by corpus occurrence count,
    * the pair a tokenizer trainer would merge first. (q56 APPLIES a
    * BPE-style pre-tokenization; this is the other half — choosing the
    * merges.)
    *
    * Scale shape — the classic BPE trick, which is also the Spark
    * shape: aggregate the corpus to its VOCABULARY first (one shuffle,
    * |vocab| rows — sub-linear in the corpus), then do the per-type
    * character work weighted by token counts. Character pairs are
    * never generated per corpus occurrence — a 100 TB corpus with a
    * 10 M-type vocabulary does the char work on 10 M rows. Top-20 is
    * TakeOrderedAndProject; single-char tokens are filtered BEFORE the
    * pair transform (Spark's `sequence(1, 0)` descends — the q36
    * gotcha). */
  private def q95(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, dir)
      .select(explode(expr(toksExpr)).as("token"))
      .groupBy($"token").agg(count(lit(1)).as("cnt"))
      .filter(length($"token") >= 2)
      .select($"cnt", explode(expr(
        "transform(sequence(1, length(token) - 1), i -> concat(substr(token, i, 1), ' ', substr(token, i + 1, 1)))"))
        .as("pair"))
      .groupBy($"pair").agg(sum($"cnt").as("n_occurrences"))
      .orderBy($"n_occurrences".desc, $"pair")
      .limit(20)
  }
  private val q95Sql =
    s"""WITH vocab AS (
       |  SELECT token, count(*) AS cnt
       |  FROM (SELECT unnest($toksSql) AS token FROM documents)
       |  GROUP BY 1
       |),
       |pairs AS (
       |  SELECT cnt, unnest(list_transform(generate_series(1, length(token) - 1),
       |    i -> concat(substr(token, i, 1), ' ', substr(token, i + 1, 1)))) AS pair
       |  FROM vocab WHERE length(token) >= 2
       |)
       |SELECT pair, CAST(sum(cnt) AS BIGINT) AS n_occurrences
       |FROM pairs
       |GROUP BY 1
       |ORDER BY n_occurrences DESC, pair
       |LIMIT 20""".stripMargin

  // ---------------------------------------------------------------- q240
  /** Iterative multi-merge BPE TRAINER — the loop q95 (one
    * merge-ranking round) and q150 (apply a fixed list) bracketed but
    * never closed: [[BpeTrainRounds]] rounds of (count adjacent
    * SEGMENT pairs over the current vocab encoding → take the top
    * pair → re-encode the vocab with that merge), i.e. real BPE
    * training where round i's candidates are pairs of the SYMBOLS
    * round i−1 produced, not raw characters. Output is the merge
    * TRAJECTORY — (round, pair, n_occurrences) for every round — so
    * the DuckDB oracle replays the entire training loop, not just the
    * final state (the q133/q155 trajectory discipline).
    *
    * Merge semantics are exactly q150's (shared contract, pinned in
    * BpeEncodeSpec and BpeTrainSpec): symbols are chr(31)-delimited,
    * a merge pattern `␟a␟b␟` matches only at symbol boundaries, and
    * each merge applies in ONE leftmost-to-right non-overlapping
    * `replace` pass (consecutive self-pairs `a a a a` → `aa a a`).
    * Because a merged symbol's pair counts are bounded by its
    * constituents' (every `th e` in round 2 was an `h e` in round 1),
    * the chosen count is NON-INCREASING across rounds — asserted in
    * BpeTrainSpec alongside a full JVM replay of the trajectory and
    * the trainer↔q150-fold consistency check.
    *
    * Scale shape — the q95/q150 vocab-first discipline made
    * ITERATIVE: the corpus is touched exactly once (the (token, cnt)
    * aggregate — one shuffle, |vocab| rows, sub-linear in the
    * corpus); every training round is a linear pass over the
    * ~|vocab|-row frame (pair explode + one map-side-combined
    * aggregate + a 1-row TakeOrdered) followed by a broadcast 1-row
    * cross join to re-encode. Each round's vocab frame and chosen
    * merge are cut with Lineage.truncate (the trainedCents /
    * ConnectedComponents loop discipline), so round r+1's plan starts
    * from materialized rows instead of r nested replaces — constant
    * driver plans, O(rounds) linear vocab passes, nothing ever
    * collected. A 100 TB corpus with a 10 M-type vocabulary trains N
    * merges in N short vocab-frame jobs after one corpus scan. */
  private[text] val BpeTrainRounds = 8
  /** Training states: per-round chosen merges (1-row frames) and the
    * final encoded vocab (cnt, enc) — the spec seam BpeTrainSpec uses
    * to cross-check the trainer against q150's fold encoder. */
  private[text] def bpeTrainStates(s: SparkSession, dir: String,
                                   rounds: Int): (Seq[DataFrame], DataFrame) = {
    import s.implicits._
    // the eager truncation alone materializes the vocab frame —
    // a persist() on top would just hold a second cached copy
    var v = Lineage.truncate(Tables.documents(s, dir)
      .select(explode(expr(toksExpr)).as("token"))
      .groupBy($"token").agg(count(lit(1)).as("cnt"))
      .filter(expr("instr(token, chr(31)) = 0"))
      .select($"cnt", // q150's boundary encoding; split('') emits a trailing "" under limit=-1
        expr("concat(chr(31), concat_ws(chr(31), filter(split(token, ''), x -> x != '')), chr(31))").as("enc")))
    val bests = (1 to rounds).map { i =>
      val best = Lineage.truncate(v
        .select($"cnt", expr("filter(split(enc, chr(31)), x -> x != '')").as("segs"))
        .filter(size($"segs") >= 2) // sequence(1, 0) would DESCEND — the q36 gotcha
        .select($"cnt", explode(expr(
          "transform(sequence(1, size(segs) - 1), j -> concat(element_at(segs, j), ' ', element_at(segs, j + 1)))"))
          .as("pair"))
        .groupBy($"pair").agg(sum($"cnt").as("n_occurrences"))
        .orderBy($"n_occurrences".desc, $"pair")
        .limit(1)
        .select(lit(i.toLong).as("round"), $"pair", $"n_occurrences"))
      v = Lineage.truncate(v.crossJoin(broadcast(best))
        .select($"cnt", expr(
          """replace(enc, concat(chr(31), replace(pair, ' ', chr(31)), chr(31)),
            |              concat(chr(31), replace(pair, ' ', ''), chr(31)))""".stripMargin).as("enc")))
      best
    }
    (bests, v)
  }
  private def q240(s: SparkSession, dir: String): DataFrame = {
    val (bests, _) = bpeTrainStates(s, dir, BpeTrainRounds)
    bests.reduce(_ unionByName _).orderBy(col("round"))
  }

  /** BATCHED BPE trainer — the production-merge-count shape (r19
    * verdict item 4): q240's exact loop is one driver job round-trip
    * per merge, fine at 8 merges and an O(rounds) wall at the 10³–10⁴
    * merges a real tokenizer trains. The standard fix: per round,
    * take the top `batchM` pairs IN RANK ORDER whose symbols are
    * mutually disjoint (and touch no symbol another accepted merge
    * creates), then apply them all in ONE re-encode pass — symbol-
    * disjoint `␟a␟b␟` patterns can never overlap or interact, so the
    * chained replace is order-independent and equals applying each
    * merge alone. Driver round-trips drop from `totalMerges` to
    * ~`totalMerges / batchM`.
    *
    * Candidate selection collects the top `4·batchM` (pair, count)
    * rows — a TakeOrdered over the |vocab|-derived pair frame, i.e. a
    * merge-table-sized constant, the bounded-collect discipline of the
    * k-row centroid list — and greedily accepts in (count desc, pair)
    * order, rejecting any pair sharing a symbol with an accepted one
    * or naming an accepted product. At least the top pair is always
    * accepted, so progress is guaranteed; with batchM = 1 the loop IS
    * q240's sequential trainer (BpeTrainSpec asserts trajectory
    * equality).
    *
    * Approximation contract, stated honestly: batched greedy is the
    * standard fast-BPE approximation, not always the sequential
    * trajectory — a merge in this batch can create a pair (count
    * bounded by its parent's) that sequential BPE would have ranked
    * above this batch's lower picks. What IS exact: every applied
    * merge's count is its true count at application time (disjointness
    * freezes it), per-round TOP counts are non-increasing, and the
    * final state equals q150's fold over the emitted trajectory —
    * all pinned in BpeTrainSpec.
    *
    * Returns (trajectory rows (merge_idx, round, pair, n), final vocab
    * frame). Trajectory comes back collected — selection already
    * collected it. */
  private[text] def bpeTrainBatchedStates(s: SparkSession, dir: String,
      totalMerges: Int, batchM: Int): (Seq[(Long, Long, String, Long)], DataFrame) = {
    import s.implicits._
    var v = Lineage.truncate(Tables.documents(s, dir)
      .select(explode(expr(toksExpr)).as("token"))
      .groupBy($"token").agg(count(lit(1)).as("cnt"))
      .filter(expr("instr(token, chr(31)) = 0"))
      .select($"cnt",
        expr("concat(chr(31), concat_ws(chr(31), filter(split(token, ''), x -> x != '')), chr(31))").as("enc")))
    val traj = collection.mutable.ArrayBuffer.empty[(Long, Long, String, Long)]
    var round = 0L
    while (traj.size < totalMerges) {
      round += 1
      val window = math.max(4 * batchM, batchM + 8)
      val top = v
        .select($"cnt", expr("filter(split(enc, chr(31)), x -> x != '')").as("segs"))
        .filter(size($"segs") >= 2)
        .select($"cnt", explode(expr(
          "transform(sequence(1, size(segs) - 1), j -> concat(element_at(segs, j), ' ', element_at(segs, j + 1)))"))
          .as("pair"))
        .groupBy($"pair").agg(sum($"cnt").as("n_occurrences"))
        .orderBy($"n_occurrences".desc, $"pair")
        .limit(window)
        .collect().map(r => (r.getString(0), r.getLong(1)))
      if (top.isEmpty) return (traj.toSeq, v) // vocab fully merged
      val used = collection.mutable.Set.empty[String]
      val accepted = collection.mutable.ArrayBuffer.empty[(String, Long)]
      val budget = math.min(batchM, totalMerges - traj.size)
      top.iterator.takeWhile(_ => accepted.size < budget).foreach { case (pair, n) =>
        val Array(a, b) = pair.split(' ')
        val prod = a + b
        // disjointness: neither side already touched, and neither side
        // IS a product this batch creates (its occurrences would only
        // exist after an earlier replace ran — order-dependent)
        if (!used(a) && !used(b) && !used(prod)) {
          used ++= Seq(a, b, prod)
          accepted += ((pair, n))
        }
      }
      val encCol = accepted.foldLeft(col("enc")) { case (acc, (pair, _)) =>
        val Array(a, b) = pair.split(' ')
        call_function("replace", acc,
          concat(lit(SepChar), lit(a), lit(SepChar), lit(b), lit(SepChar)),
          concat(lit(SepChar), lit(a + b), lit(SepChar)))
      }
      v = Lineage.truncate(v.select($"cnt", encCol.as("enc")))
      accepted.foreach { case (pair, n) =>
        traj += ((traj.size + 1L, round, pair, n)) }
    }
    (traj.toSeq, v)
  }
  private[text] val SepChar: String = 31.toChar.toString
  private val q240Sql: String = {
    val rounds = (1 to BpeTrainRounds).map { i =>
      s"""p$i AS (
         |  SELECT pair, CAST(sum(cnt) AS BIGINT) AS n FROM (
         |    SELECT cnt, unnest(list_transform(generate_series(1, len(segs) - 1),
         |      j -> segs[j] || ' ' || segs[j + 1])) AS pair
         |    FROM (SELECT cnt, list_filter(string_split(enc, chr(31)), x -> x <> '') AS segs
         |          FROM v${i - 1})
         |    WHERE len(segs) >= 2
         |  ) GROUP BY 1
         |),
         |m$i AS (SELECT CAST($i AS BIGINT) AS round, pair, n AS n_occurrences
         |        FROM p$i ORDER BY n DESC, pair LIMIT 1),
         |v$i AS (
         |  SELECT v.cnt,
         |    replace(v.enc, chr(31) || replace(m.pair, ' ', chr(31)) || chr(31),
         |                   chr(31) || replace(m.pair, ' ', '') || chr(31)) AS enc
         |  FROM v${i - 1} v, m$i m
         |)""".stripMargin
    }
    val union = (1 to BpeTrainRounds).map(i => s"SELECT * FROM m$i").mkString(" UNION ALL ")
    s"""WITH vocab AS (
       |  SELECT token, CAST(count(*) AS BIGINT) AS cnt
       |  FROM (SELECT unnest($toksSql) AS token FROM documents)
       |  GROUP BY 1
       |),
       |v0 AS (
       |  SELECT cnt,
       |    concat(chr(31), array_to_string(string_split(token, ''), chr(31)), chr(31)) AS enc
       |  FROM vocab WHERE instr(token, chr(31)) = 0
       |),
       |${rounds.mkString(",\n")}
       |SELECT round, pair, n_occurrences FROM ($union) ORDER BY round""".stripMargin
  }

  // ---------------------------------------------------------------- q150
  /** BPE merge APPLICATION — the other half of q95 (which ranks the
    * merges): encode the corpus with its own learned top-20 merges and
    * report per-source symbol compression, the tokenizer-apply shape
    * every training pipeline runs after training a vocabulary. Symbols
    * are separator-delimited (`chr(31)` between segments), so a merge
    * pattern `␟a␟b␟` can only match at SYMBOL boundaries — a segment
    * "ab" produced by an earlier merge is never re-split by a later
    * one — and merges apply in rank order, ONE leftmost-to-right
    * non-overlapping pass each (`replace` has identical semantics in
    * the JVM and DuckDB; consecutive self-pairs like `a a a a` merge
    * to `aa a a` in that single pass — the documented contract,
    * BpeEncodeSpec pins it — where reference tokenizers iterate each
    * merge to a fixpoint).
    *
    * Scale shape — the q95 vocab-first discipline, applied to
    * INFERENCE: the fold over 20 merges runs per token TYPE (one
    * ~|vocab|-row frame), never per occurrence; per-source totals come
    * from joining the (source, token, cnt) aggregate with the encoded
    * vocabulary BROADCAST. A 100 TB corpus with a 10 M-type vocabulary
    * does 20 string replaces on 10 M short strings — the corpus itself
    * is touched exactly once, for the (source, token) count. */
  private def q150(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    // r22 (guide §2.4): NOT persisted — q112's lesson. Both consumers
    // (vocab and the final encode join) share the identical aggregate
    // subtree; the tokenize+explode map side is written to one reused
    // exchange, so only the cheap reduce-side aggregate re-runs.
    val stCnt = Tables.documents(s, dir)
      .select($"source", explode(expr(toksExpr)).as("token"))
      .groupBy($"source", $"token").agg(count(lit(1)).as("cnt"))
    val vocab = stCnt.groupBy($"token").agg(sum($"cnt").as("cnt"))
    val merges = vocab
      .filter(length($"token") >= 2)
      .select($"cnt", explode(expr(
        "transform(sequence(1, length(token) - 1), i -> concat(substr(token, i, 1), ' ', substr(token, i + 1, 1)))"))
        .as("pair"))
      .groupBy($"pair").agg(sum($"cnt").as("n"))
      .orderBy($"n".desc, $"pair").limit(20)
      // unpartitioned window bound (r22 audit): ≤ 20 rows (post-limit)
      .withColumn("rnk", row_number().over(Window.orderBy($"n".desc, $"pair")).cast("long"))
    val mergeArr = merges.agg(expr(
      """array_sort(
        |  collect_list(named_struct(
        |    'rnk', rnk,
        |    'pat', concat(chr(31), replace(pair, ' ', chr(31)), chr(31)),
        |    'rep', concat(chr(31), replace(pair, ' ', ''), chr(31)))),
        |  (a, b) -> CASE WHEN a.rnk < b.rnk THEN -1 WHEN a.rnk > b.rnk THEN 1 ELSE 0 END)
        |""".stripMargin).as("ms"))
    val enc = vocab.select($"token")
      .filter(expr("instr(token, chr(31)) = 0"))
      .crossJoin(broadcast(mergeArr))
      .withColumn("enc0", // filter: Java split('') emits a trailing "" under limit=-1
        expr("concat(chr(31), concat_ws(chr(31), filter(split(token, ''), x -> x != '')), chr(31))"))
      .withColumn("enc", expr("aggregate(ms, enc0, (acc, m) -> replace(acc, m.pat, m.rep))"))
      .select($"token",
        expr("length(enc) - length(replace(enc, chr(31), '')) - 1").cast("long").as("segs"),
        length($"token").cast("long").as("chars"))
    stCnt.join(broadcast(enc), "token")
      .groupBy($"source")
      .agg(sum($"cnt" * $"chars").as("n_chars"),
        sum($"cnt").as("n_words"),
        sum($"cnt" * $"segs").as("n_bpe_tokens"))
      .withColumn("compression_ppm", expr("(n_bpe_tokens * 1000000) DIV n_chars"))
      .orderBy($"source")
  }
  private val q150Sql =
    s"""WITH RECURSIVE st AS (
       |  SELECT source, unnest($toksSql) AS token FROM documents
       |),
       |sc AS (SELECT source, token, count(*) AS cnt FROM st GROUP BY 1, 2),
       |vocab AS (SELECT token, CAST(sum(cnt) AS BIGINT) AS cnt FROM sc GROUP BY 1),
       |prs AS (
       |  SELECT cnt, unnest(list_transform(generate_series(1, length(token) - 1),
       |    i -> concat(substr(token, i, 1), ' ', substr(token, i + 1, 1)))) AS pair
       |  FROM vocab WHERE length(token) >= 2
       |),
       |merges0 AS (
       |  SELECT pair, CAST(sum(cnt) AS BIGINT) AS n FROM prs GROUP BY 1
       |  ORDER BY n DESC, pair LIMIT 20
       |),
       |merges AS (
       |  SELECT pair, CAST(row_number() OVER (ORDER BY n DESC, pair) AS BIGINT) AS rnk
       |  FROM merges0
       |),
       |nm AS (SELECT CAST(count(*) AS BIGINT) AS n_merges FROM merges),
       |venc0 AS (
       |  SELECT token,
       |    concat(chr(31), array_to_string(string_split(token, ''), chr(31)), chr(31)) AS enc
       |  FROM vocab WHERE instr(token, chr(31)) = 0
       |),
       |encr AS (
       |  SELECT token, enc, CAST(0 AS BIGINT) AS i FROM venc0
       |  UNION ALL
       |  SELECT e.token,
       |    replace(e.enc,
       |      concat(chr(31), replace(m.pair, ' ', chr(31)), chr(31)),
       |      concat(chr(31), replace(m.pair, ' ', ''), chr(31))),
       |    e.i + 1
       |  FROM encr e JOIN merges m ON m.rnk = e.i + 1
       |  WHERE e.i < (SELECT n_merges FROM nm)
       |),
       |venc AS (
       |  SELECT token,
       |    CAST(length(enc) - length(replace(enc, chr(31), '')) - 1 AS BIGINT) AS segs,
       |    CAST(length(token) AS BIGINT) AS chars
       |  FROM encr WHERE i = (SELECT n_merges FROM nm)
       |)
       |SELECT source,
       |  CAST(sum(cnt * chars) AS BIGINT) AS n_chars,
       |  CAST(sum(cnt) AS BIGINT) AS n_words,
       |  CAST(sum(cnt * segs) AS BIGINT) AS n_bpe_tokens,
       |  (CAST(sum(cnt * segs) AS BIGINT) * 1000000) // CAST(sum(cnt * chars) AS BIGINT) AS compression_ppm
       |FROM sc JOIN venc USING (token)
       |GROUP BY source
       |ORDER BY source""".stripMargin

  // ---------------------------------------------------------------- q96
  /** Hashing-trick linear quality classifier — fastText-style INFERENCE
    * shape: each token hashes into one of 256 feature buckets (first
    * md5 byte, the q83 instr() idiom both engines share bit-for-bit)
    * and the document's score is the sum of the buckets' weights. The
    * weight table is a deterministic stand-in (w[b] = b − 128 — real
    * trained weights aren't cross-engine replayable), but the shape is
    * the production one: a real model's weight row rides along exactly
    * like this hash-indexed lookup.
    *
    * Scale shape: the whole classifier is ONE codegen'd per-row HOF
    * aggregate — zero shuffles before the output sort (pinned in
    * QualityClassifierSpec), so at 100 TB it is a pure map-side scan,
    * embarrassingly parallel across any number of executors. */
  private def featWeightFromHex(h: String) =
    s"(instr('0123456789abcdef', substr($h, 1, 1)) - 1) * 16 + " +
      s"(instr('0123456789abcdef', substr($h, 2, 1)) - 1) - 128"
  /** Classifier score over a `toks` array column — ONE md5 per token:
    * the digests are materialized by an inner transform, then the
    * weight lambda reads two hex chars of each digest. Inlining the
    * digest into the weight expression instead would evaluate md5
    * twice per token (no CSE inside HOF lambdas, and ArrayAggregate is
    * CodegenFallback) — measured as the dominant per-row cost of
    * q96/q100/q101. NULL for a NULL toks array; 0 for an empty one. */
  private[graft] val scoreExpr =
    "aggregate(transform(toks, t -> md5(concat('feat|', t))), CAST(0 AS BIGINT), " +
      s"(a, h) -> a + CAST(${featWeightFromHex("h")} AS BIGINT))"
  /** DuckDB twin of [[scoreExpr]] (NULL on empty or NULL lists —
    * coalesce at use sites that keep empty docs). */
  private[graft] val scoreSql =
    "CAST(list_sum(list_transform(list_transform(toks, t -> md5(concat('feat|', t))), " +
      s"h -> ${featWeightFromHex("h")})) AS BIGINT)"
  private def q96(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, dir)
      .select($"doc_id", expr(toksExpr).as("toks"))
      .filter(size($"toks") >= 1)
      .select($"doc_id",
        size($"toks").cast("long").as("n_toks"),
        expr(scoreExpr).as("score"))
      .withColumn("keep", when($"score" > 0, 1L).otherwise(0L))
      .orderBy($"doc_id")
  }
  private val q96Sql =
    s"""SELECT doc_id,
       |  CAST(len(toks) AS BIGINT) AS n_toks,
       |  $scoreSql AS score,
       |  CAST(CASE WHEN $scoreSql > 0
       |       THEN 1 ELSE 0 END AS BIGINT) AS keep
       |FROM (SELECT doc_id, $toksSql AS toks FROM documents)
       |WHERE len(toks) >= 1
       |ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- q97
  /** Unigram-LM surprisal filter — the KenLM-lite quality gate: a
    * token's surprisal is the bit-length of total_tokens/count(token)
    * (an exact-integer ⌊log₂ 1/p⌋+1 via length(bin(x)), the q85 trick —
    * never FP log, which rounds differently across engines). Documents
    * are scored by their mean token surprisal in ppm; rare-token-heavy
    * (high-perplexity) docs fail the gate.
    *
    * Scale shape: token-frequency aggregation (the shuffle the corpus
    * LM needs anyway), a VOCABULARY-sized frame joined back BROADCAST
    * (a 10 M-type vocab is megabytes next to a 100 TB corpus), one
    * per-doc aggregation. The corpus total rides on the broadcast side
    * as a 1-row cross join — no driver collect. The corpus is tokenized
    * ONCE: every consumer shares the tf aggregate's exchange (AQE stage
    * reuse), so the explode+count map pass is written to one shuffle
    * and only reduce-side aggregates re-run per consumer (r22 — see the
    * note in the body; the frame was previously persisted instead,
    * which cost more than it saved). */
  private def q97(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // r22 (guide §2.4): tf is NOT persisted — q112's lesson. Both
    // consumers (the vocab chain and the per-doc scoring join) contain
    // the identical tf aggregate subtree, so the tokenize + explode map
    // side is written to ONE reused exchange and only the cheap
    // reduce-side final aggregate re-runs per consumer; the old persist
    // replaced that reusable exchange with a columnar cache whose
    // build + decompressing scans cost more than they saved. The
    // "3 corpus scans when unpersisted" note this replaces predates
    // AQE stage reuse in this plan shape (probe: 10 jobs, one parquet
    // scan either way; ~25% faster unpersisted).
    val tf = Tables.documents(s, dir)
      .select($"doc_id", explode(expr(toksExpr)).as("t"))
      .groupBy($"doc_id", $"t").agg(count(lit(1)).as("tf"))
    val vocab = tf.groupBy($"t").agg(sum($"tf").as("cnt"))
    val total = vocab.agg(sum($"cnt").as("total"))
    val scored = vocab.crossJoin(broadcast(total))
      .select($"t", length(bin(expr("total DIV cnt"))).cast("long").as("bits"))
    tf.join(broadcast(scored), "t")
      .groupBy($"doc_id")
      .agg(sum($"tf").cast("long").as("n_toks"),
        sum($"tf" * $"bits").cast("long").as("sum_bits"))
      .withColumn("mean_bits_ppm", expr("(sum_bits * 1000000) DIV n_toks"))
      .withColumn("keep", when($"mean_bits_ppm" <= 10000000L, 1L).otherwise(0L))
      .select($"doc_id", $"n_toks", $"sum_bits", $"mean_bits_ppm", $"keep")
      .orderBy($"doc_id")
  }
  private val q97Sql =
    s"""WITH tf AS (
       |  SELECT doc_id, t, count(*) AS tf
       |  FROM (SELECT doc_id, unnest($toksSql) AS t FROM documents)
       |  GROUP BY 1, 2
       |),
       |vocab AS (SELECT t, CAST(sum(tf) AS BIGINT) AS cnt FROM tf GROUP BY 1),
       |tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS total FROM vocab),
       |scored AS (
       |  SELECT t, CAST(length(bin(total // cnt)) AS BIGINT) AS bits
       |  FROM vocab CROSS JOIN tot
       |)
       |SELECT doc_id, n_toks, sum_bits,
       |  (sum_bits * 1000000) // n_toks AS mean_bits_ppm,
       |  CAST(CASE WHEN (sum_bits * 1000000) // n_toks <= 10000000
       |       THEN 1 ELSE 0 END AS BIGINT) AS keep
       |FROM (
       |  SELECT tf.doc_id,
       |    CAST(sum(tf.tf) AS BIGINT) AS n_toks,
       |    CAST(sum(tf.tf * s.bits) AS BIGINT) AS sum_bits
       |  FROM tf JOIN scored s USING (t)
       |  GROUP BY 1
       |)
       |ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- q101
  /** Token-budget corpus selection — the "best N tokens" curation op:
    * rank every document by quality (q96's classifier score, ties by
    * doc_id) and keep documents greedily, best-first, until a global
    * token budget is exhausted (budget = half the corpus tokens,
    * derived from the data so the query scales with it). Each doc gets
    * its running cumulative token count and a keep verdict.
    *
    * Scale shape — a global ordered prefix sum WITHOUT a global
    * single-partition window: [[graft.core.PrefixSum.runningTotal]]
    * decomposes cum(doc) into key offset (score) + shard offset
    * (id-range shard within the score) + a within-shard window, so
    * even a corpus where ONE score dominates (millions of empty-ish
    * docs all scoring 0) never serializes a document-sized frame
    * through a single partition — the modal-key skew hazard a plain
    * partition-by-score prefix sum keeps. The budget rides a broadcast
    * 1-row aggregate (q97 idiom). TokenBudgetSpec pins the decomposed
    * sum against a global-window reference and the
    * no-global-doc-window plan shape; PrefixSumSpec stresses the
    * helper on adversarial single-key and sparse-id frames. */
  private def q101(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val scored = graft.core.ScratchCache.persist(
      Tables.documents(s, dir)
        .select($"doc_id", expr(toksExpr).as("toks"))
        .filter(size($"toks") >= 1)
        .select($"doc_id",
          size($"toks").cast("long").as("n_toks"),
          expr(scoreExpr).as("score")))
    val budget = scored.agg(expr("sum(n_toks) DIV 2").as("budget"))
    graft.core.PrefixSum.runningTotal(scored, "score", "doc_id", "n_toks", "cum_tokens")
      .crossJoin(broadcast(budget))
      .select($"doc_id", $"score", $"n_toks", $"cum_tokens",
        when($"cum_tokens" <= $"budget", 1L).otherwise(0L).as("keep"))
      .orderBy($"doc_id")
  }
  private val q101Sql =
    s"""WITH scored AS (
       |  SELECT doc_id,
       |    CAST(len(toks) AS BIGINT) AS n_toks,
       |    $scoreSql AS score
       |  FROM (SELECT doc_id, $toksSql AS toks FROM documents)
       |  WHERE len(toks) >= 1
       |),
       |tot AS (SELECT sum(n_toks) // 2 AS budget FROM scored)
       |SELECT doc_id, score, n_toks, cum_tokens,
       |  CAST(CASE WHEN cum_tokens <= budget THEN 1 ELSE 0 END AS BIGINT) AS keep
       |FROM (
       |  SELECT doc_id, score, n_toks,
       |    CAST(sum(n_toks) OVER (ORDER BY score DESC, doc_id
       |         ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens
       |  FROM scored
       |) CROSS JOIN tot
       |ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- q146
  /** Quality-gate agreement matrix — the filter-ensemble dashboard a
    * curation team reads before composing gates: for every pair of the
    * four independent quality filters (q104's Gopher rules, q96's
    * hashing-trick classifier, q97's surprisal gate, q93's rare-bigram
    * gate) the 2×2 confusion cells (both pass / A only / B only /
    * neither) and the agreement rate in ppm. Highly-agreeing gates are
    * redundant (drop the expensive one); strongly-disagreeing gates
    * flag a population one of them is wrong about — this query is how
    * you find out WHICH before betting a 100 TB filtering run on it.
    * The universe is documents with ≥2 tokens (the smallest universe
    * on which all four gates are defined); the surprisal/rare-bigram
    * corpus statistics are computed over that same universe, so the
    * matrix is self-consistent and engine-replayable.
    *
    * Scale shape: the corpus is tokenized ONCE (persisted toks frame
    * feeds all four gates); gopher+classifier are per-row map work,
    * surprisal reuses one (doc, token) aggregate with a broadcast
    * vocabulary (q97 shape), rare-bigram one (doc, bigram) aggregate
    * with a broadcast count frame (q93 shape). The pair explosion is a
    * 6-row broadcast cross join — output is 6 rows at any corpus
    * size. */
  private val gateNames = Seq("classifier", "gopher", "rare_bigram", "surprisal")
  private def q146(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val allStop = stop.values.flatten.toSeq.distinct.sorted
    val toksDf = graft.core.ScratchCache.persist(
      Tables.documents(s, dir)
        .select($"doc_id", expr(toksExpr).as("toks"))
        .filter(size($"toks") >= 2))
    // map-side gates: gopher rules + classifier score in ONE pass
    val mapGates = toksDf.select($"doc_id",
        size($"toks").cast("long").as("n_tokens"),
        expr("aggregate(toks, 0, (a, t) -> a + length(t))").cast("long").as("token_chars"),
        size(array_distinct($"toks")).cast("long").as("n_distinct"),
        expr(hitsExpr(allStop)).cast("long").as("stop_hits"),
        expr(scoreExpr).as("score"))
      .select($"doc_id",
        ($"n_tokens" >= 50L && $"n_tokens" <= 100000L &&
          $"token_chars" >= $"n_tokens" * 3L && $"token_chars" <= $"n_tokens" * 10L &&
          $"stop_hits" >= 2L && $"n_distinct" * 2L >= $"n_tokens").as("g_gopher"),
        ($"score" > 0L).as("g_classifier"))
    // surprisal gate (q97 shape) over the same universe.
    // r22 (guide §2.4): tf NOT persisted — q97/q112's lesson. Its two
    // consumers (vocab chain, surp join) share the identical aggregate
    // subtree, so the explode+count map side is deduplicated by
    // exchange reuse; the persist's columnar cache cost more than the
    // duplicated reduce sides. toksDf above STAYS persisted: it is
    // map-topped (no exchange to reuse) and its two consumers diverge
    // immediately, so the cache is what dedups the tokenize there.
    val tf = toksDf.select($"doc_id", explode($"toks").as("t"))
      .groupBy($"doc_id", $"t").agg(count(lit(1)).as("tf"))
    val vocab = tf.groupBy($"t").agg(sum($"tf").as("cnt"))
    val total = vocab.agg(sum($"cnt").as("total"))
    val scoredVocab = vocab.crossJoin(broadcast(total))
      .select($"t", length(bin(expr("total DIV cnt"))).cast("long").as("bits"))
    val surp = tf.join(broadcast(scoredVocab), "t")
      .groupBy($"doc_id")
      .agg(sum($"tf").cast("long").as("n_toks"),
        sum($"tf" * $"bits").cast("long").as("sum_bits"))
      .select($"doc_id",
        (expr("(sum_bits * 1000000) DIV n_toks") <= 10000000L).as("g_surprisal"))
    // rare-bigram gate (q93 shape) over the same universe
    val bg = toksDf.select($"doc_id", explode(expr(
      "word_ngrams(toks, 2)")).as("bigram"))
    val btf = bg.groupBy($"doc_id", $"bigram").agg(count(lit(1)).as("tf"))
    val bcnt = btf.groupBy($"bigram").agg(sum($"tf").as("corpus_cnt"))
    val rare = btf.join(broadcast(bcnt), "bigram")
      .groupBy($"doc_id")
      .agg(sum($"tf").as("n_bigrams"),
        sum(when($"corpus_cnt" <= 5, $"tf").otherwise(lit(0L))).as("n_rare"))
      .select($"doc_id",
        (expr("(n_rare * 1000000) DIV n_bigrams") <= 100000L).as("g_rare_bigram"))
    val gates = mapGates.join(surp, "doc_id").join(rare, "doc_id")
    val pairs = gateNames.combinations(2).map { case Seq(a, b) => (a, b) }.toSeq
      .toDF("gate_a", "gate_b")
    val pick = (n: Column) =>
      when(n === "gopher", $"g_gopher")
        .when(n === "classifier", $"g_classifier")
        .when(n === "surprisal", $"g_surprisal")
        .otherwise($"g_rare_bigram")
    gates.crossJoin(broadcast(pairs))
      .select($"gate_a", $"gate_b",
        pick($"gate_a").as("ga"), pick($"gate_b").as("gb"))
      .groupBy($"gate_a", $"gate_b")
      .agg(
        sum(when($"ga" && $"gb", 1L).otherwise(0L)).as("n_both"),
        sum(when($"ga" && !$"gb", 1L).otherwise(0L)).as("n_a_only"),
        sum(when(!$"ga" && $"gb", 1L).otherwise(0L)).as("n_b_only"),
        sum(when(!$"ga" && !$"gb", 1L).otherwise(0L)).as("n_neither"))
      .withColumn("agree_ppm",
        expr("((n_both + n_neither) * 1000000) DIV (n_both + n_a_only + n_b_only + n_neither)"))
      .orderBy($"gate_a", $"gate_b")
  }
  private val q146Sql = {
    val allStop = stop.values.flatten.toSeq.distinct.sorted
    val pairRows = gateNames.combinations(2)
      .map { case Seq(a, b) => s"('$a', '$b')" }.mkString(", ")
    s"""WITH base AS (
       |  SELECT doc_id, toks FROM (SELECT doc_id, $toksSql AS toks FROM documents)
       |  WHERE len(toks) >= 2
       |),
       |map_g AS (
       |  SELECT doc_id,
       |    (n_tokens BETWEEN 50 AND 100000
       |     AND token_chars >= n_tokens * 3 AND token_chars <= n_tokens * 10
       |     AND stop_hits >= 2 AND n_distinct * 2 >= n_tokens) AS g_gopher,
       |    (score > 0) AS g_classifier
       |  FROM (
       |    SELECT doc_id,
       |      CAST(len(toks) AS BIGINT) AS n_tokens,
       |      CAST(list_sum(list_transform(toks, t -> length(t))) AS BIGINT) AS token_chars,
       |      CAST(len(list_distinct(toks)) AS BIGINT) AS n_distinct,
       |      ${hitsSql(allStop)} AS stop_hits,
       |      $scoreSql AS score
       |    FROM base
       |  )
       |),
       |tf AS (
       |  SELECT doc_id, t, count(*) AS tf
       |  FROM (SELECT doc_id, unnest(toks) AS t FROM base) GROUP BY 1, 2
       |),
       |vocab AS (SELECT t, CAST(sum(tf) AS BIGINT) AS cnt FROM tf GROUP BY 1),
       |tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS total FROM vocab),
       |sv AS (SELECT t, CAST(length(bin(total // cnt)) AS BIGINT) AS bits
       |       FROM vocab CROSS JOIN tot),
       |surp AS (
       |  SELECT doc_id, ((sum_bits * 1000000) // n_toks <= 10000000) AS g_surprisal
       |  FROM (
       |    SELECT tf.doc_id, CAST(sum(tf.tf) AS BIGINT) AS n_toks,
       |      CAST(sum(tf.tf * sv.bits) AS BIGINT) AS sum_bits
       |    FROM tf JOIN sv USING (t) GROUP BY 1
       |  )
       |),
       |bg AS (
       |  SELECT doc_id, unnest(list_transform(generate_series(1, len(toks) - 1),
       |    i -> concat(toks[i], ' ', toks[i + 1]))) AS bigram
       |  FROM base
       |),
       |btf AS (SELECT doc_id, bigram, count(*) AS tf FROM bg GROUP BY 1, 2),
       |bcnt AS (SELECT bigram, sum(tf) AS corpus_cnt FROM btf GROUP BY 1),
       |rare AS (
       |  SELECT doc_id, ((n_rare * 1000000) // n_bigrams <= 100000) AS g_rare_bigram
       |  FROM (
       |    SELECT btf.doc_id, CAST(sum(btf.tf) AS BIGINT) AS n_bigrams,
       |      CAST(sum(CASE WHEN bcnt.corpus_cnt <= 5 THEN btf.tf ELSE 0 END) AS BIGINT) AS n_rare
       |    FROM btf JOIN bcnt USING (bigram) GROUP BY 1
       |  )
       |),
       |gates AS (
       |  SELECT doc_id, g_gopher, g_classifier, g_surprisal, g_rare_bigram
       |  FROM map_g JOIN surp USING (doc_id) JOIN rare USING (doc_id)
       |),
       |pairs(gate_a, gate_b) AS (VALUES $pairRows),
       |picked AS (
       |  SELECT gate_a, gate_b,
       |    CASE gate_a WHEN 'gopher' THEN g_gopher WHEN 'classifier' THEN g_classifier
       |      WHEN 'surprisal' THEN g_surprisal ELSE g_rare_bigram END AS ga,
       |    CASE gate_b WHEN 'gopher' THEN g_gopher WHEN 'classifier' THEN g_classifier
       |      WHEN 'surprisal' THEN g_surprisal ELSE g_rare_bigram END AS gb
       |  FROM gates CROSS JOIN pairs
       |)
       |SELECT gate_a, gate_b, n_both, n_a_only, n_b_only, n_neither,
       |  ((n_both + n_neither) * 1000000) // (n_both + n_a_only + n_b_only + n_neither) AS agree_ppm
       |FROM (
       |  SELECT gate_a, gate_b,
       |    CAST(sum(CASE WHEN ga AND gb THEN 1 ELSE 0 END) AS BIGINT) AS n_both,
       |    CAST(sum(CASE WHEN ga AND NOT gb THEN 1 ELSE 0 END) AS BIGINT) AS n_a_only,
       |    CAST(sum(CASE WHEN NOT ga AND gb THEN 1 ELSE 0 END) AS BIGINT) AS n_b_only,
       |    CAST(sum(CASE WHEN NOT ga AND NOT gb THEN 1 ELSE 0 END) AS BIGINT) AS n_neither
       |  FROM picked GROUP BY 1, 2
       |)
       |ORDER BY gate_a, gate_b""".stripMargin
  }

  // ---------------------------------------------------------------- q104
  /** Gopher-style rule-based quality gate (Rae et al. 2021 §A1.1,
    * adapted to this corpus's no-newline docs): a document survives
    * only if it passes EVERY structural rule —
    *   r_wordcount:  50 ≤ tokens ≤ 100 000
    *   r_wordlen:    mean token length in [3, 10]
    *   r_stop:       ≥ 2 stopword hits (union list across languages)
    *   r_repetition: ≤ half the tokens are repeats of an earlier token
    * Where Gopher thresholds are fractional (mean word length), the
    * comparison is cross-multiplied onto exact integers
    * (3·n ≤ chars ≤ 10·n) so no engine ever divides — the q93
    * integer-arithmetic contract. Unlike q35 (a weighted score for
    * ranking) this is the hard PASS/FAIL gate pipelines run first.
    *
    * Scale shape: one codegen'd per-row pass, zero pre-sort shuffles —
    * embarrassingly parallel at any corpus size (GopherRulesSpec pins
    * the rule boundaries). Package-private core for the spec. */
  private[text] def gopherOf(docs: DataFrame): DataFrame = {
    val allStop = stop.values.flatten.toSeq.distinct.sorted
    docs
      .select(col("doc_id"), expr(toksExpr).as("toks"))
      .filter(size(col("toks")) >= 1)
      .select(col("doc_id"),
        size(col("toks")).cast("long").as("n_tokens"),
        expr("aggregate(toks, 0, (a, t) -> a + length(t))").cast("long").as("token_chars"),
        size(array_distinct(col("toks"))).cast("long").as("n_distinct"),
        expr(hitsExpr(allStop)).cast("long").as("stop_hits"))
      .withColumn("r_wordcount", col("n_tokens") >= 50L && col("n_tokens") <= 100000L)
      .withColumn("r_wordlen",
        col("token_chars") >= col("n_tokens") * 3L && col("token_chars") <= col("n_tokens") * 10L)
      .withColumn("r_stop", col("stop_hits") >= 2L)
      .withColumn("r_repetition", col("n_distinct") * 2L >= col("n_tokens"))
      .withColumn("keep",
        col("r_wordcount") && col("r_wordlen") && col("r_stop") && col("r_repetition"))
  }
  private def q104(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    gopherOf(Tables.documents(s, dir)).orderBy($"doc_id")
  }
  private val q104Sql = {
    val allStop = stop.values.flatten.toSeq.distinct.sorted
    s"""SELECT doc_id, n_tokens, token_chars, n_distinct, stop_hits,
       |  (n_tokens BETWEEN 50 AND 100000) AS r_wordcount,
       |  (token_chars >= n_tokens * 3 AND token_chars <= n_tokens * 10) AS r_wordlen,
       |  (stop_hits >= 2) AS r_stop,
       |  (n_distinct * 2 >= n_tokens) AS r_repetition,
       |  ((n_tokens BETWEEN 50 AND 100000)
       |   AND token_chars >= n_tokens * 3 AND token_chars <= n_tokens * 10
       |   AND stop_hits >= 2 AND n_distinct * 2 >= n_tokens) AS keep
       |FROM (
       |  SELECT doc_id,
       |    CAST(len(toks) AS BIGINT) AS n_tokens,
       |    CAST(list_sum(list_transform(toks, t -> length(t))) AS BIGINT) AS token_chars,
       |    CAST(len(list_distinct(toks)) AS BIGINT) AS n_distinct,
       |    ${hitsSql(allStop)} AS stop_hits
       |  FROM (SELECT doc_id, $toksSql AS toks FROM documents)
       |  WHERE len(toks) >= 1
       |)
       |ORDER BY doc_id""".stripMargin
  }

  // ---------------------------------------------------------------- q105
  /** Per-language quality-quantile gate — the DYNAMIC counterpart to
    * q96's fixed `score > 0` cut: keep each language's top quartile by
    * classifier score, so the threshold adapts per language instead of
    * letting one language's score distribution starve another (the
    * multilingual-curation failure mode a global cut has).
    *
    * Determinism: scores are exact integers; percentile(·, 0.75)
    * interpolates lo + (hi−lo)·0.75 between two integers, and every
    * operand/step of that expression is exactly representable in a
    * double (0.75 is a dyadic rational; the scores are far below 2^52),
    * so Spark's percentile and DuckDB's quantile_cont produce the
    * bit-identical threshold and `score >= thr` cannot straddle an ulp.
    *
    * Scale shape: one linear scoring pass (persisted — the threshold
    * branch and the filter branch must not re-tokenize the corpus),
    * a per-lang aggregate of INTEGER SCORES ONLY (never text payloads),
    * broadcast back — the classic "tiny aggregate, broadcast join"
    * shape. Caveat, documented honestly: Spark's exact `percentile`
    * buffers each group's values on its reducer, so the catalog query
    * is the oracle-checkable exact twin; at 100 TB swap in
    * `approx_percentile` (bounded-memory sketch, same plan shape) —
    * the one-line swap QuantileGateSpec demonstrates. */
  private[text] def quantileGateOf(docs: DataFrame, pct: Double = 0.75,
                                   exact: Boolean = true): DataFrame = {
    val scored = graft.core.ScratchCache.persist(docs
      .select(col("doc_id"), col("lang"), expr(toksExpr).as("toks"))
      .filter(size(col("toks")) >= 1)
      .select(col("doc_id"), col("lang"), expr(scoreExpr).as("score")))
    val pctExpr = if (exact) s"percentile(score, $pct)"
                  else s"approx_percentile(score, $pct)"
    val thr = scored.groupBy(col("lang")).agg(expr(pctExpr).cast("double").as("thr"))
    scored.join(broadcast(thr), Seq("lang"))
      .filter(col("score").cast("double") >= col("thr"))
      .select(col("doc_id"), col("lang"), col("score"), round(col("thr"), 4).as("lang_p75"))
  }
  private def q105(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    quantileGateOf(Tables.documents(s, dir)).orderBy($"doc_id")
  }
  private val q105Sql =
    s"""WITH scored AS (
       |  SELECT doc_id, lang, $scoreSql AS score
       |  FROM (SELECT doc_id, lang, $toksSql AS toks FROM documents)
       |  WHERE len(toks) >= 1
       |),
       |thr AS (SELECT lang, quantile_cont(score, 0.75) AS thr FROM scored GROUP BY 1)
       |SELECT s.doc_id, s.lang, s.score, round(t.thr, 4) AS lang_p75
       |FROM scored s JOIN thr t USING (lang)
       |WHERE CAST(s.score AS DOUBLE) >= t.thr
       |ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- q110
  /** Temperature-scaled language mixture sampling — the multilingual
    * rebalancing step (mBERT/XLM-R style): sample quotas proportional
    * to n_lang^α with α = 0.5, which UP-samples low-resource languages
    * relative to raw frequency (α = 1) without flattening to uniform
    * (α = 0). The target total is a fifth of the corpus; quotas are
    * apportioned by LARGEST REMAINDER — clamped at each language's
    * doc count, with one redistribution round absorbing the
    * saturation shortfall (see [[temperatureMixtureOf]]) — and the
    * per-lang take is the q76 md5-ranked deterministic selection.
    *
    * Cross-engine determinism: α = 0.5 is deliberate — sqrt is
    * CORRECTLY ROUNDED under IEEE-754 in both engines, whereas
    * pow(x, α) for general α is a libm call with no cross-platform
    * bit guarantee (the q93 contract, FP edition). The rounded sqrt
    * weight is immediately quantized to an integer (floor(·×10⁶)) and
    * EVERYTHING downstream — totals, bases, remainders, leftover
    * assignment — is exact integer arithmetic, so the apportionment
    * cannot drift between engines.
    *
    * Scale shape: the weight/quota frame is |langs| rows (one tiny
    * aggregate, cross-joined to a 1-row total — the q97 idiom, no
    * driver collect), joined back BROADCAST; the per-lang ranking
    * window is the q76 shape (a dynamic quota defeats the
    * WindowGroupLimit pre-limit, so the production swap for exact
    * quotas at 100 TB is a q83-style hash-threshold preselection at
    * quota/n_l + ε followed by this exact rank inside the reduced
    * candidate set). */
  /** Core of q110 over a (doc_id, lang) frame — package-private for
    * TemperatureMixtureSpec's saturation fixtures.
    *
    * Apportionment, exactly (all integer arithmetic; products widened
    * to DECIMAL(38,0)/HUGEINT because t·w_l overflows BIGINT at
    * ~10^10 docs — silent wraparound in Spark, a raise in DuckDB):
    *  1. largest-remainder quotas of t = N DIV 5 by weights
    *     w_l = ⌊sqrt(n_l)·10⁶⌋;
    *  2. CLAMP each quota at n_l (α < 1 can assign a tiny language
    *     more docs than it has) and REDISTRIBUTE the shortfall among
    *     the unsaturated languages by the same largest-remainder
    *     rule — one round, then a final clamp. A redistribution that
    *     itself saturates another language under-fills the target by
    *     the remainder (a full fixpoint is unbounded rounds; one
    *     round covers the realistic single-outlier case, and the
    *     final clamp keeps every quota valid — the cascade case is
    *     pinned in TemperatureMixtureSpec). */
  /** The α = 0.5 weight q110 ships with; q177's annealing schedule
    * swaps in α = 1 and α = 0.25 (a second correctly-rounded sqrt —
    * still bit-deterministic, unlike libm pow). */
  private val sqrtWeightExpr =
    "CAST(floor(sqrt(CAST(n_l AS DOUBLE)) * 1000000) AS BIGINT)"
  /** Quota table only — the largest-remainder apportionment core of
    * [[temperatureMixtureOf]], parameterized by the weight expression
    * so q177 can anneal the temperature across epochs. Returns one row
    * per lang: (lang, n_l, quota). */
  private[text] def mixtureQuotasOf(docsIn: DataFrame,
      weightExpr: String = sqrtWeightExpr): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // Unpartitioned-window cardinality bound (r22 audit): every window
    // below (the `all` totals and the two remainder-rank windows) runs
    // over the per-language quota frame — ≤ |languages| rows (single
    // digits on this corpus, at most a few hundred for any real one),
    // never document-sized.
    val all = Window.partitionBy(lit(1))
    val n = docsIn.select(col("doc_id"), col("lang"))
      .groupBy(col("lang")).agg(count(lit(1)).as("n_l"))
    val w = n.withColumn("w_l", expr(weightExpr))
    val tot = w.agg(expr("CAST(sum(n_l) DIV 5 AS BIGINT)").as("t"),
      sum(col("w_l")).cast("long").as("ww"))
    val q0 = w.crossJoin(broadcast(tot))
      .select(col("lang"), col("n_l"), col("t"), col("w_l"),
        expr("CAST((CAST(t AS DECIMAL(38,0)) * w_l) DIV ww AS BIGINT)").as("base"),
        expr("CAST((CAST(t AS DECIMAL(38,0)) * w_l) % ww AS BIGINT)").as("rem"))
    val q1 = q0
      .withColumn("total_base", sum(col("base")).over(all))
      .withColumn("quota0",
        col("base") + when(row_number().over(Window.orderBy(col("rem").desc, col("lang")))
          .cast("long") <= col("t") - col("total_base"), 1L).otherwise(0L))
      .withColumn("give", least(col("quota0"), col("n_l")))
    val q2 = q1
      .withColumn("shortfall", col("t") - sum(col("give")).over(all))
      .withColumn("unsat", col("quota0") < col("n_l"))
      .withColumn("ww2", sum(when(col("unsat"), col("w_l")).otherwise(0L)).over(all))
      .withColumn("add0", when(col("unsat") && col("ww2") > 0L,
        expr("CAST((CAST(shortfall AS DECIMAL(38,0)) * w_l) DIV ww2 AS BIGINT)")).otherwise(0L))
      .withColumn("rem2", when(col("unsat") && col("ww2") > 0L,
        expr("CAST((CAST(shortfall AS DECIMAL(38,0)) * w_l) % ww2 AS BIGINT)")).otherwise(-1L))
      .withColumn("leftover2", col("shortfall") - sum(col("add0")).over(all))
      .withColumn("quota", least(
        col("give") + col("add0") +
          when(col("unsat") && row_number().over(Window.orderBy(col("rem2").desc, col("lang")))
            .cast("long") <= col("leftover2"), 1L).otherwise(0L),
        col("n_l")))
    q2.select(col("lang"), col("n_l"), col("quota"))
  }
  private[text] def temperatureMixtureOf(docsIn: DataFrame): DataFrame = {
    val docs = graft.core.ScratchCache.persist(
      docsIn.select(col("doc_id"), col("lang")))
    val alloc = mixtureQuotasOf(docs).select(col("lang"), col("quota"))
    // per-lang rank over the CORPUS: `lang` is a ~5-value key and the
    // quota is data-dependent (no WindowGroupLimit pushdown, unlike
    // q76's literal N), so a plain PARTITION BY lang window would sort
    // ⅕ of the corpus in one task — the q109 hazard. keyedRank shards
    // by the leading 60 bits of the order hash (fixed-width lowercase
    // hex: lexicographic == numeric, so the proxy is order-monotone).
    val ordMd5 = md5(concat(lit("tmix|"), col("doc_id").cast("string")))
    graft.core.PrefixSum.keyedRank(
        docs, "lang",
        expr("CAST(conv(substr(md5(concat('tmix|', CAST(doc_id AS STRING))), 1, 15), 16, 10) AS BIGINT)"),
        Seq(ordMd5, col("doc_id")), "rk")
      .join(broadcast(alloc), Seq("lang"))
      .filter(col("rk") <= col("quota"))
      .select(col("doc_id"), col("lang"), col("quota"), col("rk"))
  }
  private def q110(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    temperatureMixtureOf(Tables.documents(s, dir)).orderBy($"doc_id")
  }
  private val q110Sql =
    """WITH n AS (SELECT lang, count(*) AS n_l FROM documents GROUP BY 1),
      |w AS (SELECT lang, n_l,
      |  CAST(floor(sqrt(CAST(n_l AS DOUBLE)) * 1000000) AS BIGINT) AS w_l FROM n),
      |tot AS (SELECT CAST(sum(n_l) // 5 AS BIGINT) AS t, CAST(sum(w_l) AS BIGINT) AS ww FROM w),
      |q0 AS (SELECT w.lang, w.n_l, tot.t, w.w_l,
      |  CAST((CAST(tot.t AS HUGEINT) * w.w_l) // tot.ww AS BIGINT) AS base,
      |  CAST((CAST(tot.t AS HUGEINT) * w.w_l) % tot.ww AS BIGINT) AS rem
      |  FROM w, tot),
      |q1 AS (
      |  SELECT *, least(quota0, n_l) AS give FROM (
      |    SELECT *, base + (CASE WHEN row_number() OVER (ORDER BY rem DESC, lang)
      |                      <= t - sum(base) OVER () THEN 1 ELSE 0 END) AS quota0
      |    FROM q0
      |  )
      |),
      |q2 AS (
      |  SELECT *,
      |    CASE WHEN unsat AND ww2 > 0
      |         THEN CAST((CAST(shortfall AS HUGEINT) * w_l) // ww2 AS BIGINT) ELSE 0 END AS add0,
      |    CASE WHEN unsat AND ww2 > 0
      |         THEN CAST((CAST(shortfall AS HUGEINT) * w_l) % ww2 AS BIGINT) ELSE -1 END AS rem2
      |  FROM (
      |    SELECT *, t - sum(give) OVER () AS shortfall,
      |      (quota0 < n_l) AS unsat,
      |      sum(CASE WHEN quota0 < n_l THEN w_l ELSE 0 END) OVER () AS ww2
      |    FROM q1
      |  )
      |),
      |alloc AS (
      |  SELECT lang,
      |    least(give + add0 + (CASE WHEN unsat AND row_number() OVER (ORDER BY rem2 DESC, lang)
      |          <= shortfall - sum(add0) OVER () THEN 1 ELSE 0 END), n_l) AS quota
      |  FROM q2
      |),
      |ranked AS (
      |  SELECT doc_id, lang,
      |    CAST(row_number() OVER (PARTITION BY lang
      |      ORDER BY md5(concat('tmix|', CAST(doc_id AS VARCHAR))), doc_id) AS BIGINT) AS rk
      |  FROM documents
      |)
      |SELECT r.doc_id, r.lang, CAST(a.quota AS BIGINT) AS quota, r.rk
      |FROM ranked r JOIN alloc a USING (lang)
      |WHERE r.rk <= a.quota
      |ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- q177
  /** Temperature-ANNEALED mixture schedule — the multi-epoch quota
    * table a curriculum-style training run consumes: epoch 1 samples
    * at the corpus's natural language distribution (α = 1), epoch 2
    * rebalances at α = 0.5 (q110's mBERT/XLM-R setting), epoch 3
    * flattens further at α = 0.25 — low-resource languages gain share
    * as training progresses. α values are restricted to sqrt CHAINS
    * (α = 1, 0.5, 0.25) deliberately: sqrt is correctly rounded under
    * IEEE-754 in both engines, so even the composed double sqrt is
    * bit-deterministic, where libm pow(x, α) carries no cross-platform
    * guarantee. Each epoch's quotas are q110's exact largest-remainder
    * apportionment (clamp + one redistribution round), so every
    * epoch's quotas sum exactly to the target.
    *
    * Scale shape: one (lang) aggregate feeds all three epochs (the
    * weight is a per-lang scalar transform of the same n_l frame);
    * everything downstream is |langs|-row window work — the output is
    * 3 × |langs| rows at any corpus size. */
  private def q177(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = graft.core.ScratchCache.persist(
      Tables.documents(s, dir).select($"doc_id", $"lang"))
    val epochs = Seq(
      1 -> "CAST(n_l AS BIGINT)",
      2 -> sqrtWeightExpr,
      3 -> "CAST(floor(sqrt(sqrt(CAST(n_l AS DOUBLE))) * 1000000) AS BIGINT)")
    epochs.map { case (e, we) =>
      mixtureQuotasOf(docs, we)
        .select(lit(e.toLong).as("epoch"), col("lang"), col("n_l"), col("quota"))
    }.reduce(_ unionAll _).orderBy($"epoch", $"lang")
  }
  private def quotaEpochSql(epoch: Int, weightSql: String): String =
    s"""SELECT CAST($epoch AS BIGINT) AS epoch, lang, n_l, CAST(quota AS BIGINT) AS quota FROM (
       |WITH n AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_l FROM documents GROUP BY 1),
       |w AS (SELECT lang, n_l, $weightSql AS w_l FROM n),
       |tot AS (SELECT CAST(sum(n_l) // 5 AS BIGINT) AS t, CAST(sum(w_l) AS BIGINT) AS ww FROM w),
       |q0 AS (SELECT w.lang, w.n_l, tot.t, w.w_l,
       |  CAST((CAST(tot.t AS HUGEINT) * w.w_l) // tot.ww AS BIGINT) AS base,
       |  CAST((CAST(tot.t AS HUGEINT) * w.w_l) % tot.ww AS BIGINT) AS rem
       |  FROM w, tot),
       |q1 AS (
       |  SELECT *, least(quota0, n_l) AS give FROM (
       |    SELECT *, base + (CASE WHEN row_number() OVER (ORDER BY rem DESC, lang)
       |                      <= t - sum(base) OVER () THEN 1 ELSE 0 END) AS quota0
       |    FROM q0)),
       |q2 AS (
       |  SELECT *,
       |    CASE WHEN unsat AND ww2 > 0
       |         THEN CAST((CAST(shortfall AS HUGEINT) * w_l) // ww2 AS BIGINT) ELSE 0 END AS add0,
       |    CASE WHEN unsat AND ww2 > 0
       |         THEN CAST((CAST(shortfall AS HUGEINT) * w_l) % ww2 AS BIGINT) ELSE -1 END AS rem2
       |  FROM (
       |    SELECT *, t - sum(give) OVER () AS shortfall,
       |      (quota0 < n_l) AS unsat,
       |      sum(CASE WHEN quota0 < n_l THEN w_l ELSE 0 END) OVER () AS ww2
       |    FROM q1))
       |SELECT lang, n_l,
       |  least(give + add0 + (CASE WHEN unsat AND row_number() OVER (ORDER BY rem2 DESC, lang)
       |        <= shortfall - sum(add0) OVER () THEN 1 ELSE 0 END), n_l) AS quota
       |FROM q2)""".stripMargin
  private val q177Sql =
    Seq(
      quotaEpochSql(1, "CAST(n_l AS BIGINT)"),
      quotaEpochSql(2, "CAST(floor(sqrt(CAST(n_l AS DOUBLE)) * 1000000) AS BIGINT)"),
      quotaEpochSql(3, "CAST(floor(sqrt(sqrt(CAST(n_l AS DOUBLE))) * 1000000) AS BIGINT)"))
      .mkString("", "\nUNION ALL\n", "\nORDER BY epoch, lang")

  // ---------------------------------------------------------------- q111
  /** Corpus-duplicated-segment removal — the CCNet/RefinedWeb "line
    * dedup" cleaning step, adapted to this corpus's no-newline docs:
    * documents are cut into tumbling [[LineSegToks]]-token segments
    * (the "lines"), a segment whose text recurs in ≥ 2 DISTINCT
    * documents anywhere in the corpus is boilerplate (navigation bars,
    * cookie banners, license headers — content that repeats verbatim
    * across pages), and every occurrence is dropped. Unlike q82 (which
    * SCORES within-doc repetition) and q86/q91 (which FIND cross-doc
    * shared spans as pairs), this op REWRITES the corpus: the output
    * carries the cleaned document's md5 plus exact kept/dropped token
    * accounting, i.e. the thing a training pipeline actually feeds
    * downstream.
    *
    * Scale shape: one narrow segment explode; the duplicate-detection
    * aggregate shuffles (seg_md5, doc_id) — digests, never segment
    * payloads (the q108 discipline); the duplicated-segment set is an
    * aggregate frame (one row per DUPLICATED segment only) joined back
    * broadcast — for a corpus whose boilerplate set outgrows the
    * driver, drop the hint and it's a sort-merge join on the digest
    * (the q93 note). Reassembly is one per-doc aggregation whose
    * collect_list holds only the doc's own kept segments — bounded by
    * document size, never by corpus size. */
  private[graft] val LineSegToks = 3
  /** Core of q111 over a (doc_id, text) frame — package-private for
    * LineDedupSpec's planted-boilerplate fixtures. */
  private[text] def lineDedupOf(docsIn: DataFrame): DataFrame = {
    val segs = graft.core.ScratchCache.persist(
      docsIn.select(col("doc_id"), expr(toksExpr).as("toks"))
        .filter(size(col("toks")) >= 1)
        .select(col("doc_id"), size(col("toks")).cast("long").as("n_toks"),
          posexplode(expr(
            s"transform(sequence(0, (size(toks) - 1) DIV $LineSegToks), " +
              s"i -> concat_ws(' ', slice(toks, i * $LineSegToks + 1, $LineSegToks)))"))
            .as(Seq("seg_no", "seg")))
        .withColumn("seg_md5", md5(col("seg"))))
    val dup = segs.groupBy(col("seg_md5"))
      .agg(countDistinct(col("doc_id")).as("nd"))
      .filter(col("nd") >= 2)
      .select(col("seg_md5"), lit(1L).as("is_dup"))
    segs.join(broadcast(dup), Seq("seg_md5"), "left")
      .groupBy(col("doc_id"))
      .agg(
        max(col("n_toks")).as("n_toks"),
        count(lit(1)).as("n_segs"),
        sum(when(col("is_dup").isNotNull, 1L).otherwise(0L)).as("n_dup_segs"),
        sum(when(col("is_dup").isNull, size(split(col("seg"), " ")).cast("long"))
          .otherwise(0L)).as("kept_toks"),
        md5(array_join(expr(
          "transform(array_sort(collect_list(CASE WHEN is_dup IS NULL THEN struct(seg_no, seg) END)), s -> s.seg)"),
          " ")).as("clean_md5"))
      .withColumn("drop_ppm", expr("((n_toks - kept_toks) * 1000000) DIV n_toks"))
      .select(col("doc_id"), col("n_toks"), col("n_segs"), col("n_dup_segs"),
        col("kept_toks"), col("drop_ppm"), col("clean_md5"))
      .orderBy(col("doc_id"))
  }
  private def q111(s: SparkSession, dir: String): DataFrame =
    lineDedupOf(Tables.documents(s, dir))
  private val q111Sql =
    s"""WITH d AS (SELECT doc_id, $toksSql AS toks FROM documents),
       |segs AS (
       |  SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_toks, i AS seg_no,
       |    array_to_string(toks[i * $LineSegToks + 1 : i * $LineSegToks + $LineSegToks], ' ') AS seg
       |  FROM (SELECT doc_id, toks, unnest(generate_series(0, (len(toks) - 1) // $LineSegToks)) AS i
       |        FROM d WHERE len(toks) >= 1)
       |),
       |dup AS (
       |  SELECT md5(seg) AS seg_md5, CAST(1 AS BIGINT) AS is_dup
       |  FROM segs GROUP BY 1 HAVING count(DISTINCT doc_id) >= 2
       |)
       |SELECT doc_id,
       |  max(n_toks) AS n_toks,
       |  count(*) AS n_segs,
       |  CAST(sum(CASE WHEN is_dup IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_segs,
       |  CAST(sum(CASE WHEN is_dup IS NULL THEN len(string_split(seg, ' ')) ELSE 0 END) AS BIGINT) AS kept_toks,
       |  CAST(((max(n_toks) - sum(CASE WHEN is_dup IS NULL THEN len(string_split(seg, ' ')) ELSE 0 END)) * 1000000)
       |    // max(n_toks) AS BIGINT) AS drop_ppm,
       |  md5(coalesce(array_to_string(list(seg ORDER BY seg_no) FILTER (WHERE is_dup IS NULL), ' '), '')) AS clean_md5
       |FROM segs LEFT JOIN dup ON md5(seg) = dup.seg_md5
       |GROUP BY doc_id
       |ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- q112
  /** DSIR importance weights (Xie et al. 2023, "Data Selection for
    * Language Models via Importance Resampling") — score every raw
    * document by how much it resembles a target domain, using hashed
    * features and a bag-of-buckets log-likelihood ratio. Features are
    * the q96 hashing trick: each token drops into one of 256 md5
    * buckets; the target distribution is estimated from the `lang =
    * 'en'` slice (the "high-quality domain" stand-in — swap the
    * predicate for a real curated subset), the raw distribution from
    * the whole corpus, both add-one smoothed. A bucket's weight is the
    * exact-integer bit-length difference ⌊log₂ 1/p_raw⌋−⌊log₂ 1/p_tgt⌋
    * (the q97 length(bin(·)) trick — never FP log), and a document's
    * importance is the count-weighted sum over its tokens: positive ⇒
    * the doc looks more like the target than like the average of the
    * raw pool, the docs DSIR up-samples.
    *
    * Scale shape: one token explode feeding a (doc, bucket) aggregate
    * (persisted — the raw and target distributions both derive from it
    * without re-tokenizing the corpus); the bucket-stats frame is ≤ 256
    * rows (broadcast, totals ride a 1-row cross join — the q97 idiom);
    * one per-doc aggregation. Everything after tokenization is integer
    * arithmetic on a fixed-width frame, independent of corpus size. */
  private def bucketFromHex(h: String) =
    s"(instr('0123456789abcdef', substr($h, 1, 1)) - 1) * 16 + " +
      s"(instr('0123456789abcdef', substr($h, 2, 1)) - 1)"
  private def q112(s: SparkSession, dir: String): DataFrame = {
    // r22 (guide §2.4): tf is NOT persisted. Its two consumers (the
    // bucket-stats aggregate and the per-doc scoring aggregate) contain
    // the identical aggregate subtree, so the expensive map side —
    // tokenize + per-token md5 + partial aggregation — is deduplicated
    // by EXCHANGE REUSE: the shuffle is written once and each consumer
    // re-runs only the cheap reduce-side final aggregate. The old
    // persist REPLACED the reusable exchange with an in-memory columnar
    // cache whose build + two decompressing scans cost more than the
    // duplicated reduce side it saved (probe: ~30%).
    val tf = Tables.documents(s, dir)
      .select(col("doc_id"), col("lang"), explode(expr(toksExpr)).as("t"))
      .select(col("doc_id"), col("lang"),
        expr(s"CAST(${bucketFromHex("md5(concat('dsir|', t))")} AS BIGINT)").as("b"))
      .groupBy(col("doc_id"), col("lang"), col("b"))
      .agg(count(lit(1)).as("cnt"))
    // r22 (guide §2.3): raw and target distributions in ONE aggregate
    // pass over the tf frame — sum + conditional sum — rather
    // than two separate scans joined back together. coalesce(t_cnt, 0)
    // of the old left join ≡ summing non-en rows as 0.
    val stats = tf.groupBy(col("b")).agg(
      sum(col("cnt")).as("r_cnt"),
      sum(when(col("lang") === "en", col("cnt")).otherwise(0L)).as("t_cnt"))
    val tot = stats.agg(sum(col("r_cnt")).cast("long").as("r_total"),
      sum(col("t_cnt")).cast("long").as("t_total"))
    val w = stats.crossJoin(broadcast(tot))
      .select(col("b"),
        (length(bin(expr("(r_total + 256) DIV (r_cnt + 1)"))) -
          length(bin(expr("(t_total + 256) DIV (t_cnt + 1)")))).cast("long").as("w_bits"))
    tf.join(broadcast(w), Seq("b"))
      .groupBy(col("doc_id"))
      .agg(sum(col("cnt")).cast("long").as("n_toks"),
        sum(col("cnt") * col("w_bits")).cast("long").as("logratio_bits"))
      .withColumn("keep", when(col("logratio_bits") >= 0L, 1L).otherwise(0L))
      .select(col("doc_id"), col("n_toks"), col("logratio_bits"), col("keep"))
      .orderBy(col("doc_id"))
  }
  private val q112Sql =
    s"""WITH tf AS (
       |  SELECT doc_id, lang, b, count(*) AS cnt
       |  FROM (
       |    SELECT doc_id, lang,
       |      CAST(${bucketFromHex("md5(concat('dsir|', t))")} AS BIGINT) AS b
       |    FROM (SELECT doc_id, lang, unnest($toksSql) AS t FROM documents)
       |  )
       |  GROUP BY 1, 2, 3
       |),
       |raw AS (SELECT b, CAST(sum(cnt) AS BIGINT) AS r_cnt FROM tf GROUP BY 1),
       |tgt AS (SELECT b, CAST(sum(cnt) AS BIGINT) AS t_cnt FROM tf WHERE lang = 'en' GROUP BY 1),
       |stats AS (
       |  SELECT raw.b, raw.r_cnt, coalesce(tgt.t_cnt, 0) AS t_cnt
       |  FROM raw LEFT JOIN tgt USING (b)
       |),
       |tot AS (SELECT CAST(sum(r_cnt) AS BIGINT) AS r_total, CAST(sum(t_cnt) AS BIGINT) AS t_total FROM stats),
       |w AS (
       |  SELECT b,
       |    CAST(length(bin((r_total + 256) // (r_cnt + 1))) -
       |         length(bin((t_total + 256) // (t_cnt + 1))) AS BIGINT) AS w_bits
       |  FROM stats CROSS JOIN tot
       |)
       |SELECT doc_id,
       |  CAST(sum(cnt) AS BIGINT) AS n_toks,
       |  CAST(sum(cnt * w_bits) AS BIGINT) AS logratio_bits,
       |  CAST(CASE WHEN sum(cnt * w_bits) >= 0 THEN 1 ELSE 0 END AS BIGINT) AS keep
       |FROM tf JOIN w USING (b)
       |GROUP BY 1
       |ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- q117
  /** Cross-source contamination matrix — which sources duplicate each
    * other: for every pair of sources, the number of DISTINCT
    * [[LineSegToks]]-token segments (q111's "lines") that appear in
    * both. This is the report a curation pipeline reads before mixing
    * crawls: two sources sharing most of their segments are the same
    * upstream content re-scraped, and one of them should be dropped or
    * down-weighted BEFORE any doc-level dedup spends compute on their
    * cross product.
    *
    * Scale shape: segments shuffle as (digest, source) — never text
    * past the per-digest aggregate; the per-segment source set is
    * bounded by the source COUNT (config-scale, thousands at most,
    * nothing like corpus scale) and additionally capped to the
    * [[OverlapSourceCap]] lexicographically-lowest sources (a segment
    * in EVERY crawl is boilerplate — its pair contribution is capped,
    * the q42 truncation contract); the output is |sources|² at most.
    * One aggregate, one bounded map-side pair explode, one count. */
  private[graft] val OverlapSourceCap = 16
  private def q117(s: SparkSession, dir: String): DataFrame = {
    val segs = Tables.documents(s, dir)
      .select(col("source"), expr(toksExpr).as("toks"))
      .filter(size(col("toks")) >= 1)
      .select(col("source"), explode(expr(
        s"transform(sequence(0, (size(toks) - 1) DIV $LineSegToks), " +
          s"i -> md5(concat_ws(' ', slice(toks, i * $LineSegToks + 1, $LineSegToks))))"))
        .as("seg_md5"))
    segs
      .groupBy(col("seg_md5"))
      .agg(slice(sort_array(collect_set(col("source"))), 1, OverlapSourceCap).as("srcs"))
      .filter(size(col("srcs")) >= 2)
      .select(explode(expr(
        "flatten(transform(srcs, (x, i) -> " +
          "transform(slice(srcs, i + 2, size(srcs)), y -> struct(x AS source_a, y AS source_b))))"))
        .as("p"))
      .groupBy(col("p.source_a").as("source_a"), col("p.source_b").as("source_b"))
      .agg(count(lit(1)).as("n_shared_segments"))
      .orderBy(col("source_a"), col("source_b"))
  }
  private val q117Sql =
    s"""WITH segs AS (
       |  SELECT source,
       |    md5(array_to_string(toks[i * $LineSegToks + 1 : i * $LineSegToks + $LineSegToks], ' ')) AS seg_md5
       |  FROM (SELECT source, toks, unnest(generate_series(0, (len(toks) - 1) // $LineSegToks)) AS i
       |        FROM (SELECT source, $toksSql AS toks FROM documents) WHERE len(toks) >= 1)
       |),
       |per AS (
       |  SELECT seg_md5, (list_sort(list(DISTINCT source)))[1:$OverlapSourceCap] AS srcs
       |  FROM segs GROUP BY 1
       |),
       |pairs AS (
       |  SELECT unnest(flatten(list_transform(srcs, (x, i) ->
       |    list_transform(srcs[i + 1:], y -> struct_pack(source_a := x, source_b := y))))) AS p
       |  FROM per WHERE len(srcs) >= 2
       |)
       |SELECT p.source_a AS source_a, p.source_b AS source_b, count(*) AS n_shared_segments
       |FROM pairs
       |WHERE p.source_a < p.source_b
       |GROUP BY 1, 2
       |ORDER BY 1, 2""".stripMargin

  // ---------------------------------------------------------------- q140
  /** Collocation mining — co-occurrence LIFT over ±2-token windows (the
    * word2vec/phrase-detection preprocessing view): for unordered token
    * pairs seen ≥ 5 times within distance ≤ 2,
    * `lift = P(a,b) / (P(a)·P(b))` computed as exact integer products
    * (DECIMAL(38,0) Spark-side, HUGEINT in the oracle — both exact, so
    * multiplication order is moot) with ONE IEEE double division at the
    * end, rounded to 4 places — the q115 sufficient-statistics
    * discipline, which is what makes an FP-looking score hash-match
    * across engines. Top 50 by (lift DESC, pair), ties broken
    * textually so the LIMIT boundary is deterministic.
    *
    * Scale shape: pair windows explode map-side from the token arrays
    * (`filter(array(1,2), d -> size > d)` guards short docs — Spark's
    * sequence() runs DESCENDING for stop < start and would fabricate
    * negative indices); the count frames are vocab- and
    * pair-vocab-sized, joined on their own keys; corpus totals ride a
    * broadcast 1-row frame. Nothing here is corpus-quadratic: the ≥5
    * support filter runs BEFORE the unigram joins. */
  private def q140(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val toks = ScratchCache.persist(
      Tables.documents(s, dir).select(expr(toksExpr).as("toks")))
    val uni = toks.select(explode($"toks").as("tok"))
      .groupBy($"tok").agg(count(lit(1)).as("n_tok"))
    val totTok = uni.agg(sum($"n_tok").cast("decimal(38,0)").as("n_total"))
    val pairWindows = toks.select(explode(expr(
        "flatten(transform(filter(array(1, 2), d -> size(toks) > d), " +
          "d -> transform(sequence(0, size(toks) - 1 - d), " +
          "i -> array_sort(array(toks[i], toks[i + d])))))")).as("pr"))
      .select($"pr"(0).as("t1"), $"pr"(1).as("t2"))
    val cached = ScratchCache.persist(pairWindows)
    val totPair = cached.agg(count(lit(1)).cast("decimal(38,0)").as("n_pairs"))
    cached.groupBy($"t1", $"t2").agg(count(lit(1)).as("n_ab"))
      .filter($"n_ab" >= 5)
      .join(uni.select($"tok".as("t1"), $"n_tok".as("n_a")), "t1")
      .join(uni.select($"tok".as("t2"), $"n_tok".as("n_b")), "t2")
      .crossJoin(broadcast(totTok)).crossJoin(broadcast(totPair))
      .withColumn("lift", expr(
        "round(CAST(CAST(n_ab AS DECIMAL(38,0)) * n_total * n_total AS DOUBLE) / " +
          "CAST(CAST(n_a AS DECIMAL(38,0)) * n_b * n_pairs AS DOUBLE), 4)"))
      .select($"t1", $"t2", $"n_ab", $"n_a", $"n_b", $"lift")
      .orderBy($"lift".desc, $"t1", $"t2")
      .limit(50)
  }
  private val q140Sql =
    s"""WITH toks AS (
       |  SELECT $toksSql AS toks FROM documents
       |), uni AS (
       |  SELECT tok, CAST(count(*) AS BIGINT) AS n_tok
       |  FROM (SELECT unnest(toks) AS tok FROM toks) GROUP BY 1
       |), tot AS (
       |  SELECT CAST(sum(n_tok) AS HUGEINT) AS n_total FROM uni
       |), pw AS (
       |  SELECT p[1] AS t1, p[2] AS t2 FROM (
       |    SELECT unnest(flatten(list_transform(
       |      list_filter([1, 2], d -> len(toks) > d),
       |      d -> list_transform(generate_series(1, len(toks) - d),
       |        i -> list_sort([toks[i], toks[i + d]]))))) AS p
       |    FROM toks)
       |), totp AS (
       |  SELECT CAST(count(*) AS HUGEINT) AS n_pairs FROM pw
       |), ab AS (
       |  SELECT t1, t2, CAST(count(*) AS BIGINT) AS n_ab FROM pw GROUP BY 1, 2
       |)
       |SELECT t1, t2, n_ab, a.n_tok AS n_a, b.n_tok AS n_b,
       |  round(CAST(CAST(n_ab AS HUGEINT) * n_total * n_total AS DOUBLE) /
       |        CAST(CAST(a.n_tok AS HUGEINT) * b.n_tok * n_pairs AS DOUBLE), 4) AS lift
       |FROM ab JOIN uni a ON ab.t1 = a.tok JOIN uni b ON ab.t2 = b.tok, tot, totp
       |WHERE n_ab >= 5
       |ORDER BY lift DESC, t1, t2 LIMIT 50""".stripMargin

  // ---------------------------------------------------------------- q170
  /** Quality-threshold YIELD CURVE per source — the "where do we set
    * the cutoff" decision table a data team reads before gating a
    * corpus: for every candidate score threshold, how many documents
    * and how many tokens survive, per source. One pass scores every
    * doc with the q96 classifier ([[scoreExpr]]), scores histogram
    * into 32 equi-width buckets against data-derived bounds (q137's
    * exact-integer bucketing — non-negative numerators, so Spark DIV
    * and DuckDB // agree), and the curve is a SUFFIX sum per source
    * over descending buckets: row b answers "admit everything scoring
    * ≥ this bucket's floor".
    *
    * Scale shape: scoring is the q96 map-side scan; the histogram is
    * one (source, bucket) exchange with O(1) aggregate state per
    * group (count + sum — a flooded source concentrates work, never
    * memory); the suffix-sum window partitions are ≤ 32 rows per
    * source at ANY corpus size. The bounds frame is the 1-row scalar
    * broadcast idiom. Nothing here grows with the corpus except the
    * scan. */
  private def q170(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val scored = ScratchCache.persist(Tables.documents(s, dir)
      .select($"source", expr(toksExpr).as("toks"))
      .filter(size($"toks") >= 1)
      .select($"source", size($"toks").cast("long").as("n_toks"),
        expr(scoreExpr).as("score")))
    val bounds = scored.agg(min($"score").as("mins"), max($"score").as("maxs"))
      .withColumn("w", expr("greatest(1L, (maxs - mins) DIV 32 + 1)"))
    val suffix = Window.partitionBy($"source").orderBy($"b".desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    scored.crossJoin(broadcast(bounds))
      .groupBy($"source", expr("least(31L, (score - mins) DIV w)").as("b"))
      .agg(count(lit(1)).as("n_docs"), sum($"n_toks").as("toks"))
      .crossJoin(broadcast(bounds))
      .select($"source", $"b", expr("mins + b * w").as("threshold_lo"),
        sum($"n_docs").over(suffix).as("n_docs_ge"),
        sum($"toks").over(suffix).as("n_toks_ge"))
      .orderBy($"source", $"b")
  }
  private val q170Sql =
    s"""WITH scored AS (
       |  SELECT source, CAST(len(toks) AS BIGINT) AS n_toks, $scoreSql AS score
       |  FROM (SELECT source, $toksSql AS toks FROM documents)
       |  WHERE len(toks) >= 1
       |), bounds AS (
       |  SELECT min(score) AS mins, max(score) AS maxs,
       |    greatest(1, (max(score) - min(score)) // 32 + 1) AS w
       |  FROM scored
       |), h AS (
       |  SELECT source, CAST(least(31, (score - mins) // w) AS BIGINT) AS b,
       |    CAST(count(*) AS BIGINT) AS n_docs, CAST(sum(n_toks) AS BIGINT) AS toks
       |  FROM scored, bounds GROUP BY 1, 2
       |)
       |SELECT source, b, CAST(mins + b * w AS BIGINT) AS threshold_lo,
       |  CAST(sum(n_docs) OVER (PARTITION BY source ORDER BY b DESC) AS BIGINT) AS n_docs_ge,
       |  CAST(sum(toks) OVER (PARTITION BY source ORDER BY b DESC) AS BIGINT) AS n_toks_ge
       |FROM h, bounds ORDER BY source, b""".stripMargin

  // ---------------------------------------------------------------- q173
  /** Vocabulary COVERAGE CURVE — the tokenizer-sizing stat: what
    * fraction of all corpus tokens do the top-N most frequent types
    * cover, at N ∈ {10, 100, 1000, 10000}? (The data-card companion to
    * q95's merge ranking: it decides how large a vocabulary has to be
    * before the long tail stops mattering.)
    *
    * The scale insight that makes this rank-free: coverage at rank N
    * is TIEBREAK-INDEPENDENT — every type inside one frequency class
    * contributes the same count, so coverage = (class-prefix tokens) +
    * (N − types-before-class) × class-frequency, computable from the
    * FREQUENCY-OF-FREQUENCIES frame alone. The engine therefore never
    * ranks the vocabulary: one corpus token exchange (the LM shuffle
    * every vocab stat pays), one distinct-frequency-sized aggregate,
    * and ONE unpartitioned window over that tiny frame (distinct
    * frequency values, Zipf-bounded — the same distinct-key-sized
    * exception PrefixSum's key-total window documents). The DuckDB
    * oracle does the opposite — naive row_number over (cnt DESC,
    * token) — so hash equality proves the frequency-class arithmetic
    * against the explicit global rank. Division is cross-multiplied
    * through DECIMAL(38,0)/HUGEINT: covered × 10⁶ overflows int64 at
    * real corpus sizes. */
  private def q173(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val tf = Tables.documents(s, dir)
      .select(explode(expr(toksExpr)).as("tok"))
      .groupBy($"tok").agg(count(lit(1)).as("cnt"))
    val ff = tf.groupBy($"cnt").agg(count(lit(1)).as("n_types"))
    // unpartitioned window bound (r22 audit): ff is the frequency-of-
    // frequency frame — one row per DISTINCT count value, O(√tokens)
    // under any Zipf-like law (see scaladoc), never vocabulary-sized
    val w = Window.orderBy($"cnt".desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = ScratchCache.persist(ff
      .withColumn("cum_types", sum($"n_types").over(w))
      .withColumn("cum_tokens", sum($"cnt" * $"n_types").over(w)))
    val tot = cum.agg(max($"cum_types").as("total_types"),
      max($"cum_tokens").as("total_tokens"))
    s.range(1)
      .selectExpr("explode(array(10L, 100L, 1000L, 10000L)) AS n_top")
      .crossJoin(broadcast(tot))
      .withColumn("n_eff", least($"n_top", $"total_types"))
      .join(broadcast(cum),
        $"cum_types" >= $"n_eff" && $"cum_types" - $"n_types" < $"n_eff")
      .withColumn("covered_tokens",
        $"cum_tokens" - $"cnt" * ($"cum_types" - $"n_eff"))
      .select($"n_top", $"n_eff".as("n_types_used"), $"covered_tokens",
        $"total_tokens",
        expr("CAST((CAST(covered_tokens AS DECIMAL(38,0)) * 1000000) DIV total_tokens AS BIGINT)")
          .as("coverage_ppm"))
      .orderBy($"n_top")
  }
  private val q173Sql =
    s"""WITH tf AS (
       |  SELECT tok, CAST(count(*) AS BIGINT) AS cnt
       |  FROM (SELECT unnest($toksSql) AS tok FROM documents) GROUP BY 1
       |), rk AS (
       |  SELECT cnt,
       |    row_number() OVER (ORDER BY cnt DESC, tok) AS rn,
       |    CAST(sum(cnt) OVER (ORDER BY cnt DESC, tok) AS BIGINT) AS cum
       |  FROM tf
       |), tot AS (
       |  SELECT CAST(count(*) AS BIGINT) AS total_types,
       |    CAST(sum(cnt) AS BIGINT) AS total_tokens FROM tf
       |)
       |SELECT CAST(n_top AS BIGINT) AS n_top,
       |  CAST(least(n_top, total_types) AS BIGINT) AS n_types_used,
       |  cum AS covered_tokens, total_tokens,
       |  CAST((CAST(cum AS HUGEINT) * 1000000) // total_tokens AS BIGINT) AS coverage_ppm
       |FROM (SELECT unnest([10, 100, 1000, 10000]) AS n_top), tot
       |JOIN rk ON rn = least(n_top, total_types)
       |ORDER BY n_top""".stripMargin

  // ---------------------------------------------------------------- q176
  /** Classifier CALIBRATION against the rule gate — the reliability
    * diagram q146's pairwise agreement matrix cannot show: q146 says
    * HOW OFTEN the learned score and the Gopher rules disagree; this
    * says WHERE on the score axis. Every doc gets its q96 score and
    * its q104-style hard-rule verdict in ONE map-side pass; scores
    * histogram into 32 equi-width buckets (q170's exact-integer
    * bucketing), and each bucket reports its rule-gate pass rate in
    * exact ppm. A well-calibrated score shows pass rate rising with
    * the bucket floor; a flat diagram means the score and the rules
    * measure different things — the decision view read before
    * replacing an expensive rule cascade with one cheap dot product.
    *
    * Scale shape: scoring + rules are one codegen'd scan (zero
    * pre-aggregation shuffles, the q96/q104 property); the histogram
    * is ONE 32-cell exchange with O(1) state per cell; bounds ride the
    * 1-row scalar broadcast. Output is ≤ 32 rows at any corpus
    * size. */
  /** (score, rule_pass) per doc in one map-side pass — the shared
    * input of q176's reliability diagram and q191's ROC sweep. */
  private[text] def scoredVsRule(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val allStop = stop.values.flatten.toSeq.distinct.sorted
    ScratchCache.persist(Tables.documents(s, dir)
      .select($"doc_id", expr(toksExpr).as("toks"))
      .filter(size($"toks") >= 2)
      .select($"doc_id",
        size($"toks").cast("long").as("n_tokens"),
        expr("aggregate(toks, 0, (a, t) -> a + length(t))").cast("long").as("token_chars"),
        size(array_distinct($"toks")).cast("long").as("n_distinct"),
        expr(hitsExpr(allStop)).cast("long").as("stop_hits"),
        expr(scoreExpr).as("score"))
      .select($"score",
        ($"n_tokens" >= 50L && $"n_tokens" <= 100000L &&
          $"token_chars" >= $"n_tokens" * 3L && $"token_chars" <= $"n_tokens" * 10L &&
          $"stop_hits" >= 2L && $"n_distinct" * 2L >= $"n_tokens").as("rule_pass")))
  }
  private def q176(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val scored = scoredVsRule(s, dir)
    val bounds = scored.agg(min($"score").as("mins"), max($"score").as("maxs"))
      .withColumn("w", expr("greatest(1L, (maxs - mins) DIV 32 + 1)"))
    scored.crossJoin(broadcast(bounds))
      .groupBy(expr("least(31L, (score - mins) DIV w)").as("b"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when($"rule_pass", 1L).otherwise(0L)).as("n_rule_pass"))
      .crossJoin(broadcast(bounds))
      .select($"b", expr("mins + b * w").as("score_lo"), $"n_docs", $"n_rule_pass",
        expr("(n_rule_pass * 1000000) DIV n_docs").as("pass_ppm"))
      .orderBy($"b")
  }
  private val q176Sql = {
    val allStop = stop.values.flatten.toSeq.distinct.sorted
    s"""WITH feats AS (
       |  SELECT $scoreSql AS score,
       |    CAST(len(toks) AS BIGINT) AS n_tokens,
       |    CAST(list_sum(list_transform(toks, t -> length(t))) AS BIGINT) AS token_chars,
       |    CAST(len(list_distinct(toks)) AS BIGINT) AS n_distinct,
       |    ${hitsSql(allStop)} AS stop_hits
       |  FROM (SELECT doc_id, $toksSql AS toks FROM documents)
       |  WHERE len(toks) >= 2
       |), scored AS (
       |  SELECT score,
       |    (n_tokens BETWEEN 50 AND 100000
       |     AND token_chars >= n_tokens * 3 AND token_chars <= n_tokens * 10
       |     AND stop_hits >= 2 AND n_distinct * 2 >= n_tokens) AS rule_pass
       |  FROM feats
       |), bounds AS (
       |  SELECT min(score) AS mins, max(score) AS maxs,
       |    greatest(1, (max(score) - min(score)) // 32 + 1) AS w
       |  FROM scored
       |)
       |SELECT CAST(least(31, (score - mins) // w) AS BIGINT) AS b,
       |  CAST(min(mins + least(31, (score - mins) // w) * w) AS BIGINT) AS score_lo,
       |  CAST(count(*) AS BIGINT) AS n_docs,
       |  CAST(count(*) FILTER (WHERE rule_pass) AS BIGINT) AS n_rule_pass,
       |  CAST((count(*) FILTER (WHERE rule_pass) * 1000000) // count(*) AS BIGINT) AS pass_ppm
       |FROM scored, bounds GROUP BY 1 ORDER BY 1""".stripMargin
  }

  // ---------------------------------------------------------------- q182
  /** Per-source dataset datasheet — the one-row-per-feed summary a data
    * card publishes with every corpus snapshot: volume (docs, chars,
    * whitespace tokens), central tendency (mean chars, exact integer
    * x100), language composition (modal lang + its share in ppm, ties
    * broken lexicographically), and exact-duplicate exposure (docs
    * whose content digest appears ≥ 2 times CORPUS-wide, attributed to
    * the source holding them). Composes the catalog's own primitives
    * (q33 token stats, q34 lang, q40 exact-dup digests) into the
    * artifact a platform team actually reviews.
    *
    * Scale shape: one persisted narrow projection feeds three
    * aggregates; only 32-char digests shuffle for the dup check (the
    * q40 discipline), the lang-mode window partitions by source over
    * |langs|-row groups, and every output is exact integer arithmetic.
    * At sf0.01 the corpus has no exact dups (dup columns are an
    * oracle-checked zero there); DatasheetSpec plants real duplicates
    * and the adversarial-skew fixture carries 2k+ of them. */
  private def q182(s: SparkSession, dir: String): DataFrame =
    datasheetOf(Tables.documents(s, dir))
  /** Core over a (source, lang, n_chars, text) frame — package-private
    * for DatasheetSpec's planted-duplicate fixtures. */
  private[text] def datasheetOf(documents: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = graft.core.ScratchCache.persist(documents
      .select(col("source"), col("lang"), col("n_chars"),
        md5(col("text")).as("digest"),
        expr(s"CAST(size($toksExpr) AS BIGINT)").as("n_toks")))
    val dupDigests = docs.groupBy(col("digest"))
      .agg(count(lit(1)).as("nd")).filter(col("nd") >= 2).select(col("digest"))
    val dupPerSource = docs.join(dupDigests, Seq("digest"), "left_semi")
      .groupBy(col("source")).agg(count(lit(1)).as("dup_docs"))
    val agg = docs.groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("total_chars"),
        sum(col("n_toks")).as("total_toks"))
    val lm = docs.groupBy(col("source"), col("lang")).agg(count(lit(1)).as("lc"))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("source")).orderBy(col("lc").desc, col("lang").asc)))
      .filter(col("rn") === 1)
      .select(col("source"), col("lang").as("modal_lang"), col("lc"))
    agg.join(lm, "source").join(dupPerSource, Seq("source"), "left")
      .select(col("source"), col("n_docs"), col("total_chars"),
        expr("total_chars * 100 DIV n_docs").as("mean_chars_x100"),
        col("total_toks"), col("modal_lang"),
        expr("lc * 1000000 DIV n_docs").as("modal_lang_ppm"),
        coalesce(col("dup_docs"), lit(0L)).as("dup_docs"),
        expr("coalesce(dup_docs, 0) * 1000000 DIV n_docs").as("dup_ppm"))
      .orderBy(col("source"))
  }
  private val q182Sql =
    s"""WITH docs AS (
       |  SELECT source, lang, n_chars, md5(text) AS digest,
       |    CAST(len($toksSql) AS BIGINT) AS n_toks
       |  FROM documents
       |),
       |dupd AS (SELECT digest FROM docs GROUP BY digest HAVING count(*) >= 2),
       |agg AS (
       |  SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
       |    CAST(sum(n_chars) AS BIGINT) AS total_chars,
       |    CAST(sum(n_toks) AS BIGINT) AS total_toks
       |  FROM docs GROUP BY 1
       |),
       |dps AS (
       |  SELECT source, CAST(count(*) AS BIGINT) AS dup_docs
       |  FROM docs WHERE digest IN (SELECT digest FROM dupd) GROUP BY 1
       |),
       |lm AS (
       |  SELECT source, lang AS modal_lang, lc FROM (
       |    SELECT source, lang, CAST(count(*) AS BIGINT) AS lc,
       |      row_number() OVER (PARTITION BY source ORDER BY count(*) DESC, lang) AS rn
       |    FROM docs GROUP BY source, lang)
       |  WHERE rn = 1
       |)
       |SELECT a.source, n_docs, total_chars,
       |  total_chars * 100 // n_docs AS mean_chars_x100,
       |  total_toks, modal_lang,
       |  lc * 1000000 // n_docs AS modal_lang_ppm,
       |  coalesce(dup_docs, 0) AS dup_docs,
       |  coalesce(dup_docs, 0) * 1000000 // n_docs AS dup_ppm
       |FROM agg a JOIN lm USING (source) LEFT JOIN dps USING (source)
       |ORDER BY a.source""".stripMargin

  // ---------------------------------------------------------------- q183
  /** Neyman (optimal) audit-sample allocation — how a platform team
    * splits a fixed human-eval budget across sources: strata with more
    * length VARIABILITY get more samples (Neyman 1934: n_h ∝ N_h·S_h),
    * side by side with the naive proportional allocation and the
    * per-source delta. N_h·S_h = √(N_h·Σx² − (Σx)²) is computed from
    * exact integer moments (fits int64 while N·Σx² < 2⁶³; the 100 TB
    * swap is DECIMAL(38,0) sufficient statistics, same as q115), then
    * quantized half-up to exact integer millis BEFORE any summation —
    * cross-engine determinism needs integer weight totals, never a
    * float sum (int64→double cast and sqrt are both IEEE-exact in
    * Spark and DuckDB; a double Σ is addition-order-dependent).
    * Quotas by largest remainder (the q110 discipline), capped at the
    * stratum size; an all-zero-variance corpus degrades to the
    * proportional weights instead of dividing by zero.
    *
    * Scale shape: one map-side-combined aggregate to |sources| rows;
    * all windows run on that tiny frame. */
  private[text] def auditAllocOf(documents: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // Unpartitioned-window cardinality bound (r22 audit): every window
    // below runs over the per-source aggregate frame — ≤ |sources|
    // rows (tens here, at most thousands for any real crawl), never
    // document-sized.
    val all = Window.partitionBy(lit(1))
    val per = documents.groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("sx"),
        sum(col("n_chars") * col("n_chars")).as("sxx"))
      .withColumn("dev_milli", expr(
        "CAST(floor(sqrt(CAST(n_docs * sxx - sx * sx AS DOUBLE)) * 1000 + 0.5) AS BIGINT)"))
    val tot = per.agg(sum(col("n_docs")).as("nn"), sum(col("dev_milli")).as("dd"),
      expr("CAST(sum(n_docs) DIV 10 AS BIGINT)").as("budget"))
    val q = per.crossJoin(broadcast(tot))
      .withColumn("wn", when(col("dd") === 0L, col("n_docs")).otherwise(col("dev_milli")))
      .withColumn("wtot", when(col("dd") === 0L, col("nn")).otherwise(col("dd")))
      .withColumn("nbase", expr("budget * wn DIV wtot"))
      .withColumn("nrem", expr("budget * wn % wtot"))
      .withColumn("pbase", expr("budget * n_docs DIV nn"))
      .withColumn("prem", expr("budget * n_docs % nn"))
      .withColumn("nrk", row_number().over(Window.orderBy(col("nrem").desc, col("source"))).cast("long"))
      .withColumn("prk", row_number().over(Window.orderBy(col("prem").desc, col("source"))).cast("long"))
      .withColumn("nb", sum(col("nbase")).over(all))
      .withColumn("pb", sum(col("pbase")).over(all))
      .withColumn("neyman_n", least(
        col("nbase") + when(col("nrk") <= col("budget") - col("nb"), 1L).otherwise(0L),
        col("n_docs")))
      .withColumn("prop_n", least(
        col("pbase") + when(col("prk") <= col("budget") - col("pb"), 1L).otherwise(0L),
        col("n_docs")))
    q.select(col("source"), col("n_docs"), col("dev_milli"),
        col("neyman_n"), col("prop_n"),
        (col("neyman_n") - col("prop_n")).as("delta"))
      .orderBy(col("source"))
  }
  private def q183(s: SparkSession, dir: String): DataFrame =
    auditAllocOf(Tables.documents(s, dir))
  private val q183Sql =
    s"""WITH per AS (
       |  SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
       |    CAST(sum(n_chars) AS BIGINT) AS sx,
       |    CAST(sum(n_chars * n_chars) AS BIGINT) AS sxx
       |  FROM documents GROUP BY 1
       |),
       |d AS (
       |  SELECT source, n_docs,
       |    CAST(floor(sqrt(CAST(n_docs * sxx - sx * sx AS DOUBLE)) * 1000 + 0.5) AS BIGINT) AS dev_milli
       |  FROM per
       |),
       |t AS (
       |  SELECT CAST(sum(n_docs) AS BIGINT) AS nn, CAST(sum(dev_milli) AS BIGINT) AS dd,
       |    CAST(sum(n_docs) // 10 AS BIGINT) AS budget
       |  FROM d
       |),
       |q AS (
       |  SELECT source, n_docs, dev_milli, budget, nn,
       |    CASE WHEN dd = 0 THEN n_docs ELSE dev_milli END AS wn,
       |    CASE WHEN dd = 0 THEN nn ELSE dd END AS wtot
       |  FROM d, t
       |),
       |r AS (
       |  SELECT *,
       |    budget * wn // wtot AS nbase, budget * wn % wtot AS nrem,
       |    budget * n_docs // nn AS pbase, budget * n_docs % nn AS prem
       |  FROM q
       |),
       |w AS (
       |  SELECT *,
       |    row_number() OVER (ORDER BY nrem DESC, source) AS nrk,
       |    row_number() OVER (ORDER BY prem DESC, source) AS prk,
       |    sum(nbase) OVER () AS nb, sum(pbase) OVER () AS pb
       |  FROM r
       |)
       |SELECT source, n_docs, dev_milli,
       |  CAST(least(nbase + CASE WHEN nrk <= budget - nb THEN 1 ELSE 0 END, n_docs) AS BIGINT) AS neyman_n,
       |  CAST(least(pbase + CASE WHEN prk <= budget - pb THEN 1 ELSE 0 END, n_docs) AS BIGINT) AS prop_n,
       |  CAST(least(nbase + CASE WHEN nrk <= budget - nb THEN 1 ELSE 0 END, n_docs)
       |     - least(pbase + CASE WHEN prk <= budget - pb THEN 1 ELSE 0 END, n_docs) AS BIGINT) AS delta
       |FROM w ORDER BY source""".stripMargin

  // ---------------------------------------------------------------- q188
  /** Uncertainty sampling — the active-learning annotation queue: per
    * source, the k documents whose q96 classifier score sits closest
    * to the keep/drop boundary (score 0), measured as |score| per
    * 1000 tokens so long documents don't look artificially confident.
    * These are the docs where a human label buys the most classifier
    * improvement — the standard label-efficient loop (uncertainty
    * sampling, Lewis & Gale 1994) over the corpus the engine already
    * scores. Ties break by doc_id, so the queue is reproducible.
    *
    * Scale shape: scoring is q96's map-side HOF scan; the per-source
    * top-k is a row_number window with a LITERAL k, which Spark
    * rewrites to a map-side WindowGroupLimit — each task pre-truncates
    * to k rows per source before the exchange (the q76 idiom), so the
    * window never sorts a whole source partition. */
  private[text] val UncertaintyK = 5L
  /** Core over a (source, doc_id, n_toks, score) frame — package-
    * private for UncertaintySampleSpec's planted-margin fixtures. */
  private[text] def uncertaintyQueueOf(scored: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    scored
      .withColumn("margin_ppk", expr("abs(score) * 1000 DIV n_toks"))
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("source"))
          .orderBy(col("margin_ppk"), col("doc_id"))).cast("long"))
      .filter(col("rk") <= UncertaintyK)
      .select(col("source"), col("rk"), col("doc_id"), col("n_toks"),
        col("score"), col("margin_ppk"))
      .orderBy(col("source"), col("rk"))
  }
  private def q188(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    uncertaintyQueueOf(Tables.documents(s, dir)
      .select($"source", $"doc_id", expr(toksExpr).as("toks"))
      .filter(size($"toks") >= 1)
      .select($"source", $"doc_id",
        size($"toks").cast("long").as("n_toks"),
        expr(scoreExpr).as("score")))
  }
  private val q188Sql =
    s"""WITH scored AS (
       |  SELECT source, doc_id, CAST(len(toks) AS BIGINT) AS n_toks,
       |    $scoreSql AS score
       |  FROM (SELECT source, doc_id, $toksSql AS toks FROM documents)
       |  WHERE len(toks) >= 1
       |),
       |m AS (
       |  SELECT source, doc_id, n_toks, score,
       |    abs(score) * 1000 // n_toks AS margin_ppk
       |  FROM scored
       |)
       |SELECT source,
       |  CAST(row_number() OVER (PARTITION BY source ORDER BY margin_ppk, doc_id) AS BIGINT) AS rk,
       |  doc_id, n_toks, score, margin_ppk
       |FROM m
       |QUALIFY row_number() OVER (PARTITION BY source ORDER BY margin_ppk, doc_id) <= $UncertaintyK
       |ORDER BY source, rk""".stripMargin

  // ---------------------------------------------------------------- q191
  /** Classifier ROC against the rule gate — the operating-point table
    * that completes q176's reliability diagram and q170's yield curve:
    * for every candidate threshold (each of the 32 exact score-bucket
    * floors, "predict KEEP when the score reaches this bucket"), the
    * confusion counts against the q104-style hard-rule verdict and the
    * exact-ppm TPR / FPR / precision. Read it to pick the threshold
    * that trades rule-agreement recall against over-admission — the
    * standard model-vs-heuristic evaluation, in exact integers
    * (suffix sums over the bucket histogram; a float AUC would not
    * hash-match, and the 32 operating points ARE the decision data).
    *
    * Scale shape: one shared scored scan (q176's), one 32-cell
    * exchange; the threshold sweep is suffix sums over ≤ 32 rows. */
  private def q191(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val sc = scoredVsRule(s, dir)
    val bounds = sc.agg(min($"score").as("mins"), max($"score").as("maxs"))
      .withColumn("w", expr("greatest(1L, (maxs - mins) DIV 32 + 1)"))
    val buckets = sc.crossJoin(broadcast(bounds))
      .groupBy(expr("least(31L, (score - mins) DIV w)").as("b"))
      .agg(sum(when($"rule_pass", 1L).otherwise(0L)).as("pos"),
        sum(when($"rule_pass", 0L).otherwise(1L)).as("neg"))
    val suffix = Window.partitionBy(lit(1)).orderBy($"b".desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val all = Window.partitionBy(lit(1))
    buckets
      .withColumn("tp", sum($"pos").over(suffix))
      .withColumn("fp", sum($"neg").over(suffix))
      .withColumn("p", sum($"pos").over(all))
      .withColumn("n", sum($"neg").over(all))
      .crossJoin(broadcast(bounds))
      .select($"b", expr("mins + b * w").as("thresh_lo"),
        $"tp", $"fp", ($"p" - $"tp").as("fn"), ($"n" - $"fp").as("tn"),
        expr("CASE WHEN p = 0 THEN 0 ELSE tp * 1000000 DIV p END").as("tpr_ppm"),
        expr("CASE WHEN n = 0 THEN 0 ELSE fp * 1000000 DIV n END").as("fpr_ppm"),
        expr("CASE WHEN tp + fp = 0 THEN 0 ELSE tp * 1000000 DIV (tp + fp) END")
          .as("precision_ppm"))
      .orderBy($"b")
  }
  private val q191Sql = {
    val allStop = stop.values.flatten.toSeq.distinct.sorted
    s"""WITH feats AS (
       |  SELECT $scoreSql AS score,
       |    CAST(len(toks) AS BIGINT) AS n_tokens,
       |    CAST(list_sum(list_transform(toks, t -> length(t))) AS BIGINT) AS token_chars,
       |    CAST(len(list_distinct(toks)) AS BIGINT) AS n_distinct,
       |    ${hitsSql(allStop)} AS stop_hits
       |  FROM (SELECT doc_id, $toksSql AS toks FROM documents)
       |  WHERE len(toks) >= 2
       |), scored AS (
       |  SELECT score,
       |    (n_tokens BETWEEN 50 AND 100000
       |     AND token_chars >= n_tokens * 3 AND token_chars <= n_tokens * 10
       |     AND stop_hits >= 2 AND n_distinct * 2 >= n_tokens) AS rule_pass
       |  FROM feats
       |), bounds AS (
       |  SELECT min(score) AS mins,
       |    greatest(1, (max(score) - min(score)) // 32 + 1) AS w
       |  FROM scored
       |), buckets AS (
       |  SELECT CAST(least(31, (score - mins) // w) AS BIGINT) AS b,
       |    CAST(count(*) FILTER (WHERE rule_pass) AS BIGINT) AS pos,
       |    CAST(count(*) FILTER (WHERE NOT rule_pass) AS BIGINT) AS neg
       |  FROM scored, bounds GROUP BY 1
       |), sw AS (
       |  SELECT b, pos, neg,
       |    sum(pos) OVER (ORDER BY b DESC ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS tp,
       |    sum(neg) OVER (ORDER BY b DESC ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS fp,
       |    sum(pos) OVER () AS p, sum(neg) OVER () AS n
       |  FROM buckets
       |)
       |SELECT b, CAST(mins + b * w AS BIGINT) AS thresh_lo,
       |  CAST(tp AS BIGINT) AS tp, CAST(fp AS BIGINT) AS fp,
       |  CAST(p - tp AS BIGINT) AS fn, CAST(n - fp AS BIGINT) AS tn,
       |  CAST(CASE WHEN p = 0 THEN 0 ELSE tp * 1000000 // p END AS BIGINT) AS tpr_ppm,
       |  CAST(CASE WHEN n = 0 THEN 0 ELSE fp * 1000000 // n END AS BIGINT) AS fpr_ppm,
       |  CAST(CASE WHEN tp + fp = 0 THEN 0 ELSE tp * 1000000 // (tp + fp) END AS BIGINT) AS precision_ppm
       |FROM sw, bounds
       |ORDER BY b""".stripMargin
  }

  // ---------------------------------------------------------------- q201
  /** Instruction-TEMPLATE mining — the dedup mode neither exact hashes
    * nor MinHash catch well: instruction datasets carry thousands of
    * docs stamped from one prompt template ("write an essay about X
    * for my Y class"), each instance textually distant from the next
    * (every slot differs) yet informationally near-identical. The
    * standard detector: mask every LOW-document-frequency token to a
    * slot marker `_` and cluster docs by the surviving SKELETON — the
    * template's frame words have high DF (they repeat across all its
    * instances) while slot fillers are rare, so instances of one
    * template collapse onto one skeleton. Clusters of ≥ 3 docs are
    * reported with doc/source/char mass (the dedup savings if the
    * cluster is capped).
    *
    * Fixture: 1/4 of docs (md5-carved) are REPLACED by instances of 4
    * planted templates whose slot tokens (`topicN`/`styleN`) sit below
    * the 5%-DF bar while the frame words sit above it — the oracle
    * replays the rendering, so recovery is hash-checked end to end.
    *
    * Scale shape: per-doc `array_distinct` BEFORE the explode so the
    * DF aggregate's input is bounded by distinct-tokens-per-doc (map-
    * side combined, one token exchange); the corpus total is a 1-row
    * broadcast; the DF≥5% vocab is stopword-scale under any Zipfian
    * corpus (a token in ≥5% of ALL docs) and hard-capped at 4096 with
    * a deterministic (df desc, tok) cut, riding ONE broadcast into the
    * map-side skeletonization; the cluster roll-up shuffles only
    * (16-byte digest, 60-char preview) per doc — never the text. */
  private val q201TmplText =
    """CASE WHEN substring(md5('tmpl|' || CAST(doc_id AS STRING)), 1, 1) < '4'
      |  THEN CASE
      |    WHEN doc_id % 4 = 0 THEN concat('please write a short essay about topic',
      |      CAST(doc_id % 7 AS STRING), ' for my style', CAST(doc_id % 9 AS STRING), ' class')
      |    WHEN doc_id % 4 = 1 THEN concat('translate the following sentence into topic',
      |      CAST(doc_id % 7 AS STRING), ' keeping the style', CAST(doc_id % 9 AS STRING), ' register')
      |    WHEN doc_id % 4 = 2 THEN concat('summarize the article topic',
      |      CAST(doc_id % 7 AS STRING), ' in exactly style', CAST(doc_id % 9 AS STRING), ' sentences')
      |    ELSE concat('list five facts about topic',
      |      CAST(doc_id % 7 AS STRING), ' as style', CAST(doc_id % 9 AS STRING), ' bullet points')
      |  END
      |  ELSE text END""".stripMargin
  private def q201(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = ScratchCache.persist(Tables.documents(s, dir)
      .selectExpr("doc_id", "source", s"($q201TmplText) AS text"))
    val total = docs.agg(count(lit(1)).as("n_total"))
    val dfreq = docs.selectExpr(s"explode(array_distinct($toksExpr)) AS tok")
      .groupBy($"tok").agg(count(lit(1)).as("df"))
    val vocab = dfreq.crossJoin(broadcast(total))
      .where(expr("df * 100 >= n_total * 5"))
      .orderBy($"df".desc, $"tok".asc).limit(4096)
      .agg(sort_array(collect_list($"tok")).as("vocab"))
    docs.crossJoin(broadcast(vocab))
      .selectExpr("source", "length(text) AS n_chars",
        s"""array_join(transform($toksExpr,
           |  t -> CASE WHEN array_contains(vocab, t) THEN t ELSE '_' END), ' ') AS skeleton""".stripMargin)
      .groupBy(md5($"skeleton").as("template_digest"),
        substring($"skeleton", 1, 60).as("preview"))
      .agg(count(lit(1)).as("n_docs"),
        countDistinct($"source").as("n_sources"),
        sum($"n_chars").as("n_chars"))
      .where($"n_docs" >= 3)
      .orderBy($"n_docs".desc, $"template_digest".asc)
  }
  private val q201Sql =
    s"""WITH docs AS (
       |  SELECT doc_id, source, ($q201TmplText) AS text FROM documents
       |), tk AS (
       |  SELECT doc_id, source, text, $toksSql AS toks FROM docs
       |), dfreq AS (
       |  SELECT tok, count(*) AS df FROM (
       |    SELECT DISTINCT doc_id, unnest(toks) AS tok FROM tk) GROUP BY tok
       |), tot AS (SELECT count(*) AS n_total FROM docs),
       |vcb AS (
       |  SELECT list(tok ORDER BY tok) AS vocab FROM (
       |    SELECT tok FROM dfreq, tot WHERE df * 100 >= n_total * 5
       |    ORDER BY df DESC, tok LIMIT 4096)
       |), sk AS (
       |  SELECT source, len(text) AS n_chars,
       |    array_to_string(list_transform(toks,
       |      t -> CASE WHEN list_contains(vocab, t) THEN t ELSE '_' END), ' ') AS skeleton
       |  FROM tk, vcb
       |)
       |SELECT md5(skeleton) AS template_digest, substring(skeleton, 1, 60) AS preview,
       |  CAST(count(*) AS BIGINT) AS n_docs,
       |  CAST(count(DISTINCT source) AS BIGINT) AS n_sources,
       |  CAST(sum(n_chars) AS BIGINT) AS n_chars
       |FROM sk GROUP BY skeleton
       |HAVING count(*) >= 3
       |ORDER BY n_docs DESC, template_digest""".stripMargin

  // ---------------------------------------------------------------- q206
  /** PII RISK TRIAGE — the compliance dashboard read BEFORE q79's
    * redaction run: per document, occurrence counts of each PII class
    * (q79's exact cross-engine regexes), a risk tier from how many
    * DISTINCT classes co-occur (clean / low / high / critical — class
    * co-occurrence is the triage signal: an email alone is a mailing
    * list, email+phone+IP in one page is a leaked record), rolled up
    * per (source, tier) with per-class occurrence mass. Redaction
    * (q79) destroys this signal — the triage must run first, and at
    * 100 TB you run it on the same scan that scores quality.
    *
    * The synthetic corpus is PII-free, so PII is PLANTED: an md5 carve
    * appends class combinations (single / pairs / all-three by
    * doc_id mod 4) that the oracle replays — every tier is exercised
    * and unplanted docs MUST triage clean (the false-positive guard
    * is part of the hash).
    *
    * Scale shape: per-doc regex counting is map-side codegen on the
    * scan; the only exchange is the (source, tier) roll-up with O(1)
    * cells. */
  private val q206PiiSql =
    """CASE WHEN substring(md5('pii|' || CAST(doc_id AS STRING)), 1, 1) < '4'
      |  THEN CASE CAST(doc_id % 4 AS INT)
      |    WHEN 0 THEN ' contact bob@example.com'
      |    WHEN 1 THEN ' call 555-123-4567 or mail sue@example.org'
      |    WHEN 2 THEN ' host 10.1.2.3 admin jo@example.net phone 555-987-6543'
      |    ELSE ' server 192.168.0.1' END
      |  ELSE '' END""".stripMargin
  private def q206(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, dir)
      .selectExpr("doc_id", "source", s"concat(text, $q206PiiSql) AS t")
      // regexes via the Column API: a SQL string literal would eat the
      // \b escapes that q79 proved cross-engine
      .select($"source",
        size(regexp_extract_all($"t", lit(emailRe), lit(0))).cast("long").as("n_email"),
        size(regexp_extract_all($"t", lit(phoneRe), lit(0))).cast("long").as("n_phone"),
        size(regexp_extract_all($"t", lit(ipRe), lit(0))).cast("long").as("n_ip"))
      .selectExpr("source", "n_email", "n_phone", "n_ip",
        """CASE CAST((CASE WHEN n_email > 0 THEN 1 ELSE 0 END)
          |   + (CASE WHEN n_phone > 0 THEN 1 ELSE 0 END)
          |   + (CASE WHEN n_ip > 0 THEN 1 ELSE 0 END) AS INT)
          |  WHEN 0 THEN 'clean' WHEN 1 THEN 'low'
          |  WHEN 2 THEN 'high' ELSE 'critical' END AS tier""".stripMargin)
      .groupBy($"source", $"tier")
      .agg(count(lit(1)).as("n_docs"), sum($"n_email").as("n_email"),
        sum($"n_phone").as("n_phone"), sum($"n_ip").as("n_ip"))
      .orderBy($"source", $"tier")
  }
  private val q206Sql =
    s"""WITH t AS (
       |  SELECT doc_id, source, text || ($q206PiiSql) AS t FROM documents
       |), c AS (
       |  SELECT source,
       |    CAST(len(regexp_extract_all(t, '$emailRe')) AS BIGINT) AS n_email,
       |    CAST(len(regexp_extract_all(t, '$phoneRe')) AS BIGINT) AS n_phone,
       |    CAST(len(regexp_extract_all(t, '$ipRe')) AS BIGINT) AS n_ip
       |  FROM t
       |), tiered AS (
       |  SELECT source, n_email, n_phone, n_ip,
       |    CASE (CASE WHEN n_email > 0 THEN 1 ELSE 0 END)
       |       + (CASE WHEN n_phone > 0 THEN 1 ELSE 0 END)
       |       + (CASE WHEN n_ip > 0 THEN 1 ELSE 0 END)
       |      WHEN 0 THEN 'clean' WHEN 1 THEN 'low'
       |      WHEN 2 THEN 'high' ELSE 'critical' END AS tier
       |  FROM c
       |)
       |SELECT source, tier, CAST(count(*) AS BIGINT) AS n_docs,
       |  CAST(sum(n_email) AS BIGINT) AS n_email,
       |  CAST(sum(n_phone) AS BIGINT) AS n_phone,
       |  CAST(sum(n_ip) AS BIGINT) AS n_ip
       |FROM tiered GROUP BY source, tier
       |ORDER BY source, tier""".stripMargin

  // ---------------------------------------------------------------- q210
  /** Per-language TOKENIZER FERTILITY — the table that converts
    * between the three units every budget in this catalog is quoted
    * in: characters (storage), whitespace tokens (the catalog's
    * mixture/budget unit, q101/q110/q177), and BPE-ish pre-tokens
    * (q56's regex — what the model actually consumes). Fertility
    * differs BY LANGUAGE (agglutinative and unsegmented scripts emit
    * more subword pieces per whitespace token), so a token budget
    * allocated in whitespace units under- or over-funds languages
    * unless multiplied by exactly this table's bpe-per-ws ratio —
    * run it once per corpus snapshot, feed the ratios into the q110/
    * q177 quota arithmetic. All ratios in exact integer milli-units
    * (the established cross-engine discipline; an IEEE division would
    * hash-drift).
    *
    * The fixture corpus is pure space-separated ASCII words (BPE ≡
    * whitespace there), so fertility divergence is PLANTED on an md5
    * carve: hyphenated/versioned/accented/CJK fragments whose BPE
    * piece counts exceed their whitespace counts, oracle-replayed.
    *
    * Scale shape: both tokenizations are map-side regex/array work on
    * ONE scan; the only exchange is the |langs|-row roll-up with O(1)
    * sum state. */
  private val q210PlantSql =
    """CASE WHEN substring(md5('fert|' || CAST(doc_id AS STRING)), 1, 1) < '4'
      |  THEN CASE CAST(doc_id % 3 AS INT)
      |    WHEN 0 THEN ' pre-trained v2.0 state-of-the-art'
      |    WHEN 1 THEN ' état café naïve señor'
      |    ELSE ' 你好世界 3.14-beta über' END
      |  ELSE '' END""".stripMargin
  private def q210(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, dir)
      .selectExpr("lang", s"concat(text, $q210PlantSql) AS text")
      .select($"lang", length($"text").cast("long").as("n_chars"),
        size(expr(toksExpr)).cast("long").as("n_ws"),
        size(expr(raw"regexp_extract_all(text, ' ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9\\s]+', 0)"))
          .cast("long").as("n_bpe"))
      .filter($"n_ws" >= 1L)
      .groupBy($"lang")
      .agg(count(lit(1)).as("n_docs"), sum($"n_chars").as("n_chars"),
        sum($"n_ws").as("n_ws_tokens"), sum($"n_bpe").as("n_bpe_tokens"))
      .selectExpr("lang", "n_docs", "n_chars", "n_ws_tokens", "n_bpe_tokens",
        "CAST(n_chars * 1000 DIV n_ws_tokens AS BIGINT) AS chars_per_ws_milli",
        "CAST(n_chars * 1000 DIV n_bpe_tokens AS BIGINT) AS chars_per_bpe_milli",
        "CAST(n_bpe_tokens * 1000 DIV n_ws_tokens AS BIGINT) AS bpe_per_ws_milli")
      .orderBy($"lang")
  }
  private val q210Sql =
    raw"""WITH d0 AS (
         |  SELECT lang, text || ($q210PlantSql) AS text FROM documents
         |), c AS (
         |  SELECT lang, CAST(len(text) AS BIGINT) AS n_chars,
         |    CAST(len($toksSql) AS BIGINT) AS n_ws,
         |    CAST(len(regexp_extract_all(text, ' ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9\s]+')) AS BIGINT) AS n_bpe
         |  FROM d0
         |), f AS (SELECT * FROM c WHERE n_ws >= 1)
         |SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(n_chars) AS BIGINT) AS n_chars,
         |  CAST(sum(n_ws) AS BIGINT) AS n_ws_tokens,
         |  CAST(sum(n_bpe) AS BIGINT) AS n_bpe_tokens,
         |  CAST(sum(n_chars) * 1000 // sum(n_ws) AS BIGINT) AS chars_per_ws_milli,
         |  CAST(sum(n_chars) * 1000 // sum(n_bpe) AS BIGINT) AS chars_per_bpe_milli,
         |  CAST(sum(n_bpe) * 1000 // sum(n_ws) AS BIGINT) AS bpe_per_ws_milli
         |FROM f GROUP BY lang
         |ORDER BY lang""".stripMargin

  // ---------------------------------------------------------------- q209
  /** Per-source OUT-OF-VOCABULARY rate against the corpus-trained
    * vocabulary — the per-source twin of q173's corpus-global coverage
    * curve, and the table that answers a different question: q173
    * sizes the vocabulary; q209 says WHICH SOURCE the misses come
    * from. The vocab is MIN-FREQUENCY-thresholded (types with ≥ 0.1%
    * of corpus token mass — how word2vec's min_count and BPE's
    * min-pair-frequency actually define membership; a mass threshold
    * is scale-invariant where a top-K cut isn't), hard-capped for the
    * broadcast. A source with outlier OOV ppm is a different
    * language/domain (re-weight, retrain the vocab) or noise (gate
    * it) — a per-source decision invisible in the global curve.
    * Reports per source: token mass, OOV occurrences, exact OOV ppm,
    * and distinct OOV types (many occurrences of FEW types =
    * systematic jargon; many types = noise).
    *
    * The fixture's corpus words all clear the mass bar, so OOV ground
    * truth is PLANTED: an md5 carve appends one of 16 rare jargon
    * types per carved doc (each ~0.01% of mass — an order of magnitude
    * under the bar at any SF, since both sides of the comparison scale
    * with the corpus). The oracle replays the plant.
    *
    * Scale shape: the vocab is one token-count exchange (map-side
    * combined) + the threshold filter + a deterministic cap cut,
    * collected to a 1-row array and BROADCAST; per-doc OOV counting is
    * a map-side array HOF against that broadcast; the per-source
    * roll-up is O(1) cells. The distinct-OOV-types count is the only
    * type-cardinality exchange: (source, token) pairs, map-side-
    * deduped per doc via array_distinct before the explode. */
  private val OovCap = 65536
  private val q209PlantSql =
    """CASE WHEN substring(md5('oov|' || CAST(doc_id AS STRING)), 1, 1) < '4'
      |  THEN ' jargon' || CAST(doc_id % 16 AS STRING)
      |  ELSE '' END""".stripMargin
  private def q209(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = ScratchCache.persist(
      Tables.documents(s, dir)
        .selectExpr("source", s"concat(text, $q209PlantSql) AS text")
        .select($"source", expr(toksExpr).as("toks"))
        .filter(size($"toks") >= 1))
    val total = docs.agg(sum(size($"toks").cast("long")).as("n_total"))
    val vocab = docs.selectExpr("explode(toks) AS tok")
      .groupBy($"tok").agg(count(lit(1)).as("c"))
      .crossJoin(broadcast(total))
      .where(expr("c * 1000 >= n_total"))
      .orderBy($"c".desc, $"tok".asc).limit(OovCap)
      .agg(sort_array(collect_list($"tok")).as("vocab"))
    val withV = docs.crossJoin(broadcast(vocab))
    val mass = withV
      .select($"source", size($"toks").cast("long").as("n_toks"),
        expr("CAST(size(filter(toks, t -> NOT array_contains(vocab, t))) AS BIGINT)").as("n_oov"))
      .groupBy($"source")
      .agg(sum($"n_toks").as("n_tokens"), sum($"n_oov").as("n_oov"))
    val types = withV
      .selectExpr("source",
        "explode(array_distinct(filter(toks, t -> NOT array_contains(vocab, t)))) AS tok")
      .groupBy($"source").agg(countDistinct($"tok").as("n_oov_types"))
    mass.join(types, Seq("source"), "left")
      .selectExpr("source", "n_tokens", "n_oov",
        "CAST(n_oov * 1000000 DIV n_tokens AS BIGINT) AS oov_ppm",
        "coalesce(n_oov_types, 0L) AS n_oov_types")
      .orderBy($"source")
  }
  private val q209Sql =
    s"""WITH d0 AS (
       |  SELECT source, text || ($q209PlantSql) AS text FROM documents
       |), docs AS (
       |  SELECT source, $toksSql AS toks FROM d0
       |  WHERE len($toksSql) >= 1
       |), tot AS (
       |  SELECT CAST(sum(len(toks)) AS BIGINT) AS n_total FROM docs
       |), vcb AS (
       |  -- coalesce: list() over ZERO rows (no token reaches the 0.1%
       |  -- mass bar) is NULL in DuckDB, and NOT list_contains(NULL, t)
       |  -- is NULL → list_filter drops every token → n_oov=0, while
       |  -- Spark's collect_list yields [] → every token is OOV. An
       |  -- empty vocab must mean "everything is OOV" on BOTH sides.
       |  SELECT coalesce(list(tok ORDER BY tok), []) AS vocab FROM (
       |    SELECT tok FROM (
       |      SELECT tok, count(*) AS c FROM (
       |        SELECT unnest(toks) AS tok FROM docs)
       |      GROUP BY tok), tot
       |    WHERE c * 1000 >= n_total
       |    ORDER BY c DESC, tok LIMIT $OovCap)
       |), mass AS (
       |  SELECT source, CAST(sum(len(toks)) AS BIGINT) AS n_tokens,
       |    CAST(sum(len(list_filter(toks, t -> NOT list_contains(vocab, t)))) AS BIGINT) AS n_oov
       |  FROM docs, vcb GROUP BY source
       |), types AS (
       |  SELECT source, CAST(count(DISTINCT tok) AS BIGINT) AS n_oov_types
       |  FROM (
       |    SELECT source, unnest(list_distinct(list_filter(toks, t -> NOT list_contains(vocab, t)))) AS tok
       |    FROM docs, vcb)
       |  GROUP BY source
       |)
       |SELECT m.source, m.n_tokens, m.n_oov,
       |  CAST(m.n_oov * 1000000 // m.n_tokens AS BIGINT) AS oov_ppm,
       |  CAST(coalesce(t.n_oov_types, 0) AS BIGINT) AS n_oov_types
       |FROM mass m LEFT JOIN types t ON m.source = t.source
       |ORDER BY m.source""".stripMargin

  // ---------------------------------------------------------------- q207
  /** ENCODING-HEALTH audit — the mojibake/markup-residue dashboard run
    * on every ingest batch before text ops trust the bytes: per
    * source, occurrence counts of four damage classes — raw C0
    * control characters (binary bleed-through), unescaped HTML
    * entities (`&amp;` — extraction that stopped half-way, q171's
    * residue), U+FFFD replacement characters (a transcoder already
    * lost bytes: the definitive mojibake marker), and NBSP (copy-paste
    * markup whitespace that breaks `\\s+`-free tokenizers) — plus the
    * ppm of affected docs. A source with rising FFFD ppm has an
    * upstream charset regression; this table is how you catch it
    * before a 100 TB retokenization bakes it in.
    *
    * The fixture corpus is clean, so damage is PLANTED on an md5
    * carve (one class per doc by doc_id mod 4; control chars built
    * via chr() in BOTH engines — Spark's chr is mod-256 ASCII, so the
    * non-ASCII markers are embedded as literal UTF-8, which both SQL
    * dialects pass through untouched). The oracle replays the plant,
    * so clean docs staying clean is part of the hash.
    *
    * Scale shape: per-doc regex counting map-side on the scan; ONE
    * (source) exchange with O(1) cells. */
  private val q207CtrlRe = "[\\x01-\\x08\\x0B\\x0C\\x0E-\\x1F]"
  private val q207EntityRe = "&(amp|lt|gt|quot|#[0-9]+);"
  private val q207ReplRe = "�"
  private val q207NbspRe = " "
  private val q207PlantSql =
    s"""CASE WHEN substring(md5('enc|' || CAST(doc_id AS STRING)), 1, 1) < '4'
       |  THEN CASE CAST(doc_id % 4 AS INT)
       |    WHEN 0 THEN chr(1) || chr(2)
       |    WHEN 1 THEN ' x &amp; y &lt; z &#8212;'
       |    WHEN 2 THEN '��'
       |    ELSE ' ' END
       |  ELSE '' END""".stripMargin
  private def q207(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, dir)
      .selectExpr("doc_id", "source", s"concat(text, $q207PlantSql) AS t")
      .select($"source",
        size(regexp_extract_all($"t", lit(q207CtrlRe), lit(0))).cast("long").as("ctrl_occ"),
        size(regexp_extract_all($"t", lit(q207EntityRe), lit(0))).cast("long").as("entity_occ"),
        size(regexp_extract_all($"t", lit(q207ReplRe), lit(0))).cast("long").as("repl_occ"),
        size(regexp_extract_all($"t", lit(q207NbspRe), lit(0))).cast("long").as("nbsp_occ"))
      .withColumn("affected",
        when($"ctrl_occ" + $"entity_occ" + $"repl_occ" + $"nbsp_occ" > 0L, 1L).otherwise(0L))
      .groupBy($"source")
      .agg(count(lit(1)).as("n_docs"), sum($"affected").as("n_affected"),
        sum($"ctrl_occ").as("ctrl_occ"), sum($"entity_occ").as("entity_occ"),
        sum($"repl_occ").as("repl_occ"), sum($"nbsp_occ").as("nbsp_occ"))
      .selectExpr("source", "n_docs", "n_affected", "ctrl_occ", "entity_occ",
        "repl_occ", "nbsp_occ",
        "CAST(n_affected * 1000000 DIV n_docs AS BIGINT) AS affected_ppm")
      .orderBy($"source")
  }
  private val q207Sql =
    s"""WITH t AS (
       |  SELECT source, text || ($q207PlantSql) AS t FROM documents
       |), c AS (
       |  SELECT source,
       |    CAST(len(regexp_extract_all(t, '$q207CtrlRe')) AS BIGINT) AS ctrl_occ,
       |    CAST(len(regexp_extract_all(t, '$q207EntityRe')) AS BIGINT) AS entity_occ,
       |    CAST(len(regexp_extract_all(t, '$q207ReplRe')) AS BIGINT) AS repl_occ,
       |    CAST(len(regexp_extract_all(t, '$q207NbspRe')) AS BIGINT) AS nbsp_occ
       |  FROM t
       |), f AS (
       |  SELECT source, ctrl_occ, entity_occ, repl_occ, nbsp_occ,
       |    CASE WHEN ctrl_occ + entity_occ + repl_occ + nbsp_occ > 0
       |         THEN 1 ELSE 0 END AS affected
       |  FROM c
       |)
       |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
       |  CAST(sum(affected) AS BIGINT) AS n_affected,
       |  CAST(sum(ctrl_occ) AS BIGINT) AS ctrl_occ,
       |  CAST(sum(entity_occ) AS BIGINT) AS entity_occ,
       |  CAST(sum(repl_occ) AS BIGINT) AS repl_occ,
       |  CAST(sum(nbsp_occ) AS BIGINT) AS nbsp_occ,
       |  CAST(sum(affected) * 1000000 // count(*) AS BIGINT) AS affected_ppm
       |FROM f GROUP BY source
       |ORDER BY source""".stripMargin

  // ---------------------------------------------------------------- q203
  /** Curriculum PHASE plan — the data-ordering recipe for quality-
    * annealed training (high-quality warmup, broadening tail: the
    * descending-quality schedule used when a run's early tokens matter
    * most): docs ordered by (classifier score desc, doc_id), cut into
    * three phases at exact cumulative-token thresholds — phase 1 =
    * the first 20% of corpus tokens, phase 2 = through 50%, phase 3 =
    * the rest — and rolled up per (phase, source): the per-phase
    * mixture a training loader consumes. Thresholds are exact integer
    * (T·20 DIV 100), assignment is by the doc's cumulative END, so
    * the plan is deterministic and hash-replayable.
    *
    * Scale shape: the global ordered prefix sum is q101's exactly —
    * [[graft.core.PrefixSum.runningTotal]] decomposes it into
    * per-(score, id-shard) windows plus a broadcast shard-offset
    * frame, so no document-sized frame ever crosses one window
    * partition; the corpus total and both thresholds ride a 1-row
    * broadcast; the roll-up is a (phase, source) exchange with O(1)
    * cells. */
  private def q203(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val scored = graft.core.ScratchCache.persist(
      Tables.documents(s, dir)
        .select($"doc_id", $"source", expr(toksExpr).as("toks"))
        .filter(size($"toks") >= 1)
        .select($"doc_id", $"source",
          size($"toks").cast("long").as("n_toks"),
          expr(scoreExpr).as("score")))
    val cuts = scored.agg(sum($"n_toks").as("t"))
      .selectExpr("CAST(t * 20 DIV 100 AS BIGINT) AS t1",
        "CAST(t * 50 DIV 100 AS BIGINT) AS t2")
    graft.core.PrefixSum.runningTotal(scored, "score", "doc_id", "n_toks", "cum_tokens")
      .crossJoin(broadcast(cuts))
      .selectExpr("source", "n_toks", "score",
        """CAST(CASE WHEN cum_tokens <= t1 THEN 1
          |     WHEN cum_tokens <= t2 THEN 2 ELSE 3 END AS BIGINT) AS phase""".stripMargin)
      .groupBy($"phase", $"source")
      .agg(count(lit(1)).as("n_docs"), sum($"n_toks").as("n_tokens"),
        min($"score").as("min_score"), max($"score").as("max_score"))
      .orderBy($"phase", $"source")
  }
  private val q203Sql =
    s"""WITH scored AS (
       |  SELECT doc_id, source,
       |    CAST(len(toks) AS BIGINT) AS n_toks,
       |    $scoreSql AS score
       |  FROM (SELECT doc_id, source, $toksSql AS toks FROM documents)
       |  WHERE len(toks) >= 1
       |), cuts AS (
       |  SELECT CAST(sum(n_toks) * 20 // 100 AS BIGINT) AS t1,
       |         CAST(sum(n_toks) * 50 // 100 AS BIGINT) AS t2
       |  FROM scored
       |), cum AS (
       |  SELECT source, n_toks, score,
       |    CAST(sum(n_toks) OVER (ORDER BY score DESC, doc_id
       |         ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens
       |  FROM scored
       |), ph AS (
       |  SELECT source, n_toks, score,
       |    CAST(CASE WHEN cum_tokens <= t1 THEN 1
       |         WHEN cum_tokens <= t2 THEN 2 ELSE 3 END AS BIGINT) AS phase
       |  FROM cum CROSS JOIN cuts
       |)
       |SELECT phase, source, CAST(count(*) AS BIGINT) AS n_docs,
       |  CAST(sum(n_toks) AS BIGINT) AS n_tokens,
       |  CAST(min(score) AS BIGINT) AS min_score,
       |  CAST(max(score) AS BIGINT) AS max_score
       |FROM ph GROUP BY phase, source
       |ORDER BY phase, source""".stripMargin

  // ---------------------------------------------------------------- q220
  /** STOPWORD-PROFILE divergence — the cheapest per-source language/
    * register drift detector there is: the corpus's [[StopK]] most
    * frequent tokens define a function-word profile (stopword
    * frequencies are the classic stylometric fingerprint — Mosteller &
    * Wallace's Federalist method), and each source is scored by the L1
    * distance between its per-token ppm rates and the corpus rates,
    * plus its total stopword mass. A source whose l1_ppm spikes is
    * drifting (different language, boilerplate flood, or machine-
    * generated text with unnatural function-word rates) — caught from
    * token counts alone, no classifier inference pass.
    *
    * All arithmetic is exact integer ppm (each rate is one
    * non-negative DIV; the |a−b| differences are summed as BIGINTs),
    * so both engines agree bit-for-bit.
    *
    * Scale shape: ONE token-count exchange with map-side combine
    * builds both the global top-K (a 20-row broadcast) and the
    * per-source totals; the per-(source, stopword) counts are a
    * second map-side-combined exchange bounded by |sources|×K cells;
    * the K-row-per-source grid is a broadcast cross join, never a
    * corpus-sized shuffle. */
  private val StopK = 20
  private def q220(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val tok = ScratchCache.persist(
      Tables.documents(s, dir).selectExpr("source", s"explode($toksExpr) AS tok"))
    val tot = tok.agg(count(lit(1)).as("n_all"))
    val stop = tok.groupBy($"tok").agg(count(lit(1)).as("cnt"))
      .orderBy($"cnt".desc, $"tok".asc).limit(StopK)
    val stot = tok.groupBy($"source").agg(count(lit(1)).as("n_src"))
    val sc = tok.join(broadcast(stop.select($"tok")), "tok")
      .groupBy($"source", $"tok").agg(count(lit(1)).as("scnt"))
    stot.crossJoin(broadcast(stop)).crossJoin(broadcast(tot))
      .join(sc, Seq("source", "tok"), "left")
      .select($"source", $"n_src",
        coalesce($"scnt", lit(0L)).as("scnt"), $"cnt", $"n_all")
      .groupBy($"source")
      .agg(max($"n_src").as("n_tokens"),
        expr("CAST(sum(scnt) * 1000000 DIV max(n_src) AS BIGINT)").as("stop_mass_ppm"),
        expr("CAST(sum(abs(scnt * 1000000 DIV n_src - cnt * 1000000 DIV n_all)) AS BIGINT)").as("l1_ppm"))
      .orderBy($"source")
  }
  private val q220Sql =
    s"""WITH tok AS (
       |  SELECT source, unnest($toksSql) AS tok FROM documents
       |), tot AS (
       |  SELECT count(*) AS n_all FROM tok
       |), stop AS (
       |  SELECT tok, cnt FROM (
       |    SELECT tok, count(*) AS cnt FROM tok GROUP BY tok
       |    ORDER BY cnt DESC, tok LIMIT $StopK)
       |), stot AS (
       |  SELECT source, count(*) AS n_src FROM tok GROUP BY source
       |), sc AS (
       |  SELECT t.source, t.tok, count(*) AS scnt
       |  FROM tok t JOIN stop s ON t.tok = s.tok
       |  GROUP BY t.source, t.tok
       |), grid AS (
       |  SELECT st.source, st.n_src, s.tok, s.cnt, coalesce(sc.scnt, 0) AS scnt, tot.n_all
       |  FROM stot st CROSS JOIN stop s CROSS JOIN tot
       |  LEFT JOIN sc ON sc.source = st.source AND sc.tok = s.tok
       |)
       |SELECT source, CAST(max(n_src) AS BIGINT) AS n_tokens,
       |  CAST(sum(scnt) * 1000000 // max(n_src) AS BIGINT) AS stop_mass_ppm,
       |  CAST(sum(abs(scnt * 1000000 // n_src - cnt * 1000000 // n_all)) AS BIGINT) AS l1_ppm
       |FROM grid GROUP BY source ORDER BY source""".stripMargin

  // ---------------------------------------------------------------- q230
  /** SCORE–LENGTH confounder audit — the calibration check run before
    * a quality classifier is allowed to gate a corpus: per
    * power-of-two token-count bucket, doc count, token mass, raw
    * score mass, and the score PER TOKEN in exact milli-units. A
    * per-token score that trends with the bucket means the
    * "quality" signal is partly a LENGTH signal — gating on it
    * silently reshapes the length distribution (and with it topic
    * and source mix), the classic curation artifact this table
    * catches before q105/q170 thresholds bake it in.
    *
    * The per-token mean divides a possibly-NEGATIVE score mass —
    * verified on this DuckDB vintage (v1.0.0) that BIGINT `//`
    * TRUNCATES toward zero exactly like Spark's integral DIV
    * (−2096000 // 279 = −7512 on both engines; the floor/truncation
    * divergence the catalog avoids elsewhere applies to other type
    * combinations, not BIGINT//BIGINT), so one plain DIV is
    * hash-exact here and ConfounderSpec pins the negative-mass case.
    *
    * Scale shape: scoring is the one codegen'd scan q96/q176 share;
    * the histogram is ONE ≤~40-cell bucket exchange with O(1) sums. */
  private def q230(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, dir)
      .select(expr(toksExpr).as("toks"))
      .filter(size($"toks") >= 1)
      .select(size($"toks").cast("long").as("n_toks"), expr(scoreExpr).as("score"))
      .groupBy(length(bin($"n_toks")).cast("long").as("bucket"))
      .agg(count(lit(1)).as("n_docs"), sum($"n_toks").as("sum_tokens"),
        sum($"score").as("sum_score"))
      .selectExpr("bucket", "n_docs", "sum_tokens", "sum_score",
        "CAST(sum_score * 1000 DIV sum_tokens AS BIGINT) AS score_milli_per_token")
      .orderBy($"bucket")
  }
  private val q230Sql =
    s"""WITH d AS (
       |  SELECT len(toks) AS n_toks, $scoreSql AS score
       |  FROM (SELECT $toksSql AS toks FROM documents) WHERE len(toks) >= 1
       |), b AS (
       |  SELECT CAST(length(bin(n_toks)) AS BIGINT) AS bucket,
       |    CAST(count(*) AS BIGINT) AS n_docs,
       |    CAST(sum(n_toks) AS BIGINT) AS sum_tokens,
       |    CAST(sum(score) AS BIGINT) AS sum_score
       |  FROM d GROUP BY 1
       |)
       |SELECT bucket, n_docs, sum_tokens, sum_score,
       |  CAST(sum_score * 1000 // sum_tokens AS BIGINT) AS score_milli_per_token
       |FROM b ORDER BY bucket""".stripMargin

  // ---------------------------------------------------------------- q232
  /** PADDING-WASTE audit — the FLOPs bill q85's length bucketing
    * exists to cut, measured instead of asserted: under pad-to-longest
    * batching (batch capacity = n_docs × max_len), the padded token
    * mass, payload mass, and waste ppm per scheme — q85's
    * length-bucketed batches side by side with the UNBUCKETED
    * baseline (same 32-doc batches, same shards, no length grouping).
    * Every padding token is a trained-but-empty position; the delta
    * between the two schemes' waste_ppm is dynamic batching's
    * measured savings, the number that justifies the extra layout
    * pass before a 100 TB training run.
    *
    * Scale shape: q85's exact anti-serialization shape twice — the
    * batch windows partition by (bucket, shard) / (shard) with the
    * derived shard count keeping every window partition ≈ constant;
    * the per-batch reduction is an O(1)-state hash aggregate and the
    * scheme roll-up is ≤ ~40 cells. */
  private def q232(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val sized = ScratchCache.persist(
      Tables.documents(s, dir)
        .select($"doc_id", size(expr(toksExpr)).cast("long").as("n_toks"))
        .filter($"n_toks" > 0))
    val n = sized.agg(greatest(lit(1L),
      ceil(count(lit(1)).cast("double") / lit(TargetShardDocs.toDouble))).as("n_shards"))
    val base = sized.crossJoin(broadcast(n))
      .withColumn("bucket", length(bin($"n_toks")).cast("long"))
      .withColumn("shard", $"doc_id" % $"n_shards")
    def audit(scheme: String, partCols: Seq[String]): DataFrame = {
      val w = Window.partitionBy(partCols.map(col): _*).orderBy($"doc_id")
      val withBucket =
        if (partCols.contains("bucket")) base else base.withColumn("bucket", lit(0L))
      withBucket
        .withColumn("batch_no", floor((row_number().over(w) - 1) / 32).cast("long"))
        .groupBy($"bucket", $"shard", $"batch_no")
        .agg(count(lit(1)).as("n_docs"), max($"n_toks").as("mx"), sum($"n_toks").as("payload"))
        .groupBy($"bucket")
        .agg(count(lit(1)).as("n_batches"), sum($"n_docs").as("n_docs"),
          sum($"payload").as("payload_tokens"),
          sum($"n_docs" * $"mx").as("padded_tokens"))
        .selectExpr(s"'$scheme' AS scheme", "bucket", "n_batches", "n_docs",
          "payload_tokens", "padded_tokens",
          "CAST((padded_tokens - payload_tokens) * 1000000 DIV padded_tokens AS BIGINT) AS waste_ppm")
    }
    audit("bucketed", Seq("bucket", "shard"))
      .union(audit("unbucketed", Seq("shard")))
      .orderBy($"scheme", $"bucket")
  }
  private val q232Sql =
    s"""WITH sized AS (
       |  SELECT doc_id, CAST(len($toksSql) AS BIGINT) AS n_toks
       |  FROM documents WHERE len($toksSql) > 0
       |),
       |n AS (
       |  SELECT greatest(1, CAST(ceil(count(*) / $TargetShardDocs.0) AS BIGINT)) AS n_shards
       |  FROM sized
       |),
       |base AS (
       |  SELECT doc_id, n_toks, CAST(length(bin(n_toks)) AS BIGINT) AS bucket,
       |    doc_id % n.n_shards AS shard
       |  FROM sized, n
       |),
       |bk AS (
       |  SELECT bucket, shard,
       |    CAST(floor((row_number() OVER (PARTITION BY bucket, shard ORDER BY doc_id) - 1) / 32) AS BIGINT) AS batch_no,
       |    n_toks
       |  FROM base
       |),
       |ub AS (
       |  SELECT CAST(0 AS BIGINT) AS bucket, shard,
       |    CAST(floor((row_number() OVER (PARTITION BY shard ORDER BY doc_id) - 1) / 32) AS BIGINT) AS batch_no,
       |    n_toks
       |  FROM base
       |),
       |agg AS (
       |  SELECT 'bucketed' AS scheme, bucket, shard, batch_no,
       |    count(*) AS n_docs, max(n_toks) AS mx, sum(n_toks) AS payload
       |  FROM bk GROUP BY bucket, shard, batch_no
       |  UNION ALL
       |  SELECT 'unbucketed', bucket, shard, batch_no,
       |    count(*), max(n_toks), sum(n_toks)
       |  FROM ub GROUP BY bucket, shard, batch_no
       |)
       |SELECT scheme, bucket, CAST(count(*) AS BIGINT) AS n_batches,
       |  CAST(sum(n_docs) AS BIGINT) AS n_docs,
       |  CAST(sum(payload) AS BIGINT) AS payload_tokens,
       |  CAST(sum(n_docs * mx) AS BIGINT) AS padded_tokens,
       |  CAST((sum(n_docs * mx) - sum(payload)) * 1000000 // sum(n_docs * mx) AS BIGINT) AS waste_ppm
       |FROM agg GROUP BY scheme, bucket
       |ORDER BY scheme, bucket""".stripMargin

  // ---------------------------------------------------------------- q233
  /** CHUNK-BOUNDARY STABILITY under edits — CDC's selling point
    * (q91's scaladoc asserts it; this measures it): an md5-carved 25%
    * of docs receive a one-token INSERTION near the start (the
    * worst-case edit position — everything after it shifts), both
    * versions are chunked under q91's content gate AND under a
    * fixed-stride-8 control, and each scheme reports how many of the
    * original chunks survive the edit byte-identically. CDC
    * resynchronizes at the next content gate, so survival is high;
    * fixed stride shifts every block after the edit, so survival
    * collapses — the measured gap IS the reason chunk-level dedup
    * (q91) uses content-defined boundaries at 100 TB, where every
    * recrawl is an edited near-copy.
    *
    * Scale shape: purely per-doc array arithmetic on one scan (both
    * chunkings of both versions are HOF expressions over the same
    * token array — no shuffle touches chunk payloads); ONE 2-cell
    * scheme roll-up. */
  private val q233EditSql =
    "substring(md5(concat('edit|', CAST(doc_id AS STRING))), 1, 1) < '4'"
  private def q233(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    def starts(t: String) =
      s"concat(array(1), filter(sequence(5, greatest(size($t), 5)), " +
        s"p -> p <= size($t) AND substr(md5(concat_ws(' ', slice($t, p - 4, 4))), 1, 1) = '0'))"
    def cdc(t: String, st: String, en: String) =
      s"zip_with($st, $en, (st, en) -> md5(concat_ws(' ', slice($t, st, en - st))))"
    def stride(t: String) =
      s"transform(sequence(0, (size($t) + 7) DIV 8 - 1), i -> md5(concat_ws(' ', slice($t, i * 8 + 1, 8))))"
    val base = Tables.documents(s, dir)
      .select($"doc_id", expr(toksExpr).as("toks"))
      .filter(size($"toks") >= 12 && expr(q233EditSql))
      .withColumn("toks_e",
        expr("concat(slice(toks, 1, 3), array('zzedit'), slice(toks, 4, size(toks) - 3))"))
      .withColumn("st_o", expr(starts("toks")))
      .withColumn("st_e", expr(starts("toks_e")))
      .withColumn("en_o", expr("concat(slice(st_o, 2, size(st_o) - 1), array(size(toks) + 1))"))
      .withColumn("en_e", expr("concat(slice(st_e, 2, size(st_e) - 1), array(size(toks_e) + 1))"))
      .select(
        expr(s"array_distinct(${cdc("toks", "st_o", "en_o")})").as("cdc_o"),
        expr(s"array_distinct(${cdc("toks_e", "st_e", "en_e")})").as("cdc_e"),
        expr(s"array_distinct(${stride("toks")})").as("str_o"),
        expr(s"array_distinct(${stride("toks_e")})").as("str_e"))
      .selectExpr(
        "CAST(size(cdc_o) AS BIGINT) AS cdc_n",
        "CAST(size(array_intersect(cdc_o, cdc_e)) AS BIGINT) AS cdc_shared",
        "CAST(size(str_o) AS BIGINT) AS str_n",
        "CAST(size(array_intersect(str_o, str_e)) AS BIGINT) AS str_shared")
    base
      .selectExpr("stack(2, 'cdc', cdc_n, cdc_shared, 'stride8', str_n, str_shared) AS (scheme, n, shared)")
      .groupBy($"scheme")
      .agg(count(lit(1)).as("n_docs_edited"), sum($"n").as("chunks_orig"),
        sum($"shared").as("chunks_survived"))
      .selectExpr("scheme", "n_docs_edited", "chunks_orig", "chunks_survived",
        "CAST(chunks_survived * 1000000 DIV chunks_orig AS BIGINT) AS survival_ppm")
      .orderBy($"scheme")
  }
  private val q233Sql = {
    def starts(t: String) =
      s"list_concat([1], list_filter(generate_series(5, len($t)), " +
        s"p -> substr(md5(array_to_string(list_slice($t, p - 4, p - 1), ' ')), 1, 1) = '0'))"
    def stride(t: String) =
      s"list_transform(generate_series(0, (len($t) + 7) // 8 - 1), i -> md5(array_to_string(list_slice($t, i * 8 + 1, i * 8 + 8), ' ')))"
    s"""WITH t AS (
       |  SELECT doc_id, toks,
       |    list_concat(list_concat(list_slice(toks, 1, 3), ['zzedit']), list_slice(toks, 4, len(toks))) AS toks_e
       |  FROM (SELECT doc_id, $toksSql AS toks FROM documents)
       |  WHERE len(toks) >= 12 AND ${q233EditSql.replace("concat('edit|', CAST(doc_id AS STRING))", "'edit|' || CAST(doc_id AS VARCHAR)")}
       |), st AS (
       |  SELECT doc_id, toks, toks_e,
       |    ${starts("toks")} AS st_o, ${starts("toks_e")} AS st_e
       |  FROM t
       |), x AS (
       |  SELECT doc_id, toks, toks_e, st_o, st_e,
       |    list_concat(list_slice(st_o, 2, len(st_o)), [len(toks) + 1]) AS en_o,
       |    list_concat(list_slice(st_e, 2, len(st_e)), [len(toks_e) + 1]) AS en_e
       |  FROM st
       |), h AS (
       |  SELECT
       |    list_distinct(list_transform(generate_series(1, len(st_o)),
       |      k -> md5(array_to_string(list_slice(toks, st_o[k], en_o[k] - 1), ' ')))) AS cdc_o,
       |    list_distinct(list_transform(generate_series(1, len(st_e)),
       |      k -> md5(array_to_string(list_slice(toks_e, st_e[k], en_e[k] - 1), ' ')))) AS cdc_e,
       |    list_distinct(${stride("toks")}) AS str_o,
       |    list_distinct(${stride("toks_e")}) AS str_e
       |  FROM x
       |), rows_ AS (
       |  SELECT 'cdc' AS scheme, CAST(len(cdc_o) AS BIGINT) AS n,
       |    CAST(len(list_intersect(cdc_o, cdc_e)) AS BIGINT) AS shared FROM h
       |  UNION ALL
       |  SELECT 'stride8', CAST(len(str_o) AS BIGINT),
       |    CAST(len(list_intersect(str_o, str_e)) AS BIGINT) FROM h
       |)
       |SELECT scheme, CAST(count(*) AS BIGINT) AS n_docs_edited,
       |  CAST(sum(n) AS BIGINT) AS chunks_orig,
       |  CAST(sum(shared) AS BIGINT) AS chunks_survived,
       |  CAST(sum(shared) * 1000000 // sum(n) AS BIGINT) AS survival_ppm
       |FROM rows_ GROUP BY scheme ORDER BY scheme""".stripMargin
  }

  val declared: Seq[Query] = Seq(
    Query("q220_stopword_divergence", q220, Oracle.Sql(q220Sql)),
    Query("q230_score_length_confounder", q230, Oracle.Sql(q230Sql)),
    Query("q232_padding_waste", q232, Oracle.Sql(q232Sql)),
    Query("q233_chunk_stability", q233, Oracle.Sql(q233Sql)),
    Query("q30_wordcount", q30, Oracle.Sql(q30Sql)),
    Query("q31_inverted_index", q31, Oracle.Sql(q31Sql)),
    Query("q32_ngrams", q32, Oracle.Sql(q32Sql)),
    Query("q33_token_stats", q33, Oracle.Sql(q33Sql)),
    Query("q34_langid", q34, Oracle.Sql(q34Sql)),
    Query("q35_quality_score", q35, Oracle.Sql(q35Sql)),
    Query("q36_fingerprint", q36, Oracle.Sql(q36Sql)),
    Query("q37_mr_facade_wordcount", q37, Oracle.Sql(q37Sql)),
    Query("q56_bpe_tokens", q56, Oracle.Sql(q56Sql)),
    Query("q67_doc_chunking", q67, Oracle.Sql(q67Sql)),
    Query("q68_tfidf_topterms", q68, Oracle.Sql(q68Sql)),
    Query("q69_hash_sample", q69, Oracle.Sql(q69Sql)),
    Query("q76_stratified_sample", q76, Oracle.Sql(q76Sql)),
    Query("q79_pii_redact", q79, Oracle.Sql(q79Sql)),
    Query("q80_sequence_packing", q80, Oracle.Sql(q80Sql)),
    Query("q83_mixture_sample", q83, Oracle.Sql(q83Sql)),
    Query("q193_epoch_plan", q193, Oracle.Sql(q193Sql)),
    Query("q198_related_packing", q198, Oracle.Sql(q198Sql)),
    Query("q84_epoch_shuffle", q84, Oracle.Sql(q84Sql)),
    Query("q85_length_batching", q85, Oracle.Sql(q85Sql)),
    Query("q89_source_mixture", q89, Oracle.Sql(q89Sql)),
    Query("q91_cdc_chunks", q91, Oracle.Sql(q91Sql)),
    Query("q92_bm25_search", q92, Oracle.Sql(q92Sql)),
    Query("q145_bm25_champions", q145, Oracle.Sql(q145Sql)),
    Query("q150_bpe_encode", q150, Oracle.Sql(q150Sql)),
    Query("q240_bpe_train", q240, Oracle.Sql(q240Sql)),
    Query("q93_rare_bigram_rate", q93, Oracle.Sql(q93Sql)),
    Query("q95_bpe_merges", q95, Oracle.Sql(q95Sql)),
    Query("q96_quality_classifier", q96, Oracle.Sql(q96Sql)),
    Query("q97_token_surprisal", q97, Oracle.Sql(q97Sql)),
    Query("q101_token_budget", q101, Oracle.Sql(q101Sql)),
    Query("q104_gopher_rules", q104, Oracle.Sql(q104Sql)),
    Query("q146_gate_agreement", q146, Oracle.Sql(q146Sql)),
    Query("q105_quality_quantile", q105, Oracle.Sql(q105Sql)),
    Query("q110_temperature_mixture", q110, Oracle.Sql(q110Sql)),
    Query("q111_line_dedup", q111, Oracle.Sql(q111Sql)),
    Query("q112_dsir_weights", q112, Oracle.Sql(q112Sql)),
    Query("q117_source_overlap", q117, Oracle.Sql(q117Sql)),
    Query("q122_langid_confusion", q122, Oracle.Sql(q122Sql)),
    Query("q123_weighted_sample", q123, Oracle.Sql(q123Sql)),
    Query("q125_split_assign", q125, Oracle.Sql(q125Sql)),
    Query("q131_heavy_hitters_cms", HeavyHitters.q131, Oracle.Sql(HeavyHitters.q131Sql)),
    Query("q140_collocations", q140, Oracle.Sql(q140Sql)),
    Query("q170_threshold_yield", q170, Oracle.Sql(q170Sql)),
    Query("q173_vocab_coverage", q173, Oracle.Sql(q173Sql)),
    Query("q182_source_datasheet", q182, Oracle.Sql(q182Sql)),
    Query("q183_audit_allocation", q183, Oracle.Sql(q183Sql)),
    Query("q188_uncertainty_sample", q188, Oracle.Sql(q188Sql)),
    Query("q191_gate_roc", q191, Oracle.Sql(q191Sql)),
    Query("q176_score_calibration", q176, Oracle.Sql(q176Sql)),
    Query("q177_mixture_schedule", q177, Oracle.Sql(q177Sql)),
    Query("q201_template_mining", q201, Oracle.Sql(q201Sql)),
    Query("q203_curriculum_phases", q203, Oracle.Sql(q203Sql)),
    Query("q206_pii_risk", q206, Oracle.Sql(q206Sql)),
    Query("q207_encoding_health", q207, Oracle.Sql(q207Sql)),
    Query("q209_oov_rate", q209, Oracle.Sql(q209Sql)),
    Query("q210_tokenizer_fertility", q210, Oracle.Sql(q210Sql)),
  )
}
