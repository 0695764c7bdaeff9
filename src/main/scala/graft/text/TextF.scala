package graft.text

import graft.Exact.GraftCheckpoint
import graft.{Q, Tables, Module}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** SURVEY §2.F — text analysis over `documents` (LLM-pipeline mandate).
  *
  * All ops are narrow maps over the text column (no shuffle): language ID
  * by stopword profile, quality scoring, tokenization counts, content
  * fingerprinting, shingle statistics. Counting is integer-exact so the
  * DuckDB oracles hash-match; ratio outputs are fixed IEEE expressions.
  *
  * r14: every per-document surface lost its trailing global orderBy (and
  * the oracle twin its ORDER BY — the tx_quality precedent): the
  * correctness compare is a multiset, and the output sort was the ONLY
  * exchange in most of these plans — a full range shuffle of a per-row
  * surface (500M rows at sf100) purely for output determinism. The
  * narrow maps are now genuinely shuffle-free end to end. Bounded
  * readouts (confusion cells, top-k with LIMIT, per-source TTR) keep
  * their sorts — sorting a constant-size surface costs nothing.
  */
object TextF extends Module {

  private val stopwords: Seq[(String, Seq[String])] =
    graft.functions.StopCounts.langs

  private def tokens: Column = split(lower(col("text")), " ")

  /** `[n_tokens, s_de, s_en, s_es, s_fr, s_zh]` in ONE text walk — the
    * codegen [[graft.functions.StopCounts]] expression. The HOF chain it
    * replaced (`size(filter(tokens, isin(stopwords)))`) codegens to a
    * linear equality scan per token and re-splits the text per count:
    * O(tokens × |stopwords|) paid ×5 by [[langScored]] and again for
    * `n_w` — the r13 bench's one >2× headliner (tx_quality, 5.3× DuckDB
    * at sf10). Values are unchanged (same `UTF8String.toLowerCase`, same
    * split semantics), so all four oracle SQL twins stay as they are.
    */
  private def stopCounts: Column =
    call_function("graft_stop_counts", col("text"))

  /** 1-based [[stopCounts]] slot of a language's stopword-hit count. */
  private def langSlot(lang: String): Int = stopwords.indexWhere(_._1 == lang) + 1

  private def stopCountSql(words: Seq[String]): String = {
    val list = words.map(w => s"'$w'").mkString(",")
    s"len(list_filter(string_split(lower(text), ' '), x -> x IN ($list)))"
  }

  // tx_lang_id — stopword-profile language ID. Argmax over per-language
  // token-hit counts with a fixed tiebreak chain (alphabetical language
  // order), all integer arithmetic.
  /** Documents with per-language stopword scores and the argmax
    * prediction — shared by tx_lang_id and tx_lang_confusion.
    */
  private def langScored(s: SparkSession, d: String): DataFrame = {
    var df = Tables.documents(s, d).withColumn("__sc", stopCounts)
    for ((lang, _) <- stopwords)
      df = df.withColumn(s"s_$lang", col("__sc").getItem(langSlot(lang)))
    val langs = stopwords.map(_._1)
    val pred = langs.foldRight(lit(langs.last)) { (lang, acc) =>
      val isMax = langs.filter(_ != lang)
        .map(o => col(s"s_$lang") >= col(s"s_$o"))
        .reduce(_ && _)
      when(isMax, lit(lang)).otherwise(acc)
    }
    df.select(col("doc_id") +: col("lang") +: langs.map(l => col(s"s_$l")) :+
      pred.as("pred_lang"): _*)
  }

  /** DuckDB twin of [[langScored]] as a WITH-body ending in `pred`. */
  private val langScoredSql: String = {
    val langs = stopwords.map(_._1)
    val scores = stopwords
      .map { case (l, ws) => s"${stopCountSql(ws)} AS s_$l" }.mkString(",\n    ")
    val chain = langs.dropRight(1).map { l =>
      val conds = langs.filter(_ != l).map(o => s"s_$l >= s_$o").mkString(" AND ")
      s"WHEN $conds THEN '$l'"
    }.mkString(" ")
    s"""sc AS (
       |  SELECT doc_id, lang,
       |    $scores
       |  FROM documents),
       |pred AS (
       |  SELECT doc_id, lang, ${langs.map(l => s"s_$l").mkString(", ")},
       |    CASE $chain ELSE '${langs.last}' END AS pred_lang
       |  FROM sc)""".stripMargin
  }

  private val txLangId = Q(
    "tx_lang_id",
    (s, d) => langScored(s, d).drop("lang"),
    Some {
      val langs = stopwords.map(_._1)
      s"""WITH $langScoredSql
         |SELECT doc_id, ${langs.map(l => s"s_$l").mkString(", ")}, pred_lang
         |FROM pred""".stripMargin
    }
  )

  // tx_lang_confusion — labeled vs detected language as a confusion
  // matrix with per-label recall shares (the corpus-QA readout that
  // decides whether the cheap n-gram/stopword detector is trustworthy
  // per source language, and which label pockets need a stronger
  // model). One pass over the shared scored surface to the |langs|²
  // cell table; shares are windows over that tiny surface only.
  private val txLangConfusion = Q(
    "tx_lang_confusion",
    (s, d) => {
      val cells = langScored(s, d)
        .groupBy(col("lang"), col("pred_lang"))
        .agg(count(lit(1)).as("n"))
      val wl = org.apache.spark.sql.expressions.Window.partitionBy(col("lang"))
      cells
        .withColumn("share_of_label",
          col("n").cast("double") / sum(col("n")).over(wl).cast("double"))
        .withColumn("correct", col("lang") === col("pred_lang"))
        .orderBy("lang", "pred_lang")
    },
    Some(s"""WITH $langScoredSql,
      |cells AS (
      |  SELECT lang, pred_lang, CAST(COUNT(*) AS BIGINT) AS n
      |  FROM pred GROUP BY lang, pred_lang)
      |SELECT lang, pred_lang, n,
      |  CAST(n AS DOUBLE) / CAST(SUM(n) OVER (PARTITION BY lang) AS DOUBLE) AS share_of_label,
      |  lang = pred_lang AS correct
      |FROM cells ORDER BY lang, pred_lang""".stripMargin)
  )

  // tx_quality — document quality score from length / punctuation /
  // stopword / word-length ratios (the standard pretraining heuristics);
  // a single fixed IEEE expression over integer counts.
  private val txQuality = Q(
    "tx_quality",
    (s, d) => {
      Tables.documents(s, d)
        .withColumn("__sc", stopCounts)
        .withColumn("n_c", length(col("text")).cast("long"))
        .withColumn("n_w", col("__sc").getItem(0))
        .withColumn("n_punct",
          (length(col("text")) - length(regexp_replace(col("text"), "[.,!?;:]", ""))).cast("long"))
        .withColumn("n_stop", col("__sc").getItem(langSlot("en")))
        .select(col("doc_id"), col("n_c"), col("n_w"),
          (col("n_punct").cast("double") / col("n_c").cast("double")).as("punct_ratio"),
          (col("n_stop").cast("double") / col("n_w").cast("double")).as("stop_ratio"),
          ((col("n_c").cast("double") - (col("n_w").cast("double") - lit(1.0))) / col("n_w").cast("double")).as("avg_word_len"))
        .withColumn("quality_score",
          lit(0.3) * least(lit(1.0), col("n_c").cast("double") / lit(500.0)) +
            lit(0.3) * (lit(1.0) - col("punct_ratio")) +
            lit(0.2) * col("stop_ratio") +
            lit(0.2) * least(lit(1.0), col("avg_word_len") / lit(8.0)))
      // NO trailing orderBy: per-document scoring is a narrow map whose
      // output is per-row cardinality — a global sort range-shuffles the
      // whole corpus (3 of tx_quality's 4.3 s at sf10; a 500M-row
      // exchange at sf100) for an ordering no consumer of an unordered
      // relation needs. The correctness compare is a multiset; the
      // oracle twin drops its ORDER BY too, so the bench pair stays
      // symmetric.
    },
    Some {
      val en = stopCountSql(stopwords.toMap.apply("en"))
      s"""WITH c AS (
         |  SELECT doc_id,
         |    CAST(length(text) AS BIGINT) AS n_c,
         |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_w,
         |    CAST(length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')) AS BIGINT) AS n_punct,
         |    CAST($en AS BIGINT) AS n_stop
         |  FROM documents),
         |r AS (
         |  SELECT doc_id, n_c, n_w,
         |    CAST(n_punct AS DOUBLE) / CAST(n_c AS DOUBLE) AS punct_ratio,
         |    CAST(n_stop AS DOUBLE) / CAST(n_w AS DOUBLE) AS stop_ratio,
         |    (CAST(n_c AS DOUBLE) - (CAST(n_w AS DOUBLE) - 1.0)) / CAST(n_w AS DOUBLE) AS avg_word_len
         |  FROM c)
         |SELECT doc_id, n_c, n_w, punct_ratio, stop_ratio, avg_word_len,
         |  0.3 * LEAST(1.0, CAST(n_c AS DOUBLE) / 500.0) +
         |  0.3 * (1.0 - punct_ratio) +
         |  0.2 * stop_ratio +
         |  0.2 * LEAST(1.0, avg_word_len / 8.0) AS quality_score
         |FROM r""".stripMargin
    }
  )

  // tx_token_count — whitespace tokens + regex word tokens (the BPE-ish
  // pre-token count used for data budgeting).
  private val txTokenCount = Q(
    "tx_token_count",
    (s, d) => {
      Tables.documents(s, d)
        .select(col("doc_id"),
          size(split(col("text"), " ")).cast("long").as("n_ws_tokens"),
          regexp_count(col("text"), lit("[A-Za-z0-9]+")).cast("long").as("n_word_tokens"),
          regexp_count(col("text"), lit("[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]")).cast("long").as("n_bpeish_tokens"))
    },
    Some("""SELECT doc_id,
      |  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_ws_tokens,
      |  CAST(len(regexp_extract_all(text, '[A-Za-z0-9]+')) AS BIGINT) AS n_word_tokens,
      |  CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]')) AS BIGINT) AS n_bpeish_tokens
      |FROM documents""".stripMargin)
  )

  // tx_fingerprint — md5 + polynomial rolling hash (base 31 mod 1e9+7).
  // Exact modular integer arithmetic, so the Spark Horner evaluation and
  // the DuckDB power-sum evaluation provably agree. The Horner loop is the
  // custom codegen expression graft.functions.PolyHash — O(n) bytes, no
  // per-character substring walk.
  private val txFingerprint = Q(
    "tx_fingerprint",
    (s, d) => {
      Tables.documents(s, d)
        .select(col("doc_id"),
          md5(col("text")).as("md5_hex"),
          expr("graft_poly_hash(text)").as("poly_hash"))
    },
    Some("""WITH RECURSIVE pows(e, p) AS (
      |  SELECT 0, CAST(1 AS BIGINT)
      |  UNION ALL
      |  SELECT e + 1, (p * 31) % 1000000007 FROM pows
      |  WHERE e < (SELECT MAX(length(text)) FROM documents)
      |),
      |chars AS (
      |  SELECT doc_id, text, length(text) AS n,
      |    unnest(generate_series(1, length(text))) AS i
      |  FROM documents
      |)
      |SELECT c.doc_id, MIN(md5(c.text)) AS md5_hex,
      |  CAST(SUM(CAST(ascii(substr(c.text, c.i, 1)) AS BIGINT) * p.p) % 1000000007 AS BIGINT) AS poly_hash
      |FROM chars c JOIN pows p ON p.e = c.n - c.i
      |GROUP BY c.doc_id""".stripMargin)
  )

  // tx_shingles — distinct character-3-gram count (the MinHash input
  // statistic): per-row list pipeline, integer output.
  private val txShingles = Q(
    "tx_shingles",
    (s, d) => {
      // fanout: the per-position substr pipeline is O(len²) per row —
      // heavy enough that a single-row-group scan serializes it
      graft.Exact.fanout(Tables.documents(s, d))
        .select(col("doc_id"),
          size(array_distinct(transform(
            sequence(lit(1), greatest(length(col("text")) - 2, lit(1))),
            i => col("text").substr(i, lit(3))))).cast("long").as("n_shingles"))
    },
    Some("""SELECT doc_id,
      |  CAST(len(list_distinct(list_transform(
      |    generate_series(1, greatest(length(text) - 2, 1)),
      |    i -> substr(text, i, 3)))) AS BIGINT) AS n_shingles
      |FROM documents""".stripMargin)
  )

  // tx_repetition — duplicate n-gram fractions, the MassiveText/Gopher
  // repetition signals used to drop boilerplate from pretraining corpora:
  // 1 − distinct/total over word 2-grams and char 5-grams. Pure integer
  // counts + one fixed IEEE division per ratio.
  private val txRepetition = Q(
    "tx_repetition",
    (s, d) => {
      val words = split(col("text"), " ")
      val w2 = transform(
        sequence(lit(1), greatest(size(words) - 1, lit(1))),
        i => concat_ws(" ", slice(words, i, lit(2))))
      val c5 = transform(
        sequence(lit(1), greatest(length(col("text")) - 4, lit(1))),
        i => col("text").substr(i, lit(5)))
      // fanout: same O(len²) per-position substr class as tx_shingles
      graft.Exact.fanout(Tables.documents(s, d))
        .select(col("doc_id"),
          size(w2).cast("long").as("n_w2"),
          size(array_distinct(w2)).cast("long").as("n_w2_distinct"),
          size(c5).cast("long").as("n_c5"),
          size(array_distinct(c5)).cast("long").as("n_c5_distinct"))
        .select(col("doc_id"), col("n_w2"), col("n_w2_distinct"),
          (lit(1.0) - col("n_w2_distinct").cast("double") / col("n_w2").cast("double")).as("dup_w2_frac"),
          col("n_c5"), col("n_c5_distinct"),
          (lit(1.0) - col("n_c5_distinct").cast("double") / col("n_c5").cast("double")).as("dup_c5_frac"))
    },
    Some("""WITH g AS (
      |  SELECT doc_id,
      |    list_transform(
      |      generate_series(1, greatest(len(string_split(text, ' ')) - 1, 1)),
      |      i -> array_to_string(list_slice(string_split(text, ' '), i, i + 1), ' ')) AS w2,
      |    list_transform(
      |      generate_series(1, greatest(length(text) - 4, 1)),
      |      i -> substr(text, i, 5)) AS c5
      |  FROM documents),
      |n AS (
      |  SELECT doc_id,
      |    CAST(len(w2) AS BIGINT) AS n_w2,
      |    CAST(len(list_distinct(w2)) AS BIGINT) AS n_w2_distinct,
      |    CAST(len(c5) AS BIGINT) AS n_c5,
      |    CAST(len(list_distinct(c5)) AS BIGINT) AS n_c5_distinct
      |  FROM g)
      |SELECT doc_id, n_w2, n_w2_distinct,
      |  1.0 - CAST(n_w2_distinct AS DOUBLE) / CAST(n_w2 AS DOUBLE) AS dup_w2_frac,
      |  n_c5, n_c5_distinct,
      |  1.0 - CAST(n_c5_distinct AS DOUBLE) / CAST(n_c5 AS DOUBLE) AS dup_c5_frac
      |FROM n""".stripMargin)
  )

  // tx_filter_flags — the Gopher-rule keep/drop decision per document:
  // integer-threshold flags over the quality + repetition signals, emitted
  // as 0/1 BIGINT so the oracle compare is type-stable. This is the actual
  // corpus-filter operator a pretraining pipeline runs after scoring.
  private val txFilterFlags = Q(
    "tx_filter_flags",
    (s, d) => {
      val words = split(col("text"), " ")
      val w2 = transform(
        sequence(lit(1), greatest(size(words) - 1, lit(1))),
        i => concat_ws(" ", slice(words, i, lit(2))))
      def flag(c: Column): Column = when(c, 1L).otherwise(0L)
      // fanout: the per-row bigram array + distinct is the same heavy
      // per-row class as tx_repetition — don't let the testdata
      // parquet's row-group count cap the scan's parallelism
      graft.Exact.fanout(Tables.documents(s, d))
        .withColumn("n_w", size(words).cast("long"))
        .withColumn("n_punct",
          (length(col("text")) - length(regexp_replace(col("text"), "[.,!?;:]", ""))).cast("long"))
        .withColumn("n_stop", stopCounts.getItem(langSlot("en")))
        .withColumn("dup_w2",
          lit(1.0) - size(array_distinct(w2)).cast("double") / size(w2).cast("double"))
        .select(col("doc_id"),
          flag(col("n_w") < 50).as("f_too_short"),
          flag(col("n_stop") < 2).as("f_low_stopword"),
          flag(col("n_punct").cast("double") / length(col("text")).cast("double") > 0.1).as("f_high_punct"),
          flag(col("dup_w2") > 0.3).as("f_repetitive"))
        .withColumn("keep",
          flag(col("f_too_short") + col("f_low_stopword") +
            col("f_high_punct") + col("f_repetitive") === 0L))
    },
    Some {
      val en = stopCountSql(stopwords.toMap.apply("en"))
      s"""WITH m AS (
         |  SELECT doc_id,
         |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_w,
         |    CAST(length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')) AS BIGINT) AS n_punct,
         |    CAST(length(text) AS BIGINT) AS n_c,
         |    CAST($en AS BIGINT) AS n_stop,
         |    1.0 - CAST(len(list_distinct(list_transform(
         |        generate_series(1, greatest(len(string_split(text, ' ')) - 1, 1)),
         |        i -> array_to_string(list_slice(string_split(text, ' '), i, i + 1), ' ')))) AS DOUBLE)
         |      / CAST(len(list_transform(
         |        generate_series(1, greatest(len(string_split(text, ' ')) - 1, 1)),
         |        i -> array_to_string(list_slice(string_split(text, ' '), i, i + 1), ' '))) AS DOUBLE) AS dup_w2
         |  FROM documents),
         |f AS (
         |  SELECT doc_id,
         |    CAST(CASE WHEN n_w < 50 THEN 1 ELSE 0 END AS BIGINT) AS f_too_short,
         |    CAST(CASE WHEN n_stop < 2 THEN 1 ELSE 0 END AS BIGINT) AS f_low_stopword,
         |    CAST(CASE WHEN CAST(n_punct AS DOUBLE) / CAST(n_c AS DOUBLE) > 0.1 THEN 1 ELSE 0 END AS BIGINT) AS f_high_punct,
         |    CAST(CASE WHEN dup_w2 > 0.3 THEN 1 ELSE 0 END AS BIGINT) AS f_repetitive
         |  FROM m)
         |SELECT doc_id, f_too_short, f_low_stopword, f_high_punct, f_repetitive,
         |  CAST(CASE WHEN f_too_short + f_low_stopword + f_high_punct + f_repetitive = 0
         |       THEN 1 ELSE 0 END AS BIGINT) AS keep
         |FROM f ORDER BY doc_id""".stripMargin
    }
  )

  // tx_budget_sample — the data-budgeting step after scoring: keep
  // documents from the highest quality_score down until 40% of the
  // corpus's whitespace tokens are spent, emitting each kept doc's exact
  // cumulative token position. Runs through
  // [[graft.operators.BudgetSelect]] — bucket-histogram offsets + intra-
  // bucket running sums, never a global single-task sort — while the
  // DuckDB twin IS the naive global cumulative window, so the scale
  // formulation is hash-verified against the textbook one. Score and
  // token expressions are tx_quality / tx_token_count's, so the same
  // IEEE doubles order both sides.
  private val txBudgetSample = Q(
    "tx_budget_sample",
    (s, d) => {
      val scored = Tables.documents(s, d)
        .withColumn("__sc", stopCounts)
        .withColumn("n_c", length(col("text")).cast("long"))
        .withColumn("n_w", col("__sc").getItem(0))
        .withColumn("n_punct",
          (length(col("text")) - length(regexp_replace(col("text"), "[.,!?;:]", ""))).cast("long"))
        .withColumn("n_stop", col("__sc").getItem(langSlot("en")))
        .withColumn("punct_ratio", col("n_punct").cast("double") / col("n_c").cast("double"))
        .withColumn("stop_ratio", col("n_stop").cast("double") / col("n_w").cast("double"))
        .withColumn("avg_word_len",
          (col("n_c").cast("double") - (col("n_w").cast("double") - lit(1.0))) / col("n_w").cast("double"))
        .withColumn("quality_score",
          lit(0.3) * least(lit(1.0), col("n_c").cast("double") / lit(500.0)) +
            lit(0.3) * (lit(1.0) - col("punct_ratio")) +
            lit(0.2) * col("stop_ratio") +
            lit(0.2) * least(lit(1.0), col("avg_word_len") / lit(8.0)))
        .select(col("doc_id"), col("quality_score"), col("n_w").as("n_tokens"))
      graft.operators.BudgetSelect
        .selectToBudget(scored, "doc_id", "quality_score", "n_tokens", 0.4)
        .withColumnRenamed("cum_w", "cum_tokens")
    },
    Some {
      val en = stopCountSql(stopwords.toMap.apply("en"))
      s"""WITH c AS (
         |  SELECT doc_id,
         |    CAST(length(text) AS BIGINT) AS n_c,
         |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_w,
         |    CAST(length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')) AS BIGINT) AS n_punct,
         |    CAST($en AS BIGINT) AS n_stop
         |  FROM documents),
         |t AS (
         |  SELECT doc_id, n_w,
         |    0.3 * LEAST(1.0, CAST(n_c AS DOUBLE) / 500.0) +
         |    0.3 * (1.0 - CAST(n_punct AS DOUBLE) / CAST(n_c AS DOUBLE)) +
         |    0.2 * (CAST(n_stop AS DOUBLE) / CAST(n_w AS DOUBLE)) +
         |    0.2 * LEAST(1.0, ((CAST(n_c AS DOUBLE) - (CAST(n_w AS DOUBLE) - 1.0)) / CAST(n_w AS DOUBLE)) / 8.0) AS quality_score
         |  FROM c),
         |r AS (
         |  SELECT doc_id, quality_score, n_w,
         |    SUM(n_w) OVER (ORDER BY quality_score DESC, doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
         |  FROM t)
         |SELECT doc_id, quality_score, n_w AS n_tokens, CAST(cum AS BIGINT) AS cum_tokens
         |FROM r
         |WHERE CAST(cum AS DOUBLE) <= 0.4 * (SELECT CAST(SUM(n_w) AS DOUBLE) FROM t)""".stripMargin
    }
  )

  // tx_contamination — benchmark decontamination, the train/eval overlap
  // check every LLM data pipeline runs before training: a corpus document
  // is contaminated if it shares any word 8-gram with the held-out
  // benchmark set (docs with doc_id % 97 == 0 stand in for the eval set).
  // Scale shape: both sides explode to distinct (doc, md5(8-gram)) rows —
  // the join is ONE shuffle keyed on the hash (the benchmark side is
  // pre-distincted; at real scale it is eval-set-sized, millions of
  // grams, far below the corpus side), then one per-doc aggregate. No
  // driver-side collection anywhere; n-gram extraction is the same
  // narrow map dd_ngram_jaccard uses.
  private val txContamination = Q(
    "tx_contamination",
    (s, d) => {
      val docs = Tables.documents(s, d)
      val n = 4
      def grams(df: DataFrame) =
        graft.dedup.Dedup.withWordNgrams(df, "text", n)
          .select(col("doc_id"), explode(col("ngrams")).as("g"))
          .select(col("doc_id"), md5(col("g")).as("h"))
      val corpus = grams(docs.filter(col("doc_id") % 97 =!= 0))
      val bench = grams(docs.filter(col("doc_id") % 97 === 0))
        .select("h").distinct().withColumn("m", lit(1))
      corpus.join(bench, Seq("h"), "left")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_grams"), count(col("m")).as("n_hit"))
        .select(col("doc_id"), col("n_grams"), col("n_hit"),
          (col("n_hit").cast("double") / col("n_grams").cast("double")).as("overlap_frac"),
          (col("n_hit") > 0).as("contaminated"))
    },
    Some("""WITH cg AS (
      |  SELECT doc_id, md5(g) AS h FROM (
      |    SELECT doc_id, unnest(list_distinct(list_transform(
      |      generate_series(1, greatest(len(string_split(text, ' ')) - 3, 1)),
      |      i -> array_to_string(list_slice(string_split(text, ' '), i, i + 3), ' ')))) AS g
      |    FROM documents WHERE doc_id % 97 <> 0)),
      |bg AS (
      |  SELECT DISTINCT md5(g) AS h FROM (
      |    SELECT unnest(list_distinct(list_transform(
      |      generate_series(1, greatest(len(string_split(text, ' ')) - 3, 1)),
      |      i -> array_to_string(list_slice(string_split(text, ' '), i, i + 3), ' ')))) AS g
      |    FROM documents WHERE doc_id % 97 = 0)),
      |j AS (
      |  SELECT c.doc_id, CAST(COUNT(*) AS BIGINT) AS n_grams,
      |    CAST(COUNT(b.h) AS BIGINT) AS n_hit
      |  FROM cg c LEFT JOIN bg b ON c.h = b.h GROUP BY c.doc_id)
      |SELECT doc_id, n_grams, n_hit,
      |  CAST(n_hit AS DOUBLE) / CAST(n_grams AS DOUBLE) AS overlap_frac,
      |  n_hit > 0 AS contaminated
      |FROM j""".stripMargin)
  )

  // tx_lm_score — unigram-LM quality proxy (the CCNet-style "does this
  // look like common language" signal) with INTEGER arithmetic so the
  // oracle hash-matches: tokens are scored by their rank in the corpus
  // top-V vocabulary (count DESC, token ASC — deterministic cut; V=20
  // against this corpus's 31-token vocabulary so OOV is a real signal —
  // production uses 1e3-1e5), OOV tokens get rank V+1; a document's score is its exact rank sum /
  // token count. Floating-point log-probs would differ in final ulps
  // between engines' libm — ranks carry the same ordering information
  // exactly. Scale shape: one token-count aggregate; the top-V cut is a
  // TakeOrdered (V rows of driver metadata, never the dictionary);
  // scoring is a broadcast join + one per-doc aggregate.
  /** Unigram-LM scored documents (shared by tx_lm_score and
    * tx_lm_buckets): corpus-fit top-V token ranks (bounded metadata),
    * broadcast model join, per-doc partial-aggregable rank sums.
    */
  private def lmScored(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val v = 20
    val toks = Tables.documents(s, d)
      .select(col("doc_id"), explode(split(lower(col("text")), " ")).as("t"))
      .filter(length(col("t")) > 0)
    val vocab = toks.groupBy("t").agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("t")).limit(v)
      .collect() // TakeOrdered: exactly V rows of bounded metadata
      .zipWithIndex.map { case (r, i) => (r.getString(0), i + 1L) }.toSeq
    toks.join(broadcast(vocab.toDF("t", "r")), Seq("t"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tok"),
        sum(when(col("r").isNull, 1L).otherwise(0L)).as("n_oov"),
        sum(coalesce(col("r"), lit(v + 1L))).as("rank_sum"))
      .select(col("doc_id"), col("n_tok"), col("n_oov"), col("rank_sum"),
        (col("rank_sum").cast("double") / col("n_tok").cast("double")).as("avg_rank"),
        (col("n_oov").cast("double") / col("n_tok").cast("double")).as("oov_frac"))
  }

  private val txLmScore = Q(
    "tx_lm_score",
    (s, d) => lmScored(s, d),
    Some("""WITH toks AS (
      |  SELECT doc_id, t FROM (
      |    SELECT doc_id, unnest(string_split(lower(text), ' ')) AS t FROM documents)
      |  WHERE length(t) > 0),
      |vocab AS (
      |  SELECT t, CAST(ROW_NUMBER() OVER (ORDER BY COUNT(*) DESC, t) AS BIGINT) AS r
      |  FROM toks GROUP BY t
      |  ORDER BY COUNT(*) DESC, t LIMIT 20),
      |j AS (
      |  SELECT d.doc_id, CAST(COUNT(*) AS BIGINT) AS n_tok,
      |    CAST(SUM(CASE WHEN v.r IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
      |    CAST(SUM(COALESCE(v.r, 21)) AS BIGINT) AS rank_sum
      |  FROM toks d LEFT JOIN vocab v ON d.t = v.t GROUP BY d.doc_id)
      |SELECT doc_id, n_tok, n_oov, rank_sum,
      |  CAST(rank_sum AS DOUBLE) / CAST(n_tok AS DOUBLE) AS avg_rank,
      |  CAST(n_oov AS DOUBLE) / CAST(n_tok AS DOUBLE) AS oov_frac
      |FROM j""".stripMargin)
  )

  /** Ordered PII redaction rules (pattern → replacement token). Patterns
    * use only character classes + bounded quantifiers — the portable
    * subset of Java regex (Spark) and RE2 (DuckDB) — so both engines
    * apply identical rewrites. Order matters: emails and dotted IPs are
    * rewritten before the bare digit-run rule can eat their digits.
    */
  private[graft] val piiRules: Seq[(String, String)] = Seq(
    "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}" -> "<EMAIL>",
    "([0-9]{1,3}\\.){3}[0-9]{1,3}" -> "<IP>",
    "\\+[0-9]{7,15}" -> "<PHONE>",
    "[0-9]{6,}" -> "<NUM>")

  /** Sequential redaction of every rule, for reuse and for the planted-PII
    * ScalaTest (the parquet corpus itself contains no emails/phones —
    * customer ids exercise the digit-run rule end-to-end).
    */
  private[graft] def piiRedact(c: Column): Column =
    piiRules.foldLeft(c) { case (cur, (p, t)) => regexp_replace(cur, p, t) }

  // tx_pii_redact — PII scrubbing, the pre-training privacy pass. A pure
  // narrow map (regexp_replace chains are codegen'd; no shuffle, nothing
  // to skew): each rule counts its hits on the text AS LEFT by the
  // previous rule, then rewrites. Runs over customer names — the one
  // column in the corpus with real hits (digit runs) — while the
  // email/IP/phone rules are exercised by planted strings in TextSpec.
  private val txPiiRedact = Q(
    "tx_pii_redact",
    (s, d) => {
      val stages = piiRules.zipWithIndex.foldLeft(
          Tables.customer(s, d).select(col("c_custkey"), col("c_name").as("t0"))) {
        case (df, ((p, t), i)) =>
          df.withColumn(s"n_$i", regexp_count(col(s"t$i"), lit(p)).cast("long"))
            .withColumn(s"t${i + 1}", regexp_replace(col(s"t$i"), p, t))
      }
      stages.select(col("c_custkey"), col(s"t${piiRules.size}").as("redacted"),
          col("n_0").as("n_email"), col("n_1").as("n_ip"),
          col("n_2").as("n_phone"), col("n_3").as("n_num"))
    },
    Some("""WITH s0 AS (SELECT c_custkey, c_name AS t0 FROM customer),
      |s1 AS (SELECT c_custkey,
      |  CAST(len(regexp_extract_all(t0, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS n_email,
      |  regexp_replace(t0, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g') AS t1 FROM s0),
      |s2 AS (SELECT c_custkey, n_email,
      |  CAST(len(regexp_extract_all(t1, '([0-9]{1,3}\.){3}[0-9]{1,3}')) AS BIGINT) AS n_ip,
      |  regexp_replace(t1, '([0-9]{1,3}\.){3}[0-9]{1,3}', '<IP>', 'g') AS t2 FROM s1),
      |s3 AS (SELECT c_custkey, n_email, n_ip,
      |  CAST(len(regexp_extract_all(t2, '\+[0-9]{7,15}')) AS BIGINT) AS n_phone,
      |  regexp_replace(t2, '\+[0-9]{7,15}', '<PHONE>', 'g') AS t3 FROM s2),
      |s4 AS (SELECT c_custkey, n_email, n_ip, n_phone,
      |  CAST(len(regexp_extract_all(t3, '[0-9]{6,}')) AS BIGINT) AS n_num,
      |  regexp_replace(t3, '[0-9]{6,}', '<NUM>', 'g') AS t4 FROM s3)
      |SELECT c_custkey, t4 AS redacted, n_email, n_ip, n_phone, n_num
      |FROM s4""".stripMargin)
  )

  // tx_tfidf — per-document top-3 salient terms. Classic tf-idf shape,
  // but with a RATIONAL idf (N/df instead of ln(N/df)): multiplication
  // and division are IEEE-exact and identically rounded in both engines,
  // whereas libm ln() is not guaranteed correctly-rounded and could
  // diverge in the last ulp. Monotone in ln-idf for fixed tf, and the
  // hash-match is exact. Plan: explode → (doc, term) partial-agg tf →
  // term-keyed df agg → vocab-cardinality hash join (partial-aggregable
  // everywhere) → per-doc top-3 via the ranked grouped top-k on the
  // HIGH-cardinality doc_id (map-side heaps, parallelism scales with
  // docs).
  private val txTfidf = Q(
    "tx_tfidf",
    (s, d) => {
      val docs = Tables.documents(s, d)
      val toks = docs
        .select(col("doc_id"), explode(split(lower(col("text")), " ")).as("t"))
        .filter(length(col("t")) > 0)
      val tf = toks.groupBy("doc_id", "t").agg(count(lit(1)).as("tf"))
      val dfc = tf.groupBy("t").agg(count(lit(1)).as("df"))
      val n = docs.agg(count(lit(1)).as("n_docs"))
      val scored = tf.join(dfc, "t").crossJoin(broadcast(n))
        .select(col("doc_id"), col("t"), col("tf"), col("df"),
          (col("tf").cast("double") * (col("n_docs").cast("double") / col("df").cast("double")))
            .as("score"))
      graft.plans.GraftOps.rankedTopK(scored, Seq("doc_id"),
          Seq(col("score").desc, col("t")), k = 3)
        .select(col("doc_id"), col("t").as("term"), col("tf"), col("df"),
          col("score"), col("rank").as("rnk"))
    },
    Some("""WITH toks AS (
      |  SELECT doc_id, t FROM (
      |    SELECT doc_id, unnest(string_split(lower(text), ' ')) AS t FROM documents)
      |  WHERE length(t) > 0),
      |tf AS (SELECT doc_id, t, CAST(COUNT(*) AS BIGINT) AS tf FROM toks GROUP BY doc_id, t),
      |df AS (SELECT t, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY t),
      |n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents),
      |sc AS (
      |  SELECT tf.doc_id, tf.t, tf.tf, df.df,
      |    CAST(tf.tf AS DOUBLE) * (CAST(n.n_docs AS DOUBLE) / CAST(df.df AS DOUBLE)) AS score
      |  FROM tf JOIN df USING (t), n),
      |r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY score DESC, t) AS rnk FROM sc)
      |SELECT doc_id, t AS term, tf, df, score, CAST(rnk AS BIGINT) AS rnk
      |FROM r WHERE rnk <= 3""".stripMargin)
  )

  // tx_normalize — the canonical text-cleaning pass: Unicode NFC (the
  // custom codegen expression graft_nfc — a Scala UDF here would break
  // whole-stage codegen for the whole pipeline), lowercase, explicit
  // whitespace-class collapse, trim. Pure narrow map, zero shuffle. The
  // whitespace class is written out ([ \t\n\r]) because Java's \s and
  // RE2's \s disagree on \x0B. ASCII corpus ⇒ NFC is a fixpoint here;
  // composed/decomposed agreement is asserted on planted strings in
  // TextSpec.
  private val txNormalize = Q(
    "tx_normalize",
    (s, d) => {
      Tables.documents(s, d)
        .select(col("doc_id"),
          trim(regexp_replace(
            lower(expr("graft_nfc(text)")), "[ \\t\\n\\r]+", " ")).as("normalized"))
        .withColumn("n_chars_norm", length(col("normalized")).cast("long"))
    },
    Some("""SELECT doc_id,
      |  trim(regexp_replace(lower(nfc_normalize(text)), '[ \t\n\r]+', ' ', 'g')) AS normalized,
      |  CAST(length(trim(regexp_replace(lower(nfc_normalize(text)), '[ \t\n\r]+', ' ', 'g'))) AS BIGINT) AS n_chars_norm
      |FROM documents""".stripMargin)
  )

  // tx_winnow — winnowing fingerprints (MOSS, Schleimer et al. 2003) per
  // document via the graft_winnow codegen expression: the min 5-gram
  // hash of every 8-wide window, deduplicated — two docs sharing any
  // ≥ 12-char substring share a fingerprint, at ~2/(w+1) density. The
  // oracle recomputes the hashes as ascii power sums (exact below the
  // modulus for k=5 ASCII — the dd_minhash precondition) and the window
  // minima as list_min over slices. Narrow map + explode; the
  // fingerprint rows are what a cross-corpus quote-detection join keys
  // on.
  private val txWinnow = Q(
    "tx_winnow",
    (s, d) => {
      Tables.documents(s, d)
        .select(col("doc_id"),
          explode(call_function("graft_winnow", col("text"), lit(5), lit(8))).as("fp"))
    },
    Some("""WITH h AS (
      |  SELECT doc_id, list_transform(generate_series(1, length(text) - 4),
      |    i -> CAST(ascii(substr(text, CAST(i AS INTEGER), 1)) AS BIGINT) * 923521 +
      |         ascii(substr(text, CAST(i + 1 AS INTEGER), 1)) * 29791 +
      |         ascii(substr(text, CAST(i + 2 AS INTEGER), 1)) * 961 +
      |         ascii(substr(text, CAST(i + 3 AS INTEGER), 1)) * 31 +
      |         ascii(substr(text, CAST(i + 4 AS INTEGER), 1))) AS hs
      |  FROM documents),
      |f AS (
      |  SELECT doc_id, list_distinct(list_transform(
      |    generate_series(1, len(hs) - 7),
      |    p -> list_min(list_slice(hs, CAST(p AS INTEGER), CAST(p + 7 AS INTEGER))))) AS fps
      |  FROM h)
      |SELECT doc_id, unnest(fps) AS fp FROM f""".stripMargin)
  )

  // tx_mix_sample — the data-mixture op: apply per-domain sampling rates
  // (the DoReMi/Pile-style "mixture weights" step that up/down-weights
  // sources before training) with the repo's deterministic hash gate, so
  // the same documents survive on any cluster shape. The rate table is a
  // broadcast literal; the gate is a pure codegen filter pushed at the
  // scan — no shuffle, no RNG. Per-source keep rates: even src ids 80%,
  // odd 20% (stand-ins for quality-tiered domains). The gate is the
  // overflow-free Z-mod-p bucket [[graft.Exact.zmod]], so the kept sets
  // agree in both engines at any doc_id.
  private val txMixSample = Q(
    "tx_mix_sample",
    (s, d) => {
      val rate = when(regexp_extract(col("source"), "([0-9]+)$", 1).cast("int") % 2 === 0,
        lit(80L)).otherwise(lit(20L))
      val gate = graft.Exact.zmod(col("doc_id"), 100L)
      Tables.documents(s, d)
        .filter(gate < rate)
        .select(col("doc_id"), col("source"), col("n_chars"))
    },
    Some(s"""SELECT doc_id, source, n_chars FROM documents
      |WHERE ${graft.Exact.sqlZmod("doc_id", 100L)} <
      |  CASE WHEN CAST(regexp_extract(source, '([0-9]+)$$', 1) AS INTEGER) % 2 = 0
      |       THEN 80 ELSE 20 END""".stripMargin)
  )

  // tx_lm_buckets — CCNet-style head/middle/tail corpus partition by LM
  // score tertiles (Wenzek et al. 2020: bucket web text by LM
  // perplexity; training pipelines then sample buckets at different
  // rates). Tertile fences over the avg-rank surface come from
  // [[graft.operators.Quantiles]]' distributed bucket-histogram
  // selection — bounded driver metadata, never a global sort of the
  // scores — and the bucket label is a broadcast narrow map. The oracle
  // recomputes the fences with the identical interpolation expression,
  // so the comparison doubles match bit-for-bit.
  private val txLmBuckets = Q(
    "tx_lm_buckets",
    (s, d) => {
      val scores = lmScored(s, d).select(col("doc_id"), col("avg_rank"))
      val fs = graft.operators.Quantiles.exactQuantiles(
        scores, Seq("avg_rank"), Seq(1.0 / 3, 2.0 / 3))
      val f1 = fs.find(_._2 < 0.5).get._3
      val f2 = fs.find(_._2 > 0.5).get._3
      scores.select(col("doc_id"), col("avg_rank"),
          when(col("avg_rank") > lit(f2), lit("tail"))
            .when(col("avg_rank") > lit(f1), lit("middle"))
            .otherwise(lit("head")).as("bucket"))
    },
    Some(s"""WITH toks AS (
      |  SELECT doc_id, t FROM (
      |    SELECT doc_id, unnest(string_split(lower(text), ' ')) AS t FROM documents)
      |  WHERE length(t) > 0),
      |vocab AS (
      |  SELECT t, CAST(ROW_NUMBER() OVER (ORDER BY COUNT(*) DESC, t) AS BIGINT) AS r
      |  FROM toks GROUP BY t
      |  ORDER BY COUNT(*) DESC, t LIMIT 20),
      |sc AS (
      |  SELECT d.doc_id,
      |    CAST(SUM(COALESCE(v.r, 21)) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS avg_rank
      |  FROM toks d LEFT JOIN vocab v ON d.t = v.t GROUP BY d.doc_id),
      |f AS (${graft.operators.Quantiles.sql("sc", "avg_rank", Seq(1.0 / 3, 2.0 / 3))}),
      |fx AS (
      |  SELECT MAX(CASE WHEN q = ${graft.operators.Quantiles.sqlDouble(1.0 / 3)} THEN value END) AS f1,
      |         MAX(CASE WHEN q = ${graft.operators.Quantiles.sqlDouble(2.0 / 3)} THEN value END) AS f2 FROM f)
      |SELECT sc.doc_id, sc.avg_rank,
      |  CASE WHEN sc.avg_rank > fx.f2 THEN 'tail'
      |       WHEN sc.avg_rank > fx.f1 THEN 'middle'
      |       ELSE 'head' END AS bucket
      |FROM sc, fx""".stripMargin)
  )

  // tx_ngram_freq — corpus-level top word-3-grams (the boilerplate /
  // template phrase-mining pass that feeds stop-lists and dedup rules):
  // explode → partial-aggregable count → TakeOrdered top-20 with a
  // deterministic (count desc, gram) tiebreak — the driver sees exactly
  // 20 rows, never the n-gram dictionary, and no global sort appears.
  private val txNgramFreq = Q(
    "tx_ngram_freq",
    (s, d) => {
      val words = split(col("text"), " ")
      Tables.documents(s, d)
        .select(explode(expr(
          "transform(sequence(1, greatest(size(split(text, ' ')) - 2, 1)), " +
            "i -> concat_ws(' ', slice(split(text, ' '), i, 3)))")).as("gram"))
        .filter(size(split(col("gram"), " ")) === 3)
        .groupBy("gram").agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("gram")).limit(20)
    },
    Some("""WITH w AS (
      |  SELECT string_split(text, ' ') AS ws FROM documents),
      |g AS (
      |  SELECT array_to_string(list_slice(ws, CAST(i AS INTEGER), CAST(i + 2 AS INTEGER)), ' ') AS gram
      |  FROM (SELECT ws, unnest(generate_series(1, greatest(len(ws) - 2, 1))) AS i FROM w)
      |  WHERE len(ws) >= CAST(i + 2 AS INTEGER))
      |SELECT gram, CAST(COUNT(*) AS BIGINT) AS n
      |FROM g GROUP BY gram ORDER BY n DESC, gram LIMIT 20""".stripMargin)
  )

  // tx_hash_features — the feature-hashing trick (HashingTF; Weinberger
  // et al. 2009): tokens hash straight into a fixed 64-dim count vector
  // with NO vocabulary fit, no dictionary shuffle, no driver state —
  // the property that makes text featurization embarrassingly parallel
  // at 100 TB. Emitted in (doc_id, dim, count) long form (sparse; zero
  // dims absent). The token hash is the `graft_poly_hash` codegen
  // Horner (base 31 mod 1e9+7), mirrored in the oracle by DuckDB's
  // list_reduce over the same recurrence — bit-identical dims.
  private val txHashFeatures = Q(
    "tx_hash_features",
    (s, d) => {
      Tables.documents(s, d)
        .select(col("doc_id"), explode(tokens).as("t"))
        .filter(length(col("t")) > 0)
        .select(col("doc_id"),
          pmod(call_function("graft_poly_hash", col("t")), lit(64L)).as("dim"))
        .groupBy(col("doc_id"), col("dim"))
        .agg(count(lit(1)).as("n"))
    },
    Some("""WITH toks AS (
      |  SELECT doc_id, t FROM (
      |    SELECT doc_id, unnest(string_split(lower(text), ' ')) AS t FROM documents)
      |  WHERE length(t) > 0),
      |h AS (
      |  SELECT doc_id,
      |    list_reduce(list_transform(generate_series(1, length(t)),
      |      i -> CAST(ascii(substr(t, i, 1)) AS BIGINT)),
      |      (x, y) -> (x * 31 + y) % 1000000007) % 64 AS dim
      |  FROM toks)
      |SELECT doc_id, dim, CAST(COUNT(*) AS BIGINT) AS n
      |FROM h GROUP BY doc_id, dim""".stripMargin)
  )

  // tx_bm25 — BM25 term salience per document (the retrieval-grade
  // upgrade over tx_tfidf's raw tf·idf: tf saturates at k1 and long
  // documents are length-normalized by b — Robertson & Spärck Jones'
  // Okapi weighting). Same LOG-FREE discipline as tx_tfidf: the idf is
  // the rational (N−df+0.5)/(df+0.5) — the argument of the standard
  // BM25 log-idf, monotone in it, and IEEE-exact in both engines where
  // libm ln() could drift a ulp. k1=1.2 / b=0.75 enter BOTH engines as
  // decimal literals (same nearest-double), avgdl is one 1-row IEEE
  // division broadcast everywhere. Plan: the tx_tfidf shape plus a
  // per-doc length aggregate — tf/df/dl partial-aggregable, vocab hash
  // join, top-3 via the doc_id-partitioned rank window.
  private val txBm25 = Q(
    "tx_bm25",
    (s, d) => {
      val docs = Tables.documents(s, d)
      val toks = docs
        .select(col("doc_id"), explode(split(lower(col("text")), " ")).as("t"))
        .filter(length(col("t")) > 0)
      val tf = toks.groupBy("doc_id", "t").agg(count(lit(1)).as("tf"))
      val dl = toks.groupBy("doc_id").agg(count(lit(1)).as("dl"))
      val dfc = tf.groupBy("t").agg(count(lit(1)).as("df"))
      val n = docs.agg(count(lit(1)).as("n_docs"))
      val avg = toks.agg(count(lit(1)).as("n_toks"))
      val tfd = col("tf").cast("double")
      val idf = (col("n_docs").cast("double") - col("df").cast("double") + lit(0.5)) /
        (col("df").cast("double") + lit(0.5))
      val avgdl = col("n_toks").cast("double") / col("n_docs").cast("double")
      val denom = tfd + lit(1.2) * (lit(1.0) - lit(0.75) +
        lit(0.75) * (col("dl").cast("double") / avgdl))
      val scored = tf.join(dl, "doc_id").join(dfc, "t")
        .crossJoin(broadcast(n)).crossJoin(broadcast(avg))
        .select(col("doc_id"), col("t"), col("tf"), col("df"), col("dl"),
          (idf * ((tfd * lit(2.2)) / denom)).as("score"))
      graft.plans.GraftOps.rankedTopK(scored, Seq("doc_id"),
          Seq(col("score").desc, col("t")), k = 3)
        .select(col("doc_id"), col("t").as("term"), col("tf"), col("df"),
          col("dl"), col("score"), col("rank").as("rnk"))
    },
    Some("""WITH toks AS (
      |  SELECT doc_id, t FROM (
      |    SELECT doc_id, unnest(string_split(lower(text), ' ')) AS t FROM documents)
      |  WHERE length(t) > 0),
      |tf AS (SELECT doc_id, t, CAST(COUNT(*) AS BIGINT) AS tf FROM toks GROUP BY doc_id, t),
      |dl AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS dl FROM toks GROUP BY doc_id),
      |df AS (SELECT t, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY t),
      |n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents),
      |a AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_toks FROM toks),
      |sc AS (
      |  SELECT tf.doc_id, tf.t, tf.tf, df.df, dl.dl,
      |    ((CAST(n.n_docs AS DOUBLE) - CAST(df.df AS DOUBLE) + 0.5) / (CAST(df.df AS DOUBLE) + 0.5))
      |    * ((CAST(tf.tf AS DOUBLE) * CAST(2.2 AS DOUBLE))
      |       / (CAST(tf.tf AS DOUBLE) + CAST(1.2 AS DOUBLE) * (1.0 - CAST(0.75 AS DOUBLE)
      |          + CAST(0.75 AS DOUBLE) * (CAST(dl.dl AS DOUBLE)
      |            / (CAST(a.n_toks AS DOUBLE) / CAST(n.n_docs AS DOUBLE)))))) AS score
      |  FROM tf JOIN dl USING (doc_id) JOIN df USING (t), n, a),
      |r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY score DESC, t) AS rnk FROM sc)
      |SELECT doc_id, t AS term, tf, df, dl, score, CAST(rnk AS BIGINT) AS rnk
      |FROM r WHERE rnk <= 3""".stripMargin)
  )

  // tx_kappa — Cohen's kappa of the cheap language detector against
  // the labels (chance-corrected agreement: tx_lang_confusion shows
  // WHERE it errs, kappa says whether it beats guessing the marginal
  // mix at all): observed agreement and the marginal-product expected
  // agreement both come from exact integer counts on the |langs|-row
  // marginal surfaces; kappa is one fixed IEEE expression. One pass
  // over the shared scored surface.
  private val txKappa = Q(
    "tx_kappa",
    (s, d) => {
      import org.apache.spark.sql.types.DecimalType
      val scored = langScored(s, d).select(col("lang"), col("pred_lang"))
        .graftCheckpoint()
      val tot = scored.agg(count(lit(1)).as("n"),
        sum(when(col("lang") === col("pred_lang"), 1L).otherwise(0L)).as("agree"))
      val rows = scored.groupBy(col("lang").as("l")).agg(count(lit(1)).as("nr"))
      val cols = scored.groupBy(col("pred_lang").as("l")).agg(count(lit(1)).as("nc"))
      val peNum = rows.join(cols, "l")
        .agg(sum((col("nr") * col("nc")).cast(DecimalType(38, 0)))
          .cast("double").as("pe_num"))
      val nD = col("n").cast("double")
      tot.crossJoin(broadcast(peNum))
        .select(col("n"), col("agree"),
          (col("agree").cast("double") / nD).as("po"),
          (col("pe_num") / (nD * nD)).as("pe"))
        .withColumn("kappa", (col("po") - col("pe")) / (lit(1.0) - col("pe")))
    },
    Some(s"""WITH $langScoredSql,
      |t AS (
      |  SELECT CAST(COUNT(*) AS BIGINT) AS n,
      |    CAST(SUM(CASE WHEN lang = pred_lang THEN 1 ELSE 0 END) AS BIGINT) AS agree
      |  FROM pred),
      |r AS (SELECT lang AS l, CAST(COUNT(*) AS BIGINT) AS nr FROM pred GROUP BY 1),
      |c AS (SELECT pred_lang AS l, CAST(COUNT(*) AS BIGINT) AS nc FROM pred GROUP BY 1),
      |p AS (
      |  SELECT CAST(SUM(CAST(nr AS HUGEINT) * CAST(nc AS HUGEINT)) AS DOUBLE) AS pe_num
      |  FROM r JOIN c USING (l)),
      |m AS (
      |  SELECT n, agree,
      |    CAST(agree AS DOUBLE) / CAST(n AS DOUBLE) AS po,
      |    pe_num / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)) AS pe
      |  FROM t, p)
      |SELECT n, agree, po, pe, (po - pe) / (1.0 - pe) AS kappa FROM m""".stripMargin)
  )

  // tx_pack — context-window packing, the concat-and-chunk step that
  // turns a curated document set into fixed-length training sequences:
  // docs are sharded deterministically (the q18 Z-mod-p gate, so shard
  // membership is engine- and cluster-shape-independent), concatenated
  // in doc_id order within their shard, and sliced into 512-token
  // windows; a document belongs to the pack where it starts, and
  // `n_straddle` counts docs whose tail crosses into the next window
  // (the attention-mask boundary accounting). Scale shape: the shard
  // count is a deployment parameter sized to the writer-task count
  // (8 here; 10k+ on a real cluster so each shard is corpus/W tokens),
  // shards pack independently, and within a shard the prefix sum is ONE
  // streaming window pass whose state is a single running counter — the
  // sequential fold is the *semantics* of packing, not an implementation
  // shortcut, and TextSpec replays it as a per-shard fold to pin that a
  // stateful one-counter stream reproduces the batch assignment exactly.
  // All arithmetic is integer (`div`), so pack ids are exact at any
  // corpus size (no double rounding at 2^53 tokens).
  /** Per-doc context-window assignment surface of tx_pack (doc_id,
    * shard, n_w, pack_id, straddle) — reused by Curate's final stage.
    */
  private[graft] def packAssignments(docs: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("shard")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    docs
      .select(col("doc_id"),
        graft.Exact.zmod(col("doc_id"), 8L).as("shard"),
        size(tokens).cast("long").as("n_w"))
      .withColumn("cum", sum(col("n_w")).over(w))
      .withColumn("pack_id", expr("(cum - n_w) div 512"))
      .withColumn("straddle", expr("(cum - 1) div 512") =!= col("pack_id"))
  }

  private val txPack = Q(
    "tx_pack",
    (s, d) => {
      packAssignments(Tables.documents(s, d))
        .groupBy("shard", "pack_id")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_w")).as("sum_tokens"),
          sum(when(col("straddle"), 1L).otherwise(0L)).as("n_straddle"))
    },
    Some(s"""WITH t AS (
      |  SELECT doc_id,
      |    CAST(${graft.Exact.sqlZmod("doc_id", 8L)} AS BIGINT) AS shard,
      |    CAST(len(string_split(lower(text), ' ')) AS BIGINT) AS n_w
      |  FROM documents),
      |c AS (
      |  SELECT shard, doc_id, n_w,
      |    CAST(SUM(n_w) OVER (PARTITION BY shard ORDER BY doc_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
      |  FROM t),
      |p AS (
      |  SELECT shard, n_w,
      |    (cum - n_w) // 512 AS pack_id,
      |    CASE WHEN (cum - 1) // 512 <> (cum - n_w) // 512 THEN 1 ELSE 0 END AS straddle
      |  FROM c)
      |SELECT shard, pack_id, COUNT(*) AS n_docs,
      |  CAST(SUM(n_w) AS BIGINT) AS sum_tokens,
      |  CAST(SUM(straddle) AS BIGINT) AS n_straddle
      |FROM p GROUP BY shard, pack_id""".stripMargin)
  )

  // tx_ttr — per-source lexical-diversity profile (type-token ratio +
  // hapax share), the cheap vocabulary-health readout used beside the
  // Gopher heuristics to spot template farms (low TTR) and OCR noise
  // (high hapax share). Scale shape: explode to (source, token) and
  // count — the Zipf head collapses in the map-side partial aggregate,
  // the shuffled surface is vocabulary-sized (not corpus-sized), and
  // the per-source rollup is a second tiny keyed aggregate. Counts are
  // exact integers; the two ratios are single BIGINT→DOUBLE divisions,
  // identical IEEE in both engines.
  private val txTtr = Q(
    "tx_ttr",
    (s, d) => {
      Tables.documents(s, d)
        .select(col("source"), explode(tokens).as("t"))
        .groupBy("source", "t").agg(count(lit(1)).as("n"))
        .groupBy("source")
        .agg(sum(col("n")).as("total_tokens"),
          count(lit(1)).as("distinct_tokens"),
          sum(when(col("n") === 1L, 1L).otherwise(0L)).as("hapax"))
        .withColumn("ttr",
          col("distinct_tokens").cast("double") / col("total_tokens").cast("double"))
        .withColumn("hapax_share",
          col("hapax").cast("double") / col("distinct_tokens").cast("double"))
        .orderBy("source")
    },
    Some("""WITH w AS (
      |  SELECT source, unnest(string_split(lower(text), ' ')) AS t FROM documents),
      |c AS (SELECT source, t, COUNT(*) AS n FROM w GROUP BY 1, 2)
      |SELECT source,
      |  CAST(SUM(n) AS BIGINT) AS total_tokens,
      |  CAST(COUNT(*) AS BIGINT) AS distinct_tokens,
      |  CAST(SUM(CASE WHEN n = 1 THEN 1 ELSE 0 END) AS BIGINT) AS hapax,
      |  CAST(COUNT(*) AS DOUBLE) / CAST(SUM(n) AS DOUBLE) AS ttr,
      |  CAST(SUM(CASE WHEN n = 1 THEN 1 ELSE 0 END) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS hapax_share
      |FROM c GROUP BY source ORDER BY source""".stripMargin)
  )

  override val qs: Seq[Q] = Seq(txLangId, txQuality, txTokenCount, txFingerprint,
    txShingles, txRepetition, txFilterFlags, txBudgetSample, txContamination,
    txLmScore, txPiiRedact, txTfidf, txNormalize, txWinnow, txMixSample,
    txLmBuckets, txNgramFreq, txLangConfusion, txHashFeatures, txBm25, txKappa,
    txPack, txTtr)
}
