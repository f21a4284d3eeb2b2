package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Text-analysis operators for a training-data pipeline over `documents`:
  * token statistics, quality scoring, heuristic language-ID, document
  * fingerprinting (rolling hash), BPE-style subword counting, and
  * repetition detection.
  *
  * All math is integer or single-division double so results are
  * bit-identical in any engine: ratios are one IEEE division of two exact
  * integers; fingerprints are int64 polynomial hashes mod 1e9+7.
  *
  * Scale: all ops are row-local (narrow) — no shuffle at all; they pipeline
  * into whatever downstream partitioning exists. Codegen-friendly: built-in
  * higher-order functions only, no UDFs.
  */
object TextAnalysis {

  private def dbl(c: Column): Column = c.cast(DoubleType)

  /** Engine-exact 6-decimal rounding: `round(x*1e6)` → BIGINT → `/1e6`.
    * Multiply, round-half-away (positive input), and integer/1e6 division
    * are each single correctly-rounded IEEE ops, so Spark and DuckDB
    * produce bit-identical doubles — `round(x, 6)` does not. */
  private def micro6(c: Column): Column =
    round(c * lit(1e6)).cast(LongType) / lit(1e6)

  /** words of `text` (space-separated). */
  private def words(c: Column): Column = split(c, " ")

  /** int64 polynomial rolling hash mod 1e9+7 over the chars of `c`.
    * Matches a left fold with init 0: h = (h*mult + ascii(char)) % p.
    * Compiled custom Expression (see [[graft.functions.RollingHash]]) —
    * same fold, one tight loop per row instead of a per-char interpreted
    * lambda over a split array. */
  def rollingHashWith(c: Column, mult: Long): Column =
    graft.functions.RollingHash(c, mult)

  def rollingHash(c: Column): Column = rollingHashWith(c, 31L)

  // ---------------------------------------------------------------- t01
  /** Token counting: whitespace tokens, distinct tokens, char lengths. */
  def t01(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.t(s, dir, "documents")
      .select(
        $"doc_id",
        size(words($"text")).cast(LongType).as("n_tokens"),
        size(array_distinct(words($"text"))).cast(LongType).as("n_distinct_tokens"),
        length($"text").cast(LongType).as("len_chars"),
        (dbl(length($"text") - (size(words($"text")) - 1)) /
          size(words($"text"))).as("avg_token_len"))
      .orderBy($"doc_id")
  }

  val t01Sql: String =
    """SELECT doc_id,
      |  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
      |  CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) AS n_distinct_tokens,
      |  CAST(length(text) AS BIGINT) AS len_chars,
      |  CAST(length(text) - (len(string_split(text, ' ')) - 1) AS DOUBLE)
      |    / len(string_split(text, ' ')) AS avg_token_len
      |FROM documents ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- t02
  /** Quality scoring: stopword ratio, lexical diversity, length gate. */
  val stopwords: Seq[String] = Seq("the", "a", "data", "row", "value")

  def t02(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ws = words($"text")
    val nTok = size(ws)
    val nStop = size(filter(ws, w => w.isin(stopwords: _*)))
    val nDist = size(array_distinct(ws))
    Tables.t(s, dir, "documents")
      .select(
        $"doc_id",
        nStop.cast(LongType).as("n_stopwords"),
        (dbl(nStop) / nTok).as("stopword_ratio"),
        (dbl(nDist) / nTok).as("distinct_ratio"),
        qualityGate(ws).as("is_quality"))
      .transform(Q.sortedNarrow(_, $"doc_id"))
  }

  val t02Sql: String = {
    val set = stopwords.map(w => s"'$w'").mkString(", ")
    s"""SELECT doc_id,
       |  CAST(len(list_filter(string_split(text, ' '), w -> w IN ($set))) AS BIGINT) AS n_stopwords,
       |  CAST(len(list_filter(string_split(text, ' '), w -> w IN ($set))) AS DOUBLE)
       |    / len(string_split(text, ' ')) AS stopword_ratio,
       |  CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
       |    / len(string_split(text, ' ')) AS distinct_ratio,
       |  (len(string_split(text, ' ')) BETWEEN 20 AND 90
       |    AND CAST(len(list_filter(string_split(text, ' '), w -> w IN ($set))) AS DOUBLE)
       |        / len(string_split(text, ' ')) < 0.5) AS is_quality
       |FROM documents ORDER BY doc_id""".stripMargin
  }

  // ---------------------------------------------------------------- t03
  /** Heuristic language-ID: marker-word scores per language, argmax with a
    * fixed priority tiebreak (en > de > es > fr > zh). */
  val markers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a"),
    "de" -> Seq("row", "column"),
    "es" -> Seq("slow", "fast"),
    "fr" -> Seq("query", "scan"),
    "zh" -> Seq("join", "merge"))

  def t03(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ws = words($"text")
    def score(ms: Seq[String]): Column =
      size(filter(ws, w => w.isin(ms: _*))).cast(LongType)
    val scored = Tables.t(s, dir, "documents").select(
      $"doc_id" +: $"lang".as("labeled_lang") +:
        markers.map { case (l, ms) => score(ms).as(s"score_$l") }: _*)
    val langs = markers.map(_._1)
    val pred = langs.init.zipWithIndex.foldRight(lit(langs.last)) {
      case ((l, i), elsEx) =>
        val ge = langs.drop(i + 1)
          .map(o => col(s"score_$l") >= col(s"score_$o"))
          .reduce(_ && _)
        when(ge, lit(l)).otherwise(elsEx)
    }
    scored
      .withColumn("pred_lang", pred)
      .withColumn("is_match", $"pred_lang" === $"labeled_lang")
      .transform(Q.sortedNarrow(_, $"doc_id"))
  }

  val t03Sql: String = {
    def cnt(ms: Seq[String]) = {
      val set = ms.map(w => s"'$w'").mkString(", ")
      s"CAST(len(list_filter(string_split(text, ' '), w -> w IN ($set))) AS BIGINT)"
    }
    val scores = markers
      .map { case (l, ms) => s"      ${cnt(ms)} AS score_$l" }.mkString(",\n")
    val langs = markers.map(_._1)
    val cases = langs.init.zipWithIndex.map { case (l, i) =>
      val conds = langs.drop(i + 1).map(o => s"score_$l >= score_$o").mkString(" AND ")
      s"WHEN $conds THEN '$l'"
    }.mkString(" ")
    s"""SELECT doc_id, labeled_lang, score_en, score_de, score_es, score_fr, score_zh,
       |  pred_lang, pred_lang = labeled_lang AS is_match
       |FROM (
       |  SELECT *, CASE $cases ELSE '${langs.last}' END AS pred_lang FROM (
       |    SELECT doc_id, lang AS labeled_lang,
       |$scores
       |    FROM documents))
       |ORDER BY doc_id""".stripMargin
  }

  // ---------------------------------------------------------------- t04
  /** Document fingerprinting: whole-text rolling hash + a content key from
    * the sorted distinct-token list (shingle-free near-canonical form). */
  def t04(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.t(s, dir, "documents")
      // fan-out: the two full-text rolling hashes are the most expensive
      // narrow compute in this module — widen past the scan's parallelism
      .repartition($"doc_id")
      .select(
        $"doc_id",
        rollingHash($"text").as("fingerprint"),
        rollingHash(concat_ws(" ", array_sort(array_distinct(words($"text")))))
          .as("vocab_fingerprint"))
      .orderBy($"doc_id")
  }

  val t04Sql: String =
    """SELECT doc_id,
      |  list_reduce(list_transform(string_split(text, ''), c -> CAST(ascii(c) AS BIGINT)),
      |              (a, b) -> (a * 31 + b) % 1000000007) AS fingerprint,
      |  list_reduce(list_transform(
      |      string_split(array_to_string(list_sort(list_distinct(string_split(text, ' '))), ' '), ''),
      |      c -> CAST(ascii(c) AS BIGINT)),
      |    (a, b) -> (a * 31 + b) % 1000000007) AS vocab_fingerprint
      |FROM documents ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- t05
  /** BPE-ish subword token counting: a GPT-2-style pre-tokenizer regex
    * (letter runs | digit runs | single punctuation) plus the chars/4
    * estimate LLM pipelines budget with. The alternation is kept to
    * explicit character classes so Java regex (Spark) and RE2-ish
    * (DuckDB) agree byte-for-byte. */
  private val piece = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]"

  def t05(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val pieces = expr(s"regexp_extract_all(text, '$piece', 0)")
    Tables.t(s, dir, "documents")
      .repartition($"doc_id") // fan-out: the regex pass dominates per-doc cost
      // materialize the piece array ONCE per row; the three counts then
      // classify the array elements instead of re-running the extraction
      .select($"doc_id", pieces.as("ps"),
        ceil(dbl(length($"text")) / 4).cast(LongType).as("est_tokens"))
      .select(
        $"doc_id",
        size($"ps").cast(LongType).as("n_pieces"),
        size(filter($"ps", p => p.rlike("^[A-Za-z]"))).cast(LongType).as("n_word_pieces"),
        size(filter($"ps", p => p.rlike("^[0-9]"))).cast(LongType).as("n_num_pieces"),
        $"est_tokens")
      .transform(Q.sortedNarrow(_, $"doc_id"))
  }

  val t05Sql: String =
    s"""SELECT doc_id,
       |  CAST(len(regexp_extract_all(text, '$piece')) AS BIGINT) AS n_pieces,
       |  CAST(len(list_filter(regexp_extract_all(text, '$piece'),
       |    p -> regexp_matches(p, '^[A-Za-z]'))) AS BIGINT) AS n_word_pieces,
       |  CAST(len(list_filter(regexp_extract_all(text, '$piece'),
       |    p -> regexp_matches(p, '^[0-9]'))) AS BIGINT) AS n_num_pieces,
       |  CAST(ceil(CAST(length(text) AS DOUBLE) / 4) AS BIGINT) AS est_tokens
       |FROM documents ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- t06
  /** Repetition detection — the training-data filter that drops documents
    * dominated by a repeated phrase: bigram counts per doc, the top
    * bigram's share of all bigrams. Entirely NARROW: the top-bigram
    * multiplicity is one fused compiled pass over the word array
    * ([[graft.functions.TopBigramRun]] — no bigram-array materialization,
    * no per-row sort), and the ratio is a single exact division — no
    * (doc, bigram) shuffle exists in the plan, so at 100 TB this is a
    * pure scan. */
  def t06(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.t(s, dir, "documents")
      .select($"doc_id", words($"text").as("ws"))
      .filter(size($"ws") >= 2)
      .select($"doc_id",
        (size($"ws") - 1).cast(LongType).as("n_bigrams"),
        graft.functions.TopBigramRun($"ws").as("top_bigram_n"))
      .withColumn("repetition_ratio",
        round(dbl($"top_bigram_n") / $"n_bigrams", 6))
      .transform(Q.sortedNarrow(_, $"doc_id"))
  }

  val t06Sql: String =
    """WITH words AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
      |bg AS (SELECT doc_id, ws[i] || ' ' || ws[i+1] AS b
      |       FROM words, UNNEST(generate_series(1, len(ws) - 1)) AS t(i)
      |       WHERE len(ws) >= 2),
      |cnt AS (SELECT doc_id, b, COUNT(*) AS c FROM bg GROUP BY doc_id, b)
      |SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_bigrams, MAX(c) AS top_bigram_n,
      |  round(CAST(MAX(c) AS DOUBLE) / SUM(c), 6) AS repetition_ratio
      |FROM cnt GROUP BY doc_id ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- t07
  /** Sequence packing — the training-data step that concatenates documents
    * into fixed-size context windows (2048 estimated tokens here): within
    * each source stream, in doc_id order, a document's sequence id is the
    * window its first token lands in (offset-based chunking — the
    * streaming-friendly formulation of greedy packing). One running-sum
    * window per stream = one shuffle on `source`.
    *
    * Scale (100 TB): packing needs a total order per stream, so the unit
    * of parallelism is the stream; with few huge sources, pre-shard the
    * stream (e.g. (source, day)) and pack per shard — same plan, finer
    * partition key. Token estimate = ceil(chars/4), matching t05. */
  def t07(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val w = Window.partitionBy($"source").orderBy($"doc_id")
    Tables.t(s, dir, "documents")
      .select($"doc_id", $"source",
        ceil(dbl($"n_chars") / 4).cast(LongType).as("tokens"))
      .withColumn("cum", sum($"tokens").over(w))
      .select($"doc_id", $"source", $"tokens",
        expr("(cum - tokens) div 2048").as("seq_id"))
      .orderBy($"doc_id")
  }

  val t07Sql: String =
    """WITH t AS (SELECT doc_id, source,
      |  CAST(ceil(CAST(n_chars AS DOUBLE) / 4) AS BIGINT) AS tokens
      |  FROM documents),
      |c AS (SELECT doc_id, source, tokens,
      |  SUM(tokens) OVER (PARTITION BY source ORDER BY doc_id) AS cum FROM t)
      |SELECT doc_id, source, tokens,
      |  CAST((cum - tokens) // 2048 AS BIGINT) AS seq_id
      |FROM c ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- t08
  /** Deterministic train/valid/test split — hash-based assignment, the
    * reproducible alternative to random sampling: bucket = first 6 hex
    * digits of md5(doc_id) mod 100, split at 90/95. A document's split is
    * a pure function of its id — stable across runs, engines, cluster
    * sizes, and data order, which is what makes held-out sets trustworthy.
    *
    * Scale: narrow (one hash per row, no shuffle); the split column
    * pipelines into any downstream write partitioning. */
  private[ops] def md5Bucket(key: Column, salt: String): Column =
    conv(substring(md5(concat(key.cast(StringType), lit(salt))), 1, 6), 16, 10)
      .cast(LongType) % 100

  def t08(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.t(s, dir, "documents")
      .select($"doc_id", md5Bucket($"doc_id", "").as("bucket"))
      .withColumn("split",
        when($"bucket" < 90, "train")
          .when($"bucket" < 95, "valid")
          .otherwise("test"))
      .orderBy($"doc_id")
  }

  val t08Sql: String =
    """SELECT doc_id,
      |  CAST(CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 6) AS BIGINT)
      |    % 100 AS BIGINT) AS bucket,
      |  CASE WHEN CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 6) AS BIGINT)
      |    % 100 < 90 THEN 'train'
      |       WHEN CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 6) AS BIGINT)
      |    % 100 < 95 THEN 'valid'
      |       ELSE 'test' END AS split
      |FROM documents ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- t09
  /** Quota (stratified) sampling — the domain-mixing step that downsamples
    * each stratum at its own rate (here: per labeled language, the shape
    * used to rebalance web corpora before training). Deterministic: a doc
    * is kept iff its salted md5 bucket falls under its stratum's quota —
    * reproducible and mergeable, unlike rand()-based sampling.
    *
    * Scale: narrow scan + filter (the quota map is a literal CASE; a real
    * pipeline with thousands of strata broadcast-joins a quota table
    * instead — same plan shape, no extra shuffle either way). */
  val langQuotas: Seq[(String, Int)] =
    Seq("en" -> 60, "de" -> 45, "es" -> 30, "fr" -> 20, "zh" -> 10)

  def t09(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val quota = langQuotas.foldRight(lit(0): Column) {
      case ((l, q), els) => when($"lang" === l, q).otherwise(els)
    }
    Tables.t(s, dir, "documents")
      .select($"doc_id", $"lang", $"source",
        md5Bucket($"doc_id", ":mix").as("bucket"), quota.as("quota"))
      .filter($"bucket" < $"quota")
      .select($"doc_id", $"lang", $"source", $"bucket")
      .orderBy($"doc_id")
  }

  val t09Sql: String = {
    val cases = langQuotas
      .map { case (l, q) => s"WHEN lang = '$l' THEN $q" }.mkString(" ")
    s"""WITH b AS (SELECT doc_id, lang, source,
       |  CAST(CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':mix'), 1, 6) AS BIGINT)
       |    % 100 AS BIGINT) AS bucket,
       |  CASE $cases ELSE 0 END AS quota
       |  FROM documents)
       |SELECT doc_id, lang, source, bucket FROM b
       |WHERE bucket < quota ORDER BY doc_id""".stripMargin
  }

  // ---------------------------------------------------------------- t10
  /** TF-IDF top terms per document — the keyword-extraction step of a
    * curation pipeline. IDF is the rational form N/df instead of
    * ln(N/df): monotone in the same ordering, but a single IEEE division
    * of two exact integers, so scores are bit-identical across engines
    * (transcendental functions are not).
    *
    * Plan shape: explode → (doc, term) count [shuffle 1] → term df
    * [shuffle 2, output ≈ vocabulary] → per-doc top-3 window [shuffle 3
    * on doc_id]. The vocabulary grows with the corpus (Heaps' law), so
    * the df side carries no broadcast hint — AQE broadcasts it while it
    * fits and falls back to a term-keyed shuffle join beyond; the window
    * partitions by doc_id — perfectly spread, no skew. */
  def t10(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = Tables.t(s, dir, "documents")
    val tok = docs.select($"doc_id", explode(words($"text")).as("term"))
    val tf = tok.groupBy($"doc_id", $"term").agg(count(lit(1)).as("tf"))
    val df = tok.groupBy($"term").agg(countDistinct($"doc_id").as("df"))
    val n = docs.agg(count(lit(1)).as("n_docs"))
    val scored = tf.join(df, Seq("term"))
      .crossJoin(broadcast(n))
      .withColumn("score", round($"tf" * (dbl($"n_docs") / $"df"), 6))
    val w = Window.partitionBy($"doc_id").orderBy($"score".desc, $"term")
    scored.withColumn("rank", row_number().over(w))
      .filter($"rank" <= 3)
      .select($"doc_id", $"rank", $"term", $"tf", $"df", $"score")
      .orderBy($"doc_id", $"rank")
  }

  val t10Sql: String =
    """WITH tok AS (
      |  SELECT doc_id, w AS term
      |  FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
      |       UNNEST(ws) AS t(w)),
      |tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM tok GROUP BY 1, 2),
      |df AS (SELECT term, COUNT(DISTINCT doc_id) AS df FROM tok GROUP BY 1),
      |n AS (SELECT COUNT(*) AS n_docs FROM documents),
      |scored AS (
      |  SELECT doc_id, term, tf, df,
      |    round(tf * (CAST(n_docs AS DOUBLE) / df), 6) AS score
      |  FROM tf JOIN df USING (term) CROSS JOIN n),
      |ranked AS (
      |  SELECT *, CAST(row_number() OVER (
      |    PARTITION BY doc_id ORDER BY score DESC, term) AS INTEGER) AS rank
      |  FROM scored)
      |SELECT doc_id, rank, term, tf, df, score
      |FROM ranked WHERE rank <= 3 ORDER BY doc_id, rank""".stripMargin

  // ---------------------------------------------------------------- t11
  /** BM25 keyword search (k1=1.2, b=0.75) for a fixed query — the lexical
    * retrieval twin of s01's embedding search. The corpus statistics
    * (N, per-term df, avg doc length) reduce to ONE aggregate row that
    * broadcasts to a second narrow scan: two passes, no wide shuffle.
    * IDF uses the BM25+ rational form (N - df + 0.5)/(df + 0.5) — no
    * logarithm, so every FP step is a deterministic IEEE op evaluated in
    * the identical order on both engines; per-term scores are summed in
    * fixed (term-list) order, not data order. */
  val bm25Query: Seq[String] = Seq("spark", "window", "join")

  def t11(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = Tables.t(s, dir, "documents")
      .select($"doc_id", words($"text").as("ws"))
      .withColumn("dl", size($"ws").cast(LongType))
    def tfOf(t: String): Column =
      size(filter($"ws", w => w === t)).cast(LongType)
    val statAggs = sum($"dl").as("sum_dl") +: bm25Query.map(t =>
      sum(when(tfOf(t) > 0, 1L).otherwise(0L)).as(s"df_$t"))
    val stats = docs.agg(count(lit(1)).as("n_docs"), statAggs: _*)
    val withTf = docs.select(
      $"doc_id" +: $"dl" +: bm25Query.map(t => tfOf(t).as(s"tf_$t")): _*)
    def termScore(t: String): Column = {
      val tf = dbl(col(s"tf_$t"))
      val idf = (dbl($"n_docs") - dbl(col(s"df_$t")) + lit(0.5)) /
        (dbl(col(s"df_$t")) + lit(0.5))
      val norm = lit(1.0) - lit(0.75) + lit(0.75) * (dbl($"dl") / $"avgdl")
      idf * ((tf * lit(2.2)) / (tf + lit(1.2) * norm))
    }
    val scored = withTf.crossJoin(broadcast(
        stats.withColumn("avgdl", dbl($"sum_dl") / $"n_docs")))
      .withColumn("score",
        round(bm25Query.map(termScore).reduceLeft(_ + _), 6))
      .filter($"score" > 0)
    // global top-10 as orderBy+limit → TakeOrderedAndProject (per-partition
    // heaps, k rows to the driver) — NOT a row_number over an unpartitioned
    // window, which would shuffle the whole corpus to one partition.
    // The rank window then runs over just the 10 survivors.
    val top = scored.orderBy($"score".desc, $"doc_id").limit(10)
    val w = Window.orderBy($"score".desc, $"doc_id")
    top.withColumn("rank", row_number().over(w))
      .select($"doc_id" +: $"rank" +: $"score" +:
        bm25Query.map(t => col(s"tf_$t")): _*)
      .orderBy($"rank")
  }

  val t11Sql: String = {
    def cnt(t: String) =
      s"CAST(len(list_filter(ws, w -> w = '$t')) AS BIGINT)"
    val tfCols = bm25Query.map(t => s"    ${cnt(t)} AS tf_$t").mkString(",\n")
    val dfCols = bm25Query
      .map(t => s"    SUM(CASE WHEN tf_$t > 0 THEN 1 ELSE 0 END) AS df_$t")
      .mkString(",\n")
    val scoreTerms = bm25Query.map { t =>
      s"((CAST(n_docs AS DOUBLE) - CAST(df_$t AS DOUBLE) + 0.5) / (CAST(df_$t AS DOUBLE) + 0.5))" +
        s" * ((CAST(tf_$t AS DOUBLE) * 2.2) / (CAST(tf_$t AS DOUBLE) + 1.2 * (1.0 - 0.75 + 0.75 * (CAST(dl AS DOUBLE) / avgdl))))"
    }.mkString(" + ")
    val tfOut = bm25Query.map(t => s"tf_$t").mkString(", ")
    s"""WITH d AS (
       |  SELECT doc_id, CAST(len(ws) AS BIGINT) AS dl,
       |$tfCols
       |  FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents)),
       |stats AS (
       |  SELECT CAST(COUNT(*) AS BIGINT) AS n_docs, SUM(dl) AS sum_dl,
       |$dfCols
       |  FROM d),
       |scored AS (
       |  SELECT doc_id, dl, $tfOut,
       |    round($scoreTerms, 6) AS score
       |  FROM d CROSS JOIN (
       |    SELECT n_docs, ${bm25Query.map(t => s"df_$t").mkString(", ")},
       |      CAST(sum_dl AS DOUBLE) / n_docs AS avgdl FROM stats)),
       |ranked AS (
       |  SELECT *, CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS INTEGER) AS rank
       |  FROM scored WHERE score > 0)
       |SELECT doc_id, rank, score, $tfOut
       |FROM ranked WHERE rank <= 10 ORDER BY rank""".stripMargin
  }

  // ---------------------------------------------------------------- t12
  /** Corpus n-gram statistics — the LM-style frequency table: global
    * trigram counts with document frequency, top-20. ONE shuffle total:
    * the per-(doc, trigram) collapse that used to be its own exchange is
    * now the narrow `ngram_counts` kernel (per-row work), so only the
    * already-collapsed (trigram, count) rows reach the corpus groupBy —
    * map-side partials, then the global top-k lowers to
    * TakeOrderedAndProject (per-partition heaps + driver merge of k
    * rows), not a full sort. At 100 TB the trigram key space is huge but
    * nothing except partial-aggregated (trigram, n, n_docs) rows and the
    * k winners ever leaves the executors. */
  def t12(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // ngram_counts_text fuses tokenization into the per-doc counting
    // kernel (one compiled pass, no regex split, no word array); texts
    // with <3 words yield an empty gram array, which explode drops —
    // the old size(ws)>=3 filter is implicit
    Tables.t(s, dir, "documents")
      .select(explode(
        graft.functions.ShingleKernels.ngramCountsText($"text", 3)).as("gc"))
      .select($"gc.g".as("trigram"), $"gc.c".as("c"))
      .groupBy($"trigram")
      .agg(sum($"c").as("n"), count(lit(1)).as("n_docs"))
      .orderBy($"n".desc, $"trigram")
      .limit(20)
  }

  val t12Sql: String =
    """WITH words AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
      |tg AS (SELECT doc_id, ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS trigram
      |       FROM words, UNNEST(generate_series(1, len(ws) - 2)) AS t(i)
      |       WHERE len(ws) >= 3)
      |SELECT trigram, COUNT(*) AS n, COUNT(DISTINCT doc_id) AS n_docs
      |FROM tg GROUP BY trigram ORDER BY n DESC, trigram LIMIT 20""".stripMargin

  // ---------------------------------------------------------------- t13
  // PII expressions of t13: the scrub and its redaction count build from
  // the same two patterns.

  /** Email pattern in the common subset of Java regex and RE2 (character
    * classes, bounded repetition, no backrefs) so any engine agrees. */
  val emailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"

  /** Digit-run pattern (account numbers, phones, ids). */
  val numRe = "[0-9]+"

  /** Masked text: emails first (so their digits disappear as part of the
    * email mask), then remaining digit runs. */
  def scrubPii(c: Column): Column =
    regexp_replace(regexp_replace(c, emailRe, "<EMAIL>"), numRe, "<NUM>")

  /** Number of replacements [[scrubPii]] actually performs: emails on the
    * original + digit runs on the email-scrubbed intermediate — digits
    * inside an email are masked by the ONE email replacement and must not
    * be double-counted. */
  def redactionCount(c: Column): Column =
    (regexp_count(c, lit(emailRe)) +
      regexp_count(regexp_replace(c, emailRe, "<EMAIL>"), lit(numRe)))
      .cast(LongType)

  /** t02's quality gate as a reusable predicate: length in [20, 90] and
    * stopword ratio under 0.5. */
  def qualityGate(ws: Column): Column = {
    val nTok = size(ws)
    val nStop = size(filter(ws, w => w.isin(stopwords: _*)))
    nTok >= 20 && nTok <= 90 && (dbl(nStop) / nTok) < lit(0.5)
  }

  /** PII scrubbing — the mandatory pre-training redaction pass: mask
    * email addresses and digit runs in free text (here `events.props`,
    * the only column in the testdata with digits) and count what was
    * redacted.
    *
    * Scale: row-local `regexp_replace`/`regexp_count` — fully narrow, no
    * shuffle, whole-stage codegen; the scrub pipelines into whatever scan
    * partitioning exists, which is exactly what a 100 TB redaction sweep
    * needs (it is bandwidth-bound, and this plan reads each byte once). */
  def t13(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.t(s, dir, "events")
      .select(
        $"event_id",
        scrubPii($"props").as("props_scrubbed"),
        redactionCount($"props").as("n_redactions"))
      .transform(Q.sortedNarrow(_, $"event_id"))
  }

  val t13Sql: String =
    """SELECT event_id,
      |  regexp_replace(
      |    regexp_replace(props, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}',
      |                   '<EMAIL>', 'g'),
      |    '[0-9]+', '<NUM>', 'g') AS props_scrubbed,
      |  CAST(len(regexp_extract_all(props,
      |         '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) +
      |       len(regexp_extract_all(
      |         regexp_replace(props, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}',
      |                        '<EMAIL>', 'g'),
      |         '[0-9]+')) AS BIGINT) AS n_redactions
      |FROM events ORDER BY event_id""".stripMargin

  // ---------------------------------------------------------------- t14
  /** Quality deciles — the corpus-curation histogram: rank every document
    * by stopword ratio (ties broken by doc_id for a total order) into
    * ntile(10) buckets and aggregate each decile. Per-decile measures are
    * chosen to be order-independent (min/max, integer sums, one final
    * division) so the result is engine-exact.
    *
    * Scale: a bare `ntile(10) OVER (ORDER BY …)` window is a
    * single-partition sort — the one plan shape that cannot survive
    * 10¹⁰ docs. [[globalNtile]] computes the IDENTICAL bucketing fully
    * distributed: range-repartition on the ranking key (a distributed
    * sort), per-partition row counts (one number per partition to the
    * driver — bounded by partition count, not data), prefix-sum offsets,
    * then a narrow pass assigns each row its exact global rank and
    * Spark-ntile bucket. The input is the pre-aggregated (doc_id, ratio)
    * projection, ~16 bytes/doc — every stage scales with partitions. */
  def t14(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ws = words($"text")
    val nTok = size(ws)
    val nStop = size(filter(ws, w => w.isin(stopwords: _*)))
    val perDoc = Tables.t(s, dir, "documents")
      .select(
        $"doc_id",
        nStop.cast(LongType).as("n_stop"),
        nTok.cast(LongType).as("n_tok"),
        (dbl(nStop) / nTok).as("ratio"))
    globalNtile(perDoc, 10, $"ratio", $"doc_id")
      .groupBy($"decile")
      .agg(
        count(lit(1)).as("n_docs"),
        // engine-exact 6-decimal rounding: round(x*1e6)→int→/1e6 is the
        // same IEEE ops on both engines, so decision AND repr match
        // bit-for-bit; round(x, 6) does not (Spark rounds the exact
        // decimal expansion, DuckDB rounds x*1e6 — ties can split)
        micro6(min($"ratio")).as("min_ratio"),
        micro6(max($"ratio")).as("max_ratio"),
        sum($"n_stop").as("total_stopwords"),
        sum($"n_tok").as("total_tokens"))
      .withColumn("pooled_ratio",
        micro6(dbl($"total_stopwords") / $"total_tokens"))
      .orderBy($"decile")
  }

  /** Distributed exact `ntile(k) OVER (ORDER BY keys…)`: appends an
    * IntegerType `decile` column, bit-identical to the window form on any
    * input, with no single-partition stage.
    *
    * Plan: range-repartition + in-partition sort = a distributed global
    * sort; a first pass collects per-partition row counts (≤ one long per
    * partition — driver work bounded by cluster width, not data); a
    * second narrow pass assigns rank = partition offset + local position
    * and buckets with Spark's exact ntile arithmetic (first n mod k
    * buckets get one extra row). The lazy checkpoint materializes the
    * sorted layout once; both passes read the same blocks. Partition
    * BOUNDARIES come from RangePartitioner sampling and are not
    * deterministic — but ranks derive from the total (ratio, doc_id)
    * order, which boundaries cannot change, so the output is a pure
    * function of the data. */
  private[ops] def globalNtile(df: DataFrame, k: Int,
      keys: org.apache.spark.sql.Column*): DataFrame = {
    val s = df.sparkSession
    val parts = math.max(1, s.sparkContext.defaultParallelism)
    // pin the (slim, post-projection) input BEFORE the range exchange:
    // RangePartitioner's sampling job otherwise re-executes the full
    // upstream pipeline (per-doc text kernels included) just to draw
    // boundary samples — measured 0.71 s → 0.52 s on t14 at sf0.1
    val pinned = df.localCheckpoint(eager = false)
    val ranged = pinned.repartitionByRange(parts, keys: _*)
      .sortWithinPartitions(keys: _*)
      .localCheckpoint(eager = false)
    val rdd = ranged.rdd
    val counts = rdd.mapPartitionsWithIndex((pid, it) =>
      Iterator.single(pid -> it.size.toLong)).collect().toMap
    val n = counts.values.sum
    val offsets = (0 until rdd.getNumPartitions).map { pid =>
      pid -> (0 until pid).map(counts.getOrElse(_, 0L)).sum
    }.toMap
    // Spark/SQL ntile: base = n/k rows per bucket, the first n%k buckets
    // carry one extra
    val base = n / k
    val rem = n % k
    val cut = rem * (base + 1) // ranks 1..cut live in the fat buckets
    def bucketOf(rank: Long): Int =
      if (n == 0) 1
      else if (base == 0) rank.toInt // n < k: one row per bucket
      else if (rank <= cut) ((rank - 1) / (base + 1)).toInt + 1
      else (rem + (rank - 1 - cut) / base).toInt + 1
    val ranked = rdd.mapPartitionsWithIndex { (pid, it) =>
      var rank = offsets(pid)
      it.map { row =>
        rank += 1
        org.apache.spark.sql.Row.fromSeq(row.toSeq :+ bucketOf(rank))
      }
    }
    s.createDataFrame(ranked,
      ranged.schema.add("decile", IntegerType, nullable = false))
  }

  val t14Sql: String = {
    val stopList = stopwords.map(w => s"'$w'").mkString(", ")
    s"""WITH d AS (
       |  SELECT doc_id,
       |    CAST(len(list_filter(ws, w -> w IN ($stopList))) AS BIGINT) AS n_stop,
       |    CAST(len(ws) AS BIGINT) AS n_tok
       |  FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents)),
       |r AS (
       |  SELECT doc_id, n_stop, n_tok,
       |    CAST(n_stop AS DOUBLE) / n_tok AS ratio FROM d),
       |b AS (
       |  SELECT *, ntile(10) OVER (ORDER BY ratio, doc_id) AS decile FROM r)
       |SELECT CAST(decile AS INTEGER) AS decile, COUNT(*) AS n_docs,
       |  CAST(round(MIN(ratio) * 1e6) AS BIGINT) / 1e6 AS min_ratio,
       |  CAST(round(MAX(ratio) * 1e6) AS BIGINT) / 1e6 AS max_ratio,
       |  CAST(SUM(n_stop) AS BIGINT) AS total_stopwords,
       |  CAST(SUM(n_tok) AS BIGINT) AS total_tokens,
       |  CAST(round(CAST(SUM(n_stop) AS DOUBLE) / SUM(n_tok) * 1e6) AS BIGINT)
       |    / 1e6 AS pooled_ratio
       |FROM b GROUP BY decile ORDER BY decile""".stripMargin
  }

  // ---------------------------------------------------------------- t15
  /** Epoch-weighted mixture expansion — the upsampling half of training
    * data mixing (t09 is the downsampling half): each source gets a
    * target epoch weight (e.g. 2.5 = every doc appears twice, and half
    * the docs a third time). Copies are materialized as (doc_id, copy_id)
    * rows; the fractional epoch is decided per doc by a salted md5 bucket,
    * so the expansion is a pure function of (doc_id, source) —
    * reproducible across engines, runs, and partitionings.
    *
    * Scale: narrow scan + explode, no shuffle; output size = Σ weights,
    * known in advance. At 100 TB you never materialize copies to storage —
    * this operator IS the view the training reader consumes. */
  val epochWeights: Seq[(String, Int)] = // source -> weight in percent
    Seq("src0" -> 250, "src1" -> 50, "src2" -> 130, "src3" -> 0)

  def t15(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val w = epochWeights.foldRight(lit(100): Column) {
      case ((src, pct), els) => when($"source" === src, pct).otherwise(els)
    }
    Tables.t(s, dir, "documents")
      .select($"doc_id", $"source", w.as("w"),
        md5Bucket($"doc_id", ":epoch").as("bucket"))
      .withColumn("n_copies",
        ($"w" / 100).cast(LongType) +
          when($"bucket" < $"w" % 100, 1L).otherwise(0L))
      .filter($"n_copies" > 0)
      .select($"doc_id", $"source", $"n_copies",
        explode(sequence(lit(1L), $"n_copies")).as("copy_id"))
      .orderBy($"doc_id", $"copy_id")
  }

  val t15Sql: String = {
    val wCase = epochWeights.map { case (s0, p) => s"WHEN source = '$s0' THEN $p" }
      .mkString("CASE ", " ", " ELSE 100 END")
    s"""WITH d AS (
       |  SELECT doc_id, source, $wCase AS w,
       |    CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':epoch'), 1, 6)
       |      AS BIGINT) % 100 AS bucket
       |  FROM documents),
       |n AS (
       |  SELECT doc_id, source,
       |    CAST(w // 100 + CASE WHEN bucket < w % 100 THEN 1 ELSE 0 END AS BIGINT)
       |      AS n_copies
       |  FROM d)
       |SELECT doc_id, source, n_copies, copy_id
       |FROM n, UNNEST(generate_series(1, n_copies)) AS t(copy_id)
       |WHERE n_copies > 0
       |ORDER BY doc_id, copy_id""".stripMargin
  }

  // ---------------------------------------------------------------- t16
  /** Per-source document-length quartiles (percentile_disc semantics via
    * integer rank picks — q26's pattern on the corpus): the curation
    * dashboard number that decides per-source length cutoffs. Exact: rank
    * selection is integer arithmetic, no interpolation FP. One shuffle
    * (window partitioned by source); at 100 TB the window partitions by
    * source so skew maps to the largest single source — acceptable
    * because per-source row counts are what curation slices by anyway. */
  def t16(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val w = Window.partitionBy($"source").orderBy($"n_chars", $"doc_id")
    val ranked = Tables.t(s, dir, "documents")
      .select($"source", $"n_chars", $"doc_id")
      .withColumn("rn", row_number().over(w))
      .withColumn("n", count(lit(1)).over(Window.partitionBy($"source")))
    def pick(idx: Column): Column = max(when($"rn" === idx, $"n_chars"))
    ranked.groupBy($"source")
      .agg(
        pick(expr("(n + 3) div 4")).as("len_p25"),
        pick(expr("(n + 1) div 2")).as("len_p50"),
        pick(expr("(n * 3 + 3) div 4")).as("len_p75"),
        max($"n").as("n_docs"))
      .orderBy($"source")
  }

  val t16Sql: String =
    """WITH r AS (
      |  SELECT source, n_chars,
      |    row_number() OVER (PARTITION BY source
      |      ORDER BY n_chars, doc_id) AS rn,
      |    COUNT(*) OVER (PARTITION BY source) AS n
      |  FROM documents)
      |SELECT source,
      |  MAX(CASE WHEN rn = (n + 3) // 4 THEN n_chars END) AS len_p25,
      |  MAX(CASE WHEN rn = (n + 1) // 2 THEN n_chars END) AS len_p50,
      |  MAX(CASE WHEN rn = (n * 3 + 3) // 4 THEN n_chars END) AS len_p75,
      |  MAX(n) AS n_docs
      |FROM r GROUP BY source ORDER BY source""".stripMargin

  // ---------------------------------------------------------------- t17
  /** Per-source charset profile: ASCII purity via `octet_length ==
    * char_length` (a doc is pure ASCII iff its UTF-8 byte count equals
    * its codepoint count — no regex, no lookup tables, exact on any
    * engine) plus bytes-per-char, the standard multilingual-corpus
    * triage number. Narrow scan + one tiny aggregate; both lengths are
    * codegen'd built-ins evaluated in the scan stage. */
  def t17(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.t(s, dir, "documents")
      .groupBy($"source")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(when(octet_length($"text") === length($"text"), 1).otherwise(0))
          .as("n_ascii"),
        sum(octet_length($"text").cast(LongType)).as("total_bytes"),
        sum(length($"text").cast(LongType)).as("total_chars"))
      // guard the zero-char case explicitly: Spark's Divide yields NULL on
      // 0 while DuckDB's IEEE division yields NaN/inf — pin both to NULL
      .withColumn("bytes_per_char",
        when($"total_chars" > 0, dbl($"total_bytes") / $"total_chars"))
      .orderBy($"source")
  }

  val t17Sql: String =
    """SELECT source, COUNT(*) AS n_docs,
      |  CAST(SUM(CASE WHEN strlen(text) = length(text) THEN 1 ELSE 0 END)
      |    AS BIGINT) AS n_ascii,
      |  CAST(SUM(strlen(text)) AS BIGINT) AS total_bytes,
      |  CAST(SUM(length(text)) AS BIGINT) AS total_chars,
      |  CASE WHEN SUM(length(text)) > 0
      |    THEN CAST(SUM(strlen(text)) AS DOUBLE) / SUM(length(text)) END
      |    AS bytes_per_char
      |FROM documents GROUP BY source ORDER BY source""".stripMargin

  // ---------------------------------------------------------------- t18
  /** Per-source frequency cap — the curation step that stops one crawl
    * domain from dominating the mixture: keep at most [[SourceCap]] docs
    * per source, preferring lexical richness (distinct-token count), ties
    * broken by doc_id so the cut is total. Ranking keys are INTEGERS, so
    * unlike a float quality score there is no cross-engine tie ambiguity
    * — the kept set is a pure function of the data.
    *
    * Scale (100 TB): one hash exchange on `source` + a per-partition
    * sort — the rank never sees the global corpus. A source with
    * billions of docs skews its partition; the production variant
    * pre-filters with a per-source quality threshold (computed like
    * t16's quartiles) before ranking so the window input is bounded —
    * same output, the window only breaks ties near the cut. */
  val SourceCap = 20

  def t18(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // project the distinct count FIRST so the O(len) tokenize+distinct
    // pass runs once per row — ordering the window by the raw expression
    // would evaluate it a second time as the sort key
    val w = Window.partitionBy($"source")
      .orderBy($"n_distinct_tokens".desc, $"doc_id")
    Tables.t(s, dir, "documents")
      .select($"doc_id", $"source",
        size(array_distinct(words($"text"))).cast(LongType).as("n_distinct_tokens"))
      .select($"doc_id", $"source", $"n_distinct_tokens",
        row_number().over(w).as("cap_rank"),
        count(lit(1)).over(Window.partitionBy($"source")).as("n_source_docs"))
      .filter($"cap_rank" <= SourceCap)
      .orderBy($"source", $"cap_rank")
  }

  val t18Sql: String =
    """WITH ranked AS (
      |  SELECT doc_id, source,
      |    CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT)
      |      AS n_distinct_tokens,
      |    ROW_NUMBER() OVER (PARTITION BY source
      |      ORDER BY len(list_distinct(string_split(text, ' '))) DESC, doc_id)
      |      AS cap_rank,
      |    COUNT(*) OVER (PARTITION BY source) AS n_source_docs
      |  FROM documents)
      |SELECT doc_id, source, n_distinct_tokens,
      |  CAST(cap_rank AS INTEGER) AS cap_rank,
      |  CAST(n_source_docs AS BIGINT) AS n_source_docs
      |FROM ranked WHERE cap_rank <= 20
      |ORDER BY source, cap_rank""".stripMargin

  // ---------------------------------------------------------------- t19
  /** Distinct-token cardinality per source via a K-Minimum-Values sketch
    * ([[graft.functions.KmvAgg]]), audited against the exact count — the
    * vocabulary-size meter a mixture designer reads per source, in the
    * same estimate-vs-exact audit shape as s06's ANN recall.
    *
    * Cross-engine determinism: the hash is the first 12 hex chars of
    * md5(token) — a 48-bit integer both Spark (`conv(…,16,10)`) and
    * DuckDB (hex-digit polynomial) compute identically, and every
    * derived number is integer arithmetic plus ONE IEEE division of
    * exactly-representable operands ((k−1)·2⁴⁸ has a 6-bit mantissa;
    * the k-th hash is < 2⁴⁸ < 2⁵³), so estimate and error hash-match.
    *
    * Scale (100 TB): the sketch is THE point — `KmvAgg` partial-
    * aggregates map-side, so the per-source shuffle carries one ≤k-long
    * array per (map partition, source) instead of the full distinct
    * token set that `countDistinct` would exchange. The exact column is
    * the AUDIT (bench-scale only); production emits the sketch alone,
    * and sketches from different days/sources merge associatively
    * (KmvAggSpec's merge law) — a rollup never touches raw tokens. The
    * ALL row is that very rollup, computed here from the same scan. */
  val KmvK = 64

  /** 2^48 — the range of [[tokenHash48]], and the `H` in the KMV
    * estimator `(k−1)·H / kth`. */
  val KmvRange48 = 281474976710656L

  /** 48-bit cross-engine token hash of t19: the first 12 hex chars of
    * md5 as an integer; the DuckDB oracle mirrors it as a hex-digit
    * polynomial. */
  def tokenHash48(w: Column): Column =
    conv(substring(md5(w), 1, 12), 16, 10).cast(LongType)

  def t19(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val tok = Tables.t(s, dir, "documents")
      .select($"source", explode(words($"text")).as("w"))
      .localCheckpoint(eager = false) // shared by sketch + audit passes
    val hv = tok.select($"source", tokenHash48($"w").as("hv"))
    val sketches = hv.groupBy($"source")
      .agg(graft.functions.KmvAgg($"hv", KmvK).as("kmv"))
      .unionByName(
        hv.agg(graft.functions.KmvAgg($"hv", KmvK).as("kmv"))
          .select(lit("ALL").as("source"), $"kmv"))
    val exact = tok.groupBy($"source").agg(countDistinct($"w").as("n_exact"))
      .unionByName(
        tok.agg(countDistinct($"w").as("n_exact"))
          .select(lit("ALL").as("source"), $"n_exact"))
    val est = when(size($"kmv") < KmvK, dbl(size($"kmv")))
      .otherwise(dbl(lit((KmvK - 1).toLong * KmvRange48)) / element_at($"kmv", KmvK))
    sketches.join(exact, Seq("source"))
      .select(
        $"source",
        $"n_exact",
        size($"kmv").cast(LongType).as("kmv_size"),
        when(size($"kmv") === KmvK, element_at($"kmv", KmvK)).as("kth_hash"),
        est.as("est_distinct"),
        round(abs(est - $"n_exact") / $"n_exact", 6).as("rel_err"))
      .orderBy($"source")
  }

  val t19Sql: String = {
    // 48-bit value of the first 12 hex chars of m, as a digit polynomial
    val parse = (1 to 12).map { i =>
      val w = 1L << (4 * (12 - i))
      s"(strpos('0123456789abcdef', substr(m, $i, 1)) - 1) * $w"
    }.mkString(" + ")
    s"""WITH tok0 AS (
       |  SELECT source, unnest(string_split(text, ' ')) AS w FROM documents),
       |tok AS (SELECT source, w FROM tok0
       |        UNION ALL SELECT 'ALL', w FROM tok0),
       |d AS (SELECT DISTINCT source, w FROM tok),
       |hm AS (SELECT DISTINCT source, md5(w) AS m FROM d),
       |hv AS (SELECT DISTINCT source, CAST($parse AS BIGINT) AS hv FROM hm),
       |ranked AS (SELECT source, hv,
       |    row_number() OVER (PARTITION BY source ORDER BY hv) AS r,
       |    COUNT(*) OVER (PARTITION BY source) AS n_hv
       |  FROM hv),
       |ex AS (SELECT source, COUNT(*) AS n_exact FROM d GROUP BY source),
       |kth AS (SELECT source, MIN(n_hv) AS n_hv,
       |    MAX(CASE WHEN r = 64 THEN hv END) AS kth_hash
       |  FROM ranked WHERE r <= 64 GROUP BY source),
       |est AS (SELECT source, n_hv, kth_hash,
       |    CASE WHEN n_hv < 64 THEN CAST(n_hv AS DOUBLE)
       |         ELSE CAST(17732923532771328 AS DOUBLE) / kth_hash END AS e
       |  FROM kth)
       |SELECT x.source, CAST(x.n_exact AS BIGINT) AS n_exact,
       |  CAST(LEAST(k.n_hv, 64) AS BIGINT) AS kmv_size,
       |  CAST(k.kth_hash AS BIGINT) AS kth_hash,
       |  k.e AS est_distinct,
       |  round(abs(k.e - x.n_exact) / x.n_exact, 6) AS rel_err
       |FROM ex x JOIN est k USING (source) ORDER BY source""".stripMargin
  }

  // ---------------------------------------------------------------- t20
  /** Bigram cross-document support — the KenLM-style quality filter
    * distilled to exact arithmetic: score each document by how much
    * corpus mass backs its word transitions. Per doc:
    * `novelty_ratio` = fraction of its distinct bigrams that occur in NO
    * other document (high ⇒ unique prose or garbage), and
    * `support_score` = Σ c·count(bigram) / Σ c·count(prefix) — the
    * corpus-conditional-probability mass of its transitions (low ⇒ the
    * doc's continuations are rare given their prefixes, the same signal
    * an n-gram LM perplexity filter thresholds, but from two integer
    * sums and ONE division instead of log-prob floats).
    *
    * Scale (100 TB): the bigram vocabulary grows with the corpus, so —
    * unlike t10's broadcastable unigram df — the doc↔corpus join MUST
    * shuffle on the bigram key; counts partial-aggregate map-side
    * (t12's two-level shape) and sums run in DECIMAL(38,0) so a web-
    * scale `c·count` cannot wrap int64. The PREFIX mass, though, folds
    * out of the already-aggregated corpus table (Σ_{bg: bg₁=w} count =
    * group the bigram counts by first word), so it costs a tiny
    * aggregate of the corpus frame instead of a third corpus-sized
    * shuffle — and the result is unigram-vocab-sized, so it broadcasts
    * like t10's df. Two key-partitioned shuffles of corpus-sized data
    * (bigram, doc_id), one broadcast. */
  def t20(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val big = DecimalType(38, 0)
    // per-(doc, bigram) counts come out of the fused ngram_counts_text
    // kernel (one compiled pass inside the scan — no shuffle, no regex
    // split, no word array). The frame is cheap narrow work over the
    // columnar scan, so BOTH consumers recompute it rather than pay a
    // checkpoint materialization (recomputing a memory-bandwidth kernel
    // beats writing the exploded frame to executor disk at every scale).
    // Corpus stats aggregate with map-side partials; the doc↔corpus join
    // shuffle-hash-builds on the corpus side (the collapsed (bg, stats)
    // frame, always ≤ the posting frame; AQE bounds the per-partition
    // build). Two corpus-sized exchanges total — the minimum for a
    // per-doc score against corpus-global bigram statistics.
    def docBg = Tables.t(s, dir, "documents")
      .select($"doc_id",
        explode(graft.functions.ShingleKernels.ngramCountsText($"text", 2))
          .as("gc"))
      .select($"doc_id", $"gc.g".as("bg"), $"gc.c".as("c"))
    val corpus = docBg.groupBy($"bg")
      .agg(sum($"c").as("n_total"), count(lit(1)).as("n_docs"))
      .withColumn("w1", substring_index($"bg", " ", 1))
    val prefix = corpus.groupBy($"w1").agg(sum($"n_total").as("n_pref"))
    docBg.join(corpus.hint("SHUFFLE_HASH"), Seq("bg"))
      // the prefix table ≈ distinct first words: vocabulary-growing — no
      // broadcast hint, AQE threshold-switches
      .join(prefix, Seq("w1"))
      .groupBy($"doc_id")
      .agg(
        sum($"c").as("n_bigrams"),
        count(lit(1)).as("n_distinct_bigrams"),
        sum(when($"n_docs" === 1, 1L).otherwise(0L)).as("n_novel"),
        sum(($"c" * $"n_total").cast(big)).as("snum"),
        sum(($"c" * $"n_pref").cast(big)).as("sden"))
      .select(
        $"doc_id",
        $"n_bigrams",
        $"n_distinct_bigrams",
        $"n_novel",
        (dbl($"n_novel") / $"n_distinct_bigrams").as("novelty_ratio"),
        round(dbl($"snum") / dbl($"sden"), 6).as("support_score"))
      .orderBy($"doc_id")
  }

  val t20Sql: String =
    """WITH words AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
      |bg AS (SELECT doc_id, ws[i] || ' ' || ws[i+1] AS bg, ws[i] AS w1
      |       FROM words, UNNEST(generate_series(1, len(ws) - 1)) AS t(i)
      |       WHERE len(ws) >= 2),
      |docbg AS (SELECT doc_id, bg, MIN(w1) AS w1, COUNT(*) AS c
      |          FROM bg GROUP BY doc_id, bg),
      |corpus AS (SELECT bg, SUM(c) AS n_total, COUNT(*) AS n_docs
      |           FROM docbg GROUP BY bg),
      |pref AS (SELECT w1, SUM(c) AS n_pref FROM docbg GROUP BY w1),
      |per AS (SELECT doc_id,
      |    SUM(c) AS n_bigrams,
      |    COUNT(*) AS n_distinct_bigrams,
      |    SUM(CASE WHEN n_docs = 1 THEN 1 ELSE 0 END) AS n_novel,
      |    SUM(c * n_total) AS snum,
      |    SUM(c * n_pref) AS sden
      |  FROM docbg JOIN corpus USING (bg) JOIN pref USING (w1)
      |  GROUP BY doc_id)
      |SELECT doc_id,
      |  CAST(n_bigrams AS BIGINT) AS n_bigrams,
      |  CAST(n_distinct_bigrams AS BIGINT) AS n_distinct_bigrams,
      |  CAST(n_novel AS BIGINT) AS n_novel,
      |  CAST(n_novel AS DOUBLE) / n_distinct_bigrams AS novelty_ratio,
      |  round(CAST(snum AS DOUBLE) / CAST(sden AS DOUBLE), 6) AS support_score
      |FROM per ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- t21
  /** Readability profile — Flesch-style components in exact arithmetic:
    * words, sentences (terminator runs; floor 1 so unpunctuated docs are
    * one sentence), syllables (maximal vowel runs, floor 1 per word so
    * vowel-less tokens count once). The two classic ratios
    * (words/sentence, syllables/word) are each ONE IEEE division of two
    * exact integers — bit-identical in any engine — and the readability
    * gate cross-multiplies integers (syllables·10 ≤ words·17 ≈
    * "avg ≤ 1.7 syllables/word") so the boolean never touches a float.
    *
    * Scale (100 TB): pure narrow scan — regex counts and array filters
    * are row-local codegen, no shuffle; pipelines into any downstream
    * partitioning. The final sort is `Q.sortedNarrow` so the range
    * sampler doesn't re-run the scan. */
  def t21(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ws = words($"text")
    val nWords = size(ws)
    val nSent = greatest(regexp_count($"text", lit("[.!?]+")), lit(1))
    val vowelRuns =
      size(filter(split(lower($"text"), "[^aeiou]+"), x => x =!= ""))
    val noVowel = size(filter(ws, w => not(w.rlike("[aeiou]"))))
    val nSyll = vowelRuns + noVowel
    Tables.t(s, dir, "documents")
      .select(
        $"doc_id",
        nWords.cast(LongType).as("n_words"),
        nSent.cast(LongType).as("n_sentences"),
        nSyll.cast(LongType).as("n_syllables"),
        (dbl(nWords) / nSent).as("words_per_sentence"),
        (dbl(nSyll) / nWords).as("syllables_per_word"),
        (nSyll * 10 <= nWords * 17).as("is_readable"))
      .transform(Q.sortedNarrow(_, $"doc_id"))
  }

  val t21Sql: String =
    """SELECT doc_id,
      |  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words,
      |  CAST(greatest(len(regexp_extract_all(text, '[.!?]+')), 1) AS BIGINT)
      |    AS n_sentences,
      |  CAST(len(list_filter(string_split_regex(lower(text), '[^aeiou]+'), x -> x <> ''))
      |     + len(list_filter(string_split(text, ' '),
      |                       w -> NOT regexp_matches(w, '[aeiou]'))) AS BIGINT)
      |    AS n_syllables,
      |  CAST(len(string_split(text, ' ')) AS DOUBLE)
      |    / greatest(len(regexp_extract_all(text, '[.!?]+')), 1) AS words_per_sentence,
      |  CAST(len(list_filter(string_split_regex(lower(text), '[^aeiou]+'), x -> x <> ''))
      |     + len(list_filter(string_split(text, ' '),
      |                       w -> NOT regexp_matches(w, '[aeiou]'))) AS DOUBLE)
      |    / len(string_split(text, ' ')) AS syllables_per_word,
      |  (len(list_filter(string_split_regex(lower(text), '[^aeiou]+'), x -> x <> ''))
      |     + len(list_filter(string_split(text, ' '),
      |                       w -> NOT regexp_matches(w, '[aeiou]')))) * 10
      |    <= len(string_split(text, ' ')) * 17 AS is_readable
      |FROM documents ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- t22
  /** Per-source vocabulary profile — hapax legomena: tokens that occur
    * exactly once within their source. The hapax ratio (hapax/vocab) is
    * the classic "is this source natural text or templated boilerplate"
    * signal: templated sources re-use a tiny vocabulary (ratio → 0),
    * organic text keeps minting one-off tokens (ratio ≈ 0.4–0.6 by
    * Zipf). All counts are exact integers; the ratio is one division.
    *
    * Scale (100 TB): two-level aggregation — (source, token) counts with
    * map-side partial combine (the explode never leaves its partition
    * un-reduced), then a per-source rollup on the already-small
    * vocabulary frame. Two shuffles total, both on integer-cardinality
    * keys; no windows, no distinct-on-raw-rows. */
  def t22(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.t(s, dir, "documents")
      .select($"source", explode(words($"text")).as("tok"))
      .groupBy($"source", $"tok")
      .agg(count(lit(1)).as("n"))
      .groupBy($"source")
      .agg(
        count(lit(1)).as("vocab"),
        sum(when($"n" === 1, 1L).otherwise(0L)).as("n_hapax"),
        sum($"n").as("total_tokens"))
      .select(
        $"source", $"vocab", $"n_hapax", $"total_tokens",
        (dbl($"n_hapax") / $"vocab").as("hapax_ratio"),
        (dbl($"vocab") / $"total_tokens").as("type_token_ratio"))
      .orderBy($"source")
  }

  val t22Sql: String =
    """WITH toks AS (
      |  SELECT source, unnest(string_split(text, ' ')) AS tok FROM documents),
      |counts AS (
      |  SELECT source, tok, COUNT(*) AS n FROM toks GROUP BY source, tok)
      |SELECT source,
      |  COUNT(*) AS vocab,
      |  CAST(SUM(CASE WHEN n = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_hapax,
      |  CAST(SUM(n) AS BIGINT) AS total_tokens,
      |  CAST(SUM(CASE WHEN n = 1 THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*)
      |    AS hapax_ratio,
      |  CAST(COUNT(*) AS DOUBLE) / CAST(SUM(n) AS BIGINT) AS type_token_ratio
      |FROM counts GROUP BY source ORDER BY source""".stripMargin

  // ---------------------------------------------------------------- t23
  /** Temperature-scaled mixture apportionment — the "how many documents
    * from each source go into the training mix" planner: source weights
    * ∝ n^(1/2) (temperature T=2 sampling — upweights small sources the
    * way multilingual LM mixes do), apportioned over a fixed budget of
    * 1000 slots with the largest-remainder method.
    *
    * Every step is engine-exact: sqrt is IEEE-correctly-rounded in both
    * engines, round(·,6) pins the weight, ×1e6 + floor makes it an
    * integer ppm weight, and the apportionment is pure int64 arithmetic
    * (floor division + remainder ranking) — no decimal division, no
    * float accumulation, so the allocation hash-matches anywhere.
    *
    * Scale (100 TB): one count-aggregate over the corpus (map-side
    * partials) reduces everything to |sources| rows; the window runs on
    * that source-domain frame, which doesn't grow with data volume. */
  def t23(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    mixtureBudget(
      Tables.t(s, dir, "documents")
        .groupBy($"source").agg(count(lit(1)).as("n_docs")),
      1000L)
  }

  /** The apportionment kernel over any (source, n_docs) frame — split
    * out so the spec can pin the largest-remainder invariants (exact
    * budget sum, weight monotonicity, budget < |sources|) on hand-built
    * count tables. */
  private[graft] def mixtureBudget(countsIn: DataFrame, Budget: Long): DataFrame = {
    val s = countsIn.sparkSession
    import s.implicits._
    val counts = countsIn
      .withColumn("w_ppm",
        floor(round(sqrt($"n_docs"), 6) * 1000000L).cast(LongType))
    val wTot = Window.partitionBy(lit(1))
    val wRem = Window.partitionBy(lit(1))
      .orderBy($"rem".desc, $"source")
    counts
      .withColumn("w_sum", sum($"w_ppm").over(wTot))
      // `div` is int64 floor-division (positive operands) — NOT `/`,
      // which widens to double and can misround a near-integer quotient
      .withColumn("base", expr(s"(w_ppm * $Budget) div w_sum"))
      .withColumn("rem", $"w_ppm" * Budget - $"base" * $"w_sum")
      .withColumn("n_base", sum($"base").over(wTot))
      .withColumn("rrank", row_number().over(wRem))
      .select(
        $"source", $"n_docs", $"w_ppm",
        ($"base" + when($"rrank" <= lit(Budget) - $"n_base", 1L).otherwise(0L))
          .as("target_docs"))
      .orderBy($"source")
  }

  val t23Sql: String =
    """WITH counts AS (
      |  SELECT source, COUNT(*) AS n_docs,
      |    CAST(floor(round(sqrt(COUNT(*)), 6) * 1000000) AS BIGINT) AS w_ppm
      |  FROM documents GROUP BY source),
      |tot AS (SELECT CAST(SUM(w_ppm) AS BIGINT) AS w_sum,
      |               CAST(SUM(n_docs) AS BIGINT) AS n_total FROM counts),
      |based AS (
      |  SELECT source, n_docs, w_ppm, w_sum,
      |    (w_ppm * 1000) // w_sum AS base,
      |    w_ppm * 1000 - ((w_ppm * 1000) // w_sum) * w_sum AS rem
      |  FROM counts, tot),
      |ranked AS (
      |  SELECT *, SUM(base) OVER () AS n_base,
      |    row_number() OVER (ORDER BY rem DESC, source) AS rrank
      |  FROM based)
      |SELECT source, n_docs, w_ppm,
      |  CAST(base + CASE WHEN rrank <= 1000 - n_base THEN 1 ELSE 0 END AS BIGINT)
      |    AS target_docs
      |FROM ranked ORDER BY source""".stripMargin

  // ---------------------------------------------------------------- t24
  /** Zipf-law audit of the corpus vocabulary: the top-30 terms by
    * frequency with their rank and the normalized rank·frequency product
    * (for a Zipfian corpus, freq·rank ≈ const ≈ top frequency, so the
    * ratio hovers near 1). The rational ratio replaces the usual log-log
    * regression slope — monotone in the same diagnostic, but a single
    * IEEE division of exact integers, bit-identical across engines
    * (transcendentals are not).
    *
    * Scale (100 TB): term counting is the canonical map-side-combinable
    * aggregate; the vocabulary is sublinear but UNBOUNDED (10⁹+ distinct
    * tokens on web text), so the top-30 is orderBy+limit →
    * TakeOrderedAndProject (per-partition heaps, 30 rows to the driver),
    * never a row_number over an unpartitioned window — that would sort
    * the full term table on one partition. The rank window runs over
    * just the 30 survivors (t11 pattern; PlanAuditSpec pins it). */
  def t24(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val freq = Tables.t(s, dir, "documents")
      .select(explode(words($"text")).as("term"))
      .groupBy($"term").agg(count(lit(1)).as("freq"))
    val w = Window.orderBy($"freq".desc, $"term")
    val top = freq
      .orderBy($"freq".desc, $"term").limit(30)
      .withColumn("rank", row_number().over(w))
    val topFreq = top.agg(max($"freq").as("top_freq"))
    top.crossJoin(broadcast(topFreq))
      .select($"rank", $"term", $"freq",
        round(dbl($"freq" * $"rank") / $"top_freq", 6).as("zipf_ratio"))
      .orderBy($"rank")
  }

  val t24Sql: String =
    """WITH freq AS (
      |  SELECT w AS term, COUNT(*) AS freq
      |  FROM (SELECT string_split(text, ' ') AS ws FROM documents),
      |       UNNEST(ws) AS t(w)
      |  GROUP BY 1),
      |ranked AS (
      |  SELECT term, freq,
      |    CAST(row_number() OVER (ORDER BY freq DESC, term) AS INTEGER) AS rank
      |  FROM freq),
      |top AS (SELECT * FROM ranked WHERE rank <= 30)
      |SELECT rank, term, freq,
      |  round(CAST(freq * rank AS DOUBLE) / (SELECT MAX(freq) FROM top), 6)
      |    AS zipf_ratio
      |FROM top ORDER BY rank""".stripMargin

  // ---------------------------------------------------------------- t25
  /** Sliding-window chunking with overlap (size 8 tokens, stride 4) —
    * the context-window packing step of a RAG / pretraining pipeline.
    * Every document yields ceil(max(n-8,0)/4)+1 chunks; the final chunk
    * is the tail remainder. Chunk ids are (doc_id, chunk_no), so the
    * output is deterministic and re-chunkable incrementally per doc.
    *
    * Scale (100 TB): pure per-row expansion — explode over a computed
    * chunk-start sequence, `slice` on the token array, no shuffle at
    * all until the output sort. Chunks inherit the input's partitioning,
    * so downstream embed/dedup stages start perfectly spread. */
  /** t25 kernel on any (doc_id, text) frame — unit-tested on hand-built
    * docs across the tail-alignment edge cases. */
  private[graft] def chunkStride(docsIn: DataFrame, chunkSize: Int, stride: Int): DataFrame = {
    val s = docsIn.sparkSession
    import s.implicits._
    val docs = docsIn
      .select($"doc_id", words($"text").as("toks"))
      .withColumn("n", size($"toks"))
    Q.sortedNarrow(
      docs
        .withColumn("starts",
          sequence(lit(0),
            // last start: stride-aligned position covering the tail
            (ceil((greatest($"n" - chunkSize, lit(0))).cast(DoubleType) / stride) * stride)
              .cast(IntegerType),
            lit(stride)))
        .select($"doc_id", $"toks", $"n".as("n_tokens"),
          posexplode($"starts").as(Seq("chunk_no", "start")))
        .select($"doc_id", $"chunk_no",
          concat_ws(" ", slice($"toks", $"start" + 1, lit(chunkSize))).as("chunk_text"),
          least(lit(chunkSize), $"n_tokens" - $"start").as("chunk_len")),
      $"doc_id", $"chunk_no")
  }

  def t25(s: SparkSession, dir: String): DataFrame =
    chunkStride(Tables.t(s, dir, "documents"), 8, 4)

  val t25Sql: String =
    """WITH toks AS (
      |  SELECT doc_id, string_split(text, ' ') AS ws,
      |    len(string_split(text, ' ')) AS n FROM documents),
      |starts AS (
      |  SELECT doc_id, n, CAST(s AS INTEGER) AS start,
      |    CAST(s // 4 AS INTEGER) AS chunk_no
      |  FROM toks,
      |    UNNEST(generate_series(0,
      |      CAST(ceil(CAST(greatest(n - 8, 0) AS DOUBLE) / 4) * 4 AS BIGINT),
      |      4)) AS t(s))
      |SELECT t.doc_id, s.chunk_no,
      |  array_to_string(ws[s.start + 1 : s.start + 8], ' ') AS chunk_text,
      |  CAST(least(8, t.n - s.start) AS INTEGER) AS chunk_len
      |FROM toks t JOIN starts s ON t.doc_id = s.doc_id
      |ORDER BY t.doc_id, s.chunk_no""".stripMargin

  // ---------------------------------------------------------------- t26
  /** Heaps-law vocabulary growth curve: reduce every token to its
    * first-occurrence doc_id, bucket the doc_id domain into tenths, and
    * emit new-token and cumulative-vocabulary counts per bucket. A
    * sub-linear curve is the healthy Heaps shape; a curve that stays
    * near-linear means unbounded novel vocabulary (noise, ids,
    * boilerplate churn) and a flat tail means the corpus has stopped
    * contributing anything new — both curation signals.
    *
    * Scale (100 TB): the token→min(doc_id) reduction is one map-side-
    * combinable aggregate (the same first-seen trick as q40 on users);
    * everything after runs on ≤10 rows. All arithmetic is integer. */
  /** t26 kernel on any (doc_id, text) frame — the synthetic corpus's
    * closed ~100-word vocabulary puts every first occurrence in bucket 0
    * (the oracle gate proves that degenerate curve); VocabGrowthSpec
    * pins the multi-bucket shape on hand-built corpora. */
  private[graft] def vocabGrowth(docs: DataFrame): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    val firsts = docs
      .select($"doc_id", explode(words($"text")).as("term"))
      .groupBy($"term").agg(min($"doc_id").as("first_doc"))
    val hi = docs.agg((max($"doc_id") + 1).as("hi"))
    val wCum = Window.orderBy($"bucket")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    firsts.crossJoin(broadcast(hi))
      // int64 floor-div keeps the bucket exact for any id distribution
      .withColumn("bucket", expr("(first_doc * 10) div hi").cast(LongType))
      .groupBy($"bucket").agg(count(lit(1)).as("n_new_tokens"))
      .withColumn("cum_vocab", sum($"n_new_tokens").over(wCum))
      .select($"bucket", $"n_new_tokens", $"cum_vocab")
      .orderBy($"bucket")
  }

  def t26(s: SparkSession, dir: String): DataFrame =
    vocabGrowth(Tables.t(s, dir, "documents"))

  val t26Sql: String =
    """WITH tok AS (
      |  SELECT doc_id, w AS term
      |  FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
      |       UNNEST(ws) AS t(w)),
      |firsts AS (SELECT term, MIN(doc_id) AS first_doc FROM tok GROUP BY term),
      |hi AS (SELECT MAX(doc_id) + 1 AS hi FROM documents),
      |buckets AS (
      |  SELECT (first_doc * 10) // hi AS bucket, COUNT(*) AS n_new_tokens
      |  FROM firsts, hi GROUP BY 1)
      |SELECT bucket, n_new_tokens,
      |  CAST(SUM(n_new_tokens) OVER (ORDER BY bucket
      |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_vocab
      |FROM buckets ORDER BY bucket""".stripMargin

  // ---------------------------------------------------------------- t29
  /** Document-atomic greedy packing audit — t07's offset packing lets a
    * document span two context windows; an instruction-tuning/eval
    * pipeline usually can't (a truncated example is a corrupted one), so
    * it packs ATOMICALLY: a doc that doesn't fit opens the next window,
    * and the slack it leaves behind is paid compute. Per source stream
    * (doc_id order, 2048-token windows): windows used, total tokens,
    * wasted slack tokens and waste ppm of capacity — the report that
    * decides between atomic packing, offset packing, or a bigger
    * context window.
    *
    * This fold is INHERENTLY SEQUENTIAL per stream — each placement
    * depends on the previous window's fill, which no window function or
    * aggregate expresses — so the Spark form is the secondary-sort
    * idiom: repartition by stream, sortWithinPartitions by (stream,
    * doc_id), one O(1)-memory partition-local fold (`mapPartitions` as
    * the documented last resort, used exactly where declarative ops
    * cannot go; the oracle is the equivalent recursive CTE). Oversized
    * docs (> 2048 tokens) occupy a window alone and count no slack —
    * both engines implement the same rule.
    *
    * Scale (100 TB): parallelism unit = stream, same as t07 (pre-shard
    * huge sources on (source, day) for finer grain); the fold holds one
    * window's state, never the stream. */
  /** t29's fold on any (doc_id, source, tokens) frame — split out so the
    * spec can pin the atomic placement rules (exact fit, overflow-opens-
    * window, oversized-doc-alone) on hand-built streams. */
  private[graft] def atomicPack(
      toks: org.apache.spark.sql.Dataset[(Long, String, Long)],
      windowTokens: Long = 2048L): DataFrame = {
    val s = toks.sparkSession
    import s.implicits._
    val W = windowTokens
    toks
      // positional rename: the tuple encoder's schema keeps whatever
      // names the caller's frame had (_1/_2 from a toDS, doc_id/source
      // from the documents projection) — normalize before keying on them
      .toDF("doc_id", "source", "tokens")
      .repartition($"source")
      .sortWithinPartitions($"source", $"doc_id")
      .as[(Long, String, Long)]
      .mapPartitions { it =>
        val out = scala.collection.mutable.ArrayBuffer.empty[(String, Long, Long, Long)]
        var cur: String = null
        var win = 0L; var fill = 0L; var waste = 0L; var total = 0L
        def flush(): Unit = if (cur != null) {
          waste += math.max(0L, W - fill)
          out += ((cur, win, total, waste))
        }
        it.foreach { case (_, src, t) =>
          if (src != cur) {
            flush(); cur = src; win = 1L; fill = t; waste = 0L; total = t
          } else {
            total += t
            if (fill + t <= W) fill += t
            else { waste += math.max(0L, W - fill); win += 1L; fill = t }
          }
        }
        flush()
        out.iterator
      }.toDF("source", "n_windows", "total_tokens", "waste_tokens")
      .select($"source", $"n_windows", $"total_tokens", $"waste_tokens",
        expr(s"(waste_tokens * 1000000) div (n_windows * $W)").as("waste_ppm"))
      .orderBy($"source")
  }

  def t29(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    atomicPack(
      Tables.t(s, dir, "documents")
        .select($"doc_id", $"source",
          ceil(dbl($"n_chars") / 4).cast(LongType).as("tokens"))
        .as[(Long, String, Long)])
  }

  val t29Sql: String =
    """WITH RECURSIVE t AS (
      |  SELECT doc_id, source,
      |    CAST(ceil(CAST(n_chars AS DOUBLE) / 4) AS BIGINT) AS tokens,
      |    row_number() OVER (PARTITION BY source ORDER BY doc_id) AS rn
      |  FROM documents),
      |pack AS (
      |  SELECT source, rn, tokens, tokens AS fill,
      |    CAST(1 AS BIGINT) AS win, CAST(0 AS BIGINT) AS waste
      |  FROM t WHERE rn = 1
      |  UNION ALL
      |  SELECT t.source, t.rn, t.tokens,
      |    CASE WHEN p.fill + t.tokens <= 2048 THEN p.fill + t.tokens
      |         ELSE t.tokens END,
      |    CASE WHEN p.fill + t.tokens <= 2048 THEN p.win ELSE p.win + 1 END,
      |    CASE WHEN p.fill + t.tokens <= 2048 THEN p.waste
      |         ELSE p.waste + greatest(0, 2048 - p.fill) END
      |  FROM pack p JOIN t ON t.source = p.source AND t.rn = p.rn + 1),
      |last AS (
      |  SELECT source, fill, win, waste,
      |    row_number() OVER (PARTITION BY source ORDER BY rn DESC) AS rr
      |  FROM pack),
      |fin AS (
      |  SELECT source, win AS n_windows,
      |    waste + greatest(0, 2048 - fill) AS waste_tokens
      |  FROM last WHERE rr = 1),
      |tot AS (SELECT source, CAST(SUM(tokens) AS BIGINT) AS total_tokens
      |        FROM t GROUP BY source)
      |SELECT f.source, f.n_windows, t.total_tokens,
      |  CAST(f.waste_tokens AS BIGINT) AS waste_tokens,
      |  CAST((f.waste_tokens * 1000000) // (f.n_windows * 2048) AS BIGINT)
      |    AS waste_ppm
      |FROM fin f JOIN tot t ON f.source = t.source ORDER BY f.source""".stripMargin

  // ---------------------------------------------------------------- t28
  /** Tokenizer fertility by language: subword pieces per whitespace word
    * (t05's BPE-ish pre-tokenizer over t01's word count) — the
    * multilingual-mix audit read before setting per-language sampling
    * weights: a language at 2× the fertility of another consumes 2× the
    * context window per word, so token budgets set on raw word counts
    * silently under-train it. Fertility is emitted in exact ppm
    * (pieces·10⁶ div words) plus one rounded division for display —
    * integer moments, engine-exact.
    *
    * Scale (100 TB): one narrow regex/size pass per doc (no explode —
    * counts come off the piece array), then a map-side-combinable
    * per-language aggregate of two longs. Nothing downstream grows with
    * the corpus. */
  def t28(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val pieces = expr(s"regexp_extract_all(text, '$piece', 0)")
    Tables.t(s, dir, "documents")
      .select($"lang",
        size(pieces).cast(LongType).as("np"),
        size(words($"text")).cast(LongType).as("nw"))
      .groupBy($"lang")
      .agg(
        count(lit(1)).as("n_docs"),
        sum($"np").as("n_pieces"),
        sum($"nw").as("n_words"))
      .select(
        $"lang", $"n_docs", $"n_pieces", $"n_words",
        expr("(n_pieces * 1000000) div n_words").as("fertility_ppm"),
        round(dbl($"n_pieces") / dbl($"n_words"), 6).as("pieces_per_word"))
      .orderBy($"lang")
  }

  val t28Sql: String =
    s"""WITH per AS (
       |  SELECT lang,
       |    CAST(len(regexp_extract_all(text, '$piece')) AS BIGINT) AS np,
       |    CAST(len(string_split(text, ' ')) AS BIGINT) AS nw
       |  FROM documents)
       |SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
       |  CAST(SUM(np) AS BIGINT) AS n_pieces,
       |  CAST(SUM(nw) AS BIGINT) AS n_words,
       |  CAST((SUM(np) * 1000000) // SUM(nw) AS BIGINT) AS fertility_ppm,
       |  round(CAST(SUM(np) AS DOUBLE) / CAST(SUM(nw) AS DOUBLE), 6)
       |    AS pieces_per_word
       |FROM per GROUP BY lang ORDER BY lang""".stripMargin

  // ---------------------------------------------------------------- t27
  /** Per-source lexical diversity: type-token ratio and Gini-Simpson
    * index (1 − Σp²) over the unigram distribution — the "is this
    * source a template mill?" screen run before mixture weighting (a
    * source whose million documents reuse a few hundred phrases scores
    * near a single boilerplate page, whatever its raw token count).
    * Simpson instead of Shannon entropy ON PURPOSE: Σcnt² is an exact
    * integer moment, so the index needs no transcendental functions —
    * 1 − Σc²/T² computed as (T² − Σc²)/T² is ONE IEEE division of two
    * exact integers, bit-identical in any engine (ln/log2 are not
    * correctly-rounded and differ by ulps across libms; cf. t10's
    * rational IDF).
    *
    * Scale (100 TB): one explode → (source, term) count — map-side
    * combinable, output ≈ |sources|·|vocab| — then a per-source
    * aggregate in DECIMAL(38,0) (Σc² of per-term BIGINT counts can pass
    * 2⁶³ on a web-scale source; decimal keeps it exact). No joins, no
    * broadcast, two shuffles total. */
  def t27(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val dec0 = (c: Column) => c.cast(DecimalType(38, 0))
    Tables.t(s, dir, "documents")
      .select($"source", explode(words($"text")).as("term"))
      .groupBy($"source", $"term").agg(count(lit(1)).as("cnt"))
      .groupBy($"source")
      .agg(
        sum($"cnt").as("total_terms"),
        count(lit(1)).as("distinct_terms"),
        sum(dec0($"cnt") * dec0($"cnt")).as("sumsq"))
      .select(
        $"source", $"total_terms", $"distinct_terms",
        round(dbl($"distinct_terms") / dbl($"total_terms"), 6).as("ttr"),
        round(
          (dec0($"total_terms") * dec0($"total_terms") - $"sumsq").cast(DoubleType) /
            (dec0($"total_terms") * dec0($"total_terms")).cast(DoubleType), 6)
          .as("simpson"))
      .orderBy($"source")
  }

  val t27Sql: String =
    """WITH tok AS (
      |  SELECT source, w AS term
      |  FROM (SELECT source, string_split(text, ' ') AS ws FROM documents),
      |       UNNEST(ws) AS t(w)),
      |tf AS (SELECT source, term, CAST(COUNT(*) AS BIGINT) AS cnt
      |       FROM tok GROUP BY source, term),
      |agg AS (
      |  SELECT source,
      |    CAST(SUM(cnt) AS HUGEINT) AS total_terms,
      |    CAST(COUNT(*) AS BIGINT) AS distinct_terms,
      |    SUM(CAST(cnt AS HUGEINT) * cnt) AS sumsq
      |  FROM tf GROUP BY source)
      |SELECT source,
      |  CAST(total_terms AS BIGINT) AS total_terms, distinct_terms,
      |  round(CAST(distinct_terms AS DOUBLE) / CAST(total_terms AS DOUBLE), 6)
      |    AS ttr,
      |  round(CAST(total_terms * total_terms - sumsq AS DOUBLE) /
      |        CAST(total_terms * total_terms AS DOUBLE), 6) AS simpson
      |FROM agg ORDER BY source""".stripMargin

  // ---------------------------------------------------------------- t30
  /** Language-label agreement audit: t03's marker-score detector replayed
    * against the LABELED `lang` column, aggregated into a long-form
    * confusion matrix — (labeled, predicted, count, share). The
    * label-vs-detector disagreement rate is the standard mislabel meter
    * run before trusting per-language mixture weights (t23/t28 key on
    * `lang`; a 30% en→fr confusion silently corrupts both).
    *
    * Determinism: counts are integers and share_ppm is int64 floor
    * division of two counts — engine-exact, no FP ratio. The argmax
    * tiebreak is t03's fixed priority chain, so pred is a pure function
    * of the text.
    *
    * Scale (100 TB): marker scoring is codegen'd array arithmetic in the
    * scan stage; the aggregate is map-side combinable down to
    * |langs|² ≤ 25 rows per partition, then one tiny exchange. The
    * per-label total rides a |langs|²-row window — no second pass over
    * the corpus, no joins. */
  def t30(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ws = words($"text")
    def score(ms: Seq[String]): Column =
      size(filter(ws, w => w.isin(ms: _*))).cast(LongType)
    val langs = markers.map(_._1)
    val pred = langs.init.zipWithIndex.foldRight(lit(langs.last)) {
      case ((l, i), elsEx) =>
        val ge = langs.drop(i + 1)
          .map(o => col(s"score_$l") >= col(s"score_$o"))
          .reduce(_ && _)
        when(ge, lit(l)).otherwise(elsEx)
    }
    val wLab = Window.partitionBy($"labeled_lang")
    Tables.t(s, dir, "documents")
      .select(
        $"lang".as("labeled_lang") +:
          markers.map { case (l, ms) => score(ms).as(s"score_$l") }: _*)
      .withColumn("pred_lang", pred)
      .groupBy($"labeled_lang", $"pred_lang")
      .agg(count(lit(1)).as("n_docs"))
      .withColumn("n_labeled", sum($"n_docs").over(wLab))
      .select(
        $"labeled_lang", $"pred_lang", $"n_docs",
        expr("(n_docs * 1000000) div n_labeled").as("share_ppm"),
        ($"labeled_lang" === $"pred_lang").as("is_agreement"))
      .orderBy($"labeled_lang", $"pred_lang")
  }

  val t30Sql: String = {
    def cnt(ms: Seq[String]) = {
      val set = ms.map(w => s"'$w'").mkString(", ")
      s"CAST(len(list_filter(string_split(text, ' '), w -> w IN ($set))) AS BIGINT)"
    }
    val scores = markers
      .map { case (l, ms) => s"      ${cnt(ms)} AS score_$l" }.mkString(",\n")
    val langs = markers.map(_._1)
    val cases = langs.init.zipWithIndex.map { case (l, i) =>
      val conds = langs.drop(i + 1).map(o => s"score_$l >= score_$o").mkString(" AND ")
      s"WHEN $conds THEN '$l'"
    }.mkString(" ")
    s"""WITH scored AS (
       |  SELECT labeled_lang, CASE $cases ELSE '${langs.last}' END AS pred_lang
       |  FROM (
       |    SELECT lang AS labeled_lang,
       |$scores
       |    FROM documents)),
       |cm AS (
       |  SELECT labeled_lang, pred_lang, CAST(COUNT(*) AS BIGINT) AS n_docs
       |  FROM scored GROUP BY 1, 2)
       |SELECT labeled_lang, pred_lang, n_docs,
       |  (n_docs * 1000000)
       |    // CAST(SUM(n_docs) OVER (PARTITION BY labeled_lang) AS BIGINT)
       |    AS share_ppm,
       |  labeled_lang = pred_lang AS is_agreement
       |FROM cm ORDER BY labeled_lang, pred_lang""".stripMargin
  }

  // ---------------------------------------------------------------- t31
  /** Cross-document n-gram novelty per source — the "how much of this
    * source is new text" number a mixture designer reads next to d11's
    * overlap matrix: for every distinct (doc, 3-gram) occurrence, is the
    * gram unique to that one document corpus-wide (df = 1)? High novelty
    * = original prose; low novelty = boilerplate and syndication (the
    * RefinedWeb-style duplicated-n-gram diagnostic, aggregated to the
    * source grain where mixture decisions are made).
    *
    * Determinism: counts are exact integers; the fraction is a single
    * guarded division rounded via micro6 — engine-exact.
    *
    * Scale (100 TB): TWO exchanges total. The gram-space groupBy is the
    * same inverted-index exchange every shingle op pays, but with
    * fully-combinable partials (count + min) instead of posting lists —
    * a billion-df gram still collapses map-side, so hot-gram skew cannot
    * concentrate (no CappedCollect needed, no τ cut). The df=1 survivors
    * carry their one source inline (`min(source)` IS the source when
    * df = 1), so novelty aggregates straight to the ≤ |sources| grain
    * with NO join back to the corpus — the only join is the final
    * sources×sources merge of two post-aggregation frames. */
  def t31(s: SparkSession, dir: String): DataFrame =
    ngramNovelty(Tables.t(s, dir, "documents"))

  /** t31's kernel over any (source, text) frame — split out so the spec
    * can pin the df=1 semantics on a planted corpus (a duplicated doc
    * pair contributes zero novel grams; a unique doc is 100% novel). */
  private[graft] def ngramNovelty(docs: DataFrame): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    val grams = docs
      .select($"source",
        graft.functions.ShingleKernels.shinglesText($"text", 3).as("arr"))
      .filter(size($"arr") > 0)
    val totals = grams.groupBy($"source")
      .agg(count(lit(1)).as("n_docs"),
        sum(size($"arr").cast(LongType)).as("n_doc_grams"))
    val novel = grams
      .select($"source", explode($"arr").as("g"))
      .groupBy($"g")
      .agg(count(lit(1)).as("df"), min($"source").as("src1"))
      .filter($"df" === 1)
      .groupBy($"src1".as("source"))
      .agg(count(lit(1)).as("n_novel"))
    totals.join(novel, Seq("source"), "left")
      .select($"source", $"n_docs", $"n_doc_grams",
        coalesce($"n_novel", lit(0L)).as("n_novel"),
        micro6(dbl(coalesce($"n_novel", lit(0L))) / $"n_doc_grams")
          .as("novel_frac"))
      .orderBy($"source")
  }

  val t31Sql: String =
    """WITH g AS (
      |  SELECT DISTINCT doc_id, source, ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS s
      |  FROM (SELECT doc_id, source, string_split(text, ' ') AS ws FROM documents),
      |       UNNEST(generate_series(1, len(ws) - 2)) AS t(i)),
      |totals AS (
      |  SELECT source, COUNT(DISTINCT doc_id) AS n_docs,
      |    COUNT(*) AS n_doc_grams
      |  FROM g GROUP BY source),
      |novel AS (
      |  SELECT src1 AS source, COUNT(*) AS n_novel FROM (
      |    SELECT s, MIN(source) AS src1 FROM g
      |    GROUP BY s HAVING COUNT(*) = 1)
      |  GROUP BY src1)
      |SELECT t.source, t.n_docs, t.n_doc_grams,
      |  CAST(COALESCE(n.n_novel, 0) AS BIGINT) AS n_novel,
      |  CAST(round(CAST(COALESCE(n.n_novel, 0) AS DOUBLE) / t.n_doc_grams * 1e6)
      |    AS BIGINT) / 1e6 AS novel_frac
      |FROM totals t LEFT JOIN novel n ON t.source = n.source
      |ORDER BY t.source""".stripMargin

  // ---------------------------------------------------------------- t32
  /** Out-of-vocabulary profile per source against the corpus top-1000
    * vocabulary — the transcendental-free core of the CCNet-style LM
    * quality filter: a source whose token mass falls mostly outside the
    * head vocabulary is boilerplate, code, another language, or noise —
    * exactly the mass an n-gram LM would assign high perplexity — while
    * the OOV TYPE count separates "rare words everywhere" (organic long
    * tail) from "one weird token repeated" (template junk).
    *
    * Determinism: the vocabulary cut is (count desc, token) — total
    * order at the boundary; all measures are exact integers and the ppm
    * is floor division.
    *
    * Scale (100 TB): tokenization is the fused 1-gram kernel (pure scan
    * work); the corpus collapses ONCE to the (source, token) grain —
    * vocab-×-sources sized, ≪ corpus — which is lazily checkpointed and
    * feeds both the top-1000 cut (map-side partial top-k) and the
    * profile join; the 1000-row vocabulary broadcasts. No second corpus
    * scan, no token-instance shuffle. */
  def t32(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val st = Tables.t(s, dir, "documents")
      .select($"source",
        explode(graft.functions.ShingleKernels.ngramCountsText($"text", 1)).as("gc"))
      .select($"source", $"gc.g".as("tok"), $"gc.c".as("c"))
      .groupBy($"source", $"tok")
      .agg(sum($"c").as("c"))
      // consumed by the vocab cut AND the profile join; the recompute
      // would cross the (source, tok) exchange → checkpoint (SURVEY §6)
      .localCheckpoint(eager = false)
    val vocab = st.groupBy($"tok").agg(sum($"c").as("n"))
      .orderBy($"n".desc, $"tok").limit(1000)
      .select($"tok".as("vtok"))
    st.join(broadcast(vocab), $"tok" === $"vtok", "left")
      .groupBy($"source")
      .agg(
        sum($"c").as("n_tokens"),
        coalesce(sum(when($"vtok".isNull, $"c")), lit(0L)).as("n_oov"),
        countDistinct(when($"vtok".isNull, $"tok")).as("n_oov_types"))
      .select($"source", $"n_tokens", $"n_oov", $"n_oov_types",
        expr("(1000000 * n_oov) div n_tokens").as("oov_ppm"))
      .orderBy($"source")
  }

  val t32Sql: String =
    """WITH words AS (SELECT source, string_split(text, ' ') AS ws FROM documents),
      |tok AS (SELECT source, ws[i] AS tok
      |        FROM words, UNNEST(generate_series(1, len(ws))) AS t(i)),
      |st AS (SELECT source, tok, CAST(COUNT(*) AS BIGINT) AS c
      |       FROM tok GROUP BY 1, 2),
      |vocab AS (SELECT tok AS vtok FROM (
      |    SELECT tok, SUM(c) AS n FROM st GROUP BY tok
      |    ORDER BY n DESC, tok LIMIT 1000)),
      |prof AS (
      |  SELECT source, SUM(c) AS n_tokens,
      |    COALESCE(SUM(CASE WHEN vtok IS NULL THEN c END), 0) AS n_oov,
      |    COUNT(DISTINCT CASE WHEN vtok IS NULL THEN tok END) AS n_oov_types
      |  FROM st LEFT JOIN vocab ON tok = vtok GROUP BY source)
      |SELECT source, CAST(n_tokens AS BIGINT) AS n_tokens,
      |  CAST(n_oov AS BIGINT) AS n_oov,
      |  CAST(n_oov_types AS BIGINT) AS n_oov_types,
      |  CAST((1000000 * n_oov) // n_tokens AS BIGINT) AS oov_ppm
      |FROM prof ORDER BY source""".stripMargin

  // ---------------------------------------------------------------- t33
  /** Per-source token-distribution drift vs the corpus — total-variation
    * distance over the top-1000 vocabulary plus one OOV bucket, in ppm.
    * The mixture-health meter read next to t32: OOV rate says how much
    * mass is OUTSIDE the head vocabulary; this says how differently a
    * source USES the head itself (a source can be 0% OOV yet have a
    * token distribution nothing like the corpus — template mills do).
    * TV = ½·Σ|p_i − q_i| is the rational-arithmetic divergence — exact
    * where KL needs logs — and bounds every downstream classifier's
    * distinguishability (Le Cam).
    *
    * Determinism: cross-multiplied exact integers throughout —
    * |c_i·T − C_i·T_s| summed in DECIMAL(38,0), one floor division to
    * ppm. The vocabulary cut is t32's (count desc, token) total order.
    *
    * Scale (100 TB): the corpus collapses once to (source, token) (t32's
    * checkpointed frame would be shareable in a fused pipeline); the
    * bucketed frame is ≤ |sources|·1001 rows, the marginals are
    * broadcast-sized, and the dense grid — which the absolute difference
    * needs (a source MISSING a vocab token still contributes C_i·T_s) —
    * is |sources|·1001 via a broadcast cross join. Nothing downstream of
    * the first collapse grows with the corpus. */
  def t33(s: SparkSession, dir: String): DataFrame =
    sourceDrift(Tables.t(s, dir, "documents"))

  /** t33's kernel over any (source, text) frame — split out so the spec
    * can pin the TV arithmetic on constructed corpora (identical
    * distributions → 0; disjoint vocabularies → the share bound). */
  private[graft] def sourceDrift(docs: DataFrame): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    val st = docs
      .select($"source",
        explode(graft.functions.ShingleKernels.ngramCountsText($"text", 1)).as("gc"))
      .select($"source", $"gc.g".as("tok"), $"gc.c".as("c"))
      .groupBy($"source", $"tok")
      .agg(sum($"c").as("c"))
      .localCheckpoint(eager = false) // vocab cut + bucketing share it
    val vocab = st.groupBy($"tok").agg(sum($"c").as("n"))
      .orderBy($"n".desc, $"tok").limit(1000)
      .select($"tok".as("vtok"))
    // " OOV " contains a space, which no space-split token can — the
    // bucket key cannot collide with a real vocabulary entry
    val keyed = st.join(broadcast(vocab), $"tok" === $"vtok", "left")
      .select($"source", coalesce($"vtok", lit(" OOV ")).as("vkey"), $"c")
      .groupBy($"source", $"vkey").agg(sum($"c").as("c"))
      .localCheckpoint(eager = false) // marginals + grid share it
    val srcTot = keyed.groupBy($"source").agg(sum($"c").as("ts"))
    val keyTot = keyed.groupBy($"vkey").agg(sum($"c").as("ck"))
    val tot = srcTot.agg(sum($"ts").as("t"))
    val dec0 = (c: Column) => c.cast(DecimalType(38, 0))
    srcTot.crossJoin(broadcast(keyTot))
      .join(keyed, Seq("source", "vkey"), "left")
      .crossJoin(broadcast(tot))
      .select($"source", $"ts", $"t",
        abs(dec0(coalesce($"c", lit(0L))) * dec0($"t") -
          dec0($"ck") * dec0($"ts")).as("term"))
      .groupBy($"source", $"ts", $"t")
      .agg(sum($"term").as("sterm"))
      .select($"source", $"ts".as("n_tokens"),
        expr("(1000000 * sterm) div (2 * cast(ts as decimal(38,0)) * cast(t as decimal(38,0)))")
          .cast(LongType).as("tv_ppm"))
      .orderBy($"source")
  }

  val t33Sql: String =
    """WITH words AS (SELECT source, string_split(text, ' ') AS ws FROM documents),
      |tok AS (SELECT source, ws[i] AS tok
      |        FROM words, UNNEST(generate_series(1, len(ws))) AS t(i)),
      |st AS (SELECT source, tok, CAST(COUNT(*) AS BIGINT) AS c
      |       FROM tok GROUP BY 1, 2),
      |vocab AS (SELECT tok AS vtok FROM (
      |    SELECT tok, SUM(c) AS n FROM st GROUP BY tok
      |    ORDER BY n DESC, tok LIMIT 1000)),
      |keyed AS (SELECT source, COALESCE(vtok, ' OOV ') AS vkey, SUM(c) AS c
      |          FROM st LEFT JOIN vocab ON tok = vtok GROUP BY 1, 2),
      |srctot AS (SELECT source, SUM(c) AS ts FROM keyed GROUP BY 1),
      |keytot AS (SELECT vkey, SUM(c) AS ck FROM keyed GROUP BY 1),
      |tot AS (SELECT SUM(ts) AS t FROM srctot),
      |grid AS (SELECT s.source, s.ts, k.vkey, k.ck, COALESCE(x.c, 0) AS c
      |  FROM srctot s CROSS JOIN keytot k
      |  LEFT JOIN keyed x ON x.source = s.source AND x.vkey = k.vkey),
      |terms AS (SELECT source, ts,
      |    abs(CAST(c AS HUGEINT) * (SELECT t FROM tot)
      |      - CAST(ck AS HUGEINT) * ts) AS term
      |  FROM grid)
      |SELECT source, CAST(ts AS BIGINT) AS n_tokens,
      |  CAST((1000000 * SUM(term))
      |    // (2 * CAST(ts AS HUGEINT) * (SELECT t FROM tot)) AS BIGINT) AS tv_ppm
      |FROM terms GROUP BY source, ts ORDER BY source""".stripMargin

  // ---------------------------------------------------------------- t34
  /** Exact-dedup token-loss accounting per source — the MASS version of
    * d14's doc-count funnel: how many TOKENS does exact dedup remove
    * from each source, with the d07 survivor rule (lowest doc_id in
    * each md5 group is kept, every other copy is removed). Mixture
    * weights (t15/t23) and epoch math are set in tokens, not documents
    * — a source that loses 40% of its token mass to dedup needs its
    * sampling temperature recomputed even if its doc count barely moves
    * (long boilerplate duplicates hit mass first).
    *
    * Determinism: pure exact hashing, integer token counts, floor-div
    * ppm; the keeper choice is MIN(doc_id) — total.
    *
    * Scale (100 TB): the exchange carries (h, doc_id, source, n_tok) —
    * 16-byte keys plus three integers, never text (d01's argument); the
    * group stats and the flag join shuffle on the same h key, and the
    * final per-source rollup is map-side combinable. The corpus is
    * scanned twice (pure scan-side md5 + token count — cheaper than a
    * checkpoint barrier, SURVEY §6's rule). */
  def t34(s: SparkSession, dir: String): DataFrame =
    dedupTokenLoss(Tables.t(s, dir, "documents"))

  /** t34's kernel over any (doc_id, source, text) frame — split out so
    * the spec can pin the keeper rule and the mass arithmetic. */
  private[graft] def dedupTokenLoss(docsIn: DataFrame): DataFrame = {
    val s = docsIn.sparkSession
    import s.implicits._
    val docs = docsIn
      .select($"doc_id", $"source",
        md5($"text".cast(BinaryType)).as("h"),
        size(words($"text")).cast(LongType).as("n_tok"))
    val groups = docs.groupBy($"h")
      .agg(count(lit(1)).as("cnt"), min($"doc_id").as("keeper"))
    docs.join(groups, Seq("h"))
      .select($"source", $"n_tok",
        ($"cnt" > 1 && $"doc_id" =!= $"keeper").cast(LongType).as("removed"))
      .groupBy($"source")
      .agg(
        sum($"n_tok").as("n_tokens"),
        sum($"removed").as("n_docs_removed"),
        coalesce(sum(when($"removed" === 1, $"n_tok")), lit(0L))
          .as("n_tokens_removed"))
      .select($"source", $"n_tokens", $"n_docs_removed", $"n_tokens_removed",
        expr("(1000000 * n_tokens_removed) div n_tokens").as("removed_ppm"))
      .orderBy($"source")
  }

  val t34Sql: String =
    """WITH d AS (SELECT doc_id, source, md5(text) AS h,
      |    len(string_split(text, ' ')) AS n_tok FROM documents),
      |g AS (SELECT h, COUNT(*) AS cnt, MIN(doc_id) AS keeper
      |      FROM d GROUP BY h),
      |f AS (SELECT d.source, CAST(d.n_tok AS BIGINT) AS n_tok,
      |    CASE WHEN g.cnt > 1 AND d.doc_id <> g.keeper THEN 1 ELSE 0 END
      |      AS removed
      |  FROM d JOIN g ON d.h = g.h)
      |SELECT source, CAST(SUM(n_tok) AS BIGINT) AS n_tokens,
      |  CAST(SUM(removed) AS BIGINT) AS n_docs_removed,
      |  CAST(COALESCE(SUM(CASE WHEN removed = 1 THEN n_tok END), 0)
      |    AS BIGINT) AS n_tokens_removed,
      |  CAST((1000000 * COALESCE(SUM(CASE WHEN removed = 1 THEN n_tok END), 0))
      |    // SUM(n_tok) AS BIGINT) AS removed_ppm
      |FROM f GROUP BY source ORDER BY source""".stripMargin

  // ---------------------------------------------------------------- t35
  /** Corpus-trained unigram surprisal profile — the perplexity-proxy
    * quality signal every LLM curation pipeline runs (docs dominated by
    * rare tokens are noise/code/garble candidates; docs of only the
    * commonest tokens are boilerplate candidates). A unigram LM is
    * "trained" on the corpus itself (token → corpus frequency), then each
    * doc is scored against it: per-token commonness in integer ppm of
    * corpus mass (`(1e6·cnt) div total` — the rational form of -log p,
    * monotone in the same ordering; transcendental log is NOT
    * cross-engine exact, integer floor-div is), summed exactly per doc.
    * `n_rare_tokens` counts tokens under [[RareCppm]] (< 1% of corpus
    * mass — tuned to the synthetic corpus's ~31-term vocabulary so the
    * tail actually fires; a real web-scale vocabulary would use a far
    * smaller cutoff) — the tail mass a rare-token filter would flag.
    *
    * Scale (100 TB): the LM table is vocabulary-sized (≪ corpus) and
    * broadcast — docs are scored in their scan partitions; the only
    * corpus-wide exchanges are the vocab count (map-side combinable on
    * term) and the per-doc rollup on doc_id (perfectly spread). The ppm
    * numerator 1e6·cnt stays < 2^63 up to ~9e12-token vocab entries; a
    * larger corpus drops the multiplier to 1e3 (same ordering, coarser
    * quantization) — noted here so the knob is explicit. */
  val RareCppm = 10000L

  def t35(s: SparkSession, dir: String): DataFrame =
    surprisalProfile(Tables.t(s, dir, "documents"))

  /** The "trained" unigram LM of a corpus: (term, cppm) where cppm is the
    * term's integer share of corpus token mass in ppm. Vocabulary-sized
    * output — the broadcastable artifact t35's scoring
    * ([[surprisalProfile]]) joins against. */
  private[graft] def unigramLm(docsIn: DataFrame): DataFrame = {
    val s = docsIn.sparkSession
    import s.implicits._
    val vocab = docsIn.select(explode(words($"text")).as("term"))
      .groupBy($"term").agg(count(lit(1)).as("cnt"))
    val total = vocab.agg(sum($"cnt").as("total"))
    vocab.crossJoin(broadcast(total))
      .select($"term", expr("(1000000 * cnt) div total").as("cppm"))
  }

  /** t35 kernel over any (doc_id, text) frame — split out so the spec can
    * pin the scoring on a hand-built corpus (known counts → known ppm). */
  private[graft] def surprisalProfile(docsIn: DataFrame): DataFrame = {
    val s = docsIn.sparkSession
    import s.implicits._
    val tok = docsIn.select($"doc_id", explode(words($"text")).as("term"))
    val lm = unigramLm(docsIn)
    // the LM is vocabulary-sized (Heaps-growing): no broadcast hint, AQE
    // broadcasts while it fits and shuffles on term beyond — a deployed
    // gate would also prune the LM to a top-K artifact
    tok.join(lm, Seq("term"))
      .groupBy($"doc_id")
      .agg(
        count(lit(1)).as("n_tokens"),
        sum($"cppm").as("commonness_sum"),
        sum(when($"cppm" < RareCppm, 1L).otherwise(0L)).as("n_rare_tokens"))
      .withColumn("mean_cppm", dbl($"commonness_sum") / $"n_tokens")
      .select($"doc_id", $"n_tokens", $"commonness_sum", $"mean_cppm",
        $"n_rare_tokens")
      .orderBy($"doc_id")
  }

  val t35Sql: String =
    s"""WITH tok AS (
       |  SELECT doc_id, unnest(string_split(text, ' ')) AS term
       |  FROM documents),
       |v AS (SELECT term, COUNT(*) AS cnt FROM tok GROUP BY term),
       |tot AS (SELECT CAST(SUM(cnt) AS BIGINT) AS total FROM v),
       |lm AS (SELECT term, CAST((1000000 * cnt) // total AS BIGINT) AS cppm
       |       FROM v, tot),
       |d AS (
       |  SELECT t.doc_id, COUNT(*) AS n, SUM(lm.cppm) AS csum,
       |    SUM(CASE WHEN lm.cppm < $RareCppm THEN 1 ELSE 0 END) AS nr
       |  FROM tok t JOIN lm ON t.term = lm.term GROUP BY t.doc_id)
       |SELECT doc_id, CAST(n AS BIGINT) AS n_tokens,
       |  CAST(csum AS BIGINT) AS commonness_sum,
       |  CAST(csum AS DOUBLE) / n AS mean_cppm,
       |  CAST(nr AS BIGINT) AS n_rare_tokens
       |FROM d ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- t36
  /** Feature-hashed bag-of-words sketch — the "hashing trick"
    * (Weinberger et al., ICML 2009) that turns unbounded vocabulary into
    * a fixed-width vector with NO dictionary: each token is bucketed by
    * `rolling_hash(w) mod 16` and the per-doc bucket-count vector is
    * summarized (nnz, exact integer ‖v‖², modal bucket + its count).
    * This is the text→vector bridge of the similarity family: the same
    * vector a streaming featurizer would emit with zero coordination —
    * no vocab broadcast, no OOV, stable across shards by construction.
    *
    * Determinism: the bucket hash is the t04 polynomial fold (pinned
    * cross-engine), counts and ‖v‖² are integers, and the modal bucket
    * takes the FIRST maximal bucket (array_position/list_position —
    * lowest index), a total tiebreak.
    *
    * Scale (100 TB): pure narrow per-row work — tokenize, hash, and
    * count in one projection; no explode, no exchange (vs the dictionary
    * approach's corpus-wide vocab shuffle + broadcast). The 16-bucket
    * width is the knob: production uses 2¹⁸⁺ buckets and emits the
    * sparse (bucket, count) pairs instead of the dense array; the
    * summary row per doc is what this op pins. */
  val HashBuckets = 16

  def t36(s: SparkSession, dir: String): DataFrame =
    hashedBow(Tables.t(s, dir, "documents"))

  /** t36's kernel over any (doc_id, text) frame — split out so the spec
    * can pin bucketing, norm and the first-maximal tiebreak. */
  private[graft] def hashedBow(docsIn: DataFrame): DataFrame = {
    val s = docsIn.sparkSession
    import s.implicits._
    // fused kernel: tokenize+hash+bucket+summarize in one compiled walk
    // (the equivalent HOF chain pays O(buckets·len) interpreted lambdas)
    docsIn
      .select($"doc_id",
        graft.functions.HashedBow($"text", HashBuckets).as("bow"))
      .select($"doc_id", $"bow.nnz".as("nnz"), $"bow.l2sq".as("l2sq"),
        $"bow.max_cnt".as("max_cnt"), $"bow.top_bucket".as("top_bucket"))
      .transform(Q.sortedNarrow(_, $"doc_id"))
  }

  val t36Sql: String =
    s"""WITH b AS (
       |  SELECT doc_id, list_transform(string_split(text, ' '), w ->
       |    list_reduce(
       |      list_prepend(CAST(0 AS BIGINT),
       |        list_transform(string_split(w, ''), c -> CAST(ascii(c) AS BIGINT))),
       |      (a, x) -> (a * 31 + x) % 1000000007) % $HashBuckets) AS bk
       |  FROM documents),
       |c AS (
       |  SELECT doc_id, list_transform(range($HashBuckets), i ->
       |    len(list_filter(bk, x -> x = i))) AS cnts
       |  FROM b)
       |SELECT doc_id,
       |  CAST(len(list_filter(cnts, c -> c > 0)) AS BIGINT) AS nnz,
       |  CAST(list_sum(list_transform(cnts, c -> c * c)) AS BIGINT) AS l2sq,
       |  CAST(list_max(cnts) AS BIGINT) AS max_cnt,
       |  CAST(list_position(cnts, list_max(cnts)) - 1 AS BIGINT) AS top_bucket
       |FROM c ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- t37
  /** Consolidated quality-rule filter — the Gopher-style rule battery
    * (Rae et al., arXiv:2112.11446 §A1.1) as ONE pass with per-rule
    * failure accounting per source, so a curation run reads WHICH gate
    * is culling each source, not just how much survives:
    *   len      — token count within [20, 90] (t02's bounds);
    *   wordlen  — mean word length within [3, 10], integer
    *              cross-multiplied (3n ≤ chars ≤ 10n, no division);
    *   stop     — at least 2 stopword occurrences (Gopher's
    *              "contains ≥ 2 of the stop list" rule);
    *   rep      — top bigram ≤ 20% of bigram mass (5·max ≤ total,
    *              t06's repetition signal as a hard gate).
    * `n_pass`/`pass_ppm` count docs surviving ALL rules — the conjoint
    * yield a mixture plan budgets against.
    *
    * Determinism: every predicate is integer cross-multiplied; the only
    * non-integer output is the floor-div ppm.
    *
    * Scale (100 TB): one narrow scan — tokens via split, the bigram
    * mode via the compiled [[graft.functions.TopBigramRun]] kernel (no
    * bigram-array materialization), then ONE map-side-combining rollup
    * on source. This is the cheapest possible shape for a rule battery:
    * rules never fan out rows, and adding a rule adds a column, not a
    * pass. */
  def t37(s: SparkSession, dir: String): DataFrame =
    qualityRules(Tables.t(s, dir, "documents"))

  /** The four t37 rule-failure predicates over a text Column, in rule
    * order (len, wordlen, stop, rep) — one named Column per rule, which
    * [[qualityRules]] turns into flag columns. */
  private[graft] def ruleFailures(text: Column): Seq[(String, Column)] = {
    val ws = words(text)
    val nTok = size(ws).cast(LongType)
    val wordChars = (length(text) - (size(ws) - 1)).cast(LongType)
    val nStop = size(filter(ws, w => w.isin(stopwords: _*))).cast(LongType)
    Seq(
      "len" -> !(nTok >= 20 && nTok <= 90),
      "wordlen" ->
        !(lit(3L) * nTok <= wordChars && wordChars <= lit(10L) * nTok),
      "stop" -> (nStop < 2),
      "rep" -> ((size(ws) >= 2) &&
        lit(5L) * graft.functions.TopBigramRun(ws) > (nTok - 1L)))
  }

  /** t37's kernel over any (source, text) frame — split out so the spec
    * can fire every rule on constructed docs (the synthetic corpus only
    * exercises len and stop). */
  private[graft] def qualityRules(docsIn: DataFrame): DataFrame = {
    val s = docsIn.sparkSession
    import s.implicits._
    val flags = ruleFailures($"text")
    docsIn
      .select($"source" +:
        flags.map { case (n, c) => c.cast(LongType).as(s"f_$n") }: _*)
      .groupBy($"source")
      .agg(
        count(lit(1)).as("n_docs"),
        sum($"f_len").as("fail_len"),
        sum($"f_wordlen").as("fail_wordlen"),
        sum($"f_stop").as("fail_stop"),
        sum($"f_rep").as("fail_rep"),
        sum(when($"f_len" + $"f_wordlen" + $"f_stop" + $"f_rep" === 0, 1L)
          .otherwise(0L)).as("n_pass"))
      .select($"source", $"n_docs", $"fail_len", $"fail_wordlen",
        $"fail_stop", $"fail_rep", $"n_pass",
        expr("(1000000 * n_pass) div n_docs").as("pass_ppm"))
      .orderBy($"source")
  }

  val t37Sql: String = {
    val set = stopwords.map(w => s"'$w'").mkString(", ")
    s"""WITH words AS (
       |  SELECT doc_id, source, text, string_split(text, ' ') AS ws
       |  FROM documents),
       |bg AS (SELECT doc_id, ws[i] || ' ' || ws[i+1] AS b
       |       FROM words, UNNEST(generate_series(1, len(ws) - 1)) AS t(i)
       |       WHERE len(ws) >= 2),
       |bcnt AS (SELECT doc_id, MAX(c) AS top_bg, SUM(c) AS n_bg FROM (
       |    SELECT doc_id, b, COUNT(*) AS c FROM bg GROUP BY doc_id, b)
       |  GROUP BY doc_id),
       |f AS (
       |  SELECT w.source,
       |    CASE WHEN len(ws) BETWEEN 20 AND 90 THEN 0 ELSE 1 END AS f_len,
       |    CASE WHEN 3 * len(ws) <= length(text) - (len(ws) - 1)
       |          AND length(text) - (len(ws) - 1) <= 10 * len(ws)
       |         THEN 0 ELSE 1 END AS f_wordlen,
       |    CASE WHEN len(list_filter(ws, x -> x IN ($set))) >= 2
       |         THEN 0 ELSE 1 END AS f_stop,
       |    CASE WHEN COALESCE(5 * b.top_bg > b.n_bg, FALSE)
       |         THEN 1 ELSE 0 END AS f_rep
       |  FROM words w LEFT JOIN bcnt b USING (doc_id))
       |SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
       |  CAST(SUM(f_len) AS BIGINT) AS fail_len,
       |  CAST(SUM(f_wordlen) AS BIGINT) AS fail_wordlen,
       |  CAST(SUM(f_stop) AS BIGINT) AS fail_stop,
       |  CAST(SUM(f_rep) AS BIGINT) AS fail_rep,
       |  CAST(SUM(CASE WHEN f_len + f_wordlen + f_stop + f_rep = 0
       |    THEN 1 ELSE 0 END) AS BIGINT) AS n_pass,
       |  CAST((1000000 * SUM(CASE WHEN f_len + f_wordlen + f_stop + f_rep = 0
       |    THEN 1 ELSE 0 END)) // COUNT(*) AS BIGINT) AS pass_ppm
       |FROM f GROUP BY source ORDER BY source""".stripMargin
  }

  // ---------------------------------------------------------------- t38
  /** Corpus-trained character-trigram language ID — the fastText-shaped
    * upgrade over t03's fixed marker words: per-language profiles are
    * LEARNED from the labeled corpus (top-[[LangProfileK]] trigrams by
    * document frequency, ties to the lexicographically first gram) and
    * every document is re-scored against all profiles (hit count,
    * argmax with a lang-ascending tiebreak; zero-hit docs predict
    * 'und'). `is_match` against the label is the self-consistency
    * audit — the same train/score split as t35's unigram LM, at the
    * character level where language signal actually lives.
    *
    * Determinism: integer df and hit counts, total tiebreaks at both
    * argmax sites, explicit 'und' fallback.
    *
    * Scale (100 TB): trigram extraction is one compiled pass
    * ([[graft.functions.CharGrams]] — distinct grams per doc, no
    * per-window substring lambdas); the learned profile is |langs|·K
    * rows — an algorithm-parameter bound (SURVEY §8), so it collects to
    * the driver and embeds as LITERAL gram sets, like s28's centroids.
    * The score pass is then a PURE NARROW scan: per-language hit counts
    * are codegen'd `array_intersect` sizes against the literals — no
    * second gram explode, no (doc, lang) shuffle, no join back to the
    * corpus, and (the round-11 sin) no checkpoint of the exploded
    * corpus×grams frame, which materialized a ~10–30×-corpus block just
    * to save re-running a narrow scan. */
  val LangProfileK = 20

  def t38(s: SparkSession, dir: String): DataFrame =
    charTrigramLangId(Tables.t(s, dir, "documents"))

  /** t38's kernel over any (doc_id, lang, text) frame — split out so the
    * spec can pin profile learning and the und fallback. */
  private[graft] def charTrigramLangId(docsIn: DataFrame): DataFrame = {
    val s = docsIn.sparkSession
    import s.implicits._
    // Train: one compiled gram scan → (lang, gram) document frequencies →
    // per-lang top-K (the per-lang window partitions on lang; its input is
    // the vocabulary-sized df frame, never the corpus).
    val prof = docsIn
      .select($"doc_id", $"lang",
        explode(graft.functions.CharGrams($"text", 3)).as("gram"))
      .groupBy($"lang", $"gram")
      .agg(countDistinct($"doc_id").as("df"))
    val wp = Window.partitionBy($"lang").orderBy($"df".desc, $"gram".asc)
    val profile = prof.withColumn("rn", row_number().over(wp))
      .filter($"rn" <= LangProfileK)
      .select($"lang", $"gram")
    // |langs|·K rows by construction — the documented parameter bound.
    val byLang: Seq[(String, Seq[String])] = profile.collect()
      .map(r => (r.getString(0), r.getString(1))).toSeq
      .groupBy(_._1).view.mapValues(_.map(_._2).sorted).toSeq.sortBy(_._1)
    // Score: hit count per language = |doc grams ∩ profile(lang)| over the
    // literal gram sets; argmax keeps the lang-ASCENDING tiebreak because
    // `filter` preserves the ascending build order of the hits array.
    // empty corpus / all-short texts ⇒ no profile: every doc scores 'und'
    val hitsArr =
      if (byLang.isEmpty) array(struct(lit(0).as("n"), lit("und").as("lang")))
      else array(byLang.map { case (l, gs) =>
        struct(
          size(array_intersect($"__grams", typedlit(gs))).as("n"),
          lit(l).as("lang"))
      }: _*)
    val scored = docsIn
      .select($"doc_id", $"lang".as("labeled_lang"),
        graft.functions.CharGrams($"text", 3).as("__grams"))
      .select($"doc_id", $"labeled_lang", hitsArr.as("__hits"))
      .select($"doc_id", $"labeled_lang", $"__hits",
        array_max($"__hits".getField("n")).as("__max_n"))
      .select($"doc_id", $"labeled_lang",
        when($"__max_n" > 0,
          element_at(filter($"__hits", h => h.getField("n") === $"__max_n"), 1)
            .getField("lang"))
          .otherwise(lit("und")).as("pred_lang"),
        $"__max_n".cast("long").as("n_hits"))
      .withColumn("is_match", $"pred_lang" === $"labeled_lang")
    Q.sortedNarrow(scored, $"doc_id")
  }

  val t38Sql: String =
    s"""WITH grams AS (
       |  SELECT doc_id, lang, unnest(list_distinct(list_transform(
       |    range(length(text) - 2), i -> substr(text, i + 1, 3)))) AS gram
       |  FROM documents WHERE length(text) >= 3),
       |prof AS (SELECT lang, gram, COUNT(DISTINCT doc_id) AS df
       |         FROM grams GROUP BY 1, 2),
       |topp AS (SELECT lang AS plang, gram FROM (
       |    SELECT *, row_number() OVER (PARTITION BY lang
       |      ORDER BY df DESC, gram ASC) AS rn FROM prof)
       |  WHERE rn <= $LangProfileK),
       |sc AS (SELECT g.doc_id, t.plang, COUNT(*) AS n
       |       FROM grams g JOIN topp t ON g.gram = t.gram GROUP BY 1, 2),
       |best AS (SELECT doc_id, plang, n FROM (
       |    SELECT *, row_number() OVER (PARTITION BY doc_id
       |      ORDER BY n DESC, plang ASC) AS rn FROM sc)
       |  WHERE rn = 1)
       |SELECT d.doc_id, d.lang AS labeled_lang,
       |  COALESCE(b.plang, 'und') AS pred_lang,
       |  CAST(COALESCE(b.n, 0) AS BIGINT) AS n_hits,
       |  COALESCE(b.plang, 'und') = d.lang AS is_match
       |FROM documents d LEFT JOIN best b ON d.doc_id = b.doc_id
       |ORDER BY d.doc_id""".stripMargin

  // ---------------------------------------------------------------- t39
  /** Number of BPE merges t39 learns. Small enough that the oracle's
    * unrolled per-merge SQL stages stay readable; large enough that
    * multi-character pieces dominate the learned table. */
  private val BpeMergeK = 8

  /** Train a REAL byte-pair-encoding merge table on the corpus — the
    * Sennrich 2015 algorithm (arXiv:1508.07909, the public GPT-2 vocab
    * construction): start from per-character symbols over the word
    * -frequency vocabulary, then K times (a) count adjacent symbol
    * pairs weighted by word frequency, (b) take the most frequent pair
    * (ties: lexicographic), (c) merge it everywhere as one left-to-right
    * non-overlapping pass. Upgrades t05's regex "BPE-ish" pieces to a
    * corpus-trained tokenizer, the way t38 upgraded t03's marker words
    * to trained profiles.
    *
    * Scale (100 TB): training runs over the DISTINCT-WORD vocabulary
    * (Heaps-sublinear in the corpus), each iteration one combinable
    * pair-count aggregate plus a 1-ROW argmax collect — K driver rows
    * total, the same documented bound as s22's k-center picks. The
    * segmentation frame re-checkpoints per iteration so iteration i
    * never re-runs folds 1..i-1. */
  private[graft] def bpeMerges(docs: DataFrame, k: Int): Seq[(String, String)] = {
    val s = docs.sparkSession
    import s.implicits._
    val emptyArr = array().cast("array<string>")
    // one left-to-right non-overlapping merge pass as an array fold: the
    // freshly merged symbol a+b can never re-match as a LEFT operand
    // (that would need a == a+b), so the fold is exactly the
    // reference implementation's per-merge replace pass
    def mergeOnce(syms: Column, a: String, b: String): Column =
      org.apache.spark.sql.functions.aggregate(syms, emptyArr, (acc, x) =>
        when(size(acc) > 0 &&
          element_at(acc, -1) === lit(a) && x === lit(b),
          concat(slice(acc, lit(1), size(acc) - 1), array(lit(a + b))))
          .otherwise(concat(acc, array(x))))
    // NB Spark's sequence(1, 0) DESCENDS ([1, 0]) instead of being empty
    // (unlike generate_series), so single-symbol words guard through
    // try_element_at + a null filter rather than the range bound
    val pairsOf = expr(
      "filter(transform(sequence(1, greatest(size(syms) - 1, 1)), " +
        "i -> struct(try_element_at(syms, i) AS a, try_element_at(syms, i + 1) AS b)), " +
        "p -> p.a IS NOT NULL AND p.b IS NOT NULL)")
    var seg = docs.select(explode(words($"text")).as("w"))
      .filter($"w" =!= "")
      .groupBy($"w").agg(count(lit(1)).as("freq"))
      .select($"w", $"freq", split($"w", "").as("syms"))
      .localCheckpoint(eager = false)
    val merges = Seq.newBuilder[(String, String)]
    var exhausted = false
    for (_ <- 0 until k if !exhausted) {
      val top = seg
        .select($"freq", explode(pairsOf).as("p"))
        .groupBy($"p.a", $"p.b").agg(sum($"freq").as("cnt"))
        .orderBy($"cnt".desc, $"a".asc, $"b".asc)
        .limit(1).collect() // 1 row: the argmax pair (documented bound)
      if (top.isEmpty) exhausted = true
      else {
        val (a, b) = (top(0).getString(0), top(0).getString(1))
        merges += ((a, b))
        seg = seg.select($"w", $"freq", mergeOnce($"syms", a, b).as("syms"))
          .localCheckpoint(eager = false)
      }
    }
    merges.result()
  }

  /** Learned-BPE fertility profile: encode every document with the
    * corpus-trained merge table ([[bpeMerges]]) via the compiled
    * [[graft.functions.BpeEncode]] kernel and report word/piece counts
    * plus integer-ppm pieces-per-word — the tokenizer-cost signal t28
    * approximates with t05's untrained regex pieces.
    *
    * Determinism: training argmax is totally ordered (count desc, pair
    * asc); encoding is integer counting; ppm is floor division.
    *
    * Scale (100 TB): the trained table (K rows) rides the kernel as a
    * literal, so scoring is pure scan work — the corpus never joins a
    * vocabulary, unlike the oracle's join-to-vocab formulation. */
  def t39(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val merges = bpeMerges(Tables.t(s, dir, "documents"), BpeMergeK)
    Tables.t(s, dir, "documents")
      .repartition($"doc_id") // fan-out: per-doc encoding dominates
      .select($"doc_id",
        graft.functions.BpeEncode($"text", merges).as("e"))
      .select($"doc_id", $"e.n_words".as("n_words"),
        $"e.n_pieces".as("n_pieces"))
      .withColumn("pieces_per_word_ppm",
        when($"n_words" > 0, expr("(1000000 * n_pieces) div n_words")))
      .transform(Q.sortedNarrow(_, $"doc_id"))
  }

  /** The oracle trains the SAME K merges in unrolled SQL stages: the
    * segmentation is a marker-delimited string (chr(1)sym chr(2) per
    * symbol — markers absent from the corpus), so one merge pass is one
    * non-overlapping left-to-right `replace`, which is exactly the
    * reference algorithm's apply step. Final per-word piece counts join
    * back to document words (the vocabulary formulation; the Spark side
    * encodes in-scan with the kernel instead). */
  val t39Sql: String = {
    val stages = (1 to BpeMergeK).map { i =>
      val prev = if (i == 1) "seg0" else s"seg${i - 1}"
      s"""sy$i AS (SELECT w, freq, seg,
         |  string_split(substring(seg, 2, length(seg) - 2), chr(2) || chr(1)) AS s
         |  FROM $prev),
         |pr$i AS (SELECT s[j] AS a, s[j + 1] AS b, SUM(freq) AS cnt
         |  FROM sy$i, UNNEST(generate_series(1, len(s) - 1)) t(j)
         |  GROUP BY 1, 2),
         |m$i AS (SELECT a, b FROM pr$i ORDER BY cnt DESC, a ASC, b ASC LIMIT 1),
         |seg$i AS (SELECT w, freq,
         |  replace(seg, chr(1) || a || chr(2) || chr(1) || b || chr(2),
         |    chr(1) || a || b || chr(2)) AS seg
         |  FROM sy$i, m$i)""".stripMargin
    }.mkString(",\n")
    s"""WITH toks AS (
       |  SELECT doc_id, w FROM (
       |    SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents)
       |  WHERE w <> ''),
       |vocab AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS freq FROM toks GROUP BY w),
       |seg0 AS (SELECT w, freq,
       |  chr(1) || array_to_string(string_split(w, ''), chr(2) || chr(1)) || chr(2) AS seg
       |  FROM vocab),
       |$stages,
       |wp AS (SELECT w,
       |  CAST(length(seg) - length(replace(seg, chr(1), '')) AS BIGINT) AS pieces
       |  FROM seg$BpeMergeK),
       |agg AS (SELECT t.doc_id, CAST(COUNT(*) AS BIGINT) AS n_words,
       |    CAST(SUM(p.pieces) AS BIGINT) AS n_pieces
       |  FROM toks t JOIN wp p ON t.w = p.w GROUP BY 1)
       |SELECT d.doc_id,
       |  COALESCE(a.n_words, 0) AS n_words,
       |  COALESCE(a.n_pieces, 0) AS n_pieces,
       |  CASE WHEN COALESCE(a.n_words, 0) > 0
       |    THEN (1000000 * a.n_pieces) // a.n_words END AS pieces_per_word_ppm
       |FROM documents d LEFT JOIN agg a ON d.doc_id = a.doc_id
       |ORDER BY d.doc_id""".stripMargin
  }

  // ---------------------------------------------------------------- t40
  /** Held-out bigram fluency scoring with stupid backoff (Brants et al.
    * 2007, "Large Language Models in Machine Translation"): a bigram LM
    * trained on the EVEN-doc_id half of the corpus scores every ODD
    * document — the honest train/held-out shape, so the backoff path
    * genuinely fires on unseen bigrams instead of self-scoring like
    * t35's unigram surprisal. Per held-out doc: adjacent token pairs get
    * conditional commonness ppm = 1e6·c(w1 w2) div c(w1) when the bigram
    * was seen in training, else 0.4 · unigram ppm of w2 (the fixed
    * stupid-backoff penalty, floor-divided). Low mean = disfluent or
    * out-of-domain text; high backoff share = novel phrasing — the two
    * axes a perplexity-based quality filter actually reads.
    *
    * Determinism: every score is a floor division of exact integer
    * counts; mean is `sum div n` — engine-exact, no transcendentals.
    *
    * Scale (100 TB): two combinable training aggregates (unigram,
    * bigram) over the training half; held-out docs explode their pairs
    * narrowly (the t39 adjacent-struct pattern — no window, no
    * self-join) and join the LM tables hint-FREE: vocabularies grow with
    * the corpus (Heaps), so AQE threshold-switches instead of betting
    * executor memory; the 1-row token total broadcasts. */
  def t40(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Q.sortedNarrow(t40Body(s, dir), $"doc_id")
  }

  /** Pre-sort body, split out so PlanAuditSpec can see the join shapes
    * (the output checkpoint hides them from the final explain, cf. q02). */
  private[graft] def t40Body(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val wsCol = expr("filter(split(text, ' '), x -> x <> '')")
    val pairsOf = expr(
      "filter(transform(sequence(1, greatest(size(ws) - 1, 1)), " +
        "i -> struct(try_element_at(ws, i) AS w1, try_element_at(ws, i + 1) AS w2)), " +
        "p -> p.w1 IS NOT NULL AND p.w2 IS NOT NULL)")
    val docs = Tables.t(s, dir, "documents")
    val train = docs.filter($"doc_id" % 2 === 0)
      .select($"doc_id", wsCol.as("ws"))
      .localCheckpoint(eager = false) // unigram + bigram tables share it
    val uni = train.select(explode($"ws").as("w"))
      .groupBy($"w").agg(count(lit(1)).as("cw"))
    val total = uni.agg(sum($"cw").as("t"))
    // the w1 denominator attaches at BUILD time (both tables are
    // vocabulary-sized, and the join key is the bigram aggregation's own
    // leading key), so the corpus-sized probe pays TWO lookup joins
    // instead of three — cb can only be non-null when c1 is
    val bi = train.select(explode(pairsOf).as("p"))
      .groupBy($"p.w1".as("b1"), $"p.w2".as("b2"))
      .agg(count(lit(1)).as("cb"))
      .join(uni.select($"w".as("b1"), $"cw".as("c1")), Seq("b1"))
    val heldOut = docs.filter($"doc_id" % 2 === 1)
    val scored = heldOut
      .select($"doc_id", wsCol.as("ws"))
      .select($"doc_id", explode(pairsOf).as("p"))
      .select($"doc_id", $"p.w1".as("w1"), $"p.w2".as("w2"))
      .join(bi, $"w1" === $"b1" && $"w2" === $"b2", "left")
      .join(uni.select($"w".as("u2"), $"cw".as("c2")), $"w2" === $"u2", "left")
      .crossJoin(broadcast(total))
      .select($"doc_id", $"cb",
        when($"cb".isNotNull, expr("(1000000 * cb) div c1"))
          .otherwise(expr("(4 * coalesce((1000000 * c2) div t, 0)) div 10"))
          .as("score"))
      .groupBy($"doc_id")
      .agg(
        count(lit(1)).as("n_bigrams"),
        sum(when($"cb".isNull, 1L).otherwise(0L)).as("n_backoff"),
        sum($"score").as("score_sum"))
    heldOut.select($"doc_id")
      .join(scored, Seq("doc_id"), "left")
      .select($"doc_id",
        coalesce($"n_bigrams", lit(0L)).as("n_bigrams"),
        coalesce($"n_backoff", lit(0L)).as("n_backoff"),
        coalesce($"score_sum", lit(0L)).as("score_sum"))
      .withColumn("mean_cond_ppm",
        when($"n_bigrams" > 0, expr("score_sum div n_bigrams")))
  }

  val t40Sql: String =
    """WITH d AS (
      |  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS ws
      |  FROM documents),
      |trainp AS (SELECT ws[i] AS w1, ws[i + 1] AS w2
      |  FROM d, UNNEST(generate_series(1, len(ws) - 1)) t(i)
      |  WHERE doc_id % 2 = 0),
      |uni AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS cw FROM (
      |    SELECT unnest(ws) AS w FROM d WHERE doc_id % 2 = 0) GROUP BY w),
      |tot AS (SELECT SUM(cw) AS t FROM uni),
      |bi AS (SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS cb
      |  FROM trainp GROUP BY 1, 2),
      |ho AS (SELECT doc_id, ws[i] AS w1, ws[i + 1] AS w2
      |  FROM d, UNNEST(generate_series(1, len(ws) - 1)) t(i)
      |  WHERE doc_id % 2 = 1),
      |sc AS (SELECT ho.doc_id, bi.cb,
      |    CASE WHEN bi.cb IS NOT NULL THEN (1000000 * bi.cb) // u1.cw
      |      ELSE (4 * COALESCE((1000000 * u2.cw) // tot.t, 0)) // 10 END AS score
      |  FROM ho
      |  LEFT JOIN bi ON ho.w1 = bi.w1 AND ho.w2 = bi.w2
      |  LEFT JOIN uni u1 ON ho.w1 = u1.w
      |  LEFT JOIN uni u2 ON ho.w2 = u2.w
      |  CROSS JOIN tot),
      |agg AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
      |    CAST(SUM(CASE WHEN cb IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_backoff,
      |    CAST(SUM(score) AS BIGINT) AS score_sum
      |  FROM sc GROUP BY 1)
      |SELECT d.doc_id,
      |  COALESCE(a.n_bigrams, 0) AS n_bigrams,
      |  COALESCE(a.n_backoff, 0) AS n_backoff,
      |  COALESCE(a.score_sum, 0) AS score_sum,
      |  CASE WHEN COALESCE(a.n_bigrams, 0) > 0
      |    THEN a.score_sum // a.n_bigrams END AS mean_cond_ppm
      |FROM (SELECT doc_id FROM documents WHERE doc_id % 2 = 1) d
      |LEFT JOIN agg a ON d.doc_id = a.doc_id
      |ORDER BY d.doc_id""".stripMargin

  // ---------------------------------------------------------------- t41
  /** Leakage-safe train/valid/test split — the FIX for what d18 audits:
    * t08 hashes each doc independently, so near-duplicate pairs straddle
    * split boundaries (d18 measures exactly how many); here the hash key
    * is the near-dup COMPONENT id (g01's min-reachable label; singletons
    * key on themselves), so every near-dup cluster lands in one split by
    * construction and held-out integrity survives dedup-grade redundancy.
    * Same md5 90/5/5 bands as t08 — swapping t08 for t41 changes only
    * WHERE clustered docs go, never the marginal split rates.
    *
    * Scale (100 TB): the label table is pairs-sized and joins hint-free
    * (AQE threshold-switch — corpus-growing, same rule as g07); the hash
    * and banding are pure scan work. */
  def t41(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val lab = GraphOps.components(Dedup.jaccardPairs(s, dir, 0.5))
    Tables.t(s, dir, "documents")
      .select($"doc_id")
      .join(lab, Seq("doc_id"), "left")
      .withColumn("group_key", coalesce($"component", $"doc_id"))
      .select($"doc_id", $"group_key",
        md5Bucket($"group_key", "").as("bucket"))
      .withColumn("split",
        when($"bucket" < 90, "train")
          .when($"bucket" < 95, "valid")
          .otherwise("test"))
      .orderBy($"doc_id")
  }

  val t41Sql: String =
    """WITH RECURSIVE words AS (
      |  SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
      |sh0 AS (SELECT DISTINCT doc_id, ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS s
      |       FROM words, UNNEST(generate_series(1, len(ws) - 2)) AS t(i)),
      |df AS (SELECT s, COUNT(*) AS df FROM sh0 GROUP BY s),
      |sh AS (SELECT doc_id, sh0.s FROM sh0 JOIN df ON sh0.s = df.s
      |       WHERE df.df <= 1000),
      |sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
      |inter AS (SELECT a.doc_id AS da, b.doc_id AS db, COUNT(*) AS i
      |          FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
      |          GROUP BY a.doc_id, b.doc_id),
      |edges AS (SELECT da, db FROM inter
      |          JOIN sizes sa ON da = sa.doc_id JOIN sizes sb ON db = sb.doc_id
      |          WHERE CAST(i AS DOUBLE) / (sa.n + sb.n - i) >= 0.5),
      |sym AS (SELECT da, db FROM edges UNION SELECT db, da FROM edges),
      |nodes AS (SELECT DISTINCT da AS doc_id FROM sym),
      |reach(src, dst) AS (
      |  SELECT doc_id, doc_id FROM nodes
      |  UNION
      |  SELECT r.src, e.db FROM reach r JOIN sym e ON r.dst = e.da),
      |comp AS (SELECT src AS doc_id, min(dst) AS component
      |         FROM reach GROUP BY src),
      |keyed AS (SELECT d.doc_id, COALESCE(c.component, d.doc_id) AS group_key
      |          FROM documents d LEFT JOIN comp c ON d.doc_id = c.doc_id)
      |SELECT doc_id, group_key,
      |  CAST(CAST('0x' || substr(md5(CAST(group_key AS VARCHAR)), 1, 6) AS BIGINT)
      |    % 100 AS BIGINT) AS bucket,
      |  CASE WHEN CAST('0x' || substr(md5(CAST(group_key AS VARCHAR)), 1, 6) AS BIGINT)
      |    % 100 < 90 THEN 'train'
      |       WHEN CAST('0x' || substr(md5(CAST(group_key AS VARCHAR)), 1, 6) AS BIGINT)
      |    % 100 < 95 THEN 'valid'
      |       ELSE 'test' END AS split
      |FROM keyed ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- t42
  /** Word-length burstiness: the variance-to-mean ratio of per-word
    * lengths, per document, in exact integer arithmetic —
    * VMR = (n·Σx² − (Σx)²) / (n·Σx) as a single floor-divided ppm.
    * Templated/generated text runs at suspiciously uniform word lengths
    * (low VMR); human prose is bursty — the cheap narrow screen read
    * beside t06's repetition and t37's rule battery before anything
    * expensive runs. No transcendentals, no shuffle before the output
    * sort: three integer folds over the token array per row.
    *
    * Determinism: lengths, sums and squares are exact integers; one
    * floor division. Docs with no words emit NULL ratios. */
  def t42(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val body = Tables.t(s, dir, "documents")
      .withColumn("lens",
        expr("transform(filter(split(text, ' '), x -> x <> ''), w -> CAST(length(w) AS BIGINT))"))
      .select($"doc_id",
        size($"lens").cast(LongType).as("n_words"),
        expr("aggregate(lens, CAST(0 AS BIGINT), (a, x) -> a + x)").as("s1"),
        expr("aggregate(lens, CAST(0 AS BIGINT), (a, x) -> a + x * x)").as("s2"))
      .withColumn("vmr_ppm",
        when($"n_words" > 0 && $"s1" > 0,
          expr("(1000000 * (n_words * s2 - s1 * s1)) div (n_words * s1)")))
      .select($"doc_id", $"n_words", $"s1".as("sum_len"),
        $"s2".as("sum_len_sq"), $"vmr_ppm")
    Q.sortedNarrow(body, $"doc_id")
  }

  val t42Sql: String =
    """WITH d AS (
      |  SELECT doc_id,
      |    list_transform(list_filter(string_split(text, ' '), x -> x <> ''),
      |      w -> CAST(length(w) AS BIGINT)) AS lens
      |  FROM documents),
      |m AS (SELECT doc_id,
      |    CAST(len(lens) AS BIGINT) AS n_words,
      |    CAST(list_reduce(list_prepend(CAST(0 AS BIGINT), lens),
      |      (a, x) -> a + x) AS BIGINT) AS s1,
      |    CAST(list_reduce(list_prepend(CAST(0 AS BIGINT), lens),
      |      (a, x) -> a + x * x) AS BIGINT) AS s2
      |  FROM d)
      |SELECT doc_id, n_words, s1 AS sum_len, s2 AS sum_len_sq,
      |  CASE WHEN n_words > 0 AND s1 > 0
      |    THEN (1000000 * (n_words * s2 - s1 * s1)) // (n_words * s1) END
      |    AS vmr_ppm
      |FROM m ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- t43
  /** Pairwise source-vocabulary overlap: Jaccard between the top-200
    * token vocabularies (by occurrence count, ties lexicographic) of
    * every source pair — the mixture-REDUNDANCY meter beside t33's
    * per-source-vs-corpus drift: two sources with near-identical top
    * vocabularies cover the same register, and upweighting both buys
    * diversity it doesn't deliver. Exact integers end to end (set sizes
    * are fixed at 200 except for tiny sources; overlap in ppm by floor
    * division).
    *
    * Scale (100 TB): one (source, token) count aggregate (combinable),
    * a per-source top-200 window over the vocabulary-sized frame, and a
    * pair join over |sources|·200 rows — nothing downstream grows with
    * the corpus. */
  def t43(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy($"source").orderBy($"cnt".desc, $"tok".asc)
    val top = Tables.t(s, dir, "documents")
      .select($"source", explode(words($"text")).as("tok"))
      .filter($"tok" =!= "")
      .groupBy($"source", $"tok").agg(count(lit(1)).as("cnt"))
      .withColumn("rk", row_number().over(w))
      .filter($"rk" <= 200)
      .select($"source", $"tok")
      .localCheckpoint(eager = false) // sizes + both pair sides
    val sizes = top.groupBy($"source").agg(count(lit(1)).as("n"))
    val inter = top.as("a")
      .join(top.as("b"),
        col("a.tok") === col("b.tok") && col("a.source") < col("b.source"))
      .groupBy(col("a.source").as("src_a"), col("b.source").as("src_b"))
      .agg(count(lit(1)).as("n_shared"))
    inter
      .join(sizes.select($"source".as("src_a"), $"n".as("na")), Seq("src_a"))
      .join(sizes.select($"source".as("src_b"), $"n".as("nb")), Seq("src_b"))
      .select($"src_a", $"src_b", $"n_shared", $"na", $"nb",
        expr("(1000000 * n_shared) div (na + nb - n_shared)")
          .as("jaccard_ppm"))
      .orderBy($"src_a", $"src_b")
  }

  val t43Sql: String =
    """WITH tok AS (
      |  SELECT source, w AS tok, COUNT(*) AS cnt FROM (
      |    SELECT source, unnest(string_split(text, ' ')) AS w FROM documents)
      |  WHERE w <> '' GROUP BY 1, 2),
      |top AS (SELECT source, tok FROM (
      |    SELECT source, tok, row_number() OVER (PARTITION BY source
      |      ORDER BY cnt DESC, tok ASC) AS rk FROM tok)
      |  WHERE rk <= 200),
      |sizes AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n
      |          FROM top GROUP BY 1),
      |inter AS (SELECT a.source AS src_a, b.source AS src_b,
      |    CAST(COUNT(*) AS BIGINT) AS n_shared
      |  FROM top a JOIN top b ON a.tok = b.tok AND a.source < b.source
      |  GROUP BY 1, 2)
      |SELECT i.src_a, i.src_b, i.n_shared, sa.n AS na, sb.n AS nb,
      |  (1000000 * i.n_shared) // (sa.n + sb.n - i.n_shared) AS jaccard_ppm
      |FROM inter i
      |JOIN sizes sa ON i.src_a = sa.source
      |JOIN sizes sb ON i.src_b = sb.source
      |ORDER BY i.src_a, i.src_b""".stripMargin

  // ---------------------------------------------------------------- t44
  /** Deterministic curriculum interleave — the EPOCH-ASSEMBLY artifact a
    * training run consumes after curation: every doc gets a global
    * training position such that any prefix of the schedule matches the
    * corpus mixture (per-source token share). Mechanics: sources weight
    * by integer token-share ppm; docs order within their source by
    * (md5(text), doc_id) — the content-keyed deterministic shuffle — at
    * position p; the interleave key k = p·10⁶ div ppm is the classic
    * weighted round-robin stride (heavier sources stride shorter, so
    * they appear proportionally more often early). Emitted: the first
    * 200 schedule slots — the first-batch manifest.
    *
    * Determinism: ppm and k are integer floor divisions; the schedule
    * order (k, source, p) is a total order; md5 ties are broken by
    * doc_id — engine-exact everywhere.
    *
    * Scale (100 TB): the per-source window sort is the once-per-epoch
    * shard sort every training-data pipeline pays (distributed range
    * sort per source; skew follows source sizes, the usual sharding
    * answer applies); source shares are a |sources|-row fixed-domain
    * broadcast; the final top-200 lowers to TakeOrdered — no global
    * row_number over the corpus, the 200-row window ranks post-limit. */
  def t44(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val perDoc = Tables.t(s, dir, "documents")
      .select($"doc_id", $"source",
        size(words($"text")).cast(LongType).as("n_tokens"),
        md5($"text").as("h"))
    val srcTot = perDoc.groupBy($"source").agg(sum($"n_tokens").as("tok"))
    val total = srcTot.agg(sum($"tok").as("tot"))
    val shares = srcTot.crossJoin(broadcast(total))
      .select($"source", expr("(1000000 * tok) div tot").as("ppm"))
    val pos = perDoc.withColumn("p",
      row_number().over(Window.partitionBy($"source").orderBy($"h", $"doc_id"))
        .cast(LongType))
    val first = pos.join(broadcast(shares), Seq("source"))
      .withColumn("k", expr("(p * 1000000) div ppm"))
      .select($"doc_id", $"source", $"p", $"k")
      .orderBy($"k", $"source", $"p").limit(200)
    first
      .withColumn("train_pos",
        row_number().over(Window.orderBy($"k", $"source", $"p")).cast(LongType))
      .select($"train_pos", $"doc_id", $"source", $"p", $"k")
      .orderBy($"train_pos")
  }

  val t44Sql: String =
    """WITH perdoc AS (
      |  SELECT doc_id, source,
      |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
      |    md5(text) AS h
      |  FROM documents),
      |tot AS (SELECT source, SUM(n_tokens) AS tok FROM perdoc GROUP BY source),
      |allt AS (SELECT SUM(tok) AS t FROM tot),
      |shares AS (SELECT source, (1000000 * tok) // t AS ppm FROM tot, allt),
      |pos AS (SELECT doc_id, source,
      |    CAST(row_number() OVER (PARTITION BY source ORDER BY h, doc_id) AS BIGINT) AS p
      |  FROM perdoc),
      |keyed AS (SELECT pos.doc_id, pos.source, p,
      |    CAST((p * 1000000) // ppm AS BIGINT) AS k
      |  FROM pos JOIN shares ON pos.source = shares.source),
      |lim AS (SELECT * FROM keyed ORDER BY k, source, p LIMIT 200)
      |SELECT CAST(row_number() OVER (ORDER BY k, source, p) AS BIGINT) AS train_pos,
      |  doc_id, source, p, k
      |FROM lim ORDER BY train_pos""".stripMargin

  // ---------------------------------------------------------------- t45
  /** Exact corpus quantiles of an integer quality score — the threshold
    * picker behind "keep the top X% by quality": for q ∈ {1, 5, 25, 50,
    * 75, 95, 99} the smallest score whose cumulative count reaches
    * ⌈q·n/100⌉ (the discrete lower quantile), plus how many docs sit at
    * or below it. Score here: distinct-token ratio in ppm (t02's
    * lexical-diversity signal as a pure integer).
    *
    * Why not approx_percentile: a filtering threshold feeds a REPRODUCIBLE
    * keep/drop decision — sketch quantiles drift run-to-run and
    * engine-to-engine. The exact construction is the standard scale
    * pattern for BOUNDED-DOMAIN scores: one corpus pass builds the score
    * histogram (≤ 10⁶+1 rows by construction, independent of corpus
    * size), the cumulative walk and threshold picks run on the
    * DOMAIN-sized frame. The single-partition cumsum window is bounded
    * by the score domain, never the corpus — the q-grid is a 7-row
    * fixed-domain cross join.
    *
    * Determinism: histogram counts, ⌈·⌉ by integer arithmetic, min-score
    * pick — all exact integers, engine-identical. */
  def t45(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val score = Tables.t(s, dir, "documents")
      .select(expr(
        "(1000000 * size(array_distinct(split(text, ' ')))) div size(split(text, ' '))")
        .as("score_ppm"))
    val hist = score.groupBy($"score_ppm").agg(count(lit(1)).as("cnt"))
    val cum = hist.withColumn("cum",
      sum($"cnt").over(Window.orderBy($"score_ppm")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val total = hist.agg(sum($"cnt").as("n"))
    val qs = s.range(1, 8).select(
      element_at(array(Seq(1, 5, 25, 50, 75, 95, 99).map(lit): _*), $"id".cast("int"))
        .cast(LongType).as("q_pct"))
    qs.crossJoin(broadcast(total))
      .join(cum, $"cum" >= expr("(q_pct * n + 99) div 100"))
      .groupBy($"q_pct")
      .agg(min(struct($"score_ppm", $"cum")).as("m"))
      .select($"q_pct", $"m.score_ppm".as("threshold_ppm"),
        $"m.cum".as("n_at_or_below"))
      .orderBy($"q_pct")
  }

  val t45Sql: String =
    """WITH sc AS (
      |  SELECT (1000000 * len(list_distinct(string_split(text, ' '))))
      |    // len(string_split(text, ' ')) AS score_ppm
      |  FROM documents),
      |hist AS (SELECT score_ppm, COUNT(*) AS cnt FROM sc GROUP BY score_ppm),
      |cum AS (SELECT score_ppm, cnt,
      |    SUM(cnt) OVER (ORDER BY score_ppm
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
      |  FROM hist),
      |tot AS (SELECT SUM(cnt) AS n FROM hist),
      |qs AS (SELECT UNNEST([1, 5, 25, 50, 75, 95, 99]) AS q_pct)
      |SELECT CAST(q.q_pct AS BIGINT) AS q_pct,
      |  CAST(MIN(c.score_ppm) AS BIGINT) AS threshold_ppm,
      |  CAST(MIN(c.cum) AS BIGINT) AS n_at_or_below
      |FROM qs q CROSS JOIN tot t CROSS JOIN cum c
      |WHERE c.cum >= (q.q_pct * t.n + 99) // 100
      |GROUP BY q.q_pct ORDER BY q_pct""".stripMargin

  // ---------------------------------------------------------------- t46
  /** DSIR-style target-conditional data selection (Xie et al., NeurIPS
    * 2023, "Data Selection for Language Models via Importance
    * Resampling"), in exact integer arithmetic: score every document by
    * how much its hashed n-gram feature mass is ENRICHED in a target
    * distribution vs the raw corpus, then keep the top 20%.
    *
    *   - features: t36's feature-hashed BOW (polynomial rolling hash mod
    *     16 buckets — production uses 2¹⁸; the shape is identical);
    *   - target: `lang = 'en'` documents (the paper's "formal text"
    *     target stand-in; any doc predicate slots in);
    *   - bucket weight: add-one-smoothed enrichment ratio in ppm,
    *     w_b = ⌊(tgt_b+1)·(raw_tot+B)·10⁶ / ((raw_b+1)·(tgt_tot+B))⌋ —
    *     the exact-integer coarsening of the paper's log-likelihood
    *     ratio (monotone in the per-bucket ratio; products run in
    *     DECIMAL(38) / HUGEINT so 10¹²-token counts cannot overflow);
    *   - doc score: Σ_b cnt_b·w_b (int64 dot product);
    *   - selection: top-2 deciles of (score, doc_id) via the
    *     distributed exact ntile — the reproducible keep set.
    *
    * Output: per-source selection report — the mixture-shift readout
    * (DSIR's whole point is that target-like sources survive selection).
    *
    * Determinism: hash/counts/weights/scores are integers; ties break on
    * doc_id; ntile arithmetic is Spark-exact on both engines.
    *
    * Scale (100 TB): the distributions are ONE map-side-combining pass
    * collapsing to B rows; weights are a B-row broadcast (≤ 2¹⁸ rows,
    * ~4 MB, bounded by the hash width — never by corpus or vocabulary);
    * scoring is narrow scan work (zip_with against the broadcast weight
    * vector — no doc-grain exchange); the only corpus-sized shuffle is
    * [[globalNtile]]'s range sort of 24-byte (doc_id, source, score)
    * rows. No vocabulary is ever built — the hashing trick keeps the
    * pipeline dictionary-free exactly as t36 documents. */
  val DsirTargetLang = "en"

  /** The B-row DSIR weight fit that t46 packs into one broadcast row:
    * (bucket, w_ppm) for every bucket, zero buckets included (posexplode
    * of the dense kernel vector), so the packed weight vector always has
    * exactly [[HashBuckets]] entries. */
  private[graft] def dsirWeights(docsIn: DataFrame): DataFrame =
    dsirWeightsOf(docsIn.select(col("lang"),
      graft.functions.HashedBowCounts(col("text"), HashBuckets).as("cnts")))

  /** [[dsirWeights]] over an already-vectorized (lang, cnts) frame — the
    * seam that lets t46 run the BOW kernel ONCE for fit + scoring. */
  private[graft] def dsirWeightsOf(vecs: DataFrame): DataFrame = {
    val s = vecs.sparkSession
    import s.implicits._
    val pairs = vecs
      .select($"lang", posexplode($"cnts").as(Seq("bucket", "cnt")))
    val dist = pairs.groupBy($"bucket").agg(
      sum($"cnt").as("raw_b"),
      sum(when($"lang" === DsirTargetLang, $"cnt").otherwise(0L)).as("tgt_b"))
    val tot = dist.agg(sum($"raw_b").as("raw_tot"), sum($"tgt_b").as("tgt_tot"))
    dist.crossJoin(broadcast(tot)).select(
      $"bucket",
      expr(s"""(cast(tgt_b + 1 as decimal(38, 0)) * (raw_tot + $HashBuckets)
              | * 1000000)
              | div (cast(raw_b + 1 as decimal(38, 0)) * (tgt_tot + $HashBuckets))
              |""".stripMargin.replace("\n", " ")).as("w_ppm"))
  }

  def t46(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = Tables.t(s, dir, "documents")
    // The BOW kernel runs twice (weight fit + scoring) BY CHOICE: a
    // round-16 A/B that checkpointed the narrow (doc_id, source, lang,
    // cnts) frame to share one kernel pass measured 0.96 s vs 0.93 s
    // recomputed (isolated settled min-of-3, sf0.1) — no win even at
    // bench SF, and the t38 recompute rule says never materialize a
    // corpus-proportional frame to reuse a narrow codegen scan.
    val perDoc = docs.select($"doc_id", $"source",
      graft.functions.HashedBowCounts($"text", HashBuckets).as("cnts"))
    // pack the B weights into ONE broadcast row → per-doc scoring is narrow
    val wrow = dsirWeights(docs).agg(
      transform(array_sort(collect_list(struct($"bucket", $"w_ppm"))),
        x => x("w_ppm")).as("w"))
    val scored = perDoc.crossJoin(broadcast(wrow)).select(
      $"doc_id", $"source",
      aggregate(zip_with($"cnts", $"w", (c, w) => c * w),
        lit(0L), (a, x) => a + x).as("score"))
    globalNtile(scored, 10, $"score", $"doc_id")
      .groupBy($"source")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(when($"decile" >= 9, 1L).otherwise(0L)).as("n_kept"),
        sum(when($"decile" >= 9, $"score").otherwise(0L)).as("kept_score"))
      .withColumn("kept_ppm", expr("(1000000 * n_kept) div n_docs"))
      .select($"source", $"n_docs", $"n_kept", $"kept_ppm", $"kept_score")
      .orderBy($"source")
  }

  val t46Sql: String =
    s"""WITH b AS (
       |  SELECT doc_id, source, lang, list_transform(string_split(text, ' '), w ->
       |    list_reduce(
       |      list_prepend(CAST(0 AS BIGINT),
       |        list_transform(string_split(w, ''), c -> CAST(ascii(c) AS BIGINT))),
       |      (a, x) -> (a * 31 + x) % 1000000007) % $HashBuckets) AS bk
       |  FROM documents),
       |c AS (
       |  SELECT doc_id, source, lang, list_transform(range($HashBuckets), i ->
       |    CAST(len(list_filter(bk, x -> x = i)) AS BIGINT)) AS cnts
       |  FROM b),
       |p AS (
       |  SELECT doc_id, source, lang,
       |    UNNEST(range($HashBuckets)) AS bucket, UNNEST(cnts) AS cnt
       |  FROM c),
       |dist AS (
       |  SELECT bucket, SUM(cnt) AS raw_b,
       |    SUM(CASE WHEN lang = '$DsirTargetLang' THEN cnt ELSE 0 END) AS tgt_b
       |  FROM p GROUP BY bucket),
       |tot AS (SELECT SUM(raw_b) AS raw_tot, SUM(tgt_b) AS tgt_tot FROM dist),
       |w AS (
       |  SELECT bucket,
       |    ((tgt_b + 1)::HUGEINT * (raw_tot + $HashBuckets) * 1000000)
       |      // ((raw_b + 1)::HUGEINT * (tgt_tot + $HashBuckets)) AS w_ppm
       |  FROM dist, tot),
       |sc AS (
       |  SELECT p.doc_id, p.source, CAST(SUM(p.cnt * w.w_ppm) AS BIGINT) AS score
       |  FROM p JOIN w USING (bucket) GROUP BY p.doc_id, p.source),
       |n AS (SELECT *, ntile(10) OVER (ORDER BY score, doc_id) AS decile FROM sc)
       |SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
       |  CAST(SUM(CASE WHEN decile >= 9 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       |  CAST((1000000 * SUM(CASE WHEN decile >= 9 THEN 1 ELSE 0 END)) // COUNT(*) AS BIGINT) AS kept_ppm,
       |  CAST(SUM(CASE WHEN decile >= 9 THEN score ELSE 0 END) AS BIGINT) AS kept_score
       |FROM n GROUP BY source ORDER BY source""".stripMargin

  // ---------------------------------------------------------------- t47
  /** k-anonymity audit over the corpus's quasi-identifiers (Sweeney 2002)
    * — the privacy-governance readout a training-data release runs before
    * shipping: treating (lang, source, length-bucket) as the
    * quasi-identifier tuple, how many documents sit in an equivalence
    * class smaller than k? A record in a tiny class is re-identifiable
    * by its metadata alone even after t13's PII scrub, so release
    * pipelines either suppress those rows or coarsen the identifiers
    * until every class reaches k. One row per audited k (2/5/10/20):
    * class count, classes below k, records at risk, and the at-risk
    * share of the corpus in exact ppm.
    *
    * Determinism: every measure is a count or an integer floor-div —
    * bit-identical on any engine and any partitioning.
    *
    * Scale (100 TB): ONE map-side-combining aggregation collapses the
    * corpus to its equivalence classes (bounded by the quasi-identifier
    * domain — |langs|·|sources|·|len buckets|, never by docs; only the
    * 16-byte-wide key tuple ever shuffles, no text); the per-k sweep
    * cross-joins a broadcast 4-row k frame against the class frame and
    * re-aggregates to 4 rows. Nothing touches the corpus twice. */
  /** t47's equivalence-class build, split out of t47 so the spec can pin
    * the quasi-identifier definition on a hand-built corpus: one
    * map-side-combining collapse of the corpus to (lang, source,
    * len_bucket, csize) — bounded by the QI domain, never by docs. */
  private[graft] def qiClasses(docs: DataFrame): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    docs
      .groupBy($"lang", $"source", expr("n_chars div 200").as("len_bucket"))
      .agg(count(lit(1)).as("csize"))
  }

  def t47(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val classes = qiClasses(Tables.t(s, dir, "documents"))
      .localCheckpoint(eager = false) // reused by every audited k
    val ks = Seq(2L, 5L, 10L, 20L).toDF("k")
    classes.crossJoin(broadcast(ks))
      .groupBy($"k")
      .agg(
        count(lit(1)).as("n_classes"),
        sum(when($"csize" < $"k", 1L).otherwise(0L)).as("risky_classes"),
        sum(when($"csize" < $"k", $"csize").otherwise(0L)).as("records_at_risk"),
        expr("(1000000 * sum(case when csize < k then csize else 0 end))" +
          " div sum(csize)").as("risk_ppm"))
      .orderBy($"k")
  }

  val t47Sql: String =
    """WITH cls AS (
      |  SELECT lang, source, n_chars // 200 AS len_bucket,
      |    COUNT(*) AS csize
      |  FROM documents GROUP BY 1, 2, 3),
      |ks AS (SELECT UNNEST([2, 5, 10, 20]) AS k)
      |SELECT CAST(k AS BIGINT) AS k,
      |  COUNT(*) AS n_classes,
      |  CAST(SUM(CASE WHEN csize < k THEN 1 ELSE 0 END) AS BIGINT)
      |    AS risky_classes,
      |  CAST(SUM(CASE WHEN csize < k THEN csize ELSE 0 END) AS BIGINT)
      |    AS records_at_risk,
      |  CAST((1000000 * SUM(CASE WHEN csize < k THEN csize ELSE 0 END))
      |    // SUM(csize) AS BIGINT) AS risk_ppm
      |FROM ks CROSS JOIN cls GROUP BY k ORDER BY k""".stripMargin

  // ---------------------------------------------------------------- t48
  /** Lorenz curve + Gini coefficient of the token-frequency distribution
    * — the vocabulary-concentration meter beside t24's Zipf fit: how
    * unequally is the corpus's token mass spread over its types? A Gini
    * near 1 means a handful of types carry the corpus (dedup/boilerplate
    * smell, weak lexical signal); a falling Gini across pipeline stages
    * is the measurable effect of t13/t37-style cleaning. Emits one row
    * per type-rank decile (types ranked by ascending frequency): type
    * count, token mass, cumulative token share in exact ppm — plus the
    * global Gini in exact ppm on every row.
    *
    * Exactness: ranks and prefix sums derive from the total (cnt, term)
    * order; Gini = (2·Σ rank·cnt − (V+1)·T) / (V·T) evaluates in
    * DECIMAL(38) cross-multiplied integer form with ONE final integral
    * divide (ppm) — no float ever; decile = 1 + (rank−1)·10 div V, a pure
    * integer bucket both engines compute identically.
    *
    * Scale (100 TB): the vocabulary aggregate is the one corpus-sized
    * exchange; ranking rides q53's distributed prefix-sum substrate —
    * range-repartition on (cnt, term), per-partition offsets (≤ one row
    * per partition to the driver), narrow local windows. No
    * single-partition window, no vocab-sized collect. */
  def t48(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val freq = Tables.t(s, dir, "documents")
      .select(explode(words($"text")).as("term"))
      .groupBy($"term").agg(count(lit(1)).as("cnt"))
    // Q.rankedPrefix carries the substrate's invariants — shared q53/t49
    val (pre, vTypes, totals) =
      Q.rankedPrefix(freq, Seq($"cnt".asc, $"term".asc), Seq("cnt"))
    val tTokens = totals("cnt")
    val ranked = pre
      .select($"term", $"cnt", $"__rank".as("rank"), $"__cum_cnt".as("cum"))
      .localCheckpoint(eager = false) // reused: Gini sum + decile rollup
    val gini = broadcast(ranked.agg(
      sum(($"rank".cast(DecimalType(38, 0)) * $"cnt")).as("s")))
    ranked
      .withColumn("decile", expr(s"1 + (rank - 1) * 10 div ${vTypes}L")
        .cast(IntegerType))
      .groupBy($"decile")
      .agg(count(lit(1)).as("n_types"),
        sum($"cnt").as("decile_tokens"),
        max($"cum").as("max_cum"))
      .crossJoin(gini)
      .select($"decile", $"n_types", $"decile_tokens",
        expr(s"(1000000 * cast(max_cum as decimal(38,0))) div ${tTokens}L")
          .cast(LongType).as("cum_share_ppm"),
        expr(s"(1000000 * (2 * s - cast(${vTypes + 1} as decimal(38,0)) " +
          s"* ${tTokens}L)) div (cast($vTypes as decimal(38,0)) * ${tTokens}L)")
          .cast(LongType).as("gini_ppm"))
      .orderBy($"decile")
  }

  val t48Sql: String =
    """WITH freq AS (
      |  SELECT w AS term, CAST(COUNT(*) AS BIGINT) AS cnt
      |  FROM (SELECT string_split(text, ' ') AS ws FROM documents),
      |       UNNEST(ws) AS t(w)
      |  GROUP BY 1),
      |r AS (
      |  SELECT term, cnt,
      |    CAST(row_number() OVER (ORDER BY cnt ASC, term ASC) AS BIGINT) AS rank,
      |    SUM(cnt) OVER (ORDER BY cnt ASC, term ASC
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
      |  FROM freq),
      |tv AS (SELECT COUNT(*) AS v, SUM(cnt) AS t, SUM(rank * cnt) AS s FROM r)
      |SELECT CAST(1 + (rank - 1) * 10 // v AS INTEGER) AS decile,
      |  CAST(COUNT(*) AS BIGINT) AS n_types,
      |  CAST(SUM(cnt) AS BIGINT) AS decile_tokens,
      |  CAST((1000000 * MAX(cum)) // t AS BIGINT) AS cum_share_ppm,
      |  CAST((1000000 * (2 * s - (v + 1) * t)) // (v * t) AS BIGINT) AS gini_ppm
      |FROM r, tv
      |GROUP BY 1, v, t, s ORDER BY decile""".stripMargin

  // ---------------------------------------------------------------- t49
  /** Systematic probability-proportional-to-size sample (Madow 1949) —
    * the deterministic mixture subsampler: lay every document's length
    * on one cumulative line, drop k = 100 equally-spaced picks on it,
    * and a document is selected iff a pick lands inside its span. Unlike
    * hash sampling (t08/t09) the inclusion probability is ∝ size — the
    * right marginal when downstream cost is per-TOKEN, not per-doc —
    * and unlike a random reservoir it is a pure function of the data:
    * re-runs, backfills and engines agree bit-for-bit.
    *
    * Exactness: doc i is hit ⌊cumᵢ·k/T⌋ − ⌊(cumᵢ−wᵢ)·k/T⌋ times — pure
    * integer floor math that telescopes to exactly k hits corpus-wide
    * (the audit pins Σ hits = k); selection is hits ≥ 1 (an over-long
    * doc can absorb several picks, so n_selected ≤ k).
    *
    * Scale (100 TB): the cumulative line rides q53's distributed
    * prefix-sum substrate — range repartition on doc_id, ≤ 1 row per
    * partition to the driver, narrow local windows; cum·k stays int64
    * to 10¹⁷ total chars (DECIMAL(38) beyond). The rollup is a
    * ≤ |sources| aggregate.
    *
    * Floor adjudication (round 16, committed stress pairs): the
    * sf0.1-bench ratio (~10-100x vs a 0.02 s DuckDB window CTE) is
    * FIXED LATENCY, not a scaling defect — Spark wall time is flat
    * across data growth (1.8 s at sf0.1, 1.0 s at 10x settled, 2.7 s
    * at 40x degraded-host) because the substrate's cost is its ~4
    * sequential stage rounds, while the oracle's single-process cumsum
    * grows linearly (0.02 → 0.095 → 0.18 s at 1/10/40x). The knob
    * probe confirms latency-not-plan: shuffle.partitions=8 + AQE off
    * made the 10x run SLOWER (1.0 → 3.0 s — the work is parallel, the
    * floor is the stage rounds). Extrapolated crossover sits near
    * ~1000x sf0.1, i.e. exactly where a single process stops being an
    * option at all; on a cluster the same plan's per-stage latency is
    * unchanged while the oracle has no distributed form. */
  def t49(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val k = 100L
    val slim = Tables.t(s, dir, "documents")
      .select($"doc_id", $"source", $"n_chars")
    // Q.rankedPrefix carries the substrate's invariants — shared q53/t48
    val (pre, _, totals) =
      Q.rankedPrefix(slim, Seq($"doc_id".asc), Seq("n_chars"))
    val total = totals("n_chars")
    val hits = pre
      .select($"doc_id", $"source", $"n_chars", $"__cum_n_chars".as("cum"))
      .withColumn("m", expr(
        s"(cum * $k) div ${total}L - ((cum - n_chars) * $k) div ${total}L"))
    hits.groupBy($"source")
      .agg(count(lit(1)).as("n_docs"),
        sum(when($"m" >= 1L, 1L).otherwise(0L)).as("n_selected"),
        sum($"m").as("n_hits"),
        sum(when($"m" >= 1L, $"n_chars").otherwise(0L)).as("sel_chars"))
      .withColumn("sel_ppm",
        // sel_chars is corpus-proportional — DECIMAL(38,0) before the
        // *1e6 (HUGEINT mirror), same as t48's cum_share_ppm
        expr(s"(1000000 * cast(sel_chars as decimal(38,0))) div ${total}L")
          .cast(LongType))
      .orderBy($"source")
  }

  val t49Sql: String =
    """WITH r AS (
      |  SELECT doc_id, source, n_chars,
      |    SUM(n_chars) OVER (ORDER BY doc_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
      |  FROM documents),
      |tv AS (SELECT SUM(n_chars) AS t FROM documents),
      |h AS (SELECT source, n_chars,
      |    (cum * 100) // t - ((cum - n_chars) * 100) // t AS m
      |  FROM r, tv)
      |SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
      |  CAST(SUM(CASE WHEN m >= 1 THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_selected,
      |  CAST(SUM(m) AS BIGINT) AS n_hits,
      |  CAST(SUM(CASE WHEN m >= 1 THEN n_chars ELSE 0 END) AS BIGINT)
      |    AS sel_chars,
      |  CAST((1000000 * SUM(CASE WHEN m >= 1 THEN n_chars ELSE 0 END))
      |    // (SELECT t FROM tv) AS BIGINT) AS sel_ppm
      |FROM h GROUP BY source ORDER BY source""".stripMargin

  // ---------------------------------------------------------------- t50
  /** Count-Min sketch error audit (Cormode & Muthukrishnan 2005): build
    * the 4×1024 CMS a streaming frequency estimator typically ships,
    * then measure its overestimation on the top-50 tokens against exact
    * counts — the calibration read before trusting sketch counts for
    * heavy-hitter cutoffs or mixture weights. The sketch is a pure
    * deterministic function of the data (row hashes are disjoint 12-bit
    * slices of md5, mod 1024), so BOTH engines rebuild the identical
    * sketch and the audit gates bit-exact: true count, CMS estimate
    * (min over the 4 rows), and the overestimate — never negative, by
    * construction — per token.
    *
    * Scale (100 TB): the sketch aggregate map-side-combines to ≤ 4·1024
    * cells per partition regardless of corpus size (that is the point
    * of a CMS) and the final table is 4096 rows — broadcast by
    * definition of the sketch params; exact top-50 counts ride the
    * vocabulary aggregate; the probe joins 200 (token, row) keys
    * against the broadcast sketch. */
  /** CMS geometry of t50: 4 rows × 1024 buckets; row hashes are disjoint
    * 12-bit slices of md5, so the sketch is a deterministic function of
    * the data. */
  private[graft] val CmsRows = 4
  private[graft] val CmsWidth = 1024
  private[graft] def cmsBucket(w: Column, row: Int): Column =
    (conv(substring(md5(w), 1 + 3 * row, 3), 16, 10)
      .cast(LongType) % CmsWidth).cast(IntegerType)

  def t50(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // ONE corpus-sized pass (round 16): the sketch is a linear function
    // of the vocabulary counts — Σ_tokens 1[h(w)=cell] = Σ_types
    // cnt_w·1[h(w)=cell] — so cells derive from the SAME vocabulary
    // aggregate the top-50 probe reads (exactly how the oracle's `cms`
    // CTE builds it from `cnt`), and the corpus is exploded/exchanged
    // once, not twice. The vocab frame is type-bounded (Heaps-law
    // sublinear), so the lazy checkpoint pins a frame that CANNOT grow
    // like the corpus — the t38 exploded-frame rule does not apply.
    // Measured at the 10x stress tier: 10.0 s (two-pass) → 5.7 s; the
    // same-window DuckDB bar is 2.2 s (single-process vocabulary hash
    // agg — the residual is the one corpus exchange Spark pays and a
    // single process does not, which is the distributable part).
    val freq = Tables.t(s, dir, "documents")
      .select(explode(words($"text")).as("w"))
      .groupBy($"w").agg(count(lit(1)).as("true_cnt"))
      .localCheckpoint(eager = false) // reused: sketch cells + top-50
    val cms = freq.select(explode(array(
        (0 until CmsRows).map(i =>
          struct(lit(i).as("r"), cmsBucket($"w", i).as("b"))): _*)).as("c"),
        $"true_cnt")
      .groupBy(col("c.r").as("r"), col("c.b").as("b"))
      .agg(sum($"true_cnt").as("cell"))
    val top = freq.orderBy($"true_cnt".desc, $"w").limit(50)
    val probes = top.select($"w", $"true_cnt", explode(array(
        (0 until CmsRows).map(i =>
          struct(lit(i).as("r"), cmsBucket($"w", i).as("b"))): _*)).as("c"))
      .select($"w", $"true_cnt", $"c.r".as("r"), $"c.b".as("b"))
    probes.join(broadcast(cms), Seq("r", "b"))
      .groupBy($"w", $"true_cnt")
      .agg(min($"cell").as("cms_est"))
      .withColumn("overest", $"cms_est" - $"true_cnt")
      .orderBy($"true_cnt".desc, $"w")
  }

  val t50Sql: String = {
    // 12-bit value of hex chars [1+3r .. 3+3r] of m, mod 1024
    def parse(row: Int): String = {
      val terms = (0 until 3).map { j =>
        val w = 1 << (4 * (2 - j))
        s"(strpos('0123456789abcdef', substr(m, ${1 + 3 * row + j}, 1)) - 1) * $w"
      }.mkString(" + ")
      s"CAST(($terms) % 1024 AS INTEGER)"
    }
    val buckets = (0 until 4).map(r => s"SELECT w, $r AS r, ${parse(r)} AS b FROM hm")
      .mkString("\nUNION ALL\n")
    s"""WITH tok AS (
       |  SELECT w FROM (SELECT string_split(text, ' ') AS ws FROM documents),
       |       UNNEST(ws) AS t(w)),
       |cnt AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS true_cnt
       |        FROM tok GROUP BY w),
       |hm AS (SELECT w, md5(w) AS m FROM cnt),
       |bk AS ($buckets),
       |cms AS (SELECT r, b, CAST(SUM(true_cnt) AS BIGINT) AS cell
       |        FROM bk JOIN cnt USING (w) GROUP BY r, b),
       |top AS (SELECT w, true_cnt FROM cnt
       |        ORDER BY true_cnt DESC, w LIMIT 50)
       |SELECT top.w, top.true_cnt,
       |  CAST(MIN(cms.cell) AS BIGINT) AS cms_est,
       |  CAST(MIN(cms.cell) - top.true_cnt AS BIGINT) AS overest
       |FROM top JOIN bk ON top.w = bk.w
       |JOIN cms ON bk.r = cms.r AND bk.b = cms.b
       |GROUP BY top.w, top.true_cnt
       |ORDER BY top.true_cnt DESC, top.w""".stripMargin
  }

  // ---------------------------------------------------------------- t51
  /** Corpus-trained multinomial Naive-Bayes language classifier over the
    * [[HashBuckets]]-dim hashing-trick features (t36's kernel) — the
    * trained-model upgrade over t38's profile-membership scorer. The
    * model is the classic add-one-smoothed NB table: per class,
    * like_ppm[b] = ⌊10⁶·(cnt_b+1)/(total+B)⌋ and
    * prior_ppm = ⌊10⁶·(n_docs+1)/(N+|langs|)⌋ — exact integer ppm, so
    * the frozen model is bit-identical in any engine. Scoring replaces
    * the (transcendental, engine-divergent) log-likelihood sum with the
    * exact integer surrogate score = prior_ppm + Σ_b cnt_b·like_ppm[b]
    * — a deterministic linear scorer over the SAME trained table, argmax
    * with a lang-ascending total tiebreak (the t38 discipline).
    *
    * Scale (100 TB): training is one narrow kernel scan + a (lang,
    * bucket) rollup of |langs|·B cells; the model is parameter-bounded
    * (|langs|·(B+1) rows — SURVEY §8's algorithm-parameter class), so it
    * collects and embeds as literals and scoring is a PURE NARROW scan
    * (compiled zip_with dot products, no join, no shuffle). */
  def t51(s: SparkSession, dir: String): DataFrame =
    Q.sortedNarrow(
      nbClassify(Tables.t(s, dir, "documents"), nbModel(Tables.t(s, dir, "documents"))),
      col("doc_id"))

  /** Train the add-one-smoothed NB table: (lang, prior_ppm,
    * like_ppm[HashBuckets]), langs ascending. The collect is bounded by
    * |langs|·B (parameter-sized); the ppm divisions happen driver-side
    * in BigInt — truncation toward zero on positives, exactly DuckDB's
    * `//` and Spark's `div`. */
  private[graft] def nbModel(docsIn: DataFrame): Seq[(String, Long, Seq[Long])] = {
    val s = docsIn.sparkSession
    import s.implicits._
    val pairs = docsIn
      .select($"lang",
        graft.functions.HashedBowCounts($"text", HashBuckets).as("cnts"))
      .select($"lang", posexplode($"cnts").as(Seq("bucket", "cnt")))
      .groupBy($"lang", $"bucket").agg(sum($"cnt").as("cb"))
      .collect().map(r => (r.getString(0), r.getInt(1), r.getLong(2)))
    val docCounts = docsIn.groupBy($"lang").agg(count(lit(1)).as("nd"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    val nTotal = docCounts.values.sum
    val nLangs = docCounts.size
    pairs.groupBy(_._1).toSeq.sortBy(_._1).map { case (lang, rows) =>
      val tl = rows.map(_._3).sum
      val likes = rows.sortBy(_._2).map { case (_, _, cb) =>
        (BigInt(cb + 1) * 1000000 / (tl + HashBuckets)).toLong
      }
      val prior =
        (BigInt(docCounts(lang) + 1) * 1000000 / (nTotal + nLangs)).toLong
      (lang, prior, likes.toSeq)
    }
  }

  /** Classify any (doc_id, lang, text) frame against a FROZEN model —
    * split out of t51 so the spec can score hand-built docs against a
    * hand-built model. Narrow per-row work only. */
  private[graft] def nbClassify(docsIn: DataFrame,
      model: Seq[(String, Long, Seq[Long])]): DataFrame = {
    val s = docsIn.sparkSession
    import s.implicits._
    // empty corpus ⇒ empty model ⇒ every doc classifies 'und' at score 0
    val hitsArr =
      if (model.isEmpty) array(struct(lit(0L).as("s"), lit("und").as("lang")))
      else array(model.sortBy(_._1).map { case (l, prior, likes) =>
        struct(
          (lit(prior) + aggregate(
            zip_with($"__cnts", typedlit(likes), (c, w) => c * w),
            lit(0L), (a, x) => a + x)).as("s"),
          lit(l).as("lang"))
      }: _*)
    docsIn
      .select($"doc_id", $"lang".as("labeled_lang"),
        graft.functions.HashedBowCounts($"text", HashBuckets).as("__cnts"))
      .select($"doc_id", $"labeled_lang", hitsArr.as("__hits"))
      .select($"doc_id", $"labeled_lang", $"__hits",
        array_max($"__hits".getField("s")).as("score"))
      .select($"doc_id", $"labeled_lang",
        element_at(filter($"__hits", h => h.getField("s") === $"score"), 1)
          .getField("lang").as("pred_lang"),
        $"score")
      .withColumn("is_match", $"pred_lang" === $"labeled_lang")
  }

  /** The shared t51/t52 oracle ladder: tokenize→hash→bucket counts, the
    * add-one-smoothed NB table, per-(doc, lang) scores, and the ranked
    * best prediction (rn = 1 row per doc). */
  private val nbSqlLadder: String =
    s"""b AS (
       |  SELECT doc_id, lang, list_transform(string_split(text, ' '), w ->
       |    list_reduce(
       |      list_prepend(CAST(0 AS BIGINT),
       |        list_transform(string_split(w, ''), c -> CAST(ascii(c) AS BIGINT))),
       |      (a, x) -> (a * 31 + x) % 1000000007) % $HashBuckets) AS bk
       |  FROM documents),
       |c AS (
       |  SELECT doc_id, lang, list_transform(range($HashBuckets), i ->
       |    CAST(len(list_filter(bk, x -> x = i)) AS BIGINT)) AS cnts
       |  FROM b),
       |p AS (
       |  SELECT doc_id, lang,
       |    UNNEST(range($HashBuckets)) AS bucket, UNNEST(cnts) AS cnt
       |  FROM c),
       |cls AS (SELECT lang AS plang, bucket, SUM(cnt) AS cb
       |        FROM p GROUP BY 1, 2),
       |ltot AS (SELECT plang, SUM(cb) AS tl FROM cls GROUP BY 1),
       |likes AS (
       |  SELECT cls.plang, bucket,
       |    ((cb + 1) * 1000000) // (tl + $HashBuckets) AS like_ppm
       |  FROM cls JOIN ltot USING (plang)),
       |gtot AS (SELECT COUNT(*) AS ndt, COUNT(DISTINCT lang) AS nl
       |         FROM documents),
       |priors AS (
       |  SELECT lang AS plang,
       |    ((COUNT(*) + 1) * 1000000) // (MAX(ndt) + MAX(nl)) AS prior_ppm
       |  FROM documents, gtot GROUP BY 1),
       |scores AS (
       |  SELECT p.doc_id, likes.plang,
       |    MAX(priors.prior_ppm) + SUM(p.cnt * likes.like_ppm) AS score
       |  FROM p
       |  JOIN likes USING (bucket)
       |  JOIN priors ON likes.plang = priors.plang
       |  GROUP BY 1, 2),
       |best AS (
       |  SELECT doc_id, plang, score, row_number() OVER (
       |    PARTITION BY doc_id ORDER BY score DESC, plang ASC) AS rn
       |  FROM scores)""".stripMargin

  val t51Sql: String =
    s"""WITH $nbSqlLadder
       |SELECT d.doc_id, d.lang AS labeled_lang, b.plang AS pred_lang,
       |  CAST(b.score AS BIGINT) AS score,
       |  b.plang = d.lang AS is_match
       |FROM documents d JOIN best b ON d.doc_id = b.doc_id AND b.rn = 1
       |ORDER BY d.doc_id""".stripMargin

  // ---------------------------------------------------------------- t52
  /** Calibration (reliability) audit of t51's trained classifier — the
    * curve every model-gated curation pipeline must read before trusting
    * a score cutoff: per global score decile, document count, correct
    * predictions, exact accuracy ppm, and the decile's score bounds. A
    * well-calibrated scorer shows accuracy rising monotonically with the
    * decile; a flat curve says the score carries no signal and a cutoff
    * is arbitrary. Deciles are SQL-ntile-exact over the total
    * (score, doc_id) order on the distributed [[globalNtile]] substrate
    * (range repartition + per-partition offsets — NO single-partition
    * window), so the bucketing is bit-identical in both engines.
    *
    * Scale (100 TB): scoring is t51's pure narrow literal-model scan;
    * the ntile substrate is the t14/t46 machinery (≤ one row per
    * partition to the driver); the rollup is 10 cells. */
  def t52(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = Tables.t(s, dir, "documents")
    val scored = nbClassify(docs, nbModel(docs))
      .select($"doc_id", $"score", $"is_match")
    globalNtile(scored, 10, $"score", $"doc_id")
      .groupBy($"decile")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(when($"is_match", 1L).otherwise(0L)).as("n_correct"),
        min($"score").as("min_score"),
        max($"score").as("max_score"))
      .withColumn("accuracy_ppm", expr("(1000000 * n_correct) div n_docs"))
      .select($"decile", $"n_docs", $"n_correct", $"accuracy_ppm",
        $"min_score", $"max_score")
      .orderBy($"decile")
  }

  val t52Sql: String =
    s"""WITH $nbSqlLadder,
       |perdoc AS (
       |  SELECT d.doc_id, CAST(b.score AS BIGINT) AS score,
       |    b.plang = d.lang AS ok
       |  FROM documents d JOIN best b ON d.doc_id = b.doc_id AND b.rn = 1),
       |ntiled AS (
       |  SELECT *, ntile(10) OVER (ORDER BY score, doc_id) AS decile
       |  FROM perdoc)
       |SELECT CAST(decile AS INTEGER) AS decile,
       |  CAST(COUNT(*) AS BIGINT) AS n_docs,
       |  CAST(SUM(CASE WHEN ok THEN 1 ELSE 0 END) AS BIGINT) AS n_correct,
       |  CAST((1000000 * SUM(CASE WHEN ok THEN 1 ELSE 0 END)) // COUNT(*)
       |    AS BIGINT) AS accuracy_ppm,
       |  CAST(MIN(score) AS BIGINT) AS min_score,
       |  CAST(MAX(score) AS BIGINT) AS max_score
       |FROM ntiled GROUP BY decile ORDER BY decile""".stripMargin


  // ---------------------------------------------------------------- t53
  /** Discrimination (ranking-quality) audit of t51's trained classifier —
    * the exact Mann-Whitney AUC of the NB score separating correct from
    * incorrect predictions, the companion readout to t52's calibration:
    * calibration says whether a cutoff's accuracy is what the score
    * promises, AUC says whether ANY cutoff can separate at all. Computed
    * tie-exactly from midranks — AUC = (Σ midrank(pos) − P(P+1)/2)/(P·N)
    * — in pure integer arithmetic: per distinct score, (n, n_pos) counts;
    * cumulative n on [[Q.rankedPrefix]]; the ×2-scaled midrank identity
    * Σ2·MR(pos) = Σ n_pos·(2·cum − n + 1); one DECIMAL(38)-promoted
    * integral division to ppm (the d31 rule — at 10¹⁰ docs the rank
    * products overflow a long).
    *
    * Scale (100 TB): scoring is t51's narrow literal-model scan; the
    * per-score collapse is one map-side-combining aggregate over the
    * (unbounded, sublinear) distinct-score domain; the cumulative ranks
    * ride the distributed substrate — no single-partition window; the
    * final is a keyless aggregate (exactly one row on any input). */
  def t53(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = Tables.t(s, dir, "documents")
    rankAuc(nbClassify(docs, nbModel(docs)).select($"score", $"is_match"))
  }

  /** Exact midrank AUC of a (score, is_match) frame — split out so the
    * spec can pin the Mann-Whitney identities (perfect separation = 10⁶,
    * all-tied = ½·10⁶). */
  private[graft] def rankAuc(scored: DataFrame): DataFrame = {
    val s = scored.sparkSession
    import s.implicits._
    val grp = scored.groupBy($"score").agg(
      count(lit(1)).as("n"),
      sum(when($"is_match", 1L).otherwise(0L)).as("np"))
    val (ranked, _, _) = Q.rankedPrefix(grp, Seq($"score".asc), Seq("n"))
    ranked
      .agg(
        sum($"np".cast(DecimalType(38, 0)) *
          (lit(2) * $"__cum_n" - $"n" + 1)).as("s2"),
        sum($"np").as("p"), sum($"n").as("tot"))
      .select(
        coalesce($"tot", lit(0L)).as("n_docs"),
        coalesce($"p", lit(0L)).as("n_pos"),
        coalesce($"tot" - $"p", lit(0L)).as("n_neg"),
        expr("""cast(case when p > 0 and tot - p > 0 then
                ((s2 - cast(p as decimal(38,0)) * (p + 1)) * 1000000)
                  div (2 * cast(p as decimal(38,0)) * (tot - p))
                end as bigint)""").as("auc_ppm"))
  }

  val t53Sql: String =
    s"""WITH $nbSqlLadder,
       |perdoc AS (
       |  SELECT d.doc_id, CAST(b.score AS BIGINT) AS score,
       |    b.plang = d.lang AS ok
       |  FROM documents d JOIN best b ON d.doc_id = b.doc_id AND b.rn = 1),
       |grp AS (
       |  SELECT score, CAST(COUNT(*) AS BIGINT) AS n,
       |    CAST(SUM(CASE WHEN ok THEN 1 ELSE 0 END) AS BIGINT) AS np
       |  FROM perdoc GROUP BY score),
       |cml AS (
       |  SELECT *, SUM(n) OVER (ORDER BY score
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
       |  FROM grp),
       |t AS (SELECT SUM(np * (2 * cum - n + 1)) AS s2,
       |             SUM(np) AS p, SUM(n) AS tot FROM cml)
       |SELECT CAST(COALESCE(tot, 0) AS BIGINT) AS n_docs,
       |  CAST(COALESCE(p, 0) AS BIGINT) AS n_pos,
       |  CAST(COALESCE(tot - p, 0) AS BIGINT) AS n_neg,
       |  CAST(CASE WHEN p > 0 AND tot - p > 0 THEN
       |    ((s2 - p * (p + 1)) * 1000000) // (2 * p * (tot - p))
       |  END AS BIGINT) AS auc_ppm
       |FROM t""".stripMargin

  // ---------------------------------------------------------------- t54
  /** End-to-end curation pipeline — the cross-family composition the
    * standalone metrics feed (VERDICT r14 item 7's un-mined seam): ONE
    * gated plan chains
    *   (1) d30's soft-dedup mass: per-source EFFECTIVE document counts
    *       under 1/cluster-size reweighting (He et al. 2024,
    *       arXiv:2407.04126) — duplicates stop inflating a source's
    *       claim on the budget;
    *   (2) t23's temperature-scaled apportionment: 1000 training slots
    *       split ∝ sqrt(effective mass) by the largest-remainder method
    *       (the [[mixtureBudget]] kernel, reused verbatim);
    *   (3) t44's weighted round-robin interleave over ONLY the kept
    *       docs: each source contributes its first target_docs documents
    *       in content-keyed order (md5, doc_id), stride 10⁶ div
    *       alloc_ppm, first 200 schedule slots emitted.
    * The readout is the first-batch manifest a training run would
    * actually consume after dedup-aware budgeting — the three planning
    * artifacts composed the way a pipeline composes them.
    *
    * Determinism: integer floor divisions end to end except t23's
    * sqrt+round(·,6) (the pinned engine-exact pattern); total order
    * (k, source, p) with md5/doc_id tiebreaks.
    *
    * Scale (100 TB): text never shuffles (both passes project doc_id/
    * source/md5 map-side — recomputing the cheap digest scan beats
    * checkpointing a corpus frame, the t38 lesson); the cluster window
    * rides the d30 digest-keyed collapsed frame; budget and allocation
    * are |sources|-row broadcasts; the keep-filter bounds everything
    * downstream by the BUDGET (≤ 1000 rows), so the interleave and
    * final top-200 are parameter-scale. The per-source position window
    * is the once-per-epoch shard sort (t44's). */
  def t54(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    def perDoc = Tables.t(s, dir, "documents")
      .select($"doc_id", $"source", md5($"text").as("h"))
    // (1) d30 substrate: effective per-source mass under 1/c weights
    val grp = perDoc.groupBy($"h", $"source").agg(count(lit(1)).as("n"))
    val eff = grp
      .withColumn("c", sum($"n").over(Window.partitionBy($"h")))
      .groupBy($"source")
      .agg(sum(expr("n * (1000000 div c)")).as("n_docs"))
    // (2) t23 kernel on the effective mass
    val alloc = mixtureBudget(eff, 1000L)
      .filter($"target_docs" > 0)
      .select($"source", $"target_docs",
        expr("(1000000 * target_docs) div 1000").as("alloc_ppm"))
    // (3) t44 interleave over the kept prefix of each source
    val pos = perDoc.withColumn("p",
      row_number().over(Window.partitionBy($"source").orderBy($"h", $"doc_id"))
        .cast(LongType))
    val first = pos.join(broadcast(alloc), Seq("source"))
      .filter($"p" <= $"target_docs")
      .withColumn("k", expr("(p * 1000000) div alloc_ppm"))
      .select($"doc_id", $"source", $"p", $"k")
      .orderBy($"k", $"source", $"p").limit(200)
    first
      .withColumn("train_pos",
        row_number().over(Window.orderBy($"k", $"source", $"p")).cast(LongType))
      .select($"train_pos", $"doc_id", $"source", $"p", $"k")
      .orderBy($"train_pos")
  }

  val t54Sql: String =
    """WITH perdoc AS (
      |  SELECT doc_id, source, md5(text) AS h FROM documents),
      |g AS (SELECT h, source, COUNT(*) AS n FROM perdoc GROUP BY 1, 2),
      |cw AS (SELECT *, SUM(n) OVER (PARTITION BY h) AS c FROM g),
      |eff AS (SELECT source, CAST(SUM(n * (1000000 // c)) AS BIGINT) AS n_docs
      |        FROM cw GROUP BY source),
      |counts AS (SELECT source, n_docs,
      |    CAST(floor(round(sqrt(n_docs), 6) * 1000000) AS BIGINT) AS w_ppm
      |  FROM eff),
      |tot AS (SELECT CAST(SUM(w_ppm) AS BIGINT) AS w_sum FROM counts),
      |based AS (SELECT source, n_docs, w_ppm, w_sum,
      |    (w_ppm * 1000) // w_sum AS base,
      |    w_ppm * 1000 - ((w_ppm * 1000) // w_sum) * w_sum AS rem
      |  FROM counts, tot),
      |ranked AS (SELECT *, SUM(base) OVER () AS n_base,
      |    row_number() OVER (ORDER BY rem DESC, source) AS rrank
      |  FROM based),
      |alloc AS (SELECT source,
      |    CAST(base + CASE WHEN rrank <= 1000 - n_base THEN 1 ELSE 0 END
      |      AS BIGINT) AS target_docs
      |  FROM ranked),
      |pos AS (SELECT doc_id, source,
      |    CAST(row_number() OVER (PARTITION BY source ORDER BY h, doc_id)
      |      AS BIGINT) AS p
      |  FROM perdoc),
      |kept AS (SELECT pos.doc_id, pos.source, p,
      |    (1000000 * a.target_docs) // 1000 AS alloc_ppm
      |  FROM pos JOIN alloc a ON pos.source = a.source
      |  WHERE a.target_docs > 0 AND p <= a.target_docs),
      |keyed AS (SELECT doc_id, source, p,
      |    CAST((p * 1000000) // alloc_ppm AS BIGINT) AS k FROM kept),
      |lim AS (SELECT * FROM keyed ORDER BY k, source, p LIMIT 200)
      |SELECT CAST(row_number() OVER (ORDER BY k, source, p) AS BIGINT)
      |    AS train_pos,
      |  doc_id, source, p, k
      |FROM lim ORDER BY train_pos""".stripMargin

  def all: Seq[Q] = Seq(
    Q("t01_token_stats", t01, Some(t01Sql)),
    Q("t02_quality_score", t02, Some(t02Sql)),
    Q("t03_langid", t03, Some(t03Sql)),
    Q("t04_fingerprint", t04, Some(t04Sql)),
    Q("t05_bpe_tokens", t05, Some(t05Sql)),
    Q("t06_repetition", t06, Some(t06Sql)),
    Q("t07_pack_sequences", t07, Some(t07Sql)),
    Q("t08_hash_split", t08, Some(t08Sql)),
    Q("t09_quota_sample", t09, Some(t09Sql)),
    Q("t10_tfidf", t10, Some(t10Sql)),
    Q("t11_bm25", t11, Some(t11Sql)),
    Q("t12_ngram_counts", t12, Some(t12Sql)),
    Q("t13_pii_scrub", t13, Some(t13Sql)),
    Q("t14_deciles", t14, Some(t14Sql)),
    Q("t15_mixture_epochs", t15, Some(t15Sql)),
    Q("t16_length_quartiles", t16, Some(t16Sql)),
    Q("t17_charset_profile", t17, Some(t17Sql)),
    Q("t18_source_cap", t18, Some(t18Sql)),
    Q("t19_kmv_distinct", t19, Some(t19Sql)),
    Q("t20_bigram_support", t20, Some(t20Sql)),
    Q("t21_readability", t21, Some(t21Sql)),
    Q("t22_hapax_profile", t22, Some(t22Sql)),
    Q("t23_mixture_budget", t23, Some(t23Sql)),
    Q("t24_zipf_curve", t24, Some(t24Sql)),
    Q("t25_chunk_stride", t25, Some(t25Sql)),
    Q("t26_vocab_growth", t26, Some(t26Sql)),
    Q("t27_lexical_diversity", t27, Some(t27Sql)),
    Q("t28_lang_fertility", t28, Some(t28Sql)),
    Q("t29_atomic_packing", t29, Some(t29Sql)),
    Q("t30_lang_confusion", t30, Some(t30Sql)),
    Q("t31_ngram_novelty", t31, Some(t31Sql)),
    Q("t32_oov_profile", t32, Some(t32Sql)),
    Q("t33_source_drift", t33, Some(t33Sql)),
    Q("t34_dedup_token_loss", t34, Some(t34Sql)),
    Q("t35_surprisal", t35, Some(t35Sql)),
    Q("t36_hashed_bow", t36, Some(t36Sql)),
    Q("t37_quality_rules", t37, Some(t37Sql)),
    Q("t38_trigram_langid", t38, Some(t38Sql)),
    Q("t39_bpe_learned", t39, Some(t39Sql)),
    Q("t40_bigram_backoff", t40, Some(t40Sql)),
    Q("t41_leakage_safe_split", t41, Some(t41Sql)),
    Q("t42_length_burstiness", t42, Some(t42Sql)),
    Q("t43_vocab_overlap", t43, Some(t43Sql)),
    Q("t44_curriculum_interleave", t44, Some(t44Sql)),
    Q("t45_quality_quantiles", t45, Some(t45Sql)),
    Q("t46_dsir_selection", t46, Some(t46Sql)),
    Q("t47_k_anonymity", t47, Some(t47Sql)),
    Q("t48_token_gini", t48, Some(t48Sql)),
    Q("t49_pps_sample", t49, Some(t49Sql)),
    Q("t50_cms_audit", t50, Some(t50Sql)),
    Q("t51_nb_langid", t51, Some(t51Sql)),
    Q("t52_nb_calibration", t52, Some(t52Sql)),
    Q("t53_nb_auc", t53, Some(t53Sql)),
    Q("t54_curation_pipeline", t54, Some(t54Sql)))
}
