package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.{Scaffold, Tables}
import graft.streaming.EventStreams
import graft.functions.TextFunctions._

/** Text-analysis operators over `documents` (SURVEY §2.9 extensions):
  * token/char statistics, quality scoring, language ID. Every query is
  * a single codegen'd projection or aggregation — the 100 TB shape is
  * "scan text column, emit small stats", no shuffle except the final
  * tiny group-by.
  */
object TextAnalysis {

  /** Per-document token/char statistics. */
  def textStats(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir).select(
      col("doc_id"),
      tokenCount(col("text")).as("n_tok"),
      subwordCount(col("text")).as("n_subword"),
      charCount(col("text")).as("n_char"),
      punctRatio(col("text")).as("punct_ratio"),
      meanTokenLen(col("text")).as("mean_tok_len"))
    .orderBy(col("doc_id"))

  val textStatsSql: String =
    """SELECT doc_id,
      |  len(list_filter(regexp_split_to_array(trim(text), '\s+'),
      |      t -> len(t) > 0)) AS n_tok,
      |  CAST(list_sum(list_transform(
      |      list_filter(regexp_split_to_array(trim(text), '\s+'),
      |                  t -> len(t) > 0),
      |      t -> greatest(1, CAST(ceil(len(t)/4.0) AS BIGINT))))
      |    AS BIGINT) AS n_subword,
      |  CAST(length(text) AS BIGINT) AS n_char,
      |  CASE WHEN length(text) = 0 THEN 0.0 ELSE
      |    CAST(length(regexp_replace(text, '[^.,!?;:''"()\[\]-]', '', 'g'))
      |      AS DOUBLE) / length(text) END AS punct_ratio,
      |  CASE WHEN len(list_filter(regexp_split_to_array(trim(text), '\s+'),
      |                t -> len(t) > 0)) = 0 THEN 0.0 ELSE
      |    CAST(list_sum(list_transform(
      |        list_filter(regexp_split_to_array(trim(text), '\s+'),
      |                    t -> len(t) > 0), t -> len(t))) AS DOUBLE)
      |    / len(list_filter(regexp_split_to_array(trim(text), '\s+'),
      |          t -> len(t) > 0)) END AS mean_tok_len
      |FROM documents
      |ORDER BY doc_id""".stripMargin

  /** Quality scoring: the standard cheap curation pre-filter. */
  def textQuality(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir).select(
      col("doc_id"),
      stopwordRatio(col("text")).as("stopword_ratio"),
      qualityScore(col("text")).as("quality"))
    .orderBy(col("doc_id"))

  private val stopList = EnStopwords.map(w => s"'$w'").mkString(", ")

  /** Quality-score SQL over any (doc_id, text) relation — shared by
    * the text_quality gate (over `documents`) and
    * [[Dedup.keepBestSql]] (over the mutated dedup corpus). Mirrors
    * [[graft.functions.TextFunctions.qualityScore]] term for term. */
  def qualitySelectSql(from: String): String =
    s"""SELECT doc_id, stopword_ratio,
       |  least(n_char / 200.0, 1.0) * 0.4
       |    + least(stopword_ratio * 4.0, 1.0) * 0.4
       |    + (1.0 - least(punct_ratio * 5.0, 1.0)) * 0.2 AS quality
       |FROM (
       |  SELECT doc_id,
       |    CASE WHEN len(toks) = 0 THEN 0.0 ELSE
       |      CAST(len(list_filter(toks, t -> t IN ($stopList)))
       |        AS DOUBLE) / len(toks) END AS stopword_ratio,
       |    CAST(length(text) AS DOUBLE) AS n_char,
       |    CASE WHEN length(text) = 0 THEN 0.0 ELSE
       |      CAST(length(regexp_replace(text, '[^.,!?;:''"()\\[\\]-]', '', 'g'))
       |        AS DOUBLE) / length(text) END AS punct_ratio
       |  FROM (SELECT doc_id, text,
       |          list_filter(regexp_split_to_array(trim(lower(text)), '\\s+'),
       |                      t -> len(t) > 0) AS toks
       |        FROM $from))""".stripMargin

  val textQualitySql: String =
    s"""${qualitySelectSql("documents")}
       |ORDER BY doc_id""".stripMargin

  /** Language-ID confusion counts: heuristic prediction vs the
    * table's labeled `lang`. */
  def langIdConfusion(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(col("lang"), langId(col("text")).as("pred"))
      .groupBy(col("lang"), col("pred"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("lang"), col("pred"))

  private def hitsSql(lang: String): String = {
    val markers = graft.functions.TextFunctions.LangMarkers(lang)
      .map(w => s"'$w'").mkString(", ")
    s"len(list_filter(toks, t -> t IN ($markers)))"
  }

  /** `(lang, pred)` rows — the DuckDB replica of the fold in
    * TextFunctions.langId: languages in sorted order, strict > beats
    * the incumbent, all-zero → 'und'. Shared by the confusion gate
    * here and the macro-F1 gate in [[Evaluation]], so the two
    * oracles can never drift apart on predictor semantics. */
  val langPredSql: String = {
    val langs = graft.functions.TextFunctions.LangMarkers.keys.toSeq.sorted
    val hitCols = langs.map(l => s"${hitsSql(l)} AS h_$l").mkString(",\n    ")
    val greatest = langs.map(l => s"h_$l").mkString("greatest(", ", ", ")")
    val cases = langs.map(l => s"WHEN h_$l = $greatest THEN '$l'")
      .mkString("\n      ")
    s"""SELECT lang,
       |    CASE WHEN $greatest = 0 THEN 'und'
       |      $cases
       |      END AS pred
       |  FROM (
       |    SELECT lang,
       |      $hitCols
       |    FROM (SELECT lang,
       |            list_filter(regexp_split_to_array(trim(lower(text)), '\\s+'),
       |                        t -> len(t) > 0) AS toks
       |          FROM documents))""".stripMargin
  }

  /** Replicates the fold in TextFunctions.langId: languages in sorted
    * order, strict > beats the incumbent, all-zero → 'und'. */
  val langIdConfusionSql: String =
    s"""SELECT lang, pred, COUNT(*) AS n FROM (
       |$langPredSql)
       |GROUP BY lang, pred
       |ORDER BY lang, pred""".stripMargin

  /** Winnowing fingerprint check over the mutated corpus. The hash
    * values themselves aren't DuckDB-reproducible (xxhash64), so the
    * gate asserts the *defining properties* of winnowing instead:
    * a normalization-equivalent mutant (case/whitespace) yields the
    * IDENTICAL fingerprint set, and a one-token-dropped mutant — which
    * perturbs only the trailing w+k-2 windows — keeps high overlap.
    * Both are deterministic truths the oracle states as constants. */
  def winnowCheck(s: SparkSession, dir: String): DataFrame = {
    val fp = winnowDf(
      DocCorpus.withDuplicates(s, dir).filter(col("doc_id") % 10000 < 100),
      "doc_id", "text")
    val orig = fp.filter(col("doc_id") < 100).toDF("doc_id", "fp_o")
    val ws = fp.filter(col("doc_id").between(10000, 10099))
      .select((col("doc_id") - 10000).as("doc_id"), col("fp").as("fp_w"))
    val drop = fp.filter(col("doc_id") >= 20000)
      .select((col("doc_id") - 20000).as("doc_id"), col("fp").as("fp_d"))
    orig.join(broadcast(ws), "doc_id").join(broadcast(drop), "doc_id")
      .select(col("doc_id"),
        (size(array_except(col("fp_o"), col("fp_w"))) === 0 &&
         size(array_except(col("fp_w"), col("fp_o"))) === 0)
          .as("ws_identical"),
        (size(array_intersect(col("fp_o"), col("fp_d"))).cast(DoubleType) /
         size(array_union(col("fp_o"), col("fp_d"))).cast(DoubleType)
           >= 0.5).as("drop_similar"))
      .orderBy(col("doc_id"))
  }

  val winnowCheckSql: String =
    """SELECT doc_id, true AS ws_identical, true AS drop_similar
      |FROM documents WHERE doc_id < 100
      |ORDER BY doc_id""".stripMargin

  /** TF-IDF top terms per document (bounded to doc_id < 50 for the
    * gate): explode tokens → per-(doc, term) TF, corpus-wide DF, IDF
    * join, windowed top-3. Scale shape: the DF table is
    * O(vocabulary) — broadcast; the token explosion shuffles
    * (doc, term) pairs once for the TF aggregate; everything else is
    * projection. ln() is rounded to 6 decimals on both sides (one
    * libm call — engines agree far beyond 1e-6). */
  def tfidfTop(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    // corpus size as a broadcast scalar IN the plan — no eager
    // count() at build time; the whole query stays lazy
    val nDf = docs.agg(count(lit(1)).as("_n"))
    val terms = docs
      .select(col("doc_id"), explode(tokens(lower(col("text")))).as("term"))
    val tf = terms.groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("tf"))
    val df = terms.select(col("doc_id"), col("term")).distinct()
      .groupBy(col("term")).agg(count(lit(1)).as("df"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id"))
      .orderBy(col("tfidf").desc, col("term"))
    tf.filter(col("doc_id") < 50)
      .join(broadcast(df), "term")
      .crossJoin(broadcast(nDf))
      .withColumn("tfidf",
        round(col("tf") * log((col("_n") + 1.0) / (col("df") + 1.0)), 6))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 3)
      .select(col("doc_id"), col("rank").cast(LongType).as("rank"),
        col("term"), col("tfidf"))
      .orderBy(col("doc_id"), col("rank"))
  }

  val tfidfTopSql: String =
    """WITH terms AS (
      |  SELECT doc_id, unnest(list_filter(
      |    regexp_split_to_array(trim(lower(text)), '\s+'),
      |    t -> len(t) > 0)) AS term
      |  FROM documents),
      |tf AS (
      |  SELECT doc_id, term, COUNT(*) AS tf FROM terms
      |  GROUP BY doc_id, term),
      |df AS (
      |  SELECT term, COUNT(DISTINCT doc_id) AS df FROM terms
      |  GROUP BY term),
      |n AS (SELECT COUNT(*) AS n FROM documents),
      |scored AS (
      |  SELECT tf.doc_id, tf.term,
      |    ROUND(tf.tf * ln((n.n + 1.0) / (df.df + 1.0)), 6) AS tfidf
      |  FROM tf JOIN df USING (term) CROSS JOIN n
      |  WHERE tf.doc_id < 50)
      |SELECT doc_id,
      |  CAST(row_number() OVER w AS BIGINT) AS rank, term, tfidf
      |FROM scored
      |WINDOW w AS (PARTITION BY doc_id ORDER BY tfidf DESC, term)
      |QUALIFY row_number() OVER w <= 3
      |ORDER BY doc_id, rank""".stripMargin

  /** BM25 ranked retrieval (Robertson/Spärck Jones, k1=1.2, b=0.75)
    * for a fixed conjunctive term query — the classic quality-weighted
    * text search an LLM curation pipeline uses for targeted corpus
    * pulls.
    *
    * Determinism across engines: per-term tf/df/dl are exact integers;
    * the floating score is assembled in ONE projection with a fixed
    * syntactic order (contrib(t1) + contrib(t2) + contrib(t3)), never
    * a float SUM aggregate whose addend order Spark doesn't pin.
    * avgdl is exact-int sum(dl)/N — one division. ln() rounded to 1e-6
    * (same tolerance the tfidf gate uses).
    *
    * Scale shape: the token explode feeds one groupBy(doc_id) with the
    * query terms filtered BEFORE the shuffle (an `isin` over a literal
    * set — pushed into the scan side); corpus stats (N, avgdl, per-term
    * df) are a single tiny aggregate broadcast into the scoring
    * projection; the top-k is `orderBy().limit()` — Spark plans
    * TakeOrderedAndProject (per-partition heaps + driver merge of k),
    * NOT a single-partition global window sort.
    */
  def bm25TopK(s: SparkSession, dir: String,
      terms: Seq[String] = Seq("vector", "stream", "merge"),
      k: Int = 20): DataFrame = {
    val k1 = 1.2; val b = 0.75
    val docs = Tables.documents(s, dir)
      .select(col("doc_id"), tokens(lower(col("text"))).as("toks"))
      .withColumn("dl", size(col("toks")).cast(LongType))
    val exploded = docs
      .select(col("doc_id"), col("dl"), explode(col("toks")).as("term"))
      .filter(col("term").isin(terms: _*))
    val tfCols = terms.zipWithIndex.map { case (t, i) =>
      sum(when(col("term") === t, 1L).otherwise(0L)).as(s"tf_$i") }
    val perDoc = exploded.groupBy(col("doc_id"), col("dl"))
      .agg(tfCols.head, tfCols.tail: _*)
    // N + avgdl from the doc-length projection, per-term df from the
    // filtered explode — two small aggregates, one broadcast row.
    val dfCols = terms.zipWithIndex.map { case (t, i) =>
      countDistinct(when(col("term") === t, col("doc_id"))).as(s"df_$i") }
    val stats = docs.agg(
        count(lit(1)).as("n_docs"), sum(col("dl")).as("sum_dl"))
      .crossJoin(exploded.agg(dfCols.head, dfCols.tail: _*))
      .withColumn("avgdl", col("sum_dl").cast(DoubleType) / col("n_docs"))
    val contribs: org.apache.spark.sql.Column = terms.indices.map { i =>
      val tf = col(s"tf_$i").cast(DoubleType)
      val idf = log(lit(1.0) +
        (col("n_docs") - col(s"df_$i") + 0.5) / (col(s"df_$i") + 0.5))
      when(col(s"tf_$i") > 0,
        idf * tf * lit(k1 + 1.0) /
          (tf + lit(k1) * (lit(1.0 - b) + lit(b) * col("dl") / col("avgdl"))))
        .otherwise(lit(0.0))
    }.reduceLeft(_ + _)
    perDoc.crossJoin(broadcast(stats))
      .withColumn("score6", round(contribs, 6))
      .select(col("doc_id"), col("score6"))
      .orderBy(col("score6").desc, col("doc_id"))
      .limit(k)
  }

  def bm25TopKSql(k: Int = 20): String = {
    val terms = Seq("vector", "stream", "merge")
    val inList = terms.map(t => s"'$t'").mkString(", ")
    val tfSel = terms.zipWithIndex.map { case (t, i) =>
      s"SUM(CASE WHEN term = '$t' THEN 1 ELSE 0 END) AS tf_$i" }
      .mkString(",\n    ")
    val dfSel = terms.zipWithIndex.map { case (t, i) =>
      s"COUNT(DISTINCT CASE WHEN term = '$t' THEN doc_id END) AS df_$i" }
      .mkString(",\n    ")
    val contrib = terms.indices.map { i =>
      s"""(CASE WHEN tf_$i > 0 THEN
         |      ln(1.0 + (n_docs - df_$i + 0.5) / (df_$i + 0.5))
         |        * tf_$i * 2.2
         |        / (tf_$i + 1.2 * (0.25 + 0.75 * dl / avgdl))
         |      ELSE 0.0 END)""".stripMargin }
      .mkString("\n    + ")
    s"""WITH docs AS (
       |  SELECT doc_id,
       |    list_filter(regexp_split_to_array(trim(lower(text)), '\\s+'),
       |                t -> len(t) > 0) AS toks
       |  FROM documents),
       |lens AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl FROM docs),
       |exploded AS (
       |  SELECT d.doc_id, l.dl, unnest(d.toks) AS term
       |  FROM docs d JOIN lens l USING (doc_id)),
       |hits AS (SELECT * FROM exploded WHERE term IN ($inList)),
       |per_doc AS (
       |  SELECT doc_id, dl,
       |    $tfSel
       |  FROM hits GROUP BY doc_id, dl),
       |stats AS (
       |  SELECT
       |    (SELECT COUNT(*) FROM lens) AS n_docs,
       |    (SELECT CAST(SUM(dl) AS DOUBLE) / COUNT(*) FROM lens) AS avgdl,
       |    $dfSel
       |  FROM hits)
       |SELECT doc_id,
       |  round($contrib, 6) AS score6
       |FROM per_doc CROSS JOIN stats
       |ORDER BY score6 DESC, doc_id
       |LIMIT $k""".stripMargin
  }

  /** Unigram surprisal — the cheap, deterministic stand-in for
    * perplexity filtering (the curation step that drops gibberish and
    * boilerplate): per document, the mean negative log-probability of
    * its tokens under the corpus's own unigram distribution,
    * `mean(ln(T / count(token)))`. High = rare-token noise; low =
    * repetitive boilerplate.
    *
    * Determinism: each token's surprisal is snapped to a 1e-6-scaled
    * LONG before the per-doc mean (long sums commute; double sums
    * don't), so the result is independent of row order. Scale shape:
    * the unigram table is O(vocabulary) — broadcast; the explode
    * feeds one groupBy(doc_id); no other shuffle. */
  def unigramSurprisal(s: SparkSession, dir: String): DataFrame = {
    val toks = Tables.documents(s, dir)
      .select(col("doc_id"), explode(tokens(lower(col("text")))).as("term"))
    val cnt = toks.groupBy(col("term")).agg(count(lit(1)).as("c"))
    val tot = toks.agg(count(lit(1)).as("t"))
    toks.join(broadcast(cnt), "term")
      .crossJoin(broadcast(tot))
      .withColumn("s",
        floor(log(col("t").cast(DoubleType) / col("c")) * 1000000.0 + 0.5)
          .cast(LongType))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tok"),
        (sum(col("s")).cast(DoubleType) /
          (count(lit(1)) * 1000000.0)).as("surprisal"))
      .orderBy(col("doc_id"))
  }

  val unigramSurprisalSql: String =
    """WITH toks AS (
      |  SELECT doc_id, unnest(list_filter(
      |    regexp_split_to_array(trim(lower(text)), '\s+'),
      |    t -> len(t) > 0)) AS term
      |  FROM documents),
      |cnt AS (SELECT term, COUNT(*) AS c FROM toks GROUP BY term),
      |tot AS (SELECT COUNT(*) AS t FROM toks),
      |scored AS (
      |  SELECT toks.doc_id,
      |    CAST(floor(ln(CAST(tot.t AS DOUBLE) / cnt.c) * 1000000.0 + 0.5)
      |      AS BIGINT) AS s
      |  FROM toks JOIN cnt USING (term) CROSS JOIN tot)
      |SELECT doc_id, COUNT(*) AS n_tok,
      |  CAST(SUM(s) AS DOUBLE) / (COUNT(*) * 1000000.0) AS surprisal
      |FROM scored
      |GROUP BY doc_id
      |ORDER BY doc_id""".stripMargin

  /** Context-window chunking — the training-prep step that splits
    * documents into overlapping token windows (window `w`, stride
    * `s`, overlap `w - s`): chunk i covers tokens
    * [i·s + 1, i·s + w], and every document yields at least one
    * (possibly short) chunk. Pure per-row explode — embarrassingly
    * parallel, no shuffle at all (the gate's ORDER BY is the only
    * exchange); at 100 TB this runs at scan speed and the chunk
    * count is exactly what a token-budget packer downstream needs.
    */
  def chunk(docs: DataFrame, w: Int, s: Int): DataFrame =
    docs
      .select(col("doc_id"), tokens(lower(col("text"))).as("toks"))
      .withColumn("n", size(col("toks")))
      // extra full-stride chunks past the first window; integer
      // `div` truncates and DuckDB's // floors — they disagree only
      // below zero, which greatest(0, _) clamps away on both sides
      .withColumn("nc", lit(1) +
        greatest(lit(0), expr(s"(n - ${w - s + 1}) div $s")))
      .withColumn("chunk_idx",
        explode(sequence(lit(0L), col("nc").cast(LongType) - 1L)))
      .withColumn("ck",
        slice(col("toks"), (col("chunk_idx") * s + 1).cast("int"), lit(w)))
      .select(col("doc_id"), col("chunk_idx"),
        size(col("ck")).cast(LongType).as("n_tok"),
        // guarded: element_at(_, 0) throws under ANSI; an empty doc
        // yields one empty chunk with NULL head/tail instead
        when(size(col("ck")) > 0, element_at(col("ck"), 1)).as("head"),
        when(size(col("ck")) > 0,
          element_at(col("ck"), size(col("ck")))).as("tail"))

  /** Gate: 50-token windows, stride 40 (overlap 10). */
  def chunkGate(s: SparkSession, dir: String): DataFrame =
    chunk(Tables.documents(s, dir), w = 50, s = 40)
      .orderBy(col("doc_id"), col("chunk_idx"))

  val chunkSql: String =
    """WITH d AS (
      |  SELECT doc_id, list_filter(
      |    regexp_split_to_array(trim(lower(text)), '\s+'),
      |    t -> len(t) > 0) AS toks
      |  FROM documents),
      |c AS (SELECT doc_id, toks,
      |        1 + greatest(0, (len(toks) - 11) // 40) AS nc FROM d),
      |ch AS (SELECT doc_id, i - 1 AS chunk_idx,
      |         list_slice(toks, (i-1)*40 + 1, (i-1)*40 + 50) AS ck
      |       FROM c, unnest(generate_series(1, nc)) AS u(i))
      |SELECT doc_id, CAST(chunk_idx AS BIGINT) AS chunk_idx,
      |  CAST(len(ck) AS BIGINT) AS n_tok,
      |  ck[1] AS head, ck[len(ck)] AS tail
      |FROM ch
      |ORDER BY doc_id, chunk_idx""".stripMargin

  /** Count-min-sketch heavy hitters: the word 2-grams whose corpus
    * frequency is at least `phi` of all 2-gram occurrences, with
    * EXACT counts.
    *
    * Two-pass sketch-then-verify — the canonical 100 TB frequent-
    * items shape (Cormode & Muthukrishnan, J. Algorithms '05):
    *
    *   1. Sketch pass: one scan folding every gram occurrence into a
    *      d×w count-min array via `groupBy(row, bucket)` — map-side
    *      partial aggregation caps the shuffle at d·w (=4096) cells
    *      per task regardless of corpus size; the merged sketch
    *      (≤32 KB) is collected once, exactly like the IVF centroid
    *      pull in [[Similarity.annIvf]].
    *   2. Probe pass: the sketch ships back as `typedlit` lookup maps
    *      so the candidate filter is a pure codegen projection — no
    *      join, no shuffle. Only occurrences of candidate grams
    *      (est ≥ ⌈phi·N⌉) reach the exact `groupBy(gram)` count.
    *
    * CMS estimates never undercount, so the candidate set is a
    * superset of the true heavy hitters and the exact phase makes the
    * final answer sketch-independent — which is why a plain
    * `GROUP BY gram HAVING cnt ≥ ⌈phi·N⌉` oracle hash-matches it.
    * xxhash64 row seeds make the sketch deterministic.
    */
  def heavyHitters(s: SparkSession, dir: String,
      phi: Double = 0.0015, depth: Int = 4, width: Int = 1024): DataFrame = {
    def grams =
      Tables.documents(s, dir).select(explode(
        graft.plans.TextExpressions.tokenNGrams(
          split(col("text"), " "), 2, emitWholeShortDoc = false)).as("gram"))
    def bucket(r: Int) = pmod(xxhash64(lit(r), col("gram")), lit(width))
    val cells = grams
      .select(explode(array((0 until depth).map(r =>
        struct(lit(r).as("r"), bucket(r).as("b"))): _*)).as("rb"))
      .groupBy(col("rb.r").as("r"), col("rb.b").as("b"))
      .agg(count(lit(1)).as("cnt"))
      .collect()
    val rows = Array.fill(depth)(Map.newBuilder[Long, Long])
    cells.foreach(c => rows(c.getInt(0)) += (c.getLong(1) -> c.getLong(2)))
    val sketch = rows.map(_.result())
    val total = sketch(0).valuesIterator.sum
    val thr = math.ceil(phi * total).toLong
    val est = least((0 until depth).map(r =>
      coalesce(element_at(typedlit(sketch(r)), bucket(r)), lit(0L))): _*)
    grams
      .filter(est >= thr)
      .groupBy(col("gram")).agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") >= thr)
      .orderBy(col("cnt").desc, col("gram"))
  }

  val heavyHittersSql: String =
    """WITH tok AS (SELECT string_split(text, ' ') AS t FROM documents),
      |pos AS (SELECT t, unnest(range(1, greatest(len(t), 1))) AS i
      |        FROM tok),
      |g AS (SELECT array_to_string(t[i:i+1], ' ') AS gram FROM pos),
      |c AS (SELECT gram, COUNT(*) AS cnt FROM g GROUP BY gram),
      |n AS (SELECT SUM(cnt) AS total FROM c)
      |SELECT gram, cnt FROM c, n
      |WHERE cnt >= CAST(ceil(0.0015 * total) AS BIGINT)
      |ORDER BY cnt DESC, gram""".stripMargin

  /** Unicode-normalization gate: the ASCII corpus is mangled IN-QUERY
    * with accented uppercase substitutions and doubled spaces (the
    * same literal `replace`/`upper` chain on both engines), then the
    * [[graft.plans.TextNormalize]] kernel must restore it — so the
    * hash check exercises real NFD/mark-strip/NFC/lower/collapse
    * parity between the JVM and DuckDB's utf8proc, not a no-op pass
    * over ASCII. Pure codegen projection, zero shuffles. */
  def textNormalizeGate(s: SparkSession, dir: String): DataFrame = {
    val mangled = Seq(("A", "Á"), ("E", "Ë"), ("O", "Ö"),
      (" ", "  ")).foldLeft(upper(col("text"))) {
        case (c, (from, to)) => regexp_replace(c, from, to)
      }
    Tables.documents(s, dir).select(col("doc_id"),
      graft.plans.TextExpressions.textNormalize(mangled).as("norm_text"))
      .orderBy(col("doc_id"))
  }

  val textNormalizeSql: String =
    """SELECT doc_id,
      |  trim(regexp_replace(lower(strip_accents(nfc_normalize(
      |    replace(replace(replace(replace(upper(text),
      |      'A', 'Á'), 'E', 'Ë'), 'O', 'Ö'), ' ', '  ')
      |  ))), '\s+', ' ', 'g')) AS norm_text
      |FROM documents
      |ORDER BY doc_id""".stripMargin

  /** GPT-2 pre-tokenizer counts per document (the "BPE-ish regex"
    * token estimate): pure codegen'd regexp projection, zero
    * shuffles; the oracle evaluates the same RE2-safe pattern. */
  def pretokenize(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir).select(col("doc_id"),
      pretokenCount(col("text")).as("n_pretok"))
      .orderBy(col("doc_id"))

  val pretokenizeSql: String = {
    // SQL string literal: only the pattern's leading quote doubles
    // (DuckDB single-quoted strings keep backslashes literal)
    val pat = graft.functions.TextFunctions.PretokenPattern
      .replace("'", "''")
    s"""SELECT doc_id,
       |  CAST(len(regexp_extract_all(text, '$pat')) AS BIGINT)
       |    AS n_pretok
       |FROM documents
       |ORDER BY doc_id""".stripMargin
  }

  /** Distributed inverted-index build — the search-engine shard shape:
    * per term, document frequency, corpus-wide term frequency, and a
    * CAPPED postings list (top-`topN` docs by tf, doc_id tiebreak)
    * serialized `doc:tf|doc:tf` in rank order.
    *
    * Scale shape: the (term, doc_id) tf table is ONE shuffle with
    * map-side combine; df/total_tf partial-aggregate over it; postings
    * are rank-THEN-aggregate (row_number over the term partition,
    * filter ≤ topN, only then collect), so per-term state is bounded
    * by topN — an uncapped collect_list over a 100 TB corpus's "the"
    * posting would OOM. Everything downstream of tf is keyed on term,
    * so the aggregates and the final join reuse one partitioning —
    * exactly how an index shard would be laid out (partitionBy(term)
    * on write). Rank order (tf desc, doc_id asc) is total, so the
    * serialized postings string is deterministic and hash-gateable. */
  def invertedIndex(docs: DataFrame, topN: Int = 5): DataFrame = {
    val tf = docs
      .select(col("doc_id"), explode(tokens(lower(col("text")))).as("term"))
      .groupBy(col("term"), col("doc_id"))
      .agg(count(lit(1)).as("tf"))
    val idx = tf.groupBy(col("term")).agg(
      count(lit(1)).as("df"),
      sum(col("tf")).as("total_tf"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("term"))
      .orderBy(col("tf").desc, col("doc_id").asc)
    val postings = tf
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= topN)
      .groupBy(col("term"))
      .agg(array_join(
        transform(
          array_sort(collect_list(struct(col("rn"), col("doc_id"), col("tf")))),
          e => concat(e.getField("doc_id").cast(StringType), lit(":"),
                      e.getField("tf").cast(StringType))),
        "|").as("postings"))
    idx.join(postings, "term")
      .select(col("term"), col("df"), col("total_tf"), col("postings"))
      .orderBy(col("term"))
  }

  def invertedIndexGate(s: SparkSession, dir: String): DataFrame =
    invertedIndex(Tables.documents(s, dir))

  val invertedIndexSql: String =
    """WITH toks AS (
      |  SELECT doc_id,
      |    unnest(list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
      |             t -> len(t) > 0)) AS term
      |  FROM documents),
      |tf AS (SELECT term, doc_id, count(*) AS tf FROM toks GROUP BY 1, 2),
      |idx AS (SELECT term, count(*) AS df, CAST(sum(tf) AS BIGINT) AS total_tf
      |        FROM tf GROUP BY 1),
      |top AS (SELECT term, doc_id, tf,
      |          row_number() OVER (PARTITION BY term
      |                             ORDER BY tf DESC, doc_id) AS rn
      |        FROM tf),
      |post AS (SELECT term,
      |           string_agg(doc_id || ':' || tf, '|' ORDER BY rn) AS postings
      |         FROM top WHERE rn <= 5 GROUP BY term)
      |SELECT i.term, i.df, i.total_tf, p.postings
      |FROM idx i JOIN post p USING (term)
      |ORDER BY term""".stripMargin

  /** Character-level Shannon entropy per document,
    * `H = (1/n)·Σ c·ln(n/c)` over the doc's own character counts — a
    * cheap degenerate-text screen (binary blobs and key-mash score
    * high, repeated-fill boilerplate scores near 0) that complements
    * the word-level [[repetition]] metrics.
    *
    * Scale: explode to (doc_id, char) — the heaviest but perfectly
    * map-side-combinable shape; two combinable aggregations later the
    * frame is O(docs). Characters come from positional `substr`, not
    * regex split, so both engines segment identically (code points).
    *
    * Determinism: per-character terms `c·ln(n/c)` are snapped to
    * 1e-9-scaled longs BEFORE the commutative long sum; one final
    * division emits the double.
    */
  /** Shannon character entropy per document, computed entirely
    * scan-side by the codegen'd [[graft.plans.CharEntropyStats]]
    * kernel — one row per DOCUMENT flows through the plan, vs the
    * explode formulation's one row per CHARACTER shuffled twice
    * (≈10⁸ shuffle rows per GB of text; at 100 TB that shuffle IS
    * the query). Values are bit-identical: the kernel accumulates
    * the same `floor(c·ln(n/c)·1e9 + 0.5)` scaled-long terms the
    * oracle states. */
  def charEntropy(s: SparkSession, dir: String): DataFrame = {
    Tables.documents(s, dir)
      .select(col("doc_id"),
        graft.plans.TextExpressions.charEntropyStats(col("text")).as("st"))
      // The explode formulation (and the oracle's unnest) emits no
      // row for an empty document — preserve that.
      .filter(element_at(col("st"), 1) > 0)
      .select(col("doc_id"),
        element_at(col("st"), 1).as("n_chars_text"),
        element_at(col("st"), 2).as("n_distinct_chars"),
        (element_at(col("st"), 3).cast(DoubleType) /
          (element_at(col("st"), 1) * 1e9)).as("entropy_nats"))
      .orderBy(col("doc_id"))
  }

  val charEntropySql: String =
    """WITH d AS (
      |  SELECT doc_id, text, length(text) AS n FROM documents),
      |pos AS (SELECT doc_id, n, text,
      |          unnest(range(1, n + 1)) AS i FROM d),
      |ch AS (SELECT doc_id, n,
      |         substr(text, CAST(i AS INTEGER), 1) AS ch FROM pos),
      |cnt AS (SELECT doc_id, n, ch, COUNT(*) AS c
      |        FROM ch GROUP BY doc_id, n, ch),
      |terms AS (SELECT doc_id, n,
      |    CAST(floor(c * ln(CAST(n AS DOUBLE) / CAST(c AS DOUBLE))
      |      * 1e9 + 0.5) AS BIGINT) AS term9
      |  FROM cnt)
      |SELECT doc_id,
      |  CAST(n AS BIGINT) AS n_chars_text,
      |  CAST(COUNT(*) AS BIGINT) AS n_distinct_chars,
      |  CAST(SUM(term9) AS DOUBLE) / (n * 1e9) AS entropy_nats
      |FROM terms GROUP BY doc_id, n
      |ORDER BY doc_id""".stripMargin

  /** Positional phrase search — the query class a bag-of-words index
    * ([[invertedIndex]], [[bm25TopK]]) cannot answer: "table scan" as
    * CONSECUTIVE tokens, resolved by joining each phrase term's
    * positional postings on (doc_id, position + offset). Phrase terms
    * are selective scans of the positional index (predicate pushes to
    * the term filter), and the adjacency join is equi on
    * (doc_id, pos) — per-doc match counts and first occurrence come
    * out of one groupBy. The n-term phrase folds n−1 such joins; at
    * 100 TB the postings would be the persisted term-partitioned
    * index, so each join touches only the phrase terms' partitions.
    */
  def phraseSearch(s: SparkSession, dir: String,
      phrase: Seq[String] = Seq("table", "scan")): DataFrame = {
    val pos = Tables.documents(s, dir)
      .select(col("doc_id"),
        posexplode(tokens(lower(col("text")))).as(Seq("pos", "term")))
    val first = pos.filter(col("term") === phrase.head)
      .select(col("doc_id"), col("pos"))
    val hits = phrase.zipWithIndex.tail.foldLeft(first) {
      case (acc, (t, i)) =>
        acc.join(
          pos.filter(col("term") === t)
            .select(col("doc_id"), (col("pos") - i).as("pos")),
          Seq("doc_id", "pos"))
    }
    hits.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_hits"),
        (min(col("pos")) + 1).cast(LongType).as("first_pos"))
      .orderBy(col("doc_id"))
  }

  val phraseSearchSql: String =
    """WITH toks AS (
      |  SELECT doc_id,
      |    list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
      |      t -> len(t) > 0) AS arr
      |  FROM documents),
      |fan AS (
      |  SELECT doc_id, arr,
      |    unnest(range(1, len(arr) + 1)) AS i
      |  FROM toks),
      |pos AS (SELECT doc_id, i, arr[i] AS term FROM fan),
      |a AS (SELECT doc_id, i FROM pos WHERE term = 'table'),
      |b AS (SELECT doc_id, i FROM pos WHERE term = 'scan'),
      |hits AS (
      |  SELECT a.doc_id, a.i
      |  FROM a JOIN b ON a.doc_id = b.doc_id AND b.i = a.i + 1)
      |SELECT doc_id, COUNT(*) AS n_hits,
      |  CAST(MIN(i) AS BIGINT) AS first_pos
      |FROM hits GROUP BY doc_id
      |ORDER BY doc_id""".stripMargin

  /** Flesch reading-ease screen — the classic readability heuristic
    * (`206.835 − 1.015·W/S − 84.6·Syl/W`) with the standard cheap
    * syllable proxy: vowel-group count (`[aeiouy]+` runs; groups
    * never span the space between words, so one pass over the
    * lowered text counts all words' syllables at once). Sentences
    * are terminal-punctuation runs, floored at 1. A pure codegen
    * projection — regexp counts + one fixed-shape float expression,
    * 1e-3-snapped so the hash is ulp-proof; runs at scan speed. */
  def readability(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(col("doc_id"),
        size(split(col("text"), " ")).cast(LongType).as("w"),
        greatest(size(regexp_extract_all(col("text"), lit("[.!?]+"), lit(0)))
          .cast(LongType), lit(1L)).as("sen"),
        size(regexp_extract_all(lower(col("text")), lit("[aeiouy]+"),
          lit(0))).cast(LongType).as("syl"))
      .select(col("doc_id"), col("w").as("n_words"),
        col("sen").as("n_sentences"), col("syl").as("n_syllables"),
        floor((lit(206.835) -
          lit(1.015) * (col("w").cast(DoubleType) /
            col("sen").cast(DoubleType)) -
          lit(84.6) * (col("syl").cast(DoubleType) /
            col("w").cast(DoubleType))) * 1000.0 + 0.5)
          .cast(LongType).as("flesch_milli"))
      .orderBy(col("doc_id"))

  val readabilitySql: String =
    """WITH m AS (
      |  SELECT doc_id,
      |    CAST(len(string_split(text, ' ')) AS BIGINT) AS w,
      |    greatest(CAST(len(regexp_extract_all(text, '[.!?]+'))
      |      AS BIGINT), 1) AS sen,
      |    CAST(len(regexp_extract_all(lower(text), '[aeiouy]+'))
      |      AS BIGINT) AS syl
      |  FROM documents)
      |SELECT doc_id, w AS n_words, sen AS n_sentences,
      |  syl AS n_syllables,
      |  CAST(floor((206.835
      |    - 1.015 * (CAST(w AS DOUBLE) / CAST(sen AS DOUBLE))
      |    - 84.6 * (CAST(syl AS DOUBLE) / CAST(w AS DOUBLE))) * 1000.0
      |    + 0.5) AS BIGINT) AS flesch_milli
      |FROM m ORDER BY doc_id""".stripMargin

  /** Jensen–Shannon divergence between per-source unigram
    * distributions — the TEXT analog of the numeric PSI drift screen:
    * how far two domains' vocabularies have drifted, bounded in
    * [0, ln 2] and symmetric (KL of each side against the mixture
    * M = (P+Q)/2). Pairs compared: every source against `src0` (the
    * reference domain).
    *
    * Determinism: probabilities are exact count ratios; each
    * `p·ln(p/m)` term is computed in ONE fixed expression shape and
    * 1e-9-snapped BEFORE the per-pair sum (long sums commute — the
    * established surprisal discipline). Scale: one (source, word)
    * count pass (map-combinable), the reference distribution joins
    * broadcast, the reduce is O(sources · vocab). */
  def jsDivergence(s: SparkSession, dir: String): DataFrame = {
    val counts = Tables.documents(s, dir)
      .select(col("source"), explode(split(lower(col("text")), " "))
        .as("w"))
      .groupBy(col("source"), col("w")).agg(count(lit(1)).as("c"))
      .withColumn("tot", sum(col("c")).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("source"))))
      .select(col("source"), col("w"),
        (col("c").cast(DoubleType) / col("tot").cast(DoubleType))
          .as("p"))
      .localCheckpoint()
    val ref = counts.filter(col("source") === "src0")
      .select(col("w"), col("p").as("q"))
    val sources = counts.select(col("source")).distinct()
      .filter(col("source") =!= "src0")
    // reference distribution replicated per compared source, so the
    // full outer join's key is (source, word) and every pair sees the
    // UNION of the two vocabularies with 0 for the absent side
    val refExp = sources.crossJoin(broadcast(ref))
    val others = counts.filter(col("source") =!= "src0")
    def term(p: org.apache.spark.sql.Column, m: org.apache.spark.sql.Column)
        : org.apache.spark.sql.Column =
      when(p > 0.0, floor(p * log(p / m) * 1000000000.0 + 0.5)
        .cast(LongType)).otherwise(lit(0L))
    val joined = others
      .join(refExp.toDF("source", "w", "q"), Seq("source", "w"),
        "full_outer")
      .select(col("source"), coalesce(col("p"), lit(0.0)).as("p"),
        coalesce(col("q"), lit(0.0)).as("q"))
    joined
      .withColumn("m", (col("p") + col("q")) / 2.0)
      .groupBy(col("source"))
      // emit 2·JSD: halving a snapped-long sum would floor-vs-
      // truncate differently across engines near zero
      .agg((sum(term(col("p"), col("m"))) +
        sum(term(col("q"), col("m")))).as("jsd2_e9"))
      .orderBy(col("source"))
  }

  val jsDivergenceSql: String =
    """WITH counts AS (
      |  SELECT source, w, COUNT(*) AS c FROM (
      |    SELECT source, unnest(string_split(lower(text), ' ')) AS w
      |    FROM documents) t
      |  GROUP BY source, w),
      |probs AS (
      |  SELECT source, w,
      |    CAST(c AS DOUBLE) / CAST(SUM(c) OVER (PARTITION BY source)
      |      AS DOUBLE) AS p
      |  FROM counts),
      |ref AS (SELECT w, p AS q FROM probs WHERE source = 'src0'),
      |others AS (SELECT source, w, p FROM probs WHERE source <> 'src0'),
      |srcs AS (SELECT DISTINCT source FROM probs WHERE source <> 'src0'),
      |refexp AS (SELECT s.source, r.w, r.q FROM srcs s CROSS JOIN ref r),
      |joined AS (
      |  SELECT COALESCE(o.source, e.source) AS source,
      |    COALESCE(o.p, 0.0) AS p, COALESCE(e.q, 0.0) AS q
      |  FROM others o FULL OUTER JOIN refexp e
      |    ON e.source = o.source AND e.w = o.w)
      |SELECT source,
      |  CAST(SUM(CASE WHEN p > 0.0 THEN CAST(floor(
      |          p * ln(p / ((p + q) / 2.0)) * 1000000000.0 + 0.5)
      |          AS BIGINT) ELSE 0 END)
      |      + SUM(CASE WHEN q > 0.0 THEN CAST(floor(
      |          q * ln(q / ((p + q) / 2.0)) * 1000000000.0 + 0.5)
      |          AS BIGINT) ELSE 0 END) AS BIGINT) AS jsd2_e9
      |FROM joined GROUP BY source ORDER BY source""".stripMargin

  /** RAKE keyword extraction (Rose et al. 2010) — corpus-level
    * keyphrases without any model: candidate phrases are maximal
    * runs of non-stopword tokens (stopwords and punctuation are the
    * delimiters), word scores are `deg(w)/freq(w)` over all
    * candidate occurrences (deg = sum of hosting-phrase lengths —
    * words living in long phrases score high), and a phrase scores
    * the sum of its words. The classic first-pass keyword miner for
    * corpus exploration / dataset cards.
    *
    * Determinism: word scores are `deg·10⁶ div freq` integer ppm
    * (both non-negative), phrase scores exact BIGINT sums of those,
    * and the top-20 cut orders by (score DESC, phrase) over UNIQUE
    * phrase strings — no ties possible at the boundary.
    *
    * Mechanics/scale: tokenize (lower + non-alpha split, empties act
    * as punctuation delimiters), gaps-islands run grouping via one
    * per-doc window (`pos − row_number`), phrase assembly by
    * array_sort(collect_list(struct)) — order-deterministic without
    * trusting collect order. The word-stats frame is
    * vocabulary-sized and broadcast back; shuffles touch (doc, run)
    * and word keys only — nothing pairwise, nothing quadratic. */
  def rakeKeywords(s: SparkSession, dir: String,
      topK: Int = 20, maxLen: Int = 4): DataFrame = {
    val stop = Seq("the", "a", "an", "of", "and", "or", "to", "in",
      "is", "are", "on", "for", "with", "as", "by", "at", "it",
      "this", "that", "be", "was", "were", "from")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("pos"))
    val toks = Tables.documents(s, dir)
      .select(col("doc_id"),
        posexplode(split(lower(col("text")), "[^a-z]+"))
          .as(Seq("pos", "word")))
    val runs = toks
      .filter(col("word") =!= "" && !col("word").isin(stop: _*))
      .withColumn("grp", col("pos") - row_number().over(w))
      .groupBy(col("doc_id"), col("grp"))
      .agg(sort_array(collect_list(struct(col("pos"), col("word"))))
        .as("ws"))
      .filter(size(col("ws")) <= maxLen)
      .select(col("doc_id"), col("grp"),
        expr("transform(ws, x -> x.word)").as("words"),
        size(col("ws")).cast("long").as("plen"))
    val words = runs.select(col("doc_id"), col("grp"), col("plen"),
      explode(col("words")).as("word"))
    val wstats = words.groupBy(col("word"))
      .agg(count(lit(1)).as("freq"), sum(col("plen")).as("deg"))
      .select(col("word"),
        expr("deg * 1000000L div freq").as("wscore"))
    val pscore = words.join(broadcast(wstats), "word")
      .groupBy(col("doc_id"), col("grp"))
      .agg(sum(col("wscore")).as("score_e6"))
    runs.select(col("doc_id"), col("grp"),
        array_join(col("words"), " ").as("phrase"))
      .join(pscore, Seq("doc_id", "grp"))
      .groupBy(col("phrase"))
      .agg(count(lit(1)).as("n_phrase"), max(col("score_e6")).as("score_e6"))
      .orderBy(col("score_e6").desc, col("phrase"))
      .limit(topK)
  }

  val rakeKeywordsSql: String =
    """WITH tok AS (
      |  SELECT doc_id,
      |    regexp_split_to_array(lower(text), '[^a-z]+') AS arr
      |  FROM documents),
      |pos AS (
      |  SELECT doc_id, unnest(range(1, len(arr) + 1)) AS pos, arr
      |  FROM tok),
      |wordpos AS (
      |  SELECT doc_id, pos, arr[CAST(pos AS INTEGER)] AS word
      |  FROM pos),
      |keep AS (
      |  SELECT doc_id, pos, word,
      |    pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos)
      |      AS grp
      |  FROM wordpos
      |  WHERE word <> '' AND word NOT IN ('the','a','an','of','and',
      |    'or','to','in','is','are','on','for','with','as','by','at',
      |    'it','this','that','be','was','were','from')),
      |runs AS (
      |  SELECT doc_id, grp,
      |    string_agg(word, ' ' ORDER BY pos) AS phrase,
      |    CAST(COUNT(*) AS BIGINT) AS plen
      |  FROM keep GROUP BY doc_id, grp
      |  HAVING COUNT(*) <= 4),
      |words AS (
      |  SELECT k.doc_id, k.grp, r.plen, k.word
      |  FROM keep k JOIN runs r
      |    ON r.doc_id = k.doc_id AND r.grp = k.grp),
      |wstats AS (
      |  SELECT word,
      |    CAST(CAST(SUM(plen) AS BIGINT) * 1000000
      |      // CAST(COUNT(*) AS BIGINT) AS BIGINT) AS wscore
      |  FROM words GROUP BY word),
      |pscore AS (
      |  SELECT w.doc_id, w.grp,
      |    CAST(SUM(ws.wscore) AS BIGINT) AS score_e6
      |  FROM words w JOIN wstats ws ON ws.word = w.word
      |  GROUP BY w.doc_id, w.grp)
      |SELECT r.phrase, COUNT(*) AS n_phrase,
      |  CAST(MAX(p.score_e6) AS BIGINT) AS score_e6
      |FROM runs r
      |JOIN pscore p ON p.doc_id = r.doc_id AND p.grp = r.grp
      |GROUP BY r.phrase
      |ORDER BY score_e6 DESC, phrase
      |LIMIT 20""".stripMargin

  /** Boilerplate stripping — the cleaning transform behind "remove
    * the cookie banner from every page": the `topK` word 3-grams by
    * DOCUMENT frequency (boilerplate = high-df, not high-tf) are
    * removed as literal strings from every document, in rank order,
    * and the per-source char ledger (before/after/removed) is
    * emitted. Literal `replace` (not regex) on both engines removes
    * all non-overlapping occurrences left-to-right, and the
    * replacements apply in the SAME deterministic (df DESC, gram)
    * order, so the cleaned text is byte-identical cross-engine.
    *
    * Scale: df is one explode + distinct-per-doc groupBy (the
    * decontaminate shape); the topK gram strings are a METADATA
    * collect (K rows) inlined as literals, so the strip itself is a
    * pure codegen projection at scan speed — the only corpus
    * shuffles are the df count and the final per-source ledger. */
  def boilerplateStrip(s: SparkSession, dir: String,
      topK: Int = 5): DataFrame = {
    val docs = Tables.documents(s, dir)
    val grams = docs.select(col("doc_id"),
        explode(array_distinct(graft.plans.TextExpressions.tokenNGrams(
          split(col("text"), " "), 3, emitWholeShortDoc = false)))
          .as("gram"))
      .groupBy(col("gram")).agg(count(lit(1)).as("df"))
      .orderBy(col("df").desc, col("gram")).limit(topK)
      .collect().map(_.getString(0))
    val cleanCol = grams.foldLeft(col("text")) { (c, g) =>
      call_function("replace", c, lit(g), lit(""))
    }
    docs.select(col("source"), length(col("text")).as("lb"),
        length(cleanCol).as("la"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("lb")).as("chars_before"),
        sum(col("la")).as("chars_after"),
        sum(col("lb") - col("la")).as("removed"))
      .orderBy(col("source"))
  }

  val boilerplateStripSql: String =
    """WITH tok AS (
      |  SELECT doc_id, source, text,
      |    string_split(text, ' ') AS t
      |  FROM documents),
      |grams AS (
      |  SELECT doc_id,
      |    unnest(list_distinct(list_transform(
      |      generate_series(1, greatest(len(t) - 2, 0)),
      |      i -> array_to_string(t[i:i+2], ' ')))) AS gram
      |  FROM tok),
      |df AS (SELECT gram, COUNT(*) AS df FROM grams GROUP BY gram),
      |top AS (
      |  SELECT gram, row_number() OVER (ORDER BY df DESC, gram) AS rk
      |  FROM df ORDER BY df DESC, gram LIMIT 5),
      |cleaned AS (
      |  SELECT source, length(text) AS lb,
      |    length(
      |      replace(replace(replace(replace(replace(text,
      |        (SELECT gram FROM top WHERE rk = 1), ''),
      |        (SELECT gram FROM top WHERE rk = 2), ''),
      |        (SELECT gram FROM top WHERE rk = 3), ''),
      |        (SELECT gram FROM top WHERE rk = 4), ''),
      |        (SELECT gram FROM top WHERE rk = 5), '')) AS la
      |  FROM tok)
      |SELECT source, COUNT(*) AS n_docs,
      |  CAST(SUM(lb) AS BIGINT) AS chars_before,
      |  CAST(SUM(la) AS BIGINT) AS chars_after,
      |  CAST(SUM(lb - la) AS BIGINT) AS removed
      |FROM cleaned GROUP BY source ORDER BY source""".stripMargin

  /** Vocabulary-growth (Heaps' law) curve — "how fast does the
    * vocabulary still grow?": at ten doc_id checkpoints, the
    * cumulative doc count, token count, and DISTINCT-token count.
    * The classic curve behind "is more raw data still buying new
    * vocabulary" and tokenizer-budget decisions. Cumulative distinct
    * is usually the expensive part; FIRST-SEEN OWNERSHIP makes it
    * one grouped MIN — a token is new exactly at its min doc_id
    * (the [[Dedup]] noveltyCurve trick), so V(checkpoint) is a
    * 10-row cumulative sum over newcomer counts. All integers.
    *
    * Scale: one token explode + grouped MIN (map-combinable), one
    * per-doc count; everything after runs on 10-row frames. */
  def vocabGrowth(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val mxF = docs.agg(max(col("doc_id")).as("mx"))
    // minimal checkpoint k (1..10) at which an id is included:
    // k = clamp(ceil(id*10/mx), 1, 10); ceil on non-negatives is
    // (a + b - 1) div b in both engines
    def kmin(idc: String) =
      s"least(greatest(($idc * 10L + mx - 1L) div mx, 1L), 10L)"
    val newcomers = docs
      .select(col("doc_id"), explode(split(lower(col("text")), " "))
        .as("w"))
      .groupBy(col("w")).agg(min(col("doc_id")).as("fd"))
      .crossJoin(broadcast(mxF))
      .selectExpr(s"${kmin("fd")} AS k")
      .groupBy(col("k")).agg(count(lit(1)).as("new_vocab"))
    val perDoc = docs
      .select(col("doc_id"),
        size(split(lower(col("text")), " ")).cast("long").as("nt"))
      .crossJoin(broadcast(mxF))
      .selectExpr(s"${kmin("doc_id")} AS k", "nt")
      .groupBy(col("k"))
      .agg(count(lit(1)).as("new_docs"), sum(col("nt")).as("new_toks"))
    val ks = s.range(1, 11).select(col("id").as("k"))
    val win = org.apache.spark.sql.expressions.Window
    val w = win.orderBy(col("k"))
      .rowsBetween(win.unboundedPreceding, win.currentRow)
    ks.join(broadcast(newcomers), Seq("k"), "left")
      .join(broadcast(perDoc), Seq("k"), "left")
      .select(col("k"),
        coalesce(col("new_docs"), lit(0L)).as("nd"),
        coalesce(col("new_toks"), lit(0L)).as("ntk"),
        coalesce(col("new_vocab"), lit(0L)).as("nv"))
      .select(col("k"), sum(col("nd")).over(w).as("n_docs"),
        sum(col("ntk")).over(w).as("n_tokens"),
        sum(col("nv")).over(w).as("vocab"))
      .orderBy(col("k"))
  }

  val vocabGrowthSql: String =
    """WITH mx AS (SELECT MAX(doc_id) AS mx FROM documents),
      |toks AS (
      |  SELECT doc_id, unnest(string_split(lower(text), ' ')) AS w
      |  FROM documents),
      |first_seen AS (SELECT w, MIN(doc_id) AS fd FROM toks GROUP BY w),
      |newcomers AS (
      |  SELECT LEAST(GREATEST((fd * 10 + mx.mx - 1) // mx.mx, 1), 10)
      |    AS k, COUNT(*) AS new_vocab
      |  FROM first_seen CROSS JOIN mx GROUP BY 1),
      |per_doc AS (
      |  SELECT LEAST(GREATEST((doc_id * 10 + mx.mx - 1) // mx.mx, 1),
      |    10) AS k,
      |    COUNT(*) AS new_docs,
      |    CAST(SUM(len(string_split(lower(text), ' '))) AS BIGINT)
      |      AS new_toks
      |  FROM documents CROSS JOIN mx GROUP BY 1),
      |ks AS (SELECT unnest(range(1, 11)) AS k)
      |SELECT CAST(ks.k AS BIGINT) AS k,
      |  CAST(SUM(COALESCE(p.new_docs, 0)) OVER (ORDER BY ks.k
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |    AS BIGINT) AS n_docs,
      |  CAST(SUM(COALESCE(p.new_toks, 0)) OVER (ORDER BY ks.k
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |    AS BIGINT) AS n_tokens,
      |  CAST(SUM(COALESCE(n.new_vocab, 0)) OVER (ORDER BY ks.k
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |    AS BIGINT) AS vocab
      |FROM ks
      |LEFT JOIN newcomers n ON n.k = ks.k
      |LEFT JOIN per_doc p ON p.k = ks.k
      |ORDER BY k""".stripMargin

  /** Type-token ratio (lexical diversity) per source — the cheap
    * repetitiveness screen complementary to the Gopher-style
    * duplicate-gram fractions: per doc, distinct tokens over total
    * tokens as integer ppm; per source, the doc-count, token totals,
    * and the MEAN of per-doc TTRs (sum of ppm longs, one div). Low
    * TTR sources are boilerplate/template farms.
    *
    * Scale: one (doc, token) explode with a per-doc combine; the
    * per-source rollup is O(sources). */
  def textTtr(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(col("doc_id"), col("source"),
        explode(split(lower(col("text")), " ")).as("w"))
      .groupBy(col("doc_id"), col("source"))
      .agg(count(lit(1)).as("t"), countDistinct(col("w")).as("v"))
      .select(col("source"), col("t"),
        expr("v * 1000000L div t").as("ttr_ppm"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("t")).as("n_tokens"),
        sum(col("ttr_ppm")).as("ttr_sum"))
      .selectExpr("source", "n_docs", "n_tokens",
        "ttr_sum div n_docs AS mean_ttr_ppm")
      .orderBy(col("source"))

  val textTtrSql: String =
    """WITH toks AS (
      |  SELECT doc_id, source,
      |    unnest(string_split(lower(text), ' ')) AS w
      |  FROM documents),
      |per_doc AS (
      |  SELECT source, COUNT(*) AS t,
      |    CAST(COUNT(DISTINCT w) * 1000000 // COUNT(*) AS BIGINT)
      |      AS ttr_ppm
      |  FROM toks GROUP BY doc_id, source)
      |SELECT source, COUNT(*) AS n_docs,
      |  CAST(SUM(t) AS BIGINT) AS n_tokens,
      |  CAST(CAST(SUM(ttr_ppm) AS BIGINT) // COUNT(*) AS BIGINT)
      |    AS mean_ttr_ppm
      |FROM per_doc GROUP BY source ORDER BY source""".stripMargin

  /** Hapax-legomena and Simpson-concentration vocabulary profile per
    * source — the corpus-health screen a curation pipeline runs to
    * catch boilerplate-heavy or template-generated slices: a healthy
    * natural-language slice has a high hapax share (Zipf tail) and a
    * low Simpson repeat-probability; a templated slice inverts both.
    * Emits per source: vocab size, token count, hapax count,
    * `hapax_ppm = hapax/vocab` and
    * `simpson_ppm = Σc(c−1)/(T(T−1))` — the probability two randomly
    * drawn tokens are the same word — both as exact integer ppm
    * (all terms non-negative, so floor == truncate cross-engine).
    *
    * Scale: one word-count-shaped shuffle on (source, word) with
    * map-side partial aggregation, then an O(sources) rollup. The
    * 1e6 scale bounds `Σc(c−1)·1e6` within BIGINT up to ~3e6 tokens
    * per source; beyond that, route the product through
    * DECIMAL(38,0) on both engines. */
  def textHapax(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(col("source"),
        explode(split(lower(col("text")), " ")).as("w"))
      .groupBy(col("source"), col("w"))
      .agg(count(lit(1)).as("c"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("vocab"), sum(col("c")).as("tokens"),
        sum(when(col("c") === 1L, 1L).otherwise(0L)).as("hapax"),
        sum(expr("c * (c - 1)")).as("coll"))
      .select(col("source"), col("vocab"), col("tokens"), col("hapax"),
        expr("hapax * 1000000L div vocab").as("hapax_ppm"),
        expr("coll * 1000000L div (tokens * (tokens - 1))")
          .as("simpson_ppm"))
      .orderBy(col("source"))

  val textHapaxSql: String =
    """WITH wc AS (
      |  SELECT source, w, COUNT(*) AS c FROM (
      |    SELECT source, unnest(string_split(lower(text), ' ')) AS w
      |    FROM documents)
      |  GROUP BY source, w),
      |roll AS (
      |  SELECT source, COUNT(*) AS vocab,
      |    CAST(SUM(c) AS BIGINT) AS tokens,
      |    CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT)
      |      AS hapax,
      |    CAST(SUM(c * (c - 1)) AS BIGINT) AS coll
      |  FROM wc GROUP BY source)
      |SELECT source, vocab, tokens, hapax,
      |  CAST(hapax * 1000000 // vocab AS BIGINT) AS hapax_ppm,
      |  CAST(coll * 1000000 // (tokens * (tokens - 1)) AS BIGINT)
      |    AS simpson_ppm
      |FROM roll ORDER BY source""".stripMargin

  /** `regexp_extract_all` surface parity: every ≥3-letter
    * vowel-initial word (anchored to a word start via the capture
    * group — unanchored, the scanner would match mid-word suffixes),
    * flattened and counted corpus-wide, top 20. Exercises the
    * multi-match extraction path (one row in, many matches out) that
    * single-match `regexp_extract` gates can't: group-indexed
    * extraction, per-row flattening, empty-match rows dropping out
    * naturally. Java regex and RE2 agree here by construction — the
    * pattern uses no backreferences or lookarounds (RE2 has
    * neither).
    *
    * Scale: a projection + explode (no join); the count is one
    * map-combinable groupBy; TakeOrderedAndProject caps the top-20. */
  def regexExtractAll(s: SparkSession, dir: String): DataFrame = {
    Tables.documents(s, dir)
      .select(explode(expr(
        """regexp_extract_all(lower(text),
          |  '(^| )([aeiou][a-z]{2,})', 2)""".stripMargin)).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("w"))
      .limit(20)
  }

  val regexExtractAllSql: String =
    """SELECT w, CAST(COUNT(*) AS BIGINT) AS n FROM (
      |  SELECT unnest(regexp_extract_all(lower(text),
      |    '(^| )([aeiou][a-z]{2,})', 2)) AS w
      |  FROM documents)
      |GROUP BY w
      |ORDER BY n DESC, w LIMIT 20""".stripMargin

  /** Source-pair VOCABULARY OVERLAP — the corpus-mixing diagnostic:
    * Jaccard similarity of the distinct-token vocabularies of every
    * source pair, in exact ppm (|∩| / (|A|+|B|−|∩|)). Two sources
    * with near-identical vocabularies are redundant in a training
    * mixture; near-zero overlap marks a domain worth upweighting.
    * Pairwise over SOURCES (O(sources²) output — dozens), not over
    * documents: the corpus-sized work is one distinct per (source,
    * token), then the intersection counts ride a token-keyed
    * self-join.
    *
    * Scale: (source, token) distinct ≤ sources × vocab; the self-
    * join is keyed on token, map-side combinable counts; no payload
    * wider than a word ever shuffles. */
  def sourceOverlap(s: SparkSession, dir: String): DataFrame = {
    val vocab = Tables.documents(s, dir)
      .select(col("source"),
        explode(split(lower(col("text")), " ")).as("w"))
      .filter(col("w") =!= "").distinct()
    val sizes = vocab.groupBy(col("source"))
      .agg(count(lit(1)).as("nv"))
    val inter = vocab.toDF("src_a", "w")
      .join(vocab.toDF("src_b", "w"), "w")
      .filter(col("src_a") < col("src_b"))
      .groupBy(col("src_a"), col("src_b"))
      .agg(count(lit(1)).as("n_common"))
    inter
      .join(broadcast(sizes.toDF("src_a", "nv_a")), "src_a")
      .join(broadcast(sizes.toDF("src_b", "nv_b")), "src_b")
      .select(col("src_a"), col("src_b"), col("n_common"),
        expr("n_common * 1000000L div (nv_a + nv_b - n_common)")
          .as("jaccard_ppm"))
      .orderBy(col("jaccard_ppm").desc, col("src_a"), col("src_b"))
      .limit(20)
  }

  val sourceOverlapSql: String =
    """WITH vocab AS (
      |  SELECT DISTINCT source, w FROM (
      |    SELECT source, unnest(string_split(lower(text), ' ')) AS w
      |    FROM documents)
      |  WHERE w <> ''),
      |sizes AS (
      |  SELECT source, CAST(COUNT(*) AS BIGINT) AS nv FROM vocab
      |  GROUP BY source),
      |inter AS (
      |  SELECT a.source AS src_a, b.source AS src_b,
      |    CAST(COUNT(*) AS BIGINT) AS n_common
      |  FROM vocab a JOIN vocab b
      |    ON a.w = b.w AND a.source < b.source
      |  GROUP BY a.source, b.source)
      |SELECT i.src_a, i.src_b, i.n_common,
      |  CAST(i.n_common * 1000000
      |    // (sa.nv + sb.nv - i.n_common) AS BIGINT) AS jaccard_ppm
      |FROM inter i
      |JOIN sizes sa ON sa.source = i.src_a
      |JOIN sizes sb ON sb.source = i.src_b
      |ORDER BY jaccard_ppm DESC, i.src_a, i.src_b
      |LIMIT 20""".stripMargin

  /** TextRank keyword extraction (Mihalcea & Tarau, EMNLP 2004):
    * PageRank over the word co-occurrence graph — tokens ≥ 4 chars
    * (the deterministic, dialect-free stopword surrogate), an
    * undirected edge between CONSECUTIVE surviving tokens, edge
    * weight = co-occurrence count. Ranks run 5 damped iterations in
    * the EXACT scaled-long recurrence of [[Graph.pageRank]] (rank ×
    * 10¹², `(r·w) div ow`, `(85·c) div 100` — reusing
    * [[Graph.rankStep]] verbatim), so the keyword scores are
    * hash-exact; the oracle unrolls the same integer recurrence.
    * Emits the top 20 words by (rank desc, word asc).
    *
    * Scale: tokenization + the filtered-adjacency window are one
    * per-doc pass (partitioned by doc); the graph collapses to
    * O(vocab²) weighted edges. Vocab here is broadcast-sized; for
    * open-vocabulary corpora rankStep's shuffle mode drops in
    * unchanged (the pagerank_shuffle contract). Top-k is
    * TakeOrderedAndProject, never a global sort. */
  def textRank(s: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("pos"))
    val toks = Tables.documents(s, dir)
      .select(col("doc_id"),
        posexplode(split(lower(col("text")), " ")).as(Seq("pos", "w")))
      .filter(length(col("w")) >= 4)
    val und = toks
      .withColumn("nxt", lead(col("w"), 1).over(w))
      .filter(col("nxt").isNotNull && col("w") =!= col("nxt"))
      .select(least(col("w"), col("nxt")).as("u"),
        greatest(col("w"), col("nxt")).as("v"))
      .groupBy(col("u"), col("v")).agg(count(lit(1)).as("w"))
    val edges = und.select(col("u").as("src"), col("v").as("dst"),
        col("w"))
      .unionAll(und.select(col("v").as("src"), col("u").as("dst"),
        col("w")))
      .localCheckpoint() // O(vocab²)
    val outw = edges.groupBy(col("src")).agg(sum(col("w")).as("ow"))
      .localCheckpoint()
    val nodes = edges.select(col("src").as("node")).distinct()
      .localCheckpoint()
    val n = nodes.count()
    var ranks = nodes.withColumn("r", lit(1000000000000L / n))
    for (_ <- 1 to 5) {
      ranks = Graph.rankStep(edges, outw, nodes, ranks, n,
        broadcastRanks = true).localCheckpoint()
    }
    ranks.select(col("node").as("word"), col("r"))
      .orderBy(col("r").desc, col("word")).limit(20)
  }

  def textRankSql(iters: Int = 5): String = {
    val base =
      """WITH tok AS (
        |  SELECT doc_id, string_split(lower(text), ' ') AS t
        |  FROM documents),
        |pos AS (
        |  SELECT doc_id, t[i] AS w, i
        |  FROM (SELECT doc_id, t,
        |          unnest(range(1, len(t) + 1)) AS i FROM tok)
        |  WHERE length(t[i]) >= 4),
        |adj AS (
        |  SELECT w, LEAD(w) OVER (PARTITION BY doc_id ORDER BY i)
        |    AS nxt
        |  FROM pos),
        |und AS (
        |  SELECT LEAST(w, nxt) AS u, GREATEST(w, nxt) AS v,
        |    COUNT(*) AS wt
        |  FROM adj WHERE nxt IS NOT NULL AND w <> nxt
        |  GROUP BY 1, 2),
        |edges AS (
        |  SELECT u AS src, v AS dst, wt AS w FROM und
        |  UNION ALL SELECT v, u, wt FROM und),
        |outw AS (SELECT src, SUM(w) AS ow FROM edges GROUP BY src),
        |nodes AS (SELECT DISTINCT src AS node FROM edges),
        |nn AS (SELECT COUNT(*) AS n FROM nodes),
        |it0 AS (SELECT node, 1000000000000 // (SELECT n FROM nn) AS r
        |        FROM nodes)""".stripMargin
    val steps = (1 to iters).map { i =>
      s"""it$i AS (
         |  SELECT nd.node,
         |    150000000000 // (SELECT n FROM nn)
         |      + COALESCE((85 * s.c) // 100, 0) AS r
         |  FROM nodes nd LEFT JOIN (
         |    SELECT e.dst AS node, SUM((p.r * e.w) // o.ow) AS c
         |    FROM edges e
         |    JOIN it${i - 1} p ON p.node = e.src
         |    JOIN outw o ON o.src = e.src
         |    GROUP BY e.dst) s ON s.node = nd.node)""".stripMargin
    }
    (base +: steps).mkString(",\n") +
      s"""\nSELECT node AS word, CAST(r AS BIGINT) AS r
         |FROM it$iters ORDER BY r DESC, word LIMIT 20""".stripMargin
  }

  /** Gopher-style repetition/quality rule bundle (Rae et al. 2021,
    * §A1.1 — the published pre-training filter this family of
    * pipelines actually runs): per document, the named rules
    * `word_count` (3 ≤ n ≤ 10⁵), `mean_word_len` (1 ≤ ℓ̄ ≤ 12),
    * `symbol_ratio` (non-alphanumeric-non-space chars ≤ 10%), and
    * `alpha_word_ratio` (≥ 80% of words contain a letter), plus the
    * conjunction `keep`. All measures are exact integer ppm/e2
    * (`div` on non-negative counts); the character classes are
    * dialect-neutral regexes so Java regex and RE2 count the same
    * bytes.
    *
    * Scale: one codegen projection per doc (regexp_replace lengths
    * + one split), one shuffle nowhere — the classic "scan text,
    * emit flags" shape; the corpus-level pass-rate rollup is the
    * caller's one-line groupBy. */
  def gopherRules(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(col("doc_id"),
        size(split(col("text"), " ")).cast(LongType).as("n_words"),
        length(col("text")).cast(LongType).as("n_chars_m"),
        (length(col("text"))
          - length(regexp_replace(col("text"), "[^a-zA-Z0-9 ]", "")))
          .cast(LongType).as("n_symbols"),
        size(expr("filter(split(text, ' '), w -> w rlike '[a-zA-Z]')"))
          .cast(LongType).as("n_alpha_words"))
      .select(col("doc_id"), col("n_words"),
        expr("((n_chars_m - n_words + 1) * 100) div n_words")
          .as("mwl_e2"),
        expr("(n_symbols * 1000000) div n_chars_m").as("sym_ppm"),
        expr("(n_alpha_words * 1000000) div n_words").as("alpha_ppm"))
      .select(col("doc_id"), col("n_words"), col("mwl_e2"),
        col("sym_ppm"), col("alpha_ppm"),
        (col("n_words") >= 3 && col("n_words") <= 100000L)
          .as("ok_word_count"),
        (col("mwl_e2") >= 100L && col("mwl_e2") <= 1200L)
          .as("ok_mean_word_len"),
        (col("sym_ppm") <= 100000L).as("ok_symbol_ratio"),
        (col("alpha_ppm") >= 800000L).as("ok_alpha_words"))
      .withColumn("keep",
        col("ok_word_count") && col("ok_mean_word_len") &&
          col("ok_symbol_ratio") && col("ok_alpha_words"))
      .orderBy(col("doc_id"))

  val gopherRulesSql: String =
    """WITH m AS (
      |  SELECT doc_id,
      |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words,
      |    CAST(length(text) AS BIGINT) AS n_chars_m,
      |    CAST(length(text)
      |      - length(regexp_replace(text, '[^a-zA-Z0-9 ]', '', 'g'))
      |      AS BIGINT) AS n_symbols,
      |    CAST(len(list_filter(string_split(text, ' '),
      |      w -> regexp_matches(w, '[a-zA-Z]'))) AS BIGINT)
      |      AS n_alpha_words
      |  FROM documents),
      |r AS (
      |  SELECT doc_id, n_words,
      |    ((n_chars_m - n_words + 1) * 100) // n_words AS mwl_e2,
      |    (n_symbols * 1000000) // n_chars_m AS sym_ppm,
      |    (n_alpha_words * 1000000) // n_words AS alpha_ppm
      |  FROM m)
      |SELECT doc_id, n_words, mwl_e2, sym_ppm, alpha_ppm,
      |  n_words >= 3 AND n_words <= 100000 AS ok_word_count,
      |  mwl_e2 >= 100 AND mwl_e2 <= 1200 AS ok_mean_word_len,
      |  sym_ppm <= 100000 AS ok_symbol_ratio,
      |  alpha_ppm >= 800000 AS ok_alpha_words,
      |  (n_words >= 3 AND n_words <= 100000)
      |    AND (mwl_e2 >= 100 AND mwl_e2 <= 1200)
      |    AND sym_ppm <= 100000 AND alpha_ppm >= 800000 AS keep
      |FROM r ORDER BY doc_id""".stripMargin

  /** Distinct-n diversity (the standard text-generation diversity
    * metric, Li et al. 2016, applied corpus-side): per source and
    * n ∈ {1,2,3}, the ratio of DISTINCT word n-grams to total n-gram
    * instances, as exact ppm — low distinct-n means templated or
    * repetitive text, the signal a curation pass uses to downweight a
    * feed before any model sees it.
    *
    * Scale: one explode of n-gram instances (O(corpus tokens · 3)),
    * then a (source, n)-keyed aggregate whose distinct-count shuffles
    * gram strings bounded by 3 words — map-side combinable; no joins.
    * All-BIGINT output. */
  def distinctN(s: SparkSession, dir: String): DataFrame = {
    val toks = Tables.documents(s, dir)
      .select(col("source"),
        graft.functions.TextFunctions.tokens(lower(col("text")))
          .as("toks"))
    val grams = toks
      .select(col("source"), explode(lit(Array(1, 2, 3))).as("n"),
        col("toks"))
      .filter(size(col("toks")) >= col("n"))
      .select(col("source"), col("n"),
        explode(expr("transform(sequence(1, size(toks) - n + 1)," +
          " i -> array_join(slice(toks, i, n), ' '))")).as("gram"))
    grams.groupBy(col("source"), col("n"))
      .agg(count(lit(1)).as("total_ngrams"),
        countDistinct(col("gram")).as("distinct_ngrams"))
      .select(col("source"), col("n").cast(LongType).as("n"),
        col("total_ngrams"), col("distinct_ngrams"),
        expr("(distinct_ngrams * 1000000) div total_ngrams")
          .as("distinct_ppm"))
      .orderBy(col("source"), col("n"))
  }

  val distinctNSql: String =
    """WITH toks AS (
      |  SELECT source,
      |    list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
      |                t -> len(t) > 0) AS toks
      |  FROM documents),
      |ns AS (SELECT 1 AS n UNION ALL SELECT 2 UNION ALL SELECT 3),
      |grams AS (
      |  SELECT t.source, ns.n,
      |    unnest(list_transform(
      |      generate_series(1, len(t.toks) - ns.n + 1),
      |      i -> array_to_string(list_slice(t.toks, i, i + ns.n - 1),
      |        ' '))) AS gram
      |  FROM toks t, ns
      |  WHERE len(t.toks) >= ns.n)
      |SELECT source, CAST(n AS BIGINT) AS n,
      |  CAST(COUNT(*) AS BIGINT) AS total_ngrams,
      |  CAST(COUNT(DISTINCT gram) AS BIGINT) AS distinct_ngrams,
      |  (CAST(COUNT(DISTINCT gram) AS BIGINT) * 1000000)
      |    // CAST(COUNT(*) AS BIGINT) AS distinct_ppm
      |FROM grams GROUP BY source, n
      |ORDER BY source, n""".stripMargin

  /** RAG chunking with overlap and provenance — the retrieval-side
    * twin of the packing gates: every document split into W-token
    * windows at stride S (trailing window keeps the tail; a doc
    * shorter than W is one whole-doc chunk), each chunk carrying its
    * 1-based token span and a content fingerprint (md5 of the joined
    * window — both engines' md5 agree on UTF-8 text), the stable id a
    * vector store keys embeddings by. Chunk count per doc is
    * 1 + ceil(max(0, n−W)/S) — integer arithmetic both engines
    * evaluate identically.
    *
    * Scale: one tokens() projection + one explode of the per-doc
    * start positions — no join, no corpus-keyed shuffle except the
    * output sort; at 100 TB the chunk table partitions by doc_id and
    * feeds the embedding UDF stage directly. */
  def chunkWindows(s: SparkSession, dir: String, w: Int = 32,
      stride: Int = 24): DataFrame = {
    val toks = Tables.documents(s, dir)
      .select(col("doc_id"), tokens(col("text")).as("tk"))
      .withColumn("n", size(col("tk")))
      .filter(col("n") > 0)
    toks
      .withColumn("n_chunks",
        lit(1) + greatest(lit(0L),
          ceil((col("n") - lit(w)).cast(DoubleType) / lit(stride))
            .cast(LongType)))
      .select(col("doc_id"), col("tk"), col("n"),
        explode(sequence(lit(0L), col("n_chunks") - 1)).as("i"))
      .select(col("doc_id"), col("i").as("chunk_idx"),
        (col("i") * stride + 1).as("start_tok"),
        least(col("i") * stride + w, col("n")).as("end_tok"),
        md5(array_join(slice(col("tk"),
          (col("i") * stride + 1).cast(IntegerType),
          (least(col("i") * stride + w, col("n"))
            - col("i") * stride).cast(IntegerType)), " ")).as("chunk_fp"))
      .orderBy(col("doc_id"), col("chunk_idx"))
  }

  val chunkWindowsSql: String =
    """WITH t AS (
      |  SELECT doc_id,
      |    list_filter(regexp_split_to_array(trim(text), '\s+'),
      |                x -> len(x) > 0) AS tk
      |  FROM documents),
      |d AS (
      |  SELECT doc_id, tk, len(tk) AS n,
      |    1 + greatest(0, CAST(ceil(CAST(len(tk) - 32 AS DOUBLE) / 24)
      |      AS BIGINT)) AS n_chunks
      |  FROM t WHERE len(tk) > 0),
      |e AS (
      |  SELECT doc_id, tk, n,
      |    unnest(generate_series(0, n_chunks - 1)) AS i
      |  FROM d)
      |SELECT doc_id, CAST(i AS BIGINT) AS chunk_idx,
      |  CAST(i * 24 + 1 AS BIGINT) AS start_tok,
      |  CAST(least(i * 24 + 32, n) AS BIGINT) AS end_tok,
      |  md5(array_to_string(list_slice(tk, CAST(i * 24 + 1 AS INTEGER),
      |    CAST(least(i * 24 + 32, n) AS INTEGER)), ' ')) AS chunk_fp
      |FROM e
      |ORDER BY doc_id, chunk_idx""".stripMargin

  /** LLM-watermark detection (Kirchenbauer et al., "A Watermark for
    * Large Language Models", ICML 2023) — the screen a training-data
    * pipeline runs to keep WATERMARKED MODEL OUTPUT out of the
    * pre-training corpus. The published detector: a generator with
    * the watermark seeds a PRNG with the previous token and biases
    * sampling toward a "green list" (here γ = 1/4 of the hash
    * space); the detector recomputes each token's green-list
    * membership from the (prev, cur) pair and tests the green count
    * against Binomial(n, γ) — z = (g − γn)/√(nγ(1−γ)), flag at
    * z > 4, the paper's operating point. On organic text z ≈ 0, the
    * honest null readout this corpus shows.
    *
    * Determinism: green membership is pure modular arithmetic over
    * the engine-portable polynomial char roll (the
    * [[graft.ops.Learn.featureHash]] primitive) — no runtime libm
    * in the decision; the z statistic's single √ is one fixed
    * double tree 1e6-snapped via floor (identical on both engines,
    * sign-safe because floor, not integer division).
    *
    * Scale: a pure codegen projection (per-doc bigram explode) +
    * one map-combinable per-doc reduce — no joins, no model table,
    * nothing broadcast. */
  /** The engine-portable polynomial char roll as Spark SQL text —
    * lambda variables are prefixed so the fragment can nest inside
    * an OUTER higher-order lambda (the streaming projection binds
    * `i` there). */
  private def polyRollExpr(c: String): String =
    s"aggregate(transform(sequence(1, length($c))," +
      s" pj -> CAST(ascii(substring($c, pj, 1)) AS BIGINT))," +
      s" CAST(0 AS BIGINT)," +
      s" (pacc, px) -> (pacc * 31 + px) % 1000000007)"

  def watermarkDetect(s: SparkSession, dir: String): DataFrame = {
    def roll(c: String) = polyRollExpr(c)
    val docs = Tables.documents(s, dir)
    // (w1, w2) from the token ARRAY by position — never re-split a
    // joined bigram string: positional extraction avoids any
    // dependence on a join/split round-trip agreeing byte-for-byte
    // between the two engines (e.g. around empty tokens from doubled
    // spaces), so the pair is correct by construction
    docs.select(col("doc_id"),
        split(lower(col("text")), " ").as("t"))
      .select(col("doc_id"), col("t"),
        posexplode(col("t")).as(Seq("p", "w1")))
      .filter(col("p") < size(col("t")) - 1)
      .withColumn("w2", element_at(col("t"), col("p") + 2))
      .withColumn("green", expr(
        s"((${roll("w1")} * 100003 + ${roll("w2")})" +
          " % 1000000007) % 4 = 0"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"),
        sum(when(col("green"), 1L).otherwise(0L)).as("n_green"))
      .select(col("doc_id"), col("n_bigrams"), col("n_green"),
        expr("(n_green * 1000000) div n_bigrams").as("green_ppm"),
        floor((col("n_green") * 4 - col("n_bigrams")).cast(DoubleType)
          / sqrt(lit(3.0) * col("n_bigrams").cast(DoubleType))
          / lit(4.0) * 4000000.0 + 0.5).cast(LongType).as("z_e6"))
      .withColumn("flagged", col("z_e6") > 4000000L)
      .orderBy(col("doc_id"))
  }

  val watermarkDetectSql: String = {
    def roll(c: String) =
      s"list_reduce(list_prepend(CAST(0 AS BIGINT)," +
        s" list_transform(generate_series(1, length($c))," +
        s" i -> CAST(ascii(substring($c, i, 1)) AS BIGINT)))," +
        s" (acc, x) -> (acc * 31 + x) % 1000000007)"
    s"""WITH tok AS (
      |  SELECT doc_id, string_split(lower(text), ' ') AS t
      |  FROM documents),
      |pos AS (SELECT doc_id, t,
      |          unnest(range(1, greatest(len(t), 1))) AS i FROM tok),
      |big AS (SELECT doc_id, t[i] AS w1, t[i + 1] AS w2 FROM pos),
      |dec AS (
      |  SELECT doc_id,
      |    ((${roll("w1")} * 100003 + ${roll("w2")})
      |      % 1000000007) % 4 = 0 AS green
      |  FROM big),
      |agg AS (
      |  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
      |    CAST(SUM(CASE WHEN green THEN 1 ELSE 0 END) AS BIGINT)
      |      AS n_green
      |  FROM dec GROUP BY doc_id)
      |SELECT doc_id, n_bigrams, n_green,
      |  (n_green * 1000000) // n_bigrams AS green_ppm,
      |  CAST(floor(CAST(n_green * 4 - n_bigrams AS DOUBLE)
      |    / sqrt(3.0 * CAST(n_bigrams AS DOUBLE)) / 4.0
      |    * 4000000.0 + 0.5) AS BIGINT) AS z_e6,
      |  CAST(floor(CAST(n_green * 4 - n_bigrams AS DOUBLE)
      |    / sqrt(3.0 * CAST(n_bigrams AS DOUBLE)) / 4.0
      |    * 4000000.0 + 0.5) AS BIGINT) > 4000000 AS flagged
      |FROM agg ORDER BY doc_id""".stripMargin
  }

  /** Per-document watermark counts (n_bigrams, n_green) as a PURE
    * PROJECTION — no explode, no aggregation — so the frame is legal
    * upstream of a streaming stateful operator in append mode, and
    * identical in value to [[watermarkDetect]]'s explode+reduce
    * formulation (same roll, same green rule, pinned by spec). */
  private[graft] def watermarkCountsProjection(docs: DataFrame)
      : DataFrame =
    docs.select(col("source"), split(lower(col("text")), " ").as("t"))
      .withColumn("n", (size(col("t")) - 1).cast(LongType))
      .filter(col("n") > 0)
      .withColumn("g", expr(
        "CAST(size(filter(sequence(1, size(t) - 1), i -> " +
          s"((${polyRollExpr("element_at(t, i)")} * 100003 + " +
          s"${polyRollExpr("element_at(t, i + 1)")})" +
          " % 1000000007) % 4 = 0)) AS BIGINT)"))
      .select(col("source"), col("n"), col("g"))

  /** The keyed-state transform behind [[streamWatermarkRate]],
    * exposed for the plan contract (TransformWithState, zero
    * joins). */
  private[graft] def watermarkStateUpdates(docs: DataFrame)
      : org.apache.spark.sql.Dataset[graft.streaming.SourceWmTotals] = {
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
    import docs.sparkSession.implicits._
    org.apache.spark.sql.GraftSqlBridge
      .ensureStateStoreCoordinator(docs.sparkSession)
    watermarkCountsProjection(docs)
      .as[(String, Long, Long)]
      .groupByKey(_._1)
      .transformWithState(new graft.streaming.WatermarkRateProcessor,
        TimeMode.None(), OutputMode.Append())
  }

  /** Streaming watermark-rate scoreboard — [[watermarkDetect]]'s
    * corpus rollup maintained INCREMENTALLY as batches arrive: the
    * screen a live ingestion pipeline runs so model-generated
    * (green-list-watermarked) text is caught while streaming in, not
    * in a nightly batch. Per-document counts are a scan-side
    * projection ([[watermarkCountsProjection]]); per-source totals
    * live in RocksDB `transformWithState` ValueState
    * ([[graft.streaming.WatermarkRateProcessor]] — the
    * `stream_dedup_rate` keyed-store pattern: per-batch I/O ∝ batch +
    * touched sources, changelog checkpointing, exactly-once via the
    * sink commit log). Totals are component-wise monotone, so the
    * reader's max-struct fold recovers each source's terminal state
    * with no ordering metadata. Three micro-batches replay the corpus
    * split by doc_id mod 3; the converged scoreboard must equal the
    * batch rollup — the oracle is the batch SQL verbatim. */
  def streamWatermarkRate(s: SparkSession, dir: String): DataFrame = {
    val outDir = Scaffold.scratch(dir, "wmstream/updates")
    val docs = Tables.documents(s, dir)
    Scaffold.setup(Scaffold.rm(s, outDir))
    val batches = (0 to 2).map(m =>
      docs.filter(col("doc_id") % 3 === m).coalesce(2))
    EventStreams.withRocksDb(s, EventStreams.GateStatePartitions) {
      EventStreams.replay("wmstream_" + Scaffold.tag(dir),
          Scaffold.scratch(dir, "wmstream/src"), batches) { (stream, ck) =>
        EventStreams.toParquet(
          watermarkStateUpdates(stream).toDF(), outDir, ck)
      }
    }
    s.read.parquet(outDir)
      .groupBy(col("source"))
      .agg(max(struct(col("bigrams"), col("docs"), col("green")))
        .as("m"))
      .select(col("source"), col("m.docs").as("n_docs"),
        col("m.bigrams").as("n_bigrams"), col("m.green").as("n_green"))
      .select(col("source"), col("n_docs"), col("n_bigrams"),
        col("n_green"),
        expr("(n_green * 1000000) div n_bigrams").as("green_ppm"),
        floor((col("n_green") * 4 - col("n_bigrams")).cast(DoubleType)
          / sqrt(lit(3.0) * col("n_bigrams").cast(DoubleType))
          / lit(4.0) * 4000000.0 + 0.5).cast(LongType).as("z_e6"))
      .orderBy(col("source"))
  }

  val streamWatermarkRateSql: String = {
    def roll(c: String) =
      s"list_reduce(list_prepend(CAST(0 AS BIGINT)," +
        s" list_transform(generate_series(1, length($c))," +
        s" i -> CAST(ascii(substring($c, i, 1)) AS BIGINT)))," +
        s" (acc, x) -> (acc * 31 + x) % 1000000007)"
    s"""WITH tok AS (
      |  SELECT doc_id, source, string_split(lower(text), ' ') AS t
      |  FROM documents),
      |pos AS (SELECT doc_id, source, t,
      |          unnest(range(1, greatest(len(t), 1))) AS i FROM tok),
      |big AS (SELECT doc_id, source, t[i] AS w1, t[i + 1] AS w2
      |        FROM pos),
      |dec AS (
      |  SELECT doc_id, source,
      |    ((${roll("w1")} * 100003 + ${roll("w2")})
      |      % 1000000007) % 4 = 0 AS green
      |  FROM big),
      |agg AS (
      |  SELECT source,
      |    CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
      |    CAST(COUNT(*) AS BIGINT) AS n_bigrams,
      |    CAST(SUM(CASE WHEN green THEN 1 ELSE 0 END) AS BIGINT)
      |      AS n_green
      |  FROM dec GROUP BY source)
      |SELECT source, n_docs, n_bigrams, n_green,
      |  (n_green * 1000000) // n_bigrams AS green_ppm,
      |  CAST(floor(CAST(n_green * 4 - n_bigrams AS DOUBLE)
      |    / sqrt(3.0 * CAST(n_bigrams AS DOUBLE)) / 4.0
      |    * 4000000.0 + 0.5) AS BIGINT) AS z_e6
      |FROM agg ORDER BY source""".stripMargin
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "text_watermark_detect" -> (watermarkDetect _),
    "stream_watermark_rate" -> (streamWatermarkRate _),
    "text_chunk_windows" ->
      ((s: SparkSession, d: String) => chunkWindows(s, d)),
    "text_distinct_n" -> (distinctN _),
    "text_gopher_rules" ->
      ((s: SparkSession, d: String) => gopherRules(s, d)),
    "text_textrank" -> ((s: SparkSession, d: String) => textRank(s, d)),
    "text_source_overlap" -> (sourceOverlap _),
    "text_regex_extract_all" -> (regexExtractAll _),
    "text_hapax" -> (textHapax _),
    "text_ttr" -> (textTtr _),
    "text_vocab_growth" -> (vocabGrowth _),
    "text_boilerplate_strip" -> ((s, d) => boilerplateStrip(s, d)),
    "text_rake_keywords" -> ((s, d) => rakeKeywords(s, d)),
    "text_js_divergence" -> (jsDivergence _),
    "text_readability" -> (readability _),
    "text_phrase_search" -> ((s, d) => phraseSearch(s, d)),
    "text_entropy" -> (charEntropy _),
    "text_inverted_index" -> (invertedIndexGate _),
    "text_pretokenize" -> (pretokenize _),
    "text_normalize" -> (textNormalizeGate _),
    "text_heavy_hitters" -> ((s: SparkSession, d: String) => heavyHitters(s, d)),
    "text_bm25"    -> ((s: SparkSession, d: String) => bm25TopK(s, d)),
    "text_chunk"   -> (chunkGate _),
    "text_surprisal" -> (unigramSurprisal _),
    "text_stats"   -> (textStats _),
    "text_quality" -> (textQuality _),
    "text_lang_id" -> (langIdConfusion _),
    "text_winnow"  -> (winnowCheck _),
    "text_tfidf"   -> (tfidfTop _))

  def oracle: Map[String, String] = Map(
    "text_distinct_n" -> distinctNSql,
    "text_chunk_windows" -> chunkWindowsSql,
    "text_gopher_rules" -> gopherRulesSql,
    "text_textrank" -> textRankSql(),
    "text_source_overlap" -> sourceOverlapSql,
    "text_regex_extract_all" -> regexExtractAllSql,
    "text_hapax" -> textHapaxSql,
    "text_ttr" -> textTtrSql,
    "text_watermark_detect" -> watermarkDetectSql,
    "stream_watermark_rate" -> streamWatermarkRateSql,
    "text_vocab_growth" -> vocabGrowthSql,
    "text_boilerplate_strip" -> boilerplateStripSql,
    "text_rake_keywords" -> rakeKeywordsSql,
    "text_js_divergence" -> jsDivergenceSql,
    "text_readability" -> readabilitySql,
    "text_phrase_search" -> phraseSearchSql,
    "text_entropy" -> charEntropySql,
    "text_inverted_index" -> invertedIndexSql,
    "text_pretokenize" -> pretokenizeSql,
    "text_normalize" -> textNormalizeSql,
    "text_heavy_hitters" -> heavyHittersSql,
    "text_bm25"    -> bm25TopKSql(),
    "text_chunk"   -> chunkSql,
    "text_surprisal" -> unigramSurprisalSql,
    "text_stats"   -> textStatsSql,
    "text_quality" -> textQualitySql,
    "text_lang_id" -> langIdConfusionSql,
    "text_winnow"  -> winnowCheckSql,
    "text_tfidf"   -> tfidfTopSql)
}
