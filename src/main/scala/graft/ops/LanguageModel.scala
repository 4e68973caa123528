package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType}

import graft.Tables

/** Statistical-language-model scoring operators — the curation steps a
  * pre-training pipeline runs to rank raw text by model-fit before
  * spending GPU time on it:
  *
  *   - [[bigramLm]]: add-one-smoothed bigram log-likelihood per
  *     document (the deterministic stand-in for perplexity filtering —
  *     a real LM scorer slots into the same plan shape);
  *   - [[dsirWeights]]: DSIR-style importance weights
  *     (log target-LM / raw-LM unigram ratio, per document) for
  *     importance resampling toward a held-out target distribution;
  *   - [[oovRate]]: out-of-vocabulary fraction against the corpus's
  *     own top-N vocabulary, a cheap tokenizer-coverage screen.
  *
  * Determinism policy (shared with `TextAnalysis.unigramSurprisal`):
  * every per-token log term is snapped to a 1e-6-scaled LONG before
  * any aggregation — long sums commute, double sums don't — so the
  * scores are independent of row order and bit-identical in DuckDB.
  *
  * All token/gram arithmetic is plain single-space `split`, mirrored
  * exactly by `string_split` in the oracles.
  */
object LanguageModel {

  private def words(text: Column): Column = split(lower(text), " ")

  /** One row per word bigram of `text` (codegen'd n-gram kernel). */
  private def bigrams(text: Column): Column =
    explode(graft.plans.TextExpressions.tokenNGrams(
      words(text), 2, emitWholeShortDoc = false)).as("bg")

  /** 1e-6-snapped natural log of a double expression. */
  private def snap(x: Column): Column =
    floor(x * 1000000.0 + 0.5).cast(LongType)

  /** Per-document mean add-one-smoothed bigram log-probability under
    * the corpus's own bigram model:
    * `mean(ln((c(w1,w2)+1) / (c(w1)+V)))` over the document's bigrams.
    *
    * Scale: the two count tables are O(distinct bigrams) and
    * O(vocabulary). The vocabulary (+V scalar) side is broadcast; the
    * bigram-count side joins on the gram key — the same key the counts
    * were grouped by, so with AQE the exchange is reused, and the
    * per-doc reduce is the only other shuffle. Nothing is quadratic
    * and nothing collects to the driver.
    */
  def bigramLm(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val toks = docs.select(col("doc_id"),
      explode(words(col("text"))).as("w"))
    val uni = toks.groupBy(col("w")).agg(count(lit(1)).as("c1"))
    val vocab = uni.agg(count(lit(1)).as("v"))
    val big = docs.select(col("doc_id"), bigrams(col("text")))
      .withColumn("w1", element_at(split(col("bg"), " "), 1))
    val bgc = big.groupBy(col("bg")).agg(count(lit(1)).as("c2"))
    big.join(bgc, "bg")
      .join(broadcast(uni), col("w1") === uni("w"))
      .crossJoin(broadcast(vocab))
      .withColumn("lp", snap(log((col("c2") + lit(1)).cast(DoubleType) /
        (col("c1") + col("v")).cast(DoubleType))))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"),
        (sum(col("lp")).cast(DoubleType) /
          (count(lit(1)) * 1000000.0)).as("lp_mean"))
      .orderBy(col("doc_id"))
  }

  val bigramLmSql: String =
    """WITH tok AS (
      |  SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents),
      |toks AS (SELECT doc_id, unnest(t) AS w FROM tok),
      |uni AS (SELECT w, COUNT(*) AS c1 FROM toks GROUP BY w),
      |vocab AS (SELECT COUNT(*) AS v FROM uni),
      |pos AS (SELECT doc_id, t,
      |          unnest(range(1, greatest(len(t), 1))) AS i FROM tok),
      |big AS (SELECT doc_id, array_to_string(t[i:i+1], ' ') AS bg,
      |               t[i] AS w1 FROM pos),
      |bgc AS (SELECT bg, COUNT(*) AS c2 FROM big GROUP BY bg),
      |scored AS (
      |  SELECT big.doc_id,
      |    CAST(floor(ln(CAST(bgc.c2 + 1 AS DOUBLE) /
      |      CAST(uni.c1 + vocab.v AS DOUBLE)) * 1000000.0 + 0.5) AS BIGINT)
      |      AS lp
      |  FROM big JOIN bgc USING (bg) JOIN uni ON big.w1 = uni.w
      |  CROSS JOIN vocab)
      |SELECT doc_id, COUNT(*) AS n_bigrams,
      |  CAST(SUM(lp) AS DOUBLE) / (COUNT(*) * 1000000.0) AS lp_mean
      |FROM scored GROUP BY doc_id
      |ORDER BY doc_id""".stripMargin

  /** DSIR-style importance weights (Xie et al., "Data Selection for
    * Language Models via Importance Resampling", 2023): score every
    * raw document by `mean(ln P_target(w) − ln P_raw(w))` over its
    * tokens, under add-one-smoothed unigram models of the held-out
    * target slice (`doc_id % 101 == 0`, the same stand-in the
    * decontamination gates use) and of the raw corpus. Documents that
    * look most like the target float to the top for resampling.
    *
    * Scale: both models are O(vocabulary) count tables over the SAME
    * term key — they join each other and then the token stream on that
    * one key; the combined weight table is vocabulary-sized and
    * broadcast, so the raw corpus never shuffles except for its per-doc
    * reduce. The totals are scalar cross joins.
    */
  def dsirWeights(s: SparkSession, dir: String): DataFrame = {
    val toks = Tables.documents(s, dir)
      .select(col("doc_id"), explode(words(col("text"))).as("w"))
    val isTarget = col("doc_id") % 101 === 0
    val ct = toks.filter(isTarget).groupBy(col("w"))
      .agg(count(lit(1)).as("ct"))
    val cr = toks.filter(!isTarget).groupBy(col("w"))
      .agg(count(lit(1)).as("cr"))
    val totals = toks.agg(
      count(lit(1)).as("n_all"),
      sum(when(isTarget, 1L).otherwise(0L)).as("nt"),
      sum(when(isTarget, 0L).otherwise(1L)).as("nr"),
      countDistinct(col("w")).as("v"))
    val weights = toks.select(col("w")).distinct()
      .join(ct, Seq("w"), "left").join(cr, Seq("w"), "left")
      .crossJoin(broadcast(totals))
      .select(col("w"), snap(
        log((coalesce(col("ct"), lit(0L)) + lit(1)).cast(DoubleType) /
          (col("nt") + col("v")).cast(DoubleType)) -
        log((coalesce(col("cr"), lit(0L)) + lit(1)).cast(DoubleType) /
          (col("nr") + col("v")).cast(DoubleType))).as("lw"))
    toks.filter(!isTarget)
      .join(broadcast(weights), "w")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tok"),
        (sum(col("lw")).cast(DoubleType) /
          (count(lit(1)) * 1000000.0)).as("dsir_weight"))
      .orderBy(col("doc_id"))
  }

  val dsirWeightsSql: String =
    """WITH toks AS (
      |  SELECT doc_id, unnest(string_split(lower(text), ' ')) AS w
      |  FROM documents),
      |ct AS (SELECT w, COUNT(*) AS ct FROM toks
      |       WHERE doc_id % 101 = 0 GROUP BY w),
      |cr AS (SELECT w, COUNT(*) AS cr FROM toks
      |       WHERE doc_id % 101 <> 0 GROUP BY w),
      |totals AS (SELECT
      |    SUM(CASE WHEN doc_id % 101 = 0 THEN 1 ELSE 0 END) AS nt,
      |    SUM(CASE WHEN doc_id % 101 <> 0 THEN 1 ELSE 0 END) AS nr,
      |    COUNT(DISTINCT w) AS v
      |  FROM toks),
      |weights AS (
      |  SELECT w, CAST(floor((
      |      ln(CAST(COALESCE(ct.ct, 0) + 1 AS DOUBLE) /
      |         CAST(totals.nt + totals.v AS DOUBLE)) -
      |      ln(CAST(COALESCE(cr.cr, 0) + 1 AS DOUBLE) /
      |         CAST(totals.nr + totals.v AS DOUBLE))
      |    ) * 1000000.0 + 0.5) AS BIGINT) AS lw
      |  FROM (SELECT DISTINCT w FROM toks) vw
      |  LEFT JOIN ct USING (w) LEFT JOIN cr USING (w)
      |  CROSS JOIN totals)
      |SELECT doc_id, COUNT(*) AS n_tok,
      |  CAST(SUM(lw) AS DOUBLE) / (COUNT(*) * 1000000.0) AS dsir_weight
      |FROM toks JOIN weights USING (w)
      |WHERE doc_id % 101 <> 0
      |GROUP BY doc_id
      |ORDER BY doc_id""".stripMargin

  /** Out-of-vocabulary rate against the corpus's own top-`n` terms
    * (count desc, term asc for a total order): per document, the
    * fraction of tokens outside the vocabulary. The tokenizer-coverage
    * screen that flags documents a fixed vocab would shred into
    * unknowns.
    *
    * Scale: the vocabulary is a bounded global top-`n` (rank over the
    * term-count table, already tiny after its map-side-combined
    * groupBy), broadcast to a left join; one per-doc reduce. The
    * integer hit-count division is exact IEEE on both engines.
    */
  def oovRate(s: SparkSession, dir: String, n: Int = 1000): DataFrame = {
    val toks = Tables.documents(s, dir)
      .select(col("doc_id"), explode(words(col("text"))).as("w"))
    val vocab = toks.groupBy(col("w")).agg(count(lit(1)).as("c"))
      .orderBy(col("c").desc, col("w")).limit(n)
      .select(col("w"), lit(1).as("in_v"))
    toks.join(broadcast(vocab), Seq("w"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tok"),
        sum(when(col("in_v").isNull, 1L).otherwise(0L)).as("n_oov"))
      .select(col("doc_id"), col("n_tok"), col("n_oov"),
        (col("n_oov").cast(DoubleType) / col("n_tok").cast(DoubleType))
          .as("oov_rate"))
      .orderBy(col("doc_id"))
  }

  val oovRateSql: String =
    """WITH toks AS (
      |  SELECT doc_id, unnest(string_split(lower(text), ' ')) AS w
      |  FROM documents),
      |vocab AS (
      |  SELECT w FROM (
      |    SELECT w, COUNT(*) AS c FROM toks GROUP BY w
      |    ORDER BY c DESC, w LIMIT 1000)),
      |agg AS (
      |  SELECT t.doc_id, COUNT(*) AS n_tok,
      |    SUM(CASE WHEN v.w IS NULL THEN 1 ELSE 0 END) AS n_oov
      |  FROM toks t LEFT JOIN vocab v ON t.w = v.w
      |  GROUP BY t.doc_id)
      |SELECT doc_id, n_tok, CAST(n_oov AS BIGINT) AS n_oov,
      |  CAST(n_oov AS DOUBLE) / CAST(n_tok AS DOUBLE) AS oov_rate
      |FROM agg ORDER BY doc_id""".stripMargin

  /** In-engine BPE merge learning (Sennrich et al. 2016) — learn the
    * tokenizer ON the corpus, the step every LLM data pipeline runs
    * before token counting means anything. Each round: count
    * adjacent symbol pairs across the word vocabulary (weighted by
    * word frequency), take the most frequent pair (ties: smallest
    * (pa, pb)), and merge it greedily left-to-right in every word.
    * The merge is a string-accumulator fold — `last token == pa ∧
    * next == pb → replace last with pa‖pb` — written with the SAME
    * fold semantics in both engines (Spark `aggregate`, DuckDB
    * `list_reduce`), so the learned merge table is hash-exact.
    *
    * Scale: the corpus is touched ONCE (word census); every round
    * then runs on the VOCABULARY (distinct words × short token
    * arrays — ~1e5-row frames for a 100 TB corpus, since vocabulary
    * grows ~log of corpus size), with one tiny top-1 reduce per
    * round. Driver state per round is the single winning pair —
    * metadata, like the IVF centroid pull. */
  def bpeLearn(s: SparkSession, dir: String, rounds: Int = 4): DataFrame =
    bpeLearnFrom(
      Tables.documents(s, dir).filter(col("doc_id") < 500), rounds)

  def bpeLearnFrom(docs: DataFrame, rounds: Int): DataFrame = {
    val s = docs.sparkSession
    var words = docs
      .select(explode(split(lower(col("text")), "\\s+")).as("w"))
      .filter(col("w").rlike("^[a-z]{2,}$"))
      .groupBy(col("w")).agg(count(lit(1)).as("freq"))
      .select(expr(
        "split(w, '')")
        .as("toks"), col("freq"))
      .localCheckpoint()
    val merges = Seq.newBuilder[(Long, String, String, Long)]
    for (r <- 1 to rounds) {
      val top = words.filter(size(col("toks")) >= 2)
        .select(col("freq"), explode(expr(
          "transform(sequence(1, size(toks) - 1), i -> " +
          "struct(element_at(toks, i) AS pa, element_at(toks, i + 1) AS pb))"))
          .as("p"))
        .groupBy(col("p.pa").as("pa"), col("p.pb").as("pb"))
        .agg(sum(col("freq")).as("cnt"))
        .orderBy(col("cnt").desc, col("pa"), col("pb"))
        .limit(1).collect()(0)
      val (pa, pb) = (top.getString(0), top.getString(1))
      merges += ((r.toLong, pa, pb, top.getLong(2)))
      words = words.select(expr(bpeMergeExpr(pa, pb))
        .as("toks"), col("freq"))
        .localCheckpoint()
    }
    import s.implicits._
    merges.result().toDF("round", "pa", "pb", "cnt").orderBy(col("round"))
  }

  /** One greedy leftmost non-overlapping merge pass of (pa, pb) over
    * a `toks` array column, as a single codegen'd `aggregate` fold.
    * pa/pb are [a-z]+ by construction — safe to splice as literals. */
  private def bpeMergeExpr(pa: String, pb: String): String =
    s"""split(aggregate(slice(toks, 2, size(toks) - 1),
       |  element_at(toks, 1),
       |  (acc, x) -> CASE
       |    WHEN element_at(split(acc, ' '), -1) = '$pa' AND x = '$pb'
       |    THEN CASE
       |      WHEN length(acc) = length(element_at(split(acc, ' '), -1))
       |      THEN '$pa$pb'
       |      ELSE concat(substring(acc, 1,
       |        length(acc) - length(element_at(split(acc, ' '), -1))),
       |        '$pa$pb') END
       |    ELSE concat(acc, ' ', x) END), ' ')""".stripMargin

  /** BPE ENCODING at corpus scale — the apply side of [[bpeLearn]]:
    * re-tokenize every document under the learned merge table and
    * report per-document word/subword counts (the "how many tokens is
    * my corpus under this tokenizer" question every training-budget
    * plan starts with).
    *
    * Scale shape: the merge list is the MODEL — 4 rows collected to
    * the driver (same discipline as the CMS sketch / IVF centroids)
    * and spliced into codegen fold expressions. Encoding runs once
    * per DISTINCT word (the dimension table), not once per token —
    * the corpus side is count arithmetic against a broadcast
    * word→n_subtokens map, so a 100 TB corpus pays O(vocabulary)
    * fold work plus one join-free aggregate pass. Every fold is the
    * same greedy leftmost pass in both engines, so counts are
    * hash-exact. */
  def bpeApply(s: SparkSession, dir: String): DataFrame = {
    val merges = bpeLearn(s, dir).collect() // 4-row model, metadata-sized
    val docWords = Tables.documents(s, dir)
      .select(col("doc_id"),
        explode(split(lower(col("text")), "\\s+")).as("w"))
      .filter(col("w").rlike("^[a-z]{2,}$"))
    val wc = docWords.groupBy(col("doc_id"), col("w"))
      .agg(count(lit(1)).as("n"))
    var dim = docWords.select(col("w")).distinct()
      .withColumn("toks", expr(
        "split(w, '')"))
    merges.foreach { m =>
      dim = dim.select(col("w"),
        expr(bpeMergeExpr(m.getString(1), m.getString(2))).as("toks"))
    }
    val enc = dim.select(col("w"), size(col("toks")).cast(LongType)
      .as("n_sub"))
    wc.join(broadcast(enc), "w")
      .groupBy(col("doc_id"))
      .agg(sum(col("n")).as("n_words"),
        sum(col("n") * col("n_sub")).as("n_tok"))
      .orderBy(col("doc_id"))
  }

  private def bpeMergeDimSql(w: String, t: String): String =
    s"""SELECT w, string_split(
       |    list_reduce(toks, (acc, x) -> CASE
       |      WHEN string_split(acc, ' ')[-1] = $t.pa AND x = $t.pb
       |      THEN CASE WHEN length(acc) = length(string_split(acc, ' ')[-1])
       |           THEN concat($t.pa, $t.pb)
       |           ELSE concat(left(acc, length(acc)
       |                  - length(string_split(acc, ' ')[-1])),
       |                $t.pa, $t.pb) END
       |      ELSE concat(acc, ' ', x) END), ' ') AS toks
       |  FROM $w CROSS JOIN $t""".stripMargin

  val bpeApplySql: String =
    s"""WITH words0 AS (
       |  SELECT list_transform(generate_series(1, length(w)),
       |           i -> substr(w, CAST(i AS INTEGER), 1)) AS toks,
       |         CAST(COUNT(*) AS BIGINT) AS freq
       |  FROM (SELECT unnest(regexp_split_to_array(lower(text), '\\s+')) AS w
       |        FROM documents WHERE doc_id < 500) t
       |  WHERE regexp_matches(w, '^[a-z]{2,}$$')
       |  GROUP BY w),
       |pairs1 AS (${bpePairsSql("words0")}),
       |top1 AS (${bpeTopSql("pairs1")}),
       |words1 AS (${bpeMergeSql("words0", "top1")}),
       |pairs2 AS (${bpePairsSql("words1")}),
       |top2 AS (${bpeTopSql("pairs2")}),
       |words2 AS (${bpeMergeSql("words1", "top2")}),
       |pairs3 AS (${bpePairsSql("words2")}),
       |top3 AS (${bpeTopSql("pairs3")}),
       |words3 AS (${bpeMergeSql("words2", "top3")}),
       |pairs4 AS (${bpePairsSql("words3")}),
       |top4 AS (${bpeTopSql("pairs4")}),
       |docw AS (
       |  SELECT doc_id, w FROM (
       |    SELECT doc_id,
       |      unnest(regexp_split_to_array(lower(text), '\\s+')) AS w
       |    FROM documents) t
       |  WHERE regexp_matches(w, '^[a-z]{2,}$$')),
       |wc AS (SELECT doc_id, w, COUNT(*) AS n FROM docw
       |       GROUP BY doc_id, w),
       |dim0 AS (
       |  SELECT DISTINCT w,
       |    list_transform(generate_series(1, length(w)),
       |      i -> substr(w, CAST(i AS INTEGER), 1)) AS toks
       |  FROM docw),
       |dim1 AS (${bpeMergeDimSql("dim0", "top1")}),
       |dim2 AS (${bpeMergeDimSql("dim1", "top2")}),
       |dim3 AS (${bpeMergeDimSql("dim2", "top3")}),
       |dim4 AS (${bpeMergeDimSql("dim3", "top4")}),
       |enc AS (SELECT w, CAST(len(toks) AS BIGINT) AS n_sub FROM dim4)
       |SELECT wc.doc_id, CAST(SUM(wc.n) AS BIGINT) AS n_words,
       |  CAST(SUM(wc.n * enc.n_sub) AS BIGINT) AS n_tok
       |FROM wc JOIN enc USING (w)
       |GROUP BY wc.doc_id ORDER BY wc.doc_id""".stripMargin

  /** Tokenizer FERTILITY per language — subword tokens emitted per
    * word under the learned BPE model: the number that decides
    * whether a tokenizer is fair to a language (high fertility ⇒
    * more compute per content word ⇒ underserved language). Same
    * learn-on-subset / encode-whole-corpus discipline as
    * [[bpeApply]], aggregated per `lang` with the ratio as an exact
    * ppm division.
    *
    * Scale: identical to bpeApply — the merge model is 4 rows, the
    * per-word encoder is a broadcast dimension; one groupBy(lang). */
  def bpeFertility(s: SparkSession, dir: String): DataFrame = {
    val merges = bpeLearn(s, dir).collect() // 4-row model
    val docWords = Tables.documents(s, dir)
      .select(col("lang"),
        explode(split(lower(col("text")), "\\s+")).as("w"))
      .filter(col("w").rlike("^[a-z]{2,}$"))
    val wc = docWords.groupBy(col("lang"), col("w"))
      .agg(count(lit(1)).as("n"))
    var dim = docWords.select(col("w")).distinct()
      .withColumn("toks", expr(
        "split(w, '')"))
    merges.foreach { m =>
      dim = dim.select(col("w"),
        expr(bpeMergeExpr(m.getString(1), m.getString(2))).as("toks"))
    }
    val enc = dim.select(col("w"), size(col("toks")).cast(LongType)
      .as("n_sub"))
    wc.join(broadcast(enc), "w")
      .groupBy(col("lang"))
      .agg(sum(col("n")).as("n_words"),
        sum(col("n") * col("n_sub")).as("n_tok"))
      .select(col("lang"), col("n_words"), col("n_tok"),
        expr("n_tok * 1000000L div n_words").as("fertility_ppm"))
      .orderBy(col("lang"))
  }

  val bpeFertilitySql: String =
    s"""WITH words0 AS (
       |  SELECT list_transform(generate_series(1, length(w)),
       |           i -> substr(w, CAST(i AS INTEGER), 1)) AS toks,
       |         CAST(COUNT(*) AS BIGINT) AS freq
       |  FROM (SELECT unnest(regexp_split_to_array(lower(text), '\\s+')) AS w
       |        FROM documents WHERE doc_id < 500) t
       |  WHERE regexp_matches(w, '^[a-z]{2,}$$')
       |  GROUP BY w),
       |pairs1 AS (${bpePairsSql("words0")}),
       |top1 AS (${bpeTopSql("pairs1")}),
       |words1 AS (${bpeMergeSql("words0", "top1")}),
       |pairs2 AS (${bpePairsSql("words1")}),
       |top2 AS (${bpeTopSql("pairs2")}),
       |words2 AS (${bpeMergeSql("words1", "top2")}),
       |pairs3 AS (${bpePairsSql("words2")}),
       |top3 AS (${bpeTopSql("pairs3")}),
       |words3 AS (${bpeMergeSql("words2", "top3")}),
       |pairs4 AS (${bpePairsSql("words3")}),
       |top4 AS (${bpeTopSql("pairs4")}),
       |docw AS (
       |  SELECT lang, w FROM (
       |    SELECT lang,
       |      unnest(regexp_split_to_array(lower(text), '\\s+')) AS w
       |    FROM documents) t
       |  WHERE regexp_matches(w, '^[a-z]{2,}$$')),
       |wc AS (SELECT lang, w, COUNT(*) AS n FROM docw
       |       GROUP BY lang, w),
       |dim0 AS (
       |  SELECT DISTINCT w,
       |    list_transform(generate_series(1, length(w)),
       |      i -> substr(w, CAST(i AS INTEGER), 1)) AS toks
       |  FROM docw),
       |dim1 AS (${bpeMergeDimSql("dim0", "top1")}),
       |dim2 AS (${bpeMergeDimSql("dim1", "top2")}),
       |dim3 AS (${bpeMergeDimSql("dim2", "top3")}),
       |dim4 AS (${bpeMergeDimSql("dim3", "top4")}),
       |enc AS (SELECT w, CAST(len(toks) AS BIGINT) AS n_sub FROM dim4)
       |SELECT wc.lang, CAST(SUM(wc.n) AS BIGINT) AS n_words,
       |  CAST(SUM(wc.n * enc.n_sub) AS BIGINT) AS n_tok,
       |  CAST(SUM(wc.n * enc.n_sub) * 1000000 // SUM(wc.n) AS BIGINT)
       |    AS fertility_ppm
       |FROM wc JOIN enc USING (w)
       |GROUP BY wc.lang ORDER BY wc.lang""".stripMargin

  /** Tokenizer-fertility-weighted mixture (round-9 verdict growth
    * item c): temperature rebalancing with the budget priced in
    * TOKENS, not documents. A mixture that equalizes document counts
    * still starves languages whose tokenizer fragments words into
    * more subwords (high [[bpeFertility]] — the "do all languages
    * cost the same?" inequity: same content, more tokens, smaller
    * share of a fixed token budget). Here each document's cost is its
    * ENCODED token count under the learned BPE, per-language totals
    * set the temperature rate min(1, c·√(T_total/T_lang)) — rare-BY-
    * TOKENS languages are upsampled — and the keep decision is the
    * [[TrainingData.mixtureTemperature]] deterministic row-hash
    * Bernoulli. Output per language: document and token totals before
    * and after, the audit a budget owner reads.
    *
    * Determinism: the rate is one IEEE double tree (√ of a BIGINT
    * ratio, correctly rounded in both engines — the
    * mixtureTemperature discipline); everything else is integer.
    *
    * Scale: the merge model is 4 rows; the per-word encoder is a
    * broadcast dimension; per-doc costs are two map-side-combinable
    * aggregates; the rate table is O(languages) broadcast. No new
    * shuffle beyond [[bpeFertility]]'s own. */
  def fertilityMixture(s: SparkSession, dir: String,
      c: Double = 0.2): DataFrame = {
    val merges = bpeLearn(s, dir).collect() // 4-row model
    val docWords = Tables.documents(s, dir)
      .select(col("doc_id"), col("lang"),
        explode(split(lower(col("text")), "\\s+")).as("w"))
      .filter(col("w").rlike("^[a-z]{2,}$"))
    // Deliberately NOT checkpointed (round-13 measured finding):
    // wc/perDoc each feed two consumers, but the duplicate tokenize
    // work runs as PARALLEL branches of the final job on otherwise-
    // idle cores — eager checkpoints serialized those branches and
    // the A/B was indistinguishable from host noise (canary-ratio
    // bound). Recompute beats materialize at this shape; at a 100 TB
    // corpus the crossover flips and a pipeline would persist the
    // (doc, lang, w, n) proxy instead.
    val wc = docWords.groupBy(col("doc_id"), col("lang"), col("w"))
      .agg(count(lit(1)).as("n"))
    var dim = docWords.select(col("w")).distinct()
      .withColumn("toks", expr("split(w, '')"))
    merges.foreach { m =>
      dim = dim.select(col("w"),
        expr(bpeMergeExpr(m.getString(1), m.getString(2))).as("toks"))
    }
    val enc = dim.select(col("w"), size(col("toks")).cast(LongType)
      .as("n_sub"))
    val perDoc = wc.join(broadcast(enc), "w")
      .groupBy(col("doc_id"), col("lang"))
      .agg(sum(col("n") * col("n_sub")).as("tok"))
    val tot = perDoc.groupBy(col("lang"))
      .agg(sum(col("tok")).as("t_lang"))
      .withColumn("t_total", sum(col("t_lang")).over(
        org.apache.spark.sql.expressions.Window.partitionBy()))
    val rates = tot.select(col("lang"),
      least(lit(1.0), lit(c) * sqrt(
        col("t_total").cast("double") / col("t_lang").cast("double")))
        .as("rate"))
    perDoc.join(broadcast(rates), "lang")
      .withColumn("keep", TrainingData.rowHash32(col("doc_id"))
        .cast("double") < col("rate") * lit(4294967296.0))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("tok")).as("tok_total"),
        sum(when(col("keep"), 1L).otherwise(0L)).as("n_kept"),
        sum(when(col("keep"), col("tok")).otherwise(0L)).as("tok_kept"))
      .orderBy(col("lang"))
  }

  lazy val fertilityMixtureSql: String =
    s"""WITH words0 AS (
       |  SELECT list_transform(generate_series(1, length(w)),
       |           i -> substr(w, CAST(i AS INTEGER), 1)) AS toks,
       |         CAST(COUNT(*) AS BIGINT) AS freq
       |  FROM (SELECT unnest(regexp_split_to_array(lower(text), '\\s+')) AS w
       |        FROM documents WHERE doc_id < 500) t
       |  WHERE regexp_matches(w, '^[a-z]{2,}$$')
       |  GROUP BY w),
       |pairs1 AS (${bpePairsSql("words0")}),
       |top1 AS (${bpeTopSql("pairs1")}),
       |words1 AS (${bpeMergeSql("words0", "top1")}),
       |pairs2 AS (${bpePairsSql("words1")}),
       |top2 AS (${bpeTopSql("pairs2")}),
       |words2 AS (${bpeMergeSql("words1", "top2")}),
       |pairs3 AS (${bpePairsSql("words2")}),
       |top3 AS (${bpeTopSql("pairs3")}),
       |words3 AS (${bpeMergeSql("words2", "top3")}),
       |pairs4 AS (${bpePairsSql("words3")}),
       |top4 AS (${bpeTopSql("pairs4")}),
       |docw AS (
       |  SELECT doc_id, lang, w FROM (
       |    SELECT doc_id, lang,
       |      unnest(regexp_split_to_array(lower(text), '\\s+')) AS w
       |    FROM documents) t
       |  WHERE regexp_matches(w, '^[a-z]{2,}$$')),
       |wc AS (SELECT doc_id, lang, w, COUNT(*) AS n FROM docw
       |       GROUP BY doc_id, lang, w),
       |dim0 AS (
       |  SELECT DISTINCT w,
       |    list_transform(generate_series(1, length(w)),
       |      i -> substr(w, CAST(i AS INTEGER), 1)) AS toks
       |  FROM docw),
       |dim1 AS (${bpeMergeDimSql("dim0", "top1")}),
       |dim2 AS (${bpeMergeDimSql("dim1", "top2")}),
       |dim3 AS (${bpeMergeDimSql("dim2", "top3")}),
       |dim4 AS (${bpeMergeDimSql("dim3", "top4")}),
       |enc AS (SELECT w, CAST(len(toks) AS BIGINT) AS n_sub FROM dim4),
       |perdoc AS (
       |  SELECT wc.doc_id, wc.lang,
       |    CAST(SUM(wc.n * enc.n_sub) AS BIGINT) AS tok
       |  FROM wc JOIN enc USING (w)
       |  GROUP BY wc.doc_id, wc.lang),
       |tot AS (
       |  SELECT lang, CAST(SUM(tok) AS BIGINT) AS t_lang,
       |    CAST(SUM(SUM(tok)) OVER () AS BIGINT) AS t_total
       |  FROM perdoc GROUP BY lang),
       |rates AS (
       |  SELECT lang,
       |    least(1.0, 0.2 * sqrt(CAST(t_total AS DOUBLE)
       |                          / CAST(t_lang AS DOUBLE))) AS rate
       |  FROM tot),
       |kp AS (
       |  SELECT p.lang, p.tok,
       |    CAST(${TrainingData.rowHash32Sql} AS DOUBLE)
       |      < r.rate * 4294967296 AS keep
       |  FROM (SELECT doc_id, lang, tok FROM perdoc) p
       |  JOIN rates r USING (lang))
       |SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
       |  CAST(SUM(tok) AS BIGINT) AS tok_total,
       |  CAST(SUM(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_kept,
       |  CAST(SUM(CASE WHEN keep THEN tok ELSE 0 END) AS BIGINT)
       |    AS tok_kept
       |FROM kp GROUP BY lang ORDER BY lang""".stripMargin

  private def bpePairsSql(w: String): String =
    s"""SELECT toks[i] AS pa, toks[i+1] AS pb, SUM(freq) AS cnt
       |  FROM $w, UNNEST(generate_series(1, len(toks) - 1)) u(i)
       |  GROUP BY 1, 2""".stripMargin
  private def bpeTopSql(p: String): String =
    s"SELECT pa, pb, cnt FROM $p ORDER BY cnt DESC, pa, pb LIMIT 1"
  // NB: no continuation line may BEGIN with the SQL || operator —
  // stripMargin would eat its first pipe as the margin character.
  private def bpeMergeSql(w: String, t: String): String =
    s"""SELECT string_split(
       |    list_reduce(toks, (acc, x) -> CASE
       |      WHEN string_split(acc, ' ')[-1] = $t.pa AND x = $t.pb
       |      THEN CASE WHEN length(acc) = length(string_split(acc, ' ')[-1])
       |           THEN concat($t.pa, $t.pb)
       |           ELSE concat(left(acc, length(acc)
       |                  - length(string_split(acc, ' ')[-1])),
       |                $t.pa, $t.pb) END
       |      ELSE concat(acc, ' ', x) END), ' ') AS toks, freq
       |  FROM $w CROSS JOIN $t""".stripMargin

  val bpeLearnSql: String =
    s"""WITH words0 AS (
       |  SELECT list_transform(generate_series(1, length(w)),
       |           i -> substr(w, CAST(i AS INTEGER), 1)) AS toks,
       |         CAST(COUNT(*) AS BIGINT) AS freq
       |  FROM (SELECT unnest(regexp_split_to_array(lower(text), '\\s+')) AS w
       |        FROM documents WHERE doc_id < 500) t
       |  WHERE regexp_matches(w, '^[a-z]{2,}$$')
       |  GROUP BY w),
       |pairs1 AS (${bpePairsSql("words0")}),
       |top1 AS (${bpeTopSql("pairs1")}),
       |words1 AS (${bpeMergeSql("words0", "top1")}),
       |pairs2 AS (${bpePairsSql("words1")}),
       |top2 AS (${bpeTopSql("pairs2")}),
       |words2 AS (${bpeMergeSql("words1", "top2")}),
       |pairs3 AS (${bpePairsSql("words2")}),
       |top3 AS (${bpeTopSql("pairs3")}),
       |words3 AS (${bpeMergeSql("words2", "top3")}),
       |pairs4 AS (${bpePairsSql("words3")}),
       |top4 AS (${bpeTopSql("pairs4")})
       |SELECT * FROM (
       |  SELECT CAST(1 AS BIGINT) AS round, pa, pb,
       |         CAST(cnt AS BIGINT) AS cnt FROM top1
       |  UNION ALL SELECT 2, pa, pb, CAST(cnt AS BIGINT) FROM top2
       |  UNION ALL SELECT 3, pa, pb, CAST(cnt AS BIGINT) FROM top3
       |  UNION ALL SELECT 4, pa, pb, CAST(cnt AS BIGINT) FROM top4)
       |ORDER BY round""".stripMargin

  /** Collocation mining: top bigrams by pointwise mutual information
    * `PMI(x,y) = ln(c(xy)·T² / (B·c(x)·c(y)))` with a minimum-count
    * support filter — the keyword/phrase-extraction primitive (new
    * terms of art, named entities, multiword expressions surface
    * here first). The ln argument is assembled in ONE shared
    * operation order (×T ÷B ×T ÷cx ÷cy — IEEE ops are deterministic
    * given the tree) and the PMI is 1e-6-snapped, so ranking is
    * integer-exact; ties break on the bigram string.
    *
    * Scale: bigram and unigram counts are map-side-combined; the
    * unigram side (vocabulary) broadcasts twice (left/right word),
    * the scalars T and B broadcast as single rows, and top-k is
    * TakeOrderedAndProject — per-partition heaps, no global sort.
    * The support filter (`c ≥ 5`) prunes the long tail BEFORE the
    * joins, so the joined frame is O(frequent bigrams). */
  def collocations(s: SparkSession, dir: String,
      minCount: Long = 5L, k: Int = 20): DataFrame = {
    val docs = Tables.documents(s, dir)
    val toks = docs.select(explode(words(col("text"))).as("w"))
    val uni = toks.groupBy(col("w")).agg(count(lit(1)).as("c"))
    val tot = toks.agg(count(lit(1)).as("t"))
    val big = docs.select(bigrams(col("text")))
      .groupBy(col("bg")).agg(count(lit(1)).as("cxy"))
      .filter(col("cxy") >= minCount)
      .withColumn("w1", element_at(split(col("bg"), " "), 1))
      .withColumn("w2", element_at(split(col("bg"), " "), 2))
    val btot = big.agg(sum(col("cxy")).as("b"))
    big
      .join(broadcast(uni.toDF("w1", "cx")), "w1")
      .join(broadcast(uni.toDF("w2", "cy")), "w2")
      .crossJoin(broadcast(tot)).crossJoin(broadcast(btot))
      .withColumn("pmi6", snap(log(
        col("cxy").cast(DoubleType) * col("t").cast(DoubleType)
          / col("b").cast(DoubleType) * col("t").cast(DoubleType)
          / col("cx").cast(DoubleType) / col("cy").cast(DoubleType))))
      .select(col("bg"), col("cxy"),
        (col("pmi6").cast(DoubleType) / 1000000.0).as("pmi"))
      .orderBy(col("pmi").desc, col("bg"))
      .limit(k)
  }

  val collocationsSql: String =
    """WITH tok AS (
      |  SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents),
      |toks AS (SELECT unnest(t) AS w FROM tok),
      |uni AS (SELECT w, COUNT(*) AS c FROM toks GROUP BY w),
      |tot AS (SELECT COUNT(*) AS t FROM toks),
      |pos AS (SELECT doc_id, t,
      |          unnest(range(1, greatest(len(t), 1))) AS i FROM tok),
      |bgc AS (
      |  SELECT array_to_string(t[i:i+1], ' ') AS bg,
      |         t[i] AS w1, t[i+1] AS w2, COUNT(*) AS cxy
      |  FROM pos GROUP BY 1, 2, 3
      |  HAVING COUNT(*) >= 5),
      |btot AS (SELECT SUM(cxy) AS b FROM bgc),
      |scored AS (
      |  SELECT bg, cxy,
      |    CAST(floor(ln(
      |      CAST(cxy AS DOUBLE) * CAST(t AS DOUBLE)
      |        / CAST(b AS DOUBLE) * CAST(t AS DOUBLE)
      |        / CAST(ux.c AS DOUBLE) / CAST(uy.c AS DOUBLE))
      |      * 1000000.0 + 0.5) AS BIGINT) AS pmi6
      |  FROM bgc JOIN uni ux ON bgc.w1 = ux.w
      |           JOIN uni uy ON bgc.w2 = uy.w
      |  CROSS JOIN tot CROSS JOIN btot)
      |SELECT bg, CAST(cxy AS BIGINT) AS cxy,
      |  CAST(pmi6 AS DOUBLE) / 1000000.0 AS pmi
      |FROM scored
      |ORDER BY pmi DESC, bg
      |LIMIT 20""".stripMargin

  /** Zipf rank–frequency fit: the OLS slope of ln(freq) on ln(rank)
    * over the top-N vocabulary — natural text sits near −1, tables /
    * boilerplate / generated spam drift off, making the slope a
    * corpus-level quality screen ([[TextAnalysis.textQuality]] is
    * the per-doc counterpart). Log terms are 1e-6-snapped BEFORE the
    * closed-form OLS moment sums (the [[Learn.linreg]] algebra), so
    * every moment is an exact long sum and the slope is one final
    * double expression — hash-stable.
    *
    * Scale: vocabulary count is map-side-combined; ranking the top-N
    * terms is TakeOrderedAndProject (N = 1000 — driver-sized), and
    * the moment sums aggregate those N rows. The corpus is scanned
    * once. */
  def zipfFit(s: SparkSession, dir: String, topN: Int = 1000): DataFrame = {
    val toks = Tables.documents(s, dir)
      .select(explode(words(col("text"))).as("w"))
    val top = toks.groupBy(col("w")).agg(count(lit(1)).as("c"))
      .orderBy(col("c").desc, col("w")).limit(topN)
    val w = Window.orderBy(col("c").desc, col("w"))
    top
      .withColumn("lr", snap(log(row_number().over(w)
        .cast(DoubleType))))
      .withColumn("lf", snap(log(col("c").cast(DoubleType))))
      .agg(count(lit(1)).as("n"),
        sum(col("lr")).as("sx"), sum(col("lf")).as("sy"),
        sum(col("lr") * col("lr")).as("sxx"),
        sum(col("lr") * col("lf")).as("sxy"))
      .select(col("n"),
        (((col("n") * col("sxy") - col("sx") * col("sy"))
            .cast(DoubleType))
          / ((col("n") * col("sxx") - col("sx") * col("sx"))
            .cast(DoubleType))).as("slope"))
  }

  val zipfFitSql: String =
    """WITH toks AS (
      |  SELECT unnest(string_split(lower(text), ' ')) AS w
      |  FROM documents),
      |top AS (
      |  SELECT w, COUNT(*) AS c FROM toks GROUP BY w
      |  ORDER BY c DESC, w LIMIT 1000),
      |ranked AS (
      |  SELECT
      |    CAST(floor(ln(CAST(row_number()
      |      OVER (ORDER BY c DESC, w) AS DOUBLE)) * 1000000.0 + 0.5)
      |      AS BIGINT) AS lr,
      |    CAST(floor(ln(CAST(c AS DOUBLE)) * 1000000.0 + 0.5)
      |      AS BIGINT) AS lf
      |  FROM top),
      |m AS (
      |  SELECT COUNT(*) AS n, SUM(lr) AS sx, SUM(lf) AS sy,
      |    SUM(lr * lr) AS sxx, SUM(lr * lf) AS sxy
      |  FROM ranked)
      |SELECT n,
      |  CAST(n * sxy - sx * sy AS DOUBLE)
      |    / CAST(n * sxx - sx * sx AS DOUBLE) AS slope
      |FROM m""".stripMargin

  /** Interpolated Kneser–Ney bigram probabilities (the modern
    * n-gram-LM smoothing standard — Chen & Goodman 1999 — and the
    * model behind KenLM-style perplexity filters), discount d = 3/4:
    *
    *   P_KN(w2|w1) = max(c(w1w2) − d, 0)/c(w1·)
    *               + d·N1+(w1·)/c(w1·) · N1+(·w2)/T
    *
    * where N1+(w1·) / N1+(·w2) are distinct-continuation counts and
    * T is the number of distinct bigram types — the continuation
    * distribution that makes "francisco" low-probability as a novel
    * continuation however frequent the token is. With d = 3/4 every
    * term is rational, so P_KN is emitted as the exact integer
    * `⌊10⁶·((4c₂−3)·T + 3·N1p·Ncont) / (4·c₁·T)⌋` — one integer
    * division, no float folds, hash-identical in DuckDB.
    *
    * Scale: all four model tables (bigram counts, per-history
    * totals+continuations, per-word predecessors, the T scalar) are
    * O(distinct types) map-combinable aggregates off ONE gram pass;
    * the two dimension tables broadcast; top-k via orderBy+limit is
    * TakeOrderedAndProject (per-partition heaps, k-row reduce). */
  def kneserNey(s: SparkSession, dir: String, k: Int = 50): DataFrame = {
    val big = Tables.documents(s, dir)
      .select(bigrams(col("text")))
      .select(col("bg"),
        element_at(split(col("bg"), " "), 1).as("w1"),
        element_at(split(col("bg"), " "), 2).as("w2"))
    val bgc = big.groupBy(col("bg"), col("w1"), col("w2"))
      .agg(count(lit(1)).as("c2"))
    val hist = bgc.groupBy(col("w1"))
      .agg(sum(col("c2")).as("c1"), count(lit(1)).as("n1p"))
    val cont = bgc.groupBy(col("w2")).agg(count(lit(1)).as("ncont"))
    val types = bgc.agg(count(lit(1)).as("t"))
    bgc.join(broadcast(hist), "w1")
      .join(broadcast(cont), "w2")
      .crossJoin(broadcast(types))
      .select(col("bg"), col("c2"),
        expr("(1000000 * ((4*c2 - 3) * t + 3 * n1p * ncont))" +
          " div (4 * c1 * t)").as("kn_ppm"),
        expr("(3000000 * n1p) div (4 * c1)").as("lam_ppm"))
      .orderBy(col("c2").desc, col("bg"))
      .limit(k)
  }

  val kneserNeySql: String =
    """WITH tok AS (
      |  SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents),
      |pos AS (SELECT doc_id, t,
      |          unnest(range(1, greatest(len(t), 1))) AS i FROM tok),
      |big AS (SELECT array_to_string(t[i:i+1], ' ') AS bg,
      |               t[i] AS w1, t[i+1] AS w2 FROM pos),
      |bgc AS (SELECT bg, w1, w2, COUNT(*) AS c2 FROM big
      |        GROUP BY bg, w1, w2),
      |hist AS (SELECT w1, CAST(SUM(c2) AS BIGINT) AS c1,
      |                COUNT(*) AS n1p FROM bgc GROUP BY w1),
      |cont AS (SELECT w2, COUNT(*) AS ncont FROM bgc GROUP BY w2),
      |tt AS (SELECT COUNT(*) AS t FROM bgc)
      |SELECT bgc.bg, bgc.c2,
      |  CAST((1000000 * ((4*bgc.c2 - 3) * tt.t + 3 * hist.n1p * cont.ncont))
      |       // (4 * hist.c1 * tt.t) AS BIGINT) AS kn_ppm,
      |  CAST((3000000 * hist.n1p) // (4 * hist.c1) AS BIGINT) AS lam_ppm
      |FROM bgc JOIN hist USING (w1) JOIN cont USING (w2) CROSS JOIN tt
      |ORDER BY bgc.c2 DESC, bgc.bg LIMIT 50""".stripMargin

  /** Pointwise-mutual-information collocations — the classic
    * phrase/term-pair discovery pass (Church & Hanks): for every
    * bigram with support ≥ `minSup`,
    * `PMI = ln P(ab) − ln P(a) − ln P(b)` stated entirely as logs of
    * positive integer counts in ONE fixed operand order, snapped to a
    * 1e-6 long — so ranking and values are bit-exact cross-engine.
    * Where [[bigramLm]] models sequence probability, PMI isolates
    * association strength: the pre-tokenizer merge-candidate list and
    * the "named-entity-ish glue" detector a corpus audit wants.
    *
    * Scale: two map-combinable count passes (unigrams, bigrams);
    * the scored frame is the ≥minSup bigram TABLE (vocabulary-sized,
    * not corpus-sized), the unigram side is the same broadcast the
    * DSIR gate justifies, and totals are scalar cross joins. */
  def pmiBigrams(s: SparkSession, dir: String, minSup: Long = 5L,
      topk: Int = 50): DataFrame = {
    val docs = Tables.documents(s, dir)
    val toks = docs.select(explode(words(col("text"))).as("w"))
    val uni = toks.groupBy(col("w")).agg(count(lit(1)).as("c1"))
    val t1 = toks.agg(count(lit(1)).as("t1"))
    val big = docs.select(bigrams(col("text")))
    val t = big.agg(count(lit(1)).as("t"))
    val bgc = big.groupBy(col("bg")).agg(count(lit(1)).as("c2"))
      .filter(col("c2") >= minSup)
    bgc
      .withColumn("w1", element_at(split(col("bg"), " "), 1))
      .withColumn("w2", element_at(split(col("bg"), " "), 2))
      .join(broadcast(uni.toDF("w1", "ca")), "w1")
      .join(broadcast(uni.toDF("w2", "cb")), "w2")
      .crossJoin(broadcast(t))
      .crossJoin(broadcast(t1))
      .select(col("bg"), col("c2"),
        snap(log(col("c2").cast(DoubleType))
          - log(col("t").cast(DoubleType))
          - log(col("ca").cast(DoubleType))
          + log(col("t1").cast(DoubleType))
          - log(col("cb").cast(DoubleType))
          + log(col("t1").cast(DoubleType))).as("pmi_e6"))
      .orderBy(col("pmi_e6").desc, col("bg"))
      .limit(topk)
  }

  val pmiBigramsSql: String =
    """WITH tok AS (
      |  SELECT doc_id, string_split(lower(text), ' ') AS t
      |  FROM documents),
      |toks AS (SELECT unnest(t) AS w FROM tok),
      |uni AS (SELECT w, COUNT(*) AS c1 FROM toks GROUP BY w),
      |t1 AS (SELECT COUNT(*) AS t1 FROM toks),
      |pos AS (SELECT doc_id, t,
      |          unnest(range(1, greatest(len(t), 1))) AS i FROM tok),
      |big AS (SELECT array_to_string(t[i:i+1], ' ') AS bg,
      |               t[i] AS w1, t[i+1] AS w2 FROM pos),
      |tt AS (SELECT COUNT(*) AS t FROM big),
      |bgc AS (SELECT bg, MIN(w1) AS w1, MIN(w2) AS w2,
      |               COUNT(*) AS c2
      |        FROM big GROUP BY bg HAVING COUNT(*) >= 5)
      |SELECT bg, CAST(c2 AS BIGINT) AS c2,
      |  CAST(floor((ln(CAST(c2 AS DOUBLE))
      |    - ln(CAST(tt.t AS DOUBLE))
      |    - ln(CAST(ua.c1 AS DOUBLE))
      |    + ln(CAST(t1.t1 AS DOUBLE))
      |    - ln(CAST(ub.c1 AS DOUBLE))
      |    + ln(CAST(t1.t1 AS DOUBLE))) * 1000000.0 + 0.5) AS BIGINT)
      |    AS pmi_e6
      |FROM bgc
      |JOIN uni ua ON ua.w = bgc.w1
      |JOIN uni ub ON ub.w = bgc.w2
      |CROSS JOIN tt CROSS JOIN t1
      |ORDER BY pmi_e6 DESC, bg LIMIT 50""".stripMargin

  /** Held-out language-model evaluation — the TRUE perplexity
    * protocol, unlike [[bigramLm]]'s self-scoring: the add-one
    * bigram model is estimated on the TRAIN split of the corpus
    * (the [[TrainingData.trainValTestSplit]] buckets — full-width
    * rowHash32, bucket < 800) and evaluated on the VAL split
    * (bucket 800–899) it never saw. Unseen eval bigrams/contexts
    * fall back to c=0 smoothing mass by construction (LEFT joins),
    * exactly as a held-out scorer must. Emits corpus-level counts,
    * the EXACT snapped-long NLL sum, and the mean NLL in nats
    * (perplexity = e^nll_mean; the exp is left to the reader so no
    * cross-libm transcendental reaches the hash).
    *
    * Scale: model tables are O(train bigrams)/O(vocab) — the vocab
    * scalar broadcast, the bigram join on the gram key; the val side
    * is one explode + two equi joins + one global reduce. */
  def lmPerplexity(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
      .withColumn("bucket",
        pmod(TrainingData.rowHash32(col("doc_id")), lit(1000L)))
    val train = docs.filter(col("bucket") < 800)
    val valid = docs.filter(col("bucket") >= 800 && col("bucket") < 900)
    val uni = train.select(explode(words(col("text"))).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("c1"))
    val vocab = uni.agg(count(lit(1)).as("v"))
    val bgc = train.select(bigrams(col("text")))
      .groupBy(col("bg")).agg(count(lit(1)).as("c2"))
    val evalBg = valid.select(col("doc_id"), bigrams(col("text")))
      .withColumn("w1", element_at(split(col("bg"), " "), 1))
    val scored = evalBg
      .join(bgc, Seq("bg"), "left")
      .join(broadcast(uni), col("w1") === uni("w"), "left")
      .crossJoin(broadcast(vocab))
      .withColumn("lp", snap(log(
        (coalesce(col("c2"), lit(0L)) + lit(1)).cast(DoubleType) /
          (coalesce(col("c1"), lit(0L)) + col("v"))
            .cast(DoubleType))))
    val nTrain = train.agg(count(lit(1)).as("n_train_docs"))
    val nVal = valid.agg(count(lit(1)).as("n_val_docs"))
    scored.agg(count(lit(1)).as("n_bigrams"),
        sum(-col("lp")).as("nll_sum_e6"))
      .crossJoin(broadcast(nTrain)).crossJoin(broadcast(nVal))
      .select(col("n_train_docs"), col("n_val_docs"),
        col("n_bigrams"), col("nll_sum_e6"),
        (col("nll_sum_e6").cast(DoubleType) /
          (col("n_bigrams") * 1000000.0)).as("nll_mean"))
  }

  val lmPerplexitySql: String =
    s"""WITH d AS (
      |  SELECT doc_id, text,
      |    (${TrainingData.rowHash32Sql}) % 1000 AS bucket
      |  FROM documents),
      |train AS (SELECT doc_id, string_split(lower(text), ' ') AS t
      |          FROM d WHERE bucket < 800),
      |val AS (SELECT doc_id, string_split(lower(text), ' ') AS t
      |        FROM d WHERE bucket >= 800 AND bucket < 900),
      |uni AS (
      |  SELECT w, COUNT(*) AS c1 FROM (
      |    SELECT unnest(t) AS w FROM train) GROUP BY w),
      |vocab AS (SELECT COUNT(*) AS v FROM uni),
      |bgc AS (
      |  SELECT bg, COUNT(*) AS c2 FROM (
      |    SELECT array_to_string(t[i:i+1], ' ') AS bg FROM (
      |      SELECT t, unnest(range(1, greatest(len(t), 1))) AS i
      |      FROM train)) GROUP BY bg),
      |ebig AS (
      |  SELECT doc_id, array_to_string(t[i:i+1], ' ') AS bg,
      |    t[i] AS w1
      |  FROM (SELECT doc_id, t,
      |          unnest(range(1, greatest(len(t), 1))) AS i FROM val)),
      |scored AS (
      |  SELECT CAST(floor(ln(CAST(COALESCE(bgc.c2, 0) + 1 AS DOUBLE)
      |    / CAST(COALESCE(uni.c1, 0) + vocab.v AS DOUBLE))
      |    * 1000000.0 + 0.5) AS BIGINT) AS lp
      |  FROM ebig
      |  LEFT JOIN bgc USING (bg)
      |  LEFT JOIN uni ON ebig.w1 = uni.w
      |  CROSS JOIN vocab),
      |nt AS (SELECT COUNT(*) AS n_train_docs FROM train),
      |nv AS (SELECT COUNT(*) AS n_val_docs FROM val)
      |SELECT nt.n_train_docs, nv.n_val_docs,
      |  COUNT(*) AS n_bigrams,
      |  CAST(SUM(-lp) AS BIGINT) AS nll_sum_e6,
      |  CAST(SUM(-lp) AS DOUBLE) / (COUNT(*) * 1000000.0) AS nll_mean
      |FROM scored, nt, nv
      |GROUP BY nt.n_train_docs, nv.n_val_docs""".stripMargin

  /** CCNet-style perplexity bucketing (Wenzek et al. 2020): score
    * every document under the corpus bigram model ([[bigramLm]]'s
    * construction, exact snapped-long NLL sums per doc) and split
    * the corpus into head/middle/tail TERCILES of mean NLL — the
    * published recipe for "keep the head, maybe the middle, drop
    * the tail". Bucket boundaries come from NTILE(3) over
    * (nll_mean, doc_id) — identical tie-break both engines. Emits
    * per-bucket doc/bigram counts and the exact summed NLL.
    *
    * Scale: the scoring pass is [[bigramLm]]'s (model broadcast /
    * gram-keyed join); the NTILE here is a single global window
    * over O(docs) score rows — at corpus scale the terciles come
    * from two-pass quantile cutpoints instead, same downstream. */
  def pplBuckets(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val toks = docs.select(col("doc_id"),
      explode(words(col("text"))).as("w"))
    val uni = toks.groupBy(col("w")).agg(count(lit(1)).as("c1"))
    val vocab = uni.agg(count(lit(1)).as("v"))
    val big = docs.select(col("doc_id"), bigrams(col("text")))
      .withColumn("w1", element_at(split(col("bg"), " "), 1))
    val bgc = big.groupBy(col("bg")).agg(count(lit(1)).as("c2"))
    val perDoc = big.join(bgc, "bg")
      .join(broadcast(uni), col("w1") === uni("w"))
      .crossJoin(broadcast(vocab))
      .withColumn("lp", snap(log((col("c2") + lit(1))
        .cast(DoubleType) / (col("c1") + col("v")).cast(DoubleType))))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("nb"), sum(-col("lp")).as("nll_e6"))
      .withColumn("nll_mean", col("nll_e6").cast(DoubleType)
        / (col("nb") * 1000000.0))
    val w = Window.orderBy(col("nll_mean"), col("doc_id"))
    perDoc
      .withColumn("bucket", ntile(3).over(w).cast(LongType))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_docs"), sum(col("nb")).as("n_bigrams"),
        sum(col("nll_e6")).as("nll_sum_e6"))
      .select(col("bucket"), col("n_docs"), col("n_bigrams"),
        col("nll_sum_e6"),
        (col("nll_sum_e6").cast(DoubleType) /
          (col("n_bigrams") * 1000000.0)).as("nll_mean"))
      .orderBy(col("bucket"))
  }

  val pplBucketsSql: String =
    """WITH tok AS (
      |  SELECT doc_id, string_split(lower(text), ' ') AS t
      |  FROM documents),
      |toks AS (SELECT doc_id, unnest(t) AS w FROM tok),
      |uni AS (SELECT w, COUNT(*) AS c1 FROM toks GROUP BY w),
      |vocab AS (SELECT COUNT(*) AS v FROM uni),
      |pos AS (SELECT doc_id, t,
      |          unnest(range(1, greatest(len(t), 1))) AS i FROM tok),
      |big AS (SELECT doc_id, array_to_string(t[i:i+1], ' ') AS bg,
      |               t[i] AS w1 FROM pos),
      |bgc AS (SELECT bg, COUNT(*) AS c2 FROM big GROUP BY bg),
      |per_doc AS (
      |  SELECT big.doc_id, COUNT(*) AS nb,
      |    CAST(SUM(-CAST(floor(ln(CAST(bgc.c2 + 1 AS DOUBLE)
      |      / CAST(uni.c1 + vocab.v AS DOUBLE)) * 1000000.0 + 0.5)
      |      AS BIGINT)) AS BIGINT) AS nll_e6
      |  FROM big JOIN bgc USING (bg) JOIN uni ON big.w1 = uni.w
      |  CROSS JOIN vocab
      |  GROUP BY big.doc_id),
      |bucketed AS (
      |  SELECT nb, nll_e6,
      |    CAST(ntile(3) OVER (ORDER BY
      |      CAST(nll_e6 AS DOUBLE) / (nb * 1000000.0), doc_id)
      |      AS BIGINT) AS bucket
      |  FROM per_doc)
      |SELECT bucket, COUNT(*) AS n_docs,
      |  CAST(SUM(nb) AS BIGINT) AS n_bigrams,
      |  CAST(SUM(nll_e6) AS BIGINT) AS nll_sum_e6,
      |  CAST(SUM(nll_e6) AS DOUBLE)
      |    / (CAST(SUM(nb) AS BIGINT) * 1000000.0) AS nll_mean
      |FROM bucketed GROUP BY bucket
      |ORDER BY bucket""".stripMargin

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "text_ppl_buckets" -> (pplBuckets _),
    "text_lm_perplexity" -> (lmPerplexity _),
    "text_pmi_bigrams" -> ((s: SparkSession, d: String) =>
      pmiBigrams(s, d)),
    "text_kneser_ney" -> ((s, d) => kneserNey(s, d)),
    "text_bpe_apply" -> (bpeApply _),
    "text_bpe_fertility" -> (bpeFertility _),
    "text_collocations" -> ((s, d) => collocations(s, d)),
    "text_zipf" -> ((s, d) => zipfFit(s, d)),
    "text_bigram_lm" -> (bigramLm _),
    "curate_dsir" -> (dsirWeights _),
    "text_bpe_learn" -> ((s, d) => bpeLearn(s, d)),
    "pack_fertility_mixture" -> ((s, d) => fertilityMixture(s, d)),
    "text_oov_rate" -> ((s, d) => oovRate(s, d)))

  def oracle: Map[String, String] = Map(
    "text_ppl_buckets" -> pplBucketsSql,
    "text_lm_perplexity" -> lmPerplexitySql,
    "text_pmi_bigrams" -> pmiBigramsSql,
    "text_kneser_ney" -> kneserNeySql,
    "text_bpe_apply" -> bpeApplySql,
    "text_bpe_fertility" -> bpeFertilitySql,
    "text_bigram_lm" -> bigramLmSql,
    "text_collocations" -> collocationsSql,
    "text_zipf" -> zipfFitSql,
    "curate_dsir" -> dsirWeightsSql,
    "text_bpe_learn" -> bpeLearnSql,
    "pack_fertility_mixture" -> fertilityMixtureSql,
    "text_oov_rate" -> oovRateSql)
}
