package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.Tables
import graft.functions.TextFunctions._

/** End-to-end training-data curation pipeline — the operators of this
  * engine composed the way a corpus build actually runs them:
  *
  *   corpus (with mutated duplicates)
  *     → quality gate   (qualityScore ≥ threshold; codegen'd projection)
  *     → exact dedup    (normalized-content fingerprint, min-id survivor)
  *     → language join  (broadcast dim lookup)
  *     → per-language corpus summary
  *
  * Everything is one declarative plan: the quality score and the
  * fingerprint are scan-side projections, the dedup is one shuffle on
  * the fingerprint, the language lookup a broadcast join, the summary
  * one partial-aggregated groupBy — at 100 TB this reads the text
  * column once and shuffles only (fingerprint, doc_id, n_chars).
  *
  * The whole pipeline is SQL-expressible, so the DuckDB oracle
  * replays it end-to-end — the gate checks the composition, not just
  * the parts.
  */
object CurationPipeline {

  val QualityThreshold = 0.5

  /** Quality-passing, exact-deduped corpus rows (survivors keep the
    * smallest doc_id of their content group and its raw length). */
  def curated(s: SparkSession, dir: String): DataFrame =
    DocCorpus.withDuplicates(s, dir)
      .filter(qualityScore(col("text")) >= QualityThreshold)
      .select(fingerprint(col("text")).as("fp"), col("doc_id"),
        length(col("text")).cast(LongType).as("n_chars"))
      .groupBy(col("fp"))
      .agg(min(struct(col("doc_id"), col("n_chars"))).as("survivor"))
      .select(col("survivor.doc_id").as("doc_id"),
        col("survivor.n_chars").as("n_chars"))

  /** Gate query: per-language summary of the curated corpus — the
    * language comes from a broadcast join back to the documents dim
    * (mutant ids map to their source via doc_id % 10000). */
  def summary(s: SparkSession, dir: String): DataFrame = {
    val langs = Tables.documents(s, dir)
      .select(col("doc_id").as("src_id"), col("lang"))
    curated(s, dir)
      .withColumn("src_id", col("doc_id") % 10000)
      .join(broadcast(langs), "src_id")
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("total_chars"),
        min(col("doc_id")).as("first_doc"))
      .orderBy(col("lang"))
  }

  /** The same pipeline in DuckDB SQL (quality score inlined from the
    * TextAnalysis oracle formulation). */
  val summarySql: String = {
    val stopList = EnStopwords.map(w => s"'$w'").mkString(", ")
    s"""WITH ${DocCorpus.CorpusSql},
       |scored AS (
       |  SELECT doc_id, length(text) AS n_chars,
       |    least(length(text) / 200.0, 1.0) * 0.4
       |    + least(CASE WHEN len(toks) = 0 THEN 0.0 ELSE
       |        CAST(len(list_filter(toks, t -> t IN ($stopList)))
       |          AS DOUBLE) / len(toks) END * 4.0, 1.0) * 0.4
       |    + (1.0 - least((CASE WHEN length(text) = 0 THEN 0.0 ELSE
       |        CAST(length(regexp_replace(text, '[^.,!?;:''"()\\[\\]-]',
       |          '', 'g')) AS DOUBLE) / length(text) END) * 5.0, 1.0))
       |      * 0.2 AS quality,
       |    ${DocCorpus.NormalizeSql} AS norm
       |  FROM (SELECT *,
       |          list_filter(regexp_split_to_array(trim(lower(text)),
       |            '\\s+'), t -> len(t) > 0) AS toks
       |        FROM corpus)),
       |survivors AS (
       |  SELECT min(doc_id) AS doc_id,
       |    CAST(arg_min(n_chars, doc_id) AS BIGINT) AS n_chars
       |  FROM scored WHERE quality >= $QualityThreshold
       |  GROUP BY norm)
       |SELECT d.lang, COUNT(*) AS n_docs,
       |  CAST(SUM(s.n_chars) AS BIGINT) AS total_chars,
       |  MIN(s.doc_id) AS first_doc
       |FROM survivors s JOIN documents d ON s.doc_id % 10000 = d.doc_id
       |GROUP BY d.lang
       |ORDER BY d.lang""".stripMargin
  }

  /** Deterministic stratified downsampling: every `k`-th document per
    * stratum in id order. Unlike seeded Bernoulli `sampleBy` (whose
    * draw is engine-specific), the systematic form is bit-reproducible
    * across engines AND across reruns — the property that matters
    * when a 100 TB corpus build must be auditable. One window sort
    * per stratum, no extra shuffle after it. */
  def stratifiedSample(s: SparkSession, dir: String, k: Int = 10)
      : DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("lang")).orderBy(col("doc_id"))
    Tables.documents(s, dir)
      .withColumn("rn", row_number().over(w))
      .filter((col("rn") - 1) % k === 0)
      .select(col("lang"), col("doc_id"), col("n_chars"))
      .orderBy(col("lang"), col("doc_id"))
  }

  val stratifiedSampleSql: String =
    """SELECT lang, doc_id, n_chars FROM (
      |  SELECT lang, doc_id, n_chars,
      |    row_number() OVER (PARTITION BY lang ORDER BY doc_id) AS rn
      |  FROM documents)
      |WHERE (rn - 1) % 10 = 0
      |ORDER BY lang, doc_id""".stripMargin

  /** Per-source cap (the C4/FineWeb domain-capping rule): keep at
    * most `cap` documents per source, best quality first (ties to the
    * smallest doc_id) — the curation step that stops one hot domain
    * from dominating a web-scale corpus.
    *
    * Scale: a single window per source would funnel every document of
    * the hottest domain through ONE task, so the pick runs in TWO
    * phases — a salted pre-rank over (source, doc_id mod `salts`)
    * truncates each salt lane to `cap` rows (the global per-source
    * top-`cap` always survives: each lane keeps its own best `cap`),
    * then the final rank sees at most `cap`·`salts` rows per source.
    * Both windows carry map-side `WindowGroupLimit` truncation; the
    * quality score is a scan-side codegen projection. */
  def domainCap(docs: DataFrame, cap: Int, salts: Int = 16): DataFrame = {
    val scored = docs.select(col("doc_id"), col("source"),
      qualityScore(col("text")).as("quality"))
    val pre = org.apache.spark.sql.expressions.Window
      .partitionBy(col("source"), pmod(col("doc_id"), lit(salts)))
      .orderBy(col("quality").desc, col("doc_id"))
    val fin = org.apache.spark.sql.expressions.Window
      .partitionBy(col("source"))
      .orderBy(col("quality").desc, col("doc_id"))
    scored
      .withColumn("_rs", row_number().over(pre))
      .filter(col("_rs") <= cap)
      .withColumn("rank", row_number().over(fin))
      .filter(col("rank") <= cap)
      .select(col("source"), col("doc_id"),
        col("rank").cast(LongType).as("rank"))
  }

  /** Gate: cap every source at its 10 best-quality documents. */
  def domainCapGate(s: SparkSession, dir: String): DataFrame =
    domainCap(Tables.documents(s, dir), cap = 10)
      .orderBy(col("source"), col("rank"))

  val domainCapSql: String =
    s"""WITH q AS (
       |${TextAnalysis.qualitySelectSql("documents")})
       |SELECT source, doc_id, rank FROM (
       |  SELECT d.source, d.doc_id,
       |    ROW_NUMBER() OVER (PARTITION BY d.source
       |      ORDER BY q.quality DESC, d.doc_id) AS rank
       |  FROM documents d JOIN q USING (doc_id))
       |WHERE rank <= 10
       |ORDER BY source, rank""".stripMargin

  /** Greedy token-budget selection: spend a token budget (30% of the
    * corpus's whitespace tokens) on the documents with the highest
    * lexical diversity (distinct-word count, ties to smallest
    * doc_id) — the "best data first" cut a compute-bound pre-training
    * run makes when it can't afford the whole corpus.
    *
    * Scale: the cut needs a GLOBAL running token total in quality
    * order — naively one `SUM OVER (ORDER BY ...)` single-partition
    * window. Like `TrainingData.shardAssignments`, it runs as a
    * two-phase prefix sum instead, except the bucket key is the
    * integer quality score itself: (1) per-score token subtotals
    * (map-side combinable; O(distinct scores) rows), (2) exclusive
    * running offsets over those subtotals (a window over the tiny
    * subtotal frame), (3) broadcast the offsets back and finish with
    * an intra-score window PARTITIONED by score — every partition
    * independent, no data funnel. The budget scalar is one broadcast
    * row.
    *
    * Determinism: score and token counts are integers; the budget is
    * `floor(total*3/10)` — floor() spelled explicitly because Spark's
    * double→long cast truncates while DuckDB's rounds.
    */
  def tokenBudget(s: SparkSession, dir: String): DataFrame = {
    val scored = Tables.documents(s, dir).select(col("doc_id"),
      size(split(col("text"), " ")).cast(LongType).as("tokens"),
      size(array_distinct(split(lower(col("text")), " ")))
        .cast(LongType).as("n_uniq"))
    val budget = scored.agg(
      floor(sum(col("tokens")) * 3 / 10).cast(LongType).as("budget"))
    val offsets = scored.groupBy(col("n_uniq"))
      .agg(sum(col("tokens")).as("bucket_tok"))
      .withColumn("offset", coalesce(
        sum(col("bucket_tok")).over(org.apache.spark.sql.expressions
          .Window.orderBy(col("n_uniq").desc)
          .rowsBetween(Long.MinValue, -1)), lit(0L)))
      .select(col("n_uniq"), col("offset"))
    val intra = org.apache.spark.sql.expressions.Window
      .partitionBy(col("n_uniq")).orderBy(col("doc_id"))
      .rowsBetween(Long.MinValue, 0)
    scored
      .join(broadcast(offsets), "n_uniq")
      .withColumn("cum_tokens", col("offset") + sum(col("tokens")).over(intra))
      .crossJoin(broadcast(budget))
      .filter(col("cum_tokens") <= col("budget"))
      .select(col("doc_id"), col("tokens"), col("n_uniq"),
        col("cum_tokens"))
      .orderBy(col("n_uniq").desc, col("doc_id"))
  }

  val tokenBudgetSql: String =
    """WITH sc AS (
      |  SELECT doc_id,
      |    CAST(len(string_split(text, ' ')) AS BIGINT) AS tokens,
      |    CAST(len(list_distinct(string_split(lower(text), ' ')))
      |      AS BIGINT) AS n_uniq
      |  FROM documents),
      |b AS (SELECT CAST(floor(SUM(tokens) * 3 / 10) AS BIGINT)
      |        AS budget FROM sc),
      |c AS (SELECT doc_id, tokens, n_uniq,
      |        CAST(SUM(tokens) OVER (ORDER BY n_uniq DESC, doc_id)
      |          AS BIGINT) AS cum_tokens
      |      FROM sc)
      |SELECT doc_id, tokens, n_uniq, cum_tokens
      |FROM c CROSS JOIN b WHERE cum_tokens <= budget
      |ORDER BY n_uniq DESC, doc_id""".stripMargin

  /** Greedy maximum-coverage data selection (the 1−1/e-approximate
    * facility-location greedy — the submodular-selection shape behind
    * coverage-driven corpus curation): pick `k` documents one at a
    * time, each round the doc adding the most NOT-yet-covered
    * vocabulary (ties → smallest doc_id).
    *
    * Scale: the distinct (doc, word) table is built once; each round
    * is one broadcast anti-join against the covered-word set (bounded
    * by the words of ≤ k docs — metadata-sized) + one O(docs) count
    * reduce + a 1-row TakeOrdered. k passes over the gram table is
    * the honest exact greedy; at larger k the lazy-greedy /
    * stochastic-greedy variants drop rounds, not the per-round plan.
    * The oracle unrolls the same k argmax rounds. */
  def setCover(s: SparkSession, dir: String, k: Int = 5): DataFrame = {
    // Coverage unit: distinct word BIGRAMS (the unigram vocabulary of
    // the corpus saturates after one document; bigrams keep the
    // marginal-gain structure the greedy needs).
    val g = Tables.documents(s, dir)
      .select(col("doc_id"),
        explode(graft.plans.TextExpressions.tokenNGrams(
          split(lower(col("text")), " "), 2,
          emitWholeShortDoc = false)).as("w"))
      .distinct().localCheckpoint()
    val allDocs = g.select(col("doc_id")).distinct().localCheckpoint()
    var sel = Seq.empty[(Long, Long, Long)] // (round, doc_id, gain)
    // The accumulators are DERIVED frames over the checkpointed gram
    // table: selected ids are k driver-held longs, covered words =
    // `g` filtered to them. Same join/anti-join plans as before (the
    // covered-word set is identical modulo duplicates an anti-join
    // ignores), but no per-round localCheckpoint jobs — 2k fewer
    // eager actions per gate run. Note the isin(ids:_*) In-expression
    // rebuilds over ALL picked ids each round — O(k) plan growth per
    // round, O(k²) total expression work. Fine at the gate's k=5; if
    // k grows large the crossover is back to an accumulated
    // checkpointed frame (or isin via a broadcast join on a
    // driver-built DataFrame).
    def selIds = {
      val ids = sel.map(_._2)
      if (ids.isEmpty) g.limit(0).select(col("doc_id"))
      else allDocs.filter(col("doc_id").isin(ids: _*))
    }
    def cov = {
      val ids = sel.map(_._2)
      if (ids.isEmpty) g.limit(0).select(col("w"))
      else g.filter(col("doc_id").isin(ids: _*)).select(col("w"))
    }
    for (r <- 1 to k) {
      // Zero-gain candidates stay rankable (smallest unselected id
      // wins) so the greedy is total even once coverage saturates.
      val pick = allDocs
        .join(broadcast(selIds), Seq("doc_id"), "left_anti")
        .join(g.join(broadcast(cov), Seq("w"), "left_anti")
          .groupBy(col("doc_id")).agg(count(lit(1)).as("g0")),
          Seq("doc_id"), "left")
        .select(col("doc_id"), coalesce(col("g0"), lit(0L)).as("gain"))
        .orderBy(col("gain").desc, col("doc_id"))
        .limit(1).collect()(0)
      val (id, gain) = (pick.getLong(0), pick.getLong(1))
      sel :+= ((r.toLong, id, gain))
    }
    import s.implicits._
    sel.toDF("round", "doc_id", "gain")
  }

  val setCoverSql: String = {
    val base =
      """WITH tok AS (
        |  SELECT doc_id, string_split(lower(text), ' ') AS t
        |  FROM documents),
        |pos AS (SELECT doc_id, t,
        |          unnest(range(1, greatest(len(t), 1))) AS i FROM tok),
        |g AS (SELECT DISTINCT doc_id,
        |        array_to_string(t[i:i+1], ' ') AS w FROM pos),
        |c0 AS (SELECT w FROM g WHERE 1 = 0),
        |s0 AS (SELECT doc_id FROM g WHERE 1 = 0)""".stripMargin
    val rounds = (1 to 5).map { r =>
      val selPrev = (0 until r).map(i => s"SELECT doc_id FROM s$i")
        .mkString(" UNION ALL ")
      s"""s$r AS (
         |  SELECT d.doc_id, COALESCE(gx.gain, 0) AS gain
         |  FROM (SELECT DISTINCT doc_id FROM g
         |        WHERE doc_id NOT IN ($selPrev)) d
         |  LEFT JOIN (SELECT doc_id, COUNT(*) AS gain FROM g
         |             WHERE w NOT IN (SELECT w FROM c${r - 1})
         |             GROUP BY doc_id) gx ON gx.doc_id = d.doc_id
         |  ORDER BY gain DESC, d.doc_id LIMIT 1),
         |c$r AS (SELECT w FROM c${r - 1} UNION
         |        SELECT w FROM g
         |        WHERE doc_id IN (SELECT doc_id FROM s$r))""".stripMargin
    }
    (base +: rounds).mkString(",\n") +
      """
        |SELECT * FROM (
        |  SELECT CAST(1 AS BIGINT) AS round, doc_id,
        |    CAST(gain AS BIGINT) AS gain FROM s1
        |  UNION ALL SELECT 2, doc_id, CAST(gain AS BIGINT) FROM s2
        |  UNION ALL SELECT 3, doc_id, CAST(gain AS BIGINT) FROM s3
        |  UNION ALL SELECT 4, doc_id, CAST(gain AS BIGINT) FROM s4
        |  UNION ALL SELECT 5, doc_id, CAST(gain AS BIGINT) FROM s5)
        |ORDER BY round""".stripMargin
  }

  /** One DoReMi domain-reweighting step (Xie et al., "DoReMi:
    * Optimizing Data Mixtures Speeds Up Language Model Pretraining",
    * 2023): per-domain (= source) EXCESS loss under the engine's
    * reference model — the corpus's own add-one-smoothed bigram LM,
    * the [[graft.ops.LanguageModel.bigramLm]] scorer regrouped by
    * source — drives one multiplicative-weights update
    * `w_i ∝ exp(η · excess_i)` from the uniform prior (which cancels
    * in the normalization), η = 1. Domains whose text the reference
    * model fits WORST gain weight, the paper's core move; iterating
    * this step with a re-trained proxy is the full algorithm, and
    * this gate is exactly one such step.
    *
    * Determinism: per-token log terms are 1e-6-snapped longs (the
    * LanguageModel discipline) so per-source NLL sums are exact;
    * mean and excess are integer `div`/`−` on non-negative operands;
    * each exp term is 1e9-snapped BEFORE the exact long total, so
    * the final weights are pure integer divisions.
    *
    * Scale: the two model tables are O(bigrams)/O(vocab) — the same
    * shuffles bigramLm already pays; everything after the per-source
    * reduce is O(domains) metadata broadcast through scalar cross
    * joins. */
  def doremiStep(s: SparkSession, dir: String): DataFrame = {
    def snapE6(x: org.apache.spark.sql.Column) =
      floor(x * 1000000.0 + 0.5).cast(LongType)
    val docs = Tables.documents(s, dir)
    val w = split(lower(col("text")), " ")
    val toks = docs.select(explode(w).as("w"))
    val uni = toks.groupBy(col("w")).agg(count(lit(1)).as("c1"))
    val vocab = uni.agg(count(lit(1)).as("v"))
    val big = docs.select(col("source"),
        explode(graft.plans.TextExpressions.tokenNGrams(
          w, 2, emitWholeShortDoc = false)).as("bg"))
      .withColumn("w1", element_at(split(col("bg"), " "), 1))
    val bgc = big.groupBy(col("bg")).agg(count(lit(1)).as("c2"))
    val perSource = big.join(bgc, "bg")
      .join(broadcast(uni), col("w1") === uni("w"))
      .crossJoin(broadcast(vocab))
      .withColumn("lp", snapE6(
        log((col("c2") + lit(1)).cast(DoubleType) /
          (col("c1") + col("v")).cast(DoubleType))))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_terms"), sum(-col("lp")).as("nll_sum"))
    val nd = docs.groupBy(col("source")).agg(count(lit(1)).as("n_docs"))
    // localCheckpoint: the O(domains) frames feed THREE consumers
    // (min, total, final projection) — without truncation each scalar
    // cross-join branch would replay the whole bigram-scoring subtree
    val means = perSource.join(broadcast(nd), "source")
      .withColumn("mean_nll_e6", expr("nll_sum div n_terms"))
      .localCheckpoint()
    val m0 = means.agg(min(col("mean_nll_e6")).as("m0"))
    val terms = means.crossJoin(broadcast(m0))
      .withColumn("excess_e6", col("mean_nll_e6") - col("m0"))
      // Clamp the exponent input at 9 nats: beyond that t9 > ~8.1e12
      // and the (t9 * 1e6) ppm multiply would exceed Long.MaxValue —
      // Spark's non-ANSI multiply wraps silently where DuckDB raises,
      // so an unclamped skewed corpus diverges the two engines. 9 nats
      // of excess NLL already means weight_ppm ≈ 1e6 (total dominance).
      .withColumn("t9",
        floor(exp(least(col("excess_e6"), lit(9000000L)).cast(DoubleType) / 1e6)
          * 1e9 + 0.5)
          .cast(LongType))
      .localCheckpoint()
    val tot = terms.agg(sum(col("t9")).as("total9"))
    terms.crossJoin(broadcast(tot))
      .select(col("source"), col("n_docs"), col("n_terms"),
        col("mean_nll_e6"), col("excess_e6"),
        expr("(t9 * 1000000) div total9").as("weight_ppm"))
      .orderBy(col("source"))
  }

  val doremiStepSql: String =
    """WITH tok AS (
      |  SELECT source, string_split(lower(text), ' ') AS t
      |  FROM documents),
      |toks AS (SELECT unnest(t) AS w FROM tok),
      |uni AS (SELECT w, COUNT(*) AS c1 FROM toks GROUP BY w),
      |vocab AS (SELECT COUNT(*) AS v FROM uni),
      |pos AS (SELECT source, t,
      |          unnest(range(1, greatest(len(t), 1))) AS i FROM tok),
      |big AS (SELECT source, array_to_string(t[i:i+1], ' ') AS bg,
      |               t[i] AS w1 FROM pos),
      |bgc AS (SELECT bg, COUNT(*) AS c2 FROM big GROUP BY bg),
      |scored AS (
      |  SELECT big.source,
      |    CAST(floor(ln(CAST(bgc.c2 + 1 AS DOUBLE) /
      |      CAST(uni.c1 + vocab.v AS DOUBLE)) * 1000000.0 + 0.5)
      |      AS BIGINT) AS lp
      |  FROM big JOIN bgc USING (bg) JOIN uni ON big.w1 = uni.w
      |  CROSS JOIN vocab),
      |src AS (
      |  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_terms,
      |    CAST(SUM(-lp) AS BIGINT) AS nll_sum
      |  FROM scored GROUP BY source),
      |nd AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs
      |       FROM documents GROUP BY source),
      |means AS (
      |  SELECT s.source, nd.n_docs, s.n_terms,
      |    s.nll_sum // s.n_terms AS mean_nll_e6
      |  FROM src s JOIN nd USING (source)),
      |mn AS (SELECT MIN(mean_nll_e6) AS m0 FROM means),
      |terms AS (
      |  SELECT means.*, mean_nll_e6 - m0 AS excess_e6,
      |    CAST(floor(exp(CAST(least(mean_nll_e6 - m0, 9000000) AS DOUBLE) / 1e6)
      |      * 1e9 + 0.5) AS BIGINT) AS t9
      |  FROM means, mn),
      |tot AS (SELECT CAST(SUM(t9) AS BIGINT) AS total9 FROM terms)
      |SELECT source, n_docs, n_terms,
      |  CAST(mean_nll_e6 AS BIGINT) AS mean_nll_e6,
      |  CAST(excess_e6 AS BIGINT) AS excess_e6,
      |  (t9 * 1000000) // total9 AS weight_ppm
      |FROM terms, tot
      |ORDER BY source""".stripMargin

  /** RHO-loss batch selection (Mindermann et al., "Prioritized
    * Training on Points that are Learnable, Worth Learning, and Not
    * Yet Learnt", 2022): score every current-split training document
    * by its REDUCIBLE loss — training loss under the current model
    * minus irreducible loss under a model trained on a disjoint
    * holdout — and select the top quartile. High training loss alone
    * selects noise; subtracting the holdout model's loss cancels the
    * noise term, the paper's point. Models here are add-one-smoothed
    * unigram LMs (the [[graft.ops.LanguageModel.dsirWeights]]
    * stand-in): current = docs with even doc_id, holdout = odd;
    * smoothing V is the shared whole-corpus vocabulary so both
    * models price unseen tokens identically.
    *
    * Determinism: per-token log terms 1e-6-snapped; per-doc NLLs are
    * integer `div` on positive operands; rho is an exact integer
    * difference (never divided, so its sign is safe); the quartile
    * cutoff is the smallest rho value whose cumulative count reaches
    * 3/4 of the split (4·cum ≥ 3·n in cross-multiplied integers) and
    * selection is strictly-above-cutoff — ties at the cutoff drop,
    * so the selected set is deterministic without an exact-k sort.
    *
    * Scale: both model tables are O(vocab) and broadcast; the corpus
    * pays one explode + one per-doc reduce; the cutoff runs a window
    * over O(distinct rho values), never over docs. */
  def rhoLoss(s: SparkSession, dir: String): DataFrame = {
    def snapE6(x: org.apache.spark.sql.Column) =
      floor(x * 1000000.0 + 0.5).cast(LongType)
    val toks = Tables.documents(s, dir)
      .select(col("doc_id"), (col("doc_id") % 2 === 0).as("isa"),
        explode(split(lower(col("text")), " ")).as("w"))
    val cA = toks.filter(col("isa")).groupBy(col("w"))
      .agg(count(lit(1)).as("ca"))
    val cB = toks.filter(!col("isa")).groupBy(col("w"))
      .agg(count(lit(1)).as("cb"))
    val totals = toks.agg(
      sum(when(col("isa"), 1L).otherwise(0L)).as("na"),
      sum(when(col("isa"), 0L).otherwise(1L)).as("nb"),
      countDistinct(col("w")).as("v"))
    val weights = toks.select(col("w")).distinct()
      .join(cA, Seq("w"), "left").join(cB, Seq("w"), "left")
      .crossJoin(broadcast(totals))
      .select(col("w"),
        snapE6(log((coalesce(col("ca"), lit(0L)) + lit(1))
          .cast(DoubleType) /
          (col("na") + col("v")).cast(DoubleType))).as("lpa"),
        snapE6(log((coalesce(col("cb"), lit(0L)) + lit(1))
          .cast(DoubleType) /
          (col("nb") + col("v")).cast(DoubleType))).as("lpb"))
    val scored = toks.filter(col("isa"))
      .join(broadcast(weights), "w")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tok"),
        sum(-col("lpa")).as("sa"), sum(-col("lpb")).as("sb"))
      .withColumn("nll_cur_e6", expr("sa div n_tok"))
      .withColumn("nll_irred_e6", expr("sb div n_tok"))
      .withColumn("rho_e6", col("nll_cur_e6") - col("nll_irred_e6"))
      // O(split docs) after the reduce; three consumers (count,
      // cutoff histogram, final projection) — truncate the lineage so
      // the token-scoring subtree runs once, not three times
      .localCheckpoint()
    val n = scored.agg(count(lit(1)).as("n"))
    val wOrd = Window.orderBy(col("v")) // O(distinct rho values)
    val cutoff = scored.groupBy(col("rho_e6").as("v"))
      .agg(count(lit(1)).as("c"))
      .withColumn("cum", sum(col("c"))
        .over(wOrd.rowsBetween(Window.unboundedPreceding, 0)))
      .crossJoin(broadcast(n))
      .filter(col("cum") * 4 >= col("n") * 3)
      .agg(min(col("v")).as("cutoff"))
    scored.crossJoin(broadcast(cutoff))
      .select(col("doc_id"), col("n_tok"), col("nll_cur_e6"),
        col("nll_irred_e6"), col("rho_e6"),
        (col("rho_e6") > col("cutoff")).as("selected"))
      .orderBy(col("doc_id"))
  }

  val rhoLossSql: String =
    """WITH tok AS (
      |  SELECT doc_id, doc_id % 2 = 0 AS isa,
      |    unnest(string_split(lower(text), ' ')) AS w
      |  FROM documents),
      |ca AS (SELECT w, COUNT(*) AS ca FROM tok WHERE isa GROUP BY w),
      |cb AS (SELECT w, COUNT(*) AS cb FROM tok WHERE NOT isa
      |       GROUP BY w),
      |tot AS (
      |  SELECT
      |    CAST(SUM(CASE WHEN isa THEN 1 ELSE 0 END) AS BIGINT) AS na,
      |    CAST(SUM(CASE WHEN isa THEN 0 ELSE 1 END) AS BIGINT) AS nb,
      |    CAST(COUNT(DISTINCT w) AS BIGINT) AS v
      |  FROM tok),
      |wts AS (
      |  SELECT d.w,
      |    CAST(floor(ln(CAST(COALESCE(ca.ca, 0) + 1 AS DOUBLE) /
      |      CAST(tot.na + tot.v AS DOUBLE)) * 1000000.0 + 0.5)
      |      AS BIGINT) AS lpa,
      |    CAST(floor(ln(CAST(COALESCE(cb.cb, 0) + 1 AS DOUBLE) /
      |      CAST(tot.nb + tot.v AS DOUBLE)) * 1000000.0 + 0.5)
      |      AS BIGINT) AS lpb
      |  FROM (SELECT DISTINCT w FROM tok) d
      |  LEFT JOIN ca USING (w) LEFT JOIN cb USING (w)
      |  CROSS JOIN tot),
      |scored AS (
      |  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tok,
      |    CAST(SUM(-lpa) AS BIGINT) AS sa,
      |    CAST(SUM(-lpb) AS BIGINT) AS sb
      |  FROM tok JOIN wts USING (w) WHERE isa GROUP BY doc_id),
      |r AS (
      |  SELECT doc_id, n_tok, sa // n_tok AS nll_cur_e6,
      |    sb // n_tok AS nll_irred_e6,
      |    sa // n_tok - sb // n_tok AS rho_e6
      |  FROM scored),
      |nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM r),
      |cum AS (
      |  SELECT v, SUM(c) OVER (ORDER BY v
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
      |  FROM (SELECT rho_e6 AS v, COUNT(*) AS c FROM r GROUP BY 1)),
      |cut AS (SELECT MIN(v) AS cutoff FROM cum, nn
      |        WHERE cum * 4 >= n * 3)
      |SELECT doc_id, n_tok,
      |  CAST(nll_cur_e6 AS BIGINT) AS nll_cur_e6,
      |  CAST(nll_irred_e6 AS BIGINT) AS nll_irred_e6,
      |  CAST(rho_e6 AS BIGINT) AS rho_e6,
      |  rho_e6 > cutoff AS selected
      |FROM r, cut
      |ORDER BY doc_id""".stripMargin

  /** Filter-ablation matrix — the survivor table every pipeline
    * paper publishes (Gopher table A2, RefinedWeb table 2, Dolma §4:
    * how many documents/tokens does EACH filter and each filter
    * COMBINATION remove?): every corpus doc is flagged by the three
    * gated stages — Gopher quality rules ([[TextAnalysis.gopherRules]]
    * verbatim), exact-dedup canonicality (md5 min-id survivor), and
    * benchmark decontamination ([[TrainingData.decontaminate]]'s hit
    * set) — and the 2³ grid of (ok_quality, is_canonical, is_clean)
    * reports docs, tokens, and exact token-share ppm. The gate is
    * deliberately a COMPOSITION of the existing gated operators, so
    * its oracle replays their SQL verbatim; at 100 TB the three flag
    * projections fuse into the one corpus scan (the id-keyed joins
    * here make the composition visible and testable).
    *
    * Scale: one fingerprint reduce + two id-keyed joins + one
    * O(8)-row grid; the share denominators are one broadcast scalar
    * row. */
  def filterAblation(s: SparkSession, dir: String): DataFrame = {
    val corpus = Tables.documents(s, dir)
      .filter(col("doc_id") % 101 =!= 0)
      .select(col("doc_id"), md5(col("text")).as("fp"),
        size(split(col("text"), " ")).cast(LongType).as("n_tokens"))
    val quality = TextAnalysis.gopherRules(s, dir)
      .select(col("doc_id"), col("keep"))
    val canon = corpus.groupBy(col("fp"))
      .agg(min(col("doc_id")).as("keeper"))
    val contam = TrainingData.decontaminate(s, dir)
      .select(col("doc_id"), lit(true).as("hit"))
    val grid = corpus
      .join(quality, "doc_id")
      .join(canon, "fp")
      .join(contam, Seq("doc_id"), "left")
      .select(col("n_tokens"), col("keep").as("ok_quality"),
        (col("doc_id") === col("keeper")).as("is_canonical"),
        coalesce(col("hit"), lit(false)).unary_!.as("is_clean"))
      .groupBy(col("ok_quality"), col("is_canonical"), col("is_clean"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("n_tokens"))
      .localCheckpoint() // O(8) rows; feeds the total and the output
    val tot = grid.agg(sum(col("n_tokens")).as("t"))
    grid.crossJoin(broadcast(tot))
      .select(col("ok_quality"), col("is_canonical"), col("is_clean"),
        col("n_docs"), col("n_tokens"),
        expr("(n_tokens * 1000000) div t").as("token_share_ppm"))
      .orderBy(col("ok_quality"), col("is_canonical"), col("is_clean"))
  }

  val filterAblationSql: String =
    """WITH corpus AS (
      |  SELECT doc_id, md5(text) AS fp,
      |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
      |  FROM documents WHERE doc_id % 101 <> 0),
      |gm AS (
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
      |q AS (
      |  SELECT doc_id,
      |    (n_words >= 3 AND n_words <= 100000)
      |    AND (((n_chars_m - n_words + 1) * 100) // n_words >= 100
      |      AND ((n_chars_m - n_words + 1) * 100) // n_words <= 1200)
      |    AND (n_symbols * 1000000) // n_chars_m <= 100000
      |    AND (n_alpha_words * 1000000) // n_words >= 800000 AS keep
      |  FROM gm),
      |canon AS (SELECT fp, MIN(doc_id) AS keeper
      |          FROM corpus GROUP BY fp),
      |tok AS (SELECT doc_id, string_split(text, ' ') AS t
      |        FROM documents),
      |pos AS (SELECT doc_id, t,
      |          unnest(range(1, greatest(len(t) - 1, 1))) AS i
      |        FROM tok),
      |grams AS (SELECT doc_id,
      |            array_to_string(t[i:i+2], ' ') AS gram FROM pos),
      |hits AS (
      |  SELECT DISTINCT g.doc_id
      |  FROM (SELECT DISTINCT doc_id, gram FROM grams
      |        WHERE doc_id % 101 <> 0) g
      |  JOIN (SELECT DISTINCT gram FROM grams
      |        WHERE doc_id % 101 = 0) b USING (gram)),
      |flags AS (
      |  SELECT c.n_tokens, q.keep AS ok_quality,
      |    c.doc_id = canon.keeper AS is_canonical,
      |    h.doc_id IS NULL AS is_clean
      |  FROM corpus c
      |  JOIN q USING (doc_id)
      |  JOIN canon USING (fp)
      |  LEFT JOIN hits h ON h.doc_id = c.doc_id),
      |grid AS (
      |  SELECT ok_quality, is_canonical, is_clean,
      |    CAST(COUNT(*) AS BIGINT) AS n_docs,
      |    CAST(SUM(n_tokens) AS BIGINT) AS n_tokens
      |  FROM flags GROUP BY 1, 2, 3),
      |tot AS (SELECT CAST(SUM(n_tokens) AS BIGINT) AS t FROM grid)
      |SELECT ok_quality, is_canonical, is_clean, n_docs, n_tokens,
      |  (n_tokens * 1000000) // t AS token_share_ppm
      |FROM grid, tot
      |ORDER BY ok_quality, is_canonical, is_clean""".stripMargin

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "curate_doremi_step" -> (doremiStep _),
    "curate_filter_ablation" -> (filterAblation _),
    "curate_rho_loss" -> (rhoLoss _),
    "curate_set_cover" -> ((s, d) => setCover(s, d)),
    "curate_token_budget" -> (tokenBudget _),
    "pipeline_curate" -> (summary _),
    "pipeline_domain_cap" -> (domainCapGate _),
    "pipeline_sample" -> ((s: SparkSession, d: String) =>
      stratifiedSample(s, d)))

  def oracle: Map[String, String] = Map(
    "curate_doremi_step" -> doremiStepSql,
    "curate_filter_ablation" -> filterAblationSql,
    "curate_rho_loss" -> rhoLossSql,
    "curate_set_cover" -> setCoverSql,
    "curate_token_budget" -> tokenBudgetSql,
    "pipeline_curate" -> summarySql,
    "pipeline_domain_cap" -> domainCapSql,
    "pipeline_sample" -> stratifiedSampleSql)
}
