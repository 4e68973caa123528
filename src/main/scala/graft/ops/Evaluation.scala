package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.Tables

/** Retrieval-quality evaluation: nDCG@k, MRR@k, recall@k for a
  * ranked candidate list against graded relevance — the metrics a
  * training-data pipeline runs after every embedding/index change
  * (reference scope: the engine's query surface; the reference ships
  * no evaluation operators, so this extends §2.9's similarity-search
  * family with its measurement half).
  *
  * Scale: the metric pass never materializes a qrels pair table.
  * Relevance here is label-derived (same label = 3, adjacent = 1),
  * so the ideal-DCG term needs only the per-label corpus HISTOGRAM —
  * O(labels) rows broadcast — plus prefix sums of the discount table,
  * which are compile-time literals. The per-hit pass is a projection
  * over the system's top-k (Q·k rows); nothing else shuffles.
  *
  * Determinism: discounts 1/log2(r+1) are frozen as 1e9-scaled Scala
  * literals injected into BOTH engines' plans, so no runtime log is
  * ever compared across engines; DCG/IDCG accumulate as longs; the
  * three emitted doubles are each ONE integer division.
  */
object Evaluation {

  /** 1e9-scaled rank discounts disc9(r) = 1e9/log2(r+1), r = 1..10. */
  private val Disc9: IndexedSeq[Long] = (1 to 10).map { r =>
    math.floor(1e9 / (math.log(r + 1.0) / math.log(2.0)) + 0.5).toLong
  }
  /** Prefix9(k) = Σ_{r≤k} disc9(r), with Prefix9(0) = 0 at index 0. */
  private val Prefix9: IndexedSeq[Long] = Disc9.scanLeft(0L)(_ + _)

  private def asDouble(v: Column): Column =
    transform(v, x => x.cast(DoubleType))

  /** Cosine top-`k` per query (vec_id < `nQueries`) with each side's
    * label carried through — the system ranking under evaluation.
    * Same bounded plan shape as [[Similarity.topK]]: norms
    * precomputed per side, queries broadcast, corpus repartitioned.
    */
  private def systemTopK(s: SparkSession, dir: String, nQueries: Int,
      k: Int): DataFrame = {
    val par = s.sparkContext.defaultParallelism
    val vecs = Tables.embeddings(s, dir)
      .select(col("vec_id"), col("label"), asDouble(col("embedding")).as("v"))
    val q = vecs.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("label").as("qlabel"),
        col("v").as("qv"), Similarity.norm(col("v")).as("qn"))
    val t = vecs
      .select(col("vec_id").as("target_id"), col("label").as("tlabel"),
        col("v").as("tv"), Similarity.norm(col("v")).as("tn"))
      .repartition(par)
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("sim").desc, col("target_id"))
    t.crossJoin(broadcast(q))
      .filter(col("query_id") =!= col("target_id"))
      .withColumn("sim",
        Similarity.dot(col("qv"), col("tv")) / (col("qn") * col("tn")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("qlabel"), col("target_id"),
        col("tlabel"), col("rank"))
  }

  /** Per-query nDCG@10 / MRR@10 / recall@10 of the cosine top-10
    * under label relevance (same label rel=3 → gain 7, adjacent label
    * rel=1 → gain 1). MRR and recall count only rel-3 hits; recall's
    * denominator is every same-label vector in the corpus.
    */
  def ndcgGate(s: SparkSession, dir: String): DataFrame = {
    val k = 10
    val sys = systemTopK(s, dir, nQueries = 8, k = k)
    val disc = typedlit(Disc9.toSeq)
    val prefix = typedlit(Prefix9.toSeq)
    val gain = when(col("tlabel") === col("qlabel"), 7L)
      .when(abs(col("tlabel") - col("qlabel")) === 1, 1L)
      .otherwise(0L)
    val perHit = sys
      .withColumn("gain", gain)
      .withColumn("term9", col("gain") * element_at(disc, col("rank")))
    val agg = perHit.groupBy(col("query_id"), col("qlabel"))
      .agg(sum(col("term9")).as("dcg9"),
        min(when(col("gain") === 7L, col("rank"))).as("first3"),
        sum(when(col("gain") === 7L, 1L).otherwise(0L)).as("hits3"))
    val hist = Tables.embeddings(s, dir).groupBy(col("label"))
      .agg(count(lit(1)).as("cnt"))
    // n3/n1: corpus-wide graded-relevant counts from the label
    // histogram alone (query itself excluded from n3).
    val n1 = hist.select((col("label") + 1).as("qlabel"), col("cnt"))
      .union(hist.select((col("label") - 1).as("qlabel"), col("cnt")))
      .groupBy(col("qlabel")).agg(sum(col("cnt")).as("n1"))
    val withCounts = agg
      .join(broadcast(hist.withColumnRenamed("label", "qlabel")), "qlabel")
      .withColumn("n3", col("cnt") - 1)
      .join(broadcast(n1), Seq("qlabel"), "left")
      .withColumn("n1", coalesce(col("n1"), lit(0L)))
    val i3 = least(lit(k.toLong), col("n3"))
    val i31 = least(lit(k.toLong), col("n3") + col("n1"))
    withCounts
      .withColumn("idcg9",
        lit(7L) * element_at(prefix, (i3 + 1).cast(IntegerType)) +
          (element_at(prefix, (i31 + 1).cast(IntegerType)) -
            element_at(prefix, (i3 + 1).cast(IntegerType))))
      .select(col("query_id"),
        (col("dcg9").cast(DoubleType) / col("idcg9")).as("ndcg10"),
        coalesce(lit(1.0) / col("first3"), lit(0.0)).as("mrr10"),
        when(col("n3") > 0,
          col("hits3").cast(DoubleType) / col("n3"))
          .otherwise(lit(0.0)).as("recall10"),
        col("n3").as("n_rel"))
      .orderBy(col("query_id"))
  }

  private val discList = Disc9.mkString("[", ", ", "]")
  private val prefixList = Prefix9.mkString("[", ", ", "]")

  val ndcgSql: String =
    s"""WITH vecs AS (
       |  SELECT vec_id, label,
       |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
       |  FROM embeddings),
       |scored AS (
       |  SELECT a.vec_id AS query_id, a.label AS qlabel,
       |    b.vec_id AS target_id, b.label AS tlabel,
       |    ROW_NUMBER() OVER (PARTITION BY a.vec_id ORDER BY
       |      list_reduce(list_transform(generate_series(1, len(a.v)),
       |          i -> a.v[i] * b.v[i]), (x, y) -> x + y)
       |        / (sqrt(list_reduce(list_transform(
       |             generate_series(1, len(a.v)),
       |             i -> a.v[i] * a.v[i]), (x, y) -> x + y))
       |         * sqrt(list_reduce(list_transform(
       |             generate_series(1, len(b.v)),
       |             i -> b.v[i] * b.v[i]), (x, y) -> x + y)))
       |      DESC, b.vec_id) AS rank
       |  FROM vecs a, vecs b
       |  WHERE a.vec_id < 8 AND a.vec_id <> b.vec_id),
       |hits AS (
       |  SELECT query_id, qlabel,
       |    SUM(CASE WHEN tlabel = qlabel THEN 7
       |             WHEN abs(tlabel - qlabel) = 1 THEN 1
       |             ELSE 0 END
       |        * CAST(list_extract($discList, CAST(rank AS INTEGER))
       |               AS BIGINT)) AS dcg9,
       |    MIN(CASE WHEN tlabel = qlabel THEN rank END) AS first3,
       |    SUM(CASE WHEN tlabel = qlabel THEN 1 ELSE 0 END) AS hits3
       |  FROM scored WHERE rank <= 10
       |  GROUP BY query_id, qlabel),
       |hist AS (SELECT label, COUNT(*) AS cnt FROM vecs GROUP BY label),
       |counts AS (
       |  SELECT h.query_id, h.qlabel, h.dcg9, h.first3, h.hits3,
       |    g.cnt - 1 AS n3,
       |    CAST(COALESCE((SELECT SUM(g2.cnt) FROM hist g2
       |              WHERE abs(g2.label - h.qlabel) = 1), 0) AS BIGINT)
       |      AS n1
       |  FROM hits h JOIN hist g ON g.label = h.qlabel)
       |SELECT query_id,
       |  CAST(dcg9 AS DOUBLE) /
       |    (7 * list_extract($prefixList,
       |           CAST(LEAST(10, n3) + 1 AS INTEGER))
       |     + (list_extract($prefixList,
       |           CAST(LEAST(10, n3 + n1) + 1 AS INTEGER))
       |        - list_extract($prefixList,
       |           CAST(LEAST(10, n3) + 1 AS INTEGER)))) AS ndcg10,
       |  COALESCE(CAST(1 AS DOUBLE) / first3, 0.0) AS mrr10,
       |  CASE WHEN n3 > 0 THEN CAST(hits3 AS DOUBLE) / n3
       |       ELSE 0.0 END AS recall10,
       |  CAST(n3 AS BIGINT) AS n_rel
       |FROM counts
       |ORDER BY query_id""".stripMargin

  /** ROC AUC of an integer score (`n_chars`) against a binary label
    * (`lang = 'en'`), tie-aware, via the Mann-Whitney rank statistic
    * computed on the per-score HISTOGRAM: group once by score, then
    * a window over the O(distinct-scores) histogram accumulates
    * `below(s)` = negatives with a strictly smaller score, and
    *   2·U = Σ_s [ 2·n_pos(s)·below(s) + n_pos(s)·n_neg(s) ]
    * counts each concordant pair twice and each tied pair once.
    *
    * Scale: ONE map-side-combined groupBy over the corpus; the window
    * and final reduce see only the score histogram (dimension-sized —
    * document lengths, not documents). The classic "sort all N
    * predictions" AUC is a global sort; this is a groupBy + a
    * metadata window. Determinism: every accumulation is integer;
    * the single final division long/long is IEEE-identical in both
    * engines. */
  def aucGate(s: SparkSession, dir: String): DataFrame = {
    val hist = Tables.documents(s, dir)
      .select(col("n_chars").as("score"),
        when(col("lang") === "en", 1L).otherwise(0L).as("pos"))
      .groupBy(col("score"))
      .agg(sum(col("pos")).as("np"),
        sum(lit(1L) - col("pos")).as("nn"))
    // Histogram-sized window: O(distinct document lengths) rows.
    val w = Window.orderBy(col("score"))
      .rowsBetween(Window.unboundedPreceding, -1)
    hist
      .withColumn("below", coalesce(sum(col("nn")).over(w), lit(0L)))
      .agg(
        sum(col("np")).as("n_pos"),
        sum(col("nn")).as("n_neg"),
        sum(lit(2L) * col("np") * col("below") + col("np") * col("nn"))
          .as("u2"))
      .select(col("n_pos"), col("n_neg"),
        (col("u2").cast(DoubleType) /
          (lit(2L) * col("n_pos") * col("n_neg")).cast(DoubleType))
          .as("auc"))
  }

  val aucSql: String =
    """WITH hist AS (
      |  SELECT n_chars AS score,
      |    SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS np,
      |    SUM(CASE WHEN lang = 'en' THEN 0 ELSE 1 END) AS nn
      |  FROM documents GROUP BY n_chars),
      |cum AS (
      |  SELECT np, nn,
      |    COALESCE(SUM(nn) OVER (ORDER BY score
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
      |      AS below
      |  FROM hist)
      |SELECT CAST(SUM(np) AS BIGINT) AS n_pos,
      |  CAST(SUM(nn) AS BIGINT) AS n_neg,
      |  CAST(SUM(2 * np * below + np * nn) AS DOUBLE)
      |    / CAST(2 * SUM(np) * SUM(nn) AS DOUBLE) AS auc
      |FROM cum""".stripMargin

  /** Precision-recall curve of the same integer scorer [[aucGate]]
    * ranks (predict positive where score ≥ threshold, one point per
    * DISTINCT score): TP/FP are suffix sums over the per-score
    * histogram, so the whole curve costs ONE map-side-combined
    * groupBy plus a histogram-sized window — never a global sort of
    * N predictions. Precision and recall are each a single long/long
    * division (IEEE-identical cross-engine); counts stay exact
    * BIGINTs. The operating-point table AUC summarizes away —
    * threshold pickers need the curve, not the integral. */
  def prCurve(s: SparkSession, dir: String): DataFrame = {
    val hist = Tables.documents(s, dir)
      .select(col("n_chars").as("score"),
        when(col("lang") === "en", 1L).otherwise(0L).as("pos"))
      .groupBy(col("score"))
      .agg(sum(col("pos")).as("np"), sum(lit(1L) - col("pos")).as("nn"))
    val wSuf = Window.orderBy(col("score").desc)
      .rowsBetween(Window.unboundedPreceding, 0)
    val wAll = Window.rowsBetween(Long.MinValue, Long.MaxValue)
    hist
      .withColumn("tp", sum(col("np")).over(wSuf))
      .withColumn("fp", sum(col("nn")).over(wSuf))
      .withColumn("n_pos", sum(col("np")).over(wAll))
      .select(col("score"), col("tp"), col("fp"),
        (col("tp").cast(DoubleType) /
          (col("tp") + col("fp")).cast(DoubleType)).as("precision"),
        (col("tp").cast(DoubleType) / col("n_pos").cast(DoubleType))
          .as("recall"))
      .orderBy(col("score"))
  }

  val prCurveSql: String =
    """WITH hist AS (
      |  SELECT n_chars AS score,
      |    SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS np,
      |    SUM(CASE WHEN lang = 'en' THEN 0 ELSE 1 END) AS nn
      |  FROM documents GROUP BY n_chars),
      |cum AS (
      |  SELECT score,
      |    CAST(SUM(np) OVER (ORDER BY score DESC
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |      AS BIGINT) AS tp,
      |    CAST(SUM(nn) OVER (ORDER BY score DESC
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |      AS BIGINT) AS fp,
      |    CAST(SUM(np) OVER () AS BIGINT) AS n_pos
      |  FROM hist)
      |SELECT score, tp, fp,
      |  CAST(tp AS DOUBLE) / CAST(tp + fp AS DOUBLE) AS precision,
      |  CAST(tp AS DOUBLE) / CAST(n_pos AS DOUBLE) AS recall
      |FROM cum ORDER BY score""".stripMargin

  /** Calibration (reliability) table for a length-derived predicted
    * probability p = min(n_chars, 4000)/4000 in ten equal-width bins:
    * per bin, the count, the mean prediction, and the observed
    * positive rate (`lang = 'en'`). The bin id and both numerators
    * accumulate as integers (p's numerator is min(n_chars,4000));
    * each emitted double is one long/long division, so both engines
    * agree bit-for-bit.
    *
    * Scale: single map-side-combined groupBy on a 10-value key. */
  def calibrationGate(s: SparkSession, dir: String): DataFrame = {
    val num = least(col("n_chars"), lit(4000L)) // p = num / 4000
    // integer `div`, not `/`: long/long in Spark is double division
    val bin = expr("least(n_chars, 3999L) * 10L div 4000L")
    Tables.documents(s, dir)
      .select(bin.as("bin"), num.as("num"),
        when(col("lang") === "en", 1L).otherwise(0L).as("pos"))
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n"), sum(col("num")).as("sum_num"),
        sum(col("pos")).as("n_pos"))
      .select(col("bin"), col("n"),
        (col("sum_num").cast(DoubleType) /
          (lit(4000L) * col("n")).cast(DoubleType)).as("mean_pred"),
        (col("n_pos").cast(DoubleType) / col("n").cast(DoubleType))
          .as("obs_rate"))
      .orderBy(col("bin"))
  }

  val calibrationSql: String =
    """WITH b AS (
      |  SELECT LEAST(n_chars, 3999) * 10 // 4000 AS bin,
      |    LEAST(n_chars, 4000) AS num,
      |    CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS pos
      |  FROM documents)
      |SELECT CAST(bin AS BIGINT) AS bin, COUNT(*) AS n,
      |  CAST(SUM(num) AS DOUBLE) / CAST(4000 * COUNT(*) AS DOUBLE)
      |    AS mean_pred,
      |  CAST(SUM(pos) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS obs_rate
      |FROM b GROUP BY bin ORDER BY bin""".stripMargin

  /** Poisson-bootstrap confidence interval — THE scalable bootstrap:
    * classic resampling needs B full copies of the data; the Poisson
    * trick gives each row an independent Poisson(1) multiplicity per
    * replicate, so B=20 resampled estimates of mean(n_chars) come out
    * of ONE scan fanned ×B with a map-combined groupBy(replicate).
    * Multiplicities are derived from a seeded integer hash against
    * frozen 2³²-scaled Poisson CDF thresholds (0/1/2/3/4-capped) —
    * deterministic, engine-identical, rerun-reproducible.
    *
    * Determinism: per-replicate numerator/denominator are integer
    * sums; each emitted mean is ONE long/long division; the order
    * statistics picking the 90% CI (2nd and 19th of 20) sort a
    * B-row metadata frame with the replicate id as tiebreak. */
  def bootstrapCi(s: SparkSession, dir: String, b: Int = 20): DataFrame = {
    val reps = Tables.documents(s, dir)
      .select(col("doc_id"), col("n_chars"))
      .withColumn("b", explode(sequence(lit(1), lit(b))))
      .withColumn("h", pmod(
        pmod(col("doc_id"), lit(1000003L)) * lit(2654435761L)
          + col("b") * lit(2246822519L), lit(4294967296L)))
      .withColumn("w",
        when(col("h") < 1580030168L, 0L)
          .when(col("h") < 3160060337L, 1L)
          .when(col("h") < 3950075421L, 2L)
          .when(col("h") < 4213413783L, 3L)
          .otherwise(4L))
      .groupBy(col("b"))
      .agg((sum(col("w") * col("n_chars")).cast(DoubleType) /
        sum(col("w")).cast(DoubleType)).as("mean_b"))
    val ranked = reps.withColumn("rk",
      row_number().over(org.apache.spark.sql.expressions.Window
        .orderBy(col("mean_b"), col("b")))) // B-row metadata window
    val point = Tables.documents(s, dir)
      .agg((sum(col("n_chars")).cast(DoubleType) /
        count(lit(1)).cast(DoubleType)).as("point_mean"))
    point.crossJoin(
        ranked.filter(col("rk") === 2)
          .select(col("mean_b").as("ci_lo")))
      .crossJoin(
        ranked.filter(col("rk") === b - 1)
          .select(col("mean_b").as("ci_hi")))
      .select(col("point_mean"), col("ci_lo"), col("ci_hi"),
        lit(b.toLong).as("n_replicates"))
  }

  val bootstrapCiSql: String =
    """WITH fan AS (
      |  SELECT d.n_chars, r.b,
      |    (((d.doc_id % 1000003 + 1000003) % 1000003) * 2654435761
      |      + r.b * 2246822519) % 4294967296 AS h
      |  FROM documents d, (SELECT unnest(range(1, 21)) AS b) r),
      |weighted AS (
      |  SELECT b, n_chars,
      |    CASE WHEN h < 1580030168 THEN 0
      |         WHEN h < 3160060337 THEN 1
      |         WHEN h < 3950075421 THEN 2
      |         WHEN h < 4213413783 THEN 3
      |         ELSE 4 END AS w
      |  FROM fan),
      |reps AS (
      |  SELECT b,
      |    CAST(SUM(w * n_chars) AS DOUBLE) / CAST(SUM(w) AS DOUBLE)
      |      AS mean_b
      |  FROM weighted GROUP BY b),
      |ranked AS (
      |  SELECT mean_b,
      |    row_number() OVER (ORDER BY mean_b, b) AS rk
      |  FROM reps),
      |point AS (
      |  SELECT CAST(SUM(n_chars) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
      |    AS point_mean
      |  FROM documents)
      |SELECT point_mean,
      |  (SELECT mean_b FROM ranked WHERE rk = 2) AS ci_lo,
      |  (SELECT mean_b FROM ranked WHERE rk = 19) AS ci_hi,
      |  CAST(20 AS BIGINT) AS n_replicates
      |FROM point""".stripMargin

  /** Brier score of the same length-derived probability the
    * calibration gate bins (p = min(n_chars, 4000)/4000 vs
    * y = lang='en') — the PROPER scoring rule that summarizes the
    * whole reliability table into one number: mean (p − y)². The
    * residual numerator `min(n_chars,4000) − 4000·y` is an exact
    * integer, its square sums as a BIGINT, and the score is ONE
    * double division rounded to 6 dp — so the gate is exact.
    * One map-combinable pass. */
  def brierScore(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select((least(col("n_chars"), lit(4000L))
        - lit(4000L) * when(col("lang") === "en", 1L).otherwise(0L))
        .as("num"))
      .agg(count(lit(1)).as("n"),
        sum(col("num") * col("num")).as("sse"))
      .select(col("n"), col("sse"),
        round(col("sse").cast(DoubleType)
          / (col("n").cast(DoubleType) * 16000000.0), 6).as("brier6"))

  val brierScoreSql: String =
    """WITH r AS (
      |  SELECT LEAST(n_chars, 4000)
      |    - 4000 * (CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS num
      |  FROM documents)
      |SELECT COUNT(*) AS n,
      |  CAST(SUM(num * num) AS BIGINT) AS sse,
      |  ROUND(CAST(SUM(num * num) AS DOUBLE)
      |    / (CAST(COUNT(*) AS DOUBLE) * 16000000.0), 6) AS brier6
      |FROM r""".stripMargin

  /** Cohen's kappa between the same two deterministic raters
    * [[mcnemar]] pairs — the inter-annotator-agreement statistic
    * every labeling/curation pipeline reports before trusting its
    * labels (raw agreement flatters: two raters that both say "yes"
    * 90% of the time agree 82% by CHANCE). po/pe/kappa all live on
    * an integer ppm grid — `pe_ppm = (a₁b₁ + a₀b₀)·10⁶ div n²`,
    * `kappa_ppm = (po−pe)·10⁶ div (10⁶−pe)` — so no float ever
    * forms. One conditional-sum pass; the median probe is the same
    * broadcast scalar as McNemar's.
    *
    * Scale: identical to [[mcnemar]] — one map-combinable aggregate
    * over the corpus, O(1) output. */
  def cohensKappa(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val med = docs.agg(expr("percentile(n_chars, 0.5)").as("med"))
    docs.crossJoin(broadcast(med))
      .select((col("n_chars").cast(DoubleType) >= col("med")).as("pa"),
        col("text").contains("the").as("pb"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("pa") === col("pb"), 1L).otherwise(0L))
          .as("n_agree"),
        sum(when(col("pa"), 1L).otherwise(0L)).as("a1"),
        sum(when(col("pb"), 1L).otherwise(0L)).as("b1"))
      .select(col("n"), col("n_agree"), col("a1"), col("b1"),
        expr("(n_agree * 1000000L) div n").as("po_ppm"),
        expr("((a1 * b1 + (n - a1) * (n - b1)) * 1000000L) div (n * n)")
          .as("pe_ppm"))
      .select(col("n"), col("n_agree"), col("a1"), col("b1"),
        col("po_ppm"), col("pe_ppm"),
        // Spark `div` truncates toward zero, DuckDB `//` floors —
        // they agree only on non-negative operands, so the sign is
        // peeled off before the division on BOTH sides.
        when(col("pe_ppm") >= 1000000L, lit(0L))
          .when(col("po_ppm") >= col("pe_ppm"),
            expr("((po_ppm - pe_ppm) * 1000000L)" +
              " div (1000000L - pe_ppm)"))
          .otherwise(expr("-(((pe_ppm - po_ppm) * 1000000L)" +
            " div (1000000L - pe_ppm))"))
          .as("kappa_ppm"))
  }

  val cohensKappaSql: String =
    """WITH med AS (
      |  SELECT quantile_cont(n_chars, 0.5) AS med FROM documents),
      |paired AS (
      |  SELECT (CAST(n_chars AS DOUBLE) >= med) AS pa,
      |    (text LIKE '%the%') AS pb
      |  FROM documents CROSS JOIN med),
      |agg AS (
      |  SELECT COUNT(*) AS n,
      |    SUM(CASE WHEN pa = pb THEN 1 ELSE 0 END) AS n_agree,
      |    SUM(CASE WHEN pa THEN 1 ELSE 0 END) AS a1,
      |    SUM(CASE WHEN pb THEN 1 ELSE 0 END) AS b1
      |  FROM paired),
      |rates AS (
      |  SELECT n, n_agree, a1, b1,
      |    (n_agree * 1000000) // n AS po_ppm,
      |    ((a1 * b1 + (n - a1) * (n - b1)) * 1000000) // (n * n)
      |      AS pe_ppm
      |  FROM agg)
      |SELECT CAST(n AS BIGINT) AS n,
      |  CAST(n_agree AS BIGINT) AS n_agree,
      |  CAST(a1 AS BIGINT) AS a1, CAST(b1 AS BIGINT) AS b1,
      |  CAST(po_ppm AS BIGINT) AS po_ppm,
      |  CAST(pe_ppm AS BIGINT) AS pe_ppm,
      |  CAST(CASE WHEN pe_ppm >= 1000000 THEN 0
      |    WHEN po_ppm >= pe_ppm
      |    THEN ((po_ppm - pe_ppm) * 1000000) // (1000000 - pe_ppm)
      |    ELSE -(((pe_ppm - po_ppm) * 1000000) // (1000000 - pe_ppm))
      |    END AS BIGINT) AS kappa_ppm
      |FROM rates""".stripMargin

  /** McNemar's paired test — the statistically correct way to ask
    * "is classifier A actually better than B on the SAME examples?"
    * (comparing two accuracies ignores pairing; McNemar conditions
    * on the discordant pairs). Classifiers here are two deterministic
    * quality rules over documents — length ≥ corpus median vs a
    * stop-word content probe — against the lang='en' label; the
    * statistic `(b−c)²/(b+c)` is emitted in exact integer milli
    * units.
    *
    * Scale: the median is one grouped-percentile row broadcast back;
    * the contingency is ONE map-combinable conditional-sum pass. */
  def mcnemar(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val med = docs.agg(
      expr("percentile(n_chars, 0.5)").as("med"))
    docs.crossJoin(broadcast(med))
      .select((col("lang") === "en").as("y"),
        (col("n_chars").cast(DoubleType) >= col("med")).as("pa"),
        col("text").contains("the").as("pb"))
      .select((col("pa") === col("y")).as("ca"),
        (col("pb") === col("y")).as("cb"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("ca") && !col("cb"), 1L).otherwise(0L)).as("b"),
        sum(when(!col("ca") && col("cb"), 1L).otherwise(0L)).as("c"))
      .select(col("n"), col("b"), col("c"),
        when(col("b") + col("c") > 0,
          expr("((b - c) * (b - c) * 1000) div (b + c)"))
          .otherwise(lit(0L)).as("chi2_milli"))
  }

  val mcnemarSql: String =
    """WITH med AS (
      |  SELECT quantile_cont(n_chars, 0.5) AS med FROM documents),
      |paired AS (
      |  SELECT (lang = 'en') AS y,
      |    (CAST(n_chars AS DOUBLE) >= med) AS pa,
      |    (text LIKE '%the%') AS pb
      |  FROM documents CROSS JOIN med),
      |agg AS (
      |  SELECT COUNT(*) AS n,
      |    CAST(SUM(CASE WHEN (pa = y) AND NOT (pb = y) THEN 1 ELSE 0 END)
      |      AS BIGINT) AS b,
      |    CAST(SUM(CASE WHEN NOT (pa = y) AND (pb = y) THEN 1 ELSE 0 END)
      |      AS BIGINT) AS c
      |  FROM paired)
      |SELECT n, b, c,
      |  CASE WHEN b + c > 0
      |    THEN ((b - c) * (b - c) * 1000) // (b + c) ELSE 0 END
      |    AS chi2_milli
      |FROM agg""".stripMargin

  /** Precision / recall / F1 report — the confusion-matrix summary
    * every filter rollout is judged by, in exact integer ppm
    * (`F1 = 2tp/(2tp+fp+fn)` needs no float at all). Classifier:
    * the stop-word probe (text contains 'the') against the lang='en'
    * label; ONE conditional-sum scan. */
  def f1Report(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select((col("lang") === "en").as("y"),
        col("text").contains("the").as("p"))
      .agg(
        sum(when(col("y") && col("p"), 1L).otherwise(0L)).as("tp"),
        sum(when(!col("y") && col("p"), 1L).otherwise(0L)).as("fp"),
        sum(when(col("y") && !col("p"), 1L).otherwise(0L)).as("fn"),
        sum(when(!col("y") && !col("p"), 1L).otherwise(0L)).as("tn"))
      .select(col("tp"), col("fp"), col("fn"), col("tn"),
        expr("(tp * 1000000) div (tp + fp)").as("precision_ppm"),
        expr("(tp * 1000000) div (tp + fn)").as("recall_ppm"),
        expr("(2 * tp * 1000000) div (2 * tp + fp + fn)").as("f1_ppm"))

  val f1ReportSql: String =
    """WITH c AS (
      |  SELECT
      |    CAST(SUM(CASE WHEN lang = 'en' AND text LIKE '%the%'
      |      THEN 1 ELSE 0 END) AS BIGINT) AS tp,
      |    CAST(SUM(CASE WHEN lang <> 'en' AND text LIKE '%the%'
      |      THEN 1 ELSE 0 END) AS BIGINT) AS fp,
      |    CAST(SUM(CASE WHEN lang = 'en' AND text NOT LIKE '%the%'
      |      THEN 1 ELSE 0 END) AS BIGINT) AS fn,
      |    CAST(SUM(CASE WHEN lang <> 'en' AND text NOT LIKE '%the%'
      |      THEN 1 ELSE 0 END) AS BIGINT) AS tn
      |  FROM documents)
      |SELECT tp, fp, fn, tn,
      |  CAST((tp * 1000000) // (tp + fp) AS BIGINT) AS precision_ppm,
      |  CAST((tp * 1000000) // (tp + fn) AS BIGINT) AS recall_ppm,
      |  CAST((2 * tp * 1000000) // (2 * tp + fp + fn) AS BIGINT)
      |    AS f1_ppm
      |FROM c""".stripMargin

  /** Expected / maximum calibration error — the scalar summary of
    * the [[calibrationGate]] reliability table (Brier scores overall
    * accuracy+calibration; ECE isolates the CALIBRATION term): over
    * the same ten equal-width bins of p = min(n_chars,4000)/4000 vs
    * y = (lang='en'),
    * `ECE = Σ_b (n_b/N)·|conf_b − acc_b| = Σ_b |Σp·4000⁻¹... |` —
    * algebraically `Σ_b |sum_num_b − 4000·n_pos_b| / (4000·N)`, so
    * the numerator is an EXACT non-negative BIGINT and both emitted
    * metrics are integer ppm divisions (floor == truncate on
    * non-negatives — the cross-engine `div` discipline). MCE is the
    * max per-bin gap in ppm of that bin's mass.
    *
    * Scale: one map-side-combined groupBy on a 10-value key, then
    * metadata-sized arithmetic. */
  def eceGate(s: SparkSession, dir: String): DataFrame = {
    val bin = expr("least(n_chars, 3999L) * 10L div 4000L")
    val num = least(col("n_chars"), lit(4000L))
    Tables.documents(s, dir)
      .select(bin.as("bin"), num.as("num"),
        when(col("lang") === "en", 1L).otherwise(0L).as("pos"))
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n"), sum(col("num")).as("sum_num"),
        sum(col("pos")).as("n_pos"))
      .select(col("n"),
        abs(col("sum_num") - lit(4000L) * col("n_pos")).as("gap_num"))
      .agg(sum(col("n")).as("n_docs"), count(lit(1)).as("n_bins"),
        sum(col("gap_num")).as("gap_sum"),
        max(expr("gap_num * 1000000L div (4000L * n)")).as("mce_ppm"))
      .select(col("n_docs"), col("n_bins"),
        expr("gap_sum * 1000000L div (4000L * n_docs)").as("ece_ppm"),
        col("mce_ppm"))
  }

  val eceSql: String =
    """WITH b AS (
      |  SELECT LEAST(n_chars, 3999) * 10 // 4000 AS bin,
      |    LEAST(n_chars, 4000) AS num,
      |    CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS pos
      |  FROM documents),
      |g AS (
      |  SELECT bin, COUNT(*) AS n, SUM(num) AS sum_num,
      |    SUM(pos) AS n_pos
      |  FROM b GROUP BY bin),
      |gg AS (SELECT n, ABS(sum_num - 4000 * n_pos) AS gap_num FROM g)
      |SELECT CAST(SUM(n) AS BIGINT) AS n_docs, COUNT(*) AS n_bins,
      |  CAST(SUM(gap_num) * 1000000 // (4000 * SUM(n)) AS BIGINT)
      |    AS ece_ppm,
      |  CAST(MAX(gap_num * 1000000 // (4000 * n)) AS BIGINT)
      |    AS mce_ppm
      |FROM gg""".stripMargin

  /** Regression-metric report — MAE / RMSE / R² of the [[Learn]]
    * OLS line (price ~ quantity) scored against its own training
    * data: the evaluation counterpart of `learn_linreg` (which emits
    * the FIT; this emits the ERRORS a model card reports).
    *
    * Determinism: slope/intercept are bit-identical doubles (decimal
    * power sums → one fixed expression, the linreg idiom, broadcast
    * back); each row's residual is ONE fixed double tree and its
    * |r| is 1e-6-snapped and r² 1e-2-snapped to longs (residuals run
    * ~1e4 here, so the squares at 1e-6 scale would overflow a BIGINT
    * sum) BEFORE the corpus sums
    * (long sums commute, double sums don't); MAE/RMSE/R² are then
    * single divisions/sqrt over exact BIGINTs and the decimal-sum
    * SST. Two scans total, both map-combinable. */
  def regressionReport(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types.{DecimalType, DoubleType}
    val d = graft.Tables.lineitem(s, dir)
      .select(col("l_quantity").cast(DecimalType(18, 2)).as("x"),
        col("l_extendedprice").cast(DecimalType(18, 2)).as("y"))
    val params = d.agg(
        count(lit(1)).cast(DoubleType).as("n"),
        sum(col("x")).cast(DoubleType).as("sx"),
        sum(col("y")).cast(DoubleType).as("sy"),
        sum((col("x") * col("x")).cast(DecimalType(38, 4)))
          .cast(DoubleType).as("sxx"),
        sum((col("x") * col("y")).cast(DecimalType(38, 4)))
          .cast(DoubleType).as("sxy"),
        sum((col("y") * col("y")).cast(DecimalType(38, 4)))
          .cast(DoubleType).as("syy"))
      .selectExpr("n",
        "(n * sxy - sx * sy) / (n * sxx - sx * sx) AS slope",
        "(sy - ((n * sxy - sx * sy) / (n * sxx - sx * sx)) * sx) / n" +
          " AS icept",
        "(syy - sy * sy / n) AS sst")
    d.crossJoin(broadcast(params))
      .selectExpr("n", "sst",
        "CAST(y AS DOUBLE) - (icept + slope * CAST(x AS DOUBLE))" +
          " AS resid")
      .selectExpr("n", "sst",
        "CAST(floor(abs(resid) * 1000000.0 + 0.5) AS BIGINT) AS ae",
        "CAST(floor(resid * resid * 100.0 + 0.5) AS BIGINT) AS se")
      .groupBy(col("n").cast("long").as("n"), col("sst"))
      .agg(sum(col("ae")).as("sae_e6"), sum(col("se")).as("sse_e2"))
      .selectExpr("n", "sae_e6", "sse_e2",
        "CAST(sae_e6 AS DOUBLE) / 1000000.0 / CAST(n AS DOUBLE) AS mae",
        "sqrt(CAST(sse_e2 AS DOUBLE) / 100.0 / CAST(n AS DOUBLE))" +
          " AS rmse",
        "1.0 - (CAST(sse_e2 AS DOUBLE) / 100.0) / sst AS r2")
  }

  val regressionReportSql: String =
    """WITH d AS (
      |  SELECT CAST(l_quantity AS DECIMAL(18,2)) AS x,
      |    CAST(l_extendedprice AS DECIMAL(18,2)) AS y
      |  FROM lineitem),
      |sums AS (
      |  SELECT CAST(COUNT(*) AS DOUBLE) AS n,
      |    CAST(SUM(x) AS DOUBLE) AS sx,
      |    CAST(SUM(y) AS DOUBLE) AS sy,
      |    CAST(SUM(CAST(x * x AS DECIMAL(38,4))) AS DOUBLE) AS sxx,
      |    CAST(SUM(CAST(x * y AS DECIMAL(38,4))) AS DOUBLE) AS sxy,
      |    CAST(SUM(CAST(y * y AS DECIMAL(38,4))) AS DOUBLE) AS syy
      |  FROM d),
      |p AS (
      |  SELECT n,
      |    (n * sxy - sx * sy) / (n * sxx - sx * sx) AS slope,
      |    (sy - ((n * sxy - sx * sy) / (n * sxx - sx * sx)) * sx) / n
      |      AS icept,
      |    (syy - sy * sy / n) AS sst
      |  FROM sums),
      |r AS (
      |  SELECT p.n, p.sst,
      |    CAST(y AS DOUBLE) - (p.icept + p.slope * CAST(x AS DOUBLE))
      |      AS resid
      |  FROM d CROSS JOIN p),
      |snapped AS (
      |  SELECT n, sst,
      |    CAST(floor(abs(resid) * 1000000.0 + 0.5) AS BIGINT) AS ae,
      |    CAST(floor(resid * resid * 100.0 + 0.5) AS BIGINT) AS se
      |  FROM r)
      |SELECT CAST(n AS BIGINT) AS n,
      |  CAST(SUM(ae) AS BIGINT) AS sae_e6,
      |  CAST(SUM(se) AS BIGINT) AS sse_e2,
      |  CAST(CAST(SUM(ae) AS BIGINT) AS DOUBLE) / 1000000.0
      |    / CAST(CAST(n AS BIGINT) AS DOUBLE) AS mae,
      |  sqrt(CAST(CAST(SUM(se) AS BIGINT) AS DOUBLE) / 100.0
      |    / CAST(CAST(n AS BIGINT) AS DOUBLE)) AS rmse,
      |  1.0 - (CAST(CAST(SUM(se) AS BIGINT) AS DOUBLE) / 100.0)
      |    / sst AS r2
      |FROM snapped GROUP BY n, sst""".stripMargin

  /** Youden-J optimal threshold — turns the [[aucGate]] ROC into an
    * OPERATING POINT: over observed score thresholds t (predict
    * positive when score ≥ t), maximize J(t) = TPR − FPR, ties to
    * the smallest t. The comparison runs entirely on the
    * cross-multiplied integer `j_num = tp·n_neg − fp·n_pos` (exact
    * BIGINT, same order both engines — no per-threshold division),
    * and only the winning row's J is emitted as one double division.
    *
    * Scale: same histogram-sized frame as AUC — one map-combined
    * count per distinct score, windows over O(distinct scores). */
  def youdenGate(s: SparkSession, dir: String): DataFrame = {
    val hist = Tables.documents(s, dir)
      .select(col("n_chars").as("score"),
        when(col("lang") === "en", 1L).otherwise(0L).as("pos"))
      .groupBy(col("score"))
      .agg(sum(col("pos")).as("np"), sum(lit(1L) - col("pos")).as("nn"))
    val all = Window.partitionBy()
    val fromTop = Window.orderBy(col("score").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val ranked = hist
      .withColumn("n_pos", sum(col("np")).over(all))
      .withColumn("n_neg", sum(col("nn")).over(all))
      .withColumn("tp", sum(col("np")).over(fromTop))
      .withColumn("fp", sum(col("nn")).over(fromTop))
      .withColumn("j_num",
        col("tp") * col("n_neg") - col("fp") * col("n_pos"))
      .withColumn("rk", row_number().over(
        Window.orderBy(col("j_num").desc, col("score").asc)))
    ranked.filter(col("rk") === 1)
      .select(col("score").as("threshold"), col("tp"), col("fp"),
        col("n_pos"), col("n_neg"), col("j_num"),
        (col("j_num").cast(DoubleType) /
          (col("n_pos") * col("n_neg")).cast(DoubleType)).as("j"))
  }

  val youdenSql: String =
    """WITH hist AS (
      |  SELECT n_chars AS score,
      |    SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS np,
      |    SUM(CASE WHEN lang = 'en' THEN 0 ELSE 1 END) AS nn
      |  FROM documents GROUP BY n_chars),
      |cum AS (
      |  SELECT score,
      |    SUM(np) OVER () AS n_pos, SUM(nn) OVER () AS n_neg,
      |    SUM(np) OVER (ORDER BY score DESC
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS tp,
      |    SUM(nn) OVER (ORDER BY score DESC
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS fp
      |  FROM hist),
      |ranked AS (
      |  SELECT score, tp, fp, n_pos, n_neg,
      |    tp * n_neg - fp * n_pos AS j_num,
      |    row_number() OVER (ORDER BY tp * n_neg - fp * n_pos DESC,
      |      score ASC) AS rk
      |  FROM cum)
      |SELECT score AS threshold, CAST(tp AS BIGINT) AS tp,
      |  CAST(fp AS BIGINT) AS fp, CAST(n_pos AS BIGINT) AS n_pos,
      |  CAST(n_neg AS BIGINT) AS n_neg,
      |  CAST(j_num AS BIGINT) AS j_num,
      |  CAST(j_num AS DOUBLE)
      |    / CAST(n_pos * n_neg AS DOUBLE) AS j
      |FROM ranked WHERE rk = 1""".stripMargin

  /** Decile gains / lift table — the model-ops report behind "call
    * the top 20%": rank by score descending, cut the population into
    * ten equal-mass deciles, and per decile report positives
    * captured cumulatively plus lift vs random. Decile assignment is
    * `cum_before·10 div N` over the score HISTOGRAM (rows sharing a
    * score share a decile — the standard tie treatment), so the
    * whole table is exact integer arithmetic: capture and lift are
    * ppm divisions on non-negative BIGINTs.
    *
    * Scale: one map-combined count per distinct score; every window
    * below runs on the histogram (then the 10-row decile frame). */
  def gainsTable(s: SparkSession, dir: String): DataFrame = {
    val hist = Tables.documents(s, dir)
      .select(col("n_chars").as("score"),
        when(col("lang") === "en", 1L).otherwise(0L).as("pos"))
      .groupBy(col("score"))
      .agg(count(lit(1)).as("nt"), sum(col("pos")).as("np"))
    val fromTop = Window.orderBy(col("score").desc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val all = Window.partitionBy()
    val deciled = hist
      .withColumn("cum_before",
        coalesce(sum(col("nt")).over(fromTop), lit(0L)))
      .withColumn("n", sum(col("nt")).over(all))
      .withColumn("n_pos_tot", sum(col("np")).over(all))
      .withColumn("decile", expr("cum_before * 10L div n"))
      .groupBy(col("decile"))
      .agg(sum(col("nt")).as("dn"), sum(col("np")).as("dpos"),
        max(col("n")).as("n_tot"), max(col("n_pos_tot")).as("pos_tot"))
    val cum = Window.orderBy(col("decile"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    deciled
      .withColumn("cum_n", sum(col("dn")).over(cum))
      .withColumn("cum_pos", sum(col("dpos")).over(cum))
      .select(col("decile"), col("dn").as("n"), col("dpos").as("n_pos"),
        col("cum_pos"),
        expr("cum_pos * 1000000L div pos_tot").as("capture_ppm"),
        expr("(cum_pos * n_tot * 1000000L) div (cum_n * pos_tot)")
          .as("lift_ppm"))
      .orderBy(col("decile"))
  }

  val gainsTableSql: String =
    """WITH hist AS (
      |  SELECT n_chars AS score, COUNT(*) AS nt,
      |    SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS np
      |  FROM documents GROUP BY n_chars),
      |cum AS (
      |  SELECT score, nt, np,
      |    COALESCE(SUM(nt) OVER (ORDER BY score DESC
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
      |      AS cum_before,
      |    SUM(nt) OVER () AS n,
      |    SUM(np) OVER () AS n_pos_tot
      |  FROM hist),
      |dec AS (
      |  SELECT CAST(cum_before * 10 // n AS BIGINT) AS decile,
      |    CAST(SUM(nt) AS BIGINT) AS dn,
      |    CAST(SUM(np) AS BIGINT) AS dpos,
      |    CAST(MAX(n) AS BIGINT) AS n_tot,
      |    CAST(MAX(n_pos_tot) AS BIGINT) AS pos_tot
      |  FROM cum GROUP BY 1),
      |run AS (
      |  SELECT decile, dn, dpos, n_tot, pos_tot,
      |    SUM(dn) OVER (ORDER BY decile
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_n,
      |    SUM(dpos) OVER (ORDER BY decile
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_pos
      |  FROM dec)
      |SELECT decile, dn AS n, dpos AS n_pos,
      |  CAST(cum_pos AS BIGINT) AS cum_pos,
      |  CAST(cum_pos * 1000000 // pos_tot AS BIGINT) AS capture_ppm,
      |  CAST((cum_pos * n_tot * 1000000) // (cum_n * pos_tot) AS BIGINT)
      |    AS lift_ppm
      |FROM run ORDER BY decile""".stripMargin

  /** Matthews correlation coefficient at a fixed operating point
    * (predict en when n_chars ≥ 2000) — the single-number confusion
    * summary that, unlike F1, stays honest under class imbalance
    * (it uses all four cells). The numerator `tp·tn − fp·fn` is an
    * exact BIGINT; the denominator's four marginals are cast to
    * double BEFORE multiplying (their product overflows int64 at
    * corpus scale) inside one fixed sqrt expression; zero-marginal
    * guard pins MCC to 0. One map-combinable aggregate. */
  def mccGate(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(when(col("n_chars") >= 2000L, 1L).otherwise(0L).as("p"),
        when(col("lang") === "en", 1L).otherwise(0L).as("y"))
      .agg(sum(col("p") * col("y")).as("tp"),
        sum(col("p") * (lit(1L) - col("y"))).as("fp"),
        sum((lit(1L) - col("p")) * col("y")).as("fn"),
        sum((lit(1L) - col("p")) * (lit(1L) - col("y"))).as("tn"))
      .selectExpr("tp", "fp", "fn", "tn",
        "tp * tn - fp * fn AS mcc_num",
        "CASE WHEN (tp + fp) = 0 OR (tp + fn) = 0" +
          " OR (tn + fp) = 0 OR (tn + fn) = 0 THEN 0.0" +
          " ELSE CAST(tp * tn - fp * fn AS DOUBLE)" +
          " / sqrt(CAST(tp + fp AS DOUBLE) * CAST(tp + fn AS DOUBLE)" +
          " * CAST(tn + fp AS DOUBLE) * CAST(tn + fn AS DOUBLE))" +
          " END AS mcc")

  val mccSql: String =
    """WITH c AS (
      |  SELECT
      |    CAST(SUM(CASE WHEN n_chars >= 2000 AND lang = 'en'
      |      THEN 1 ELSE 0 END) AS BIGINT) AS tp,
      |    CAST(SUM(CASE WHEN n_chars >= 2000 AND lang <> 'en'
      |      THEN 1 ELSE 0 END) AS BIGINT) AS fp,
      |    CAST(SUM(CASE WHEN n_chars < 2000 AND lang = 'en'
      |      THEN 1 ELSE 0 END) AS BIGINT) AS fn,
      |    CAST(SUM(CASE WHEN n_chars < 2000 AND lang <> 'en'
      |      THEN 1 ELSE 0 END) AS BIGINT) AS tn
      |  FROM documents)
      |SELECT tp, fp, fn, tn,
      |  CAST(tp * tn - fp * fn AS BIGINT) AS mcc_num,
      |  CASE WHEN (tp + fp) = 0 OR (tp + fn) = 0
      |    OR (tn + fp) = 0 OR (tn + fn) = 0 THEN 0.0
      |    ELSE CAST(tp * tn - fp * fn AS DOUBLE)
      |      / sqrt(CAST(tp + fp AS DOUBLE) * CAST(tp + fn AS DOUBLE)
      |      * CAST(tn + fp AS DOUBLE) * CAST(tn + fn AS DOUBLE))
      |  END AS mcc
      |FROM c""".stripMargin

  /** Spearman rank correlation (tie-corrected) between two document
    * metrics (n_chars vs token count) — the monotone-association
    * check Pearson misses, computed WITHOUT any per-row global rank:
    * ties take their average rank, and the average rank of a value
    * is derivable from its VALUE HISTOGRAM alone
    * (`2·rank = 2·cum_before + cnt + 1` — doubled so it stays an
    * exact integer). Pearson over those doubled ranks (the factor
    * cancels) uses exact BIGINT power sums from the JOINT histogram;
    * only the final `n·Σxy − Σx·Σy` products run in doubles (their
    * int64 product overflows at corpus scale), in one fixed
    * expression tree both engines share.
    *
    * Scale: two value histograms + one joint histogram, all
    * map-combinable; windows run on histogram-sized frames. Nothing
    * is globally sorted per row. */
  def spearmanGate(s: SparkSession, dir: String): DataFrame = {
    val base = Tables.documents(s, dir)
      .select(col("n_chars").as("x"),
        size(split(col("text"), " ")).cast("long").as("y"))
    val joint = base.groupBy(col("x"), col("y"))
      .agg(count(lit(1)).as("c"))
    def ranks(colName: String): DataFrame = {
      val w = Window.orderBy(col(colName))
        .rowsBetween(Window.unboundedPreceding, -1)
      base.groupBy(col(colName)).agg(count(lit(1)).as("cnt"))
        .withColumn("cb", coalesce(sum(col("cnt")).over(w), lit(0L)))
        .select(col(colName),
          (lit(2L) * col("cb") + col("cnt") + 1L).as(s"r_$colName"))
    }
    joint
      .join(broadcast(ranks("x")), "x")
      .join(broadcast(ranks("y")), "y")
      .agg(sum(col("c")).as("n"),
        sum(col("c") * col("r_x")).as("sx"),
        sum(col("c") * col("r_y")).as("sy"),
        sum(col("c") * col("r_x") * col("r_y")).as("sxy"),
        sum(col("c") * col("r_x") * col("r_x")).as("sxx"),
        sum(col("c") * col("r_y") * col("r_y")).as("syy"))
      .selectExpr("n", "sx", "sy", "sxy", "sxx", "syy",
        "(CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)" +
          " - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))" +
          " / sqrt((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)" +
          " - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))" +
          " * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)" +
          " - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))) AS rho")
  }

  val spearmanSql: String =
    """WITH base AS (
      |  SELECT n_chars AS x,
      |    CAST(len(string_split(text, ' ')) AS BIGINT) AS y
      |  FROM documents),
      |joint AS (SELECT x, y, COUNT(*) AS c FROM base GROUP BY x, y),
      |hx AS (SELECT x, COUNT(*) AS cnt FROM base GROUP BY x),
      |rx AS (
      |  SELECT x, 2 * COALESCE(SUM(cnt) OVER (ORDER BY x
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
      |    + cnt + 1 AS r_x
      |  FROM hx),
      |hy AS (SELECT y, COUNT(*) AS cnt FROM base GROUP BY y),
      |ry AS (
      |  SELECT y, 2 * COALESCE(SUM(cnt) OVER (ORDER BY y
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
      |    + cnt + 1 AS r_y
      |  FROM hy),
      |sums AS (
      |  SELECT CAST(SUM(c) AS BIGINT) AS n,
      |    CAST(SUM(c * r_x) AS BIGINT) AS sx,
      |    CAST(SUM(c * r_y) AS BIGINT) AS sy,
      |    CAST(SUM(c * r_x * r_y) AS BIGINT) AS sxy,
      |    CAST(SUM(c * r_x * r_x) AS BIGINT) AS sxx,
      |    CAST(SUM(c * r_y * r_y) AS BIGINT) AS syy
      |  FROM joint j
      |  JOIN rx ON rx.x = j.x
      |  JOIN ry ON ry.y = j.y)
      |SELECT n, sx, sy, sxy, sxx, syy,
      |  (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
      |    - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
      |  / sqrt((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
      |    - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
      |    * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
      |    - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))) AS rho
      |FROM sums""".stripMargin

  // ---------------------------------------------------------------- //

  /** Kendall's τ-b (tie-corrected) between per-customer order count
    * and total spend — the rank-correlation complement of
    * [[spearmanGate]] that is robust to the value histograms'
    * shapes because it counts PAIRS: concordant, discordant, and
    * tied in each margin. All counts are exact BIGINTs from one
    * bounded pair join; only the final τ runs one sqrt + one
    * division, sign-peeled so floor is taken on a non-negative
    * value on both engines.
    *
    * Scale: the per-entity aggregate is map-combinable; the O(k²)
    * pair stage runs on the BOUNDED entity frame (k ≤ 200 here — τ
    * over more entities uses the merge-sort inversion count, which
    * is a sortWithinPartitions + prefix-sum shape, not all-pairs). */
  def kendallGate(s: SparkSession, dir: String): DataFrame = {
    val per = Tables.orders(s, dir).filter(col("o_custkey") < 200)
      .groupBy(col("o_custkey"))
      .agg(count(lit(1)).as("x"),
        (sum(col("o_totalprice").cast(DecimalType(18, 2))) * 100)
          .cast(LongType).as("y"))
    val a = per.toDF("ka", "xa", "ya")
    val b = per.toDF("kb", "xb", "yb")
    a.crossJoin(broadcast(b)).filter(col("ka") < col("kb"))
      .agg(
        sum(when((col("xa") - col("xb")) * (col("ya") - col("yb")) > 0,
          1L).otherwise(0L)).as("c"),
        sum(when((col("xa") - col("xb")) * (col("ya") - col("yb")) < 0,
          1L).otherwise(0L)).as("d"),
        sum(when(col("xa") === col("xb"), 1L).otherwise(0L)).as("tx"),
        sum(when(col("ya") === col("yb"), 1L).otherwise(0L)).as("ty"),
        count(lit(1)).as("n0"))
      .select(col("c"), col("d"), col("tx"), col("ty"), col("n0"),
        expr("CAST((CASE WHEN c >= d THEN 1 ELSE -1 END) * " +
          "floor(abs(c - d) * 1000000.0 / " +
          "sqrt(CAST((n0 - tx) * (n0 - ty) AS DOUBLE)) + 0.5) " +
          "AS BIGINT)").as("tau_e6"))
  }

  val kendallSql: String =
    """WITH per AS (
      |  SELECT o_custkey, COUNT(*) AS x,
      |    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) * 100
      |      AS BIGINT) AS y
      |  FROM orders WHERE o_custkey < 200 GROUP BY o_custkey),
      |p AS (
      |  SELECT a.x AS xa, a.y AS ya, b.x AS xb, b.y AS yb
      |  FROM per a, per b WHERE a.o_custkey < b.o_custkey),
      |st AS (SELECT
      |  CAST(SUM(CASE WHEN (xa-xb)*(ya-yb) > 0 THEN 1 ELSE 0 END)
      |    AS BIGINT) AS c,
      |  CAST(SUM(CASE WHEN (xa-xb)*(ya-yb) < 0 THEN 1 ELSE 0 END)
      |    AS BIGINT) AS d,
      |  CAST(SUM(CASE WHEN xa = xb THEN 1 ELSE 0 END) AS BIGINT)
      |    AS tx,
      |  CAST(SUM(CASE WHEN ya = yb THEN 1 ELSE 0 END) AS BIGINT)
      |    AS ty,
      |  COUNT(*) AS n0 FROM p)
      |SELECT c, d, tx, ty, n0,
      |  CAST((CASE WHEN c >= d THEN 1 ELSE -1 END) *
      |    floor(abs(c - d) * 1000000.0 /
      |      sqrt(CAST((n0 - tx) * (n0 - ty) AS DOUBLE)) + 0.5)
      |    AS BIGINT) AS tau_e6
      |FROM st""".stripMargin

  /** Isotonic calibration by pool-adjacent-violators, computed via
    * the MINIMAX characterization iso(i) = max_{j≤i} min_{k≥i}
    * mean(y[j..k]) (Barlow et al. 1972, §1.2) instead of the
    * sequential stack merge — on the 10-bin calibration curve the
    * whole fit is a bounded triple join over prefix sums, fully
    * declarative and order-independent, where the classic PAV loop
    * would be inherently sequential. The output is the monotone
    * non-decreasing recalibrated probability per score bin.
    *
    * Determinism: segment means are ONE long/long double division
    * each; min/max compare those doubles (no accumulation); the
    * result snaps to e6.
    *
    * Scale: the corpus collapses to B=10 bin aggregates
    * map-combinably; the O(B³) minimax runs on a 1000-triple frame.
    * Finer grids use the same statement — B=1000 is 1e9 triples
    * across the cluster, still nothing against corpus scan cost. */
  def isotonicGate(s: SparkSession, dir: String): DataFrame = {
    val bin = expr("least(n_chars, 3999L) * 10L div 4000L")
    val bins = Tables.documents(s, dir)
      .select(bin.as("bin"),
        when(col("lang") === "en", 1L).otherwise(0L).as("pos"))
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n"), sum(col("pos")).as("p"))
    // 10-row frame: the unpartitioned prefix window is metadata-sized
    val w = Window.orderBy(col("bin"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val cum = bins
      .withColumn("cp", sum(col("p")).over(w))
      .withColumn("cn", sum(col("n")).over(w))
      .select(col("bin"), col("n"), col("p"),
        (col("cp") - col("p")).as("cpx"),
        (col("cn") - col("n")).as("cnx"),
        col("cp"), col("cn"))
    val segs = cum.select(col("bin").as("j"), col("cpx"), col("cnx"))
      .join(cum.select(col("bin").as("k"), col("cp"), col("cn")),
        col("j") <= col("k"))
      .select(col("j"), col("k"),
        ((col("cp") - col("cpx")).cast(DoubleType) /
          (col("cn") - col("cnx")).cast(DoubleType)).as("seg_mean"))
    cum.select(col("bin"), col("n"), col("p"))
      .join(segs, col("j") <= col("bin") && col("bin") <= col("k"))
      .groupBy(col("bin"), col("n"), col("p"), col("j"))
      .agg(min(col("seg_mean")).as("m"))
      .groupBy(col("bin"), col("n"), col("p"))
      .agg(max(col("m")).as("iso"))
      .select(col("bin"), col("n"), col("p"),
        expr("CAST(floor(iso * 1000000.0 + 0.5) AS BIGINT)")
          .as("iso_e6"))
      .orderBy(col("bin"))
  }

  val isotonicSql: String =
    """WITH b AS (
      |  SELECT LEAST(n_chars, 3999) * 10 // 4000 AS bin,
      |    CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS pos
      |  FROM documents),
      |bins AS (
      |  SELECT bin, COUNT(*) AS n, CAST(SUM(pos) AS BIGINT) AS p
      |  FROM b GROUP BY bin),
      |cum AS (
      |  SELECT bin, n, p,
      |    CAST(SUM(p) OVER (ORDER BY bin) - p AS BIGINT) AS cpx,
      |    CAST(SUM(n) OVER (ORDER BY bin) - n AS BIGINT) AS cnx,
      |    CAST(SUM(p) OVER (ORDER BY bin) AS BIGINT) AS cp,
      |    CAST(SUM(n) OVER (ORDER BY bin) AS BIGINT) AS cn
      |  FROM bins),
      |segs AS (
      |  SELECT j.bin AS j, k.bin AS k,
      |    CAST(k.cp - j.cpx AS DOUBLE)
      |      / CAST(k.cn - j.cnx AS DOUBLE) AS seg_mean
      |  FROM cum j JOIN cum k ON j.bin <= k.bin),
      |mj AS (
      |  SELECT c.bin, c.n, c.p, s.j, MIN(s.seg_mean) AS m
      |  FROM cum c JOIN segs s
      |    ON s.j <= c.bin AND c.bin <= s.k
      |  GROUP BY c.bin, c.n, c.p, s.j)
      |SELECT bin AS bin, n, p,
      |  CAST(floor(MAX(m) * 1000000.0 + 0.5) AS BIGINT) AS iso_e6
      |FROM mj GROUP BY bin, n, p
      |ORDER BY bin""".stripMargin

  /** Wilcoxon signed-rank statistic over paired per-customer spend
    * in two eras (1995-97 vs 1998-2000) — the nonparametric paired
    * test the repo's McNemar gate is the binary cousin of. Average
    * ranks for tied |d| come from the VALUE HISTOGRAM via the
    * doubled-integer 2·cum_before + cnt + 1 trick (the
    * [[spearmanGate]] discipline — no per-row global sort, and
    * doubled ranks keep .5-averages exact in BIGINTs). Zero
    * differences drop out per the standard Wilcoxon treatment.
    *
    * Scale: pairing and differencing are map-combinable customer
    * aggregates; ranking runs over the O(distinct |d|) histogram
    * only. */
  def wilcoxonGate(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.orders(s, dir)
      .groupBy(col("o_custkey"))
      .agg((sum(when(year(col("o_orderdate")) <= 1997,
          col("o_totalprice").cast(DecimalType(18, 2)))) * 100)
          .cast(LongType).as("a"),
        (sum(when(year(col("o_orderdate")) >= 1998,
          col("o_totalprice").cast(DecimalType(18, 2)))) * 100)
          .cast(LongType).as("b"))
      .select((coalesce(col("a"), lit(0L)) -
        coalesce(col("b"), lit(0L))).as("d"))
      .filter(col("d") =!= 0)
      .select(abs(col("d")).as("ad"),
        when(col("d") > 0, 1L).otherwise(0L).as("is_pos"))
    val hist = d.groupBy(col("ad"))
      .agg(count(lit(1)).as("cnt"), sum(col("is_pos")).as("pos"))
    // O(distinct |d|) histogram frame: metadata-sized window
    val w = Window.orderBy(col("ad"))
      .rowsBetween(Window.unboundedPreceding, -1)
    hist
      .withColumn("cum_before",
        coalesce(sum(col("cnt")).over(w), lit(0L)))
      .withColumn("rank2",
        lit(2L) * col("cum_before") + col("cnt") + 1L)
      .agg(sum(col("cnt")).as("n_eff"),
        sum(col("pos") * col("rank2")).as("w_plus_x2"),
        sum((col("cnt") - col("pos")) * col("rank2"))
          .as("w_minus_x2"))
      .select(col("n_eff"), col("w_plus_x2"), col("w_minus_x2"),
        (col("w_plus_x2") + col("w_minus_x2")).as("check_x2"))
  }

  val wilcoxonSql: String =
    """WITH per AS (
      |  SELECT o_custkey,
      |    CAST(COALESCE(SUM(CASE WHEN year(o_orderdate) <= 1997
      |      THEN CAST(o_totalprice AS DECIMAL(18,2)) END), 0) * 100
      |      AS BIGINT) AS a,
      |    CAST(COALESCE(SUM(CASE WHEN year(o_orderdate) >= 1998
      |      THEN CAST(o_totalprice AS DECIMAL(18,2)) END), 0) * 100
      |      AS BIGINT) AS b
      |  FROM orders GROUP BY o_custkey),
      |d AS (
      |  SELECT abs(a - b) AS ad,
      |    CASE WHEN a - b > 0 THEN 1 ELSE 0 END AS is_pos
      |  FROM per WHERE a - b <> 0),
      |hist AS (
      |  SELECT ad, COUNT(*) AS cnt, CAST(SUM(is_pos) AS BIGINT)
      |    AS pos
      |  FROM d GROUP BY ad),
      |r AS (
      |  SELECT cnt, pos,
      |    2 * COALESCE(SUM(cnt) OVER (ORDER BY ad
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
      |      + cnt + 1 AS rank2
      |  FROM hist)
      |SELECT CAST(SUM(cnt) AS BIGINT) AS n_eff,
      |  CAST(SUM(pos * rank2) AS BIGINT) AS w_plus_x2,
      |  CAST(SUM((cnt - pos) * rank2) AS BIGINT) AS w_minus_x2,
      |  CAST(SUM(pos * rank2) + SUM((cnt - pos) * rank2) AS BIGINT)
      |    AS check_x2
      |FROM r""".stripMargin

  /** Fleiss' kappa — chance-corrected agreement for MORE than two
    * raters (Cohen's kappa, [[cohensKappa]], stops at two): the
    * labeling-QA metric a pipeline runs when several annotators (or
    * model versions) tag the same items. Three deterministic raters
    * band each order into 3 categories: priority band (urgency),
    * price band (value), and a key-residue band (a deliberately
    * uninformative rater that drags agreement toward chance).
    *
    * Exact integer algebra: with n=3 ratings per item,
    * `P̄ = Σᵢ(Σⱼnᵢⱼ²−3)/(6N) = S1/(6N)` and `P̄e = ΣⱼCⱼ²/(9N²) =
    * SC/(9N²)`, so `κ = (3N·S1 − 2·SC)/(18N² − 2·SC)` — one signed
    * integer division, sign peeled before `div` (the cross-engine
    * floor-vs-truncate discipline). 1e6 scaling keeps every product
    * in BIGINT only to N≈7×10⁵ items (the binding term is the
    * numerator |3N·S1 − 2·SC|·10⁶ ≤ 18N²·10⁶, with S1 ≤ 6N and
    * SC ≤ 9N²); beyond that the products MUST route through
    * DECIMAL(38,0) on both engines — Spark would wrap silently where
    * DuckDB raises, so the bound is a hard contract, not advice.
    *
    * Scale: per-item cells are a map-side-combined groupBy on
    * (item, category ≤ 3 rows/item); category totals are an
    * O(3)-row rollup. Nothing but the two scalar frames leaves the
    * executors. */
  def fleissKappa(s: SparkSession, dir: String): DataFrame = {
    val rated = Tables.orders(s, dir).select(
      col("o_orderkey").as("k"),
      expr("CASE WHEN substring(o_orderpriority, 1, 1) IN ('1', '2') " +
        "THEN 0 WHEN substring(o_orderpriority, 1, 1) = '3' " +
        "THEN 1 ELSE 2 END").as("ra"),
      expr("CASE WHEN o_totalprice < 50000.0 THEN 0 " +
        "WHEN o_totalprice < 150000.0 THEN 1 ELSE 2 END").as("rb"),
      expr("CAST(o_orderkey % 3 AS INT)").as("rc"))
    val lng = rated.select(col("k"),
      explode(array(col("ra"), col("rb"), col("rc"))).as("cat"))
    val items = lng.groupBy(col("k"), col("cat"))
      .agg(count(lit(1)).as("c"))
      .groupBy(col("k")).agg(sum(expr("c * c")).as("ss"))
    val tot = items.agg(count(lit(1)).as("n"),
      sum(expr("ss - 3")).as("s1"))
    val catTot = lng.groupBy(col("cat"))
      .agg(count(lit(1)).as("cnt"))
      .agg(sum(expr("cnt * cnt")).as("sc"))
    tot.crossJoin(catTot).select(col("n"), col("s1"), col("sc"),
      expr("s1 * 1000000L div (6 * n)").as("p_bar_ppm"),
      expr("sc * 1000000L div (9 * n * n)").as("p_e_ppm"),
      expr("CASE WHEN 18 * n * n - 2 * sc = 0 THEN 1000000L " +
        "WHEN 3 * n * s1 - 2 * sc < 0 THEN " +
        "-((2 * sc - 3 * n * s1) * 1000000L div (18 * n * n - 2 * sc)) " +
        "ELSE (3 * n * s1 - 2 * sc) * 1000000L div (18 * n * n - 2 * sc) " +
        "END").as("kappa_ppm"))
  }

  val fleissKappaSql: String =
    """WITH rated AS (
      |  SELECT o_orderkey AS k,
      |    CASE WHEN substring(o_orderpriority, 1, 1) IN ('1', '2')
      |      THEN 0 WHEN substring(o_orderpriority, 1, 1) = '3'
      |      THEN 1 ELSE 2 END AS ra,
      |    CASE WHEN o_totalprice < 50000.0 THEN 0
      |      WHEN o_totalprice < 150000.0 THEN 1 ELSE 2 END AS rb,
      |    CAST(o_orderkey % 3 AS INT) AS rc
      |  FROM orders),
      |lng AS (SELECT k, unnest([ra, rb, rc]) AS cat FROM rated),
      |items AS (
      |  SELECT k, CAST(SUM(c * c) AS BIGINT) AS ss FROM (
      |    SELECT k, cat, COUNT(*) AS c FROM lng GROUP BY k, cat)
      |  GROUP BY k),
      |tot AS (SELECT COUNT(*) AS n,
      |  CAST(SUM(ss - 3) AS BIGINT) AS s1 FROM items),
      |cat_tot AS (
      |  SELECT CAST(SUM(cnt * cnt) AS BIGINT) AS sc FROM (
      |    SELECT COUNT(*) AS cnt FROM lng GROUP BY cat))
      |SELECT n, s1, sc,
      |  CAST(s1 * 1000000 // (6 * n) AS BIGINT) AS p_bar_ppm,
      |  CAST(sc * 1000000 // (9 * n * n) AS BIGINT) AS p_e_ppm,
      |  CAST(CASE WHEN 18 * n * n - 2 * sc = 0 THEN 1000000
      |    WHEN 3 * n * s1 - 2 * sc < 0 THEN
      |      -((2 * sc - 3 * n * s1) * 1000000 // (18 * n * n - 2 * sc))
      |    ELSE (3 * n * s1 - 2 * sc) * 1000000 // (18 * n * n - 2 * sc)
      |    END AS BIGINT) AS kappa_ppm
      |FROM tot, cat_tot""".stripMargin

  /** Per-class precision/recall/F1 of the repo's own n-gram language
    * identifier ([[graft.functions.TextFunctions.langId]]) against
    * the labeled `lang` column, plus a `zzz_macro` summary row —
    * [[f1Report]] is the binary version; this is the multiclass
    * report a pipeline publishes per classifier release. Per-class
    * rows carry exact tp/fp/fn counts and ppm divisions; the macro
    * row carries micro counts (summed tp/fp/fn) and MACRO-averaged
    * ppm metrics (mean of the per-class values — class-balanced,
    * unlike micro). Predictor semantics are shared with
    * `text_lang_id` through [[TextAnalysis.langPredSql]], so the two
    * oracles cannot drift.
    *
    * Scale: one (lang, pred) groupBy — ≤ |langs|² cells — then
    * metadata-sized joins; the corpus is touched once. */
  def macroF1(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.TextFunctions
    val cells = Tables.documents(s, dir)
      .select(col("lang"), TextFunctions.langId(col("text")).as("pred"))
      .groupBy(col("lang"), col("pred")).agg(count(lit(1)).as("n"))
    val classes = cells.select(col("lang").as("cls")).distinct()
    val tp = cells.filter(col("lang") === col("pred"))
      .groupBy(col("lang").as("cls")).agg(sum(col("n")).as("tp"))
    val fp = cells.filter(col("lang") =!= col("pred"))
      .groupBy(col("pred").as("cls")).agg(sum(col("n")).as("fp"))
    val fn = cells.filter(col("lang") =!= col("pred"))
      .groupBy(col("lang").as("cls")).agg(sum(col("n")).as("fn"))
    val per = classes.join(tp, Seq("cls"), "left")
      .join(fp, Seq("cls"), "left").join(fn, Seq("cls"), "left")
      .na.fill(0L, Seq("tp", "fp", "fn"))
      .select(col("cls"), col("tp"), col("fp"), col("fn"),
        expr("CASE WHEN tp + fp = 0 THEN 0L ELSE " +
          "tp * 1000000L div (tp + fp) END").as("precision_ppm"),
        expr("CASE WHEN tp + fn = 0 THEN 0L ELSE " +
          "tp * 1000000L div (tp + fn) END").as("recall_ppm"),
        expr("CASE WHEN 2 * tp + fp + fn = 0 THEN 0L ELSE " +
          "2 * tp * 1000000L div (2 * tp + fp + fn) END").as("f1_ppm"))
    val macroRow = per.agg(
      sum(col("tp")).as("tp"), sum(col("fp")).as("fp"),
      sum(col("fn")).as("fn"),
      expr("sum(precision_ppm) div count(1)").as("precision_ppm"),
      expr("sum(recall_ppm) div count(1)").as("recall_ppm"),
      expr("sum(f1_ppm) div count(1)").as("f1_ppm"))
      .select(lit("zzz_macro").as("cls"), col("tp"), col("fp"),
        col("fn"), col("precision_ppm"), col("recall_ppm"),
        col("f1_ppm"))
    per.unionByName(macroRow).orderBy(col("cls"))
  }

  val macroF1Sql: String =
    s"""WITH preds AS (
       |${TextAnalysis.langPredSql}),
       |cells AS (
       |  SELECT lang, pred, COUNT(*) AS n FROM preds
       |  GROUP BY lang, pred),
       |cls AS (SELECT DISTINCT lang AS cls FROM cells),
       |tp AS (SELECT lang AS cls, CAST(SUM(n) AS BIGINT) AS tp
       |  FROM cells WHERE lang = pred GROUP BY lang),
       |fp AS (SELECT pred AS cls, CAST(SUM(n) AS BIGINT) AS fp
       |  FROM cells WHERE lang <> pred GROUP BY pred),
       |fn AS (SELECT lang AS cls, CAST(SUM(n) AS BIGINT) AS fn
       |  FROM cells WHERE lang <> pred GROUP BY lang),
       |per AS (
       |  SELECT c.cls, COALESCE(tp.tp, 0) AS tp,
       |    COALESCE(fp.fp, 0) AS fp, COALESCE(fn.fn, 0) AS fn
       |  FROM cls c LEFT JOIN tp ON c.cls = tp.cls
       |  LEFT JOIN fp ON c.cls = fp.cls
       |  LEFT JOIN fn ON c.cls = fn.cls),
       |m AS (
       |  SELECT cls, tp, fp, fn,
       |    CASE WHEN tp + fp = 0 THEN 0
       |      ELSE tp * 1000000 // (tp + fp) END AS precision_ppm,
       |    CASE WHEN tp + fn = 0 THEN 0
       |      ELSE tp * 1000000 // (tp + fn) END AS recall_ppm,
       |    CASE WHEN 2 * tp + fp + fn = 0 THEN 0
       |      ELSE 2 * tp * 1000000 // (2 * tp + fp + fn) END AS f1_ppm
       |  FROM per)
       |SELECT cls, CAST(tp AS BIGINT) AS tp, CAST(fp AS BIGINT) AS fp,
       |  CAST(fn AS BIGINT) AS fn,
       |  CAST(precision_ppm AS BIGINT) AS precision_ppm,
       |  CAST(recall_ppm AS BIGINT) AS recall_ppm,
       |  CAST(f1_ppm AS BIGINT) AS f1_ppm
       |FROM m
       |UNION ALL
       |SELECT 'zzz_macro', CAST(SUM(tp) AS BIGINT),
       |  CAST(SUM(fp) AS BIGINT), CAST(SUM(fn) AS BIGINT),
       |  CAST(SUM(precision_ppm) // COUNT(*) AS BIGINT),
       |  CAST(SUM(recall_ppm) // COUNT(*) AS BIGINT),
       |  CAST(SUM(f1_ppm) // COUNT(*) AS BIGINT)
       |FROM m
       |ORDER BY cls""".stripMargin

  /** Consecutive-document ROUGE — the n-gram-overlap boilerplate
    * screen: for every pair of ID-adjacent documents from the SAME
    * source, clipped unigram (ROUGE-1) and bigram (ROUGE-2) overlap,
    * micro-averaged per source as F1 = 2·Σclip / Σ(|a|+|b|). A
    * source whose consecutive docs overlap heavily is emitting
    * templated/boilerplate text — the pairwise complement of the
    * [[TextAnalysis.textHapax]] vocabulary screen, and the standard
    * summarization-eval metric reused as a curation diagnostic.
    * Exact integer arithmetic: clipped counts are min() of exact
    * token counts, F1 in sign-free ppm division.
    *
    * Pairing is BUCKETED within-source adjacency: a doc pairs with
    * the next doc_id of its source inside a 1000-id bucket, so the
    * ordering window is partitioned by (source, bucket) — bounded
    * partitions regardless of how large a source grows (a window
    * partitioned by source alone is a per-source global sort, the
    * classic skew trap). The one boundary pair per bucket is
    * deliberately skipped — a documented 0.1% sampling choice, not
    * an accident. Overlap joins carry (doc, gram, count) rows,
    * hash-partitioned on the gram; output is O(sources). */
  def rougePairs(s: SparkSession, dir: String): DataFrame = {
    val toks = Tables.documents(s, dir)
      .select(col("doc_id"), col("source"),
        filter(split(lower(col("text")), " "), t => t =!= "").as("ts"))
    val lens = toks.select(col("doc_id"), size(col("ts")).as("n"),
      greatest(size(col("ts")) - 1, lit(0)).as("n2"))
    val ucnt = toks.select(col("doc_id"), explode(col("ts")).as("g"))
      .groupBy(col("doc_id"), col("g")).agg(count(lit(1)).as("c"))
    // compiled bigram kernel (identical "a b" strings to the
    // zip_with(slice, slice, concat) form it replaces)
    val bcnt = toks.select(col("doc_id"),
      explode(graft.plans.TextExpressions.tokenNGrams(
        col("ts"), 2, emitWholeShortDoc = false)).as("g"))
      .groupBy(col("doc_id"), col("g")).agg(count(lit(1)).as("c"))
    val wb = Window
      .partitionBy(col("source"), expr("ia div 1000"))
      .orderBy(col("ia"))
    val pairs = toks
      .select(col("doc_id").as("ia"), col("source"))
      .withColumn("ib", lead(col("ia"), 1).over(wb))
      .filter(col("ib").isNotNull)
      .select(col("ia"), col("ib"), col("source"))
    def clip(cnt: DataFrame) = pairs
      .join(cnt.toDF("ia", "g", "ca"), "ia")
      .join(cnt.toDF("ib", "g", "cb"), Seq("ib", "g"))
      .groupBy(col("source"))
      .agg(sum(least(col("ca"), col("cb"))).as("clip"))
    val den = pairs
      .join(lens.toDF("ia", "na", "na2"), "ia")
      .join(lens.toDF("ib", "nb", "nb2"), "ib")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_pairs"),
        sum(col("na") + col("nb")).as("d1"),
        sum(col("na2") + col("nb2")).as("d2"))
    den
      .join(clip(ucnt).toDF("source", "clip1"), Seq("source"), "left")
      .join(clip(bcnt).toDF("source", "clip2"), Seq("source"), "left")
      .na.fill(0L, Seq("clip1", "clip2"))
      .select(col("source"), col("n_pairs"),
        expr("CASE WHEN d1 = 0 THEN 0L " +
          "ELSE clip1 * 2000000L div d1 END").as("r1_f_ppm"),
        expr("CASE WHEN d2 = 0 THEN 0L " +
          "ELSE clip2 * 2000000L div d2 END").as("r2_f_ppm"))
      .orderBy(col("source"))
  }

  val rougePairsSql: String =
    """WITH toks AS (
      |  SELECT doc_id, source,
      |    list_filter(string_split(lower(text), ' '), t -> t <> '')
      |      AS ts
      |  FROM documents),
      |lens AS (SELECT doc_id, len(ts) AS n,
      |           GREATEST(len(ts) - 1, 0) AS n2 FROM toks),
      |ucnt AS (
      |  SELECT doc_id, g, COUNT(*) AS c FROM (
      |    SELECT doc_id, unnest(ts) AS g FROM toks)
      |  GROUP BY doc_id, g),
      |bcnt AS (
      |  SELECT doc_id, g, COUNT(*) AS c FROM (
      |    SELECT doc_id, unnest(list_transform(
      |      generate_series(1, len(ts) - 1),
      |      i -> ts[i] || ' ' || ts[i + 1])) AS g FROM toks)
      |  GROUP BY doc_id, g),
      |pairs AS (
      |  SELECT ia, ib, source FROM (
      |    SELECT doc_id AS ia,
      |      LEAD(doc_id) OVER (PARTITION BY source, doc_id // 1000
      |        ORDER BY doc_id) AS ib,
      |      source
      |    FROM toks)
      |  WHERE ib IS NOT NULL),
      |c1 AS (
      |  SELECT p.source, SUM(LEAST(x.c, y.c)) AS clip FROM pairs p
      |  JOIN ucnt x ON x.doc_id = p.ia
      |  JOIN ucnt y ON y.doc_id = p.ib AND y.g = x.g
      |  GROUP BY p.source),
      |c2 AS (
      |  SELECT p.source, SUM(LEAST(x.c, y.c)) AS clip FROM pairs p
      |  JOIN bcnt x ON x.doc_id = p.ia
      |  JOIN bcnt y ON y.doc_id = p.ib AND y.g = x.g
      |  GROUP BY p.source),
      |den AS (
      |  SELECT p.source, CAST(COUNT(*) AS BIGINT) AS n_pairs,
      |    CAST(SUM(la.n + lb.n) AS BIGINT) AS d1,
      |    CAST(SUM(la.n2 + lb.n2) AS BIGINT) AS d2
      |  FROM pairs p
      |  JOIN lens la ON la.doc_id = p.ia
      |  JOIN lens lb ON lb.doc_id = p.ib
      |  GROUP BY p.source)
      |SELECT d.source, d.n_pairs,
      |  CAST(CASE WHEN d.d1 = 0 THEN 0
      |    ELSE COALESCE(c1.clip, 0) * 2000000 // d.d1 END AS BIGINT)
      |    AS r1_f_ppm,
      |  CAST(CASE WHEN d.d2 = 0 THEN 0
      |    ELSE COALESCE(c2.clip, 0) * 2000000 // d.d2 END AS BIGINT)
      |    AS r2_f_ppm
      |FROM den d
      |LEFT JOIN c1 ON c1.source = d.source
      |LEFT JOIN c2 ON c2.source = d.source
      |ORDER BY d.source""".stripMargin

  /** Krippendorff's alpha (nominal) — the agreement coefficient
    * [[fleissKappa]] cannot be: Fleiss requires every rater to rate
    * every item; alpha handles MISSING ratings (rater b abstains on
    * keys ≡0 mod 5, rater c on ≡0 mod 7; items left with <2 ratings
    * drop out entirely, per the definition). Computational form:
    * per-item disagreement d_u = (m_u² − Σ_c n_uc²)/(m_u−1) — an
    * exact integer for m_u ∈ {2,3} (all reachable compositions make
    * the numerator divisible); A = Σd_u, n = Σm_u over pairable
    * items, expected disagreement from the value margins
    * E = n² − Σ_c n_c², and α = 1 − A(n−1)/E, evaluated as ONE
    * fixed-shape double over exact BIGINTs and floored to ppm
    * (double floor is toward −∞ in both engines, so negative alpha
    * snaps identically).
    *
    * Scale: (item, cat) cells map-side combine; margins are an
    * O(categories) rollup over cells from pairable items only. */
  def krippendorffAlpha(s: SparkSession, dir: String): DataFrame = {
    val rated = Tables.orders(s, dir).select(
      col("o_orderkey").as("k"),
      expr("CASE WHEN substring(o_orderpriority, 1, 1) IN ('1', '2') " +
        "THEN 0 WHEN substring(o_orderpriority, 1, 1) = '3' " +
        "THEN 1 ELSE 2 END").as("ra"),
      expr("CASE WHEN o_orderkey % 5 = 0 THEN NULL " +
        "WHEN o_totalprice < 50000.0 THEN 0 " +
        "WHEN o_totalprice < 150000.0 THEN 1 ELSE 2 END").as("rb"),
      expr("CASE WHEN o_orderkey % 7 = 0 THEN NULL " +
        "ELSE CAST(o_orderkey % 3 AS INT) END").as("rc"))
    val lng = rated
      .select(col("k"),
        explode(array(col("ra"), col("rb"), col("rc"))).as("cat"))
      .filter(col("cat").isNotNull)
    val cells = lng.groupBy(col("k"), col("cat"))
      .agg(count(lit(1)).as("c"))
    val items = cells.groupBy(col("k"))
      .agg(sum(col("c")).as("m"), sum(expr("c * c")).as("ssq"))
      .filter(col("m") >= 2)
      .select(col("k"), col("m"),
        expr("(m * m - ssq) div (m - 1)").as("d"))
    val tot = items.agg(count(lit(1)).as("n_items"),
      sum(col("m")).as("n"), sum(col("d")).as("a"))
    val margins = cells
      .join(items.select(col("k")), "k")
      .groupBy(col("cat")).agg(sum(col("c")).as("nc"))
      .agg(sum(expr("nc * nc")).as("sc"))
    tot.crossJoin(broadcast(margins))
      .select(col("n_items"), col("n"), col("a"),
        expr("n * n - sc").as("e"),
        expr("""CAST(FLOOR((1.0 -
          CAST(a AS DOUBLE) * CAST(n - 1 AS DOUBLE) / CAST(n * n - sc AS DOUBLE))
          * 1000000.0) AS BIGINT)""").as("alpha_ppm"))
  }

  val krippendorffAlphaSql: String =
    """WITH rated AS (
      |  SELECT o_orderkey AS k,
      |    CASE WHEN substring(o_orderpriority, 1, 1) IN ('1', '2')
      |      THEN 0 WHEN substring(o_orderpriority, 1, 1) = '3'
      |      THEN 1 ELSE 2 END AS ra,
      |    CASE WHEN o_orderkey % 5 = 0 THEN NULL
      |      WHEN o_totalprice < 50000.0 THEN 0
      |      WHEN o_totalprice < 150000.0 THEN 1 ELSE 2 END AS rb,
      |    CASE WHEN o_orderkey % 7 = 0 THEN NULL
      |      ELSE CAST(o_orderkey % 3 AS INT) END AS rc
      |  FROM orders),
      |lng AS (
      |  SELECT k, cat FROM (SELECT k, unnest([ra, rb, rc]) AS cat
      |                      FROM rated)
      |  WHERE cat IS NOT NULL),
      |cells AS (
      |  SELECT k, cat, CAST(COUNT(*) AS BIGINT) AS c FROM lng
      |  GROUP BY k, cat),
      |items AS (
      |  SELECT k, m, (m * m - ssq) // (m - 1) AS d FROM (
      |    SELECT k, CAST(SUM(c) AS BIGINT) AS m,
      |      CAST(SUM(c * c) AS BIGINT) AS ssq
      |    FROM cells GROUP BY k)
      |  WHERE m >= 2),
      |tot AS (
      |  SELECT CAST(COUNT(*) AS BIGINT) AS n_items,
      |    CAST(SUM(m) AS BIGINT) AS n, CAST(SUM(d) AS BIGINT) AS a
      |  FROM items),
      |margins AS (
      |  SELECT CAST(SUM(nc * nc) AS BIGINT) AS sc FROM (
      |    SELECT c.cat, CAST(SUM(c.c) AS BIGINT) AS nc
      |    FROM cells c JOIN items i ON i.k = c.k
      |    GROUP BY c.cat))
      |SELECT n_items, n, a, n * n - sc AS e,
      |  CAST(FLOOR((1.0 -
      |    CAST(a AS DOUBLE) * CAST(n - 1 AS DOUBLE)
      |    / CAST(n * n - sc AS DOUBLE)) * 1000000.0) AS BIGINT)
      |    AS alpha_ppm
      |FROM tot, margins""".stripMargin

  /** Corpus-level BLEU-2 over the same bucketed within-source
    * adjacent pairs as [[rougePairs]] (previous doc = reference,
    * next = candidate): micro-averaged clipped unigram/bigram
    * precisions from exact integer counts, the brevity penalty
    * `exp(1 − r/c)` when the candidates run short, and the geometric
    * mean — the one fixed-shape double at the end, floored to ppm.
    * ROUGE answers "how much of the reference reappears"; BLEU's
    * precision-with-BP answers "how much of the candidate is
    * copied" — the pair of them brackets boilerplate detection.
    *
    * Scale: same shapes as rougePairs — equi/bucketed joins, counts
    * map-side combined, ONE output row. */
  def bleuPairs(s: SparkSession, dir: String): DataFrame = {
    val toks = Tables.documents(s, dir)
      .select(col("doc_id"), col("source"),
        filter(split(lower(col("text")), " "), t => t =!= "").as("ts"))
    val lens = toks.select(col("doc_id"), size(col("ts")).as("n"),
      greatest(size(col("ts")) - 1, lit(0)).as("n2"))
    val ucnt = toks.select(col("doc_id"), explode(col("ts")).as("g"))
      .groupBy(col("doc_id"), col("g")).agg(count(lit(1)).as("c"))
    // compiled bigram kernel (identical "a b" strings to the
    // zip_with(slice, slice, concat) form it replaces)
    val bcnt = toks.select(col("doc_id"),
      explode(graft.plans.TextExpressions.tokenNGrams(
        col("ts"), 2, emitWholeShortDoc = false)).as("g"))
      .groupBy(col("doc_id"), col("g")).agg(count(lit(1)).as("c"))
    val wb = Window
      .partitionBy(col("source"), expr("ia div 1000"))
      .orderBy(col("ia"))
    val pairs = toks
      .select(col("doc_id").as("ia"), col("source"))
      .withColumn("ib", lead(col("ia"), 1).over(wb))
      .filter(col("ib").isNotNull)
      .select(col("ia"), col("ib"))
    def clip(cnt: DataFrame) = pairs
      .join(cnt.toDF("ia", "g", "cr"), "ia")
      .join(cnt.toDF("ib", "g", "cc"), Seq("ib", "g"))
      .agg(sum(least(col("cr"), col("cc"))).as("clip"))
    val den = pairs
      .join(lens.toDF("ia", "nr", "nr2"), "ia")
      .join(lens.toDF("ib", "nc", "nc2"), "ib")
      .agg(count(lit(1)).as("n_pairs"),
        sum(col("nr")).as("r_len"), sum(col("nc")).as("c_len"),
        sum(col("nc2")).as("c2_len"))
    den
      .crossJoin(clip(ucnt).toDF("clip1"))
      .crossJoin(clip(bcnt).toDF("clip2"))
      .na.fill(0L, Seq("clip1", "clip2"))
      .select(col("n_pairs"), col("r_len"), col("c_len"),
        col("clip1"), col("clip2"),
        expr("""CAST(FLOOR(
          CASE WHEN clip1 = 0 OR clip2 = 0 OR c_len = 0 OR c2_len = 0
            THEN 0.0
          ELSE
            (CASE WHEN c_len < r_len
              THEN exp(1.0 - CAST(r_len AS DOUBLE) / CAST(c_len AS DOUBLE))
              ELSE 1.0 END)
            * exp((ln(CAST(clip1 AS DOUBLE) / CAST(c_len AS DOUBLE))
                 + ln(CAST(clip2 AS DOUBLE) / CAST(c2_len AS DOUBLE)))
                / 2.0)
          END * 1000000.0) AS BIGINT)""").as("bleu2_ppm"))
  }

  val bleuPairsSql: String =
    """WITH toks AS (
      |  SELECT doc_id, source,
      |    list_filter(string_split(lower(text), ' '), t -> t <> '')
      |      AS ts
      |  FROM documents),
      |lens AS (SELECT doc_id, len(ts) AS n,
      |           GREATEST(len(ts) - 1, 0) AS n2 FROM toks),
      |ucnt AS (
      |  SELECT doc_id, g, COUNT(*) AS c FROM (
      |    SELECT doc_id, unnest(ts) AS g FROM toks)
      |  GROUP BY doc_id, g),
      |bcnt AS (
      |  SELECT doc_id, g, COUNT(*) AS c FROM (
      |    SELECT doc_id, unnest(list_transform(
      |      generate_series(1, len(ts) - 1),
      |      i -> ts[i] || ' ' || ts[i + 1])) AS g FROM toks)
      |  GROUP BY doc_id, g),
      |pairs AS (
      |  SELECT ia, ib FROM (
      |    SELECT doc_id AS ia,
      |      LEAD(doc_id) OVER (PARTITION BY source, doc_id // 1000
      |        ORDER BY doc_id) AS ib
      |    FROM toks)
      |  WHERE ib IS NOT NULL),
      |c1 AS (
      |  SELECT SUM(LEAST(x.c, y.c)) AS clip FROM pairs p
      |  JOIN ucnt x ON x.doc_id = p.ia
      |  JOIN ucnt y ON y.doc_id = p.ib AND y.g = x.g),
      |c2 AS (
      |  SELECT SUM(LEAST(x.c, y.c)) AS clip FROM pairs p
      |  JOIN bcnt x ON x.doc_id = p.ia
      |  JOIN bcnt y ON y.doc_id = p.ib AND y.g = x.g),
      |den AS (
      |  SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs,
      |    CAST(SUM(lr.n) AS BIGINT) AS r_len,
      |    CAST(SUM(lc.n) AS BIGINT) AS c_len,
      |    CAST(SUM(lc.n2) AS BIGINT) AS c2_len
      |  FROM pairs p
      |  JOIN lens lr ON lr.doc_id = p.ia
      |  JOIN lens lc ON lc.doc_id = p.ib)
      |SELECT d.n_pairs, d.r_len, d.c_len,
      |  CAST(COALESCE(c1.clip, 0) AS BIGINT) AS clip1,
      |  CAST(COALESCE(c2.clip, 0) AS BIGINT) AS clip2,
      |  CAST(FLOOR(
      |    CASE WHEN COALESCE(c1.clip, 0) = 0 OR COALESCE(c2.clip, 0) = 0
      |      OR d.c_len = 0 OR d.c2_len = 0 THEN 0.0
      |    ELSE
      |      (CASE WHEN d.c_len < d.r_len
      |        THEN exp(1.0 - CAST(d.r_len AS DOUBLE)
      |          / CAST(d.c_len AS DOUBLE))
      |        ELSE 1.0 END)
      |      * exp((ln(CAST(COALESCE(c1.clip, 0) AS DOUBLE)
      |            / CAST(d.c_len AS DOUBLE))
      |          + ln(CAST(COALESCE(c2.clip, 0) AS DOUBLE)
      |            / CAST(d.c2_len AS DOUBLE))) / 2.0)
      |    END * 1000000.0) AS BIGINT) AS bleu2_ppm
      |FROM den d, c1, c2""".stripMargin

  /** Mean Average Precision@10 — the order-sensitive ranking metric
    * the nDCG/MRR pair still leaves out: AP rewards EVERY relevant
    * hit by the precision at its own rank, so front-loading two hits
    * scores differently from spreading them (recall@k can't see
    * that, MRR only sees the first). Binary relevance = same label.
    * Exact integer form: each hit contributes `(hits_so_far · 10⁶)
    * div rank`, the sum divides by min(k, R) — both divisions
    * non-negative, so Spark `div` and DuckDB `//` agree, and the
    * whole metric is a BIGINT with no float anywhere.
    *
    * Scale: reuses the bounded [[systemTopK]] plan; everything after
    * is O(queries·k). */
  def mapGate(s: SparkSession, dir: String): DataFrame = {
    val k = 10
    val sys = systemTopK(s, dir, nQueries = 8, k = k)
    val wq = Window.partitionBy(col("query_id")).orderBy(col("rank"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val perHit = sys
      .withColumn("rel", when(col("tlabel") === col("qlabel"), 1L)
        .otherwise(0L))
      .withColumn("cum", sum(col("rel")).over(wq))
      .withColumn("term",
        when(col("rel") === 1L, expr("cum * 1000000L div rank"))
          .otherwise(0L))
    val agg = perHit.groupBy(col("query_id"), col("qlabel"))
      .agg(sum(col("term")).as("ap_num"), sum(col("rel")).as("hits"))
    val hist = Tables.embeddings(s, dir).groupBy(col("label"))
      .agg(count(lit(1)).as("cnt"))
    agg
      .join(broadcast(hist.withColumnRenamed("label", "qlabel")),
        "qlabel")
      .select(col("query_id"), (col("cnt") - 1).as("n_rel"),
        col("hits"),
        expr(s"""CASE WHEN least(${k}L, cnt - 1) = 0 THEN 0L
          |ELSE ap_num div least(${k}L, cnt - 1) END""".stripMargin)
          .as("ap_ppm"))
      .orderBy(col("query_id"))
  }

  val mapSql: String =
    """WITH vecs AS (
      |  SELECT vec_id, label,
      |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      |  FROM embeddings),
      |scored AS (
      |  SELECT a.vec_id AS query_id, a.label AS qlabel,
      |    b.label AS tlabel,
      |    ROW_NUMBER() OVER (PARTITION BY a.vec_id ORDER BY
      |      list_reduce(list_transform(generate_series(1, len(a.v)),
      |          i -> a.v[i] * b.v[i]), (x, y) -> x + y)
      |        / (sqrt(list_reduce(list_transform(
      |             generate_series(1, len(a.v)),
      |             i -> a.v[i] * a.v[i]), (x, y) -> x + y))
      |         * sqrt(list_reduce(list_transform(
      |             generate_series(1, len(b.v)),
      |             i -> b.v[i] * b.v[i]), (x, y) -> x + y)))
      |      DESC, b.vec_id) AS rank
      |  FROM vecs a, vecs b
      |  WHERE a.vec_id < 8 AND a.vec_id <> b.vec_id),
      |perhit AS (
      |  SELECT query_id, qlabel, rank,
      |    CASE WHEN tlabel = qlabel THEN 1 ELSE 0 END AS rel,
      |    SUM(CASE WHEN tlabel = qlabel THEN 1 ELSE 0 END)
      |      OVER (PARTITION BY query_id ORDER BY rank) AS cum
      |  FROM scored WHERE rank <= 10),
      |agg AS (
      |  SELECT query_id, qlabel,
      |    CAST(SUM(CASE WHEN rel = 1
      |      THEN (cum * 1000000) // rank ELSE 0 END) AS BIGINT)
      |      AS ap_num,
      |    CAST(SUM(rel) AS BIGINT) AS hits
      |  FROM perhit GROUP BY query_id, qlabel),
      |hist AS (SELECT label, CAST(COUNT(*) AS BIGINT) AS cnt
      |         FROM vecs GROUP BY label)
      |SELECT a.query_id, g.cnt - 1 AS n_rel, a.hits,
      |  CAST(CASE WHEN LEAST(10, g.cnt - 1) = 0 THEN 0
      |    ELSE a.ap_num // LEAST(10, g.cnt - 1) END AS BIGINT)
      |    AS ap_ppm
      |FROM agg a JOIN hist g ON g.label = a.qlabel
      |ORDER BY a.query_id""".stripMargin

  /** Bradley–Terry pairwise strength estimation (Bradley & Terry
    * 1952; Hunter's MM algorithm, Ann. Stat. 2004) — the arena-style
    * "which variant wins head-to-head" ranking an eval pipeline runs
    * on pairwise preferences. Comparisons are derived
    * deterministically: within each (user, day), event type a beats
    * type b when the user fired a more often that day (ties skipped).
    * Two MM steps from the uniform start: π¹_a = 2·W_a/N_a (with π
    * uniform the MM denominator collapses to N_a/2 — exact ppm
    * integers), then the genuinely-pairwise
    * π²_a = W_a / Σ_b n_ab/(π¹_a + π¹_b), whose per-opponent terms
    * are one fixed double tree 1e-9-snapped to longs BEFORE the sum
    * (the jsDivergence discipline) and whose final division is one
    * fixed tree snapped to e6.
    *
    * Scale: the per-(user, day, type) count is one map-combinable
    * aggregate; the comparison join is WITHIN (user, day) groups
    * (bounded ×types fanout, never corpus×corpus); everything after
    * runs on the O(types²) win matrix. */
  /** Wilson 95% score intervals on pairwise win rates — the
    * closed-form binomial CI an A/B or preference-eval readout uses
    * when bootstrap is overkill: per ordered pair, the interval for
    * P(a beats b) and whether it excludes 1/2 (a DECIDED pair). Same
    * duel source as [[bradleyTerry]] (within-(user, day) count
    * comparisons — bounded ×types fanout).
    *
    * Determinism: wins/n are exact BIGINTs; the interval is ONE fixed
    * syntactic float expression per bound (z written as 1.96·1.96,
    * never a pre-multiplied literal — the product and the constant
    * parse to DIFFERENT doubles), floored at 1e6. sqrt/division only
    * (the cross-engine-safe float set). Scale: one groupBy over the
    * duel list; output is O(types²) metadata. */
  def wilsonWinCi(s: SparkSession, dir: String): DataFrame = {
    val counts = Tables.events(s, dir)
      .groupBy(col("user_id"), to_date(col("ts")).as("day"),
        col("event_type"))
      .agg(count(lit(1)).as("cnt"))
    val a = counts.toDF("user_id", "day", "ta", "ca")
    val b = counts.toDF("user_id", "day", "tb", "cb")
    val duels = a.join(b, Seq("user_id", "day"))
      .filter(col("ta") < col("tb"))
      .filter(col("ca") =!= col("cb"))
      .groupBy(col("ta").as("item_a"), col("tb").as("item_b"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("ca") > col("cb"), 1L).otherwise(0L)).as("wins_a"))
    duels
      .withColumn("lo_e6", expr(
        "CAST(floor(((CAST(wins_a AS DOUBLE) / CAST(n AS DOUBLE)" +
        " + 1.96 * 1.96 / (2.0 * CAST(n AS DOUBLE)))" +
        " - 1.96 * sqrt(CAST(wins_a AS DOUBLE) / CAST(n AS DOUBLE)" +
        "   * (1.0 - CAST(wins_a AS DOUBLE) / CAST(n AS DOUBLE))" +
        "   / CAST(n AS DOUBLE)" +
        "   + 1.96 * 1.96 / (4.0 * CAST(n AS DOUBLE) * CAST(n AS DOUBLE))))" +
        " / (1.0 + 1.96 * 1.96 / CAST(n AS DOUBLE)) * 1000000.0 + 0.5)" +
        " AS BIGINT)"))
      .withColumn("hi_e6", expr(
        "CAST(floor(((CAST(wins_a AS DOUBLE) / CAST(n AS DOUBLE)" +
        " + 1.96 * 1.96 / (2.0 * CAST(n AS DOUBLE)))" +
        " + 1.96 * sqrt(CAST(wins_a AS DOUBLE) / CAST(n AS DOUBLE)" +
        "   * (1.0 - CAST(wins_a AS DOUBLE) / CAST(n AS DOUBLE))" +
        "   / CAST(n AS DOUBLE)" +
        "   + 1.96 * 1.96 / (4.0 * CAST(n AS DOUBLE) * CAST(n AS DOUBLE))))" +
        " / (1.0 + 1.96 * 1.96 / CAST(n AS DOUBLE)) * 1000000.0 + 0.5)" +
        " AS BIGINT)"))
      .select(col("item_a"), col("item_b"), col("n"), col("wins_a"),
        expr("(wins_a * 1000000) div n").as("p_ppm"),
        col("lo_e6"), col("hi_e6"),
        (col("lo_e6") > 500000L || col("hi_e6") < 500000L)
          .as("decided"))
      .orderBy(col("item_a"), col("item_b"))
  }

  val wilsonWinCiSql: String =
    """WITH counts AS (
      |  SELECT user_id, CAST(ts AS DATE) AS day, event_type,
      |    COUNT(*) AS cnt
      |  FROM events GROUP BY user_id, CAST(ts AS DATE), event_type),
      |duels AS (
      |  SELECT a.event_type AS item_a, b.event_type AS item_b,
      |    CAST(COUNT(*) AS BIGINT) AS n,
      |    CAST(SUM(CASE WHEN a.cnt > b.cnt THEN 1 ELSE 0 END)
      |      AS BIGINT) AS wins_a
      |  FROM counts a JOIN counts b
      |    ON a.user_id = b.user_id AND a.day = b.day
      |    AND a.event_type < b.event_type
      |  WHERE a.cnt <> b.cnt
      |  GROUP BY a.event_type, b.event_type)
      |SELECT item_a, item_b, n, wins_a,
      |  (wins_a * 1000000) // n AS p_ppm,
      |  CAST(floor(((CAST(wins_a AS DOUBLE) / CAST(n AS DOUBLE)
      |      + 1.96 * 1.96 / (2.0 * CAST(n AS DOUBLE)))
      |    - 1.96 * sqrt(CAST(wins_a AS DOUBLE) / CAST(n AS DOUBLE)
      |      * (1.0 - CAST(wins_a AS DOUBLE) / CAST(n AS DOUBLE))
      |      / CAST(n AS DOUBLE)
      |      + 1.96 * 1.96 / (4.0 * CAST(n AS DOUBLE) * CAST(n AS DOUBLE))))
      |    / (1.0 + 1.96 * 1.96 / CAST(n AS DOUBLE)) * 1000000.0 + 0.5)
      |    AS BIGINT) AS lo_e6,
      |  CAST(floor(((CAST(wins_a AS DOUBLE) / CAST(n AS DOUBLE)
      |      + 1.96 * 1.96 / (2.0 * CAST(n AS DOUBLE)))
      |    + 1.96 * sqrt(CAST(wins_a AS DOUBLE) / CAST(n AS DOUBLE)
      |      * (1.0 - CAST(wins_a AS DOUBLE) / CAST(n AS DOUBLE))
      |      / CAST(n AS DOUBLE)
      |      + 1.96 * 1.96 / (4.0 * CAST(n AS DOUBLE) * CAST(n AS DOUBLE))))
      |    / (1.0 + 1.96 * 1.96 / CAST(n AS DOUBLE)) * 1000000.0 + 0.5)
      |    AS BIGINT) AS hi_e6,
      |  (CAST(floor(((CAST(wins_a AS DOUBLE) / CAST(n AS DOUBLE)
      |      + 1.96 * 1.96 / (2.0 * CAST(n AS DOUBLE)))
      |    - 1.96 * sqrt(CAST(wins_a AS DOUBLE) / CAST(n AS DOUBLE)
      |      * (1.0 - CAST(wins_a AS DOUBLE) / CAST(n AS DOUBLE))
      |      / CAST(n AS DOUBLE)
      |      + 1.96 * 1.96 / (4.0 * CAST(n AS DOUBLE) * CAST(n AS DOUBLE))))
      |    / (1.0 + 1.96 * 1.96 / CAST(n AS DOUBLE)) * 1000000.0 + 0.5)
      |    AS BIGINT) > 500000
      |   OR CAST(floor(((CAST(wins_a AS DOUBLE) / CAST(n AS DOUBLE)
      |      + 1.96 * 1.96 / (2.0 * CAST(n AS DOUBLE)))
      |    + 1.96 * sqrt(CAST(wins_a AS DOUBLE) / CAST(n AS DOUBLE)
      |      * (1.0 - CAST(wins_a AS DOUBLE) / CAST(n AS DOUBLE))
      |      / CAST(n AS DOUBLE)
      |      + 1.96 * 1.96 / (4.0 * CAST(n AS DOUBLE) * CAST(n AS DOUBLE))))
      |    / (1.0 + 1.96 * 1.96 / CAST(n AS DOUBLE)) * 1000000.0 + 0.5)
      |    AS BIGINT) < 500000) AS decided
      |FROM duels
      |ORDER BY item_a, item_b""".stripMargin

  def bradleyTerry(s: SparkSession, dir: String): DataFrame = {
    val counts = Tables.events(s, dir)
      .groupBy(col("user_id"), to_date(col("ts")).as("day"),
        col("event_type"))
      .agg(count(lit(1)).as("cnt"))
    val a = counts.toDF("user_id", "day", "ta", "ca")
    val b = counts.toDF("user_id", "day", "tb", "cb")
    // directed win counts per ordered pair (both directions emitted
    // by the a<b join + the symmetric union)
    val duels = a.join(b, Seq("user_id", "day"))
      .filter(col("ta") < col("tb"))
      .filter(col("ca") =!= col("cb"))
      .groupBy(col("ta"), col("tb"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("ca") > col("cb"), 1L).otherwise(0L)).as("wa"))
    val sym = duels.select(col("ta").as("item"), col("tb").as("opp"),
        col("n"), col("wa").as("w"))
      .unionByName(duels.select(col("tb").as("item"),
        col("ta").as("opp"), col("n"), (col("n") - col("wa")).as("w")))
    val items = sym.groupBy(col("item"))
      .agg(sum(col("w")).as("wins"), sum(col("n")).as("comparisons"))
      .withColumn("pi1_ppm",
        expr("(2 * wins * 1000000) div comparisons"))
    // O(types²) joins — broadcast by size
    val pi = items.select(col("item"), col("pi1_ppm"))
    val denom = sym
      .join(broadcast(pi.toDF("item", "p_item")), "item")
      .join(broadcast(pi.toDF("opp", "p_opp")), "opp")
      .withColumn("term9",
        floor(col("n").cast(DoubleType)
          / ((col("p_item") + col("p_opp")).cast(DoubleType) / 1e6)
          * 1e9 + 0.5).cast(LongType))
      .groupBy(col("item")).agg(sum(col("term9")).as("d9"))
    items.join(broadcast(denom), "item")
      .select(col("item"), col("wins"), col("comparisons"),
        col("pi1_ppm"),
        floor(col("wins").cast(DoubleType)
          / (col("d9").cast(DoubleType) / 1e9) * 1e6 + 0.5)
          .cast(LongType).as("pi2_ppm"))
      .orderBy(col("item"))
  }

  val bradleyTerrySql: String =
    """WITH counts AS (
      |  SELECT user_id, CAST(ts AS DATE) AS day, event_type,
      |    COUNT(*) AS cnt
      |  FROM events GROUP BY 1, 2, 3),
      |duels AS (
      |  SELECT a.event_type AS ta, b.event_type AS tb,
      |    COUNT(*) AS n,
      |    CAST(SUM(CASE WHEN a.cnt > b.cnt THEN 1 ELSE 0 END)
      |      AS BIGINT) AS wa
      |  FROM counts a JOIN counts b
      |    ON a.user_id = b.user_id AND a.day = b.day
      |   AND a.event_type < b.event_type
      |  WHERE a.cnt <> b.cnt
      |  GROUP BY 1, 2),
      |sym AS (
      |  SELECT ta AS item, tb AS opp, n, wa AS w FROM duels
      |  UNION ALL
      |  SELECT tb, ta, n, n - wa FROM duels),
      |items AS (
      |  SELECT item, CAST(SUM(w) AS BIGINT) AS wins,
      |    CAST(SUM(n) AS BIGINT) AS comparisons,
      |    (2 * CAST(SUM(w) AS BIGINT) * 1000000)
      |      // CAST(SUM(n) AS BIGINT) AS pi1_ppm
      |  FROM sym GROUP BY item),
      |denom AS (
      |  SELECT s.item,
      |    CAST(SUM(CAST(floor(CAST(s.n AS DOUBLE)
      |      / (CAST(pi.pi1_ppm + po.pi1_ppm AS DOUBLE) / 1e6)
      |      * 1e9 + 0.5) AS BIGINT)) AS BIGINT) AS d9
      |  FROM sym s
      |  JOIN items pi ON pi.item = s.item
      |  JOIN items po ON po.item = s.opp
      |  GROUP BY s.item)
      |SELECT i.item, i.wins, i.comparisons,
      |  CAST(i.pi1_ppm AS BIGINT) AS pi1_ppm,
      |  CAST(floor(CAST(i.wins AS DOUBLE)
      |    / (CAST(d.d9 AS DOUBLE) / 1e9) * 1e6 + 0.5) AS BIGINT)
      |    AS pi2_ppm
      |FROM items i JOIN denom d ON d.item = i.item
      |ORDER BY i.item""".stripMargin

  /** Cliff's delta — the nonparametric ordinal effect size
    * δ = (#(x>y) − #(x<y)) / (n_x·n_y) between two groups (here:
    * BUILDING vs MACHINERY customers' account balances in exact
    * cents), the robust companion of a t-test an eval pipeline
    * reports alongside significance. All pair counts are EXACT
    * integers computed WITHOUT the n_x·n_y cross join: merge the two
    * groups' value histograms, and #(x>y) = Σ_v nx(v) · (cumulative
    * ny strictly below v) via one ordered prefix sum over the
    * distinct-value table (the Wilcoxon/Spearman histogram
    * discipline); ties contribute to neither count. δ is emitted as
    * sign-peeled ppm (`div` truncates, `//` floors — they agree only
    * after the sign is peeled).
    *
    * Scale: two map-combinable histograms; the window runs over
    * O(distinct cents values); at corpus scale the prefix sum
    * becomes the two-phase range-partitioned form. */
  def cliffsDelta(s: SparkSession, dir: String): DataFrame = {
    val cust = Tables.customer(s, dir)
      .filter(col("c_mktsegment").isin("BUILDING", "MACHINERY"))
      .select(col("c_mktsegment").as("g"),
        (col("c_acctbal").cast(DecimalType(12, 2)) * 100)
          .cast(LongType).as("v"))
    val hist = cust.groupBy(col("v"))
      .agg(sum(when(col("g") === "BUILDING", 1L).otherwise(0L))
          .as("nx"),
        sum(when(col("g") === "MACHINERY", 1L).otherwise(0L))
          .as("ny"))
    val wOrd = Window.orderBy(col("v")) // O(distinct values)
    val cum = hist
      .withColumn("xbelow", coalesce(sum(col("nx"))
        .over(wOrd.rowsBetween(Window.unboundedPreceding, -1)),
        lit(0L)))
      .withColumn("ybelow", coalesce(sum(col("ny"))
        .over(wOrd.rowsBetween(Window.unboundedPreceding, -1)),
        lit(0L)))
    cum.agg(
        sum(col("nx")).as("n_x"), sum(col("ny")).as("n_y"),
        sum(col("nx") * col("ybelow")).as("gt"),
        sum(col("ny") * col("xbelow")).as("lt"))
      .select(col("n_x"), col("n_y"), col("gt"), col("lt"),
        expr("CASE WHEN gt >= lt THEN" +
          " ((gt - lt) * 1000000) div (n_x * n_y)" +
          " ELSE -(((lt - gt) * 1000000) div (n_x * n_y)) END")
          .as("delta_ppm"))
  }

  val cliffsDeltaSql: String =
    """WITH vals AS (
      |  SELECT CAST(CAST(c_acctbal AS DECIMAL(12,2)) * 100 AS BIGINT)
      |      AS v,
      |    c_mktsegment AS g
      |  FROM customer
      |  WHERE c_mktsegment IN ('BUILDING', 'MACHINERY')),
      |hist AS (
      |  SELECT v,
      |    CAST(SUM(CASE WHEN g = 'BUILDING' THEN 1 ELSE 0 END)
      |      AS BIGINT) AS nx,
      |    CAST(SUM(CASE WHEN g = 'MACHINERY' THEN 1 ELSE 0 END)
      |      AS BIGINT) AS ny
      |  FROM vals GROUP BY v),
      |cum AS (
      |  SELECT nx, ny,
      |    CAST(COALESCE(SUM(nx) OVER (ORDER BY v
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
      |      AS BIGINT) AS xbelow,
      |    CAST(COALESCE(SUM(ny) OVER (ORDER BY v
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
      |      AS BIGINT) AS ybelow
      |  FROM hist),
      |tot AS (
      |  SELECT CAST(SUM(nx) AS BIGINT) AS n_x,
      |    CAST(SUM(ny) AS BIGINT) AS n_y,
      |    CAST(SUM(nx * ybelow) AS BIGINT) AS gt,
      |    CAST(SUM(ny * xbelow) AS BIGINT) AS lt
      |  FROM cum)
      |SELECT n_x, n_y, gt, lt,
      |  CAST(CASE WHEN gt >= lt THEN
      |      ((gt - lt) * 1000000) // (n_x * n_y)
      |    ELSE -(((lt - gt) * 1000000) // (n_x * n_y)) END
      |    AS BIGINT) AS delta_ppm
      |FROM tot""".stripMargin

  /** Murphy decomposition of the Brier score (Murphy 1973):
    * reliability − resolution + uncertainty over forecast deciles —
    * the diagnosis behind [[brierScore]]'s single number (is the
    * model bad because it's MISCALIBRATED (high rel) or because it
    * can't SEPARATE classes (low res)?). Same deterministic
    * forecast/label pair as the Brier gate (p = min(n_chars,4000)/
    * 4000, y = lang='en'). Per-bin sums are exact integers in
    * 1/4000 forecast units; each bin's rel/res term is ONE fixed
    * double tree 1e-9-snapped BEFORE the sum (the jsDivergence
    * discipline); uncertainty is one snapped tree over exact
    * totals.
    *
    * Scale: one map-combinable (bin) aggregate over the corpus,
    * then O(10) rows. */
  def brierDecomposition(s: SparkSession, dir: String): DataFrame = {
    val scored = Tables.documents(s, dir).select(
      least(col("n_chars"), lit(4000L)).as("f4000"),
      when(col("lang") === "en", 1L).otherwise(0L).as("y"))
      .withColumn("bin",
        least(expr("(f4000 * 10) div 4000"), lit(9L)))
    val bins = scored.groupBy(col("bin"))
      .agg(count(lit(1)).as("nk"), sum(col("f4000")).as("sf"),
        sum(col("y")).as("ok"))
    val wAll = Window.partitionBy()
    val terms = bins
      .withColumn("n", sum(col("nk")).over(wAll))
      .withColumn("o", sum(col("ok")).over(wAll))
      .withColumn("rel9", expr(
        "CAST(floor(CAST(nk AS DOUBLE)" +
          " * (CAST(sf AS DOUBLE)/(4000.0*CAST(nk AS DOUBLE))" +
          "    - CAST(ok AS DOUBLE)/CAST(nk AS DOUBLE))" +
          " * (CAST(sf AS DOUBLE)/(4000.0*CAST(nk AS DOUBLE))" +
          "    - CAST(ok AS DOUBLE)/CAST(nk AS DOUBLE))" +
          " * 1e9 + 0.5) AS BIGINT)"))
      .withColumn("res9", expr(
        "CAST(floor(CAST(nk AS DOUBLE)" +
          " * (CAST(ok AS DOUBLE)/CAST(nk AS DOUBLE)" +
          "    - CAST(o AS DOUBLE)/CAST(n AS DOUBLE))" +
          " * (CAST(ok AS DOUBLE)/CAST(nk AS DOUBLE)" +
          "    - CAST(o AS DOUBLE)/CAST(n AS DOUBLE))" +
          " * 1e9 + 0.5) AS BIGINT)"))
    terms.groupBy(col("n"), col("o"))
      .agg(count(lit(1)).as("n_bins"),
        sum(col("rel9")).as("rel_sum9"),
        sum(col("res9")).as("res_sum9"))
      .select(col("n"), col("o"), col("n_bins"),
        expr("CAST(floor(CAST(rel_sum9 AS DOUBLE)/CAST(n AS DOUBLE)" +
          " + 0.5) AS BIGINT)").as("reliability_e9"),
        expr("CAST(floor(CAST(res_sum9 AS DOUBLE)/CAST(n AS DOUBLE)" +
          " + 0.5) AS BIGINT)").as("resolution_e9"),
        expr("CAST(floor(CAST(o AS DOUBLE)/CAST(n AS DOUBLE)" +
          " * (1.0 - CAST(o AS DOUBLE)/CAST(n AS DOUBLE))" +
          " * 1e9 + 0.5) AS BIGINT)").as("uncertainty_e9"))
  }

  val brierDecompositionSql: String =
    """WITH scored AS (
      |  SELECT LEAST(n_chars, 4000) AS f4000,
      |    CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y,
      |    LEAST((LEAST(n_chars, 4000) * 10) // 4000, 9) AS bin
      |  FROM documents),
      |bins AS (
      |  SELECT bin, COUNT(*) AS nk,
      |    CAST(SUM(f4000) AS BIGINT) AS sf,
      |    CAST(SUM(y) AS BIGINT) AS ok
      |  FROM scored GROUP BY bin),
      |terms AS (
      |  SELECT nk, sf, ok,
      |    CAST(SUM(nk) OVER () AS BIGINT) AS n,
      |    CAST(SUM(ok) OVER () AS BIGINT) AS o,
      |    CAST(floor(CAST(nk AS DOUBLE)
      |      * (CAST(sf AS DOUBLE)/(4000.0*CAST(nk AS DOUBLE))
      |         - CAST(ok AS DOUBLE)/CAST(nk AS DOUBLE))
      |      * (CAST(sf AS DOUBLE)/(4000.0*CAST(nk AS DOUBLE))
      |         - CAST(ok AS DOUBLE)/CAST(nk AS DOUBLE))
      |      * 1e9 + 0.5) AS BIGINT) AS rel9,
      |    CAST(floor(CAST(nk AS DOUBLE)
      |      * (CAST(ok AS DOUBLE)/CAST(nk AS DOUBLE)
      |         - CAST(SUM(ok) OVER () AS DOUBLE)
      |           /CAST(SUM(nk) OVER () AS DOUBLE))
      |      * (CAST(ok AS DOUBLE)/CAST(nk AS DOUBLE)
      |         - CAST(SUM(ok) OVER () AS DOUBLE)
      |           /CAST(SUM(nk) OVER () AS DOUBLE))
      |      * 1e9 + 0.5) AS BIGINT) AS res9
      |  FROM bins)
      |SELECT n, o, COUNT(*) AS n_bins,
      |  CAST(floor(CAST(SUM(rel9) AS DOUBLE)/CAST(n AS DOUBLE) + 0.5)
      |    AS BIGINT) AS reliability_e9,
      |  CAST(floor(CAST(SUM(res9) AS DOUBLE)/CAST(n AS DOUBLE) + 0.5)
      |    AS BIGINT) AS resolution_e9,
      |  CAST(floor(CAST(o AS DOUBLE)/CAST(n AS DOUBLE)
      |    * (1.0 - CAST(o AS DOUBLE)/CAST(n AS DOUBLE))
      |    * 1e9 + 0.5) AS BIGINT) AS uncertainty_e9
      |FROM terms GROUP BY n, o""".stripMargin

  /** pass@k estimation (Chen et al. 2021, the Codex estimator) —
    * the unbiased "would at least one of k samples pass" metric
    * every code/reasoning eval reports:
    * `pass@k = 1 − C(n−c, k)/C(n, k)` per task from n samples with
    * c passes. Tasks here are customers, samples their first ≤ 16
    * orders (window-capped, deterministic by orderkey), "pass" =
    * status 'F'. The binomial ratio telescopes to
    * `Π_{i<k}(n−c−i)/(n−i)` — EXACT integer products under the
    * n ≤ 16 cap, one ppm division, no factorials, no floats.
    * Emits per-task pass@1/pass@4 plus the corpus means.
    *
    * Scale: one window cap + one map-combinable (task) aggregate;
    * the estimator is a pure projection on the O(tasks) frame. */
  def passAtK(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderkey"))
    val capped = Tables.orders(s, dir)
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 16)
    val tasks = capped.groupBy(col("o_custkey").as("task"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("o_orderstatus") === "F", 1L).otherwise(0L))
          .as("c"))
      .filter(col("n") >= 4)
      .select(col("task"), col("n"), col("c"),
        expr("(c * 1000000) div n").as("pass1_ppm"),
        expr("CASE WHEN n - c < 4 THEN 1000000 ELSE 1000000" +
          " - (((n-c) * (n-c-1) * (n-c-2) * (n-c-3)) * 1000000)" +
          " div (n * (n-1) * (n-2) * (n-3)) END").as("pass4_ppm"))
    tasks.agg(count(lit(1)).as("n_tasks"),
        expr("sum(pass1_ppm) div count(1)").as("mean_pass1_ppm"),
        expr("sum(pass4_ppm) div count(1)").as("mean_pass4_ppm"),
        sum(col("n")).as("n_samples"), sum(col("c")).as("n_passes"))
  }

  val passAtKSql: String =
    """WITH capped AS (
      |  SELECT o_custkey, o_orderstatus,
      |    row_number() OVER (PARTITION BY o_custkey
      |      ORDER BY o_orderkey) AS rk
      |  FROM orders),
      |tasks AS (
      |  SELECT o_custkey AS task, COUNT(*) AS n,
      |    CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END)
      |      AS BIGINT) AS c
      |  FROM capped WHERE rk <= 16
      |  GROUP BY o_custkey HAVING COUNT(*) >= 4),
      |scored AS (
      |  SELECT task, n, c,
      |    (c * 1000000) // n AS pass1_ppm,
      |    CASE WHEN n - c < 4 THEN 1000000 ELSE 1000000
      |      - (((n-c) * (n-c-1) * (n-c-2) * (n-c-3)) * 1000000)
      |      // (n * (n-1) * (n-2) * (n-3)) END AS pass4_ppm
      |  FROM tasks)
      |SELECT COUNT(*) AS n_tasks,
      |  CAST(SUM(pass1_ppm) AS BIGINT) // COUNT(*) AS mean_pass1_ppm,
      |  CAST(SUM(pass4_ppm) AS BIGINT) // COUNT(*) AS mean_pass4_ppm,
      |  CAST(SUM(n) AS BIGINT) AS n_samples,
      |  CAST(SUM(c) AS BIGINT) AS n_passes
      |FROM scored""".stripMargin

  /** Approximate-randomization significance test (Noreen 1989; the
    * Fisher-permutation idea with deterministic hash relabelings) on
    * the en-vs-other mean n_chars gap: 64 pseudo-random relabelings
    * (rowHash32-parity of doc_id ⊕ permutation index, so the split
    * is exchangeable under H₀ and REPRODUCIBLE), p =
    * (1 + #{|perm stat| ≥ |observed|}) / 65. Group sums are exact
    * integers; each |mean gap| is ONE fixed double tree e6-snapped
    * before comparison, so the count is engine-exact.
    *
    * Scale: the 64 relabelings evaluate in ONE pass — a map-side
    * 64× explode feeding a (perm) aggregate — never 64 scans. */
  def permTest(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
      .select(col("doc_id"), col("n_chars"),
        when(col("lang") === "en", 1L).otherwise(0L).as("y"))
    val obs = docs.agg(
      count(lit(1)).as("n"),
      sum(col("y")).as("n1"),
      sum(when(col("y") === 1, col("n_chars"))).as("s1"),
      sum(col("n_chars")).as("st"))
      .select(expr("CAST(floor(abs(CAST(s1 AS DOUBLE)/CAST(n1 AS DOUBLE)" +
        " - CAST(st - s1 AS DOUBLE)/CAST(n - n1 AS DOUBLE))" +
        " * 1e6 + 0.5) AS BIGINT)").as("obs_gap_e6"))
    val perms = docs
      .withColumn("p", explode(sequence(lit(1L), lit(64L))))
      .withColumn("py",
        pmod(TrainingData.rowHash32(col("doc_id") * 64 + col("p")),
          lit(2L)))
      .groupBy(col("p"))
      .agg(count(lit(1)).as("n"), sum(col("py")).as("n1"),
        sum(when(col("py") === 1, col("n_chars"))).as("s1"),
        sum(col("n_chars")).as("st"))
      .filter(col("n1") > 0 && col("n1") < col("n"))
      .select(expr("CAST(floor(abs(CAST(s1 AS DOUBLE)/CAST(n1 AS DOUBLE)" +
        " - CAST(st - s1 AS DOUBLE)/CAST(n - n1 AS DOUBLE))" +
        " * 1e6 + 0.5) AS BIGINT)").as("gap_e6"))
    perms.crossJoin(broadcast(obs))
      .agg(max(col("obs_gap_e6")).as("obs_gap_e6"),
        count(lit(1)).as("n_perms"),
        sum(when(col("gap_e6") >= col("obs_gap_e6"), 1L).otherwise(0L))
          .as("n_ge"))
      .select(col("obs_gap_e6"), col("n_perms"), col("n_ge"),
        expr("((1 + n_ge) * 1000000) div (n_perms + 1)")
          .as("p_value_ppm"))
  }

  val permTestSql: String = {
    val mix = graft.ops.TrainingData.rowHash32Sql
      .replace("doc_id", "(doc_id * 64 + p)")
    s"""WITH docs AS (
      |  SELECT doc_id, n_chars,
      |    CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
      |  FROM documents),
      |obs AS (
      |  SELECT CAST(floor(abs(
      |      CAST(SUM(CASE WHEN y = 1 THEN n_chars END) AS DOUBLE)
      |        / CAST(SUM(y) AS DOUBLE)
      |      - CAST(SUM(n_chars)
      |          - SUM(CASE WHEN y = 1 THEN n_chars END) AS DOUBLE)
      |        / CAST(COUNT(*) - SUM(y) AS DOUBLE))
      |      * 1e6 + 0.5) AS BIGINT) AS obs_gap_e6
      |  FROM docs),
      |perms AS (
      |  SELECT p, COUNT(*) AS n,
      |    CAST(SUM(($mix) % 2) AS BIGINT) AS n1,
      |    CAST(SUM(CASE WHEN ($mix) % 2 = 1 THEN n_chars END)
      |      AS BIGINT) AS s1,
      |    CAST(SUM(n_chars) AS BIGINT) AS st
      |  FROM docs, (SELECT unnest(range(1, 65)) AS p)
      |  GROUP BY p),
      |gaps AS (
      |  SELECT CAST(floor(abs(CAST(s1 AS DOUBLE)/CAST(n1 AS DOUBLE)
      |    - CAST(st - s1 AS DOUBLE)/CAST(n - n1 AS DOUBLE))
      |    * 1e6 + 0.5) AS BIGINT) AS gap_e6
      |  FROM perms WHERE n1 > 0 AND n1 < n)
      |SELECT o.obs_gap_e6, COUNT(*) AS n_perms,
      |  CAST(SUM(CASE WHEN g.gap_e6 >= o.obs_gap_e6 THEN 1 ELSE 0 END)
      |    AS BIGINT) AS n_ge,
      |  ((1 + CAST(SUM(CASE WHEN g.gap_e6 >= o.obs_gap_e6
      |      THEN 1 ELSE 0 END) AS BIGINT)) * 1000000)
      |    // (COUNT(*) + 1) AS p_value_ppm
      |FROM gaps g, obs o
      |GROUP BY o.obs_gap_e6""".stripMargin
  }

  /** Per-slice AUC — the fairness/robustness audit behind
    * [[aucGate]]'s single corpus number: the same tie-aware
    * Mann–Whitney rank statistic computed PER SOURCE, so a scorer
    * that discriminates well overall but fails on one slice is
    * visible (the "disaggregated evaluation" discipline, Barocas et
    * al.). Identical integer histogram machinery, with the
    * cumulative-negatives window partitioned by slice; slices
    * missing a class emit NULL AUC rather than a misleading number.
    *
    * Scale: one map-combinable (slice, score) histogram; windows
    * run over O(distinct scores) rows per slice. */
  def aucSlices(s: SparkSession, dir: String): DataFrame = {
    val hist = Tables.documents(s, dir)
      .select(col("source"), col("n_chars").as("score"),
        when(col("lang") === "en", 1L).otherwise(0L).as("pos"))
      .groupBy(col("source"), col("score"))
      .agg(sum(col("pos")).as("np"),
        sum(lit(1L) - col("pos")).as("nn"))
    val w = Window.partitionBy(col("source")).orderBy(col("score"))
      .rowsBetween(Window.unboundedPreceding, -1)
    hist
      .withColumn("below", coalesce(sum(col("nn")).over(w), lit(0L)))
      .groupBy(col("source"))
      .agg(sum(col("np")).as("n_pos"), sum(col("nn")).as("n_neg"),
        sum(lit(2L) * col("np") * col("below")
          + col("np") * col("nn")).as("u2"))
      .select(col("source"), col("n_pos"), col("n_neg"),
        when(col("n_pos") > 0 && col("n_neg") > 0,
          col("u2").cast(DoubleType) /
            (lit(2L) * col("n_pos") * col("n_neg")).cast(DoubleType))
          .as("auc"))
      .orderBy(col("source"))
  }

  val aucSlicesSql: String =
    """WITH hist AS (
      |  SELECT source, n_chars AS score,
      |    SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS np,
      |    SUM(CASE WHEN lang = 'en' THEN 0 ELSE 1 END) AS nn
      |  FROM documents GROUP BY source, n_chars),
      |cum AS (
      |  SELECT source, np, nn,
      |    COALESCE(SUM(nn) OVER (PARTITION BY source ORDER BY score
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
      |      AS below
      |  FROM hist)
      |SELECT source, CAST(SUM(np) AS BIGINT) AS n_pos,
      |  CAST(SUM(nn) AS BIGINT) AS n_neg,
      |  CASE WHEN SUM(np) > 0 AND SUM(nn) > 0 THEN
      |    CAST(SUM(2 * np * below + np * nn) AS DOUBLE)
      |      / CAST(2 * SUM(np) * SUM(nn) AS DOUBLE) END AS auc
      |FROM cum GROUP BY source
      |ORDER BY source""".stripMargin

  /** Exact-match span F1 — the NER/extraction-eval metric (CoNLL
    * scoring): predicted spans count only when (start, end) match a
    * gold span exactly. Gold spans are maximal runs of tokens longer
    * than 5 chars; the "system" extracts maximal runs of tokens
    * longer than 4 — a deterministic, realistically sloppier
    * extractor, so the gate exercises partial overlap, split and
    * spurious spans. Runs come from the gaps-islands identity
    * (pos − rank over qualifying tokens is constant within a run) —
    * per-doc windows; TP is one equi join on (doc, start, end);
    * P/R/F1 are exact ppm divisions.
    *
    * Scale: two windowed passes partitioned by doc + one equi join
    * on span identity — nothing quadratic, no per-pair overlap
    * scan. */
  def spanF1(s: SparkSession, dir: String): DataFrame = {
    def spans(minLen: Int): DataFrame = {
      val toks = Tables.documents(s, dir)
        .select(col("doc_id"),
          posexplode(split(col("text"), " ")).as(Seq("p", "w")))
        .filter(length(col("w")) > minLen)
      val w = Window.partitionBy(col("doc_id")).orderBy(col("p"))
      toks
        .withColumn("isl", col("p") - row_number().over(w))
        .groupBy(col("doc_id"), col("isl"))
        .agg(min(col("p")).as("start"), max(col("p")).as("e"))
        .select(col("doc_id"), col("start"), col("e"))
    }
    val gold = spans(5)
    val pred = spans(4)
    val tp = pred.join(gold, Seq("doc_id", "start", "e"), "left_semi")
      .agg(count(lit(1)).as("tp"))
    val np = pred.agg(count(lit(1)).as("n_pred"))
    val ng = gold.agg(count(lit(1)).as("n_gold"))
    tp.crossJoin(broadcast(np)).crossJoin(broadcast(ng))
      .select(col("tp"), col("n_pred"), col("n_gold"),
        expr("(tp * 1000000) div n_pred").as("precision_ppm"),
        expr("(tp * 1000000) div n_gold").as("recall_ppm"),
        expr("(2 * tp * 1000000) div (n_pred + n_gold)").as("f1_ppm"))
  }

  val spanF1Sql: String =
    """WITH toks AS (
      |  SELECT doc_id, i - 1 AS p,
      |    length(string_split(text, ' ')[i]) AS wl
      |  FROM (SELECT doc_id, text,
      |          unnest(range(1, len(string_split(text, ' ')) + 1))
      |            AS i
      |        FROM documents)),
      |gold AS (
      |  SELECT doc_id, MIN(p) AS start, MAX(p) AS e FROM (
      |    SELECT doc_id, p,
      |      p - row_number() OVER (PARTITION BY doc_id ORDER BY p)
      |        AS isl
      |    FROM toks WHERE wl > 5)
      |  GROUP BY doc_id, isl),
      |pred AS (
      |  SELECT doc_id, MIN(p) AS start, MAX(p) AS e FROM (
      |    SELECT doc_id, p,
      |      p - row_number() OVER (PARTITION BY doc_id ORDER BY p)
      |        AS isl
      |    FROM toks WHERE wl > 4)
      |  GROUP BY doc_id, isl),
      |agg AS (
      |  SELECT
      |    (SELECT COUNT(*) FROM pred JOIN gold
      |       USING (doc_id, start, e)) AS tp,
      |    (SELECT COUNT(*) FROM pred) AS n_pred,
      |    (SELECT COUNT(*) FROM gold) AS n_gold)
      |SELECT tp, n_pred, n_gold,
      |  (tp * 1000000) // n_pred AS precision_ppm,
      |  (tp * 1000000) // n_gold AS recall_ppm,
      |  (2 * tp * 1000000) // (n_pred + n_gold) AS f1_ppm
      |FROM agg""".stripMargin

  /** Preference-data consistency audit: the fraction of CYCLIC triads
    * (i≻j≻k≻i) in a pairwise-preference tournament — the first number
    * an RLHF data pipeline reads before fitting Bradley–Terry (a
    * transitive annotator set has ~0; heavy cycling means label noise
    * or genuinely non-transitive raters, and BT margins are then
    * fiction). Matches are a complete deterministic tournament over
    * the first 60 doc ids with winners from the multiplicative-hash
    * convention ((a·2654435761 + b·40503) mod 97 — integer arithmetic
    * both engines evaluate identically).
    *
    * Counting uses the tournament identity (Moon): cyclic triads =
    * C(n,3) − Σ_v C(outdeg(v), 2) — ONE groupBy over the match list
    * plus integer algebra, instead of the O(n³) triple join a naive
    * census would plan. Scale: the match list shuffles once on
    * winner; everything downstream is a scalar. All-BIGINT output. */
  def prefCycles(s: SparkSession, dir: String, n: Int = 60): DataFrame = {
    val ids = graft.Tables.documents(s, dir)
      .filter(col("doc_id") < n).select(col("doc_id").as("a"))
    val matches = ids.crossJoin(broadcast(ids.toDF("b")))
      .filter(col("a") < col("b"))
      .select(when(
        pmod(col("a") * lit(2654435761L) + col("b") * lit(40503L),
          lit(97)) < 49, col("a")).otherwise(col("b")).as("winner"))
    matches.groupBy(col("winner"))
      .agg(count(lit(1)).as("outdeg"))
      .agg(sum(col("outdeg")).as("n_matches"),
        sum(col("outdeg") * (col("outdeg") - 1)).as("trans2"))
      .select(
        lit(n.toLong).as("n_items"),
        col("n_matches"),
        lit(n.toLong * (n - 1) * (n - 2) / 6).as("n_triads"),
        (lit(n.toLong * (n - 1) * (n - 2) / 6) -
          expr("trans2 div 2")).as("n_cyclic"))
      .select(col("n_items"), col("n_matches"), col("n_triads"),
        col("n_cyclic"),
        expr("(n_cyclic * 1000000) div n_triads").as("cyclic_ppm"))
  }

  def prefCyclesSql(n: Int = 60): String =
    s"""WITH ids AS (
       |  SELECT doc_id AS a FROM documents WHERE doc_id < $n),
       |matches AS (
       |  SELECT CASE WHEN (a.a * 2654435761 + b.a * 40503) % 97 < 49
       |    THEN a.a ELSE b.a END AS winner
       |  FROM ids a JOIN ids b ON a.a < b.a),
       |deg AS (
       |  SELECT winner, COUNT(*) AS outdeg FROM matches GROUP BY winner),
       |agg AS (
       |  SELECT CAST(SUM(outdeg) AS BIGINT) AS n_matches,
       |    CAST(SUM(outdeg * (outdeg - 1)) AS BIGINT) AS trans2
       |  FROM deg)
       |SELECT CAST($n AS BIGINT) AS n_items, n_matches,
       |  CAST($n * ($n - 1) * ($n - 2) / 6 AS BIGINT) AS n_triads,
       |  CAST($n * ($n - 1) * ($n - 2) / 6 - trans2 / 2 AS BIGINT)
       |    AS n_cyclic,
       |  (CAST($n * ($n - 1) * ($n - 2) / 6 - trans2 / 2 AS BIGINT)
       |    * 1000000)
       |    // CAST($n * ($n - 1) * ($n - 2) / 6 AS BIGINT) AS cyclic_ppm
       |FROM agg""".stripMargin

  /** Online Elo ratings (Elo 1978) — the Chatbot-Arena-style
    * leaderboard fold — over the same behavioral duel source as
    * [[bradleyTerry]], sequenced as DAILY head-to-head tallies per
    * ordered type pair (day, ta < tb): n_a users favored a, n_b
    * favored b. Each tally is one rated game with fractional score
    * S_a = n_a/(n_a+n_b); expected score E_a = 1/(1+10^((r_b−r_a)/400)),
    * K = 32, start 1000. Unlike [[bradleyTerry]]'s order-free MM fit,
    * Elo is an ORDER-DEPENDENT recurrence — the arrival-sequence fold
    * a live leaderboard actually maintains — so the duel sequence is
    * pinned by (day, ta, tb) and every intermediate quantity (S, E,
    * the K·(S−E) delta, both updated ratings) is snapped to 6 dp with
    * sign-peeled float-multiply rounding, pairing with the oracle's
    * `round(x, 6)` (the [[graft.ops.TimeSeries.tsKalman]] discipline),
    * so the ~O(days·pairs)-step recurrence is bit-reproducible.
    *
    * Scale: corpus work is ONE map-combinable (user, day, type)
    * count + the within-(user, day) pair reduce — the duel frame is
    * O(days × type-pairs) METADATA by data shape (types are an enum),
    * independent of row count, and only that folds driver-side (the
    * tsHolt/tsKalman precedent). The oracle replays the fold as a
    * recursive CTE carrying the ratings as a k-slot list. */
  def eloRatings(s: SparkSession, dir: String): DataFrame = {
    val counts = Tables.events(s, dir)
      .groupBy(col("user_id"), to_date(col("ts")).as("day"),
        col("event_type"))
      .agg(count(lit(1)).as("cnt"))
    val a = counts.toDF("user_id", "day", "ta", "ca")
    val b = counts.toDF("user_id", "day", "tb", "cb")
    val daily = a.join(b, Seq("user_id", "day"))
      .filter(col("ta") < col("tb")).filter(col("ca") =!= col("cb"))
      .groupBy(col("day"), col("ta"), col("tb"))
      .agg(sum(when(col("ca") > col("cb"), 1L).otherwise(0L)).as("na"),
        sum(when(col("ca") < col("cb"), 1L).otherwise(0L)).as("nb"))
      .orderBy(col("day"), col("ta"), col("tb"))
      .collect() // O(days × type-pairs) metadata by premise
    def r6(x: Double): Double = {
      val y = x * 1e6
      (if (y < 0) -math.floor(-y + 0.5) else math.floor(y + 0.5)) / 1e6
    }
    val items = daily.flatMap(r => Seq(r.getString(1), r.getString(2)))
      .distinct.sorted
    val rating = scala.collection.mutable.Map(
      items.map(_ -> 1000.0).toSeq: _*)
    val nDuels = scala.collection.mutable.Map(
      items.map(_ -> 0L).toSeq: _*)
    daily.foreach { r =>
      val (ta, tb) = (r.getString(1), r.getString(2))
      val (na, nb) = (r.getLong(3), r.getLong(4))
      val (ra, rb) = (rating(ta), rating(tb))
      val ea = r6(1.0 / (1.0 + math.pow(10.0, (rb - ra) / 400.0)))
      val sa = r6(na.toDouble / (na + nb).toDouble)
      val delta = r6(32.0 * (sa - ea))
      rating(ta) = r6(ra + delta)
      rating(tb) = r6(rb - delta)
      nDuels(ta) += 1L
      nDuels(tb) += 1L
    }
    import s.implicits._
    items.toSeq.map { t =>
      val y = rating(t) * 1e6
      val e6 =
        (if (y < 0) -math.floor(-y + 0.5) else math.floor(y + 0.5)).toLong
      (t, nDuels(t), e6)
    }.toDF("item", "n_duels", "rating_e6").orderBy(col("item"))
  }

  val eloRatingsSql: String =
    """WITH RECURSIVE counts AS (
      |  SELECT user_id, CAST(ts AS DATE) AS day, event_type,
      |    COUNT(*) AS cnt
      |  FROM events GROUP BY 1, 2, 3),
      |daily AS (
      |  SELECT a.day, a.event_type AS ta, b.event_type AS tb,
      |    CAST(SUM(CASE WHEN a.cnt > b.cnt THEN 1 ELSE 0 END)
      |      AS BIGINT) AS na,
      |    CAST(SUM(CASE WHEN a.cnt < b.cnt THEN 1 ELSE 0 END)
      |      AS BIGINT) AS nb
      |  FROM counts a JOIN counts b
      |    ON a.user_id = b.user_id AND a.day = b.day
      |   AND a.event_type < b.event_type
      |  WHERE a.cnt <> b.cnt
      |  GROUP BY 1, 2, 3),
      |items AS (
      |  SELECT item, ROW_NUMBER() OVER (ORDER BY item) AS idx
      |  FROM (SELECT ta AS item FROM daily
      |        UNION SELECT tb FROM daily)),
      |seq AS (
      |  SELECT d.na, d.nb, ia.idx AS ia, ib.idx AS ib,
      |    ROW_NUMBER() OVER (ORDER BY d.day, d.ta, d.tb) AS t
      |  FROM daily d JOIN items ia ON ia.item = d.ta
      |               JOIN items ib ON ib.item = d.tb),
      |nseq AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_seq FROM seq),
      |elo(t, ratings) AS (
      |  SELECT CAST(0 AS BIGINT),
      |    (SELECT list_transform(range(1, CAST(COUNT(*) AS INTEGER) + 1),
      |       x -> CAST(1000.0 AS DOUBLE)) FROM items)
      |  UNION ALL
      |  SELECT e.t + 1,
      |    list_transform(e.ratings, (r, i) -> CASE
      |      WHEN i = s.ia THEN round(r + round(32.0 * (
      |          round(CAST(s.na AS DOUBLE) / CAST(s.na + s.nb AS DOUBLE), 6)
      |        - round(1.0 / (1.0 + pow(10.0,
      |            (e.ratings[s.ib] - e.ratings[s.ia]) / 400.0)), 6)), 6), 6)
      |      WHEN i = s.ib THEN round(r - round(32.0 * (
      |          round(CAST(s.na AS DOUBLE) / CAST(s.na + s.nb AS DOUBLE), 6)
      |        - round(1.0 / (1.0 + pow(10.0,
      |            (e.ratings[s.ib] - e.ratings[s.ia]) / 400.0)), 6)), 6), 6)
      |      ELSE r END)
      |  FROM elo e JOIN seq s ON s.t = e.t + 1),
      |fin AS (SELECT ratings FROM elo, nseq WHERE t = n_seq),
      |dcount AS (
      |  SELECT item, CAST(COUNT(*) AS BIGINT) AS n_duels FROM (
      |    SELECT ta AS item FROM daily
      |    UNION ALL SELECT tb FROM daily)
      |  GROUP BY item)
      |SELECT i.item, d.n_duels,
      |  CAST(CASE WHEN f.ratings[CAST(i.idx AS INTEGER)] < 0
      |    THEN -floor(-(f.ratings[CAST(i.idx AS INTEGER)]) * 1e6 + 0.5)
      |    ELSE floor(f.ratings[CAST(i.idx AS INTEGER)] * 1e6 + 0.5) END
      |    AS BIGINT) AS rating_e6
      |FROM items i JOIN dcount d ON d.item = i.item, fin f
      |ORDER BY i.item""".stripMargin

  /** Judge length-bias audit — the systematic check behind
    * length-controlled win rates (Dubois et al., AlpacaEval 2.0,
    * 2024): when a judge ranks paired responses, how often does the
    * LONGER one win, overall and by length-gap bucket? Near 500 000
    * ppm = length-neutral; a large bucket-monotone excess is the bias
    * signature. Pairs are within-source adjacent documents (the
    * [[rougePairs]] pairing), the judge is the deterministic
    * stopword-density score in exact integer ppm (the fluency proxy
    * the quality gates share — a real LLM judge's verdict column
    * slots into the same shape), and score ties or equal lengths
    * drop as no-decisions.
    *
    * Scale: one window per source (a single exchange on source) +
    * two map-combinable aggregates; output is O(buckets). All
    * figures are exact-integer ppm. */
  def lengthBias(s: SparkSession, dir: String): DataFrame = {
    val stopList = graft.functions.TextFunctions.EnStopwords
      .map(w => s"'$w'").mkString(", ")
    val scored = Tables.documents(s, dir)
      .select(col("source"), col("doc_id"),
        length(col("text")).cast(LongType).as("nc"),
        size(split(col("text"), " ")).cast(LongType).as("nw"),
        size(expr(s"filter(split(lower(text), ' '), " +
          s"x -> x IN ($stopList))")).cast(LongType).as("nstop"))
      .filter(col("nc") > 0)
      .withColumn("score", expr("(nstop * 1000000) div nw"))
    val w = Window.partitionBy(col("source")).orderBy(col("doc_id"))
    val pairs = scored
      .withColumn("nc2", lead(col("nc"), 1).over(w))
      .withColumn("score2", lead(col("score"), 1).over(w))
      .filter(col("nc2").isNotNull)
      .filter(col("score") =!= col("score2"))
      .filter(col("nc") =!= col("nc2"))
      .withColumn("lw", when((col("nc") > col("nc2")) ===
        (col("score") > col("score2")), 1L).otherwise(0L))
      .withColumn("dlen", abs(col("nc") - col("nc2")))
      .withColumn("bucket",
        when(col("dlen") <= 10, "d01_1_10")
          .when(col("dlen") <= 100, "d02_11_100")
          .when(col("dlen") <= 1000, "d03_101_1000")
          .otherwise("d04_1000plus"))
    // buckets PARTITION the pair set, so the ALL row folds out of the
    // O(buckets) rollup — the corpus is scanned exactly once
    val byBucket = pairs.groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_pairs"), sum(col("lw")).as("longer_wins"))
      .localCheckpoint()
    val overall = byBucket
      .agg(sum(col("n_pairs")).as("n_pairs"),
        sum(col("longer_wins")).as("longer_wins"))
      .select(lit("ALL").as("bucket"), col("n_pairs"),
        col("longer_wins"))
    byBucket.unionByName(overall)
      .withColumn("longer_win_ppm",
        expr("(longer_wins * 1000000) div n_pairs"))
      .orderBy(col("bucket"))
  }

  val lengthBiasSql: String = {
    val stopList = graft.functions.TextFunctions.EnStopwords
      .map(w => s"'$w'").mkString(", ")
    s"""WITH m AS (
      |  SELECT source, doc_id,
      |    CAST(length(text) AS BIGINT) AS nc,
      |    CAST(len(string_split(text, ' ')) AS BIGINT) AS nw,
      |    CAST(len(list_filter(string_split(lower(text), ' '),
      |      x -> x IN ($stopList))) AS BIGINT) AS nstop
      |  FROM documents),
      |s AS (
      |  SELECT source, doc_id, nc,
      |    (nstop * 1000000) // nw AS score
      |  FROM m WHERE nc > 0),
      |p AS (
      |  SELECT nc, score,
      |    lead(nc) OVER (PARTITION BY source ORDER BY doc_id) AS nc2,
      |    lead(score) OVER (PARTITION BY source ORDER BY doc_id)
      |      AS score2
      |  FROM s),
      |pairs AS (
      |  SELECT abs(nc - nc2) AS dlen,
      |    CASE WHEN (nc > nc2) = (score > score2)
      |      THEN 1 ELSE 0 END AS lw,
      |    CASE WHEN abs(nc - nc2) <= 10 THEN 'd01_1_10'
      |         WHEN abs(nc - nc2) <= 100 THEN 'd02_11_100'
      |         WHEN abs(nc - nc2) <= 1000 THEN 'd03_101_1000'
      |         ELSE 'd04_1000plus' END AS bucket
      |  FROM p
      |  WHERE nc2 IS NOT NULL AND score <> score2 AND nc <> nc2),
      |b AS (
      |  SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n_pairs,
      |    CAST(SUM(lw) AS BIGINT) AS longer_wins
      |  FROM pairs GROUP BY bucket
      |  UNION ALL
      |  SELECT 'ALL', CAST(COUNT(*) AS BIGINT),
      |    CAST(SUM(lw) AS BIGINT) FROM pairs)
      |SELECT bucket, n_pairs, longer_wins,
      |  (longer_wins * 1000000) // n_pairs AS longer_win_ppm
      |FROM b ORDER BY bucket""".stripMargin
  }

  /** 1PL IRT (Rasch 1960) item-difficulty fit — the benchmark
    * calibration behind modern eval-subset work (Polo et al.,
    * "tinyBenchmarks", ICML 2024: fit IRT to the response matrix,
    * keep the informative items): P(correct) = σ(θ_subject − b_item),
    * fit by two full-batch gradient steps from zeros. Subjects are
    * users, items are event types, and the response is engagement in
    * the corpus's final week (deterministic binarization of the same
    * behavioral matrix the duel gates rank). Step 1 is EXACT — at
    * θ = b = 0 every σ is 1/2 exactly (the [[graft.ops.Learn]]
    * no-libm trick), so θ₁/b₁ are one snapped division each; step
    * 2's σ terms are e6-snapped longs BEFORE the per-item sums (the
    * doremi exp discipline), so the emitted difficulties are fixed
    * double trees over exact integers.
    *
    * Scale: responses are one map-combinable (user, type) reduce;
    * the σ-term frame is |users|×|items| with the item vector
    * broadcast — the response-matrix shape IRT needs by definition;
    * output is O(items). */
  def irtRasch(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
    val maxd = ev.agg(max(to_date(col("ts"))).as("maxd"))
    // y(u, i) = 1 iff user u touched item i in the final week
    val resp = ev.crossJoin(broadcast(maxd))
      .filter(datediff(col("maxd"), to_date(col("ts"))) <= 6)
      .select(col("user_id"), col("event_type")).distinct()
      .localCheckpoint() // feeds user sums, item sums, and the grid
    val users = ev.select(col("user_id")).distinct()
      .localCheckpoint()
    val items = ev.select(col("event_type")).distinct()
      .localCheckpoint()
    val nU = users.agg(count(lit(1)).as("nu"))
    val nT = items.agg(count(lit(1)).as("nt"))
    val su = users
      .join(resp.groupBy(col("user_id")).agg(count(lit(1)).as("su")),
        Seq("user_id"), "left")
      .na.fill(0L, Seq("su"))
      .crossJoin(broadcast(nT))
      // θ₁ = (S_u − T/2)/T exactly (σ(0) = 1/2), e6-snapped
      .withColumn("theta1_e6", floor(
        (col("su") * 2 - col("nt")).cast(DoubleType)
          / (col("nt") * 2).cast(DoubleType) * 1e6 + 0.5)
        .cast(LongType))
      .select(col("user_id"), col("theta1_e6"))
      .localCheckpoint() // O(users); feeds the σ grid
    val si = items
      .join(resp.groupBy(col("event_type")).agg(count(lit(1)).as("si")),
        Seq("event_type"), "left")
      .na.fill(0L, Seq("si"))
      .crossJoin(broadcast(nU))
      .withColumn("b1_e6", floor(
        -(col("si") * 2 - col("nu")).cast(DoubleType)
          / (col("nu") * 2).cast(DoubleType) * 1e6 + 0.5)
        .cast(LongType))
      .localCheckpoint() // O(items)
    // step-2 σ terms over the users × items grid, e6-snapped longs
    val sig = su.crossJoin(broadcast(si.select(col("event_type"),
        col("b1_e6"))))
      .withColumn("t_e6", floor(lit(1e6)
        / (lit(1.0) + exp(-(col("theta1_e6") - col("b1_e6"))
          .cast(DoubleType) / 1e6)) + 0.5).cast(LongType))
      .groupBy(col("event_type"))
      .agg(sum(col("t_e6")).as("sum_sig_e6"))
    si.join(broadcast(sig), "event_type")
      .select(col("event_type").as("item"), col("nu").as("n_users"),
        col("si").as("n_correct"), col("b1_e6"),
        // b₂ = b₁ − (S_i − Σσ)/U, one fixed tree over exact longs
        floor(col("b1_e6").cast(DoubleType)
          - (col("si").cast(DoubleType)
            - col("sum_sig_e6").cast(DoubleType) / 1e6)
          / col("nu").cast(DoubleType) * 1e6 + 0.5)
          .cast(LongType).as("b2_e6"))
      .orderBy(col("item"))
  }

  val irtRaschSql: String =
    """WITH maxd AS (SELECT MAX(CAST(ts AS DATE)) AS maxd FROM events),
      |resp AS (
      |  SELECT DISTINCT user_id, event_type
      |  FROM events, maxd
      |  WHERE datediff('day', CAST(ts AS DATE), maxd) <= 6),
      |users AS (SELECT DISTINCT user_id FROM events),
      |items AS (SELECT DISTINCT event_type FROM events),
      |nu AS (SELECT CAST(COUNT(*) AS BIGINT) AS nu FROM users),
      |nt AS (SELECT CAST(COUNT(*) AS BIGINT) AS nt FROM items),
      |su AS (
      |  SELECT u.user_id,
      |    CAST(floor(CAST(COALESCE(r.su, 0) * 2 - nt.nt AS DOUBLE)
      |      / CAST(nt.nt * 2 AS DOUBLE) * 1e6 + 0.5) AS BIGINT)
      |      AS theta1_e6
      |  FROM users u
      |  LEFT JOIN (SELECT user_id, COUNT(*) AS su FROM resp
      |             GROUP BY user_id) r ON r.user_id = u.user_id
      |  CROSS JOIN nt),
      |si AS (
      |  SELECT i.event_type, nu.nu,
      |    CAST(COALESCE(r.si, 0) AS BIGINT) AS si,
      |    CAST(floor(-CAST(COALESCE(r.si, 0) * 2 - nu.nu AS DOUBLE)
      |      / CAST(nu.nu * 2 AS DOUBLE) * 1e6 + 0.5) AS BIGINT)
      |      AS b1_e6
      |  FROM items i
      |  LEFT JOIN (SELECT event_type, COUNT(*) AS si FROM resp
      |             GROUP BY event_type) r
      |    ON r.event_type = i.event_type
      |  CROSS JOIN nu),
      |sig AS (
      |  SELECT si.event_type,
      |    CAST(SUM(CAST(floor(1e6 / (1.0
      |      + exp(-CAST(su.theta1_e6 - si.b1_e6 AS DOUBLE) / 1e6))
      |      + 0.5) AS BIGINT)) AS BIGINT) AS sum_sig_e6
      |  FROM su CROSS JOIN si GROUP BY si.event_type)
      |SELECT si.event_type AS item, si.nu AS n_users,
      |  si.si AS n_correct, si.b1_e6,
      |  CAST(floor(CAST(si.b1_e6 AS DOUBLE)
      |    - (CAST(si.si AS DOUBLE) - CAST(sig.sum_sig_e6 AS DOUBLE)
      |      / 1e6)
      |    / CAST(si.nu AS DOUBLE) * 1e6 + 0.5) AS BIGINT) AS b2_e6
      |FROM si JOIN sig ON sig.event_type = si.event_type
      |ORDER BY item""".stripMargin

  /** Platt scaling (Platt, "Probabilistic Outputs for Support Vector
    * Machines", 1999) — the PARAMETRIC calibration map σ(A·s + B)
    * fitted to the same (score, label) source as [[aucGate]] and
    * [[isotonicGate]] (its non-parametric sibling): two full-batch
    * NLL gradient steps from (A, B) = (0, 0). Step 1 is EXACT — at
    * zero every σ is 1/2, so both gradients are signed integer sums
    * (Σ s·(1 − 2y) and N − 2P) over one divisor; step 2's per-row σ
    * terms snap to e6 longs BEFORE the sums (the irt/doremi
    * discipline), so the emitted coefficients are fixed double trees
    * over exact integers. Scores enter as s/1000 (doc lengths are
    * O(500), so the logit stays in σ's active range).
    *
    * Scale: two map-combinable passes over the corpus (one per
    * step), O(1) state — no histogram, no sort, nothing broadcast
    * but two scalar rows. */
  def plattScaling(s: SparkSession, dir: String): DataFrame = {
    val base = Tables.documents(s, dir)
      .select(col("n_chars").cast(LongType).as("sc"),
        when(col("lang") === "en", 1L).otherwise(0L).as("y"))
      .localCheckpoint() // two gradient passes over the same frame
    val g1 = base.agg(
        count(lit(1)).as("n"), sum(col("y")).as("p"),
        sum(col("sc") * (lit(1L) - lit(2L) * col("y"))).as("ga2"))
      // A₁ = −Σ s·(1−2y) / (2000·N), B₁ = −(N − 2P) / (2N), e6 ints
      .select(col("n"), col("p"),
        floor(-col("ga2").cast(DoubleType)
          / (col("n") * 2000L).cast(DoubleType) * 1e6 + 0.5)
          .cast(LongType).as("a1_e6"),
        floor(-(col("n") - lit(2L) * col("p")).cast(DoubleType)
          / (col("n") * 2L).cast(DoubleType) * 1e6 + 0.5)
          .cast(LongType).as("b1_e6"))
    val g2 = base.crossJoin(broadcast(g1))
      .withColumn("t_e6", floor(lit(1e6) / (lit(1.0)
        + exp(-(col("a1_e6").cast(DoubleType) / 1e6
          * col("sc").cast(DoubleType) / 1000.0
          + col("b1_e6").cast(DoubleType) / 1e6))) + 0.5)
        .cast(LongType))
      .withColumn("u_e6", col("t_e6") - lit(1000000L) * col("y"))
      .agg(first(col("n")).as("n"), first(col("p")).as("p"),
        first(col("a1_e6")).as("a1_e6"),
        first(col("b1_e6")).as("b1_e6"),
        sum(floor(col("sc").cast(DoubleType)
          * col("u_e6").cast(DoubleType) / 1000.0 + 0.5)
          .cast(LongType)).as("sa_e6"),
        sum(col("u_e6")).as("sb_e6"))
    g2.select(col("n"), col("p").as("n_pos"),
        col("a1_e6"), col("b1_e6"),
        floor(col("a1_e6").cast(DoubleType)
          - col("sa_e6").cast(DoubleType) / col("n").cast(DoubleType)
          + 0.5).cast(LongType).as("a2_e6"),
        floor(col("b1_e6").cast(DoubleType)
          - col("sb_e6").cast(DoubleType) / col("n").cast(DoubleType)
          + 0.5).cast(LongType).as("b2_e6"))
  }

  val plattScalingSql: String =
    """WITH base AS (
      |  SELECT CAST(n_chars AS BIGINT) AS sc,
      |    CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
      |  FROM documents),
      |g1 AS (
      |  SELECT CAST(COUNT(*) AS BIGINT) AS n,
      |    CAST(SUM(y) AS BIGINT) AS p,
      |    CAST(floor(-CAST(SUM(sc * (1 - 2 * y)) AS DOUBLE)
      |      / CAST(COUNT(*) * 2000 AS DOUBLE) * 1e6 + 0.5) AS BIGINT)
      |      AS a1_e6,
      |    CAST(floor(-CAST(COUNT(*) - 2 * SUM(y) AS DOUBLE)
      |      / CAST(COUNT(*) * 2 AS DOUBLE) * 1e6 + 0.5) AS BIGINT)
      |      AS b1_e6
      |  FROM base),
      |g2 AS (
      |  SELECT g1.n, g1.p, g1.a1_e6, g1.b1_e6,
      |    CAST(SUM(CAST(floor(CAST(sc AS DOUBLE)
      |      * CAST(CAST(floor(1e6 / (1.0
      |        + exp(-(CAST(a1_e6 AS DOUBLE) / 1e6
      |          * CAST(sc AS DOUBLE) / 1000.0
      |          + CAST(b1_e6 AS DOUBLE) / 1e6))) + 0.5) AS BIGINT)
      |        - 1000000 * y AS DOUBLE) / 1000.0 + 0.5) AS BIGINT))
      |      AS BIGINT) AS sa_e6,
      |    CAST(SUM(CAST(floor(1e6 / (1.0
      |      + exp(-(CAST(a1_e6 AS DOUBLE) / 1e6
      |        * CAST(sc AS DOUBLE) / 1000.0
      |        + CAST(b1_e6 AS DOUBLE) / 1e6))) + 0.5) AS BIGINT)
      |      - 1000000 * y) AS BIGINT) AS sb_e6
      |  FROM base, g1
      |  GROUP BY g1.n, g1.p, g1.a1_e6, g1.b1_e6)
      |SELECT n, p AS n_pos, a1_e6, b1_e6,
      |  CAST(floor(CAST(a1_e6 AS DOUBLE)
      |    - CAST(sa_e6 AS DOUBLE) / CAST(n AS DOUBLE) + 0.5)
      |    AS BIGINT) AS a2_e6,
      |  CAST(floor(CAST(b1_e6 AS DOUBLE)
      |    - CAST(sb_e6 AS DOUBLE) / CAST(n AS DOUBLE) + 0.5)
      |    AS BIGINT) AS b2_e6
      |FROM g2""".stripMargin

  /** Length-CONTROLLED win rate (Dubois et al., "Length-Controlled
    * AlpacaEval", 2024) — the published FIX for the bias
    * [[lengthBias]] measures: regress the pairwise verdict on the
    * length difference, then report the win rate AT ZERO length
    * difference, i.e. what the judge says when length can't speak.
    * Model: P(first wins) = σ(A·Δlen/1000 + B) over the same
    * oriented pair frame as [[lengthBias]]; fit = two full-batch NLL
    * GD steps from (0, 0) (the [[plattScaling]] recurrence verbatim —
    * step 1 exact via σ(0) = 1/2, step-2 σ terms e6-snapped);
    * LC win rate = σ(B₂), snapped ppm. A₂'s sign IS the bias
    * direction, stated alongside.
    *
    * Scale: one window per source builds the pairs; both gradient
    * passes are map-combinable; O(1) state. */
  def lcWinRate(s: SparkSession, dir: String): DataFrame = {
    val stopList = graft.functions.TextFunctions.EnStopwords
      .map(w => s"'$w'").mkString(", ")
    val scored = Tables.documents(s, dir)
      .select(col("source"), col("doc_id"),
        length(col("text")).cast(LongType).as("nc"),
        size(split(col("text"), " ")).cast(LongType).as("nw"),
        size(expr(s"filter(split(lower(text), ' '), " +
          s"x -> x IN ($stopList))")).cast(LongType).as("nstop"))
      .filter(col("nc") > 0)
      .withColumn("score", expr("(nstop * 1000000) div nw"))
    val w = Window.partitionBy(col("source")).orderBy(col("doc_id"))
    val pairs = scored
      .withColumn("nc2", lead(col("nc"), 1).over(w))
      .withColumn("score2", lead(col("score"), 1).over(w))
      .filter(col("nc2").isNotNull)
      .filter(col("score") =!= col("score2"))
      .filter(col("nc") =!= col("nc2"))
      .select((col("nc") - col("nc2")).as("dx"),
        when(col("score") > col("score2"), 1L).otherwise(0L).as("y"))
      .localCheckpoint() // two gradient passes over the same frame
    val g1 = pairs.agg(
        count(lit(1)).as("n"), sum(col("y")).as("p"),
        sum(col("dx") * (lit(1L) - lit(2L) * col("y"))).as("ga2"))
      .select(col("n"), col("p"),
        floor(-col("ga2").cast(DoubleType)
          / (col("n") * 2000L).cast(DoubleType) * 1e6 + 0.5)
          .cast(LongType).as("a1_e6"),
        floor(-(col("n") - lit(2L) * col("p")).cast(DoubleType)
          / (col("n") * 2L).cast(DoubleType) * 1e6 + 0.5)
          .cast(LongType).as("b1_e6"))
    val g2 = pairs.crossJoin(broadcast(g1))
      .withColumn("t_e6", floor(lit(1e6) / (lit(1.0)
        + exp(-(col("a1_e6").cast(DoubleType) / 1e6
          * col("dx").cast(DoubleType) / 1000.0
          + col("b1_e6").cast(DoubleType) / 1e6))) + 0.5)
        .cast(LongType))
      .withColumn("u_e6", col("t_e6") - lit(1000000L) * col("y"))
      .agg(first(col("n")).as("n"), first(col("p")).as("p"),
        first(col("a1_e6")).as("a1_e6"),
        first(col("b1_e6")).as("b1_e6"),
        sum(floor(col("dx").cast(DoubleType)
          * col("u_e6").cast(DoubleType) / 1000.0 + 0.5)
          .cast(LongType)).as("sa_e6"),
        sum(col("u_e6")).as("sb_e6"))
    g2.select(col("n").as("n_pairs"),
        expr("(p * 1000000) div n").as("raw_win_ppm"),
        floor(col("a1_e6").cast(DoubleType)
          - col("sa_e6").cast(DoubleType) / col("n").cast(DoubleType)
          + 0.5).cast(LongType).as("a2_e6"),
        floor(col("b1_e6").cast(DoubleType)
          - col("sb_e6").cast(DoubleType) / col("n").cast(DoubleType)
          + 0.5).cast(LongType).as("b2_e6"))
      .withColumn("lc_win_ppm", floor(lit(1e6) / (lit(1.0)
        + exp(-col("b2_e6").cast(DoubleType) / 1e6)) + 0.5)
        .cast(LongType))
  }

  val lcWinRateSql: String = {
    val stopList = graft.functions.TextFunctions.EnStopwords
      .map(w => s"'$w'").mkString(", ")
    s"""WITH m AS (
      |  SELECT source, doc_id,
      |    CAST(length(text) AS BIGINT) AS nc,
      |    CAST(len(string_split(text, ' ')) AS BIGINT) AS nw,
      |    CAST(len(list_filter(string_split(lower(text), ' '),
      |      x -> x IN ($stopList))) AS BIGINT) AS nstop
      |  FROM documents),
      |s AS (
      |  SELECT source, doc_id, nc,
      |    (nstop * 1000000) // nw AS score
      |  FROM m WHERE nc > 0),
      |pp AS (
      |  SELECT nc, score,
      |    lead(nc) OVER (PARTITION BY source ORDER BY doc_id) AS nc2,
      |    lead(score) OVER (PARTITION BY source ORDER BY doc_id)
      |      AS score2
      |  FROM s),
      |pairs AS (
      |  SELECT nc - nc2 AS dx,
      |    CASE WHEN score > score2 THEN 1 ELSE 0 END AS y
      |  FROM pp
      |  WHERE nc2 IS NOT NULL AND score <> score2 AND nc <> nc2),
      |g1 AS (
      |  SELECT CAST(COUNT(*) AS BIGINT) AS n,
      |    CAST(SUM(y) AS BIGINT) AS p,
      |    CAST(floor(-CAST(SUM(dx * (1 - 2 * y)) AS DOUBLE)
      |      / CAST(COUNT(*) * 2000 AS DOUBLE) * 1e6 + 0.5) AS BIGINT)
      |      AS a1_e6,
      |    CAST(floor(-CAST(COUNT(*) - 2 * SUM(y) AS DOUBLE)
      |      / CAST(COUNT(*) * 2 AS DOUBLE) * 1e6 + 0.5) AS BIGINT)
      |      AS b1_e6
      |  FROM pairs),
      |g2 AS (
      |  SELECT g1.n, g1.p, g1.a1_e6, g1.b1_e6,
      |    CAST(SUM(CAST(floor(CAST(dx AS DOUBLE)
      |      * CAST(CAST(floor(1e6 / (1.0
      |        + exp(-(CAST(a1_e6 AS DOUBLE) / 1e6
      |          * CAST(dx AS DOUBLE) / 1000.0
      |          + CAST(b1_e6 AS DOUBLE) / 1e6))) + 0.5) AS BIGINT)
      |        - 1000000 * y AS DOUBLE) / 1000.0 + 0.5) AS BIGINT))
      |      AS BIGINT) AS sa_e6,
      |    CAST(SUM(CAST(floor(1e6 / (1.0
      |      + exp(-(CAST(a1_e6 AS DOUBLE) / 1e6
      |        * CAST(dx AS DOUBLE) / 1000.0
      |        + CAST(b1_e6 AS DOUBLE) / 1e6))) + 0.5) AS BIGINT)
      |      - 1000000 * y) AS BIGINT) AS sb_e6
      |  FROM pairs, g1
      |  GROUP BY g1.n, g1.p, g1.a1_e6, g1.b1_e6)
      |SELECT n AS n_pairs, (p * 1000000) // n AS raw_win_ppm,
      |  CAST(floor(CAST(a1_e6 AS DOUBLE)
      |    - CAST(sa_e6 AS DOUBLE) / CAST(n AS DOUBLE) + 0.5)
      |    AS BIGINT) AS a2_e6,
      |  CAST(floor(CAST(b1_e6 AS DOUBLE)
      |    - CAST(sb_e6 AS DOUBLE) / CAST(n AS DOUBLE) + 0.5)
      |    AS BIGINT) AS b2_e6,
      |  CAST(floor(1e6 / (1.0
      |    + exp(-CAST(CAST(floor(CAST(b1_e6 AS DOUBLE)
      |      - CAST(sb_e6 AS DOUBLE) / CAST(n AS DOUBLE) + 0.5)
      |      AS BIGINT) AS DOUBLE) / 1e6)) + 0.5) AS BIGINT)
      |    AS lc_win_ppm
      |FROM g2""".stripMargin
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "eval_elo" -> (eloRatings _),
    "eval_irt_rasch" -> (irtRasch _),
    "eval_lc_winrate" -> (lcWinRate _),
    "eval_platt" -> (plattScaling _),
    "eval_length_bias" -> (lengthBias _),
    "eval_pref_cycles" -> ((s: SparkSession, d: String) =>
      prefCycles(s, d)),
    "eval_wilson_ci" -> (wilsonWinCi _),
    "eval_span_f1" -> (spanF1 _),
    "eval_auc_slices" -> (aucSlices _),
    "eval_pass_at_k" -> (passAtK _),
    "eval_perm_test" -> (permTest _),
    "eval_brier_decomp" -> (brierDecomposition _),
    "eval_bradley_terry" -> (bradleyTerry _),
    "eval_cliffs_delta" -> (cliffsDelta _),
    "eval_map" -> (mapGate _),
    "eval_bleu_pairs" -> (bleuPairs _),
    "eval_krippendorff" -> (krippendorffAlpha _),
    "eval_rouge_pairs" -> (rougePairs _),
    "eval_fleiss_kappa" -> (fleissKappa _),
    "eval_macro_f1" -> (macroF1 _),
    "eval_isotonic" -> (isotonicGate _),
    "eval_wilcoxon" -> (wilcoxonGate _),
    "eval_kendall" -> (kendallGate _),
    "eval_spearman" -> (spearmanGate _),
    "eval_mcc" -> (mccGate _),
    "eval_gains_table" -> (gainsTable _),
    "eval_youden" -> (youdenGate _),
    "eval_regression" -> (regressionReport _),
    "eval_ece" -> (eceGate _),
    "eval_f1_report" -> (f1Report _),
    "eval_mcnemar" -> (mcnemar _),
    "eval_bootstrap_ci" -> ((s, d) => bootstrapCi(s, d)),
    "eval_ndcg" -> (ndcgGate _),
    "eval_auc" -> (aucGate _),
    "eval_pr_curve" -> (prCurve _),
    "eval_cohens_kappa" -> (cohensKappa _),
    "eval_brier" -> (brierScore _),
    "eval_calibration" -> (calibrationGate _))

  def oracle: Map[String, String] = Map(
    "eval_elo" -> eloRatingsSql,
    "eval_irt_rasch" -> irtRaschSql,
    "eval_lc_winrate" -> lcWinRateSql,
    "eval_platt" -> plattScalingSql,
    "eval_length_bias" -> lengthBiasSql,
    "eval_pref_cycles" -> prefCyclesSql(),
    "eval_wilson_ci" -> wilsonWinCiSql,
    "eval_span_f1" -> spanF1Sql,
    "eval_auc_slices" -> aucSlicesSql,
    "eval_pass_at_k" -> passAtKSql,
    "eval_perm_test" -> permTestSql,
    "eval_brier_decomp" -> brierDecompositionSql,
    "eval_bradley_terry" -> bradleyTerrySql,
    "eval_cliffs_delta" -> cliffsDeltaSql,
    "eval_map" -> mapSql,
    "eval_bleu_pairs" -> bleuPairsSql,
    "eval_krippendorff" -> krippendorffAlphaSql,
    "eval_rouge_pairs" -> rougePairsSql,
    "eval_fleiss_kappa" -> fleissKappaSql,
    "eval_macro_f1" -> macroF1Sql,
    "eval_isotonic" -> isotonicSql,
    "eval_wilcoxon" -> wilcoxonSql,
    "eval_kendall" -> kendallSql,
    "eval_spearman" -> spearmanSql,
    "eval_mcc" -> mccSql,
    "eval_gains_table" -> gainsTableSql,
    "eval_youden" -> youdenSql,
    "eval_regression" -> regressionReportSql,
    "eval_ece" -> eceSql,
    "eval_f1_report" -> f1ReportSql,
    "eval_mcnemar" -> mcnemarSql,
    "eval_ndcg" -> ndcgSql,
    "eval_auc" -> aucSql,
    "eval_pr_curve" -> prCurveSql,
    "eval_cohens_kappa" -> cohensKappaSql,
    "eval_brier" -> brierScoreSql,
    "eval_calibration" -> calibrationSql,
    "eval_bootstrap_ci" -> bootstrapCiSql)
}
