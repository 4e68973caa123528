package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.Tables

/** Entity resolution / record linkage: match a "dirty" registry
  * against a clean one WITHOUT the quadratic all-pairs comparison,
  * via multi-pass key-omission blocking (the classic record-linkage
  * blocking discipline; the omission construction is the same idea as
  * spelling-correction deletion neighborhoods): each pass's blocking
  * key is the record with one character segment cut out, the passes'
  * omitted segments cover every position an edit may touch, so two
  * records within the edit budget MUST collide in at least one pass —
  * blocking is exact (zero false negatives), not heuristic.
  * Expensive edit-distance scoring then runs only inside blocks.
  *
  * Scale shape: each record emits one (pass, key) row per pass — a
  * linear projection; candidates come from equi hash joins on the
  * key, so the shuffle carries (id, name, key) and the quadratic term
  * is bounded by Σ block² over keys that retain most of the record's
  * entropy. The dirty side never cross-joins the clean side.
  */
object Linkage {

  /** Candidate pairs from key-omission blocking, scored with
    * Levenshtein, kept when distance ≤ `maxDist`. `omit` lists the
    * 1-based (start, length) segments — one blocking pass per entry,
    * each pass keying on the name with that segment removed. Exact
    * for any pair of equal-length records whose differing positions
    * all fall inside a single omitted segment. */
  private def passKeys(df: DataFrame, omit: Seq[(Int, Int)]): DataFrame = {
    val ks: Seq[Column] = omit.zipWithIndex.map { case ((start, len), i) =>
      struct(lit(i).as("pass"),
        concat(expr(s"substring(name, 1, ${start - 1})"),
               expr(s"substring(name, ${start + len}, 1000000)")).as("bk"))
    }
    df.select(col("id"), col("name"), explode(array(ks: _*)).as("b"))
      .select(col("id"), col("name"),
        col("b.pass").as("pass"), col("b.bk").as("bk"))
  }

  def blockedLink(dirty: DataFrame, clean: DataFrame,
      omit: Seq[(Int, Int)], maxDist: Int): DataFrame = {
    val cand = passKeys(dirty, omit).toDF("did", "dname", "pass", "bk")
      .join(passKeys(clean, omit).toDF("cid", "cname", "pass", "bk"),
        Seq("pass", "bk"))
      .select(col("did"), col("dname"), col("cid"), col("cname"))
      .distinct()
    cand
      .withColumn("lev",
        levenshtein(col("dname"), col("cname")).cast(LongType))
      .filter(col("lev") <= maxDist)
      .select(col("did").as("dirty_id"), col("cid").as("clean_id"),
        col("lev"))
      .orderBy(col("dirty_id"), col("clean_id"))
  }

  /** Bounded clean registry: customers 0..399 (18-char names —
    * `Customer#` + 9 digits — constant through position 14 at this
    * key range, so every ≤1-edit pair differs only in the last four
    * characters). */
  private def cleanReg(s: SparkSession, dir: String): DataFrame =
    Tables.customer(s, dir).filter(col("c_custkey") < 400)
      .select(col("c_custkey").as("id"), col("c_name").as("name"))

  /** Deterministically dirtied copy: the digit at 1-based position
    * 15 + (id mod 4) is bumped (d+1 mod 10) — exactly one
    * substitution, always within the last four characters, so the
    * two omission passes below (chars 15-16 / chars 17-18) provably
    * cover every mutation. Same arithmetic in the oracle SQL. */
  private def dirtyReg(s: SparkSession, dir: String): DataFrame =
    cleanReg(s, dir).select(
      (col("id") + 100000L).as("id"),
      concat(
        expr("substring(name, 1, 14 + (id % 4))"),
        expr("cast((cast(substring(name, 15 + (id % 4), 1) as int) + 1) % 10" +
          " as string)"),
        expr("substring(name, 16 + (id % 4), 1000000)")).as("name"))

  /** Gate: link the dirtied registry back to the clean one. The
    * oracle is the brute-force cross join — blocking exactness means
    * the outputs are identical, and every dirty row must recover its
    * source at distance 1. */
  def linkGate(s: SparkSession, dir: String): DataFrame =
    blockedLink(dirtyReg(s, dir), cleanReg(s, dir),
      omit = Seq((15, 2), (17, 2)), maxDist = 1)

  val linkSql: String =
    """WITH clean AS (
      |  SELECT c_custkey AS id, c_name AS name
      |  FROM customer WHERE c_custkey < 400),
      |dirty AS (
      |  SELECT c.id + 100000 AS id,
      |    substr(c.name, 1, 14 + (c.id % 4))
      |      || CAST((CAST(substr(c.name, 15 + (c.id % 4), 1) AS INTEGER) + 1)
      |              % 10 AS VARCHAR)
      |      || substr(c.name, 16 + (c.id % 4)) AS name
      |  FROM clean c)
      |SELECT d.id AS dirty_id, c.id AS clean_id,
      |  CAST(levenshtein(d.name, c.name) AS BIGINT) AS lev
      |FROM dirty d, clean c
      |WHERE levenshtein(d.name, c.name) <= 1
      |ORDER BY dirty_id, clean_id""".stripMargin

  /** Blocking-quality metrics — the two numbers that justify a
    * blocking scheme before anyone trusts its links: REDUCTION RATIO
    * (how much of the n_dirty×n_clean comparison space the blocks
    * eliminate) and PAIRS COMPLETENESS (what fraction of true
    * matches survive blocking — here every dirty id d matches clean
    * d−100000 by construction, so the truth set is exact). Both are
    * non-negative integer ppm divisions over exact counts; this gate
    * measures the SAME pass-key scheme [[linkGate]] executes, so a
    * regression in the omission passes shows up here as lost
    * completeness rather than silently as missing links.
    *
    * Scale: the candidate count is the blocking equi-join itself
    * (never the cross join); everything else is three scalar
    * aggregates. */
  def blockingMetrics(s: SparkSession, dir: String): DataFrame = {
    val omit = Seq((15, 2), (17, 2))
    val dirty = dirtyReg(s, dir)
    val clean = cleanReg(s, dir)
    val cand = passKeys(dirty, omit).toDF("did", "dname", "pass", "bk")
      .join(passKeys(clean, omit).toDF("cid", "cname", "pass", "bk"),
        Seq("pass", "bk"))
      .select(col("did"), col("cid")).distinct()
    val m = cand.agg(count(lit(1)).as("n_cand"),
      sum(when(col("did") - 100000L === col("cid"), 1L).otherwise(0L))
        .as("n_true"))
    dirty.agg(count(lit(1)).as("n_dirty"))
      .crossJoin(clean.agg(count(lit(1)).as("n_clean")))
      .crossJoin(m)
      .selectExpr("n_dirty", "n_clean", "n_cand", "n_true",
        "(n_dirty * n_clean - n_cand) * 1000000L" +
          " div (n_dirty * n_clean) AS reduction_ppm",
        "n_true * 1000000L div n_dirty AS completeness_ppm")
  }

  val blockingMetricsSql: String =
    """WITH clean AS (
      |  SELECT c_custkey AS id, c_name AS name
      |  FROM customer WHERE c_custkey < 400),
      |dirty AS (
      |  SELECT c.id + 100000 AS id,
      |    substr(c.name, 1, 14 + (c.id % 4))
      |      || CAST((CAST(substr(c.name, 15 + (c.id % 4), 1) AS INTEGER) + 1)
      |              % 10 AS VARCHAR)
      |      || substr(c.name, 16 + (c.id % 4)) AS name
      |  FROM clean c),
      |dk AS (
      |  SELECT id AS did, 0 AS pass,
      |    substr(name, 1, 14) || substr(name, 17) AS bk FROM dirty
      |  UNION ALL
      |  SELECT id, 1, substr(name, 1, 16) || substr(name, 19)
      |  FROM dirty),
      |ck AS (
      |  SELECT id AS cid, 0 AS pass,
      |    substr(name, 1, 14) || substr(name, 17) AS bk FROM clean
      |  UNION ALL
      |  SELECT id, 1, substr(name, 1, 16) || substr(name, 19)
      |  FROM clean),
      |cand AS (
      |  SELECT DISTINCT d.did, c.cid
      |  FROM dk d JOIN ck c ON c.pass = d.pass AND c.bk = d.bk),
      |m AS (
      |  SELECT COUNT(*) AS n_cand,
      |    CAST(SUM(CASE WHEN did - 100000 = cid THEN 1 ELSE 0 END)
      |      AS BIGINT) AS n_true
      |  FROM cand),
      |nd AS (SELECT COUNT(*) AS n_dirty FROM dirty),
      |nc AS (SELECT COUNT(*) AS n_clean FROM clean)
      |SELECT n_dirty, n_clean, n_cand, n_true,
      |  CAST((n_dirty * n_clean - n_cand) * 1000000
      |    // (n_dirty * n_clean) AS BIGINT) AS reduction_ppm,
      |  CAST(n_true * 1000000 // n_dirty AS BIGINT) AS completeness_ppm
      |FROM nd CROSS JOIN nc CROSS JOIN m""".stripMargin

  /** Golden-record survivorship — the step AFTER linkage in an MDM
    * pipeline: duplicate/update records for one entity collapse to a
    * single best record, each field independently surviving from the
    * LATEST generation where it is non-null.
    *
    * The update log is derived deterministically from `customer`:
    * gen 1 is the full base record; gen 2 re-states only the market
    * segment for `custkey % 3 = 0` (other fields null); gen 3
    * re-states only the balance (+100) for `custkey % 5 = 0`. The
    * golden record must therefore take gen-3 balance where it
    * exists, gen-2 segment where it exists, gen-1 otherwise — per
    * FIELD, not per record.
    *
    * Scale: survivorship is ONE map-side-combinable aggregate —
    * `max_by(field, gen) FILTER (WHERE field IS NOT NULL)` (FILTER
    * rather than a NULL "by" key, because null-key skipping in
    * DuckDB's `arg_max` changed across releases), so there's no
    * window, no distinct, no self-join; a
    * 100 TB update log folds to one record per entity in a single
    * shuffle on the entity key.
    *
    * The balance survives as integer CENTS (BIGINT), never DECIMAL:
    * routing a DECIMAL through `arg_max` exposed cross-release
    * decimal canonicalization differences in the oracle engine (the
    * gate hash-failed two rounds with value-identical rows), so the
    * final projection is version-insensitive by construction —
    * BIGINT/VARCHAR only. `DECIMAL(12,2) * 100 → BIGINT` is exact. */
  def goldenRecord(s: SparkSession, dir: String): DataFrame = {
    val base = Tables.customer(s, dir)
    val cents = (col("c_acctbal")
      .cast(org.apache.spark.sql.types.DecimalType(12, 2)) * lit(100))
      .cast(LongType)
    val g1 = base.select(col("c_custkey").as("id"), lit(1L).as("gen"),
      col("c_name").as("name"),
      cents.as("acctbal_cents"),
      col("c_mktsegment").as("segment"))
    val g2 = base.filter(col("c_custkey") % 3 === 0)
      .select(col("c_custkey").as("id"), lit(2L).as("gen"),
        lit(null).cast("string").as("name"),
        lit(null).cast("bigint").as("acctbal_cents"),
        concat(lit("UPD-"), col("c_mktsegment")).as("segment"))
    val g3 = base.filter(col("c_custkey") % 5 === 0)
      .select(col("c_custkey").as("id"), lit(3L).as("gen"),
        lit(null).cast("string").as("name"),
        (cents + lit(10000L)).as("acctbal_cents"),
        lit(null).cast("string").as("segment"))
    g1.unionByName(g2).unionByName(g3)
      .groupBy(col("id"))
      .agg(
        count(lit(1)).as("n_versions"),
        // FILTER, not a NULL-"by" key: DuckDB's arg_max null-key
        // skipping shifted across releases, so both engines filter
        // the null rows out of the aggregate's input explicitly.
        expr("max_by(name, gen) FILTER (WHERE name IS NOT NULL)")
          .as("name"),
        expr("max_by(acctbal_cents, gen)" +
            " FILTER (WHERE acctbal_cents IS NOT NULL)")
          .as("acctbal_cents"),
        expr("max_by(segment, gen) FILTER (WHERE segment IS NOT NULL)")
          .as("segment"))
      .orderBy(col("id"))
  }

  val goldenRecordSql: String =
    """WITH updates AS (
      |  SELECT c_custkey AS id, 1 AS gen, c_name AS name,
      |    CAST(CAST(c_acctbal AS DECIMAL(12,2)) * 100 AS BIGINT)
      |      AS acctbal_cents,
      |    c_mktsegment AS segment
      |  FROM customer
      |  UNION ALL
      |  SELECT c_custkey, 2, NULL,
      |    CAST(NULL AS BIGINT), 'UPD-' || c_mktsegment
      |  FROM customer WHERE c_custkey % 3 = 0
      |  UNION ALL
      |  SELECT c_custkey, 3, NULL,
      |    CAST(CAST(c_acctbal AS DECIMAL(12,2)) * 100 AS BIGINT)
      |      + 10000, NULL
      |  FROM customer WHERE c_custkey % 5 = 0)
      |SELECT id, COUNT(*) AS n_versions,
      |  arg_max(name, gen) FILTER (WHERE name IS NOT NULL) AS name,
      |  arg_max(acctbal_cents, gen)
      |    FILTER (WHERE acctbal_cents IS NOT NULL) AS acctbal_cents,
      |  arg_max(segment, gen) FILTER (WHERE segment IS NOT NULL)
      |    AS segment
      |FROM updates GROUP BY id ORDER BY id""".stripMargin

  // Fellegi–Sunter (JASA 1969) agreement/disagreement weights as
  // integer milli-bits: w_agree = 1000·log2(m/u), w_disagree =
  // 1000·log2((1−m)/(1−u)). Fixed published-style m/u priors; the
  // SAME Scala constants are interpolated into the oracle text, so
  // both engines score with identical literals.
  private def milliBits(num: Double, den: Double): Long =
    math.round(1000.0 * math.log(num / den) / math.log(2.0))
  private val wNameA = milliBits(0.95, 0.01)   // close-name agree
  private val wNameD = milliBits(0.05, 0.99)
  private val wNatA  = milliBits(0.95, 0.04)   // nation agree
  private val wNatD  = milliBits(0.05, 0.96)
  private val wSegA  = milliBits(0.85, 0.20)   // segment agree
  private val wSegD  = milliBits(0.15, 0.80)

  /** Fellegi–Sunter probabilistic linkage — the decision layer on
    * top of [[blockedLink]]'s candidate generation: each blocked
    * pair is scored by summed per-field log-likelihood weights
    * (agree → log2(m/u) > 0, disagree → log2((1−m)/(1−u)) < 0) and
    * classified `match` / `possible` / `non_match` by thresholds.
    * Fields: close name agreement (levenshtein ≤ 1 — the dirtied
    * digit must not kill the name evidence), nation key, market
    * segment (deterministically mutated for id%7=0 so real
    * disagreements exist among true pairs).
    *
    * Scale shape: candidates come from the exact key-omission
    * blocking equi-joins — never a cross join; scoring is a pure
    * integer projection over the candidate pairs; the milli-bit
    * weights keep the sum hash-exact across engines. The oracle
    * re-derives the identical candidate set declaratively (equality
    * after either omitted segment) and replays the same literals. */
  def fellegiSunter(s: SparkSession, dir: String): DataFrame = {
    val cleanAttrs = Tables.customer(s, dir).filter(col("c_custkey") < 400)
      .select(col("c_custkey").as("id"), col("c_name").as("name"),
        col("c_nationkey").cast(LongType).as("nat"),
        col("c_mktsegment").as("seg"))
    val dirtyAttrs = cleanAttrs.select(
      (col("id") + 100000L).as("id"),
      concat(
        expr("substring(name, 1, 14 + (id % 4))"),
        expr("cast((cast(substring(name, 15 + (id % 4), 1) as int) + 1) % 10" +
          " as string)"),
        expr("substring(name, 16 + (id % 4), 1000000)")).as("name"),
      col("nat"),
      when(col("id") % 7 === 0, lit("SEG-X")).otherwise(col("seg"))
        .as("seg"))
    val omit = Seq((15, 2), (17, 2))
    val cand = passKeys(dirtyAttrs, omit)
      .select(col("id").as("did"), col("pass"), col("bk"))
      .join(passKeys(cleanAttrs, omit)
        .select(col("id").as("cid"), col("pass"), col("bk")),
        Seq("pass", "bk"))
      .select(col("did"), col("cid")).distinct()
    val score =
      when(levenshtein(col("dname"), col("cname")) <= 1, lit(wNameA))
        .otherwise(lit(wNameD)) +
      when(col("dnat") === col("cnat"), lit(wNatA)).otherwise(lit(wNatD)) +
      when(col("dseg") === col("cseg"), lit(wSegA)).otherwise(lit(wSegD))
    cand
      .join(dirtyAttrs.toDF("did", "dname", "dnat", "dseg"), "did")
      .join(cleanAttrs.toDF("cid", "cname", "cnat", "cseg"), "cid")
      .withColumn("score", score)
      .withColumn("decision",
        when(col("score") >= 5000, lit("match"))
          .when(col("score") >= 0, lit("possible"))
          .otherwise(lit("non_match")))
      .select(col("did").as("dirty_id"), col("cid").as("clean_id"),
        col("score"), col("decision"))
      .orderBy(col("dirty_id"), col("clean_id"))
  }

  val fellegiSunterSql: String =
    s"""WITH clean AS (
      |  SELECT c_custkey AS id, c_name AS name,
      |    CAST(c_nationkey AS BIGINT) AS nat, c_mktsegment AS seg
      |  FROM customer WHERE c_custkey < 400),
      |dirty AS (
      |  SELECT c.id + 100000 AS id,
      |    substr(c.name, 1, 14 + (c.id % 4))
      |      || CAST((CAST(substr(c.name, 15 + (c.id % 4), 1) AS INTEGER)
      |               + 1) % 10 AS VARCHAR)
      |      || substr(c.name, 16 + (c.id % 4)) AS name,
      |    c.nat,
      |    CASE WHEN c.id % 7 = 0 THEN 'SEG-X' ELSE c.seg END AS seg
      |  FROM clean c),
      |cand AS (
      |  SELECT DISTINCT d.id AS did, c.id AS cid
      |  FROM dirty d, clean c
      |  WHERE substr(d.name, 1, 14) || substr(d.name, 17)
      |          = substr(c.name, 1, 14) || substr(c.name, 17)
      |     OR substr(d.name, 1, 16) || substr(d.name, 19)
      |          = substr(c.name, 1, 16) || substr(c.name, 19))
      |SELECT p.did AS dirty_id, p.cid AS clean_id,
      |  CAST((CASE WHEN levenshtein(d.name, c.name) <= 1
      |        THEN $wNameA ELSE $wNameD END)
      |     + (CASE WHEN d.nat = c.nat THEN $wNatA ELSE $wNatD END)
      |     + (CASE WHEN d.seg = c.seg THEN $wSegA ELSE $wSegD END)
      |    AS BIGINT) AS score,
      |  CASE WHEN (CASE WHEN levenshtein(d.name, c.name) <= 1
      |             THEN $wNameA ELSE $wNameD END)
      |          + (CASE WHEN d.nat = c.nat THEN $wNatA ELSE $wNatD END)
      |          + (CASE WHEN d.seg = c.seg THEN $wSegA ELSE $wSegD END)
      |          >= 5000 THEN 'match'
      |       WHEN (CASE WHEN levenshtein(d.name, c.name) <= 1
      |             THEN $wNameA ELSE $wNameD END)
      |          + (CASE WHEN d.nat = c.nat THEN $wNatA ELSE $wNatD END)
      |          + (CASE WHEN d.seg = c.seg THEN $wSegA ELSE $wSegD END)
      |          >= 0 THEN 'possible'
      |       ELSE 'non_match' END AS decision
      |FROM cand p
      |JOIN dirty d ON d.id = p.did
      |JOIN clean c ON c.id = p.cid
      |ORDER BY dirty_id, clean_id""".stripMargin

  /** Jaro–Winkler scored linkage — the graded-similarity complement
    * of [[blockedLink]]'s boolean edit-distance cut: the same
    * key-omission blocked candidates scored by the codegen'd
    * byte-level [[graft.plans.JaroWinkler]] kernel (Spark has no
    * built-in JW; DuckDB does — `jaro_winkler_similarity` — which is
    * exactly what makes this gate a cross-engine kernel-parity
    * check). Scores are 1e-6-snapped so a 1-ulp float divergence
    * between two independent implementations can't flip the hash;
    * the ≥ 0.9 cut keeps true pairs (one substituted digit in 18
    * chars ⇒ JW ≈ 0.97) and drops most coincidental collisions.
    *
    * Scale: candidates from equi joins (never a cross join), scoring
    * is a pure compiled projection per pair. */
  def jaroWinklerGate(s: SparkSession, dir: String): DataFrame = {
    val clean = cleanReg(s, dir)
    val dirty = dirtyReg(s, dir)
    val omit = Seq((15, 2), (17, 2))
    val cand = passKeys(dirty, omit)
      .select(col("id").as("did"), col("pass"), col("bk"))
      .join(passKeys(clean, omit)
        .select(col("id").as("cid"), col("pass"), col("bk")),
        Seq("pass", "bk"))
      .select(col("did"), col("cid")).distinct()
    cand.join(dirty.toDF("did", "dname"), "did")
      .join(clean.toDF("cid", "cname"), "cid")
      .select(col("did").as("dirty_id"), col("cid").as("clean_id"),
        floor(graft.plans.TextExpressions.jaroWinkler(
          col("dname"), col("cname")) * 1000000.0 + 0.5)
          .cast(LongType).as("jw_ppm"))
      .filter(col("jw_ppm") >= 900000L)
      .orderBy(col("dirty_id"), col("clean_id"))
  }

  val jaroWinklerSql: String =
    """WITH clean AS (
      |  SELECT c_custkey AS id, c_name AS name
      |  FROM customer WHERE c_custkey < 400),
      |dirty AS (
      |  SELECT c.id + 100000 AS id,
      |    substr(c.name, 1, 14 + (c.id % 4))
      |      || CAST((CAST(substr(c.name, 15 + (c.id % 4), 1) AS INTEGER)
      |               + 1) % 10 AS VARCHAR)
      |      || substr(c.name, 16 + (c.id % 4)) AS name
      |  FROM clean c),
      |cand AS (
      |  SELECT DISTINCT d.id AS did, c.id AS cid
      |  FROM dirty d, clean c
      |  WHERE substr(d.name, 1, 14) || substr(d.name, 17)
      |          = substr(c.name, 1, 14) || substr(c.name, 17)
      |     OR substr(d.name, 1, 16) || substr(d.name, 19)
      |          = substr(c.name, 1, 16) || substr(c.name, 19))
      |SELECT p.did AS dirty_id, p.cid AS clean_id,
      |  CAST(floor(jaro_winkler_similarity(d.name, c.name) * 1000000
      |             + 0.5) AS BIGINT) AS jw_ppm
      |FROM cand p
      |JOIN dirty d ON d.id = p.did
      |JOIN clean c ON c.id = p.cid
      |WHERE floor(jaro_winkler_similarity(d.name, c.name) * 1000000
      |            + 0.5) >= 900000
      |ORDER BY dirty_id, clean_id""".stripMargin

  /** Transposition-aware linkage — the typo class plain Levenshtein
    * overprices: the dirty registry here swaps two ADJACENT digits
    * (the classic fat-finger error), which is distance 1 under the
    * codegen'd unrestricted [[graft.plans.DamerauLevenshtein]] kernel
    * but 2 under built-in `levenshtein` — the gate emits both so the
    * gap is part of the hashed evidence. Blocking adds a third
    * omission window because a swap at position 16–17 straddles the
    * two-window geometry the substitution gates use; three
    * single-shift windows cover every adjacent pair in the mutated
    * region exactly. DuckDB's `damerau_levenshtein` is the same
    * unrestricted byte-level variant (verified 'ca'→'abc' = 2), so
    * the gate is a direct cross-engine kernel parity check. */
  def damerauGate(s: SparkSession, dir: String): DataFrame = {
    val clean = cleanReg(s, dir)
    val dirty = clean.select(
      (col("id") + 100000L).as("id"),
      concat(
        expr("substring(name, 1, 14 + (id % 3))"),
        expr("substring(name, 16 + (id % 3), 1)"),
        expr("substring(name, 15 + (id % 3), 1)"),
        expr("substring(name, 17 + (id % 3), 1000000)")).as("name"))
    val omit = Seq((15, 2), (16, 2), (17, 2))
    val cand = passKeys(dirty, omit)
      .select(col("id").as("did"), col("pass"), col("bk"))
      .join(passKeys(clean, omit)
        .select(col("id").as("cid"), col("pass"), col("bk")),
        Seq("pass", "bk"))
      .select(col("did"), col("cid")).distinct()
    cand.join(dirty.toDF("did", "dname"), "did")
      .join(clean.toDF("cid", "cname"), "cid")
      .select(col("did").as("dirty_id"), col("cid").as("clean_id"),
        graft.plans.TextExpressions.damerauLevenshtein(
          col("dname"), col("cname")).as("dl"),
        levenshtein(col("dname"), col("cname")).cast(LongType).as("lev"))
      .filter(col("dl") <= 1)
      .orderBy(col("dirty_id"), col("clean_id"))
  }

  val damerauSql: String =
    """WITH clean AS (
      |  SELECT c_custkey AS id, c_name AS name
      |  FROM customer WHERE c_custkey < 400),
      |dirty AS (
      |  SELECT c.id + 100000 AS id,
      |    substr(c.name, 1, 14 + (c.id % 3))
      |      || substr(c.name, 16 + (c.id % 3), 1)
      |      || substr(c.name, 15 + (c.id % 3), 1)
      |      || substr(c.name, 17 + (c.id % 3)) AS name
      |  FROM clean c),
      |cand AS (
      |  SELECT DISTINCT d.id AS did, c.id AS cid
      |  FROM dirty d, clean c
      |  WHERE substr(d.name, 1, 14) || substr(d.name, 17)
      |          = substr(c.name, 1, 14) || substr(c.name, 17)
      |     OR substr(d.name, 1, 15) || substr(d.name, 18)
      |          = substr(c.name, 1, 15) || substr(c.name, 18)
      |     OR substr(d.name, 1, 16) || substr(d.name, 19)
      |          = substr(c.name, 1, 16) || substr(c.name, 19))
      |SELECT p.did AS dirty_id, p.cid AS clean_id,
      |  CAST(damerau_levenshtein(d.name, c.name) AS BIGINT) AS dl,
      |  CAST(levenshtein(d.name, c.name) AS BIGINT) AS lev
      |FROM cand p
      |JOIN dirty d ON d.id = p.did
      |JOIN clean c ON c.id = p.cid
      |WHERE damerau_levenshtein(d.name, c.name) <= 1
      |ORDER BY dirty_id, clean_id""".stripMargin

  /** Phonetic blocking keys — the sound-alike complement of the
    * key-omission blocking above: a simplified Soundex-style code
    * (first letter + the first 3 consonant-class digits, vowels/h/w/y
    * dropped, adjacent same-class runs collapsed, zero-padded) over
    * the first word of `p_name`, then per-block candidate volumes.
    * Blocking keys trade recall for candidate-count control; the
    * per-block `n_pairs = c(c−1)/2` is exactly the comparison budget
    * the ER pass downstream would spend, so this gate IS the
    * blocking-cost estimator.
    *
    * The key pipeline is fixed and dialect-neutral: lower → first
    * word → class map via equal-length `translate` → vowel-class
    * delete → run collapse (`regexp_replace` is all-occurrence in
    * Spark; the oracle passes 'g') → pad. One groupBy shuffle on the
    * key; no pairs are materialized. */
  def phoneticBlocks(s: SparkSession, dir: String): DataFrame = {
    val w = regexp_extract(lower(col("p_name")), "^[a-z]+", 0)
    val mapped = translate(substring(w, 2, 1000),
      "bfpvcgjkqsxzdtlmnraeiouhwy", "11112222222233455600000000")
    // run collapse as per-digit replaces: the oracle's RE2 engine
    // has no backreferences, so '(\d)\1+' is not dialect-neutral
    val collapsed = (1 to 6).foldLeft(
      regexp_replace(mapped, "0", "")) { (c, d) =>
      regexp_replace(c, s"$d$d+", d.toString)
    }
    val key = concat(upper(substring(w, 1, 1)),
      substring(concat(collapsed, lit("000")), 1, 3))
    Tables.part(s, dir)
      .select(key.as("key"))
      .groupBy(col("key")).agg(count(lit(1)).as("n_parts"))
      .select(col("key"), col("n_parts"),
        expr("(n_parts * (n_parts - 1)) div 2").as("n_pairs"))
      .orderBy(col("n_parts").desc, col("key"))
      .limit(20)
  }

  val phoneticBlocksSql: String =
    """WITH k AS (
      |  SELECT upper(substr(w, 1, 1)) ||
      |    substr(
      |      regexp_replace(regexp_replace(regexp_replace(
      |      regexp_replace(regexp_replace(regexp_replace(
      |      regexp_replace(
      |      translate(substr(w, 2), 'bfpvcgjkqsxzdtlmnraeiouhwy',
      |                '11112222222233455600000000'),
      |      '0', '', 'g'),
      |      '11+', '1', 'g'), '22+', '2', 'g'), '33+', '3', 'g'),
      |      '44+', '4', 'g'), '55+', '5', 'g'), '66+', '6', 'g')
      |      || '000', 1, 3) AS key
      |  FROM (SELECT regexp_extract(lower(p_name), '^[a-z]+') AS w
      |        FROM part)),
      |b AS (
      |  SELECT key, CAST(COUNT(*) AS BIGINT) AS n_parts
      |  FROM k GROUP BY key)
      |SELECT key, n_parts,
      |  CAST((n_parts * (n_parts - 1)) // 2 AS BIGINT) AS n_pairs
      |FROM b
      |ORDER BY n_parts DESC, key LIMIT 20""".stripMargin

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "link_phonetic_blocks" -> (phoneticBlocks _),
    "link_damerau" -> (damerauGate _),
    "link_jaro_winkler" -> (jaroWinklerGate _),
    "link_blocked" -> (linkGate _),
    "link_blocking_metrics" -> (blockingMetrics _),
    "link_fellegi_sunter" -> (fellegiSunter _),
    "link_golden_record" -> (goldenRecord _))

  def oracle: Map[String, String] = Map(
    "link_phonetic_blocks" -> phoneticBlocksSql,
    "link_damerau" -> damerauSql,
    "link_jaro_winkler" -> jaroWinklerSql,
    "link_blocked" -> linkSql,
    "link_blocking_metrics" -> blockingMetricsSql,
    "link_fellegi_sunter" -> fellegiSunterSql,
    "link_golden_record" -> goldenRecordSql)
}
