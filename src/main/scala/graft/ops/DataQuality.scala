package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.Tables

/** Data-quality operators for a curation pipeline: rule profiling,
  * referential-integrity checks, and value-distribution histograms.
  *
  * Scale design: `profile` evaluates EVERY rule in one
  * map-side-combinable aggregate — a 100-rule profile of a 100 TB
  * table is still a single scan with a one-row-per-partition shuffle.
  * Orphan checks are anti-joins that shuffle on the FK (exchange-free
  * when the fact table is bucketed on it); the histogram is a
  * fixed-width bucket groupBy, O(buckets) shuffle rows.
  */
object DataQuality {

  /** A named violation predicate (true = row violates the rule). */
  final case class Rule(name: String, violation: Column)

  /** One scan, one output row: total row count + per-rule violation
    * counts. */
  def profile(df: DataFrame, rules: Seq[Rule]): DataFrame =
    df.agg(
      count(lit(1)).as("n_rows"),
      rules.map(r =>
        sum(when(r.violation, 1L).otherwise(0L)).as(r.name)): _*)

  /** Count of child rows whose FK has no parent (anti-join). */
  def orphanCount(child: DataFrame, childKey: String,
      parent: DataFrame, parentKey: String): DataFrame =
    child.join(parent.select(col(parentKey)),
        col(childKey) === col(parentKey), "left_anti")
      .agg(count(lit(1)).as("n_orphans"))

  /** Equi-width histogram: `nBuckets` buckets over [min, max), with
    * out-of-range values clamped into the edge buckets. */
  def valueHistogram(df: DataFrame, c: Column, min: Double, max: Double,
      nBuckets: Int): DataFrame = {
    val w = (max - min) / nBuckets
    val bucket = least(
      greatest(floor((c - lit(min)) / lit(w)).cast(LongType), lit(0L)),
      lit(nBuckets - 1L))
    df.groupBy(bucket.as("bucket"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("bucket"))
  }

  // -------------------------------------------------------------- //

  /** Gate: one-pass rule profile over lineitem. Counts are exact and
    * engine-independent, so the row hashes bit-for-bit. */
  def dqProfile(s: SparkSession, dir: String): DataFrame =
    profile(Tables.lineitem(s, dir), Seq(
      Rule("n_null_price", col("l_extendedprice").isNull),
      Rule("n_qty_out_of_range",
        col("l_quantity") < 1.0 || col("l_quantity") > 50.0),
      Rule("n_high_discount", col("l_discount") > 0.08),
      Rule("n_ship_after_1998",
        col("l_shipdate") >= lit("1999-01-01").cast(TimestampType)),
      Rule("n_negative_tax", col("l_tax") < 0.0)))

  val dqProfileSql: String =
    """SELECT COUNT(*) AS n_rows,
      |  CAST(SUM(CASE WHEN l_extendedprice IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null_price,
      |  CAST(SUM(CASE WHEN l_quantity < 1.0 OR l_quantity > 50.0 THEN 1 ELSE 0 END) AS BIGINT) AS n_qty_out_of_range,
      |  CAST(SUM(CASE WHEN l_discount > 0.08 THEN 1 ELSE 0 END) AS BIGINT) AS n_high_discount,
      |  CAST(SUM(CASE WHEN l_shipdate >= TIMESTAMP '1999-01-01' THEN 1 ELSE 0 END) AS BIGINT) AS n_ship_after_1998,
      |  CAST(SUM(CASE WHEN l_tax < 0.0 THEN 1 ELSE 0 END) AS BIGINT) AS n_negative_tax
      |FROM lineitem""".stripMargin

  /** Gate: referential integrity — lineitem→orders and
    * orders→customer orphan counts in one row. */
  def dqOrphans(s: SparkSession, dir: String): DataFrame = {
    val liOrphans = orphanCount(Tables.lineitem(s, dir), "l_orderkey",
      Tables.orders(s, dir), "o_orderkey")
      .withColumnRenamed("n_orphans", "n_lineitem_orphans")
    val oOrphans = orphanCount(Tables.orders(s, dir), "o_custkey",
      Tables.customer(s, dir), "c_custkey")
      .withColumnRenamed("n_orphans", "n_order_orphans")
    liOrphans.crossJoin(oOrphans)
  }

  val dqOrphansSql: String =
    """SELECT
      |  (SELECT COUNT(*) FROM lineitem
      |   WHERE l_orderkey NOT IN (SELECT o_orderkey FROM orders)) AS n_lineitem_orphans,
      |  (SELECT COUNT(*) FROM orders
      |   WHERE o_custkey NOT IN (SELECT c_custkey FROM customer)) AS n_order_orphans""".stripMargin

  /** Gate: 10-bucket equi-width histogram of order totals. */
  def dqHistogram(s: SparkSession, dir: String): DataFrame =
    valueHistogram(Tables.orders(s, dir), col("o_totalprice"),
      0.0, 500000.0, 10)

  val dqHistogramSql: String =
    """SELECT LEAST(GREATEST(CAST(FLOOR((o_totalprice - 0.0) / 50000.0) AS BIGINT), 0), 9) AS bucket,
      |  COUNT(*) AS n
      |FROM orders
      |GROUP BY 1
      |ORDER BY bucket""".stripMargin

  /** Per-group z-score anomaly counts: population mean/stddev from
    * exact decimal power sums (the q32 idiom — one map-combinable
    * aggregate, deterministic doubles), then a second pass counting
    * |value − mean| > 3σ per group with the tiny stats frame
    * broadcast back. Two scans total; both shuffles are O(groups).
    * The standard outlier screen a DQ pipeline runs per batch. */
  def zScoreOutliers(df: DataFrame, groupCol: String, valueCol: String,
      sigmas: Double = 3.0): DataFrame =
    zScoreOutliersBy(df, Seq(groupCol), valueCol, sigmas)

  /** Multi-key generalization of [[zScoreOutliers]] — the seasonal
    * anomaly screen groups on (event_type, hour) rather than one
    * column; same two-scan decimal-power-sum plan, both shuffles
    * O(groups). */
  def zScoreOutliersBy(df: DataFrame, groupCols: Seq[String],
      valueCol: String, sigmas: Double = 3.0): DataFrame = {
    // Internal columns carry a `_zs_` prefix: these helpers are a
    // general API, and a caller frame that already owns a column named
    // `n`/`mean`/`sd` would otherwise collide with (or silently
    // shadow) the stats introduced by the join below.
    val keys = groupCols.map(col)
    val v = col(valueCol).cast(DecimalType(18, 4))
    val mean = col("_zs_sv") / col("_zs_n")
    val sd = sqrt(greatest(
      col("_zs_svv") / col("_zs_n")
        - (col("_zs_sv") / col("_zs_n")) * (col("_zs_sv") / col("_zs_n")),
      lit(0.0)))
    val stats = df.groupBy(keys: _*)
      .agg(count(lit(1)).as("_zs_n"),
        sum(v).cast(DoubleType).as("_zs_sv"),
        sum(v * v).cast(DoubleType).as("_zs_svv"))
      .select(keys ++ Seq(col("_zs_n"),
        mean.as("_zs_mean"), sd.as("_zs_sd")): _*)
    df.join(broadcast(stats), groupCols)
      .groupBy(keys ++ Seq(
        col("_zs_n"), col("_zs_mean"), col("_zs_sd")): _*)
      .agg(sum(when(
        abs(col(valueCol) - col("_zs_mean")) > lit(sigmas) * col("_zs_sd"),
        1L).otherwise(0L)).as("outliers"))
      .select(keys ++ Seq(col("_zs_n").as("n"), col("outliers"),
        round(col("_zs_mean"), 6).as("mean6"),
        round(col("_zs_sd"), 6).as("sd6")): _*)
      .orderBy(keys: _*)
  }

  /** Gate: 3σ outlier screen of event values per event type. */
  def dqAnomaly(s: SparkSession, dir: String): DataFrame =
    zScoreOutliers(Tables.events(s, dir), "event_type", "value")

  val dqAnomalySql: String =
    """WITH s AS (
      |  SELECT event_type, COUNT(*) AS n,
      |    CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sv,
      |    CAST(SUM(CAST(value AS DECIMAL(18,4))
      |      * CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS svv
      |  FROM events GROUP BY event_type),
      |st AS (
      |  SELECT event_type, n, sv / n AS mean,
      |    sqrt(greatest(svv / n - (sv / n) * (sv / n), 0.0)) AS sd
      |  FROM s)
      |SELECT st.event_type, st.n,
      |  CAST(SUM(CASE WHEN abs(e.value - st.mean) > 3.0 * st.sd
      |      THEN 1 ELSE 0 END) AS BIGINT) AS outliers,
      |  round(st.mean, 6) AS mean6, round(st.sd, 6) AS sd6
      |FROM events e JOIN st USING (event_type)
      |GROUP BY st.event_type, st.n, st.mean, st.sd
      |ORDER BY st.event_type""".stripMargin

  /** Equi-depth quantile binning (feature bucketizer): quartile
    * boundaries from ONE percentile aggregate (array argument — the
    * values buffer once), rounded to 4 dp for cross-engine parity
    * (the q23 contract), broadcast as a single row, and applied as a
    * pure codegen CASE projection — so the binning pass itself is
    * shuffle-free. Exact percentile is the OPT-IN boundary source
    * exactly as in q23; at 100 TB the default swaps in
    * `percentile_approx` (mergeable sketch) with the same downstream
    * plan. */
  def quantileBins(s: SparkSession, dir: String): DataFrame = {
    val li = graft.Tables.lineitem(s, dir)
      .select(col("l_extendedprice").as("v"))
    val b = li.agg(
      expr("percentile(v, array(0.25, 0.5, 0.75))").as("bs"))
      .select(round(element_at(col("bs"), 1), 4).as("b1"),
        round(element_at(col("bs"), 2), 4).as("b2"),
        round(element_at(col("bs"), 3), 4).as("b3"))
    li.crossJoin(broadcast(b))
      .select(when(col("v") <= col("b1"), 0L)
        .when(col("v") <= col("b2"), 1L)
        .when(col("v") <= col("b3"), 2L)
        .otherwise(3L).as("bucket"), col("v"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n"), min(col("v")).as("lo"),
        max(col("v")).as("hi"))
      .orderBy(col("bucket"))
  }

  val quantileBinsSql: String =
    """WITH b AS (SELECT
      |    ROUND(quantile_cont(l_extendedprice, 0.25), 4) AS b1,
      |    ROUND(quantile_cont(l_extendedprice, 0.5), 4) AS b2,
      |    ROUND(quantile_cont(l_extendedprice, 0.75), 4) AS b3
      |  FROM lineitem)
      |SELECT CAST(CASE WHEN l_extendedprice <= b1 THEN 0
      |            WHEN l_extendedprice <= b2 THEN 1
      |            WHEN l_extendedprice <= b3 THEN 2
      |            ELSE 3 END AS BIGINT) AS bucket,
      |  COUNT(*) AS n, MIN(l_extendedprice) AS lo,
      |  MAX(l_extendedprice) AS hi
      |FROM lineitem, b
      |GROUP BY 1
      |ORDER BY bucket""".stripMargin

  /** Robust outlier screen via median absolute deviation — the
    * mean/σ screen ([[zScoreOutliers]]) breaks down exactly when the
    * data is dirty, since outliers inflate σ; MAD's 50% breakdown
    * point is the DQ-pipeline standard for skewed batches. Flags
    * |v − median| > 3·1.4826·MAD (the normal-consistency constant,
    * pinned as the literal 4.4478 on both engines). Two grouped
    * exact-percentile aggregates (opt-in exact, the q23 contract —
    * `percentile_approx` is the 100 TB default) with the tiny stats
    * frames broadcast back; both shuffles are O(groups). */
  def madOutliers(df: DataFrame, groupCol: String,
      valueCol: String): DataFrame = {
    // `_mad_` prefix on internals for the same reason as
    // [[zScoreOutliers]]: a caller column named `med`/`mad`/`adev`
    // must not collide with the stats this helper introduces.
    val med = df.groupBy(col(groupCol))
      .agg(expr(s"percentile($valueCol, 0.5)").as("_mad_med"))
    val dev = df.join(broadcast(med), groupCol)
      .withColumn("_mad_adev", abs(col(valueCol) - col("_mad_med")))
    val mad = dev.groupBy(col(groupCol))
      .agg(max(col("_mad_med")).as("_mad_med"),
        expr("percentile(_mad_adev, 0.5)").as("_mad_mad"))
    dev.drop("_mad_med").join(broadcast(mad), groupCol)
      .groupBy(col(groupCol), col("_mad_med"), col("_mad_mad"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("_mad_adev") > lit(4.4478) * col("_mad_mad"), 1L)
          .otherwise(0L)).as("outliers"))
      .select(col(groupCol), col("n"), col("outliers"),
        round(col("_mad_med"), 6).as("med6"),
        round(col("_mad_mad"), 6).as("mad6"))
      .orderBy(col(groupCol))
  }

  /** Gate: MAD screen of event values per event type. */
  def dqMad(s: SparkSession, dir: String): DataFrame =
    madOutliers(Tables.events(s, dir), "event_type", "value")

  val dqMadSql: String =
    """WITH m AS (SELECT event_type, quantile_cont(value, 0.5) AS med
      |           FROM events GROUP BY event_type),
      |d AS (SELECT e.event_type, abs(e.value - m.med) AS adev
      |      FROM events e JOIN m USING (event_type)),
      |md AS (SELECT d.event_type, max(m.med) AS med,
      |         quantile_cont(d.adev, 0.5) AS mad
      |       FROM d JOIN m USING (event_type) GROUP BY d.event_type)
      |SELECT d.event_type, COUNT(*) AS n,
      |  CAST(SUM(CASE WHEN d.adev > 4.4478 * md.mad THEN 1 ELSE 0 END)
      |    AS BIGINT) AS outliers,
      |  round(md.med, 6) AS med6, round(md.mad, 6) AS mad6
      |FROM d JOIN md USING (event_type)
      |GROUP BY d.event_type, md.med, md.mad
      |ORDER BY d.event_type""".stripMargin

  /** Full correlation matrix of k numeric columns in ONE scan: every
    * sum, square and cross product (k + k(k+1)/2 accumulators) rides
    * a single map-combinable aggregate — profiling 4 columns or 40
    * costs one pass either way, vs one `corr()` job per pair. Sums
    * are exact decimals cast to double at the end (the q32 moment
    * idiom), correlations rounded to 6 dp for cross-engine parity.
    * Output in long form (col_a < col_b). */
  def corrMatrix(s: SparkSession, dir: String): DataFrame = {
    val cols = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
    def d(c: String) = col(c).cast(DecimalType(18, 2))
    val pairs = for {
      i <- cols.indices; j <- cols.indices if i < j
    } yield (cols(i), cols(j))
    val aggs =
      cols.map(c => sum(d(c)).cast(DoubleType).as(s"s_$c")) ++
      cols.map(c => sum(d(c) * d(c)).cast(DoubleType).as(s"ss_$c")) ++
      pairs.map { case (a, b) =>
        sum(d(a) * d(b)).cast(DoubleType).as(s"sp_${a}_$b") }
    def mean(c: String) = col(s"s_$c") / col("n")
    def sd(c: String) =
      sqrt(col(s"ss_$c") / col("n") - mean(c) * mean(c))
    val base = Tables.lineitem(s, dir)
      .agg(count(lit(1)).as("n"), aggs: _*)
    val rows = pairs.map { case (a, b) =>
      struct(lit(a).as("col_a"), lit(b).as("col_b"),
        round((col(s"sp_${a}_$b") / col("n") - mean(a) * mean(b)) /
          (sd(a) * sd(b)), 6).as("corr6"))
    }
    base.select(explode(array(rows: _*)).as("r"))
      .select(col("r.col_a"), col("r.col_b"), col("r.corr6"))
      .orderBy(col("col_a"), col("col_b"))
  }

  val corrMatrixSql: String = {
    val cols = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
    val pairs = for {
      i <- cols.indices; j <- cols.indices if i < j
    } yield (cols(i), cols(j))
    def d(c: String) = s"CAST($c AS DECIMAL(18,2))"
    val sums =
      cols.map(c => s"CAST(SUM(${d(c)}) AS DOUBLE) AS s_$c") ++
      cols.map(c => s"CAST(SUM(${d(c)} * ${d(c)}) AS DOUBLE) AS ss_$c") ++
      pairs.map { case (a, b) =>
        s"CAST(SUM(${d(a)} * ${d(b)}) AS DOUBLE) AS sp_${a}_$b" }
    def mean(c: String) = s"(s_$c / n)"
    def sd(c: String) = s"sqrt(ss_$c / n - ${mean(c)} * ${mean(c)})"
    val rows = pairs.map { case (a, b) =>
      s"SELECT '$a' AS col_a, '$b' AS col_b, " +
      s"round((sp_${a}_$b / n - ${mean(a)} * ${mean(b)}) / " +
      s"(${sd(a)} * ${sd(b)}), 6) AS corr6 FROM m"
    }
    s"""WITH m AS (SELECT COUNT(*) AS n, ${sums.mkString(", ")}
       |  FROM lineitem)
       |${rows.mkString("\nUNION ALL\n")}
       |ORDER BY col_a, col_b""".stripMargin
  }

  /** Population-stability-index drift between the first half of the
    * event stream (reference window, `ts < 2024-01-16`) and the
    * second (current window): `PSI = Σ_bins (p_cur − p_ref)·ln(p_cur
    * / p_ref)` over 10 fixed-width value bins (width 10, top bin
    * open). The monitoring op a production pipeline runs per batch
    * to catch upstream distribution shifts; PSI > 0.2 is the usual
    * retrain alarm.
    *
    * Scale: ONE map-side-combined groupBy over the stream computes
    * both windows' bin counts (`sum(when(...))` twin aggregates) —
    * 10 rows out regardless of input size; everything after is
    * driver-trivial arithmetic kept distributed anyway. Laplace +1
    * keeps empty bins finite. Each bin's PSI term is snapped to a
    * 1e-9-scaled long (ln on identical doubles is bit-equal in both
    * engines), so the total is an order-independent long sum.
    */
  def dqPsi(s: SparkSession, dir: String): DataFrame = {
    val cutTs = "2024-01-16 00:00:00"
    val binned = Tables.events(s, dir).select(
      least(floor(col("value") / 10.0), lit(9.0)).cast(LongType).as("bin"),
      (col("ts") < lit(cutTs).cast(TimestampType)).as("is_ref"))
    val counts = binned.groupBy(col("bin")).agg(
      sum(when(col("is_ref"), 1L).otherwise(0L)).as("n_ref"),
      sum(when(col("is_ref"), 0L).otherwise(1L)).as("n_cur"))
    val totals = counts.agg(sum(col("n_ref")).as("t_ref"),
      sum(col("n_cur")).as("t_cur"))
    val terms = counts.crossJoin(broadcast(totals))
      .withColumn("p_ref", (col("n_ref") + lit(1)).cast(DoubleType) /
        (col("t_ref") + lit(10)).cast(DoubleType))
      .withColumn("p_cur", (col("n_cur") + lit(1)).cast(DoubleType) /
        (col("t_cur") + lit(10)).cast(DoubleType))
      .withColumn("term9",
        floor((col("p_cur") - col("p_ref")) * log(col("p_cur") / col("p_ref"))
          * 1e9 + 0.5).cast(LongType))
    val total = terms.agg(sum(col("term9")).as("psi9"))
    terms.crossJoin(broadcast(total))
      .select(col("bin"), col("n_ref"), col("n_cur"),
        (col("term9").cast(DoubleType) / 1e9).as("psi_term"),
        (col("psi9").cast(DoubleType) / 1e9).as("psi_total"))
      .orderBy(col("bin"))
  }

  val dqPsiSql: String =
    """WITH binned AS (
      |  SELECT CAST(least(floor(value / 10.0), 9.0) AS BIGINT) AS bin,
      |    ts < TIMESTAMP '2024-01-16 00:00:00' AS is_ref
      |  FROM events),
      |counts AS (
      |  SELECT bin,
      |    SUM(CASE WHEN is_ref THEN 1 ELSE 0 END) AS n_ref,
      |    SUM(CASE WHEN is_ref THEN 0 ELSE 1 END) AS n_cur
      |  FROM binned GROUP BY bin),
      |totals AS (SELECT SUM(n_ref) AS t_ref, SUM(n_cur) AS t_cur FROM counts),
      |terms AS (
      |  SELECT bin, n_ref, n_cur,
      |    CAST(floor((CAST(n_cur + 1 AS DOUBLE) / (t_cur + 10) -
      |                CAST(n_ref + 1 AS DOUBLE) / (t_ref + 10)) *
      |      ln((CAST(n_cur + 1 AS DOUBLE) / (t_cur + 10)) /
      |         (CAST(n_ref + 1 AS DOUBLE) / (t_ref + 10))) * 1e9 + 0.5)
      |      AS BIGINT) AS term9
      |  FROM counts CROSS JOIN totals),
      |tot AS (SELECT SUM(term9) AS psi9 FROM terms)
      |SELECT bin, CAST(n_ref AS BIGINT) AS n_ref,
      |  CAST(n_cur AS BIGINT) AS n_cur,
      |  CAST(term9 AS DOUBLE) / 1e9 AS psi_term,
      |  CAST(psi9 AS DOUBLE) / 1e9 AS psi_total
      |FROM terms CROSS JOIN tot
      |ORDER BY bin""".stripMargin

  /** Benford first-significant-digit screen over lineitem prices — a
    * classic fraud / synthetic-data tell. One scan, map-side
    * combinable groupBy on a 9-value key, O(9) result rows: the same
    * single-aggregate shape as [[profile]], so a 100 TB screen is one
    * pass with a 9-row shuffle.
    *
    * Determinism: the first significant digit is taken from the
    * DECIMAL's exact cent count rendered as a string (integer → text
    * is engine-identical; `log10`-based digit extraction is NOT — a
    * price of 1000.00 can land on either side of the double log).
    * Observed fractions are exact integer-scaled division; the
    * Benford expectation log10(1+1/d) is ln-ratio rounded to 1e-6,
    * the repo's pinned cross-engine ln contract.
    */
  /** Schema drift between two table generations: columns added,
    * removed, or type-changed — the contract check a daily pipeline
    * runs BEFORE data-level diffs ([[Maintenance.snapshotDiff]]'s
    * metadata complement). Pure catalog work: both sides' schemas are
    * parquet footer metadata (no data scan at any size); the diff is
    * computed on the O(columns) name set. Gate: a drifted copy of
    * orders drops o_orderpriority, adds o_priority_rank, and retypes
    * o_totalprice to string; the oracle states the expected
    * classification closed-form. */
  def schemaDrift(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val baseDir = graft.Scaffold.scratch(dir, "dq/drift/base")
    val newDir = graft.Scaffold.scratch(dir, "dq/drift/new")
    graft.Scaffold.setup {
      val o = Tables.orders(s, dir)
      o.write.mode("overwrite").parquet(baseDir)
      o.drop("o_orderpriority")
        .withColumn("o_priority_rank",
          (col("o_orderkey") % 5).cast(LongType))
        .withColumn("o_totalprice", col("o_totalprice").cast(StringType))
        .write.mode("overwrite").parquet(newDir)
    }
    val base = s.read.parquet(baseDir).schema
      .map(f => f.name -> f.dataType.sql).toMap
    val next = s.read.parquet(newDir).schema
      .map(f => f.name -> f.dataType.sql).toMap
    val rows = (base.keySet ++ next.keySet).toSeq.sorted.map { c =>
      val status = (base.get(c), next.get(c)) match {
        case (None, Some(_))              => "added"
        case (Some(_), None)              => "removed"
        case (Some(a), Some(b)) if a != b => "type_changed"
        case _                            => "unchanged"
      }
      (c, status)
    }
    rows.toDF("column", "status").orderBy(col("column"))
  }

  val schemaDriftSql: String =
    """SELECT * FROM (VALUES
      |  ('o_custkey', 'unchanged'),
      |  ('o_orderdate', 'unchanged'),
      |  ('o_orderkey', 'unchanged'),
      |  ('o_orderpriority', 'removed'),
      |  ('o_orderstatus', 'unchanged'),
      |  ('o_priority_rank', 'added'),
      |  ('o_totalprice', 'type_changed')
      |) AS t("column", status)
      |ORDER BY "column"""".stripMargin

  def dqBenford(s: SparkSession, dir: String): DataFrame = {
    val l = Tables.lineitem(s, dir)
    val digits = l
      .select(substring(
        col("l_extendedprice").cast(DecimalType(18, 2))
          .multiply(lit(100)).cast(LongType).cast(StringType),
        1, 1).cast(IntegerType).as("digit"))
      .filter(col("digit").between(1, 9))
      .groupBy(col("digit")).agg(count(lit(1)).as("n"))
    val total = digits.agg(sum(col("n")).as("t"))
    digits.crossJoin(broadcast(total))
      .select(col("digit"), col("n"),
        (floor(col("n") * lit(1000000L) / col("t")).cast(LongType)
          .cast(DoubleType) / 1e6).as("obs_frac"),
        (floor(log(lit(1.0) + lit(1.0) / col("digit").cast(DoubleType))
          / log(lit(10.0)) * 1e6 + 0.5).cast(DoubleType) / 1e6)
          .as("benford_frac"))
      .orderBy(col("digit"))
  }

  val dqBenfordSql: String =
    """WITH d AS (
      |  SELECT CAST(substr(CAST(CAST(CAST(l_extendedprice AS
      |      DECIMAL(18,2)) * 100 AS BIGINT) AS VARCHAR), 1, 1)
      |    AS INTEGER) AS digit
      |  FROM lineitem),
      |c AS (SELECT digit, COUNT(*) AS n FROM d
      |      WHERE digit BETWEEN 1 AND 9 GROUP BY digit),
      |t AS (SELECT SUM(n) AS t FROM c)
      |SELECT digit, n,
      |  CAST(CAST(floor(n * 1000000 / t) AS BIGINT) AS DOUBLE) / 1e6
      |    AS obs_frac,
      |  CAST(floor(ln(1.0 + 1.0 / digit) / ln(10.0) * 1e6 + 0.5)
      |    AS DOUBLE) / 1e6 AS benford_frac
      |FROM c CROSS JOIN t
      |ORDER BY digit""".stripMargin

  /** Primary-key uniqueness audit — the first expectation any
    * warehouse DQ suite runs. Two probes in one gate: the clean
    * `o_orderkey` PK on orders must show ZERO duplicate keys, and a
    * deliberately corrupted orders corpus (every 251st key
    * re-inserted) must show exactly the planted violations — proving
    * the audit both passes clean data and catches dirty data, with
    * multiplicity stats for triage. (The synthetic lineitem does NOT
    * honor the TPC-H composite PK — its linenumbers repeat per order
    * — so orders is the clean fixture here.)
    *
    * Scale: one hash-aggregate per probe on the key columns —
    * map-side partial count means the shuffle carries one row per
    * distinct key per partition, and the violation summary is a
    * second metadata-sized reduce. No row data moves. */
  def dqUniqueness(s: SparkSession, dir: String): DataFrame = {
    def audit(g: DataFrame, label: String): DataFrame =
      g.agg(count(lit(1)).as("n_keys"),
          sum(col("n")).as("n_rows"),
          sum(when(col("n") > 1, 1L).otherwise(0L)).as("n_dup_keys"),
          max(col("n")).as("max_multiplicity"))
        .select(lit(label).as("probe"), col("n_keys"), col("n_rows"),
          col("n_dup_keys"), col("max_multiplicity"))
    val keys = Tables.orders(s, dir).select(col("o_orderkey"))
    val clean = audit(
      keys.groupBy(col("o_orderkey")).agg(count(lit(1)).as("n")),
      "orders_clean")
    val corrupted = audit(
      keys.unionAll(keys.filter(col("o_orderkey") % 251 === 0))
        .groupBy(col("o_orderkey")).agg(count(lit(1)).as("n")),
      "orders_corrupted")
    clean.unionAll(corrupted).orderBy(col("probe"))
  }

  val dqUniquenessSql: String =
    """WITH oc AS (
      |  SELECT COUNT(*) AS n FROM (
      |    SELECT o_orderkey FROM orders
      |    UNION ALL
      |    SELECT o_orderkey FROM orders WHERE o_orderkey % 251 = 0)
      |  GROUP BY o_orderkey)
      |SELECT 'orders_clean' AS probe,
      |  CAST(COUNT(*) AS BIGINT) AS n_keys,
      |  CAST(COUNT(*) AS BIGINT) AS n_rows,
      |  CAST(0 AS BIGINT) AS n_dup_keys,
      |  CAST(1 AS BIGINT) AS max_multiplicity
      |FROM orders
      |UNION ALL
      |SELECT 'orders_corrupted', CAST(COUNT(*) AS BIGINT),
      |  CAST(SUM(n) AS BIGINT),
      |  CAST(SUM(CASE WHEN n > 1 THEN 1 ELSE 0 END) AS BIGINT),
      |  CAST(MAX(n) AS BIGINT)
      |FROM oc
      |ORDER BY probe""".stripMargin

  /** Weighted median — the robust center when rows carry unequal
    * mass (docs weighted by tokens, prices by quantity): smallest v
    * whose cumulative weight reaches half the total.
    *
    * Computed histogram-first: per-(group, bin) weight sums
    * (map-side combinable, NO corpus sort), cumulate over the ≤1024
    * bins per group (a metadata-sized window), locate the bin the
    * half-total falls in, then sort ONLY that bin's rows for the
    * exact crossing. A direct sort+running-sum window would have
    * parallelism = #groups (three returnflags sort 200k rows each on
    * one core); the refine sort here touches ~1/1024 of the data.
    * Binning routes rows by a monotone double map, so the refined
    * answer is EXACTLY the full-sort answer (equal values share a
    * bin by construction) — the DuckDB oracle keeps the
    * straightforward single-sort formulation and the hashes match. */
  def dqWeightedMedian(s: SparkSession, dir: String): DataFrame = {
    val nb = 1024
    val li = Tables.lineitem(s, dir).select(
      col("l_returnflag").as("g"),
      col("l_extendedprice").cast(DecimalType(18, 2)).as("v"),
      col("l_quantity").cast(DecimalType(18, 2)).as("wt"))
    val stats = li.groupBy(col("g")).agg(
      min(col("v")).as("mn"), max(col("v")).as("mx"),
      sum(col("wt")).as("tot"))
    val span = col("mx").cast(DoubleType) - col("mn").cast(DoubleType)
    val binned = li.join(broadcast(stats), "g")
      .withColumn("bin", when(span === 0.0, lit(0)).otherwise(
        least(lit(nb - 1), greatest(lit(0),
          floor((col("v").cast(DoubleType) - col("mn").cast(DoubleType))
            / span * nb).cast(IntegerType)))))
    val wBins = Window.partitionBy(col("g")).orderBy(col("bin"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val medianBin = binned
      .groupBy(col("g"), col("bin")).agg(sum(col("wt")).as("bw"))
      .withColumn("cum", sum(col("bw")).over(wBins))
      .join(broadcast(stats.select(col("g"), col("tot"))), "g")
      .withColumn("cum_before", col("cum") - col("bw"))
      .filter(col("cum") * 2 >= col("tot") &&
        col("cum_before") * 2 < col("tot"))
      .select(col("g"), col("bin"), col("cum_before"), col("tot"))
    val wIn = Window.partitionBy(col("g")).orderBy(col("v"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    binned.select(col("g"), col("bin"), col("v"), col("wt"))
      .join(broadcast(medianBin), Seq("g", "bin"))
      .withColumn("cum_in", sum(col("wt")).over(wIn))
      .filter((col("cum_before") + col("cum_in")) * 2 >= col("tot"))
      .groupBy(col("g"))
      .agg(min(col("v")).cast(DoubleType).as("wmedian"),
        max(col("tot")).cast(DoubleType).as("total_weight"))
      .orderBy(col("g"))
  }

  val dqWeightedMedianSql: String =
    """WITH t AS (
      |  SELECT l_returnflag AS g,
      |    CAST(l_extendedprice AS DECIMAL(18,2)) AS v,
      |    CAST(l_quantity AS DECIMAL(18,2)) AS wt
      |  FROM lineitem),
      |c AS (
      |  SELECT g, v,
      |    SUM(wt) OVER (PARTITION BY g ORDER BY v
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
      |    SUM(wt) OVER (PARTITION BY g) AS tot
      |  FROM t)
      |SELECT g, CAST(MIN(v) AS DOUBLE) AS wmedian,
      |  CAST(MAX(tot) AS DOUBLE) AS total_weight
      |FROM c WHERE cum * 2 >= tot
      |GROUP BY g
      |ORDER BY g""".stripMargin

  /** Config-string rule engine — the reference's criteria idiom
    * (predicates arrive as TEXT in config, `AutoPurge.sql` criteria /
    * `application.properties`) applied to validation: each rule is
    * `(name, table, violationPredicateSql, severity)`, compiled with
    * `expr` into the same one-scan-per-table conditional-sum plan as
    * [[profile]] — N rules on a table cost ONE pass regardless of N —
    * then unpivoted to a row per rule with an exact integer-ppm rate.
    *
    * Scale: rule evaluation is map-side-combined aggregation (one
    * output row per table scan); the unpivot touches O(rules) rows.
    * Adding a rule is a config edit, not a plan change. */
  def ruleEngine(s: SparkSession, dir: String): DataFrame = {
    val ruleSpec: Seq[(String, String, String, String)] = Seq(
      ("o_price_nonneg", "orders", "o_totalprice < 0", "fail"),
      ("o_status_domain", "orders",
        "o_orderstatus NOT IN ('O','F','P')", "fail"),
      ("o_priority_nonnull", "orders",
        "o_orderpriority IS NULL", "warn"),
      ("l_qty_range", "lineitem",
        "l_quantity < 1 OR l_quantity > 50", "warn"),
      ("l_discount_range", "lineitem",
        "l_discount < 0 OR l_discount > 0.1", "warn"),
      ("c_acctbal_floor", "customer", "c_acctbal < -1000", "warn"))
    val perTable = ruleSpec.groupBy(_._2).toSeq.map {
      case (table, rules) =>
        val agg = Tables(s, dir, table).agg(
          count(lit(1)).as("n_rows"),
          rules.map { case (name, _, pred, _) =>
            sum(when(expr(pred), 1L).otherwise(0L)).as(name)
          }: _*)
        val stacked = rules.map { case (name, _, _, severity) =>
          s"'$name', '$table', '$severity', $name"
        }.mkString(", ")
        agg.selectExpr(
          s"stack(${rules.size}, $stacked) AS " +
            "(rule_name, table_name, severity, n_violations)",
          "n_rows")
    }
    perTable.reduce(_ unionByName _)
      .select(col("rule_name"), col("table_name"), col("severity"),
        col("n_rows"), col("n_violations"),
        expr("n_violations * 1000000L div n_rows").as("viol_ppm"))
      .orderBy(col("rule_name"))
  }

  val ruleEngineSql: String =
    """WITH o AS (SELECT COUNT(*) AS n_rows,
      |    SUM(CASE WHEN o_totalprice < 0 THEN 1 ELSE 0 END) AS r1,
      |    SUM(CASE WHEN o_orderstatus NOT IN ('O','F','P')
      |        THEN 1 ELSE 0 END) AS r2,
      |    SUM(CASE WHEN o_orderpriority IS NULL THEN 1 ELSE 0 END)
      |      AS r3
      |  FROM orders),
      |l AS (SELECT COUNT(*) AS n_rows,
      |    SUM(CASE WHEN l_quantity < 1 OR l_quantity > 50
      |        THEN 1 ELSE 0 END) AS r4,
      |    SUM(CASE WHEN l_discount < 0 OR l_discount > 0.1
      |        THEN 1 ELSE 0 END) AS r5
      |  FROM lineitem),
      |c AS (SELECT COUNT(*) AS n_rows,
      |    SUM(CASE WHEN c_acctbal < -1000 THEN 1 ELSE 0 END) AS r6
      |  FROM customer),
      |stacked AS (
      |  SELECT 'o_price_nonneg' AS rule_name, 'orders' AS table_name,
      |    'fail' AS severity, n_rows, r1 AS n_violations FROM o
      |  UNION ALL SELECT 'o_status_domain', 'orders', 'fail',
      |    n_rows, r2 FROM o
      |  UNION ALL SELECT 'o_priority_nonnull', 'orders', 'warn',
      |    n_rows, r3 FROM o
      |  UNION ALL SELECT 'l_qty_range', 'lineitem', 'warn',
      |    n_rows, r4 FROM l
      |  UNION ALL SELECT 'l_discount_range', 'lineitem', 'warn',
      |    n_rows, r5 FROM l
      |  UNION ALL SELECT 'c_acctbal_floor', 'customer', 'warn',
      |    n_rows, r6 FROM c)
      |SELECT rule_name, table_name, severity,
      |  CAST(n_rows AS BIGINT) AS n_rows,
      |  CAST(n_violations AS BIGINT) AS n_violations,
      |  CAST(n_violations * 1000000 // n_rows AS BIGINT) AS viol_ppm
      |FROM stacked ORDER BY rule_name""".stripMargin

  /** Chi-square independence screen: is `event_type` independent of
    * hour-of-day? Per-type χ² contribution over the 24-hour margin,
    * from ONE observed-count aggregate; expected counts come from the
    * marginals of that same tiny grid (types × 24), so the raw table
    * is scanned once. Per-cell terms are computed in an IDENTICAL
    * expression tree in both engines (O·N − rt·ct in exact longs,
    * squared in DOUBLE — exact below 2^53, and overflow-proof where
    * the long square would silently wrap past ~3e9 rows —
    * two IEEE divisions), then 1e-6-snapped to longs BEFORE the
    * per-type sum — long sums commute, double sums don't (the
    * [[LanguageModel]] determinism discipline).
    *
    * Scale: one map-side-combinable count over (type, hour); every
    * subsequent op runs on the O(types×24) grid. The windows below
    * are grid-sized, not data-sized. */
  def dqChi2(s: SparkSession, dir: String): DataFrame = {
    val grid = Tables.events(s, dir)
      .groupBy(col("event_type"), hour(col("ts")).as("h"))
      .agg(count(lit(1)).as("o"))
    val all = Window.partitionBy()
    val byType = Window.partitionBy(col("event_type"))
    val byHour = Window.partitionBy(col("h"))
    grid
      .withColumn("rt", sum(col("o")).over(byType))
      .withColumn("ct", sum(col("o")).over(byHour))
      .withColumn("n", sum(col("o")).over(all))
      .withColumn("dev", col("o") * col("n") - col("rt") * col("ct"))
      .withColumn("cell",
        // dev is cast to DOUBLE BEFORE squaring: |dev| can reach
        // n*min(rt,ct), so the LONG square silently wraps past
        // ~3e9 rows in non-ANSI Spark while the oracle's checked
        // BIGINT raises — divergent failure modes at scale. The
        // double square is exact below 2^53 and the term is
        // 1e-6-snapped right after anyway.
        floor(col("dev").cast(DoubleType) * col("dev").cast(DoubleType)
          / (col("rt") * col("ct")).cast(DoubleType)
          / col("n").cast(DoubleType) * 1000000.0 + 0.5)
          .cast(LongType))
      .groupBy(col("event_type"))
      .agg((sum(col("cell")).cast(DoubleType) / 1000000.0).as("chi2"),
        count(lit(1)).as("n_cells"))
      .orderBy(col("event_type"))
  }

  val dqChi2Sql: String =
    """WITH grid AS (
      |  SELECT event_type, hour(ts) AS h, COUNT(*) AS o
      |  FROM events GROUP BY event_type, hour(ts)),
      |m AS (
      |  SELECT event_type, h, o,
      |    SUM(o) OVER (PARTITION BY event_type) AS rt,
      |    SUM(o) OVER (PARTITION BY h) AS ct,
      |    SUM(o) OVER () AS n
      |  FROM grid),
      |cells AS (
      |  SELECT event_type,
      |    CAST(floor(
      |      CAST(o * n - rt * ct AS DOUBLE)
      |        * CAST(o * n - rt * ct AS DOUBLE)
      |        / CAST(rt * ct AS DOUBLE) / CAST(n AS DOUBLE)
      |        * 1000000.0 + 0.5) AS BIGINT) AS cell
      |  FROM m)
      |SELECT event_type,
      |  CAST(SUM(cell) AS DOUBLE) / 1000000.0 AS chi2,
      |  COUNT(*) AS n_cells
      |FROM cells GROUP BY event_type
      |ORDER BY event_type""".stripMargin

  /** Cramér's V — the [0,1]-normalized effect size of the
    * [[dqChi2]] independence screen (χ² grows with N; V answers
    * "HOW associated are event_type and hour-of-day" on a scale
    * comparable across tables): `V = sqrt(χ²/(N·min(r−1, c−1)))`.
    * The total χ² reuses the chi2 gate's determinism discipline —
    * per-cell terms 1e-6-snapped to longs BEFORE the global sum —
    * and r/c/N are exact counts, so V is ONE fixed expression tree
    * over exact integers ending in IEEE sqrt (correctly rounded,
    * bit-identical across engines).
    *
    * Scale: one map-side-combinable count over (type, hour); all
    * later ops run on the O(types×24) grid. */
  def dqCramersV(s: SparkSession, dir: String): DataFrame = {
    val grid = Tables.events(s, dir)
      .groupBy(col("event_type"), hour(col("ts")).as("h"))
      .agg(count(lit(1)).as("o"))
    val all = Window.partitionBy()
    val byType = Window.partitionBy(col("event_type"))
    val byHour = Window.partitionBy(col("h"))
    grid
      .withColumn("rt", sum(col("o")).over(byType))
      .withColumn("ct", sum(col("o")).over(byHour))
      .withColumn("n", sum(col("o")).over(all))
      .withColumn("dev", col("o") * col("n") - col("rt") * col("ct"))
      .withColumn("cell",
        // dev is cast to DOUBLE BEFORE squaring: |dev| can reach
        // n*min(rt,ct), so the LONG square silently wraps past
        // ~3e9 rows in non-ANSI Spark while the oracle's checked
        // BIGINT raises — divergent failure modes at scale. The
        // double square is exact below 2^53 and the term is
        // 1e-6-snapped right after anyway.
        floor(col("dev").cast(DoubleType) * col("dev").cast(DoubleType)
          / (col("rt") * col("ct")).cast(DoubleType)
          / col("n").cast(DoubleType) * 1000000.0 + 0.5)
          .cast(LongType))
      .agg(max(col("n")).as("n"),
        countDistinct(col("event_type")).as("r"),
        countDistinct(col("h")).as("c"),
        sum(col("cell")).as("chi2_e6"))
      .select(col("n"), col("r"), col("c"), col("chi2_e6"),
        sqrt(col("chi2_e6").cast(DoubleType) / 1000000.0
          / (col("n") * least(col("r") - 1L, col("c") - 1L))
            .cast(DoubleType)).as("cramers_v"))
  }

  val dqCramersVSql: String =
    """WITH grid AS (
      |  SELECT event_type, hour(ts) AS h, COUNT(*) AS o
      |  FROM events GROUP BY event_type, hour(ts)),
      |m AS (
      |  SELECT event_type, h, o,
      |    SUM(o) OVER (PARTITION BY event_type) AS rt,
      |    SUM(o) OVER (PARTITION BY h) AS ct,
      |    SUM(o) OVER () AS n
      |  FROM grid),
      |cells AS (
      |  SELECT n,
      |    CAST(floor(
      |      CAST(o * n - rt * ct AS DOUBLE)
      |        * CAST(o * n - rt * ct AS DOUBLE)
      |        / CAST(rt * ct AS DOUBLE) / CAST(n AS DOUBLE)
      |        * 1000000.0 + 0.5) AS BIGINT) AS cell,
      |    event_type, h
      |  FROM m),
      |tot AS (
      |  SELECT CAST(MAX(n) AS BIGINT) AS n,
      |    COUNT(DISTINCT event_type) AS r,
      |    COUNT(DISTINCT h) AS c,
      |    CAST(SUM(cell) AS BIGINT) AS chi2_e6
      |  FROM cells)
      |SELECT n, r, c, chi2_e6,
      |  sqrt(CAST(chi2_e6 AS DOUBLE) / 1000000.0
      |    / CAST(n * LEAST(r - 1, c - 1) AS DOUBLE)) AS cramers_v
      |FROM tot""".stripMargin

  /** Mutual information I(event_type; hour-of-day) — the
    * information-theoretic companion of [[dqChi2]]/[[dqCramersV]]
    * (χ² tests departure from independence; MI measures it in nats,
    * comparable across tables and directly usable for feature
    * ranking): `I = Σ_cells (o/n)·ln(o·n/(rt·ct))` over the same
    * observed/marginal grid. Per-cell terms (possibly negative) are
    * computed in ONE fixed double tree and 1e-9-snapped to longs
    * BEFORE the global sum — the [[TextAnalysis]] jsDivergence
    * discipline (`floor(x·1e9 + 0.5)` rounds identically for either
    * sign in both engines). Also emits H(type) from the row
    * marginals so callers can normalize (uncertainty coefficient).
    *
    * Scale: one map-combinable count over (type, hour); everything
    * after runs on the O(types×24) grid. */
  def dqMutualInfo(s: SparkSession, dir: String): DataFrame = {
    val grid = Tables.events(s, dir)
      .groupBy(col("event_type"), hour(col("ts")).as("h"))
      .agg(count(lit(1)).as("o"))
    val all = Window.partitionBy()
    val byType = Window.partitionBy(col("event_type"))
    val byHour = Window.partitionBy(col("h"))
    val m = grid
      .withColumn("rt", sum(col("o")).over(byType))
      .withColumn("ct", sum(col("o")).over(byHour))
      .withColumn("n", sum(col("o")).over(all))
    val cells = m.select(
      expr("CAST(floor(CAST(o AS DOUBLE) / CAST(n AS DOUBLE)" +
        " * ln(CAST(o AS DOUBLE) * CAST(n AS DOUBLE)" +
        " / (CAST(rt AS DOUBLE) * CAST(ct AS DOUBLE)))" +
        " * 1000000000.0 + 0.5) AS BIGINT)").as("mi9"),
      expr("CAST(floor(CAST(o AS DOUBLE) / CAST(n AS DOUBLE)" +
        " * ln(CAST(n AS DOUBLE) / CAST(rt AS DOUBLE))" +
        " * 1000000000.0 + 0.5) AS BIGINT)").as("hx9"))
    cells.agg(count(lit(1)).as("n_cells"),
        sum(col("mi9")).as("mi_e9"), sum(col("hx9")).as("hx_e9"))
      .selectExpr("n_cells", "mi_e9",
        "CAST(mi_e9 AS DOUBLE) / 1000000000.0 AS mi_nats",
        "CAST(hx_e9 AS DOUBLE) / 1000000000.0 AS h_type_nats")
  }

  val dqMutualInfoSql: String =
    """WITH grid AS (
      |  SELECT event_type, hour(ts) AS h, COUNT(*) AS o
      |  FROM events GROUP BY event_type, hour(ts)),
      |m AS (
      |  SELECT event_type, h, o,
      |    SUM(o) OVER (PARTITION BY event_type) AS rt,
      |    SUM(o) OVER (PARTITION BY h) AS ct,
      |    SUM(o) OVER () AS n
      |  FROM grid),
      |cells AS (
      |  SELECT
      |    CAST(floor(CAST(o AS DOUBLE) / CAST(n AS DOUBLE)
      |      * ln(CAST(o AS DOUBLE) * CAST(n AS DOUBLE)
      |      / (CAST(rt AS DOUBLE) * CAST(ct AS DOUBLE)))
      |      * 1000000000.0 + 0.5) AS BIGINT) AS mi9,
      |    CAST(floor(CAST(o AS DOUBLE) / CAST(n AS DOUBLE)
      |      * ln(CAST(n AS DOUBLE) / CAST(rt AS DOUBLE))
      |      * 1000000000.0 + 0.5) AS BIGINT) AS hx9
      |  FROM m)
      |SELECT COUNT(*) AS n_cells,
      |  CAST(SUM(mi9) AS BIGINT) AS mi_e9,
      |  CAST(CAST(SUM(mi9) AS BIGINT) AS DOUBLE) / 1000000000.0
      |    AS mi_nats,
      |  CAST(CAST(SUM(hx9) AS BIGINT) AS DOUBLE) / 1000000000.0
      |    AS h_type_nats
      |FROM cells""".stripMargin

  /** Tukey-fence (IQR) outlier screen per event type — the
    * RANK-BASED complement of [[dqAnomaly]]'s z-score and the MAD
    * screen: quartiles are exact DISCRETE percentiles from the value
    * histogram, fences sit at Q1 − 1.5·IQR / Q3 + 1.5·IQR, and the
    * gate counts low/high breaches. Values are 1e-4-snapped to longs
    * FIRST, so quartiles, fences (1.5·IQR as `3·(q3−q1) div 2` —
    * exact), comparisons, and counts are all integer arithmetic:
    * nothing float crosses the gate.
    *
    * Scale: one map-combinable (type, v4) count; quartiles come from
    * histogram-sized windows; the breach count re-joins the tiny
    * per-type fence frame broadcast. */
  def dqIqr(s: SparkSession, dir: String): DataFrame = {
    val snapped = Tables.events(s, dir)
      .select(col("event_type"),
        expr("CAST(floor(value * 10000.0 + 0.5) AS BIGINT)").as("v4"))
    val hist = snapped.groupBy(col("event_type"), col("v4"))
      .agg(count(lit(1)).as("c"))
    val w = Window.partitionBy(col("event_type")).orderBy(col("v4"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val nw = Window.partitionBy(col("event_type"))
    val cum = hist
      .withColumn("cum", sum(col("c")).over(w))
      .withColumn("n", sum(col("c")).over(nw))
    val quart = cum.groupBy(col("event_type"))
      .agg(max(col("n")).as("n"),
        min(when(col("cum") >= expr("(n * 25 + 99L) div 100"),
          col("v4"))).as("q1"),
        min(when(col("cum") >= expr("(n * 75 + 99L) div 100"),
          col("v4"))).as("q3"))
      .selectExpr("event_type", "n", "q1", "q3",
        "q1 - (3L * (q3 - q1)) div 2 AS lo",
        "q3 + (3L * (q3 - q1)) div 2 AS hi")
    snapped.join(broadcast(quart), "event_type")
      .groupBy(col("event_type"), col("n"), col("q1"), col("q3"))
      .agg(sum(when(col("v4") < col("lo"), 1L).otherwise(0L))
          .as("n_low"),
        sum(when(col("v4") > col("hi"), 1L).otherwise(0L))
          .as("n_high"))
      .orderBy(col("event_type"))
  }

  val dqIqrSql: String =
    """WITH snapped AS (
      |  SELECT event_type,
      |    CAST(floor(value * 10000.0 + 0.5) AS BIGINT) AS v4
      |  FROM events),
      |hist AS (
      |  SELECT event_type, v4, COUNT(*) AS c
      |  FROM snapped GROUP BY 1, 2),
      |cum AS (
      |  SELECT event_type, v4,
      |    SUM(c) OVER (PARTITION BY event_type ORDER BY v4
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
      |    SUM(c) OVER (PARTITION BY event_type) AS n
      |  FROM hist),
      |quart AS (
      |  SELECT event_type, CAST(MAX(n) AS BIGINT) AS n,
      |    CAST(MIN(CASE WHEN cum >= (n * 25 + 99) // 100
      |      THEN v4 END) AS BIGINT) AS q1,
      |    CAST(MIN(CASE WHEN cum >= (n * 75 + 99) // 100
      |      THEN v4 END) AS BIGINT) AS q3
      |  FROM cum GROUP BY event_type),
      |fences AS (
      |  SELECT event_type, n, q1, q3,
      |    q1 - (3 * (q3 - q1)) // 2 AS lo,
      |    q3 + (3 * (q3 - q1)) // 2 AS hi
      |  FROM quart)
      |SELECT f.event_type, f.n, f.q1, f.q3,
      |  CAST(SUM(CASE WHEN s.v4 < f.lo THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_low,
      |  CAST(SUM(CASE WHEN s.v4 > f.hi THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_high
      |FROM snapped s JOIN fences f ON f.event_type = s.event_type
      |GROUP BY f.event_type, f.n, f.q1, f.q3
      |ORDER BY f.event_type""".stripMargin

  /** Two-sample Kolmogorov–Smirnov distance between the `value`
    * distributions of two event types, over a FIXED equi-width
    * binning (5000 × 0.1-wide bins) — the histogram formulation: the
    * KS statistic of the binned CDFs, exact w.r.t. the binning by
    * integer cross-multiplication (`max |cum_a·n_b − cum_b·n_a|` —
    * no per-row division, ONE double division at the end). The
    * unbinned statistic needs a global sort of both samples; the
    * binned one is a single map-combinable histogram + an
    * O(bins) window — the 100 TB formulation, with resolution set by
    * bin width, not data size.
    *
    * Emits the exact integer numerator alongside the double `ks_d`
    * so the gate pins the integer path, not float luck. */
  def dqKs(s: SparkSession, dir: String,
      typeA: String = "click", typeB: String = "purchase"): DataFrame = {
    val ev = Tables.events(s, dir)
      .filter(col("event_type").isin(typeA, typeB))
      .select(col("event_type"),
        floor(col("value") * 10.0).cast(LongType).as("bin"))
    val hist = ev.groupBy(col("bin"))
      .agg(
        sum(when(col("event_type") === typeA, 1L).otherwise(0L)).as("a"),
        sum(when(col("event_type") === typeB, 1L).otherwise(0L)).as("b"))
    val w = Window.orderBy(col("bin"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val all = Window.partitionBy()
    hist
      .withColumn("ca", sum(col("a")).over(w))
      .withColumn("cb", sum(col("b")).over(w))
      .withColumn("na", sum(col("a")).over(all))
      .withColumn("nb", sum(col("b")).over(all))
      .select(abs(col("ca") * col("nb") - col("cb") * col("na"))
          .as("dev"),
        col("na"), col("nb"))
      .groupBy(col("na"), col("nb"))
      .agg(max(col("dev")).as("d_num"))
      .select(col("na").as("n_a"), col("nb").as("n_b"), col("d_num"),
        (col("d_num").cast(DoubleType)
          / (col("na") * col("nb")).cast(DoubleType)).as("ks_d"))
  }

  val dqKsSql: String =
    """WITH binned AS (
      |  SELECT event_type,
      |    CAST(floor(value * 10.0) AS BIGINT) AS bin
      |  FROM events WHERE event_type IN ('click', 'purchase')),
      |hist AS (
      |  SELECT bin,
      |    SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS a,
      |    SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS b
      |  FROM binned GROUP BY bin),
      |cum AS (
      |  SELECT
      |    SUM(a) OVER (ORDER BY bin
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ca,
      |    SUM(b) OVER (ORDER BY bin
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cb,
      |    SUM(a) OVER () AS na,
      |    SUM(b) OVER () AS nb
      |  FROM hist)
      |SELECT CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b,
      |  CAST(MAX(abs(ca * nb - cb * na)) AS BIGINT) AS d_num,
      |  CAST(MAX(abs(ca * nb - cb * na)) AS DOUBLE)
      |    / CAST(na * nb AS DOUBLE) AS ks_d
      |FROM cum GROUP BY na, nb""".stripMargin

  /** k-anonymity audit — the release-gate privacy check that pairs
    * with the PII scrub: under quasi-identifiers (nation, market
    * segment), how many equivalence classes fall below k=5 members,
    * i.e. how many customers a joining adversary could narrow to a
    * handful of candidates. Reports class counts, the rows at risk,
    * and the worst (smallest) class — the numbers a privacy review
    * asks for before any record-level export.
    *
    * Scale: ONE map-combinable groupBy on the quasi-identifier tuple
    * followed by an O(classes) summary aggregate; nothing row-wise
    * leaves the first reduce. */
  def kAnonymity(s: SparkSession, dir: String, k: Int = 5): DataFrame =
    Tables.customer(s, dir)
      .groupBy(col("c_nationkey"), col("c_mktsegment"))
      .agg(count(lit(1)).as("n"))
      .agg(count(lit(1)).as("n_classes"),
        sum(when(col("n") < k, 1L).otherwise(0L)).as("risky_classes"),
        sum(when(col("n") < k, col("n")).otherwise(0L)).as("risky_rows"),
        min(col("n")).as("min_class"),
        max(col("n")).as("max_class"))

  val kAnonymitySql: String =
    """WITH cls AS (
      |  SELECT c_nationkey, c_mktsegment, COUNT(*) AS n
      |  FROM customer GROUP BY c_nationkey, c_mktsegment)
      |SELECT CAST(COUNT(*) AS BIGINT) AS n_classes,
      |  CAST(SUM(CASE WHEN n < 5 THEN 1 ELSE 0 END) AS BIGINT)
      |    AS risky_classes,
      |  CAST(SUM(CASE WHEN n < 5 THEN n ELSE 0 END) AS BIGINT)
      |    AS risky_rows,
      |  MIN(n) AS min_class, MAX(n) AS max_class
      |FROM cls""".stripMargin

  /** Per-stream freshness / SLA audit — the first pipeline-health
    * question on any ingestion dashboard: how far behind the most
    * recent data is each event stream? "Now" is the corpus-wide max
    * timestamp (the deterministic stand-in for wall clock, so the
    * gate is replayable); lag is exact integer seconds.
    *
    * Scale: one map-combinable (type → max ts) aggregate + a
    * broadcast one-row join; at 100 TB this is a metadata pass over
    * parquet footer stats if the table is date-partitioned. */
  def freshness(s: SparkSession, dir: String,
      slaSec: Long = 3600): DataFrame = {
    val ev = Tables.events(s, dir)
    val last = ev.groupBy(col("event_type"))
      .agg(max(col("ts")).as("last_ts"))
    val now = ev.agg(max(col("ts")).as("now_ts"))
    last.crossJoin(broadcast(now))
      .select(col("event_type"), col("last_ts"),
        expr("(unix_micros(now_ts) - unix_micros(last_ts)) div 1000000")
          .as("lag_sec"))
      .withColumn("in_sla", col("lag_sec") <= slaSec)
      .orderBy(col("event_type"))
  }

  val freshnessSql: String =
    """WITH last AS (
      |  SELECT event_type, MAX(ts) AS last_ts FROM events
      |  GROUP BY event_type),
      |now_ts AS (SELECT MAX(ts) AS n FROM events)
      |SELECT event_type, last_ts,
      |  CAST((epoch_us(n) - epoch_us(last_ts)) // 1000000
      |    AS BIGINT) AS lag_sec,
      |  (epoch_us(n) - epoch_us(last_ts)) // 1000000 <= 3600 AS in_sla
      |FROM last CROSS JOIN now_ts
      |ORDER BY event_type""".stripMargin

  // ---------------------------------------------------------------- //

  /** Functional-dependency audit — the schema-profiling primitive
    * behind key discovery and denormalization checks (Papenbrock et
    * al., VLDB'15 surveys the exact-FD family): for each candidate
    * `lhs → rhs`, how many lhs groups exist, how many VIOLATE the
    * dependency (more than one distinct rhs), and the worst group's
    * rhs fan-out. A dependency holds iff no group violates.
    *
    * Scale: each candidate is one (lhs, rhs)-distinct groupBy then an
    * O(distinct lhs) re-aggregate — both map-combinable; candidates
    * run independently (no cross-candidate shuffle). countDistinct
    * compiles to the two-level expand Spark plans natively; at 100 TB
    * the same statement accepts approx_count_distinct per candidate
    * where exactness is not required. */
  def fdCheck(s: SparkSession, dir: String): DataFrame = {
    def audit(df: DataFrame, lhs: String, rhs: String): DataFrame =
      df.groupBy(col(lhs)).agg(countDistinct(col(rhs)).as("k"))
        .agg(count(lit(1)).as("n_lhs"),
          sum(when(col("k") > 1, 1L).otherwise(0L)).as("n_violating"),
          max(col("k")).as("max_fanout"))
        .select(lit(s"$lhs->$rhs").as("fd"), col("n_lhs"),
          col("n_violating"), col("max_fanout"),
          when(col("n_violating") === 0, 1L).otherwise(0L).as("holds"))
    val li = Tables.lineitem(s, dir)
    val o = Tables.orders(s, dir)
    audit(li, "l_orderkey", "l_returnflag")
      .unionAll(audit(li, "l_partkey", "l_suppkey"))
      .unionAll(audit(o, "o_custkey", "o_orderpriority"))
      .orderBy(col("fd"))
  }

  val fdCheckSql: String =
    """WITH c1 AS (
      |  SELECT l_orderkey AS lhs, COUNT(DISTINCT l_returnflag) AS k
      |  FROM lineitem GROUP BY l_orderkey),
      |c2 AS (
      |  SELECT l_partkey AS lhs, COUNT(DISTINCT l_suppkey) AS k
      |  FROM lineitem GROUP BY l_partkey),
      |c3 AS (
      |  SELECT o_custkey AS lhs, COUNT(DISTINCT o_orderpriority) AS k
      |  FROM orders GROUP BY o_custkey),
      |a AS (
      |  SELECT 'l_orderkey->l_returnflag' AS fd, COUNT(*) AS n_lhs,
      |    CAST(SUM(CASE WHEN k > 1 THEN 1 ELSE 0 END) AS BIGINT)
      |      AS n_violating,
      |    CAST(MAX(k) AS BIGINT) AS max_fanout
      |  FROM c1
      |  UNION ALL
      |  SELECT 'l_partkey->l_suppkey', COUNT(*),
      |    CAST(SUM(CASE WHEN k > 1 THEN 1 ELSE 0 END) AS BIGINT),
      |    CAST(MAX(k) AS BIGINT)
      |  FROM c2
      |  UNION ALL
      |  SELECT 'o_custkey->o_orderpriority', COUNT(*),
      |    CAST(SUM(CASE WHEN k > 1 THEN 1 ELSE 0 END) AS BIGINT),
      |    CAST(MAX(k) AS BIGINT)
      |  FROM c3)
      |SELECT fd, n_lhs, n_violating, max_fanout,
      |  CAST(CASE WHEN n_violating = 0 THEN 1 ELSE 0 END AS BIGINT)
      |    AS holds
      |FROM a ORDER BY fd""".stripMargin

  /** Order-invariant table checksums — the migration-validation
    * primitive (pt-table-checksum's core idea): per table, a row
    * count, a commutative SUM of a portable key mix, and an exact
    * value sum. Any dropped/duplicated/mutated row flips a
    * component; partitioning, row order, and cluster size cannot —
    * every term is per-row and the combiner is +.
    *
    * The key mix splits k at 2²⁰ before multiplying
    * (`(k%2²⁰)·2654435761 + (k div 2²⁰)·40503, mod 2³²`) so the
    * intermediate product never exceeds 2⁶³ for ANY 63-bit key —
    * DuckDB BIGINT arithmetic is overflow-checked, so staying exact
    * matters on both engines. Values go through the DECIMAL cents
    * discipline.
    *
    * Scale: one map-combinable aggregate per table, no shuffle
    * beyond the final 1-row-per-table combine. */
  def tableChecksum(s: SparkSession, dir: String): DataFrame = {
    val mix = "((k % 1048576) * 2654435761 + (k div 1048576) * 40503)" +
      " % 4294967296"
    def fp(df: DataFrame, name: String, key: Column,
        cents: Column): DataFrame =
      df.select(key.as("k"), cents.as("cents"))
        .agg(count(lit(1)).as("n_rows"),
          sum(expr(mix)).as("key_mix_sum"),
          sum(col("cents")).as("cents_sum"))
        .select(lit(name).as("tbl"), col("n_rows"),
          col("key_mix_sum"), col("cents_sum"))
    val o = Tables.orders(s, dir)
    val l = Tables.lineitem(s, dir)
    fp(l, "lineitem", col("l_orderkey") * 16 + col("l_linenumber"),
        (col("l_extendedprice").cast(DecimalType(18, 2)) * 100)
          .cast(LongType))
      .unionAll(fp(o, "orders", col("o_orderkey"),
        (col("o_totalprice").cast(DecimalType(18, 2)) * 100)
          .cast(LongType)))
      .orderBy(col("tbl"))
  }

  val tableChecksumSql: String =
    """WITH l AS (
      |  SELECT l_orderkey * 16 + l_linenumber AS k,
      |    CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100
      |      AS BIGINT) AS cents
      |  FROM lineitem),
      |o AS (
      |  SELECT o_orderkey AS k,
      |    CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
      |      AS cents
      |  FROM orders),
      |f AS (
      |  SELECT 'lineitem' AS tbl, COUNT(*) AS n_rows,
      |    CAST(SUM(((k % 1048576) * 2654435761
      |      + (k // 1048576) * 40503) % 4294967296) AS BIGINT)
      |      AS key_mix_sum,
      |    CAST(SUM(cents) AS BIGINT) AS cents_sum
      |  FROM l
      |  UNION ALL
      |  SELECT 'orders', COUNT(*),
      |    CAST(SUM(((k % 1048576) * 2654435761
      |      + (k // 1048576) * 40503) % 4294967296) AS BIGINT),
      |    CAST(SUM(cents) AS BIGINT)
      |  FROM o)
      |SELECT tbl, n_rows, key_mix_sum, cents_sum
      |FROM f ORDER BY tbl""".stripMargin

  /** l-diversity audit (Machanavajjhala et al., ICDE'06) — the
    * k-anonymity complement: a quasi-identifier group that is
    * k-anonymous but holds ONE sensitive value still leaks it.
    * Groups customers by the (mktsegment, nationkey) quasi-identifier
    * and counts DISTINCT sensitive values (balance band) per group;
    * the output is the l-histogram — groups at l = 1 are the
    * disclosure risk.
    *
    * Scale: one distinct-groupBy + one O(groups) re-aggregate, both
    * map-combinable; no row-level data leaves the QI shuffle. */
  def lDiversity(s: SparkSession, dir: String): DataFrame =
    Tables.customer(s, dir)
      .select(col("c_mktsegment"), col("c_nationkey"),
        expr("CAST(floor(c_acctbal / 1000.0) AS BIGINT)").as("sens"))
      .groupBy(col("c_mktsegment"), col("c_nationkey"))
      .agg(countDistinct(col("sens")).as("l"),
        count(lit(1)).as("grp_n"))
      .groupBy(col("l"))
      .agg(count(lit(1)).as("n_groups"), sum(col("grp_n")).as("n_rows"))
      .orderBy(col("l"))

  val lDiversitySql: String =
    """WITH g AS (
      |  SELECT c_mktsegment, c_nationkey,
      |    COUNT(DISTINCT CAST(floor(c_acctbal / 1000.0) AS BIGINT))
      |      AS l,
      |    COUNT(*) AS grp_n
      |  FROM customer GROUP BY c_mktsegment, c_nationkey)
      |SELECT l, COUNT(*) AS n_groups,
      |  CAST(SUM(grp_n) AS BIGINT) AS n_rows
      |FROM g GROUP BY l ORDER BY l""".stripMargin

  /** Inclusion-dependency audit — the FOREIGN-KEY discovery
    * complement of [[fdCheck]]: for each candidate `child ⊆ parent`,
    * how many distinct child values exist, how many are ORPHANS
    * (absent from the parent key set), and whether the inclusion
    * holds. The profiling pass that finds joinable columns and
    * broken referential integrity in one sweep.
    *
    * Scale: each candidate is distinct-reduce on both sides then a
    * key-partitioned LEFT ANTI join — child distincts shuffle once,
    * parent key sets broadcast when dimension-sized; candidates run
    * independently. */
  def inclusionDep(s: SparkSession, dir: String): DataFrame = {
    def audit(child: DataFrame, ck: String, parent: DataFrame,
        pk: String, name: String): DataFrame = {
      val c = child.select(col(ck).cast(LongType).as("k")).distinct()
      val p = parent.select(col(pk).cast(LongType).as("k")).distinct()
      val orphans = c.join(p, Seq("k"), "left_anti")
      c.agg(count(lit(1)).as("n_child"))
        .crossJoin(orphans.agg(count(lit(1)).as("n_orphans")))
        .select(lit(name).as("ind"), col("n_child"),
          col("n_orphans"),
          when(col("n_orphans") === 0, 1L).otherwise(0L).as("holds"))
    }
    val li = Tables.lineitem(s, dir)
    val o = Tables.orders(s, dir)
    val c = Tables.customer(s, dir)
    val su = Tables.supplier(s, dir)
    audit(li, "l_orderkey", o, "o_orderkey", "lineitem.l_orderkey<=orders.o_orderkey")
      .unionAll(audit(o, "o_custkey", c, "c_custkey",
        "orders.o_custkey<=customer.c_custkey"))
      .unionAll(audit(li, "l_suppkey", su, "s_suppkey",
        "lineitem.l_suppkey<=supplier.s_suppkey"))
      .orderBy(col("ind"))
  }

  val inclusionDepSql: String =
    """WITH a AS (
      |  SELECT 'lineitem.l_orderkey<=orders.o_orderkey' AS ind,
      |    (SELECT COUNT(DISTINCT l_orderkey) FROM lineitem)
      |      AS n_child,
      |    (SELECT COUNT(*) FROM
      |      (SELECT DISTINCT l_orderkey FROM lineitem
      |       WHERE l_orderkey NOT IN
      |         (SELECT o_orderkey FROM orders))) AS n_orphans
      |  UNION ALL
      |  SELECT 'orders.o_custkey<=customer.c_custkey',
      |    (SELECT COUNT(DISTINCT o_custkey) FROM orders),
      |    (SELECT COUNT(*) FROM
      |      (SELECT DISTINCT o_custkey FROM orders
      |       WHERE o_custkey NOT IN
      |         (SELECT c_custkey FROM customer)))
      |  UNION ALL
      |  SELECT 'lineitem.l_suppkey<=supplier.s_suppkey',
      |    (SELECT COUNT(DISTINCT l_suppkey) FROM lineitem),
      |    (SELECT COUNT(*) FROM
      |      (SELECT DISTINCT l_suppkey FROM lineitem
      |       WHERE l_suppkey NOT IN
      |         (SELECT s_suppkey FROM supplier))))
      |SELECT ind, CAST(n_child AS BIGINT) AS n_child,
      |  CAST(n_orphans AS BIGINT) AS n_orphans,
      |  CAST(CASE WHEN n_orphans = 0 THEN 1 ELSE 0 END AS BIGINT)
      |    AS holds
      |FROM a ORDER BY ind""".stripMargin

  /** Gini coefficient of per-customer spend — the inequality /
    * concentration index a pipeline computes before choosing a
    * partitioning or sampling strategy (G near 1 ⇒ a few heavy keys
    * dominate ⇒ salting/skew-join territory; the scalar complement
    * of [[Skew]]'s per-key diagnostics). Uses the classic rank form
    * G = (2·Σᵢ i·xᵢ) / (n·Σx) − (n+1)/n over ascending-sorted spend.
    *
    * Ranks come from a cumulative VALUE HISTOGRAM, not a per-row
    * global sort: for a value v with count c and C rows strictly
    * below, Σ of its ranks is c·C + c(c+1)/2, so Σᵢ i·xᵢ folds per
    * distinct value. All accumulation is exact (cents BIGINT, rank
    * products DECIMAL(38,0) — v·c·C overflows BIGINT at corpus
    * scale, decimal/HUGEINT does not); the final ratio is ONE
    * fixed-shape double over exact integers, floored to ppm.
    *
    * Scale: the corpus shuffles once (groupBy custkey); the
    * histogram window runs over DISTINCT spend values — bounded by
    * the value domain, not the row count. */
  def gini(s: SparkSession, dir: String): DataFrame = {
    val spend = Tables.orders(s, dir)
      .groupBy(col("o_custkey"))
      .agg(sum(expr("CAST(ROUND(o_totalprice * 100) AS BIGINT)"))
        .as("cents"))
    val hist = spend.groupBy(col("cents")).agg(count(lit(1)).as("c"))
    val w = Window.orderBy(col("cents"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    hist
      .withColumn("cum", sum(col("c")).over(w))
      .select(
        (col("cum") - col("c")).as("below"), col("cents"), col("c"))
      .agg(
        sum(col("c")).as("n"),
        sum(col("cents").cast(DecimalType(38, 0)) * col("c")).as("s"),
        // c(c+1) is even, so the rank-sum term stays exact BIGINT
        sum(col("cents").cast(DecimalType(38, 0)) *
          expr("below * c + (c * (c + 1)) div 2")).as("a"))
      .select(col("n"),
        col("s").cast(LongType).as("total_cents"),
        expr("""CAST(FLOOR(
          (2.0 * CAST(a AS DOUBLE) / (CAST(n AS DOUBLE) * CAST(s AS DOUBLE))
           - (CAST(n AS DOUBLE) + 1.0) / CAST(n AS DOUBLE))
          * 1000000.0) AS BIGINT)""").as("gini_ppm"))
  }

  val giniSql: String =
    """WITH spend AS (
      |  SELECT o_custkey,
      |    CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT))
      |      AS BIGINT) AS cents
      |  FROM orders GROUP BY o_custkey),
      |hist AS (
      |  SELECT cents, CAST(COUNT(*) AS BIGINT) AS c FROM spend
      |  GROUP BY cents),
      |cum AS (
      |  SELECT cents, c,
      |    CAST(SUM(c) OVER (ORDER BY cents) - c AS BIGINT) AS below
      |  FROM hist),
      |agg AS (
      |  SELECT CAST(SUM(c) AS BIGINT) AS n,
      |    SUM(CAST(cents AS HUGEINT) * c) AS s,
      |    SUM(CAST(cents AS HUGEINT) *
      |      (below * c + (c * (c + 1)) // 2)) AS a
      |  FROM cum)
      |SELECT n, CAST(s AS BIGINT) AS total_cents,
      |  CAST(FLOOR(
      |    (2.0 * CAST(a AS DOUBLE) / (CAST(n AS DOUBLE) * CAST(s AS DOUBLE))
      |     - (CAST(n AS DOUBLE) + 1.0) / CAST(n AS DOUBLE))
      |    * 1000000.0) AS BIGINT) AS gini_ppm
      |FROM agg""".stripMargin

  /** k-anonymity ENFORCEMENT by ladder generalization — the active
    * complement of the `dq_k_anonymity` audit: walk a fixed
    * coarsening ladder over the (nation, segment) quasi-identifier
    * — L0 exact, L1 nation→region(÷5), L2 also segment→'*', L3 all
    * '*' — and report each level's group landscape plus which level
    * is the FIRST to satisfy k=50 (the release level). Standard
    * global-recoding anonymization, stated declaratively.
    *
    * Scale: each level is one map-combinable groupBy over a 2-column
    * projection; the ladder is 4 fixed passes (or one pass with
    * grouping sets at the cost of clarity); output is 4 rows. */
  def generalizeK(s: SparkSession, dir: String, k: Int = 50): DataFrame = {
    val c = Tables.customer(s, dir)
    def level(lvl: Int, nat: Column, seg: Column): DataFrame =
      c.select(nat.as("qn"), seg.as("qs"))
        .groupBy(col("qn"), col("qs")).agg(count(lit(1)).as("g"))
        .agg(count(lit(1)).as("n_groups"), min(col("g")).as("min_group"))
        .select(lit(lvl.toLong).as("level"), col("n_groups"),
          col("min_group"), (col("min_group") >= k).as("meets_k"))
    val levels = level(0, col("c_nationkey").cast(LongType),
        col("c_mktsegment"))
      .unionByName(level(1, expr("CAST(c_nationkey div 5 AS BIGINT)"),
        col("c_mktsegment")))
      .unionByName(level(2, expr("CAST(c_nationkey div 5 AS BIGINT)"),
        lit("*")))
      .unionByName(level(3, lit(-1L), lit("*")))
    val chosen = levels.filter(col("meets_k"))
      .agg(min(col("level")).as("first_ok"))
    levels.crossJoin(broadcast(chosen))
      .select(col("level"), col("n_groups"), col("min_group"),
        col("meets_k"), (col("level") === col("first_ok")).as("release"))
      .orderBy(col("level"))
  }

  val generalizeKSql: String =
    """WITH l0 AS (
      |  SELECT CAST(0 AS BIGINT) AS level,
      |    CAST(COUNT(*) AS BIGINT) AS n_groups,
      |    CAST(MIN(g) AS BIGINT) AS min_group
      |  FROM (SELECT COUNT(*) AS g FROM customer
      |        GROUP BY c_nationkey, c_mktsegment)),
      |l1 AS (
      |  SELECT CAST(1 AS BIGINT), CAST(COUNT(*) AS BIGINT),
      |    CAST(MIN(g) AS BIGINT)
      |  FROM (SELECT COUNT(*) AS g FROM customer
      |        GROUP BY c_nationkey // 5, c_mktsegment)),
      |l2 AS (
      |  SELECT CAST(2 AS BIGINT), CAST(COUNT(*) AS BIGINT),
      |    CAST(MIN(g) AS BIGINT)
      |  FROM (SELECT COUNT(*) AS g FROM customer
      |        GROUP BY c_nationkey // 5)),
      |l3 AS (
      |  SELECT CAST(3 AS BIGINT), CAST(COUNT(*) AS BIGINT),
      |    CAST(MIN(g) AS BIGINT)
      |  FROM (SELECT COUNT(*) AS g FROM customer)),
      |levels AS (
      |  SELECT * FROM l0 UNION ALL SELECT * FROM l1
      |  UNION ALL SELECT * FROM l2 UNION ALL SELECT * FROM l3),
      |chosen AS (
      |  SELECT MIN(level) AS first_ok FROM levels
      |  WHERE min_group >= 50)
      |SELECT level, n_groups, min_group,
      |  min_group >= 50 AS meets_k, level = first_ok AS release
      |FROM levels, chosen
      |ORDER BY level""".stripMargin

  /** Outlier ENSEMBLE over the daily-revenue series: a day is
    * anomalous only when at least 2 of 3 independent exact screens
    * agree — |x−median| > 3·MAD, outside the 1.5·IQR Tukey fences,
    * or outside the discrete p05/p95 band. Single-screen alarms are
    * noisy in opposite ways (MAD under-flags bimodal series, IQR
    * over-flags heavy tails); the production practice is the vote.
    * Every fence is a discrete observed value from a cumulative
    * value histogram; all comparisons are exact BIGINTs — no screen
    * touches a double.
    *
    * Scale: the corpus collapses to O(days) in one groupBy; both
    * histogram windows run over the bounded day/value domain. */
  def outlierEnsemble(s: SparkSession, dir: String): DataFrame = {
    val daily = Tables.orders(s, dir)
      .groupBy(to_date(col("o_orderdate")).as("day"))
      .agg(sum(expr("CAST(ROUND(o_totalprice * 100) AS BIGINT)"))
        .as("cents"))
    val n = daily.agg(count(lit(1)).as("n"))
    val w = Window.orderBy(col("cents"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val q = daily.groupBy(col("cents")).agg(count(lit(1)).as("c"))
      .withColumn("cum", sum(col("c")).over(w))
      .crossJoin(broadcast(n))
      .agg(
        min(when(col("cum") >= expr("(n + 1) div 2"), col("cents")))
          .as("med"),
        min(when(col("cum") >= expr("(n * 25 + 99) div 100"),
          col("cents"))).as("q1"),
        min(when(col("cum") >= expr("(n * 75 + 99) div 100"),
          col("cents"))).as("q3"),
        min(when(col("cum") >= expr("(n * 5 + 99) div 100"),
          col("cents"))).as("p05"),
        min(when(col("cum") >= expr("(n * 95 + 99) div 100"),
          col("cents"))).as("p95"))
    val wd = Window.orderBy(col("adev"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val mad = daily.crossJoin(broadcast(q))
      .select(abs(col("cents") - col("med")).as("adev"))
      .groupBy(col("adev")).agg(count(lit(1)).as("c"))
      .withColumn("cum", sum(col("c")).over(wd))
      .crossJoin(broadcast(n))
      .agg(min(when(col("cum") >= expr("(n + 1) div 2"), col("adev")))
        .as("mad"))
    daily.crossJoin(broadcast(q)).crossJoin(broadcast(mad))
      .select(col("day"), col("cents"),
        (abs(col("cents") - col("med")) > col("mad") * 3).as("f_mad"),
        (col("cents") < expr("q1 - (3 * (q3 - q1)) div 2") ||
          col("cents") > expr("q3 + (3 * (q3 - q1)) div 2")).as("f_iqr"),
        (col("cents") < col("p05") || col("cents") > col("p95"))
          .as("f_pct"))
      .withColumn("n_flags",
        expr("CAST(f_mad AS BIGINT) + CAST(f_iqr AS BIGINT) + " +
          "CAST(f_pct AS BIGINT)"))
      .filter(col("n_flags") >= 2)
      .orderBy(col("day"))
  }

  val outlierEnsembleSql: String =
    """WITH daily AS (
      |  SELECT CAST(date_trunc('day', o_orderdate) AS DATE) AS day,
      |    CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT))
      |      AS BIGINT) AS cents
      |  FROM orders GROUP BY 1),
      |n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM daily),
      |cum AS (
      |  SELECT h.cents, SUM(h.c) OVER (ORDER BY h.cents) AS cum, n.n
      |  FROM (SELECT cents, COUNT(*) AS c FROM daily GROUP BY cents)
      |    h, n),
      |q AS (
      |  SELECT
      |    CAST(MIN(CASE WHEN cum >= (n + 1) // 2 THEN cents END)
      |      AS BIGINT) AS med,
      |    CAST(MIN(CASE WHEN cum >= (n * 25 + 99) // 100 THEN cents
      |      END) AS BIGINT) AS q1,
      |    CAST(MIN(CASE WHEN cum >= (n * 75 + 99) // 100 THEN cents
      |      END) AS BIGINT) AS q3,
      |    CAST(MIN(CASE WHEN cum >= (n * 5 + 99) // 100 THEN cents
      |      END) AS BIGINT) AS p05,
      |    CAST(MIN(CASE WHEN cum >= (n * 95 + 99) // 100 THEN cents
      |      END) AS BIGINT) AS p95
      |  FROM cum),
      |dcum AS (
      |  SELECT h.adev, SUM(h.c) OVER (ORDER BY h.adev) AS cum, n.n
      |  FROM (SELECT abs(d.cents - q.med) AS adev, COUNT(*) AS c
      |        FROM daily d, q GROUP BY 1) h, n),
      |mad AS (
      |  SELECT CAST(MIN(CASE WHEN cum >= (n + 1) // 2 THEN adev END)
      |    AS BIGINT) AS mad FROM dcum),
      |flagged AS (
      |  SELECT d.day, d.cents,
      |    abs(d.cents - q.med) > mad.mad * 3 AS f_mad,
      |    (d.cents < q.q1 - (3 * (q.q3 - q.q1)) // 2 OR
      |     d.cents > q.q3 + (3 * (q.q3 - q.q1)) // 2) AS f_iqr,
      |    (d.cents < q.p05 OR d.cents > q.p95) AS f_pct
      |  FROM daily d, q, mad)
      |SELECT day, cents, f_mad, f_iqr, f_pct,
      |  CAST(CAST(f_mad AS BIGINT) + CAST(f_iqr AS BIGINT)
      |    + CAST(f_pct AS BIGINT) AS BIGINT) AS n_flags
      |FROM flagged
      |WHERE CAST(f_mad AS BIGINT) + CAST(f_iqr AS BIGINT)
      |  + CAST(f_pct AS BIGINT) >= 2
      |ORDER BY day""".stripMargin

  /** Candidate-KEY discovery — profile every orders column for
    * uniqueness: n_distinct, null count, and the is-unique verdict
    * (distinct + nulls = rows). The audit that finds the join/merge
    * key when a table arrives undocumented — `dq_uniqueness` checks
    * a DECLARED key; this one searches. All six columns profile in
    * ONE pass of count_distinct aggregates (map-side partials), no
    * per-column scans.
    *
    * Exact-distinct note: count_distinct here, not approx — key
    * discovery is wrong if the cardinality is approximate. */
  def keyDiscovery(s: SparkSession, dir: String): DataFrame = {
    val cols = Seq("o_orderkey", "o_custkey", "o_orderstatus",
      "o_totalprice", "o_orderdate", "o_orderpriority")
    val aggs = cols.flatMap { c =>
      Seq(countDistinct(col(c)).as(s"d_$c"),
        sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"n_$c"))
    } :+ count(lit(1)).as("rows")
    val r = Tables.orders(s, dir).agg(aggs.head, aggs.tail: _*).head()
    import s.implicits._
    cols.map { c =>
      val d = r.getAs[Long](s"d_$c")
      val nn = r.getAs[Long](s"n_$c")
      (c, d, nn, d + nn == r.getAs[Long]("rows"))
    }.toDF("col_name", "n_distinct", "n_nulls", "is_unique")
      .orderBy(col("col_name"))
  }

  val keyDiscoverySql: String =
    """WITH p AS (
      |  SELECT COUNT(*) AS rows_n,
      |    COUNT(DISTINCT o_orderkey) AS d1,
      |    CAST(SUM(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END)
      |      AS BIGINT) AS n1,
      |    COUNT(DISTINCT o_custkey) AS d2,
      |    CAST(SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END)
      |      AS BIGINT) AS n2,
      |    COUNT(DISTINCT o_orderstatus) AS d3,
      |    CAST(SUM(CASE WHEN o_orderstatus IS NULL THEN 1 ELSE 0 END)
      |      AS BIGINT) AS n3,
      |    COUNT(DISTINCT o_totalprice) AS d4,
      |    CAST(SUM(CASE WHEN o_totalprice IS NULL THEN 1 ELSE 0 END)
      |      AS BIGINT) AS n4,
      |    COUNT(DISTINCT o_orderdate) AS d5,
      |    CAST(SUM(CASE WHEN o_orderdate IS NULL THEN 1 ELSE 0 END)
      |      AS BIGINT) AS n5,
      |    COUNT(DISTINCT o_orderpriority) AS d6,
      |    CAST(SUM(CASE WHEN o_orderpriority IS NULL THEN 1 ELSE 0
      |      END) AS BIGINT) AS n6
      |  FROM orders)
      |SELECT 'o_custkey' AS col_name, d2 AS n_distinct, n2 AS n_nulls,
      |  d2 + n2 = rows_n AS is_unique FROM p
      |UNION ALL SELECT 'o_orderdate', d5, n5, d5 + n5 = rows_n FROM p
      |UNION ALL SELECT 'o_orderkey', d1, n1, d1 + n1 = rows_n FROM p
      |UNION ALL
      |SELECT 'o_orderpriority', d6, n6, d6 + n6 = rows_n FROM p
      |UNION ALL
      |SELECT 'o_orderstatus', d3, n3, d3 + n3 = rows_n FROM p
      |UNION ALL
      |SELECT 'o_totalprice', d4, n4, d4 + n4 = rows_n FROM p
      |ORDER BY col_name""".stripMargin

  /** HLL++ cardinality-estimate error audit — the calibration check
    * behind every `approx_count_distinct` this engine serves
    * (q37/q41's sketches): for a fixed probe set of high- and
    * low-cardinality keys, compute the EXACT distinct count and the
    * HLL++ estimate side by side and assert the relative error is
    * inside 15% (3× the default 5% rsd — a bound the sketch clears
    * with enormous margin, so the boolean is stable). The estimate
    * itself is deterministic (hash-max sketch, order- and
    * partition-independent) but implementation-specific, so the
    * emitted columns are the exact count and the BOUND boolean —
    * facts the oracle can state.
    *
    * Scale: the exact side is one distinct-shuffle per probe at gate
    * scale (the audit needs the truth); the HLL side is the O(1)-
    * state single-pass path you actually run at 100 TB. */
  def hllError(s: SparkSession, dir: String): DataFrame = {
    def probe(df: DataFrame, name: String, c: String): DataFrame =
      df.agg(countDistinct(col(c)).as("exact_distinct"),
          approx_count_distinct(col(c)).as("approx"))
        .select(lit(name).as("probe"), col("exact_distinct"),
          (abs(col("approx") - col("exact_distinct"))
            .cast(DoubleType)
            <= lit(0.15) * col("exact_distinct").cast(DoubleType))
            .as("within_15pct"))
    probe(Tables.lineitem(s, dir), "lineitem.l_partkey", "l_partkey")
      .unionByName(probe(Tables.orders(s, dir),
        "orders.o_custkey", "o_custkey"))
      .unionByName(probe(Tables.events(s, dir),
        "events.user_id", "user_id"))
      .unionByName(probe(Tables.documents(s, dir),
        "documents.source", "source"))
      .orderBy(col("probe"))
  }

  val hllErrorSql: String =
    """SELECT probe, exact_distinct, TRUE AS within_15pct FROM (
      |  SELECT 'lineitem.l_partkey' AS probe,
      |    CAST(COUNT(DISTINCT l_partkey) AS BIGINT) AS exact_distinct
      |  FROM lineitem
      |  UNION ALL
      |  SELECT 'orders.o_custkey',
      |    CAST(COUNT(DISTINCT o_custkey) AS BIGINT) FROM orders
      |  UNION ALL
      |  SELECT 'events.user_id',
      |    CAST(COUNT(DISTINCT user_id) AS BIGINT) FROM events
      |  UNION ALL
      |  SELECT 'documents.source',
      |    CAST(COUNT(DISTINCT source) AS BIGINT) FROM documents)
      |ORDER BY probe""".stripMargin

  /** Poisson c-chart volume monitoring (Shewhart control charts —
    * the pipeline-health alarm behind "did yesterday's load look
    * right"): per event type, flag days whose count leaves the
    * mean ± 3√mean band. The test runs in EXACT integers via
    * cross-multiplication — with T = Σx and D = days, "x outside
    * band" ⇔ (x·D − T)² > 9·T·D — so no sqrt or division ever
    * crosses engines, and the boundary day is classified
    * identically by construction.
    *
    * Scale: one map-combinable (type, day) count + one (type)
    * reduce + one re-join of the O(types) stats — two passes over
    * the tiny grid, zero corpus re-scan. */
  def controlChart(s: SparkSession, dir: String): DataFrame = {
    val daily = Tables.events(s, dir)
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("x"))
    val stats = daily.groupBy(col("event_type"))
      .agg(count(lit(1)).as("d"), sum(col("x")).as("t"))
    daily.join(broadcast(stats), "event_type")
      .select(col("event_type"), col("d"), col("t"),
        (col("x") * col("d") - col("t")).as("dev"),
        col("x"))
      .groupBy(col("event_type"))
      .agg(max(col("d")).as("n_days"), max(col("t")).as("total"),
        sum(when(col("dev") > 0 &&
          col("dev") * col("dev") > lit(9L) * col("t") * col("d"),
          1L).otherwise(0L)).as("n_above"),
        sum(when(col("dev") < 0 &&
          col("dev") * col("dev") > lit(9L) * col("t") * col("d"),
          1L).otherwise(0L)).as("n_below"))
      .orderBy(col("event_type"))
  }

  val controlChartSql: String =
    """WITH daily AS (
      |  SELECT event_type, CAST(ts AS DATE) AS day, COUNT(*) AS x
      |  FROM events GROUP BY 1, 2),
      |stats AS (
      |  SELECT event_type, COUNT(*) AS d,
      |    CAST(SUM(x) AS BIGINT) AS t
      |  FROM daily GROUP BY event_type),
      |dev AS (
      |  SELECT daily.event_type, s.d, s.t,
      |    daily.x * s.d - s.t AS dev
      |  FROM daily JOIN stats s ON s.event_type = daily.event_type)
      |SELECT event_type, CAST(MAX(d) AS BIGINT) AS n_days,
      |  MAX(t) AS total,
      |  CAST(SUM(CASE WHEN dev > 0 AND dev * dev > 9 * t * d
      |    THEN 1 ELSE 0 END) AS BIGINT) AS n_above,
      |  CAST(SUM(CASE WHEN dev < 0 AND dev * dev > 9 * t * d
      |    THEN 1 ELSE 0 END) AS BIGINT) AS n_below
      |FROM dev GROUP BY event_type
      |ORDER BY event_type""".stripMargin

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "dq_control_chart" -> (controlChart _),
    "dq_hll_error" -> (hllError _),
    "dq_key_discovery" -> (keyDiscovery _),
    "dq_outlier_ensemble" -> (outlierEnsemble _),
    "dq_generalize_k" -> ((s: SparkSession, d: String) =>
      generalizeK(s, d)),
    "dq_gini" -> (gini _),
    "dq_inclusion_dep" -> (inclusionDep _),
    "dq_l_diversity" -> (lDiversity _),
    "dq_table_checksum" -> (tableChecksum _),
    "dq_fd_check" -> (fdCheck _),
    "dq_freshness" -> ((s: SparkSession, d: String) => freshness(s, d)),
    "dq_k_anonymity" -> ((s: SparkSession, d: String) => kAnonymity(s, d)),
    "dq_rule_engine" -> (ruleEngine _),
    "dq_chi2" -> (dqChi2 _),
    "dq_cramers_v" -> (dqCramersV _),
    "dq_mutual_info" -> (dqMutualInfo _),
    "dq_iqr_outliers" -> (dqIqr _),
    "dq_ks" -> ((s, d) => dqKs(s, d)),
    "dq_weighted_median" -> (dqWeightedMedian _),
    "dq_uniqueness" -> (dqUniqueness _),
    "dq_schema_drift" -> (schemaDrift _),
    "dq_benford" -> (dqBenford _),
    "dq_psi" -> (dqPsi _),
    "dq_corr_matrix" -> (corrMatrix _),
    "dq_mad_outliers" -> (dqMad _),
    "dq_quantile_bins" -> (quantileBins _),
    "dq_profile" -> (dqProfile _),
    "dq_orphans" -> (dqOrphans _),
    "dq_anomaly" -> (dqAnomaly _),
    "dq_histogram" -> (dqHistogram _))
  def oracle: Map[String, String] = Map(
    "dq_control_chart" -> controlChartSql,
    "dq_hll_error" -> hllErrorSql,
    "dq_key_discovery" -> keyDiscoverySql,
    "dq_outlier_ensemble" -> outlierEnsembleSql,
    "dq_generalize_k" -> generalizeKSql,
    "dq_gini" -> giniSql,
    "dq_inclusion_dep" -> inclusionDepSql,
    "dq_l_diversity" -> lDiversitySql,
    "dq_table_checksum" -> tableChecksumSql,
    "dq_fd_check" -> fdCheckSql,
    "dq_freshness" -> freshnessSql,
    "dq_k_anonymity" -> kAnonymitySql,
    "dq_rule_engine" -> ruleEngineSql,
    "dq_chi2" -> dqChi2Sql,
    "dq_cramers_v" -> dqCramersVSql,
    "dq_mutual_info" -> dqMutualInfoSql,
    "dq_iqr_outliers" -> dqIqrSql,
    "dq_ks" -> dqKsSql,
    "dq_weighted_median" -> dqWeightedMedianSql,
    "dq_uniqueness" -> dqUniquenessSql,
    "dq_schema_drift" -> schemaDriftSql,
    "dq_benford" -> dqBenfordSql,
    "dq_psi" -> dqPsiSql,
    "dq_corr_matrix" -> corrMatrixSql,
    "dq_mad_outliers" -> dqMadSql,
    "dq_quantile_bins" -> quantileBinsSql,
    "dq_profile" -> dqProfileSql,
    "dq_orphans" -> dqOrphansSql,
    "dq_anomaly" -> dqAnomalySql,
    "dq_histogram" -> dqHistogramSql)
}
