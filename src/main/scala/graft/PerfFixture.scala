package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Deterministic scale-fixture generator for the perf-scaling study
  * (round-8 verdict task 1).
  *
  * The driver's corpus tops out at sf0.1 (`/root/testdata/sf0.1`,
  * lineitem 600 k rows), so every 100 TB claim in the repo is an argued
  * plan shape that has never RUN above that scale. This main generates a
  * schema- and distribution-faithful clone of the driver corpus at an
  * arbitrary multiplier so the 20 hottest gates can be measured at ~1×
  * and ~10× and their empirical scaling exponents recorded in
  * BASELINE.md. Correctness still gates on the driver's own sf0.01 via
  * DuckDB — this fixture is perf-only and intentionally NOT byte-
  * identical to the driver data (different seed stream); what it
  * preserves is every cost driver:
  *
  *   - row counts per table (× multiplier), key ranges and fanouts
  *     (4 lineitems/order, 10 orders/customer, 100 events/user, …),
  *   - `documents`: the 31-word vocab, 10–100 uniform words/doc with
  *     trailing-space join (n_chars ≈ 44–580, mean ≈ 297), 40/15×4
  *     lang split, uniform 10-way source split, ~0.16 % exact-duplicate
  *     rows and ~0.5 % near-duplicates (≈10 % word substitutions) so
  *     dedup/MinHash candidate volumes scale like the real corpus,
  *   - `embeddings`: unit-norm dim-64 gaussians with a weak label
  *     centroid (within-label cosine ≈ 0.01, like the measured driver
  *     data, where NO pair exceeds cosine 0.65 — DBSCAN/LSH candidate
  *     volume is driven by the bulk cosine distribution, not clusters),
  *   - `events`: 30 days, ~67 events/user, 5 uniform types,
  *     exponential(50) values.
  *
  * All values derive from `xxhash64` of (row id, column tag) — fully
  * parallel, no driver-side data, reproducible regardless of
  * partitioning. Usage: `PerfFixture <outDir> <multiplier>` where
  * multiplier 1 ≈ sf0.1 and 10 ≈ sf1.
  */
object PerfFixture {

  /** Uniform (0,1) from a 64-bit hash of the given columns. */
  private def u(cols: org.apache.spark.sql.Column*) =
    (pmod(xxhash64(cols: _*), lit(1000000L)) + lit(0.5)) / lit(1000000.0)

  /** Standard normal via Box–Muller on two tagged hash uniforms. */
  private def gauss(tag: Int, cols: org.apache.spark.sql.Column*) = {
    val u1 = u((lit(tag * 2 + 11) +: cols): _*)
    val u2 = u((lit(tag * 2 + 12) +: cols): _*)
    sqrt(lit(-2.0) * log(u1)) * cos(lit(2.0 * math.Pi) * u2)
  }

  def main(args: Array[String]): Unit = {
    val outDir = args.headOption.getOrElse("/root/repo/perfdata/g10")
    val mult = if (args.length > 1) args(1).toInt else 10
    val spark = GraftSession.builder("graft-perf-fixture",
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val nCustomer = 15000L * mult
    val nSupplier = 1000L * mult
    val nPart = 20000L * mult
    val nOrders = 150000L * mult
    val nLineitem = 600000L * mult
    val nEvents = 100000L * mult
    val nUsers = 1500L * mult
    val nDocs = 5000L * mult
    val nVecs = 2000L * mult

    def rows(n: Long, parts: Int = 32) = spark.range(0, n, 1, parts)

    def write(name: String, df: DataFrame): Unit = {
      df.write.mode("overwrite").parquet(s"$outDir/$name.parquet")
      System.err.println(s"[perf-fixture] wrote $name")
    }

    write("region", spark.createDataFrame(Seq(
      (0, "AFRICA"), (1, "AMERICA"), (2, "ASIA"), (3, "EUROPE"),
      (4, "MIDDLE EAST"))).toDF("r_regionkey", "r_name")
      .coalesce(1))

    write("nation", rows(25, 1).select(
      $id.cast("int").as("n_nationkey"),
      format_string("NATION_%d", $id).as("n_name"),
      pmod($id, lit(5)).cast("int").as("n_regionkey")))

    write("supplier", rows(nSupplier, 4).select(
      $id.as("s_suppkey"),
      format_string("Supplier#%09d", $id).as("s_name"),
      pmod(xxhash64(lit(1), $id), lit(25)).cast("int").as("s_nationkey"),
      round(lit(-1000.0) + u(lit(2), $id) * 11000.0, 2).as("s_acctbal")))

    write("customer", rows(nCustomer, 8).select(
      $id.as("c_custkey"),
      format_string("Customer#%09d", $id).as("c_name"),
      pmod(xxhash64(lit(3), $id), lit(25)).cast("int").as("c_nationkey"),
      round(lit(-1000.0) + u(lit(4), $id) * 11000.0, 2).as("c_acctbal"),
      element_at(
        lit(Array("MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING",
          "FURNITURE")),
        (pmod(xxhash64(lit(5), $id), lit(5)) + 1).cast("int"))
        .as("c_mktsegment")))

    val partTypes = Array("STANDARD", "LARGE", "ECONOMY", "MEDIUM",
      "SMALL", "PROMO")
    val partAdj = Array("large", "small", "red", "green", "steel",
      "brass", "light", "dark")
    val partNoun = Array("ring", "bolt", "gear", "plate", "wire",
      "tube", "cap", "rod")
    write("part", rows(nPart, 8).select(
      $id.as("p_partkey"),
      concat_ws(" ",
        element_at(lit(partAdj),
          (pmod(xxhash64(lit(6), $id), lit(8)) + 1).cast("int")),
        element_at(lit(partNoun),
          (pmod(xxhash64(lit(7), $id), lit(8)) + 1).cast("int")))
        .as("p_name"),
      format_string("Brand#%d",
        pmod(xxhash64(lit(8), $id), lit(25))).as("p_brand"),
      element_at(lit(partTypes),
        (pmod(xxhash64(lit(9), $id), lit(6)) + 1).cast("int")).as("p_type"),
      (pmod(xxhash64(lit(10), $id), lit(50)) + 1).cast("int").as("p_size"),
      round(lit(900.0) + u(lit(11), $id) * 100.0, 2).as("p_retailprice")))

    // orders: dates midnight-aligned over 1995-01-01 .. 2001-08-01
    // (2404 days), like the driver corpus.
    val epoch1995 = 788918400L // 1995-01-01 UTC, seconds
    write("orders", rows(nOrders, 16).select(
      $id.as("o_orderkey"),
      pmod(xxhash64(lit(12), $id), lit(nCustomer)).as("o_custkey"),
      element_at(lit(Array("P", "O", "F")),
        (pmod(xxhash64(lit(13), $id), lit(3)) + 1).cast("int"))
        .as("o_orderstatus"),
      round(lit(1000.0) + u(lit(14), $id) * 499000.0, 2).as("o_totalprice"),
      timestamp_seconds(
        lit(epoch1995) + pmod(xxhash64(lit(15), $id), lit(2405L)) * 86400L)
        .as("o_orderdate"),
      element_at(lit(Array("1-URGENT", "2-HIGH", "3-MEDIUM",
        "4-NOT SPECIFIED", "5-LOW")),
        (pmod(xxhash64(lit(16), $id), lit(5)) + 1).cast("int"))
        .as("o_orderpriority")))

    write("lineitem", rows(nLineitem, 32).select(
      pmod(xxhash64(lit(17), $id), lit(nOrders)).as("l_orderkey"),
      pmod(xxhash64(lit(18), $id), lit(nPart)).as("l_partkey"),
      pmod(xxhash64(lit(19), $id), lit(nSupplier)).as("l_suppkey"),
      (pmod(xxhash64(lit(20), $id), lit(7)) + 1).cast("int")
        .as("l_linenumber"),
      (pmod(xxhash64(lit(21), $id), lit(50)) + 1).cast("double")
        .as("l_quantity"),
      round((pmod(xxhash64(lit(21), $id), lit(50)) + 1).cast("double") *
        (lit(1000.0) + u(lit(22), $id) * 2000.0), 2).as("l_extendedprice"),
      (pmod(xxhash64(lit(23), $id), lit(11)).cast("double") / 100.0)
        .as("l_discount"),
      (pmod(xxhash64(lit(24), $id), lit(9)).cast("double") / 100.0)
        .as("l_tax"),
      element_at(lit(Array("N", "R", "A")),
        (pmod(xxhash64(lit(25), $id), lit(3)) + 1).cast("int"))
        .as("l_returnflag"),
      element_at(lit(Array("F", "O")),
        (pmod(xxhash64(lit(26), $id), lit(2)) + 1).cast("int"))
        .as("l_linestatus"),
      timestamp_seconds(lit(epoch1995 + 86400L) +
        pmod(xxhash64(lit(27), $id), lit(2499L)) * 86400L).as("l_shipdate")))

    // events: 30 days of Jan-2024, microsecond timestamps,
    // exponential(50) values, '{"k": n}' props.
    val epoch2024us = 1704067200000000L
    write("events", rows(nEvents, 16).select(
      $id.as("event_id"),
      timestamp_micros(lit(epoch2024us) +
        pmod(xxhash64(lit(28), $id), lit(30L * 86400L * 1000000L)))
        .as("ts"),
      pmod(xxhash64(lit(29), $id), lit(nUsers)).as("user_id"),
      element_at(lit(Array("signup", "purchase", "view", "click",
        "error")),
        (pmod(xxhash64(lit(30), $id), lit(5)) + 1).cast("int"))
        .as("event_type"),
      round(lit(-50.0) * log(u(lit(31), $id)), 4).as("value"),
      format_string("{\"k\": %d}",
        pmod(xxhash64(lit(32), $id), lit(100))).as("props")))

    // documents: ~0.16 % exact duplicates (word stream re-seeded from a
    // pseudo-random earlier doc) and ~0.5 % near-duplicates (~10 % of
    // word positions substituted).
    val vocab = Array("a", "agg", "batch", "big", "column", "customer",
      "data", "dup", "fast", "filter", "group", "hash", "join", "key",
      "line", "merge", "order", "part", "query", "row", "scan", "slow",
      "small", "sort", "spark", "stream", "table", "the", "value",
      "vector", "window")
    val isDup = pmod(xxhash64(lit(33), $id), lit(625)) === 0
    val isNear = pmod(xxhash64(lit(34), $id), lit(200)) === 0
    val seed = when(isDup || isNear, pmod(xxhash64(lit(35), $id), lit(nDocs)))
      .otherwise($id)
    val nWords = (pmod(xxhash64(lit(36), seed), lit(91)) + 10).cast("int")
    def wordAt(s: org.apache.spark.sql.Column,
        i: org.apache.spark.sql.Column) =
      element_at(lit(vocab), (pmod(xxhash64(lit(37), s, i), lit(31)) + 1)
        .cast("int"))
    val docText = array_join(
      transform(sequence(lit(1), nWords), i =>
        concat(
          when(isNear && pmod(xxhash64(lit(38), $id, i), lit(10)) === 0,
            wordAt($id, i)).otherwise(wordAt(seed, i)),
          lit(" "))), "")
    write("documents", rows(nDocs, 16)
      .select($id.as("doc_id"), docText.as("text"),
        element_at(lit(Array("en", "en", "en", "en", "en", "en", "en",
          "en", "zh", "zh", "zh", "es", "es", "es", "fr", "fr", "fr",
          "de", "de", "de")),
          (pmod(xxhash64(lit(39), $id), lit(20)) + 1).cast("int"))
          .as("lang"),
        format_string("src%d", pmod(xxhash64(lit(40), $id), lit(10)))
          .as("source"))
      .withColumn("n_chars", length(col("text"))))

    // embeddings: x_i = N(0,1) + 0.1·N_label(0,1) (≈ 0.79 · unit
    // centroid at dim 64 → within-label cosine ≈ 0.01), L2-normalized.
    val label = pmod(xxhash64(lit(41), $id), lit(10)).cast("int")
    val raw = transform(sequence(lit(0), lit(63)), i =>
      gauss(42, $id, i) + lit(0.1) * gauss(43, label.cast("long"), i))
    val nrm = sqrt(aggregate(raw, lit(0.0), (acc, v) => acc + v * v))
    write("embeddings", rows(nVecs, 16).select(
      $id.as("vec_id"),
      transform(raw, v => (v / nrm).cast("float")).as("embedding"),
      label.as("label")))

    System.err.println(s"[perf-fixture] done: $outDir (multiplier $mult)")
    spark.stop()
  }

  /** `spark.range` id column. */
  private def $id = col("id")
}
