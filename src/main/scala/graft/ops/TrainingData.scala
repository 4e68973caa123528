package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

import graft.{Scaffold, Tables}
import graft.streaming.EventStreams

/** Training-data curation operators beyond the reference's surface:
  * benchmark decontamination, repetition-quality filtering, and
  * token-budget shard packing — the ops an LLM pre-training pipeline
  * runs between raw ingestion and tokenization.
  *
  * All three are declarative DataFrame plans (no UDFs, no driver-side
  * loops); the scale notes on each describe how the shape holds at
  * 100 TB / 1000 executors.
  */
object TrainingData {

  /** Word n-grams of `text` as an array column: positions 1..len-n+1,
    * empty array when the document is shorter than n tokens (matches
    * DuckDB `range(1, greatest(len-n+2, 1))` semantics).
    *
    * Built on the codegen'd [[graft.plans.TokenNGrams]] kernel — the
    * built-in `transform(sequence, i -> concat_ws(slice))` formulation
    * is three nested CodegenFallback HOFs interpreted per gram. */
  private def wordGrams(text: Column, n: Int): Column =
    graft.plans.TextExpressions.tokenNGrams(
      split(text, " "), n, emitWholeShortDoc = false)

  /** Benchmark decontamination: find corpus documents sharing any word
    * 3-gram with a held-out benchmark set (here: `doc_id % 101 == 0`,
    * standing in for an eval suite). Returns (doc_id, n_hit_grams)
    * for every contaminated non-benchmark document.
    *
    * Scale: the benchmark side of a decontamination join is an eval
    * suite — MBs against the corpus's TBs — so its distinct grams are
    * `broadcast()`: the corpus side never shuffles, each task streams
    * its documents against the in-memory gram set and only (doc_id)
    * hits reach the final per-doc count, which reuses the explode's
    * doc-locality. At true 100 TB the gram strings would be
    * `xxhash64`-ed to 8-byte keys before the broadcast; kept as
    * strings here so the oracle can reproduce them exactly.
    */
  /** Contamination RUN-LENGTH audit — the GPT-3/PaLM-style
    * contiguous-overlap rule ([[decontaminate]] counts SET overlap;
    * training-data audits flag a doc when a CONTIGUOUS span of ≥13
    * tokens appears verbatim in the benchmark, Brown et al. 2020
    * §C): per (corpus doc, benchmark doc), matched 3-gram positions
    * on a common DIAGONAL (pd − pb) that are consecutive form a run;
    * a run of g grams is an overlap of g + 2 tokens. Emits, per
    * contaminated doc, the longest overlap and the run census, with
    * the 13-token flag.
    *
    * Scale: the gram equi join is [[decontaminate]]'s shape with the
    * benchmark side broadcast (positions add 8 B per gram); the
    * gaps-islands window runs ONLY over matched rows — O(hits), not
    * O(corpus) — partitioned by (doc, bench, diag). */
  def contaminationRuns(s: SparkSession, dir: String): DataFrame = {
    val pg = Tables.documents(s, dir)
      .select(col("doc_id"),
        posexplode(wordGrams(col("text"), 3)).as(Seq("p", "gram")))
    val corpus = pg.filter(col("doc_id") % 101 =!= 0)
    val bench = pg.filter(col("doc_id") % 101 === 0)
      .select(col("doc_id").as("bench_id"), col("p").as("pb"),
        col("gram"))
    val w = Window.partitionBy(col("doc_id"), col("bench_id"),
      col("diag")).orderBy(col("pd"))
    val runs = corpus.join(broadcast(bench), "gram")
      .select(col("doc_id"), col("bench_id"), col("p").as("pd"),
        col("pb"))
      .withColumn("diag", col("pd") - col("pb"))
      .withColumn("island", col("pd") - row_number().over(w))
      .groupBy(col("doc_id"), col("bench_id"), col("diag"),
        col("island"))
      .agg(count(lit(1)).as("run"))
      .groupBy(col("doc_id"))
      .agg(max(col("run")).as("max_run_grams"),
        count(lit(1)).as("n_runs"))
    val ng = corpus.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_grams"))
    runs.join(ng, "doc_id")
      .select(col("doc_id"), col("n_grams"), col("n_runs"),
        col("max_run_grams"),
        (col("max_run_grams") + 2).as("max_overlap_tokens"),
        (col("max_run_grams") + 2 >= 13).as("flagged"))
      .orderBy(col("doc_id"))
  }

  val contaminationRunsSql: String =
    """WITH tok AS (
      |  SELECT doc_id, string_split(text, ' ') AS t FROM documents),
      |pos AS (SELECT doc_id, t,
      |          unnest(range(1, greatest(len(t) - 1, 1))) AS i
      |        FROM tok),
      |grams AS (SELECT doc_id, i - 1 AS p,
      |            array_to_string(t[i:i+2], ' ') AS gram FROM pos),
      |m AS (
      |  SELECT c.doc_id, b.doc_id AS bench_id, c.p AS pd,
      |    c.p - b.p AS diag
      |  FROM grams c JOIN grams b USING (gram)
      |  WHERE c.doc_id % 101 <> 0 AND b.doc_id % 101 = 0),
      |isl AS (
      |  SELECT doc_id, bench_id, diag, pd,
      |    pd - ROW_NUMBER() OVER (PARTITION BY doc_id, bench_id, diag
      |                            ORDER BY pd) AS island
      |  FROM m),
      |runs AS (
      |  SELECT doc_id, COUNT(*) AS run
      |  FROM isl GROUP BY doc_id, bench_id, diag, island),
      |agg AS (
      |  SELECT doc_id, CAST(MAX(run) AS BIGINT) AS max_run_grams,
      |    CAST(COUNT(*) AS BIGINT) AS n_runs
      |  FROM runs GROUP BY doc_id),
      |ng AS (
      |  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_grams
      |  FROM grams WHERE doc_id % 101 <> 0 GROUP BY doc_id)
      |SELECT a.doc_id, ng.n_grams, a.n_runs, a.max_run_grams,
      |  a.max_run_grams + 2 AS max_overlap_tokens,
      |  a.max_run_grams + 2 >= 13 AS flagged
      |FROM agg a JOIN ng USING (doc_id)
      |ORDER BY a.doc_id""".stripMargin

  def decontaminate(s: SparkSession, dir: String): DataFrame = {
    // array_distinct BEFORE explode: per-doc gram dedup is array-local
    // work inside the scan task, so the corpus side needs NO distinct()
    // shuffle at all — the only wide exchange in the whole plan is the
    // final per-doc count of hits, which is tiny (docs with overlap).
    val docs = Tables.documents(s, dir)
      .select(col("doc_id"),
        array_distinct(wordGrams(col("text"), 3)).as("grams"))
    val corpus = docs.filter(col("doc_id") % 101 =!= 0)
      .select(col("doc_id"), explode(col("grams")).as("gram"))
    val bench = docs.filter(col("doc_id") % 101 === 0)
      .select(explode(col("grams")).as("gram")).distinct()
    corpus.join(broadcast(bench), "gram")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_hit_grams"))
      .orderBy(col("doc_id"))
  }

  val decontaminateSql: String =
    """WITH tok AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
      |pos AS (SELECT doc_id, t,
      |          unnest(range(1, greatest(len(t)-1, 1))) AS i FROM tok),
      |grams AS (SELECT doc_id, array_to_string(t[i:i+2], ' ') AS gram FROM pos)
      |SELECT g.doc_id, CAST(COUNT(*) AS BIGINT) AS n_hit_grams
      |FROM (SELECT DISTINCT doc_id, gram FROM grams WHERE doc_id % 101 <> 0) g
      |JOIN (SELECT DISTINCT gram FROM grams WHERE doc_id % 101 = 0) b USING (gram)
      |GROUP BY g.doc_id
      |ORDER BY g.doc_id""".stripMargin

  /** Bloom-prefiltered decontamination — same answer as
    * [[decontaminate]], different (bigger-scale) join machinery.
    *
    * [[decontaminate]] broadcasts the benchmark's *gram strings*:
    * O(bench bytes) per executor, fine for an eval suite, but at a
    * 100 TB corpus vs a multi-GB held-out set the string broadcast
    * stops fitting. This variant broadcasts a fixed-size Bloom filter
    * instead — `mBits/8` bytes (16 KiB here) regardless of bench
    * size — as a plain `typedlit` Array[Long] so the probe is three
    * codegen'd xxhash64/shift/AND ops inside the scan task, no UDF.
    *
    * Shape: corpus grams stream through the bloom as a pure map-side
    * filter (zero shuffle, no false negatives by construction), and
    * only the surviving sliver reaches the exact equi-join that kills
    * the bloom's false positives. The only corpus-wide exchange is on
    * bloom survivors, so output — and the oracle — is identical to
    * the exact path: [[decontaminateSql]] gates both.
    */
  def decontaminateBloom(s: SparkSession, dir: String,
                         mBits: Int = 1 << 17, k: Int = 3): DataFrame = {
    val docs = Tables.documents(s, dir)
      .select(col("doc_id"),
        array_distinct(wordGrams(col("text"), 3)).as("grams"))
    val corpus = docs.filter(col("doc_id") % 101 =!= 0)
      .select(col("doc_id"), explode(col("grams")).as("gram"))
    val bench = docs.filter(col("doc_id") % 101 === 0)
      .select(explode(col("grams")).as("gram")).distinct()

    // k bit positions per gram; identical arithmetic builds and probes.
    def positions(g: Column): Column = array((0 until k).map(seed =>
      pmod(xxhash64(lit(seed), g), lit(mBits.toLong)).cast("int")): _*)

    // Build: distinct SET BIT positions (bounded by mBits, NOT by bench
    // cardinality) come back to the driver; at 1000 executors this is a
    // <=16 KiB collect no matter how large the benchmark grows.
    val words = new Array[Long](mBits / 64)
    bench.select(explode(positions(col("gram"))).as("p")).distinct()
      .collect().foreach { r =>
        val p = r.getInt(0); words(p >>> 6) |= (1L << (p & 63))
      }
    val bits = typedlit(words.toSeq)

    val probe = (0 until k).map { seed =>
      val p = pmod(xxhash64(lit(seed), col("gram")), lit(mBits.toLong))
        .cast("int")
      element_at(bits, (call_function("shiftright", p, lit(6)) + 1)
          .cast("int"))
        .bitwiseAND(call_function("shiftleft", lit(1L),
          p.bitwiseAND(lit(63)))) =!= lit(0L)
    }.reduce(_ && _)

    // Exact verify on the post-bloom sliver: both sides are now small,
    // a plain shuffled equi-join AQE can size on its own.
    corpus.filter(probe).join(bench, "gram")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_hit_grams"))
      .orderBy(col("doc_id"))
  }

  /** Per-document decontamination counts as a PURE PROJECTION — no
    * join, no aggregation — so the frame is legal upstream of a
    * streaming stateful operator in append mode (the
    * [[graft.ops.TextAnalysis.watermarkCountsProjection]]
    * discipline). Composition is [[decontaminateBloom]]'s exactly:
    * each document's distinct 3-grams stream through the 16 KiB
    * benchmark Bloom (map-side, no false negatives), and the
    * surviving sliver is exact-verified — here against the benchmark
    * gram set carried as a single plan-literal HashSet probe
    * ([[graft.plans.TokenCountInSet]], one reference object, not a
    * literal-per-gram tree) instead of the batch path's equi-join,
    * because a projection can't join. At a benchmark too large to
    * carry as a set, production swaps the exact step for a
    * stream-static join downstream of the bloom — the scoreboard
    * transform is unchanged. */
  private[graft] def decontamCountsProjection(docs: DataFrame,
      benchGrams: Seq[String], bloomWords: Seq[Long],
      mBits: Int, k: Int): DataFrame = {
    val bits = typedlit(bloomWords)
    def probe(g: Column): Column = (0 until k).map { seed =>
      val p = pmod(xxhash64(lit(seed), g), lit(mBits.toLong))
        .cast("int")
      element_at(bits, (call_function("shiftright", p, lit(6)) + 1)
          .cast("int"))
        .bitwiseAND(call_function("shiftleft", lit(1L),
          p.bitwiseAND(lit(63)))) =!= lit(0L)
    }.reduce(_ && _)
    docs
      .select(col("source"),
        array_distinct(wordGrams(col("text"), 3)).as("grams"))
      .select(col("source"),
        size(col("grams")).cast(LongType).as("n_grams"),
        graft.plans.TextExpressions.countInSet(
          filter(col("grams"), g => probe(g)), benchGrams)
          .cast(LongType).as("n_hits"))
  }

  /** The keyed-state transform behind [[streamDecontaminate]],
    * exposed for the plan contract (TransformWithState, zero
    * joins). */
  private[graft] def decontamStateUpdates(docs: DataFrame,
      benchGrams: Seq[String], bloomWords: Seq[Long],
      mBits: Int = 1 << 17, k: Int = 3)
      : org.apache.spark.sql.Dataset[graft.streaming.SourceDecontamTotals] = {
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
    import docs.sparkSession.implicits._
    org.apache.spark.sql.GraftSqlBridge
      .ensureStateStoreCoordinator(docs.sparkSession)
    decontamCountsProjection(docs, benchGrams, bloomWords, mBits, k)
      .as[(String, Long, Long)]
      .groupByKey(_._1)
      .transformWithState(new graft.streaming.DecontamTotalsProcessor,
        TimeMode.None(), OutputMode.Append())
  }

  /** STREAMING decontamination scoreboard (round-9 verdict growth
    * item a — the last batch-only curation stage gets its streaming
    * twin): [[decontaminate]]'s benchmark-overlap census maintained
    * INCREMENTALLY as document batches arrive — the screen a live
    * ingestion pipeline runs so eval-set leakage is caught while
    * streaming in, not in a nightly batch. The benchmark (here
    * `doc_id % 101 = 0`, the standing eval-suite convention) is
    * FIXED: its Bloom filter and gram set are built once, driver-side
    * (16 KiB + the gram strings — an eval suite, metadata-sized by
    * premise), and baked into the scan projection; per-source totals
    * (docs, contaminated docs, grams, hit grams) live in RocksDB
    * `transformWithState` ValueState
    * ([[graft.streaming.DecontamTotalsProcessor]] — the keyed-store
    * pattern: per-batch I/O ∝ batch + touched sources, changelog
    * checkpointing). Totals are component-wise monotone, so the
    * reader's max-struct fold recovers terminal state. Three
    * micro-batches replay the corpus split by doc_id mod 3; the
    * converged scoreboard must equal the batch census — the oracle
    * states the same semantics in batch SQL. */
  def streamDecontaminate(s: SparkSession, dir: String): DataFrame = {
    val mBits = 1 << 17
    val k = 3
    val outDir = Scaffold.scratch(dir, "dcstream/updates")
    val docs = Tables.documents(s, dir)
    val corpus = docs.filter(col("doc_id") % 101 =!= 0)
    // Benchmark artifacts, built once driver-side (Scaffold: shared
    // reference construction, not the streaming operator under test)
    var benchGrams: Seq[String] = null
    val words = new Array[Long](mBits / 64)
    graft.Scaffold.setup {
      val bench = docs.filter(col("doc_id") % 101 === 0)
        .select(explode(array_distinct(wordGrams(col("text"), 3)))
          .as("gram"))
        .distinct()
      benchGrams = bench.collect().map(_.getString(0)).toSeq.sorted
      def positions(g: Column): Column = array((0 until k).map(seed =>
        pmod(xxhash64(lit(seed), g), lit(mBits.toLong)).cast("int")): _*)
      bench.select(explode(positions(col("gram"))).as("p")).distinct()
        .collect().foreach { r =>
          val p = r.getInt(0); words(p >>> 6) |= (1L << (p & 63))
        }
      Scaffold.rm(s, outDir)
    }
    val batches = (0 to 2).map(m =>
      corpus.filter(col("doc_id") % 3 === m).coalesce(2))
    EventStreams.withRocksDb(s, EventStreams.GateStatePartitions) {
      EventStreams.replay("dcstream_" + Scaffold.tag(dir),
          Scaffold.scratch(dir, "dcstream/src"), batches) { (stream, ck) =>
        EventStreams.toParquet(decontamStateUpdates(stream,
          benchGrams, words.toSeq, mBits, k).toDF(), outDir, ck)
      }
    }
    s.read.parquet(outDir)
      .groupBy(col("source"))
      .agg(max(struct(col("docs"), col("contam"), col("grams"),
        col("hits"))).as("m"))
      .select(col("source"), col("m.docs").as("n_docs"),
        col("m.contam").as("n_contam_docs"),
        col("m.grams").as("n_grams"), col("m.hits").as("n_hit_grams"))
      .withColumn("contam_doc_ppm",
        expr("(n_contam_docs * 1000000) div n_docs"))
      .orderBy(col("source"))
  }

  val streamDecontaminateSql: String =
    """WITH tok AS (
      |  SELECT doc_id, source, string_split(text, ' ') AS t
      |  FROM documents WHERE doc_id % 101 <> 0),
      |pos AS (SELECT doc_id, source, t,
      |          unnest(range(1, greatest(len(t) - 1, 1))) AS i FROM tok),
      |grams AS (SELECT DISTINCT doc_id, source,
      |            array_to_string(t[i:i+2], ' ') AS gram FROM pos),
      |btok AS (
      |  SELECT string_split(text, ' ') AS t
      |  FROM documents WHERE doc_id % 101 = 0),
      |bpos AS (SELECT t, unnest(range(1, greatest(len(t) - 1, 1))) AS i
      |         FROM btok),
      |bench AS (SELECT DISTINCT array_to_string(t[i:i+2], ' ') AS gram
      |          FROM bpos),
      |perdoc AS (
      |  SELECT g.doc_id, g.source,
      |    CAST(COUNT(*) AS BIGINT) AS n_grams,
      |    CAST(SUM(CASE WHEN b.gram IS NOT NULL THEN 1 ELSE 0 END)
      |      AS BIGINT) AS n_hits
      |  FROM grams g LEFT JOIN bench b USING (gram)
      |  GROUP BY g.doc_id, g.source),
      |alld AS (
      |  SELECT t.source,
      |    coalesce(p.n_grams, 0) AS n_grams,
      |    coalesce(p.n_hits, 0) AS n_hits
      |  FROM tok t LEFT JOIN perdoc p ON t.doc_id = p.doc_id)
      |SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
      |  CAST(SUM(CASE WHEN n_hits > 0 THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_contam_docs,
      |  CAST(SUM(n_grams) AS BIGINT) AS n_grams,
      |  CAST(SUM(n_hits) AS BIGINT) AS n_hit_grams,
      |  (CAST(SUM(CASE WHEN n_hits > 0 THEN 1 ELSE 0 END) AS BIGINT)
      |    * 1000000) // CAST(COUNT(*) AS BIGINT) AS contam_doc_ppm
      |FROM alld GROUP BY source ORDER BY source""".stripMargin

  /** Repetition-quality metrics (Gopher-style): per document, the
    * duplicate word-2-gram fraction (1 − distinct/total) and the
    * most-frequent-2-gram fraction. High values mark boilerplate /
    * degenerate generations for downstream filtering.
    *
    * Scale: explode → partial-aggregated count by (doc_id, gram) →
    * aggregate by doc_id. Both aggregations are map-side combinable,
    * rows after the first shuffle are bounded by distinct grams per
    * doc, and nothing is quadratic in document length. The fractions
    * are exact-integer divisions evaluated identically (IEEE double)
    * by Spark and DuckDB, so the gate needs no rounding tolerance.
    */
  def repetition(s: SparkSession, dir: String): DataFrame = {
    val grams = Tables.documents(s, dir)
      .select(col("doc_id"), explode(wordGrams(col("text"), 2)).as("gram"))
    grams.groupBy(col("doc_id"), col("gram"))
      .agg(count(lit(1)).as("c"))
      .groupBy(col("doc_id"))
      .agg(sum(col("c")).as("n_grams"),
           count(lit(1)).as("n_distinct"),
           max(col("c")).as("top_cnt"))
      .select(col("doc_id"), col("n_grams"), col("n_distinct"), col("top_cnt"),
        (lit(1.0) - col("n_distinct").cast("double") /
          col("n_grams").cast("double")).as("dup_frac"),
        (col("top_cnt").cast("double") /
          col("n_grams").cast("double")).as("top_frac"))
      .orderBy(col("doc_id"))
  }

  val repetitionSql: String =
    """WITH tok AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
      |pos AS (SELECT doc_id, t,
      |          unnest(range(1, greatest(len(t), 1))) AS i FROM tok),
      |grams AS (SELECT doc_id, array_to_string(t[i:i+1], ' ') AS gram FROM pos),
      |cnt AS (SELECT doc_id, gram, COUNT(*) AS c FROM grams GROUP BY 1, 2)
      |SELECT doc_id,
      |  CAST(SUM(c) AS BIGINT) AS n_grams,
      |  CAST(COUNT(*) AS BIGINT) AS n_distinct,
      |  CAST(MAX(c) AS BIGINT) AS top_cnt,
      |  1.0 - CAST(COUNT(*) AS DOUBLE) / CAST(SUM(c) AS DOUBLE) AS dup_frac,
      |  CAST(MAX(c) AS DOUBLE) / CAST(SUM(c) AS DOUBLE) AS top_frac
      |FROM cnt GROUP BY doc_id
      |ORDER BY doc_id""".stripMargin

  /** Token-budget shard packing: assign documents (in doc_id order) to
    * shards of ~`budget` whitespace tokens each — the step that turns
    * a curated corpus into fixed-size tokenizer/training shards.
    * A document goes to shard `floor(tokens_before_it / budget)`, so
    * shard boundaries never split a document. Returns per-shard
    * summaries.
    *
    * Scale: a naive `sum() over (order by doc_id)` is a single-
    * partition window — a non-starter at 10^9 documents. This is the
    * classic two-phase parallel prefix sum instead: (1) per-bucket
    * token subtotals (one map-side-combinable aggregate over
    * `doc_id div bucketWidth`), (2) running offsets over the bucket
    * subtotals — 1/bucketWidth the data; levels compose if even that
    * overflows one partition — (3) broadcast-join the offsets back
    * and take the intra-bucket running sum with a window PARTITIONED
    * by bucket, so every partition works independently. `bucketWidth`
    * is the broadcast-size knob: at 10^9 docs, width 10^4 keeps the
    * offset table at 10^5 rows — trivially broadcastable — while the
    * per-bucket windows stay thousands of independent partitions.
    */
  def packShards(s: SparkSession, dir: String, budget: Long = 2000L,
      bucketWidth: Long = 64L): DataFrame =
    shardAssignments(s, dir, budget, bucketWidth)
      .groupBy(col("shard_id"))
      .agg(count(lit(1)).as("n_docs"),
           sum(col("n_tok")).as("tokens"),
           min(col("doc_id")).as("first_doc"),
           max(col("doc_id")).as("last_doc"))
      .orderBy(col("shard_id"))

  /** Per-document shard assignment (doc_id, n_tok, shard_id) — the
    * two-phase prefix sum described on [[packShards]]. */
  def shardAssignments(s: SparkSession, dir: String, budget: Long,
      bucketWidth: Long): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.documents(s, dir)
      .select(col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("n_tok"),
        (col("doc_id").cast("long") / lit(bucketWidth))
          .cast("long").as("bucket"))
    val offsets = docs.groupBy(col("bucket"))
      .agg(sum(col("n_tok")).as("bucket_tok"))
      .select(col("bucket"),
        sum(col("bucket_tok")).over(
          Window.orderBy(col("bucket"))
            .rowsBetween(Window.unboundedPreceding, -1))
          .as("bucket_before"))
      .na.fill(0L, Seq("bucket_before"))
    docs
      .join(broadcast(offsets), "bucket")
      .select(col("doc_id"), col("n_tok"),
        (col("bucket_before") +
          coalesce(sum(col("n_tok")).over(
            Window.partitionBy(col("bucket")).orderBy(col("doc_id"))
              .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
          .as("cum_before"))
      .select(col("doc_id"), col("n_tok"), col("cum_before"),
        floor(col("cum_before") / lit(budget)).as("shard_id"))
  }

  /** A/B holdout assignment + sample-ratio-mismatch audit — the
    * experiment-infra primitive for data ablations: every document
    * is deterministically assigned an arm by the engine-portable
    * [[rowHash32]] mix (`% 2` — reproducible across runs, engines,
    * and cluster sizes, unlike seeded Bernoulli), and per source the
    * gate reports the 2-cell SRM χ² `(n_a − n_b)²/n` in integer ppm
    * with a flag at the 3.841 critical value — the standard "is the
    * split actually 50/50" health check run before any arm
    * comparison is trusted.
    *
    * Scale: one map-combinable (source, arm) count; everything else
    * is per-source scalar arithmetic, all exact integers. */
  def abSrm(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(col("source"),
        (rowHash32(col("doc_id")) % 2L).as("arm"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("arm") === 0L, 1L).otherwise(0L)).as("n_a"),
        sum(when(col("arm") === 1L, 1L).otherwise(0L)).as("n_b"))
      .selectExpr("source", "n", "n_a", "n_b",
        "((n_a - n_b) * (n_a - n_b) * 1000000L) div n AS srm_ppm",
        "CASE WHEN ((n_a - n_b) * (n_a - n_b) * 1000000L) div n" +
          " > 3841000 THEN 1L ELSE 0L END AS srm_flag")
      .orderBy(col("source"))

  // lazy: interpolates rowHash32Sql, which is declared later in the
  // object — a plain val would capture null at initialization order
  lazy val abSrmSql: String =
    s"""WITH a AS (
       |  SELECT source,
       |    ($rowHash32Sql) % 2 AS arm
       |  FROM documents d),
       |g AS (
       |  SELECT source, COUNT(*) AS n,
       |    CAST(SUM(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT)
       |      AS n_a,
       |    CAST(SUM(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT)
       |      AS n_b
       |  FROM a GROUP BY source)
       |SELECT source, n, n_a, n_b,
       |  CAST(((n_a - n_b) * (n_a - n_b) * 1000000) // n AS BIGINT)
       |    AS srm_ppm,
       |  CAST(CASE WHEN ((n_a - n_b) * (n_a - n_b) * 1000000) // n
       |    > 3841000 THEN 1 ELSE 0 END AS BIGINT) AS srm_flag
       |FROM g ORDER BY source""".stripMargin

  /** Concat-and-chunk sequence packing — the GPT-pretraining packer:
    * documents are conceptually concatenated in doc_id order and cut
    * into fixed `seqLen`-token training sequences, documents
    * STRADDLING cuts (unlike [[packShards]], whose shard boundaries
    * never split a document). Per sequence: how many documents
    * overlap it, how many start inside it, and its filled token
    * count (= seqLen everywhere but the tail) — the packing-quality
    * frame a data engineer reads before a run.
    *
    * Mechanics: each doc's global token offset comes from the SAME
    * two-phase prefix sum as [[packShards]] (no single-partition
    * window); a doc spanning [start, end) fans out to sequences
    * `start div L .. (end−1) div L` via one explode (a doc touches
    * extra sequences only in proportion to its own length), and the
    * per-sequence reduce is map-combinable. Every quantity is an
    * exact non-negative BIGINT. */
  def concatChunk(s: SparkSession, dir: String, seqLen: Long = 512L,
      bucketWidth: Long = 64L): DataFrame = {
    val l = lit(seqLen)
    shardAssignments(s, dir, budget = Long.MaxValue,
        bucketWidth = bucketWidth)
      .select(col("doc_id"), col("n_tok"), col("cum_before"))
      .select(col("doc_id"), col("cum_before").as("start"),
        (col("cum_before") + col("n_tok")).as("e"))
      .withColumn("seq_id", explode(sequence(
        expr(s"start div $seqLen"), expr(s"(e - 1) div $seqLen"))))
      .groupBy(col("seq_id"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(expr(s"start div $seqLen") === col("seq_id"), 1L)
          .otherwise(0L)).as("n_starts"),
        sum(least(col("e"), (col("seq_id") + 1L) * l)
          - greatest(col("start"), col("seq_id") * l)).as("n_tokens"))
      .orderBy(col("seq_id"))
  }

  val concatChunkSql: String =
    """WITH t AS (SELECT doc_id,
      |  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
      |  FROM documents),
      |c AS (SELECT doc_id, n_tok,
      |  CAST(COALESCE(SUM(n_tok) OVER (ORDER BY doc_id
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
      |    AS BIGINT) AS start
      |  FROM t),
      |spans AS (
      |  SELECT doc_id, start, start + n_tok AS e,
      |    start // 512 AS s0, (start + n_tok - 1) // 512 AS s1
      |  FROM c),
      |x AS (
      |  SELECT doc_id, start, e,
      |    unnest(range(s0, s1 + 1)) AS seq_id
      |  FROM spans)
      |SELECT CAST(seq_id AS BIGINT) AS seq_id,
      |  COUNT(*) AS n_docs,
      |  CAST(SUM(CASE WHEN start // 512 = seq_id THEN 1 ELSE 0 END)
      |    AS BIGINT) AS n_starts,
      |  CAST(SUM(LEAST(e, (seq_id + 1) * 512)
      |    - GREATEST(start, seq_id * 512)) AS BIGINT) AS n_tokens
      |FROM x GROUP BY seq_id ORDER BY seq_id""".stripMargin

  val packShardsSql: String =
    """WITH t AS (SELECT doc_id,
      |  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok FROM documents),
      |c AS (SELECT doc_id, n_tok,
      |  COALESCE(SUM(n_tok) OVER (ORDER BY doc_id
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before
      |  FROM t)
      |SELECT CAST(FLOOR(cum_before / 2000) AS BIGINT) AS shard_id,
      |  CAST(COUNT(*) AS BIGINT) AS n_docs,
      |  CAST(SUM(n_tok) AS BIGINT) AS tokens,
      |  MIN(doc_id) AS first_doc, MAX(doc_id) AS last_doc
      |FROM c GROUP BY 1
      |ORDER BY shard_id""".stripMargin

  // ---------------------------------------------------------------- //

  /** Domain-mixture sampling: downsample each source so the output
    * approaches target mixture weights — the data-mixing step between
    * curation and training. Per-source keep-rate =
    * min(1, weight · total / sourceCount), applied by DETERMINISTIC
    * hash-threshold selection (keep iff the doc's multiplicative hash
    * < rate·2^32) — bit-reproducible across runs and engines, unlike
    * seeded Bernoulli, and each doc decides independently so the
    * filter is a pure projection.
    *
    * Scale: one map-combinable count aggregate over sources (tiny),
    * broadcast back, one filtered scan. No per-source repartition, no
    * global sort, no RNG state. */
  def mixtureSample(s: SparkSession, dir: String,
      weights: Map[String, Double]): DataFrame = {
    val docs = Tables.documents(s, dir)
    val counts = docs.groupBy(col("source"))
      .agg(count(lit(1)).as("n_src"))
      .withColumn("n_total", sum(col("n_src")).over(
        org.apache.spark.sql.expressions.Window.partitionBy()))
    val weightCol = weights.foldLeft(lit(0.0)) { case (acc, (src, w)) =>
      when(col("source") === src, lit(w)).otherwise(acc)
    }
    val rates = counts.select(col("source"),
      least(lit(1.0),
        weightCol * col("n_total") / col("n_src")).as("rate"))
    docs
      .join(broadcast(rates), "source")
      .filter(rowHash32(col("doc_id")).cast("double")
        < col("rate") * lit(4294967296.0))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_kept"),
           sum(col("n_chars")).as("chars_kept"))
      .orderBy(col("source"))
  }

  /** Overflow-safe FULL-WIDTH row hash in [0, 2^32): the id is split
    * into its two's-complement 32-bit halves (`& 0xFFFFFFFF` after an
    * arithmetic shift — bit-identical in Spark and DuckDB for
    * negative ids too, and every operand is non-negative from there
    * on, so `%` and `pmod` agree without sign folding), then run
    * through three multiply–carry rounds with the 27-bit constant
    * 73244475: each round's multiply stays below 2^59 — inside
    * signed-64 for Spark AND for DuckDB, whose `*` ERRORS on overflow
    * rather than wrapping — and the `(h >> 16) +` term folds the
    * high half back down with a carry chain, making the rounds
    * non-linear over the bit vector. The hash depends on ALL 64 id
    * bits, so per-doc keep decisions stay independent at any corpus
    * size (the previous `mod 1000003` pre-reduction tied together
    * ids a multiple of 1,000,003 apart). */
  private[ops] def rowHash32(id: Column): Column = {
    val m = lit(4294967296L)
    val c = lit(73244475L)
    val lo = id.bitwiseAND(lit(4294967295L))
    val hi = shiftright(id, 32).bitwiseAND(lit(4294967295L))
    val h1 = pmod(hi * c + lo, m)
    val h2 = pmod(shiftright(h1, 16) + h1 * c + hi, m)
    val h3 = pmod(shiftright(h2, 16) + h2 * c, m)
    pmod(shiftright(h3, 16) + h3, m)
  }

  /** The same mix as SQL text (macro-expanded; DuckDB's CSE dedupes
    * the repeated subtrees, and the oracle only runs at dev SF). */
  private[ops] val rowHash32Sql: String = {
    val m = "4294967296"
    val lo = "(doc_id & 4294967295)"
    val hi = "((doc_id >> 32) & 4294967295)"
    val h1 = s"(($hi * 73244475 + $lo) % $m)"
    val h2 = s"((($h1 >> 16) + $h1 * 73244475 + $hi) % $m)"
    val h3 = s"((($h2 >> 16) + $h2 * 73244475) % $m)"
    s"((($h3 >> 16) + $h3) % $m)"
  }

  /** Gate: mix to 50% src0 / 30% src1 / 10% src2, dropping all other
    * sources (weight 0). */
  def mixture(s: SparkSession, dir: String): DataFrame =
    mixtureSample(s, dir,
      Map("src0" -> 0.5, "src1" -> 0.3, "src2" -> 0.1))

  val mixtureSql: String =
    s"""WITH counts AS (
      |  SELECT source, COUNT(*) AS n_src,
      |    SUM(COUNT(*)) OVER () AS n_total
      |  FROM documents GROUP BY source),
      |rates AS (
      |  SELECT source,
      |    least(1.0, (CASE source WHEN 'src0' THEN 0.5
      |                WHEN 'src1' THEN 0.3 WHEN 'src2' THEN 0.1
      |                ELSE 0.0 END) * n_total / n_src) AS rate
      |  FROM counts)
      |SELECT d.source, CAST(COUNT(*) AS BIGINT) AS n_kept,
      |  CAST(SUM(d.n_chars) AS BIGINT) AS chars_kept
      |FROM documents d JOIN rates USING (source)
      |WHERE CAST($rowHash32Sql AS DOUBLE)
      |  < rate * 4294967296
      |GROUP BY d.source
      |ORDER BY d.source""".stripMargin

  /** Temperature-flattened mixture (the multilingual/multi-domain
    * rebalancing rule, T = 2): per-source keep rate
    * min(1, c·√(n_total/n_src)) — rate ∝ share^(−1/2), so rare
    * domains are upsampled relative to dominant ones without the
    * explicit target weights [[mixtureSample]] takes. Deliberately
    * UN-normalized (a fixed budget constant c instead of dividing by
    * Σ√p): √ of a double ratio is IEEE-correctly-rounded in both
    * engines, so the rate — and therefore every row's keep decision —
    * is bit-identical cross-engine, where a cross-source float SUM
    * would depend on accumulation order. Same overflow-safe
    * multiplicative row hash as [[mixtureSample]]; the broadcast side
    * is the per-source rate table (O(sources)). */
  def mixtureTemperature(s: SparkSession, dir: String,
      c: Double = 0.2): DataFrame = {
    val docs = Tables.documents(s, dir)
    val counts = docs.groupBy(col("source"))
      .agg(count(lit(1)).as("n_src"))
      .withColumn("n_total", sum(col("n_src")).over(
        org.apache.spark.sql.expressions.Window.partitionBy()))
    val rates = counts.select(col("source"),
      least(lit(1.0), lit(c) * sqrt(
        col("n_total").cast("double") / col("n_src").cast("double")))
        .as("rate"))
    docs
      .join(broadcast(rates), "source")
      .filter(rowHash32(col("doc_id")).cast("double")
        < col("rate") * lit(4294967296.0))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_kept"),
           sum(col("n_chars")).as("chars_kept"))
      .orderBy(col("source"))
  }

  val mixtureTemperatureSql: String =
    s"""WITH counts AS (
      |  SELECT source, COUNT(*) AS n_src,
      |    SUM(COUNT(*)) OVER () AS n_total
      |  FROM documents GROUP BY source),
      |rates AS (
      |  SELECT source,
      |    least(1.0, 0.2 * sqrt(CAST(n_total AS DOUBLE)
      |                          / CAST(n_src AS DOUBLE))) AS rate
      |  FROM counts)
      |SELECT d.source, CAST(COUNT(*) AS BIGINT) AS n_kept,
      |  CAST(SUM(d.n_chars) AS BIGINT) AS chars_kept
      |FROM documents d JOIN rates USING (source)
      |WHERE CAST(${rowHash32Sql.replace("doc_id", "d.doc_id")} AS DOUBLE)
      |  < rate * 4294967296
      |GROUP BY d.source
      |ORDER BY d.source""".stripMargin

  /** Fractional-epoch upsampling ("data echoing"): where
    * [[mixtureSample]] THINS dominant sources toward target weights,
    * this REPLICATES under-represented ones — per-source epoch weight
    * `w` gives every doc `⌊w⌋` full copies plus one more with
    * probability `frac(w)` (decided by the same deterministic
    * [[rowHash32]] Bernoulli, so reruns reproduce the sample). The
    * standard way multi-epoch mixtures are materialized for training:
    * "2.5 epochs of src0" = two full passes + a deterministic half.
    * Output is the per-(source, epoch) census so the gate pins that
    * epoch k holds exactly the docs with `n_copies ≥ k`.
    *
    * Scale: replication is `explode(sequence(1, n_copies))` — a
    * per-row generator inside the scan projection, no shuffle and no
    * driver involvement; output volume is Σw·|src| by design (that IS
    * the requested corpus), and the census aggregate is map-side
    * partial. */
  def epochsSample(s: SparkSession, dir: String,
      weights: Map[String, Double]): DataFrame = {
    val docs = Tables.documents(s, dir)
    val weightCol = weights.foldLeft(lit(0.0)) { case (acc, (src, w)) =>
      when(col("source") === src, lit(w)).otherwise(acc)
    }
    docs
      .withColumn("w", weightCol)
      .withColumn("n_copies",
        (floor(col("w")).cast("long") +
          when(rowHash32(col("doc_id")).cast("double")
            < (col("w") - floor(col("w"))) * lit(4294967296.0), 1L)
            .otherwise(0L)))
      .filter(col("n_copies") > 0)
      .select(col("source"), col("n_chars"),
        explode(sequence(lit(1L), col("n_copies"))).as("epoch"))
      .groupBy(col("source"), col("epoch"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("chars"))
      .orderBy(col("source"), col("epoch"))
  }

  /** Gate: 2.5 epochs of src0, 1 of src1, 0.3 of src2, drop the rest. */
  def epochs(s: SparkSession, dir: String): DataFrame =
    epochsSample(s, dir,
      Map("src0" -> 2.5, "src1" -> 1.0, "src2" -> 0.3))

  val epochsSql: String =
    s"""WITH d AS (
      |  SELECT source, n_chars,
      |    CAST(floor(w) AS BIGINT) + CASE
      |      WHEN CAST($rowHash32Sql AS DOUBLE)
      |           < (w - floor(w)) * 4294967296 THEN 1 ELSE 0 END
      |      AS n_copies
      |  FROM (SELECT doc_id, source, n_chars,
      |          CASE source WHEN 'src0' THEN 2.5 WHEN 'src1' THEN 1.0
      |               WHEN 'src2' THEN 0.3 ELSE 0.0 END AS w
      |        FROM documents)),
      |e AS (
      |  SELECT source, n_chars,
      |    unnest(generate_series(1, n_copies)) AS epoch
      |  FROM d WHERE n_copies > 0)
      |SELECT source, CAST(epoch AS BIGINT) AS epoch,
      |  COUNT(*) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS chars
      |FROM e
      |GROUP BY source, epoch
      |ORDER BY source, epoch""".stripMargin

  // ---------------------------------------------------------------- //

  /** PII redaction: mask emails and phone numbers with typed
    * placeholder tokens before a corpus ships to training. The corpus
    * is synthetic, so the gate plants deterministic PII on every 7th
    * document (email + dashed phone) and then proves the scrub: each
    * affected doc comes back with both placeholders in place, zero
    * residual `@`, and the exact count of characters removed.
    *
    * Scale: a pure per-row projection of codegen'd `regexp_replace`s —
    * no shuffle at all except the gate's presentation ORDER BY. The
    * patterns compile once per task; at 100 TB this runs at scan
    * speed, which is the point: redaction must never be the
    * bottleneck of an export job. */
  def piiScrub(s: SparkSession, dir: String): DataFrame = {
    val emailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
    val phoneRe = "\\+?[0-9]{1,3}-[0-9]{3}-[0-9]{4}"
    val aug = Tables.documents(s, dir)
      .select(col("doc_id"),
        when(col("doc_id") % 7 === 0,
          concat(col("text"),
            lit(" contact user"), col("doc_id").cast("string"),
            lit("@example.com or +1-555-"),
            lpad((col("doc_id") % 10000).cast("string"), 4, "0"),
            lit(" now")))
          .otherwise(col("text")).as("text"))
    aug
      .select(col("doc_id"), col("text"),
        regexp_replace(
          regexp_replace(col("text"), emailRe, "<EMAIL>"),
          phoneRe, "<PHONE>").as("clean"))
      .filter(col("doc_id") % 7 === 0)
      .select(col("doc_id"), col("clean"),
        (length(col("text")) - length(col("clean"))).cast("long")
          .as("chars_removed"))
      .orderBy(col("doc_id"))
  }

  val piiScrubSql: String =
    """WITH aug AS (
      |  SELECT doc_id,
      |    CASE WHEN doc_id % 7 = 0
      |      THEN text || ' contact user' || CAST(doc_id AS VARCHAR)
      |        || '@example.com or +1-555-'
      |        || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') || ' now'
      |      ELSE text END AS text
      |  FROM documents)
      |SELECT doc_id,
      |  regexp_replace(regexp_replace(text,
      |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
      |    '\+?[0-9]{1,3}-[0-9]{3}-[0-9]{4}', '<PHONE>', 'g') AS clean,
      |  CAST(length(text) - length(regexp_replace(regexp_replace(text,
      |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
      |    '\+?[0-9]{1,3}-[0-9]{3}-[0-9]{4}', '<PHONE>', 'g')) AS BIGINT)
      |    AS chars_removed
      |FROM aug
      |WHERE doc_id % 7 = 0
      |ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- //

  /** Deterministic training-order shuffle: permute the corpus by a
    * seeded multiplicative hash of the doc id (Knuth's 2654435761,
    * exact 64-bit integer arithmetic — bit-identical in any engine)
    * and cut the permuted order into shards BY HASH RANGE, so shard
    * assignment needs no global row_number: every task maps its docs
    * to shards independently, and reading shards in order replays the
    * full pseudo-random permutation. Returns per-shard summaries.
    *
    * Scale: a seeded reshuffle of 10^9 docs is one hash projection +
    * one range-partitioned write — no global sort barrier, no
    * single-partition window, re-seedable per epoch. */
  def packShuffle(s: SparkSession, dir: String, nShards: Int = 16,
      seed: Long = 7L): DataFrame = {
    val m = 2654435761L
    val mod = 4294967296L // 2^32
    // XOR the seed in, don't add it: an additive seed only translates
    // the whole key set ((id+s+1)·m is (id+s)·m shifted by m), so two
    // epochs would replay almost the same order. XOR perturbs bits
    // non-affinely; the multiplier stays odd => still injective. The
    // seed hash is masked to 20 bits so the 64-bit product can never
    // overflow for doc ids < 2^41 (DuckDB would raise, Spark would
    // silently wrap — neither is acceptable).
    val seedHash = (seed * 0x9E3779B9L) % 1048576L
    val key =
      (col("doc_id").bitwiseXOR(lit(seedHash)) * lit(m)) % lit(mod)
    Tables.documents(s, dir)
      .select(col("doc_id"), col("n_chars"), key.as("perm_key"))
      .withColumn("shard_id",
        floor(col("perm_key") / lit(mod / nShards)).cast("long"))
      .groupBy(col("shard_id"))
      .agg(count(lit(1)).as("n_docs"),
           sum(col("n_chars")).as("chars"),
           min(col("perm_key")).as("key_lo"),
           max(col("perm_key")).as("key_hi"))
      .orderBy(col("shard_id"))
  }

  val packShuffleSql: String =
    """WITH keyed AS (
      |  SELECT doc_id, n_chars,
      |    (xor(doc_id, (7 * 2654435769) % 1048576) * 2654435761) % 4294967296
      |      AS perm_key
      |  FROM documents)
      |SELECT CAST(FLOOR(perm_key / 268435456) AS BIGINT) AS shard_id,
      |  CAST(COUNT(*) AS BIGINT) AS n_docs,
      |  CAST(SUM(n_chars) AS BIGINT) AS chars,
      |  MIN(perm_key) AS key_lo, MAX(perm_key) AS key_hi
      |FROM keyed
      |GROUP BY 1
      |ORDER BY shard_id""".stripMargin

  // ---------------------------------------------------------------- //

  /** Export the corpus as shard-addressed JSONL — the interchange
    * format training jobs actually consume. Documents go to
    * `outDir/shard_id=N/` text files via `to_json` +
    * `partitionBy`, with one `repartition(shard_id)` so each shard's
    * lines are written by one task (bounded file count); a `_manifest`
    * directory records per-shard doc/token counts computed from the
    * data. Scale: the shard assignment is [[shardAssignments]]'s
    * two-phase prefix sum; the export itself is one shuffle on
    * shard_id and a streaming text write — no driver materialization
    * anywhere. */
  def exportJsonlShards(s: SparkSession, dir: String, outDir: String,
      budget: Long = 2000L): Unit = {
    val docs = Tables.documents(s, dir)
    val lines = docs
      .join(shardAssignments(s, dir, budget, 64L)
        .select(col("doc_id"), col("shard_id")), "doc_id")
      .select(col("shard_id"),
        to_json(struct(col("doc_id"), col("text"), col("lang"),
          col("source"), col("n_chars"))).as("value"))
    // Explicit partition count (round-13): repartition(col) with no
    // count is AQE-coalescible, and the whole corpus-wide to_json +
    // write stage was measured collapsing onto ONE task (1.45 s of a
    // 3.0 s gate). Pinning the width keeps the write parallel while
    // preserving the file-count contract: every shard still hashes to
    // exactly one partition, so each shard directory gets exactly one
    // file with the same lines. Cores-derived, not a local constant;
    // a production export sizes this to shard count ÷ shards-per-task.
    lines.repartition(s.sparkContext.defaultParallelism, col("shard_id"))
      .write.mode("overwrite").partitionBy("shard_id").text(outDir)
    s.read.text(outDir)
      .select(input_file_name().as("f"), col("value"))
      .selectExpr("regexp_extract(f, 'shard_id=(\\\\d+)', 1) as shard_id",
        "length(value) as bytes")
      .groupBy(col("shard_id"))
      .agg(count(lit(1)).as("n_docs"), sum(col("bytes")).as("json_bytes"))
      .write.mode("overwrite").json(s"$outDir/_manifest")
  }

  /** Gate: export to scratch, then re-derive the shard summary FROM
    * THE EXPORTED JSONL ALONE (shard id from the directory name, text
    * re-parsed from the JSON lines) — proving escaping, partition
    * layout, and content all survive the round trip. Oracle =
    * [[packShardsSql]]: byte-identical to summarizing the source. */
  def exportJsonlGate(s: SparkSession, dir: String): DataFrame = {
    val outDir = Scaffold.scratch(dir, "jsonl_export")
    exportJsonlShards(s, dir, outDir)
    val schema = "doc_id BIGINT, text STRING"
    s.read.text(outDir)
      .withColumn("f", input_file_name())
      .filter(!col("f").contains("_manifest"))
      .select(
        regexp_extract(col("f"), "shard_id=(\\d+)", 1)
          .cast("long").as("shard_id"),
        from_json(col("value"), schema, Map.empty[String, String]).as("j"))
      .select(col("shard_id"), col("j.doc_id").as("doc_id"),
        size(split(col("j.text"), " ")).cast("long").as("n_tok"))
      .groupBy(col("shard_id"))
      .agg(count(lit(1)).as("n_docs"),
           sum(col("n_tok")).as("tokens"),
           min(col("doc_id")).as("first_doc"),
           max(col("doc_id")).as("last_doc"))
      .orderBy(col("shard_id"))
  }

  /** Dataset card: the per-(source, lang) summary a curation run
    * publishes — doc/token/char counts plus a corpus quality total.
    * The quality sum is accumulated as scaled longs
    * (`floor(q·10⁹ + 0.5)`) so the aggregate is order-independent
    * and hash-exact despite being float-valued per document (the
    * repo-wide determinism policy). One map-combinable aggregate —
    * a 100-rule profile costs the same single scan. */
  def datasetCard(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.TextFunctions._
    Tables.documents(s, dir)
      .select(col("source"), col("lang"),
        tokenCount(col("text")).as("n_tok"),
        charCount(col("text")).as("n_char"),
        floor(qualityScore(col("text")) * 1e9 + 0.5)
          .cast("long").as("q9"))
      .groupBy(col("source"), col("lang"))
      .agg(count(lit(1)).as("n_docs"),
           sum(col("n_tok")).as("tokens"),
           sum(col("n_char")).as("chars"),
           sum(col("q9")).as("quality_e9"))
      .orderBy(col("source"), col("lang"))
  }

  val datasetCardSql: String =
    s"""WITH q AS (${TextAnalysis.qualitySelectSql("documents")}),
       |d AS (SELECT doc_id, source, lang,
       |  CAST(len(list_filter(regexp_split_to_array(trim(text), '\\s+'),
       |      t -> len(t) > 0)) AS BIGINT) AS n_tok,
       |  CAST(length(text) AS BIGINT) AS n_char
       |  FROM documents)
       |SELECT source, lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
       |  CAST(SUM(n_tok) AS BIGINT) AS tokens,
       |  CAST(SUM(n_char) AS BIGINT) AS chars,
       |  CAST(SUM(CAST(FLOOR(quality * 1e9 + 0.5) AS BIGINT)) AS BIGINT)
       |    AS quality_e9
       |FROM d JOIN q USING (doc_id)
       |GROUP BY source, lang
       |ORDER BY source, lang""".stripMargin

  /** Deterministic train/val/test split: bucket =
    * `rowHash32(doc_id) mod 1000` → 80/10/10.
    * Hash-threshold selection — bit-reproducible across runs,
    * engines, and repartitions (same rationale as [[mixtureSample]]),
    * each row decides independently so the split is a pure projection
    * with NO shuffle; the gate reports per-(source, split) counts.
    * Splitting on a hash of the STABLE id (not position) keeps
    * membership stable as the corpus grows — the property that stops
    * eval contamination when shards are re-cut.
    *
    * The bucket comes from the full-width [[rowHash32]] mix (the
    * overflow-safe multiply–carry chain the mixture gates use), so
    * membership depends on ALL 64 id bits: the earlier
    * `mod 1000003` pre-reduction put ids exactly 1,000,003 apart in
    * the SAME split forever — a correlation a 100 TB corpus with
    * structured id allocation would expose as eval contamination. */
  def trainValTestSplit(s: SparkSession, dir: String): DataFrame = {
    val bucket = pmod(rowHash32(col("doc_id")), lit(1000L))
    Tables.documents(s, dir)
      .select(col("source"),
        when(bucket < 800, "train").when(bucket < 900, "val")
          .otherwise("test").as("split"))
      .groupBy(col("source"), col("split"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("source"), col("split"))
  }

  val trainValTestSplitSql: String =
    s"""WITH b AS (
      |  SELECT source,
      |    ($rowHash32Sql) % 1000 AS bucket
      |  FROM documents)
      |SELECT source,
      |  CASE WHEN bucket < 800 THEN 'train'
      |       WHEN bucket < 900 THEN 'val'
      |       ELSE 'test' END AS split,
      |  COUNT(*) AS n
      |FROM b
      |GROUP BY 1, 2
      |ORDER BY source, split""".stripMargin

  /** Fill-in-middle transform (Bavarian et al. 2022, the infilling
    * pre-training objective): each selected document is split at two
    * deterministic character cuts into (prefix, middle, suffix) and
    * re-emitted in PSM order — `<|fim_pre|>P<|fim_suf|>S<|fim_mid|>M`
    * — so the model learns to generate the middle from both sides;
    * unselected documents pass through unchanged (the standard ~50%
    * FIM rate).
    *
    * Cuts and the apply decision come from independent overflow-safe
    * multiplicative hashes of the STABLE doc id (the [[
    * trainValTestSplit]] mix), so the transform is a pure shuffle-free
    * projection, bit-reproducible across engines, reruns, and
    * re-shards — reassembling the three spans always recovers the
    * original text exactly. */
  def fimTransform(docs: DataFrame): DataFrame = {
    def mix(k: Long, c: Long): Column =
      pmod(pmod(col("doc_id"), lit(1000003L)) * lit(k) + lit(c),
        length(col("text")).cast("long") + 1L)
    docs
      .withColumn("_pa", mix(2654435761L, 40503L))
      .withColumn("_pb", mix(2246822519L, 104729L))
      .withColumn("lo", least(col("_pa"), col("_pb")))
      .withColumn("hi", greatest(col("_pa"), col("_pb")))
      .withColumn("fim",
        pmod(pmod(col("doc_id"), lit(1000003L)) * lit(3266489917L)
          + lit(11L), lit(2L)) === 0L)
      .withColumn("text_out", when(col("fim"),
          concat(lit("<|fim_pre|>"), expr("substring(text, 1, lo)"),
            lit("<|fim_suf|>"), expr("substring(text, hi + 1)"),
            lit("<|fim_mid|>"),
            expr("substring(text, lo + 1, hi - lo)")))
        .otherwise(col("text")))
      .select(col("doc_id"), col("fim"), col("text_out"))
  }

  def fimGate(s: SparkSession, dir: String): DataFrame =
    fimTransform(Tables.documents(s, dir).select(col("doc_id"),
        col("text")))
      .orderBy(col("doc_id"))

  val fimSql: String =
    """WITH m AS (
      |  SELECT doc_id, text,
      |    ((doc_id % 1000003) * 2654435761 + 40503)
      |      % (length(text) + 1) AS pa,
      |    ((doc_id % 1000003) * 2246822519 + 104729)
      |      % (length(text) + 1) AS pb,
      |    ((doc_id % 1000003) * 3266489917 + 11) % 2 = 0 AS fim
      |  FROM documents),
      |s AS (SELECT doc_id, fim, least(pa, pb) AS lo,
      |        greatest(pa, pb) AS hi, text FROM m)
      |SELECT doc_id, fim,
      |  CASE WHEN fim THEN '<|fim_pre|>' || substr(text, 1, CAST(lo AS INTEGER))
      |    || '<|fim_suf|>' || substr(text, CAST(hi + 1 AS INTEGER))
      |    || '<|fim_mid|>' || substr(text, CAST(lo + 1 AS INTEGER),
      |         CAST(hi - lo AS INTEGER))
      |  ELSE text END AS text_out
      |FROM s
      |ORDER BY doc_id""".stripMargin

  /** Length-bucketed batch packing — the dynamic-batching prep step
    * that keeps padding waste low when examples of similar length
    * train together: documents are bucketed by length range (width
    * `binW` chars), batches of `batchSize` are formed inside each
    * bucket in (length, doc_id) order, and each batch reports its
    * padding waste `n·max_len − Σlen`.
    *
    * Scale: batching inside a length bucket means the window is
    * PARTITIONED by bucket — no global single-partition sort, and the
    * padding bound (`binW` per row) is a design property, not an
    * accident of the sort. One shuffle on the bucket key; batch rows
    * out are `n_docs / batchSize`.
    */
  def lengthBuckets(s: SparkSession, dir: String,
                    binW: Int = 200, batchSize: Int = 32): DataFrame = {
    Tables.documents(s, dir)
      .select(col("doc_id"), col("n_chars"),
        expr(s"n_chars div $binW").as("bin"))
      .withColumn("batch", expr(
        s"(row_number() OVER (PARTITION BY bin ORDER BY n_chars, doc_id) - 1) div $batchSize"))
      .groupBy(col("bin"), col("batch"))
      .agg(count(lit(1)).as("n_docs"),
        min(col("n_chars")).as("min_len"),
        max(col("n_chars")).as("max_len"),
        sum(col("n_chars")).as("sum_len"))
      .withColumn("waste", col("n_docs") * col("max_len") - col("sum_len"))
      .orderBy(col("bin"), col("batch"))
  }

  val lengthBucketsSql: String =
    """WITH b AS (
      |  SELECT doc_id, n_chars, n_chars // 200 AS bin,
      |    (row_number() OVER (PARTITION BY n_chars // 200
      |       ORDER BY n_chars, doc_id) - 1) // 32 AS batch
      |  FROM documents)
      |SELECT bin, batch, COUNT(*) AS n_docs,
      |  MIN(n_chars) AS min_len, MAX(n_chars) AS max_len,
      |  CAST(SUM(n_chars) AS BIGINT) AS sum_len,
      |  CAST(COUNT(*) * MAX(n_chars) - SUM(n_chars) AS BIGINT) AS waste
      |FROM b GROUP BY bin, batch
      |ORDER BY bin, batch""".stripMargin

  /** Largest-remainder (Hamilton) apportionment of a fixed sample
    * budget `n` across sources: source `s` gets `⌊n·n_s/T⌋` slots,
    * and the `n − Σ⌊·⌋` leftover slots go to the largest remainders
    * (`(n·n_s) mod T` desc, source asc). The exact-integer way to
    * turn mixture WEIGHTS into mixture COUNTS that sum to precisely
    * `n` — seeded Bernoulli rates only hit the budget in expectation.
    *
    * Scale: the per-source count table is the only corpus-wide
    * reduce; apportionment itself runs on that O(sources) frame
    * (window over a dimension-sized set). Pure integer arithmetic —
    * bit-identical everywhere.
    */
  def apportion(s: SparkSession, dir: String, n: Long = 1000): DataFrame = {
    val counts = Tables.documents(s, dir)
      .groupBy(col("source")).agg(count(lit(1)).as("n_docs"))
    val tot = counts.agg(sum(col("n_docs")).as("t"))
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(expr(s"($n * n_docs) % t").desc, col("source"))
    counts.crossJoin(broadcast(tot))
      .withColumn("fl", expr(s"($n * n_docs) div t"))
      .withColumn("rk", row_number().over(w))
      .withColumn("leftover",
        lit(n) - sum(col("fl")).over(
          org.apache.spark.sql.expressions.Window
            .rowsBetween(Long.MinValue, Long.MaxValue)))
      .select(col("source"), col("n_docs"),
        (col("fl") + when(col("rk") <= col("leftover"), 1L).otherwise(0L))
          .as("alloc"))
      .orderBy(col("source"))
  }

  // DuckDB SUM(BIGINT) widens to HUGEINT, which pandas renders as
  // float64 — without the BIGINT casts `alloc` hash-mismatches the
  // int64 Spark column even when every value is identical.
  val apportionSql: String =
    """WITH counts AS (
      |  SELECT source, COUNT(*) AS n_docs FROM documents GROUP BY source),
      |tot AS (SELECT CAST(SUM(n_docs) AS BIGINT) AS t FROM counts),
      |r AS (
      |  SELECT source, n_docs,
      |    (1000 * n_docs) // t AS fl,
      |    row_number() OVER (ORDER BY (1000 * n_docs) % t DESC, source)
      |      AS rk,
      |    1000 - CAST(SUM((1000 * n_docs) // t) OVER () AS BIGINT)
      |      AS leftover
      |  FROM counts CROSS JOIN tot)
      |SELECT source, n_docs,
      |  CAST(fl + CASE WHEN rk <= leftover THEN 1 ELSE 0 END AS BIGINT)
      |    AS alloc
      |FROM r ORDER BY source""".stripMargin

  /** Weighted sampling without replacement, Efraimidis–Spirakis
    * (2006): each document draws a deterministic pseudo-uniform
    * `u ∈ (0,1]` from an overflow-safe doc_id hash and ranks by
    * `ln(u)/w` (the log of `u^(1/w)`); the global top-`k` IS an
    * exact weighted sample without replacement, here with weight =
    * document length. THE one-pass distributed algorithm for "sample
    * k docs proportional to length from 100 TB": no global RNG
    * state, no rejection loop, reproducible across reruns.
    *
    * Scale: the rank key is computed scan-side; top-k via
    * `ORDER BY … LIMIT k` is Spark's TakeOrderedAndProject —
    * per-partition heaps of k, single k-row reduce, no full sort.
    * Keys are 1e-9-snapped longs so cross-engine ordering (and the
    * doc_id tiebreak) is exact.
    */
  def weightedSample(s: SparkSession, dir: String, k: Int = 100): DataFrame =
    Tables.documents(s, dir)
      .select(col("doc_id"), col("n_chars"),
        floor(log((((col("doc_id") % 1000003L) * 2654435761L + 104729L)
            % 1000003L + 1L).cast("double") / 1000003.0) /
          col("n_chars").cast("double") * 1e9 + 0.5).cast("long")
          .as("key9"))
      .orderBy(col("key9").desc, col("doc_id"))
      .limit(k)

  val weightedSampleSql: String =
    """SELECT doc_id, n_chars,
      |  CAST(floor(ln(CAST(((doc_id % 1000003) * 2654435761 + 104729)
      |        % 1000003 + 1 AS DOUBLE) / 1000003.0) /
      |      CAST(n_chars AS DOUBLE) * 1e9 + 0.5) AS BIGINT) AS key9
      |FROM documents
      |ORDER BY key9 DESC, doc_id
      |LIMIT 100""".stripMargin

  /** Curriculum interleave: a global training order in which every
    * source appears proportionally throughout — no "all of source A,
    * then all of B" clumps (which turn into loss spikes mid-run).
    * Each document's interleave key is its source-relative midpoint
    * `(2·rn − 1) / (2·n_source)`; sorting by it merges the sources
    * like evenly-spaced tick marks (source s with n docs lands at
    * fractions 1/2n, 3/2n, …).
    *
    * Scale: the global RANK over that key is the same single-
    * partition trap as any global window, so it runs as the repo's
    * two-phase prefix: fixed-width key buckets → per-bucket counts →
    * broadcast running offsets → intra-bucket `row_number`
    * PARTITIONED by bucket. The per-source `rn` windows are
    * independently parallel (one partition per source). The key is
    * one double division of integers — identical IEEE ops in both
    * engines, so bucket floors and sort orders agree exactly.
    */
  def curriculum(s: SparkSession, dir: String,
      nBuckets: Int = 64): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val perSource = Window.partitionBy(col("source"))
      .orderBy(col("doc_id"))
    val keyed = Tables.documents(s, dir)
      .select(col("doc_id"), col("source"))
      .withColumn("rn", row_number().over(perSource))
      .withColumn("n_src", count(lit(1))
        .over(Window.partitionBy(col("source"))))
      .withColumn("ikey", (col("rn") * 2 - 1).cast("double") /
        (col("n_src") * 2).cast("double"))
      .withColumn("bucket", floor(col("ikey") * nBuckets).cast("long"))
    val offsets = keyed.groupBy(col("bucket"))
      .agg(count(lit(1)).as("bn"))
      .withColumn("off", coalesce(
        sum(col("bn")).over(Window.orderBy(col("bucket"))
          .rowsBetween(Long.MinValue, -1)), lit(0L)))
      .select(col("bucket"), col("off"))
    val intra = Window.partitionBy(col("bucket"))
      .orderBy(col("ikey"), col("source"), col("doc_id"))
    keyed.join(broadcast(offsets), "bucket")
      .withColumn("train_pos", col("off") + row_number().over(intra))
      .select(col("train_pos"), col("doc_id"), col("source"),
        (floor(col("ikey") * 1e6 + 0.5).cast("long")
          .cast("double") / 1e6).as("ikey"))
      .orderBy(col("train_pos"))
  }

  val curriculumSql: String =
    """WITH k AS (
      |  SELECT doc_id, source,
      |    CAST(2 * ROW_NUMBER() OVER (PARTITION BY source
      |          ORDER BY doc_id) - 1 AS DOUBLE) /
      |    CAST(2 * COUNT(*) OVER (PARTITION BY source) AS DOUBLE)
      |      AS ikey
      |  FROM documents)
      |SELECT
      |  CAST(ROW_NUMBER() OVER (ORDER BY ikey, source, doc_id)
      |    AS BIGINT) AS train_pos,
      |  doc_id, source,
      |  CAST(CAST(floor(ikey * 1e6 + 0.5) AS BIGINT) AS DOUBLE) / 1e6
      |    AS ikey
      |FROM k
      |ORDER BY train_pos""".stripMargin

  /** Exact stratified sampling — [[apportion]] turned into an actual
    * sample: Hamilton allocation fixes each source's EXACT slot count
    * (Σ = budget precisely), then each source contributes its
    * `alloc` lowest-hash documents ([[rowHash32]] order, doc_id
    * tie-break). Hash-threshold samplers ([[mixtureSample]]) hit the
    * budget only in expectation; this closes the gap for "exactly N
    * docs, source-proportional" curation contracts.
    *
    * Scale: the allocation table is O(sources) and broadcast; the
    * per-source rank is a window — for a hot source, pre-filter by a
    * loose hash threshold first (rate ≈ 3·alloc/n_src keeps the
    * windowed set tiny, same salted-trim discipline as
    * [[CurationPipeline.domainCap]]); at gate scale the direct window
    * is the oracle-exact choice. Emits per-source accounting plus an
    * integer id-checksum of the selected set, so the gate pins the
    * exact MEMBERSHIP, not just the counts.
    *
    * Precondition: `n ≤ corpus size` — then every per-source
    * allocation is ≤ that source's document count (Hamilton floors
    * cannot overshoot when n ≤ T), so `n_sampled == alloc` exactly. */
  def stratifiedExact(s: SparkSession, dir: String,
      n: Long = 1000): DataFrame = {
    val alloc = apportion(s, dir, n).select(col("source"), col("alloc"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("source"))
      .orderBy(rowHash32(col("doc_id")), col("doc_id"))
    Tables.documents(s, dir)
      .select(col("source"), col("doc_id"))
      .withColumn("rk", row_number().over(w))
      .join(broadcast(alloc), "source")
      .filter(col("rk") <= col("alloc"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_sampled"),
        sum(col("doc_id")).as("id_checksum"))
      .join(broadcast(alloc), "source")
      .select(col("source"), col("alloc"), col("n_sampled"),
        col("id_checksum"))
      .orderBy(col("source"))
  }

  val stratifiedExactSql: String =
    s"""WITH counts AS (
      |  SELECT source, COUNT(*) AS n_docs FROM documents GROUP BY source),
      |tot AS (SELECT CAST(SUM(n_docs) AS BIGINT) AS t FROM counts),
      |r AS (
      |  SELECT source, n_docs,
      |    (1000 * n_docs) // t AS fl,
      |    row_number() OVER (ORDER BY (1000 * n_docs) % t DESC, source)
      |      AS rk,
      |    1000 - CAST(SUM((1000 * n_docs) // t) OVER () AS BIGINT)
      |      AS leftover
      |  FROM counts CROSS JOIN tot),
      |alloc AS (
      |  SELECT source,
      |    CAST(fl + CASE WHEN rk <= leftover THEN 1 ELSE 0 END AS BIGINT)
      |      AS alloc
      |  FROM r),
      |ranked AS (
      |  SELECT source, doc_id,
      |    row_number() OVER (PARTITION BY source
      |      ORDER BY $rowHash32Sql, doc_id) AS rk
      |  FROM documents),
      |sampled AS (
      |  SELECT ranked.source, ranked.doc_id, alloc.alloc
      |  FROM ranked JOIN alloc ON ranked.source = alloc.source
      |  WHERE ranked.rk <= alloc.alloc)
      |SELECT source, CAST(MAX(alloc) AS BIGINT) AS alloc,
      |  COUNT(*) AS n_sampled,
      |  CAST(SUM(doc_id) AS BIGINT) AS id_checksum
      |FROM sampled GROUP BY source
      |ORDER BY source""".stripMargin

  // ---------------------------------------------------------------- //

  /** Deterministic weighted interleave of sources — the STREAMING
    * counterpart of [[mixture]]: instead of sampling a mixture, emit
    * documents in an exact round-robin schedule where source s with
    * weight w gets every (2i+1)·(L/w)-th slot (L = lcm of weights;
    * the classic weighted fair-queueing virtual-finish-time rule,
    * stated in exact integers). A trainer reading the sequence sees
    * sources paced proportionally to weight at EVERY prefix, not
    * just in expectation.
    *
    * Weight here derives from the source's numeric suffix
    * (1 + suffix % 3 ∈ {1,2,3}, L = 6) — stand-in for a config map.
    *
    * Scale: the per-source rank is a source-partitioned window; the
    * schedule key is a projection; the bounded head is
    * TakeOrderedAndProject (no global sort materialized). The full
    * interleaved corpus at scale is the same frame written
    * `sortWithinPartitions(k)` after a range repartition on k. */
  def interleave(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("source")).orderBy(col("doc_id"))
    val keyed = Tables.documents(s, dir)
      .select(col("doc_id"), col("source"))
      .withColumn("i", row_number().over(w) - 1)
      .withColumn("wt", expr("1 + CAST(substring(source, 4) AS INT) % 3"))
      .withColumn("k", expr("CAST((2*i + 1) * (6 div wt) AS BIGINT)"))
    val top = keyed.orderBy(col("k"), col("source")).limit(200)
    // 200-row frame: the single-partition window is metadata-sized
    top.withColumn("seq", row_number()
        .over(Window.orderBy(col("k"), col("source"))).cast("long"))
      .select(col("seq"), col("doc_id"), col("source"),
        (col("i") + 1).cast("long").as("src_rank"))
      .orderBy(col("seq"))
  }

  val interleaveSql: String =
    """WITH d AS (
      |  SELECT doc_id, source,
      |    ROW_NUMBER() OVER (PARTITION BY source ORDER BY doc_id) - 1
      |      AS i,
      |    1 + CAST(substring(source, 4) AS INT) % 3 AS wt
      |  FROM documents),
      |sched AS (SELECT doc_id, source, i,
      |        CAST((2*i + 1) * (6 // wt) AS BIGINT) AS k
      |      FROM d),
      |top AS (SELECT * FROM sched ORDER BY k, source LIMIT 200)
      |SELECT CAST(ROW_NUMBER() OVER (ORDER BY k, source) AS BIGINT)
      |    AS seq,
      |  doc_id, source, CAST(i + 1 AS BIGINT) AS src_rank
      |FROM top ORDER BY seq""".stripMargin

  /** Resumable keyset-paginated export — the crash-safe bulk-export
    * primitive: page N is `WHERE doc_id > cursor ORDER BY doc_id
    * LIMIT 100` using ONLY the last emitted key, so a restarted
    * exporter resumes from its cursor without OFFSET scans or
    * row-number barriers. The gate drives five REAL cursor hops
    * (each page an independent TakeOrderedAndProject query, exactly
    * what a resume executes) and emits per-page stats; the oracle
    * restates the pages via row_number, so any overlap, gap, or
    * ordering drift between the cursor path and the global
    * numbering hash-fails.
    *
    * Scale: each page probe is a pushed-down range filter + top-k —
    * no global sort, no offset; at 100 TB the filter prunes row
    * groups via parquet min/max on the sorted key. */
  def resumeCursor(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir).select(col("doc_id"))
    var cursor = Long.MinValue
    val pages = collection.mutable.ArrayBuffer
      .empty[(Long, Long, Long, Long)]
    var p = 0
    var exhausted = false
    while (p < 5 && !exhausted) {
      val ids = docs.filter(col("doc_id") > cursor)
        .orderBy(col("doc_id")).limit(100)
        .collect().map(_.getLong(0))
      if (ids.isEmpty) exhausted = true
      else {
        pages += ((p.toLong, ids.length.toLong, ids.head, ids.last))
        cursor = ids.last
        p += 1
      }
    }
    import s.implicits._
    pages.toSeq.toDF("page", "n_rows", "min_id", "max_id")
      .orderBy(col("page"))
  }

  val resumeCursorSql: String =
    """WITH r AS (
      |  SELECT doc_id,
      |    (ROW_NUMBER() OVER (ORDER BY doc_id) - 1) // 100 AS page
      |  FROM documents)
      |SELECT CAST(page AS BIGINT) AS page, COUNT(*) AS n_rows,
      |  MIN(doc_id) AS min_id, MAX(doc_id) AS max_id
      |FROM r WHERE page < 5 GROUP BY page
      |ORDER BY page""".stripMargin

  /** Padding-waste estimator — the cost model a pipeline consults
    * BEFORE choosing a batching strategy: for documents that fit the
    * 512-token context (over-length docs are counted but excluded
    * from all three strategies identically), the exact padded-token
    * overhead of (a) pad-every-doc-to-512, (b) pad to the smallest
    * length bucket in {128,256,384,512}, (c) concat-and-chunk
    * (waste only in the final partial sequence). The overhead_ppm
    * column is the fraction of compute spent on padding — the number
    * that justifies bucketing/packing at training time.
    *
    * Exact integers end to end: whitespace token counts, ceil/mod
    * arithmetic on non-negative operands. Scale: one projection pass
    * for per-doc counts; strategies (a)/(b) are map-side conditional
    * sums; (c) needs only the GLOBAL token total (one scalar). */
  def paddingWaste(s: SparkSession, dir: String): DataFrame = {
    val nt = Tables.documents(s, dir)
      .select(size(split(col("text"), " ")).cast("long").as("n_tok"))
    val fit = nt.filter(col("n_tok") <= 512)
    val agg = fit.agg(
      count(lit(1)).as("n_docs"),
      sum(col("n_tok")).as("tok"),
      sum(lit(512L) - col("n_tok")).as("pad_max"),
      sum(expr("""CASE WHEN n_tok <= 128 THEN 128
                  WHEN n_tok <= 256 THEN 256
                  WHEN n_tok <= 384 THEN 384 ELSE 512 END - n_tok"""))
        .as("pad_bucket"))
    agg.select(
      explode(array(
        struct(lit("a_pad_to_max").as("strategy"),
          col("n_docs").as("n_seqs"),
          col("pad_max").as("padded_tokens"),
          expr("pad_max * 1000000L div (tok + pad_max)")
            .as("overhead_ppm")),
        struct(lit("b_bucket_pad").as("strategy"),
          col("n_docs").as("n_seqs"),
          col("pad_bucket").as("padded_tokens"),
          expr("pad_bucket * 1000000L div (tok + pad_bucket)")
            .as("overhead_ppm")),
        struct(lit("c_concat_chunk").as("strategy"),
          expr("(tok + 511) div 512").as("n_seqs"),
          expr("((tok + 511) div 512) * 512 - tok").as("padded_tokens"),
          expr("(((tok + 511) div 512) * 512 - tok) * 1000000L " +
            "div (((tok + 511) div 512) * 512)").as("overhead_ppm"))))
        .as("s"))
      .select(col("s.strategy"), col("s.n_seqs"),
        col("s.padded_tokens"), col("s.overhead_ppm"))
      .orderBy(col("strategy"))
  }

  val paddingWasteSql: String =
    """WITH nt AS (
      |  SELECT CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
      |  FROM documents),
      |fit AS (SELECT n_tok FROM nt WHERE n_tok <= 512),
      |a AS (
      |  SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
      |    CAST(SUM(n_tok) AS BIGINT) AS tok,
      |    CAST(SUM(512 - n_tok) AS BIGINT) AS pad_max,
      |    CAST(SUM(CASE WHEN n_tok <= 128 THEN 128
      |      WHEN n_tok <= 256 THEN 256
      |      WHEN n_tok <= 384 THEN 384 ELSE 512 END - n_tok)
      |      AS BIGINT) AS pad_bucket
      |  FROM fit)
      |SELECT 'a_pad_to_max' AS strategy, n_docs AS n_seqs,
      |  pad_max AS padded_tokens,
      |  CAST(pad_max * 1000000 // (tok + pad_max) AS BIGINT)
      |    AS overhead_ppm
      |FROM a
      |UNION ALL
      |SELECT 'b_bucket_pad', n_docs, pad_bucket,
      |  CAST(pad_bucket * 1000000 // (tok + pad_bucket) AS BIGINT)
      |FROM a
      |UNION ALL
      |SELECT 'c_concat_chunk', (tok + 511) // 512,
      |  ((tok + 511) // 512) * 512 - tok,
      |  CAST((((tok + 511) // 512) * 512 - tok) * 1000000
      |    // (((tok + 511) // 512) * 512) AS BIGINT)
      |FROM a
      |ORDER BY strategy""".stripMargin

  /** PII DETECTION report — the measurement half of `pii_scrub`
    * (scrub rewrites; this one tells you how much there is to scrub,
    * per detector, before you pay for the rewrite pass): emails,
    * NANP phone numbers, and 16-digit card candidates split into
    * LUHN-VALID and merely card-shaped — the checksum is what keeps
    * random digit runs out of the alarm. Luhn runs as a codegen'd
    * HOF fold over the extracted digits (double every second digit
    * from the right, subtract 9 on overflow, sum ≡ 0 mod 10) —
    * identical integer folds on both engines. Planted PII rows
    * (doc_id+40000) prove every detector fires; the detectors also
    * scan the whole natural corpus.
    *
    * Scale: one projection + explode pass; counts map-side combine;
    * output is O(detectors). */
  def piiDetect(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir).select(col("doc_id"), col("text"))
    val planted = docs.filter(col("doc_id") < 20).select(
      (col("doc_id") + 40000).as("doc_id"),
      concat(col("text"), lit(" reach user"), col("doc_id"),
        lit("@example.com or +1-415-555-0100 card 4111111111111111" +
          " alt 4111111111111112")).as("text"))
    val corpus = docs.union(planted)
    val luhnOk =
      """aggregate(transform(sequence(1, 16), i ->
        |  CASE WHEN i % 2 = 1 THEN
        |    CASE WHEN 2 * CAST(substring(card, i, 1) AS INT) > 9
        |      THEN 2 * CAST(substring(card, i, 1) AS INT) - 9
        |      ELSE 2 * CAST(substring(card, i, 1) AS INT) END
        |  ELSE CAST(substring(card, i, 1) AS INT) END),
        |  0, (a, x) -> a + x) % 10 = 0""".stripMargin
    val counted = corpus.select(
      size(expr("regexp_extract_all(text, " +
        "'[a-z0-9._]+@[a-z0-9.-]+\\\\.[a-z]{2,}', 0)")).as("n_email"),
      size(expr("regexp_extract_all(text, " +
        "'\\\\+1-[0-9]{3}-[0-9]{3}-[0-9]{4}', 0)")).as("n_phone"),
      expr("transform(regexp_extract_all(text, '[0-9]{16}', 0), " +
        s"card -> $luhnOk)").as("luhn"))
      .select(col("n_email"), col("n_phone"),
        size(col("luhn")).as("n_card_like"),
        size(filter(col("luhn"), x => x)).as("n_card_valid"))
    def row(name: String, c: Column) = counted.agg(
      sum(when(c > 0, 1L).otherwise(0L)).as("n_docs"),
      sum(c.cast("long")).as("n_hits"))
      .select(lit(name).as("detector"), col("n_docs"), col("n_hits"))
    row("card_like", col("n_card_like"))
      .unionByName(row("card_valid", col("n_card_valid")))
      .unionByName(row("email", col("n_email")))
      .unionByName(row("phone", col("n_phone")))
      .orderBy(col("detector"))
  }

  val piiDetectSql: String =
    """WITH corpus AS (
      |  SELECT doc_id, text FROM documents
      |  UNION ALL
      |  SELECT doc_id + 40000,
      |    text || ' reach user' || CAST(doc_id AS VARCHAR)
      |      || '@example.com or +1-415-555-0100 card'
      |      || ' 4111111111111111 alt 4111111111111112'
      |  FROM documents WHERE doc_id < 20),
      |counted AS (
      |  SELECT
      |    CAST(len(regexp_extract_all(text,
      |      '[a-z0-9._]+@[a-z0-9.-]+\.[a-z]{2,}')) AS BIGINT)
      |      AS n_email,
      |    CAST(len(regexp_extract_all(text,
      |      '\+1-[0-9]{3}-[0-9]{3}-[0-9]{4}')) AS BIGINT) AS n_phone,
      |    list_transform(regexp_extract_all(text, '[0-9]{16}'),
      |      card -> list_sum(list_transform(generate_series(1, 16),
      |        i -> CASE WHEN i % 2 = 1 THEN
      |          CASE WHEN 2 * CAST(substr(card, CAST(i AS INTEGER), 1)
      |            AS INTEGER) > 9
      |          THEN 2 * CAST(substr(card, CAST(i AS INTEGER), 1)
      |            AS INTEGER) - 9
      |          ELSE 2 * CAST(substr(card, CAST(i AS INTEGER), 1)
      |            AS INTEGER) END
      |        ELSE CAST(substr(card, CAST(i AS INTEGER), 1)
      |          AS INTEGER) END)) % 10 = 0) AS luhn
      |  FROM corpus),
      |wide AS (
      |  SELECT n_email, n_phone,
      |    CAST(len(luhn) AS BIGINT) AS n_card_like,
      |    CAST(len(list_filter(luhn, x -> x)) AS BIGINT)
      |      AS n_card_valid
      |  FROM counted)
      |SELECT 'card_like' AS detector,
      |  CAST(SUM(CASE WHEN n_card_like > 0 THEN 1 ELSE 0 END)
      |    AS BIGINT) AS n_docs,
      |  CAST(SUM(n_card_like) AS BIGINT) AS n_hits FROM wide
      |UNION ALL
      |SELECT 'card_valid',
      |  CAST(SUM(CASE WHEN n_card_valid > 0 THEN 1 ELSE 0 END)
      |    AS BIGINT),
      |  CAST(SUM(n_card_valid) AS BIGINT) FROM wide
      |UNION ALL
      |SELECT 'email',
      |  CAST(SUM(CASE WHEN n_email > 0 THEN 1 ELSE 0 END) AS BIGINT),
      |  CAST(SUM(n_email) AS BIGINT) FROM wide
      |UNION ALL
      |SELECT 'phone',
      |  CAST(SUM(CASE WHEN n_phone > 0 THEN 1 ELSE 0 END) AS BIGINT),
      |  CAST(SUM(n_phone) AS BIGINT) FROM wide
      |ORDER BY detector""".stripMargin

  /** Keyed PSEUDONYMIZATION — the reversible-only-with-the-key
    * middle ground between raw ids and crypto-shredding: every
    * customer key is replaced by `md5(salt ‖ key)` CONSISTENTLY
    * across tables, so referential structure survives (orders still
    * join customers on the pseudonym with exactly the original
    * cardinalities) while the raw identifier disappears from the
    * released data. The gate proves all three contract clauses:
    * pseudonyms are injective (distinct count preserved), the
    * cross-table join count is unchanged, and no released pseudonym
    * equals a raw key's text form.
    *
    * md5 rather than xxhash because the ORACLE must reproduce the
    * mapping bit-for-bit — both engines ship md5; the salt keeps
    * rainbow lookups out. Scale: two projections + one pseudonym-
    * keyed join, same shuffle the raw-key join would pay. */
  def pseudonymize(s: SparkSession, dir: String): DataFrame = {
    val salt = "graft-release-2026"
    def pseudo(c: Column): Column =
      md5(concat(lit(salt), c.cast("string")))
    val cust = Tables.customer(s, dir)
      .select(pseudo(col("c_custkey")).as("pid"),
        col("c_custkey").cast("string").as("raw"))
    val ords = Tables.orders(s, dir)
      .select(pseudo(col("o_custkey")).as("pid"))
    val joinRaw = Tables.orders(s, dir)
      .join(Tables.customer(s, dir),
        col("o_custkey") === col("c_custkey")).count()
    val joinPseudo = ords.join(cust.select(col("pid")), "pid").count()
    val stats = cust.agg(
      count(lit(1)).as("n_cust"),
      countDistinct(col("pid")).as("n_pid"),
      sum(when(col("pid") === col("raw"), 1L).otherwise(0L))
        .as("n_leaked")).head()
    import s.implicits._
    Seq((stats.getAs[Long]("n_cust"), stats.getAs[Long]("n_pid"),
      stats.getAs[Long]("n_leaked"), joinRaw, joinPseudo,
      joinRaw == joinPseudo))
      .toDF("n_cust", "n_pid", "n_leaked", "join_raw", "join_pseudo",
        "join_preserved")
  }

  val pseudonymizeSql: String =
    """WITH cust AS (
      |  SELECT md5('graft-release-2026'
      |      || CAST(c_custkey AS VARCHAR)) AS pid,
      |    CAST(c_custkey AS VARCHAR) AS raw
      |  FROM customer),
      |j AS (
      |  SELECT CAST(COUNT(*) AS BIGINT) AS join_raw
      |  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey),
      |jp AS (
      |  SELECT CAST(COUNT(*) AS BIGINT) AS join_pseudo
      |  FROM (SELECT md5('graft-release-2026'
      |          || CAST(o_custkey AS VARCHAR)) AS pid FROM orders) o
      |  JOIN cust c ON o.pid = c.pid)
      |SELECT CAST(COUNT(*) AS BIGINT) AS n_cust,
      |  CAST(COUNT(DISTINCT pid) AS BIGINT) AS n_pid,
      |  CAST(SUM(CASE WHEN pid = raw THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_leaked,
      |  j.join_raw, jp.join_pseudo,
      |  j.join_raw = jp.join_pseudo AS join_preserved
      |FROM cust, j, jp
      |GROUP BY j.join_raw, jp.join_pseudo""".stripMargin

  /** Preference-pair construction (the DPO/RLHF data shape:
    * chosen/rejected document pairs): within each source, rank
    * documents by a deterministic quality proxy — type-token ratio
    * in exact ppm (`distinct words · 10⁶ div words`, the vocabulary-
    * richness screen) with doc_id tie-break — and pair the best with
    * the worst, second-best with second-worst, inward
    * (rank i ↔ rank n+1−i for i ≤ n div 2; the odd middle doc is
    * unpaired). Emits (source, pair_rank, chosen/rejected ids, both
    * scores and the margin) — margin ≥ 0 by construction.
    *
    * Scale: the score is one map-combinable (doc, word)
    * distinct + count; ranking is per-SOURCE windows (thousands of
    * independent partitions at corpus scale, never a global sort);
    * the pairing is a self-join on (source, mirrored rank) — equi,
    * O(docs). */
  def preferencePairs(s: SparkSession, dir: String): DataFrame = {
    val toks = Tables.documents(s, dir)
      .select(col("doc_id"), col("source"),
        explode(split(lower(col("text")), " ")).as("w"))
    val scored = toks
      .groupBy(col("doc_id"), col("source"))
      .agg(countDistinct(col("w")).as("dw"), count(lit(1)).as("nw"))
      .select(col("doc_id"), col("source"),
        expr("(dw * 1000000) div nw").as("ttr_ppm"))
    val bySrc = Window.partitionBy(col("source"))
    val w = bySrc.orderBy(col("ttr_ppm").desc, col("doc_id"))
    val ranked = scored
      .withColumn("rk", row_number().over(w).cast(LongType))
      .withColumn("n", count(lit(1)).over(bySrc))
    val top = ranked.filter(expr("rk <= n div 2"))
      .select(col("source"), col("rk").as("pair_rank"),
        col("doc_id").as("chosen_doc"),
        col("ttr_ppm").as("chosen_ttr_ppm"), col("n"))
    val bottom = ranked
      .select(col("source"), (col("n") + 1 - col("rk")).as("pair_rank"),
        col("doc_id").as("rejected_doc"),
        col("ttr_ppm").as("rejected_ttr_ppm"))
    top.join(bottom, Seq("source", "pair_rank"))
      .select(col("source"), col("pair_rank"), col("chosen_doc"),
        col("rejected_doc"), col("chosen_ttr_ppm"),
        col("rejected_ttr_ppm"),
        (col("chosen_ttr_ppm") - col("rejected_ttr_ppm"))
          .as("margin_ppm"))
      .orderBy(col("source"), col("pair_rank"))
  }

  val preferencePairsSql: String =
    """WITH toks AS (
      |  SELECT doc_id, source,
      |    unnest(string_split(lower(text), ' ')) AS w
      |  FROM documents),
      |scored AS (
      |  SELECT doc_id, source,
      |    (COUNT(DISTINCT w) * 1000000) // COUNT(*) AS ttr_ppm
      |  FROM toks GROUP BY doc_id, source),
      |ranked AS (
      |  SELECT doc_id, source, CAST(ttr_ppm AS BIGINT) AS ttr_ppm,
      |    CAST(row_number() OVER (PARTITION BY source
      |      ORDER BY ttr_ppm DESC, doc_id) AS BIGINT) AS rk,
      |    CAST(COUNT(*) OVER (PARTITION BY source) AS BIGINT) AS n
      |  FROM scored)
      |SELECT t.source, t.rk AS pair_rank,
      |  t.doc_id AS chosen_doc, b.doc_id AS rejected_doc,
      |  t.ttr_ppm AS chosen_ttr_ppm, b.ttr_ppm AS rejected_ttr_ppm,
      |  t.ttr_ppm - b.ttr_ppm AS margin_ppm
      |FROM ranked t JOIN ranked b
      |  ON b.source = t.source AND b.rk = t.n + 1 - t.rk
      |WHERE t.rk <= t.n // 2
      |ORDER BY t.source, pair_rank""".stripMargin

  /** Chat-template rendering — the SFT-data formatting step that
    * turns (conversation, turn, role, text) rows into the single
    * training string a tokenizer consumes: documents group into
    * 3-turn conversations (`conv = doc_id div 3`), roles cycle
    * system/user/assistant by turn, each turn renders as
    * `<|role|>text`, and turns concatenate IN TURN ORDER. The gate
    * emits per conversation the turn count, rendered length, and a
    * portable `acc·31 + code mod 1e9+7` roll of the rendered string
    * — so the exact rendered BYTES are hash-checked, not just
    * counted (a mis-ordered or mis-tagged render cannot pass).
    *
    * Scale: one groupBy(conv) with an in-group sort of ≤ 3 turns —
    * the shuffle carries each doc once; rendering and the roll are
    * pure codegen projections. */
  def chatTemplate(s: SparkSession, dir: String): DataFrame = {
    val msgs = Tables.documents(s, dir)
      .select(expr("doc_id div 3").as("conv_id"),
        col("doc_id"),
        concat(lit("<|"),
          element_at(array(lit("system"), lit("user"),
            lit("assistant")), (col("doc_id") % 3 + 1).cast("int")),
          lit("|>"), col("text")).as("tagged"))
    msgs.groupBy(col("conv_id"))
      .agg(count(lit(1)).as("n_turns"),
        expr("array_join(transform(" +
          "array_sort(collect_list(struct(doc_id, tagged)))," +
          " x -> x.tagged), '')").as("rendered"))
      .select(col("conv_id"), col("n_turns"),
        length(col("rendered")).cast(LongType).as("n_chars_rendered"),
        // one linear split pass, not per-position substring scans
        // (identical roll values — same codes, same fold)
        expr("aggregate(transform(split(rendered, '')," +
          " c -> CAST(ascii(c) AS BIGINT))," +
          " CAST(0 AS BIGINT)," +
          " (acc, c) -> (acc * 31 + c) % 1000000007)").as("roll_hash"))
      .orderBy(col("conv_id"))
  }

  val chatTemplateSql: String =
    """WITH msgs AS (
      |  SELECT doc_id // 3 AS conv_id, doc_id,
      |    '<|' || ['system','user','assistant']
      |      [CAST(doc_id % 3 AS INTEGER) + 1] || '|>' || text
      |      AS tagged
      |  FROM documents),
      |conv AS (
      |  SELECT conv_id, COUNT(*) AS n_turns,
      |    string_agg(tagged, '' ORDER BY doc_id) AS rendered
      |  FROM msgs GROUP BY conv_id)
      |SELECT conv_id, n_turns,
      |  CAST(length(rendered) AS BIGINT) AS n_chars_rendered,
      |  list_reduce(list_prepend(CAST(0 AS BIGINT),
      |    list_transform(generate_series(1, length(rendered)),
      |      i -> CAST(ascii(substring(rendered, i, 1)) AS BIGINT))),
      |    (acc, c) -> (acc * 31 + c) % 1000000007) AS roll_hash
      |FROM conv ORDER BY conv_id""".stripMargin

  /** Cross-document attention waste of the [[concatChunk]] packer —
    * the number a training-efficiency review actually asks for: with
    * document-boundary masking, a packed sequence of segments
    * ℓ₁..ℓ_m only trains Σ ℓᵢ(ℓᵢ+1)/2 causal pairs of the full
    * T(T+1)/2, and the gap is attention compute either wasted (no
    * masking: cross-doc leakage) or lost (masking: idle pairs). All
    * quantities are exact BIGINTs from the same two-phase-prefix-sum
    * spans as the packer itself, so packer and audit can never
    * disagree on boundaries.
    *
    * Scale: identical fan-out shape to [[concatChunk]] (a doc
    * touches sequences proportional to its own length), map-
    * combinable per-sequence reduce. */
  def maskWaste(s: SparkSession, dir: String,
      seqLen: Long = 512L): DataFrame = {
    val l = lit(seqLen)
    shardAssignments(s, dir, budget = Long.MaxValue, bucketWidth = 64L)
      .select(col("doc_id"), col("cum_before").as("start"),
        (col("cum_before") + col("n_tok")).as("e"))
      .withColumn("seq_id", explode(sequence(
        expr(s"start div $seqLen"), expr(s"(e - 1) div $seqLen"))))
      .withColumn("seg",
        least(col("e"), (col("seq_id") + 1L) * l)
          - greatest(col("start"), col("seq_id") * l))
      .groupBy(col("seq_id"))
      .agg(count(lit(1)).as("n_segments"),
        sum(col("seg")).as("t"),
        sum(expr("seg * (seg + 1) div 2")).as("within_pairs"))
      .select(col("seq_id"), col("n_segments"), col("t"),
        col("within_pairs"),
        expr("t * (t + 1) div 2").as("full_pairs"),
        expr("((t * (t + 1) div 2 - within_pairs) * 1000000)" +
          " div (t * (t + 1) div 2)").as("waste_ppm"))
      .orderBy(col("seq_id"))
  }

  val maskWasteSql: String =
    """WITH t AS (SELECT doc_id,
      |  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
      |  FROM documents),
      |c AS (SELECT doc_id, n_tok,
      |  CAST(COALESCE(SUM(n_tok) OVER (ORDER BY doc_id
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
      |    AS BIGINT) AS start
      |  FROM t),
      |x AS (
      |  SELECT start, start + n_tok AS e,
      |    unnest(range(start // 512, (start + n_tok - 1) // 512 + 1))
      |      AS seq_id
      |  FROM c),
      |segs AS (
      |  SELECT seq_id,
      |    LEAST(e, (seq_id + 1) * 512)
      |      - GREATEST(start, seq_id * 512) AS seg
      |  FROM x),
      |per_seq AS (
      |  SELECT CAST(seq_id AS BIGINT) AS seq_id,
      |    COUNT(*) AS n_segments,
      |    CAST(SUM(seg) AS BIGINT) AS t,
      |    CAST(SUM(seg * (seg + 1) // 2) AS BIGINT) AS within_pairs
      |  FROM segs GROUP BY seq_id)
      |SELECT seq_id, n_segments, t, within_pairs,
      |  t * (t + 1) // 2 AS full_pairs,
      |  ((t * (t + 1) // 2 - within_pairs) * 1000000)
      |    // (t * (t + 1) // 2) AS waste_ppm
      |FROM per_seq ORDER BY seq_id""".stripMargin

  /** GRPO-style group-relative advantages (Shao et al. 2024's
    * group-normalized reward shape): samples group by prompt (here:
    * customer, the first ≤ 8 orders by key), reward = price cents,
    * and each sample's advantage is (r − group mean)/group std. Both
    * are emitted EXACTLY: the numerator as the integer `r·n − Σr`
    * (mean cleared of its division) and the z-score via the
    * algebraic identity `(r·n − Σr)/√(n·Σr² − (Σr)²)` — ONE fixed
    * sqrt tree e6-snapped, no intermediate mean/std doubles.
    * Constant-reward groups (zero variance) emit NULL z by
    * convention.
    *
    * Scale: one window cap + one map-combinable group aggregate +
    * an equi re-join on the group key — the standard RLVR batch
    * shape; nothing quadratic. */
  def grpoAdvantage(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderkey"))
    val capped = Tables.orders(s, dir)
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 8)
      .select(col("o_custkey").as("task"),
        col("o_orderkey").as("sample_id"),
        expr("CAST(ROUND(o_totalprice * 100) AS BIGINT)").as("r"))
    val groups = capped.groupBy(col("task"))
      .agg(count(lit(1)).as("n"), sum(col("r")).as("sr"),
        sum(col("r") * col("r")).as("srr"))
      .filter(col("n") >= 4)
    capped.join(groups, "task")
      .select(col("task"), col("sample_id"), col("r"), col("n"),
        expr("r * n - sr").as("adv_num"),
        expr("CASE WHEN n * srr - sr * sr > 0 THEN" +
          " CAST(floor(CAST(r * n - sr AS DOUBLE)" +
          " / sqrt(CAST(n * srr - sr * sr AS DOUBLE))" +
          " * 1e6 + 0.5) AS BIGINT) END").as("z_e6"))
      .orderBy(col("task"), col("sample_id"))
  }

  val grpoAdvantageSql: String =
    """WITH capped AS (
      |  SELECT o_custkey AS task, o_orderkey AS sample_id,
      |    CAST(ROUND(o_totalprice * 100) AS BIGINT) AS r,
      |    row_number() OVER (PARTITION BY o_custkey
      |      ORDER BY o_orderkey) AS rk
      |  FROM orders),
      |c AS (SELECT task, sample_id, r FROM capped WHERE rk <= 8),
      |g AS (
      |  SELECT task, COUNT(*) AS n, CAST(SUM(r) AS BIGINT) AS sr,
      |    CAST(SUM(r * r) AS BIGINT) AS srr
      |  FROM c GROUP BY task HAVING COUNT(*) >= 4)
      |SELECT c.task, c.sample_id, c.r, g.n,
      |  c.r * g.n - g.sr AS adv_num,
      |  CASE WHEN g.n * g.srr - g.sr * g.sr > 0 THEN
      |    CAST(floor(CAST(c.r * g.n - g.sr AS DOUBLE)
      |      / sqrt(CAST(g.n * g.srr - g.sr * g.sr AS DOUBLE))
      |      * 1e6 + 0.5) AS BIGINT) END AS z_e6
      |FROM c JOIN g USING (task)
      |ORDER BY c.task, c.sample_id""".stripMargin

  /** MLM masking plan (Devlin et al. 2018's 15% / 80-10-10 recipe):
    * every token position draws a deterministic full-width hash of
    * (doc, position); 15% of positions mask, and of those 80% become
    * [MASK], 10% a random token, 10% stay — the BERT-style
    * pre-training data plan as a shuffle-free projection whose
    * decisions are REPRODUCIBLE across runs, engines, and epochs
    * (the [[trainValTestSplit]] stable-hash discipline, per token).
    * The gate audits the plan per source: exact position counts per
    * decision class plus the realized mask rate in ppm.
    *
    * Scale: one explode over token positions (the tokenizer pass a
    * real pipeline already pays) + one map-combinable aggregate;
    * each position decides independently. */
  def mlmMask(s: SparkSession, dir: String): DataFrame = {
    val toks = Tables.documents(s, dir)
      .select(col("doc_id"), col("source"),
        posexplode(split(col("text"), " ")).as(Seq("p", "w")))
      .withColumn("h",
        rowHash32(col("doc_id") * 100003L + col("p")))
      .withColumn("masked", col("h") % 100 < 15)
      .withColumn("cls",
        when(!col("masked"), "pass")
          .when(expr("(h div 100) % 10") < 8, "mask")
          .when(expr("(h div 100) % 10") === 8, "random")
          .otherwise("keep"))
    toks.groupBy(col("source"))
      .agg(count(lit(1)).as("n_tokens"),
        sum(when(col("cls") === "mask", 1L).otherwise(0L))
          .as("n_mask"),
        sum(when(col("cls") === "random", 1L).otherwise(0L))
          .as("n_random"),
        sum(when(col("cls") === "keep", 1L).otherwise(0L))
          .as("n_keep"))
      .select(col("source"), col("n_tokens"), col("n_mask"),
        col("n_random"), col("n_keep"),
        expr("((n_mask + n_random + n_keep) * 1000000)" +
          " div n_tokens").as("rate_ppm"))
      .orderBy(col("source"))
  }

  val mlmMaskSql: String = {
    val mix = rowHash32Sql.replace("doc_id", "(doc_id * 100003 + p)")
    s"""WITH toks AS (
      |  SELECT doc_id, source, i - 1 AS p
      |  FROM (SELECT doc_id, source,
      |          unnest(range(1, len(string_split(text, ' ')) + 1))
      |            AS i
      |        FROM documents)),
      |dec AS (
      |  SELECT source, ($mix) AS h FROM toks),
      |cls AS (
      |  SELECT source,
      |    CASE WHEN h % 100 >= 15 THEN 'pass'
      |      WHEN (h // 100) % 10 < 8 THEN 'mask'
      |      WHEN (h // 100) % 10 = 8 THEN 'random'
      |      ELSE 'keep' END AS cls
      |  FROM dec)
      |SELECT source, COUNT(*) AS n_tokens,
      |  CAST(SUM(CASE WHEN cls = 'mask' THEN 1 ELSE 0 END)
      |    AS BIGINT) AS n_mask,
      |  CAST(SUM(CASE WHEN cls = 'random' THEN 1 ELSE 0 END)
      |    AS BIGINT) AS n_random,
      |  CAST(SUM(CASE WHEN cls = 'keep' THEN 1 ELSE 0 END)
      |    AS BIGINT) AS n_keep,
      |  ((CAST(SUM(CASE WHEN cls <> 'pass' THEN 1 ELSE 0 END)
      |    AS BIGINT)) * 1000000) // COUNT(*) AS rate_ppm
      |FROM cls GROUP BY source
      |ORDER BY source""".stripMargin
  }

  /** SFT loss masking — the companion audit of [[chatTemplate]]:
    * in supervised fine-tuning only ASSISTANT-turn tokens carry
    * loss; system/user (prompt) tokens are masked out. Per
    * conversation: prompt vs loss token counts and the loss
    * fraction in exact ppm, plus corpus totals a budget review
    * reads ("how many of the tokens we pay for actually train").
    * Roles derive from the same `doc_id % 3` cycle as the renderer,
    * so mask and template can never disagree.
    *
    * Scale: one projection (token counts per turn) + one
    * map-combinable (conversation) aggregate. */
  def lossMask(s: SparkSession, dir: String): DataFrame = {
    val turns = Tables.documents(s, dir)
      .select(expr("doc_id div 3").as("conv_id"),
        (col("doc_id") % 3 === 2).as("is_assistant"),
        size(split(col("text"), " ")).cast(LongType).as("n_tok"))
    turns.groupBy(col("conv_id"))
      .agg(count(lit(1)).as("n_turns"),
        sum(when(col("is_assistant"), col("n_tok")).otherwise(0L))
          .as("loss_tok"),
        sum(when(!col("is_assistant"), col("n_tok")).otherwise(0L))
          .as("prompt_tok"))
      .select(col("conv_id"), col("n_turns"), col("prompt_tok"),
        col("loss_tok"),
        expr("(loss_tok * 1000000) div (prompt_tok + loss_tok)")
          .as("loss_frac_ppm"))
      .orderBy(col("conv_id"))
  }

  val lossMaskSql: String =
    """WITH turns AS (
      |  SELECT doc_id // 3 AS conv_id,
      |    doc_id % 3 = 2 AS is_assistant,
      |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
      |  FROM documents)
      |SELECT conv_id, COUNT(*) AS n_turns,
      |  CAST(SUM(CASE WHEN NOT is_assistant THEN n_tok ELSE 0 END)
      |    AS BIGINT) AS prompt_tok,
      |  CAST(SUM(CASE WHEN is_assistant THEN n_tok ELSE 0 END)
      |    AS BIGINT) AS loss_tok,
      |  (CAST(SUM(CASE WHEN is_assistant THEN n_tok ELSE 0 END)
      |    AS BIGINT) * 1000000)
      |    // CAST(SUM(n_tok) AS BIGINT) AS loss_frac_ppm
      |FROM turns GROUP BY conv_id
      |ORDER BY conv_id""".stripMargin

  /** Shared-prefix reuse audit (the data-side view of automatic
    * prefix caching / radix-attention KV reuse): among sequences at
    * least L tokens long, how many share their first-L-token prefix
    * with an earlier sequence, and how many prompt tokens a
    * prefix-cached server would NOT recompute (duplicate copies ×
    * L). Read per candidate prefix length L ∈ {4, 8, 16} before
    * choosing a cache block size — savings grow with duplicate mass
    * but shrink with L, and this emits the whole tradeoff curve in
    * one pass.
    *
    * Scale: one explode of 3 L-values per doc (no joins), then a
    * (L, prefix) groupBy whose shuffle carries prefix strings capped
    * at L words — map-side combinable, state = distinct prefixes.
    * All-BIGINT output. Tokenization is the shared trim-split-drop-
    * empties convention ([[graft.functions.TextFunctions.tokens]]),
    * NOT a trailing-separator assumption — a doc with exactly L words
    * qualifies whether or not it ends in whitespace. */
  def prefixShare(s: SparkSession, dir: String): DataFrame = {
    val toks = Tables.documents(s, dir)
      .select(graft.functions.TextFunctions.tokens(col("text")).as("w"))
    val grouped = toks
      .select(explode(lit(Array(4, 8, 16))).as("l"), col("w"))
      .filter(size(col("w")) >= col("l"))
      .select(col("l"),
        array_join(slice(col("w"), lit(1), col("l")), " ").as("p"))
      .groupBy(col("l"), col("p"))
      .agg(count(lit(1)).as("copies"))
    grouped.groupBy(col("l"))
      .agg(sum(col("copies")).as("n_seqs"),
        count(lit(1)).as("n_distinct_prefixes"),
        sum(col("copies") - 1).as("dup_seqs"),
        sum((col("copies") - 1) * col("l")).as("saved_tokens"))
      .select(col("l").cast(LongType).as("prefix_words"),
        col("n_seqs"), col("n_distinct_prefixes"), col("dup_seqs"),
        col("saved_tokens"))
      .orderBy(col("prefix_words"))
  }

  val prefixShareSql: String =
    """WITH t AS (
      |  SELECT list_filter(regexp_split_to_array(trim(text), '\s+'),
      |                     x -> len(x) > 0) AS w
      |  FROM documents),
      |ls AS (SELECT 4 AS l UNION ALL SELECT 8 UNION ALL SELECT 16),
      |e AS (
      |  SELECT ls.l,
      |    array_to_string(list_slice(t.w, 1, ls.l), ' ') AS p
      |  FROM t, ls
      |  WHERE len(t.w) >= ls.l),
      |g AS (SELECT l, p, COUNT(*) AS copies FROM e GROUP BY l, p)
      |SELECT CAST(l AS BIGINT) AS prefix_words,
      |  CAST(SUM(copies) AS BIGINT) AS n_seqs,
      |  COUNT(*) AS n_distinct_prefixes,
      |  CAST(SUM(copies - 1) AS BIGINT) AS dup_seqs,
      |  CAST(SUM((copies - 1) * l) AS BIGINT) AS saved_tokens
      |FROM g GROUP BY l
      |ORDER BY prefix_words""".stripMargin

  /** Context-window truncation-loss curve — the pre-training sizing
    * readout [[prefixShare]]'s docstring pattern reads BEFORE fixing
    * a sequence length: for L ∈ {16, 32, 64} words, how many docs
    * overflow the window, what fraction of corpus tokens a
    * truncate-at-L policy discards (ppm), and the worst single-doc
    * loss. Read against [[lengthBuckets]]' histogram this is the
    * integral the histogram only implies; the three L values bracket
    * the corpus's 10–100-word band so the curve is non-degenerate.
    *
    * Scale: one tokens() projection, one explode of 3 L values, one
    * map-combinable groupBy(L) — no joins. All-BIGINT output. */
  def contextOverflow(s: SparkSession, dir: String): DataFrame = {
    val toks = Tables.documents(s, dir)
      .select(graft.functions.TextFunctions
        .tokenCount(col("text")).as("n"))
    toks
      .select(explode(lit(Array(16, 32, 64))).as("l"), col("n"))
      .groupBy(col("l"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("n") > col("l"), 1L).otherwise(0L))
          .as("n_overflow"),
        sum(col("n")).as("corpus_tok"),
        sum(greatest(col("n") - col("l"), lit(0L))).as("lost_tok"),
        max(greatest(col("n") - col("l"), lit(0L))).as("worst_doc_loss"))
      .select(col("l").cast(LongType).as("window_words"),
        col("n_docs"), col("n_overflow"), col("corpus_tok"),
        col("lost_tok"),
        expr("(lost_tok * 1000000) div corpus_tok").as("lost_ppm"),
        col("worst_doc_loss"))
      .orderBy(col("window_words"))
  }

  val contextOverflowSql: String =
    """WITH t AS (
      |  SELECT CAST(len(list_filter(
      |    regexp_split_to_array(trim(text), '\s+'),
      |    x -> len(x) > 0)) AS BIGINT) AS n
      |  FROM documents),
      |ls AS (SELECT 16 AS l UNION ALL SELECT 32 UNION ALL SELECT 64),
      |e AS (SELECT ls.l, t.n FROM t, ls)
      |SELECT CAST(l AS BIGINT) AS window_words,
      |  COUNT(*) AS n_docs,
      |  CAST(SUM(CASE WHEN n > l THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_overflow,
      |  CAST(SUM(n) AS BIGINT) AS corpus_tok,
      |  CAST(SUM(greatest(n - l, 0)) AS BIGINT) AS lost_tok,
      |  (CAST(SUM(greatest(n - l, 0)) AS BIGINT) * 1000000)
      |    // CAST(SUM(n) AS BIGINT) AS lost_ppm,
      |  CAST(MAX(greatest(n - l, 0)) AS BIGINT) AS worst_doc_loss
      |FROM e GROUP BY l
      |ORDER BY window_words""".stripMargin

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "pack_prefix_share" -> (prefixShare _),
    "pack_context_overflow" -> (contextOverflow _),
    "pack_loss_mask" -> (lossMask _),
    "pack_mlm_mask" -> (mlmMask _),
    "pack_mask_waste" -> ((s: SparkSession, d: String) => maskWaste(s, d)),
    "pack_grpo_advantage" -> (grpoAdvantage _),
    "pack_chat_template" -> (chatTemplate _),
    "pack_preference_pairs" -> (preferencePairs _),
    "pii_pseudonymize" -> (pseudonymize _),
    "pii_detect" -> (piiDetect _),
    "pack_padding_waste" -> (paddingWaste _),
    "pack_resume_cursor" -> (resumeCursor _),
    "pack_interleave" -> (interleave _),
    "pack_stratified_exact" -> ((s, d) => stratifiedExact(s, d)),
    "pack_curriculum" -> ((s, d) => curriculum(s, d)),
    "pack_length_buckets" -> ((s, d) => lengthBuckets(s, d)),
    "pack_apportion" -> ((s, d) => apportion(s, d)),
    "pack_weighted_sample" -> ((s, d) => weightedSample(s, d)),
    "pack_fim" -> (fimGate _),
    "pack_split" -> ((s, d) => trainValTestSplit(s, d)),
    "report_dataset_card" -> ((s, d) => datasetCard(s, d)),
    "pack_export_jsonl"  -> ((s, d) => exportJsonlGate(s, d)),
    "text_contam_runs" -> (contaminationRuns _),
    "text_decontaminate" -> ((s, d) => decontaminate(s, d)),
    "text_decontam_bloom" -> ((s, d) => decontaminateBloom(s, d)),
    "stream_decontaminate" -> (streamDecontaminate _),
    "text_repetition"    -> ((s, d) => repetition(s, d)),
    "pack_shards"        -> ((s, d) => packShards(s, d)),
    "pack_concat_chunk"  -> ((s, d) => concatChunk(s, d)),
    "curate_ab_srm"      -> (abSrm _),
    "pack_shuffle"       -> ((s, d) => packShuffle(s, d)),
    "pack_mixture"       -> ((s, d) => mixture(s, d)),
    "pack_mixture_temp"  -> ((s, d) => mixtureTemperature(s, d)),
    "pack_epochs"        -> ((s, d) => epochs(s, d)),
    "pii_scrub"          -> ((s, d) => piiScrub(s, d)))

  def oracle: Map[String, String] = Map(
    "pack_prefix_share" -> prefixShareSql,
    "pack_context_overflow" -> contextOverflowSql,
    "pack_loss_mask" -> lossMaskSql,
    "pack_mlm_mask" -> mlmMaskSql,
    "pack_mask_waste" -> maskWasteSql,
    "pack_grpo_advantage" -> grpoAdvantageSql,
    "pack_chat_template" -> chatTemplateSql,
    "pack_preference_pairs" -> preferencePairsSql,
    "pii_pseudonymize" -> pseudonymizeSql,
    "pii_detect" -> piiDetectSql,
    "pack_padding_waste" -> paddingWasteSql,
    "pack_resume_cursor" -> resumeCursorSql,
    "pack_interleave" -> interleaveSql,
    "pack_stratified_exact" -> stratifiedExactSql,
    "pack_curriculum" -> curriculumSql,
    "pack_length_buckets" -> lengthBucketsSql,
    "pack_apportion" -> apportionSql,
    "pack_weighted_sample" -> weightedSampleSql,
    "pack_fim" -> fimSql,
    "pack_split" -> trainValTestSplitSql,
    "report_dataset_card" -> datasetCardSql,
    "pack_export_jsonl"  -> packShardsSql,
    "text_contam_runs" -> contaminationRunsSql,
    "text_decontaminate" -> decontaminateSql,
    "text_decontam_bloom" -> decontaminateSql,
    "stream_decontaminate" -> streamDecontaminateSql,
    "text_repetition"    -> repetitionSql,
    "pack_shards"        -> packShardsSql,
    "pack_concat_chunk"  -> concatChunkSql,
    "curate_ab_srm"      -> abSrmSql,
    "pack_shuffle"       -> packShuffleSql,
    "pack_mixture"       -> mixtureSql,
    "pack_mixture_temp"  -> mixtureTemperatureSql,
    "pack_epochs"        -> epochsSql,
    "pii_scrub"          -> piiScrubSql)
}
