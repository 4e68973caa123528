package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.{Checkpoint, Scaffold, Tables}
import graft.streaming.EventStreams
import graft.functions.TextFunctions._

/** Deduplication operators over the documents corpus (SURVEY §2.9):
  * exact (content-hash groupBy), n-gram Jaccard, MinHash+LSH,
  * SimHash, and embedding-cosine near-dup.
  *
  * Scale design: the only all-pairs (quadratic) work ever done is on
  * LSH *candidates* — docs that already collided in a band bucket —
  * or on an explicitly bounded subset for the oracle-checked
  * brute-force variants. Signatures/fingerprints are per-row
  * projections (linear, codegen'd); bucketing is one shuffle on the
  * band key; at 100 TB the shuffle carries (doc_id, 8 band keys), not
  * document text.
  */
object Dedup {

  /** Exact dedup: group by 64-bit content fingerprint of normalized
    * text, keep the smallest doc_id. Output: survivor + group size. */
  def exact(s: SparkSession, dir: String): DataFrame =
    exactSurvivors(DocCorpus.withDuplicates(s, dir))

  /** DataFrame-first exact dedup over ANY (doc_id, text) corpus. */
  def exactSurvivors(corpus: DataFrame): DataFrame =
    corpus
      .groupBy(fingerprint(col("text")).as("fp"))
      .agg(min(col("doc_id")).as("survivor_id"),
           count(lit(1)).as("n_dups"))
      .select(col("survivor_id"), col("n_dups"))
      .orderBy(col("survivor_id"))

  val exactSql: String =
    s"""WITH ${DocCorpus.CorpusSql}
       |SELECT min(doc_id) AS survivor_id, COUNT(*) AS n_dups
       |FROM corpus
       |GROUP BY ${DocCorpus.NormalizeSql}
       |ORDER BY survivor_id""".stripMargin

  // ---------------------------------------------------------------- //

  /** Distinct word-3-gram shingle set per doc (bounded subset: the
    * mutated neighborhood — brute-force pairing is the oracle-checked
    * baseline; the scale path is [[minhashLsh]]). */
  private def shingleSets(s: SparkSession, dir: String): DataFrame =
    DocCorpus.withDuplicates(s, dir)
      .filter(col("doc_id") % 10000 < 100) // originals 0..99 + mutants
      .select(col("doc_id"),
        array_distinct(shingles(lower(col("text")), 3)).as("sh"))

  /** Brute-force n-gram Jaccard near-dup pairs (threshold 0.6).
    * Left side repartitioned (a lone small parquet split would
    * otherwise serialize the whole quadratic loop on one core),
    * right side broadcast. */
  def ngramJaccard(s: SparkSession, dir: String): DataFrame = {
    val par = s.sparkContext.defaultParallelism
    val a = shingleSets(s, dir).toDF("id_a", "sh_a").repartition(par)
    val b = broadcast(shingleSets(s, dir).toDF("id_b", "sh_b"))
    a.crossJoin(b)
      .filter(col("id_a") < col("id_b"))
      .withColumn("inter",
        size(array_intersect(col("sh_a"), col("sh_b"))).cast(DoubleType))
      .withColumn("uni",
        size(array_union(col("sh_a"), col("sh_b"))).cast(DoubleType))
      .withColumn("jaccard", col("inter") / col("uni"))
      .filter(col("jaccard") >= 0.6)
      .select(col("id_a"), col("id_b"), col("jaccard"))
      .orderBy(col("id_a"), col("id_b"))
  }

  /** DuckDB twin of [[shingleSets]]: the CTE `shingled(doc_id, sh)`,
    * each doc's distinct word-3-gram set, over the `corpus` rows `docs`
    * selects — `"corpus"` itself, or a subset such as
    * `"corpus WHERE doc_id % 10000 < 100"`. */
  private[graft] def shingleSetsSql(docs: String): String =
    s"""shingled AS (
       |  SELECT doc_id, CASE WHEN len(toks) < 3
       |    THEN [array_to_string(toks, ' ')]
       |    ELSE list_distinct(list_transform(
       |           generate_series(1, len(toks) - 2),
       |           i -> array_to_string(list_slice(toks, i, i + 2), ' ')))
       |    END AS sh
       |  FROM (SELECT doc_id,
       |          list_filter(regexp_split_to_array(trim(lower(text)), '\\s+'),
       |                      t -> len(t) > 0) AS toks
       |        FROM $docs)
       |)""".stripMargin

  /** The brute-force near-duplicate pairs over [[shingleSetsSql]]: the
    * CTE `pairs(id_a, id_b, jaccard)`, one row per doc pair
    * `id_a < id_b` whose shingle Jaccard is at least `threshold`. */
  private[graft] def jaccardPairsSql(threshold: Double): String =
    s"""pairs AS (
       |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       |    CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
       |      / len(list_distinct(list_concat(a.sh, b.sh))) AS jaccard
       |  FROM shingled a, shingled b
       |  WHERE a.doc_id < b.doc_id
       |    AND CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
       |      / len(list_distinct(list_concat(a.sh, b.sh))) >= $threshold)"""
      .stripMargin

  val ngramJaccardSql: String =
    s"""WITH ${DocCorpus.CorpusSql},
       |${shingleSetsSql("corpus WHERE doc_id % 10000 < 100")},
       |${jaccardPairsSql(0.6)}
       |SELECT id_a, id_b, jaccard FROM pairs
       |ORDER BY id_a, id_b""".stripMargin

  // ---------------------------------------------------------------- //

  /** Prefix-filtered EXACT set-similarity self-join (the PPJoin /
    * prefix-filtering principle, Xiao et al. WWW'08; Chaudhuri et al.
    * ICDE'06): unlike MinHash LSH this path has ZERO false negatives —
    * its output provably equals the brute-force all-pairs join — while
    * still never comparing sets that cannot reach the threshold.
    *
    * Stages, all linear or candidate-bounded:
    *   1. per-doc distinct word-3-gram shingle set (codegen kernel);
    *   2. global document frequency per shingle — ONE map-side-combined
    *      shuffle keyed on the shingle;
    *   3. each shingle becomes the sortable key `lpad(df)‖shingle`, so
    *      every doc's set is totally ordered RAREST-FIRST under one
    *      corpus-wide order (injective: Jaccard over keys ≡ Jaccard
    *      over shingles);
    *   4. prefix filter: a doc of set size m only indexes its first
    *      p = m − ⌈t·m⌉ + 1 keys. Two sets with J ≥ t must share a
    *      prefix key, so joining ONLY the prefixes on the key loses
    *      nothing; candidate volume is Σ_key cnt(key)² over the RARE
    *      keys docs chose to index — the frequent shingles that make a
    *      naive token join quadratic are exactly the ones the prefix
    *      drops;
    *   5. PPJoin length filter at the join (t·max ≤ min kills pairs
    *      whose sizes alone cap Jaccard below t);
    *   6. exact Jaccard verification on the full key arrays, only for
    *      surviving candidates.
    *
    * The ⌈·⌉ and t·m guards subtract 1e-9 before rounding so floating
    * error can only ever WIDEN the prefix / candidate set (more work,
    * never a missed pair); the final `jaccard >= t` predicate is the
    * same integer-count division the oracle computes, so acceptance is
    * bit-identical. At 100 TB: the df table and prefix index shuffle
    * (doc_id, key) pairs, never document text; the verify join moves
    * key arrays only for candidates. */
  def jaccardPrefixPairs(corpus: DataFrame, threshold: Double = 0.6)
      : DataFrame = {
    val par = corpus.sparkSession.sparkContext.defaultParallelism
    val sets = corpus.repartition(par)
      .select(col("doc_id"),
        array_distinct(shingles(lower(col("text")), 3)).as("sh"))
      .cache()
    val toks = sets.select(col("doc_id"), explode(col("sh")).as("tok"))
    val dfreq = toks.groupBy(col("tok")).agg(count(lit(1)).as("df"))
    val keyed = toks.join(dfreq, "tok")
      .select(col("doc_id"),
        concat(lpad(col("df").cast(StringType), 10, "0"), lit("|"),
          col("tok")).as("k"))
    val docKeys = keyed.groupBy(col("doc_id"))
      .agg(sort_array(collect_list(col("k"))).as("ks"))
      .select(col("doc_id"), col("ks"), size(col("ks")).as("m"))
      .withColumn("p",
        (col("m") - ceil(lit(threshold) * col("m") - lit(1e-9)) + 1)
          .cast(IntegerType))
      .cache()
    val prefix = docKeys.select(col("doc_id"), col("m"),
      explode(expr("slice(ks, 1, p)")).as("k"))
    val a = prefix.toDF("id_a", "m_a", "k")
    val b = prefix.toDF("id_b", "m_b", "k")
    val cand = a.join(b, Seq("k"))
      .filter(col("id_a") < col("id_b") &&
        col("m_b") >= col("m_a") * lit(threshold) - lit(1e-9) &&
        col("m_a") >= col("m_b") * lit(threshold) - lit(1e-9))
      .select(col("id_a"), col("id_b"))
      .distinct()
    val full = docKeys.select(col("doc_id"), col("ks"))
    cand
      .join(full.toDF("id_a", "ks_a"), "id_a")
      .join(full.toDF("id_b", "ks_b"), "id_b")
      .withColumn("jaccard",
        size(array_intersect(col("ks_a"), col("ks_b"))).cast(DoubleType) /
        size(array_union(col("ks_a"), col("ks_b"))).cast(DoubleType))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("jaccard"))
      .orderBy(col("id_a"), col("id_b"))
  }

  /** Gate: prefix-filtered exact Jaccard pairs over a 400-doc slice of
    * the mutated corpus (4× the brute-force baseline's subset — wide
    * enough that the prefix index does real pruning, bounded so the
    * all-pairs ORACLE stays cheap). The spec pins full-corpus equality
    * against brute force; this gate pins the values against DuckDB. */
  def jaccardPrefix(s: SparkSession, dir: String): DataFrame =
    jaccardPrefixPairs(
      DocCorpus.withDuplicates(s, dir).filter(col("doc_id") % 10000 < 200))

  val jaccardPrefixSql: String =
    s"""WITH ${DocCorpus.CorpusSql},
       |${shingleSetsSql("corpus WHERE doc_id % 10000 < 200")},
       |${jaccardPairsSql(0.6)}
       |SELECT id_a, id_b, jaccard FROM pairs
       |ORDER BY id_a, id_b""".stripMargin

  // ---------------------------------------------------------------- //

  /** Shared LSH machinery: per-doc shingle-hash sets (cached — both
    * the banding and the verification join read them) and the
    * exploded (doc_id, band, bucket) keys.
    *
    * Signature via the codegen'd [[graft.plans.MinhashSignature]]
    * kernel — a pure per-row projection, NO shuffle at all (the
    * round-9 kernel obsoleted both earlier formulations: 32
    * interpreted array_min(transform(...)) arms, and the explode + 32
    * min-aggregates rewrite that avoided them at the price of
    * shuffling one 32-long row per doc per mapper). Signatures are
    * bit-identical to both (pinned by TextExpressionsSpec), so every
    * bucket and every recorded study is unchanged. Docs whose shingle
    * set is empty emit no keys — the explode formulation dropped them
    * too. The bucket shuffle carries only (doc_id, band, bucket); the
    * shingle hash arrays stay behind and re-join per candidate. */
  private def bandKeysOf(hashed: DataFrame, bands: Int,
      rowsPerBand: Int): DataFrame =
    hashed
      .filter(size(col("hashes")) > 0)
      .select(col("doc_id"),
        posexplode(minhashBands(
          graft.functions.TextFunctions
            .minhashSignatureOfHashes(col("hashes")),
          bands, rowsPerBand)))
      .select(col("doc_id"),
        col("col.band").as("band"), col("col.bucket").as("bucket"))

  private def hashedAndBands(corpus: DataFrame, bands: Int = 8,
      rowsPerBand: Int = 4): (DataFrame, DataFrame) = {
    val par = corpus.sparkSession.sparkContext.defaultParallelism
    val hashed = corpus
      .repartition(par)
      .select(col("doc_id"),
        shingleHashes(lower(col("text")), 3).as("hashes"))
      .cache()
    (hashed, bandKeysOf(hashed, bands, rowsPerBand))
  }

  /** Exploded (doc_id, band, bucket) LSH keys for ANY (doc_id, text)
    * corpus — the probe-side building block: a top-k retrieval joins
    * the QUERY rows' keys against the corpus keys (the [[graft.ops
    * .Similarity.annLsh]] shape, |queries|·bands rows on the small
    * side) instead of paying the full self-join that pair MINING
    * ([[minhashLshCandidates]]) does. No caching — callers that walk
    * the keys once shouldn't pin the shingle hashes in storage. */
  def minhashBandKeys(corpus: DataFrame, bands: Int = 8,
      rowsPerBand: Int = 4): DataFrame = {
    require(bands * rowsPerBand <= 32,
      s"band geometry $bands x $rowsPerBand exceeds the 32-hash signature")
    // Pure projection: the per-row array-min signature form — no
    // explode→groupBy shuffle, no repartition; a probe-side caller
    // pays exactly one linear pass. Docs with no shingle emit no
    // keys (the exploded-aggregation formulation dropped them too).
    corpus
      .select(col("doc_id"),
        shingleHashes(lower(col("text")), 3).as("hashes"))
      .filter(size(col("hashes")) > 0)
      .select(col("doc_id"),
        posexplode(graft.functions.TextFunctions.minhashBands(
          graft.functions.TextFunctions
            .minhashSignatureOfHashes(col("hashes")),
          bands, rowsPerBand)))
      .select(col("doc_id"),
        col("col.band").as("band"), col("col.bucket").as("bucket"))
  }

  /** Raw LSH bucket-collision candidates (id_a < id_b, deduped),
    * WITHOUT the Jaccard verification [[minhashLshPairs]] applies —
    * the candidate source for modalities whose downstream score is
    * NOT set Jaccard (edit distance over behavior sequences, cosine
    * over embeddings of the shingled text). The band geometry is the
    * recall/candidate-count knob: 8×4 (the dedup default) targets
    * s ≳ 0.6 near-duplicates; 16×2 pulls the S-curve left for
    * mid-similarity top-k retrieval (P[collide] ≈ 0.78 at s = 0.3
    * vs ≈ 0.06 under 8×4). `bands · rowsPerBand` must be ≤ the
    * 32-hash signature. */
  def minhashLshCandidates(corpus: DataFrame, bands: Int = 8,
      rowsPerBand: Int = 4): DataFrame = {
    require(bands * rowsPerBand <= 32,
      s"band geometry $bands x $rowsPerBand exceeds the 32-hash signature")
    val (_, banded) = hashedAndBands(corpus, bands, rowsPerBand)
    val a = banded.toDF("id_a", "band", "bucket")
    val b = banded.toDF("id_b", "band", "bucket")
    a.join(b, Seq("band", "bucket"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"))
      .distinct()
  }

  /** MinHash + LSH near-dup detection over the FULL corpus — the
    * 100 TB path. Stages: (1) per-row minhash signature (k=32);
    * (2) explode 8 bands × 4 rows → bucket keys; (3) shuffle on
    * (band, bucket), pair docs within a bucket; (4) verify candidate
    * pairs with exact Jaccard on shingle hashes. Only candidates pay
    * the set-intersection cost.
    *
    * Oracle: LSH with these parameters has ~certain recall at
    * jaccard ≥ 0.6 (P[band collision] = 1-(1-s^4)^8 ≈ 0.97 at s=0.6,
    * > 0.999 at s=0.8), and the mutated corpus only contains pairs
    * with s ≈ 1 — so verified candidates equal the brute-force
    * truth, which IS SQL-expressible. */
  def minhashLsh(s: SparkSession, dir: String): DataFrame =
    minhashLshPairs(DocCorpus.withDuplicates(s, dir))

  /** DataFrame-first MinHash LSH: near-dup pairs (id_a, id_b,
    * jaccard ≥ 0.6) over ANY (doc_id, text) corpus — the API a user
    * points at their own table. */
  def minhashLshPairs(corpus: DataFrame): DataFrame = {
    val (hashed, banded) = hashedAndBands(corpus)
    val a = banded.toDF("id_a", "band", "bucket")
    val b = banded.toDF("id_b", "band", "bucket")
    val candidates = a.join(b, Seq("band", "bucket"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"))
      .distinct()
    val hashesOf = hashed.select(col("doc_id"), col("hashes"))
    candidates
      .join(hashesOf.toDF("id_a", "h_a"), "id_a")
      .join(hashesOf.toDF("id_b", "h_b"), "id_b")
      .withColumn("jaccard",
        size(array_intersect(col("h_a"), col("h_b"))).cast(DoubleType) /
        size(array_union(col("h_a"), col("h_b"))).cast(DoubleType))
      .filter(col("jaccard") >= 0.6)
      .select(col("id_a"), col("id_b"), col("jaccard"))
      .orderBy(col("id_a"), col("id_b"))
  }

  /** Fuzzy (edit-distance) dedup over the bounded mutated
    * neighborhood: normalized text pairs whose Levenshtein distance
    * is ≤ 10% of the longer text. Candidate pruning: a length-delta
    * guard (edit distance is bounded below by the length difference)
    * runs before the O(n·m) distance — at 100 TB candidates come from
    * [[minhashLsh]] buckets instead of the bounded cross join, and
    * the distance only ever scores candidate pairs. */
  def fuzzy(s: SparkSession, dir: String): DataFrame = {
    val par = s.sparkContext.defaultParallelism
    val docs = DocCorpus.withDuplicates(s, dir)
      .filter(col("doc_id") % 10000 < 30)
      .select(col("doc_id"),
        regexp_replace(lower(trim(col("text"))), "\\s+", " ").as("t"))
    val a = docs.toDF("id_a", "t_a").repartition(par)
    val b = broadcast(docs.toDF("id_b", "t_b"))
    a.crossJoin(b)
      .filter(col("id_a") < col("id_b"))
      .withColumn("len_max",
        greatest(length(col("t_a")), length(col("t_b"))))
      .filter(abs(length(col("t_a")) - length(col("t_b")))
        <= col("len_max") * 0.1)
      .withColumn("dist", levenshtein(col("t_a"), col("t_b")))
      .filter(col("dist") <= col("len_max") * 0.1)
      .select(col("id_a"), col("id_b"), col("dist").cast(LongType)
        .as("dist"))
      .orderBy(col("id_a"), col("id_b"))
  }

  val fuzzySql: String =
    s"""WITH ${DocCorpus.CorpusSql},
       |norm AS (
       |  SELECT doc_id, ${DocCorpus.NormalizeSql} AS t
       |  FROM corpus WHERE doc_id % 10000 < 30)
       |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       |  CAST(levenshtein(a.t, b.t) AS BIGINT) AS dist
       |FROM norm a JOIN norm b ON a.doc_id < b.doc_id
       |WHERE abs(len(a.t) - len(b.t)) <= greatest(len(a.t), len(b.t)) * 0.1
       |  AND levenshtein(a.t, b.t) <= greatest(len(a.t), len(b.t)) * 0.1
       |ORDER BY id_a, id_b""".stripMargin

  /** SCALE path for fuzzy dedup: candidates from [[minhashLshPairs]]
    * buckets (the gated LSH machinery), the length guard and the
    * O(n·m) `levenshtein` applied ONLY inside candidate pairs — the
    * plan [[fuzzy]]'s docstring promises at 100 TB, instantiated and
    * gated. The oracle is the SAME brute-force truth as `dedup_fuzzy`:
    * on the mutated neighborhood every qualifying pair has shingle
    * Jaccard ≈ 1 (mutants are normalization-equivalent or one-token
    * prefixes), so the bucketed candidate set provably covers the
    * exact answer and the two plans must agree row-for-row. */
  def fuzzyLsh(s: SparkSession, dir: String): DataFrame = {
    val docs = DocCorpus.withDuplicates(s, dir)
      .filter(col("doc_id") % 10000 < 30)
    val cand = minhashLshPairs(docs).select(col("id_a"), col("id_b"))
    val norm = docs.select(col("doc_id"),
      regexp_replace(lower(trim(col("text"))), "\\s+", " ").as("t"))
    cand
      .join(norm.toDF("id_a", "t_a"), "id_a")
      .join(norm.toDF("id_b", "t_b"), "id_b")
      .withColumn("len_max",
        greatest(length(col("t_a")), length(col("t_b"))))
      .filter(abs(length(col("t_a")) - length(col("t_b")))
        <= col("len_max") * 0.1)
      .withColumn("dist", levenshtein(col("t_a"), col("t_b")))
      .filter(col("dist") <= col("len_max") * 0.1)
      .select(col("id_a"), col("id_b"),
        col("dist").cast(LongType).as("dist"))
      .orderBy(col("id_a"), col("id_b"))
  }

  /** Connected components over near-dup pairs — the step that turns
    * pairwise dedup output into survivor GROUPS (a pair list alone
    * can't pick survivors when dups chain: a~b, b~c). Iterative
    * min-label propagation: label(n) ← min(label(n), labels of
    * neighbors), repeated to fixpoint. Iterations = cluster diameter
    * (dup clusters are shallow — 2 here, bounded small in practice;
    * for deep chains use [[componentsByStarContraction]], which is
    * log-bounded). Each iteration is one join + one aggregate; the
    * driver only checks the convergence count. */
  def components(s: SparkSession, dir: String): DataFrame =
    componentsOver(
      DocCorpus.withDuplicates(s, dir)
        .filter(col("doc_id") % 10000 < 100)
        .select(col("doc_id").as("id")),
      ngramJaccard(s, dir).select(col("id_a"), col("id_b")))

  /** DataFrame-first components: nodes (`id`) + undirected pair list
    * (`id_a`, `id_b`) from ANY dedup detector → (doc_id, component). */
  def componentsOver(nodes: DataFrame, pairs: DataFrame): DataFrame = {
    // Mirror by explode, not union: a union doubles the cached
    // partition count (cached plans keep their physical partitioning),
    // and every propagation round below pays that task count again.
    // localCheckpoint, not cache: every round re-plans the join below,
    // and a cache keeps the DETECTOR's whole plan subtree (LSH
    // explodes, literal planes, n-gram joins) inside that per-round
    // optimization; the checkpoint truncates it to a LogicalRDD once.
    // The repartition(src) before the checkpoint is SIZE-ADAPTIVE
    // round-cost control: it gives AQE a shuffle to coalesce, so a
    // metadata-sized edge set materializes as 1–2 partitions (each
    // propagation round then schedules ~2 map tasks, not 32× the
    // detector's partitioning) while a corpus-sized edge set keeps
    // its width — and either way the rounds inherit a standing
    // hash(src) clustering.
    val edges = pairs
      .select(explode(array(
        struct(col("id_a").as("src"), col("id_b").as("dst")),
        struct(col("id_b").as("src"), col("id_a").as("dst")))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"))
      .repartition(col("src"))
      .localCheckpoint()
    var labels = nodes.withColumn("label", col("id")).localCheckpoint()
    // Min-label propagation only ever DECREASES labels, so an
    // unchanged label SUM is an exact fixpoint test — one aggregate
    // per round on the already-checkpointed frame, instead of a
    // join + count against the previous labels.
    def labelSum(df: DataFrame): Long =
      df.agg(coalesce(sum(col("label")), lit(0L))).head().getLong(0)
    var prevSum = labelSum(labels)
    var changed = 1L
    var iter = 0
    while (changed > 0 && iter < 20) {
      // localCheckpoint (eager) both materializes this iteration's
      // labels AND truncates the plan lineage — without it the plan
      // deepens by a join+agg every iteration, so planning time and
      // (post-cache-eviction) recompute cost grow linearly with
      // cluster diameter. Storage-level persistence of a checkpoint
      // survives only executor life — acceptable for an iterative
      // refinement that can simply be rerun on loss; a durable
      // `checkpoint(dir)` is the belt-and-braces variant at scale.
      val prop = edges
        .join(labels, col("src") === col("id"))
        .select(col("dst").as("id"), col("label"))
        .union(labels)
        .groupBy(col("id")).agg(min(col("label")).as("label"))
        .localCheckpoint()
      val newSum = labelSum(prop)
      changed = if (newSum == prevSum) 0L else 1L
      prevSum = newSum
      Checkpoint.release(labels) // superseded — drop its storage
      labels = prop
      iter += 1
    }
    Checkpoint.release(edges)
    labels.select(col("id").as("doc_id"), col("label").as("component"))
      .orderBy(col("doc_id"))
  }

  /** Connected components by alternating large-star/small-star
    * contraction (Kiveris et al., "Connected Components in MapReduce
    * and Beyond", SoCC'14): each round rewires every node toward the
    * minimum of its neighborhood, so tree heights roughly halve per
    * round and the iteration count is O(log n) in component size —
    * unlike [[componentsOver]]'s min-label propagation, which pays one
    * round per hop of cluster DIAMETER (a 1000-deep duplicate chain =
    * 1000 shuffles; here ~10).
    *
    *   - large-star: for node u with neighbors N(u) and
    *     m = min(N(u) ∪ {u}), connect every v ∈ N(u), v > u to m.
    *   - small-star: over edges directed larger→smaller, connect every
    *     smaller neighbor (and u itself) to m = min of them.
    *
    * Both steps are one groupBy-min plus one re-join over the edge
    * set; every intermediate is localCheckpoint'd to truncate lineage.
    * Convergence = the edges form a star forest — no edge's src
    * appears as any edge's dst (srcs are non-minima, dsts are
    * component minima, so depth > 1 would need a src that is also a
    * dst). One left-semi-join action per round, and it detects the
    * fixpoint DIRECTLY instead of paying an extra no-change round the
    * count+exceptAll comparison needs.
    *
    * Returns (labels, rounds): (id, component) for every node, plus
    * the number of contraction rounds actually run. */
  def componentsByStarContraction(nodes: DataFrame, pairs: DataFrame)
      : (DataFrame, Int) = {
    def largeStar(e: DataFrame): DataFrame = {
      val sym = e.union(e.select(col("dst"), col("src")))
      val mins = sym.groupBy(col("src"))
        .agg(least(min(col("dst")), first(col("src"))).as("m"))
      sym.join(mins, "src")
        .filter(col("dst") > col("src"))
        .select(col("dst").as("src"), col("m").as("dst"))
        .distinct()
    }
    def smallStar(e: DataFrame): DataFrame = {
      val canon = e.select(
        greatest(col("src"), col("dst")).as("src"),
        least(col("src"), col("dst")).as("dst"))
      val mins = canon.groupBy(col("src")).agg(min(col("dst")).as("m"))
      canon.join(mins, "src")
        .select(col("dst").as("src"), col("m").as("dst"))
        .union(mins.select(col("src"), col("m")))
        .filter(col("src") =!= col("dst"))
        .distinct()
    }
    var edges = pairs
      .select(greatest(col("id_a"), col("id_b")).as("src"),
        least(col("id_a"), col("id_b")).as("dst"))
      .filter(col("src") =!= col("dst"))
      .distinct()
      .localCheckpoint()
    def isStarForest(e: DataFrame): Boolean =
      e.as("a").join(e.as("b"), col("a.src") === col("b.dst"),
        "left_semi").isEmpty
    var rounds = 0
    var converged = isStarForest(edges) // input may already be flat
    while (!converged && rounds < 30) {
      val next = smallStar(largeStar(edges)).localCheckpoint()
      converged = isStarForest(next)
      Checkpoint.release(edges)
      edges = next
      rounds += 1
    }
    val labels = nodes
      .join(edges.select(col("src").as("id"), col("dst").as("lbl")),
        Seq("id"), "left")
      .groupBy(col("id"))
      .agg(coalesce(min(col("lbl")), first(col("id"))).as("label"))
    (labels, rounds)
  }

  /** Deep-chain components gate: duplicate CHAINS 16 long (a~b~c~…,
    * adjacent pairs near-dup, endpoints unrelated — the worst case for
    * diameter-bound propagation). Edges are consecutive doc_id pairs
    * within 16-blocks of the documents table, so each block's
    * component is its smallest id — SQL-expressible — while the
    * contraction must actually traverse a diameter-15 path. The gate
    * emits the label set plus `log_bounded`: rounds strictly below the
    * 15-hop diameter (label propagation would need all 15). */
  def componentsDeep(s: SparkSession, dir: String): DataFrame = {
    val d = graft.Tables.documents(s, dir)
      .select(col("doc_id")).filter(col("doc_id") < 64)
    val pairs = d.toDF("id_a")
      .join(d.toDF("id_b"), col("id_b") === col("id_a") + 1)
      .filter(col("id_a") % 16 =!= 15)
    val (labels, rounds) =
      componentsByStarContraction(d.toDF("id"), pairs)
    labels
      .select(col("id").as("doc_id"), col("label").as("component"))
      .withColumn("log_bounded", lit(rounds < 15))
      .orderBy(col("doc_id"))
  }

  val componentsDeepSql: String =
    """SELECT doc_id, (doc_id // 16) * 16 AS component,
      |  true AS log_bounded
      |FROM documents WHERE doc_id < 64
      |ORDER BY doc_id""".stripMargin

  /** Containment dedup: a document whose normalized text appears
    * verbatim INSIDE another (quote inclusions, truncated re-crawls,
    * prefix snapshots) is redundant even when its Jaccard similarity
    * is low — the screen RefinedWeb-style curation runs after exact
    * dedup. Candidates are length-pruned (contained ⇒ not longer)
    * before the containment test; the bounded brute-force pairing is
    * the oracle baseline, and at 100 TB candidates come from shared
    * winnowing-fingerprint buckets ([[graft.functions.TextFunctions
    * .winnowFingerprints]] — a contained substring shares its
    * fingerprints) instead of the cross join.
    *
    * On the mutated corpus the drop-last-token mutants are normalized
    * PREFIXES of their originals, so containment must find exactly
    * those plus any natural inclusions — SQL-expressible. */
  def containment(s: SparkSession, dir: String): DataFrame = {
    val par = s.sparkContext.defaultParallelism
    val docs = DocCorpus.withDuplicates(s, dir)
      .filter(col("doc_id") % 10000 < 100)
      .select(col("doc_id"),
        regexp_replace(lower(trim(col("text"))), "\\s+", " ").as("t"))
    val big = docs.toDF("id_big", "t_big").repartition(par)
    val small = broadcast(docs.toDF("id_small", "t_small"))
    big.crossJoin(small)
      .filter(col("id_big") =!= col("id_small"))
      .filter(length(col("t_small")) < length(col("t_big")))
      .filter(col("t_big").contains(col("t_small")))
      .select(col("id_big"), col("id_small"))
      .orderBy(col("id_big"), col("id_small"))
  }

  val containmentSql: String =
    s"""WITH ${DocCorpus.CorpusSql},
       |norm AS (
       |  SELECT doc_id, ${DocCorpus.NormalizeSql} AS t
       |  FROM corpus WHERE doc_id % 10000 < 100)
       |SELECT a.doc_id AS id_big, b.doc_id AS id_small
       |FROM norm a JOIN norm b
       |  ON a.doc_id <> b.doc_id
       | AND len(b.t) < len(a.t)
       | AND contains(a.t, b.t)
       |ORDER BY id_big, id_small""".stripMargin

  /** SCALE path for containment dedup: candidates from SHARED
    * WINNOWING FINGERPRINTS ([[graft.functions.TextFunctions
    * .winnowDf]]) — the guarantee (Schleimer et al., SIGMOD '03) that
    * any common run of ≥ w+k-1 tokens shares a fingerprint means a
    * contained document ALWAYS collides with its container, so the
    * fingerprint self-join replaces the cross join and the
    * `contains` test runs only inside buckets. Same brute-force
    * oracle as `dedup_containment`: candidate coverage is exact on
    * this corpus, so the plans must agree row-for-row.
    *
    * Scale shape: the self-join shuffles (fingerprint, doc_id) pairs
    * (~16 B/row at ~2/(w+1) sample rate), candidate ids are deduped
    * BEFORE texts are re-joined — the id-only discipline of
    * [[minhashLshPairs]] applied to the containment modality. */
  def containmentFp(s: SparkSession, dir: String): DataFrame = {
    val docs = DocCorpus.withDuplicates(s, dir)
      .filter(col("doc_id") % 10000 < 100)
      .select(col("doc_id"),
        regexp_replace(lower(trim(col("text"))), "\\s+", " ").as("t"))
    val keys = graft.functions.TextFunctions
      .winnowDf(docs, "doc_id", "t")
      .select(col("doc_id"), explode(col("fp")).as("f"))
    val cand = keys.toDF("id_big", "f")
      .join(keys.toDF("id_small", "f"), "f")
      .filter(col("id_big") =!= col("id_small"))
      .select(col("id_big"), col("id_small"))
      .distinct()
    cand
      .join(docs.toDF("id_big", "t_big"), "id_big")
      .join(docs.toDF("id_small", "t_small"), "id_small")
      .filter(length(col("t_small")) < length(col("t_big")))
      .filter(col("t_big").contains(col("t_small")))
      .select(col("id_big"), col("id_small"))
      .orderBy(col("id_big"), col("id_small"))
  }

  /** Shared recursive-CTE prefix: corpus → shingles → near-dup pairs
    * → symmetric edges → min-label reachability. Used by the
    * components gate and the keep-best survivor gate. */
  private val ComponentsCteSql: String =
    s"""WITH RECURSIVE ${DocCorpus.CorpusSql},
       |${shingleSetsSql("corpus WHERE doc_id % 10000 < 100")},
       |${jaccardPairsSql(0.6)},
       |edges AS (
       |  SELECT id_a AS src, id_b AS dst FROM pairs
       |  UNION ALL SELECT id_b, id_a FROM pairs),
       |reach(id, label) AS (
       |  SELECT doc_id, doc_id FROM shingled
       |  UNION
       |  SELECT e.dst, r.label FROM reach r JOIN edges e ON e.src = r.id)""".stripMargin

  /** Recursive-CTE oracle: component(id) = min label reachable over
    * the symmetric near-dup edge set. */
  /** Duplicate-cluster size histogram — the dedup DIAGNOSTIC read
    * before choosing a survivor policy: how many near-dup clusters
    * exist at each size (a fat tail of large clusters means template
    * spam; all-singletons means the detector found nothing). One
    * row per observed cluster size with the cluster count and the
    * docs they hold; exact integers throughout.
    *
    * Scale: two map-combinable groupBys over the (doc, component)
    * frame [[componentsOver]] already produces — the histogram
    * itself is O(distinct sizes). */
  def clusterSizes(s: SparkSession, dir: String): DataFrame =
    components(s, dir)
      .groupBy(col("component"))
      .agg(count(lit(1)).as("cluster_size"))
      .groupBy(col("cluster_size"))
      .agg(count(lit(1)).as("n_clusters"))
      .select(col("cluster_size"), col("n_clusters"),
        (col("cluster_size") * col("n_clusters")).as("n_docs"))
      .orderBy(col("cluster_size"))

  lazy val clusterSizesSql: String =
    s"""$ComponentsCteSql,
       |comp AS (SELECT id, MIN(label) AS component
       |         FROM reach GROUP BY id),
       |sizes AS (SELECT component, COUNT(*) AS cluster_size
       |          FROM comp GROUP BY component)
       |SELECT CAST(cluster_size AS BIGINT) AS cluster_size,
       |  COUNT(*) AS n_clusters,
       |  CAST(cluster_size * COUNT(*) AS BIGINT) AS n_docs
       |FROM sizes GROUP BY cluster_size
       |ORDER BY cluster_size""".stripMargin

  val componentsSql: String =
    s"""$ComponentsCteSql
       |SELECT id AS doc_id, MIN(label) AS component
       |FROM reach GROUP BY id
       |ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- //

  /** Cluster dedup with a KEEP-BEST survivor policy: within each
    * near-dup component keep the document with the highest quality
    * score (ties to the smallest doc_id) — the curation-grade rule
    * (keep the cleanest copy), vs [[exact]]'s keep-min-id. Emits one
    * row per cluster with the survivor, its quality, and the cluster
    * size.
    *
    * Scale: components come from [[componentsOver]] (iterative
    * contraction over LSH pairs — never all-pairs); the quality score
    * is a codegen'd projection; survivor choice is one row_number
    * window partitioned BY COMPONENT (key-partitioned shuffle, no
    * global sort). */
  def keepBest(s: SparkSession, dir: String): DataFrame = {
    val corpus = DocCorpus.withDuplicates(s, dir)
      .filter(col("doc_id") % 10000 < 100)
    val comp = componentsOver(
      corpus.select(col("doc_id").as("id")),
      ngramJaccard(s, dir).select(col("id_a"), col("id_b")))
    val scored = corpus.select(col("doc_id"),
      qualityScore(col("text")).as("quality"))
    val byComp = org.apache.spark.sql.expressions.Window
      .partitionBy(col("component"))
    val pick = byComp.orderBy(col("quality").desc, col("doc_id"))
    comp.join(scored, "doc_id")
      .withColumn("rn", row_number().over(pick))
      .withColumn("n_members", count(lit(1)).over(byComp))
      .filter(col("rn") === 1)
      .select(col("component"), col("doc_id").as("survivor_id"),
        col("n_members"), col("quality"))
      .orderBy(col("component"))
  }

  val keepBestSql: String =
    s"""$ComponentsCteSql,
       |comp AS (
       |  SELECT id AS doc_id, MIN(label) AS component
       |  FROM reach GROUP BY id),
       |qual AS (
       |${TextAnalysis.qualitySelectSql(
           "(SELECT doc_id, text FROM corpus WHERE doc_id % 10000 < 100)")})
       |SELECT component, doc_id AS survivor_id, n_members, quality
       |FROM (
       |  SELECT c.component, c.doc_id, q.quality,
       |    row_number() OVER (PARTITION BY c.component
       |      ORDER BY q.quality DESC, c.doc_id) AS rn,
       |    COUNT(*) OVER (PARTITION BY c.component) AS n_members
       |  FROM comp c JOIN qual q USING (doc_id))
       |WHERE rn = 1
       |ORDER BY component""".stripMargin

  /** The LSH oracle: every exact pair over the full corpus. */
  val minhashLshSql: String =
    s"""WITH ${DocCorpus.CorpusSql},
       |${shingleSetsSql("corpus")},
       |${jaccardPairsSql(0.6)}
       |SELECT id_a, id_b, jaccard FROM pairs
       |ORDER BY id_a, id_b""".stripMargin

  // ---------------------------------------------------------------- //

  /** SimHash dedup: join on equal 64-bit simhash (Hamming distance 0;
    * the k-bit variant splits the hash into k+1 bands — same join
    * shape), then verify with normalized-content fingerprint equality
    * to kill small-vocabulary collisions.
    *
    * The verification key is the 64-bit [[fingerprint]] of the
    * normalized text, NOT the normalized string itself — the self-join
    * shuffle carries (id, sh, fp) = 24 bytes/doc instead of the full
    * document body, which at 100 TB is the difference between
    * shuffling key material and re-shuffling the corpus. (Same
    * collision stance as exact dedup, which groups by this very
    * fingerprint.) */
  def simhash(s: SparkSession, dir: String): DataFrame = {
    val corpus = DocCorpus.withDuplicates(s, dir)
    // localCheckpoint (round-13): docs feeds BOTH sides of the
    // self-join below — without it the simhash + fingerprint corpus
    // pipelines (the gate's dominant kernels) execute twice. The
    // materialized frame is the (doc_id, sh, fp) proxy, never the
    // text — scale-safe to persist.
    val docs = simhashDf(corpus, "doc_id", "text", out = "sh")
      .join(corpus.select(col("doc_id"),
        fingerprint(col("text")).as("fp")), "doc_id")
      .select(col("doc_id"), col("sh"), col("fp"))
      .localCheckpoint()
    val a = docs.toDF("id_a", "sh", "fp_a")
    val b = docs.toDF("id_b", "sh", "fp_b")
    a.join(b, "sh")
      .filter(col("id_a") < col("id_b"))
      .filter(col("fp_a") === col("fp_b")) // verification
      .select(col("id_a"), col("id_b"))
      .orderBy(col("id_a"), col("id_b"))
  }

  val simhashSql: String =
    s"""WITH ${DocCorpus.CorpusSql}
       |SELECT a.doc_id AS id_a, b.doc_id AS id_b
       |FROM corpus a, corpus b
       |WHERE a.doc_id < b.doc_id
       |  AND ${DocCorpus.NormalizeSql.replace("text", "a.text")} =
       |      ${DocCorpus.NormalizeSql.replace("text", "b.text")}
       |ORDER BY id_a, id_b""".stripMargin

  /** Keep the newest row per key (change-log compaction / dedup by
    * recency): row_number over (keys, orderCols desc) = 1. The
    * tie-break columns must totalize the order or survivors are
    * nondeterministic. One window shuffle on the keys; at scale this
    * is the standard upstream of a CDC upsert (one row per key per
    * batch — `Maintenance.applyCdcStream`'s precondition). */
  def latestPerKey(df: DataFrame, keys: Seq[String],
      orderCols: Seq[String]): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(keys.map(col): _*)
      .orderBy(orderCols.map(c => col(c).desc): _*)
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn")
  }

  /** Gate: the latest event per user (ties on ts broken by event_id).
    */
  def latest(s: SparkSession, dir: String): DataFrame =
    latestPerKey(graft.Tables.events(s, dir),
        keys = Seq("user_id"), orderCols = Seq("ts", "event_id"))
      .select(col("user_id"), col("event_id"), col("ts"),
        col("event_type"))
      .orderBy(col("user_id"))

  val latestSql: String =
    """SELECT user_id, event_id, ts, event_type FROM (
      |  SELECT user_id, event_id, ts, event_type,
      |    row_number() OVER (PARTITION BY user_id
      |      ORDER BY ts DESC, event_id DESC) AS rn
      |  FROM events)
      |WHERE rn = 1
      |ORDER BY user_id""".stripMargin

  // ---------------------------------------------------------------- //

  /** Incremental exact dedup — the every-day production shape at
    * 100 TB: a NEW batch arrives and must be deduped against the
    * EXISTING corpus without ever reshuffling the corpus. The batch's
    * fingerprints broadcast to every corpus partition; the corpus is
    * scanned once in place (with a stored fingerprint column the scan
    * reads one long per doc) and only matches leave the map side.
    * Normalized-text equality verifies each fingerprint hit, so a
    * 64-bit collision can never fabricate a duplicate. Output: each
    * new doc paired with the corpus doc it duplicates. */
  def incrementalExactPairs(corpus: DataFrame, batch: DataFrame)
      : DataFrame = {
    def norm(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
      regexp_replace(lower(trim(c)), "\\s+", " ")
    val c = corpus.select(col("doc_id").as("dup_of"),
      fingerprint(col("text")).as("fp"), norm(col("text")).as("norm_c"))
    val b = batch.select(col("doc_id").as("new_id"),
      fingerprint(col("text")).as("fp"), norm(col("text")).as("norm_b"))
    c.join(broadcast(b), "fp")
      .filter(col("norm_c") === col("norm_b"))
      .select(col("new_id"), col("dup_of"))
  }

  /** Incremental near-dup via MinHash LSH: band keys for the new
    * batch broadcast against the corpus's band keys — at scale the
    * corpus side is precomputed and stored with the table, so a batch
    * arrival touches one corpus scan and shuffles only candidates.
    * Exact Jaccard on shingle sets verifies each collision. */
  def incrementalNearDupPairs(corpus: DataFrame, batch: DataFrame,
      threshold: Double = 0.6): DataFrame = {
    val (cHashed, cBanded) = hashedAndBands(corpus)
    val (bHashed, bBanded) = hashedAndBands(batch)
    val candidates = cBanded.toDF("dup_of", "band", "bucket")
      .join(broadcast(bBanded.toDF("new_id", "band", "bucket")),
        Seq("band", "bucket"))
      .select(col("new_id"), col("dup_of"))
      .distinct()
    candidates
      .join(bHashed.toDF("new_id", "h_a"), "new_id")
      .join(cHashed.toDF("dup_of", "h_b"), "dup_of")
      .withColumn("jaccard",
        size(array_intersect(col("h_a"), col("h_b"))).cast(DoubleType) /
        size(array_union(col("h_a"), col("h_b"))).cast(DoubleType))
      .filter(col("jaccard") >= threshold)
      .select(col("new_id"), col("dup_of"), col("jaccard"))
  }

  /** Gate: the mutated copies (doc_id ≥ 10000) arrive as the new
    * batch against the original documents as the standing corpus;
    * exact incremental dedup must pair every normalization-equivalent
    * newcomer with its original and nothing else. */
  def incremental(s: SparkSession, dir: String): DataFrame = {
    val all = DocCorpus.withDuplicates(s, dir)
    incrementalExactPairs(
        all.filter(col("doc_id") < 10000),
        all.filter(col("doc_id") >= 10000))
      .orderBy(col("new_id"), col("dup_of"))
  }

  val incrementalSql: String =
    s"""WITH ${DocCorpus.CorpusSql},
       |norm AS (SELECT doc_id, ${DocCorpus.NormalizeSql} AS n FROM corpus)
       |SELECT b.doc_id AS new_id, c.doc_id AS dup_of
       |FROM norm b JOIN norm c ON b.n = c.n
       |WHERE b.doc_id >= 10000 AND c.doc_id < 10000
       |ORDER BY new_id, dup_of""".stripMargin

  /** Unicode-equivalence dedup: the [[graft.plans.TextNormalize]]
    * kernel as the load-bearing canonicalization step of exact dedup,
    * not a standalone demo. The corpus is doubled in-query with
    * accent-mangled uppercase copies (doc_id + 50000, the same
    * literal substitutions the `text_normalize` parity gate proves
    * restorable); grouping the doubled corpus by NORMALIZED text must
    * collapse every mangled copy onto its original — groups here key
    * on the normalized text itself (collision-free); at 100 TB the
    * key would be xxhash64(normalized) with a verify join, exactly
    * like [[exact]]. Output is derived accounting (group/doc/pair
    * counts), so the invariant holds at any scale factor even when
    * the base corpus itself contains duplicate texts. */
  def unicodeDedup(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir).select(col("doc_id"), col("text"))
    val mangled = docs.select((col("doc_id") + 50000L).as("doc_id"),
      Seq(("A", "Á"), ("E", "Ë"), ("O", "Ö"), (" ", "  "))
        .foldLeft(upper(col("text"))) { case (c, (from, to)) =>
          regexp_replace(c, from, to)
        }.as("text"))
    val groups = docs.union(mangled)
      .groupBy(graft.plans.TextExpressions.textNormalize(col("text"))
        .as("tn"))
      .agg(count(lit(1)).as("c"),
        min(col("doc_id")).as("lo"), max(col("doc_id")).as("hi"))
    groups.agg(
      count(lit(1)).as("n_groups"),
      sum(col("c")).as("n_docs"),
      sum(when(col("c") === 2 && col("hi") === col("lo") + 50000L, 1L)
        .otherwise(0L)).as("n_exact_pairs"))
  }

  val unicodeDedupSql: String =
    """WITH t AS (SELECT lower(trim(regexp_replace(text, '\s+', ' ', 'g')))
      |             AS tn FROM documents),
      |g AS (SELECT tn, COUNT(*) AS c FROM t GROUP BY tn)
      |SELECT CAST(COUNT(*) AS BIGINT) AS n_groups,
      |  CAST(2 * SUM(c) AS BIGINT) AS n_docs,
      |  CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_exact_pairs
      |FROM g""".stripMargin

  /** Paragraph-level dedup (the C4/FineWeb span rule): split every
    * document into fixed 10-token spans, keep only the FIRST corpus
    * occurrence of each span text (ordered by doc_id, then position),
    * and rebuild documents from their surviving spans. Unlike
    * document-level dedup this removes boilerplate that repeats
    * ACROSS distinct pages.
    *
    * Scale: the span explode is per-row work; first-occurrence pick
    * is one window over the span key — at 100 TB the key is
    * xxhash64(span) (8 B on the shuffle, re-join the kept positions
    * like [[minhashLsh]]), kept as text here so the oracle can state
    * it. Rebuild is a per-doc sort_array/array_join — grouped by the
    * doc key, no global order. */
  def paragraphDedup(s: SparkSession, dir: String, w: Int = 10)
      : DataFrame = {
    val spans = DocCorpus.withDuplicates(s, dir)
      .select(col("doc_id"), tokens(lower(col("text"))).as("toks"))
      .select(col("doc_id"), posexplode(transform(
        sequence(lit(0), greatest(
          floor((size(col("toks")) - 1).cast(DoubleType) / w)
            .cast(IntegerType), lit(0))),
        i => array_join(slice(col("toks"), i * w + 1, lit(w)), " "))))
      .select(col("doc_id"), col("pos").as("chunk_idx"),
        col("col").as("span"))
      .filter(length(col("span")) > 0)
    val wFirst = org.apache.spark.sql.expressions.Window
      .partitionBy(col("span"))
      .orderBy(col("doc_id"), col("chunk_idx"))
    spans
      .withColumn("rn", row_number().over(wFirst))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_spans"),
        sum(when(col("rn") === 1, 1L).otherwise(0L)).as("n_kept"),
        array_join(transform(array_sort(collect_list(
            when(col("rn") === 1,
              struct(col("chunk_idx"), col("span"))))),
          p => p("span")), " ").as("new_text"))
      .orderBy(col("doc_id"))
  }

  val paragraphDedupSql: String =
    s"""WITH ${DocCorpus.CorpusSql},
      |d AS (
      |  SELECT doc_id, list_filter(
      |    regexp_split_to_array(trim(lower(text)), '\\s+'),
      |    t -> len(t) > 0) AS toks
      |  FROM corpus),
      |sp AS (
      |  SELECT doc_id, i AS chunk_idx,
      |    array_to_string(toks[i*10+1 : i*10+10], ' ') AS span
      |  FROM d, unnest(generate_series(0,
      |    greatest((len(toks)-1) // 10, 0))) AS u(i)
      |  WHERE len(array_to_string(toks[i*10+1 : i*10+10], ' ')) > 0),
      |r AS (
      |  SELECT doc_id, chunk_idx, span,
      |    ROW_NUMBER() OVER (PARTITION BY span
      |      ORDER BY doc_id, chunk_idx) AS rn
      |  FROM sp)
      |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_spans,
      |  CAST(SUM(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
      |  COALESCE(string_agg(CASE WHEN rn = 1 THEN span END, ' '
      |    ORDER BY chunk_idx), '') AS new_text
      |FROM r GROUP BY doc_id
      |ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- //

  /** Cross-document repeated-substring coverage — the distributed
    * stand-in for suffix-array substring dedup (Lee et al.,
    * "Deduplicating Training Data Makes Language Models Better"):
    * slide 40-char windows at stride 10 over each document, and score
    * each document by the fraction of its windows whose exact text
    * also occurs in some OTHER document. High coverage = boilerplate
    * / mirrored spans that exact and MinHash dedup both miss (they
    * work at whole-document granularity).
    *
    * Scale: the only shuffle is keyed by the 40-char gram (≤ 40 B +
    * doc_id per row, count-distinct-combinable); no pairwise join
    * ever forms. A true suffix array needs global sorted adjacency —
    * this stride-windowed form is the standard trade: it detects any
    * duplicated span ≥ 49 chars (stride−1 + window) at 1/stride the
    * gram volume. At 100 TB, key on xxhash64(gram) instead of the
    * text to cut shuffle bytes 5× (collisions only perturb a score).
    */
  def spanCoverage(s: SparkSession, dir: String,
      window: Int = 40, stride: Int = 10): DataFrame =
    spanCoverageOf(Tables.documents(s, dir), window, stride)

  /** [[spanCoverage]] over an arbitrary (doc_id, text, ...) frame. */
  def spanCoverageOf(documents: DataFrame,
      window: Int = 40, stride: Int = 10): DataFrame = {
    val docs = documents
      .select(col("doc_id"), col("text"), length(col("text")).as("len"))
    val grams = docs.filter(col("len") >= window)
      .select(col("doc_id"), explode(transform(
        sequence(lit(0), floor((col("len") - window) / stride)
          .cast(IntegerType)),
        i => col("text").substr(i * stride + 1, lit(window)))).as("gram"))
    val shared = grams.groupBy(col("gram"))
      .agg(countDistinct(col("doc_id")).as("nd"))
      .filter(col("nd") >= 2)
      .select(col("gram"), lit(1L).as("dup"))
    val perDoc = grams.join(shared, Seq("gram"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_grams"),
        coalesce(sum(col("dup")), lit(0L)).as("n_dup"))
    docs.select(col("doc_id")).join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_grams"), lit(0L)).as("n_grams"),
        coalesce(col("n_dup"), lit(0L)).as("n_dup"),
        when(coalesce(col("n_grams"), lit(0L)) === 0, lit(0.0))
          .otherwise(coalesce(col("n_dup"), lit(0L)).cast(DoubleType)
            / col("n_grams").cast(DoubleType)).as("dup_frac"))
      .orderBy(col("doc_id"))
  }

  val spanCoverageSql: String =
    """WITH d AS (
      |  SELECT doc_id, text, length(text) AS len FROM documents),
      |pos AS (
      |  SELECT doc_id, text,
      |    unnest(range(0, (len - 40) // 10 + 1)) AS i
      |  FROM d WHERE len >= 40),
      |g AS (
      |  SELECT doc_id,
      |    substr(text, CAST(i * 10 + 1 AS INTEGER), 40) AS gram
      |  FROM pos),
      |shared AS (
      |  SELECT gram FROM g GROUP BY gram
      |  HAVING COUNT(DISTINCT doc_id) >= 2),
      |pd AS (
      |  SELECT g.doc_id, COUNT(*) AS n_grams,
      |    SUM(CASE WHEN shared.gram IS NOT NULL THEN 1 ELSE 0 END)
      |      AS n_dup
      |  FROM g LEFT JOIN shared ON g.gram = shared.gram
      |  GROUP BY g.doc_id)
      |SELECT d.doc_id,
      |  CAST(COALESCE(pd.n_grams, 0) AS BIGINT) AS n_grams,
      |  CAST(COALESCE(pd.n_dup, 0) AS BIGINT) AS n_dup,
      |  CASE WHEN COALESCE(pd.n_grams, 0) = 0 THEN 0.0
      |       ELSE CAST(pd.n_dup AS DOUBLE) / CAST(pd.n_grams AS DOUBLE)
      |  END AS dup_frac
      |FROM d LEFT JOIN pd ON d.doc_id = pd.doc_id
      |ORDER BY d.doc_id""".stripMargin

  /** Duplicated-CHARACTER fraction (the Lee et al. "deduplicating
    * training data" measure [[spanCoverage]] approximates): the
    * stride-windowed grams shared across documents are turned back
    * into character intervals [pos, pos+window) and MERGED per doc by
    * the classic sweep — running max of interval ends over the
    * start-ordered spans, each span contributing only its uncovered
    * suffix — so overlapping dup spans are never double-counted and
    * the emitted `dup_chars` is the exact union length. Fraction is a
    * ppm BIGINT (`dup_chars·10⁶ div len`), float-free.
    *
    * Scale: identical shuffle shape to [[spanCoverage]] (gram-keyed,
    * ≤ 40 B + doc_id per row); the merge sweep is a window
    * PARTITIONED BY doc_id over ≤ len/stride spans — per-doc state,
    * never global. */
  def spanUnion(s: SparkSession, dir: String,
      window: Int = 40, stride: Int = 10): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
    val docs = Tables.documents(s, dir)
      .select(col("doc_id"), col("text"), length(col("text")).as("len"))
    val grams = docs.filter(col("len") >= window)
      .select(col("doc_id"),
        explode(transform(
          sequence(lit(0), floor((col("len") - window) / stride)
            .cast(IntegerType)),
          i => struct((i * stride).cast(LongType).as("st"),
            col("text").substr(i * stride + 1, lit(window)).as("gram"))))
          .as("g"))
      .select(col("doc_id"), col("g.st").as("st"), col("g.gram").as("gram"))
    val shared = grams.groupBy(col("gram"))
      .agg(countDistinct(col("doc_id")).as("nd"))
      .filter(col("nd") >= 2)
      .select(col("gram"))
    val spans = grams.join(shared, Seq("gram"))
      .select(col("doc_id"), col("st"), (col("st") + window).as("en"))
    val sweep = w.partitionBy(col("doc_id")).orderBy(col("st"), col("en"))
      .rowsBetween(w.unboundedPreceding, -1)
    val covered = spans
      .withColumn("reach", coalesce(max(col("en")).over(sweep), lit(0L)))
      .select(col("doc_id"),
        greatest(col("en") - greatest(col("st"), col("reach")), lit(0L))
          .as("add"))
      .groupBy(col("doc_id"))
      .agg(sum(col("add")).as("dup_chars"))
    docs.select(col("doc_id"), col("len"))
      .join(covered, Seq("doc_id"), "left")
      .select(col("doc_id"), col("len").cast(LongType).as("len"),
        coalesce(col("dup_chars"), lit(0L)).as("dup_chars"),
        expr("(coalesce(dup_chars, 0L) * 1000000L) div len")
          .as("dup_frac_ppm"))
      .orderBy(col("doc_id"))
  }

  val spanUnionSql: String =
    """WITH d AS (
      |  SELECT doc_id, text, length(text) AS len FROM documents),
      |pos AS (
      |  SELECT doc_id, unnest(range(0, (len - 40) // 10 + 1)) AS i
      |  FROM d WHERE len >= 40),
      |g AS (
      |  SELECT p.doc_id, CAST(p.i * 10 AS BIGINT) AS st,
      |    substr(d.text, CAST(p.i * 10 + 1 AS INTEGER), 40) AS gram
      |  FROM pos p JOIN d ON p.doc_id = d.doc_id),
      |shared AS (
      |  SELECT gram FROM g GROUP BY gram
      |  HAVING COUNT(DISTINCT doc_id) >= 2),
      |spans AS (
      |  SELECT g.doc_id, g.st, g.st + 40 AS en
      |  FROM g JOIN shared ON g.gram = shared.gram),
      |sweep AS (
      |  SELECT doc_id, st, en,
      |    COALESCE(MAX(en) OVER (PARTITION BY doc_id ORDER BY st, en
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
      |      AS reach
      |  FROM spans),
      |cov AS (
      |  SELECT doc_id,
      |    CAST(SUM(GREATEST(en - GREATEST(st, reach), 0)) AS BIGINT)
      |      AS dup_chars
      |  FROM sweep GROUP BY doc_id)
      |SELECT d.doc_id, CAST(d.len AS BIGINT) AS len,
      |  CAST(COALESCE(cov.dup_chars, 0) AS BIGINT) AS dup_chars,
      |  (COALESCE(cov.dup_chars, 0) * 1000000) // d.len AS dup_frac_ppm
      |FROM d LEFT JOIN cov ON d.doc_id = cov.doc_id
      |ORDER BY d.doc_id""".stripMargin

  /** Exact-substring dedup (Lee et al. 2022, "Deduplicating Training
    * Data Makes Language Models Better" — the suffix-array ExactSubstr
    * pass ECC/NeoX-style pipelines run by name, the one named dedup
    * shape this family lacked): any token run of length ≥ L occurring
    * ≥ 2 times ANYWHERE in the corpus — including twice inside one
    * document; the published tool counts occurrences, not documents —
    * is a duplicated span a cut pass removes. The suffix-array
    * formulation is single-node sequential; the Spark-first
    * re-expression uses the L-gram identity: a ≥ L-token substring is
    * duplicated iff each of its L-token windows is, and the union of
    * duplicated stride-1 L-gram windows IS the union of duplicated
    * ≥ L-token substrings — so compiled stride-1 token L-grams
    * ([[graft.plans.TextExpressions.TokenNGrams]] under posexplode),
    * one map-combinable occurrence count per gram, a join back on the
    * same gram exchange, and [[spanUnion]]'s gaps-islands sweep
    * reproduce the suffix-array answer exactly. ([[spanUnion]] is the
    * strided char-level APPROXIMATION of this pass; this gate is the
    * exact token-level one.) Emits per doc: token count, the merged
    * duplicated-token union, the maximal-span count after merge, and
    * the ppm fraction a cut pass would drop. L = 8 (the fixture-scale
    * stand-in for the published 50-BPE-token knob; the plan shape is
    * L-invariant). Docs under L tokens carry no gram and dedup
    * nothing, as in the published tool.
    *
    * Scale: O(corpus tokens) gram rows; count and join-back share one
    * hash(gram) exchange; the sweep windows over DUPLICATED positions
    * only, partitioned by doc. No suffix array, no global sort, no
    * driver state — the published pipeline's single-node suffix-array
    * memory wall is precisely what this shape removes at 100 TB
    * (production additionally pre-hashes grams to 64-bit before the
    * shuffle and re-verifies survivors, trading one more scan for an
    * 8× narrower exchange; the fixture gate ships the strings so the
    * DuckDB oracle shares the exact grouping key). */
  def exactSubstring(s: SparkSession, dir: String, l: Int = 8): DataFrame = {
    val docs = Tables.documents(s, dir)
      .select(col("doc_id"),
        size(split(col("text"), " ")).cast(LongType).as("n_tokens"),
        col("text"))
    val grams = docs
      .select(col("doc_id"),
        posexplode(graft.plans.TextExpressions.tokenNGrams(
          split(col("text"), " "), l, emitWholeShortDoc = false)))
      .select(col("doc_id"), col("pos").cast(LongType).as("st"),
        col("col").as("gram"))
    val dup = grams.groupBy(col("gram")).agg(count(lit(1)).as("f"))
      .filter(col("f") >= 2).select(col("gram"))
    val marked = grams.join(dup, Seq("gram"))
      .select(col("doc_id"), col("st"))
    substrCoverage(docs.select(col("doc_id"), col("n_tokens")), marked, l)
  }

  /** The exact-substring verdict tail shared by the batch and
    * streaming gates: duplicated window starts → gaps-and-islands
    * union per doc → per-doc (tokens, dup union, max-span count,
    * cut-ppm). `-1` reach sentinel so a doc's first span (st = 0)
    * still opens an island under the st > reach test. */
  private def substrCoverage(docTokens: DataFrame, marked: DataFrame,
      l: Int): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
    val spans = marked
      .select(col("doc_id"), col("st"), (col("st") + l).as("en"))
    val sweep = w.partitionBy(col("doc_id")).orderBy(col("st"), col("en"))
      .rowsBetween(w.unboundedPreceding, -1)
    val covered = spans
      .withColumn("reach", coalesce(max(col("en")).over(sweep), lit(-1L)))
      .select(col("doc_id"),
        greatest(col("en") - greatest(col("st"), col("reach")), lit(0L))
          .as("add"),
        when(col("st") > col("reach"), 1L).otherwise(0L).as("isl"))
      .groupBy(col("doc_id"))
      .agg(sum(col("add")).as("dup_tokens"), sum(col("isl")).as("n_spans"))
    docTokens
      .join(covered, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"),
        coalesce(col("dup_tokens"), lit(0L)).as("dup_tokens"),
        coalesce(col("n_spans"), lit(0L)).as("n_spans"),
        expr("(coalesce(dup_tokens, 0L) * 1000000L) div n_tokens")
          .as("dup_frac_ppm"))
      .orderBy(col("doc_id"))
  }

  /** Cross-doc-only exact-substring dedup at the PUBLISHED operating
    * point (round-11 verdict growth 8a): Lee et al. 2022 deploy
    * ExactSubstr with L = 50 BPE tokens and — in the pipeline runs,
    * as opposed to the paper's definition — count a span duplicated
    * only when it recurs in a DIFFERENT document (self-repeats are
    * legitimate structure: boilerplate headers, refrains, tables).
    * [[exactSubstring]] is the paper-definition gate (occurrence
    * count ≥ 2, L = 8 fixture knob); this is the deployment twin:
    * same compiled stride-1 L-gram identity, same gaps-islands
    * verdict tail ([[substrCoverage]]), but the duplication test is
    * `COUNT(DISTINCT doc_id) >= 2` per gram and L = 50.
    *
    * The fixture corpus has no within-doc-only duplicated gram at ANY
    * L (measured: 0 at L = 8 and L = 50 on sf0.001/sf0.01), so the
    * two modes would coincide and the flag would be untested — the
    * gate therefore PLANTS deterministic self-repeats (every
    * `doc_id % 17 == 3` doc is self-concatenated, giving each ≥ L-token
    * planted doc a genuine cyclic within-doc L-gram repeat) and the
    * oracle prices the exclusion: occurrence-mode would mark those
    * docs near-fully duplicated, cross-doc-only must leave every
    * planted-but-unshared span unmarked (RoundTwelveBatchSpec asserts
    * the modes differ on exactly the planted slice).
    *
    * Scale: identical shape to [[exactSubstring]] — O(corpus tokens)
    * gram rows, the distinct-doc count is one map-combinable
    * partial-distinct aggregate on the SAME hash(gram) exchange the
    * join-back reuses, no suffix array, no driver state. The L = 50
    * windows are ~6× the L = 8 strings per row, which is why
    * production pre-hashes grams to 64 bits before the exchange; the
    * fixture gate ships the strings so the DuckDB oracle shares the
    * exact grouping key. */
  def exactSubstringCrossDoc(s: SparkSession, dir: String,
      l: Int = 50): DataFrame =
    plantedSubstr(s, dir, l, crossDocOnly = true)

  /** Occurrence-mode twin over the SAME planted corpus and L —
    * exists so RoundTwelveBatchSpec can price what the deployment
    * flag excludes (it must mark strictly MORE of each planted
    * self-repeat doc, and differ nowhere else). Not a gate: the
    * paper-definition gate is [[exactSubstring]]. */
  private[graft] def exactSubstringOccurrence(s: SparkSession,
      dir: String, l: Int = 50): DataFrame =
    plantedSubstr(s, dir, l, crossDocOnly = false)

  private def plantedSubstr(s: SparkSession, dir: String, l: Int,
      crossDocOnly: Boolean): DataFrame = {
    val corpus = Tables.documents(s, dir)
      .select(col("doc_id"),
        when(col("doc_id") % 17 === 3,
          concat(col("text"), lit(" "), col("text")))
          .otherwise(col("text")).as("text"))
    val docs = corpus
      .select(col("doc_id"),
        size(split(col("text"), " ")).cast(LongType).as("n_tokens"),
        col("text"))
    val grams = docs
      .select(col("doc_id"),
        posexplode(graft.plans.TextExpressions.tokenNGrams(
          split(col("text"), " "), l, emitWholeShortDoc = false)))
      .select(col("doc_id"), col("pos").cast(LongType).as("st"),
        col("col").as("gram"))
    val dup =
      (if (crossDocOnly)
        grams.groupBy(col("gram"))
          .agg(countDistinct(col("doc_id")).as("f"))
      else grams.groupBy(col("gram")).agg(count(lit(1)).as("f")))
        .filter(col("f") >= 2).select(col("gram"))
    val marked = grams.join(dup, Seq("gram"))
      .select(col("doc_id"), col("st"))
    substrCoverage(docs.select(col("doc_id"), col("n_tokens")), marked, l)
  }

  val exactSubstringCrossDocSql: String =
    """WITH corpus AS (
      |  SELECT doc_id,
      |    CASE WHEN doc_id % 17 = 3 THEN text || ' ' || text
      |         ELSE text END AS text
      |  FROM documents),
      |tok AS (
      |  SELECT doc_id, string_split(text, ' ') AS t FROM corpus),
      |base AS (
      |  SELECT doc_id, CAST(len(t) AS BIGINT) AS n_tokens, t FROM tok),
      |pos AS (
      |  SELECT doc_id, t, unnest(range(1, greatest(len(t) - 48, 1))) AS i
      |  FROM base),
      |grams AS (
      |  SELECT doc_id, CAST(i - 1 AS BIGINT) AS st,
      |    array_to_string(t[i:i+49], ' ') AS gram
      |  FROM pos),
      |dup AS (SELECT gram FROM grams GROUP BY gram
      |        HAVING COUNT(DISTINCT doc_id) >= 2),
      |spans AS (
      |  SELECT g.doc_id, g.st, g.st + 50 AS en
      |  FROM grams g JOIN dup USING (gram)),
      |sweep AS (
      |  SELECT doc_id, st, en,
      |    COALESCE(MAX(en) OVER (PARTITION BY doc_id ORDER BY st, en
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1)
      |      AS reach
      |  FROM spans),
      |cov AS (
      |  SELECT doc_id,
      |    CAST(SUM(GREATEST(en - GREATEST(st, reach), 0)) AS BIGINT)
      |      AS dup_tokens,
      |    CAST(SUM(CASE WHEN st > reach THEN 1 ELSE 0 END) AS BIGINT)
      |      AS n_spans
      |  FROM sweep GROUP BY doc_id)
      |SELECT b.doc_id, b.n_tokens,
      |  CAST(COALESCE(cov.dup_tokens, 0) AS BIGINT) AS dup_tokens,
      |  CAST(COALESCE(cov.n_spans, 0) AS BIGINT) AS n_spans,
      |  (COALESCE(cov.dup_tokens, 0) * 1000000) // b.n_tokens
      |    AS dup_frac_ppm
      |FROM base b LEFT JOIN cov ON b.doc_id = cov.doc_id
      |ORDER BY b.doc_id""".stripMargin

  /** The gram-keyed state transform behind [[streamExactSubstring]],
    * exposed for the plan contract (TransformWithState, zero joins)
    * and batch≡stream identity. One shuffle per batch, on the gram
    * key, into [[graft.streaming.ExactSubstrProcessor]]. */
  private[graft] def exactSubstrStateMarks(stream: DataFrame, l: Int = 8)
      : org.apache.spark.sql.Dataset[graft.streaming.GramMark] = {
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
    import stream.sparkSession.implicits._
    org.apache.spark.sql.GraftSqlBridge
      .ensureStateStoreCoordinator(stream.sparkSession)
    stream
      .select(col("doc_id"),
        posexplode(graft.plans.TextExpressions.tokenNGrams(
          split(col("text"), " "), l, emitWholeShortDoc = false)))
      .select(col("col").as("gram"), col("doc_id"),
        col("pos").cast(LongType).as("st"))
      .as[(String, Long, Long)]
      .groupByKey(_._1)
      .transformWithState(new graft.streaming.ExactSubstrProcessor,
        TimeMode.None(), OutputMode.Append())
  }

  /** STREAMING exact-substring dedup (round-10 verdict growth item
    * 8b — the incremental twin of [[exactSubstring]]): documents
    * arrive as micro-batches; per-gram first-occurrence keyed state
    * marks every occurrence of a gram the moment its corpus count
    * reaches 2 — including the FIRST occurrence, via an event-sourced
    * RETRO mark (see [[graft.streaming.ExactSubstrProcessor]]) — so
    * after the three-batch replay (doc_id mod 3) the marked-window
    * set, and therefore the per-doc island verdict, equals the batch
    * gate's EXACTLY: the oracle is [[exactSubstringSql]] verbatim.
    *
    * Per-batch cost: the batch's gram occurrences, one gram-keyed
    * shuffle, point state access; the reader's island sweep runs once
    * over the marked windows (≤ corpus grams, typically ≪). State =
    * one record per distinct gram (the dedup-state-universe
    * contract); a bounded deployment passes a TTL and accepts the
    * trailing-horizon cut, as `stream_dedup_ttl` prices. */
  def streamExactSubstring(s: SparkSession, dir: String): DataFrame = {
    val marksDir = Scaffold.scratch(dir, "essstream/marks")
    val docs = Tables.documents(s, dir)
      .select(col("doc_id"), col("text"))
    Scaffold.setup(Scaffold.rm(s, marksDir))
    val batches = (0 to 2).map(m =>
      docs.filter(col("doc_id") % 3 === m).coalesce(2))
    EventStreams.withRocksDb(s, EventStreams.GateStatePartitions) {
      EventStreams.replay("essstream_" + Scaffold.tag(dir),
          Scaffold.scratch(dir, "essstream/src"), batches) { (stream, ck) =>
        EventStreams.toParquet(
          exactSubstrStateMarks(stream).toDF(), marksDir, ck)
      }
    }
    val docTokens = Tables.documents(s, dir)
      .select(col("doc_id"),
        size(split(col("text"), " ")).cast(LongType).as("n_tokens"))
    substrCoverage(docTokens,
      s.read.parquet(marksDir).select(col("doc_id"), col("st")), 8)
  }

  val exactSubstringSql: String =
    """WITH tok AS (
      |  SELECT doc_id, string_split(text, ' ') AS t FROM documents),
      |base AS (
      |  SELECT doc_id, CAST(len(t) AS BIGINT) AS n_tokens, t FROM tok),
      |pos AS (
      |  SELECT doc_id, t, unnest(range(1, greatest(len(t) - 6, 1))) AS i
      |  FROM base),
      |grams AS (
      |  SELECT doc_id, CAST(i - 1 AS BIGINT) AS st,
      |    array_to_string(t[i:i+7], ' ') AS gram
      |  FROM pos),
      |dup AS (SELECT gram FROM grams GROUP BY gram HAVING COUNT(*) >= 2),
      |spans AS (
      |  SELECT g.doc_id, g.st, g.st + 8 AS en
      |  FROM grams g JOIN dup USING (gram)),
      |sweep AS (
      |  SELECT doc_id, st, en,
      |    COALESCE(MAX(en) OVER (PARTITION BY doc_id ORDER BY st, en
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1)
      |      AS reach
      |  FROM spans),
      |cov AS (
      |  SELECT doc_id,
      |    CAST(SUM(GREATEST(en - GREATEST(st, reach), 0)) AS BIGINT)
      |      AS dup_tokens,
      |    CAST(SUM(CASE WHEN st > reach THEN 1 ELSE 0 END) AS BIGINT)
      |      AS n_spans
      |  FROM sweep GROUP BY doc_id)
      |SELECT b.doc_id, b.n_tokens,
      |  CAST(COALESCE(cov.dup_tokens, 0) AS BIGINT) AS dup_tokens,
      |  CAST(COALESCE(cov.n_spans, 0) AS BIGINT) AS n_spans,
      |  (COALESCE(cov.dup_tokens, 0) * 1000000) // b.n_tokens
      |    AS dup_frac_ppm
      |FROM base b LEFT JOIN cov ON b.doc_id = cov.doc_id
      |ORDER BY b.doc_id""".stripMargin

  /** Incremental-novelty curve — the curation-ORDER diagnostic the
    * symmetric coverage gates ([[spanCoverage]]/[[spanUnion]]) can't
    * answer: processing docs in doc_id order, what fraction of each
    * doc's stride-grams has never been seen in any EARLIER doc?
    * First-seen ownership is one grouped `min(doc_id)` per gram —
    * no window over the corpus, no pairwise join — and a gram is
    * novel for exactly the doc that owns its minimum. Emits per doc
    * the gram count, novel count, and novelty as a ppm BIGINT; the
    * running marginal-novelty curve a data buyer reads to decide
    * where additional corpus stops paying.
    *
    * Scale: identical shuffle to [[spanCoverage]] (gram-keyed,
    * min-combinable); the join back is gram-keyed on the same
    * exchange. */
  def noveltyCurve(s: SparkSession, dir: String,
      window: Int = 40, stride: Int = 10): DataFrame = {
    val docs = Tables.documents(s, dir)
      .select(col("doc_id"), col("text"), length(col("text")).as("len"))
    val grams = docs.filter(col("len") >= window)
      .select(col("doc_id"), explode(transform(
        sequence(lit(0), floor((col("len") - window) / stride)
          .cast(IntegerType)),
        i => col("text").substr(i * stride + 1, lit(window)))).as("gram"))
    val firstSeen = grams.groupBy(col("gram"))
      .agg(min(col("doc_id")).as("owner"))
    grams.join(firstSeen, Seq("gram"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("owner") === col("doc_id"), 1L).otherwise(0L))
          .as("n_novel"))
      .select(col("doc_id"), col("n_grams"), col("n_novel"),
        expr("(n_novel * 1000000L) div n_grams").as("novelty_ppm"))
      .orderBy(col("doc_id"))
  }

  val noveltyCurveSql: String =
    """WITH d AS (
      |  SELECT doc_id, text, length(text) AS len FROM documents),
      |pos AS (
      |  SELECT doc_id, text,
      |    unnest(range(0, (len - 40) // 10 + 1)) AS i
      |  FROM d WHERE len >= 40),
      |g AS (
      |  SELECT doc_id,
      |    substr(text, CAST(i * 10 + 1 AS INTEGER), 40) AS gram
      |  FROM pos),
      |fs AS (SELECT gram, MIN(doc_id) AS owner FROM g GROUP BY gram)
      |SELECT g.doc_id, COUNT(*) AS n_grams,
      |  CAST(SUM(CASE WHEN fs.owner = g.doc_id THEN 1 ELSE 0 END)
      |    AS BIGINT) AS n_novel,
      |  (CAST(SUM(CASE WHEN fs.owner = g.doc_id THEN 1 ELSE 0 END)
      |    AS BIGINT) * 1000000) // COUNT(*) AS novelty_ppm
      |FROM g JOIN fs USING (gram)
      |GROUP BY g.doc_id
      |ORDER BY g.doc_id""".stripMargin

  /** Banded hamming self-join — the k-bit variant the [[simhash]]
    * docstring names, as a first-class operator: pairs of 64-bit
    * signatures within hamming distance ≤ `k`, found EXACTLY via the
    * pigeonhole principle. The signature splits into `k+1` bands; any
    * pair within distance k must agree on at least one whole band
    * (k flipped bits cannot touch all k+1 bands), so the candidate
    * join is an equi join on (band_index, band_value) — never a cross
    * join, no false negatives. Candidates dedup as id pairs (16 B)
    * before the verify pass computes `bit_count(sig_a XOR sig_b)`;
    * the shuffle carries band keys + ids, signatures re-join after.
    */
  def hammingJoin(sigs: DataFrame, k: Int): DataFrame = {
    val nBands = k + 1
    val bandBits = 64 / nBands
    val banded = sigs.select(col("id"), col("sig"),
        explode(sequence(lit(0), lit(nBands - 1))).as("band"))
      .withColumn("bv", expr(
        s"shiftrightunsigned(sig, band * $bandBits) & ${(1L << bandBits) - 1}"))
    val cands = banded.toDF("id_a", "sig_a", "band", "bv")
      .join(banded.toDF("id_b", "sig_b", "band", "bv"), Seq("band", "bv"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b")).distinct()
    cands
      .join(sigs.toDF("id_a", "sig_a"), "id_a")
      .join(sigs.toDF("id_b", "sig_b"), "id_b")
      .withColumn("hamming", expr("bit_count(sig_a ^ sig_b)"))
      .filter(col("hamming") <= k)
      .select(col("id_a"), col("id_b"),
        col("hamming").cast(LongType).as("hamming"))
  }

  /** SQL-derivable signature fixture: three bounded multiplicative
    * hashes packed into disjoint bit ranges (26+26+10), overflow-safe
    * in both engines, plus an engineered 1-bit-flipped twin
    * (id+100000) for every 50th doc. The oracle brute-forces ALL
    * pairs — the banded join must reproduce it exactly, engineered
    * twins and accidental near-pairs alike. */
  private def hammingSigs(s: SparkSession, dir: String): DataFrame = {
    val base = Tables.documents(s, dir).select(col("doc_id").as("id"))
      .withColumn("sig", expr(
        """((id % 8191) * 2654435761 + 40503) % 67108864
          | + (((id % 8191) * 2246822519 + 12345) % 67108864) * 67108864
          | + (((id % 8191) * 3266489917 + 67890) % 1024)
          |   * 67108864 * 67108864""".stripMargin))
    val twins = base.filter(col("id") % 50 === 0)
      .select((col("id") + 100000).as("id"),
        expr("sig ^ shiftleft(CAST(1 AS BIGINT), CAST(id % 40 AS INT))")
          .as("sig"))
    base.union(twins)
  }

  def hammingBanded(s: SparkSession, dir: String): DataFrame =
    hammingJoin(hammingSigs(s, dir), k = 3)
      .orderBy(col("id_a"), col("id_b"))

  val hammingBandedSql: String =
    """WITH base AS (
      |  SELECT doc_id AS id,
      |    ((doc_id % 8191) * 2654435761 + 40503) % 67108864
      |    + (((doc_id % 8191) * 2246822519 + 12345) % 67108864) * 67108864
      |    + (((doc_id % 8191) * 3266489917 + 67890) % 1024)
      |      * 67108864 * 67108864 AS sig
      |  FROM documents),
      |sigs AS (
      |  SELECT id, sig FROM base
      |  UNION ALL
      |  SELECT id + 100000 AS id,
      |    xor(sig, CAST(1 AS BIGINT) << CAST(id % 40 AS INTEGER)) AS sig
      |  FROM base WHERE id % 50 = 0)
      |SELECT a.id AS id_a, b.id AS id_b,
      |  CAST(bit_count(xor(a.sig, b.sig)) AS BIGINT) AS hamming
      |FROM sigs a, sigs b
      |WHERE a.id < b.id AND bit_count(xor(a.sig, b.sig)) <= 3
      |ORDER BY id_a, id_b""".stripMargin

  /** LSH band-geometry s-curve: P(candidate | similarity s) =
    * 1 − (1 − s^rows)^bands for the geometries the repo's LSH paths
    * actually use — the tuning table that justifies 8×4 (pair mining
    * at high similarity) vs 16×2 (mid-similarity top-k). Pure
    * projection over a generated grid; every power is an explicit
    * fixed-order multiplication chain, so both engines produce
    * bit-identical doubles with no runtime `pow`. */
  def lshScurve(s: SparkSession, dir: String): DataFrame = {
    val geoms = Seq((8, 4), (16, 2))
    val frames = geoms.map { case (bands, rows) =>
      val grid = s.range(1, 20).select(
        (col("id").cast(DoubleType) / lit(20.0)).as("sim"))
      val sPow = (1 until rows)
        .foldLeft(col("sim"))((acc, _) => acc * col("sim"))
      val miss1 = lit(1.0) - sPow
      val missAll = (1 until bands).foldLeft(miss1)((acc, _) => acc * miss1)
      grid.select(lit(bands.toLong).as("bands"), lit(rows.toLong).as("rows"),
        col("sim"), (lit(1.0) - missAll).as("p_candidate"))
    }
    frames.reduce(_ union _)
      .orderBy(col("bands"), col("sim"))
  }

  val lshScurveSql: String = {
    def geomSql(bands: Int, rows: Int): String = {
      val sPow = (1 until rows).foldLeft("s.sim")((acc, _) => s"($acc * s.sim)")
      val miss1 = s"(1.0 - $sPow)"
      val missAll = (1 until bands).foldLeft(miss1)((acc, _) => s"($acc * $miss1)")
      s"""SELECT CAST($bands AS BIGINT) AS bands,
         |  CAST($rows AS BIGINT) AS rows, s.sim,
         |  1.0 - $missAll AS p_candidate
         |FROM (SELECT CAST(i AS DOUBLE) / 20 AS sim
         |      FROM generate_series(1, 19) t(i)) s""".stripMargin
    }
    s"""${geomSql(8, 4)}
       |UNION ALL
       |${geomSql(16, 2)}
       |ORDER BY bands, sim""".stripMargin
  }

  /** URL canonicalization dedup — the first dedup pass of every
    * web-crawl pipeline (C4/CCNet run it before any content hashing):
    * the same page arrives under case-mangled hosts, default ports,
    * utm_* tracking params, fragments, and trailing slashes; those
    * variants must collapse BEFORE expensive text dedup. Rules, in
    * order: drop fragment → lowercase scheme+authority (path stays
    * case-sensitive per RFC 3986) → strip the default :443 port →
    * strip utm_* params (mid-string, leading-with-follower, and
    * leading-terminal forms) → strip one trailing slash.
    *
    * Every rule is a dialect-neutral regex (no lookaround, no
    * backrefs) so Java regex and RE2 agree byte for byte, and the
    * oracle passes 'g' on EVERY regexp_replace — Spark replaces all
    * occurrences while DuckDB's default replaces only the first, so
    * replace SEMANTICS, not just regex syntax, must be pinned — the
    * gate hashes the grouped canonical table across both engines. Pure
    * codegen projection + one canonical-key groupBy: at 100 TB the
    * normalization runs at scan speed and the only shuffle carries
    * (canonical, id).
    *
    * Fixture: two synthetic variants per page (paths collide via
    * `doc_id div 2`), with host case, port, utm noise, and fragments
    * varied by doc parity. */
  def urlCanonical(s: SparkSession, dir: String): DataFrame = {
    // Page identity: docs d and d+20 share (source, page) — sources
    // cycle doc_id % 20, so the SAME page arrives twice, once per
    // variant bit v = (doc_id div 20) % 2. v=0 is the "dirty" form
    // (upper-case authority, :443, utm_ prefix param, #fragment);
    // v=1 the different-noise form (utm_ suffix param, trailing
    // slash on param-less pages). Every canonical group must
    // therefore hold exactly 2 urls with the v=0 doc as keeper.
    val pk = expr("(doc_id % 20) * 100 + (doc_id div 40)")
    val v0 = expr("(doc_id div 20) % 2 = 0")
    val url = concat(
      when(v0, lit("HTTPS://WWW.")).otherwise(lit("https://www.")),
      col("source"),
      when(v0, lit(".Example.COM:443")).otherwise(lit(".example.com")),
      lit("/Docs/"), pk.cast("string"),
      when(pk % 5 === 0, when(v0, lit("")).otherwise(lit("/")))
        .otherwise(when(v0,
          concat(lit("?utm_source=feed&id="), pk % 7))
          .otherwise(
            concat(lit("?id="), pk % 7, lit("&utm_medium=m")))),
      when(v0, lit("#frag")).otherwise(lit(""))
    )
    val canon = {
      var u: org.apache.spark.sql.Column = url
      u = regexp_replace(u, "#.*", "")
      // lowercase scheme://authority, leave the path alone
      u = concat(lower(regexp_extract(u, "^[^/]*//[^/]*", 0)),
        regexp_replace(u, "^[^/]*//[^/]*", ""))
      u = regexp_replace(u, ":443$", "")
      u = regexp_replace(u, ":443/", "/")
      u = regexp_replace(u, "&utm_[^&#]*", "")
      u = regexp_replace(u, "\\?utm_[^&#]*&", "?")
      u = regexp_replace(u, "\\?utm_[^&#]*$", "")
      regexp_replace(u, "/$", "")
    }
    Tables.documents(s, dir)
      .select(col("doc_id"), canon.as("canon"))
      .groupBy(col("canon"))
      .agg(count(lit(1)).as("n_urls"), min(col("doc_id")).as("keeper"))
      .orderBy(col("canon"))
  }

  val urlCanonicalSql: String =
    """WITH pg AS (
      |  SELECT doc_id, source,
      |    (doc_id % 20) * 100 + (doc_id // 40) AS pk,
      |    (doc_id // 20) % 2 = 0 AS v0
      |  FROM documents),
      |raw AS (
      |  SELECT doc_id,
      |    (CASE WHEN v0 THEN 'HTTPS://WWW.' ELSE 'https://www.' END)
      |    || source
      |    || (CASE WHEN v0 THEN '.Example.COM:443' ELSE '.example.com' END)
      |    || '/Docs/' || CAST(pk AS VARCHAR)
      |    || (CASE WHEN pk % 5 = 0
      |          THEN (CASE WHEN v0 THEN '' ELSE '/' END)
      |        WHEN v0
      |          THEN '?utm_source=feed&id=' || CAST(pk % 7 AS VARCHAR)
      |        ELSE '?id=' || CAST(pk % 7 AS VARCHAR) || '&utm_medium=m'
      |        END)
      |    || (CASE WHEN v0 THEN '#frag' ELSE '' END) AS url
      |  FROM pg),
      |canon AS (
      |  SELECT doc_id,
      |    regexp_replace(
      |      regexp_replace(
      |        regexp_replace(
      |          regexp_replace(
      |            regexp_replace(
      |              regexp_replace(
      |                lower(regexp_extract(regexp_replace(url, '#.*', '', 'g'),
      |                  '^[^/]*//[^/]*', 0))
      |                || regexp_replace(regexp_replace(url, '#.*', '', 'g'),
      |                     '^[^/]*//[^/]*', '', 'g'),
      |                ':443$', '', 'g'),
      |              ':443/', '/', 'g'),
      |            '&utm_[^&#]*', '', 'g'),
      |          '\?utm_[^&#]*&', '?', 'g'),
      |        '\?utm_[^&#]*$', '', 'g'),
      |      '/$', '', 'g') AS canon
      |  FROM raw)
      |SELECT canon, COUNT(*) AS n_urls, MIN(doc_id) AS keeper
      |FROM canon GROUP BY canon ORDER BY canon""".stripMargin

  /** Prefix-truncation duplicate detection — the scraped-corpus
    * failure mode none of the similarity dedups target head-on: the
    * SAME article captured at different cut-offs (paywall folds,
    * feed summaries, re-crawls with different length caps). A pair
    * (a, b) is a truncation dupe when `text_a` is a strict prefix of
    * `text_b` (ties on equal text break by id). Detection is EXACT
    * under the documented ≥32-char contract: if a is a prefix of b
    * and both are ≥32 chars, their first-32-char keys are equal, so
    * a 32-char prefix-key equi-join has zero false negatives and the
    * quadratic `startswith` verify runs only inside key blocks
    * (heavy blocks = shared boilerplate heads — exactly what the
    * operator exists to surface). Planted truncated copies
    * (doc_id+30000, first half of every doc_id<100 text) prove both
    * engines find the same pairs.
    *
    * Scale: one equi-join on the 32-char key; candidates never carry
    * payloads past the verify projection. */
  def prefixTruncation(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir).select(col("doc_id"), col("text"))
    val truncated = docs
      .filter(col("doc_id") < 100 && length(col("text")) >= 64)
      .select((col("doc_id") + 30000).as("doc_id"),
        expr("substring(text, 1, CAST(length(text) div 2 AS INT))")
          .as("text"))
    val corpus = docs.union(truncated)
      .filter(length(col("text")) >= 32)
      .select(col("doc_id"), col("text"),
        length(col("text")).cast(LongType).as("n"),
        substring(col("text"), 1, 32).as("k"))
    val a = corpus.toDF("id_a", "t_a", "n_a", "k")
    val b = corpus.toDF("id_b", "t_b", "n_b", "k")
    a.join(b, "k")
      .filter(col("n_a") < col("n_b") ||
        (col("n_a") === col("n_b") && col("id_a") < col("id_b")))
      .filter(expr("startswith(t_b, t_a)"))
      .select(col("id_a"), col("id_b"), col("n_a"), col("n_b"))
      .orderBy(col("id_a"), col("id_b"))
  }

  val prefixTruncationSql: String =
    """WITH tcorpus AS (
      |  SELECT doc_id, text FROM documents
      |  UNION ALL
      |  SELECT doc_id + 30000 AS doc_id,
      |    substr(text, 1, length(text) // 2) AS text
      |  FROM documents WHERE doc_id < 100 AND length(text) >= 64),
      |c AS (
      |  SELECT doc_id, text, CAST(length(text) AS BIGINT) AS n,
      |    substr(text, 1, 32) AS k
      |  FROM tcorpus WHERE length(text) >= 32)
      |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
      |  a.n AS n_a, b.n AS n_b
      |FROM c a JOIN c b ON a.k = b.k
      |WHERE (a.n < b.n OR (a.n = b.n AND a.doc_id < b.doc_id))
      |  AND starts_with(b.text, a.text)
      |ORDER BY id_a, id_b""".stripMargin

  /** MinHash Jaccard-ESTIMATION audit (Broder 1997) — the
    * calibration gate behind [[minhashLsh]]: for every same-source
    * document pair (doc, doc+20 — sources are strided doc_id % 20),
    * compute the EXACT 3-gram Jaccard and the 64-hash MinHash
    * estimate side by side, with BOTH reproduced by the oracle —
    * unlike the xxhash64 production signatures, these hashes are the
    * portable `(a_j·roll + b_j) mod 1e9+7` family over the repo's
    * `acc·31 + code` string roll, so the estimate itself is
    * hash-checked, not just bounded. The expected |est − exact|
    * is ≤ sqrt(J(1−J)/64) ≈ 0.06; the gate emits both ppm values.
    *
    * Scale: signatures are ONE pass over the per-doc hash array via
    * the codegen'd [[graft.plans.PolyMinhashSignature]] kernel (the
    * earlier explode(k)×shingles → groupBy-min formulation shuffled
    * shingles·k rows — 64× row amplification through an exchange,
    * measured as this gate's whole cost); the shuffle now carries one
    * hash per shingle into a collect_list (min is order-independent,
    * so the list's nondeterministic order is harmless), the pair
    * compare is one array zip per pair, and exact Jaccard joins
    * shingle sets only for the audited pairs. Nothing is
    * corpus×corpus. */
  def minhashEstimate(s: SparkSession, dir: String, k: Int = 64)
      : DataFrame = {
    val docs = Tables.documents(s, dir)
    val sh = docs.select(col("doc_id"),
        explode(graft.plans.TextExpressions.tokenNGrams(
          split(lower(col("text")), " "), 3,
          emitWholeShortDoc = false)).as("sh"))
      .distinct()
    // Compiled scan-side kernel, not the HOF fold: the poly-31 roll
    // over every shingle CHARACTER was this gate's hot loop (the
    // CdcChunkKernel cost class); bit-identical output, oracle
    // unchanged (the SQL keeps the spelled-out fold).
    val hashed = sh.withColumn("x",
      graft.plans.TextExpressions.poly31Hash(col("sh")))
    val sigs = hashed
      .groupBy(col("doc_id"))
      .agg(collect_list(col("x")).as("xs"))
      .select(col("doc_id"),
        graft.plans.TextExpressions.polyMinhash(col("xs"), k).as("sig"))
    // self-join disambiguation: shift doc_id on the B side up front
    val sa = sigs.toDF("doc_a", "sig_a")
    val sb = sigs.select((col("doc_id") - 20).as("doc_a"),
      col("sig").as("sig_b"))
    val matches = sa.join(sb, Seq("doc_a"))
      .select(col("doc_a"), expr(
        s"(aggregate(zip_with(sig_a, sig_b," +
          s" (x, y) -> IF(x = y, 1L, 0L)), 0L, (acc, v) -> acc + v)" +
          s" * 1000000) div $k").as("est_ppm"))
    val shA = sh.toDF("doc_a", "sh")
    val shB = sh.select((col("doc_id") - 20).as("doc_a"), col("sh"))
    val sizes = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    val inter = shA.join(shB, Seq("doc_a", "sh"))
      .groupBy(col("doc_a")).agg(count(lit(1)).as("inter"))
    sizes.toDF("doc_a", "n_a")
      .join(sizes.select((col("doc_id") - 20).as("doc_a"),
        col("n").as("n_b")), "doc_a")
      .join(inter, Seq("doc_a"), "left")
      .na.fill(0L, Seq("inter"))
      .join(matches, "doc_a")
      .select(col("doc_a"), (col("doc_a") + 20).as("doc_b"),
        col("n_a"), col("n_b"), col("inter"),
        expr("(inter * 1000000) div (n_a + n_b - inter)")
          .as("exact_ppm"),
        col("est_ppm"))
      .orderBy(col("doc_a"))
  }

  def minhashEstimateSql(k: Int = 64): String =
    s"""WITH tok AS (
      |  SELECT doc_id, string_split(lower(text), ' ') AS t
      |  FROM documents),
      |sh AS (
      |  SELECT DISTINCT doc_id, array_to_string(t[i:i+2], ' ') AS sh
      |  FROM (SELECT doc_id, t,
      |          unnest(range(1, greatest(len(t) - 1, 1))) AS i
      |        FROM tok)),
      |hashed AS (
      |  SELECT doc_id, sh,
      |    list_reduce(list_prepend(CAST(0 AS BIGINT),
      |      list_transform(generate_series(1, length(sh)),
      |        i -> CAST(ascii(substring(sh, i, 1)) AS BIGINT))),
      |      (acc, c) -> (acc * 31 + c) % 1000000007) AS x
      |  FROM sh),
      |sigs AS (
      |  SELECT doc_id, j,
      |    MIN((((2654435761 * (j + 1)) % 1000000007) * x
      |      + (40503 * (j + 1) + 104729) % 1000000007)
      |      % 1000000007) AS mh
      |  FROM hashed, (SELECT unnest(range(0, $k)) AS j)
      |  GROUP BY doc_id, j),
      |m AS (
      |  SELECT a.doc_id AS doc_a,
      |    CAST(SUM(CASE WHEN a.mh = b.mh THEN 1 ELSE 0 END)
      |      AS BIGINT) AS m
      |  FROM sigs a JOIN sigs b
      |    ON b.doc_id = a.doc_id + 20 AND b.j = a.j
      |  GROUP BY a.doc_id),
      |sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
      |inter AS (
      |  SELECT a.doc_id AS doc_a, CAST(COUNT(*) AS BIGINT) AS inter
      |  FROM sh a JOIN sh b
      |    ON b.doc_id = a.doc_id + 20 AND b.sh = a.sh
      |  GROUP BY a.doc_id)
      |SELECT sa.doc_id AS doc_a, sa.doc_id + 20 AS doc_b,
      |  sa.n AS n_a, sb.n AS n_b,
      |  COALESCE(i.inter, 0) AS inter,
      |  (COALESCE(i.inter, 0) * 1000000)
      |    // (sa.n + sb.n - COALESCE(i.inter, 0)) AS exact_ppm,
      |  (m.m * 1000000) // $k AS est_ppm
      |FROM sizes sa
      |JOIN sizes sb ON sb.doc_id = sa.doc_id + 20
      |LEFT JOIN inter i ON i.doc_a = sa.doc_id
      |JOIN m ON m.doc_a = sa.doc_id
      |ORDER BY doc_a""".stripMargin

  /** Suffix–prefix overlap detection (the "contrail" dedup a crawl
    * pipeline runs for documents split across page boundaries: A's
    * tail continues as B's head): pairs where A's LAST `affixLen`
    * characters equal B's FIRST `affixLen` — an EXACT equi join on
    * the two affix keys, zero false negatives for overlaps ≥
    * affixLen by construction (any such overlap contains the
    * affix-length window). Directed (a → b), self-pairs excluded.
    *
    * Scale: the shuffle carries (id, 12-char key) projections only
    * — two linear passes; the join is equi on the affix, so the
    * candidate cost is Σ per-key head×tail, bounded by affix
    * entropy. At 100 TB raise affixLen (cost shrinks as keys
    * sharpen) — the join shape is unchanged. */
  def suffixPrefixPairs(s: SparkSession, dir: String,
      affixLen: Int = 12): DataFrame = {
    val docs = Tables.documents(s, dir)
      .filter(length(col("text")) >= affixLen)
    val tails = docs.select(col("doc_id").as("doc_a"),
      substring(col("text"), -affixLen, affixLen).as("affix"))
    val heads = docs.select(col("doc_id").as("doc_b"),
      substring(col("text"), 1, affixLen).as("affix"))
    tails.join(heads, "affix")
      .filter(col("doc_a") =!= col("doc_b"))
      .select(col("doc_a"), col("doc_b"), col("affix"))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  def suffixPrefixSql(affixLen: Int = 12): String =
    s"""WITH d AS (
      |  SELECT doc_id, text FROM documents
      |  WHERE length(text) >= $affixLen),
      |tails AS (
      |  SELECT doc_id AS doc_a,
      |    substring(text, length(text) - ${affixLen - 1}, $affixLen)
      |      AS affix
      |  FROM d),
      |heads AS (
      |  SELECT doc_id AS doc_b, substring(text, 1, $affixLen) AS affix
      |  FROM d)
      |SELECT t.doc_a, h.doc_b, t.affix
      |FROM tails t JOIN heads h ON h.affix = t.affix
      |WHERE t.doc_a <> h.doc_b
      |ORDER BY t.doc_a, h.doc_b""".stripMargin

  /** Content-defined chunking (the rsync/LBFS/restic boundary
    * discipline; Muthitacharoen et al., SOSP'01): a chunk boundary
    * falls AFTER position i whenever the rolling hash of the last 8
    * characters ≡ 0 (mod 64) — boundaries depend only on LOCAL
    * content, so inserting a prefix shifts which bytes each chunk
    * holds but re-synchronizes immediately: shared segments between
    * different documents produce IDENTICAL chunks, which fixed-size
    * blocking never achieves. The gate emits per-doc chunk
    * statistics plus an order-invariant sum of portable chunk
    * fingerprints, so the exact chunking (boundaries AND contents)
    * is hash-checked; the spec plants a shared segment behind
    * different prefixes and watches the same chunk fingerprint
    * surface in both docs.
    *
    * Scale: O(len) rolling-hash evaluations per document in one
    * projection — the same single pass a production chunker makes;
    * cross-doc chunk dedup is then exact-dedup machinery on the
    * fingerprint key (8 B/chunk shuffle). */
  def cdcChunks(s: SparkSession, dir: String): DataFrame = {
    // One compiled pass per doc (CdcChunkStats kernel): the HOF
    // formulation (transform/filter/zip_with over the code array,
    // with an `aggregate(slice)` roll PER POSITION) was interpreted —
    // CodegenFallback at every level — and stood as the suite's most
    // expensive gate (4.4 s isolated at sf0.1; the kernel reads the
    // same O(len·8) window rolls but compiled, and the oracle and
    // every value are unchanged).
    Tables.documents(s, dir)
      .filter(length(col("text")) >= 8)
      .select(col("doc_id"),
        graft.plans.TextExpressions.cdcChunkStats(col("text"))
          .as("st"))
      .select(col("doc_id"),
        col("st").getItem(0).as("n_chunks"),
        col("st").getItem(1).as("sum_len"),
        col("st").getItem(2).as("max_chunk"),
        col("st").getItem(3).as("fp_sum"))
      .orderBy(col("doc_id"))
  }

  val cdcChunksSql: String = {
    val roll8 =
      """list_reduce(list_prepend(CAST(0 AS BIGINT),
        |        codes[CAST(i AS INTEGER) - 7:CAST(i AS INTEGER)]),
        |        (acc, c) -> (acc * 31 + c) % 1000000007)""".stripMargin
    val chunkRoll =
      """list_reduce(list_prepend(CAST(0 AS BIGINT),
        |        codes[CAST(st AS INTEGER) + 1:CAST(en AS INTEGER)]),
        |        (acc, c) -> (acc * 31 + c) % 1000000007)""".stripMargin
    s"""WITH d AS (
      |  SELECT doc_id, CAST(length(text) AS BIGINT) AS len,
      |    list_transform(string_split(text, ''),
      |      c -> CAST(ascii(c) AS BIGINT)) AS codes
      |  FROM documents WHERE length(text) >= 8),
      |b AS (
      |  SELECT doc_id, codes, len,
      |    list_filter(list_transform(generate_series(8, len),
      |      i -> CASE WHEN $roll8 % 64 = 0 THEN i END),
      |      x -> x IS NOT NULL) AS bs
      |  FROM d),
      |idx AS (
      |  SELECT doc_id, codes, len, bs,
      |    unnest(generate_series(1, len(bs) + 1)) AS k
      |  FROM b),
      |chunks AS (
      |  SELECT doc_id, codes,
      |    CASE WHEN k = 1 THEN CAST(0 AS BIGINT)
      |      ELSE bs[CAST(k AS INTEGER) - 1] END AS st,
      |    CASE WHEN k = len(bs) + 1 THEN len
      |      ELSE bs[CAST(k AS INTEGER)] END AS en
      |  FROM idx)
      |SELECT doc_id, COUNT(*) AS n_chunks,
      |  CAST(SUM(en - st) AS BIGINT) AS sum_len,
      |  CAST(MAX(en - st) AS BIGINT) AS max_chunk,
      |  CAST(SUM($chunkRoll) AS BIGINT) AS fp_sum
      |FROM chunks WHERE en > st GROUP BY doc_id
      |ORDER BY doc_id""".stripMargin
  }

  /** Per-source duplicate-rate scoreboard — the one-line answer to
    * "which ingest feeds are polluting the corpus": exact-content
    * duplicate share per source (1 − distinct/total, ppm) plus the
    * redundant byte volume, the prioritization table read BEFORE
    * running the expensive near-dup passes. Distinct counting is on
    * the text fingerprint (the exact-dedup key discipline), so the
    * shuffle carries hashes, not payloads.
    *
    * Scale: one distinct-reduce on (source, fingerprint) + one
    * O(sources) rollup — the exact-dedup plan shape with a group
    * key. */
  def dupRateBySource(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
      .select(col("source"), col("n_chars"), md5(col("text")).as("fp"))
    val perFp = docs.groupBy(col("source"), col("fp"))
      .agg(count(lit(1)).as("copies"), sum(col("n_chars")).as("bytes"),
        min(col("n_chars")).as("one"))
    perFp.groupBy(col("source"))
      .agg(sum(col("copies")).as("n_docs"),
        count(lit(1)).as("n_distinct"),
        (sum(col("bytes")) - sum(col("one"))).as("redundant_chars"))
      .select(col("source"), col("n_docs"), col("n_distinct"),
        expr("((n_docs - n_distinct) * 1000000) div n_docs")
          .as("dup_rate_ppm"),
        col("redundant_chars"))
      .orderBy(col("source"))
  }

  val dupRateBySourceSql: String =
    """WITH per_fp AS (
      |  SELECT source, md5(text) AS fp, COUNT(*) AS copies,
      |    CAST(SUM(n_chars) AS BIGINT) AS bytes,
      |    CAST(MIN(n_chars) AS BIGINT) AS one
      |  FROM documents GROUP BY source, md5(text))
      |SELECT source, CAST(SUM(copies) AS BIGINT) AS n_docs,
      |  COUNT(*) AS n_distinct,
      |  ((CAST(SUM(copies) AS BIGINT) - COUNT(*)) * 1000000)
      |    // CAST(SUM(copies) AS BIGINT) AS dup_rate_ppm,
      |  CAST(SUM(bytes) - SUM(one) AS BIGINT) AS redundant_chars
      |FROM per_fp GROUP BY source
      |ORDER BY source""".stripMargin

  /** Streaming twin of [[dupRateBySource]]: the duplicate-rate
    * scoreboard maintained INCREMENTALLY as document batches arrive,
    * with the per-(source, fingerprint) state — copies, total chars,
    * min chars, the mergeable form — in a KEYED STORE: RocksDB-backed
    * `transformWithState` ([[graft.streaming.DupRateProcessor]]),
    * the round-8 verdict's task 1. Per micro-batch the engine reads
    * the batch, shuffles its (source, fp) partials to the statically
    * hash-partitioned state operator, and does RocksDB point
    * lookups/updates on the keys the batch touches — O(batch), never
    * a re-read of accumulated state; changelog checkpointing keeps
    * the checkpoint write proportional to touched keys too. Each
    * update emits the key's cumulative totals to a transactional
    * streaming parquet sink (sink commit log + versioned state =
    * exactly-once across retries, no hand-rolled rm/rename). Three
    * micro-batches replay the corpus split by doc_id mod 3 — the
    * third batch is the proof the per-batch cost doesn't grow with
    * state; the final scoreboard must equal the batch operator's —
    * the oracle IS [[dupRateBySourceSql]] verbatim.
    *
    * The reader folds emissions to terminal state per key by taking
    * the component-wise max struct — sound because each key's
    * emissions are cumulative (copies strictly grows, so the max
    * struct IS the last emission), the same convention the
    * `stream_running*` gates use. State size: the dedup universe
    * (distinct keys), on local SSD, not heap, not the stream. */
  /** The keyed-state update transform behind [[streamDupRate]],
    * exposed for the plan contract: (source, fp, n_chars) rows →
    * cumulative per-key totals via [[graft.streaming.DupRateProcessor]].
    * Works over a streaming OR batch frame (batch = one micro-batch
    * with empty initial state — Spark 4 executes transformWithState
    * in batch with a transient store), which is what lets the spec
    * pin the TransformWithState-no-join shape. */
  private[graft] def dupRateStateUpdates(docs: DataFrame)
      : org.apache.spark.sql.Dataset[graft.streaming.SourceFpTotals] = {
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
    import docs.sparkSession.implicits._
    org.apache.spark.sql.GraftSqlBridge
      .ensureStateStoreCoordinator(docs.sparkSession)
    docs
      .select(col("source"), md5(col("text")).as("fp"), col("n_chars"))
      .as[(String, String, Long)]
      .groupByKey(r => (r._1, r._2))
      .transformWithState(new graft.streaming.DupRateProcessor,
        TimeMode.None(), OutputMode.Append())
  }

  /** The banding projection + keyed-state pair miner behind
    * [[streamMinhashLsh]], exposed for the plan contract and the
    * batch≡stream identity: in batch mode every doc arrives in one
    * "micro-batch", so the miner's within-batch pairing alone must
    * reproduce the full [[minhashLshPairs]] set (after the reader's
    * bucket-multiplicity distinct). */
  private[graft] def minhashStateMiner(corpus: DataFrame,
      ttl: Option[java.time.Duration] = None)
      : org.apache.spark.sql.Dataset[graft.streaming.NearDupPair] = {
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
    import graft.functions.TextFunctions
    import corpus.sparkSession.implicits._
    org.apache.spark.sql.GraftSqlBridge
      .ensureStateStoreCoordinator(corpus.sparkSession)
    // State TTL is clocked by processing time, so the bounded-horizon
    // variant must run the operator in ProcessingTime mode; the
    // unbounded miner keeps TimeMode.None (no timers, no clock).
    val timeMode =
      if (ttl.isDefined) TimeMode.ProcessingTime() else TimeMode.None()
    corpus
      .select(col("doc_id"),
        shingleHashes(lower(col("text")), 3).as("hashes"))
      .filter(size(col("hashes")) > 0)
      .select(col("doc_id"), col("hashes"),
        posexplode(TextFunctions.minhashBands(
          TextFunctions.minhashSignatureOfHashes(col("hashes")),
          8, 4)))
      .select(col("col.band").as("band"), col("col.bucket").as("bucket"),
        col("doc_id"), col("hashes"))
      .as[(Int, Long, Long, Array[Long])]
      .groupByKey(r => (r._1, r._2))
      .transformWithState(
        new graft.streaming.LshBucketProcessor(0.6, ttl),
        timeMode, OutputMode.Append())
  }

  def streamDupRate(s: SparkSession, dir: String): DataFrame = {
    val outDir = Scaffold.scratch(dir, "dupstream/updates")
    val docs = Tables.documents(s, dir)
    Scaffold.setup(Scaffold.rm(s, outDir))
    val batches = (0 to 2).map(m =>
      docs.filter(col("doc_id") % 3 === m).coalesce(2))
    EventStreams.withRocksDb(s, EventStreams.GateStatePartitions) {
      EventStreams.replay("dupstream_" + Scaffold.tag(dir),
          Scaffold.scratch(dir, "dupstream/src"), batches) { (stream, ck) =>
        EventStreams.toParquet(
          dupRateStateUpdates(stream).toDF(), outDir, ck)
      }
    }
    s.read.parquet(outDir)
      .groupBy(col("source"), col("fp"))
      .agg(max(struct(col("copies"), col("bytes"), col("one"))).as("m"))
      .select(col("source"), col("m.copies").as("copies"),
        col("m.bytes").as("bytes"), col("m.one").as("one"))
      .groupBy(col("source"))
      .agg(sum(col("copies")).as("n_docs"),
        count(lit(1)).as("n_distinct"),
        (sum(col("bytes")) - sum(col("one"))).as("redundant_chars"))
      .select(col("source"), col("n_docs"), col("n_distinct"),
        expr("((n_docs - n_distinct) * 1000000) div n_docs")
          .as("dup_rate_ppm"),
        col("redundant_chars"))
      .orderBy(col("source"))
  }

  /** Streaming twin of [[minhashLsh]]: near-duplicate PAIR MINING as
    * batches arrive, with the accumulated corpus in a KEYED STORE —
    * RocksDB-backed `transformWithState` keyed by (band, bucket)
    * ([[graft.streaming.LshBucketProcessor]]), the round-8 verdict's
    * task 1 (the foreachBatch version re-read the ENTIRE band+shingle
    * parquet state every micro-batch — O(batches × state)). Per batch
    * the engine shingles/bands the NEW docs only, shuffles their
    * (band, bucket, doc_id, hashes) rows to the state operator, and
    * each touched bucket pairs the arrivals against its RocksDB list
    * state with INLINE exact-Jaccard verify (the carry-vectors
    * discipline from `sim_dbscan_lsh` — no second join against a
    * shingle store, so nothing accumulated is ever re-read; the 8×
    * per-band hash-set storage is the stated price). Changelog
    * checkpointing keeps checkpoint writes ∝ touched buckets.
    *
    * A pair is discovered in exactly ONE micro-batch (the one its
    * later member arrives in — docs never re-arrive); within that
    * batch it may surface in up to 8 buckets, and the reader's
    * `distinct()` collapses that bounded multiplicity. Emissions go
    * to a transactional streaming parquet sink (sink commit log +
    * versioned state = exactly-once across retries). Three
    * micro-batches replay the corpus split by doc_id mod 3 — the
    * third proves per-batch cost is flat in accumulated state; the
    * final pair set must equal [[minhashLsh]]'s — the oracle IS the
    * batch gate's SQL verbatim. */
  def streamMinhashLsh(s: SparkSession, dir: String): DataFrame = {
    val pairsDir = Scaffold.scratch(dir, "mhstream/pairs")
    val corpus = DocCorpus.withDuplicates(s, dir)
      .select(col("doc_id"), col("text"))
    Scaffold.setup(Scaffold.rm(s, pairsDir))
    val batches = (0 to 2).map(m =>
      corpus.filter(col("doc_id") % 3 === m).coalesce(2))
    EventStreams.withRocksDb(s, EventStreams.GateStatePartitions) {
      EventStreams.replay("mhstream_" + Scaffold.tag(dir),
          Scaffold.scratch(dir, "mhstream/src"), batches) { (stream, ck) =>
        EventStreams.toParquet(
          minhashStateMiner(stream).toDF(), pairsDir, ck)
      }
    }
    s.read.parquet(pairsDir)
      .select(col("id_a"), col("id_b"), col("jaccard"))
      .distinct()
      .orderBy(col("id_a"), col("id_b"))
  }

  /** Streaming LSH pair miner under a FINITE state horizon — the
    * bounded-state deployment mode [[graft.streaming.LshBucketProcessor]]'s
    * retention contract documents, exercised live (round-10 verdict
    * task 3 — until now it was contract-only). Bucket members carry a
    * per-element processing-time TTL; the corpus replays in TWO
    * horizons separated by a wall-clock gap longer than the TTL
    * (horizon = `(doc_id div 10000) % 2`, i.e. originals + truncated
    * twins first, the whitespace/case twins after the gap — chosen
    * because the planted pair families then straddle BOTH sides: the
    * (id, id+20000) pairs are same-horizon and must still surface,
    * while every (id, id+10000) and (id+10000, id+20000) pair is
    * cross-horizon and must be LOST to expiry). The oracle prices the
    * recall cut exactly: the TTL-free miner's full ≥0.6 pair set
    * restricted to same-horizon pairs — so the gate proves expiry
    * (cross-horizon pairs gone ⇒ the earlier horizon's bucket rows
    * were dead at probe time) and the trade's cost in one artifact.
    *
    * Scale: identical per-batch shape to [[streamMinhashLsh]]; TTL
    * additionally lets RocksDB retire dead bucket members during
    * compaction, so state is O(docs in the trailing horizon), not
    * O(corpus) — the knob that makes the miner deployable where the
    * corpus outgrows fleet SSD. */
  def streamMinhashLshTtl(s: SparkSession, dir: String): DataFrame = {
    // TTL 3 s / gap 5 s (round-11 ADVICE margin widening): expiry
    // still guaranteed (gap > ttl by 2 s and the TTL filter runs at
    // read time), while same-horizon survival gets a 3 s ingest+probe
    // budget — and the drain loop below ASSERTS that each horizon's
    // data batches landed inside it, so a GC-pause split fails loudly
    // instead of producing a silently-wrong pair set.
    val ttl = java.time.Duration.ofMillis(3000L)
    val gapMillis = 5000L // > ttl: the earlier horizon is provably dead
    val srcDir = Scaffold.scratch(dir, "mhttl/src")
    val pairsDir = Scaffold.scratch(dir, "mhttl/pairs")
    val ck = EventStreams.gateCheckpoint("mhttl_" + Scaffold.tag(dir))
    val corpus = DocCorpus.withDuplicates(s, dir)
      .select(col("doc_id"), col("text"))
    val horizon = expr("(doc_id div 10000) % 2")
    Scaffold.setup {
      Scaffold.rm(s, srcDir, pairsDir, ck)
      corpus.filter(horizon === 0).coalesce(2).write
        .mode("overwrite").parquet(srcDir)
    }
    // One query RUN per horizon, SHARING the checkpoint — the
    // scheduled-ingest deployment shape (state and TTL timestamps
    // persist in RocksDB across restarts). A ProcessingTime-mode
    // stateful operator requests no-data batches back-to-back to
    // advance its TTL clock, so neither processAllAvailable nor
    // Trigger.AvailableNow ever settles (both measured live: >900
    // batches and climbing); drain-detection is explicit instead —
    // poll cumulative source rows until this run has ingested its
    // horizon AND a trailing empty batch proves the sink committed,
    // then stop the run.
    def runHorizon(minRows: Long): Unit =
      EventStreams.withRocksDb(s, EventStreams.GateStatePartitions) {
        val q = EventStreams.toParquet(minhashStateMiner(
          s.readStream.schema(corpus.schema).parquet(srcDir), Some(ttl))
          .toDF(), pairsDir, ck)
        try {
          val seen = scala.collection.mutable.Map.empty[Long, Long]
          // wall-clock ceiling (round-11 ADVICE): a dead query stops
          // producing progress, so without it the poll loop would
          // hang forever instead of erroring
          val deadline = System.nanoTime() + 120L * 1000000000L
          var firstData = Long.MaxValue
          var lastData = Long.MinValue
          var done = false
          while (!done) {
            Thread.sleep(100L)
            q.exception.foreach(e => throw e)
            require(q.isActive,
              s"TTL gate: query terminated before draining $minRows rows")
            require(System.nanoTime() < deadline,
              "TTL gate: drain exceeded 120 s wall clock")
            // recentProgress retains ~100 entries and empty RocksDB
            // batches run >= tens of ms, so a 100 ms poll cannot lose
            // the data batches off the window's leading edge.
            q.recentProgress.foreach { p =>
              if (p.numInputRows > 0 && !seen.contains(p.batchId)) {
                val t = java.time.Instant.parse(p.timestamp).toEpochMilli
                firstData = math.min(firstData, t)
                lastData = math.max(lastData, t)
              }
              seen(p.batchId) = p.numInputRows
            }
            val lp = q.lastProgress
            done = seen.values.sum >= minRows &&
              lp != null && lp.numInputRows == 0L
          }
          // Enforce the gate's timing premise rather than leaving it
          // implicit: every data batch of this horizon must start
          // within the TTL window of the first, else same-horizon
          // bucket members could expire mid-ingest and the result
          // would be silently partition-of-arrival-dependent.
          require(firstData > lastData /* zero data batches */ ||
            lastData - firstData < ttl.toMillis,
            s"TTL gate: horizon ingested across ${lastData - firstData} ms " +
              s"> ttl ${ttl.toMillis} ms — single-window premise violated")
        } finally q.stop()
      }
    try {
      runHorizon(Scaffold.setup {
        corpus.filter(horizon === 0).count()
      })
      // The two-horizon gap: wall-clock, because state TTL is
      // processing-time by definition. Expiry is guaranteed, not
      // racy — gap > ttl and the TTL filter runs at read time.
      // Scaffold-attributed: the gap simulates calendar time between
      // scheduled ingests, it is not operator cost.
      val n1 = Scaffold.setup {
        Thread.sleep(gapMillis)
        // one file: the horizon becomes visible in one step
        corpus.filter(horizon === 1).coalesce(1).write
          .mode("append").parquet(srcDir)
        corpus.filter(horizon === 1).count()
      }
      runHorizon(n1)
    } finally {
      EventStreams.dropCheckpoint(ck)
    }
    s.read.parquet(pairsDir)
      .select(col("id_a"), col("id_b"), col("jaccard"))
      .distinct()
      .orderBy(col("id_a"), col("id_b"))
  }

  /** [[minhashLshSql]] restricted to same-horizon pairs — the exact
    * price of the TTL: every cross-horizon duplicate is forgotten. */
  val streamMinhashLshTtlSql: String =
    s"""WITH ${DocCorpus.CorpusSql},
       |${shingleSetsSql("corpus")},
       |${jaccardPairsSql(0.6)}
       |SELECT id_a, id_b, jaccard FROM pairs
       |WHERE (id_a // 10000) % 2 = (id_b // 10000) % 2
       |ORDER BY id_a, id_b""".stripMargin

  /** Survivorship report — the per-document "why was I dropped"
    * verdict a curation pipeline's debugging pass reads: for every
    * doc, which dedup stage claims it (`exact` — an earlier doc with
    * identical normalized text; else `near` — an earlier doc at
    * shingle-Jaccard ≥ 0.6; else `kept`) and WHICH earlier doc is the
    * keeper (first-stage-wins, min-id partner; −1 for kept). Composes
    * the two gated stages verbatim: the exact stage is
    * [[exactSurvivors]]' fingerprint groups (same hash-not-payload
    * shuffle, same collision stance), the near stage is
    * [[minhashLshPairs]] (LSH candidates + exact-Jaccard verify).
    *
    * Scale: one fp self-join (the exact-dedup shuffle), the LSH pair
    * pipeline, then two hash left-joins of id-only partner frames —
    * shuffle_hash-hinted since partner frames are dup-count-sized
    * (not broadcastable by premise at 100 TB). */
  def survivorship(s: SparkSession, dir: String): DataFrame = {
    val corpus = DocCorpus.withDuplicates(s, dir)
    // Deliberately NOT checkpointed (round-13 measured finding): fp
    // feeds both sides of the self-join, but the duplicate fingerprint
    // work runs fully PARALLEL inside one job on otherwise-idle cores,
    // while an eager checkpoint serializes it ahead of the LSH branch
    // (measured +0.8 s at sf0.1). Recompute beats materialize here.
    val fp = corpus.select(col("doc_id"), fingerprint(col("text")).as("fp"))
    val exactPartner = fp
      .join(fp.toDF("e_id", "fp"), "fp")
      .filter(col("e_id") < col("doc_id"))
      .groupBy(col("doc_id")).agg(min(col("e_id")).as("ex_partner"))
    val nearPartner = minhashLshPairs(corpus)
      .groupBy(col("id_b").as("doc_id"))
      .agg(min(col("id_a")).as("nr_partner"))
    corpus.select(col("doc_id"))
      .hint("shuffle_hash")
      .join(exactPartner, Seq("doc_id"), "left")
      .hint("shuffle_hash")
      .join(nearPartner, Seq("doc_id"), "left")
      .select(col("doc_id"),
        when(col("ex_partner").isNotNull, lit("exact"))
          .when(col("nr_partner").isNotNull, lit("near"))
          .otherwise(lit("kept")).as("verdict"),
        coalesce(col("ex_partner"), col("nr_partner"), lit(-1L))
          .as("partner"))
      .orderBy(col("doc_id"))
  }

  val survivorshipSql: String =
    s"""WITH ${DocCorpus.CorpusSql},
       |normed AS (
       |  SELECT doc_id, ${DocCorpus.NormalizeSql} AS norm FROM corpus),
       |ex AS (
       |  SELECT n.doc_id, MIN(e.doc_id) AS partner
       |  FROM normed n JOIN normed e
       |    ON e.norm = n.norm AND e.doc_id < n.doc_id
       |  GROUP BY n.doc_id),
       |${shingleSetsSql("corpus")},
       |${jaccardPairsSql(0.6)},
       |nr AS (
       |  SELECT id_b AS doc_id, MIN(id_a) AS partner
       |  FROM pairs GROUP BY id_b)
       |SELECT c.doc_id,
       |  CASE WHEN ex.doc_id IS NOT NULL THEN 'exact'
       |       WHEN nr.doc_id IS NOT NULL THEN 'near'
       |       ELSE 'kept' END AS verdict,
       |  CAST(COALESCE(ex.partner, nr.partner, -1) AS BIGINT) AS partner
       |FROM corpus c
       |LEFT JOIN ex ON ex.doc_id = c.doc_id
       |LEFT JOIN nr ON nr.doc_id = c.doc_id
       |ORDER BY c.doc_id""".stripMargin

  /** Source-mixture drift under exact dedup — the curation readout
    * that tells you WHOSE tokens dedup is removing: per source, the
    * corpus share (ppm of docs) before and after global exact dedup
    * (md5 fingerprint, keep the min doc_id — so a doc duplicated
    * across sources credits the earliest source), and the signed
    * drift. A pipeline rebalancing its mixture AFTER dedup reads this
    * table, not the raw scoreboard: duplicate-heavy feeds shrink and
    * every other source's share mechanically rises.
    *
    * Integer discipline: shares are `(n · 1e6) div total` on
    * non-negative counts; the drift is a plain BIGINT difference of
    * two ppm values (never a signed division — the Spark-truncate vs
    * DuckDB-floor trap).
    *
    * Scale: one fingerprint distinct-reduce (the exact-dedup shuffle,
    * hashes not payloads) + two O(sources) aggregates. */
  def mixtureDrift(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
      .select(col("doc_id"), col("source"), md5(col("text")).as("fp"))
    val before = docs.groupBy(col("source"))
      .agg(count(lit(1)).as("n_before"))
    val surv = docs
      .groupBy(col("fp")).agg(min(col("doc_id")).as("doc_id"))
      .join(docs.select(col("doc_id"), col("source")), "doc_id")
      .groupBy(col("source")).agg(count(lit(1)).as("n_after"))
    val totB = docs.agg(count(lit(1)).as("tb"))
    val totA = docs.select(col("fp")).distinct()
      .agg(count(lit(1)).as("ta"))
    // both sides are O(sources) aggregates — broadcast, never sort
    before.join(broadcast(surv), Seq("source"), "left")
      .na.fill(0L, Seq("n_after"))
      .crossJoin(broadcast(totB)).crossJoin(broadcast(totA))
      .select(col("source"), col("n_before"), col("n_after"),
        expr("(n_before * 1000000) div tb").as("share_before_ppm"),
        expr("(n_after * 1000000) div ta").as("share_after_ppm"))
      .withColumn("drift_ppm",
        col("share_after_ppm") - col("share_before_ppm"))
      .orderBy(col("source"))
  }

  val mixtureDriftSql: String =
    """WITH docs AS (
      |  SELECT doc_id, source, md5(text) AS fp FROM documents),
      |surv AS (
      |  SELECT d.source
      |  FROM (SELECT fp, MIN(doc_id) AS doc_id FROM docs GROUP BY fp) k
      |  JOIN docs d ON d.doc_id = k.doc_id),
      |b AS (SELECT source, COUNT(*) AS n_before FROM docs GROUP BY source),
      |a AS (SELECT source, COUNT(*) AS n_after FROM surv GROUP BY source),
      |tb AS (SELECT COUNT(*) AS tb FROM docs),
      |ta AS (SELECT COUNT(DISTINCT fp) AS ta FROM docs)
      |SELECT b.source, b.n_before,
      |  CAST(COALESCE(a.n_after, 0) AS BIGINT) AS n_after,
      |  (b.n_before * 1000000) // tb.tb AS share_before_ppm,
      |  (CAST(COALESCE(a.n_after, 0) AS BIGINT) * 1000000) // ta.ta
      |    AS share_after_ppm,
      |  (CAST(COALESCE(a.n_after, 0) AS BIGINT) * 1000000) // ta.ta
      |    - (b.n_before * 1000000) // tb.tb AS drift_ppm
      |FROM b LEFT JOIN a USING (source), tb, ta
      |ORDER BY b.source""".stripMargin

  /** Memorization-risk histogram (Kandpal et al. 2022 "Deduplicating
    * Training Data Mitigates Privacy Risks"; Carlini et al. 2023
    * "Quantifying Memorization": a sequence's extraction probability
    * scales with its corpus DUPLICATE COUNT — the curation signal is
    * not "is this doc a duplicate" but "how many times does its
    * most-repeated span occur corpus-wide"). Per document: the
    * corpus-wide occurrence count of its most-duplicated word 8-gram;
    * the gate emits the corpus histogram over power-of-2 risk tiers
    * (freq_ceil = the smallest of 1/2/4/8/16/∞→32 covering that max),
    * with doc and char mass per tier — the table a dedup budget is
    * set from.
    *
    * Scale: one explode to 8-gram occurrences (O(corpus tokens)),
    * one map-combinable count by gram, one equi-join back on gram
    * that REUSES the count's hash partitioning, one map-combinable
    * per-doc max, O(docs) histogram. No distinct, no windows, no
    * driver data. Docs shorter than 8 words carry no 8-gram and sit
    * outside the risk model by construction (excluded, as in the
    * published measurements). */
  def memorizationRisk(s: SparkSession, dir: String): DataFrame = {
    val grams = Tables.documents(s, dir)
      .select(col("doc_id"), col("n_chars"),
        explode(graft.plans.TextExpressions.tokenNGrams(
          split(col("text"), " "), 8, emitWholeShortDoc = false))
          .as("gram"))
    val freq = grams.groupBy(col("gram")).agg(count(lit(1)).as("f"))
    val perDoc = grams.join(freq, "gram")
      .groupBy(col("doc_id"))
      .agg(max(col("f")).as("mf"), min(col("n_chars")).as("nc"))
    perDoc
      .withColumn("freq_ceil", expr(
        "CAST(CASE WHEN mf <= 1 THEN 1 WHEN mf <= 2 THEN 2" +
          " WHEN mf <= 4 THEN 4 WHEN mf <= 8 THEN 8" +
          " WHEN mf <= 16 THEN 16 ELSE 32 END AS BIGINT)"))
      .groupBy(col("freq_ceil"))
      .agg(count(lit(1)).as("n_docs"), sum(col("nc")).as("n_chars"))
      .orderBy(col("freq_ceil"))
  }

  val memorizationRiskSql: String =
    """WITH tok AS (
      |  SELECT doc_id, n_chars, string_split(text, ' ') AS t
      |  FROM documents),
      |pos AS (SELECT doc_id, n_chars, t,
      |          unnest(range(1, greatest(len(t) - 6, 1))) AS i FROM tok),
      |grams AS (SELECT doc_id, n_chars,
      |            array_to_string(t[i:i+7], ' ') AS gram FROM pos),
      |freq AS (SELECT gram, COUNT(*) AS f FROM grams GROUP BY gram),
      |perdoc AS (
      |  SELECT g.doc_id, MAX(f.f) AS mf, MIN(g.n_chars) AS nc
      |  FROM grams g JOIN freq f USING (gram)
      |  GROUP BY g.doc_id)
      |SELECT CAST(CASE WHEN mf <= 1 THEN 1 WHEN mf <= 2 THEN 2
      |    WHEN mf <= 4 THEN 4 WHEN mf <= 8 THEN 8
      |    WHEN mf <= 16 THEN 16 ELSE 32 END AS BIGINT) AS freq_ceil,
      |  CAST(COUNT(*) AS BIGINT) AS n_docs,
      |  CAST(SUM(nc) AS BIGINT) AS n_chars
      |FROM perdoc
      |GROUP BY 1 ORDER BY freq_ceil""".stripMargin

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "dedup_survivorship" -> (survivorship _),
    "dedup_memorization_risk" -> (memorizationRisk _),
    "stream_minhash_lsh" -> (streamMinhashLsh _),
    "stream_dedup_ttl" -> (streamMinhashLshTtl _),
    "stream_dedup_rate" -> (streamDupRate _),
    "dedup_rate_by_source" -> (dupRateBySource _),
    "dedup_mixture_drift" -> (mixtureDrift _),
    "dedup_cdc_chunks" ->
      ((s: SparkSession, d: String) => cdcChunks(s, d)),
    "dedup_suffix_prefix" ->
      ((s: SparkSession, d: String) => suffixPrefixPairs(s, d)),
    "dedup_minhash_estimate" ->
      ((s: SparkSession, d: String) => minhashEstimate(s, d)),
    "dedup_prefix_truncation" -> (prefixTruncation _),
    "dedup_url_canonical" -> (urlCanonical _),
    "dedup_hamming_banded" -> (hammingBanded _),
    "dedup_lsh_scurve"    -> (lshScurve _),
    "dedup_span_coverage" -> ((s: SparkSession, d: String) => spanCoverage(s, d)),
    "dedup_span_union" -> ((s: SparkSession, d: String) => spanUnion(s, d)),
    "dedup_exact_substring" ->
      ((s: SparkSession, d: String) => exactSubstring(s, d)),
    "dedup_exact_substring_xdoc" ->
      ((s: SparkSession, d: String) => exactSubstringCrossDoc(s, d)),
    "stream_exact_substring" -> (streamExactSubstring _),
    "dedup_novelty_curve" -> ((s: SparkSession, d: String) => noveltyCurve(s, d)),
    "dedup_paragraph"     -> ((s: SparkSession, d: String) => paragraphDedup(s, d)),
    "dedup_unicode"       -> (unicodeDedup _),
    "dedup_latest"        -> (latest _),
    "dedup_exact"         -> (exact _),
    "dedup_ngram_jaccard" -> (ngramJaccard _),
    "dedup_jaccard_prefix" -> (jaccardPrefix _),
    "dedup_minhash_lsh"   -> (minhashLsh _),
    "dedup_simhash"       -> (simhash _),
    "dedup_fuzzy"         -> (fuzzy _),
    "dedup_fuzzy_lsh"     -> (fuzzyLsh _),
    "dedup_containment_fp" -> (containmentFp _),
    "dedup_components"    -> (components _),
    "dedup_cluster_sizes" -> (clusterSizes _),
    "dedup_components_deep" -> (componentsDeep _),
    "dedup_keep_best"     -> (keepBest _),
    "dedup_containment"   -> (containment _),
    "dedup_incremental"   -> (incremental _))

  def oracle: Map[String, String] = Map(
    "dedup_rate_by_source" -> dupRateBySourceSql,
    "dedup_mixture_drift" -> mixtureDriftSql,
    // the incremental twin must converge to the batch scoreboard
    "stream_dedup_rate" -> dupRateBySourceSql,
    // the incremental pair miner must converge to the batch pair set
    "stream_minhash_lsh" -> minhashLshSql,
    "stream_dedup_ttl" -> streamMinhashLshTtlSql,
    "dedup_survivorship" -> survivorshipSql,
    "dedup_cdc_chunks" -> cdcChunksSql,
    "dedup_suffix_prefix" -> suffixPrefixSql(),
    "dedup_memorization_risk" -> memorizationRiskSql,
    "dedup_minhash_estimate" -> minhashEstimateSql(),
    "dedup_prefix_truncation" -> prefixTruncationSql,
    "dedup_url_canonical" -> urlCanonicalSql,
    "dedup_hamming_banded" -> hammingBandedSql,
    "dedup_lsh_scurve"    -> lshScurveSql,
    "dedup_span_coverage" -> spanCoverageSql,
    "dedup_span_union" -> spanUnionSql,
    "dedup_exact_substring" -> exactSubstringSql,
    "dedup_exact_substring_xdoc" -> exactSubstringCrossDocSql,
    // the streaming twin must converge to the batch verdicts
    "stream_exact_substring" -> exactSubstringSql,
    "dedup_novelty_curve" -> noveltyCurveSql,
    "dedup_latest"        -> latestSql,
    "dedup_paragraph"     -> paragraphDedupSql,
    "dedup_unicode"       -> unicodeDedupSql,
    "dedup_exact"         -> exactSql,
    "dedup_ngram_jaccard" -> ngramJaccardSql,
    "dedup_jaccard_prefix" -> jaccardPrefixSql,
    "dedup_minhash_lsh"   -> minhashLshSql,
    "dedup_simhash"       -> simhashSql,
    "dedup_fuzzy"         -> fuzzySql,
    "dedup_fuzzy_lsh"     -> fuzzySql,
    "dedup_containment_fp" -> containmentSql,
    "dedup_components"    -> componentsSql,
    "dedup_cluster_sizes" -> clusterSizesSql,
    "dedup_keep_best"     -> keepBestSql,
    "dedup_containment"   -> containmentSql,
    "dedup_components_deep" -> componentsDeepSql,
    "dedup_incremental"   -> incrementalSql)
}
