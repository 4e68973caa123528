package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Text-analysis column builders for the documents pipeline
  * (SURVEY.md §2.9 extensions): tokenization, counting, quality
  * scoring, language ID, fingerprints, shingles.
  *
  * Everything here composes Spark built-ins (`split`, `filter`,
  * `transform`, `aggregate`, `xxhash64`, `regexp_*`) — no Scala UDFs —
  * so every expression stays inside whole-stage codegen and the
  * column pruner sees exactly which inputs are read. At 100 TB that
  * means the scan reads only `text`, and the per-row work is a tight
  * generated loop, not a serialization boundary.
  */
object TextFunctions {

  /** Whitespace tokenization of trimmed text; empty text → empty
    * array (split of "" yields [""], which we filter out). */
  def tokens(text: Column): Column =
    filter(split(trim(text), "\\s+"), t => length(t) > 0)

  def tokenCount(text: Column): Column =
    size(tokens(text)).cast(LongType)

  /** GPT-2-style pre-tokenizer count: matches of the byte-pair
    * pre-tokenization regex (contraction suffixes, letter runs, digit
    * runs, punctuation runs, whitespace runs — the lookahead-free
    * subset, so Java regex and RE2 agree match-for-match). The count a
    * token-budget estimator uses when "tokens" must mean BPE
    * pre-tokens rather than whitespace words.
    *
    * Whitespace is the EXPLICIT class `[ \t\n\f\r]`, never `\s`:
    * Java's `\s` includes U+000B (vertical tab) while RE2's does not,
    * so the shorthand silently breaks match-for-match parity on any
    * document containing a VT (which here falls to the punctuation
    * branch — identically in both engines). */
  val PretokenPattern: String =
    """'[a-z]+| ?[\p{L}]+| ?[\p{N}]+| ?[^ \t\n\f\r\p{L}\p{N}]+|[ \t\n\f\r]+"""

  def pretokenCount(text: Column): Column =
    size(regexp_extract_all(text, lit(PretokenPattern), lit(0)))
      .cast(LongType)

  /** BPE-ish subword count: word-boundary pieces plus length-driven
    * extra tokens for long words (a cheap, deterministic stand-in for
    * a real tokenizer's token count: ~1 token per 4 chars of word). */
  def subwordCount(text: Column): Column =
    aggregate(
      transform(tokens(text), t => greatest(lit(1L),
        ceil(length(t).cast(DoubleType) / 4.0).cast(LongType))),
      lit(0L), (acc, x) => acc + x)

  def charCount(text: Column): Column = length(text).cast(LongType)

  /** Ratio of punctuation characters to all characters (0 for empty). */
  def punctRatio(text: Column): Column = {
    val punct = length(regexp_replace(text, "[^.,!?;:'\"()\\[\\]-]", ""))
    when(length(text) === 0, 0.0)
      .otherwise(punct.cast(DoubleType) / length(text).cast(DoubleType))
  }

  /** Uppercase-letter ratio. */
  def upperRatio(text: Column): Column = {
    val up = length(regexp_replace(text, "[^A-Z]", ""))
    when(length(text) === 0, 0.0)
      .otherwise(up.cast(DoubleType) / length(text).cast(DoubleType))
  }

  /** Compact English stopword list (public, standard). */
  val EnStopwords: Seq[String] = Seq(
    "the", "a", "an", "and", "or", "of", "to", "in", "is", "are", "was",
    "for", "on", "with", "as", "at", "by", "it", "this", "that", "be")

  /** Fraction of tokens that are stopwords (quality signal). */
  def stopwordRatio(text: Column, stopwords: Seq[String] = EnStopwords)
      : Column = {
    val toks = tokens(lower(text))
    val hits = graft.plans.TextExpressions.countInSet(toks, stopwords)
    when(size(toks) === 0, 0.0)
      .otherwise(hits.cast(DoubleType) / size(toks).cast(DoubleType))
  }

  /** Mean token length (0 for empty). */
  def meanTokenLen(text: Column): Column = {
    val toks = tokens(text)
    when(size(toks) === 0, 0.0)
      .otherwise(
        aggregate(transform(toks, t => length(t).cast(LongType)),
          lit(0L), (a, x) => a + x).cast(DoubleType)
          / size(toks).cast(DoubleType))
  }

  /** Composite quality score in [0,1]: rewards mid-length docs, a
    * healthy stopword ratio and moderate punctuation — the standard
    * cheap pre-filter shape for training-data curation. Deterministic
    * arithmetic only (no exp/log, which differ across libm builds). */
  def qualityScore(text: Column): Column = {
    val lenScore = least(charCount(text).cast(DoubleType) / 200.0, lit(1.0))
    val stopScore = least(stopwordRatio(text) * 4.0, lit(1.0))
    val punctPenalty = least(punctRatio(text) * 5.0, lit(1.0))
    (lenScore * 0.4 + stopScore * 0.4 + (lit(1.0) - punctPenalty) * 0.2)
  }

  /** Stopword tables for the n-gram/stopword language-ID heuristic. */
  val LangMarkers: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "and", "of", "to", "in", "is", "that", "it"),
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht", "ein", "zu"),
    "fr" -> Seq("le", "la", "les", "et", "est", "un", "une", "dans"),
    "es" -> Seq("el", "la", "los", "y", "es", "un", "una", "que"))

  /** Marker-hit count for one language (codegen'd set-membership
    * kernel; the `filter`+`isin` formulation interprets a k-wide
    * comparison chain per token). */
  def langHits(text: Column, lang: String): Column =
    graft.plans.TextExpressions.countInSet(
      tokens(lower(text)), LangMarkers(lang))

  /** Heuristic language ID: argmax of marker hits, ties broken by
    * language code order, "und" (undetermined) when nothing hits. */
  def langId(text: Column): Column = {
    val langs = LangMarkers.keys.toSeq.sorted
    val best = langs.foldLeft((lit("und"), lit(0))) {
      case ((bestLang, bestHits), l) =>
        val h = langHits(text, l)
        (when(h > bestHits, lit(l)).otherwise(bestLang),
         when(h > bestHits, h).otherwise(bestHits))
    }
    best._1
  }

  /** Deterministic 64-bit document fingerprint of normalized text.
    * xxhash64 is Spark-native, seeded, and stable across the cluster —
    * the exact-dedup key for content-addressed grouping at scale. */
  def fingerprint(text: Column): Column =
    xxhash64(regexp_replace(lower(trim(text)), "\\s+", " "))

  /** Word n-gram shingles (for Jaccard / MinHash). A doc shorter than
    * n tokens yields its whole token sequence as one shingle. Built on
    * the codegen'd [[graft.plans.TokenNGrams]] kernel (the HOF
    * formulation interprets three nested lambdas per gram); gram
    * strings are bit-identical, so minhash signatures and every
    * downstream LSH bucket are unchanged. */
  def shingles(text: Column, n: Int = 3): Column =
    graft.plans.TextExpressions.tokenNGrams(
      tokens(lower(text)), n, emitWholeShortDoc = true)

  /** Distinct shingle hashes (the MinHash input set). */
  def shingleHashes(text: Column, n: Int = 3): Column =
    array_distinct(graft.plans.TextExpressions.xxhashArray(shingles(text, n)))

  /** MinHash signature: k independent permutations approximated by
    * re-hashing the shingle hash with k seeds (xxhash64(seed ⊕ h)).
    * Returns array<long> of length k. Universal-hash re-mixing is the
    * standard O(n·k) one-pass formulation — no global sort, no
    * shuffle; each row computes its signature independently. */
  def minhashSignature(text: Column, k: Int = 32, n: Int = 3): Column =
    minhashSignatureOfHashes(shingleHashes(text, n), k)

  /** Signature from PRECOMPUTED shingle hashes — for callers that
    * also need the hash array itself (e.g. an empty-shingle-set
    * guard) and must not compute the shingling twice. Built on the
    * codegen'd [[graft.plans.MinhashSignature]] kernel (the HOF
    * formulation is k interpreted `transform` arms re-walking the
    * hash array — measured as the dominant projection cost of every
    * minhash gate); signatures are bit-identical, so every band
    * bucket and recorded LSH study is unchanged (pinned by spec). */
  def minhashSignatureOfHashes(hashes: Column, k: Int = 32): Column =
    graft.plans.TextExpressions.minhashSignature(hashes, k)

  /** The interpreted-HOF signature formulation [[MinhashSignature]]
    * replaced — kept as the bit-identity witness the kernel's spec
    * compares against. */
  private[graft] def minhashSignatureOfHashesHof(hashes: Column,
      k: Int = 32): Column =
    array((0 until k).map { seed =>
      array_min(transform(hashes, h => xxhash64(h, lit(seed))))
    }: _*)

  /** LSH band keys: the signature split into `bands` groups of
    * `rowsPerBand`, each band hashed to one bucket key. Two docs that
    * agree on any band land in the same bucket → candidate pair. */
  def minhashBands(sig: Column, bands: Int, rowsPerBand: Int): Column =
    array((0 until bands).map { b =>
      struct(lit(b).as("band"),
        xxhash64(slice(sig, b * rowsPerBand + 1, rowsPerBand)
          .cast(ArrayType(LongType)), lit(b)).as("bucket"))
    }: _*)

  /** 64-bit SimHash over token hashes: per-bit majority vote of the
    * xxhash64 of each token. Near-duplicate docs differ in few bits
    * (small Hamming distance).
    *
    * Evaluated by the codegen'd [[graft.plans.SimHash64FromTokens]]
    * kernel (one compiled loop over tokens × bits). Earlier
    * formulations — one `aggregate`+`zip_with` 64-vector fold, or 64
    * separate per-bit aggregates — are both interpreted
    * (CodegenFallback HOFs, resp. a codegen-method-size blowout) and
    * measured far slower; the hash value itself is unchanged. */
  def simhash64(text: Column): Column =
    graft.plans.TextExpressions.simhash64(tokens(lower(text)))

  /** Hamming distance between two 64-bit fingerprints. */
  def hamming64(a: Column, b: Column): Column =
    bit_count(a.bitwiseXOR(b)).cast(IntegerType)

  /** Rolling k-gram hash stream of a document: the xxhash64 of each
    * token k-gram window, in document order (the shingle pipeline
    * WITHOUT the distinct — position matters for winnowing). */
  def rollingHashes(text: Column, k: Int = 3): Column =
    graft.plans.TextExpressions.xxhashArray(shingles(text, k))

  /** Winnowing document fingerprint (Schleimer, Wilkerson, Aiken,
    * SIGMOD '03): the distinct set of per-window minima over the
    * rolling hash stream — guarantees any match of ≥ w+k-1 tokens
    * between two docs shares a fingerprint, at ~2/(w+1) sample rate.
    * Normalization-equivalent docs produce identical sets (the
    * oracle-checked property). */
  def winnowFingerprints(text: Column, k: Int = 3, w: Int = 4): Column = {
    val hs = rollingHashes(text, k)
    val n = size(hs)
    array_distinct(
      when(n <= w, array(array_min(hs)))
        .otherwise(transform(sequence(lit(0), n - w),
          i => array_min(slice(hs, i + 1, lit(w))))))
  }

  /** DataFrame-level winnowing — the scale formulation of
    * [[winnowFingerprints]]: posexplode the rolling hash stream, a
    * per-window minimum via a codegen'd window frame
    * (`ROWS BETWEEN CURRENT AND w-1 FOLLOWING` over pos), then
    * `collect_set` per doc. One shuffle on the doc id; identical
    * output sets to the scalar expression (which evaluates its
    * nested `array_min(slice(...))` per window interpreted —
    * ~50 ms/doc, measured). */
  def winnowDf(docs: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String, k: Int = 3, w: Int = 4, out: String = "fp")
      : org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val id = col(idCol)
    val hs = docs.select(id, posexplode(rollingHashes(col(textCol), k)))
    val frame = Window.partitionBy(id).orderBy(col("pos"))
      .rowsBetween(Window.currentRow, w - 1)
    hs.withColumn("n", count(lit(1)).over(Window.partitionBy(id)))
      .withColumn("wmin", min(col("col")).over(frame))
      // window starts: pos 0..n-w; degenerate n<=w case → pos 0 only
      // (its frame then spans the whole doc = the global min)
      .filter(col("pos") <= greatest(col("n") - w, lit(0)))
      .groupBy(id).agg(collect_set(col("wmin")).as(out))
  }

  /** DataFrame-level SimHash — the scale formulation: explode token
    * hashes, then ONE hash-aggregate with 64 per-bit `sum` columns
    * (map-side partial aggregation, fully codegen'd), then assemble
    * the majority bits. Use this for corpus-sized inputs; the scalar
    * [[simhash64]] expression is fine for small/ad-hoc data but its
    * nested higher-order folds evaluate interpreted. */
  def simhashDf(docs: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String, out: String = "simhash")
      : org.apache.spark.sql.DataFrame = {
    val exploded = docs.select(col(idCol),
      explode_outer(transform(tokens(lower(col(textCol))),
        t => xxhash64(t))).as("h"))
    val bitSums = (0 until 64).map(i =>
      sum(shiftright(col("h"), i).bitwiseAND(1L)).as(s"_b$i"))
    val agged = exploded.groupBy(col(idCol))
      .agg(count(col("h")).as("_n"), bitSums: _*)
    val hash = (0 until 64).map(i =>
      when(col(s"_b$i") * 2 > col("_n"), shiftleft(lit(1L), i))
        .otherwise(lit(0L)))
      .reduce[Column](_.bitwiseOR(_))
    agged.select(col(idCol), hash.as(out))
  }
}
