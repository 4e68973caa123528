package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native (whole-stage-codegen) text kernels.
  *
  * Word n-gram construction via built-ins is
  * `transform(sequence(...), i -> concat_ws(" ", slice(toks, i, n)))` —
  * three nested `CodegenFallback` higher-order functions that
  * interpret the lambda tree per gram and re-slice the token array
  * per position. [[TokenNGrams]] is the compiled equivalent: one pass
  * over the token array, one `concatWs` per gram. Same rationale as
  * [[VectorDot]] (HOFs fall out of whole-stage codegen), same
  * bit-identical-output contract: grams are the identical strings the
  * built-in formulation produces, only the evaluation strategy
  * changes — so every downstream hash (minhash shingles, xxhash64
  * fingerprints) and every DuckDB oracle stays unchanged.
  *
  * Takes the TOKEN ARRAY, not the raw text: tokenization (literal
  * split, regex `\s+`, lowercase-trim) stays whatever the caller's
  * semantics demand, and those built-ins are already codegen'd.
  *
  * `emitWholeShortDoc` selects the short-document convention:
  *   - false — a doc with fewer than n tokens yields NO grams
  *     (decontamination/repetition semantics);
  *   - true — it yields its whole token sequence as one gram
  *     (MinHash shingle semantics: every doc must hash to something).
  */
case class TokenNGrams(tokens: Expression, n: Int,
    emitWholeShortDoc: Boolean) extends UnaryExpression {

  require(n >= 1, s"n-gram size must be >= 1, got $n")

  override def child: Expression = tokens

  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"token_ngrams expects array<string> input, got ${t.sql}")
  }

  private val space = UTF8String.fromString(" ")

  override def nullSafeEval(a: Any): Any = {
    val toks = a.asInstanceOf[ArrayData]
    val count = toks.numElements()
    val out = count - n + 1
    if (out <= 0) {
      if (!emitWholeShortDoc) new GenericArrayData(Array.empty[Any])
      else {
        val parts = Array.tabulate(count)(toks.getUTF8String)
        new GenericArrayData(
          Array[Any](UTF8String.concatWs(space, parts: _*)))
      }
    } else {
      val grams = new Array[Any](out)
      var i = 0
      while (i < out) {
        val parts = new Array[UTF8String](n)
        var j = 0
        while (j < n) { parts(j) = toks.getUTF8String(i + j); j += 1 }
        grams(i) = UTF8String.concatWs(space, parts: _*)
        i += 1
      }
      new GenericArrayData(grams)
    }
  }

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode = {
    val spaceRef = ctx.addReferenceObj("space", space,
      classOf[UTF8String].getName)
    nullSafeCodeGen(ctx, ev, tk => {
      val cnt = ctx.freshName("cnt")
      val out = ctx.freshName("out")
      val grams = ctx.freshName("grams")
      val parts = ctx.freshName("parts")
      val i = ctx.freshName("i")
      val j = ctx.freshName("j")
      val utf8 = classOf[UTF8String].getName
      val whole =
        if (emitWholeShortDoc)
          s"""
             |$grams = new UTF8String[1];
             |$utf8[] $parts = new $utf8[$cnt];
             |for (int $j = 0; $j < $cnt; $j++) {
             |  $parts[$j] = $tk.getUTF8String($j);
             |}
             |$grams[0] = $utf8.concatWs($spaceRef, $parts);
           """.stripMargin
        else s"$grams = new UTF8String[0];"
      s"""
         |int $cnt = $tk.numElements();
         |int $out = $cnt - $n + 1;
         |UTF8String[] $grams;
         |if ($out <= 0) {
         |  $whole
         |} else {
         |  $grams = new UTF8String[$out];
         |  for (int $i = 0; $i < $out; $i++) {
         |    $utf8[] $parts = new $utf8[$n];
         |    for (int $j = 0; $j < $n; $j++) {
         |      $parts[$j] = $tk.getUTF8String($i + $j);
         |    }
         |    $grams[$i] = $utf8.concatWs($spaceRef, $parts);
         |  }
         |}
         |${ev.value} =
         |  new org.apache.spark.sql.catalyst.util.GenericArrayData($grams);
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(
      newChild: Expression): TokenNGrams = copy(tokens = newChild)
}

/** xxhash64 of every element of an array<string>, as array<long> —
  * the compiled equivalent of `transform(arr, x -> xxhash64(x))`
  * (interpreted lambda per element). Uses the same XXH64 kernel and
  * default seed (42) as Spark's `xxhash64`, so outputs are
  * bit-identical to the built-in formulation: minhash inputs, rolling
  * hash streams, and winnowing fingerprints are unchanged. */
case class XxHashArray(child: Expression, seed: Long)
    extends UnaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"xxhash_array expects array<string> input, got ${t.sql}")
  }

  override def nullSafeEval(a: Any): Any = {
    val arr = a.asInstanceOf[ArrayData]
    val n = arr.numElements()
    val out = new Array[Long](n)
    var i = 0
    while (i < n) {
      out(i) = XXH64.hashUTF8String(arr.getUTF8String(i), seed)
      i += 1
    }
    new GenericArrayData(out)
  }

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, arr => {
      val n = ctx.freshName("n")
      val out = ctx.freshName("out")
      val i = ctx.freshName("i")
      val xxh = classOf[XXH64].getName
      s"""
         |int $n = $arr.numElements();
         |long[] $out = new long[$n];
         |for (int $i = 0; $i < $n; $i++) {
         |  $out[$i] = $xxh.hashUTF8String($arr.getUTF8String($i), ${seed}L);
         |}
         |${ev.value} =
         |  new org.apache.spark.sql.catalyst.util.GenericArrayData($out);
       """.stripMargin
    })

  override protected def withNewChildInternal(
      newChild: Expression): XxHashArray = copy(child = newChild)
}

/** k-permutation MinHash signature from shingle hashes (array<long>
  * → array<long> of length k) — the compiled equivalent of
  * `array((0 until k).map(s => array_min(transform(hashes, h =>
  * xxhash64(h, lit(s))))))`: k interpreted ArrayTransform arms that
  * each re-walk the hash array with a lambda alloc per element
  * (O(n·k) interpreted evals — measured as the dominant cost of every
  * minhash gate's projection stage). This kernel is ONE pass: per
  * element the seed-independent inner mix is computed once and the k
  * seed mixes fold into a running-min array — tight JVM longs, inside
  * whole-stage codegen.
  *
  * Bit-identity contract: Spark's `xxhash64(h, lit(s))` folds BOTH
  * children into the running hash starting at seed 42 —
  * `hashInt(s, hashLong(h, 42))` (the seed literal is IntegerType, so
  * the second fold is hashInt) — and the kernel reproduces exactly
  * that composition, so signatures, band buckets, and every recorded
  * LSH study are unchanged. Empty input yields the HOF formulation's
  * k nulls (array_min of an empty array); callers guard with
  * `size(hashes) > 0` regardless. */
case class MinhashSignature(child: Expression, k: Int)
    extends UnaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = true)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"minhash_signature expects array<long> input, got ${t.sql}")
  }

  override def nullSafeEval(a: Any): Any = {
    val arr = a.asInstanceOf[ArrayData]
    val n = arr.numElements()
    if (n == 0) {
      new GenericArrayData(new Array[Any](k))
    } else {
      val mins = Array.fill(k)(Long.MaxValue)
      var i = 0
      while (i < n) {
        val inner = XXH64.hashLong(arr.getLong(i), 42L)
        var s = 0
        while (s < k) {
          val v = XXH64.hashInt(s, inner)
          if (v < mins(s)) mins(s) = v
          s += 1
        }
        i += 1
      }
      new GenericArrayData(mins)
    }
  }

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, arr => {
      val n = ctx.freshName("n")
      val mins = ctx.freshName("mins")
      val inner = ctx.freshName("inner")
      val i = ctx.freshName("i")
      val s = ctx.freshName("s")
      val v = ctx.freshName("v")
      val boxed = ctx.freshName("boxed")
      val xxh = classOf[XXH64].getName
      s"""
         |int $n = $arr.numElements();
         |if ($n == 0) {
         |  ${ev.value} = new org.apache.spark.sql.catalyst.util
         |    .GenericArrayData(new Object[$k]);
         |} else {
         |  long[] $mins = new long[$k];
         |  java.util.Arrays.fill($mins, Long.MAX_VALUE);
         |  for (int $i = 0; $i < $n; $i++) {
         |    long $inner = $xxh.hashLong($arr.getLong($i), 42L);
         |    for (int $s = 0; $s < $k; $s++) {
         |      long $v = $xxh.hashInt($s, $inner);
         |      if ($v < $mins[$s]) $mins[$s] = $v;
         |    }
         |  }
         |  ${ev.value} =
         |    new org.apache.spark.sql.catalyst.util.GenericArrayData($mins);
         |}
       """.stripMargin
    })

  override protected def withNewChildInternal(
      newChild: Expression): MinhashSignature = copy(child = newChild)
}

/** k-permutation MinHash over PRECOMPUTED shingle hashes with the
  * portable affine family `h_j(x) = (a_j·x + b_j) mod p`,
  * a_j = 2654435761·(j+1) mod p, b_j = (40503·(j+1)+104729) mod p,
  * p = 1e9+7 — the cross-engine family `dedup_minhash_estimate` uses
  * (a plain arithmetic statement DuckDB evaluates identically, unlike
  * xxhash). Compiled replacement for the explode(k)×shingles →
  * groupBy-min formulation, which shuffles shingles·k rows (the
  * measured cost of the estimate gate: 64× row amplification through
  * an exchange); here the signature is one pass over the per-doc hash
  * array — shuffle carries shingle counts, not shingle×k. Inputs are
  * in [0, p), so a_j·x < p² ≈ 1e18 stays inside a long. Empty input
  * yields k nulls (callers' docs always have ≥1 shingle). */
case class PolyMinhashSignature(child: Expression, k: Int)
    extends UnaryExpression {

  private val P = 1000000007L
  private val as: Array[Long] =
    Array.tabulate(k)(j => (2654435761L * (j + 1)) % P)
  private val bs: Array[Long] =
    Array.tabulate(k)(j => (40503L * (j + 1) + 104729L) % P)

  override def dataType: DataType = ArrayType(LongType, containsNull = true)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"poly_minhash expects array<long> input, got ${t.sql}")
  }

  override def nullSafeEval(a: Any): Any = {
    val arr = a.asInstanceOf[ArrayData]
    val n = arr.numElements()
    if (n == 0) {
      new GenericArrayData(new Array[Any](k))
    } else {
      val mins = Array.fill(k)(Long.MaxValue)
      var i = 0
      while (i < n) {
        val x = arr.getLong(i)
        var j = 0
        while (j < k) {
          val v = (as(j) * x + bs(j)) % P
          if (v < mins(j)) mins(j) = v
          j += 1
        }
        i += 1
      }
      new GenericArrayData(mins)
    }
  }

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode = {
    val asRef = ctx.addReferenceObj("as", as, "long[]")
    val bsRef = ctx.addReferenceObj("bs", bs, "long[]")
    nullSafeCodeGen(ctx, ev, arr => {
      val n = ctx.freshName("n")
      val mins = ctx.freshName("mins")
      val x = ctx.freshName("x")
      val i = ctx.freshName("i")
      val j = ctx.freshName("j")
      val v = ctx.freshName("v")
      s"""
         |int $n = $arr.numElements();
         |if ($n == 0) {
         |  ${ev.value} = new org.apache.spark.sql.catalyst.util
         |    .GenericArrayData(new Object[$k]);
         |} else {
         |  long[] $mins = new long[$k];
         |  java.util.Arrays.fill($mins, Long.MAX_VALUE);
         |  for (int $i = 0; $i < $n; $i++) {
         |    long $x = $arr.getLong($i);
         |    for (int $j = 0; $j < $k; $j++) {
         |      long $v = ($asRef[$j] * $x + $bsRef[$j]) % ${P}L;
         |      if ($v < $mins[$j]) $mins[$j] = $v;
         |    }
         |  }
         |  ${ev.value} =
         |    new org.apache.spark.sql.catalyst.util.GenericArrayData($mins);
         |}
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(
      newChild: Expression): PolyMinhashSignature = copy(child = newChild)
}

/** 64-bit SimHash over a token array: per-bit majority vote of the
  * xxhash64 (seed 42) of each token; bit i is set iff strictly more
  * than half the tokens have it set. Compiled replacement for the
  * `aggregate`/`zip_with` 64-vector fold (interpreted per token ×
  * per bit); produces the identical long for every input. */
case class SimHash64FromTokens(child: Expression)
    extends UnaryExpression {

  override def dataType: DataType = LongType

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"simhash64 expects array<string> input, got ${t.sql}")
  }

  override def nullSafeEval(a: Any): Any = {
    val arr = a.asInstanceOf[ArrayData]
    val n = arr.numElements()
    val counts = new Array[Int](64)
    var i = 0
    while (i < n) {
      val h = XXH64.hashUTF8String(arr.getUTF8String(i), 42L)
      var b = 0
      while (b < 64) {
        counts(b) += ((h >>> b) & 1L).toInt
        b += 1
      }
      i += 1
    }
    var out = 0L
    var b = 0
    while (b < 64) {
      if (2L * counts(b) > n) out |= (1L << b)
      b += 1
    }
    out
  }

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, arr => {
      val n = ctx.freshName("n")
      val counts = ctx.freshName("counts")
      val h = ctx.freshName("h")
      val i = ctx.freshName("i")
      val b = ctx.freshName("b")
      val acc = ctx.freshName("acc")
      val xxh = classOf[XXH64].getName
      s"""
         |int $n = $arr.numElements();
         |int[] $counts = new int[64];
         |for (int $i = 0; $i < $n; $i++) {
         |  long $h = $xxh.hashUTF8String($arr.getUTF8String($i), 42L);
         |  for (int $b = 0; $b < 64; $b++) {
         |    $counts[$b] += (int) (($h >>> $b) & 1L);
         |  }
         |}
         |long $acc = 0L;
         |for (int $b = 0; $b < 64; $b++) {
         |  if (2L * $counts[$b] > $n) $acc |= (1L << $b);
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })

  override protected def withNewChildInternal(
      newChild: Expression): SimHash64FromTokens = copy(child = newChild)
}

/** Count of array elements contained in a fixed string set — the
  * compiled equivalent of `size(filter(arr, t -> t.isin(set)))`
  * (ArrayFilter is CodegenFallback, and `isin` over k literals is a
  * k-wide comparison chain per element; this is one hash probe per
  * element). Counts are identical to the builtin formulation, so the
  * language-ID and stopword-ratio oracles are unchanged. */
case class TokenCountInSet(child: Expression, values: Seq[String])
    extends UnaryExpression {

  override def dataType: DataType = IntegerType

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"token_count_in_set expects array<string> input, got ${t.sql}")
  }

  // HashSet of UTF8String: one byte-wise hash probe per token.
  private val set: java.util.HashSet[UTF8String] = {
    val s = new java.util.HashSet[UTF8String](values.size * 2)
    values.foreach(v => s.add(UTF8String.fromString(v)))
    s
  }

  override def nullSafeEval(a: Any): Any = {
    val arr = a.asInstanceOf[ArrayData]
    val n = arr.numElements()
    var cnt = 0
    var i = 0
    while (i < n) {
      if (set.contains(arr.getUTF8String(i))) cnt += 1
      i += 1
    }
    cnt
  }

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode = {
    val setRef = ctx.addReferenceObj("set", set,
      "java.util.HashSet<org.apache.spark.unsafe.types.UTF8String>")
    nullSafeCodeGen(ctx, ev, arr => {
      val n = ctx.freshName("n")
      val cnt = ctx.freshName("cnt")
      val i = ctx.freshName("i")
      s"""
         |int $n = $arr.numElements();
         |int $cnt = 0;
         |for (int $i = 0; $i < $n; $i++) {
         |  if ($setRef.contains($arr.getUTF8String($i))) $cnt++;
         |}
         |${ev.value} = $cnt;
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(
      newChild: Expression): TokenCountInSet = copy(child = newChild)
}

/** Shared normalization routine for [[TextNormalize]] — kept as an
  * object so generated code and interpreted eval run the identical
  * byte path. Mark-stripping happens BEFORE lowercasing: `İ` (I +
  * dot above after NFD) loses its mark first and lowercases to plain
  * `i` on both the JVM and utf8proc — lowercasing first would leave
  * the JVM's `i` + combining dot vs DuckDB's `i` and break parity. */
object TextNormalizeKernel extends Serializable {
  private val Marks = java.util.regex.Pattern.compile("\\p{Mn}+")
  private val Ws = java.util.regex.Pattern.compile("\\s+")

  def apply(s: UTF8String): UTF8String = {
    import java.text.Normalizer
    var t = Normalizer.normalize(s.toString, Normalizer.Form.NFD)
    t = Marks.matcher(t).replaceAll("")
    t = Normalizer.normalize(t, Normalizer.Form.NFC)
    t = t.toLowerCase(java.util.Locale.ROOT)
    t = Ws.matcher(t.trim).replaceAll(" ")
    UTF8String.fromString(t)
  }
}

/** Unicode canonicalization for dedup/fingerprint pipelines: NFD →
  * strip combining marks (accent removal) → NFC recompose → ROOT
  * lowercase → trim + whitespace collapse. The DuckDB-parity contract
  * (gated by `text_normalize`) is
  * `trim(regexp_replace(lower(strip_accents(nfc_normalize(x))), '\s+', ' ', 'g'))`.
  * The multilingual-corpus front door of [[graft.ops.Dedup]]: exact
  * and near dedup both fingerprint *normalized* text, and without
  * this step visually-identical accented/composed variants survive
  * dedup as distinct documents. */
case class TextNormalize(child: Expression) extends UnaryExpression {

  override def dataType: DataType = StringType

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"text_normalize expects string input, got ${t.sql}")
  }

  override def nullSafeEval(a: Any): Any =
    TextNormalizeKernel(a.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode = {
    val kernel = ctx.addReferenceObj("graftTextNormalizeKernel",
      TextNormalizeKernel, TextNormalizeKernel.getClass.getName)
    defineCodeGen(ctx, ev, c => s"$kernel.apply($c)")
  }

  override protected def withNewChildInternal(
      newChild: Expression): TextNormalize = copy(child = newChild)
}

/** Jaro–Winkler similarity over UTF-8 BYTES — the byte-level variant
  * is deliberate: DuckDB's `jaro_winkler_similarity` scores byte
  * sequences (verified: 'ÉCOLE' vs 'ECOLE' = 0.8222 = the 6-vs-5
  * byte Jaro), so byte semantics is what the cross-engine gate can
  * pin. Standard Jaro (match window ⌊max(len)/2⌋−1, floor ≥ 0;
  * transpositions halved) with the Winkler prefix boost
  * `j + ℓ·0.1·(1−j)`, ℓ = common prefix capped at 4, applied only
  * when j > 0.7; both-empty scores 0 (DuckDB convention). */
object JaroWinklerKernel extends Serializable {
  def apply(au: UTF8String, bu: UTF8String): Double = {
    val a = au.getBytes; val b = bu.getBytes
    val la = a.length; val lb = b.length
    if (la == 0 || lb == 0) return 0.0
    val window = math.max(0, math.max(la, lb) / 2 - 1)
    val am = new Array[Boolean](la); val bm = new Array[Boolean](lb)
    var m = 0
    var i = 0
    while (i < la) {
      val lo = math.max(0, i - window)
      val hi = math.min(lb - 1, i + window)
      var j = lo
      var found = false
      while (j <= hi && !found) {
        if (!bm(j) && b(j) == a(i)) {
          am(i) = true; bm(j) = true; m += 1; found = true
        }
        j += 1
      }
      i += 1
    }
    if (m == 0) return 0.0
    var t = 0; var k = 0
    i = 0
    while (i < la) {
      if (am(i)) {
        while (!bm(k)) k += 1
        if (a(i) != b(k)) t += 1
        k += 1
      }
      i += 1
    }
    val mt = t / 2
    val jaro = (m.toDouble / la + m.toDouble / lb +
      (m - mt).toDouble / m) / 3.0
    if (jaro > 0.7) {
      val maxl = math.min(4, math.min(la, lb))
      var l = 0
      while (l < maxl && a(l) == b(l)) l += 1
      jaro + l * 0.1 * (1.0 - jaro)
    } else jaro
  }
}

/** Codegen'd Jaro–Winkler — the record-linkage similarity Spark has
  * no built-in for (`levenshtein` is the only built-in edit metric).
  * A compiled kernel call per pair, inside whole-stage codegen like
  * every other graft kernel. */
case class JaroWinkler(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (StringType, StringType) => TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"jaro_winkler expects (string, string), got (${l.sql}, ${r.sql})")
    }

  override def nullSafeEval(a: Any, b: Any): Any =
    JaroWinklerKernel(a.asInstanceOf[UTF8String], b.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode = {
    val kernel = ctx.addReferenceObj("graftJaroWinklerKernel",
      JaroWinklerKernel, JaroWinklerKernel.getClass.getName)
    defineCodeGen(ctx, ev, (l, r) => s"$kernel.apply($l, $r)")
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): JaroWinkler =
    copy(left = newLeft, right = newRight)
}

/** FULL (unrestricted) Damerau–Levenshtein over UTF-8 bytes —
  * Lowrance–Wagner with the alphabet-indexed last-occurrence table,
  * so a transposed pair may have edits between its halves
  * ('ca'→'abc' = 2, where the restricted OSA variant says 3). Byte
  * semantics and the unrestricted variant both match DuckDB's
  * `damerau_levenshtein` (verified: 'ca'/'abc' = 2, 'ÉA'/'EA' = 2 =
  * the two-byte É). O(|a|·|b|) ints — sized for keys/names, the
  * record-linkage use class, not documents. */
object DamerauLevenshteinKernel extends Serializable {
  def apply(au: UTF8String, bu: UTF8String): Long = {
    val a = au.getBytes; val b = bu.getBytes
    val la = a.length; val lb = b.length
    if (la == 0) return lb.toLong
    if (lb == 0) return la.toLong
    val inf = la + lb
    // row/col 0 hold the "virtual -1" border of Lowrance–Wagner
    val d = Array.ofDim[Int](la + 2, lb + 2)
    d(0)(0) = inf
    var i = 0
    while (i <= la) { d(i + 1)(0) = inf; d(i + 1)(1) = i; i += 1 }
    var j = 0
    while (j <= lb) { d(0)(j + 1) = inf; d(1)(j + 1) = j; j += 1 }
    val da = new Array[Int](256)
    i = 1
    while (i <= la) {
      var db = 0
      j = 1
      while (j <= lb) {
        val k = da(b(j - 1) & 0xff); val l = db
        val cost = if (a(i - 1) == b(j - 1)) { db = j; 0 } else 1
        val subst = d(i)(j) + cost
        val insert = d(i + 1)(j) + 1
        val delete = d(i)(j + 1) + 1
        val transp = d(k)(l) + (i - k - 1) + 1 + (j - l - 1)
        var m = subst
        if (insert < m) m = insert
        if (delete < m) m = delete
        if (transp < m) m = transp
        d(i + 1)(j + 1) = m
        j += 1
      }
      da(a(i - 1) & 0xff) = i
      i += 1
    }
    d(la + 1)(lb + 1).toLong
  }
}

/** Codegen'd unrestricted Damerau–Levenshtein (Spark's built-in edit
  * metric is plain `levenshtein`; transposition-aware distance is the
  * one typo-tolerant linkage actually wants — 'recieve'/'receive' is
  * 1 here, 2 under plain Levenshtein). */
case class DamerauLevenshtein(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = LongType

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (StringType, StringType) => TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"damerau_levenshtein expects (string, string), got " +
          s"(${l.sql}, ${r.sql})")
    }

  override def nullSafeEval(a: Any, b: Any): Any =
    DamerauLevenshteinKernel(a.asInstanceOf[UTF8String],
      b.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode = {
    val kernel = ctx.addReferenceObj("graftDamerauKernel",
      DamerauLevenshteinKernel, DamerauLevenshteinKernel.getClass.getName)
    defineCodeGen(ctx, ev, (l, r) => s"$kernel.apply($l, $r)")
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DamerauLevenshtein =
    copy(left = newLeft, right = newRight)
}

/** Shared routine for [[CharEntropyStats]] — one pass over the
  * document's code points (sort + run-length, no hashing) producing
  * `[n_chars, n_distinct, Σ term9]` where
  * `term9 = floor(c · ln(n/c) · 1e9 + 0.5)` per distinct character,
  * the exact scaled-long term the explode/groupBy formulation
  * produced — so the DuckDB oracle is unchanged. */
object CharEntropyKernel extends Serializable {
  def apply(s: UTF8String): Array[Long] = {
    val cps = s.toString.codePoints().toArray
    val n = cps.length
    if (n == 0) return Array(0L, 0L, 0L)
    java.util.Arrays.sort(cps)
    var distinct = 0L
    var sum = 0L
    var i = 0
    while (i < n) {
      var j = i
      while (j < n && cps(j) == cps(i)) j += 1
      val c = j - i
      distinct += 1
      sum += math.floor(
        c * math.log(n.toDouble / c.toDouble) * 1e9 + 0.5).toLong
      i = j
    }
    Array(n.toLong, distinct, sum)
  }
}

/** Per-document character-entropy statistics as a single compiled
  * scan-side pass — the replacement for `explode(per-char) →
  * groupBy(doc, char) → groupBy(doc)`, which shuffles one row PER
  * CHARACTER of the corpus (10⁸ rows per GB of text) twice. Output
  * `array<long> [n_chars, n_distinct, term9_sum]`; values are
  * bit-identical to the explode formulation. */
case class CharEntropyStats(child: Expression) extends UnaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"char_entropy expects string input, got ${t.sql}")
  }

  override def nullSafeEval(a: Any): Any =
    new GenericArrayData(CharEntropyKernel(a.asInstanceOf[UTF8String]))

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode = {
    val kernel = ctx.addReferenceObj("graftCharEntropyKernel",
      CharEntropyKernel, CharEntropyKernel.getClass.getName)
    defineCodeGen(ctx, ev, c =>
      s"new org.apache.spark.sql.catalyst.util.GenericArrayData(" +
      s"$kernel.apply($c))")
  }

  override protected def withNewChildInternal(
      newChild: Expression): CharEntropyStats = copy(child = newChild)
}

object CellByteKernel extends Serializable {
  /** Per-cell (cell, count, codepoint-sum) rows over the string's
    * code points, non-empty cells only, ascending cell order —
    * bit-identical to `posexplode(per-char codes) → groupBy(doc,
    * (p*cells) div len)`, evaluated in one compiled pass with zero
    * shuffle rows. Cell rule `(p * cells) div len` on non-negative
    * ints, exactly the explode formulation's. */
  def apply(s: UTF8String, cells: Int): ArrayData = {
    val cps = s.toString.codePoints().toArray
    val n = cps.length
    if (n == 0) return new GenericArrayData(Array.empty[Any])
    val cnt = new Array[Long](cells)
    val sum = new Array[Long](cells)
    var p = 0
    while (p < n) {
      val c = ((p.toLong * cells) / n).toInt
      cnt(c) += 1
      sum(c) += cps(p)
      p += 1
    }
    var nonEmpty = 0
    var c = 0
    while (c < cells) { if (cnt(c) > 0) nonEmpty += 1; c += 1 }
    val rows = new Array[Any](nonEmpty)
    var i = 0
    c = 0
    while (c < cells) {
      if (cnt(c) > 0) {
        rows(i) = org.apache.spark.sql.catalyst.InternalRow(
          c.toLong, cnt(c), sum(c))
        i += 1
      }
      c += 1
    }
    new GenericArrayData(rows)
  }
}

object CdcChunkKernel extends Serializable {
  private val Mod = 1000000007L

  /** Content-defined chunking statistics in one compiled pass —
    * bit-identical to the HOF formulation (transform/filter/zip_with
    * over the code array), which interpreted an `aggregate(slice)`
    * roll PER POSITION and was the suite's most expensive gate.
    * Boundary rule: after 1-based position i ∈ [8, len] whenever the
    * (acc·31 + c) mod 1e9+7 fold over the trailing 8 code points ≡ 0
    * (mod 64). Output [n_chunks, sum_len, max_chunk, fp_sum] where fp
    * is the same fold over each chunk's code points. Caller filters
    * len ≥ 8. */
  /** 31⁷ mod p — the outgoing-term multiplier of the rolling update. */
  private val Pow7 = {
    var p = 1L
    var i = 0
    while (i < 7) { p = (p * 31L) % Mod; i += 1 }
    p
  }

  def apply(s: UTF8String): Array[Long] = {
    val cps = s.toString.codePoints().toArray
    val n = cps.length
    var nChunks = 0L
    var sumLen = 0L
    var maxChunk = 0L
    var fpSum = 0L
    var st = 0
    // True rolling trailing-8 hash (round-10 verdict note: the
    // original recomputed the 8-term fold at every position — O(8n)).
    // acc' = ((acc − cp_out·31⁷)·31 + cp_in) mod p is the same
    // residue the recomputed fold produces (all arithmetic mod p),
    // so boundaries — and every emitted value — are bit-identical.
    var roll = 0L
    if (n >= 8) {
      var j = 0
      while (j < 8) { roll = (roll * 31L + cps(j)) % Mod; j += 1 }
    }
    var i = 8 // 1-based boundary position
    while (i <= n + 1) {
      val isEnd = i == n + 1
      var boundary = isEnd
      if (!isEnd) {
        if (i > 8) {
          val out = (cps(i - 9) * Pow7) % Mod
          roll = (((roll - out + Mod) % Mod) * 31L + cps(i - 1)) % Mod
        }
        boundary = roll % 64L == 0L
      }
      if (boundary) {
        val en = if (isEnd) n else i
        if (en > st) {
          var fp = 0L
          var j = st
          while (j < en) { fp = (fp * 31L + cps(j)) % Mod; j += 1 }
          nChunks += 1
          sumLen += en - st
          if (en - st > maxChunk) maxChunk = en - st
          fpSum += fp
          st = en
        }
      }
      i += 1
    }
    Array(nChunks, sumLen, maxChunk, fpSum)
  }
}

/** Per-document CDC chunk statistics as one compiled scan pass (see
  * [[CdcChunkKernel]]). */
case class CdcChunkStats(child: Expression) extends UnaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"cdc_chunks expects string input, got ${t.sql}")
  }

  override def nullSafeEval(a: Any): Any =
    new GenericArrayData(CdcChunkKernel(a.asInstanceOf[UTF8String]))

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode = {
    val kernel = ctx.addReferenceObj("graftCdcChunkKernel",
      CdcChunkKernel, CdcChunkKernel.getClass.getName)
    defineCodeGen(ctx, ev, c =>
      s"new org.apache.spark.sql.catalyst.util.GenericArrayData(" +
      s"$kernel.apply($c))")
  }

  override protected def withNewChildInternal(
      newChild: Expression): CdcChunkStats = copy(child = newChild)
}

/** Per-document cell statistics (box-filter bins over the decoded
  * byte/char stream) as a single compiled scan-side pass — the
  * replacement for the multimodal gates' `posexplode(per-char) →
  * groupBy(doc, cell)`, which interpreted a CodegenFallback
  * `transform` lambda per CHARACTER and shuffled one row per
  * character of the corpus. Output `array<struct<cell, cnt, sum>>`
  * for non-empty cells in cell order; values are bit-identical to
  * the explode formulation, so the DuckDB oracles are unchanged. */
case class CellByteStats(child: Expression, cells: Int)
    extends UnaryExpression {

  require(cells >= 1, s"cells must be >= 1, got $cells")

  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("cell", LongType, nullable = false),
    StructField("cnt", LongType, nullable = false),
    StructField("sum", LongType, nullable = false))),
    containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"cell_stats expects string input, got ${t.sql}")
  }

  override def nullSafeEval(a: Any): Any =
    CellByteKernel(a.asInstanceOf[UTF8String], cells)

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode = {
    val kernel = ctx.addReferenceObj("graftCellByteKernel",
      CellByteKernel, CellByteKernel.getClass.getName)
    defineCodeGen(ctx, ev, c => s"$kernel.apply($c, $cells)")
  }

  override protected def withNewChildInternal(
      newChild: Expression): CellByteStats = copy(child = newChild)
}

object Poly31Kernel extends Serializable {
  private val Mod = 1000000007L

  /** `(acc·31 + codepoint) mod 1e9+7` over the string's code points —
    * bit-identical to the HOF formulation
    * `aggregate(transform(sequence(1, length(s)), i ->
    * ascii(substring(s, i, 1))), 0L, (acc, c) -> (acc*31 + c) %
    * 1000000007)`, which interprets three nested lambdas PER
    * CHARACTER (the CdcChunkKernel cost class). Same code-point
    * semantics as DuckDB `ascii(substring(...))`. */
  def apply(s: UTF8String): Long = {
    val cps = s.toString.codePoints().toArray
    var acc = 0L
    var i = 0
    while (i < cps.length) { acc = (acc * 31L + cps(i)) % Mod; i += 1 }
    acc
  }
}

/** Rolling poly-31 string hash as one compiled pass (see
  * [[Poly31Kernel]]). */
case class Poly31Hash(child: Expression) extends UnaryExpression {

  override def dataType: DataType = LongType

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"poly31 expects string input, got ${t.sql}")
  }

  override def nullSafeEval(a: Any): Any =
    Poly31Kernel(a.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode = {
    val kernel = ctx.addReferenceObj("graftPoly31Kernel",
      Poly31Kernel, Poly31Kernel.getClass.getName)
    defineCodeGen(ctx, ev, c => s"$kernel.apply($c)")
  }

  override protected def withNewChildInternal(
      newChild: Expression): Poly31Hash = copy(child = newChild)
}

object TextExpressions {

  import org.apache.spark.sql.GraftSqlBridge.{column, expression}

  /** Codegen'd unrestricted byte-level Damerau–Levenshtein (see
    * [[DamerauLevenshtein]]). */
  def damerauLevenshtein(a: Column, b: Column): Column =
    column(DamerauLevenshtein(expression(a), expression(b)))

  /** Codegen'd byte-level Jaro–Winkler (see [[JaroWinkler]]). */
  def jaroWinkler(a: Column, b: Column): Column =
    column(JaroWinkler(expression(a), expression(b)))

  /** Codegen'd Unicode canonicalization (see [[TextNormalize]]). */
  def textNormalize(text: Column): Column =
    column(TextNormalize(expression(text)))

  /** Codegen'd word n-grams over a token-array column; n and the
    * short-doc flag parameterize the generated code. */
  def tokenNGrams(tokens: Column, n: Int,
      emitWholeShortDoc: Boolean): Column =
    column(TokenNGrams(expression(tokens), n, emitWholeShortDoc))

  /** Codegen'd rolling poly-31 string hash (see [[Poly31Kernel]]). */
  def poly31Hash(text: Column): Column =
    column(Poly31Hash(expression(text)))

  /** Codegen'd per-element xxhash64 over an array<string> column;
    * seed 42 = Spark's `xxhash64` default. */
  def xxhashArray(arr: Column, seed: Long = 42L): Column =
    column(XxHashArray(expression(arr), seed))

  /** Codegen'd affine-family (portable, cross-engine) MinHash
    * signature over an array<long> column (see
    * [[PolyMinhashSignature]]). */
  def polyMinhash(hashes: Column, k: Int): Column =
    column(PolyMinhashSignature(expression(hashes), k))

  /** Codegen'd k-permutation MinHash signature over an array<long>
    * shingle-hash column (see [[MinhashSignature]]). */
  def minhashSignature(hashes: Column, k: Int): Column =
    column(MinhashSignature(expression(hashes), k))

  /** Codegen'd 64-bit SimHash over a token-array column. */
  def simhash64(tokens: Column): Column =
    column(SimHash64FromTokens(expression(tokens)))

  /** Codegen'd count of tokens contained in a fixed string set. */
  def countInSet(tokens: Column, values: Seq[String]): Column =
    column(TokenCountInSet(expression(tokens), values))

  /** Codegen'd per-document char-entropy stats
    * `[n_chars, n_distinct, term9_sum]`. */
  def charEntropyStats(text: Column): Column =
    column(CharEntropyStats(expression(text)))

  /** Codegen'd per-document cell stats (box-filter bins over the
    * code-point stream) `array<struct<cell, cnt, sum>>`. */
  def cellStats(text: Column, cells: Int): Column =
    column(CellByteStats(expression(text), cells))

  /** Codegen'd per-document CDC chunk stats
    * `[n_chunks, sum_len, max_chunk, fp_sum]`. */
  def cdcChunkStats(text: Column): Column =
    column(CdcChunkStats(expression(text)))
}
