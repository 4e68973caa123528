package graft

import org.apache.spark.sql.functions._

import graft.plans.TextExpressions

/** TokenNGrams codegen kernel: bit-identical to the built-in HOF
  * formulation it replaces, on both evaluation paths. */
class TextExpressionsSpec extends SparkSpec {

  private def hofGrams(n: Int) = {
    val t = split(col("text"), " ")
    when(size(t) >= n,
      transform(sequence(lit(1), size(t) - lit(n - 1)),
        i => concat_ws(" ", slice(t, i, lit(n)))))
      .otherwise(array().cast("array<string>"))
  }

  private val fixtures = Seq(
    "a b c d e", "a", "", "x y", "a b c",
    "double  space", " leading", "trailing ",
    "the same the same the same")

  test("matches the HOF formulation exactly (skip-short convention)") {
    import spark.implicits._
    for (n <- Seq(1, 2, 3, 5)) {
      val df = fixtures.toDF("text")
      val got = df.select(
        TextExpressions.tokenNGrams(split(col("text"), " "), n,
          emitWholeShortDoc = false).as("g")).collect()
      val want = df.select(hofGrams(n).as("g")).collect()
      assert(got.map(_.getSeq[String](0)).toSeq ==
        want.map(_.getSeq[String](0)).toSeq, s"n=$n")
    }
  }

  test("whole-short-doc convention matches legacy shingles semantics") {
    import spark.implicits._
    val df = fixtures.toDF("text")
    val n = 3
    val toks = split(col("text"), " ")
    val legacy = when(size(toks) < n, array(concat_ws(" ", toks)))
      .otherwise(transform(sequence(lit(0), size(toks) - n),
        i => concat_ws(" ", slice(toks, i + 1, lit(n)))))
    val got = df.select(TextExpressions.tokenNGrams(toks, n,
      emitWholeShortDoc = true).as("g")).collect()
    val want = df.select(legacy.as("g")).collect()
    assert(got.map(_.getSeq[String](0)).toSeq ==
      want.map(_.getSeq[String](0)).toSeq)
  }

  test("xxhashArray matches per-element builtin xxhash64") {
    import spark.implicits._
    val df = fixtures.toDF("text")
    val toks = split(col("text"), " ")
    val got = df.select(TextExpressions.xxhashArray(toks).as("h")).collect()
    val want = df.select(transform(toks, t => xxhash64(t)).as("h")).collect()
    assert(got.map(_.getSeq[Long](0)).toSeq ==
      want.map(_.getSeq[Long](0)).toSeq)
  }

  test("simhash64 kernel = per-bit majority vote of builtin xxhash64") {
    import spark.implicits._
    val df = fixtures.filter(_.nonEmpty).toDF("text")
    val toks = split(col("text"), " ")
    val got = df.select(TextExpressions.simhash64(toks).as("sh"))
      .as[Long].collect().toSeq
    val hashes = df.select(transform(toks, t => xxhash64(t)).as("h"))
      .collect().map(_.getSeq[Long](0))
    val want = hashes.map { hs =>
      (0 until 64).foldLeft(0L) { (acc, b) =>
        val c = hs.count(h => ((h >>> b) & 1L) == 1L)
        if (2L * c > hs.size) acc | (1L << b) else acc
      }
    }.toSeq
    assert(got == want)
  }

  test("countInSet matches size(filter(isin)) builtin formulation") {
    import spark.implicits._
    val df = fixtures.toDF("text")
    val toks = split(col("text"), " ")
    val set = Seq("a", "b", "the", "double")
    val got = df.select(TextExpressions.countInSet(toks, set).as("c"))
      .as[Int].collect().toSeq
    val want = df.select(size(filter(toks,
        t => t.isin(set.map(_.asInstanceOf[Any]): _*))).as("c"))
      .as[Int].collect().toSeq
    assert(got == want)
  }

  test("interpreted eval path agrees with codegen") {
    import spark.implicits._
    val df = fixtures.toDF("text")
    val expr = TextExpressions.tokenNGrams(split(col("text"), " "), 2,
      emitWholeShortDoc = true).as("g")
    val viaCodegen = df.select(expr).collect().map(_.getSeq[String](0))
    // Force the interpreted path: wrap in a CodegenFallback context by
    // evaluating through a filter on an interpreted-only predicate is
    // brittle; instead call nullSafeEval directly on literal rows.
    val kernel = graft.plans.TokenNGrams(
      org.apache.spark.sql.catalyst.expressions.Literal(null,
        org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.StringType)), 2, true)
    val viaEval = fixtures.map { s =>
      val toks = s.split(" ", -1).map(
        org.apache.spark.unsafe.types.UTF8String.fromString)
      kernel.nullSafeEval(
        new org.apache.spark.sql.catalyst.util.GenericArrayData(
          toks.asInstanceOf[Array[Any]]))
        .asInstanceOf[org.apache.spark.sql.catalyst.util.GenericArrayData]
        .array.map(_.toString).toSeq
    }
    assert(viaCodegen.toSeq == viaEval)
  }

  test("textNormalize: accents, composition forms, case, whitespace, null") {
    import spark.implicits._
    val cases = Seq(
      "H\u00e9llo  W\u00f6rld",            // composed accents + double space
      "He\u0301llo Wo\u0308rld",           // decomposed base + combining mark
      "  \tCaf\u00e9\nCafe\u0301  ",     // NFC/NFD variants must collide
      "\u0130stanbul",                      // Turkish dotted I: mark stripped pre-lower
      "plain ascii stays put",
      "")
    val got = cases.toDF("text")
      .select(TextExpressions.textNormalize(col("text"))).as[String]
      .collect().toSeq
    assert(got == Seq(
      "hello world",
      "hello world",
      "cafe cafe",
      "istanbul",
      "plain ascii stays put",
      ""))
    // composed and decomposed inputs canonicalize identically — the
    // property exact-dedup fingerprinting needs
    assert(got(0) == got(1))
    val nullRow = Seq[String](null).toDF("text")
      .select(TextExpressions.textNormalize(col("text"))).collect()(0)
    assert(nullRow.isNullAt(0))
  }

  test("charEntropyStats matches the closed form, counts code points") {
    def term9(c: Long, n: Long): Long =
      math.floor(c * math.log(n.toDouble / c.toDouble) * 1e9 + 0.5).toLong
    // "aab": n=3, distinct {a:2, b:1}
    assert(graft.plans.CharEntropyKernel(
      org.apache.spark.unsafe.types.UTF8String.fromString("aab")).toSeq
      == Seq(3L, 2L, term9(2, 3) + term9(1, 3)))
    // Empty doc → all-zero stats (the query layer filters these out).
    assert(graft.plans.CharEntropyKernel(
      org.apache.spark.unsafe.types.UTF8String.fromString("")).toSeq
      == Seq(0L, 0L, 0L))
    // Astral-plane emoji is ONE code point (matches Spark length() and
    // DuckDB length()), not two UTF-16 units.
    assert(graft.plans.CharEntropyKernel(
      org.apache.spark.unsafe.types.UTF8String.fromString("a😀a"))
      .toSeq == Seq(3L, 2L, term9(2, 3) + term9(1, 3)))
    // Codegen path agrees with the kernel.
    import spark.implicits._
    val viaExpr = Seq("aab").toDF("text")
      .select(TextExpressions.charEntropyStats(col("text")))
      .as[Seq[Long]].collect()(0)
    assert(viaExpr == Seq(3L, 2L, term9(2, 3) + term9(1, 3)))
  }

  test("jaro-winkler kernel: textbook values, byte semantics, edges") {
    def jw(a: String, b: String): Double =
      graft.plans.JaroWinklerKernel(
        org.apache.spark.unsafe.types.UTF8String.fromString(a),
        org.apache.spark.unsafe.types.UTF8String.fromString(b))
    assert(jw("MARTHA", "MARHTA") === 0.9611111111111111)
    assert(jw("DUANE", "DWAYNE") === 0.8400000000000001)
    assert(jw("DIXON", "DICKSONX") === 0.8133333333333332)
    assert(jw("CRATE", "TRACE") === 0.7333333333333334) // no prefix
    // byte-level: É is two UTF-8 bytes (DuckDB parity semantics)
    assert(jw("ÉCOLE", "ECOLE") === 0.8222222222222223)
    assert(jw("abc", "abc") === 1.0)
    assert(jw("a", "a") === 1.0)
    assert(jw("", "") === 0.0)   // DuckDB convention
    assert(jw("", "abc") === 0.0)
    assert(jw("ab", "ba") === 0.0) // window 0: no cross-position match
    // boost suppressed below the 0.7 threshold despite shared prefix
    assert(jw("ABQQQQQQ", "ABZZZZZZZZZZ") === 0.47222222222222215)
    // codegen path agrees with the kernel
    import spark.implicits._
    val viaJw = Seq(("MARTHA", "MARHTA")).toDF("a", "b")
      .select(TextExpressions.jaroWinkler(col("a"), col("b")))
      .as[Double].collect()(0)
    assert(viaJw === 0.9611111111111111)
  }

  test("damerau-levenshtein kernel: unrestricted variant, bytes, edges") {
    def dl(a: String, b: String): Long =
      graft.plans.DamerauLevenshteinKernel(
        org.apache.spark.unsafe.types.UTF8String.fromString(a),
        org.apache.spark.unsafe.types.UTF8String.fromString(b))
    // THE unrestricted-vs-OSA witness: edits may sit between the two
    // halves of a transposition (OSA would say 3)
    assert(dl("ca", "abc") === 2L)
    assert(dl("abcd", "acbd") === 1L)   // adjacent transposition
    assert(dl("kitten", "sitting") === 3L)
    assert(dl("recieve", "receive") === 1L) // vs levenshtein's 2
    assert(dl("", "") === 0L)
    assert(dl("", "ab") === 2L)
    assert(dl("abc", "abc") === 0L)
    // byte-level: É is two UTF-8 bytes (DuckDB parity)
    assert(dl("ÉA", "EA") === 2L)
    import spark.implicits._
    val via = Seq(("ca", "abc")).toDF("a", "b")
      .select(TextExpressions.damerauLevenshtein(col("a"), col("b")))
      .as[Long].collect()(0)
    assert(via === 2L)
  }

  test("minhash signature kernel is bit-identical to the HOF formulation") {
    import spark.implicits._
    // real corpus docs + edge shapes (empty set is guarded by callers,
    // but the kernel must still mirror the HOF's k nulls)
    val docs = graft.ops.DocCorpus
      .withDuplicates(spark, "/root/testdata/sf0.001")
      .limit(200)
      .select(graft.functions.TextFunctions
        .shingleHashes(lower(col("text")), 3).as("hashes"))
      .union(Seq(Seq.empty[Long], Seq(0L), Seq(Long.MinValue, Long.MaxValue, 42L))
        .toDF("hashes"))
    for (k <- Seq(1, 32)) {
      val got = docs.select(
        graft.functions.TextFunctions
          .minhashSignatureOfHashes(col("hashes"), k).as("sig")).collect()
      val want = docs.select(
        graft.functions.TextFunctions
          .minhashSignatureOfHashesHof(col("hashes"), k).as("sig")).collect()
      assert(got.map(r => Option(r.get(0)).map(_.toString)).toSeq ==
        want.map(r => Option(r.get(0)).map(_.toString)).toSeq, s"k=$k")
    }
    // interpreted eval path agrees with the codegen'd column path
    val kernel = graft.plans.MinhashSignature(
      org.apache.spark.sql.catalyst.expressions.Literal(null,
        org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.LongType)), 32)
    val sample = Array[Any](7L, -9L, 123456789L)
    val viaEval = kernel.nullSafeEval(
      new org.apache.spark.sql.catalyst.util.GenericArrayData(sample))
      .asInstanceOf[org.apache.spark.sql.catalyst.util.GenericArrayData]
      .array.map(_.asInstanceOf[Long]).toSeq
    val viaCol = Seq(Seq(7L, -9L, 123456789L)).toDF("hashes")
      .select(graft.functions.TextFunctions
        .minhashSignatureOfHashes(col("hashes")).as("sig"))
      .collect()(0).getSeq[Long](0)
    assert(viaEval == viaCol)
  }

  test("poly minhash kernel matches the explode/groupBy-min affine formulation") {
    import spark.implicits._
    val xs = Seq(
      Seq(0L, 1L, 999999999L),
      Seq(123456789L),
      Seq.empty[Long],
      (1L to 50L).map(i => (i * 97003L) % 1000000007L))
    val df = xs.toDF("xs")
    val got = df.select(TextExpressions.polyMinhash(col("xs"), 8).as("s"))
      .collect().map(r => Option(r.get(0)).map(_.toString))
    val want = xs.map { l =>
      if (l.isEmpty) Some(Seq.fill(8)(null).toString)
      else Some((0 until 8).map { j =>
        l.map { x =>
          val a = (2654435761L * (j + 1)) % 1000000007L
          val b = (40503L * (j + 1) + 104729L) % 1000000007L
          (a * x + b) % 1000000007L
        }.min
      }.toString)
    }
    // compare element-wise via the rendered arrays
    val wantRendered = xs.map { l =>
      if (l.isEmpty) "WrappedArray(null, null, null, null, null, null, null, null)"
      else (0 until 8).map { j =>
        l.map { x =>
          val a = (2654435761L * (j + 1)) % 1000000007L
          val b = (40503L * (j + 1) + 104729L) % 1000000007L
          (a * x + b) % 1000000007L
        }.min
      }.mkString("WrappedArray(", ", ", ")")
    }
    got.zip(wantRendered).foreach { case (g, w) =>
      assert(g.exists(_.replace("ArraySeq", "WrappedArray") == w), s"$g vs $w")
    }
  }
}
