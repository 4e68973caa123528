package graft

import org.apache.spark.sql.functions._

import graft.functions.TextFunctions._

class TextFunctionsSpec extends SparkSpec {

  private def one[T](c: org.apache.spark.sql.Column, text: String): T = {
    import spark.implicits._
    Seq(text).toDF("text").select(c).collect()(0).get(0).asInstanceOf[T]
  }

  test("tokens: whitespace runs, trim, empty text") {
    assert(one[scala.collection.Seq[String]](tokens(col("text")), "  a  b\tc \n d ")
      == Seq("a", "b", "c", "d"))
    assert(one[scala.collection.Seq[String]](tokens(col("text")), "").isEmpty)
    assert(one[scala.collection.Seq[String]](tokens(col("text")), "   ").isEmpty)
  }

  test("subwordCount: ~1 token per 4 chars of word, min 1") {
    assert(one[Long](subwordCount(col("text")), "ab") == 1L)
    assert(one[Long](subwordCount(col("text")), "abcdefgh") == 2L)
    assert(one[Long](subwordCount(col("text")), "ab abcdefgh x") == 4L)
    assert(one[Long](subwordCount(col("text")), "") == 0L)
  }

  test("qualityScore stays in [0,1] across pathological inputs") {
    for (t <- Seq("", "a", "!!!???...", "the " * 300,
        "x" * 1000, "the and of to in is that it")) {
      val q = one[Double](qualityScore(col("text")), t)
      assert(q >= 0.0 && q <= 1.0, s"quality($t) = $q")
    }
  }

  test("langId: marker majority, und when nothing hits, tie → code order") {
    assert(one[String](langId(col("text")),
      "the cat and the dog of the house") == "en")
    assert(one[String](langId(col("text")),
      "der hund und die katze ist nicht da") == "de")
    assert(one[String](langId(col("text")), "zzz qqq 123") == "und")
    // one marker each for de and en: tie resolves to first code (de)
    assert(one[String](langId(col("text")), "der the") == "de")
  }

  test("fingerprint: normalization-invariant, content-sensitive") {
    val a = one[Long](fingerprint(col("text")), "Hello   World")
    val b = one[Long](fingerprint(col("text")), "  hello world ")
    val c = one[Long](fingerprint(col("text")), "hello worlds")
    assert(a == b && a != c)
  }

  test("shingles: n-gram windows and short-text degenerate case") {
    assert(one[scala.collection.Seq[String]](shingles(col("text"), 3), "a b c d")
      == Seq("a b c", "b c d"))
    assert(one[scala.collection.Seq[String]](shingles(col("text"), 3), "a b") == Seq("a b"))
  }

  test("bm25: ranked, bounded to k, and planned as a distributed top-k") {
    val df = graft.ops.TextAnalysis.bm25TopK(spark,
      "/root/testdata/sf0.001", k = 10)
    val rows = df.collect()
    assert(rows.length <= 10)
    val scores = rows.map(_.getDouble(1))
    assert(scores.sameElements(scores.sorted.reverse), "descending order")
    assert(scores.forall(_ > 0.0), "query-term hits only")
    // the top-k must be TakeOrderedAndProject (per-partition heaps),
    // never a single-partition global window sort
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), plan)
  }

  test("heavy hitters: sketch-independent exactness and joinless probe") {
    import org.apache.spark.sql.functions.{count => fcount}
    val sf = "/root/testdata/sf0.001"
    val exact = {
      val grams = Tables.documents(spark, sf).select(explode(
        graft.plans.TextExpressions.tokenNGrams(
          split(col("text"), " "), 2, emitWholeShortDoc = false)).as("g"))
        .groupBy("g").agg(fcount(lit(1)).as("c")).collect()
      val total = grams.map(_.getLong(1)).sum
      val thr = math.ceil(0.0015 * total).toLong
      grams.filter(_.getLong(1) >= thr)
        .map(r => r.getString(0) -> r.getLong(1)).toMap
    }
    // A width this narrow (8 buckets for ~900 grams) forces heavy CMS
    // collisions; the exact verify phase must erase them all.
    for (width <- Seq(1024, 8)) {
      val df = graft.ops.TextAnalysis.heavyHitters(spark, sf, width = width)
      val got = df.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(got == exact, s"width=$width")
      // probe phase is a pure projection: sketch rides in as literal
      // maps, so the plan must contain no join of any kind
      assert(!df.queryExecution.executedPlan.toString.contains("Join"))
    }
  }
}
