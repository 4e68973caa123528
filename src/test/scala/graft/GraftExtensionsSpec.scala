package graft

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions.{array, lit}

/** GraftExtensions: the spark.sql.extensions installation path makes
  * every graft kernel callable from pure SQL; the Scala helpers and
  * gate builders need no function-registry entry. */
class GraftExtensionsSpec extends SparkSpec {

  test("injected functions resolve and evaluate from pure SQL") {
    withBareSession(_.withExtensions(new GraftExtensions())) { s2 =>
      val dot = s2.sql(
        "SELECT graft_vector_dot(array(1.0d, 2.0d), array(3.0d, 4.0d))")
        .head().getDouble(0)
      assert(dot == 11.0)

      val grams = s2.sql(
        "SELECT graft_token_ngrams(array('a','b','c'), 2, false)")
        .head().getSeq[String](0)
      assert(grams == Seq("a b", "b c"))

      val hashes = s2.sql(
        "SELECT graft_xxhash_array(array('x','y'), 42L)")
        .head().getSeq[Long](0)
      val builtin = s2.sql("SELECT xxhash64('x'), xxhash64('y')").head()
      assert(hashes == Seq(builtin.getLong(0), builtin.getLong(1)))

      val sh = s2.sql("SELECT graft_simhash64(array('a','a','b'))")
        .head().getLong(0)
      // majority vote of two hashes where 'a' appears twice: 2/3 > 1/2
      // on every bit of hash('a'), so the simhash IS hash('a').
      assert(sh == builtinHash(s2, "a"))

      val maxAbs = s2.sql(
        "SELECT graft_vector_max_abs(array(0.5d, -2.0d, 1.0d))")
        .head().getDouble(0)
      assert(maxAbs == 2.0)

      val q = s2.sql(
        "SELECT graft_vector_quantize_int8(array(1.0d, -0.5d), 1.0d)")
        .head().getSeq[Int](0)
      assert(q == Seq(127, -63)) // floor(-63.5 + 0.5) = -63

      val norm = s2.sql(
        "SELECT graft_text_normalize('Héllo  Wörld')")
        .head().getString(0)
      assert(norm == "hello world")
    }
  }

  test("the extension resolves all 17 names; each SQL builder " +
      "evaluates to the same kernel as its typed Scala helper") {
    import graft.plans.TextExpressions._
    val text = "The quick brown fox jumps over the lazy dog. " * 6
    val hashes = array(lit(3L), lit(-7L), lit(11L), lit(42L))
    val cases: Seq[(String, Column)] = Seq(
      "graft_poly31('héllo wörld')" -> poly31Hash(lit("héllo wörld")),
      s"graft_char_entropy('$text')" -> charEntropyStats(lit(text)),
      "graft_jaro_winkler('MARTHA', 'MARHTA')" ->
        jaroWinkler(lit("MARTHA"), lit("MARHTA")),
      "graft_damerau_levenshtein('ca', 'abc')" ->
        damerauLevenshtein(lit("ca"), lit("abc")),
      "graft_minhash_signature(array(3L, -7L, 11L, 42L), 8)" ->
        minhashSignature(hashes, 8),
      "graft_poly_minhash(array(3L, -7L, 11L, 42L), 8)" ->
        polyMinhash(hashes, 8),
      s"graft_cell_stats('$text', 4)" -> cellStats(lit(text), 4),
      s"graft_cdc_chunks('$text')" -> cdcChunkStats(lit(text)))
    // typed helpers on the shared stock session (no extension)
    val expected = cases.map { case (_, c) =>
      spark.range(1).select(c).head().get(0) }

    withBareSession(_.withExtensions(new GraftExtensions())) { s2 =>
      val names = GraftExtensions.builders.map(_._1)
      assert(names.size == 17 && names.distinct.size == 17, names)
      names.foreach(n => assert(s2.catalog.functionExists(n), n))
      cases.zip(expected).foreach { case ((call, _), want) =>
        assert(s2.sql(s"SELECT $call").head().get(0) == want, call)
      }
    }
  }

  test("gate builders leave the session's function registry alone") {
    val sf = "/root/testdata/sf0.001"
    Seq("sim_hard_negatives", "dedup_memorization_risk", "text_lang_id")
      .foreach(g => SparkEntry.queries(g)(spark, sf).collect())
    val graftFns = spark.sessionState.functionRegistry.listFunction()
      .map(_.funcName).filter(_.startsWith("graft_"))
    assert(graftFns.isEmpty, graftFns)
  }

  private def builtinHash(s: SparkSession, v: String): Long =
    s.sql(s"SELECT xxhash64('$v')").head().getLong(0)
}
