package graft

import org.apache.spark.sql.SparkSession

/** GraftExtensions: the spark.sql.extensions installation path makes
  * every graft kernel callable from pure SQL on a session that never
  * ran the imperative register() calls. */
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

  private def builtinHash(s: SparkSession, v: String): Long =
    s.sql(s"SELECT xxhash64('$v')").head().getLong(0)
}
