package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.StringType
import org.apache.spark.unsafe.types.UTF8String

import graft.plans._

/** Idiomatic library installation point: the codegen'd graft kernels
  * as permanent SQL functions via `SparkSessionExtensions`, so a
  * cluster user enables the whole library with
  *
  * {{{
  *   spark.sql.extensions=graft.GraftExtensions
  * }}}
  *
  * and every session — including pure-SQL clients over Thrift — can
  * call the 17 `graft_*` functions of [[GraftExtensions.builders]]
  * without any driver-side code. This is the only place they enter a
  * function registry: the Scala helpers in `graft.plans`
  * (`TextExpressions.tokenNGrams`, `VectorExpressions.vectorDot`, …)
  * build the same kernels directly as `Column`s, so the query
  * builders in `graft.ops` need no registration on stock sessions.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftExtensions.builders.foreach { case (name, usage, builder) =>
      ext.injectFunction((
        FunctionIdentifier(name),
        new ExpressionInfo(classOf[GraftExtensions].getName, name, usage),
        builder))
    }
    // The native ASOF JOIN planner strategy (graft.plans.AsofJoinPlan
    // → AsofJoinExec); sessions built without extensions get it
    // per-session via experimental.extraStrategies in
    // AsofJoinNative.join.
    ext.injectPlannerStrategy(_ => graft.plans.AsofJoinStrategy)
  }
}

object GraftExtensions {

  /** (name, usage, builder) for every graft SQL function. Integer,
    * flag and set arguments must be literals: they parameterize the
    * generated code. */
  val builders: Seq[(String, String, Seq[Expression] => Expression)] = Seq(
    ("graft_vector_dot",
      "graft_vector_dot(a, b) - codegen'd dot product over array<double>",
      es => VectorDot(es(0), es(1))),
    ("graft_vector_l2sq",
      "graft_vector_l2sq(a, b) - codegen'd squared L2 distance",
      es => VectorL2Sq(es(0), es(1))),
    ("graft_vector_max_abs",
      "graft_vector_max_abs(a) - codegen'd max |element| (int8 quantization scale)",
      es => VectorMaxAbs(es(0))),
    ("graft_vector_quantize_int8",
      "graft_vector_quantize_int8(a, scale) - codegen'd symmetric int8 codes",
      es => VectorQuantizeInt8(es(0), es(1))),
    ("graft_token_ngrams",
      "graft_token_ngrams(tokens, n, emitWholeShortDoc) - word n-grams",
      es => TokenNGrams(es(0), int(es(1)), es(2).eval().asInstanceOf[Boolean])),
    ("graft_xxhash_array",
      "graft_xxhash_array(arr, seed) - xxhash64 of every array element",
      es => XxHashArray(es(0), es(1).eval() match {
        case l: Long => l
        case i: Int => i.toLong
      })),
    ("graft_simhash64",
      "graft_simhash64(tokens) - 64-bit SimHash of a token array",
      es => SimHash64FromTokens(es(0))),
    ("graft_count_in_set",
      "graft_count_in_set(tokens, set) - tokens contained in a fixed set",
      es => TokenCountInSet(es(0), es(1).eval().asInstanceOf[ArrayData]
        .toArray[UTF8String](StringType).toSeq.map(_.toString))),
    ("graft_text_normalize",
      "graft_text_normalize(s) - Unicode canonicalization (NFD mark-strip, NFC, lower, ws-collapse)",
      es => TextNormalize(es(0))),
    ("graft_poly31",
      "graft_poly31(s) - rolling poly-31 hash of a string",
      es => Poly31Hash(es(0))),
    ("graft_char_entropy",
      "graft_char_entropy(s) - [n_chars, n_distinct, term9_sum] char-entropy stats",
      es => CharEntropyStats(es(0))),
    ("graft_jaro_winkler",
      "graft_jaro_winkler(a, b) - byte-level Jaro-Winkler similarity",
      es => JaroWinkler(es(0), es(1))),
    ("graft_damerau_levenshtein",
      "graft_damerau_levenshtein(a, b) - byte-level unrestricted Damerau-Levenshtein distance",
      es => DamerauLevenshtein(es(0), es(1))),
    ("graft_minhash_signature",
      "graft_minhash_signature(hashes, k) - k-permutation MinHash signature of array<long>",
      es => MinhashSignature(es(0), int(es(1)))),
    ("graft_poly_minhash",
      "graft_poly_minhash(hashes, k) - affine-family MinHash signature of array<long>",
      es => PolyMinhashSignature(es(0), int(es(1)))),
    ("graft_cell_stats",
      "graft_cell_stats(s, cells) - array<struct<cell, cnt, sum>> box-filter bins",
      es => CellByteStats(es(0), int(es(1)))),
    ("graft_cdc_chunks",
      "graft_cdc_chunks(s) - [n_chunks, sum_len, max_chunk, fp_sum] CDC chunk stats",
      es => CdcChunkStats(es(0))))

  private def int(e: Expression): Int = e.eval().asInstanceOf[Int]
}
