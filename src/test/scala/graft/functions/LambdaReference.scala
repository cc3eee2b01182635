package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** TEST-ONLY differential references: the original array-lambda
  * formulations of [[graft.expressions.ShingleSet]],
  * [[graft.expressions.WinnowFingerprints]] and
  * [[graft.expressions.MinHashSignature]], kept so the specs can pin
  * the native expressions element-for-element against an independent
  * derivation. Deliberately OUT of main: Spark's
  * higher-order array functions have no codegen, so these forms pay
  * interpreted per-gram md5 + per-window slice allocation — measured
  * ~10× the native expressions at sf0.1 — and nothing in `queries/`
  * must be able to reach for them.
  */
object LambdaReference {

  /** The edge inputs every word-walk kernel's parity test runs
    * ([[graft.expressions.WordGrams]]): null, empty and all-space text,
    * one and two words, repeated grams, empty middle words, a leading and
    * a trailing space, and multi-byte UTF-8 words up to a 4-byte emoji. */
  val wordWalkEdges: Seq[String] = Seq(null, "", " ", "a", "a b",
    "a b a b a", "x  y  z", " leading space", "trailing space ",
    "víde😀 ünïcode wörds détails müst mätch")

  /** Lambda form of [[TextFunctions.shingles]] /
    * [[graft.expressions.ShingleSet]]: distinct word k-gram shingles via
    * `transform(sequence(...))`. */
  def shinglesLambda(c: Column, k: Int = 2): Column = {
    val parts = TextFunctions.tokens(c)
    val grams = transform(
      sequence(lit(0), size(parts) - k),
      i => concat_ws(" ", (0 until k).map(j => element_at(parts, i + j + 1)): _*))
    when(size(parts) >= k, array_distinct(grams))
      .otherwise(array().cast("array<string>"))
  }

  /** Lambda form of [[TextFunctions.winnowFingerprints]] /
    * [[graft.expressions.WinnowFingerprints]]: word-gram 16-bit hashes
    * (first 4 md5 hex chars), distinct per-window minima. */
  def winnowFingerprintsLambda(c: Column, gramK: Int = 3,
      window: Int = 4): Column = {
    val parts = TextFunctions.tokens(c)
    val grams = when(size(parts) >= gramK,
      transform(sequence(lit(1), size(parts) - (gramK - 1)), i =>
        concat_ws(" ", (0 until gramK).map(o => element_at(parts, i + o)): _*)))
      .otherwise(array().cast("array<string>"))
    val hashes = transform(grams, g =>
      conv(substring(md5(g), 1, 4), 16, 10).cast("long"))
    when(size(hashes) >= 1,
      array_distinct(transform(
        sequence(lit(1), greatest(lit(1), size(hashes) - (window - 1))), j =>
          array_min(slice(hashes, j, lit(window))))))
      .otherwise(array().cast("array<long>"))
  }

  /** One MinHash component over a shingle array, in the canonical family
    * ([[graft.expressions.MinHashSignature]]): the min over shingles of the
    * 8-hex-char chunk `i % 4` of md5 stream `i / 4` (stream 0 unprefixed,
    * stream t = "t:" || x). An empty array gives null. */
  def minhashLambda(shingleArr: Column, component: Int): Column = {
    val stream = component / 4
    val chunk = component % 4
    array_min(transform(shingleArr, x =>
      substring(if (stream == 0) md5(x) else md5(concat(lit(s"$stream:"), x)),
        chunk * 8 + 1, 8)))
  }

  /** Lambda form of [[TextFunctions.minhashSignature]] over a shingle
    * array: `numHashes` [[minhashLambda]] components. */
  def minhashSignatureLambda(shingleArr: Column, numHashes: Int): Column =
    array((0 until numHashes).map(i => minhashLambda(shingleArr, i)): _*)
}
