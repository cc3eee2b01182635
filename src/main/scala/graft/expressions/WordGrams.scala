package graft.expressions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult.{TypeCheckFailure, TypeCheckSuccess}
import org.apache.spark.sql.types.{DataType, StringType}

/** The one word walk behind the word k-gram expressions ([[ShingleSet]],
  * [[GramHashes]], [[WinnowFingerprints]], [[MinHashSignature]]).
  *
  * Words are the tokens of `toString.split(" ", -1)`: split on every
  * single space, leading, middle and trailing empty tokens kept, so `""`
  * is one empty word and `" "` two. A gram of width k is its k words
  * joined with `' '`, and that join IS the original byte span from the
  * start of its first word to the end of its last (every boundary was one
  * space), so callers hash or copy the span in place and never build a
  * token or gram string.
  *
  * The walk runs on raw UTF-8 bytes and is exact on well-formed UTF-8,
  * where `0x20` never occurs inside a multi-byte sequence, so byte-level
  * and char-level splitting agree (the parquet string contract). On
  * malformed input a char-level split would first have replaced the bad
  * sequences with U+FFFD; only there could the two differ.
  */
object WordGrams {

  /** Word start offsets of `bytes` plus the sentinel `bytes.length + 1`:
    * `starts.length` is the word count + 1 (at least 2), and gram `i` of
    * width `k` is the span `(starts(i), starts(i + k) − 1 − starts(i))`. */
  def starts(bytes: Array[Byte]): Array[Int] = {
    val n = bytes.length
    var nWords = 1
    var p = 0
    while (p < n) { if (bytes(p) == ' ') nWords += 1; p += 1 }
    val starts = new Array[Int](nWords + 1)
    var w = 1
    p = 0
    while (p < n) {
      if (bytes(p) == ' ') { starts(w) = p + 1; w += 1 }
      p += 1
    }
    starts(nWords) = n + 1 // the sentinel: word w ends at starts(w + 1) − 1
    starts
  }

  /** Number of width-`k` grams; zero or negative below `k` words. */
  def count(starts: Array[Int], k: Int): Int = starts.length - k

  /** Byte length of gram `i` of width `k`. */
  def length(starts: Array[Int], i: Int, k: Int): Int = starts(i + k) - 1 - starts(i)

  /** The type check every word-gram expression shares. */
  def checkText(name: String, dataType: DataType): TypeCheckResult =
    if (dataType == StringType) TypeCheckSuccess
    else TypeCheckFailure(s"$name expects a string column, got $dataType")
}
