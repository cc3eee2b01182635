package graft.expressions

import java.security.MessageDigest

import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Whole-document MinHash signature as ONE per-row expression:
  * `MinHashSignature(text, k, numHashes)` walks the word k-shingles
  * ([[WordGrams]]) and returns `numHashes` minima over the shingle set —
  * value-identical to exploding
  * [[graft.functions.TextFunctions.shingles]] and aggregating with
  * [[MinHashSig]] (and to the DuckDB band CTE the oracles run), but with no
  * generator, no aggregate, and no per-shingle row materialization: the
  * signature pass becomes an embarrassingly parallel projection, the ideal
  * 100 TB shape (dedup state never leaves the row until the tiny
  * (doc_id, band_key) projection shuffles). Each shingle is hashed as its
  * byte span of the document, in place: building the String, splitting it
  * and materializing each shingle's bytes cost ~3× the md5 work itself.
  *
  * Null (⇒ no LSH bands, the "cannot near-dup" contract) for null text and
  * for documents shorter than k words. Duplicate shingles need no dedup:
  * minima over a multiset equal minima over its set.
  */
case class MinHashSignature(child: Expression, shingleK: Int, numHashes: Int)
    extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullable: Boolean = true

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    WordGrams.checkText("minhash_signature", child.dataType)

  private val prefixes = MinHashSignature.streamPrefixes(numHashes)

  override protected def nullSafeEval(input: Any): Any = {
    val bytes = input.asInstanceOf[UTF8String].getBytes
    val starts = WordGrams.starts(bytes)
    val nShingles = WordGrams.count(starts, shingleK)
    if (nShingles <= 0) return null
    val mins = Array.fill(numHashes)(-1) // 0xffffffff = unsigned max
    var s = 0
    while (s < nShingles) {
      MinHashSignature.fold(prefixes, bytes, starts(s),
        WordGrams.length(starts, s, shingleK), mins, numHashes)
      s += 1
    }
    MinHashSignature.hex(mins, numHashes)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** THE MinHash hash family, shared by [[MinHashSignature]], the
  * [[MinHashSig]] aggregate and the DuckDB band CTE of the oracles:
  * component `i` is the 8-hex-char chunk `i % 4` of md5 stream `i / 4`,
  * where stream 0 is `md5(shingle)` and stream `t > 0` is
  * `md5("t:" || shingle)` — the same stream convention as the 64-bit
  * SimHash. One md5 call yields FOUR independent uniform 32-bit
  * components, so a 16-hash signature costs 4 digests per shingle instead
  * of 16; min over equal-length lowercase-hex strings is min over the
  * unsigned 32-bit values, which is how the minima are kept. A 32-bit
  * component range is ample for min-wise hashing: a spurious shared
  * minimum between two documents needs an md5-chunk collision at the min
  * itself (~|A∪B| / 2^32 per component), and LSH candidates are
  * Jaccard-refined downstream anyway.
  */
object MinHashSignature {

  // MessageDigest, deliberately: a from-scratch one-block MD5 measured
  // slower (0.60 s vs 0.45 s for the sf0.1 single-task scan), because the
  // JDK intrinsifies MD5's compression (JDK-8250902). One digest and one
  // output buffer per thread: expressions and aggregate instances can be
  // shared by concurrently running local tasks.
  private final class Md5 {
    val md: MessageDigest = MessageDigest.getInstance("MD5")
    val out = new Array[Byte](16)
  }
  private val md5s = ThreadLocal.withInitial(() => new Md5)

  /** Per-stream prefixes: stream 0 is unprefixed, stream t hashes "t:". */
  def streamPrefixes(numHashes: Int): Array[Array[Byte]] =
    Array.tabulate((numHashes + 3) / 4)(t =>
      if (t == 0) Array.emptyByteArray else s"$t:".getBytes("UTF-8"))

  /** Folds the byte span `(off, len)` of `bytes` into `mins(0 until numHashes)`. */
  def fold(prefixes: Array[Array[Byte]], bytes: Array[Byte], off: Int, len: Int,
      mins: Array[Int], numHashes: Int): Unit = {
    val m = md5s.get()
    val h = m.out
    var t = 0
    while (t < prefixes.length) {
      m.md.reset()
      if (prefixes(t).length > 0) m.md.update(prefixes(t))
      m.md.update(bytes, off, len)
      try m.md.digest(h, 0, 16)
      catch { case e: java.security.DigestException =>
        throw new IllegalStateException(e) }
      var c = 0
      val lim = math.min(4, numHashes - t * 4)
      while (c < lim) {
        val v = ((h(4 * c) & 0xff) << 24) | ((h(4 * c + 1) & 0xff) << 16) |
          ((h(4 * c + 2) & 0xff) << 8) | (h(4 * c + 3) & 0xff)
        val i = t * 4 + c
        if (java.lang.Integer.compareUnsigned(v, mins(i)) < 0) mins(i) = v
        c += 1
      }
      t += 1
    }
  }

  private val HexDigits = "0123456789abcdef".getBytes("US-ASCII")

  /** The signature column: `mins(0 until numHashes)` as 8-char lowercase hex. */
  def hex(mins: Array[Int], numHashes: Int): GenericArrayData =
    new GenericArrayData(Array.tabulate[Any](numHashes) { j =>
      val out = new Array[Byte](8)
      var i = 0
      while (i < 8) {
        out(i) = HexDigits((mins(j) >>> (28 - 4 * i)) & 0xf)
        i += 1
      }
      UTF8String.fromBytes(out)
    })
}
