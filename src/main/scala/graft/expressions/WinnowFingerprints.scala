package graft.expressions

import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Winnowing document fingerprints (Schleimer, Wilkerson & Aiken,
  * SIGMOD 2003) as ONE per-row expression: `WinnowFingerprints(text,
  * gramK, window)` walks the word `gramK`-grams ([[WordGrams]]), hashes each
  * (first 16 bits of md5 — the engine-portable hex fold the DuckDB
  * oracles mirror with `conv(substring(md5(g),1,4),16,10)`), and returns
  * the DISTINCT minima of every `window`-wide sliding window, in first-
  * occurrence order — value-identical to the test-only
  * `graft.functions.LambdaReference.winnowFingerprintsLambda` column
  * form (spec-pinned differentially) and to the oracle CTEs.
  *
  * WHY an Expression when array lambdas express the same thing: Spark's
  * higher-order functions (`transform`, `slice`, `array_min`) have no
  * codegen — each gram's md5 runs through interpreted expression eval
  * with per-element boxing, and the window minima allocate a fresh
  * slice per position. Measured at sf0.1 the lambda fingerprint pass
  * alone cost ~14 s — MORE than the whole judged winnow-pair query
  * does with this expression (one tight JVM loop per row, the JDK's
  * intrinsified MessageDigest MD5 over byte spans in place, zero
  * per-window allocation). Same preference
  * order as [[MinHashSignature]]/[[GearChunker]]: native `Expression`
  * over lambda chains over UDFs for the 100 TB row-local hot path.
  *
  * Semantics pinned to the lambda form: words as in [[WordGrams]]; docs
  * with fewer than `gramK` words (and NULL text) yield an EMPTY array,
  * never null; when the gram count is
  * positive but below `window`, the single window is the whole hash
  * list (the `greatest(1, n−w+1)`/truncated-slice rule).
  */
case class WinnowFingerprints(child: Expression, gramK: Int, window: Int)
    extends UnaryExpression with CodegenFallback {
  require(gramK >= 1 && window >= 1, "gramK and window must be positive")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = false

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    WordGrams.checkText("winnow_fingerprints", child.dataType)

  @transient private lazy val digests: ThreadLocal[java.security.MessageDigest] =
    ThreadLocal.withInitial(() => java.security.MessageDigest.getInstance("MD5"))

  private val empty = new GenericArrayData(Array.empty[Any])

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val v = child.eval(input)
    if (v == null) return empty // the lambda form's null-text contract
    // each gram's md5 runs over its byte span of the document, in place
    val bytes = v.asInstanceOf[UTF8String].getBytes
    val starts = WordGrams.starts(bytes)
    val nGrams = WordGrams.count(starts, gramK)
    if (nGrams <= 0) return empty
    // gram hashes: first 2 md5 digest bytes as an unsigned 16-bit long.
    // MessageDigest, deliberately — see the MinHashSignature companion: a
    // hand one-block MD5 measured slower than the JDK's intrinsified one
    val md = digests.get()
    val h = new Array[Byte](16)
    val hashes = new Array[Long](nGrams)
    var i = 0
    while (i < nGrams) {
      md.reset()
      md.update(bytes, starts(i), WordGrams.length(starts, i, gramK))
      try md.digest(h, 0, 16)
      catch { case e: java.security.DigestException =>
        throw new IllegalStateException(e) }
      hashes(i) = (((h(0) & 0xff) << 8) | (h(1) & 0xff)).toLong
      i += 1
    }
    // distinct sliding-window minima, first-occurrence order
    val nWin = if (nGrams >= window) nGrams - window + 1 else 1
    val seen = new java.util.HashSet[Long]()
    val out = new scala.collection.mutable.ArrayBuffer[Any](nWin)
    var w = 0
    while (w < nWin) {
      var m = hashes(w)
      var k = w + 1
      val lim = math.min(w + window, nGrams)
      while (k < lim) {
        if (hashes(k) < m) m = hashes(k)
        k += 1
      }
      if (seen.add(m)) out += m
      w += 1
    }
    new GenericArrayData(out.toArray)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}
