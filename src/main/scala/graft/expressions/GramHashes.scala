package graft.expressions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, XXH64}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** Positional word k-gram FINGERPRINTS as one per-row expression:
  * `GramHashes(text, k)` → array<struct<start:int, gh:long>> — for every
  * gram start position, a 64-bit XXH64 over the gram's UTF-8 bytes with
  * single-space separators (byte-identical input to what hashing the
  * `concat_ws(' ', slice(...))` gram STRING would see).
  *
  * WHY (the [[WinnowFingerprints]] rationale, applied to the
  * boilerplate/dup-span family): the lambda chain
  * `transform(sequence(...), i -> struct(i, concat_ws(' ', slice(...))))`
  * has no codegen — every gram pays interpreted eval, a slice array and
  * a gram STRING allocation — and the gram string then travels the wire
  * as a ~(6·k)-byte join/aggregate key. tx_boilerplate's profile at
  * sf0.1 (PlanMetrics): the corpus runs that chain TWICE (flag leg +
  * join-back leg) and the gram-keyed exchange moves 16.6 MB. This
  * expression is one tight loop per row (XXH64 over each gram's byte
  * span of the document, in place — [[WordGrams]]) and its 8-byte hash
  * is the shuffle key.
  *
  * FINGERPRINT-EQUALITY CONTRACT (the lshCandidatePairs md5-key /
  * dd_winnow precedent): downstream equality on `gh` treats a 64-bit
  * collision — two DIFFERENT grams, same hash — as gram equality. At
  * fixture scale the probability is ~10⁻¹⁰; at 10¹² distinct grams the
  * birthday estimate is ~30 collisions corpus-wide, each at worst
  * flagging one innocent k-gram's positions as boilerplate (a few
  * tokens scrubbed) — negligible next to the recall loss any LSH-based
  * stage already accepts. Callers needing exactness re-derive strings
  * for flagged occurrences only (bounded by duplicated-gram mass).
  *
  * Contract pinned to the lambda form: words as in [[WordGrams]]; fewer
  * than k words (and NULL text) → EMPTY array, never null; start
  * positions are 0-based gram starts in document order.
  */
case class GramHashes(child: Expression, k: Int)
    extends UnaryExpression with CodegenFallback {
  require(k >= 1, "gram k must be positive")

  override def dataType: DataType = ArrayType(
    StructType(Seq(
      StructField("start", IntegerType, nullable = false),
      StructField("gh", LongType, nullable = false))),
    containsNull = false)
  override def nullable: Boolean = false

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    WordGrams.checkText("gram_hashes", child.dataType)

  private val empty = new GenericArrayData(Array.empty[Any])

  override def eval(input: InternalRow): Any = {
    val v = child.eval(input)
    if (v == null) return empty
    val bytes = v.asInstanceOf[UTF8String].getBytes
    val starts = WordGrams.starts(bytes)
    val n = WordGrams.count(starts, k)
    if (n <= 0) return empty
    val out = new Array[Any](n)
    var i = 0
    while (i < n) {
      val gh = XXH64.hashUnsafeBytes(bytes, Platform.BYTE_ARRAY_OFFSET + starts(i),
        WordGrams.length(starts, i, k), 42L)
      out(i) = InternalRow(i, gh)
      i += 1
    }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(newChild: Expression): GramHashes =
    copy(child = newChild)

  override def prettyName: String = "gram_hashes"
}
