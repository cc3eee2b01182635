package graft.expressions

import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Distinct word k-gram shingles as ONE per-row expression —
  * value-identical (elements AND first-occurrence order) to the
  * array-lambda form kept as
  * the test-only `graft.functions.LambdaReference.shinglesLambda` and to the DuckDB
  * shingle CTEs the dedup oracles run.
  *
  * WHY (the [[WinnowFingerprints]] rationale): `transform` +
  * `array_distinct` have no codegen — every gram pays interpreted eval
  * with boxed elements, and this column sits on the HOT paths of the
  * whole shingle-dedup family (prefix-filter sets, Jaccard refine,
  * containment, MinHash-estimate) AND the quality-features repetition
  * ratio (`size(shingles)/(n_tok−1)`) that the rule gate, the trained
  * classifier, and the model-serve path all evaluate per document.
  * Measured at sf0.1: the shingle-set materialization alone dropped
  * ~2.6 s → ~0.2 s.
  *
  * Contract pinned to the lambda form: words as in [[WordGrams]]; fewer
  * than k words (and NULL text) → EMPTY array, never null; duplicates
  * collapse to the first occurrence. Each shingle is a copy of its byte
  * span, so no output aliases the input row's buffer.
  */
case class ShingleSet(child: Expression, k: Int)
    extends UnaryExpression with CodegenFallback {
  require(k >= 1, "shingle k must be positive")

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullable: Boolean = false

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    WordGrams.checkText("shingle_set", child.dataType)

  private val empty = new GenericArrayData(Array.empty[Any])

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val v = child.eval(input)
    if (v == null) return empty
    val bytes = v.asInstanceOf[UTF8String].getBytes
    val starts = WordGrams.starts(bytes)
    val n = WordGrams.count(starts, k)
    if (n <= 0) return empty
    val seen = new java.util.HashSet[UTF8String]()
    val out = new scala.collection.mutable.ArrayBuffer[Any](n)
    var i = 0
    while (i < n) {
      // fromBytes(bytes, off, len) copies the span
      val g = UTF8String.fromBytes(bytes, starts(i), WordGrams.length(starts, i, k))
      if (seen.add(g)) out += g
      i += 1
    }
    new GenericArrayData(out.toArray)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}
