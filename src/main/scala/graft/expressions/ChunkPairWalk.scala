package graft.expressions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** The chunk-pair merge walk behind the exact set-similarity joins, one
  * CHUNK PAIR per evaluation: given two doc-id-sorted chunks of items —
  * struct(doc_id, ..., xs) with `xs` the doc's SORTED array<long> — the
  * diagonal flag (same chunk) and the unit's bucket key, emit
  * (doc_a, doc_b, n) for every item pair the caller's [[ChunkPairWalk.PairTest]]
  * accepts, all inside one tight JVM loop over primitive longs.
  *
  * WHY an expression: every formulation that surfaces the candidate pairs
  * as ROWS pays for the quadratic mass — a candidates-then-attach join
  * shuffles the array payload once per candidate, a generator fusion
  * copies the partner chunk's array into every emitted row (an
  * allocation-rate OOM at the sf1 fixture), and a pair-keyed count
  * aggregate builds one hash-table group per candidate only to discard
  * nearly all of them. Here the quadratic mass exists only as loop
  * iterations, and only accepted pairs — output-sized — materialize.
  *
  * Inputs must be doc-id-sorted with doc_id leading the struct
  * (sort_array order), so every emitted pair has doc_a < doc_b: the
  * diagonal walks j > i, and in a cross unit every left-chunk id
  * precedes every right-chunk id. Any null input yields null (no pairs).
  */
case class ChunkPairWalk(ba: Expression, bb: Expression,
    diagonal: Expression, key: Expression, test: ChunkPairWalk.PairTest)
    extends Expression with CodegenFallback {

  override def children: Seq[Expression] = Seq(ba, bb, diagonal, key)
  override def dataType: DataType = ChunkPairWalk.OutType
  override def nullable: Boolean = true

  private val width = test.itemTypes.length + 1

  override def checkInputDataTypes(): TypeCheckResult = {
    def chunkOk(dt: DataType): Boolean = dt match {
      case ArrayType(StructType(fields), _) =>
        fields.map(_.dataType).toSeq == LongType +: test.itemTypes
      case _ => false
    }
    if (chunkOk(ba.dataType) && chunkOk(bb.dataType) &&
        diagonal.dataType == BooleanType && key.dataType == test.keyType)
      TypeCheckResult.TypeCheckSuccess
    else
      TypeCheckResult.TypeCheckFailure(
        s"$test expects two array<struct<long, " +
          s"${test.itemTypes.map(_.simpleString).mkString(", ")}>> chunks " +
          s"(no null arrays), a boolean and a ${test.keyType.simpleString}, " +
          s"got ${ba.dataType} / ${bb.dataType} / ${diagonal.dataType} / " +
          s"${key.dataType}")
  }

  override def eval(input: InternalRow): Any = {
    val l = ba.eval(input)
    val r = bb.eval(input)
    val d = diagonal.eval(input)
    val k = key.eval(input)
    if (l == null || r == null || d == null || k == null) return null
    val ca = l.asInstanceOf[ArrayData]
    val cb = r.asInstanceOf[ArrayData]
    val diag = d.asInstanceOf[Boolean]
    val nA = ca.numElements()
    val nB = cb.numElements()
    val out = scala.collection.mutable.ArrayBuffer.empty[InternalRow]
    var i = 0
    while (i < nA) {
      val a = ca.getStruct(i, width)
      val idA = a.getLong(0)
      val xa = a.getArray(width - 1)
      var j = if (diag) i + 1 else 0
      while (j < nB) {
        val b = cb.getStruct(j, width)
        val n = test(a, xa, b, k)
        if (n >= 0) out += InternalRow(idA, b.getLong(0), n)
        j += 1
      }
      i += 1
    }
    new GenericArrayData(out.toArray[Any])
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(ba = newChildren(0), bb = newChildren(1),
      diagonal = newChildren(2), key = newChildren(3))
}

object ChunkPairWalk {

  val OutType: DataType = ArrayType(StructType(Seq(
    StructField("doc_a", LongType, nullable = false),
    StructField("doc_b", LongType, nullable = false),
    StructField("n", LongType, nullable = false))), containsNull = false)

  /** The per-pair test a caller plugs into the walk. */
  sealed trait PairTest extends Serializable {
    /** Item field types after the leading doc_id; the last is the doc's
      * sorted array<long> the walk hands over as `xa`. */
    def itemTypes: Seq[DataType]
    def keyType: DataType
    /** `n ≥ 0` emits (doc_a, doc_b, n); a negative result skips the pair.
      * `xa` is item `a`'s trailing array, read once per left item. */
    def apply(a: InternalRow, xa: ArrayData, b: InternalRow, key: Any): Long
  }

  /** The prefix-join refine SCREEN over struct(doc_id, n, rn, shh) items,
    * `shh` the doc's sorted 64-bit shingle hashes: the length band, the
    * PPJoin positional filter, then a merge-walk Jaccard-at-threshold test
    * over the HASH arrays; `n` is the hash intersection count.
    *
    * LOSSLESS screen, not the final answer: 64-bit hashing can only merge
    * distinct shingles, so the hash-walk intersection count is ≥ the true
    * string count and the hash Jaccard ≥ the true Jaccard — no qualifying
    * pair is ever dropped (the ~2⁻⁶⁴-rate false admits cost one extra row
    * in the exact string-walk CONFIRM the caller runs on the survivors).
    *
    * EVERY threshold comparison carries the same one-sided 1e-9 fp guard
    * as the Column forms: band `max·t − 1e-9 ≤ min`, positional
    * `1 + min(na−ra, nb−rb) ≥ ⌈t·max − 1e-9⌉`, early-exit bail only when
    * clearly below `t·(na+nb) − 1e-9`. A double product can round ABOVE
    * its rational value (10·0.9 = 9.000000000000002; 9·1.9 =
    * 17.099999999999998 < 0.9·19 = 17.1), which without the guard rejects
    * pairs whose true jaccard EQUALS the threshold (PrefixGuardSpec's
    * boundary corpus). The slack only admits candidates; the exact
    * confirm removes false admits. */
  final case class PrefixJaccard(threshold: Double) extends PairTest {
    val itemTypes: Seq[DataType] = Seq(IntegerType, IntegerType,
      ArrayType(LongType, containsNull = false))
    val keyType: DataType = StringType

    def apply(a: InternalRow, xa: ArrayData, b: InternalRow, key: Any): Long = {
      val na = a.getInt(1)
      val nb = b.getInt(1)
      val mx = if (na > nb) na else nb
      val mn = if (na > nb) nb else na
      if (mx * threshold - 1e-9 <= mn &&
          1L + math.min(na - a.getInt(2), nb - b.getInt(2)).toLong >=
            math.ceil(threshold * mx - 1e-9).toLong) {
        val ic = screenCount(xa, b.getArray(3),
          threshold * (na.toDouble + nb.toDouble))
        if (ic >= 0 &&
            ic.toDouble / (na.toLong + nb.toLong - ic).toDouble >= threshold) ic
        else -1L
      } else -1L
    }

    /** Multiset intersection count with the conservative early exit: -1
      * once even matching EVERY remaining element cannot reach the
      * threshold, maxAch·(1+t) < t·(na+nb) — only when CLEARLY below (at
      * rational equality the fp products can straddle, and an unguarded
      * bail drops a true boundary pair). */
    private def screenCount(a: ArrayData, b: ArrayData, tSum: Double): Long = {
      val na = a.numElements()
      val nb = b.numElements()
      var i = 0
      var j = 0
      var n = 0L
      while (i < na && j < nb) {
        val maxAch = n + math.min(na - i, nb - j)
        if (maxAch * (1.0 + threshold) < tSum - 1e-9) return -1L
        val x = a.getLong(i)
        val y = b.getLong(j)
        if (x == y) { n += 1; i += 1; j += 1 }
        else if (x < y) i += 1
        else j += 1
      }
      n
    }
  }

  /** The winnow-pair overlap count over struct(doc_id, fps) items, `fps`
    * the doc's SORTED DISTINCT winnow fingerprints, in the bucket keyed by
    * fingerprint `key`: emits n = |shared| when the pair's MINIMUM shared
    * fingerprint is the bucket key and n reaches `minShared`.
    *
    * EXACTLY-ONCE emission without a distinct: a pair sharing the set S
    * co-occurs in |S| buckets and is emitted only from the one holding
    * min(S); within a bucket it meets in exactly one (ci ≤ cj) chunk unit.
    * A pair whose FIRST shared fingerprint is not the key is abandoned at
    * that step, and the walk bails once even a full-overlap tail cannot
    * reach `minShared` — so an emitted n is always the full-walk count. */
  final case class MinFingerprintOverlap(minShared: Int) extends PairTest {
    require(minShared >= 1, "minShared must be positive")
    val itemTypes: Seq[DataType] = Seq(ArrayType(LongType, containsNull = false))
    val keyType: DataType = LongType

    def apply(a: InternalRow, xa: ArrayData, b: InternalRow, key: Any): Long = {
      val fp = key.asInstanceOf[Long]
      val xb = b.getArray(1)
      val na = xa.numElements()
      val nb = xb.numElements()
      var i = 0
      var j = 0
      var n = 0L
      while (i < na && j < nb) {
        if (n + math.min(na - i, nb - j) < minShared) return -1L
        val x = xa.getLong(i)
        val y = xb.getLong(j)
        if (x == y) {
          if (n == 0L && x != fp) return -1L
          n += 1; i += 1; j += 1
        }
        else if (x < y) i += 1
        else j += 1
      }
      if (n >= minShared) n else -1L
    }
  }
}
