package graft.expressions

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkSpec
import ChunkPairWalk.{MinFingerprintOverlap, PairTest, PrefixJaccard}

/** Pins for the chunk-pair merge-walk kernel: the differential of the
  * [[ChunkPairWalk]]-based [[graft.operators.Dedup.prefixFilterPairs]]
  * against an UNFUSED all-pairs reference on real corpus text, and
  * table-driven edge cases for both per-pair tests — the prefix screen
  * and the winnow minimum-fingerprint overlap. */
class ChunkPairWalkSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  /** The unfused reference: exact all-pairs jaccard over sorted shingle
    * sets (small corpus only — the point is independence from the prefix
    * machinery, not scale). */
  private def reference(threshold: Double): Seq[String] = {
    val docs = graft.sources.Tables(spark, sf, "documents")
    val sets = docs
      .select(col("doc_id"),
        sort_array(graft.functions.TextFunctions.shingles(col("text"), 2))
          .as("sh"))
      .filter(size(col("sh")) > 0)
    val pairs = sets.as("a").join(sets.as("b"),
        col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        col("a.sh").as("sh_a"), col("b.sh").as("sh_b"))
    val i = size(array_intersect(col("sh_a"), col("sh_b"))).cast("long")
    rowSet(pairs
      .withColumn("i", i)
      .withColumn("jaccard", col("i").cast("double") /
        (size(col("sh_a")) + size(col("sh_b")) - col("i")).cast("double"))
      .filter(col("jaccard") >= threshold)
      .select(col("doc_a"), col("doc_b"), col("jaccard")))
  }

  test("fused prefixFilterPairs ≡ brute-force jaccard join on real corpus " +
      "text, across thresholds (exact recall — the prefix filter's claim)") {
    val docs = graft.sources.Tables(spark, sf, "documents")
    for (t <- Seq(0.5, 0.8)) {
      val got = rowSet(graft.operators.Dedup.prefixFilterPairs(
        docs, col("doc_id"), col("text"), threshold = t))
      val want = reference(t)
      assert(got === want, s"pair/jaccard set diverged at threshold $t")
      assert(want.nonEmpty, s"fixture has no near-dup pairs at $t — " +
        "the differential would be vacuous")
    }
  }

  /** (doc_a, doc_b, n) emissions of one kernel evaluation over a single
    * (ba, bb, diagonal, key) unit, items typed by the test's declaration. */
  private def walk(test: PairTest, ba: Seq[Row], bb: Seq[Row],
      diagonal: Boolean, key: Any): Seq[String] = {
    val itemT = StructType(StructField("doc_id", LongType, nullable = false) +:
      test.itemTypes.zipWithIndex.map { case (t, i) =>
        StructField(s"f$i", t, nullable = false) })
    val schema = StructType(Seq(
      StructField("ba", ArrayType(itemT, containsNull = false)),
      StructField("bb", ArrayType(itemT, containsNull = false)),
      StructField("diag", BooleanType, nullable = false),
      StructField("key", test.keyType)))
    val df = spark.createDataFrame(
      java.util.Arrays.asList(Row(ba, bb, diagonal, key)), schema)
    import org.apache.spark.sql.GraftBridge.expression
    rowSet(df.select(explode(org.apache.spark.sql.GraftBridge.column(
        ChunkPairWalk(expression(col("ba")), expression(col("bb")),
          expression(col("diag")), expression(col("key")), test))).as("r"))
      .select(col("r.doc_a"), col("r.doc_b"), col("r.n")))
  }

  /** Prefix item: (doc_id, n, rn, sorted shingle hashes). */
  private def pItem(id: Long, shh: Seq[Long], rn: Int = 1) =
    Row(id, shh.length, rn, shh.sorted)
  /** Winnow item: (doc_id, sorted distinct fingerprints). */
  private def wItem(id: Long, fps: Long*) = Row(id, fps.sorted)

  test("expression edge cases: diagonal excludes self/backward pairs, " +
      "cross-chunk emits all admissible pairs, empty survivors allowed") {
    val a1 = pItem(1L, Seq(10L, 20L))
    val a2 = pItem(2L, Seq(10L, 20L))
    val far = pItem(3L, Seq(99L))
    val w1 = wItem(1L, 5L, 7L, 9L)
    val w2 = wItem(2L, 5L, 7L, 9L)
    val w3 = wItem(3L, 1L, 2L, 3L, 4L, 10L)
    val w4 = wItem(4L, 1L, 3L, 4L, 11L, 12L)
    // (label, test, ba, bb, diagonal, bucket key, expected emissions)
    val cases = Seq[(String, PairTest, Seq[Row], Seq[Row], Boolean, Any, Seq[String])](
      ("prefix diagonal: only (1,2)", PrefixJaccard(0.5),
        Seq(a1, a2), Seq(a1, a2), true, "k", Seq("[1,2,2]")),
      ("prefix cross: (1,2) qualifies, (1,3) not", PrefixJaccard(0.5),
        Seq(a1), Seq(a2, far), false, "k", Seq("[1,2,2]")),
      ("prefix diagonal singleton: nothing", PrefixJaccard(0.5),
        Seq(far), Seq(far), true, "k", Nil),
      ("winnow diagonal from the min-fp bucket: only (1,2), n = 3",
        MinFingerprintOverlap(1), Seq(w1, w2), Seq(w1, w2), true, 5L,
        Seq("[1,2,3]")),
      ("winnow: a bucket above the min shared fp emits nothing",
        MinFingerprintOverlap(1), Seq(w1, w2), Seq(w1, w2), true, 7L, Nil),
      ("winnow: a bucket below every shared fp emits nothing",
        MinFingerprintOverlap(1), Seq(w1), Seq(w2), false, 4L, Nil),
      ("winnow cross: exact n over unequal arrays, n == minShared emits",
        MinFingerprintOverlap(3), Seq(w3), Seq(w4), false, 1L,
        Seq("[3,4,3]")),
      ("winnow cross: minShared above the overlap bails",
        MinFingerprintOverlap(4), Seq(w3), Seq(w4), false, 1L, Nil),
      ("winnow cross: both partners of one left item",
        MinFingerprintOverlap(2), Seq(w1), Seq(w2, wItem(5L, 5L, 9L)),
        false, 5L, Seq("[1,2,3]", "[1,5,2]")),
      ("winnow: a null bucket key yields no pairs",
        MinFingerprintOverlap(1), Seq(w1), Seq(w2), false, null, Nil))
    for ((label, test, ba, bb, diagonal, key, want) <- cases)
      assert(walk(test, ba, bb, diagonal, key) === want, label)
  }

  test("hash screen never under-counts: an intra-doc hash collision can " +
      "only raise the screen Jaccard (lossless screen contract)") {
    // doc 1 holds two DISTINCT shingles that collided to hash 7; doc 2
    // holds one shingle with hash 7: true string Jaccard could be as low
    // as 1/3 but the multiset hash walk reports min(2,1)=1 of (3+1-1)=1/3
    // — and with doc 2 = {7,7} the screen sees 2/2 ≥ true — both pass a
    // 0.3 screen, neither is dropped
    val out = walk(PrefixJaccard(0.3), Seq(Row(1L, 3, 1, Seq(7L, 7L, 9L))),
      Seq(Row(2L, 2, 1, Seq(7L, 7L))), diagonal = false, "k")
    assert(out.length === 1, "collision pair must survive the screen")
  }
}
