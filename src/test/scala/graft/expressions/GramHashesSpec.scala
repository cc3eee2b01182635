package graft.expressions

import org.apache.spark.sql.GraftBridge
import org.apache.spark.sql.functions._
import graft.SparkSpec

/** [[GramHashes]] must agree position-for-position with the lambda/string
  * gram form it replaces: same start set, and hash equality ⟺ gram-string
  * equality on corpora where no 64-bit collision exists (everywhere, in
  * practice — the fingerprint-equality contract). */
class GramHashesSpec extends SparkSpec {
  import spark.implicits._

  private def hashed(df: org.apache.spark.sql.DataFrame, k: Int) =
    df.select(col("doc_id"),
        explode(GraftBridge.column(GramHashes(
          GraftBridge.expression(col("text")), k))).as("g"))
      .select(col("doc_id"), col("g.start").as("start"), col("g.gh").as("gh"))

  private def stringGrams(df: org.apache.spark.sql.DataFrame, k: Int) =
    df.select(col("doc_id"), split(col("text"), " ").as("__toks"))
      .select(col("doc_id"),
        explode(when(size(col("__toks")) >= k,
          expr(s"transform(sequence(0, size(__toks) - $k), " +
            s"i -> struct(i AS start, concat_ws(' ', slice(__toks, i + 1, $k)) AS gram))"))
          .otherwise(array())).as("g"))
      .select(col("doc_id"), col("g.start").as("start"), col("g.gram").as("gram"))

  private val docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog again and again"),
    (2L, "the quick brown fox jumps over the lazy cat today"),
    (3L, "completely different content with no shared grams at all"),
    (4L, "short doc"),
    (5L, ""), // split('') = [""] — 1 token
    (6L, "a  b c") // double space: empty middle token survives the split
  ).toDF("doc_id", "text")

  // docs plus the shared word-walk edge table, ids 100 + its index
  private val edgeDocs = docs.unionAll(graft.functions.LambdaReference
    .wordWalkEdges.zipWithIndex.map { case (t, i) => (100L + i, t) }
    .toDF("doc_id", "text"))

  test("positions match the lambda form exactly, for several k") {
    for (k <- Seq(1, 2, 3, 8)) {
      val h = hashed(edgeDocs, k).select("doc_id", "start")
      val s = stringGrams(edgeDocs, k).select("doc_id", "start")
      assert(rowSet(h) === rowSet(s), s"k=$k start sets differ")
    }
  }

  test("hash equality classes == gram-string equality classes") {
    val k = 3
    val joined = hashed(edgeDocs, k).as("h")
      .join(stringGrams(edgeDocs, k).as("s"),
        col("h.doc_id") === col("s.doc_id") && col("h.start") === col("s.start"))
      .select(col("h.gh").as("gh"), col("s.gram").as("gram"))
    // same hash ⟺ same gram: each gh maps to exactly one gram and back
    assert(joined.groupBy("gh").agg(countDistinct(col("gram")).as("n"))
      .filter(col("n") > 1).count() === 0, "one hash covers two grams")
    assert(joined.groupBy("gram").agg(countDistinct(col("gh")).as("n"))
      .filter(col("n") > 1).count() === 0, "one gram got two hashes")
  }

  test("null text and sub-k docs yield empty arrays, never null") {
    val withNull = Seq((1L, null.asInstanceOf[String]), (2L, "one"))
      .toDF("doc_id", "text")
    val got = withNull.select(col("doc_id"),
      size(GraftBridge.column(GramHashes(
        GraftBridge.expression(col("text")), 2))).as("n"))
    assert(rowSet(got) === Seq("[1,0]", "[2,0]"))
  }

  test("boilerplateSpans output is unchanged by the fingerprint swap " +
      "(differential vs a string-gram reimplementation)") {
    // the old string-gram pipeline, inline, as the reference
    val k = 3
    val minDocs = 2
    val toks = docs.select(col("doc_id"), split(col("text"), " ").as("__toks"))
    val grams = stringGrams(docs, k)
    val flagged = grams.groupBy("gram")
      .agg(countDistinct(col("doc_id")).as("df"))
      .filter(col("df") >= minDocs).select("gram")
    val covered = grams.join(flagged, "gram")
      .select(col("doc_id"),
        explode(sequence(col("start"), col("start") + (k - 1))).as("pos"))
      .distinct()
      .groupBy("doc_id")
      .agg(sort_array(collect_set(col("pos"))).as("__covered"))
    val ref = toks.join(covered, Seq("doc_id"), "left")
      .select(col("doc_id"),
        concat_ws(" ", expr("transform(" +
          "array_except(sequence(0, size(__toks) - 1), " +
          "coalesce(__covered, array())), " +
          "i -> __toks[i])")).as("clean_text"),
        coalesce(size(col("__covered")), lit(0)).cast("long").as("n_removed"))
    val got = graft.operators.Dedup.boilerplateSpans(
      docs, col("doc_id"), col("text"), k, minDocs)
    assert(rowSet(got) === rowSet(ref))
  }
}
