package graft.expressions

import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.functions.{TextFunctions, VectorFunctions}

class ExpressionsSpec extends SparkSpec {
  import spark.implicits._

  // the shared word-walk edge table, ids 100 + its index
  private def edgeDocs = graft.functions.LambdaReference.wordWalkEdges
    .zipWithIndex.map { case (t, i) => (100L + i, t) }.toDF("doc_id", "text")

  test("CosineSimilarity native expression is bit-identical to the HOF formulation") {
    val hof = (a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =>
      VectorFunctions.dot(a, b) / (VectorFunctions.norm(a) * VectorFunctions.norm(b))
    val df = Seq(
      (Seq(0.1f, -0.2f, 0.3f), Seq(0.4f, 0.5f, -0.6f)),
      (Seq(1.0f, 2.0f, 3.0f), Seq(1.0f, 2.0f, 3.0f))
    ).toDF("a", "b")
    val rows = df.select(
      VectorFunctions.cosine(col("a"), col("b")).as("native"),
      hof(col("a"), col("b")).as("hof")).collect()
    rows.foreach(r => assert(r.getDouble(0) == r.getDouble(1)))
  }

  test("CosineSimilarity: two instances fuse into one codegen scope without collision") {
    // fallback disabled: a redeclared local in the fused method would THROW
    // here instead of silently degrading to interpreted evaluation
    val conf = "spark.sql.codegen.fallback"
    val old = spark.conf.get(conf)
    try {
      spark.conf.set(conf, "false")
      val df = Seq((Seq(1.0f, 2.0f), Seq(2.0f, 1.0f), Seq(1.0f, 1.0f)))
        .toDF("a", "b", "c")
        .filter(VectorFunctions.cosine(col("a"), col("b")) > lit(0.0))
        .select(
          VectorFunctions.cosine(col("a"), col("b")).as("ab"),
          VectorFunctions.cosine(col("a"), col("c")).as("ac"))
      val row = df.collect()(0)
      assert(row.getDouble(0) > 0.0 && row.getDouble(1) > 0.0)
    } finally spark.conf.set(conf, old)
  }

  test("CosineSimilarity: null element or length mismatch yields null, like zip_with") {
    val df = Seq(
      (Seq(Some(1.0f), None), Seq(Some(1.0f), Some(1.0f))),
      (Seq(Some(1.0f)), Seq(Some(1.0f), Some(1.0f)))
    ).toDF("a", "b")
    val got = df.select(VectorFunctions.cosine(col("a"), col("b")).as("c")).collect()
    assert(got.forall(_.isNullAt(0)))
  }

  test("MinHashSig aggregate equals 16 separate min(md5-chunk) aggregates") {
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "pack my box with five dozen liquor jugs and more words here")
    ).toDF("doc_id", "text")
    val sh = docs.select(col("doc_id"),
      explode(TextFunctions.shingles(col("text"), 2)).as("shingle"))

    val sigAgg = org.apache.spark.sql.GraftBridge.column(
      MinHashSig(org.apache.spark.sql.GraftBridge.expression(col("shingle")),
        16).toAggregateExpression())
    val native = sh.groupBy("doc_id").agg(sigAgg.as("sig"))
      .orderBy("doc_id").as[(Long, Seq[String])].collect().toSeq

    // the hash family's built-in reference form: component i = chunk i%4 of
    // md5 stream i/4 (stream 0 unprefixed, stream t = 't:' || shingle)
    val comps = (0 until 16).map { i =>
      val digest =
        if (i < 4) md5(col("shingle"))
        else md5(concat(lit(s"${i / 4}:"), col("shingle")))
      min(substring(digest, (i % 4) * 8 + 1, 8)).as(s"h$i")
    }
    val reference = sh.groupBy("doc_id").agg(comps.head, comps.tail: _*)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), (1 to 16).map(r.getString))).toSeq

    assert(native.map(_._1) == reference.map(_._1))
    native.zip(reference).foreach { case ((_, a), (_, b)) => assert(a == b) }
  }

  test("MinHashSignature projection equals the exploded-shingle MinHashSig aggregate") {
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "pack my box with five dozen liquor jugs and more words here"),
      (3L, "short"),            // < k words: no signature
      (4L, "trailing space "),  // empty trailing token must match split(-1)
      (5L, ""),
      // byte-walk pins: consecutive spaces (empty middle tokens), a
      // leading space, and multi-byte UTF-8 words (0x20 must split at the
      // same places a char-level split does)
      (6L, "double  space  tokens here"),
      (7L, " leading space doc"),
      (8L, "víde😀 ünïcode wörds détails")
    ).toDF("doc_id", "text").unionAll(edgeDocs)

    val viaExpr = docs.select(col("doc_id"),
      org.apache.spark.sql.GraftBridge.column(MinHashSignature(
        org.apache.spark.sql.GraftBridge.expression(col("text")), 2, 16)).as("sig"))
      .filter(col("sig").isNotNull)
      .orderBy("doc_id").as[(Long, Seq[String])].collect().toSeq

    val sh = docs.select(col("doc_id"),
      explode(TextFunctions.shingles(col("text"), 2)).as("shingle"))
    val sigAgg = org.apache.spark.sql.GraftBridge.column(
      MinHashSig(org.apache.spark.sql.GraftBridge.expression(col("shingle")),
        16).toAggregateExpression())
    val viaAgg = sh.groupBy("doc_id").agg(sigAgg.as("sig"))
      .orderBy("doc_id").as[(Long, Seq[String])].collect().toSeq

    // the test-only array-lambda references, independent of the byte walk
    val viaLambda = docs.select(col("doc_id"),
        graft.functions.LambdaReference.shinglesLambda(col("text"), 2).as("sh"))
      .filter(size(col("sh")) > 0)
      .select(col("doc_id"),
        graft.functions.LambdaReference.minhashSignatureLambda(col("sh"), 16).as("sig"))
      .orderBy("doc_id").as[(Long, Seq[String])].collect().toSeq

    assert(viaExpr == viaAgg)
    assert(viaExpr == viaLambda)
    // edge rows with two or more words: " ", "a b", "a b a b a", "x  y  z",
    // the leading- and trailing-space docs and the multi-byte one
    assert(viaExpr.map(_._1) == Seq(1L, 2L, 4L, 6L, 7L, 8L) ++
      Seq(102L, 104L, 105L, 106L, 107L, 108L, 109L))
  }

  test("VectorSum mean pairing: malformed vectors are excluded from sum AND divisor") {
    val df = Seq(
      (1L, Some(Seq(1.0f, 2.0f, 3.0f))),
      (2L, Some(Seq(3.0f, 4.0f, 5.0f))),
      (3L, Some(Seq(1.0f, 2.0f))), // wrong length: VectorSum skips it
      (4L, None)                   // null: VectorSum skips it
    ).toDF("id", "v")
    val r = df.agg(
      VectorFunctions.vectorSum(col("v"), 3).as("s"),
      count(when(size(col("v")) === 3, 1)).as("n"),
      count(lit(1)).as("all")).collect()(0)
    assert(r.getSeq[Double](0) == Seq(4.0, 6.0, 8.0))
    assert(r.getLong(1) == 2L, "divisor must count only contributing rows")
    assert(r.getLong(2) == 4L)
    // the mean over (sum, n) equals the mean of the valid vectors alone —
    // count(*) as divisor would bias it toward zero (2.0 vs 1.0 here)
    val mean = r.getSeq[Double](0).map(_ / r.getLong(1))
    assert(mean == Seq(2.0, 3.0, 4.0))
  }

  test("registered SQL functions resolve and compute") {
    graft.plans.GraftExtensions.install(spark)
    val got = spark.sql(
      "SELECT graft_cosine(array(CAST(1.0 AS FLOAT), CAST(0.0 AS FLOAT)), array(CAST(1.0 AS FLOAT), CAST(0.0 AS FLOAT))) AS c")
      .collect()(0).getDouble(0)
    assert(got == 1.0)
    val mh = spark.sql(
      """SELECT graft_minhash_sig(s, 4) AS sig FROM (SELECT explode(array('a b', 'b c')) AS s)""")
      .collect()(0).getSeq[String](0)
    assert(mh.length == 4 && mh.forall(_.length == 8))
    val dur = spark.sql("SELECT graft_parse_duration('PT1H2M3S') AS s")
      .collect()(0).getLong(0)
    assert(dur == 3723L)
  }
}
