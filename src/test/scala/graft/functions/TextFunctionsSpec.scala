package graft.functions

import org.apache.spark.sql.functions._
import graft.SparkSpec
import TextFunctions._

class TextFunctionsSpec extends SparkSpec {
  import spark.implicits._

  test("shingles: distinct word bigrams; short docs yield empty") {
    val got = Seq("a b c a b", "solo", "")
      .toDF("t").select(shingles(col("t"), 2).as("s"))
      .as[Seq[String]].collect().toSeq
    assert(got(0) == Seq("a b", "b c", "c a"))
    assert(got(1) == Nil)
    assert(got(2) == Nil)
  }

  test("token counting: whitespace and regex tokenizers") {
    val got = Seq(("a bb ccc", 3, 3), ("Hi THERE friend", 3, 2))
      .toDF("t", "ws", "re")
      .select(tokenCount(col("t")).as("n"), regexTokenCount(col("t")).as("r"),
        col("ws"), col("re"))
      .collect()
    got.foreach { r =>
      assert(r.getInt(0) == r.getInt(2) && r.getAs[Number](1).intValue == r.getInt(3))
    }
  }

  test("fingerprint is case/trim-insensitive") {
    val got = Seq("Hello World", "  hello world ", "other")
      .toDF("t").select(fingerprint(col("t")).as("f")).as[String].collect()
    assert(got(0) == got(1) && got(0) != got(2))
  }

  test("langId: stopword-heavy text is en, stopword-free is other, empty unknown") {
    val got = Seq("the cat sat on the mat of doom", "zxq qwv bnm", "x")
      .toDF("t").select(langId(col("t")).as("l")).as[String].collect().toSeq
    assert(got == Seq("en", "other", "other"))
  }

  test("simhash: identical docs collide, word order is irrelevant, disjoint docs differ") {
    val got = Seq("apple banana cherry", "cherry apple banana", "xylo zulu qrst")
      .toDF("t").select(simhash(col("t")).as("h")).as[Long].collect().toSeq
    assert(got(0) == got(1))
    assert(got(0) != got(2))
  }

  test("minhash: permutation-invariant and in [0, numHashes] component count") {
    val df = Seq("a b c d e f", "f e d c b a").toDF("t")
    for (sig <- Seq(minhashSignature(col("t"), 8, shingleK = 1),
        LambdaReference.minhashSignatureLambda(
          LambdaReference.shinglesLambda(col("t"), 1), 8))) {
      val sigs = df.select(sig.as("s")).as[Seq[String]].collect()
      assert(sigs(0).length == 8)
      // k = 1 shingles = distinct unigrams: same set for both rows
      assert(sigs(0) == sigs(1))
    }
  }

  test("minhashSignature matches the canonical MinHashSignature expression exactly") {
    val df = Seq("the quick brown fox jumps over the lazy dog today").toDF("t")
    val rows = df.select(
      LambdaReference.minhashSignatureLambda(
        LambdaReference.shinglesLambda(col("t"), 2), 16).as("hof"),
      minhashSignature(col("t"), 16).as("native"))
      .as[(Seq[String], Seq[String])].collect()(0)
    assert(rows._1 === rows._2,
      "column-form and native signatures must be the SAME hash family")
  }

  test("collapseRepeats / dedupTokens: runs collapse, first occurrence wins, edge cases") {
    val got = Seq(
      "a a the b a the the c", // runs + re-occurrences
      "x",                     // single token
      "",                      // empty text: split -> [""], both rewrites identity
      "y y y y"                // one long run
    ).toDF("t")
      .select(collapseRepeats(col("t")).as("c"), dedupTokens(col("t")).as("d"))
      .as[(String, String)].collect().toSeq
    assert(got === Seq(
      ("a the b a the c", "a the b c"),
      ("x", "x"),
      ("", ""),
      ("y", "y")))
  }

  test("redact: emails, phones, IPs become typed placeholders; clean text untouched") {
    val rows = Seq(
      "contact bob.smith+spam@example.co.uk or call +1 (555) 123-4567 now",
      "server at 192.168.1.100 responded",
      "a perfectly clean sentence with no identifiers at all",
      "edge: not.an.email@ and 999.999.999.999 and +12 34" // partial/invalid forms
    ).toDF("t")
      .select(redact(col("t")).as("r"), redactionCount(col("t")).as("n"))
      .as[(String, Long)].collect().toSeq
    assert(rows(0) === (("contact <EMAIL> or call <PHONE> now", 2L)))
    assert(rows(1) === (("server at <IP> responded", 1L)))
    assert(rows(2) === (("a perfectly clean sentence with no identifiers at all", 0L)))
    // conservative: the malformed email stays; the numeric-looking IP form
    // still matches the IPv4 shape (documented precision-over-recall), the
    // too-short phone does not
    assert(rows(3)._1 === "edge: not.an.email@ and <IP> and +12 34")
  }

  test("redactionCount: overlapping patterns count replaced spans, not pattern hits") {
    // the phone pattern also matches the +12345678 INSIDE this email — but
    // redact replaces the whole thing as one <EMAIL>, so the audit column
    // must say 1, not 2 (counts run on the progressively-redacted text)
    val row = Seq("mail user+12345678@x.com today").toDF("t")
      .select(redact(col("t")).as("r"), redactionCount(col("t")).as("n"))
      .as[(String, Long)].collect().head
    assert(row === (("mail <EMAIL> today", 1L)))
  }

  test("quality features: exact counts on a known sentence") {
    val feats = qualityFeatures(col("t"))
    val row = Seq("the quick brown fox, it jumps!")
      .toDF("t")
      .select(feats.map { case (n, c) => c.as(n) }: _*)
      .collect()(0)
    assert(row.getAs[Long]("n_chars") == 30L)
    assert(row.getAs[Long]("n_tokens") == 6L)
    assert(row.getAs[Double]("punct_ratio") == 2.0 / 30.0)
    assert(row.getAs[Double]("stopword_ratio") == 1.0 / 6.0)
  }

  test("WinnowFingerprints expression ≡ the lambda reference form, " +
      "element-for-element, on real corpus text + edge cases") {
    import org.apache.spark.sql.functions._
    // the native expression replaced the lambda chain on the hot path
    // (HOFs have no codegen); this differential pin is the
    // contract that the swap changed NOTHING: same values, same order,
    // same empties, across real text, nulls, short docs, repeated
    // tokens, and both non-default parameterizations
    val docs = graft.sources.Tables(spark, "/root/testdata/sf0.001",
        "documents").select(col("text")).limit(200)
      .unionAll((LambdaReference.wordWalkEdges ++ Seq(
        "a b c", "a b c d e f g", "x x x x x x x x",
        // byte-walk pins: consecutive spaces (empty tokens) and a leading
        // plus trailing space in one doc
        "double  space  here", " leading trailing ")).toDF("text"))
    for ((g, w) <- Seq((3, 4), (2, 3), (1, 2))) {
      val rows = docs.select(
          TextFunctions.winnowFingerprints(col("text"), g, w).as("e"),
          LambdaReference.winnowFingerprintsLambda(col("text"), g, w).as("l"))
        .collect()
      rows.foreach { r =>
        assert(r.getSeq[Long](0) === r.getSeq[Long](1),
          s"expression/lambda mismatch at gramK=$g window=$w")
      }
    }
  }

  test("ShingleSet expression ≡ the lambda reference form, " +
      "element-for-element, on real corpus text + edge cases") {
    import org.apache.spark.sql.functions._
    val docs = graft.sources.Tables(spark, "/root/testdata/sf0.001",
        "documents").select(col("text")).limit(200)
      .unionAll(LambdaReference.wordWalkEdges.toDF("text"))
    for (k <- Seq(1, 2, 3)) {
      val rows = docs.select(
          TextFunctions.shingles(col("text"), k).as("e"),
          LambdaReference.shinglesLambda(col("text"), k).as("l"))
        .collect()
      rows.foreach { r =>
        assert(r.getSeq[String](0) === r.getSeq[String](1),
          s"expression/lambda mismatch at k=$k")
      }
    }
  }

  test("property: winnowing's locality guarantee — any shared run of " +
      "window+gramK-1 tokens forces a shared fingerprint; short docs empty") {
    import org.apache.spark.sql.functions._
    import org.scalacheck.{Gen, Prop}
    import org.scalacheck.Test.{check, Parameters}
    def fps(texts: Seq[String]): Seq[Set[Long]] = {
      val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("doc_id", "text")
        .select(col("doc_id"),
          TextFunctions.winnowFingerprints(col("text")).as("f"))
      df.orderBy("doc_id").collect()
        .map(_.getSeq[Long](1).toSet).toSeq
    }
    // the Schleimer et al. theorem instance for (gramK=3, window=4): a
    // shared run of >= 4+3-1 = 6 tokens yields >= 4 shared gram hashes in
    // a row, so at least one full window lies inside the run on BOTH
    // sides — its minimum is selected in both docs
    val gen = for {
      sharedLen <- Gen.choose(6, 12)
      p1 <- Gen.choose(0, 8); s1 <- Gen.choose(0, 8)
      p2 <- Gen.choose(0, 8); s2 <- Gen.choose(0, 8)
    } yield (sharedLen, p1, s1, p2, s2)
    val prop = Prop.forAllNoShrink(gen) { case (sharedLen, p1, s1, p2, s2) =>
      // disjoint per-doc vocabularies around the shared run, so any
      // fingerprint overlap must come from the run itself
      val shared = (0 until sharedLen).map(i => s"sh$i")
      val d1 = ((0 until p1).map(i => s"a$i") ++ shared ++
        (0 until s1).map(i => s"x$i")).mkString(" ")
      val d2 = ((0 until p2).map(i => s"b$i") ++ shared ++
        (0 until s2).map(i => s"y$i")).mkString(" ")
      val Seq(f1, f2) = fps(Seq(d1, d2))
      (f1 & f2).nonEmpty
    }
    val result = check(Parameters.default.withMinSuccessfulTests(10), prop)
    assert(result.passed, result.status.toString)
    // below one gram, no fingerprints at all
    assert(fps(Seq("one two")) === Seq(Set.empty[Long]))
    // a 5-token shared run (one below the guarantee) may or may not share
    // — but identical docs always share everything
    val Seq(g1, g2) = fps(Seq("p q r s t u v w", "p q r s t u v w"))
    assert(g1 === g2 && g1.nonEmpty)
  }
}
