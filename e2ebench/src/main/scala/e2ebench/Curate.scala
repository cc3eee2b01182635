package e2ebench

import scala.collection.mutable

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.{DataFrame, Row, SaveMode, SparkSession}

import graft.RunCuration
import graft.functions.TextFunctions
import graft.functions.TextFunctions.shingles
import graft.operators.Dedup

/** `curate_corpus`: the training-data job as `RunCuration.main` composes
  * it — `curate` with boilerplate removal, `compose` with a per-source
  * quota, `splitCol`, one parquet write — over a generated corpus of the
  * GenScale `documents` shape with planted exact and near duplicates. A
  * low-id slice is the held-out eval set.
  *
  * Write op = the fused job into its parquet write. Read op = reading the
  * written corpus back: the per-split stats, as `RunCuration.main` writes
  * them, and the rows, as a consumer of the corpus reads them. */
object Curate extends Workload {
  val name = "curate_corpus"
  val writeOp = "curate"
  val readOp = "readback"

  private val Docs = 4000
  private val EvalMax = 10L
  private val Quota = 200
  private val MinShared = 3
  private val Threshold = 0.9
  private val Boilerplate = (8, 2)

  final case class Inputs(dir: String, evalGrams: Set[String], inputBytes: Long)

  def generate(spark: SparkSession, dir: String, seed: Long): Inputs = {
    val rng = new java.util.Random(seed)
    val vocab = Array("spark", "window", "merge", "table", "column",
      "vector", "stream", "value", "data", "small", "join", "filter",
      "big", "group", "hash", "customer", "sort", "order", "slow", "line",
      "part", "fast", "the", "row", "agg", "key", "query", "a", "scan",
      "batch")
    val langs = Array("en", "zh", "es", "fr", "de")
    // 10 to 100 words a doc; the eval slice's docs all have the mean
    // length, so the eval trigram set (which decontamination screens
    // against) is about the same size for every seed
    val words = Array.tabulate(Docs)(i =>
      Array.fill(if (i < EvalMax) 55 else 10 + rng.nextInt(91))(vocab(rng.nextInt(vocab.length))))
    val lang = Array.fill(Docs)(langs(rng.nextInt(langs.length)))
    val source = Array.fill(Docs)(s"src${rng.nextInt(20)}")
    // planted near duplicates (5%): a copy with one word replaced by the
    // marker "dup" and, half the time, the last word dropped
    for (_ <- 0 until Docs / 20) {
      val a = rng.nextInt(Docs)
      val b = rng.nextInt(Docs)
      if (a != b) {
        val w = words(a).clone()
        w(rng.nextInt(w.length)) = "dup"
        words(b) = if (rng.nextBoolean() && w.length > 10) w.dropRight(1) else w
      }
    }
    // planted exact duplicates (0.16%)
    for (_ <- 0 until math.max(1, Docs * 8 / 5000)) {
      val a = rng.nextInt(Docs)
      val b = rng.nextInt(Docs)
      if (a != b) words(b) = words(a)
    }
    val texts = words.map(_.mkString(" "))
    val rows = new java.util.ArrayList[Row](Docs)
    texts.indices.foreach(i => rows.add(Row(i.toLong, texts(i), lang(i), source(i), texts(i).length.toLong)))
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType),
      StructField("lang", StringType), StructField("source", StringType),
      StructField("n_chars", LongType)))
    spark.createDataFrame(rows, schema).repartition(4)
      .write.mode(SaveMode.Overwrite).parquet(s"$dir/documents.parquet")
    val evalGrams = (0 until EvalMax.toInt).flatMap(i => grams(texts(i), 3)).toSet
    Inputs(dir, evalGrams, Files.du(s"$dir/documents.parquet"))
  }

  /** Distinct word k-grams, as the engine's `shingles` defines them. */
  private def grams(text: String, k: Int): Seq[String] =
    text.split(" ", -1).sliding(k).filter(_.length == k).map(_.mkString(" ")).toSeq.distinct

  private def docs(spark: SparkSession, in: Inputs) = {
    val all = graft.sources.Tables(spark, in.dir, "documents").select("doc_id", "text")
    val sources = graft.sources.Tables(spark, in.dir, "documents").select("doc_id", "source")
    (all.filter(col("doc_id") >= EvalMax), all.filter(col("doc_id") < EvalMax), sources)
  }

  private def finish(curated: DataFrame, sources: DataFrame): DataFrame =
    RunCuration.compose(curated.join(sources, "doc_id"), quotaPerSource = Quota)
      .withColumn("split", RunCuration.splitCol)

  /** One fused job. */
  def warmup(spark: SparkSession, in: Inputs, dir: String): Unit =
    iteration(spark, in, dir, new Tracer(spark, enabled = false), new Recorder, replay = false)

  def iteration(spark: SparkSession, in: Inputs, dir: String, tr: Tracer,
      rec: Recorder, replay: Boolean): Unit = {
    val (train, eval, sources) = docs(spark, in)
    val out = s"$dir/corpus"
    rec.time("write") {
      finish(RunCuration.curate(train, eval, Threshold, MinShared, Some(Boilerplate)), sources)
        .write.mode(SaveMode.Overwrite).partitionBy("split").parquet(out)
    }
    val fusedS = rec.samples("write").last
    val kept = rec.time("read") {
      val written = spark.read.parquet(out)
      written.groupBy("split").agg(count(lit(1)).as("n_docs"))
        .write.mode(SaveMode.Overwrite).parquet(s"$dir/stats")
      written.select("doc_id", "text", "source", "split").collect()
    }
    rec.records += Docs
    checkCorpus(kept, in, rec)
    rec.storageAmp += Files.du(out).toDouble / in.inputBytes
    if (replay) {
      val staged = stageByStage(spark, in, s"$dir/replay", tr)
      def rows(rs: Array[Row]) = rs.toSeq.map(_.toSeq).sortBy(_.head.asInstanceOf[Long])
      val same = rows(staged) == rows(kept)
      rec.check(same, s"stage-by-stage output (${staged.length} docs) differs from the fused job's (${kept.length})")
      val replayS = tr.spans.filter(s => s.tag == "replay").map(s => s.end - s.start).sum / 1000.0
      tr.set("curation.unattributed_s", fusedS - replayS)
    }
  }

  private def checkCorpus(kept: Array[Row], in: Inputs, rec: Recorder): Unit = {
    val ids = kept.map(_.getLong(0))
    val texts = kept.map(_.getString(1))
    rec.check(ids.distinct.length == ids.length, "a doc_id is kept twice")
    rec.check(ids.forall(_ >= EvalMax), "an eval doc is in the corpus")
    val fp = texts.map(_.trim.toLowerCase)
    rec.check(fp.distinct.length == fp.length, "two kept docs share a fingerprint")
    val leaked = texts.count(t => grams(t, 3).count(in.evalGrams) >= MinShared)
    rec.check(leaked == 0, s"$leaked kept docs share >= $MinShared trigrams with the eval set")
    val perSource = kept.groupBy(_.getString(2)).map(_._2.length)
    rec.check(perSource.forall(_ <= Quota), s"a source exceeds its quota of $Quota")
  }

  /** The same job through the same public calls, each stage's output forced
    * (checkpointed) inside a span of its layer. */
  private def stageByStage(spark: SparkSession, in: Inputs, dir: String, tr: Tracer): Array[Row] = {
    val (train, eval, sources) = docs(spark, in)
    def stage(layer: String)(df: => DataFrame): DataFrame =
      tr.span(layer, "replay")(df.localCheckpoint(eager = true))
    val gated = stage("functions")(train.filter(
      TextFunctions.gateRules(col("text")).map(_._2).reduce(_ && _)))
    val mapped = stage("functions")(gated.select(col("doc_id"),
      TextFunctions.redact(TextFunctions.collapseRepeats(col("text"))).as("text")))
    val cleaned = stage("operators.dedup")(Dedup.boilerplateSpans(mapped, col("doc_id"),
      col("text"), Boilerplate._1, Boilerplate._2).select(col("doc_id"), col("clean_text").as("text")))
    val exactKept = stage("operators.dedup")(cleaned.join(
      Dedup.exact(cleaned, Seq(TextFunctions.fingerprint(col("text"))), col("doc_id"))
        .select(col("keep_id").as("doc_id")), Seq("doc_id"), "left_semi"))
    val scored = stage("operators.dedup")(Dedup.scoredCandidatePairs(exactKept,
      col("doc_id"), col("text"), numHashes = 16, bands = 4))
    val confirmed = scored.filter(col("jaccard") >= Threshold)
    val nearKept = stage("operators.dedup")(exactKept.join(
      exactKept.select("doc_id").join(confirmed.select(col("doc_b").as("doc_id")).distinct(),
        Seq("doc_id"), "left_anti"), Seq("doc_id"), "left_semi"))
    val evG = eval.select(explode(shingles(col("text"), 3)).as("g")).distinct()
    val decontaminated = stage("curation")(nearKept.join(nearKept
      .select(col("doc_id"), explode(shingles(col("text"), 3)).as("g"))
      .join(broadcast(evG), "g")
      .groupBy("doc_id").agg(count(lit(1)).as("n"))
      .filter(col("n") >= MinShared).select("doc_id"), Seq("doc_id"), "left_anti"))
    tr.span("curation", "replay") {
      finish(decontaminated, sources).write.mode(SaveMode.Overwrite)
        .partitionBy("split").parquet(dir)
    }
    val n = train.count().toDouble
    tr.count("functions.gate_pass_frac_num", gated.count().toDouble)
    tr.count("functions.gate_pass_frac_den", n)
    tr.count("operators.dedup.lsh_candidates", scored.count().toDouble)
    tr.count("operators.dedup.confirmed_pairs", confirmed.count().toDouble)
    spark.read.parquet(dir).select("doc_id", "text", "source", "split").collect()
  }

  override def derive(tr: Tracer, m: mutable.LinkedHashMap[String, Double]): Unit = {
    m("functions.gate_pass_frac") =
      tr.counter("functions.gate_pass_frac_num") / tr.counter("functions.gate_pass_frac_den").max(1.0)
    m("operators.dedup.candidate_precision") =
      tr.counter("operators.dedup.confirmed_pairs") / tr.counter("operators.dedup.lsh_candidates").max(1.0)
    m.remove("functions.gate_pass_frac_num")
    m.remove("functions.gate_pass_frac_den")
  }
}
