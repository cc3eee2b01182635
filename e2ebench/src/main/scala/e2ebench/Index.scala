package e2ebench

import scala.collection.mutable

import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._
import org.apache.spark.sql.{DataFrame, Row, SaveMode, SparkSession}

import graft.operators.{GraphIndex, NnDescent}
import graft.sources.SegmentedTable

/** `index_lifecycle`: a graph index's life — build, rounds of (append a
  * small batch, then serve requests), delete, compact with relink, serve
  * again — over 64-d vectors drawn as gaussians around the per-label
  * centroids of the engine's sf0.1 `embeddings` table, with its measured
  * per-label sd (`embeddings_geometry.csv`, the measurement
  * `graft.GenScale.genEmbeddings` makes). A request is a bounded batch of
  * query vectors.
  *
  * Write op = one `GraphIndex.append`. Read op = one serve request, from
  * the `searchTopK` call until its result is collected. Build, delete and
  * compact are timed as their own operations. */
object Index extends Workload {
  val name = "index_lifecycle"
  val writeOp = "append"
  val readOp = "serve"

  private val Dim = 64
  private val Labels = 10
  private val Corpus = 1000
  private val Rounds = 4
  private val AppendSize = 30
  /** Serve requests after each append and after the compaction. The first
    * after a manifest change re-plans and runs slower than the rest; with
    * three, the median serve is a steady-state one and the first falls in
    * the tail. */
  private val ServesPerPhase = 3
  private val QueryBatch = 16
  private val Deletes = 60
  private val K = 10
  /** Each iteration's mean recall@10 must reach this: 0.05 under the
    * lowest the engine gave when the benchmark was added (0.93 over ten
    * seeds; `recall_at_10_lowest_iteration` in baseline.json). */
  val RecallFloor = 0.88

  /** (label, sd, centroid) per label, as measured from sf0.1. */
  private lazy val geometry: IndexedSeq[(Int, Double, Array[Double])] = {
    val src = scala.io.Source.fromResource("e2ebench/embeddings_geometry.csv")
    try src.getLines().filterNot(l => l.startsWith("#") || l.trim.isEmpty).map { l =>
      val f = l.split(',')
      (f(0).toInt, f(1).toDouble, f.drop(2).map(_.toDouble))
    }.toIndexedSeq
    finally src.close()
  }

  final case class Inputs(dir: String, vecs: Map[Long, Array[Float]],
      appends: IndexedSeq[Seq[Long]], queries: IndexedSeq[Seq[(Long, Array[Float])]],
      deletes: Seq[Long])

  private val schema = StructType(Seq(
    StructField("vec_id", LongType),
    StructField("embedding", ArrayType(FloatType, containsNull = false)),
    StructField("label", IntegerType), StructField("part", IntegerType)))

  /** (id, vector, label, part): `part` numbers the append batch or the
    * serve request a row belongs to. */
  private def write(spark: SparkSession, rows: Seq[(Long, Array[Float], Int, Int)], path: String): Unit = {
    val list = new java.util.ArrayList[Row](rows.length)
    rows.foreach { case (id, v, l, p) => list.add(Row(id, v.toSeq, l, p)) }
    spark.createDataFrame(list, schema).coalesce(2).write.mode(SaveMode.Overwrite).parquet(path)
  }

  def generate(spark: SparkSession, dir: String, seed: Long): Inputs = {
    val rng = new java.util.Random(seed)
    require(geometry.map(_._1) == (0 until Labels) && geometry.forall(_._3.length == Dim))
    def draw(l: Int) = {
      val (_, sd, c) = geometry(l)
      Array.tabulate(Dim)(j => (c(j) + sd * rng.nextGaussian()).toFloat)
    }
    val n = Corpus + Rounds * AppendSize
    val all = (0 until n).map { i =>
      val l = rng.nextInt(Labels)
      (i.toLong, draw(l), l, if (i < Corpus) -1 else (i - Corpus) / AppendSize)
    }
    write(spark, all.take(Corpus), s"$dir/corpus.parquet")
    write(spark, all.drop(Corpus), s"$dir/appends.parquet")
    val appends = (0 until Rounds).map(r => all.filter(_._4 == r).map(_._1))
    // a query is a near copy of a corpus vector, ids outside the corpus
    val nServes = (Rounds + 1) * ServesPerPhase
    val queries = (0 until nServes).map { s =>
      (0 until QueryBatch).map { j =>
        val (_, base, l, _) = all(rng.nextInt(Corpus))
        val q = Array.tabulate(Dim)(d => (base(d) + 0.1 * geometry(l)._2 * rng.nextGaussian()).toFloat)
        (1000000L + s * QueryBatch + j, q)
      }
    }
    write(spark, queries.zipWithIndex.flatMap { case (qs, s) => qs.map { case (id, v) => (id, v, -1, s) } },
      s"$dir/queries.parquet")
    val deletes = rng.ints(0, Corpus).distinct().limit(Deletes).toArray.toSeq.map(_.toLong)
    write(spark, deletes.map(id => all(id.toInt)), s"$dir/deletes.parquet")
    Inputs(dir, all.map(x => x._1 -> x._2).toMap, appends, queries, deletes)
  }

  private def cosine(a: Array[Float], b: Array[Float]): Double = {
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < a.length) {
      dot += a(i).toDouble * b(i); na += a(i).toDouble * a(i); nb += b(i).toDouble * b(i)
      i += 1
    }
    dot / math.sqrt(na * nb)
  }

  /** The whole lifecycle with one append round and one serve per phase. */
  def warmup(spark: SparkSession, in: Inputs, dir: String): Unit =
    lifecycle(spark, in, dir, new Tracer(spark, enabled = false), new Recorder,
      replay = false, rounds = 1, servesPerPhase = 1)

  def iteration(spark: SparkSession, in: Inputs, dir: String, tr: Tracer,
      rec: Recorder, replay: Boolean): Unit =
    lifecycle(spark, in, dir, tr, rec, replay, Rounds, ServesPerPhase)

  private def lifecycle(spark: SparkSession, in: Inputs, dir: String, tr: Tracer,
      rec: Recorder, replay: Boolean, rounds: Int, servesPerPhase: Int): Unit = {
    val path = s"$dir/index"
    def read(name: String): DataFrame = spark.read.parquet(s"${in.dir}/$name.parquet")
    val live = mutable.LinkedHashSet.empty[Long] ++ (0L until Corpus)
    var served = 0
    var records = Corpus.toLong
    val recalls = mutable.ArrayBuffer.empty[Double]

    def serve(): Unit = {
      val qs = in.queries(served)
      if (tr.enabled)
        tr.count("operators.graph_index.serve_segments",
          SegmentedTable.readManifest(spark, path).segments.length.toDouble)
      val rows = rec.time("read") {
        tr.span("operators.graph_index", "serve") {
          GraphIndex.searchTopK(spark, path, read("queries").filter(col("part") === served), K)
            .collect()
        }
      }
      served += 1
      records += qs.length
      tr.count("operators.graph_index.serve_queries", qs.length.toDouble)
      val byQuery = rows.groupBy(_.getLong(0))
      val liveVecs = live.toSeq.map(id => id -> in.vecs(id))
      var ok = true
      val requestRecalls = qs.map { case (qid, q) =>
        val got = byQuery.getOrElse(qid, Array.empty[Row])
        val ids = got.map(_.getLong(1))
        ok &&= ids.length == K && ids.distinct.length == K && ids.forall(live.contains) &&
          got.forall(r => math.abs(r.getDouble(2) - cosine(q, in.vecs(r.getLong(1)))) <= 1.5e-4)
        val exact = liveVecs.map { case (id, v) => (cosine(q, v), id) }
          .sortBy { case (c, id) => (-c, id) }.take(K).map(_._2).toSet
        ids.count(exact).toDouble / K
      }
      rec.check(ok, s"serve request $served: not $K live, distinct, correctly scored results per query")
      recalls ++= requestRecalls
    }

    rec.time("build")(tr.span("operators.graph_index", "build")(GraphIndex.build(read("corpus"), path)))
    for (r <- 0 until rounds) {
      rec.time("write")(tr.span("operators.graph_index", "append")(
        GraphIndex.append(spark, path, read("appends").filter(col("part") === r))))
      live ++= in.appends(r)
      records += in.appends(r).length
      (0 until servesPerPhase).foreach(_ => serve())
    }
    if (replay) {
      // NN-Descent runs inside build and compact; replayed on its own here
      // (forced through the noop sink) to give the layer its own span
      tr.span("operators.nn_descent", "build") {
        NnDescent.knnGraph(read("corpus"), col("vec_id"), col("embedding"))
          .write.format("noop").mode("overwrite").save()
      }
      tr.span("operators.nn_descent", "relink") {
        NnDescent.refineRound(GraphIndex.edges(spark, path), GraphIndex.vectors(spark, path),
          col("vec_id"), col("embedding"), k = 16, revCap = 16)
          .write.format("noop").mode("overwrite").save()
      }
    }
    rec.time("delete")(tr.span("operators.graph_index", "delete")(
      GraphIndex.delete(spark, path, read("deletes"))))
    live --= in.deletes
    rec.time("compact")(tr.span("operators.graph_index", "compact")(
      GraphIndex.compact(spark, path, relink = true)))
    (0 until servesPerPhase).foreach(_ => serve())
    rec.records += records
    rec.storageAmp += Files.du(path).toDouble / ((Corpus + rounds * AppendSize).toLong * Dim * 4)
    val recall = recalls.sum / recalls.length
    rec.recall += recall
    rec.check(recall >= RecallFloor, f"recall@$K $recall%.4f below the floor $RecallFloor")
  }

  override def derive(tr: Tracer, m: mutable.LinkedHashMap[String, Double]): Unit = {
    val serves = tr.spans.count(_.tag == "serve").max(1)
    m("operators.graph_index.segments") = tr.counter("operators.graph_index.serve_segments") / serves
    m("operators.graph_index.rerank_candidates_per_query") =
      tr.rerankRows("serve") / tr.counter("operators.graph_index.serve_queries").max(1.0)
    m.remove("operators.graph_index.serve_segments")
    m.remove("operators.graph_index.serve_queries")
  }
}
