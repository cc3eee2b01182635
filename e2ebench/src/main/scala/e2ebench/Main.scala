package e2ebench

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** One benchmark workload: a job a user runs, repeated as a closed loop by
  * one client. The engine sees only the files [[generate]] writes. */
trait Workload {
  type Inputs
  def name: String
  /** Names this workload gives the generic "write" and "read" operations. */
  def writeOp: String
  def readOp: String
  /** Write the seeded inputs under `dir`. */
  def generate(spark: SparkSession, dir: String, seed: Long): Inputs
  /** One run of the job in the fresh directory `dir`: time every operation
    * through `rec`, check every output. `replay` asks for the traced run's
    * extra layer-by-layer replay, which is not timed. */
  def iteration(spark: SparkSession, in: Inputs, dir: String, tr: Tracer,
      rec: Recorder, replay: Boolean): Unit
  /** A shorter run of the job on the same inputs, untimed, so that code
    * generation and JIT compilation are done before measuring. */
  def warmup(spark: SparkSession, in: Inputs, dir: String): Unit
  /** Derive ratio metrics from the traced run's counters. */
  def derive(tr: Tracer, m: mutable.LinkedHashMap[String, Double]): Unit = ()
}

/** Thrown after a failed operation was counted, to end the iteration. */
final class OpFailed(cause: Throwable) extends RuntimeException(cause)

/** Timings and outcomes of the operations of one measured phase. */
final class Recorder {
  var records = 0L
  var bodyS = 0.0
  var attempted = 0L
  var failed = 0L
  val ops = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  val storageAmp = mutable.ArrayBuffer.empty[Double]
  /** Mean recall@10 of each iteration's serve requests. */
  val recall = mutable.ArrayBuffer.empty[Double]

  /** Time one operation of kind `kind`. */
  def time[T](kind: String)(body: => T): T = {
    attempted += 1
    val t0 = System.nanoTime()
    val r = try body catch {
      case NonFatal(e) =>
        failed += 1
        Console.err.println(s"[e2ebench] $kind failed: $e")
        throw new OpFailed(e)
    }
    val dt = (System.nanoTime() - t0) / 1e9
    ops.getOrElseUpdate(kind, mutable.ArrayBuffer.empty) += dt
    bodyS += dt
    r
  }

  /** Record the output check of the operation just timed. */
  def check(ok: Boolean, what: => String): Unit =
    if (!ok) {
      failed += 1
      Console.err.println(s"[e2ebench] check failed: $what")
    }

  def samples(kind: String): Seq[Double] = ops.get(kind).fold(Seq.empty[Double])(_.toSeq)
  def p(kind: String, q: Double): Double = Stats.quantile(samples(kind), q)
  def recordsPerS: Double = records / bodyS
}

object Stats {
  /** Linear-interpolation quantile (the usual "type 7"); NaN when empty. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val h = (s.length - 1) * q
      val lo = math.floor(h).toInt
      val hi = math.ceil(h).toInt
      s(lo) + (h - lo) * (s(hi) - s(lo))
    }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
}

object Json {
  def str(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }.mkString("\"", "", "\"")
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
}

object Files {
  def walk(path: String): Seq[java.io.File] = {
    val f = new java.io.File(path)
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(c => walk(c.getPath))
    else if (f.isFile) Seq(f) else Nil
  }
  /** Bytes on disk under `path`, checksum files included. */
  def du(path: String): Long = walk(path).map(_.length).sum
  def rm(path: String): Unit = {
    def go(f: java.io.File): Unit = {
      Option(f.listFiles()).toSeq.flatten.foreach(go)
      f.delete(); ()
    }
    go(new java.io.File(path))
  }
  def write(path: String, s: String): Long = {
    val f = new java.io.File(path)
    f.getParentFile.mkdirs()
    val b = s.getBytes("UTF-8")
    java.nio.file.Files.write(f.toPath, b)
    b.length.toLong
  }
  /** The process's peak resident set (VmHWM), in MiB. */
  def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toDouble / 1024.0).getOrElse(Double.NaN)
    finally src.close()
  }
}

/** The benchmark's entry point: set up, measure untraced, optionally measure
  * traced, print every metric, exit non-zero if any output check failed.
  *
  * Usage (normally through run.py, which builds and passes the paths):
  * Main --workload W --seed N --seconds S --trace 0|1 --work DIR
  *      --spans DIR --cpus C --t0-ms EPOCH_MS */
object Main {
  val workloads: Seq[Workload] = Seq(Elt, Curate, Index)

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val wl = workloads.find(_.name == a("workload")).getOrElse(
      sys.error(s"unknown workload ${a("workload")}"))
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val traced = a("trace") == "1"
    val work = a("work")
    val t0Ms = a("t0-ms").toDouble

    val spark = SparkSession.builder()
      .master(s"local[${a("cpus")}]")
      .config("spark.sql.shuffle.partitions", a("cpus"))
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "127.0.0.1")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/spark-warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val exit = try run(spark, wl, seed, seconds, traced, work, a("spans"), t0Ms)
    finally spark.stop()
    sys.exit(exit)
  }

  private def run(spark: SparkSession, wl: Workload, seed: Long, seconds: Double,
      traced: Boolean, work: String, spansDir: String, t0Ms: Double): Int = {
    // set-up: the JVM and SparkSession (already up), the inputs, one warm-up run
    def sinceLaunchS = (System.currentTimeMillis() - t0Ms) / 1000.0
    val launchS = sinceLaunchS
    val in = wl.generate(spark, s"$work/input", seed)
    val genS = sinceLaunchS - launchS
    wl.warmup(spark, in, s"$work/warmup")
    Files.rm(s"$work/warmup")
    val setupS = sinceLaunchS
    println(f"[e2ebench] set-up $setupS%.2f s: launch $launchS%.2f s, inputs $genS%.2f s, " +
      f"warm-up ${setupS - launchS - genS}%.2f s")

    val untraced = new Recorder
    measure(spark, wl)(in, work, "untraced", if (traced) seconds / 2 else seconds,
      new Tracer(spark, enabled = false), untraced)
    val recs = mutable.ArrayBuffer(untraced)
    val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
    describe(wl, "untraced", untraced)

    if (!traced) {
      metrics("setup_s") = (setupS, "s")
      metrics("records_per_s") = (untraced.recordsPerS, "1/s")
      metrics("write_p50_s") = (untraced.p("write", 0.5), "s")
      metrics("read_p50_s") = (untraced.p("read", 0.5), "s")
      metrics("storage_amp") = (Stats.median(untraced.storageAmp.toSeq), "ratio")
      metrics("peak_rss_mb") = (Files.peakRssMb(), "MiB")
    } else {
      val tr = new Tracer(spark, enabled = true)
      val tracedRec = new Recorder
      tr.open()
      // exactly one traced iteration, so every summed layer figure is per
      // iteration whatever the iteration's length
      measure(spark, wl)(in, work, "traced", 0, tr, tracedRec)
      tr.close()
      recs += tracedRec
      describe(wl, "traced", tracedRec)
      val layer = tr.layerMetrics()
      wl.derive(tr, layer)
      layer("trace.records_per_s_ratio") = tracedRec.recordsPerS / untraced.recordsPerS
      layer("trace.write_p50_ratio") = tracedRec.p("write", 0.5) / untraced.p("write", 0.5)
      layer("trace.read_p50_ratio") = tracedRec.p("read", 0.5) / untraced.p("read", 0.5)
      layer("job.read_p95_s") = untraced.p("read", 0.95)
      layer("job.read_samples") = untraced.samples("read").length.toDouble
      layer("job.write_samples") = untraced.samples("write").length.toDouble
      layer("job.build_s") = orZero(untraced.p("build", 0.5))
      layer("job.compact_s") = orZero(untraced.p("compact", 0.5))
      layer("job.recall_at_10") = orZero(Stats.median(untraced.recall.toSeq))
      layer("job.failed_frac") =
        recs.map(_.failed).sum.toDouble / recs.map(_.attempted).sum.max(1L)
      PerLayer.names.foreach(n => metrics(n) = (layer.getOrElse(n, 0.0), PerLayer.unit(n)))
      val spansFile = s"$spansDir/${wl.name}-seed$seed.json"
      tr.writeJson(spansFile, Seq("workload" -> Json.str(wl.name),
        "seed" -> seed.toString, "cpus" -> spark.sparkContext.defaultParallelism.toString))
      println(s"[e2ebench] spans: $spansFile")
    }

    val attempted = recs.map(_.attempted).sum
    val failed = recs.map(_.failed).sum
    val correct = failed == 0 && attempted > 0
    metrics.foreach { case (k, (v, u)) => println(f"[e2ebench] $k%-48s ${Json.num(v)} $u") }
    println(s"[e2ebench] failed_frac ${failed.toDouble / attempted.max(1L)} ($failed of $attempted operations)")
    println(Json.obj(Seq(
      "correct" -> correct.toString,
      "attempted" -> attempted.toString,
      "failed" -> failed.toString,
      "metrics" -> Json.obj(metrics.toSeq.map { case (k, (v, u)) =>
        k -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u)))
      }))))
    if (correct) 0 else 1
  }

  private def orZero(d: Double): Double = if (d.isNaN) 0.0 else d

  /** Whole iterations filling `seconds` as nearly as whole iterations can:
    * another one starts while at least half a mean iteration's time is left.
    * The number of iterations is then round(seconds / iteration): it
    * changes only when an iteration's length crosses seconds / (n + 1/2).
    * At least one; exactly one when `seconds` is 0. */
  private def measure(spark: SparkSession, wl: Workload)(in: wl.Inputs,
      work: String, label: String, seconds: Double, tr: Tracer, rec: Recorder): Unit = {
    val t0 = System.nanoTime()
    def elapsedS = (System.nanoTime() - t0) / 1e9
    var i = 0
    do {
      val dir = s"$work/$label-$i"
      tr.beginRun(s"${wl.name}-$label-$i")
      try tr.span("job")(wl.iteration(spark, in, dir, tr, rec, replay = tr.enabled && i == 0))
      catch {
        case _: OpFailed => ()
        case NonFatal(e) =>
          rec.attempted += 1
          rec.failed += 1
          Console.err.println(s"[e2ebench] iteration failed: $e")
      }
      Files.rm(dir)
      i += 1
    } while (seconds - elapsedS >= elapsedS / i / 2)
  }

  /** Human-readable lines under the names each workload gives its
    * operations, with sample counts. */
  private def describe(wl: Workload, label: String, rec: Recorder): Unit = {
    println(f"[e2ebench] ${wl.name} $label: records_per_s ${rec.recordsPerS}%.1f 1/s " +
      f"(${rec.records} records in ${rec.bodyS}%.2f s)")
    rec.ops.keys.foreach { k =>
      val op = if (k == "write") wl.writeOp else if (k == "read") wl.readOp else k
      val n = rec.samples(k).length
      val p95 = if (n >= 200) f" p95 ${rec.p(k, 0.95)}%.4f s" else ""
      println(f"[e2ebench]   ${op}_p50_s ${rec.p(k, 0.5)}%.4f s$p95 (n=$n: " +
        rec.samples(k).map(x => f"$x%.3f").mkString(" ") + ")")
    }
    if (rec.recall.nonEmpty)
      println(f"[e2ebench]   recall_at_10 ${Stats.median(rec.recall.toSeq)}%.4f " +
        f"(lowest iteration ${rec.recall.min}%.4f)")
    if (rec.storageAmp.nonEmpty)
      println(f"[e2ebench]   storage_amp ${Stats.median(rec.storageAmp.toSeq)}%.3f")
  }
}

/** The per-layer metric names the traced run reports, in order. */
object PerLayer {
  val counts: Seq[String] = Seq(
    "ingest.rows_parsed", "ingest.lake_files_written",
    "warehouse.batch_rows", "warehouse.fresh_rows", "warehouse.fresh_frac",
    "warehouse.segments", "queries.files_read", "queries.bytes_read",
    "functions.gate_pass_frac", "operators.dedup.lsh_candidates",
    "operators.dedup.confirmed_pairs", "operators.dedup.candidate_precision",
    "operators.graph_index.segments",
    "operators.graph_index.rerank_candidates_per_query",
    "sources.fs_read_ops", "sources.fs_write_ops", "sources.fs_bytes_read",
    "sources.fs_bytes_written", "jvm.gc_s", "jvm.codegen_compiles",
    "curation.unattributed_s",
    "trace.records_per_s_ratio", "trace.write_p50_ratio", "trace.read_p50_ratio",
    "job.read_p95_s", "job.read_samples", "job.write_samples", "job.build_s",
    "job.compact_s", "job.recall_at_10", "job.failed_frac")
  val names: Seq[String] =
    (for (l <- Layers.all; m <- Layers.metrics) yield s"$l.$m") ++ counts

  def unit(n: String): String =
    if (n.endsWith("_s")) "s"
    else if (n.endsWith("_bytes") || n.contains(".bytes_") || n.contains(".fs_bytes_")) "bytes"
    else if (n.endsWith("_frac") || n.endsWith("_ratio") || n.endsWith("precision") ||
      n.endsWith("recall_at_10")) "ratio"
    else "count"
}
