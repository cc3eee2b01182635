package e2ebench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.FileSystem
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}

import graft.plans.TopKPerGroupExec

/** One traced call into a layer. Times are epoch milliseconds (fractional),
  * so they compare directly with Spark's task launch and finish times. */
final case class Span(id: Int, name: String, tag: String, parent: Int,
    run: String, start: Double, var end: Double = Double.NaN)

/** Work Spark reports for the jobs of one span, summed over its tasks. */
final class SpanWork {
  var jobs = 0L
  var cpuNs = 0L
  var shuffleWrite = 0L
  var spill = 0L
  var fetchWaitMs = 0L
  var planMs = 0L
  var scanFiles = 0L
  var scanBytes = 0L
  var rerankRows = 0L
  var filesWritten = 0L
  val tasks = mutable.ArrayBuffer.empty[(Double, Double)]
}

/** The layers the benchmark puts spans around, in report order. A span
  * with any other name (the per-iteration root, "job") is a container: its
  * self time is reported nowhere, its children are. */
object Layers {
  val all: Seq[String] = Seq("ingest", "warehouse", "queries", "functions",
    "curation", "operators.dedup", "operators.graph_index",
    "operators.nn_descent")
  val metrics: Seq[String] = Seq("self_s", "plan_s", "cpu_s",
    "shuffle_write_bytes", "spill_bytes", "fetch_wait_s", "jobs",
    "residual_s")
}

/** Spans from the benchmark's own code, around each call into a layer.
  *
  * Attribution: a span sets the Spark local property [[Tracer.Prop]] to its
  * id on the one client thread, so every job that thread submits carries
  * it; [[Collector]] maps job → stages → tasks to the span and sums the
  * task metrics there. A SQL execution is mapped to a span through the
  * execution id its jobs carry, or, for one that ran no job, through the
  * span open when it started. Hadoop FileSystem statistics are global to
  * the JVM (local-mode tasks run in it), so their deltas are taken around
  * the whole traced phase. Spans stay in memory until [[writeJson]].
  *
  * A disabled tracer runs the body and records nothing. */
final class Tracer(spark: SparkSession, val enabled: Boolean) {
  import Tracer._

  private val sc = spark.sparkContext
  val spans = mutable.ArrayBuffer.empty[Span]
  private val stack = mutable.Stack.empty[Span]
  private var run = ""
  private val collector = if (enabled) Some(Collector.install(spark, this)) else None
  private val counts = mutable.LinkedHashMap.empty[String, Double]

  def beginRun(id: String): Unit = run = id

  /** Run `body` inside a span of layer `name`; `tag` names the call (for
    * example "serve"), so one layer's calls can be told apart. */
  def span[T](name: String, tag: String = "")(body: => T): T =
    if (!enabled) body
    else {
      val s = Span(spans.length, name, tag, stack.headOption.fold(-1)(_.id), run, nowMs())
      spans += s
      stack.push(s)
      sc.setLocalProperty(Prop, s.id.toString)
      try body
      finally {
        s.end = nowMs()
        stack.pop()
        sc.setLocalProperty(Prop, stack.headOption.map(_.id.toString).orNull)
      }
    }

  /** Innermost span open at `t` (epoch ms), for executions with no job. */
  private[e2ebench] def spanAt(t: Double): Option[Int] =
    spans.filter(s => s.start <= t && (s.end.isNaN || t <= s.end))
      .maxByOption(_.start).map(_.id)

  /** Add to a named layer counter (a count, not a time). */
  def count(name: String, v: Double): Unit =
    if (enabled) counts(name) = counts.getOrElse(name, 0.0) + v

  def counter(name: String): Double = counts.getOrElse(name, 0.0)

  /** Set a layer counter that is a level, not a sum. */
  def set(name: String, v: Double): Unit = if (enabled) counts(name) = v

  /** Rerank candidates summed over the spans tagged `tag`. */
  def rerankRows(tag: String): Double = {
    val work = collector.map(_.work).getOrElse(Map.empty[Int, SpanWork])
    spans.filter(_.tag == tag).map(s => work.get(s.id).fold(0L)(_.rerankRows)).sum.toDouble
  }

  private var fs0 = FsStats.now()
  private var gc0 = gcMs()
  private var cg0 = codegenCompiles()
  private var fsDelta = FsStats(0, 0)
  private var gcS = 0.0
  private var compiles = 0L

  /** Mark the start of the traced phase (counter baselines). */
  def open(): Unit = { fs0 = FsStats.now(); gc0 = gcMs(); cg0 = codegenCompiles() }

  /** End the traced phase: take counter deltas and wait until the listener
    * has seen every event the phase caused. */
  def close(): Unit = if (enabled) {
    fsDelta = FsStats.now().minus(fs0)
    gcS = (gcMs() - gc0) / 1000.0
    compiles = codegenCompiles() - cg0
    collector.foreach(_.drain(spark))
  }

  /** Per-layer metrics named `<layer>.<metric>`, every layer present (zero
    * where the layer did no work), plus the phase-wide counters. */
  def layerMetrics(): mutable.LinkedHashMap[String, Double] = {
    val out = mutable.LinkedHashMap.empty[String, Double]
    val work = collector.map(_.work).getOrElse(Map.empty[Int, SpanWork])
    val children = spans.groupBy(_.parent)
    for (l <- Layers.all; m <- Layers.metrics) out(s"$l.$m") = 0.0
    for (s <- spans if Layers.all.contains(s.name)) {
      val self = Intervals.minus(Seq((s.start, s.end)),
        children.getOrElse(s.id, Nil).toSeq.map(c => (c.start, c.end)))
      val w = work.getOrElse(s.id, new SpanWork)
      val busy = Intervals.intersect(self, Intervals.union(w.tasks.toSeq))
      def add(m: String, v: Double): Unit = out(s"${s.name}.$m") += v
      add("self_s", Intervals.length(self) / 1000.0)
      add("plan_s", w.planMs / 1000.0)
      add("cpu_s", w.cpuNs / 1e9)
      add("shuffle_write_bytes", w.shuffleWrite.toDouble)
      add("spill_bytes", w.spill.toDouble)
      add("fetch_wait_s", w.fetchWaitMs / 1000.0)
      add("jobs", w.jobs.toDouble)
      add("residual_s", (Intervals.length(self) - Intervals.length(busy)) / 1000.0)
    }
    def sumOver(p: Span => Boolean)(f: SpanWork => Long): Double =
      spans.filter(p).map(s => work.get(s.id).fold(0L)(f)).sum.toDouble
    counts("queries.files_read") = sumOver(_.name == "queries")(_.scanFiles)
    counts("queries.bytes_read") = sumOver(_.name == "queries")(_.scanBytes)
    counts("sources.fs_read_ops") = sumOver(_ => true)(_.scanFiles)
    counts("sources.fs_write_ops") = sumOver(_ => true)(_.filesWritten)
    counts("sources.fs_bytes_read") = fsDelta.bytesRead.toDouble
    counts("sources.fs_bytes_written") = fsDelta.bytesWritten.toDouble
    counts("jvm.gc_s") = gcS
    counts("jvm.codegen_compiles") = compiles.toDouble
    out ++= counts
    out
  }

  /** Write every span with its attributed work as one JSON document. */
  def writeJson(path: String, header: Seq[(String, String)]): Unit = if (enabled) {
    val work = collector.map(_.work).getOrElse(Map.empty[Int, SpanWork])
    val sb = new StringBuilder("{")
    header.foreach { case (k, v) => sb.append(Json.str(k)).append(':').append(v).append(',') }
    sb.append("\"spans\":[")
    spans.zipWithIndex.foreach { case (s, i) =>
      val w = work.getOrElse(s.id, new SpanWork)
      if (i > 0) sb.append(",\n")
      sb.append(Json.obj(Seq(
        "id" -> s.id.toString, "name" -> Json.str(s.name), "tag" -> Json.str(s.tag),
        "parent" -> s.parent.toString, "run" -> Json.str(s.run),
        "start_ms" -> Json.num(s.start), "end_ms" -> Json.num(s.end),
        "jobs" -> w.jobs.toString, "tasks" -> w.tasks.length.toString,
        "cpu_s" -> Json.num(w.cpuNs / 1e9), "plan_s" -> Json.num(w.planMs / 1000.0),
        "shuffle_write_bytes" -> w.shuffleWrite.toString,
        "spill_bytes" -> w.spill.toString,
        "fetch_wait_s" -> Json.num(w.fetchWaitMs / 1000.0))))
    }
    sb.append("]}\n")
    Files.write(path, sb.toString)
  }
}

object Tracer {
  val Prop = "e2ebench.span"
  private val FenceId = "fence"
  private val baseEpoch = System.currentTimeMillis().toDouble
  private val baseNano = System.nanoTime()
  def nowMs(): Double = baseEpoch + (System.nanoTime() - baseNano) / 1e6

  def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum

  def codegenCompiles(): Long =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  /** The SparkListener feeding one tracer. A SQL execution's end event
    * carries its QueryExecution (the field is internal to Spark, its
    * accessor public in bytecode, hence the reflective read); it gives the
    * planning phase times and the scan and write metrics. */
  final class Collector private (tracer: Tracer)
      extends SparkListener with AdaptiveSparkPlanHelper {
    private val stageSpan = new ConcurrentHashMap[Int, Int]()
    private val execSpan = new ConcurrentHashMap[Long, Int]()
    private val execStart = new ConcurrentHashMap[Long, Double]()
    private val byId = new ConcurrentHashMap[Int, SpanWork]()
    private val fenceExecs = ConcurrentHashMap.newKeySet[Long]()
    @volatile private var fenceSeen = false

    def work: Map[Int, SpanWork] = byId.asScala.toMap

    private def of(span: Int): SpanWork = byId.computeIfAbsent(span, _ => new SpanWork)

    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val p = Option(e.properties)
      def prop(k: String) = p.flatMap(x => Option(x.getProperty(k)))
      val exec = prop("spark.sql.execution.id").map(_.toLong)
      prop(Prop).foreach {
        case FenceId => exec.foreach(fenceExecs.add)
        case id =>
          val span = id.toInt
          of(span).jobs += 1
          e.stageIds.foreach(stageSpan.put(_, span))
          exec.foreach(execSpan.putIfAbsent(_, span))
      }
    }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (stageSpan.containsKey(e.stageId) && m != null) {
        val w = of(stageSpan.get(e.stageId))
        w.synchronized {
          w.cpuNs += m.executorCpuTime
          w.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          w.spill += m.memoryBytesSpilled + m.diskBytesSpilled
          w.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
          w.tasks += ((e.taskInfo.launchTime.toDouble, e.taskInfo.finishTime.toDouble))
        }
      }
    }

    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart => execStart.put(s.executionId, s.time.toDouble)
      case end: SparkListenerSQLExecutionEnd =>
        if (fenceExecs.contains(end.executionId)) fenceSeen = true
        else {
          val qe = end.getClass.getMethod("qe").invoke(end).asInstanceOf[QueryExecution]
          val span = Option(execSpan.get(end.executionId)).map(_.toInt)
            .orElse(Option(execStart.get(end.executionId)).flatMap(t => tracer.spanAt(t)))
          if (qe != null) span.foreach(s => attribute(of(s), qe))
        }
      case _ => ()
    }

    private def attribute(w: SpanWork, qe: QueryExecution): Unit = {
      val plan = qe.executedPlan
      val scans = collectWithSubqueries(plan) { case f: FileSourceScanExec => f }
      val writes = collect(plan) { case d: DataWritingCommandExec => d }
      // the outermost top-k's input exchange carries the rerank candidates
      val rerank = collectFirst(plan) { case t: TopKPerGroupExec => t }
        .flatMap(t => collectFirst(t.child) { case x: ShuffleExchangeExec => x })
      def metric(p: SparkPlan, name: String) = p.metrics.get(name).fold(0L)(_.value)
      w.synchronized {
        w.planMs += qe.tracker.phases.values.map(_.durationMs).sum
        w.scanFiles += scans.map(metric(_, "numFiles")).sum
        w.scanBytes += scans.map(metric(_, "filesSize")).sum
        w.filesWritten += writes.map(metric(_, "numFiles")).sum
        w.rerankRows += rerank.fold(0L)(metric(_, "shuffleRecordsWritten"))
      }
    }

    /** Run a fence query and wait until its end event is delivered: the
      * listener queue is FIFO, so every earlier event has been seen. */
    def drain(spark: SparkSession): Unit = {
      val sc = spark.sparkContext
      val prev = sc.getLocalProperty(Prop)
      sc.setLocalProperty(Prop, FenceId)
      try spark.range(1).write.format("noop").mode("overwrite").save()
      finally sc.setLocalProperty(Prop, prev)
      val deadline = System.nanoTime() + 60L * 1000000000L
      while (!fenceSeen && System.nanoTime() < deadline) Thread.sleep(10)
      sc.removeSparkListener(this)
    }
  }

  object Collector {
    def install(spark: SparkSession, t: Tracer): Collector = {
      val c = new Collector(t)
      spark.sparkContext.addSparkListener(c)
      c
    }
  }
}

/** Bytes moved through Hadoop FileSystems, summed over every scheme. (The
  * local filesystem counts bytes but not operations; files opened and
  * created are counted from the scan and write metrics instead.) */
final case class FsStats(bytesRead: Long, bytesWritten: Long) {
  def minus(o: FsStats): FsStats = FsStats(bytesRead - o.bytesRead, bytesWritten - o.bytesWritten)
}

object FsStats {
  @annotation.nowarn("cat=deprecation")
  def now(): FsStats = {
    val all = FileSystem.getAllStatistics.asScala
    FsStats(all.map(_.getBytesRead).sum, all.map(_.getBytesWritten).sum)
  }
}

/** Closed intervals on one time line, as sorted disjoint (start, end). */
object Intervals {
  type I = Seq[(Double, Double)]

  def union(xs: I): I = {
    val out = mutable.ArrayBuffer.empty[(Double, Double)]
    xs.filter { case (a, b) => b > a }.sortBy(_._1).foreach { case (a, b) =>
      if (out.nonEmpty && a <= out.last._2) out(out.length - 1) = (out.last._1, out.last._2 max b)
      else out += ((a, b))
    }
    out.toSeq
  }

  def intersect(xs: I, ys: I): I = {
    val a = union(xs)
    val b = union(ys)
    for {
      (s1, e1) <- a
      (s2, e2) <- b
      s = s1 max s2
      e = e1 min e2
      if e > s
    } yield (s, e)
  }

  def minus(xs: I, ys: I): I = {
    val cut = union(ys)
    union(xs).flatMap { case (s, e) =>
      var pieces = Seq((s, e))
      cut.foreach { case (cs, ce) =>
        pieces = pieces.flatMap { case (ps, pe) =>
          Seq((ps, pe min cs), (ps max ce, pe)).filter { case (a, b) => b > a }
        }
      }
      pieces
    }
  }

  def length(xs: I): Double = xs.map { case (a, b) => b - a }.sum
}
