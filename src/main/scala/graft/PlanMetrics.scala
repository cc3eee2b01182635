package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}

/** Executed-plan metrics dump: runs a named judged query and prints one
  * line per physical node with its post-execution SQLMetrics (output
  * rows, shuffle records/bytes, partition counts). This is the
  * measurement tool behind SCALING.md's per-operator decompositions —
  * e.g. the w1_window_rank story: whether the
  * partial WindowGroupLimit keeps per-task work flat and only
  * row/partition COUNT grows across a decade is a read of these numbers
  * at two SFs, not an argument.
  *
  * Usage: runMain graft.PlanMetrics <queryName> [sfDir]
  */
object PlanMetrics {

  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: PlanMetrics <queryName> [sfDir]")
    val name = args(0)
    val dir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val df = Registry.byName(name).fn(spark, dir)
    // run THIS frame's own QueryExecution (df.write would plan a fresh
    // one, leaving these nodes' SQLMetrics empty), then read the metrics
    // off its final adaptive plan
    df.queryExecution.toRdd.foreach(_ => ())

    println(s"== $name @ $dir")
    show(df.queryExecution.executedPlan)
    spark.stop()
  }

  /** Prints `p` as an indented tree, one line per node with its non-zero
    * SQLMetrics, descending through adaptive plans and query stages so an
    * executed AQE plan shows its final stages. `partitions` adds each
    * node's output partition count. */
  def show(p: SparkPlan, depth: Int = 0, partitions: Boolean = true): Unit = {
    val metrics = p.metrics.toSeq
      .filter { case (_, m) => m.value > 0 }
      .sortBy(_._1)
      .map { case (k, m) => s"$k=${m.value}" }
    val parts =
      if (!partitions) ""
      else try s" partitions=${p.outputPartitioning.numPartitions}"
      catch { case _: Throwable => "" }
    println("  " * depth + p.nodeName + parts +
      (if (metrics.isEmpty) "" else metrics.mkString(" [", ", ", "]")))
    p match {
      case a: AdaptiveSparkPlanExec => show(a.executedPlan, depth + 1, partitions)
      case s: QueryStageExec => show(s.plan, depth + 1, partitions)
      case _ => p.children.foreach(show(_, depth + 1, partitions))
    }
  }
}
