package graft.operators

import org.apache.spark.sql.DataFrame

/** Compute-parallelism helper: a parquet scan parallelizes by file/row-group,
  * so a single-row-group input runs any per-row compute (hashing, cosine
  * loops, tokenization) on ONE task no matter how many cores exist. CPU-heavy
  * operators fan their input out to the shuffle-partition width first — a few
  * MB of extra shuffle buying full-width execution. The same move is right at
  * 100 TB whenever a selective filter (or coalesced scan) has collapsed
  * partition count below cluster width.
  */
object Parallelism {

  /** Size-derived width for explicitly PINNED exchanges: the
    * REPARTITION_BY_NUM pins that protect CPU-per-row stages from AQE's
    * byte-coalescing would under-partition a data-sized exchange at
    * cluster scale if they were core-count-wide — a core-count-wide
    * exchange of raw corpus rows means multi-GB partitions and spill, the
    * very thing AQE's byte logic would have split. Width =
    * max(defaultParallelism, plannedBytes / bytesPerTask): the core-count
    * FLOOR keeps tiny inputs at full machine width (unchanged at bench
    * scale), the bytes term grows the width once partitions would
    * otherwise exceed the target.
    *
    * Planned bytes come from the optimized logical plan's statistics —
    * driver-side arithmetic, no jobs at construction (the fanOut
    * discipline). Stats are estimates: UNKNOWN sizes (the Long.MaxValue
    * default of stat-less leaves) fall back to the core-count floor, and
    * a 64×-cores cap bounds join-estimate blowup — both fallbacks
    * reproduce or bound a core-count pin, never a 1-partition fold. */
  def pinWidth(df: DataFrame, bytesPerTask: Long = 64L << 20): Int = {
    val cores = df.sparkSession.sparkContext.defaultParallelism
    val size =
      try df.queryExecution.optimizedPlan.stats.sizeInBytes
      catch { case _: Throwable => BigInt(-1) }
    val unknown = size <= 0 || size >= BigInt(Long.MaxValue) / 4
    if (unknown) cores
    else ((size + bytesPerTask - 1) / bytesPerTask)
      .max(BigInt(cores)).min(BigInt(cores) * 64).toInt
  }

  /** Repartition `df` to shuffle width — ONLY when its scan is actually
    * narrower. A 100 TB corpus scan already carries thousands of splits;
    * shuffling its full rows (for MinHash, the document TEXT) before a
    * per-row projection would be the most expensive no-op in the pipeline.
    *
    * The probe first checks the optimized LOGICAL plan is scan-shaped
    * (projections/filters over a leaf — the narrow-scan call sites this
    * helper exists for). Anything else — joins, aggregates, an existing
    * repartition — returns unchanged: its output is already produced at
    * shuffle width, and, more importantly, probing such a frame with
    * `df.rdd` under AQE would FINALIZE the adaptive plan and execute every
    * upstream query stage as real Spark jobs at DataFrame-construction
    * time (a silent double-execution trap). For a scan-shaped plan there
    * are no exchanges to materialize, so the `.rdd` width probe is pure
    * file-split math — no jobs at any time. */
  def fanOut(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.catalyst.plans.logical._
    def scanShaped(p: LogicalPlan): Boolean = p match {
      case _: LeafNode => true
      case p: Project => scanShaped(p.child)
      case f: Filter => scanShaped(f.child)
      case a: SubqueryAlias => scanShaped(a.child)
      case _ => false
    }
    val width =
      df.sparkSession.conf.get("spark.sql.shuffle.partitions", "200").toInt
    if (!scanShaped(df.queryExecution.optimizedPlan)) df
    else if (df.rdd.getNumPartitions >= width) df
    else df.repartition(width)
  }
}
