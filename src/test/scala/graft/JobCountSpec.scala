package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions._

/** The construction-job audit (docs/CONSTRUCTION_JOBS.md), promoted from
  * a manually-run doc to a GATE (round-13 directive): constructing a
  * judged query's DataFrame — the thing `.explain`, plan fingerprints,
  * and registry enumeration do — must run ZERO Spark jobs in steady
  * state, because at 100 TB a construction-time job whose fragment
  * touches the corpus is a full scan per `.explain`. Every registry
  * entry is constructed twice under a job-counting listener; the FIRST
  * construction absorbs one-time work (parquet leaf-file listing,
  * memoized builds — category 5 of the doc), the SECOND is asserted
  * against the committed allowlist below. A new bare
  * `localCheckpoint(eager = false)` on a shuffle-bearing fragment, or a
  * broadcast collect inside a checkpointed fragment, fails this suite
  * instead of landing silently (the canary test proves the harness sees
  * exactly that regression shape).
  */
class JobCountSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  /** Names whose steady-state construction legitimately runs jobs, with
    * a committed per-name CAP — exactly categories 3–4 of
    * docs/CONSTRUCTION_JOBS.md:
    *   - range-sampling (category 3): `repartitionByRange` samples its
    *     input when the shuffle RDD is built — the sample IS phase 1 of
    *     the two-phase global-rank algorithm; 1–5 small jobs each.
    *   - build-shaped (category 4): constructing the frame IS running
    *     the build (iterative fixpoints, GD/EM training rounds, peels
    *     and power iterations — deliberately NOT lazy; their per-round
    *     joins need AQE's runtime broadcasts, measured slower lazy).
    * Caps are measured steady-state counts at sf0.001 plus slack for
    * AQE's run-to-run stage-count jitter; the point of the cap is to
    * catch ORDER-OF-MAGNITUDE regressions (a corpus scan sneaking into a
    * checkpoint), not to pin exact job counts. */
  private val allowed: Map[String, Int] = Map(
    // caps re-swept round 15 from the "allowlist measured" info line:
    // every entry measured NONZERO and each cap is
    // max(2 × measured, measured + 2) — the +2 floor covers AQE's
    // stage-count jitter on the 1-job range-sampling entries
    // category 3 — two-phase global ranks (range-sampling pass);
    // measured steady-state at sf0.001 in parentheses
    "dq_spearman" -> 6, // (3)
    "dq_kruskal_wallis" -> 3, // (1)
    "dq_mannwhitney_2p" -> 3, // (1)
    "ev_rfm_2p" -> 10, // (5)
    "ev_pareto_share" -> 3, // (1)
    "tx_ppl_buckets_2p" -> 6, // (3)
    "tx_length_gini" -> 3, // (1) rowNumberPerKey range-sampling pass
    // category 4 — build-shaped: constructing runs the build
    // (kmeans/NN-Descent/PQ/coreset/GD/peel/power iterations —
    // deliberately NOT lazy, see plans/LazyCheckpoint scaladoc)
    "dd_fuzzy_keep" -> 60, // (30) embed-kmeans refine
    "dd_semantic_keep" -> 356, // (178) embedding kmeans build
    "emb_abtt" -> 84, // (42) top-eigen power iteration
    "emb_top_eigen" -> 84, // (42)
    "ev_hits" -> 84, // (42)
    "ev_kcore" -> 10, // (5) peel rounds
    "ev_label_prop" -> 18, // (9)
    // ev_triangles is NOT listed since round 14: its degree-ordered
    // orientation is memoized per (session, fixture) in ExtQueries
    // (orientedCovisitation — the knn16 pattern), so steady-state
    // construction is 0; the build charges once to the first construction
    "sim_adc_recall" -> 28, // (14) PQ codebook EM
    "sim_adc_rerank" -> 28, // (14)
    // sim_nndescent/sim_ari/sim_nmi/sim_cluster_purity/
    // sim_knn_components/sim_nndescent_recall are NOT listed: their
    // shared graph/CC builds are memoized per (session, fixture,
    // threshold) since round 13 (knn16/mutualComponents in
    // PipelineQueries), so steady-state construction is 0 — the build
    // charges once to whichever entry constructs first.
    "sim_graph_expand" -> 58, // (29) NN-Descent build on a FILTERED corpus
    "sim_mmr_exact" -> 78, // (39) greedy selection rounds
    "sim_mmr_rerank" -> 18, // (9)
    "sim_pq_adc_topk" -> 32, // (16)
    "sim_pq_codes" -> 22, // (11)
    "sm_coreset_coverage" -> 14, // (7) k-center rounds
    "sm_facility_coreset" -> 46, // (23)
    "sm_kcenter_coreset" -> 14, // (7)
    "tx_bpe_train" -> 34, // (17) merge rounds
    "tx_quality_classifier" -> 162) // (81) GD training rounds

  private def withCounter[A](body: AtomicInteger => A): A = {
    val jobs = new AtomicInteger(0)
    val l = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
    }
    spark.sparkContext.addSparkListener(l)
    try body(jobs)
    finally spark.sparkContext.removeSparkListener(l)
  }

  test("canary: the harness detects a bare lazy checkpoint's construction jobs") {
    withCounter { jobs =>
      drain()
      val before = jobs.get()
      // the exact regression shape this gate exists for: a bare
      // localCheckpoint(eager = false) on a shuffle-bearing fragment
      // under AQE executes the exchange at construction
      spark.range(0, 10000)
        .select((col("id") % 7).as("k")).groupBy("k").count()
        .localCheckpoint(eager = false)
        .queryExecution.executedPlan
      drain()
      assert(jobs.get() - before > 0,
        "deliberate bare-checkpoint canary not detected — the gate is blind")
    }
  }

  test("every registry entry constructs with zero steady-state jobs " +
      "(committed allowlist: range-sampling + build-shaped only)") {
    withCounter { jobs =>
      val offenders = scala.collection.mutable.ArrayBuffer.empty[String]
      val staleAllow = scala.collection.mutable.ArrayBuffer.empty[String]
      val measured = scala.collection.mutable.ArrayBuffer.empty[String]
      for (q <- Registry.all) {
        q.fn(spark, sf).queryExecution.executedPlan // one-time work lands here
        drain()
        val before = jobs.get()
        q.fn(spark, sf).queryExecution.executedPlan
        drain()
        val n = jobs.get() - before
        val cap = allowed.getOrElse(q.name, 0)
        if (n > cap) offenders += s"${q.name}: steady-state $n jobs > cap $cap"
        if (n == 0 && allowed.contains(q.name)) staleAllow += q.name
        if (allowed.contains(q.name)) measured += s"${q.name}=$n/cap$cap"
      }
      // the per-round sweep input (round-13 directive #6 / round-15 #5):
      // measured steady-state counts vs caps, so cap-tightening is a read
      // of this line, not a separate instrumented run
      info("allowlist measured: " + measured.mkString(", "))
      if (staleAllow.nonEmpty)
        info(s"allowlisted but measured 0 (tighten when stable): " +
          staleAllow.mkString(", "))
      assert(offenders.isEmpty,
        "queries running construction-time jobs in steady state " +
          "(see docs/CONSTRUCTION_JOBS.md):\n" + offenders.mkString("\n"))
    }
  }
}
