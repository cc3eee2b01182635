package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpec

class GraphIndexSpec extends SparkSpec {
  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"
  private lazy val corpus = graft.sources.Tables(spark, sf, "embeddings")
    .select("vec_id", "embedding")
  private lazy val queries = corpus.filter(col("vec_id") < 4)

  private lazy val path: String = {
    val p = java.nio.file.Files.createTempDirectory("graph-index").toString
    GraphIndex.build(corpus, p, k = 8, iters = 2, revCap = 8)
    p
  }

  /** The in-memory sim_graph_expand composite over the SAME graph/planes —
    * the parity target serving must hit bit-for-bit. */
  private def directExpand(base: org.apache.spark.sql.DataFrame,
      qs: org.apache.spark.sql.DataFrame, k: Int, hops: Int,
      seedK: Int): org.apache.spark.sql.DataFrame = {
    val planes = Seq(0, 1, 2, 3)
    val seeded = qs.select(
        Similarity.signLshBucket(col("embedding"), planes).as("bucket"),
        col("vec_id").as("query_id"), col("embedding").as("q_vec"))
      .join(base.select(
        Similarity.signLshBucket(col("embedding"), planes).as("bucket"),
        col("vec_id").as("neighbor_id"), col("embedding").as("n_vec")),
        "bucket")
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        graft.functions.VectorFunctions
          .cosineRounded(col("q_vec"), col("n_vec")).as("sim"))
    val seeds = Similarity.topKBySim(seeded, seedK)
      .select(col("query_id"), col("neighbor_id").as("cand"))
    val g = NnDescent.knnGraph(base, col("vec_id"), col("embedding"),
        k = 8, iters = 2, revCap = 8)
      .select(col("src").as("cand"), col("dst").as("expand"))
    var frontier = seeds
    var cands = seeds
    for (_ <- 1 to hops) {
      frontier = frontier.join(g, "cand")
        .select(col("query_id"), col("expand").as("cand")).distinct()
      cands = cands.unionByName(frontier)
    }
    val rerank = cands.distinct()
      .join(qs.select(col("vec_id").as("query_id"),
        col("embedding").as("q_vec")), "query_id")
      .join(base.select(col("vec_id").as("cand"),
        col("embedding").as("n_vec")), "cand")
      .filter(col("query_id") =!= col("cand"))
      .select(col("query_id"), col("cand").as("neighbor_id"),
        graft.functions.VectorFunctions
          .cosineRounded(col("q_vec"), col("n_vec")).as("sim"))
    Similarity.topKBySim(rerank, k)
  }

  test("serving from the persisted index equals the in-memory " +
      "seed+expand+rerank composite over the same graph") {
    val served = GraphIndex.searchTopK(spark, path, queries,
      k = 5, hops = 2, seedK = 8)
    val direct = directExpand(corpus, queries, k = 5, hops = 2, seedK = 8)
    assert(rowSet(served) === rowSet(direct))
    assert(served.count() > 0)
  }

  test("an empty query batch serves an empty top-k frame") {
    val got = GraphIndex.searchTopK(spark, path, queries.limit(0), k = 5)
    assert(got.columns.toSeq == Seq("query_id", "neighbor_id", "sim"))
    assert(got.count() == 0)
  }

  test("a null-embedding query gets no neighbors; the rest of its batch is " +
      "served unchanged") {
    val nullRow = corpus.filter(col("vec_id") === 4L).select(col("vec_id"),
      lit(null).cast(corpus.schema("embedding").dataType).as("embedding"))
    val got = GraphIndex.searchTopK(spark, path, queries.unionByName(nullRow), k = 5)
    assert(rowSet(got) == rowSet(GraphIndex.searchTopK(spark, path, queries, k = 5)))
    assert(GraphIndex.searchTopK(spark, path, nullRow, k = 5).count() == 0)
  }

  test("append is exactly-once (in-batch dup + replay), links same-batch " +
      "neighbors, and new vectors become searchable") {
    val p = java.nio.file.Files.createTempDirectory("graph-maint").toString
    GraphIndex.build(corpus.filter(col("vec_id") < 300), p,
      k = 8, iters = 2, revCap = 8)
    val batch = corpus.filter(col("vec_id") >= 300 && col("vec_id") < 350)
    val n0 = GraphIndex.vectors(spark, p).count()
    GraphIndex.append(spark, p, batch.unionByName(batch))
    GraphIndex.append(spark, p, batch) // full replay
    assert(GraphIndex.vectors(spark, p).count() === n0 + 50)
    // every appended node carries an edge list (the batch pool guarantees
    // candidates even in an otherwise-empty bucket: 50 vectors over 16
    // buckets always gives bucket mates somewhere; assert non-empty lists
    // for the ids that do have same-bucket company)
    val newEdges = GraphIndex.edges(spark, p).filter(col("src") >= 300)
    assert(newEdges.count() > 0, "appended nodes must be linked")
    // a new vector is reachable as a query answer: query for one of the
    // appended ids' own vector must return itself-adjacent neighbors
    val q = corpus.filter(col("vec_id") >= 300 && col("vec_id") < 302)
    val got = GraphIndex.searchTopK(spark, p, q, k = 3, hops = 1, seedK = 8)
    assert(got.count() > 0)
  }

  test("delete masks the vector and every edge touching it; re-append " +
      "restores; compact erases physically and serves identically") {
    val p = java.nio.file.Files.createTempDirectory("graph-del").toString
    GraphIndex.build(corpus.filter(col("vec_id") < 200), p,
      k = 8, iters = 2, revCap = 8)
    val victim = 7L
    assert(GraphIndex.edges(spark, p)
      .filter(col("src") === victim || col("dst") === victim).count() > 0)
    GraphIndex.delete(spark, p, Seq(victim).toDF("vec_id"))
    assert(GraphIndex.vectors(spark, p)
      .filter(col("vec_id") === victim).isEmpty)
    assert(GraphIndex.edges(spark, p)
      .filter(col("src") === victim || col("dst") === victim).isEmpty,
      "a deleted vector must not be served or expanded through")
    // serve result after compact is identical to before (masking was
    // already in force; compact only changes the physical layout)
    val before = rowSet(GraphIndex.searchTopK(spark, p, queries,
      k = 5, hops = 2, seedK = 8))
    GraphIndex.compact(spark, p)
    val after = rowSet(GraphIndex.searchTopK(spark, p, queries,
      k = 5, hops = 2, seedK = 8))
    assert(after === before)
    // physically erased: raw segment scan of the live manifest holds no
    // victim rows
    assert(GraphIndex.vectors(spark, p)
      .filter(col("vec_id") === victim).isEmpty)
    val m = graft.sources.SegmentedTable.readManifest(spark, p)
    assert(m.segments.length === 1, "compact folds to one live segment")
    assert(!m.extras.contains("tombstone_segs"),
      "compact clears the tombstone ledger")
    // re-append after delete: the id screen must re-admit it
    GraphIndex.append(spark, p, corpus.filter(col("vec_id") === victim))
    assert(GraphIndex.vectors(spark, p)
      .filter(col("vec_id") === victim).count() === 1)
  }

  test("the compaction bound is enforced even on a fully-screened (skipped) " +
      "append — tightening maxSegments compacts on the next replay") {
    val p = java.nio.file.Files.createTempDirectory("graph-bound").toString
    GraphIndex.build(corpus.filter(col("vec_id") < 200), p,
      k = 8, iters = 2, revCap = 8)
    val b1 = corpus.filter(col("vec_id") >= 200 && col("vec_id") < 230)
    val b2 = corpus.filter(col("vec_id") >= 230 && col("vec_id") < 260)
    GraphIndex.append(spark, p, b1, maxSegments = 16)
    GraphIndex.append(spark, p, b2, maxSegments = 16)
    assert(graft.sources.SegmentedTable.readManifest(spark, p)
      .segments.length === 3)
    // a FULL replay publishes nothing — but the tightened bound must
    // still compact (IndexIngest.appendScreened's rule)
    GraphIndex.append(spark, p, b2, maxSegments = 2)
    val m = graft.sources.SegmentedTable.readManifest(spark, p)
    assert(m.segments.length === 1,
      s"skipped publish must still enforce the bound, got ${m.segments}")
    assert(GraphIndex.vectors(spark, p).count() === 260)
  }

  test("append staleness is measured and bounded; compact(relink=true) " +
      "heals serving recall toward a fresh full build") {
    // Build on HALF the corpus, append the rest in 4 batches: appended
    // nodes link outward but never enter old nodes' edge lists, so
    // old-seeded expansions can't reach them — the documented
    // one-directional staleness. This test pins the decay floor and
    // proves the compaction re-link (one NnDescent.refineRound over the
    // merged lists) recovers recall to the fresh-rebuild level.
    val qs = corpus.filter(col("vec_id") < 24)
    val truth = Similarity.bruteForceTopK(corpus, qs, 3)
      .select(col("query_id"), col("neighbor_id"))
    val nTruth = truth.count().toDouble
    def recallOf(served: org.apache.spark.sql.DataFrame): Double =
      served.select(col("query_id"), col("neighbor_id"))
        .join(truth, Seq("query_id", "neighbor_id"), "left_semi")
        .count().toDouble / nTruth
    val pInc = java.nio.file.Files.createTempDirectory("graph-stale").toString
    GraphIndex.build(corpus.filter(col("vec_id") < 250), pInc,
      k = 8, iters = 2, revCap = 8)
    Seq((250L, 313L), (313L, 375L), (375L, 438L), (438L, 500L)).foreach {
      case (lo, hi) => GraphIndex.append(spark, pInc,
        corpus.filter(col("vec_id") >= lo && col("vec_id") < hi))
    }
    val stale = recallOf(GraphIndex.searchTopK(spark, pInc, qs,
      k = 3, hops = 2, seedK = 8))
    GraphIndex.compact(spark, pInc, relink = true)
    val healed = recallOf(GraphIndex.searchTopK(spark, pInc, qs,
      k = 3, hops = 2, seedK = 8))
    val pFresh = java.nio.file.Files.createTempDirectory("graph-fresh").toString
    GraphIndex.build(corpus, pFresh, k = 8, iters = 2, revCap = 8)
    val fresh = recallOf(GraphIndex.searchTopK(spark, pFresh, qs,
      k = 3, hops = 2, seedK = 8))
    info(f"recall@3 stale=$stale%.3f relinked=$healed%.3f fresh=$fresh%.3f")
    // floors pinned from measurement (see info line): staleness may cost
    // recall but must stay bounded, and the re-link must close the gap
    assert(stale >= 0.60, f"stale recall $stale%.3f below floor")
    assert(healed >= fresh - 0.05,
      f"relinked recall $healed%.3f must reach the fresh build's $fresh%.3f")
    assert(healed >= stale - 1e-9, "re-link must never reduce recall")
  }

  test("serve operating curve: recall@3 floors per (seedK, hops) on the " +
      "HEALED index, and more probe effort never loses recall") {
    // Round-13 directive: the healed (append + relink) index is the
    // steady-state serving index, and round 12 pinned only ONE operating
    // point (seedK=8, hops=2). This sweep commits a recall floor per
    // probe setting so a serving tier can CHOOSE its cost/recall point
    // and any regression in seeding, expansion, or the re-link shows up
    // as a broken floor. Built like the staleness test: half-corpus
    // build, 4 appends, compact(relink = true).
    val qs = corpus.filter(col("vec_id") < 24)
    val truth = Similarity.bruteForceTopK(corpus, qs, 3)
      .select(col("query_id"), col("neighbor_id"))
    val nTruth = truth.count().toDouble
    val p = java.nio.file.Files.createTempDirectory("graph-curve").toString
    GraphIndex.build(corpus.filter(col("vec_id") < 250), p,
      k = 8, iters = 2, revCap = 8)
    Seq((250L, 313L), (313L, 375L), (375L, 438L), (438L, 500L)).foreach {
      case (lo, hi) => GraphIndex.append(spark, p,
        corpus.filter(col("vec_id") >= lo && col("vec_id") < hi))
    }
    GraphIndex.compact(spark, p, relink = true)
    def recallAt(seedK: Int, hops: Int): Double =
      GraphIndex.searchTopK(spark, p, qs, k = 3, hops = hops, seedK = seedK)
        .select(col("query_id"), col("neighbor_id"))
        .join(truth, Seq("query_id", "neighbor_id"), "left_semi")
        .count().toDouble / nTruth
    // committed floors, measured on this deterministic fixture — measured
    // (4,1)=0.361 (8,1)=0.431 (8,2)=0.792 (16,2)=0.806 (16,3)=0.958;
    // hops dominate seeds (edge expansion recovers what LSH seeding
    // misses), so ≥2 hops is the serving default and (8,2) the chosen
    // operating point. Floors sit ~0.05 under measurement for slack.
    val floors = Seq(
      (4, 1) -> 0.30, (8, 1) -> 0.38, (8, 2) -> 0.72,
      (16, 2) -> 0.75, (16, 3) -> 0.90)
    val measured = floors.map { case ((s, h), f) =>
      val r = recallAt(s, h); ((s, h), f, r)
    }
    info(measured.map { case ((s, h), _, r) => f"($s,$h)=$r%.3f" }
      .mkString("recall@3: ", " ", ""))
    measured.foreach { case ((s, h), f, r) =>
      assert(r >= f, f"recall@3 at (seedK=$s, hops=$h) = $r%.3f " +
        f"below the committed floor $f%.2f")
    }
    // more probe effort never loses recall: more seeds (same hops) and
    // more hops (same seeds) both grow the candidate set monotonically
    val byPoint = measured.map { case (k, _, r) => k -> r }.toMap
    assert(byPoint((8, 1)) >= byPoint((4, 1)) - 1e-9)
    assert(byPoint((16, 2)) >= byPoint((8, 2)) - 1e-9)
    assert(byPoint((8, 2)) >= byPoint((8, 1)) - 1e-9)
    assert(byPoint((16, 3)) >= byPoint((16, 2)) - 1e-9)
  }

  test("vacuum reclaims superseded segments of BOTH families; a replayed " +
      "append after compact+vacuum still lands nothing") {
    val p = java.nio.file.Files.createTempDirectory("graph-vac").toString
    GraphIndex.build(corpus.filter(col("vec_id") < 200), p,
      k = 8, iters = 2, revCap = 8)
    val batch = corpus.filter(col("vec_id") >= 200 && col("vec_id") < 260)
    GraphIndex.append(spark, p, batch)
    GraphIndex.compact(spark, p)
    GraphIndex.vacuum(spark, p)
    def segDirs(fam: String) =
      new java.io.File(s"$p/$fam").listFiles()
        .filter(_.getName.startsWith("seg=")).map(_.getName).toSet
    assert(segDirs("vectors").size === 1, s"vectors: ${segDirs("vectors")}")
    assert(segDirs("edges").size === 1, s"edges: ${segDirs("edges")}")
    val n = GraphIndex.vectors(spark, p).count()
    GraphIndex.append(spark, p, batch) // replay after the whole cycle
    assert(GraphIndex.vectors(spark, p).count() === n)
    // the torn-rebuild stamp survives the maintenance cycle
    val served = GraphIndex.searchTopK(spark, p, queries, k = 3)
    assert(served.count() > 0)
  }
}
