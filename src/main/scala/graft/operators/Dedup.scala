package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType}

import graft.functions.TextFunctions._
import graft.functions.VectorFunctions._

/** Deduplication operators for the training-data pipeline surface.
  *
  * Scale design: exact dedup is one hash-aggregate shuffle on the dup key.
  * MinHash-LSH is the 100 TB path for near-dup: signatures come from one
  * custom MinHash aggregate with map-side partial aggregation (shingles
  * collapse to a per-doc signature before the shuffle), then only the tiny
  * (doc_id, band_key) projection moves — candidate generation is bucket
  * grouping on band keys. Exact pairwise Jaccard is provided for
  * verification on bounded subsets, never for full-corpus use.
  *
  * Degenerate-corpus hardening (the web-crawl reality at 100 TB: millions of
  * byte-identical boilerplate pages): both pair generators first collapse
  * exact-duplicate groups (identical MinHash signature / identical SimHash —
  * which by construction share every band) to one representative via a
  * map-side-combining group aggregate over the fingerprint (the fingerprint
  * projection is checkpointed once so the re-attach joins never re-run the
  * scan), generate candidate pairs over representatives only, and re-attach
  * the collapsed members afterward with streaming equi-joins. Intra-bucket
  * pair emission streams through generators with O(chunk) peak memory, and
  * oversized buckets split into block-pair work units spread across tasks —
  * no single task ever owns an O(bucket²) pair emission regardless of
  * corpus shape.
  */
object Dedup {

  /** Buckets at or below this size expand in place; larger ones go through
    * the second-level block split so no single task owns an O(bucket²) pair
    * emission (an adversarial corpus can put 10⁵ DISTINCT-yet-banded
    * signatures in one bucket — LSH bounds bucket sizes only in
    * expectation).
    *
    * Size trade for [[chunkPairWalk]]: the unit join's wire cost is
    * Σ_bucket nc²·chunk_bytes ∝ bucket²·item_bytes / chunk (bigger cuts
    * wire), but a chunk row allocates items·item_bytes CONTIGUOUSLY —
    * multi-MB chunk rows are G1 humongous allocations and 32 concurrent
    * tasks fragment the heap to an OOM (measured at sf1 with 4096-item
    * string-array chunks); 1024 hash-array items (~0.4 MB) stay well
    * under the humongous threshold at default region sizes. */
  private[operators] val DefaultChunk = 1024

  /** All intra-bucket item pairs (`a` < `b` by the item struct's order) for
    * buckets keyed by `keys`: one keyed aggregate collects each bucket's
    * sorted item array, the array splits into `chunk`-sized blocks, every
    * (block_i, block_j) i ≤ j pair becomes one work unit, and the units are
    * hash-redistributed on (bucket key, i, j) before a streamed generator
    * expansion. Peak memory per task is O(chunk) (two blocks), never the
    * O(bucket²) a flattened pair array would need — and no single task ever
    * owns a bucket's quadratic emission: a single adversarial mega-bucket
    * (10⁵ DISTINCT-yet-banded signatures — LSH bounds bucket sizes only in
    * expectation) spreads its (size/chunk)² units over the whole cluster
    * instead of serializing on one core.
    *
    * Sorted blocks make pair ordering free: every item of block_i precedes
    * every item of block_j for i < j, so cross units emit all of ba × bb,
    * while diagonal units (bb null) reuse the posexplode + tail-slice
    * generator. One deliberate cost: the redistribution exchange moves the
    * bucket arrays once more (~the band projection's size); that buys
    * bounded task time on EVERY corpus shape with a single, union-free
    * plan — the branch-per-size alternative re-plans the aggregate per
    * branch and measures slower at sf0.1 than this extra exchange. */
  private[operators] def bucketPairs(rows: DataFrame, keys: Seq[String], item: Column,
      chunk: Int = DefaultChunk): DataFrame = {
    require(chunk > 1, "chunk must exceed 1")
    val keyCols = keys.map(col)
    val nc = ceil(size(col("items")).cast("double") / chunk).cast("int")
    // size-derived pin width (round 16 — replaces the bare
    // defaultParallelism pin): core-count floor at bench scale, grows
    // with planned input bytes so the raw-row exchange below never packs
    // multi-GB partitions at cluster scale
    val width = Parallelism.pinWidth(rows)
    rows
      // pinned-width bucket collapse (round 15): the collect_list +
      // sort_array per bucket is CPU-per-row work, and AQE's byte-based
      // coalescing folded the few-MB bucket exchange to ONE partition at
      // bench scale (dd_winnow_pairs' executed plan: the whole bucket
      // aggregate and chunk enumeration single-task). The explicit
      // repartition IS the aggregate's exchange (same count, same keys) —
      // partial collect_list doesn't shrink bytes, so shuffling raw rows
      // costs the same wire either way.
      .repartition(width, keyCols: _*)
      .groupBy(keyCols: _*)
      .agg(sort_array(collect_list(item)).as("items"))
      .filter(size(col("items")) > 1)
      .withColumn("nc", nc)
      .select((keyCols :+ col("items") :+ col("nc") :+
        explode(sequence(lit(0), col("nc") - 1)).as("ci")): _*)
      .select((keyCols :+ col("items") :+ col("ci") :+
        explode(sequence(col("ci"), col("nc") - 1)).as("cj")): _*)
      .select((keyCols :+ col("ci") :+ col("cj") :+
        slice(col("items"), col("ci") * chunk + 1, lit(chunk)).as("ba") :+
        when(col("cj") > col("ci"),
          slice(col("items"), col("cj") * chunk + 1, lit(chunk))).as("bb")): _*)
      // explicit partition count (REPARTITION_BY_NUM): AQE's size-based
      // coalescing must NOT fold these units back together — a unit's
      // shuffle bytes are O(chunk) but its generator emission is O(chunk²),
      // so "small" map output here does not mean small work. Same
      // size-derived width as the bucket collapse (unit bytes track the
      // bucket-array bytes they re-distribute).
      .repartition(width, (keyCols :+ col("ci") :+ col("cj")): _*)
      .select(col("ba"), col("bb"), posexplode(col("ba")).as(Seq("i", "a")))
      .select(col("a"), explode(
        when(col("bb").isNull,
          slice(col("ba"), col("i") + lit(2), size(col("ba"))))
          .otherwise(col("bb"))).as("b"))
  }

  /** The chunk-unit plan behind the exact set-similarity joins: one `r`
    * struct (doc_a, doc_b, n) per pair `test` accepts, doc_a < doc_b.
    * `rows` carry the bucket column `key`, `doc_id` and the fields of
    * `item` (doc_id leading — the sort order the walk relies on).
    *
    * Each bucket splits into doc-id-ordered chunks of ≤ `chunk` items
    * (bounded row size — collecting whole mega-buckets as single rows
    * OOMs). The chunk relation is LazyCheckpoint-ed: it feeds the
    * diagonal walk, the unit enumeration, and both attach legs, and
    * without the lineage cut the upstream join or exchange, the bucket
    * window and the collect_list shuffle would re-execute per consumer.
    *
    * Units split by DIAGONALITY. A diagonal unit IS its chunk row: it is
    * walked straight off the checkpointed relation — zero joins, zero
    * exchanges (at sf0.1 every bucket fits one chunk, and the flat-unit
    * attach machinery cost ~55% of dd_prefix_pairs). Off-diagonal
    * (ci < cj) units are enumerated FLAT with no arrays carried — empty
    * whenever every bucket fits one chunk, and AQE's empty-relation
    * propagation then prunes the attach joins — and attach their two
    * chunk arrays by equi-join. The unit redistribution is FUSED into the
    * bb-leg join: repartition by (key, cj) at the pinned `width` is the
    * exact partitioning that join requires, and the explicit count keeps
    * AQE from coalescing units whose shuffle bytes are O(chunk) but whose
    * walk is O(chunk²) (the [[bucketPairs]] rule). */
  private def chunkPairWalk(rows: DataFrame, key: String, item: Column,
      test: graft.expressions.ChunkPairWalk.PairTest, chunk: Int,
      width: Int): DataFrame = {
    require(chunk > 1, "chunk must exceed 1")
    val wB = Window.partitionBy(key).orderBy("doc_id")
    val chunks = graft.plans.LazyCheckpoint.of(
      rows.withColumn("ci", ((row_number().over(wB) - 1) / chunk).cast("int"))
        .groupBy(key, "ci")
        .agg(sort_array(collect_list(item)).as("items")))
    def walk(unitFrame: DataFrame, ba: Column, bb: Column,
        diagonal: Boolean): DataFrame = {
      import org.apache.spark.sql.GraftBridge.expression
      unitFrame.select(explode(org.apache.spark.sql.GraftBridge.column(
        graft.expressions.ChunkPairWalk(expression(ba), expression(bb),
          expression(lit(diagonal)), expression(col(key)), test))).as("r"))
    }
    val diag = walk(chunks, col("items"), col("items"), diagonal = true)
    val offUnits = chunks.groupBy(key)
      .agg(max(col("ci")).as("mx"))
      .filter(col("mx") > 0)
      .select(col(key), col("mx"),
        explode(sequence(lit(0), col("mx") - 1)).as("ci"))
      .select(col(key), col("ci"),
        explode(sequence(col("ci") + 1, col("mx"))).as("cj"))
    val off = walk(
      offUnits
        .join(chunks.select(col(key), col("ci"), col("items").as("ba")),
          Seq(key, "ci"))
        .repartition(width, col(key), col("cj"))
        .join(chunks.select(col(key), col("ci").as("cj"),
          col("items").as("bb")), Seq(key, "cj")),
      col("ba"), col("bb"), diagonal = false)
    diag.unionByName(off)
  }

  /** Pair joins emit long doc ids: integral id columns widen to long, and
    * any other id type fails here, naming the operator, instead of deep in
    * the walk's analysis. */
  private def longId(op: String, docs: DataFrame, idCol: Column): Column =
    docs.select(idCol).schema.head.dataType match {
      case LongType => idCol
      case ByteType | ShortType | IntegerType => idCol.cast(LongType)
      case other => throw new IllegalArgumentException(
        s"$op: doc id must be an integral type, got ${other.simpleString}")
    }

  /** Exact dedup: one row per key group with the kept (minimum) id and the
    * duplicate count. Equivalent to `dropDuplicates` but keeps lineage of
    * how many rows collapsed. */
  def exact(df: DataFrame, keys: Seq[Column], idCol: Column): DataFrame =
    df.groupBy(keys: _*)
      .agg(min(idCol).as("keep_id"), count(lit(1)).as("n_rows"))

  /** (doc_id, band, band_key) rows: `numHashes` MinHash components split
    * into `bands` bands whose key is the concatenation of the band's
    * component hashes.
    *
    * Plan shape (the 100 TB path): the whole signature is ONE per-row
    * [[graft.expressions.MinHashSignature]] projection — no shingle
    * generator, no aggregate, nothing shuffles until the tiny
    * (doc_id, band_key) projection. Docs with no shingles produce no rows
    * (they cannot near-dup with anything). The exploded-shingle aggregate
    * form ([[graft.expressions.MinHashSig]], SQL-registered as
    * `graft_minhash_sig`) computes the identical signature for callers that
    * already hold shingle rows. */
  def minhashBands(docs: DataFrame, idCol: Column, textCol: Column,
      numHashes: Int, bands: Int, shingleK: Int = 2): DataFrame =
    bandsFromSig(signatures(docs, idCol, textCol, numHashes, shingleK),
      numHashes, bands)

  /** (doc_id, sig) — the per-row MinHash signature projection; docs with no
    * shingles (null text or fewer than `shingleK` words) drop out. */
  private def signatures(docs: DataFrame, idCol: Column, textCol: Column,
      numHashes: Int, shingleK: Int): DataFrame =
    Parallelism.fanOut(docs.select(idCol.as("doc_id"), textCol.as("__text")))
      .select(col("doc_id"),
        minhashSignature(col("__text"), numHashes, shingleK).as("sig"))
      .filter(col("sig").isNotNull)

  private def bandsFromSig(sig: DataFrame, numHashes: Int, bands: Int): DataFrame = {
    require(numHashes % bands == 0, "numHashes must divide evenly into bands")
    val rows = numHashes / bands
    val bandStructs = (0 until bands).map { b =>
      struct(lit(b).as("band"),
        concat((0 until rows).map(r => element_at(col("sig"), b * rows + r + 1)): _*)
          .as("band_key"))
    }
    sig
      .select(col("doc_id"), explode(array(bandStructs: _*)).as("bk"))
      .select(col("doc_id"), col("bk.band").as("band"), col("bk.band_key").as("band_key"))
  }

  /** Distinct candidate near-dup pairs (doc_a < doc_b) that share at least
    * one LSH band. Bucket-grouping formulation: group doc ids per
    * (band, band_key) — ONE shuffle of the tiny band projection, computed
    * once (a self-join would re-execute the whole minhash upstream for each
    * side) — then emit intra-bucket pairs from the (small, LSH-bounded)
    * bucket arrays.
    *
    * Duplicate-heavy corpora: docs with identical signatures (every exact
    * duplicate, plus any hash coincidence) collapse to one representative
    * before banding — map-side, so only one row per distinct signature
    * crosses the wire. Bucket sizes then count *distinct* signatures, and
    * [[bucketPairs]] streams the intra-bucket expansion in O(chunk) memory.
    * Member pairs re-attach exactly: intra-group pairs (identical signature
    * ⇒ all bands shared) plus the cross product of the groups behind each
    * representative pair — the same row set the uncollapsed formulation
    * emits, emitted by distributed streaming joins instead of one task. */
  def lshCandidatePairs(docs: DataFrame, idCol: Column, textCol: Column,
      numHashes: Int, bands: Int, shingleK: Int = 2): DataFrame = {
    // group key = md5 over the signature: one 32-char string shuffles ~4x
    // cheaper than the 16-element array it summarizes (equal sigs ⇒ equal
    // digest; a digest collision is the same 2^-128 event the
    // fingerprint-equality contract already accepts).
    //
    // The projection is materialized ONCE (lazy localCheckpoint — the same
    // bytes the previous window-min formulation pushed through its shuffle)
    // so the group aggregate and the member re-attach join read it back
    // instead of re-running the MinHash scan per branch (after column
    // pruning the optimizer plans each branch its own copy of the
    // projection — plan-level sharing cannot express this reuse). The
    // groupBy itself pre-collapses MAP-SIDE: on a duplicate-heavy corpus
    // one row per distinct signature crosses the wire, where the window
    // shuffled every row and then sorted each partition.
    //
    // LazyCheckpoint, not a bare localCheckpoint(eager = false):
    // materialization must happen on FIRST USE, not at construction —
    // building the frame (explain, plan asserts, registry enumeration)
    // must not run the MinHash scan as a side effect, and under AQE a
    // bare lazy checkpoint DOES run it (toRdd materializes the fan-out
    // shuffle stage at construction; see [[graft.plans.LazyCheckpoint]]).
    // The fragment is a fixed-width repartition + per-row projection, so
    // losing AQE inside it costs nothing. Caveat for multi-executor
    // deployments: localCheckpoint blocks live on executors and truncate
    // lineage, so losing an executor mid-query (dynamic allocation, spot
    // nodes) fails the query — visibly, and a retry recomputes;
    // deployments where that risk dominates should swap this for a
    // reliable checkpoint directory.
    val sig = graft.plans.LazyCheckpoint.of(
      signatures(docs, idCol, textCol, numHashes, shingleK)
        .withColumn("__sig_key", md5(concat_ws(":", col("sig")))))
    val groups = sig.groupBy("__sig_key").agg(
      min(col("doc_id")).as("rep"),
      first(col("sig")).as("sig"), // all sigs in a group are equal by key
      count(lit(1)).as("cnt"))
    val reps = groups.select(col("rep").as("doc_id"), col("sig"))
    // only duplicate-group members participate in re-attachment — EMPTY on a
    // dup-free corpus (AQE's empty-relation propagation then prunes the
    // joins below outright) and exactly the collapsed mass on a degenerate
    // one
    val mDup = sig
      .join(groups.filter(col("cnt") > 1).select(col("__sig_key"), col("rep")),
        "__sig_key")
      .select(col("doc_id"), col("rep"))
    val repPairs = bucketPairs(
        bandsFromSig(reps, numHashes, bands), Seq("band", "band_key"),
        struct(col("doc_id")))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct() // a representative pair may share several bands
    val intra = mDup.select(col("rep"), col("doc_id").as("doc_a"))
      .join(mDup.select(col("rep"), col("doc_id").as("doc_b")), "rep")
      .filter(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"))
    val inter = repPairs
      .join(mDup.select(col("rep").as("doc_a"), col("doc_id").as("m_a")), Seq("doc_a"), "left")
      .join(mDup.select(col("rep").as("doc_b"), col("doc_id").as("m_b")), Seq("doc_b"), "left")
      .select(
        least(coalesce(col("m_a"), col("doc_a")), coalesce(col("m_b"), col("doc_b"))).as("doc_a"),
        greatest(coalesce(col("m_a"), col("doc_a")), coalesce(col("m_b"), col("doc_b"))).as("doc_b"))
    intra.union(inter) // disjoint by construction: same-group vs cross-group
  }

  /** Incremental ingest near-dup gate: the rows of `newBatch` that share NO
    * MinHash LSH band with the already-ingested `history` corpus — the
    * filter a continuously-fed training pipeline runs on every batch so
    * near-duplicates of existing data never enter the lake.
    *
    * Scale shape: both sides reduce to their (doc_id, band, band_key)
    * projections — tiny relative to the corpus (bands × ~40 chars per doc)
    * — and the screen is a band-keyed LEFT SEMI join of those projections,
    * then one id-keyed ANTI join attaches the verdict back to the
    * full-width batch. The history text is scanned only to derive bands; in
    * production the history band projection IS the persisted dedup index
    * (append the accepted batch's bands after each ingest) so steady-state
    * cost is one scan of the new batch plus a join against the index —
    * [[minhashBands]] is public precisely so callers can persist it.
    * Docs too short to shingle produce no bands and therefore always
    * survive (they cannot near-dup with anything).
    *
    * Same screen semantics as [[lshCandidatePairs]] restricted to
    * (new × history): a shared band makes a doc a near-dup suspect. The
    * usual Jaccard refine can run on the rejected ids before discarding
    * them; the gate itself stays join-only. */
  def incrementalNearDupFilter(newBatch: DataFrame, history: DataFrame,
      idCol: Column, textCol: Column, numHashes: Int, bands: Int,
      shingleK: Int = 2): DataFrame =
    screenAgainstBands(newBatch, idCol,
      minhashBands(newBatch, idCol, textCol, numHashes, bands, shingleK),
      minhashBands(history, idCol, textCol, numHashes, bands, shingleK))

  /** THE single definition of the ingest-gate screen, shared by
    * [[incrementalNearDupFilter]] (history bands recomputed per call) and
    * [[BandIndex.gate]] (history bands read from the persisted index) so
    * the two paths can't drift: a batch doc sharing ANY (band, band_key)
    * with the history is a near-dup suspect and is dropped; the survivors
    * come back full-width via one id-keyed anti join. */
  private[operators] def screenAgainstBands(newBatch: DataFrame, idCol: Column,
      newBands: DataFrame, historyBands: DataFrame): DataFrame = {
    val hits = newBands
      .join(historyBands.select("band", "band_key"), Seq("band", "band_key"), "left_semi")
      .select(col("doc_id").as("__hit_id")).distinct()
    newBatch.join(hits, idCol === col("__hit_id"), "left_anti")
  }

  /** Merge-walk intersection count over SORTED distinct shingle arrays —
    * see [[graft.expressions.SortedIntersectCount]]. Producers must sort
    * (`sort_array`); with distinct sets, Jaccard needs only this count:
    * |A∪B| = |A| + |B| − |A∩B|, so the per-pair hash-set + union-array
    * materialization of `array_intersect`/`array_union` disappears from
    * the million-pair refine steps. */
  private def sortedIntersect(a: Column, b: Column): Column =
    org.apache.spark.sql.GraftBridge.column(
      graft.expressions.SortedIntersectCount(
        org.apache.spark.sql.GraftBridge.expression(a),
        org.apache.spark.sql.GraftBridge.expression(b)))

  /** Exact k-gram Jaccard similarity for all pairs within `docs` — O(n²) in
    * candidate pairs; intended for verification subsets or as the refine
    * step after [[lshCandidatePairs]]. The join key is the shingle, so
    * co-occurrence counting is a shuffle on shingle values followed by a
    * pair-keyed aggregate. */
  def jaccardPairs(docs: DataFrame, idCol: Column, textCol: Column,
      threshold: Double, shingleK: Int = 2): DataFrame = {
    val sh = Parallelism.fanOut(docs.select(idCol.as("doc_id"), textCol.as("__text")))
      .select(col("doc_id"), explode(shingles(col("__text"), shingleK)).as("shingle"))
    val sizes = sh.groupBy("doc_id").agg(count(lit(1)).as("n"))
    val inter = sh.as("a").join(sh.as("b"), col("a.shingle") === col("b.shingle"))
      .filter(col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("inter"))
    inter
      .join(sizes.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("n", "n_a"), "doc_a")
      .join(sizes.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("n", "n_b"), "doc_b")
      .withColumn("jaccard",
        col("inter").cast("double") / (col("n_a") + col("n_b") - col("inter")).cast("double"))
      .filter(col("jaccard") >= threshold)
      .select("doc_a", "doc_b", "jaccard")
  }

  /** Exact Jaccard-threshold similarity join via prefix filtering — the
    * AllPairs/PPJoin family (Bayardo, Ma & Srikant, WWW 2007; Xiao, Wang,
    * Lin & Yu, WWW 2008), the EXACT-recall counterpart of
    * [[lshCandidatePairs]]: where MinHash banding trades recall for a
    * collision probability curve, prefix filtering finds provably EVERY
    * pair at or above the threshold. Tokens get a global rarest-first
    * total order (document frequency asc, token asc); J(A,B) ≥ t implies
    * |A∩B| ≥ ⌈t·|A|⌉ (the union is at least |A|), so a qualifying pair
    * must share a token inside each side's first |A| − ⌈t·|A|⌉ + 1 ordered
    * tokens — candidates are an equi-join of PREFIX tokens only, with the
    * length band t·max(|A|,|B|) ≤ min(|A|,|B|) pruning the rest before the
    * exact per-pair refine.
    *
    * Scale shape: one token-keyed map-combined shuffle for document
    * frequencies, one doc-keyed window ranking each doc's tokens, and the
    * candidate join moves PREFIX rows only — ≈(1−t)·|doc| tokens per doc,
    * and the rarest-first order makes prefix buckets the SMALL-df buckets
    * by construction (a boilerplate shingle shared by half the corpus is
    * last in every ordering and lands in almost no prefixes, the exact
    * inverse of the LSH mega-bucket failure mode). The refine joins the
    * checkpointed shingle-set projection per candidate pair; nothing is
    * ever all-pairs. Cost knob vs [[lshCandidatePairs]]: two extra keyed
    * shuffles (df + rank) buy exact recall — the published trade for
    * dedup stages where a missed near-dup is a correctness bug, not a
    * recall statistic. */
  /** Checkpointed (doc_id, sh) shingle-set projection shared by the prefix
    * join's df count, ranking, and exact refine — the doc scan runs once
    * (the dd_lsh_pairs checkpointed-projection pattern). */
  private[operators] def prefixShingleSets(docs: DataFrame, idCol: Column,
      textCol: Column, shingleK: Int): DataFrame =
    graft.plans.LazyCheckpoint.of(
      Parallelism.fanOut(
          docs.select(idCol.as("doc_id"), textCol.as("__text")))
        // sorted: the refine's merge-walk intersection requires it, and
        // the candidate explode/window below are order-insensitive
        .select(col("doc_id"),
          sort_array(shingles(col("__text"), shingleK)).as("sh"))
        .filter(size(col("sh")) > 0))

  /** Prefix-filter candidate generation over [[prefixShingleSets]] output:
    * rarest-first global token order, per-doc prefix of n − ⌈t·n⌉ + 1
    * tokens, prefix-token equi-join + length band. With `positional` the
    * PPJoin position filter also applies: a shared prefix token at ranks
    * (pa, pb) bounds the pair's possible overlap by
    * 1 + min(n_a − pa, n_b − pb) (every other shared token ranks later in
    * BOTH docs), so a pair none of whose shared prefix tokens can reach
    * the required overlap ⌈t·max(n_a, n_b)⌉ is pruned. The bound is
    * conservative for the FIRST shared token of any qualifying pair, so
    * the filter is provably lossless (spec-pinned: positional == plain on
    * results, ⊆ on candidates); it exists purely to shrink the refine's
    * input. Exposed test-visibly so the spec can count candidates. */
  /** ⌈t·n⌉ with a one-sided fp guard: when t·n is an exact integer
    * mathematically but rounds UP in floating point (t=0.8, n=5 →
    * 4.0000000000000002 → ceil 5), a naive ceil shortens the prefix /
    * raises the overlap floor and can LOSE qualifying pairs. Subtracting
    * 1e-9 before ceil restores the exact integer and otherwise changes
    * nothing; any slack only lengthens prefixes / weakens pruning —
    * completeness is never at risk from this direction. */
  private def ceilT(threshold: Double)(x: Column): Column =
    ceil(lit(threshold) * x - lit(1e-9)).cast("long")

  /** The checkpointed per-doc PREFIX token rows (doc_id, n, rn, shingle):
    * rarest-first global token order (document frequency asc, token asc),
    * each doc keeping its first n − ⌈t·n⌉ + 1 tokens.
    *
    * LazyCheckpoint so construction stays job-free AND every downstream
    * reference (candidate enumeration legs, the fused refine) reads the
    * materialized frame instead of re-running the df-count + ranking
    * pipeline (two keyed exchanges).
    * merge hint (the CONSTRUCTION_JOBS.md category-2 rule): checkpoint
    * PRESERVES the source's small stats, so inside this non-adaptive
    * fragment the static planner would BROADCAST the exploded-corpus ex
    * side at small SF (measured at sf0.1: BuildLeft on ex) — submitting
    * the collect job at plan construction AND driver-collecting every
    * (doc, shingle) row. The token-keyed SMJ is the scale shape; the
    * shingle exchange it adds is one the dfreq side pays anyway. */
  private[operators] def prefixTokens(sets: DataFrame, threshold: Double): DataFrame = {
    val ex = sets.select(col("doc_id"), size(col("sh")).as("n"),
      explode(col("sh")).as("shingle"))
    val dfreq = ex.groupBy("shingle").agg(count(lit(1)).as("df"))
    // rarest-first rank within each doc; prefix keeps the first
    // n − ⌈t·n⌉ + 1 tokens (both engines evaluate the identical double
    // product, so the cut index is engine-portable)
    val w = Window.partitionBy("doc_id").orderBy("df", "shingle")
    graft.plans.LazyCheckpoint.of(
      ex.hint("merge").join(dfreq, "shingle")
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= col("n") - ceilT(threshold)(col("n")) + 1)
        .select(col("doc_id"), col("n"), col("rn"), col("shingle")))
  }

  private[operators] def prefixCandidates(sets: DataFrame, threshold: Double,
      positional: Boolean): DataFrame = {
    require(threshold > 0 && threshold <= 1,
      s"threshold must be in (0, 1], got $threshold")
    def ceilT(x: Column): Column = Dedup.ceilT(threshold)(x)
    val prefix = prefixTokens(sets, threshold)
    // candidate enumeration through [[bucketPairs]], NOT a prefix⋈prefix
    // self-join (round-14 sf1 rehearsal finding): rarest-first ranking
    // concentrates prefix mass on the globally rarest tokens, so on an
    // entropy-bounded vocabulary a few shingle buckets hold a large doc
    // fraction — the self-join SMJ then BUFFERS one side's entire key
    // group per mega-bucket (spill + rescan per probe row; measured
    // 343 s at the 50k-doc sf1 fixture, a 70× slope for 10× data).
    // bucketPairs shuffles each bucket once as a grouped array, chunks
    // it, and spreads the C(nc, 2) chunk-pair expansion units across the
    // cluster explicitly — the same quadratic candidate count (exact
    // recall keeps every shared-prefix pair) but O(chunk) memory, no
    // spill, and cluster-wide balance. Candidate SET is unchanged
    // (same pairs, same distinct), so results are hash-identical.
    val emitted = bucketPairs(prefix, Seq("shingle"),
        struct(col("doc_id"), col("n"), col("rn")))
      .select(col("a.doc_id").as("da"), col("a.n").as("na"),
        col("a.rn").as("ra"), col("b.doc_id").as("db"),
        col("b.n").as("nb"), col("b.rn").as("rb"))
    // items sort ascending by the struct (doc_id leads and is unique per
    // bucket), so every emitted pair already has da < db
    // band with the one-sided fp guard (the ceilT rationale): max·t can
    // round ABOVE its rational value (10·0.9 = 9.000000000000002) and
    // silently reject a boundary pair whose true jaccard equals t; the
    // 1e-9 slack only admits more candidates — the exact refine removes
    // any false admit, so completeness is never at risk
    val banded = emitted.filter(
      greatest(col("na"), col("nb")) * threshold - lit(1e-9) <=
        least(col("na"), col("nb")))
    val base =
      if (!positional) banded
      else banded.filter(
        lit(1L) + least(col("na") - col("ra"), col("nb") - col("rb")) >=
          ceilT(greatest(col("na"), col("nb"))))
    base
      .select(col("da").as("doc_a"), col("db").as("doc_b"))
      .distinct()
  }

  /** Exact prefix-filter Jaccard join, FUSED screen + exact confirm.
    * A candidates-then-attach pipeline shuffles the full shingle arrays
    * once per CANDIDATE PAIR — at the sf1 fixture (t = 0.5,
    * entropy-bounded vocab) the prefix filter admits 447M candidates (36%
    * of all pairs), so the doc_b attach join moved ~450 GB of array
    * payload and the operator took ~400 s. Here the quadratic mass NEVER
    * crosses the wire and never materializes as rows: prefix rows join
    * their doc's sorted 64-bit shingle-HASH array once (corpus-linear),
    * and [[chunkPairWalk]] runs the length band, positional filter, and
    * threshold-Jaccard screen inside one
    * [[graft.expressions.ChunkPairWalk]] loop per chunk unit. The hash
    * screen is LOSSLESS (hashing can only merge distinct shingles, so
    * hash-Jaccard ≥ true Jaccard); the output-sized survivor set is then
    * exact-confirmed by the string merge walk. CPU stays inherently
    * quadratic in bucket occupancy — exact recall enumerates every
    * shared-prefix pair; the probabilistic 100 TB path is
    * [[lshCandidatePairs]]. Results identical to the unfused form: same
    * pairs, same jaccard, one row per qualifying pair. Integral ids widen
    * to long; any other id type is rejected. */
  def prefixFilterPairs(docs: DataFrame, idCol: Column, textCol: Column,
      threshold: Double, shingleK: Int = 2,
      guardFraction: Double = DefaultGuardFraction,
      autoRouteToLsh: Boolean = false): DataFrame =
    prefixFilterPairsChunked(docs, longId("prefixFilterPairs", docs, idCol),
      textCol, threshold, shingleK, guardFraction, autoRouteToLsh,
      DefaultChunk)

  /** [[prefixFilterPairs]] with the chunk size exposed so specs can force
    * multi-chunk (off-diagonal) buckets at fixture scale. */
  private[operators] def prefixFilterPairsChunked(docs: DataFrame,
      idCol: Column, textCol: Column, threshold: Double, shingleK: Int,
      guardFraction: Double, autoRouteToLsh: Boolean,
      chunk: Int): DataFrame = {
    require(threshold > 0 && threshold <= 1,
      s"threshold must be in (0, 1], got $threshold")
    val sets = prefixShingleSets(docs, idCol, textCol, shingleK)
    val prefix = prefixTokens(sets, threshold)
    /** Exact string-shingle confirm over an (output-sized) candidate set:
      * re-derives the true intersection and Jaccard — shared by the main
      * path's screen survivors and the guard's LSH route. */
    def exactConfirm(pairs: DataFrame): DataFrame = pairs
      .join(sets.select(col("doc_id").as("doc_a"), col("sh").as("sh_a")), "doc_a")
      .join(sets.select(col("doc_id").as("doc_b"), col("sh").as("sh_b")), "doc_b")
      .withColumn("i", sortedIntersect(col("sh_a"), col("sh_b")))
      .withColumn("jaccard",
        col("i").cast("double") /
          (size(col("sh_a")) + size(col("sh_b")) - col("i")).cast("double"))
      .filter(col("jaccard") >= threshold)
      .select("doc_a", "doc_b", "jaccard")
    // applicability pre-flight: the 36%-candidate regime the sf1 fixture
    // reaches must be DETECTED, not only documented.
    // One count-agg over the already-checkpointed prefix relation — cost
    // is corpus-linear and trivially small next to the refine it guards.
    // The estimate is MEMOIZED per (session, corpus plan, k, t): the
    // construction-job gate (JobCountSpec) requires steady-state
    // construction to run ZERO jobs, so only the FIRST construction on a
    // corpus pays the estimator's aggregate (and warns); repeats hit the
    // memo. A fixture rewritten in place under the same path keeps its
    // cached estimate for the session — acceptable for a warn-only guard.
    if (guardFraction > 0) {
      val (est, fresh) = cachedCandidateFraction(docs, shingleK, threshold,
        () => estimatedCandidateFraction(prefix, sets.count()))
      if (est > guardFraction) {
        val log = org.slf4j.LoggerFactory.getLogger("graft.operators.Dedup")
        if (autoRouteToLsh) {
          // ASCII only: the bench log's console encoding mangles non-ASCII
          log.warn(f"prefixFilterPairs: estimated candidate fraction $est%.3f" +
            f" exceeds $guardFraction%.3f - routing to LSH candidates + exact" +
            " confirm (approximate recall; pass autoRouteToLsh=false to force" +
            " the exact-recall quadratic refine)")
          return exactConfirm(
            lshCandidatePairs(docs, idCol, textCol,
              numHashes = 16, bands = 8, shingleK))
        }
        // warn once per (session, corpus, k, t) — repeated constructions
        // of the same judged query must not turn the log into a siren
        if (fresh)
          log.warn(f"prefixFilterPairs: estimated candidate fraction $est%.3f" +
            f" of all doc pairs exceeds $guardFraction%.3f - the prefix" +
            " filter is outside its applicability regime (low-entropy" +
            " vocabulary or low threshold); cost is Omega(candidates)." +
            " Consider lshCandidatePairs, or pass autoRouteToLsh=true.")
      }
    }
    // prefix rows + their doc's SORTED 64-bit shingle-hash array (one
    // id-keyed join — the only array attach before the confirm step,
    // corpus-linear; hashes, not strings: the screen walks primitive
    // longs and the wire carries ~8 bytes per shingle)
    val setsH = sets.select(col("doc_id"),
      sort_array(transform(col("sh"), x => xxhash64(x))).as("shh"))
    // width follows the scan-linear `sets` stats: the chunk rows sit
    // downstream of a join whose planner size estimate is a junk-high
    // product (measured 44.8 GB for 37 MB of chunk data at sf0.1)
    val survivors = chunkPairWalk(prefix.join(setsH, "doc_id"), "shingle",
        struct(col("doc_id"), col("n"), col("rn"), col("shh")),
        graft.expressions.ChunkPairWalk.PrefixJaccard(threshold), chunk,
        Parallelism.pinWidth(sets))
      .select(col("r.doc_a").as("doc_a"), col("r.doc_b").as("doc_b"))
      .distinct()
    // exact CONFIRM on the (output-sized) screen survivors: the string
    // merge walk recomputes the true intersection — a ~2⁻⁶⁴-rate hash
    // false-admit is filtered here, and the reported jaccard is the
    // exact value. The survivor side is tiny, so these joins broadcast
    // it and the corpus-array side never re-shuffles.
    exactConfirm(survivors)
  }

  /** Declared applicability bound for [[prefixFilterPairs]]: warn when the
    * prefix filter is estimated to admit more than this fraction of all
    * C(n,2) doc pairs. 5% of all pairs is already far past the regime the
    * prefix-filter theory targets (Zipf vocabularies admit ≪1%); the sf1
    * rehearsal's pathological fixture measured 36%. */
  val DefaultGuardFraction: Double = 0.05

  /** Per-session estimate memo for the [[prefixFilterPairs]] guard, keyed
    * by (corpus analyzed-plan semantic hash, shingleK, threshold) —
    * sessions held weakly (the LazyCheckpoint planners pattern). */
  private val guardEstMemo =
    new java.util.WeakHashMap[org.apache.spark.sql.SparkSession,
      scala.collection.concurrent.TrieMap[(Int, Int, Double), Double]]()

  /** Returns (estimate, freshlyComputed) — `fresh` lets the caller warn
    * once per memo entry instead of once per construction. */
  private def cachedCandidateFraction(docs: DataFrame, shingleK: Int,
      threshold: Double, compute: () => Double): (Double, Boolean) = {
    val s = docs.sparkSession
    val inner = guardEstMemo.synchronized {
      var m = guardEstMemo.get(s)
      if (m == null) {
        m = scala.collection.concurrent.TrieMap.empty
        guardEstMemo.put(s, m)
      }
      m
    }
    val key = (docs.queryExecution.analyzed.semanticHash(), shingleK, threshold)
    inner.get(key) match {
      case Some(e) => (e, false)
      case None =>
        val e = compute()
        inner.put(key, e)
        (e, true)
    }
  }

  /** Estimated fraction of all C(n,2) doc pairs the prefix filter admits,
    * from prefix-bucket occupancy: Σ_bucket C(c, 2) counts every
    * shared-prefix emission — an upper bound on distinct admitted
    * candidates (the length band and positional filter only remove).
    * One groupBy-count over the checkpointed prefix relation; exact for
    * the emission count, conservative for the candidate count (a pair
    * sharing several prefix tokens is counted once per shared token, so
    * values ABOVE 1.0 are possible — and read "hopeless": measured 1.32
    * at the degenerate sf0.1 fixture, under 0.01 at the guard spec's
    * Zipf-shaped corpus). */
  private[operators] def estimatedCandidateFraction(prefix: DataFrame,
      nDocs: Long): Double = {
    if (nDocs < 2) return 0.0
    val row = prefix.groupBy("shingle").agg(count(lit(1)).as("c"))
      .agg(sum(col("c") * (col("c") - lit(1L)) / lit(2.0)).as("cand"))
      .head()
    val cand = if (row.isNullAt(0)) 0.0 else row.getDouble(0)
    cand / (nDocs.toDouble * (nDocs - 1) / 2.0)
  }

  /** Asymmetric containment over LSH candidate pairs: |A∩B| / min(|A|,|B|)
    * — how much of the SMALLER shingle set sits inside the larger. Catches
    * the quote/inclusion duplication Jaccard dilutes away (a page embedded
    * verbatim in a 10× larger page has Jaccard ≈ 0.1 but containment 1.0 —
    * the RefinedWeb-style subsumption screen). Candidates come from the
    * same MinHash banding as [[nearDupKeep]], so recall inherits LSH's
    * Jaccard bias: a tiny doc inside a huge one may band apart even at
    * containment 1.0 — passage-level copies are [[winnowCandidatePairs]]'s
    * job; this operator scores the pairs banding DOES surface. Work is
    * per-candidate-pair, never all-pairs. */
  def containmentPairs(docs: DataFrame, idCol: Column, textCol: Column,
      numHashes: Int, bands: Int, threshold: Double,
      shingleK: Int = 2): DataFrame = {
    val pairs = lshCandidatePairs(docs, idCol, textCol, numHashes, bands, shingleK)
    val sets = Parallelism.fanOut(docs.select(idCol.as("doc_id"), textCol.as("__text")))
      .select(col("doc_id"),
        sort_array(shingles(col("__text"), shingleK)).as("sh"))
    pairs
      .join(sets.select(col("doc_id").as("doc_a"), col("sh").as("sh_a")), "doc_a")
      .join(sets.select(col("doc_id").as("doc_b"), col("sh").as("sh_b")), "doc_b")
      .withColumn("containment",
        sortedIntersect(col("sh_a"), col("sh_b")).cast("double") /
          least(size(col("sh_a")), size(col("sh_b"))).cast("double"))
      .filter(col("containment") >= threshold)
      .select("doc_a", "doc_b", "containment")
  }

  /** The complete near-dup dedup decision: LSH candidates → exact Jaccard
    * refine on candidate pairs only → greedy keep (drop any doc that
    * near-dups a smaller-id doc — the standard one-pass policy; transitive
    * chains resolve in favor of the smallest id each edge touches).
    * Returns the KEPT doc ids. Work is linear + per-candidate-pair; never
    * all-pairs. */
  /** LSH candidate pairs scored with exact Jaccard (no threshold applied):
    * the shared refine step behind [[nearDupKeep]] and the judged
    * threshold-sensitivity sweep. Returns (doc_a, doc_b, jaccard) for every
    * banded candidate; cost is per-candidate-pair, never all-pairs. */
  def scoredCandidatePairs(docs: DataFrame, idCol: Column, textCol: Column,
      numHashes: Int, bands: Int, shingleK: Int = 2): DataFrame = {
    val pairs = lshCandidatePairs(docs, idCol, textCol, numHashes, bands, shingleK)
    val sets = Parallelism.fanOut(docs.select(idCol.as("doc_id"), textCol.as("__text")))
      .select(col("doc_id"),
        sort_array(shingles(col("__text"), shingleK)).as("sh"))
    pairs
      .join(sets.select(col("doc_id").as("doc_a"), col("sh").as("sh_a")), "doc_a")
      .join(sets.select(col("doc_id").as("doc_b"), col("sh").as("sh_b")), "doc_b")
      .withColumn("i", sortedIntersect(col("sh_a"), col("sh_b")))
      .withColumn("jaccard",
        col("i").cast("double") /
          (size(col("sh_a")) + size(col("sh_b")) - col("i")).cast("double"))
      .select("doc_a", "doc_b", "jaccard")
  }

  def nearDupKeep(docs: DataFrame, idCol: Column, textCol: Column,
      numHashes: Int, bands: Int, threshold: Double,
      shingleK: Int = 2): DataFrame = {
    val scored = scoredCandidatePairs(docs, idCol, textCol, numHashes, bands, shingleK)
      .filter(col("jaccard") >= threshold)
    docs.select(idCol.as("doc_id"))
      .join(scored.select(col("doc_b").as("doc_id")).distinct(), Seq("doc_id"), "left_anti")
  }

  /** (doc_id, simhash) — near-dup docs land on equal or near-equal (small
    * Hamming distance) values; bucketing on the simhash is then an exact
    * groupBy. Row-local computation, no shuffle. */
  def simhashDocs(docs: DataFrame, idCol: Column, textCol: Column,
      bits: Int = 16): DataFrame =
    docs.select(idCol.as("doc_id"), simhash(textCol, bits).as("simhash"))

  /** Connected components over an undirected pair list (doc_a, doc_b) by
    * iterative min-label propagation: every vertex adopts the minimum of
    * its own label and its neighbors' labels until fixpoint. Exact CC —
    * the clustering step between near-dup candidate pairs and the
    * keep-one-per-cluster decision.
    *
    * Scale: each iteration is one shuffle keyed on vertex id (join + min
    * aggregate); iterations ≤ graph diameter, and near-dup graphs are
    * short-diameter clusters. `localCheckpoint` truncates the iterative
    * lineage so plans stay bounded. Returns (doc_id, component) where
    * component = min doc_id reachable. */
  def connectedComponents(pairs: DataFrame, maxIter: Int = 50): DataFrame = {
    val edges = pairs.select(col("doc_a").as("src"), col("doc_b").as("dst"))
      .union(pairs.select(col("doc_b").as("src"), col("doc_a").as("dst")))
      .localCheckpoint()
    var labels = edges.select(col("src").as("id")).distinct()
      .withColumn("component", col("id"))
      .localCheckpoint()
    var iter = 0
    var changed = 1L
    while (iter < maxIter && changed > 0) {
      val viaNeighbors = edges
        .join(labels.select(col("id").as("dst"), col("component").as("nbr_comp")), "dst")
        .groupBy(col("src").as("id"))
        .agg(min(col("nbr_comp")).as("min_nbr"))
      val next = labels.join(viaNeighbors, Seq("id"), "left")
        .select(col("id"),
          least(col("component"), coalesce(col("min_nbr"), col("component")))
            .as("component"))
        .localCheckpoint()
      changed = next.join(labels.withColumnRenamed("component", "old"), "id")
        .filter(col("component") =!= col("old")).count()
      labels = next
      iter += 1
    }
    // fail loud rather than return silently-wrong partial labels: a graph
    // whose diameter exceeds maxIter (a >50-hop near-dup chain) would
    // otherwise split one component into several with no signal
    require(changed == 0,
      s"connectedComponents did not converge in $maxIter iterations " +
        s"($changed labels still changing); raise maxIter")
    labels
  }

  /** Connected components by ALTERNATING large-star / small-star rounds
    * (Kiveris et al., "Connected Components in MapReduce and Beyond",
    * SoCC 2014) — the at-scale production form next to
    * [[connectedComponents]]: min-label propagation needs O(diameter)
    * shuffle rounds (a 50-hop near-dup chain = 50 shuffles), the
    * alternating algorithm contracts every graph toward
    * component-minimum stars in O(log²) rounds regardless of diameter,
    * and a high-degree vertex's neighborhood collapses THROUGH its
    * minimum instead of fanning label updates out — the skew-resistant
    * shape for web-scale dup graphs.
    *
    * large-star: each vertex u connects its LARGER neighbors to
    * m = min(Γ(u) ∪ {u}); small-star: each vertex connects its smaller
    * neighbors and itself to the minimum of that set. Both preserve
    * connectivity; the joint fixpoint is a forest of stars rooted at the
    * component minima, read off as (member → root). Every round is two
    * map-combined groupBy-min passes over the (shrinking) canonical edge
    * list with a localCheckpoint lineage cut; the fixpoint test is exact
    * (equal counts + anti-join emptiness), never a hash heuristic.
    *
    * Contract identical to [[connectedComponents]] — input (doc_a, doc_b)
    * pairs, output (id, component = min reachable id) — so the judged
    * entry shares dd_components' transitive-closure oracle and DedupSpec
    * pins row-for-row equality of the two forms. */
  def connectedComponentsAlternating(pairs: DataFrame,
      maxIter: Int = 25): DataFrame = {
    val verts = pairs.select(col("doc_a").as("id"))
      .union(pairs.select(col("doc_b").as("id"))).distinct()
      .localCheckpoint()
    def canon(e: DataFrame): DataFrame = e
      .filter(col("u") =!= col("v"))
      .select(least(col("u"), col("v")).as("u"),
        greatest(col("u"), col("v")).as("v"))
      .distinct()
    // every vertex u: larger neighbors re-attach to min(Γ(u) ∪ {u})
    def largeStar(e: DataFrame): DataFrame = {
      val sym = e.select(col("u").as("a"), col("v").as("b"))
        .union(e.select(col("v").as("a"), col("u").as("b")))
      val m = sym.groupBy("a").agg(min(col("b")).as("mn"))
        .select(col("a"), least(col("a"), col("mn")).as("m"))
      canon(sym.join(m, "a").filter(col("b") > col("a"))
        .select(col("m").as("u"), col("b").as("v")))
    }
    // canonical edges point small→large: group by the larger endpoint,
    // re-attach its smaller neighborhood AND itself to that set's min
    def smallStar(e: DataFrame): DataFrame = {
      val grouped = e.select(col("v").as("a"), col("u").as("b"))
      val m = grouped.groupBy("a").agg(min(col("b")).as("m"))
      val members = grouped.join(m, "a")
        .select(col("m").as("u"), col("b").as("v"))
      val self = m.select(col("m").as("u"), col("a").as("v"))
      canon(members.union(self))
    }
    var edges = canon(pairs.select(col("doc_a").as("u"), col("doc_b").as("v")))
      .localCheckpoint()
    var iter = 0
    var stable = false
    while (iter < maxIter && !stable) {
      val next = smallStar(largeStar(edges)).localCheckpoint()
      stable = next.count() == edges.count() &&
        next.join(edges, Seq("u", "v"), "left_anti").isEmpty
      edges = next
      iter += 1
    }
    // fail loud rather than return a partially-contracted forest (the
    // connectedComponents discipline); the paper's O(log²) bound makes
    // 25 rounds astronomically conservative
    require(stable,
      s"connectedComponentsAlternating did not converge in $maxIter rounds")
    verts
      .join(edges.select(col("v").as("id"), col("u").as("component")),
        Seq("id"), "left")
      .select(col("id"), coalesce(col("component"), col("id")).as("component"))
  }

  /** Keep-one-per-cluster by QUALITY rather than by minimum id: given
    * `labels` = (doc_id, component) cluster assignments (e.g. from
    * [[connectedComponents]]) and a per-doc quality column, keep the
    * highest-quality member of every cluster (ties → smallest id); docs
    * outside any cluster keep themselves. The production selection policy
    * for near-dup dedup in training-data pipelines — keep the best copy,
    * not the first-seen one ([[nearDupKeep]]'s greedy smallest-id policy).
    *
    * Scale: one keyed join docs⋈labels plus one window over components
    * (cluster sizes are near-dup-bounded, so partitions stay small) and one
    * anti-join for the unclustered majority — no all-pairs work. */
  def clusterKeepBest(docs: DataFrame, idCol: Column, qualityCol: Column,
      labels: DataFrame): DataFrame = {
    val base = docs.select(idCol.as("doc_id"), qualityCol.as("__q"))
    val w = Window.partitionBy(col("component"))
      .orderBy(col("__q").desc, col("doc_id"))
    val best = base.join(labels, "doc_id")
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .select(col("doc_id"))
    base.join(labels, Seq("doc_id"), "left_anti")
      .select(col("doc_id"))
      .union(best)
  }

  /** SemDeDup-style semantic dedup (Abbas et al. 2023, arXiv:2303.09540):
    * partition the embedding space with k-means, search near-duplicates
    * ONLY within each cluster, then keep the best-quality member of every
    * connected near-dup group. Returns the kept ids.
    *
    * Scale shape, stage by stage: the k-means train + assignment is the
    * [[Similarity.kmeansCentroids]] loop (row-local argmax against a
    * broadcast centroid array, one vector-sum aggregate per round); the
    * within-cluster pair search reuses [[bucketPairs]] keyed on the cluster
    * id over ID-ONLY rows (vectors re-attach via two id-keyed joins at the
    * refine, so no aggregate buffer ever holds a cluster's embeddings) —
    * ONE tiny-projection shuffle, O(chunk) task memory, mega-cluster
    * emission spread over tasks — which is the paper's core trick: clusters average
    * corpus/k vectors, so all-pairs work that would be O(n²) globally
    * becomes k × O((n/k)²), tunable by k; the exact cosine refine keeps
    * only pairs ≥ threshold; [[connectedComponents]] + [[clusterKeepBest]]
    * finish with the near-dup-bounded group selection. Near-dup pairs
    * SPLIT by the k-means partition are invisible (the paper's documented
    * recall trade — raise k for throughput, lower it for recall). */
  def semanticKeep(emb: DataFrame, idCol: Column, vecCol: Column,
      qualityCol: Column, k: Int, iters: Int, dim: Int,
      threshold: Double): DataFrame = {
    val corpus = emb.select(idCol.as("vec_id"), vecCol.as("embedding"))
      .localCheckpoint(eager = false) // reused: kmeans scan + pair refine joins
    val centroids = Similarity.kmeansCentroids(corpus, k, iters, dim)
    val assigned = Similarity.assignClusters(corpus, centroids)
    // bucket ONLY the ids: collect_list buffers must never hold a cluster's
    // worth of embedding vectors (corpus/k × dim floats in one aggregate
    // buffer); the vectors re-attach through two id-keyed joins for the
    // exact cosine refine, touching only candidate pairs
    val idPairs = bucketPairs(
        assigned.select(col("cluster"), col("vec_id")),
        Seq("cluster"), struct(col("vec_id")))
      .select(col("a.vec_id").as("doc_a"), col("b.vec_id").as("doc_b"))
    val pairs = idPairs
      .join(corpus.select(col("vec_id").as("doc_a"), col("embedding").as("__va")), "doc_a")
      .join(corpus.select(col("vec_id").as("doc_b"), col("embedding").as("__vb")), "doc_b")
      .filter(cosineRounded(col("__va"), col("__vb")) >= threshold)
      .select("doc_a", "doc_b")
    val labels = connectedComponents(pairs).withColumnRenamed("id", "doc_id")
    clusterKeepBest(
      emb.select(idCol.as("doc_id"), qualityCol.as("__q")),
      col("doc_id"), col("__q"), labels)
  }

  /** Violations of the [[semanticKeep]] contract, expected EMPTY — the
    * oracle-checkable form of the iterative pipeline (k-means itself has no
    * SQL analogue, but every property of the KEEP SET does). The near-dup
    * edge set is re-derived INDEPENDENTLY of [[bucketPairs]] (a plain
    * same-cluster self-join + the exact cosine refine), so a candidate-
    * generation bug can't cancel out of its own verification. Kinds:
    *   - `kept_pair_within_threshold`: two kept docs share a cluster and
    *     sit within the near-dup threshold — a direct edge means one
    *     component, which keeps exactly one member;
    *   - `kept_worse_than_dropped`: a kept doc has a dropped direct
    *     neighbor of strictly higher quality (or equal quality and smaller
    *     id) — the kept doc is that neighbor's component winner, so it must
    *     dominate under (quality DESC, id ASC);
    *   - `dropped_without_neighbor`: a dropped doc with NO within-threshold
    *     same-cluster neighbor at all — only near-dup-group members may be
    *     dropped. */
  def semanticKeepViolations(emb: DataFrame, idCol: Column, vecCol: Column,
      qualityCol: Column, k: Int, iters: Int, dim: Int,
      threshold: Double): DataFrame = {
    val corpus = emb.select(idCol.as("vec_id"), vecCol.as("embedding"),
        qualityCol.as("__q"))
      .localCheckpoint(eager = false) // reused: keep run, assignment, edges
    val kept = semanticKeep(corpus, col("vec_id"), col("embedding"),
        col("__q"), k, iters, dim, threshold)
      .localCheckpoint(eager = false)
    val assigned = Similarity.assignClusters(
      corpus.select("vec_id", "embedding"),
      Similarity.kmeansCentroids(corpus.select("vec_id", "embedding"), k, iters, dim))
      .select(col("cluster"), col("vec_id"))
    def side(s: String) = assigned.join(corpus, "vec_id")
      .select(col("cluster"), col("vec_id").as(s"id_$s"),
        col("embedding").as(s"__v$s"), col("__q").as(s"__q$s"))
    val edges = side("a").join(side("b"), Seq("cluster"))
      .filter(col("id_a") < col("id_b"))
      .filter(cosineRounded(col("__va"), col("__vb")) >= threshold)
      .select("id_a", "id_b", "__qa", "__qb")
      .localCheckpoint(eager = false)
    val marked = edges
      .join(kept.select(col("doc_id").as("id_a"), lit(1).as("__ka")), Seq("id_a"), "left")
      .join(kept.select(col("doc_id").as("id_b"), lit(1).as("__kb")), Seq("id_b"), "left")
    val bothKept = marked
      .filter(col("__ka").isNotNull && col("__kb").isNotNull)
      .select(col("id_a").as("doc_a"), col("id_b").as("doc_b"),
        lit("kept_pair_within_threshold").as("kind"))
    def loses(qk: Column, idk: Column, qd: Column, idd: Column): Column =
      qk < qd || (qk === qd && idk > idd)
    val qViol = marked.filter(
        (col("__ka").isNotNull && col("__kb").isNull &&
          loses(col("__qa"), col("id_a"), col("__qb"), col("id_b"))) ||
        (col("__kb").isNotNull && col("__ka").isNull &&
          loses(col("__qb"), col("id_b"), col("__qa"), col("id_a"))))
      .select(col("id_a").as("doc_a"), col("id_b").as("doc_b"),
        lit("kept_worse_than_dropped").as("kind"))
    val touched = edges.select(col("id_a").as("doc_id"))
      .union(edges.select(col("id_b").as("doc_id"))).distinct()
    val orphanDropped = corpus.select(col("vec_id").as("doc_id"))
      .join(kept, Seq("doc_id"), "left_anti")
      .join(touched, Seq("doc_id"), "left_anti")
      .select(col("doc_id").as("doc_a"), lit(null).cast("long").as("doc_b"),
        lit("dropped_without_neighbor").as("kind"))
    bothKept.unionByName(qViol).unionByName(orphanDropped)
  }

  /** Near-dup candidate pairs by SimHash Hamming distance ≤ `maxDist` —
    * all-pairs XOR+popcount. O(n²) by construction: VERIFICATION-SCALE ONLY
    * (it plans a BroadcastNestedLoopJoin); every judged/production path goes
    * through [[simhashBandedPairs]], which produces the identical row set
    * via pigeonhole banding. Kept as the recall oracle for specs. */
  def simhashHammingPairs(docs: DataFrame, idCol: Column, textCol: Column,
      maxDist: Int, bits: Int = 16): DataFrame = {
    val sh = simhashDocs(docs, idCol, textCol, bits)
    val a = sh.select(col("doc_id").as("doc_a"), col("simhash").as("sh_a"))
    val b = sh.select(col("doc_id").as("doc_b"), col("simhash").as("sh_b"))
    a.join(b, col("doc_a") < col("doc_b"))
      .withColumn("hamming", bit_count(col("sh_a").bitwiseXOR(col("sh_b"))))
      .filter(col("hamming") <= maxDist)
      .select("doc_a", "doc_b", "hamming")
  }

  /** SimHash Hamming pairs by pigeonhole banding — the 100 TB path, with
    * EXACTLY the same output as [[simhashHammingPairs]] (banding is a
    * complete candidate generator, not an approximation): split the `bits`
    * fingerprint into `maxDist + 1` contiguous bands; a pair within Hamming
    * distance d has at most d differing bits spread over d+1 bands, so at
    * least one band matches exactly. Candidate generation is therefore a
    * bucket grouping on (band, band_value) — one shuffle of the tiny
    * (doc_id, simhash) projection, no join of any kind — followed by the
    * exact XOR/popcount refine inside each bucket.
    *
    * Bucket sizes scale as n / 2^(bits/(maxDist+1)): choose bits ≫ maxDist
    * at corpus scale (e.g. 64-bit simhash, maxDist 3 → 16-bit bands → 65k
    * buckets) so intra-bucket pair emission stays linear-ish. */
  def simhashBandedPairs(docs: DataFrame, idCol: Column, textCol: Column,
      maxDist: Int, bits: Int = 16): DataFrame = {
    val numBands = maxDist + 1
    require(numBands <= bits,
      s"need at least maxDist+1=$numBands bands out of $bits fingerprint bits")
    // exact-duplicate pre-collapse: identical fingerprints (Hamming 0 — the
    // whole duplicate-heavy-corpus mass) reduce to one representative. Same
    // shape as lshCandidatePairs: the 16-byte (doc_id, simhash) projection
    // is materialized once (lazy localCheckpoint — on first use, not at
    // construction; see the caveat in lshCandidatePairs) and the groupBy
    // collapses map-side — one row per distinct fingerprint shuffles, no
    // partition sort, no per-branch recompute of the fingerprint scan
    val sh = simhashDocs(docs, idCol, textCol, bits)
      .filter(col("simhash").isNotNull)
      .localCheckpoint(eager = false)
    val groups = sh.groupBy("simhash").agg(
      min(col("doc_id")).as("rep"), count(lit(1)).as("cnt"))
    val reps = groups.select(col("rep").as("doc_id"), col("simhash"))
    // see lshCandidatePairs: empty unless the corpus has exact-dup groups
    val mDup = sh
      .join(groups.filter(col("cnt") > 1).select(col("simhash"), col("rep")),
        "simhash")
      .select(col("doc_id"), col("rep"))
    // contiguous bands with sizes differing by at most one bit
    val bandCols = (0 until numBands).map { i =>
      val lo = i * bits / numBands
      val hi = (i + 1) * bits / numBands
      struct(lit(i).as("band"),
        shiftrightunsigned(col("simhash"), lo)
          .bitwiseAND(lit((1L << (hi - lo)) - 1)).as("band_val"))
    }
    val bk = reps
      .select(col("doc_id"), col("simhash"), explode(array(bandCols: _*)).as("b"))
      .select(col("b.band").as("band"), col("b.band_val").as("band_key"),
        col("doc_id"), col("simhash"))
    val repPairs = bucketPairs(bk, Seq("band", "band_key"),
        struct(col("doc_id"), col("simhash")))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        bit_count(col("a.simhash").bitwiseXOR(col("b.simhash"))).as("hamming"))
      .filter(col("hamming") <= maxDist)
      .distinct() // a representative pair may share several bands
    // re-attach collapsed members: identical fingerprints pair at distance 0;
    // cross-group pairs inherit their representatives' distance (equal
    // fingerprints within each group)
    val intra = mDup.select(col("rep"), col("doc_id").as("doc_a"))
      .join(mDup.select(col("rep"), col("doc_id").as("doc_b")), "rep")
      .filter(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"), lit(0).as("hamming"))
    val inter = repPairs
      .join(mDup.select(col("rep").as("doc_a"), col("doc_id").as("m_a")), Seq("doc_a"), "left")
      .join(mDup.select(col("rep").as("doc_b"), col("doc_id").as("m_b")), Seq("doc_b"), "left")
      .select(
        least(coalesce(col("m_a"), col("doc_a")), coalesce(col("m_b"), col("doc_b"))).as("doc_a"),
        greatest(coalesce(col("m_a"), col("doc_a")), coalesce(col("m_b"), col("doc_b"))).as("doc_b"),
        col("hamming"))
    intra.union(inter)
  }

  /** Near-dup candidate pairs from shared WINNOWING fingerprints
    * ([[graft.functions.TextFunctions.winnowFingerprints]]): pairs of
    * documents sharing at least `minShared` selected fingerprints, with
    * the shared count — the dedup use of winnowing's locality guarantee
    * (two docs sharing any ≥ window+gramK−1-token run share a
    * fingerprint, so copied PASSAGES surface even when whole-doc
    * similarity is low — the case MinHash-over-the-whole-doc dilutes
    * away). `minShared` > 1 screens single-fingerprint coincidences of
    * the 16-bit hash space.
    *
    * Scale shape: the corpus reduces row-locally to its sorted-distinct
    * fingerprint ARRAY (zero exchanges in the derivation —
    * [[graft.expressions.WinnowFingerprints]] emits the distinct set per
    * row), each (fp, doc) occurrence carries its doc's array through ONE
    * fingerprint-keyed exchange into [[chunkPairWalk]]'s chunks, and the
    * shared count is a merge walk inside
    * [[graft.expressions.ChunkPairWalk]] — each qualifying pair emitted
    * exactly once, from the bucket holding its MINIMUM shared
    * fingerprint, already carrying its exact n_shared. A pair-count
    * formulation materializes one row per co-occurrence (Σ_bucket
    * C(occupancy, 2) — 10⁷-scale at the sf1 fixture whose 30-word
    * vocabulary makes every fingerprint hot) and shuffles that quadratic
    * mass into a pair-keyed count aggregate; here it is loop iterations
    * over primitive longs and only output-sized rows materialize. No
    * all-pairs step, no O(bucket²) task, no pair-keyed shuffle at all.
    * Integral ids widen to long; any other id type is rejected. */
  def winnowCandidatePairs(docs: DataFrame, idCol: Column, textCol: Column,
      minShared: Int = 2, gramK: Int = 3, window: Int = 4): DataFrame =
    winnowCandidatePairsChunked(docs,
      longId("winnowCandidatePairs", docs, idCol), textCol, minShared,
      gramK, window, DefaultChunk)

  /** [[winnowCandidatePairs]] with the chunk size exposed so specs can
    * force multi-chunk (off-diagonal) buckets at fixture scale. */
  private[operators] def winnowCandidatePairsChunked(docs: DataFrame,
      idCol: Column, textCol: Column, minShared: Int, gramK: Int,
      window: Int, chunk: Int): DataFrame = {
    // (doc_id, sorted distinct fingerprint array) — row-local; docs with
    // no fingerprints drop (they cannot pair with anything)
    val fpsets = Parallelism.fanOut(
        docs.select(idCol.as("doc_id"), textCol.as("__text")))
      .select(col("doc_id"),
        sort_array(graft.functions.TextFunctions
          .winnowFingerprints(col("__text"), gramK, window)).as("fps"))
      .filter(size(col("fps")) > 0)
    // one (fp, doc_id, fps) row per DISTINCT fingerprint a doc carries:
    // the doc's whole sorted array rides along so the overlap walk needs
    // no attach join — ~25 longs per row vs the quadratic pair shuffle
    // it replaces (the guide-§8 decide-with-small-rows trade, with the
    // "small rows" being the arrays the decision genuinely needs)
    val ex = fpsets.select(col("doc_id"), col("fps"),
      explode(col("fps")).as("fp"))
    // the pinned repartition IS the bucket window/groupBy exchange
    // (HashPartitioning(fp) satisfies both), kept explicit so AQE's
    // byte-coalescing cannot fold the CPU-per-row walk to one partition
    // (the bucketPairs rule); size-derived width: core-count floor
    // locally, grows with the array-bearing rows' planned bytes at scale
    val width = Parallelism.pinWidth(ex)
    chunkPairWalk(ex.repartition(width, col("fp")), "fp",
        struct(col("doc_id"), col("fps")),
        graft.expressions.ChunkPairWalk.MinFingerprintOverlap(minShared),
        chunk, width)
      .select(col("r.doc_a").as("doc_a"), col("r.doc_b").as("doc_b"),
        col("r.n").as("n_shared"))
  }

  /** The keep decision over [[winnowCandidatePairs]]: drop every doc that
    * shares ≥ `minShared` fingerprints with a SMALLER-id doc (the greedy
    * drop-vs-smaller-id rule [[nearDupKeep]] uses, applied to the
    * passage-copy candidates winnowing surfaces). Returns kept ids — one
    * id-keyed anti-join over the pair frame beyond the pair generation. */
  def winnowKeep(docs: DataFrame, idCol: Column, textCol: Column,
      minShared: Int = 2, gramK: Int = 3, window: Int = 4): DataFrame =
    docs.select(idCol.as("doc_id")).join(
      winnowCandidatePairs(docs, idCol, textCol, minShared, gramK, window)
        .select(col("doc_b").as("doc_id")),
      Seq("doc_id"), "left_anti")

  /** Embedding-cosine near-dup pairs above `threshold` (rounded to 4dp for
    * the oracle contract). Brute-force pairwise — O(n²), plans a
    * BroadcastNestedLoopJoin: VERIFICATION-SCALE ONLY, kept as the recall
    * oracle for [[embeddingNearDupsBucketed]] specs. */
  def embeddingNearDups(emb: DataFrame, idCol: Column, vecCol: Column,
      threshold: Double): DataFrame = {
    val a = Parallelism.fanOut(emb.select(idCol.as("id_a"), vecCol.as("vec_a")))
    val b = emb.select(idCol.as("id_b"), vecCol.as("vec_b"))
    a.join(b, col("id_a") < col("id_b"))
      .withColumn("sim", cosineRounded(col("vec_a"), col("vec_b")))
      .filter(col("sim") >= threshold)
      .select("id_a", "id_b", "sim")
  }

  /** Embedding near-dup through sign-LSH buckets — the 100 TB path: each
    * vector lands in its [[Similarity.signLshBucket]] bucket; the pair
    * search is ONE bucket-keyed equi-join (left side keeps its own key,
    * right side additionally probes every 1-bit-flip key, so any pair whose
    * bucket keys differ in ≤ 1 plane sign is generated — exactly once,
    * since flip keys are distinct). Exact cosine refine follows, so
    * precision is always 1; recall is empirical in the plane count (the
    * companion spec pins it against [[embeddingNearDups]] at the judged
    * threshold). Corpus shuffles once, keyed by bucket; never all-pairs. */
  def embeddingNearDupsBucketed(emb: DataFrame, idCol: Column, vecCol: Column,
      threshold: Double, planes: Seq[Int], probeBits: Int = 1): DataFrame = {
    require(probeBits >= 1 && probeBits <= planes.length,
      s"probeBits must be in [1, ${planes.length}]")
    val base = Parallelism.fanOut(emb.select(idCol.as("id"), vecCol.as("vec")))
    val own = Similarity.signLshBucket(col("vec"), planes)
    val a = base.select(own.as("bucket"),
      col("id").as("id_a"), col("vec").as("vec_a"))
    // every flip mask of ≤ probeBits plane signs (mask 0 = the own bucket):
    // a pair whose keys differ in d ≤ probeBits planes meets under exactly
    // the mask key_a XOR key_b, so nothing is double-generated
    val probeKeys = array((0L until (1L << planes.length))
      .filter(m => java.lang.Long.bitCount(m) <= probeBits)
      .map {
        case 0L => own
        case m  => own.bitwiseXOR(lit(m))
      }: _*)
    val b = base.select(explode(probeKeys).as("bucket"),
      col("id").as("id_b"), col("vec").as("vec_b"))
    a.join(b, Seq("bucket"))
      .filter(col("id_a") < col("id_b"))
      .withColumn("sim", cosineRounded(col("vec_a"), col("vec_b")))
      .filter(col("sim") >= threshold)
      .select("id_a", "id_b", "sim")
  }

  /** Embedding-cosine near-dup through annulus (pivot-angle) banding —
    * EXACT at any threshold, where sign-LSH probing is only empirically
    * complete: every vector gets its angle θ(x,a) to one fixed anchor
    * direction a (the all-ones diagonal); the spherical triangle inequality
    * θ(x,y) ≥ |θ(x,a) − θ(y,a)| means a pair with cosine ≥ `threshold`
    * (θ(x,y) ≤ acos(threshold)) differs by at most acos(threshold) in anchor
    * angle, so it lands within `k` adjacent angle bands of width `bandDeg`.
    * Candidate generation is ONE band-keyed equi-join (each row also probes
    * its k downward neighbor bands, so every qualifying pair meets at least
    * once), then the exact cosine refine — precision AND recall are 1 by
    * construction; band-boundary float wiggle only widens the candidate set.
    *
    * Scale: the corpus shuffles once keyed by band; no all-pairs join. The
    * candidate annulus spans ~2·acos(threshold) of angle, so pruning power
    * is threshold-dependent — thin (strong) at real near-dup thresholds
    * (0.9+ ⇒ a few bands), honest-but-wide at verification thresholds. */
  /** Cross-document boilerplate-span removal (the C4/RefinedWeb cleaning
    * step doc-level near-dup CANNOT express): any token k-gram occurring in
    * at least `minDocs` DISTINCT documents is boilerplate — navigation
    * chrome, license footers, cookie banners — and every position it covers
    * is cut from every document carrying it, keeping the surviving tokens
    * in order. Returns (doc_id, clean_text, n_removed). Documents shorter
    * than k tokens carry no grams and pass through whole; a k-gram repeated
    * only WITHIN one document is not boilerplate (that is
    * [[graft.functions.TextFunctions]] intra-doc territory).
    *
    * Scale shape (round 15 — fingerprinted): gram derivation is ONE
    * native-expression pass per row ([[graft.expressions.GramHashes]];
    * the old transform/slice/concat_ws lambda chain was interpreted and
    * allocated a gram string per position), grams travel as 8-byte
    * positional fingerprints (the ~6·k-byte gram string never exists;
    * see GramHashes' fingerprint-equality contract for the 2⁻⁶⁴
    * collision trade), the checkpointed gram frame feeds BOTH the
    * map-side-combined distinct-count and the join-back on the same
    * key; covered positions aggregate per doc (one doc-keyed exchange)
    * and the final cut is a row-local hash-based set difference over
    * the position range (linear in tokens + covered, not tokens ×
    * covered). No all-pairs step anywhere: cost is bounded by
    * occurrences of duplicated grams, not corpus². */
  /** Shared flag-and-cover stage of the boilerplate/dup-span family:
    * (doc_id, sorted positions covered by any k-gram occurring in >=
    * minDocs distinct docs). Grams travel as 64-bit positional
    * FINGERPRINTS from ONE native-expression pass
    * ([[graft.expressions.GramHashes]] — see its fingerprint-equality
    * contract: a 2⁻⁶⁴ collision flags one innocent gram, the
    * lshCandidatePairs digest-key precedent), LazyCheckpoint-ed so the
    * flag aggregate and the join-back leg share one materialization —
    * the PlanMetrics profile showed the old string-gram lambda chain
    * running TWICE (interpreted, one gram string per position) and
    * shuffling ~6·k-byte string keys where this shuffles 8-byte longs. */
  private def gramCoveredPositions(docs: DataFrame, idCol: Column,
      textCol: Column, k: Int, minDocs: Int, outCol: String): DataFrame = {
    import org.apache.spark.sql.GraftBridge
    val grams = graft.plans.LazyCheckpoint.of(
      docs.select(idCol.as("doc_id"),
          explode(GraftBridge.column(graft.expressions.GramHashes(
            GraftBridge.expression(textCol), k))).as("__g"))
        .select(col("doc_id"), col("__g.start").as("start"),
          col("__g.gh").as("gh")))
    val flagged = grams.groupBy("gh")
      .agg(countDistinct(col("doc_id")).as("__df"))
      .filter(col("__df") >= minDocs)
      .select("gh")
    // no distinct() before the collapse (round 15): collect_set dedups —
    // including MAP-SIDE in its partial aggregate. Catalyst's
    // RemoveRedundantAggregates was already eliding the old explicit
    // distinct (before/after physical plans are identical, see
    // plans/r15/tx_boilerplate_*), so this is source-level honesty, not a
    // plan change — the collapse was always one exchange
    grams.join(flagged, "gh")
      .select(col("doc_id"),
        explode(sequence(col("start"), col("start") + (k - 1))).as("pos"))
      .groupBy("doc_id")
      .agg(sort_array(collect_set(col("pos"))).as(outCol))
  }

  def boilerplateSpans(docs: DataFrame, idCol: Column, textCol: Column,
      k: Int, minDocs: Int): DataFrame = {
    require(k >= 1 && minDocs >= 2, "need k >= 1 and minDocs >= 2")
    val toks = docs.select(idCol.as("doc_id"), split(textCol, " ").as("__toks"))
    val covered =
      gramCoveredPositions(docs, idCol, textCol, k, minDocs, "__covered")
    // the cut is hash-based set difference over the position range, NOT a
    // per-token array_contains probe: array_except builds one hash set of
    // the covered positions, so a long heavily-boilerplated doc pays
    // O(|tokens| + |covered|) row-local work instead of the quadratic
    // O(|tokens| x |covered|) a membership scan per token would cost.
    // array_except keeps the first array's order, so surviving tokens stay
    // in document order; every kept position indexes inside __toks by
    // construction (covered ⊆ [0, size)), so the subscript is ANSI-safe.
    toks.join(covered, Seq("doc_id"), "left")
      .select(col("doc_id"),
        concat_ws(" ", expr("transform(" +
          "array_except(sequence(0, size(__toks) - 1), " +
          "coalesce(__covered, array())), " +
          "i -> __toks[i])")).as("clean_text"),
        coalesce(size(col("__covered")), lit(0)).cast("long").as("n_removed"))
  }

  /** Maximal duplicated-substring spans — the ExactSubstr inventory of
    * Lee et al., "Deduplicating Training Data Makes Language Models
    * Better" (ACL 2022, arXiv:2107.06499 §4.1), at k-token gram
    * resolution instead of the paper's byte-level suffix array (the
    * right granularity when the corpus is tokenized anyway, and the
    * distributable one: a suffix array is a global sort over bytes;
    * gram flagging is one keyed count). Emits, per carrier doc, every
    * MAXIMAL run of token positions covered by some k-gram shared with
    * >= minDocs documents, as (doc_id, span_start, n_tokens, span_text)
    * with n_tokens >= minLen. Where [[boilerplateSpans]] SCRUBS the
    * covered positions out of the text, this EXTRACTS the span
    * inventory — the audit table ExactSubstr cuts from, and the input
    * to targeted span-level removal or memorization probes.
    *
    * Scale shape: shares boilerplateSpans' cost envelope — row-local
    * gram projection, ONE gram-keyed distinct-count + join-back on the
    * same key, one doc-keyed covered-position aggregation. The island
    * split (contiguity boundaries of the sorted covered array, zipped
    * start-to-end) and the text slice are row-local higher-order ops —
    * no window, no extra shuffle, cost bounded by duplicated-gram
    * occurrences, never corpus². */
  def duplicatedSpans(docs: DataFrame, idCol: Column, textCol: Column,
      k: Int, minDocs: Int, minLen: Int): DataFrame = {
    require(k >= 1 && minDocs >= 2 && minLen >= k,
      "need k >= 1, minDocs >= 2, minLen >= k")
    val toks = docs.select(idCol.as("doc_id"), split(textCol, " ").as("__toks"))
    val covered = gramCoveredPositions(docs, idCol, textCol, k, minDocs, "__c")
    // islands: indexes where the sorted covered array breaks contiguity
    // (run starts) zipped against run ends — both filters yield one
    // entry per island in the same order, so zip_with pairs them 1:1
    covered.join(toks, "doc_id")
      .select(col("doc_id"), col("__toks"),
        explode(expr(
          """zip_with(
            |  filter(sequence(0, size(__c) - 1),
            |    i -> i = 0 OR __c[i] != __c[i - 1] + 1),
            |  filter(sequence(0, size(__c) - 1),
            |    i -> i = size(__c) - 1 OR __c[i + 1] != __c[i] + 1),
            |  (s, e) -> struct(__c[s] AS start, __c[e] - __c[s] + 1 AS len))""".stripMargin))
          .as("__span"))
      .filter(col("__span.len") >= minLen)
      .select(col("doc_id"),
        col("__span.start").cast("long").as("span_start"),
        col("__span.len").cast("long").as("n_tokens"),
        concat_ws(" ",
          slice(col("__toks"), col("__span.start") + 1, col("__span.len")))
          .as("span_text"))
  }

  def embeddingNearDupsAnnulus(emb: DataFrame, idCol: Column, vecCol: Column,
      threshold: Double, bandDeg: Double = 5.0): DataFrame = {
    val bandRad = math.toRadians(bandDeg)
    // +2 bands of slack: +1 for the bucket-floor offset, +1 absorbing acos
    // ulp error — extra candidates are free (the refine is exact)
    val k = (math.acos(threshold) / bandRad).toInt + 2
    val base = Parallelism.fanOut(emb.select(idCol.as("id"), vecCol.as("vec")))
    val anchorCos = aggregate(col("vec"), lit(0.0),
      (s, x) => s + x.cast("double")) /
      (norm(col("vec")) * sqrt(size(col("vec")).cast("double")))
    val band = floor(
      acos(least(greatest(anchorCos, lit(-1.0)), lit(1.0))) / lit(bandRad))
      .cast("long")
    val withBand = base.select(col("id"), col("vec"), band.as("band"))
    val a = withBand.select(col("band"),
      col("id").as("id_a"), col("vec").as("vec_a"))
    // upward-only probing: a pair whose bands differ by d ∈ (0, k] meets
    // exactly once (the lower band probed up by the higher); same-band pairs
    // meet twice with roles swapped — the least/greatest + distinct below
    // canonicalizes both cases
    val b = withBand.select(
      explode(array((0 to k).map(o => col("band") + lit(o.toLong)): _*)).as("band"),
      col("id").as("id_b"), col("vec").as("vec_b"))
    a.join(b, Seq("band"))
      .filter(col("id_a") =!= col("id_b"))
      .withColumn("sim", cosineRounded(col("vec_a"), col("vec_b")))
      .filter(col("sim") >= threshold)
      .select(least(col("id_a"), col("id_b")).as("id_a"),
        greatest(col("id_a"), col("id_b")).as("id_b"), col("sim"))
      .distinct()
  }
}
