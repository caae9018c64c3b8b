package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** GRAPH-based ANN (north-star E2 depth): a k-NN graph over the
  * embedding corpus plus a beam search over it — the graph family
  * (HNSW, Malkov & Yashunin 2016; NSG, Fu et al. 2019) next to the
  * repo's IVF / PQ / LSH paths. The Spark-native decomposition:
  *
  *  - [[build]]: the k-NN GRAPH, constructed cell-blocked — candidates
  *    are same-IVF-cell pairs (the `semanticContamination` blocking
  *    discipline: a cell-keyed equi self-join, never corpus²), exactly
  *    re-ranked by cosine, top-k per source node. This is the
  *    navigable graph HNSW's layer 0 approximates; at 100 TB the edge
  *    table is a write-once artifact bucketed by `src`.
  *  - [[beamSearch]]: HNSW's layer-0 query loop (greedy best-first
  *    with beam width ef) with the beam width as the frontier bound
  *    and a FIXED round count instead of a convergence test — each
  *    round expands the whole frontier at once (batch-friendly), so
  *    R rounds reach anything within R hops of the entry point. All
  *    queries advance together: one broadcast-frontier join against
  *    the edge table per round, never a per-query driver loop.
  *
  * Determinism (the oracle contract): cell assignment uses the seed
  * centroids ([[Similarity.ivfCentroids]] — the proven replayable
  * geometry), scores are `round(cosine, 6)` with (score DESC, vec_id)
  * tie-breaks, and the entry point is the query's nearest centroid —
  * every step is a total order, so the DuckDB oracle replays the
  * graph and the unrolled beam rounds exactly.
  */
object KnnGraph {

  /** Multi-probe exact k-NN graph: (src, dst, score, rank), rank
    * 1..k per src by (cosine DESC, dst). Candidates are pairs sharing
    * ANY of each vector's top-2 IVF cells — the multi-probe blocking
    * every blocked k-NN-graph builder makes (NN-Descent refines
    * exactly such a seed graph), and the probe-2 overlap is what puts
    * CROSS-CELL edges in the graph: a same-cell-only build is
    * cell-disconnected, and a beam search over it could never leave
    * its entry cells (measured: recall collapsed to the IVF-probe
    * baseline). The join is cell-keyed equi (≤ 4 duplicate candidate
    * pairs, dropped by a pre-scoring distinct); per-cell work is
    * quadratic in the CELL population (skew-capped at scale: k-means
    * balance, or the [[Salting]] fan-out on a hot cell), never in
    * the corpus.
    */
  /** Sizing at scale: candidates are n·cellPop·(probes²) and the cell
    * assignment is n·nCentroids dots — balanced at nCentroids ∝ √n
    * (the standard IVF nlist rule); holding cellPop constant instead
    * (nCentroids ∝ n) buys linear candidates at quadratic-ish
    * assignment. The round-11 ×64 build curve (BASELINE.md) runs the
    * latter (constant cell population) and is measured near-flat
    * (exponent 0.16) at its sizes.
    */
  /** `centroids` (opt-in): a TRAINED coarse quantizer
    * ([[Similarity.kmeansCentroids]] — the replayable fixed-point
    * k-means) instead of the seed-vector geometry. On skewed real
    * embeddings the seed cells concentrate mass into hot cells that
    * the cap then silences (pairs lost, audited); trained cells
    * migrate toward the data's modes and rebalance — spec-pinned:
    * fewer capped cells and no worse pair coverage on a clumped-seed
    * fixture. The default stays the seed geometry (the oracle
    * contract of the shipped queries).
    */
  def build(embeddings: DataFrame, k: Int, nCentroids: Int = 16,
            cellCap: Option[Long] = None,
            centroids: Option[Array[Array[Double]]] = None): DataFrame = {
    require(k >= 1, s"k must be positive, got $k")
    val cents = centroids.getOrElse(Similarity.ivfCentroids(embeddings, nCentroids))
    val probed0 = embeddings
      .select(col("vec_id"),
        explode(Similarity.ivfProbeCells(col("embedding"), cents, 2)).as("cell"))
    // HOT-CELL CAP: a cell whose probe population exceeds `cellCap`
    // contributes NO candidate pairs (its quadratic fan-out is the
    // one term the blocking cannot bound when the quantizer loses a
    // skewed mode) — the bandCapAudit discipline: capped, never
    // silent ([[graphCapAudit]] is the visibility query). Nodes of a
    // capped cell still pair through their OTHER probe cell, so the
    // graph degrades locally instead of the build degenerating
    // globally; at deployment the remedy is re-training the
    // quantizer (k-means) or [[Salting]]-fanning the hot cell.
    val probed = cellCap match {
      case None => probed0
      case Some(cap) =>
        require(cap >= 1, s"cellCap must be positive, got $cap")
        val ok = probed0.groupBy(col("cell"))
          .agg(count(lit(1)).as("n"))
          .filter(col("n") <= cap)
          .select(col("cell"))
        probed0.join(ok, Seq("cell"), "left_semi")
    }
    val pairs = probed.select(col("cell"), col("vec_id").as("src"))
      .join(probed.select(col("cell"), col("vec_id").as("dst")), Seq("cell"))
      .filter(col("src") =!= col("dst"))
      .select(col("src"), col("dst"))
      .distinct()
    rankTopK(embeddings, pairs, k)
  }

  /** Cap AUDIT for [[build]]'s hot-cell cap (the `bandCapAudit` /
    * `q_cap_audit` pattern): every coarse cell with its multi-probe
    * population and whether `cellCap` would silence it — so a capped
    * cell is a visible, queryable fact, never a silent hole in the
    * graph. Bounded output: nCentroids rows.
    */
  def graphCapAudit(embeddings: DataFrame, nCentroids: Int = 16,
                    cellCap: Long = 10000L,
                    centroids: Option[Array[Array[Double]]] = None): DataFrame = {
    val cents = centroids.getOrElse(Similarity.ivfCentroids(embeddings, nCentroids))
    embeddings
      .select(col("vec_id"),
        explode(Similarity.ivfProbeCells(col("embedding"), cents, 2)).as("cell"))
      .groupBy(col("cell"))
      .agg(count(lit(1)).as("population"))
      .select(col("cell").cast("long").as("cell"), col("population"),
        (col("population") > cellCap).as("capped"))
  }

  /** [[build]] behind the session artifact cache — the edge table is
    * the write-once artifact all graph consumers (clusters, hubness,
    * refinement, beam search, curation's semantic stage) read from
    * ONE build per (session, corpus, k, nCentroids); the
    * `sharedRepeatGroups` / `sharedImageHashes` discipline.
    */
  def sharedGraph(embeddings: DataFrame, k: Int, nCentroids: Int = 16,
                  cacheKey: Option[String] = None): DataFrame =
    cacheKey match {
      case None => build(embeddings, k, nCentroids)
      case Some(src) => SessionArtifactCache.getOrBuild(
        embeddings.select(col("vec_id"), col("embedding")),
        tag = s"knn_graph:$src", params = s"k=$k,nc=$nCentroids") {
        build(embeddings, k, nCentroids)
      }
    }

  /** The durable k-NN graph artifact: the edge table plus the build
    * parameters that define its geometry — what [[extend]] and
    * [[beamSearch]] need to keep probing/maintaining it across
    * sessions (the `MinHash.CorpusIndex` shape). The embedding table
    * itself is a separate standing table (saved once, by its owner).
    */
  final case class GraphArtifact(edges: DataFrame, k: Int, nCentroids: Int)

  /** Persist a [[GraphArtifact]]: edge parquet + params manifest —
    * at scale the write is `partitionBy`/bucketed by `src` so a
    * beam-search probe reads only the frontier's buckets.
    */
  def saveGraph(g: GraphArtifact, path: String): Unit = {
    g.edges.write.mode("overwrite").parquet(s"$path/edges")
    java.nio.file.Files.write(
      java.nio.file.Paths.get(path, "params.json"),
      s"""{"k":${g.k},"nCentroids":${g.nCentroids}}""".getBytes("UTF-8"))
  }

  /** Load a persisted [[GraphArtifact]]; refuses a manifest missing
    * its geometry (a graph probed under the wrong `nCentroids` would
    * silently use a different coarse quantizer).
    */
  def loadGraph(spark: org.apache.spark.sql.SparkSession,
                path: String): GraphArtifact = {
    val txt = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(path, "params.json")), "UTF-8")
    def intOf(key: String): Int = {
      val m = s""""$key"\\s*:\\s*(-?\\d+)""".r.findFirstMatchIn(txt)
      require(m.isDefined, s"params.json missing $key")
      m.get.group(1).toInt
    }
    GraphArtifact(spark.read.parquet(s"$path/edges"),
      intOf("k"), intOf("nCentroids"))
  }

  /** Shared edge-scoring tail: exact round-6 cosine over candidate
    * (src, dst) pairs, top-k per src with the (score DESC, dst)
    * tie-break. The two vec_id joins are bucket-joins at scale (the
    * embedding table is the bucketed artifact).
    */
  private def rankTopK(embeddings: DataFrame, pairs: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy(col("src"))
      .orderBy(col("score").desc, col("dst").asc)
    pairs
      .join(embeddings.select(col("vec_id").as("src"), col("embedding").as("se")),
        Seq("src"))
      .join(embeddings.select(col("vec_id").as("dst"), col("embedding").as("de")),
        Seq("dst"))
      .select(col("src"), col("dst"),
        round(Similarity.cosine(col("se"), col("de")), 6).as("score"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
  }

  /** One NN-DESCENT round (Dong et al., WWW 2011): refine the graph
    * by re-ranking each node against its current neighbors, REVERSE
    * neighbors, and neighbors-of-neighbors — "a neighbor of my
    * neighbor is probably my neighbor". Candidates are |E|·k two-hop
    * pairs (n·k² — linear in the corpus, never corpus²); iterating
    * [[refine]] to a fixed point is the standard convergence loop, and
    * the candidate set is a superset of the current edges, so per-node
    * neighbor quality (the score multiset) improves monotonically.
    */
  def refine(embeddings: DataFrame, graph: DataFrame, k: Int): DataFrame = {
    val e = graph.select(col("src"), col("dst"))
    val rev = e.select(col("dst").as("src"), col("src").as("dst"))
    val hop2 = e.select(col("src"), col("dst").as("mid"))
      .join(e.select(col("src").as("mid"), col("dst")), Seq("mid"))
      .select(col("src"), col("dst"))
      .filter(col("src") =!= col("dst"))
    rankTopK(embeddings, e.unionByName(rev).unionByName(hop2).distinct(), k)
  }

  /** NN-DESCENT to its fixed point (Dong et al., WWW 2011 §2.3): the
    * convergence driver over [[refine]] — iterate until an iteration
    * changes at most `tolUpdates` edges (the paper's `updates <
    * δ·n·k` early stop; the default 0 runs to the exact fixed point)
    * or `maxRounds` is hit. Per-round lineage cut (localCheckpoint,
    * the `ConnectedComponents`/`PageRank` discipline), and the
    * per-round cost stays n·k² candidate pairs. Returns the settled
    * graph and the number of refine rounds actually applied.
    *
    * Fixed-point algebra the shipped oracle leans on: the refine
    * candidate set contains the current edges, so each node's
    * neighbor-score multiset improves monotonically, and an
    * unchanged edge set is a true fixed point — `refine(g) == g`
    * implies every further round is identity. A converged result
    * therefore equals `refine^maxRounds(g)` exactly, which is what
    * lets a FIXED unroll replay a dynamic loop.
    */
  def refineToConvergence(embeddings: DataFrame, graph: DataFrame, k: Int,
                          maxRounds: Int = 10,
                          tolUpdates: Long = 0L): (DataFrame, Int) = {
    require(maxRounds >= 0, s"maxRounds must be >= 0, got $maxRounds")
    var cur = graph.localCheckpoint()
    var rounds = 0
    var settled = false
    while (rounds < maxRounds && !settled) {
      val next = refine(embeddings, cur, k).localCheckpoint()
      // one-sided exceptAll suffices: refine's candidates contain the
      // current edges, so every src keeps at least its current
      // out-degree — |next| ≥ |cur|; next\cur empty then forces
      // next == cur (a strict subset would be smaller)
      val updates = next.select(col("src"), col("dst"))
        .exceptAll(cur.select(col("src"), col("dst"))).count()
      // take the already-computed `next` whenever it differs — a
      // sub-tolerance final iteration is still a strictly better
      // graph (discarding it would return a result one round stale
      // for any tolUpdates > 0 caller); at updates == 0 next == cur,
      // so skipping the assignment keeps the fixed-point algebra and
      // the round count the unrolled oracle replays
      if (updates > 0L) { cur = next; rounds += 1 }
      if (updates <= tolUpdates) settled = true
    }
    (cur, rounds)
  }

  /** INDEX MAINTENANCE for the graph — the crawl-loop accounting the
    * other standing indexes (MinHash/HashIndex/SemIndex/LM) follow:
    * fold a new-vector batch into an existing graph WITHOUT re-pairing
    * the old corpus. Candidates are the standing edges plus every
    * multi-probe pair with a NEW side (old↔old pairs outside the
    * standing top-k can never re-enter any top-k: adding vectors only
    * pushes them further down), so the result is EXACTLY
    * `build(old ∪ new, k)` under the standing coarse-quantizer
    * geometry — spec-pinned, and the shipped query's oracle IS the
    * full-rebuild oracle. Cost is O(batch · cell occupancy) + one
    * re-rank of touched sources, never O(corpus²).
    *
    * `oldEmb` must contain the geometry's seed ids (vec_id <
    * nCentroids) — the coarse quantizer is the published artifact and
    * does not move when a batch arrives.
    *
    * Cap note: [[build]]'s `cellCap` is a BUILD-time guard with no
    * extend counterpart by design. A cell that crosses the cap only
    * after extensions would, under a capped rebuild, lose its pairs
    * entirely — but extend can never retract standing edges (the
    * index is monotone), so `extend == build(union, cap)` cannot hold
    * and is deliberately not offered. The crawl loop's skew remedy is
    * the audit ([[graphCapAudit]] over the grown corpus) followed by
    * a scheduled capped REBUILD — the same periodic-compaction
    * accounting every monotone index follows.
    */
  def extend(oldEmb: DataFrame, newEmb: DataFrame, oldGraph: DataFrame,
             k: Int, nCentroids: Int = 16,
             checkDisjoint: Boolean = true): DataFrame = {
    val cents = Similarity.ivfCentroids(oldEmb, nCentroids)
    val all = oldEmb.unionByName(newEmb)
    // the disjoint-id guard RIDES the probe scan instead of running
    // its own standing-side job per fold (guide §1.2 — the r15 guard
    // job was the measured cost of the crawl twins): every standing
    // row's embedding evaluation first checks its id against the
    // broadcast batch-id set, and the probe pass below scans every
    // standing row eagerly (the half-pair checkpoint), so the guard
    // still fires AT fold time, with zero extra passes
    val oldGuarded =
      if (checkDisjoint)
        Guards.disjointIdsRide(oldEmb, "vec_id", "embedding",
          newEmb.select(col("vec_id")), "KnnGraph.extend")
      else oldEmb
    def probes(df: DataFrame) = df.select(col("vec_id"),
      explode(Similarity.ivfProbeCells(col("embedding"), cents, 2)).as("cell"))
    // probes(old) ∪ probes(new) == probes(old ∪ new): explode
    // distributes over union, and only the old side carries the guard
    val pAll = probes(oldGuarded).unionByName(probes(newEmb))
    val pNew = probes(newEmb)
    // ONE corpus-probe pass, not two: the (any→new) direction is
    // exactly the transpose of the (new→any) direction ({(a,b): a∈new,
    // b∈all, shared cell, a≠b} swapped), so computing the half once
    // and unioning its swap halves the fold's dominant term — the
    // per-batch scan of the corpus probe set (guide §1.2 step 1:
    // don't compute things twice). The BATCH side broadcasts into the
    // cell join: the corpus probes are scanned map-side, never
    // shuffled for the batch (guide §3.1).
    val newHalf = pAll.select(col("cell"), col("vec_id").as("dst"))
      .join(broadcast(pNew.select(col("cell"), col("vec_id").as("src"))),
        Seq("cell"))
      .filter(col("src") =!= col("dst"))
      .select(col("src"), col("dst"))
    // Re-rank ONLY batch-touched sources. A source with no new
    // candidate pair has exactly the standing candidate set, so its
    // top-k rows (scores AND ranks — round-6 cosine is deterministic)
    // pass through verbatim; re-ranking them anyway made every fold
    // pay a corpus-sized distinct + double embedding join + window
    // (O(corpus) per batch in the crawl loop). `touched` is
    // batch-bounded (batch × cell occupancy), so the standing-edge
    // split is a broadcast semi/anti pair — the corpus-sized edge
    // table is scanned, never shuffled or sorted.
    // batch-bounded rows; eagerly pinned because it feeds BOTH the
    // touched-source split and the re-rank candidates (one compute),
    // and a lazy checkpoint here NPEs Spark 4.1's AQE resetMetrics
    // when the standing side is a fresh parquet read
    val halfP = newHalf.localCheckpoint()
    val newPairsP = halfP.unionByName(
      halfP.select(col("dst").as("src"), col("src").as("dst")))
    val touched = newPairsP.select(col("src")).distinct()
    // standing edges KEEP their scores through the re-rank: round-6
    // cosine is deterministic, so re-joining the embedding table to
    // recompute them is pure waste (guide §1.2 — don't compute things
    // twice). Only the batch-bounded NEW pairs pay the two embedding
    // joins; the union then takes one window per touched source. The
    // two candidate sides are disjoint by construction (every new
    // pair has a batch-id member; standing edges never do), so the
    // per-side dedup equals the former union-then-distinct.
    val standingTouched = oldGraph
      .join(broadcast(touched), Seq("src"), "left_semi")
      .select(col("src"), col("dst"), col("score"))
    val untouched = oldGraph
      .join(broadcast(touched), Seq("src"), "left_anti")
      .select(col("src"), col("dst"), col("score"), col("rank"))
    val newScored = newPairsP.distinct()
      .join(all.select(col("vec_id").as("src"), col("embedding").as("se")),
        Seq("src"))
      .join(all.select(col("vec_id").as("dst"), col("embedding").as("de")),
        Seq("dst"))
      .select(col("src"), col("dst"),
        round(Similarity.cosine(col("se"), col("de")), 6).as("score"))
    val w = Window.partitionBy(col("src"))
      .orderBy(col("score").desc, col("dst").asc)
    standingTouched.unionByName(newScored)
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .unionByName(untouched)
  }

  /** Beam search over a k-NN graph for a broadcast-sized query set:
    * per query, start at its nearest seed centroid's node, then
    * `rounds` times expand the frontier's out-edges, score every
    * candidate against the query, and keep the best `beam` nodes
    * (frontier ∪ neighbors — monotone: a best-so-far node is never
    * lost). Returns the final frontier's top `k` per query:
    * (query_id, vec_id, score, rank).
    *
    * SCOPE, from the ×64 recall curves (BASELINE.md r12): the
    * graph family's scale strength is the EDGE ARTIFACT for
    * corpus-member queries — on cluster-structured data the
    * [[refineToConvergence]]d graph's own out-edges hit recall 1.000
    * through ×64 (clusters, hubness, semantic dedup, kNN joins read
    * it directly). Single-layer beam search for OUT-OF-CORPUS queries
    * is entry-coverage-bound (see [[beamSearchSampled]]): recall
    * tracks the fraction of clusters the entries reach, so at large n
    * either pay entry coverage (smaller `entryStep`), use the
    * oracle-backed IVF path (`Similarity.ivfTopKBatch` — the
    * out-of-corpus workhorse: measured 0.81–1.0 recall@5 through ×64
    * on structured data, trained quantizer + multi-probe), or
    * add the full HNSW log-n hierarchy (the known upgrade; not built
    * because IVF already serves that workload here). On iid-random
    * vectors every sublinear method including IVF degrades — that
    * curve is recorded as the honest worst case, not a target.
    *
    * Scale shape: the frontier is |queries|·beam rows — broadcast on
    * every round's edge join, so the corpus-sized edge table never
    * shuffles; per-round scoring joins |frontier|·k candidate ids
    * back to the embedding table by vec_id (bucket-friendly). Query
    * nodes themselves are excluded from candidacy (the ANN-query
    * convention of the other E2 paths).
    */
  def beamSearch(embeddings: DataFrame, graph: DataFrame, queries: DataFrame,
                 k: Int, beam: Int = 8, rounds: Int = 3,
                 nCentroids: Int = 16): DataFrame = {
    require(k <= beam, s"k ($k) must not exceed the beam width ($beam)")
    // Seed ids AND vectors in one bounded collect: the probe kernel
    // returns a CELL INDEX into the (possibly compacted) centroid
    // array — when a seed id is absent, `ivfCentroids` compacts, so
    // the index is NOT a vec_id. Resolve entry nodes through the
    // actual seed-id array (same filter + order as ivfCentroids, so
    // the geometries are identical); a cast-to-vec_id shortcut would
    // silently drop queries whose entry resolved to a missing node.
    val seeds = embeddings.filter(col("vec_id") < nCentroids)
      .orderBy(col("vec_id"))
      .select(col("vec_id"), col("embedding")).collect()
    require(seeds.nonEmpty,
      s"beamSearch needs at least one seed vector with vec_id < $nCentroids")
    val cents = seeds.map(_.getSeq[Float](1).map(_.toDouble).toArray)
    val seedIds = seeds.map(_.getLong(0)).toSeq
    // entries: the query's top-2 centroid nodes (the IVF probe kernel,
    // so the oracle's cscore CTE replays the choice) — two entries so
    // a query that IS a centroid node still has one after the
    // self-exclusion below
    val q = queries.select(col("query_id"), col("embedding").as("q_emb"))
    val entries = queries
      .select(col("query_id"),
        explode(Similarity.ivfProbeCells(col("embedding"), cents, 2)).as("ent"))
      .select(col("query_id"),
        element_at(typedLit(seedIds), col("ent") + 1).as("vec_id"))
      .filter(col("vec_id") =!= col("query_id"))
      .join(broadcast(q), Seq("query_id"))
    // pinEntries = true: the centroid-entry lineage is BOTH the
    // constraint-scrub case (element_at alias over non-nullable
    // inputs) and expensive to re-evaluate — round 1 references the
    // entry frame twice, and an unpinned centroid-entry subtree
    // (typedLit seed array + probe kernel + scoring join) measured
    // 2x on the graph-probe twin. The sampled/layered paths, whose
    // entries are cheap live plans, skip the pin instead.
    topRanked(beamFrontier(embeddings, graph, scoreWithQ(embeddings, entries),
      beam, rounds, pinEntries = true), k)
  }

  /** [[beamSearch]] with a SAMPLED-ENTRY upper layer — the HNSW
    * hierarchy compressed to one deterministic level. Entry nodes are
    * the query's top-2 of the `vec_id % entryStep == 0` sample
    * (exactly scored — corpus/entryStep rows per query, the
    * broadcast-query scan an upper layer replaces with a walk), then
    * the usual layer-0 beam rounds.
    *
    * WHY (measured, ×64 recall curves, BASELINE.md r12): single-layer
    * beam recall is ENTRY-COVERAGE-bound. On cluster-structured data
    * (the regime real embeddings live in) the measured recall ≈ the
    * fraction of clusters the entry set can reach — centroid entries
    * give ≈ nCentroids/#clusters (0.313 flat, = 16f/(50f) coverage),
    * a √n sample gives ≈ √n/#clusters (0.93 at ×4 → 0.06 at ×64).
    * `entryStep` is therefore the recall/cost dial: corpus/entryStep
    * rows scanned per query, recall ∝ that coverage. Every step stays
    * a total order (the oracle replays sample scan + unrolled rounds
    * verbatim). See [[beamSearch]]'s scaladoc for when to prefer the
    * IVF path instead.
    */
  def beamSearchSampled(embeddings: DataFrame, graph: DataFrame,
                        queries: DataFrame, k: Int, beam: Int = 8,
                        rounds: Int = 3, entryStep: Long = 16L): DataFrame = {
    require(k <= beam, s"k ($k) must not exceed the beam width ($beam)")
    require(entryStep >= 1, s"entryStep must be positive, got $entryStep")
    topRanked(beamFrontier(embeddings, graph,
      sampledEntries(embeddings, queries, entryStep), beam, rounds,
      pinEntries = false), k)
  }

  /** Exact integer power (layer step spacing). */
  private def lpow(base: Long, exp: Int): Long = {
    var r = 1L; var i = 0
    while (i < exp) { r = r * base; i += 1 }
    r
  }

  /** Exact top-2 of the `vec_id % step == 0` sample per query — the
    * shared entry scan of [[beamSearchSampled]] (step = entryStep)
    * and [[beamSearchLayered]] (step = entryStep^nLayers, where the
    * hierarchy makes the scanned sample geometrically smaller).
    * Output is a SCORED frontier (query_id, vec_id, score, q_emb):
    * the entry scores are already exact, so the walk never re-scores
    * them, and q_emb riding along means the whole descent makes no
    * further query-set join (guide §2.4 — the scan's join IS the one
    * exchange-free attach point).
    */
  private def sampledEntries(embeddings: DataFrame, queries: DataFrame,
                             step: Long): DataFrame =
    embeddings
      .filter(pmod(col("vec_id"), lit(step)) === 0)
      .select(col("vec_id"), col("embedding"))
      .join(broadcast(queries.select(col("query_id"),
        col("embedding").as("q_emb"))), col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"),
        round(Similarity.cosine(col("embedding"), col("q_emb")), 6).as("score"),
        col("q_emb"))
      .withColumn("rn", row_number().over(Window.partitionBy(col("query_id"))
        .orderBy(col("score").desc, col("vec_id").asc)))
      .filter(col("rn") <= 2)
      .select(col("query_id"), col("vec_id"), col("score"), col("q_emb"))

  /** The MULTI-LEVEL graph artifact — HNSW's log-n hierarchy
    * (Malkov & Yashunin 2016) in the repo's deterministic sampling
    * frame: `layers(0)` is the layer-0 graph over the full corpus;
    * `layers(ℓ)` is a k-NN graph over the nested sample
    * `vec_id % entryStep^ℓ == 0` (each layer's node set ⊆ the layer
    * below, exactly HNSW's level assignment with the random level
    * replaced by the id-deterministic one — replayable, and at scale
    * a pure partition-pruning predicate on the bucketed embedding
    * table). Upper-layer edges are LONG-RANGE by construction: a
    * sample with ≪ one node per neighborhood wires distant regions,
    * which is what lets a walk descend to the right region before
    * the dense layer-0 hops.
    */
  /** `k`/`nCentroids` ride along (the [[GraphArtifact]] convention):
    * they are the BASE geometry [[extendLayered]] must maintain under
    * — layer ℓ's own build bound derives from them
    * (`nCentroids · entryStep^ℓ`), so the pair is the whole manifest.
    */
  final case class LayeredGraph(layers: Seq[DataFrame], entryStep: Long,
                                k: Int, nCentroids: Int)

  /** Build the upper layers over an existing layer-0 graph (the
    * session-shared artifact — one base build serves flat AND layered
    * consumers). Layer ℓ's cell-blocked build keeps the base
    * geometry's cell POPULATION: the seed-id bound scales by the
    * sample spacing (`nCentroids · entryStep^ℓ`), so the sample holds
    * ~nCentroids seeds and per-cell work stays bounded layer by
    * layer. Upper layers are geometrically small (corpus/step^ℓ) —
    * the whole hierarchy costs a constant factor over layer 0.
    */
  def buildLayered(embeddings: DataFrame, baseGraph: DataFrame, k: Int,
                   nCentroids: Int = 16, entryStep: Long = 16L,
                   nLayers: Int = 1,
                   cacheKey: Option[String] = None): LayeredGraph = {
    require(nLayers >= 1, s"nLayers must be >= 1, got $nLayers")
    require(entryStep >= 2, s"entryStep must be >= 2, got $entryStep")
    val uppers = (1 to nLayers).map { l =>
      def mk = buildUpperLayer(embeddings, k, nCentroids, entryStep, l)
      cacheKey match {
        // upper layers are write-once artifacts like the base edge
        // table — one build per (session, corpus, geometry, layer)
        case Some(src) => SessionArtifactCache.getOrBuild(
          embeddings.select(col("vec_id"), col("embedding")),
          tag = s"knn_graph_l$l:$src",
          params = s"k=$k,nc=$nCentroids,step=$entryStep") { mk }
        case None => mk
      }
    }
    LayeredGraph(baseGraph +: uppers, entryStep, k, nCentroids)
  }

  /** Layer ℓ ≥ 1 of the hierarchy: a k-NN graph over the nested
    * deterministic sample, with the base geometry's cell POPULATION
    * preserved (the seed-id bound scales by the sample spacing). The
    * single definition [[buildLayered]] and [[extendLayered]] both
    * call — extend-by-rebuild equals the full build by construction,
    * and the spec pins it.
    */
  private def buildUpperLayer(embeddings: DataFrame, k: Int, nCentroids: Int,
                              entryStep: Long, l: Int): DataFrame = {
    val stepL = lpow(entryStep, l)
    val bound = math.min(nCentroids.toLong * stepL, Int.MaxValue.toLong).toInt
    build(embeddings.filter(pmod(col("vec_id"), lit(stepL)) === 0),
      k, nCentroids = bound)
  }

  /** Persist a [[LayeredGraph]]: per-layer edge parquet + a geometry
    * manifest (the [[saveGraph]] shape) — entryStep and layer count
    * included, so a loaded hierarchy probes under exactly the
    * geometry it was built with.
    */
  def saveLayered(lg: LayeredGraph, path: String): Unit = {
    lg.layers.zipWithIndex.foreach { case (edges, l) =>
      edges.write.mode("overwrite").parquet(s"$path/layer$l/edges")
    }
    java.nio.file.Files.write(
      java.nio.file.Paths.get(path, "params.json"),
      (s"""{"k":${lg.k},"nCentroids":${lg.nCentroids},""" +
        s""""entryStep":${lg.entryStep},"nLayers":${lg.layers.size - 1}}""")
        .getBytes("UTF-8"))
  }

  /** Load a persisted [[LayeredGraph]]; refuses a manifest missing
    * any geometry field (a hierarchy descended with the wrong
    * entryStep would scan the wrong top sample and hand off between
    * the wrong layers).
    */
  def loadLayered(spark: org.apache.spark.sql.SparkSession,
                  path: String): LayeredGraph = {
    val txt = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(path, "params.json")), "UTF-8")
    def longOf(key: String): Long = {
      val m = s""""$key"\\s*:\\s*(-?\\d+)""".r.findFirstMatchIn(txt)
      require(m.isDefined, s"params.json missing $key")
      m.get.group(1).toLong
    }
    val nLayers = longOf("nLayers").toInt
    LayeredGraph(
      (0 to nLayers).map(l => spark.read.parquet(s"$path/layer$l/edges")),
      longOf("entryStep"), longOf("k").toInt, longOf("nCentroids").toInt)
  }

  /** INDEX MAINTENANCE for the hierarchy — [[extend]] applied PER
    * LAYER: layer 0 folds the whole batch; layer ℓ ≥ 1 folds only the
    * batch's nested sample (`vec_id % entryStep^ℓ == 0`) into the
    * standing layer under that layer's own geometry (seed bound
    * `nCentroids · entryStep^ℓ`, the [[buildUpperLayer]] contract).
    * Provably == [[buildLayered]] over the union at EVERY layer: the
    * layer-ℓ hierarchy member is by definition `build(sampledℓ(all))`,
    * and `extend(sampledℓ(old), sampledℓ(new), buildℓ(old)) ==
    * build(sampledℓ(all))` is exactly the flat spec-pinned
    * `extend == build(union)` contract instantiated in the sampled id
    * space — spec-pinned end to end at two split points.
    *
    * Cost — the crawl-loop accounting that makes the hierarchy's
    * maintenance O(batch) like every other standing index: layer ℓ
    * touches only batch/entryStep^ℓ new rows against its standing
    * edges (a geometric tail of the layer-0 fold), and a batch whose
    * sample at layer ℓ is EMPTY leaves that layer untouched — no job
    * at all, the common case for small micro-batches. The previous
    * shape (upper REBUILD over the full union) re-paired
    * corpus/entryStep^ℓ rows per call — a corpus-proportional term
    * this fold eliminates.
    *
    * Quantizer-motion guard: layer ℓ's coarse quantizer is the
    * sampled ids below its seed bound, so a batch whose sample adds
    * an id < `nCentroids · entryStep^ℓ` MOVES that layer's geometry —
    * the one case the flat contract cannot fold (its "seeds don't
    * move" precondition). Detected per layer with a limit-1 probe on
    * the (tiny) batch sample; such a layer is REBUILT over the union
    * (trivially == build). This is a warmup transient only: a crawl's
    * monotone ids stop landing under the bound once the corpus
    * outgrows `nCentroids · entryStep^nLayers` rows, after which
    * every batch takes the incremental path — the steady state the
    * cost claim above describes.
    */
  def extendLayered(oldEmb: DataFrame, newEmb: DataFrame,
                    lg: LayeredGraph,
                    checkDisjoint: Boolean = true): LayeredGraph = {
    val base = extend(oldEmb, newEmb, lg.layers(0), lg.k, lg.nCentroids,
      checkDisjoint)
    // a hierarchy with no upper layers has nothing to route — return
    // before the stats agg (whose head() on an empty aggregate list
    // would throw; the r15 advisor's finding)
    if (lg.layers.size == 1)
      return lg.copy(layers = Seq(base))
    // ONE batch-side stats pass for every layer's routing decision
    // (sampled-count + min sampled id per layer), replacing the former
    // per-layer limit(1) probes — 2·nLayers tiny jobs collapsed into
    // one batch-bounded aggregation (guide §1.2: fewer passes; the
    // batch is micro-batch-sized, so a full agg over it is cheaper
    // than several scan-until-found jobs' fixed overhead).
    val nLayers = lg.layers.size - 1
    val statAggs = (1 to nLayers).flatMap { l =>
      val stepL = lpow(lg.entryStep, l)
      val in = pmod(col("vec_id"), lit(stepL)) === 0
      Seq(count(when(in, 1)).as(s"n$l"),
        min(when(in, col("vec_id"))).as(s"m$l"))
    }
    val stats = newEmb.agg(statAggs.head, statAggs.tail: _*).head()
    val uppers = (1 to nLayers).map { l =>
      val stepL = lpow(lg.entryStep, l)
      val bound = math.min(lg.nCentroids.toLong * stepL, Int.MaxValue.toLong).toInt
      def sampled(df: DataFrame) =
        df.filter(pmod(col("vec_id"), lit(stepL)) === 0)
      val nNew = stats.getLong(2 * (l - 1))
      if (nNew == 0L) lg.layers(l) // batch adds no node here
      else {
        val oldS = sampled(oldEmb)
        val seedMoves = stats.getLong(2 * (l - 1) + 1) < bound
        // first nodes of the layer, or a batch that moves its
        // quantizer: rebuild (geometrically tiny, warmup-only)
        if (seedMoves || oldS.limit(1).isEmpty)
          buildUpperLayer(oldEmb.unionByName(newEmb), lg.k, lg.nCentroids,
            lg.entryStep, l)
        // the sampled fold inherits layer 0's disjointness verdict —
        // its ids are a subset of the already-checked batch
        else extend(sampled(oldEmb), sampled(newEmb), lg.layers(l), lg.k,
          bound, checkDisjoint = false)
      }
    }
    LayeredGraph(base +: uppers, lg.entryStep, lg.k, lg.nCentroids)
  }

  /** Beam search DOWN a [[LayeredGraph]] — the HNSW query loop: the
    * exact entry scan touches only the TOP sample
    * (corpus/entryStep^nLayers rows per query, geometrically cheaper
    * than [[beamSearchSampled]]'s single-level scan), then each layer
    * walks its graph from the layer above's best-2 and hands its
    * best-2 down; layer 0 returns the final top-k. Entry COVERAGE is
    * therefore set by the BOTTOM-MOST upper sample (corpus/entryStep)
    * while the scan cost is set by the top — the hierarchy's whole
    * point: a small entryStep's recall at a deep layer's cost. Every
    * step stays a total order (round-6 scores, (score, vec_id) ties),
    * so the unrolled oracle replays the full descent.
    */
  /** `handoff`: how many best nodes each layer seeds the next with
    * (HNSW's ef-per-layer dial). Measured (BASELINE.md r13, ×64
    * clustered): widening it 2→8 does NOT move recall — each layer's
    * keep-best frontier already converges to one neighborhood, so the
    * extra seeds are its near-duplicates. DEPTH is the real dial:
    * recall is set by the lowest layer whose sample the entry walk
    * reaches confidently (×64: depth 2 = 0.938, depth 3 = 0.650 vs
    * trained IVF 0.813 — pick depth so the top sample stays a few
    * thousand rows rather than pushing a third hop).
    */
  def beamSearchLayered(embeddings: DataFrame, lg: LayeredGraph,
                        queries: DataFrame, k: Int, beam: Int = 8,
                        rounds: Int = 3, handoff: Int = 2): DataFrame = {
    require(k <= beam, s"k ($k) must not exceed the beam width ($beam)")
    require(handoff >= 1 && handoff <= beam,
      s"handoff ($handoff) must be in [1, beam=$beam]")
    val nLayers = lg.layers.size - 1
    // the handoff carries its SCORES down (they are the same exact
    // round-6 cosines the next layer's entry scoring would recompute —
    // one embedding join + one query-set broadcast per LAYER removed)
    var frontier = beamFrontier(embeddings, lg.layers(nLayers),
      sampledEntries(embeddings, queries, lpow(lg.entryStep, nLayers)),
      beam, rounds, pinEntries = false)
    var l = nLayers - 1
    while (l >= 0) {
      val byQ = Window.partitionBy(col("query_id"))
        .orderBy(col("score").desc, col("vec_id").asc)
      // the handoff window is a live plan over the (pinned) previous
      // frontier — cheap to evaluate inside round 1, no scrub-pin
      // needed (see [[beamFrontier]])
      val entries = frontier
        .withColumn("rn", row_number().over(byQ))
        .filter(col("rn") <= handoff)
        .select(col("query_id"), col("vec_id"), col("score"), col("q_emb"))
      frontier = beamFrontier(embeddings, lg.layers(l), entries, beam, rounds,
        pinEntries = false)
      l -= 1
    }
    topRanked(frontier, k)
  }

  /** Score a bounded (query_id, vec_id, …, q_emb) row set: ONE join to
    * the embedding table by vec_id (bucket-friendly at scale; the
    * planner picks the strategy — locally AQE broadcasts the small
    * embedding table, and because that broadcast subtree is IDENTICAL
    * across the walk's rounds, exchange reuse builds it once per pin
    * query; an explicit broadcast of the per-round candidate rows was
    * measured WORSE for exactly that reason — it replaced one reused
    * build with a distinct build per round). No query-set join: q_emb
    * already rides the rows.
    */
  private def scoreWithQ(embeddings: DataFrame, rows: DataFrame): DataFrame =
    rows
      .join(embeddings.select(col("vec_id"), col("embedding")), Seq("vec_id"))
      .select(col("query_id"), col("vec_id"),
        round(Similarity.cosine(col("embedding"), col("q_emb")), 6).as("score"),
        col("q_emb"))

  /** Final ranked top-k of a scored frontier — the one window of the
    * whole walk (the per-round keep-best is the single-exchange agg in
    * [[keepBestBeam]]).
    */
  private def topRanked(frontier: DataFrame, k: Int): DataFrame = {
    val byQ = Window.partitionBy(col("query_id"))
      .orderBy(col("score").desc, col("vec_id").asc)
    frontier
      .withColumn("rank", row_number().over(byQ).cast("long"))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("vec_id"), col("score"), col("rank"))
  }

  /** Keep-best-beam in ONE exchange: group by query, sort the
    * (score, vec_id) structs by the walk's total order (score DESC,
    * vec_id ASC — the comparator mirrors the window ordering exactly,
    * including Spark's NaN-greatest and -0.0 < 0.0 double order),
    * dedup (scores are functional of (query_id, vec_id), so duplicate
    * candidates collapse on exact struct equality) and slice the top
    * `beam`. Replaces the former groupBy(query, vec) + window pair —
    * two exchanges and a per-round sort — with one hash aggregation
    * (guide §2.4: two operations keyed the same way share one
    * exchange; here they fuse into one operator outright).
    */
  private[ops] def keepBestBeam(rows: DataFrame, beam: Int): DataFrame = {
    // The sort key is PRECOMPUTED once per row in codegen and
    // array_sort runs its NATIVE struct ordering — a lambda
    // comparator evaluates an interpreted expression tree per
    // COMPARISON (O(m log m) per group per round; an isnan-armed
    // lambda variant measured visibly slower on the graph-probe
    // twin). Round-6 scores make the long mapping exact and
    // order-preserving: skey = -round(score*1e6), so ascending skey
    // IS score DESC, with ties falling to vec_id ASC — the window
    // order. NaN maps below every real key (= sorts first, the
    // window's NaN-greatest DESC order; the round-15 review finding —
    // codegen'd IEEE comparisons in the old lambda treated NaN as
    // unordered and fell through to the tiebreak). A +-0.0 score pair
    // keys equally and falls to the deterministic vec_id tiebreak —
    // exactly the old comparator's behavior (IEEE > and < are false
    // across +-0), kept as is.
    val skey = when(isnan(col("score")), lit(-2000001L))
      .otherwise(-round(col("score") * 1e6).cast("long"))
    rows
      .groupBy(col("query_id"))
      .agg(slice(array_distinct(array_sort(
          collect_list(struct(skey.as("k"), col("vec_id"), col("score"))))),
          1, beam).as("top"),
        // functional of query_id — every collected value is identical
        first(col("q_emb")).as("q_emb"))
      .select(col("query_id"), explode(col("top")).as("c"), col("q_emb"))
      .select(col("query_id"), col("c").getField("vec_id").as("vec_id"),
        col("c").getField("score").as("score"), col("q_emb"))
  }

  /** The shared walk loop over a SCORED entry frontier
    * (query_id, vec_id, score, q_emb): `rounds` broadcast-frontier
    * expansions with keep-best-beam; returns the final frontier (same
    * shape). The corpus-sized edge table never shuffles; per-round
    * scoring joins |frontier|·k candidate ids back to the embedding
    * table by vec_id (bucket-friendly). Query nodes are excluded from
    * candidacy (the ANN-query convention of the other E2 paths).
    *
    * The frontier is CHECKPOINTED every round (it is only
    * |queries|·beam rows): each round's plan references the previous
    * frontier twice (neighbor expansion + the keep-best union), so an
    * unbroken lineage doubles the plan per round — 2^rounds copies of
    * the entry scan and 2^(rounds−1) re-SCANS of the corpus-sized
    * edge table at execution (scans, unlike exchanges, are not
    * deduplicated by reuse). With the cut, the edge table is scanned
    * exactly once per round — the cost model the scaladoc states.
    */
  private def beamFrontier(embeddings: DataFrame, graph: DataFrame,
                           entries: DataFrame, beam: Int,
                           rounds: Int, pinEntries: Boolean): DataFrame = {
    // checkpoint + CONSTRAINT SCRUB for every keep-best union child:
    // localCheckpoint's LogicalRDD snapshots the origin plan's
    // constraints, and a snapshot can reference attributes the plan
    // projected away (seen with the centroid-entry lineage's
    // element_at alias on non-nullable inputs) — the union's
    // constraint rewrite then dies with NoSuchElementException in
    // PruneFilters. Rebuilding the frame from the materialized RDD
    // yields a constraint-free leaf; the frames are |queries|·beam·k
    // rows, so the extra row round-trip is noise.
    //
    // pinEntries = false (the sampled/layered entry paths): the entry
    // frame is a LIVE plan over pinned or source frames — no
    // constraint snapshot to scrub, and skipping the eager entry pin
    // drops one checkpoint job per beamFrontier call (three per
    // layered descent; guide §1.2). Round 1 evaluates the entry
    // subtree twice (candidate expansion + keep-best union) inside
    // one job — the subtree is |queries|·handoff rows over a pinned
    // frontier, or the top sample scan, and AQE reuses its identical
    // exchange stages. The centroid-entry path (beamSearch) keeps the
    // pin: its element_at lineage is the scrub's reason to exist.
    def pinned(df: DataFrame): DataFrame = {
      val ck = df.localCheckpoint()
      ck.sparkSession.createDataFrame(ck.rdd, ck.schema)
    }
    var frontier = if (pinEntries) pinned(entries) else entries
    var i = 0
    while (i < rounds) {
      // the candidate expansion+scoring (the broadcast joins — see
      // [[beamCandidates]]) stays LAZY into the keep-best union: its
      // constraints derive from a live plan over the scrubbed frontier
      // leaf (only LogicalRDD snapshots carried the stale projected-
      // away references), it is consumed exactly once, and skipping
      // the eager pin halves the round's checkpoint jobs — measured
      // 1.25x on the layered descent at sf0.1.
      //
      // Measured dead end, r16: folding ALL rounds into one pinned
      // query per walk (relying on AQE exchange reuse for the
      // per-round dedup) cut jobs 49 → 41 per layered probe batch but
      // REGRESSED q_graph_ann_layered 3.9 → 5.2 s in-suite — the
      // deeper adaptive query re-plans more per stage than the saved
      // checkpoints cost. Per-round pins stay.
      val cand = beamCandidates(embeddings, graph, frontier)
      frontier = pinned(keepBestBeam(cand.unionByName(frontier), beam))
      i += 1
    }
    frontier
  }

  /** ONE round's candidate expansion + scoring, un-checkpointed — the
    * per-round plan [[beamFrontier]] pins its cost model on: the
    * frontier (|queries|·beam rows, carrying q_emb) BROADCASTS into
    * the edge join, so the corpus-sized edge table never shuffles;
    * candidate scoring joins frontier·k candidate ids back to the
    * embedding table by vec_id. Candidates are NOT deduplicated here —
    * scores are functional, so [[keepBestBeam]]'s exact-struct dedup
    * absorbs the ≤ beam·k-per-query duplicates without the extra
    * exchange a distinct would cost. Package-private so the broadcast
    * shape is plan-pinnable in specs (the checkpointed loop's final
    * plan is just a checkpoint read and can't carry the assertion).
    */
  private[ops] def beamCandidates(embeddings: DataFrame, graph: DataFrame,
                                  frontier: DataFrame): DataFrame = {
    // the frontier (|queries|·beam rows) broadcasts; the corpus-
    // sized edge table stays put — one map-side join per round
    val neighbors = graph.select(col("src").as("vec_id"), col("dst"))
      .join(broadcast(frontier.select(col("query_id"), col("vec_id"),
        col("q_emb"))), Seq("vec_id"))
      .select(col("query_id"), col("dst").as("vec_id"), col("q_emb"))
      .filter(col("vec_id") =!= col("query_id"))
    scoreWithQ(embeddings, neighbors)
  }
}
