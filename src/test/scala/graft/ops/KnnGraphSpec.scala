package graft.ops

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.{SparkTestSession, Tables}

/** E2 graph family: k-NN graph build + beam search, cross-checked
  * against independent Scala replications of the exact contracts
  * (same index-order float math, same tie-breaks).
  */
class KnnGraphSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def r6(x: Double): Double =
    BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
  private def dot(a: Array[Double], b: Array[Double]): Double = {
    var s = 0.0; var i = 0
    while (i < a.length && i < b.length) { s += a(i) * b(i); i += 1 }
    s
  }
  private def cos(a: Array[Double], b: Array[Double]): Double =
    dot(a, b) / (math.sqrt(dot(a, a)) * math.sqrt(dot(b, b)))
  private def unitNorm(c: Array[Double]): Array[Double] = {
    val n = math.sqrt(c.map(x => x * x).sum)
    if (n == 0.0) c else c.map(_ / n)
  }

  private lazy val vecs: Map[Long, Array[Double]] =
    Tables.embeddings(spark, SparkTestSession.Sf)
      .select(col("vec_id"), col("embedding"))
      .as[(Long, Seq[Float])].collect()
      .map { case (id, e) => id -> e.map(_.toDouble).toArray }.toMap
  private lazy val cents: Array[Array[Double]] =
    vecs.filter(_._1 < 16).toSeq.sortBy(_._1).map(x => unitNorm(x._2)).toArray
  private def probe2(e: Array[Double]): Seq[Int] = {
    val scores = cents.map(c => dot(e, c))
    val first = scores.indices.minBy(i => (-scores(i), i))
    val rest = scores.indices.filter(_ != first)
    Seq(first, rest.minBy(i => (-scores(i), i)))
  }

  /** Independent brute force of KnnGraph.build(emb, 5): pairs sharing
    * any top-2 probe cell, round-6 cosine, (score DESC, dst) top-5
    * per src.
    */
  private lazy val bruteEdges: Map[Long, Seq[(Long, Double, Long)]] = {
    val probes = vecs.map { case (id, e) => id -> probe2(e).toSet }
    val byCell = probes.toSeq
      .flatMap { case (id, cs) => cs.map(c => c -> id) }
      .groupBy(_._1).map { case (c, xs) => c -> xs.map(_._2).toSet }
    vecs.map { case (src, se) =>
      val peers = probes(src).flatMap(byCell(_)) - src
      val ranked = peers.toSeq.map { dst => (dst, r6(cos(se, vecs(dst)))) }
        .sortBy { case (dst, s) => (-s, dst) }.take(5)
        .zipWithIndex.map { case ((dst, s), i) => (dst, s, (i + 1).toLong) }
      src -> ranked
    }
  }

  test("build equals the Scala brute-force cell-blocked top-5 at sf0.001") {
    val got = KnnGraph.build(Tables.embeddings(spark, SparkTestSession.Sf), k = 5)
      .orderBy("src", "rank")
      .as[(Long, Long, Double, Long)].collect().toSeq
    val expected = bruteEdges.toSeq.sortBy(_._1).flatMap { case (src, es) =>
      es.map { case (dst, s, r) => (src, dst, s, r) }
    }
    assert(got == expected)
    // every node with a non-singleton cell has out-edges
    assert(got.map(_._1).distinct.size == bruteEdges.count(_._2.nonEmpty))
  }

  test("beamSearch equals a Scala replay of the unrolled rounds") {
    val emb = Tables.embeddings(spark, SparkTestSession.Sf)
    val got = KnnGraph.beamSearch(emb, KnnGraph.build(emb, k = 5),
        emb.filter(col("vec_id") < 8)
          .select(col("vec_id").as("query_id"), col("embedding")),
        k = 5, beam = 16, rounds = 4)
      .orderBy("query_id", "rank")
      .as[(Long, Long, Double, Long)].collect().toSeq
    val expected = (0L until 8L).flatMap { q =>
      val qe = vecs(q)
      var frontier = probe2(qe).map(_.toLong).filter(_ != q)
        .map(v => (v, r6(cos(vecs(v), qe))))
      for (_ <- 1 to 4) {
        val neigh = frontier.map(_._1)
          .flatMap(v => bruteEdges(v).map(_._1)).filter(_ != q).distinct
        val all = (frontier.map(_._1) ++ neigh).distinct
          .map(v => (v, r6(cos(vecs(v), qe))))
        frontier = all.sortBy { case (v, s) => (-s, v) }.take(16)
      }
      frontier.sortBy { case (v, s) => (-s, v) }.take(5)
        .zipWithIndex.map { case ((v, s), i) => (q, v, s, (i + 1).toLong) }
    }
    assert(got == expected)
    // the query node never ranks itself; ranks are dense from 1
    assert(got.forall { case (q, v, _, _) => q != v })
    got.groupBy(_._1).values.foreach { rs =>
      assert(rs.map(_._4).sorted == (1L to rs.size.toLong)) }
  }

  test("refine equals the Scala NN-Descent round; neighbor quality never degrades") {
    val emb = Tables.embeddings(spark, SparkTestSession.Sf)
    val got = KnnGraph.refine(emb, KnnGraph.build(emb, k = 5), k = 5)
      .orderBy("src", "rank")
      .as[(Long, Long, Double, Long)].collect().toSeq
    // independent replay: edges ∪ reverse ∪ two-hop, re-ranked
    val fwd = bruteEdges.map { case (s, es) => s -> es.map(_._1).toSet }
    val rev = bruteEdges.toSeq
      .flatMap { case (s, es) => es.map(e => e._1 -> s) }
      .groupBy(_._1).map { case (d, xs) => d -> xs.map(_._2).toSet }
    val expected = vecs.keys.toSeq.sorted.flatMap { src =>
      val hop2 = fwd(src).flatMap(fwd(_))
      val cand = (fwd(src) ++ rev.getOrElse(src, Set.empty) ++ hop2) - src
      cand.toSeq.map(d => (d, r6(cos(vecs(src), vecs(d)))))
        .sortBy { case (d, s) => (-s, d) }.take(5)
        .zipWithIndex.map { case ((d, s), i) => (src, d, s, (i + 1).toLong) }
    }
    assert(got == expected)
    // monotone: per src, the refined score multiset dominates the
    // original (candidates are a superset of the current edges)
    val newBySrc = got.groupBy(_._1)
    bruteEdges.foreach { case (src, es) =>
      val olds = es.map(_._2).sorted.reverse
      val news = newBySrc.getOrElse(src, Seq.empty).map(_._3).sorted.reverse
      olds.zip(news).foreach { case (o, n) =>
        assert(n >= o, s"src $src: refined rank scored below original") }
    }
  }

  test("extend == build on the union: the old corpus is never re-paired, the answer is identical") {
    val emb = Tables.embeddings(spark, SparkTestSession.Sf)
    val old = emb.filter(col("vec_id") < 250)
    val incr = KnnGraph.extend(old, emb.filter(col("vec_id") >= 250),
        KnnGraph.build(old, k = 5), k = 5)
      .orderBy("src", "rank")
      .as[(Long, Long, Double, Long)].collect().toSeq
    val full = KnnGraph.build(emb, k = 5)
      .orderBy("src", "rank")
      .as[(Long, Long, Double, Long)].collect().toSeq
    assert(incr == full)
    // and a different split point gives the same answer — the fold-in
    // order is invisible
    val old2 = emb.filter(col("vec_id") < 400)
    val incr2 = KnnGraph.extend(old2, emb.filter(col("vec_id") >= 400),
        KnnGraph.build(old2, k = 5), k = 5)
      .orderBy("src", "rank")
      .as[(Long, Long, Double, Long)].collect().toSeq
    assert(incr2 == full)
  }

  test("beamSearchSampled equals a Scala replay with sampled-top-2 entries") {
    val emb = Tables.embeddings(spark, SparkTestSession.Sf)
    val got = KnnGraph.beamSearchSampled(emb, KnnGraph.build(emb, k = 5),
        emb.filter(col("vec_id") < 8)
          .select(col("vec_id").as("query_id"), col("embedding")),
        k = 5, beam = 16, rounds = 4, entryStep = 5L)
      .orderBy("query_id", "rank")
      .as[(Long, Long, Double, Long)].collect().toSeq
    val expected = (0L until 8L).flatMap { q =>
      val qe = vecs(q)
      val sample = vecs.keys.filter(v => v % 5 == 0 && v != q).toSeq
      var frontier = sample.map(v => (v, r6(cos(vecs(v), qe))))
        .sortBy { case (v, s) => (-s, v) }.take(2)
      for (_ <- 1 to 4) {
        val neigh = frontier.map(_._1)
          .flatMap(v => bruteEdges(v).map(_._1)).filter(_ != q).distinct
        val all = (frontier.map(_._1) ++ neigh).distinct
          .map(v => (v, r6(cos(vecs(v), qe))))
        frontier = all.sortBy { case (v, s) => (-s, v) }.take(16)
      }
      frontier.sortBy { case (v, s) => (-s, v) }.take(5)
        .zipWithIndex.map { case ((v, s), i) => (q, v, s, (i + 1).toLong) }
    }
    assert(got == expected)
  }

  test("beamSearchSampled: a one-node sample still answers every query (walk recovers)") {
    // entryStep beyond the max vec_id samples only node 0: every
    // query enters there and the walk must still return k ranked
    // results per query (monotone keep-best never loses the entry)
    val emb = Tables.embeddings(spark, SparkTestSession.Sf)
    val got = KnnGraph.beamSearchSampled(emb, KnnGraph.build(emb, k = 5),
        emb.filter(col("vec_id") >= 1 && col("vec_id") < 9)
          .select(col("vec_id").as("query_id"), col("embedding")),
        k = 5, beam = 16, rounds = 4, entryStep = 1000000L)
      .as[(Long, Long, Double, Long)].collect().toSeq
    assert(got.map(_._1).distinct.size == 8, "every query answered")
    got.groupBy(_._1).values.foreach { rs =>
      assert(rs.map(_._4).sorted == (1L to rs.size.toLong) && rs.size == 5)
    }
  }

  test("refineToConvergence reaches a true fixed point and equals the unrolled rounds") {
    val emb = Tables.embeddings(spark, SparkTestSession.Sf)
    val seed = KnnGraph.build(emb, k = 5)
    val (settled, rounds) = KnnGraph.refineToConvergence(emb, seed, k = 5,
      maxRounds = 10)
    val settledRows = settled.orderBy("src", "rank")
      .as[(Long, Long, Double, Long)].collect().toSeq
    // (a) the result IS a fixed point: one more refine changes nothing
    val once = KnnGraph.refine(emb, settled, k = 5).orderBy("src", "rank")
      .as[(Long, Long, Double, Long)].collect().toSeq
    assert(once == settledRows, "converged graph changed under one more refine")
    // (b) it equals refine applied `rounds` times to the seed — the
    // driver applies exactly the rounds it reports
    var unrolled = seed
    for (_ <- 1 to rounds)
      unrolled = KnnGraph.refine(emb, unrolled, k = 5).localCheckpoint()
    assert(unrolled.orderBy("src", "rank")
      .as[(Long, Long, Double, Long)].collect().toSeq == settledRows)
    // (c) monotone per-node quality vs the seed graph
    val seedBySrc = seed.orderBy("src", "rank")
      .as[(Long, Long, Double, Long)].collect().toSeq.groupBy(_._1)
    val newBySrc = settledRows.groupBy(_._1)
    seedBySrc.foreach { case (src, es) =>
      val olds = es.map(_._3).sorted.reverse
      val news = newBySrc.getOrElse(src, Seq.empty).map(_._3).sorted.reverse
      olds.zip(news).foreach { case (o, n) =>
        assert(n >= o, s"src $src: converged rank scored below seed") }
    }
    assert(rounds < 10, "fixture did not converge within the round cap")
  }

  test("hot-cell cap drops exactly the over-cap cells' pairs; the audit flags them") {
    val emb = Tables.embeddings(spark, SparkTestSession.Sf)
    // pick a cap that splits the cell-population distribution so the
    // over-cap arm is actually exercised on the fixture
    val pops = KnnGraph.graphCapAudit(emb, nCentroids = 16, cellCap = 1L)
      .as[(Long, Long, Boolean)].collect().map(r => r._1 -> r._2).toMap
    val cap = pops.values.toSeq.sorted.apply(pops.size / 2).toLong
    val hot = pops.filter(_._2 > cap).keys.map(_.toInt).toSet
    assert(hot.nonEmpty && hot.size < pops.size, "cap must split the cells")
    // audit agrees with the chosen cap
    val audit = KnnGraph.graphCapAudit(emb, nCentroids = 16, cellCap = cap)
      .as[(Long, Long, Boolean)].collect()
    assert(audit.forall { case (c, n, f) => f == (n > cap) })
    assert(audit.count(_._3) == hot.size)
    // capped build == brute force with over-cap cells removed from the
    // blocking (nodes still pair through their surviving probe cells)
    val got = KnnGraph.build(emb, k = 5, cellCap = Some(cap))
      .orderBy("src", "rank")
      .as[(Long, Long, Double, Long)].collect().toSeq
    val probes = vecs.map { case (id, e) => id -> (probe2(e).toSet -- hot) }
    val byCell = probes.toSeq
      .flatMap { case (id, cs) => cs.map(c => c -> id) }
      .groupBy(_._1).map { case (c, xs) => c -> xs.map(_._2).toSet }
    val expected = vecs.toSeq.sortBy(_._1).flatMap { case (src, se) =>
      val peers = probes(src).flatMap(byCell(_)) - src
      peers.toSeq.map { dst => (dst, r6(cos(se, vecs(dst)))) }
        .sortBy { case (dst, s) => (-s, dst) }.take(5)
        .zipWithIndex.map { case ((dst, s), i) => (src, dst, s, (i + 1).toLong) }
    }
    assert(got == expected)
    assert(got.size < bruteEdges.values.map(_.size).sum,
      "capping the hot cells must actually remove edges on this fixture")
  }

  test("sharedGraph: one build per (session, corpus, params); params never alias") {
    val emb = Tables.embeddings(spark, SparkTestSession.Sf)
    val a = KnnGraph.sharedGraph(emb, k = 5, cacheKey = Some("spec"))
    val b = KnnGraph.sharedGraph(emb, k = 5, cacheKey = Some("spec"))
    // the SAME memoized artifact object — consumers literally share
    // one materialized build, the one-build-many-consumers contract
    assert(a eq b)
    // different params → different artifact, never aliased
    val c = KnnGraph.sharedGraph(emb, k = 3, cacheKey = Some("spec"))
    assert(!(c eq a))
    // and the artifact equals a fresh uncached build row-for-row
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("src", "rank").as[(Long, Long, Double, Long)].collect().toSeq
    assert(rows(a) == rows(KnnGraph.build(emb, k = 5)))
    assert(rows(c) == rows(KnnGraph.build(emb, k = 3)))
  }

  test("saveGraph/loadGraph round-trips bitwise; the loaded graph probes and extends identically") {
    val emb = Tables.embeddings(spark, SparkTestSession.Sf)
    val old = emb.filter(col("vec_id") < 250)
    val built = KnnGraph.build(old, k = 5)
    val dir = java.nio.file.Files.createTempDirectory("knn_graph_art").toString
    KnnGraph.saveGraph(KnnGraph.GraphArtifact(built, 5, 16), dir)
    val loaded = KnnGraph.loadGraph(spark, dir)
    assert(loaded.k == 5 && loaded.nCentroids == 16)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("src", "dst", "score", "rank").orderBy("src", "rank")
        .as[(Long, Long, Double, Long)].collect().toSeq
    assert(rows(loaded.edges) == rows(built))
    // probes identically
    val q = old.filter(col("vec_id") < 4)
      .select(col("vec_id").as("query_id"), col("embedding"))
    assert(
      KnnGraph.beamSearch(old, loaded.edges, q, k = 3, beam = 8, rounds = 2,
          nCentroids = loaded.nCentroids)
        .orderBy("query_id", "rank")
        .as[(Long, Long, Double, Long)].collect().toSeq ==
      KnnGraph.beamSearch(old, built, q, k = 3, beam = 8, rounds = 2)
        .orderBy("query_id", "rank")
        .as[(Long, Long, Double, Long)].collect().toSeq)
    // keeps extending: fold-in over the LOADED artifact == full rebuild
    assert(
      rows(KnnGraph.extend(old, emb.filter(col("vec_id") >= 250),
        loaded.edges, loaded.k, loaded.nCentroids)) ==
      rows(KnnGraph.build(emb, k = 5)))
  }

  test("saveLayered/loadLayered round-trips; the loaded hierarchy probes identically") {
    val emb = Tables.embeddings(spark, SparkTestSession.Sf)
      .select(col("vec_id"), col("embedding"))
    val lg = KnnGraph.buildLayered(emb, KnnGraph.build(emb, k = 5),
      k = 5, nCentroids = 16, entryStep = 4L, nLayers = 2)
    val dir = java.nio.file.Files.createTempDirectory("knn_layered_art").toString
    KnnGraph.saveLayered(lg, dir)
    val loaded = KnnGraph.loadLayered(spark, dir)
    assert(loaded.entryStep == 4L && loaded.k == 5 &&
      loaded.nCentroids == 16 && loaded.layers.size == 3)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("src", "dst", "score", "rank").orderBy("src", "rank")
        .as[(Long, Long, Double, Long)].collect().toSeq
    lg.layers.zip(loaded.layers).foreach { case (a, b) =>
      assert(rows(a) == rows(b)) }
    // the persisted hierarchy serves the descent bit-identically
    val q = emb.filter(col("vec_id") < 6)
      .select(col("vec_id").as("query_id"), col("embedding"))
    def probe(g: KnnGraph.LayeredGraph) =
      KnnGraph.beamSearchLayered(emb, g, q, k = 5, beam = 16, rounds = 3)
        .orderBy("query_id", "rank")
        .as[(Long, Long, Double, Long)].collect().toSeq
    assert(probe(loaded) == probe(lg))
    // manifest hygiene: a manifest missing its geometry refuses to load
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(dir, "params.json"), """{"k":5}""")
    val e = intercept[IllegalArgumentException] {
      KnnGraph.loadLayered(spark, dir) }
    assert(e.getMessage.contains("params.json missing"))
  }

  test("extendLayered == buildLayered on the union at two split points (uppers never stale)") {
    val emb = Tables.embeddings(spark, SparkTestSession.Sf)
      .select(col("vec_id"), col("embedding"))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("src", "dst", "score", "rank").orderBy("src", "rank")
        .as[(Long, Long, Double, Long)].collect().toSeq
    val full = KnnGraph.buildLayered(emb, KnnGraph.build(emb, k = 5),
      k = 5, nCentroids = 16, entryStep = 4L, nLayers = 2)
    // cut 100 exercises the quantizer-motion REBUILD arm at layer 2
    // (batch sampled ids 112..240 land under its seed bound 256) with
    // layer 1 still incremental; cuts 250/400 are pure steady-state
    // incremental folds at every layer
    for (cut <- Seq(100L, 250L, 400L)) {
      val old = emb.filter(col("vec_id") < cut)
      val batch = emb.filter(col("vec_id") >= cut)
      val ext = KnnGraph.extendLayered(old, batch,
        KnnGraph.buildLayered(old, KnnGraph.build(old, k = 5),
          k = 5, nCentroids = 16, entryStep = 4L, nLayers = 2))
      assert(ext.layers.size == full.layers.size &&
        ext.entryStep == 4L && ext.k == 5 && ext.nCentroids == 16)
      // every layer by extend == build(union) (sampled-space fold, or
      // the rebuild arm when the batch moves the layer's quantizer) —
      // in particular NEW ids divisible by 4^ℓ must be present in
      // their layer (the staleness a layer-0-only fold would leave)
      ext.layers.zip(full.layers).foreach { case (a, b) =>
        assert(rows(a) == rows(b), s"cut $cut: layer mismatch") }
      val newUpper = ext.layers(1).select("src").as[Long].collect().toSet
      assert(batch.filter(col("vec_id") % 4 === 0)
        .select("vec_id").as[Long].collect().toSet.subsetOf(newUpper),
        s"cut $cut: batch ids missing from layer 1")
    }
    // a batch whose sample at a layer is EMPTY leaves the standing
    // frame itself in place (reference identity — the no-job fast
    // path the O(batch) crawl-loop claim rests on)
    val old497 = emb.filter(col("vec_id") < 497)
    val lg497 = KnnGraph.buildLayered(old497, KnnGraph.build(old497, k = 5),
      k = 5, nCentroids = 16, entryStep = 4L, nLayers = 2)
    val ext497 = KnnGraph.extendLayered(old497,
      emb.filter(col("vec_id") >= 497), lg497)
    assert((ext497.layers(1) eq lg497.layers(1)) &&
      (ext497.layers(2) eq lg497.layers(2)),
      "untouched layers must be returned by reference")
    ext497.layers.zip(full.layers).foreach { case (a, b) =>
      assert(rows(a) == rows(b), "cut 497: layer mismatch") }
  }

  test("beamSearch entries resolve through actual seed ids when a seed is missing") {
    // drop seed vec_id 3: the centroid array compacts to 15 entries,
    // so cell index i >= 3 names seed id i+1 — the cast-to-vec_id
    // shortcut would walk from the WRONG node (or a ghost). Full
    // replay under the compacted geometry must match.
    val emb = Tables.embeddings(spark, SparkTestSession.Sf)
      .filter(col("vec_id") =!= 3)
    val vs = vecs - 3L
    val seedIds = vs.keys.filter(_ < 16).toSeq.sorted
    val cents2 = seedIds.map(id => unitNorm(vs(id))).toArray
    def probe2b(e: Array[Double]): Seq[Int] = {
      val scores = cents2.map(c => dot(e, c))
      val first = scores.indices.minBy(i => (-scores(i), i))
      Seq(first, scores.indices.filter(_ != first).minBy(i => (-scores(i), i)))
    }
    val graph = KnnGraph.build(emb, k = 5)
    val fwd = graph.select("src", "dst").as[(Long, Long)].collect()
      .groupBy(_._1).map { case (s, xs) => s -> xs.map(_._2).toSeq }
    val got = KnnGraph.beamSearch(emb, graph,
        emb.filter(col("vec_id") < 8)
          .select(col("vec_id").as("query_id"), col("embedding")),
        k = 5, beam = 16, rounds = 4)
      .orderBy("query_id", "rank")
      .as[(Long, Long, Double, Long)].collect().toSeq
    val expected = (0L until 8L).filter(_ != 3L).flatMap { qid =>
      val qe = vs(qid)
      var frontier = probe2b(qe).map(ci => seedIds(ci)).filter(_ != qid)
        .distinct.map(v => (v, r6(cos(vs(v), qe))))
      for (_ <- 1 to 4) {
        val neigh = frontier.map(_._1)
          .flatMap(v => fwd.getOrElse(v, Seq.empty)).filter(_ != qid).distinct
        val all = (frontier.map(_._1) ++ neigh).distinct
          .map(v => (v, r6(cos(vs(v), qe))))
        frontier = all.sortBy { case (v, s) => (-s, v) }.take(16)
      }
      frontier.sortBy { case (v, s) => (-s, v) }.take(5)
        .zipWithIndex.map { case ((v, s), i) => (qid, v, s, (i + 1).toLong) }
    }
    assert(got == expected)
    assert(got.map(_._1).distinct.size == 7, "every surviving query answered")
  }

  test("beamSearch finds true neighbors the entry cell alone would miss or keep") {
    // sanity on the fixture: per query, the beam result overlaps the
    // exact global top-5 (graph walks should not be garbage) — a
    // recall floor, not an equality (ANN is approximate by design)
    val emb = Tables.embeddings(spark, SparkTestSession.Sf)
    val got = KnnGraph.beamSearch(emb, KnnGraph.build(emb, k = 5),
        emb.filter(col("vec_id") < 8)
          .select(col("vec_id").as("query_id"), col("embedding")),
        k = 5, beam = 16, rounds = 4)
      .as[(Long, Long, Double, Long)].collect().toSeq
    val hits = (0L until 8L).count { q =>
      val qe = vecs(q)
      val exact = vecs.toSeq.filter(_._1 != q)
        .map { case (v, e) => (v, r6(cos(e, qe))) }
        .sortBy { case (v, s) => (-s, v) }.take(5).map(_._1).toSet
      got.filter(_._1 == q).map(_._2).exists(exact)
    }
    assert(hits >= 6, s"beam search missed the exact top-5 entirely for ${8 - hits}/8 queries")
  }

  test("trained cells rebalance a clumped-seed fixture: fewer capped cells, pair coverage no worse") {
    // seeds (ids 0..15) clumped in a tiny arc; the corpus spread over
    // a quarter circle — under the SEED geometry nearly everything
    // probes into the clump's widest cells, so a cap silences most
    // pairs; three Lloyd iterations migrate centroids into the mass
    val rnd = new scala.util.Random(7)
    def vec(theta: Double) = Seq(math.cos(theta).toFloat,
      math.sin(theta).toFloat, (rnd.nextDouble() * 0.01).toFloat,
      (rnd.nextDouble() * 0.01).toFloat)
    val rows = (0 until 16).map(i => (i.toLong, vec(i * 0.003))) ++
      (16 until 216).map(i =>
        (i.toLong, vec(0.05 + (i - 16) * (1.5 - 0.05) / 200.0)))
    val emb = rows.toDF("vec_id", "embedding")
    // Lloyd from clumped seeds migrates one boundary centroid at a
    // time, so three iterations split the 403-probe hot mass into
    // ~179+129+70+25 (measured): the HOTTEST cell and the capped MASS
    // drop monotonically with iterations; cap 150 is where the capped
    // COUNT visibly drops too (2 seed cells over it, 1 trained)
    val trained = Similarity.kmeansCentroids(emb, 16, iterations = 3)
    val cap = 150L
    def audit(c: Option[Array[Array[Double]]]) =
      KnnGraph.graphCapAudit(emb, 16, cap, c)
        .as[(Long, Long, Boolean)].collect().toSeq
    val seedAudit = audit(None)
    val trainedAudit = audit(Some(trained))
    assert(seedAudit.count(_._3) >= 1, s"fixture must cap under seed cells: $seedAudit")
    assert(trainedAudit.count(_._3) < seedAudit.count(_._3),
      s"trained cells did not reduce capped cells: seed=$seedAudit trained=$trainedAudit")
    assert(trainedAudit.map(_._2).max < seedAudit.map(_._2).max,
      "trained cells did not reduce the hottest cell")
    def edges(c: Option[Array[Array[Double]]]) =
      KnnGraph.build(emb, k = 5, nCentroids = 16, cellCap = Some(cap),
        centroids = c).count()
    assert(edges(Some(trained)) >= edges(None),
      "trained cells lost pair coverage vs seed cells under the same cap")
  }

  test("beamSearchLayered: contract, determinism, and hierarchy beats flat at equal scan cost") {
    // clustered fixture (the GraphRecall generator shape): 40 tight
    // 8-member clusters; ids 0..15 double as layer seeds
    val rnd = new scala.util.Random(3)
    def cvec(c: Int) = Array.fill(8)(rnd.nextDouble() * 2 - 1)
    val centers = (0 until 40).map(cvec)
    val rows = (0 until 320).map { i =>
      val c = i % 40
      (i.toLong, centers(c).map(x =>
        (x + (new scala.util.Random(i * 41 + 7).nextDouble() - 0.5) * 0.1)
          .toFloat).toSeq)
    }
    val emb = rows.toDF("vec_id", "embedding").localCheckpoint()
    val base = KnnGraph.build(emb, k = 5, nCentroids = 16).localCheckpoint()
    val queries = emb.filter(col("vec_id") % 37 === 1)
      .select(col("vec_id").as("query_id"), col("embedding"))
    val lg = KnnGraph.buildLayered(emb, base, k = 5, nCentroids = 16,
      entryStep = 4L, nLayers = 2)
    // nested deterministic samples: layer ℓ nodes are exactly the
    // vec_id % 4^ℓ == 0 rows
    assert(lg.layers.size == 3)
    val l2Nodes = lg.layers(2).select("src").as[Long].collect().toSet
    assert(l2Nodes.nonEmpty && l2Nodes.forall(_ % 16L == 0L))
    val got = KnnGraph.beamSearchLayered(emb, lg, queries, k = 5,
        beam = 16, rounds = 4)
      .orderBy("query_id", "rank")
      .as[(Long, Long, Double, Long)].collect().toSeq
    // contract: <= k ranked rows per query, never the query itself,
    // scores are the round-6 cosines of the returned pairs
    val byQ = got.groupBy(_._1)
    byQ.foreach { case (q, rs) =>
      assert(rs.size <= 5 && rs.map(_._4).sorted == (1L to rs.size).toSeq)
      assert(!rs.exists(_._2 == q))
      rs.foreach { case (_, v, s, _) =>
        val qe = rows(q.toInt)._2.map(_.toDouble).toArray
        assert(s == r6(cos(qe, rows(v.toInt)._2.map(_.toDouble).toArray)))
      }
    }
    // deterministic: a second run is bit-identical
    val again = KnnGraph.beamSearchLayered(emb, lg, queries, k = 5,
        beam = 16, rounds = 4)
      .orderBy("query_id", "rank")
      .as[(Long, Long, Double, Long)].collect().toSeq
    assert(again == got)
    // the hierarchy's claim: at EQUAL top-scan cost (the flat scan
    // uses entryStep 16 = 4², the same rows the layered top scan
    // reads), the descent's coverage comes from the n/4 sample and
    // must recall at least as much of the exact top-5
    def recallOf(rs: Seq[(Long, Long, Double, Long)]): Double = {
      val g = rs.groupBy(_._1)
      val qs = queries.select("query_id").as[Long].collect().toSeq
      qs.map { q =>
        val qe = rows(q.toInt)._2.map(_.toDouble).toArray
        val exact = rows.filter(_._1 != q)
          .map { case (v, e) => (v, r6(cos(qe, e.map(_.toDouble).toArray))) }
          .sortBy { case (v, s) => (-s, v) }.take(5).map(_._1).toSet
        g.getOrElse(q, Seq.empty).map(_._2).count(exact).toDouble / exact.size
      }.sum / qs.size
    }
    val flat = KnnGraph.beamSearchSampled(emb, base, queries, k = 5,
        beam = 16, rounds = 4, entryStep = 16L)
      .as[(Long, Long, Double, Long)].collect().toSeq
    assert(recallOf(got) >= recallOf(flat),
      s"hierarchy (${recallOf(got)}) under flat (${recallOf(flat)}) at equal scan cost")
  }

  test("beamCandidates plan: the frontier broadcasts into the edge join (cost contract)") {
    // the per-round checkpoints truncate the loop's final lineage, so
    // the broadcast-per-round cost contract is pinned HERE, on one
    // un-checkpointed round's candidate plan: both the frontier→edge
    // join and the query-set scoring join must be broadcast (the
    // corpus-sized edge/embedding tables never shuffle for the
    // frontier)
    val emb = Tables.embeddings(spark, SparkTestSession.Sf)
    val graph = KnnGraph.build(emb, k = 5).localCheckpoint()
    val frontier = emb.filter(col("vec_id") < 4)
      .select(col("vec_id").as("query_id"), (col("vec_id") + 16).as("vec_id"),
        lit(0.5).as("score"), col("embedding").as("q_emb"))
      .localCheckpoint()
    val cand = KnnGraph.beamCandidates(emb, graph, frontier)
    val plan = cand.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"beam round lost its broadcast joins:\n$plan")
    assert(!plan.contains("SortMergeJoin") && !plan.contains("CartesianProduct"),
      s"beam round shuffles or crosses a corpus-sized side:\n$plan")
    // and the expansion behaves: candidates are the frontier nodes'
    // scored out-neighbors, never the query itself
    val got = cand.select("query_id", "vec_id", "score")
      .as[(Long, Long, Double)].collect().toSeq
    assert(got.nonEmpty)
    assert(got.forall { case (q0, v, _) => q0 != v })
  }

  test("beamSearch survives non-nullable (range-backed) inputs at rounds >= 2") {
    // regression pin for the optimizer constraint-rewrite crash
    // (NoSuchElementException in PruneFilters): an un-checkpointed
    // candidate child in the keep-best union trips union constraint
    // rewriting when inputs are non-nullable, which parquet-backed
    // tables never exercise
    val n = 200L
    val embN = spark.range(n).select(col("id").as("vec_id"), expr(
      "transform(sequence(0, 7), j -> " +
        "cast(cast(pmod(hash(id, j), 1000) AS double) / 500.0 - 1.0 AS float))")
      .as("embedding")).localCheckpoint()
    val graph = KnnGraph.build(embN, k = 5).localCheckpoint()
    val qdf = embN.filter(col("vec_id") % 50 === 1)
      .select(col("vec_id").as("query_id"), col("embedding"))
    val rows = KnnGraph.beamSearch(embN, graph, qdf, k = 5, beam = 16,
      rounds = 4).count()
    assert(rows > 0)
  }

  test("refineToConvergence with tolUpdates > 0 returns the post-final-iteration graph") {
    val emb = Tables.embeddings(spark, SparkTestSession.Sf)
    val seed = KnnGraph.build(emb, k = 5)
    // measure the true per-round update trajectory first
    var cur = seed
    var updates = Seq.empty[Long]
    var r = 0
    while (r < 10 && (updates.isEmpty || updates.last > 0L)) {
      val next = KnnGraph.refine(emb, cur, k = 5).localCheckpoint()
      updates = updates :+ next.select(col("src"), col("dst"))
        .exceptAll(cur.select(col("src"), col("dst"))).count()
      if (updates.last > 0L) { cur = next; r += 1 }
    }
    // pick a tolerance that stops mid-trajectory (some round's update
    // count is <= tol while > 0) when the fixture allows it; the
    // contract under test: the returned graph equals refine applied
    // `rounds` times AND includes the sub-tolerance final iteration
    val tol = updates.filter(_ > 0L).lastOption.getOrElse(0L)
    val (settled, rounds) = KnnGraph.refineToConvergence(emb, seed, k = 5,
      maxRounds = 10, tolUpdates = tol)
    var unrolled = seed
    for (_ <- 1 to rounds)
      unrolled = KnnGraph.refine(emb, unrolled, k = 5).localCheckpoint()
    val settledRows = settled.orderBy("src", "rank")
      .as[(Long, Long, Double, Long)].collect().toSeq
    assert(unrolled.orderBy("src", "rank")
      .as[(Long, Long, Double, Long)].collect().toSeq == settledRows)
    // the stopping round's strictly-better graph is RETURNED, not
    // discarded: rounds counts every applied (updates > 0) iteration
    // up to and INCLUDING the first sub-tolerance one
    val expectedRounds =
      updates.take(updates.indexWhere(_ <= tol) + 1).count(_ > 0L)
    assert(rounds == expectedRounds,
      s"expected the sub-tolerance final iteration applied: " +
        s"rounds=$rounds, expected=$expectedRounds, trajectory=$updates, tol=$tol")
  }

  test("keepBestBeam: NaN scores sort exactly as the window order (NaN greatest)") {
    // a zero-norm embedding's cosine is NaN; the former comparator
    // fell through to the vec_id tiebreak on NaN, diverging from the
    // row_number ordering (score DESC, vec_id ASC — Spark sorts NaN
    // as greatest) it claims to mirror. This frame would keep vec 7
    // under the broken comparator; the window order keeps vec 9.
    val rows = Seq(
      (1L, 7L, 0.9, Seq(1.0f)),
      (1L, 9L, Double.NaN, Seq(1.0f)),
      (1L, 3L, 0.5, Seq(1.0f)))
      .toDF("query_id", "vec_id", "score", "q_emb")
    val kept = KnnGraph.keepBestBeam(rows, beam = 2)
      .select(col("vec_id"), col("score")).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq
    // window reference: NaN greatest → (9, NaN) then (7, 0.9)
    assert(kept.map(_._1) == Seq(9L, 7L),
      s"comparator diverged from the window's NaN order: $kept")
    assert(kept.head._2.isNaN)
    // both-NaN ties still break by vec_id, and equality stays total
    val ties = Seq(
      (1L, 5L, Double.NaN, Seq(1.0f)),
      (1L, 2L, Double.NaN, Seq(1.0f)))
      .toDF("query_id", "vec_id", "score", "q_emb")
    val keptTies = KnnGraph.keepBestBeam(ties, beam = 2)
      .select(col("vec_id")).collect().map(_.getLong(0)).toSeq
    assert(keptTies == Seq(2L, 5L), s"NaN-tie order broke: $keptTies")
  }
}
