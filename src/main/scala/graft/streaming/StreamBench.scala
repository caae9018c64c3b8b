package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Streaming micro-bench: replays the scale-factor tables through the
  * incremental twins ([[StreamingIngest]]) and reports end-to-end
  * throughput and micro-batch latency — the adoption signal the batch
  * bench can't give (VERDICT r6 gap 2: streaming was capability-demo,
  * not measured).
  *
  * Methodology: the source table is re-written once (untimed) as an
  * N-file replay directory so the file source delivers multiple
  * micro-batches (`maxFilesPerTrigger` bounds each trigger); the timed
  * region covers stream start → `processAllAvailable`, i.e. includes
  * query startup, every trigger, and state-store commits. Throughput
  * is input rows / elapsed; latency is the mean `triggerExecution`
  * over non-empty batches.
  */
object StreamBench {

  final case class StreamMetrics(rows: Long, elapsedSec: Double,
                                 rowsPerSec: Double, avgBatchMs: Double,
                                 batches: Int)

  /** Every staging/checkpoint dir this JVM created — the replay of a
    * whole source table is too big to leak per invocation (ADVICE r7:
    * sb_events/sb_docs/sb_ckpt accumulated on /tmp). A shutdown hook
    * guarantees removal even on abnormal exit; [[cleanup]] lets the
    * scale-curve runner reclaim space between factors.
    */
  private val tempDirs = new java.util.concurrent.ConcurrentLinkedQueue[java.nio.file.Path]
  locally {
    Runtime.getRuntime.addShutdownHook(new Thread(() => cleanup()))
  }
  private def tempDir(prefix: String): String = {
    val p = java.nio.file.Files.createTempDirectory(prefix)
    tempDirs.add(p)
    p.toString
  }

  /** Delete every staged dir created so far (recursive, best-effort),
    * except those in `keep` — the scale-curve runner passes a snapshot
    * taken before its factor iteration so cleanup is scoped to the
    * dirs THAT factor staged, never to checkpoints/replays a bench
    * added outside it (the shared queue is otherwise a footgun for
    * any bench appended after a drain).
    */
  def cleanup(keep: Set[java.nio.file.Path] = Set.empty): Unit = {
    val kept = new java.util.ArrayList[java.nio.file.Path]
    var p = tempDirs.poll()
    while (p != null) {
      if (keep(p)) kept.add(p)
      else StreamingIngest.deleteTree(p)
      p = tempDirs.poll()
    }
    tempDirs.addAll(kept) // survivors stay tracked for the shutdown hook
  }

  /** Snapshot of the currently tracked dirs — pass to [[cleanup]] as
    * `keep` to scope a drain to dirs created after this point.
    */
  def trackedDirs(): Set[java.nio.file.Path] = {
    import scala.jdk.CollectionConverters._
    tempDirs.asScala.toSet
  }

  /** Stage a table as an nFiles-file replay directory (untimed setup).
    * `factor` unions id-shifted copies for scale-curve runs.
    */
  def stageEvents(spark: SparkSession, sfDir: String, nFiles: Int,
                  factor: Int = 1): String = {
    val dir = tempDir("sb_events")
    val base = graft.Tables.events(spark, sfDir)
    val rep = if (factor <= 1) base
      else (1 until factor).foldLeft(base) { (acc, i) =>
        acc.unionAll(base.withColumn("event_id",
          col("event_id") + lit(i.toLong * 1000000000L)))
      }
    rep.repartition(nFiles).write.mode("overwrite").parquet(dir)
    dir
  }

  def stageDocs(spark: SparkSession, sfDir: String, nFiles: Int,
                factor: Int = 1): String = {
    val dir = tempDir("sb_docs")
    val base = graft.Tables.documents(spark, sfDir)
    val rep = if (factor <= 1) base
      else (1 until factor).foldLeft(base) { (acc, i) =>
        acc.unionAll(base.withColumn("doc_id",
          col("doc_id") + lit(i.toLong * 1000000000L)))
      }
    rep.repartition(nFiles).write.mode("overwrite").parquet(dir)
    dir
  }

  private def ckpt(): String = tempDir("sb_ckpt")

  /** Throughput from the STAGED row count, not recentProgress:
    * `processAllAvailable()` guarantees a full drain (or throws), so
    * the staged total is exact — while progress-event numInputRows
    * mis-reports under fast triggers (observed at ×64: events lost
    * entirely in one run, double-counted in another). Batch count and
    * latency stay best-effort from the progress events.
    */
  private def metricsOf(q: org.apache.spark.sql.streaming.StreamingQuery,
                        elapsedSec: Double, totalRows: Long): StreamMetrics = {
    val busy = q.recentProgress.filter(_.numInputRows > 0)
    val lat = busy.flatMap(p =>
      Option(p.durationMs.get("triggerExecution")).map(_.toDouble))
    StreamMetrics(totalRows, elapsedSec,
      if (elapsedSec > 0) totalRows / elapsedSec else -1.0,
      if (lat.nonEmpty) lat.sum / lat.length else -1.0,
      busy.length)
  }

  /** Ingest-dedup twin: file-source replay → watermark → stateful
    * dropDuplicatesWithinWatermark → noop sink.
    */
  def benchDedup(spark: SparkSession, replayDir: String): StreamMetrics = {
    val staged = spark.read.parquet(replayDir).count()
    val stream = StreamingIngest.dedupedStream(
      StreamingIngest.readEvents(spark, replayDir))
    val t0 = System.nanoTime()
    val q = stream.writeStream.format("noop")
      .option("checkpointLocation", ckpt()).start()
    try q.processAllAvailable() finally q.stop()
    metricsOf(q, (System.nanoTime() - t0) / 1e9, staged)
  }

  /** Decontamination twin: per-micro-batch n-gram containment against
    * the static benchmark set (same params as q_decontaminate), output
    * exhausted via count — measures the operator, not a sink format.
    */
  def benchDecontam(spark: SparkSession, sfDir: String,
                    replayDir: String): StreamMetrics = {
    val replay = spark.read.parquet(replayDir)
    val staged = replay.count()
    val docs = spark.readStream.schema(replay.schema)
      .option("maxFilesPerTrigger", "2").parquet(replayDir)
    val bench = graft.Tables.documents(spark, sfDir)
      .filter(col("doc_id") % 20 === 0)
    val t0 = System.nanoTime()
    val q = StreamingIngest.runBatches(docs, Some(ckpt())) { (b, _) =>
      graft.ops.Decontaminate.decontaminated(
        b.filter(col("doc_id") % 20 =!= 0), bench,
        col("doc_id"), col("text"), n = 3, maxContamination = 0.8).count()
    }
    metricsOf(q, (System.nanoTime() - t0) / 1e9, staged)
  }

  /** Sessionize twin: the custom-state path (flatMapGroupsWithState
    * with event-time timeout) — per-user gap sessions over the events
    * replay, closed sessions emitted to a noop sink.
    */
  def benchSessions(spark: SparkSession, replayDir: String): StreamMetrics = {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val replay = spark.read.parquet(replayDir)
    val staged = replay.count()
    val evs = graft.Tables.normalizeTs(
        spark.readStream.schema(replay.schema)
          .option("maxFilesPerTrigger", "2").parquet(replayDir))
      .withWatermark("ts", "1 hour") // event-time timeout needs a watermark
      // keep the watermarked ts column in the projection — dropping it
      // drops the EventTimeWatermark node and fails the analysis check;
      // the Ev encoder selects its fields by name and ignores extras
      .select(col("user_id"), unix_timestamp(col("ts")).as("ts_epoch"),
        col("event_id"), col("ts"))
      .as[graft.ops.Sessionize.Ev]
    val stream = graft.ops.Sessionize.streamingSessions(evs, gapSeconds = 3600L)
    val t0 = System.nanoTime()
    val q = stream.writeStream.format("noop")
      .option("checkpointLocation", ckpt()).start()
    try q.processAllAvailable() finally q.stop()
    metricsOf(q, (System.nanoTime() - t0) / 1e9, staged)
  }

  /** Incremental near-dup twin: the standing corpus index is built
    * ONCE before the stream starts (untimed — the maintained artifact,
    * not per-batch work); each micro-batch of the docs replay is
    * shingled, signed, and probed against it, output exhausted via
    * count. Corpus = every 20th document; the stream carries the rest
    * (the decontam split), so matches are genuine cross-document
    * near-dups.
    */
  def benchNearDup(spark: SparkSession, sfDir: String,
                   replayDir: String): StreamMetrics = {
    val corpus = graft.Tables.documents(spark, sfDir)
      .filter(col("doc_id") % 20 === 0)
    val cidx = graft.ops.MinHash.buildIndex(corpus, col("doc_id"), col("text"))
    cidx.index.queryExecution.toRdd.count() // materialize untimed
    val replay = spark.read.parquet(replayDir)
    val staged = replay.count()
    val docs = spark.readStream.schema(replay.schema)
      .option("maxFilesPerTrigger", "2").parquet(replayDir)
    val t0 = System.nanoTime()
    val q = StreamingIngest.runBatches(docs, Some(ckpt())) { (b, _) =>
      graft.ops.MinHash.probe(cidx, b.filter(col("doc_id") % 20 =!= 0),
        col("doc_id"), col("text"), threshold = 0.5).count()
    }
    metricsOf(q, (System.nanoTime() - t0) / 1e9, staged)
  }

  /** Stage the embeddings table as a replay directory. `factor` unions
    * id-shifted copies (same vectors under new ids — the probe cost is
    * per-row cell assignment + bench join, so replicas are real work).
    */
  def stageEmbeddings(spark: SparkSession, sfDir: String, nFiles: Int,
                      factor: Int = 1): String = {
    val dir = tempDir("sb_emb")
    val base = graft.Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), col("embedding"))
    val rep = if (factor <= 1) base
      else (1 until factor).foldLeft(base) { (acc, i) =>
        acc.unionAll(base.withColumn("vec_id",
          col("vec_id") + lit(i.toLong * 1000000000L)))
      }
    rep.repartition(nFiles).write.mode("overwrite").parquet(dir)
    dir
  }

  /** Semantic-decontamination twin: embedding replay probed against
    * the standing [[graft.ops.Similarity.SemIndex]] (corpus-seeded
    * coarse quantizer + pre-exploded benchmark probes, built and
    * materialized untimed) — the paraphrase-robust complement of
    * [[benchDecontam]]'s n-gram gate.
    */
  def benchSemDecontam(spark: SparkSession, sfDir: String,
                       replayDir: String): StreamMetrics = {
    val emb = graft.Tables.embeddings(spark, sfDir)
    val idx = graft.ops.Similarity.buildSemIndex(emb,
      emb.filter(col("vec_id") % 25 === 0))
    idx.bench.queryExecution.toRdd.count() // materialize untimed
    val replay = spark.read.parquet(replayDir)
    val staged = replay.count()
    val embs = spark.readStream.schema(replay.schema)
      .option("maxFilesPerTrigger", "2").parquet(replayDir)
    val t0 = System.nanoTime()
    val q = StreamingIngest.runBatches(embs, Some(ckpt())) { (b, _) =>
      graft.ops.Similarity.probeSemIndex(idx, b, threshold = 0.30).count()
    }
    metricsOf(q, (System.nanoTime() - t0) / 1e9, staged)
  }

  /** Streaming VERBATIM decontamination twin
    * ([[StreamingIngest.verbatimDecontamBatches]]'s shape): the bench
    * slice's [[graft.ops.Decontaminate.VerbatimIndex]] (winnowed
    * seeds + texts, broadcast-sized) is built untimed; each
    * micro-batch pays one linear winnowing pass over the batch, the
    * broadcast seed probe, and the seed-pair-bounded literal verify —
    * never a corpus or bench re-fingerprint. Reads the docs replay
    * the other text twins use.
    */
  def benchVerbatimDecontam(spark: SparkSession, sfDir: String,
                            replayDir: String): StreamMetrics = {
    val d = graft.Tables.documents(spark, sfDir)
    val idx = graft.ops.Decontaminate.buildVerbatimIndex(
      d.filter(col("doc_id") % 20 === 0), col("doc_id"), col("text"),
      minLen = 32, k = 16)
    idx.seeds.queryExecution.toRdd.count() // materialize untimed
    val replay = spark.read.parquet(replayDir)
    val staged = replay.count()
    val docs = spark.readStream.schema(replay.schema)
      .option("maxFilesPerTrigger", "2").parquet(replayDir)
    val t0 = System.nanoTime()
    val q = StreamingIngest.runBatches(docs, Some(ckpt())) { (b, _) =>
      graft.ops.Decontaminate.probeVerbatim(idx, b,
        col("doc_id"), col("text")).queryExecution.toRdd.count()
    }
    metricsOf(q, (System.nanoTime() - t0) / 1e9, staged)
  }

  /** Self-maintaining winnowed PAIR gate
    * ([[StreamingIngest.selfWinnowBatches]]'s shape): the seed
    * corpus's [[graft.ops.SubstringDedup.WinnowIndex]] built untimed;
    * each micro-batch pays one linear winnowing pass, the
    * bloom-pruned standing probe, the pair extension, and the plain
    * fps append. Reads the docs replay under OFFSET ids (the replay
    * duplicates the corpus, and the standing loop's contract needs
    * disjoint ids), so every batch doc is a guaranteed verbatim twin
    * of its standing original — the 100%-duplicated worst case, like
    * the substr twin.
    */
  def benchSelfWinnow(spark: SparkSession, sfDir: String,
                      replayDir: String): StreamMetrics = {
    val d = graft.Tables.documents(spark, sfDir)
    val idx = graft.ops.SubstringDedup.buildWinnowIndex(d,
      col("doc_id"), col("text"), minLen = 32, k = 16)
    idx.fps.queryExecution.toRdd.count() // materialize untimed
    val replay = spark.read.parquet(replayDir)
    val staged = replay.count()
    val docs = spark.readStream.schema(replay.schema)
      .option("maxFilesPerTrigger", "2").parquet(replayDir)
    val outDir = tempDir("swinnow_out")
    val t0 = System.nanoTime()
    val (_, q) = StreamingIngest.foldBatches(docs, (idx, d.select(col("doc_id"), col("text"))),
        Some(ckpt())) { case ((prevIdx, corpus), b0, batchId) =>
      // offset ids: replayed docs are NEW crawl arrivals; the
      // per-batch multiplier sits above any stage-factor offset
      // (stageDocs uses i·10⁹, i < factor), keeping batch ids
      // disjoint from each other and from the standing corpus
      val b = b0.select((col("doc_id") + lit(1000000000000L * (batchId + 1)))
        .as("doc_id"), col("text")).localCheckpoint()
      // OVERLAP probe write and fold (guide §2.6): the fold's
      // batch fingerprint pass reads nothing from the probe's
      // output. Disjointness stays proven-and-loud: the probe
      // write runs its riding guard over the same (standing fps,
      // batch) pair within this batch body — the production
      // loop's opt-out ([[StreamingIngest.selfWinnowBatches]]),
      // mirrored in the measured twin — and a collision fails the
      // batch before the next one folds.
      val (_, next) = graft.ops.Parallel.both(
        StreamingIngest.landBatch(graft.ops.SubstringDedup
          .dupPairsAgainst(prevIdx, corpus, b, col("doc_id"), col("text")), outDir, batchId),
        graft.ops.SubstringDedup.extendWinnowIndex(prevIdx, b,
          col("doc_id"), col("text"), checkDisjoint = false))
      (next, corpus.unionByName(b))
    }
    metricsOf(q, (System.nanoTime() - t0) / 1e9, staged)
  }

  /** Standing tf-idf scoring twin: [[graft.ops.Tfidf.DfStats]] trained
    * untimed (its df table is an eager checkpoint), each micro-batch
    * pays one explode + one vocab-keyed join
    * ([[StreamingIngest.dfScoreBatches]]'s shape). Reads the docs
    * replay the other text twins use.
    */
  def benchTfidfScore(spark: SparkSession, sfDir: String,
                      replayDir: String): StreamMetrics = {
    val model = graft.ops.Tfidf.trainDfStats(
      graft.Tables.documents(spark, sfDir), col("doc_id"), col("text"))
    val replay = spark.read.parquet(replayDir)
    val staged = replay.count()
    val docs = spark.readStream.schema(replay.schema)
      .option("maxFilesPerTrigger", "2").parquet(replayDir)
    val t0 = System.nanoTime()
    val q = StreamingIngest.runBatches(docs, Some(ckpt())) { (b, _) =>
      graft.ops.Tfidf.topTermsAgainst(model, b,
        col("doc_id"), col("text"), k = 3).count()
    }
    metricsOf(q, (System.nanoTime() - t0) / 1e9, staged)
  }

  /** Self-maintaining exact-substring inventory twin
    * ([[StreamingIngest.selfSubstrBatches]]'s loop, inlined so the
    * replay drives it): the standing
    * [[graft.ops.SuffixArray.RepeatInventory]] is mined once untimed;
    * each micro-batch of NEW documents (ids shifted out of the
    * standing range, still inside the 2³¹ packing bound) pays the
    * batch mine + the bipartite completion probe — never a corpus
    * re-mine. Batch text is the REVERSED replay doc (novel content,
    * same length/alphabet distribution — the realistic new-crawl
    * steady state where candidates are the true repeat mass, not the
    * whole batch). Replaying the corpus text VERBATIM instead makes
    * every batch 100% duplicated and every extend pay corpus-scale
    * literal verification — measured once at sf0.1: 69.1 s for 4
    * batches (the honest flood worst case, recorded in BASELINE r13)
    * vs the steady state benched here.
    */
  def benchSubstrIncr(spark: SparkSession, sfDir: String,
                      replayDir: String): StreamMetrics = {
    val docs0 = graft.Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("text")).localCheckpoint()
    val model0 = graft.ops.SuffixArray.trainRepeatGroups(docs0,
      col("doc_id"), col("text"), minLen = 32)
    val replay = spark.read.parquet(replayDir)
    val staged = replay.count()
    val docs = spark.readStream.schema(replay.schema)
      .option("maxFilesPerTrigger", "2").parquet(replayDir)
    var ownedMembers = false // the seed inventory's members pin
    val t0 = System.nanoTime()
    val (_, q) = StreamingIngest.foldBatches(docs, (model0, docs0), Some(ckpt())) {
        case ((prev, corpus), b0, _) =>
      val b = b0.select((col("doc_id") + lit(100000000L)).as("doc_id"),
        reverse(col("text")).as("text")).localCheckpoint()
      val model = graft.ops.SuffixArray.extendRepeatGroups(prev, corpus, b,
        col("doc_id"), col("text"))
      // the superseded members pin is dead once extend returns its
      // eagerly-pinned replacement (the selfSubstrBatches hygiene)
      if (ownedMembers)
        graft.ops.ConnectedComponents.unpersistCheckpoint(prev.members)
      ownedMembers = true
      model.members
        .join(b.select(col("doc_id")), Seq("doc_id"), "left_semi")
        .count()
      (model, corpus.unionByName(b))
    }
    metricsOf(q, (System.nanoTime() - t0) / 1e9, staged)
  }

  /** Graph-ANN probe twin ([[StreamingIngest.graphAnnBatches]]'s
    * shape): the standing k-NN graph + embedding table are built and
    * materialized UNTIMED (the write-once edge artifact), then each
    * micro-batch of query vectors beam-searches the standing edges —
    * per-batch work is the |batch|·beam broadcast frontier per round,
    * never a corpus scan.
    */
  def benchGraphAnn(spark: SparkSession, sfDir: String,
                    replayDir: String): StreamMetrics = {
    val emb = graft.Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), col("embedding")).localCheckpoint()
    val graph = graft.ops.KnnGraph.build(emb, k = 5).localCheckpoint()
    val replay = spark.read.parquet(replayDir)
    val staged = replay.count()
    val qs = spark.readStream.schema(replay.schema)
      .option("maxFilesPerTrigger", "2").parquet(replayDir)
    val t0 = System.nanoTime()
    val q = StreamingIngest.runBatches(qs, Some(ckpt())) { (b, _) =>
      graft.ops.KnnGraph.beamSearch(emb, graph,
        b.select(col("vec_id").as("query_id"), col("embedding")),
        k = 5, beam = 16, rounds = 4).count()
    }
    metricsOf(q, (System.nanoTime() - t0) / 1e9, staged)
  }

  /** SELF-MAINTAINING graph twin ([[StreamingIngest.selfKnnBatches]]'s
    * loop, inlined so the replay drives it): each micro-batch of NEW
    * vectors (ids shifted out of the standing range) beam-searches the
    * standing graph, then folds in via [[graft.ops.KnnGraph.extend]] —
    * the standing graph after every batch equals the one-shot build
    * over everything seen, so per-batch cost grows with the corpus,
    * which is exactly the accounting this twin measures.
    */
  def benchSelfKnn(spark: SparkSession, sfDir: String,
                   replayDir: String, nCentroids: Int = 16): StreamMetrics = {
    // the caller sizes nCentroids with the factor (the ScaleSmoke
    // knn_graph deployment rule): a fixed cell count under a ×f
    // corpus makes the per-cell pair fan-out quadratic in f
    val emb0 = graft.Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), col("embedding")).localCheckpoint()
    val graph0 = graft.ops.KnnGraph.build(emb0, k = 5, nCentroids)
      .localCheckpoint()
    val replay = spark.read.parquet(replayDir)
    val staged = replay.count()
    val vs = spark.readStream.schema(replay.schema)
      .option("maxFilesPerTrigger", "2").parquet(replayDir)
    // owned-snapshot flag, NOT batchId > 0: a stream resumed from a
    // checkpoint can deliver its first batch with batchId > 0, and the
    // seed snapshots the loop does not own must never be unpersisted
    var owned = false
    val t0 = System.nanoTime()
    val (_, q) = StreamingIngest.foldBatches(vs, (emb0, graph0), Some(ckpt())) {
        case ((prevEmb, prevGraph), b, _) =>
      // replayed ids shift well past the standing range (seed ids
      // stay < 16·replicas·1e9) so the fold-in never collides
      val batch = b.select((col("vec_id") + lit(1000000000000L)).as("vec_id"),
        col("embedding")).localCheckpoint()
      // OVERLAP probe and fold (guide §2.6): the probe reads only
      // the PRE-fold standing state and the fold never consumes
      // the probe's output — independent actions, scheduled
      // concurrently so neither's straggler tail idles the
      // cluster. Same answer, same per-batch work.
      val (_, (graph, emb)) = graft.ops.Parallel.both(
        graft.ops.KnnGraph.beamSearch(prevEmb, prevGraph,
          batch.select(col("vec_id").as("query_id"), col("embedding")),
          k = 5, beam = 16, rounds = 4, nCentroids).count(),
        {
          val g = graft.ops.KnnGraph
            .extend(prevEmb, batch, prevGraph, k = 5, nCentroids)
            .localCheckpoint()
          val e = prevEmb.unionByName(batch).localCheckpoint()
          (g, e)
        })
      // drop the superseded snapshots (the selfKnnBatches hygiene,
      // applied to the measured twin)
      if (owned) {
        graft.ops.ConnectedComponents.unpersistCheckpoint(prevEmb)
        graft.ops.ConnectedComponents.unpersistCheckpoint(prevGraph)
      }
      graft.ops.ConnectedComponents.unpersistCheckpoint(batch)
      owned = true
      (emb, graph)
    }
    metricsOf(q, (System.nanoTime() - t0) / 1e9, staged)
  }

  /** SELF-MAINTAINING LAYERED twin ([[StreamingIngest
    * .selfLayeredBatches]]'s loop, inlined so the replay drives it):
    * the standing HIERARCHY is built untimed over the seed corpus
    * (the `q_graph_ann_layered` geometry — entryStep 5, 2 upper
    * layers); each micro-batch of NEW vectors (ids shifted out of the
    * standing range) descends it via [[graft.ops.KnnGraph
    * .beamSearchLayered]], then folds in via [[graft.ops.KnnGraph
    * .extendLayered]] — EVERY layer incremental (the shifted ids land
    * far past every layer's seed bound, so no batch ever moves a
    * quantizer and the steady-state fold fires throughout), so the
    * hierarchy after every batch equals the one-shot `buildLayered`
    * over everything seen. Per-batch cost = the flat twin's fold-in +
    * a batch/5 and batch/25 sampled-fold tail — no corpus term.
    */
  def benchSelfLayered(spark: SparkSession, sfDir: String,
                       replayDir: String, nCentroids: Int = 16): StreamMetrics = {
    val emb0 = graft.Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), col("embedding")).localCheckpoint()
    val built = graft.ops.KnnGraph.buildLayered(emb0,
      graft.ops.KnnGraph.build(emb0, k = 5, nCentroids),
      k = 5, nCentroids = nCentroids, entryStep = 5L, nLayers = 2)
    val lg0 = built.copy(layers = built.layers.map(_.localCheckpoint()))
    val replay = spark.read.parquet(replayDir)
    val staged = replay.count()
    val vs = spark.readStream.schema(replay.schema)
      .option("maxFilesPerTrigger", "2").parquet(replayDir)
    // owned-snapshot flag, NOT batchId > 0 (see benchSelfKnn)
    var owned = false
    val t0 = System.nanoTime()
    val (_, q) = StreamingIngest.foldBatches(vs, (emb0, lg0), Some(ckpt())) {
        case ((prevEmb, prevLg), b, _) =>
      val batch = b.select((col("vec_id") + lit(1000000000000L)).as("vec_id"),
        col("embedding")).localCheckpoint()
      // OVERLAP the descent with the fold (guide §2.6): the probe
      // reads only the PRE-fold hierarchy; the fold never consumes
      // its output. Within the fold, the changed layers' snapshot
      // pins and the embedding union are themselves independent
      // actions — pinned concurrently too (an untouched layer
      // passes through extendLayered by REFERENCE and keeps its
      // standing snapshot instead of paying a re-checkpoint copy).
      val (_, (lg, emb)) = graft.ops.Parallel.both(
        graft.ops.KnnGraph.beamSearchLayered(prevEmb, prevLg,
          batch.select(col("vec_id").as("query_id"), col("embedding")),
          k = 5, beam = 16, rounds = 3).count(),
        {
          val ext = graft.ops.KnnGraph.extendLayered(prevEmb, batch, prevLg)
          val pins = graft.ops.Parallel.run[DataFrame](
            ext.layers.zip(prevLg.layers).map { case (n, o) =>
              () => if (n eq o) o else n.localCheckpoint()
            } :+ (() => prevEmb.unionByName(batch).localCheckpoint()))
          (ext.copy(layers = pins.dropRight(1)), pins.last)
        })
      // drop the superseded snapshots (the selfLayeredBatches
      // hygiene, applied to the measured twin): an untouched
      // upper layer passes through extendLayered by REFERENCE, so
      // only snapshots the new hierarchy no longer aliases are
      // dropped
      if (owned) {
        graft.ops.ConnectedComponents.unpersistCheckpoint(prevEmb)
        prevLg.layers.zip(lg.layers).foreach { case (o, n) =>
          if (!(o eq n))
            graft.ops.ConnectedComponents.unpersistCheckpoint(o)
        }
      }
      graft.ops.ConnectedComponents.unpersistCheckpoint(batch)
      owned = true
      (emb, lg)
    }
    metricsOf(q, (System.nanoTime() - t0) / 1e9, staged)
  }

  /** BPE tokenize-the-crawl twin: the standing [[graft.ops.Bpe]] model
    * is trained once untimed; each micro-batch broadcast-joins the
    * vocabulary's end-state segmentation (OOV words segment on the
    * fly). Reads the same docs replay as the decontam twin.
    */
  def benchBpeTokenize(spark: SparkSession, sfDir: String,
                       replayDir: String): StreamMetrics = {
    val model = graft.ops.Bpe.train(
      graft.Tables.documents(spark, sfDir), col("text"), nMerges = 16)
    model.vocab.queryExecution.toRdd.count() // materialize untimed
    val replay = spark.read.parquet(replayDir)
    val staged = replay.count()
    val docs = spark.readStream.schema(replay.schema)
      .option("maxFilesPerTrigger", "2").parquet(replayDir)
    val t0 = System.nanoTime()
    val q = StreamingIngest.runBatches(docs, Some(ckpt())) { (b, _) =>
      graft.ops.Bpe.tokenCounts(b, col("doc_id"), col("text"), model).count()
    }
    metricsOf(q, (System.nanoTime() - t0) / 1e9, staged)
  }

  /** Unigram tokenize-the-crawl twin: the standing
    * [[graft.ops.Unigram]] vocabulary is trained once untimed; each
    * micro-batch Viterbi-segments its distinct words under the
    * broadcast cost map and aggregates per doc. Reads the same docs
    * replay as the BPE twin.
    */
  def benchUnigramTokenize(spark: SparkSession, sfDir: String,
                           replayDir: String): StreamMetrics = {
    val model = graft.ops.Unigram.train(
      graft.Tables.documents(spark, sfDir), col("text"))
    model.vocab.queryExecution.toRdd.count() // materialize untimed
    val replay = spark.read.parquet(replayDir)
    val staged = replay.count()
    val docs = spark.readStream.schema(replay.schema)
      .option("maxFilesPerTrigger", "2").parquet(replayDir)
    val t0 = System.nanoTime()
    val q = StreamingIngest.runBatches(docs, Some(ckpt())) { (b, _) =>
      graft.ops.Unigram.tokenCounts(b, col("doc_id"), col("text"), model).count()
    }
    metricsOf(q, (System.nanoTime() - t0) / 1e9, staged)
  }

  /** LM scoring throughput: a standing bigram model (trained untimed
    * on the sfDir corpus's lang='en' slice, lookup tables
    * materialized once) perplexity-scores the replayed document
    * stream — the CCNet quality gate as an ingest stage.
    */
  def benchLmScore(spark: SparkSession, sfDir: String,
                   replayDir: String): StreamMetrics = {
    val model = graft.ops.Lm.trainCounts(
      graft.Tables.documents(spark, sfDir), col("lang") === lit("en"))
    val t0d = graft.ops.Lm.scoreTables(model)
    val tables = graft.ops.Lm.LmScoreTables(
      t0d.vocab.localCheckpoint(false), t0d.vc.localCheckpoint(false),
      t0d.bg.localCheckpoint(false), t0d.pf.localCheckpoint(false))
    // materialize ALL FOUR lookup tables untimed — vocab and vc are
    // corpus-scale aggregations too, and scoreWithTables reads them
    tables.vocab.queryExecution.toRdd.count()
    tables.vc.queryExecution.toRdd.count()
    tables.bg.queryExecution.toRdd.count()
    tables.pf.queryExecution.toRdd.count()
    val replay = spark.read.parquet(replayDir)
    val staged = replay.count()
    val docs = spark.readStream.schema(replay.schema)
      .option("maxFilesPerTrigger", "2").parquet(replayDir)
    val t0 = System.nanoTime()
    val q = StreamingIngest.runBatches(docs, Some(ckpt())) { (b, _) =>
      graft.ops.Lm.scoreWithTables(tables, b).count()
    }
    metricsOf(q, (System.nanoTime() - t0) / 1e9, staged)
  }

  /** Stage the generated media table as a replay directory. `factor`
    * unions id-shifted copies — the encode UDF derives pixels from the
    * id, so every copy carries ORGANIC new payloads (real decode work),
    * not byte-identical ones.
    */
  def stageMedia(spark: SparkSession, sfDir: String, nFiles: Int,
                 factor: Int = 1): String = {
    val dir = tempDir("sb_media")
    val docs = graft.Tables.documents(spark, sfDir)
    val rep = if (factor <= 1) docs
      else (1 until factor).foldLeft(docs) { (acc, i) =>
        acc.unionAll(docs.withColumn("doc_id",
          col("doc_id") + lit(i.toLong * 1000000L)))
      }
    graft.multimodal.Multimodal.realMedia(rep)
      .repartition(nFiles).write.mode("overwrite").parquet(dir)
    dir
  }

  /** Stage the generated VIDEO table (AQV1 multi-frame clips) as a
    * replay directory; `factor` copies carry organic new payloads the
    * same way [[stageMedia]]'s do.
    */
  def stageVideo(spark: SparkSession, sfDir: String, nFiles: Int,
                 factor: Int = 1): String = {
    val dir = tempDir("sb_video")
    val docs = graft.Tables.documents(spark, sfDir)
    val rep = if (factor <= 1) docs
      else (1 until factor).foldLeft(docs) { (acc, i) =>
        acc.unionAll(docs.withColumn("doc_id",
          col("doc_id") + lit(i.toLong * 1000000L)))
      }
    graft.multimodal.Multimodal.videoMedia(rep)
      .repartition(nFiles).write.mode("overwrite").parquet(dir)
    dir
  }

  /** Audio energy-hash near-dup twin: the standing audio HashIndex is
    * built once untimed; each micro-batch decodes, energy-hashes, and
    * Hamming-probes its WAV payloads against it. Reads the same media
    * replay as the image twin (non-audio rows hash to nothing).
    */
  def benchAudioNearDup(spark: SparkSession, sfDir: String,
                        replayDir: String): StreamMetrics = {
    val corpus = graft.multimodal.Multimodal.realMedia(
      graft.Tables.documents(spark, sfDir).filter(col("doc_id") % 20 === 0))
    val cidx = graft.multimodal.PerceptualHash.buildAudioIndex(corpus)
    cidx.index.queryExecution.toRdd.count() // materialize untimed
    val replay = spark.read.parquet(replayDir)
    val staged = replay.count()
    val media = spark.readStream.schema(replay.schema)
      .option("maxFilesPerTrigger", "2").parquet(replayDir)
    val t0 = System.nanoTime()
    val q = StreamingIngest.runBatches(media, Some(ckpt())) { (b, _) =>
      graft.multimodal.PerceptualHash.probeAudio(cidx,
        b.filter(col("media_id") % 20 =!= 0), maxDist = 3).count()
    }
    metricsOf(q, (System.nanoTime() - t0) / 1e9, staged)
  }

  /** Video shot-overlap twin: the standing frame-hash inverted index
    * is built once untimed; each micro-batch selectively decodes its
    * sampled frames and probes them against it.
    */
  def benchVideoNearDup(spark: SparkSession, sfDir: String,
                        replayDir: String): StreamMetrics = {
    val corpus = graft.multimodal.Multimodal.videoMedia(
      graft.Tables.documents(spark, sfDir).filter(col("doc_id") % 20 === 0))
    val fidx = graft.multimodal.PerceptualHash.buildVideoIndex(corpus, everyN = 2)
    fidx.frames.queryExecution.toRdd.count() // materialize untimed
    val replay = spark.read.parquet(replayDir)
    val staged = replay.count()
    val media = spark.readStream.schema(replay.schema)
      .option("maxFilesPerTrigger", "2").parquet(replayDir)
    val t0 = System.nanoTime()
    val q = StreamingIngest.runBatches(media, Some(ckpt())) { (b, _) =>
      graft.multimodal.PerceptualHash.probeVideo(fidx,
        b.filter(col("media_id") % 20 =!= 0), everyN = 2, minShared = 2).count()
    }
    metricsOf(q, (System.nanoTime() - t0) / 1e9, staged)
  }

  /** Perceptual image near-dup twin: the standing aHash index is built
    * once untimed; each micro-batch decodes, hashes, and
    * Hamming-probes its images against it.
    */
  def benchMediaNearDup(spark: SparkSession, sfDir: String,
                        replayDir: String): StreamMetrics = {
    val corpus = graft.multimodal.Multimodal.realMedia(
      graft.Tables.documents(spark, sfDir).filter(col("doc_id") % 20 === 0))
    val cidx = graft.multimodal.PerceptualHash.buildImageIndex(corpus)
    cidx.index.queryExecution.toRdd.count() // materialize untimed
    val replay = spark.read.parquet(replayDir)
    val staged = replay.count()
    val media = spark.readStream.schema(replay.schema)
      .option("maxFilesPerTrigger", "2").parquet(replayDir)
    val t0 = System.nanoTime()
    val q = StreamingIngest.runBatches(media, Some(ckpt())) { (b, _) =>
      graft.multimodal.PerceptualHash.probeImages(cidx,
        b.filter(col("media_id") % 20 =!= 0), maxDist = 2).count()
    }
    metricsOf(q, (System.nanoTime() - t0) / 1e9, staged)
  }

  /** CURATION CAPSTONE twin ([[StreamingIngest.curateBatches]]): the
    * composed crawl pipeline — quality → repetition → token-set +
    * semantic + verbatim decontamination (standing SemIndex /
    * VerbatimIndex, built untimed) → incremental first-wins dedup
    * (standing keep table) → Knuth subsample — per micro-batch of the
    * docs replay, survivors landing exactly-once. The one twin that
    * exercises every standing-artifact family in a single loop; at
    * replay factors > 1 the replicated ids are exact duplicate texts,
    * so the dedup stage's keep table absorbs them (no id shift — the
    * fold is idempotent by design).
    */
  def benchCurate(spark: SparkSession, sfDir: String,
                  replayDir: String): StreamMetrics = {
    val d = graft.Tables.documents(spark, sfDir)
    val bench = d.filter(col("doc_id") % 20 === 0)
    val emb = graft.Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), col("embedding"))
    val semIdx = graft.ops.Similarity.buildSemIndex(emb,
      emb.filter(col("vec_id") % 20 === 0))
    semIdx.bench.queryExecution.toRdd.count() // materialize untimed
    val verbIdx = graft.ops.Decontaminate.buildVerbatimIndex(bench,
      col("doc_id"), col("text"))
    verbIdx.seeds.queryExecution.toRdd.count() // materialize untimed
    val replay = spark.read.parquet(replayDir)
    val staged = replay.count()
    val docs = spark.readStream.schema(replay.schema)
      .option("maxFilesPerTrigger", "2").parquet(replayDir)
    val outDir = tempDir("curate_out")
    val t0 = System.nanoTime()
    // the shared replay shifts replica ids by i*1e9 — out of
    // Sampling.hashBucket's [0, 2^31) id contract at factor >= 3;
    // remap to a 50M step (distinct for factors <= 42, well inside
    // the contract; the replicas stay exact duplicate texts, which is
    // the point — the keep table absorbs them)
    val safeId = (col("doc_id") % 1000000000L) +
      (col("doc_id") / 1000000000L) * 50000000L
    StreamingIngest.curateBatches(
      docs.filter(col("doc_id") % 20 =!= 0)
        .withColumn("doc_id", safeId), bench, emb, semIdx, verbIdx,
      outDir, Some(ckpt()))
    val elapsed = (System.nanoTime() - t0) / 1e9
    // metricsOf needs the query; curateBatches owns its own — derive
    // batch stats from the landed partitions instead
    val batches = Option(new java.io.File(outDir).listFiles())
      .map(_.count(_.getName.startsWith("ingest_batch="))).getOrElse(0)
    StreamMetrics(staged, elapsed,
      if (elapsed > 0) staged / elapsed else -1.0,
      if (batches > 0) elapsed * 1000.0 / batches else -1.0,
      batches)
  }

  /** Local scale-curve runner: rows/sec for the two twins at ×1/×4/×16
    * replay factors. Prints one JSON line per point (recorded in
    * BASELINE.md).
    */
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    val factors = sys.env.getOrElse("SPARK_GRAFT_STREAM_FACTORS", "1,4,16")
      .split(",").map(_.trim.toInt)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    // optional twin filter (comma-separated names) so one twin's
    // curve can be measured in isolation without staging the rest
    val only = sys.env.get("SPARK_GRAFT_STREAM_OPS")
      .map(_.split(",").map(_.trim).toSet)
    def want(name: String) = only.forall(_.contains(name))
    // SPARK_GRAFT_STREAM_RUNS > 1: repeat each selected twin and print
    // a median line — the streaming counterpart of tools/ReTime, so a
    // >10% twin mover ships with an isolated-median receipt
    // (RETIMED_rNN.json) the way batch movers do
    val streamRuns = math.max(1,
      sys.env.getOrElse("SPARK_GRAFT_STREAM_RUNS", "1").toInt)
    def line(name: String, f: Int, m: => StreamMetrics): Unit =
      if (want(name)) {
        val ms = (1 to streamRuns).map { _ =>
          val mm = m
          println(s"""{"stream":"$name","factor":$f,"rows":${mm.rows},"sec":${mm.elapsedSec},"rows_per_sec":${mm.rowsPerSec.toLong},"avg_batch_ms":${mm.avgBatchMs.toLong},"batches":${mm.batches}}""")
          mm
        }
        if (streamRuns > 1) {
          val obs = ms.map(_.elapsedSec).sorted
          println(s"""{"stream":"$name","factor":$f,"median_sec":${obs(obs.size / 2)},"runs":${ms.map(x => f"${x.elapsedSec}%.3f").mkString("[", ",", "]")}}""")
        }
      }
    factors.foreach { f =>
      // scope the end-of-factor drain to dirs THIS iteration stages
      val before = trackedDirs()
      lazy val ev = stageEvents(spark, sfDir, nFiles = 8, factor = f)
      lazy val docs = stageDocs(spark, sfDir, 8, f)
      lazy val media = stageMedia(spark, sfDir, 8, f)
      line("media_neardup", f, benchMediaNearDup(spark, sfDir, media))
      line("audio_neardup", f, benchAudioNearDup(spark, sfDir, media))
      line("video_neardup", f, benchVideoNearDup(spark, sfDir, stageVideo(spark, sfDir, 8, f)))
      line("dedup", f, benchDedup(spark, ev))
      line("decontam", f, benchDecontam(spark, sfDir, docs))
      lazy val embs = stageEmbeddings(spark, sfDir, 8, f)
      line("sem_decontam", f, benchSemDecontam(spark, sfDir, embs))
      line("graph_ann", f, benchGraphAnn(spark, sfDir, embs))
      line("self_knn", f, benchSelfKnn(spark, sfDir, embs, nCentroids = 16 * f))
      line("self_layered", f, benchSelfLayered(spark, sfDir, embs, nCentroids = 16 * f))
      line("sessionize", f, benchSessions(spark, ev))
      line("neardup", f, benchNearDup(spark, sfDir, docs))
      line("bpe_tokenize", f, benchBpeTokenize(spark, sfDir, docs))
      line("lm_score", f, benchLmScore(spark, sfDir, docs))
      line("unigram_tokenize", f, benchUnigramTokenize(spark, sfDir, docs))
      line("tfidf_score", f, benchTfidfScore(spark, sfDir, docs))
      line("substr_incr", f, benchSubstrIncr(spark, sfDir, docs))
      line("verbatim_decontam", f, benchVerbatimDecontam(spark, sfDir, docs))
      line("self_winnow", f, benchSelfWinnow(spark, sfDir, docs))
      line("curate", f, benchCurate(spark, sfDir, docs))
      cleanup(keep = before) // reclaim THIS factor's replays only
    }
    Runtime.getRuntime.halt(0)
  }
}
