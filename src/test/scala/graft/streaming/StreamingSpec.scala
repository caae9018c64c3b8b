package graft.streaming

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.{SparkTestSession, Tables}

/** Structured-Streaming twin of the ingest slice (SURVEY §7 step 4). */
class StreamingSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def eventsDir = {
    // copy sf0.001 events into a dir (streaming sources read directories)
    val dir = java.nio.file.Files.createTempDirectory("stream_events").toString
    Tables.events(spark, SparkTestSession.Sf).write.mode("overwrite")
      .parquet(dir)
    dir
  }

  test("readEvents streams the REAL testdata encoding (ts normalized)") {
    // the driver regenerated events.parquet as timestamp[us] NTZ once
    // already — the streaming source must read whatever encoding the
    // directory actually carries, not a hardcoded one
    val dir = java.nio.file.Files.createTempDirectory("se_real").toString
    // the driver writes events.parquet as a single pyarrow file
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"${SparkTestSession.Sf}/events.parquet"),
      java.nio.file.Paths.get(dir, "events.parquet"))
    val stream = StreamingIngest.readEvents(spark, dir)
    assert(stream.schema("ts").dataType ==
      org.apache.spark.sql.types.TimestampType)
    val out = StreamingIngest.runToMemory(spark,
      StreamingIngest.dedupedStream(stream), "real_enc_out")
    assert(out.count() == Tables.events(spark, SparkTestSession.Sf).count())
  }

  test("streaming decontamination equals the batch operator") {
    import graft.ops.Decontaminate
    val docs = Tables.documents(spark, SparkTestSession.Sf).limit(300).cache()
    val bench = Tables.documents(spark, SparkTestSession.Sf)
      .filter(col("doc_id") % 7 === 0).limit(40).cache()
    val inDir = java.nio.file.Files.createTempDirectory("sd_in").toString
    val outDir = java.nio.file.Files.createTempDirectory("sd_out").toString
    docs.repartition(3).write.mode("overwrite").parquet(inDir)
    val stream = spark.readStream.schema(docs.schema)
      .option("maxFilesPerTrigger", "1").parquet(inDir)
    StreamingIngest.decontaminatedBatches(stream, bench,
      n = 3, maxContamination = 0.5, outDir = outDir)
    val streamed = spark.read.parquet(outDir)
      .select("doc_id").as[Long].collect().toSet
    val batch = Decontaminate.decontaminated(docs, bench,
      col("doc_id"), col("text"), 3, 0.5)
      .select("doc_id").as[Long].collect().toSet
    assert(streamed == batch)
    assert(batch.size < 300) // the benchmark docs themselves got dropped
    docs.unpersist(); bench.unpersist()
  }

  test("streaming incremental near-dup equals the batch gate") {
    import graft.ops.MinHash
    val all = Tables.documents(spark, SparkTestSession.Sf).cache()
    val corpus = all.filter(col("doc_id") % 5 === 0)
    val batchDocs = all.filter(col("doc_id") % 5 =!= 0).limit(200).cache()
    val inDir = java.nio.file.Files.createTempDirectory("nd_in").toString
    val outDir = java.nio.file.Files.createTempDirectory("nd_out").toString
    batchDocs.repartition(3).write.mode("overwrite").parquet(inDir)
    // the standing index: built once, probed by every micro-batch
    val cidx = MinHash.buildIndex(corpus, col("doc_id"), col("text"))
    val stream = spark.readStream.schema(batchDocs.schema)
      .option("maxFilesPerTrigger", "1").parquet(inDir)
    StreamingIngest.nearDupBatches(stream, cidx, threshold = 0.5,
      outDir = outDir)
    val streamed = spark.read.parquet(outDir)
      .select("batch_id", "corpus_id", "jac")
      .as[(Long, Long, Double)].collect().toSet
    val batch = MinHash.nearDupAgainst(corpus, batchDocs,
      col("doc_id"), col("text"), threshold = 0.5)
      .as[(Long, Long, Double)].collect().toSet
    assert(streamed == batch)
    assert(batch.nonEmpty, "the split should surface at least one near-dup")
    all.unpersist(); batchDocs.unpersist()
  }

  test("nearDupBatches restart: same checkpoint resumes past committed batches") {
    import graft.ops.MinHash
    val all = Tables.documents(spark, SparkTestSession.Sf).cache()
    val corpus = all.filter(col("doc_id") % 5 === 0)
    val wave1 = all.filter(col("doc_id") % 5 === 1).limit(80).cache()
    val wave2 = all.filter(col("doc_id") % 5 === 2).limit(80).cache()
    val inDir = java.nio.file.Files.createTempDirectory("ndr_in").toString
    val outDir = java.nio.file.Files.createTempDirectory("ndr_out").toString
    val ckptDir = java.nio.file.Files.createTempDirectory("ndr_ck").toString
    val cidx = MinHash.buildIndex(corpus, col("doc_id"), col("text"))
    def stream() = spark.readStream.schema(wave1.schema)
      .option("maxFilesPerTrigger", "1").parquet(inDir)
    // wave 1 lands, stream runs to completion and stops
    wave1.repartition(2).write.mode("append").parquet(inDir)
    StreamingIngest.nearDupBatches(stream(), cidx, 0.5, outDir, Some(ckptDir))
    val afterW1 = new java.io.File(outDir).listFiles()
      .count(_.getName.startsWith("ingest_batch="))
    // re-run against the SAME checkpoint with no new data: nothing
    // reprocessed, no new batch dirs
    StreamingIngest.nearDupBatches(stream(), cidx, 0.5, outDir, Some(ckptDir))
    val afterRerun = new java.io.File(outDir).listFiles()
      .count(_.getName.startsWith("ingest_batch="))
    assert(afterRerun == afterW1, "an idle restart must not add batches")
    // wave 2 lands; the restarted stream processes ONLY the new files
    wave2.repartition(2).write.mode("append").parquet(inDir)
    StreamingIngest.nearDupBatches(stream(), cidx, 0.5, outDir, Some(ckptDir))
    val streamed = spark.read.parquet(outDir)
      .select("batch_id", "corpus_id", "jac")
      .as[(Long, Long, Double)].collect().toSet
    val batchAll = MinHash.nearDupAgainst(corpus, wave1.unionByName(wave2),
      col("doc_id"), col("text"), 0.5)
      .as[(Long, Long, Double)].collect().toSet
    assert(streamed == batchAll,
      s"resumed union != batch gate (${streamed.size} vs ${batchAll.size})")
    all.unpersist(); wave1.unpersist(); wave2.unpersist()
  }

  test("selfNearDupBatches: a later wave's dup of an earlier wave is caught") {
    import graft.ops.MinHash
    val all = Tables.documents(spark, SparkTestSession.Sf).cache()
    val corpus = all.filter(col("doc_id") % 5 === 0)
    // wave 1 carries doc X (novel vs corpus); wave 2 carries an exact
    // copy of X under a new id — catchable ONLY because wave 1 was
    // folded into the evolving index
    val xRow = all.filter(col("doc_id") % 5 === 1)
      .select("doc_id", "text").as[(Long, String)].head()
    val wave1 = all.filter(col("doc_id") % 5 === 1).limit(60)
      .select("doc_id", "text").cache()
    val wave2 = all.filter(col("doc_id") % 5 === 2).limit(60)
      .select("doc_id", "text")
      .unionByName(Seq((xRow._1 + 5000000L, xRow._2)).toDF("doc_id", "text"))
      .cache()
    val inDir = java.nio.file.Files.createTempDirectory("snd_in").toString
    val outDir = java.nio.file.Files.createTempDirectory("snd_out").toString
    val ckptDir = java.nio.file.Files.createTempDirectory("snd_ck").toString
    def stream() = spark.readStream.schema(wave1.schema)
      .option("maxFilesPerTrigger", "1").parquet(inDir)
    val idx0 = MinHash.buildIndex(corpus, col("doc_id"), col("text"))
    // run 1: wave 1 only — the returned index has absorbed it
    wave1.repartition(2).write.mode("append").parquet(inDir)
    val idx1 = StreamingIngest.selfNearDupBatches(stream(), idx0, 0.5,
      outDir, Some(ckptDir))
    // run 2 (checkpoint resume): wave 2 probes the EVOLVED index
    wave2.repartition(2).write.mode("append").parquet(inDir)
    StreamingIngest.selfNearDupBatches(stream(), idx1, 0.5,
      outDir, Some(ckptDir))
    val hits = spark.read.parquet(outDir)
      .select("batch_id", "corpus_id").as[(Long, Long)].collect().toSet
    assert(hits.contains((xRow._1 + 5000000L, xRow._1)),
      s"cross-wave dup not caught: $hits")
    all.unpersist(); wave1.unpersist(); wave2.unpersist()
  }

  test("selfLmBatches: the accepted wave retrains the model a later wave scores under") {
    import graft.ops.Lm
    val all = Tables.documents(spark, SparkTestSession.Sf).cache()
    val seed = Lm.trainCounts(all.filter(col("doc_id") % 5 === 0),
      col("lang") === lit("en"))
    // wave 1 plants 6 occurrences of a word the seed never saw; wave 2
    // is made of that word — scoreable as in-vocab ONLY because the
    // accepted wave 1 was folded into the evolving model
    val wave1 = all.filter(col("doc_id") % 5 === 1).limit(40)
      .select("doc_id", "text")
      .unionByName(Seq((8000001L, "zzql zzql zzql zzql zzql zzql"))
        .toDF("doc_id", "text")).cache()
    val wave2 = Seq((8000002L, "zzql zzql zzql zzql")).toDF("doc_id", "text")
      .cache()
    val inDir = java.nio.file.Files.createTempDirectory("slm_in").toString
    val outDir = java.nio.file.Files.createTempDirectory("slm_out").toString
    val ckptDir = java.nio.file.Files.createTempDirectory("slm_ck").toString
    def stream() = spark.readStream.schema(wave1.schema)
      .option("maxFilesPerTrigger", "1").parquet(inDir)
    val gate = Long.MaxValue // accept everything: the fold is under test
    wave1.repartition(2).write.mode("append").parquet(inDir)
    val m1 = StreamingIngest.selfLmBatches(stream(), seed, gate,
      outDir, Some(ckptDir))
    wave2.write.mode("append").parquet(inDir)
    StreamingIngest.selfLmBatches(stream(), m1, gate, outDir, Some(ckptDir))
    val streamed = spark.read.parquet(outDir)
      .filter(col("doc_id") === 8000002L)
      .select("bits_fp").as[Long].head()
    val underSeed = Lm.scoreWith(seed, wave2)
      .select("bits_fp").as[Long].head()
    val underEvolved = Lm.scoreWith(m1, wave2)
      .select("bits_fp").as[Long].head()
    assert(streamed == underEvolved,
      "wave 2 must score under the model that absorbed wave 1")
    assert(underEvolved < underSeed,
      "the planted word must be cheaper once wave 1 taught it to the model")
    all.unpersist(); wave1.unpersist(); wave2.unpersist()
  }

  test("selfLmBatches: rejected docs land nowhere and teach the model nothing") {
    import graft.ops.Lm
    val all = Tables.documents(spark, SparkTestSession.Sf).cache()
    val seed = Lm.trainCounts(all.filter(col("doc_id") % 5 === 0),
      col("lang") === lit("en"))
    val seedWords = seed.words.agg(sum(col("c"))).as[Long].head()
    val wave = all.filter(col("doc_id") % 5 === 3).limit(30)
      .select("doc_id", "text").cache()
    val inDir = java.nio.file.Files.createTempDirectory("slmr_in").toString
    val outDir = java.nio.file.Files.createTempDirectory("slmr_out").toString
    wave.write.mode("append").parquet(inDir)
    // bits_fp is always >= 0, so a negative gate rejects every doc
    val m1 = StreamingIngest.selfLmBatches(
      spark.readStream.schema(wave.schema)
        .option("maxFilesPerTrigger", "1").parquet(inDir),
      seed, gateBitsFp = -1L, outDir = outDir)
    assert(spark.read.parquet(outDir).isEmpty,
      "a rejecting gate must land no rows")
    assert(m1.words.agg(sum(col("c"))).as[Long].head() == seedWords,
      "rejected docs must not extend the model")
    all.unpersist(); wave.unpersist()
  }

  test("selfMediaNearDupBatches: a later wave's re-encode of an earlier wave is caught") {
    import graft.multimodal.{Codecs, Multimodal, PerceptualHash}
    val media = Multimodal.realMedia(
      Tables.documents(spark, SparkTestSession.Sf)).cache()
    val corpus = media.filter(col("media_id") % 5 === 0)
    // wave 1 carries bmp X (novel vs corpus); wave 2 carries X's
    // re-encode under a new id — catchable only via the evolved index
    val x = media.filter(col("media_id") % 5 === 1)
      .filter(col("media_id") % 4 === 0)
      .select("media_id").as[Long].head()
    def twin(off: Long) =
      Seq((x + off, Codecs.encodeBmp(Multimodal.genImage(x))))
        .toDF("media_id", "content")
        .select(col("media_id"), col("content"),
          struct(lit("bmp").as("format"), lit(0).as("width"),
            lit(0).as("height"), lit(1).as("n_frames")).as("meta"))
    val wave1 = media.filter(col("media_id") % 5 === 1).limit(50).cache()
    val wave2 = media.filter(col("media_id") % 5 === 2).limit(50)
      .unionByName(twin(5000000L)).cache()
    val inDir = java.nio.file.Files.createTempDirectory("smnd_in").toString
    val outDir = java.nio.file.Files.createTempDirectory("smnd_out").toString
    val ckptDir = java.nio.file.Files.createTempDirectory("smnd_ck").toString
    def stream() = spark.readStream.schema(wave1.schema)
      .option("maxFilesPerTrigger", "1").parquet(inDir)
    val idx0 = PerceptualHash.buildImageIndex(corpus)
    wave1.repartition(2).write.mode("append").parquet(inDir)
    val idx1 = StreamingIngest.selfMediaNearDupBatches(stream(), idx0,
      maxDist = 2, outDir, Some(ckptDir))
    wave2.repartition(2).write.mode("append").parquet(inDir)
    StreamingIngest.selfMediaNearDupBatches(stream(), idx1,
      maxDist = 2, outDir, Some(ckptDir))
    val hits = spark.read.parquet(outDir)
      .select("batch_id", "corpus_id").as[(Long, Long)].collect().toSet
    assert(hits.contains((x + 5000000L, x)),
      s"cross-wave media dup not caught: $hits")
    media.unpersist(); wave1.unpersist(); wave2.unpersist()
  }

  test("streaming semantic decontamination equals the batch operator") {
    import graft.ops.Similarity
    val emb = Tables.embeddings(spark, SparkTestSession.Sf).cache()
    val bench = emb.filter(col("vec_id") % 25 === 0)
    val idx = Similarity.buildSemIndex(emb, bench)
    val inDir = java.nio.file.Files.createTempDirectory("ssd_in").toString
    val outDir = java.nio.file.Files.createTempDirectory("ssd_out").toString
    emb.repartition(3).write.mode("overwrite").parquet(inDir)
    val stream = spark.readStream.schema(emb.schema)
      .option("maxFilesPerTrigger", "1").parquet(inDir)
    StreamingIngest.semDecontamBatches(stream, idx, threshold = 0.30,
      outDir = outDir)
    val streamed = spark.read.parquet(outDir)
      .select("vec_id", "bench_id", "score")
      .as[(Long, Long, Double)].collect().toSet
    // == the standing-index batch probe == the one-shot batch operator
    // (same corpus-seeded geometry)
    val probe = Similarity.probeSemIndex(idx, emb, 0.30)
      .as[(Long, Long, Double)].collect().toSet
    val oneShot = Similarity.semanticContamination(emb, bench, 0.30)
      .as[(Long, Long, Double)].collect().toSet
    assert(streamed == probe)
    assert(streamed == oneShot)
    assert(streamed.nonEmpty, "the sf corpus should flag at least one row")
    emb.unpersist()
  }

  test("streaming verbatim decontamination equals the batch operator") {
    import graft.ops.Decontaminate
    val d = Tables.documents(spark, SparkTestSession.Sf).cache()
    val bench = d.filter(col("doc_id") % 20 === 0)
    // natural corpus + one planted doc embedding a bench span: at
    // least one guaranteed verbatim hit regardless of natural overlap
    val benchText = bench.select("text").as[String].head()
    val corpus = d.filter(col("doc_id") % 20 =!= 0)
      .select("doc_id", "text")
      .unionByName(Seq((9000001L, s"planted prefix $benchText"))
        .toDF("doc_id", "text")).cache()
    val idx = Decontaminate.buildVerbatimIndex(bench, col("doc_id"),
      col("text"), minLen = 32, k = 16)
    val inDir = java.nio.file.Files.createTempDirectory("vd_in").toString
    val outDir = java.nio.file.Files.createTempDirectory("vd_out").toString
    corpus.repartition(3).write.mode("overwrite").parquet(inDir)
    val stream = spark.readStream.schema(corpus.schema)
      .option("maxFilesPerTrigger", "1").parquet(inDir)
    StreamingIngest.verbatimDecontamBatches(stream, idx, outDir)
    val streamed = spark.read.parquet(outDir)
      .select("doc_id", "n_grams", "n_hits", "contamination")
      .as[(Long, Long, Long, Double)].collect().toSet
    // == the standing-index probe == the one-shot batch operator
    val probe = Decontaminate.probeVerbatim(idx, corpus,
        col("doc_id"), col("text"))
      .as[(Long, Long, Long, Double)].collect().toSet
    val oneShot = Decontaminate.verbatimContaminationSampled(corpus, bench,
        col("doc_id"), col("text"), minLen = 32, k = 16)
      .as[(Long, Long, Long, Double)].collect().toSet
    assert(streamed == probe)
    assert(streamed == oneShot)
    assert(streamed.exists(r => r._1 == 9000001L && r._3 > 0L),
      "planted verbatim copy not flagged on the stream")
    d.unpersist(); corpus.unpersist()
  }

  test("verbatimDecontamBatches restart: checkpoint resume is exactly-once") {
    import graft.ops.Decontaminate
    val d = Tables.documents(spark, SparkTestSession.Sf).cache()
    val bench = d.filter(col("doc_id") % 20 === 0)
    val idx = Decontaminate.buildVerbatimIndex(bench, col("doc_id"),
      col("text"), minLen = 32, k = 16)
    // one bench span planted per wave: a guaranteed hit in both the
    // pre- and post-restart halves
    val benchTexts = bench.select("text").as[String].take(2)
    def planted(t: String, id: Long) =
      Seq((id, s"wave carrier $t")).toDF("doc_id", "text")
    val wave1 = d.filter(col("doc_id") % 20 === 1).select("doc_id", "text")
      .unionByName(planted(benchTexts(0), 5000001L)).cache()
    val wave2 = d.filter(col("doc_id") % 20 === 2).select("doc_id", "text")
      .unionByName(planted(benchTexts(1), 6000001L)).cache()
    restartContract("vdr", wave1, wave2,
      (st, out, ck) => StreamingIngest.verbatimDecontamBatches(st, idx, out, ck),
      b => Decontaminate.probeVerbatim(idx, b, col("doc_id"), col("text")),
      Seq("doc_id", "n_grams", "n_hits", "contamination"))
    d.unpersist(); wave1.unpersist(); wave2.unpersist()
  }

  test("semDecontamBatches restart: checkpoint resume is exactly-once") {
    import graft.ops.Similarity
    val emb = Tables.embeddings(spark, SparkTestSession.Sf).cache()
    val bench = emb.filter(col("vec_id") % 25 === 0)
    val idx = Similarity.buildSemIndex(emb, bench)
    // one bench embedding replayed under a new id per wave: an exact
    // cosine-1.0 hit in both the pre- and post-restart halves
    val benchRows = bench.select("vec_id", "embedding")
      .as[(Long, Array[Float])].take(2)
    def twin(src: (Long, Array[Float]), off: Long) =
      Seq((src._1 + off, src._2)).toDF("vec_id", "embedding")
    val wave1 = emb.filter(col("vec_id") % 5 === 1)
      .select("vec_id", "embedding")
      .unionByName(twin(benchRows(0), 5000000L)).cache()
    val wave2 = emb.filter(col("vec_id") % 5 === 2)
      .select("vec_id", "embedding")
      .unionByName(twin(benchRows(1), 6000000L)).cache()
    restartContract("ssdr", wave1, wave2,
      (st, out, ck) => StreamingIngest.semDecontamBatches(st, idx, 0.30, out, ck),
      b => Similarity.probeSemIndex(idx, b, 0.30),
      Seq("vec_id", "bench_id", "score"))
    emb.unpersist(); wave1.unpersist(); wave2.unpersist()
  }

  test("streaming graph ANN equals the batch beam search") {
    import graft.ops.KnnGraph
    val emb = Tables.embeddings(spark, SparkTestSession.Sf)
      .select("vec_id", "embedding").cache()
    val graph = KnnGraph.build(emb, k = 5)
    val queries = emb.filter(col("vec_id") >= 480).cache()
    val inDir = java.nio.file.Files.createTempDirectory("gann_in").toString
    val outDir = java.nio.file.Files.createTempDirectory("gann_out").toString
    queries.repartition(2).write.mode("overwrite").parquet(inDir)
    val stream = spark.readStream.schema(queries.schema)
      .option("maxFilesPerTrigger", "1").parquet(inDir)
    StreamingIngest.graphAnnBatches(stream, emb, graph,
      k = 5, beam = 16, rounds = 4, outDir = outDir)
    val streamed = spark.read.parquet(outDir)
      .select("query_id", "vec_id", "score", "rank")
      .as[(Long, Long, Double, Long)].collect().toSet
    val batch = KnnGraph.beamSearch(emb, graph,
        queries.select(col("vec_id").as("query_id"), col("embedding")),
        k = 5, beam = 16, rounds = 4)
      .as[(Long, Long, Double, Long)].collect().toSet
    assert(streamed == batch)
    assert(batch.nonEmpty)
    emb.unpersist(); queries.unpersist()
  }

  test("selfKnnBatches: the standing graph after every wave equals the one-shot build") {
    import graft.ops.KnnGraph
    val all = Tables.embeddings(spark, SparkTestSession.Sf)
      .select("vec_id", "embedding").cache()
    val seed = all.filter(col("vec_id") < 250)
    val wave1 = all.filter(col("vec_id") >= 250 && col("vec_id") < 375).cache()
    val wave2 = all.filter(col("vec_id") >= 375).cache()
    val inDir = java.nio.file.Files.createTempDirectory("sknn_in").toString
    val outDir = java.nio.file.Files.createTempDirectory("sknn_out").toString
    val ckptDir = java.nio.file.Files.createTempDirectory("sknn_ck").toString
    def stream() = spark.readStream.schema(wave1.schema)
      .option("maxFilesPerTrigger", "1").parquet(inDir)
    val g0 = KnnGraph.build(seed, k = 5)
    // run 1: wave 1 folds in batch by batch
    wave1.repartition(2).write.mode("append").parquet(inDir)
    val (emb1, g1) = StreamingIngest.selfKnnBatches(stream(), seed, g0,
      k = 5, beam = 16, rounds = 4, outDir, Some(ckptDir))
    // run 2 (checkpoint resume): wave 2 probes the evolved state
    wave2.repartition(2).write.mode("append").parquet(inDir)
    val (_, g2) = StreamingIngest.selfKnnBatches(stream(), emb1, g1,
      k = 5, beam = 16, rounds = 4, outDir, Some(ckptDir))
    // the standing graph is EXACTLY the one-shot build over everything
    // seen — fold-in order (4 micro-batches across 2 runs) invisible
    val incr = g2.orderBy("src", "rank")
      .as[(Long, Long, Double, Long)].collect().toSeq
    val full = KnnGraph.build(all, k = 5).orderBy("src", "rank")
      .as[(Long, Long, Double, Long)].collect().toSeq
    assert(incr == full, "self-maintained graph diverged from the rebuild")
    // every micro-batch wrote its probe output exactly once
    val batchDirs = new java.io.File(outDir).listFiles()
      .count(_.getName.startsWith("ingest_batch="))
    assert(batchDirs == 4, s"expected 4 batch outputs, got $batchDirs")
    all.unpersist(); wave1.unpersist(); wave2.unpersist()
  }

  test("selfLayeredBatches: the standing hierarchy after every wave equals the one-shot buildLayered") {
    import graft.ops.KnnGraph
    val all = Tables.embeddings(spark, SparkTestSession.Sf)
      .select("vec_id", "embedding").cache()
    val seed = all.filter(col("vec_id") < 250)
    val wave1 = all.filter(col("vec_id") >= 250 && col("vec_id") < 375).cache()
    val wave2 = all.filter(col("vec_id") >= 375).cache()
    val inDir = java.nio.file.Files.createTempDirectory("slay_in").toString
    val outDir = java.nio.file.Files.createTempDirectory("slay_out").toString
    val ckptDir = java.nio.file.Files.createTempDirectory("slay_ck").toString
    def stream() = spark.readStream.schema(wave1.schema)
      .option("maxFilesPerTrigger", "1").parquet(inDir)
    val lg0 = KnnGraph.buildLayered(seed, KnnGraph.build(seed, k = 5),
      k = 5, nCentroids = 16, entryStep = 5L, nLayers = 2)
    // run 1: wave 1 folds in batch by batch
    wave1.repartition(2).write.mode("append").parquet(inDir)
    val (emb1, lg1) = StreamingIngest.selfLayeredBatches(stream(), seed, lg0,
      k = 5, beam = 16, rounds = 3, outDir, Some(ckptDir))
    // run 2 (checkpoint resume): wave 2 probes the evolved hierarchy
    wave2.repartition(2).write.mode("append").parquet(inDir)
    val (_, lg2) = StreamingIngest.selfLayeredBatches(stream(), emb1, lg1,
      k = 5, beam = 16, rounds = 3, outDir, Some(ckptDir))
    // EVERY layer of the standing hierarchy is exactly the one-shot
    // buildLayered over everything seen — layer 0 by extend's
    // contract, the uppers never stale (fold-in order invisible)
    val full = KnnGraph.buildLayered(all, KnnGraph.build(all, k = 5),
      k = 5, nCentroids = 16, entryStep = 5L, nLayers = 2)
    assert(lg2.layers.size == full.layers.size)
    def rows(df: org.apache.spark.sql.DataFrame) = df.orderBy("src", "rank")
      .as[(Long, Long, Double, Long)].collect().toSeq
    lg2.layers.zip(full.layers).zipWithIndex.foreach { case ((got, want), l) =>
      assert(rows(got) == rows(want),
        s"layer $l diverged from the one-shot rebuild")
    }
    // every micro-batch wrote its probe output exactly once
    val batchDirs = new java.io.File(outDir).listFiles()
      .count(_.getName.startsWith("ingest_batch="))
    assert(batchDirs == 4, s"expected 4 batch outputs, got $batchDirs")
    all.unpersist(); wave1.unpersist(); wave2.unpersist()
  }

  test("curateBatches: landed survivors equal the one-shot curateFull; a retried batch re-lands identically") {
    import graft.ops.{Curate, Decontaminate, Similarity}
    val d = Tables.documents(spark, SparkTestSession.Sf).cache()
    val corpus = d.filter(col("doc_id") % 20 =!= 0)
    val bench = d.filter(col("doc_id") % 20 === 0).cache()
    val emb = Tables.embeddings(spark, SparkTestSession.Sf)
      .select(col("vec_id"), col("embedding")).cache()
    // standing bench artifacts, built once (the production shape)
    val semIdx = Similarity.buildSemIndex(emb,
      emb.filter(col("vec_id") % 20 === 0))
    val verbIdx = Decontaminate.buildVerbatimIndex(bench,
      col("doc_id"), col("text"))
    // monotone-id waves (the crawl convention first-wins rests on):
    // one id-ranged file per wave, consumed in write order
    val cut = 250L
    val wave1 = corpus.filter(col("doc_id") < cut).cache()
    val wave2 = corpus.filter(col("doc_id") >= cut).cache()
    val inDir = java.nio.file.Files.createTempDirectory("cur_in").toString
    val outDir = java.nio.file.Files.createTempDirectory("cur_out").toString
    val ckptDir = java.nio.file.Files.createTempDirectory("cur_ck").toString
    def stream() = spark.readStream.schema(wave1.schema)
      .option("maxFilesPerTrigger", "1").parquet(inDir)
    wave1.coalesce(1).write.mode("append").parquet(inDir)
    val seen1 = StreamingIngest.curateBatches(stream(), bench, emb,
      semIdx, verbIdx, outDir, Some(ckptDir))
    // checkpoint resume: wave 2 adjudicates against the standing keep
    wave2.coalesce(1).write.mode("append").parquet(inDir)
    val seen2 = StreamingIngest.curateBatches(stream(), bench, emb,
      semIdx, verbIdx, outDir, Some(ckptDir), seedSeen = Some(seen1))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select(col("id"), col("quality"), col("top_gram_frac"),
        col("contamination")).orderBy(col("id"))
        .as[(Long, Double, Double, Double)].collect().toSeq
    val landed = rows(spark.read.parquet(outDir))
    val oneShot = rows(Curate.curateFull(corpus, bench, emb, semIdx,
      verbIdx, col("doc_id"), col("text")))
    assert(landed.nonEmpty, "the capstone must keep something")
    assert(landed == oneShot,
      "streamed survivors diverged from the one-shot curateFull")
    // the keep table is exactly first-wins over everything seen
    val keepGot = seen2.as[(String, Long)].collect().toMap
    val keepWant = corpus.groupBy(col("text"))
      .agg(min(col("doc_id")).as("k")).as[(String, Long)].collect().toMap
    assert(keepGot == keepWant, "keep table diverged from min-id-per-text")
    // RETRY IDEMPOTENCE (the restart contract): replay the last wave
    // against the ALREADY-FOLDED keep table — the min-merge fold is a
    // no-op and the adjudication re-lands exactly the same survivors
    val inDir2 = java.nio.file.Files.createTempDirectory("cur_in2").toString
    val outDir2 = java.nio.file.Files.createTempDirectory("cur_out2").toString
    wave2.coalesce(1).write.mode("append").parquet(inDir2)
    val seen3 = StreamingIngest.curateBatches(
      spark.readStream.schema(wave1.schema)
        .option("maxFilesPerTrigger", "1").parquet(inDir2),
      bench, emb, semIdx, verbIdx, outDir2,
      Some(java.nio.file.Files.createTempDirectory("cur_ck2").toString),
      seedSeen = Some(seen2))
    val wave2Ids = wave2.select("doc_id").as[Long].collect().toSet
    assert(rows(spark.read.parquet(outDir2)) ==
      landed.filter(r => wave2Ids(r._1)),
      "a retried batch must re-land exactly its first attempt's rows")
    assert(seen3.as[(String, Long)].collect().toMap == keepWant,
      "re-folding a seen batch must not move the keep table")
    d.unpersist(); bench.unpersist(); emb.unpersist()
    wave1.unpersist(); wave2.unpersist()
  }

  test("streaming BPE tokenization equals the batch operator (incl. OOV words)") {
    import graft.ops.Bpe
    val docs = Tables.documents(spark, SparkTestSession.Sf)
      .select("doc_id", "text").cache()
    val model = Bpe.train(docs, col("text"), nMerges = 8)
    // ingest = the corpus plus one doc of words the model never saw:
    // the OOV arm must segment on the fly, identically in both modes
    val ingest = docs.unionByName(
      Seq((9000001L, "zzqj zzqj xylophone")).toDF("doc_id", "text")).cache()
    val inDir = java.nio.file.Files.createTempDirectory("sbpe_in").toString
    val outDir = java.nio.file.Files.createTempDirectory("sbpe_out").toString
    ingest.repartition(3).write.mode("overwrite").parquet(inDir)
    val stream = spark.readStream.schema(ingest.schema)
      .option("maxFilesPerTrigger", "1").parquet(inDir)
    StreamingIngest.bpeTokenizeBatches(stream, model, outDir)
    val streamed = spark.read.parquet(outDir)
      .select("doc_id", "n_words", "n_tokens")
      .as[(Long, Long, Long)].collect().toSet
    val batch = Bpe.tokenCounts(ingest, col("doc_id"), col("text"), model)
      .as[(Long, Long, Long)].collect().toSet
    assert(streamed == batch)
    assert(streamed.exists(_._1 == 9000001L), "OOV doc must be tokenized")
    docs.unpersist(); ingest.unpersist()
  }

  test("bpeTokenizeBatches restart: checkpoint resume is exactly-once") {
    import graft.ops.Bpe
    val docs = Tables.documents(spark, SparkTestSession.Sf)
      .select("doc_id", "text").cache()
    val model = Bpe.train(docs, col("text"), nMerges = 8)
    val wave1 = docs.filter(col("doc_id") % 5 === 1)
      .unionByName(Seq((9000002L, "qqzx vvkw")).toDF("doc_id", "text")).cache()
    val wave2 = docs.filter(col("doc_id") % 5 === 2)
      .unionByName(Seq((9000003L, "wwvk xzqq")).toDF("doc_id", "text")).cache()
    restartContract("sbper", wave1, wave2,
      (st, out, ck) => StreamingIngest.bpeTokenizeBatches(st, model, out, ck),
      b => Bpe.tokenCounts(b, col("doc_id"), col("text"), model),
      Seq("doc_id", "n_words", "n_tokens"))
    docs.unpersist(); wave1.unpersist(); wave2.unpersist()
  }

  test("streaming unigram tokenization equals the batch operator (incl. OOV chars)") {
    import graft.ops.Unigram
    val docs = Tables.documents(spark, SparkTestSession.Sf)
      .select("doc_id", "text").cache()
    val model = Unigram.train(docs, col("text"))
    // ingest = the corpus plus one doc with CHARACTERS the model never
    // saw: the <unk> Inf-penalty arm must price them, identically in
    // both modes, instead of failing
    val ingest = docs.unionByName(
      Seq((9000011L, "Z9@X qqq#Q")).toDF("doc_id", "text")).cache()
    val inDir = java.nio.file.Files.createTempDirectory("sug_in").toString
    val outDir = java.nio.file.Files.createTempDirectory("sug_out").toString
    ingest.repartition(3).write.mode("overwrite").parquet(inDir)
    val stream = spark.readStream.schema(ingest.schema)
      .option("maxFilesPerTrigger", "1").parquet(inDir)
    StreamingIngest.unigramTokenizeBatches(stream, model, outDir)
    val streamed = spark.read.parquet(outDir)
      .select("doc_id", "n_words", "n_pieces", "nll_fp")
      .as[(Long, Long, Long, Long)].collect().toSet
    val batch = Unigram.tokenCounts(ingest, col("doc_id"), col("text"), model)
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(streamed == batch)
    assert(streamed.exists(_._1 == 9000011L), "OOV-char doc must be tokenized")
    docs.unpersist(); ingest.unpersist()
  }

  test("unigramTokenizeBatches restart: checkpoint resume is exactly-once") {
    import graft.ops.Unigram
    val docs = Tables.documents(spark, SparkTestSession.Sf)
      .select("doc_id", "text").cache()
    val model = Unigram.train(docs, col("text"))
    val wave1 = docs.filter(col("doc_id") % 5 === 1)
      .unionByName(Seq((9000012L, "Q9#z xx")).toDF("doc_id", "text")).cache()
    val wave2 = docs.filter(col("doc_id") % 5 === 2)
      .unionByName(Seq((9000013L, "zz 9#Qx")).toDF("doc_id", "text")).cache()
    restartContract("sugr", wave1, wave2,
      (st, out, ck) => StreamingIngest.unigramTokenizeBatches(st, model, out, ck),
      b => Unigram.tokenCounts(b, col("doc_id"), col("text"), model),
      Seq("doc_id", "n_words", "n_pieces", "nll_fp"))
    docs.unpersist(); wave1.unpersist(); wave2.unpersist()
  }

  test("lmScoreBatches restart: checkpoint resume is exactly-once") {
    import graft.ops.Lm
    val docs = Tables.documents(spark, SparkTestSession.Sf).cache()
    val model = Lm.trainCounts(docs, col("lang") === lit("en"))
    val wave1 = docs.filter(col("doc_id") % 5 === 1)
      .select("doc_id", "text").cache()
    val wave2 = docs.filter(col("doc_id") % 5 === 2)
      .select("doc_id", "text").cache()
    restartContract("slmr", wave1, wave2,
      (st, out, ck) => StreamingIngest.lmScoreBatches(st, model, out, ck),
      b => Lm.scoreWith(model, b),
      Seq("doc_id", "n_bigrams", "nll_fp", "bits_fp"))
    docs.unpersist(); wave1.unpersist(); wave2.unpersist()
  }

  test("dfScoreBatches restart: checkpoint resume is exactly-once") {
    import graft.ops.Tfidf
    val docs = Tables.documents(spark, SparkTestSession.Sf).cache()
    val model = Tfidf.trainDfStats(docs.filter(col("doc_id") % 5 === 0),
      col("doc_id"), col("text"))
    val wave1 = docs.filter(col("doc_id") % 5 === 1)
      .select("doc_id", "text").cache()
    val wave2 = docs.filter(col("doc_id") % 5 === 2)
      .select("doc_id", "text").cache()
    restartContract("dfsr", wave1, wave2,
      (st, out, ck) => StreamingIngest.dfScoreBatches(st, model, 3, out, ck),
      b => Tfidf.topTermsAgainst(model, b, col("doc_id"), col("text"), 3),
      Seq("id", "term", "tf", "df", "score"))
    docs.unpersist(); wave1.unpersist(); wave2.unpersist()
  }

  test("selfDfBatches: standing stats after every wave equal the one-shot training") {
    import graft.ops.Tfidf
    val docs = Tables.documents(spark, SparkTestSession.Sf)
    val seedDocs = docs.filter(col("doc_id") % 5 === 0).cache()
    val waves = docs.filter(col("doc_id") % 5 =!= 0)
      .select("doc_id", "text").cache()
    val inDir = java.nio.file.Files.createTempDirectory("sdf_in").toString
    val outDir = java.nio.file.Files.createTempDirectory("sdf_out").toString
    waves.repartition(3).write.mode("overwrite").parquet(inDir)
    val stream = spark.readStream.schema(waves.schema)
      .option("maxFilesPerTrigger", "1").parquet(inDir)
    val finalStats = StreamingIngest.selfDfBatches(stream,
      Tfidf.trainDfStats(seedDocs, col("doc_id"), col("text")), 3, outDir)
    // extend == retrain, folded across arbitrary micro-batch cuts:
    // the standing stats equal one-shot training over everything seen
    val oneShot = Tfidf.trainDfStats(seedDocs.select("doc_id", "text")
      .unionByName(waves), col("doc_id"), col("text"))
    assert(finalStats.nDocs == oneShot.nDocs)
    assert(finalStats.df.orderBy("term").as[(String, Long)].collect().toSeq ==
      oneShot.df.orderBy("term").as[(String, Long)].collect().toSeq)
    // every wave's scores landed exactly once
    val streamedDocs = spark.read.parquet(outDir)
      .select("id").distinct().count()
    assert(streamedDocs == waves.count())
    seedDocs.unpersist(); waves.unpersist()
  }

  test("selfSubstrBatches: the standing inventory after every wave equals the one-shot re-mine") {
    import graft.ops.SuffixArray
    val docs = Tables.documents(spark, SparkTestSession.Sf)
    val seedDocs = docs.filter(col("doc_id") % 5 === 0).cache()
    val waves = docs.filter(col("doc_id") % 5 =!= 0)
      .select("doc_id", "text").cache()
    val inDir = java.nio.file.Files.createTempDirectory("ssub_in").toString
    val outDir = java.nio.file.Files.createTempDirectory("ssub_out").toString
    waves.repartition(3).write.mode("overwrite").parquet(inDir)
    val stream = spark.readStream.schema(waves.schema)
      .option("maxFilesPerTrigger", "1").parquet(inDir)
    val (finalInv, _) = StreamingIngest.selfSubstrBatches(stream, seedDocs,
      SuffixArray.trainRepeatGroups(seedDocs, col("doc_id"), col("text"),
        minLen = 32), outDir)
    // extend == re-mine, folded across arbitrary micro-batch cuts:
    // the standing inventory equals the one-shot mine over everything
    val oneShot = SuffixArray.repeatGroups(
      seedDocs.select("doc_id", "text").unionByName(waves),
      col("doc_id"), col("text"), minLen = 32)
    assert(finalInv.members.orderBy("doc_id", "pos")
      .as[(Long, Long, Long, Long)].collect().toSeq ==
      oneShot.orderBy("doc_id", "pos")
        .as[(Long, Long, Long, Long)].collect().toSeq)
    // batch outputs cover exactly the waves' member rows of the FINAL
    // inventory that existed when their batch folded — at minimum,
    // every span doc that landed is a wave doc, exactly once per batch
    val landed = spark.read.parquet(outDir).select("doc_id").distinct()
      .as[Long].collect().toSet
    val waveIds = waves.select("doc_id").as[Long].collect().toSet
    assert(landed.subsetOf(waveIds))
    seedDocs.unpersist(); waves.unpersist()
  }

  test("selfWinnowBatches: landed pairs across all waves == the one-shot pair probe over everything") {
    import graft.ops.SubstringDedup
    val docs = Tables.documents(spark, SparkTestSession.Sf)
    val seedDocs = docs.filter(col("doc_id") % 5 === 0).cache()
    val waves = docs.filter(col("doc_id") % 5 =!= 0)
      .select("doc_id", "text").cache()
    val inDir = java.nio.file.Files.createTempDirectory("swin_in").toString
    val outDir = java.nio.file.Files.createTempDirectory("swin_out").toString
    waves.repartition(3).write.mode("overwrite").parquet(inDir)
    val stream = spark.readStream.schema(waves.schema)
      .option("maxFilesPerTrigger", "1").parquet(inDir)
    val (finalIdx, _) = StreamingIngest.selfWinnowBatches(stream, seedDocs,
      SubstringDedup.buildWinnowIndex(seedDocs, col("doc_id"), col("text")),
      outDir, compactEvery = 2)
    // every pair lands exactly when its LATER document arrives, so the
    // union over batches is the full pair set minus seed-internal pairs
    val landed = spark.read.parquet(outDir)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSeq
    assert(landed.distinct.length == landed.length,
      "a pair landed in two batches — the retry/fold-in accounting leaked")
    val full = SubstringDedup.verbatimDupPairs(docs, col("doc_id"),
        col("text"), minLen = 32, k = 16)
      .as[(Long, Long)].collect().toSeq
    val expected = full.filter(p => p._1 % 5 != 0 || p._2 % 5 != 0).sorted
    assert(landed.sorted == expected)
    assert(expected.nonEmpty, "no cross-wave pairs — fixture too weak")
    // the folded index == one-shot build over everything seen
    assert(finalIdx.fps.orderBy("doc_id", "pos")
      .as[(Long, Long, Long)].collect().toSeq ==
      SubstringDedup.buildWinnowIndex(docs, col("doc_id"), col("text"))
        .fps.orderBy("doc_id", "pos")
        .as[(Long, Long, Long)].collect().toSeq)
    seedDocs.unpersist(); waves.unpersist()
  }

  test("selfWinnowBatches restart: resumed crawl catches a cross-restart verbatim copy exactly once") {
    import graft.ops.SubstringDedup
    val docs = Tables.documents(spark, SparkTestSession.Sf).cache()
    val seedDocs = docs.filter(col("doc_id") % 5 === 0)
    // wave-2 doc 6000001 is a verbatim copy of wave-1 doc 5000001 —
    // neither is in the seed corpus, so only the self-maintaining
    // fold-in across the RESTART can catch the pair
    val copied = docs.filter(col("doc_id") % 5 === 1)
      .select("text").as[String].head()
    val wave1 = Seq((5000001L, s"wave one carrier $copied"))
      .toDF("doc_id", "text").cache()
    val wave2 = Seq((6000001L, s"wave two carrier $copied"))
      .toDF("doc_id", "text").cache()
    val inDir = java.nio.file.Files.createTempDirectory("swinr_in").toString
    val outDir = java.nio.file.Files.createTempDirectory("swinr_out").toString
    val ckptDir = java.nio.file.Files.createTempDirectory("swinr_ck").toString
    def stream() = spark.readStream.schema(wave1.schema)
      .option("maxFilesPerTrigger", "1").parquet(inDir)
    val idx0 = SubstringDedup.buildWinnowIndex(seedDocs,
      col("doc_id"), col("text"))
    wave1.repartition(1).write.mode("append").parquet(inDir)
    val (idx1, corpus1) = StreamingIngest.selfWinnowBatches(stream(),
      seedDocs, idx0, outDir, Some(ckptDir))
    // restart: process state rebuilt by the caller (the documented
    // contract — the checkpoint tracks consumed files only)
    wave2.repartition(1).write.mode("append").parquet(inDir)
    StreamingIngest.selfWinnowBatches(stream(), corpus1, idx1, outDir,
      Some(ckptDir))
    val landed = spark.read.parquet(outDir)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSeq
    assert(landed.count(_ == (5000001L, 6000001L)) == 1,
      s"cross-restart verbatim copy not caught exactly once: $landed")
    docs.unpersist(); wave1.unpersist(); wave2.unpersist()
  }

  test("selfSubstrBatches compaction cadence: identical answer, collapsed artifact plans") {
    import graft.ops.SuffixArray
    val docs = Tables.documents(spark, SparkTestSession.Sf)
    val seedDocs = docs.filter(col("doc_id") % 5 === 0).cache()
    val waves = docs.filter(col("doc_id") % 5 =!= 0)
      .select("doc_id", "text").cache()
    def run(compactEvery: Int) = {
      val inDir = java.nio.file.Files.createTempDirectory("ssubc_in").toString
      val outDir = java.nio.file.Files.createTempDirectory("ssubc_out").toString
      waves.repartition(4).write.mode("overwrite").parquet(inDir)
      val stream = spark.readStream.schema(waves.schema)
        .option("maxFilesPerTrigger", "1").parquet(inDir)
      StreamingIngest.selfSubstrBatches(stream, seedDocs,
        SuffixArray.trainRepeatGroups(seedDocs, col("doc_id"), col("text"),
          minLen = 32), outDir, compactEvery = compactEvery)
    }
    val (invPlain, corpusPlain) = run(0)
    val (invComp, corpusComp) = run(2)
    def members(inv: SuffixArray.RepeatInventory) =
      inv.members.orderBy("doc_id", "pos")
        .as[(Long, Long, Long, Long)].collect().toSeq
    // the knob changes plan shape only, never the answer
    assert(members(invComp) == members(invPlain))
    assert(corpusComp.orderBy("doc_id").as[(Long, String)].collect().toSeq ==
      corpusPlain.orderBy("doc_id").as[(Long, String)].collect().toSeq)
    // 4 batches, compaction every 2: the growing unions collapse —
    // plan leaves stay bounded by the cadence instead of one per batch
    def leaves(df: org.apache.spark.sql.DataFrame) =
      df.queryExecution.optimizedPlan.collectLeaves().size
    assert(leaves(corpusPlain) == 5, s"plain: ${leaves(corpusPlain)}") // seed + 4 waves
    assert(leaves(corpusComp) <= 3, s"compacted: ${leaves(corpusComp)}")
    assert(leaves(invComp.fps) <= 3, s"compacted fps: ${leaves(invComp.fps)}")
    seedDocs.unpersist(); waves.unpersist()
  }

  test("streaming perceptual image near-dup equals the batch probe") {
    import graft.multimodal.{Multimodal, PerceptualHash}
    val media = Multimodal.realMedia(
      Tables.documents(spark, SparkTestSession.Sf)).cache()
    val corpus = media.filter(col("media_id") % 5 === 0)
    val batch = media.filter(col("media_id") % 5 =!= 0).limit(150).cache()
    val inDir = java.nio.file.Files.createTempDirectory("mnd_in").toString
    val outDir = java.nio.file.Files.createTempDirectory("mnd_out").toString
    batch.repartition(3).write.mode("overwrite").parquet(inDir)
    val cidx = PerceptualHash.buildImageIndex(corpus)
    val stream = spark.readStream.schema(batch.schema)
      .option("maxFilesPerTrigger", "1").parquet(inDir)
    StreamingIngest.mediaNearDupBatches(stream, cidx, maxDist = 2,
      outDir = outDir)
    val streamed = spark.read.parquet(outDir)
      .select("batch_id", "corpus_id", "dist")
      .as[(Long, Long, Long)].collect().toSet
    val direct = PerceptualHash.probeImages(cidx, batch, maxDist = 2)
      .as[(Long, Long, Long)].collect().toSet
    assert(streamed == direct)
    assert(direct.nonEmpty, "the split should surface image near-dups")
    media.unpersist(); batch.unpersist()
  }

  test("streaming audio near-dup equals the batch probe") {
    import graft.multimodal.{Codecs, Multimodal, PerceptualHash}
    val media = Multimodal.realMedia(
      Tables.documents(spark, SparkTestSession.Sf)).cache()
    val corpus = media.filter(col("media_id") % 5 === 0)
    // a corpus wav id (format slot doc_id % 4 == 2) re-encoded under a
    // new id guarantees at least one cross-split energy-hash dup
    val dupOf = corpus.filter(col("media_id") % 4 === 2)
      .select("media_id").as[Long].head()
    val twin = Seq((dupOf + 5000000L,
      Codecs.encodeWav(Multimodal.genAudio(dupOf))))
      .toDF("media_id", "content")
      .select(col("media_id"), col("content"),
        struct(lit("wav").as("format"), lit(0).as("width"),
          lit(0).as("height"), lit(1).as("n_frames")).as("meta"))
    val batch = media.filter(col("media_id") % 5 =!= 0).limit(150)
      .unionByName(twin).cache()
    val inDir = java.nio.file.Files.createTempDirectory("and_in").toString
    val outDir = java.nio.file.Files.createTempDirectory("and_out").toString
    batch.repartition(3).write.mode("overwrite").parquet(inDir)
    val cidx = PerceptualHash.buildAudioIndex(corpus)
    val stream = spark.readStream.schema(batch.schema)
      .option("maxFilesPerTrigger", "1").parquet(inDir)
    StreamingIngest.audioNearDupBatches(stream, cidx, maxDist = 3,
      outDir = outDir)
    val streamed = spark.read.parquet(outDir)
      .select("batch_id", "corpus_id", "dist")
      .as[(Long, Long, Long)].collect().toSet
    val direct = PerceptualHash.probeAudio(cidx, batch, maxDist = 3)
      .as[(Long, Long, Long)].collect().toSet
    assert(streamed == direct)
    assert(direct.contains((dupOf + 5000000L, dupOf, 0L)),
      s"planted audio dup missing: $direct")
    media.unpersist(); batch.unpersist()
  }

  test("streaming video near-dup equals the batch probe") {
    import graft.multimodal.{Codecs, Multimodal, PerceptualHash}
    val video = Multimodal.videoMedia(
      Tables.documents(spark, SparkTestSession.Sf)).cache()
    val corpus = video.filter(col("media_id") % 5 === 0)
    // a corpus clip with >= 3 frames (two SAMPLED frames at stride 2)
    // whose sampled frames hash DISTINCTLY (the synthetic gradients
    // make some frames collide — a collided clip has one distinct
    // hash and can never reach minShared=2), re-encoded under a new id
    val dupOf = corpus.filter(col("media_id") % 4 >= 1) // nf = 2 + id%4 >= 3
      .select("media_id").as[Long].collect()
      .find { id =>
        PerceptualHash.ahash64(Multimodal.genVideoFrame(id, 0)) !=
          PerceptualHash.ahash64(Multimodal.genVideoFrame(id, 2))
      }.get
    val twin = Seq((dupOf + 5000000L,
      Codecs.encodeAniQoi((0 until Multimodal.videoFrameCount(dupOf))
        .map(f => Multimodal.genVideoFrame(dupOf, f)))))
      .toDF("media_id", "content")
      .select(col("media_id"), col("content"),
        struct(lit("aqoi").as("format"), lit(0).as("width"),
          lit(0).as("height"), lit(2).as("n_frames")).as("meta"))
    val batch = video.filter(col("media_id") % 5 =!= 0).limit(120)
      .unionByName(twin).cache()
    val inDir = java.nio.file.Files.createTempDirectory("vnd_in").toString
    val outDir = java.nio.file.Files.createTempDirectory("vnd_out").toString
    batch.repartition(3).write.mode("overwrite").parquet(inDir)
    val fidx = PerceptualHash.buildVideoIndex(corpus, everyN = 2)
    val stream = spark.readStream.schema(batch.schema)
      .option("maxFilesPerTrigger", "1").parquet(inDir)
    StreamingIngest.videoNearDupBatches(stream, fidx, everyN = 2,
      minShared = 2, outDir = outDir)
    val streamed = spark.read.parquet(outDir)
      .select("batch_id", "corpus_id", "n_shared")
      .as[(Long, Long, Long)].collect().toSet
    val direct = PerceptualHash.probeVideo(fidx, batch, everyN = 2,
      minShared = 2)
      .as[(Long, Long, Long)].collect().toSet
    assert(streamed == direct)
    assert(direct.exists(p => p._1 == dupOf + 5000000L && p._2 == dupOf &&
      p._3 >= 2L), s"planted video dup missing: $direct")
    video.unpersist(); batch.unpersist()
  }

  /** Shared kill-and-resume contract for the standing-index twins
    * (the nearDupBatches restart shape): wave 1 → run; idle restart
    * against the SAME checkpoint adds nothing; wave 2 → the resumed
    * stream processes ONLY the new files; the union of all batch dirs
    * equals the direct probe over wave1 ∪ wave2, exactly once.
    */
  private def restartContract(
      tag: String,
      wave1: org.apache.spark.sql.DataFrame,
      wave2: org.apache.spark.sql.DataFrame,
      start: (org.apache.spark.sql.DataFrame, String, Option[String]) => Unit,
      direct: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame,
      cols: Seq[String]): Unit = {
    val inDir = java.nio.file.Files.createTempDirectory(s"${tag}_in").toString
    val outDir = java.nio.file.Files.createTempDirectory(s"${tag}_out").toString
    val ckptDir = java.nio.file.Files.createTempDirectory(s"${tag}_ck").toString
    def stream() = spark.readStream.schema(wave1.schema)
      .option("maxFilesPerTrigger", "1").parquet(inDir)
    def batchDirs() = new java.io.File(outDir).listFiles()
      .count(_.getName.startsWith("ingest_batch="))
    wave1.repartition(2).write.mode("append").parquet(inDir)
    start(stream(), outDir, Some(ckptDir))
    val afterW1 = batchDirs()
    start(stream(), outDir, Some(ckptDir))
    assert(batchDirs() == afterW1, s"$tag: idle restart must not add batches")
    wave2.repartition(2).write.mode("append").parquet(inDir)
    start(stream(), outDir, Some(ckptDir))
    val streamed = spark.read.parquet(outDir)
      .select(cols.head, cols.tail: _*).collect().map(_.toSeq).toSet
    val batchAll = direct(wave1.unionByName(wave2))
      .select(cols.head, cols.tail: _*).collect().map(_.toSeq).toSet
    assert(streamed == batchAll,
      s"$tag: resumed union != batch probe (${streamed.size} vs ${batchAll.size})")
    assert(batchAll.nonEmpty, s"$tag: planted twins should surface pairs")
  }

  test("mediaNearDupBatches restart: checkpoint resume is exactly-once") {
    import graft.multimodal.{Codecs, Multimodal, PerceptualHash}
    val media = Multimodal.realMedia(
      Tables.documents(spark, SparkTestSession.Sf)).cache()
    val corpus = media.filter(col("media_id") % 5 === 0)
    // one corpus bmp re-encoded under a new id per wave: a guaranteed
    // dist-0 pair in BOTH the pre- and post-restart halves
    val bmpIds = corpus.filter(col("media_id") % 4 === 0)
      .select("media_id").as[Long].take(2)
    def twin(src: Long, off: Long) =
      Seq((src + off, Codecs.encodeBmp(Multimodal.genImage(src))))
        .toDF("media_id", "content")
        .select(col("media_id"), col("content"),
          struct(lit("bmp").as("format"), lit(0).as("width"),
            lit(0).as("height"), lit(1).as("n_frames")).as("meta"))
    val wave1 = media.filter(col("media_id") % 5 === 1).limit(60)
      .unionByName(twin(bmpIds(0), 5000000L)).cache()
    val wave2 = media.filter(col("media_id") % 5 === 2).limit(60)
      .unionByName(twin(bmpIds(1), 6000000L)).cache()
    val cidx = PerceptualHash.buildImageIndex(corpus)
    restartContract("mndr", wave1, wave2,
      (st, out, ck) => StreamingIngest.mediaNearDupBatches(st, cidx, 2, out, ck),
      b => PerceptualHash.probeImages(cidx, b, maxDist = 2),
      Seq("batch_id", "corpus_id", "dist"))
    media.unpersist(); wave1.unpersist(); wave2.unpersist()
  }

  test("audioNearDupBatches restart: checkpoint resume is exactly-once") {
    import graft.multimodal.{Codecs, Multimodal, PerceptualHash}
    val media = Multimodal.realMedia(
      Tables.documents(spark, SparkTestSession.Sf)).cache()
    val corpus = media.filter(col("media_id") % 5 === 0)
    val wavIds = corpus.filter(col("media_id") % 4 === 2)
      .select("media_id").as[Long].take(2)
    def twin(src: Long, off: Long) =
      Seq((src + off, Codecs.encodeWav(Multimodal.genAudio(src))))
        .toDF("media_id", "content")
        .select(col("media_id"), col("content"),
          struct(lit("wav").as("format"), lit(0).as("width"),
            lit(0).as("height"), lit(1).as("n_frames")).as("meta"))
    val wave1 = media.filter(col("media_id") % 5 === 1).limit(60)
      .unionByName(twin(wavIds(0), 5000000L)).cache()
    val wave2 = media.filter(col("media_id") % 5 === 2).limit(60)
      .unionByName(twin(wavIds(1), 6000000L)).cache()
    val cidx = PerceptualHash.buildAudioIndex(corpus)
    restartContract("andr", wave1, wave2,
      (st, out, ck) => StreamingIngest.audioNearDupBatches(st, cidx, 3, out, ck),
      b => PerceptualHash.probeAudio(cidx, b, maxDist = 3),
      Seq("batch_id", "corpus_id", "dist"))
    media.unpersist(); wave1.unpersist(); wave2.unpersist()
  }

  test("videoNearDupBatches restart: checkpoint resume is exactly-once") {
    import graft.multimodal.{Codecs, Multimodal, PerceptualHash}
    val video = Multimodal.videoMedia(
      Tables.documents(spark, SparkTestSession.Sf)).cache()
    val corpus = video.filter(col("media_id") % 5 === 0)
    // twin sources need >= 3 frames (two sampled at stride 2) with
    // DISTINCT sampled-frame hashes, as in the equality spec
    val clipIds = corpus.filter(col("media_id") % 4 >= 1)
      .select("media_id").as[Long].collect()
      .filter { id =>
        PerceptualHash.ahash64(Multimodal.genVideoFrame(id, 0)) !=
          PerceptualHash.ahash64(Multimodal.genVideoFrame(id, 2))
      }.take(2)
    def twin(src: Long, off: Long) =
      Seq((src + off,
        Codecs.encodeAniQoi((0 until Multimodal.videoFrameCount(src))
          .map(f => Multimodal.genVideoFrame(src, f)))))
        .toDF("media_id", "content")
        .select(col("media_id"), col("content"),
          struct(lit("aqoi").as("format"), lit(0).as("width"),
            lit(0).as("height"), lit(2).as("n_frames")).as("meta"))
    val wave1 = video.filter(col("media_id") % 5 === 1).limit(50)
      .unionByName(twin(clipIds(0), 5000000L)).cache()
    val wave2 = video.filter(col("media_id") % 5 === 2).limit(50)
      .unionByName(twin(clipIds(1), 6000000L)).cache()
    val fidx = PerceptualHash.buildVideoIndex(corpus, everyN = 2)
    restartContract("vndr", wave1, wave2,
      (st, out, ck) =>
        StreamingIngest.videoNearDupBatches(st, fidx, 2, 2, out, ck),
      b => PerceptualHash.probeVideo(fidx, b, everyN = 2, minShared = 2),
      Seq("batch_id", "corpus_id", "n_shared"))
    video.unpersist(); wave1.unpersist(); wave2.unpersist()
  }

  test("streaming dedup passes every unique event exactly once") {
    val dir = java.nio.file.Files.createTempDirectory("se").toString
    // write events twice -> duplicates across files
    val ev = Tables.events(spark, SparkTestSession.Sf).limit(200).cache()
    ev.write.mode("overwrite").parquet(dir)
    ev.write.mode("append").parquet(dir)
    val raw = spark.readStream.schema(
      org.apache.spark.sql.types.StructType(
        StreamingIngest.EventsSchema.map(f =>
          if (f.name == "ts") f.copy(dataType = org.apache.spark.sql.types.TimestampType)
          else f)))
      .parquet(dir)
    val deduped = StreamingIngest.dedupedStream(raw)
    val out = StreamingIngest.runToMemory(spark, deduped, "dedup_out")
    assert(out.count() == 200)
    ev.unpersist()
  }

  test("windowed counts aggregate by event-time hour") {
    val dir = eventsDir
    val raw = spark.readStream.schema(
      org.apache.spark.sql.types.StructType(
        StreamingIngest.EventsSchema.map(f =>
          if (f.name == "ts") f.copy(dataType = org.apache.spark.sql.types.TimestampType)
          else f)))
      .parquet(dir)
    val agg = StreamingIngest.windowedCounts(raw)
    val out = StreamingIngest.runToMemory(spark, agg, "win_out",
      outputMode = "append")
    // append mode emits only closed windows; with watermark 1h over a
    // 30-day batch, all but the last window close
    assert(out.count() > 0)
    val total = out.agg(sum("n")).collect()(0).getLong(0)
    assert(total > 0 && total <= 1000)
  }

  test("expression ops (scrub/token-count/quality) run unchanged on a stream") {
    // the round-4 corpus ops are pure expressions, so the SAME code
    // runs batch and streaming — results must be bit-equal
    import graft.ops.{Redact, TextStats}
    val batch = Tables.documents(spark, SparkTestSession.Sf)
    val dir = java.nio.file.Files.createTempDirectory("stream_docs").toString
    batch.write.mode("overwrite").parquet(dir)
    def score(df: org.apache.spark.sql.DataFrame) = df.select(
      col("doc_id"),
      Redact.redactPii(col("text")).as("clean"),
      TextStats.tokenCount(col("text")).as("n_tok"),
      TextStats.qualityScore(col("text")).as("quality"))
    val streamed = score(
      spark.readStream.schema(batch.schema).parquet(dir))
    val out = StreamingIngest.runToMemory(spark, streamed, "expr_out")
    assert(out.orderBy("doc_id").collect().toSeq ==
      score(batch).orderBy("doc_id").collect().toSeq)
  }

  test("stream-stream correlation joins request to response within the bound") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val reqS = MemoryStream[(Long, java.sql.Timestamp)]
    val respS = MemoryStream[(Long, java.sql.Timestamp)]
    def ts(min: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 10:$min%02d:00")
    // requests at 10:00/10:01/10:02; responses: id 1 in-bound (+5 min),
    // id 2 LATE (+2 h, outside the 1 h bound), id 3 never answered
    reqS.addData((1L, ts(0)), (2L, ts(1)), (3L, ts(2)))
    respS.addData((1L, ts(5)),
      (2L, java.sql.Timestamp.valueOf("2024-01-01 12:01:00")))
    val joined = StreamingIngest.correlatedStream(
      reqS.toDS().toDF("custom_id", "ts"),
      respS.toDS().toDF("custom_id", "r_ts"),
      "custom_id")
    val out = StreamingIngest.runToMemory(spark, joined, "corr_out")
    val ids = out.select("custom_id").as[Long].collect().sorted.toSeq
    assert(ids == Seq(1L), s"only the in-bound response should match: $ids")
  }

  test("stream-static join enriches every event from the broadcast dim") {
    val dir = eventsDir
    val raw = spark.readStream.schema(
      org.apache.spark.sql.types.StructType(
        StreamingIngest.EventsSchema.map(f =>
          if (f.name == "ts") f.copy(dataType = org.apache.spark.sql.types.TimestampType)
          else f)))
      .parquet(dir)
    import spark.implicits._
    val dim = Seq(("click", 1.0), ("view", 0.1), ("purchase", 10.0))
      .toDF("event_type", "weight")
    val enriched = StreamingIngest.enrichedStream(raw, dim, "event_type")
      .select(col("event_id"), col("event_type"), col("weight"))
    val out = StreamingIngest.runToMemory(spark, enriched, "enrich_out")
    val n = Tables.events(spark, SparkTestSession.Sf).count()
    assert(out.count() == n) // left join: no event dropped
    // every known type got its weight; unknown types stay null
    val matched = out.filter(col("weight").isNotNull).count()
    val known = Tables.events(spark, SparkTestSession.Sf)
      .filter(col("event_type").isin("click", "view", "purchase")).count()
    assert(matched == known)
  }

  test("foldBatches' retry guard: a repeated batchId is skipped, a failed step reruns") {
    val batch = spark.range(1).toDF()
    var runs = 0
    val step = StreamingIngest.guardedStep(0) { (s, _, batchId) =>
      runs += 1
      s + batchId.toInt + 1
    }
    assert(step(batch, 0L) == 1)
    assert(step(batch, 0L) == 1, "a repeated batchId returns the unchanged state")
    assert(runs == 1, "a repeated batchId must not rerun the step")
    assert(step(batch, 1L) == 3 && runs == 2)

    var failNext = true
    val flaky = StreamingIngest.guardedStep(10) { (s, _, _) =>
      runs += 1
      if (failNext) { failNext = false; throw new RuntimeException("transient") }
      s + 1
    }
    intercept[RuntimeException](flaky(batch, 0L))
    assert(flaky(batch, 0L) == 11, "a failed step must not advance the guard")
    assert(flaky(batch, 0L) == 11 && runs == 4)
  }

  test("nearDupBatches without a checkpointDir deletes its temp checkpoint") {
    import graft.ops.MinHash
    def ckptDirs() = Option(new java.io.File(System.getProperty("java.io.tmpdir")).listFiles())
      .getOrElse(Array.empty[java.io.File])
      .count(f => f.isDirectory && f.getName.startsWith(StreamingIngest.CheckpointPrefix))
    val all = Tables.documents(spark, SparkTestSession.Sf)
    val docs = all.filter(col("doc_id") % 5 === 1).limit(40)
    val inDir = java.nio.file.Files.createTempDirectory("ndc_in").toString
    val outDir = java.nio.file.Files.createTempDirectory("ndc_out").toString
    docs.repartition(2).write.mode("overwrite").parquet(inDir)
    val cidx = MinHash.buildIndex(all.filter(col("doc_id") % 5 === 0),
      col("doc_id"), col("text"))
    val stream = spark.readStream.schema(docs.schema)
      .option("maxFilesPerTrigger", "1").parquet(inDir)
    val before = ckptDirs()
    StreamingIngest.nearDupBatches(stream, cidx, 0.5, outDir)
    assert(new java.io.File(outDir).listFiles().count(_.getName.startsWith("ingest_batch=")) == 2)
    assert(ckptDirs() == before)
  }
}
