package perfbench

import java.nio.file.{Files, Path}
import java.nio.file.attribute.FileTime

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._

import graft.ops.{KnnGraph, MinHash, Similarity}
import graft.streaming.StreamingIngest

/** Staged files of new docs with embeddings, one file per trigger,
  * through the two self-maintaining loops: selfNearDupBatches over a
  * seeded MinHash index, then selfKnnBatches over a seeded k-NN graph.
  * Every micro-batch probes the standing state and then folds into it.
  */
final class StreamIndex(ctx: Ctx, listener: Trace.BatchListener) extends Workload {
  import StreamIndex._

  private val spark = ctx.spark
  private val in = ctx.work.resolve("stream-input")
  private var data: Gen.StreamData = _
  private var seedDocs: DataFrame = _
  private var idx: MinHash.CorpusIndex = _
  private var graph: DataFrame = _
  private val obs = mutable.Map[String, Double]().withDefaultValue(0.0)
  private var recall = Double.NaN
  private val walls = mutable.ArrayBuffer[Double]()

  private val schema = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType),
    StructField("vec_id", LongType), StructField("embedding", ArrayType(FloatType))))

  private def stage(dir: Path, files: Seq[Seq[Gen.StreamDoc]]): Unit =
    files.zipWithIndex.foreach { case (f, i) =>
      val p = dir.resolve(f"file-$i%03d.jsonl")
      Files2.write(p, f.map(Gen.streamLine))
      // the file source orders by modification time: make it the staging order
      Files.setLastModifiedTime(p, FileTime.fromMillis(1700000000000L + i * 1000L))
    }

  def generate(): Unit = {
    data = Gen.streamData(ctx.seed, SeedDocs, FilesPerCycle, PerFile, DupsPerFile, FirstId, "stream")
    Files2.write(in.resolve("seed/seed.jsonl"), data.seedDocs.map(Gen.streamLine))
    stage(in.resolve("staged"), data.files)
  }

  def warmUp(): Unit = {
    seedDocs = spark.read.schema(schema).json(in.resolve("seed").toString).cache()
    seedDocs.count()
    buildState()
    // the first staged file through both loops
    val warm = in.resolve("warm")
    stage(warm, data.files.take(1))
    release(runStreams(warm, "warm", 1).folded)
    Files2.deleteTree(ctx.work.resolve("stream-out-warm"))
  }

  /** The standing state: the seed MinHash index and k-NN graph. A
    * rebuild first drops the previous build's blocks.
    */
  def buildState(): Unit = {
    if (idx != null) checkpoints(idx.base, idx.index, graph).foreach(_.unpersist(blocking = true))
    idx = Trace.span("MinHash.buildIndex")(MinHash.buildIndex(seedDocs, col("doc_id"), col("text")))
    val g0 = System.nanoTime()
    graph = Trace.span("KnnGraph.build") {
      KnnGraph.build(seedDocs.select("vec_id", "embedding"), K).localCheckpoint()
    }
    obs("knn.seed_build_s") = (System.nanoTime() - g0) / 1e9
  }

  private def stream(dir: Path): DataFrame =
    spark.readStream.schema(schema).option("maxFilesPerTrigger", "1").json(dir.toString)

  /** The RDDs behind checkpointed frames: their plans' LogicalRDD leaves. */
  private def checkpoints(dfs: DataFrame*): Seq[RDD[_]] =
    dfs.flatMap(_.queryExecution.analyzed.collect { case r: LogicalRDD => r.rdd }).distinct

  /** Drops the blocks the loops added to the seed state. */
  private def release(folded: Seq[DataFrame]): Unit = {
    val seedIds = checkpoints(idx.base, idx.index, graph).map(_.id).toSet
    checkpoints(folded: _*).filterNot(r => seedIds(r.id)).foreach(_.unpersist(blocking = true))
  }

  /** Both loops over the staged files: the micro-batch progress (batch
    * id, durations, rows) of each loop, their output directories, and
    * the state they folded (the extended index, embeddings and graph).
    */
  private def runStreams(dir: Path, tag: String, nFiles: Int): Streamed = {
    val out = ctx.work.resolve(s"stream-out-$tag")
    val seen = listener.progress.asScala.map(_._1).toSet
    val ndIdx = Trace.span("StreamingIngest.selfNearDupBatches") {
      StreamingIngest.selfNearDupBatches(stream(dir), idx, Threshold, out.resolve("nd").toString,
        Some(out.resolve("ckpt-nd").toString))
    }
    val mid = listener.progress.asScala.map(_._1).toSet
    val (knnEmb, knnGraph) = Trace.span("StreamingIngest.selfKnnBatches") {
      StreamingIngest.selfKnnBatches(stream(dir), seedDocs.select("vec_id", "embedding"), graph,
        K, Beam, Rounds, out.resolve("knn").toString, Some(out.resolve("ckpt-knn").toString))
    }
    // progress events arrive on the listener bus; wait for all of them
    def batches(runs: String => Boolean) =
      listener.progress.asScala.toSeq.filter(p => runs(p._1) && p._5 > 0).map(p => (p._2, p._4, p._5)).sortBy(_._1)
    val deadline = System.nanoTime() + 10000000000L
    while ((batches(r => !seen(r) && mid(r)).size < nFiles ||
        batches(r => !mid(r)).size < nFiles) && System.nanoTime() < deadline) Thread.sleep(10)
    Streamed(batches(r => !seen(r) && mid(r)), batches(r => !mid(r)), out.resolve("nd"), out.resolve("knn"),
      Seq(ndIdx.base, ndIdx.index, knnEmb, knnGraph))
  }

  def cycle(index: Int): Unit = {
    val n = data.files.size
    val t0 = System.nanoTime()
    val Streamed(nd, knn, ndOut, knnOut, folded) = runStreams(in.resolve("staged"), s"cycle-$index", n)
    val wall = (System.nanoTime() - t0) / 1e6
    ctx.attempted += 2L * n
    ctx.failed += math.max(0, n - nd.size) + math.max(0, n - knn.size)
    ctx.check("one micro-batch per staged file", nd.size == n && knn.size == n, s"${nd.size}/${knn.size} of $n")
    val ndMs = nd.map(_._2.getOrElse("triggerExecution", 0L).toDouble)
    val knnMs = knn.map(_._2.getOrElse("triggerExecution", 0L).toDouble)
    ndMs.foreach(ctx.sample("neardup", _, 0))
    knnMs.foreach(ctx.sample("knn", _, 0))
    ndMs.zip(knnMs).zip(data.files).foreach { case ((a, b), f) => ctx.sample("file", a + b, f.size) }
    if (ctx.measuring) walls += wall

    // every planted near-dup is reported by the batch it arrived in
    val hits = spark.read.parquet(ndOut.toString).select("batch_id", "corpus_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val missed = data.plantedDups.filterNot { case (_, d, o) => hits((d, o)) }
    ctx.check("every planted near-dup reported", missed.isEmpty, s"missed ${missed.take(5)}")
    if (index == 0) {
      recall = recallAtK(knnOut)
      ctx.check(s"knn recall@$K >= $RecallBound", recall >= RecallBound, f"recall $recall%.3f")
    }
    if (Trace.enabled) {
      val all = nd ++ knn
      obs("stream.batches") = all.size.toDouble
      obs("stream.addbatch_ms") = Stats.median(all.map(_._2.getOrElse("addBatch", 0L).toDouble))
      obs("stream.engine_overhead_ms") = Stats.median(all.map(b =>
        (b._2.getOrElse("triggerExecution", 0L) - b._2.getOrElse("addBatch", 0L)).toDouble))
      // per-file work of both loops; addBatch leaves query start-up out
      val files = nd.zip(knn).map { case (a, b) => (a._2.getOrElse("addBatch", 0L) + b._2.getOrElse("addBatch", 0L)).toDouble }
      val q = math.max(1, files.size / 4)
      obs("stream.late_early_ratio") = Stats.median(files.takeRight(q)) / Stats.median(files.take(q))
      // the standing state after the folds: blocks of the extended
      // index, embeddings and graph
      val standing = checkpoints(folded: _*).map(_.id).toSet
      obs("stream.state_mb") = spark.sparkContext.getRDDStorageInfo
        .filter(i => standing(i.id)).map(i => i.memSize + i.diskSize).sum / 1e6
      obs("minhash.verified") = hits.size.toDouble
    }
    release(folded)
    Files2.deleteTree(ctx.work.resolve(s"stream-out-cycle-$index"))
  }

  /** Recall of the streamed beam search against the exact top-k over
    * the state each batch probed (seed plus earlier files), on the
    * first QueriesPerFile docs of every file.
    */
  private def recallAtK(knnOut: Path): Double = {
    val got = spark.read.parquet(knnOut.toString).select("query_id", "vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val embSchema = StructType(Seq(StructField("vec_id", LongType), StructField("embedding", ArrayType(FloatType))))
    def frame(ds: Seq[Gen.StreamDoc], idName: String): DataFrame =
      spark.createDataFrame(ds.map(d => Row(d.id, d.emb.toSeq)).asJava,
        StructType(Seq(StructField(idName, LongType), embSchema.fields(1))))
    var hit = 0L
    var total = 0L
    data.files.zipWithIndex.foreach { case (f, b) =>
      val corpus = frame(data.seedDocs ++ data.files.take(b).flatten, "vec_id")
      val queries = frame(f.take(QueriesPerFile), "query_id")
      val exact = Similarity.topKByCosineBatch(corpus, queries, K).select("query_id", "vec_id").collect()
        .map(r => (r.getLong(0), r.getLong(1)))
      total += exact.length
      hit += exact.count(got)
    }
    hit.toDouble / total
  }

  def endToEnd(): Seq[(String, Double, String)] = {
    val files = ctx.samples.filter(_._1 == "file")
    Seq(("step_p50_ms", Stats.median(files.map(_._2).toSeq), "ms"),
      ("rows_per_s", files.map(_._3).sum / (walls.sum / 1000), "1/s"))
  }

  def report(): Seq[String] = {
    val files = ctx.samples.filter(_._1 == "file")
    Seq(f"metric stream.rows_per_s ${files.map(_._3).sum / (walls.sum / 1000)}%.2f 1/s (${files.size} files in ${walls.size} cycles)",
      Report.timing("stream.neardup_batch_ms", ctx.ms("neardup"), "ms"),
      Report.timing("stream.knn_batch_ms", ctx.ms("knn"), "ms"),
      f"metric knn.recall_at_k $recall%.4f ratio (k=$K, $QueriesPerFile queries per file)")
  }

  def layers(v: SpanView): Map[String, Double] =
    obs.toMap ++ Map("knn.recall_at_k" -> recall)
}

object StreamIndex {
  type Batches = Seq[(Long, Map[String, Long], Long)]
  final case class Streamed(nd: Batches, knn: Batches, ndOut: Path, knnOut: Path, folded: Seq[DataFrame])

  val SeedDocs = 300
  val FilesPerCycle = 3
  val PerFile = 100
  val DupsPerFile = 4
  val FirstId = 100000L
  val Threshold = 0.8
  val K = 5
  val Beam = 16
  val Rounds = 4
  val QueriesPerFile = 8
  // the program documents 0.81-1.0 beam recall@5; 24 sampled queries
  // scatter about 0.05 around that, and a collapsed index reads ~0.1
  val RecallBound = 0.75
}
