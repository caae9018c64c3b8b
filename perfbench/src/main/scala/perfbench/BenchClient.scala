package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import com.fasterxml.jackson.databind.ObjectMapper

import graft.llm.{BatchClient, BatchStatus}

/** Call counters of the benchmark's client. Global because the chat
  * path runs inside Spark tasks, one client per partition.
  */
object ClientStats {
  val uploads = new AtomicLong
  val creates = new AtomicLong
  val polls = new AtomicLong
  val downloads = new AtomicLong
  val chatCalls = new AtomicLong
  val chatRetries = new AtomicLong
  val chatBusyNs = new AtomicLong
  /** chat keys whose first attempt already failed (first-attempt-only faults) */
  val failedOnce: ConcurrentHashMap[String, java.lang.Boolean] = new ConcurrentHashMap()
  /** chat keys that got an answer */
  val answered: ConcurrentHashMap[String, java.lang.Boolean] = new ConcurrentHashMap()

  /** Keys of `epoch` whose call failed and never got an answer: chat
    * calls still failing after retry.
    */
  def unrecovered(epoch: String): Seq[String] =
    failedOnce.keySet().toArray(Array.empty[String]).toSeq
      .filter(k => k.startsWith(s"$epoch|") && !answered.containsKey(k))
  /** served records per answer kind, for the output checks */
  val served = new ConcurrentHashMap[String, AtomicLong]()

  def serve(kind: String, n: Long): Unit =
    served.computeIfAbsent(kind, _ => new AtomicLong).addAndGet(n)

  def snapshot(): Map[String, Long] = Map(
    "uploads" -> uploads.get, "creates" -> creates.get, "polls" -> polls.get,
    "downloads" -> downloads.get, "chat_calls" -> chatCalls.get,
    "chat_retries" -> chatRetries.get, "chat_busy_ns" -> chatBusyNs.get)
}

/** The benchmark's BatchClient. Uploaded request files are answered in
  * full, one answer per request, seeded by the request's user text
  * (FIXTURES.md B3 mix plus a blank and a malformed line per file).
  * `status` reports in-progress for a seeded number of polls. `chat`
  * sleeps a fixed per-call latency and fails the first attempt of a
  * seeded fraction of keys, so a retry always recovers.
  *
  * @param epoch separates repeated passes over the same inputs: the
  *              first-attempt faults re-arm for every epoch.
  */
class BenchClient(seed: Long, chatLatencyMs: Long, chatFailFrac: Double, epoch: String)
  extends BatchClient {
  import BenchClient._

  override def uploadFile(path: String): String = Trace.span("client.uploadFile", "client") {
    ClientStats.uploads.incrementAndGet()
    val p = Paths.get(path)
    val files =
      if (Files.isDirectory(p)) Files2.lines(p) else
        new String(Files.readAllBytes(p), StandardCharsets.UTF_8).split("\n").toSeq.filter(_.nonEmpty)
    // numbered in upload order, so ids (and the polls they seed)
    // repeat from run to run
    val id = s"file_${uploaded.size() + 1}"
    uploaded.put(id, files)
    id
  }

  override def createBatch(inputFileId: String, endpoint: String, completionWindow: String): String =
    Trace.span("client.createBatch", "client") {
      ClientStats.creates.incrementAndGet()
      val id = s"batch_${inputFileId.stripPrefix("file_")}"
      batches.put(id, inputFileId)
      pollsLeft.put(id, new AtomicLong(1 + new Rng(seed, s"polls-$id").int(3)))
      id
    }

  override def status(batchId: String): BatchStatus = Trace.span("client.status", "client") {
    ClientStats.polls.incrementAndGet()
    val left = pollsLeft.get(batchId)
    if (left != null && left.getAndDecrement() > 0) BatchStatus(batchId, "in_progress", None)
    else BatchStatus(batchId, "completed", Some(s"out_$batchId"))
  }

  override def download(fileId: String): Array[Byte] = Trace.span("client.download", "client") {
    ClientStats.downloads.incrementAndGet()
    val requests = uploaded.get(batches.get(fileId.stripPrefix("out_")))
    val out = new StringBuilder
    requests.zipWithIndex.foreach { case (line, i) =>
      val node = mapper.readTree(line)
      val cid = node.get("custom_id").asText
      val user = node.get("body").get("messages").get(1).get("content").asText
      val kind = Gen.answerKind(seed, user, Gen.AnswerKinds)
      val (recs, _, _) = Gen.expectedRecords(seed, user, Gen.AnswerKinds)
      ClientStats.serve(kind, recs.toLong)
      out ++= Gen.answerLine(seed, cid, user, i + 1) += '\n'
      if (i == 0) out ++= "\nnot-even-json-line\n"
    }
    out.toString.getBytes(StandardCharsets.UTF_8)
  }

  override def chat(model: String, system: String, user: String): String =
    Trace.span("client.chat", "client") {
      val t0 = System.nanoTime()
      try {
        ClientStats.chatCalls.incrementAndGet()
        Thread.sleep(chatLatencyMs)
        val key = s"$epoch|$user"
        if (new Rng(seed, s"fault-$user").double() < chatFailFrac &&
            ClientStats.failedOnce.putIfAbsent(key, true) == null) {
          ClientStats.chatRetries.incrementAndGet()
          throw new java.io.IOException(s"transient failure (first attempt) for $key")
        }
        val answer = Gen.content(Gen.answerKind(seed, user, ChatKinds), seed, user, user.length)
        ClientStats.answered.put(key, true)
        answer
      } finally ClientStats.chatBusyNs.addAndGet(System.nanoTime() - t0)
    }
}

object BenchClient {
  /** Chat answers are single documents: every completion parses to
    * exactly one record.
    */
  val ChatKinds: IndexedSeq[String] = IndexedSeq("clean", "fenced", "loose", "garbage")
  private val mapper = new ObjectMapper()
  private val uploaded = new ConcurrentHashMap[String, Seq[String]]()
  private val batches = new ConcurrentHashMap[String, String]()
  private val pollsLeft = new ConcurrentHashMap[String, AtomicLong]()
}
