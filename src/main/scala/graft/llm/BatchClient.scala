package graft.llm

import scala.util.{Failure, Success, Try}

/** External batch-LLM orchestration surface (operators X1–X5 in
  * SURVEY.md §2.8; reference: batch/batch_submitter.py,
  * batch/status_checker.py, batch/main.py:276-365,429-523).
  *
  * All network interaction lives behind this trait: production wires an
  * HTTP client; this zero-egress environment wires [[StubBatchClient]]
  * (deterministic). Operators NEVER call a transport directly —
  * SURVEY §7 decision.
  */
trait BatchClient extends Serializable {
  /** X1: upload a JSONL request file; returns the file id. */
  def uploadFile(path: String): String
  /** X2: create a batch over an uploaded file; returns the batch id. */
  def createBatch(inputFileId: String,
                  endpoint: String = "/v1/chat/completions",
                  completionWindow: String = "24h"): String
  /** X3 probe: current status of a batch. */
  def status(batchId: String): BatchStatus
  /** SNK2: download an output file's bytes. */
  def download(fileId: String): Array[Byte]
  /** X6 unit: one chat completion (used by the per-row UDF path).
    *
    * Must be thread-safe: [[LlmUdf.withCompletions]] calls a task's one
    * client from up to [[LlmUdf.InFlightPerTask]] threads at once. Rate
    * limiting (429 backoff, token buckets) belongs in here, shared by
    * those calls, which is why the window is a constant and not an
    * option.
    */
  def chat(model: String, system: String, user: String): String
}

case class BatchStatus(batchId: String, status: String,
                       outputFileId: Option[String])

object Retry {
  /** Bounded retry with linear backoff — 3 attempts, sleeps 2s/3s
    * between (reference: batch_submitter.py:54-64). `sleepMs` is
    * injectable so tests don't wait.
    */
  def withRetry[T](attempts: Int = 3, baseDelayMs: Long = 1000,
                   sleep: Long => Unit = Thread.sleep)(f: => T): T = {
    var last: Throwable = null
    var i = 0
    while (i < attempts) {
      Try(f) match {
        case Success(v) => return v
        case Failure(e) =>
          last = e
          i += 1
          if (i < attempts) sleep(baseDelayMs * (1 + i))
      }
    }
    throw last
  }
}

/** Deterministic offline stub: ids are content-addressed, every batch
  * completes immediately, and `chat` answers with a strict-JSON
  * analytic record derived from the input (stable across runs — the
  * test-oracle property). Stateless, so thread-safe.
  */
class StubBatchClient extends BatchClient {
  override def uploadFile(path: String): String =
    s"file_stub_${math.abs(path.hashCode.toLong)}"
  override def createBatch(inputFileId: String, endpoint: String,
                           completionWindow: String): String =
    s"batch_stub_${math.abs((inputFileId + endpoint).hashCode.toLong)}"
  override def status(batchId: String): BatchStatus =
    BatchStatus(batchId, "completed", Some(s"out_$batchId"))
  override def download(fileId: String): Array[Byte] = Array.emptyByteArray
  override def chat(model: String, system: String, user: String): String = {
    val n = if (user == null) 0 else user.length
    val sentiment = if (n % 3 == 0) "neutral" else if (n % 3 == 1) "positive" else "negative"
    s"""{"topic":"t${n % 7}","sentiment":"$sentiment","n_chars":$n}"""
  }
}

/** X3/X4 driver-side state machine over a [[BatchClient]]:
  * poll-until-terminal and single-pass auto-resume
  * (status_checker.py:39-66; main.py:446-523).
  */
object BatchLifecycle {
  val Terminal: Set[String] = Set("completed", "failed", "expired", "cancelled")

  def pollUntilTerminal(client: BatchClient, batchId: String,
                        pollEveryMs: Long = 60000, maxPolls: Int = 1440,
                        sleep: Long => Unit = Thread.sleep): BatchStatus = {
    var s = client.status(batchId)
    var polls = 1
    while (!Terminal(s.status) && polls < maxPolls) {
      sleep(pollEveryMs)
      s = client.status(batchId)
      polls += 1
    }
    s
  }

  /** One status probe per pending batch; returns (batchId → status) for
    * the caller to merge into bookkeeping (still-running batches are
    * left for the next tick, mirroring the reference's cron shape).
    */
  def autoResume(client: BatchClient, pendingIds: Seq[String]): Map[String, BatchStatus] =
    pendingIds.map(id => id -> client.status(id)).toMap
}
