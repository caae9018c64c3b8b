package graft

import java.nio.file.{Files, Paths}

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.logging.log4j.LogManager
import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._

import graft.llm.{BatchClient, BatchLifecycle}
import graft.ops.{Ingest, Parse, Payload, Watermark}
import graft.state.StatusStore
import graft.streaming.StreamingIngest.deleteTree

/** End-to-end pipeline composition (SURVEY.md §3.1 stages a–g;
  * reference: batch/main.py:147-365 `orchestrate` +
  * batch/agent_api.py:12-35 programmatic surface).
  *
  * Stages a–c are ONE lazy Spark plan ([[Ingest.fresh]] →
  * [[Ingest.requests]]), run by one action, the JSONL write; everything
  * crossing a network boundary (upload, batch create, poll, download)
  * stays on the driver behind the injected [[BatchClient]] — never a
  * client call inside an operator (SURVEY §7; offline envs inject the
  * deterministic stub). The one deliberate exception is X6
  * [[graft.llm.LlmUdf]], the per-row chat path, which calls the client
  * from inside its tasks.
  */
object Orchestrator {

  case class BatchRecord(batchId: String, table: String, model: String,
                         inputFileId: String, recordCount: Long,
                         status: String, outputFileId: Option[String])

  /** One incremental ingest+submit round for a logical table, run as
    * ONE Spark action: the JSONL write. The request count and the new
    * watermark are `Dataset.observe` metrics of that write, not extra
    * passes over the store.
    *
    * Ordering contract (reference main.py:245-278): write the JSONL →
    * `testOnly` return → persist the watermark → upload and submit, so a
    * submit failure never causes resends.
    *
    * T5: `noTsFilter = true` exempts the table from BOTH the temporal
    * cutoff and the watermark filter (static reference data — process
    * everything, advance nothing; reference `_NO_TS_FILTER`,
    * dynamo_fetcher.py:44-52).
    *
    * Emits one JSON line per round on the `graft` logger at INFO.
    *
    * @return None when no new rows (reference "No new data – exiting");
    *         the previous round's JSONL and the watermark stay as they
    *         were and the client is not called.
    */
  def orchestrate(items: DataFrame, table: String, cutoffEpochSec: Long,
                  orderCol: Column, modelKey: String, workDir: String,
                  client: BatchClient, wait: Boolean = true,
                  pollEveryMs: Long = 60000,
                  sleep: Long => Unit = Thread.sleep,
                  noTsFilter: Boolean = false,
                  testOnly: Boolean = false,
                  systemPrompt: String = Payload.SystemPrompt): Option[BatchRecord] = {
    val t0 = System.nanoTime()
    val storePath = s"$workDir/batch_watermark.json"
    val store = Watermark.load(storePath)
    val before = store.get(table)
    val fresh = Ingest.fresh(items, cutoffEpochSec, before,
      applyTsFilter = !noTsFilter)
    // A1: the new watermark is the max `__ts` of the fresh rows (in
    // window, newer than the mark, before the text gate and dedup),
    // observed by the write below. Bypass tables have no `__ts` and
    // never advance the watermark.
    val tsMax = Observation()
    val observed =
      if (noTsFilter) fresh else fresh.observe(tsMax, max(col("__ts")).as("max_ts"))

    // SNK1 first, so `--test` can stop right after JSONL generation
    // with nothing external touched and no watermark advanced. Dry-run
    // output lives under a separate jsonl_test/ dir (main.py's
    // jsonl_test isolation) so a later production run can never
    // re-submit or clobber a test file. The write lands in a staging
    // dir that replaces the previous file only when it holds rows.
    val jsonlPath =
      if (testOnly) s"$workDir/jsonl_test/requests_$table"
      else s"$workDir/requests_$table"
    val staging = s"$jsonlPath.staging"
    val n = Payload.writeJsonl(
      Ingest.requests(observed, orderCol, modelKey, systemPrompt), staging)
    var after = before
    val rec =
      if (n == 0) { deleteTree(Paths.get(staging)); None }
      else {
        deleteTree(Paths.get(jsonlPath))
        Files.move(Paths.get(staging), Paths.get(jsonlPath))
        if (testOnly)
          Some(BatchRecord("", table, Payload.resolveModel(modelKey), "", n,
            "test_only", None))
        else {
          if (!noTsFilter)
            Payload.observedLong(tsMax, "max_ts").filter(_ > 0).foreach { m =>
              Watermark.save(storePath, store + (table -> m))
              after = Some(m)
            }
          Some(submit(jsonlPath, table, modelKey, n, workDir, client, wait,
            pollEveryMs, sleep))
        }
      }
    logRound(table, n, before, after, rec.map(_.batchId), t0)
    rec
  }

  /** X1 → X2, the durable status record, then the optional wait. */
  private def submit(jsonlPath: String, table: String, modelKey: String,
                     n: Long, workDir: String, client: BatchClient,
                     wait: Boolean, pollEveryMs: Long,
                     sleep: Long => Unit): BatchRecord = {
    val fileId = client.uploadFile(jsonlPath)
    val batchId = client.createBatch(fileId)

    // Durable status record BEFORE any wait, so a crash/restart can
    // auto-resume this batch (main.py:283-293).
    StatusStore.record(statusPath(workDir), batchId, StatusStore.Entry(
      createdUtc = java.time.Instant.now().toString,
      status = "submitted", model = Payload.resolveModel(modelKey),
      inputJsonl = jsonlPath, inputFileId = fileId, tableName = table,
      recordCount = n))

    val initial = BatchRecord(batchId, table, Payload.resolveModel(modelKey),
      fileId, n, "submitted", None)
    if (!wait) initial
    else {
      val st = BatchLifecycle.pollUntilTerminal(client, batchId,
        pollEveryMs, sleep = sleep)
      finalizeStatus(workDir, batchId, st.status, st.outputFileId, None)
      initial.copy(status = st.status, outputFileId = st.outputFileId)
    }
  }

  private val log = LogManager.getLogger("graft")
  private val mapper = new ObjectMapper()

  /** The round's one report line, built only when INFO is on. */
  private def logRound(table: String, requests: Long, before: Option[Long],
                       after: Option[Long], batchId: Option[String],
                       t0: Long): Unit =
    if (log.isInfoEnabled) {
      val line = mapper.createObjectNode()
        .put("event", "orchestrate_round").put("table", table)
        .put("requests", requests)
      def mark(k: String, v: Option[Long]) =
        v.fold(line.putNull(k))(line.put(k, _))
      mark("watermark_before", before)
      mark("watermark_after", after)
      batchId.filter(_.nonEmpty).fold(line.putNull("batch_id"))(line.put("batch_id", _))
      line.put("ms", (System.nanoTime() - t0) / 1000000L)
      log.info(mapper.writeValueAsString(line))
    }

  def statusPath(workDir: String): String = s"$workDir/batch_status.json"

  private def finalizeStatus(workDir: String, batchId: String, status: String,
                             outputFileId: Option[String],
                             outputPath: Option[String]): Unit = {
    val path = statusPath(workDir)
    val store = StatusStore.load(path)
    store.get(batchId).foreach { e =>
      StatusStore.save(path, store + (batchId -> e.copy(
        status = status, finalStatus = Some(status),
        outputFileId = outputFileId.orElse(e.outputFileId),
        outputPath = outputPath.orElse(e.outputPath))))
    }
  }

  /** Per-table integration template (reference
    * batch/templates/news_table.py: table name + defaults invoking the
    * shared pipeline, zero custom logic) generalized with the
    * per-table system prompt the template pattern implies.
    */
  case class TableTemplate(table: String, defaultHours: Double = 24.0,
                           modelKey: String = Payload.DefaultKey,
                           systemPrompt: String = Payload.SystemPrompt,
                           noTsFilter: Boolean = false)

  /** One-off run for a templated table — the `--hours/--model/--test`
    * CLI surface of a template module (news_table.py:22-40).
    */
  def runTemplate(items: DataFrame, tpl: TableTemplate, nowEpochSec: Long,
                  hours: Double, orderCol: Column, workDir: String,
                  client: BatchClient, testOnly: Boolean = false,
                  wait: Boolean = true,
                  sleep: Long => Unit = Thread.sleep): Option[BatchRecord] =
    if (hours <= 0 && !tpl.noTsFilter) None // T6 short-circuit
    else orchestrate(items, tpl.table,
      nowEpochSec - (hours * 3600).toLong, orderCol, tpl.modelKey,
      workDir, client, wait = wait, sleep = sleep,
      noTsFilter = tpl.noTsFilter, testOnly = testOnly,
      systemPrompt = tpl.systemPrompt)

  /** Multi-table driver loop over the config-resolved table set
    * (main.py:652-712): explicit names → config `enabled_tables` →
    * fallback; >1 table implicitly switches to async (submit all, let
    * auto-resume finalize), mirroring the reference's cron-window
    * guard.
    */
  def runTables(tables: Map[String, DataFrame], tableNames: Seq[String],
                cutoffEpochSec: Long, orderCol: Column, modelKey: String,
                workDir: String, client: BatchClient,
                noTsFilterTables: Set[String] = Set.empty,
                wait: Boolean = true,
                pollEveryMs: Long = 60000,
                sleep: Long => Unit = Thread.sleep,
                testOnly: Boolean = false): Seq[BatchRecord] = {
    val effWait = wait && tableNames.size <= 1
    tableNames.flatMap { t =>
      tables.get(t).flatMap { df =>
        orchestrate(df, t, cutoffEpochSec, orderCol, modelKey, workDir,
          client, wait = effWait, pollEveryMs, sleep,
          noTsFilter = noTsFilterTables.contains(t),
          testOnly = testOnly)
      }
    }
  }

  /** `--resume <batch_id>` (main.py:368-385): poll the one batch to a
    * terminal state, download its output when completed, and update the
    * durable status entry — discovering table provenance from the
    * store when present (the composite-key lookup analog).
    */
  def resume(batchId: String, workDir: String, client: BatchClient,
             pollEveryMs: Long = 60000,
             sleep: Long => Unit = Thread.sleep): BatchStatusResult = {
    val st = BatchLifecycle.pollUntilTerminal(client, batchId, pollEveryMs,
      sleep = sleep)
    val outPath = st.outputFileId.filter(_ => st.status == "completed").map { fid =>
      val dest = s"$workDir/output/batch_output_$batchId.jsonl"
      downloadOutput(client, fid, dest)
      dest
    }
    finalizeStatus(workDir, batchId, st.status, st.outputFileId, outPath)
    BatchStatusResult(batchId, st.status, st.outputFileId, outPath)
  }

  case class BatchStatusResult(batchId: String, status: String,
                               outputFileId: Option[String],
                               outputPath: Option[String])

  /** X4 over the DURABLE store (main.py:446-523 `_auto_resume_pending`):
    * one status probe per pending batch; completed → download + mark
    * final; failed/expired/cancelled → mark final; running → untouched
    * for the next tick. Survives process restarts because the store
    * does.
    */
  def autoResumePending(workDir: String, client: BatchClient): Seq[BatchStatusResult] = {
    val path = statusPath(workDir)
    val store = StatusStore.load(path)
    StatusStore.pendingIds(store).flatMap { id =>
      val st = client.status(id)
      if (!BatchLifecycle.Terminal(st.status)) None
      else {
        val outPath = st.outputFileId.filter(_ => st.status == "completed").map { fid =>
          val dest = s"$workDir/output/batch_output_$id.jsonl"
          downloadOutput(client, fid, dest)
          dest
        }
        finalizeStatus(workDir, id, st.status, st.outputFileId, outPath)
        Some(BatchStatusResult(id, st.status, st.outputFileId, outPath))
      }
    }
  }

  /** Parse side (SURVEY §3.3): batch-output JSONL files/globs → flat
    * records with provenance. A DIRECTORY argument expands recursively
    * to every `*.jsonl` under it (SRC4, parse.py:230-241) — note
    * Hadoop's `**` glob is NOT recursive, so directory recursion must
    * go through `recursiveFileLookup`.
    */
  def parseOutputs(spark: SparkSession, pathOrGlob: String): DataFrame = {
    val reader =
      if (java.nio.file.Files.isDirectory(java.nio.file.Paths.get(pathOrGlob)))
        spark.read.option("recursiveFileLookup", "true")
          .option("pathGlobFilter", "*.jsonl")
      else spark.read
    Parse.pipeline(reader.text(pathOrGlob))
  }

  /** SNK2 (status_checker.py:69-94): download an output file's bytes
    * to `output/batch_output_<id>.jsonl`-style paths. Driver-side IO
    * around the pipeline, never inside an operator.
    */
  def downloadOutput(client: BatchClient, fileId: String, destPath: String): Long = {
    val bytes = client.download(fileId)
    val p = java.nio.file.Paths.get(destPath)
    if (p.getParent != null) java.nio.file.Files.createDirectories(p.getParent)
    java.nio.file.Files.write(p, bytes)
    bytes.length.toLong
  }

  /** SNK3 (parse.py:278-285): parsed records aggregated to a single
    * JSON-lines file (one part, parents created by the committer).
    */
  def writeAggregated(parsed: DataFrame, path: String): Unit =
    parsed.coalesce(1).write.mode("overwrite").json(path)

  /** X4 single-pass auto-resume over a bookkeeping frame: one probe
    * per pending batch; running batches stay pending for the next
    * tick.
    */
  def autoResume(status: Seq[BatchRecord], client: BatchClient): Seq[BatchRecord] =
    status.map { r =>
      if (BatchLifecycle.Terminal(r.status)) r
      else {
        val st = client.status(r.batchId)
        if (BatchLifecycle.Terminal(st.status))
          r.copy(status = st.status, outputFileId = st.outputFileId)
        else r
      }
    }
}
