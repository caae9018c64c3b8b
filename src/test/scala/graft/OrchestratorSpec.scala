package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.logging.log4j.{Level, LogManager}
import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.{Configurator, Property}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite

import graft.llm.StubBatchClient
import graft.ops.Watermark

/** SURVEY §3.1 end-to-end: ingest → watermark-advance-before-submit →
  * JSONL → upload → batch → poll → terminal record; incremental rerun
  * sees nothing.
  */
class OrchestratorSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private def items = Tables.events(spark, SparkTestSession.Sf).select(
    col("event_id").as("id"),
    col("ts").as("timestamp"),
    col("props").as("summary"))

  test("full round: submit, poll to terminal, bookkeeping record") {
    val dir = Files.createTempDirectory("orch").toString
    val rec = Orchestrator.orchestrate(items, "events", 1704067200L,
      col("id"), "nano", dir, new StubBatchClient, sleep = _ => ()).get
    assert(rec.recordCount == 1000)
    assert(rec.status == "completed" && rec.outputFileId.isDefined)
    assert(rec.model == "gpt-4.1-nano-2025-04-14")
    // watermark was persisted
    val wm = Watermark.load(s"$dir/batch_watermark.json")
    assert(wm.get("events").exists(_ > 1704067200L))
    // JSONL landed with one line per record
    assert(spark.read.text(s"$dir/requests_events").count() == 1000)
  }

  test("incremental rerun with advanced watermark returns None") {
    val dir = Files.createTempDirectory("orch2").toString
    val c = new StubBatchClient
    assert(Orchestrator.orchestrate(items, "events", 1704067200L,
      col("id"), "nano", dir, c, sleep = _ => ()).isDefined)
    assert(Orchestrator.orchestrate(items, "events", 1704067200L,
      col("id"), "nano", dir, c, sleep = _ => ()).isEmpty)
  }

  test("async mode returns submitted; autoResume completes it") {
    val dir = Files.createTempDirectory("orch3").toString
    val c = new StubBatchClient
    val rec = Orchestrator.orchestrate(items, "events", 1704067200L,
      col("id"), "nano", dir, c, wait = false).get
    assert(rec.status == "submitted" && rec.outputFileId.isEmpty)
    val resumed = Orchestrator.autoResume(Seq(rec), c)
    assert(resumed.head.status == "completed")
    assert(resumed.head.outputFileId.isDefined)
  }

  test("parse side reads a glob of JSONL files") {
    val dir = Files.createTempDirectory("parse").toString
    val line = """{"id":"r","custom_id":"row_1","response":{"status_code":200,""" +
      """"body":{"choices":[{"message":{"role":"assistant","content":"{\"a\":1}"}}]}}}"""
    Files.writeString(java.nio.file.Paths.get(s"$dir/a.jsonl"), line + "\n")
    Files.writeString(java.nio.file.Paths.get(s"$dir/b.jsonl"), line + "\n")
    val out = Orchestrator.parseOutputs(spark, s"$dir/*.jsonl")
    assert(out.count() == 2)
    assert(out.select("_source_custom_id").distinct().collect()(0).getString(0) == "row_1")
  }
  /** The stub, counting every client call; `onUpload` runs first. */
  private class CountingClient(onUpload: String => Unit = _ => ())
      extends StubBatchClient {
    @volatile var calls = 0
    override def uploadFile(path: String): String = {
      calls += 1; onUpload(path); super.uploadFile(path)
    }
    override def createBatch(inputFileId: String, endpoint: String,
                             completionWindow: String): String = {
      calls += 1; super.createBatch(inputFileId, endpoint, completionWindow)
    }
    override def status(batchId: String) = { calls += 1; super.status(batchId) }
  }

  private def lines(dir: String): Seq[String] =
    spark.read.text(dir).collect().map(_.getString(0)).toSeq

  /** Every file under `dir`, name → bytes. */
  private def snapshot(dir: String): Map[String, Seq[Byte]] =
    Files.walk(Paths.get(dir)).iterator().asScala.filter(Files.isRegularFile(_))
      .map(p => p.toString -> Files.readAllBytes(p).toSeq).toMap

  private def isWrite(qe: QueryExecution): Boolean =
    qe.executedPlan.toString.contains("InsertIntoHadoopFsRelationCommand")

  test("a round runs one Spark action before upload, and it is the JSONL write") {
    val seen = new ConcurrentLinkedQueue[QueryExecution]()
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = seen.add(qe)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = seen.add(qe)
    }
    val src = items
    var atUpload: Seq[QueryExecution] = Nil
    val client = new CountingClient(_ => {
      // listener events arrive on the listener bus, after the action
      val deadline = System.currentTimeMillis() + 10000
      while (!seen.asScala.exists(isWrite) && System.currentTimeMillis() < deadline)
        Thread.sleep(20)
      Thread.sleep(200)
      atUpload = seen.asScala.toSeq
    })
    spark.listenerManager.register(listener)
    try {
      val dir = Files.createTempDirectory("orch-actions").toString
      val rec = Orchestrator.orchestrate(src, "events", 1704067200L,
        col("id"), "nano", dir, client, wait = false)
      assert(rec.exists(_.recordCount == 1000))
    } finally spark.listenerManager.unregister(listener)
    assert(atUpload.size == 1, s"actions before upload: ${atUpload.size}")
    assert(isWrite(atUpload.head))
  }

  test("an empty round after a full one leaves the JSONL, the watermark and the client alone") {
    val dir = Files.createTempDirectory("orch-empty").toString
    val first = new CountingClient
    assert(Orchestrator.orchestrate(items, "events", 1704067200L,
      col("id"), "nano", dir, first, wait = false).isDefined)
    val jsonl = snapshot(s"$dir/requests_events")
    val mark = Files.readAllBytes(Paths.get(s"$dir/batch_watermark.json")).toSeq
    val second = new CountingClient
    assert(Orchestrator.orchestrate(items, "events", 1704067200L,
      col("id"), "nano", dir, second, wait = false).isEmpty)
    assert(snapshot(s"$dir/requests_events") == jsonl)
    assert(Files.readAllBytes(Paths.get(s"$dir/batch_watermark.json")).toSeq == mark)
    assert(second.calls == 0)
    assert(!Files.exists(Paths.get(s"$dir/requests_events.staging")))
  }

  test("the watermark moves to the latest in-window ts even when that row is gated out or a duplicate") {
    import spark.implicits._
    val cutoff = 1704067200L
    val noText = Seq(
      ("a", "1704067300", "alpha text", 1L),
      ("b", "1704067900", null, 2L))
    val dup = Seq(
      ("a", "1704067300", "alpha text", 1L),
      ("a", "1704068000", "alpha again", 2L))
    Seq(noText -> 1704067900L, dup -> 1704068000L).foreach { case (rows, latest) =>
      val df = rows.toDF("id", "timestamp", "summary", "seq")
      val dir = Files.createTempDirectory("orch-gated").toString
      val rec = Orchestrator.orchestrate(df, "t", cutoff, col("seq"), "nano",
        dir, new StubBatchClient, wait = false)
      assert(rec.exists(_.recordCount == 1))
      assert(Watermark.load(s"$dir/batch_watermark.json").get("t").contains(latest))
    }
  }

  test("a failed upload finds the JSONL written and the watermark already saved") {
    val dir = Files.createTempDirectory("orch-upload").toString
    val client = new CountingClient(_ => throw new RuntimeException("upload down"))
    val e = intercept[RuntimeException] {
      Orchestrator.orchestrate(items, "events", 1704067200L, col("id"),
        "nano", dir, client, wait = false)
    }
    assert(e.getMessage == "upload down")
    assert(lines(s"$dir/requests_events").size == 1000)
    assert(Watermark.load(s"$dir/batch_watermark.json").get("events")
      .exists(_ > 1704067200L))
  }

  test("an item frame Catalyst prunes to empty returns None without hanging") {
    val dir = Files.createTempDirectory("orch-pruned").toString
    val client = new CountingClient
    val t0 = System.nanoTime()
    val rec = Orchestrator.orchestrate(items.limit(0), "events", 1704067200L,
      col("id"), "nano", dir, client, wait = false)
    val s = (System.nanoTime() - t0) / 1e9
    assert(rec.isEmpty)
    assert(s < 30, s"took $s s")
    assert(client.calls == 0)
    assert(!Files.exists(Paths.get(s"$dir/batch_watermark.json")))
    assert(!Files.exists(Paths.get(s"$dir/requests_events")))
  }

  test("each round logs one JSON line that agrees with its record and the stored watermark") {
    val got = new ConcurrentLinkedQueue[String]()
    val app = new AbstractAppender("orch-test", null, null, true, Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit = got.add(e.getMessage.getFormattedMessage)
    }
    app.start()
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    val prior = LogManager.getLogger("graft").getLevel
    Configurator.setLevel("graft", Level.INFO)
    val cfg = ctx.getConfiguration.getLoggerConfig("graft")
    cfg.addAppender(app, Level.INFO, null)
    ctx.updateLoggers()
    val dir = Files.createTempDirectory("orch-log").toString
    val rec = try Orchestrator.orchestrate(items, "events", 1704067200L,
      col("id"), "nano", dir, new StubBatchClient, sleep = _ => ()).get
    finally {
      cfg.removeAppender("orch-test")
      Configurator.setLevel("graft", prior)
      app.stop()
    }
    val rounds = got.asScala.filter(_.contains("\"orchestrate_round\"")).toSeq
    assert(rounds.size == 1, rounds)
    val line = new ObjectMapper().readTree(rounds.head)
    assert(line.get("table").asText == "events")
    assert(line.get("requests").asLong == rec.recordCount)
    assert(line.get("batch_id").asText == rec.batchId)
    assert(line.get("watermark_before").isNull)
    assert(Watermark.load(s"$dir/batch_watermark.json").get("events")
      .contains(line.get("watermark_after").asLong))
    assert(line.get("ms").asLong >= 0)
  }
}
