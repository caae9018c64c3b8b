package graft.llm

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession

/** X1–X6: retry util, stub client lifecycle, mapPartitions UDF. */
class LlmSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  test("retry: succeeds within budget, records backoff, rethrows after") {
    var calls = 0
    val sleeps = scala.collection.mutable.ArrayBuffer[Long]()
    val got = Retry.withRetry(attempts = 3, baseDelayMs = 1000, sleep = sleeps += _) {
      calls += 1
      if (calls < 3) sys.error("boom") else "ok"
    }
    assert(got == "ok" && calls == 3)
    assert(sleeps.toSeq == Seq(2000L, 3000L)) // linear backoff 2s,3s
    intercept[RuntimeException] {
      Retry.withRetry(attempts = 2, baseDelayMs = 0, sleep = _ => ())(sys.error("always"))
    }
  }
  test("stub lifecycle: upload -> create -> completed status") {
    val c = new StubBatchClient
    val fid = c.uploadFile("/tmp/x.jsonl")
    val bid = c.createBatch(fid)
    val st = c.status(bid)
    assert(st.status == "completed" && st.outputFileId.isDefined)
    assert(BatchLifecycle.Terminal(st.status))
  }
  test("pollUntilTerminal returns immediately on terminal status") {
    val c = new StubBatchClient
    val st = BatchLifecycle.pollUntilTerminal(c, "b1", sleep = _ => fail("slept"))
    assert(st.status == "completed")
  }
  test("withCompletions appends deterministic strict-JSON answers") {
    val df = Seq((1L, "hello"), (2L, null.asInstanceOf[String])).toDF("id", "txt")
    val out = LlmUdf.withCompletions(df, "txt", "ans", "m", "sys",
      () => new StubBatchClient).orderBy("id").collect()
    assert(out(0).getString(2).startsWith("{\"topic\":"))
    assert(out(1).isNullAt(2)) // null text -> null answer, row preserved
    val again = LlmUdf.withCompletions(df, "txt", "ans", "m", "sys",
      () => new StubBatchClient).orderBy("id").collect()
    assert(out.map(_.toString).toSeq == again.map(_.toString).toSeq)
  }

  test("flattenContent over withCompletions makes one chat call per non-null row") {
    LlmSpec.chatCalls.set(0)
    val df = Seq(("r1", "ab"), ("r2", "abc"), ("r3", "abcd"), ("r4", null.asInstanceOf[String]))
      .toDF("custom_id", "txt")
    val out = graft.ops.Parse.flattenContent(LlmUdf.withCompletions(df, "txt", "content",
      "m", "sys", () => new LlmSpec.CountingClient)).collect()
    assert(LlmSpec.chatCalls.get == 3)
    // two array answers of two records, one object answer, one null answer
    assert(out.length == 6)
  }
}

object LlmSpec {
  val chatCalls = new java.util.concurrent.atomic.AtomicLong

  /** Counts chat calls; even-length prompts answer with a JSON array. */
  class CountingClient extends StubBatchClient {
    override def chat(model: String, system: String, user: String): String = {
      chatCalls.incrementAndGet()
      if (user.length % 2 == 0) """[{"n":1},{"n":2}]""" else super.chat(model, system, user)
    }
  }
}
