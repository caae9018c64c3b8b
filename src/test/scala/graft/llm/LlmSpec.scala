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
    // a path whose hashCode is Int.MinValue, where math.abs stays negative
    assert("polygenelubricants".hashCode == Int.MinValue)
    for (path <- Seq("/tmp/x.jsonl", "polygenelubricants")) {
      val f = c.uploadFile(path)
      assert(!f.contains("-") && !c.createBatch(f).contains("-"), f)
    }
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

    // 40 rows on one partition, every third text null: the null rows
    // make no call and come out in place, between the answered ones
    LlmSpec.chatCalls.set(0)
    val texts = (0 until 40).map(i => (f"r$i%02d", if (i % 3 == 0) null else "x" * (1 + i % 4)))
    val many = graft.ops.Parse.flattenContent(LlmUdf.withCompletions(
      texts.toDF("custom_id", "txt").coalesce(1), "txt", "content", "m", "sys",
      () => new LlmSpec.CountingClient)).collect()
    assert(LlmSpec.chatCalls.get == texts.count(_._2 != null))
    val expected = texts.flatMap { case (id, t) =>
      if (t != null && t.length % 2 == 0) Seq(id, id) else Seq(id) }
    assert(many.map(_.getAs[String]("_source_custom_id")).toSeq == expected)
  }

  test("withCompletions: answers come out in input order when later calls finish first") {
    val df = (0 until 64).map(i => (i, s"row-$i")).toDF("i", "txt").coalesce(1)
    val out = LlmUdf.withCompletions(df, "txt", "ans", "m", "sys",
      () => new LlmSpec.SlowClient(i => 64 - i)).collect()
    assert(out.map(_.getInt(0)).toSeq == (0 until 64))
    out.foreach(r => assert(r.getString(2) == s"ans:row-${r.getInt(0)}"))
  }

  test("withCompletions: concurrent chat calls per task stay within InFlightPerTask") {
    LlmSpec.resetConcurrency()
    val df = (0 until 64).map(i => (i, s"row-$i")).toDF("i", "txt").coalesce(1)
    val out = LlmUdf.withCompletions(df, "txt", "ans", "m", "sys",
      () => new LlmSpec.SlowClient(_ => 20)).collect()
    assert(out.length == 64)
    val peak = LlmSpec.peak.get
    assert(peak > 1 && peak <= LlmUdf.InFlightPerTask, s"peak $peak")
  }

  test("withCompletions: a row failing every attempt fails the action after 3 attempts") {
    LlmSpec.attempts.clear()
    val df = (0 until 40).map(i => (i, s"row-$i")).toDF("i", "txt").coalesce(1)
    val e = intercept[Exception] {
      LlmUdf.withCompletions(df, "txt", "ans", "m", "sys",
        () => new LlmSpec.FailingClient("row-7")).collect()
    }
    val chain = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null).toSeq
    assert(chain.exists(t => Option(t.getMessage).exists(_.contains("always fails: row-7"))), e)
    assert(LlmSpec.attempts.get("row-7").get == 3)
  }

  test("withCompletions: limit(1) stops the window after at most InFlightPerTask + 1 calls") {
    LlmSpec.chatCalls.set(0)
    LlmSpec.resetConcurrency()
    val df = (0 until 200).map(i => (i, s"row-$i")).toDF("i", "txt").coalesce(1)
    // the first row answers at once, the rest would hang for a minute
    val out = LlmUdf.withCompletions(df, "txt", "ans", "m", "sys",
      () => new LlmSpec.SlowClient(i => if (i == 0) 5 else 60000)).limit(1).collect()
    assert(out.length == 1)
    val calls = LlmSpec.chatCalls.get
    assert(calls >= 1 && calls <= LlmUdf.InFlightPerTask + 1, s"$calls calls")
    // the ended task cancelled its outstanding calls
    val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
    while (LlmSpec.running.get > 0 && System.nanoTime() < deadline) Thread.sleep(10)
    assert(LlmSpec.running.get == 0, s"${LlmSpec.running.get} calls still running")
  }
}

object LlmSpec {
  import java.util.concurrent.ConcurrentHashMap
  import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

  val chatCalls = new AtomicLong
  val running = new AtomicInteger
  val peak = new AtomicInteger
  val attempts = new ConcurrentHashMap[String, AtomicInteger]()

  def resetConcurrency(): Unit = { running.set(0); peak.set(0) }

  /** Counts chat calls; even-length prompts answer with a JSON array. */
  class CountingClient extends StubBatchClient {
    override def chat(model: String, system: String, user: String): String = {
      chatCalls.incrementAndGet()
      if (user.length % 2 == 0) """[{"n":1},{"n":2}]""" else super.chat(model, system, user)
    }
  }

  /** Answers `ans:<user>` after `latencyMs(i)` for a `row-<i>` prompt;
    * counts calls and tracks the peak number running at once.
    */
  class SlowClient(latencyMs: Int => Long) extends StubBatchClient {
    override def chat(model: String, system: String, user: String): String = {
      chatCalls.incrementAndGet()
      val now = running.incrementAndGet()
      peak.accumulateAndGet(now, (a, b) => math.max(a, b))
      try {
        Thread.sleep(latencyMs(user.stripPrefix("row-").toInt))
        s"ans:$user"
      } finally running.decrementAndGet()
    }
  }

  /** Fails every attempt for one prompt; counts attempts per prompt. */
  class FailingClient(bad: String) extends StubBatchClient {
    override def chat(model: String, system: String, user: String): String = {
      attempts.computeIfAbsent(user, _ => new AtomicInteger).incrementAndGet()
      if (user == bad) throw new java.io.IOException(s"always fails: $user")
      Thread.sleep(2)
      s"ans:$user"
    }
  }
}
