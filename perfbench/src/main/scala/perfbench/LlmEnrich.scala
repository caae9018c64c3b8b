package perfbench

import scala.collection.mutable

import org.apache.spark.sql.functions.col

import graft.llm.{BatchClient, LlmUdf}
import graft.ops.{Ingest, Parse, Payload}

/** ItemStore pages → Ingest.run → LlmUdf.withCompletions against the
  * benchmark's client (fixed per-call latency, first-attempt faults) →
  * Parse.flattenContent of the answers. Latency-bound: call
  * concurrency and retry set the pace.
  */
final class LlmEnrich(ctx: Ctx) extends Workload {
  import LlmEnrich._

  private val spark = ctx.spark
  private val in = ctx.work.resolve("enrich-input")
  private var store: Gen.Round = _
  private var passes = 0
  private val obs = mutable.Map[String, Double]().withDefaultValue(0.0)

  def generate(): Unit = {
    val vocab = new Gen.Vocab(ctx.seed, 5000)
    store = Gen.itemRound(ctx.seed, vocab, 0, 0L, Pages, PerPage, Gen.Now - 20 * 3600L, Gen.Now, "enrich")
    Gen.writePages(in.resolve("store"), store.pages)
  }

  def warmUp(): Unit = pass("store")

  /** Nothing standing: every pass reads the store afresh. */
  def buildState(): Unit = ()

  /** Fault epoch of the latest pass: a fresh one re-arms the
    * first-attempt faults.
    */
  private def epoch: String = s"pass-$passes"

  /** One enrichment pass; returns the parsed (custom id, record) rows. */
  private def pass(dir: String): Array[(String, String)] = {
    passes += 1
    val (seed, epoch) = (ctx.seed, this.epoch)
    val factory: () => BatchClient = () => new BenchClient(seed, ChatLatencyMs, ChatFailFrac, epoch)
    val items = Trace.span("ItemStore.load") {
      spark.read.format("graft.sources.ItemStore").option("path", in.resolve(dir).toString).load()
    }
    val requests = Trace.span("Ingest.run")(Ingest.run(items, Gen.Now - 86400L, col("seq").cast("long")))
    val prompts = requests.select(col("custom_id"),
      col("body.messages").getItem(1).getField("content").as("text"))
    val answered = Trace.span("LlmUdf.withCompletions") {
      LlmUdf.withCompletions(prompts, "text", "answer", Payload.resolveModel(Payload.DefaultKey),
        Payload.SystemPrompt, factory)
    }
    val parsed = Trace.span("Parse.flattenContent") {
      Parse.flattenContent(answered.select(col("custom_id"), col("answer").as("content")))
    }
    Trace.span("collect") {
      parsed.select("_source_custom_id", "record_json").collect().map(r => (r.getString(0), r.getString(1)))
    }
  }

  def cycle(index: Int): Unit = {
    val calls0 = ClientStats.snapshot()
    val t0 = System.nanoTime()
    val rows = ctx.step("pass", store.expectedRequests)(pass("store"))
    val wall = (System.nanoTime() - t0) / 1e9
    val calls = ClientStats.snapshot()
    ctx.check("one parsed record per completion", rows.length == store.expectedRequests &&
      rows.map(_._1).distinct.length == rows.length,
      s"${rows.length} records, ${rows.map(_._1).distinct.length} distinct ids, ${store.expectedRequests} requests")
    // a call failing on every attempt aborts the pass (a failed step);
    // a faulted key that was never answered is one the retry dropped
    val unrecovered = ClientStats.unrecovered(epoch)
    ctx.check("no chat call still failing after retry", unrecovered.isEmpty,
      s"${unrecovered.size} faulted keys never answered, e.g. ${unrecovered.take(3)}")
    if (Trace.enabled) {
      obs("ingest.requests_out") = store.expectedRequests.toDouble
      obs("parse.lines_in") = store.expectedRequests.toDouble
      obs("parse.records_out") = rows.length.toDouble
      obs("parse.repaired") = rows.count(_._2.contains("\"loose\"")).toDouble
      obs("parse.raw_fallback") = rows.count(_._2.contains("raw_content")).toDouble
      obs("llm.inflight_avg") = (calls("chat_busy_ns") - calls0("chat_busy_ns")) / 1e9 / wall
    }
  }

  def endToEnd(): Seq[(String, Double, String)] = {
    val p = ctx.ms("pass")
    Seq(("step_p50_ms", Stats.median(p), "ms"),
      ("rows_per_s", store.expectedRequests * p.size / (p.sum / 1000), "1/s"))
  }

  def report(): Seq[String] = {
    val p = ctx.ms("pass")
    Seq(f"metric enrich.rows_per_s ${store.expectedRequests * p.size / (p.sum / 1000)}%.2f 1/s " +
      f"(${store.expectedRequests} rows per pass, ${p.size} passes)",
      Report.timing("enrich.pass_s", p.map(_ / 1000), "s"))
  }

  def layers(v: SpanView): Map[String, Double] = {
    val acts = v.spans.filter(_.kind == "action")
    val rowsRead = v.attr(acts, "itemstore_rows")
    obs.toMap ++ Map(
      "itemstore.load_s" -> v.total("ItemStore.load"),
      "itemstore.rows_read" -> rowsRead,
      "itemstore.scans_per_round" -> v.attr(acts, "itemstore_scans"),
      "itemstore.useful_ratio" -> (if (rowsRead > 0) obs("ingest.requests_out") / rowsRead else 0.0))
  }
}

object LlmEnrich {
  val Pages = 3
  val PerPage = 50
  val ChatLatencyMs = 20L
  val ChatFailFrac = 0.1
}
