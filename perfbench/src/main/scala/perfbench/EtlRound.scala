package perfbench

import java.nio.file.{FileSystems, Files, Path, StandardWatchEventKinds, WatchService}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.functions.col

import graft.Orchestrator
import graft.ops.Payload

/** Item pages through the reference's cron path: ItemStore scan →
  * Orchestrator.orchestrate (ingest plan, JSONL sink, watermark,
  * submit) → autoResumePending (poll, download) → parseOutputs →
  * writeAggregated. A cycle is one backfill round over a fresh store
  * and state, then a fixed number of incremental rounds that each
  * append a few pages (fixed, so every run times the same rounds).
  */
final class EtlRound(ctx: Ctx) extends Workload {
  import EtlRound._

  private val spark = ctx.spark
  private val in = ctx.work.resolve("etl-input")
  private var rounds: Seq[Gen.Round] = Nil
  private val client = new BenchClient(ctx.seed, 0L, 0.0, "etl")
  private val mapper = new ObjectMapper()
  // traced-cycle observations the spans cannot carry
  private val obs = mutable.Map[String, Double]().withDefaultValue(0.0)
  private var watch: Option[WatchService] = None

  private def now(r: Int): Long = Gen.Now + r * 3600L
  private def prevNow(r: Int): Long = if (r == 0) Gen.Now - 20 * 3600L else now(r - 1)

  def generate(): Unit = {
    val vocab = new Gen.Vocab(ctx.seed, 5000)
    def make(prefix: String, pages: Int => Int, perPage: Int, n: Int): Seq[Gen.Round] = {
      var seq = 0L
      (0 to n).map { r =>
        val round = Gen.itemRound(ctx.seed, vocab, r, seq, pages(r), perPage, prevNow(r), now(r), prefix)
        seq += round.items
        Gen.writePages(in.resolve(s"$prefix-$r"), round.pages)
        round
      }
    }
    rounds = make("etl", r => if (r == 0) BackfillPages else IncrPages, PerPage, IncrRounds)
  }

  /** The backfill and the first incremental round. */
  def warmUp(): Unit = runCycle("etl", rounds.take(2), "warm", timed = false)

  /** The cron path keeps no standing state beyond its inputs. */
  def buildState(): Unit = ()

  def cycle(index: Int): Unit = runCycle("etl", rounds, s"cycle-$index", timed = true)

  private def runCycle(prefix: String, rs: Seq[Gen.Round], tag: String, timed: Boolean): Unit = {
    val store = ctx.work.resolve(s"etl-store-$tag")
    val state = ctx.work.resolve(s"etl-state-$tag")
    Files.createDirectories(state)
    if (Trace.enabled) {
      obs.clear()
      val ws = FileSystems.getDefault.newWatchService()
      state.register(ws, StandardWatchEventKinds.ENTRY_CREATE)
      watch = Some(ws)
    }
    try {
      rs.zipWithIndex.foreach { case (round, r) =>
        Files2.copyTree(in.resolve(s"$prefix-$r"), store)
        runRound(store, state, r, round, if (timed) (if (r == 0) "backfill" else "incr") else "warm")
      }
    } finally {
      watch.foreach { ws => obs("statusstore.writes") += statusWrites(ws); ws.close() }
      watch = None
      Files2.deleteTree(store)
      Files2.deleteTree(state)
    }
  }

  private def statusWrites(ws: WatchService): Int =
    Iterator.continually(ws.poll()).takeWhile(_ != null).map { key =>
      val n = key.pollEvents().asScala.count(_.context().toString == "batch_status.json")
      key.reset()
      n
    }.sum

  private def runRound(store: Path, state: Path, r: Int, round: Gen.Round, kind: String): Unit = {
    val agg = state.resolve(s"aggregated-$r")
    val served0 = servedNow()
    val (rec, done) = ctx.step(kind, round.items) {
      val items = Trace.span("ItemStore.load") {
        spark.read.format("graft.sources.ItemStore").option("path", store.toString).load()
      }
      val rec = Trace.span("Orchestrator.orchestrate") {
        Orchestrator.orchestrate(items, "items", now(r) - 86400L, col("seq").cast("long"),
          Payload.DefaultKey, state.toString, client, wait = false, sleep = _ => ())
      }
      var done = Seq.empty[Orchestrator.BatchStatusResult]
      var ticks = 0
      while (done.isEmpty && ticks < 20) {
        done = Trace.span("Orchestrator.autoResumePending") {
          Orchestrator.autoResumePending(state.toString, client)
        }
        ticks += 1
      }
      done.flatMap(_.outputPath).foreach { out =>
        val parsed = Trace.span("Orchestrator.parseOutputs")(Orchestrator.parseOutputs(spark, out))
        Trace.span("Orchestrator.writeAggregated")(Orchestrator.writeAggregated(parsed, agg.toString))
      }
      (rec, done)
    }
    // output checks against the generator's ground truth (untimed)
    val n = rec.map(_.recordCount).getOrElse(0L)
    ctx.check(s"$kind round $r request count", n == round.expectedRequests,
      s"got $n, expected ${round.expectedRequests}")
    ctx.check(s"$kind round $r batch completed", done.size == 1 && done.head.status == "completed",
      done.toString)
    val served = servedNow().map { case (k, v) => k -> (v - served0.getOrElse(k, 0L)) }
    val records = if (Files.exists(agg)) Files2.lines(agg) else Nil
    val kinds = records.map { l =>
      val rj = mapper.readTree(mapper.readTree(l).get("record_json").asText)
      if (rj.has("raw_content")) "garbage" else Option(rj.get("kind")).map(_.asText).getOrElse("?")
    }
    val expRecords = served.values.sum
    ctx.check(s"$kind round $r parsed records", records.size == expRecords,
      s"got ${records.size}, expected $expRecords")
    ctx.check(s"$kind round $r repaired", kinds.count(_ == "loose") == served.getOrElse("loose", 0L),
      s"got ${kinds.count(_ == "loose")}, expected ${served.getOrElse("loose", 0L)}")
    ctx.check(s"$kind round $r raw fallbacks", kinds.count(_ == "garbage") == served.getOrElse("garbage", 0L),
      s"got ${kinds.count(_ == "garbage")}, expected ${served.getOrElse("garbage", 0L)}")
    if (Trace.enabled) {
      obs("ingest.requests_out") += n
      obs("payload.jsonl_bytes") += Files2.bytes(state.resolve("requests_items"))
      obs("parse.lines_in") += done.flatMap(_.outputPath).map(p =>
        new String(Files.readAllBytes(java.nio.file.Paths.get(p))).split("\n", -1).length - 1).sum
      obs("parse.records_out") += records.size
      obs("parse.repaired") += kinds.count(_ == "loose")
      obs("parse.raw_fallback") += kinds.count(_ == "garbage")
      obs("rounds") += 1
      watch.foreach(ws => obs("statusstore.writes") += statusWrites(ws))
    }
  }

  private def servedNow(): Map[String, Long] =
    ClientStats.served.asScala.map { case (k, v) => k -> v.get }.toMap

  def endToEnd(): Seq[(String, Double, String)] = {
    val all = ctx.samples.filter(s => s._1 == "backfill" || s._1 == "incr")
    Seq(("step_p50_ms", Stats.median(ctx.ms("incr")), "ms"),
      ("rows_per_s", all.map(_._3).sum / (all.map(_._2).sum / 1000), "1/s"))
  }

  def report(): Seq[String] = {
    val b = ctx.ms("backfill").map(_ / 1000)
    val i = ctx.ms("incr").map(_ / 1000)
    Seq(Report.timing("etl.backfill_s", b, "s"), Report.timing("etl.incr_round_s", i, "s"))
  }

  def layers(v: SpanView): Map[String, Double] = {
    val rowsRead = v.attr(v.spans.filter(_.kind == "action"), "itemstore_rows")
    val scanActs = v.actions("itemstore_scan", "Orchestrator.orchestrate")
    Map(
      "itemstore.load_s" -> v.total("ItemStore.load"),
      "itemstore.rows_read" -> rowsRead,
      "itemstore.scans_per_round" -> v.attr(v.spans.filter(_.kind == "action"), "itemstore_scans") / obs("rounds"),
      "itemstore.useful_ratio" -> (if (rowsRead > 0) obs("ingest.requests_out") / rowsRead else 0.0),
      "ingest.exec_s" -> v.seconds(scanActs),
      "ingest.requests_out" -> obs("ingest.requests_out"),
      "ingest.shuffle_bytes" -> v.tasksIn(scanActs).map(_.shuffleWrite).sum.toDouble,
      "payload.jsonl_bytes" -> obs("payload.jsonl_bytes"),
      "payload.write_s" -> v.seconds(v.actions("json_sink", "Orchestrator.orchestrate")),
      "watermark.advance_s" -> v.seconds(v.actions("aggregate", "Orchestrator.orchestrate")),
      "statusstore.writes" -> obs("statusstore.writes"),
      "orchestrate.self_s" -> v.self("Orchestrator.orchestrate"),
      "parse.lines_in" -> obs("parse.lines_in"),
      "parse.records_out" -> obs("parse.records_out"),
      "parse.repaired" -> obs("parse.repaired"),
      "parse.raw_fallback" -> obs("parse.raw_fallback"),
      "parse.exec_s" -> v.total("Orchestrator.writeAggregated"))
  }
}

object EtlRound {
  val BackfillPages = 24
  val IncrPages = 2
  val PerPage = 200
  val IncrRounds = 3
}

object Report {
  /** "metric <name> <p50> <unit> (tail, sample count)" */
  def timing(name: String, xs: Seq[Double], unit: String): String =
    if (xs.isEmpty) s"metric $name n/a $unit (no samples)"
    else {
      val tail = Stats.tail(xs).map { case (p, v) => f"p$p%.1f $v%.4f" }.getOrElse("no percentile with 10 samples beyond it")
      f"metric $name ${Stats.median(xs)}%.4f $unit (p50; tail $tail; n=${xs.size}: ${xs.map(x => f"$x%.3f").mkString(" ")})"
    }
}
