package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Closed-loop timing and checks shared by the workloads. */
final class Ctx(val spark: SparkSession, val seed: Long, val work: Path, seconds: Int) {
  /** (sample kind, milliseconds, rows) of every timed step */
  val samples = mutable.ArrayBuffer[(String, Double, Long)]()
  var attempted = 0L
  var failed = 0L
  private var deadline = Long.MaxValue
  var measuring = false

  def startClock(): Unit = { deadline = System.nanoTime() + seconds * 1000000000L; measuring = true }
  def timeUp: Boolean = System.nanoTime() >= deadline

  /** Time one closed-loop step; a step that throws is a failed operation. */
  def step[T](kind: String, rows: Long)(body: => T): T = {
    attempted += 1
    val t0 = System.nanoTime()
    val out = try Trace.span(s"step.$kind", "step")(body) catch {
      case e: Throwable => failed += 1; throw e
    }
    if (measuring) samples += ((kind, (System.nanoTime() - t0) / 1e6, rows))
    out
  }

  def sample(kind: String, ms: Double, rows: Long): Unit =
    if (measuring) samples += ((kind, ms, rows))

  /** An output check against the generator's ground truth. */
  def check(name: String, ok: Boolean, detail: => String = ""): Unit = {
    attempted += 1
    if (!ok) {
      failed += 1
      System.err.println(s"[perfbench] check failed: $name $detail")
    }
  }

  def ms(kind: String): Seq[Double] = samples.collect { case (k, v, _) if k == kind => v }.toSeq
}

/** A workload: its inputs come from the generator, its set-up is
  * repeated (and timed) a few times, and its cycles are closed-loop
  * sequences of steps run until the measuring time is used up.
  */
trait Workload {
  def generate(): Unit
  /** JIT and codegen warm-up: the workload's own steps on its real
    * inputs, untimed, once per process (on a fresh JVM the first
    * full-size steps run far slower, and vary far more, than later ones).
    */
  def warmUp(): Unit
  /** Build the standing state the timed cycles start from (indexes,
    * cached inputs); repeated, its median is part of setup_s.
    */
  def buildState(): Unit
  /** One cycle: a fixed sequence of closed-loop steps. Cycles repeat
    * until the measuring time is used up (at least one).
    */
  def cycle(index: Int): Unit
  /** End-to-end metrics from the timed samples: name -> (value, unit). */
  def endToEnd(): Seq[(String, Double, String)]
  /** Human-readable per-workload metrics (the names the README maps). */
  def report(): Seq[String]
  /** Per-layer metrics of the traced cycle. */
  def layers(view: SpanView): Map[String, Double]
}

object Main {
  def main(args: Array[String]): Unit = {
    val t0 = System.nanoTime()
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opts("workload")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toInt
    val traced = opts("trace") == "1"
    val work = Paths.get(opts("work")).toAbsolutePath
    val result = Paths.get(opts("result")).toAbsolutePath
    val traceOut = opts.get("spans").map(Paths.get(_).toAbsolutePath)
    val cores = Runtime.getRuntime.availableProcessors()
    Files.createDirectories(work)
    Trace.mainThread = Thread.currentThread()
    Trace.runId = s"$workload-seed$seed-trace${opts("trace")}-${ProcessHandle.current().pid()}"

    val spark = session(work, workload)
    val batches = Trace.install(spark)
    val sessionS = (System.nanoTime() - t0) / 1e9

    val ctx = new Ctx(spark, seed, work, seconds)
    val w = create(workload, ctx, batches)
    w.generate()
    val w0 = System.nanoTime()
    w.warmUp()
    val warmS = (System.nanoTime() - w0) / 1e9
    val stateReps = (1 to 3).map { _ =>
      val s0 = System.nanoTime()
      w.buildState()
      (System.nanoTime() - s0) / 1e9
    }
    val setupS = sessionS + warmS + Stats.median(stateReps)

    var ok = true
    val lines = mutable.ArrayBuffer[String]()
    val metrics = mutable.ArrayBuffer[(String, Double, String)]()
    try {
      if (!traced) {
        ctx.startClock()
        var i = 0
        while (i == 0 || !ctx.timeUp) { w.cycle(i); i += 1 }
        metrics += (("setup_s", setupS, "s"))
        metrics ++= w.endToEnd()
        lines += f"metric setup_s $setupS%.4f s (session $sessionS%.3f s + warm-up $warmS%.3f s + " +
          f"median of state builds ${stateReps.map(x => f"$x%.3f").mkString(", ")})"
        lines ++= w.report()
      } else {
        // a settling cycle, then traced and untraced cycles in turn;
        // per-layer numbers come from the first traced cycle, the
        // overhead from the medians of the others
        ctx.startClock()
        val plain = mutable.ArrayBuffer[Double]()
        val withTrace = mutable.ArrayBuffer[Double]()
        var layerSpans: Seq[(Span, Long)] = Nil
        var layerTasks: Seq[TaskRec] = Nil
        var view: SpanView = null
        var i = 0
        while (i < 3 || !ctx.timeUp) {
          val on = i % 2 == 1
          // listener events arrive asynchronously: drain the previous
          // cycle's before recording, and this cycle's before stopping
          if (on) { Thread.sleep(500); Trace.enabled = true }
          val calls0 = ClientStats.snapshot()
          val c0 = System.nanoTime()
          if (on) Trace.span(s"cycle.$i", "cycle")(w.cycle(i)) else w.cycle(i)
          if (i > 0) (if (on) withTrace else plain) += (System.nanoTime() - c0) / 1e9
          if (on) { Thread.sleep(500); Trace.enabled = false }
          if (i == 1) {
            layerSpans = Trace.resolve(Trace.snapshot())
            layerTasks = Trace.taskSnapshot()
            view = new SpanView(layerSpans, layerTasks, Trace.jobSnapshot(),
              Layers.llm(calls0, ClientStats.snapshot()))
          }
          i += 1
        }
        val layer = Layers.complete(view.llm ++ w.layers(view) ++ view.engine(cores))
        val overhead = Stats.median(withTrace.toSeq) - Stats.median(plain.toSeq)
        metrics ++= layer.toSeq.sortBy(_._1).map { case (k, v) => (k, v, LayerUnits(k)) }
        metrics += (("trace.overhead_s", overhead, "s"))
        lines += f"metric trace.overhead_s $overhead%.4f s (traced cycle median ${Stats.median(withTrace.toSeq)}%.3f s over ${withTrace.size}, untraced ${Stats.median(plain.toSeq)}%.3f s over ${plain.size})"
        traceOut.foreach(p => Trace.write(p, layerSpans, layerTasks))
        lines ++= metrics.dropRight(1).map { case (k, v, u) => f"metric $k $v%.6g $u" }
      }
    } catch {
      case e: Throwable =>
        ok = false
        System.err.println(s"[perfbench] $workload failed: $e")
        e.printStackTrace()
    }
    spark.streams.active.foreach(_.stop())
    spark.stop()

    val correct = ok && ctx.failed == 0
    val failedFrac = if (ctx.attempted == 0) 1.0 else ctx.failed.toDouble / ctx.attempted
    lines += f"metric failed_frac $failedFrac%.6f ratio (${ctx.failed} of ${ctx.attempted} operations)"
    lines.foreach(println)
    val json = Json.obj(Seq(
      "correct" -> correct.toString,
      "attempted" -> math.max(1L, ctx.attempted).toString,
      "failed" -> (if (ok) ctx.failed else ctx.failed + 1).toString,
      "metrics" -> Json.obj(metrics.toSeq.map { case (k, v, u) =>
        k -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u))) })))
    Files2.write(result, Seq(json))
    System.exit(if (correct) 0 else 1)
  }

  val Workloads: Seq[String] = Seq("etl_round", "curate_corpus", "stream_index", "llm_enrich")

  /** Single-process session: local[nproc], nproc shuffle partitions. */
  def session(work: Path, name: String): SparkSession = {
    val cores = Runtime.getRuntime.availableProcessors()
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-$name")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def create(name: String, ctx: Ctx, batches: Trace.BatchListener): Workload = name match {
    case "etl_round" => new EtlRound(ctx)
    case "curate_corpus" => new CurateCorpus(ctx)
    case "stream_index" => new StreamIndex(ctx, batches)
    case "llm_enrich" => new LlmEnrich(ctx)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  /** Units of the per-layer metrics, by name suffix or name. */
  def LayerUnits(name: String): String =
    if (name.endsWith("_ms")) "ms"
    else if (name.endsWith("_s") || name == "cc.s") "s"
    else if (name.endsWith("_bytes")) "bytes"
    else if (name.endsWith("_mb")) "MB"
    else if (Set("itemstore.useful_ratio", "llm.inflight_avg", "minhash.precision", "packing.fill_ratio",
      "stream.late_early_ratio", "knn.recall_at_k", "spark.cpu_util")(name)) "ratio"
    else "count"
}
