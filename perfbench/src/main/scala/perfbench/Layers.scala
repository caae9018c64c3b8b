package perfbench

/** Queries over the resolved spans of one traced cycle. */
final class SpanView(all: Seq[(Span, Long)], tasks: Seq[TaskRec], jobs: Seq[Long],
                     val llm: Map[String, Double]) {
  private val cycles = all.map(_._1).filter(_.kind == "cycle")
  /** spans of the traced cycle only (a late event of another is dropped) */
  private val resolved = all.filter { case (s, _) => s.kind == "cycle" || cycles.exists(_.contains(s)) }
  val spans: Seq[Span] = resolved.map(_._1)
  private val byId = spans.map(s => s.id -> s).toMap
  private val parentOf = resolved.map { case (s, p) => s.id -> p }.toMap
  private val children = resolved.groupBy(_._2).map { case (p, xs) => p -> xs.map(_._1) }

  def named(n: String): Seq[Span] = spans.filter(_.name == n)
  def seconds(xs: Seq[Span]): Double = xs.map(_.durNs).sum / 1e9
  def total(n: String): Double = seconds(named(n))
  def self(n: String): Double =
    named(n).map(s => Trace.selfNs(s, children.getOrElse(s.id, Nil))).sum / 1e9

  def ancestors(s: Span): Iterator[Span] =
    Iterator.iterate(parentOf.get(s.id).flatMap(byId.get))(_.flatMap(p => parentOf.get(p.id).flatMap(byId.get)))
      .takeWhile(_.nonEmpty).map(_.get)

  /** Spark actions of a plan class (any class when empty) below spans named `within`. */
  def actions(cls: String, within: String): Seq[Span] =
    spans.filter(s => s.kind == "action" && (cls.isEmpty || s.cls == cls) &&
      ancestors(s).exists(_.name == within))

  def attr(xs: Seq[Span], key: String): Double = xs.map(_.attrs.getOrElse(key, 0.0)).sum

  def tasksIn(xs: Seq[Span]): Seq[TaskRec] =
    tasks.filter(t => xs.exists(s => t.endNs >= s.startNs && t.endNs <= s.endNs + 1000000L))

  /** Engine totals over the cycle span(s). */
  def engine(cores: Int): Map[String, Double] = {
    val cyc = cycles
    val ts = tasksIn(cyc)
    val wall = seconds(cyc)
    val taskS = ts.map(_.runMs).sum / 1000.0
    Map(
      "spark.jobs" -> jobs.count(j => cyc.exists(s => j >= s.startNs - 1000000L && j <= s.endNs)).toDouble,
      "spark.tasks" -> ts.size.toDouble,
      "spark.task_s" -> taskS,
      "spark.gc_s" -> ts.map(_.gcMs).sum / 1000.0,
      "spark.shuffle_write_bytes" -> ts.map(_.shuffleWrite).sum.toDouble,
      "spark.spill_bytes" -> ts.map(_.spill).sum.toDouble,
      "spark.cpu_util" -> (if (wall > 0) taskS / (wall * cores) else 0.0))
  }
}

/** Every per-layer metric, zero where the workload leaves a layer idle. */
object Layers {
  val All: Seq[String] = Seq(
    "itemstore.load_s", "itemstore.rows_read", "itemstore.scans_per_round", "itemstore.useful_ratio",
    "ingest.exec_s", "ingest.requests_out", "ingest.shuffle_bytes", "payload.jsonl_bytes", "payload.write_s",
    "watermark.advance_s", "statusstore.writes", "orchestrate.self_s",
    "llm.batch_calls", "llm.polls", "llm.chat_calls", "llm.chat_retries", "llm.chat_busy_s", "llm.inflight_avg",
    "parse.lines_in", "parse.records_out", "parse.repaired", "parse.raw_fallback", "parse.exec_s",
    "curate.gate_s", "curate.survivors",
    "minhash.candidates", "minhash.verified", "minhash.precision", "minhash.pairs_s",
    "cc.rounds", "cc.s",
    "packing.sequences", "packing.fill_ratio", "sequences_s",
    "stream.batches", "stream.addbatch_ms", "stream.engine_overhead_ms", "stream.late_early_ratio", "stream.state_mb",
    "knn.seed_build_s", "knn.recall_at_k",
    "spark.jobs", "spark.tasks", "spark.task_s", "spark.gc_s", "spark.shuffle_write_bytes", "spark.spill_bytes",
    "spark.cpu_util")

  def complete(m: Map[String, Double]): Map[String, Double] = {
    val unknown = m.keySet -- All
    require(unknown.isEmpty, s"unlisted per-layer metrics: $unknown")
    All.map(k => k -> m.getOrElse(k, 0.0)).toMap
  }

  /** Client call deltas over a cycle. */
  def llm(before: Map[String, Long], after: Map[String, Long]): Map[String, Double] = {
    def d(k: String) = (after(k) - before(k)).toDouble
    Map("llm.batch_calls" -> (d("uploads") + d("creates") + d("downloads")),
      "llm.polls" -> d("polls"), "llm.chat_calls" -> d("chat_calls"),
      "llm.chat_retries" -> d("chat_retries"), "llm.chat_busy_s" -> d("chat_busy_ns") / 1e9)
  }
}
