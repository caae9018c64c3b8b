package perfbench

import scala.collection.mutable

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

import graft.ops.{ConnectedComponents, Curate, MinHash}

/** One batch pass from a seeded corpus to trainer-ready sequences:
  * Curate.curate → MinHash.nearDupPairs → ConnectedComponents
  * (canonical member kept) → Curate.toSequences.
  */
final class CurateCorpus(ctx: Ctx) extends Workload {
  import CurateCorpus._

  private val spark = ctx.spark
  private val in = ctx.work.resolve("curate-input")
  private var truth: Gen.Corpus = _
  private var docs: DataFrame = _
  private var bench: DataFrame = _
  private val obs = mutable.Map[String, Double]().withDefaultValue(0.0)
  private var lastSurvivors: DataFrame = _

  def generate(): Unit = {
    truth = Gen.corpus(ctx.seed, Clean, Exact, Clusters, Contaminated, LowQuality, "curate")
    Files2.write(in.resolve("corpus.jsonl"), truth.docs.map { case (i, t) => Gen.docLine(i, t) })
    Files2.write(in.resolve("bench.jsonl"), truth.bench.map { case (i, t) => Gen.docLine(i, t) })
  }

  private def load(name: String): DataFrame = {
    val df = spark.read.schema("id long, text string").json(in.resolve(name).toString).cache()
    df.count()
    df
  }

  def warmUp(): Unit = {
    buildState()
    pass(docs, bench)
  }

  /** Inputs are read once and held in memory, so a pass measures the
    * operators, not JSON decoding.
    */
  def buildState(): Unit = {
    Option(docs).foreach(_.unpersist(true)); Option(bench).foreach(_.unpersist(true))
    docs = load("corpus.jsonl"); bench = load("bench.jsonl")
  }

  private def pass(corpus: DataFrame, bench: DataFrame): (Array[graft.ops.Packing.Packed], DataFrame, DataFrame, Int) = {
    val survivors = Trace.span("Curate.curate") {
      Curate.curate(corpus, bench, col("id"), col("text")).select(col("id")).localCheckpoint()
    }
    val surv = corpus.join(survivors, Seq("id"), "left_semi")
    val pairs = Trace.span("MinHash.nearDupPairs") {
      MinHash.nearDupPairs(surv, col("id"), col("text"), Threshold).localCheckpoint()
    }
    val (labels, rounds) = Trace.span("ConnectedComponents.componentsWithRounds") {
      val (l, r) = ConnectedComponents.componentsWithRounds(pairs, "id_a", "id_b")
      (l.localCheckpoint(), r)
    }
    val nonCanonical = labels.filter(col("id") =!= col("comp")).select(col("id"))
    val kept = surv.join(nonCanonical, Seq("id"), "left_anti")
    val packs = Trace.span("Curate.toSequences") {
      Curate.toSequences(kept, bench, col("id"), col("text")).collect()
    }
    lastSurvivors = surv
    (packs, survivors, pairs, rounds)
  }

  def cycle(index: Int): Unit = {
    val (packs, survivors, pairs, rounds) = ctx.step("pass", truth.docs.size.toLong)(pass(docs, bench))
    val out = packs.map(_.docId / 1000000L).toSet
    ctx.check("exact duplicates removed", truth.exactGroups.forall(g => g.count(out) == 1 && out(g.min)),
      truth.exactGroups.filterNot(g => g.count(out) == 1).take(3).toString)
    ctx.check("contaminated docs removed", !truth.contaminated.exists(out),
      truth.contaminated.filter(out).take(5).toString)
    ctx.check("one member per near-dup cluster", truth.clusters.forall(g => g.count(out) == 1 && out(g.min)),
      truth.clusters.filterNot(g => g.count(out) == 1).take(3).toString)
    ctx.check("sequences cover exactly the expected documents", out == truth.expectedFinal,
      s"missing ${(truth.expectedFinal -- out).take(5)}, unexpected ${(out -- truth.expectedFinal).take(5)}")
    if (Trace.enabled) {
      obs("curate.survivors") = survivors.count().toDouble
      obs("minhash.verified") = pairs.count().toDouble
      obs("cc.rounds") = rounds.toDouble
      obs("packing.sequences") = packs.map(_.packId).distinct.length.toDouble
      obs("packing.fill_ratio") = packs.map(_.nTokens).sum.toDouble / (obs("packing.sequences") * 2048L)
    }
  }

  def endToEnd(): Seq[(String, Double, String)] = {
    val p = ctx.ms("pass")
    Seq(("step_p50_ms", Stats.median(p), "ms"),
      ("rows_per_s", truth.docs.size * p.size / (p.sum / 1000), "1/s"))
  }

  def report(): Seq[String] = {
    val p = ctx.ms("pass")
    Seq(f"metric curate.docs_per_s ${truth.docs.size * p.size / (p.sum / 1000)}%.2f 1/s " +
      f"(${truth.docs.size} docs per pass, ${p.size} passes)",
      Report.timing("curate.pass_s", p.map(_ / 1000), "s"))
  }

  def layers(v: SpanView): Map[String, Double] = {
    // candidate count: the same banding as nearDupPairs, counted
    // outside the traced cycle so it adds no time to it
    val candidates = MinHash.candidatePairs(lastSurvivors, col("id"), col("text")).count().toDouble
    obs.toMap ++ Map(
      "curate.gate_s" -> v.total("Curate.curate"),
      "minhash.candidates" -> candidates,
      "minhash.precision" -> (if (candidates > 0) obs("minhash.verified") / candidates else 0.0),
      "minhash.pairs_s" -> v.total("MinHash.nearDupPairs"),
      "cc.s" -> v.total("ConnectedComponents.componentsWithRounds"),
      "sequences_s" -> v.total("Curate.toSequences"))
  }
}

object CurateCorpus {
  val Clean = 2000
  val Exact = 60
  val Clusters = 40
  val Contaminated = 40
  val LowQuality = 80
  val Threshold = 0.8
}
