package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The flagship ingest pipeline (SURVEY.md §3.1 stages a–c) as ONE lazy
  * plan: normalize ts → cutoff filter → extract text → usability gate →
  * first-wins dedup → payload projection. Mirrors the reference's
  * `fetch_recent` + `write_jsonl` composition
  * (batch/main.py:147-255) with stage boundaries replaced by a single
  * Catalyst plan (scan→filter→project pipelines inside one codegen
  * stage; the only wide op is the dedup shuffle + the numbering
  * window).
  */
object Ingest {

  /** @param orderCol stable total order standing in for the
    *                 reference's scan order (SURVEY §7 determinism
    *                 decision).
    */
  /** T6 (dynamo_fetcher.py:182-185): a non-positive look-back window
    * short-circuits to an empty relation without touching the source —
    * Catalyst prunes the scan entirely.
    */
  def runWindow(items: DataFrame, nowEpochSec: Long, hours: Double,
                orderCol: Column, modelKey: String = Payload.DefaultKey,
                watermark: Option[Long] = None,
                systemPrompt: String = Payload.SystemPrompt): DataFrame =
    if (hours <= 0)
      run(items, Long.MaxValue, orderCol, modelKey, watermark,
        systemPrompt = systemPrompt).limit(0)
    else
      run(items, nowEpochSec - (hours * 3600).toLong, orderCol, modelKey,
        watermark, systemPrompt = systemPrompt)

  /** `fresh` → `requests`: the whole ingest plan for one round.
    *
    * @param applyTsFilter false = T5 bypass: no ts normalization, no
    *                      cutoff, no watermark — every row flows
    *                      through (tables lacking a timestamp column
    *                      entirely still work; reference
    *                      `_NO_TS_FILTER`, dynamo_fetcher.py:44-52).
    */
  def run(items: DataFrame, cutoffEpochSec: Long, orderCol: Column,
          modelKey: String = Payload.DefaultKey,
          watermark: Option[Long] = None,
          applyTsFilter: Boolean = true,
          systemPrompt: String = Payload.SystemPrompt): DataFrame =
    requests(fresh(items, cutoffEpochSec, watermark, applyTsFilter),
      orderCol, modelKey, systemPrompt)

  /** Stages a–b: the rows a round may submit — `__ts` normalised, inside
    * the look-back cutoff and strictly newer than the watermark, before
    * any text gate or dedup. `applyTsFilter = false` passes `items`
    * through untouched.
    */
  def fresh(items: DataFrame, cutoffEpochSec: Long,
            watermark: Option[Long] = None,
            applyTsFilter: Boolean = true): DataFrame =
    if (!applyTsFilter) items else {
      val tsNorm = Timestamps.flexTsEpoch(coalesceTsCandidates(items))
      val recent = items
        .withColumn("__ts", tsNorm)
        .filter(col("__ts").isNotNull &&
          Timestamps.recentFilter(col("__ts"), cutoffEpochSec))
      Watermark.filterNew(recent, col("__ts"), watermark)
    }

  /** Stage c: a [[fresh]] frame → batch request records (usable-text
    * gate, first-wins dedup, payload projection).
    */
  def requests(fresh: DataFrame, orderCol: Column,
               modelKey: String = Payload.DefaultKey,
               systemPrompt: String = Payload.SystemPrompt): DataFrame = {
    val usable = TextExtract.usable(fresh, "__text")
    val deduped = Dedup.dedupItems(usable, orderCol)
    // Scale default: per-partition numbering (`p<pid>_<n>`), no global
    // single-partition window. Callers needing the reference's exact
    // `row_<n>` dense order (a test-scale concern — the Batch API only
    // requires uniqueness + ≤64 chars) can call Payload.requests directly.
    Payload.requestsPartitioned(deduped, col("__text"),
      idColOf(deduped), orderCol, modelKey, systemPrompt)
  }

  /** TIMESTAMP_KEYS candidate coalesce (dynamo_fetcher.py:65-84):
    * 14 case-insensitive names for the event-time column.
    */
  val TimestampKeys: Seq[String] = Seq(
    "timestamp", "ts", "time", "date", "datetime", "created", "created_at",
    "createdat", "published", "published_at", "publishedat", "pub_date",
    "est_timestamp")

  def coalesceTsCandidates(df: DataFrame): Column = {
    val byLower = Schemas.byLowerName(df)
    val present = TimestampKeys.flatMap(byLower.get).map(col)
    if (present.isEmpty) lit(null).cast("string")
    else coalesce(present.map(_.cast("string")): _*)
  }

  /** Case-insensitive probe for the table's id-ish column
    * ([[Dedup.IdKeys]] order). Shared with [[graft.Main]]'s
    * order-column choice so the two probes can't drift.
    */
  private[graft] def idColOf(df: DataFrame): Option[Column] = {
    val byLower = Schemas.byLowerName(df)
    Dedup.IdKeys.collectFirst {
      case k if byLower.contains(k) => col(byLower(k))
    }
  }
}
