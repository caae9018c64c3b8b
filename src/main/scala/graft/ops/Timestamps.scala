package graft.ops

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Flexible event-time normalization (operator T2 in SURVEY.md §2.2).
  *
  * Reproduces the semantics of the reference's `_ts_to_int`
  * (reference: batch/dynamo_fetcher.py:205-279) as a single Catalyst
  * expression tree (whole-stage-codegen friendly, no UDF):
  *
  *   - numeric (int / float / decimal / numeric string, scientific
  *     notation included): epoch seconds;
  *     values > 1e12 are treated as epoch *milliseconds* and divided by
  *     1000 (heuristic at dynamo_fetcher.py:220-226); fractional seconds
  *     truncate toward zero like Python's `int()`.
  *   - ISO-8601 strings, `Z` suffix normalized to `+00:00`
  *     (dynamo_fetcher.py:228-241); naive timestamps are assumed UTC
  *     (session timezone must be UTC — build.sbt sets it).
  *   - `"YYYY-mm-dd[ T]HH:MM:SS EST|EDT"` with *fixed* offsets −5/−4
  *     (no DST rules), both `T` and space separators
  *     (dynamo_fetcher.py:249-277).
  *   - anything else → NULL (row later droppable by the caller).
  *
  * The reference had a second, numeric-only copy of this logic in its
  * watermark path (batch/main.py:177-217); per SURVEY.md §7 we
  * deliberately use ONE parser everywhere (the duplication was drift,
  * not design).
  */
object Timestamps {

  private val NumRe = "^[+-]?[0-9]+(\\.[0-9]+)?([eE][+-]?[0-9]+)?$"
  // wall-clock prefix + literal space + zone abbreviation
  private val EstRe =
    "^([0-9]{4}-[0-9]{2}-[0-9]{2}[T ][0-9]{2}:[0-9]{2}:[0-9]{2}(?:\\.[0-9]+)?) (EST|EDT)$"

  /** Normalized epoch seconds (LongType), or NULL when unparseable. */
  def flexTsEpoch(c: Column): Column = {
    val s = trim(c.cast("string"))
    val d = s.cast("double") // non-ANSI cast: null on garbage
    val numericEpoch =
      when(d > lit(1.0e12), d / lit(1000.0)).otherwise(d).cast("long")

    val wall = regexp_extract(s, EstRe, 1)
    val zone = regexp_extract(s, EstRe, 2)
    // EST wall time = UTC-5 → epoch = epoch(wall as UTC) + 5h; EDT → +4h.
    val estEpoch =
      try_to_timestamp(regexp_replace(wall, "T", " ")).cast("long") +
        when(zone === "EST", lit(5L * 3600)).otherwise(lit(4L * 3600))

    val isoEpoch =
      try_to_timestamp(regexp_replace(s, "Z$", "+00:00")).cast("long")

    when(s.isNull || s === "", lit(null).cast("long"))
      .when(s.rlike(NumRe), numericEpoch)
      .when(s.rlike(EstRe), estEpoch)
      .otherwise(isoEpoch)
  }

  /** Normalized TimestampType (second granularity, like the reference's
    * int-seconds canonical form).
    */
  def flexTs(c: Column): Column = timestamp_seconds(flexTsEpoch(c))

  /** Temporal cutoff filter (operator T4, dynamo_fetcher.py:311-314):
    * keeps rows whose normalized ts is >= cutoff; rows with NULL
    * (unparseable/missing) ts are dropped, matching the reference.
    * The cutoff is a literal computed by the caller — never `now()`
    * inside the plan, for determinism.
    */
  def recentFilter(tsEpoch: Column, cutoffEpochSec: Long): Column =
    tsEpoch >= lit(cutoffEpochSec)
}
