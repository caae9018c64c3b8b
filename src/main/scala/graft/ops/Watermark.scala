package graft.ops

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._

/** Incremental high-water-mark processing (operators S1/A1 in
  * SURVEY.md §2.4; reference: batch/main.py:68-135,168-274).
  *
  * Semantics reproduced:
  *   - per-table watermark, epoch seconds, strict `>` filter
  *     (main.py:219-223);
  *   - watermark advanced to `max(ts)` of the batch and persisted
  *     BEFORE the external submit, so a submit failure can never cause
  *     resends (at-least-once → at-most-once-ish tradeoff, deliberate:
  *     main.py:258-274);
  *   - store is advisory: deleting it reprocesses one window
  *     (main.py:73-75);
  *   - persistence is atomic: write `.tmp` then rename
  *     (main.py:121-135) → `Files.move(..., ATOMIC_MOVE)`.
  *
  * On a cluster this state would live in a checkpoint dir / table; the
  * JSON-file store matches the reference's operational shape and the
  * load/save surface is the swap point.
  */
object Watermark {

  type Store = Map[String, Long]

  /** Parse `{"table": 1716241234, ...}` (flat string→int JSON). A tiny
    * hand parser avoids dragging a JSON library into state handling;
    * the format is fully under our control.
    */
  def load(path: String): Store = {
    val p = Paths.get(path)
    if (!Files.exists(p)) Map.empty
    else {
      val s = new String(Files.readAllBytes(p), StandardCharsets.UTF_8)
      val entry = """"((?:[^"\\]|\\.)*)"\s*:\s*(-?\d+)""".r
      entry.findAllMatchIn(s).map(m => unescape(m.group(1)) -> m.group(2).toLong).toMap
    }
  }

  def save(path: String, store: Store): Unit = {
    val body = store.toSeq.sortBy(_._1)
      .map { case (k, v) => s""""${escape(k)}": $v""" }
      .mkString("{", ", ", "}")
    val p = Paths.get(path)
    if (p.getParent != null) Files.createDirectories(p.getParent)
    val tmp: Path = Paths.get(path + ".tmp")
    Files.write(tmp, body.getBytes(StandardCharsets.UTF_8))
    try Files.move(tmp, p, StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
    catch { case _: java.nio.file.AtomicMoveNotSupportedException =>
      Files.move(tmp, p, StandardCopyOption.REPLACE_EXISTING)
    }
  }

  private def escape(s: String): String =
    s.flatMap { case '"' => "\\\""; case '\\' => "\\\\"; case c => c.toString }
  private def unescape(s: String): String =
    s.replace("\\\"", "\"").replace("\\\\", "\\")

  /** S1: strict-`>` watermark filter (no-op when no watermark yet). */
  def filterNew(df: DataFrame, tsEpoch: Column, last: Option[Long]): DataFrame =
    last.fold(df)(w => df.filter(tsEpoch > lit(w)))

  /** A1: candidate new watermark = max normalized ts of the batch;
    * None on empty input or all-NULL ts (reference persists only when
    * max > 0, main.py:269-271).
    */
  def advance(df: DataFrame, tsEpoch: Column): Option[Long] =
    markAt(df.agg(max(tsEpoch).as("max_ts")).collect()(0), 0)

  private def markAt(row: Row, i: Int): Option[Long] =
    if (row.isNullAt(i)) None else Some(row.getLong(i)).filter(_ > 0)

  /** Orchestrated incremental step: filter above the stored mark, hand
    * the frame to `sink`, persisting the advanced mark BEFORE invoking
    * the sink (reference ordering, main.py:258-278). Returns rows seen.
    * The row count and the new mark come from one aggregate, so a call
    * runs two actions: that aggregate and the sink.
    */
  def runIncremental(df: DataFrame, tsEpoch: Column, storePath: String,
                     table: String)(sink: DataFrame => Unit): Long = {
    val store = load(storePath)
    val fresh = filterNew(df, tsEpoch, store.get(table)).cache()
    try {
      val row = fresh.agg(count(lit(1)), max(tsEpoch)).collect()(0)
      val n = row.getLong(0)
      if (n > 0) {
        markAt(row, 1).foreach { m =>
          save(storePath, store + (table -> m))
        }
        sink(fresh)
      }
      n
    } finally fresh.unpersist()
  }
}
