package graft.ops

import scala.concurrent.Await
import scala.concurrent.duration._
import scala.util.Try

import org.apache.spark.sql.{Column, DataFrame, Observation}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StringType

/** Batch request projection + JSONL sink (operators T8/T9/W1/SNK1 in
  * SURVEY.md §2.2/§2.6; reference: batch/jsonl_formatter.py:24-39,154-188
  * and batch/models.py:38-87).
  *
  * Produces the OpenAI Batch-API request shape:
  * `{custom_id, method:"POST", url:"/v1/chat/completions",
  *   body:{messages:[{role:"system",...},{role:"user",...}], model, user?}}`
  * as a nested StructType; `to_json` + text write = JSONL (one compact
  * JSON doc per line, matching the reference's
  * `separators=(",",":"), ensure_ascii=False`).
  */
object Payload {

  /** Our own instruction text (functionally equivalent role to
    * jsonl_formatter.py:17-21's system prompt: force strict-JSON
    * analytic output so the parse side stays mechanical).
    */
  val SystemPrompt: String =
    "You are an analytics assistant. Read the user item and respond with " +
      "a single strict JSON object (no prose, no code fences) with keys: " +
      "topic, sentiment, entities."

  /** Logical model keys → pinned ids (models.py:38-42: logical size
    * aliases so callers never hard-code concrete ids).
    */
  val ModelMap: Map[String, String] = Map(
    "nano" -> "gpt-4.1-nano-2025-04-14",
    "mini" -> "gpt-4.1-mini-2025-04-14",
    "full" -> "gpt-4.1-2025-04-14")

  /** Batch-supported chat ids — full reference catalog
    * (models.py:44-64).
    */
  val ChatModels: Seq[String] = Seq(
    "gpt-4.1-2025-04-14",
    "gpt-4.1-mini-2025-04-14",
    "gpt-4.1-nano-2025-04-14",
    "gpt-4o",
    "gpt-4o-mini",
    "gpt-4o-2024-05-13",
    "gpt-3.5-turbo",
    "gpt-3.5-turbo-16k",
    "gpt-4",
    "gpt-4-32k",
    "gpt-4-turbo-preview",
    "gpt-4-vision-preview",
    "gpt-4-turbo",
    "gpt-4-0125-preview",
    "gpt-3.5-turbo-1106",
    "gpt-4-0314",
    "gpt-4-turbo-2024-04-09",
    "gpt-4-32k-0314",
    "gpt-4-32k-0613")

  /** Batch-supported embedding ids (models.py:66-70). */
  val EmbeddingModels: Seq[String] = Seq(
    "text-embedding-3-large",
    "text-embedding-3-small",
    "text-embedding-ada-002")

  val SupportedModels: Set[String] = (ChatModels ++ EmbeddingModels).toSet

  val DefaultKey = "nano"

  /** T9 (models.py:76-87): alias → mapped id; known supported id →
    * itself; anything else → the nano default. Plan-build-time lookup
    * (constant-folds into a literal).
    */
  def resolveModel(key: String): String =
    ModelMap.getOrElse(key,
      if (SupportedModels(key)) key else ModelMap(DefaultKey))

  /** `--list-models` surface (main.py:635-649). */
  def listModels: String =
    (Seq("Chat Models:") ++ ChatModels ++
      Seq("", "Embedding Models:") ++ EmbeddingModels).mkString("\n")

  /** W1+T8: rows → request records. `custom_id = "row_<n>"`, 1-based
    * dense numbering in `order` (the reference numbers in write order,
    * jsonl_formatter.py:169; Spark has no file order so the caller
    * supplies a stable total order — SURVEY §7 decision).
    *
    * NOTE (scale): a single dense global numbering forces one window
    * partition. Fine for batches up to ~10M rows (the Batch API caps
    * requests far below that); for larger fan-outs use
    * [[requestsPartitioned]] which numbers within partitions.
    */
  def requests(df: DataFrame, textCol: Column, idCol: Option[Column],
               orderCol: Column, modelKey: String = DefaultKey,
               systemPrompt: String = SystemPrompt): DataFrame =
    requestsRanked(df, textCol, idCol,
      row_number().over(Window.orderBy(orderCol.asc)), modelKey, systemPrompt)

  /** W1 without the window: the caller supplies an already-dense 1-based
    * rank (e.g. `id + 1` when ids are dense, or a precomputed
    * `zipWithIndex`). No shuffle, no single-partition window — this is
    * the preferred shape whenever a dense key exists.
    */
  def requestsRanked(df: DataFrame, textCol: Column, idCol: Option[Column],
                     rankCol: Column, modelKey: String = DefaultKey,
                     systemPrompt: String = SystemPrompt): DataFrame = {
    val customId = concat(lit("row_"), rankCol.cast(StringType))
    df.select(customId.as("custom_id"), textCol.as("__text"),
        idCol.getOrElse(lit(null).cast(StringType)).cast(StringType).as("__user"))
      .select(
        col("custom_id"),
        lit("POST").as("method"),
        lit("/v1/chat/completions").as("url"),
        struct(
          array(
            struct(lit("system").as("role"), lit(systemPrompt).as("content")),
            struct(lit("user").as("role"), col("__text").as("content"))
          ).as("messages"),
          lit(resolveModel(modelKey)).as("model"),
          col("__user").as("user")
        ).as("body"))
  }

  /** Scale-path numbering: `custom_id = "p<partition>_<n>"` — unique,
    * ≤64 chars, no global sort/single-partition window. Deterministic
    * when the input partitioning is (repartitionByRange on the order
    * column makes it so).
    */
  def requestsPartitioned(df: DataFrame, textCol: Column, idCol: Option[Column],
                          orderCol: Column, modelKey: String = DefaultKey,
                          systemPrompt: String = SystemPrompt): DataFrame = {
    // materialize the partition id BEFORE the window shuffle —
    // spark_partition_id() inside partitionBy would be re-evaluated on
    // the post-shuffle partitioning and collide
    val withPid = df.select(textCol.as("__text"),
      idCol.getOrElse(lit(null).cast(StringType)).cast(StringType).as("__user"),
      orderCol.as("__ord"), spark_partition_id().as("__pid"))
    val w = Window.partitionBy(col("__pid")).orderBy(col("__ord").asc)
    val customId = concat(lit("p"), col("__pid").cast(StringType),
      lit("_"), row_number().over(w).cast(StringType))
    withPid.select(customId.as("custom_id"), col("__text"), col("__user"))
      .select(
        col("custom_id"), lit("POST").as("method"),
        lit("/v1/chat/completions").as("url"),
        struct(
          array(
            struct(lit("system").as("role"), lit(systemPrompt).as("content")),
            struct(lit("user").as("role"), col("__text").as("content"))
          ).as("messages"),
          lit(resolveModel(modelKey)).as("model"),
          col("__user").as("user")
        ).as("body"))
  }

  /** SNK1: request records → one compact JSON string per row.
    * `to_json` omits NULL fields, matching the reference's conditional
    * `user` field (jsonl_formatter.py:170-172).
    */
  def toJsonLines(requests: DataFrame): DataFrame =
    requests.select(to_json(struct(requests.columns.map(col): _*)).as("value"))

  /** Write as JSONL (text sink, one doc per line). Returns the row
    * count (the reference returns `(path, written)`:
    * jsonl_formatter.py:77), observed on the lines inside the write
    * itself: the write is the only Spark action.
    */
  def writeJsonl(requests: DataFrame, path: String): Long = {
    val written = Observation()
    toJsonLines(requests).observe(written, count(lit(1)).as("n"))
      .write.mode("overwrite").text(path)
    observedLong(written, "n").getOrElse(0L)
  }

  /** A metric observed by an action that has already run, or None.
    * Spark completes an [[Observation]] from its listener bus after the
    * action returns, so this waits for it, but only up to
    * `ObservedWait`; Catalyst may also prune an observed node (an
    * empty relation below it), which completes the observation with no
    * values. A missing key, a null value and a wait that runs out all
    * read as None, which callers treat as "no rows".
    */
  private[graft] def observedLong(o: Observation, key: String): Option[Long] = {
    val row = Try(Await.result(o.future, ObservedWait)).toOption
    row.flatMap(r => Try(r.getAs[Any](key)).toOption)
      .collect { case v: java.lang.Number => v.longValue() }
  }

  private val ObservedWait = 10.seconds
}
