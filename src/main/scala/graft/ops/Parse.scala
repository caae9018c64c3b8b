package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Batch-output parse pipeline (operators P1–P6 in SURVEY.md §2.7;
  * reference: batch/batch_parse/parse.py).
  *
  * Wire shape (parse.py:3-26):
  * `{id, custom_id, response:{status_code, body:{choices:[{message:{role,content}}]}}}`
  * where `content` is itself a JSON document (possibly fenced in
  * markdown, possibly "loose" JSON needing repair, possibly a JSON
  * array → one output row per element).
  */
object Parse {

  /** P1 envelope schema (fixed — the only fixed schemas in the system,
    * SURVEY §1.3).
    */
  private val MessageSchema = StructType(Seq(
    StructField("message", StructType(Seq(
      StructField("role", StringType),
      StructField("content", StringType))))))

  val ResponseSchema: StructType = StructType(Seq(
    StructField("id", StringType),
    StructField("custom_id", StringType),
    StructField("response", StructType(Seq(
      StructField("status_code", IntegerType),
      StructField("body", StructType(Seq(
        StructField("choices", ArrayType(MessageSchema))))))))))

  /** Fan a narrow/unsplittable source out across the cluster before
    * per-row parse work. A single-row-group parquet file or a gzip
    * JSONL is ONE input split no matter how many cores exist — without
    * this, every Jackson parse downstream runs on one task. One cheap
    * shuffle of the raw lines buys full parallelism for the (much more
    * expensive) parse stage. No-op effect on results: callers order
    * their output explicitly.
    */
  def fanOut(df: DataFrame): DataFrame =
    df.repartition(df.sparkSession.sessionState.conf.numShufflePartitions)

  /** SRC3: JSONL lines → envelope rows. Malformed/blank outer lines
    * yield NULL structs (PERMISSIVE mode ≙ the reference's
    * skip-and-warn, parse.py:58-69) and are dropped.
    *
    * GENERATOR BARRIER around the parse (the guide §4.4 duplication,
    * JVM edition): a filter over a Project-computed `from_json` is
    * pushed down BY SUBSTITUTION, so each referencing predicate
    * re-evaluates the Jackson parse — the plan showed from_json
    * evaluated four times per row in the envelope filter, and the
    * pushdown additionally dragged all of it below the caller's
    * fan-out exchange (undoing [[fanOut]]). `explode(array(...))`
    * materializes the struct ONCE per input row (one-element array —
    * row count unchanged), and predicates on generator output cannot
    * be pushed below the Generate, so the downstream status/content
    * filters read the materialized struct instead of re-parsing.
    */
  def parseEnvelope(lines: DataFrame, valueCol: String = "value"): DataFrame =
    lines
      .filter(trim(col(valueCol)) =!= "")
      .select(explode(array(from_json(col(valueCol), ResponseSchema)))
        .as("rec"))
      .filter(col("rec").isNotNull && col("rec.custom_id").isNotNull)
      .select("rec.*")

  /** P1: keep HTTP-200 rows and pull out the inner content string
    * (parse.py:72-99); any shape violation → NULL → dropped.
    */
  def extractContent(envelope: DataFrame): DataFrame =
    envelope
      .filter(col("response.status_code") === 200)
      .withColumn("content",
        element_at(col("response.body.choices"), 1).getField("message").getField("content"))
      .filter(col("content").isNotNull)
      .select(col("custom_id"), col("content"))

  /** P2: markdown code-fence strip (parse.py:101-112) — only when the
    * trimmed content both starts AND ends with a fence; the opening
    * fence line (including a ```json hint) and closing fence drop.
    */
  def stripFences(c: Column): Column = {
    val t = trim(c)
    val fenced = t.rlike("(?s)^```.*```$")
    val stripped = trim(
      regexp_replace(
        regexp_replace(t, "(?s)^```[^\\n]*\\n?", ""),
        "(?s)\\n?```$", ""))
    when(fenced, stripped).otherwise(t)
  }

  /** P3: fuzzy JSON repair (`_loosen_json`, parse.py:139-168) — four
    * regex fixes applied before a re-parse, each COLON-ANCHORED
    * exactly like the reference's, so a `+` or thousands-comma inside
    * a QUOTED string value is never touched (a quote sits between the
    * colon and the digits, so the anchor can't reach it — an earlier
    * lookaround-only version mutated `"1,234"` to `"1234"` whenever
    * the strict parse failed for any unrelated reason):
    *   1. strip `//` line comments (lookahead keeps the newline);
    *   2. drop a leading `+` on a number VALUE (after `:`, spacing
    *      normalized to one space, mirroring the reference's `": \1"`);
    *   3. drop trailing commas before `}` / `]`;
    *   4. remove thousands separators inside unquoted number values —
    *      Java replacements can't strip inner commas in one pass (and
    *      unbounded lookbehind is illegal), so one colon-anchored
    *      first-comma removal is applied 5 times: enough for any
    *      number below 10^18. Deliberate superset vs the reference:
    *      after merging, a leading group may exceed 3 digits, so
    *      malformed groupings like `1234,567` also repair (the
    *      reference leaves them unparseable); quoted values are
    *      untouched either way.
    */
  def loosenJson(c: Column): Column = {
    val noComments = regexp_replace(c, "//.*?(?=[\\r\\n])", "")
    val noPlus = regexp_replace(noComments, ":\\s*\\+([0-9.]+)", ": $1")
    val oneComma = "(:\\s*-?[0-9]{1,3}(?:[0-9]{3})*),(?=[0-9]{3}(?:[^0-9]|$))"
    val noThousands = (1 to 5).foldLeft(noPlus)((acc, _) =>
      regexp_replace(acc, oneComma, "$1"))
    regexp_replace(noThousands, ",\\s*(?=[}\\]])", "")
  }

  /** JSON validity probe: `get_json_object(c, "$")` is NULL iff the
    * document does not parse. Needed because `from_json` in PERMISSIVE
    * mode yields an all-NULL struct (not NULL) on malformed input, so
    * a naive coalesce over parse attempts would never fall through.
    */
  def isValidJson(c: Column): Column = get_json_object(c, "$").isNotNull

  /** P3+P4 against a *known* output schema (the fast, codegen'd path):
    * try strict parse, then loosened parse; NULL when both fail (the
    * caller applies the P4 raw_content fallback).
    */
  def repairedJson(c: Column, schema: DataType): Column = {
    val cleaned = stripFences(c)
    val loosened = loosenJson(cleaned)
    when(isValidJson(cleaned), from_json(cleaned, schema))
      .when(isValidJson(loosened), from_json(loosened, schema))
      .otherwise(lit(null).cast(schema))
  }

  /** Full dynamic pipeline P1→P6 for *unknown* content shapes, matching
    * the reference exactly: content may be a JSON object (one row), a
    * JSON array (one row per element, `_source_list_index` attached,
    * parse.py:201-220), a scalar (wrapped as `{"raw_value": ...}`), or
    * unrecoverable (wrapped as `{"raw_content": ...}`). Output columns:
    * `_source_custom_id, _source_list_index, record_json` where
    * `record_json` is the element as a compact JSON string (dynamic
    * schema stays string-typed until the caller applies `from_json`
    * with its own schema).
    *
    * Array detection + per-element re-serialization is pure expression
    * work: a loosened/cleaned string that starts with `[` is parsed as
    * `array<string>` (Spark's JacksonParser re-serializes non-string
    * elements to their JSON text when the target element type is
    * string), everything else stays a single record.
    */
  def flattenContent(extracted: DataFrame): DataFrame = {
    val cleaned = stripFences(col("content"))
    val repaired = loosenJson(cleaned)
    val jsonText =
      when(isValidJson(cleaned), cleaned)
        .when(isValidJson(repaired), repaired)
    val isArray = jsonText.isNotNull && ltrim(jsonText).startsWith("[")
    // array elements re-serialized as raw JSON strings (Spark's JSON
    // parser captures non-string tokens as their source text when the
    // target element type is StringType)
    val arr = from_json(jsonText, ArrayType(StringType))
    val objJson = jsonText

    val base = extracted
      .withColumn("__isarr", isArray)
      .withColumn("__arr", arr)
      .withColumn("__obj", objJson)

    // Non-dict values keep the reference's raw_value wrapping
    // (parse.py:203-208): objects pass through; any other valid JSON
    // value is spliced as typed JSON (`{"raw_value":42}`); a bare
    // string element (Spark's parser captures string tokens unquoted)
    // is re-quoted via to_json. One ambiguity is unavoidable at the
    // expression level: a source array element that was the QUOTED
    // string "42" re-captures as the token 42 and wraps as a number.
    def wrapNonDict(j: Column): Column =
      when(j.isNull, lit(null).cast(StringType))
        .when(ltrim(j).startsWith("{"), j)
        .when(isValidJson(j), concat(lit("{\"raw_value\":"), j, lit("}")))
        .otherwise(to_json(struct(j.as("raw_value"))))

    // ONE pass over `base` (a union of two filtered branches would run
    // everything upstream twice — every paid chat call under
    // LlmUdf.withCompletions): each row inlines one array of records,
    // the indexed elements of an array answer, else a single record
    // with a null index
    def record(idx: Column, json: Column): Column =
      struct(idx.cast(LongType).as("_source_list_index"), json.as("record_json"))
    val records = when(col("__isarr"),
        transform(col("__arr"), (elem, idx) =>
          record(idx, coalesce(wrapNonDict(elem), lit("{\"raw_value\":null}")))))
      .otherwise(array(record(lit(null),
        // P4 fallback: unparseable content survives as raw_content
        coalesce(wrapNonDict(col("__obj")),
          to_json(struct(stripFences(col("content")).as("raw_content")))))))

    base.select(col("custom_id").as("_source_custom_id"), inline(records))
  }

  /** Convenience: whole pipeline from raw JSONL lines. */
  def pipeline(lines: DataFrame, valueCol: String = "value"): DataFrame =
    flattenContent(extractContent(parseEnvelope(lines, valueCol)))
}
