package graft.ops

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.{SparkEntry, SparkTestSession, Tables}

/** The declared q_itemstore_pushdown query must (a) push its temporal
  * cutoff INTO the DSv2 page reader — not as a post-scan Spark filter —
  * and (b) return exactly the rows the parquet-side equivalent
  * produces (VERDICT r3 item 7: prove the pushdown path inside the
  * oracle suite's query set, not just in unit tests).
  */
class ItemStorePushdownSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val dir = SparkTestSession.Sf

  private lazy val q = SparkEntry.queries("q_itemstore_pushdown")(spark, dir)

  test("range cutoff is consumed by the store scan (no residual FilterExec on ts)") {
    q.collect()
    val physical = q.queryExecution.executedPlan
    val residualOnTs = physical.collect {
      case f: org.apache.spark.sql.execution.FilterExec
        if f.condition.references.exists(_.name == "ts") => f
    }
    assert(residualOnTs.isEmpty, s"cutoff not fully pushed:\n$physical")
    // the scan itself advertises the pushed range predicate
    val scan = physical.toString
    assert(scan.contains("ItemStoreScan"), scan)
    assert(scan.contains("GreaterThanOrEqual(ts"), s"no pushed range filter:\n$scan")
  }

  test("LIMIT is pushed into the page readers (each stops after n post-filter rows)") {
    val store = SparkEntry.itemStorePath(dir)
    SparkEntry.ensureItemStore(spark, dir, store)
    val limited = spark.read.format("graft.sources.ItemStore")
      .option("path", store).option("numericFields", "ts,event_id")
      .load().limit(7)
    assert(limited.count() == 7)
    val plan = limited.queryExecution.executedPlan.toString
    assert(plan.contains("PushedLimit: 7"), s"limit not pushed:\n$plan")
    // composes with filter pushdown: limit counts POST-filter rows
    val both = spark.read.format("graft.sources.ItemStore")
      .option("path", store).option("numericFields", "ts,event_id")
      .load().filter(col("ts") >= SparkEntry.ItemStoreCutoff.toDouble).limit(3)
    assert(both.count() == 3)
    assert(both.queryExecution.executedPlan.toString.contains("PushedLimit: 3"))
  }

  test("store-side cutoff returns exactly the parquet-side rows") {
    val expected = Tables.events(spark, dir)
      .filter(col("ts").cast("long") >= SparkEntry.ItemStoreCutoff)
      .select(col("event_id")).as[Long](spark.implicits.newLongEncoder)
      .collect().sorted.toSeq
    val got = q.select(col("event_id")).as[Long](spark.implicits.newLongEncoder)
      .collect().toSeq
    assert(got == expected)
    assert(got.nonEmpty && got.size < 10000, "cutoff should skip part of the store")
  }

  test("a JSON-number fractional epoch inside the window survives it") {
    // FIXTURES B1 row a6's shape: the store renders the float epoch in
    // scientific notation (1.7162412349E9)
    val page = java.nio.file.Files.createTempDirectory("itemstore_float_ts")
    java.nio.file.Files.write(page.resolve("page-0.jsonl"), java.util.Arrays.asList(
      """{"id":"a5","est_timestamp":1716240000.5,"note":"before the window"}""",
      """{"id":"a6","est_timestamp":1716241234.9,"note":"inside the window"}"""))
    val items = spark.read.format("graft.sources.ItemStore")
      .option("path", page.toString).load()
    val kept = items
      .withColumn("e", Timestamps.flexTsEpoch(Ingest.coalesceTsCandidates(items)))
      .filter(Timestamps.recentFilter(col("e"), 1716241000L))
      .select(col("id"), col("e")).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(kept == Seq(("a6", 1716241234L)))
  }
}
