package graft.ops

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession

/** T2 parity table over the exact wire formats of the reference
  * (batch/dynamo_fetcher.py:205-279).
  */
class TimestampsSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def parse(values: String*): Seq[Option[Long]] =
    values.toDF("v")
      .select(Timestamps.flexTsEpoch(col("v")).as("e"))
      .collect()
      .map(r => if (r.isNullAt(0)) None else Some(r.getLong(0)))
      .toSeq

  test("epoch seconds int-string") {
    // a JSON-number epoch renders in scientific notation
    assert(parse("1716241234", "1.716241234E9", "1.716241234e+9") ==
      Seq.fill(3)(Some(1716241234L)))
  }
  test("epoch millis heuristic (>1e12 divides by 1000)") {
    assert(parse("1716241234567", "1.716241234567E12") ==
      Seq.fill(2)(Some(1716241234L)))
  }
  test("float seconds truncate toward zero like Python int()") {
    assert(parse("1716241234.9", "1.7162412349E9") ==
      Seq.fill(2)(Some(1716241234L)))
  }
  test("ISO-8601 with Z suffix") {
    assert(parse("2025-05-19T21:20:00Z") == Seq(Some(1747689600L)))
  }
  test("ISO-8601 with explicit offset") {
    assert(parse("2025-05-19T21:20:00+02:00") == Seq(Some(1747682400L)))
  }
  test("naive ISO assumed UTC (session tz)") {
    assert(parse("2025-05-19 21:20:00") == Seq(Some(1747689600L)))
  }
  test("EST fixed offset -5 (no DST), space separator") {
    // wall 17:20 EST == 22:20 UTC
    assert(parse("2025-05-19 17:20:00 EST") == Seq(Some(1747689600L + 3600)))
  }
  test("EDT fixed offset -4, T separator") {
    assert(parse("2025-05-19T17:20:00 EDT") == Seq(Some(1747689600L)))
  }
  test("garbage, empty and null are NULL") {
    assert(parse("not-a-date", "", "2025-13-99 99:99:99", "1.7E") ==
      Seq(None, None, None, None))
  }
  test("numeric epoch passed as long column") {
    val got = Seq(1716241234L).toDF("v")
      .select(Timestamps.flexTsEpoch(col("v"))).collect()(0).getLong(0)
    assert(got == 1716241234L)
  }
  test("recentFilter drops NULL ts rows (reference drops unparseable)") {
    val df = Seq(("a", "1716241234"), ("b", "junk")).toDF("id", "v")
      .withColumn("e", Timestamps.flexTsEpoch(col("v")))
      .filter(col("e").isNotNull && Timestamps.recentFilter(col("e"), 0L))
    assert(df.select("id").as[String].collect().toSeq == Seq("a"))
  }
}
