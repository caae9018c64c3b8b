package graft.streaming

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession

class StreamBenchSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val Sf = SparkTestSession.Sf

  test("a probe loop and a fold loop are timed over a 4-file replay") {
    try {
      val docs = StreamBench.stageDocs(spark, Sf, nFiles = 4)
      val embs = StreamBench.stageEmbeddings(spark, Sf, nFiles = 4)
      for ((dir, m) <- Seq(
          docs -> StreamBench.benchNearDup(spark, Sf, docs),
          embs -> StreamBench.benchSelfKnn(spark, Sf, embs))) {
        assert(m.rows == spark.read.parquet(dir).count())
        assert(m.batches == 2) // 2 files per trigger
        assert(m.elapsedSec > 0)
      }
    } finally StreamBench.cleanup()
  }
}
