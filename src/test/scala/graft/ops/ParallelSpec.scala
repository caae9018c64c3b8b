package graft.ops

import org.apache.spark.TaskContext
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession

class ParallelSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  test("a failed side cancels the other side's running job") {
    val sc = spark.sparkContext
    def active = sc.statusTracker.getActiveJobIds
    def await(cond: => Boolean, secs: Int): Boolean = {
      val deadline = System.nanoTime() + secs * 1000000000L
      while (!cond && System.nanoTime() < deadline) Thread.sleep(20)
      cond
    }
    try {
      val e = intercept[IllegalStateException] {
        Parallel.both(
          // a 60 s job that stops as soon as its tasks are killed
          sc.parallelize(1 to 2, 2).mapPartitions { it =>
            val ctx = TaskContext.get()
            val end = System.nanoTime() + 60000000000L
            while (!ctx.isInterrupted() && System.nanoTime() < end) Thread.sleep(20)
            it
          }.count(),
          {
            assert(await(active.nonEmpty, 30), "the long job never started")
            throw new IllegalStateException("side b failed")
          })
      }
      assert(e.getMessage == "side b failed")
      assert(await(active.isEmpty, 10),
        s"jobs still active 10 s after the failure: ${active.mkString(",")}")
    } finally sc.cancelAllJobs()
  }
}
