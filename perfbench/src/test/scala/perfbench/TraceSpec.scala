package perfbench

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

class TraceSpec extends AnyFunSuite {

  test("self time is the duration minus the union of the children") {
    assert(SelfTime.selfNs(0, 100, Nil) == 100)
    assert(SelfTime.selfNs(0, 100, Seq((10, 30), (50, 60))) == 70)
    // overlapping children count once; parts outside the parent do not count
    assert(SelfTime.selfNs(0, 100, Seq((10, 30), (20, 40), (90, 150), (-5, 5))) == 55)
    assert(SelfTime.covered(0, 10, Seq((2, 2), (3, 1))) == 0)
  }

  test("listener counts land on the innermost span of a one-shuffle query") {
    val spark = SparkSession.builder().master("local[2]")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.sql.adaptive.enabled", "false")
      .getOrCreate()
    try {
      val tr = new Tracer(spark, "t", enabled = true)
      tr.span("outer") {
        spark.range(10).collect() // one job, no shuffle, in the outer span itself
        tr.span("inner") {
          spark.range(1000).selectExpr("id % 7 AS k").groupBy("k").count().collect()
        }
      }
      tr.close()
      val Seq(outer, inner) = tr.spans
      assert(inner.parent == outer.id)
      // the aggregation: one job, a map stage and a reduce stage that
      // shuffles exactly what the map stage wrote
      assert(inner.counters.jobs == 1)
      assert(inner.counters.stages == 2)
      assert(inner.counters.tasks == 2 + 2)
      assert(inner.counters.shuffleWriteBytes > 0)
      assert(inner.counters.shuffleReadBytes == inner.counters.shuffleWriteBytes)
      assert(inner.counters.planMs >= 0)
      // the outer span keeps only its own job
      assert(outer.counters.jobs == 1)
      assert(outer.counters.shuffleWriteBytes == 0)
      assert(tr.total.jobs == 2)
      assert(tr.selfNs(outer) + inner.durNs == outer.durNs)
      assert(tr.selfNs(inner) == inner.durNs)
    } finally spark.stop()
  }
}
