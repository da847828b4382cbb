package graft

import org.apache.spark.sql.functions._
import graft.operators.StatefulQueries

/** The named drain witnesses fire: each one rejects a drain that did not do
  * what it witnesses, with an IllegalArgumentException that names the
  * check, and passes the same drain once its condition holds. */
class WitnessSpec extends SparkSpec {

  /** A replay dir of ONE file (three rows, two keys): it can only ever run
    * one data micro-batch. */
  private def oneFileReplay(tag: String): String = {
    import spark.implicits._
    StatefulQueries.timeOrderedFilesCopy(spark, s"witness-$tag:${System.nanoTime()}",
        Seq("w0.parquet")) {
      Seq(Seq((1L, "a"), (2L, "b"), (3L, "a")).toDF("id", "k"))
    }
  }

  test("requireDataBatches rejects a one-file replay at min = 2") {
    val dir = oneFileReplay("batches")
    def drain(check: org.apache.spark.sql.streaming.StreamingQuery => Unit) =
      StatefulQueries.drainToMemory(spark, StatefulQueries.replayStream(spark, dir))(check)
    val e = intercept[IllegalArgumentException] {
      drain(StatefulQueries.requireDataBatches(_, 2, "the one-file replay"))
    }
    assert(e.getMessage.contains("requireDataBatches"), e.getMessage)
    assert(e.getMessage.contains("saw 1"), e.getMessage)
    // the same drain passes when the threshold or the vacuous case holds
    assert(drain(StatefulQueries.requireDataBatches(_, 1, "the one-file replay")).count() == 3)
    assert(drain(StatefulQueries.requireDataBatches(_, 2, "the one-file replay",
      vacuousAtRows = 3)).count() == 3)
  }

  test("requireStateBounded rejects an aggregate that never evicts") {
    val dir = oneFileReplay("state")
    val counts = StatefulQueries.replayStream(spark, dir).groupBy(col("k")).count()
    def drain(check: org.apache.spark.sql.streaming.StreamingQuery => Unit) =
      StatefulQueries.drainToMemory(spark, counts, stateWidth = Some(2),
        outputMode = "complete")(check)
    // both keys stay, within maxLeft = 2, but nothing ever left the store
    val e = intercept[IllegalArgumentException] {
      drain(StatefulQueries.requireStateBounded(_, 2, "the unwatermarked count"))
    }
    assert(e.getMessage.contains("requireStateBounded"), e.getMessage)
    assert(e.getMessage.contains("removed=0, left=2"), e.getMessage)
  }
}
