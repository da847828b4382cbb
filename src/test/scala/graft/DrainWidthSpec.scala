package graft

import java.util.concurrent.{ConcurrentHashMap, CountDownLatch, TimeUnit}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.streaming.StreamingQueryListener

/** The drain width rule: a drain's stateful shuffle runs at its call site's
  * ceiling capped at the task slots, `min(8, defaultParallelism)` for the
  * events drains, so every state store of a micro-batch runs in one wave.
  * Witness: the state operator's own progress (`numStateStoreInstances`).
  * The session's shuffle width is back as it was afterwards, unset or
  * pinned. */
class DrainWidthSpec extends SparkSpec {

  private val WidthKey = "spark.sql.shuffle.partitions"

  /** `numStateStoreInstances` of state operator 0 in every progress report
    * of the streaming queries `query` starts. */
  private def storeInstances(query: String): Seq[Long] = {
    val started = ConcurrentHashMap.newKeySet[java.util.UUID]()
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    val done = new CountDownLatch(1)
    val listener = new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
        started.add(e.runId)
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
        if (started.contains(e.progress.runId))
          e.progress.stateOperators.headOption.foreach(op => seen.add(op.numStateStoreInstances))
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit =
        if (started.contains(e.runId)) done.countDown()
    }
    spark.streams.addListener(listener)
    try {
      assert(SparkEntry.queries(query)(spark, Sf0001).count() > 0)
      assert(done.await(60, TimeUnit.SECONDS), s"$query: no termination event")
    } finally spark.streams.removeListener(listener)
    seen.asScala.toSeq
  }

  test("q1r and q1t run min(8, slots) state stores; the session width is restored") {
    val expected = math.min(8, spark.sparkContext.defaultParallelism)
    val prior = spark.conf.getAll.get(WidthKey)
    try {
      for ((pin, query) <- Seq(None -> "q1r_running_max_streaming",
                               Some("3") -> "q1r_running_max_streaming",
                               None -> "q1t_running_max_tws",
                               Some("3") -> "q1t_running_max_tws")) {
        pin match {
          case Some(w) => spark.conf.set(WidthKey, w)
          case None    => spark.conf.unset(WidthKey)
        }
        val instances = storeInstances(query)
        assert(instances.nonEmpty, s"$query: no state-operator progress")
        assert(instances.forall(_ == expected),
          s"$query (session width $pin): state store instances $instances, expected $expected")
        assert(spark.conf.getAll.get(WidthKey) == pin,
          s"$query: session width ${spark.conf.getAll.get(WidthKey)} after the drain, was $pin")
      }
    } finally prior match {
      case Some(w) => spark.conf.set(WidthKey, w)
      case None    => spark.conf.unset(WidthKey)
    }
  }
}
