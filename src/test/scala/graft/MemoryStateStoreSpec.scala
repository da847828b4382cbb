package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.scalatest.funsuite.AnyFunSuite

/** Focused gate for the r20 drain state-store swap: every state shape the
  * memory-sink drains route through GraftMemoryStateStoreProvider must
  * produce EXACTLY the engine-default provider's rows — the provider is an
  * I/O-layer change and may not alter a single value. One representative
  * query per state shape:
  *  - flatMapGroupsWithState keyed fold (q1r)
  *  - event-time TTL expiry through watermark eviction (dedup ttl)
  *  - stream-stream symmetric hash join, 4 stores per partition per side (q23ss)
  *  - session-window aggregation, the PREFIX-SCAN store (q13ns)
  *  - windowed aggregation with watermark-closed emission (dau closed)
  * Also pins the pinned-provider guard: a drain under
  * withRocksDbStateStore, or under an explicit pin of the engine default,
  * must NOT be re-routed to the memory provider (the *_rocksdb twins are
  * the production-provider honesty gate). */
class MemoryStateStoreSpec extends SparkSpec {

  private val sfDir = "/root/testdata/sf0.001"

  private def rowsOf(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  private val ProviderKey = "spark.sql.streaming.stateStore.providerClass"
  private val HdfsProvider =
    "org.apache.spark.sql.execution.streaming.state.HDFSBackedStateStoreProvider"

  private def compare(query: String): Unit = {
    // an explicit pin of the engine default wins over the drain's swap
    spark.conf.set(ProviderKey, HdfsProvider)
    val engine = try rowsOf(SparkEntry.queries(query)(spark, sfDir))
    finally spark.conf.unset(ProviderKey)
    // unpinned = memory provider
    val memory = rowsOf(SparkEntry.queries(query)(spark, sfDir))
    assert(memory == engine, s"$query: memory-provider rows diverge from engine provider")
    assert(memory.nonEmpty, s"$query: vacuous comparison")
  }

  test("fMGWS keyed fold: q1r identical on both providers") {
    compare("q1r_running_max_streaming")
  }

  test("event-time TTL eviction: identical on both providers") {
    compare("dedup_exact_ttl_streaming")
  }

  test("stream-stream join state: q23ss identical on both providers") {
    compare("q23ss_interval_join_streaming")
  }

  test("session-window prefix-scan state: q13ns identical on both providers") {
    compare("q13ns_sessionize_native_streaming")
  }

  test("watermark-closed windowed aggregation: identical on both providers") {
    compare("dau_daily_closed_streaming")
  }

  test("pinned RocksDB drains stay on RocksDB (provider guard)") {
    // a caller that pins a provider BEFORE the drain wins over the memory
    // swap — the rocksdb twin's own pin, and an explicit pin of the engine
    // default. Witness: the provider-specific custom state metrics in the
    // drain's progress reports (the memory provider reports none), and the
    // session conf being exactly as the caller left it afterwards.
    val key = ProviderKey
    val cases = Seq(
      ("q1rdb_running_max_rocksdb", None, "rocksdbCommit"),
      ("q1r_running_max_streaming", Some(HdfsProvider), "loadedMapCache"))
    for ((query, pin, metricPrefix) <- cases) {
      val metrics = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
      val done = new java.util.concurrent.CountDownLatch(1)
      val listener = new StreamingQueryListener {
        override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
        override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
          e.progress.stateOperators.foreach(op => metrics.addAll(op.customMetrics.keySet()))
        override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit =
          done.countDown()
      }
      pin.foreach(spark.conf.set(key, _))
      val before = spark.conf.getAll.get(key)
      spark.streams.addListener(listener)
      try {
        SparkEntry.queries(query)(spark, sfDir).count()
        assert(done.await(60, java.util.concurrent.TimeUnit.SECONDS), s"$query: no termination event")
        assert(spark.conf.getAll.get(key) == before, s"$query: provider conf changed by the drain")
        assert(metrics.asScala.exists(_.startsWith(metricPrefix)),
          s"$query pinned to ${pin.getOrElse("RocksDB")}: no $metricPrefix* state metric " +
            s"(got ${metrics.asScala.toSeq.sorted}) — the drain ran on another provider")
      } finally {
        spark.streams.removeListener(listener)
        pin.foreach(_ => spark.conf.unset(key))
      }
    }
  }
}
