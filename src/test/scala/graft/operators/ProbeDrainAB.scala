package graft.operators

import org.apache.spark.sql.SparkSession

/** Interleaved single-JVM A/B of the memory-sink drains on the engine
  * default state store provider vs the heap-only drain provider
  * (GraftMemoryStateStoreProvider) — the engine mode pins
  * `HDFSBackedStateStoreProvider`, which the drain conf scope leaves in
  * place, and the memory mode unsets the pin; the pin is read at drain
  * time, so the two modes alternate rep by rep and host drift hits both
  * equally (the ProbeDocSim discipline).
  * Usage: Test/runMain graft.operators.ProbeDrainAB [sfDir] [reps] [q1,q2,..]
  */
object ProbeDrainAB {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val reps = args.drop(1).headOption.map(_.toInt).getOrElse(5)
    val queries = args.drop(2).headOption
      .map(_.split(",").toSeq)
      .getOrElse(Seq("q1r_running_max_streaming", "dedup_exact_ttl_streaming",
                     "q23ss_interval_join_streaming",
                     "q13ns_sessionize_native_streaming",
                     "dau_daily_closed_streaming", "twap_by_type_streaming"))
    val spark = SparkSession.builder()
      .master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    def useProvider(mode: String): Unit =
      if (mode == "engine") spark.conf.set("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.HDFSBackedStateStoreProvider")
      else spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
    // warm both paths once
    for (m <- Seq("engine", "memory")) {
      useProvider(m)
      graft.SparkEntry.queries("q1r_running_max_streaming")(spark, sfDir).count()
    }
    for (q <- queries) {
      val times = scala.collection.mutable.Map(
        "engine" -> List.empty[Double], "memory" -> List.empty[Double])
      for (_ <- 1 to reps; m <- Seq("engine", "memory")) {
        useProvider(m)
        val t0 = System.nanoTime()
        graft.SparkEntry.queries(q)(spark, sfDir).count()
        times(m) = (System.nanoTime() - t0) / 1e9 :: times(m)
      }
      def fmt(m: String) = {
        val ts = times(m).sorted
        f"min=${ts.head}%.3f med=${ts(ts.size / 2)}%.3f"
      }
      println(s"$q: engine ${fmt("engine")}  |  memory ${fmt("memory")}")
    }
    spark.stop()
  }
}
