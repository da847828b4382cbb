package graft.operators

import org.apache.spark.sql.{DataFrame, Encoder, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import graft.io.Tables
import graft.streaming.TwsOps
import graft.streaming.StatefulOps.{KSV, KV}

/** The q1t–q4t gate forms: the reference's four keyed-state jobs on
  * `transformWithState` ([[TwsOps]] — literal ValueState / MapState /
  * ListState handles), driven through the REAL micro-batch engine on the
  * RocksDB state store (TWS's required provider), over a TWO-FILE
  * time-ordered replay so every query's literal state provably crosses a
  * micro-batch boundary (the ≥2-data-batch witness is asserted from the
  * query's own progress). Registered under the same q1–q4 oracles as every
  * other form — the correctness gate itself proves TWS-form ≡
  * declarative-form ≡ flatMapGroupsWithState-form.
  *
  * All four ops read ONE shared wide replay copy (event_type, event_id,
  * value, yr, mon — split at the median event_id, the verified
  * (ts, event_id)-monotone order), so the per-round copy cost is paid
  * once, like [[StatefulQueries.orderedEventsCopy]].
  */
object TwsQueries {

  private implicit val kvEnc: Encoder[KV] = Encoders.product[KV]
  private implicit val ksvEnc: Encoder[KSV] = Encoders.product[KSV]

  /** `events` as TWO time-ordered parquet files carrying every column the
    * four TWS forms key on. */
  private def orderedEventsWideCopy(spark: SparkSession, sfDir: String): String =
    StatefulQueries.timeOrderedFilesCopy(spark, s"events-wide:$sfDir",
        Seq("ev0.parquet", "ev1.parquet")) {
      val ev = Tables.events(spark, sfDir)
        .select(col("event_type"), col("event_id"), col("value"),
                year(col("ts")).cast("string").as("yr"),
                month(col("ts")).cast("string").as("mon"))
      val mid = ev.agg(max(col("event_id"))).head().getLong(0) / 2
      Seq(ev.filter(col("event_id") <= mid), ev.filter(col("event_id") > mid))
    }

  /** The shared drain: RocksDB provider + one-file-per-micro-batch replay
    * + the cross-batch witness. */
  private def drainTws(spark: SparkSession, sfDir: String)
                      (op: DataFrame => DataFrame): DataFrame =
    StatefulQueries.withRocksDbStateStore(spark) {
      val dir = orderedEventsWideCopy(spark, sfDir)
      StatefulQueries.drainOrderedFiles(spark, dir, minBatches = 2)(op)
    }

  /** Q1 on transformWithState (ValueState), registered under q1's oracle. */
  def runningMaxTws(spark: SparkSession, sfDir: String): DataFrame =
    drainTws(spark, sfDir) { stream =>
      TwsOps.runningMaxTws(stream
        .select(col("yr").as("key"), col("event_id").as("ord"), col("value"))
        .as[KV](kvEnc)).toDF()
    }
      .select(col("ord").as("event_id"), col("key").cast("long").as("yr"),
              col("out").as("run_max"))
      .orderBy(col("event_id"))

  /** Q2 on transformWithState (ValueState counter + ValueState-reduction
    * sum), registered under q2's oracle — blocks genuinely span the batch
    * boundary (10k events / 51 per block across the median split). */
  def blockAvgTws(spark: SparkSession, sfDir: String): DataFrame =
    drainTws(spark, sfDir) { stream =>
      TwsOps.blockAverageTws(stream
        .select(col("event_type").as("key"), col("event_id").as("ord"), col("value"))
        .as[KV](kvEnc)).toDF()
    }
      .select(col("key").as("event_type"), col("block"), col("out").as("avg_value"))
      .orderBy(col("event_type"), col("block"))

  /** Q2 on transformWithState across TWO SEPARATE query RUNS sharing one
    * checkpoint — checkpoint recovery for the LITERAL-state API (q2c
    * proves it for flatMapGroupsWithState): run 1 drains the first half of
    * events to a parquet sink and stops; run 2 starts from the same
    * checkpoint, recovers the RocksDB store (each key's four open
    * ValueStates, INCLUDING the block index) plus the source offsets, and
    * processes only the second half. The combined sink output answers q2's
    * oracle, so wrong recovery — state reset, input re-read, block indices
    * restarting at 0 — fails the hash. */
  def blockAvgTwsCheckpointed(spark: SparkSession, sfDir: String): DataFrame = {
    import java.nio.file.{Files, Paths}
    import org.apache.spark.sql.streaming.Trigger
    val copyDir = orderedEventsWideCopy(spark, sfDir)
    val work = Files.createTempDirectory("graft-q2ct-")
    val srcDir = Files.createDirectory(work.resolve("src"))
    val ckpt = work.resolve("ckpt").toString
    val outDir = work.resolve("out").toString
    val schema = StatefulQueries.copySchema(spark, copyDir)
    def runOnce(): Unit =
      StatefulQueries.withRocksDbStateStore(spark) {
        StatefulQueries.withDrainConf(spark, Some(8), keepProvider = true) {
          val stream = spark.readStream.schema(schema).parquet(srcDir.toString)
          val out = TwsOps.blockAverageTws(stream
            .select(col("event_type").as("key"), col("event_id").as("ord"), col("value"))
            .as[KV](kvEnc)).toDF()
          val q = out.writeStream.outputMode("append")
            .option("checkpointLocation", ckpt)
            .format("parquet").option("path", outDir)
            .trigger(Trigger.AvailableNow()).start()
          q.awaitTermination()
        }
      }
    Files.copy(Paths.get(copyDir, "ev0.parquet"), srcDir.resolve("ev0.parquet"))
    runOnce()
    Files.copy(Paths.get(copyDir, "ev1.parquet"), srcDir.resolve("ev1.parquet"))
    runOnce()
    // materialize, then delete the whole work dir (copies, checkpoint,
    // sink): bench repetitions must not accumulate per-run disk
    val result = spark.read.parquet(outDir)
      .select(col("key").as("event_type"), col("block"), col("out").as("avg_value"))
      .orderBy(col("event_type"), col("block"))
      .localCheckpoint()
    StatefulQueries.deleteRecursively(work)
    result
  }

  /** Q3 on transformWithState (literal MapState), registered under q3's
    * oracle. */
  def runningMaxMonthTws(spark: SparkSession, sfDir: String): DataFrame =
    drainTws(spark, sfDir) { stream =>
      TwsOps.runningMaxBySubkeyTws(stream
        .select(col("yr").as("key"), col("mon").as("subkey"),
                col("event_id").as("ord"), col("value"))
        .as[KSV](ksvEnc)).toDF()
    }
      .select(col("ord").as("event_id"), col("key").cast("long").as("yr"),
              col("subkey").cast("long").as("mon"), col("out").as("run_max"))
      .orderBy(col("event_id"))

  /** q13 on transformWithState with EVENT-TIME TIMERS
    * ([[TwsOps.SessionProcessor]] — `registerTimer`/`handleExpiredTimer`,
    * the Flink `registerEventTimeTimer`/`onTimer` analogue), over the SAME
    * disordered replay as q13o (one cached copy), on RocksDB. The final
    * session of every key closes on the trailing no-data batch via a real
    * timer, not a data-driven fold — registered under q13's batch oracle,
    * so timer-driven closure ≡ batch-gap semantics is hash-checked. */
  def sessionizeTws(spark: SparkSession, sfDir: String,
                    gapMinutes: Int = 60): DataFrame =
    StatefulQueries.withRocksDbStateStore(spark) {
      val slackUs = 2L * gapMinutes.toLong * 60L * 1000000L
      val dir = Sessionize.disorderedSessionReplayDir(spark, sfDir, slackUs)
      Sessionize.sessDrainOf(spark, dir, s"${slackUs / 1000000L + 3600L} seconds",
        gapMinutes, TwsOps.sessionizeTws, requireExpiry = true)
    }

  /** Q4 on transformWithState (literal ListState), registered under q4's
    * oracle. */
  def thresholdGapsTws(spark: SparkSession, sfDir: String): DataFrame =
    drainTws(spark, sfDir) { stream =>
      TwsOps.thresholdGapsTws(stream
        .select(col("event_type").as("key"), col("event_id").as("ord"), col("value"))
        .as[KV](kvEnc), 100.0).toDF()
    }
      .select(col("ord").as("event_id"), col("key").as("event_type"), col("gap"))
      .orderBy(col("event_id"))

  /** Holt-Winters on transformWithState ([[TwsOps.HoltWintersProcessor]] —
    * two ValueStates + the seasonal ring in a literal `ListState[Double]`,
    * the compound-state witness), registered under holt_winters_by_type's
    * oracle: the gate proves ListState-ring ≡ GroupState-ring ≡ the batch
    * plan-ordered fold. */
  def holtWintersTws(spark: SparkSession, sfDir: String): DataFrame =
    drainTws(spark, sfDir) { stream =>
      TwsOps.holtWintersTws(stream
        .select(col("event_type").as("key"), col("event_id").as("ord"), col("value"))
        .as[KV](kvEnc), StatefulQueries.HwAlpha, StatefulQueries.HwBeta,
        StatefulQueries.HwGamma, StatefulQueries.HwSeason).toDF()
    }
      .select(col("ord").as("event_id"), col("key").as("event_type"),
              col("level"), col("trend"), col("seasonal"), col("forecast"))
      .orderBy(col("event_id"))
}
