package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.io.Tables

/** Technical indicators over the `events` price tape — the DECLARATIVE
  * (window/aggregate) half of the stock-analytics surface the reference
  * domain implies (reference: src/main/java — four keyed-state jobs over
  * the HDFC price CSV). The sequential-recurrence indicators (RSI, MACD)
  * live in [[graft.operators.StatefulQueries]]/[[graft.streaming
  * .StatefulOps]] because no window frame expresses them; everything here
  * IS frame-expressible, so batch stays Spark-first: one shuffle on the
  * series key, whole-stage-codegen'd window evaluation, no state store.
  *
  * Numeric discipline (the house float rules):
  *   - rolling moments ride INTEGER CENTS (`round(value·100)` — the
  *     benford-established double→cents parity), so every windowed sum is
  *     an exact BIGINT and the variance numerator n·Σx² − (Σx)² is exact
  *     integer arithmetic;
  *   - doubles appear only in FINAL correctly-rounded ops (one divide,
  *     one sqrt, one multiply-add per band) with the identical
  *     association stated in the oracle;
  *   - open/close are picked (min_by/max_by), never summed — element
  *     selection is exact on any orderable type.
  */
object Indicators {

  /** OHLC candlestick bars: per (event_type, hour) open/high/low/close +
    * tick count. Open/close are `min_by`/`max_by` on the unique, tape-
    * ordered `event_id` (fixture invariant: event_id order == (ts,
    * event_id) order; the oracle's arg_min/arg_max states the same key),
    * high/low are plain extrema — all element SELECTION, no float
    * arithmetic anywhere. One map-side-combinable aggregate: partial
    * (argmin, argmax, min, max, count) tuples merge associatively, so the
    * 100 TB form is the same single groupBy. */
  def ohlcHourly(spark: SparkSession, sfDir: String): DataFrame =
    hourlyBars(spark, sfDir).orderBy(col("hour_start"), col("event_type"))

  /** The (hour, type) bar aggregate itself, UNORDERED — [[ohlcHourly]]
    * adds the presentation sort; [[atrHourlyByType]] consumes this form
    * directly so its event_type window does not pay an inherited range
    * exchange + sort it would immediately re-partition away. */
  private def hourlyBars(spark: SparkSession, sfDir: String): DataFrame =
    Tables.events(spark, sfDir)
      .groupBy(unix_timestamp(date_trunc("hour", col("ts"))).as("hour_start"),
               col("event_type"))
      .agg(min_by(col("value"), col("event_id")).as("open"),
           max(col("value")).as("high"),
           min(col("value")).as("low"),
           max_by(col("value"), col("event_id")).as("close"),
           count(lit(1)).as("n_events"))

  /** Volume-weighted average price per (event_type, hour). The fixture
    * has no volume column, so volume is the DETERMINISTIC synthetic
    * `event_id % 97 + 1` (both engines state it — the mix_sample
    * shared-constant discipline). The weighted sum rides DECIMAL
    * (price at scale 2 × a 3-digit volume — exact, order-free); the one
    * double op is the final division. Map-side combinable: the 100 TB
    * form is this exact plan. */
  def vwapHourly(spark: SparkSession, sfDir: String): DataFrame =
    Tables.events(spark, sfDir)
      .withColumn("vol", (col("event_id") % 97 + 1).cast("decimal(3,0)"))
      .groupBy(unix_timestamp(date_trunc("hour", col("ts"))).as("hour_start"),
               col("event_type"))
      .agg(count(lit(1)).as("n_events"),
           sum(col("vol")).cast("long").as("sum_vol"),
           sum(col("value").cast("decimal(18,2)") * col("vol")).as("pv"))
      .withColumn("vwap", col("pv").cast("double") / col("sum_vol").cast("double"))
      .select(col("hour_start"), col("event_type"), col("n_events"),
              col("sum_vol"), col("vwap"))
      .orderBy(col("hour_start"), col("event_type"))

  /** [[ohlcHourly]] through the REAL micro-batch engine — the live
    * candlestick builder, the streaming aggregation a price-tape consumer
    * actually runs. min_by/max_by/extrema/count are all associative
    * mergeable aggregates, so the bar accumulates across micro-batches in
    * the state store and complete-mode re-emits the final bar table
    * (the q12s scaffold: state width sized to the (hour, type) group
    * cardinality). Same oracle as the batch form — a bar whose open was
    * set in batch 1 must survive ticks arriving in batch 2. */
  def ohlcHourlyStream(spark: SparkSession, sfDir: String): DataFrame =
    StatefulQueries.drainEvents(spark, sfDir, outputMode = "complete") {
      _.groupBy(unix_timestamp(date_trunc("hour", col("ts"))).as("hour_start"),
                col("event_type"))
        .agg(min_by(col("value"), col("event_id")).as("open"),
             max(col("value")).as("high"),
             min(col("value")).as("low"),
             max_by(col("value"), col("event_id")).as("close"),
             count(lit(1)).as("n_events"))
    }.orderBy(col("hour_start"), col("event_type"))

  /** SMA CROSSOVER SIGNALS — golden/death crosses of a fast moving
    * average through a slow one over the hourly close bars: the SIGNAL
    * GENERATION step a trading pipeline runs downstream of the indicator
    * family (indicators are values; this emits decisions). All-integer
    * and order-free: closes ride integer cents, both SMAs stay as raw
    * frame SUMS, and the comparison cross-multiplies
    * (sf/fast vs ss/slow ⟺ sf·slow vs ss·fast — exact BIGINT, the q38
    * share-test discipline), so the cross predicate
    * d > 0 ∧ d_prev ≤ 0 (golden) / d < 0 ∧ d_prev ≥ 0 (death) never
    * touches a float. Rows before both frames fill (rn ≤ slow) carry
    * partial sums that are not SMAs — excluded on both engines; a
    * previous-bar d of exactly 0 signals in the leaving direction.
    * Plan: the bar aggregate is map-side combinable; the windows run on
    * the bars table (hours × types, ≪ ticks), one exchange on
    * event_type shared by all three window columns. */
  def smaCrossSignals(spark: SparkSession, sfDir: String,
                      fast: Int = 4, slow: Int = 16): DataFrame = {
    require(fast < slow, "fast SMA must be shorter than slow")
    val wn = Window.partitionBy(col("event_type")).orderBy(col("hour_start"))
    val d = sum(col("c")).over(wn.rowsBetween(-(fast - 1), 0)) * slow -
      sum(col("c")).over(wn.rowsBetween(-(slow - 1), 0)) * fast
    hourlyBars(spark, sfDir)
      .select(col("event_type"), col("hour_start"),
              expr("cast(round(close * 100) as bigint)").as("c"))
      .withColumn("rn", row_number().over(wn))
      .withColumn("d", d)
      .withColumn("d_prev", lag(col("d"), 1).over(wn))
      .filter(col("rn") > slow &&
        ((col("d") > 0 && col("d_prev") <= 0) ||
         (col("d") < 0 && col("d_prev") >= 0)))
      .select(col("event_type"), col("hour_start"),
              when(col("d") > 0, lit("golden")).otherwise(lit("death"))
                .as("signal"))
      .orderBy(col("hour_start"), col("event_type"))
  }

  /** The sentinel event_type of [[ohlcHourlyClosed]]'s replay — its far-
    * future row advances the final watermark past every real bar's end;
    * the type never collides with fixture types and is filtered from the
    * result (its own bar is the one row the watermark never closes). */
  private[graft] val OhlcSentinelType = "__ohlc_flush__"

  /** [[ohlcHourly]] as a WATERMARK-CLOSING append-mode streaming query —
    * the PRODUCTION candlestick shape (the complete-mode twin
    * [[ohlcHourlyStream]] re-emits the whole bar table every batch and
    * keeps every bar ever opened in state; correct over the gate's finite
    * tape, unbounded over an endless one). Here the engine emits each
    * (hour, type) bar EXACTLY ONCE, when the event-time watermark passes
    * the hour's end, and EVICTS it from the store — so state holds only
    * the open bars within watermark slack of the head, bounded regardless
    * of tape length, and output is bars, never re-emission. Late-data
    * semantics (probed, pinned in IndicatorsSpec): a late tick whose bar
    * is STILL IN STATE (not yet emitted) is merged — the bar closes with
    * it; a tick for a bar already closed AND evicted is DROPPED by the
    * engine, observably in `numRowsDroppedByWatermark`. That is the
    * contract a live bar feed wants: a closed candle is immutable. The median-split + far-future-sentinel
    * replay ([[StatefulQueries.medianSplitWithSentinel]], ties early so
    * the 0-second delay never strands a boundary tie) makes every real
    * bar close before input ends; the sentinel's own bar is the single
    * row left in state. Oracle: the batch [[ohlcHourly]] SQL — with the
    * sentinel flush all real bars are closed, so "restricted to closed
    * bars" is the full bar table. */
  def ohlcHourlyClosed(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = StatefulQueries.timeOrderedFilesCopy(spark, s"ohlcclosed:$sfDir",
        Seq("o0.parquet", "o1.parquet", "o2.parquet")) {
      val ev = Tables.events(spark, sfDir)
        .select(col("event_id"), timestamp_micros(expr("ts_ns div 1000")).as("ts"),
                col("event_type"), col("value"))
      def sentinel(maxUs: Long) = ev.sparkSession.range(1).select(
        lit(-1L).as("event_id"),
        timestamp_micros(lit(maxUs + 30L * 24 * 3600 * 1000000L)).as("ts"),
        lit(OhlcSentinelType).as("event_type"),
        lit(0.0).as("value"))
      StatefulQueries.medianSplitWithSentinel(ev, "event_id", "ts")(sentinel)
    }
    closedBarDrain(spark, dir, requireEviction = true)
      .orderBy(col("hour_start"), col("event_type"))
  }

  /** The append-mode closed-bar drain behind [[ohlcHourlyClosed]] and the
    * IndicatorsSpec late-tick fixture: watermarked file replay → windowed
    * bar aggregate → append-mode memory sink. The eviction witness reads
    * the engine's own state-store metrics: every emitted bar left the
    * store (numRowsRemoved > 0) and at most the sentinel's open bar
    * survives the final batch. `extraCheck` lets the spec capture
    * progress (the late-drop counter) without re-plumbing the drain. */
  private[graft] def closedBarDrain(
      spark: SparkSession, dir: String, requireEviction: Boolean,
      extraCheck: org.apache.spark.sql.streaming.StreamingQuery => Unit = _ => ())
      : DataFrame = {
    val agg = StatefulQueries.replayStream(spark, dir)
      .withWatermark("ts", "0 seconds")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(min_by(col("value"), col("event_id")).as("open"),
           max(col("value")).as("high"),
           min(col("value")).as("low"),
           max_by(col("value"), col("event_id")).as("close"),
           count(lit(1)).as("n_events"))
    StatefulQueries.drainToMemory(spark, agg, stateWidth = Some(8)) { q =>
      // every closed bar must leave the store
      if (requireEviction) StatefulQueries.requireStateBounded(q, 1, "closed-bar emission")
      extraCheck(q)
    }
      .filter(col("event_type") =!= OhlcSentinelType)
      .select(unix_timestamp(col("window.start")).as("hour_start"),
              col("event_type"), col("open"), col("high"), col("low"),
              col("close"), col("n_events"))
  }

  /** Replay hand-built (event_id, ts, event_type, value) frames through
    * the closed-bar drain — the IndicatorsSpec entry point for the
    * cross-batch LATE-TICK fixture. Returns (bars, rows the engine
    * dropped past the watermark). `tag` must be unique per fixture (the
    * replay copy is cached per JVM). */
  /** Build a (event_id, ts, event_type, value) tick frame from
    * (id, µs, type, value) tuples — ONE copy of the closed-bar fixture
    * builder, shared by the IndicatorsSpec late-tick case and the
    * ProbeOhlcClosed dev probe so they cannot drift. */
  private[graft] def tickFrame(spark: SparkSession,
                               rows: Seq[(Long, Long, String, Double)]): DataFrame = {
    import spark.implicits._
    rows.toDF("event_id", "us", "event_type", "value")
      .select(col("event_id"), timestamp_micros(col("us")).as("ts"),
              col("event_type"), col("value"))
  }

  private[graft] def closedBarReplayOf(
      spark: SparkSession, frames: Seq[DataFrame], tag: String,
      onProgress: org.apache.spark.sql.streaming.StreamingQueryProgress => Unit =
        _ => ()): (DataFrame, Long) = {
    val dir = StatefulQueries.timeOrderedFilesCopy(spark, tag,
      frames.indices.map(i => s"c$i.parquet"))(frames)
    var dropped = 0L
    val bars = closedBarDrain(spark, dir, requireEviction = true, { q =>
      val ps = q.recentProgress
      ps.foreach(onProgress)
      dropped = ps.flatMap(_.stateOperators).map(_.numRowsDroppedByWatermark).sum
    })
    (bars, dropped)
  }

  /** A tick routed to the late side output: the bar it belonged to
    * (already closed and evicted when it arrived) plus the tick's own
    * identity — what a downstream repair/audit job needs. */
  private[graft] case class LateTick(event_id: Long, ts: java.sql.Timestamp,
                                     event_type: String, value: Double)
  private[graft] case class LateOut(event_id: Long, hour_start: Long,
                                    event_type: String, value: Double)

  /** LATE-DATA SIDE OUTPUT — the Flink `sideOutputLateData` contract
    * (reference framework surface; the repo's drop-COUNTER witness sees
    * that late rows vanished, this op EMITS them): a second streaming
    * output carrying exactly the ticks the closed-bar query drops, routed
    * by the ENGINE'S OWN event-time watermark, not by fixture knowledge.
    *
    * The drop rule it must mirror (probed — the first cut of this op got
    * it wrong and the partition spec caught it): the aggregate drops a
    * row iff its bar was evicted in a PRIOR batch. Eviction in batch N
    * uses batch N's watermark, but a row arriving in the very batch whose
    * watermark closes its bar still MERGES (late-event filtering uses the
    * PREVIOUS batch's watermark — Spark's two-watermark model). So the
    * tagger, a flatMapGroupsWithState keyed like the bar aggregate,
    * stores each batch's `getCurrentWatermarkMs()` in its state and
    * classifies rows against the value STORED LAST BATCH: hour end ≤
    * previous watermark ⟺ the bar is already evicted ⟺ the aggregate
    * discards the row. NoTimeout is load-bearing: fMGWS pre-filters
    * sub-watermark input rows only under EventTimeTimeout, so the tagger
    * still SEES the late rows it must route. Main + side then partition
    * the input exactly (spec-witnessed) — exact ONLY for keys that
    * observe every batch (the registered tape guarantees it with per-type
    * watermark-carrier rows). A key that skips a batch holds an OLDER
    * stored watermark, and that is not merely conservative routing: a
    * tick the aggregate drops (its bar evicted under the global
    * watermark) can be classified not-late by the stale per-key value and
    * then appear in NEITHER output — vanished, not re-routed. Any caller
    * without per-key carrier rows in every batch must accept that loss
    * mode or supply carriers; the partition invariant (main + side =
    * input) holds only under the carrier contract.
    *
    * Scale shape: the tagger is one long of state per key behind one
    * shuffle on the bar key — strictly cheaper than the bar aggregate it
    * shadows; output is bounded by the late-arrival rate. At 100 TB the
    * side stream feeds the repair path (backfill/correction journal)
    * instead of silently losing ticks. */
  private[graft] def lateSideOutputDrain(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val HourUs = 3600000000L
    val side = StatefulQueries.replayStream(spark, dir)
      .withWatermark("ts", "0 seconds")
      .as[LateTick]
      .groupByKey(_.event_type)
      .flatMapGroupsWithState[Long, LateOut](
        OutputMode.Append(), GroupStateTimeout.NoTimeout) {
        (key, rows, state: GroupState[Long]) =>
          val prevWmUs = state.getOption.getOrElse(0L)
          // all state access happens BEFORE the lazy row iterator returns
          state.update(state.getCurrentWatermarkMs() * 1000L)
          rows.flatMap { r =>
            val us = r.ts.getTime * 1000L + (r.ts.getNanos % 1000000) / 1000
            val hourEndUs = (us / HourUs + 1L) * HourUs
            if (hourEndUs <= prevWmUs)
              Some(LateOut(r.event_id, (us / HourUs) * 3600L, key, r.value))
            else None
          }
      }
    StatefulQueries.drainToMemory(spark, side.toDF(), stateWidth = Some(8))()
      .filter(col("event_id") >= 0) // watermark-carrier / sentinel rows out
  }

  /** [[lateSideOutputDrain]] as a registered gate query with DETERMINISTIC
    * lateness: the tape replays the bulk (event_id % 97 != 0) first, then
    * one far-future WATERMARK-CARRIER row per event_type (each tagger key
    * must observe the bulk-derived watermark — the per-key face of the
    * aggregate's global one), then the stragglers (event_id % 97 == 0).
    * The engine must route to the side output exactly the stragglers
    * whose bar the bulk watermark had closed — hour end ≤ the ms-floored
    * bulk max — and the oracle states that set in plain SQL (stragglers
    * inside the bulk's final open hour MERGE, like the aggregate).
    * The ENGINE still decides per row (the tagger never sees the 97): a
    * watermark-plumbing bug surfaces as a hash mismatch, not a silent
    * drop. */
  def ohlcLateSideOutput(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = StatefulQueries.timeOrderedFilesCopy(spark, s"ohlclate:$sfDir",
        Seq("l0.parquet", "l1.parquet", "l2.parquet")) {
      val ev = Tables.events(spark, sfDir)
        .select(col("event_id"), timestamp_micros(expr("ts_ns div 1000")).as("ts"),
                col("event_type"), col("value"))
      val maxRow = ev.agg(max(unix_micros(col("ts")))).head()
      val maxUs = if (maxRow.isNullAt(0)) 0L else maxRow.getLong(0)
      val carriers = ev.select(col("event_type")).distinct().select(
        lit(-1L).as("event_id"),
        timestamp_micros(lit(maxUs + 30L * 24 * 3600 * 1000000L)).as("ts"),
        col("event_type"),
        lit(0.0).as("value"))
      Seq(ev.filter(col("event_id") % 97 =!= 0), carriers,
          ev.filter(col("event_id") % 97 === 0))
    }
    lateSideOutputDrain(spark, dir).orderBy(col("event_id"))
  }

  /** [[closedBarReplayOf]]'s side-output twin for specs: BOTH outputs of
    * the same replayed tape — the closed bars and the engine-routed late
    * side output — so a test can assert they partition the input. */
  private[graft] def lateSideOutputReplayOf(
      spark: SparkSession, frames: Seq[DataFrame], tag: String): (DataFrame, DataFrame) = {
    val dir = StatefulQueries.timeOrderedFilesCopy(spark, tag,
      frames.indices.map(i => s"s$i.parquet"))(frames)
    (closedBarDrain(spark, dir, requireEviction = true), lateSideOutputDrain(spark, dir))
  }

  /** Bollinger bands: trailing-20-tick mean ± 2σ per event_type. The
    * frame's Σx and Σx² are exact BIGINT sums of integer cents, the
    * population variance numerator n·Σx² − (Σx)² is exact (20 ticks ×
    * (5.7e4 cents)² ≈ 6.5e10 ≪ 2⁶³), and the double finishers are single
    * correctly-rounded ops in the stated association: mean = s/(100n),
    * sd = sqrt(num/n²)/100, band = mean ± 2·sd (2· is exact). Short heads
    * (n < 20) use the actual frame count — no NULL warm-up rows. Scale:
    * per-key windows shuffle once on the series key; frames are O(20). */
  def bollingerByType(spark: SparkSession, sfDir: String): DataFrame = {
    val w = Window.partitionBy(col("event_type")).orderBy(col("event_id"))
      .rowsBetween(-19, 0)
    Tables.events(spark, sfDir)
      .select(col("event_id"), col("event_type"),
              round(col("value") * lit(100.0)).cast("long").as("vc"))
      .withColumn("n_win", count(lit(1)).over(w))
      .withColumn("s", sum(col("vc")).over(w).cast("long"))
      .withColumn("ss", sum(col("vc") * col("vc")).over(w).cast("long"))
      .withColumn("mean", col("s").cast("double") /
                          (col("n_win") * 100L).cast("double"))
      .withColumn("sd",
        sqrt((col("n_win") * col("ss") - col("s") * col("s")).cast("double") /
             (col("n_win") * col("n_win")).cast("double")) / lit(100.0))
      .withColumn("upper", col("mean") + lit(2.0) * col("sd"))
      .withColumn("lower", col("mean") - lit(2.0) * col("sd"))
      .select(col("event_id"), col("event_type"), col("n_win"),
              col("mean"), col("sd"), col("upper"), col("lower"))
      .orderBy(col("event_id"))
  }

  /** DONCHIAN CHANNEL per event_type: the trailing-20 breakout bands
    * (highest and lowest value over the PRIOR 20 observations, excluding
    * the current row — including it would make an upward breakout
    * definitionally impossible) plus the breakout flags the turtle-style
    * signal rule fires on. Bands are exact integer cents; flags emit only
    * when the prior window is FULL (n_prior = 20 — the SMA-cross warmup
    * rule), as integer 0/1. NULL bands on warmup rows are stated
    * identically on both engines.
    *
    * Scale shape: one event_type exchange shared by all three window
    * columns (the bollinger plan); trailing frames stream in one sorted
    * pass. Per-type event_id order ≡ (ts, id) order — the
    * orderedEventsCopy contract every indicator leans on. */
  def donchianByType(spark: SparkSession, sfDir: String,
                     n: Int = 20): DataFrame = {
    val w = Window.partitionBy(col("event_type")).orderBy(col("event_id"))
      .rowsBetween(-n, -1)
    Tables.events(spark, sfDir)
      .select(col("event_id"), col("event_type"),
              expr("cast(round(value * 100) as bigint)").as("vc"))
      .withColumn("n_prior", count(lit(1)).over(w).cast("long"))
      .withColumn("donch_hi", max(col("vc")).over(w))
      .withColumn("donch_lo", min(col("vc")).over(w))
      .withColumn("breakout_up",
        (col("n_prior") === n.toLong && col("vc") > col("donch_hi"))
          .cast("long"))
      .withColumn("breakout_dn",
        (col("n_prior") === n.toLong && col("vc") < col("donch_lo"))
          .cast("long"))
      .select(col("event_id"), col("event_type"), col("vc"), col("n_prior"),
              col("donch_hi"), col("donch_lo"),
              col("breakout_up"), col("breakout_dn"))
      .orderBy(col("event_id"))
  }

  /** REALIZED VARIANCE per (event_type, day): the sum of squared
    * tick-to-tick moves — the standard high-frequency volatility measure
    * (RV = Σ(Δp)², realized vol = √RV). Deltas are differences of integer
    * CENTS within the (type, day) partition, so Σd² is an exact BIGINT
    * (|d| < 5.7e4 ⇒ d² < 3.3e9; bounded ticks/day keep the sum far from
    * 2⁶³ — and the sum widens to DECIMAL(38,0) unchanged if not); the one
    * double op is the final /10⁴ back to price² units. Single-tick days
    * emit rv = 0 with n_deltas = 0, explicitly on both engines. One lag
    * window + one map-side-combinable aggregate on the same (type, day)
    * partitioning — one shuffle total. */
  def realizedVarianceDaily(spark: SparkSession, sfDir: String): DataFrame = {
    val DayNs = 86400000000000L
    val w = Window.partitionBy(col("event_type"), col("day")).orderBy(col("event_id"))
    Tables.events(spark, sfDir)
      .select(col("event_type"), expr(s"ts_ns div $DayNs").as("day"),
              col("event_id"),
              round(col("value") * lit(100.0)).cast("long").as("vc"))
      .withColumn("d", col("vc") - lag(col("vc"), 1).over(w))
      .groupBy(col("event_type"), col("day"))
      .agg(count(col("d")).as("n_deltas"),
           coalesce(sum(col("d") * col("d")), lit(0L)).cast("long").as("rv_num"))
      .withColumn("rv", col("rv_num").cast("double") / lit(10000.0))
      .orderBy(col("event_type"), col("day"))
  }

  /** AVERAGE TRUE RANGE over the hourly bars per event_type: true range
    * TR = max(high − low, |high − prev_close|, |low − prev_close|) (the
    * Wilder definition; the first bar, with no previous close, uses
    * high − low — the standard seed), averaged over a trailing 14-bar
    * frame. Everything up to the one final division is INTEGER CENTS:
    * bar extrema are exact element selection, the lag is selection, TR is
    * max/abs/subtract of exact longs, and the frame sum is an exact
    * BIGINT — so ATR = Σtr / (100·n) is a single correctly-rounded double
    * op stated identically in the oracle. Plan: the bar build is the
    * [[ohlcHourly]] map-side-combinable aggregate; the lag and the
    * trailing frame share ONE window partitioning on event_type (bar
    * table is hours×types-sized — tiny relative to the tape, so the
    * second shuffle moves bars, never ticks). */
  def atrHourlyByType(spark: SparkSession, sfDir: String): DataFrame = {
    val wLag = Window.partitionBy(col("event_type")).orderBy(col("hour_start"))
    val wF = wLag.rowsBetween(-13, 0)
    hourlyBars(spark, sfDir)
      .select(col("hour_start"), col("event_type"),
              round(col("high") * lit(100.0)).cast("long").as("hc"),
              round(col("low") * lit(100.0)).cast("long").as("lc"),
              round(col("close") * lit(100.0)).cast("long").as("cc"))
      .withColumn("pc", lag(col("cc"), 1).over(wLag))
      .withColumn("tr_cents",
        when(col("pc").isNull, col("hc") - col("lc"))
          .otherwise(greatest(col("hc") - col("lc"),
                              abs(col("hc") - col("pc")),
                              abs(col("lc") - col("pc")))))
      .withColumn("n_win", count(lit(1)).over(wF))
      .withColumn("atr", sum(col("tr_cents")).over(wF).cast("double") /
                         (col("n_win") * 100L).cast("double"))
      .select(col("hour_start"), col("event_type"), col("tr_cents"),
              col("n_win"), col("atr"))
      .orderBy(col("event_type"), col("hour_start"))
  }

  /** ON-BALANCE VOLUME per event_type: the signed cumulative volume
    * OBV_t = OBV_{t−1} + vol·sign(Δprice) — volume flows with the tick
    * direction ([[vwapHourly]]'s deterministic synthetic volume
    * `event_id % 97 + 1`, stated on both engines). ALL-INTEGER: price
    * deltas compare exact cents, sign is selection, and the cumulative
    * sum is an exact BIGINT fold — no floats anywhere, so there is no
    * aggregation-order sensitivity at any scale. The first tick of a
    * type contributes 0 (no prior price — the standard seed). One
    * shuffle: the lag and the running sum share the same (event_type,
    * event_id) window partitioning. */
  def obvByType(spark: SparkSession, sfDir: String): DataFrame = {
    val w = Window.partitionBy(col("event_type")).orderBy(col("event_id"))
    val cum = w.rowsBetween(Window.unboundedPreceding, 0)
    Tables.events(spark, sfDir)
      .select(col("event_id"), col("event_type"),
              round(col("value") * lit(100.0)).cast("long").as("vc"),
              (col("event_id") % 97 + 1).cast("long").as("vol"))
      .withColumn("pvc", lag(col("vc"), 1).over(w))
      .withColumn("sgn",
        when(col("pvc").isNull, lit(0L))
          .when(col("vc") > col("pvc"), lit(1L))
          .when(col("vc") < col("pvc"), lit(-1L))
          .otherwise(lit(0L)))
      .withColumn("obv", sum(col("sgn") * col("vol")).over(cum).cast("long"))
      .select(col("event_id"), col("event_type"), col("vol"), col("sgn"),
              col("obv"))
      .orderBy(col("event_id"))
  }

  /** Stochastic oscillator %K over a trailing 14-tick frame per
    * event_type: 100·(x − low₁₄)/(high₁₄ − low₁₄), 50 on a flat frame.
    * Frame extrema are exact element selection; the score is a fixed
    * four-op double tree (two subtractions, one multiply, one divide)
    * stated identically in the oracle — no float sums anywhere. */
  def stochOscByType(spark: SparkSession, sfDir: String): DataFrame = {
    val w = Window.partitionBy(col("event_type")).orderBy(col("event_id"))
      .rowsBetween(-13, 0)
    Tables.events(spark, sfDir)
      .select(col("event_id"), col("event_type"), col("value"))
      .withColumn("low_n", min(col("value")).over(w))
      .withColumn("high_n", max(col("value")).over(w))
      .withColumn("pct_k",
        when(col("high_n") === col("low_n"), lit(50.0))
          // the 100·(x−lo) numerator's rounding can push the quotient an
          // ulp above 100 at x = hi; least() is exact selection
          .otherwise(least(lit(100.0),
            (lit(100.0) * (col("value") - col("low_n"))) /
            (col("high_n") - col("low_n")))))
      .select(col("event_id"), col("event_type"), col("low_n"),
              col("high_n"), col("pct_k"))
      .orderBy(col("event_id"))
  }
}
