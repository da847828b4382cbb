package graft

import org.apache.spark.sql.functions._
import graft.operators.{Analytics, Relational, Sessionize}

/** Invariant tests for the round-12 analytics family: sliding windows,
  * gap-fill/LOCF resampling, exact-moment regression, transition matrix,
  * bounded bottom-k sampling, grouping sets, histogram. */
class AnalyticsSpec extends SparkSpec {

  test("sliding 1h/30min windows hold each event exactly twice") {
    val n  = graft.io.Tables.events(spark, Sf0001).count()
    val sw = Sessionize.slidingHalfHour(spark, Sf0001)
    assert(sw.agg(sum(col("n_events"))).head().getLong(0) == 2 * n)
    // every window start is slide-aligned
    assert(sw.filter(pmod(col("win_start"), lit(1800L)) =!= 0).count() == 0)
  }

  test("gapfill spine is dense per type and LOCF never yields null after the first hit") {
    val g = Sessionize.gapfillLocf(spark, Sf0001).cache()
    // dense: per type, row count == (max-min)/3600 + 1
    val spans = g.groupBy(col("event_type"))
      .agg(count(lit(1)).as("rows"),
           ((max(col("hour_start")) - min(col("hour_start"))) / 3600 + 1).as("expect"))
    assert(spans.filter(col("rows") =!= col("expect")).count() == 0)
    // zero-filled hours exist (the fixture has gaps) and carry a non-null locf
    val zeros = g.filter(col("n_events") === 0)
    assert(zeros.count() > 0)
    assert(zeros.filter(col("locf_max").isNull).count() == 0)
    // total preserved
    assert(g.agg(sum(col("n_events"))).head().getLong(0) ==
      graft.io.Tables.events(spark, Sf0001).count())
    g.unpersist()
  }

  test("resample linear: grid interpolations lie between their brackets and match a local recompute") {
    val r = Sessionize.resampleLinearHourly(spark, Sf0001).cache()
    // every grid point is on the hour
    assert(r.filter(col("grid_us") % 3600000000L =!= 0).count() == 0)
    // driver-side recompute from the raw ticks: for each grid point find
    // the bracketing pair by (us, event_id) and apply the same formula
    val ticks = graft.io.Tables.events(spark, Sf0001)
      .select(col("event_type"), expr("ts_ns div 1000").as("us"),
              col("event_id"), expr("cast(round(value*100) as bigint)").as("c"))
      .collect().map(x => (x.getString(0), x.getLong(1), x.getLong(2), x.getLong(3)))
      .groupBy(_._1).map { case (t, a) => t -> a.map(x => (x._2, x._3, x._4)).sorted }
    val got = r.collect().map(x => (x.getString(0), x.getLong(1), x.getDouble(2)))
    assert(got.nonEmpty)
    for ((t, g, v) <- got) {
      val s = ticks(t)
      val before = s.filter(_._1 <= g)
      val after = s.filter(_._1 > g)
      assert(before.nonEmpty && after.nonEmpty, s"grid $g not bracketed for $t")
      val (t0, _, v0) = before.last
      val (t1, _, v1) = after.head
      val expect = v0.toDouble + (v1 - v0).toDouble *
        ((g - t0).toDouble / (t1 - t0).toDouble)
      assert(v === expect, s"interp at ($t, $g)")
      // and it lies within the bracket's value envelope
      assert(v >= math.min(v0, v1).toDouble - 1e-9 &&
             v <= math.max(v0, v1).toDouble + 1e-9)
    }
    r.unpersist()
  }

  test("regression stats agree with Spark's built-in corr to float tolerance") {
    val r = Analytics.regressionStats(spark, Sf0001).cache()
    val builtin = graft.io.Tables.events(spark, Sf0001)
      .select(col("event_type"),
        (expr("ts_ns div 3600000000000") - lit(Analytics.BaseHour)).cast("double").as("t"),
        col("value"))
      .groupBy(col("event_type"))
      .agg(corr(col("t"), col("value")).as("c"), stddev_samp(col("value")).as("sd"))
    val j = r.join(builtin, "event_type").collect()
    assert(j.nonEmpty)
    j.foreach { row =>
      assert(math.abs(row.getAs[Double]("corr_tv") - row.getAs[Double]("c")) < 1e-9)
      assert(math.abs(row.getAs[Double]("stddev_v") - row.getAs[Double]("sd")) < 1e-9)
    }
    r.unpersist()
  }

  test("markov transition probabilities row-normalize to 1") {
    val m = Analytics.markovTransitions(spark, Sf0001).cache()
    val rows = m.groupBy(col("from_type")).agg(sum(col("p")).as("tot")).collect()
    assert(rows.nonEmpty)
    rows.foreach(r => assert(math.abs(r.getAs[Double]("tot") - 1.0) < 1e-12))
    // transitions == events - users-with-events (each user loses its last event)
    val ev = graft.io.Tables.events(spark, Sf0001)
    val expected = ev.count() - ev.select(col("user_id")).distinct().count()
    assert(m.agg(sum(col("n"))).head().getLong(0) == expected)
    m.unpersist()
  }

  test("bottom-k aggregator matches the row_number window definition") {
    import org.apache.spark.sql.expressions.Window
    val viaAgg = Analytics.bottomKSample(spark, Sf0001, k = 5)
    val w = Window.partitionBy(col("event_type")).orderBy(col("h"), col("event_id"))
    val viaWin = graft.io.Tables.events(spark, Sf0001)
      .select(col("event_type"), md5(col("event_id").cast("string")).as("h"), col("event_id"))
      .withColumn("rn", row_number().over(w).cast("long"))
      .filter(col("rn") <= 5)
      .select(col("event_type"), col("rn"), col("event_id"), col("h"))
    assert(viaAgg.exceptAll(viaWin).count() == 0 && viaWin.exceptAll(viaAgg).count() == 0)
  }

  test("grouping sets emit exactly the three requested lattices") {
    val g = Relational.explicitGroupingSets(spark, Sf0001).cache()
    val gids = g.select(col("gid")).distinct().collect().map(_.getLong(0)).sorted
    assert(gids.sameElements(Array(0L, 1L, 2L)))
    // each single-column set's counts re-sum to the full set's total
    val total = g.filter(col("gid") === 0).agg(sum(col("n_rows"))).head().getLong(0)
    assert(g.filter(col("gid") === 1).agg(sum(col("n_rows"))).head().getLong(0) == total)
    assert(g.filter(col("gid") === 2).agg(sum(col("n_rows"))).head().getLong(0) == total)
    g.unpersist()
  }

  test("attribution: views attribute backward-only and inside the lookback") {
    val a = Sessionize.attributionLastTouch(spark, Sf0001).cache()
    val ev = graft.io.Tables.events(spark, Sf0001)
    assert(a.count() == ev.filter(col("event_type") === "purchase").count())
    val attributed = a.filter(col("attributed_view_us").isNotNull)
    assert(attributed.count() > 0)
    assert(attributed.filter(col("attributed_view_us") > col("purchase_us")).count() == 0)
    assert(attributed.filter(
      col("purchase_us") - col("attributed_view_us") > 24L * 3600L * 1000000L).count() == 0)
    a.unpersist()
  }

  test("twap lies within each type's value range and weights sum to the span") {
    val t = Sessionize.twapByType(spark, Sf0001)
    val bounds = graft.io.Tables.events(spark, Sf0001)
      .groupBy(col("event_type"))
      .agg(min(col("value")).as("lo"), max(col("value")).as("hi"),
           (max(expr("ts_ns div 1000")) - min(expr("ts_ns div 1000"))).as("span_us"))
    val j = t.join(bounds, "event_type").collect()
    assert(j.nonEmpty)
    j.foreach { r =>
      val tw = r.getAs[Double]("twap")
      assert(tw >= r.getAs[Double]("lo") && tw <= r.getAs[Double]("hi"))
      // intervals partition [first, last]: Σdt == span exactly
      assert(r.getAs[Long]("total_dt_us") == r.getAs[Long]("span_us"))
    }
  }

  test("union by name null-fills the evolved column; totals preserved") {
    val u = Relational.unionSchemaEvolution(spark, Sf0001).cache()
    assert(u.filter(col("o_orderstatus").isNull).count() == 1)
    assert(u.agg(sum(col("n_orders"))).head().getLong(0) ==
      graft.io.Tables.orders(spark, Sf0001).count())
    u.unpersist()
  }

  test("exact percentiles are monotone and bounded by the value range") {
    val p = Relational.percentileExact(spark, Sf0001)
    val bounds = graft.io.Tables.events(spark, Sf0001)
      .groupBy(col("event_type"))
      .agg(min(col("value")).as("lo"), max(col("value")).as("hi"))
    val j = p.join(bounds, "event_type").collect()
    assert(j.nonEmpty)
    j.foreach { r =>
      val (p50, p95, p99) = (r.getAs[Double]("p50"), r.getAs[Double]("p95"), r.getAs[Double]("p99"))
      assert(p50 <= p95 && p95 <= p99)
      assert(p50 >= r.getAs[Double]("lo") && p99 <= r.getAs[Double]("hi"))
    }
  }

  test("fuzzy join: deletion-neighborhood banding finds exactly the quadratic pair set") {
    val banded = Analytics.fuzzyJoinEditDist1(spark, Sf0001)
    val s = graft.io.Tables.supplier(spark, Sf0001).select(col("s_suppkey"), col("s_name"))
    val a = s.select(col("s_suppkey").as("a_key"), col("s_name").as("a_name"))
    val b = s.select(col("s_suppkey").as("b_key"), col("s_name").as("b_name"))
    val brute = a.crossJoin(b)
      .filter(col("a_key") < col("b_key") &&
              levenshtein(col("a_name"), col("b_name")) <= 1)
      .select(col("a_key"), col("b_key"),
              levenshtein(col("a_name"), col("b_name")).cast("long").as("dist"))
    assert(banded.count() > 0) // non-trivial on the fixture
    assert(banded.exceptAll(brute).count() == 0 && brute.exceptAll(banded).count() == 0)
  }

  test("fuzzy bucket cap: a synthetic hot block is dropped, observably; fixture stats report zero drops") {
    import spark.implicits._
    // 20 length-2 names differing only in the first char: all share the
    // deletion signature "z" (bucket size 20) and no other multi-member
    // bucket, so capping at 8 must kill every pair — and the stats frame
    // must SHOW the drop rather than silently losing recall
    val hot = ('a' to 't').zipWithIndex
      .map { case (c, i) => (i.toLong, s"${c}z") }.toDF("s_suppkey", "s_name")
    val uncapped = Analytics.fuzzyPairsOf(hot).count()
    assert(uncapped == 20L * 19 / 2) // every pair is a distance-1 substitution
    assert(Analytics.fuzzyPairsOf(hot, maxBucketSize = 8).count() == 0)
    val st = Analytics.fuzzyBucketStatsOf(hot, maxBucketSize = 8).head()
    assert(st.getAs[Long]("n_dropped_buckets") == 1L)
    assert(st.getAs[Long]("n_dropped_memberships") == 20L)
    assert(st.getAs[Long]("max_bucket") == 20L)
    // the production cap never engages at fixture scale: results there are
    // cap-invariant by a wide margin — on BOTH gated fuzzyPairsOf inputs
    // (the supplier join and the ER part-name collapse)
    val fixture = Analytics.fuzzyBucketStats(spark, Sf0001).head()
    assert(fixture.getAs[Long]("n_dropped_buckets") == 0L)
    assert(fixture.getAs[Long]("max_bucket") < Analytics.MaxFuzzyBucketSize / 4)
    val parts = Analytics.fuzzyBucketStatsParts(spark, Sf0001).head()
    assert(parts.getAs[Long]("n_dropped_buckets") == 0L)
    assert(parts.getAs[Long]("max_bucket") < Analytics.MaxFuzzyBucketSize / 4)
  }

  test("pagerank: every nation holds at least the teleport mass; total never exceeds 1.0") {
    val r = Analytics.pagerankNations(spark, Sf0001).cache()
    assert(r.count() == 25)
    // base = 0.15/25 in ppb; integer floors can only lose mass, never mint it
    assert(r.filter(col("rank_ppb") < 150000000L / 25).count() == 0)
    assert(r.agg(sum(col("rank_ppb"))).head().getLong(0) <= 1000000000L)
    // determinism: a second evaluation is bit-identical
    val again = Analytics.pagerankNations(spark, Sf0001)
    assert(r.exceptAll(again).count() == 0 && again.exceptAll(r).count() == 0)
    r.unpersist()
  }

  test("streaming transitions equal the batch lead() matrix; observe equals the plain agg") {
    val batch = Analytics.markovTransitions(spark, Sf0001)
    val stream = graft.operators.StatefulQueries.markovTransitionsStreaming(spark, Sf0001)
    assert(batch.exceptAll(stream).count() == 0 && stream.exceptAll(batch).count() == 0)
    val obs = Relational.dqObserve(spark, Sf0001).head()
    val agg = graft.io.Tables.events(spark, Sf0001)
      .agg(count(lit(1)), min(col("value")), max(col("value"))).head()
    assert(obs.getAs[Long]("n_rows") == agg.getLong(0))
    assert(obs.getAs[Double]("min_value") == agg.getDouble(1))
    assert(obs.getAs[Double]("max_value") == agg.getDouble(2))
  }

  test("cusum: non-negative, zero exactly on alarm rows, batch equals streaming") {
    val b = graft.operators.StatefulQueries.cusumByType(spark, Sf0001).cache()
    assert(b.count() == graft.io.Tables.events(spark, Sf0001).count())
    assert(b.filter(col("cusum") < 0).count() == 0)
    assert(b.filter(col("alarm") === 1 && col("cusum") =!= 0.0).count() == 0)
    val s = graft.operators.StatefulQueries.cusumByTypeStreaming(spark, Sf0001)
    assert(b.exceptAll(s).count() == 0 && s.exceptAll(b).count() == 0)
    b.unpersist()
  }

  test("rfm: every user scored once, scores in 1..4, quartiles near-balanced") {
    val r = Analytics.rfmSegments(spark, Sf0001).cache()
    val users = graft.io.Tables.events(spark, Sf0001)
      .select(col("user_id")).distinct().count()
    assert(r.count() == users)
    Seq("r_score", "f_score", "m_score").foreach { c =>
      assert(r.filter(col(c) < 1 || col(c) > 4).count() == 0)
      // ntile balance: group sizes differ by at most 1
      val sizes = r.groupBy(col(c)).count().collect().map(_.getLong(1))
      assert(sizes.max - sizes.min <= 1)
    }
    r.unpersist()
  }

  test("property: cusum stream fold equals the direct recurrence on random sequences") {
    import spark.implicits._
    import graft.streaming.StatefulOps
    val rnd = new scala.util.Random(42)
    (1 to 20).foreach { _ =>
      val n = 1 + rnd.nextInt(60)
      val vals = Seq.fill(n)(math.round(rnd.nextDouble() * 60000) / 100.0)
      val target = 5000L; val alarmAt = 50000L
      // reference: the recurrence computed directly in integer cents
      var s = 0L
      val expect = vals.zipWithIndex.map { case (v, i) =>
        val raw = math.max(0L, s + math.round(v * 100) - target)
        val alarm = if (raw > alarmAt) 1L else 0L
        s = if (alarm == 1L) 0L else raw
        (i.toLong, s.toDouble / 100.0, alarm)
      }
      val ds = vals.zipWithIndex
        .map { case (v, i) => StatefulOps.KV("k", i.toLong, v) }.toDS()
      val got = StatefulOps.cusumStream(ds, target, alarmAt)
        .collect().sortBy(_.ord).map(o => (o.ord, o.cusum, o.alarm)).toSeq
      assert(got == expect)
    }
  }

  test("property: ewma fold equals the direct recurrence and stays inside the value hull") {
    import spark.implicits._
    import graft.streaming.StatefulOps
    val rnd = new scala.util.Random(9)
    (1 to 20).foreach { _ =>
      val n = 1 + rnd.nextInt(50)
      val vals = Seq.fill(n)(rnd.nextDouble() * 500)
      var s = Option.empty[Double]
      val expect = vals.zipWithIndex.map { case (v, i) =>
        val nx = s match { case None => v; case Some(p) => p + 0.125 * (v - p) }
        s = Some(nx); (i.toLong, nx)
      }
      val ds = vals.zipWithIndex.map { case (v, i) => StatefulOps.KV("k", i.toLong, v) }.toDS()
      val got = StatefulOps.ewmaStream(ds, 0.125)
        .collect().sortBy(_.ord).map(o => (o.ord, o.ewma)).toSeq
      assert(got == expect)
      // convexity: every smoothed value lies inside the running value hull
      got.map(_._2).foreach(e => assert(e >= vals.min - 1e-9 && e <= vals.max + 1e-9))
    }
  }

  test("holt: constant input fixes level at the value with zero trend; forecast = level + trend") {
    import spark.implicits._
    import graft.streaming.StatefulOps
    val const = (0 until 40).map(i => StatefulOps.KV("k", i.toLong, 42.5)).toDS()
    val h = StatefulOps.holtStream(const, 0.25, 0.125).collect().sortBy(_.ord)
    h.foreach { o =>
      assert(o.level == 42.5 && o.trend == 0.0 && o.forecast == 42.5)
    }
    // real data: the emitted forecast is exactly level + trend (the same
    // double add the oracle performs)
    val r = graft.operators.StatefulQueries.holtByType(spark, Sf0001)
    assert(r.filter(col("forecast") =!= col("level") + col("trend")).count() == 0)
  }

  test("holt-winters: zero-seasonal start degenerates to holt on constant input; fold matches a direct recurrence; streaming equals batch") {
    import spark.implicits._
    import graft.streaming.StatefulOps
    // constant input: level fixes at the value, trend and seasonals stay 0
    val const = (0 until 40).map(i => StatefulOps.KV("k", i.toLong, 42.5)).toDS()
    StatefulOps.holtWintersStream(const, 0.25, 0.125, 0.25, 8)
      .collect().foreach { o =>
        assert(o.level == 42.5 && o.trend == 0.0 &&
               o.seasonal == 0.0 && o.forecast == 42.5)
      }
    // random tape: the fold equals the textbook recurrence computed directly
    val rnd = new scala.util.Random(23)
    val vals = Seq.fill(60)(rnd.nextDouble() * 100)
    val ds = vals.zipWithIndex.map { case (v, i) =>
      StatefulOps.KV("k", i.toLong, v) }.toDS()
    val got = StatefulOps.holtWintersStream(ds, 0.25, 0.125, 0.25, 8)
      .collect().sortBy(_.ord)
    var l = vals.head; var t = 0.0; var s = Vector.fill(8)(0.0)
    vals.zipWithIndex.foreach { case (x, i) =>
      if (i > 0) {
        val s0 = s.head
        val l1 = 0.25 * (x - s0) + 0.75 * (l + t)
        t = 0.125 * (l1 - l) + 0.875 * t
        val sn = 0.25 * (x - l1) + 0.75 * s0
        l = l1; s = s.tail :+ sn
      }
      assert(got(i).level == l && got(i).trend == t)
      assert(got(i).seasonal == s.last)
      assert(got(i).forecast == l + t + s.head)
    }
    // the registered streaming twin equals the batch form row for row
    val b = graft.operators.StatefulQueries.holtWintersByType(spark, Sf0001)
    val st = graft.operators.StatefulQueries.holtWintersByTypeStreaming(spark, Sf0001)
    assert(b.exceptAll(st).count() == 0 && st.exceptAll(b).count() == 0)
  }

  test("holt-winters with gamma = 0 degenerates exactly to holt (algebraic pin)") {
    import spark.implicits._
    import graft.streaming.StatefulOps
    // with all-zero initial seasonals and gamma = 0 the seasonal buffer
    // stays identically zero, so (level, trend) must follow holt's
    // recurrence BIT-FOR-BIT on any tape — a drift in either fold's
    // association breaks this equality before any oracle sees it
    val rnd = new scala.util.Random(41)
    val vals = Seq.fill(80)(rnd.nextDouble() * 200)
    val ds = vals.zipWithIndex.map { case (v, i) =>
      StatefulOps.KV("k", i.toLong, v) }.toDS()
    val hw = StatefulOps.holtWintersStream(ds, 0.25, 0.125, 0.0, 8)
      .collect().sortBy(_.ord)
    val h = StatefulOps.holtStream(ds, 0.25, 0.125).collect().sortBy(_.ord)
    hw.zip(h).foreach { case (w, p) =>
      assert(w.level == p.level && w.trend == p.trend)
      assert(w.seasonal == 0.0 && w.forecast == p.forecast)
    }
  }

  test("bootstrap multiplicities follow the stated /16 pmf with mean exactly 1") {
    // recompute the hash → multiplicity map locally over the fixture ids
    // for every resample: values confined to {0,1,2,3}, and the EXACT pmf
    // {0:5, 1:7, 2:3, 3:1}/16 holds per residue class — so E[m] = 1 and
    // the resampler neither loses nor inflates corpus mass in expectation
    val ids = graft.io.Tables.events(spark, Sf0001)
      .select(col("event_id")).collect().map(_.getLong(0))
    val counts = scala.collection.mutable.Map.empty[Long, Long].withDefaultValue(0L)
    var total = 0L
    for (id <- ids; r <- 0L until 16L) {
      val m16 = ((id % 1000000007L) * 2654435761L + r) % 1000000007L % 16L
      val m = if (m16 < 5) 0L else if (m16 < 12) 1L else if (m16 < 15) 2L else 3L
      counts(m) += 1; total += m
    }
    assert(counts.keySet.subsetOf(Set(0L, 1L, 2L, 3L)))
    val n = ids.length.toLong * 16L
    // empirical mean within 2% of 1 on the fixture (exactly 1 as n → ∞
    // over uniform residues; the fixture's ids are dense so it's close)
    assert(math.abs(total.toDouble / n - 1.0) < 0.02)
    // and the draw frequencies sit near the stated pmf
    assert(math.abs(counts(0L).toDouble / n - 5.0 / 16) < 0.02)
    assert(math.abs(counts(1L).toDouble / n - 7.0 / 16) < 0.02)
    assert(math.abs(counts(2L).toDouble / n - 3.0 / 16) < 0.02)
    assert(math.abs(counts(3L).toDouble / n - 1.0 / 16) < 0.02)
  }

  test("drawdown: invariants hold, batch window equals streaming fold, fold equals direct recurrence") {
    val b = graft.operators.StatefulQueries.drawdownByType(spark, Sf0001).cache()
    assert(b.count() == graft.io.Tables.events(spark, Sf0001).count())
    // peak dominates the value, drawdowns are non-negative, and the worst
    // drawdown dominates the current one
    assert(b.filter(col("drawdown") < 0).count() == 0)
    assert(b.filter(col("max_drawdown") < col("drawdown")).count() == 0)
    val s = graft.operators.StatefulQueries.drawdownByTypeStreaming(spark, Sf0001)
    assert(b.exceptAll(s).count() == 0 && s.exceptAll(b).count() == 0)
    b.unpersist()
    // fold vs the recurrence computed directly
    import spark.implicits._
    import graft.streaming.StatefulOps
    val rnd = new scala.util.Random(17)
    (1 to 10).foreach { _ =>
      val n = 1 + rnd.nextInt(50)
      val vals = Seq.fill(n)(rnd.nextDouble() * 500)
      var peak = Double.NegativeInfinity; var worst = Double.NegativeInfinity
      val expect = vals.zipWithIndex.map { case (v, i) =>
        peak = math.max(peak, v); val dd = peak - v; worst = math.max(worst, dd)
        (i.toLong, peak, dd, worst)
      }
      val ds = vals.zipWithIndex.map { case (v, i) => StatefulOps.KV("k", i.toLong, v) }.toDS()
      val got = StatefulOps.drawdownStream(ds)
        .collect().sortBy(_.ord).map(o => (o.ord, o.peak, o.drawdown, o.max_drawdown)).toSeq
      assert(got == expect)
    }
  }

  test("scd2 as-of snapshot: exactly one interval per active user, and it is the latest event at or before the cut") {
    val s = graft.operators.Relational.scd2AsofSnapshot(spark, Sf0001).cache()
    // one row per user key (nulls form their own key)
    assert(s.groupBy(col("user_id")).count().filter(col("count") > 1).count() == 0)
    // direct recompute: per user, the max event time <= cut picks the row
    val cut = s.select(col("cut_us")).head().getLong(0)
    val expect = graft.io.Tables.events(spark, Sf0001)
      .select(col("user_id"), col("event_id"), col("value"),
              expr("ts_ns div 1000").as("us"))
      .filter(col("us") <= cut)
      .withColumn("rk", org.apache.spark.sql.functions.row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("user_id"))
          .orderBy(col("us").desc, col("event_id").desc)))
      .filter(col("rk") === 1)
      .select(col("user_id"), col("event_id"), col("value"),
              col("us").as("valid_from_us"), lit(cut).as("cut_us"))
    assert(s.exceptAll(expect).count() == 0 && expect.exceptAll(s).count() == 0)
    s.unpersist()
  }

  test("seasonal cusum: reset-on-alarm invariants hold and the detector is non-vacuous") {
    val c = graft.operators.StatefulQueries.cusumSeasonalResiduals(spark, Sf0001).cache()
    // one row per (type, day) of the residual spine
    assert(c.count() == graft.operators.Analytics.seasonalDowResiduals(spark, Sf0001).count())
    // the statistic is non-negative, resets exactly on alarm, and stays
    // under the threshold between alarms
    assert(c.filter(col("cusum_u") < 0).count() == 0)
    assert(c.filter(col("alarm") === 1 && col("cusum_u") =!= 0).count() == 0)
    assert(c.filter(col("alarm") === 0 &&
      col("cusum_u") > graft.operators.StatefulQueries.SeasonalCusumAlarmU).count() == 0)
    // non-vacuous at this SF: alarms fire, but not everywhere
    val alarms = c.filter(col("alarm") === 1).count()
    assert(alarms > 0 && alarms < c.count())
    c.unpersist()
  }

  test("acf: bounded by 1 in magnitude on real data; an alternating series scores acf1 = -1") {
    val a = Analytics.acfByType(spark, Sf0001).cache()
    assert(a.count() == graft.io.Tables.events(spark, Sf0001)
      .select(col("event_type")).distinct().count())
    Seq("acf_lag1", "acf_lag2", "acf_lag3").foreach { c =>
      assert(a.filter(abs(col(c)) > 1.0 + 1e-9).count() == 0)
    }
    a.unpersist()
    // closed-form pin: a long +-alternating series has acf1 -> -1 (up to the
    // finite-sample (n-k)/n correction) and acf2 -> +1 symmetric; verify the
    // exact finite-sample values against the direct definition
    def direct(xs: Seq[Long], k: Int): Double = {
      val n = xs.size; val m = xs.sum.toDouble / n
      val num = (0 until n - k).map(t => (xs(t) - m) * (xs(t + k) - m)).sum
      val den = xs.map(x => (x - m) * (x - m)).sum
      num / den
    }
    val alt = Seq.tabulate(40)(i => if (i % 2 == 0) 10L else 0L)
    assert(math.abs(direct(alt, 1) - (-(39.0 / 40.0))) < 1e-12)
    // and the Spark aggregation reproduces the direct definition on a
    // synthetic frame pushed through the same moment formula
    import spark.implicits._
    val hours = alt.zipWithIndex.map { case (v, i) => (i.toLong, v) }
    val df = hours.toDF("hs", "c")
    val w = org.apache.spark.sql.expressions.Window.orderBy(col("hs"))
    val lagged = df.withColumn("l1", lead(col("c"), 1).over(w))
    val r = lagged.agg(
      count(lit(1)).cast("double").as("n"),
      sum(col("c")).cast("double").as("s"),
      sum(col("c") * col("c")).cast("double").as("q"),
      sum(col("c") * col("l1")).cast("double").as("p1"),
      sum(when(col("l1").isNotNull, col("c"))).cast("double").as("a1"),
      sum(col("l1")).cast("double").as("b1")).head()
    val (n, s, q, p1, a1, b1) = (r.getDouble(0), r.getDouble(1), r.getDouble(2),
      r.getDouble(3), r.getDouble(4), r.getDouble(5))
    val acf1 = (n * n * p1 - n * s * (a1 + b1) + (n - 1) * s * s) / (n * n * q - n * s * s)
    assert(math.abs(acf1 - direct(alt, 1)) < 1e-12)
  }

  test("property: deletion banding finds every random <=1-edit pair, never a 2-edit pair unverified") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val alpha = "abcdefgh"
    def randStr(n: Int) = (1 to n).map(_ => alpha(rnd.nextInt(alpha.length))).mkString
    def edit1(s: String): String = rnd.nextInt(3) match {
      case 0 => // substitute
        val i = rnd.nextInt(s.length)
        s.updated(i, alpha((alpha.indexOf(s(i)) + 1) % alpha.length))
      case 1 => // delete
        val i = rnd.nextInt(s.length); s.take(i) + s.drop(i + 1)
      case _ => // insert
        val i = rnd.nextInt(s.length + 1)
        s.take(i) + alpha(rnd.nextInt(alpha.length)) + s.drop(i)
    }
    val pairs = (1 to 30).map { k =>
      val a = randStr(4 + rnd.nextInt(10)); (2L * k, a, 2L * k + 1, edit1(a))
    }
    val rows = pairs.flatMap { case (ka, a, kb, b) => Seq((ka, a), (kb, b)) }
      .toDF("s_suppkey", "s_name")
    val found = Analytics.fuzzyJoinEditDist1Of(rows)
      .select(col("a_key"), col("b_key")).as[(Long, Long)].collect().toSet
    pairs.foreach { case (ka, a, kb, b) =>
      if (a != b) // (an insert then looking at ==; a==b only if edit was identity)
        assert(found.contains((ka min kb, ka max kb)),
          s"missed pair within distance 1: '$a' vs '$b'")
    }
    // soundness: every reported pair really is within distance 1
    val byKey = rows.as[(Long, String)].collect().toMap
    found.foreach { case (x, y) =>
      val (sx, sy) = (byKey(x), byKey(y))
      val d = levenshteinRef(sx, sy)
      assert(d <= 1, s"banding reported '$sx' vs '$sy' at distance $d")
    }
  }

  private def levenshteinRef(a: String, b: String): Int = {
    val d = Array.tabulate(a.length + 1, b.length + 1) { (i, j) =>
      if (i == 0) j else if (j == 0) i else 0 }
    for (i <- 1 to a.length; j <- 1 to b.length)
      d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
        d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
    d(a.length)(b.length)
  }

  test("triangle count: oriented-wedge closure equals the naive canonical 3-way join") {
    val t = Analytics.triangleCount(spark, Sf0001).head()
    assert(t.getAs[Long]("n_triangles") >= 0 && t.getAs[Long]("n_edges") > 0)
    // naive recount in Scala over the same edge set
    val li = graft.io.Tables.lineitem(spark, Sf0001).select(col("l_orderkey"), col("l_suppkey"))
    val o  = graft.io.Tables.orders(spark, Sf0001).select(col("o_orderkey"), col("o_custkey"))
    val c  = graft.io.Tables.table(spark, Sf0001, "customer").select(col("c_custkey"), col("c_nationkey"))
    val su = graft.io.Tables.supplier(spark, Sf0001).select(col("s_suppkey"), col("s_nationkey"))
    val edges = li.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(c, col("o_custkey") === col("c_custkey"))
      .join(su, col("l_suppkey") === col("s_suppkey"))
      .filter(col("c_nationkey") =!= col("s_nationkey"))
      .select(least(col("c_nationkey"), col("s_nationkey")).cast("long"),
              greatest(col("c_nationkey"), col("s_nationkey")).cast("long"))
      .distinct().collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val nodes = edges.flatMap { case (u, v) => Seq(u, v) }.toSeq.distinct.sorted
    var naive = 0L
    for {
      (i, x) <- nodes.zipWithIndex; (j, y) <- nodes.zipWithIndex.drop(x + 1)
      if edges.contains((i, j))
      (k, _) <- nodes.zipWithIndex.drop(y + 1)
      if edges.contains((j, k)) && edges.contains((i, k))
    } naive += 1
    assert(t.getAs[Long]("n_triangles") == naive)
  }

  /** Local recount of the minute-bucket user co-occurrence edge set —
    * independent of the operator's join-based construction. */
  private def localUserEdges(dir: String = Sf0001): Set[(Long, Long)] = {
    val active = graft.io.Tables.events(spark, dir)
      .select(col("user_id"), expr("ts_ns div 60000000000").as("w"))
      .distinct().collect().map(r => (r.getLong(0), r.getLong(1)))
    active.groupBy(_._2).values.flatMap { bucket =>
      val us = bucket.map(_._1).distinct.sorted
      for (i <- us.indices; j <- i + 1 until us.length) yield (us(i), us(j))
    }.toSet
  }

  test("user triangle count equals a naive local recount on the co-occurrence graph") {
    // sf0.01: the sf0.001 graph is triangle-free (15 users barely co-occur),
    // so the closure would be vacuous there
    val dir = "/root/testdata/sf0.01"
    val t = Analytics.triangleCountUsers(spark, dir).head()
    val edges = localUserEdges(dir)
    assert(t.getAs[Long]("n_edges") == edges.size)
    val adj = edges.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    var naive = 0L
    for ((u, vs) <- adj; v <- vs; w <- adj.getOrElse(v, Set.empty) if vs(w)) naive += 1
    assert(t.getAs[Long]("n_triangles") == naive)
    assert(naive > 0, "fixture graph must actually contain triangles")
  }

  test("wedge stats: closed forms match a local recount and orientation never loses") {
    val s = Analytics.wedgeStatsUsers(spark, Sf0001).head()
    val edges = localUserEdges()
    val deg = edges.toSeq.flatMap { case (u, v) => Seq(u, v) }
      .groupBy(identity).view.mapValues(_.size.toLong).toMap
    assert(s.getAs[Long]("n_nodes") == deg.size)
    assert(s.getAs[Long]("n_edges") == edges.size)
    assert(s.getAs[Long]("wedges_naive") == deg.values.map(d => d * (d - 1) / 2).sum)
    // oriented wedge count = the row count the wedge join would produce:
    // sum over m of indeg(m) * outdeg(m) under the (degree, id) orientation
    val dir = edges.toSeq.map { case (u, v) =>
      if (deg(u) < deg(v) || (deg(u) == deg(v) && u < v)) (u, v) else (v, u) }
    val outd = dir.groupBy(_._1).view.mapValues(_.size.toLong).toMap
    val ind  = dir.groupBy(_._2).view.mapValues(_.size.toLong).toMap
    val oriented = ind.map { case (m, i) => i * outd.getOrElse(m, 0L) }.sum
    assert(s.getAs[Long]("wedges_oriented") == oriented)
    assert(oriented <= s.getAs[Long]("wedges_naive"),
      "degree orientation must never enlarge the wedge join")
  }

  test("user pagerank equals the local integer fixed-point; mass bounded") {
    val ranks = Analytics.pagerankUsers(spark, Sf0001).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val edges = localUserEdges()
    val sym = edges.toSeq.flatMap { case (u, v) => Seq((u, v), (v, u)) }
    val nodes = graft.io.Tables.events(spark, Sf0001)
      .select(col("user_id")).distinct().collect().map(_.getLong(0)).toSeq.sorted
    assert(ranks.keySet == nodes.toSet)
    val n = nodes.size
    val outDeg = sym.groupBy(_._1).view.mapValues(_.size.toLong).toMap
    var r = nodes.map(_ -> 1000000000L / n).toMap
    for (_ <- 1 to 3) {
      val inc = sym.groupBy(_._2).view.mapValues(
        _.map { case (src, _) => r(src) / outDeg(src) }.sum).toMap
      r = nodes.map(nd => nd -> (150000000L / n + inc.getOrElse(nd, 0L) * 85L / 100L)).toMap
    }
    assert(ranks == r)
    assert(ranks.values.sum <= 1000000000L, "leaky integer PageRank never exceeds unit mass")
  }

  test("user BFS equals a local breadth-first search; horizon semantics hold") {
    val got = Analytics.bfsHopsUsers(spark, Sf0001).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val edges = localUserEdges()
    val nodes = graft.io.Tables.events(spark, Sf0001)
      .select(col("user_id")).distinct().collect().map(_.getLong(0)).toSet
    assert(got.keySet == nodes)
    val adj = edges.toSeq.flatMap { case (u, v) => Seq(u -> v, v -> u) }
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val source = nodes.min
    // plain BFS, then apply the registered 6-round horizon
    var dist = Map(source -> 0L)
    var frontier = Set(source)
    var d = 0L
    while (frontier.nonEmpty) {
      d += 1
      frontier = frontier.flatMap(n => adj.getOrElse(n, Set.empty))
        .filterNot(dist.contains)
      dist ++= frontier.map(_ -> d)
    }
    val expect = nodes.map(n =>
      n -> dist.get(n).filter(_ <= 6L).getOrElse(-1L)).toMap
    assert(got == expect)
  }

  test("user paths: top-k trigram counts equal a local recount with stable tiebreaks") {
    val got = Analytics.userPathsTop(spark, Sf0001).collect()
      .map(r => (r.getString(0), r.getLong(1)))
    // local recount: per-user (ts, event_id)-ordered type sequence trigrams
    val seqs = graft.io.Tables.events(spark, Sf0001)
      .select(col("user_id"), col("event_type"), col("ts_ns"), col("event_id"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
      .groupBy(_._1).view.mapValues(_.sortBy(e => (e._3, e._4)).map(_._2).toSeq)
    val counts = seqs.values.flatMap(_.sliding(3).filter(_.size == 3)
        .map(_.mkString(">")))
      .groupBy(identity).view.mapValues(_.size.toLong).toMap
    val expect = counts.toSeq.sortBy { case (p, n) => (-n, p) }.take(20)
    assert(got.toSeq === expect)
    assert(got.nonEmpty && got.head._2 >= got.last._2)
  }

  test("hourly correlation matrix equals a local exact-moment recount; corr bounded") {
    val got = Analytics.corrMatrixHourly(spark, Sf0001).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), if (r.isNullAt(3)) Double.NaN else r.getDouble(3)))).toMap
    // local recount: aligned hourly counts, exact moments, same finisher
    val hourly = graft.io.Tables.events(spark, Sf0001)
      .select(col("event_type"), expr("ts_ns div 3600000000000").as("hs"))
      .collect().map(r => (r.getString(0), r.getLong(1)))
      .groupBy(identity).view.mapValues(_.size.toLong).toMap
    val hours = hourly.keySet.map(_._2)
    val types = hourly.keySet.map(_._1).toSeq.sorted
    for (i <- types.indices; j <- i + 1 until types.size) {
      val (ta, tb) = (types(i), types(j))
      val xs = hours.toSeq.map(h => (hourly.getOrElse((ta, h), 0L), hourly.getOrElse((tb, h), 0L)))
      val n = xs.size.toDouble
      val (sa, sb) = (xs.map(_._1).sum.toDouble, xs.map(_._2).sum.toDouble)
      val sab = xs.map(p => p._1 * p._2).sum.toDouble
      val saa = xs.map(p => p._1 * p._1).sum.toDouble
      val sbb = xs.map(p => p._2 * p._2).sum.toDouble
      val (va, vb) = (n * saa - sa * sa, n * sbb - sb * sb)
      val (gn, gc) = got((ta, tb))
      assert(gn == hours.size)
      if (va > 0 && vb > 0) {
        val expect = (n * sab - sa * sb) / math.sqrt(va * vb)
        assert(math.abs(gc - expect) < 1e-12, s"($ta,$tb): $gc vs $expect")
        assert(gc >= -1.0 - 1e-12 && gc <= 1.0 + 1e-12)
      } else assert(gc.isNaN, "zero-variance pair must yield NULL")
    }
    assert(got.size == types.size * (types.size - 1) / 2)
  }

  test("chi-square: cells partition the events, marginals reconcile, statistic is the fold") {
    val rows = Analytics.chi2TypeWeekday(spark, Sf0001).collect()
    val nEvents = graft.io.Tables.events(spark, Sf0001).count()
    assert(rows.map(_.getLong(2)).sum == nEvents, "observed cells must partition the events")
    // expected counts reconcile to the same total (Σ exp = N exactly up to fp)
    assert(math.abs(rows.map(_.getDouble(3)).sum - nEvents.toDouble) < 1e-6)
    // every contribution is (obs-exp)^2/exp and non-negative
    for (r <- rows) {
      val d = r.getLong(2).toDouble - r.getDouble(3)
      assert(math.abs(r.getDouble(4) - d * d / r.getDouble(3)) < 1e-12)
      assert(r.getDouble(4) >= 0.0)
    }
    // one table-level statistic and dof on every row; chi2 = Σ contrib
    assert(rows.map(_.getDouble(5)).distinct.length == 1)
    val chi2 = rows.head.getDouble(5)
    assert(math.abs(chi2 - rows.map(_.getDouble(4)).sum) < 1e-9)
    val r0 = rows.map(_.getString(0)).distinct.length - 1
    val c0 = rows.map(_.getLong(1)).distinct.length - 1
    assert(rows.head.getLong(6) == r0.toLong * c0)
  }

  test("jl projection: norms preserved in expectation (the JL property) and dims balanced") {
    val p = graft.operators.Similarity.jlRandomProjection(spark, Sf0001).cache()
    val k = 16
    assert(p.select("dim").distinct().count() === k.toLong)
    // E[||y||^2 / k] = ||x||^2 for a +/-1 sign projection: the CORPUS mean
    // ratio must land near 1 (per-vector variance ~ sqrt(2/k) is too wide
    // to pin, the mean over 500 vectors is not)
    val py = p.groupBy(col("vec_id"))
      .agg((sum(col("y") * col("y")) / k).as("y2"))
    val px = graft.io.Tables.embeddings(spark, Sf0001)
      .select(col("vec_id"),
        expr("aggregate(cast(embedding as array<double>), 0.0D, (a, x) -> a + x * x)").as("x2"))
    val ratio = py.join(px, "vec_id")
      .agg(avg(col("y2") / col("x2"))).head().getDouble(0)
    assert(ratio > 0.8 && ratio < 1.2, s"JL mean norm ratio $ratio out of band")
    // the deterministic sign matrix is roughly balanced (a degenerate
    // all-plus matrix would also pass the ratio test via cancellation luck)
    val signs = (0 until 64).flatMap(i => (0 until 16).map(j =>
      if ((((i * 16 + j).toLong * 2654435761L) % 4294967296L) / 65536 % 2 == 0) 1 else 0))
    assert(signs.sum > 410 && signs.sum < 614, s"sign matrix unbalanced: ${signs.sum}/1024")
    p.unpersist()
  }

  test("ab test: arm counts reconcile and the z readout is finite on interior rates") {
    val r = graft.operators.Analytics.abTestZtest(spark, Sf0001).head()
    val users = graft.io.Tables.events(spark, Sf0001)
      .select("user_id").distinct().count()
    assert(r.getLong(0) + r.getLong(2) === users)
    assert(r.getLong(1) <= r.getLong(0) && r.getLong(3) <= r.getLong(2))
    // heavy-purchaser rates are interior at this SF (probed 4/8 vs 4/7),
    // so the pooled z is a finite number and lift = p1 - p0 exactly
    assert(!r.getDouble(7).isNaN && !r.getDouble(7).isInfinite)
    assert(r.getDouble(6) === r.getDouble(5) - r.getDouble(4))
  }

  test("changepoint: argmax equals a driver-side brute force over exact integer prefix sums") {
    val got = Analytics.changepointByType(spark, Sf0001).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    val series = graft.io.Tables.events(spark, Sf0001)
      .select(col("event_type"), col("event_id"),
              expr("cast(round(value * 100) as bigint)").as("c"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val expect = series.groupBy(_._1).map { case (t, rows) =>
      val s = rows.sortBy(_._2)
      val nn = BigInt(s.length)
      val ss = BigInt(s.map(_._3).sum)
      var run = BigInt(0)
      val stats = s.zipWithIndex.map { case ((_, id, c), i) =>
        run += c
        (id, (nn * run - BigInt(i + 1) * ss).abs)
      }
      val m = stats.map(_._2).max
      t -> (stats.filter(_._2 == m).map(_._1).min, m.toDouble)
    }
    assert(got.keySet === expect.keySet)
    for ((t, (id, s)) <- expect) {
      assert(got(t)._1 === id, s"cp_id for $t")
      assert(got(t)._2 === s, s"stat for $t")
    }
  }

  test("user connected components equal a local union-find; isolated users are singletons") {
    val got = Analytics.ccUsers(spark, Sf0001).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val nodes = graft.io.Tables.events(spark, Sf0001)
      .select(col("user_id")).distinct().collect().map(_.getLong(0)).toSet
    assert(got.keySet == nodes)
    // local union-find over the independently recounted edge set
    val parent = scala.collection.mutable.Map(nodes.toSeq.map(n => n -> n): _*)
    def find(x: Long): Long = { var r = x; while (parent(r) != r) r = parent(r); r }
    for ((u, v) <- localUserEdges()) {
      val (ru, rv) = (find(u), find(v))
      if (ru != rv) parent(math.max(ru, rv)) = math.min(ru, rv)
    }
    val expect = nodes.map(n => n -> find(n)).toMap
    assert(got == expect)
    // the label is the component MINIMUM: no node maps to a larger id
    assert(got.forall { case (n, c) => c <= n })
    // singletons exist in the sparse sf0.001 graph and self-label
    val inEdges = localUserEdges().flatMap { case (u, v) => Seq(u, v) }
    val isolated = nodes.diff(inEdges)
    assert(isolated.nonEmpty, "fixture must contain never-co-occurring users")
    assert(isolated.forall(n => got(n) == n))
  }

  test("dau rolling 7d: window counts match a local recount and dominate the daily counts") {
    val rows = Sessionize.dauRolling7d(spark, Sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val pairs = graft.io.Tables.events(spark, Sf0001)
      .select(col("user_id"), expr("ts_ns div 86400000000000").as("day"))
      .distinct().collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val days = pairs.map(_._2)
    assert(rows.map(_._1).toSet == days)
    for ((d, dau, dau7) <- rows) {
      assert(dau == pairs.count(_._2 == d))
      assert(dau7 == pairs.filter(p => p._2 >= d - 6 && p._2 <= d).map(_._1).size)
      assert(dau7 >= dau, "the 7-day window dominates its last day")
    }
    // the window genuinely accumulates: some day's weekly reach exceeds its daily
    assert(rows.exists { case (_, dau, dau7) => dau7 > dau })
  }

  test("rfm approx: scores in 1..4, tie-consistent, and consistent with local quantile_disc") {
    val rows = Analytics.rfmSegmentsApprox(spark, Sf0001).collect()
    assert(rows.nonEmpty)
    rows.foreach { row =>
      Seq("r_score", "f_score", "m_score").foreach { c =>
        val s = row.getAs[Long](c); assert(s >= 1 && s <= 4, s"$c out of range") }
    }
    // boundary semantics: equal metric => equal score (ntile cannot promise this)
    assert(rows.groupBy(_.getAs[Long]("f")).values
      .forall(g => g.map(_.getAs[Long]("f_score")).distinct.size == 1))
    // recount f_score against locally computed disc quantiles
    val fs = rows.map(_.getAs[Long]("f")).sorted
    def qdisc(p: Double): Long = fs((math.ceil(p * fs.length) - 1).toInt.max(0))
    val cuts = Seq(qdisc(0.25), qdisc(0.5), qdisc(0.75))
    rows.foreach { row =>
      val expect = 1L + cuts.count(_ < row.getAs[Long]("f"))
      assert(row.getAs[Long]("f_score") == expect)
    }
  }

  test("histogram buckets partition the events and bounds respect bucket edges") {
    val h = Relational.valueHistogram(spark, Sf0001).cache()
    assert(h.agg(sum(col("n"))).head().getLong(0) ==
      graft.io.Tables.events(spark, Sf0001).count())
    // min/max of each IN-RANGE bucket sit inside [20*(b-1), 20*b); bucket
    // 26 is width_bucket's overflow bucket (v >= 500, present at sf0.1)
    val bad = h.filter(col("bucket").between(1, 25) &&
                       (col("min_v") < (col("bucket") - 1) * 20.0 ||
                        col("max_v") >= col("bucket") * 20.0))
    assert(bad.count() == 0)
    h.unpersist()
  }

  test("nelson-aalen: risk sets telescope, subjects conserve, hazard accumulates monotonically") {
    val s = Analytics.survivalNelsonAalen(spark, Sf0001).cache()
    val rows = s.orderBy(col("t")).collect()
    assert(rows.nonEmpty)
    // the first risk set is the full subject count (every ordering customer)
    val nSubjects = graft.io.Tables.orders(spark, Sf0001)
      .select(col("o_custkey")).distinct().count()
    assert(rows.head.getAs[Long]("n_risk") == nSubjects)
    // telescoping: n_risk(t_{i+1}) = n_risk(t_i) - (d + c)(t_i)
    rows.sliding(2).foreach {
      case Array(a, b) =>
        assert(b.getAs[Long]("n_risk") ==
          a.getAs[Long]("n_risk") - a.getAs[Long]("d") - a.getAs[Long]("c"))
      case _ =>
    }
    // every subject leaves exactly once: Σ(d+c) = n subjects
    assert(rows.map(r => r.getAs[Long]("d") + r.getAs[Long]("c")).sum == nSubjects)
    // cumulative hazard is the running sum of increments and never decreases
    var acc = 0L
    rows.foreach { r =>
      acc += r.getAs[Long]("hazard_ppb")
      assert(r.getAs[Long]("cum_hazard_ppb") == acc)
      assert(r.getAs[Long]("hazard_ppb") >= 0L)
    }
    s.unpersist()
  }

  test("gini: banded rank formula matches a local exact recompute and sits in [0,1)") {
    val g = Analytics.revenueGini(spark, Sf0001).head()
    val cents = graft.io.Tables.orders(spark, Sf0001)
      .groupBy(col("o_custkey"))
      .agg(sum(expr("cast(round(o_totalprice * 100) as bigint)")).as("c"))
      .collect().map(r => (r.getAs[Long]("c"), r.getAs[Long]("o_custkey")))
      .sortBy(identity)
    val n = cents.length.toLong
    val sx = cents.map(x => BigInt(x._1)).sum
    val srx = cents.zipWithIndex.map { case ((c, _), i) => BigInt(i + 1) * c }.sum
    val expect = (BigDecimal(2 * srx - (n + 1) * sx) / BigDecimal(BigInt(n) * sx)).toDouble
    assert(g.getAs[Long]("n") == n)
    assert(math.abs(g.getAs[Double]("gini") - expect) < 1e-12)
    assert(g.getAs[Double]("gini") >= 0.0 && g.getAs[Double]("gini") < 1.0)
  }

  test("k-anonymity report is consistent with a direct class recount") {
    val r = Analytics.kAnonymityReport(spark, Sf0001).head()
    val classes = graft.io.Tables.customer(spark, Sf0001)
      .groupBy(col("c_nationkey"), col("c_mktsegment"))
      .agg(count(lit(1)).as("sz")).collect().map(_.getAs[Long]("sz"))
    assert(r.getAs[Long]("n_rows") == classes.sum)
    assert(r.getAs[Long]("n_classes") == classes.length)
    assert(r.getAs[Long]("min_class_size") == classes.min)
    assert(r.getAs[Long]("classes_below_k") == classes.count(_ < 10))
    assert(r.getAs[Long]("rows_below_k") == classes.filter(_ < 10).sum)
    assert(r.getAs[Long]("min_l_diversity") >= 1L &&
           r.getAs[Long]("min_l_diversity") <= 2L)
  }

  test("random walks: every hop is a real edge chosen by the stated hash, walks die only at isolated nodes") {
    val w = Analytics.randomWalksUsers(spark, Sf0001).cache()
    val rows = w.collect()
      .map(r => (r.getAs[Long]("start"), r.getAs[Long]("step"), r.getAs[Long]("node")))
    // rebuild the adjacency locally
    val buckets = graft.io.Tables.events(spark, Sf0001)
      .select(col("user_id"), expr("ts_ns div 60000000000").as("b")).distinct()
      .collect().map(r => (r.getLong(1), r.getLong(0))).toList
    val edges: Set[(Long, Long)] = buckets.groupBy(_._1).values.toList.flatMap { g =>
      val us = g.map(_._2).distinct.sorted
      for (a <- us; b <- us if a < b) yield (a, b)
    }.toSet
    val adj: Map[Long, List[Long]] = edges.toList
      .flatMap { case (a, b) => List(a -> b, b -> a) }
      .groupBy(_._1).map { case (s, ns) => s -> ns.map(_._2).distinct.sorted }
    val byWalk = rows.groupBy(_._1)
    val nodes = graft.io.Tables.events(spark, Sf0001)
      .select(col("user_id")).distinct().collect().map(_.getLong(0)).toSet
    assert(byWalk.keySet == nodes)
    byWalk.foreach { case (start, steps) =>
      val path = steps.sortBy(_._2).map(_._3)
      assert(path.head == start)
      // isolated nodes stop at step 0; connected nodes take all 3 hops
      val expectLen = if (adj.contains(start)) 4 else 1
      assert(path.length == expectLen, s"walk from $start")
      // hash-chosen hops: verify each step lands on the stated pick,
      // not just any edge (indexing by step, since walks may revisit)
      for (i <- 1 until path.length) {
        val a = path(i - 1)
        val ns = adj(a)
        val idx = ((((a % 1000000007L) * 2654435761L + i) % 1000000007L)
                     % ns.length).toInt
        assert(path(i) == ns(idx), s"hop $a -> ${path(i)} at step $i")
      }
    }
    w.unpersist()
  }

  test("label propagation matches a local synchronous 4-round recompute") {
    val got = Analytics.labelPropCommunities(spark, Sf0001).collect()
      .map(r => r.getAs[Long]("user_id") -> r.getAs[Long]("community")).toMap
    // rebuild the symmetrized adjacency locally (the random-walk recipe)
    val buckets = graft.io.Tables.events(spark, Sf0001)
      .select(col("user_id"), expr("ts_ns div 60000000000").as("b")).distinct()
      .collect().map(r => (r.getLong(1), r.getLong(0))).toList
    val edges: Set[(Long, Long)] = buckets.groupBy(_._1).values.toList.flatMap { g =>
      val us = g.map(_._2).distinct.sorted
      for (a <- us; b <- us if a < b) yield (a, b)
    }.toSet
    val adj: Map[Long, List[Long]] = edges.toList
      .flatMap { case (a, b) => List(a -> b, b -> a) }
      .groupBy(_._1).map { case (s, ns) => s -> ns.map(_._2).distinct }
    val nodes = got.keySet
    var lab = nodes.map(n => n -> n).toMap
    for (_ <- 1 to 4) {
      lab = nodes.map { n =>
        adj.get(n) match {
          case None => n -> lab(n)
          case Some(ns) =>
            val counts = ns.map(lab).groupBy(identity)
              .map { case (l, g) => (l, g.size) }
            val best = counts.toList.sortBy { case (l, c) => (-c, l) }.head._1
            n -> best
        }
      }.toMap
    }
    assert(got == lab)
    // cohesion beats reachability: LPA yields at least as many groups as CC
    val ccGroups = Analytics.ccUsers(spark, Sf0001)
      .select(col("component")).distinct().count()
    assert(got.values.toSet.size >= ccGroups)
  }

  test("cv folds: shares sum to ~1e6, every user in exactly one fold, fold ids dense") {
    val f = Analytics.cvFoldAssign(spark, Sf0001).collect()
    assert(f.map(_.getAs[Long]("fold")).toSet.subsetOf((0L until 5L).toSet))
    val totalRows = graft.io.Tables.events(spark, Sf0001).count()
    assert(f.map(_.getAs[Long]("n_rows")).sum == totalRows)
    // ppm shares add to one million give or take per-fold rounding
    val ppm = f.map(_.getAs[Long]("row_share_ppm")).sum
    assert(math.abs(ppm - 1000000L) <= f.length)
    // leak-freedom: fold is a pure function of user, so Σ n_users over
    // folds equals the distinct user count (each user counted once)
    val users = graft.io.Tables.events(spark, Sf0001)
      .select(coalesce(col("user_id"), lit(1000000006L))).distinct().count()
    assert(f.map(_.getAs[Long]("n_users")).sum == users)
  }

  test("funnel time-to-convert: bins conserve converting users and bounds sit inside their bin") {
    val d = Analytics.funnelTimeToConvert(spark, Sf0001).collect()
    assert(d.nonEmpty)
    d.foreach { r =>
      val bin = r.getAs[Long]("bin")
      assert(r.getAs[Long]("min_delay_us") >= bin * 600000000L)
      assert(r.getAs[Long]("max_delay_us") < (bin + 1) * 600000000L)
      assert(r.getAs[Long]("min_delay_us") <= r.getAs[Long]("max_delay_us"))
      assert(r.getAs[Long]("n_users") > 0)
    }
    // conservation vs a direct recount of converting users
    val ev = graft.io.Tables.events(spark, Sf0001)
      .select(col("user_id"), col("event_type"), expr("ts_ns div 1000").as("us"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    val converting = ev.groupBy(_._1).count { case (_, g) =>
      val views = g.filter(_._2 == "view").map(_._3)
      views.nonEmpty && g.exists(e => e._2 == "purchase" && e._3 >= views.min)
    }
    assert(d.map(_.getAs[Long]("n_users")).sum == converting)
  }

  test("theil-sen: slope is the exact median of locally recomputed pairwise slopes") {
    val got = Analytics.theilSenDaily(spark, Sf0001).collect()
      .map(r => r.getAs[String]("event_type") ->
        (r.getAs[Long]("n_days"), r.getAs[Long]("n_pairs"), r.getAs[Double]("slope")))
      .toMap
    val daily = graft.io.Tables.events(spark, Sf0001)
      .groupBy(col("event_type"), expr("ts_ns div 86400000000000").as("day"))
      .agg(sum(expr("cast(round(value * 100) as bigint)")).as("y"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toList
    daily.groupBy(_._1).foreach { case (t, ds) =>
      val pts = ds.map(d => (d._2, d._3)).sortBy(_._1)
      val slopes = (for {
        (da, ya) <- pts; (db, yb) <- pts if da < db
      } yield (yb.toDouble - ya.toDouble) / (db.toDouble - da.toDouble)).sorted
      val (nd, np, slope) = got(t)
      assert(nd == pts.length && np == slopes.length)
      // exact-percentile median with linear interpolation
      val mid = (slopes.length - 1) * 0.5
      val lo = slopes(mid.floor.toInt); val hi = slopes(mid.ceil.toInt)
      val expect = lo + (hi - lo) * (mid - mid.floor)
      assert(slope == expect, s"type $t")
    }
  }

  test("trimmed mean: survivors bounded by the cuts, mean inside [lo, hi]/100") {
    val rows = Analytics.trimmedMeanByType(spark, Sf0001).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (n, k) = (r.getAs[Long]("n"), r.getAs[Long]("n_kept"))
      assert(k > 0 && k <= n)
      // the 5% trim drops at most ~10% + interpolation slack
      assert(k.toDouble >= 0.88 * n)
      val m = r.getAs[Double]("trimmed_mean") * 100.0
      assert(m >= r.getAs[Double]("lo") && m <= r.getAs[Double]("hi"))
    }
  }

  test("key skew report recomputes from a local key-count pass") {
    val r = graft.operators.Relational.keySkewReport(spark, Sf0001).head()
    val counts = graft.io.Tables.orders(spark, Sf0001)
      .groupBy(col("o_custkey")).agg(count(lit(1)).as("c"))
      .collect().map(x => (x.getAs[Long]("o_custkey"), x.getAs[Long]("c"))).toList
    assert(r.getAs[Long]("n_rows") == counts.map(_._2).sum)
    assert(r.getAs[Long]("n_keys") == counts.length)
    val mx = counts.map(_._2).max
    assert(r.getAs[Long]("max_key_rows") == mx)
    assert(r.getAs[Long]("argmax_key") ==
      counts.filter(_._2 == mx).map(_._1).min)
    assert(r.getAs[Long]("skew_ppm") >= 1000000L) // max ≥ avg always
  }

  test("quantile bins: counts conserve, bins ordered and roughly equi-depth") {
    val b = graft.operators.Relational.quantileBinsValue(spark, Sf0001).collect()
    val n = graft.io.Tables.events(spark, Sf0001).count()
    assert(b.map(_.getAs[Long]("n")).sum == n)
    assert(b.map(_.getAs[Long]("bin")).toSeq == b.map(_.getAs[Long]("bin")).toSeq.sorted)
    // bin value ranges never overlap: max of bin i < min of bin i+1
    b.sliding(2).foreach {
      case Array(x, y) =>
        assert(x.getAs[Long]("max_cents") <= y.getAs[Long]("min_cents"))
      case _ =>
    }
    // equi-depth within interpolation slack: each decile holds 10% ± 5pp
    b.foreach(r => assert(math.abs(r.getAs[Long]("n").toDouble / n - 0.1) < 0.05))
  }

  test("bootstrap CI: band brackets the point median and resamples are all present") {
    val rows = Analytics.bootstrapMedianCi(spark, Sf0001).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Long]("n_resamples") == 16L)
      val (lo, hi) = (r.getAs[Double]("ci_lo"), r.getAs[Double]("ci_hi"))
      assert(lo <= hi)
      // the point median need not lie inside [lo,hi] in theory, but a
      // mean-1 resampler on thousands of rows keeps it there in practice
      val m = r.getAs[Double]("median")
      assert(m >= lo - 1e-9 && m <= hi + 1e-9)
      // a 16-resample band on real data is not degenerate
      assert(hi > lo)
    }
  }

  test("mann-whitney recomputes from a local full-sort rank pass") {
    val r = Analytics.mannWhitneyArms(spark, Sf0001).head()
    val vals = graft.io.Tables.events(spark, Sf0001)
      .select(expr("cast(round(value * 100) as bigint)").as("c"),
              (col("user_id") % 2).as("arm"))
      .collect().map(x => (x.getAs[Long]("c"), x.getAs[Long]("arm"))).toList
    val n0 = vals.count(_._2 == 0L).toLong
    val n1 = vals.count(_._2 == 1L).toLong
    assert(r.getAs[Long]("n0") == n0 && r.getAs[Long]("n1") == n1)
    // textbook average ranks over the fully sorted sample
    val sorted = vals.sortBy(_._1)
    val rankByValue = sorted.map(_._1).zipWithIndex.groupBy(_._1)
      .map { case (v, g) => v -> g.map(_._2 + 1).sum.toDouble / g.size }
    val ra = vals.filter(_._2 == 0L).map(v => rankByValue(v._1)).sum
    val u = ra - n0.toDouble * (n0 + 1) / 2.0
    assert(math.abs(r.getAs[Double]("u2") / 2.0 - u) < 1e-6)
    // tie term: Σ t³ − t over value multiplicities
    val ties = vals.groupBy(_._1).values
      .map(g => { val t = g.size.toLong; t * t * t - t }).sum
    assert(r.getAs[Double]("tie_term") == ties.toDouble)
    // z recomputes from the same tree
    val nd = (n0 + n1).toDouble
    val z = (u - n0 * n1 / 2.0) /
      math.sqrt(n0 * n1 / 12.0 * ((nd + 1.0) - ties / (nd * (nd - 1.0))))
    assert(math.abs(r.getAs[Double]("z") - z) < 1e-9)
  }

  test("modularity: LPA strictly beats the CC baseline on a planted two-clique partition") {
    import spark.implicits._
    // two 8-cliques joined by ONE bridge edge (7–8): reachability (CC)
    // sees a single component, whose Q is identically 0; LPA's majority
    // labels stop at the sparse cut, and a clean two-way split of this
    // graph scores Q ≈ 1/2 − ε. This pins the ALGORITHMIC inequality the
    // registered community_modularity report cannot show on the fixtures
    // (their co-occurrence graph is one dense near-clique — every split
    // of it scores ≤ 0, and the report honestly says so).
    val cliques = for {
      g <- 0 to 1; i <- 0 until 8; j <- (i + 1) until 8
    } yield (g * 8L + i, g * 8L + j)
    val e = (cliques :+ (7L, 8L)).toDF("u", "v")
    val nodes = (0L until 16L).toDF("node")
    val lpa = Analytics.labelPropOf(spark, nodes, e, rounds = 4)
    val qs = Analytics.modularityOf(e, nodes.select(col("node"), lit(0L)), "cc")
      .unionAll(Analytics.modularityOf(e, lpa, "lpa"))
      .collect().map(r => r.getString(0) -> r.getDouble(3)).toMap
    assert(qs("cc") == 0.0, s"single-component Q must be identically 0, got ${qs("cc")}")
    assert(qs("lpa") > 0.3, s"LPA failed to find the planted partition: Q=${qs("lpa")}")
    // and LPA genuinely produced exactly the two planted communities
    val labs = lpa.collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(labs.map(_._2).distinct.length == 2)
    assert(labs.groupBy(_._2).values.map(_.map(_._1).toSet).toSet ==
      Set((0L until 8L).toSet, (8L until 16L).toSet))
  }

  test("LPA argmax: count-desc majority and label-asc tie-break") {
    import spark.implicits._
    // r19-opt pinned semantics for the round argmax after the
    // row_number-window → max_by rewrite: among a node's neighbor labels,
    // the new label is the most FREQUENT one, ties broken by SMALLEST
    // label. Hub 20 over triangle {1,2,3}: after round 1 every vote is a
    // count-1 tie, so each node takes its smallest competing neighbor
    // label under the (count desc, label asc) order — node 1 sees
    // {20, 2, 3} and must take 2, NOT 3 or 20; after round 2 node 20
    // sees labels {2, 1, 1} and the count-2 majority (1) must beat the
    // smaller-rank tie rule.
    val e = Seq((20L, 1L), (20L, 2L), (20L, 3L),
                (1L, 2L), (1L, 3L), (2L, 3L)).toDF("u", "v")
    val nodes = Seq(1L, 2L, 3L, 20L).toDF("node")
    val r1 = Analytics.labelPropOf(spark, nodes, e, rounds = 1)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(r1 == Map(1L -> 2L, 2L -> 1L, 3L -> 1L, 20L -> 1L),
      s"round-1 tie-break diverged: $r1")
    val r2 = Analytics.labelPropOf(spark, nodes, e, rounds = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(r2 == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 20L -> 1L),
      s"round-2 majority diverged: $r2")
    // the case that DISTINGUISHES count-desc from label-asc: after round 1
    // node 100's neighbors carry labels {9, 9, 2} — the count-2 majority
    // (9) must beat the smaller minority label (2); an argmax that applied
    // the label-asc tie-break first would wrongly pick 2
    val e2 = Seq((9L, 10L), (9L, 11L), (100L, 10L), (100L, 11L),
                 (100L, 40L), (40L, 2L)).toDF("u", "v")
    val nodes2 = Seq(2L, 9L, 10L, 11L, 40L, 100L).toDF("node")
    val m1 = Analytics.labelPropOf(spark, nodes2, e2, rounds = 1)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(m1 == Map(2L -> 40L, 9L -> 10L, 10L -> 9L, 11L -> 9L,
                     40L -> 2L, 100L -> 10L),
      s"majority-graph round-1 diverged: $m1")
    val m2 = Analytics.labelPropOf(spark, nodes2, e2, rounds = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(m2(100L) == 9L,
      s"count-2 majority label 9 must beat minority label 2, got ${m2(100L)}")
  }

  test("community_modularity report: the registered fixture rows carry the CC-zero identity") {
    val rows = Analytics.communityModularity(spark, Sf0001)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(3)))
    val cc = rows.find(_._1 == "cc").get
    val lpa = rows.find(_._1 == "lpa").get
    // the fixture graph is connected at this SF → one component, Q = 0
    assert(cc._2 >= 1L && (cc._2 > 1L || cc._3 == 0.0))
    // LPA can only split further (labels refine within components)
    assert(lpa._2 >= cc._2)
  }

  test("failure-path sibling wait is bounded and rethrows the original failure") {
    import scala.concurrent.duration.DurationInt
    val boom = new IllegalStateException("core failed")
    val never = scala.concurrent.Promise[Long]().future
    val t0 = System.nanoTime()
    val thrown = intercept[IllegalStateException] {
      Analytics.awaitSiblingThenThrow(never, boom, 200.millis)
    }
    assert(thrown eq boom)
    assert(thrown.getSuppressed.exists(_.isInstanceOf[java.util.concurrent.TimeoutException]),
      "the timeout should ride along as a suppressed exception")
    assert((System.nanoTime() - t0) / 1e9 < 30.0, "the wait was not bounded")
  }
}
