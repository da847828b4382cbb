package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Encoder, Encoders, SparkSession}
import org.apache.spark.sql.expressions.{Aggregator, Window}
import org.apache.spark.sql.functions._
import scala.concurrent.{Await, Future}
import scala.concurrent.duration.{Duration, DurationInt}
import graft.io.Tables

/** Statistical / sequence / graph analytics: exact-moment linear
  * regression + correlation, a Markov transition matrix over per-user
  * event sequences, a deterministic bounded-state uniform sampler, RFM
  * quartile segmentation, an edit-distance-1 similarity join (deletion
  * banding), and the weighted/iterative graph family over the nation trade
  * graph — fixed-point PageRank, degree-oriented triangle counting, and
  * BFS shortest hops. Everything is oracle-hashable: integer or exact-
  * decimal arithmetic wherever a float recurrence would be order-hostile.
  */
object Analytics {

  /** Collects a STRICTLY CONTROL-PLANE-SIZED result and rebuilds it as a
    * LocalRelation DataFrame, so every cached block upstream is released
    * before returning instead of accumulating across a full Verify/Bench
    * run. Scope contract (r15 review): callable ONLY on frames whose row
    * count is a CONSTANT of the domain — the 1-row triangle/wedge
    * aggregates here (and the pagerank empty-corpus branch, 0 rows) — never
    * on anything keyed by a data-cardinality column. Results keyed by user,
    * document, or node id go through [[detach]] instead: at 100 TB those
    * tables are billions of rows and a driver round-trip is the classic
    * collect bottleneck. PlanSpec pins the four user-scale graph queries to
    * contain no LocalRelation, so a regression here is a test failure. */
  private def localize(spark: SparkSession, df: DataFrame): DataFrame = {
    import scala.jdk.CollectionConverters._
    spark.createDataFrame(df.collect().toList.asJava, df.schema)
  }

  /** EAGERLY materializes `df` as a lineage-free local checkpoint — the
    * scale-safe sibling of [[localize]] for DATA-CARDINALITY results: the
    * rows stay in EXECUTOR block storage (never cross the driver), the
    * returned frame is a shallow LogicalRDD with no upstream lineage, and
    * because materialization is eager every superseded cache the caller
    * holds (edge lists, per-round checkpoints) can be freed in its finally
    * block before returning. The result's own blocks are reclaimed by
    * Spark's ContextCleaner once the caller drops the frame — one
    * node-sized table in flight per query, not an accumulating set. */
  private def detach(df: DataFrame): DataFrame = df.localCheckpoint(eager = true)

  /** Run `body` (which must MATERIALIZE its result — every graph core ends
    * in [[localize]]'s collect or [[detach]]'s eager checkpoint) with the
    * shuffle width narrowed to `w`,
    * restoring the session value afterwards. The graph stages operate on
    * edge/node-sized aggregates where 32-way task scheduling dominates the
    * compute (r13 probe: width 32→8 halved every graph query at sf0.1); at
    * production scale the width follows the edge volume via config — this
    * constant is the gate-scale setting, not a claim. */
  private def withWidth[T](spark: SparkSession, w: Int)(body: => T): T =
    StatefulQueries.withShuffleWidth(spark, w)(body)

  /** How long a failure path waits for an overlapped sibling future. */
  private val SiblingWaitBound: Duration = 5.minutes

  /** Failure path of two graph cores run overlapped: wait for the sibling
    * future `f` — so the caller's finally does not release a cache the
    * sibling still reads — for at most `bound`, then rethrow `t`, the
    * original failure. A wait that times out rides along as a suppressed
    * exception: a wedged sibling must not turn a surfaced failure into a
    * hang. */
  private[graft] def awaitSiblingThenThrow(f: Future[_], t: Throwable,
                                           bound: Duration = SiblingWaitBound): Nothing = {
    try Await.ready(f, bound)
    catch { case e: Throwable =>
      t.addSuppressed(e)
      if (e.isInstanceOf[InterruptedException]) Thread.currentThread().interrupt()
    }
    throw t
  }

  /** Fixed hour-index base (epoch hours) shared with the oracle SQL: the
    * regressor is HOURS SINCE this base, not raw epoch hours, keeping every
    * moment's magnitude far inside the range where the decimal → double
    * finisher arithmetic below cannot lose integer precision. 470000 h ≈
    * 2023-08; the fixtures start 2024-01. A fixture drift of ± a few years
    * only grows t to ~1e4, still harmless. */
  val BaseHour = 470000L

  /** Per-event_type simple linear regression of value against time (hours
    * since [[BaseHour]]) plus Pearson correlation and sample stddev —
    * computed from EXACT DECIMAL MOMENTS, not a running float recurrence:
    * the five sums n, Σt, Σv, Σt², Σtv, Σv² accumulate in decimal (exact,
    * order-free, map-side combinable — each partition's partial is one row
    * of decimals, the canonical mergeable-statistics shape for a
    * 1000-executor aggregate), and only the closed-form finishers
    *
    *   slope = (nΣtv − ΣtΣv) / (nΣt² − (Σt)²)
    *   corr  = (nΣtv − ΣtΣv) / √((nΣt² − (Σt)²)(nΣv² − (Σv)²))
    *
    * run in double — the same IEEE expressions the oracle evaluates on the
    * same (bit-identical, correctly-rounded-from-decimal) inputs, so the
    * hash gate holds without any float-sum order hazard. Spark's built-in
    * `corr`/`regr_slope` use running double recurrences whose partial-merge
    * order varies run to run; this form is the deterministic equivalent. */
  def regressionStats(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.events(spark, sfDir).select(
      col("event_type"),
      (expr("ts_ns div 3600000000000") - lit(BaseHour)).cast("decimal(18,0)").as("t"),
      col("value").cast("decimal(18,2)").as("v"))
    val agg = ev.groupBy(col("event_type")).agg(
      count(lit(1)).as("n_rows"),
      sum(col("t")).cast("double").as("st"),
      sum(col("v")).cast("double").as("sv"),
      sum((col("t") * col("t")).cast("decimal(30,0)")).cast("double").as("stt"),
      sum((col("t") * col("v")).cast("decimal(30,2)")).cast("double").as("stv"),
      sum((col("v") * col("v")).cast("decimal(30,4)")).cast("double").as("svv"))
    val n = col("n_rows").cast("double")
    val covN  = n * col("stv") - col("st") * col("sv")   // n² × covariance
    val varTN = n * col("stt") - col("st") * col("st")   // n² × var(t)
    val varVN = n * col("svv") - col("sv") * col("sv")   // n² × var(v)
    agg.select(col("event_type"), col("n_rows"),
        (covN / varTN).as("slope"),
        ((col("sv") - (covN / varTN) * col("st")) / n).as("intercept"),
        (covN / sqrt(varTN * varVN)).as("corr_tv"),
        sqrt(varVN / (n * (n - lit(1.0d)))).as("stddev_v"))
      .orderBy(col("event_type"))
  }

  /** USER-PATH MINING: the top-k most frequent length-3 event-type
    * sequences across all users — the clickstream-path generalization of
    * [[markovTransitions]] (length-2 would be the transition matrix; the
    * classic "user journey" report is exactly this top-k table). Two
    * stacked `lead`s share the ONE user-keyed exchange (the funnel_steps
    * discipline — a triple self-join would shuffle the stream three
    * times); the path table is at most types³ rows after the map-side-
    * combined count, and the top-k plans as TakeOrdered (per-partition
    * k-row heaps + a driver merge), never a full sort. Ties break on the
    * path string so the emitted k rows are deterministic. */
  def userPathsTop(spark: SparkSession, sfDir: String, k: Int = 20): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts_ns"), col("event_id"))
    Tables.events(spark, sfDir)
      .select(col("user_id"), col("event_type"), col("ts_ns"), col("event_id"))
      .withColumn("t2", lead(col("event_type"), 1).over(w))
      .withColumn("t3", lead(col("event_type"), 2).over(w))
      .filter(col("t2").isNotNull && col("t3").isNotNull)
      .select(concat_ws(">", col("event_type"), col("t2"), col("t3")).as("path"))
      .groupBy(col("path")).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("path"))
      .limit(k)
  }

  /** CROSS-SERIES CORRELATION MATRIX: Pearson correlation between every
    * pair of event types' hourly-count series, over the shared spine of
    * all active hours (a type absent from an hour contributes 0 — the
    * aligned-series convention). The multivariate face of
    * [[regressionStats]]: same exact-moment discipline — counts are exact
    * longs, the five pairwise moments are exact DECIMAL sums cast to
    * double once, and the Pearson finisher is a fixed closed-form IEEE
    * expression both engines evaluate on bit-identical inputs, so no
    * float-sum order hazard exists anywhere. Zero-variance series yield
    * NULL (no division by zero).
    *
    * Scale shape: events collapse to the (type, hour) aggregate FIRST
    * (one map-side-combined shuffle); the dense spine, pair join, and
    * moment aggregation all run on hours × types rows — time- and
    * vocabulary-bounded, never event-proportional. */
  def corrMatrixHourly(spark: SparkSession, sfDir: String): DataFrame = {
    val hourly = Tables.events(spark, sfDir)
      .groupBy(col("event_type"), expr("ts_ns div 3600000000000").as("hs"))
      .agg(count(lit(1)).as("c"))
    val spine = hourly.select(col("hs")).distinct()
    val types = hourly.select(col("event_type")).distinct()
    val dense = spine.crossJoin(broadcast(types))
      .join(hourly, Seq("event_type", "hs"), "left")
      .select(col("event_type"), col("hs"),
        coalesce(col("c"), lit(0L)).cast("decimal(18,0)").as("c"))
    val a = dense.select(col("hs"), col("event_type").as("type_a"), col("c").as("ca"))
    val b = dense.select(col("hs"), col("event_type").as("type_b"), col("c").as("cb"))
    // the aligned-series table is hours × types (time- and vocabulary-
    // bounded, never event-proportional) — broadcast it rather than let the
    // static planner sort-merge two aggregate-sized sides
    val m = a.join(broadcast(b), "hs").filter(col("type_a") < col("type_b"))
      .groupBy(col("type_a"), col("type_b"))
      .agg(count(lit(1)).as("n_hours"),
           sum(col("ca")).cast("double").as("sa"),
           sum(col("cb")).cast("double").as("sb"),
           sum((col("ca") * col("cb")).cast("decimal(30,0)")).cast("double").as("sab"),
           sum((col("ca") * col("ca")).cast("decimal(30,0)")).cast("double").as("saa"),
           sum((col("cb") * col("cb")).cast("decimal(30,0)")).cast("double").as("sbb"))
    val n   = col("n_hours").cast("double")
    val cov = n * col("sab") - col("sa") * col("sb")
    val va  = n * col("saa") - col("sa") * col("sa")
    val vb  = n * col("sbb") - col("sb") * col("sb")
    m.select(col("type_a"), col("type_b"), col("n_hours"),
        when(va > 0 && vb > 0, cov / sqrt(va * vb)).as("corr"))
      .orderBy(col("type_a"), col("type_b"))
  }

  /** AUTOCORRELATION (ACF) of each event type's hourly-count series at
    * lags 1–3 — the serial-dependence diagnostic the forecasting family
    * (EWMA/Holt/seasonal-DOW) reads before choosing a model: a series
    * with acf₁ ≈ 0 doesn't need smoothing, one with a spike at the
    * daily lag wants the seasonal baseline. Computed over the ROW
    * sequence of the type's existing hourly buckets ordered by hour
    * (bucket-sequence ACF — the convention when the grid is near-dense;
    * the gap-fill spine operators own the dense-grid variant).
    *
    * Numerics: with integer counts, rₖ = Σ(xₜ−m)(xₜ₊ₖ−m) / Σ(xₜ−m)²
    * clears denominators exactly —
    * num·n² = n²·Pₖ − n·S·(Aₖ+Bₖ) + (n−k)·S², den·n² = n²·Q − n·S²
    * (Pₖ = Σxₜxₜ₊ₖ, Aₖ/Bₖ the lag-aligned partial sums, S/Q the full
    * sum and sum-of-squares). The six moments are exact LONG sums cast
    * to double once ([[corrMatrixHourly]]'s discipline); the num/den
    * products may round past 2⁵³, but both engines evaluate the
    * IDENTICAL IEEE expression tree on bit-identical inputs, so parity
    * holds and the statistic's loss is ~1 ulp. Zero variance → NULL.
    *
    * Scale shape: events collapse to (type, hour) first (map-side
    * combine); the three `lead`s share a single type-keyed window sort,
    * and the moment rollup is one aggregation over the hours × types
    * frame — time- and vocabulary-bounded, never event-proportional. */
  def acfByType(spark: SparkSession, sfDir: String): DataFrame = {
    val w = Window.partitionBy(col("event_type")).orderBy(col("hs"))
    val hourly = Tables.events(spark, sfDir)
      .groupBy(col("event_type"), expr("ts_ns div 3600000000000").as("hs"))
      .agg(count(lit(1)).as("c"))
    val lagged = hourly
      .withColumn("l1", lead(col("c"), 1).over(w))
      .withColumn("l2", lead(col("c"), 2).over(w))
      .withColumn("l3", lead(col("c"), 3).over(w))
    val m = lagged.groupBy(col("event_type")).agg(
      count(lit(1)).as("n_hours"),
      sum(col("c")).cast("double").as("s"),
      sum(col("c") * col("c")).cast("double").as("q"),
      sum(col("c") * col("l1")).cast("double").as("p1"),
      sum(when(col("l1").isNotNull, col("c"))).cast("double").as("a1"),
      sum(col("l1")).cast("double").as("b1"),
      sum(col("c") * col("l2")).cast("double").as("p2"),
      sum(when(col("l2").isNotNull, col("c"))).cast("double").as("a2"),
      sum(col("l2")).cast("double").as("b2"),
      sum(col("c") * col("l3")).cast("double").as("p3"),
      sum(when(col("l3").isNotNull, col("c"))).cast("double").as("a3"),
      sum(col("l3")).cast("double").as("b3"))
    def acf(k: Int): Column = {
      val n = col("n_hours").cast("double"); val s = col("s")
      val num = n * n * col(s"p$k") - n * s * (col(s"a$k") + col(s"b$k")) +
        (n - lit(k.toDouble)) * s * s
      val den = n * n * col("q") - n * s * s
      when(den =!= 0.0, num / den).as(s"acf_lag$k")
    }
    m.select(col("event_type"), col("n_hours"), acf(1), acf(2), acf(3))
      .orderBy(col("event_type"))
  }

  /** MARKET-BASKET ASSOCIATION RULES over co-ordered part brands —
    * support / confidence / lift for every directed brand pair appearing
    * in at least `minPairs` orders (the Agrawal-style rule report every
    * retail engine ships). The basket is the DISTINCT brand set of an
    * order; a brand repeated across an order's lines counts once.
    *
    * Numerics: all counts are exact longs; support and confidence are
    * single divisions of exact-to-double casts, and lift clears its
    * denominators first — (n_pairs·N)/(n_a·n_b), two exact BIGINT
    * products (bounded by pairs×orders, far under 2⁵³ at any registered
    * SF) and ONE division — so no association ambiguity exists.
    *
    * Scale shape: the brand dimension broadcasts into the lineitem scan;
    * the basket distinct and the pair self-join share the ONE order-keyed
    * exchange (pairs fan out only within an order: ≤ brands² per order,
    * brand-bounded, never corpus-quadratic); marginals and the order
    * count are brand- and 1-row-sized broadcasts onto the pair table. */
  def assocRulesBrands(spark: SparkSession, sfDir: String,
                       minPairs: Long = 10L): DataFrame = {
    val baskets = Tables.lineitem(spark, sfDir)
      .select(col("l_orderkey"), col("l_partkey"))
      .join(broadcast(Tables.part(spark, sfDir)
        .select(col("p_partkey"), col("p_brand"))),
        col("l_partkey") === col("p_partkey"))
      .select(col("l_orderkey").as("ok"), col("p_brand").as("brand"))
      .distinct()
    val nOrders = baskets.select(col("ok")).distinct()
      .agg(count(lit(1)).as("n_orders"))
    val marg = baskets.groupBy(col("brand")).agg(count(lit(1)).as("n_brand"))
    val pairs = baskets.select(col("ok"), col("brand").as("brand_a"))
      .join(baskets.select(col("ok"), col("brand").as("brand_b")), "ok")
      .filter(col("brand_a") =!= col("brand_b"))
      .groupBy(col("brand_a"), col("brand_b")).agg(count(lit(1)).as("n_pairs"))
      .filter(col("n_pairs") >= minPairs)
    pairs
      .join(broadcast(marg.select(col("brand").as("brand_a"),
        col("n_brand").as("n_a"))), "brand_a")
      .join(broadcast(marg.select(col("brand").as("brand_b"),
        col("n_brand").as("n_b"))), "brand_b")
      .crossJoin(broadcast(nOrders))
      .select(col("brand_a"), col("brand_b"), col("n_pairs"),
        col("n_a"), col("n_b"),
        (col("n_pairs").cast("double") / col("n_orders").cast("double"))
          .as("support"),
        (col("n_pairs").cast("double") / col("n_a").cast("double"))
          .as("confidence"),
        ((col("n_pairs") * col("n_orders")).cast("double") /
          (col("n_a") * col("n_b")).cast("double")).as("lift"))
      .orderBy(col("brand_a"), col("brand_b"))
  }

  /** Benford first-digit probabilities log₁₀(1 + 1/d), d = 1..9 — stated
    * as LITERALS (to the shortest round-trip double) rather than computed
    * via log10 at runtime: libm log10 is not guaranteed correctly rounded,
    * so JVM-vs-DuckDB evaluation could differ by an ulp; a literal both
    * sides quote cannot. */
  val BenfordP: Seq[Double] = Seq(
    0.3010299956639812, 0.17609125905568124, 0.12493873660829992,
    0.09691001300805642, 0.07918124604762482, 0.06694678963061322,
    0.05799194697768673, 0.05115252244738129, 0.04575749056067514)

  /** BENFORD'S-LAW first-digit screen over order totals — the
    * fraud/data-quality diagnostic for naturally-occurring amounts: the
    * leading digit of o_totalprice should follow log₁₀(1+1/d), and a
    * per-digit χ² contribution localizes where a synthetic or truncated
    * distribution deviates. Digits are extracted from the exact integer
    * cents' decimal string (integer-to-string is engine-identical;
    * float log10 bucketing near powers of ten is not); expected counts
    * and contributions are fixed double trees over exact inputs.
    * One corpus aggregate to 9 rows; the total broadcasts back. */
  def benfordFirstDigit(spark: SparkSession, sfDir: String): DataFrame = {
    val cents = round(col("o_totalprice") * lit(100.0)).cast("long")
    val d = Tables.orders(spark, sfDir)
      .select(substring(cents.cast("string"), 1, 1).cast("long").as("digit"))
      .groupBy(col("digit")).agg(count(lit(1)).as("n_obs"))
    val total = d.agg(sum(col("n_obs")).as("n_total"))
    val p = BenfordP.zipWithIndex.tail.foldLeft(
      when(col("digit") === 1, lit(BenfordP.head))) {
        case (acc, (pd, i)) => acc.when(col("digit") === (i + 1), lit(pd))
      }
    val obs = col("n_obs").cast("double")
    d.crossJoin(broadcast(total))
      .withColumn("expected", col("n_total").cast("double") * p)
      .select(col("digit"), col("n_obs"), col("expected"),
        ((obs - col("expected")) * (obs - col("expected")) / col("expected"))
          .as("contribution"))
      .orderBy(col("digit"))
  }

  /** CHI-SQUARE INDEPENDENCE TEST between event_type and the (epoch)
    * weekday — the categorical hypothesis-testing face of the analytics
    * family: per contingency cell, the observed count, the
    * independence-expected count rᵢc_j/N, and the cell's χ² contribution
    * (obs − exp)²/exp; every row also carries the table-level statistic
    * and its degrees of freedom (r−1)(c−1). Expected counts are single
    * double expressions over exact long totals; the STATISTIC is a
    * LEFT-TO-RIGHT fold over the (type, weekday)-sorted cell list — the
    * same ordered-fold discipline as the temperature mix's denominator,
    * because a plain double `sum` over cells would be partition-order-
    * dependent and unhashable.
    *
    * Scale shape: one map-side-combined groupBy to the CELL table (types ×
    * 7 rows); marginals are aggregates of cells, the fold's collect_list
    * sees only cells — all control-plane-sized regardless of event
    * volume. */
  /** A/B TWO-PROPORTION Z-TEST — the experimentation readout: users
    * split into arms by id parity (arms must be CONCURRENT, so the split
    * is a user property, never a time cut), per-user success = the
    * heavy-purchaser predicate `purchases·5 > events` (cross-multiplied
    * exact integers — the probe showed plain ≥1-purchase conversion
    * saturates at 100% on this corpus, a vacuous metric), then the
    * pooled two-proportion z on the arm counts. Counts are exact longs
    * off ONE user-keyed aggregate; the rates, lift, and z are a single
    * fixed double tree stated identically in the oracle (the Wilson-
    * bounds rule: identical association ⟹ bit-equal). Scale: user agg
    * partial-aggregates map-side; the arm rollup is 2 rows. */
  def abTestZtest(spark: SparkSession, sfDir: String): DataFrame = {
    val u = Tables.events(spark, sfDir)
      .groupBy(col("user_id"))
      .agg(count(when(col("event_type") === "purchase", 1)).as("np"),
           count(lit(1)).as("n"))
      .select((col("user_id") % 2).as("arm"),
              (col("np") * 5 > col("n")).cast("long").as("conv"))
    val arms = u.groupBy(col("arm"))
      .agg(count(lit(1)).as("nu"), sum(col("conv")).as("nc"))
    val one = arms.agg(
      sum(when(col("arm") === 0, col("nu"))).as("n0"),
      sum(when(col("arm") === 0, col("nc"))).as("c0"),
      sum(when(col("arm") === 1, col("nu"))).as("n1"),
      sum(when(col("arm") === 1, col("nc"))).as("c1"))
    val p0 = col("c0").cast("double") / col("n0").cast("double")
    val p1 = col("c1").cast("double") / col("n1").cast("double")
    val pp = (col("c0") + col("c1")).cast("double") /
      (col("n0") + col("n1")).cast("double")
    one.select(col("n0"), col("c0"), col("n1"), col("c1"),
      p0.as("p0"), p1.as("p1"), (p1 - p0).as("lift"),
      ((p0 - p1) / sqrt(pp * (lit(1.0) - pp) *
        (lit(1.0) / col("n0").cast("double") +
         lit(1.0) / col("n1").cast("double")))).as("z"))
  }

  /** OFFLINE CHANGE-POINT ESTIMATE per series — the retrospective
    * complement of the sequential CUSUM detectors (cusum_by_type pages
    * WHEN drift crosses a threshold; this answers WHERE the mean most
    * likely shifted, the single-changepoint CUSUM MLE): the event_id
    * maximizing |N·S_t − n_t·S_N| over the id-ordered cents prefix sums —
    * the classic max-CUSUM-deviation statistic with the n_t/N scaling
    * cross-multiplied away, so the whole search is EXACT integer
    * arithmetic (prefix sums are long, the products ride DECIMAL(38,0)
    * via (19,0) operands so Catalyst never takes the precision-loss
    * path); ties broken to the earliest id on both engines. One exchange
    * on the series key serves the running window, the whole-partition
    * totals, and the argmax window; the statistic crosses to the oracle
    * through the canonical decimal→string→double round-trip. */
  def changepointByType(spark: SparkSession, sfDir: String): DataFrame = {
    val wSeq = Window.partitionBy(col("event_type")).orderBy(col("event_id"))
    val wAll = Window.partitionBy(col("event_type"))
    val d19 = "decimal(19,0)"
    Tables.events(spark, sfDir)
      .select(col("event_type"), col("event_id"),
              expr("cast(round(value * 100) as bigint)").as("c"))
      .withColumn("n", row_number().over(wSeq).cast("long"))
      .withColumn("s",
        sum(col("c")).over(wSeq.rowsBetween(Window.unboundedPreceding, 0)))
      .withColumn("nn", count(lit(1)).over(wAll))
      .withColumn("ss", sum(col("c")).over(wAll))
      .withColumn("stat", abs(col("nn").cast(d19) * col("s").cast(d19) -
                              col("n").cast(d19) * col("ss").cast(d19)))
      .withColumn("mx", max(col("stat")).over(wAll))
      .filter(col("stat") === col("mx"))
      .groupBy(col("event_type"))
      .agg(min(col("event_id")).as("cp_id"),
           max(col("stat")).cast("string").cast("double").as("stat"))
      .orderBy(col("event_type"))
  }

  def chi2TypeWeekday(spark: SparkSession, sfDir: String): DataFrame = {
    val cells = Tables.events(spark, sfDir)
      .select(col("event_type"), expr("(ts_ns div 86400000000000) % 7").as("wd"))
      .groupBy(col("event_type"), col("wd")).agg(count(lit(1)).as("obs"))
    val rowT = cells.groupBy(col("event_type")).agg(sum(col("obs")).as("row_tot"))
    val colT = cells.groupBy(col("wd")).agg(sum(col("obs")).as("col_tot"))
    val tot  = cells.agg(sum(col("obs")).as("n_tot"))
    val withExp = cells.join(rowT, "event_type").join(colT, "wd")
      .crossJoin(broadcast(tot))
      .select(col("event_type"), col("wd"), col("obs"),
        (col("row_tot").cast("double") * col("col_tot").cast("double") /
          col("n_tot").cast("double")).as("exp"))
      .withColumn("contrib",
        (col("obs").cast("double") - col("exp")) *
          (col("obs").cast("double") - col("exp")) / col("exp"))
    val total = withExp.agg(
        sort_array(collect_list(struct(col("event_type"), col("wd"), col("contrib"))))
          .as("xs"),
        countDistinct(col("event_type")).as("r"),
        countDistinct(col("wd")).as("c"))
      .select(
        expr("aggregate(xs, CAST(0.0 AS DOUBLE), (acc, x) -> acc + x.contrib)")
          .as("chi2"),
        ((col("r") - 1) * (col("c") - 1)).as("dof"))
    withExp.crossJoin(broadcast(total))
      .select(col("event_type"), col("wd"), col("obs"), col("exp"),
              col("contrib"), col("chi2"), col("dof"))
      .orderBy(col("event_type"), col("wd"))
  }

  /** Markov transition matrix over per-user event sequences: for every
    * consecutive (ts, event_id)-ordered pair of events by the same user,
    * count the (from_type → to_type) transition and its row-normalized
    * probability. One hash exchange on user_id feeds the `lead` window; the
    * transition table is types² rows, so the normalizing window runs on an
    * aggregate-sized input. The probability is a single double division of
    * two exact longs — identical IEEE op on both engines. */
  def markovTransitions(spark: SparkSession, sfDir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts_ns"), col("event_id"))
    val pairs = Tables.events(spark, sfDir)
      .select(col("user_id"), col("event_type").as("from_type"),
              col("ts_ns"), col("event_id"))
      .withColumn("to_type", lead(col("from_type"), 1).over(w))
      .filter(col("to_type").isNotNull)
    val counts = pairs.groupBy(col("from_type"), col("to_type"))
      .agg(count(lit(1)).as("n"))
    val wf = Window.partitionBy(col("from_type"))
    counts
      .withColumn("p", col("n").cast("double") / sum(col("n")).over(wf).cast("double"))
      .orderBy(col("from_type"), col("to_type"))
  }

  /** The canonical (u < v, distinct) undirected nation trade edge list:
    * nations linked wherever some customer of one bought from a supplier of
    * the other. The four fact-table joins run once per caller (callers
    * cache the returned frame). */
  private def nationTradeEdges(spark: SparkSession, sfDir: String): DataFrame = {
    val li = Tables.lineitem(spark, sfDir).select(col("l_orderkey"), col("l_suppkey"))
    val o  = Tables.orders(spark, sfDir).select(col("o_orderkey"), col("o_custkey"))
    val c  = Tables.table(spark, sfDir, "customer").select(col("c_custkey"), col("c_nationkey"))
    val su = Tables.supplier(spark, sfDir).select(col("s_suppkey"), col("s_nationkey"))
    li.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(c, col("o_custkey") === col("c_custkey"))
      .join(su, col("l_suppkey") === col("s_suppkey"))
      .filter(col("c_nationkey") =!= col("s_nationkey"))
      .select(least(col("c_nationkey"), col("s_nationkey")).as("u"),
              greatest(col("c_nationkey"), col("s_nationkey")).as("v"))
      .distinct()
  }

  /** Canonical (u < v, distinct) USER CO-OCCURRENCE edge list over the
    * event stream: two users are linked wherever both were active in the
    * same minute. This is the graph family's scale witness — at sf0.1 it
    * has 1,500 nodes and ~110 k edges with degrees in the hundreds, a
    * cardinality where a quadratic wedge plan is measurably wrong (the
    * 25-node nation graph could not falsify that).
    *
    * Scale shape: pair generation is BUCKET-LOCAL — the self-join runs on
    * the minute key, so its output is Σ (distinct users in bucket)², bounded
    * by the event rate per window, never all-pairs over the user table. A
    * corpus whose single bucket is hot takes the same cap-before-pairs
    * discipline as LSH banding (Dedup.cappedBucketPairs); here the exact
    * form is oracle-stated. */
  private[graft] def userCoEdges(spark: SparkSession, sfDir: String): DataFrame = {
    val b = Tables.events(spark, sfDir)
      .select(col("user_id"), expr("ts_ns div 60000000000").as("w"))
      .distinct()
    b.select(col("w"), col("user_id").as("u"))
      .join(b.select(col("w"), col("user_id").as("v")), "w")
      .filter(col("u") < col("v"))
      .select(col("u"), col("v"))
      .distinct()
  }

  /** TRIANGLE COUNT over an undirected graph given as canonical (u < v)
    * edges, by DEGREE-ORDERED EDGE ORIENTATION: orient every edge from the
    * lower-(degree, id) endpoint to the higher, enumerate oriented wedges
    * a→b, b→c, and close them against the oriented edge a→c. Each triangle
    * is counted exactly once (its rank-ordered traversal), and orientation
    * bounds every node's out-degree by O(√|E|) on any graph — the standard
    * trick that keeps the wedge join from exploding on high-degree hubs (a
    * naive neighbor-pair enumeration is quadratic in the hub degree; the
    * judge of scale here is the WEDGE count, and orientation minimizes it —
    * [[wedgeStatsUsers]] measures exactly that gap on the user graph).
    * All joins are equi-joins on node keys; counts are exact integers.
    * The oracle states the naive canonical-edge 3-way join — same count. */
  /** The undirected degree table and the (degree, id)-ORIENTED edge table
    * of a canonical (u < v) edge list — orient u→v iff (deg(u), u) <
    * (deg(v), v). Held ONCE: [[triangleCountOf]] closes wedges over `dir`
    * and [[wedgeStatsUsers]] measures exactly that join's row count, so a
    * drift between two copies of the orientation rule would make the
    * witness measure a different join than the one executed. */
  private def orientedEdges(e: DataFrame): (DataFrame, DataFrame) = {
    val deg = e.select(col("u").as("n")).unionAll(e.select(col("v").as("n")))
      .groupBy(col("n")).agg(count(lit(1)).as("d"))
    val du = deg.select(col("n").as("u"), col("d").as("du"))
    val dv = deg.select(col("n").as("v"), col("d").as("dv"))
    val dir = e.join(du, "u").join(dv, "v")
      .select(when(col("du") < col("dv") ||
                   (col("du") === col("dv") && col("u") < col("v")),
                   struct(col("u").as("a"), col("v").as("b")))
                .otherwise(struct(col("v").as("a"), col("u").as("b"))).as("e"))
      .select(col("e.a").as("a"), col("e.b").as("b"))
    (deg, dir)
  }

  private def triangleCountOf(spark: SparkSession, eRaw: DataFrame): DataFrame =
      withWidth(spark, 8) {
    // the edge-building joins run ONCE: the canonical edge list is cached,
    // and the ORIENTED edge table — referenced by both wedge sides and the
    // closure — is cached too, so the degree joins run once, not thrice.
    // A cache the CALLER already placed is respected (Spark caching is not
    // reference-counted — unpersisting here would silently drop it under
    // the caller's remaining consumers; the lshComponentsOf convention)
    val callerCached = eRaw.storageLevel != org.apache.spark.storage.StorageLevel.NONE
    val e = if (callerCached) eRaw else eRaw.cache()
    val dir = orientedEdges(e)._2.cache()
    try {
      val wedges = dir.select(col("a"), col("b").as("m"))
        .join(dir.select(col("a").as("m"), col("b").as("c")), "m")
      val tri = wedges.join(dir.select(col("a"), col("b").as("c")), Seq("a", "c"), "left_semi")
      // collect the 1-row result locally so both caches can be released
      // immediately (no cached blocks survive the call)
      localize(spark, tri.agg(count(lit(1)).as("n_triangles"))
        .crossJoin(broadcast(e.agg(count(lit(1)).as("n_edges")))))
    } finally {
      dir.unpersist(blocking = false)
      if (!callerCached) e.unpersist(blocking = false)
    }
  }

  /** [[triangleCountOf]] over the nation trade graph (~25 nodes — the
    * correctness witness; the scale witness is [[triangleCountUsers]]). */
  def triangleCount(spark: SparkSession, sfDir: String): DataFrame =
    triangleCountOf(spark, nationTradeEdges(spark, sfDir))

  /** [[triangleCountOf]] over the user co-occurrence graph
    * ([[userCoEdges]]) — 1,500 nodes / ~110 k edges at sf0.1, large enough
    * that an unoriented (quadratic-in-degree) wedge plan is measurably
    * slower and the orientation bound does real work. */
  def triangleCountUsers(spark: SparkSession, sfDir: String): DataFrame =
    triangleCountOf(spark, userCoEdges(spark, sfDir))

  /** The WEDGE-COUNT witness for [[triangleCountOf]]'s orientation claim,
    * on the user co-occurrence graph: `wedges_naive` is what a naive
    * neighbor-pair enumeration joins (Σ_n d(n)·(d(n)−1)/2 over undirected
    * degrees); `wedges_oriented` is the EXACT row count of the oriented
    * wedge join [[triangleCountOf]] executes (Σ_m indeg(m)·outdeg(m) over
    * the (degree, id)-oriented edges). Both are closed forms over the
    * degree tables — node-sized aggregates, no wedge is materialized — so
    * the witness stays cheap at any scale while pinning the numbers the
    * scale argument cites. The oracle states both formulas. */
  def wedgeStatsUsers(spark: SparkSession, sfDir: String): DataFrame =
      withWidth(spark, 8) {
    val e = userCoEdges(spark, sfDir).cache()
    // the SAME orientation construction the triangle closure executes —
    // dir is cached: both per-node degree rollups below read it
    val (deg, dirRaw) = orientedEdges(e)
    val dir = dirRaw.cache()
    try {
      val naive = deg.agg(sum(expr("(d * (d - 1)) div 2")).as("wedges_naive"),
        count(lit(1)).as("n_nodes"))
      val oriented = dir.select(col("a").as("m")).groupBy(col("m"))
        .agg(count(lit(1)).as("outd"))
        .join(dir.select(col("b").as("m")).groupBy(col("m"))
          .agg(count(lit(1)).as("ind")), "m")
        .agg(sum(col("ind") * col("outd")).as("wedges_oriented"))
      localize(spark,
        e.agg(count(lit(1)).as("n_edges"))
          .crossJoin(broadcast(naive))
          .crossJoin(broadcast(oriented))
          .select(col("n_nodes"), col("n_edges"),
                  col("wedges_naive"), col("wedges_oriented")))
    } finally {
      dir.unpersist(blocking = false)
      e.unpersist(blocking = false)
    }
  }

  /** BFS SHORTEST HOPS over a directed edge list (undirected callers pass
    * both directions) — the fourth graph class (after CC, PageRank,
    * triangles): min-plus relaxation, unrolled `rounds` times (an unreached
    * node reports hops = -1 rather than a sentinel ∞; a node farther than
    * `rounds` is "unreached within the horizon", and the oracle states the
    * SAME unrolled relaxations, so the horizon is part of the registered
    * semantics, not slack). Each round joins the node-sized frontier to
    * the edge list partitioned on the join key and re-aggregates by min —
    * the label-propagation per-round profile; integer hop counts make
    * every round exact. */
  private def bfsOf(spark: SparkSession, nodesRaw: DataFrame, eRaw: DataFrame,
                    source: Long, rounds: Int, keyName: String): DataFrame = {
    // the edge list is cached PRE-PARTITIONED ON THE JOIN KEY (8 ways —
    // the rounds' width): keyed on x, the cached partitioning satisfies
    // each round's join requirement, so only the node-sized frontier moves
    // per round (the label-propagation co-partition discipline); the cache
    // is FORCED at the session's full width so the edge BUILD (the fact
    // joins upstream) keeps its parallelism — only the node-sized rounds
    // run narrowed (the r13 probe: 32-way task scheduling doubles
    // edge-sized stages, but starves the fact joins)
    val e = eRaw.repartition(8, col("x")).cache()
    val checkpointed = scala.collection.mutable.ListBuffer.empty[DataFrame]
    try {
      e.count() // materialize outside withWidth: the build runs wide
      withWidth(spark, 8) {
        val nodes = nodesRaw.select(col(nodesRaw.columns.head).as("node"))
        val init = nodes.select(col("node"),
          when(col("node") === source, lit(0L)).as("h")) // null = unreached
        def relax(d: DataFrame): DataFrame = {
          val cand = e.join(d.filter(col("h").isNotNull).withColumnRenamed("node", "x"), "x")
            .select(col("y").as("node"), (col("h") + 1L).as("nh"))
            .groupBy(col("node")).agg(min(col("nh")).as("nh"))
          d.join(cand, Seq("node"), "left")
            .select(col("node"), least(col("h"), col("nh")).as("h"))
        }
        // each round MATERIALIZES (eager localCheckpoint): the distance
        // table is node-sized, and truncating its lineage keeps every round
        // a shallow two-input plan instead of one rounds-deep tree the
        // adaptive planner re-optimizes stage by stage (measured 8.8→2.9 s
        // on the sf0.1 user graph). Rounds STOP at the fixpoint: BFS sets a
        // node's hop count exactly once (round k reaches exactly the
        // distance-k layer; least() never lowers a set value), so an
        // unchanged unreached-count means this and every later round is an
        // identical frame — the remaining relaxations are paid-for no-ops.
        // The unreached count is one aggregate over the just-checkpointed
        // node-sized blocks (~ms) vs a full edge-join round saved whenever
        // diameter < rounds; at any scale the check is node-sized, the
        // round edge-sized. Results are bit-identical by construction —
        // the oracle unrolls the full `rounds` relaxations and hash-matches
        // (r20; A/B numbers in OPTIMIZATION_r20.md).
        var finalD = init
        var prevUnreached = -1L
        var converged = false
        for (_ <- 1 to rounds if !converged) {
          val d = finalD
          val nd = relax(d).localCheckpoint(true)
          checkpointed += nd
          // the superseded round is dead the moment its successor
          // materializes — free it now, not at the end (never at round 1,
          // where d eq init: init's plan embeds nodesRaw, and a caller-
          // passed checkpoint-backed nodes frame must not be freed
          // mid-query — the r19 advice's latent-unpersist guard)
          if (!(d eq init))
            org.apache.spark.sql.graftbridge.ColumnBridge.checkpointRdd(d)
              .foreach(_.unpersist(blocking = false))
          finalD = nd
          val unreached = nd.filter(col("h").isNull).count()
          if (unreached == prevUnreached) converged = true
          prevUnreached = unreached
        }
        // detach the node-sized result (eager executor-side checkpoint, no
        // driver trip — the result is USER-cardinality on the user graph)
        // so every upstream cached block — edge cache AND round
        // checkpoints — can be released in the finally before returning
        detach(finalD
          .select(col("node").as(keyName), coalesce(col("h"), lit(-1L)).as("hops"))
          .orderBy(col(keyName)))
      }
    } finally {
      e.unpersist(blocking = false)
      // Dataset.unpersist doesn't reach checkpoint blocks — free the RDDs
      checkpointed.foreach(d =>
        org.apache.spark.sql.graftbridge.ColumnBridge.checkpointRdd(d)
          .foreach(_.unpersist(blocking = false)))
    }
  }

  /** [[bfsOf]] from nation 0 over the undirected trade graph, 4 rounds
    * (the dense trade graph's diameter is ≤ 2 at every shipped SF;
    * 4 = diameter + safety). The oracle unrolls the same four
    * relaxations. */
  def bfsHops(spark: SparkSession, sfDir: String, source: Long = 0L): DataFrame = {
    val li = Tables.lineitem(spark, sfDir).select(col("l_orderkey"), col("l_suppkey"))
    val o  = Tables.orders(spark, sfDir).select(col("o_orderkey"), col("o_custkey"))
    val c  = Tables.table(spark, sfDir, "customer").select(col("c_custkey"), col("c_nationkey"))
    val su = Tables.supplier(spark, sfDir).select(col("s_suppkey"), col("s_nationkey"))
    val half = li.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(c, col("o_custkey") === col("c_custkey"))
      .join(su, col("l_suppkey") === col("s_suppkey"))
      .filter(col("c_nationkey") =!= col("s_nationkey"))
      .select(col("c_nationkey").as("x"), col("s_nationkey").as("y"))
      .distinct()
    val e = half.unionAll(half.select(col("y").as("x"), col("x").as("y"))).distinct()
    bfsOf(spark,
      Tables.table(spark, sfDir, "nation").select(col("n_nationkey")),
      e, source, rounds = 4, "nation_key")
  }

  /** [[bfsOf]] over the user co-occurrence graph from the SMALLEST user id
    * (a deterministic source both engines can state), 6 rounds — the scale
    * witness for the frontier-relaxation rounds: at sf0.1 each round joins
    * a growing frontier against 220k directed edges, where the nation
    * graph's 50-edge rounds could not expose a wrong join shape. Sparse
    * SFs leave some users unreached (-1), so the null-frontier and
    * missing-min paths are exercised, not just the dense happy path. */
  def bfsHopsUsers(spark: SparkSession, sfDir: String): DataFrame = {
    val ce = userCoEdges(spark, sfDir)
    val e = ce.select(col("u").as("x"), col("v").as("y"))
      .unionAll(ce.select(col("v").as("x"), col("u").as("y")))
    val nodes = Tables.events(spark, sfDir).select(col("user_id")).distinct()
    // control-plane: the deterministic source (one scalar); an empty
    // corpus has no source and the result is empty regardless
    val srcRow = nodes.agg(min(col("user_id"))).head()
    val source = if (srcRow.isNullAt(0)) -1L else srcRow.getLong(0)
    bfsOf(spark, nodes, e, source, rounds = 6, "user_id")
  }

  /** CONNECTED COMPONENTS over the user co-occurrence graph — the fourth
    * algorithm run at the falsifying cardinality (1,500 nodes / 110k edges
    * at sf0.1), completing the user-graph family next to triangles,
    * PageRank, and BFS. The component core is SHARED with the dedup
    * cluster machinery ([[Dedup.lshComponentsOf]]: min-label propagation +
    * pointer jumping, O(log diameter) rounds, checkpoint-truncated
    * lineage) — one implementation, two falsifiable witnesses (sparse LSH
    * dup-graph there, dense co-occurrence graph here). Users that never
    * co-occur with anyone are absent from the edge list and surface as
    * SINGLETON components (label = own id) through the left join, so the
    * output covers every user, matching the oracle's node table. The
    * oracle unrolls PLAIN min-label propagation (no pointer jumping) for a
    * fixed 8 rounds — the two converge to the same fixpoint whenever every
    * node sits within 8 hops of its component's minimum (held at both
    * shipped SFs; the Spark side runs to detected convergence, so only the
    * ORACLE carries the horizon). */
  def ccUsers(spark: SparkSession, sfDir: String): DataFrame = {
    val labels = Dedup.lshComponentsOf(
      userCoEdges(spark, sfDir).select(col("u").as("doc_a"), col("v").as("doc_b")))
    val nodes = Tables.events(spark, sfDir).select(col("user_id")).distinct()
    nodes.join(
        labels.select(col("doc_id").as("user_id"), col("component")),
        Seq("user_id"), "left")
      .select(col("user_id"),
        coalesce(col("component"), col("user_id")).as("component"))
      .orderBy(col("user_id"))
  }

  /** RFM SEGMENTATION: per user, Recency (days since last event, relative
    * to the corpus max so the result is replay-stable), Frequency (event
    * count) and Monetary (exact decimal Σ value), each quartile-scored
    * with `ntile(4)` (deterministic tiebreak on user_id; recency ranked
    * DESC so the most recent users score 4).
    *
    * Scale shape: the event stream collapses to the per-user aggregate
    * first (one shuffle, map-side combined); the corpus max rides a 1-row
    * broadcast; the ntile windows then rank the USER table, which is
    * aggregate-sized here. At billion-user scale the global ntile sort
    * becomes the bottleneck — the scale path is [[rfmSegmentsApprox]]'s
    * broadcast quantile cutpoints (registered under its own oracle); this
    * exact form stays as the oracle-strongest witness. */
  def rfmSegments(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.events(spark, sfDir)
      .select(col("user_id"), expr("ts_ns div 1000").as("us"),
              col("value").cast("decimal(18,2)").as("v"))
    val perUser = ev.groupBy(col("user_id"))
      .agg(max(col("us")).as("last_us"), count(lit(1)).as("f"), sum(col("v")).as("m"))
    // corpus max = max over the per-user maxima: derived from the aggregate,
    // so the raw event stream is scanned exactly once
    val corpusMax = perUser.agg(max(col("last_us")).as("corpus_us"))
    perUser.crossJoin(broadcast(corpusMax))
      .withColumn("r_days", expr("(corpus_us - last_us) div 86400000000"))
      .select(col("user_id"), col("r_days"), col("f"), col("m").cast("double").as("m"),
        ntile(4).over(Window.orderBy(col("r_days").desc, col("user_id")))
          .cast("long").as("r_score"),
        ntile(4).over(Window.orderBy(col("f"), col("user_id")))
          .cast("long").as("f_score"),
        ntile(4).over(Window.orderBy(col("m"), col("user_id")))
          .cast("long").as("m_score"))
      .orderBy(col("user_id"))
  }

  /** RFM segmentation by BROADCAST QUANTILE CUTPOINTS — the scale path that
    * retires [[rfmSegments]]'s global `ntile` sort: the three 25/50/75%
    * cutpoints per metric come from ONE `percentile_approx` aggregate over
    * the per-user table (a constant-size mergeable sketch — the
    * Greenwald–Khanna summary — map-side combined, never a global sort),
    * and each user's score is then 1 + the number of cutpoints its value
    * exceeds, computed against the 1-row broadcast. At billion-user scale
    * this exchanges O(sketch) bytes where ntile exchanges the whole user
    * table through a single sorted partition.
    *
    * Two deliberate differences from the exact form, stated identically in
    * the oracle: ties at a boundary land in the same class (boundary
    * semantics, vs ntile's equal-count classes), and recency is scored in
    * HOURS (days collapse to 0 on this corpus — every class boundary would
    * tie). At the shipped SFs the user count is far below the sketch
    * accuracy (10 000), where the GK summary is lossless, so the cutpoints
    * equal DuckDB's `quantile_disc` exactly and the hash gate pins the
    * whole chain; at scale the cutpoints drift within 1/accuracy rank
    * error, which is the documented trade. Recency scores 4 at/below the
    * 25th percentile (most recent), 1 above the 75th. */
  def rfmSegmentsApprox(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.events(spark, sfDir)
      .select(col("user_id"), expr("ts_ns div 1000").as("us"),
              col("value").cast("decimal(18,2)").as("v"))
    val perUser = ev.groupBy(col("user_id"))
      .agg(max(col("us")).as("last_us"), count(lit(1)).as("f"), sum(col("v")).as("m"))
    val corpusMax = perUser.agg(max(col("last_us")).as("corpus_us"))
    val base = perUser.crossJoin(broadcast(corpusMax))
      .select(col("user_id"),
              expr("(corpus_us - last_us) div 3600000000").as("r_hours"),
              col("f"), col("m").cast("double").as("m"))
    val cuts = base.agg(
      expr("percentile_approx(r_hours, array(0.25, 0.5, 0.75), 10000)").as("rc"),
      expr("percentile_approx(f, array(0.25, 0.5, 0.75), 10000)").as("fc"),
      expr("percentile_approx(m, array(0.25, 0.5, 0.75), 10000)").as("mc"))
    def above(v: Column, c: Column): Column =
      (v > c(0)).cast("long") + (v > c(1)).cast("long") + (v > c(2)).cast("long")
    base.crossJoin(broadcast(cuts))
      .select(col("user_id"), col("r_hours"), col("f"), col("m"),
        (lit(4L) - above(col("r_hours"), col("rc"))).as("r_score"),
        (lit(1L) + above(col("f"), col("fc"))).as("f_score"),
        (lit(1L) + above(col("m"), col("mc"))).as("m_score"))
      .orderBy(col("user_id"))
  }

  /** STRING-SIMILARITY JOIN: all supplier-name pairs within edit distance 1,
    * via DELETION-NEIGHBORHOOD banding (the SymSpell/symmetric-delete
    * construction): each name emits its identity plus every single-character
    * deletion as signatures, and any two strings within edit distance 1
    * provably share a signature — equal strings share the identity, a
    * substitution shares the deletion at the substituted position, an
    * insertion/deletion pair shares the shorter string itself. Candidates
    * come ONLY from signature-bucket co-membership (an equi-join —
    * never the quadratic cross product the oracle states), dedupe before
    * the levenshtein verify, and the verify filters banding's false
    * positives (distance-2 pairs sharing a signature).
    *
    * Scale shape: signatures per string = length+1 (bounded, short keys);
    * bucket sizes follow near-identical-name cluster sizes, absorbed by
    * the join's hash partitioning. The generalization to distance k emits
    * all ≤k-deletion variants (the same pigeonhole argument); k=1 keeps
    * the signature blowup linear. */
  def fuzzyJoinEditDist1(spark: SparkSession, sfDir: String): DataFrame =
    fuzzyJoinEditDist1Of(Tables.supplier(spark, sfDir)
      .select(col("s_suppkey"), col("s_name")))

  /** [[fuzzyJoinEditDist1]] over any (s_suppkey, s_name) frame — the
    * testable core (AnalyticsSpec's randomized recall property drives it
    * with generated edit pairs). */
  def fuzzyJoinEditDist1Of(s: DataFrame): DataFrame =
    fuzzyPairsOf(s).orderBy(col("a_key"), col("b_key"))

  /** Hot-bucket cap for the deletion-neighborhood signature join — the
    * dedup family's cap-before-pair-generation discipline ([[Dedup]]'s
    * `MaxLshBucketSize`) applied to [[fuzzyPairsOf]]: a signature bucket
    * larger than this generates NO pairs instead of a quadratic blowup.
    * Sized far above any fixture bucket (sf0.1 max is measured in the
    * tens on BOTH gated inputs — [[fuzzyBucketStats]] instruments the
    * supplier-name form, [[fuzzyBucketStatsParts]] the ER part-name
    * form) so shipped results are cap-invariant; on open-vocabulary
    * input the drop is visible in the stats queries, never a silent
    * recall loss. The gate oracles deliberately state the UNCAPPED
    * definition: if a fixture ever grows a bucket past the cap, the
    * gate fails loudly instead of both sides silently agreeing on a
    * lossy answer. */
  private[graft] val MaxFuzzyBucketSize = 1024

  /** The per-name deletion-neighborhood signature rows: identity plus
    * every single-character deletion, distinct per name — the shared
    * input of the pair generator and the bucket-stats observability
    * query (the lshBandRowsOf convention). */
  private[graft] def fuzzySigsOf(s: DataFrame): DataFrame =
    s.select(col("s_suppkey"), col("s_name"),
      explode(array_union(array(col("s_name")),
        expr("transform(sequence(0, length(s_name) - 1), " +
             "i -> concat(substring(s_name, 1, i), substring(s_name, i + 2)))")))
        .as("sig"))

  /** The UNSORTED fuzzy-pair core — [[fuzzyJoinEditDist1Of]] minus the
    * presentation sort, for consumers that immediately destroy order
    * (the ER pipeline's connected components caches and repartitions the
    * pairs; a sort before that is a dead wide exchange — the
    * lshComponentsOf convention). Buckets are capped BEFORE pair
    * generation ([[MaxFuzzyBucketSize]]); singleton buckets are pruned in
    * the same pass (they can emit no pair, so dropping them only shrinks
    * the join input). */
  private[graft] def fuzzyPairsOf(s: DataFrame,
                                  maxBucketSize: Int = MaxFuzzyBucketSize): DataFrame = {
    // ONE cap implementation in the repo: Dedup.cappedBucketPairs (the
    // LSH/SimHash families' collect_list pair generator — window-capped
    // buckets, no B² self-join re-expansion), fed (key, name) as the
    // item struct
    val exploded = fuzzySigsOf(s)
      .select(struct(col("s_suppkey").as("doc_id"), col("s_name").as("nm")).as("item"),
              col("sig"))
    // dist stated ONCE as a column (r17 verdict nit: the old
    // filter-then-project form wrote levenshtein twice); filtering BEFORE
    // the distinct also shrinks its shuffle to the true edit-dist-1 pairs
    // instead of every bucket-cohabiting candidate. The distinct key set is
    // unchanged: (a_key, b_key) functionally determine both names.
    Dedup.cappedBucketPairs(exploded, Seq(col("sig")), maxBucketSize)
      .select(col("a.doc_id").as("a_key"), col("b.doc_id").as("b_key"),
              levenshtein(col("a.nm"), col("b.nm")).cast("long").as("dist"))
      .filter(col("dist") <= 1)
      .distinct()
  }

  /** Observability for [[MaxFuzzyBucketSize]] (the Dedup `lshBucketStats`
    * convention): over the supplier-name signature blocks, the candidate
    * (2+-member) bucket count, the largest bucket, and how many buckets /
    * member names the cap would drop. One narrow aggregation over the
    * signature rows — strictly cheaper than the pair join it instruments;
    * at 100 TB a spike in n_dropped_memberships means a name flood the
    * upstream exact collapse had better be absorbing, and this query is
    * how an operator SEES that instead of guessing. */
  def fuzzyBucketStats(spark: SparkSession, sfDir: String,
                       maxBucketSize: Int = MaxFuzzyBucketSize): DataFrame =
    fuzzyBucketStatsOf(Tables.supplier(spark, sfDir)
      .select(col("s_suppkey"), col("s_name")), maxBucketSize)

  /** [[fuzzyBucketStats]] over the ENTITY-RESOLUTION input — the collapsed
    * distinct part names [[entityResolutionParts]] actually bands — so the
    * cap's headroom is observable on every gated consumer of
    * [[fuzzyPairsOf]], not just the supplier join (r17 review: the ER
    * input previously had no observable at all). */
  def fuzzyBucketStatsParts(spark: SparkSession, sfDir: String,
                            maxBucketSize: Int = MaxFuzzyBucketSize): DataFrame =
    fuzzyBucketStatsOf(collapsedPartNames(spark, sfDir)
      .select(col("nid").as("s_suppkey"), col("p_name").as("s_name")), maxBucketSize)

  /** The ER pipeline's exact name collapse — ONE definition shared by
    * [[entityResolutionParts]] and [[fuzzyBucketStatsParts]], so the cap
    * observable provably instruments the very frame the resolver bands
    * (a normalization change here reaches both or neither). */
  private def collapsedPartNames(spark: SparkSession, sfDir: String): DataFrame =
    Tables.table(spark, sfDir, "part")
      .select(col("p_partkey"), col("p_name"))
      .groupBy(col("p_name"))
      .agg(min(col("p_partkey")).as("nid"))

  /** [[fuzzyBucketStats]] over any (s_suppkey, s_name) frame — the
    * testable core (AnalyticsSpec drives it with a synthetic hot block
    * to witness the cap engaging). `n_dropped_memberships` counts bucket
    * MEMBERSHIPS, not distinct names: a name whose signatures land in two
    * over-cap buckets contributes twice (the honest unit — each dropped
    * membership is one lost pairing opportunity). */
  private[graft] def fuzzyBucketStatsOf(s: DataFrame, maxBucketSize: Int): DataFrame =
    fuzzySigsOf(s)
      .groupBy(col("sig")).agg(count(lit(1)).as("freq"))
      .filter(col("freq") >= 2)
      .agg(count(lit(1)).as("n_candidate_buckets"),
        coalesce(max(col("freq")), lit(0L)).as("max_bucket"),
        coalesce(sum(when(col("freq") > maxBucketSize, lit(1L)).otherwise(lit(0L))),
          lit(0L)).as("n_dropped_buckets"),
        coalesce(sum(when(col("freq") > maxBucketSize, col("freq")).otherwise(lit(0L))),
          lit(0L)).as("n_dropped_memberships"))

  /** FIXED-POINT PAGERANK (3 iterations, damping 0.85) over the nation
    * trade graph: a directed edge src→dst wherever some customer of nation
    * src bought from a supplier of nation dst (distinct over the
    * lineitem⋈orders⋈customer⋈supplier trade). The iterative-propagation
    * algorithm class beyond [[Dedup]]'s connected components — WEIGHTED
    * mass moves along edges, not just labels.
    *
    * Determinism: ranks live in integer PARTS-PER-BILLION (1.0 = 1e9) and
    * every step is integer arithmetic — contribution = rank div out_degree,
    * damping = (Σ·85) div 100 — so the result is exact and
    * partition-order-free (a float PageRank's Σ contributions would differ
    * in ulps run to run and could never hash-match an oracle). Dangling
    * nodes simply leak their mass (no redistribution), identically stated
    * on both sides.
    *
    * Scale shape: the heavy part is building the edge list (fact-table
    * joins + distinct); each iteration joins the node-sized rank table to
    * the edge list partitioned by src and re-aggregates by dst — the same
    * per-round profile as label propagation, O(iterations) rounds, with
    * map-side combine on the contribution sum. Spark analysis cost per
    * unrolled iteration is constant; for many-iteration runs checkpoint
    * truncation applies as in connected components. */
  private def pagerankOf(spark: SparkSession, nodesRaw: DataFrame,
                         edgesRaw: DataFrame, keyName: String): DataFrame = {
    // the edge-building joins run ONCE, at the session's FULL width (the
    // fact joins want the parallelism — only the node-sized iterations run
    // narrowed), cached PRE-PARTITIONED ON THE ITERATION JOIN KEY so each
    // step moves only the node-sized rank table, never the edges
    val edges = edgesRaw.repartition(8, col("src")).cache()
    val checkpointed = scala.collection.mutable.ListBuffer.empty[DataFrame]
    try {
      edges.count() // materialize outside withWidth: the build runs wide
      withWidth(spark, 8) {
        val nodes = nodesRaw.select(col(nodesRaw.columns.head).as("node"))
        // per-step recompute from the 8-partition edge cache is CHEAPER
        // than a materialized copy here: inlined, the planner overlaps the
        // degree aggregate with the rank join's exchange (probed — a
        // localCheckpoint'ed outDeg measured ~2× slower per iteration)
        val outDeg = edges.groupBy(col("src")).agg(count(lit(1)).as("deg"))
        val n = nodes.count() // control-plane: node count
        // an empty corpus has no nodes and the result is empty regardless
        // (the bfsHopsUsers guard — without it, base = 0.15/N divides by 0
        // where the oracle yields an empty set)
        if (n == 0) {
          // 0 rows by construction — control-plane, localize's contract
          localize(spark, nodes
            .select(col("node").as(keyName), col("node").as("rank_ppb")))
        } else {
          val base = 150000000L / n // 0.15 / N in ppb, integer-exact
          val init = nodes.select(col("node"), lit(1000000000L / n).as("r"))
          def step(ranks: DataFrame): DataFrame = {
            val inc = edges
              .join(ranks.withColumnRenamed("node", "src"), "src")
              .join(outDeg, "src")
              .select(col("dst").as("node"), expr("r div deg").as("contrib"))
              .groupBy(col("node")).agg(sum(col("contrib")).as("inc"))
            // eager localCheckpoint per iteration: the rank table is
            // node-sized, and truncating its lineage keeps every iteration
            // a shallow plan instead of one deep tree (bfsOf's measured fix).
            // The spine is RANKS, not nodes: every step preserves the full
            // node set (init seeds it; the left join never drops a row), so
            // re-joining `nodes` here re-evaluated its whole upstream scan +
            // distinct once per step — ranks is the same node set already
            // materialized in checkpoint blocks (the bfsOf/labelPropOf
            // rounds were always self-spined; pagerank was the odd one out)
            val nd = ranks.join(inc, Seq("node"), "left")
              .select(col("node"),
                      (lit(base) + expr("coalesce(inc, 0) * 85 div 100")).as("r"))
              .localCheckpoint(true)
            checkpointed += nd
            // free the superseded iteration's blocks now — but never at
            // step 1, where ranks eq init: init's plan embeds nodesRaw, and
            // the collectFirst would free a CALLER-passed checkpoint-backed
            // nodes frame mid-query (r19 advice; both current callers pass
            // plain scans, this guards the contract)
            if (!(ranks eq init))
              org.apache.spark.sql.graftbridge.ColumnBridge.checkpointRdd(ranks)
                .foreach(_.unpersist(blocking = false))
            nd
          }
          // the node-sized RESULT is eagerly checkpointed executor-side
          // while the edge cache is alive; later actions (Verify's write,
          // Bench's count) read the lineage-free blocks, never the released
          // edge lineage — and nothing data-sized ever crosses the driver
          // (on the user graph this result is USER-cardinality)
          detach(step(step(step(init)))
            .select(col("node").as(keyName), col("r").as("rank_ppb"))
            .orderBy(col(keyName)))
        }
      }
    } finally {
      edges.unpersist(blocking = false)
      // Dataset.unpersist doesn't reach checkpoint blocks — free the RDDs
      checkpointed.foreach(d =>
        org.apache.spark.sql.graftbridge.ColumnBridge.checkpointRdd(d)
          .foreach(_.unpersist(blocking = false)))
    }
  }

  /** [[pagerankOf]] over the directed nation trade graph (src buys from
    * dst; ~25 nodes — the correctness witness). */
  def pagerankNations(spark: SparkSession, sfDir: String): DataFrame = {
    val li = Tables.lineitem(spark, sfDir).select(col("l_orderkey"), col("l_suppkey"))
    val o  = Tables.orders(spark, sfDir).select(col("o_orderkey"), col("o_custkey"))
    val c  = Tables.table(spark, sfDir, "customer").select(col("c_custkey"), col("c_nationkey"))
    val su = Tables.supplier(spark, sfDir).select(col("s_suppkey"), col("s_nationkey"))
    val edges = li.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(c, col("o_custkey") === col("c_custkey"))
      .join(su, col("l_suppkey") === col("s_suppkey"))
      .select(col("c_nationkey").as("src"), col("s_nationkey").as("dst"))
      .distinct()
    pagerankOf(spark,
      Tables.table(spark, sfDir, "nation").select(col("n_nationkey")),
      edges, "nation_key")
  }

  /** [[pagerankOf]] over the SYMMETRIZED user co-occurrence graph
    * ([[userCoEdges]], both directions) — the scale witness: 1,500 nodes /
    * ~220 k directed edges at sf0.1, where each iteration's
    * rank-join-reaggregate round runs on a real (not toy) key
    * distribution. Isolated users (never co-active with anyone) hold the
    * teleport base; mass crossing a missing edge leaks, identically stated
    * in the oracle. */
  def pagerankUsers(spark: SparkSession, sfDir: String): DataFrame = {
    val e = userCoEdges(spark, sfDir)
    val edges = e.select(col("u").as("src"), col("v").as("dst"))
      .unionAll(e.select(col("v").as("src"), col("u").as("dst")))
    val nodes = Tables.events(spark, sfDir).select(col("user_id")).distinct()
    pagerankOf(spark, nodes, edges, "user_id")
  }

  /** Bounded min-k buffer over (md5-hex, id) pairs, ascending — the
    * bottom-k-by-hash half of [[TopK.TopKAgg]]'s pattern: at most k
    * elements per group ever exist in the buffer, merged map-side. */
  private[operators] case class BottomKAgg(k: Int)
      extends Aggregator[(String, Long), List[(String, Long)], List[(String, Long)]] {
    private def lt(a: (String, Long), b: (String, Long)): Boolean =
      a._1 < b._1 || (a._1 == b._1 && a._2 < b._2)
    private def insert(buf: List[(String, Long)], x: (String, Long)): List[(String, Long)] = {
      val merged = (x :: buf).sortWith(lt)
      if (merged.length > k) merged.take(k) else merged
    }
    def zero: List[(String, Long)] = Nil
    def reduce(b: List[(String, Long)], a: (String, Long)): List[(String, Long)] = insert(b, a)
    def merge(a: List[(String, Long)], b: List[(String, Long)]): List[(String, Long)] =
      b.foldLeft(a)(insert)
    def finish(r: List[(String, Long)]): List[(String, Long)] = r
    def bufferEncoder: Encoder[List[(String, Long)]] = Encoders.kryo[List[(String, Long)]]
    def outputEncoder: Encoder[List[(String, Long)]] = Encoders.kryo[List[(String, Long)]]
  }

  /** Deterministic uniform k-sample per event_type: rank every event by
    * md5(event_id) and keep the k hash-smallest — a reproducible,
    * engine-portable "random" sample (md5 is the cross-engine-stable
    * pseudo-randomizer the dedup/sampling family already relies on).
    *
    * Scale shape: bottom-k-by-hash through the bounded [[BottomKAgg]]
    * buffer — O(k) state per group, merged map-side — NOT a
    * `row_number().over(...)` window, which would sort every group's full
    * contents; the same trick extends to bottom-k sketches for distinct
    * counting. The oracle states the equivalent ranking SQL, so the gate
    * proves bounded-buffer ≡ full-sort semantics. */
  def bottomKSample(spark: SparkSession, sfDir: String, k: Int = 5): DataFrame = {
    import spark.implicits._
    Tables.events(spark, sfDir)
      .select(col("event_type"), md5(col("event_id").cast("string")).as("h"),
              col("event_id"))
      .as[(String, String, Long)]
      .groupByKey(_._1)
      .mapValues(t => (t._2, t._3))
      .agg(BottomKAgg(k).toColumn.name("bk"))
      .flatMap { case (et, picks) =>
        picks.zipWithIndex.map { case ((h, id), i) => (et, (i + 1).toLong, id, h) }
      }
      .toDF("event_type", "rn", "event_id", "h")
      .orderBy(col("event_type"), col("rn"))
  }

  /** Daily conversion rate with WILSON 95%-style confidence bounds (z = 2,
    * chosen exact-in-binary like ewma's α) — the uncertainty-aware metric
    * an A/B dashboard actually plots: a 3-event day with one purchase is
    * NOT a 33% conversion story, and the interval says so. All inputs are
    * exact longs from one map-side-combinable daily aggregate; the Wilson
    * algebra — center (p + z²/2n)/(1 + z²/n), half-width
    * z·√(p(1−p)/n + z²/4n²)/(1 + z²/n) — is a FIXED double expression
    * tree (division and sqrt are single correctly-rounded IEEE ops) that
    * the oracle states with the identical association, so the gate is
    * bit-exact. One shuffle; result is days-sized. */
  def conversionRateWilson(spark: SparkSession, sfDir: String): DataFrame = {
    val DayUs = 86400000000L
    val n = col("n_events").cast("double")
    val p = col("n_purchases").cast("double") / n
    val denom = lit(1.0) + lit(4.0) / n
    val center = (p + lit(2.0) / n) / denom
    val half = lit(2.0) *
      sqrt(p * (lit(1.0) - p) / n + lit(1.0) / (n * n)) / denom
    Tables.events(spark, sfDir)
      .groupBy(expr(s"(ts_ns div 1000) div $DayUs").as("day"))
      .agg(count(lit(1)).cast("long").as("n_events"),
           sum(when(col("event_type") === "purchase", 1L).otherwise(0L))
             .cast("long").as("n_purchases"))
      .select(col("day"), col("n_events"), col("n_purchases"),
              p.as("p"), (center - half).as("lo"), (center + half).as("hi"))
      .orderBy(col("day"))
  }

  /** SEASONAL day-of-week baseline + residuals — the seasonality component
    * the forecasting family (EWMA, Holt, CUSUM) lacked: weekly traffic has
    * a strong DOW cycle, and an anomaly detector that compares Monday to
    * the all-days mean pages someone every Monday. Per (type, epoch-day %
    * 7), the mean daily total is the baseline; each day reports its
    * residual against its own weekday. The "seasonal naive" forecast for
    * any future day is its weekday's mean — the standard-baseline model
    * every fancier seasonal method must beat.
    *
    * Numerics: exact decimal daily totals; the weekday mean is one
    * double division of the dd-crossed window sum by the window count;
    * the residual is one double subtraction — all single correctly-
    * rounded ops the oracle states identically. Scale shape: one corpus
    * groupBy, then one window over the (types × days) frame partitioned
    * by (type, dow) — control-plane-sized, no joins. */
  /** The SHARED seasonal spine: per (event_type, day) exact decimal daily
    * total + the (type, dow)-window baseline mean — the one copy both the
    * residual report ([[seasonalDowResiduals]]) and the residual CUSUM
    * ([[graft.operators.StatefulQueries.cusumSeasonalResiduals]]) compose
    * over, so the baseline can never silently diverge between them. */
  def seasonalSpine(spark: SparkSession, sfDir: String): DataFrame = {
    val DayNs = 86400000000000L
    val w = Window.partitionBy(col("event_type"), col("dow"))
    Tables.events(spark, sfDir)
      .groupBy(col("event_type"), expr(s"ts_ns div $DayNs").as("day"))
      .agg(sum(col("value").cast("decimal(18,2)")).as("td"))
      .withColumn("dow", col("day") % 7)
      .withColumn("dow_mean",
        sum(col("td")).over(w).cast("double") / count(lit(1)).over(w))
  }

  def seasonalDowResiduals(spark: SparkSession, sfDir: String): DataFrame =
    seasonalSpine(spark, sfDir)
      .select(col("event_type"), col("day"), col("dow"),
        col("td").cast("double").as("total"), col("dow_mean"),
        (col("td").cast("double") - col("dow_mean")).as("residual"))
      .orderBy(col("event_type"), col("day"))

  /** Robust outlier days via MEDIAN / MAD (median absolute deviation) —
    * the distribution-free complement to q12a's mean/stddev z-score: a
    * single broken day cannot drag the center the way it drags a mean, so
    * the detector still fires when a quarter of the days are bad. Flags
    * days whose daily total deviates from the per-type median by more than
    * `k`× the MAD.
    *
    * Numerics: daily totals are exact DECIMAL(18,2) sums crossed to double
    * once (correctly rounded); both medians use the sort-based exact
    * `percentile` whose linear interpolation is pinned bit-identical to
    * `quantile_cont` by q33's gate; the flag is a strict `>` on
    * identically-derived doubles.
    *
    * Scale shape: ONE corpus-sized map-side-combinable groupBy collapses
    * events to a (types × days) table; both medians are then WINDOW
    * aggregates over that bounded frame sharing a single event_type
    * exchange — no joins, and the corpus is scanned exactly once (the
    * join formulation inlined the daily aggregate into four scans).
    * The `percentile` buffer is bounded by distinct daily totals per
    * type (≤ days), never by event rows. */
  def madAnomalyDaily(spark: SparkSession, sfDir: String,
                      k: Double = 3.0): DataFrame = {
    val DayNs = 86400000000000L
    Tables.events(spark, sfDir)
      .groupBy(col("event_type"), expr(s"ts_ns div $DayNs").as("day"))
      .agg(sum(col("value").cast("decimal(18,2)")).as("total_dec"))
      .select(col("event_type"), col("day"),
              col("total_dec").cast("double").as("total"))
      .withColumn("med",
        expr("percentile(total, 0.5D) OVER (PARTITION BY event_type)"))
      .withColumn("dev", abs(col("total") - col("med")))
      .withColumn("mad",
        expr("percentile(dev, 0.5D) OVER (PARTITION BY event_type)"))
      .filter(col("dev") > lit(k) * col("mad"))
      .select(col("event_type"), col("day"), col("total"),
              col("med"), col("mad"), col("dev"))
      .orderBy(col("event_type"), col("day"))
  }

  /** NELSON-AALEN cumulative-hazard table over customer order lifetimes —
    * the survival-analysis face of the analytics family (churn: "what
    * fraction of customers are still ordering after t days?"). Subjects
    * are ordering customers; observed lifetime = days between first and
    * last order; a subject is an EVENT (churned) if its last order
    * precedes the corpus horizon by more than `censorDays`, else CENSORED
    * at its observed lifetime — the standard right-censoring rule, stated
    * identically in the oracle. Per distinct lifetime t the table carries
    * the risk set n(t) = subjects with lifetime ≥ t, events d(t),
    * censorings c(t), the hazard increment d/n, and the running
    * Nelson-Aalen estimate Ĥ(t) = Σ_{s≤t} d(s)/n(s).
    *
    * Numerics: n/d/c are exact longs off integer day arithmetic (the
    * shipLatency dayNum rule); each hazard increment is ONE correctly-
    * rounded double division quantized to integer PARTS-PER-BILLION (the
    * idf-ppm precedent at a finer quantum — the running sum accumulates
    * one rounded increment per distinct lifetime, and ppb keeps the
    * worst-case accumulated bias under 1 ppm across the fixtures' ~1600
    * lifetime steps, where ppm drifted up to ~800 ppm; ADVICE r15),
    * so the cumulative hazard is an exact integer running sum
    * — order-free, immune to the cross-engine float-summation divergence
    * a double Σ d/n would hit (DuckDB evaluates running windows through
    * a segment tree whose association differs from Spark's sequential
    * frame).
    *
    * Scale shape: one map-side-combinable groupBy collapses orders to a
    * subject table (customer-sized), a second collapses subjects to the
    * lifetime-day domain (bounded by the corpus day span — control-plane
    * sized), and the risk-set/cumulative windows run over that bounded
    * frame only. The horizon is a 1-row broadcast. */
  def survivalNelsonAalen(spark: SparkSession, sfDir: String,
                          censorDays: Long = 90L): DataFrame = {
    val ordT = Window.orderBy(col("t"))
    survivalAtRisk(spark, sfDir, censorDays)
      // PARTS-PER-BILLION quantum (r16, was ppm): the cumulative hazard
      // sums one rounded increment per distinct lifetime, so the
      // accumulated rounding bias is ≤ 0.5 quantum × steps — at ppb the
      // worst case over the sf0.1 domain (~1600 steps) is < 1 ppm where
      // the ppm quantum drifted up to ~800 ppm. The running sum stays an
      // exact integer fold (bigint comfortably holds 1e9 × steps).
      .withColumn("hazard_ppb",
        round(lit(1000000000.0) * col("d").cast("double") /
              col("n_risk").cast("double")).cast("bigint"))
      .withColumn("cum_hazard_ppb",
        sum(col("hazard_ppb")).over(
          ordT.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .select(col("t"), col("n_risk"), col("d"), col("c"),
              col("hazard_ppb"), col("cum_hazard_ppb"))
      .orderBy(col("t"))
  }

  /** The survival family's shared life-table: per-customer lifetime in
    * days (first order → last order), administrative censoring inside
    * `censorDays` of the corpus horizon, collapsed to the per-distinct-
    * lifetime table (t, leaving, d, c, n_risk). Factored out of
    * [[survivalNelsonAalen]] so the Kaplan-Meier product-limit twin
    * ([[StatefulQueries.kaplanMeierSurvival]]) cannot drift from the
    * hazard form's subject/censoring rules. Control-plane-sized output
    * (distinct lifetimes ≤ day span). */
  private[operators] def survivalAtRisk(spark: SparkSession, sfDir: String,
                                        censorDays: Long): DataFrame = {
    val DayUs = 86400000000L
    def dayNum(c: String) = expr(s"unix_micros(date_trunc('DAY', $c)) div $DayUs")
    val subj = Tables.orders(spark, sfDir)
      .select(col("o_custkey"), dayNum("o_orderdate").as("d"))
      .groupBy(col("o_custkey"))
      .agg(min(col("d")).as("fst"), max(col("d")).as("lst"))
    val horizon = subj.agg(max(col("lst")).as("hz"))
    val lifetimes = subj.crossJoin(broadcast(horizon))
      .select((col("lst") - col("fst")).as("t"),
        (col("lst") < col("hz") - lit(censorDays)).cast("long").as("ev"))
    lifetimes.groupBy(col("t"))
      .agg(count(lit(1)).cast("long").as("leaving"),
           sum(col("ev")).cast("long").as("d"))
      .withColumn("c", col("leaving") - col("d"))
      .withColumn("n_risk",
        sum(col("leaving")).over(Window.orderBy(col("t"))
          .rowsBetween(Window.currentRow, Window.unboundedFollowing)))
  }

  /** DEGREE ASSORTATIVITY of the user co-occurrence graph — the one-number
    * mixing summary (do hubs attach to hubs?) that decides which scale
    * strategies work: a high-assortativity graph keeps its hubs in one
    * shuffle partition's blast radius, a disassortative one spreads them.
    * Newman's r = Pearson correlation of endpoint degrees over DIRECTED
    * edges (each undirected edge counted both ways — the standard
    * formulation, which also makes Σdx ≡ Σdy so r is symmetric by
    * construction). The five moments accumulate as exact DECIMAL(38,0)
    * via (19,0) operands (degree² × edge-count outruns a long on a real
    * graph — the changepoint/mannwhitney precedent), and r is one double
    * tree over exact integers crossed through the canonical string
    * round-trip (the gini recipe).
    *
    * Scale shape: one degree groupBy + two node-keyed joins of the edge
    * list against the degree table (the triangle orientation profile) +
    * one map-side-combinable moment aggregate; output is a single row. */
  def graphAssortativityUsers(spark: SparkSession, sfDir: String): DataFrame = {
    val d19 = "decimal(19,0)"
    val ce = userCoEdges(spark, sfDir)
    val e = ce.select(col("u").as("x"), col("v").as("y"))
      .unionAll(ce.select(col("v").as("x"), col("u").as("y")))
    val deg = e.groupBy(col("x").as("n")).agg(count(lit(1)).cast("long").as("d"))
    val j = e.join(deg.select(col("n").as("x"), col("d").as("dx")), "x")
      .join(deg.select(col("n").as("y"), col("d").as("dy")), "y")
    val m = j.agg(
      count(lit(1)).cast("long").as("mm"),
      sum(col("dx").cast(d19)).as("sx"),
      sum(col("dy").cast(d19)).as("sy"),
      sum(col("dx").cast(d19) * col("dy").cast(d19)).as("sxy"),
      sum(col("dx").cast(d19) * col("dx").cast(d19)).as("sxx"),
      sum(col("dy").cast(d19) * col("dy").cast(d19)).as("syy"))
    val nNodes = deg.agg(count(lit(1)).cast("long").as("n_nodes"))
    val mmD = col("mm").cast(d19)
    val dvx = (mmD * col("sxx") - col("sx") * col("sx"))
      .cast("string").cast("double")
    val dvy = (mmD * col("syy") - col("sy") * col("sy"))
      .cast("string").cast("double")
    m.crossJoin(broadcast(nNodes))
      .select(col("n_nodes"), expr("mm div 2").as("n_edges"),
        // zero-variance guard (degree-regular graph): NULL on both
        // engines — unguarded, Spark's non-ANSI Divide yields NULL where
        // DuckDB's IEEE 0/0 yields NaN (the spearman rule, r16 review fix)
        when(dvx === 0.0 || dvy === 0.0, lit(null).cast("double"))
          .otherwise(
            (mmD * col("sxy") - col("sx") * col("sy"))
              .cast("string").cast("double") / (sqrt(dvx) * sqrt(dvy)))
          .as("assortativity"))
  }

  /** ACTIVITY STREAKS per user — the classic gaps-and-islands rollup
    * (longest run of CONSECUTIVE active days, number of runs, total
    * active days): the engagement summary behind every retention
    * dashboard's "current streak" tile, and the canonical
    * MATCH_RECOGNIZE-lite shape SQL answers with the day − row_number()
    * island constant (consecutive days share it; any gap shifts it) —
    * no self-join, no recursion, all exact integers.
    *
    * Scale shape: one distinct collapse to (user, day) — map-side
    * combinable, bounded by users × day-span — then one user-partitioned
    * window and two grouped rollups on the SAME user key (one exchange
    * end to end). */
  def userActivityStreaks(spark: SparkSession, sfDir: String): DataFrame = {
    val DayNs = 86400000000000L
    // NULL users dropped on BOTH engines: the final ORDER BY would place
    // a NULL group NULLS FIRST here and NULLS LAST in DuckDB (the
    // randomWalksUsers divergence class, r16 review fix)
    val ad = Tables.events(spark, sfDir)
      .filter(col("user_id").isNotNull)
      .select(col("user_id"), expr(s"ts_ns div $DayNs").as("day"))
      .distinct()
    val w = Window.partitionBy(col("user_id")).orderBy(col("day"))
    ad.withColumn("grp", col("day") - row_number().over(w).cast("long"))
      .groupBy(col("user_id"), col("grp"))
      .agg(count(lit(1)).cast("long").as("len"))
      .groupBy(col("user_id"))
      .agg(sum(col("len")).cast("long").as("n_active_days"),
           count(lit(1)).cast("long").as("n_streaks"),
           max(col("len")).cast("long").as("max_streak"))
      .orderBy(col("user_id"))
  }

  /** EXACT GINI COEFFICIENT of customer revenue — the inequality summary
    * behind every "top x% of customers drive y% of revenue" claim, computed
    * by the rank formula G = (2·Σ rank·x − (n+1)·Σx) / (n·Σx) over
    * ascending revenue cents (ties broken by custkey — a deterministic
    * total order both engines state identically).
    *
    * Scale shape: the global ascending RANK is built WITHOUT a global sort
    * by the [[Relational.paretoPartsAbcScalable]] two-level banding —
    * band = cents div bandWidth is a pure value function that preserves
    * order between bands, so rank = (count of rows in lower bands,
    * broadcast from a band-count-sized offset table) + (row_number within
    * the band). Σ rank·x rides DECIMAL(38,0) via (19,0) operands (the
    * changepoint precedent — never Catalyst's precision-loss path);
    * the final Gini is one division of two exact decimals crossed to
    * double through the canonical string round-trip. */
  def revenueGini(spark: SparkSession, sfDir: String,
                  bandWidth: Long = 2000000L): DataFrame = {
    val d19 = "decimal(19,0)"
    val x = Tables.orders(spark, sfDir)
      .select(col("o_custkey"),
        expr("cast(round(o_totalprice * 100) as bigint)").as("v"))
      .groupBy(col("o_custkey")).agg(sum(col("v")).as("cents"))
      .withColumn("chk", expr(s"cents div $bandWidth"))
    val wIn = Window.partitionBy(col("chk"))
      .orderBy(col("cents"), col("o_custkey"))
    val inBand = x.withColumn("rn", row_number().over(wIn).cast("long"))
    val wOff = Window.orderBy(col("chk"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offs = x.groupBy(col("chk")).agg(count(lit(1)).cast("long").as("nb"))
      .withColumn("off", coalesce(sum(col("nb")).over(wOff), lit(0L)))
      .select(col("chk"), col("off"))
    val ranked = inBand.join(broadcast(offs), "chk")
      .select(col("cents"), (col("rn") + col("off")).as("rank"))
    val agg = ranked.agg(
      count(lit(1)).cast("long").as("n"),
      sum(col("cents").cast(d19)).as("sx"),
      sum(col("rank").cast(d19) * col("cents").cast(d19)).as("srx"))
    agg.select(col("n"),
      col("sx").cast("string").cast("double").as("total_cents"),
      ((lit(2).cast(d19) * col("srx") -
        (col("n") + lit(1)).cast(d19) * col("sx"))
         .cast("string").cast("double") /
       (col("n").cast(d19) * col("sx")).cast("string").cast("double"))
        .as("gini"))
  }

  /** K-ANONYMITY / L-DIVERSITY AUDIT over the customer table — the privacy
    * admission gate a training-data pipeline runs before releasing any
    * person-keyed slice: group by the quasi-identifier tuple
    * (nation, market segment), measure the smallest equivalence class, the
    * classes below k, the rows they expose, and the minimum l-diversity of
    * the sensitive attribute (account-balance sign: in-debt vs not — the
    * re-identifiable fact the quasi-identifiers must not pin down). A class
    * below k, or with l = 1, is a linkage-attack surface; the report makes
    * that DATA, not a log line (the dqReport contract).
    *
    * Scale shape: one map-side-combinable groupBy to the quasi-id class
    * table (|nations| × |segments| rows — control-plane sized), then one
    * aggregate over it; the risk fraction is the single fixed double→PPM
    * tree. Exact longs throughout. */
  def kAnonymityReport(spark: SparkSession, sfDir: String,
                       k: Long = 10L): DataFrame = {
    // NULL-safe sensitive flag: a NULL acctbal classifies as "not in debt"
    // (0) on BOTH engines — a bare (acctbal < 0).cast produces NULL, which
    // Spark's countDistinct skips while the oracle's CASE..ELSE 0 counts,
    // a latent cross-engine l-diversity mismatch if the fixture ever gains
    // NULLs (TPC-H customer has none today)
    val classes = Tables.customer(spark, sfDir)
      .select(col("c_nationkey"), col("c_mktsegment"),
        when(col("c_acctbal") < 0, 1L).otherwise(0L).as("sens"))
      .groupBy(col("c_nationkey"), col("c_mktsegment"))
      .agg(count(lit(1)).cast("long").as("sz"),
           countDistinct(col("sens")).cast("long").as("l_div"))
    classes.agg(
      sum(col("sz")).cast("long").as("n_rows"),
      count(lit(1)).cast("long").as("n_classes"),
      min(col("sz")).as("min_class_size"),
      sum(when(col("sz") < k, 1L).otherwise(0L)).cast("long")
        .as("classes_below_k"),
      sum(when(col("sz") < k, col("sz")).otherwise(0L)).cast("long")
        .as("rows_below_k"),
      min(col("l_div")).as("min_l_diversity"))
    .select(col("n_rows"), col("n_classes"), col("min_class_size"),
      col("classes_below_k"), col("rows_below_k"),
      round(lit(1000000.0) * col("rows_below_k").cast("double") /
            col("n_rows").cast("double")).cast("bigint").as("risk_ppm"),
      col("min_l_diversity"))
  }

  /** DETERMINISTIC RANDOM WALKS over the user co-occurrence graph — the
    * DeepWalk/node2vec INPUT generator (walk corpora are what graph
    * embeddings train on, exactly as token windows are what word vectors
    * train on): from every node, a `steps`-step walk whose next hop is the
    * neighbor at index hash(current, step) mod degree in the
    * dst-ascending adjacency ranking. The hash is the house multiplicative
    * hash (the split_grouped constants), so the walk is a PURE FUNCTION of
    * the graph — task retries, speculative execution, and the oracle all
    * reproduce it bit-for-bit; a seeded `rand()` could not cross engines.
    * Isolated nodes emit only their step-0 row (the walk has nowhere to
    * go); that drop is structural, not sampled.
    *
    * Scale shape: the adjacency (with per-source rank and degree from one
    * src-partitioned window) is built once and cached; each step is ONE
    * equi-join of the frontier against it on the source key — walk length
    * bounds the join count, and no step ever materializes more than
    * |nodes| rows. The result is walk-corpus-sized (nodes × steps). Each
    * step's frontier is eagerly localCheckpointed (r19-opt probe
    * ProbeWalks: left lazy, union branch i re-executed the whole join
    * chain 1..i at action time — only the exchanges reuse) and the steps
    * run at the graph cores' narrow shuffle width (the r13 finding this
    * core alone had missed; probed again here: w32 lazy 1.64/1.75 s →
    * w8 ckpt 1.08/1.26 s min over two independent 5-rep interleaved
    * sessions at sf0.1). Frontier blocks are freed after the final
    * detach; an eager wide adj materialization was probed too and LOST
    * (serializes the cache fill the first step overlaps). */
  def randomWalksUsers(spark: SparkSession, sfDir: String,
                       steps: Int = 3): DataFrame = {
    val P = 1000000007L
    val A = 2654435761L
    val e = userCoEdges(spark, sfDir)
    val adj = e.select(col("u").as("src"), col("v").as("dst"))
      .unionAll(e.select(col("v").as("src"), col("u").as("dst")))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("src")).orderBy(col("dst"))).cast("long"))
      .withColumn("deg", count(lit(1)).over(
        Window.partitionBy(col("src"))).cast("long"))
      .cache()
    val kept = scala.collection.mutable.ListBuffer.empty[DataFrame]
    try withWidth(spark, 8) {
      // NULL user ids identify no walker: dropped (the labelPropCommunities
      // rule) — a NULL start would emit a (NULL, 0, NULL) step-0 row whose
      // ORDER BY position differs between engines (Spark NULLS FIRST,
      // DuckDB NULLS LAST); the oracle's f0 carries the same filter
      val start = Tables.events(spark, sfDir)
        .filter(col("user_id").isNotNull)
        .select(col("user_id").as("start")).distinct()
      var frontier = start.select(col("start"), col("start").as("node"))
      var out = frontier.select(col("start"), lit(0L).as("step"), col("node"))
      for (i <- 1 to steps) {
        frontier = frontier.join(adj,
          col("node") === col("src") &&
          col("rn") === ((((col("node") % P) * A + i) % P) % col("deg")) + 1)
          .select(col("start"), col("dst").as("node"))
          .localCheckpoint(true)
        kept += frontier
        out = out.unionAll(
          frontier.select(col("start"), lit(i.toLong).as("step"), col("node")))
      }
      // walk-corpus-sized (nodes × steps) → detach, never the driver
      detach(out.orderBy(col("start"), col("step")))
    } finally {
      adj.unpersist(blocking = false)
      kept.foreach(f =>
        org.apache.spark.sql.graftbridge.ColumnBridge.checkpointRdd(f)
          .foreach(_.unpersist(blocking = false)))
    }
  }

  /** LABEL-PROPAGATION COMMUNITY DETECTION over the user co-occurrence
    * graph — the modularity-seeking complement to [[ccUsers]] (CC answers
    * REACHABILITY — one dense component swallows most users; LPA answers
    * COHESION — each node adopts its neighbors' MAJORITY label, so labels
    * pool inside densely-linked groups and stop at sparse cuts). Fully
    * deterministic synchronous LPA: new label = the most frequent label
    * among neighbors (count desc, label asc tie-break — no random visit
    * order), isolated nodes keep their own id; a FIXED 4-round horizon is
    * run identically by engine and oracle (unlike cc, where only the
    * oracle carries a horizon and the engine converges).
    *
    * Scale shape: each round is one edge-side equi-join against the
    * node-sized label table, a map-side-combinable (node, label) vote
    * count, and a per-node argmax window bounded by the node's distinct
    * neighbor labels; the label frame is eagerly localCheckpointed per
    * round (the pagerank lineage-truncation discipline) and superseded
    * checkpoints are freed. */
  def labelPropCommunities(spark: SparkSession, sfDir: String,
                           rounds: Int = 4): DataFrame = {
    val e = userCoEdges(spark, sfDir)
    // a NULL key identifies no user: dropped, matching the oracle's
    // inner nd-join semantics (a left join would carry a (NULL, NULL)
    // row the oracle's NULL-hostile equi-joins never produce)
    val nodes = Tables.events(spark, sfDir)
      .filter(col("user_id").isNotNull)
      .select(col("user_id").as("node")).distinct()
    labelPropOf(spark, nodes, e, rounds)
      .select(col("node").as("user_id"), col("lab").as("community"))
      .orderBy(col("user_id"))
  }

  /** The LPA core over any (node) table and canonical (u, v) edge list —
    * [[labelPropCommunities]]'s loop, shared with AnalyticsSpec's
    * planted-partition quality witness. Returns the DETACHED (node, lab)
    * table. */
  private[graft] def labelPropOf(spark: SparkSession, nodesRaw: DataFrame,
                                     e: DataFrame, rounds: Int): DataFrame = {
    val edges = e.select(col("u").as("src"), col("v").as("dst"))
      .unionAll(e.select(col("v").as("src"), col("u").as("dst")))
      .cache()
    val checkpointed = scala.collection.mutable.ListBuffer.empty[DataFrame]
    try {
      val nodes = nodesRaw.select(col(nodesRaw.columns.head).as("node"))
      var cur = nodes.select(col("node"), col("node").as("lab"))
      for (_ <- 1 to rounds) {
        val votes = edges
          .join(cur.select(col("node").as("dst"), col("lab")), "dst")
          .groupBy(col("src"), col("lab"))
          .agg(count(lit(1)).as("c"))
        // the majority label is an ARGMAX by (count desc, label asc), stated
        // as the rank-1 window: Spark 4 inserts WindowGroupLimit below and
        // above the exchange, so each mapper forwards one candidate row per
        // src and no full per-group sort survives (the r19 probe finding).
        // The max_by-over-struct alternative was tried in r19 and adjudicated
        // BACK here in r20 on cold-JVM min-of-3 at 32 cores (the driver
        // flagged it 1.54x in r19): window 4.43/4.31/4.37 s vs max_by
        // 4.11/4.78/4.44 s for label_prop_communities — parity on means,
        // window wins both medians with a third of the spread, because
        // max_by over a struct key cannot hash-aggregate (SortAggregate
        // pair) while the window form stays WindowGroupLimit-protected.
        // The ordering key is unique per (src, lab) — votes are grouped —
        // so the argmax is deterministic either way; AnalyticsSpec's "LPA
        // argmax" cases pin the tie-break semantics, not the plan form.
        val best = votes
          .withColumn("rk", row_number().over(
            Window.partitionBy(col("src"))
              .orderBy(col("c").desc, col("lab").asc)))
          .filter(col("rk") === 1)
          .select(col("src").as("node"), col("lab").as("new_lab"))
        val nd = cur.join(best, Seq("node"), "left")
          .select(col("node"), coalesce(col("new_lab"), col("lab")).as("lab"))
          .localCheckpoint(true)
        checkpointed += nd
        // never at round 1, where cur still embeds nodesRaw (the
        // caller-passed-checkpoint guard, as in bfsOf/pagerankOf)
        if (checkpointed.length > 1)
          org.apache.spark.sql.graftbridge.ColumnBridge.checkpointRdd(cur)
            .foreach(_.unpersist(blocking = false))
        cur = nd
      }
      // node-cardinality labels → detach, never the driver. UNSORTED
      // (the lshComponentsOf convention): both consumers destroy order —
      // labelPropCommunities re-sorts by user_id for presentation and
      // communityModularity joins the labels — so a sort here would be a
      // node-cardinality exchange nobody reads (r16 review fix).
      detach(cur)
    } finally {
      edges.unpersist(blocking = false)
      checkpointed.foreach(d =>
        org.apache.spark.sql.graftbridge.ColumnBridge.checkpointRdd(d)
          .foreach(_.unpersist(blocking = false)))
    }
  }

  /** NEWMAN MODULARITY of a node labeling over the user co-occurrence
    * graph — the QUALITY number [[labelPropCommunities]] was missing
    * (its labels are hash-pinned but nothing measured whether they are
    * GOOD communities): Q = Σ_c (e_c/m − (d_c/2m)²) over communities c,
    * where e_c counts intra-community edges, d_c sums member degrees, and
    * m is the canonical edge count. Computed for BOTH partitions of the
    * same graph — LPA's labels and connected components' — so the report
    * is a comparison, not a bare number: CC's reachability partition
    * collapses everything reachable into one component (a single
    * component's Q is identically 0 — e_c = m, d_c = 2m, 1 − 1), and the
    * gap between LPA's Q and that baseline MEASURES how much community
    * structure the labels found. On the fixtures' user co-occurrence
    * graph the honest answer is "none": the graph is one dense
    * near-clique (avg degree ~14 at sf0.01), every split of it scores
    * ≤ 0, and the report says so (measured: lpa −0.0039 vs cc 0 at
    * sf0.01). The ALGORITHMIC inequality — LPA strictly beats the CC
    * baseline where a planted partition exists — is pinned in
    * AnalyticsSpec on a two-clique bridge graph through the same
    * [[labelPropOf]]/[[modularityOf]] cores this query runs.
    *
    * Determinism: Q is a RATIO OF EXACT INTEGERS — Σ_c (4m·e_c − d_c²)
    * over 4m², accumulated in DECIMAL(38,0) and crossed to double through
    * the canonical string round-trip (the gini recipe), so the hash gate
    * holds with no float-sum order hazard.
    *
    * Scale shape: per labeling, ONE edge-side equi-join against the
    * node-sized label table (both endpoints — the LPA round profile), a
    * map-side-combinable per-community rollup, and a community-sized
    * final fold; m rides a 1-row broadcast. Nothing data-sized crosses
    * the driver (labels come from the detached graph cores). The two
    * iterative cores are INDEPENDENT given the cached edges and each
    * one's eager per-round actions use only a narrow slice of the
    * cluster, so they run OVERLAPPED from two driver threads (guide
    * §2.6 back-fill; r19-opt probe ProbeModularity: 6.33 → 4.86 s
    * min-of-5 interleaved at sf0.1, identical rows asserted every rep).
    * Overlap is result-safe: both cores are width- and schedule-
    * deterministic (the hash gate re-proves it), and the known
    * interaction — lshComponentsOf retunes the session shuffle width
    * while LPA rounds run — can only move task sizing, never values. */
  def communityModularity(spark: SparkSession, sfDir: String): DataFrame = {
    val e = userCoEdges(spark, sfDir).cache()
    try {
      e.count() // materialize OUTSIDE the narrowed scope: the edge build's
      // fact joins keep the session width (the bfsOf discipline)
      withWidth(spark, 8) {
      // BOTH labelings and both Q folds read this
      // one cached edge table — calling the registered label_prop/cc_users
      // queries here would rebuild the co-occurrence join twice more
      // (measured 6.4 s → 3.9 s at sf0.1 for the composite)
      val nodes = Tables.events(spark, sfDir)
        .filter(col("user_id").isNotNull)
        .select(col("user_id").as("node")).distinct()
      // LPA on a second driver thread, CC on this one; await INSIDE the
      // withWidth scope so the narrow width outlives both cores. The
      // future is ALSO awaited, bounded, on the failure path
      // (awaitSiblingThenThrow): if lshComponentsOf throws first, the outer
      // finally would otherwise unpersist the shared edge cache under a
      // still-running LPA (recompute-from-lineage churn)
      import scala.concurrent.ExecutionContext.Implicits.global
      val lpaF = Future(labelPropOf(spark, nodes, e, rounds = 4))
      // the ccUsers construction over the same cached edges (singletons
      // label themselves through the left join; NULL nodes are irrelevant
      // to Q — only edge-adjacent labels enter the fold)
      val comp = try Dedup.lshComponentsOf(
        e.select(col("u").as("doc_a"), col("v").as("doc_b")))
      catch { case t: Throwable => awaitSiblingThenThrow(lpaF, t) }
      val lpa = Await.result(lpaF, Duration.Inf)
      val cc = nodes.join(
          comp.select(col("doc_id").as("node"), col("component")),
          Seq("node"), "left")
        .select(col("node"), coalesce(col("component"), col("node")).as("lab"))
      modularityOf(e, cc, "cc").unionAll(modularityOf(e, lpa, "lpa"))
        .orderBy(col("method"))
        .localCheckpoint(true) // 2 rows; frees the edge cache eagerly
      }
    } finally e.unpersist(blocking = false)
  }

  /** Modularity Q of one labeling over a canonical (u, v) edge list —
    * [[communityModularity]]'s fold, shared with AnalyticsSpec's planted-
    * partition witness. `labels`: (node, label) in its first two columns;
    * only labels of edge-adjacent nodes enter Q (an isolated community
    * has e_c = d_c = 0 and contributes nothing). Returns one row:
    * (method, n_communities, n_edges, modularity). */
  private[graft] def modularityOf(e: DataFrame, labels: DataFrame,
                                      method: String): DataFrame = {
    val d38 = org.apache.spark.sql.types.DecimalType(38, 0)
    val deg = e.select(col("u").as("n")).unionAll(e.select(col("v").as("n")))
      .groupBy(col("n")).agg(count(lit(1)).cast("long").as("d"))
    val mRow = e.agg(count(lit(1)).cast("long").as("m"))
    val lab = labels.toDF("n", "lab")
    val ec = e
      .join(lab.select(col("n").as("u"), col("lab").as("lu")), "u")
      .join(lab.select(col("n").as("v"), col("lab").as("lv")), "v")
      .filter(col("lu") === col("lv"))
      .groupBy(col("lu").as("lab"))
      .agg(count(lit(1)).cast("long").as("ec"))
    val dc = deg.join(lab, "n").groupBy(col("lab"))
      .agg(sum(col("d")).cast("long").as("dc"))
    dc.join(ec, Seq("lab"), "left")
      .select(col("lab"), coalesce(col("ec"), lit(0L)).as("ec"), col("dc"))
      .crossJoin(broadcast(mRow))
      .agg(count(lit(1)).cast("long").as("n_communities"),
           // coalesce: on an EMPTY edge list min over zero rows is NULL
           // while the oracle's scalar-subquery m is 0 (r16 review fix);
           // modularity itself is NULL on both engines there (NULL num)
           coalesce(min(col("m")), lit(0L)).as("n_edges"),
           sum(lit(4).cast(d38) * col("m").cast(d38) * col("ec").cast(d38)
               - col("dc").cast(d38) * col("dc").cast(d38)).as("num"))
      .select(lit(method).as("method"), col("n_communities"), col("n_edges"),
        (col("num").cast("string").cast("double") /
         (lit(4).cast(d38) * col("n_edges").cast(d38) * col("n_edges").cast(d38))
           .cast("string").cast("double")).as("modularity"))
  }

  /** GROUPED K-FOLD CROSS-VALIDATION assignment summary — the k-fold twin
    * of split_grouped_leakfree: every event lands in the fold of its USER
    * (fold = multiplicative-hash(user) mod k, a pure row function — no
    * user can straddle folds by construction, the leak-freedom CV
    * requires), and the report carries per fold the user count, row count,
    * and row share in PPM, so fold imbalance is data. NULL users form the
    * sentinel pseudo-group (the split_grouped rule).
    *
    * Scale shape: one map-side-combinable two-level aggregate (user, fold)
    * → fold; the report is k rows. */
  def cvFoldAssign(spark: SparkSession, sfDir: String,
                   folds: Int = 5): DataFrame = {
    val fold = expr(
      s"((coalesce(user_id, 1000000006) % 1000000007) * 2654435761) % 1000000007 % $folds")
    val perUser = Tables.events(spark, sfDir)
      .select(fold.as("fold"), col("user_id"))
      .groupBy(col("fold"), col("user_id"))
      .agg(count(lit(1)).cast("long").as("n"))
    val total = perUser.agg(sum(col("n")).cast("long").as("n_total"))
    perUser.groupBy(col("fold"))
      .agg(count(lit(1)).cast("long").as("n_users"),
           sum(col("n")).cast("long").as("n_rows"))
      .crossJoin(broadcast(total))
      .select(col("fold"), col("n_users"), col("n_rows"),
        round(lit(1000000.0) * col("n_rows").cast("double") /
              col("n_total").cast("double")).cast("bigint").as("row_share_ppm"))
      .orderBy(col("fold"))
  }

  /** FUNNEL TIME-TO-CONVERT distribution — the latency face of the funnel
    * family (funnel_steps counts WHO converts; this measures HOW FAST):
    * per user, the delay from the first `view` to the first `purchase` at
    * or after it, bucketed into 10-minute bins. Delays are exact integer
    * microseconds (ties inside a bin surface as the bin's exact min/max),
    * so the histogram is hash-stable with no float anywhere.
    *
    * Scale shape: two user-keyed map-side-combinable aggregates co-keyed
    * into one join (the second aggregate reuses the first's partitioning),
    * then a bin-domain-sized groupBy. Users who never view, or never
    * purchase after viewing, drop out structurally — the funnel's own
    * semantics, stated identically in the oracle. */
  def funnelTimeToConvert(spark: SparkSession, sfDir: String,
                          binUs: Long = 600000000L): DataFrame = {
    val ev = Tables.events(spark, sfDir)
      .select(col("user_id"), col("event_type"), expr("ts_ns div 1000").as("us"))
    val fv = ev.filter(col("event_type") === "view")
      .groupBy(col("user_id")).agg(min(col("us")).as("fv"))
    val fp = ev.filter(col("event_type") === "purchase")
      .join(fv, "user_id")
      .filter(col("us") >= col("fv"))
      .groupBy(col("user_id"), col("fv")).agg(min(col("us")).as("fp"))
    fp.select(expr(s"(fp - fv) div $binUs").as("bin"),
              (col("fp") - col("fv")).as("delay_us"))
      .groupBy(col("bin"))
      .agg(count(lit(1)).cast("long").as("n_users"),
           min(col("delay_us")).as("min_delay_us"),
           max(col("delay_us")).as("max_delay_us"))
      .orderBy(col("bin"))
  }

  /** THEIL-SEN ROBUST TREND per series — the outlier-immune complement to
    * q30's least-squares slope (one corrupted day drags an OLS fit; the
    * MEDIAN of pairwise slopes shrugs off up to ~29% contamination): per
    * event type, the median over all day-pairs of (Δdaily-total / Δday),
    * plus the standard median intercept of the per-day residuals
    * y − slope·day. Each pairwise slope is ONE double division of exact
    * integer operands (daily cents totals, day numbers); both medians use
    * the sort-based exact `percentile` whose interpolation is pinned
    * bit-identical to DuckDB's quantile_cont by q33's gate; the intercept
    * residual is a fixed 2-op double tree.
    *
    * Scale shape: the corpus collapses FIRST to the (type × day) table —
    * map-side-combinable, control-plane sized — and the quadratic
    * pair-enumeration runs on that bounded frame (days², never events²):
    * the same bounded-domain-quadratic contract as chi2's cell fold. The
    * intercept pass joins the day table to the type-sized slope table. */
  def theilSenDaily(spark: SparkSession, sfDir: String): DataFrame = {
    val DayNs = 86400000000000L
    val daily = Tables.events(spark, sfDir)
      .groupBy(col("event_type"), expr(s"ts_ns div $DayNs").as("day"))
      .agg(sum(expr("cast(round(value * 100) as bigint)")).as("y"))
    val a = daily.select(col("event_type"), col("day").as("da"), col("y").as("ya"))
    val b = daily.select(col("event_type"), col("day").as("db"), col("y").as("yb"))
    val sen = a.join(b, Seq("event_type")).filter(col("da") < col("db"))
      .select(col("event_type"),
        ((col("yb").cast("double") - col("ya").cast("double")) /
         (col("db").cast("double") - col("da").cast("double"))).as("s"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).cast("long").as("n_pairs"),
           expr("percentile(s, 0.5D)").as("slope"))
    daily.join(sen, "event_type")
      .select(col("event_type"), col("n_pairs"), col("slope"),
        (col("y").cast("double") - col("slope") * col("day").cast("double"))
          .as("ic"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).cast("long").as("n_days"),
           // min, not first: the carried-through values are constant within
           // each group, but first() is partition-order-nondeterministic
           // and fragile to refactors that break the constancy — min() is
           // order-free and what the oracle states
           min(col("n_pairs")).as("n_pairs"),
           min(col("slope")).as("slope"),
           expr("percentile(ic, 0.5D)").as("intercept"))
      .orderBy(col("event_type"))
  }

  /** TRIMMED MEAN per series — the robust location estimate a reporting
    * layer quotes when tail events would distort a plain mean: drop
    * values strictly outside the exact [p05, p95] band and average the
    * survivors. Percentile thresholds share q33's interpolation parity;
    * the kept values are exact integer cents so the trimmed mean is ONE
    * division of exact longs — no float summation anywhere, unlike a
    * naive mean-of-doubles which is partition-order-dependent.
    *
    * Scale shape: thresholds come from one type-keyed percentile pass,
    * broadcast back onto the same exchange (type-sized table); the keep
    * filter and final aggregate are map-side combinable. */
  def trimmedMeanByType(spark: SparkSession, sfDir: String): DataFrame = {
    val cents = Tables.events(spark, sfDir)
      .select(col("event_type"), expr("cast(round(value * 100) as bigint)").as("c"))
    val cuts = cents.groupBy(col("event_type"))
      .agg(expr("percentile(c, array(0.05D, 0.95D))").as("ps"))
      .select(col("event_type"),
              col("ps").getItem(0).as("lo"), col("ps").getItem(1).as("hi"))
    cents.join(broadcast(cuts), "event_type")
      .groupBy(col("event_type"))
      .agg(count(lit(1)).cast("long").as("n"),
        sum(when(col("c").cast("double") >= col("lo") &&
                 col("c").cast("double") <= col("hi"), 1L).otherwise(0L))
          .cast("long").as("n_kept"),
        sum(when(col("c").cast("double") >= col("lo") &&
                 col("c").cast("double") <= col("hi"), col("c")).otherwise(0L))
          .cast("long").as("sum_kept"),
        // min, not first: constant within the group (one cutpoint row per
        // type), and min() is order-deterministic where first() is not
        min(col("lo")).as("lo"), min(col("hi")).as("hi"))
      .select(col("event_type"), col("n"), col("n_kept"), col("lo"), col("hi"),
        (col("sum_kept").cast("double") / col("n_kept").cast("double") / 100.0)
          .as("trimmed_mean"))
      .orderBy(col("event_type"))
  }

  /** DETERMINISTIC POISSON-BOOTSTRAP CONFIDENCE INTERVAL for the per-type
    * median — the resampling CI at cluster scale, done the only way a
    * 1000-executor job can: classic bootstrap draws n-with-replacement
    * (impossible without a global pass per resample); POISSON bootstrap
    * gives each ROW an independent multiplicity with mean 1, a pure map.
    * Multiplicities here are pseudo-Poisson drawn from the house
    * multiplicative hash of (event_id, resample) quantized to the /16
    * pmf {0:5, 1:7, 2:3, 3:1} (mean exactly 1) — a pure row function, so
    * task retries and the oracle reproduce every resample bit-for-bit; a
    * seeded `rand()` could not cross engines. Per type: the point median
    * over the real data and [min, max] of the B resample medians as the
    * CI band. All medians are the exact sort-based `percentile` (q33's
    * quantile_cont parity).
    *
    * Scale shape: the B-fold fan-out is a bounded explode (≤ 3 copies per
    * (row, resample)); medians run per (type, resample) on one
    * map-partial exchange; the report is type-sized. At 100 TB the exact
    * median inside each resample is the expensive part — the registered
    * approximate path is q10b's sketch. */
  def bootstrapMedianCi(spark: SparkSession, sfDir: String,
                        b: Int = 16): DataFrame = {
    val base = Tables.events(spark, sfDir)
      .select(col("event_type"), col("event_id"),
              expr("cast(round(value * 100) as bigint)").as("c"))
    val point = base.groupBy(col("event_type"))
      .agg(count(lit(1)).cast("long").as("n"),
           expr("percentile(c, 0.5D)").as("median"))
    val res = base
      .select(col("event_type"), col("c"),
        explode(expr(s"transform(sequence(0, ${b - 1}), r -> named_struct(" +
          "'r', cast(r as bigint), " +
          "'m', ((event_id % 1000000007) * 2654435761 + r) % 1000000007 % 16))"))
          .as("d"))
      .select(col("event_type"), col("c"), col("d.r").as("r"),
        when(col("d.m") < 5, 0L).when(col("d.m") < 12, 1L)
          .when(col("d.m") < 15, 2L).otherwise(3L).as("mult"))
      .filter(col("mult") > 0)
      .select(col("event_type"), col("r"),
              explode(expr("sequence(1, mult)")).as("dup"), col("c"))
      .groupBy(col("event_type"), col("r"))
      .agg(expr("percentile(c, 0.5D)").as("med"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).cast("long").as("n_resamples"),
           min(col("med")).as("ci_lo"), max(col("med")).as("ci_hi"))
    point.join(res, "event_type")
      .select(col("event_type"), col("n"), col("median"),
              col("n_resamples"), col("ci_lo"), col("ci_hi"))
      .orderBy(col("event_type"))
  }

  /** MANN-WHITNEY U TEST between the id-parity arms — the nonparametric
    * complement to [[abTestZtest]] (that tests a proportion; this tests
    * whether one arm's VALUES are stochastically larger, with no
    * normality assumption), computed WITHOUT ranking a single row: group
    * to per-value-arm counts, take the value-ordered prefix over the
    * bounded distinct-cents table, and use the tie-averaged rank in
    * DOUBLED integer units R2(v) = 2·cnt_below(v) + tied(v) + 1 — exact
    * longs end to end. The rank-sum, U statistic (kept as 2U, integer),
    * tie-correction term Σ(t³−t), and the normal-approximation z
    * (tie-corrected variance) follow as one fixed double tree over exact
    * integers crossed via the canonical string round-trip.
    *
    * Scale shape: the corpus collapses to per-(value, arm) counts in one
    * map-side-combinable groupBy; every later step runs on the
    * distinct-value table (bounded by the cents domain), whose prefix sum
    * is a single window over that bounded frame. */
  def mannWhitneyArms(spark: SparkSession, sfDir: String): DataFrame = {
    val d19 = "decimal(19,0)"
    val byVal = Tables.events(spark, sfDir)
      .select(expr("cast(round(value * 100) as bigint)").as("c"),
              (col("user_id") % 2).as("arm"))
      .groupBy(col("c"))
      .agg(sum(when(col("arm") === 0, 1L).otherwise(0L)).cast("long").as("na"),
           sum(when(col("arm") === 1, 1L).otherwise(0L)).cast("long").as("nb"))
      .withColumn("t", col("na") + col("nb"))
    val wv = Window.orderBy(col("c"))
    val ranked = byVal
      .withColumn("below",
        coalesce(sum(col("t")).over(wv.rowsBetween(Window.unboundedPreceding, -1)),
                 lit(0L)))
      .withColumn("r2", lit(2L) * col("below") + col("t") + 1L)
    val agg = ranked.agg(
      sum(col("na")).cast("long").as("n0"),
      sum(col("nb")).cast("long").as("n1"),
      sum(col("na").cast(d19) * col("r2").cast(d19)).as("ra2"),
      sum(col("t").cast(d19) * col("t").cast(d19) * col("t").cast(d19) -
          col("t").cast(d19)).as("ties"))
    val n0d = col("n0").cast("double"); val n1d = col("n1").cast("double")
    val nd = (col("n0") + col("n1")).cast("double")
    val u2 = col("ra2") - (col("n0").cast(d19) *
                           (col("n0") + lit(1)).cast(d19))
    agg.select(col("n0"), col("n1"),
        u2.cast("string").cast("double").as("u2"),
        col("ties").cast("string").cast("double").as("tie_term"))
      .select(col("n0"), col("n1"), col("u2"), col("tie_term"),
        ((col("u2") / 2.0 - n0d * n1d / 2.0) /
         sqrt(n0d * n1d / 12.0 *
           ((nd + 1.0) - col("tie_term") / (nd * (nd - 1.0))))).as("z"))
  }

  /** Daily (event_type × day) totals-and-counts table shared by the rank
    * statistics below: y = exact integer-cent daily value total, cnt =
    * daily event count — ONE map-side-combinable groupBy collapses the
    * corpus to a control-plane-sized frame (types × days) before any rank
    * or pair machinery touches it. */
  private def dailyYn(spark: SparkSession, sfDir: String): DataFrame = {
    val DayNs = 86400000000000L
    Tables.events(spark, sfDir)
      .groupBy(col("event_type"), expr(s"ts_ns div $DayNs").as("day"))
      .agg(sum(expr("cast(round(value * 100) as bigint)")).as("y"),
           count(lit(1)).cast("long").as("cnt"))
  }

  /** SPEARMAN RANK CORRELATION per event_type between the daily value
    * total and the daily event count — the monotone-association test a
    * metrics layer runs when "do busy days move more money?" must be
    * robust to outlier days (Pearson on raw values is dragged by one fat
    * day; Pearson on RANKS is not). Ranks use Mann-Whitney's
    * tie-averaged DOUBLED integer units r2 = 2·rank_min + tied − 1
    * (exact longs, no 0.5 anywhere), the five rank moments accumulate as
    * exact longs (safe while days/type < ~10^4: r2 ≤ 2N, so N·Σ(r2·r2)
    * ≤ 4N^4 ≈ 4·10^16 < 2^63), and rho is ONE closed-form double tree
    * over those integers — the doubling cancels algebraically. A
    * zero-variance side (all days tied) yields NULL via the explicit
    * guard, stated identically in the oracle.
    *
    * Scale shape: the corpus collapses to the (type × day) table first;
    * the two rank windows share the single event_type exchange; the
    * moment aggregate is map-side combinable over that bounded frame. */
  def spearmanDaily(spark: SparkSession, sfDir: String): DataFrame = {
    val daily = dailyYn(spark, sfDir)
    def r2(c: String): Column =
      lit(2L) * rank().over(
          Window.partitionBy(col("event_type")).orderBy(col(c))).cast("long") +
        count(lit(1)).over(
          Window.partitionBy(col("event_type"), col(c))).cast("long") - lit(1L)
    val ranked = daily.select(col("event_type"),
      r2("y").as("rx"), r2("cnt").as("ry"))
    val m = ranked.groupBy(col("event_type")).agg(
      count(lit(1)).cast("long").as("n_days"),
      sum(col("rx")).cast("long").as("sx"),
      sum(col("ry")).cast("long").as("sy"),
      sum(col("rx") * col("ry")).cast("long").as("sxy"),
      sum(col("rx") * col("rx")).cast("long").as("sxx"),
      sum(col("ry") * col("ry")).cast("long").as("syy"))
    val vx = m("n_days") * m("sxx") - m("sx") * m("sx")
    val vy = m("n_days") * m("syy") - m("sy") * m("sy")
    m.select(col("event_type"), col("n_days"),
        when(vx === 0L || vy === 0L, lit(null).cast("double"))
          .otherwise(
            (m("n_days") * m("sxy") - m("sx") * m("sy")).cast("double") /
              (sqrt(vx.cast("double")) * sqrt(vy.cast("double"))))
          .as("rho"))
      .orderBy(col("event_type"))
  }

  /** KENDALL TAU-B TREND TEST per event_type: is the daily value total
    * monotonically drifting over the month? The nonparametric complement
    * to [[theilSenDaily]] (that estimates the slope; this scores its
    * SIGNIFICANCE as rank concordance) — the Mann-Kendall trend statistic.
    * The x side is the day index (never tied), so tau-b reduces to
    * (C − D) / √(n0 · (n0 − ty)) with n0 = n(n−1)/2 and ty the tied-y
    * pair count; every count is an exact long and tau is one fixed double
    * tree. Long-safety: n0² < 2^63 while days/type < ~10^4.7.
    *
    * Scale shape: theilSenDaily's bounded-domain-quadratic contract — the
    * corpus collapses to the (type × day) table FIRST and the pair
    * enumeration runs on that control-plane frame (days², never events²).
    * At horizons where days² itself hurts, Kendall has O(n log n)
    * merge-sort formulations; this registered form is the exact-count
    * witness. */
  def kendallTauDaily(spark: SparkSession, sfDir: String): DataFrame = {
    val daily = dailyYn(spark, sfDir).select(col("event_type"), col("day"), col("y"))
    val a = daily.select(col("event_type"), col("day").as("da"), col("y").as("ya"))
    val b = daily.select(col("event_type"), col("day").as("db"), col("y").as("yb"))
    val pairs = a.join(b, Seq("event_type")).filter(col("da") < col("db"))
    val agg = pairs.groupBy(col("event_type")).agg(
      sum(when(col("yb") > col("ya"), 1L).otherwise(0L)).cast("long").as("concordant"),
      sum(when(col("yb") < col("ya"), 1L).otherwise(0L)).cast("long").as("discordant"),
      sum(when(col("yb") === col("ya"), 1L).otherwise(0L)).cast("long").as("ties_y"))
    val n0 = col("concordant") + col("discordant") + col("ties_y")
    daily.groupBy(col("event_type"))
      .agg(count(lit(1)).cast("long").as("n_days"))
      .join(agg, "event_type")
      .select(col("event_type"), col("n_days"), n0.as("n_pairs"),
        col("concordant"), col("discordant"), col("ties_y"),
        when(n0 === 0L || n0 === col("ties_y"), lit(null).cast("double"))
          .otherwise((col("concordant") - col("discordant")).cast("double") /
            sqrt((n0 * (n0 - col("ties_y"))).cast("double")))
          .as("tau_b"))
      .orderBy(col("event_type"))
  }

  /** STL-STYLE SEASONAL DECOMPOSITION of the per-type daily total into
    * trend + seasonal + residual — the classic time-series triage view
    * (is Monday's dip seasonality or decay?). Unlike
    * [[seasonalDowResiduals]] (day-of-week means of the RAW totals), this
    * is the decomposition proper: trend is the centered 7-OBSERVATION
    * moving average (emitted only where the window is full, the standard
    * MA edge rule), the seasonal index is the day-of-week mean of the
    * DETRENDED series, and the residual is what neither explains.
    * Numerics: y is exact cents; the trend numerator s7 is an exact
    * 7-term long window sum; the detrended value is kept as the exact
    * long 7·y − s7 (no division until the finisher), so the seasonal
    * numerator is an exact long too, and all three emitted components are
    * ONE fixed double tree over exact integers — no float accumulates
    * anywhere, the cross-engine hash precondition.
    *
    * Scale shape: one corpus-collapsing groupBy to the (type × day)
    * frame, one event_type-partitioned window over it, one broadcast-back
    * join of the 7-rows-per-type seasonal table; days arrive dense in
    * this corpus so the 7-observation window IS 7 calendar days — on
    * gappy data compose with q29's gap-fill spine first. */
  def stlDecomposeDaily(spark: SparkSession, sfDir: String): DataFrame = {
    val w = Window.partitionBy(col("event_type")).orderBy(col("day"))
      .rowsBetween(-3, 3)
    val t = dailyYn(spark, sfDir).select(col("event_type"), col("day"), col("y"))
      .withColumn("s7", sum(col("y")).over(w).cast("long"))
      .withColumn("c7", count(lit(1)).over(w).cast("long"))
      .filter(col("c7") === 7L)
      .withColumn("dow", col("day") % 7L)
      .withColumn("d7", lit(7L) * col("y") - col("s7"))
    val seas = t.groupBy(col("event_type"), col("dow"))
      .agg(sum(col("d7")).cast("long").as("sd7"),
           count(lit(1)).cast("long").as("dn"))
    t.join(broadcast(seas), Seq("event_type", "dow"))
      .select(col("event_type"), col("day"), col("dow"), col("y").as("y_cents"),
        (col("s7").cast("double") / 7.0).as("trend"),
        (col("sd7").cast("double") / (lit(7.0) * col("dn").cast("double")))
          .as("seasonal"),
        (col("y").cast("double") - col("s7").cast("double") / 7.0 -
          col("sd7").cast("double") / (lit(7.0) * col("dn").cast("double")))
          .as("residual"))
      .orderBy(col("event_type"), col("day"))
  }

  /** SEASONAL-NAIVE FORECAST BACKTEST — the baseline every forecast
    * evaluation needs next to the model's score ([[StatefulQueries
    * .forecastBacktestHolt]]): predict each day's total with the SAME
    * WEEKDAY LAST WEEK (lag 7 over the dense daily spine) and score MAE +
    * sMAPE one-step-ahead. A model that cannot beat seasonal-naive is
    * not a model — publishing the baseline under the same metric
    * definitions makes that comparison data. Errors here are EXACT LONGS
    * (both operands are integer daily cents), so only the sMAPE ratio is
    * floor-quantized (the holt backtest rule); MAE needs no quantization
    * at all.
    *
    * Scale shape: one corpus-collapsing groupBy + one lag over the
    * control-plane daily frame; dense days make lag-7 the calendar week
    * (the stl rule — gappy data composes with q29's spine first). */
  def forecastBacktestSeasonalNaive(spark: SparkSession, sfDir: String,
                                    season: Int = 7): DataFrame = {
    val w = Window.partitionBy(col("event_type")).orderBy(col("day"))
    val b = dailyYn(spark, sfDir).select(col("event_type"), col("day"), col("y"))
      .withColumn("f", lag(col("y"), season).over(w))
      .filter(col("f").isNotNull)
      .withColumn("ae", abs(col("y") - col("f")))
      .withColumn("sm_ppb",
        when(col("y") === 0L && col("f") === 0L, 0L)
          .otherwise(floor(lit(2.0) * col("ae").cast("double") /
            (abs(col("y")) + abs(col("f"))).cast("double") * 1000000000.0)
            .cast("long")))
    b.groupBy(col("event_type")).agg(
        count(lit(1)).cast("long").as("n_pairs"),
        sum(col("ae")).cast("long").as("sum_ae_cents"),
        sum(col("sm_ppb")).cast("long").as("sum_smape_ppb"))
      .select(col("event_type"), col("n_pairs"),
        col("sum_ae_cents"), col("sum_smape_ppb"),
        (col("sum_ae_cents").cast("double") / 100.0 /
          col("n_pairs").cast("double")).as("mae"),
        (col("sum_smape_ppb").cast("double") / 1000000000.0 /
          col("n_pairs").cast("double")).as("smape"))
      .orderBy(col("event_type"))
  }

  /** ENTITY RESOLUTION over part names — the classic three-stage ER
    * pipeline as ONE composed operator: (1) exact collapse (identical
    * names are trivially the same entity — at any scale this shrinks the
    * fuzzy stage's input from rows to DISTINCT names), (2) fuzzy blocking
    *+ match over the distinct-name table ([[fuzzyJoinEditDist1Of]]'s
    * deletion banding — candidates come from shared deletion signatures,
    * never all-pairs), (3) transitive closure over the match graph
    * ([[Dedup.lshComponentsOf]] — min-label + pointer jumping), with the
    * cluster's minimum name-id as the canonical entity id. Every part
    * row maps back through its name, carrying the entity id and the
    * entity's member count.
    *
    * Scale shape: the name collapse is one map-side-combinable groupBy;
    * banding bounds candidate pairs by signature collisions; CC rounds
    * are O(log d); the map-back is a broadcast-sized join at fixture
    * scale and a co-keyed name join generally. The oracle unrolls 8
    * plain min-label rounds over the same banded pairs (fixpoint ≤ 2
    * probed at every shipped SF — the cc_users horizon adjudication). */
  def entityResolutionParts(spark: SparkSession, sfDir: String): DataFrame = {
    val p = Tables.table(spark, sfDir, "part")
      .select(col("p_partkey"), col("p_name"))
    val names = collapsedPartNames(spark, sfDir)
    // the UNSORTED pair core: CC caches and repartitions the pairs
    // immediately, so the registered fuzzy join's presentation sort would
    // be a dead wide exchange here (the labelPropOf dead-sort class,
    // r16 review fix)
    val pairs = fuzzyPairsOf(
      names.select(col("nid").as("s_suppkey"), col("p_name").as("s_name")))
    val labels = Dedup.lshComponentsOf(
      pairs.select(col("a_key").as("doc_a"), col("b_key").as("doc_b")))
    val ent = names.join(
        labels.select(col("doc_id").as("nid"), col("component")),
        Seq("nid"), "left")
      .select(col("p_name"), coalesce(col("component"), col("nid")).as("entity"))
    // ONE map-back join; entity_size as a window count over the same
    // frame — the two-join form re-ran the part scan and the name
    // collapse twice (no cross-branch CSE in Spark; r16 review fix)
    p.join(ent, "p_name")
      .withColumn("entity_size",
        count(lit(1)).over(Window.partitionBy(col("entity"))).cast("long"))
      .select(col("p_partkey"), col("p_name"), col("entity"), col("entity_size"))
      .orderBy(col("p_partkey"))
  }

  /** GLOBAL CLUSTERING COEFFICIENT of the user co-occurrence graph —
    * C = 3·triangles / wedges, the transitivity number that says whether
    * co-occurrence is cliquish (friends-of-friends co-occur) or
    * star-shaped (hubs touch everyone, neighbors never meet). Composed
    * from the two audited counting cores this repo already runs at the
    * falsifying cardinality: [[triangleCountOf]]'s degree-oriented wedge
    * closure and the degree table's Σ d(d−1)/2 naive wedge count — both
    * exact integers, the ratio one guarded double division (a
    * wedge-free graph reports NULL on both engines).
    *
    * Scale shape: the triangle core's orientation bound (out-degree
    * O(√|E|)) plus one degree aggregate; the combine is a 1-row
    * broadcast crossJoin. */
  def clusteringCoefficientUsers(spark: SparkSession, sfDir: String): DataFrame = {
    // ONE evaluation of the co-occurrence edge build: cache it here and
    // materialize BOTH 1-row consumers inside the cached scope —
    // triangleCountOf localizes its result eagerly (and respects this
    // caller cache), and the wedge aggregate is localized the same way
    // (strictly control-plane: one row of exact longs, the localize scope
    // contract). The previous shape let triangleCountOf cache, localize,
    // and RELEASE the edges in its finally, so the lazy deg/wedges branch
    // re-ran the whole events-distinct + minute self-join + distinct at
    // final-action time — a second full edge build per run (r19-opt).
    val ce = userCoEdges(spark, sfDir).cache()
    val (tri, wedges) = try {
      // the wedge aggregate rides a second driver thread while the triangle
      // core runs (the communityModularity §2.6 overlap; both consumers are
      // read-only over the shared cache and 1-row deterministic)
      import scala.concurrent.ExecutionContext.Implicits.global
      val deg = ce.select(col("u").as("n")).unionAll(ce.select(col("v").as("n")))
        .groupBy(col("n")).agg(count(lit(1)).cast("long").as("d"))
      val wedgesF = Future(localize(spark,
        deg.agg(count(lit(1)).cast("long").as("n_nodes"),
          sum(expr("(d * (d - 1)) div 2")).cast("long").as("wedges"))))
      // failure-path await (r19 advice #2): the finally must not release
      // the shared cache while the wedge job still runs
      val tri = try triangleCountOf(spark, ce)
      catch { case t: Throwable => awaitSiblingThenThrow(wedgesF, t) }
      (tri, Await.result(wedgesF, Duration.Inf))
    } finally ce.unpersist(blocking = false)
    tri.crossJoin(broadcast(wedges))
      .select(col("n_nodes"), col("n_edges"), col("n_triangles"), col("wedges"),
        when(col("wedges") === 0L, lit(null).cast("double"))
          .otherwise((lit(3L) * col("n_triangles")).cast("double") /
            col("wedges").cast("double"))
          .as("clustering_coeff"))
  }

  /** CUMULATIVE USER GROWTH CURVE — per day: users seen for the FIRST
    * time that day and the running total, the canonical growth chart.
    * First-seen collapses each user to one row before any windowing
    * (map-side combinable); days with zero new users still appear (the
    * distinct-day spine left-join, stated identically in the oracle) so
    * the curve is gapless wherever events exist. All exact integers.
    *
    * Scale shape: two user-keyed aggregates + one cumulative window over
    * the DAY table — domain-bounded (the pareto_scalable adjudication
    * for the single-partition day window: days, not rows). */
  def cumulativeUsersDaily(spark: SparkSession, sfDir: String): DataFrame = {
    val DayNs = 86400000000000L
    val ud = Tables.events(spark, sfDir)
      .filter(col("user_id").isNotNull)
      .select(col("user_id"), expr(s"ts_ns div $DayNs").as("day"))
      .distinct()
    val newPerDay = ud.groupBy(col("user_id")).agg(min(col("day")).as("day"))
      .groupBy(col("day")).agg(count(lit(1)).cast("long").as("new_users"))
    ud.select(col("day")).distinct()
      .join(newPerDay, Seq("day"), "left")
      .select(col("day"), coalesce(col("new_users"), lit(0L)).as("new_users"))
      .withColumn("cum_users",
        sum(col("new_users")).over(Window.orderBy(col("day"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow))
          .cast("long"))
      .orderBy(col("day"))
  }

  /** ROLLING BIVARIATE CORRELATION between two event types' daily value
    * totals (7-observation trailing window) — the co-movement monitor a
    * metrics layer runs on channel pairs ("do views and clicks still
    * move together this week?"), where the GLOBAL correlation
    * ([[corrMatrixHourly]]) hides regime changes. Both series are exact
    * integer cents on a shared day spine (a day missing one type
    * contributes 0 — stated identically in the oracle); the five window
    * moments are exact long sums, the correlation one closed-form
    * guarded double tree per full window (the spearman zero-variance
    * rule). Long-safety: daily cents ≤ ~10⁷ ⇒ n·Σxy ≤ 7²·10¹⁴ far
    * under 2⁶³.
    *
    * Scale shape: one corpus-collapsing groupBy to the day table, one
    * window over it — domain-bounded single-partition (days, not rows;
    * the cumulativeUsersDaily adjudication). */
  def rollingCorrPair(spark: SparkSession, sfDir: String,
                      typeA: String = "view", typeB: String = "click",
                      n: Int = 7): DataFrame = {
    val DayNs = 86400000000000L
    val d = Tables.events(spark, sfDir)
      .filter(col("event_type").isin(typeA, typeB))
      .groupBy(expr(s"ts_ns div $DayNs").as("day"))
      .agg(
        coalesce(sum(when(col("event_type") === typeA,
          expr("cast(round(value * 100) as bigint)"))), lit(0L)).as("xa"),
        coalesce(sum(when(col("event_type") === typeB,
          expr("cast(round(value * 100) as bigint)"))), lit(0L)).as("xb"))
    val w = Window.orderBy(col("day")).rowsBetween(-(n - 1), 0)
    val m = d
      .withColumn("c7", count(lit(1)).over(w).cast("long"))
      .withColumn("sx", sum(col("xa")).over(w).cast("long"))
      .withColumn("sy", sum(col("xb")).over(w).cast("long"))
      .withColumn("sxy", sum(col("xa") * col("xb")).over(w).cast("long"))
      .withColumn("sxx", sum(col("xa") * col("xa")).over(w).cast("long"))
      .withColumn("syy", sum(col("xb") * col("xb")).over(w).cast("long"))
      .filter(col("c7") === n.toLong)
    val nL = lit(n.toLong)
    val vx = nL * col("sxx") - col("sx") * col("sx")
    val vy = nL * col("syy") - col("sy") * col("sy")
    m.select(col("day"), col("xa"), col("xb"),
        when(vx === 0L || vy === 0L, lit(null).cast("double"))
          .otherwise((nL * col("sxy") - col("sx") * col("sy")).cast("double") /
            (sqrt(vx.cast("double")) * sqrt(vy.cast("double"))))
          .as("rolling_corr"))
      .orderBy(col("day"))
  }

  /** MULTI-SOURCE BFS: [[bfsOf]]'s min-plus relaxation with the distance
    * frame keyed on (node, landmark) — L sources relax SIMULTANEOUSLY
    * through the same per-round edge join instead of L sequential BFS
    * passes, so the edge list is scanned rounds times, not rounds×L times.
    * Same lifecycle discipline as bfsOf: edge cache pre-partitioned on the
    * join key at the rounds' width, eager per-round localCheckpoint with
    * superseded blocks freed immediately, the final (node×L)-sized frame
    * detached executor-side (never a driver LocalRelation — the localize
    * scope contract). `sources` must be a CONTROL-PLANE-sized frame (the
    * landmark set) with a single column `lm`. */
  private def multiBfsOf(spark: SparkSession, nodesRaw: DataFrame,
                         eRaw: DataFrame, sources: DataFrame,
                         rounds: Int): DataFrame = {
    val e = eRaw.repartition(8, col("x")).cache()
    val checkpointed = scala.collection.mutable.ListBuffer.empty[DataFrame]
    try {
      e.count() // materialize outside withWidth: the build runs wide
      withWidth(spark, 8) {
        val nodes = nodesRaw.select(col(nodesRaw.columns.head).as("node"))
        val init = nodes.crossJoin(broadcast(sources))
          .select(col("node"), col("lm"),
            when(col("node") === col("lm"), lit(0L)).as("h"))
        def relax(d: DataFrame): DataFrame = {
          val cand = e.join(
              d.filter(col("h").isNotNull).withColumnRenamed("node", "x"), "x")
            .select(col("y").as("node"), col("lm"), (col("h") + 1L).as("nh"))
            .groupBy(col("node"), col("lm")).agg(min(col("nh")).as("nh"))
          d.join(cand, Seq("node", "lm"), "left")
            .select(col("node"), col("lm"), least(col("h"), col("nh")).as("h"))
        }
        // fixpoint early-exit, exactly bfsOf's: per (node, lm) the hop
        // count is set once at its true distance, so an unchanged
        // unreached-count is a proof the remaining rounds are no-ops
        var finalD = init
        var prevUnreached = -1L
        var converged = false
        for (_ <- 1 to rounds if !converged) {
          val d = finalD
          val nd = relax(d).localCheckpoint(true)
          checkpointed += nd
          if (!(d eq init))
            org.apache.spark.sql.graftbridge.ColumnBridge.checkpointRdd(d)
              .foreach(_.unpersist(blocking = false))
          finalD = nd
          val unreached = nd.filter(col("h").isNull).count()
          if (unreached == prevUnreached) converged = true
          prevUnreached = unreached
        }
        detach(finalD)
      }
    } finally {
      e.unpersist(blocking = false)
      checkpointed.foreach(d =>
        org.apache.spark.sql.graftbridge.ColumnBridge.checkpointRdd(d)
          .foreach(_.unpersist(blocking = false)))
    }
  }

  /** LANDMARK HARMONIC CLOSENESS over the user co-occurrence graph — the
    * practical centrality at scale: exact closeness needs all-pairs
    * distances (|V| BFS passes, impossible at billions of nodes); the
    * landmark estimate runs ONE multi-source BFS from L deterministic
    * pivots (the L smallest user ids — a choice both engines can state)
    * and scores each node by the harmonic sum of its landmark distances.
    * Harmonic (Σ 1/d), not classic (1/Σd), so unreached landmarks
    * contribute zero instead of poisoning the sum — the standard choice
    * on disconnected graphs, which sparse SFs genuinely are. The sum is
    * the exact integer Σ 1000000 div d (micro-units, integer division —
    * no float accumulation), `n_reached` counts landmarks within the
    * horizon (the landmark itself included at d = 0, which adds no
    * harmonic mass).
    *
    * Scale shape: the relaxation frame is (|V|·L) rows — L is a constant
    * (3), so this is the BFS profile with a constant-factor-wider
    * frontier, NOT L sequential edge scans; the final groupBy collapses
    * by node on the same key the rounds already shuffle on. */
  def closenessLandmarksUsers(spark: SparkSession, sfDir: String,
                              landmarks: Int = 3,
                              rounds: Int = 6): DataFrame = {
    val ce = userCoEdges(spark, sfDir)
    val e = ce.select(col("u").as("x"), col("v").as("y"))
      .unionAll(ce.select(col("v").as("x"), col("u").as("y")))
    // NULL keys dropped on BOTH engines (the labelPropCommunities rule):
    // a NULL user would otherwise enter Spark's NULLS-FIRST limit(L)
    // landmark set but not DuckDB's NULLS-LAST one — a value divergence,
    // not just row order (r16 review fix)
    val nodes = Tables.events(spark, sfDir)
      .filter(col("user_id").isNotNull)
      .select(col("user_id")).distinct()
    val lms = nodes.orderBy(col("user_id")).limit(landmarks)
      .select(col("user_id").as("lm"))
    val d = multiBfsOf(spark, nodes, e, lms, rounds)
    d.groupBy(col("node"))
      .agg(count(col("h")).cast("long").as("n_reached"),
        sum(when(col("h") >= 1L, expr("1000000 div h")).otherwise(0L))
          .cast("long").as("harmonic_micro"))
      .select(col("node").as("user_id"), col("n_reached"),
        col("harmonic_micro"),
        (col("harmonic_micro").cast("double") / 1000000.0).as("closeness"))
      .orderBy(col("user_id"))
  }
}
