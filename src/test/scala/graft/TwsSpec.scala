package graft

import org.apache.spark.sql.{DataFrame, Dataset, Encoder, Encoders}
import org.apache.spark.sql.streaming.Trigger
import graft.streaming.{StatefulOps, TwsOps}
import graft.streaming.StatefulOps.{KSV, KV}

/** transformWithState: behavioral parity with the flatMapGroupsWithState
  * twins on synthetic fixtures, plus the LITERAL state-shape witness — the
  * engine's own checkpoint metadata must record the Flink shapes
  * (ValueState / MapState / ListState) each processor declares. */
class TwsSpec extends SparkSpec {

  import spark.implicits._

  private implicit val kvEnc: Encoder[KV] = Encoders.product[KV]
  private implicit val ksvEnc: Encoder[KSV] = Encoders.product[KSV]

  /** Drain `op` over a one-file replay of `input` with an explicit
    * checkpoint (RocksDB provider — required by TWS), returning the sink
    * rows and the operator metadata JSON the engine wrote. */
  private def drainWithMetadata[I](input: Dataset[I], op: Dataset[I] => DataFrame,
                                   noDataBatches: Boolean = true)
                                  (implicit enc: Encoder[I]): (Seq[String], String) = {
    val src = java.nio.file.Files.createTempDirectory("tws-spec-src-")
    val ckpt = java.nio.file.Files.createTempDirectory("tws-spec-ckpt-")
    val qn = s"tws_spec_${System.nanoTime()}"
    val prev = spark.conf.getAll.get("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      input.toDF().coalesce(1).write.mode("overwrite").parquet(src.toString)
      val stream = spark.readStream.schema(input.toDF().schema)
        .parquet(src.toString).as[I]
      // ProcessingTime-mode operators report shouldRunAnotherBatch=true
      // unconditionally — with no-data batches enabled, AvailableNow would
      // spin empty batches forever (and processAllAvailable never sees
      // noNewData), so those drains disable them for the run
      val ndKey = "spark.sql.streaming.noDataMicroBatches.enabled"
      val ndPrev = spark.conf.get(ndKey)
      if (!noDataBatches) spark.conf.set(ndKey, "false")
      try {
        val q = op(stream).writeStream.outputMode("append").format("memory")
          .option("checkpointLocation", ckpt.toString)
          .queryName(qn).trigger(Trigger.AvailableNow()).start()
        q.awaitTermination()
      } finally spark.conf.set(ndKey, ndPrev)
      val rows = spark.table(qn).collect().map(_.toString).sorted.toSeq
      // resolve the operator-metadata file by GLOB, not a pinned version
      // path: a Spark upgrade that bumps the metadata layout (v2 → v3)
      // must fail as a parity mismatch with a useful listing, not a bare
      // file-not-found on a hardcoded path
      val metaRoot = ckpt.resolve("state/0/_metadata")
      def listDir(p: java.nio.file.Path): Seq[java.nio.file.Path] = {
        val s = java.nio.file.Files.list(p)
        try { import scala.jdk.CollectionConverters._; s.iterator().asScala.toSeq }
        finally s.close()
      }
      require(java.nio.file.Files.isDirectory(metaRoot),
        s"no operator metadata dir at $metaRoot")
      val versionDir = listDir(metaRoot).filter(java.nio.file.Files.isDirectory(_))
        .sortBy(_.getFileName.toString).lastOption
        .getOrElse(sys.error(s"no version dir under $metaRoot: " +
          listDir(metaRoot).mkString(", ")))
      val metaPath = listDir(versionDir)
        .filter(p => java.nio.file.Files.isRegularFile(p) &&
          !p.getFileName.toString.startsWith(".")) // skip .crc shadows
        .sortBy(_.getFileName.toString).headOption
        .getOrElse(sys.error(s"no metadata file under $versionDir: " +
          listDir(versionDir).mkString(", ")))
      val meta = new String(java.nio.file.Files.readAllBytes(metaPath),
        java.nio.charset.StandardCharsets.UTF_8)
      (rows, meta)
    } finally {
      if (spark.catalog.tableExists(qn)) spark.catalog.dropTempView(qn)
      prev match {
        case Some(v) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", v)
        case None    => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  // the metadata nests the operator properties as an ESCAPED json string,
  // so the raw file carries literal \" around each field
  private def stateVar(meta: String, name: String, tpe: String): Boolean =
    meta.contains("\\\"stateName\\\":\\\"" + name +
      "\\\",\\\"stateVariableType\\\":\\\"" + tpe + "\\\"")

  /** [[drainWithMetadata]] for the event-time session processor: a
    * MULTI-FILE watermarked replay (one file per micro-batch, mtime-ordered)
    * so the final session can only close via an event-time TIMER on the
    * trailing no-data batch — no data-driven fold ever sees it. */
  private def drainSessionWithMetadata(frames: Seq[org.apache.spark.sql.DataFrame],
                                       gapMinutes: Int, delay: String): (Seq[String], String) = {
    import graft.streaming.StatefulOps.SessionEv
    implicit val evEnc: Encoder[SessionEv] = Encoders.product[SessionEv]
    val src = java.nio.file.Files.createTempDirectory("tws-sess-src-")
    val ckpt = java.nio.file.Files.createTempDirectory("tws-sess-ckpt-")
    val qn = s"tws_sess_${System.nanoTime()}"
    val prev = spark.conf.getAll.get("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val t0 = System.currentTimeMillis() - 600000L
      frames.zipWithIndex.foreach { case (df, i) =>
        val stage = src.resolve(s"stage-$i")
        df.coalesce(1).write.parquet(stage.toString)
        val l = java.nio.file.Files.list(stage)
        val part = try l.filter(_.getFileName.toString.endsWith(".parquet"))
          .findFirst().orElseThrow() finally l.close()
        val dest = src.resolve(s"f$i.parquet")
        java.nio.file.Files.move(part, dest)
        dest.toFile.setLastModified(t0 + 60000L * i)
      }
      val schema = frames.head.schema
      val stream = spark.readStream.schema(schema)
        .option("pathGlobFilter", "*.parquet")
        .option("maxFilesPerTrigger", "1").parquet(src.toString)
        .withWatermark("ts", delay)
        .as[SessionEv]
      val q = TwsOps.sessionizeTws(stream, gapMinutes).toDF()
        .writeStream.outputMode("append").format("memory")
        .option("checkpointLocation", ckpt.toString)
        .queryName(qn).trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      val rows = spark.table(qn).collect().map(_.toString).sorted.toSeq
      val metaRoot = ckpt.resolve("state/0/_metadata")
      def listDir(p: java.nio.file.Path): Seq[java.nio.file.Path] = {
        val s = java.nio.file.Files.list(p)
        try { import scala.jdk.CollectionConverters._; s.iterator().asScala.toSeq }
        finally s.close()
      }
      val versionDir = listDir(metaRoot).filter(java.nio.file.Files.isDirectory(_))
        .sortBy(_.getFileName.toString).last
      val metaPath = listDir(versionDir)
        .filter(p => java.nio.file.Files.isRegularFile(p) &&
          !p.getFileName.toString.startsWith("."))
        .sortBy(_.getFileName.toString).head
      val meta = new String(java.nio.file.Files.readAllBytes(metaPath),
        java.nio.charset.StandardCharsets.UTF_8)
      (rows, meta)
    } finally {
      if (spark.catalog.tableExists(qn)) spark.catalog.dropTempView(qn)
      prev match {
        case Some(v) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", v)
        case None    => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  private val kvFixture = Seq(
    KV("a", 1L, 1.0), KV("a", 2L, 5.0), KV("a", 3L, 2.0), KV("a", 4L, 7.0),
    KV("b", 1L, 9.0), KV("b", 2L, 3.0), KV("b", 3L, 11.0))

  test("tws running max: matches the fMGWS twin and registers a literal ValueState") {
    val (rows, meta) = drainWithMetadata[KV](kvFixture.toDS(), ds =>
      TwsOps.runningMaxTws(ds).toDF())
    val twin = StatefulOps.runningMax(kvFixture.toDS()).toDF()
      .collect().map(_.toString).sorted.toSeq
    assert(rows === twin)
    assert(stateVar(meta, TwsOps.Q1StateVar, "ValueState"), meta)
  }

  test("tws block average: matches the fMGWS twin and registers the counter+sum ValueStates") {
    // blocks of 3: 2 summed records + 1 trigger (emits sum/2, discarded)
    val data = (1L to 8L).map(i => KV("k", i, i.toDouble))
    val (rows, meta) = drainWithMetadata[KV](data.toDS(), ds =>
      TwsOps.blockAverageTws(ds, emitCount = 2).toDF())
    val twin = StatefulOps.blockAverage(data.toDS(), blockSize = 3, emitCount = 2).toDF()
      .collect().map(_.toString).sorted.toSeq
    assert(rows === twin)
    for (v <- Seq(TwsOps.Q2CountVar, TwsOps.Q2SumVar, TwsOps.Q2FiniteVar, TwsOps.Q2BlockVar))
      assert(stateVar(meta, v, "ValueState"), s"$v missing in $meta")
  }

  test("tws block average across two checkpoint-sharing runs equals the batch form") {
    // state reset between the runs would restart block indices and re-open
    // accumulators mid-block — both diverge from the batch twin
    val got = graft.operators.TwsQueries.blockAvgTwsCheckpointed(spark, Sf0001)
      .collect().map(_.toSeq).toSeq
    val exp = SparkEntry.queries("q2_block_avg")(spark, Sf0001)
      .collect().map(_.toSeq).toSeq
    assert(got === exp)
    assert(got.nonEmpty)
  }

  test("tws subkey max: matches the fMGWS twin and registers a literal MapState") {
    val data = Seq(
      KSV("y1", "m1", 1L, 4.0), KSV("y1", "m2", 2L, 9.0), KSV("y1", "m1", 3L, 2.0),
      KSV("y1", "m2", 4L, 1.0), KSV("y2", "m1", 1L, 5.0))
    val (rows, meta) = drainWithMetadata[KSV](data.toDS(), ds =>
      TwsOps.runningMaxBySubkeyTws(ds).toDF())
    val twin = StatefulOps.runningMaxBySubkey(data.toDS()).toDF()
      .collect().map(_.toString).sorted.toSeq
    assert(rows === twin)
    assert(stateVar(meta, TwsOps.Q3StateVar, "MapState"), meta)
  }

  test("tws sessions: event-time timers close the final session; disorder settles; metadata records EventTime + ListStates") {
    import spark.implicits._
    val base = 1700000000000L // ms
    def t(minute: Int) = new java.sql.Timestamp(base + minute * 60000L)
    // key 1 in TRUE time order: minutes 0, 8, 16 (one 10-min-gap session of
    // 3), minute 40 (a second session). The minute-8 row arrives in the
    // SECOND batch — behind state built from minute 16 — and the LAST
    // session [40,40] is followed by no data row at all: only the sentinel
    // batch's watermark advance + the trailing no-data batch firing the
    // registered event-time timer can emit it.
    val b0 = Seq(("1", t(0)), ("1", t(16))).toDF("key", "ts")
    val b1 = Seq(("1", t(8)), ("1", t(40))).toDF("key", "ts")
    val sent = Seq(("sentinel", new java.sql.Timestamp(base + 30L * 24 * 3600 * 1000L)))
      .toDF("key", "ts")
    val (rows, meta) = drainSessionWithMetadata(Seq(b0, b1, sent), 10, "600 seconds")
    val us = (m: Int) => (base + m * 60000L) * 1000L
    val got = rows.filterNot(_.contains("sentinel"))
    assert(got === Seq(
      s"[1,${us(0)},${us(16)},3]",
      s"[1,${us(40)},${us(40)},1]").sorted, rows)
    // the literal-parity witness: both window-state lists registered, and
    // the operator runs in EventTime mode (the timer column families exist
    // only then)
    assert(stateVar(meta, TwsOps.SessGensVar, "ListState"), meta)
    assert(stateVar(meta, TwsOps.SessPendVar, "ListState"), meta)
    assert(meta.contains("\\\"timeMode\\\":\\\"EventTime\\\""), meta)
  }

  test("tws sessions gate form: q13t over the disordered replay ≡ batch sessionize") {
    val got = graft.operators.TwsQueries.sessionizeTws(spark, Sf0001).collect()
    val want = graft.operators.Sessionize.sessionize(spark, Sf0001).collect()
    assert(got.length === want.length)
    assert(got.toSeq === want.toSeq)
  }

  test("tws ttl dedup: matches the fMGWS fold and registers a ValueState with REAL ttl") {
    import graft.streaming.StatefulOps.TtlRec
    val h = 600L * 1000000L // 600s horizon
    def ts(sec: Long) = new java.sql.Timestamp(sec * 1000L)
    // fp a: two occurrences 100s apart (one generation, min id 10), then a
    // 2000s gap (> horizon) opening a second generation — the close+reopen
    // branch and the cumulative re-emission both exercised in one batch
    val data = Seq(TtlRec("a", ts(1000), 20L), TtlRec("a", ts(1100), 10L),
                   TtlRec("a", ts(4000), 30L), TtlRec("b", ts(1000), 5L))
    val (rows, meta) = drainWithMetadata[TtlRec](data.toDS(), ds =>
      TwsOps.ttlDedupTws(ds, h).toDF(), noDataBatches = false)
    assert(rows === Seq(
      "[a,1000000000,10,2]", "[a,4000000000,30,1]", "[b,1000000000,5,1]").sorted, rows)
    assert(stateVar(meta, TwsOps.TtlAccVar, "ValueState"), meta)
    // the literal-TTL witness: the engine's own metadata records the state
    // variable as TTL-enabled (the store expires it, not our code)
    assert(meta.contains("\\\"ttlEnabled\\\":true"), meta)
    assert(meta.contains("\\\"timeMode\\\":\\\"ProcessingTime\\\""), meta)
  }

  test("tws ttl dedup gate form: native-TTL twin ≡ event-time-expiry twin") {
    import graft.operators.Dedup
    val got = Dedup.exactTtlTws(spark, Sf0001).collect().map(_.toSeq).toSeq
    val want = Dedup.exactTtlStreaming(spark, Sf0001).collect().map(_.toSeq).toSeq
    assert(got === want)
    assert(got.nonEmpty)
  }

  test("tws ttl dedup: an undersized TTL observably expires state — the sizing rule is load-bearing") {
    import graft.streaming.StatefulOps.{TtlOut, TtlRec}
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val h = 600L * 1000000L
    def ts(sec: Long) = new java.sql.Timestamp(sec * 1000L)
    // two batches, 150ms of processing time apart, both within the EVENT-
    // time horizon. TTL 1ms: the store expires fp a's accumulator between
    // the batches, so batch 2 opens a NEW generation — with a properly
    // sized TTL (the registered form's 1h) the same replay extends ONE
    // generation. Expiry is real, observable, and the reason the sizing
    // rule (TTL >= ingestion lag + horizon in processing time) exists.
    def run(ttl: org.apache.spark.sql.streaming.TTLConfig): Seq[(Long, Long)] = {
      val prev = spark.conf.getAll.get("spark.sql.streaming.stateStore.providerClass")
      spark.conf.set("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      // no-data batches off, or processAllAvailable never sees noNewData
      // (ProcessingTime mode always wants another batch)
      val ndKey = "spark.sql.streaming.noDataMicroBatches.enabled"
      val ndPrev = spark.conf.get(ndKey)
      spark.conf.set(ndKey, "false")
      val ckpt = java.nio.file.Files.createTempDirectory("tws-ttl-ckpt-")
      val qn = s"tws_ttl_${System.nanoTime()}"
      try {
        val mem = MemoryStream[TtlRec]
        val q = TwsOps.ttlDedupTws(mem.toDS(), h, ttl).toDF()
          .writeStream.outputMode("append").format("memory")
          .option("checkpointLocation", ckpt.toString).queryName(qn).start()
        mem.addData(TtlRec("a", ts(1000), 10L))
        q.processAllAvailable()
        Thread.sleep(150)
        mem.addData(TtlRec("a", ts(1100), 20L))
        q.processAllAvailable()
        q.stop()
        // the cumulative rows' final state per generation start
        spark.table(qn).as[TtlOut].collect().toSeq
          .groupBy(_.start_us).map { case (s, rs) => (s, rs.map(_.n_dups).max) }
          .toSeq.sortBy(_._1)
      } finally {
        if (spark.catalog.tableExists(qn)) spark.catalog.dropTempView(qn)
        spark.conf.set(ndKey, ndPrev)
        prev match {
          case Some(v) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", v)
          case None    => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
        }
      }
    }
    val tiny = run(org.apache.spark.sql.streaming.TTLConfig(java.time.Duration.ofMillis(1)))
    val sized = run(org.apache.spark.sql.streaming.TTLConfig(java.time.Duration.ofHours(1)))
    assert(sized === Seq((1000000000L, 2L)))
    assert(tiny === Seq((1000000000L, 1L), (1100000000L, 1L)))
  }

  test("tws holt-winters: matches a local restatement of the fold and registers the compound state") {
    // the COMPOUND-state witness: two ValueStates + the seasonal ring in a
    // literal ListState, all three crossing the store together. Expected
    // values come from an independent local restatement of the recurrence
    // (same binary-exact factors -> bit-identical doubles -> identical
    // Row.toString), not from the implementation under test.
    val data = (1L to 12L).map(i =>
      KV(if (i % 2 == 0) "a" else "b", i, (i * 37 % 11).toDouble))
    val (rows, meta) = drainWithMetadata[KV](data.toDS(), ds =>
      TwsOps.holtWintersTws(ds, 0.25, 0.125, 0.25, 4).toDF())
    def hw(xs: Seq[(Long, Double)]): Seq[(Long, Double, Double, Double, Double)] = {
      var started = false; var l = 0.0; var t = 0.0
      var s = Vector.fill(4)(0.0)
      xs.sortBy(_._1).map { case (ord, x) =>
        if (!started) { started = true; l = x; t = 0.0; s = Vector.fill(4)(0.0) }
        else {
          val s0 = s.head
          val l1 = 0.25 * (x - s0) + 0.75 * (l + t)
          t = 0.125 * (l1 - l) + 0.875 * t
          l = l1
          s = s.tail :+ (0.25 * (x - l) + 0.75 * s0)
        }
        (ord, l, t, s.last, l + t + s.head)
      }
    }
    val expected = data.groupBy(_.key).toSeq.flatMap { case (k, xs) =>
      hw(xs.map(x => (x.ord, x.value))).map { case (ord, l, t, sl, f) =>
        s"[$k,$ord,$l,$t,$sl,$f]" }
    }.sorted
    assert(rows === expected)
    assert(stateVar(meta, TwsOps.HwLevelVar, "ValueState"), meta)
    assert(stateVar(meta, TwsOps.HwTrendVar, "ValueState"), meta)
    assert(stateVar(meta, TwsOps.HwRingVar, "ListState"), meta)
  }

  test("tws holt-winters gate form ≡ the fMGWS seasonal-ring twin across the 2-file replay") {
    // same recurrence, two state machineries, one 2-file drain each: the
    // ring provably crosses the micro-batch boundary in BOTH and the rows
    // must agree exactly (both answer the holt_winters_by_type oracle)
    val got = graft.operators.TwsQueries.holtWintersTws(spark, Sf0001)
      .collect().map(_.toSeq).toSeq
    val want = graft.operators.StatefulQueries.holtWintersByTypeStreaming(spark, Sf0001)
      .collect().map(_.toSeq).toSeq
    assert(got === want)
    assert(got.nonEmpty)
  }

  test("tws threshold gaps: matches the fMGWS twin and registers a literal ListState") {
    val data = Seq(
      KV("k", 1L, 1.0), KV("k", 2L, 2.0), KV("k", 3L, 100.0), KV("k", 4L, 3.0),
      KV("k", 5L, 200.0), KV("k", 6L, 150.0), KV("z", 1L, 100.0))
    val (rows, meta) = drainWithMetadata[KV](data.toDS(), ds =>
      TwsOps.thresholdGapsTws(ds, 100.0).toDF())
    val twin = StatefulOps.thresholdGaps(data.toDS(), 100.0).toDF()
      .collect().map(_.toString).sorted.toSeq
    assert(rows === twin)
    assert(stateVar(meta, TwsOps.Q4StateVar, "ListState"), meta)
  }
}
