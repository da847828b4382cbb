package graft

import graft.operators.{Dedup, Sessionize, StatefulQueries, TextOps}

/** The in-gate streaming drains: session hygiene (confs restored, sink views
  * dropped), the RocksDB state-store backend, genuine multi-micro-batch
  * replay, and the order-insensitive streaming dedup — each checked against
  * its batch twin on real data (values are oracle-gated too; these pin the
  * mechanism). */
class StreamingGateSpec extends SparkSpec {

  test("a drain restores session confs and drops its sink view") {
    spark.conf.unset("spark.sql.legacy.parquet.nanosAsLong")
    val shuffleBefore = spark.conf.get("spark.sql.shuffle.partitions")
    val got = StatefulQueries.runningMaxStreaming(spark, Sf0001)
    assert(got.count() > 0)
    // the legacy-nanos flag set for the stream must not bleed into the
    // session (it changes how ANY later int64-nanos parquet is read);
    // getOption reports the registered default ("false") once restored
    assert(spark.conf.get("spark.sql.legacy.parquet.nanosAsLong") === "false")
    assert(spark.conf.get("spark.sql.shuffle.partitions") === shuffleBefore)
    val leftover = spark.catalog.listTables().collect().map(_.name)
      .filter(n => n.startsWith("stateful_stream_") || n.startsWith("doc_stream_"))
    assert(leftover.isEmpty, s"sink views leaked: ${leftover.mkString(", ")}")
  }

  test("the nanos flag is held inside the copy and drainEvents scopes, then restored") {
    val key = "spark.sql.legacy.parquet.nanosAsLong"
    spark.conf.unset(key)
    var inCopy, inDrain: Option[String] = None
    StatefulQueries.timeOrderedFilesCopy(spark, s"nanos-scope:${System.nanoTime()}",
        Seq("n0.parquet")) {
      inCopy = spark.conf.getOption(key)
      Seq(spark.range(3).toDF())
    }
    assert(!spark.conf.getAll.contains(key), "the copy left the nanos flag set")
    val drained = StatefulQueries.drainEvents(spark, Sf0001) { stream =>
      inDrain = spark.conf.getOption(key)
      stream.select(org.apache.spark.sql.functions.col("event_id"))
    }
    assert(drained.count() > 0)
    assert(inCopy.contains("true"), s"copy scope saw $inCopy")
    assert(inDrain.contains("true"), s"drainEvents scope saw $inDrain")
    assert(!spark.conf.getAll.contains(key), "drainEvents left the nanos flag set")
  }

  test("streaming scaffolds adapt to directory-layout parquet fixtures") {
    // the fixture generator has already changed events' physical encoding
    // once; the layout (bare file vs Spark-written directory dataset) is the
    // other axis it could move on, and a directory's part-* files never
    // match the single-file leaf glob — so prove both layouts drain equal
    val dir = java.nio.file.Files.createTempDirectory("graft-dirlayout").toString
    try {
      spark.read.parquet(s"$Sf0001/events.parquet")
        .write.parquet(s"$dir/events.parquet")
      spark.read.parquet(s"$Sf0001/documents.parquet")
        .write.parquet(s"$dir/documents.parquet")
      val gotE = Sessionize.tumblingHourlyStream(spark, dir)
        .collect().map(_.toSeq).toSeq
      val expE = Sessionize.tumblingHourlyStream(spark, Sf0001)
        .collect().map(_.toSeq).toSeq
      assert(gotE === expE)
      assert(gotE.nonEmpty)
      val gotD = TextOps.qualityFilterStream(spark, dir)
        .collect().map(_.toSeq).toSeq
      val expD = TextOps.qualityFilterStream(spark, Sf0001)
        .collect().map(_.toSeq).toSeq
      assert(gotD === expD)
      assert(gotD.nonEmpty)
    } finally StatefulQueries.deleteRecursively(java.nio.file.Paths.get(dir))
  }

  test("q1 on the RocksDB state store equals the declarative window form") {
    val got = StatefulQueries.runningMaxStreamingRocksDb(spark, Sf0001)
      .collect().map(_.toSeq).toSeq
    val exp = SparkEntry.queries("q1_running_max")(spark, Sf0001)
      .collect().map(_.toSeq).toSeq
    assert(got === exp)
  }

  test("q2 over two micro-batch files equals the batch form (blocks span the boundary)") {
    val nanosBefore = spark.conf.get("spark.sql.legacy.parquet.nanosAsLong")
    val got = StatefulQueries.blockAvgStreaming(spark, Sf0001)
      .collect().map(_.toSeq).toSeq
    // the ordered-copy creation reads events under the nanos flag but must
    // put the session back exactly as it found it
    assert(spark.conf.get("spark.sql.legacy.parquet.nanosAsLong") === nanosBefore)
    val exp = SparkEntry.queries("q2_block_avg")(spark, Sf0001)
      .collect().map(_.toSeq).toSeq
    assert(got === exp)
    assert(got.nonEmpty)
  }

  test("q2 across two checkpointed runs equals the batch form (state recovered on restart)") {
    val got = StatefulQueries.blockAvgCheckpointed(spark, Sf0001)
      .collect().map(_.toSeq).toSeq
    val exp = SparkEntry.queries("q2_block_avg")(spark, Sf0001)
      .collect().map(_.toSeq).toSeq
    // a state reset between runs would restart block indices and re-open
    // accumulators mid-block — both diverge from the batch form
    assert(got === exp)
    assert(got.nonEmpty)
  }

  test("streaming exact dedup equals the batch groupBy decision") {
    val got = Dedup.exactStreaming(spark, Sf0001).collect().map(_.toSeq).toSeq
    val exp = Dedup.exact(spark, Sf0001).collect().map(_.toSeq).toSeq
    assert(got === exp)
  }

  test("streaming curation manifest: owner state crosses the batch boundary") {
    import graft.operators.Pipeline
    import spark.implicits._
    // doc 90 duplicates doc 1 EXACTLY and lands in the second replay file
    // (split at maxId/2 = 45): its keep=0 can only come from the state
    // store remembering doc 1's ownership across micro-batches. doc 40
    // duplicates doc 1 within the first batch (in-batch dedup), and the
    // 'the'-free doc 2 fails the language gate while keeping its content.
    // ~100 mostly-distinct tokens with two 'the's: n_tokens caps the
    // length factor at 1.0 and stop_ratio stays tiny, so quality ≈ 0.98
    // clears the 0.5 gate; 'the' > every other language's markers → en
    val enText = "the " + (0 until 98).map(i => s"word$i").mkString(" ") + " the"
    val docs = Seq(
      (1L, enText),
      (2L, "palabras el los y muchas mas palabras distintas aqui"),
      (40L, enText),
      (90L, enText)).toDF("doc_id", "text")
    val got = Pipeline.curationManifestStreamOf(spark, docs,
        s"docs-test:${System.nanoTime()}").collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getString(3), r.getLong(4)))).toMap
    assert(got(1L)._1 === 1L)   // owner
    assert(got(40L)._1 === 0L)  // in-batch duplicate
    assert(got(90L)._1 === 0L)  // CROSS-BATCH duplicate — the state claim
    assert(got(2L) === ((1L, "es", 0L))) // kept by dedup, rejected by lang gate
    assert(got(1L)._3 === 1L)   // the only selected row
  }

  test("streaming manifest survives an id space that empties the lower split half") {
    import graft.operators.Pipeline
    import spark.implicits._
    // all ids above maxId/2: the lower half of the doc_id cut is EMPTY and
    // must be dropped from the replay, not written as a zero-row batch
    // that would fail the data-batch witness
    val docs = Seq((100L, "alpha beta gamma"), (101L, "delta epsilon zeta"))
      .toDF("doc_id", "text")
    val got = Pipeline.curationManifestStreamOf(spark, docs,
      s"docs-test-high:${System.nanoTime()}").collect()
    assert(got.map(_.getLong(0)).sorted.toSeq === Seq(100L, 101L))
  }

  test("out-of-order TTL dedup: a cross-batch late arrival lands in its true generation") {
    import spark.implicits._
    import graft.streaming.StatefulOps
    val h = 600L * 1000000L // 600s horizon
    def ts(sec: Long) = new java.sql.Timestamp(sec * 1000L)
    // fp "a" in TRUE time order: 1000s, 1500s, 2000s — every gap 500s is
    // within the horizon, so the data-driven rule says ONE generation
    // (start 1000s, keep id 10, n=3). The 1500s row is held back to the
    // SECOND micro-batch: it arrives behind state already built from the
    // 2000s row, late but inside the 700s watermark slack.
    val b0 = Seq(("a", ts(1000), 10L), ("a", ts(2000), 20L)).toDF("fp", "ts", "id")
    val b1 = Seq(("a", ts(1500), 15L)).toDF("fp", "ts", "id")
    val sent = Seq((Dedup.TtlSentinelFp, ts(100000000L), -1L)).toDF("fp", "ts", "id")
    def run(op: (org.apache.spark.sql.Dataset[StatefulOps.TtlRec], Long) =>
                org.apache.spark.sql.Dataset[StatefulOps.TtlOut], tag: String) =
      Dedup.ttlReplayOf(spark, Seq(b0, b1, sent),
          s"ttl-ooo-fixture-$tag:${System.nanoTime()}", h, "700 seconds", op)
        .collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    val expected = Seq(("a", 1000L * 1000000L, 10L, 3L))
    assert(run(StatefulOps.ttlDedupOooStream, "new") === expected)
    // the base op's gap-vs-last-seen rule provably mis-generations this
    // fixture (the late row's negative gap folds it into the 2000s
    // generation instead of bridging 1000s and 2000s into one) — the
    // disorder is real, not a vacuous replay the old op also survives
    assert(run(StatefulOps.ttlDedupStream, "old") !== expected)
  }

  test("out-of-order TTL dedup matches the ordered form on the real disordered replay") {
    // the gate query itself: disordered split of the events stream, same
    // lag-window oracle as the ordered replay — equality of the two
    // DataFrames is exactly the order-insensitivity claim
    val ooo = Dedup.exactTtlOooStreaming(spark, Sf0001).collect().map(_.toSeq).toSeq
    val ord = Dedup.exactTtlStreaming(spark, Sf0001).collect().map(_.toSeq).toSeq
    assert(ooo === ord)
    assert(ooo.nonEmpty)
  }

  test("TTL'd streaming dedup bounds state and matches the lag-window sessionization") {
    // the drain itself REQUIRES the expiry witness (rows removed by the
    // event-time timeout, <=1 state row after the final batch) — a run in
    // which expired fingerprints were never dropped throws before returning
    val got = Dedup.exactTtlStreaming(spark, Sf0001)
    val rows = got.collect()
    val nFps = rows.map(_.getString(0)).distinct.length
    // the horizon is non-trivial on this data: some fingerprint's
    // occurrences split into >1 generation (gap > 24h), so the break rule
    // is actually exercised, not vacuously green
    assert(rows.length > nFps,
      s"expected more generations (${rows.length}) than fingerprints ($nFps)")
    // generations partition each fingerprint's occurrences: totals add up
    // to the event count, and keep_id is the generation's first event
    import org.apache.spark.sql.functions._
    val nEvents = graft.io.Tables.events(spark, Sf0001).count()
    assert(rows.map(_.getLong(3)).sum === nEvents)
  }

  test("attribution streaming twin equals the batch conditional-window form") {
    val got = StatefulQueries.attributionLastTouchStreaming(spark, Sf0001)
      .collect().map(_.toSeq).toSeq
    val exp = Sessionize.attributionLastTouch(spark, Sf0001)
      .collect().map(_.toSeq).toSeq
    assert(got.nonEmpty)
    assert(got === exp)
  }
}
