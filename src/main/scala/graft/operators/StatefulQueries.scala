package graft.operators

import org.apache.spark.sql.{DataFrame, Encoder, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType
import graft.io.{LocalCheckpointFileManager, Tables}
import graft.streaming.StatefulOps
import graft.streaming.StatefulOps.{KSV, KV}

/** The streaming keyed-state operators run against the driver tables in
  * BATCH mode (flatMapGroupsWithState executes on bounded Datasets too) and
  * registered under the same oracle SQL as their window-function twins —
  * i.e. the correctness gate itself proves stateful-form ≡ declarative-form.
  *
  * Ordering note: `event_id` is verified monotone in (ts, event_id) across
  * all scale factors, so it serves as the per-key arrival order `ord`; if a
  * dataset ever violated that, the oracle hash (ordered by ts, event_id)
  * would catch it.
  */
object StatefulQueries {

  private implicit val kvEnc: Encoder[KV] = Encoders.product[KV]
  private implicit val ksvEnc: Encoder[KSV] = Encoders.product[KSV]

  /** Shape a (key, ...) frame so a downstream COLUMN-form grouping
    * (`groupBy(col("key")).as[K, T]`) satisfies the group-exec's required
    * distribution AND ordering in the plan: hash-partition on the key, sort
    * (key, ord) within partitions. The exec then inserts NO exchange and NO
    * sort, and each group's iterator arrives ord-sorted — the contract the
    * `*Ordered` one-pass folds in [[StatefulOps]] consume.
    * OrderedStatefulSpec pins this plan shape. */
  private def orderedByKey(df: DataFrame): org.apache.spark.sql.RelationalGroupedDataset =
    df.repartition(col("key"))
      .sortWithinPartitions(col("key"), col("ord"))
      .groupBy(col("key"))

  /** Q1 stateful form: running max value per year, per record — a single
    * lazy pass over plan-ordered groups (O(1) memory per key; the slice
    * sort + buffer lives only in the streaming twins, where micro-batch
    * slices cannot be plan-ordered). */
  def runningMaxStateful(spark: SparkSession, sfDir: String): DataFrame = {
    val kv = Tables.events(spark, sfDir)
      .select(year(col("ts")).cast("string").as("key"),
              col("event_id").as("ord"), col("value"))
    StatefulOps.runningMaxOrdered(
        orderedByKey(kv).as[String, KV](Encoders.STRING, kvEnc)).toDF()
      .select(col("ord").as("event_id"), col("key").cast("long").as("yr"),
              col("out").as("run_max"))
      .orderBy(col("event_id"))
  }

  /** The ONE memory-sink drain scaffold behind every in-gate streaming
    * query: write `out` (a streaming DataFrame) to an append-mode memory
    * sink under a unique name, run to completion (Trigger.AvailableNow),
    * run `check` against the finished query (a witness:
    * [[requireDataBatches]], [[requireStateBounded]]), then materialize
    * the rows and DROP the sink view. The drop happens on
    * EVERY path — a failure mid-drain (or a failed check) must not leave
    * the view and its driver-held rows behind, or each bench repetition
    * would leak a full result set. `stateWidth` narrows the shuffle (=
    * state store instance count) for stateful ops; stateless projections
    * leave it unset. */
  private[graft] def drainToMemory(
      spark: SparkSession, out: DataFrame, stateWidth: Option[Int] = None,
      outputMode: String = "append")(
      check: StreamingQuery => Unit = _ => ()): DataFrame = {
    val qn = s"stateful_stream_${System.nanoTime()}"
    def run(): DataFrame =
      try {
        val q = out.writeStream.outputMode(outputMode).format("memory")
          .queryName(qn).trigger(Trigger.AvailableNow()).start()
        q.awaitTermination()
        check(q)
        materializeAndDrop(spark, qn)
      } finally {
        if (spark.catalog.tableExists(qn)) spark.catalog.dropTempView(qn)
      }
    withDrainConf(spark, stateWidth)(run())
  }

  /** Witness: the drain ran at least `min` data micro-batches, so its
    * state really crossed a batch boundary — read from the query's own
    * progress records. Vacuous (passes) when the query's total input was
    * at most `vacuousAtRows` rows: an empty corpus, or a replay of only
    * its sentinel rows, has no cross-batch state to witness. The default
    * (−1) is never vacuous. */
  private[graft] def requireDataBatches(q: StreamingQuery, min: Int, what: String,
                                        vacuousAtRows: Long = -1L): Unit = {
    val ps = q.recentProgress
    val dataBatches = ps.count(_.numInputRows > 0)
    require(ps.map(_.numInputRows).sum <= vacuousAtRows || dataBatches >= min,
      s"requireDataBatches: expected >= $min data micro-batches, saw $dataBatches — " +
        s"$what did not exercise cross-batch state")
  }

  /** Witness: the watermark (or timers) bounded the drain's state —
    * progress was recorded, rows left the store (unless total input was
    * at most 1 row: a sentinel alone parks state with nothing to evict),
    * and at most `maxLeft` rows survive the final batch. Reads state
    * operator 0, so it is only for plans with ONE state operator. */
  private[graft] def requireStateBounded(q: StreamingQuery, maxLeft: Long,
                                         what: String): Unit = {
    val ps = q.recentProgress
    val progs = ps.filter(_.stateOperators.nonEmpty)
    require(progs.nonEmpty, s"requireStateBounded: no state-operator progress recorded ($what)")
    val removed = progs.map(_.stateOperators(0).numRowsRemoved).sum
    val left = progs.last.stateOperators(0).numRowsTotal
    require((removed > 0 || ps.map(_.numInputRows).sum <= 1) && left <= maxLeft,
      s"requireStateBounded: $what did not bound state: removed=$removed, " +
        s"left=$left (at most $maxLeft may stay)")
  }

  private val ShuffleWidthKey = "spark.sql.shuffle.partitions"
  private val ProviderClassKey = "spark.sql.streaming.stateStore.providerClass"
  private val MemoryDrainProvider =
    "org.apache.spark.sql.execution.streaming.state.GraftMemoryStateStoreProvider"
  private val RocksDbProvider =
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

  /** Run `body` with each `key -> value` set on the session conf, restoring
    * every key on every path (a failed `set` included): a key that was
    * unset before is unset again, any other gets its prior value back.
    * "Unset" means not explicitly set — restoring a defaulted key's default
    * as an explicit value would turn it into a pin, and [[withDrainConf]]
    * reads an explicit provider or checkpoint manager as the caller's
    * choice. */
  private def withConf[T](spark: SparkSession, kvs: (String, String)*)(body: => T): T = {
    val explicit = spark.conf.getAll
    val prior = kvs.map { case (k, _) => k -> explicit.get(k) }
    try {
      kvs.foreach { case (k, v) => spark.conf.set(k, v) }
      body
    } finally prior.reverseIterator.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }

  /** The drain conf scope: every `writeStream` in this library starts
    * inside it. For the run of `body` it sets
    *  - the shuffle width (= state store instance count) to
    *    `min(width, defaultParallelism)`, if a width is given. `width` is
    *    the caller's ceiling, sized to the key cardinality; the cap keeps
    *    every state store of a micro-batch in one wave of task slots (the
    *    engine runs one state-store task per shuffle partition per batch,
    *    so 8 stores on 4 slots ran two waves and waited for cores). Hosts
    *    with at least `width` slots run at `width`;
    *  - the checkpoint file manager to [[LocalCheckpointFileManager]]:
    *    the engine default forks `chmod`/`readlink` processes for every
    *    offset-log, commit-log and state file it writes without the native
    *    Hadoop library, about ten per file, on every micro-batch's critical
    *    path;
    *  - the state store provider to the heap-only
    *    [[org.apache.spark.sql.execution.streaming.state.GraftMemoryStateStoreProvider]]:
    *    the drains are bounded single-JVM replays over ephemeral
    *    checkpoints, so the engine default's per-batch delta-file writes buy
    *    no recovery anyone can use (measured 50–90 ms of summed
    *    commitTimeMs per store instance per batch on kilobyte state,
    *    ProbeDrainBreakdown, r20). Not for `keepProvider` bodies: a query
    *    restarted from its checkpoint needs its state back, and a stateful
    *    foreachBatch sink's commit validation counts commit reports that
    *    only the engine providers send.
    * Guard: an EXPLICITLY set provider or checkpoint manager — a caller's
    * pin, the engine default's class name included — wins over the swap,
    * so `withRocksDbStateStore` and the TWS family keep measuring the
    * production provider, and pinning `HDFSBackedStateStoreProvider`
    * keeps the engine default (production guidance: multi-node or
    * fault-tolerant jobs, or state larger than heap, keep the
    * engine/RocksDB providers — the memory provider cannot reload state
    * after executor loss). */
  private[operators] def withDrainConf[T](spark: SparkSession, width: Option[Int],
                                          keepProvider: Boolean = false)(body: => T): T = {
    val pinned = spark.conf.getAll.keySet
    val memoryState = !keepProvider && !pinned(ProviderClassKey)
    val slots = spark.sparkContext.defaultParallelism
    val kvs = width.map(w => ShuffleWidthKey -> math.min(w, slots).toString).toSeq ++
      Option.when(!pinned(LocalCheckpointFileManager.ConfKey))(
        LocalCheckpointFileManager.ConfKey -> classOf[LocalCheckpointFileManager].getName) ++
      Option.when(memoryState)(ProviderClassKey -> MemoryDrainProvider)
    withConf(spark, kvs: _*)(body)
  }

  /** Run `body` with NO-DATA micro-batches disabled, restoring the session
    * value afterwards. `TimeMode.ProcessingTime` operators report
    * `shouldRunAnotherBatch=true` unconditionally (processing-time
    * timers/TTL may always have pending work), so with no-data batches
    * enabled a Trigger.AvailableNow drain schedules empty batches FOREVER
    * (and `processAllAvailable` never sees `noNewData`). A drain whose
    * operator needs no end-of-stream flush — the native-TTL dedup's
    * emission is cumulative — disables them for the run instead. */
  private[operators] def withNoDataBatchesDisabled[T](spark: SparkSession)(body: => T): T =
    withConf(spark, "spark.sql.streaming.noDataMicroBatches.enabled" -> "false")(body)

  /** Run `body` with the stateful-shuffle width (= state store instance
    * count) narrowed to `w`, restoring the session value afterwards. */
  private[operators] def withShuffleWidth[T](spark: SparkSession, w: Int)(body: => T): T =
    withConf(spark, ShuffleWidthKey -> w.toString)(body)

  /** Drive `op` through the REAL micro-batch engine over the raw `events`
    * file stream ([[Tables.streamTable]], normalized): readStream → op →
    * `outputMode` memory sink, drained synchronously at state width 8
    * capped at the task slots ([[withDrainConf]]) — every shuffle
    * partition is a state store instance paying snapshot+commit work per
    * micro-batch, so width is sized to the key cardinality (years / event
    * types / hour buckets), not the session default. The nanos flag is
    * held while the stream is built and drained, and restored after, like
    * the width. */
  private[graft] def drainEvents(spark: SparkSession, sfDir: String,
                                 outputMode: String = "append")
                                (op: DataFrame => DataFrame): DataFrame =
    withNanosAsLong(spark) {
      val stream = Tables.normalizeEvents(Tables.streamTable(spark, sfDir, "events"))
      drainToMemory(spark, op(stream), stateWidth = Some(8), outputMode)()
    }

  /** Run `body` with `spark.sql.legacy.parquet.nanosAsLong=true`, restoring
    * the previous value on every path — the flag changes how ANY
    * int64-nanos parquet column is read, so it must not outlive the scope
    * that needed it. Held only by [[drainEvents]] and
    * [[timeOrderedFilesCopy]]: the copies themselves carry no nanos
    * column, so their replays read without it. */
  private def withNanosAsLong[T](spark: SparkSession)(body: => T): T =
    withConf(spark, "spark.sql.legacy.parquet.nanosAsLong" -> "true")(body)

  /** Drain scaffold over the `documents` parquet (layout-adaptive via
    * [[Tables.streamTable]]), shared by the
    * streaming corpus ops ([[TextOps.qualityFilterStream]],
    * [[Dedup.exactStreaming]]): readStream file source → op → append-mode
    * memory sink, drained synchronously (Trigger.AvailableNow).
    * `stateWidth` narrows the shuffle (= state store instance count) for
    * stateful ops; stateless projections leave it unset. */
  private[operators] def drainDocuments(spark: SparkSession, sfDir: String,
                                        stateWidth: Option[Int] = None)
                                       (op: DataFrame => DataFrame): DataFrame = {
    val stream = Tables.streamTable(spark, sfDir, "documents")
    drainToMemory(spark, op(stream), stateWidth)()
  }

  /** Materialize a memory-sink table and DROP its temp view: each drain
    * otherwise leaks a full result set into driver memory per bench
    * repetition. localCheckpoint is eager, so the rows survive the drop. */
  private[operators] def materializeAndDrop(spark: SparkSession, qn: String): DataFrame = {
    val out = spark.table(qn).localCheckpoint()
    spark.catalog.dropTempView(qn)
    out
  }

  /** Q1 through the real micro-batch engine, registered under q1's oracle. */
  def runningMaxStreaming(spark: SparkSession, sfDir: String): DataFrame =
    drainEvents(spark, sfDir) { stream =>
      StatefulOps.runningMax(stream
        .select(year(col("ts")).cast("string").as("key"),
                col("event_id").as("ord"), col("value"))
        .as[KV](kvEnc)).toDF()
    }
      .select(col("ord").as("event_id"), col("key").cast("long").as("yr"),
              col("out").as("run_max"))
      .orderBy(col("event_id"))

  /** Q1 through the real micro-batch engine on the ROCKSDB state store —
    * the state-larger-than-heap backend a 100 TB streaming job runs on
    * (the default HDFS-backed provider keeps every key's state on-heap;
    * RocksDB spills to local SSD and ships changelogs). Same plan, same
    * oracle as q1r: only the provider swaps, which is exactly the claim —
    * the operator code is backend-agnostic. */
  def runningMaxStreamingRocksDb(spark: SparkSession, sfDir: String): DataFrame =
    withRocksDbStateStore(spark)(runningMaxStreaming(spark, sfDir))

  /** Run `body` with the RocksDB state store provider, restoring the
    * session value on every path — shared by every provider-swap form
    * (q1rdb, the TTL-dedup RocksDB twin) and by transformWithState, which
    * REQUIRES it (each TWS state variable is a column family; the
    * HDFS-backed provider supports only one). */
  private[operators] def withRocksDbStateStore[T](spark: SparkSession)(body: => T): T =
    withConf(spark, ProviderClassKey -> RocksDbProvider)(body)

  /** Drive a streaming op over Spark's SOCKET source: serve `chunks` of
    * text lines from an in-process loopback server ([[graft.io.SocketText]]),
    * run `op` on the `value: String` stream, drain to a memory sink. The
    * socket source has no replay and no end-of-stream marker, so the drain
    * is coordinated by OBSERVATION: chunk N+1 is sent only after the query
    * has written `expected(N)` rows (cumulative output counts per chunk),
    * which both detects completion and forces a micro-batch boundary
    * between chunks — chunk 2's rows provably fold into state written by an
    * earlier batch. The connection stays open until the query stops (the
    * source treats EOF as failure); `check` runs against the live query
    * after the last chunk lands (e.g. the ≥2-batch witness). */
  private[graft] def drainSocket(
      spark: SparkSession, chunks: Seq[Seq[String]], expected: Seq[Long])(
      op: DataFrame => DataFrame)(
      check: StreamingQuery => Unit = _ => ()): DataFrame =
    withDrainConf(spark, Some(8)) {
      require(chunks.length == expected.length && expected == expected.sorted,
        "expected must give a cumulative sink row count per chunk")
      val srv = new graft.io.SocketText()
      try {
        val stream = spark.readStream.format("socket")
          .option("host", srv.host).option("port", srv.port).load()
        val qn = s"socket_stream_${System.nanoTime()}"
        try {
          val q = op(stream).writeStream.outputMode("append").format("memory")
            .queryName(qn).start()
          try {
            srv.accept()
            val rowsByBatch = scala.collection.mutable.Map.empty[Long, Long]
            chunks.zip(expected).foreach { case (chunk, n) =>
              srv.send(chunk)
              awaitSinkRows(q, n, rowsByBatch)
            }
            check(q)
          } finally { q.stop(); q.awaitTermination() }
          materializeAndDrop(spark, qn)
        } finally {
          if (spark.catalog.tableExists(qn)) spark.catalog.dropTempView(qn)
        }
      } finally srv.close()
    }

  /** Wait until the running query `q` has written `n` rows, read from its
    * own progress reports (summed `sink.numOutputRows`) — the socket
    * drain's only completion signal, since the source cannot say "done".
    * Reading progress runs no Spark job, where counting the memory sink ran
    * one per poll. `rowsByBatch` remembers each batch's count by id across
    * calls, so a batch that ages out of `recentProgress` is still counted;
    * an idle trigger's report carries no sink count (-1) and counts 0. The
    * deadline turns a wedged stream into a diagnosis instead of a hang, and
    * a failed query fails the wait at once. */
  private def awaitSinkRows(q: StreamingQuery, n: Long,
                            rowsByBatch: scala.collection.mutable.Map[Long, Long],
                            timeoutMs: Long = 120000): Unit = {
    def written(): Long = {
      q.recentProgress.foreach { p =>
        rowsByBatch(p.batchId) = math.max(rowsByBatch.getOrElse(p.batchId, 0L),
                                          p.sink.numOutputRows)
      }
      rowsByBatch.values.sum
    }
    val deadline = System.nanoTime() + timeoutMs * 1000000L
    var cur = written()
    while (cur < n) {
      q.exception.foreach(e => throw e)
      if (System.nanoTime() > deadline)
        sys.error(s"socket drain stalled: sink ${q.name} holds $cur of $n expected rows")
      Thread.sleep(25)
      cur = written()
    }
  }

  /** Q1 over the SOCKET source, registered under q1's oracle — the
    * push-based, non-replayable ingest shape (Flink's `socketTextStream`
    * family). The events rows travel as a "key,ord,value" text protocol in
    * two observation-separated chunks, so the running max provably crosses
    * a micro-batch boundary through keyed state; `Double.toString` →
    * string-cast round-trips every double bit-exactly, so the oracle hash
    * is unchanged. Producer-side collect is inherent to the source (Spark's
    * socket ingest is driver-side by design — see [[graft.io.SocketText]]);
    * the distributed-ingest twins are q1r (file replay) and the JDBC scan. */
  def runningMaxSocketStream(spark: SparkSession, sfDir: String): DataFrame = {
    val lines = Tables.events(spark, sfDir)
      .select(year(col("ts")).cast("string").as("key"),
              col("event_id").as("ord"), col("value"))
      .orderBy(col("ord"))
      .collect()
      .map(r => s"${r.getString(0)},${r.getLong(1)},${java.lang.Double.toString(r.getDouble(2))}")
    val (a, b) = lines.splitAt(lines.length / 2)
    drainSocket(spark, Seq(a.toSeq, b.toSeq), Seq(a.length.toLong, lines.length.toLong)) {
      stream =>
        StatefulOps.runningMax(stream
          .select(split(col("value"), ",").as("f"))
          .select(col("f").getItem(0).as("key"),
                  col("f").getItem(1).cast("long").as("ord"),
                  col("f").getItem(2).cast("double").as("value"))
          .as[KV](kvEnc)).toDF()
    }()
      .select(col("ord").as("event_id"), col("key").cast("long").as("yr"),
              col("out").as("run_max"))
      .orderBy(col("event_id"))
  }

  /** Q2 through the real micro-batch engine in ≥2 MICRO-BATCHES, registered
    * under q2's oracle — the in-gate proof of the stateful block INDEX: it
    * comes from the operator's keyed state ([[StatefulOps.blockAverage]]),
    * and because the input is split into two time-ordered files drained with
    * `maxFilesPerTrigger(1)`, blocks genuinely SPAN the batch boundary here
    * (10k events / 51 per block — dozens of blocks straddle the midpoint),
    * so a per-batch re-rank would fail the oracle hash. */
  def blockAvgStreaming(spark: SparkSession, sfDir: String): DataFrame = {
    val copyDir = orderedEventsCopy(spark, sfDir)
    drainOrderedFiles(spark, copyDir, minBatches = 2) { stream =>
      StatefulOps.blockAverage(stream
        .select(col("event_type").as("key"), col("event_id").as("ord"), col("value"))
        .as[KV](kvEnc)).toDF()
    }
      .select(col("key").as("event_type"), col("block"), col("out").as("avg_value"))
      .orderBy(col("event_type"), col("block"))
  }

  /** Q2 through TWO SEPARATE streaming query RUNS sharing one checkpoint —
    * the in-gate proof of CHECKPOINT RECOVERY, the streaming claim
    * otherwise covered only by unit tests: run 1 drains the first half of
    * events to a parquet file sink and stops; run 2 starts from the same
    * checkpoint, recovers the state store (each key's open block
    * accumulator AND its block index) plus the source offsets, and
    * processes only the second half. The combined sink output answers q2's
    * oracle, so wrong recovery — state reset, input re-read, block indices
    * restarting at 0 — fails the hash. This is the 100 TB operational
    * story: a streaming curation job must survive restarts mid-corpus
    * without recomputing or corrupting keyed state. */
  def blockAvgCheckpointed(spark: SparkSession, sfDir: String): DataFrame = {
    import java.nio.file.{Files, Paths}
    val copyDir = orderedEventsCopy(spark, sfDir)
    val work = Files.createTempDirectory("graft-q2c-")
    val srcDir = Files.createDirectory(work.resolve("src"))
    val ckpt = work.resolve("ckpt").toString
    val outDir = work.resolve("out").toString
    val schema = copySchema(spark, copyDir)
    def runOnce(): Unit = withDrainConf(spark, Some(8), keepProvider = true) {
      val stream = spark.readStream.schema(schema).parquet(srcDir.toString)
      val out = StatefulOps.blockAverage(stream
        .select(col("event_type").as("key"), col("event_id").as("ord"), col("value"))
        .as[KV](kvEnc)).toDF()
      val q = out.writeStream.outputMode("append")
        .option("checkpointLocation", ckpt)
        .format("parquet").option("path", outDir)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    Files.copy(Paths.get(copyDir, "ev0.parquet"), srcDir.resolve("ev0.parquet"))
    runOnce()
    Files.copy(Paths.get(copyDir, "ev1.parquet"), srcDir.resolve("ev1.parquet"))
    runOnce()
    // materialize, then delete the whole work dir (copies, checkpoint, sink):
    // bench repetitions must not accumulate per-run disk
    val result = spark.read.parquet(outDir)
      .select(col("key").as("event_type"), col("block"), col("out").as("avg_value"))
      .orderBy(col("event_type"), col("block"))
      .localCheckpoint()
    deleteRecursively(work)
    result
  }

  // graft-wide: test suites (VerifySpec, StreamingGateSpec) clean their
  // fixture temp dirs through this too
  private[graft] def deleteRecursively(p: java.nio.file.Path): Unit = {
    import java.nio.file.Files
    import scala.jdk.CollectionConverters._
    val walk = Files.walk(p)
    try walk.sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
      .iterator().asScala.foreach(Files.deleteIfExists(_))
    finally walk.close()
  }

  /** Per-JVM cache of time-ordered file copies, keyed by copy kind + sfDir —
    * bench repetitions must not rewrite the copy every run. */
  private val copyCache =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** Each copy's schema, keyed by its directory ([[copySchema]]). */
  private val copySchemas =
    new java.util.concurrent.ConcurrentHashMap[String, StructType]()

  /** Write `frames` as single parquet files named `names`, with modification
    * times 60s apart, so a `maxFilesPerTrigger(1)` file stream replays them
    * as time-ordered micro-batches (the file source lists pending files
    * oldest-mtime-first). Cached per `cacheKey`; its schema is kept by
    * [[copySchema]]. The writes run under the nanos flag
    * ([[withNanosAsLong]]), which `Tables.events` frames need at execution;
    * a cache hit sets nothing. */
  private[graft] def timeOrderedFilesCopy(
      spark: SparkSession, cacheKey: String, names: Seq[String])
      (frames: => Seq[DataFrame]): String =
    copyCache.computeIfAbsent(cacheKey, _ => withNanosAsLong(spark) {
      import java.nio.file.Files
      val fs = frames
      // the thunk may return FEWER frames than names (it sees the data and
      // drops empty halves — see Sessionize.sessionizeStreaming); extra
      // names are unused
      require(fs.size <= names.size, s"${fs.size} frames for ${names.size} names")
      val dir = Files.createTempDirectory("graft-ordered-copy-")
      val t0 = System.currentTimeMillis() - 60000L * (names.size + 1)
      fs.zip(names).zipWithIndex.foreach { case ((df, name), i) =>
        val tmp = dir.resolve(s"stage-$i")
        df.coalesce(1).write.parquet(tmp.toString)
        val listing = Files.list(tmp)
        val part =
          try listing.filter(_.getFileName.toString.endsWith(".parquet"))
            .findFirst().orElseThrow()
          finally listing.close()
        val dest = dir.resolve(name)
        Files.move(part, dest)
        // drop the write scaffolding (_SUCCESS, .crc) — the copy dir must
        // contain EXACTLY the replay files, so consumers can count them
        deleteRecursively(tmp)
        dest.toFile.setLastModified(t0 + 60000L * i)
      }
      dir.toString
    })

  /** The schema of a [[timeOrderedFilesCopy]] dir, inferred by one batch
    * read of the finished copy on first use and kept beside it: a copy is
    * never rewritten, so every later replay reads the kept schema. */
  private[graft] def copySchema(spark: SparkSession, dir: String): StructType =
    copySchemas.computeIfAbsent(dir, _ => spark.read.parquet(dir).schema)

  /** The one-file-per-trigger replay source over a [[timeOrderedFilesCopy]]
    * dir: schema pinned from the copy ([[copySchema]]: file streams need
    * one, and a copy's is inferred once, not per replay) and
    * `maxFilesPerTrigger` = 1, so each file is its own micro-batch
    * (Trigger.AvailableNow honors the read limit). */
  private[graft] def replayStream(spark: SparkSession, dir: String): DataFrame =
    spark.readStream.schema(copySchema(spark, dir))
      .option("maxFilesPerTrigger", "1").parquet(dir)

  /** The one foreachBatch drain: replay `dir` ([[replayStream]]) through
    * the real engine (AvailableNow) and hand each micro-batch and its id to
    * `perBatch`. Requires at least `minBatches` data micro-batches, so a
    * collapsed replay fails loudly. */
  private[operators] def replayForeachBatch(spark: SparkSession, dir: String, minBatches: Int)
                                           (perBatch: (DataFrame, Long) => Unit): Unit = {
    val stream = replayStream(spark, dir)
    withDrainConf(spark, Some(8)) {
      val q = stream.writeStream.outputMode("append")
        .trigger(Trigger.AvailableNow())
        .foreachBatch { (b: DataFrame, id: Long) => perBatch(b, id) }
        .start()
      q.awaitTermination()
      requireDataBatches(q, minBatches, s"the $minBatches-file foreachBatch replay")
    }
  }

  /** The shared VERSIONED-REPLAY JOURNAL recipe (held ONCE — r18 review:
    * the dedup-snapshot and IVF-append builders had copied it and already
    * drifted on shuffle width): replay `frames` as one-file micro-batches
    * through [[replayForeachBatch]] and hand each batch to `perBatch`,
    * which must write idempotently to `v=<batchId>` merging only against
    * versions BELOW its id (the SCD2 convention — a replayed batch then
    * converges instead of double-appending). */
  private[operators] def versionedReplayJournal(
      spark: SparkSession, copyTag: String, names: Seq[String],
      frames: => Seq[DataFrame], minBatches: Int)
      (perBatch: (DataFrame, Long) => Unit): Unit =
    replayForeachBatch(spark, timeOrderedFilesCopy(spark, copyTag, names)(frames),
      minBatches)(perBatch)

  /** Median-time split + far-future sentinel: the replay shape of every
    * watermark-driven drain, held ONCE (session windows, TTL dedup — a fix
    * to the split contract must not have to land twice). `ev` splits at
    * the µs value of its median row (median by `idCol`, ties on the EARLY
    * side — with a 0-second watermark delay an exact-tie row in the later
    * file would sit on the late-data boundary), an upper half left empty
    * by tie placement is dropped, and `sentinel(maxUs)` lands last so its
    * watermark advance lets the engine's trailing no-data batch fire every
    * real key's event-time timeout. A NULL conditional max (an id space
    * not starting near 0, so no row satisfies id <= maxId/2) falls back to
    * the flush-only single-file path. `project` shapes the data files'
    * final schema (it is NOT applied to the sentinel frame — the caller's
    * sentinel already carries that schema). */
  private[operators] def medianSplitWithSentinel(
      ev: DataFrame, idCol: String, tsCol: String,
      project: DataFrame => DataFrame = identity)
      (sentinel: Long => DataFrame): Seq[DataFrame] = {
    val maxIdRow = ev.agg(max(col(idCol))).head()
    if (maxIdRow.isNullAt(0)) Seq(sentinel(0L)) // empty input: flush-only
    else {
      val bounds = ev.agg(
        max(when(col(idCol) <= maxIdRow.getLong(0) / 2, unix_micros(col(tsCol)))),
        max(unix_micros(col(tsCol)))).head()
      val maxUs = bounds.getLong(1)
      val midUs = if (bounds.isNullAt(0)) maxUs else bounds.getLong(0)
      val lower = project(ev.filter(unix_micros(col(tsCol)) <= midUs))
      val upper = project(ev.filter(unix_micros(col(tsCol)) > midUs))
      if (maxUs > midUs) Seq(lower, upper, sentinel(maxUs))
      else Seq(lower, sentinel(maxUs))
    }
  }

  /** [[medianSplitWithSentinel]] with deliberate CROSS-BATCH DISORDER: the
    * even-id rows up to `slackUs` PAST the median cut ride in the FIRST
    * file, while their odd-id time-neighbors stay in the second — so the
    * second micro-batch delivers rows that sort strictly before state the
    * first batch already built from later event times. This is the
    * adversarial replay of a real source's watermark slack: the consumer
    * must tolerate late-but-within-watermark arrival (its watermark delay
    * must cover `slackUs`, or the engine drops the held-back rows and the
    * oracle diverges). The sentinel contract is [[medianSplitWithSentinel]]'s. */
  private[operators] def disorderedSplitWithSentinel(
      ev: DataFrame, idCol: String, tsCol: String, slackUs: Long)
      (sentinel: Long => DataFrame): Seq[DataFrame] = {
    val maxIdRow = ev.agg(max(col(idCol))).head()
    if (maxIdRow.isNullAt(0)) Seq(sentinel(0L)) // empty input: flush-only
    else {
      val bounds = ev.agg(
        max(when(col(idCol) <= maxIdRow.getLong(0) / 2, unix_micros(col(tsCol)))),
        max(unix_micros(col(tsCol)))).head()
      val maxUs = bounds.getLong(1)
      val midUs = if (bounds.isNullAt(0)) maxUs else bounds.getLong(0)
      val us = unix_micros(col(tsCol))
      // "pulled forward": even-id rows from the slack window arrive EARLY
      // (first file); their odd-id neighbors then arrive LATE relative to
      // the watermark those rows advanced
      val pulled = col(idCol) % 2 === 0 && us <= midUs + slackUs
      val first = ev.filter(us <= midUs || pulled)
      val second = ev.filter(us > midUs && !pulled)
      // an upper half emptied by the pull must be dropped, not written as a
      // zero-row batch
      if (second.isEmpty) Seq(first, sentinel(maxUs))
      else Seq(first, second, sentinel(maxUs))
    }
  }

  /** CUSUM parameters shared by the Spark forms and the recursive oracle
    * (SparkEntry) so the two sides cannot drift: target 50.00 drifts the
    * statistic upward (70 alarms / 1801 resets at sf0.01 — both the
    * accumulate and reset paths exercised), alarm threshold 500.00. */
  val CusumTargetCents = 5000L
  val CusumAlarmCents  = 50000L

  /** CUSUM drift detection per event_type — the batch execution: a single
    * lazy pass over plan-ordered groups (O(1) state), like q1s–q4s. The
    * reset makes the recurrence non-associative, so this operator is
    * stateful-or-nothing even in batch: no window frame can express it —
    * the first such class beyond the reference four. The oracle is a
    * DuckDB RECURSIVE CTE computing the same integer-exact recurrence. */
  def cusumByType(spark: SparkSession, sfDir: String): DataFrame = {
    val kv = Tables.events(spark, sfDir)
      .select(col("event_type").as("key"), col("event_id").as("ord"), col("value"))
    StatefulOps.cusumOrdered(
        orderedByKey(kv).as[String, KV](Encoders.STRING, kvEnc),
        CusumTargetCents, CusumAlarmCents).toDF()
      .select(col("ord").as("event_id"), col("key").as("event_type"),
              col("cusum"), col("alarm"))
      .orderBy(col("event_id"))
  }

  /** [[cusumByType]] through the REAL micro-batch engine over the
    * two-file median replay: the running statistic (and a reset boundary)
    * crosses the micro-batch boundary in state — same oracle. */
  def cusumByTypeStreaming(spark: SparkSession, sfDir: String): DataFrame = {
    val copyDir = orderedEventsCopy(spark, sfDir)
    drainOrderedFiles(spark, copyDir, minBatches = 2) { stream =>
      StatefulOps.cusumStream(stream
        .select(col("event_type").as("key"), col("event_id").as("ord"), col("value"))
        .as[KV](kvEnc), CusumTargetCents, CusumAlarmCents).toDF()
    }
      .select(col("ord").as("event_id"), col("key").as("event_type"),
              col("cusum"), col("alarm"))
      .orderBy(col("event_id"))
  }

  /** EWMA smoothing factor — binary-exact (1/8), the precondition for the
    * bit-level cross-engine parity the oracle hash checks. */
  val EwmaAlpha = 0.125

  /** EWMA exponential smoothing per event_type — batch execution as a lazy
    * ordered fold (the q1s/cusum plan shape, O(1) state per key). */
  def ewmaByType(spark: SparkSession, sfDir: String): DataFrame = {
    val kv = Tables.events(spark, sfDir)
      .select(col("event_type").as("key"), col("event_id").as("ord"), col("value"))
    StatefulOps.ewmaOrdered(
        orderedByKey(kv).as[String, KV](Encoders.STRING, kvEnc), EwmaAlpha).toDF()
      .select(col("ord").as("event_id"), col("key").as("event_type"), col("ewma"))
      .orderBy(col("event_id"))
  }

  /** [[ewmaByType]] through the micro-batch engine over the two-file
    * replay — the smoothed value crosses the batch boundary in state. */
  def ewmaByTypeStreaming(spark: SparkSession, sfDir: String): DataFrame = {
    val copyDir = orderedEventsCopy(spark, sfDir)
    drainOrderedFiles(spark, copyDir, minBatches = 2) { stream =>
      StatefulOps.ewmaStream(stream
        .select(col("event_type").as("key"), col("event_id").as("ord"), col("value"))
        .as[KV](kvEnc), EwmaAlpha).toDF()
    }
      .select(col("ord").as("event_id"), col("key").as("event_type"), col("ewma"))
      .orderBy(col("event_id"))
  }

  /** Holt smoothing factors — both binary-exact, the bit-parity
    * precondition (see EwmaAlpha). */
  val HoltAlpha = 0.25
  val HoltBeta  = 0.125

  /** Holt's linear trend per event_type — batch ordered fold. */
  def holtByType(spark: SparkSession, sfDir: String): DataFrame = {
    val kv = Tables.events(spark, sfDir)
      .select(col("event_type").as("key"), col("event_id").as("ord"), col("value"))
    StatefulOps.holtOrdered(
        orderedByKey(kv).as[String, KV](Encoders.STRING, kvEnc),
        HoltAlpha, HoltBeta).toDF()
      .select(col("ord").as("event_id"), col("key").as("event_type"),
              col("level"), col("trend"), col("forecast"))
      .orderBy(col("event_id"))
  }

  /** [[holtByType]] through the micro-batch engine — BOTH coupled state
    * components (level, trend) cross the batch boundary together. */
  def holtByTypeStreaming(spark: SparkSession, sfDir: String): DataFrame = {
    val copyDir = orderedEventsCopy(spark, sfDir)
    drainOrderedFiles(spark, copyDir, minBatches = 2) { stream =>
      StatefulOps.holtStream(stream
        .select(col("event_type").as("key"), col("event_id").as("ord"), col("value"))
        .as[KV](kvEnc), HoltAlpha, HoltBeta).toDF()
    }
      .select(col("ord").as("event_id"), col("key").as("event_type"),
              col("level"), col("trend"), col("forecast"))
      .orderBy(col("event_id"))
  }

  /** [[graft.operators.Indicators.donchianByType]] through the
    * micro-batch engine: the trailing-20 ring crosses the batch boundary
    * in keyed state (the Holt-Winters-ring compound-state shape, value-
    * bounded). Cents are cast IN THE PLAN (the cusum convention) so the
    * fold never re-rounds. Same oracle as the batch window form. */
  def donchianByTypeStreaming(spark: SparkSession, sfDir: String,
                              n: Int = 20): DataFrame = {
    val copyDir = orderedEventsCopy(spark, sfDir)
    drainOrderedFiles(spark, copyDir, minBatches = 2) { stream =>
      StatefulOps.donchianStream(stream
        .select(col("event_type").as("key"), col("event_id").as("ord"),
          expr("cast(cast(round(value * 100) as bigint) as double)")
            .as("value"))
        .as[KV](kvEnc), n).toDF()
    }
      .select(col("ord").as("event_id"), col("key").as("event_type"),
              col("vc"), col("n_prior"), col("donch_hi"), col("donch_lo"),
              col("breakout_up"), col("breakout_dn"))
      .orderBy(col("event_id"))
  }

  /** KAPLAN-MEIER PRODUCT-LIMIT SURVIVAL CURVE over the customer
    * lifetime table — the estimator every churn analysis quotes, and the
    * multiplicative complement of [[Analytics.survivalNelsonAalen]]'s
    * cumulative hazard (both read the SAME factored life table,
    * [[Analytics.survivalAtRisk]], so the subject/censoring rules cannot
    * drift between the two). S(t) = Π_{t_i ≤ t} (1 − d_i/n_i) is a
    * sequential product no SQL window states — exp(Σ ln) would trade
    * exactness for libm's last ulp — so the curve runs through the
    * ordered-fold machinery ([[StatefulOps.productOrdered]], the
    * cusum/ewma execution class) and the oracle states the identical
    * IEEE multiply sequence as a recursive CTE. Each factor is one
    * division of exact longs; the life table is control-plane-sized
    * (distinct lifetimes ≤ day span), so the single-key fold is a
    * bounded-domain sequential pass, not a corpus scan. */
  def kaplanMeierSurvival(spark: SparkSession, sfDir: String,
                          censorDays: Long = 90L): DataFrame = {
    val byT = Analytics.survivalAtRisk(spark, sfDir, censorDays)
    val kv = byT.select(lit("all").as("key"), col("t").as("ord"),
      (lit(1.0) - col("d").cast("double") / col("n_risk").cast("double"))
        .as("value"))
    val s = StatefulOps.productOrdered(
        orderedByKey(kv).as[String, KV](Encoders.STRING, kvEnc)).toDF()
      .select(col("ord").as("t"), col("product").as("survival"))
    byT.join(s, "t")
      .select(col("t"), col("n_risk"), col("d"), col("c"), col("survival"))
      .orderBy(col("t"))
  }

  /** ROLLING-ORIGIN FORECAST BACKTEST of [[holtByType]] — the evaluation
    * loop a forecasting pipeline runs before it trusts a model: every
    * row's Holt forecast is a genuine ONE-STEP-AHEAD prediction (state
    * through row i predicts row i+1), so lagging the forecast against the
    * next actual scores the model out-of-sample at every origin, no
    * train/test split needed. Per type: MAE and sMAPE. Numerics: the
    * per-row errors are doubles from the IEEE-pinned recurrence, so they
    * are floor-QUANTIZED before summation (|err| to integer micro-units,
    * the symmetric ratio to ppb) — floor, not round, because Spark's
    * double round detours through a decimal re-representation while
    * DuckDB rounds the double directly (a latent half-way hazard), and
    * CAST(double AS BIGINT) itself disagrees (Spark truncates, DuckDB
    * rounds); floor() is the same IEEE operation in both engines. The
    * quantized longs sum exactly (order-free), and both reported means
    * are one fixed double tree. A zero-vs-zero sMAPE term is pinned to 0
    * by an explicit guard, stated identically in the oracle.
    *
    * Scale shape: the fold is holtByType's one-exchange ordered pass; the
    * lag window rides the SAME event_type partitioning; the 1:1 value
    * join is co-keyed on event_id; the report is type-sized and
    * map-side combinable. */
  def forecastBacktestHolt(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("event_type")).orderBy(col("event_id"))
    val scored = holtByType(spark, sfDir)
      .join(Tables.events(spark, sfDir).select(col("event_id"), col("value")),
            "event_id")
      .withColumn("f", lag(col("forecast"), 1).over(w))
      .filter(col("f").isNotNull)
      .withColumn("ae", abs(col("value") - col("f")))
      .withColumn("ae_micro", floor(col("ae") * 1000000.0).cast("long"))
      .withColumn("sm_ppb",
        when(abs(col("value")) + abs(col("f")) === 0.0, 0L)
          .otherwise(floor(lit(2.0) * col("ae") /
            (abs(col("value")) + abs(col("f"))) * 1000000000.0).cast("long")))
    scored.groupBy(col("event_type")).agg(
        count(lit(1)).cast("long").as("n_pairs"),
        sum(col("ae_micro")).cast("long").as("sum_ae_micro"),
        sum(col("sm_ppb")).cast("long").as("sum_smape_ppb"))
      .select(col("event_type"), col("n_pairs"),
        col("sum_ae_micro"), col("sum_smape_ppb"),
        (col("sum_ae_micro").cast("double") / 1000000.0 /
          col("n_pairs").cast("double")).as("mae"),
        (col("sum_smape_ppb").cast("double") / 1000000000.0 /
          col("n_pairs").cast("double")).as("smape"))
      .orderBy(col("event_type"))
  }

  /** Holt-Winters factors — all binary-exact (bit-parity precondition);
    * season length 8 keeps the ring buffer a fixed-width array. */
  val HwAlpha  = 0.25
  val HwBeta   = 0.125
  val HwGamma  = 0.25
  val HwSeason = 8

  /** Holt-Winters additive seasonal smoothing per event_type — batch
    * ordered fold; the state adds a fixed-width seasonal RING BUFFER to
    * holt's (level, trend) pair (the ListState-shaped stateful form). */
  def holtWintersByType(spark: SparkSession, sfDir: String): DataFrame = {
    val kv = Tables.events(spark, sfDir)
      .select(col("event_type").as("key"), col("event_id").as("ord"), col("value"))
    StatefulOps.holtWintersOrdered(
        orderedByKey(kv).as[String, KV](Encoders.STRING, kvEnc),
        HwAlpha, HwBeta, HwGamma, HwSeason).toDF()
      .select(col("ord").as("event_id"), col("key").as("event_type"),
              col("level"), col("trend"), col("seasonal"), col("forecast"))
      .orderBy(col("event_id"))
  }

  /** [[holtWintersByType]] through the micro-batch engine — the THREE
    * coupled components (level, trend, seasonal ring buffer) cross the
    * batch boundary together in one state record. */
  def holtWintersByTypeStreaming(spark: SparkSession, sfDir: String): DataFrame = {
    val copyDir = orderedEventsCopy(spark, sfDir)
    drainOrderedFiles(spark, copyDir, minBatches = 2) { stream =>
      StatefulOps.holtWintersStream(stream
        .select(col("event_type").as("key"), col("event_id").as("ord"), col("value"))
        .as[KV](kvEnc), HwAlpha, HwBeta, HwGamma, HwSeason).toDF()
    }
      .select(col("ord").as("event_id"), col("key").as("event_type"),
              col("level"), col("trend"), col("seasonal"), col("forecast"))
      .orderBy(col("event_id"))
  }

  /** RUNNING PEAK / DRAWDOWN / MAX-DRAWDOWN per event_type — the risk
    * statistic of the reference's price-series domain (peak-to-trough
    * loss since the running high). Unlike CUSUM/EWMA/Holt this recurrence
    * IS window-expressible — peak and worst-so-far are both running maxes
    * — so the batch form is the DECLARATIVE statement (two cumulative-max
    * frames sharing one (key, ord) sort, zero joins; Catalyst keeps both
    * in a single window exec) and the streaming twin is where the keyed
    * state earns its keep. Numerics: max picks an existing double, the
    * drawdown is one correctly-rounded subtraction — bit-parity with the
    * oracle's window form by construction. */
  def drawdownByType(spark: SparkSession, sfDir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("event_type")).orderBy(col("event_id"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    Tables.events(spark, sfDir)
      .select(col("event_id"), col("event_type"), col("value"))
      .withColumn("peak", max(col("value")).over(w))
      .withColumn("drawdown", col("peak") - col("value"))
      .withColumn("max_drawdown", max(col("drawdown")).over(w))
      .select(col("event_id"), col("event_type"), col("peak"),
              col("drawdown"), col("max_drawdown"))
      .orderBy(col("event_id"))
  }

  /** [[drawdownByType]] through the REAL micro-batch engine over the
    * two-file median replay: the running peak AND the worst-drawdown-
    * so-far cross the micro-batch boundary together in one state record
    * ([[graft.streaming.StatefulOps.drawdownStream]]) — a peak set in
    * batch 1 must still dominate values arriving in batch 2. Same oracle
    * as the batch window form. */
  def drawdownByTypeStreaming(spark: SparkSession, sfDir: String): DataFrame = {
    val copyDir = orderedEventsCopy(spark, sfDir)
    drainOrderedFiles(spark, copyDir, minBatches = 2) { stream =>
      StatefulOps.drawdownStream(stream
        .select(col("event_type").as("key"), col("event_id").as("ord"), col("value"))
        .as[KV](kvEnc)).toDF()
    }
      .select(col("ord").as("event_id"), col("key").as("event_type"),
              col("peak"), col("drawdown"), col("max_drawdown"))
      .orderBy(col("event_id"))
  }

  /** [[graft.operators.Indicators.obvByType]] through the REAL micro-batch
    * engine over the two-file median replay: the previous tick's cents and
    * the running signed-volume ledger cross the micro-batch boundary in
    * one state record ([[graft.streaming.StatefulOps.obvStream]]) — a
    * ledger built in batch 1 must keep accumulating through batch 2's
    * ticks, or the hash drops. Same oracle as the batch window form. */
  def obvByTypeStreaming(spark: SparkSession, sfDir: String): DataFrame = {
    val copyDir = orderedEventsCopy(spark, sfDir)
    drainOrderedFiles(spark, copyDir, minBatches = 2) { stream =>
      StatefulOps.obvStream(stream
        .select(col("event_type").as("key"), col("event_id").as("ord"), col("value"))
        .as[KV](kvEnc)).toDF()
    }
      .select(col("ord").as("event_id"), col("key").as("event_type"),
              col("vol"), col("sgn"), col("obv"))
      .orderBy(col("event_id"))
  }

  /** Relative-residual CUSUM slack and alarm thresholds, in MICRO units
    * (0.02 / 0.15 of the seasonal baseline) — relative residuals make the
    * detector SCALE-FREE, so one constant pair works at every SF (probed:
    * 55/25/2 alarms at sf0.001/0.01/0.1 — non-vacuous and discriminating). */
  val SeasonalCusumSlackU = 20000L
  val SeasonalCusumAlarmU = 150000L

  /** THE ALERTING COMPOSITION: CUSUM drift detection over the seasonal
    * day-of-week residuals — forecasting baseline ([[graft.operators
    * .Analytics.seasonalDowResiduals]]'s spine) feeding the sequential
    * detector ([[graft.streaming.StatefulOps.cusumScaledOrdered]]), the
    * two families built in rounds 12–13 composed the way a production
    * monitor actually wires them (a raw-total CUSUM pages every Monday;
    * the residual CUSUM pages on DRIFT FROM the weekly shape).
    *
    * Numerics: daily totals are exact decimal; the RELATIVE residual
    * (td − dow_mean)/dow_mean is a fixed three-op double tree (the oracle
    * re-states dow_mean's expression inline — deterministic
    * re-evaluation, the holt precedent) quantized ONCE to integer micros
    * (×10⁶, round half-away — identical op sequence both engines); the
    * detector is then pure integer arithmetic against a RECURSIVE-CTE
    * oracle. Scale: the corpus collapses to the (types × days) frame in
    * one map-side-combinable groupBy; the fold runs on that control-plane
    * table. */
  def cusumSeasonalResiduals(spark: SparkSession, sfDir: String): DataFrame = {
    val resid = graft.operators.Analytics.seasonalSpine(spark, sfDir)
      .select(col("event_type").as("key"), col("day").as("ord"),
        round(((col("td").cast("double") - col("dow_mean")) / col("dow_mean"))
              * lit(1000000.0)).cast("long").cast("double").as("value"))
    StatefulOps.cusumScaledOrdered(
        orderedByKey(resid).as[String, KV](Encoders.STRING, kvEnc),
        SeasonalCusumSlackU, SeasonalCusumAlarmU).toDF()
      .select(col("key").as("event_type"), col("ord").as("day"),
              col("ru"), col("cusum_u"), col("alarm"))
      .orderBy(col("event_type"), col("day"))
  }

  /** Wilder RSI per event_type ([[graft.streaming.StatefulOps.rsiStream]]
    * semantics) — batch execution as a lazy ordered fold (the q1s/cusum
    * plan shape, O(1) state per key). Like CUSUM the gain/loss split makes
    * the recurrence non-associative — stateful-or-nothing even in batch.
    * The oracle is a DuckDB RECURSIVE CTE carrying (value, avg_gain,
    * avg_loss) through the recursion with the binary-exact 15/16–1/16
    * coefficients (the EWMA bit-parity argument). */
  def rsiByType(spark: SparkSession, sfDir: String): DataFrame = {
    val kv = Tables.events(spark, sfDir)
      .select(col("event_type").as("key"), col("event_id").as("ord"), col("value"))
    StatefulOps.rsiOrdered(
        orderedByKey(kv).as[String, KV](Encoders.STRING, kvEnc)).toDF()
      .select(col("ord").as("event_id"), col("key").as("event_type"),
              col("avg_gain"), col("avg_loss"), col("rsi"))
      .orderBy(col("event_id"))
  }

  /** [[rsiByType]] through the REAL micro-batch engine over the two-file
    * median replay: the coupled (prev value, avg gain, avg loss) state
    * crosses the micro-batch boundary as one record — the first row of
    * batch 2 must diff against the last value of batch 1. Same oracle. */
  def rsiByTypeStreaming(spark: SparkSession, sfDir: String): DataFrame = {
    val copyDir = orderedEventsCopy(spark, sfDir)
    drainOrderedFiles(spark, copyDir, minBatches = 2) { stream =>
      StatefulOps.rsiStream(stream
        .select(col("event_type").as("key"), col("event_id").as("ord"), col("value"))
        .as[KV](kvEnc)).toDF()
    }
      .select(col("ord").as("event_id"), col("key").as("event_type"),
              col("avg_gain"), col("avg_loss"), col("rsi"))
      .orderBy(col("event_id"))
  }

  /** MACD per event_type ([[graft.streaming.StatefulOps.macdStream]]
    * semantics) — batch execution as a lazy ordered fold. Three coupled
    * EMAs (fast 1/4, slow 1/16, signal 1/8 — all binary-exact) ride the
    * recursion together; the oracle CTE carries (emaf, emas, sig) and
    * re-derives macd/histogram in its final projection exactly as the
    * fold does (m = emaF − emaS, hist = m − sig). */
  def macdByType(spark: SparkSession, sfDir: String): DataFrame = {
    val kv = Tables.events(spark, sfDir)
      .select(col("event_type").as("key"), col("event_id").as("ord"), col("value"))
    StatefulOps.macdOrdered(
        orderedByKey(kv).as[String, KV](Encoders.STRING, kvEnc)).toDF()
      .select(col("ord").as("event_id"), col("key").as("event_type"),
              col("macd"), col("signal_line"), col("histogram"))
      .orderBy(col("event_id"))
  }

  /** [[macdByType]] through the micro-batch engine — all THREE coupled
    * EMA state components cross the batch boundary together. Same oracle. */
  def macdByTypeStreaming(spark: SparkSession, sfDir: String): DataFrame = {
    val copyDir = orderedEventsCopy(spark, sfDir)
    drainOrderedFiles(spark, copyDir, minBatches = 2) { stream =>
      StatefulOps.macdStream(stream
        .select(col("event_type").as("key"), col("event_id").as("ord"), col("value"))
        .as[KV](kvEnc)).toDF()
    }
      .select(col("ord").as("event_id"), col("key").as("event_type"),
              col("macd"), col("signal_line"), col("histogram"))
      .orderBy(col("event_id"))
  }

  /** The Markov transition matrix ([[graft.operators.Analytics
    * .markovTransitions]]) with the per-user `lead()` replaced by REAL
    * keyed streaming state: [[graft.streaming.StatefulOps
    * .transitionsStream]] holds one last-event ValueState per user, the
    * two-file median replay forces user sequences to SPAN the micro-batch
    * boundary (every user active in both halves emits its boundary
    * transition from state, or the count — and the oracle hash — drops),
    * and the count/probability rollup runs as a batch aggregate over the
    * drained transition sink (transitions ≈ events, but the rollup is
    * types²-sized after one combine). Registered under markov_transitions'
    * oracle: streaming-stateful ≡ batch-window, hash-checked. */
  /** The max-id/median event_id split behind the sentinel-free two-file
    * replays (markov, attribution, TWAP): cut at mid = max(event_id)/2,
    * empty halves dropped — a pre-filtered id space living entirely above
    * mid legitimately yields ONE file, so callers must size their
    * minBatches from [[replayFileCount]], never assume two (assuming two
    * made the drain's require reject a corpus whose batch twin succeeds).
    * Held ONCE, like the sentinel split's contract. */
  private def medianIdSplit(ev: DataFrame): Seq[DataFrame] = {
    val maxIdRow = ev.agg(max(col("event_id"))).head()
    if (maxIdRow.isNullAt(0)) Seq(ev)
    else {
      val mid = maxIdRow.getLong(0) / 2
      Seq(ev.filter(col("event_id") <= mid), ev.filter(col("event_id") > mid))
        .filter(!_.isEmpty)
    }
  }

  /** Number of replay files actually produced into a copy dir. */
  private[operators] def replayFileCount(dir: String): Int = {
    val l = java.nio.file.Files.list(java.nio.file.Paths.get(dir))
    try l.count().toInt finally l.close()
  }

  def markovTransitionsStreaming(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.streaming.StatefulOps
    implicit val tEnc: Encoder[StatefulOps.TransEv] =
      Encoders.product[StatefulOps.TransEv]
    val copyDir = timeOrderedFilesCopy(spark, s"markov:$sfDir", Seq("m0.parquet", "m1.parquet")) {
      medianIdSplit(Tables.events(spark, sfDir)
        .select(col("user_id"), col("event_id"), col("event_type")))
    }
    val trans = drainOrderedFiles(spark, copyDir,
        minBatches = replayFileCount(copyDir)) { stream =>
      StatefulOps.transitionsStream(stream
        .select(col("user_id").cast("string").as("key"),
                col("event_id").as("ord"), col("event_type").as("typ"))
        .as[StatefulOps.TransEv]).toDF()
    }
    val counts = trans.groupBy(col("from_type"), col("to_type"))
      .agg(count(lit(1)).as("n"))
    val wf = org.apache.spark.sql.expressions.Window.partitionBy(col("from_type"))
    counts
      .withColumn("p", col("n").cast("double") / sum(col("n")).over(wf).cast("double"))
      .orderBy(col("from_type"), col("to_type"))
  }

  /** LAST-TOUCH ATTRIBUTION ([[graft.operators.Sessionize
    * .attributionLastTouch]]) with the conditional window max replaced by
    * REAL keyed streaming state: [[graft.streaming.StatefulOps
    * .attributionStream]] holds one last-view-µs ValueState per user — the
    * most Flink-shaped operator in the analytics set — and the two-file
    * median replay forces view→purchase chains to SPAN the micro-batch
    * boundary (a purchase in the second half attributing a first-half view
    * reads it from state, or the hash drops). The stream carries only the
    * view/purchase rows the operator reads. Registered under
    * attribution_last_touch's oracle: streaming-state ≡ batch-window,
    * hash-checked. */
  def attributionLastTouchStreaming(spark: SparkSession, sfDir: String,
                                    lookbackHours: Int = 24): DataFrame = {
    import graft.streaming.StatefulOps
    implicit val aEnc: Encoder[StatefulOps.AttrEv] =
      Encoders.product[StatefulOps.AttrEv]
    val copyDir = timeOrderedFilesCopy(spark, s"attr:$sfDir", Seq("a0.parquet", "a1.parquet")) {
      medianIdSplit(Tables.events(spark, sfDir)
        .filter(col("event_type").isin("view", "purchase"))
        .select(col("user_id"), col("event_id"),
                expr("ts_ns div 1000").as("us"), col("event_type")))
    }
    val lookbackUs = lookbackHours.toLong * 3600L * 1000000L
    drainOrderedFiles(spark, copyDir,
        minBatches = replayFileCount(copyDir)) { stream =>
      StatefulOps.attributionStream(stream
        .select(col("user_id").as("key"), col("event_id").as("ord"),
                col("us"), col("event_type").as("typ"))
        .as[StatefulOps.AttrEv], lookbackUs).toDF()
    }.orderBy(col("event_id"))
  }

  /** [[graft.operators.Sessionize.cepFunnelFollowedBy]] with the window
    * firsts replaced by REAL keyed pending-match state: [[graft.streaming
    * .StatefulOps.cepStream]] holds each user's open partial matches
    * (pending views), and the two-file median replay forces matches to
    * SPAN the micro-batch boundary — a first-half view completed by a
    * second-half purchase emits from state, or the oracle hash drops.
    * The stream carries only the view/purchase/error rows the automaton
    * reads. Registered under cep_funnel_followedby's oracle: streaming
    * NFA ≡ batch window firsts, hash-checked. */
  def cepFunnelFollowedByStreaming(spark: SparkSession, sfDir: String,
                                   withinHours: Int = 1): DataFrame = {
    import graft.streaming.StatefulOps
    implicit val aEnc: Encoder[StatefulOps.AttrEv] =
      Encoders.product[StatefulOps.AttrEv]
    val copyDir = timeOrderedFilesCopy(spark, s"cep:$sfDir", Seq("c0.parquet", "c1.parquet")) {
      medianIdSplit(Tables.events(spark, sfDir)
        .filter(col("event_type").isin("view", "purchase", "error"))
        .select(col("user_id"), col("event_id"),
                expr("ts_ns div 1000").as("us"), col("event_type")))
    }
    val withinUs = withinHours.toLong * 3600L * 1000000L
    drainOrderedFiles(spark, copyDir,
        minBatches = replayFileCount(copyDir)) { stream =>
      StatefulOps.cepStream(stream
        .select(col("user_id").as("key"), col("event_id").as("ord"),
                col("us"), col("event_type").as("typ"))
        .as[StatefulOps.AttrEv], withinUs).toDF()
    }.orderBy(col("event_id"))
  }

  /** [[graft.operators.Sessionize.cepNextMatch]] with the adjacency held
    * in REAL keyed state ([[graft.streaming.StatefulOps.cepNextStream]] —
    * one previous event per user): the replay carries ALL event types
    * (strictness demands the intervening clicks), and the median split
    * forces some view→purchase adjacency to straddle the micro-batch
    * boundary, where only the carried state can see it. Registered under
    * cep_next_match's oracle: streaming last-event NFA ≡ batch lead()
    * pair, hash-checked. */
  def cepNextMatchStreaming(spark: SparkSession, sfDir: String,
                            withinHours: Int = 1): DataFrame = {
    import graft.streaming.StatefulOps
    implicit val aEnc: Encoder[StatefulOps.AttrEv] =
      Encoders.product[StatefulOps.AttrEv]
    val copyDir = timeOrderedFilesCopy(spark, s"cepnext:$sfDir",
        Seq("n0.parquet", "n1.parquet")) {
      medianIdSplit(Tables.events(spark, sfDir)
        .select(col("user_id"), col("event_id"),
                expr("ts_ns div 1000").as("us"), col("event_type")))
    }
    val withinUs = withinHours.toLong * 3600L * 1000000L
    drainOrderedFiles(spark, copyDir,
        minBatches = replayFileCount(copyDir)) { stream =>
      StatefulOps.cepNextStream(stream
        .select(col("user_id").as("key"), col("event_id").as("ord"),
                col("us"), col("event_type").as("typ"))
        .as[StatefulOps.AttrEv], withinUs).toDF()
    }.orderBy(col("event_id"))
  }

  /** [[graft.operators.Sessionize.cepTimesBurst]] with the quantifier
    * evaluated by REAL keyed NFA state ([[graft.streaming.StatefulOps
    * .cepTimesStream]]): the (n−1)-view ring and the open completed
    * bursts live in GroupState, and the two-file median replay forces the
    * interesting transitions to SPAN the micro-batch boundary — a burst
    * whose views straddle the split completes from the recovered ring,
    * and a first-half burst completed by a second-half purchase emits
    * from open-match state, or the oracle hash drops. The stream carries
    * only the view/purchase rows the automaton reads (an error row would
    * be read as a view — the batch form ignores them entirely, so the
    * pre-filter is part of the semantics, not an optimization).
    * Registered under cep_times_burst's oracle: streaming ring-NFA ≡
    * batch lag window, hash-checked. */
  def cepTimesBurstStreaming(spark: SparkSession, sfDir: String, n: Int = 3,
                             windowMinutes: Int = 1440,
                             followHours: Int = 24): DataFrame = {
    import graft.streaming.StatefulOps
    implicit val aEnc: Encoder[StatefulOps.AttrEv] =
      Encoders.product[StatefulOps.AttrEv]
    val copyDir = timeOrderedFilesCopy(spark, s"ceptimes:$sfDir",
        Seq("t0.parquet", "t1.parquet")) {
      medianIdSplit(Tables.events(spark, sfDir)
        .filter(col("event_type").isin("view", "purchase"))
        .select(col("user_id"), col("event_id"),
                expr("ts_ns div 1000").as("us"), col("event_type")))
    }
    val winUs = windowMinutes.toLong * 60L * 1000000L
    val followUs = followHours.toLong * 3600L * 1000000L
    drainOrderedFiles(spark, copyDir,
        minBatches = replayFileCount(copyDir)) { stream =>
      StatefulOps.cepTimesStream(stream
        .select(col("user_id").as("key"), col("event_id").as("ord"),
                col("us"), col("event_type").as("typ"))
        .as[StatefulOps.AttrEv], n, winUs, followUs).toDF()
    }.orderBy(col("event_id"))
  }

  /** [[graft.operators.Sessionize.cepAbsenceAlert]] through REAL
    * event-time timers ([[graft.streaming.StatefulOps.cepAbsenceStream]])
    * — the one CEP shape whose verdict cannot come from data: a tape-end
    * view alerts only because the WATERMARK passed its deadline, so the
    * drain witnesses the timers directly: every key's state must be
    * emptied by the final timer-firing batch (the sentinel purchase — a
    * key no real row uses — advances the watermark past every real
    * deadline and leaves no state of its own, so no post-drain filter is
    * needed). The median-time split forces pending views to CROSS the
    * micro-batch boundary before their verdict. Registered under
    * cep_absence_alert's oracle: timer-driven absence ≡ batch window
    * complement, hash-checked. */
  def cepAbsenceAlertStreaming(spark: SparkSession, sfDir: String,
                               withinHours: Int = 1): DataFrame = {
    import graft.streaming.StatefulOps
    implicit val enc: Encoder[StatefulOps.CepTimedEv] =
      Encoders.product[StatefulOps.CepTimedEv]
    val withinUs = withinHours.toLong * 3600L * 1000000L
    val dir = timeOrderedFilesCopy(spark, s"cepabs:$sfDir",
        Seq("a0.parquet", "a1.parquet", "a2.parquet")) {
      val ev = Tables.events(spark, sfDir)
        .filter(col("event_type").isin("view", "purchase"))
        .select(col("user_id").as("key"), col("event_id").as("ord"),
                timestamp_micros(expr("ts_ns div 1000")).as("ts"),
                col("event_type").as("typ"))
      medianSplitWithSentinel(ev, "ord", "ts") { afterUs =>
        spark.range(1).select(
          lit(-1L).as("key"), lit(-1L).as("ord"),
          timestamp_micros(lit(afterUs + 30L * 24 * 3600 * 1000000L)).as("ts"),
          lit("purchase").as("typ"))
      }
    }
    val stream = replayStream(spark, dir)
      .withWatermark("ts", "0 seconds")
      .as[StatefulOps.CepTimedEv]
    drainToMemory(spark,
        StatefulOps.cepAbsenceStream(stream, withinUs).toDF(),
        stateWidth = Some(8)) { q =>
      val progs = q.recentProgress.filter(_.stateOperators.nonEmpty)
      require(progs.nonEmpty, "no state-operator progress recorded")
      // the sentinel alone is one data batch; real data must cross batches
      requireDataBatches(q, 2, "the CEP absence replay", vacuousAtRows = 1)
      // the timer witness: the final (timer-firing) batch must leave the
      // store EMPTY — every pending view's deadline fired off the
      // sentinel-advanced watermark, and the sentinel itself parked nothing
      val left = progs.last.stateOperators(0).numRowsTotal
      require(left == 0,
        s"event-time timers did not flush tape-end state: $left rows left")
    }.orderBy(col("event_id"))
  }

  /** TIME-WEIGHTED AVERAGE ([[graft.operators.Sessionize.twapByType]])
    * with the `lead()` window replaced by REAL keyed streaming state:
    * [[graft.streaming.StatefulOps.leadIntervalsStream]] holds one
    * (µs, value) ValueState per type, each event closes its predecessor's
    * holding interval from state (the two-file replay forces intervals to
    * SPAN the micro-batch boundary), and the exact-decimal Σv·Δt / ΣΔt
    * rollup runs as a batch aggregate over the drained interval sink —
    * the identical decimal expressions as the batch form, so the shared
    * oracle hash holds bit-for-bit. */
  def twapByTypeStreaming(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.streaming.StatefulOps
    implicit val lEnc: Encoder[StatefulOps.LeadEv] =
      Encoders.product[StatefulOps.LeadEv]
    val copyDir = timeOrderedFilesCopy(spark, s"events-usv:$sfDir",
        Seq("t0.parquet", "t1.parquet")) {
      medianIdSplit(Tables.events(spark, sfDir)
        .select(col("event_type"), col("event_id"),
                expr("ts_ns div 1000").as("us"), col("value")))
    }
    val ivs = drainOrderedFiles(spark, copyDir,
        minBatches = replayFileCount(copyDir)) { stream =>
      StatefulOps.leadIntervalsStream(stream
        .select(col("event_type").as("key"), col("event_id").as("ord"),
                col("us"), col("value").as("v"))
        .as[StatefulOps.LeadEv]).toDF()
    }
    ivs.groupBy(col("key"))
      .agg(sum(col("dt_us")).as("total_dt_us"),
           sum((col("v_prev").cast("decimal(18,2)") * col("dt_us").cast("decimal(20,0)"))
             .cast("decimal(38,2)")).cast("double").as("sum_vdt"))
      .select(col("key").as("event_type"), col("total_dt_us"), col("sum_vdt"),
              (col("sum_vdt") / col("total_dt_us").cast("double")).as("twap"))
      .orderBy(col("event_type"))
  }

  /** `events` as TWO parquet files split at the median event_id. `event_id`
    * is the verified (ts, event_id)-monotone order, so splitting on it
    * preserves per-key arrival order across the batch boundary — the
    * contract the reference ops require. Only (event_type, event_id, value)
    * is kept. */
  private def orderedEventsCopy(spark: SparkSession, sfDir: String): String =
    timeOrderedFilesCopy(spark, s"events:$sfDir", Seq("ev0.parquet", "ev1.parquet")) {
      val ev = Tables.events(spark, sfDir)
        .select(col("event_type"), col("event_id"), col("value"))
      val mid = ev.agg(max(col("event_id"))).head().getLong(0) / 2
      Seq(ev.filter(col("event_id") <= mid), ev.filter(col("event_id") > mid))
    }

  /** Drain a keyed-state op over a directory of time-ordered parquet files,
    * ONE FILE PER MICRO-BATCH (Trigger.AvailableNow honors the
    * maxFilesPerTrigger read limit), and require that the run really took
    * `minBatches` batches — the witness that state crossed a batch
    * boundary, asserted from the query's own progress records. */
  private[operators] def drainOrderedFiles(spark: SparkSession, dir: String, minBatches: Int)
                                          (op: DataFrame => DataFrame): DataFrame =
    drainToMemory(spark, op(replayStream(spark, dir)), stateWidth = Some(8)) { q =>
      // a genuinely empty corpus replays zero data batches and has no
      // cross-batch state to witness — only a NON-empty replay that failed
      // to span batches is a broken witness
      requireDataBatches(q, minBatches, "the multi-file replay", vacuousAtRows = 0)
    }

  /** Q3 through the real micro-batch engine, registered under q3's oracle —
    * the MapState shape (month subkey map inside the year's state) against
    * the state store. */
  def runningMaxMonthStreaming(spark: SparkSession, sfDir: String): DataFrame =
    drainEvents(spark, sfDir) { stream =>
      StatefulOps.runningMaxBySubkey(stream
        .select(year(col("ts")).cast("string").as("key"),
                month(col("ts")).cast("string").as("subkey"),
                col("event_id").as("ord"), col("value"))
        .as[KSV](ksvEnc)).toDF()
    }
      .select(col("ord").as("event_id"), col("key").cast("long").as("yr"),
              col("subkey").cast("long").as("mon"), col("out").as("run_max"))
      .orderBy(col("event_id"))

  /** Q4 through the real micro-batch engine, registered under q4's oracle —
    * the ListState-size shape (sub-threshold counter) against the state
    * store. */
  def thresholdGapsStreaming(spark: SparkSession, sfDir: String): DataFrame =
    drainEvents(spark, sfDir) { stream =>
      StatefulOps.thresholdGaps(stream
        .select(col("event_type").as("key"), col("event_id").as("ord"), col("value"))
        .as[KV](kvEnc), 100.0).toDF()
    }
      .select(col("ord").as("event_id"), col("key").as("event_type"), col("gap"))
      .orderBy(col("event_id"))

  /** Per-key pass state for [[secondarySort]]: `reset()` fires at every key
    * boundary, `onRow` folds one (already key-ordered) record. */
  private trait KeyedPass extends Serializable {
    def reset(): Unit
    def onRow(r: org.apache.spark.sql.Row): Iterator[org.apache.spark.sql.Row]
  }

  private object NoKey // sentinel that never equals data

  /** The SECONDARY-SORT scaffold shared by q1p–q4p — the 100 TB batch
    * execution of per-record keyed state: hash-partition on the key (the
    * FIRST selected column), sort (key, ts_ns, event_id) WITHIN partitions
    * (Spark's spill-safe sort, no per-group buffering), then one
    * `mapPartitions` pass whose per-key state resets at key boundaries.
    * Unlike `flatMapGroupsWithState`'s batch mode (one in-memory group at a
    * time), memory is independent of both group count and group size.
    *
    * Non-finite policy (one place for the whole family): comparisons use
    * java.lang.Double.compare / explicit NaN checks so NaN orders GREATEST,
    * exactly like Spark SQL's comparison semantics in the declarative twins
    * — a plain JVM `>=` is false for NaN and silently diverges. */
  private def secondarySort(ev0: DataFrame,
                            selectCols: Seq[org.apache.spark.sql.Column],
                            keyName: String,
                            outSchema: org.apache.spark.sql.types.StructType)
                           (makePass: () => KeyedPass): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.catalyst.encoders.RowEncoder
    val ev = ev0
      .select(selectCols: _*)
      .repartition(col(keyName))
      .sortWithinPartitions(col(keyName), col("ts_ns"), col("event_id"))
    implicit val enc: Encoder[Row] = RowEncoder.encoderFor(outSchema)
    ev.mapPartitions { rows =>
      val pass = makePass()
      var curKey: Any = NoKey
      rows.flatMap { r =>
        val k = r.get(0)
        if (k != curKey) { curKey = k; pass.reset() }
        pass.onRow(r)
      }
    }
  }

  /** Q1 via secondary sort: one (key, max) scalar per key. */
  def runningMaxSecondarySort(spark: SparkSession, sfDir: String): DataFrame =
    runningMaxSecondarySortOf(Tables.events(spark, sfDir))

  def runningMaxSecondarySortOf(events: DataFrame): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    secondarySort(events,
      Seq(year(col("ts")).cast("long").as("yr"),
          col("ts_ns"), col("event_id"), col("value")),
      "yr",
      StructType(Seq(
        StructField("event_id", LongType, nullable = false),
        StructField("yr", LongType, nullable = false),
        StructField("run_max", DoubleType, nullable = false)))) { () =>
      new KeyedPass {
        private var mx = Double.NegativeInfinity
        def reset(): Unit = mx = Double.NegativeInfinity
        def onRow(r: Row): Iterator[Row] = {
          val v = r.getDouble(3)
          if (java.lang.Double.compare(v, mx) > 0) mx = v
          Iterator.single(Row(r.getLong(2), r.getLong(0), mx))
        }
      }
    }.orderBy(col("event_id"))
  }

  /** Q2 via secondary sort (see [[runningMaxSecondarySort]] for the shape):
    * hash-partition by event_type, sort within partitions, one pass with a
    * per-key block accumulator in integer cents (HALF_UP per record — the
    * bit-exact mirror of the batch form's CAST(value AS DECIMAL(18,2)) sum).
    * Memory is O(1) per key regardless of group size — the scale-safe batch
    * execution of the reference's trigger-discard semantics. A block whose
    * 50 summed records are all non-finite (each CAST yields NULL) emits a
    * NULL average, exactly like the declarative twin. */
  def blockAvgSecondarySort(spark: SparkSession, sfDir: String,
                            emitCount: Int = 50): DataFrame =
    blockAvgSecondarySortOf(Tables.events(spark, sfDir), emitCount)

  def blockAvgSecondarySortOf(events: DataFrame, emitCount: Int = 50): DataFrame = {
    // a block is `emitCount` summed records + 1 trigger record (the
    // reference's 51-record trigger-discard cycle)
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    secondarySort(events,
      Seq(col("event_type"), col("ts_ns"), col("event_id"), col("value")),
      "event_type",
      StructType(Seq(
        StructField("event_type", StringType, nullable = false),
        StructField("block", LongType, nullable = false),
        StructField("avg_value", DoubleType, nullable = true)))) { () =>
      new KeyedPass {
        private var cnt = 0; private var cents = 0L
        private var nFinite = 0; private var block = 0L
        def reset(): Unit = { cnt = 0; cents = 0L; nFinite = 0; block = 0L }
        def onRow(r: Row): Iterator[Row] = {
          val v = r.getDouble(3)
          if (cnt < emitCount) {
            if (java.lang.Double.isFinite(v)) {
              cents += (BigDecimal(v)
                .setScale(2, scala.math.BigDecimal.RoundingMode.HALF_UP) * 100).toLongExact
              nFinite += 1
            }
            cnt += 1
            Iterator.empty
          } else { // the trigger record: emit and discard it
            val avg: java.lang.Double =
              if (nFinite == 0) null else Double.box((cents.toDouble / 100.0) / emitCount)
            val out = Row(r.getString(0), block, avg)
            block += 1L; cnt = 0; cents = 0L; nFinite = 0
            Iterator.single(out)
          }
        }
      }
    }.orderBy(col("event_type"), col("block"))
  }

  /** Q3 via secondary sort: partition by year, sort within partitions, one
    * pass holding the per-month running max as a small in-pass map (12
    * entries — the MapState shape) that resets at year boundaries. */
  def runningMaxMonthSecondarySort(spark: SparkSession, sfDir: String): DataFrame =
    runningMaxMonthSecondarySortOf(Tables.events(spark, sfDir))

  def runningMaxMonthSecondarySortOf(events: DataFrame): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    secondarySort(events,
      Seq(year(col("ts")).cast("long").as("yr"),
          month(col("ts")).cast("long").as("mon"),
          col("ts_ns"), col("event_id"), col("value")),
      "yr",
      StructType(Seq(
        StructField("event_id", LongType, nullable = false),
        StructField("yr", LongType, nullable = false),
        StructField("mon", LongType, nullable = false),
        StructField("run_max", DoubleType, nullable = false)))) { () =>
      new KeyedPass {
        private val monMax = scala.collection.mutable.LongMap.empty[Double]
        def reset(): Unit = monMax.clear()
        def onRow(r: Row): Iterator[Row] = {
          val mon = r.getLong(1)
          val v = r.getDouble(4)
          val mx = monMax.get(mon) match {
            // Double.compare: a NaN running max stays, as in SQL max()
            case Some(prev) if java.lang.Double.compare(prev, v) >= 0 => prev
            case _ => v
          }
          monMax.update(mon, mx)
          Iterator.single(Row(r.getLong(3), r.getLong(0), mon, mx))
        }
      }
    }.orderBy(col("event_id"))
  }

  /** Q4 via secondary sort: partition by event_type, sort within partitions,
    * one pass with a per-key sub-threshold counter (the ListState-size
    * semantics) that emits on breach and resets at key boundaries. */
  def thresholdGapsSecondarySort(spark: SparkSession, sfDir: String,
                                 threshold: Double = 100.0): DataFrame =
    thresholdGapsSecondarySortOf(Tables.events(spark, sfDir), threshold)

  def thresholdGapsSecondarySortOf(events: DataFrame,
                                   threshold: Double = 100.0): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    secondarySort(events,
      Seq(col("event_type"), col("ts_ns"), col("event_id"), col("value")),
      "event_type",
      StructType(Seq(
        StructField("event_id", LongType, nullable = false),
        StructField("event_type", StringType, nullable = false),
        StructField("gap", LongType, nullable = false)))) { () =>
      new KeyedPass {
        private var n = 0L
        def reset(): Unit = n = 0L
        def onRow(r: Row): Iterator[Row] = {
          val v = r.getDouble(3)
          // SQL semantics: NaN >= threshold is TRUE (NaN orders greatest)
          if (v >= threshold || java.lang.Double.isNaN(v)) {
            val out = Row(r.getLong(2), r.getString(0), n)
            n = 0L
            Iterator.single(out)
          } else {
            n += 1L
            Iterator.empty
          }
        }
      }
    }.orderBy(col("event_id"))
  }

  /** Q2 stateful form: 51-record block average per event_type. The block
    * index is part of the operator's keyed state (not recovered by ranking
    * emissions downstream), so it stays correct when blocks span
    * micro-batches. */
  def blockAvgStateful(spark: SparkSession, sfDir: String): DataFrame = {
    val kv = Tables.events(spark, sfDir)
      .select(col("event_type").as("key"), col("event_id").as("ord"), col("value"))
    StatefulOps.blockAverageOrdered(
        orderedByKey(kv).as[String, KV](Encoders.STRING, kvEnc)).toDF()
      .select(col("key").as("event_type"), col("block"), col("out").as("avg_value"))
      .orderBy(col("event_type"), col("block"))
  }

  /** Q3 stateful form: running max per (year, month) with the month held as
    * a REAL MapState-shaped subkey map inside the year's state. */
  def runningMaxMonthStateful(spark: SparkSession, sfDir: String): DataFrame = {
    val ksv = Tables.events(spark, sfDir)
      .select(year(col("ts")).cast("string").as("key"),
              month(col("ts")).cast("string").as("subkey"),
              col("event_id").as("ord"), col("value"))
    StatefulOps.runningMaxBySubkeyOrdered(
        orderedByKey(ksv).as[String, KSV](Encoders.STRING, ksvEnc)).toDF()
      .select(col("ord").as("event_id"), col("key").cast("long").as("yr"),
              col("subkey").cast("long").as("mon"), col("out").as("run_max"))
      .orderBy(col("event_id"))
  }

  /** Q4 stateful form: threshold-gap counts per event_type. */
  def thresholdGapsStateful(spark: SparkSession, sfDir: String): DataFrame = {
    val kv = Tables.events(spark, sfDir)
      .select(col("event_type").as("key"), col("event_id").as("ord"), col("value"))
    StatefulOps.thresholdGapsOrdered(
        orderedByKey(kv).as[String, KV](Encoders.STRING, kvEnc), 100.0).toDF()
      .select(col("ord").as("event_id"), col("key").as("event_type"), col("gap"))
      .orderBy(col("event_id"))
  }

  /** `events` as time-ordered parquet files carrying (user_id, event_id,
    * ts) — the replay shape for the stream-stream joins. Split at the
    * median event_id (the verified ts-monotone order), so each side's
    * second micro-batch holds rows strictly later than its first, plus a
    * trailing FAR-FUTURE sentinel row (user_id = -1, which no real row
    * joins: the id tie-break rules out its self-pair). The sentinel's only
    * job is to advance the final watermark past every real row's join
    * window, so the OUTER join's null-padded rows — emitted at state
    * EVICTION, not at end-of-input — all flush before the drain stops; the
    * inner join ignores it. One day past max ts dwarfs window + delay. */
  private def userEventsCopy(spark: SparkSession, sfDir: String): String =
    timeOrderedFilesCopy(spark, s"events-uid:$sfDir",
        Seq("ev0.parquet", "ev1.parquet")) {
      val ev = Tables.events(spark, sfDir)
        .select(col("user_id"), col("event_id"), col("ts"))
      val bounds = ev.agg(max(col("event_id")), max(unix_micros(col("ts")))).head()
      // empty corpus: flush-only replay — one sentinel file, off epoch 0
      // (a row AT the initial watermark would be dropped as late)
      val (maxId, maxUs) =
        if (bounds.isNullAt(0)) (0L, 0L)
        else (bounds.getLong(0), bounds.getLong(1))
      val sentinel = ev.sparkSession.range(1).select(
        lit(-1L).as("user_id"), lit(maxId + 1).as("event_id"),
        timestamp_micros(lit(maxUs + 86400L * 1000000L)).as("ts"))
      if (bounds.isNullAt(0)) Seq(sentinel)
      else {
        // TWO files, sentinel riding in the second: watermarks only
        // advance BETWEEN batches, so the sentinel needs no batch of its
        // own — after batch 2 the watermark jumps past every real row and
        // the trailing no-data batch does the eviction / outer-emission
        // flush. One fewer micro-batch per drain (each batch pays
        // 4 state-store commits x width on BOTH join sides), with the
        // cross-batch and eviction witnesses unchanged.
        val mid = maxId / 2
        Seq(ev.filter(col("event_id") <= mid),
            ev.filter(col("event_id") > mid).unionAll(sentinel))
      }
    }

  /** Q23 as a STREAM-STREAM interval join through the real micro-batch
    * engine, registered under q23's oracle — the symmetric-hash join with
    * watermark-bounded state that batch execution never exercises. Both
    * sides are independent watermarked file streams over the same
    * two-file, time-ordered replay ([[userEventsCopy]]), so pairs whose
    * `a` row arrived in micro-batch 1 and `b` row in micro-batch 2 can
    * only be produced from the join's a-side STATE — the cross-batch
    * witness `check` requires, along with watermark-driven state removal
    * (the events span ~30 days vs the 5-minute join window, so most
    * a-side rows are provably unmatchable and must be evicted).
    *
    * Condition parity with the oracle (`epoch_us(b.ts) - epoch_us(a.ts)
    * <= 300000000 AND b.event_id > a.event_id`): the streaming form adds
    * the lower bound `ts_b >= ts_a`, which the oracle's predicate implies
    * on this data because `event_id` is verified monotone in ts at every
    * SF (an inversion would make the oracle hash diverge and surface the
    * violation). The lower bound is what lets the engine derive a state
    * eviction watermark for BOTH sides instead of holding the b-side
    * forever — the unbounded-state hazard a naive one-sided interval
    * condition creates. Timestamps are µs on both sides, and `INTERVAL 5
    * MINUTES` is exactly 300000000 µs, so the window edge is bit-exact.
    *
    * At scale the plan is the one you want: one shuffle of each stream on
    * user_id into co-partitioned symmetric-hash state, per-row state
    * bounded by the 5-minute window + watermark slack, no whole-stream
    * buffering anywhere. The final per-user count runs as a BATCH
    * aggregate over the drained (tiny: pairs ≪ events) sink. */
  def intervalJoinStreaming(spark: SparkSession, sfDir: String,
                            gapMinutes: Int = 5): DataFrame =
    drainPairJoin(spark, sfDir, gapMinutes, "inner")
      .select(col("user_a").as("user_id"))
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_pairs"))
      .orderBy(col("user_id"))

  /** Q23's LEFT OUTER twin: per-user pair count INCLUDING the zero-pair
    * users, via the outer stream-stream join — the engine semantics the
    * inner form never exercises: an unmatched a-row is null-padded and
    * emitted at state EVICTION (when the watermark proves no future b can
    * match it), not at match time, and rows still in state when input ends
    * would be LOST without the far-future sentinel advancing the final
    * watermark past every real row's window ([[userEventsCopy]]). The
    * sentinel's own a-row is the one row the watermark never passes, so it
    * stays in state by construction and is filtered here by user_id. */
  def intervalJoinStreamingOuter(spark: SparkSession, sfDir: String,
                                 gapMinutes: Int = 5): DataFrame =
    drainPairJoin(spark, sfDir, gapMinutes, "left_outer")
      .select(col("user_a").as("user_id"), col("id_b"))
      .filter(col("user_id") >= 0)
      .groupBy(col("user_id"))
      .agg(count(col("id_b")).as("n_pairs"))
      .orderBy(col("user_id"))

  /** Q23's RIGHT OUTER twin — the FIFTH stream-stream join type through
    * [[drainPairJoin]]'s shared scaffold, completing the matrix
    * (inner / left outer / left semi / full outer / right outer). The
    * null-padding direction flips: a match-less B-ROW (a run HEAD — no
    * predecessor inside the window, the full-outer runs-identity's other
    * half) emits padded from the LEFT side's state at the watermark's
    * final eviction, so the finalize batch is load-bearing on the
    * opposite store from left_outer's. The rollup makes the direction
    * observable as data: per user, predecessor-pair count AND the padded
    * head count (a left-outer rollup could never produce n_heads). */
  def intervalJoinStreamingRightOuter(spark: SparkSession, sfDir: String,
                                      gapMinutes: Int = 5): DataFrame =
    drainPairJoin(spark, sfDir, gapMinutes, "right_outer")
      .select(col("user_b").as("user_id"), col("id_a"))
      .filter(col("user_id") >= 0)
      .groupBy(col("user_id"))
      .agg(count(col("id_a")).as("n_preds"),
           sum(when(col("id_a").isNull, 1L).otherwise(0L)).cast("long")
             .as("n_heads"))
      .orderBy(col("user_id"))

  /** WATERMARK-CLOSED DAILY ACTIVE USERS — the append-mode production
    * form of the DAU report ([[graft.operators.FreqSketch]]'s
    * hll_daily_users family): streaming (user, day) DEDUPLICATION
    * composed with a windowed count, both state-bounded by the
    * watermark. The dedup is `dropDuplicatesWithinWatermark` with a
    * 25-hour delay — every duplicate of a (user, day) key arrives
    * within 24 h of its first occurrence BY CONSTRUCTION (same calendar
    * day), so the 25 h retention can never re-admit a duplicate while
    * still evicting each key one day after its day ends; the daily
    * windows close off the sentinel-advanced watermark (the
    * ohlc_hourly_closed discipline) and the drain witnesses BOTH state
    * operators evicting. This is the engine-surface composition the
    * registry lacked: stateful dedup FEEDING a stateful windowed
    * aggregate in one append-mode plan. */
  def dauDailyClosedStreaming(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = timeOrderedFilesCopy(spark, s"dauclosed:$sfDir",
        Seq("d0.parquet", "d1.parquet", "d2.parquet")) {
      val ev = Tables.events(spark, sfDir)
        .filter(col("user_id").isNotNull)
        .select(col("event_id"), col("user_id"),
                timestamp_micros(expr("ts_ns div 1000")).as("ts"))
      def sentinel(maxUs: Long) = ev.sparkSession.range(1).select(
        lit(-1L).as("event_id"), lit(-1L).as("user_id"),
        timestamp_micros(lit(maxUs + 30L * 24 * 3600 * 1000000L)).as("ts"))
      medianSplitWithSentinel(ev, "event_id", "ts")(sentinel)
    }
    val agg = replayStream(spark, dir)
      .withWatermark("ts", "25 hours")
      .withColumn("day", expr("unix_micros(ts) div 86400000000"))
      .dropDuplicatesWithinWatermark("user_id", "day")
      .groupBy(window(col("ts"), "1 day"))
      .agg(count(lit(1)).as("n_users"))
    drainToMemory(spark, agg, stateWidth = Some(8)) { q =>
      // TWO state operators (dedup + window), so not requireStateBounded's
      // operator-0 read: removal and the final size sum over both
      val ps = q.recentProgress
      val progs = ps.filter(_.stateOperators.nonEmpty)
      require(progs.nonEmpty, "no state-operator progress recorded")
      val removed = progs.flatMap(_.stateOperators).map(_.numRowsRemoved).sum
      val left = progs.last.stateOperators.map(_.numRowsTotal).sum
      val totalRows = ps.map(_.numInputRows).sum
      // at most the sentinel's dedup key + its open window survive
      require((removed > 0 || totalRows <= 1) && left <= 2,
        s"dedup+window state not watermark-bounded: removed=$removed, left=$left")
    }
      .select(expr("unix_micros(window.start) div 86400000000").as("day"),
              col("n_users").cast("long").as("n_users"))
      .orderBy(col("day"))
  }

  /** Q6 as a STREAM-STATIC join with a COMPLETE-mode streaming aggregation,
    * registered under q6's oracle — the two engine surfaces the other
    * streaming queries never touch: a streaming fact joined to a STATIC
    * dimension side, and an unwatermarked global aggregation whose state
    * accumulates across batches and re-emits the full 25-row result each
    * trigger (complete output mode — the only mode a non-windowed streaming
    * agg admits).
    *
    * Dimension shape (r12): the static side is the orders⋈customer⋈nation
    * snapshot PRE-JOINED ONCE, persisted HASH-PARTITIONED ON THE STREAM
    * JOIN KEY (o_orderkey), and unpersisted after the drain. A stream-static
    * join re-plans the static side EVERY micro-batch — before this, each
    * batch re-read and re-joined all three dimension parquets; now each
    * batch reads cached blocks whose partitioning already satisfies the
    * join's distribution, so only the (small) per-batch fact slice
    * shuffles. That is also the 100 TB shape: a dimension snapshot keyed
    * and cached once, probed by every micro-batch.
    *
    * The revenue sums fold in exact DECIMAL inside the agg state, so
    * cross-batch accumulation order cannot perturb the oracle hash; the
    * lineitem stream replays as two time-ordered files, and the witness
    * requires the agg really spanned >= 2 data batches. The drained sink
    * is the aggregate itself — |nations| rows, never the fact stream. */
  def revenueJoinStreamStatic(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = timeOrderedFilesCopy(spark, s"lineitem-rev:$sfDir",
        Seq("li0.parquet", "li1.parquet")) {
      val li = Tables.lineitem(spark, sfDir)
        .select(col("l_orderkey"), col("l_extendedprice"), col("l_discount"))
      val mid = li.agg(max(col("l_orderkey"))).head().getLong(0) / 2
      Seq(li.filter(col("l_orderkey") <= mid), li.filter(col("l_orderkey") > mid))
    }
    val li = replayStream(spark, dir)
    val o = Tables.orders(spark, sfDir).select(col("o_orderkey"), col("o_custkey"))
    val c = Tables.customer(spark, sfDir).select(col("c_custkey"), col("c_nationkey"))
    val n = Tables.nation(spark, sfDir).select(col("n_nationkey"), col("n_name"))
    val dims = o.join(c, col("o_custkey") === col("c_custkey"))
      .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
      .select(col("o_orderkey"), col("n_name"))
      .persist()
    dims.count() // materialize BEFORE the drain; batches hit cached blocks
    try {
      val agg = li.join(broadcast(dims), col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("n_name"))
        .agg(Relational.discRevenueSum.cast("double").as("revenue"),
             count(lit(1)).as("n_lineitems"))
      drainToMemory(spark, agg, stateWidth = Some(8), outputMode = "complete") {
        requireDataBatches(_, 2, "the complete-mode aggregation", vacuousAtRows = 0)
      }.orderBy(col("n_name"))
    } finally dims.unpersist()
  }

  /** FLINK BROADCAST-STATE PATTERN — DYNAMIC RECONFIGURATION WITHOUT
    * RESTART: a control-plane rules table (per-type flag thresholds,
    * integer cents) UPDATES MID-STREAM and each micro-batch applies the
    * version in force when it runs. Spark's dual of Flink broadcasting a
    * control stream into operator state is the `foreachBatch` config
    * poll: the rules live in a versioned store written before the drain
    * (the external config service), each batch re-reads its version AT
    * BATCH START and broadcast-joins it against the batch slice — the
    * rules never touch keyed state, exactly like Flink's broadcast state
    * never keys. Per-batch flag aggregates land in an idempotent
    * `b=<batchId>` overwrite journal (the q12fb replay contract: a
    * retried batch rewrites, never double-counts) and the final read
    * re-aggregates journal rows only — sink-sized, never the tape.
    * Version rule mirrored by the oracle: batch 0 (ids ≤ median) flags
    * under v0's uniform 50.00 threshold, batch 1 under v1's per-type
    * split (30.00 view/purchase, 60.00 elsewhere) — probed
    * discriminating at all three SFs (v0≠v1 flag rates everywhere). */
  def dynamicRulesStreaming(spark: SparkSession, sfDir: String): DataFrame = {
    val rulesDir =
      java.nio.file.Files.createTempDirectory("graft-rules-").toString
    val outDir =
      java.nio.file.Files.createTempDirectory("graft-rules-journal-").toString
    try {
      val types = Seq("view", "click", "purchase", "signup", "error")
      import spark.implicits._
      types.map(t => (t, 5000L)).toDF("event_type", "thr_cents")
        .write.parquet(s"$rulesDir/v=0")
      types.map(t =>
          (t, if (t == "view" || t == "purchase") 3000L else 6000L))
        .toDF("event_type", "thr_cents")
        .write.parquet(s"$rulesDir/v=1")
      val copyDir = timeOrderedFilesCopy(spark, s"rules:$sfDir",
          Seq("r0.parquet", "r1.parquet")) {
        medianIdSplit(Tables.events(spark, sfDir)
          .select(col("event_type"), col("event_id"),
                  expr("cast(round(value * 100) as bigint)").as("c")))
      }
      val nFiles = replayFileCount(copyDir)
      // the reload boundary (batch index → rule version) is stated in the
      // oracle as the max(event_id)/2 split — a degenerate one-file replay
      // would apply v0 to rows the oracle scores under v1; fail loudly
      // (impossible on the driver fixtures, whose ids are dense from 0)
      require(nFiles == 2,
        s"dynamic-rules replay needs rows on both sides of max(event_id)/2 " +
        s"(got $nFiles file(s)) — the reload boundary and its oracle are defined by that split")
      replayForeachBatch(spark, copyDir, nFiles) { (b, id) =>
        val v = math.min(id, 1L) // the version in force for this batch
        // poll the config store AT BATCH START — the reload point
        val rules = spark.read.parquet(s"$rulesDir/v=$v")
        b.join(broadcast(rules), Seq("event_type"))
          .groupBy(col("event_type"))
          .agg(count(when(col("c") >= col("thr_cents"), 1))
                 .as("n_flagged"),
               count(lit(1)).as("n_events"))
          .withColumn("rule_version", lit(v))
          .write.mode("overwrite").parquet(s"$outDir/b=$id")
      }
      spark.read.parquet(outDir)
        .groupBy(col("rule_version"), col("event_type"))
        .agg(sum(col("n_flagged")).as("n_flagged"),
             sum(col("n_events")).as("n_events"))
        .localCheckpoint() // materialize before the journal dirs vanish
        .orderBy(col("rule_version"), col("event_type"))
    } finally {
      deleteRecursively(java.nio.file.Paths.get(rulesDir))
      deleteRecursively(java.nio.file.Paths.get(outDir))
    }
  }

  /** FLINK-SQL TEMPORAL TABLE JOIN (`FOR SYSTEM_TIME AS OF a.ts`) in
    * Spark form: each streaming probe row joins the VERSION of a
    * dimension that was valid AT ITS OWN EVENT TIME — here purchases
    * against the [[graft.operators.Relational.scd2UserValues]] interval
    * history, picking the user's latest value STRICTLY BEFORE the
    * purchase (`valid_from < us ≤ valid_to`, boundary closed on the
    * right so a same-instant change does not see itself; per-user
    * intervals partition time, so the match is unique — zero-width
    * same-µs intervals can never satisfy both bounds). The stream-static
    * interval join is STATELESS per micro-batch: the versioned dimension
    * is computed once, persisted, and re-probed by every batch — Spark's
    * dual of Flink keeping the temporal table in keyed state. At
    * warehouse scale the dimension pre-buckets by user_id so each
    * batch's join co-locates without a per-batch dim shuffle (the q6ss
    * playbook), and the interval predicate prunes a valid_from-
    * partitioned layout. Registered under its own as-of oracle; probed
    * unique at all three SFs (200/1952/19790 matches, purchases without
    * a prior version drop out of the inner join). */
  def temporalJoinStreaming(spark: SparkSession, sfDir: String): DataFrame = {
    val dim = Relational.scd2UserValues(spark, sfDir)
      .select(col("user_id").as("d_user"), col("value").as("as_of_value"),
              col("valid_from_us"), col("valid_to_us"))
      .persist()
    dim.count() // materialize BEFORE the drain; batches hit cached blocks
    try {
      val copyDir = timeOrderedFilesCopy(spark, s"tempjoin:$sfDir",
          Seq("p0.parquet", "p1.parquet")) {
        medianIdSplit(Tables.events(spark, sfDir)
          .filter(col("event_type") === "purchase")
          .select(col("user_id"), col("event_id"),
                  expr("ts_ns div 1000").as("us")))
      }
      drainOrderedFiles(spark, copyDir,
          minBatches = replayFileCount(copyDir)) { stream =>
        stream.join(dim,
          col("user_id") === col("d_user") &&
            col("valid_from_us") < col("us") &&
            (col("valid_to_us").isNull || col("valid_to_us") >= col("us")))
          .select(col("user_id"), col("event_id"), col("us"),
                  col("as_of_value"))
      }.orderBy(col("event_id"))
    } finally dim.unpersist()
  }

  /** The shared stream-stream join drain behind q23ss/q23lo: two
    * independent watermarked file streams over [[userEventsCopy]]'s
    * replay, symmetric-hash-joined under the key + two-sided time
    * condition, drained with the cross-batch and state-eviction
    * witnesses. Returns the un-aggregated joined rows. */
  private def drainPairJoin(spark: SparkSession, sfDir: String,
                            gapMinutes: Int, joinType: String): DataFrame = {
    val dir = userEventsCopy(spark, sfDir)
    def side(tag: String): DataFrame =
      replayStream(spark, dir)
        .select(col("user_id").as(s"user_$tag"), col("event_id").as(s"id_$tag"),
                col("ts").as(s"ts_$tag"))
        // 1s delay (not 0): the file split is on event_id, so a ts TIE can
        // straddle the file boundary — an exact-tie row in file 2 would
        // sit on the late-data boundary under a 0s watermark
        .withWatermark(s"ts_$tag", "1 second")
    // StreamingJoinHelper probes EVERY inequality conjunct as a candidate
    // time constraint and logs a caught internal error on the non-time
    // `id_b > id_a` (it cannot be hoisted out: PushPredicateThroughJoin
    // folds a post-join filter right back into the condition). The WARN is
    // benign — the two ts conjuncts still yield both sides' state-eviction
    // watermarks, which the removal witness below proves per run.
    val pairs = side("a").join(side("b"),
        expr(s"""user_a = user_b AND id_b > id_a AND
                 ts_b >= ts_a AND ts_b <= ts_a + INTERVAL $gapMinutes MINUTES"""),
        joinType)
    // width 4, not 8: a stream-stream join keeps FOUR state stores per
    // partition per side (keyToNumValues + keyWithIndexToValue x 2), each
    // paying snapshot+commit I/O every micro-batch — at gate scale the
    // commit fixed cost dominates the per-partition row volume. The r13
    // width sweep (2/3/4/8/16/32 at sf0.1) pinned 4 as the optimum:
    // wider explodes fixed store cost (32 → ~13 s), narrower loses the
    // probe/put parallelism (SCALING.md).
    def drain(): DataFrame =
      drainToMemory(spark, pairs, stateWidth = Some(4)) { q =>
        // an empty corpus replays ONLY the sentinel row (once per side —
        // totalRows <= 2): a flush-only run with no cross-batch state or
        // eviction to witness, so the requires apply to real data only
        requireDataBatches(q, 2, "the stream-stream join", vacuousAtRows = 2)
        // four state stores per side, and full outer's eviction needs its
        // own shrink read: not requireStateBounded's operator-0 form
        val ps = q.recentProgress
        val totalRows = ps.map(_.numInputRows).sum
        val removed = ps.flatMap(_.stateOperators).map(_.numRowsRemoved).sum
        // FULL OUTER evicts through the padding-emission path without
        // ticking numRowsRemoved (probed: state total 1003 → 2 across the
        // finalize batch with removed=0, where left_outer ticks 499+500 on
        // the identical replay) — witness ITS eviction as observed state
        // shrink, peak row count strictly above the final batch's; every
        // other join type keeps the strong removal-metric witness.
        val totals = ps.flatMap(_.stateOperators.headOption).map(_.numRowsTotal)
        val shrank = totals.nonEmpty && totals.last < totals.max
        require(totalRows <= 2 || removed > 0 ||
            (joinType == "full_outer" && shrank),
          "watermark never evicted join state — the interval condition " +
            "failed to bound join state lifetime")
      }
    // INNER/SEMI joins emit only on data batches, so the trailing no-data
    // finalize batch buys nothing but its ~0.6 s fixed cost: batch 1's
    // watermark (from batch 0) already evicts file-0 state, keeping the
    // eviction witness above non-vacuous. OUTER joins must keep it — the
    // sentinel-advanced watermark's final eviction is what emits the
    // null-padded rows for match-less users in the last file — so the gate
    // is on the JOIN CLASS (any `*outer` variant keeps the finalize batch
    // by construction), not on one literal type name.
    if (joinType.endsWith("outer")) drain()
    else withNoDataBatchesDisabled(spark)(drain())
  }

  /** Q23's LEFT SEMI twin — the third stream-stream join type the engine
    * supports and the one an EXISTENCE query wants: each a-row is emitted
    * AT MOST ONCE, as soon as any in-window b arrives (then dropped from
    * state — semi state is strictly smaller than inner's), so the per-user
    * result counts rows WITH a successor inside 5 minutes rather than
    * pairs. (Storage detail, pinned in StreamJoinSpec: an a-row whose
    * match is ALREADY in b-side state emits without ever entering the
    * store; one stored before its match arrives is flagged matched —
    * never re-emitted — and leaves at watermark eviction. Either way
    * semi state never exceeds inner's.) Cross-batch witness: an a-row
    * from micro-batch 1 whose only
    * match arrives in batch 2 can emit only from a-side state. Same
    * replay, eviction witness, and width as the inner form; the sentinel
    * (user −1, matchless by the id tie-break) is dropped by the semi
    * semantics itself. The oracle is the textbook decorrelated DISTINCT
    * over the pair join. */
  def intervalJoinStreamingSemi(spark: SparkSession, sfDir: String,
                                gapMinutes: Int = 5): DataFrame =
    drainPairJoin(spark, sfDir, gapMinutes, "left_semi")
      .select(col("user_a").as("user_id"))
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_matched"))
      .orderBy(col("user_id"))

  /** Q23's FULL OUTER twin — the FOURTH stream-stream join type through
    * [[drainPairJoin]]'s shared scaffold, and the variant the outer-class
    * finalize gating exists for: the watermark's final eviction must emit
    * null-padding from BOTH state stores (match-less a-rows AND b-rows),
    * so the no-data finalize batch is load-bearing on each side. The
    * per-user rollup counts pairs plus both padding directions; on this
    * symmetric self-replay the two padding counts are provably EQUAL —
    * gaps wider than the interval partition each user's tape into runs,
    * an unmatched a-row is precisely a run TAIL (no successor inside the
    * window) and an unmatched b-row a run HEAD (no predecessor) — which
    * StreamJoinSpec pins as the runs identity rather than leaving as
    * coincidence. */
  def intervalJoinStreamingFullOuter(spark: SparkSession, sfDir: String,
                                     gapMinutes: Int = 5): DataFrame =
    drainPairJoin(spark, sfDir, gapMinutes, "full_outer")
      .select(coalesce(col("user_a"), col("user_b")).as("user_id"),
              col("id_a"), col("id_b"))
      .filter(col("user_id") >= 0)
      .groupBy(col("user_id"))
      .agg(
        count(when(col("id_a").isNotNull && col("id_b").isNotNull, 1))
          .as("n_pairs"),
        count(when(col("id_b").isNull, 1)).as("n_run_tails"),
        count(when(col("id_a").isNull, 1)).as("n_run_heads"))
      .orderBy(col("user_id"))

  /** Read the newest SCD2 table version STRICTLY BELOW `version` from the
    * `v=<batchId>` journal — the read side of [[applyScd2Batch]]'s
    * idempotence contract: batch b always merges against the state AS OF
    * batch b−1, so replaying b (failure + retry) recomputes byte-identical
    * content into its own overwritten directory instead of compounding. */
  private[graft] def scd2VersionBefore(spark: SparkSession, outDir: String,
                                       version: Long): Option[DataFrame] = {
    import scala.jdk.CollectionConverters._
    val l = java.nio.file.Files.list(java.nio.file.Paths.get(outDir))
    val vs = try l.iterator().asScala.map(_.getFileName.toString)
        .filter(_.startsWith("v=")).map(_.stripPrefix("v=").toLong)
        .filter(_ < version).toSeq
      finally l.close()
    if (vs.isEmpty) None
    else Some(spark.read.parquet(s"$outDir/v=${vs.max}"))
  }

  /** TEMPORAL TABLE JOIN against a LIVE dimension — the missing half of
    * [[temporalJoinStreaming]], which freezes the SCD2 dimension before
    * the drain: Flink's temporal join tracks a dimension MAINTAINED
    * CONCURRENTLY with the probe stream, so a mid-stream upsert changes
    * later probes' matches. Composition (the r15 ask): the probe stream
    * (purchases, two time-ordered micro-batches) re-reads the SCD2 MERGE
    * journal ([[scd2Journal]] — the write-side maintenance) AT EACH BATCH
    * START, the dynamic-rules reload pattern: batch b probes journal
    * version b — the version set as of its own processing point. A
    * batch-0 probe therefore matches the OPEN interval of the v0 table
    * even when the full history would have closed it (that closing
    * version had not been upserted yet), and a batch-1 probe sees every
    * mid-stream upsert — the flip Scd2UpsertSpec witnesses. The oracle
    * states both versions from the same median-id split the journal is
    * built on. Per batch the join is the same pruned interval equi-join
    * as the frozen form; the journal re-read is the config-poll cost,
    * amortized per micro-batch, never per row. */
  def temporalJoinUpdatingDim(spark: SparkSession, sfDir: String): DataFrame = {
    val (journalDir, nVersions) = scd2Journal(spark, sfDir)
    require(nVersions == 2,
      s"the updating-dim probe needs two journal versions (got $nVersions)")
    val copyDir = timeOrderedFilesCopy(spark, s"tempjoinup:$sfDir",
        Seq("p0.parquet", "p1.parquet")) {
      medianIdSplit(Tables.events(spark, sfDir)
        .filter(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id"),
                expr("ts_ns div 1000").as("us")))
    }
    val nFiles = replayFileCount(copyDir)
    // the batch→version map below is stated in the oracle as the
    // purchases' own median-id split; a one-file replay would probe v0
    // with rows the oracle scores under v1 — fail loudly (impossible on
    // the driver fixtures, whose purchase ids straddle their median)
    require(nFiles == 2,
      s"updating-dim replay needs purchases on both sides of their median id " +
      s"(got $nFiles file(s)) — the batch→version rule is defined by that split")
    val outDir =
      java.nio.file.Files.createTempDirectory("graft-tempjoin-journal-").toString
    try {
      replayForeachBatch(spark, copyDir, nFiles) { (b, id) =>
        val v = math.min(id, 1L)
        // poll the dimension journal AT BATCH START — the version in
        // force at this batch's processing point
        val dim = scd2VersionBefore(spark, journalDir, v + 1)
          .getOrElse(sys.error(s"no SCD2 journal version below ${v + 1}"))
          .select(col("user_id").as("d_user"),
                  col("value").as("as_of_value"),
                  col("valid_from_us"), col("valid_to_us"))
        b.join(dim,
            col("user_id") === col("d_user") &&
              col("valid_from_us") < col("us") &&
              (col("valid_to_us").isNull || col("valid_to_us") >= col("us")))
          .select(col("user_id"), col("event_id"), col("us"),
                  lit(v).as("dim_version"), col("as_of_value"))
          .write.mode("overwrite").parquet(s"$outDir/b=$id")
      }
      spark.read.parquet(outDir)
        .select(col("user_id"), col("event_id"), col("us"),
                col("dim_version"), col("as_of_value"))
        .localCheckpoint() // materialize before the journal dir vanishes
        .orderBy(col("event_id"))
    } finally deleteRecursively(java.nio.file.Paths.get(outDir))
  }

  /** Apply ONE micro-batch of CDC changes to the SCD2 interval table —
    * the warehouse MERGE/upsert shape without a transactional table
    * format: (1) the batch's own rows become new intervals (per-user
    * lead(), exactly [[Relational.scd2UserValues]]'s construction scoped
    * to the batch); (2) the previous version's OPEN interval for each
    * touched user closes at that user's first change time in the batch
    * (a users-in-batch-sized aggregate, BROADCAST against the table —
    * the MERGE's join side); (3) untouched rows carry over. The result
    * writes to `v=<batchId>` (mode=overwrite) and merges against the
    * version BELOW the batch id, so a replayed batch converges to the
    * same journal — the q12fb idempotent-foreachBatch recipe applied to
    * a keyed table. At warehouse scale the rewrite is what MERGE does to
    * copy-on-write storage: the broadcast user-set join prunes to
    * touched files/partitions on a user-clustered layout; the full-table
    * union here is the gate-scale stand-in for that partition-scoped
    * rewrite. */
  private[graft] def applyScd2Batch(spark: SparkSession, outDir: String,
                                    batch: DataFrame, id: Long): Unit = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id")).orderBy(col("us"), col("event_id"))
    val newIv = batch
      .withColumn("valid_to_us", lead(col("us"), 1).over(w))
      .select(col("user_id"), col("event_id"), col("value"),
              col("us").as("valid_from_us"), col("valid_to_us"))
    val merged = scd2VersionBefore(spark, outDir, id) match {
      case None => newIv
      case Some(t) =>
        val firstUs = batch.groupBy(col("user_id"))
          .agg(min(col("us")).as("b_first_us"))
        t.join(broadcast(firstUs), Seq("user_id"), "left_outer")
          .withColumn("valid_to_us",
            when(col("valid_to_us").isNull && col("b_first_us").isNotNull,
                 col("b_first_us"))
              .otherwise(col("valid_to_us")))
          .drop("b_first_us")
          .unionByName(newIv)
    }
    merged.write.mode("overwrite").parquet(s"$outDir/v=$id")
  }

  /** SCD2 MERGE MAINTENANCE — the WRITE-side half of the SCD2 pair (the
    * engine reads SCD2 in [[Relational.scd2UserValues]] /
    * [[Relational.scd2AsofSnapshot]]; this one BUILDS the interval table
    * incrementally): the events CDC stream replays as two time-ordered
    * micro-batches through foreachBatch, each applying the MERGE of
    * [[applyScd2Batch]] to a versioned parquet journal; the registered
    * result is the as-of snapshot of the MAINTAINED table at the same
    * data-derived cut as the read-side form, hash-gated under the
    * IDENTICAL oracle — incremental upsert ≡ global lead(), proven by
    * the gate itself. Cross-batch witness: ≥ 1 interval written OPEN by
    * batch 0 must be CLOSED in the final table (the maintenance
    * genuinely spanned batches, not one batch doing all the work). */
  /** Build the SCD2 versioned journal by replaying the events CDC stream
    * through [[applyScd2Batch]] — shared by [[scd2UpsertSnapshot]] and
    * [[scd2CdcFeed]]. medianIdSplit's contract: it may produce FEWER
    * files than names (degenerate id spaces collapse to one), so the
    * returned replay file count sizes the callers' witnesses — never
    * assume two. The CALLER owns `outDir` and must delete it. */
  private def buildScd2Journal(spark: SparkSession, sfDir: String,
                               outDir: String): Int = {
    val dir = timeOrderedFilesCopy(spark, s"scd2up:$sfDir", Seq("u0.parquet", "u1.parquet")) {
      medianIdSplit(Tables.events(spark, sfDir)
        .select(col("user_id"), col("event_id"), col("value"),
                expr("ts_ns div 1000").as("us")))
    }
    val nFiles = replayFileCount(dir)
    // the journal's batch structure is LOAD-BEARING for the bitemporal
    // reader (transaction-time v0 = batch 0 = ids ≤ max/2, the rule its
    // oracle hardcodes): an id space whose lower half is empty would make
    // batch 0 the WHOLE corpus and silently desynchronize engine from
    // oracle — fail loudly instead (cannot occur on the driver fixtures,
    // whose ids are dense from 0)
    require(nFiles == 2,
      s"SCD2 MERGE journal needs rows on both sides of max(event_id)/2 " +
      s"(got $nFiles replay file(s)) — the bitemporal oracle is stated on that split")
    replayForeachBatch(spark, dir, nFiles)(applyScd2Batch(spark, outDir, _, _))
    nFiles
  }

  private val scd2JournalCache =
    new java.util.concurrent.ConcurrentHashMap[String, (String, Int)]()

  /** The MERGE journal built ONCE per (JVM, sfDir) and shared by its four
    * consumers (upsert snapshot, CDC feed, bitemporal snapshot, and the
    * updating-dim temporal join) — the
    * [[timeOrderedFilesCopy]] lifecycle: each bench/verify repetition
    * replays the maintenance a single time instead of once per reader,
    * and the journal persists for the JVM's life so every reader's plan
    * can stay lazy. The per-build witnesses (one data micro-batch per
    * replay file) run at build time, inside [[buildScd2Journal]]. */
  private def scd2Journal(spark: SparkSession, sfDir: String): (String, Int) =
    scd2JournalCache.computeIfAbsent(sfDir, { _ =>
      val outDir =
        java.nio.file.Files.createTempDirectory("graft-scd2-journal-").toString
      (outDir, buildScd2Journal(spark, sfDir, outDir))
    })

  def scd2UpsertSnapshot(spark: SparkSession, sfDir: String): DataFrame = {
    val (outDir, nFiles) = scd2Journal(spark, sfDir)
    locally {
      val finalT = scd2VersionBefore(spark, outDir, Long.MaxValue)
        .getOrElse(sys.error("no SCD2 version written"))
      // cross-batch witness (only meaningful when the replay really split):
      // some batch-0 OPEN interval is closed now
      if (nFiles >= 2) {
        val v0open = spark.read.parquet(s"$outDir/v=0")
          .filter(col("valid_to_us").isNull)
          .select(col("user_id"), col("event_id"))
        val crossClosed = finalT.filter(col("valid_to_us").isNotNull)
          .join(v0open, Seq("user_id", "event_id"), "left_semi").limit(1).count()
        require(crossClosed == 1,
          "no batch-0 open interval was closed by a later batch — the " +
            "incremental maintenance is vacuous on this replay")
      }
      val cut = Tables.events(spark, sfDir)
        .agg(expr("(min(ts_ns div 1000) + max(ts_ns div 1000)) div 2").as("cut_us"))
      // lazy is safe: the shared journal lives for the JVM (scd2Journal)
      finalT.crossJoin(broadcast(cut))
        .filter(Relational.scd2LiveAt(col("cut_us")))
        .select(col("user_id"), col("event_id"), col("value"),
                col("valid_from_us"), col("cut_us"))
        .orderBy(col("user_id"))
    }
  }

  /** CHANGE DATA FEED over [[applyScd2Batch]]'s versioned journal — the
    * third leg of the SCD2 warehouse story (read: as-of snapshot; write:
    * MERGE upsert; here: WHAT A DOWNSTREAM CONSUMER TAILS): version 0's
    * feed is its intervals as 'insert' rows, and each later version's
    * feed is the MERGE's delta against its predecessor — 'insert' for
    * the intervals the batch opened, 'close' for the rows whose open
    * interval it terminated. Computed as an honest VERSION DIFF (outer
    * key join of v_b against v_{b−1}, null-safe change test on valid_to
    * — the co-partitioned snapshot diff a CDF reader runs when storage
    * keeps no row tracking), never a re-derivation from the raw events;
    * the oracle re-derives the same delta from the events under the
    * median-split batch rule, so the hash gate proves diff ≡ derivation,
    * and replaying the feed reconstructs the maintained table (pinned in
    * Scd2UpsertSpec). Unchanged carried-over rows never leave the diff
    * join — the feed is delta-sized (touched users), not table-sized. */
  def scd2CdcFeed(spark: SparkSession, sfDir: String): DataFrame = {
    import scala.jdk.CollectionConverters._
    val (outDir, nFiles) = scd2Journal(spark, sfDir)
    locally {
      val l = java.nio.file.Files.list(java.nio.file.Paths.get(outDir))
      val versions = try l.iterator().asScala.map(_.getFileName.toString)
          .filter(_.startsWith("v=")).map(_.stripPrefix("v=").toLong)
          .toSeq.sorted
        finally l.close()
      val feeds = versions.zipWithIndex.map { case (v, i) =>
        val cur = spark.read.parquet(s"$outDir/v=$v")
        if (i == 0)
          cur.withColumn("op", lit("insert"))
        else {
          val prev = spark.read.parquet(s"$outDir/v=${versions(i - 1)}")
            .select(col("user_id"), col("event_id"),
                    col("valid_to_us").as("prev_to_us"), lit(1).as("in_prev"))
          cur.join(prev, Seq("user_id", "event_id"), "left_outer")
            .withColumn("op",
              when(col("in_prev").isNull, "insert")
                .when(!(col("valid_to_us") <=> col("prev_to_us")), "close"))
            .filter(col("op").isNotNull)
            .drop("prev_to_us", "in_prev")
        }
      }
      // lazy is safe: the shared journal lives for the JVM (scd2Journal)
      val feed = feeds.reduce(_ unionByName _)
        .select(col("op"), col("user_id"), col("event_id"), col("value"),
                col("valid_from_us"), col("valid_to_us"))
      // the delta really crossed versions: some later batch closed an
      // earlier version's open interval
      if (nFiles >= 2)
        require(feed.filter(col("op") === "close").limit(1).count() == 1,
          "no close row in the change feed — the version diff is vacuous " +
            "on this replay")
      feed.orderBy(col("event_id"), col("op"))
    }
  }

  /** BITEMPORAL snapshot — both time axes at once, the reproducibility
    * query a feature store owes a training run: "the values we BELIEVED
    * (transaction time: journal version 0, the table as first written)
    * to be valid AT the cut (valid time: the same data-derived midpoint
    * as scd2_asof_snapshot)". Differs from the plain as-of exactly on
    * BELIEF REVISIONS — users whose later batches back-filled a change
    * at-or-before the cut that version 0 had not yet seen (probed: 10 of
    * 15 users revised at sf0.001, 130 at sf0.1) — which is the entire
    * point: training-time reproducibility must return what was known
    * then, not what is known now. Same plan shape as the as-of: the
    * snapshot is a FILTER over one journal version plus a 1-row
    * broadcast cut, no join; the Scd2UpsertSpec pins the revision set
    * against the final-table snapshot. */
  def scd2BitemporalSnapshot(spark: SparkSession, sfDir: String): DataFrame = {
    val (outDir, _) = scd2Journal(spark, sfDir)
    val v0 = scd2VersionBefore(spark, outDir, 1L)
      .getOrElse(sys.error("no SCD2 version 0 written"))
    val cut = Tables.events(spark, sfDir)
      .agg(expr("(min(ts_ns div 1000) + max(ts_ns div 1000)) div 2")
        .as("cut_us"))
    // lazy is safe: the shared journal lives for the JVM (scd2Journal)
    v0.crossJoin(broadcast(cut))
      .filter(Relational.scd2LiveAt(col("cut_us")))
      .select(col("user_id"), col("event_id"), col("value"),
              col("valid_from_us"), col("cut_us"))
      .orderBy(col("user_id"))
  }
}
